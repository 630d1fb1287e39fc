#!/usr/bin/env python3
"""Interleaved A/B runs of the repository benchmark on two versions of the code.

Usage (from the repository root):
    python3 tools/ab_bench.py --workload ingest [--parent REV] [--change REV]
        [--pairs 10] [--seed0 7001] [--seconds 7] [--trace 0|1] [--workdir DIR]

Each side is a fresh copy of the tree (`git archive REV`; `--change WORKTREE`,
the default, copies the working tree's tracked and untracked, not ignored,
files), so each builds and runs from its own checkout, as a clean one would.
Both sides first run one untimed warm-up (it also builds), then, for pair i,
run `python3 xmlbench/run.py --workload W --seed seed0+i --seconds S --trace T`
on both sides with the same seed, the parent first on even pairs and the
change first on odd ones. Prints, for every metric of the run's metric set in
BENCHMARK.json, each side's median and quartiles, the pairs the change won
(ties count for neither) and a verdict:
    gain       the change won at least nine tenths of the pairs and the medians
               differ by more than the parent's interquartile range;
    WORSE      the change's median is worse than the parent's by more than the
               metric's bound (end-to-end metrics only);
    unresolved either side's interquartile range is wider than the bound;
    -          none of these.
Only xmlbench/ and BENCHMARK.json of each checkout are used; the repository
itself is only read. The checkouts are removed at the end; the log of every
run (its stderr) stays in the work directory.
"""
import argparse
import json
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def git(*args, **kw):
    return subprocess.run(["git", "-C", str(ROOT), *args], check=True, capture_output=True, **kw).stdout


def checkout(rev, dest):
    """Writes the files of `rev` (or of the working tree, for WORKTREE) to `dest`."""
    dest.mkdir(parents=True)
    if rev == "WORKTREE":
        for name in git("ls-files", "-z", "--cached", "--others", "--exclude-standard").split(b"\0"):
            src = ROOT / name.decode()
            if name and src.is_file():  # a tracked file deleted in the tree is skipped
                (dest / name.decode()).parent.mkdir(parents=True, exist_ok=True)
                shutil.copy2(src, dest / name.decode())
    else:
        archive = git("archive", "--format=tar", rev)
        subprocess.run(["tar", "-x", "-C", str(dest)], input=archive, check=True)


def run(side_dir, workload, seed, seconds, trace, log):
    """One benchmark run; returns its result line as a dict, or None if it failed."""
    cmd = [sys.executable, "xmlbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=side_dir, capture_output=True, text=True)
    log.write(f"$ (cd {side_dir} && {' '.join(cmd)})  exit {p.returncode}\n{p.stderr[-4000:]}\n")
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None
    try:
        return json.loads(lines[-1])
    except json.JSONDecodeError:
        return None


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--parent", default="HEAD", help="git revision (default HEAD)")
    ap.add_argument("--change", default="WORKTREE", help="git revision, or WORKTREE (default)")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=7001, help="pair i runs seed seed0+i")
    ap.add_argument("--seconds", type=float, default=7)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", help="where the two checkouts go (default: the system temp dir);"
                    " keep it short: sbt's boot socket path under it must fit in 108 bytes")
    ap.add_argument("--json", help="also write every run's metrics to this file")
    a = ap.parse_args()

    work = Path(tempfile.mkdtemp(prefix="ab-", dir=a.workdir))
    sides = {"parent": work / "parent", "change": work / "change"}
    checkout(a.parent, sides["parent"])
    checkout(a.change, sides["change"])
    spec = json.loads((sides["change"] / "BENCHMARK.json").read_text())
    metrics = spec["per_layer" if a.trace else "end_to_end"]
    values = {s: {m["name"]: [] for m in metrics} for s in sides}
    failed = {s: 0 for s in sides}
    runs = []
    try:
        with open(work / "runs.log", "w") as log:
            for s in sides:  # builds, and warms the page cache for the jar
                print(f"[ab] warm-up {s}", file=sys.stderr, flush=True)
                if run(sides[s], a.workload, a.seed0 - 1, a.seconds, a.trace, log) is None:
                    sys.exit(f"warm-up of {s} failed")
            for i in range(a.pairs):
                seed = a.seed0 + i
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                for s in order:
                    r = run(sides[s], a.workload, seed, a.seconds, a.trace, log)
                    ok = r is not None and r["correct"]
                    runs.append({"pair": i, "seed": seed, "side": s, "result": r})
                    if not ok:
                        failed[s] += 1
                    for m in metrics:
                        if r is not None and m["name"] in r["metrics"]:
                            values[s][m["name"]].append(r["metrics"][m["name"]]["value"])
                        else:
                            values[s][m["name"]].append(None)
                    main_metric = r["metrics"][metrics[0]["name"]]["value"] if r else None
                    print(f"[ab] pair {i} seed {seed} {s}: correct={ok} "
                          f"{metrics[0]['name']}={main_metric}", file=sys.stderr, flush=True)
        if a.json:
            Path(a.json).write_text(json.dumps({"args": vars(a), "runs": runs}, indent=1))
        report(a, metrics, values, failed)
    finally:  # the run log stays, for failed runs
        for d in sides.values():
            shutil.rmtree(d, ignore_errors=True)
        print(f"[ab] run log: {work / 'runs.log'}", file=sys.stderr)


def report(a, metrics, values, failed):
    print(f"workload {a.workload}: {a.pairs} pairs, seeds {a.seed0}-{a.seed0 + a.pairs - 1}, "
          f"--seconds {a.seconds} --trace {a.trace}; parent {a.parent}, change {a.change}; "
          f"failed runs: parent {failed['parent']}, change {failed['change']}")
    print(f"{'metric':34} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30} "
          f"{'delta':>8} {'wins':>6}  verdict")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [(p, c) for p, c in zip(values["parent"][name], values["change"][name])
                 if p is not None and c is not None]
        if not pairs:
            continue
        ps, cs = [p for p, _ in pairs], [c for _, c in pairs]
        (p1, pm, p3), (c1, cm, c3) = quartiles(ps), quartiles(cs)
        wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
        better_by = (pm - cm) if lower else (cm - pm)
        verdict = "-"
        if wins >= 0.9 * len(pairs) and better_by > (p3 - p1):
            verdict = "gain"
        elif "bound" in m and pm and -better_by / abs(pm) > m["bound"]:
            verdict = "WORSE"
        elif "bound" in m and pm and cm and max((p3 - p1) / abs(pm), (c3 - c1) / abs(cm)) > m["bound"]:
            verdict = "unresolved"
        delta = f"{(cm - pm) / abs(pm) * 100:+.1f}%" if pm else "n/a"
        side = [f"{m:.4g} [{q1:.4g}, {q3:.4g}]" for q1, m, q3 in ((p1, pm, p3), (c1, cm, c3))]
        print(f"{name:34} {side[0]:>30} {side[1]:>30} {delta:>8} {wins:>3}/{len(pairs):<2}  {verdict}")

if __name__ == "__main__":
    main()
