#!/usr/bin/env python3
"""Replays how a benchmark harness reads a run's result from its stdout.

The result must be the LAST line of stdout, a bare JSON object with exactly
the keys correct, attempted, failed and metrics, every metric a
{"value": number, "unit": str} pair named as in BENCHMARK.json. A line that
carries a logger prefix (sbt's "[info] {...}") does not start with "{" and
fails, which is the failure this check exists to catch.

Usage:
    python3 xmlbench/check_tail.py --self-test
    python3 xmlbench/check_tail.py --trace 0 captured_stdout.txt
    python3 xmlbench/check_tail.py --run query --seed 1 --trace 1
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def parse_tail(stdout, spec, trace):
    """Returns the parsed result or raises ValueError naming the defect."""
    lines = [l for l in stdout.splitlines() if l.strip()]
    if not lines:
        raise ValueError("no output")
    last = lines[-1]
    if not last.startswith("{"):
        raise ValueError(f"last line is not a bare JSON object: {last[:60]!r}")
    r = json.loads(last)
    if set(r) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"keys {sorted(r)}")
    if not isinstance(r["correct"], bool):
        raise ValueError("correct is not a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(r[k], int) or isinstance(r[k], bool):
            raise ValueError(f"{k} is not a whole number")
    if r["attempted"] < 1:
        raise ValueError("attempted < 1")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    if set(r["metrics"]) != set(want):
        raise ValueError(f"metric names differ: missing {sorted(set(want) - set(r['metrics']))}, "
                         f"extra {sorted(set(r['metrics']) - set(want))}")
    for name, m in r["metrics"].items():
        if set(m) != {"value", "unit"} or m["unit"] != want[name]:
            raise ValueError(f"metric {name}: {m}")
        if not isinstance(m["value"], (int, float)) or isinstance(m["value"], bool):
            raise ValueError(f"metric {name} value is not a number")
    return r


def self_test(spec):
    metrics = {m["name"]: {"value": 1.5, "unit": m["unit"]} for m in spec["end_to_end"]}
    good = json.dumps({"correct": True, "attempted": 3, "failed": 0, "metrics": metrics})
    parse_tail("noise\n" + good + "\n", spec, 0)
    for bad in ("[info] " + good, good + "\n[success] Total time: 1 s", good[:-1]):
        try:
            parse_tail(bad + "\n", spec, 0)
        except ValueError:
            continue
        raise SystemExit(f"accepted a malformed tail: {bad[:40]!r}")
    print("self-test ok")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("files", nargs="*")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--run")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.self_test:
        self_test(spec)
    outputs = [(f, Path(f).read_text()) for f in a.files]
    if a.run:
        cmd = spec["command"] + ["--workload", a.run, "--seed", str(a.seed), "--seconds",
                                 str(a.seconds or spec["run_seconds"]), "--trace", str(a.trace)]
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            raise SystemExit(f"{' '.join(cmd)} exited {p.returncode}")
        outputs.append((a.run, p.stdout))
    for name, out in outputs:
        r = parse_tail(out, spec, a.trace)
        print(f"{name}: ok, correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']} metrics={len(r['metrics'])} "
              f"last line {len(out.rstrip().splitlines()[-1])} chars")


if __name__ == "__main__":
    main()
