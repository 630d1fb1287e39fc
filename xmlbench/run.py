#!/usr/bin/env python3
"""Benchmark entry point for the graft XML engine.

Usage (from the repository root):
    python3 xmlbench/run.py --workload {ingest,query,export,pipeline} \
        --seed N --seconds S --trace {0,1}

Builds the engine and the harness from source with sbt (once per source
fingerprint), runs one workload in a fresh JVM, checks the pipeline
results against their DuckDB oracle SQL, and prints one JSON object as the
last line of stdout:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones in BENCHMARK.json, with
--trace 1 the per-layer ones. Everything the run writes stays under
xmlbench/.work (build stamp, class-data-sharing archive, corpora, logs,
per-run results) and xmlbench/target (the packaged jar).
"""
import argparse
import hashlib
import importlib.util
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
CDS_ARCHIVE = WORK / "classes.jsa"
ENGINE_SRC = ROOT / "src" / "main"
RUN_LIMIT_S = 170          # the whole run, build excluded
# Distinct corpora per workload: a seed picks one by its residue, so corpora
# and their expected results are built once per variant, not once per run.
VARIANTS = 4
BUILD_LIMIT_S = 850
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[xmlbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one the engine's own
    build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    m = re.search(r'unmanagedBase := file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m:
        sys.exit("cannot find Spark's jars: set SPARK_HOME")
    return Path(m.group(1))


def fingerprint(paths):
    """sha256 over every file under `paths`, by relative name and content."""
    h = hashlib.sha256()
    for base in paths:
        files = [base] if base.is_file() else sorted(p for p in base.rglob("*") if p.is_file())
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def _terminate(signum, frame):
    sys.exit(128 + signum)  # unwinds through run_group, which reaps the child


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group. On timeout, on error and when
    this process is told to stop, kills the whole group and waits for it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build():
    """Packages the engine plus harness into one jar unless the sources are
    unchanged. Returns (jar, source fingerprint)."""
    sources = [ENGINE_SRC, BENCH / "src", BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    fp = fingerprint(sources)
    stamp = WORK / "build.stamp"
    jars = sorted((BENCH / "target" / "scala-2.13").glob("graft-xmlbench_2.13-*.jar"))
    if stamp.exists() and stamp.read_text() == fp and len(jars) == 1:
        return jars[0], fp
    log(f"building (source fingerprint {fp})")
    # No JVM of the build writes its perf-data file under the system /tmp.
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
               TMPDIR=str(WORK / "tmp"), SPARK_JARS=str(spark_jars()))
    repos = Path.home() / ".sbt" / "repositories"
    env.setdefault("SBT_OPTS", " ".join(
        ["-Dsbt.offline=true", "-Xmx2g"] +
        ([f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"] if repos.exists() else [])))
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    with open(WORK / "build.log", "wb") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        f"-Djava.io.tmpdir={WORK / 'tmp'}", "clean", "package"],
                       BUILD_LIMIT_S,
                       cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.exit(f"build failed (exit {rc}); see {WORK / 'build.log'}")
    jars = sorted((BENCH / "target" / "scala-2.13").glob("graft-xmlbench_2.13-*.jar"))
    if len(jars) != 1:
        sys.exit(f"build left {len(jars)} jars; see {WORK / 'build.log'}")
    CDS_ARCHIVE.unlink(missing_ok=True)  # it maps classes of the old jar
    stamp.write_text(fp)
    return jars[0], fp


def class_data_sharing():
    """JVM flag for a class-data-sharing archive of the current jar: the
    first run after a build writes it at exit, later runs map it and skip
    most class loading at start-up."""
    if CDS_ARCHIVE.exists():
        return f"-XX:SharedArchiveFile={CDS_ARCHIVE}"
    return f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"


def oracle_check(result):
    """Compares each pipeline reference result with its oracle SQL run by
    DuckDB over the same parquet inputs. Returns {query: error or None}."""
    sys.dont_write_bytecode = True  # leave no cache files next to the tool
    spec = importlib.util.spec_from_file_location("check_oracle", ROOT / "tools" / "check_oracle.py")
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    import duckdb
    import numpy as np
    import pandas as pd
    con = duckdb.connect()
    corpus = ROOT / result["corpus"]
    for t in sorted(p.name[:-len(".parquet")] for p in corpus.glob("*.parquet")):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus / (t + '.parquet')}/*.parquet'")
    errors = {}
    for name, sql in result["oracle_sql"].items():
        try:
            got = pd.read_parquet(ROOT / result["run_dir"] / "ref" / name)
            want = con.execute(sql).fetchdf()
            problems = co.driver_hazards(name, got, want)
            g, w = co.norm(got), co.norm(want)
            if not problems and list(g.columns) != list(w.columns):
                problems.append(f"columns {list(g.columns)} != {list(w.columns)}")
            if not problems and len(g) != len(w):
                problems.append(f"rows {len(g)} != {len(w)}")
            if not problems:
                for c in g.columns:
                    a, b = g[c], w[c]
                    if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
                        same = np.array_equal(a.astype(float).to_numpy(), b.astype(float).to_numpy(),
                                              equal_nan=True)
                    else:
                        same = a.astype(str).equals(b.astype(str))
                    if not same:
                        problems.append(f"value mismatch in {c}")
            errors[name] = "; ".join(problems) or None
        except Exception as e:  # a failed oracle counts against the query
            errors[name] = f"{type(e).__name__}: {e}"
    return errors


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _terminate)
    if not (ENGINE_SRC / "scala" / "graft" / "xml").is_dir():
        sys.exit(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    jar, build_fp = build()
    started = time.monotonic()
    for d in ("tmp", "logs", "results", "corpus"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    out = WORK / "results" / f"{a.workload}-trace{a.trace}.json"
    out.unlink(missing_ok=True)
    # The corpus directory names the generator version, so a changed
    # generator never reuses a corpus an older one built.
    corpus_fp = fingerprint([BENCH / "src" / "main" / "scala" / "graft" / "xmlbench" / "Corpus.scala"])
    variant = a.seed % VARIANTS
    corpus = WORK / "corpus" / f"{a.workload}-s{variant}-{corpus_fp}"
    cores = len(os.sched_getaffinity(0))

    def jvm(prepare):
        cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
               [class_data_sharing(), "-Xmx3g", "-XX:-UsePerfData",
                # Compiler threads never exit, so Main can subtract their CPU.
                "-XX:-UseDynamicNumberOfCompilerThreads", "-Duser.timezone=UTC",
                f"-Djava.io.tmpdir={WORK / 'tmp'}", "-cp",
                os.pathsep.join([str(jar)] + sorted(str(j) for j in spark_jars().glob("*.jar"))),
                "graft.xmlbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--variant", str(variant), "--corpus", str(corpus), "--prepare", str(prepare),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", str(WORK),
                "--cores", str(cores), "--build", build_fp, "--out", str(out)])
        logfile = WORK / "logs" / f"{a.workload}-s{a.seed}-{'prepare' if prepare else f'trace{a.trace}'}.log"
        with open(logfile, "wb") as lf:
            rc = run_group(cmd, RUN_LIMIT_S - (time.monotonic() - started), cwd=ROOT,
                           stdout=lf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        return rc, logfile

    if not (corpus / f"refs-{build_fp}").is_dir():
        # In a JVM of its own, so the measured one never starts warmed by it.
        rc, logfile = jvm(1)
        if rc != 0:
            sys.exit(f"corpus preparation failed (exit {rc}); see {logfile}")
        old = sorted((d for d in (WORK / "corpus").glob(f"{a.workload}-s*") if d != corpus),
                     key=lambda d: d.stat().st_mtime, reverse=True)
        for d in old[VARIANTS - 1:]:
            shutil.rmtree(d)
        # Written back now, not by the kernel during the measured run.
        os.sync()
    rc, logfile = jvm(0)
    if rc != 0 or not out.exists():
        sys.exit(f"benchmark JVM failed (exit {rc}); see {logfile}")
    result = json.loads(out.read_text())

    failed, errors = result["failed"], list(result["errors"])
    if result["oracle_sql"]:
        for name, err in oracle_check(result).items():
            if err:
                bad = [e for e in result["executions"] if e["op"] == name and e["ok"]]
                failed += len(bad)
                errors.append({"op": name, "class": "OracleMismatch", "message": err})
    metrics = result["metrics"]
    if "op_ok_ratio" in metrics:  # oracle mismatches count as failed operations
        metrics["op_ok_ratio"]["value"] = (result["attempted"] - failed) / result["attempted"]
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        sys.exit(f"metrics missing from the run: {missing}")
    result.update(failed=failed, errors=errors,
                  run_s=round(time.monotonic() - started, 3))
    out.write_text(json.dumps(result))
    print(json.dumps({k: result[k] for k in ("workload", "seed", "why", "errors", "phases_s",
                                              "pass_s", "setup_s", "ops")}))
    print(json.dumps(separators=(",", ":"), obj={
        "correct": failed == 0,
        "attempted": result["attempted"],
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]]["value"], "unit": m["unit"]}
                    for m in wanted},
    }))


if __name__ == "__main__":
    main()
