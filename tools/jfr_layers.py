#!/usr/bin/env python3
"""Splits the CPU samples of a JFR recording by layer and by thread group.

Usage:
    python3 tools/jfr_layers.py RECORDING.jfr [--depth 64] [--top 8]

Runs `jfr print --stack-depth DEPTH --events jdk.ExecutionSample` on the
recording (`jfr` from the JDK must be on PATH) and prints each layer's share
of the samples, each thread group's share, and the leaf frames that fell to
`other`, so a missing pattern shows. `jfr print`'s default stack depth is 5
frames, which cuts most Spark task stacks above the frame that names the
layer; 64 reaches it.

A sample belongs to the layer of the frame nearest its leaf that matches one
of LAYERS, tried in that order at each frame: java.time called from TypeCast
counts as java.time, and a HashMap lookup called from StaxXmlParser counts as
parse. A sample whose stack matches none is `other`: mostly Spark's operators
(generated code, expressions, row copies, shuffle writes) and the JVM's class
loading.

To record the benchmark's measured JVM (JDK_JAVA_OPTIONS reaches every JVM
started, so run the workload once without it first: the build and the corpus
are then cached and only the measured JVM starts):
    JDK_JAVA_OPTIONS=-XX:StartFlightRecording=filename=/tmp/ingest.jfr,settings=profile \\
        python3 xmlbench/run.py --workload ingest --seed 1 --seconds 7 --trace 0
"""
import argparse
import re
import subprocess
import sys
from collections import Counter

LAYERS = [
    ("java.time", re.compile(r"^(java\.time\.|java\.sql\.(Date|Timestamp)\b|"
                             r"java\.util\.(Gregorian)?Calendar\b|sun\.util\.calendar\.)")),
    ("Woodstox", re.compile(r"^(\S*com\.ctc\.wstx\.|\S*org\.codehaus\.stax2\.|"
                            r"com\.sun\.xml\.internal\.stream\.|com\.sun\.org\.apache\.xerces\.)")),
    ("TypeCast", re.compile(r"^graft\.xml\.TypeCast\b")),
    ("infer", re.compile(r"^graft\.xml\.InferSchema\b")),
    ("parse", re.compile(r"^graft\.xml\.(StaxXmlParser|XmlDataToCatalyst)\b")),
    ("extract", re.compile(r"^graft\.xml\.(XmlInputFormat|XmlRecordReader|TranscodingInputStream)\b")),
    ("codegen", re.compile(r"^(org\.codehaus\.(janino|commons\.compiler)\.|"
                           r"org\.apache\.spark\.sql\.catalyst\.expressions\.codegen\.)")),
    ("planning", re.compile(r"^org\.apache\.spark\.sql\.(catalyst\.(analysis|optimizer|rules|planning|"
                            r"trees|plans)\.|execution\.(QueryExecution|SparkStrategies|SparkPlanner|"
                            r"SparkOptimizer|adaptive\.|CacheManager))")),
    # Not the task frames (Task.run, ShuffleMapTask.runTask) at the root of
    # every task's stack: those samples are operator work.
    ("scheduling", re.compile(r"^(org\.apache\.spark\.scheduler\.(?!(Task|ShuffleMapTask|ResultTask)\.)|"
                              r"org\.apache\.spark\.(rpc|serializer|broadcast|storage)\.|io\.netty\.)")),
]


def samples(recording, depth):
    """Yields (thread name, frames leaf first) per execution sample."""
    out = subprocess.run(["jfr", "print", "--stack-depth", str(depth), "--events",
                          "jdk.ExecutionSample", recording],
                         check=True, capture_output=True, text=True).stdout
    thread, frames, in_stack = None, [], False
    for line in out.splitlines():
        s = line.strip()
        if s.startswith("jdk.ExecutionSample"):
            thread, frames, in_stack = None, [], False
        elif s.startswith("sampledThread = "):
            m = re.match(r'sampledThread = "(.*)" \(', s)
            thread = m.group(1) if m else s
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
            yield thread, frames
        elif in_stack and s and s != "...":
            frames.append(s)


def layer(frames):
    for frame in frames:
        for name, pattern in LAYERS:
            if pattern.search(frame):
                return name
    return "other"


def thread_group(name):
    """Thread names without their numbers, and Spark's task threads as one."""
    if name is None:
        return "?"
    name = name.split(" for task ")[0]
    return re.sub(r"\d+", "N", name)


def table(title, counts, total):
    print(f"{title:<32} {'samples':>8} {'share':>7}")
    for name, n in counts.most_common():
        print(f"{name:<32} {n:>8} {100.0 * n / total:>6.1f}%")
    print()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording")
    ap.add_argument("--depth", type=int, default=64, help="stack frames printed per sample")
    ap.add_argument("--top", type=int, default=8, help="leaf frames of `other` to list")
    a = ap.parse_args()

    layers, groups, other_leaves = Counter(), Counter(), Counter()
    total = 0
    for thread, frames in samples(a.recording, a.depth):
        total += 1
        name = layer(frames)
        layers[name] += 1
        groups[thread_group(thread)] += 1
        if name == "other" and frames:
            other_leaves[re.sub(r"\(.*", "", frames[0])] += 1
    if total == 0:
        sys.exit(f"no jdk.ExecutionSample events in {a.recording}")
    print(f"{a.recording}: {total} execution samples, stack depth {a.depth}\n")
    table("layer", layers, total)
    table("thread group", groups, total)
    if a.top:
        print("top leaf frames of `other`:")
        for frame, n in other_leaves.most_common(a.top):
            print(f"  {n:>6}  {frame}")


if __name__ == "__main__":
    main()
