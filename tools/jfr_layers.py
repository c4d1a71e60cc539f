#!/usr/bin/env python3
"""Executor-thread sample shares of named frame groups in a JFR recording.

    python3 tools/jfr_layers.py RECORDING [--since TIME] [--top N]

RECORDING is a `.jfr` file, which is printed with
`jfr print --stack-depth 512 --events jdk.ExecutionSample`, or the text
that command printed. Only samples of Spark task threads ("Executor task
launch worker ...") count. Each sample counts in one group: walking its
stack from the top, the first frame that matches a group's pattern names
the group, and a frame that pulls an iterator (`hasNext()`, `next()`)
ends the walk. So the work a shuffle writer or the pre-fold pulls
through its input counts where it happens (a JSON parse as JSON parse),
not to the operator that pulls it. Samples that name no group count as
"other".

--since keeps only the samples taken at or after TIME, a time of day
`HH:MM:SS[.fff]` as `jfr print` shows it; use it to leave out a warm-up
phase.
--top N also prints the N most frequent top (self) frames.

Self-check: bash tools/test_jfr_layers.sh
"""
import argparse
import collections
import datetime
import re
import subprocess
import sys

EXECUTOR_THREAD = "Executor task launch worker"
OTHER = "other"

# group name -> substrings of a frame's "package.Class.method"
GROUPS = [
    ("codegen compile", ["org.codehaus.janino.", "org.codehaus.commons.compiler.",
                         "codegen.CodeGenerator$.doCompile"]),
    ("class loading", ["java.lang.ClassLoader.loadClass", "java.net.URLClassLoader.",
                       "jdk.internal.loader.", "org.apache.spark.util.ChildFirstURLClassLoader.",
                       "org.apache.spark.executor.ExecutorClassLoader."]),
    ("JSON parse", ["expressions.JsonToStructs.", "catalyst.json.JacksonParser.",
                    "com.fasterxml.jackson.core.", "graft.functions.JsonLong"]),
    # StreamImport's one anonymous class is the pre-fold's iterator
    ("pre-fold", ["graft.streaming.StreamImport$.preFold", "graft.streaming.StreamImport$$anon$"]),
    ("state store", ["org.apache.spark.sql.execution.streaming.state.", "org.rocksdb."]),
    ("shuffle write", ["org.apache.spark.shuffle.sort.", "org.apache.spark.shuffle.ShuffleWriteProcessor.",
                       "org.apache.spark.storage.DiskBlockObjectWriter."]),
    ("parquet write", ["datasources.parquet.ParquetOutputWriter.", "datasources.parquet.ParquetWriteSupport.",
                       "org.apache.parquet.hadoop.InternalParquetRecordWriter.",
                       "org.apache.parquet.hadoop.ParquetFileWriter.",
                       "org.apache.parquet.hadoop.ColumnChunkPageWriteStore."]),
]

EVENT_START = re.compile(r"^jdk\.ExecutionSample\s*\{")
START_TIME = re.compile(r"^\s*startTime = (\d\d:\d\d:\d\d(?:\.\d+)?)")
THREAD = re.compile(r'^\s*sampledThread = "(.*)"')
PULL = re.compile(r"\.(hasNext|next)\(\)")
FRAME = re.compile(r"^\s{4,}([\w$.<>/\-]+\([^)]*\))")


def parse_time(s):
    """The time of day of 'HH:MM:SS[.f]'."""
    hms, _, frac = s.partition(".")
    h, m, sec = (int(x) for x in hms.split(":"))
    return datetime.time(h, m, sec, int((frac + "000000")[:6]))


def samples(lines):
    """Yield (time, thread, [frames top first]) per ExecutionSample."""
    cur = None
    for line in lines:
        if EVENT_START.match(line):
            cur = {"time": None, "thread": "", "frames": []}
            continue
        if cur is None:
            continue
        if line.startswith("}"):
            yield cur["time"], cur["thread"], cur["frames"]
            cur = None
            continue
        m = START_TIME.match(line)
        if m:
            cur["time"] = parse_time(m.group(1))
            continue
        m = THREAD.match(line)
        if m:
            cur["thread"] = m.group(1)
            continue
        m = FRAME.match(line)
        if m:
            cur["frames"].append(m.group(1))


def group_of(frames):
    """The group of the first matching frame above any iterator pull, else OTHER."""
    for f in frames:
        for name, pats in GROUPS:
            if any(p in f for p in pats):
                return name
        if PULL.search(f):
            break
    return OTHER


def shares(lines, since=None, top=0):
    """(executor sample count, [(group, count)], [(self frame, count)])."""
    n = 0
    hits = collections.Counter()
    selfs = collections.Counter()
    for time, thread, frames in samples(lines):
        if not thread.startswith(EXECUTOR_THREAD) or (since and time < since):
            continue
        n += 1
        hits[group_of(frames)] += 1
        if frames:
            selfs[frames[0]] += 1
    names = [name for name, _ in GROUPS] + [OTHER]
    return n, [(name, hits[name]) for name in names], selfs.most_common(top)


def read_lines(path):
    if path.endswith(".jfr"):
        out = subprocess.run(["jfr", "print", "--stack-depth", "512", "--events",
                              "jdk.ExecutionSample", path],
                             check=True, capture_output=True, text=True).stdout
        return out.splitlines()
    with open(path) as f:
        return f.read().splitlines()


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--since", help="HH:MM:SS[.fff]")
    ap.add_argument("--top", type=int, default=0, help="also print the N top self frames")
    a = ap.parse_args(argv)
    since = parse_time(a.since) if a.since else None
    n, groups, selfs = shares(read_lines(a.recording), since, a.top)
    print(f"executor samples: {n}")
    for name, c in groups:
        print(f"{name:16s} {c:7d} {100.0 * c / n if n else 0.0:6.1f} %")
    for frame, c in selfs:
        print(f"self {c:7d} {100.0 * c / n:6.1f} %  {frame}")
    return 0 if n else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
