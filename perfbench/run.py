#!/usr/bin/env python3
"""The importer benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. It builds the harness and the program from
source (sbt, offline; skipped when the sources are unchanged since the
last build in this checkout), generates the seeded inputs, computes the
expected outputs apart from the program, runs the workload in one JVM,
checks its outputs and prints one JSON object as the last line of
standard output. It exits non-zero, without a result line, when any of
that fails. Everything it writes goes under ``.bench_build/`` (git-ignored):
build stamp and log, per-run inputs and outputs (removed after the check),
and the spans of traced runs (``.bench_build/traces/``).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
CLASSES = os.path.join(HARNESS, "target", "scala-2.13", "classes")

sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("import_drain", "import_paced", "entity_backfill")

END_TO_END = {
    "setup_s": "s", "records_per_s": "records/s", "commit_p50_ms": "ms",
    "read_p50_ms": "ms", "peak_rss_mb": "MB",
}

PER_LAYER = {
    "queue.publish_ms": "ms", "queue.get_batch_ms": "ms",
    "queue.backlog_records": "count", "queue.scan_tasks": "count",
    "queue.hub_records_held": "count",
    "ooo.state_rows": "count", "ooo.state_bytes": "B", "ooo.update_ms": "ms",
    "ooo.commit_ms": "ms", "ooo.removed_rows": "count", "ooo.dead_letter_records": "count",
    "fold.state_rows": "count", "fold.state_bytes": "B", "fold.update_ms": "ms",
    "fold.commit_ms": "ms", "fold.evicted_rows": "count", "fold.partials_per_record": "ratio",
    "sink.upsert_ms": "ms", "sink.self_ms": "ms", "sink.rows_written": "count",
    "sink.bytes_written": "B", "sink.files_written": "count",
    "sink.write_amplification": "ratio",
    "read.read_ms": "ms", "read.files_scanned": "count",
    "read.rows_scanned_per_row_returned": "ratio",
    "core.transfers_s": "s", "core.wide_s": "s", "core.txnreq_s": "s",
    "core.batches_s": "s", "core.variables_s": "s", "core.tasks_s": "s",
    "engine.planning_ms": "ms", "engine.wal_commit_ms": "ms",
    "engine.offset_commit_ms": "ms", "engine.jobs_per_batch": "count",
    "engine.executor_run_s": "s", "engine.executor_cpu_s": "s",
    "engine.shuffle_write_bytes": "B", "engine.shuffle_read_bytes": "B",
    "engine.fetch_wait_ms": "ms", "engine.spill_bytes": "B", "engine.task_skew": "ratio",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB", "jvm.live_heap_mb": "MB",
    "jvm.native_peak_mb": "MB",
    "gen.lag_ms": "ms",
    "attr.per_record_s": "s", "attr.per_batch_s": "s", "attr.upstream_other_s": "s",
    "attr.core_s": "s",
    "unattributed_s": "s", "trace.records_per_s": "records/s",
}

# Spark 4 on JDK 17 outside spark-submit needs these module openings
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action", "java.base/sun.util.calendar",
]

JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 800


class Fail(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark distribution's jar directory (SPARK_HOME, else the one
    next to spark-submit on PATH)."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sub = shutil.which("spark-submit")
    if sub:
        cands.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(sub))), "jars"))
    for c in cands:
        if os.path.isdir(c) and any(f.startswith("spark-core") for f in os.listdir(c)):
            return c
    raise Fail("no Spark jars found: set SPARK_HOME")


def sources_digest():
    """Digest of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(jars):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise Fail("the program's sources (src/main/scala/graft) are not in this checkout")
    if not shutil.which("sbt"):
        raise Fail("sbt not found on PATH")
    digest = sources_digest()
    stamp = os.path.join(BUILD, "harness.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dperfbench.sparkJars={jars}", "clean", "compile", "Compile/copyResources"]
    log("building the harness and the program (sbt compile)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = run_child(cmd, HARNESS, env, out, out, BUILD_TIMEOUT_S)
    if rc != 0 or not os.path.isdir(CLASSES):
        tail = open(os.path.join(BUILD, "build.log")).read()[-3000:]
        raise Fail(f"build failed (exit {rc}):\n{tail}")
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.0f} s")


def run_child(cmd, cwd, env, stdout, stderr, timeout):
    """Run a child in its own process group; on timeout kill the group.
    Waits until the child has ended either way."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def heap_mb():
    """The JVM heap, sized to the host: an eighth of its memory,
    between 1 and 3 GiB."""
    total_kb = 8 * 1024 * 1024
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_kb = int(line.split()[1])
    except OSError:
        pass
    return max(1024, min(3072, total_kb // 8 // 1024))


def task_threads():
    """Spark task threads: the host's cores less one, at most four. The
    spare core takes the JIT and GC threads, the generator thread and the
    launcher, so they do not preempt tasks at random."""
    return max(1, min(4, (os.cpu_count() or 2) - 1))


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    j = shutil.which("java")
    if not j:
        raise Fail("java not found")
    return j


def run_jvm(jars, workload, inputs, out, seconds, trace, tmp):
    cpus = task_threads()
    heap = heap_mb()
    # a fixed, pre-touched heap is resident in full from the start, so the
    # peak resident set less the heap is the peak of the memory outside
    # the heap (Main.jvm), whatever the collector does with its regions
    cmd = [java_bin(), f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:+AlwaysPreTouch",
           "-XX:+ExitOnOutOfMemoryError",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--workload", workload, "--inputs", inputs, "--out", out,
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--cpus", str(cpus)]
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_PREFOLD", None)
    with open(os.path.join(out, "jvm.out"), "w") as so, \
            open(os.path.join(out, "jvm.err"), "w") as se:
        spawn_us = time.time_ns() // 1000
        rc = run_child(cmd + ["--spawn-us", str(spawn_us)], ROOT, env, so, se, JVM_TIMEOUT_S)
    if rc != 0 or not os.path.exists(os.path.join(out, "result.json")):
        tail = open(os.path.join(out, "jvm.err")).read()[-4000:]
        raise Fail(f"workload JVM failed (exit {rc}):\n{tail}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run's inputs and outputs")
    a = ap.parse_args(argv)

    jars = spark_jars()
    build(jars)

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, out, tmp = (os.path.join(run_dir, d) for d in ("inputs", "out", "tmp"))
    for d in (inputs, out, tmp):
        os.makedirs(d)
    try:
        meta = gen.write(a.workload, a.seed, inputs, a.seconds)
        queries = check.read_queries(meta)
        with open(os.path.join(inputs, "queries.txt"), "w") as f:
            f.write("\n".join(queries) + "\n")
        res = run_jvm(jars, a.workload, inputs, out, a.seconds, a.trace == 1, tmp)
        attempted, failed, violations = check.check_run(a.workload, inputs, out, meta, queries)
        for v in violations:
            log(f"property violated: {v}")
        if failed:
            log(f"{failed} of {attempted} operations failed the check")
        if a.trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(out, "spans.jsonl"),
                        os.path.join(traces, f"{a.workload}-s{a.seed}.jsonl"))
            names, values = PER_LAYER, res["layers"]
        else:
            names, values = END_TO_END, res["e2e"]
        metrics = {}
        for name, unit in names.items():
            v = values.get(name)
            if v is None and not a.trace:
                raise Fail(f"the run did not measure {name}")
            metrics[name] = {"value": float(v or 0.0), "unit": unit}
        log("counts: " + json.dumps(res["counts"]))
    finally:
        if not a.keep:
            shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0 and not violations, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    # a terminated launcher still stops the JVM it started (run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main(sys.argv[1:]))
    except Fail as e:
        log(f"error: {e}")
        sys.exit(2)
