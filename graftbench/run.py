#!/usr/bin/env python3
"""graft's benchmark: one workload per call, output-checked.

    python3 graftbench/run.py --workload cdc_stream --seed 7 --seconds 10 --trace 0

Run from the repository root. The first call builds the engine and the
benchmark JVM program from source with sbt (offline) and caches the classpath
under graftbench/.work/build, keyed by a hash of the sources. Inputs come
from --seed; the engine only sees the generated files. The last line of
standard output is one JSON object:

    {"correct": .., "attempted": .., "failed": .., "metrics": {name: {"value", "unit"}}}

with the end-to-end metrics (--trace 0) or the per-layer metrics of a
traced run (--trace 1). The exit code is 0 only for a run whose outputs
match their references. See README.md for workloads and metrics.
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
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import checks  # noqa: E402
import corpus  # noqa: E402

# the workloads BENCHMARK.json lists, in its order
WORKLOADS = ("cdc_stream", "curate")
# Runnable, but not listed: its output check fails on every seed until the
# graft-redo scan keeps column names with their values in rows of more than
# 4 columns (README.md, "Known engine defects").
HELD_OUT = ("cdc_backfill",)

END_TO_END = [
    ("latency_p50_ms", "ms", "lower"),
    ("latency_p90_ms", "ms", "lower"),
    ("rows_per_s", "1/s", "higher"),
    ("input_mb_per_s", "MB/s", "higher"),
    ("peak_rss_mb", "MB", "lower"),
    ("setup_s", "s", "lower"),
]

PER_LAYER = [
    ("redo.decode_mb_per_s", "MB/s", "higher"),
    ("redo.records", "count", "higher"),
    ("redo.blocks", "count", "higher"),
    ("source.scan_s", "s", "lower"),
    ("source.latest_offset_ms", "ms", "lower"),
    ("source.get_batch_ms", "ms", "lower"),
    ("source.lag_files", "count", "lower"),
    ("assemble.s", "s", "lower"),
    ("state.rows_total", "count", "lower"),
    ("state.bytes", "bytes", "lower"),
    ("state.commit_ms", "ms", "lower"),
    ("stream.wal_commit_ms", "ms", "lower"),
    ("stream.planning_ms", "ms", "lower"),
    ("stream.trigger_ms", "ms", "lower"),
    ("stream.batches", "count", "lower"),
    ("sink.write_ms_p50", "ms", "lower"),
    ("sink.write_ms_total", "ms", "lower"),
    ("sink.rows", "count", "higher"),
    ("sink.replays_skipped", "count", "lower"),
    ("dedup.candidate_pairs", "count", "lower"),
    ("dedup.verified_pairs", "count", "higher"),
    ("dedup.verify_yield", "ratio", "higher"),
    ("dedup.near_dup_s", "s", "lower"),
    ("curate.fused_pass_s", "s", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("spark.gc_ms", "ms", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("spark.task_skew", "ratio", "lower"),
    ("spark.busy_frac", "ratio", "higher"),
    ("box.load1", "count", "lower"),
    ("box.steal_frac", "ratio", "lower"),
    ("gen.late_ms_max", "ms", "lower"),
    ("check.failed_frac", "ratio", "lower"),
    ("trace.rows_per_s", "1/s", "higher"),
    ("trace.spans", "count", "lower"),
]

# curate corpus: base documents before the ~10x variant expansion
CURATE_BASE_DOCS = 600
CURATE_WARM_BASE_DOCS = 60

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def run_child(cmd, timeout_s, **kw):
    """Runs `cmd` in a process group of its own; its exit code, or "timeout".

    The whole group is killed and waited for on every way out, a timeout
    or a signal to this process included, so nothing it started outlives
    the benchmark.
    """
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        return "timeout"
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def source_stamp(root):
    """Hash of everything the build reads: engine and benchmark sources."""
    h = hashlib.sha256()
    files = [root / "build.sbt", root / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (root / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes() if p.exists() else b"-")
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    tmp = BENCH / ".work" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # no sbt server (its socket would land in the system temp dir)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Xmx2g"]
    repos = Path(os.path.expanduser("~/.sbt/repositories"))
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath(root, timeout_s):
    """Builds engine + benchmark when their sources changed; the run classpath."""
    build = BENCH / ".work" / "build"
    stamp_file, cp_file = build / "stamp", build / "classpath.txt"
    stamp = source_stamp(root)
    if stamp_file.exists() and cp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    build.mkdir(parents=True, exist_ok=True)
    log("building engine and benchmark with sbt")
    t0 = time.time()
    with open(build / "sbt.log", "w") as out:
        rc = run_child(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            timeout_s, cwd=BENCH, env=sbt_env(), stdin=subprocess.DEVNULL,
            stdout=out, stderr=subprocess.STDOUT)
    output = (build / "sbt.log").read_text(errors="replace")
    lines = [l.strip() for l in output.splitlines() if l.strip()]
    cp = lines[-1] if lines else ""
    if rc != 0 or "graftbench" not in cp:
        sys.stderr.write(output[-4000:])
        raise SystemExit(f"build failed (sbt exit {rc})")
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def jvm_command(cp, work, args):
    """The benchmark JVM's command line; `args` are BenchMain's own."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    return ["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # a fixed heap, young generation and survivor sizing: peak RSS then
        # follows retained memory rather than the collector's sizing decisions
        "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-Xms3g", "-Xmx3g", "-Xmn768m",
        "-XX:SurvivorRatio=4", "-XX:MaxTenuringThreshold=15", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graft.perf.BenchMain",
        "--work", str(work)] + args


def run_jvm(cp, args, work, cores, deadline):
    cmd = jvm_command(cp, work, [
        "--mode", "run", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(cores), "--launch-ms", str(int(time.time() * 1000))])
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep it in the work
    # dir. Two malloc arenas: native memory (RocksDB, netty) then grows with
    # use, not with how many threads happened to allocate at once.
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"), MALLOC_ARENA_MAX="2")
    with open(work / "jvm.log", "w") as out:
        rc = run_child(cmd, max(10.0, deadline - time.time()), env=env,
                       stdin=subprocess.DEVNULL, stdout=out, stderr=subprocess.STDOUT)
    if rc != 0:
        tail = (work / "jvm.log").read_text(errors="replace")[-4000:]
        sys.stderr.write(tail)
        raise SystemExit(f"benchmark JVM failed ({rc})")
    return json.loads((work / "jvm_result.json").read_text())


def curate_oracle(work, threads):
    """DuckDB oracle rows for the corpus, cached by corpus and SQL digest."""
    parquet = work / "curate" / "docs" / "documents.parquet"
    sql = (work / "curate" / "oracle.sql").read_text()
    key = hashlib.sha256(parquet.read_bytes() + sql.encode()).hexdigest()[:24]
    cache = BENCH / ".work" / "oracle" / f"{key}.json"
    if cache.exists():
        return json.loads(cache.read_text())
    cols, rows = checks.oracle_rows(str(parquet), sql, threads)
    cache.parent.mkdir(parents=True, exist_ok=True)
    cache.write_text(json.dumps([cols, rows]))
    return [cols, rows]


def check(workload, work, notes):
    if workload == "cdc_stream":
        return checks.check_stream(notes["expected"], notes["sink_dir"])
    if workload == "cdc_backfill":
        return checks.check_backfill(notes["expected"], notes["actual"])
    cores = min(4, os.cpu_count() or 1)
    return checks.check_curate(curate_oracle(work, cores),
                               checks.manifest_rows(notes["actual"]))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + HELD_OUT)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a termination request unwinds through run_child, which stops the children
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, lambda signum, _frame: sys.exit(128 + signum))
    root = Path.cwd()
    if not (root / "build.sbt").exists() or not (root / "src" / "main" / "scala" / "graft").is_dir():
        raise SystemExit("run from the root of a graft checkout (no engine sources here)")
    cp = classpath(root, timeout_s=780)
    started = time.time()  # the build has its own time budget

    cores = max(1, min(4, os.cpu_count() or 1))
    work = BENCH / ".work" / "run"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    if args.workload == "curate":
        corpus.write_corpus(work / "curate" / "warm", args.seed ^ 0x5EED, CURATE_WARM_BASE_DOCS)
        corpus.write_corpus(work / "curate" / "docs", args.seed, CURATE_BASE_DOCS)

    res = run_jvm(cp, args, work, cores, deadline=started + 165)
    jm, notes = res["metrics"], res["notes"]
    failed_ids, note = check(args.workload, work, notes)
    attempted = max(1, int(jm["attempted"]))
    failed = min(attempted, len(failed_ids))
    if failed:
        log(f"OUTPUT CHECK FAILED: {note}")
    jm["check.failed_frac"] = failed / attempted
    log("notes: " + json.dumps(notes))

    table = PER_LAYER if args.trace else END_TO_END
    metrics = {name: {"value": float(jm.get(name, 0.0)), "unit": unit}
               for name, unit, _ in table}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
