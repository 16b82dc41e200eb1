#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark with sbt (offline) and keeps the runtime classpath in
.bench_build/perfbench; later runs reuse it while the sources are
unchanged. Each run starts one JVM that
generates the workload's inputs from the seed, warms up, times the passes
and checks the outputs; this script turns its raw samples into metrics.
The last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import benchmath

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.relpath(HERE)
BUILD = os.path.join(".bench_build", "perfbench")
DEADLINE_S = 170
# op_tail_s is this nearest-rank percentile of the latencies of a traced
# run's untraced operations.
TAIL_P = 90

WORKLOADS = ("ingest", "query_suite")

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "records_per_s": "1/s",
    "rows_per_s": "1/s", "peak_heap_mb": "MB", "peak_rss_mb": "MB",
}

PER_LAYER = {
    "pipeline.batches": "count", "pipeline.batch_s": "s", "pipeline.jobs_per_batch": "count",
    "enrich.records": "count", "enrich.failed_attempts": "count", "enrich.dead": "count",
    "enrich.useful_ratio": "ratio",
    "io.files_written": "count", "io.bytes_written": "bytes", "io.bytes_per_record": "bytes",
    "agg.files_listed": "count", "agg.jobs": "count", "agg.task_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.run_s": "s",
    "queries.suite_s": "s", "queries.cohort_s": "s",
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.tasks_per_stage": "count", "spark.scheduler_delay_s": "s", "spark.driver_gap_s": "s",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "streaming.batches": "count", "streaming.batch_s": "s", "streaming.add_batch_s": "s",
    "streaming.overhead_s": "s", "streaming.admitted_ratio": "ratio",
    "cache.entries_left": "count", "aggregate_s": "s", "op_tail_s": "s", "failed_frac": "ratio",
    "trace.overhead_frac": "ratio",
}

JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a source change rebuilds."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project", "src/main", os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project"), os.path.join(BENCH, "src")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(root)
            if "target" not in d.split(os.sep) for f in files)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def jvm(tmp, work):
    """The java command line up to the main class's arguments."""
    return ["java"] + [a for p in JAVA_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dperfbench.dir={BENCH}"]


def build():
    """Compile with sbt unless the last build used the same sources; returns
    the runtime classpath (jars)."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspathAsJars"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=600)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    classpath = lines[-1]
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def host_facts():
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": list(os.getloadavg())}


def metrics_of(raw, trace):
    passes = raw["untraced"] + raw["traced"] + raw["paired_untraced"]
    attempted = sum(len(p["ops"]) for p in passes) + raw["checks"]
    failed = sum(p["failed_ops"] for p in passes) + len(raw["failures"])
    if not trace:
        untraced = raw["untraced"]
        setup = raw["setup"]
        values = {
            "setup_s": setup["session_s"] + benchmath.median(setup["generate_s"]) + setup["warmup_s"],
            "wall_s": benchmath.median([p["wall_s"] for p in untraced]),
            "op_p50_s": benchmath.median([s for p in untraced for s in p["ops"]]),
            "records_per_s": benchmath.median([p["records"] / p["records_s"] for p in untraced]),
            "rows_per_s": benchmath.median([p["rows"] / p["rows_s"] for p in untraced]),
            "peak_heap_mb": raw["peak_heap_mb"],
            "peak_rss_mb": raw["peak_rss_mb"],
        }
        units = END_TO_END
    else:
        traced, paired = raw["traced"], raw["paired_untraced"]
        values = {k: benchmath.median([p["layer"].get(k, 0.0) for p in traced]) for k in PER_LAYER}
        # Series hold one sample per operation; their median is over every
        # traced operation of the run.
        values.update({k: benchmath.median([x for p in traced for x in p["series"].get(k, [])])
                       for k in {k for p in traced for k in p["series"]}})
        records = benchmath.median([p["records"] + p["rows"] for p in traced])
        values.update({
            "io.bytes_per_record": values["io.bytes_written"] / records if records else 0.0,
            "aggregate_s": benchmath.median([p["aggregate_s"] for p in traced]),
            "op_tail_s": benchmath.nearest_rank([s for p in paired for s in p["ops"]], TAIL_P),
            "failed_frac": benchmath.failed_share(attempted, failed),
            "trace.overhead_frac": benchmath.median([p["wall_s"] for p in traced])
            / benchmath.median([p["wall_s"] for p in paired]) - 1,
        })
        units = PER_LAYER
    return attempted, failed, {k: {"value": values[k], "unit": u} for k, u in units.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", metavar="PATH",
                    help="write query_suite's digests to PATH/<group>.json instead of checking them")
    args = ap.parse_args()

    if not (os.path.isfile("build.sbt") and os.path.isdir(os.path.join("src", "main", "scala", "graft"))):
        fail("run from the root of a checkout of the program (build.sbt and src/main/scala/graft)")
    host_start = host_facts()
    classpath = build()
    start = time.monotonic()

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.abspath(os.path.join(BUILD, "work", tag))
    tmp = os.path.join(work, "tmp")
    runs = os.path.join(BUILD, "runs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(runs, exist_ok=True)
    raw_path = os.path.join(runs, tag + ".raw.json")
    if os.path.exists(raw_path):
        os.remove(raw_path)

    cmd = jvm(tmp, work) + [
        "-cp", classpath, "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
        str(args.trace), work, raw_path]
    if args.record_digests:
        cmd.append(os.path.abspath(args.record_digests))
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with subprocess.Popen(cmd, env=env, stdout=sys.stderr, stderr=sys.stderr) as proc:
        try:
            code = proc.wait(timeout=max(10, DEADLINE_S - (time.monotonic() - start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("the run did not finish in time")
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(raw_path):
        fail(f"the benchmark JVM exited with code {code}")

    with open(raw_path) as f:
        raw = json.load(f)
    attempted, failed, metrics = metrics_of(raw, args.trace == 1)
    raw["host"].update(host_start)
    raw["host"]["loadavg_end"] = list(os.getloadavg())
    if raw["spans"]:
        raw["self_time"] = benchmath.self_time_by_name(raw["spans"])
    raw["metrics"] = metrics
    n_ops = sum(len(p["ops"]) for p in raw["untraced"] + raw["paired_untraced"])
    raw["op_samples"] = {"count": n_ops, "tail_p": TAIL_P,
                         "beyond_tail": benchmath.samples_beyond(n_ops, TAIL_P),
                         "supported_p": benchmath.tail_percentile(n_ops)}
    with open(raw_path, "w") as f:
        json.dump(raw, f, indent=1)
    for msg in raw["failures"]:
        print(f"perfbench: wrong output: {msg}", file=sys.stderr)
    print(json.dumps({"run": tag, "host": raw["host"], "fixtures": raw["fixtures"],
                      "record": raw_path}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
