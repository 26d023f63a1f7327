"""Benchmark entry point.

    python3 perfbench/run.py --workload census_stream --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository.  The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``).  A traced run also writes its spans, per-layer
record and tracing overhead to ``.perfbench/out/``.  See
``perfbench/README.md`` for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
REQUIRED = (
    "apache_spark_streaming_project_spark/__init__.py",
    "tools/oracle_check.py",
)
WORKLOADS = ("census_stream", "registry_pass")
DRIVER_MEM = "1g"
END_TO_END = {
    "setup_s": "s",
    "latency_typical_s": "s",
    "latency_tail_s": "s",
    "pass_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "simulator.files": "count",
    "simulator.rows": "count",
    "simulator.late_s_max": "s",
    "sources.latest_offset_ms_p50": "ms",
    "sources.get_batch_ms_p50": "ms",
    "sources.backlog_files_max": "count",
    "pipeline.epochs": "count",
    "pipeline.rows_per_epoch_p50": "count",
    "pipeline.trigger_ms_p50": "ms",
    "pipeline.add_batch_ms_p50": "ms",
    "pipeline.query_planning_ms_p50": "ms",
    "pipeline.wal_commit_ms_p50": "ms",
    "pipeline.commit_offsets_ms_p50": "ms",
    "pipeline.jobs_per_epoch": "count",
    "pipeline.tasks_per_epoch": "count",
    "pipeline.sink_files_per_epoch": "count",
    "operators.enrich_s_p50": "s",
    "operators.result_tables_s_p50": "s",
    "pipeline.sink_write_s_p50": "s",
    "readside.summary_latest_s": "s",
    "readside.age_distribution_s": "s",
    "readside.education_top8_s": "s",
    "readside.gender_percent_s": "s",
    "readside.occupation_latest_s": "s",
    "readside.trend_s": "s",
    "readside.files_listed": "count",
    "readside.jobs_per_refresh": "count",
    "registry.fn_s": "s",
    "registry.plan_s": "s",
    "registry.exec_s": "s",
    "registry.jobs": "count",
    "registry.stages": "count",
    "registry.tasks": "count",
    "registry.family_s.s": "s",
    "registry.family_s.d": "s",
    "registry.family_s.j": "s",
    "registry.family_s.sql": "s",
    "registry.family_s.x": "s",
    "registry.family_s.m": "s",
    "lifecycle.queries": "count",
    "lifecycle.batches": "count",
    "lifecycle.jobs_per_batch": "count",
    "lifecycle.query_planning_ms_sum": "ms",
    "lifecycle.add_batch_ms_sum": "ms",
    "lifecycle.wal_commit_ms_sum": "ms",
    "lifecycle.commit_offsets_ms_sum": "ms",
    "lifecycle.latest_offset_ms_sum": "ms",
    "lifecycle.state_commit_ms_sum": "ms",
    "lifecycle.state_rows_max": "count",
    "lifecycle.between_batches_s": "s",
}


class Context:
    def __init__(self, args, work_dir, tracer, rss):
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.cpus = args.cores
        self.work_dir = work_dir
        self.tracer = tracer
        self.rss = rss


def _prepare_env(work_dir: str) -> None:
    """Keep every file the run writes inside the checkout, and give Python
    workers the repository on their path (UDF queries import the package)."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # The driver heap is set here, whatever the caller's environment says,
    # and recorded with the result.  At the program's default, 8 GB, the
    # collector's heap sizing decided peak RSS: it spread by a third across
    # runs of one workload.  With 1 GB, more live data than the data here
    # needs shows as committed heap up to the cap, then as collection time
    # in the timings, and past it as a failed run.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_SHUFFLE", None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _jvm_memory() -> dict:
    """The driver heap the session was given and, next to peak RSS, the
    heap still in use after the JVM's last garbage collection."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return {}
    mf = sc._jvm.java.lang.management.ManagementFactory
    after_gc = 0
    for pool in mf.getMemoryPoolMXBeans():
        usage = pool.getCollectionUsage()
        if usage is not None:
            after_gc += usage.getUsed()
    return {
        "driver_memory": sc.getConf().get("spark.driver.memory", None),
        "heap_after_gc_mb": after_gc / 2**20,
    }


def _stop_jvm() -> None:
    """Stop the session and the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--cores", type=int, default=min(4, len(os.sched_getaffinity(0))),
        help="local[N] parallelism (default: min(4, cores)); 1 gives the "
        "single-threaded baseline",
    )
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine (missing {missing}); "
              "run from the repository root", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work_dir = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(work_dir)
    _prepare_env(work_dir)
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

    from probes import RssSampler, Tracer
    from stats import verdict

    tracer = Tracer(bool(args.trace))
    rss = RssSampler().start()
    ctx = Context(args, work_dir, tracer, rss)
    if args.workload == "census_stream":
        import census as workload
    else:
        import registry as workload

    t0 = time.time()
    try:
        result = workload.run(ctx)
        result["extras"].update(_jvm_memory())
    finally:
        peak_mb = rss.stop()
        _stop_jvm()
        shutil.rmtree(work_dir, ignore_errors=True)

    metrics = dict(result["metrics"], peak_rss_mb=peak_mb)
    result["extras"]["peak_rss_anon_mb"] = rss.peak_anon_kb / 1024.0
    outcomes = result["outcomes"]
    failed_checks = {k: v for k, v in result["checks"].items() if v is not None}
    correct = verdict(metrics, outcomes, result["checks"])
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "cores": args.cores,
        "trace": args.trace,
        "wall_s": time.time() - t0,
        "correct": correct,
        "metrics": metrics,
        "extras": result["extras"],
        "failed_checks": failed_checks,
        "failures": outcomes.reasons,
        "queries": result.get("queries"),
    }
    stem = f"{args.workload}-seed{args.seed}-c{args.cores}"
    if args.trace:
        record["layers"] = result["layers"]
        record["self_time_s"] = tracer.self_times()
        untraced_path = os.path.join(out_dir, f"{stem}-trace0.json")
        if os.path.exists(untraced_path):
            with open(untraced_path) as f:
                untraced = json.load(f)["metrics"]
            record["tracing_overhead"] = {
                k: (metrics[k] - untraced[k])
                if metrics[k] is not None and untraced.get(k) is not None else None
                for k in END_TO_END
            }
        record["spans"] = tracer.spans
    with open(os.path.join(out_dir, f"{stem}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    print("perfbench summary:", json.dumps(
        {k: record[k] for k in ("workload", "seed", "correct", "extras", "failed_checks", "failures")},
        default=str,
    ))
    if args.trace:
        values = {k: result["layers"].get(k, 0) for k in PER_LAYER}
        units = PER_LAYER
    else:
        values = metrics
        units = END_TO_END
    print(json.dumps({
        "correct": correct,
        "attempted": outcomes.attempted,
        "failed": outcomes.failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
