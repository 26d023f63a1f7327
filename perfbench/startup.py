"""Session set-up shared by the workloads: the engine's SparkSession start,
with the JVM launch, followed by a workload-specific warm-up, both timed.

Set-up runs once per process.  A second start in the same process would
reuse the warm JVM and measure a different, smaller quantity, and a fresh
JVM per repeat would cost more than a whole measured window; the benchmark
instead reports the median of ``setup_s`` over its repeated runs."""

from __future__ import annotations

import time

from apache_spark_streaming_project_spark import get_spark


def start_session(cpus: int, tracer, warmup, rss=None):
    """Start the session and run ``warmup(spark)``; return the session and
    the start, warm-up and total times in seconds."""
    t0 = time.perf_counter()
    with tracer.span("session.get_spark", trace="setup"):
        spark = get_spark("perfbench", cpus=cpus)
    if rss is not None:
        rss.jvm_pid = spark.sparkContext._gateway.proc.pid
    t1 = time.perf_counter()
    with tracer.span("session.warmup", trace="setup"):
        warmup(spark)
    t2 = time.perf_counter()
    return spark, {
        "setup_s": t2 - t0,
        "session.start_s": t1 - t0,
        "session.warmup_s": t2 - t1,
    }
