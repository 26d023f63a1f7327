"""SparkSession factory.

The reference hard-codes its session config inline (reference
spark_streaming.py:18-22: appName + mongo uri + 4g driver memory). Here the
session is config-driven and tuned for analytic workloads: AQE on (runtime
shuffle-partition coalescing + skew-join splitting), Arrow enabled for any
pandas interchange, UTC session timezone so timestamp semantics are stable
across engines (the DuckDB oracle also runs UTC).

``local[N]`` is a single JVM; on a real cluster the same code runs unchanged —
everything downstream is declarative DataFrame code, so the physical plan
adapts to the actual executor topology.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the driver harness: local[$SPARK_GRAFT_CPUS] with
# shuffle parallelism matched to cores (not Spark's default 200 — at local
# scale 200 tiny shuffle partitions is pure scheduling overhead; at cluster
# scale AQE re-coalesces anyway).
_DEFAULT_SHUFFLE_PARTITIONS = "32"


def get_spark(
    app_name: str = "apache_spark_streaming_project_spark",
    cpus: str | int | None = None,
    shuffle_partitions: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the process-wide SparkSession.

    Parameters
    ----------
    cpus: local-mode parallelism; defaults to ``$SPARK_GRAFT_CPUS`` or ``*``.
    shuffle_partitions: defaults to ``$SPARK_GRAFT_SHUFFLE`` or 32.
    extra_conf: extra ``spark.*`` settings applied last.
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*")
    shuffle = str(
        shuffle_partitions
        or os.environ.get("SPARK_GRAFT_SHUFFLE")
        or _DEFAULT_SHUFFLE_PARTITIONS
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # InferFiltersFromGenerate synthesizes `size(e) > 0 AND
        # isnotnull(e)` below every explode/posexplode and pushes it
        # toward the scan. When the generator child is a COMPUTED array
        # (word shingles, hashed grams, winnowed fingerprints — this
        # engine's hot paths), the pushed filter re-evaluates the whole
        # HOF expression per input row, duplicating the kernel at every
        # scale and, under a fixture-economics repartition, collapsing
        # it into the single-split scan task (round-13 opt: measured
        # 11.3 s -> 3.5 s on x12_dsir_weights, 5.9 s -> 2.5 s on
        # x4_winnow_fingerprints at sf0.1; explode already drops
        # empty/null arrays, so the inferred filter prunes nothing this
        # engine's plans need — every Generate sits directly on the
        # projection that computes its child).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # Python worker spawn must survive a loaded box: the JVM waits only
        # 15 s (spark.python.authenticate.socketTimeout default) for a
        # freshly-forked worker to connect back, and under CPU contention a
        # cold Python Data Source worker can miss that window — observed as
        # "Python worker failed to connect back" (STREAM_FAILED) killing the
        # m10 drain on a low-core run. 120 s costs nothing when healthy (the
        # accept returns as soon as the worker is up) and rides out
        # contention at any scale.
        .config("spark.python.authenticate.socketTimeout", "120s")
        # testdata events.parquet carries TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long and convert in load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # A file stream source lists each micro-batch's files again, and
        # above this many paths (default 32) it does so with a Spark job of
        # one task per path. A 10 s census epoch at 10 files/s holds ~50
        # files, so that job was the largest of the epoch: 50 tasks, where
        # all of write_batch runs 23. Listed on the driver instead, the
        # epoch's getBatch took 55 ms instead of 455 ms (4 local cores).
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
