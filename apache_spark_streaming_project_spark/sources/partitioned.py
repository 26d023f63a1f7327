"""Hive-partitioned parquet export + pruned read-back.

The standard layout for a corpus that downstream jobs slice by a
low-cardinality key (language, source, date): one directory per key value
(`lang=en/...`), so a filtered read lists only the matching directories —
partition PRUNING happens at file-listing time, before any row or footer
is read. The reference has no batch export at all (its only persistence is
the per-row Mongo sink, spark_streaming.py:99-197); this is the idiomatic
Spark counterpart for bulk result/corpus export.

Scale notes: `repartition(keys)` before `partitionBy(keys)` makes each
task hold rows for ONE partition value, so each directory gets
`spark.sql.shuffle.partitions / |values|`-ish files instead of every task
writing a sliver into every directory (the small-files explosion —
tasks × values files). For skewed keys add a salt column to the
repartition (not the layout) to split the hot directory's writers.
Never partition by a high-cardinality key: directories-per-value below
~file-size granularity defeat both listing and scan efficiency —
bucketing (sources/bucketed.py) is the high-cardinality tool.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame, path: str, keys: list[str], mode: str = "overwrite"
) -> None:
    """Export ``df`` hive-partitioned by ``keys`` (see module notes for the
    repartition-before-partitionBy file-count rationale)."""
    df.repartition(*[F.col(k) for k in keys]).write.partitionBy(
        *keys
    ).mode(mode).parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read a hive-partitioned export; partition keys come back as columns
    recovered from the directory names, and equality/IN filters on them
    prune at file-listing time (visible as PartitionFilters in the scan
    node, asserted in tests/test_plans.py)."""
    return spark.read.parquet(path)
