"""Shared pytest fixtures: one session-scoped SparkSession (local mode,
small parallelism for fast startup) and sf0.001 testdata paths."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from apache_spark_streaming_project_spark.streaming.batch_store import (  # noqa: E402
    read_store,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from apache_spark_streaming_project_spark import get_spark

    spark = get_spark("tests", cpus=4, shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def store_rows(spark, store: str):
    """A batch-keyed store (streaming/batch_store.py:read_store) as
    sorted row tuples."""
    return sorted(map(tuple, read_store(spark, store).collect()))


def store_kept(spark, store: str, key: str = "doc_id"):
    """Kept-set view of a dedup text/vec store: sorted (key, epoch)
    pairs where kept is true."""
    from pyspark.sql import functions as F

    return sorted(
        (r[key], r["epoch"])
        for r in read_store(spark, store).filter(F.col("kept")).collect()
    )
