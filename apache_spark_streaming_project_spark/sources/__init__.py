"""Batch & streaming sources (S1/G1 contracts, SURVEY.md §2.1), including
the custom Python Data Source connector (batch + streaming)."""

from apache_spark_streaming_project_spark.sources.files import (
    read_census_stream,
)
from apache_spark_streaming_project_spark.sources.pydatasource import (
    SyntheticCorpusDataSource,
)

__all__ = [
    "SyntheticCorpusDataSource",
    "read_census_stream",
]
