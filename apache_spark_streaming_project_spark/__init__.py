"""apache_spark_streaming_project_spark — a PySpark-native analytics engine.

A brand-new, Spark-first implementation of the query and data-processing
capabilities of the reference repo ``tharushav/Apache_spark_streaming_project``
(a census-stream analytics pipeline: CSV micro-batches -> enrichment ->
aggregation -> anomaly detection -> snapshot sinks -> dashboard read-side
queries), extended with large-scale training-data-pipeline operators
(dedup, similarity search, text analysis, multimodal columns).

Everything is expressed with the DataFrame / SQL / Structured Streaming API so
Catalyst + Tungsten pick the physical strategy; Python UDFs are confined to
Arrow-batched pandas UDFs on the genuinely non-relational paths.

Layout:
    session      SparkSession factory (config-driven, AQE on)
    schemas      declared input schemas + testdata loaders
    operators/   batch relational operators (enrich, aggregate, anomaly,
                 readside, dedup, similarity, text, multimodal)
    sources/     batch & streaming sources (file, rate, fixture generator)
    streaming/   the streaming pipeline shell (foreachBatch sinks,
                 event-time windowed variants, reset utility)
    functions/   reusable column-expression helpers (exact decimal aggs,
                 vector math, bucketing)
    plans/       plan-inspection helpers (explain capture, shuffle counts)
"""

from apache_spark_streaming_project_spark.session import get_spark

__version__ = "0.1.0"

__all__ = ["get_spark", "__version__"]
