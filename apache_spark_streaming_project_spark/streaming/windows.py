"""Event-time windowed variants (M4 — "what the reference should have done",
SURVEY.md §2.9 gaps).

The reference has no watermarks, no event-time windows, and no cross-batch
state: every aggregate is a per-batch snapshot keyed by wall-clock time.
These operators provide the idiomatic Structured Streaming equivalents:

* tumbling/sliding window aggregation with watermark (late data handled
  instead of silently joining the next batch),
* streaming dedup of re-delivered rows within a watermark (bounded
  state),
* session windows (gap-based) for completeness.

All are stateful streaming aggregations backed by the state store; the
watermark bounds state size, which is what makes them viable on unbounded
input at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def windowed_counts(
    stream: DataFrame,
    event_time_col: str,
    keys: list[str],
    window_duration: str = "10 seconds",
    slide_duration: str | None = None,
    watermark: str = "30 seconds",
    aggs: list[Column] | None = None,
) -> DataFrame:
    """Tumbling (or sliding, if ``slide_duration``) event-time window
    aggregation with watermark. The tumbling form reproduces the reference's
    per-batch snapshots as proper event-time windows (SURVEY.md §2.9).
    """
    win = (
        F.window(F.col(event_time_col), window_duration, slide_duration)
        if slide_duration
        else F.window(F.col(event_time_col), window_duration)
    )
    aggs = aggs or [F.count("*").alias("count")]
    out = (
        stream.withWatermark(event_time_col, watermark)
        .groupBy(win.alias("window"), *[F.col(k) for k in keys])
        .agg(*aggs)
    )
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *[c for c in out.columns if c != "window"],
    )


def streaming_dedup_within_watermark(
    stream: DataFrame,
    keys: list[str],
    event_time_col: str,
    watermark: str = "1 minute",
) -> DataFrame:
    """X1-streaming variant for RE-DELIVERED duplicates: dedup by ``keys``
    ALONE, tolerating different event times among the duplicates (an
    at-least-once upstream stamps each redelivery with a fresh time, so
    keying the classic ``dropDuplicates`` on (keys, time) would keep
    both). ``dropDuplicatesWithinWatermark`` keeps the first arrival per
    key and suppresses any duplicate seen while the key is within the
    watermark; state still evicts with the watermark (bounded memory)."""
    return stream.withWatermark(
        event_time_col, watermark
    ).dropDuplicatesWithinWatermark(keys)


def session_windows(
    stream: DataFrame,
    event_time_col: str,
    keys: list[str],
    gap: str = "30 seconds",
    watermark: str = "1 minute",
) -> DataFrame:
    """Gap-based session windows (not in the reference; completes the
    streaming window surface)."""
    return (
        stream.withWatermark(event_time_col, watermark)
        .groupBy(
            F.session_window(F.col(event_time_col), gap).alias("session"),
            *[F.col(k) for k in keys],
        )
        .agg(F.count("*").alias("count"))
        .select(
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            *[F.col(k) for k in keys],
            "count",
        )
    )
