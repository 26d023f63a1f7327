"""Read-side query operators: D1-D15 (SURVEY.md §2.2-2.6).

The reference's dashboard pushes filter/sort/limit to MongoDB and does
group-sums / top-k / percent-of-group / latest-per-group in client-side
pandas (reference dashboard.py:150-480). Here each is a single declarative
Spark plan over the result (or fact) tables:

* trailing time-window filter  -> pushed-down range predicate (D1)
* snapshot re-aggregation      -> groupBy().sum() (D5/D6)
* percent-of-group             -> window partition sum (D7)
* latest-per-group             -> row_number() ranking window (D8) — replaces
                                  the reference's groupby-max + merge-back
                                  join (dashboard.py:408-409) with a single
                                  shuffle on the partition key
* top-k                        -> orderBy().limit(k) = TakeOrderedAndProject,
                                  a distributed top-k, not a full sort (D13/D14)
* custom categorical order     -> label->rank CASE mapping (D15)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def trailing_window(
    df: DataFrame,
    ts_col: str,
    interval_sql: str,
    now: Column | None = None,
) -> DataFrame:
    """D1 — keep rows with ``ts >= now - INTERVAL`` (reference
    dashboard.py:473-480). ``now`` defaults to the data's max timestamp so
    results are deterministic/testable (SURVEY.md §7.5 risk 1); pass
    ``F.current_timestamp()`` for wall-clock semantics.

    The range predicate is a plain comparison -> pushed into the parquet
    scan (row-group stats pruning).
    """
    if now is None:
        bound = df.agg(
            (F.max(ts_col) - F.expr(f"INTERVAL {interval_sql}")).alias("_cutoff")
        )
        return (
            df.crossJoin(F.broadcast(bound))
            .filter(F.col(ts_col) >= F.col("_cutoff"))
            .drop("_cutoff")
        )
    return df.filter(F.col(ts_col) >= now - F.expr(f"INTERVAL {interval_sql}"))


def reaggregate_snapshots(df: DataFrame, keys: list[str], count_col: str = "count") -> DataFrame:
    """D5/D6 — sum per-batch snapshot counts over the selected range
    (reference dashboard.py:274,310,346)."""
    return df.groupBy(*keys).agg(F.sum(count_col).alias("total"))


def percent_of_group(
    df: DataFrame, group_col: str, count_col: str = "count", out: str = "percentage"
) -> DataFrame:
    """D7 — partitioned sum broadcast back to each row, then ratio
    (reference dashboard.py:349-350: pandas transform('sum')). One shuffle
    on the partition key; integer sums are exact so the final division is
    deterministic."""
    w = Window.partitionBy(group_col)
    total = F.sum(count_col).over(w)
    return df.withColumn(
        out, F.col(count_col).cast("double") / total.cast("double") * 100.0
    )


def latest_per_group(df: DataFrame, keys: list[str], order_cols: list[Column]) -> DataFrame:
    """D8 — latest snapshot per group via ranking window (reference
    dashboard.py:408-409 does groupby-max + pd.merge join-back; the window
    form needs one shuffle and no join). Callers pass a total order
    (e.g. [ts.desc(), unique_id.desc()]) so ties are deterministic."""
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )


def top_k(df: DataFrame, order_cols: list[Column], k: int) -> DataFrame:
    """D13/D14 — deterministic top-k: ``orderBy(total-order).limit(k)``
    compiles to TakeOrderedAndProject (per-partition heap + driver merge —
    no full sort, no single-node bottleneck). Reference: pandas
    ``.nlargest`` (dashboard.py:313,412)."""
    return df.orderBy(*order_cols).limit(k)


def categorical_rank(labels: list[str], c: Column | str) -> Column:
    """D15 — label -> ordinal rank for custom sort orders (reference
    dashboard.py:277-279 ordered pd.Categorical). A folded CASE chain;
    unknown labels rank last."""
    c = F.col(c) if isinstance(c, str) else c
    expr = F.lit(len(labels))
    # build CASE from the last label backwards so earlier labels win
    for i in range(len(labels) - 1, -1, -1):
        expr = F.when(c == labels[i], i).otherwise(expr)
    return expr
