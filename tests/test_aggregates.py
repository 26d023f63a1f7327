"""Unit tests for S19-S25 aggregates — tiny hand-computed inputs plus a
statistics cross-check against Python's statistics module."""

from __future__ import annotations

import statistics

import pytest
from pyspark.sql import Row

from apache_spark_streaming_project_spark.operators.aggregates import (
    SNAPSHOT_FAMILIES,
    census_snapshots,
)
from apache_spark_streaming_project_spark.operators.enrich import enrich_census
from apache_spark_streaming_project_spark.schemas import CENSUS_SCHEMA


def _census_row(age, hours, occupation, education="Bachelors"):
    return Row(
        age=age,
        workclass="Private",
        education=education,
        marital_status="Never-married",
        occupation=occupation,
        relationship="Not-in-family",
        race="White",
        gender="Female" if age % 2 else "Male",
        capital_gain=0,
        capital_loss=0,
        hours_per_week=hours,
        native_country="United-States",
        income=1 if age > 40 else 0,
        capital_income=0,
    )


@pytest.fixture(scope="module")
def census_df(spark):
    rows = [
        _census_row(a, h, occ)
        for a, h, occ in [
            (25, 40, "Tech-support"),
            (35, 50, "Tech-support"),
            (45, 20, "Sales"),
            (55, 60, "Sales"),
            (65, 10, "Sales"),
        ]
    ]
    return spark.createDataFrame(rows, CENSUS_SCHEMA)


def _family(df, name):
    """One family's rows of ``census_snapshots``, with its columns."""
    keys, values = SNAPSHOT_FAMILIES[name]
    return (
        census_snapshots(enrich_census(df))
        .filter(f"family = '{name}'")
        .select(*keys, *values)
        .collect()
    )


def test_summary_statistics_matches_python(census_df):
    (row,) = _family(census_df, "summary_statistics")
    ages = [25, 35, 45, 55, 65]
    hours = [40, 50, 20, 60, 10]
    assert row.avg_age == pytest.approx(statistics.mean(ages), abs=1e-12)
    assert row.stddev_age == pytest.approx(statistics.stdev(ages), abs=1e-9)
    assert row.avg_hours == pytest.approx(statistics.mean(hours), abs=1e-12)
    assert row.stddev_hours == pytest.approx(statistics.stdev(hours), abs=1e-9)
    assert row.min_age == 25 and row.max_age == 65
    assert row.count_high_income == 3 and row.count_low_income == 2


def test_grouped_counts(census_df):
    out = {
        (r.gender, r.income_category): r["count"]
        for r in _family(census_df, "gender_income")
    }
    assert out == {
        ("Female", "High Income (>50K)"): 3,
        ("Female", "Low Income (<=50K)"): 2,
    }


def test_occupation_stats(census_df):
    out = {r.occupation: r for r in _family(census_df, "occupation_stats")}
    assert out["Tech-support"]["count"] == 2
    assert out["Tech-support"]["avg_age"] == pytest.approx(30.0)
    assert out["Sales"]["avg_hours"] == pytest.approx(30.0)


def test_null_keys_stay_in_their_family(spark):
    """A NULL occupation or education is a group of its family, not a
    grouping-sets total row: ``family`` comes from ``grouping_id()``."""
    df = spark.createDataFrame(
        [
            _census_row(25, 40, "Sales"),
            _census_row(35, 50, None),
            _census_row(45, 20, None, education=None),
        ],
        CENSUS_SCHEMA,
    )
    occupations = {r.occupation: r["count"] for r in _family(df, "occupation_stats")}
    assert occupations == {"Sales": 1, None: 2}
    education = {
        (r.education, r.income_category): r["count"]
        for r in _family(df, "education_income")
    }
    assert education == {
        ("Bachelors", "Low Income (<=50K)"): 2,
        (None, "High Income (>50K)"): 1,
    }
    (summary,) = _family(df, "summary_statistics")
    assert summary.min_age == 25 and summary.max_age == 45


class TestHeavyHitters:
    """Mergeable Misra-Gries heavy hitters (X11 family): raw rows never
    shuffle — per-Arrow-batch summaries of <= candidates rows per group
    merge declaratively — and the MG guarantee holds against exact
    counts: undercount <= N_group/(candidates+1), every item above that
    bound present."""

    def _corpus(self, spark, n_parts):
        from pyspark.sql import functions as F

        # Zipf-ish: token t_i appears ~ N/(i+1) times, two groups
        rows = []
        for g in ("a", "b"):
            for i in range(40):
                rows += [(g, f"t{i:02d}")] * (2000 // (i + 1))
        import random

        random.Random(7).shuffle(rows)
        return spark.createDataFrame(rows, "g string, tok string").repartition(
            n_parts
        )

    def test_mg_guarantee_vs_exact(self, spark):
        from apache_spark_streaming_project_spark.operators.mergeable import (
            heavy_hitters,
        )

        df = self._corpus(spark, 8).cache()
        exact = {
            (r.g, r.tok): r["cnt"]
            for r in df.groupBy("g", "tok").agg(
                __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("cnt")
            ).collect()
        }
        n_per_group = sum(v for (g, _), v in exact.items() if g == "a")
        cand = 25  # fewer than the 40 distinct tokens: compaction is real
        got = {
            (r.g, r.tok): r.est_count
            for r in heavy_hitters(df, ["g"], "tok", k=10, candidates=cand).collect()
        }
        bound = n_per_group / (cand + 1)
        # every returned estimate is a valid MG estimate
        for key, est in got.items():
            true = exact[key]
            assert est <= true, f"{key}: overcount {est} > {true}"
            assert true - est <= bound + 1e-9, f"{key}: undercount past bound"
        # the true top-10 per group all survive (their counts dwarf the bound)
        for g in ("a", "b"):
            true_top = {
                t for (gg, t), v in exact.items()
                if gg == g and v > bound
            }
            top10_true = sorted(
                ((v, t) for (gg, t), v in exact.items() if gg == g),
                reverse=True,
            )[:10]
            got_items = {t for (gg, t) in got if gg == g}
            for v, t in top10_true:
                if v > bound:
                    assert t in got_items, f"true heavy hitter {t} missing"

    def test_partitioning_invariance_of_heavy_set(self, spark):
        from apache_spark_streaming_project_spark.operators.mergeable import (
            heavy_hitters,
        )

        tops = []
        for n_parts in (1, 4, 16):
            df = self._corpus(spark, n_parts)
            got = heavy_hitters(df, ["g"], "tok", k=5, candidates=200).collect()
            tops.append(
                sorted((r.g, r.tok, r.rank) for r in got)
            )
        # with candidates >= distinct items the sketch is EXACT, so the
        # ranked set is identical under any partitioning
        assert tops[0] == tops[1] == tops[2]

    def test_summary_rows_are_bounded(self, spark):
        from apache_spark_streaming_project_spark.operators.mergeable import (
            partial_heavy_hitters,
        )

        df = self._corpus(spark, 4)
        cand = 10
        parts = partial_heavy_hitters(df, ["g"], "tok", candidates=cand)
        # <= candidates rows per group per input partition (4 partitions,
        # 2 groups): the shuffle is bounded by summaries, not rows
        assert parts.count() <= 4 * 2 * cand
        from pyspark.sql import functions as F

        per = parts.groupBy("g").count().collect()
        assert all(r["count"] <= 4 * cand for r in per)

    def test_validation(self, spark):
        import pytest as _pytest

        from apache_spark_streaming_project_spark.operators.mergeable import (
            partial_heavy_hitters,
        )

        with _pytest.raises(ValueError, match="candidates"):
            partial_heavy_hitters(
                self._corpus(spark, 1), ["g"], "tok", candidates=0
            )


class TestKMVSketch:
    """KMV k-minimum-values sketch: mergeable distinct-count and
    set-overlap estimation (Beyer et al. SIGMOD'07). Deterministic for a
    given item set (fixed xxhash64, no RNG), so every assertion here is
    a hard pin, not a statistical hope."""

    def _ints(self, spark, lo, hi, group="g"):
        from pyspark.sql import functions as F

        return (
            spark.range(lo, hi)
            .select(
                F.lit(group).alias("g"),
                F.concat(F.lit("item_"), F.col("id")).alias("item"),
            )
        )

    def test_exact_below_k(self, spark):
        from apache_spark_streaming_project_spark.operators.mergeable import (
            kmv_estimate,
            kmv_sketch,
        )

        df = self._ints(spark, 0, 500)
        sk = kmv_sketch(df, ["g"], "item", k=1024)
        est = kmv_estimate(sk, ["g"], k=1024).first()
        assert est.n_sketch == 500
        assert est.est_distinct == 500.0  # sketch not full -> exact

    def test_estimator_accuracy_above_k(self, spark):
        from apache_spark_streaming_project_spark.operators.mergeable import (
            kmv_estimate,
            kmv_sketch,
        )

        n = 100_000
        df = self._ints(spark, 0, n)
        sk = kmv_sketch(df, ["g"], "item", k=1024)
        est = kmv_estimate(sk, ["g"], k=1024).first()
        assert est.n_sketch == 1024
        # 1/sqrt(k-2) ~ 3.1% design error; allow 4x margin
        assert abs(est.est_distinct - n) / n < 0.125, est.est_distinct

    def test_merge_equals_direct_sketch(self, spark):
        """Sketch(A union B) must equal merge(Sketch(A), Sketch(B))
        row-for-row — the mergeability contract."""
        from apache_spark_streaming_project_spark.operators.mergeable import (
            kmv_merge,
            kmv_sketch,
        )

        a = self._ints(spark, 0, 30_000)
        b = self._ints(spark, 20_000, 60_000)  # overlapping shards
        k = 256
        direct = kmv_sketch(a.unionByName(b), ["g"], "item", k=k)
        merged = kmv_merge(
            kmv_sketch(a, ["g"], "item", k=k).unionByName(
                kmv_sketch(b, ["g"], "item", k=k)
            ),
            ["g"],
            k=k,
        )
        assert direct.exceptAll(merged).count() == 0
        assert merged.exceptAll(direct).count() == 0

    def test_partitioning_invariance(self, spark):
        from apache_spark_streaming_project_spark.operators.mergeable import (
            kmv_sketch,
        )

        df = self._ints(spark, 0, 50_000)
        k = 128
        one = sorted(
            r.hv for r in kmv_sketch(df.coalesce(1), ["g"], "item", k=k).collect()
        )
        many = sorted(
            r.hv
            for r in kmv_sketch(
                df.repartition(32), ["g"], "item", k=k
            ).collect()
        )
        assert one == many

    def test_overlap_estimates(self, spark):
        """Planted overlap: |A|=40k, |B|=40k, |A^B|=20k. The KMV
        union/Jaccard/intersection estimates must land within 4x the
        design error of truth (deterministic pin for this data)."""
        from apache_spark_streaming_project_spark.operators.mergeable import (
            kmv_overlap,
            kmv_sketch,
        )

        k = 1024
        a = self._ints(spark, 0, 40_000)
        b = self._ints(spark, 20_000, 60_000)
        sk_a = kmv_sketch(a, ["g"], "item", k=k)
        sk_b = kmv_sketch(b, ["g"], "item", k=k)
        r = kmv_overlap(sk_a, sk_b, k=k).first()
        true_union, true_inter = 60_000, 20_000
        assert abs(r.est_union - true_union) / true_union < 0.125
        assert abs(r.jaccard_est - true_inter / true_union) < 0.05
        assert abs(r.est_intersection - true_inter) / true_inter < 0.2

    def test_empty_sketches_do_not_crash(self, spark):
        """Two empty sketches: est_union 0 (exact), Jaccard NULL (0/0 is
        undefined), intersection 0 — not an ANSI DIVIDE_BY_ZERO crash
        (thirteenth-pass finding; the session keeps ANSI on)."""
        from apache_spark_streaming_project_spark.operators.mergeable import (
            kmv_overlap,
            kmv_sketch,
        )

        empty = spark.createDataFrame([], "g int, item string")
        sk = kmv_sketch(empty, ["g"], "item", 16)
        r = kmv_overlap(sk, sk, 16).first()
        assert r.n_union_sketch == 0
        assert r.est_union == 0.0
        assert r.jaccard_est is None
        assert r.est_intersection == 0.0

    def test_null_items_ignored(self, spark):
        from pyspark.sql import functions as F

        from apache_spark_streaming_project_spark.operators.mergeable import (
            kmv_estimate,
            kmv_sketch,
        )

        df = self._ints(spark, 0, 100).unionByName(
            spark.range(5).select(
                F.lit("g").alias("g"),
                F.lit(None).cast("string").alias("item"),
            )
        )
        est = kmv_estimate(kmv_sketch(df, ["g"], "item", k=64), ["g"], 64)
        r = est.first()
        assert r.n_sketch == 64  # 100 distinct, k=64: full sketch, no NULL row


def test_zscore_flags_both_tails(spark):
    """|z| must catch NEGATIVE outliers too: the sf0.01 events fixture only
    has positive-tail outliers, so the oracle gate cannot distinguish
    abs(z) from one-sided z there (round-10 mutation audit survivor
    s13_drop_abs) — this pins the two-sided semantics at the unit level."""
    from apache_spark_streaming_project_spark.operators.anomaly import zscore

    vals = [50.0] * 40 + [49.0] * 40 + [5000.0, -5000.0]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v double"
    )
    got = {r.id for r in zscore(df, "v", threshold=3.0, scale=2).collect()}
    assert got == {80, 81}  # the high AND the low outlier


def test_misra_gries_decrement_is_exact(spark):
    """Pin the MG compaction decrement to the (candidates+1)-th largest
    count: with candidates=2 and one batch of A*10, B*9, C*1 the sketch
    must report exactly {A: 9, B: 8} (decrement by C's count, 1). The
    oracle-level bound_ok has designed slack (the bound is worst-case),
    so an over-decrement mutation survives the gate (round-10 mutation
    audit x11_mg_overcompact) — this is the unit-level kill."""
    from apache_spark_streaming_project_spark.operators.mergeable import (
        heavy_hitters,
    )

    rows = [("g", "A")] * 10 + [("g", "B")] * 9 + [("g", "C")]
    df = spark.createDataFrame(rows, "g string, item string").coalesce(1)
    got = {
        r.item: (r.est_count, r.rank)
        for r in heavy_hitters(df, ["g"], "item", k=10, candidates=2).collect()
    }
    assert got == {"A": (9, 1), "B": (8, 2)}
