"""column_profile / expect (profiling gate) and cross_split_contamination
(train/eval decontamination) unit tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from apache_spark_streaming_project_spark.operators.dedup import (
    cross_split_contamination,
)
from apache_spark_streaming_project_spark.operators.profile import (
    column_profile,
    expect,
)


def test_column_profile_counts(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (None, "b")], "k int, v string"
    )
    prof = {r["column_name"]: r for r in column_profile(df).collect()}
    assert set(prof) == {"k", "v"}
    k, v = prof["k"], prof["v"]
    assert (k["n_rows"], k["n_nulls"], k["n_distinct"]) == (4, 1, 3)
    assert (k["min_value"], k["max_value"]) == ("1", "3")
    assert (v["n_nulls"], v["n_distinct"], v["max_value"]) == (1, 2, "b")


def test_expect_gate(spark):
    df = spark.createDataFrame([(1, None), (2, None)], "k int, v string")
    prof = column_profile(df)
    bad = expect(prof, max_null_rate=0.0).collect()
    assert [r["column_name"] for r in bad] == ["v"]
    assert expect(prof.filter(F.col("column_name") == "k")).count() == 0


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


CONTAMINATED = "one two three four five six seven eight nine ten"


def test_cross_split_contamination_flags_leak(spark):
    rows = [
        (0, CONTAMINATED),  # train
        (1, "alpha beta gamma delta epsilon zeta eta theta iota"),  # train
        (10, CONTAMINATED + " extra tail words here"),  # eval: leaks
        (11, "totally unrelated words that never appeared in training data"),
        (12, "short"),  # eval: fewer than 8 tokens -> zero grams
    ]
    df = _docs(spark, rows)
    out = {
        r["doc_id"]: r
        for r in cross_split_contamination(
            df, F.col("doc_id") < 10, n=8
        ).collect()
    }
    assert set(out) == {10, 11, 12}
    assert out[10]["n_contaminated"] >= 3  # the 3 shared 8-gram windows
    assert out[11]["n_contaminated"] == 0 and out[11]["n_grams"] > 0
    assert out[12]["n_grams"] == 0 and out[12]["n_contaminated"] == 0


def test_histogram_drift_fills_missing_buckets(spark):
    from apache_spark_streaming_project_spark.operators.profile import (
        histogram_drift,
    )

    ref = spark.createDataFrame([(5.0,), (15.0,), (15.1,)], ["v"])
    cur = spark.createDataFrame([(15.5,), (25.0,)], ["v"])
    out = {
        r.bucket: (r.n_ref, r.n_cur, r.abs_diff)
        for r in histogram_drift(ref, cur, "v", 0.0, 30.0, 3).collect()
    }
    # bucket 0 only in ref, bucket 2 only in cur -> zero-filled sides
    assert out == {0: (1, 0, 1), 1: (2, 1, 1), 2: (0, 1, 1)}


def test_histogram_clamps_edge_rounding_into_last_bucket(spark):
    """Round-7 self-review: x just under hi can round UP across the bin
    edge in doubles — floor((x-lo)/width) == nbins, a phantom bucket with
    bucket_lo == hi. The clamp keeps it in bucket nbins-1."""
    from apache_spark_streaming_project_spark.operators.profile import (
        fixed_width_histogram,
    )

    df = spark.createDataFrame(
        [(0.9999999999999999,), (0.5,)], "v double"
    )
    rows = {r.bucket: r.n for r in
            fixed_width_histogram(df, "v", 0.0, 1.0, 7).collect()}
    assert max(rows) <= 6
    assert rows[6] == 1  # the edge value landed in the last real bucket


def test_embedding_correlations_skips_zero_variance_dims(spark):
    """A constant (padded/zeroed) dimension has no defined correlation:
    the pair must be dropped, not crash (ANSI) or rank NaN first."""
    import math

    from apache_spark_streaming_project_spark.operators.profile import (
        embedding_correlations,
    )

    rows = [(i, [float(i % 7), 0.0, float((i * 3) % 5)]) for i in range(40)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = embedding_correlations(df, n_dims=3).collect()
    pairs = {(r.i, r.j) for r in got}
    assert (0, 1) not in pairs and (1, 2) not in pairs  # const dim dropped
    assert (0, 2) in pairs
    assert all(not math.isnan(r.corr) for r in got)


def test_column_profile_survives_huge_doubles(spark):
    """decimal(18,2) cannot hold |v| >= 1e16 — the profile must fall back
    to the plain double string instead of an ANSI overflow crash."""
    df = spark.createDataFrame(
        [(1, 1e17), (2, 0.5), (3, None)], "k long, v double"
    )
    got = {r.column_name: r for r in column_profile(df, ["v"]).collect()}
    r = got["v"]
    assert r.n_nulls == 1 and r.n_distinct == 2
    assert r.min_value == "0.50"          # in-range: stable decimal route
    assert "E17" in r.max_value or "e17" in r.max_value.lower()


class TestHistogramQuantiles:
    """Mergeable fixed-width-histogram quantiles: merged partials must
    equal the direct histogram row-for-row, and each quantile bucket
    must CONTAIN the exact rank-ceil(q*N) value (the one-bucket-width
    exactness guarantee)."""

    def _df(self, spark, n=10_000):
        from pyspark.sql import functions as F

        # skewed deterministic values in [0, 100): (id*id) % 97 + id%4
        return spark.range(n).select(
            F.col("id"),
            ((F.col("id") * F.col("id")) % 97 + F.col("id") % 4)
            .cast("double")
            .alias("v"),
        )

    def test_merge_equals_direct(self, spark):
        from apache_spark_streaming_project_spark.operators.profile import (
            fixed_width_histogram,
            merge_histograms,
        )

        df = self._df(spark)
        direct = fixed_width_histogram(df, "v", 0.0, 100.0, 25)
        parts = [
            fixed_width_histogram(
                df.filter(df.id % 4 == i), "v", 0.0, 100.0, 25
            )
            for i in range(4)
        ]
        merged = merge_histograms(
            parts[0].unionByName(parts[1])
            .unionByName(parts[2])
            .unionByName(parts[3])
        )
        assert direct.exceptAll(merged).count() == 0
        assert merged.exceptAll(direct).count() == 0

    def test_quantile_bucket_contains_exact_value(self, spark):
        import math

        from apache_spark_streaming_project_spark.operators.profile import (
            fixed_width_histogram,
            histogram_quantiles,
        )

        df = self._df(spark)
        hist = fixed_width_histogram(df, "v", 0.0, 100.0, 25)
        qs = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]
        got = {r.q: r for r in histogram_quantiles(hist, qs).collect()}
        vals = sorted(r.v for r in df.collect())
        assert set(got) == set(qs)
        for q in qs:
            rank = math.ceil(q * len(vals))
            exact = vals[rank - 1]
            r = got[q]
            assert r.rank == rank and r.n_total == len(vals)
            assert r.bucket_lo <= exact < r.bucket_hi, (q, exact, r)

    def test_rejects_bad_quantiles(self, spark):
        import pytest as _pytest

        from apache_spark_streaming_project_spark.operators.profile import (
            fixed_width_histogram,
            histogram_quantiles,
        )

        hist = fixed_width_histogram(self._df(spark, 100), "v", 0.0, 100.0, 10)
        for bad in ([], [0.0], [1.5], [-0.1]):
            with _pytest.raises(ValueError):
                histogram_quantiles(hist, bad)
