"""Plan-property tests (SURVEY.md §4): the physical plans must be the ones
designed for scale — broadcast dims, pushed-down predicates, minimal
shuffles, codegen engaged. These run at sf0.001 (plan shape is
scale-invariant; AQE only re-tunes partition counts at runtime)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from apache_spark_streaming_project_spark.entry_queries import QUERIES
from apache_spark_streaming_project_spark.plans import (
    count_shuffles,
    has_broadcast_join,
    physical_plan,
    pushed_filters,
)
from apache_spark_streaming_project_spark.schemas import load_table


def test_dim_joins_are_broadcast(spark, sf_dir):
    """j1: all four dimension joins must be broadcast — zero shuffle of the
    fact table for the join stage; the only exchange is the final 5-key agg
    (plus AQE's single-partition read)."""
    df = QUERIES["j1_revenue_by_region"].fn(spark, sf_dir)
    assert has_broadcast_join(df)
    plan = physical_plan(df, "simple")
    # nation/region are hinted; orders/customer are size-threshold picks at
    # this sf (they'd be shuffled joins at cluster scale by design)
    assert plan.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in plan
    assert count_shuffles(df) <= 2  # partial->final agg only


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """D3 equality selection must reach the parquet scan as a pushed filter
    (row-group pruning at scale)."""
    df = QUERIES["d3_d4_selection_epoch"].fn(spark, sf_dir)
    filters = pushed_filters(df)
    assert any("event_type" in f and "click" in f for f in filters), filters


def test_column_pruning(spark, sf_dir):
    """S25 reads 2 of 6 order columns — the scan schema must shrink."""
    df = QUERIES["s25_priority_stats"].fn(spark, sf_dir)
    plan = physical_plan(df, "formatted")
    assert "o_orderpriority" in plan and "o_totalprice" in plan
    assert "o_orderdate" not in plan  # pruned column never scanned


def test_zscore_is_single_plan_no_second_scan(spark, sf_dir):
    """S13: the stats side joins back via broadcast — one logical pipeline,
    no driver round-trip (the reference collected stats to the driver)."""
    df = QUERIES["s13_value_zscore_anomalies"].fn(spark, sf_dir)
    assert has_broadcast_join(df)


def test_topk_uses_take_ordered(spark, sf_dir):
    """D13: orderBy().limit(k) must compile to TakeOrderedAndProject, not a
    global sort."""
    df = QUERIES["d13_top_users_by_value"].fn(spark, sf_dir)
    assert "TakeOrderedAndProject" in physical_plan(df, "simple")


def test_semi_join_broadcast(spark, sf_dir):
    df = QUERIES["d2_semi_join_small_parts"].fn(spark, sf_dir)
    plan = physical_plan(df, "simple")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_grouped_agg_is_partial_final(spark, sf_dir):
    """Every groupBy compiles to partial+final HashAggregate (map-side
    combine): two HashAggregate levels around one exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    df = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    plan = physical_plan(df, "simple")
    assert plan.count("HashAggregate") >= 2
    assert count_shuffles(df) == 1


def test_q6_filters_pushed_to_scan(spark, sf_dir):
    """All three Q6 predicates must reach the parquet scan."""
    df = QUERIES["sql_tpch_q6"].fn(spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed
    assert "l_discount" in pushed
    assert "l_quantity" in pushed


def test_q3_topk_no_global_sort(spark, sf_dir):
    """ORDER BY + LIMIT must compile to TakeOrderedAndProject, not Sort."""
    df = QUERIES["sql_tpch_q3"].fn(spark, sf_dir)
    plan = physical_plan(df, "simple")
    assert "TakeOrderedAndProject" in plan


def test_q6_reads_only_needed_columns(spark, sf_dir):
    """ReadSchema must not include untouched columns (column pruning)."""
    df = QUERIES["sql_tpch_q6"].fn(spark, sf_dir)
    plan = physical_plan(df, "formatted")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}


def test_range_join_tiers_no_fact_shuffle(spark, sf_dir):
    """Band join against the tier table must broadcast the tiers (no
    exchange of the orders side before the join)."""
    df = QUERIES["j2_range_join_tiers"].fn(spark, sf_dir)
    assert has_broadcast_join(df)
    assert count_shuffles(df) <= 2  # partial->final agg only


def test_simhash_fingerprint_is_map_only(spark, sf_dir):
    """simhash_df claims zero shuffles at any scale (a document's shingles
    are colocated in its row) — assert no Exchange in the plan."""
    from apache_spark_streaming_project_spark.operators.dedup import simhash_df

    docs = load_table(spark, sf_dir, "documents")
    assert count_shuffles(simhash_df(docs, "doc_id", "text")) == 0


def test_blocked_cosine_join_single_shuffle(spark, sf_dir):
    """blocked_cosine_join claims exactly one shuffle (the groupBy on the
    blocking key); the O(b^2) pair work happens inside the block kernel."""
    from apache_spark_streaming_project_spark.operators.similarity import (
        blocked_cosine_join,
    )

    e = load_table(spark, sf_dir, "embeddings")
    assert count_shuffles(blocked_cosine_join(e)) == 1


def test_correlated_subquery_is_decorrelated(spark, sf_dir):
    """The correlated scalar subquery must plan as one grouped aggregate
    joined back to the outer scan (Catalyst decorrelation) — a join and a
    partial/final agg in the plan, no per-row subquery re-execution."""
    df = QUERIES["sql_correlated_above_avg"].fn(spark, sf_dir)
    plan = physical_plan(df, "simple")
    assert "Join" in plan
    assert "HashAggregate" in plan


def test_batch_ann_broadcasts_queries_single_shuffle(spark, sf_dir):
    """lsh_batch_top_k: the query side must broadcast (the index side never
    shuffles for the join) and the only exchange is the per-query top-k
    window — which Spark executes with a map-side WindowGroupLimit, i.e.
    partial top-k before the shuffle."""
    from apache_spark_streaming_project_spark.operators.similarity import (
        lsh_batch_top_k,
        lsh_index,
    )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dim = len(e.first()["embedding"])
    qs = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qvec"),
    )
    df = lsh_batch_top_k(lsh_index(e, dim=dim), qs, dim, k=3)
    assert has_broadcast_join(df)
    plan = physical_plan(df, "simple")
    assert "SortMergeJoin" not in plan
    assert count_shuffles(df) <= 1
    assert "WindowGroupLimit" in plan


def test_exact_dedup_default_single_shuffle(spark, sf_dir):
    """exact_dedup default path: ONE exchange (the ranking window), not the
    two-shuffle groupBy + semi-join shape."""
    from apache_spark_streaming_project_spark.operators.dedup import exact_dedup

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "props"
    )
    df = exact_dedup(ev, ["event_type", "props"], "event_id")
    assert count_shuffles(df) <= 1


def test_profile_both_modes_have_no_expand(spark, sf_dir):
    """column_profile must never compile to an Expand: it computes each
    column's exact distinct count as its own column-pruned partial-agg
    branch instead of a multi-distinct aggregate (which would replicate
    every input row k+1 times pre-shuffle)."""
    from apache_spark_streaming_project_spark.operators.profile import (
        column_profile,
    )

    o = load_table(spark, sf_dir, "orders")
    assert "Expand" not in physical_plan(column_profile(o), "simple")


def test_histogram_pushes_range_predicate(spark, sf_dir):
    """fixed_width_histogram: the [lo, hi) range must reach the parquet
    scan (row-group pruning), and the agg must be partial+final on the
    bucket key only."""
    df = QUERIES["x_histogram"].fn(spark, sf_dir)
    assert any("l_extendedprice" in f for f in pushed_filters(df))
    assert count_shuffles(df) <= 2  # bucket agg + the display orderBy


def test_weighted_sample_is_top_k_not_global_sort(spark, sf_dir):
    """weighted_sample: global k-selection must compile to
    TakeOrderedAndProject (map-side partial top-k), never a full sort."""
    df = QUERIES["x_weighted_sample"].fn(spark, sf_dir)
    plan = physical_plan(df, "simple")
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", "")


def test_decontamination_dedups_grams_before_join(spark, sf_dir):
    """cross_split_contamination: the train gram set must be deduped via
    partial+final aggregation BEFORE the membership join (never a raw
    exploded-grams join), and both scans must prune to (doc_id, text)."""
    df = QUERIES["x_decontamination"].fn(spark, sf_dir)
    plan = physical_plan(df, "formatted")
    join_pos = min(
        p for p in (plan.find("BroadcastHashJoin"), plan.find("SortMergeJoin"))
        if p >= 0
    )
    # a partial+final HashAggregate pair feeds the join's build side
    assert plan.count("HashAggregate") >= 2
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan
    assert join_pos >= 0


def test_rarity_join_survives_unbroadcastable_vocab(spark, sf_dir):
    """x4_rarity_scores: the token-frequency join must carry NO forced
    broadcast hint — at web-corpus scale the vocabulary (10^8-10^9 distinct
    tokens) exceeds broadcast limits, so a hard hint would OOM executors
    instead of degrading to a shuffled join. With auto-broadcast disabled
    (simulating an unbroadcastable build side) the plan must fall back to a
    shuffled token-keyed join; the one-row totals join stays broadcast
    (BroadcastNestedLoopJoin, immune to the threshold via explicit hint)."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["x4_rarity_scores"].fn(spark, sf_dir)
        plan = physical_plan(df, "simple")
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        # the explicit one-row totals broadcast survives the threshold
        assert "BroadcastNestedLoopJoin" in plan
        assert "BroadcastHashJoin" not in plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_gram_boilerplate_three_shuffles(spark, sf_dir):
    """x4_gram_boilerplate: exactly the three unavoidable exchanges (gram
    df agg, gram-keyed join, per-doc final agg) — the explode and shingle
    construction must stay map-side, and no Expand anywhere."""
    df = QUERIES["x4_gram_boilerplate"].fn(spark, sf_dir)
    plan = physical_plan(df, "simple")
    assert "Expand" not in plan
    assert count_shuffles(df) <= 4  # 3 + the final presentation sort


def test_incremental_dedup_prunes_and_pushes(spark, sf_dir):
    """x1_incremental_dedup: the source equality predicates must reach the
    parquet scans (only the relevant slices are read), and the final
    projection prunes to doc_id so no text column survives past the
    fingerprint computation."""
    df = QUERIES["x1_incremental_dedup"].fn(spark, sf_dir)
    filters = pushed_filters(df)
    assert any("src0" in f for f in filters), filters
    plan = physical_plan(df, "formatted")
    # scans read only what the fingerprint + key path needs
    assert "ReadSchema: struct<doc_id:bigint,text:string,source:string>" in plan \
        or "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_histogram_drift_pushes_both_ranges(spark, sf_dir):
    """x9_histogram_drift: the [lo, hi) range predicate must be pushed to
    BOTH snapshot scans, and the bucket join must not trigger an Expand or
    a fact-side shuffle beyond the two <=nbins-key aggregations."""
    df = QUERIES["x9_histogram_drift"].fn(spark, sf_dir)
    filters = pushed_filters(df)
    ranged = [f for f in filters if "GreaterThanOrEqual(value,0.0)" in f]
    assert len(ranged) >= 2, filters
    assert "Expand" not in physical_plan(df, "simple")


def test_partitioned_readback_prunes_at_listing(spark, sf_dir, tmp_path):
    """Partitioned export: an equality filter on the partition key must
    appear as a PartitionFilter on the scan (pruned at file listing), not
    a post-scan Filter; and the partition directories must exist."""
    import os

    from apache_spark_streaming_project_spark.schemas import load_table
    from apache_spark_streaming_project_spark.sources.partitioned import (
        read_partitioned,
        write_partitioned,
    )

    out = str(tmp_path / "docs")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    write_partitioned(d, out, ["lang"])
    dirs = sorted(x for x in os.listdir(out) if x.startswith("lang="))
    assert dirs, os.listdir(out)
    langs = [x.split("=", 1)[1] for x in dirs]
    rb = read_partitioned(spark, out).filter(F.col("lang") == langs[0])
    plan = physical_plan(rb, "formatted")
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf, plan
    assert f"= {langs[0]})" in pf.group(1), pf.group(1)
    # the partition key never reaches the row scan — pruned from ReadSchema
    assert "ReadSchema: struct<doc_id:bigint>" in plan


def test_partitioned_join_triggers_dynamic_pruning(spark, sf_dir, tmp_path):
    """Joining the lang-partitioned export against a selective dimension
    must plan a dynamicpruning subquery on the partition key: at cluster
    scale the fact side then lists only the partitions the dim filter
    survives — the join-driven analog of static partition pruning."""
    from apache_spark_streaming_project_spark.schemas import load_table
    from apache_spark_streaming_project_spark.sources.partitioned import (
        read_partitioned,
        write_partitioned,
    )

    out = str(tmp_path / "docs_dpp")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    write_partitioned(d, out, ["lang"])
    rb = read_partitioned(spark, out)
    d = load_table(spark, sf_dir, "documents")
    # filter ON the join key: Catalyst propagates a STATIC partition
    # filter through the equi-join — no runtime subquery needed
    dim_static = d.select("lang").distinct().filter(F.col("lang") == "en")
    p1 = physical_plan(
        rb.join(dim_static, "lang").groupBy("lang").count(), "formatted"
    )
    pf1 = re.search(r"PartitionFilters: \[([^\]]*)\]", p1)
    assert pf1 and "= en)" in pf1.group(1), p1
    # filter on a NON-join column: pruning must come from a runtime
    # dynamicpruning subquery fed by the broadcast dim
    dim_dyn = (
        d.select("lang")
        .distinct()
        .withColumn(
            "tier",
            F.when(F.col("lang").isin("en", "de"), "big").otherwise("small"),
        )
        .filter(F.col("tier") == "big")
    )
    p2 = physical_plan(
        rb.join(F.broadcast(dim_dyn), "lang").groupBy("lang").count(),
        "formatted",
    )
    assert "dynamicpruning" in p2, p2


def test_ivf_batch_ann_broadcasts_queries_single_shuffle(spark, sf_dir):
    """ivf_batch_top_k mirrors the LSH batch path: probe cells computed
    in-plan on the query side, broadcast join against the assigned table
    (no index-side shuffle), single exchange for the per-query top-k
    window with map-side WindowGroupLimit."""
    from apache_spark_streaming_project_spark.operators.similarity import (
        ivf_batch_top_k,
        ivf_index,
    )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assigned, centroids = ivf_index(e, n_centroids=4)
    qs = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qvec"),
    )
    df = ivf_batch_top_k(assigned, centroids, qs, k=3, nprobe=2)
    assert has_broadcast_join(df)
    plan = physical_plan(df, "simple")
    assert "SortMergeJoin" not in plan
    assert count_shuffles(df) <= 1
    assert "WindowGroupLimit" in plan


def test_q8_dims_broadcast_no_cartesian(spark, sf_dir):
    """Q8's fixed-cardinality dims (region, nation x2) are hinted broadcasts
    that semi-filter the fact sides before any fact-fact exchange; the
    8-table join must contain no cartesian product."""
    df = QUERIES["sql_tpch_q8"].fn(spark, sf_dir)
    plan = physical_plan(df, "simple")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_q15_max_is_aggregate_not_window(spark, sf_dir):
    """Q15's scalar MAX must be a 1-row aggregate joined back (broadcast),
    NOT a window over the whole revenue table (a single-partition sort at
    scale)."""
    df = QUERIES["sql_tpch_q15"].fn(spark, sf_dir)
    plan = physical_plan(df, "simple")
    assert "Window" not in plan
    assert has_broadcast_join(df)


def test_q12_year_filter_pushed(spark, sf_dir):
    """Q12's ship-year predicate must reach the lineitem parquet scan."""
    df = QUERIES["sql_tpch_q12"].fn(spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed


def test_q21_compiles_semi_and_anti(spark, sf_dir):
    """Q21's EXISTS / NOT EXISTS pair must compile to LEFT SEMI + LEFT ANTI
    self-joins (each one orderkey-keyed exchange), never a join-then-
    distinct rewrite."""
    df = QUERIES["sql_tpch_q21"].fn(spark, sf_dir)
    plan = physical_plan(df, "simple")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q22_threshold_broadcast_anti_join(spark, sf_dir):
    """Q22's scalar threshold is a 1-row BroadcastNestedLoopJoin (zero
    shuffle) and the dormancy check a LEFT ANTI join; the order-date
    filter must prune the orders scan before that shuffle."""
    df = QUERIES["sql_tpch_q22"].fn(spark, sf_dir)
    plan = physical_plan(df, "simple")
    assert "BroadcastNestedLoopJoin" in plan
    assert "LeftAnti" in plan
    pushed = " ".join(pushed_filters(df))
    assert "o_orderdate" in pushed


def test_pq_encode_map_only_and_adc_top_k(spark, sf_dir):
    """PQ: encoding must be map-only (zero shuffles — the codebooks travel
    with the closure), and ADC top-k must compile to TakeOrderedAndProject
    (per-partition heap), not a global sort."""
    from apache_spark_streaming_project_spark.operators.similarity import (
        pq_encode,
        pq_top_k,
        pq_train,
    )

    e = load_table(spark, sf_dir, "embeddings")
    books = pq_train(e, m=4, n_centroids=8)
    enc = pq_encode(e, books)
    assert count_shuffles(enc) == 0
    top = pq_top_k(enc, books, [0.0] * 64, k=10)
    assert "TakeOrderedAndProject" in physical_plan(top, "simple")


def test_pq_batch_ann_broadcasts_queries_single_shuffle(spark, sf_dir):
    """pq_batch_top_k: the per-query ADC tables are computed in-plan and
    broadcast with the query rows (no code-table shuffle for the join);
    the only exchange is the per-query top-k window, with map-side
    WindowGroupLimit ahead of it."""
    from apache_spark_streaming_project_spark.operators.similarity import (
        pq_batch_top_k,
        pq_encode,
        pq_train,
    )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    books = pq_train(e, m=4, n_centroids=8)
    enc = pq_encode(e, books)
    qs = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qvec"),
    )
    df = pq_batch_top_k(enc, books, qs, k=3)
    plan = physical_plan(df, "simple")
    assert has_broadcast_join(df)
    assert "SortMergeJoin" not in plan
    assert "WindowGroupLimit" in plan
    assert count_shuffles(df) <= 1


def test_ivfpq_index_map_only_topk_prunes_cells(spark, sf_dir):
    """ivfpq_index's assign+residual-encode kernel is map-only (zero
    shuffles); ivfpq_top_k filters to the probed cells (pushable
    centroid_id predicate) and ends in TakeOrderedAndProject."""
    from apache_spark_streaming_project_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_top_k,
    )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    indexed, coarse, books = ivfpq_index(
        e, n_centroids=4, m=4, pq_centroids=8
    )
    assert count_shuffles(indexed) == 0
    top = ivfpq_top_k(indexed, coarse, books, [0.0] * 64, k=5, nprobe=2)
    assert "TakeOrderedAndProject" in physical_plan(top, "simple")


def test_curation_pipeline_two_window_exchanges(spark, sf_dir):
    """The fused curation pipeline's only exchanges are the dedup window
    and the quota window (<=3 with AQE reads), both rank-limited via
    map-side WindowGroupLimit; no join, no cartesian."""
    df = QUERIES["x_curation_pipeline"].fn(spark, sf_dir)
    plan = physical_plan(df, "simple")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert count_shuffles(df) <= 3


def test_runtime_bloom_filter_injected_for_selective_join(spark, sf_dir):
    """Runtime-filter injection — the 100 TB join pruner: when a selective
    dimension filter feeds a shuffle join, Spark can build a bloom filter
    from the dim side at runtime and apply it to the fact scan, skipping
    most fact rows BEFORE the shuffle. With the size thresholds scaled to
    fixture bytes (defaults assume a 10 GB application side), the
    optimized plan must carry bloom_filter_might_contain on the fact
    side — evidence the engine's plans admit runtime filtering, not just
    static pushdown."""
    conf = spark.conf
    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # application side must look "big" relative to this (default 10GB)
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        # creation side must look "small" relative to this
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        # keep the join a shuffle join so the filter has a shuffle to save
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        )
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey")
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        optimized = j._jdf.queryExecution().optimizedPlan().toString()
        # injected shape: Filter might_contain(<bloom_filter_agg over the
        # filtered dim keys>, xxhash64(fact key)) directly above the fact
        # relation — the fact scan is pre-filtered before the join shuffle
        assert "might_contain" in optimized, optimized[:1500]
        assert "bloom_filter_agg" in optimized, optimized[:1500]
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    """Dynamic partition pruning — the partition-layout twin of the bloom
    filter: when the fact table is PARTITIONED on the join key and the dim
    side carries a selective filter, the fact scan must receive a runtime
    dynamicpruning subquery so only the surviving partitions are read at
    all (at 100 TB this is the difference between scanning one event type
    and scanning the corpus)."""
    fact_dir = str(tmp_path / "events_by_type")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    ev.write.mode("overwrite").partitionBy("event_type").parquet(fact_dir)

    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.5), ("purchase", 5.0)],
        ["event_type", "weight"],
    ).filter(F.col("weight") >= 5.0)  # selective: one surviving type

    fact = spark.read.parquet(fact_dir)
    j = fact.join(dim, "event_type")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:1500]
    # and the result only contains the surviving partition
    types = {r.event_type for r in j.select("event_type").distinct().collect()}
    assert types == {"purchase"}


class TestZorderKey:
    def _ref(self, vals, bits):
        out = []
        for xs in vals:
            z = 0
            n = len(xs)
            for i in range(bits):
                for j, x in enumerate(xs):
                    z |= (((x & ((1 << bits) - 1)) >> i) & 1) << (i * n + j)
            out.append(z)
        return out

    def test_matches_python_reference_2d_3d(self, spark):
        from pyspark.sql import functions as F

        from apache_spark_streaming_project_spark.operators.layout import (
            zorder_key,
        )

        rows = [(x, y, w) for x in (0, 1, 5, 255, 1023)
                for y in (0, 2, 77, 1023) for w in (0, 3)]
        df = spark.createDataFrame(rows, "x long, y long, w long")
        got2 = [r.z for r in df.select(
            zorder_key(["x", "y"], bits=10).alias("z")).collect()]
        assert got2 == self._ref([(x, y) for x, y, _ in rows], 10)
        got3 = [r.z for r in df.select(
            zorder_key(["x", "y", "w"], bits=8).alias("z")).collect()]
        assert got3 == self._ref([(x, y, w) for x, y, w in rows], 8)

    def test_quadrant_prefix_property(self, spark):
        """Points sharing their top k bits in EVERY dimension share the
        top n*k bits of the z key — the property file-range pruning
        exploits."""
        from pyspark.sql import functions as F

        from apache_spark_streaming_project_spark.operators.layout import (
            zorder_key,
        )

        rows = [(x, y) for x in range(0, 64, 7) for y in range(0, 64, 11)]
        df = spark.createDataFrame(rows, "x long, y long")
        got = df.select(
            "x", "y", zorder_key(["x", "y"], bits=6).alias("z")
        ).collect()
        for r in got:
            assert (r.z >> 8) == self._interleave_top(r.x >> 4, r.y >> 4)

    @staticmethod
    def _interleave_top(xt, yt):
        z = 0
        for i in range(2):
            z |= ((xt >> i) & 1) << (2 * i)
            z |= ((yt >> i) & 1) << (2 * i + 1)
        return z

    def test_rejects_bad_shapes(self, spark):
        import pytest as _pytest

        from apache_spark_streaming_project_spark.operators.layout import (
            zorder_key,
        )

        with _pytest.raises(ValueError):
            zorder_key(["a"], bits=8)
        with _pytest.raises(ValueError):
            zorder_key(["a", "b"], bits=32)  # 64 bits > 62
        with _pytest.raises(ValueError):
            zorder_key(["a", "b", "c", "d", "e"], bits=4)
