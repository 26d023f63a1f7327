"""Dataset sampling/splitting operators for training-data pipelines.

First-class ops a 100 TB corpus pipeline needs next to dedup and
similarity:

* :func:`stratified_sample` — exact per-stratum quotas (e.g. "50 docs per
  language"), deterministic by an ordering key. Compiles to a ranking
  window that Spark executes with a map-side ``WindowGroupLimit`` (each
  task keeps at most n rows per stratum before the exchange), so the
  shuffle carries at most ``n x strata x partitions`` rows, never the
  corpus.
* :func:`hash_split` — train/val/test assignment by ``xxhash64`` of a
  stable key: fully deterministic across runs and machines, no RNG state,
  no shuffle AT ALL (a map-only projection), and adding rows later never
  reassigns existing ones — the properties ``randomSplit`` (sampling by
  partition-seeded RNG) cannot give. Fractions hold in expectation with
  HLL-grade concentration; exactness of quotas is what
  :func:`stratified_sample` is for.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from apache_spark_streaming_project_spark.streaming.batch_store import (
    publish_batch,
    read_state,
)


def stratified_sample(
    df: DataFrame,
    strata_cols: list[str],
    n_per_stratum: int,
    order_col: str | Column,
) -> DataFrame:
    """Keep the first ``n_per_stratum`` rows per stratum, ordered by
    ``order_col`` (pass a random-looking but deterministic expression —
    e.g. ``F.xxhash64("doc_id")`` — for an unbiased draw, or a quality
    score for best-of selection)."""
    order_col = F.col(order_col) if isinstance(order_col, str) else order_col
    w = Window.partitionBy(*strata_cols).orderBy(order_col.asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_per_stratum)
        .drop("_rn")
    )


def mixture_resample(
    df: DataFrame,
    stratum_col: str,
    weights: DataFrame,
    total_rows: int,
    order_col: Column,
) -> DataFrame:
    """Domain-MIXTURE resampling: draw ~``total_rows`` rows whose stratum
    proportions match a target weight table (``weights``: (stratum_col,
    weight)) — the corpus-assembly op that turns "we want 50% web, 30%
    books, 20% code" into an exact per-domain quota plan. Quotas are
    ``floor(total_rows * w / sum(w))``; a stratum with fewer rows than
    its quota contributes everything it has (under-supplied domains are
    a REPORTING problem, not a silent re-normalization — callers can
    diff achieved vs target counts).

    Deterministic: rows rank within their stratum by ``order_col`` (pass
    a hash expression for an unbiased draw; md5-of-key keeps the draw
    oracle-reproducible). Scale shape: the quota table is
    strata-sized (broadcast), ranking executes with map-side
    WindowGroupLimit... bounded by quota per stratum per task, and the
    corpus never shuffles beyond the ranked survivors."""
    sw = weights.agg(F.sum("weight").alias("_sw"))
    # an all-zero or EMPTY weight table must fail LOUDLY, not as an ANSI
    # DIVIDE_BY_ZERO from inside the quota arithmetic (same guard idiom
    # as lexical.py — when(guard.isNull(), ...) so SimplifyConditionals
    # cannot fold the assert away). The guard lives in TWO places: the
    # per-weight quota projection covers the all-zero case, and a
    # zero-row union branch over the sw aggregate — which ALWAYS has
    # exactly one row, even over an empty weight table — covers the
    # empty case, where the per-weight projection never evaluates at
    # all (round-10 ADVICE fix). A NULL-stratum sentinel row in the
    # quota table does NOT work here: with a statically-empty weights
    # relation, inner-join key constraints plus empty-relation
    # propagation fold the whole result (sentinel included) away at
    # optimization time; the union branch sits on the RESULT and its
    # filter condition contains the non-foldable assert, so it survives
    # to runtime and evaluates exactly once.
    guard = F.assert_true(
        F.coalesce(F.col("_sw"), F.lit(0.0)) > 0,
        F.lit("mixture weights must sum to a positive value"),
    )
    quota = weights.crossJoin(F.broadcast(sw)).select(
        stratum_col,
        F.when(
            guard.isNull(),
            F.floor(
                F.lit(total_rows) * F.col("weight") / F.col("_sw")
            ).cast("int"),
        ).alias("_quota"),
    )
    w = Window.partitionBy(stratum_col).orderBy(order_col.asc())
    sampled = (
        df.withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(quota), stratum_col)
        .filter(F.col("_rn") <= F.col("_quota"))
        .drop("_rn", "_quota")
    )
    # the filter's pass-value must be DATA-DEPENDENT: a literal False
    # (or a bare when() whose else is NULL) folds to Filter(false) via
    # ReplaceNullWithFalseInPredicate + SimplifyConditionals and the
    # whole guard branch is pruned before it can run. `_sw < -inf` is
    # always false at runtime but not provably so to Catalyst.
    never = F.col("_sw") < F.lit(float("-inf"))
    guard_rows = sw.filter(F.when(guard.isNull(), never)).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in df.schema.fields]
    )
    return sampled.unionByName(guard_rows.select(*sampled.columns))


def hash_split(
    df: DataFrame,
    key_col: str,
    fractions: dict[str, float],
    salt: str = "split",
    buckets: int = 10_000,
) -> DataFrame:
    """Add a ``split`` column assigning each row to a named split by
    hash-bucketing ``xxhash64(key, salt)`` into ``buckets`` and carving the
    bucket range by cumulative fraction. Map-only; deterministic; stable
    under appends. ``fractions`` must sum to ~1.0."""
    total = sum(fractions.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"fractions must sum to 1.0, got {total}")
    bucket = F.pmod(F.xxhash64(F.col(key_col), F.lit(salt)), F.lit(buckets))
    expr = None
    cum = 0.0
    names = list(fractions)
    for name in names[:-1]:
        cum += fractions[name]
        cond = bucket < int(round(cum * buckets))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (
        F.lit(names[-1])
        if expr is None
        else expr.otherwise(names[-1])
    )
    return df.withColumn("split", expr)


def weighted_sample(
    df: DataFrame,
    weight_col: str | Column,
    k: int,
    key_col: str = "doc_id",
    salt: str = "ws",
) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    keep the ``k`` rows with the largest priority ``u^(1/w)`` where ``u``
    is a per-row uniform draw and ``w`` the row's weight — inclusion
    probability proportional to weight, exactly the scheme a quality- or
    length-weighted corpus selection needs.

    Determinism: ``u`` is not RNG state but ``(h+1)/2^60`` where ``h`` is
    the first 60 bits of ``md5(key || ':' || salt)`` — identical across
    runs, engines, and partitionings (md5 is everywhere; xxhash64 is
    not). Priorities compare via the monotone-equivalent ``ln(u)/w``.

    Scale shape: the priority is a map-only projection; the global top-k
    compiles to TakeOrderedAndProject (per-task partial top-k, then a
    single k-row merge) — the corpus itself never shuffles or sorts.
    """
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    # A-ES is undefined for w <= 0 — and silently WRONG here, not just
    # undefined: ln(u) <= 0, so a negative weight makes ln(u)/w POSITIVE
    # and outranks every legitimate row (all real priorities are <= 0),
    # while w = 0 is an ANSI DIVIDE_BY_ZERO job failure. Fail loudly
    # in-plan (codegen'd branch, no extra pass) instead of returning a
    # garbage sample; NULL weights surface here too rather than silently
    # sorting last.
    w_checked = F.when(
        w.cast("double") > 0, w.cast("double")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("weighted_sample requires weights > 0, got "),
                F.coalesce(w.cast("string"), F.lit("NULL")),
            )
        ).cast("double")
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(key_col).cast("string"), F.lit(":" + salt))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 60))
    priority = F.ln(u) / w_checked
    return (
        df.withColumn("_p", priority)
        .orderBy(F.col("_p").desc(), F.col(key_col))
        .limit(k)
        .drop("_p")
    )


def time_split(
    df: DataFrame,
    time_col: str,
    cutoff: str,
    purge: str = "0 seconds",
) -> DataFrame:
    """X7 — temporal train/test split with a PURGE GAP: rows before
    ``cutoff`` are train, rows at/after ``cutoff + purge`` are test, and
    rows inside the gap are dropped (``split`` = 'purged'). The purge gap
    is the leakage guard time-series and event-stream pipelines need when
    features aggregate trailing windows — a trailing feature computed at
    the first test timestamp must not see any train-adjacent rows.
    Map-only (one pushable comparison per row, no shuffle); the same
    filter prunes parquet row groups at scale."""
    t = F.col(time_col)
    lo = F.lit(cutoff).cast("timestamp_ntz")
    hi = F.lit(cutoff).cast("timestamp_ntz") + F.expr(f"INTERVAL {purge}")
    # NULL timestamps get their OWN label: t < lo and t >= hi are both
    # NULL-false, so the bare otherwise-branch would silently fold
    # missing-time rows (a lossy ingest, not a leakage decision) into
    # 'purged', inflating any gap-size audit and hiding the nulls
    return df.withColumn(
        "split",
        F.when(t.isNull(), "null_time")
        .when(t < lo, "train")
        .when(t >= hi, "test")
        .otherwise("purged"),
    )


def interleave_sources(
    df: DataFrame,
    source_col: str = "source",
    order_col: str = "doc_id",
    prefix: int | None = None,
) -> DataFrame:
    """X7 — deterministic round-robin interleave across sources for
    training-order mixing: within each source rows order by
    ``order_col`` (epoch = 0-based per-source position), and the global
    training order is the lexicographic sort on (epoch, source, key) —
    row i of every source appears before row i+1 of any source, sources
    rotate alphabetically within an epoch. The standard "interleave
    datasets" op, as a pure sort-key definition: deterministic,
    append-stable per source, and resumable from any (epoch, source)
    cursor.

    Scale: the per-source epoch is one source-keyed window; the global
    order is DEFINED by the sort keys — consumers range-partition on
    them without ever materializing a global row number (a global
    ``row_number`` would be a single-partition window). The explicit
    ``interleave_pos`` column is emitted only for a bounded ``prefix``
    (TakeOrderedAndProject keeps the limit scale-safe; the post-limit
    position window runs on ``prefix`` rows, not the corpus)."""
    w = Window.partitionBy(source_col).orderBy(order_col)
    epoch = (F.row_number().over(w) - 1).alias("epoch")
    r = df.select(F.col(order_col), F.col(source_col), epoch)
    if prefix is None:
        return r.orderBy("epoch", source_col, order_col)
    lim = r.orderBy("epoch", source_col, order_col).limit(prefix)
    wpos = Window.orderBy("epoch", source_col, order_col)
    return lim.select(
        order_col,
        source_col,
        F.col("epoch").cast("bigint").alias("epoch"),
        F.row_number().over(wpos).cast("bigint").alias("interleave_pos"),
    )


def negative_sample(
    df: DataFrame,
    key_col: str,
    group_col: str,
    k: int = 3,
    probes: int = 8,
    salt: str = "neg",
) -> DataFrame:
    """X7 — deterministic hash-probe NEGATIVE sampling for contrastive
    training: for each anchor row, pick ``k`` rows whose ``group_col``
    differs (different label / different source / different cluster),
    chosen by deterministic hash probes rather than RNG state — the
    sample is identical across runs, engines and partitionings, so
    training data built from it is reproducible and the op is
    oracle-checkable.

    Mechanism: probe ``i`` of an anchor nominates candidate id
    ``md5(key:i:salt) % n`` (keys assumed dense 0..n-1 — the standard
    contiguous-id layout after ``exact_dedup`` + zip-style reindexing;
    a sparse key space would first build one). Candidates resolve
    against the corpus by ONE key-equi join, same-group and self hits
    drop, and the first ``k`` survivors IN PROBE ORDER win (ranking
    window -> map-side WindowGroupLimit). With ``probes`` ~ 2-3x ``k``
    and balanced groups, the miss probability is negligible; anchors
    with rarer groups may yield fewer than ``k`` — deterministically.

    Scale: probe generation is a map-only m-row explode per anchor; the
    resolve join shuffles on the 8-byte key; no per-anchor corpus scan,
    no RNG coordination."""
    n = df.agg(F.count("*").alias("_n"))
    anchors = df.select(
        F.col(key_col).alias("_anchor"), F.col(group_col).alias("_agrp")
    )
    probes_df = (
        anchors.crossJoin(F.broadcast(n))
        .select(
            "_anchor",
            "_agrp",
            F.explode(F.sequence(F.lit(0), F.lit(probes - 1))).alias("_i"),
            F.col("_n"),
        )
        .select(
            "_anchor",
            "_agrp",
            "_i",
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("_anchor").cast("string"),
                                F.lit(":"),
                                F.col("_i").cast("string"),
                                F.lit(":" + salt),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long"),
                F.col("_n"),
            ).alias("_cand"),
        )
    )
    cand = df.select(
        F.col(key_col).alias("_cand"), F.col(group_col).alias("_cgrp")
    )
    # Two probes i<j can hash to the SAME candidate id; keep one row per
    # (_anchor, _cand) at the smallest probe index so the k negatives are
    # DISTINCT (repeats are useless for contrastive training). min(_i) per
    # candidate is unique within an anchor (each probe nominates exactly
    # one candidate), so the rank order below stays deterministic.
    resolved = (
        probes_df.join(cand, "_cand")
        .filter((F.col("_cgrp") != F.col("_agrp")) & (F.col("_cand") != F.col("_anchor")))
        .groupBy("_anchor", "_cand")
        .agg(F.min("_i").alias("_i"))
    )
    w = Window.partitionBy("_anchor").orderBy("_i")
    return (
        resolved.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            F.col("_anchor").alias(key_col),
            F.col("_rn").alias("neg_rank"),
            F.col("_cand").alias("neg_id"),
        )
    )


def dsir_hashed_grams(
    text_col: Column | str, num_buckets: int = 4096
) -> Column:
    """Hashed n-gram feature stream for DSIR-style data selection: the
    document's unigrams followed by its space-joined bigrams (both over
    lowercased whitespace tokens), each mapped to a bucket in
    ``[0, num_buckets)`` by the repo's polynomial rolling hash
    (``text.rolling_fingerprint`` — left fold ``h = h*31 + code mod
    2^31-1`` over char codes). Returns an ``array<int>`` of bucket ids
    in POSITION ORDER (all unigrams, then all bigrams), which is what
    makes downstream per-document folds deterministic.

    The polynomial hash (not ``xxhash64``) is deliberate: DSIR is
    hash-agnostic — any fixed map of grams to ``m`` buckets yields the
    same estimator family (Xie et al. 2023, §3: hashed n-gram features)
    — and the polynomial fold is the one hash both engines of the
    oracle contract compute bit-identically. A production deployment
    could swap ``xxhash64(gram) pmod m`` for a faster bucket map without
    changing any downstream semantics.
    """
    from .text import rolling_fingerprint, tokens

    ts = tokens(F.lower(F.col(text_col) if isinstance(text_col, str) else text_col))
    n = F.size(ts)
    bigrams = F.zip_with(
        F.slice(ts, F.lit(1), n - 1),
        F.slice(ts, F.lit(2), n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    grams = F.when(n >= 2, F.concat(ts, bigrams)).otherwise(ts)
    return F.transform(
        grams,
        lambda g: (rolling_fingerprint(g) % F.lit(num_buckets)).cast("int"),
    )


def dsir_importance_weights(
    df: DataFrame,
    is_target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 4096,
    score_mode: str = "ratio",
) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
    score each CANDIDATE document (``is_target`` false) by how likely its
    hashed n-gram bag is under the TARGET domain's gram distribution
    relative to the RAW corpus distribution, using add-1-smoothed bucket
    frequencies over ``num_buckets`` hashed unigram+bigram features.

    Two score modes:

    * ``"log"`` — the paper's log importance weight
      ``log w_i = sum_j c_ij (log p_j - log q_j)`` with
      ``p_j = (tp_j + 1) / (TP + m)`` (target) and
      ``q_j = (tq_j + 1) / (TQ + m)`` (raw). Production mode; NOT
      cross-engine bit-stable (``ln`` differs from libm in the last ulp
      on ~1.5% of inputs — the bigram-LM / BM25-odds measurement), so it
      is pytest-pinned against a Python reference instead of
      oracle-hashed.
    * ``"ratio"`` — the deterministic-contract sibling (the same move
      that put BM25 into odds form): the MEAN per-gram likelihood ratio
      ``(1/n_i) sum_j c_ij (p_j / q_j)``, folded in gram-position order.
      Built from IEEE ``+ * /`` only, every intermediate computed in the
      same order on both engines, so the double is bit-identical and
      sits INSIDE the oracle value hash. Monotone in target-likeness
      per gram (arithmetic instead of geometric mean), numerically safe
      where the product form would underflow on long documents.

    Output: one row per candidate document with >= 1 token —
    ``(id_col, n_grams, n_buckets_hit, sum_target_count, sum_raw_count,
    dsir_score)``. The four integer columns are the relational skeleton
    (they pin tokenization, bigram construction, bucket hashing, both
    corpus aggregations and the join) and are exact in both modes.

    Scale shape (the 100 TB lens): one map-side gram explosion carrying
    ONLY ``(id, pos, bucket:int)``; two partial-aggregated counts keyed
    on the int bucket (result <= num_buckets rows each); the
    lambda table is broadcast back (never a corpus-sized shuffle); one
    per-document re-aggregation keyed on ``id_col``. No Python, no
    window over the corpus, no driver loop; the only corpus-sized
    exchange is the per-doc regroup, which any per-document scorer
    needs.
    """
    lam = dsir_lambda_table(df, is_target, text_col, num_buckets)
    return dsir_score_against(
        df.filter(~is_target), lam, text_col, id_col, num_buckets, score_mode
    )


def dsir_lambda_table(
    df: DataFrame,
    is_target: Column,
    text_col: str = "text",
    num_buckets: int = 4096,
) -> DataFrame:
    """The DSIR MODEL: per-bucket target and raw gram counts
    ``(bucket, target_count, raw_count)`` over the hashed feature space
    — at most ``num_buckets`` rows regardless of corpus size. This is
    the artifact a production deployment freezes offline and broadcasts
    to score new data at ingest (see ``dsir_score_against`` and the
    m15 streaming registration); the totals the smoothed ratio needs
    are exact integer sums over this table, so the table alone fully
    determines the scorer."""
    # no size(_bs) > 0 filter: explode drops empty/null gram arrays by
    # itself, and a filter on the DERIVED column gets pushed below the
    # caller's repartition exchange with the whole gram expression
    # substituted into the condition — the heavy hash stream then runs
    # per row in the scan task AND again in this projection (round-13
    # opt; the guide §4.4 duplication, JVM-expression flavour)
    base = df.select(
        is_target.alias("_t"),
        dsir_hashed_grams(text_col, num_buckets).alias("_bs"),
    )
    ex = base.select("_t", F.explode("_bs").alias("_b"))
    # ONE aggregation with a conditional count, not separate raw/target
    # aggs: both are keyed on the same int bucket, so two aggs means
    # evaluating the gram-hash stream twice for identical integers
    # (measured ~1 s of the 2.2 s lambda phase at sf0.1). Unlike the
    # bigram-LM contingency negative, the keys here are THE SAME — the
    # fusion is unambiguous.
    return ex.groupBy("_b").agg(
        F.sum(F.when(F.col("_t"), 1).otherwise(0))
        .cast("long")
        .alias("target_count"),
        F.count(F.lit(1)).alias("raw_count"),
    ).select(
        F.col("_b").alias("bucket"), "target_count", "raw_count"
    )


def dsir_score_against(
    df: DataFrame,
    lam: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 4096,
    score_mode: str = "ratio",
) -> DataFrame:
    """Score EVERY document of ``df`` against a (typically frozen)
    ``dsir_lambda_table`` — the deployment half of DSIR: the lambda
    table is <= ``num_buckets`` rows and broadcast, so scoring is
    map-side + one per-doc regroup, stateless across batches (the m15
    streaming registration scores micro-batches exactly like this).
    Grams hashing to a bucket absent from the lambda table (possible
    when scoring NEW data against a frozen model) count as unseen on
    both sides: ``tp = tq = 0``, ratio ``(TQ+m)/(TP+m)`` — add-1
    smoothing doing exactly its job."""
    if score_mode not in ("ratio", "log"):
        raise ValueError(f"score_mode must be 'ratio' or 'log': {score_mode!r}")
    m = float(num_buckets)
    lam = lam.select(
        F.col("bucket").alias("_b"),
        F.col("target_count").alias("_tp"),
        F.col("raw_count").alias("_tq"),
    )
    # exact integer totals derived from the table itself — the frozen
    # artifact is self-contained (1-row aggregate, broadcast by AQE)
    totals = lam.agg(
        F.sum("_tp").alias("_gtp"), F.sum("_tq").alias("_gtq")
    )
    # no size(_bs) > 0 filter — posexplode drops empty/null arrays; see
    # dsir_lambda_table for the pushdown-duplication rationale
    base = df.select(
        F.col(id_col).alias("_id"),
        dsir_hashed_grams(text_col, num_buckets).alias("_bs"),
    )
    ex = base.select("_id", F.posexplode("_bs").alias("_pos", "_b"))
    p_over_q_num = (F.col("_tp").cast("double") + F.lit(1.0)) * (
        F.col("_gtq").cast("double") + F.lit(m)
    )
    p_over_q_den = (F.col("_tq").cast("double") + F.lit(1.0)) * (
        F.col("_gtp").cast("double") + F.lit(m)
    )
    ratio = p_over_q_num / p_over_q_den
    term = F.ln(ratio) if score_mode == "log" else ratio
    # Loud guard (the mixture_resample / lexical.py idiom): a lambda
    # table with no target grams leaves the target distribution
    # undefined — every score would be the same contentless constant.
    # assert_true returns NULL on success, so when(guard.isNull(), term)
    # evaluates term exactly when the guard passes and
    # SimplifyConditionals cannot fold the assert away.
    guard = F.assert_true(
        F.col("_gtp") > 0,
        F.lit(
            "dsir_importance_weights: is_target selects no documents with"
            " >= 1 token — the target gram distribution is undefined"
        ),
    )
    term = F.when(guard.isNull(), term)
    scored = (
        ex.join(F.broadcast(lam), "_b", "left")
        .na.fill({"_tp": 0, "_tq": 0})
        .crossJoin(F.broadcast(totals))
        .select("_id", "_pos", "_b", "_tp", "_tq", term.alias("_r"))
    )
    folded = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_pos", "_r"))),
            lambda s: s["_r"],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n_grams = F.count(F.lit(1))
    score = folded if score_mode == "log" else folded / n_grams.cast("double")
    return scored.groupBy("_id").agg(
        n_grams.alias("n_grams"),
        F.count_distinct("_b").alias("n_buckets_hit"),
        F.sum("_tp").alias("sum_target_count"),
        F.sum("_tq").alias("sum_raw_count"),
        score.alias("dsir_score"),
    ).withColumnRenamed("_id", id_col)


def dsir_select(
    df: DataFrame,
    is_target: Column,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 4096,
    score_mode: str = "ratio",
    gumbel_seed: int | None = None,
) -> DataFrame:
    """DSIR selection: the top-``k`` candidate documents by importance
    weight, deterministic tie-break on ``id_col``. Compiles to
    ``TakeOrderedAndProject`` (a per-partition top-k then a k-row merge
    on the driver side of the exchange — never a global sort of the
    corpus).

    ``gumbel_seed`` enables the paper's resampling mode: sampling
    WITHOUT replacement proportionally to ``w_i`` via Gumbel top-k
    (``argtop-k(log w_i + g_i)``, ``g_i`` standard Gumbel — Vieira
    2014; Xie et al. 2023 §3). The noise is fully deterministic and
    reproducible across runs and machines — no RNG state:
    ``u_i = (xxhash64(id, seed) mod 2^31 + 0.5) / 2^31`` then
    ``g_i = -ln(-ln(u_i))``. With ``gumbel_seed`` set, ``score_mode``
    is forced to ``"log"`` (Gumbel noise perturbs LOG weights; adding
    it to a ratio-scale score would sample from a different
    distribution). Because it rides on ``ln``, the Gumbel path is
    pytest territory (tests/test_dsir.py pins it to a pure-Python
    reference), not oracle-hash territory; the registered contract
    keeps the deterministic hard top-k (``gumbel_seed=None``).
    """
    if gumbel_seed is not None:
        score_mode = "log"
    w = dsir_importance_weights(
        df, is_target, text_col, id_col, num_buckets, score_mode
    )
    key = F.col("dsir_score")
    if gumbel_seed is not None:
        u = (
            (F.pmod(F.xxhash64(F.col(id_col), F.lit(gumbel_seed)), F.lit(2**31)))
            .cast("double")
            + F.lit(0.5)
        ) / F.lit(float(2**31))
        key = key + (-F.ln(-F.ln(u)))
    return (
        w.withColumn("_key", key)
        .orderBy(F.desc("_key"), F.asc(id_col))
        .limit(k)
        .drop("_key")
    )


def dsir_publish_scored_batch(
    batch_df: DataFrame,
    lam_dir: str,
    sink_dir: str,
    batch_id: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 4096,
) -> None:
    """The m15 foreachBatch body, importable so the replay pytest pins
    the PRODUCTION publish (not a test-local copy): score the batch
    against the frozen lambda parquet, then publish it
    (streaming/batch_store.py:publish_batch)."""
    lam = batch_df.sparkSession.read.parquet(lam_dir)
    out = dsir_score_against(
        batch_df, lam, text_col, id_col, num_buckets
    )
    publish_batch(out, sink_dir, batch_id)


def streaming_quota_sample_batch(
    batch_df: DataFrame,
    strata_cols: list[str],
    n_per_stratum: int,
    order_col: Column,
    state_dir: str,
    batch_id: int,
) -> None:
    """m23 per-batch body: exact-quota stratified sample MAINTENANCE
    under ingest — the corpus streams in and a bounded winner table
    (<= strata x n rows) is kept current, instead of re-ranking the
    whole corpus every time the sample is needed.

    Correct BY THE TOP-K MERGE THEOREM: with a content-deterministic
    order key (md5-of-key here — never arrival time), per-stratum
    top-n is a mergeable aggregate: top-n(S1 union S2) =
    top-n(top-n(S1) union top-n(S2)). So folding each batch's local
    winners into the stored winners reproduces the direct sample over
    everything ingested so far, row for row — the m23 registration
    hash-checks exactly that against the full-corpus rank-window
    oracle.

    Replay-safe by versioning: the fold reads the newest complete
    state version below ``batch_id`` and publishes its result once, as
    version ``batch_id`` (streaming/batch_store.py:read_state and
    publish_batch), so an at-least-once redelivery of a batch reads
    the same input as its first attempt and rewrites the same version.
    Within a fold, the overlapping waves re-deliver rows that are
    already among the stored winners: ``distinct()`` collapses them
    before the re-rank. Dropping that distinct is the classic
    corruption (duplicate winners crowd real ones out of the quota)
    and is a mutation-audit kill.

    Scale shape: the batch ranks with map-side WindowGroupLimit (at
    most n rows per stratum per task cross the exchange), the state
    read is strata x n rows regardless of corpus lifetime, and the
    corpus itself is never re-read — the bounded-state lifecycle
    class. At 1000 strata x 1000 quota the state is ~1M rows: still a
    broadcast-sized table."""
    winners = stratified_sample(
        batch_df, strata_cols, n_per_stratum, order_col
    )
    prior = read_state(
        batch_df.sparkSession, state_dir, winners.schema, before=batch_id
    )
    merged = stratified_sample(
        prior.unionByName(winners).distinct(),
        strata_cols,
        n_per_stratum,
        order_col,
    )
    publish_batch(merged, state_dir, batch_id, files=1)
