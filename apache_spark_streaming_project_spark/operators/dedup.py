"""Deduplication operators (X1/X2 + near-dup family, SURVEY.md §2.11).

Exact, MinHash+LSH, SimHash, n-gram Jaccard and embedding-cosine near-dup —
the large-scale training-data-pipeline dedup surface. Design notes per
operator explain the 100 TB story; all are pure DataFrame ops (shuffles only
on the documented keys, no Python row path).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from apache_spark_streaming_project_spark.streaming.batch_store import (
    publish_batch,
    read_store,
)

# types with a total order usable as a deterministic window tiebreaker
_ORDERABLE_ATOMIC = (
    T.NumericType,
    T.StringType,
    T.BinaryType,
    T.BooleanType,
    T.DateType,
    T.TimestampType,
    T.TimestampNTZType,
)

# ---------------------------------------------------------------------------
# X1 — exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame,
    cols: list[str],
    key_col: str,
    fingerprint_wide_cols: bool = True,
) -> DataFrame:
    """X1 — keep one row (min key) per distinct value of ``cols``.

    Default path (``fingerprint_wide_cols=True``): ONE shuffle — a ranking
    window partitioned on (xxhash64(cols), cols). Surviving rows must move
    once no matter what, so one row-shuffle is the floor; the 8-byte hash
    prefix makes partitioner/sort comparisons resolve on the hash instead
    of long text, and including ``cols`` in the partition key costs nothing
    extra (rows carry their columns regardless) while making the result
    EXACT — a 64-bit collision can never merge distinct rows. When only the
    keep-DECISION is needed (not the rows), project (hash, key) first and
    shuffle 16 bytes/row — see ``exact_dedup_by_fingerprint``.

    ``fingerprint_wide_cols=False`` is the reference shape: groupBy +
    min-key + semi-join — TWO shuffles. Appropriate when ``cols`` are small
    scalars and the keep-table is reused, never for text at scale.

    Determinism: the survivor is the min-``key_col`` row; if ``key_col``
    values repeat within a dup-group, ties break on the remaining
    orderable (atomic-typed) columns, so the pick is stable across runs
    and partitionings — never partition-order-dependent.
    """
    if not fingerprint_wide_cols:
        # nulls-first min via (isNotNull, key) structs, matching the window
        # path's `asc` (= nulls-first) ordering: plain F.min SKIPS NULL
        # keys, so a dup-group holding a NULL key would elect a different
        # survivor per path
        keep = df.groupBy(*cols).agg(
            F.min(
                F.struct(
                    F.col(key_col).isNotNull().alias("_nn"),
                    F.col(key_col).alias("_k"),
                )
            )["_k"].alias("_keep_key")
        )
        kr = keep.select(
            *[F.col(c).alias(f"_kc{i}") for i, c in enumerate(cols)],
            "_keep_key",
        )
        # eqNullSafe per column: a plain equality join never matches NULL
        # dedup-column values, silently DROPPING those rows from the
        # result (the window path keeps them — NULL is a groupBy value)
        cond = df[cols[0]].eqNullSafe(kr["_kc0"])
        for i, c in enumerate(cols[1:], start=1):
            cond = cond & df[c].eqNullSafe(kr[f"_kc{i}"])
        cond = cond & df[key_col].eqNullSafe(kr["_keep_key"])
        # dropDuplicates after the semi join: fully identical rows (same
        # cols AND same key) all match the keep row, so without it the
        # reference path returns every copy — violating keep-one and
        # diverging from the window path
        return df.join(kr, cond, "left_semi").dropDuplicates([*cols, key_col])
    h = F.xxhash64(*[F.col(c) for c in cols])
    # rank within (hash, exact col values): same shuffle key as hash-only,
    # but the window ORDER/PARTITION re-checks true equality per group
    tiebreak = [
        F.col(f.name).asc_nulls_first()
        for f in df.schema.fields
        if f.name != key_col
        and f.name not in cols
        and isinstance(f.dataType, _ORDERABLE_ATOMIC)
    ]
    w = Window.partitionBy(h, *cols).orderBy(
        F.col(key_col).asc(), *tiebreak
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def exact_dedup_by_fingerprint(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """X1 at scale — dedup on xxhash64(text): the shuffle carries (hash, key)
    pairs only. Collision probability at 64 bits is negligible below ~1e9
    distinct docs; for strictness re-verify within hash-groups (cheap: groups
    are tiny)."""
    h = F.xxhash64(F.col(text_col))
    w = Window.partitionBy(h).orderBy(F.col(key_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )


def incremental_dedup(
    base: DataFrame,
    incoming: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """X1 ingest path — dedup an INCOMING batch against an already-ingested
    base corpus, then within itself: the shape every continuously-crawled
    training corpus needs (re-crawls and mirrors re-deliver old content
    forever; re-deduping the full corpus per batch is O(corpus) per batch,
    this is O(batch + fingerprint-lookup)).

    Plan: the base side is reduced to DISTINCT 8-byte xxhash64 fingerprints
    (in production this fingerprint table is persisted once and appended
    per batch, never recomputed — see mergeable.py for the same
    incremental philosophy); the batch anti-joins it on the fingerprint,
    then keeps the min-``key_col`` row per surviving fingerprint. Both
    joins shuffle 8-byte keys, never text. Collision caveat as
    ``exact_dedup_by_fingerprint`` (negligible below ~1e9 distincts)."""
    base_fp = base.select(
        F.xxhash64(F.col(text_col)).alias("_fp")
    ).distinct()
    inc = incoming.withColumn("_fp", F.xxhash64(F.col(text_col)))
    fresh = inc.join(base_fp, "_fp", "left_anti")
    w = Window.partitionBy("_fp").orderBy(F.col(key_col).asc())
    return (
        fresh.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_fp")
    )


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    key_col: str = "doc_id",
    strict: bool = False,
) -> DataFrame:
    """X1 ingest path — MERGE/upsert semantics without a table format:
    every ``updates`` row wins over the ``base`` row with the same key;
    base rows with no update pass through; update rows with new keys
    insert. (Delta/Iceberg MERGE INTO for the WHEN MATCHED UPDATE ALL /
    WHEN NOT MATCHED INSERT ALL case, expressed as composable DataFrame
    ops — the shape an incremental corpus refresh needs.)

    Plan: updates UNION ALL (base LEFT ANTI updates-keys). One shuffle on
    the key for the anti-join (or zero if base is already bucketed by the
    key — the anti-join then co-locates); the union is free. The anti-join
    build side is just the updates' key column — 8 bytes/row — so AQE
    broadcasts it whenever the update batch is small relative to the
    corpus, which is the common refresh shape. Precondition: ``updates``
    itself has unique keys (run it through exact/latest-version dedup
    first otherwise; duplicate update keys would both survive).

    ``strict=True`` enforces that precondition IN-PLAN, matching real
    MERGE INTO semantics (Delta/Iceberg raise on multiple matches): a
    ranking window counts rows per update key and ``assert_true`` fails
    the job at execution time if any key repeats — violations fail
    loudly instead of duplicating keys downstream. Costs one extra
    window shuffle of the (small) updates side only."""
    if strict:
        w = Window.partitionBy(key_col)
        guard = F.assert_true(
            F.count(F.lit(1)).over(w) == 1,
            F.concat(
                F.lit("merge_upsert: duplicate update key "),
                F.col(key_col).cast("string"),
            ),
        )
        updates = (
            updates.withColumn("_dup_guard", guard)
            .filter(F.col("_dup_guard").isNull())
            .drop("_dup_guard")
        )
    upd_keys = updates.select(key_col)
    survivors = base.join(upd_keys, key_col, "left_anti")
    return updates.unionByName(survivors)


def apply_changelog(
    base: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    version_col: str,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """X1 ingest path — apply a CDC CHANGE LOG (upserts + DELETES) to a
    snapshot: the missing third of the incremental-corpus trio
    (``incremental_dedup`` skips re-deliveries, ``merge_upsert`` upserts;
    this adds tombstones — takedowns, robots.txt revocations, opt-outs —
    the operation a compliant corpus pipeline cannot live without).

    Semantics: per key, the HIGHEST-version row across (base UNION
    changes) decides; if it is a ``delete_op`` tombstone the key
    disappears, otherwise the row survives. Keep-max-version makes the
    apply order-independent and idempotent (same guarantees as the
    streaming upsert sink — replaying or reordering change batches cannot
    change the result). Preconditions: ``base`` carries ``version_col``
    (it is the product of prior applies; a fresh snapshot is version 0)
    and versions strictly increase per key across changes — equal-version
    conflicts have no defined winner anywhere in CDC.

    Plan: one ranking-window shuffle on the key over the union, then a
    tombstone filter — identical cost to ``latest_version_dedup``; the
    tombstone rows themselves never reach the output, so a mostly-delete
    batch SHRINKS the table in the same single pass."""
    tagged_base = base.withColumn(op_col, F.lit("U"))
    newest = latest_version_dedup(
        tagged_base.unionByName(changes),
        key_cols,
        [F.col(version_col).desc()],
    )
    # null-safe: op = NULL is NOT a tombstone (a changelog that only tags
    # deletes leaves op NULL elsewhere; `!=` would evaluate NULL and the
    # filter would silently DROP the document — data loss, not a delete)
    return newest.filter(
        ~F.col(op_col).eqNullSafe(F.lit(delete_op))
    ).drop(op_col)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """X1 ingest path — diff two corpus SNAPSHOTS into a change summary:
    per key, ``added`` (key only in new), ``removed`` (key only in old),
    ``changed`` (key in both, any ``compare_cols`` value differs, null-
    safely) or ``unchanged``. The audit view of a corpus refresh — what
    ``apply_changelog`` writes forward, this reads back (diff(old,
    apply_changelog(old, log)) recovers the log's net effect), and it is
    the regression gate a pipeline runs between two crawl versions before
    retraining.

    Plan: ONE full-outer shuffle join on the key — both sides partial-agg
    nothing and project only key + compare columns, so the exchange
    carries the minimum payload. At corpus scale compare_cols should be a
    fingerprint column (e.g. ``exact_dedup_by_fingerprint``'s xxhash64)
    rather than raw text; the comparison here is column-generic so both
    work."""
    o = old.select(
        *[F.col(k).alias(k) for k in key_cols],
        *[F.col(c).alias(f"_old_{c}") for c in compare_cols],
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        *[F.col(k).alias(k) for k in key_cols],
        *[F.col(c).alias(f"_new_{c}") for c in compare_cols],
        F.lit(True).alias("_in_new"),
    )
    # no compare_cols is a legitimate presence-only diff: nothing can
    # differ, so keys in both snapshots are 'unchanged' (differs = False
    # rather than a TypeError from F.when(None, ...))
    differs = F.lit(False)
    for c in compare_cols:
        d = ~F.col(f"_old_{c}").eqNullSafe(F.col(f"_new_{c}"))
        differs = differs | d
    change = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(differs, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        o.join(n, on=key_cols, how="full_outer")
        .select(*key_cols, change.alias("change_type"))
    )


# ---------------------------------------------------------------------------
# X2 — latest-version dedup (ranking window — same shape as D8)
# ---------------------------------------------------------------------------


def latest_version_dedup(
    df: DataFrame, keys: list[str], order_cols: list[Column]
) -> DataFrame:
    """X2 — keep the newest row per logical key (reference analogue: D8
    latest-per-group, dashboard.py:408-409). One shuffle on ``keys``."""
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )


# ---------------------------------------------------------------------------
# Shingling (shared by MinHash / Jaccard)
# ---------------------------------------------------------------------------


def word_shingles(c: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (built-in only:
    split -> sliding windows via transform over an index sequence).

    The token array is bound ONCE as a lambda variable (via the singleton-
    array trick) before the sliding-window transform. Inlining the
    split/filter expression directly into the window lambda makes Spark
    re-evaluate the full tokenization per shingle position — O(tokens^2)
    per document (measured ~5x slower on 5k real docs).

    Splits on the explicit ASCII class ``text.WS_PATTERN``, not Java
    ``\\s`` — Java's class includes ``\\x0B`` (vertical tab) while the
    RE2 ``\\s`` every DuckDB mirror tokenizes with does not, so ``\\s``
    here was a latent cross-engine divergence (round-12 ADVICE; the same
    class ``functions/bpe.py:words_of`` closed explicitly). Pinned by
    tests/test_dedup.py::test_word_shingles_vertical_tab_matches_duckdb.
    """
    from apache_spark_streaming_project_spark.operators.text import WS_PATTERN

    c = F.col(c) if isinstance(c, str) else c
    toks_expr = F.filter(F.split(F.lower(F.trim(c)), WS_PATTERN), lambda t: t != "")

    def windows(toks: Column) -> Column:
        k = F.size(toks) - (n - 1)
        # sequence(0, stop) DESCENDS when stop < 0 — guard short docs to empty
        idx = F.when(k > 0, F.sequence(F.lit(0), k - 1)).otherwise(
            F.array().cast("array<int>")
        )
        return F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
        )

    return F.element_at(F.transform(F.array(toks_expr), windows), 1)


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------


def minhash_signature(shingles: Column, num_hashes: int = 32) -> Column:
    """MinHash signature as a column expression: for seed s, min over
    shingles of xxhash64(shingle, s). Kept for composability on small arrays;
    the scalable path is :func:`minhash_signatures_df` (explode + groupBy:
    one codegen'd hash pass, partial-aggregated min per seed)."""
    # NB: single-arg lambdas only — a 2-arg lambda (e.g. closing over the
    # seed via a default parameter) makes transform/filter pass the ELEMENT
    # INDEX as the second argument, silently shadowing the binding.
    def _component(seed: int) -> Column:
        return F.aggregate(
            F.transform(shingles, lambda sh: F.xxhash64(sh, F.lit(seed))),
            F.lit(2**63 - 1).cast("long"),
            lambda acc, x: F.least(acc, x),
        )

    sig = F.array(*[_component(s) for s in range(num_hashes)])
    # an empty shingle array would fold to the all-sentinel signature for
    # EVERY such doc — unrelated short documents scoring est_jaccard 1.0
    # and merging. NULL instead (minhash_signatures_df drops such docs;
    # this composable form marks them un-signable).
    return F.when(F.size(shingles) > 0, sig).otherwise(
        F.lit(None).cast("array<long>")
    )


def minhash_signatures_df(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Scalable MinHash: explode distinct shingles to (key, shingle) rows,
    then ``groupBy(key).agg(min(xxhash64(shingle, s)) per seed)``.

    The hash evaluations run inside WholeStageCodegen over exploded rows;
    partial aggregation means the shuffle carries one (key, num_hashes x
    long) row per key per map partition. Returns (_key, _sig array<long>).

    ``max_shingle_df`` drops shingles whose DOCUMENT FREQUENCY exceeds the
    cap before signatures are computed — the standard boilerplate guard
    for web-scale corpora: near-ubiquitous template shingles (nav bars,
    cookie banners, licence footers) otherwise dominate every document's
    min-hashes, so sub-threshold pairs that share only boilerplate flood
    the LSH buckets quadratically. Dropping high-df grams both bounds the
    buckets AND improves dedup quality (similarity is then measured on
    the content that distinguishes documents). Two-pass corpus-stats
    shape: the df table aggregates on the 8-byte xxhash64 of the shingle
    (map-side combine; shuffle carries hash+count), and only the
    over-cap hashes — the boilerplate vocabulary, small by construction —
    come back as an anti-join build side AQE broadcasts. Documents whose
    every shingle is over-cap (pure-template pages) produce no signature
    and drop out of near-dup detection, like empty documents.
    """
    exploded = df.select(
        F.col(key_col).alias("_key"),
        F.explode(word_shingles(text_col, shingle_n)).alias("_sh"),
    )
    if max_shingle_df is not None:
        hot = (
            exploded.groupBy(F.xxhash64("_sh").alias("_shh"))
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_shingle_df)
            .select("_shh")
        )
        exploded = exploded.join(
            hot, F.xxhash64(exploded["_sh"]) == hot["_shh"], "left_anti"
        )
    mins = exploded.groupBy("_key").agg(
        *[
            F.min(F.xxhash64(F.col("_sh"), F.lit(s))).alias(f"_m{s}")
            for s in range(num_hashes)
        ]
    )
    return mins.select(
        "_key", F.array(*[F.col(f"_m{s}") for s in range(num_hashes)]).alias("_sig")
    )


def lsh_band_rows(
    sig: DataFrame, num_hashes: int = 32, bands: int = 8
) -> DataFrame:
    """Band a (_key, _sig) MinHash signature table into LSH bucket rows
    ``(_key, _sig, band, band_hash)`` — band_hash = xxhash64 over that
    band's signature slice. Shared by the batch candidate self-join
    (:func:`minhash_lsh_candidates`) and the streaming persisted band
    index (m14): equal signatures produce equal hashes in EVERY band, so
    exact-duplicate recall through the index is 1 by construction."""
    rows_per_band = num_hashes // bands
    return sig.select(
        "_key",
        "_sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("_sig", b * rows_per_band + i + 1)
                                    for i in range(rows_per_band)
                                ],
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_b"),
    ).select("_key", "_sig", "_b.band", "_b.band_hash")


def minhash_lsh_candidates(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs: shingle -> minhash signature ->
    band rows (explode) -> self-join within (band, band_hash) buckets.

    Scale story: the only shuffle key is (band_id, band_hash) — docs land in
    tiny buckets; the quadratic self-join happens per-bucket, never globally.
    Skewed buckets from boilerplate-heavy corpora are the one structural
    hazard: template shingles shared corpus-wide dominate the min-hashes and
    collapse sub-threshold pairs into mega-buckets — pass ``max_shingle_df``
    to drop over-cap shingles before signature computation (see
    :func:`minhash_signatures_df`; residual runtime skew is further split by
    AQE skew-join). Returns (key_a, key_b, est_jaccard) with key_a < key_b;
    est_jaccard = fraction of matching signature components.
    """
    if bands < 1 or num_hashes % bands != 0:
        # bands > num_hashes would make every band hash a CONSTANT (all
        # docs in one bucket per band — a global O(N^2) self-join with no
        # error); a non-divisor would silently band only the first
        # bands*(num_hashes//bands) signature components
        raise ValueError(
            f"bands must divide num_hashes: got num_hashes={num_hashes}, "
            f"bands={bands}"
        )
    rows_per_band = num_hashes // bands
    # the signature table feeds BOTH sides of the self-join — persist it so
    # the shingle+hash+shuffle pipeline runs once, not twice (at cluster
    # scale this is a materialized signature table)
    sig = minhash_signatures_df(
        df, key_col, text_col, num_hashes, shingle_n, max_shingle_df
    ).cache()
    banded = lsh_band_rows(sig, num_hashes, bands)
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a._key") < F.col("b._key")),
        )
        .select(
            F.col("a._key").alias("key_a"),
            F.col("b._key").alias("key_b"),
            F.col("a._sig").alias("_sig_a"),
            F.col("b._sig").alias("_sig_b"),
        )
        .dropDuplicates(["key_a", "key_b"])
    )
    matches = F.size(
        F.filter(
            F.zip_with("_sig_a", "_sig_b", lambda x, y: x == y), lambda m: m
        )
    )
    return pairs.select(
        "key_a",
        "key_b",
        (matches.cast("double") / F.lit(float(num_hashes))).alias("est_jaccard"),
    )


# ---------------------------------------------------------------------------
# SimHash near-dup
# ---------------------------------------------------------------------------


def hot_shingles(
    df: DataFrame,
    text_col: str = "text",
    shingle_n: int = 2,
    max_shingle_df: int = 1000,
    max_hot: int = 100_000,
) -> frozenset[str]:
    """The over-cap BOILERPLATE VOCABULARY: distinct word n-gram shingles
    whose document frequency exceeds ``max_shingle_df``. Returned as a
    driver-side frozenset for closure-shipping into Arrow kernels
    (:func:`simhash_df`); the MinHash path keeps its all-plan anti-join
    formulation (:func:`minhash_signatures_df`) because its consumer is
    already a DataFrame pipeline.

    The collect is BOUNDED BY CONSTRUCTION: near-ubiquitous shingles are a
    vocabulary (nav bars, banners, licence footers), not a corpus — a df
    threshold at fractions of the corpus admits at most
    |corpus|*|avg shingles|/threshold entries, tiny for any real cap. The
    ``max_hot`` hard cap + assertion makes that contract explicit (same
    pattern as the capped k-means training collect,
    operators/similarity.py): a violation means the cap is set far too
    low for the corpus, and failing beats silently shipping a giant set.
    """
    hot = (
        df.select(F.explode(word_shingles(text_col, shingle_n)).alias("_sh"))
        .groupBy("_sh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_shingle_df)
        .select("_sh")
    )
    rows = hot.limit(max_hot + 1).collect()
    if len(rows) > max_hot:
        # a real raise, not assert: under python -O an assert compiles
        # out and the truncating limit() would silently ship an arbitrary
        # subset of the hot set
        raise ValueError(
            f"hot-shingle set exceeded {max_hot} entries — max_shingle_df="
            f"{max_shingle_df} is far below this corpus's vocabulary "
            "knee; raise the cap (or the threshold) instead of shipping "
            "a giant set"
        )
    return frozenset(r._sh for r in rows)


def simhash_df(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 2,
    drop_shingles: frozenset[str] | None = None,
) -> DataFrame:
    """SimHash fingerprints as (key, fp), computed MAP-ONLY: a document's
    shingles live in its own row, so unlike MinHash-LSH there is no shuffle
    at any scale. The whole fingerprint — tokenize, distinct word
    ``shingle_n``-grams, 64-bit shingle hashes (pandas ``hash_array``,
    SipHash with a fixed key: deterministic and C-vectorized), per-bit
    majority vote — is ONE Arrow-batched numpy kernel per batch: all
    shingles in the batch are hashed as a single flat array, bit-unpacked
    to a (n_shingles, 64) matrix, and per-document ones-counts come from
    ``np.add.reduceat`` over the document offsets. No per-shingle Python
    and no JVM expression interpretation in the hot path.

    Bit 63 makes the fingerprint negative in two's complement; ``fp`` stays
    a signed long. Documents with no shingles produce no fingerprint. The
    kernel runs as ``mapInPandas`` (its own Arrow exec node) rather than a
    scalar pandas_udf so it can never be inlined into a projection.

    ``drop_shingles`` (see :func:`hot_shingles`) excludes the boilerplate
    vocabulary from the fingerprint: template-heavy corpora otherwise get
    fingerprints dominated by shared template votes, so documents with
    DIFFERENT content land within small Hamming distance and flood the
    block join — the SimHash twin of the MinHash ``max_shingle_df`` guard.
    Documents whose every shingle is dropped produce no fingerprint (same
    drop-out semantics as pure-template pages under the MinHash cap).
    """
    from collections.abc import Iterator

    from pandas.util import hash_array

    key_field = df.schema[key_col].dataType.simpleString()
    n = shingle_n
    drop = drop_shingles or frozenset()

    def _fp_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        shifts = np.arange(64, dtype=np.uint64)
        for pdf in batches:
            flat: list[str] = []
            offsets: list[int] = [0]
            keep: list[int] = []
            for i, t in enumerate(pdf["_text"]):
                toks = t.strip().lower().split() if isinstance(t, str) else []
                if len(toks) >= n:
                    # dict.fromkeys: distinct, order-preserving
                    sh = dict.fromkeys(
                        g
                        for j in range(len(toks) - n + 1)
                        if (g := " ".join(toks[j : j + n])) not in drop
                    )
                    if sh:
                        keep.append(i)
                        flat.extend(sh)
                        offsets.append(len(flat))
            if not keep:
                continue
            h = hash_array(np.asarray(flat, dtype=object))
            # (n_shingles, 64) bit matrix; segment sums = per-doc ones-counts
            bits = np.unpackbits(
                h.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
            )
            ones = np.add.reduceat(bits.astype(np.int64), offsets[:-1], axis=0)
            counts = np.diff(offsets)[:, None]
            fp_bits = (ones * 2 > counts).astype(np.uint64)
            fps = (fp_bits << shifts).sum(axis=1, dtype=np.uint64)
            yield pd.DataFrame(
                {
                    "_key": pdf["_key"].iloc[keep].reset_index(drop=True),
                    "_fp": pd.Series(fps.view(np.int64)),
                }
            )

    return df.select(
        F.col(key_col).alias("_key"), F.col(text_col).alias("_text")
    ).mapInPandas(_fp_batches, schema=f"_key {key_field}, _fp long")


def simhash_near_dups(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    shingle_n: int = 2,
    fingerprints: DataFrame | None = None,
    drop_shingles: frozenset[str] | None = None,
) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance ``max_hamming``.

    Candidate generation uses the pigeonhole trick: split the 64-bit
    fingerprint into ``max_hamming + 1`` blocks; any pair within the distance
    budget must agree exactly on >= 1 block, so the self-join key is
    (block_id, block_value) — same bucketed-join scale story as LSH.

    Pass ``fingerprints`` (a ``simhash_df`` result, schema (_key, _fp)) to
    reuse an already-computed — typically cached or persisted — fingerprint
    table instead of recomputing it from ``df``; at corpus scale the
    fingerprint table is a materialized artifact shared by every consumer.
    ``drop_shingles`` forwards the boilerplate vocabulary to
    :func:`simhash_df` (ignored when ``fingerprints`` is supplied).

    Scale residue (measured, BASELINE.md round-7 two-decade probe): with
    4 blocks of 16 bits, RANDOM-pair candidates are ~ blocks * N^2 / 2^17
    — 0.0006% of all pairs, invisible at N=100k (~305k candidates) and
    ~30M at N=1M fingerprints (~20 s of the probe's 100x row). Pigeonhole
    completeness for radius r fixes the block count at r+1, so unlike the
    LSH band width this term has no free knob at 64 bits — and WIDENING
    the fingerprint alone does not help: for a fixed cosine threshold the
    expected Hamming distance is bits * theta/pi, so the design radius
    scales with the width and block width stays ~bits/(r+1). Past
    N ~ 10^7 the remedy is a cheap prefilter (length or gram-count band)
    on candidate pairs before the exact Hamming check; BASELINE.md's
    round-7 multiprobe addendum measured 2 x 32-bit multi-probe blocking
    slower than pigeonhole through N = 4M on this engine.
    """
    if not 1 <= max_hamming <= 15:
        # 0 needs a 64-bit mask literal (doesn't fit a JVM long —
        # join on _fp equality directly for exact-dup checks); past
        # 15 the 64 // (r+1)-bit blocks are <= 3 bits wide and the
        # bucket space degenerates toward one global bucket (a
        # silent O(N^2) self-join at 64+)
        raise ValueError(
            "pigeonhole blocking supports 1 <= max_hamming <= 15 on "
            f"64-bit fingerprints, got {max_hamming}; for 0 join on "
            "fingerprint equality, for wider radii use a wider "
            "fingerprint or candidate prefilter"
        )
    blocks = max_hamming + 1
    bits_per = 64 // blocks
    # both self-join sides read the fingerprint table — persist (see
    # minhash_lsh_candidates)
    fp = (
        fingerprints
        if fingerprints is not None
        else simhash_df(df, key_col, text_col, shingle_n, drop_shingles).cache()
    )
    banded = fp.select(
        "_key",
        "_fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block"),
                        F.shiftrightunsigned(F.col("_fp"), i * bits_per)
                        .bitwiseAND(F.lit((1 << bits_per) - 1))
                        .alias("block_val"),
                    )
                    for i in range(blocks)
                ]
            )
        ).alias("_b"),
    ).select("_key", "_fp", "_b.block", "_b.block_val")
    a, b = banded.alias("a"), banded.alias("b")
    xor = F.col("a._fp").bitwiseXOR(F.col("b._fp"))
    hamming = F.bit_count(xor)
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a._key") < F.col("b._key")),
        )
        .select(
            F.col("a._key").alias("key_a"),
            F.col("b._key").alias("key_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["key_a", "key_b"])
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, for candidate verification or small corpora)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Exact word-n-gram Jaccard for given candidate ``pairs`` (key_a, key_b):
    join shingle arrays in, then |A∩B| / |A∪B| via array built-ins. Used to
    verify LSH/SimHash candidates — exact similarity only on the candidate
    set, never all-pairs."""
    # shingling is the expensive kernel and feeds BOTH join sides — cache it
    # so it's computed once, not once per branch
    sh = df.select(
        F.col(key_col).alias("_k"), word_shingles(text_col, n).alias("_sh")
    ).cache()
    out = (
        pairs.join(sh.withColumnRenamed("_k", "key_a").withColumnRenamed("_sh", "_sh_a"), "key_a")
        .join(sh.withColumnRenamed("_k", "key_b").withColumnRenamed("_sh", "_sh_b"), "key_b")
    )
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size(F.array_union("_sh_a", "_sh_b"))
    return out.select(
        "key_a",
        "key_b",
        F.when(union > 0, inter.cast("double") / union.cast("double"))
        .otherwise(0.0)
        .alias("jaccard"),
    )


def ngram_containment_pairs(
    df: DataFrame,
    pairs: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT for candidate pairs: |A∩B|/|A| and
    |A∩B|/|B|. Jaccard misses doc-inside-doc duplication (a fragment
    quoted whole inside a larger page scores low Jaccard because the
    union is big) — containment is the metric crawl dedup uses to catch
    it: containment_a ~= 1 means A is essentially contained in B,
    whatever else B carries. Same join shape as the Jaccard verifier:
    shingle once (cached), join both sides in, array built-ins do the
    set math — exact scoring only on the candidate set, never all-pairs."""
    sh = df.select(
        F.col(key_col).alias("_k"), word_shingles(text_col, n).alias("_sh")
    ).cache()
    out = (
        pairs.join(
            sh.withColumnRenamed("_k", "key_a").withColumnRenamed("_sh", "_sh_a"),
            "key_a",
        ).join(
            sh.withColumnRenamed("_k", "key_b").withColumnRenamed("_sh", "_sh_b"),
            "key_b",
        )
    )
    inter = F.size(F.array_intersect("_sh_a", "_sh_b")).cast("double")
    na = F.size("_sh_a")
    nb = F.size("_sh_b")
    return out.select(
        "key_a",
        "key_b",
        F.when(na > 0, inter / na.cast("double")).otherwise(0.0).alias(
            "containment_a"
        ),
        F.when(nb > 0, inter / nb.cast("double")).otherwise(0.0).alias(
            "containment_b"
        ),
    )


def consecutive_jaccard(
    df: DataFrame, key_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Deterministic oracle-checkable Jaccard surface: similarity of each
    (doc_id, doc_id+1) pair. Exercises the shingle + intersect/union kernel
    with O(N) pairs (the all-pairs version is the LSH pipeline's job)."""
    pairs = df.select(
        F.col(key_col).alias("key_a"), (F.col(key_col) + 1).alias("key_b")
    )
    keys = df.select(F.col(key_col).alias("key_b"))
    pairs = pairs.join(keys, "key_b", "left_semi")
    return ngram_jaccard_pairs(df, pairs, key_col, text_col, n)


def cross_split_contamination(
    df: DataFrame,
    is_train: Column,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Train/eval decontamination (benchmark-leakage check): for every
    held-out document, count its distinct word ``n``-grams that also occur
    anywhere in the training split. Returns one row per held-out doc:
    ``(key, n_grams, n_contaminated)`` — ``n_contaminated > 0`` flags the
    doc for removal from the eval set (or the overlapping train docs for
    removal from the corpus, per policy).

    Scale shape: shingling is map-only; the train-side gram set dedups via
    partial aggregation (shuffle carries one row per distinct gram per
    partition); the membership check is one gram-keyed left join (train
    grams are distinct, so no row multiplication); the per-doc rollup
    shuffles only held-out keys.

    No reference equivalent — this is the decontamination op every
    LLM-training pipeline runs between corpus assembly and eval.
    """
    gram = F.explode_outer(word_shingles(text_col, n)).alias("gram")
    # a NULL split flag fails BOTH filters (train and ~train) — the doc
    # would silently be checked against nothing, the one failure mode a
    # leakage gate must not have. Unknown split = held-out (checked).
    grams = df.select(
        F.col(key_col),
        F.coalesce(is_train.cast("boolean"), F.lit(False)).alias("_train"),
        gram,
    )
    train_set = (
        grams.filter(F.col("_train"))
        .filter(F.col("gram").isNotNull())
        .select("gram")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    held_out = grams.filter(~F.col("_train")).drop("_train")
    return (
        held_out.join(train_set, "gram", "left")
        .groupBy(key_col)
        .agg(
            F.count("gram").alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_contaminated"),
        )
    )


def bloom_prefilter_contamination(
    df: DataFrame,
    is_train: Column,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    num_bits: int = 1 << 23,
) -> DataFrame:
    """X10 at scale — ``cross_split_contamination`` with a BLOOM-FILTER
    pre-filter on the held-out gram stream: build one SPARSE bloom
    bitmap over the train split's grams (``functions/bloom.py`` —
    ``bit_or`` partial aggregation into (word, bits) rows, map-side
    build + one word-keyed reduce; Spark's own ``bloom_filter_agg`` is
    optimizer-internal, not a registered function), broadcast the word
    table, and drop every held-out gram the bloom rejects BEFORE the
    gram-keyed exchange (k broadcast hash-join probes + bit-AND).

    Result-identical to the exact operator by construction: a bloom
    filter has NO false negatives, so every truly-contaminated gram
    survives the pre-filter, and the exact string join afterwards
    removes the false positives. What changes is the plan: at corpus
    scale the held-out gram stream is the dominant shuffle, and the
    map-side probe cuts it to (true hits + fp-rate * misses) — with
    ~1.5% fp that is a ~60x exchange reduction on a mostly-clean eval
    set. ``n_grams`` still counts ALL held-out grams (a join-free
    partial agg before the filter); only the membership join is pruned.
    Size ``num_bits ~= 16 * expected distinct train grams`` (k=2).
    """
    from apache_spark_streaming_project_spark.functions.bloom import (
        bloom_build,
        bloom_prefilter,
    )

    gram = F.explode_outer(word_shingles(text_col, n)).alias("gram")
    # NULL split flag -> held-out (checked), as in cross_split_contamination
    grams = df.select(
        F.col(key_col),
        F.coalesce(is_train.cast("boolean"), F.lit(False)).alias("_train"),
        gram,
    )
    train_grams = (
        grams.filter(F.col("_train")).filter(F.col("gram").isNotNull()).select("gram")
    )
    bloom = bloom_build(train_grams, "gram", m_bits=num_bits)
    held_out = grams.filter(~F.col("_train")).drop("_train")
    totals = held_out.groupBy(key_col).agg(F.count("gram").alias("n_grams"))
    candidates = bloom_prefilter(
        held_out.filter(F.col("gram").isNotNull()), bloom, "gram", m_bits=num_bits
    )
    train_set = train_grams.distinct().withColumn("_hit", F.lit(1))
    hits = (
        candidates.join(train_set, "gram")
        .groupBy(key_col)
        .agg(F.count("*").cast("bigint").alias("n_contaminated"))
    )
    return totals.join(hits, key_col, "left").select(
        key_col,
        "n_grams",
        F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("bigint").alias(
            "n_contaminated"
        ),
    )


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components + representative selection
# ---------------------------------------------------------------------------


def near_dup_clusters(
    pairs: DataFrame,
    key_a: str = "key_a",
    key_b: str = "key_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over a near-dup pair graph -> (key, cluster_id),
    cluster_id = min key reachable (deterministic canonical label). Only
    keys that appear in ``pairs`` are returned; singletons are implicitly
    their own cluster.

    Iterative min-label propagation: each round every node takes the min of
    its own and its neighbors' labels (2 shuffles/round: edge-label join +
    per-node min), converging in O(graph diameter) rounds. Near-dup graphs
    are bounded-diameter by construction (clusters are small cliques/chains
    from banding), so this terminates in a handful of rounds at any data
    size; pathological long-chain graphs are what the alternating
    small-star/large-star formulation (Kiveris et al., "Connected
    Components in MapReduce and Beyond") is for — same join primitives,
    drop-in upgrade. ``localCheckpoint`` truncates the per-round lineage so
    the plan doesn't grow exponentially; the convergence probe is one
    count() per round (driver sees a scalar, never rows).
    """
    # both edge directions via explode, NOT union-of-swapped-self: a union
    # would execute the (possibly expensive) pairs plan twice
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(key_a).alias("_src"), F.col(key_b).alias("_dst")
                    ),
                    F.struct(
                        F.col(key_b).alias("_src"), F.col(key_a).alias("_dst")
                    ),
                )
            ).alias("_e")
        )
        .select("_e._src", "_e._dst")
        .distinct()
        .localCheckpoint()
    )
    # Adjacency WITH one self-loop per node (round-14 opt, guide §2.4): the
    # self-loop row carries a node's OWN label into the per-node min, so one
    # join + one aggregate per round replaces join + aggregate + join-back —
    # the old round shape paid a second labels-keyed exchange just to
    # compute `least(own, neighbor-min)` and the change flag; here both ride
    # in the same aggregate (min over all rows = new label, min over the
    # self-loop row = old label; propagation only ever decreases labels, so
    # `new < old` is the change flag). Lazy checkpoint: round 1's
    # convergence count materializes it alongside its own work.
    adj = (
        edges.select("_src", "_dst", F.lit(False).alias("_self"))
        .unionByName(
            edges.select(F.col("_src").alias("_key"))
            .distinct()
            .select(
                F.col("_key").alias("_src"),
                F.col("_key").alias("_dst"),
                F.lit(True).alias("_self"),
            )
        )
        .localCheckpoint(eager=False)
    )
    labels = edges.select(F.col("_src").alias("_key")).distinct().select(
        "_key", F.col("_key").alias("cluster_id")
    )
    changed = -1  # "never ran a round" sentinel for the exhaustion error
    for _ in range(max_iterations):
        stepped = (
            adj.join(labels.withColumnRenamed("_key", "_dst"), "_dst")
            .groupBy("_src")
            .agg(
                F.min("cluster_id").alias("_new"),
                F.min(
                    F.when(F.col("_self"), F.col("cluster_id"))
                ).alias("_old"),
            )
            .select(
                F.col("_src").alias("_key"),
                "_new",
                (F.col("_new") < F.col("_old")).alias("_chg"),
            )
            # LAZY checkpoint + the count as its materializing action: the
            # count's filter consumes every partition, so one job both
            # computes/persists the round's labels AND answers the
            # convergence probe — the eager-checkpoint-then-count form paid
            # two jobs per round (round-14 opt, guide §5: fewer driver-side
            # actions). Lineage truncation is identical: the logical plan is
            # cut to a LogicalRDD either way, and after the count no
            # partition is left unmaterialized.
            .localCheckpoint(eager=False)
        )
        changed = stepped.filter(F.col("_chg")).count()  # scan, no join
        labels = stepped.select("_key", F.col("_new").alias("cluster_id"))
        if changed == 0:
            break
    else:
        # falling through with changed > 0 would silently return WRONG
        # (under-merged) labels for graphs whose diameter exceeds the
        # round budget — long transitive chains in templated text can do
        # this. Fail loudly; callers with genuinely deep graphs should
        # raise max_iterations (or move to the small-star/large-star
        # formulation, which converges in O(log n) rounds).
        raise RuntimeError(
            f"near_dup_clusters did not converge in {max_iterations} "
            f"rounds ({changed} labels still changing): pair-graph "
            "diameter exceeds the round budget; raise max_iterations"
        )
    return labels.select(F.col("_key").alias("key"), "cluster_id")


def dedup_keep_representatives(
    df: DataFrame,
    pairs: DataFrame,
    key_col: str = "doc_id",
    key_a: str = "key_a",
    key_b: str = "key_b",
) -> DataFrame:
    """Collapse near-dup clusters: keep ONE row per connected component (the
    min-key member — swap the ordering for a quality-score argmax), plus
    every row not in any pair. This is the final step of a near-dup
    pipeline: candidates -> verify -> cluster -> keep representative.

    The anti-join against the drop-key set carries NO broadcast hint by
    default: crawl corpora routinely have a LARGE near-dup fraction
    (30%+), so the drop set is not reliably driver/broadcast-sized, and a
    forced hint fails outright instead of degrading. AQE broadcasts it at
    runtime when it measures small.
    """
    clusters = near_dup_clusters(pairs, key_a, key_b)
    drop = clusters.filter(F.col("key") != F.col("cluster_id")).select(
        F.col("key").alias(key_col)
    )
    return df.join(drop, key_col, "left_anti")


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    score: Column,
    key_col: str = "doc_id",
    key_a: str = "key_a",
    key_b: str = "key_b",
) -> DataFrame:
    """Collapse near-dup clusters keeping the BEST member per component by
    ``score`` (ties break on min key) — the curation-grade variant of
    :func:`dedup_keep_representatives`: when a page was crawled five
    times, keep the highest-quality copy, not whichever got the smallest
    id.

    Scale shape: the score is evaluated ONLY on cluster members (an inner
    join against the small cluster table — paired docs are a vanishing
    fraction of a corpus), the per-cluster argmax is a ranking window
    over that member table, and the corpus itself never shuffles — the
    losers come back as an anti-join side AQE broadcasts when small."""
    clusters = near_dup_clusters(pairs, key_a, key_b).select(
        F.col("key").alias(key_col), "cluster_id"
    )
    members = df.join(clusters, key_col).select(
        key_col, "cluster_id", score.alias("_score")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("_score").desc(), F.col(key_col).asc()
    )
    drop = (
        members.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .select(key_col)
    )
    return df.join(drop, key_col, "left_anti")


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------


def embedding_near_dups(
    df: DataFrame,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 32,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup pairs with cosine >= threshold.

    Candidates via BANDED random-hyperplane LSH: the sign pattern of
    ``n_planes`` fixed pseudo-random projections (deterministic seed) is
    split into ``bands`` blocks; a pair becomes a candidate if ANY block
    matches exactly, then exact cosine verifies within buckets (precision is
    exact — only recall is probabilistic). A single table requiring ALL
    signs to agree has ~18% recall at cosine 0.95 even with 16 planes;
    banding lifts near-dup recall to ~99% (4 bands of 8 bits at cosine
    0.99). Band WIDTH bounds the candidate volume: b bits -> 2^b buckets
    per band, so expected random-pair candidates ~= bands * N^2 / 2^(b+1).
    8-bit bands keep that sub-1% of all pairs at N=2000; 4-bit bands
    (16 buckets) degenerate toward the quadratic all-pairs join — measured
    17x slower on the sf0.1 bench. The shuffle key is (band, block value)
    — same bucketed-join scale story as the text LSH.
    """
    import random
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from apache_spark_streaming_project_spark.functions.vector import dot_pd

    head = df.select(vec_col).first()
    if head is None or head[0] is None:
        raise ValueError(
            "embedding_near_dups needs a non-empty, non-null vector "
            "column to derive the plane dimension"
        )
    dim = len(head[0])
    rng = random.Random(seed)
    planes = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_planes)]
    bits_per = n_planes // bands

    # signature + unit-normalization feed both self-join sides — persist;
    # storing UNIT vectors makes the per-pair verify a bare dot product
    # instead of dot + two norms. Both derived columns come from ONE
    # mapInPandas kernel (a dedicated Arrow exec node): scalar pandas_udf
    # projections here hit the data/ordering-dependent planner inlining edge
    # ("Cannot generate code for expression: pythonUDF") that simhash_df and
    # blocked_cosine_join were moved off of — see the note at the simhash
    # kernel.
    P = np.asarray(planes, dtype=np.float64).T  # dim x n_planes
    weights = (1 << np.arange(P.shape[1], dtype=np.uint64)).astype(np.uint64)
    key_t = df.schema[key_col].dataType.simpleString()

    def tag_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.stack(pdf["_raw"].to_numpy()).astype(np.float64)
            n = np.linalg.norm(V, axis=1, keepdims=True)
            U = np.divide(V, n, out=np.zeros_like(V), where=n > 0)
            bits = (V @ P) >= 0
            packed = (bits.astype(np.uint64) * weights).sum(axis=1)
            yield pd.DataFrame(
                {
                    "_key": pdf["_key"],
                    "_vec": list(U),
                    "_sig": packed.astype(np.int64),
                }
            )

    dot_udf = dot_pd()
    tagged = (
        df.select(F.col(key_col).alias("_key"), F.col(vec_col).alias("_raw"))
        .mapInPandas(tag_kernel, f"_key {key_t}, _vec array<double>, _sig long")
        .cache()
    )
    banded = tagged.select(
        "_key",
        "_vec",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("_sig"), i * bits_per)
                        .bitwiseAND(F.lit((1 << bits_per) - 1))
                        .alias("band_val"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("_b"),
    ).select("_key", "_vec", "_b.band", "_b.band_val")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a._key") < F.col("b._key")),
        )
        .select(
            F.col("a._key").alias("key_a"),
            F.col("b._key").alias("key_b"),
            dot_udf(F.col("a._vec"), F.col("b._vec")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .dropDuplicates(["key_a", "key_b"])
    )


# ---------------------------------------------------------------------------
# Streaming dedup per-batch bodies (m14 / m14b / m19)
# ---------------------------------------------------------------------------
# Importable so that (a) tests and the streaming-tax probe replay the
# PRODUCTION body — the dsir_publish_scored_batch precedent: a batch
# driven directly and a batch driven by foreachBatch run the same code
# path, so the probe's "batch equivalent" cannot drift — and (b) the
# foreachBatch closure in entry_queries stays a one-liner (the round-11
# addPyFile lesson: module-level functions ship with the package, not in
# a pickled closure).


def jaccard_verified(s: Column, rep_s: Column, threshold: float) -> Column:
    """Exact Jaccard |S ∩ R| / |S ∪ R| >= ``threshold`` over two
    distinct-element shingle arrays; two empty arrays never verify (an
    unsignable doc is unique by definition). At threshold 1 this is set
    equality, m14's exact-duplicate identity."""
    inter = F.size(F.array_intersect(s, rep_s))
    un = F.size(F.array_union(s, rep_s))
    return (un > 0) & (
        inter.cast("double") / un.cast("double") >= F.lit(threshold)
    )


def containment_verified(
    s: Column, rep_s: Column, threshold: float
) -> Column:
    """Containment |S ∩ R| / |S| >= ``threshold`` of the LATER doc's
    shingles ``s`` in the earlier doc's ``rep_s`` (asymmetric: the
    denominator is the later doc's count); an empty ``s`` never
    verifies."""
    inter = F.size(F.array_intersect(s, rep_s))
    ns = F.size(s)
    return (ns > 0) & (
        inter.cast("double") / ns.cast("double") >= F.lit(threshold)
    )


def _keep_first_dedup_batch(
    b: DataFrame,
    keys: DataFrame,
    index_store: str,
    text_store: str,
    batch_id: int,
    n: int,
    drops: Callable[[Column, Column], Column],
) -> None:
    """The pairwise keep-first streaming dedup core (m14, m14b, m19).

    ``b`` is the batch ``(doc_id, epoch, text)``, ``keys`` its candidate
    keys ``(doc_id, epoch, <key columns>)``. A doc is dropped iff SOME
    earlier arrival (order = (epoch, doc_id); kept or dropped) shares a
    key with it and ``drops(its shingles, the earlier doc's)`` holds
    over distinct word ``n``-grams. The candidates come from the
    persisted ``index_store`` plus the batch's own keys; verify
    semi-joins the text store to the matched reps BEFORE shingling, so
    it costs O(candidate reps), never O(corpus). Every arrival is
    published: the batch with a ``kept`` flag to the text store, then
    its keys to the index store (``publish_batch``, so a retried batch
    overwrites its own directory)."""
    ss = b.sparkSession
    key_cols = [c for c in keys.columns if c not in ("doc_id", "epoch")]
    # keys feed the probe AND the index arm (self_reps) inside one
    # publish action: persist and seed eagerly (round-14, the `_seeded`
    # pattern) — concurrent first consumers under AQE both miss a lazy
    # cache and run the key pipeline twice in parallel (the round-13
    # x_simhash_pairs measurement)
    keys = keys.persist()
    cand = None
    try:
        keys.count()
        self_reps = keys.select(
            *key_cols,
            F.col("epoch").alias("rep_epoch"),
            F.col("doc_id").alias("rep_doc_id"),
        )
        prior = read_store(ss, index_store, self_reps.schema)
        idx = prior.unionByName(self_reps)
        cand = (
            keys.join(idx, key_cols)
            .filter(
                (F.col("rep_epoch") < F.col("epoch"))
                | (
                    (F.col("rep_epoch") == F.col("epoch"))
                    & (F.col("rep_doc_id") < F.col("doc_id"))
                )
            )
            .select("doc_id", "rep_doc_id")
            .distinct()
        ).persist()  # feeds the reps semi-join AND the verify join
        # ... and BOTH consumers sit inside ONE publish action, so the lazy
        # persist raced: seed eagerly (one evaluation, then cache reads)
        cand.count()
        earlier_texts = read_store(
            ss, text_store, "doc_id long, text string"
        ).select("doc_id", "text")
        all_texts = earlier_texts.unionByName(b.select("doc_id", "text"))
        rep_texts = all_texts.join(
            cand.select(F.col("rep_doc_id").alias("doc_id")).distinct(),
            "doc_id",
            "left_semi",
        )
        dropped = (
            cand.join(
                b.select("doc_id", word_shingles("text", n).alias("_s")),
                "doc_id",
            )
            .join(
                rep_texts.select(
                    F.col("doc_id").alias("rep_doc_id"),
                    word_shingles("text", n).alias("_rep_s"),
                ),
                "rep_doc_id",
            )
            .filter(drops(F.col("_s"), F.col("_rep_s")))
            .select("doc_id")
            .distinct()
        )
        flagged = b.join(
            dropped.withColumn("_dropped", F.lit(True)), "doc_id", "left"
        )
        publish_batch(
            flagged.withColumn("kept", F.col("_dropped").isNull()).drop(
                "_dropped"
            ),
            text_store,
            batch_id,
        )
        publish_batch(self_reps, index_store, batch_id)
    finally:
        # a crash anywhere in the batch — including the window between
        # the two store publishes — must not leak executor cache into
        # the foreachBatch retry
        if cand is not None:
            cand.unpersist()
        keys.unpersist()


def streaming_threshold_dedup_batch(
    batch_df, band_store: str, text_store: str, threshold: float,
    batch_id: int,
) -> None:
    """m14b per-batch body: THRESHOLD (exact word-3-gram Jaccard >= t)
    streaming dedup under the pairwise keep-first rule, with MinHash
    band rows (32 hashes / 8 bands) as the candidate keys; see
    m14b_streaming_threshold_dedup (entry_queries.py). m14 runs this
    body at t = 1, where the Jaccard verify is shingle-set equality
    (m14_streaming_lsh_dedup)."""
    b = batch_df.select("doc_id", "epoch", "text")
    sig = minhash_signatures_df(b, "doc_id", "text", 32, 3)
    bands = (
        lsh_band_rows(sig, 32, 8)
        .select(F.col("_key").alias("doc_id"), "band", "band_hash")
        .join(b.select("doc_id", "epoch"), "doc_id")
    )
    _keep_first_dedup_batch(
        b, bands, band_store, text_store, batch_id, 3,
        lambda s, rep_s: jaccard_verified(s, rep_s, threshold),
    )


def streaming_containment_dedup_batch(
    batch_df,
    gram_store: str,
    text_store: str,
    threshold: float,
    batch_id: int,
    n: int = 8,
) -> None:
    """m19 per-batch body: CONTAINMENT-mode streaming dedup — the
    doc-inside-doc fragment shape (a quoted article, a boilerplate-
    wrapped page) that Jaccard-threshold dedup (m14b) deliberately does
    NOT cover, because MinHash-LSH bands approximate Jaccard and a small
    fragment inside a large page never band-collides (round-12 deferral,
    ROUND12_NOTES.md "Considered and rejected").

    SEMANTICS — pairwise keep-first, asymmetric: a doc B is dropped iff
    SOME earlier arrival A (order = (epoch, doc_id); kept or dropped)
    exactly contains it at level t: |S_B ∩ S_A| / |S_B| >= t over
    distinct word ``n``-gram shingles (:func:`containment_verified`).
    The denominator is the LATER doc's gram count — a fragment arriving
    after its page is dropped; a page arriving after its fragment is
    kept (its own grams are mostly novel). Docs with zero shingles
    (< n tokens) are kept by definition.

    CANDIDATE GENERATOR — a persisted PER-SHINGLE inverted index
    (``gram_hash -> (rep_epoch, rep_doc_id)``), not LSH bands: any pair
    with containment >= t > 0 shares at least one shingle, so the index
    finds it with RECALL 1 BY CONSTRUCTION — the engine is exactly
    equivalent to the all-pairs ground truth, with no recall caveat at
    all (the property m14b's band index cannot give for containment).
    Grams travel as ``xxhash64`` 8-byte keys: a hash collision can only
    ADD a candidate pair (killed by the exact text-side verify), never
    lose one, so exactness survives the key compression. The pair rule
    indexes EVERY arrival (:func:`_keep_first_dedup_batch`), so the gram
    index is bounded by corpus x grams-per-doc.

    At 100 TB: the index is the heavy store (one row per doc-gram), but
    it shuffles on 8-byte hash keys, partition-prunes by ``gram_hash``
    range, and the probe touches only the batch's own grams. Hot
    boilerplate grams skew the probe join, but every gram stays a
    candidate key: dropping hot grams would lose the recall-1 property
    the full ground-truth oracle relies on. Reference has no dedup at
    all (extension surface, SURVEY §2 X2/S6)."""
    b = batch_df.select("doc_id", "epoch", "text")
    # one row per (doc, distinct gram); zero-gram docs drop out here and
    # are therefore never candidates — kept by definition
    grams = b.select(
        "doc_id", "epoch", F.explode(word_shingles("text", n)).alias("_gram")
    ).select("doc_id", "epoch", F.xxhash64("_gram").alias("gram_hash"))
    _keep_first_dedup_batch(
        b, grams, gram_store, text_store, batch_id, n,
        lambda s, rep_s: containment_verified(s, rep_s, threshold),
    )


def streaming_semantic_dedup_batch(
    batch_df,
    cell_store: str,
    vec_store: str,
    centroids: list[list[float]],
    batch_id: int,
    threshold: float = 0.95,
    n_assign: int = 2,
) -> None:
    """m20 per-batch body: SEMANTIC (embedding-cosine) streaming dedup —
    the SemDeDup shape under continuous ingest, completing the streaming
    dedup matrix (exact m14, Jaccard-threshold m14b, containment m19,
    semantic m20).

    SEMANTICS — pairwise keep-first: drop vector B iff some earlier
    arrival A (order = (epoch, vec_id); kept or dropped) has
    cosine(A, B) >= ``threshold``.

    CANDIDATE GENERATOR — a persisted PER-CELL index over a FROZEN
    coarse codebook (``centroids`` trained ONCE, offline or on a corpus
    sample — similarity.ivf_assign; per-batch retraining would silently
    re-partition the space every micro-batch and orphan the persisted
    index). Soft assignment (``n_assign=2``) puts every vector in its
    two nearest cells, so a near-dup pair straddling a Voronoi face
    still co-occurs in a shared cell — the same boundary-recall move the
    batch x_semantic_dedup registration measures (hard assignment misses
    exactly the straddling pairs). Unlike m19's gram index this is NOT
    recall-1 by construction: cell blocking is approximate, so the
    registration documents the operating point and its fixture margins
    (the m14b precedent), and the ground-truth pytest splits any
    mismatch into a CELL RECALL BREAK vs a verification bug.

    VERIFY is BLOCKED, never pairwise-materialized: the cell store
    carries each arrival's vector (the standard IVF assigned-table
    layout — ivf_index docstring), so each cell verifies with ONE
    einsum (batch rows x cell rows) inside applyInPandas, exactly like
    the batch path's blocked_cosine_join. The first cut of this body
    joined candidate PAIRS back to both vector tables — at design
    occupancy that shipped batch x occupancy pair rows with 64-dim
    arrays on both sides through the join (~9 GB/epoch at the probe's
    10k x 500 point) and dominated per-epoch cost; the blocked form
    moves each vector once per cell it lives in and pays the pair term
    only as BLAS flops. Candidates can only ADD pairs (exact cosine +
    strict arrival comparison inside the kernel), so false drops remain
    impossible. Publish is the idempotent batch-keyed overwrite; the
    pair rule indexes EVERY arrival.

    At 100 TB: size the codebook for the TARGET corpus (k ∝ N_final
    keeps per-cell occupancy — and so per-cell verify cost — a design
    constant; the ivf_index scale law), re-quantize as table
    maintenance (requantize_cell_store, the m16 compact-swap pattern)
    when the corpus outgrows it, and write the store partitioned by
    ``centroid_id`` so the per-cell groupBy co-locates. Worst-case cell
    size bounds executor memory in the kernel: occupancy x n_assign
    rows x dim floats (k-means keeps cells balanced-ish; a pathological
    hot cell splits by raising k).
    Reference has no dedup at all (extension surface, SURVEY §2 X2/S6).
    """
    from apache_spark_streaming_project_spark.operators.similarity import (
        _stack_vectors,
        ivf_assign,
    )

    ss = batch_df.sparkSession
    b = batch_df.select("vec_id", "epoch", "embedding")
    # one row per (vector, top-n cell), CARRYING the vector — feeds the
    # blocked verify AND the cell-index publish
    cells = (
        ivf_assign(
            b,
            centroids,
            key_col="vec_id",
            vec_col="embedding",
            n_assign=n_assign,
        )
        .join(b.select("vec_id", "epoch"), "vec_id")
        .select(
            "centroid_id",
            F.col("epoch").alias("rep_epoch"),
            F.col("vec_id").alias("rep_vec_id"),
            "embedding",
        )
    ).persist()
    # eager seed (round-14): `cells` feeds the broadcast cell-set semi-join
    # AND the index union arm inside one publish action — a lazy cache
    # races and the ivf assignment runs twice concurrently
    cells.count()
    try:
        prior = read_store(
            ss,
            cell_store,
            "centroid_id int, rep_epoch long, rep_vec_id long, "
            "embedding array<float>",
        ).select("centroid_id", "rep_epoch", "rep_vec_id", "embedding")
        # untouched cells can never produce a drop for THIS batch, so
        # semi-join the prior index to the batch's own cell set before
        # the grouped verify — per-batch data movement stays
        # O(batch x occupancy), not O(corpus), when k is sized for a
        # target corpus much larger than a batch (the containment
        # body's text-store narrowing, applied to the cell store)
        prior = prior.join(
            F.broadcast(cells.select("centroid_id").distinct()),
            "centroid_id",
            "left_semi",
        )
        # batch rows are both verify TARGETS (_is_batch) and index rows
        # (their own self-reps arm); prior rows are index-only
        idx = prior.withColumn("_is_batch", F.lit(False)).unionByName(
            cells.withColumn("_is_batch", F.lit(True))
        )
        t = float(threshold)

        def per_cell(pdf):
            import numpy as np
            import pandas as pd

            V = _stack_vectors(
                pdf["embedding"], "streaming_semantic_dedup_batch"
            )
            e = pdf["rep_epoch"].to_numpy()
            i = pdf["rep_vec_id"].to_numpy()
            bmask = pdf["_is_batch"].to_numpy()
            B = np.nonzero(bmask)[0]
            if not len(B):
                return pd.DataFrame(
                    {"vec_id": pd.Series([], dtype="int64")}
                )
            nrm = np.sqrt(np.einsum("ij,ij->i", V, V))
            G = V[B] @ V.T  # one BLAS call per cell — the SemDeDup term
            denom = nrm[B][:, None] * nrm[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                C = np.where(denom > 0, G / denom, -np.inf)
            # strict arrival order (epoch, vec_id): self-pairs and
            # later-arrival rows never count as droppers
            earlier = (e[None, :] < e[B][:, None]) | (
                (e[None, :] == e[B][:, None])
                & (i[None, :] < i[B][:, None])
            )
            drop = ((C >= t) & earlier).any(axis=1)
            return pd.DataFrame(
                {"vec_id": i[B][drop].astype("int64")}
            )

        dropped = (
            idx.groupBy("centroid_id")
            .applyInPandas(per_cell, "vec_id long")
            .distinct()  # soft assignment can drop a doc in 2 cells
        )
        flagged = b.join(
            dropped.withColumn("_dropped", F.lit(True)), "vec_id", "left"
        )
        publish_batch(
            flagged.withColumn("kept", F.col("_dropped").isNull()).drop(
                "_dropped"
            ),
            vec_store,
            batch_id,
        )
        publish_batch(cells, cell_store, batch_id)
    finally:
        # crash-safe cache release — see tests/test_crash_recovery.py
        cells.unpersist()


def requantize_cell_store(
    spark,
    vec_store: str,
    cell_store_out: str,
    centroids: list[list[float]],
    n_assign: int = 2,
) -> None:
    """m20's table-maintenance half: REBUILD the per-cell index under a
    NEW frozen codebook — the re-quantization a deployment runs (m16's
    compact-into-new-dir-then-swap pattern) when the corpus outgrows the
    codebook it was sized for (per-cell occupancy, hence per-cell verify
    cost, grows with corpus/k; the ivf_index scale law).

    The vec store is the system of record (every arrival, kept and
    dropped, with its vector); the cell store is DERIVED state — so
    re-quantization is one pass: re-assign every prior arrival under the
    new centroids and write the result to a fresh directory. History is
    untouched (published kept flags are immutable; re-quantization
    changes FUTURE candidate generation only). The rebuild invariant —
    output == what per-batch publishes would have produced had the new
    codebook been frozen from the start — is pinned by
    tests/test_streaming_semantic.py::test_m20_requantize_equals_fresh_
    codebook_history."""
    from apache_spark_streaming_project_spark.operators.similarity import (
        ivf_assign,
    )

    arrivals = read_store(
        spark,
        vec_store,
        "vec_id long, epoch long, embedding array<float>, kept boolean",
    ).select("vec_id", "epoch", "embedding")
    reassigned = (
        ivf_assign(
            arrivals,
            centroids,
            key_col="vec_id",
            vec_col="embedding",
            n_assign=n_assign,
        )
        .join(arrivals.select("vec_id", "epoch"), "vec_id")
        .select(
            "centroid_id",
            F.col("epoch").alias("rep_epoch"),
            F.col("vec_id").alias("rep_vec_id"),
            "embedding",
        )
    )
    reassigned.write.mode("overwrite").parquet(cell_store_out)


def streaming_decontaminate_batch(
    batch_df,
    bench_grams_dir: str,
    sink_dir: str,
    batch_id: int,
    n: int = 8,
) -> None:
    """m18 per-batch body, importable for production-body replay: score
    every arriving training document against a STATIC benchmark gram
    table (the decontamination gate run while the corpus is assembled,
    instead of as a batch pass afterwards). Emits one row per doc —
    ``(doc_id, epoch, n_grams, n_contaminated, kept)`` — via
    ``publish_batch``.

    Scale shape: shingling is map-only; the benchmark gram table is
    SMALL by nature (eval suites, not corpora) so the membership probe
    is a broadcast join — no shuffle of the stream; the per-doc rollup
    shuffles batch keys only. Exact gram strings here for oracle parity."""
    ss = batch_df.sparkSession
    bench = ss.read.parquet(bench_grams_dir).withColumn("_hit", F.lit(1))
    g = batch_df.select(
        "doc_id",
        "epoch",
        F.explode_outer(word_shingles("text", n)).alias("gram"),
    )
    out = (
        g.join(F.broadcast(bench), "gram", "left")
        .groupBy("doc_id", "epoch")
        .agg(
            F.count("gram").cast("bigint").alias("n_grams"),
            F.sum(F.coalesce("_hit", F.lit(0)))
            .cast("bigint")
            .alias("n_contaminated"),
        )
        .withColumn("kept", F.col("n_contaminated") == F.lit(0))
    )
    publish_batch(out, sink_dir, batch_id)


def resolve_cc_assignments(
    ss,
    assign_store: str,
    remap_store: str,
    exclude_batch: int | None = None,
    max_iterations: int = 30,
) -> DataFrame:
    """Resolve the m25 streaming connected-components state to final
    labels: ``assign`` rows carry each key's root AT INGEST TIME and the
    ``remap`` log records every later merge (old_root -> new_root, with
    new_root < old_root always — merges relabel to the component MIN, so
    the chase is provably acyclic). A key's current cluster is its
    ingest root chased through the remap log to fixpoint.

    The chase is pointer DOUBLING on the remap table itself (the log is
    |merges| rows — the union-find parent array, far smaller than the
    corpus): each round substitutes every entry's target through the
    current table, so resolved depth doubles per round and a
    depth-2^30 chain exhausts the default budget before this returns
    wrong labels (the near_dup_clusters loud-exhaustion contract).
    Compaction through the m16 seam is PATH COMPRESSION: republishing
    the resolved assignments flattens every chain to depth 0.

    ``exclude_batch`` is the crash-window contract (load-bearing, see
    streaming_cc_batch): a replayed batch must resolve against strictly-
    PRIOR state, so rows are filtered by their writer's batch_id column
    — without this, a batch retried after its own publish would see its
    endpoints already merged, project every edge to a self-loop, and
    overwrite its own dirs with EMPTY content (silent state loss)."""
    assign = read_store(ss, assign_store, "key long, root long, batch_id long")
    remap = read_store(
        ss, remap_store, "old_root long, new_root long, batch_id long"
    )
    if exclude_batch is not None:
        assign = assign.filter(F.col("batch_id") != int(exclude_batch))
        remap = remap.filter(F.col("batch_id") != int(exclude_batch))
    # lazy checkpoint + count as the materializing action (one job, and the
    # count doubles as the emptiness probe the short-circuit below needs)
    r = remap.select("old_root", "new_root").localCheckpoint(eager=False)
    if r.count() == 0:
        # no merges recorded (first batches, or right after compaction —
        # path compression empties the remap log): every ingest root IS
        # final, so skip the pointer-doubling loop and its per-round
        # join + checkpoint + count jobs entirely (round-13 opt; the
        # post-compaction deployment hits this every batch)
        return assign.select("key", "root")
    changed = -1
    for _ in range(max_iterations):
        nxt = r.join(
            r.select(
                F.col("old_root").alias("_o2"), F.col("new_root").alias("_n2")
            ),
            r["new_root"] == F.col("_o2"),
            "left",
        )
        stepped = nxt.select(
            "old_root",
            F.coalesce("_n2", "new_root").alias("new_root"),
            F.col("_n2").isNotNull().alias("_chg"),
            # lazy checkpoint materialized by the convergence count — one
            # job per doubling round instead of two (same fusion as
            # near_dup_clusters; the count scans every partition, so the
            # checkpoint is fully persisted by it)
        ).localCheckpoint(eager=False)
        changed = stepped.filter(F.col("_chg")).count()
        r = stepped.drop("_chg")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"resolve_cc_assignments did not converge in {max_iterations} "
            f"pointer-doubling rounds ({changed} entries still chasing): "
            "remap chain depth exceeds 2^rounds — compact the store "
            "(path compression) or raise max_iterations"
        )
    return (
        assign.join(r, assign["root"] == F.col("old_root"), "left")
        .select("key", F.coalesce("new_root", "root").alias("root"))
    )


def streaming_cc_batch(
    edges: DataFrame,
    assign_store: str,
    remap_store: str,
    batch_id: int,
    key_a: str = "key_a",
    key_b: str = "key_b",
) -> None:
    """m25 per-batch body: the near-dup CLUSTER GRAPH maintained under
    ingest — verified pair edges stream in (from any candidate
    generator: m14's bands, m19's postings) and the union-find state is
    kept current as two append-only batch-keyed stores, instead of
    re-running connected components over the full edge history every
    time the collapse is cut. x_dedup_clusters is the one-shot form.

    Per batch: (1) project each edge endpoint onto its CURRENT root
    (resolve against strictly-prior state — ``exclude_batch`` is the
    crash-window contract; unknown keys stay themselves), (2) run local
    min-label components over the projected edges only (batch-sized
    graph, never the history), (3) publish the batch's NEW keys as
    assign rows and every dethroned root as a remap entry
    (old_root -> new component min). Both publishes are the idempotent
    batch-keyed overwrite; a replay recomputes byte-identical content
    because its input state excludes its own prior publish.

    Final label = min key ever connected, exactly the batch operator's
    canonical label and the recursive-CTE oracle's MIN(reach) — and
    min is arrival-order-invariant, so any wave permutation resolves
    to the same clusters (pytest-pinned).

    Scale shape: the local CC touches batch edges only; the remap log
    is |merges| rows; the per-batch corpus-lifetime term is ONE
    key-join of the batch's endpoints against the assign store (the
    m19 index-probe class — bucket the store by key to prune it).
    """
    ss = edges.sparkSession
    roots = resolve_cc_assignments(
        ss, assign_store, remap_store, exclude_batch=int(batch_id)
    )
    e = edges.select(key_a, key_b)
    ra = roots.select(F.col("key").alias(key_a), F.col("root").alias("_ra"))
    rb = roots.select(F.col("key").alias(key_b), F.col("root").alias("_rb"))
    proj = (
        e.join(ra, key_a, "left")
        .join(rb, key_b, "left")
        .select(
            F.coalesce("_ra", F.col(key_a)).alias("src"),
            F.coalesce("_rb", F.col(key_b)).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    # near_dup_clusters' result is already backed by its final-round
    # localCheckpoint (labels = select over checkpointed blocks), so a
    # second checkpoint here only copied blocks; the store-read lineage
    # that the crash-window contract worries about enters below through
    # `known`/`roots`, and THOSE plans are checkpointed before publish
    comp = near_dup_clusters(proj, "src", "dst")
    known = roots.select("key")
    new_assign = comp.join(known, "key", "left_anti").select(
        "key",
        F.col("cluster_id").alias("root"),
        F.lit(int(batch_id)).alias("batch_id"),
    )
    remap_entries = (
        comp.join(known, "key", "left_semi")
        .filter(F.col("key") != F.col("cluster_id"))
        .select(
            F.col("key").alias("old_root"),
            F.col("cluster_id").alias("new_root"),
            F.lit(int(batch_id)).alias("batch_id"),
        )
    )
    # materialize BOTH outputs before either publish: their plans read
    # the assign/remap stores (through `known`/`roots`), and on a
    # replay the overwrite targets those same files — writing a lazy
    # plan over its own target is the read-and-overwrite seam violation
    # (the upsert.py rule), surfaced as a mid-job FileNotFound by the
    # crash-window fault-injection test
    new_assign = new_assign.localCheckpoint()
    remap_entries = remap_entries.localCheckpoint()
    publish_batch(new_assign, assign_store, batch_id)
    publish_batch(remap_entries, remap_store, batch_id)


def compact_cc_store(
    ss,
    assign_store: str,
    remap_store: str,
    assign_out: str,
    n_files: int = 8,
) -> None:
    """PATH COMPRESSION as store maintenance for the m25 streaming CC
    state (the m16 compact-into-fresh-dir-then-swap pattern): resolve
    every assignment through the remap log once and republish the
    RESOLVED roots into a fresh assign store; the compacted deployment
    starts with NO remap store (every chain is now flattened to depth
    0, so the next resolve's pointer-doubling loop exits on its first
    round). Rows carry ``batch_id = -1`` — a writer id no real batch
    uses, so a replayed batch's strictly-prior-state exclusion never
    filters compacted history.

    Correctness contract (pytest-pinned, the requantize_cell_store
    model): resolution over the compacted store is ROW-IDENTICAL to
    resolution over the original, and continued ingestion against the
    compacted stores reaches the same final state as a never-compacted
    run — merges only ever relabel to component minima, which the
    compacted roots already are. Run it between micro-batches whenever
    the remap log's chase depth (or the assign store's batch-dir count)
    starts to show in the per-batch probe."""
    resolved = resolve_cc_assignments(ss, assign_store, remap_store)
    out = resolved.select(
        "key", "root", F.lit(-1).cast("long").alias("batch_id")
    ).localCheckpoint()
    out.coalesce(n_files).write.mode("overwrite").parquet(assign_out)
