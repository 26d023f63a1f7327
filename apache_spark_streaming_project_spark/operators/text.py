"""Text-analysis operators (X4, SURVEY.md §2.11) over the ``documents``
table — the training-data-pipeline surface the reference lacks.

Everything here is built-in string/array/higher-order functions (JVM-side,
whole-stage-codegen'd): tokenization via regex split, quality ratios via
length arithmetic, language ID via stopword-hit scoring, fingerprinting via
a polynomial rolling hash expressed with ``aggregate``. No Python in the row
path — at 100 TB these are embarrassingly parallel map-only plans (no
shuffle at all unless the caller aggregates).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from apache_spark_streaming_project_spark.streaming.batch_store import (
    publish_batch,
)

# Tiny per-language stopword inventories for the n-gram/stopword heuristic
# language ID. Public knowledge (most frequent function words).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "ich", "zu"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"),
    "es": ("el", "la", "los", "las", "y", "es", "un", "una", "que", "para"),
}


# Explicit whitespace class shared by the Spark and DuckDB tokenizers.
# Java's ``\s`` is ``[ \t\n\x0B\f\r]`` while RE2 (DuckDB)'s is
# ``[ \t\n\f\r]`` — splitting on the explicit class makes a VERTICAL TAB
# a token character on BOTH engines, closing the latent divergence
# instead of documenting it (round-11, ADVICE item 3; pinned by
# tests/test_text.py::test_tokens_vertical_tab_matches_duckdb).
WS_PATTERN = "[ \t\n\f\r]+"


def tokens(c: Column | str, pattern: str = WS_PATTERN) -> Column:
    """Whitespace tokenization: split on runs of whitespace, drop empties
    (split of a leading/trailing separator yields '' elements). The
    default pattern is the explicit RE2-equivalent class, NOT ``\\s`` —
    see ``WS_PATTERN``."""
    c = F.col(c) if isinstance(c, str) else c
    return F.filter(F.split(F.trim(c), pattern), lambda t: t != "")


def token_count(c: Column | str) -> Column:
    """X4 — whitespace token count."""
    return F.size(tokens(c))


def bpe_ish_token_count(c: Column | str) -> Column:
    """X4 — BPE-ish token estimate: count word-piece-sized units (runs of
    word chars split every 4 chars, plus standalone punctuation), a cheap
    deterministic proxy for subword tokenizers."""
    c = F.col(c) if isinstance(c, str) else c
    # one token per ~4 chars of word text + one per punctuation mark
    word_chars = F.length(F.regexp_replace(c, r"[^A-Za-z0-9]", ""))
    punct = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", ""))
    return (F.ceil(word_chars / F.lit(4.0)) + punct).cast("long")


def punct_ratio(c: Column | str, punct_class: str = r"[.,!?;:]") -> Column:
    """X4 quality signal — punctuation chars / total chars (0 for empty)."""
    c = F.col(c) if isinstance(c, str) else c
    n = F.length(c)
    n_punct = n - F.length(F.regexp_replace(c, punct_class, ""))
    return F.when(n > 0, n_punct.cast("double") / n.cast("double")).otherwise(0.0)


def stopword_ratio(c: Column | str, lang: str = "en") -> Column:
    """X4 quality signal — fraction of tokens that are stopwords."""
    toks = F.transform(tokens(c), lambda t: F.lower(t))
    sw = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    n = F.size(toks)
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(0.0)


def mean_token_length(c: Column | str) -> Column:
    """X4 quality signal — average token length (0 for empty docs)."""
    toks = tokens(c)
    n = F.size(toks)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return F.when(n > 0, total.cast("double") / n.cast("double")).otherwise(0.0)


def quality_score(c: Column | str) -> Column:
    """X4 — composite quality score in [0,1]: rewards mid-range token length,
    penalizes extreme punctuation density and very short docs. Deterministic
    arithmetic only (oracle-expressible)."""
    c = F.col(c) if isinstance(c, str) else c
    n_tok = token_count(c).cast("double")
    len_score = F.least(n_tok / F.lit(20.0), F.lit(1.0))
    p = punct_ratio(c)
    punct_score = F.when(p < 0.2, 1.0 - p).otherwise(F.lit(0.5))
    mtl = mean_token_length(c)
    mtl_score = F.when((mtl >= 3.0) & (mtl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.6))
    return (len_score * 0.4 + punct_score * 0.3 + mtl_score * 0.3).alias("quality")


def language_id(c: Column | str) -> Column:
    """X4 — stopword-hit language ID: score each candidate language by
    stopword hits over the first tokens; argmax with deterministic
    tie-break (lexicographic language code), 'und' when no hits.

    Expressed as a fold over a literal array of (lang, hits) structs —
    all codegen'd; no UDF.
    """
    toks = F.transform(tokens(c), lambda t: F.lower(t))

    # single-arg lambda closures only (2-arg lambdas receive the element
    # index as arg 2 in Spark HOFs, shadowing default-param captures)
    def _lang_score(lang: str, words: tuple[str, ...]) -> Column:
        sw = F.array(*[F.lit(w) for w in words])
        return F.struct(
            F.lit(lang).alias("lang"),
            F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).alias("hits"),
        )

    scored = F.array(
        *[_lang_score(lang, words) for lang, words in sorted(LANG_STOPWORDS.items())]
    )
    best = F.aggregate(
        scored,
        F.struct(F.lit("und").alias("lang"), F.lit(0).alias("hits")),
        lambda acc, x: F.when(x["hits"] > acc["hits"], x).otherwise(acc),
    )
    return best["lang"]


def chunk_by_token_budget(
    df: DataFrame,
    token_col: str,
    budget: int,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """TOKEN-budget document chunking for pretraining: split each
    document's token stream into fixed-budget windows — the companion
    pack_documents deliberately lacks (packing bins WHOLE docs; a doc
    longer than the context must be SPLIT), and the TOKEN-space twin of
    chunk_documents below (which windows CHARACTERS with overlap for
    retrieval; context budgets are measured in tokens, not chars).
    Emits one row per (doc, chunk): ``chunk_id`` 0-based, ``chunk_start``
    the 1-based first token position, ``chunk_tokens`` = budget for full
    chunks and the remainder for the last. Zero-token docs produce no
    chunks (nothing to train on), mirroring explode-of-empty semantics.

    Map-only: ``sequence(0, ceil(n/budget)-1)`` exploded per row — no
    shuffle, no Python, arbitrarily wide documents handled by expression
    arithmetic rather than materializing token arrays. At 100 TB this is
    the cheap step; the token counts it consumes come from the one
    mapInPandas BPE pass."""
    key_cols = key_cols or ["doc_id"]
    n = F.coalesce(F.col(token_col).cast("bigint"), F.lit(0))
    n_chunks = F.ceil(n.cast("double") / F.lit(budget)).cast("bigint")
    ids = F.when(
        n > 0, F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)
    ).otherwise(F.array().cast("array<bigint>"))
    out = df.select(*key_cols, n.alias("_n"), F.explode(ids).alias("chunk_id"))
    return out.select(
        *key_cols,
        "chunk_id",
        (F.col("chunk_id") * budget + 1).alias("chunk_start"),
        F.least(
            F.lit(budget).cast("bigint"),
            F.col("_n") - F.col("chunk_id") * budget,
        ).alias("chunk_tokens"),
    )


def pack_documents(
    df: DataFrame,
    token_col: str,
    budget: int,
    order_col: str = "doc_id",
    partition_col: str | None = None,
) -> DataFrame:
    """Sequence packing for pretraining: assign documents to fixed
    token-budget bins (``pack_id``) by contiguous fill — running token
    total in a deterministic order, bin = ``floor((cumsum - 1) / budget)``
    (so a bin closes when the budget would overflow ON AVERAGE; documents
    longer than the budget occupy their own bin span). This is the
    scalable streaming-fill approximation of bin packing: exact greedy
    packing is inherently sequential, while this is one window scan.

    ``partition_col`` keeps the window partitioned (e.g. by shard or
    source) so no single global sort is required at corpus scale — packs
    are then local to each partition, which is what a sharded training
    run wants anyway. Unpartitioned, the window is a single global
    cumulative sum: fine for bounded exports, not for 100 TB.
    """
    w = Window.orderBy(order_col)
    if partition_col:
        w = Window.partitionBy(partition_col).orderBy(order_col)
    # NULL token counts fold to 0 (a NULL would otherwise poison the
    # running sum — NULL pack_id for every later row in the partition),
    # and the id clamps at 0: a zero-token prefix makes cum = 0 and
    # floor((0-1)/budget) = -1, an out-of-range pack a consumer
    # iterating packs 0..max would silently drop
    cum = F.sum(F.coalesce(F.col(token_col), F.lit(0))).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        "pack_id",
        F.greatest(
            F.floor((cum - F.lit(1)) / F.lit(budget)), F.lit(0)
        ).cast("bigint"),
    )


def streaming_pack_publish(
    batch_df: DataFrame,
    sink_dir: str,
    batch_id: int,
    budget: int,
    group_col: str = "lang",
    token_col: str = "n_tokens_bpe",
    order_col: str = "doc_id",
) -> None:
    """The m17 foreachBatch body, importable for production-body replay
    (the dsir_publish_scored_batch precedent): continue
    :func:`pack_documents`'s contiguous token-budget fill ACROSS
    micro-batches.

    Pack ids are global: each batch computes its local per-group running
    token sum, then shifts it by the group's total tokens over all
    PREVIOUSLY published batches — ``pack = floor((offset + local_cum
    - 1) / budget)`` is exactly the batch formula applied to the
    arrival-ordered concatenation of batches, so a batch oracle over
    (arrival_key, order_col) reproduces the streaming output
    bit-for-bit.

    Exactly-once without a separate state store: the publish is
    streaming/batch_store.py:publish_batch, and the offsets are DERIVED
    from the sink itself (a hive read, so the ``batch`` column is there)
    restricted to ``batch < batch_id`` — a replayed batch recomputes
    identical offsets and overwrites its own directory, a no-op.
    (Deriving state from earlier output instead of persisting a second
    table is the same seam rule as m15's publish.)

    ARRIVAL-ORDER CONTRACT: pack ids are a deterministic function of the
    arrival sequence, not of any event-time order — replaying shards in
    a different order yields different (equally valid) packs. What IS
    permutation-invariant: the doc multiset, and each group's final pack
    id (= floor((total_tokens - 1) / budget), a function of the total
    alone). Pinned by tests/test_streaming_packing.py::
    test_wave_permutation_pins_arrival_order_contract. A deployment that
    needs event-time packs must impose that order upstream — sort the
    shard manifest, or watermark and set late docs aside before packing —
    because packing is a running fill:
    admitting a late doc into an already-published pack would re-shift
    every later pack id in the group (state = one total per group stays
    O(groups) precisely because published packs are immutable)."""
    import os

    ss = batch_df.sparkSession
    b = batch_df.select(group_col, order_col, token_col)
    group_type = b.schema[group_col].dataType.simpleString()
    if os.path.isdir(sink_dir):
        prior = ss.read.parquet(sink_dir).filter(
            F.col("batch") < F.lit(int(batch_id))
        )
        offsets = prior.groupBy(group_col).agg(
            F.sum(token_col).alias("_off")
        )
    else:
        # schema derived from the batch, not hardcoded: a bigint shard
        # key must not meet a string-typed empty frame (implicit casts)
        offsets = ss.createDataFrame(
            [], f"{group_col} {group_type}, _off long"
        )
    w = (
        Window.partitionBy(group_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local_cum = F.sum(F.coalesce(F.col(token_col), F.lit(0))).over(w)
    # null-safe equality: partitionBy (and the oracle's PARTITION BY)
    # treat NULL as one continuing group, but a plain equi-join drops
    # the NULL-group offset row — its fill would silently restart at 0
    # every batch (round-12 self-review finding)
    off = F.broadcast(offsets).withColumnRenamed(group_col, "_grp")
    out = (
        b.join(off, F.col(group_col).eqNullSafe(F.col("_grp")), "left")
        .drop("_grp")
        .withColumn(
            "pack_id",
            F.greatest(
                F.floor(
                    (F.coalesce(F.col("_off"), F.lit(0)) + local_cum - 1)
                    / F.lit(budget)
                ),
                F.lit(0),
            ).cast("bigint"),
        )
        .drop("_off")
    )
    publish_batch(out, sink_dir, batch_id)


def contrast_top_tokens(
    df: DataFrame, is_a: Column, text_col: str = "text", k: int = 25
) -> DataFrame:
    """Corpus-contrast analysis: which tokens are most over/under-
    represented in slice A vs slice B of a corpus — the drift check a
    pipeline runs when mixing sources (is one crawl skewing the token
    distribution?).

    The divergence score is the EXACT integer cross-product
    ``|n_a * total_b - n_b * total_a|`` (rate difference cross-multiplied
    to clear denominators) — exact integer arithmetic, so any engine
    ranks identically with no float-parity caveats. The products run in
    DECIMAL(38,0): two bigint token totals can exceed 2^63 when crossed
    at corpus scale (25T tokens squared), and Spark's non-ANSI bigint
    multiply would wrap silently. The RANKING stays in exact decimal;
    the emitted ``divergence`` column is a correctly-rounded DOUBLE of
    that decimal (NOT bigint — the same >2^63 products that justify the
    decimal ranking would make a bigint cast overflow right after; and
    NOT raw decimal — decimal128 stringification differs across engines
    even when values are bit-equal. Spark's decimal->double is
    correctly rounded natively; the oracle routes through VARCHAR so
    DuckDB matches bit-for-bit — see functions/exact._dec2dbl).

    Scale shape: one explode + token-keyed partial/final agg (the only
    data-sized shuffle), a broadcast one-row totals join, then global
    top-k via TakeOrderedAndProject."""
    toks = df.select(
        is_a.alias("_a"),
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col(text_col))), WS_PATTERN),
                lambda t: t != "",
            )
        ).alias("token"),
    )
    cnt = toks.groupBy("token").agg(
        F.sum(F.when(F.col("_a"), 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(~F.col("_a"), 1).otherwise(0)).alias("n_b"),
    )
    totals = cnt.agg(
        F.sum("n_a").alias("_ta"), F.sum("n_b").alias("_tb")
    )
    return (
        cnt.crossJoin(F.broadcast(totals))
        .select(
            "token",
            "n_a",
            "n_b",
            F.abs(
                F.col("n_a").cast("decimal(38,0)") * F.col("_tb")
                - F.col("n_b").cast("decimal(38,0)") * F.col("_ta")
            )
            .cast("decimal(38,0)")
            .alias("_div_exact"),
        )
        .orderBy(F.col("_div_exact").desc(), F.col("token").asc())
        .limit(k)
        .select(
            "token",
            "n_a",
            "n_b",
            # emitted as DOUBLE, not BIGINT: the crossed products exceed
            # int64 at exactly the corpus scale the decimal(38,0) ranking
            # exists for (25T-token totals squared) — a bigint cast would
            # crash under ANSI right after ranking correctly. Spark's
            # decimal->double is correctly rounded; the oracle routes
            # through VARCHAR so DuckDB is too (functions/exact._dec2dbl
            # rationale) — identical bits on both engines, and the
            # RANKING itself stays in exact decimal either way.
            F.col("_div_exact").cast("double").alias("divergence"),
        )
    )


def gram_boilerplate_signal(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    common_df: int = 20,
) -> DataFrame:
    """Template/boilerplate detection over a corpus: per-document n-gram
    document-frequency stats — ``n_grams`` (distinct n-grams in the doc),
    ``max_gram_df`` (how many documents share the doc's most widespread
    n-gram) and ``n_common_grams`` (how many of its n-grams appear in >=
    ``common_df`` documents). High values flag boilerplate/templated text
    (cookie banners, scaffold pages) that inflates an LLM corpus — the
    C4/Gopher-style cross-document companion to the intra-document
    ``repetition_ratio``.

    Scale shape: shingles are per-doc DISTINCT (so gram count == document
    frequency), explode is map-side, the df table comes from one
    gram-keyed partial/final agg, and the join back to the exploded grams
    carries NO broadcast hint — the gram vocabulary is corpus-sized, AQE
    decides (same discipline as x4_rarity_scores)."""
    from apache_spark_streaming_project_spark.operators.dedup import (
        word_shingles,
    )

    grams = df.select(
        key_col, F.explode(word_shingles(F.col(text_col), n)).alias("gram")
    )
    dfq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    stats = (
        grams.join(dfq, "gram")
        .groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.max("df").alias("max_gram_df"),
            F.sum((F.col("df") >= common_df).cast("long")).alias(
                "n_common_grams"
            ),
        )
    )
    # per-doc contract: documents with fewer than n tokens explode to
    # zero gram rows and would be ABSENT from the output — a consumer
    # inner-joining the signal back would silently lose every short doc
    # (or misread absence as "not boilerplate"). Left-join back and emit
    # (0, 0, 0) for them instead.
    return df.select(key_col).join(stats, key_col, "left").select(
        key_col,
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("max_gram_df", F.lit(0)).alias("max_gram_df"),
        F.coalesce("n_common_grams", F.lit(0)).alias("n_common_grams"),
    )


def repetition_ratio(c: Column | str, n: int = 1) -> Column:
    """Gopher-style intra-document repetition: the fraction of word
    ``n``-grams that are duplicates of an earlier one,
    ``1 - distinct/total`` (0.0 for docs with fewer than ``n`` tokens).
    High word/bigram repetition is a standard low-quality signal in
    LLM-corpus filtering rules. Map-only array built-ins (lowercased to
    match the dedup shingle pipeline); the ratio is a correctly-rounded
    IEEE division, so any engine reproduces it bit-for-bit."""
    from apache_spark_streaming_project_spark.operators.dedup import (
        word_shingles,
    )

    c = F.col(c) if isinstance(c, str) else c
    toks = F.filter(F.split(F.lower(F.trim(c)), WS_PATTERN), lambda t: t != "")
    if n == 1:
        total = F.size(toks)
        distinct = F.size(F.array_distinct(toks))
    else:
        total = F.greatest(F.size(toks) - (n - 1), F.lit(0))
        distinct = F.size(word_shingles(c, n))
    return (
        F.when(
            total > 0,
            F.lit(1.0) - distinct.cast("double") / total.cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias(f"repetition_{n}gram")
    )


def rolling_fingerprint(c: Column | str, base: int = 31, mod: int = 2**31 - 1) -> Column:
    """X4 — polynomial rolling-hash document fingerprint:
    ``h = sum(byte_i * base^(n-1-i)) mod m`` over the UTF-8-ish char codes,
    folded left-to-right with ``aggregate`` (h = h*base + code mod m).
    Deterministic, order-sensitive, collision-resistant enough for grouping.
    """
    c = F.col(c) if isinstance(c, str) else c
    codes = F.transform(F.split(c, ""), lambda ch: F.ascii(ch).cast("long"))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * base + x) % F.lit(mod).cast("long"),
    )


def winnow_fingerprints(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    base: int = 31,
    mod: int = 2**31 - 1,
) -> DataFrame:
    """X4 — winnowing document fingerprints (Schleimer, Wilkerson,
    Aiken 2003 — the MOSS algorithm): local fingerprint selection with
    a GUARANTEE the global schemes (MinHash, SimHash) cannot give — any
    shared substring of length >= ``k + w - 1`` between two documents
    produces at least one shared selected fingerprint, while at most
    one fingerprint is selected per window of ``w`` consecutive grams
    (expected density ``2/(w+1)``).

    Pipeline, all map-side (ONE Project, zero exchanges, zero Python —
    the gopher-repetition plan shape): normalize (lowercase, whitespace
    runs -> single space), char ``k``-gram polynomial hashes
    (``h = fold h*base + code mod m`` — the rolling_fingerprint
    primitive, bit-identical in DuckDB), then per window of ``w``
    consecutive gram hashes select the minimum, ties broken by the
    RIGHTMOST position (robust winnowing: <= on a left-to-right fold),
    and de-duplicate consecutive windows that select the same (hash,
    position). Documents with fewer than ``k`` normalized chars have no
    gram and drop out; documents with 1 <= n_grams < w form a single
    truncated window (one fingerprint).

    Returns exploded rows ``(key_col, fp_pos, fp_hash)`` — ``fp_pos``
    the 1-based gram position. Every value is integer arithmetic, so
    the ENTIRE fingerprint table is oracle-hashable (no float caveats).

    Scale: fingerprinting is embarrassingly parallel (per-document HOF
    in whole-stage codegen, O(n*k) hash work + O(n_windows*w) fold work
    per doc); the output is ~``2/(w+1)`` rows per gram, the bounded
    input to :func:`winnow_shared_pairs`.
    """
    # Collapse whitespace runs FIRST, then trim: SQL trim (Spark and
    # DuckDB alike) strips SPACES ONLY, so trim-then-collapse leaves a
    # phantom edge space when the text starts/ends with \t\n\f\r —
    # found by the hypothesis differential (both engines agreed, so the
    # oracle alone could not see it).
    norm = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), "[ \t\n\f\r]+", " ")
    )
    codes = F.transform(
        F.split(norm, ""), lambda ch: F.ascii(ch).cast("long")
    )
    enc_base = mod + 1  # 2^31 for the default modulus
    pos_max = F.lit(mod).cast("long")

    def _enc_hashes(cs: Column) -> Column:
        """Gram hash and 1-based position ENCODED into one long:
        ``enc_i = h_i * (mod+1) + (mod - i)``. Minimizing ``enc`` over a
        window IS robust winnowing's pick — smallest hash first, and on
        equal hashes the RIGHTMOST position (largest ``i`` gives the
        smallest ``mod - i``) — so the per-window selection becomes a
        native ``array_min`` over a slice with ZERO per-window lambdas
        (structs + a rightmost-min fold measured ~10x slower at sf0.1).
        ``h <= mod - 1 < 2^31`` keeps the encoding injective and inside
        a long."""
        n_grams = F.size(cs) - F.lit(k) + F.lit(1)
        # sequence(1, stop) DESCENDS when stop < 1 — guard short docs to
        # empty (the word_shingles lesson)
        gram_idx = F.when(
            n_grams >= 1, F.sequence(F.lit(1), n_grams)
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            gram_idx,
            lambda i: F.aggregate(
                F.sequence(i, i + F.lit(k - 1)),
                F.lit(0).cast("long"),
                lambda acc, ix: (acc * base + F.element_at(cs, ix))
                % F.lit(mod).cast("long"),
            )
            * F.lit(enc_base).cast("long")
            + (pos_max - i),
        )

    def _fps(hs: Column) -> Column:
        m = F.size(hs)
        n_windows = F.greatest(m - F.lit(w) + F.lit(1), F.lit(1))
        picks = F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda j: F.array_min(F.slice(hs, j, F.lit(w))),
        )
        # m == 0 would make sequence(1, n_windows=1) pick over an empty
        # slice — return empty instead
        return F.when(m >= 1, F.array_distinct(picks)).otherwise(
            F.array().cast("array<bigint>")
        )

    # Both the code array and the encoded-hash array are bound ONCE as
    # lambda variables (nested singleton-array trick — dedup.
    # word_shingles): HOF subexpressions are not CSE'd, so inlining
    # `codes` into the per-gram fold makes Spark re-split the text per
    # gram position — O(chars^2) per document (measured 88 s at sf0.1
    # for the whole fingerprint query; ~1 s bound + encoded).
    fps = F.element_at(
        F.transform(
            F.array(codes),
            lambda cs: F.element_at(
                F.transform(F.array(_enc_hashes(cs)), _fps), 1
            ),
        ),
        1,
    )
    # no size(_fps) > 0 filter: explode drops empty/null arrays by
    # itself, and a filter on the derived column gets pushed below the
    # caller's repartition exchange with the WHOLE winnowing expression
    # substituted into its condition — the HOF kernel then runs per row
    # in the single-split scan task and again in this projection
    # (round-13 opt; measured as a ~2.7 s one-task stage at sf0.1)
    return (
        df.select(F.col(key_col), fps.alias("_fps"))
        .select(
            key_col,
            F.explode("_fps").alias("_enc"),
        )
        .select(
            key_col,
            (pos_max - F.col("_enc") % F.lit(enc_base)).cast("int").alias(
                "fp_pos"
            ),
            # SQL `div`, NOT `/`: Column `/` is double division, and enc
            # is up to ~2^62 — past double's 2^53 exact-integer range
            F.expr(f"_enc div {enc_base}L").alias("fp_hash"),
        )
    )


def winnow_shared_pairs(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    min_shared: int = 3,
    max_fp_df: int | None = 50,
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """X4 — document pairs sharing >= ``min_shared`` distinct winnowed
    fingerprint HASHES — the MOSS match-detection join. Because
    winnowing guarantees a shared fingerprint for any shared run of
    ``k + w - 1`` chars, this finds local plagiarism/quotation overlap
    that whole-document MinHash misses on mostly-different documents.

    ``max_fp_df`` drops fingerprint hashes appearing in more than that
    many documents before the pair join — the same df-cap defense as
    ``minhash_lsh_candidates(max_shingle_df=...)``: ubiquitous grams
    ("the and ") would otherwise quadratically explode the per-hash
    candidate lists under Zipfian text (measured for the LSH path in
    BASELINE.md round-10; the identical failure mode applies to any
    postings self-join). Dropping them cannot lose a pair with
    ``min_shared`` RARE shared hashes, which is what plagiarism
    detection keys on.

    Output: ``(key_a, key_b, shared_fps)`` with ``key_a < key_b``.
    Scale: postings self-join bucketed by fingerprint hash, each
    posting list bounded by ``max_fp_df`` — never all-pairs.

    Pass ``fingerprints`` (a :func:`winnow_fingerprints` result —
    ``(key_col, fp_pos, fp_hash)``, typically persisted) to reuse an
    already-computed fingerprint table: the df-cap aggregate and both
    self-join sides consume it, and without a shared materialized table
    the HOF fingerprint kernel runs once per consumer (the simhash_df
    ``fingerprints`` precedent).
    """
    fps = (
        fingerprints
        if fingerprints is not None
        else winnow_fingerprints(df, key_col, text_col, k, w)
    ).select(F.col(key_col).alias("_k"), "fp_hash").distinct()
    if max_fp_df is not None:
        over = (
            fps.groupBy("fp_hash")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_fp_df)
        )
        fps = fps.join(over, "fp_hash", "left_anti")
    a = fps.select(F.col("_k").alias("key_a"), "fp_hash")
    b = fps.select(F.col("_k").alias("key_b"), "fp_hash")
    return (
        a.join(b, "fp_hash")
        .filter(F.col("key_a") < F.col("key_b"))
        .groupBy("key_a", "key_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def token_metrics(c: Column | str, lang: str = "en") -> Column:
    """All token-derived X4 metrics in ONE pass over the token array.

    The standalone metric functions above each inline their own
    tokenization; composing several of them re-splits the text once per
    metric per row. This binds the token array once as a lambda variable
    (singleton-array trick — see dedup.word_shingles) and computes
    every token metric from that binding. Returns a struct
    (n_tokens, mean_token_len, stopword_ratio, lang_pred) with values
    IDENTICAL to the standalone functions.
    """
    toks_expr = tokens(c)
    sw = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])

    def metrics(toks: Column) -> Column:
        n = F.size(toks)
        total = F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        lowered = F.transform(toks, lambda t: F.lower(t))
        hits = F.size(F.filter(lowered, lambda t: F.array_contains(sw, t)))

        def _lang_score(code: str, words: tuple[str, ...]) -> Column:
            lsw = F.array(*[F.lit(w) for w in words])
            return F.struct(
                F.lit(code).alias("lang"),
                F.size(F.filter(lowered, lambda t: F.array_contains(lsw, t))).alias(
                    "hits"
                ),
            )

        best = F.aggregate(
            F.array(
                *[_lang_score(k, ws) for k, ws in sorted(LANG_STOPWORDS.items())]
            ),
            F.struct(F.lit("und").alias("lang"), F.lit(0).alias("hits")),
            lambda acc, x: F.when(x["hits"] > acc["hits"], x).otherwise(acc),
        )
        return F.struct(
            n.cast("long").alias("n_tokens"),
            F.when(n > 0, total.cast("double") / n.cast("double"))
            .otherwise(0.0)
            .alias("mean_token_len"),
            F.when(n > 0, hits.cast("double") / n.cast("double"))
            .otherwise(0.0)
            .alias("stopword_ratio"),
            best["lang"].alias("lang_pred"),
        )

    return F.element_at(F.transform(F.array(toks_expr), metrics), 1)


def text_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The full X4 per-document profile in one map-only projection; token
    metrics come from the single-pass :func:`token_metrics` struct."""
    m = token_metrics(text_col)
    p = punct_ratio(text_col)
    n_tok = m["n_tokens"].cast("double")
    len_score = F.least(n_tok / F.lit(20.0), F.lit(1.0))
    punct_score = F.when(p < 0.2, 1.0 - p).otherwise(F.lit(0.5))
    mtl = m["mean_token_len"]
    mtl_score = F.when((mtl >= 3.0) & (mtl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.6))
    return df.select(
        "*",
        m["n_tokens"].alias("n_tokens"),
        bpe_ish_token_count(text_col).alias("n_tokens_bpe"),
        m["mean_token_len"].alias("mean_token_len"),
        p.alias("punct_ratio"),
        m["stopword_ratio"].alias("stopword_ratio"),
        (len_score * 0.4 + punct_score * 0.3 + mtl_score * 0.3).alias("quality"),
        m["lang_pred"].alias("lang_pred"),
        rolling_fingerprint(text_col).alias("fingerprint"),
    )


# Patterns chosen from the Java-regex / RE2 COMMON SUBSET so the same string
# runs unchanged in Spark (regexp_replace/regexp_count) and oracle engines.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\d{3}-\d{4}",
}


def redact_patterns(
    df: DataFrame,
    text_col: str = "text",
    patterns: dict[str, str] | None = None,
    replacement_fmt: str = "[{label}]",
) -> DataFrame:
    """Text scrubbing: replace every match of each labeled pattern with a
    placeholder and count the matches per label (``n_<label>`` columns,
    ``<text_col>_redacted`` output). Map-only — pure JVM regex inside
    WholeStageCodegen, no shuffle, no Python; at 100 TB this runs at scan
    speed. Patterns apply in dict order (earlier redactions can shadow
    later patterns, so order specific -> general).

    Each ``n_<label>`` counts matches on the text AS THIS PATTERN SEES
    IT — after earlier patterns' replacements — so the counts equal the
    redactions actually performed and ``sum(n_*)`` reconciles against
    placeholder occurrences in the output (counting every pattern on the
    ORIGINAL text would tally matches an earlier pattern had already
    consumed; the placeholders' brackets sit outside every pattern's
    character classes, so partially-redacted text can't create new
    matches either)."""
    patterns = PII_PATTERNS if patterns is None else patterns
    redacted = F.col(text_col)
    counts = []
    for label, pat in patterns.items():
        counts.append(
            F.regexp_count(redacted, F.lit(pat)).alias(f"n_{label}")
        )
        redacted = F.regexp_replace(
            redacted, pat, replacement_fmt.format(label=label)
        )
    return df.select("*", *counts, redacted.alias(f"{text_col}_redacted"))


def chunk_documents(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    chunk_chars: int = 200,
    overlap: int = 50,
) -> DataFrame:
    """Split each document into fixed-size character chunks with overlap —
    the standard pre-embedding step of a retrieval/training pipeline.
    Output: (key, chunk_idx, char_start, chunk_text), one row per chunk;
    short documents yield exactly one chunk.

    Map-only: chunk offsets come from a ``sequence`` over the document
    length and the slices from ``substring`` — a single generator-explode
    projection inside codegen, no Python, no shuffle; at 100 TB this is
    scan-bound like every other map-only text op. ``stride = chunk_chars -
    overlap`` must be positive.
    """
    if overlap >= chunk_chars:
        raise ValueError("overlap must be smaller than chunk_chars")
    stride = chunk_chars - overlap
    c = F.col(text_col)
    n = F.length(c)
    # last chunk starts at the largest multiple of stride still < length
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)).cast("double") / F.lit(stride)).cast("int"),
        F.lit(1),
    )
    starts = F.transform(
        F.sequence(F.lit(0), n_chunks - 1), lambda i: i * stride
    )
    return (
        df.select(
            F.col(key_col),
            F.posexplode(starts).alias("chunk_idx", "char_start"),
            c.alias("_t"),
        )
        .select(
            key_col,
            "chunk_idx",
            "char_start",
            F.substring(
                F.col("_t"), F.col("char_start") + 1, chunk_chars
            ).alias("chunk_text"),
        )
    )


def positional_shingles(c: Column | str, n: int = 8) -> Column:
    """Word n-gram shingles WITH their 1-based token positions:
    ``array<struct<pos int, gram string>>``. The positional twin of
    ``dedup.word_shingles`` (which dedups and drops positions) — needed
    by span-level dedup signals, where *where* a duplicated gram sits
    decides how much of the document it covers. Same tokenizer
    (lower/trim/split), same single-binding trick so the token array is
    computed once per row, not once per shingle."""
    c = F.col(c) if isinstance(c, str) else c
    toks_expr = F.filter(F.split(F.lower(F.trim(c)), WS_PATTERN), lambda t: t != "")

    def windows(toks: Column) -> Column:
        k = F.size(toks) - (n - 1)
        idx = F.when(k > 0, F.sequence(F.lit(0), k - 1)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(
            idx,
            lambda i: F.struct(
                (i + 1).alias("pos"),
                F.concat_ws(" ", F.slice(toks, i + 1, n)).alias("gram"),
            ),
        )

    return F.element_at(F.transform(F.array(toks_expr), windows), 1)


def duplicate_span_coverage(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring duplication signal (the "dedup spans, not docs"
    shape from suffix-array corpus dedup, re-expressed relationally):
    per document, how many token positions are covered by SOME word
    ``n``-gram that occurs in >= ``min_docs`` distinct documents.
    Returns ``(key, n_tokens, covered_tokens)`` — a 50%-covered doc is a
    strong near-copy candidate even when whole-doc MinHash misses it, and
    the covered/total ratio is the span-level companion to
    ``gram_boilerplate_signal``'s distinct-gram stats.

    Plan: positional shingling is map-only; cross-doc gram df is one
    gram-keyed partial agg (single COUNT DISTINCT -> no Expand);
    duplicated grams join back to their positions (gram-keyed shuffle,
    8-byte ``xxhash64`` keys would apply at corpus scale exactly as in
    decontamination); covered spans merge per doc with the classic
    island trick — running MAX(end) window -> new-island flag -> running
    SUM -> per-island MIN/MAX — two doc-keyed window passes over rows
    that are already shuffled by doc, then one rollup. All JVM-side."""
    doc = F.col(key_col)
    toks_count = F.size(
        F.filter(F.split(F.lower(F.trim(F.col(text_col))), WS_PATTERN), lambda t: t != "")
    )
    base = df.select(doc.alias("_doc"), toks_count.alias("n_tokens"),
                     positional_shingles(text_col, n).alias("_sh"))
    # gram identity travels as its xxhash64 — the output never exposes
    # gram text, so 8-byte shuffle keys are free (collision odds 2^-64
    # per pair; same trade cross_split_contamination documents)
    grams = base.select(
        "_doc", F.explode("_sh").alias("_g")
    ).select(
        "_doc", F.col("_g.pos").alias("_s"), F.xxhash64("_g.gram").alias("_gram")
    )
    # Same two-consumer shape as remove_duplicate_spans: `grams` (the
    # positional-shingle explosion) feeds both the cross-doc df aggregate and
    # the position join back — seed it so the explosion runs once instead of
    # 2x-concurrent under AQE (round-13 `_seeded` pattern).
    grams = grams.persist()
    grams.count()

    if min_docs == 2:
        # "in >= 2 docs" needs no distinct aggregation: min(doc) != max(doc)
        # — plain partial-aggregatable min/max, no per-group dedup state
        dup_grams = (
            grams.groupBy("_gram")
            .agg(F.min("_doc").alias("_mn"), F.max("_doc").alias("_mx"))
            .filter(F.col("_mn") != F.col("_mx"))
            .select("_gram")
        )
    else:
        dup_grams = (
            grams.groupBy("_gram")
            .agg(F.count_distinct(F.col("_doc")).alias("_df"))
            .filter(F.col("_df") >= min_docs)
            .select("_gram")
        )

    iv = grams.join(dup_grams, "_gram").select(
        "_doc", F.col("_s"), (F.col("_s") + n).alias("_e")
    )
    w_order = Window.partitionBy("_doc").orderBy("_s", "_e")
    prev_max_end = F.max("_e").over(
        w_order.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "_new_island",
        F.when(prev_max_end.isNull() | (F.col("_s") > prev_max_end), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "_island",
        F.sum("_new_island").over(
            w_order.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    covered = (
        islands.groupBy("_doc", "_island")
        .agg(F.min("_s").alias("_mn"), F.max("_e").alias("_mx"))
        .groupBy("_doc")
        .agg(F.sum(F.col("_mx") - F.col("_mn")).alias("covered_tokens"))
    )
    return (
        base.select("_doc", "n_tokens")
        .join(covered, "_doc", "left")
        .select(
            F.col("_doc").alias(key_col),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.coalesce(F.col("covered_tokens"), F.lit(0))
            .cast("bigint")
            .alias("covered_tokens"),
        )
    )


def canonical_url(url: Column | str) -> Column:
    """X4 — URL canonicalization, the dedup key for web corpora (the
    same crawl URL arrives with rotating tracking params, casing and
    slashes; exact-dedup on the RAW url misses all of it):

      1. scheme + host lowercase, ``www.`` prefix stripped;
      2. fragment dropped;
      3. query params split, tracking params (``utm_*``, ``ref``,
         ``fbclid``, ``gclid``) dropped, survivors SORTED (param order
         never carries meaning) and rejoined;
      4. duplicate slashes in the path collapsed, trailing slashes
         stripped (``/+$`` — ALL of them, so the canonical string is a
         true fixed point: canonical(canonical(u)) == canonical(u)).

    Built from regexp_extract + array built-ins (split/filter/sort/
    join) — deliberately NOT ``parse_url``, so the oracle mirrors the
    exact same simple regexes and the canonical string compares
    byte-for-byte across engines. Map-only, codegen-friendly."""
    u = F.col(url) if isinstance(url, str) else url
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z]+)://", 1))
    host = F.regexp_replace(
        F.lower(F.regexp_extract(u, r"^[A-Za-z]+://([^/?#]+)", 1)),
        r"^www\.",
        "",
    )
    path = F.regexp_replace(
        F.regexp_replace(
            F.regexp_extract(u, r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1),
            r"/{2,}",
            "/",
        ),
        r"/+$",
        "",
    )
    # the '?' must occur BEFORE any '#': a bare \? would also match a
    # '?' inside the fragment ('/p#sec?x=1'), resurrecting fragment
    # content as query params after step 2 dropped it
    query = F.regexp_extract(u, r"^[^#]*?\?([^#]*)", 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "")
            & ~p.rlike(r"^(utm_[A-Za-z0-9_]*|ref|fbclid|gclid)="),
        )
    )
    qpart = F.when(
        F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))
    ).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, path, qpart)


def strip_html(c: Column | str) -> Column:
    """Plain text from HTML markup, entirely JVM-side (chained
    ``regexp_replace``/``replace`` — WholeStageCodegen, no Python, no
    shuffle): drops script/style/head/noscript/template blocks and
    comments, turns block-level tags into newlines (word and paragraph
    boundaries survive), removes remaining tags, decodes the common
    named entities, and normalizes whitespace.

    Regex-approximate BY DESIGN: crawl-scale cleaning at scan speed.
    Malformed markup degrades gracefully (text survives; stray markup
    may leak); numeric character references other than ``&#39;`` are
    left as-is. A real HTML parser (trafilatura/BeautifulSoup behind an
    Arrow kernel) is the high-fidelity path when fidelity beats
    throughput — the same trade the media codecs document.

    Entity order matters: ``&amp;`` decodes LAST, so ``&amp;lt;`` (the
    author literally wrote "&lt;") becomes ``&lt;`` — decoding ``&amp;``
    first would double-decode it to ``<`` (test-pinned)."""
    x = F.col(c) if isinstance(c, str) else c
    for blk in ("script", "style", "head", "noscript", "template"):
        x = F.regexp_replace(x, f"(?is)<{blk}\\b[^>]*>.*?</{blk}>", " ")
    x = F.regexp_replace(x, r"(?s)<!--.*?-->", " ")
    x = F.regexp_replace(
        x,
        r"(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|table|blockquote|section"
        r"|article|header|footer)\b[^>]*/?>",
        "\n",
    )
    x = F.regexp_replace(x, r"(?s)<[^>]+>", " ")
    for ent, rep in (
        ("&nbsp;", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&apos;", "'"),
        ("&amp;", "&"),  # LAST — see the docstring
    ):
        x = F.replace(x, F.lit(ent), F.lit(rep))
    x = F.regexp_replace(x, r"[ \t\x0b\f\r]+", " ")
    x = F.regexp_replace(x, r" ?\n ?", "\n")
    x = F.regexp_replace(x, r"\n{3,}", "\n\n")
    # Spark's trim() strips spaces only — newlines need the regex form
    return F.regexp_replace(x, r"^\s+|\s+$", "")


def remove_common_lines(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 10,
    min_line_chars: int = 8,
) -> DataFrame:
    """The REMOVAL companion to :func:`gram_boilerplate_signal` (which
    only measures): strip every line whose trimmed text appears in at
    least ``min_df`` distinct documents — cookie banners, navigation
    menus, template scaffolding — while preserving each document's
    remaining lines in their original order and byte-exact content (the
    C4/RefinedWeb-style line-dedup pass).

    Lines shorter than ``min_line_chars`` after trimming (blank lines,
    separators) are never counted nor removed, so paragraph structure
    survives. Documents whose every line is removed stay present with
    empty text (vanishing rows would silently change corpus counts).

    Plan shape: one posexplode (map-side), one distinct + partial/final
    agg for the line document-frequency table, a left-anti join on the
    trimmed line text (exact — no hash-collision removals), and one
    groupBy re-assembly via array_sort on (pos, line) structs. No
    broadcast hint on the common-lines side: its size is corpus-driven,
    AQE decides."""
    pos_line = df.select(
        key_col,
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    line_t = F.trim(F.col("line"))
    eligible = pos_line.filter(F.length(line_t) >= min_line_chars)
    common = (
        eligible.select(line_t.alias("line_k"), key_col)
        .distinct()
        .groupBy("line_k")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("line_k")
    )
    # short lines are immune: every common key is an eligible line's
    # trimmed text, which no shorter trimmed line can equal
    kept = pos_line.withColumn("line_k", line_t).join(
        common, "line_k", "left_anti"
    )
    rebuilt = kept.groupBy(key_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("_clean")
    )
    # NULL text passes through as NULL (posexplode of split(NULL) drops
    # the row, so without this branch a NULL doc would silently become
    # the empty string — the same NULL!=''-parity rule the BM25 dl fix
    # established); keys are assumed unique per document.
    return (
        df.select(key_col, F.col(text_col).alias("_orig"))
        .join(rebuilt, key_col, "left")
        .select(
            key_col,
            F.when(
                F.col("_orig").isNull(), F.lit(None).cast("string")
            )
            .otherwise(F.coalesce("_clean", F.lit("")))
            .alias(text_col),
        )
    )


def dedup_paragraphs(c: Column | str, sep: str = "\n\n") -> Column:
    """WITHIN-document exact paragraph dedup (the Gopher/C4 repetition
    removal companion to the cross-document :func:`remove_common_lines`):
    keep the FIRST occurrence of each exact paragraph, preserving
    document order — ``array_distinct`` keeps first occurrences in
    encounter order, so the whole pass is one map-side JVM expression
    (split -> array_distinct -> array_join): zero shuffle, zero Python,
    and it composes into any scan-side curation chain.

    Matching is byte-exact by design (normalize first with
    :func:`normalize_unicode` / :func:`strip_html` if markup or encoding
    noise should not defeat it). Runs of separators produce empty
    paragraphs, which dedup like any other value (at most one survives).
    NULL text passes through as NULL. ``sep`` is used as BOTH the split
    regex and the re-join delimiter, so it must be a literal with no
    regex metacharacters (the default ``"\\n\\n"`` is)."""
    x = F.col(c) if isinstance(c, str) else c
    return F.array_join(F.array_distinct(F.split(x, sep)), sep)


_NORM_UDFS: dict = {}


def normalize_unicode(c: Column | str, form: str = "NFKC") -> Column:
    """Unicode normalization (NFC/NFKC/NFD/NFKD) as an Arrow-batched
    ``pandas_udf`` — the standard pre-dedup step (ligatures, full-width
    forms, combining marks make byte-identical text hash differently).
    Spark has no built-in normalizer, so this is one of the engine's few
    deliberate Python-boundary columns (X4-X5 rule: Arrow-batched,
    never row-at-a-time).

    Fast path INSIDE the kernel: a vectorized (C-rate) ASCII scan masks
    the batch, and per-row ``unicodedata.normalize`` runs only on rows
    that actually contain non-ASCII — ASCII is normalization-invariant
    in every form — so English-heavy crawl batches pay near-zero Python
    per row. NULLs pass through."""
    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    if form not in _NORM_UDFS:
        import unicodedata

        import pandas as pd  # noqa: F401 — pandas_udf resolves the hints

        from pyspark.sql.functions import pandas_udf

        def _norm(s):
            # closes over `form`; the cache keys by form, so each cached
            # udf's closure is pinned to its own normalization form
            non_ascii = s.notna() & s.str.contains(
                r"[^\x00-\x7F]", regex=True
            )
            if not non_ascii.any():
                return s
            out = s.copy()
            out[non_ascii] = s[non_ascii].map(
                lambda t: unicodedata.normalize(form, t)
            )
            return out

        # real annotation objects: the module-level `from __future__
        # import annotations` stringifies inline hints, which
        # pandas_udf's signature inference cannot resolve
        _norm.__annotations__ = {"s": pd.Series, "return": pd.Series}
        # cache per form: rebuilding the pandas_udf on every call adds
        # plan-build overhead and a new UDF object per column reference
        _NORM_UDFS[form] = pandas_udf("string")(_norm)
    return _NORM_UDFS[form](F.col(c) if isinstance(c, str) else c)


def gopher_quality_flags(c: Column | str) -> Column:
    """The published Gopher/MassiveText rule-based quality filters
    (Rae et al. 2021, table A1) as one JVM-side struct of booleans —
    a document is kept when every flag is true. All built-in
    string/array arithmetic (codegen, no Python):

    - ``word_count_ok``: 50..100,000 words
    - ``mean_word_len_ok``: mean word length in [3, 10]
    - ``symbol_ratio_ok``: '#'-to-word ratio <= 0.1 AND
      ellipsis-to-word ratio <= 0.1 ('...' or '…'), each rule
      separate per the paper's "either" wording
    - ``bullet_ratio_ok``: <= 90% of lines start with a bullet
    - ``ellipsis_ratio_ok``: <= 30% of lines end with an ellipsis
    - ``alpha_word_ratio_ok``: >= 80% of words contain a letter
    - ``stopword_ok``: contains >= 2 of the English must-have
      stopwords (the paper's "stop word" filter)

    The thresholds are the paper's published constants; callers needing
    different cut-offs can re-derive from the component metrics
    (token_count, mean_token_length, ...) this composes.

    This single-Column form recomputes the token/line arrays inside
    each rule (Catalyst keeps one Project, and HOF subexpressions are
    not CSE'd) — composable but ~1.5x slower than
    :func:`gopher_quality_flags_df`, which materializes the arrays in a
    prior projection (measured 2.78 -> 1.81 s over sf0.1; identical
    output, test-pinned). Prefer the _df form in pipelines."""
    x = F.col(c) if isinstance(c, str) else c
    toks = tokens(x)
    lines = F.filter(F.split(x, "\n"), lambda ln: F.trim(ln) != "")
    return _gopher_flags_from_parts(x, toks, lines)


def gopher_quality_flags_df(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "flags",
    keep_arrays: bool = False,
) -> DataFrame:
    """:func:`gopher_quality_flags` with the token/line arrays
    materialized ONCE in a prior projection (Spark's CollapseProject
    keeps the two-step shape because the aliases are referenced many
    times and array exprs are not cheap — measured 1.5x faster than the
    single-expression form at sf0.1). Appends ``out_col`` (the same
    boolean struct) to ``df``; ``keep_arrays=True`` also keeps the
    ``__toks``/``__lines`` columns so callers deriving further token
    metrics (counts, lengths) reuse the materialized arrays instead of
    re-splitting.

    Raises if ``__toks``/``__lines``/``out_col`` already exist in
    ``df.columns`` — silently producing duplicate/ambiguous columns
    (e.g. on a chained call with ``keep_arrays=True``) would poison
    every downstream by-name reference (round-10 ADVICE fix)."""
    clash = {"__toks", "__lines", out_col} & set(df.columns)
    if clash:
        raise ValueError(
            "gopher_quality_flags_df: column(s) "
            f"{sorted(clash)} already exist in the input; drop or "
            "rename them first (a prior keep_arrays=True call leaves "
            "__toks/__lines behind on purpose)"
        )
    pre = df.select(
        "*",
        tokens(text_col).alias("__toks"),
        F.filter(
            F.split(F.col(text_col), "\n"), lambda ln: F.trim(ln) != ""
        ).alias("__lines"),
    )
    flags = _gopher_flags_from_parts(
        F.col(text_col), F.col("__toks"), F.col("__lines")
    )
    extra = ["__toks", "__lines"] if keep_arrays else []
    return pre.select(*df.columns, *extra, flags.alias(out_col))


def _gopher_flags_from_parts(
    x: Column, toks: Column, lines: Column
) -> Column:
    """The Gopher rule battery over (text, token array, non-blank line
    array) — the shared core of :func:`gopher_quality_flags` (inline
    arrays) and :func:`gopher_quality_flags_df` (materialized arrays)."""
    n_words = F.size(toks)
    nw = n_words.cast("double")
    mean_len = F.when(
        n_words > 0,
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).cast("double")
        / nw,
    ).otherwise(F.lit(0.0))
    n_hash = F.length(x) - F.length(F.replace(x, F.lit("#"), F.lit("")))
    # both ellipsis spellings count toward the symbol ratio — the
    # line-end rule below already treated '...' and '…' alike, and the
    # paper's rule is about the ellipsis SYMBOL, not its ASCII spelling
    n_ellipsis = (
        F.size(F.split(x, r"\.\.\.")) - 1 + F.size(F.split(x, "…")) - 1
    )
    n_lines = F.size(lines)
    nl = n_lines.cast("double")
    bullet_lines = F.size(
        F.filter(lines, lambda ln: F.trim(ln).rlike(r"^[-*•]"))
    )
    ellipsis_lines = F.size(
        F.filter(lines, lambda ln: F.trim(ln).rlike(r"(\.\.\.|…)$"))
    )
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    must_have = F.array(
        *[F.lit(w) for w in ("the", "be", "to", "of", "and", "that", "have", "with")]
    )
    low_toks = F.transform(toks, lambda t: F.lower(t))
    stop_hits = F.size(
        F.filter(must_have, lambda w: F.array_contains(low_toks, w))
    )
    return F.struct(
        ((n_words >= 50) & (n_words <= 100_000)).alias("word_count_ok"),
        ((mean_len >= 3.0) & (mean_len <= 10.0)).alias("mean_word_len_ok"),
        F.when(
            n_words > 0,
            # the paper removes on ratio > 0.1 for EITHER symbol
            # separately (not their sum — a sum is stricter than
            # published; round-9 review finding)
            ((n_hash.cast("double") / nw) <= 0.1)
            & ((n_ellipsis.cast("double") / nw) <= 0.1),
        )
        .otherwise(F.lit(False))
        .alias("symbol_ratio_ok"),
        F.when(n_lines > 0, bullet_lines.cast("double") / nl <= 0.9)
        .otherwise(F.lit(True))
        .alias("bullet_ratio_ok"),
        F.when(n_lines > 0, ellipsis_lines.cast("double") / nl <= 0.3)
        .otherwise(F.lit(True))
        .alias("ellipsis_ratio_ok"),
        F.when(n_words > 0, alpha_words.cast("double") / nw >= 0.8)
        .otherwise(F.lit(False))
        .alias("alpha_word_ratio_ok"),
        (stop_hits >= 2).alias("stopword_ok"),
    )


def bigram_lm_score(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """CCNet-style language-model quality scoring with the LM trained on
    the corpus itself: per-document mean log-probability under an
    add-``alpha`` BIGRAM model — documents whose word sequences are
    improbable under the corpus's own statistics (boilerplate soup,
    scrambled text, wrong-language fragments) score low, the relational
    analogue of CCNet's KenLM perplexity bucketing.

    ``p(w2 | w1) = (C(w1 w2) + alpha) / (C(w1 ·) + alpha * V)`` where
    ``C(w1 w2)`` is the corpus bigram count, ``C(w1 ·)`` the count of
    ``w1`` as a LEFT context (so the conditional sums to one), and ``V``
    the corpus unigram vocabulary. Returns one row per document with
    >= 2 tokens: (key, n_bigrams, sum_bigram_count, sum_left_count,
    v_size, lm_score).

    Exactness contract: the INTEGER skeleton (n_bigrams and the two
    count sums — everything the shuffles/joins/aggs produce) is
    DuckDB-mirrorable and hash-checked by the registered query; the
    float ``lm_score`` itself deliberately is NOT, because cross-engine
    ``ln`` is not bit-stable (measured on this box: JVM ``ln`` differs
    from libm/DuckDB ``ln`` in the last ulp on ~1.5% of inputs — the
    same measurement that forced BM25 into odds form). The score is
    made DETERMINISTIC within Spark by folding the per-bigram logs in
    position order (the x9 ordered-fold idiom), and is pytest-pinned
    against an independent Python reference to 1e-12.

    Scale: one bigram explosion (map-side), two count aggregations and
    two joins keyed on token strings (xxhash64-shuffled; broadcast under
    AQE when small), one per-doc re-aggregation. No Python anywhere.

    Bigrams are keyed by the (w1, w2) PAIR, not a separator-joined
    concat: tokens come from a whitespace split, so a token can contain
    any non-space byte, and a concat key would conflate e.g.
    ('a\\x01b','c') with ('a','b\\x01c') — a collision the oracle could
    not catch because it would have to mirror the same concat
    (round-10 ADVICE fix)."""
    toks = tokens(text_col)
    base = df.select(key_col, toks.alias("ts")).filter(F.size("ts") >= 2)
    n = F.size("ts")
    pairs = base.select(
        key_col,
        F.posexplode(
            F.zip_with(
                F.slice("ts", F.lit(1), n - 1),
                F.slice("ts", F.lit(2), n - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("pos", "p"),
    ).select(key_col, "pos", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    # Two direct aggregations over the pair stream, NOT a shared
    # (w1, bg) contingency table: measured A/B at sf0.1 shows the
    # contingency form is SLOWER (1.48 -> 2.08 s) — map-side partial
    # combine already bounds each exchange by its key cardinality
    # (vocab for w1, vocab^2 for bg), so "one fewer corpus agg" saves
    # nothing while the two-string-key contingency exchange costs more
    # (round-9 honest negative, kept as guidance).
    bgc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cbg"))
    w1c = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("cw1"))
    v = df.select(F.explode(tokens(text_col)).alias("t")).agg(
        F.count_distinct("t").alias("v_size")
    )
    lp = F.ln(
        (F.col("cbg").cast("double") + F.lit(float(alpha)))
        / (
            F.col("cw1").cast("double")
            + F.lit(float(alpha)) * F.col("v_size").cast("double")
        )
    )
    scored = (
        pairs.join(bgc, ["w1", "w2"])
        .join(w1c, "w1")
        .crossJoin(v)  # 1-row aggregate
        .select(key_col, "pos", "cbg", "cw1", "v_size", lp.alias("lp"))
    )
    folded = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "lp"))),
            lambda s: s["lp"],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return scored.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("cbg").alias("sum_bigram_count"),
        F.sum("cw1").alias("sum_left_count"),
        F.min("v_size").alias("v_size"),
        (folded / F.count(F.lit(1)).cast("double")).alias("lm_score"),
    )


def perplexity_buckets(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str | None = None,
    n_buckets: int = 3,
    alpha: float = 0.5,
) -> DataFrame:
    """CCNet-style perplexity bucketing: score every document with the
    corpus-trained :func:`bigram_lm_score`, then split each language's
    documents into ``n_buckets`` quality tiers — ``head`` (most fluent
    under the corpus LM), ``middle``, ``tail`` — the published CCNet
    recipe (per-language percentile thresholds over an LM score; their
    KenLM perplexity becomes our add-alpha bigram mean log-prob, with
    HIGH score = LOW perplexity, so head = highest scores).

    ``lang_col=None`` derives the language with :func:`language_id`;
    pass a column name to use an upstream label instead. Only documents
    with >= 2 tokens are scored/bucketed (same eligibility as the LM).

    Returns (key, lang, lm_score, bucket_idx, bucket) with ``bucket_idx``
    0-based from the head and ``bucket`` the CCNet names for 3 buckets
    (``b0``..``bk`` otherwise).

    Buckets are ``ntile(n_buckets)`` over a per-language window ordered
    by (lm_score DESC, key ASC — deterministic tie-break), so bucket
    sizes are exact rank thirds. Each language sorts in one window
    partition; BASELINE.md records the measured sketch-threshold
    alternative.
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    scored = bigram_lm_score(df, key_col, text_col, alpha)
    lang_expr = (
        F.col(lang_col) if lang_col else language_id(F.col(text_col))
    )
    langs = df.select(key_col, lang_expr.alias("lang"))
    w = Window.partitionBy("lang").orderBy(
        F.col("lm_score").desc(), F.col(key_col).asc()
    )
    j = scored.join(langs, key_col).select(
        key_col,
        "lang",
        "lm_score",
        (F.ntile(n_buckets).over(w) - 1).alias("bucket_idx"),
    )
    names = (
        ["head", "middle", "tail"]
        if n_buckets == 3
        else [f"b{i}" for i in range(n_buckets)]
    )
    label = F.element_at(
        F.array(*[F.lit(x) for x in names]), F.col("bucket_idx") + 1
    )
    return j.select(
        key_col, "lang", "lm_score", "bucket_idx", label.alias("bucket")
    )


# Rae et al. 2021 (Gopher/MassiveText) table A1, repetition section:
# max allowed fraction per signal, as integer percents so every flag is
# an integer cross-multiplication (numerator*100 <= pct*denominator) —
# exactly hashable cross-engine, no float division anywhere.
GOPHER_REPETITION_MAX_PCT: dict[str, int] = {
    "dup_line_frac": 30,
    "dup_para_frac": 30,
    "dup_line_char_frac": 20,
    "dup_para_char_frac": 20,
    "top_2gram_char_frac": 20,
    "top_3gram_char_frac": 18,
    "top_4gram_char_frac": 16,
    "dup_5gram_char_frac": 15,
    "dup_6gram_char_frac": 14,
    "dup_7gram_char_frac": 13,
    "dup_8gram_char_frac": 12,
    "dup_9gram_char_frac": 11,
    "dup_10gram_char_frac": 10,
}


def _char_sum(arr: Column) -> Column:
    """Sum of element string lengths of an array column (long)."""
    return F.aggregate(
        F.transform(arr, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def gopher_repetition_flags_df(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The published Gopher/MassiveText REPETITION filters (Rae et al.
    2021, table A1's other half — :func:`gopher_quality_flags` covers the
    quality rules), completing the battery: a document is repetitious
    when too much of it is duplicated lines/paragraphs or repeated word
    n-grams.

    Signals (thresholds in :data:`GOPHER_REPETITION_MAX_PCT`):

    - ``dup_line_frac`` / ``dup_para_frac``: fraction of line/paragraph
      occurrences beyond the first of each distinct unit (<= 30%).
    - ``dup_line_char_frac`` / ``dup_para_char_frac``: the same
      duplicates weighted by characters (<= 20%).
    - ``top_{2,3,4}gram_char_frac``: characters claimed by the single
      most frequent n-gram — ``count * token_chars(gram)`` over the
      document's total token characters (<= 20/18/16%).
    - ``dup_{5..10}gram_char_frac``: characters covered by ANY word
      n-gram occurring more than once, counted overlap-aware (each
      token position counts once per n even when several duplicated
      n-grams cover it — the paper's "take care not to count characters
      more than once" rule) (<= 15/14/13/12/11/10%).

    Measurement conventions (documented because the paper leaves them
    open; the DuckDB mirror reproduces them exactly):

    - tokens are :func:`tokens` (whitespace runs, no case folding);
      lines split on ``\\n``, paragraphs on ``\\n\\n``, each trimmed
      with empties dropped;
    - every character denominator is whitespace-free: total token
      characters for the n-gram signals, summed unit characters for the
      line/paragraph signals;
    - the top n-gram tie-break is (count DESC, token chars DESC, gram
      ASC) — deterministic cross-engine;
    - empty denominators pass (0 <= 0): an empty document is not
      *repetitious* (the quality battery rejects it instead).

    Returns one row per input row: the key, the full INTEGER skeleton
    (every numerator/denominator as bigint — the oracle-hashable
    surface), and a ``flags`` struct of the 13 booleans.

    Plan shape (the 100 TB lens): the ENTIRE battery is ONE map-side
    projection — zero shuffle, zero joins, zero Python. Every signal
    here is within-document, so corpus machinery is never needed: the
    per-``n`` gram array is sorted per doc (``array_sort`` on
    (gram, pos) structs), run-lengths over the sorted array give exact
    per-gram counts (the top-gram pick folds over runs with the
    count/chars/lexicographic tie-break — runs arrive in ascending gram
    order, so keeping the earlier run on ties IS the ASC tie-break),
    duplicated occurrences are the entries with an equal sorted
    neighbor, and overlap-aware character coverage folds over the
    sorted duplicate positions with a (chars, last_covered_end)
    accumulator. Per doc per n that is O(G log G) — embarrassingly
    parallel at any corpus size.

    The first implementation shuffled: per-(doc, n, gram) count aggs +
    WindowGroupLimit + an occurrence join + gaps-and-islands windows.
    Measured A/B at sf0.1 (BASELINE.md round-10): the map-only rewrite
    produces the identical output (same oracle hash, same pytest
    references) with the 8-exchange plan replaced by one Project — the
    recorded reminder that within-row aggregation should never leave
    the row."""
    key = F.col(key_col)
    trimmed_units = lambda sep: F.filter(  # noqa: E731
        F.transform(F.split(F.col(text_col), sep), lambda u: F.trim(u)),
        lambda u: u != "",
    )
    base = df.select(
        key.alias("_doc"),
        tokens(text_col).alias("_ts"),
        trimmed_units("\n").alias("_lines"),
        trimmed_units("\n\n").alias("_paras"),
    )

    def unit_stats(arr: str, prefix: str) -> list[Column]:
        a = F.col(arr)
        d = F.array_distinct(a)
        return [
            F.size(a).cast("bigint").alias(f"n_{prefix}s"),
            (F.size(a) - F.size(d)).cast("bigint").alias(f"dup_{prefix}s"),
            _char_sum(a).alias(f"{prefix}_chars"),
            (_char_sum(a) - _char_sum(d)).alias(f"dup_{prefix}_chars"),
        ]

    def sorted_grams(n: int) -> Column:
        # array<struct<g, p>> sorted by (gram, pos): equal grams are
        # adjacent, runs in ascending gram order
        k = F.size("_ts") - (n - 1)
        idx = F.when(k > 0, F.sequence(F.lit(1), k)).otherwise(
            F.array().cast("array<int>")
        )
        return F.array_sort(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.concat_ws(" ", F.slice("_ts", i, n)).alias("g"),
                    i.alias("p"),
                ),
            )
        )

    def bind(arr: Column, fn) -> Column:
        # single-binding trick: evaluate `arr` once per row, not once
        # per reference inside the lambda body
        return F.element_at(F.transform(F.array(arr), fn), 1)

    def top_chars(n: int) -> Column:
        # fold over runs of the sorted gram array: running count resets
        # on gram change and peaks at the run's true count; best updates
        # only on a STRICT (count, token_chars) improvement, so ties
        # keep the earlier = lexicographically smaller gram (ASC)
        def inner(sg: Column) -> Column:
            init = F.struct(
                F.lit("").alias("cur_g"),
                F.lit(0).cast("long").alias("cur_c"),
                F.lit(0).cast("long").alias("best_c"),
                F.lit(0).cast("long").alias("best_w"),
            )

            def step(acc: Column, s: Column) -> Column:
                cur_c = F.when(
                    s["g"] == acc["cur_g"], acc["cur_c"] + 1
                ).otherwise(F.lit(1).cast("long"))
                w = (F.length(s["g"]) - F.lit(n - 1)).cast("long")
                better = (cur_c > acc["best_c"]) | (
                    (cur_c == acc["best_c"]) & (w > acc["best_w"])
                )
                return F.struct(
                    s["g"].alias("cur_g"),
                    cur_c.alias("cur_c"),
                    F.when(better, cur_c)
                    .otherwise(acc["best_c"])
                    .alias("best_c"),
                    F.when(better, w).otherwise(acc["best_w"]).alias("best_w"),
                )

            return F.aggregate(
                sg, init, step, lambda acc: acc["best_c"] * acc["best_w"]
            )

        return bind(sorted_grams(n), inner)

    def dup_chars(n: int) -> Column:
        # duplicated occurrences = entries with an equal sorted
        # neighbor (prev OR next); overlap-aware char coverage folds
        # over their ascending positions with a last-covered-end
        # accumulator so overlapping [p, p+n-1] windows never double
        # count (the guards keep element_at indices in 1..m under ANSI)
        def inner(sg: Column) -> Column:
            m = F.size(sg)
            dup_pos = F.array_sort(
                F.transform(
                    F.filter(
                        F.transform(
                            sg,
                            lambda s, i: F.struct(
                                s["p"].alias("p"),
                                (
                                    F.when(
                                        i > 0,
                                        F.element_at(sg, i)["g"] == s["g"],
                                    ).otherwise(F.lit(False))
                                    | F.when(
                                        i < m - 1,
                                        F.element_at(sg, i + 2)["g"]
                                        == s["g"],
                                    ).otherwise(F.lit(False))
                                ).alias("d"),
                            ),
                        ),
                        lambda s: s["d"],
                    ),
                    lambda s: s["p"],
                )
            )
            init = F.struct(
                F.lit(0).cast("long").alias("chars"),
                F.lit(0).alias("last"),
            )

            def step(acc: Column, p: Column) -> Column:
                start = F.greatest(p, acc["last"] + 1)
                end = p + F.lit(n - 1)
                ln = F.greatest(end - start + 1, F.lit(0))
                add = _char_sum(F.slice("_ts", start, ln))
                return F.struct(
                    (acc["chars"] + add).alias("chars"),
                    F.greatest(acc["last"], end).alias("last"),
                )

            return F.aggregate(dup_pos, init, step, lambda a: a["chars"])

        return bind(sorted_grams(n), inner)

    j = base.select(
        F.col("_doc").alias(key_col),
        F.size("_ts").cast("bigint").alias("n_tokens"),
        _char_sum(F.col("_ts")).alias("total_chars"),
        *unit_stats("_lines", "line"),
        *unit_stats("_paras", "para"),
        *[
            top_chars(n).cast("bigint").alias(f"top_{n}gram_chars")
            for n in (2, 3, 4)
        ],
        *[
            dup_chars(n).cast("bigint").alias(f"dup_{n}gram_chars")
            for n in range(5, 11)
        ],
    )

    def ok(num: str, den: str, pct: int) -> Column:
        return F.col(num) * 100 <= F.lit(pct) * F.col(den)

    t = GOPHER_REPETITION_MAX_PCT
    flags = F.struct(
        ok("dup_lines", "n_lines", t["dup_line_frac"]).alias(
            "dup_line_frac_ok"
        ),
        ok("dup_paras", "n_paras", t["dup_para_frac"]).alias(
            "dup_para_frac_ok"
        ),
        ok("dup_line_chars", "line_chars", t["dup_line_char_frac"]).alias(
            "dup_line_char_ok"
        ),
        ok("dup_para_chars", "para_chars", t["dup_para_char_frac"]).alias(
            "dup_para_char_ok"
        ),
        *[
            ok(
                f"top_{n}gram_chars",
                "total_chars",
                t[f"top_{n}gram_char_frac"],
            ).alias(f"top_{n}gram_ok")
            for n in (2, 3, 4)
        ],
        *[
            ok(
                f"dup_{n}gram_chars",
                "total_chars",
                t[f"dup_{n}gram_char_frac"],
            ).alias(f"dup_{n}gram_ok")
            for n in range(5, 11)
        ],
    )
    return j.select("*", flags.alias("flags"))


def remove_duplicate_spans(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring deduplication as a TRANSFORM (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" — the
    ExactSubstr pass, re-expressed relationally): drop every token
    position covered by a word ``n``-gram whose lowercased form occurs
    >= ``min_count`` times in the corpus (within- OR cross-document),
    then rebuild the document from the surviving tokens. The removal
    companion to :func:`duplicate_span_coverage`, which only measures.

    Semantics, pinned for the oracle:

    - gram identity is the LOWERCASED token n-gram (the dedup-pipeline
      tokenizer, same as ``word_shingles``); removal rebuilds from the
      ORIGINAL tokens, so case is preserved in what survives;
    - ALL occurrences of a duplicated span are removed — the
      conservative variant of the paper's pass (their released tool
      does the same; keeping one canonical occurrence would make the
      output depend on a corpus-global occurrence order, which no
      longer partitions);
    - the rebuilt text joins surviving tokens with single spaces
      (whitespace is canonicalized by the tokenizer, as in every
      rebuild-from-tokens operator here);
    - overlapping duplicated grams merge into islands first, so each
      position is dropped once no matter how many grams cover it.

    Returns ``(key, n_tokens, kept_tokens, text)``.

    Plan shape (100 TB lens): one map-side gram explosion; one
    corpus-global count agg keyed on the 8-byte ``xxhash64`` of the
    gram (the only corpus-sized exchange — same trade as
    decontamination; 2^-64 per-pair collision odds, documented); the
    occurrence join back is on the same 8-byte key; islands merge with
    the two-window gaps-and-islands pass per doc; the final rebuild is
    a map-side HOF filter against the doc's own (collected, disjoint,
    <= n_tokens/n) island list. No Python anywhere."""
    key = F.col(key_col)
    base = df.select(key.alias("_doc"), tokens(text_col).alias("_ts"))

    k = F.size("_ts") - (n - 1)
    idx = F.when(k > 0, F.sequence(F.lit(1), k)).otherwise(
        F.array().cast("array<int>")
    )
    gram_lower = lambda i: F.concat_ws(  # noqa: E731
        " ",
        F.transform(F.slice("_ts", i, n), lambda t: F.lower(t)),
    )
    occ = base.select(
        "_doc",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.alias("pos"), F.xxhash64(gram_lower(i)).alias("gh")
                ),
            )
        ).alias("_g"),
    ).select("_doc", F.col("_g.pos").alias("_pos"), F.col("_g.gh").alias("_gh"))
    # `occ` (the gram explosion + xxhash64 — the expensive kernel) feeds BOTH
    # the corpus count-agg below and the occurrence join back; without a
    # materialization AQE plans the two consumers as independent subtrees and
    # evaluates the explosion twice CONCURRENTLY (the x_simhash_pairs
    # cache-race, round-13). Persist + eager count() runs it once; both
    # consumers read the materialized rows. (A window-count restructure would
    # also single-evaluate, but buffers every occurrence of a hot gram in one
    # window group — the corpus-wide boilerplate gram IS that hot key — while
    # the partial-aggregating count + join back stays skew-tolerant.)
    occ = occ.persist()
    occ.count()

    dup = (
        occ.groupBy("_gh")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .filter(F.col("_cnt") >= min_count)
        .select("_gh")
    )
    iv = occ.join(dup, "_gh").select(
        "_doc",
        F.col("_pos").alias("_s"),
        (F.col("_pos") + (n - 1)).alias("_e"),
    )
    w_order = Window.partitionBy("_doc").orderBy("_s", "_e")
    prev_max_end = F.max("_e").over(
        w_order.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = (
        iv.withColumn(
            "_new",
            F.when(
                prev_max_end.isNull() | (F.col("_s") > prev_max_end), 1
            ).otherwise(0),
        )
        .withColumn(
            "_isl",
            F.sum("_new").over(
                w_order.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("_doc", "_isl")
        .agg(F.min("_s").alias("_s"), F.max("_e").alias("_e"))
        .groupBy("_doc")
        .agg(F.collect_list(F.struct("_s", "_e")).alias("_ivs"))
    )

    ivs = F.coalesce(
        F.col("_ivs"),
        F.array().cast("array<struct<_s:int,_e:int>>"),
    )
    pos_idx = F.when(
        F.size("_ts") > 0, F.sequence(F.lit(1), F.size("_ts"))
    ).otherwise(F.array().cast("array<int>"))
    # Linear rebuild: islands are disjoint and sorted, so the covered
    # positions expand to exactly sum(_e - _s + 1) ints; array_except
    # (hash-set membership) keeps the surviving positions in document
    # order. The earlier per-position F.exists over the island array was
    # O(n_tokens x islands) — quadratic-ish on long highly-duplicated
    # documents; this is O(n_tokens + coverage).
    covered = F.flatten(
        F.transform(ivs, lambda r: F.sequence(r["_s"], r["_e"]))
    )
    kept_idx = F.array_except(pos_idx, covered)
    return (
        base.join(islands, "_doc", "left")
        .withColumn("_kept_idx", kept_idx)
        .select(
            F.col("_doc").alias(key_col),
            F.size("_ts").cast("bigint").alias("n_tokens"),
            F.size("_kept_idx").cast("bigint").alias("kept_tokens"),
            F.array_join(
                F.transform(
                    "_kept_idx", lambda i: F.element_at("_ts", i)
                ),
                " ",
            ).alias("text"),
        )
    )
