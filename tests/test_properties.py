"""Property-based tests (hypothesis): engine results must match independent
Python-reference implementations on randomized inputs — the differential
layer below the DuckDB oracle (SURVEY.md §5.2)."""

from __future__ import annotations

from decimal import Decimal

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

MONEY = st.decimals(
    min_value=Decimal("-99999.99"),
    max_value=Decimal("99999.99"),
    places=2,
    allow_nan=False,
    allow_infinity=False,
)


@settings(max_examples=10, deadline=None, derandomize=True)
@given(st.lists(MONEY, min_size=1, max_size=50))
def test_exact_sum_matches_decimal_reference(spark, values):
    """sum_money must equal exact Decimal addition (no FP drift), for any
    2-decimal inputs in any order."""
    from apache_spark_streaming_project_spark.functions.exact import sum_money

    df = spark.createDataFrame([(float(v),) for v in values], "v double")
    got = df.agg(sum_money("v", out_alias="s")).first()["s"]
    expect = float(sum(values))
    assert got == expect  # bit-identical, not approx


@settings(max_examples=10, deadline=None, derandomize=True)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=1, max_size=40
    ),
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=0, max_size=40
    ),
)
def test_asof_join_matches_bruteforce(spark, left_rows, right_rows):
    """asof_join == per-row argmax over right rows with ts <= left ts."""
    from apache_spark_streaming_project_spark.operators.asof import asof_join

    left = [(i, f"k{k}", t) for i, (k, t) in enumerate(left_rows)]
    right = [(100 + i, f"k{k}", t) for i, (k, t) in enumerate(right_rows)]
    ldf = spark.createDataFrame(left, "lid long, key string, ts long")
    rdf = spark.createDataFrame(right, "rid long, key string, ts long")
    out = asof_join(
        ldf, rdf, on="key", left_ts="ts", right_ts="ts",
        right_payload=["rid"], right_tiebreak="rid",
    )
    got = {r["lid"]: r["matched_rid"] for r in out.collect()}

    def brute(lk, lt):
        cands = [(t, rid) for rid, rk, t in right if rk == lk and t <= lt]
        return max(cands)[1] if cands else None

    expect = {lid: brute(lk, lt) for lid, lk, lt in left}
    assert got == expect


@settings(max_examples=10, deadline=None, derandomize=True)
@given(st.lists(st.text(alphabet="abc ", min_size=0, max_size=30),
                min_size=1, max_size=30))
def test_exact_dedup_properties(spark, texts):
    """exact_dedup output is distinct on the dedup cols, is a subset of the
    input, and is idempotent."""
    from apache_spark_streaming_project_spark.operators.dedup import exact_dedup

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = exact_dedup(df, ["text"], "doc_id")
    got = [r["text"] for r in out.collect()]
    assert sorted(got) == sorted(set(texts))  # one survivor per distinct text
    again = exact_dedup(out, ["text"], "doc_id")
    assert sorted(r["text"] for r in again.collect()) == sorted(got)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(st.lists(st.sampled_from([
    "the cat and the dog", "der hund ist nicht da", "le chat est dans la maison",
    "el perro es un animal", "zzz qqq xxx", "",
]), min_size=1, max_size=12))
def test_language_id_matches_python_reference(spark, texts):
    from apache_spark_streaming_project_spark.operators.text import (
        LANG_STOPWORDS,
        language_id,
    )

    def ref(text: str) -> str:
        toks = [t.lower() for t in text.split() if t]
        best_lang, best_hits = "und", 0
        for lang in sorted(LANG_STOPWORDS):
            hits = sum(1 for t in toks if t in LANG_STOPWORDS[lang])
            if hits > best_hits:
                best_lang, best_hits = lang, hits
        return best_lang

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, text string")
    got = {r["i"]: r["p"] for r in
           df.select("i", language_id("text").alias("p")).collect()}
    assert got == {i: ref(t) for i, t in enumerate(texts)}


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 5), MONEY),
        min_size=2,
        max_size=40,
    )
)
def test_mergeable_stats_merge_equals_direct(spark, rows):
    """Merging per-(group, shard) partials must equal computing the stats
    directly per group — bit-identical, for ANY sharding of the rows."""
    from apache_spark_streaming_project_spark.operators.mergeable import (
        finalize_stats,
        merge_stats,
        partial_stats,
    )

    df = spark.createDataFrame(
        [(f"g{g}", s, float(v)) for g, s, v in rows],
        "grp string, shard int, v double",
    )
    via_merge = {
        r["grp"]: r
        for r in finalize_stats(
            merge_stats(partial_stats(df, ["grp", "shard"], "v"), ["grp"])
        ).collect()
    }
    direct = {
        r["grp"]: r
        for r in finalize_stats(partial_stats(df, ["grp"], "v")).collect()
    }
    assert set(via_merge) == set(direct)
    for g, d in direct.items():
        m = via_merge[g]
        assert (m["n"], m["min_v"], m["max_v"]) == (d["n"], d["min_v"], d["max_v"])
        assert m["mean"] == d["mean"]  # exact, not approx
        assert m["stddev"] == d["stddev"] or (
            m["stddev"] is None and d["stddev"] is None
        )


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=8),
        min_size=2,
        max_size=16,
    )
)
def test_contamination_matches_python_reference(spark, token_lists):
    """cross_split_contamination == brute-force python n-gram overlap for
    ANY corpus (n=3, split = even/odd index)."""
    from apache_spark_streaming_project_spark.operators.dedup import (
        cross_split_contamination,
    )

    docs = [(i, " ".join(toks)) for i, toks in enumerate(token_lists)]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def grams(text):
        t = [x for x in text.lower().strip().split() if x]
        return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}

    train = set()
    for i, text in docs:
        if i % 2 == 0:
            train |= grams(text)
    expect = {
        i: (len(grams(text)), len(grams(text) & train))
        for i, text in docs
        if i % 2 == 1
    }
    got = {
        r["doc_id"]: (r["n_grams"], r["n_contaminated"])
        for r in cross_split_contamination(
            df, F.col("doc_id") % 2 == 0, n=3
        ).collect()
    }
    assert got == expect


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    st.lists(st.text(alphabet="ab ", min_size=0, max_size=12),
             min_size=1, max_size=12),
    st.lists(st.text(alphabet="ab ", min_size=0, max_size=12),
             min_size=1, max_size=12),
)
def test_incremental_dedup_properties(spark, base_texts, inc_texts):
    """incremental_dedup: survivors are exactly the incoming texts not in
    the base, one (min-key) survivor per distinct text; re-ingesting the
    survivors against base+survivors yields nothing (idempotence)."""
    from apache_spark_streaming_project_spark.operators.dedup import (
        incremental_dedup,
    )

    base = spark.createDataFrame(
        [(i, t) for i, t in enumerate(base_texts)], "doc_id long, text string"
    )
    inc = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(inc_texts)],
        "doc_id long, text string",
    )
    out = incremental_dedup(base, inc)
    got = sorted((r.doc_id, r.text) for r in out.collect())
    fresh = set(inc_texts) - set(base_texts)
    expect = sorted(
        (100 + min(i for i, t in enumerate(inc_texts) if t == ft), ft)
        for ft in fresh
    )
    assert got == expect
    merged = base.unionAll(out)
    again = incremental_dedup(merged, out)
    assert again.count() == 0


@settings(max_examples=8, deadline=None, derandomize=True)
@given(st.lists(st.text(alphabet="ab ", min_size=0, max_size=20),
                min_size=1, max_size=10))
def test_gram_boilerplate_matches_python_reference(spark, texts):
    """gram_boilerplate_signal agrees with a brute-force python reference
    (distinct per-doc 3-gram shingles, document frequencies, per-doc
    n_grams / max df / >=threshold count) on arbitrary short corpora."""
    from collections import Counter

    from apache_spark_streaming_project_spark.operators.text import (
        gram_boilerplate_signal,
    )

    def shingles(t):
        toks = [w for w in t.strip().lower().split() if w]
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    sh = {i: shingles(t) for i, t in enumerate(texts)}
    df_counts = Counter(g for s in sh.values() for g in s)
    # short docs (no 3-gram) keep a (0, 0, 0) row — the per-doc output
    # contract (round-7 self-review), not absence
    expect = {
        i: (
            len(s),
            max(df_counts[g] for g in s) if s else 0,
            sum(1 for g in s if df_counts[g] >= 2),
        )
        for i, s in sh.items()
    }
    d = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_grams, r.max_gram_df, r.n_common_grams)
        for r in gram_boilerplate_signal(d, common_df=2).collect()
    }
    assert got == expect


@settings(max_examples=10, deadline=None, derandomize=True)
@given(
    st.lists(
        st.tuples(st.integers(0, 200), st.integers(0, 30)),
        min_size=1,
        max_size=25,
    ),
    st.lists(
        st.tuples(st.integers(0, 200), st.integers(0, 30)),
        min_size=1,
        max_size=25,
    ),
    st.sampled_from([4, 8, 16, 64]),
)
def test_interval_overlap_join_matches_quadratic_reference(spark, aa, bb, w):
    """Grid-bucketed overlap join == brute-force closed-interval overlap
    on random intervals, for any bucket width — including widths far
    from the tuning guidance (correctness never depends on w)."""
    from apache_spark_streaming_project_spark.operators.asof import (
        interval_overlap_join,
    )

    a_rows = [(i, lo, lo + ln) for i, (lo, ln) in enumerate(aa)]
    b_rows = [(j, lo, lo + ln) for j, (lo, ln) in enumerate(bb)]
    a = spark.createDataFrame(a_rows, "aid int, a_lo long, a_hi long")
    b = spark.createDataFrame(b_rows, "bid int, b_lo long, b_hi long")
    got = sorted(
        (r.aid, r.bid)
        for r in interval_overlap_join(
            a, b, "a_lo", "a_hi", "b_lo", "b_hi", w
        ).collect()
    )
    expect = sorted(
        (i, j)
        for i, alo, ahi in a_rows
        for j, blo, bhi in b_rows
        if alo <= bhi and blo <= ahi
    )
    assert got == expect


@settings(max_examples=10, deadline=None, derandomize=True)
@given(
    st.lists(
        st.text(
            alphabet="abcXYZ09._-&=/", min_size=0, max_size=12
        ),
        min_size=1,
        max_size=6,
    )
)
def test_canonical_url_is_idempotent(spark, parts):
    """canonical(canonical(url)) == canonical(url): re-canonicalizing an
    already-canonical URL must be the identity (randomized hosts/paths/
    params, including tracking params and fragments)."""
    from apache_spark_streaming_project_spark.operators.text import canonical_url

    url = (
        "HTTPS://WWW.Ex" + (parts[0] or "a").replace("/", "").replace("&", "")
        .replace("=", "") + ".COM/" + "/".join(parts[1:3])
        + "?" + "&".join(
            p for p in ["utm_source=x", "b=2", "a=1", *parts[3:5]] if p
        )
        # a '?' INSIDE the fragment: urlsplit treats it as fragment
        # content; a naive \? query regex would resurrect it as params
        + "#frag?t=1"
    )
    df = spark.createDataFrame([(url,)], "u string")
    once = df.select(canonical_url("u").alias("c"))
    twice = once.select(F.col("c").alias("u")).select(
        canonical_url("u").alias("c")
    )
    assert once.first()["c"] == twice.first()["c"]


@settings(max_examples=5, deadline=None, derandomize=True)
@given(st.lists(st.text(min_size=1, max_size=20), min_size=1, max_size=60, unique=True))
def test_bloom_never_drops_inserted_keys(spark, keys):
    """No false negatives: every inserted key survives its own bloom,
    for arbitrary unicode keys and a small bitmap (high fp pressure —
    fp does not matter here, fn would be a correctness bug)."""
    from apache_spark_streaming_project_spark.functions.bloom import (
        bloom_build,
        bloom_prefilter,
    )

    df = spark.createDataFrame([(k,) for k in keys], "k string")
    bloom = bloom_build(df, "k", m_bits=1 << 10)
    assert bloom_prefilter(df, bloom, "k", m_bits=1 << 10).count() == len(keys)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    st.lists(
        st.sampled_from(
            [
                "a@b.cc", "555-1234", "xy", "1", "@", ".", "-", " ",
                "a@b.cc@d.ee", "12a@b.cc-4567", "123", "4567",
                "x@y.cc555-1234", "%+_",
            ]
        ),
        min_size=1,
        max_size=8,
    )
)
def test_pii_redaction_is_idempotent(spark, frags):
    """redact(redact(t)) == redact(t): placeholders ([EMAIL]/[PHONE]) use
    brackets, which sit outside every pattern's character class, so a
    redacted corpus re-scrubbed against a fresh pipeline run must come
    back byte-identical — the same fixed-point contract as canonical_url
    (redaction output is stored and re-processed in real pipelines)."""
    from apache_spark_streaming_project_spark.operators.text import redact_patterns

    text = "".join(frags)
    df = spark.createDataFrame([(text,)], "text string")
    once = redact_patterns(df, "text").select(
        F.col("text_redacted").alias("text")
    )
    twice = redact_patterns(once, "text")
    row = twice.first()
    assert row["text_redacted"] == row["text"]


@settings(max_examples=10, deadline=None, derandomize=True)
@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), min_size=1, max_size=60))
def test_rolling_fingerprint_matches_python_reference(spark, text):
    """rolling_fingerprint == the pure-Python polynomial hash it documents
    (h = h*31 + code mod 2^31-1, left fold over char codes): the dedup KEY
    must be bit-stable across engines/partitionings, so we pin it to an
    independent reference, not just to itself."""
    from apache_spark_streaming_project_spark.operators.text import (
        rolling_fingerprint,
    )

    df = spark.createDataFrame([(text,)], "t string")
    got = df.select(rolling_fingerprint("t").alias("f")).first()["f"]
    mod = 2**31 - 1
    h = 0
    for ch in text:
        h = (h * 31 + ord(ch)) % mod
    assert got == h


@settings(max_examples=10, deadline=None, derandomize=True)
@given(
    st.text(alphabet="abc XYZ.", min_size=0, max_size=80),
    st.integers(min_value=2, max_value=20),
    st.integers(min_value=0, max_value=19),
)
def test_chunking_reconstructs_original_text(spark, text, chunk_chars, overlap):
    """Chunk boundaries are lossless: chunk 0 + each later chunk minus its
    `overlap`-char prefix re-concatenates to EXACTLY the original text,
    for any (chunk_chars, overlap) with overlap < chunk_chars. Catches
    off-by-one boundary bugs (dropped tail, double-counted overlap) that
    silently corrupt a retrieval corpus."""
    from apache_spark_streaming_project_spark.operators.text import chunk_documents

    overlap = overlap % chunk_chars  # enforce the documented precondition
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = (
        chunk_documents(df, "doc_id", "text", chunk_chars, overlap)
        .orderBy("chunk_idx")
        .collect()
    )
    assert len(rows) >= 1
    stride = chunk_chars - overlap
    rebuilt = rows[0]["chunk_text"]
    for r in rows[1:]:
        assert r["char_start"] == r["chunk_idx"] * stride
        rebuilt += r["chunk_text"][overlap:]
    assert rebuilt == text


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    st.dictionaries(
        st.integers(0, 15),
        st.lists(
            st.tuples(st.sampled_from(["U", "D"]), st.text("ab", max_size=3)),
            min_size=0,
            max_size=4,
        ),
        min_size=1,
        max_size=10,
    ),
    st.sets(st.integers(0, 15), min_size=0, max_size=10),
)
def test_apply_changelog_matches_python_reference(spark, change_map, base_keys):
    """CDC apply == per-key highest-version-wins with tombstone removal,
    for ANY mix of upserts/deletes over ANY base/changes key overlap
    (versions strictly increase per key, the documented precondition)."""
    from apache_spark_streaming_project_spark.operators.dedup import (
        apply_changelog,
    )

    base_rows = [(k, 0, f"base-{k}") for k in base_keys]
    change_rows = [
        (k, v + 1, payload, op)
        for k, ops in change_map.items()
        for v, (op, payload) in enumerate(ops)
    ]
    base = spark.createDataFrame(
        base_rows or [(999_999, 0, "sentinel")],
        "k long, version long, payload string",
    )
    changes = spark.createDataFrame(
        change_rows or [(999_999, 1, "sentinel2", "U")],
        "k long, version long, payload string, op string",
    )
    got = {
        r.k: (r.version, r.payload)
        for r in apply_changelog(base, changes, ["k"], "version").collect()
    }

    # independent reference: highest version decides; D-tombstone removes
    state = {}
    for k, v, p in base_rows or [(999_999, 0, "sentinel")]:
        state.setdefault(k, []).append((v, p, "U"))
    for k, v, p, op in change_rows or [(999_999, 1, "sentinel2", "U")]:
        state.setdefault(k, []).append((v, p, op))
    want = {}
    for k, rows in state.items():
        v, p, op = max(rows)  # versions unique per key by construction
        if op != "D":
            want[k] = (v, p)
    assert got == want


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    st.lists(st.integers(0, 40), min_size=1, max_size=30),
    st.integers(5, 50),
)
def test_pack_documents_matches_python_reference(spark, token_counts, budget):
    """Sequence packing == the documented cumulative-fill formula
    (pack_id = floor((running_total - 1) / budget) in doc order), for any
    document lengths incl. zero-token and over-budget docs."""
    from apache_spark_streaming_project_spark.operators.text import (
        pack_documents,
    )

    rows = [(i, n) for i, n in enumerate(token_counts)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    got = {
        r.doc_id: r.pack_id
        for r in pack_documents(df, "n_tok", budget).collect()
    }
    cum = 0
    want = {}
    for i, n in rows:
        cum += n
        # Python // floors like SQL floor(); the engine clamps the
        # zero-token-prefix case (cum=0 -> -1) to pack 0, so mirror it
        want[i] = max((cum - 1) // budget, 0)
    assert got == want


@settings(max_examples=10, deadline=None, derandomize=True)
@given(
    st.lists(
        st.text(alphabet="abcXYZ09._-&=/", min_size=0, max_size=12),
        min_size=1,
        max_size=6,
    )
)
def test_canonical_url_matches_urllib_reference(spark, parts):
    """canonical_url == an INDEPENDENT Python reimplementation built on
    urllib.parse (different parser, same spec: lowercase scheme/host,
    strip one leading www., drop fragment, drop tracking params + sort
    the rest, collapse duplicate slashes, strip trailing slashes). The
    idempotence property pins a fixed point; this pins the VALUE."""
    import re
    from urllib.parse import urlsplit

    from apache_spark_streaming_project_spark.operators.text import canonical_url

    url = (
        "HTTPS://WWW.Ex" + (parts[0] or "a").replace("/", "").replace("&", "")
        .replace("=", "") + ".COM/" + "/".join(parts[1:3])
        + "?" + "&".join(
            p for p in ["utm_source=x", "b=2", "a=1", *parts[3:5]] if p
        )
        # a '?' INSIDE the fragment: urlsplit treats it as fragment
        # content; a naive \? query regex would resurrect it as params
        + "#frag?t=1"
    )

    def ref(u: str) -> str:
        s = urlsplit(u)
        scheme = s.scheme.lower()
        host = re.sub(r"^www\.", "", s.netloc.lower())
        path = re.sub(r"/+$", "", re.sub(r"/{2,}", "/", s.path))
        params = sorted(
            p
            for p in s.query.split("&")
            if p
            and not re.match(r"^(utm_[A-Za-z0-9_]*|ref|fbclid|gclid)=", p)
        )
        q = "?" + "&".join(params) if params else ""
        return f"{scheme}://{host}{path}{q}"

    df = spark.createDataFrame([(url,)], "u string")
    got = df.select(canonical_url("u").alias("c")).first()["c"]
    assert got == ref(url)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    st.dictionaries(st.integers(0, 12), st.text("ab", max_size=2),
                    min_size=0, max_size=10),
    st.dictionaries(st.integers(0, 12), st.text("ab", max_size=2),
                    min_size=0, max_size=10),
)
def test_snapshot_diff_matches_python_reference(spark, old_map, new_map):
    """snapshot_diff classifies every key exactly like the obvious Python
    set/dict reference (added/removed/changed/unchanged, null-safe), for
    any overlap between the two snapshots."""
    from apache_spark_streaming_project_spark.operators.dedup import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        list(old_map.items()) or [(999, "s")], "k long, payload string"
    )
    new = spark.createDataFrame(
        list(new_map.items()) or [(998, "s")], "k long, payload string"
    )
    om = old_map or {999: "s"}
    nm = new_map or {998: "s"}
    got = {
        r.k: r.change_type
        for r in snapshot_diff(old, new, ["k"], ["payload"]).collect()
    }
    want = {}
    for k in set(om) | set(nm):
        if k not in om:
            want[k] = "added"
        elif k not in nm:
            want[k] = "removed"
        elif om[k] != nm[k]:
            want[k] = "changed"
        else:
            want[k] = "unchanged"
    assert got == want


@settings(max_examples=6, deadline=None, derandomize=True)
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=12),
        min_size=2,
        max_size=8,
    )
)
def test_span_coverage_matches_python_reference(spark, token_lists):
    """duplicate_span_coverage == the brute-force reference: per doc, the
    number of token positions covered by some word n-gram occurring in
    >= 2 distinct documents (n=3 for tractable fixtures)."""
    from apache_spark_streaming_project_spark.operators.text import (
        duplicate_span_coverage,
    )

    n = 3
    docs = [(i, " ".join(toks)) for i, toks in enumerate(token_lists)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.covered_tokens)
        for r in duplicate_span_coverage(df, "doc_id", "text", n=n).collect()
    }

    gram_docs = {}
    for i, toks in enumerate(token_lists):
        for s in range(len(toks) - n + 1):
            gram_docs.setdefault(tuple(toks[s : s + n]), set()).add(i)
    want = {}
    for i, toks in enumerate(token_lists):
        covered = set()
        for s in range(len(toks) - n + 1):
            if len(gram_docs[tuple(toks[s : s + n])]) >= 2:
                covered |= set(range(s, s + n))
        want[i] = (len(toks), len(covered))
    assert got == want


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 1000)),
             min_size=1, max_size=40),
    st.integers(1, 5),
)
def test_stratified_sample_quota_and_determinism(spark, rows, quota):
    """stratified_sample keeps EXACTLY min(quota, stratum size) rows per
    stratum — the lowest order_col values, deterministically — and is
    invariant to physical partitioning."""
    from apache_spark_streaming_project_spark.operators.sampling import (
        stratified_sample,
    )

    data = [(i, f"s{g}", v) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "doc_id long, stratum string, v long")
    picked = stratified_sample(
        df, ["stratum"], quota, F.struct("v", "doc_id")
    ).collect()
    by_stratum = {}
    for r in picked:
        by_stratum.setdefault(r.stratum, []).append((r.v, r.doc_id))
    ref = {}
    for i, (g, v) in enumerate(rows):
        ref.setdefault(f"s{g}", []).append((v, i))
    for s, members in ref.items():
        assert sorted(by_stratum.get(s, [])) == sorted(members)[:quota]
    again = stratified_sample(
        df.repartition(7), ["stratum"], quota, F.struct("v", "doc_id")
    ).collect()
    assert sorted(map(tuple, picked)) == sorted(map(tuple, again))


@settings(max_examples=6, deadline=None, derandomize=True)
@given(
    st.lists(  # a sequence of micro-batches of (key, version) rows
        st.lists(st.tuples(st.integers(0, 9), st.integers(0, 5)),
                 min_size=0, max_size=8),
        min_size=1, max_size=4,
    ),
    st.sampled_from([1, 2, 16]),
    st.booleans(),  # replay the first batch again at the end?
)
def test_partitioned_merge_equals_flat_merge_and_reference(
    spark, batches, n_buckets, replay_first
):
    """Differential property over the production MERGE seam: for ANY
    sequence of micro-batches (overlapping keys, out-of-order versions,
    duplicate (key, version) rows, empty batches, replayed batches) and
    any bucket count (including the degenerate 1), the partitioned merge,
    the flat merge, and a per-key max-version Python reference must agree
    exactly. Payloads are a function of (key, version) so version ties
    are value-identical and the property stays deterministic."""
    import shutil
    import tempfile

    from apache_spark_streaming_project_spark.streaming.upsert import (
        merge_batch_into_partitioned_table,
        merge_batch_into_table,
    )

    root = tempfile.mkdtemp(prefix="merge-prop-")
    try:
        flat = f"{root}/flat"
        ptab = f"{root}/ptab"
        ref: dict[int, int] = {}
        seq = list(enumerate(batches))
        if replay_first:
            seq.append((0, batches[0]))
        for bid, rows in seq:
            if not rows:
                continue  # createDataFrame needs rows; empty merge is a no-op
            batch = spark.createDataFrame(
                [(k, v, f"p{k}-{v}") for k, v in rows],
                ["k", "version", "payload"],
            )
            merge_batch_into_table(
                batch, flat, ["k"], "version",
                staging_suffix=f".staging-{bid}",
            )
            merge_batch_into_partitioned_table(
                batch, ptab, ["k"], "version", n_buckets=n_buckets,
                staging_suffix=f".staging-{bid}",
            )
            for k, v in rows:
                ref[k] = max(ref.get(k, v), v)
        if not ref:
            return  # every batch was empty: no tables to compare
        want = {(k, v, f"p{k}-{v}") for k, v in ref.items()}

        def snap(path):
            return {
                (r.k, r.version, r.payload)
                for r in spark.read.parquet(path)
                .select("k", "version", "payload")
                .collect()
            }

        assert snap(flat) == want
        assert snap(ptab) == want
    finally:
        shutil.rmtree(root, ignore_errors=True)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    st.lists(
        st.tuples(st.sampled_from(["shard-a", "shard-b", "shard-c"]),
                  st.integers(0, 40)),
        min_size=2,
        max_size=30,
    ),
    st.integers(5, 30),
)
def test_partitioned_pack_documents_matches_per_partition_reference(
    spark, part_tokens, budget
):
    """Round-7 verdict item 5: the SCALE path of sequence packing
    (``partition_col=...`` — per-shard windows, no global sort) must
    equal the per-partition Python cumulative-fill reference: within
    each partition, docs packed in order_col order exactly as the
    unpartitioned formula would pack that partition alone. Randomized
    over >=2 partitions; an over-budget document (token count > budget)
    is force-planted so its own-bin-span behavior is always exercised."""
    from apache_spark_streaming_project_spark.operators.text import (
        pack_documents,
    )

    rows = [(i, p, n) for i, (p, n) in enumerate(part_tokens)]
    # plant a document longer than the budget in the first partition
    rows.append((len(rows), rows[0][1], budget * 3 + 1))
    df = spark.createDataFrame(rows, "doc_id long, shard string, n_tok long")
    got = {
        (r.shard, r.doc_id): r.pack_id
        for r in pack_documents(
            df, "n_tok", budget, partition_col="shard"
        ).collect()
    }
    want = {}
    for shard in sorted({p for _i, p, _n in rows}):
        cum = 0
        for i, p, n in sorted(rows):  # order_col order within the shard
            if p != shard:
                continue
            cum += n
            want[(shard, i)] = max((cum - 1) // budget, 0)
    assert got == want


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    bases=st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=2,
        max_size=12,
        unique=True,
    ),
    flips=st.lists(
        st.lists(
            st.integers(min_value=0, max_value=63),
            min_size=0,
            max_size=5,
            unique=True,
        ),
        min_size=1,
        max_size=6,
    ),
)
def test_simhash_schemes_match_quadratic_reference(spark, bases, flips):
    """The 4x16-bit pigeonhole candidate scheme must return EXACTLY the
    brute-force all-pairs Hamming <= 3 set — including planted
    neighbors at distances 0..5 straddling the radius, where an
    off-by-one in blocking would show."""
    from apache_spark_streaming_project_spark.operators.dedup import (
        simhash_near_dups,
    )

    mask = (1 << 64) - 1
    fps = list(bases)
    for i, bits in enumerate(flips):  # neighbors of base 0 at distance len(bits)
        derived = fps[0]
        for b in bits:
            derived ^= 1 << b
        fps.append(derived)
    rows = [
        (k, v if v < 2**63 else v - 2**64)
        for k, v in enumerate(dict.fromkeys(f & mask for f in fps))
    ]
    want = sorted(
        (a, b)
        for ai, (a, af) in enumerate(rows)
        for b, bf in rows[ai + 1 :]
        if bin((af ^ bf) & mask).count("1") <= 3
    )
    fp_df = spark.createDataFrame(rows, "_key long, _fp long")
    got = sorted(
        (r.key_a, r.key_b)
        for r in simhash_near_dups(
            None, fingerprints=fp_df, max_hamming=3
        ).collect()
    )
    assert got == want, (got, want)


@settings(max_examples=5, deadline=None, derandomize=True)
@given(st.lists(st.text(min_size=1, max_size=16), min_size=4, max_size=30, unique=True))
def test_bloom_double_hash_probes_stay_distinct(spark, keys):
    """Round-7 self-review: h2 is reduced into [1, m-1], never 0, so the
    second probe can never collapse onto the first (which would silently
    degrade those keys' effective k to 1)."""
    from apache_spark_streaming_project_spark.functions.bloom import (
        _probe_position,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(k,) for k in keys], "key string")
    m = 1 << 10  # small m makes h2 % m == 0 likely under the OLD scheme
    n_collapsed = df.select(
        (_probe_position(F.col("key"), m, 0)
         == _probe_position(F.col("key"), m, 1)).cast("int").alias("c")
    ).agg(F.sum("c")).first()[0]
    assert n_collapsed == 0


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.sampled_from(["a", "b", "c"])),
            st.one_of(st.none(), st.sampled_from(["x", "y"])),
            st.one_of(st.none(), st.integers(0, 9)),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_exact_dedup_paths_agree_on_random_nullable_frames(spark, rows):
    """The reference (groupBy + null-safe semi join) and window
    formulations of exact_dedup must elect the SAME (cols, key) survivor
    set on ANY frame, including NULL dedup columns and NULL keys — the
    differential pin behind the round-8 null-safety fix. Compares the
    (c1, c2, k) triples — the columns both paths deterministically agree
    on; other-column tie-breaks among fully identical triples are
    window-path-only by design."""
    from apache_spark_streaming_project_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(rows, "c1 string, c2 string, k int")
    ref = exact_dedup(df, ["c1", "c2"], "k", fingerprint_wide_cols=False)
    win = exact_dedup(df, ["c1", "c2"], "k", fingerprint_wide_cols=True)

    def key(t):
        return (t[0] or "", t[1] or "", -1 if t[2] is None else t[2])

    assert sorted(
        ((r.c1, r.c2, r.k) for r in ref.collect()), key=key
    ) == sorted(((r.c1, r.c2, r.k) for r in win.collect()), key=key)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["aaa", "bbb", "ccc", "dd", ""]),
            min_size=0,
            max_size=6,
        ),
        min_size=1,
        max_size=10,
    )
)
def test_dedup_paragraphs_matches_python_reference(spark, para_lists):
    """Within-doc paragraph dedup vs dict.fromkeys (first-occurrence
    order), plus idempotence: f(f(x)) == f(x)."""
    from apache_spark_streaming_project_spark.operators.text import (
        dedup_paragraphs,
    )

    docs = [(i, "\n\n".join(ps)) for i, ps in enumerate(para_lists)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    once = {
        r.doc_id: r.d
        for r in df.select(
            "doc_id", dedup_paragraphs("text").alias("d")
        ).collect()
    }
    twice = {
        r.doc_id: r.d
        for r in df.select(
            "doc_id", dedup_paragraphs(dedup_paragraphs("text")).alias("d")
        ).collect()
    }
    for i, ps in enumerate(para_lists):
        want = "\n\n".join(dict.fromkeys("\n\n".join(ps).split("\n\n")))
        assert once[i] == want, (i, ps)
        assert twice[i] == once[i], (i, ps)


@settings(max_examples=6, deadline=None, derandomize=True)
@given(
    st.lists(st.integers(min_value=0, max_value=3000), min_size=1, max_size=400),
    st.integers(min_value=1, max_value=3),
)
def test_kmv_merge_matches_python_reference(spark, items, n_shards):
    """KMV sketch (k smallest distinct xxhash64) vs a Python reference
    computed with Spark's own hash values, under ANY sharding: the
    merged per-shard sketches must equal the direct sketch, which must
    equal the reference's sorted-distinct-prefix."""
    from apache_spark_streaming_project_spark.operators.mergeable import (
        kmv_merge,
        kmv_sketch,
    )

    k = 16
    df = spark.createDataFrame(
        [(i % n_shards, f"v{x}") for i, x in enumerate(items)],
        "shard int, item string",
    ).withColumn("g", F.lit(1))
    # reference: Spark's xxhash64 of each distinct item, k smallest
    hv = {
        r.h
        for r in df.select(F.xxhash64("item").alias("h")).distinct().collect()
    }
    want = sorted(hv)[:k]
    direct = sorted(r.hv for r in kmv_sketch(df, ["g"], "item", k).collect())
    assert direct == want
    shards = [
        kmv_sketch(df.filter(F.col("shard") == s), ["g"], "item", k)
        for s in range(n_shards)
    ]
    u = shards[0]
    for s in shards[1:]:
        u = u.unionByName(s)
    merged = sorted(r.hv for r in kmv_merge(u, ["g"], k).collect())
    assert merged == want


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    st.lists(
        st.floats(min_value=0.0, max_value=99.999, allow_nan=False),
        min_size=1,
        max_size=300,
    ),
    st.lists(
        st.sampled_from([0.1, 0.25, 0.5, 0.75, 0.9, 1.0]),
        min_size=1,
        max_size=4,
        unique=True,
    ),
)
def test_histogram_quantiles_contain_exact_values(spark, values, qs):
    """For ANY data and quantile set, the reported bucket must contain
    the exact rank-ceil(q*N) order statistic, and rank/n_total must be
    exact integers."""
    import math

    from apache_spark_streaming_project_spark.operators.profile import (
        fixed_width_histogram,
        histogram_quantiles,
    )

    df = spark.createDataFrame([(v,) for v in values], "v double")
    hist = fixed_width_histogram(df, "v", 0.0, 100.0, 20)
    got = {r.q: r for r in histogram_quantiles(hist, qs).collect()}
    svals = sorted(values)
    assert set(got) == set(qs)
    for q in qs:
        rank = math.ceil(q * len(svals))
        exact = svals[rank - 1]
        r = got[q]
        assert r.rank == rank and r.n_total == len(svals)
        assert r.bucket_lo <= exact < r.bucket_hi, (q, exact, r)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(st.lists(
    st.text(alphabet="ab \n", min_size=0, max_size=60),
    min_size=1, max_size=10,
))
def test_gopher_repetition_invariants(spark, texts):
    """Structural invariants of the repetition battery on adversarial
    tiny-alphabet docs (maximal collision pressure):

    - every char numerator is bounded by its denominator EXCEPT the top
      n-gram one, which counts occurrences x chars and may exceed 100%
      on overlapping self-repeats (documented convention);
    - dup_{n}gram coverage is NON-INCREASING in n (theorem: a
      duplicated (n+1)-gram's two occurrences contain duplicated
      n-grams covering a superset of its positions);
    - self-concatenation makes every n <= tokens fully covered."""
    from apache_spark_streaming_project_spark.operators.text import (
        gopher_repetition_flags_df,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict()
           for r in gopher_repetition_flags_df(df).collect()}
    for i, _t in rows:
        g = got[i]
        assert g["dup_lines"] <= g["n_lines"]
        assert g["dup_line_chars"] <= g["line_chars"]
        assert g["dup_paras"] <= g["n_paras"]
        assert g["dup_para_chars"] <= g["para_chars"]
        cov = [g[f"dup_{n}gram_chars"] for n in range(5, 11)]
        assert all(c <= g["total_chars"] for c in cov), (i, cov)
        assert all(a >= b for a, b in zip(cov, cov[1:])), (i, cov)

    # self-concatenation: "t t" duplicates every window of t
    doubled = [(i, f"{t} {t}") for i, t in enumerate(texts) if t.split()]
    if doubled:
        df2 = spark.createDataFrame(doubled, "doc_id long, text string")
        got2 = {r["doc_id"]: r.asDict()
                for r in gopher_repetition_flags_df(df2).collect()}
        for i, t2 in doubled:
            g = got2[i]
            n_tok = len(t2.split())
            for n in range(5, 11):
                if n <= n_tok // 2:
                    assert g[f"dup_{n}gram_chars"] == g["total_chars"], (
                        i, n, g)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(st.lists(
    st.text(alphabet="abc ", min_size=0, max_size=50),
    min_size=2, max_size=12,
))
def test_remove_duplicate_spans_invariants(spark, texts):
    """remove_duplicate_spans invariants on a high-collision corpus:

    - output tokens are a SUBSEQUENCE of the input tokens;
    - kept_tokens equals the output's token count and never exceeds
      n_tokens;
    - a corpus where every doc is unique-and-short (< n tokens) passes
      through untouched (canonicalized whitespace);
    - duplicating the whole corpus under fresh keys removes EVERY
      n-token-or-longer doc entirely."""
    from apache_spark_streaming_project_spark.operators.text import (
        remove_duplicate_spans,
    )

    n = 3
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict()
           for r in remove_duplicate_spans(df, n=n).collect()}

    def is_subseq(sub, full):
        it = iter(full)
        return all(tok in it for tok in sub)

    for i, t in rows:
        g = got[i]
        toks_in = t.split()
        toks_out = g["text"].split() if g["text"] else []
        assert g["n_tokens"] == len(toks_in)
        assert g["kept_tokens"] == len(toks_out) <= len(toks_in)
        assert is_subseq(toks_out, toks_in), (i, toks_out, toks_in)

    # corpus doubled under fresh keys: every doc with >= n tokens is a
    # full duplicate span and must vanish from BOTH copies
    rows2 = rows + [(1000 + i, t) for i, t in rows]
    df2 = spark.createDataFrame(rows2, "doc_id long, text string")
    got2 = {r["doc_id"]: r.asDict()
            for r in remove_duplicate_spans(df2, n=n).collect()}
    for i, t in rows2:
        if len(t.split()) >= n:
            assert got2[i]["kept_tokens"] == 0, (i, t, got2[i])


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    st.lists(
        st.text(
            alphabet=st.sampled_from("ab \t\n"), min_size=0, max_size=40
        ),
        min_size=1,
        max_size=8,
    ),
    st.sampled_from([(3, 2), (5, 4), (4, 1)]),
)
def test_winnow_matches_python_reference_random(spark, texts, kw):
    """winnow_fingerprints == the pure-Python robust-winnowing reference
    on randomized whitespace-heavy two-letter texts (maximum hash-tie
    density — the adversarial case for the rightmost-min encoding)."""
    from apache_spark_streaming_project_spark.operators.text import (
        winnow_fingerprints,
    )
    from tests.test_winnow import ref_fps

    k, w = kw
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got: dict[int, list] = {}
    for r in winnow_fingerprints(df, k=k, w=w).collect():
        got.setdefault(r["doc_id"], []).append((r["fp_pos"], r["fp_hash"]))
    for i, t in rows:
        assert sorted(got.get(i, [])) == sorted(ref_fps(t, k, w)), (i, t)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    st.lists(
        st.tuples(
            st.text(
                alphabet=st.sampled_from("xy z"), min_size=1, max_size=30
            ),
            st.booleans(),
        ),
        min_size=2,
        max_size=10,
    ).filter(
        lambda rows: any(t for _, t in rows)
        and any(s.strip() for s, t in rows if t)
        and any(not t and s.strip() for s, t in rows)
    ),
)
def test_dsir_matches_python_reference_random(spark, rows):
    """dsir_importance_weights (both modes) == the pure-Python DSIR
    reference on randomized tiny-vocabulary corpora (maximum bucket
    collision density)."""
    from apache_spark_streaming_project_spark.operators.sampling import (
        dsir_importance_weights,
    )
    from tests.test_dsir import _reference

    docs = [(i, s, t) for i, (s, t) in enumerate(rows)]
    ref = _reference(docs, 16)
    df = spark.createDataFrame(docs, "doc_id long, text string, lang boolean")
    for mode, idx in (("log", 4), ("ratio", 5)):
        got = {
            r["doc_id"]: r
            for r in dsir_importance_weights(
                df, F.col("lang"), num_buckets=16, score_mode=mode
            ).collect()
        }
        assert set(got) == set(ref)
        for i, exp in ref.items():
            r = got[i]
            assert (
                r["n_grams"],
                r["n_buckets_hit"],
                r["sum_target_count"],
                r["sum_raw_count"],
            ) == exp[:4]
            assert abs(r["dsir_score"] - exp[idx]) < 1e-9
