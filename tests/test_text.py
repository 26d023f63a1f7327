"""Unit tests for X4 text-analysis operators (hand-computed expectations)."""

from __future__ import annotations

import pytest

from apache_spark_streaming_project_spark.operators import text as tx


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the cat and the dog, in a house."),
        (1, "der hund und die katze ist nicht ein tier zu haben"),
        (2, "   "),
        (3, "x"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_token_count(spark, docs):
    out = {r.doc_id: r.n for r in docs.select("doc_id", tx.token_count("text").alias("n")).collect()}
    assert out[0] == 8
    assert out[2] == 0  # whitespace-only -> zero tokens
    assert out[3] == 1


def test_punct_ratio(spark, docs):
    out = {
        r.doc_id: r.p for r in docs.select("doc_id", tx.punct_ratio("text").alias("p")).collect()
    }
    # "the cat and the dog, in a house." -> 2 punct chars / 32 chars
    assert out[0] == pytest.approx(2 / 32)
    assert out[2] == pytest.approx(0.0)


def test_stopword_ratio_english(spark, docs):
    out = {
        r.doc_id: r.s
        for r in docs.select("doc_id", tx.stopword_ratio("text").alias("s")).collect()
    }
    # en stopwords in doc 0: the, and, the, in, a -> 5/8
    assert out[0] == pytest.approx(5 / 8)
    assert out[2] == 0.0


def test_language_id(spark, docs):
    out = {
        r.doc_id: r.lang
        for r in docs.select("doc_id", tx.language_id("text").alias("lang")).collect()
    }
    assert out[0] == "en"
    assert out[1] == "de"
    assert out[2] == "und"  # no tokens -> unknown


def test_rolling_fingerprint_matches_python(spark, docs):
    text = "the cat and the dog, in a house."
    expect = 0
    for ch in text:
        expect = (expect * 31 + ord(ch)) % (2**31 - 1)
    out = {
        r.doc_id: r.fp
        for r in docs.select("doc_id", tx.rolling_fingerprint("text").alias("fp")).collect()
    }
    assert out[0] == expect


def test_text_profile_schema(spark, docs):
    prof = tx.text_profile(docs)
    cols = set(prof.columns)
    assert {
        "n_tokens",
        "n_tokens_bpe",
        "mean_token_len",
        "punct_ratio",
        "stopword_ratio",
        "quality",
        "lang_pred",
        "fingerprint",
    } <= cols
    assert prof.count() == 4


def test_redact_patterns_counts_and_replacement(spark):
    from apache_spark_streaming_project_spark.operators.text import (
        redact_patterns,
    )

    df = spark.createDataFrame(
        [
            (1, "mail a@b.com and c@d.org tel 555-1234"),
            (2, "no pii here"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in redact_patterns(df, "text").collect()}
    assert out[1].n_email == 2 and out[1].n_phone == 1
    assert out[1].text_redacted == "mail [email] and [email] tel [phone]"
    assert out[2].n_email == 0 and out[2].text_redacted == "no pii here"


def test_chunk_documents_offsets_and_overlap(spark):
    from apache_spark_streaming_project_spark.operators.text import (
        chunk_documents,
    )

    df = spark.createDataFrame(
        [(1, "a" * 10), (2, "x" * 450)], ["doc_id", "text"]
    )
    out = chunk_documents(df, "doc_id", "text", chunk_chars=200, overlap=50)
    rows = sorted(
        ((r.doc_id, r.chunk_idx, r.char_start, len(r.chunk_text))
         for r in out.collect())
    )
    # short doc -> exactly one whole chunk
    assert rows[0] == (1, 0, 0, 10)
    # 450 chars, stride 150 -> chunks at 0/150/300 (last one 150 long)
    assert [(r[2], r[3]) for r in rows[1:]] == [(0, 200), (150, 200), (300, 150)]


def test_chunk_documents_rejects_bad_overlap(spark):
    import pytest as _pytest

    from apache_spark_streaming_project_spark.operators.text import (
        chunk_documents,
    )

    df = spark.createDataFrame([(1, "abc")], ["doc_id", "text"])
    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_chars=50, overlap=50)


def test_pack_documents_fills_budget_and_handles_oversize(spark):
    from apache_spark_streaming_project_spark.operators.text import pack_documents

    df = spark.createDataFrame(
        [(0, 100), (1, 100), (2, 100), (3, 900), (4, 100)],
        "doc_id long, n_tokens int",
    )
    packs = {
        r.doc_id: r.pack_id
        for r in pack_documents(df, "n_tokens", 512, "doc_id").collect()
    }
    # docs 0-2 (cum 100,200,300) share pack 0; doc 3 (cum 1200) overflows
    # into pack 2 (oversize doc spans its own bin range); doc 4 follows
    assert packs[0] == packs[1] == packs[2] == 0
    assert packs[3] == 2
    assert packs[4] == 2  # cum 1300 -> floor(1299/512) = 2

    # per-partition packing restarts the fill per group
    df2 = df.withColumn("part", (df.doc_id % 2).cast("int"))
    by_part = pack_documents(df2, "n_tokens", 512, "doc_id", "part").collect()
    assert all(r.pack_id == 0 for r in by_part if r.part == 0 and r.doc_id < 3)


def test_gram_boilerplate_signal(spark):
    """Hand-computed 3-gram document frequencies: the shared template
    prefix shows up with df == number of docs carrying it."""
    rows = [
        (0, "terms of service apply here now"),
        (1, "terms of service apply to everything"),
        (2, "a completely original document body"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: (r.n_grams, r.max_gram_df, r.n_common_grams)
        for r in tx.gram_boilerplate_signal(d, common_df=2).collect()
    }
    # docs 0/1 share 'terms of service' and 'of service apply' (df=2)
    assert out[0] == (4, 2, 2)
    assert out[1] == (4, 2, 2)
    assert out[2] == (3, 1, 0)


def test_redact_counts_reconcile_with_redactions_performed(spark):
    """Round-7 self-review: n_<label> must count what each pattern saw
    AFTER earlier patterns ran — '555-1234@mail.com' is one email and
    zero phone redactions, and sum(n_*) must equal the placeholders in
    the output."""
    from apache_spark_streaming_project_spark.operators.text import (
        redact_patterns,
    )

    df = spark.createDataFrame(
        [("555-1234@mail.com and 111-2222",)], "text string"
    )
    r = redact_patterns(
        df,
        "text",
        {
            "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
            "phone": r"\d{3}-\d{4}",
        },
    ).first()
    assert (r.n_email, r.n_phone) == (1, 1)
    assert r.text_redacted == "[email] and [phone]"
    assert r.text_redacted.count("[email]") == r.n_email
    assert r.text_redacted.count("[phone]") == r.n_phone


def test_gram_boilerplate_keeps_short_docs_with_zero_stats(spark):
    """Round-7 self-review: a doc with fewer than n tokens explodes to
    zero gram rows — it must still get a (0, 0, 0) profile row, not
    vanish from the output (absence reads as 'not boilerplate' or drops
    the doc entirely on an inner join back)."""
    from apache_spark_streaming_project_spark.operators.text import (
        gram_boilerplate_signal,
    )

    df = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "too short"), (2, "")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: (r.n_grams, r.max_gram_df, r.n_common_grams)
           for r in gram_boilerplate_signal(df, n=3).collect()}
    assert set(got) == {0, 1, 2}
    assert got[1] == (0, 0, 0) and got[2] == (0, 0, 0)
    assert got[0][0] == 2  # two distinct 3-grams


class TestStripHtml:
    """JVM-side HTML stripping: all regexp_replace/replace — no Python,
    no shuffle — with the entity decode ORDER pinned (the classic
    double-decode bug: &amp;lt; is the author writing '&lt;' literally
    and must NOT become '<')."""

    def _strip(self, spark, html):
        from apache_spark_streaming_project_spark.operators.text import (
            strip_html,
        )

        return (
            spark.createDataFrame([(html,)], "html string")
            .select(strip_html("html").alias("t"))
            .first()
            .t
        )

    def test_realistic_page(self, spark):
        html = (
            "<!DOCTYPE html><html><head><title>skip me</title>"
            "<style>p {color: red}</style></head><body>"
            "<script>var x = '<p>not text</p>';</script>"
            "<!-- a comment -->"
            "<h1>Title</h1><p>First <b>bold</b> paragraph.</p>"
            "<ul><li>one</li><li>two</li></ul>"
            "<p>A&nbsp;B &amp; C &lt;tag&gt;</p></body></html>"
        )
        got = self._strip(spark, html)
        assert "skip me" not in got and "color" not in got
        assert "not text" not in got and "comment" not in got
        assert "Title" in got and "First bold paragraph." in got
        assert "one" in got and "two" in got
        assert "A B & C <tag>" in got
        # block tags became line boundaries: title and paragraph separate
        assert "Title\n" in got or "Title \n" in got.replace("  ", " ")

    def test_entity_decode_order(self, spark):
        # the author wrote the literal text "&lt;" — must survive as
        # "&lt;", not double-decode to "<"
        assert self._strip(spark, "<p>&amp;lt;</p>") == "&lt;"
        assert self._strip(spark, "&amp;amp;") == "&amp;"

    def test_plan_is_pure_jvm(self, spark):
        from apache_spark_streaming_project_spark.operators.text import (
            strip_html,
        )

        df = spark.createDataFrame([("<p>x</p>",)], "html string").select(
            strip_html("html")
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan and "Exchange" not in plan


class TestRemoveCommonLines:
    """C4/RefinedWeb-style line dedup: lines shared by >= min_df docs
    are stripped everywhere; order and byte-exact content of kept lines
    survive; short/blank lines are immune; fully-stripped documents stay
    present with empty text."""

    def _corpus(self, spark):
        banner = "Accept all cookies to continue"
        docs = []
        for i in range(12):
            docs.append((i, f"unique opener {i}\n{banner}\n\nbody {i} text here"))
        docs.append((12, banner))  # banner-only doc
        docs.append((13, f"rare line in two docs\nmore {13}"))
        docs.append((14, f"rare line in two docs\nmore {14}"))
        return spark.createDataFrame(docs, "doc_id long, text string")

    def test_removal_order_and_immunity(self, spark):
        from apache_spark_streaming_project_spark.operators.text import (
            remove_common_lines,
        )

        out = {
            r.doc_id: r.text
            for r in remove_common_lines(
                self._corpus(spark), min_df=10, min_line_chars=8
            ).collect()
        }
        assert len(out) == 15  # nobody vanished
        for i in range(12):
            # banner gone, order preserved, blank line kept
            assert out[i] == f"unique opener {i}\n\nbody {i} text here"
        assert out[12] == ""  # banner-only doc emptied, still present
        # a line in only 2 docs is under min_df: kept
        assert out[13].startswith("rare line in two docs")
        assert out[14].startswith("rare line in two docs")

    def test_min_df_boundary(self, spark):
        from apache_spark_streaming_project_spark.operators.text import (
            remove_common_lines,
        )

        df = self._corpus(spark)
        out = {
            r.doc_id: r.text
            for r in remove_common_lines(df, min_df=2, min_line_chars=8).collect()
        }
        # at min_df=2 the two-doc line IS removed
        assert not out[13].startswith("rare")
        assert not out[14].startswith("rare")

    def test_short_lines_never_counted(self, spark):
        from apache_spark_streaming_project_spark.operators.text import (
            remove_common_lines,
        )

        docs = [(i, "---\nreal content " + str(i)) for i in range(20)]
        out = {
            r.doc_id: r.text
            for r in remove_common_lines(
                spark.createDataFrame(docs, "doc_id long, text string"),
                min_df=5,
                min_line_chars=8,
            ).collect()
        }
        # '---' appears in all 20 docs but is under min_line_chars: kept
        assert all(t.startswith("---\n") for t in out.values())

    def test_null_text_stays_null(self, spark):
        """A NULL document must come back NULL, not '' — posexplode of
        split(NULL) drops the row, so the operator needs (and has) an
        explicit NULL branch (round-9 review finding; same NULL!=''
        parity rule as the BM25 dl fix)."""
        from apache_spark_streaming_project_spark.operators.text import (
            remove_common_lines,
        )

        docs = [(i, "shared banner line here\nbody " + str(i)) for i in range(10)]
        docs.append((99, None))
        df = spark.createDataFrame(docs, "doc_id long, text string")
        out = {
            r.doc_id: r.text
            for r in remove_common_lines(df, min_df=10, min_line_chars=8).collect()
        }
        assert out[99] is None
        assert out[0] == "body 0"  # banner removed, NULL row inert


class TestDedupParagraphs:
    def _run(self, spark, text):
        from apache_spark_streaming_project_spark.operators.text import (
            dedup_paragraphs,
        )

        return (
            spark.createDataFrame([(text,)], "t string")
            .select(dedup_paragraphs("t").alias("d"))
            .first()
            .d
        )

    def test_first_occurrence_kept_order_preserved(self, spark):
        got = self._run(spark, "a\n\npromo\n\na\n\npromo\n\nb\n\npromo")
        assert got == "a\n\npromo\n\nb"

    def test_no_duplicates_is_identity(self, spark):
        assert self._run(spark, "one\n\ntwo\n\nthree") == "one\n\ntwo\n\nthree"

    def test_single_paragraph_and_null(self, spark):
        from apache_spark_streaming_project_spark.operators.text import (
            dedup_paragraphs,
        )

        assert self._run(spark, "just one paragraph") == "just one paragraph"
        r = (
            spark.createDataFrame([(None,)], "t string")
            .select(dedup_paragraphs("t").alias("d"))
            .first()
        )
        assert r.d is None

    def test_empty_paragraphs_dedup_too(self, spark):
        # 'a' + sep + sep + 'a' splits to ['a', '', 'a']: the empty
        # paragraph is a value like any other, 'a' keeps its first slot
        assert self._run(spark, "a\n\n\n\na") == "a\n\n"

    def test_plan_is_map_side_jvm(self, spark):
        from apache_spark_streaming_project_spark.operators.text import (
            dedup_paragraphs,
        )

        df = spark.createDataFrame([("x\n\nx",)], "t string").select(
            dedup_paragraphs("t")
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan and "Exchange" not in plan


class TestNormalizeUnicode:
    def test_nfkc_folds_and_ascii_passthrough(self, spark):
        from apache_spark_streaming_project_spark.operators.text import (
            normalize_unicode,
        )

        rows = [
            ("ﬁle",),          # fi ligature -> "file" under NFKC
            ("ＡBC",),          # full-width A -> "ABC"
            ("café",),        # e + combining acute -> é (composed)
            ("plain ascii",),       # byte-identical passthrough
            (None,),                # NULL passthrough
        ]
        df = spark.createDataFrame(rows, "t string").coalesce(1)
        got = [
            r.n
            for r in df.select(
                normalize_unicode("t", "NFKC").alias("n")
            ).collect()
        ]
        assert got[0] == "file"
        assert got[1] == "ABC"
        assert got[2] == "café"
        assert got[3] == "plain ascii"
        assert got[4] is None

    def test_nfc_vs_nfkc_difference(self, spark):
        from apache_spark_streaming_project_spark.operators.text import (
            normalize_unicode,
        )

        df = spark.createDataFrame([("ﬁle",)], "t string")
        nfc = df.select(normalize_unicode("t", "NFC").alias("n")).first().n
        assert nfc == "ﬁle"  # NFC keeps compatibility ligatures

    def test_bad_form_rejected(self, spark):
        import pytest as _pytest

        from apache_spark_streaming_project_spark.operators.text import (
            normalize_unicode,
        )

        with _pytest.raises(ValueError, match="normalization form"):
            normalize_unicode("t", "NFX")


def test_crawl_cleaning_pipeline_end_to_end(spark):
    """The realistic composition: raw HTML pages -> strip_html ->
    normalize_unicode -> remove_common_lines -> quality signals. One
    declarative plan; Python only inside the normalization kernel."""
    from apache_spark_streaming_project_spark.operators.text import (
        normalize_unicode,
        quality_score,
        remove_common_lines,
        strip_html,
    )

    banner = "Accept all cookies to continue with this site"
    pages = [
        (
            i,
            "<html><head><style>x{}</style></head><body>"
            f"<div>{banner}</div>"
            f"<p>Unique ﬁnding number {i} with real content here.</p>"
            "<script>tracker()</script></body></html>",
        )
        for i in range(12)
    ]
    df = spark.createDataFrame(pages, "doc_id long, html string")
    text = df.select(
        "doc_id",
        normalize_unicode(strip_html("html"), "NFKC").alias("text"),
    )
    clean = remove_common_lines(text, min_df=10, min_line_chars=8)
    out = {r.doc_id: r for r in clean.select(
        "doc_id", "text", quality_score("text").alias("q")
    ).collect()}
    for i in range(12):
        t = out[i].text
        assert banner not in t  # boilerplate line removed corpus-wide
        assert f"Unique finding number {i}" in t  # ligature folded, kept
        assert "tracker" not in t and "style" not in t
        assert out[i].q > 0


class TestGopherQualityFlags:
    def _flags(self, spark, text):
        from apache_spark_streaming_project_spark.operators.text import (
            gopher_quality_flags,
        )

        return (
            spark.createDataFrame([(text,)], "t string")
            .select(gopher_quality_flags("t").alias("f"))
            .first()
            .f.asDict()
        )

    def test_good_document_passes_all(self, spark):
        text = " ".join(
            "the quick brown fox jumps over that lazy dog with energy and"
            " purpose to have fun".split()
            * 6
        )
        f = self._flags(spark, text)
        assert all(f.values()), f

    def test_each_rule_fires(self, spark):
        base = " ".join(["the of and that have with be to word here"] * 8)
        # too short
        assert not self._flags(spark, "the of and")["word_count_ok"]
        # symbol ratio: hashes everywhere
        f = self._flags(spark, base + " " + "# " * 30)
        assert not f["symbol_ratio_ok"]
        # bullet lines dominate
        bullets = "\n".join("- item the of and that have" for _ in range(20))
        assert not self._flags(spark, bullets)["bullet_ratio_ok"]
        # ellipsis line endings dominate
        ell = "\n".join("the of and that have this..." for _ in range(10))
        assert not self._flags(spark, ell)["ellipsis_ratio_ok"]
        # numeric soup fails the alpha-word rule
        nums = base + " " + " ".join(str(i) for i in range(200))
        assert not self._flags(spark, nums)["alpha_word_ratio_ok"]
        # no must-have stopwords
        f = self._flags(spark, " ".join(["lorem ipsum dolor sit amet"] * 20))
        assert not f["stopword_ok"]

    def test_empty_and_null_are_rejected_not_errors(self, spark):
        f = self._flags(spark, "")
        assert not f["word_count_ok"] and not f["symbol_ratio_ok"]

    def test_unicode_ellipsis_counts_toward_symbol_ratio(self, spark):
        """'…' is the ellipsis SYMBOL — it must count in the symbol
        ratio exactly like its ASCII spelling (it already counted in
        the line-end rule; the two rules were inconsistent before the
        round-9 review pass)."""
        base = " ".join(["the of and that have with be to word here"] * 8)
        ascii_f = self._flags(spark, base + " " + "... " * 30)
        uni_f = self._flags(spark, base + " " + "… " * 30)
        assert not ascii_f["symbol_ratio_ok"]
        assert not uni_f["symbol_ratio_ok"]

    def test_symbol_rule_is_per_symbol_not_summed(self, spark):
        """The paper removes on ratio > 0.1 for EITHER '#' or ellipsis
        SEPARATELY: a doc at 0.06 hash + 0.06 ellipsis (sum 0.12) must
        still pass (round-9 review finding — the summed form was
        stricter than published)."""
        base = " ".join(["the of and that have with be to word here"] * 8)
        # 80 words + 8 '#' + 8 '...' = 96 words; each ratio 8/96 < 0.1
        f = self._flags(spark, base + " " + "# " * 8 + "... " * 8)
        assert f["symbol_ratio_ok"], f
        # but 12 of one symbol alone (12/92 > 0.1) still fails
        f2 = self._flags(spark, base + " " + "# " * 12)
        assert not f2["symbol_ratio_ok"], f2


def test_full_curation_composition(spark):
    """Capstone composition over the whole curation library: raw HTML ->
    strip_html -> normalize_unicode -> remove_common_lines ->
    gopher_quality_flags gate -> token counting -> pack_documents.
    One declarative plan end to end; Python only inside the
    normalization kernel."""
    from pyspark.sql import functions as F

    from apache_spark_streaming_project_spark.operators.text import (
        gopher_quality_flags,
        normalize_unicode,
        pack_documents,
        remove_common_lines,
        strip_html,
        token_count,
    )

    banner = "Subscribe to our newsletter for the latest updates today"
    good_body = (
        "the quick brown fox jumps over that lazy dog with energy and "
        "purpose to have fun in the sun and then some more words follow "
        "naturally here with the usual flow of an ordinary paragraph"
    )
    pages = []
    for i in range(12):
        pages.append(
            (
                i,
                f"<html><body><p>{banner}</p>"
                f"<p>Document {i}: {good_body} {good_body}</p></body></html>",
            )
        )
    # a junk page that must be filtered by the gopher gate
    pages.append((12, "<html><body><p>" + "# " * 120 + "</p></body></html>"))
    df = spark.createDataFrame(pages, "doc_id long, html string")
    text = df.select(
        "doc_id", normalize_unicode(strip_html("html"), "NFKC").alias("text")
    )
    clean = remove_common_lines(text, min_df=10, min_line_chars=8)
    flags = gopher_quality_flags("text")
    gated = (
        clean.withColumn("flags", flags)
        .filter(
            F.col("flags.word_count_ok")
            & F.col("flags.symbol_ratio_ok")
            & F.col("flags.alpha_word_ratio_ok")
            & F.col("flags.stopword_ok")
        )
        .withColumn("n_tokens", token_count("text"))
    )
    packed = pack_documents(gated, "n_tokens", budget=200)
    rows = packed.collect()
    ids = {r.doc_id for r in rows}
    assert ids == set(range(12))  # junk page gated out, banner docs kept
    for r in rows:
        assert banner not in r.text  # boilerplate removed corpus-wide
        assert r.pack_id >= 0
    # packing is contiguous and budget-shaped: > 1 pack for ~12 x ~60 tokens
    assert len({r.pack_id for r in rows}) >= 3


class TestBigramLMScore:
    """CCNet-style corpus-trained add-alpha bigram LM scoring: integer
    skeleton is exact; the log-based score is pinned to an independent
    Python reference (1e-12 — cross-engine ln is NOT bit-stable, see
    BASELINE.md round-9 ln measurement, so the score column is
    deliberately outside the oracle hash)."""

    def _reference(self, docs, alpha=0.5):
        from collections import Counter

        import math

        toks = {k: t.split() for k, t in docs}
        pairs = {
            k: [(ts[i], (ts[i], ts[i + 1])) for i in range(len(ts) - 1)]
            for k, ts in toks.items()
            if len(ts) >= 2
        }
        cbg = Counter(bg for ps in pairs.values() for _, bg in ps)
        cw1 = Counter(w1 for ps in pairs.values() for w1, _ in ps)
        vocab = {t for ts in toks.values() for t in ts}
        out = {}
        for k, ps in pairs.items():
            lps = [
                math.log(
                    (cbg[bg] + alpha) / (cw1[w1] + alpha * len(vocab))
                )
                for w1, bg in ps
            ]
            acc = 0.0
            for x in lps:  # same left-to-right fold as the Spark plan
                acc += x
            out[k] = (
                len(ps),
                sum(cbg[bg] for _, bg in ps),
                sum(cw1[w1] for w1, _ in ps),
                len(vocab),
                acc / len(ps),
            )
        return out

    def test_matches_python_reference(self, spark):
        from apache_spark_streaming_project_spark.operators.text import (
            bigram_lm_score,
        )

        docs = [
            (0, "the cat sat on the mat"),
            (1, "the cat sat on the hat"),
            (2, "a dog ran through the park"),
            (3, "zx qq vv"),          # rare sequences -> low score
            (4, "the cat sat on the mat"),  # duplicate of 0
            (5, "single"),            # < 2 tokens: excluded
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r.doc_id: r
            for r in bigram_lm_score(df, "doc_id", "text").collect()
        }
        want = self._reference(docs)
        assert set(got) == set(want)  # doc 5 absent from both
        for k, (nb, sbc, slc, v, score) in want.items():
            r = got[k]
            assert (r.n_bigrams, r.sum_bigram_count, r.sum_left_count) == (
                nb,
                sbc,
                slc,
            ), k
            assert r.v_size == v
            assert abs(r.lm_score - score) < 1e-12, (k, r.lm_score, score)

    def test_separator_byte_in_token_does_not_collide(self, spark):
        """Tokens are whitespace-split, so a token may contain ANY
        non-space byte including \\x01; distinct bigrams ('a\\x01b','c')
        and ('a','b\\x01c') must keep independent counts (round-10
        ADVICE: the old concat key conflated them)."""
        from apache_spark_streaming_project_spark.operators.text import (
            bigram_lm_score,
        )

        docs = [
            (0, "a\x01b c"),
            (1, "a b\x01c"),
            (2, "a\x01b c"),  # only doc 0's bigram repeats
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r.doc_id: r
            for r in bigram_lm_score(df, "doc_id", "text").collect()
        }
        want = self._reference(docs)
        for k, (nb, sbc, slc, v, score) in want.items():
            r = got[k]
            assert (r.n_bigrams, r.sum_bigram_count, r.sum_left_count) == (
                nb,
                sbc,
                slc,
            ), k
            assert abs(r.lm_score - score) < 1e-12
        # the decisive counts: ('a\x01b','c') occurs twice, ('a','b\x01c') once
        assert got[0].sum_bigram_count == 2
        assert got[1].sum_bigram_count == 1
        assert got[0].lm_score != got[1].lm_score

    def test_fluent_scores_above_rare(self, spark):
        from apache_spark_streaming_project_spark.operators.text import (
            bigram_lm_score,
        )

        docs = [(i, "the cat sat on the mat") for i in range(8)]
        docs.append((100, "qq zx mat cat vv on"))  # same vocab, odd order
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r.doc_id: r.lm_score
            for r in bigram_lm_score(df, "doc_id", "text").collect()
        }
        assert got[0] > got[100]

    def test_deterministic_across_partitionings(self, spark):
        from apache_spark_streaming_project_spark.operators.text import (
            bigram_lm_score,
        )

        docs = [
            (i, f"the cat sat on mat {i % 3} and the dog ran {i % 5}")
            for i in range(50)
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        one = {
            r.doc_id: r.lm_score
            for r in bigram_lm_score(df.coalesce(1), "doc_id", "text").collect()
        }
        many = {
            r.doc_id: r.lm_score
            for r in bigram_lm_score(
                df.repartition(16), "doc_id", "text"
            ).collect()
        }
        assert one == many  # ordered fold: bit-identical, not just close


class TestPerplexityBuckets:
    """CCNet head/middle/tail bucketing over the corpus bigram LM:
    per-doc assignment pinned to an independent Python reference
    (rank thirds, DESC score, doc_id tie-break) on a score-separated
    corpus."""

    # two languages, score-separated by construction: repeated fluent
    # docs rank above one-off scrambles under the corpus's own LM
    DOCS = (
        [(i, "en", "the cat sat on the mat and the dog ran") for i in range(4)]
        + [(10 + i, "en", f"odd words {i} go here now then") for i in range(3)]
        + [(20, "en", "zz qq vv xx yy ww")]
        + [(30 + i, "fr", "le chat est dans la maison") for i in range(3)]
        + [(40, "fr", "mx nx ox px qx rx")]
    )

    def _reference(self, docs, k=3, alpha=0.5):
        import math
        from collections import Counter

        toks = {d: t.split() for d, _, t in docs}
        pairs = {
            d: [(ts[i], (ts[i], ts[i + 1])) for i in range(len(ts) - 1)]
            for d, ts in toks.items()
            if len(ts) >= 2
        }
        cbg = Counter(bg for ps in pairs.values() for _, bg in ps)
        cw1 = Counter(w1 for ps in pairs.values() for w1, _ in ps)
        v = len({t for ts in toks.values() for t in ts})
        score = {
            d: sum(
                math.log((cbg[bg] + alpha) / (cw1[w1] + alpha * v))
                for w1, bg in ps
            )
            / len(ps)
            for d, ps in pairs.items()
        }
        lang = {d: lg for d, lg, _ in docs}
        out = {}
        for lg in sorted({*lang.values()}):
            members = sorted(
                (d for d in score if lang[d] == lg),
                key=lambda d: (-score[d], d),
            )
            n = len(members)
            sizes = [n // k + (1 if i < n % k else 0) for i in range(k)]
            pos = 0
            for idx, sz in enumerate(sizes):
                for d in members[pos : pos + sz]:
                    out[d] = idx
                pos += sz
        return out, score

    def test_matches_python_reference(self, spark):
        from apache_spark_streaming_project_spark.operators.text import (
            perplexity_buckets,
        )

        df = spark.createDataFrame(
            self.DOCS, "doc_id long, lang string, text string"
        )
        got = {
            r.doc_id: r
            for r in perplexity_buckets(
                df, "doc_id", "text", lang_col="lang"
            ).collect()
        }
        want, score = self._reference(self.DOCS)
        assert set(got) == set(want)
        names = {0: "head", 1: "middle", 2: "tail"}
        for d, idx in want.items():
            assert got[d].bucket_idx == idx, (d, got[d], idx)
            assert got[d].bucket == names[idx]
            assert abs(got[d].lm_score - score[d]) < 1e-12

    def test_derived_language_and_ordering(self, spark):
        from apache_spark_streaming_project_spark.operators.text import (
            perplexity_buckets,
        )

        df = spark.createDataFrame(
            self.DOCS, "doc_id long, lang string, text string"
        )
        # lang_col=None derives the language in-plan (stopword argmax)
        rows = perplexity_buckets(df, "doc_id", "text").collect()
        assert {r.lang for r in rows} <= {"en", "fr", "und"}
        # within every (lang, bucket) frontier: head min >= middle max etc.
        by = {}
        for r in rows:
            by.setdefault((r.lang, r.bucket_idx), []).append(r.lm_score)
        for (lg, idx), scores in by.items():
            nxt = by.get((lg, idx + 1))
            if nxt:
                assert min(scores) >= max(nxt)

    def test_rejects_bad_bucket_count(self, spark):
        import pytest as _pytest

        from apache_spark_streaming_project_spark.operators.text import (
            perplexity_buckets,
        )

        df = spark.createDataFrame(
            [(0, "en", "a b")], "doc_id long, lang string, text string"
        )
        with _pytest.raises(ValueError, match="n_buckets"):
            perplexity_buckets(df, "doc_id", "text", n_buckets=1)


def test_gopher_df_form_equals_column_form(spark):
    """gopher_quality_flags_df (arrays materialized once; ~1.5x faster,
    BASELINE-measured) must produce the identical struct to the
    single-Column form on every adversarial shape."""
    from apache_spark_streaming_project_spark.operators.text import (
        gopher_quality_flags,
        gopher_quality_flags_df,
    )

    rows = [
        (0, " ".join(["the of and that have with be to word here"] * 8)),
        (1, "- a\n- b\n- c\nshort"),
        (2, "ends with dots...\nand more…\nplain"),
        (3, ""),
        (4, "# " * 40),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    via_col = df.select(
        "doc_id", gopher_quality_flags("text").alias("flags")
    )
    via_df = gopher_quality_flags_df(df, "text").select("doc_id", "flags")
    assert via_col.exceptAll(via_df).count() == 0
    assert via_df.exceptAll(via_col).count() == 0
    # keep_arrays exposes the materialized arrays for derived metrics
    kept = gopher_quality_flags_df(df, "text", keep_arrays=True)
    assert "__toks" in kept.columns and "__lines" in kept.columns
    # chaining onto a keep_arrays result (or an out_col that already
    # exists) must fail loudly, not produce ambiguous duplicates
    import pytest as _pytest

    with _pytest.raises(ValueError, match="__toks"):
        gopher_quality_flags_df(kept, "text")
    with _pytest.raises(ValueError, match="flags"):
        gopher_quality_flags_df(
            gopher_quality_flags_df(df, "text"), "text"
        )


def test_gopher_repetition_hand_computed(spark):
    """gopher_repetition_flags_df against fully hand-computed expected
    integers on adversarial shapes: pure alternation (overlapping top
    n-grams), all-distinct tokens, duplicated lines, the empty document,
    and a sentence repeated with period 7 (every 5..7-gram duplicated,
    no 8..10-gram — the overlap-aware island merge must count each
    token position once)."""
    from apache_spark_streaming_project_spark.operators.text import (
        gopher_repetition_flags_df,
    )

    rows = [
        (1, "a b a b a b"),
        (2, "x y z w v u t s r q p o"),
        (3, "hello world\nhello world\nbye"),
        (4, ""),
        (5, "the cat sat on the mat here the cat sat on the mat here"),
        (6, "para one\n\npara one\n\npara two"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in gopher_repetition_flags_df(df).collect()
    }

    # doc 1: "a b" x3. top2 = 3 occurrences x 2 token chars; top4
    # "a b a b" occurs twice (overlapping) = 2 x 4; nothing >= 5 repeats
    d1 = got[1]
    assert (d1["n_tokens"], d1["total_chars"]) == (6, 6)
    assert d1["top_2gram_chars"] == 6
    assert d1["top_3gram_chars"] == 6  # tie: "a b a" before "b a b"
    assert d1["top_4gram_chars"] == 8
    assert d1["dup_5gram_chars"] == 0
    assert not d1["flags"]["top_2gram_ok"]

    # doc 2: all distinct — every top gram is a single occurrence
    d2 = got[2]
    assert d2["top_2gram_chars"] == 2
    assert d2["dup_lines"] == 0 and d2["dup_5gram_chars"] == 0

    # doc 3: one duplicated 11-char line of three
    d3 = got[3]
    assert (d3["n_lines"], d3["dup_lines"]) == (3, 1)
    assert (d3["line_chars"], d3["dup_line_chars"]) == (25, 11)
    assert not d3["flags"]["dup_line_frac_ok"]  # 1/3 > 30%
    assert d3["top_2gram_chars"] == 20  # "hello world" x2, 10 chars

    # doc 4: empty — all zero, all flags pass (0 <= 0)
    d4 = got[4]
    assert d4["total_chars"] == 0 and d4["n_lines"] == 0
    assert all(d4["flags"].asDict().values())

    # doc 5: period-7 repeat, 14 tokens / 42 chars: every 5..7-gram at
    # pos i equals pos i+7 -> islands [1,7]+[8,14] cover ALL chars;
    # at n=8 the window outgrows the period -> zero
    d5 = got[5]
    for n in (5, 6, 7):
        assert d5[f"dup_{n}gram_chars"] == 42, n
        assert not d5["flags"][f"dup_{n}gram_ok"]
    for n in (8, 9, 10):
        assert d5[f"dup_{n}gram_chars"] == 0, n

    # doc 6: duplicated paragraph (8 chars each), 2 dup of 3 units --
    # NOTE lines and paragraphs coincide here except the separator
    d6 = got[6]
    assert (d6["n_paras"], d6["dup_paras"]) == (3, 1)
    assert (d6["para_chars"], d6["dup_para_chars"]) == (24, 8)
    assert not d6["flags"]["dup_para_frac_ok"]  # 1/3 > 30%


def test_gopher_repetition_python_reference(spark):
    """Independent row-at-a-time Python reference (Counter + interval
    union over character-weighted token positions) must agree with the
    distributed plan on every integer for a randomized corpus."""
    import random
    from collections import Counter

    from apache_spark_streaming_project_spark.operators.text import (
        gopher_repetition_flags_df,
    )

    rng = random.Random(42)
    vocab = ["alpha", "bb", "c", "dddd", "ee", "fff", "gg", "hhhhh"]
    rows = []
    for i in range(30):
        n = rng.randint(0, 40)
        toks = [rng.choice(vocab) for _ in range(n)]
        # inject a run repeat in a third of docs
        if i % 3 == 0 and n >= 12:
            toks[6:12] = toks[0:6]
        lines = []
        while toks:
            k = rng.randint(1, 6)
            lines.append(" ".join(toks[:k]))
            toks = toks[k:]
        sep = ["\n", "\n\n"]
        text = ""
        for j, ln in enumerate(lines):
            text += ln + (sep[j % 2] if j < len(lines) - 1 else "")
        rows.append((i, text))

    def ref(text):
        ts = [t for t in text.split() if t]
        total = sum(len(t) for t in ts)
        out = {"n_tokens": len(ts), "total_chars": total}
        for name, sepstr in (("line", "\n"), ("para", "\n\n")):
            units = [u.strip() for u in text.split(sepstr)]
            units = [u for u in units if u]
            seen = set()
            dup_n = dup_c = 0
            for u in units:
                if u in seen:
                    dup_n += 1
                    dup_c += len(u)
                else:
                    seen.add(u)
            out[f"n_{name}s"] = len(units)
            out[f"dup_{name}s"] = dup_n
            out[f"{name}_chars"] = sum(len(u) for u in units)
            out[f"dup_{name}_chars"] = dup_c
        for n in (2, 3, 4):
            grams = [
                " ".join(ts[i : i + n]) for i in range(len(ts) - n + 1)
            ]
            if not grams:
                out[f"top_{n}gram_chars"] = 0
                continue
            cnt = Counter(grams)
            best = max(
                cnt.items(),
                key=lambda kv: (kv[1], len(kv[0]) - (n - 1), _neg(kv[0])),
            )
            out[f"top_{n}gram_chars"] = best[1] * (len(best[0]) - (n - 1))
        for n in range(5, 11):
            grams = [
                " ".join(ts[i : i + n]) for i in range(len(ts) - n + 1)
            ]
            cnt = Counter(grams)
            covered = set()
            for i, g in enumerate(grams):
                if cnt[g] >= 2:
                    covered.update(range(i, i + n))
            out[f"dup_{n}gram_chars"] = sum(len(ts[p]) for p in covered)
        return out

    def _neg(s):
        # max() needs an inverted string key for the ASC tie-break
        return [-ord(ch) for ch in s]

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in gopher_repetition_flags_df(df).collect()
    }
    for i, text in rows:
        expected = ref(text)
        actual = {k: got[i][k] for k in expected}
        assert actual == expected, f"doc {i}: {actual} != {expected}"


def test_remove_duplicate_spans_hand_computed(spark):
    """remove_duplicate_spans: cross-doc shared 6-gram removal (case-
    insensitive identity, original-case rebuild), within-doc period
    repeats (occurrence count, not document frequency), untouched docs,
    and the empty doc."""
    from apache_spark_streaming_project_spark.operators.text import (
        remove_duplicate_spans,
    )

    rows = [
        (1, "The quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over a different ending"),
        (3, "x1 x2 x3 x4 x5 x6 x1 x2 x3 x4 x5 x6"),
        (4, "totally unique words here only once appearing"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in remove_duplicate_spans(df, n=6).collect()
    }
    # docs 1+2 share the lowercased 6-gram "the quick brown fox jumps
    # over" -> positions 1..6 drop in BOTH; doc 1 keeps its second
    # (lowercase) "the" because rebuild uses ORIGINAL tokens
    assert got[1] == {
        "doc_id": 1, "n_tokens": 9, "kept_tokens": 3,
        "text": "the lazy dog",
    }
    assert got[2] == {
        "doc_id": 2, "n_tokens": 9, "kept_tokens": 3,
        "text": "a different ending",
    }
    # within-doc period-6 repeat: gram p1 == p7 -> islands [1,6]+[7,12]
    assert got[3] == {
        "doc_id": 3, "n_tokens": 12, "kept_tokens": 0, "text": "",
    }
    assert got[4]["kept_tokens"] == 7
    assert got[4]["text"] == rows[3][1]
    assert got[5] == {
        "doc_id": 5, "n_tokens": 0, "kept_tokens": 0, "text": "",
    }


def test_remove_duplicate_spans_python_reference(spark):
    """Randomized corpus vs an independent Python reference (Counter
    over lowercased grams + positional mark-and-sweep)."""
    import random

    from apache_spark_streaming_project_spark.operators.text import (
        remove_duplicate_spans,
    )

    rng = random.Random(7)
    vocab = ["Apple", "banana", "Cherry", "date", "Elder", "fig", "grape"]
    n = 4
    rows = []
    shared = ["copy", "me", "exactly", "four", "times", "ok"]
    for i in range(25):
        toks = [rng.choice(vocab) for _ in range(rng.randint(0, 20))]
        if i % 3 == 0:
            at = rng.randint(0, len(toks))
            toks = toks[:at] + shared + toks[at:]
        rows.append((i, " ".join(toks)))

    from collections import Counter

    def ref(all_texts, text):
        cnt = Counter()
        for t in all_texts:
            ts = [w.lower() for w in t.split()]
            for j in range(len(ts) - n + 1):
                cnt[" ".join(ts[j : j + n])] += 1
        ts_orig = text.split()
        ts_low = [w.lower() for w in ts_orig]
        drop = set()
        for j in range(len(ts_low) - n + 1):
            if cnt[" ".join(ts_low[j : j + n])] >= 2:
                drop.update(range(j, j + n))
        kept = [t for p, t in enumerate(ts_orig) if p not in drop]
        return len(ts_orig), len(kept), " ".join(kept)

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in remove_duplicate_spans(df, n=n).collect()
    }
    texts = [t for _, t in rows]
    for i, text in rows:
        nt, kt, out = ref(texts, text)
        g = got[i]
        assert (g["n_tokens"], g["kept_tokens"], g["text"]) == (
            nt, kt, out,
        ), i


def test_tokens_vertical_tab_matches_duckdb(spark):
    """\\x0B pin (round-11 ADVICE item 3): Java's \\s includes vertical
    tab, RE2/DuckDB's does not. tokens() splits on the explicit class
    WS_PATTERN, so a \\x0B byte is a TOKEN CHARACTER on both engines —
    assert the Spark token array equals DuckDB's \\s+ split exactly."""
    import duckdb

    raw = "alpha\x0bbeta gamma\tdelta\x0b \x0bepsilon"
    df = spark.createDataFrame([(raw,)], ["text"])
    got = df.select(tx.tokens("text").alias("ts")).collect()[0]["ts"]

    con = duckdb.connect()
    ref = con.execute(
        r"""
        SELECT list_filter(string_split_regex(trim(?), '\s+'),
                           t -> t <> '') AS ts
        """,
        [raw],
    ).fetchone()[0]
    con.close()
    assert got == ref == ["alpha\x0bbeta", "gamma", "delta\x0b", "\x0bepsilon"]


def test_chunk_by_token_budget_edges(spark):
    """Token-budget chunking arithmetic: remainder last chunk, exact
    multiple (no phantom empty chunk), sub-budget doc (one chunk),
    zero tokens (no rows), NULL count folded to zero."""
    df = spark.createDataFrame(
        [(1, 70), (2, 64), (3, 10), (4, 0), (5, None)],
        "doc_id long, n long",
    )
    out = sorted(
        map(
            tuple,
            tx.chunk_by_token_budget(df, "n", 32).select(
                "doc_id", "chunk_id", "chunk_start", "chunk_tokens"
            ).collect(),
        )
    )
    assert out == [
        (1, 0, 1, 32), (1, 1, 33, 32), (1, 2, 65, 6),   # remainder 6
        (2, 0, 1, 32), (2, 1, 33, 32),                   # exact multiple
        (3, 0, 1, 10),                                   # sub-budget
        # doc 4 (zero) and doc 5 (NULL) produce no chunks
    ]
