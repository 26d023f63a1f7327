"""Mutation audit of the oracle gate (round-10 VERDICT item 1).

The registry's headline claim — N/N queries hash-green against DuckDB —
is only as strong as the gate's SENSITIVITY: several mirrors are
identical-transform twins where a shared misunderstanding would hash
green. This tool measures the gate's kill-rate directly: for a sample of
queries spanning every family, apply ONE semantic mutation to the Spark
side (flip a boundary, drop a filter, swap a join type, off-by-one a
window frame), re-run the driver-contract comparison (row-count + sorted
schema + order-insensitive value hash, identical to
``tools/oracle_check.py``), and record whether the gate REDDENS.

Mechanics: each mutation is an exact-match text edit applied to a source
file (asserted unique before applying, restored in ``finally``); the
package modules are purged from ``sys.modules`` and re-imported so the
mutated code is what runs. One Spark session and one DuckDB connection
are reused across all mutations — a full audit is minutes, not hours.

A mutation can be marked ``probe=True``: a deliberately *weak* mutation
(e.g. dropping a tie-break the fixture never exercises) included to map
where the FIXTURE, not the comparator, bounds sensitivity. Probes do not
count against the kill rate but are reported.

Usage:
    python tools/mutation_audit.py [sf_dir] [mutation_id ...]
    # default sf_dir /root/testdata/sf0.01, all mutations
    python tools/mutation_audit.py --check   # static catalog check

Any other argument exits 2 before Spark starts.

Output: one line per mutation (KILLED <how> / SURVIVED), a summary
matrix, and ``tools/mutation_audit_results.json``. A run of named
mutations replaces only their entries in that file.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tools"))

from oracle_check import TABLES, value_hash  # noqa: E402

PKG = "apache_spark_streaming_project_spark"
# Held (with the writer's PID) while a full audit is mutating sources in
# place, so the static --check cannot race it and report false STALEs
# (round-11 review finding — reproduced live during a concurrent run).
LOCK = REPO / "tools" / ".mutation_audit.lock"


def _audit_in_progress() -> bool:
    if not LOCK.exists():
        return False
    try:
        pid = int(LOCK.read_text().strip())
        os.kill(pid, 0)
    except PermissionError:
        return True  # process exists, owned by someone else
    except (ValueError, ProcessLookupError):
        LOCK.unlink(missing_ok=True)  # stale lock from a crashed run
        return False
    # PID is alive — but a stranded lock whose PID got recycled must not
    # suppress the staleness gate forever, so verify the process actually
    # IS a mutation audit (round-12 ADVICE: lock-PID recycling).
    try:
        cmdline = Path(f"/proc/{pid}/cmdline").read_bytes().replace(
            b"\0", b" "
        ).decode(errors="replace")
    except OSError:
        return True  # no /proc (non-linux) — keep the conservative answer
    if "mutation_audit" in cmdline:
        return True
    LOCK.unlink(missing_ok=True)  # recycled PID — stale lock
    return False


def M(mid, query, file, old, new, kind, note="", probe=False):
    return dict(
        id=mid, query=query, file=file, old=old, new=new, kind=kind,
        note=note, probe=probe,
    )


# The one publish line every foreachBatch body shares: a mutation to it is
# run once per registration that publishes through it.
_PUBLISH_KEY = 'os.path.join(root, f"batch={int(batch_id)}")'
_PUBLISH_KEY_0 = 'os.path.join(root, "batch=0")'


# ---------------------------------------------------------------------------
# The mutation sample. One semantic mutation each; `old` must occur exactly
# once in `file`. Kinds follow the VERDICT taxonomy: boundary, dropped
# filter/clause, swapped join/agg, off-by-one, wrong-key, constant.
# ---------------------------------------------------------------------------
MUTATIONS = [
    # ----- S family: enrichment bucketing, z-score, exact aggregates -----
    M("s21_bucket_boundary", "s21_quantity_bucket_counts",
      f"{PKG}/operators/enrich.py",
      '.when(c < 25, "Q2 (10-24)")', '.when(c < 26, "Q2 (10-24)")',
      "boundary", "quantity bucket edge 25 -> 26"),
    M("s20_bucket_boundary", "s20_totalprice_bucket_counts",
      f"{PKG}/operators/enrich.py",
      '.when(c < 150_000, "Mid (50K-150K)")',
      '.when(c <= 150_000, "Mid (50K-150K)")',
      "boundary", "totalprice bucket < -> <= (round-11: planted row at "
      "exactly 150000.0 makes the edge load-bearing)"),
    M("s13_drop_abs", "s13_value_zscore_anomalies",
      f"{PKG}/operators/anomaly.py",
      'z = F.abs((F.col(value_col) - F.col("_mu")) / F.col("_sigma"))',
      'z = (F.col(value_col) - F.col("_mu")) / F.col("_sigma")',
      "dropped-clause", "one-sided z-score: events.value is nonnegative "
      "so the natural negative tail is empty, but the round-12 planted "
      "sentinel (event_id -1, value -500, z ~ -11, mirrored in the "
      "oracle) sits squarely in it — dropping abs loses the row "
      "(row-count kill; was a designed-slack probe through round 11)"),
    M("s19_population_stddev", "s19_lineitem_summary",
      f"{PKG}/functions/exact.py",
      '(nd * sqd - sd * sd) / (nd * (nd - F.lit(1.0))), F.lit(0.0)',
      '(nd * sqd - sd * sd) / (nd * nd), F.lit(0.0)',
      "swapped-agg", "sample stddev -> population stddev"),
    M("s25_count_off_by_one", "s25_priority_stats",
      f"{PKG}/entry_queries.py",
      'stddev_exact("o_totalprice", out_alias="stddev_total"),\n            F.count("*").alias("n_orders"),',
      'stddev_exact("o_totalprice", out_alias="stddev_total"),\n            (F.count("*") - F.lit(1)).alias("n_orders"),',
      "off-by-one", "grouped count off by one"),

    # ----- D family: read-side query shapes -----
    M("d1_window_8days", "d1_trailing_window_counts",
      f"{PKG}/entry_queries.py",
      'trailing_window(base, "ts", "7 DAY")',
      'trailing_window(base, "ts", "8 DAY")',
      "constant", "trailing window widened 7 -> 8 days"),
    M("d1_boundary_gt", "d1_trailing_window_counts",
      f"{PKG}/operators/readside.py",
      '.filter(F.col(ts_col) >= F.col("_cutoff"))',
      '.filter(F.col(ts_col) > F.col("_cutoff"))',
      "boundary", ">= -> > at the cutoff instant (round-11: sentinel "
      "event planted exactly at the cutoff)"),
    M("d7_grand_total_window", "d7_percent_of_group",
      f"{PKG}/operators/readside.py",
      'w = Window.partitionBy(group_col)\n    total = F.sum(count_col).over(w)',
      'w = Window.partitionBy()\n    total = F.sum(count_col).over(w)',
      "wrong-key", "percent-of-group -> percent-of-grand-total"),
    M("d8_second_latest", "d8_latest_event_per_user",
      f"{PKG}/operators/readside.py",
      'df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")',
      'df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 2).drop("_rn")',
      "off-by-one", "latest-per-group -> second-latest"),
    M("d13_k_minus_one", "d13_top_users_by_value",
      f"{PKG}/operators/readside.py",
      'return df.orderBy(*order_cols).limit(k)',
      'return df.orderBy(*order_cols).limit(k - 1)',
      "off-by-one", "top-k -> top-(k-1)"),
    M("d13_drop_tiebreak", "d13_top_users_by_value",
      f"{PKG}/entry_queries.py",
      'order = [F.col("total_value").desc(), F.col("user_id").asc()]',
      'order = [F.col("total_value").desc()]',
      "dropped-clause", "tie-break dropped (round-11: three planted users "
      "tie exactly at the rank-10 total, so the k-boundary pick without "
      "the tie-break admits a planted id)"),
    M("d15_rank_shift", "d15_bucket_rank",
      f"{PKG}/operators/readside.py",
      'expr = F.when(c == labels[i], i).otherwise(expr)',
      'expr = F.when(c == labels[i], i + 1).otherwise(expr)',
      "off-by-one", "categorical ranks shifted by one"),

    # ----- joins / TPC-H -----
    M("j4_anti_to_semi", "j4_anti_join_inactive_customers",
      f"{PKG}/entry_queries.py",
      'return c.join(o, "c_custkey", "left_anti").orderBy("c_custkey")',
      'return c.join(o, "c_custkey", "left_semi").orderBy("c_custkey")',
      "swapped-join", "anti-join -> semi-join (complement set)"),

    # ----- X1/X2: dedup -----
    M("x2_keep_oldest", "x2_latest_version_dedup",
      f"{PKG}/operators/dedup.py",
      'w = Window.partitionBy(*keys).orderBy(*order_cols)\n    return (\n        df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")',
      'w = Window.partitionBy(*keys).orderBy(*order_cols)\n    return (\n        df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 2).drop("_rn")',
      "off-by-one", "latest-version -> second-version"),
    M("x2_shingle_n_minus_one", "x_minhash_lsh_pairs",
      f"{PKG}/operators/dedup.py",
      'F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))',
      'F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n - 1)))',
      "off-by-one", "shingle width n -> n-1: the query is a RECALL "
      "contract (planted pairs stay >= 0.85 Jaccard at either width, "
      "recall stays >= 95%), so survival is the contract's designed "
      "slack; exact shingle content is pinned by pytest instead",
      probe=True),

    # ----- X3: similarity / lexical retrieval -----
    M("x3_cosine_unnormalized", "x3_bruteforce_top10",
      f"{PKG}/functions/vector.py",
      'return F.when(denom > 0, d / denom).otherwise(F.lit(None).cast("double"))',
      'return F.when(denom > 0, d).otherwise(F.lit(None).cast("double"))',
      "dropped-clause", "cosine -> raw dot product (normalization dropped)"),
    M("x3_bm25_k1_bump", "x3_bm25_top10",
      f"{PKG}/operators/lexical.py",
      '_TF_NUM = 22', '_TF_NUM = 23',
      "constant", "BM25 k1 saturation constant perturbed"),

    # ----- X1/X10: dedup / decontamination -----
    M("x1_fp_keep_max", "x1_fingerprint_dedup",
      f"{PKG}/operators/dedup.py",
      'w = Window.partitionBy(h).orderBy(F.col(key_col).asc())',
      'w = Window.partitionBy(h).orderBy(F.col(key_col).desc())',
      "swapped-agg", "dedup survivor min-key -> max-key"),
    M("x10_wrong_split", "x_decontamination",
      f"{PKG}/operators/dedup.py",
      'grams.filter(F.col("_train"))\n        .filter(F.col("gram").isNotNull())\n        .select("gram")\n        .distinct()\n        .withColumn("_hit", F.lit(1))',
      'grams.filter(~F.col("_train"))\n        .filter(F.col("gram").isNotNull())\n        .select("gram")\n        .distinct()\n        .withColumn("_hit", F.lit(1))',
      "wrong-key", "contamination checked against the EVAL split"),

    # ----- X4: text curation -----
    M("x4_reassemble_by_line", "x4_remove_common_lines",
      f"{PKG}/operators/text.py",
      'F.array_sort(F.collect_list(F.struct("pos", "line")))',
      'F.array_sort(F.collect_list(F.struct("line", "pos")))',
      "wrong-key", "line reassembly ordered by text, not position"),
    M("x4_paragraphs_no_dedup", "x4_dedup_paragraphs",
      f"{PKG}/operators/text.py",
      'return F.array_join(F.array_distinct(F.split(x, sep)), sep)',
      'return F.array_join(F.split(x, sep), sep)',
      "dropped-clause", "paragraph dedup dropped entirely"),
    M("x4_gopher_wordcount_51", "x4_gopher_flags",
      f"{PKG}/operators/text.py",
      '((n_words >= 50) & (n_words <= 100_000)).alias("word_count_ok")',
      '((n_words >= 51) & (n_words <= 100_000)).alias("word_count_ok")',
      "boundary", "Gopher min word count 50 -> 51"),

    # ----- X5: multimodal -----
    M("x5_feature_mass_off", "x5_image_features",
      f"{PKG}/operators/multimodal.py",
      'None if h is None else [c / max(sum(h), 1) for c in h]',
      'None if h is None else [c / max(sum(h) + 1, 1) for c in h]',
      "off-by-one", "feature normalization mass off by one: the float "
      "feature column is OUTSIDE the hash by the float-exclusion "
      "design (only integer hist bins are mirrored); pinned by "
      "test_multimodal_real sum==1.0 tests (both modes)", probe=True),

    # ----- X6: semantic dedup -----
    M("x6_semantic_threshold", "x_semantic_dedup",
      f"{PKG}/entry_queries.py",
      'threshold=0.95,', 'threshold=0.45,',
      "constant", "semantic-dup cosine threshold 0.95 -> 0.45 "
      "(below the isotropic originals' ~0.5 max non-self cosine)"),

    # ----- X9: profiling -----
    M("x9_histogram_ceil", "x_histogram",
      f"{PKG}/operators/profile.py",
      'F.floor((x - F.lit(float(lo))) / F.lit(width)),',
      'F.ceil((x - F.lit(float(lo))) / F.lit(width)),',
      "swapped-agg", "histogram bucket floor -> ceil"),

    # ----- X11: sketches -----
    M("x11_mg_overcompact", "x11_heavy_hitters",
      f"{PKG}/operators/mergeable.py",
      'vc = vc - int(vc.iloc[candidates])  # MG compaction',
      'vc = vc - int(vc.iloc[candidates - 1])  # MG compaction',
      "off-by-one", "Misra-Gries decrement uses the c-th largest: "
      "bound_ok encodes the WORST-CASE MG bound, which has slack on "
      "this data, so the gate cannot see the over-decrement; killed at "
      "unit level by test_misra_gries_decrement_is_exact", probe=True),
    M("x11_kmv_k_off", "x11_kmv_overlap",
      f"{PKG}/operators/mergeable.py",
      'distinct.withColumn("_rk", F.row_number().over(w))\n        .filter(F.col("_rk") <= k)',
      'distinct.withColumn("_rk", F.row_number().over(w))\n        .filter(F.col("_rk") <= k - 1)',
      "off-by-one", "KMV keeps k-1 hashes: estimates shift within the "
      "query's tolerance contract (exact counts are computed "
      "independently), so survival maps the contract's designed slack",
      probe=True),

    # ----- streaming -----
    M("m3_wrong_group_key", "m3_streaming_parity",
      f"{PKG}/operators/aggregates.py",
      '"work_hours": (("work_hours_category",), ("count",)),',
      '"work_hours": (("age_group",), ("count",)),',
      "wrong-key", "work-hours grouping set on the wrong column"),
    M("m13_merge_keeps_dups", "m13_streaming_kmv",
      f"{PKG}/operators/mergeable.py",
      'sketches.select(*group_cols, "hv")\n        .distinct()\n        .withColumn("_rk", F.row_number().over(w))',
      'sketches.select(*group_cols, "hv")\n        .withColumn("_rk", F.row_number().over(w))',
      "dropped-clause", "sketch merge keeps duplicate hashes across epochs"),

    # ----- TPC-H -----
    M("tpch_q6_qty_25", "sql_tpch_q6",
      f"{PKG}/entry_queries.py",
      '& (F.col("l_quantity") < 24)',
      '& (F.col("l_quantity") < 25)',
      "boundary", "Q6 quantity predicate 24 -> 25"),

    # ----- X7: sampling / layout -----
    M("x7_zorder_concat", "x7_zorder_clustering",
      f"{PKG}/operators/layout.py",
      'z = z.bitwiseOR(F.shiftleft(bit, i * n + j))',
      'z = z.bitwiseOR(F.shiftleft(bit, j * bits + i))',
      "wrong-key", "Morton interleave -> per-column bit concatenation"),

    M("x7_stratified_off_by_one", "x_stratified_sample",
      f"{PKG}/operators/sampling.py",
      '.filter(F.col("_rn") <= n_per_stratum)',
      '.filter(F.col("_rn") < n_per_stratum)',
      "boundary", "n per stratum -> n-1"),
    M("x7_split_salt", "x_hash_split_contract",
      f"{PKG}/operators/sampling.py",
      'bucket = F.pmod(F.xxhash64(F.col(key_col), F.lit(salt)), F.lit(buckets))',
      'bucket = F.pmod(F.xxhash64(F.col(key_col), F.lit(salt + "x")), F.lit(buckets))',
      "constant", "split hash salt perturbed: assignments are not "
      "SQL-mirrorable (DuckDB has no xxhash64), so the oracle checks "
      "the contract only; killed at unit level by the golden "
      "assignments in test_hash_split_partition_properties", probe=True),
    M("x7_quota_ceil", "x7_mixture_resample",
      f"{PKG}/operators/sampling.py",
      'F.floor(\n                F.lit(total_rows) * F.col("weight") / F.col("_sw")\n            ).cast("int")',
      'F.ceil(\n                F.lit(total_rows) * F.col("weight") / F.col("_sw")\n            ).cast("int")',
      "swapped-agg", "mixture quota floor -> ceil"),

    # ----- round-10 registration: Gopher repetition battery -----
    M("x4_rep_interval_end", "x4_gopher_repetition",
      f"{PKG}/operators/text.py",
      'end = p + F.lit(n - 1)',
      'end = p + F.lit(n)',
      "off-by-one", "duplicate-gram coverage window end pos+n-1 -> "
      "pos+n (every covered span eats one extra token)"),
    M("x4_rep_dup_threshold", "x4_gopher_repetition",
      f"{PKG}/operators/text.py",
      'F.when(\n                                        i > 0,\n                                        F.element_at(sg, i)["g"] == s["g"],\n                                    )',
      'F.when(\n                                        i > 1,\n                                        F.element_at(sg, i)["g"] == s["g"],\n                                    )',
      "boundary", "sorted-neighbor duplicate detection: prev-neighbor "
      "guard off by one (element at sorted slot 1 loses its only "
      "equal-prev witness)"),
    M("x4_rep_tiebreak", "x4_gopher_repetition",
      f"{PKG}/operators/text.py",
      'better = (cur_c > acc["best_c"]) | (\n                    (cur_c == acc["best_c"]) & (w > acc["best_w"])\n                )',
      'better = (cur_c > acc["best_c"]) | (\n                    (cur_c == acc["best_c"]) & (w >= acc["best_w"])\n                )',
      "swapped-agg", "top-gram tie-break: strict-improvement keeps the "
      "lexicographically smaller run (ASC); >= hands ties to the later "
      "= larger gram (the DESC flip)", probe=True),
    M("x4_rds_inverted_keep", "x4_remove_duplicate_spans",
      f"{PKG}/operators/text.py",
      'kept_idx = F.array_except(pos_idx, covered)',
      'kept_idx = F.array_except(pos_idx, F.array_except(pos_idx, covered))',
      "dropped-clause", "keep-filter inverted on the LINEARIZED rebuild "
      "(set intersection instead of set difference): the rebuilt text "
      "keeps only the duplicated spans instead of dropping them"),
    M("x4_rds_island_end", "x4_remove_duplicate_spans",
      f"{PKG}/operators/text.py",
      '(F.col("_pos") + (n - 1)).alias("_e"),',
      '(F.col("_pos") + n).alias("_e"),',
      "off-by-one", "duplicated-span interval end pos+n-1 -> pos+n "
      "(every removal eats one extra token)"),

    # ----- rank composition (round-11: partitioned_global_ranks) -----
    M("rank_prefix_off_by_one", "s_rank_distributions_partitioned",
      f"{PKG}/operators/rank.py",
      'wpre = Window.orderBy(_B).rowsBetween(Window.unboundedPreceding, -1)',
      'wpre = Window.orderBy(_B).rowsBetween(Window.unboundedPreceding, Window.currentRow)',
      "off-by-one", "prefix offset includes own bucket: every global "
      "rank past bucket 0 shifts by its bucket's size"),
    M("rank_peers_drop_tiebreaks", "s_rank_distributions_partitioned",
      f"{PKG}/operators/rank.py",
      '.withColumn("_rk_lcume", F.col("_rk_lrn"))',
      '.withColumn("_rk_lcume", F.max("_rk_lrn").over(Window.partitionBy(_B, value_col)))',
      "wrong-key", "peer group defined on value only instead of the "
      "full (total) order key — the exact bug the first draft of the "
      "operator had (cume_dist inflates wherever totalprice ties)"),
    M("rank_dense_offset_uses_count", "s_rank_partitioned_ties",
      f"{PKG}/operators/rank.py",
      'dense = (F.col("_rk_doff") + F.col("_rk_ldr")).alias("dense_rank")',
      'dense = (F.col("_rk_off") + F.col("_rk_ldr")).alias("dense_rank")',
      "wrong-key", "dense_rank offset uses row counts instead of "
      "distinct-key counts — composes wrong wherever a bucket holds ties"),

    # ----- ORACLE-side mutations: mutate the DuckDB SQL instead of the
    # Spark plan. Kills here prove the comparison actually consults the
    # mirror's output — the symmetric half of the identical-chain-mirror
    # concern (a gate whose oracle side were dead would survive these).
    M("oracle_rep_dup_threshold", "x4_gopher_repetition",
      f"{PKG}/entry_queries.py",
      'FROM counts WHERE n >= 5 AND cnt >= 2',
      'FROM counts WHERE n >= 5 AND cnt >= 3',
      "boundary", "MIRROR-side duplicate threshold 2 -> 3"),
    M("oracle_rds_threshold", "x4_remove_duplicate_spans",
      f"{PKG}/entry_queries.py",
      'GROUP BY gram HAVING count(*) >= 2',
      'GROUP BY gram HAVING count(*) >= 3',
      "boundary", "MIRROR-side duplicate-span threshold 2 -> 3"),
    M("oracle_ntile_arith", "x4_perplexity_buckets",
      f"{PKG}/entry_queries.py",
      'CAST(n // 3 + CASE WHEN bucket_idx < n % 3 THEN 1 ELSE 0 END\n                AS BIGINT) AS n_docs',
      'CAST(n // 3 + CASE WHEN bucket_idx <= n % 3 THEN 1 ELSE 0 END\n                AS BIGINT) AS n_docs',
      "boundary", "MIRROR-side ntile count arithmetic < -> <="),
    M("oracle_strip_html_pad", "x4_strip_html",
      f"{PKG}/entry_queries.py",
      'x = f"regexp_replace({x}, \'(?s)<[^>]+>\', \' \', \'g\')"',
      'x = f"regexp_replace({x}, \'(?s)<[^>]+>\', \'\', \'g\')"',
      "constant", "MIRROR-side generic-tag replacement \' \' -> \'\' "
      "(the identical-chain mirror the r9 verdict flagged). The FIRST "
      "run SURVIVED: the chain's whitespace-normalization tail masks "
      "pad-vs-empty anywhere a tag is not flush between word chars, and "
      "no fixture site was — fixed by planting flush<em>inline</em>tags "
      "in the wrapped page; kills now"),
    M("oracle_kmv_split", "x11_kmv_overlap",
      f"{PKG}/entry_queries.py",
      'WITH a AS (SELECT DISTINCT text FROM documents WHERE doc_id % 3 < 2),',
      'WITH a AS (SELECT DISTINCT text FROM documents WHERE doc_id % 3 <= 2),',
      "boundary", "MIRROR-side split predicate < -> <= (set a becomes "
      "the whole corpus)"),
    M("oracle_m13_distinct", "m13_streaming_kmv",
      f"{PKG}/entry_queries.py",
      'SELECT CAST(COUNT(DISTINCT CASE WHEN doc_id % 7 = 0',
      'SELECT CAST(COUNT(CASE WHEN doc_id % 7 = 0',
      "dropped-clause", "MIRROR-side DISTINCT dropped from the exact "
      "cardinality. First run SURVIVED: sf0.01 documents.text was "
      "all-distinct, so COUNT == COUNT DISTINCT — fixed by planting one "
      "shared text in every seventh doc (both sides); kills now"),
    M("oracle_rank_cume_to_pct", "s_rank_partitioned_ties",
      f"{PKG}/entry_queries.py",
      'CUME_DIST() OVER (ORDER BY band ASC) AS band_cume',
      'PERCENT_RANK() OVER (ORDER BY band ASC) AS band_cume',
      "swapped-agg", "MIRROR-side cume_dist -> percent_rank (window "
      "mirror family, round-11)"),

    # Round-11 verdict item 7: one oracle-side mutation per remaining
    # mirror FAMILY, so every distinct mirror style has at least one
    # demonstrated mirror-side kill.
    M("oracle_cc_min_to_max", "x_dedup_clusters",
      f"{PKG}/entry_queries.py",
      'MIN(r) AS cluster_id', 'MAX(r) AS cluster_id',
      "swapped-agg", "MIRROR-side recursive-CTE family: connected-"
      "component label min -> max reachable id"),
    M("oracle_top_tokens_k", "x4_top_tokens",
      f"{PKG}/entry_queries.py",
      'ORDER BY count DESC, token ASC\n    LIMIT 20',
      'ORDER BY count DESC, token ASC\n    LIMIT 19',
      "off-by-one", "MIRROR-side unnest-tokenizer family: top-k 20 -> 19"),
    M("oracle_quality_band", "x4_quality_scores",
      f"{PKG}/entry_queries.py",
      '(CASE WHEN mtl >= 3.0 AND mtl <= 10.0 THEN 1.0 ELSE 0.6 END) * 0.3',
      '(CASE WHEN mtl >= 3.0 AND mtl <= 9.0 THEN 1.0 ELSE 0.6 END) * 0.3',
      "boundary", "MIRROR-side list-lambda family: mean-token-length "
      "quality band upper edge 10 -> 9"),
    M("oracle_rrf_qualify_k", "x3_hybrid_rrf",
      f"{PKG}/entry_queries.py",
      'FROM lex_scored QUALIFY rank <= 20',
      'FROM lex_scored QUALIFY rank <= 19',
      "off-by-one", "MIRROR-side lexical candidate pool 20 -> 19 before "
      "fusion. SURVIVES BY DESIGN: a pool edge (k_pool=20) is insulated "
      "from a final top-10 — the rank-20 lexical-only candidate scores "
      "1/(60+20), the fused floor, and cannot enter any query's top-10 "
      "here; the mutation is result-invisible, not gate-invisible. The "
      "load-bearing QUALIFY kill is oracle_rrf_final_qualify_k",
      probe=True),
    M("oracle_rrf_final_qualify_k", "x3_hybrid_rrf",
      f"{PKG}/entry_queries.py",
      'FROM fused QUALIFY rank <= 10',
      'FROM fused QUALIFY rank <= 9',
      "off-by-one", "MIRROR-side QUALIFY family: final fused top-k "
      "10 -> 9 (row-count kill)"),
    M("oracle_quantile_values", "x11_histogram_quantiles",
      f"{PKG}/entry_queries.py",
      '(VALUES (0.25),(0.5),(0.75),(0.9),(0.99)) qs(q)',
      '(VALUES (0.25),(0.5),(0.75),(0.95),(0.99)) qs(q)',
      "constant", "MIRROR-side VALUES-plant family: quantile probe "
      "0.9 -> 0.95"),
    M("oracle_tumbling_interval", "m4_tumbling_windows",
      f"{PKG}/entry_queries.py",
      "date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end",
      "date_trunc('hour', ts) + INTERVAL 2 HOUR AS window_end",
      "constant", "MIRROR-side INTERVAL family: tumbling window_end "
      "+1h -> +2h"),
    M("oracle_minhash_jac_threshold", "x_minhash_lsh_pairs",
      f"{PKG}/entry_queries.py",
      'WHEN jac >= 0.85', 'WHEN jac >= 0.9',
      "boundary", "MIRROR-side shingle/zipped family: eligibility "
      "Jaccard threshold 0.85 -> 0.9"),
    # ----- m14: streaming LSH-indexed dedup (round-11) -----
    # m14, m14b and m19 share one keep-first core
    # (dedup.py:_keep_first_dedup_batch): its index-union line carries
    # one mutation per registration, like _PUBLISH_KEY
    M("m14_no_prior_index", "m14_streaming_lsh_dedup",
      f"{PKG}/operators/dedup.py",
      'idx = prior.unionByName(self_reps)',
      'idx = self_reps',
      "dropped-clause", "persisted band index ignored: cross-epoch "
      "template copies are never candidates, later epochs keep their "
      "duplicates (row-count kill)"),
    M("m14_containment_verify", "m14_streaming_lsh_dedup",
      f"{PKG}/operators/dedup.py",
      'un = F.size(F.array_union(s, rep_s))',
      'un = F.size(s)',
      "wrong-key", "Jaccard denominator |S ∪ R| -> |S|: at m14's t = 1 "
      "verification degrades to one-sided containment, and the "
      "truncated-alpha plants (strict shingle SUBSET of alpha, "
      "deterministically band-colliding) get wrongly dropped"),
    M("oracle_m14_rep_order", "m14_streaming_lsh_dedup",
      f"{PKG}/entry_queries.py",
      'ORDER BY epoch, doc_id) END AS rn',
      'ORDER BY epoch, doc_id DESC) END AS rn',
      "swapped-agg", "MIRROR-side representative pick: first arrival -> "
      "last doc of the first epoch"),
    M("m14b_threshold_exclusive", "m14b_streaming_threshold_dedup",
      f"{PKG}/operators/dedup.py",
      'inter.cast("double") / un.cast("double") >= F.lit(threshold)',
      'inter.cast("double") / un.cast("double") > F.lit(threshold)',
      "off-by-one", "drop comparator >= t -> > t: the planted HALF pair "
      "sits at J = 0.5 EXACTLY (band-collision searched offline), so "
      "doc -8 is wrongly kept (row-count kill)"),
    M("m14b_threshold_lowered", "m14b_streaming_threshold_dedup",
      f"{PKG}/entry_queries.py",
      '_M14B_T = 0.5',
      '_M14B_T = 0.4',
      "off-by-one", "drop threshold 0.5 -> 0.4: the planted SUB pair at "
      "J = 3/7 ~ 0.429 (deterministically band-colliding, so the "
      "comparator is reached) wrongly drops doc -5 (row-count kill)"),
    M("m14b_no_prior_index", "m14b_streaming_threshold_dedup",
      f"{PKG}/operators/dedup.py",
      'idx = prior.unionByName(self_reps)',
      'idx = self_reps',
      "dropped-clause", "persisted band index ignored: cross-epoch "
      "template copies (and the cross-epoch HALF pair) are never "
      "candidates, later epochs keep their near-dups (row-count kill)"),
    M("bpe_marker_dropped", "x4_bpe_packing",
      f"{PKG}/functions/bpe.py",
      'sym = list(word) + [MARKER]',
      'sym = list(word)',
      "dropped-clause", "end-of-word marker omitted: every word loses "
      "its marker symbol and all end-of-word merges no-op — token "
      "counts shift corpus-wide (hash kill; counts are inside the "
      "hash)"),
    M("bpe_chain_truncated", "x4_bpe_packing",
      f"{PKG}/functions/bpe.py",
      'merge_list = list(frozen)\n'
      '        rank_of = rank_table(merge_list)\n'
      '\n'
      '        @lru_cache',
      'merge_list = list(frozen)[:1]\n'
      '        rank_of = rank_table(merge_list)\n'
      '\n'
      '        @lru_cache',
      "dropped-clause", "merge table truncated to rank 1 in the counts "
      "kernel (re-anchored round 13: the kernels moved from the replace "
      "chain to encode_word_fast, making the old chain-loop anchor "
      "inert): counts degrade toward chars+1 per word on all 500 docs "
      "(hash kill)"),
    M("oracle_bpe_rank_order", "x4_bpe_packing",
      f"{PKG}/entry_queries.py",
      'for a, b in load_merges():',
      'for a, b in reversed(load_merges()):',
      "swapped-agg", "MIRROR-side merge RANK ORDER reversed: BPE rank "
      "priority is load-bearing (verified: all 500 doc counts change), "
      "the oracle's replace chain diverges (hash kill)"),
    M("m18_gram_length", "m18_streaming_decontamination",
      f"{PKG}/operators/dedup.py",
      'F.explode_outer(word_shingles("text", n)).alias("gram")',
      'F.explode_outer(word_shingles("text", n - 1)).alias("gram")',
      "off-by-one", "benchmark grams are 8-token but the stream is "
      "shingled at 7: gram counts and membership shift corpus-wide "
      "(hash kill; n_grams/n_contaminated are inside the hash)"),
    M("m18_kept_boundary", "m18_streaming_decontamination",
      f"{PKG}/operators/dedup.py",
      'F.col("n_contaminated") == F.lit(0)',
      'F.col("n_contaminated") <= F.lit(1)',
      "boundary", "single-hit docs wrongly kept: the planted train doc "
      "sharing EXACTLY ONE 8-gram with the eval plant flips kept "
      "(hash kill on a designed single-gram edge)"),
    M("oracle_m18_kept_boundary", "m18_streaming_decontamination",
      f"{PKG}/entry_queries.py",
      'COALESCE(h.n_contaminated, 0) = 0 AS kept',
      'COALESCE(h.n_contaminated, 0) <= 1 AS kept',
      "boundary", "MIRROR-side kept boundary: the oracle keeps the "
      "exactly-one-hit plant the engine drops (the m18 mirror-family "
      "oracle-side kill)"),
    M("m19_threshold_boundary", "m19_streaming_containment_dedup",
      f"{PKG}/operators/dedup.py",
      'inter.cast("double") / ns.cast("double") >= F.lit(threshold)',
      'inter.cast("double") / ns.cast("double") > F.lit(threshold)',
      "boundary", "containment comparator >= -> >: the EDGE_F plant at "
      "C = 3/5 = 0.6 EXACTLY is wrongly kept (row-count kill)"),
    M("m19_denominator_flip", "m19_streaming_containment_dedup",
      f"{PKG}/operators/dedup.py",
      'ns = F.size(s)',
      'ns = F.size(rep_s)',
      "wrong-key", "containment denominator flipped to the EARLIER "
      "doc's gram count — symmetric-ish semantics: the REVERSED plant "
      "pair (PAGE_D after FRAG_C, C = 5/23 keep) flips to 5/5 = 1 "
      "dropped, pinning the asymmetry (row-count kill)"),
    M("m19_intra_batch_arm", "m19_streaming_containment_dedup",
      f"{PKG}/operators/dedup.py",
      'idx = prior.unionByName(self_reps)',
      'idx = prior',
      "dropped-clause", "candidate index loses the same-batch arm: the "
      "intra-epoch plant pair (PAGE_I -> FRAG_J, both epoch 2) stops "
      "band^Wgram-colliding and FRAG_J is wrongly kept (row-count "
      "kill)"),
    M("m19_verify_gram_length", "m19_streaming_containment_dedup",
      f"{PKG}/operators/dedup.py",
      'word_shingles("text", n).alias("_s")',
      'word_shingles("text", n - 1).alias("_s")',
      "off-by-one", "later-doc verify shingled at 7 while the oracle "
      "and the rep side stay at 8: containment ratios shift corpus-"
      "wide (intersection of 7-gram vs 8-gram sets is empty -> nothing "
      "ever drops; row-count kill)"),
    M("oracle_m19_threshold", "m19_streaming_containment_dedup",
      f"{PKG}/entry_queries.py",
      '>= 0.6  -- m19 threshold',
      '> 0.6  -- m19 threshold',
      "boundary", "MIRROR-side containment comparator: the oracle keeps "
      "the exactly-at-threshold EDGE_F plant the engine drops (the m19 "
      "mirror-family oracle-side kill)"),
    M("m20_threshold_sag", "m20_streaming_semantic_dedup",
      f"{PKG}/entry_queries.py",
      '_M20_T = 0.95',
      '_M20_T = 0.70',
      "boundary", "cosine threshold sags to 0.70: every MEDIUM plant "
      "(cos 0.75-0.90, amp 0.12) is wrongly dropped — the family that "
      "pins the threshold VALUE (row-count kill)"),
    M("m20_keep_first_flip", "m20_streaming_semantic_dedup",
      f"{PKG}/operators/dedup.py",
      '& (i[None, :] < i[B][:, None])',
      '& (i[None, :] > i[B][:, None])',
      "wrong-key", "intra-epoch arrival comparator flipped: the EARLY "
      "plant pairs (both epoch 0, plant id < original id) invert — the "
      "original survives and the plant drops; row count ties, value "
      "hash kills (the keep-FIRST direction family)"),
    M("m20_hard_assignment", "m20_streaming_semantic_dedup",
      f"{PKG}/operators/dedup.py",
      '    threshold: float = 0.95,\n    n_assign: int = 2,',
      '    threshold: float = 0.95,\n    n_assign: int = 1,',
      "dropped-clause", "soft top-2 cell assignment degrades to hard: "
      "the Voronoi-face-straddling LATE plants (3 pairs at sf0.01, "
      "measured) stop sharing a cell with their original and are "
      "wrongly kept (row-count kill — the boundary-recall family)"),
    M("oracle_m20_early_family", "m20_streaming_semantic_dedup",
      f"{PKG}/entry_queries.py",
      'WHERE vec_id % 50 = 7',
      'WHERE vec_id % 50 = 11',
      "wrong-key", "MIRROR-side early-plant family re-keyed: the oracle "
      "keeps phantom early plants (and drops the real ones' originals "
      "wrongly); row count ties at 510, value hash kills (the m20 "
      "mirror-family oracle-side kill)"),
    M("m21_threshold_sag", "m21_streaming_drift",
      f"{PKG}/entry_queries.py",
      '_M21_T = (1, 10)',
      '_M21_T = (1, 4)',
      "boundary", "drift threshold rises to 1/4: the planted epoch "
      "(TVD 0.200) stops flagging — drifted flips false on its 20 grid "
      "rows; row count ties at 60, value hash kills"),
    M("m21_unnormalized_cross", "m21_streaming_drift",
      f"{PKG}/operators/profile.py",
      'F.col("n_cur") * F.col("_nr")\n                - F.col("n_ref") * F.col("_nc")',
      'F.col("n_cur")\n                - F.col("n_ref")',
      "wrong-key", "cross-product normalization dropped (raw count "
      "diff instead of n_cur*N_ref - n_ref*N_cur): abs_cross is in the "
      "output, so the hash kills on every row — and the verdict would "
      "silently depend on batch size, the exact bug the symbolic ratio "
      "exists to prevent"),
    M("m21_ref_not_frozen", "m21_streaming_drift",
      f"{PKG}/entry_queries.py",
      'nat = _t(spark, sf_dir, "events").select("value")',
      'nat = _m21_events(spark, sf_dir).select("value")',
      "wrong-key", "reference profile trained on the PLANTED stream "
      "instead of the vetted natural snapshot (the frozen-reference "
      "contract): bucket 19's n_ref inflates on every epoch's grid "
      "rows (hash kill) — a self-referential baseline can never flag "
      "its own drift"),
    M("oracle_m21_threshold", "m21_streaming_drift",
      f"{PKG}/entry_queries.py",
      '(10 * sum_cross >= 2 * nr * nc) AS drifted',
      '(4 * sum_cross >= 2 * nr * nc) AS drifted',
      "boundary", "MIRROR-side drift threshold rises to 1/4: the "
      "oracle stops flagging the planted epoch while the engine still "
      "does (the m21 mirror-family oracle-side kill)"),
    M("m22_per_batch_retrain", "m22_streaming_ann_ingest",
      f"{PKG}/operators/similarity.py",
      '    enc = pq_encode(\n'
      '        batch_df.select(key_col, vec_col), codebooks, key_col, '
      'vec_col\n    )',
      '    enc = pq_encode(\n'
      '        batch_df.select(key_col, vec_col),\n'
      '        pq_train(batch_df, m=len(codebooks), n_centroids=32),\n'
      '        key_col,\n        vec_col,\n    )',
      "wrong-key", "the classic index-corruption bug: codebooks "
      "retrained per micro-batch make every batch's codes undecodable "
      "against the retrieval-side books — the registration's "
      "streamed==re-encode guard raises (loud error kill), which is "
      "the guard's whole job"),
    M("m22_query_degraded", "m22_streaming_ann_ingest",
      f"{PKG}/entry_queries.py",
      'x + 0.005 * F.sin(F.col("vec_id") * 37 + i)',
      'x + 0.5 * F.sin(F.col("vec_id") * 37 + i)',
      "constant", "planted-query perturbation amplitude 0.005 -> 0.5 "
      "(|noise| ~ 2.8x the unit vector): queries no longer resemble "
      "their originals, top-1 scatters; row count ties at 10, value "
      "hash kills — pins that the closed-form oracle is load-bearing "
      "on real retrieval, not on the join shape"),
    M("m22_publish_key_collision", "m22_streaming_ann_ingest",
      f"{PKG}/streaming/batch_store.py", _PUBLISH_KEY, _PUBLISH_KEY_0,
      "wrong-key", "every batch publishes into batch=0: later waves "
      "overwrite earlier codes, the store ends with one wave's rows — "
      "the streamed==re-encode guard raises (loud error kill)"),
    M("oracle_m22_query_set", "m22_streaming_ann_ingest",
      f"{PKG}/entry_queries.py",
      'WHERE vec_id < 10  -- m22 planted queries',
      'WHERE vec_id < 11  -- m22 planted queries',
      "boundary", "MIRROR-side query set widened to 11: oracle emits a "
      "row the engine never retrieves (row-count kill — the m22 "
      "mirror-family oracle-side kill)"),
    M("m23_merge_drops_prior", "m23_streaming_quota_sample",
      f"{PKG}/operators/sampling.py",
      '        prior.unionByName(winners).distinct(),',
      '        winners.distinct(),',
      "dropped-clause", "the fold forgets its state: every batch "
      "re-ranks only its own winners, so the final table is the LAST "
      "wave's sample instead of the corpus's (row count ties at "
      "strata x quota — the merge theorem's content is what dies; "
      "value hash kills)"),
    M("m23_merge_distinct_drop", "m23_streaming_quota_sample",
      f"{PKG}/operators/sampling.py",
      '        prior.unionByName(winners).distinct(),',
      '        prior.unionByName(winners),',
      "dropped-clause", "set semantics removed from the merge: the "
      "overlapping waves re-deliver rows already in the state, "
      "duplicate winners take successive ranks and crowd real winners "
      "out of the quota (the duplicate-delivery bug the distinct "
      "exists to prevent; needs overlapping waves to be visible — "
      "the m13 recrawl lesson; value hash kills)"),
    M("m23_quota_constant", "m23_streaming_quota_sample",
      f"{PKG}/entry_queries.py",
      '            ["lang"],\n            10,\n            order_key,',
      '            ["lang"],\n            9,\n            order_key,',
      "constant", "per-stratum quota 10 -> 9: every saturated stratum "
      "loses its last winner (45 rows vs the oracle's 50 — rows "
      "kill)"),
    M("m23_order_salt", "m23_streaming_quota_sample",
      f"{PKG}/entry_queries.py",
      'F.concat(F.col("doc_id").cast("string"), F.lit(":m23"))',
      'F.concat(F.col("doc_id").cast("string"), F.lit(":m23x"))',
      "constant", "engine-side draw salt perturbed: the md5 order key "
      "no longer matches the oracle's, a different winner set is kept "
      "(row count ties at strata x quota; value hash kills — pins "
      "that the sample CONTENT, not just its shape, is checked)"),
    M("oracle_m23_quota", "m23_streaming_quota_sample",
      f"{PKG}/entry_queries.py",
      'WHERE rn <= 10  -- m23 quota',
      'WHERE rn <= 11  -- m23 quota',
      "boundary", "MIRROR-side quota widened to 11: the oracle emits "
      "winners the engine never kept (row-count kill — the m23 "
      "mirror-family oracle-side kill)"),
    M("m24_publish_key_collision", "m24_streaming_heavy_hitters",
      f"{PKG}/streaming/batch_store.py", _PUBLISH_KEY, _PUBLISH_KEY_0,
      "wrong-key", "every batch publishes into batch=0: only the last "
      "micro-batch's summary survives, hot-item estimates collapse to "
      "~1/3 of the true count — far outside the N/9 undercount bound, "
      "bound_ok flips FALSE (value hash kills; pins that the store "
      "layout, not just the sketch math, is load-bearing)"),
    M("m24_merge_sum_to_max", "m24_streaming_heavy_hitters",
      f"{PKG}/entry_queries.py",
      '.agg(F.sum("partial_count").alias("est_count"))',
      '.agg(F.max("partial_count").alias("est_count"))',
      "swapped-agg", "read-side merge sums -> takes the max per-batch "
      "partial: estimates collapse to one batch's share, the undercount "
      "bound breaks, bound_ok flips FALSE (value hash kills — the "
      "mergeability theorem is about SUMS of disjoint decrements)"),
    M("m24_plant_constant", "m24_streaming_heavy_hitters",
      f"{PKG}/entry_queries.py",
      '                30,\n            )\n        ).alias("item"),',
      '                3,\n            )\n        ).alias("item"),',
      "constant", "engine-side hot plant 30 -> 3 copies: the shared "
      "item helper changes sketch AND engine-exact sides together "
      "(heavy set stays the two hot tokens — 1.5N vs the new 0.44N "
      "threshold), so true_count disagrees with the oracle's 15N "
      "(row count ties; value hash kills)"),
    M("oracle_m24_plant", "m24_streaming_heavy_hitters",
      f"{PKG}/entry_queries.py",
      "'hotevt' || CAST(event_id % 2 AS VARCHAR) AS item,\n             unnest(range(30)) AS _i",
      "'hotevt' || CAST(event_id % 2 AS VARCHAR) AS item,\n             unnest(range(29)) AS _i",
      "boundary", "MIRROR-side hot plant 30 -> 29 copies: the oracle's "
      "true_count drops one copy per event below the engine's (value "
      "hash kill — the m24 mirror-family oracle-side kill)"),
    M("m25_projection_drop", "m25_streaming_cc",
      f"{PKG}/operators/dedup.py",
      '            F.coalesce("_ra", F.col(key_a)).alias("src"),',
      '            F.col(key_a).alias("src"),',
      "dropped-clause", "edge endpoints no longer projected onto their "
      "current roots: cross-batch merges record remap entries keyed on "
      "raw non-root keys that the resolve never chases — components "
      "assembled across waves stay under-merged (row count ties at the "
      "key universe; value hash kills)"),
    M("m25_remap_resolve_drop", "m25_streaming_cc",
      f"{PKG}/operators/dedup.py",
      '.select("key", F.coalesce("new_root", "root").alias("root"))',
      '.select("key", F.col("root").alias("root"))',
      "dropped-clause", "the resolve ignores the remap log entirely: "
      "every key reports its root AT INGEST TIME, so any component "
      "merged after a key first arrived keeps the stale label — and "
      "the per-batch bodies resolve through the same function, so the "
      "corruption compounds (value hash kills)"),
    M("m25_publish_collision", "m25_streaming_cc",
      f"{PKG}/streaming/batch_store.py", _PUBLISH_KEY, _PUBLISH_KEY_0,
      "wrong-key", "the shared publish_batch seam collapses "
      "every batch onto batch=0: earlier assignments and remaps are "
      "overwritten, only the last wave's state survives the drain "
      "(row-count kill — most keys vanish from the resolve)"),
    M("oracle_m25_bridge", "m25_streaming_cc",
      f"{PKG}/entry_queries.py",
      'WHERE doc_id % 50 = 0  -- m25 bridge',
      'WHERE doc_id % 49 = 0  -- m25 bridge',
      "boundary", "MIRROR-side bridge rate perturbed: the oracle "
      "merges different family pairs than the engine ingested (value "
      "hash kill — the m25 mirror-family oracle-side kill)"),
    M("m26_publish_collision", "m26_streaming_quantiles",
      f"{PKG}/streaming/batch_store.py", _PUBLISH_KEY, _PUBLISH_KEY_0,
      "wrong-key", "every histogram partial publishes into batch=0: "
      "only the last wave's counts survive, n_total collapses to a "
      "third of the corpus and every rank shifts (value hash kills)"),
    M("m26_merge_sum_to_max", "m26_streaming_quantiles",
      f"{PKG}/operators/profile.py",
      'F.sum("n").alias("n"),',
      'F.max("n").alias("n"),',
      "swapped-agg", "merge_histograms sums -> maxes bucket counts: "
      "the merged histogram under-counts every bucket seen by more "
      "than one batch, n_total and ranks shift (value hash kills — "
      "histogram partials merge by SUM or the exactness claim is "
      "void)"),
    M("m26_bins_constant", "m26_streaming_quantiles",
      f"{PKG}/entry_queries.py",
      'batch_df, "value", 0.0, 500.0, 40, store, batch_id',
      'batch_df, "value", 0.0, 500.0, 39, store, batch_id',
      "constant", "engine-side bin count 40 -> 39: bucket width "
      "drifts off the oracle's 12.5 grid, every bucket id and edge "
      "differs (value hash kills)"),
    M("oracle_m26_quantile_set", "m26_streaming_quantiles",
      f"{PKG}/entry_queries.py",
      "(VALUES (0.5),(0.9),(0.99)) qs(q)  -- m26 quantile set",
      "(VALUES (0.5),(0.9),(0.95)) qs(q)  -- m26 quantile set",
      "boundary", "MIRROR-side quantile set perturbed (0.99 -> 0.95): "
      "the oracle reports a rank the engine never computed (value "
      "hash kill — the m26 mirror-family oracle-side kill)"),
    M("x3_kmeans_tiebreak", "x3_kmeans_lloyd",
      f"{PKG}/operators/similarity.py",
      'F.struct(dist.alias("d"), "cid").alias("_dc")',
      'F.struct(F.col("cid"), dist.alias("d")).alias("_dc")',
      "wrong-key", "assignment struct-min compares (cid, distance) "
      "instead of (distance, cid): every vector collapses onto the "
      "lowest centroid id regardless of distance — the degenerate "
      "clustering (row count ties at k x dim; value hash kills)"),
    M("x3_kmeans_trunc", "x3_kmeans_lloyd",
      f"{PKG}/operators/similarity.py",
      'F.floor(\n                    (2 * F.col("s") + F.col("n")) / (2 * F.col("n"))\n                )',
      'F.floor(\n                    (2 * F.col("s")) / (2 * F.col("n"))\n                )',
      "off-by-one", "mean requantization round-half-up -> truncation: "
      "every dimension whose mean has fractional part >= 0.5 lands one "
      "integer low, the trajectory forks from the oracle's replay "
      "(value hash kills — the exact-requantization contract)"),
    M("x3_kmeans_iters", "x3_kmeans_lloyd",
      f"{PKG}/entry_queries.py",
      'kmeans_lloyd(e, 8, 3)',
      'kmeans_lloyd(e, 8, 2)',
      "constant", "engine stops one Lloyd iteration early: verified "
      "non-converged at sf0.01 (centroids AND assignments still move "
      "on iteration 3), so the oracle's 3-iteration replay disagrees "
      "(value hash kills — pins that the full trajectory, not a "
      "fixed point, is checked)"),
    M("oracle_x3_kmeans_seed", "x3_kmeans_lloyd",
      f"{PKG}/entry_queries.py",
      'FROM q WHERE key < {k})',
      'FROM q WHERE key <= {k})',
      "boundary", "MIRROR-side seeding widened to k+1 centroids: the "
      "oracle trains a 9-cluster model and emits 576 rows against the "
      "engine's 512 (row-count kill — the x3_kmeans mirror-family "
      "oracle-side kill)"),
    M("bpe8k_chunk_floor", "x4_bpe8k_chunks",
      f"{PKG}/operators/text.py",
      'n_chunks = F.ceil(n.cast("double") / F.lit(budget)).cast("bigint")',
      'n_chunks = F.floor(n.cast("double") / F.lit(budget)).cast("bigint")',
      "off-by-one", "token chunking loses every non-multiple doc's "
      "remainder chunk (the bulk path: median-56-token docs at budget "
      "32 all shed their second chunk; row-count kill)"),
    M("oracle_bpe8k_chunk_floor", "x4_bpe8k_chunks",
      f"{PKG}/entry_queries.py",
      "unnest(range(0, CAST(ceil(n_tokens / 32.0) AS BIGINT)))",
      "unnest(range(0, CAST(floor(n_tokens / 32.0) AS BIGINT)))",
      "off-by-one", "MIRROR-side chunk count drops the remainder chunk "
      "(the chunks mirror-family oracle-side kill; row-count)"),
    M("bpe8k_cursor_max", "x4_bpe8k_token_counts",
      f"{PKG}/functions/bpe.py",
      'if r > cursor and (best == -1 or r < best):',
      'if r > cursor and (best == -1 or r > best):',
      "swapped-agg", "fast encoder picks the LARGEST applicable rank "
      "instead of the smallest — no longer the replace chain the fold "
      "oracle replays; digit-word encodings shift (hash kill)"),
    M("bpe8k_pack_budget", "x4_bpe8k_packing",
      f"{PKG}/entry_queries.py",
      'pack_documents(j, "n_tokens_bpe", 2048, "doc_id", "lang")',
      'pack_documents(j, "n_tokens_bpe", 1024, "doc_id", "lang")',
      "constant", "context-window budget halved: every pack boundary "
      "moves (hash kill; 2048 sits in the oracle window expression)"),
    M("bpe8k_wrong_vocab", "x4_bpe8k_token_ids",
      f"{PKG}/entry_queries.py",
      'merges=load_merges(FIXTURE_8K),\n        vocab_path=VOCAB_FIXTURE_8K,',
      'merges=load_merges(FIXTURE_8K),',
      "wrong-key", "id space resolved against the 105-table's char "
      "vocabulary: digits/punctuation become OOV and every merged-"
      "symbol id shifts (hash kill)"),
    M("oracle_bpe8k_fold_count", "x4_bpe8k_token_counts",
      f"{PKG}/entry_queries.py",
      "/ 2 - 1\n                  AS BIGINT) AS n_word_tokens",
      "/ 2\n                  AS BIGINT) AS n_word_tokens",
      "off-by-one", "MIRROR-side per-word symbol count keeps the "
      "phantom +1 separator group: every word count off by one "
      "(the 8k mirror-family oracle-side kill)"),
    M("bpe_oov_zero", "x4_bpe_token_ids",
      f"{PKG}/functions/bpe.py",
      'sym_id.get(s, -1)',
      'sym_id.get(s, 0)',
      "constant", "OOV contract broken: symbols with characters unseen "
      "at training time silently take id 0 (a real vocab id) instead "
      "of -1 — the planted doc's x/z symbols redden the hash"),
    M("oracle_bpe_vocab_order", "x4_bpe_token_ids",
      f"{PKG}/entry_queries.py",
      'enumerate(load_vocab())',
      'enumerate(reversed(load_vocab()))',
      "swapped-agg", "MIRROR-side id space reversed: the stable-id "
      "contract (chars, MARKER, merges in rank order; id = index) is "
      "load-bearing for any embedding keyed on these ids (hash kill)"),
    M("m17_offset_dropped", "m17_streaming_packing",
      f"{PKG}/operators/text.py",
      '(F.coalesce(F.col("_off"), F.lit(0)) + local_cum - 1)',
      '(local_cum - 1)',
      "dropped-clause", "cross-batch pack offset ignored: every "
      "micro-batch restarts the token fill at pack 0, the streaming "
      "output diverges from the arrival-ordered batch formula (hash "
      "kill; pack_id is inside the hash)"),
    M("oracle_m17_arrival_order", "m17_streaming_packing",
      f"{PKG}/entry_queries.py",
      'ORDER BY doc_id % 3, doc_id\n                      ROWS BETWEEN',
      'ORDER BY doc_id\n                      ROWS BETWEEN',
      "swapped-agg", "MIRROR-side window order drops the arrival key: "
      "packing is defined over arrival order (wave, then doc_id), not "
      "doc_id alone — prefix sums shift for every interleaved language "
      "(hash kill)"),
    M("m16_publish_preswap", "m16_store_maintenance",
      f"{PKG}/entry_queries.py",
      'streaming_threshold_dedup_batch(\n            d.filter(F.col("epoch") == 2), band_c, text_c, _M14B_T, 2\n        )',
      'streaming_threshold_dedup_batch(\n            d.filter(F.col("epoch") == 2), band_c, text, _M14B_T, 2\n        )',
      "wrong-key", "the classic compaction-swap bug: the post-compaction "
      "batch publishes into the PRE-swap text directory, so the swapped-"
      "in store silently misses the whole epoch (row-count kill)"),
    M("oracle_m14b_threshold", "m14b_streaming_threshold_dedup",
      f"{PKG}/entry_queries.py",
      '>= 0.5  -- m14b threshold',
      '> 0.5  -- m14b threshold',
      "off-by-one", "MIRROR-side threshold comparator: the oracle keeps "
      "the exactly-at-threshold HALF doc the engine drops (row-count "
      "kill; the mirror family's oracle-side kill for m14b)"),

    M("oracle_stddev_population", "s19_lineitem_summary",
      f"{PKG}/functions/exact.py",
      ' - 1.0))"', ' - 0.0))"',
      "swapped-agg", "MIRROR-side exact-decimal skeleton family: the "
      "SQL builder's sample-variance denominator n-1 -> n (symmetric "
      "to the Spark-side s19_population_stddev kill)"),

    # ----- x12: DSIR importance resampling (round-11) -----
    M("x12_smoothing_constant", "x12_dsir_weights",
      f"{PKG}/operators/sampling.py",
      'p_over_q_num = (F.col("_tp").cast("double") + F.lit(1.0)) * (',
      'p_over_q_num = (F.col("_tp").cast("double") + F.lit(2.0)) * (',
      "constant", "add-1 smoothing -> add-2 on the target side only: "
      "every ratio term shifts, the bit-exact double score reddens"),
    M("x12_bigram_separator", "x12_dsir_weights",
      f"{PKG}/operators/sampling.py",
      'lambda a, b: F.concat(a, F.lit(" "), b),',
      'lambda a, b: F.concat(a, b),',
      "wrong-key", "bigram feature key loses its separator: different "
      "gram strings -> different buckets -> skeleton count-sums and "
      "score both redden"),
    M("oracle_x12_smoothing", "x12_dsir_weights",
      f"{PKG}/entry_queries.py",
      "((CAST(coalesce(tgtc.tp, 0) AS DOUBLE) + 1.0)",
      "((CAST(coalesce(tgtc.tp, 0) AS DOUBLE) + 2.0)",
      "constant", "MIRROR-side DSIR family: the same add-1 -> add-2 "
      "smoothing shift applied to the DuckDB ratio (symmetric to "
      "x12_smoothing_constant)"),
    M("x12_select_rank_asc", "x12_dsir_select",
      f"{PKG}/operators/sampling.py",
      '.orderBy(F.desc("_key"), F.asc(id_col))',
      '.orderBy(F.asc("_key"), F.asc(id_col))',
      "swapped-agg", "top-k by importance weight -> bottom-k: the "
      "selected 25-doc set inverts"),

    # ----- x4 winnowing fingerprints (round-11) -----
    M("oracle_x4w_leftmost_min", "x4_winnow_fingerprints",
      f"{PKG}/entry_queries.py",
      '(a, x) -> CASE WHEN x.h <= a.h',
      '(a, x) -> CASE WHEN x.h < a.h',
      "boundary", "MIRROR-side robust-winnowing tie-break: rightmost-"
      "min -> leftmost-min in the DuckDB pick fold. Killable because "
      "of the in-plan doc_id=-1 periodic-text plant (equal gram hashes "
      "inside one window); the Spark side cannot express this mutation "
      "single-site — its hash*2^31+(mod-pos) ENCODING makes array_min "
      "pick rightmost BY CONSTRUCTION, coupling tie-break to position "
      "decode"),
    M("x4w_no_pick_dedup", "x4_winnow_fingerprints",
      f"{PKG}/operators/text.py",
      'return F.when(m >= 1, F.array_distinct(picks)).otherwise(',
      'return F.when(m >= 1, picks).otherwise(',
      "dropped-clause", "consecutive windows selecting the same (hash, "
      "pos) are no longer de-duplicated: fingerprint table row-count "
      "explodes"),
    M("oracle_x4w_window", "x4_winnow_fingerprints",
      f"{PKG}/entry_queries.py",
      'range(j, least(j + 4, len(hs)) + 1),',
      'range(j, least(j + 3, len(hs)) + 1),',
      "constant", "MIRROR-side winnow family: window width w=5 -> 4 "
      "inside the DuckDB pick fold"),
    M("x4w_min_shared_boundary", "x4_winnow_shared_pairs",
      f"{PKG}/operators/text.py",
      '.filter(F.col("shared_fps") >= min_shared)',
      '.filter(F.col("shared_fps") > min_shared)',
      "boundary", ">= -> > at min_shared: the sf0.01 corpus has two "
      "pairs at exactly 25 shared fingerprints"),
    # ----- m15: streaming DSIR with a frozen lambda table (round-11) -----
    M("m15_per_batch_lambda", "m15_streaming_dsir",
      f"{PKG}/operators/sampling.py",
      '    lam = batch_df.sparkSession.read.parquet(lam_dir)',
      '    lam = dsir_lambda_table(batch_df.limit(50), F.lit(True), '
      'text_col, num_buckets)',
      "wrong-key", "the classic deployment bug the registration pins: "
      "the frozen offline model is replaced by a per-batch "
      "'retrained' lambda — every score shifts (hash kill)"),
    M("m15_sink_overwrite", "m15_streaming_dsir",
      f"{PKG}/streaming/batch_store.py", _PUBLISH_KEY, _PUBLISH_KEY_0,
      "dropped-clause", "idempotent publish path loses its batch key: "
      "every wave overwrites the same directory, only the last "
      "survives (row-count kill) — the non-unique-publish-path bug "
      "class the batch-keyed overwrite exists to prevent"),
    M("x4w_df_cap_inert", "x4_winnow_shared_pairs",
      f"{PKG}/entry_queries.py",
      'd, k=8, w=5, min_shared=25, max_fp_df=50, fingerprints=fps',
      'd, k=8, w=5, min_shared=25, max_fp_df=5000, fingerprints=fps',
      "constant", "document-frequency cap made inert (50 -> 5000): "
      "ubiquitous-gram postings re-enter the self-join and the pair "
      "set explodes"),
]


def purge_modules():
    for name in list(sys.modules):
        if name == "__spark_entry__" or name.startswith(PKG):
            del sys.modules[name]


def run_one(spark, con, sf_dir, query):
    """Run query on the CURRENT source tree, compare to its oracle.
    Returns (status, detail): status in hash/rows/schema/spark-error/
    duckdb-error/ok."""
    purge_modules()
    try:
        import __spark_entry__ as entry_mod

        fn = entry_mod.queries()[query]
        sdf = fn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        scols = sdf.columns
        sql = entry_mod.oracle_sql().get(query)
    except Exception as e:  # noqa: BLE001
        return "spark-error", str(e)[:200]
    if sql is None:
        return "no-oracle", ""
    try:
        cur = con.execute(sql)
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
    except Exception as e:  # noqa: BLE001
        return "duckdb-error", str(e)[:200]
    if len(srows) != len(orows):
        return "rows", f"spark={len(srows)} oracle={len(orows)}"
    if sorted(scols) != sorted(ocols):
        return "schema", f"{sorted(scols)} vs {sorted(ocols)}"
    if value_hash(scols, srows) != value_hash(ocols, orows):
        return "hash", ""
    return "ok", ""


def check_catalog() -> int:
    """Static catalog validation — no Spark, sub-second. Every
    mutation's `old` text must occur EXACTLY once in its file; a
    refactor that strands an entry fails here instead of surfacing as
    BAD-MUTATION in a 10-minute full run (three entries went stale
    silently before round 11 made this loud — run this in the same
    breath as pytest)."""
    if _audit_in_progress():
        # Exit 2, not 0: callers (the pytest pin) must be able to tell
        # "skipped because an audit is live" from "checked and clean",
        # otherwise a stranded lock silently greenlights stale entries
        # forever (round-12 ADVICE).
        print("catalog check: SKIPPED — a full mutation audit is running "
              "and sources are transiently mutated (lock: tools/"
              ".mutation_audit.lock)")
        return 2
    bad = 0
    for m in MUTATIONS:
        src = (REPO / m["file"]).read_text()
        n = src.count(m["old"])
        if n != 1:
            print(f"STALE {m['id']}: old text occurs {n} times in {m['file']}")
            bad += 1
    print(f"catalog check: {len(MUTATIONS)} mutations, {bad} stale")
    return 1 if bad else 0


def _summary(results: list[dict]) -> dict:
    """Kill rate over the non-probe entries that ran, and the stale
    (BAD-MUTATION) ids."""
    hard = [r for r in results if not r.get("probe") and "killed" in r]
    kills = sum(r["killed"] for r in hard)
    return {
        "kill_rate": f"{kills}/{len(hard)}",
        "bad_mutations": [
            r["id"] for r in results if r.get("status") == "BAD-MUTATION"
        ],
    }


def write_results(out: Path, sf_dir: str, results: list[dict],
                  partial: bool) -> None:
    """Write the results file. A partial run replaces only its own
    entries, and only in a file recorded at the same sf_dir."""
    if partial and out.exists():
        recorded = json.loads(out.read_text())
        if recorded["sf_dir"] != sf_dir:
            print(f"not written: {out} records {recorded['sf_dir']}")
            return
        ran = {r["id"] for r in results}
        order = {m["id"]: i for i, m in enumerate(MUTATIONS)}
        results = sorted(
            [r for r in recorded["results"]
             if r["id"] not in ran and r["id"] in order] + results,
            key=lambda r: order[r["id"]],
        )
    out.write_text(json.dumps(
        {"sf_dir": sf_dir, "results": results, **_summary(results)},
        indent=1))
    print(f"wrote {out}")


def main() -> int:
    args = sys.argv[1:]
    if args == ["--check"]:
        return check_catalog()
    ids = [m["id"] for m in MUTATIONS]
    assert len(ids) == len(set(ids)), "duplicate mutation ids"
    sf_dir = "/root/testdata/sf0.01"
    if args and "/" in args[0]:
        sf_dir, args = args[0], args[1:]
    only = set(args)
    unknown = sorted(only - set(ids))
    if unknown or not os.path.isdir(sf_dir):
        error = (f"not a mutation id: {' '.join(unknown)}" if unknown
                 else f"not an sf directory: {sf_dir}")
        print(error, __doc__[__doc__.index("Usage:"):], sep="\n",
              file=sys.stderr)
        return 2

    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("mutation_audit")
        .config("spark.sql.shuffle.partitions", cpus)
        # purge_modules only clears the DRIVER's module cache; REUSED
        # python workers keep their own imports, so an executor-side
        # mutation (Arrow kernels in functions/bpe.py etc.) can be
        # served from a stale unmutated module — a FALSE SURVIVAL — or,
        # worse, a stale MUTATED module can leak into a later
        # mutation's run — a false kill. Fresh worker per task closes
        # both directions (round-13: bpe8k_cursor_max flipped
        # killed->survived purely on audit ordering before this).
        .config("spark.python.worker.reuse", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    LOCK.write_text(str(os.getpid()))
    results = []
    try:
        for m in MUTATIONS:
            if only and m["id"] not in only:
                continue
            path = REPO / m["file"]
            src = path.read_text()
            n_occ = src.count(m["old"])
            if n_occ != 1:
                results.append({**m, "status": "BAD-MUTATION",
                                "detail": f"old text occurs {n_occ} times"})
                print(f"BAD   {m['id']}: old text occurs {n_occ} times")
                continue
            t0 = time.time()
            try:
                path.write_text(src.replace(m["old"], m["new"]))
                status, detail = run_one(spark, con, sf_dir, m["query"])
            finally:
                path.write_text(src)
                purge_modules()
            dt = time.time() - t0
            killed = status not in ("ok", "no-oracle")
            verdict = f"KILLED({status})" if killed else (
                "NO-ORACLE" if status == "no-oracle" else "SURVIVED")
            tag = " [probe]" if m["probe"] else ""
            print(f"{'OK  ' if killed else 'WARN'}  {m['id']}: {verdict}"
                  f" {m['kind']}{tag} [{dt:.1f}s] {detail}")
            results.append({**m, "status": status, "killed": killed,
                            "seconds": round(dt, 1)})
    finally:
        # KeyboardInterrupt or any post-loop error must not strand the
        # lock — a live lock suppresses the staleness gate (ADVICE r12).
        LOCK.unlink(missing_ok=True)
    hard = [r for r in results if not r.get("probe") and "killed" in r]
    probes = [r for r in results if r.get("probe") and "killed" in r]
    # A catalog entry whose `old` text no longer matches the source is a
    # DEAD mutation: the kill it advertises never ran. Silently dropping
    # it from the denominator is exactly the silent-cap anti-pattern the
    # repo forbids — three entries went stale across refactors before
    # this became loud (round-11 code-review finding).
    summary = _summary(results)
    print(f"\nkill rate (non-probe): {summary['kill_rate']}")
    if probes:
        pk = sum(r["killed"] for r in probes)
        print(f"probe kills: {pk}/{len(probes)} "
              "(probes map fixture sensitivity, not gate defects)")
    if summary["bad_mutations"]:
        print(f"BAD-MUTATION (stale catalog entries, FIX THESE): "
              f"{summary['bad_mutations']}")
    write_results(REPO / "tools" / "mutation_audit_results.json", sf_dir,
                  results, partial=bool(only))
    survivors = [r for r in hard if not r["killed"]]
    return 1 if survivors or summary["bad_mutations"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
