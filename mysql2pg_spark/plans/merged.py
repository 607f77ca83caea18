"""Consolidated driver-facing queries.

The grading driver checks a bounded window (~50) of ``queries()`` entries,
so redundant per-feature demos are folded into merged queries — one per
SURVEY §2 family — and the originals are removed from the DRIVER view
(they stay in ``QUERIES`` for bench.py and the pytest oracle suite).

Every merged query COMPOSES the original query functions (joins on the
shared key, or a tag + NULL-padded union), and every merged oracle
composes the original oracle SQL as subqueries — the originals remain the
single source of truth for semantics.

Merge map (merged name ← folded originals):
  f01_string_battery        ← f01_string_basics + f02_string_advanced
  f06_datetime_json_battery ← f06_time + f07_json + f08_json_mutation
  t01_doc_profile           ← t01_text_stats + t02_lang_id + t05_redaction
  t03_sampling              ← t03_train_test_split + t06_stratified_sample
  s01_knn_methods           ← s01_knn_bruteforce + s02_knn_lsh + s03_knn_ivf
  w01_batch_windows         ← w01_tumbling_agg + w05_sliding_windows
  q07_window_battery        ← q13_lag_lead + q07_window_topn
  q11_grouping_sets         ← q11_rollup + q14_cube
  d03_lsh_neardup           ← d03_lsh_candidates + d04_neardup_pairs
  v01_view_transpile_a      ← v01_view_basics + v04_kitchen_sink
  v02_view_transpile_b      ← v02_group_concat_view + v03_view_functions
  sk01_scale_agg            ← sk01_salted_agg + sk02_approx_distinct
  mm01_multimodal_pipeline  ← mm01_binary_decode + mm02_frame_sample
                              + mm03_resize_thumbnail
  b01_value_fixes           ← b01_zero_dates + b02_wkb_points
  val01_validation          ← val01_table_checksum + val02_row_counts
  m01_schema_map            ← m01_type_map + gen01_generated_columns
  sf01_stored_function_battery ← sf01_stored_functions
                              + sf02_stored_function_udf
                              + sf03_cursor_loop_twin (round 6)
                              + sf07_uservar_accum_twin (round 9)
                              + sf08_resultset_proc_twin (round 9)
  w06_streaming_battery     ← w06_streaming_dedup
                              + w07_stream_stream_join (round 3)
  d01_dedup_pipeline        ← d01_exact_dedup + d09_dedup_apply (round 3)
                              + d05_simhash (round 5 — t20 took its slot)

Round 6 rotation (every round-5 family earns a driver row):
  d03_lsh_neardup           += d13_editdistance_verify
  val01_validation          += val03_table_stats
  mm01_multimodal_pipeline  += mm05_phash_neardup + mm06_frame_dedup
  w06_streaming_battery     += w11_dedup_within_watermark
  u01_upsert_battery        ← u01_upsert_latest + u02_scd2_history
  qa01_quality_battery      ← qa01_quarantine + qa03_drift_profile
                              + qa05_correlation_profile
  cc01_cluster_battery      ← cc01_dedup_clusters + cc03_pagerank_canonical
  ts03_timeseries_battery   ← ts03_funnel + ts05_seasonality
  t20_span_battery          ← t20_dup_spans + t21_novelty
  t08_repetition_battery    ← t08_repetition + t23_gopher_ngram_fractions
  t04_vocab_battery         ← t04_vocabulary + t22_bpe_merge_pairs
  f03_conditional_battery   ← f03_null_conditional + q05_case_when
                              (frees the slot for s07_embedding_health)
  s07_embedding_health      ← s07_embedding_postproc + s08_kcenter_coreset
                              + s09_dim_stats + s10_cosine_histogram

Round 7 rotation (rule adopted: a new family joins a battery the same
round it is born):
  s01_knn_methods           += s11_ann_recall (recall@K audit rows)
  t03_sampling              += t24_source_mixing (per-lang mixing rates)
  sf01_stored_function_battery += sf04_case_block_twin (nested-block /
                              CASE-statement / EXIT-handler twin)
  sf01_stored_function_battery += sf05_signal_guard_twin (SIGNAL /
                              named-condition / specific-SQLSTATE twin)

Round 12 rotation (VERDICT r11 ask #3 — families so far exercised only as
battery parts get their own named driver row; an equal number of rows
driver-green and byte-identical since round ≤5 rotate out, staying in
QUERIES for bench + the pytest oracle suite):
  IN : u02_scd2_history, cc03_pagerank_canonical, ts05_seasonality,
       qa03_drift_profile, s11_ann_recall, t21_novelty, mm05_phash_neardup
  OUT: q06_group_concat, q08_set_ops, q09_semi_anti, q10_subqueries,
       f04_math, f05_date, q16_lateral_topn
  sf01_stored_function_battery += sf09_loop_resultset_twin (the
       cursor-accumulate loop-result-set shape, born this round)
  sf01_stored_function_battery += sf10_sysvar_twin (@@system-variable
       read mapping, born this round)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql2pg_spark.plans.registry import (
    DRIVER_ORACLES,
    DRIVER_QUERIES,
    ORACLES,
    QUERIES,
    query,
)

#: Originals folded into merged queries — removed from the driver view at
#: the bottom of this module (kept in QUERIES for bench + pytest).
FOLDED = (
    "f01_string_basics",
    "f02_string_advanced",
    "f06_time",
    "f07_json",
    "f08_json_mutation",
    "t01_text_stats",
    "t02_lang_id",
    "t05_redaction",
    "t03_train_test_split",
    "t06_stratified_sample",
    "s01_knn_bruteforce",
    "s02_knn_lsh",
    "s03_knn_ivf",
    "w01_tumbling_agg",
    "w05_sliding_windows",
    "q07_window_topn",
    "q13_lag_lead",
    "q11_rollup",
    "q14_cube",
    "d03_lsh_candidates",
    "d04_neardup_pairs",
    "v01_view_basics",
    "v02_group_concat_view",
    "v03_view_functions",
    "v04_kitchen_sink",
    "sk01_salted_agg",
    "sk02_approx_distinct",
    "mm01_binary_decode",
    "mm02_frame_sample",
    "mm03_resize_thumbnail",
    "b01_zero_dates",
    "b02_wkb_points",
    "b03_load_data_roundtrip",  # round 11
    "val01_table_checksum",
    "val02_row_counts",
    "m01_type_map",
    "gen01_generated_columns",
    "sf01_stored_functions",
    "sf02_stored_function_udf",
    "w06_streaming_dedup",
    "w07_stream_stream_join",
    "d01_exact_dedup",
    "d09_dedup_apply",
    "d05_simhash",
    # round 6 rotation
    "u01_upsert_latest",
    "qa01_quarantine",
    "cc01_dedup_clusters",
    "ts03_funnel",
    "t20_dup_spans",
    "t08_repetition",
    "t04_vocabulary",
    "f03_null_conditional",
    "q05_case_when",
)


def _tagged_union(
    tag_col: str, parts: list[tuple[str, DataFrame]]
) -> DataFrame:
    """Union DataFrames of different shapes: tag column + NULL-padded
    columns (types taken from whichever part carries the column)."""
    fields: dict[str, object] = {}
    for _, df in parts:
        for f in df.schema.fields:
            fields.setdefault(f.name, f.dataType)
    out = None
    for tag, df in parts:
        have = set(df.columns)
        sel = df.select(
            F.lit(tag).alias(tag_col),
            *[
                (F.col(n) if n in have else F.lit(None).cast(t)).alias(n)
                for n, t in fields.items()
            ],
        )
        out = sel if out is None else out.union(sel)
    return out


def _sub(name: str) -> str:
    """Original oracle SQL as a parenthesized subquery."""
    return "(" + ORACLES[name] + ")"


# --------------------------------------------------------------------------
# Same-key joins (identical row base → one wide battery).
# --------------------------------------------------------------------------
@query(
    "f01_string_battery",
    oracle=f"""
SELECT * FROM {_sub("f01_string_basics")} a
JOIN {_sub("f02_string_advanced")} b USING (c_custkey)
ORDER BY c_custkey
""",
)
def f01_string_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = QUERIES["f01_string_basics"](spark, sf_dir)
    b = QUERIES["f02_string_advanced"](spark, sf_dir)
    return a.join(b, "c_custkey")


@query(
    "f06_datetime_json_battery",
    # jkeys is array<string> in the original f07 (kept for pytest); the
    # driver canonicalizer can't sort/hash list cells, so the merged view
    # serializes it to a JSON string on both engines (compact [..] form).
    oracle=f"""
SELECT * REPLACE (to_json(jkeys)::VARCHAR AS jkeys)
FROM {_sub("f06_time")} a
JOIN {_sub("f07_json")} b USING (event_id)
JOIN {_sub("f08_json_mutation")} c USING (event_id)
ORDER BY event_id
""",
)
def f06_datetime_json_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = QUERIES["f06_time"](spark, sf_dir)
    b = QUERIES["f07_json"](spark, sf_dir)
    c = QUERIES["f08_json_mutation"](spark, sf_dir)
    joined = a.join(b, "event_id").join(c, "event_id")
    return joined.withColumn("jkeys", F.to_json("jkeys"))


@query(
    "t01_doc_profile",
    oracle=f"""
SELECT * FROM {_sub("t01_text_stats")} a
JOIN {_sub("t02_lang_id")} b USING (doc_id)
JOIN {_sub("t05_redaction")} c USING (doc_id)
ORDER BY doc_id
""",
)
def t01_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = QUERIES["t01_text_stats"](spark, sf_dir)
    b = QUERIES["t02_lang_id"](spark, sf_dir)
    c = QUERIES["t05_redaction"](spark, sf_dir)
    return a.join(b, "doc_id").join(c, "doc_id")


@query(
    "mm01_multimodal_pipeline",
    # thumb is array<int> in the original mm03 (kept for pytest); the
    # driver canonicalizer can't sort/hash list cells, so the merged view
    # serializes it to a JSON string on both engines (compact [..] form).
    oracle=f"""
SELECT 'decode' AS mm_kind, *
    REPLACE (to_json(thumb)::VARCHAR AS thumb)
FROM {_sub("mm02_frame_sample")} x
JOIN {_sub("mm01_binary_decode")} y USING (doc_id)
JOIN {_sub("mm03_resize_thumbnail")} z USING (doc_id)
UNION ALL BY NAME
SELECT 'phash_pairs' AS mm_kind, * FROM {_sub("mm05_phash_neardup")}
UNION ALL BY NAME
SELECT 'frame_dedup' AS mm_kind, * FROM {_sub("mm06_frame_dedup")}
""",
)
def mm01_multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = QUERIES["mm02_frame_sample"](spark, sf_dir)
    stats = QUERIES["mm01_binary_decode"](spark, sf_dir)
    thumbs = QUERIES["mm03_resize_thumbnail"](spark, sf_dir)
    joined = (
        frames.join(stats, "doc_id")
        .join(thumbs, "doc_id")
        .withColumn("thumb", F.to_json("thumb"))
    )
    # round 6: + the media-dedup family — banded pHash Hamming pairs
    # (mm05) and cross-doc frame dedup (mm06)
    return _tagged_union(
        "mm_kind",
        [
            ("decode", joined),
            ("phash_pairs", QUERIES["mm05_phash_neardup"](spark, sf_dir)),
            ("frame_dedup", QUERIES["mm06_frame_dedup"](spark, sf_dir)),
        ],
    )


# --------------------------------------------------------------------------
# Left joins (different row sets, shared key).
# --------------------------------------------------------------------------
@query(
    "q07_window_battery",
    oracle=f"""
SELECT a.*, b.rn, b.rnk, b.running_total
FROM {_sub("q13_lag_lead")} a
LEFT JOIN {_sub("q07_window_topn")} b
  ON b.o_custkey = a.o_custkey AND b.o_orderkey = a.o_orderkey
ORDER BY a.o_custkey, a.o_orderkey
""",
)
def q07_window_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    nav = QUERIES["q13_lag_lead"](spark, sf_dir)
    topn = QUERIES["q07_window_topn"](spark, sf_dir).select(
        "o_custkey", "o_orderkey", "rn", "rnk", "running_total"
    )
    return nav.join(topn, ["o_custkey", "o_orderkey"], "left")


@query(
    "d03_lsh_neardup",
    # round 6: + d13's Levenshtein verification over the same LSH
    # candidate pairs — one more left join on the shared pair key.
    oracle=f"""
SELECT c.id_a, c.id_b, v.jaccard, (v.jaccard IS NOT NULL) AS is_neardup,
       e.edit_dist, e.edit_sim
FROM {_sub("d03_lsh_candidates")} c
LEFT JOIN {_sub("d04_neardup_pairs")} v
  ON v.id_a = c.id_a AND v.id_b = c.id_b
LEFT JOIN {_sub("d13_editdistance_verify")} e
  ON e.id_a = c.id_a AND e.id_b = c.id_b
ORDER BY c.id_a, c.id_b
""",
)
def d03_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one shingle/signature build feeds all three members, so the
    # shingle kernel runs once per battery
    from mysql2pg_spark.operators.dedup import lsh_candidate_pairs
    from mysql2pg_spark.plans import dedup as PD

    sh = PD.shingles(spark, sf_dir)
    sigs = PD.signatures(sh)
    cands = lsh_candidate_pairs(sigs, "doc_id", PD.NUM_HASHES)
    verified = PD.verified_pairs(sh, sigs)
    edits = PD.edit_verified_pairs(spark, sf_dir, sigs)
    return (
        cands.join(verified, ["id_a", "id_b"], "left")
        .withColumn("is_neardup", F.col("jaccard").isNotNull())
        .join(edits, ["id_a", "id_b"], "left")
    )


@query(
    "sf01_stored_function_battery",
    oracle=f"""
SELECT 'scalar_fns' AS part, a.c_custkey, a.total, a.level, a.label,
       b.level AS level_udf, CAST(b.n AS BIGINT) AS n_udf,
       CAST(NULL AS VARCHAR) AS om, CAST(NULL AS BIGINT) AS picked_n,
       CAST(NULL AS DOUBLE) AS spent,
       CAST(NULL AS VARCHAR) AS tier, CAST(NULL AS BIGINT) AS n_orders,
       CAST(NULL AS DOUBLE) AS total_spend,
       CAST(NULL AS VARCHAR) AS flag, CAST(NULL AS BIGINT) AS n_guarded,
       CAST(NULL AS DOUBLE) AS guarded_rev,
       CAST(NULL AS VARCHAR) AS status, CAST(NULL AS BIGINT) AS n_caught,
       CAST(NULL AS DOUBLE) AS guarded_sum,
       CAST(NULL AS BIGINT) AS a_custkey, CAST(NULL AS BIGINT) AS a_orders,
       CAST(NULL AS DOUBLE) AS acct_total,
       CAST(NULL AS BIGINT) AS rs_custkey,
       CAST(NULL AS VARCHAR) AS rs_name, CAST(NULL AS DOUBLE) AS rs_acctbal
FROM {_sub("sf01_stored_functions")} a
LEFT JOIN {_sub("sf02_stored_function_udf")} b ON b.o_custkey = a.c_custkey
UNION ALL
SELECT 'cursor_twin', CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       c.om, c.picked_n, c.spent,
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
FROM {_sub("sf03_cursor_loop_twin")} c
UNION ALL
SELECT 'case_twin', CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       d.tier, d.n_orders, d.total_spend,
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
FROM {_sub("sf04_case_block_twin")} d
UNION ALL
SELECT 'signal_twin', CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       e.flag, e.n_guarded, e.guarded_rev,
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
FROM {_sub("sf05_signal_guard_twin")} e
UNION ALL
SELECT 'nested_twin', CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       f.status, f.n_caught, f.guarded_sum,
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
FROM {_sub("sf06_nested_guard_twin")} f
UNION ALL
SELECT 'uservar_twin', CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       g.a_custkey, g.a_orders, g.acct_total,
       CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
FROM {_sub("sf07_uservar_accum_twin")} g
UNION ALL
SELECT 'resultset_twin', CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       h.rs_custkey, h.rs_name, h.rs_acctbal
FROM {_sub("sf08_resultset_proc_twin")} h
UNION ALL BY NAME
SELECT 'loop_resultset_twin' AS part, *
FROM {_sub("sf09_loop_resultset_twin")}
UNION ALL BY NAME
SELECT 'sysvar_twin' AS part, * FROM {_sub("sf10_sysvar_twin")}
ORDER BY part, c_custkey, om, tier, flag, status, a_custkey, rs_custkey
""",
)
def sf01_stored_function_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    inline = QUERIES["sf01_stored_functions"](spark, sf_dir)
    via_udf = QUERIES["sf02_stored_function_udf"](spark, sf_dir).select(
        "o_custkey",
        F.col("level").alias("level_udf"),
        F.col("n").alias("n_udf"),
    )
    scalar = inline.join(
        via_udf, inline.c_custkey == via_udf.o_custkey, "left"
    ).drop("o_custkey")
    cursor_twin = QUERIES["sf03_cursor_loop_twin"](spark, sf_dir)
    # round 7: the nested-block/CASE-statement/EXIT-handler function's
    # set-based twin joins the battery the round those shapes landed,
    # as does the SIGNAL / named-condition / specific-SQLSTATE twin
    case_twin = QUERIES["sf04_case_block_twin"](spark, sf_dir)
    signal_twin = QUERIES["sf05_signal_guard_twin"](spark, sf_dir)
    # round 8: the nested-block-with-inner-handler function's set-based
    # twin joins the battery the round that shape became translatable
    nested_twin = QUERIES["sf06_nested_guard_twin"](spark, sf_dir)
    # round 9: the @user-variable accumulator and result-set-procedure
    # twins join the battery the round those shapes landed
    uservar_twin = QUERIES["sf07_uservar_accum_twin"](spark, sf_dir)
    resultset_twin = QUERIES["sf08_resultset_proc_twin"](spark, sf_dir)
    # round 12: the loop-result-set (cursor-accumulate) and
    # @@system-variable twins join the battery the round those shapes
    # became translatable
    loop_rs_twin = QUERIES["sf09_loop_resultset_twin"](spark, sf_dir)
    sysvar_twin = QUERIES["sf10_sysvar_twin"](spark, sf_dir)
    return _tagged_union(
        "part",
        [
            ("scalar_fns", scalar),
            ("cursor_twin", cursor_twin),
            ("case_twin", case_twin),
            ("signal_twin", signal_twin),
            ("nested_twin", nested_twin),
            ("uservar_twin", uservar_twin),
            ("resultset_twin", resultset_twin),
            ("loop_resultset_twin", loop_rs_twin),
            ("sysvar_twin", sysvar_twin),
        ],
    )


@query(
    "sk01_scale_agg",
    oracle=f"""
SELECT a.l_returnflag, a.l_linestatus, a.revenue, a.revenue_n,
       CAST(b.exact_orders AS BIGINT) AS exact_orders,
       TRUE AS approx_ok
FROM {_sub("sk01_salted_agg")} a
JOIN (SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS exact_orders
      FROM lineitem GROUP BY 1) b
  ON b.l_returnflag = a.l_returnflag
ORDER BY a.l_returnflag, a.l_linestatus
""",
)
def sk01_scale_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    salted = QUERIES["sk01_salted_agg"](spark, sf_dir)
    # HLL estimates are engine-specific; the cross-engine contract is the
    # error bound, so the hashed column is the bound check (deterministic:
    # Spark's HLL is a pure function of the data).
    approx = QUERIES["sk02_approx_distinct"](spark, sf_dir).select(
        "l_returnflag",
        "exact_orders",
        (
            F.abs(F.col("approx_orders") - F.col("exact_orders"))
            <= 0.05 * F.col("exact_orders")
        ).alias("approx_ok"),
    )
    return salted.join(approx, "l_returnflag")


# --------------------------------------------------------------------------
# Tag + NULL-padded unions (disjoint row bases, one family).
# --------------------------------------------------------------------------
@query(
    "t03_sampling",
    oracle=f"""
SELECT 'split' AS demo, doc_id, split,
       CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS VARCHAR) AS source,
       CAST(NULL AS BIGINT) AS n_docs, CAST(NULL AS DOUBLE) AS weight,
       CAST(NULL AS BIGINT) AS docs_per_epoch,
       CAST(NULL AS DOUBLE) AS epochs_per_doc
FROM {_sub("t03_train_test_split")}
UNION ALL
SELECT 'sample', doc_id, CAST(NULL AS VARCHAR), lang, source,
       CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
FROM {_sub("t06_stratified_sample")}
UNION ALL
SELECT 'mixing', CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), lang,
       CAST(NULL AS VARCHAR), n_docs, weight, docs_per_epoch,
       epochs_per_doc
FROM {_sub("t24_source_mixing")}
""",
)
def t03_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tagged_union(
        "demo",
        [
            ("split", QUERIES["t03_train_test_split"](spark, sf_dir)),
            ("sample", QUERIES["t06_stratified_sample"](spark, sf_dir)),
            # round 7: t24 joins its family's battery the round it was
            # born — temperature-weighted source-mixing rates per lang
            ("mixing", QUERIES["t24_source_mixing"](spark, sf_dir)),
        ],
    )


@query(
    "s01_knn_methods",
    oracle=f"""
SELECT 'brute' AS method, query_id, rank, neighbor_id, cos_sim,
       CAST(NULL AS BIGINT) AS n_exact, CAST(NULL AS BIGINT) AS n_hits,
       CAST(NULL AS DOUBLE) AS recall_at_k
FROM {_sub("s01_knn_bruteforce")}
UNION ALL
SELECT 'lsh', query_id, rank, neighbor_id, cos_sim,
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
FROM {_sub("s02_knn_lsh")}
UNION ALL
SELECT 'ivf', query_id, rank, neighbor_id, cos_sim,
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
FROM {_sub("s03_knn_ivf")}
UNION ALL
SELECT 'recall_' || method, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       n_exact, n_hits, recall_at_k
FROM {_sub("s11_ann_recall")}
""",
)
def s01_knn_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _tagged_union(
        "method",
        [
            ("brute", QUERIES["s01_knn_bruteforce"](spark, sf_dir)),
            ("lsh", QUERIES["s02_knn_lsh"](spark, sf_dir)),
            ("ivf", QUERIES["s03_knn_ivf"](spark, sf_dir)),
        ],
    ).select(
        "*",
        F.lit(None).cast("bigint").alias("n_exact"),
        F.lit(None).cast("bigint").alias("n_hits"),
        F.lit(None).cast("double").alias("recall_at_k"),
    )
    # round 7: s11's recall@K audit joins the KNN battery the round it
    # was born — one tagged row per approximate method, NULL-padded to
    # the per-neighbor schema
    types = {f.name: f.dataType for f in base.schema.fields}
    recall = QUERIES["s11_ann_recall"](spark, sf_dir).select(
        F.concat(F.lit("recall_"), F.col("method")).alias("method"),
        *[
            F.lit(None).cast(types[c]).alias(c)
            for c in ("query_id", "rank", "neighbor_id", "cos_sim")
        ],
        "n_exact",
        "n_hits",
        "recall_at_k",
    )
    return base.unionByName(recall)


@query(
    "w01_batch_windows",
    oracle=f"""
SELECT 'tumbling' AS window_kind, window_start, window_end, event_type,
       n_events, sum_value
FROM {_sub("w01_tumbling_agg")}
UNION ALL
SELECT 'sliding', window_start, window_end, event_type, n_events, sum_value
FROM {_sub("w05_sliding_windows")}
""",
    driver=False,
)
def w01_batch_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tagged_union(
        "window_kind",
        [
            ("tumbling", QUERIES["w01_tumbling_agg"](spark, sf_dir)),
            ("sliding", QUERIES["w05_sliding_windows"](spark, sf_dir)),
        ],
    )


@query(
    "q11_grouping_sets",
    oracle=f"""
SELECT 'rollup' AS gset, l_returnflag, l_linestatus,
       CAST(NULL AS BIGINT) AS gid, sum_qty, n
FROM {_sub("q11_rollup")}
UNION ALL
SELECT 'cube', l_returnflag, l_linestatus, gid, sum_qty, n
FROM {_sub("q14_cube")}
""",
)
def q11_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tagged_union(
        "gset",
        [
            ("rollup", QUERIES["q11_rollup"](spark, sf_dir)),
            ("cube", QUERIES["q14_cube"](spark, sf_dir)),
        ],
    )


@query(
    "b01_value_fixes",
    oracle=f"""
SELECT 'zero_dates' AS fix, event_id AS id, dt_fixed, was_zero,
       CAST(NULL AS VARCHAR) AS pt,
       CAST(NULL AS VARCHAR) AS txt, CAST(NULL AS DOUBLE) AS num
FROM {_sub("b01_zero_dates")}
UNION ALL
SELECT 'wkb_point', CAST(id AS BIGINT), CAST(NULL AS VARCHAR),
       CAST(NULL AS BOOLEAN), pt,
       CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
FROM {_sub("b02_wkb_points")}
UNION ALL
SELECT 'load_' || part, id, CAST(NULL AS VARCHAR),
       CAST(NULL AS BOOLEAN), CAST(NULL AS VARCHAR), txt, num
FROM {_sub("b03_load_data_roundtrip")}
UNION ALL BY NAME
SELECT 'wkb_geometry' AS fix, CAST(id AS BIGINT) AS id, wkt
FROM {_sub("b04_wkb_geometry")}
""",
)
def b01_value_fixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    dates = QUERIES["b01_zero_dates"](spark, sf_dir).withColumnRenamed(
        "event_id", "id"
    )
    points = QUERIES["b02_wkb_points"](spark, sf_dir).withColumn(
        "id", F.col("id").cast("long")
    )
    # round 11: + the LOAD DATA INFILE round-trip (statement parser →
    # read_tab_dump across the clause space; oracle = identity)
    ld = QUERIES["b03_load_data_roundtrip"](spark, sf_dir)
    ld_parts = [
        (
            f"load_{p}",
            ld.filter(F.col("part") == p).drop("part"),
        )
        for p in ("tab", "enclosed", "noescape")
    ]
    # round 12: + the full-geometry WKB decode (B8 widened)
    geoms = QUERIES["b04_wkb_geometry"](spark, sf_dir).withColumn(
        "id", F.col("id").cast("long")
    )
    return _tagged_union(
        "fix",
        [
            ("zero_dates", dates),
            ("wkb_point", points),
            *ld_parts,
            ("wkb_geometry", geoms),
        ],
    )


@query(
    "val01_validation",
    oracle=f"""
SELECT table_name, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(NULL AS VARCHAR) AS hash_sum,
       CAST(NULL AS VARCHAR) AS min_digest, CAST(NULL AS VARCHAR) AS max_digest
FROM {_sub("val02_row_counts")}
UNION ALL
SELECT 'lineitem#checksum', CAST(n_rows AS BIGINT), hash_sum,
       min_digest, max_digest
FROM {_sub("val01_table_checksum")}
UNION ALL BY NAME
SELECT 'stats#' || col_name AS table_name, n AS n_rows,
       n_null, ndv, min_num, max_num
FROM {_sub("val03_table_stats")}
""",
)
def val01_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = QUERIES["val02_row_counts"](spark, sf_dir)
    checksum = QUERIES["val01_table_checksum"](spark, sf_dir).select(
        F.lit("lineitem#checksum").alias("table_name"),
        "n_rows",
        "hash_sum",
        "min_digest",
        "max_digest",
    )
    # round 6: + val03's per-column profile (ANALYZE-style stats)
    stats = QUERIES["val03_table_stats"](spark, sf_dir).select(
        F.concat(F.lit("stats#"), F.col("col_name")).alias("table_name"),
        F.col("n").alias("n_rows"),
        "n_null",
        "ndv",
        "min_num",
        "max_num",
    )
    return _tagged_union(
        "__drop__", [("a", counts), ("b", checksum), ("c", stats)]
    ).drop("__drop__")


@query(
    "m01_schema_map",
    oracle=f"""
SELECT 'type_map' AS demo, mysql_type, spark_type, pg_type, is_auto_increment,
       CAST(NULL AS BIGINT) AS l_orderkey, CAST(NULL AS BIGINT) AS l_linenumber,
       CAST(NULL AS DOUBLE) AS subtotal, CAST(NULL AS DOUBLE) AS total
FROM {_sub("m01_type_map")}
UNION ALL
SELECT 'generated_cols', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(NULL AS VARCHAR), CAST(NULL AS BOOLEAN),
       l_orderkey, l_linenumber, subtotal, total
FROM {_sub("gen01_generated_columns")}
""",
)
def m01_schema_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tagged_union(
        "demo",
        [
            ("type_map", QUERIES["m01_type_map"](spark, sf_dir)),
            ("generated_cols", QUERIES["gen01_generated_columns"](spark, sf_dir)),
        ],
    )


@query(
    "v01_view_transpile_a",
    oracle=f"""
SELECT 'v01' AS view_tag, id, "rank", "window", size_class, urgent, ym,
       price_int,
       CAST(NULL AS VARCHAR) AS "groups", CAST(NULL AS VARCHAR) AS hex_id,
       CAST(NULL AS VARCHAR) AS name_prefix, CAST(NULL AS INTEGER) AS first_zero,
       CAST(NULL AS VARCHAR) AS seg_munged, CAST(NULL AS VARCHAR) AS seg_class,
       CAST(NULL AS BIGINT) AS bal_int, CAST(NULL AS DOUBLE) AS bal_floor,
       CAST(NULL AS DOUBLE) AS nk_ident, CAST(NULL AS VARCHAR) AS od,
       CAST(NULL AS BIGINT) AS ym_sum, CAST(NULL AS BIGINT) AS days_since,
       CAST(NULL AS VARCHAR) AS triple, CAST(NULL AS VARCHAR) AS row_hash,
       CAST(NULL AS INTEGER) AS st_cmp, CAST(NULL AS VARCHAR) AS prio_rep
FROM {_sub("v01_view_basics")}
UNION ALL
SELECT 'v04', id, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR),
       CAST(NULL AS BIGINT),
       "groups", hex_id, name_prefix, first_zero, seg_munged, seg_class,
       bal_int, bal_floor, nk_ident, od, ym_sum, days_since, triple,
       row_hash, st_cmp, prio_rep
FROM {_sub("v04_kitchen_sink")}
""",
)
def v01_view_transpile_a(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tagged_union(
        "view_tag",
        [
            ("v01", QUERIES["v01_view_basics"](spark, sf_dir)),
            ("v04", QUERIES["v04_kitchen_sink"](spark, sf_dir)),
        ],
    )


@query(
    "v02_view_transpile_b",
    oracle=f"""
SELECT 'v02' AS view_tag, nation, segs_by_key, segs,
       CAST(NULL AS BIGINT) AS event_id, CAST(NULL AS VARCHAR) AS k_val,
       CAST(NULL AS TIMESTAMP) AS rt, CAST(NULL AS BIGINT) AS td,
       CAST(NULL AS VARCHAR) AS ip, CAST(NULL AS BOOLEAN) AS is_cv,
       CAST(NULL AS BOOLEAN) AS is_err, CAST(NULL AS INTEGER) AS cmp_v
FROM {_sub("v02_group_concat_view")}
UNION ALL
SELECT 'v03', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(NULL AS VARCHAR),
       event_id, k_val, rt, td, ip, is_cv, is_err, cmp_v
FROM {_sub("v03_view_functions")}
""",
)
def v02_view_transpile_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tagged_union(
        "view_tag",
        [
            ("v02", QUERIES["v02_group_concat_view"](spark, sf_dir)),
            ("v03", QUERIES["v03_view_functions"](spark, sf_dir)),
        ],
    )


@query(
    "d01_dedup_pipeline",
    # d01 profiles every document's exact-dup group; d09 is the APPLIED
    # near-dup dedup (the corpus a training run consumes). Left join on
    # doc_id: survives_neardup marks d09 survivors. d05's 32-bit SimHash
    # rides along as a per-doc column (folded here round 5 when t20 took
    # its driver slot).
    oracle=f"""
SELECT a.doc_id, a.fp, a.canonical_id, a.is_duplicate, a.group_size,
       b.source, b.lang, (b.doc_id IS NOT NULL) AS survives_neardup,
       c.simhash
FROM {_sub("d01_exact_dedup")} a
LEFT JOIN {_sub("d09_dedup_apply")} b USING (doc_id)
JOIN {_sub("d05_simhash")} c USING (doc_id)
ORDER BY a.doc_id
""",
)
def d01_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    profile = QUERIES["d01_exact_dedup"](spark, sf_dir)
    applied = QUERIES["d09_dedup_apply"](spark, sf_dir)
    sims = QUERIES["d05_simhash"](spark, sf_dir)
    return (
        profile.join(applied, "doc_id", "left")
        .withColumn("survives_neardup", F.col("source").isNotNull())
        .join(sims, "doc_id")
    )


@query(
    "w06_streaming_battery",
    # Four family members under one driver entry: stateful
    # dropDuplicates dedup (w06), the watermarked stream-stream interval
    # join (w07) — both real readStream pipelines with batch-equivalence
    # oracles — plus session windows (w03) and the
    # applyInPandasWithState per-user counters (w04), folded here when
    # their standalone slots rotated out of the driver window (round 5).
    oracle=f"""
SELECT 'dedup' AS stream_kind, fp,
       CAST(NULL AS BIGINT) AS v_user, CAST(NULL AS BIGINT) AS v_event_id,
       CAST(NULL AS BIGINT) AS p_event_id,
       CAST(NULL AS TIMESTAMP) AS v_ts, CAST(NULL AS TIMESTAMP) AS p_ts,
       CAST(NULL AS BIGINT) AS user_id,
       CAST(NULL AS TIMESTAMP) AS session_start,
       CAST(NULL AS TIMESTAMP) AS session_end,
       CAST(NULL AS BIGINT) AS n_events,
       CAST(NULL AS DOUBLE) AS sum_value
FROM {_sub("w06_streaming_dedup")}
UNION ALL
SELECT 'interval_join', CAST(NULL AS VARCHAR),
       v_user, v_event_id, p_event_id, v_ts, p_ts,
       CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP),
       CAST(NULL AS TIMESTAMP), CAST(NULL AS BIGINT),
       CAST(NULL AS DOUBLE)
FROM {_sub("w07_stream_stream_join")}
UNION ALL
SELECT 'session', CAST(NULL AS VARCHAR),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP),
       user_id, session_start, session_end,
       CAST(n_events AS BIGINT), sum_value
FROM {_sub("w03_session_windows")}
UNION ALL
SELECT 'stateful', CAST(NULL AS VARCHAR),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP),
       user_id, CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP),
       CAST(n_events AS BIGINT), CAST(NULL AS DOUBLE)
FROM {_sub("w04_stateful_stream_counts")}
UNION ALL BY NAME
SELECT 'watermark_dedup' AS stream_kind, user_id, event_type
FROM {_sub("w11_dedup_within_watermark")}
""",
)
def w06_streaming_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tagged_union(
        "stream_kind",
        [
            ("dedup", QUERIES["w06_streaming_dedup"](spark, sf_dir)),
            ("interval_join", QUERIES["w07_stream_stream_join"](spark, sf_dir)),
            ("session", QUERIES["w03_session_windows"](spark, sf_dir)),
            ("stateful", QUERIES["w04_stateful_stream_counts"](spark, sf_dir)),
            # round 6: watermark-bounded streaming dedup (finite state
            # on an unbounded feed)
            (
                "watermark_dedup",
                QUERIES["w11_dedup_within_watermark"](spark, sf_dir),
            ),
        ],
    )


# --------------------------------------------------------------------------
# Round 6 rotation: batteries for the round-5 families that had no
# driver row. Tag + NULL-padded union (UNION ALL BY NAME on the DuckDB
# side mirrors _tagged_union exactly) or a join when the parts share a
# key. The originals remain the single source of truth for semantics.
# --------------------------------------------------------------------------
@query(
    "u01_upsert_battery",
    # u02's `version` is renamed scd_version: it is a per-key change
    # ordinal (bigint), not u01's source-batch version tag (int).
    oracle=f"""
SELECT 'latest' AS part, * FROM {_sub("u01_upsert_latest")}
UNION ALL BY NAME
SELECT 'scd2' AS part, user_id, event_type, valid_from, valid_to,
       version AS scd_version, is_current
FROM {_sub("u02_scd2_history")}
""",
)
def u01_upsert_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    latest = QUERIES["u01_upsert_latest"](spark, sf_dir)
    scd2 = QUERIES["u02_scd2_history"](spark, sf_dir).withColumnRenamed(
        "version", "scd_version"
    )
    return _tagged_union("part", [("latest", latest), ("scd2", scd2)])


@query(
    "qa01_quality_battery",
    oracle=f"""
SELECT 'quarantine' AS part, * FROM {_sub("qa01_quarantine")}
UNION ALL BY NAME
SELECT 'drift' AS part, * FROM {_sub("qa03_drift_profile")}
UNION ALL BY NAME
SELECT 'correlation' AS part, * FROM {_sub("qa05_correlation_profile")}
""",
)
def qa01_quality_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tagged_union(
        "part",
        [
            ("quarantine", QUERIES["qa01_quarantine"](spark, sf_dir)),
            ("drift", QUERIES["qa03_drift_profile"](spark, sf_dir)),
            ("correlation", QUERIES["qa05_correlation_profile"](spark, sf_dir)),
        ],
    )


@query(
    "cc01_cluster_battery",
    # same node universe: star-CC components left-joined with the
    # PageRank canonical pick for each (component, node)
    oracle=f"""
SELECT c.node, c.component, p.rank_fp, p.is_canonical
FROM {_sub("cc01_dedup_clusters")} c
LEFT JOIN {_sub("cc03_pagerank_canonical")} p
  ON p.component = c.component AND p.node = c.node
ORDER BY c.node
""",
)
def cc01_cluster_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round 16: ONE pair-pipeline execution feeds both halves — calling
    # the registered cc01/cc03 queries built two independent
    # neardup_pairs subtrees (each checkpointed separately), running
    # the LSH+verify pipeline twice per battery evaluation.
    from mysql2pg_spark.operators.components import connected_components
    from mysql2pg_spark.plans.dedup import neardup_pairs
    from mysql2pg_spark.plans.merge_demo import _pagerank_canonical

    pairs = neardup_pairs(spark, sf_dir).localCheckpoint(eager=False)
    comps = connected_components(pairs)
    ranks = _pagerank_canonical(pairs)
    return comps.join(ranks, ["component", "node"], "left").select(
        "node", "component", "rank_fp", "is_canonical"
    )


@query(
    "ts03_timeseries_battery",
    oracle=f"""
SELECT 'funnel' AS part, * FROM {_sub("ts03_funnel")}
UNION ALL BY NAME
SELECT 'seasonality' AS part, * FROM {_sub("ts05_seasonality")}
""",
)
def ts03_timeseries_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tagged_union(
        "part",
        [
            ("funnel", QUERIES["ts03_funnel"](spark, sf_dir)),
            ("seasonality", QUERIES["ts05_seasonality"](spark, sf_dir)),
        ],
    )


@query(
    "t20_span_battery",
    # t20 emits per-span rows, t21 per-doc novelty; t20.n_grams (grams
    # in the span) and t21.n_grams (grams in the doc) are different
    # quantities → tagged union, not a join
    oracle=f"""
SELECT 'dup_spans' AS part, * FROM {_sub("t20_dup_spans")}
UNION ALL BY NAME
SELECT 'novelty' AS part, * FROM {_sub("t21_novelty")}
""",
)
def t20_span_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tagged_union(
        "part",
        [
            ("dup_spans", QUERIES["t20_dup_spans"](spark, sf_dir)),
            ("novelty", QUERIES["t21_novelty"](spark, sf_dir)),
        ],
    )


@query(
    "t08_repetition_battery",
    # both one row per doc → join on doc_id (sentence-level dup ratio
    # beside Gopher's top-n-gram fractions)
    oracle=f"""
SELECT * FROM {_sub("t08_repetition")} a
JOIN {_sub("t23_gopher_ngram_fractions")} b USING (doc_id)
ORDER BY doc_id
""",
)
def t08_repetition_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = QUERIES["t08_repetition"](spark, sf_dir)
    b = QUERIES["t23_gopher_ngram_fractions"](spark, sf_dir)
    return a.join(b, "doc_id")


@query(
    "t04_vocab_battery",
    oracle=f"""
SELECT 'unigram' AS part, * FROM {_sub("t04_vocabulary")}
UNION ALL BY NAME
SELECT 'bpe_pairs' AS part, * FROM {_sub("t22_bpe_merge_pairs")}
""",
)
def t04_vocab_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tagged_union(
        "part",
        [
            ("unigram", QUERIES["t04_vocabulary"](spark, sf_dir)),
            ("bpe_pairs", QUERIES["t22_bpe_merge_pairs"](spark, sf_dir)),
        ],
    )


@query(
    "f03_conditional_battery",
    # q05's CASE/IF pivot over orders folds in here (C4/C30 shares the
    # conditional-function family), freeing its slot for
    # s07_embedding_health
    oracle=f"""
SELECT 'null_fns' AS part, * FROM {_sub("f03_null_conditional")}
UNION ALL BY NAME
SELECT 'case_pivot' AS part, * FROM {_sub("q05_case_when")}
""",
)
def f03_conditional_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tagged_union(
        "part",
        [
            ("null_fns", QUERIES["f03_null_conditional"](spark, sf_dir)),
            ("case_pivot", QUERIES["q05_case_when"](spark, sf_dir)),
        ],
    )


@query(
    "s07_embedding_health",
    # the embedding-health family: post-processing invariants (s07;
    # the unit16 double array is EXCLUDED here — Spark and DuckDB
    # to_json render doubles differently, and the driver canonicalizer
    # can't hash list cells; the full array stays element-exact-checked
    # in the original s07's pytest oracle), k-center coreset (s08),
    # per-dim stats (s09), cosine-collapse histogram (s10)
    oracle=f"""
SELECT 'postproc' AS part, * EXCLUDE (unit16)
FROM {_sub("s07_embedding_postproc")}
UNION ALL BY NAME
SELECT 'kcenter' AS part, * FROM {_sub("s08_kcenter_coreset")}
UNION ALL BY NAME
SELECT 'dim_stats' AS part, * FROM {_sub("s09_dim_stats")}
UNION ALL BY NAME
SELECT 'cos_hist' AS part, * FROM {_sub("s10_cosine_histogram")}
""",
)
def s07_embedding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    postproc = QUERIES["s07_embedding_postproc"](spark, sf_dir).drop("unit16")
    return _tagged_union(
        "part",
        [
            ("postproc", postproc),
            ("kcenter", QUERIES["s08_kcenter_coreset"](spark, sf_dir)),
            ("dim_stats", QUERIES["s09_dim_stats"](spark, sf_dir)),
            ("cos_hist", QUERIES["s10_cosine_histogram"](spark, sf_dir)),
        ],
    )


# --------------------------------------------------------------------------
# Consolidation: folded originals leave the driver view (still in QUERIES).
# --------------------------------------------------------------------------
for _name in FOLDED:
    DRIVER_QUERIES.pop(_name, None)
    DRIVER_ORACLES.pop(_name, None)

# --------------------------------------------------------------------------
# Round-12 driver-window rotation (see module docstring): promote
# battery-part-only families to named driver rows; retire an equal number
# of rows that have been driver-green since round ≤5 (still in QUERIES).
# --------------------------------------------------------------------------
ROTATED_IN = (
    "u02_scd2_history",
    "cc03_pagerank_canonical",
    "ts05_seasonality",
    "qa03_drift_profile",
    "s11_ann_recall",
    "t21_novelty",
    "mm05_phash_neardup",
)
ROTATED_OUT = (
    "q06_group_concat",
    "q08_set_ops",
    "q09_semi_anti",
    "q10_subqueries",
    "f04_math",
    "f05_date",
    "q16_lateral_topn",
)
for _name in ROTATED_OUT:
    DRIVER_QUERIES.pop(_name, None)
    DRIVER_ORACLES.pop(_name, None)
for _name in ROTATED_IN:
    DRIVER_QUERIES[_name] = QUERIES[_name]
    DRIVER_ORACLES[_name] = ORACLES[_name]

# --------------------------------------------------------------------------
# Round-13 rotation: eight standalone families that never had a driver
# row get one (ANN IVF-refined / PQ, edit-distance verify, BPE merge
# pairs, Gopher n-gram fractions, correlation profile, frame dedup,
# table stats); nine rows driver-green since round ≤7 retire to
# pytest-oracle coverage (still in QUERIES, still benched). The ninth
# retirement makes room for the NEW m02_partition_routing row
# (schema_demo.py) inside the 50-slot window.
# --------------------------------------------------------------------------
ROTATED_IN_R13 = (
    "s04_knn_ivf_refined",
    "s06_knn_pq",
    "d13_editdistance_verify",
    "t22_bpe_merge_pairs",
    "t23_gopher_ngram_fractions",
    "qa05_correlation_profile",
    "mm06_frame_dedup",
    "val03_table_stats",
)
ROTATED_OUT_R13 = (
    "q02_region_revenue",
    "q03_left_join_counts",
    "d01_dedup_pipeline",
    "d07_decontamination",
    "t01_doc_profile",
    "p01_grouped_map_sessionize",
    "ts03_timeseries_battery",
    "qa01_quality_battery",
    "u01_upsert_battery",
)
for _name in ROTATED_OUT_R13:
    DRIVER_QUERIES.pop(_name, None)
    DRIVER_ORACLES.pop(_name, None)
for _name in ROTATED_IN_R13:
    DRIVER_QUERIES[_name] = QUERIES[_name]
    DRIVER_ORACLES[_name] = ORACLES[_name]

# --------------------------------------------------------------------------
# Round-14 rotation (battery rule, VERDICT r13 ask #3): the nine
# standalone families that have NEVER held a driver row get one
# (k-center coreset, embedding dim stats, cosine histogram, token-window
# chunking, CDC chunks, URL canonicalization, source mixing, multi-table
# near-dup, alternating-star components); nine rows driver-green for
# many consecutive rounds retire to pytest-oracle coverage (still in
# QUERIES, still benched). Retirements keep at least one driver row per
# SURVEY §2 family: dedup keeps d06/d11/d12/d13 (+ d08 in), ANN keeps
# s04/s06/s11 (+ s08/s09/s10 in), text keeps t07/t20-t23 (+ t10/t17/
# t19/t24 in), SQL-core keeps q01/q07/q11.
# --------------------------------------------------------------------------
ROTATED_IN_R14 = (
    "s08_kcenter_coreset",
    "s09_dim_stats",
    "s10_cosine_histogram",
    "t10_chunking",
    "t17_cdc_chunks",
    "t19_url_canonicalize",
    "t24_source_mixing",
    "d08_neardup_multitable",
    "cc02_labelprop_clusters",
)
ROTATED_OUT_R14 = (
    "d03_lsh_neardup",
    "t03_sampling",
    "t04_vocab_battery",
    "t08_repetition_battery",
    "s01_knn_methods",
    "r01_range_join",
    "a01_asof_join",
    "q12_pivot",
    "q15_recursive_cte",
)
for _name in ROTATED_OUT_R14:
    DRIVER_QUERIES.pop(_name, None)
    DRIVER_ORACLES.pop(_name, None)
for _name in ROTATED_IN_R14:
    DRIVER_QUERIES[_name] = QUERIES[_name]
    DRIVER_ORACLES[_name] = ORACLES[_name]

# --------------------------------------------------------------------------
# Round-15 rotation (battery rule, VERDICT r14 ask #2): the four round-14
# operators — the only families without a CORRECTNESS row ever — get
# driver rows (t25 BM25 saliency, t26 DSIR importance weights, d14 capped
# LSH, d16 banding tuning profile), plus the NEW d15 end-to-end capped
# pipeline (profile → choose banding → cap → verify → cluster, VERDICT
# r14 ask #1). Five rows driver-green for many consecutive rounds retire
# to pytest-oracle coverage (still in QUERIES, still benched).
# Retirements keep ≥1 driver row per SURVEY §2 family: SQL-core keeps
# q01/q07, streaming keeps w06, text keeps t10/t20–t24 (+t25/t26 in),
# dedup keeps d06/d08/d13 (+d14/d15/d16 in), crypto/net keeps f09.
# --------------------------------------------------------------------------
ROTATED_IN_R15 = (
    "t25_bm25_saliency",
    "t26_importance_weights",
    "d14_capped_lsh",
    "d15_capped_neardup_clusters",
    "d16_lsh_tuning",
    # the star contraction keeps driver coverage after the round-15
    # promotion swap (cc01 is min-label now, making cc02's row a
    # duplicate implementation — see merge_demo.py / PLANS.md)
    "cc04_star_clusters",
)
ROTATED_OUT_R15 = (
    "q11_grouping_sets",
    "w02_streaming_windowed",
    "t07_winnowing_fingerprints",
    "d11_semantic_dedup",
    "d12_incremental_dedup",
    "cc02_labelprop_clusters",
)
for _name in ROTATED_OUT_R15:
    DRIVER_QUERIES.pop(_name, None)
    DRIVER_ORACLES.pop(_name, None)
for _name in ROTATED_IN_R15:
    DRIVER_QUERIES[_name] = QUERIES[_name]
    DRIVER_ORACLES[_name] = ORACLES[_name]
