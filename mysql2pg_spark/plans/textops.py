"""Text-analysis queries over the documents table (net-new operator
family; graded alongside SURVEY §2 per BASELINE.json north_star).

Oracle fragments replicate the exact arithmetic of operators/textops.py
(occurrence counts, ratio bands) so results are bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql2pg_spark.operators import textops as T
from mysql2pg_spark.plans.registry import query
from mysql2pg_spark.tables import load_table

_NORM = "trim(lower(text))"
_TOKENS = f"string_split_regex({_NORM}, '\\s+')"

def _tf(
    spark: SparkSession, sf_dir: str, target: tuple | None = None
) -> DataFrame:
    """The (doc, term) TF frame of the corpus-statistics queries (t25
    BM25, t26 DSIR), built per call and pinned with a lazy
    localCheckpoint: each query reads it from several branches (doc
    lengths, document frequencies, the scored rows), and the pin keeps
    that to one parquet scan and one tokenize."""
    d = load_table(spark, sf_dir, "documents")
    extras = ()
    if target is not None:
        col, val = target
        extras = (("_is_t", F.col(col) == F.lit(val)),)
    return T.term_frequencies(
        d, "doc_id", "text", extra_cols=extras
    ).localCheckpoint(eager=False)


def _occ_sql(marker: str) -> str:
    return (
        f"(length({_NORM}) - length(replace({_NORM}, '{marker}', '')))"
        f" / {len(marker)}"
    )


def _lang_score_sql(lang: str) -> str:
    return (
        "CAST("
        + " + ".join(_occ_sql(m) for m in T.LANG_MARKERS[lang])
        + " AS BIGINT)"
    )


_BEST = "greatest(" + ", ".join(_lang_score_sql(l) for l in T.LANG_MARKERS) + ")"
_LANG_CASE = (
    "CASE "
    + " ".join(
        f"WHEN {_lang_score_sql(l)} > 0 AND {_lang_score_sql(l)} = {_BEST} THEN '{l}'"
        for l in T.LANG_MARKERS
    )
    + " ELSE 'und' END"
)


# --------------------------------------------------------------------------
# t01 — token stats + quality score + fingerprint.
# --------------------------------------------------------------------------
@query(
    "t01_text_stats",
    oracle=f"""
SELECT
  doc_id,
  CAST(len({_TOKENS}) AS BIGINT)                      AS n_tokens,
  md5(regexp_replace({_NORM}, '\\s+', ' ', 'g'))      AS fp,
  -- raw double, NO trailing round: round(x, 4) is the one op that is
  -- not cross-engine-exact (BigDecimal-over-binary vs x*1e4 rounding;
  -- diverged on one sf0.1 doc). The unrounded sum is bit-identical.
  (CASE WHEN len({_TOKENS}) >= 20 AND len({_TOKENS}) <= 80 THEN 0.4
         WHEN len({_TOKENS}) >= 5  AND len({_TOKENS}) < 20  THEN 0.2
         ELSE 0.0 END
    + CASE WHEN length(regexp_replace({_NORM}, '\\s+', '', 'g')) / len({_TOKENS}) >= 3
            AND length(regexp_replace({_NORM}, '\\s+', '', 'g')) / len({_TOKENS}) <= 8
           THEN 0.3 ELSE 0.1 END
    + (length(regexp_replace({_NORM}, '[^a-z]', '', 'g'))
       / greatest(length({_NORM}), 1)) * 0.3)         AS quality
FROM documents
ORDER BY doc_id
""",
)
def t01_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        T.fingerprint("text").alias("fp"),
        T.quality_score("text").alias("quality"),
    )


# --------------------------------------------------------------------------
# t02 — language-ID heuristic (marker-occurrence argmax).
# --------------------------------------------------------------------------
@query(
    "t02_lang_id",
    oracle=f"""
SELECT
  doc_id,
  {_lang_score_sql('en')}   AS s_en,
  {_lang_score_sql('de')}   AS s_de,
  {_lang_score_sql('fr')}   AS s_fr,
  {_lang_score_sql('es')}   AS s_es,
  {_LANG_CASE}              AS lang_pred
FROM documents
ORDER BY doc_id
""",
)
def t02_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.lang_score("text", "en").alias("s_en"),
        T.lang_score("text", "de").alias("s_de"),
        T.lang_score("text", "fr").alias("s_fr"),
        T.lang_score("text", "es").alias("s_es"),
        T.lang_id("text").alias("lang_pred"),
    )


# --------------------------------------------------------------------------
# t03 — deterministic train/val/test split: md5-hash bucketing (stable
# across engines, runs, and cluster sizes — the property RAND() splits
# lack). 80/10/10 by hash bucket.
# --------------------------------------------------------------------------
@query(
    "t03_train_test_split",
    oracle="""
WITH b AS (
  SELECT doc_id,
         CAST(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS BIGINT) * 16
         + CAST(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS BIGINT) AS bucket
  FROM documents
)
SELECT doc_id,
       CASE WHEN bucket < 204 THEN 'train'
            WHEN bucket < 230 THEN 'val'
            ELSE 'test' END AS split
FROM b
ORDER BY doc_id
""",
)
def t03_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    digit = lambda p: F.instr(F.lit("0123456789abcdef"), F.substring(h, p, 1)) - 1
    bucket = (digit(1).cast("bigint") * 16 + digit(2).cast("bigint"))
    split = (
        F.when(bucket < 204, "train")   # 204/256 ≈ 80%
        .when(bucket < 230, "val")      # 26/256 ≈ 10%
        .otherwise("test")
    )
    return d.select("doc_id", split.alias("split"))


# --------------------------------------------------------------------------
# t04 — vocabulary extraction: corpus-wide token frequencies, top-100
# with deterministic tie-break. One explode + one shuffle (map-side
# combined counts) — the canonical 100 TB vocabulary job.
# --------------------------------------------------------------------------
@query(
    "t04_vocabulary",
    oracle=f"""
SELECT token, n, rank FROM (
  SELECT token, n,
         ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rank
  FROM (
    SELECT t AS token, COUNT(*) AS n
    FROM (SELECT unnest({_TOKENS}) AS t FROM documents)
    GROUP BY t
  )
)
WHERE rank <= 100
ORDER BY rank
""",
)
def t04_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    # explode_outer: avoids InferFiltersFromGenerate tokenizing twice
    # (see textops.winnow_fingerprints docstring).
    counts = (
        d.select(F.explode_outer(T.tokens("text")).alias("token"))
        .filter(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), F.col("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 100)
    )


# --------------------------------------------------------------------------
# t05 — PII-style redaction: deterministic synthetic identifiers injected
# then scrubbed by regex (the shape of corpus-cleaning passes); regexes
# restricted to the Java∩RE2-compatible subset.
# --------------------------------------------------------------------------
@query(
    "t05_redaction",
    oracle="""
WITH synth AS (
  SELECT doc_id,
         'user' || CAST(doc_id AS VARCHAR) || '@mail.example ' ||
         'id=' || CAST(doc_id * 7919 AS VARCHAR) || ' ' || substr(text, 1, 40) AS raw
  FROM documents
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(raw, '[a-z0-9]+@[a-z.]+', '<EMAIL>', 'g'),
         'id=[0-9]+', 'id=<NUM>', 'g')                         AS redacted,
       CAST(length(raw) - length(regexp_replace(raw, '[0-9]', '', 'g')) AS BIGINT)
                                                                AS n_digits_before
FROM synth
ORDER BY doc_id
""",
)
def t05_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("user"), F.col("doc_id").cast("string"), F.lit("@mail.example "),
        F.lit("id="), (F.col("doc_id") * 7919).cast("string"), F.lit(" "),
        F.substring("text", 1, 40),
    )
    synth = d.select("doc_id", raw.alias("raw"))
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("raw"), r"[a-z0-9]+@[a-z.]+", "<EMAIL>"),
        r"id=[0-9]+",
        "id=<NUM>",
    )
    n_digits = (
        F.length("raw") - F.length(F.regexp_replace(F.col("raw"), r"[0-9]", ""))
    ).cast("bigint")
    return synth.select(
        "doc_id",
        redacted.alias("redacted"),
        n_digits.alias("n_digits_before"),
    )


# --------------------------------------------------------------------------
# t06 — deterministic stratified sampling (corpus rebalancing): keep 25%
# of the dominant language, 75% of the others, selected by the same
# md5-hash bucket as t03 — reproducible across engines/runs/cluster
# sizes where sampleBy's seeded RNG is not. Pure filter: no shuffle.
# --------------------------------------------------------------------------
@query(
    "t06_stratified_sample",
    oracle="""
WITH b AS (
  SELECT doc_id, lang, source,
         CAST(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS BIGINT) * 16
         + CAST(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS BIGINT) AS bucket
  FROM documents
)
SELECT doc_id, lang, source
FROM b
WHERE bucket < CASE WHEN lang = 'en' THEN 64 ELSE 192 END
""",
)
def t06_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    digit = lambda p: F.instr(F.lit("0123456789abcdef"), F.substring(h, p, 1)) - 1
    bucket = digit(1).cast("bigint") * 16 + digit(2).cast("bigint")
    rate_bucket = F.when(F.col("lang") == "en", 64).otherwise(192)
    return d.filter(bucket < rate_bucket).select("doc_id", "lang", "source")


# --------------------------------------------------------------------------
# p02 — sequence packing (training-batch assembly): first-fit into
# 1024-char bins. The driver-checked path is the 100 TB-safe SHARDED
# packer (operators/grouped.py:pack_sequences_sharded): bins bounded to
# (source, doc_id DIV 1000) sub-shards packed concurrently, shard-local
# bin ids stitched group-global with a prefix-sum of per-shard bin
# counts. The oracle replays the identical algorithm: recursive-CTE
# first-fit per (source, shard), then the same cumulative stitch. (The
# unsharded single-scan variant keeps its own oracle in
# tests/test_pipeline_ops.py.)
# --------------------------------------------------------------------------
@query(
    "p02_sequence_packing",
    oracle="""
WITH RECURSIVE d AS (
  SELECT source, doc_id, n_chars, doc_id // 1000 AS shard,
         row_number() OVER (PARTITION BY source, doc_id // 1000
                            ORDER BY doc_id) AS rn
  FROM documents
), packed AS (
  SELECT source, shard, doc_id, n_chars, rn,
         CAST(0 AS BIGINT) AS bin_id,
         CAST(0 AS BIGINT) AS seq_offset,
         n_chars AS fill
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.source, d.shard, d.doc_id, d.n_chars, d.rn,
         CASE WHEN p.fill + d.n_chars > 1024 THEN p.bin_id + 1 ELSE p.bin_id END,
         CASE WHEN p.fill + d.n_chars > 1024 THEN CAST(0 AS BIGINT) ELSE p.fill END,
         CASE WHEN p.fill + d.n_chars > 1024 THEN d.n_chars ELSE p.fill + d.n_chars END
  FROM packed p
  JOIN d ON d.source = p.source AND d.shard = p.shard AND d.rn = p.rn + 1
), nb AS (
  SELECT source, shard, max(bin_id) + 1 AS n_bins FROM packed GROUP BY 1, 2
), o AS (
  SELECT source, shard,
         coalesce(sum(n_bins) OVER (PARTITION BY source ORDER BY shard
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS bin_offset
  FROM nb
)
SELECT p.source, p.doc_id, CAST(p.n_chars AS BIGINT) AS n_chars,
       CAST(p.bin_id + o.bin_offset AS BIGINT) AS bin_id, p.seq_offset
FROM packed p JOIN o ON o.source = p.source AND o.shard = p.shard
""",
)
def p02_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2pg_spark.operators.grouped import pack_sequences_sharded

    d = load_table(spark, sf_dir, "documents")
    return pack_sequences_sharded(d, capacity=1024, shard_size=1000)


# --------------------------------------------------------------------------
# t07 — winnowing fingerprints (rolling hash): the MOSS document-
# fingerprinting algorithm, pure JVM higher-order functions on the Spark
# side; the oracle replays the identical integer arithmetic with DuckDB
# list lambdas (BASE/MOD sized so both engines stay exactly in int64).
# --------------------------------------------------------------------------
_WIN_TERMS = " + ".join(
    f"codes[i+{j}]*{pow(T.WINNOW_BASE, T.WINNOW_K - 1 - j, T.WINNOW_MOD)}"
    for j in range(T.WINNOW_K)
)


@query(
    "t07_winnowing_fingerprints",
    oracle=f"""
WITH c1 AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'),
                        '[^a-z0-9 ]', '', 'g') AS s
  FROM documents
), c2 AS (
  SELECT doc_id,
         list_transform(range(1, length(s)+1),
                        i -> CAST(ascii(substr(s, CAST(i AS INT), 1)) AS BIGINT)) AS codes
  FROM c1
), c3 AS (
  SELECT doc_id, CASE WHEN len(codes) >= {T.WINNOW_K} THEN
      list_transform(range(1, len(codes)-{T.WINNOW_K}+2),
                     i -> ({_WIN_TERMS}) % {T.WINNOW_MOD})
      ELSE [] END AS hs
  FROM c2
), c4 AS (
  SELECT doc_id, CASE WHEN len(hs) >= {T.WINNOW_W} THEN
      list_distinct(list_transform(
          range(1, len(hs)-{T.WINNOW_W}+2),
          p -> list_aggregate(list_slice(hs, p, p+{T.WINNOW_W}-1), 'min')))
      ELSE [] END AS fps
  FROM c3
)
SELECT doc_id, unnest(fps) AS fp FROM c4
""",
)
def t07_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return T.winnow_fingerprints(d)


# --------------------------------------------------------------------------
# t08 — repetition detection (Gopher-style quality signal): per-doc
# duplicate-sentence ratio. Sentences = '. '-splits of normalized text;
# ratio = (n - n_distinct) / n. Pure HOFs, one projection per stage.
# --------------------------------------------------------------------------
@query(
    "t08_repetition",
    oracle="""
WITH s AS (
  SELECT doc_id,
         list_filter(string_split(trim(lower(text)), '. '),
                     x -> length(x) > 0) AS sents
  FROM documents
)
SELECT doc_id,
       CAST(len(sents) AS BIGINT)                 AS n_sentences,
       CAST(len(list_distinct(sents)) AS BIGINT)  AS n_distinct,
       (CAST(len(sents) - len(list_distinct(sents)) AS DOUBLE)
             / CAST(len(sents) AS DOUBLE))        AS dup_ratio
FROM s
WHERE len(sents) > 0
""",
)
def t08_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sents = F.filter(
        F.split(T.normalize_text("text"), r"\. "), lambda x: F.length(x) > 0
    )
    p1 = d.select("doc_id", sents.alias("sents"))
    n = F.size("sents")
    nd = F.size(F.array_distinct("sents"))
    return (
        p1.filter(n > 0)
        .select(
            "doc_id",
            n.cast("bigint").alias("n_sentences"),
            nd.cast("bigint").alias("n_distinct"),
            # raw int/int double — no F.round (half-way decimal
            # rounding of doubles is engine-specific; 0.5/0.15 ratios
            # here CAN land on exact halves at 6 digits)
            ((n - nd).cast("double") / n.cast("double")).alias("dup_ratio"),
        )
    )


# --------------------------------------------------------------------------
# t09 — BPE-ish token counting next to whitespace counting: GPT-2-style
# pre-tokenizer pieces (contractions / letter runs / digit runs /
# punctuation runs), whitespace pieces excluded. The piece count tracks
# real tokenizer counts far better than whitespace words on code/punct
# text. Not in the driver window; pytest-oracle-checked.
# --------------------------------------------------------------------------
from mysql2pg_spark.operators.textops import BPE_SPLIT_RE  # noqa: E402

_BPE_SQL_PAT = BPE_SPLIT_RE.replace("'", "''")


@query(
    "t09_bpe_token_counts",
    oracle=f"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS BIGINT)
         AS n_ws_tokens,
       CAST(len(list_filter(regexp_extract_all(text, '{_BPE_SQL_PAT}'),
                            x -> NOT regexp_matches(x, '^\\s+$'))) AS BIGINT)
         AS n_bpe_tokens
FROM documents
ORDER BY doc_id
""",
    driver=False,
)
def t09_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2pg_spark.operators import textops as T

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.token_count("text").alias("n_ws_tokens"),
        T.bpe_token_count("text").alias("n_bpe_tokens"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# t10 — token-window chunking: split each document into fixed-size token
# windows with overlap (stride < size), the standard pre-training /
# embedding chunker. Pure HOFs over a materialized token array (one
# sequence → slice per window start), exploded to one row per chunk.
# Window starts at 0, stride CHUNK_STRIDE; short tails kept (a doc
# shorter than the window yields exactly one chunk).
# --------------------------------------------------------------------------
CHUNK_SIZE = 64
CHUNK_STRIDE = 48


@query(
    "t10_chunking",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
),
starts AS (
  SELECT doc_id, t,
         unnest(range(0, greatest(len(t) - {CHUNK_SIZE}, 0) + 1, {CHUNK_STRIDE}))
           AS start
  FROM toks
)
SELECT doc_id, CAST(start AS BIGINT) AS chunk_start,
       CAST(len(list_slice(t, start + 1, start + {CHUNK_SIZE})) AS BIGINT)
         AS n_tokens,
       array_to_string(list_slice(t, start + 1, start + {CHUNK_SIZE}), ' ')
         AS chunk_text
FROM starts
ORDER BY doc_id, chunk_start
""",
    driver=False,
)
def t10_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", T.tokens("text").alias("t"))
    # window starts: 0, stride, 2*stride, … ≤ max(len-size, 0)
    starts = toks.select(
        "doc_id",
        "t",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.size("t") - CHUNK_SIZE, F.lit(0)),
                F.lit(CHUNK_STRIDE),
            )
        ).alias("chunk_start"),
    )
    chunk = F.slice(F.col("t"), F.col("chunk_start") + 1, CHUNK_SIZE)
    return starts.select(
        "doc_id",
        F.col("chunk_start").cast("bigint"),
        F.size(chunk).cast("bigint").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    ).orderBy("doc_id", "chunk_start")


# --------------------------------------------------------------------------
# t11 — corpus-frequency boilerplate filtering (C4/CCNet-style): the
# top-10 corpus tokens are the stoplist (count DESC, token ASC — exact
# deterministic tie-break on both engines); docs report total/kept token
# counts and the first 10 surviving tokens in order. Not in the driver
# window (50-slot cap); pytest-oracle-checked.
# --------------------------------------------------------------------------
@query(
    "t11_boilerplate_filter",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(ts) AS tok, unnest(range(1, len(ts) + 1)) AS ord
  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
), stop AS (
  SELECT tok FROM toks GROUP BY tok ORDER BY count(*) DESC, tok ASC LIMIT 10
), kept AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         array_to_string((list(tok ORDER BY ord))[1:10], ' ') AS kept_preview
  FROM toks WHERE tok NOT IN (SELECT tok FROM stop)
  GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
       coalesce(k.n_kept, 0) AS n_kept,
       coalesce(k.kept_preview, '') AS kept_preview
FROM documents d LEFT JOIN kept k USING (doc_id)
ORDER BY d.doc_id
""",
    driver=False,
)
def t11_boilerplate_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2pg_spark.operators.textops import corpus_stopword_filter

    d = load_table(spark, sf_dir, "documents")
    return corpus_stopword_filter(d, top_n=10, preview=10)


# --------------------------------------------------------------------------
# t12 — corpus-trained character-trigram frequency scoring: the shape of
# CCNet/Gopher LM-perplexity quality filtering with the external model
# replaced by the corpus's own trigram statistics. All exact integer
# arithmetic plus single IEEE divisions, so it hash-matches. Not in the
# driver window (50-slot cap); pytest-oracle-checked.
# --------------------------------------------------------------------------
RARE_MAX = 2


@query(
    "t12_trigram_lm",
    oracle=f"""
WITH g AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, greatest(length({_NORM}) - 2, 0) + 1),
           i -> substr({_NORM}, i, 3))) AS g
  FROM documents
),
model AS (SELECT g, count(*) AS freq FROM g GROUP BY g)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(freq) AS BIGINT) AS sum_freq,
       CAST(sum(freq) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_freq,
       CAST(sum(CASE WHEN freq <= {RARE_MAX} THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS rare_ratio
FROM g JOIN model USING (g)
GROUP BY doc_id
ORDER BY doc_id
""",
    driver=False,
)
def t12_trigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return T.trigram_lm_scores(d, "doc_id", "text", RARE_MAX)


# --------------------------------------------------------------------------
# t13 — exact per-source length-decile profile (data profiling for shard
# sizing / length filtering). Integer-only rank arithmetic so the order
# statistics are engine-exact. Not in the driver window (50-slot cap);
# pytest-oracle-checked.
# --------------------------------------------------------------------------
@query(
    "t13_length_profile",
    oracle="""
WITH r AS (
  SELECT source, n_chars, doc_id,
         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT source, d.d AS decile, CAST(n_chars AS BIGINT) AS value,
       CAST(n AS BIGINT) AS n_rows
FROM r, UNNEST(range(1, 11)) AS d(d)
WHERE (d.d * n + 9) // 10 = rn
ORDER BY source, decile
""",
    driver=False,
)
def t13_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2pg_spark.operators.quality import decile_profile

    d = load_table(spark, sf_dir, "documents")
    return decile_profile(d, "source", "n_chars", "doc_id")


# --------------------------------------------------------------------------
# t14 — sub-document (passage-level) corpus dedup with reassembly
# (RefinedWeb-style): each 6-token chunk survives only at its first
# (doc_id, pos) occurrence corpus-wide; docs are rejoined from their
# surviving chunks. The canonical pick is a map-side-combinable
# min(struct) — no window over the (skew-prone) chunk partition. Not in
# the driver window; pytest-oracle-checked.
# --------------------------------------------------------------------------
CHUNK_TOKENS = 6


@query(
    "t14_chunk_dedup",
    oracle=f"""
WITH base AS (
  SELECT doc_id,
         list_transform(
           range(1, (len(string_split({_NORM}, ' ')) + {CHUNK_TOKENS - 1})
                     // {CHUNK_TOKENS} + 1),
           i -> array_to_string(
                  (string_split({_NORM}, ' '))
                    [(i-1)*{CHUNK_TOKENS}+1 : i*{CHUNK_TOKENS}], ' ')) AS sents
  FROM documents
), s AS (
  SELECT doc_id, unnest(sents) AS sent,
         unnest(range(1, len(sents) + 1)) - 1 AS pos
  FROM base
), mins AS (
  SELECT sent, doc_id, pos FROM (
    SELECT sent, doc_id, pos,
           row_number() OVER (PARTITION BY sent ORDER BY doc_id, pos) AS rn
    FROM s
  ) WHERE rn = 1
), kept AS (
  SELECT s.doc_id, s.pos, s.sent
  FROM s JOIN mins ON mins.sent = s.sent AND mins.doc_id = s.doc_id
                   AND mins.pos = s.pos
), agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         array_to_string(list(sent ORDER BY pos), ' ') AS dedup_text
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id, CAST(len(b.sents) AS BIGINT) AS n_chunks,
       coalesce(a.n_kept, 0) AS n_kept,
       coalesce(a.dedup_text, '') AS dedup_text
FROM base b LEFT JOIN agg a USING (doc_id)
ORDER BY b.doc_id
""",
    driver=False,
)
def t14_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2pg_spark.tables import fan_out

    # round 16: fan_out the single-split scan (no-op at scale);
    # 1.64 s → 1.37 s, and t15/curation inherit the gain
    d = fan_out(load_table(spark, sf_dir, "documents"))
    return T.chunk_dedup_docs(d, "doc_id", "text", CHUNK_TOKENS)


# --------------------------------------------------------------------------
# t15 — the assembled corpus quality gate: length + heuristic quality +
# passage-dedup survival composed into a keep/drop verdict with a NAMED
# first-failing reason per doc (the quarantine pattern applied to
# training-corpus curation). Pure composition of green sub-queries, so
# the oracle composes their SQL. Not in the driver window;
# pytest-oracle-checked.
# --------------------------------------------------------------------------
from mysql2pg_spark.plans.registry import ORACLES as _ORACLES  # noqa: E402

MIN_TOKENS = 20
MIN_QUALITY = 0.75
MIN_KEPT_RATIO = 0.9


def _t15_oracle() -> str:
    # compose the component oracles as FROM-position subqueries (the
    # merged.py pattern); they are the single source of truth.
    return f"""
SELECT q.doc_id, q.n_tokens, q.quality,
       CAST(d.n_kept AS DOUBLE) / CAST(d.n_chunks AS DOUBLE) AS kept_ratio,
       CASE WHEN q.n_tokens < {MIN_TOKENS} THEN 'too_short'
            WHEN q.quality < {MIN_QUALITY} THEN 'low_quality'
            WHEN CAST(d.n_kept AS DOUBLE) / CAST(d.n_chunks AS DOUBLE)
                 < {MIN_KEPT_RATIO} THEN 'duplicated'
            ELSE NULL END AS drop_reason,
       (q.n_tokens >= {MIN_TOKENS} AND q.quality >= {MIN_QUALITY}
        AND CAST(d.n_kept AS DOUBLE) / CAST(d.n_chunks AS DOUBLE)
            >= {MIN_KEPT_RATIO}) AS keep
FROM ({_ORACLES["t01_text_stats"]}) q
JOIN ({_ORACLES["t14_chunk_dedup"]}) d USING (doc_id)
ORDER BY q.doc_id
"""


@query(
    "t15_quality_gate",
    oracle=_t15_oracle(),
    driver=False,
)
def t15_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2pg_spark.operators.quality import quarantine_split
    from mysql2pg_spark.plans.registry import QUERIES as _Q

    q = _Q["t01_text_stats"](spark, sf_dir).select(
        "doc_id", "n_tokens", "quality"
    )
    d = _Q["t14_chunk_dedup"](spark, sf_dir).select(
        "doc_id",
        (
            F.col("n_kept").cast("double") / F.col("n_chunks").cast("double")
        ).alias("kept_ratio"),
    )
    j = q.join(d, "doc_id")
    gated = quarantine_split(
        j,
        [
            ("too_short", F.col("n_tokens") >= MIN_TOKENS),
            ("low_quality", F.col("quality") >= MIN_QUALITY),
            ("duplicated", F.col("kept_ratio") >= MIN_KEPT_RATIO),
        ],
    )
    return gated.select(
        "doc_id",
        "n_tokens",
        "quality",
        "kept_ratio",
        F.col("quarantine_reason").alias("drop_reason"),
        F.col("quarantine_reason").isNull().alias("keep"),
    )


# --------------------------------------------------------------------------
# t16 — deterministic source-weighted data mixing: every doc is
# replicated floor(w) times plus one more with probability frac(w),
# decided by an md5 hash coin — the pretraining data-mix op (source
# upsampling/downsampling as "epochs"). Weights are expressed in 256ths
# so the acceptance compare is pure integer arithmetic, and weight
# values (multiples of 1/256) are exact doubles — engine-exact
# everywhere. The explode is per-row (no shuffle); a repartition by any
# key downstream shuffles the mixed corpus once. Not in the driver
# window; pytest-oracle-checked.
# --------------------------------------------------------------------------
# source class (src<N> % 4) → weight in 256ths: downsample ×0.25,
# keep ×1, fractional upsample ×1.5, multi-epoch ×2.75.
_MIX_W256 = {0: 64, 1: 256, 2: 384, 3: 704}


@query(
    "t16_weighted_mix",
    oracle=f"""
WITH b AS (
  SELECT doc_id, source,
         CAST(substr(source, 4) AS INT) % 4 AS cls,
         CAST(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS BIGINT) * 16
         + CAST(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS BIGINT) AS bucket
  FROM documents
), n AS (
  SELECT doc_id, source,
         CASE cls {' '.join(f"WHEN {k} THEN {v}" for k, v in _MIX_W256.items())} END AS w256,
         bucket
  FROM b
)
SELECT doc_id, source, CAST(w256 AS DOUBLE) / 256.0 AS weight,
       CAST(u.i AS BIGINT) AS copy_idx
FROM n, UNNEST(range(0, w256 // 256
         + CASE WHEN bucket < w256 % 256 THEN 1 ELSE 0 END)) AS u(i)
ORDER BY doc_id, copy_idx
""",
    driver=False,
)
def t16_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    cls = F.substring("source", 4, 10).cast("int") % 4
    w256 = F.lit(None).cast("bigint")
    for k, v in reversed(_MIX_W256.items()):
        w256 = F.when(cls == k, F.lit(v)).otherwise(w256)
    h = F.md5(F.col("doc_id").cast("string"))
    digit = lambda p: F.instr(F.lit("0123456789abcdef"), F.substring(h, p, 1)) - 1
    bucket = digit(1).cast("bigint") * 16 + digit(2).cast("bigint")
    n_copies = (
        F.floor(w256 / F.lit(256.0)).cast("bigint")
        + F.when(bucket < w256 % 256, F.lit(1)).otherwise(F.lit(0))
    )
    return (
        d.select(
            "doc_id",
            "source",
            (w256.cast("double") / F.lit(256.0)).alias("weight"),
            n_copies.alias("_n"),
        )
        .filter(F.col("_n") >= 1)
        .select(
            "doc_id",
            "source",
            "weight",
            F.explode(
                F.sequence(F.lit(0).cast("bigint"), F.col("_n") - 1)
            ).alias("copy_idx"),
        )
    )


# --------------------------------------------------------------------------
# t17 — content-defined chunking (Rabin/FastCDC shape): boundaries where
# the rolling k-gram hash ≡ 0 (mod 64), so edits only move boundaries
# near the edit (fixed-size chunks re-fingerprint the whole tail after
# one shifted byte) — the storage-dedup / delta-sync unit. Same rolling
# hash as t07, identical integer arithmetic both engines. Not in the
# driver window; pytest-oracle-checked.
# --------------------------------------------------------------------------
@query(
    "t17_cdc_chunks",
    oracle=f"""
WITH c1 AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'),
                        '[^a-z0-9 ]', '', 'g') AS s
  FROM documents
), c2 AS (
  SELECT doc_id, s,
         list_transform(range(1, length(s)+1),
                        i -> CAST(ascii(substr(s, CAST(i AS INT), 1)) AS BIGINT)) AS codes
  FROM c1
), c3 AS (
  SELECT doc_id, s, CASE WHEN len(codes) >= {T.WINNOW_K} THEN
      list_transform(range(1, len(codes)-{T.WINNOW_K}+2),
                     i -> ({_WIN_TERMS}) % {T.WINNOW_MOD})
      ELSE [] END AS hs
  FROM c2
), c4 AS (
  SELECT doc_id, s,
         list_concat(list_concat([CAST(1 AS BIGINT)],
           CASE WHEN len(hs) >= 2 THEN
             list_filter(range(2, len(hs)+1), i -> hs[i] % {T.CDC_DIVISOR} = 0)
           ELSE [] END),
           [CAST(length(s)+1 AS BIGINT)]) AS bounds
  FROM c3
)
SELECT doc_id, CAST(u.j AS BIGINT) AS chunk_idx,
       CAST(bounds[u.j+1] - bounds[u.j] AS BIGINT) AS chunk_len,
       md5(substr(s, CAST(bounds[u.j] AS INT),
                  CAST(bounds[u.j+1] - bounds[u.j] AS INT))) AS chunk_md5
FROM c4, unnest(range(1, len(bounds))) AS u(j)
ORDER BY doc_id, chunk_idx
""",
    driver=False,
)
def t17_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return T.cdc_chunks(d, "doc_id", "text")


# --------------------------------------------------------------------------
# t18 — exact per-stratum quota sampling: the K docs per source with the
# smallest md5(doc_id) — a deterministic "random" quota (eval-set
# construction), vs t06's rate-based stratified sampling. One window per
# stratum; hash order is engine-independent. Not in the driver window;
# pytest-oracle-checked.
# --------------------------------------------------------------------------
QUOTA_K = 5


@query(
    "t18_quota_sample",
    oracle=f"""
SELECT doc_id, source, h FROM (
  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS h,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rn
  FROM documents
) WHERE rn <= {QUOTA_K}
ORDER BY source, h
""",
    driver=False,
)
def t18_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source").orderBy(h, F.col("doc_id"))
    return (
        d.select("doc_id", "source", h.alias("h"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= QUOTA_K)
        .select("doc_id", "source", "h")
    )


# --------------------------------------------------------------------------
# t19 — URL canonicalization + dedup grouping: the normalize step every
# crawl pipeline runs before URL-level dedup (lowercase scheme/host,
# strip default port and fragment, drop tracking params, sort the rest,
# trim trailing slash), then group-size by canonical fingerprint. The
# corpus has no URL column, so a deterministic messy URL is synthesized
# per document (mixed case, :443, utm_* junk, fragment) — the
# canonicalizer's input contract, not its implementation, is synthetic.
# Pure JVM expressions (regexp + array HOFs): map-only until the one
# fingerprint groupBy. Not in the driver window; pytest-oracle-checked.
# --------------------------------------------------------------------------
@query(
    "t19_url_canonicalize",
    oracle="""
WITH raw AS (
  SELECT doc_id,
         'HTTPS://' || upper(source) || '.Example.COM:443/Docs/'
           || CAST(doc_id % 97 AS VARCHAR)
           || '/?utm_source=feed&b=' || CAST(doc_id % 7 AS VARCHAR)
           || '&a=' || lang || '#frag' AS url
  FROM documents
), parts AS (
  SELECT doc_id,
         lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
         lower(regexp_extract(url, '^[A-Za-z]+://([^/:?#]+)', 1)) AS host,
         regexp_extract(url, '^[A-Za-z]+://[^/:?#]+:([0-9]+)', 1) AS port,
         regexp_replace(
           regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),
           '/+$', '') AS path,
         array_to_string(
           list_sort(list_filter(
             string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
             p -> p <> '' AND NOT regexp_matches(p, '^utm_')
                  AND NOT regexp_matches(p, '^fbclid=')
           )), '&') AS q
  FROM raw
), canon AS (
  SELECT doc_id,
         scheme || '://' || host
           || CASE WHEN port <> '' AND NOT (
                     (scheme = 'https' AND port = '443')
                  OR (scheme = 'http' AND port = '80'))
              THEN ':' || port ELSE '' END
           || path
           || CASE WHEN q <> '' THEN '?' || q ELSE '' END AS canonical
  FROM parts
)
SELECT doc_id, canonical, md5(canonical) AS url_fp,
       CAST(COUNT(*) OVER (PARTITION BY canonical) AS BIGINT) AS n_same_url
FROM canon
ORDER BY doc_id
""",
    driver=False,
)
def t19_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://"), F.upper("source"), F.lit(".Example.COM:443/Docs/"),
        (F.col("doc_id") % 97).cast("string"),
        F.lit("/?utm_source=feed&b="), (F.col("doc_id") % 7).cast("string"),
        F.lit("&a="), F.col("lang"), F.lit("#frag"),
    )
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z]+)://", 1))
    host = F.lower(F.regexp_extract(url, r"^[A-Za-z]+://([^/:?#]+)", 1))
    port = F.regexp_extract(url, r"^[A-Za-z]+://[^/:?#]+:([0-9]+)", 1)
    path = F.regexp_replace(
        F.regexp_extract(url, r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1), r"/+$", ""
    )
    params = F.filter(
        F.split(F.regexp_extract(url, r"\?([^#]*)", 1), "&"),
        lambda p: (p != "")
        & ~p.startswith("utm_")
        & ~p.startswith("fbclid="),
    )
    q = F.array_join(F.sort_array(params), "&")
    default_port = ((scheme == "https") & (port == "443")) | (
        (scheme == "http") & (port == "80")
    )
    canonical = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(
            (port != "") & ~default_port, F.concat(F.lit(":"), port)
        ).otherwise(F.lit("")),
        path,
        F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
    )
    w = Window.partitionBy("canonical")
    return (
        d.select("doc_id", canonical.alias("canonical"))
        .withColumn("url_fp", F.md5("canonical"))
        .withColumn("n_same_url", F.count(F.lit(1)).over(w).cast("bigint"))
        .select("doc_id", "canonical", "url_fp", "n_same_url")
    )


# --------------------------------------------------------------------------
# t20 — substring-level duplicate spans (ExactSubstr dedup semantics at
# k-gram granularity, Lee et al. arXiv:2107.06499): maximal token spans
# whose every k-gram occurs >= 2 times corpus-wide. The oracle replays
# the identical positional-gram -> occurrence-count -> islands pipeline.
# --------------------------------------------------------------------------
_DS_K = 8


@query(
    "t20_dup_spans",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_TOKENS} AS toks FROM documents
),
g AS (
  SELECT doc_id, pg.pos AS pos, pg.gram AS gram FROM (
    SELECT doc_id,
           unnest(list_transform(
             range(1, greatest(len(toks) - {_DS_K} + 1, 0) + 1),
             i -> {{'pos': i - 1,
                   'gram': array_to_string(toks[i:i + {_DS_K - 1}], ' ')}})) AS pg
    FROM t)
),
dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
hits AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM hits
)
SELECT doc_id,
       CAST(min(pos) AS BIGINT)                    AS span_start,
       CAST(max(pos) + {_DS_K} - 1 AS BIGINT)      AS span_end,
       CAST(max(pos) - min(pos) + {_DS_K} AS BIGINT) AS span_tokens,
       count(*)                                    AS n_grams
FROM isl GROUP BY doc_id, grp
ORDER BY doc_id, span_start
""",
)
def t20_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2pg_spark.tables import fan_out

    # round 16: the positional-ngram build ran in the one fixture-scan
    # task; fan_out parallelizes it (no-op at scale). 2.75 s → 1.80 s.
    d = fan_out(load_table(spark, sf_dir, "documents"))
    return T.duplicate_spans(d, k=_DS_K).orderBy("doc_id", "span_start")


# --------------------------------------------------------------------------
# t21 — corpus novelty attribution: scanning docs in id order, what
# fraction of each doc's distinct k-grams appear here FIRST? The
# standard marginal-contribution metric for curation (a doc that mostly
# repeats earlier grams adds little; dedup's continuous cousin).
# Shuffle shape is identical to t20/d07: gram min-reduce (map-side
# combinable), gram equi-join back, per-doc count — no pair joins.
# --------------------------------------------------------------------------
_NOV_K = 3


@query(
    "t21_novelty",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_TOKENS} AS toks FROM documents
),
g AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(toks) - {_NOV_K} + 1, 0) + 1),
           i -> array_to_string(toks[i:i + {_NOV_K - 1}], ' ')))) AS gram
  FROM t
),
first AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram)
SELECT g.doc_id,
       count(*)                                            AS n_grams,
       CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
            AS BIGINT)                                     AS n_novel,
       CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
            AS DOUBLE) / count(*)                          AS novelty
FROM g JOIN first f USING (gram)
GROUP BY g.doc_id
ORDER BY g.doc_id
""",
    driver=False,
)
def t21_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round 16: routing this gram build through shingle_sets' Arrow
    # kernel was MEASURED SLOWER (2.0 s -> 11.8 s warm at sf0.1): the
    # gram subtree executes twice (min-reduce + join back), so the
    # Python boundary is paid twice with no cache to amortize it. The
    # JVM HOF chain stays.
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", T.tokens("text").alias("toks"))
    grams = toks.select(
        "doc_id",
        F.explode(T.ngrams_from_tokens(F.col("toks"), _NOV_K)).alias("gram"),
    )
    first = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    ).cast("bigint")
    return (
        grams.join(first, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            novel.alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            (F.col("n_novel").cast("double") / F.col("n_grams")).alias(
                "novelty"
            ),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# t22 — BPE merge-pair statistics: corpus-wide counts of ADJACENT piece
# pairs (whitespace pieces excluded), the argmax of which is exactly the
# merge rule BPE training learns next. One explode + one pair groupBy
# (map-side combinable) — the scalable inner loop of distributed
# tokenizer training. Top 20 with a total (n, left, right) order so the
# LIMIT boundary is engine-independent.
# --------------------------------------------------------------------------
@query(
    "t22_bpe_merge_pairs",
    oracle=f"""
WITH p AS (
  SELECT doc_id,
         list_filter(regexp_extract_all(text, '{_BPE_SQL_PAT}'),
                     x -> NOT regexp_matches(x, '^\\s+$')) AS p
  FROM documents
),
pr AS (
  SELECT unnest(list_transform(range(1, greatest(len(p) - 1, 0) + 1),
                i -> {{'l': p[i], 'r': p[i + 1]}})) AS pair
  FROM p
)
SELECT pair.l AS left_piece, pair.r AS right_piece, count(*) AS n
FROM pr GROUP BY 1, 2
ORDER BY n DESC, left_piece, right_piece
LIMIT 20
""",
    driver=False,
)
def t22_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pieces = F.filter(
        T.bpe_tokens("text"), lambda t: ~t.rlike(r"^\s+$")
    )
    base = d.select(pieces.alias("p"))
    p = F.col("p")
    pairs = F.when(
        F.size(p) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(p) - 1, F.lit(1))),
            lambda i: F.struct(
                F.element_at(p, i).alias("left_piece"),
                F.element_at(p, i + 1).alias("right_piece"),
            ),
        ),
    ).otherwise(
        F.array().cast("array<struct<left_piece:string,right_piece:string>>")
    )
    return (
        base.select(F.explode(pairs).alias("pr"))
        .select("pr.left_piece", "pr.right_piece")
        .groupBy("left_piece", "right_piece")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "left_piece", "right_piece")
        .limit(20)
    )


# --------------------------------------------------------------------------
# t23 — Gopher-style top-n-gram repetition signals (Rae et al.
# arXiv:2112.11446 Table A1): for n = 2,3,4 the statistic
# count·n / n_tokens of the doc's MOST FREQUENT n-gram — the
# "most common 2-gram > 0.20 of text" family of filter rules. NOTE:
# overlapping occurrences are counted as Gopher does, so the value can
# EXCEED 1.0 on degenerate repeats ("x x x x" → top2 = 1.5); it is a
# repetition score thresholded low, not a [0,1] coverage fraction.
# ONE scan: all three gram sizes ride a single (n, gram) explode, then
# per-(doc, n, gram) count → per-(doc, n) max → pivot; every stage
# map-side combinable.
# --------------------------------------------------------------------------
def _topgram_sql(n: int) -> str:
    return f"""
  SELECT doc_id, max(c) AS m{n} FROM (
    SELECT doc_id, gram, count(*) AS c FROM (
      SELECT doc_id,
             unnest(list_transform(
               range(1, greatest(len(toks) - {n} + 1, 0) + 1),
               i -> array_to_string(toks[i:i + {n - 1}], ' '))) AS gram
      FROM t) GROUP BY doc_id, gram
  ) GROUP BY doc_id"""


@query(
    "t23_gopher_ngram_fractions",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
g2 AS ({_topgram_sql(2)}),
g3 AS ({_topgram_sql(3)}),
g4 AS ({_topgram_sql(4)})
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT)                        AS n_tokens,
       CAST(g2.m2 * 2 AS DOUBLE) / len(t.toks)            AS top2_frac,
       CAST(g3.m3 * 3 AS DOUBLE) / len(t.toks)            AS top3_frac,
       CAST(g4.m4 * 4 AS DOUBLE) / len(t.toks)            AS top4_frac
FROM t
LEFT JOIN g2 ON g2.doc_id = t.doc_id
LEFT JOIN g3 ON g3.doc_id = t.doc_id
LEFT JOIN g4 ON g4.doc_id = t.doc_id
ORDER BY t.doc_id
""",
    driver=False,
)
def t23_gopher_ngram_fractions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round 16 (optimization, guide §2.4 "remove shuffles outright"):
    # the (doc, n, gram) counts this metric maxes over are DOC-LOCAL —
    # no cross-document aggregation anywhere — so the previous
    # explode → groupBy(doc,n,gram) → pivot plan shuffled ~750k gram
    # STRINGS twice for a per-row computation. One Arrow kernel now
    # computes each doc's top-gram count per n in place (tokenization
    # stays JVM split so the token stream is bit-identical); the
    # fraction arithmetic is unchanged JVM expressions. Map-only plan,
    # identical rows (oracle-checked).
    from mysql2pg_spark.tables import fan_out

    d = load_table(spark, sf_dir, "documents")
    # fan_out: the single-row-group fixture scan would run the kernel
    # on one core (no-op at real scale)
    toks = fan_out(d.select("doc_id", T.tokens("text").alias("toks")))

    def kernel(batches):
        from collections import Counter

        import pyarrow as pa

        for batch in batches:
            ids = batch.column(0).to_pylist()
            tok_lists = batch.column(1).to_pylist()
            o_id, o_nt, o_c = [], [], {2: [], 3: [], 4: []}
            for i, tl in enumerate(tok_lists):
                if tl is None:
                    continue
                o_id.append(ids[i])
                o_nt.append(len(tl))
                for n in (2, 3, 4):
                    if len(tl) >= n:
                        c = Counter(
                            " ".join(tl[j : j + n])
                            for j in range(len(tl) - n + 1)
                        )
                        o_c[n].append(max(c.values()))
                    else:
                        o_c[n].append(None)
            yield pa.record_batch(
                [
                    pa.array(o_id, type=pa.int64()),
                    pa.array(o_nt, type=pa.int64()),
                    pa.array(o_c[2], type=pa.int64()),
                    pa.array(o_c[3], type=pa.int64()),
                    pa.array(o_c[4], type=pa.int64()),
                ],
                names=["doc_id", "n_tokens", "c2", "c3", "c4"],
            )

    m = toks.mapInArrow(
        kernel,
        "doc_id long, n_tokens long, c2 long, c3 long, c4 long",
    )
    return (
        m.select(
            "doc_id",
            "n_tokens",
            *[
                (
                    (F.col(f"c{n}") * n).cast("double") / F.col("n_tokens")
                ).alias(f"top{n}_frac")
                for n in (2, 3, 4)
            ],
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# t24 — temperature-based mixing over languages (the corpus' skewed
# slice: en dominates 3:1): the sampling-weight table a
# multi-source training pipeline derives before building a data mix
# (upsample small slices, damp the biggest — the standard
# temperature-resampling rule w_s ∝ n_s^τ). τ = 0.5 so the power is a
# single IEEE sqrt — correctly rounded, hence bit-exact cross-engine —
# and the weights divide QUANTIZED integer scores (floor(√n·1e6+0.5))
# whose total is an exact integer sum: no float-accumulation ordering
# anywhere. Scale: one count per source (map-side combinable) and a
# window over #sources rows (a handful at any corpus size).
# --------------------------------------------------------------------------
MIX_EPOCH_BUDGET = 100_000  # documents drawn per training epoch


@query(
    "t24_source_mixing",
    oracle=f"""
WITH counts AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY lang
),
scored AS (
  SELECT lang, n_docs,
         CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000 + 0.5)
              AS BIGINT) AS s_q
  FROM counts
)
SELECT lang, n_docs,
       CAST(s_q AS DOUBLE) / CAST(sum(s_q) OVER () AS DOUBLE) AS weight,
       CAST(floor(CAST(s_q AS DOUBLE) / CAST(sum(s_q) OVER () AS DOUBLE)
                  * {MIX_EPOCH_BUDGET} + 0.5) AS BIGINT)
         AS docs_per_epoch,
       CAST(floor(CAST(s_q AS DOUBLE) / CAST(sum(s_q) OVER () AS DOUBLE)
                  * {MIX_EPOCH_BUDGET} + 0.5) AS DOUBLE)
         / CAST(n_docs AS DOUBLE) AS epochs_per_doc
FROM scored
ORDER BY lang
""",
    driver=False,
)
def t24_source_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    s_q = F.floor(
        F.sqrt(F.col("n_docs").cast("double")) * 1_000_000 + F.lit(0.5)
    ).cast("bigint")
    w = Window.partitionBy()
    scored = counts.withColumn("s_q", s_q)
    weight = F.col("s_q").cast("double") / F.sum("s_q").over(w).cast("double")
    per_epoch = F.floor(weight * MIX_EPOCH_BUDGET + F.lit(0.5)).cast("bigint")
    return (
        scored.select(
            "lang",
            "n_docs",
            weight.alias("weight"),
            per_epoch.alias("docs_per_epoch"),
            (
                per_epoch.cast("double") / F.col("n_docs").cast("double")
            ).alias("epochs_per_doc"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# t25 — BM25-family term saliency (round 14): per-document top-3 terms
# by tf·idf with length normalization — the lexical-importance
# primitive of curation pipelines (seed-set relevance, keyword
# profiling, DSIR-style importance weighting). Rational idf (no ln):
# the engine-exactness rule admits only exactly-rounded IEEE ops, and
# ln differs by ulps across libm implementations — see
# operators/textops.bm25_top_terms. Not in the driver window;
# pytest-oracle-checked.
# --------------------------------------------------------------------------
@query(
    "t25_bm25_saliency",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term <> '' GROUP BY doc_id, term
),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
corpus AS (
  SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl
),
scored AS (
  SELECT tf.doc_id, tf.term,
         CAST(tf.tf AS BIGINT) AS tf,
         CAST(dfreq.df AS BIGINT) AS df,
         ((tf.tf * 2.2e0) / (tf.tf + 1.2e0 * (0.25e0 + 0.75e0 *
             (dl.dl / (CAST(corpus.sum_dl AS DOUBLE) / corpus.n_docs)))))
         * ((corpus.n_docs - dfreq.df + 0.5e0) / (dfreq.df + 0.5e0)) AS score
  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term), corpus
)
SELECT doc_id, term, tf, df, score,
       CAST(row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term) AS BIGINT) AS rnk
FROM scored
QUALIFY rnk <= 3
ORDER BY doc_id, rnk
""",
    driver=False,
)
def t25_bm25_saliency(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return T.bm25_top_terms(
        d, "doc_id", "text", top_k=3, tf=_tf(spark, sf_dir)
    )


# --------------------------------------------------------------------------
# t26 — DSIR-style importance weighting toward a target slice (round
# 14): per-document distributional lean of its unigram mass toward the
# lang='en' slice vs the whole corpus — the importance-resampling
# primitive (Xie et al.). No ln(): the score is one exact integer
# numerator (DECIMAL(38,0) in Spark, HUGEINT in DuckDB) over the
# common denominator N_t·N_c, so the single final double division is
# deterministic IEEE on both engines. Not in the driver window;
# pytest-oracle-checked.
# --------------------------------------------------------------------------
@query(
    "t26_importance_weights",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang = 'en' AS is_t, unnest({_TOKENS}) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, is_t, term, count(*) AS tf FROM toks
  WHERE term <> '' GROUP BY doc_id, is_t, term
),
tc AS (
  SELECT term, sum(tf) AS c_c,
         sum(CASE WHEN is_t THEN tf ELSE 0 END) AS c_t
  FROM tf GROUP BY term
),
tot AS (SELECT sum(c_c) AS n_c, sum(c_t) AS n_t FROM tc)
SELECT tf.doc_id, tf.is_t AS is_target,
       CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
       -- N_t = 0 guard (ADVICE r14): empty target slice → NULL score,
       -- never a silent NaN/Inf — mirrors the operator's F.when guard
       CASE WHEN tot.n_t > 0 THEN
         CAST(sum(CAST(tf.tf AS HUGEINT)
                  * (CAST(tc.c_t AS HUGEINT) * CAST(tot.n_c AS HUGEINT)
                     - CAST(tc.c_c AS HUGEINT) * CAST(tot.n_t AS HUGEINT)))
              AS DOUBLE)
           / (CAST(tot.n_t AS DOUBLE) * tot.n_c)
       END AS score
FROM tf JOIN tc USING (term), tot
GROUP BY tf.doc_id, tf.is_t, tot.n_t, tot.n_c
ORDER BY doc_id
""",
    driver=False,
)
def t26_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return T.importance_weights(
        d, "doc_id", "text", "lang", "en",
        tf=_tf(spark, sf_dir, target=("lang", "en")),
    )
