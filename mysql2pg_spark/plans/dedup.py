"""Deduplication queries over documents/embeddings (net-new operator
family: exact, MinHash+LSH, n-gram Jaccard, SimHash, embedding-cosine).

Every oracle reconstructs the SAME md5-derived hash pipeline in DuckDB
SQL, so even the LSH candidate sets match exactly — the operators were
designed hash-deterministic precisely to be externally checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql2pg_spark.operators import dedup as D
from mysql2pg_spark.plans.registry import query
from mysql2pg_spark.tables import fan_out, load_table

# The MinHash family's shared stages are plain values one query builds
# and uses: shingles (with the signatures fused into the same kernel
# pass) → signatures → (verify sets, candidates) → verified pairs.
# The kernel's output is pinned with a lazy localCheckpoint, so the
# kernel runs once per query although an eager plan-time statistic
# (the max-bucket/injectivity query, d15's profile) and the main job
# both read it. "Lazy" holds only while no exchange sits below the
# pin: under AQE, a localCheckpoint over a shuffle runs that shuffle's
# map stage as a job when the frame is built. Hence the kernel input
# is fanned out by size, not by core count (see ``shingles``). Nothing
# outlives the query: a rewrite of the same path or a sibling session
# always builds from the current files.


def shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: the distinct word-NGRAM shingle set and its
    NUM_HASHES MinHash columns, from one Arrow kernel pass (pinned)."""
    # round 16: fan_out the docs scan ahead of the kernel — the sf1
    # leg reads documents as 2 splits, so tokenize+shingle ran on 2 of
    # 32 cores. The kernel is Python-bound (md5 per shingle: ~0.2 s of
    # one core per 128 KiB of parquet text, measured), so a corpus
    # under 256 KiB stays one narrow task with no exchange under the
    # pin, and a bigger one spreads over up to every core.
    d = fan_out(
        load_table(spark, sf_dir, "documents"), bytes_per_partition=1 << 17
    )
    return D.shingle_sets(
        d, "doc_id", "text", NGRAM, NUM_HASHES
    ).localCheckpoint(eager=False)


def signatures(sh: DataFrame) -> DataFrame:
    """NUM_HASHES MinHash signatures: a projection of the pinned shingle
    stage (documents with no shingle have no signature)."""
    return D._signatures_from_shingles(sh, "doc_id", NUM_HASHES)


def verify_sets(sh: DataFrame, injective: bool) -> DataFrame:
    """The shingle arrays every Jaccard VERIFY consumes (round 16, guide
    §2.3): int64-hashed arrays when xxhash64 is ``injective`` on this
    corpus' vocabulary (at sf1 the hashed payload cut the 3.96M-pair
    verify wall ~3×), else the string arrays unchanged. Verify results
    are bit-identical either way — injectivity makes every per-pair
    intersection count equal the string count. ``injective`` comes from
    ``D.plan_time_stats`` or ``D.shingle_hash_is_injective`` (EAGER)."""
    if injective:
        return D.hashed_shingle_sets(sh, "doc_id")
    return sh.select("doc_id", "shingles")  # exactness over speed


# Production bucket cap for the default near-dup path (round 15 —
# VERDICT r14 ask #1): the candidate stage consumed by d04 and the
# cluster plans (cc01/cc02/cc03/d09) runs CAPPED. Below the cap the
# pair set is bit-identical to the uncapped join (every fixture scale
# is: max bucket is 6 at sf0.01 and 22 at sf0.1), so the existing
# uncapped oracles stay exact; past it (the Zipf skew corpus, the sf1
# scale step with 126-member buckets, one viral template at 100 TB)
# buckets star-link to the bucket minimum instead of melting one task
# with O(n²) pairs. Truncation is SURFACED, never silent: the bench
# skew/scale legs read the stats frame of
# ``D.lsh_candidate_pairs_capped`` at this cap, and the d15 driver row
# carries the counts in its result.
PROD_MAX_BUCKET = 64


def verified_pairs(sh: DataFrame, sigs: DataFrame) -> DataFrame:
    """Near-dup pairs from given stages: capped candidates (see
    PROD_MAX_BUCKET) verified by exact Jaccard ≥ JACCARD_T. EAGER: one
    query collects both plan-time statistics, the max bucket and the
    hash injectivity."""
    max_n, injective = D.plan_time_stats(sigs, sh, "doc_id", NUM_HASHES)
    cands, _stats = D.lsh_candidate_pairs_capped(
        sigs, "doc_id", NUM_HASHES, max_bucket=PROD_MAX_BUCKET, max_n=max_n
    )
    return D.verify_jaccard(
        cands, verify_sets(sh, injective), "doc_id", JACCARD_T
    )


def neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dup pairs of a directory (d04, the cluster
    plans, the bench legs). The result is not pinned; a caller that
    reads it from several jobs checkpoints it itself."""
    sh = shingles(spark, sf_dir)
    return verified_pairs(sh, signatures(sh))


NGRAM = 3
NUM_HASHES = 8
JACCARD_T = 0.3
COS_T = 0.18

_NORM = "trim(lower(text))"
_TOKENS = f"string_split_regex({_NORM}, '\\s+')"


def _shingles_sql(n: int) -> str:
    """Distinct word n-grams; empty list when the doc has < n tokens."""
    return (
        f"CASE WHEN len({_TOKENS}) >= {n} THEN "
        f"list_distinct(list_transform(range(1, len({_TOKENS}) - {n} + 2), "
        f"i -> array_to_string(({_TOKENS})[i:i+{n}-1], ' '))) "
        f"ELSE [] END"
    )


_SHINGLES = _shingles_sql(NGRAM)

# Hash i = 32-bit hex slice (i%4) of md5('<i//4>|' || shingle) — matches
# operators/dedup.minhash_slice (one digest = four hash functions).
_MH_AGGS = ", ".join(
    f"min(substr(md5('{i // 4}|' || s), {8 * (i % 4) + 1}, 8)) AS mh{i}"
    for i in range(NUM_HASHES)
)
_MINHASH_CTE = f"""
sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM documents),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
mh AS (SELECT doc_id, {_MH_AGGS} FROM ex GROUP BY doc_id)
"""

_BANDS_CTE = (
    "bands AS ("
    + " UNION ALL ".join(
        f"SELECT doc_id, {i} AS band, mh{i} AS key FROM mh"
        for i in range(NUM_HASHES)
    )
    + ")"
)

_CAND_CTE = """
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
"""


# --------------------------------------------------------------------------
# d01 — exact dedup: fingerprint groups with canonical id.
# --------------------------------------------------------------------------
@query(
    "d01_exact_dedup",
    oracle=f"""
SELECT
  doc_id,
  md5(regexp_replace({_NORM}, '\\s+', ' ', 'g'))                       AS fp,
  min(doc_id) OVER (PARTITION BY md5(regexp_replace({_NORM}, '\\s+', ' ', 'g')))
                                                                       AS canonical_id,
  doc_id <> min(doc_id) OVER (PARTITION BY md5(regexp_replace({_NORM}, '\\s+', ' ', 'g')))
                                                                       AS is_duplicate,
  CAST(count(*) OVER (PARTITION BY md5(regexp_replace({_NORM}, '\\s+', ' ', 'g'))) AS BIGINT)
                                                                       AS group_size
FROM documents
ORDER BY doc_id
""",
)
def d01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.exact_dedup(d, "doc_id", "text")


# --------------------------------------------------------------------------
# d02 — MinHash signatures (k=8, word 3-grams).
# --------------------------------------------------------------------------
@query(
    "d02_minhash_signatures",
    oracle=f"""
WITH {_MINHASH_CTE}
SELECT * FROM mh ORDER BY doc_id
""",
    driver=False,
)
def d02_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return signatures(shingles(spark, sf_dir))


# --------------------------------------------------------------------------
# d03 — LSH candidate pairs (band join, r=1 × 8 bands).
# --------------------------------------------------------------------------
@query(
    "d03_lsh_candidates",
    oracle=f"""
WITH {_MINHASH_CTE}, {_BANDS_CTE}, {_CAND_CTE}
SELECT id_a, id_b FROM cand ORDER BY id_a, id_b
""",
)
def d03_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = signatures(shingles(spark, sf_dir))
    return D.lsh_candidate_pairs(sigs, "doc_id", NUM_HASHES)


# --------------------------------------------------------------------------
# d14 — skew-hardened LSH candidates (round 14): buckets over the cap
# link members to the bucket minimum (star) instead of forming all
# pairs — the power-law template-cluster mitigation (the skew leg of
# bench.py stresses it on the Zipf corpus; here the oracle proves the
# exact pair set). Cap 3 so BOTH branches exercise at sf0.01 — the
# uniform fixture's buckets top out at 6 (26 buckets above the cap).
# --------------------------------------------------------------------------
CAPPED_MAX_BUCKET = 3


@query(
    "d14_capped_lsh",
    oracle=f"""
WITH {_MINHASH_CTE}, {_BANDS_CTE},
sized AS (
  SELECT doc_id, band, key,
         COUNT(*) OVER (PARTITION BY band, key) AS bsz,
         MIN(doc_id) OVER (PARTITION BY band, key) AS bmin
  FROM bands
),
allp AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sized a JOIN sized b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
  WHERE a.bsz <= {CAPPED_MAX_BUCKET}
  UNION ALL
  SELECT bmin AS id_a, doc_id AS id_b
  FROM sized WHERE bsz > {CAPPED_MAX_BUCKET} AND doc_id <> bmin
)
SELECT DISTINCT id_a, id_b FROM allp ORDER BY id_a, id_b
""",
    driver=False,
)
def d14_capped_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = signatures(shingles(spark, sf_dir))
    pairs, _stats = D.lsh_candidate_pairs_capped(
        sigs, "doc_id", NUM_HASHES, max_bucket=CAPPED_MAX_BUCKET
    )
    return pairs


# --------------------------------------------------------------------------
# d04 — near-duplicate pairs: LSH candidates verified by exact n-gram
# Jaccard ≥ threshold.
# --------------------------------------------------------------------------
@query(
    "d04_neardup_pairs",
    oracle=f"""
WITH {_MINHASH_CTE}, {_BANDS_CTE}, {_CAND_CTE}
SELECT
  id_a, id_b,
  (CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
        / CAST(len(list_distinct(sa.shingles || sb.shingles)) AS DOUBLE)) AS jaccard
FROM cand
JOIN sh sa ON sa.doc_id = cand.id_a
JOIN sh sb ON sb.doc_id = cand.id_b
WHERE (CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
        / CAST(len(list_distinct(sa.shingles || sb.shingles)) AS DOUBLE)) >= {JACCARD_T}
ORDER BY id_a, id_b
""",
)
def d04_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return neardup_pairs(spark, sf_dir)


# --------------------------------------------------------------------------
# d05 — 32-bit SimHash per document.
# --------------------------------------------------------------------------
def _simhash_oracle() -> str:
    tok_int = " + ".join(
        f"CAST(instr('0123456789abcdef', substr(md5(tok), {p}, 1)) - 1 AS BIGINT)"
        f" * {16 ** (8 - p)}"
        for p in range(1, 9)
    )
    votes = ", ".join(
        f"SUM(CASE WHEN (ti >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(32)
    )
    sim = " + ".join(
        f"CASE WHEN v{j} > 0 THEN CAST({2 ** j} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for j in range(32)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct({_TOKENS})) AS tok FROM documents
), ti AS (
  SELECT doc_id, {tok_int} AS ti FROM toks
), votes AS (
  SELECT doc_id, {votes} FROM ti GROUP BY doc_id
)
SELECT doc_id, {sim} AS simhash FROM votes ORDER BY doc_id
"""


@query("d05_simhash", oracle=_simhash_oracle())
def d05_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.simhash32(d, "doc_id", "text")


# --------------------------------------------------------------------------
# d06 — embedding-cosine near-dup pairs, blocked by label.
# --------------------------------------------------------------------------
_DOT = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform(range(1, len({a}) + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (x, y) -> x + y)"
)


def _cos_sql(a: str, b: str) -> str:
    dot = _DOT.format(a=a, b=b)
    na = _DOT.format(a=a, b=a)
    nb = _DOT.format(a=b, b=b)
    return f"(({dot}) / (sqrt({na}) * sqrt({nb})))"


# d06_embedding_neardup lives in plans/similarity.py: its block key is
# the hyperplane LSH bucket defined there (a semantic label is a skew
# magnet — one hot label would make the within-block join quadratic).


# --------------------------------------------------------------------------
# d07 — train/eval decontamination: training docs sharing any word 8-gram
# with the held-out eval slice (doc_id % 89 == 0). The eval side is tiny
# → its exploded grams broadcast; the train side never shuffles before
# the final per-doc aggregate.
# --------------------------------------------------------------------------
DECON_NGRAM = 8
# 89 chosen so the eval slice intersects real near-dup clusters at the
# sf0.01 gate scale (3 contaminated docs) — a 0-row pass proves nothing.
DECON_MOD = 89


@query(
    "d07_decontamination",
    oracle=f"""
WITH tg AS (
  SELECT doc_id AS train_id, unnest({_shingles_sql(DECON_NGRAM)}) AS g
  FROM documents WHERE doc_id % {DECON_MOD} <> 0
), eg AS (
  SELECT doc_id AS eval_id, unnest({_shingles_sql(DECON_NGRAM)}) AS g
  FROM documents WHERE doc_id % {DECON_MOD} = 0
)
SELECT tg.train_id AS doc_id,
       CAST(COUNT(DISTINCT eg.eval_id) AS BIGINT) AS n_eval_matches,
       CAST(COUNT(DISTINCT tg.g) AS BIGINT) AS n_shared_grams
FROM tg JOIN eg USING (g)
GROUP BY tg.train_id
""",
)
def d07_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    evalset = d.filter(F.col("doc_id") % DECON_MOD == 0)
    train = d.filter(F.col("doc_id") % DECON_MOD != 0)
    return D.contamination_report(train, evalset, ngram=DECON_NGRAM)


# --------------------------------------------------------------------------
# d10 — cross-source n-gram overlap matrix (dataset diagnostics): how
# many distinct 8-grams each pair of sources shares — the source-level
# companion of d07's train/eval decontamination. Not in the driver
# window (50-slot cap); pytest-oracle-checked.
# --------------------------------------------------------------------------
@query(
    "d10_source_overlap",
    oracle=f"""
WITH sg AS (
  SELECT DISTINCT source, g FROM (
    SELECT source, unnest({_shingles_sql(DECON_NGRAM)}) AS g FROM documents
  )
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(*) AS BIGINT) AS shared_grams
FROM sg a JOIN sg b ON b.g = a.g AND a.source < b.source
GROUP BY 1, 2
ORDER BY 1, 2
""",
    driver=False,
)
def d10_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.source_overlap_matrix(d, ngram=DECON_NGRAM)


# --------------------------------------------------------------------------
# d12 — incremental (delta-vs-history) dedup: classify each incoming doc
# against the existing corpus by exact fingerprint AND MinHash-LSH +
# Jaccard near-dup, without ever re-deduping history against itself —
# the continuous-ingest shape of a production pipeline. Delta = every
# 10th doc. Not in the driver window (50-slot cap); pytest-oracle-
# checked.
# --------------------------------------------------------------------------
DELTA_MOD = 10
_FP = f"md5(regexp_replace({_NORM}, '\\s+', ' ', 'g'))"


def _side_minhash(side: str) -> str:
    """sh/mh CTE pair for one side (hist/delt) of the incremental join."""
    return f"""
{side}_sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM {side}),
{side}_ex AS (SELECT doc_id, unnest(shingles) AS s FROM {side}_sh),
{side}_mh AS (SELECT doc_id, {_MH_AGGS} FROM {side}_ex GROUP BY doc_id),
{side}_band AS ({" UNION ALL ".join(
    f"SELECT doc_id, {i} AS band, mh{i} AS key FROM {side}_mh"
    for i in range(NUM_HASHES))})"""


@query(
    "d12_incremental_dedup",
    oracle=f"""
WITH hist AS (SELECT doc_id, text FROM documents WHERE doc_id % {DELTA_MOD} <> 0),
delt AS (SELECT doc_id, text FROM documents WHERE doc_id % {DELTA_MOD} = 0),
hfp AS (SELECT doc_id AS h_id, {_FP} AS fp FROM hist),
dfp AS (SELECT doc_id, {_FP} AS fp FROM delt),
exact AS (
  SELECT doc_id, MIN(h_id) AS exact_dup_of FROM dfp JOIN hfp USING (fp)
  GROUP BY doc_id
),{_side_minhash("hist")},{_side_minhash("delt")},
cand AS (
  SELECT DISTINCT d.doc_id AS d_id, h.doc_id AS h_id
  FROM delt_band d JOIN hist_band h ON d.band = h.band AND d.key = h.key
),
near AS (
  SELECT d_id AS doc_id, MIN(h_id) AS neardup_of
  FROM cand
  JOIN delt_sh sd ON sd.doc_id = cand.d_id
  JOIN hist_sh sh ON sh.doc_id = cand.h_id
  WHERE (CAST(len(list_intersect(sd.shingles, sh.shingles)) AS DOUBLE)
        / CAST(len(list_distinct(sd.shingles || sh.shingles)) AS DOUBLE))
        >= {JACCARD_T}
  GROUP BY d_id
)
SELECT d.doc_id, e.exact_dup_of, n.neardup_of,
       (e.exact_dup_of IS NULL AND n.neardup_of IS NULL) AS is_new
FROM delt d
LEFT JOIN exact e USING (doc_id)
LEFT JOIN near n USING (doc_id)
ORDER BY d.doc_id
""")
def d12_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    history = d.filter(F.col("doc_id") % DELTA_MOD != 0)
    delta = d.filter(F.col("doc_id") % DELTA_MOD == 0)
    return D.incremental_dedup(
        history, delta, "doc_id", "text", JACCARD_T, NGRAM, NUM_HASHES
    )


# --------------------------------------------------------------------------
# d13 — edit-distance near-dup verification: the LSH candidate pairs
# re-verified with character-level Levenshtein on the normalized text —
# the short-text dedup verifier (n-gram Jaccard is blind to within-word
# edits; edit distance is not). Distance and the length-normalized
# similarity are exact integers / per-row doubles, so the output is
# engine-exact. Candidates come from the SAME banded LSH join as d03 —
# the O(n·m) DP per pair is bounded by the candidate count, never
# |corpus|²; at 100 TB you'd also cap max(len) per side (docstring
# contract, here the fixture is short).
# --------------------------------------------------------------------------
EDIT_SIM_T = 0.6


@query(
    "d13_editdistance_verify",
    oracle=f"""
WITH {_MINHASH_CTE}, {_BANDS_CTE}, {_CAND_CTE},
norm AS (
  SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS s
  FROM documents
),
scored AS (
  SELECT cand.id_a, cand.id_b,
         CAST(levenshtein(na.s, nb.s) AS BIGINT) AS edit_dist,
         -- length(), not strlen(): Spark's F.length counts CHARACTERS;
         -- DuckDB strlen counts bytes and diverges on non-ASCII text
         greatest(length(na.s), length(nb.s)) AS max_len
  FROM cand
  JOIN norm na ON na.doc_id = cand.id_a
  JOIN norm nb ON nb.doc_id = cand.id_b
)
SELECT id_a, id_b, edit_dist,
       1.0 - CAST(edit_dist AS DOUBLE) / CAST(max_len AS DOUBLE) AS edit_sim
FROM scored
WHERE 1.0 - CAST(edit_dist AS DOUBLE) / CAST(max_len AS DOUBLE)
      >= {EDIT_SIM_T}
ORDER BY id_a, id_b
""",
    driver=False,
)
def d13_editdistance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = signatures(shingles(spark, sf_dir))
    return edit_verified_pairs(spark, sf_dir, sigs)


def edit_verified_pairs(
    spark: SparkSession, sf_dir: str, sigs: DataFrame
) -> DataFrame:
    """d13's rows over the LSH candidates of a given signature stage."""
    docs = load_table(spark, sf_dir, "documents")
    norm = docs.select(
        "doc_id",
        F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ").alias(
            "s"
        ),
    )
    cands = D.lsh_candidate_pairs(sigs, "doc_id", NUM_HASHES)
    # Round 17 (guide §2.3 shuffle keys instead of payloads, VERDICT
    # r16 ask #5): prune candidate pairs on INTEGER lengths before the
    # two string joins. edit_dist >= |la−lb| always, and every emitted
    # row needs edit_dist <= floor((1−T)·max(la,lb)), so pairs failing
    # |la−lb| <= floor((1−T)·max(la,lb)) can never survive the final
    # filter — dropping them early is exact (the bounded levenshtein
    # would emit −1 for them) and moves 8-byte lengths instead of
    # document payloads through the pruning joins. At sf0.1 the bound
    # removes ~39% of candidates (measured r16: 50,131 of 82,148 pass).
    lens = norm.select("doc_id", F.length("s").alias("_ln"))
    la = lens.select(F.col("doc_id").alias("id_a"), F.col("_ln").alias("_la"))
    lb = lens.select(F.col("doc_id").alias("id_b"), F.col("_ln").alias("_lb"))
    cands = (
        cands.join(la, "id_a")
        .join(lb, "id_b")
        .filter(
            F.abs(F.col("_la") - F.col("_lb"))
            <= F.floor(
                (1.0 - EDIT_SIM_T) * F.greatest("_la", "_lb")
            )
        )
        .select("id_a", "id_b")
    )
    na = norm.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    nb = norm.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    max_len = F.greatest(F.length("sa"), F.length("sb"))
    # Round 16 (optimization, guide §1.2 step 2): BOUNDED levenshtein.
    # Every emitted row satisfies edit_sim ≥ T ⟺ edit_dist ≤
    # floor((1−T)·max_len), so the 3-arg thresholded form (banded DP,
    # O(len·k) with early exit instead of O(len²)) computes the exact
    # distance for every surviving pair and −1 exactly for the pairs
    # the old plan filtered out — identical rows, verified against the
    # unchanged full-distance oracle (measured 6.97 s → 4.19 s at
    # sf0.1; most LSH candidates are dissimilar, the banded DP's
    # |len_a−len_b| > k early exit skips them outright).
    dist = F.expr(
        f"levenshtein(sa, sb, cast(floor({1.0 - EDIT_SIM_T} * "
        "greatest(length(sa), length(sb))) as int))"
    ).cast("bigint")
    sim = F.lit(1.0) - dist.cast("double") / max_len.cast("double")
    return (
        cands.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            dist.alias("edit_dist"),
            sim.alias("edit_sim"),
        )
        .filter(
            (F.col("edit_dist") >= 0) & (F.col("edit_sim") >= EDIT_SIM_T)
        )
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# d16 — LSH banding tuning profile (round 14): for each (b×r) banding
# of the SAME 8 minhashes, the candidate count, the exact-Jaccard-
# verified count and the precision — the measured S-curve a 100 TB
# pipeline uses to pick its banding empirically (real corpora have
# correlated shingles the independence assumption misses). r=1 is the
# recall ceiling (every config's candidates are a subset of its), so
# verified@r=1 doubles as the recall denominator. Not in the driver
# window; pytest-oracle-checked.
# --------------------------------------------------------------------------
_TUNING_CONFIGS = (1, 2, 4)


def _tuning_cte(r: int) -> str:
    b = NUM_HASHES // r
    bands = " UNION ALL ".join(
        "SELECT doc_id, {i} AS band, {key} AS key FROM mh".format(
            i=i,
            key=" || '|' || ".join(
                f"mh{i * r + j}" for j in range(r)
            ),
        )
        for i in range(b)
    )
    return f"""
bands_{r} AS ({bands}),
cand_{r} AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands_{r} a JOIN bands_{r} b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
prof_{r} AS (
  SELECT CAST({b} AS BIGINT) AS bands,
         CAST({r} AS BIGINT) AS rows_per_band,
         CAST(count(*) AS BIGINT) AS n_candidates,
         CAST(coalesce(sum(CASE WHEN jac >= {JACCARD_T} THEN 1
                           ELSE 0 END), 0) AS BIGINT) AS n_verified,
         CASE WHEN count(*) > 0 THEN
           CAST(coalesce(sum(CASE WHEN jac >= {JACCARD_T} THEN 1
                             ELSE 0 END), 0) AS DOUBLE)
             / CAST(count(*) AS DOUBLE)
         END AS precision
  FROM (
    SELECT (CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
            / CAST(len(list_distinct(sa.shingles || sb.shingles))
                   AS DOUBLE)) AS jac
    FROM cand_{r}
    JOIN sh sa ON sa.doc_id = cand_{r}.id_a
    JOIN sh sb ON sb.doc_id = cand_{r}.id_b
  )
)"""


@query(
    "d16_lsh_tuning",
    oracle=f"""
WITH {_MINHASH_CTE},
{", ".join(_tuning_cte(r) for r in _TUNING_CONFIGS)}
{" UNION ALL ".join(f"SELECT * FROM prof_{r}" for r in _TUNING_CONFIGS)}
ORDER BY rows_per_band
""",
    driver=False,
)
def d16_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the profile consumes shingles only through verify_jaccard →
    # the hashed verify stage is bit-identical here (round 16)
    sh = shingles(spark, sf_dir)
    return D.lsh_tuning_profile(
        signatures(sh),
        verify_sets(sh, D.shingle_hash_is_injective(sh)),
        "doc_id",
        JACCARD_T,
        rows_per_band_configs=_TUNING_CONFIGS,
        num_hashes=NUM_HASHES,
    )


# --------------------------------------------------------------------------
# d15 — the production near-dup pipeline END TO END (round 15, VERDICT
# r14 ask #1): tuning profile → choose rows-per-band (largest r keeping
# ≥ 9/10 of r=1's verified recall — exact integer comparison, so the
# oracle replays the CHOICE itself in SQL) → capped banded LSH
# candidates at the chosen r → exact-Jaccard verify → connected
# components, with the cap's truncation carried ON every output row
# (no silent caps). Cap 2 here so BOTH cap branches execute at the
# oracle scale — the profile picks r=4 on this corpus and r=4 buckets
# top out at 3 (the production default is PROD_MAX_BUCKET=64, which
# never caps below the Zipf/sf1 scales). The oracle recomputes the
# full pipeline for every config and selects by the replayed choice —
# the Spark side plans only the chosen config (the ≤3-row profile is
# a plan-time statistics decision, same shape as AQE reading
# map-output stats).
# --------------------------------------------------------------------------
D15_MAX_BUCKET = 2
_RECALL_FLOOR = (9, 10)  # keep ≥ 9/10 of r=1's verified pairs


def _bands_sql(src: str, r: int, name: str) -> str:
    """Banded (doc_id, band, key) CTE over a signature CTE ``src`` —
    the SQL twin of operators/dedup._band_keys at rows_per_band=r."""
    def key(i: int) -> str:
        if r == 1:
            return f"mh{i}"
        return " || '|' || ".join(f"mh{i * r + j}" for j in range(r))

    return (
        f"{name} AS ("
        + " UNION ALL ".join(
            f"SELECT doc_id, {i} AS band, {key(i)} AS key FROM {src}"
            for i in range(NUM_HASHES // r)
        )
        + ")"
    )


def _d15_profile_cte(r: int) -> str:
    """Profile row for config r: candidates + verified on the corpus."""
    return f"""{_bands_sql("mh", r, f"pband_{r}")},
pcand_{r} AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pband_{r} a JOIN pband_{r} b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
pprof_{r} AS (
  SELECT {r} AS r,
         coalesce(sum(CASE WHEN jac >= {JACCARD_T} THEN 1 ELSE 0 END), 0)
           AS n_verified
  FROM (
    SELECT (CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
            / CAST(len(list_distinct(sa.shingles || sb.shingles))
                   AS DOUBLE)) AS jac
    FROM pcand_{r}
    JOIN sh sa ON sa.doc_id = pcand_{r}.id_a
    JOIN sh sb ON sb.doc_id = pcand_{r}.id_b
  )
)"""


def _d15_capped_cte(r: int) -> str:
    """Capped candidate pairs + truncation stats for config r."""
    cap = D15_MAX_BUCKET
    return f"""sized_{r} AS (
  SELECT doc_id, band, key,
         COUNT(*) OVER (PARTITION BY band, key) AS bsz,
         MIN(doc_id) OVER (PARTITION BY band, key) AS bmin
  FROM pband_{r}
),
cpairs_{r} AS (
  SELECT DISTINCT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM sized_{r} a JOIN sized_{r} b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    WHERE a.bsz <= {cap}
    UNION ALL
    SELECT bmin, doc_id FROM sized_{r}
    WHERE bsz > {cap} AND doc_id <> bmin
  )
),
cstats_{r} AS (
  SELECT CAST(coalesce(sum(CASE WHEN n > {cap} THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS capped_buckets,
         CAST(coalesce(sum(CASE WHEN n > {cap}
                           THEN n * (n - 1) // 2 - (n - 1)
                           ELSE 0 END), 0) AS BIGINT) AS truncated_pairs
  FROM (SELECT count(*) AS n FROM pband_{r} GROUP BY band, key)
)"""


_P, _Q = _RECALL_FLOOR
_D15_ORACLE = f"""
WITH RECURSIVE {_MINHASH_CTE.strip()},
{",".join(_d15_profile_cte(r) for r in _TUNING_CONFIGS)},
prof AS ({" UNION ALL ".join(f"SELECT * FROM pprof_{r}" for r in _TUNING_CONFIGS)}),
chosen AS (
  SELECT max(r) AS r FROM prof
  WHERE n_verified * {_Q} >= {_P} * (SELECT n_verified FROM prof WHERE r = 1)
),
{",".join(_d15_capped_cte(r) for r in _TUNING_CONFIGS)},
pairs AS (
  SELECT id_a, id_b FROM (
    {" UNION ALL ".join(f"SELECT {r} AS r, id_a, id_b FROM cpairs_{r}" for r in _TUNING_CONFIGS)}
  ) JOIN chosen USING (r)
),
ver AS (
  SELECT id_a, id_b
  FROM pairs
  JOIN sh sa ON sa.doc_id = pairs.id_a
  JOIN sh sb ON sb.doc_id = pairs.id_b
  WHERE (CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
        / CAST(len(list_distinct(sa.shingles || sb.shingles)) AS DOUBLE))
        >= {JACCARD_T}
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM ver
  UNION
  SELECT id_b, id_a FROM ver
),
reach(n, m) AS (
  SELECT a, a FROM edges
  UNION
  SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m
),
stats AS (
  SELECT s.capped_buckets, s.truncated_pairs FROM (
    {" UNION ALL ".join(f"SELECT {r} AS r, * FROM cstats_{r}" for r in _TUNING_CONFIGS)}
  ) s JOIN chosen USING (r)
)
SELECT reach.n AS node, min(reach.m) AS component,
       CAST(chosen.r AS BIGINT) AS rows_per_band,
       stats.capped_buckets, stats.truncated_pairs
FROM reach, chosen, stats
GROUP BY reach.n, chosen.r, stats.capped_buckets, stats.truncated_pairs
ORDER BY node
"""


# --------------------------------------------------------------------------
# d17 — capped incremental dedup (round 15): the continuous-ingest
# classifier with HOT HISTORY BANDS BANNED (stop-shingle mitigation) —
# the star-link cap of the self-join case cannot apply to the
# bipartite delta-vs-history index, so band keys whose history bucket
# exceeds the cap leave the index, and the banned-band counts ride ON
# every output row (no silent caps; banning can lose links reachable
# only through a banned band — the documented trade). Cap 3 so the
# ban genuinely fires at the oracle scale. Not in the driver window;
# pytest-oracle-checked.
# --------------------------------------------------------------------------
D17_MAX_BUCKET = 3


@query(
    "d17_incremental_capped",
    oracle=f"""
WITH hist AS (SELECT doc_id, text FROM documents WHERE doc_id % {DELTA_MOD} <> 0),
delt AS (SELECT doc_id, text FROM documents WHERE doc_id % {DELTA_MOD} = 0),
hfp AS (SELECT doc_id AS h_id, {_FP} AS fp FROM hist),
dfp AS (SELECT doc_id, {_FP} AS fp FROM delt),
exact AS (
  SELECT doc_id, MIN(h_id) AS exact_dup_of FROM dfp JOIN hfp USING (fp)
  GROUP BY doc_id
),{_side_minhash("hist")},{_side_minhash("delt")},
hsize AS (
  SELECT band, key, count(*) AS n FROM hist_band GROUP BY band, key
),
hkept AS (
  SELECT hb.doc_id, hb.band, hb.key
  FROM hist_band hb JOIN hsize USING (band, key)
  WHERE hsize.n <= {D17_MAX_BUCKET}
),
stats AS (
  SELECT CAST(coalesce(sum(CASE WHEN n > {D17_MAX_BUCKET} THEN 1
                           ELSE 0 END), 0) AS BIGINT) AS banned_bands,
         CAST(coalesce(sum(CASE WHEN n > {D17_MAX_BUCKET} THEN n
                           ELSE 0 END), 0) AS BIGINT) AS banned_band_rows
  FROM hsize
),
cand AS (
  SELECT DISTINCT d.doc_id AS d_id, h.doc_id AS h_id
  FROM delt_band d JOIN hkept h ON d.band = h.band AND d.key = h.key
),
near AS (
  SELECT d_id AS doc_id, MIN(h_id) AS neardup_of
  FROM cand
  JOIN delt_sh sd ON sd.doc_id = cand.d_id
  JOIN hist_sh sh ON sh.doc_id = cand.h_id
  WHERE (CAST(len(list_intersect(sd.shingles, sh.shingles)) AS DOUBLE)
        / CAST(len(list_distinct(sd.shingles || sh.shingles)) AS DOUBLE))
        >= {JACCARD_T}
  GROUP BY d_id
)
SELECT d.doc_id, e.exact_dup_of, n.neardup_of,
       (e.exact_dup_of IS NULL AND n.neardup_of IS NULL) AS is_new,
       stats.banned_bands, stats.banned_band_rows
FROM delt d
LEFT JOIN exact e USING (doc_id)
LEFT JOIN near n USING (doc_id)
CROSS JOIN stats
ORDER BY d.doc_id
""",
    driver=False,
)
def d17_incremental_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    history = d.filter(F.col("doc_id") % DELTA_MOD != 0)
    delta = d.filter(F.col("doc_id") % DELTA_MOD == 0)
    result, stats = D.incremental_dedup(
        history, delta, "doc_id", "text", JACCARD_T, NGRAM, NUM_HASHES,
        max_bucket=D17_MAX_BUCKET, return_stats=True,
    )
    return result.crossJoin(F.broadcast(stats))


@query("d15_capped_neardup_clusters", oracle=_D15_ORACLE, driver=False)
def d15_capped_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sh_sets flows only into the profile + final verify_jaccard →
    # the hashed verify stage is bit-identical here (round 16); the
    # pipeline profiles inline (rows_per_band=None) to pick the banding
    sh = shingles(spark, sf_dir)
    return D.capped_neardup_pipeline(
        verify_sets(sh, D.shingle_hash_is_injective(sh)),
        signatures(sh),
        "doc_id",
        JACCARD_T,
        num_hashes=NUM_HASHES,
        max_bucket=D15_MAX_BUCKET,
        configs=_TUNING_CONFIGS,
        recall_floor=_RECALL_FLOOR,
    )
