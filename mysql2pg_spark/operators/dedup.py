"""Deduplication operators: exact, MinHash+LSH, n-gram Jaccard, SimHash,
embedding-cosine near-dup.

Scale design (100 TB):
- exact: one shuffle on the 16-byte fingerprint; map-side combine.
- MinHash: shingles and signatures come from one map-local Arrow
  kernel pass (no shuffle); the LSH band self-join shuffles on the band
  key — candidates only, never all pairs. Band-key hot spots (a shingle
  shared by millions of docs) are handled by AQE skew-join splitting
  (on in session.py).
- Jaccard verify runs only on LSH candidates.
- SimHash: explode + 32 conditional sums → one shuffle.
- embedding near-dup is blocked (label/bucket) so the pair join is
  band-local, not cartesian.

Hash functions are md5-derived so results are engine-independent and
deterministic (no seed state) — the property that makes every operator
here oracle-checkable in an external SQL engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mysql2pg_spark.operators.textops import fingerprint

DEFAULT_NUM_HASHES = 8


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup via fingerprint groups: every row keeps its canonical
    (minimum) id; `is_duplicate` marks rows that would be dropped.
    One shuffle on the fingerprint."""
    fp = fingerprint(text_col).alias("fp")
    w = Window.partitionBy("fp")
    return (
        df.select(F.col(id_col), fp)
        .withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("is_duplicate", (F.col(id_col) != F.col("canonical_id")))
        .withColumn("group_size", F.count(F.lit(1)).over(w).cast("bigint"))
    )


def shingle_sets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 3,
    num_hashes: int = 0,
) -> DataFrame:
    """(id, distinct word-ngram array) — the shared input of signature
    computation and Jaccard verification — plus, when ``num_hashes`` > 0,
    the document's MinHash signature ``mh0 … mh{num_hashes-1}`` from the
    same kernel pass (NULL for a document with no shingle).

    Round 16 (guide §4.2, the winnow/CDC precedent): the n-gram build is
    an Arrow ``mapInArrow`` kernel instead of the previous Catalyst
    ``transform(sequence, slice+array_join)`` chain — higher-order
    functions are interpreted per element, and profiling the sf1 leg
    showed the shingle explode alone cost ~34 s with md5+aggregation
    adding nothing on top. Tokenization (lower/trim/regex split) STAYS
    a JVM expression so its semantics are bit-identical to before and
    to the DuckDB oracles; the kernel only joins already-tokenized
    slices with single spaces and dedups keeping first occurrence
    (``dict.fromkeys`` == ``array_distinct`` order), which is
    locale/regex-free — equivalence is structural, and verified by a
    direct sorted-collect compare plus every shingle-family oracle.

    The signature is fused into the kernel (operator fusion): minhash i
    is the minimum over the document's shingles of :func:`minhash_slice`
    computed with ``hashlib`` on the same UTF-8 bytes, so the values are
    byte-identical to the JVM expression, and the signature costs no
    explode, no shuffle and no aggregation."""
    from mysql2pg_spark.operators.textops import tokens

    src = df.select(F.col(id_col), tokens(text_col).alias("_toks"))
    id_ddl = src.schema[0].dataType.simpleString()
    mh_cols = [f"mh{i}" for i in range(num_hashes)]

    def kernel(batches):
        import hashlib

        import pyarrow as pa

        prefixes = [f"{g}|" for g in range((num_hashes + 3) // 4)]
        for batch in batches:
            toks_col = batch.column(1).to_pylist()
            out: list = []
            mins: list = [[] for _ in mh_cols]
            for toks in toks_col:
                # JVM twin: null text and < ngram tokens both yield an
                # EMPTY array (when(count >= 1, ...).otherwise(array()))
                if toks is None or len(toks) < ngram:
                    sh = []
                else:
                    sh = list(
                        dict.fromkeys(
                            " ".join(toks[i : i + ngram])
                            for i in range(len(toks) - ngram + 1)
                        )
                    )
                out.append(sh)
                for g, pre in enumerate(prefixes):
                    # one digest is four 8-hex-digit hash functions
                    digests = [
                        hashlib.md5((pre + s).encode()).hexdigest()
                        for s in sh
                    ]
                    for i in range(4 * g, min(4 * g + 4, num_hashes)):
                        o = 8 * (i % 4)
                        mins[i].append(
                            min((d[o : o + 8] for d in digests), default=None)
                        )
            yield pa.record_batch(
                [batch.column(0), pa.array(out, type=pa.list_(pa.string()))]
                + [pa.array(m, type=pa.string()) for m in mins],
                names=[id_col, "shingles", *mh_cols],
            )

    return src.mapInArrow(
        kernel,
        ", ".join(
            [f"{id_col} {id_ddl}", "shingles array<string>"]
            + [f"{c} string" for c in mh_cols]
        ),
    )


def minhash_slice(i: int, shingle: Column) -> Column:
    """Hash function i = the (i%4)-th 32-bit hex slice of
    md5('<i//4>|' || shingle): one digest yields FOUR independent
    minhashes (4× fewer md5 calls than hash-per-function), and
    fixed-length lowercase hex keeps min() on strings ≡ min() on values.
    Deterministic + engine-independent like everything in this module.
    The JVM spelling of the hash :func:`shingle_sets` computes in its
    kernel (and the DuckDB oracles in SQL)."""
    digest = F.md5(F.concat(F.lit(f"{i // 4}|"), shingle))
    return F.substring(digest, 8 * (i % 4) + 1, 8)


def _signatures_from_shingles(
    sh_sets: DataFrame, id_col: str, num_hashes: int
) -> DataFrame:
    """The signature rows of a ``shingle_sets(..., num_hashes=k)`` frame:
    every document with at least one shingle (an empty set has no
    minimum), projected to ``(id, mh0 … mh{k-1})``."""
    return sh_sets.filter(F.size("shingles") > 0).select(
        F.col(id_col), *[F.col(f"mh{i}") for i in range(num_hashes)]
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    ngram: int = 3,
) -> DataFrame:
    """MinHash signature per document: mh_i = min over shingles of
    md5('<i>|' || shingle), from the one shingle kernel pass."""
    return _signatures_from_shingles(
        shingle_sets(df, id_col, text_col, ngram, num_hashes),
        id_col,
        num_hashes,
    )


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str, num_hashes: int = DEFAULT_NUM_HASHES
) -> DataFrame:
    """LSH with one band per hash (r=1): docs sharing ANY minhash value
    become a candidate pair. Equi-join on (band, key) — never all-pairs."""
    return (
        _band_keys(signatures, id_col, "id_a", num_hashes)
        .join(_band_keys(signatures, id_col, "id_b", num_hashes), ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def lsh_candidate_pairs_capped(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    max_bucket: int = 64,
    rows_per_band: int = 1,
    max_n: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Skew-hardened LSH candidates (round 14): real corpora have
    power-law duplicate clusters — one template shared by 1% of docs
    puts that cluster's ENTIRE O(n²) pair mass into one (band, key)
    bucket, which the all-pairs self-join materializes inside a single
    straggler task. Here buckets up to ``max_bucket`` form all pairs
    (the verification-friendly shape, identical to
    :func:`lsh_candidate_pairs`); LARGER buckets link each member to
    the bucket minimum instead (a star): cluster connectivity — what
    downstream connected-components dedup consumes — is preserved
    exactly, while the giant bucket's candidate mass drops from
    O(n²) to O(n) and no task ever receives a quadratic bucket.

    Returns ``(pairs, stats)`` where ``stats`` is a 1-row DataFrame
    ``(capped_buckets, truncated_pairs, kept_formations)``:
    ``truncated_pairs`` counts the all-pairs candidate FORMATIONS the
    cap did not perform and ``kept_formations`` the ones it DID —
    both per (band, key), BEFORE cross-band dedup, because that is the
    join-side work the cap trades (the uncapped join materializes
    every band's pairs and only then distincts). Same units on both
    sides (ADVICE r14 — comparing per-band truncations against
    post-dedup distinct pairs let the gate's margin absorb the
    cross-band dedup ratio), so ``truncated > kept`` reads directly
    as "the cap removed more work than it kept". The repo's "no
    silent caps" rule: callers must surface these numbers next to
    the pair count.

    ``rows_per_band`` > 1 applies the cap to the banded (b×r) keying
    of lsh_band_candidates — the shape the profile-driven pipeline
    (capped_neardup_pipeline) runs after picking r from the d16
    tuning profile.

    Physical shape (round 15 — rebuilt without the bucket-size
    WINDOW): bucket sizes come from a scalar groupBy aggregate
    (map-side combinable, O(1) state per bucket at any skew — a
    window would sort the hottest key's whole partition), and BOTH
    cap branches fall out of ONE annotated self-join: the left side
    keeps small-bucket members plus each big bucket's MINIMUM only,
    so a hot bucket contributes 1×n join rows (the star) while small
    buckets contribute n×n, and the single ``id_a < id_b`` filter is
    correct for both (star links always lead with the bucket min).
    The earlier window formulation was also re-executed per consumer
    — three branches, three sorts (measured 5× on d04 at sf0.1);
    this tree consumes the aggregate once per side and never sorts."""
    keys = _band_keys(signatures, id_col, "id", num_hashes, rows_per_band)
    buckets = keys.groupBy("band", "key").agg(
        F.count(F.lit(1)).alias("n"), F.min("id").alias("bmin")
    )
    # Plan-time statistics short-circuit (round 15): one scalar — the
    # corpus' max bucket size ``max_n`` — decides the physical plan, the
    # same shape as AQE reading map-output stats (and the d15 profile
    # collect). Below the cap the capped tree and the plain self-join
    # produce THE SAME pair set by definition, but the capped tree
    # pays two extra bucket-annotation joins — a measured 4× on d04's
    # warm sf0.1 wall, pure insurance premium on corpora that need no
    # insurance. The decision is FROZEN into the returned plan: if
    # the underlying data changes under the same path, rebuild the
    # DataFrame (the plans layer builds every query from its files, so
    # its queries always do).
    #
    # EAGER unless the caller passes ``max_n``: None collects it here
    # (one query, a map-side-combined O(buckets) aggregate). A caller
    # that needs other statistics too gets them in the same query from
    # :func:`plan_time_stats`; ``max_n=max_bucket + 1`` builds the
    # capped tree with no job at all, correct at every bucket size at
    # the cost of the two bucket-annotation joins.
    if max_n is None:
        max_n = buckets.agg(F.max("n")).collect()[0][0] or 0
    if max_n <= max_bucket:
        pairs = (
            keys.select("band", "key", F.col("id").alias("id_a"))
            .join(
                keys.select("band", "key", F.col("id").alias("id_b")),
                ["band", "key"],
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
    else:
        left = (
            keys.join(buckets, ["band", "key"])
            .filter(
                (F.col("n") <= max_bucket) | (F.col("id") == F.col("bmin"))
            )
            .select("band", "key", F.col("id").alias("id_a"))
        )
        pairs = (
            left.join(
                keys.select("band", "key", F.col("id").alias("id_b")),
                ["band", "key"],
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
    # exact at ANY bucket size (review r14b): n*(n-1) in bigint
    # overflows past n ≈ 3.04e9 — and this session runs ANSI mode, so
    # the stats aggregation would THROW on exactly the degenerate
    # buckets the cap exists to report. DECIMAL(38,0) keeps every
    # product and the sum exact; n(n-1) is even so the halving is
    # integral, and floor() pins the type back to scale 0.
    allp_forms = F.floor(
        F.col("n").cast("decimal(38,0)") * (F.col("n") - 1) / 2
    )
    star_forms = (F.col("n") - 1).cast("decimal(38,0)")
    is_capped = F.col("n") > max_bucket
    stats = (
        buckets.agg(
            F.coalesce(F.sum(F.when(is_capped, 1).otherwise(0)), F.lit(0))
            .cast("bigint")
            .alias("capped_buckets"),
            F.coalesce(
                F.sum(F.when(is_capped, allp_forms - star_forms)),
                F.lit(0),
            ).cast("decimal(38,0)").alias("truncated_pairs"),
            F.coalesce(
                F.sum(F.when(is_capped, star_forms).otherwise(allp_forms)),
                F.lit(0),
            ).cast("decimal(38,0)").alias("kept_formations"),
        )
    )
    return pairs, stats


def jaccard_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    ngram: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """MinHash-LSH candidates verified with exact n-gram Jaccard ≥
    threshold. Verification joins shingle sets only for candidates; the
    shingle arrays and signatures come from ONE kernel pass and are
    cached — they feed both the band join and the verification join
    (shingling is the dominant scan cost at scale)."""
    sh_sets = shingle_sets(df, id_col, text_col, ngram, num_hashes).cache()
    cands = lsh_candidate_pairs(
        _signatures_from_shingles(sh_sets, id_col, num_hashes), id_col, num_hashes
    )
    return verify_jaccard(cands, sh_sets, id_col, threshold)


def verify_jaccard(
    cands: DataFrame, sh_sets: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against shingle
    arrays (callers may pass cached/shared stages — string shingles or
    the int64-hashed stage from :func:`hashed_shingle_sets`; the set
    algebra below never looks at element contents).

    PRECONDITION: the arrays are SETS (``shingle_sets`` emits
    list_distinct output), so ``|A∪B| = |A|+|B|−|A∩B|`` holds as exact
    integer arithmetic — one hash-set build per pair instead of the two
    that ``array_intersect`` + ``array_union`` paid (round 16, guide
    §1.2 step 2: measured 15% off the sf1 verify wall on its own, and
    it compounds with the hashed-element payload cut)."""
    sa = sh_sets.select(
        F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")
    )
    sb = sh_sets.select(
        F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    # raw double quotient of two exact ints — bit-identical in any
    # IEEE engine. No F.round: decimal rounding of doubles is the one
    # op Spark (HALF_UP) and other engines (HALF_EVEN) disagree on.
    jac = (inter.cast("double") / union.cast("double")).alias("jaccard")
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac)
        .filter(F.col("jaccard") >= threshold)
    )


def hashed_shingle_sets(sh_sets: DataFrame, id_col: str) -> DataFrame:
    """xxhash64 every shingle once per doc → arrays of int64 (round 16,
    guide §2.3 "shuffle keys and metadata instead of payloads"): the
    verify join then shuffles 8-byte elements instead of n-gram strings
    and the per-pair ``array_intersect`` compares longs instead of
    hashing UTF8 strings (measured at sf1: the 3.96M-pair verify wall
    dropped ~3× — joins 6.0→2.1 s, intersects 3.8→1.5 s).

    EXACT ONLY when the hash is injective on the corpus vocabulary —
    callers must gate on :func:`shingle_hash_is_injective` or
    :func:`plan_time_stats` (the plans layer checks per query and falls
    back to the string arrays when the check fails). Injectivity makes per-pair
    intersection counts on hashes equal the counts on strings, so the
    Jaccard doubles are bit-identical."""
    return sh_sets.select(
        F.col(id_col),
        F.transform("shingles", lambda s: F.xxhash64(s)).alias("shingles"),
    )


def _vocabulary_rows(sh_sets: DataFrame) -> DataFrame:
    """``(kind=1, g)``: one row per shingle occurrence."""
    return sh_sets.select(
        F.lit(1).alias("kind"), F.explode("shingles").alias("g")
    )


def _grouped_stats(rows: DataFrame):
    """Both plan-time statistics from ``(kind, g)`` rows in one query:

    - ``max_n``: the largest kind-0 group (an LSH bucket);
    - ``collides``: whether two distinct kind-1 values (shingles) share
      one xxhash64 — exactly ``countDistinct(g) != countDistinct(h)``.

    Level one counts each ``(kind, g)``; level two regroups by
    ``xxhash64(g)``, keeping the largest count (a bucket that shares a
    hash with another keeps its own size in the max) and the number of
    distinct values (a vocabulary collision); a global aggregate ends
    it. Every aggregation buffer is fixed-width, so all three levels
    are hash aggregates: a ``min``/``max`` of strings would fall back
    to a sort aggregate (measured ~3× slower at sf1), and two distinct
    counts pay an Expand. NULLs where a kind has no rows."""
    return (
        rows.groupBy("kind", "g")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("kind", F.xxhash64("g").alias("h"))
        .agg(F.max("n").alias("n"), F.count(F.lit(1)).alias("values"))
        .agg(
            F.max(F.when(F.col("kind") == 0, F.col("n"))).alias("max_n"),
            F.max(F.when(F.col("kind") == 1, F.col("values"))).alias("most"),
        )
        .select("max_n", (F.col("most") > 1).alias("collides"))
        .first()
    )


def shingle_hash_is_injective(sh_sets: DataFrame) -> bool:
    """True iff xxhash64 is collision-free on the corpus' distinct
    shingle vocabulary. NOTE: EAGER — one O(vocabulary) aggregate query
    per call (:func:`plan_time_stats` folds it into the max-bucket
    query)."""
    return not _grouped_stats(_vocabulary_rows(sh_sets))["collides"]


def plan_time_stats(
    signatures: DataFrame,
    sh_sets: DataFrame,
    id_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    rows_per_band: int = 1,
) -> tuple[int, bool]:
    """``(max_n, injective)``: the largest LSH bucket of ``signatures``
    (``lsh_candidate_pairs_capped``'s ``max_n``) and whether xxhash64 is
    injective on ``sh_sets``' vocabulary (whether
    :func:`hashed_shingle_sets` verifies exactly). EAGER: both come back
    from ONE query over the union of bucket and vocabulary rows."""
    keys = _band_keys(signatures, id_col, "id", num_hashes, rows_per_band)
    buckets = keys.select(
        F.lit(0).alias("kind"),
        # band ids hold no "|", so the first one splits band from key
        F.concat_ws("|", "band", "key").alias("g"),
    )
    row = _grouped_stats(buckets.unionByName(_vocabulary_rows(sh_sets)))
    return int(row["max_n"] or 0), not row["collides"]


def _band_keys(
    sig: DataFrame,
    id_col: str,
    out: str,
    num_hashes: int,
    rows_per_band: int = 1,
) -> DataFrame:
    """(id → one row per (band, key)) from a signature frame — the LSH
    index layout shared by the self-join (lsh_candidate_pairs), the
    cross-table delta-vs-history join (incremental_dedup) and the capped
    generator. ``rows_per_band`` > 1 keys band i on the concatenation of
    minhashes ``i·r … i·r+r−1`` (two docs collide only when ALL r member
    hashes agree — the precision knob of lsh_band_candidates)."""
    r = rows_per_band
    if r == 1:
        key = [F.col(f"mh{i}").alias("key") for i in range(num_hashes)]
    else:
        key = [
            F.concat_ws(
                "|", *[F.col(f"mh{i * r + j}") for j in range(r)]
            ).alias("key")
            for i in range(num_hashes // r)
        ]
    return sig.select(
        F.col(id_col).alias(out),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("band"), k)
                    for i, k in enumerate(key)
                ]
            )
        ).alias("b"),
    ).select(out, "b.band", "b.key")


def incremental_dedup(
    history: DataFrame,
    delta: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    ngram: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
    max_bucket: int | None = None,
    return_stats: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Continuous-ingest dedup: classify each DELTA document against the
    HISTORY corpus — the shape of a daily crawl landing on an existing
    100 TB corpus, where re-deduping history against itself every batch
    would be quadratic waste.

    One row per delta doc: ``exact_dup_of`` (min history id with an
    identical fingerprint), ``neardup_of`` (min history id that is an
    LSH candidate with n-gram Jaccard ≥ threshold), ``is_new`` (neither).

    Scale shape: every join is keyed — fingerprint equi-join for exact,
    (band, key) equi-join for near-dup candidates, Jaccard verify only
    on candidates. History is scanned once to build its fp/signature
    index; in a production pipeline that index is PRECOMPUTED and
    bucketed on the band key, so each delta batch costs
    O(delta × bands) lookups, independent of history size. Each side's
    shingles and signatures come from one kernel pass and are cached
    (used by both the band join and the verify join); history never
    joins history.

    ``max_bucket`` (round 15) BANS hot history band keys — the
    stop-shingle mitigation for the continuous-ingest shape: a band
    key shared by millions of history docs (one viral template) would
    fan every matching delta doc out by the bucket size on every
    batch; the star-link cap of the self-join case does not apply
    here (the index is bipartite), so oversized buckets leave the
    index entirely. Banning can lose near-dup links reachable ONLY
    through a banned band (the documented trade), so it must be loud:
    with ``return_stats=True`` the call returns
    ``(result, stats)`` where stats is a 1-row
    ``(banned_bands, banned_band_rows)`` frame — the "no silent caps"
    surface (all-zero when no cap is set or none fired). The exact
    fingerprint path is never affected.
    """
    h_fp = history.select(
        F.col(id_col).alias("h_id"), fingerprint(text_col).alias("fp")
    )
    d_fp = delta.select(F.col(id_col), fingerprint(text_col).alias("fp"))
    exact = (
        d_fp.join(h_fp, "fp")
        .groupBy(id_col)
        .agg(F.min("h_id").alias("exact_dup_of"))
    )

    h_sh = shingle_sets(history, id_col, text_col, ngram, num_hashes).cache()
    d_sh = shingle_sets(delta, id_col, text_col, ngram, num_hashes).cache()
    h_band = _band_keys(
        _signatures_from_shingles(h_sh, id_col, num_hashes),
        id_col,
        "h_id",
        num_hashes,
    )
    if max_bucket is not None:
        sizes = h_band.groupBy("band", "key").agg(
            F.count(F.lit(1)).alias("n")
        )
        stats = sizes.agg(
            F.coalesce(
                F.sum(F.when(F.col("n") > max_bucket, 1).otherwise(0)),
                F.lit(0),
            ).cast("bigint").alias("banned_bands"),
            F.coalesce(
                F.sum(
                    F.when(F.col("n") > max_bucket, F.col("n")).otherwise(0)
                ),
                F.lit(0),
            ).cast("bigint").alias("banned_band_rows"),
        )
        h_band = h_band.join(
            sizes.filter(F.col("n") <= max_bucket).select("band", "key"),
            ["band", "key"],
        )
    else:
        stats = history.sparkSession.createDataFrame(
            [(0, 0)], "banned_bands bigint, banned_band_rows bigint"
        )
    cand = (
        _band_keys(
            _signatures_from_shingles(d_sh, id_col, num_hashes),
            id_col,
            "d_id",
            num_hashes,
        )
        .join(h_band, ["band", "key"])
        .select("d_id", "h_id")
        .distinct()
    )
    inter = F.size(F.array_intersect("sh_d", "sh_h"))
    # arrays are sets (shingle_sets) → |A∪B| = |A|+|B|−|A∩B| exactly;
    # one hash-set build per pair instead of two (see verify_jaccard)
    union = F.size("sh_d") + F.size("sh_h") - inter
    jac = inter.cast("double") / union.cast("double")  # raw — see
    # verify_jaccard on why no F.round
    near = (
        cand.join(
            d_sh.select(F.col(id_col).alias("d_id"), F.col("shingles").alias("sh_d")),
            "d_id",
        )
        .join(
            h_sh.select(F.col(id_col).alias("h_id"), F.col("shingles").alias("sh_h")),
            "h_id",
        )
        .filter(jac >= F.lit(threshold))
        .groupBy(F.col("d_id").alias(id_col))
        .agg(F.min("h_id").alias("neardup_of"))
    )
    result = (
        delta.select(id_col)
        .join(exact, id_col, "left")
        .join(near, id_col, "left")
        .select(
            id_col,
            "exact_dup_of",
            "neardup_of",
            (
                F.col("exact_dup_of").isNull() & F.col("neardup_of").isNull()
            ).alias("is_new"),
        )
    )
    if return_stats:
        return result, stats
    return result


def simhash32(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """32-bit SimHash over distinct tokens: token → 32-bit int from the
    first 8 hex chars of md5; each bit votes ±1; simhash bit j = majority.

    One explode + one groupBy with 32 conditional sums (all map-side
    combinable)."""
    # explode_outer (not explode): InferFiltersFromGenerate would inline
    # the tokenization into a pushed-down size() filter and tokenize each
    # row twice — see textops.winnow_fingerprints docstring.
    toks = df.select(
        F.col(id_col),
        F.explode_outer(
            F.array_distinct(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
        ).alias("tok"),
    ).filter(F.col("tok").isNotNull())
    tok_int = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("bigint")
    toks = toks.withColumn("ti", tok_int)
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("ti"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"v{j}")
        for j in range(32)
    ]
    sums = toks.groupBy(id_col).agg(*votes)
    sim = None
    for j in range(32):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(2**j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sim = bit if sim is None else sim + bit
    return sums.select(F.col(id_col), sim.alias("simhash"))


def dot_fold(a: Column, b: Column) -> Column:
    """Dot product as a LEFT FOLD of double products. Both Spark's
    ``aggregate`` and DuckDB's ``list_reduce`` fold sequentially
    left-to-right, so the result is bit-identical across engines despite
    double addition being non-associative. (Decimal-cast accumulation was
    rejected: double→decimal midpoint rounding is HALF_UP in Spark but
    HALF_EVEN in DuckDB — a real observed divergence.)"""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def cosine(a: Column, b: Column) -> Column:
    """Deterministic cosine similarity (see dot_fold)."""
    dot = dot_fold(a, b)
    na = F.sqrt(dot_fold(a, a))
    nb = F.sqrt(dot_fold(b, b))
    return dot / (na * nb)


def with_norm(df: DataFrame, vec_col: str, out: str = "norm") -> DataFrame:
    """Precompute ||v|| once per vector — pairwise ops then fold ONE dot
    per pair instead of three (the norm folds are identical doubles either
    way, so results don't change; at N² pairs this is a 3× compute cut)."""
    v = F.col(vec_col)
    return df.withColumn(out, F.sqrt(dot_fold(v, v)))


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float,
) -> DataFrame:
    """Cosine near-duplicate pairs, blocked: pairs are only formed inside
    a block (label / LSH bucket / shard key), so the join is band-local.
    At 100 TB the block key IS the scale lever — swap `label` for an LSH
    bucket (similarity.hyperplane_bucket) without touching this code."""
    normed = with_norm(df, vec_col)
    a = normed.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        F.col("norm").alias("norm_a"),
    )
    b = normed.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        F.col("norm").alias("norm_b"),
    )
    cos = dot_fold(F.col("vec_a"), F.col("vec_b")) / (
        F.col("norm_a") * F.col("norm_b")
    )
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "blk",
            "id_a",
            "id_b",
            # raw left-fold double (dot_fold docstring) — no F.round,
            # whose half-way decimal rounding differs across engines
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def embedding_neardup_multitable(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    num_tables: int = 3,
    num_planes: int = 4,
    dims: int = 64,
) -> DataFrame:
    """Cosine near-duplicate pairs with candidates drawn from
    ``num_tables`` independent LSH bucketings (union + distinct), then
    exact-verified. Single-bucket blocking finds pairs that agree on ALL
    hyperplane signs of one table; each extra table multiplies candidate
    recall (1-(1-r)^L) while every per-table join stays bucket-local —
    the same recall/blocking trade the knn path uses (knn_lsh). Output
    is (id_a, id_b, cos_sim): no block column, since a pair may be found
    by any table."""
    from mysql2pg_spark.operators.similarity import hyperplane_bucket

    pair_sets = []
    for t in range(num_tables):
        bt = df.select(
            F.col(id_col).alias("i"),
            hyperplane_bucket(F.col(vec_col), num_planes, dims, t).alias("k"),
        )
        a = bt.select(F.col("i").alias("id_a"), "k")
        b = bt.select(F.col("i").alias("id_b"), "k")
        pair_sets.append(
            a.join(b, "k").filter(F.col("id_a") < F.col("id_b")).select(
                "id_a", "id_b"
            )
        )
    cand = pair_sets[0]
    for p in pair_sets[1:]:
        cand = cand.unionByName(p)
    cand = cand.distinct()

    normed = with_norm(df, vec_col)
    va = normed.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        F.col("norm").alias("norm_a"),
    )
    vb = normed.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        F.col("norm").alias("norm_b"),
    )
    cos = dot_fold(F.col("vec_a"), F.col("vec_b")) / (
        F.col("norm_a") * F.col("norm_b")
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def contamination_report(
    train: DataFrame,
    evalset: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 8,
) -> DataFrame:
    """Train/eval decontamination: flag training documents sharing at
    least one word n-gram (default 8 — the common LLM-pipeline setting)
    with any evaluation document. Returns one row per contaminated
    training doc: (id_col, n_eval_matches, n_shared_grams).

    Shape at scale: both sides shingle map-locally (same O(tokens) pass
    as MinHash), then a single equi-join on the gram. The eval side is
    orders smaller than the corpus, so its exploded grams are broadcast —
    the 100 TB train side never shuffles. Distinct (train, eval) pairs
    are counted exactly, not approximated.
    """
    t_grams = shingle_sets(train, id_col, text_col, ngram).select(
        F.col(id_col).alias("train_id"), F.explode_outer("shingles").alias("g")
    ).filter(F.col("g").isNotNull())
    e_grams = shingle_sets(evalset, id_col, text_col, ngram).select(
        F.col(id_col).alias("eval_id"), F.explode_outer("shingles").alias("g")
    ).filter(F.col("g").isNotNull())
    hits = t_grams.join(F.broadcast(e_grams), "g")
    return (
        hits.groupBy(F.col("train_id").alias("doc_id"))
        .agg(
            F.countDistinct("eval_id").alias("n_eval_matches"),
            F.countDistinct("g").alias("n_shared_grams"),
        )
    )


def source_overlap_matrix(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    ngram: int = 8,
) -> DataFrame:
    """Cross-source n-gram overlap matrix (corpus diagnostics): for each
    pair of sources, the number of distinct word n-grams they share —
    the source-level view of the d07 contamination check (same shingles,
    same normalization).

    Shape at scale: per-source DISTINCT gram sets reduce the corpus to
    one row per (source, gram) — one shuffle on the gram; the pair count
    is then an equi-join on the gram key (never all-pairs over docs) and
    the result is O(sources²) rows.
    """
    grams = (
        shingle_sets(docs, group_col, text_col, ngram)
        .select(F.col(group_col), F.explode_outer("shingles").alias("g"))
        .filter(F.col("g").isNotNull())
        .distinct()
    )
    a, b = grams.alias("a"), grams.alias("b")
    return (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col(f"a.{group_col}") < F.col(f"b.{group_col}")),
        )
        .groupBy(
            F.col(f"a.{group_col}").alias("source_a"),
            F.col(f"b.{group_col}").alias("source_b"),
        )
        .agg(F.count("*").cast("long").alias("shared_grams"))
    )


def lsh_band_candidates(
    signatures: DataFrame,
    id_col: str,
    rows_per_band: int,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """LSH candidate pairs under a (b bands × r rows) banding of the
    SAME ``num_hashes`` signature columns: band i's key is the
    concatenation of minhashes ``i·r … i·r+r−1``, so two docs collide
    on a band only when ALL r member hashes agree. r=1 reproduces
    :func:`lsh_candidate_pairs`; larger r trades recall for precision
    (P[collide] = 1 − (1 − s^r)^b for Jaccard s — the standard S-curve
    knob). Every config's candidate set is a SUBSET of r=1's (sharing
    a concatenated key implies sharing each member key)."""
    return (
        _band_keys(signatures, id_col, "id_a", num_hashes, rows_per_band)
        .join(
            _band_keys(signatures, id_col, "id_b", num_hashes, rows_per_band),
            ["band", "key"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def lsh_tuning_profile(
    signatures: DataFrame,
    sh_sets: DataFrame,
    id_col: str,
    threshold: float,
    rows_per_band_configs: tuple = (1, 2, 4),
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """The banding TUNING TABLE for MinHash-LSH dedup (round 14): for
    each (b×r) banding of the same signatures, the candidate count,
    the exact-Jaccard-verified count, and the precision — measured on
    the corpus itself, which is how a 100 TB pipeline team picks the
    banding empirically instead of from the S-curve alone (real
    corpora have correlated shingles the independence assumption
    misses). One row per config; candidates of every config are a
    subset of r=1's, so verified@r=1 is the recall denominator.

    Scale: signatures and shingles are computed once (callers pass the
    shared pinned stages). Round 16 (optimization, guide §2.3
    "aggregate before you shuffle" / §1.2 step 1): when the configs
    include r=1, ALL configs profile in ONE candidate join + ONE
    Jaccard-verification pass — every config's candidate set is a
    subset of r=1's, and whether an r=1 pair also collides under
    banding r is a pure column predicate over the two signatures
    (∃ band i: all r member hashes equal). The previous shape ran one
    banded join + one array-intersect verification PER config
    (measured: the 3-config profile paid ~3× the single-pass verify
    cost; identical 1-row-per-config output, oracle-checked by d16).
    Configs without r=1 keep the per-config path."""
    rs = list(rows_per_band_configs)
    if 1 not in rs:
        profiles = []
        for r in rs:
            cands = lsh_band_candidates(signatures, id_col, r, num_hashes)
            verified = verify_jaccard(cands, sh_sets, id_col, -1.0)
            profiles.append(
                verified.agg(
                    F.count(F.lit(1)).alias("n_candidates"),
                    F.sum(
                        F.when(F.col("jaccard") >= threshold, 1).otherwise(0)
                    ).cast("bigint").alias("n_verified"),
                ).select(
                    F.lit(num_hashes // r).cast("bigint").alias("bands"),
                    F.lit(r).cast("bigint").alias("rows_per_band"),
                    F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
                    F.coalesce("n_verified", F.lit(0)).alias("n_verified"),
                    F.when(
                        F.col("n_candidates") > 0,
                        F.col("n_verified").cast("double")
                        / F.col("n_candidates").cast("double"),
                    ).alias("precision"),
                )
            )
        out = profiles[0]
        for p in profiles[1:]:
            out = out.unionByName(p)
        return out

    # one-pass path: r=1 candidates scored once; per-config membership
    # is a signature predicate (threshold -1 keeps EVERY pair's row)
    cands = lsh_band_candidates(signatures, id_col, 1, num_hashes)
    scored = verify_jaccard(cands, sh_sets, id_col, -1.0)
    siga = signatures.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"mh{i}").alias(f"_a{i}") for i in range(num_hashes)],
    )
    sigb = signatures.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"mh{i}").alias(f"_b{i}") for i in range(num_hashes)],
    )
    j = scored.join(siga, "id_a").join(sigb, "id_b")

    def collide(r: int) -> Column:
        if r == 1:
            return F.lit(True)
        bands = []
        for i in range(num_hashes // r):
            eqs = [
                F.col(f"_a{i * r + k}") == F.col(f"_b{i * r + k}")
                for k in range(r)
            ]
            band = eqs[0]
            for e in eqs[1:]:
                band = band & e
            bands.append(band)
        out = bands[0]
        for b in bands[1:]:
            out = out | b
        return out

    aggs = []
    for r in rs:
        c = collide(r)
        aggs.append(
            F.coalesce(
                F.sum(F.when(c, 1).otherwise(0)), F.lit(0)
            ).cast("bigint").alias(f"nc_{r}")
        )
        aggs.append(
            F.coalesce(
                F.sum(F.when(c & (F.col("jaccard") >= threshold), 1)
                      .otherwise(0)),
                F.lit(0),
            ).cast("bigint").alias(f"nv_{r}")
        )
    stack_rows = ", ".join(
        f"CAST({num_hashes // r} AS BIGINT), CAST({r} AS BIGINT), "
        f"nc_{r}, nv_{r}, "
        f"CASE WHEN nc_{r} > 0 "
        f"THEN CAST(nv_{r} AS DOUBLE) / CAST(nc_{r} AS DOUBLE) END"
        for r in rs
    )
    return j.agg(*aggs).selectExpr(
        f"stack({len(rs)}, {stack_rows}) AS "
        "(bands, rows_per_band, n_candidates, n_verified, precision)"
    )


def choose_rows_per_band(
    profile_rows,
    recall_floor: tuple = (9, 10),
) -> int:
    """Pick the banding from a collected lsh_tuning_profile: the LARGEST
    ``rows_per_band`` whose verified count keeps at least
    ``recall_floor`` (a rational p/q, default 9/10) of the r=1 verified
    count — r=1 is the recall ceiling (every config's candidates are a
    subset of its), so this maximizes precision subject to a recall
    floor. The comparison is exact integer arithmetic
    (``n_verified·q ≥ p·verified@r=1``) so the choice is reproducible
    in any engine — the d15 oracle replays it in SQL. Rows may arrive
    in any order; ties cannot occur (rows_per_band is unique)."""
    p, q = recall_floor
    rows = list(profile_rows)
    base = next(
        (r["n_verified"] for r in rows if r["rows_per_band"] == 1), None
    )
    if base is None:
        # r=1 is the recall DENOMINATOR — a profile without it cannot
        # anchor the floor (review r15: the bare next() raised an
        # unexplained StopIteration)
        raise ValueError(
            "banding profile must include rows_per_band=1 (the recall "
            f"ceiling); got configs {[r['rows_per_band'] for r in rows]}"
        )
    eligible = [
        int(r["rows_per_band"])
        for r in rows
        if r["n_verified"] * q >= p * base
    ]
    if not eligible:
        # possible only with recall_floor > 1 (p > q); r=1 always
        # meets any floor ≤ 1 of its own count
        raise ValueError(
            f"no banding meets recall floor {p}/{q} — the floor must "
            "be ≤ 1 (r=1 defines the ceiling)"
        )
    return max(eligible)


def capped_neardup_pipeline(
    sh_sets: DataFrame,
    signatures: DataFrame,
    id_col: str,
    threshold: float,
    num_hashes: int = DEFAULT_NUM_HASHES,
    max_bucket: int = 64,
    rows_per_band: int | None = None,
    profile_filter: Column | None = None,
    configs: tuple = (1, 2, 4),
    recall_floor: tuple = (9, 10),
    cluster_fn=None,
) -> DataFrame:
    """The PRODUCTION near-dup pipeline, end to end (round 15 — VERDICT
    r14 ask #1): profile → choose banding → capped LSH candidates →
    exact-Jaccard verify → connected components, with the cap's
    truncation SURFACED on every output row.

    Stages:

    1. If ``rows_per_band`` is None, run the d16 tuning profile on the
       ``profile_filter`` slice (MinHash signatures and shingle sets
       are doc-local, so the slice is a plain filter over the shared
       pinned stages — no recompute) and pick the banding with
       :func:`choose_rows_per_band`. The ≤ len(configs)-row profile is
       collected on the driver: a plan-time statistics decision, the
       same shape as AQE reading map-output stats — at 100 TB you
       profile a deterministic sample once and plan the big run with
       the result, not re-derive it per partition.
    2. Capped banded candidates at the chosen r: buckets over
       ``max_bucket`` star-link to the bucket minimum — O(n), never
       O(n²), no straggler task (the Zipf skew leg in bench.py measures
       exactly this hot-bucket mitigation).
    3. Exact n-gram Jaccard ≥ threshold on candidates only.
    4. Iterative min-label connected components — the algorithm the
       round-15 isolated A/B promoted for shallow near-dup graphs
       (4× faster than the star contraction on the identical pair
       set; PLANS.md "cc01 isolated clock"). Pass
       ``cluster_fn=connected_components_star`` for graphs whose
       cluster diameter is unbounded (linkage chains).

    Output: one row per clustered doc —
    ``(node, component, rows_per_band, capped_buckets,
    truncated_pairs)`` — the stats ride a broadcast 1-row crossJoin so
    the truncation count is IN the result ("no silent caps"), bigint
    (exact to 9.2e18 truncated formations; the stats frame itself
    carries DECIMAL(38,0) for callers beyond that).
    """
    if rows_per_band is None:
        p_sig, p_sh = signatures, sh_sets
        if profile_filter is not None:
            p_sig = signatures.filter(profile_filter)
            p_sh = sh_sets.filter(profile_filter)
        prof = lsh_tuning_profile(
            p_sig, p_sh, id_col, threshold, configs, num_hashes
        )
        rows_per_band = choose_rows_per_band(prof.collect(), recall_floor)
    pairs, stats = lsh_candidate_pairs_capped(
        signatures, id_col, num_hashes, max_bucket, rows_per_band
    )
    verified = verify_jaccard(pairs, sh_sets, id_col, threshold)
    if cluster_fn is None:
        from mysql2pg_spark.operators.components import connected_components

        cluster_fn = connected_components
    comps = cluster_fn(verified)
    return comps.crossJoin(
        F.broadcast(
            stats.select(
                F.lit(rows_per_band).cast("bigint").alias("rows_per_band"),
                F.col("capped_buckets"),
                F.col("truncated_pairs").cast("bigint").alias(
                    "truncated_pairs"
                ),
            )
        )
    )
