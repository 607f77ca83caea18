"""Round-16 optimization guards.

- The PROD_MAX_BUCKET fixture invariant (ADVICE r15): the uncapped
  oracles of d04/cc01/cc02/cc04/d09 stay exact only while no fixture
  band-bucket exceeds the production cap — pin it so a fixture
  regeneration that breaks it fails HERE with the cap named, instead
  of as N unexplained oracle mismatches.
- fan_out semantics: no-op when the input already has enough
  partitions, core-count repartition when it does not, size-capped
  when ``bytes_per_partition`` is given.
- The Arrow/NumPy kernels (winnow, cdc) must stay map-only plans.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT

SF_BENCH = "/root/testdata/sf0.1"


def test_fixture_buckets_stay_under_prod_cap(spark):
    """ADVICE r15: every fixture corpus' max LSH band-bucket size must
    stay below plans.dedup.PROD_MAX_BUCKET — at or past the cap the
    capped production candidate stage diverges from the uncapped
    d03/d04/cc oracles BY DESIGN, and those oracle checks would fail
    with no pointer to the cap as the cause."""
    from mysql2pg_spark.operators.dedup import _band_keys
    from mysql2pg_spark.plans.dedup import (
        NUM_HASHES,
        PROD_MAX_BUCKET,
        shingles,
        signatures,
    )

    for sf_dir in (SF_CORRECT, SF_BENCH):
        keys = _band_keys(
            signatures(shingles(spark, sf_dir)), "doc_id", "id", NUM_HASHES
        )
        max_bucket = (
            keys.groupBy("band", "key")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        assert max_bucket < PROD_MAX_BUCKET, (
            f"{sf_dir}: max band-bucket {max_bucket} >= PROD_MAX_BUCKET "
            f"{PROD_MAX_BUCKET} — the capped candidate stage now truncates "
            "on this fixture and the uncapped d03/d04/cc oracles will "
            "hash-mismatch; regenerate the fixture or engage the cap "
            "deliberately (plans/dedup.py round-15 note)"
        )


def test_fan_out_is_noop_when_parallel_enough(spark):
    from mysql2pg_spark.tables import fan_out

    df = spark.range(0, 1000, 1, 64)
    assert fan_out(df) is df


def test_fan_out_spreads_single_partition(spark):
    from mysql2pg_spark.tables import fan_out

    df = spark.range(0, 1000, 1, 1)
    out = fan_out(df)
    assert (
        out.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    assert out.count() == 1000


def test_fan_out_respects_bytes_floor(spark):
    from mysql2pg_spark.tables import fan_out

    df = spark.range(0, 10, 1, 1)  # ~80 bytes — far under the floor
    assert fan_out(df, bytes_per_partition=1024 * 1024) is df


def test_winnow_and_cdc_stay_map_only(spark):
    """The NumPy kernels replaced HOF chains — the zero-exchange
    scan-speed contract must survive the rewrite."""
    from mysql2pg_spark.operators.textops import cdc_chunks
    from mysql2pg_spark.tables import load_table

    d = load_table(spark, SF_CORRECT, "documents")
    plan = cdc_chunks(d)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_bounded_levenshtein_matches_unbounded(spark):
    """d13's thresholded levenshtein must emit exactly the rows and
    distances the unbounded form emitted (the threshold is implied by
    the final edit_sim filter)."""
    from mysql2pg_spark.plans.dedup import EDIT_SIM_T
    from mysql2pg_spark.plans.registry import QUERIES

    got = QUERIES["d13_editdistance_verify"](spark, SF_CORRECT).collect()
    assert got, "fixture should produce at least one verified pair"
    for r in got:
        assert r.edit_dist >= 0
        assert r.edit_sim >= EDIT_SIM_T


def test_knn_lsh_buckets_corpus_once(spark):
    """knn_lsh's candidate stage must bucket the corpus for ALL hash
    tables in ONE scan (exploded (t, bucket) structs), not once per
    table: the only other corpus reference in the plan is the exact
    re-rank. With the per-table loop this plan held num_tables + 1
    corpus scans."""
    from mysql2pg_spark.operators.similarity import knn_lsh

    def vecs(df):
        return df.select(
            F.col("id"),
            F.array(
                *[
                    (F.col("id") * (i + 1) % 7).cast("double")
                    for i in range(8)
                ]
            ).alias("vec"),
        )

    # Distinct range bounds so corpus scans are countable apart from the
    # (small-by-construction, per-table) query-side scans.
    corpus = vecs(spark.range(0, 200))
    queries = vecs(spark.range(0, 5))
    df = knn_lsh(
        corpus, queries, "id", "vec", k=3, num_planes=4, dims=8, num_tables=3
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # corpus source = Range: query-side scans are pruned to id<5 Ranges,
    # so count full-corpus Range nodes.
    n_corpus_scans = plan.count("Range (0, 200")
    assert n_corpus_scans <= 2, (
        f"corpus scanned {n_corpus_scans}x — the single-pass exploded "
        "bucketing regressed to per-table corpus scans"
    )


def test_components_explode_symmetrization_edge_cases(spark):
    """The single-scan explode symmetrization must keep exact
    component semantics: reversed duplicate pairs, self-pairs
    (singletons), and a multi-hop chain."""
    from mysql2pg_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (7, 7), (10, 11), (12, 11)],
        "id_a long, id_b long",
    )
    expected = {1: 1, 2: 1, 3: 1, 7: 7, 10: 10, 11: 10, 12: 10}
    for fn in (connected_components, connected_components_star):
        got = {r.node: r.component for r in fn(pairs).collect()}
        assert got == expected, f"{fn.__name__}: {got}"


def test_pagerank_explode_matches_reference(spark):
    """The exploded edge build must leave pagerank_fixed_point
    bit-identical to a direct integer-arithmetic reference."""
    from mysql2pg_spark.operators.components import (
        PR_SCALE,
        PR_ROUNDS,
        pagerank_fixed_point,
    )

    raw = [(1, 2), (2, 3), (3, 1), (3, 4), (2, 1)]
    pairs = spark.createDataFrame(raw, "id_a long, id_b long")

    edges = set()
    for a, b in raw:
        edges.add((a, b))
        edges.add((b, a))
    nodes = sorted({x for e in edges for x in e})
    deg = {n: sum(1 for s, _ in edges if s == n) for n in nodes}
    ranks = {n: PR_SCALE for n in nodes}
    for _ in range(PR_ROUNDS):
        sums = {n: 0 for n in nodes}
        for s, d in edges:
            sums[d] += ranks[s] // deg[s]
        ranks = {
            n: 15 * PR_SCALE // 100
            + 85 * (sums[n] // 100)
            + (85 * (sums[n] % 100)) // 100
            for n in nodes
        }
    got = {r.node: r.r for r in pagerank_fixed_point(pairs).collect()}
    assert got == ranks


def _fpbits(rows):
    """Sort rows on a key that distinguishes float bit patterns (NaN,
    signed zero) and totally orders NULLs — the round's 'identical
    results' bar is bit-level. Every element becomes a string so mixed
    None/int/float tuples stay sortable; sorted-list equality is
    multiset equality regardless of the order chosen."""
    import struct

    def elem(x):
        if x is None:
            return "\x00NULL"
        if isinstance(x, float):
            return "f:" + struct.pack(">d", x).hex()
        return f"{type(x).__name__}:{x!r}"

    return sorted(tuple(elem(x) for x in r) for r in rows)


def test_hashed_verify_matches_string_verify(spark):
    """Round-16 hashed verify stage (guide §2.3 — shuffle keys instead
    of payloads): verify_jaccard over int64-hashed shingle arrays must
    emit bit-identical (pair, jaccard) rows to the string arrays
    whenever xxhash64 is injective on the corpus vocabulary, because
    injectivity makes every per-pair intersection count equal."""
    from mysql2pg_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [
            (
                i,
                f"alpha beta gamma w{i % 7} delta epsilon w{i % 5} "
                f"zeta eta theta t{i % 3}",
            )
            for i in range(40)
        ],
        ["doc_id", "text"],
    )
    sh = D.shingle_sets(docs, "doc_id", "text", ngram=3)
    assert D.shingle_hash_is_injective(sh)
    cands = (
        sh.select(F.col("doc_id").alias("id_a"))
        .crossJoin(sh.select(F.col("doc_id").alias("id_b")))
        .filter(F.col("id_a") < F.col("id_b"))
    )
    s = D.verify_jaccard(cands, sh, "doc_id", 0.2)
    h = D.verify_jaccard(
        cands, D.hashed_shingle_sets(sh, "doc_id"), "doc_id", 0.2
    )
    srows, hrows = _fpbits(s.collect()), _fpbits(h.collect())
    assert srows, "test corpus produced no verified pairs"
    assert srows == hrows


def test_verify_sets_falls_back_to_strings_on_collision(
    spark, monkeypatch
):
    """The plans-layer verify stage must keep the STRING shingle arrays
    when the injectivity check fails (exactness over speed), and serve
    the int64-hashed stage when it passes. verified_pairs takes the
    flag from its one plan-time statistics query; a forced collision
    there must route it to the strings with identical pairs."""
    from mysql2pg_spark.plans import dedup as PD

    sh = PD.shingles(spark, SF_CORRECT)
    out = PD.verify_sets(sh, False)
    assert dict(out.dtypes)["shingles"] == "array<string>"
    out = PD.verify_sets(sh, True)
    assert dict(out.dtypes)["shingles"] == "array<bigint>"

    stats, verify_sets = PD.D.plan_time_stats, PD.verify_sets
    seen = []

    def recording(sh, injective):
        out = verify_sets(sh, injective)
        seen.append(dict(out.dtypes)["shingles"])
        return out

    monkeypatch.setattr(PD, "verify_sets", recording)
    monkeypatch.setattr(
        PD.D, "plan_time_stats", lambda *a, **k: (stats(*a, **k)[0], False)
    )
    strings = sorted(PD.verified_pairs(sh, PD.signatures(sh)).collect())
    monkeypatch.setattr(PD.D, "plan_time_stats", stats)
    hashed = sorted(PD.verified_pairs(sh, PD.signatures(sh)).collect())
    assert seen == ["array<string>", "array<bigint>"]
    assert strings and strings == hashed


def test_ivf_kernel_matches_jvm_on_edge_cases(spark):
    """The vectorized IVF assignment kernel must replicate the JVM
    broadcast-join plan bit for bit on the awkward inputs: NULL
    vectors, ragged dims (zip_with NULL padding), a zero vector (NaN
    cosine), and an exact cosine tie (centroid-id tie-break)."""
    from mysql2pg_spark.operators import similarity as S

    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, None),
            (4, [1.0, 1.0]),
            (6, [0.5, 0.5, 0.0]),
            (7, [0.3, -0.2, 0.9]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0]), (11, [0.0, 1.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    a = S.ivf_assignments(
        vecs, cents, "vec_id", "embedding", 2, "vid", vectorized=True
    )
    b = S.ivf_assignments(
        vecs, cents, "vec_id", "embedding", 2, "vid", vectorized=False
    )
    ka = _fpbits(a.select("vid", "centroid_id", "c_rank").collect())
    kb = _fpbits(b.select("vid", "centroid_id", "c_rank").collect())
    assert ka, "JVM reference emitted no assignments"
    assert ka == kb


def test_ivf_kernel_replicates_ansi_zero_norm_error(spark):
    """A zero-norm vector makes the JVM plan's cosine a 0/0 division,
    which raises DIVIDE_BY_ZERO under ANSI mode (the Spark 4 default
    this session runs with) — the kernel must fail the same way, not
    silently emit NaN ranks the JVM plan would never produce."""
    import pytest

    from mysql2pg_spark.operators import similarity as S

    ansi = (
        str(spark.conf.get("spark.sql.ansi.enabled", "true")).lower()
        == "true"
    )
    zero = spark.createDataFrame(
        [(5, [0.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0]), (11, [0.0, 1.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    results = []
    for vec in (True, False):
        df = S.ivf_assignments(
            zero, cents, "vec_id", "embedding", 2, "vid", vectorized=vec
        )
        if ansi:
            with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
                df.collect()
        else:
            results.append(
                _fpbits(df.select("vid", "centroid_id", "c_rank").collect())
            )
    if results:
        assert results[0] == results[1]


def test_pq_kernel_routes_awkward_rows_to_jvm(spark):
    """The PQ ADC kernel must split out corpus rows it cannot replay
    (NULL vector, ragged length, zero norm) to the original JVM plan:
    kernel-on and kernel-off runs must agree bit for bit on a corpus
    mixing good and awkward rows. (Zero-norm rows sit in the JVM
    branch, where ANSI mode raises exactly as the original plan did —
    so they are exercised here only with ANSI off semantics skipped.)"""
    from mysql2pg_spark.operators import similarity as S

    rows = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)]) for i in range(1, 30)]
    rows += [(100, None), (101, [1.0, 2.0])]  # NULL + ragged
    corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cb = corpus.filter((F.col("vec_id") % 5 == 1) & (F.col("vec_id") < 30))
    q = corpus.filter((F.col("vec_id") % 7 == 0) & (F.col("vec_id") < 30))
    a = S.knn_pq(corpus, q, cb, "vec_id", "embedding", 3, 2, 8, 5, vectorized=True)
    b = S.knn_pq(corpus, q, cb, "vec_id", "embedding", 3, 2, 8, 5, vectorized=False)
    ka, kb = _fpbits(a.collect()), _fpbits(b.collect())
    assert ka, "JVM reference emitted no rows"
    assert ka == kb


def test_pq_kernel_falls_back_on_degenerate_codebook(spark):
    """A NULL/ragged codeword or non-integral ids must return None from
    the kernel builder so knn_pq keeps the lazy JVM plan (same result)."""
    from mysql2pg_spark.operators import similarity as S

    corpus = spark.createDataFrame(
        [(i, [float(i + j) for j in range(8)]) for i in range(1, 10)],
        "vec_id bigint, embedding array<double>",
    )
    bad_cb = spark.createDataFrame(
        [(1, [1.0] * 8), (2, None)], "vec_id bigint, embedding array<double>"
    )
    lut = S.knn_pq(  # full call just proves the fallback path runs green
        corpus, corpus.limit(2), bad_cb, "vec_id", "embedding", 2, 2, 8, 3,
        vectorized=True,
    )
    assert lut.collect()  # executes via the JVM plan without error


def test_ivf_kernel_edge_semantics_match_jvm_exactly(spark):
    """Review closures (round 16): the kernel must replicate the JVM
    plan on (a) NULL vector ELEMENTS (fold → NULL sim, sorts last),
    (b) int32 ids (output schema type preserved), and (c) fall back
    identically for string ids and NULL centroid ids."""
    from mysql2pg_spark.operators import similarity as S

    # (a) NULL elements, mixed with a ragged row so both kernel paths
    # (uniform-batch and Python fallback) see element NULLs
    vecs = spark.createDataFrame(
        [
            (1, [1.0, None, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [1.0, 1.0]),
            (4, [0.25, 0.5, 1.0]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0]), (11, [0.0, 1.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    a = S.ivf_assignments(
        vecs, cents, "vec_id", "embedding", 2, "vid", vectorized=True
    ).select("vid", "centroid_id", "c_rank")
    b = S.ivf_assignments(
        vecs, cents, "vec_id", "embedding", 2, "vid", vectorized=False
    ).select("vid", "centroid_id", "c_rank")
    assert _fpbits(a.collect()) == _fpbits(b.collect())
    # uniform batch (no ragged row) carrying an element NULL
    vecs_u = vecs.filter(F.col("vec_id") != 3)
    au = S.ivf_assignments(
        vecs_u, cents, "vec_id", "embedding", 2, "vid", vectorized=True
    ).select("vid", "centroid_id", "c_rank")
    bu = S.ivf_assignments(
        vecs_u, cents, "vec_id", "embedding", 2, "vid", vectorized=False
    ).select("vid", "centroid_id", "c_rank")
    assert _fpbits(au.collect()) == _fpbits(bu.collect())

    # (b) int ids: kernel output schema must keep the declared type
    vecs32 = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id int, embedding array<double>",
    )
    cents32 = spark.createDataFrame(
        [(7, [1.0, 0.0])], "vec_id int, embedding array<double>"
    )
    a32 = S.ivf_assignments(
        vecs32, cents32, "vec_id", "embedding", 1, "vid", vectorized=True
    )
    assert dict(a32.dtypes)["centroid_id"] == "int"
    assert _fpbits(
        a32.select("vid", "centroid_id", "c_rank").collect()
    ) == _fpbits(
        S.ivf_assignments(
            vecs32, cents32, "vec_id", "embedding", 1, "vid",
            vectorized=False,
        ).select("vid", "centroid_id", "c_rank").collect()
    )

    # (c) string ids and NULL centroid ids fall back to the JVM plan
    vecs_s = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])],
        "vec_id string, embedding array<double>",
    )
    cents_s = spark.createDataFrame(
        [("x", [1.0, 0.0])], "vec_id string, embedding array<double>"
    )
    rows = S.ivf_assignments(
        vecs_s, cents_s, "vec_id", "embedding", 1, "vid", vectorized=True
    ).collect()
    assert {r["vid"] for r in rows} == {"a", "b"}
    cents_null = spark.createDataFrame(
        [(None, [1.0, 0.0]), (7, [0.0, 1.0])],
        "vec_id bigint, embedding array<double>",
    )
    an = S.ivf_assignments(
        vecs32.withColumn("vec_id", F.col("vec_id").cast("bigint")),
        cents_null, "vec_id", "embedding", 2, "vid", vectorized=True,
    ).select("vid", "centroid_id", "c_rank")
    bn = S.ivf_assignments(
        vecs32.withColumn("vec_id", F.col("vec_id").cast("bigint")),
        cents_null, "vec_id", "embedding", 2, "vid", vectorized=False,
    ).select("vid", "centroid_id", "c_rank")
    assert _fpbits(an.collect()) == _fpbits(bn.collect())


def test_ivf_kernel_zero_norm_centroid_matches_jvm(spark):
    """A zero-norm CENTROID divides every vector's cosine by zero:
    under ANSI both paths must raise; this is the case where the old
    NaN→first keying silently diverged from Spark's NULL-on-zero-
    divisor double division."""
    import pytest

    from mysql2pg_spark.operators import similarity as S

    ansi = (
        str(spark.conf.get("spark.sql.ansi.enabled", "true")).lower()
        == "true"
    )
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(10, [0.0, 0.0, 0.0]), (11, [0.0, 1.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    results = []
    for vec in (True, False):
        df = S.ivf_assignments(
            vecs, cents, "vec_id", "embedding", 1, "vid", vectorized=vec
        )
        if ansi:
            with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
                df.collect()
        else:
            results.append(
                _fpbits(df.select("vid", "centroid_id", "c_rank").collect())
            )
    if results:
        assert results[0] == results[1]


def test_pq_kernel_null_ids_match_jvm(spark):
    """Corpus rows with NULL ids must not reach the int64 kernel (the
    JVM plan drops them via the != filter); NULL query ids likewise
    contribute nothing."""
    from mysql2pg_spark.operators import similarity as S

    rows = [
        (i, [float((i * 5 + j) % 9 - 4) for j in range(8)])
        for i in range(1, 25)
    ]
    rows.append((None, [1.0] * 8))  # NULL id, valid vector
    corpus = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )
    cb = corpus.filter((F.col("vec_id") % 5 == 1))
    q = corpus.filter(F.col("vec_id") % 7 == 0)
    a = S.knn_pq(corpus, q, cb, "vec_id", "embedding", 3, 2, 8, 5,
                 vectorized=True)
    b = S.knn_pq(corpus, q, cb, "vec_id", "embedding", 3, 2, 8, 5,
                 vectorized=False)
    ka, kb = _fpbits(a.collect()), _fpbits(b.collect())
    assert ka and ka == kb


def test_scale_dir_facts_are_splittable(spark, tmp_path):
    """generate_scale_dir must write each replicated fact as one file
    per core (round 16, guide §2.5 input skew): the pre-fix layout was
    ONE fat single-row-group snappy file, so every scan of the scaled
    dir decoded all rows in a single task while the rest of the
    cluster idled (measured at sf1: a 13.9 s straggler map task behind
    11 sub-second siblings; val01's wall fell 12->2 s with the spread
    layout). Content must be unchanged: same rows, shifted keys."""
    import glob
    import os

    from tools.gen_scale import FACTS, _spread_count, generate_scale_dir

    src = "/root/testdata/sf0.001"
    out = str(tmp_path / "scaled")
    factor = 2
    generate_scale_dir(spark, src, out, factor=factor)

    cores = spark.sparkContext.defaultParallelism
    spread = _spread_count(spark)
    for t in FACTS:
        files = glob.glob(os.path.join(out, f"{t}.parquet", "part-*"))
        # Spark's writer emits no file for an empty partition, so the
        # exact count is min(spread, rows); a >= floor keeps the
        # splittability intent without exact-count coupling (ADVICE
        # r16) — every core must get work whenever rows allow it.
        rows = (
            spark.read.parquet(os.path.join(src, f"{t}.parquet")).count()
            * factor
        )
        assert len(files) >= min(cores, rows), (
            f"{t}: {len(files)} part files < min(cores={cores}, "
            f"rows={rows}) — the scaled fact must be splittable so "
            "scans parallelize (guide §2.5 input skew)"
        )
        assert len(files) <= spread, (
            f"{t}: {len(files)} part files > spread {spread}"
        )
        base = spark.read.parquet(os.path.join(src, f"{t}.parquet"))
        scaled = spark.read.parquet(os.path.join(out, f"{t}.parquet"))
        assert scaled.count() == base.count() * factor, t
        # the scan itself must expose >= core-count parallelism
        assert scaled.rdd.getNumPartitions() >= min(cores, factor), t

    # spot-check content: replica 0 of lineitem is the base table
    # verbatim (keys shifted by rep * KEY_STRIDE, rep 0 unshifted)
    from tools.gen_scale import KEY_STRIDE

    li_base = spark.read.parquet(os.path.join(src, "lineitem.parquet"))
    li_scaled = spark.read.parquet(os.path.join(out, "lineitem.parquet"))
    rep0 = li_scaled.filter(F.col("l_orderkey") < KEY_STRIDE)
    assert rep0.count() == li_base.count()
    assert (
        rep0.exceptAll(li_base).count() == 0
        and li_base.exceptAll(rep0).count() == 0
    )
