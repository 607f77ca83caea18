"""Dedup / similarity / text-analysis queries vs DuckDB oracles, plus
structural sanity checks (non-emptiness where the data guarantees it)."""

from __future__ import annotations

import pytest

from mysql2pg_spark.plans import QUERIES
from tests.conftest import SF_CORRECT

def test_neardup_pairs_nonempty(spark):
    """The corpus contains near-duplicates; the LSH+Jaccard pipeline must
    surface at least one pair (guards against a silently-empty join)."""
    df = QUERIES["d04_neardup_pairs"](spark, SF_CORRECT)
    assert df.count() > 0


def test_knn_returns_k_per_query(spark):
    import pyspark.sql.functions as F

    df = QUERIES["s01_knn_bruteforce"](spark, SF_CORRECT)
    per_q = df.groupBy("query_id").count().collect()
    assert len(per_q) == 10
    assert all(r["count"] == 5 for r in per_q)


#: Unsharded first-fit oracle (global bins per source) — the driver p02
#: entry moved to the sharded packer, so the single-scan variant keeps
#: its recursive-CTE oracle here.
PACK_UNSHARDED_ORACLE = """
WITH RECURSIVE d AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
), packed AS (
  SELECT source, doc_id, n_chars, rn,
         CAST(0 AS BIGINT) AS bin_id,
         CAST(0 AS BIGINT) AS seq_offset,
         n_chars AS fill
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.source, d.doc_id, d.n_chars, d.rn,
         CASE WHEN p.fill + d.n_chars > 1024 THEN p.bin_id + 1 ELSE p.bin_id END,
         CASE WHEN p.fill + d.n_chars > 1024 THEN CAST(0 AS BIGINT) ELSE p.fill END,
         CASE WHEN p.fill + d.n_chars > 1024 THEN d.n_chars ELSE p.fill + d.n_chars END
  FROM packed p JOIN d ON d.source = p.source AND d.rn = p.rn + 1
)
SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       bin_id, seq_offset
FROM packed
"""


def test_pack_sequences_streaming_carry(spark, duck):
    """pack_sequences streams groups through mapInPandas with a scalar
    carry; forcing tiny Arrow batches makes every group straddle batch
    boundaries — the result must still match the recursive-CTE oracle."""
    from mysql2pg_spark.operators.grouped import pack_sequences
    from mysql2pg_spark.tables import load_table
    from tests.compare import compare_spark_duckdb

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        d = load_table(spark, SF_CORRECT, "documents")
        df = pack_sequences(d, capacity=1024)
        compare_spark_duckdb(df, duck, PACK_UNSHARDED_ORACLE)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_pack_sequences_driver_entry_is_sharded(spark, duck):
    """The driver-checked p02 must run the scale-safe sharded packer and
    match its stitched recursive-CTE oracle."""
    from mysql2pg_spark.plans import ORACLES, QUERIES
    from tests.compare import compare_spark_duckdb

    df = QUERIES["p02_sequence_packing"](spark, SF_CORRECT)
    compare_spark_duckdb(df, duck, ORACLES["p02_sequence_packing"])


def test_pack_sequences_sharded(spark, duck):
    """Shard-bounded packing must equal per-(source, shard) first-fit
    with cumulative bin-id stitching (independent DuckDB reconstruction)."""
    from mysql2pg_spark.operators.grouped import pack_sequences_sharded
    from mysql2pg_spark.tables import load_table
    from tests.compare import compare_spark_duckdb

    d = load_table(spark, SF_CORRECT, "documents")
    df = pack_sequences_sharded(d, capacity=1024, shard_size=100)
    oracle = """
WITH RECURSIVE d AS (
  SELECT source, doc_id, n_chars, doc_id // 100 AS shard,
         row_number() OVER (PARTITION BY source, doc_id // 100
                            ORDER BY doc_id) AS rn
  FROM documents
), packed AS (
  SELECT source, shard, doc_id, n_chars, rn,
         CAST(0 AS BIGINT) AS bin_id, CAST(0 AS BIGINT) AS seq_offset,
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
       p.bin_id + o.bin_offset AS bin_id, p.seq_offset
FROM packed p JOIN o ON o.source = p.source AND o.shard = p.shard
"""
    compare_spark_duckdb(df, duck, oracle)


def test_sessionize_matches_a_python_reference(spark):
    """p01's window sessionization against a plain-Python walk of each
    user's events ordered by (ts, event_id): sequence number, gap in
    microseconds (-1 first) and the 10-minute session flag, row for
    row."""
    import datetime
    from itertools import groupby

    from mysql2pg_spark.plans.timeseries import sessionize
    from mysql2pg_spark.tables import load_table

    e = load_table(spark, SF_CORRECT, "events")
    got = sessionize(e).orderBy("user_id", "seq").collect()
    epoch = datetime.datetime(1970, 1, 1)
    want = []
    rows = sorted(
        e.select("user_id", "event_id", "ts").collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    for uid, evs in groupby(rows, key=lambda r: r.user_id):
        prev = None
        for seq, r in enumerate(evs, 1):
            us = (r.ts - epoch) // datetime.timedelta(microseconds=1)
            gap = -1 if prev is None else us - prev
            want.append(
                (uid, r.event_id, r.ts, seq, gap,
                 prev is None or gap >= 600_000_000)
            )
            prev = us
    assert [tuple(r) for r in got] == want
    assert len(got) > 0


def test_incremental_dedup_handmade(spark):
    """Exact, near, and new classifications on a constructed delta: the
    fixture's exact dups never cross the mod-10 split, so the exact path
    is pinned here."""
    from mysql2pg_spark.operators.dedup import incremental_dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    history = spark.createDataFrame(
        [(1, base), (2, "completely unrelated text about spark engines")],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame(
        [
            (10, base),  # byte-identical -> exact dup of 1 (and near dup)
            (11, base + " tail"),  # near dup of 1, not exact
            (12, "nothing like anything in history at all whatsoever"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in incremental_dedup(
            history, delta, "doc_id", "text", 0.3
        ).collect()
    }
    assert rows[10].exact_dup_of == 1 and not rows[10].is_new
    assert rows[11].exact_dup_of is None
    assert rows[11].neardup_of == 1 and not rows[11].is_new
    assert rows[12].exact_dup_of is None and rows[12].neardup_of is None
    assert rows[12].is_new


def test_funnel_strict_ordering_handmade(spark):
    """Funnel semantics pinned: strict t> chaining, stalls, and a
    purchase BEFORE the view not counting."""
    from mysql2pg_spark.operators.resample import funnel_steps

    rows = [
        # u1 completes in order
        (1, "2024-01-01 10:00:00", 1, "view"),
        (2, "2024-01-01 10:05:00", 1, "click"),
        (3, "2024-01-01 10:10:00", 1, "purchase"),
        # u2: purchase precedes view -> only step 1 counts
        (4, "2024-01-01 09:00:00", 2, "purchase"),
        (5, "2024-01-01 10:00:00", 2, "view"),
        # u3: click at the SAME ts as view -> strict > rejects it
        (6, "2024-01-01 10:00:00", 3, "view"),
        (7, "2024-01-01 10:00:00", 3, "click"),
        # u4: never views
        (8, "2024-01-01 10:00:00", 4, "click"),
    ]
    e = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string"
    ).selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "user_id", "event_type")
    out = {r.user_id: r for r in funnel_steps(e, ["view", "click", "purchase"]).collect()}
    assert out[1].steps_completed == 3
    assert out[2].steps_completed == 1 and out[2].t_purchase is None
    assert out[3].steps_completed == 1 and out[3].t_click is None
    assert out[4].steps_completed == 0 and out[4].t_view is None


def test_cdc_chunks_shift_resistance(spark):
    """The property fixed-size chunking lacks: inserting a prefix only
    disturbs chunks near the edit — most chunk fingerprints survive."""
    from mysql2pg_spark.operators.textops import cdc_chunks

    base = " ".join(f"word{i} token{i * 7 % 13}" for i in range(200))
    docs = spark.createDataFrame(
        [(1, base), (2, "inserted prefix here " + base)],
        "doc_id long, text string",
    )
    rows = cdc_chunks(docs).collect()
    fps = {1: set(), 2: set()}
    for r in rows:
        fps[r.doc_id].add(r.chunk_md5)
    shared = len(fps[1] & fps[2]) / len(fps[1])
    assert shared >= 0.8, f"only {shared:.0%} of chunks survived a prefix edit"


def test_duplicate_spans_handmade(spark):
    """Two docs sharing a 10-token paragraph -> ONE maximal span each
    covering exactly the shared region; a doc with an internal repeat is
    caught too (ExactSubstr counts occurrences, not distinct docs); a
    unique doc reports nothing."""
    from mysql2pg_spark.operators.textops import duplicate_spans

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, "unique one " + shared + " tail1 tail2"),
            (2, "other prefix words here " + shared + " suffix"),
            # internal repeat of an 8-token run (k=8) within ONE doc
            (3, "r1 r2 r3 r4 r5 r6 r7 r8 mid r1 r2 r3 r4 r5 r6 r7 r8"),
            (4, "totally different content with no overlap at all okay"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r.doc_id, r.span_start, r.span_end): r.span_tokens
        for r in duplicate_spans(docs, k=8).collect()
    }
    # doc 1: shared = tokens 2..11 (0-based) -> one span, 10 tokens
    assert out.pop((1, 2, 11)) == 10
    # doc 2: shared = tokens 4..13
    assert out.pop((2, 4, 13)) == 10
    # doc 3: both copies of the 8-token run are spans
    assert out.pop((3, 0, 7)) == 8
    assert out.pop((3, 9, 16)) == 8
    assert out == {}  # doc 4 absent; no spurious spans


def test_sign_bits_and_int8_quantize_handmade(spark):
    from pyspark.sql import functions as F

    from mysql2pg_spark.operators import embeddings as E

    df = spark.createDataFrame(
        [
            (1, [1.0, -2.0, 3.0, 0.0]),   # signs 1,0,1,0 -> 0b0101 = 5
            (2, [0.0, 0.0, 0.0, 0.0]),    # zero vector -> no NaNs
        ],
        "vec_id long, embedding array<float>",
    )
    rows = {
        r.vec_id: r
        for r in df.select(
            "vec_id",
            E.sign_bits("embedding", 4).alias("bits"),
            E.int8_codes("embedding", E.abs_max("embedding")).alias("q"),
            E.l2_norm("embedding").alias("norm"),
        ).collect()
    }
    assert rows[1].bits == 5
    # amax=3 -> scale 127/3: floor(1*42.33+0.5)=42, -2 -> -85, 3 -> 127
    assert rows[1].q == [42, -85, 127, 0]
    assert rows[2].bits == 0
    assert rows[2].q == [0, 0, 0, 0]
    assert rows[2].norm == 0.0


def test_duplicate_spans_matches_naive_reference(spark):
    """Randomized cross-check: seeded corpora from a tiny vocabulary
    (guaranteeing organic k-gram collisions) vs a direct Python
    re-implementation of ExactSubstr-at-k-gram-granularity. Catches
    off-by-ones in the island merge and the positional-gram window that
    a single handmade case could miss."""
    import random
    import re
    from collections import Counter

    from mysql2pg_spark.operators.textops import duplicate_spans

    k = 3
    for seed in (7, 41, 1999):
        rng = random.Random(seed)
        vocab = ["aa", "bb", "cc", "dd"]
        docs = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30))))
            for i in range(12)
        ]

        # naive reference
        toks = {i: re.split(r"\s+", t.strip().lower()) for i, t in docs}
        counts: Counter = Counter()
        pos_grams = {}
        for i, tk in toks.items():
            pg = [
                (p, " ".join(tk[p : p + k])) for p in range(len(tk) - k + 1)
            ]
            pos_grams[i] = pg
            counts.update(g for _, g in pg)
        expect = set()
        for i, pg in pos_grams.items():
            dup_pos = sorted(p for p, g in pg if counts[g] >= 2)
            run: list[int] = []
            for p in dup_pos + [None]:
                if run and (p is None or p != run[-1] + 1):
                    expect.add(
                        (i, run[0], run[-1] + k - 1, run[-1] - run[0] + k,
                         len(run))
                    )
                    run = []
                if p is not None:
                    run.append(p)

        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            (r.doc_id, r.span_start, r.span_end, r.span_tokens, r.n_grams)
            for r in duplicate_spans(df, k=k).collect()
        }
        assert got == expect, f"seed {seed}: {got ^ expect}"


def test_kcenter_selection_invariants(spark):
    """Greedy k-center on the fixture: distinct centers, radii
    non-increasing (each round covers the worst remaining point), first
    radius 0 by construction."""
    from mysql2pg_spark.plans import QUERIES

    rows = QUERIES["s08_kcenter_coreset"](spark, SF_CORRECT).collect()
    assert [r.rank for r in rows] == list(range(1, 7))
    assert len({r.vec_id for r in rows}) == 6
    assert rows[0].radius_sq == 0.0
    radii = [r.radius_sq for r in rows[1:]]
    assert all(a >= b for a, b in zip(radii, radii[1:]))
    assert radii[-1] > 0


def test_novelty_first_doc_is_fully_novel(spark):
    """Scanning in id order, the earliest doc's grams are all first
    occurrences by construction; every novelty fraction is in [0, 1]."""
    from mysql2pg_spark.plans import QUERIES

    rows = QUERIES["t21_novelty"](spark, SF_CORRECT).collect()
    assert rows[0].novelty == 1.0
    assert all(0.0 <= r.novelty <= 1.0 for r in rows)
    assert all(r.n_novel <= r.n_grams for r in rows)


def test_kcenter_handmade_geometry(spark):
    """1-D corpus with a known greedy order: seed=min id (x=0), then the
    farthest point each round. Points 0,1,10,11,30 (ids 1..5):
    round 2 picks x=30 (d2=900), round 3 picks x=10 (min-dist 100 to
    {0,30} ... x=11 has 81? no: 11->0 is 121, 11->30 is 361 -> min 121)
    so round 3 is x=11 (d2=121), round 4 x=10? after {0,30,11}: x=10 has
    min(100, 400, 1) = 1; x=1 has min(1,841,100)=1 -> tie at 1.0,
    smaller id wins -> id 2 (x=1)."""
    from mysql2pg_spark.operators.embeddings import kcenter_select

    pts = [(1, [0.0]), (2, [1.0]), (3, [10.0]), (4, [11.0]), (5, [30.0])]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    got = [
        (r.rank, r.vec_id, r.radius_sq)
        for r in kcenter_select(df, "vec_id", "embedding", 4).collect()
    ]
    assert got == [(1, 1, 0.0), (2, 5, 900.0), (3, 4, 121.0), (4, 2, 1.0)]


def test_scd2_intervals_handmade(spark):
    """Pinned SCD2 semantics: runs collapse, intervals chain end-to-end
    (valid_to == next valid_from), exactly one current row per key, and
    a revisited value opens a NEW version (type 2, not type 1)."""
    from pyspark.sql import functions as F

    from mysql2pg_spark.operators.upsert import scd2_intervals

    rows = [
        (1, "2024-01-01 00:00:00", 1, "a"),
        (2, "2024-01-02 00:00:00", 1, "a"),   # same run
        (3, "2024-01-03 00:00:00", 1, "b"),   # change
        (4, "2024-01-04 00:00:00", 1, "a"),   # back to a -> new version
        (5, "2024-01-01 00:00:00", 2, "x"),   # second key, single run
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = (
        scd2_intervals(df, ["user_id"], "event_type", "ts", "event_id")
        .orderBy("user_id", "version")
        .collect()
    )
    u1 = [r for r in out if r.user_id == 1]
    assert [(r.event_type, r.version, r.is_current) for r in u1] == [
        ("a", 1, False), ("b", 2, False), ("a", 3, True),
    ]
    assert u1[0].valid_to == u1[1].valid_from
    assert u1[1].valid_to == u1[2].valid_from
    u2 = [r for r in out if r.user_id == 2]
    assert len(u2) == 1 and u2[0].is_current
    assert sum(r.is_current for r in out) == 2


def test_pagerank_star_center_is_canonical(spark):
    """On a star graph the hub must out-rank every leaf (and win the
    canonical flag); fixed-point ranks are exact integers so the
    assertion is equality-safe."""
    from mysql2pg_spark.operators.components import (
        PR_SCALE,
        pagerank_fixed_point,
    )

    pairs = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (1, 13)], "id_a long, id_b long"
    )
    r = {row.node: row.r for row in pagerank_fixed_point(pairs).collect()}
    assert r[1] > r[10]
    assert r[10] == r[11] == r[12] == r[13]
    # leaves send their whole rank to the hub: round-1 hub rank is
    # 0.15 + 0.85*4 in SCALE units; exact integer arithmetic
    assert r[1] > PR_SCALE  # hub above the uniform start


def test_review_fixes_zero_norm_and_empty_slice(spark):
    """Round-5 review regressions: zero-norm unit vectors yield NULLs
    (not an ANSI divide-by-zero abort); an empty drift slice yields NULL
    fractions (not NaN or a crash)."""
    from pyspark.sql import functions as F

    from mysql2pg_spark.operators.embeddings import l2_norm, unit_vector
    from mysql2pg_spark.operators.quality import distribution_drift

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [3.0, 4.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {
        r.vec_id: r.u
        for r in df.select(
            "vec_id",
            unit_vector("embedding", l2_norm("embedding")).alias("u"),
        ).collect()
    }
    assert rows[1] == [None, None]
    assert rows[2] == [0.6, 0.8]

    ev = spark.createDataFrame(
        [(1, 10.0), (2, 40.0)], "event_id long, value double"
    )
    out = distribution_drift(ev, "value", F.lit(False), 25.0, 4).collect()
    assert all(r.frac_a is None for r in out)  # empty slice, no crash
    assert all(r.drift_term == 0.0 for r in out)


def test_kcenter_duplicates_and_exhaustion(spark):
    """Selected points leave the pool: with duplicate vectors the
    remaining duplicate is selected (radius 0) instead of re-selecting a
    center; k beyond the point count raises."""
    import pytest as _pytest

    from mysql2pg_spark.operators.embeddings import kcenter_select

    df = spark.createDataFrame(
        [(1, [0.0]), (2, [0.0]), (3, [5.0])],
        "vec_id long, embedding array<float>",
    )
    got = [
        (r.rank, r.vec_id, r.radius_sq)
        for r in kcenter_select(df, "vec_id", "embedding", 3).collect()
    ]
    assert got == [(1, 1, 0.0), (2, 3, 25.0), (3, 2, 0.0)]
    with _pytest.raises(ValueError, match="exceeds"):
        kcenter_select(df, "vec_id", "embedding", 4)


def test_scd2_matches_naive_reference(spark):
    """Randomized cross-check of scd2_intervals against a direct Python
    run-length reference over seeded change feeds with heavy ts ties
    (the tie-break path a handmade case undercovers)."""
    import random

    from pyspark.sql import functions as F

    from mysql2pg_spark.operators.upsert import scd2_intervals

    for seed in (3, 77):
        rng = random.Random(seed)
        rows = []
        eid = 0
        for user in range(6):
            for _ in range(rng.randint(1, 25)):
                eid += 1
                # coarse ts pool forces ties; tiebreak = event_id
                rows.append(
                    (eid, f"2024-01-{rng.randint(1, 5):02d} 00:00:00",
                     user, rng.choice("abc"))
                )

        # naive reference: order by (ts, event_id), collapse runs
        expect = set()
        for user in range(6):
            evs = sorted(
                (r for r in rows if r[2] == user),
                key=lambda r: (r[1], r[0]),
            )
            runs = []
            for _, ts, _, attr in evs:
                if runs and runs[-1][0] == attr:
                    continue
                runs.append((attr, ts))
            # versions ordered by (valid_from, attr) as the operator does
            runs_o = sorted(range(len(runs)), key=lambda i: (runs[i][1], runs[i][0]))
            # valid_to chains by that same order
            for v, i in enumerate(runs_o):
                nxt = runs[runs_o[v + 1]][1] if v + 1 < len(runs) else None
                expect.add(
                    (user, runs[i][0], runs[i][1], nxt, v + 1, nxt is None)
                )

        df = spark.createDataFrame(
            rows, "event_id long, ts string, user_id long, event_type string"
        ).withColumn("ts", F.to_timestamp("ts"))
        # format Spark-side: collect() converts timestamps to the HOST
        # timezone, which would shift the strings on any non-UTC machine
        out = scd2_intervals(
            df, ["user_id"], "event_type", "ts", "event_id"
        ).select(
            "user_id",
            "event_type",
            F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("vf"),
            F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("vt"),
            "version",
            "is_current",
        )
        got = {
            (r.user_id, r.event_type, r.vf, r.vt, r.version, r.is_current)
            for r in out.collect()
        }
        assert got == expect, f"seed {seed}: {got ^ expect}"


def test_ann_recall_audit_invariants(spark):
    """s11: recall of every approximate method is a true ratio over the
    exact baseline — in (0, 1], with the multi-table LSH and
    soft-assignment IVF above their documented fixture floors (0.8) —
    and n_hits can never exceed the exact result count."""
    from mysql2pg_spark.plans import QUERIES

    rows = {r.method: r for r in
            QUERIES["s11_ann_recall"](spark, SF_CORRECT).collect()}
    assert set(rows) == {"lsh", "ivf"}
    for r in rows.values():
        assert 0.0 < r.recall_at_k <= 1.0
        assert r.n_hits <= r.n_exact
        assert r.recall_at_k == r.n_hits / r.n_exact
        assert r.recall_at_k >= 0.8, (r.method, r.recall_at_k)


def test_source_mixing_temperature_damps_majority(spark):
    """t24: weights sum to ~1, the majority language's weight share is
    BELOW its document share (temperature < 1 damps the head), every
    minority's is above, and docs_per_epoch re-sums to ~the budget."""
    from mysql2pg_spark.plans import QUERIES
    from mysql2pg_spark.plans.textops import MIX_EPOCH_BUDGET

    rows = QUERIES["t24_source_mixing"](spark, SF_CORRECT).collect()
    total_docs = sum(r.n_docs for r in rows)
    assert abs(sum(r.weight for r in rows) - 1.0) < 1e-9
    assert abs(sum(r.docs_per_epoch for r in rows) - MIX_EPOCH_BUDGET) <= len(rows)
    head = max(rows, key=lambda r: r.n_docs)
    for r in rows:
        share = r.n_docs / total_docs
        if r is head:
            assert r.weight < share
        else:
            assert r.weight > share
