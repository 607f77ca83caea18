"""Round-17 optimization guards.

Each test pins a property a round-17 change relies on:
- the versioned scale marker regenerates stale v1 layouts (ADVICE r16),
- q09's single-join rewrite keeps one scan per table,
- pagerank's per-round lineage cut keeps the final plan constant-size,
- d13's length prefilter keeps its rows identical.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F


def test_scale_marker_v2_regenerates_stale_v1_layout(spark, tmp_path):
    """A dir carrying only the pre-r17 marker name must regenerate:
    the v1 marker predates the splittable _spread layout, so honoring
    it would keep a mono-layout dir unsplittable forever (ADVICE r16).
    """
    from tools.gen_scale import generate_scale_dir

    out = str(tmp_path / "scaled")
    os.makedirs(out)
    # simulate a stale pre-fix dir: v1 marker present, no data
    with open(os.path.join(out, "_SCALE_OK_2"), "w") as fh:
        fh.write("factor=2 src=legacy\n")
    generate_scale_dir(spark, "/root/testdata/sf0.001", out, factor=2)
    v2 = glob.glob(os.path.join(out, "_SCALE_OK_2_v2"))
    assert v2, "v2 marker missing — generation did not run"
    with open(v2[0]) as fh:
        content = fh.read()
    assert "spread=" in content
    files = glob.glob(os.path.join(out, "lineitem.parquet", "part-*"))
    assert len(files) > 1, "stale v1 dir was not regenerated splittable"


def test_q09_single_scan_per_table(spark):
    """q09's rewrite must scan customer and orders ONCE each (the old
    semi+anti pair scanned both twice and built two broadcasts of the
    same keyset) and must not stitch aggregates with a join."""
    from mysql2pg_spark.plans import QUERIES

    df = QUERIES["q09_semi_anti"](spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert plan.count("customer.parquet") == 1, plan
    assert plan.count("orders.parquet") == 1, plan
    assert "FullOuter" not in plan, plan


def test_pagerank_final_plan_is_constant_size(spark):
    """pagerank_fixed_point must cut lineage every round: the returned
    frame's plan must be a checkpoint scan, not `rounds` unrolled
    joins (the sf1 cc03 wall was driver planning of that lineage)."""
    from mysql2pg_spark.operators.components import pagerank_fixed_point

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], ["id_a", "id_b"]
    )
    ranks = pagerank_fixed_point(pairs)
    plan = ranks._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, (
        "final pagerank plan still unrolls the round joins:\n" + plan
    )
    # and the values must still be the bit-exact fixed-point integers
    rows = {r["node"]: r["r"] for r in ranks.collect()}
    assert set(rows) == {1, 2, 3, 4, 5}
    assert rows[4] == rows[5]  # symmetric component
    assert all(isinstance(v, int) and v > 0 for v in rows.values())


def test_pagerank_checkpointed_matches_unrolled_reference(spark):
    """The per-round lineage cut must not change a single rank bit:
    replay the exact integer recurrence in Python over a small graph
    and compare (same reference arithmetic the r16 explode test used).
    """
    from mysql2pg_spark.operators.components import (
        PR_ROUNDS,
        PR_SCALE,
        pagerank_fixed_point,
    )

    edges_in = [(1, 2), (1, 3), (2, 3), (5, 6), (7, 7)]
    pairs = spark.createDataFrame(edges_in, ["id_a", "id_b"])
    got = {
        r["node"]: r["r"] for r in pagerank_fixed_point(pairs).collect()
    }

    sym = set()
    for a, b in edges_in:
        sym.add((a, b))
        sym.add((b, a))
    nodes = sorted({a for a, _ in sym})
    deg = {a: sum(1 for x, _ in sym if x == a) for a in nodes}
    ranks = {n: PR_SCALE for n in nodes}
    for _ in range(PR_ROUNDS):
        s = {n: 0 for n in nodes}
        for a, b in sym:
            s[b] += ranks[a] // deg[a]
        ranks = {
            n: (15 * PR_SCALE // 100)
            + 85 * (s[n] // 100)
            + (85 * (s[n] % 100)) // 100
            for n in nodes
        }
    assert got == ranks


def test_stateful_partition_formula_is_scale_neutral(spark):
    """The state-partition derivation must be a no-op at production
    rates (it may only LOWER the count, and only for small triggers) —
    the round rule against local-only config wins, encoded."""
    from mysql2pg_spark.streaming.ingest import (
        STATE_ROWS_PER_PARTITION,
        stateful_shuffle_partitions,
    )

    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # any real per-trigger volume: formula returns the default
    assert stateful_shuffle_partitions(spark, 10**7) == default
    assert stateful_shuffle_partitions(spark, 10**12) == default
    # tiny triggers: scales down, never below 1
    assert stateful_shuffle_partitions(spark, 1) == 1
    assert stateful_shuffle_partitions(spark, 0) == 1
    mid = stateful_shuffle_partitions(
        spark, 4 * STATE_ROWS_PER_PARTITION
    )
    assert mid == min(default, 4)
    # monotone in the rate
    prev = 0
    for r in (1, 10, 10**3, 10**4, 10**5, 10**9):
        n = stateful_shuffle_partitions(spark, r)
        assert n >= prev
        prev = n


def test_stateful_partitions_leave_a_non_numeric_setting_alone():
    """A non-numeric spark.sql.shuffle.partitions (e.g. "auto") has no
    count to cap: the formula returns it unchanged and the per-query pin
    leaves the session value as it was, instead of raising."""
    from mysql2pg_spark.streaming.ingest import (
        _state_partitions,
        stateful_shuffle_partitions,
    )

    class Conf:
        value = "auto"

        def get(self, key):
            assert key == "spark.sql.shuffle.partitions"
            return self.value

        def set(self, key, value):
            self.value = value

    class Session:
        conf = Conf()

    sess = Session()
    n = stateful_shuffle_partitions(sess, 10)
    assert n == "auto"
    with _state_partitions(sess, n):
        assert sess.conf.value == "auto"
    assert sess.conf.value == "auto"


def test_d13_prefilter_keeps_rows_identical(spark):
    """The length prefilter (round 17, guide §2.3) only removes pairs
    the bounded levenshtein would emit -1 for: edit_dist >= |la-lb|,
    so |la-lb| > floor((1-T)*max_len) pairs can never satisfy the
    final edit_sim filter. Rows must be identical to the unfiltered
    bounded form."""
    from mysql2pg_spark.plans import QUERIES
    from mysql2pg_spark.plans.dedup import (
        EDIT_SIM_T,
        NUM_HASHES,
        shingles,
        signatures,
    )
    from mysql2pg_spark.operators import dedup as D
    from mysql2pg_spark.tables import load_table

    sf = "/root/testdata/sf0.01"
    got = QUERIES["d13_editdistance_verify"](spark, sf).collect()

    docs = load_table(spark, sf, "documents")
    norm = docs.select(
        "doc_id",
        F.regexp_replace(
            F.trim(F.lower(F.col("text"))), r"\s+", " "
        ).alias("s"),
    )
    cands = D.lsh_candidate_pairs(
        signatures(shingles(spark, sf)), "doc_id", NUM_HASHES
    )
    na = norm.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    nb = norm.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    max_len = F.greatest(F.length("sa"), F.length("sb"))
    dist = F.expr(
        f"levenshtein(sa, sb, cast(floor({1.0 - EDIT_SIM_T} * "
        "greatest(length(sa), length(sb))) as int))"
    ).cast("bigint")
    sim = F.lit(1.0) - dist.cast("double") / max_len.cast("double")
    ref = (
        cands.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a", "id_b", dist.alias("edit_dist"), sim.alias("edit_sim")
        )
        .filter(
            (F.col("edit_dist") >= 0) & (F.col("edit_sim") >= EDIT_SIM_T)
        )
        .orderBy("id_a", "id_b")
        .collect()
    )
    assert got == ref
