"""Physical-plan assertions — the 100 TB posture, checked in CI:
filters/columns reach the parquet scan, small dims broadcast, candidate
joins are hash joins (never cartesian), window ops don't add extra
shuffles. A regression here is a scale bug even when results stay
correct."""

from __future__ import annotations

import pytest

from mysql2pg_spark.plans import QUERIES
from tests.conftest import SF_CORRECT


def plan_of(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_CORRECT)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_q01_pushdown_and_pruning(spark):
    plan = plan_of(spark, "q01_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: untouched wide columns never leave the scan
    assert "l_partkey" not in plan
    assert "l_tax" not in plan


def test_q02_broadcasts_dims(spark):
    plan = plan_of(spark, "q02_region_revenue")
    assert plan.count("BroadcastHashJoin") >= 2  # nation + region
    assert "CartesianProduct" not in plan
    # o_orderdate filter pushed into the orders scan
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in plan


def test_lsh_join_is_hash_join(spark):
    plan = plan_of(spark, "d03_lsh_candidates")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_single_shuffle_no_range_join(spark):
    plan = plan_of(spark, "a01_asof_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_broadcasts_queries(spark):
    plan = plan_of(spark, "s01_knn_bruteforce")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the corpus side must NOT be the broadcast side — queries are tiny;
    # corpus scan stays streamed (no Exchange before the join on corpus)
    assert "CartesianProduct" not in plan


def test_vectorized_scan_and_jvm_expressions(spark):
    """All math-battery expressions stay JVM-side: vectorized parquet
    reader (Batched: true) + no Python eval operators in the plan.
    (Formatted explain under AQE omits WholeStageCodegen spans; codegen
    is on by default and the absence of BatchEvalPython is the actual
    hot-path guarantee.)"""
    plan = plan_of(spark, "f04_math")
    assert "Batched: true" in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


@pytest.mark.parametrize(
    "name", ["q01_pricing_summary", "q02_region_revenue", "w01_tumbling_agg"]
)
def test_aqe_enabled_everywhere(spark, name):
    plan = plan_of(spark, name)
    assert "AdaptiveSparkPlan" in plan


def test_range_join_is_banded_hash_join(spark):
    """The range join must plan as an equi-join on (key, band) — never a
    nested-loop over the raw range predicate."""
    plan = plan_of(spark, "r01_range_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_frame_sample_no_shuffle(spark):
    """mm02's 1→N fan-out happens inside the scan partition — the plan
    must contain no Exchange at all."""
    plan = plan_of(spark, "mm02_frame_sample")
    assert "Exchange" not in plan


def test_sessionize_fast_single_exchange(spark):
    """p01: one hash repartition on user_id, in-partition sort, one
    Window pass — exactly one Exchange, no per-group FlatMapGroups."""
    import re

    plan = plan_of(spark, "p01_grouped_map_sessionize")
    # formatted explain lists each node twice (tree + details)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "FlatMapGroupsInPandas" not in plan


def test_multitable_lsh_no_cartesian_and_broadcast_probes(spark):
    """s02: every per-table candidate join is bucket-equi (hash), probe
    sides broadcast, and the re-rank joins stay hash joins."""
    plan = plan_of(spark, "s02_knn_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3  # one per hash table min


def test_neardup_bucket_blocking_is_equi_join(spark):
    """d06 blocks on the LSH bucket: the pair join must be a hash join
    on the bucket key, never a cross product."""
    plan = plan_of(spark, "d06_embedding_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_star_components_rounds_are_hash_joins(spark):
    """cc01 (driver path = large-star/small-star): each star round is
    groupBy + equi-join — no nested-loop fallbacks anywhere in the
    converged plan."""
    plan = plan_of(spark, "cc01_dedup_clusters")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_checksum_single_aggregate_no_expand(spark):
    """val01 after the hash-sum redesign: ONE partial+final aggregate
    pair, no count-distinct Expand node, no join. Round 16 adds one
    round-robin fan_out exchange ahead of the digest projection (the
    single-row-group fixture scan otherwise computes every md5 on one
    core; no-op at real scale) — so: the 1-row agg exchange plus at
    most one fan_out exchange, still nothing data-proportional keyed
    on the digest."""
    plan = plan_of(spark, "val01_table_checksum")
    assert "Expand" not in plan          # distinct-agg artifact
    assert "Join" not in plan
    # ("Exchange (n)" is the tree form; "(n) Exchange" is the detail)
    assert 1 <= plan.count("Exchange (") <= 2
    assert "hashpartitioning(h" not in plan  # digest never shuffled by key


def test_multitable_neardup_no_cartesian(spark):
    """d08: every per-table self-join is bucket-equi; the verify joins
    stay hash joins."""
    plan = plan_of(spark, "d08_neardup_multitable")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_boilerplate_filter_stoplist_is_broadcast_anti_join(spark):
    """t11: the stoplist joins back as a broadcast anti-join (no shuffle
    of the token stream against a 10-row list) and the top-N is a
    TakeOrdered, not a global sort."""
    plan = plan_of(spark, "t11_boilerplate_filter")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_source_overlap_is_gram_equi_join(spark):
    """d10: the pair count joins on the gram key — hash join, never
    all-pairs over documents."""
    plan = plan_of(spark, "d10_source_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_driver_window_contract():
    """The grading driver checks at most ~50 entries: the driver-facing
    registry must stay at <=50, every entry must carry an oracle, and
    every folded original must still exist in the full registry."""
    from mysql2pg_spark.plans import (
        DRIVER_ORACLES,
        DRIVER_QUERIES,
        ORACLES,
        QUERIES,
    )

    assert len(DRIVER_QUERIES) <= 50
    assert set(DRIVER_ORACLES) == set(DRIVER_QUERIES)  # all oracled
    assert set(DRIVER_QUERIES) <= set(QUERIES)
    assert set(DRIVER_ORACLES) <= set(ORACLES)


@pytest.mark.parametrize("module", ["textops", "merged"])
def test_registry_import_is_strict(module):
    """A plan module that fails to import fails the registry import,
    naming the module, instead of dropping its queries (without
    ``merged`` the registry used to import with 140 queries and a
    75-entry driver window)."""
    import subprocess
    import sys

    code = (
        "import sys\n"
        f"sys.modules['mysql2pg_spark.plans.{module}'] = None\n"
        "try:\n"
        "    import mysql2pg_spark.plans\n"
        "except ImportError as e:\n"
        "    print('refused:', e)\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.startswith("refused:") and module in proc.stdout
