"""Physical-plan contracts: pin the 100 TB scale properties so a future
refactor that silently degrades a plan (a lost broadcast, an accidental
cartesian product, a new shuffle in a map-only pipeline) fails HERE with
a named assertion instead of surfacing as a perf cliff at scale."""

from __future__ import annotations

import pytest

from mysql2pg_spark.plans import QUERIES
from tests.conftest import SF_CORRECT


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_CORRECT)
    return df._jdf.queryExecution().executedPlan().toString()


def _n_exchanges(plan: str) -> int:
    # count shuffle exchanges only (broadcast exchanges are the cheap,
    # wanted kind)
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line
    )


def test_no_cartesian_products_anywhere(spark):
    """The pair-forming queries must all be blocked/bucketed joins."""
    for name in (
        "d03_lsh_candidates",
        "d04_neardup_pairs",
        "d06_embedding_neardup",
        "d11_semantic_dedup",
        "d12_incremental_dedup",
        "s02_knn_lsh",
    ):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, f"{name} went all-pairs"


def test_sessionize_runs_no_python(spark):
    """p01 is window functions over one user-ordered window: no pandas
    kernel and no Python UDF anywhere in its plan."""
    plan = _plan(spark, "p01_grouped_map_sessionize")
    for node in ("MapInPandas", "PythonUDF", "ArrowEvalPython",
                 "FlatMapGroupsInPandas"):
        assert node not in plan, f"p01 runs Python: {node}"
    assert "Window" in plan


def test_winnowing_is_map_only(spark):
    """t07 must stay a scan-speed pipeline: zero shuffle exchanges."""
    assert _n_exchanges(_plan(spark, "t07_winnowing_fingerprints")) == 0


def test_checksum_is_single_pass(spark):
    """val01's checksum: map-side partial agg + one 1-row exchange, no
    count-distinct shuffle of the digest set. Round 16 allows exactly
    one extra exchange per scan: the fan_out round-robin repartition
    that spreads the single-row-group fixture scan across cores (a
    no-op at real scale) — still no data-proportional digest shuffle."""
    plan = _plan(spark, "val01_table_checksum")
    n_scans = len([l for l in plan.splitlines() if "Scan parquet" in l])
    assert _n_exchanges(plan) <= 2 * n_scans


def test_small_dims_broadcast(spark):
    """q02's region/nation joins ride broadcast, not shuffle joins."""
    plan = _plan(spark, "q02_region_revenue")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_knn_queries_are_broadcast(spark):
    """s01: the query side is broadcast; the corpus is never shuffled
    before scoring (only the final per-query top-k exchanges)."""
    plan = _plan(spark, "s01_knn_bruteforce")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_funnel_single_shuffle(spark):
    """ts03's fold: exactly one shuffle (the groupBy user), nothing per
    funnel step."""
    assert _n_exchanges(_plan(spark, "ts03_funnel")) == 1


@pytest.mark.parametrize(
    "name", ["q01_pricing_summary", "t01_doc_profile", "t12_trigram_lm"]
)
def test_filters_reach_the_scan(spark, name):
    """Representative queries keep parquet scans pruned: every scan
    carries a ReadSchema (column pruning active)."""
    plan = _plan(spark, name)
    assert "ReadSchema" in plan


def test_embedding_postproc_is_map_only(spark):
    """s07: every fold/pack/quantize is an array HOF over the scan — the
    only allowed exchange is the final presentation sort (range
    partitioning), never a hash shuffle."""
    plan = _plan(spark, "s07_embedding_postproc")
    assert "hashpartitioning" not in plan, plan
    assert "CartesianProduct" not in plan


def test_duplicate_spans_no_all_pairs(spark):
    """t20: dup grams come from a pre-aggregated count joined back on
    the gram key — never a doc×doc pair join."""
    plan = _plan(spark, "t20_dup_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gram_attribution_queries_stay_key_partitioned(spark):
    """t21/t22: gram/pair statistics must be hash-partitioned reduces —
    never a pair-of-docs join (cartesian or broadcast nested loop)."""
    for name in ("t21_novelty", "t22_bpe_merge_pairs"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_phash_neardup_no_all_pairs(spark):
    """mm05: the banded Hamming join must stay an equi-join on
    (band, val) — never a cartesian/nested-loop pair former."""
    plan = _plan(spark, "mm05_phash_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scd2_single_hash_shuffle(spark):
    """u02: every window and the run aggregate share ONE user_id hash
    partitioning — the only other exchange is the presentation sort."""
    plan = _plan(spark, "u02_scd2_history")
    hashes = [
        l for l in plan.splitlines()
        if "Exchange hashpartitioning" in l
    ]
    assert len(hashes) == 1, plan
    assert _n_exchanges(plan) <= 2


def test_cosine_histogram_no_pair_former(spark):
    """s10: the stride sample is an equi-join on a computed key — never
    a cartesian/nested-loop pair former."""
    plan = _plan(spark, "s10_cosine_histogram")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_recall_hit_join_is_broadcast(spark):
    """s11's exact-vs-approx hit join must broadcast the exact side
    (queries×K rows — tiny at any corpus size); a shuffled hash join
    here would move the whole approximate result set for no reason."""
    plan = _plan(spark, "s11_ann_recall")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_source_mixing_window_on_aggregate_only(spark):
    """t24's global sum window must run on the per-language aggregate
    (a handful of rows), never on the documents table: exactly one
    shuffle pair for the groupBy + the single-partition window."""
    plan = _plan(spark, "t24_source_mixing")
    assert "CartesianProduct" not in plan
    # groupBy (hash exchange) + SinglePartition window exchange; the
    # document scan itself must not be globally re-partitioned
    assert _n_exchanges(plan) <= 3, plan


def test_uservar_twin_single_shuffle(spark):
    """sf07: the @var accumulator's set-based twin is one partial-agg
    shuffle on the group key (plus at most the presentation sort) —
    never a second data exchange."""
    plan = _plan(spark, "sf07_uservar_accum_twin")
    assert "partial" in plan.lower() or "HashAggregate" in plan
    # one hashpartitioning exchange for the groupBy; the orderBy adds a
    # rangepartitioning exchange at most
    assert plan.count("hashpartitioning") <= 1


def test_resultset_twin_is_top_k(spark):
    """sf08: a global ORDER BY ... LIMIT 10 must compile to
    TakeOrderedAndProject (per-partition top-k + driver merge), never a
    full global sort — the plan that survives 100 TB."""
    plan = _plan(spark, "sf08_resultset_proc_twin")
    assert "TakeOrderedAndProject" in plan, plan


def test_capped_lsh_no_all_pairs_and_star_branch(spark):
    """d14: the skew mitigation must never route through a cartesian
    product — the small-bucket side is a (band, key) equi-join and the
    giant-bucket side is a window + projection (no join at all)."""
    plan = _plan(spark, "d14_capped_lsh")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_bm25_plan_posture(spark):
    """t25: one pinned TF frame feeds every branch (no repeated corpus
    scans — Catalyst's per-branch pruning defeats exchange reuse, see
    the operator docstring), the corpus scalars ride a broadcast
    1-row cross join, and the per-document top-k uses the
    WindowGroupLimit pushdown instead of ranking every term."""
    plan = _plan(spark, "t25_bm25_saliency")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "Scan ExistingRDD" in plan           # the TF checkpoint pin
    assert "Scan parquet" not in plan           # no branch re-scans
    assert "WindowGroupLimit" in plan           # top-k pushdown
    assert "BroadcastNestedLoopJoin" in plan    # 1-row corpus scalars


def test_importance_weights_plan_posture(spark):
    """t26: term-keyed equi-join scoring (never all-pairs), broadcast
    1-row totals, pinned TF frame, all-JVM expressions."""
    plan = _plan(spark, "t26_importance_weights")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_lsh_tuning_no_all_pairs(spark):
    """d16: every banding config's candidate generation is a banded
    equi-join over the shared pinned signature stage — no cartesian,
    no Python rows."""
    plan = _plan(spark, "d16_lsh_tuning")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_capped_pipeline_plan_posture(spark):
    """d15: the end-to-end capped pipeline stays equi-join + window all
    the way through — capped banded candidates (no cartesian), Jaccard
    verify on candidates only, clustering joins, and the 1-row stats
    frame riding a BROADCAST cross join (the only nested-loop allowed).
    All-JVM: no Python rows anywhere."""
    plan = _plan(spark, "d15_capped_neardup_clusters")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row stats crossJoin
