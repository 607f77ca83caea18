"""Scale-technique specifics: salting invariance, sketch accuracy,
quarantine routing."""

from __future__ import annotations

from mysql2pg_spark.plans import QUERIES
from tests.conftest import SF_CORRECT


def test_salted_equals_plain(spark):
    """Salting must not change results — compare against the direct plan."""
    import pyspark.sql.functions as F
    from mysql2pg_spark.operators.skew import salted_sum
    from mysql2pg_spark.tables import load_table

    li = load_table(spark, SF_CORRECT, "lineitem")
    plain = {
        (r["l_returnflag"], r["l_linestatus"]): (r["s"], r["n"])
        for r in li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(38,4)"))
            .cast("double")
            .alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    salted = {
        (r["l_returnflag"], r["l_linestatus"]): (r["revenue"], r["revenue_n"])
        for r in salted_sum(
            li, ["l_returnflag", "l_linestatus"], "l_extendedprice", "revenue",
            num_salts=32,
        ).collect()
    }
    assert plain == salted


def test_approx_distinct_within_tolerance(spark):
    rows = QUERIES["sk02_approx_distinct"](spark, SF_CORRECT).collect()
    assert rows
    for r in rows:
        rel_err = abs(r["approx_orders"] - r["exact_orders"]) / r["exact_orders"]
        assert rel_err < 0.05, (r, rel_err)


def test_quarantine_routes(spark):
    rows = {
        r["route"]: r["n"]
        for r in QUERIES["qa01_quarantine"](spark, SF_CORRECT).collect()
    }
    from mysql2pg_spark.tables import load_table

    assert rows.get("bad_json", 0) > 0        # synthesized corruption caught
    assert rows.get("clean", 0) > 0
    total = load_table(spark, SF_CORRECT, "events").count()
    assert sum(rows.values()) == total        # every event routed exactly once


def _uf_components(edges, nodes):
    """Reference union-find for the CC tests."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical min id per component
    comp = {}
    for n in nodes:
        r = find(n)
        comp.setdefault(r, []).append(n)
    return {n: min(members) for r, members in comp.items() for n in members}


def test_star_components_match_union_find(spark):
    """Star contraction produces exactly the union-find components on an
    arbitrary multi-component graph (incl. a singleton via self-pair)."""
    from mysql2pg_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    edges = [(1, 2), (2, 3), (4, 5), (7, 7), (10, 11), (11, 12), (3, 10)]
    nodes = sorted({x for e in edges for x in e})
    expected = _uf_components(edges, nodes)
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got_star = {
        r.node: r.component
        for r in connected_components_star(df).collect()
    }
    got_prop = {
        r.node: r.component for r in connected_components(df).collect()
    }
    assert got_star == expected
    assert got_prop == expected


def test_star_components_handle_deep_chains(spark):
    """A 120-node chain: diameter 120 >> the propagation default budget
    (max_iter=20), but star contraction converges in O(log² n) rounds —
    the property that makes it the unbounded-diameter choice at scale."""
    from mysql2pg_spark.operators.components import connected_components_star

    chain = [(i, i + 1) for i in range(120)]
    df = spark.createDataFrame(chain, "id_a long, id_b long")
    out = connected_components_star(df, max_iter=15).collect()
    assert len(out) == 121
    assert all(r.component == 0 for r in out)


def test_semantic_dedup_cluster_cap(spark):
    """max_cluster_size: (1) a no-op on clusters at/under the cap —
    bit-identical output with and without it; (2) a HARD per-task bound
    on an oversized (hot) cluster — every (centroid, salt) group stays
    <= cap, so pair counts per task are <= cap^2 regardless of skew."""
    from pyspark.sql import functions as F

    from mysql2pg_spark.operators.similarity import semantic_dedup

    def vecs(rows):
        return spark.createDataFrame(rows, "id bigint, v array<double>")

    # two small clusters around orthogonal axes (cap never binds)
    small = vecs(
        [(i, [1.0, 0.001 * i]) for i in range(40)]
        + [(100 + i, [0.001 * i, 1.0]) for i in range(40)]
    )
    cents = vecs([(0, [1.0, 0.0]), (1, [0.0, 1.0])])
    base = semantic_dedup(small, cents, "id", "v", 0.999)
    capped = semantic_dedup(small, cents, "id", "v", 0.999, max_cluster_size=64)
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, capped.collect())
    )
    assert base.filter("is_semdup").count() > 0  # the test bites

    # one hot cluster: 2000 near-identical vectors, cap 100
    hot = vecs([(i, [1.0, 1e-9 * i]) for i in range(2000)])
    one = vecs([(0, [1.0, 0.0])])
    out = semantic_dedup(hot, one, "id", "v", 0.5, max_cluster_size=100)
    # every vector still classified, survivors exist
    assert out.count() == 2000
    assert out.filter(~F.col("is_semdup")).count() >= 1
    # the salted group sizes are the pair-join task bound: recompute the
    # operator's own salt formula and assert the hard cap holds
    n = 2000
    splits = -(-n // 100)
    sizes = (
        spark.range(n)
        .select(F.pmod(F.col("id"), F.lit(splits)).alias("salt"))
        .groupBy("salt")
        .count()
    )
    assert sizes.agg(F.max("count")).first()[0] <= 100


def test_capped_lsh_preserves_connectivity_and_surfaces_truncation(spark):
    """Round 14 (skew hardening): on a corpus with one giant template
    bucket, lsh_candidate_pairs_capped must (a) produce the SAME
    connected components as the uncapped all-pairs generator — star
    edges to the bucket minimum keep every member reachable — while
    (b) forming O(n) instead of O(n²) pairs for the hot bucket and
    (c) reporting the exact per-band pair-formation count it skipped
    (the "no silent caps" rule)."""
    from pyspark.sql import functions as F

    from mysql2pg_spark.operators.components import connected_components
    from mysql2pg_spark.operators.dedup import (
        lsh_candidate_pairs,
        lsh_candidate_pairs_capped,
        minhash_signatures,
    )

    # 40 near-identical docs (one template + tiny salt) = one giant
    # LSH bucket per band; 3 small distinct pairs; 4 singletons
    tmpl = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, tmpl + f" nd{i % 3}") for i in range(40)]
    rows += [(100 + i, f"unique text number {i} " * 4 + f"pair{i // 2}")
             for i in range(6)]
    rows += [(200 + i, f"totally distinct content {i} with words "
              f"{i * 7} {i * 13} {i * 31}") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(df, "doc_id", "text").cache()

    unc = lsh_candidate_pairs(sigs, "doc_id")
    cap, stats = lsh_candidate_pairs_capped(sigs, "doc_id", max_bucket=8)
    n_unc, n_cap = unc.count(), cap.count()
    # the giant bucket alone is 40*39/2 = 780 uncapped pairs vs 39 star
    # edges — the cap must actually bite
    assert n_unc >= 780
    assert n_cap < n_unc / 5

    st = stats.collect()[0].asDict()
    assert st["capped_buckets"] >= 1
    # per-band accounting: every capped bucket of size n skipped
    # exactly n(n-1)/2 - (n-1) formations
    assert st["truncated_pairs"] >= 780 - 39

    def comp_sets(pairs):
        comp = connected_components(
            pairs.select(
                F.col("id_a").alias("src"), F.col("id_b").alias("dst")
            ),
            "src", "dst",
        )
        groups = {}
        for r in comp.collect():
            groups.setdefault(r[1], set()).add(r[0])
        return {frozenset(g) for g in groups.values() if len(g) > 1}

    assert comp_sets(cap) == comp_sets(unc)


def test_skew_corpus_shape(spark, tmp_path):
    """generate_skew_dir keeps row counts and ids, and produces
    Zipf-sized template clusters: the largest near-dup cluster must
    dominate (power law), and non-members keep their original text."""
    from tools.gen_scale import (
        SKEW_FRACTION,
        SKEW_TEMPLATES,
        generate_skew_dir,
    )

    src = "/root/testdata/sf0.01"
    out = str(tmp_path / "skew")
    generate_skew_dir(spark, src, out)

    base = spark.read.parquet(src + "/documents.parquet")
    skew = spark.read.parquet(out + "/documents.parquet")
    assert skew.count() == base.count()
    # deterministic: regenerating produces the identical corpus
    assert generate_skew_dir(spark, src, out) == out

    from pyspark.sql import functions as F

    # members carry the template+salt text → exact-dup groups of the
    # same (cluster, salt); cluster 0 must be the largest (Zipf)
    sizes = sorted(
        (r["n"] for r in skew.groupBy("text").agg(
            F.count(F.lit(1)).alias("n")).collect()),
        reverse=True,
    )
    assert sizes[0] >= 3  # a real cluster formed even at sf0.01
    n_members = sum(s for s in sizes if s > 1)
    frac = n_members / skew.count()
    # ~SKEW_FRACTION of docs are cluster members (binomial tolerance)
    assert SKEW_FRACTION / 2 < frac < SKEW_FRACTION * 2, frac
    # non-members are untouched
    joined = base.select("doc_id", F.col("text").alias("orig")).join(
        skew, "doc_id"
    )
    untouched = joined.filter(F.col("orig") == F.col("text")).count()
    assert untouched >= base.count() * (1 - SKEW_FRACTION * 2)
    # embeddings: same ids, same dimension, members nudged not replaced
    be = spark.read.parquet(src + "/embeddings.parquet")
    se = spark.read.parquet(out + "/embeddings.parquet")
    assert se.count() == be.count()
    dims = se.select(F.size("embedding").alias("d")).distinct().collect()
    assert len(dims) == 1
    assert SKEW_TEMPLATES >= 2  # the Zipf inverse-CDF has >1 bucket


def test_banded_lsh_subset_and_tuning_semantics(spark):
    """d16 foundations: every (b×r) config's candidates are a SUBSET of
    r=1's (sharing a concatenated key implies sharing each member key),
    and the tuning profile counts candidates vs verified from one
    verification pass."""
    from mysql2pg_spark.operators.dedup import (
        lsh_band_candidates,
        lsh_tuning_profile,
        minhash_signatures,
        shingle_sets,
    )

    tmpl = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, tmpl + f" v{i % 2}") for i in range(10)]
    rows += [(100 + i, f"unrelated text {i} with words {i * 3} {i * 7}")
             for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(df, "doc_id", "text").cache()
    sh = shingle_sets(df, "doc_id", "text").cache()

    sets = {}
    for r in (1, 2, 4):
        sets[r] = {(x["id_a"], x["id_b"])
                   for x in lsh_band_candidates(sigs, "doc_id", r).collect()}
    assert sets[4] <= sets[2] <= sets[1]
    assert sets[1]  # something collided

    prof = {p["rows_per_band"]: p
            for p in lsh_tuning_profile(sigs, sh, "doc_id", 0.3).collect()}
    for r in (1, 2, 4):
        assert prof[r]["n_candidates"] == len(sets[r])
        assert prof[r]["n_verified"] <= prof[r]["n_candidates"]
    # precision is monotone in r on this corpus shape
    assert (prof[4]["precision"] or 0) >= (prof[1]["precision"] or 0)


def test_choose_rows_per_band_recall_floor():
    """Round 15: the banding chooser picks the LARGEST rows_per_band
    keeping >= p/q of r=1's verified count, by exact integer compare."""
    from mysql2pg_spark.operators.dedup import choose_rows_per_band

    prof = [
        {"rows_per_band": 1, "n_verified": 100},
        {"rows_per_band": 2, "n_verified": 95},
        {"rows_per_band": 4, "n_verified": 80},
    ]
    assert choose_rows_per_band(prof, (9, 10)) == 2
    assert choose_rows_per_band(prof, (8, 10)) == 4
    assert choose_rows_per_band(prof, (99, 100)) == 1
    # order-independent
    assert choose_rows_per_band(list(reversed(prof)), (9, 10)) == 2
    # degenerate: zero verified at r=1 -> everything eligible -> max r
    zero = [{"rows_per_band": r, "n_verified": 0} for r in (1, 2, 4)]
    assert choose_rows_per_band(zero, (9, 10)) == 4


def test_capped_pipeline_end_to_end_surfaces_stats(spark):
    """Round 15 (VERDICT r14 ask #1): the production pipeline runs
    profile -> choose r -> capped candidates -> verify -> cluster and
    carries (rows_per_band, capped_buckets, truncated_pairs) on every
    output row; kept+truncated formations reconcile with the uncapped
    per-band mass."""
    from pyspark.sql import functions as F

    from mysql2pg_spark.operators.dedup import (
        capped_neardup_pipeline,
        lsh_candidate_pairs_capped,
        minhash_signatures,
        shingle_sets,
        _signatures_from_shingles,
    )

    tmpl = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, tmpl + f" nd{i % 3}") for i in range(40)]
    rows += [(100 + i, f"unique text number {i} " * 4 + f"pair{i // 2}")
             for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = shingle_sets(df, "doc_id", "text", num_hashes=8).cache()
    sigs = _signatures_from_shingles(sh, "doc_id", 8).cache()

    out = capped_neardup_pipeline(sh, sigs, "doc_id", 0.3, max_bucket=8)
    rows_out = out.collect()
    assert rows_out, "template cluster must survive the capped pipeline"
    r_chosen = rows_out[0]["rows_per_band"]
    assert r_chosen in (1, 2, 4)
    assert all(r["rows_per_band"] == r_chosen for r in rows_out)
    assert rows_out[0]["capped_buckets"] >= 1  # the 40-doc bucket
    assert rows_out[0]["truncated_pairs"] > 0  # surfaced, not silent
    # the 40 template docs stay ONE component through the star links
    comp_of = {r["node"]: r["component"] for r in rows_out}
    tmpl_comps = {comp_of[i] for i in range(40) if i in comp_of}
    assert len(tmpl_comps) == 1

    # kept + truncated per-band formations == uncapped per-band mass
    # (like-for-like units, ADVICE r14)
    _pairs, stats = lsh_candidate_pairs_capped(
        sigs, "doc_id", max_bucket=8, rows_per_band=r_chosen
    )
    st = stats.collect()[0].asDict()
    from mysql2pg_spark.operators.dedup import _band_keys

    mass = (
        _band_keys(sigs, "doc_id", "id", 8, r_chosen)
        .groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.expr("n * (n - 1) / 2")).alias("m"))
        .collect()[0]["m"]
    )
    assert int(st["kept_formations"]) + int(st["truncated_pairs"]) == int(mass)


def test_importance_weights_empty_target_is_null(spark):
    """ADVICE r14: a target slice matching no rows gives N_t = 0; every
    score must be NULL (never a silent NaN/Inf)."""
    from mysql2pg_spark.operators.textops import importance_weights

    df = spark.createDataFrame(
        [(1, "aa bb cc", "fr"), (2, "aa bb", "de")],
        "doc_id long, text string, lang string",
    )
    out = importance_weights(df, "doc_id", "text", "lang", "en").collect()
    assert len(out) == 2
    assert all(r["score"] is None for r in out)


def test_capped_equals_uncapped_below_cap_randomized(spark):
    """Round 15 safety net for the capped PRODUCTION default: on
    seeded random corpora, (a) when no bucket exceeds the cap the
    capped generator's pair set is BIT-EQUAL to the uncapped join —
    the invariant that keeps every uncapped oracle exact under
    PROD_MAX_BUCKET; (b) when buckets do exceed it, connectivity is
    still identical and kept+truncated formations reconcile with the
    total per-band mass."""
    import random

    from pyspark.sql import functions as F

    from mysql2pg_spark.operators.components import connected_components
    from mysql2pg_spark.operators.dedup import (
        _band_keys,
        lsh_candidate_pairs,
        lsh_candidate_pairs_capped,
        minhash_signatures,
    )

    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
    for seed in (7, 23, 91):
        rng = random.Random(seed)
        rows = []
        for i in range(80):
            base = rng.randrange(4)
            words = [vocab[(base + j) % len(vocab)]
                     for j in range(5 + rng.randrange(4))]
            if rng.random() < 0.4:
                words.append(f"salt{i}")
            rows.append((i, " ".join(words)))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        sigs = minhash_signatures(df, "doc_id", "text").cache()
        unc = {tuple(r) for r in lsh_candidate_pairs(
            sigs, "doc_id").collect()}
        max_n = (
            _band_keys(sigs, "doc_id", "id", 8)
            .groupBy("band", "key").count()
            .agg(F.max("count")).collect()[0][0]
        )
        for cap in (2, max_n, max_n + 5):
            pairs, stats = lsh_candidate_pairs_capped(
                sigs, "doc_id", max_bucket=cap
            )
            got = {tuple(r) for r in pairs.collect()}
            if cap >= max_n:
                assert got == unc, (seed, cap)
            else:
                assert got <= unc, (seed, cap)
                comp = lambda p: {
                    tuple(r) for r in connected_components(
                        spark.createDataFrame(
                            sorted(p), "id_a long, id_b long"
                        )
                    ).collect()
                }
                assert comp(got) == comp(unc), (seed, cap)
            st = stats.collect()[0].asDict()
            mass = (
                _band_keys(sigs, "doc_id", "id", 8)
                .groupBy("band", "key").count()
                .agg(F.sum(F.expr("count * (count - 1) / 2")))
                .collect()[0][0]
            )
            assert (
                int(st["kept_formations"]) + int(st["truncated_pairs"])
                == int(mass)
            ), (seed, cap)
        sigs.unpersist()


def test_choose_rows_per_band_contract_errors():
    """Review r15: missing r=1 anchor and impossible floors raise
    NAMED errors, not bare StopIteration/ValueError."""
    import pytest

    from mysql2pg_spark.operators.dedup import choose_rows_per_band

    with pytest.raises(ValueError, match="rows_per_band=1"):
        choose_rows_per_band(
            [{"rows_per_band": 2, "n_verified": 5}], (9, 10)
        )
    with pytest.raises(ValueError, match="recall floor"):
        choose_rows_per_band(
            [{"rows_per_band": 1, "n_verified": 5}], (11, 10)
        )
