"""Scale-step dataset generator: replicate an sf fixture N× with
shifted keys so scale-critical queries can be benched at ~10× data
(round-6 scale-step evidence; BENCH `scale_step` section).

The driver's fixtures are read-only, so the scaled copy lives inside
the repo at ``.scale/sf<X>`` (gitignored) and is generated once, then
reused (marker file). Replication preserves the workload's SHAPE
rather than degenerating it:

- dims (region/nation/customer/supplier/part) are copied as-is;
- fact keys are shifted by ``replica * KEY_STRIDE`` so orders↔lineitem
  joins stay consistent and keys stay unique;
- events shift user_id per replica so per-user session/state sizes
  stay constant (10× users, not 10× events per user — the scale-out
  axis a real feed grows along);
- documents rotate their word order by the replica index and
  embeddings rotate their dimensions: a small edit (suffix tag,
  one-dim nudge) would leave every replica a NEAR-duplicate of the
  original — MinHash Jaccard ≈ 1, cosine ≈ 1 — and candidate-pair
  formation inside LSH buckets would grow quadratically in the
  replication factor (measured: d13 went 9× super-linear under a
  suffix-only variant). Rotation preserves each document's length /
  token multiset and each embedding's norm, but decorrelates shingles
  and cosine across replicas, so per-replica dup structure matches
  the original corpus and totals grow ~linearly.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

#: Far beyond any fixture key (sf0.1 max keys ~6e6).
KEY_STRIDE = 10_000_000_000
USER_STRIDE = 1_000_000_000

DIMS = ("region", "nation", "customer", "supplier", "part")
FACTS = ("orders", "lineitem", "events", "documents", "embeddings")


def _replicate(spark: SparkSession, df, factor: int):
    reps = spark.range(factor).withColumnRenamed("id", "_rep")
    return df.crossJoin(F.broadcast(reps))


#: Floor on the spread file count: comfortably above every core count
#: this harness runs at (8 and 32), so a dir generated under one
#: SPARK_GRAFT_CPUS is equally splittable under the other (ADVICE r16)
#: and the low-core/high-core scale-leg comparison reads the SAME
#: layout. Hosts with more cores than this spread wider (and the
#: marker records it, forcing a regenerate on mismatch).
SPREAD_MIN_FILES = 64


def _spread_count(spark: SparkSession) -> int:
    return max(spark.sparkContext.defaultParallelism, SPREAD_MIN_FILES)


def _spread(df):
    """Round-robin the replicated fact across the cluster before the
    write (round 16, guide §2.5 input skew / §6 file layout): the
    crossJoin above inherits the source fixture's 1-2 scan partitions,
    so each 10× fact previously landed as ONE fat snappy file with a
    single row group — unsplittable, meaning every downstream scan of
    the scaled dir decoded all ~6M rows in a single task while 31
    cores idled (measured: the lineitem scan's map stage ran 1 task of
    13.9 s + 11 of <1 s; val01's sf1 wall was that one straggler).
    Many small-row-group files restore real scan parallelism, which is
    the honest 100 TB shape — a production 10× corpus arrives as
    thousands of row groups, never as one. Round 17 (ADVICE r16): the
    file count is max(defaultParallelism, SPREAD_MIN_FILES) rather
    than the generating session's core count, so a persisted dir reads
    identically at any benched core count. Content-identical
    (round-robin permutes row placement only, and
    sort-before-repartition keeps the placement deterministic under
    retries)."""
    return df.repartition(_spread_count(df.sparkSession))


def generate_scale_dir(
    spark: SparkSession, src_dir: str, out_dir: str, factor: int = 10
) -> str:
    """Write the scaled dataset; idempotent via a marker file.

    The marker is VERSIONED (ADVICE r16): the v1 name (``_SCALE_OK_N``)
    predates the splittable ``_spread`` layout, so a stale mono-layout
    dir generated before the fix silently kept its single-row-group
    files forever. v2 additionally records the spread file count and
    regenerates when the current session would spread wider (a host
    with more cores than the recorded layout)."""
    marker = os.path.join(out_dir, f"_SCALE_OK_{factor}_v2")
    spread = _spread_count(spark)
    if os.path.exists(marker):
        recorded = None
        try:
            with open(marker) as fh:
                for tok in fh.read().split():
                    if tok.startswith("spread="):
                        recorded = int(tok.split("=", 1)[1])
        except Exception:
            recorded = None
        if recorded is not None and recorded >= spread:
            return out_dir
    os.makedirs(out_dir, exist_ok=True)

    for t in DIMS:
        df = spark.read.parquet(os.path.join(src_dir, f"{t}.parquet"))
        df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{t}.parquet")
        )

    shift = F.col("_rep") * KEY_STRIDE

    orders = spark.read.parquet(os.path.join(src_dir, "orders.parquet"))
    (
        _replicate(spark, orders, factor)
        .withColumn("o_orderkey", F.col("o_orderkey") + shift)
        .drop("_rep")
        .transform(_spread)
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "orders.parquet"))
    )

    lineitem = spark.read.parquet(os.path.join(src_dir, "lineitem.parquet"))
    (
        _replicate(spark, lineitem, factor)
        .withColumn("l_orderkey", F.col("l_orderkey") + shift)
        .drop("_rep")
        .transform(_spread)
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "lineitem.parquet"))
    )

    events = spark.read.parquet(os.path.join(src_dir, "events.parquet"))
    (
        _replicate(spark, events, factor)
        .withColumn("event_id", F.col("event_id") + shift)
        .withColumn("user_id", F.col("user_id") + F.col("_rep") * USER_STRIDE)
        .drop("_rep")
        .transform(_spread)
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "events.parquet"))
    )

    docs = spark.read.parquet(os.path.join(src_dir, "documents.parquet"))
    # permute word order by an md5(word, position, rep) sort key: a
    # bijective per-replica shuffle that destroys word adjacency, so
    # word-ngram shingle sets between replicas are ~disjoint (a mere
    # rotation keeps ~all linear ngrams except the seam — measured 120×
    # LSH-candidate inflation) while the token multiset (length / vocab
    # / quality stats) is preserved exactly
    words = F.split(F.col("text"), " ")
    shuffled = F.transform(
        F.array_sort(
            F.transform(
                words,
                lambda w, j: F.struct(
                    F.md5(
                        F.concat_ws(
                            "#", w, j.cast("string"),
                            F.col("_rep").cast("string"),
                        )
                    ).alias("k"),
                    w.alias("w"),
                ),
            )
        ),
        lambda s: s["w"],
    )
    (
        _replicate(spark, docs, factor)
        .withColumn(
            "text",
            F.when(F.col("_rep") == 0, F.col("text")).otherwise(
                F.array_join(shuffled, " ")
            ),
        )
        .withColumn("doc_id", F.col("doc_id") + shift)
        .drop("_rep")
        .transform(_spread)
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "documents.parquet"))
    )

    emb = spark.read.parquet(os.path.join(src_dir, "embeddings.parquet"))
    # rotate dimensions by 3 * rep: norm-preserving, cosine between a
    # vector and its rotation is ~uncorrelated → replicas do not flood
    # each other's LSH / IVF buckets
    edim = F.size(F.col("embedding"))
    erot = ((F.col("_rep") * 3) % F.greatest(edim, F.lit(1))).cast("int")
    (
        _replicate(spark, emb, factor)
        .withColumn("vec_id", F.col("vec_id") + shift)
        .withColumn(
            "embedding",
            F.when(F.col("_rep") == 0, F.col("embedding")).otherwise(
                F.concat(
                    F.slice(F.col("embedding"), erot + 1, edim - erot),
                    F.slice(F.col("embedding"), 1, erot),
                )
            ),
        )
        .drop("_rep")
        .transform(_spread)
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "embeddings.parquet"))
    )

    with open(marker, "w") as fh:
        fh.write(f"factor={factor} src={src_dir} spread={spread}\n")
    return out_dir


#: Skew-corpus shape: SKEW_FRACTION of docs/vectors join one of
#: SKEW_TEMPLATES near-duplicate clusters whose sizes follow Zipf(s=1)
#: — cluster k gets weight 1/k. At sf0.1 (5000 docs) the largest
#: cluster is ~550 members, i.e. ~150k candidate pairs in ONE (band,
#: key) bucket — the power-law template-cluster stress the uniform
#: replication above deliberately avoids (VERDICT r13 ask #4).
SKEW_TEMPLATES = 8
SKEW_FRACTION = 0.30


def _zipf_cluster(u: F.Column, t: int = SKEW_TEMPLATES) -> F.Column:
    """Inverse-CDF map uniform → Zipf(s=1) cluster index 0..t-1."""
    h = [sum(1.0 / j for j in range(1, k + 1)) for k in range(1, t + 1)]
    total = h[-1]
    expr = F.lit(t - 1)
    for k in range(t - 2, -1, -1):
        expr = F.when(u < h[k] / total, F.lit(k)).otherwise(expr)
    return expr


def _skew_columns(id_col: str):
    """(member?, cluster, perturbation salt) — all md5/xxhash-derived,
    so the corpus is deterministic and regenerable."""
    u_sel = (
        F.pmod(F.xxhash64(F.col(id_col), F.lit("skew-sel")), F.lit(10**6))
        / 10**6
    )
    u_clu = (
        F.pmod(F.xxhash64(F.col(id_col), F.lit("skew-clu")), F.lit(10**6))
        / 10**6
    )
    member = u_sel < SKEW_FRACTION
    return member, _zipf_cluster(u_clu), F.pmod(F.col(id_col), F.lit(7))


def generate_skew_dir(
    spark: SparkSession, src_dir: str, out_dir: str
) -> str:
    """Write the SKEWED variant of the fixture: same tables and row
    counts, but documents/embeddings carry Zipf-sized near-duplicate
    template clusters (member text = template text + one salt token;
    member embedding = template vector with the last dimension nudged)
    so LSH band buckets, embedding blocks, and edit-distance candidate
    sets all get one dominating hot key. Idempotent via marker."""
    from pyspark.sql.window import Window

    marker = os.path.join(out_dir, "_SKEW_OK")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)

    for t in DIMS + ("orders", "lineitem", "events"):
        spark.read.parquet(os.path.join(src_dir, f"{t}.parquet")) \
            .write.mode("overwrite") \
            .parquet(os.path.join(out_dir, f"{t}.parquet"))

    w = Window.orderBy("doc_id")
    docs = spark.read.parquet(os.path.join(src_dir, "documents.parquet"))
    tmpl_docs = (
        docs.orderBy("doc_id").limit(SKEW_TEMPLATES)
        .select(
            (F.row_number().over(w) - 1).alias("_cl"),
            F.col("text").alias("_ttext"),
        )
    )
    member, cluster, salt = _skew_columns("doc_id")
    (
        docs.withColumn("_cl", F.when(member, cluster))
        .join(F.broadcast(tmpl_docs), "_cl", "left")
        .withColumn(
            "text",
            F.when(
                F.col("_cl").isNotNull(),
                F.concat(F.col("_ttext"), F.lit(" nd"), salt),
            ).otherwise(F.col("text")),
        )
        .drop("_cl", "_ttext")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "documents.parquet"))
    )

    emb = spark.read.parquet(os.path.join(src_dir, "embeddings.parquet"))
    we = Window.orderBy("vec_id")
    tmpl_emb = (
        emb.orderBy("vec_id").limit(SKEW_TEMPLATES)
        .select(
            (F.row_number().over(we) - 1).alias("_cl"),
            F.col("embedding").alias("_temb"),
        )
    )
    member_e, cluster_e, salt_e = _skew_columns("vec_id")
    dim = F.size(F.col("_temb"))
    nudged = F.concat(
        F.slice(F.col("_temb"), 1, dim - 1),
        F.array(
            F.element_at(F.col("_temb"), -1)
            + salt_e.cast("float") * F.lit(1e-4).cast("float")
        ),
    )
    (
        emb.withColumn("_cl", F.when(member_e, cluster_e))
        .join(F.broadcast(tmpl_emb), "_cl", "left")
        .withColumn(
            "embedding",
            F.when(F.col("_cl").isNotNull(), nudged)
            .otherwise(F.col("embedding")),
        )
        .drop("_cl", "_temb")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "embeddings.parquet"))
    )

    with open(marker, "w") as fh:
        fh.write(f"templates={SKEW_TEMPLATES} frac={SKEW_FRACTION} "
                 f"src={src_dir}\n")
    return out_dir


if __name__ == "__main__":
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from mysql2pg_spark.session import get_spark

    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), ".scale", "sf1")
    )
    spark = get_spark(app_name="gen-scale")
    spark.sparkContext.setLogLevel("ERROR")
    print(generate_scale_dir(spark, src, out))
