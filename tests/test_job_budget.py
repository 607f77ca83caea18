"""Job budgets: a query fires only the Spark jobs whose output is read.

Counted with ``SparkContext.statusTracker()``: loading a table reads
its schema from the parquet footer on the driver (0 jobs), q09 and p01
build with 0 jobs, and d04's build runs exactly one eager query (its
two plan-time statistics, collected together). The footer schema must
equal what Spark's own inference gives, or fall back to it.
"""

from __future__ import annotations

import datetime
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.classic.dataframe import DataFrame

from mysql2pg_spark.plans import QUERIES
from mysql2pg_spark.tables import TABLE_NAMES, footer_schema, load_table
from tests.conftest import SF_CORRECT


def _jobs(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def test_load_table_fires_no_job(spark):
    before = _jobs(spark)
    frames = [load_table(spark, SF_CORRECT, t) for t in TABLE_NAMES]
    assert _jobs(spark) == before
    assert all(df.columns for df in frames)


@pytest.mark.parametrize(
    "name", ["q09_semi_anti", "p01_grouped_map_sessionize"]
)
def test_lazy_headline_builds_fire_no_job(spark, name):
    before = _jobs(spark)
    QUERIES[name](spark, SF_CORRECT)
    assert _jobs(spark) == before


def test_neardup_build_runs_one_eager_query(spark, monkeypatch):
    """Every job d04's build fires belongs to one collect(): the max
    bucket and the hash-injectivity flag come back together."""
    collect = DataFrame.collect
    queries: list[set[int]] = []

    def counted(self):
        before = _jobs(spark)
        try:
            return collect(self)
        finally:
            queries.append(_jobs(spark) - before)

    monkeypatch.setattr(DataFrame, "collect", counted)
    before = _jobs(spark)
    QUERIES["d04_neardup_pairs"](spark, SF_CORRECT)
    fired = _jobs(spark) - before
    assert len(queries) == 1
    assert fired == queries[0]


def _fallback_files(d: str) -> list[str]:
    """Files whose footer Spark reads in ways the driver-side mapping
    does not reproduce."""
    out = []
    for name, table in {
        "uint32": pa.table({"a": pa.array([1, 2], pa.uint32())}),
        "ts_nanos": pa.table(
            {"t": pa.array([1, 2], pa.timestamp("ns"))}
        ),
        "ts_millis": pa.table(
            {"t": pa.array([1, 2], pa.timestamp("ms"))}
        ),
        "decimal": pa.table(
            {"a": pa.array([1, 2], pa.int32()).cast(pa.decimal128(12, 2))}
        ),
        "struct": pa.table(
            {"s": pa.array([{"x": 1}], pa.struct([("x", pa.int32())]))}
        ),
        "int16": pa.table({"a": pa.array([1], pa.int16())}),
    }.items():
        path = os.path.join(d, f"{name}.parquet")
        pq.write_table(table, path)
        out.append(path)
    path = os.path.join(d, "int96.parquet")
    pq.write_table(
        pa.table({"t": pa.array([1], pa.timestamp("us"))}),
        path,
        use_deprecated_int96_timestamps=True,
    )
    out.append(path)
    return out


def _mapped_files(d: str) -> list[str]:
    """Files of every mapped Arrow type the fixtures lack."""
    path = os.path.join(d, "mapped.parquet")
    pq.write_table(
        pa.table({
            "i": pa.array([1], pa.int32()),
            "f": pa.array([1.5], pa.float32()),
            "b": pa.array([True]),
            "bin": pa.array([b"\x00"], pa.binary()),
            "d": pa.array([datetime.date(2024, 2, 29)], pa.date32()),
            "tz": pa.array([1], pa.timestamp("us", tz="UTC")),
            "ntz": pa.array([1], pa.timestamp("us")),
            "l": pa.array([[1.0, None]], pa.list_(pa.float64())),
            "ll": pa.array([[["a"]]], pa.list_(pa.list_(pa.string()))),
            "req": pa.array(
                [[1]], pa.list_(pa.field("x", pa.int32(), nullable=False))
            ),
        }),
        path,
    )
    return [path]


def test_footer_schema_equals_spark_inference(spark, tmp_path):
    """Every fixture parquet and every mapped type reads with exactly
    the schema Spark infers; the unmapped cases (and a Spark-written
    file, and a directory) fall back to inference."""
    fixtures = os.path.join(os.path.dirname(SF_CORRECT), "sf*", "*.parquet")
    mapped = sorted(glob.glob(fixtures))
    assert mapped, "no fixture parquet found"
    mapped += _mapped_files(str(tmp_path))
    for path in mapped:
        schema = footer_schema(spark, path)
        assert schema is not None, path
        read = spark.read.schema(schema).parquet(path)
        assert read.schema == spark.read.parquet(path).schema, path

    spark_dir = str(tmp_path / "spark_written")
    spark.range(2).selectExpr("id", "cast(id as string) s").write.parquet(
        spark_dir
    )
    spark_file = glob.glob(os.path.join(spark_dir, "*.parquet"))[0]
    for path in _fallback_files(str(tmp_path)) + [spark_file, spark_dir]:
        assert footer_schema(spark, path) is None, path


def test_footer_schema_honours_ntz_inference(spark, tmp_path):
    path = _mapped_files(str(tmp_path))[0]
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        schema = footer_schema(spark, path)
        assert schema["ntz"].dataType.simpleString() == "timestamp"
        assert spark.read.schema(schema).parquet(path).schema == (
            spark.read.parquet(path).schema
        )
    finally:
        spark.conf.set(key, old)


def test_fused_signatures_equal_the_jvm_hash(spark):
    """The kernel's minhashes are byte-identical to the JVM expression
    ``minhash_slice`` minimized over the same shingles."""
    from pyspark.sql import functions as F

    from mysql2pg_spark.operators import dedup as D

    docs = load_table(spark, SF_CORRECT, "documents")
    sh = D.shingle_sets(docs, "doc_id", "text", 3, 8)
    jvm = (
        sh.select("doc_id", F.explode("shingles").alias("s"))
        .groupBy("doc_id")
        .agg(*[F.min(D.minhash_slice(i, F.col("s"))).alias(f"mh{i}")
               for i in range(8)])
    )
    fused = D._signatures_from_shingles(sh, "doc_id", 8)
    assert sorted(fused.collect()) == sorted(jvm.collect())
    assert fused.count() > 0
