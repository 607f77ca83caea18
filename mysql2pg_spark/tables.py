"""Test-corpus table loader.

The driver provides a TPC-H-ish star schema plus ``events`` (stream-shaped),
``documents`` and ``embeddings`` (training-data-pipeline shaped) as parquet
under ``/root/testdata/sf*/``.  At 100 TB these would be partitioned parquet/
iceberg tables; the loader is the single place that knows physical layout, so
swapping in a real lakehouse means changing only this module.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor.
# (region/nation are fixed-size; supplier/part/customer grow with SF but
# remain << fact tables — Catalyst's size-based broadcast threshold handles
# those; region/nation we hint explicitly.)
SMALL_DIMS = ("region", "nation")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Exact-sum accumulator type (defined HERE, a leaf module, so non-plans
# modules — e.g. streaming.ingest — can use it without importing the
# whole plans package and tripping its registration-order cycle).
# Scale 4 (not higher) is deliberate: the final cast to DOUBLE is
# computed by both engines as (double)unscaled / 10^scale, which is
# correctly rounded only while |unscaled| < 2^53 ≈ 9e15 — scale 4 keeps
# sums up to ~9e11 bit-exact across engines; scale 10 already diverges
# at ~1e6 (observed 1-ulp mismatches vs DuckDB).
DEC = "decimal(38,4)"


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Canonicalize ``events.ts`` to TIMESTAMP (LTZ, session tz pinned UTC).

    The driver has regenerated events.parquet with different physical ts
    encodings across rounds (timestamp[ns] → bigint under nanosAsLong;
    timestamp[us] → TIMESTAMP_NTZ), so branch on the *loaded* dtype instead
    of assuming one layout:

    - ``bigint``: legacy nanos-as-long; truncate to micros with integer
      division exactly like DuckDB (NOT float — nanos exceed 2^53).
    - ``timestamp_ntz`` / anything else: cast through to ``timestamp``.
      With the session timezone pinned to UTC (session.py and load_table
      both enforce it) the NTZ→LTZ cast is wall-clock-preserving, so
      values stay identical to DuckDB's naive-timestamp oracle.

    Both branches emit the same canonical type; a final assertion turns
    the next fixture drift into one named error instead of N opaque
    plan-time crashes.
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype is None:
        return df
    if dtype == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dtype != "timestamp":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    out = dict(df.dtypes)["ts"]
    assert out == "timestamp", (
        f"events.ts normalization failed: parquet dtype {dtype!r} -> {out!r}; "
        "testdata layout changed again — extend normalize_events_ts."
    )
    return df


def _pin_session_confs(spark: SparkSession) -> None:
    # load_table must not assume it built the session — an externally
    # constructed SparkSession (e.g. the correctness driver's) needs the
    # same runtime-settable confs session.py applies:
    #  - nanosAsLong: historical events.parquet used TIMESTAMP(NANOS),
    #    which Spark rejects outright without it; harmless for micros.
    #  - UTC session tz: makes the NTZ->LTZ cast in normalize_events_ts
    #    value-stable vs DuckDB's naive timestamps regardless of host tz.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def fan_out(
    df: DataFrame,
    n: int | None = None,
    bytes_per_partition: int | None = None,
) -> DataFrame:
    """Round-robin repartition a parallelism-starved DataFrame up to the
    cluster's core count — a NO-OP whenever the input already has at
    least that many partitions.

    Why (round 16, guide §2): the test corpus ships each table as a
    single-row-group parquet file, so every scan is ONE task and a
    map-heavy stage (md5 checksums, per-row HOF chains, pair scoring)
    runs on one core regardless of cluster size. At 100 TB real inputs
    have thousands of splits, ``getNumPartitions() >= defaultParallelism``
    holds, and this helper adds nothing — the repartition only fires
    exactly when the input is too small to occupy the cluster, which is
    when shuffling it is cheap by definition. Scale-adaptive by
    construction (derived from ``defaultParallelism``), not a local[32]
    constant.

    Results are unaffected: every consumer in this repo is
    partitioning-agnostic (aggregates are map-side combinable, digests
    are per-row, window/top-k keys shuffle afterwards anyway).

    ``bytes_per_partition`` caps the fan-out by the optimizer's size
    estimate (``target = min(cores, est_bytes // bytes_per_partition)``)
    so a 2 KB dimension table is never exploded into 32 one-row files —
    use on write paths where output file count matters (guide §6).
    """
    sc = df.sparkSession.sparkContext
    target = n or sc.defaultParallelism
    if bytes_per_partition:
        try:
            est = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
            target = max(1, min(target, est // bytes_per_partition))
        except Exception:
            pass  # estimate unavailable — keep the core-count target
    if target <= 1 or df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def parquet_endpoints(loader, sink_dir: str) -> dict:
    """``MigrationPipeline.execute`` seams for a file-backed migration:
    ``loader(table_name) -> DataFrame`` supplies each source table, every
    target table is written as parquet under ``sink_dir/<table>``, and
    validation reads that directory back. Use as
    ``execute(spark, conn, **parquet_endpoints(loader, sink_dir))``.

    The source is fanned out before the value-fix, checksum observe and
    write (round 16): file sources are often one split per table, which
    would run the digest and parquet encode as one task. The 1 MiB floor
    keeps small tables at one output file."""

    def source_reader(spark: SparkSession, plan: dict) -> DataFrame:
        return fan_out(loader(plan["table"]), bytes_per_partition=1 << 20)

    def sink_writer(df: DataFrame, table: str) -> None:
        df.write.mode("overwrite").parquet(os.path.join(sink_dir, table))

    def dest_reader(spark: SparkSession, table: str) -> DataFrame:
        return spark.read.parquet(os.path.join(sink_dir, table))

    return {
        "source_reader": source_reader,
        "sink_writer": sink_writer,
        "dest_reader": dest_reader,
    }


#: Spark writes its own schema into this footer key and reads it back in
#: preference to the parquet types (char/varchar, UDTs, field metadata).
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema ``spark.read.parquet(path)`` would infer, read from the
    file's footer on the driver, or None where it might differ.

    Inference is a Spark job (the footer read runs as a distributed
    task); ``spark.read.schema(s).parquet(path)`` runs none. Only the
    Arrow types whose Spark type is exactly what Spark's own parquet
    inference yields are mapped. Everything else, and every file whose
    footer Spark reads differently (an INT96 column, Spark's own row
    metadata), gets None, so the caller infers as before."""
    if not os.path.isfile(path):
        return None  # a directory or URI: Spark lists and merges it
    import pyarrow as pa
    import pyarrow.parquet as pq

    meta = pq.read_metadata(path)
    if _SPARK_ROW_METADATA in (meta.metadata or {}):
        return None
    leaves = [meta.schema.column(i) for i in range(meta.num_columns)]
    if any(c.physical_type == "INT96" for c in leaves):
        return None
    conf = spark.conf.get
    ntz = conf("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    bin_str = conf("spark.sql.parquet.binaryAsString", "false")
    plain = {
        pa.int32(): IntegerType(),
        pa.int64(): LongType(),
        pa.float32(): FloatType(),
        pa.float64(): DoubleType(),
        pa.bool_(): BooleanType(),
        pa.string(): StringType(),
        pa.binary(): StringType() if bin_str == "true" else BinaryType(),
        pa.date32(): DateType(),
    }

    def spark_type(t):
        if pa.types.is_list(t):
            elem = spark_type(t.value_type)
            return elem and ArrayType(elem, t.value_field.nullable)
        if pa.types.is_timestamp(t):
            if t.unit != "us":
                return None  # ns is a long under nanosAsLong; ms/s differ
            if t.tz is None and ntz == "true":
                return TimestampNTZType()
            return TimestampType()
        return plain.get(t)

    fields = []
    for f in meta.schema.to_arrow_schema():
        t = spark_type(f.type)
        if t is None:
            return None
        fields.append(StructField(f.name, t, f.nullable))
    return StructType(fields)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One corpus table. The schema comes from the footer on the driver
    (``footer_schema``), so loading a table runs no Spark job."""
    _pin_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    if name == "events":
        df = normalize_events_ts(df)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view for ``spark.sql`` use."""
    tables = load_tables(spark, sf_dir, names)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
