"""Offline PostgreSQL artifact export: schema scripts + distributed
``COPY``-text data + a psql loader (round 13, beyond-reference).

The live ``copy_sink`` streams COPY FROM STDIN over a DB-API
connection; this sink produces the OFFLINE artifact instead — the
"convert my mysqldump without a live PostgreSQL" workflow the
reference cannot do at all (it requires both servers online):

- ``schema_pre.sql``  — tableddl + view stages (partition parents AND
  children, domain CHECK-backed enum/set columns declared, skips as
  reviewable ``--`` comments);
- ``<table>.copy/``   — a DIRECTORY of PostgreSQL COPY text-format
  part files per table, written by a JVM-side ``replace``-chain
  encoder (map-only: a 100 TB table exports as one partition-parallel
  job, no driver funnel, no Python row loop);
- ``schema_post.sql`` — every post-data stage (sequences — the setval
  statements compute ``MAX(col)`` in SQL at load time, so the artifact
  needs no engine-side counts — indexes, FKs, CHECKs, functions,
  triggers, events, grants);
- ``load.sql``        — a psql script: ``\\i`` pre-schema, one
  ``\\copy`` per part file per table (psql's client-side COPY cannot
  glob a directory), ``\\i`` post-schema.

COPY text format contract (PostgreSQL's default): ``\\t`` field
separator, ``\\N`` for NULL, backslash-escaped ``\\ \\t \\n \\r``,
booleans as ``t``/``f``, bytea as ``\\x<hex>`` (the file carries the
backslash doubled so COPY's escape pass delivers the ``\\x…`` literal
to bytea input). Rows pass through the live data stage's own
``MigrationPipeline._sink_frame`` (normalized column case, zero dates →
NULL, WKB → WKT, tinyint(1) → boolean, generated columns EXCLUDED — the
emitted DDL declares them ``GENERATED ALWAYS AS … STORED`` and
PostgreSQL rejects explicit values for them).

Reference parity: net-new surface (the reference's internal/db reads
MySQL and writes a live PG; no artifact path exists).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, BooleanType

__all__ = ["write_pg_copy", "export_pg_dir", "pg_copy_encode_col"]


def _list_copy_parts(spark: SparkSession, data_dir: str) -> list[str]:
    """Part-file names under a just-written COPY directory, listed via
    the Hadoop FileSystem API resolved FROM THE PATH (review r14:
    ``os.listdir`` assumed the Spark write landed on the driver-local
    filesystem — against a cluster defaultFS it raised
    FileNotFoundError, or worse, silently listed a stale local
    directory after the data had already been exported elsewhere)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(data_dir)
    fs = hpath.getFileSystem(
        spark._jsc.hadoopConfiguration()  # type: ignore[union-attr]
    )
    names = [
        st.getPath().getName() for st in fs.listStatus(hpath)
    ]
    return sorted(
        n for n in names
        if n.startswith("part-") and not n.endswith(".crc")
    )


def pg_copy_encode_col(c, dtype):
    """One column → its COPY text-format field, entirely JVM-side.
    NULL → ``\\N``; binary → doubled-backslash hex (``\\\\x48…`` in
    the file = bytea ``\\x48…`` after COPY's escape pass); boolean →
    ``t``/``f``; everything else casts to string (Spark's ISO
    date/timestamp and plain decimal renderings are valid PG input)
    with the four COPY metacharacters escaped — backslash FIRST, or
    the escape pass would double the escapes themselves."""
    if isinstance(dtype, BinaryType):
        enc = F.concat(F.lit("\\\\x"), F.lower(F.hex(c)))
    elif isinstance(dtype, BooleanType):
        enc = F.when(c, F.lit("t")).otherwise(F.lit("f"))
    else:
        s = c.cast("string")
        enc = F.replace(s, F.lit("\\"), F.lit("\\\\"))
        for ch, pair in (("\t", "\\t"), ("\n", "\\n"), ("\r", "\\r")):
            enc = F.replace(enc, F.lit(ch), F.lit(pair))
    return F.when(c.isNull(), F.lit("\\N")).otherwise(enc)


def write_pg_copy(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """``COPY TO`` as a Spark sink: every column through
    :func:`pg_copy_encode_col`, tab-joined, ``write.text`` — the
    PostgreSQL twin of ``sources.tabdump.write_outfile`` (map-only,
    partition-parallel; output is a directory of part files the
    loader script ``\\copy``'s one by one)."""
    cols = [
        pg_copy_encode_col(F.col(f.name), f.dataType)
        for f in df.schema.fields
    ]
    df.select(F.concat_ws("\t", *cols).alias("value")).write.mode(
        mode
    ).text(path)


#: plan() stages that belong BEFORE the data load (everything else in
#: STAGE_ORDER lands in schema_post.sql)
_PRE_DATA_STAGES = ("tableddl", "view")


def export_pg_dir(
    pipeline,
    out_dir: str,
    source_loader,
    *,
    tables: list[str] | None = None,
) -> dict:
    """Export ``pipeline``'s snapshot as the offline PG artifact.

    ``pipeline`` is a ``MigrationPipeline`` (its plan() supplies the
    DDL in stage order and its ``_sink_frame`` is the live migration's
    data contract); ``source_loader(name) ->
    DataFrame`` supplies rows (the same loader shape as
    ``tables.parquet_endpoints``).
    Returns ``{"tables": [...], "load_script": path}``.

    ``out_dir`` must be a DRIVER-LOCAL directory: the schema scripts
    and ``load.sql`` are plain Python file writes, and psql's
    ``\\copy`` reads the part files by relative path from that
    directory. The Spark data write itself resolves ``out_dir``
    through the Hadoop FileSystem API, so on a cluster whose defaultFS
    is not ``file://`` the part files land on the defaultFS — prefix
    ``out_dir`` with ``file:///`` (on a shared mount) or export on a
    local-mode session when assembling a psql-runnable artifact."""
    from mysql2pg_spark.sinks.ddl import render_script

    os.makedirs(out_dir, exist_ok=True)
    actions = pipeline.plan()

    pre = os.path.join(out_dir, "schema_pre.sql")
    post = os.path.join(out_dir, "schema_post.sql")
    with open(pre, "w", encoding="utf-8") as fh:
        fh.write(render_script(
            actions, lambda s: s in _PRE_DATA_STAGES
        ) + "\n")
    with open(post, "w", encoding="utf-8") as fh:
        fh.write(render_script(
            actions,
            lambda s: s not in _PRE_DATA_STAGES
            and s not in ("data", "validate"),
        ) + "\n")

    wanted = set(t.lower() for t in tables) if tables is not None else None
    done: list[str] = []
    copy_lines: list[str] = []
    # the DATA loop honors the config's include/exclude selection
    # exactly like plan() does (review r13c: an excluded table must
    # not get a \copy line pointing at a CREATE the schema never ran)
    for t in pipeline._selected_tables():
        if wanted is not None and t.name.lower() not in wanted:
            continue
        name = pipeline._norm(t.name)
        # the same sink frame a live migration writes (normalized
        # column case, value fixes, generated columns dropped), so the
        # \copy column list speaks the DDL's identifiers
        df = pipeline._sink_frame(t, source_loader(t.name))
        data_dir = os.path.join(out_dir, f"{name}.copy")
        write_pg_copy(df, data_dir)
        col_list = ", ".join(f'"{c}"' for c in df.columns)
        for part in _list_copy_parts(df.sparkSession, data_dir):
            copy_lines.append(
                f"\\copy \"{name}\" ({col_list}) from "
                f"'{name}.copy/{part}' with (format text)"
            )
        done.append(name)

    load = os.path.join(out_dir, "load.sql")
    with open(load, "w", encoding="utf-8") as fh:
        fh.write(
            "-- psql loader for the mysql2pg_spark offline artifact\n"
            "-- (run from this directory: psql -f load.sql <target>)\n"
            "\\set ON_ERROR_STOP on\n"
            "\\i schema_pre.sql\n"
            + "\n".join(copy_lines)
            + "\n\\i schema_post.sql\n"
        )
    return {"tables": done, "load_script": load}
