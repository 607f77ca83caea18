"""JDBC planning, catalog parsing, value fixes, validation operators."""

from __future__ import annotations

import struct

from mysql2pg_spark.operators.validate import checksum_validation, count_validation
from mysql2pg_spark.sinks.jdbc_sink import (
    JdbcSinkConfig,
    decode_mysql_point,
    effective_batchsize,
    normalize_zero_dates,
    plan_write,
)
from mysql2pg_spark.sources.catalog import (
    group_indexes,
    group_primary_keys,
    tables_query,
)
from mysql2pg_spark.sources.jdbc import (
    plan_partitioned_read,
    plan_predicate_read,
)


def test_partitioned_read_planning():
    p = plan_partitioned_read("lineitem", "l_orderkey", 1, 6_000_000,
                              row_count=24_000_000)
    assert p["numPartitions"] == 24
    assert p["column"] == "l_orderkey"
    # no PK → single partition
    assert plan_partitioned_read("t", None) == {"table": "t"}
    # partition cap respected
    p2 = plan_partitioned_read("t", "id", 0, 10**9, row_count=10**9,
                               max_partitions=64)
    assert p2["numPartitions"] == 64


def test_predicate_read_covers_domain():
    p = plan_predicate_read("t", "name", ["f", "m"])
    assert p["predicates"] == [
        "name < 'f' OR name IS NULL",
        "name >= 'f' AND name < 'm'",
        "name >= 'm'",
    ]


def test_batchsize_param_cap():
    # 65535 params / 20 cols = 3276 rows per statement max
    assert effective_batchsize(10_000, 20) == 3276
    assert effective_batchsize(100, 20) == 100


def test_tables_query_pushdown():
    q = tables_query("db1", include=["a", "b"], exclude=["c"])
    assert "table_name IN ('a', 'b')" in q
    assert "table_name NOT IN ('c')" in q


def test_group_indexes_and_pks():
    rows = [
        {"table_name": "t", "index_name": "PRIMARY", "column_name": "id",
         "seq_in_index": 1, "non_unique": 0},
        {"table_name": "t", "index_name": "i2", "column_name": "b",
         "seq_in_index": 2, "non_unique": 1},
        {"table_name": "t", "index_name": "i2", "column_name": "a",
         "seq_in_index": 1, "non_unique": 1},
    ]
    grouped = group_indexes(rows)
    assert list(grouped) == ["t"]
    assert grouped["t"][0].columns == ["a", "b"]  # seq order
    assert not grouped["t"][0].unique
    pks = group_primary_keys(
        [
            {"table_name": "t", "column_name": "b", "ordinal_position": 2},
            {"table_name": "t", "column_name": "a", "ordinal_position": 1},
        ]
    )
    assert pks["t"] == ["a", "b"]


def test_zero_date_normalization(spark):
    df = spark.createDataFrame(
        [("0000-00-00",), ("0000-00-00 00:00:00",), ("2024-01-01",)],
        "d string",
    )
    vals = [r["v"] for r in df.select(normalize_zero_dates("d").alias("v")).collect()]
    assert vals == [None, None, "2024-01-01"]


def test_wkb_point_decode(spark):
    # MySQL internal format: 4-byte SRID + WKB (1 endian, 4 type, 2 doubles)
    le = struct.pack("<I", 0) + struct.pack("<B", 1) + struct.pack("<I", 1) + struct.pack("<dd", 1.5, -2.25)
    be = struct.pack("<I", 0) + struct.pack(">B", 0) + struct.pack(">I", 1) + struct.pack(">dd", 3.0, 4.0)
    bad = b"\x00" * 10
    df = spark.createDataFrame([(le,), (be,), (bad,), (None,)], "p binary")
    vals = [r["v"] for r in df.select(decode_mysql_point("p").alias("v")).collect()]
    assert vals == ["(1.5,-2.25)", "(3,4)", None, None]


def test_plan_write_modes(spark):
    df = spark.range(3).selectExpr(*[f"id AS c{i}" for i in range(10)])
    cfg = JdbcSinkConfig(url="jdbc:postgresql://x/db", user="u",
                         truncate_before_sync=True, batchsize=100_000)
    plan = plan_write(df, cfg, "t")
    assert plan["mode"] == "overwrite"
    assert plan["properties"]["truncate"] == "true"
    assert plan["properties"]["batchsize"] == str(65535 // 10)
    assert plan["properties"]["reWriteBatchedInserts"] == "true"


def test_checksum_validation_detects_mismatch(spark):
    a = spark.range(100).selectExpr("id", "CAST(id % 7 AS STRING) AS s")
    b = spark.range(100).selectExpr("id", "CAST(id % 7 AS STRING) AS s")
    c = a.filter("id <> 50")
    assert checksum_validation(a, b)["consistent"]
    assert not checksum_validation(a, c)["consistent"]
    v = count_validation(a, c)
    assert v == {"src_rows": 100, "dst_rows": 99, "consistent": False}


# ---- COPY-protocol fast sink (reference hot path, connection.go:557) ------


class _CaptureCursor:
    def __init__(self, log):
        self.log = log

    def copy_expert(self, sql, buf):
        self.log.append((sql, buf.read()))


class _CaptureConn:
    def __init__(self, log):
        self.log = log
        self.commits = 0

    def cursor(self):
        return _CaptureCursor(self.log)

    def commit(self):
        self.commits += 1

    def close(self):
        pass


def test_copy_text_format_escaping():
    """COPY TEXT protocol fields: NULL marker, booleans, bytea hex,
    timestamps, and the backslash/tab/newline escape set."""
    import datetime

    from mysql2pg_spark.sinks.copy_sink import format_copy_row

    line = format_copy_row(
        [None, True, False, b"\x01\xff", "a\tb\nc\\d",
         datetime.datetime(2024, 5, 1, 10, 30), 3.5]
    )
    assert line == "\\N\tt\tf\t\\\\x01ff\ta\\tb\\nc\\\\d\t2024-05-01 10:30:00\t3.5\n"


def test_copy_partition_batches_and_commits():
    """Chunking parity with the reference (batch_insert_size, per-batch
    transaction :571-593): 5 rows at batch_rows=2 → 3 COPYs, 3 commits."""
    from mysql2pg_spark.sinks.copy_sink import copy_partition

    log = []
    conn = _CaptureConn(log)
    n = copy_partition(
        iter([(i, f"v{i}") for i in range(5)]),
        "public.t", ["id", "val"], lambda: conn, batch_rows=2,
    )
    assert n == 5
    assert conn.commits == 3
    assert [p.count("\n") for _, p in log] == [2, 2, 1]
    assert all(sql == "COPY public.t (id, val) FROM STDIN" for sql, _ in log)
    assert log[0][1] == "0\tv0\n1\tv1\n"


def test_write_copy_foreachpartition_executor_side(spark, tmp_path):
    """The full Spark path: foreachPartition streams every partition
    through COPY on its own connection, executor-side — reassembling the
    captured payloads yields exactly the input rows."""
    import glob
    import os
    import uuid

    from mysql2pg_spark.sinks.copy_sink import write_copy

    out_dir = str(tmp_path / "copies")
    os.makedirs(out_dir)

    class FileConn:
        """Executor-side fake: each COPY payload lands in its own file."""

        def cursor(self):
            conn = self

            class Cur:
                def copy_expert(self, sql, buf):
                    p = os.path.join(out_dir, uuid.uuid4().hex)
                    with open(p, "w") as f:
                        f.write(buf.read())

            return Cur()

        def commit(self):
            pass

        def close(self):
            pass

    df = spark.range(0, 100, 1, 4).selectExpr("id", "concat('v', id) AS val")
    write_copy(df, "t", FileConn, batch_rows=30)

    lines = []
    for p in glob.glob(os.path.join(out_dir, "*")):
        with open(p) as f:
            lines += f.read().splitlines()
    assert sorted(lines) == sorted(f"{i}\tv{i}" for i in range(100))
    # 4 partitions of 25 rows at batch_rows=30 → one file per partition
    assert len(glob.glob(os.path.join(out_dir, "*"))) == 4


def test_execute_sink_selection_copy_vs_jdbc(tmp_path):
    """options.use_copy_protocol flips the default live sink between the
    JDBC batch writer and the COPY-protocol writer."""
    from mysql2pg_spark.config import EngineConfig
    from mysql2pg_spark.orchestrator import CatalogSnapshot, MigrationPipeline

    cfg = EngineConfig()
    pipe = MigrationPipeline(cfg, CatalogSnapshot(tables=[]))
    assert pipe._default_sink_writer().sink_kind == "jdbc"
    cfg.options.use_copy_protocol = True
    assert pipe._default_sink_writer().sink_kind == "copy"
    assert cfg.postgresql.dsn == "postgresql://postgres@localhost:5432/"


def test_estimate_row_bytes_and_byte_budgeted_partitions():
    """A15: declared widths drive the estimate (reference uses a flat
    20 B/col, mysql/connection.go:231-244 — deliberate divergence), and
    wide rows shrink the rows-per-partition cap."""
    from mysql2pg_spark.sources.jdbc import (
        estimate_row_bytes,
        plan_partitioned_read,
    )

    assert estimate_row_bytes(["bigint", "int"]) == 12
    assert estimate_row_bytes(["varchar(200)"]) == 100
    assert estimate_row_bytes(["datetime", "mystery_type"]) == 28
    # 10 MB budget, 1 kB rows → 10_000 rows/partition, not 1M
    plan = plan_partitioned_read(
        "t", "id", 1, 10_000_000, row_count=10_000_000,
        row_bytes=1024, target_partition_bytes=10 * 1024 * 1024,
        max_partitions=1 << 30,
    )
    assert plan["numPartitions"] == 977  # ceil(10M / (10MiB // 1kiB))
    # narrow rows keep the row-count cap
    plan = plan_partitioned_read(
        "t", "id", 1, 10_000_000, row_count=10_000_000, row_bytes=8,
    )
    assert plan["numPartitions"] == 10


def test_write_dbapi_foreachpartition_executor_side(spark, tmp_path):
    """The dbapi sink's executors transport (the client-server shape):
    each partition opens its own connection and pumps B4-capped
    executemany batches; reassembling the captured batches yields
    exactly the input rows, and no batch exceeds the cap."""
    import glob
    import json
    import os
    import uuid

    from mysql2pg_spark.sinks.dbapi_sink import write_dbapi

    out_dir = str(tmp_path / "batches")
    os.makedirs(out_dir)

    class FileConn:
        def cursor(self):
            class Cur:
                def executemany(self, sql, rows):
                    p = os.path.join(out_dir, uuid.uuid4().hex)
                    with open(p, "w") as f:
                        json.dump({"sql": sql, "rows": rows}, f)

            return Cur()

        def commit(self):
            pass

        def close(self):
            pass

    df = spark.range(0, 100, 1, 4).selectExpr("id", "concat('v', id) AS val")
    write_dbapi(
        df, "t", FileConn, paramstyle="format", batch_rows=30,
        via="executors",
    )

    rows, max_batch = [], 0
    for p in glob.glob(os.path.join(out_dir, "*")):
        with open(p) as f:
            d = json.load(f)
        assert d["sql"] == 'INSERT INTO "t" ("id", "val") VALUES (%s, %s)'
        rows += [tuple(r) for r in d["rows"]]
        max_batch = max(max_batch, len(d["rows"]))
    assert sorted(rows) == sorted((i, f"v{i}") for i in range(100))
    assert max_batch <= 30


def test_group_indexes_carries_index_type():
    """A6 (round 11): information_schema.statistics' index_type rides
    into IndexSpec.kind so live-catalog FULLTEXT/SPATIAL indexes map to
    GIN/GiST like dump-parsed ones."""
    from mysql2pg_spark.sources.catalog import group_indexes

    rows = [
        {"table_name": "t", "index_name": "ft", "column_name": "body",
         "seq_in_index": 1, "non_unique": 1, "index_type": "FULLTEXT"},
        {"table_name": "t", "index_name": "sp", "column_name": "loc",
         "seq_in_index": 1, "non_unique": 1, "index_type": "SPATIAL"},
        {"table_name": "t", "index_name": "h", "column_name": "k",
         "seq_in_index": 1, "non_unique": 1, "index_type": "HASH"},
    ]
    specs = {i.name: i for i in group_indexes(rows)["t"]}
    assert specs["ft"].kind == "fulltext"
    assert specs["sp"].kind == "spatial"
    assert specs["h"].kind == "btree"  # MEMORY-engine HASH → btree


def test_wkb_geometry_decode_full_family(spark):
    """Round 12 (B8 widened): the full geometry family decodes to
    WKT/EWKT — the reference decodes POINT only and ships the rest as
    opaque bytes (and this engine's old ("point","geometry") trigger
    NULLed non-point geometries)."""
    from mysql2pg_spark.plans.valuefix_demo import WKB_GEOMS
    from mysql2pg_spark.sinks.jdbc_sink import decode_mysql_geometry

    df = spark.createDataFrame(
        [(k, bytes.fromhex(h)) for k, h, _ in WKB_GEOMS] + [(9, None)],
        "id int, g binary",
    )
    got = {
        r["id"]: r["v"]
        for r in df.select(
            "id", decode_mysql_geometry("g").alias("v")
        ).collect()
    }
    want = {k: wkt for k, _h, wkt in WKB_GEOMS}
    want[9] = None
    assert got == want


def test_wkb_geometry_multilinestring_and_multipolygon(spark):
    import struct as _s

    from mysql2pg_spark.sinks.jdbc_sink import decode_mysql_geometry

    def u32(v):
        return _s.pack("<I", v)

    def dbls(vals):
        return _s.pack(f"<{len(vals)}d", *vals)

    line = lambda pts: b"\x01" + u32(2) + u32(len(pts) // 2) + dbls(pts)  # noqa: E731
    mls = u32(0) + b"\x01" + u32(5) + u32(2) + line([0, 0, 1, 1]) + line([2, 2, 3, 3])
    ring = u32(4) + dbls([0, 0, 1, 0, 1, 1, 0, 0])
    poly = b"\x01" + u32(3) + u32(1) + ring
    mpoly = u32(0) + b"\x01" + u32(6) + u32(1) + poly
    df = spark.createDataFrame([(1, mls), (2, mpoly)], "id int, g binary")
    got = [
        r["v"]
        for r in df.select(decode_mysql_geometry("g").alias("v"))
        .orderBy("id").collect()
    ]
    assert got == [
        "MULTILINESTRING((0 0, 1 1), (2 2, 3 3))",
        "MULTIPOLYGON(((0 0, 1 0, 1 1, 0 0)))",
    ]


def test_geometry_family_maps_to_text():
    from mysql2pg_spark.schema.schema_map import map_mysql_type

    for t in ("geometry", "linestring", "polygon", "multipolygon"):
        m = map_mysql_type(t)
        assert m.pg_type == "TEXT"
        assert "WKB-decoded" in (m.notes or "")
    # POINT keeps the reference-parity "(x,y)" → PG point mapping
    assert map_mysql_type("point").pg_type == "POINT"


def test_live_events_scan_renders_canonical_ddl():
    """A9+ (round 12): information_schema.events rows reconstruct the
    canonical CREATE EVENT text the dump path sees, so schema/events.py
    translates live-scanned events identically (the reference never
    scans events at all)."""
    from mysql2pg_spark.schema.events import parse_event, spec_actions
    from mysql2pg_spark.sources.catalog import (
        events_query,
        render_event_ddl,
    )

    assert "information_schema.events" in events_query("db")
    assert "event_schema = 'db'" in events_query("db")

    rec = render_event_ddl({
        "event_name": "purge", "event_type": "RECURRING",
        "event_definition": "DELETE FROM t WHERE d < NOW()",
        "interval_value": 1, "interval_field": "DAY",
        "starts": "2024-01-01 02:00:00", "ends": None,
        "status": "ENABLED", "event_comment": "it's nightly",
    })
    spec = parse_event(rec)
    assert spec is not None and spec.name == "purge"
    assert spec.comment == "it's nightly"
    acts = spec_actions(spec)
    # r14: the literal STARTS adds a deterministic start-gate note
    assert [k for k, _ in acts] == ["ddl", "note"]
    assert "start gate" in acts[1][1]
    ddl = acts[0][1]
    assert "'0 2 * * *'" in ddl and "CURRENT_TIMESTAMP" in ddl
    assert "IF now() >= TIMESTAMP '2024-01-01 02:00:00'" in ddl

    once = render_event_ddl({
        "event_name": "one", "event_type": "ONE TIME",
        "event_definition": "UPDATE t SET x = 1",
        "execute_at": "2030-01-01 00:00:00",
        "status": "DISABLED", "event_comment": None,
    })
    spec = parse_event(once)
    assert spec.schedule_kind == "at" and not spec.enabled


def test_wkb_geometry_empty_and_mismatched_nesting(spark):
    """Review r12: empty geometries render WKT's 'TAG EMPTY' spelling
    (ST_GeomFromEWKT rejects 'LINESTRING()'), and a MULTI* member of
    the wrong nested type is malformed input → NULL, never garbled
    WKT."""
    import struct as _s

    from mysql2pg_spark.sinks.jdbc_sink import decode_mysql_geometry

    def u32(v):
        return _s.pack("<I", v)

    empty_ls = u32(0) + b"\x01" + u32(2) + u32(0)
    empty_coll = u32(0) + b"\x01" + u32(7) + u32(0)
    empty_poly = u32(0) + b"\x01" + u32(3) + u32(0)
    # MULTIPOINT whose single member is a LINESTRING → malformed
    bad_mp = (
        u32(0) + b"\x01" + u32(4) + u32(1)
        + b"\x01" + u32(2) + u32(1) + _s.pack("<dd", 1, 2)
    )
    df = spark.createDataFrame(
        [(1, empty_ls), (2, empty_coll), (3, empty_poly), (4, bad_mp)],
        "id int, g binary",
    )
    got = [
        r["v"]
        for r in df.select(decode_mysql_geometry("g").alias("v"))
        .orderBy("id").collect()
    ]
    assert got == [
        "LINESTRING EMPTY", "GEOMETRYCOLLECTION EMPTY",
        "POLYGON EMPTY", None,
    ]


def test_partitions_query_and_render_partition_def():
    """Round 13: the live catalog scans information_schema.partitions
    and reconstructs the canonical PARTITION BY clause — the SAME text
    the dump parser sees, so both paths plan identically (previously a
    live-server migration silently lost partitioning the dump path
    preserves)."""
    from mysql2pg_spark.schema.partitioning import (
        parse_partition_def,
        plan_partitioned_table,
    )
    from mysql2pg_spark.dialect.ansi import transpile_mysql_ansi
    from mysql2pg_spark.sources.catalog import (
        group_partition_defs,
        partitions_query,
        render_partition_def,
    )

    q = partitions_query("db")
    assert "information_schema.partitions" in q
    assert "table_schema = 'db'" in q
    assert "partition_name IS NOT NULL" in q

    def plan(text, pk=()):
        pd = parse_partition_def(text)
        assert pd is not None, text
        return plan_partitioned_table(
            "t", pd, list(pk), str.lower, transpile_mysql_ansi,
            lambda s: s,
        )

    # RANGE over an expression, MAXVALUE top — catalog rows vs the
    # dump clause produce the SAME plan
    rows = [
        {"table_name": "t", "partition_name": n,
         "partition_ordinal_position": i + 1,
         "partition_method": "RANGE",
         "partition_expression": "year(`sold_on`)",
         "partition_description": d}
        for i, (n, d) in enumerate(
            [("p0", "1994"), ("p1", "1996"), ("pmax", "MAXVALUE")]
        )
    ]
    text = render_partition_def(rows)
    assert text == (
        "PARTITION BY RANGE (year(`sold_on`)) ("
        "PARTITION p0 VALUES LESS THAN (1994), "
        "PARTITION p1 VALUES LESS THAN (1996), "
        "PARTITION pmax VALUES LESS THAN MAXVALUE)"
    )
    dump_text = (
        "PARTITION BY RANGE (year(`sold_on`)) ("
        "PARTITION p0 VALUES LESS THAN (1994),"
        "PARTITION p1 VALUES LESS THAN (1996),"
        "PARTITION pmax VALUES LESS THAN MAXVALUE)"
    )
    assert plan(text).children == plan(dump_text).children
    assert plan(text).parent_clause == plan(dump_text).parent_clause

    # multi-column RANGE COLUMNS + LIST + LINEAR KEY shapes
    rows = [
        {"table_name": "t", "partition_name": "pe",
         "partition_ordinal_position": 1,
         "partition_method": "RANGE COLUMNS",
         "partition_expression": "`d`,`k`",
         "partition_description": "'2020-01-01',500"},
        {"table_name": "t", "partition_name": "pl",
         "partition_ordinal_position": 2,
         "partition_method": "RANGE COLUMNS",
         "partition_expression": "`d`,`k`",
         "partition_description": "MAXVALUE,MAXVALUE"},
    ]
    text = render_partition_def(rows)
    p = plan(text)
    assert p.skip is None and len(p.children) == 2
    assert "FROM ('2020-01-01', 500) TO (MAXVALUE, MAXVALUE)" \
        in p.children[1]

    rows = [
        {"table_name": "t", "partition_name": "pa",
         "partition_ordinal_position": 1,
         "partition_method": "LIST",
         "partition_expression": "`category`",
         "partition_description": "1,2,3"},
    ]
    assert render_partition_def(rows) == (
        "PARTITION BY LIST (`category`) "
        "(PARTITION pa VALUES IN (1,2,3))"
    )

    rows = [
        {"table_name": "t", "partition_name": f"p{i}",
         "partition_ordinal_position": i + 1,
         "partition_method": "LINEAR KEY",
         "partition_expression": "`id`",
         "partition_description": None}
        for i in range(2)
    ]
    text = render_partition_def(rows)
    assert text == (
        "PARTITION BY LINEAR KEY (`id`) (PARTITION p0, PARTITION p1)"
    )
    p = plan(text, pk=["id"])
    assert p.skip is None and len(p.children) == 2  # LINEAR migrates

    # subpartitioned RANGE x HASH with source names: one row per
    # (partition, subpartition); grandchild tables take the names
    rows = [
        {"table_name": "t", "partition_name": pn,
         "subpartition_name": sn,
         "partition_ordinal_position": pi,
         "subpartition_ordinal_position": si,
         "partition_method": "RANGE",
         "subpartition_method": "HASH",
         "partition_expression": "`y`",
         "subpartition_expression": "`m`",
         "partition_description": d}
        for pi, pn, d in [(1, "p0", "2000"), (2, "p1", "MAXVALUE")]
        for si, sn in [(1, f"{pn}sa"), (2, f"{pn}sb")]
    ]
    text = render_partition_def(rows)
    assert "SUBPARTITION BY HASH (`m`) SUBPARTITIONS 2" in text
    assert "(SUBPARTITION p0sa, SUBPARTITION p0sb)" in text
    p = plan(text, pk=["y", "m"])
    assert p.skip is None
    assert len(p.children) == 6
    assert any("t_p0sa" in c for c in p.children)

    # the grouper maps per table; method-less rows drop out
    defs = group_partition_defs(
        rows + [{"table_name": "u", "partition_name": "px",
                 "partition_ordinal_position": 1,
                 "partition_method": "", "partition_expression": "",
                 "partition_description": None}]
    )
    assert set(defs) == {"t"}


def test_check_constraints_query_and_grouper():
    """Round 13: live CHECK scan — rows group into the exact
    (name, expr, enforced) tuples TableMeta.checks carries from the
    dump parser, so the checks stage plans identically on both
    paths."""
    from mysql2pg_spark.sources.catalog import (
        check_constraints_query,
        group_check_constraints,
    )

    q = check_constraints_query("db")
    assert "information_schema.check_constraints" in q
    assert "constraint_type = 'CHECK'" in q
    rows = [
        {"table_name": "t", "constraint_name": "chk_age",
         "check_clause": "(`age` > 18)", "enforced": "YES"},
        {"table_name": "t", "constraint_name": "chk_doc",
         "check_clause": "(`age` < 150)", "enforced": "NO"},
    ]
    assert group_check_constraints(rows) == {
        "t": [("chk_age", "(`age` > 18)", True),
              ("chk_doc", "(`age` < 150)", False)],
    }


def test_triggers_query_and_render_trigger_ddl():
    """Round 13: live trigger scan — the reconstructed CREATE TRIGGER
    text goes through the SAME builder as dump-carried triggers and
    emits complete plpgsql."""
    from mysql2pg_spark.sinks.plpgsql import emit_trigger
    from mysql2pg_spark.sinks.plpgsql_builder import (
        build_trigger_from_mysql,
    )
    from mysql2pg_spark.sources.catalog import (
        render_trigger_ddl,
        triggers_query,
    )

    q = triggers_query("db")
    assert "information_schema.triggers" in q
    assert "action_order" in q
    ddl = render_trigger_ddl({
        "trigger_name": "audit_upd",
        "action_timing": "BEFORE",
        "event_manipulation": "UPDATE",
        "event_object_table": "parent",
        "action_statement": "SET NEW.name = UPPER(NEW.name)",
        "action_order": 1,
    })
    assert ddl == (
        "CREATE TRIGGER `audit_upd` BEFORE UPDATE ON `parent` "
        "FOR EACH ROW SET NEW.name = UPPER(NEW.name)"
    )
    out = emit_trigger(build_trigger_from_mysql(ddl))
    assert "CREATE TRIGGER audit_upd BEFORE UPDATE ON parent" in out
    assert "new.name := UPPER(CAST(NEW.name AS TEXT));" in out


def test_group_columns_carries_dump_parser_conventions():
    """Round 13: the live column scan groups rows into ColumnMeta with
    the dump parser's provenance conventions — EXPR:(…) for MySQL 8
    expression defaults (CURRENT_TIMESTAMP family passes through),
    generated expressions from generation_expression, auto_increment
    from extra."""
    from mysql2pg_spark.sources.catalog import (
        columns_query,
        group_columns,
    )

    assert "generation_expression" in columns_query("db")

    def row(**kw):
        base = {
            "table_name": "t", "ordinal_position": 1,
            "column_type": "int", "is_nullable": "YES",
            "column_default": None, "column_comment": "",
            "extra": "", "generation_expression": "",
        }
        base.update(kw)
        return base

    cols = group_columns([
        row(column_name="id", extra="auto_increment",
            is_nullable="NO", ordinal_position=1),
        row(column_name="u", column_type="char(36)",
            column_default="uuid()", extra="DEFAULT_GENERATED",
            ordinal_position=2),
        row(column_name="ts", column_type="timestamp",
            column_default="CURRENT_TIMESTAMP",
            extra="DEFAULT_GENERATED on update CURRENT_TIMESTAMP",
            ordinal_position=3),
        row(column_name="total", column_type="int",
            extra="STORED GENERATED",
            generation_expression="`a` + `b`", ordinal_position=4),
        row(column_name="plain", column_type="varchar(10)",
            column_default="x", ordinal_position=5),
        row(column_name="nul", column_default="NULL",
            ordinal_position=6),
    ])["t"]
    by = {c.name: c for c in cols}
    assert by["id"].auto_increment and not by["id"].nullable
    assert by["u"].default == "EXPR:(uuid())"
    assert by["ts"].default == "CURRENT_TIMESTAMP"
    assert by["total"].generated_expr == "`a` + `b`"
    assert by["total"].generated_stored
    assert by["total"].default is None
    assert by["plain"].default == "x"
    assert by["nul"].default is None
    # the EXPR: default flows through default_sql to a PG spelling
    from mysql2pg_spark.sinks.ddl import default_sql

    assert default_sql(by["u"].default) == "(gen_random_uuid())"


def test_render_routine_ddl_reconstructs_translatable_text():
    """Round 13: routines + parameters scans reconstruct the canonical
    CREATE text — the same builder path as dump-carried routines, for
    both functions (RETURNS from ordinal 0's sibling column) and
    procedures (IN/OUT modes); a privilege-withheld NULL body returns
    None for the caller's named skip."""
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import (
        build_spec_from_mysql,
    )
    from mysql2pg_spark.sources.catalog import (
        parameters_query,
        render_routine_ddl,
        routines_query,
    )

    q = routines_query("db")
    assert "IN ('FUNCTION', 'PROCEDURE')" in q
    assert "is_deterministic" in q
    assert "information_schema.parameters" in parameters_query("db")

    params = [
        {"specific_name": "add_tax", "ordinal_position": 0,
         "parameter_mode": None, "parameter_name": None,
         "dtd_identifier": "decimal(10,2)"},
        {"specific_name": "add_tax", "ordinal_position": 1,
         "parameter_mode": "IN", "parameter_name": "amount",
         "dtd_identifier": "decimal(10,2)"},
        {"specific_name": "log_it", "ordinal_position": 1,
         "parameter_mode": "INOUT", "parameter_name": "n",
         "dtd_identifier": "int"},
    ]
    fn = render_routine_ddl(
        {"routine_name": "add_tax", "routine_type": "FUNCTION",
         "routine_definition": "RETURN amount * 1.1",
         "return_type": "decimal(10,2)", "is_deterministic": "YES"},
        params,
    )
    assert fn == (
        "CREATE FUNCTION `add_tax`(`amount` decimal(10,2)) "
        "RETURNS decimal(10,2) DETERMINISTIC RETURN amount * 1.1"
    )
    out = emit_plpgsql(build_spec_from_mysql(fn))
    assert "CREATE OR REPLACE FUNCTION add_tax(amount DECIMAL(10,2))" in out
    assert "SELECT amount * 1.1" in out and "RETURN result;" in out
    assert "IMMUTABLE" in out

    proc = render_routine_ddl(
        {"routine_name": "log_it", "routine_type": "PROCEDURE",
         "routine_definition": "BEGIN SET n = n + 1; END",
         "return_type": None, "is_deterministic": "NO"},
        params,
    )
    assert proc == (
        "CREATE PROCEDURE `log_it`(INOUT `n` int) "
        "BEGIN SET n = n + 1; END"
    )
    out = emit_plpgsql(build_spec_from_mysql(proc))
    assert "CREATE OR REPLACE PROCEDURE log_it(INOUT n INTEGER)" in out

    # privilege-withheld body → None (named skip at the caller)
    assert render_routine_ddl(
        {"routine_name": "x", "routine_type": "FUNCTION",
         "routine_definition": None, "return_type": "int"},
        [],
    ) is None


def test_build_snapshot_assembles_all_planes():
    """Round 13: the live snapshot assembler — one injected-fetch call
    per catalog plane, producing a CatalogSnapshot that plans exactly
    like a dump-built one (partition children, checks stage, functions,
    triggers, events)."""
    from mysql2pg_spark.config import EngineConfig
    from mysql2pg_spark.orchestrator import MigrationPipeline
    from mysql2pg_spark.sources.catalog import build_snapshot

    def run_query(q):
        if "information_schema.tables" in q:
            return [{"table_name": "sales", "table_comment": "",
                     "table_rows": 1000}]
        if "information_schema.columns" in q:
            return [
                {"table_name": "sales", "column_name": "id",
                 "column_type": "int", "is_nullable": "NO",
                 "column_default": None, "column_comment": "",
                 "extra": "auto_increment", "ordinal_position": 1,
                 "generation_expression": ""},
                {"table_name": "sales", "column_name": "sold_on",
                 "column_type": "date", "is_nullable": "NO",
                 "column_default": None, "column_comment": "",
                 "extra": "", "ordinal_position": 2,
                 "generation_expression": ""},
                {"table_name": "sales", "column_name": "status",
                 "column_type": "enum('new','done')",
                 "is_nullable": "YES", "column_default": "new",
                 "column_comment": "", "extra": "",
                 "ordinal_position": 3, "generation_expression": ""},
            ]
        if "information_schema.statistics" in q:
            return [{"table_name": "sales", "index_name": "idx_s",
                     "column_name": "status", "seq_in_index": 1,
                     "non_unique": 1, "index_type": "BTREE"}]
        if "constraint_name = 'PRIMARY'" in q:
            return [
                {"table_name": "sales", "column_name": "id",
                 "ordinal_position": 1},
                {"table_name": "sales", "column_name": "sold_on",
                 "ordinal_position": 2},
            ]
        if "referential_constraints" in q:
            return []
        if "information_schema.partitions" in q:
            return [
                {"table_name": "sales", "partition_name": n,
                 "partition_ordinal_position": i + 1,
                 "partition_method": "RANGE COLUMNS",
                 "partition_expression": "`sold_on`",
                 "partition_description": d}
                for i, (n, d) in enumerate(
                    [("p0", "'2020-01-01'"), ("pmax", "MAXVALUE")]
                )
            ]
        if "constraint_type = 'CHECK'" in q:
            return [{"table_name": "sales", "constraint_name": "c1",
                     "check_clause": "(`id` > 0)", "enforced": "YES"}]
        if "information_schema.views" in q:
            return [{"view_name": "v1",
                     "view_definition": "select id from sales"}]
        if "information_schema.parameters" in q:
            return [{"specific_name": "f1", "ordinal_position": 0,
                     "parameter_mode": None, "parameter_name": None,
                     "dtd_identifier": "int"}]
        if "information_schema.routines" in q:
            return [{"routine_name": "f1", "routine_type": "FUNCTION",
                     "routine_definition": "RETURN 1",
                     "return_type": "int", "is_deterministic": "YES"}]
        if "information_schema.triggers" in q:
            return [{"trigger_name": "tg", "action_timing": "BEFORE",
                     "event_manipulation": "INSERT",
                     "event_object_table": "sales",
                     "action_statement": "SET NEW.status = 'new'",
                     "action_order": 1}]
        if "information_schema.events" in q:
            return [{"event_name": "ev", "event_type": "RECURRING",
                     "interval_value": 1, "interval_field": "DAY",
                     "starts": None, "ends": None, "status": "ENABLED",
                     "event_comment": "",
                     "event_definition": "DELETE FROM sales"}]
        if "table_privileges" in q:
            return [{"grantee": "'app'@'%'", "table_name": "sales",
                     "privilege_type": "SELECT"}]
        raise AssertionError(f"unexpected query: {q}")

    snap = build_snapshot("db", run_query)
    (t,) = snap.tables
    assert t.row_count == 1000
    assert t.primary_key == ["id", "sold_on"]
    assert t.partition_def.startswith("PARTITION BY RANGE COLUMNS")
    assert t.checks == [("c1", "(`id` > 0)", True)]
    assert snap.views == {"v1": "select id from sales"}
    assert snap.functions[0].startswith("CREATE FUNCTION `f1`()")
    assert snap.triggers[0].startswith("CREATE TRIGGER `tg`")
    assert snap.events[0].startswith("CREATE EVENT `ev`")
    assert snap.table_privileges == [("'app'@'%'", "sales", "SELECT")]

    # and it PLANS like a dump snapshot: partition children, the enum
    # domain CHECK + the scanned CHECK, the event schedule
    actions = MigrationPipeline(EngineConfig(), snap).plan()
    stages = {}
    for a in actions:
        stages.setdefault(a.stage, []).append(a)
    tddl = " ".join(
        a.payload for a in stages["tableddl"] if a.kind == "ddl"
    )
    assert "PARTITION BY RANGE" in tddl
    assert "PARTITION OF sales" in tddl
    chk = [a.payload for a in stages["checks"] if a.kind == "ddl"]
    assert any('"id" > 0' in c for c in chk)
    assert any("status_enum_chk" in c for c in chk)
    ev = [a for a in stages["events"] if a.kind == "ddl"]
    assert ev and "cron.schedule('ev'" in ev[0].payload


def test_catalog_withheld_and_namespace_and_order_fidelity():
    """Review r13b closures: (a) a privilege-withheld routine body
    becomes a -- SKIP marker plan() surfaces verbatim (the old
    synthesized pseudo-DDL PARSED as a broken procedure); (b) a
    withheld view definition rides as None and plans a named skip;
    (c) same-named function+procedure keep separate parameter lists;
    (d) same-slot triggers chain FOLLOWS so MySQL's firing order
    survives PG's alphabetical dispatch; (e) READS SQL DATA maps to
    STABLE exactly like the dump path."""
    from mysql2pg_spark.config import EngineConfig
    from mysql2pg_spark.orchestrator import (
        CatalogSnapshot,
        MigrationPipeline,
    )
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import (
        build_spec_from_mysql,
        build_trigger_from_mysql,
    )
    from mysql2pg_spark.sources.catalog import (
        render_routine_ddl,
        render_trigger_ddl,
    )

    # (c) namespace separation
    params = [
        {"specific_name": "foo", "routine_type": "FUNCTION",
         "ordinal_position": 1, "parameter_mode": "IN",
         "parameter_name": "a", "dtd_identifier": "int"},
        {"specific_name": "foo", "routine_type": "PROCEDURE",
         "ordinal_position": 1, "parameter_mode": "IN",
         "parameter_name": "b", "dtd_identifier": "varchar(10)"},
    ]
    fn = render_routine_ddl(
        {"routine_name": "foo", "routine_type": "FUNCTION",
         "routine_definition": "RETURN a + 1", "return_type": "int",
         "is_deterministic": "NO",
         "sql_data_access": "READS SQL DATA"},
        params,
    )
    assert "(`a` int)" in fn and "varchar(10)" not in fn
    # (e) volatility parity with the dump path's characteristics text
    assert "READS SQL DATA" in fn
    assert "STABLE" in emit_plpgsql(build_spec_from_mysql(fn))
    proc = render_routine_ddl(
        {"routine_name": "foo", "routine_type": "PROCEDURE",
         "routine_definition": "BEGIN SET b = 'x'; END",
         "return_type": None, "is_deterministic": "NO"},
        params,
    )
    assert "(IN `b` varchar(10))" in proc and "`a` int" not in proc

    # (d) FOLLOWS chain activates the rename machinery
    ddl = render_trigger_ddl(
        {"trigger_name": "asecond", "action_timing": "BEFORE",
         "event_manipulation": "UPDATE", "event_object_table": "t",
         "action_statement": "SET NEW.x = 2", "action_order": 2},
        follows="zfirst",
    )
    assert "FOLLOWS `zfirst`" in ddl
    assert build_trigger_from_mysql(ddl).ordering == ("FOLLOWS", "zfirst")

    # (a)+(b) withheld bodies plan as NAMED skips, never broken DDL
    snap = CatalogSnapshot(
        views={"v_secret": None},
        functions=[
            "-- SKIP PROCEDURE hidden_p: routine_definition withheld "
            "by the source catalog (missing SHOW_ROUTINE privilege) — "
            "not migrated",
        ],
    )
    cfg = EngineConfig()
    cfg.options.view = True
    cfg.options.functions = True
    actions = MigrationPipeline(cfg, snap).plan()
    vskips = [a for a in actions if a.stage == "view" and a.kind == "skip"]
    assert vskips and "SHOW VIEW privilege" in vskips[0].payload
    fskips = [
        a for a in actions if a.stage == "functions" and a.kind == "skip"
    ]
    assert fskips and "SHOW_ROUTINE" in fskips[0].payload
    assert not any(
        a.kind == "ddl" and a.stage in ("view", "functions")
        for a in actions
    )


def test_live_fk_rules_normalize_no_action():
    """Round 14 (replay parity): MySQL's catalog stores the literal
    'NO ACTION' where the declared DDL omitted the referential action —
    the live grouper normalizes it to None so live FKs emit the same
    DDL text as dump-parsed ones; explicit CASCADE/RESTRICT/SET NULL
    pass through."""
    from mysql2pg_spark.sources.catalog import group_foreign_keys

    rows = [
        {"table_name": "t", "constraint_name": "fk1", "column_name": "a",
         "ordinal_position": 1, "referenced_table_name": "p",
         "referenced_column_name": "id",
         "delete_rule": "NO ACTION", "update_rule": "CASCADE"},
        {"table_name": "t", "constraint_name": "fk2", "column_name": "b",
         "ordinal_position": 1, "referenced_table_name": "p",
         "referenced_column_name": "id",
         "delete_rule": "RESTRICT", "update_rule": None},
    ]
    out = group_foreign_keys(rows)
    fk1, fk2 = out["t"]
    assert fk1.on_delete is None and fk1.on_update == "CASCADE"
    assert fk2.on_delete == "RESTRICT" and fk2.on_update is None


def test_executor_sink_lands_in_real_sqlite(spark, tmp_path):
    """Round 15 (VERDICT r14 ask #4): the B5 ``via="executors"``
    foreachPartition transport proven against a REAL database —
    sqlite3 (stdlib; accepts serialized multi-process writers under a
    busy timeout). Exercises the executor-side connection lifecycle
    the fake-cursor test cannot: a fresh connection per partition in a
    separate Python worker process, B4 batch chunking, one COMMIT per
    batch under real lock contention, close on completion — then the
    landed multiset equals the source exactly (no row lost, none
    duplicated)."""
    import sqlite3

    from mysql2pg_spark.sinks.dbapi_sink import write_dbapi

    db = str(tmp_path / "sink.db")
    init = sqlite3.connect(db)
    # WAL lets concurrent partition writers interleave; the busy
    # timeout serializes commits instead of failing fast
    init.execute("PRAGMA journal_mode=WAL")
    init.execute('CREATE TABLE "t" ("id" INTEGER, "name" TEXT, "amt" REAL)')
    init.commit()
    init.close()

    def conn_factory(path=db):
        return sqlite3.connect(path, timeout=60.0)

    df = (
        spark.range(0, 5000)
        .selectExpr(
            "id",
            "concat('n-', id) AS name",
            "cast(id AS double) / 7 AS amt",
        )
        .repartition(8)
    )
    write_dbapi(
        df, "t", conn_factory, paramstyle="qmark", batch_rows=512,
        via="executors",
    )

    con = sqlite3.connect(db)
    landed = sorted(con.execute('SELECT "id", "name", "amt" FROM "t"'))
    con.close()
    expected = sorted((i, f"n-{i}", i / 7) for i in range(5000))
    assert len(landed) == 5000
    assert landed == expected
