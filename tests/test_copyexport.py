"""Offline PostgreSQL artifact export (sinks/copyexport.py, round 13).

The encoder is verified by DECODING the emitted COPY text with an
independent Python implementation of PostgreSQL's documented COPY
text-format rules (escaped ``\\ \\t \\n \\r``, ``\\N`` NULLs, ``t/f``
booleans, ``\\x`` hex bytea) — so an encoder bug cannot self-confirm.
The artifact shape test runs the full export from a snapshot and lints
both schema halves with the same structural gate as the golden corpus.
"""

from __future__ import annotations

import os

import pytest


def _decode_copy_field(field: str):
    """PostgreSQL COPY text-format field → Python value (escape pass
    only; type interpretation is the caller's)."""
    if field == "\\N":
        return None
    out = []
    i = 0
    while i < len(field):
        ch = field[i]
        if ch == "\\" and i + 1 < len(field):
            nxt = field[i + 1]
            out.append({"t": "\t", "n": "\n", "r": "\r"}.get(nxt, nxt))
            i += 2
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def _read_copy_dir(path: str) -> list[list]:
    rows = []
    for part in sorted(os.listdir(path)):
        if not part.startswith("part-") or part.endswith(".crc"):
            continue
        with open(os.path.join(path, part), encoding="utf-8") as fh:
            for line in fh.read().splitlines():
                rows.append(
                    [_decode_copy_field(f) for f in line.split("\t")]
                )
    return rows


def test_copy_text_round_trip(spark, tmp_path):
    """Every COPY metacharacter class survives the encode→decode trip:
    embedded tab/newline/CR/backslash, NULLs, booleans, bytea hex,
    ISO temporals, decimals."""
    from pyspark.sql import Row

    from mysql2pg_spark.sinks.copyexport import write_pg_copy

    import datetime as dt
    from decimal import Decimal

    df = spark.createDataFrame([
        Row(i=1, s="plain", b=True, raw=b"\x01\xff",
            d=dt.date(2024, 2, 29),
            ts=dt.datetime(2024, 1, 2, 3, 4, 5),
            m=Decimal("12.34")),
        Row(i=2, s="tab\there\nand\rthere\\end", b=False, raw=None,
            d=None, ts=None, m=None),
        Row(i=3, s=None, b=None, raw=b"", d=dt.date(1, 1, 1),
            ts=dt.datetime(2024, 1, 1), m=Decimal("-0.01")),
    ], schema="i int, s string, b boolean, raw binary, d date, "
              "ts timestamp, m decimal(10,2)")
    out = str(tmp_path / "t.copy")
    write_pg_copy(df, out)
    rows = sorted(_read_copy_dir(out), key=lambda r: r[0])
    assert rows[0] == [
        "1", "plain", "t", "\\x01ff", "2024-02-29",
        "2024-01-02 03:04:05", "12.34",
    ]
    # the decoded field carries the REAL control characters — the file
    # itself never does (one line per row is structurally guaranteed)
    assert rows[1][1] == "tab\there\nand\rthere\\end"
    assert rows[1][2] == "f" and rows[1][3] is None
    assert rows[2][1] is None
    assert rows[2][3] == "\\x"          # empty bytea
    assert rows[2][6] == "-0.01"
    # raw file bytes: no unescaped metacharacters inside any field
    for part in os.listdir(out):
        if part.startswith("part-") and not part.endswith(".crc"):
            text = open(os.path.join(out, part), encoding="utf-8").read()
            for line in text.splitlines():
                for f in line.split("\t"):
                    assert "\n" not in f and "\r" not in f


def test_export_pg_dir_artifact_shape(spark, tmp_path):
    """Full artifact from a dump-built snapshot: partitioned parent +
    children land in schema_pre.sql, post-data stages (sequence
    resync, indexes, enum CHECK) in schema_post.sql, per-part \\copy
    lines exclude generated columns, and both schema halves pass the
    structural lint."""
    from mysql2pg_spark.config import EngineConfig
    from mysql2pg_spark.orchestrator import MigrationPipeline
    from mysql2pg_spark.schema.ddl_lint import lint_ddl
    from mysql2pg_spark.sinks.copyexport import export_pg_dir
    from mysql2pg_spark.sources.dumpfile import full_snapshot_from_dump

    dump = tmp_path / "src.sql"
    dump.write_text(
        "CREATE TABLE `sales` (\n"
        "  `id` int NOT NULL AUTO_INCREMENT,\n"
        "  `sold_on` date NOT NULL,\n"
        "  `qty` int DEFAULT 1,\n"
        "  `doubled` int GENERATED ALWAYS AS (`qty` * 2) STORED,\n"
        "  `status` enum('new','done') DEFAULT 'new',\n"
        "  PRIMARY KEY (`id`, `sold_on`),\n"
        "  KEY `idx_status` (`status`)\n"
        ") ENGINE=InnoDB\n"
        "/*!50100 PARTITION BY RANGE COLUMNS(sold_on)\n"
        "(PARTITION p0 VALUES LESS THAN ('2024-01-01'),\n"
        " PARTITION pmax VALUES LESS THAN (MAXVALUE)) */;\n"
    )
    snap = full_snapshot_from_dump(spark, str(dump))
    pipe = MigrationPipeline(EngineConfig(), snap)

    def loader(name):
        assert name == "sales"
        return spark.createDataFrame(
            [(1, "2023-06-01", 2, 4, "new"), (2, "2024-06-01", 3, 6, "done")],
            schema="id int, sold_on string, qty int, doubled int, "
                   "status string",
        ).selectExpr(
            "id", "cast(sold_on as date) sold_on", "qty", "doubled",
            "status",
        )

    out = str(tmp_path / "artifact")
    result = export_pg_dir(pipe, out, loader)
    assert result["tables"] == ["sales"]

    pre = open(os.path.join(out, "schema_pre.sql")).read()
    post = open(os.path.join(out, "schema_post.sql")).read()
    assert "CREATE TABLE IF NOT EXISTS sales" in pre
    assert "PARTITION BY RANGE" in pre
    assert "PARTITION OF sales" in pre
    assert "GENERATED ALWAYS AS" in pre
    assert "setval(pg_get_serial_sequence('sales', 'id')" in post
    assert "idx_status" in post
    assert "status_enum_chk" in post
    assert lint_ddl(pre) == []
    assert lint_ddl(post) == []

    load = open(result["load_script"]).read()
    assert "\\i schema_pre.sql" in load
    assert "\\i schema_post.sql" in load
    # generated column excluded from both the data and the column list
    assert '"doubled"' not in load
    copy_lines = [l for l in load.splitlines() if l.startswith("\\copy")]
    assert copy_lines, load
    assert all(
        l.startswith(
            '\\copy "sales" ("id", "sold_on", "qty", "status") from '
        )
        for l in copy_lines
    )
    # the data decodes to the loaded rows, generated column absent
    rows = sorted(_read_copy_dir(os.path.join(out, "sales.copy")))
    assert rows == [
        ["1", "2023-06-01", "2", "new"],
        ["2", "2024-06-01", "3", "done"],
    ]


def test_cli_pgexport_mode(spark, tmp_path, capsys):
    """CLI smoke: --mode pgexport from a dump file emits the artifact
    and prints the result JSON."""
    import json

    import yaml

    from mysql2pg_spark.__main__ import main

    dump = tmp_path / "d.sql"
    dump.write_text(
        "CREATE TABLE `t1` (\n"
        "  `a` int NOT NULL,\n"
        "  `b` varchar(10)\n"
        ");\n"
        "INSERT INTO `t1` VALUES (1,'x'),(2,'y\\ttab');\n"
    )
    cfgp = tmp_path / "cfg.yml"
    cfgp.write_text(yaml.safe_dump({
        "mysql": {"host": "h", "database": "d"},
        "postgresql": {"host": "p", "database": "d"},
        "conversion": {"options": {}, "limits": {}},
    }))
    out = tmp_path / "pgout"
    rc = main([
        "-c", str(cfgp), "--mode", "pgexport",
        "--dump-file", str(dump), "--pg-out", str(out),
    ])
    assert rc == 0
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert result["tables"] == ["t1"]
    rows = sorted(_read_copy_dir(str(out / "t1.copy")))
    assert rows == [["1", "x"], ["2", "y\ttab"]]


def test_export_honors_selection_and_normalizes_case(spark, tmp_path):
    """Review r13c: the data loop honors the config's include/exclude
    selection (an excluded table must not get a \\copy line pointing
    at a CREATE the schema never ran), and mixed-case source columns
    normalize before the value-fix/generated/column-list logic."""
    from mysql2pg_spark.config import EngineConfig
    from mysql2pg_spark.orchestrator import (
        CatalogSnapshot,
        ColumnMeta,
        MigrationPipeline,
        TableMeta,
    )
    from mysql2pg_spark.sinks.copyexport import export_pg_dir

    snap = CatalogSnapshot(tables=[
        TableMeta(
            name="Keep",
            columns=[
                ColumnMeta(name="Id", column_type="int", nullable=False),
                ColumnMeta(name="Qty", column_type="int"),
                ColumnMeta(name="Doubled", column_type="int",
                           generated_expr="`Qty` * 2",
                           generated_stored=True),
            ],
            primary_key=["Id"],
        ),
        TableMeta(
            name="audit_log",
            columns=[ColumnMeta(name="x", column_type="int")],
        ),
    ])
    cfg = EngineConfig()
    cfg.options.exclude_use_table_list = True
    cfg.options.exclude_table_list = ["audit_log"]
    pipe = MigrationPipeline(cfg, snap)

    def loader(name):
        assert name == "Keep"  # the excluded table is never loaded
        return spark.createDataFrame(
            [(1, 2, 4)], schema="Id int, Qty int, Doubled int"
        )

    out = str(tmp_path / "artifact")
    result = export_pg_dir(pipe, out, loader)
    assert result["tables"] == ["keep"]
    load = open(result["load_script"]).read()
    assert "audit_log" not in load
    pre = open(os.path.join(out, "schema_pre.sql")).read()
    assert "audit_log" not in pre
    # normalized, generated-excluded column list
    copy_lines = [l for l in load.splitlines() if l.startswith("\\copy")]
    assert all(
        l.startswith('\\copy "keep" ("id", "qty") from ')
        for l in copy_lines
    )
    rows = sorted(_read_copy_dir(os.path.join(out, "keep.copy")))
    assert rows == [["1", "2"]]


def test_pgexport_artifact_loads_into_engine_matching_live_checksums(
    spark, tmp_path
):
    """Round 14 (VERDICT r13 ask #2): the offline artifact round-trips
    through a REAL engine. The reference fixture corpus' seeded tables
    are migrated twice — once through the LIVE execute() path into
    DuckDB A, once exported as the pgexport artifact and then ingested
    into DuckDB B exactly as ``load.sql`` prescribes (``\\copy`` lines
    decide which part files feed which columns; the COPY text decodes
    through the INDEPENDENT decoder, never the encoder) — and every
    table's full-column order-insensitive checksum must agree between
    the two engines."""
    import re

    import duckdb
    import yaml

    from mysql2pg_spark.config import load_config
    from mysql2pg_spark.operators.validate import table_checksum
    from mysql2pg_spark.orchestrator import MigrationPipeline
    from mysql2pg_spark.runlog import RunLogger
    from mysql2pg_spark.sinks.copyexport import export_pg_dir
    from mysql2pg_spark.sinks.dbapi_sink import make_dbapi_writer
    from mysql2pg_spark.sources.dumpfile import (
        dump_read_schemas,
        iter_sql_statements,
        snapshot_from_dump,
    )
    from mysql2pg_spark.sources.loaddata import load_data_source_reader

    TABLES = "/root/reference/scripts/mysql/create_table.sql"
    SEED = "/root/reference/scripts/mysql/insert_data.sql"

    snap = snapshot_from_dump(spark, [TABLES])
    schemas = dump_read_schemas(snap)
    seeded = sorted({
        mo.group(1).lower()
        for stmt in iter_sql_statements(open(SEED).read())
        if (mo := re.match(r"(?is)^\s*INSERT\s+INTO\s+`?(\w+)`?", stmt))
    })
    assert len(seeded) >= 5

    def _cfg(name, options):
        p = tmp_path / name
        p.write_text(yaml.safe_dump({
            "mysql": {"host": "h", "database": "d"},
            "postgresql": {"host": "p", "database": "d"},
            "conversion": {
                "options": options,
                "limits": {"concurrency": 2, "max_rows_per_batch": 100},
            },
        }))
        cfg = load_config(str(p))
        cfg.options.table_list = seeded
        cfg.options.use_table_list = True
        return cfg

    stages_off = {
        "view": False, "indexes": False, "functions": False,
        "triggers": False, "users": False, "table_privileges": False,
        "foreign_keys": False, "validate_data": False,
    }

    read_seed = load_data_source_reader(SEED, schemas)

    def loader(name):
        return read_seed(spark, {"table": name})

    # ---- side A: LIVE migration (DDL + data) into engine A ----
    con_live = duckdb.connect()
    live = MigrationPipeline(_cfg("live.yml", dict(stages_off)), snap)
    live.execute(
        spark,
        con_live,
        source_reader=lambda sp, plan: loader(plan["table"]),
        sink_writer=make_dbapi_writer(
            con_live.cursor, paramstyle="qmark", via="driver"
        ),
        dest_reader=lambda sp, t: None,
        logger=RunLogger(str(tmp_path / "logs_live")),
        target_dialect="duckdb",
    )

    # ---- side B: offline artifact, then ingest per load.sql ----
    out = str(tmp_path / "artifact")
    exported = export_pg_dir(
        MigrationPipeline(_cfg("export.yml", dict(stages_off)), snap),
        out, loader,
    )
    assert sorted(exported["tables"]) == seeded
    pre = open(os.path.join(out, "schema_pre.sql")).read()
    for t in seeded:
        assert f"CREATE TABLE IF NOT EXISTS {t}" in pre

    con_art = duckdb.connect()
    MigrationPipeline(
        _cfg("art_ddl.yml", dict(stages_off, data=False)), snap
    ).execute(
        spark,
        con_art,
        source_reader=lambda sp, plan: None,
        sink_writer=lambda df, t: None,
        dest_reader=lambda sp, t: None,
        logger=RunLogger(str(tmp_path / "logs_art")),
        target_dialect="duckdb",
    )

    copy_re = re.compile(
        r'^\\copy "(\w+)" \(([^)]*)\) from \'([^\']+)\' '
        r"with \(format text\)$"
    )
    copy_cols: dict[str, list[str]] = {}
    for line in open(exported["load_script"]).read().splitlines():
        if not line.startswith("\\copy"):
            continue
        mo = copy_re.match(line)
        assert mo, line
        t, collist, rel = mo.group(1), mo.group(2), mo.group(3)
        cols = [c.strip().strip('"') for c in collist.split(",")]
        prev = copy_cols.setdefault(t, cols)
        assert prev == cols  # every part of a table shares one list
        rows = []
        with open(os.path.join(out, rel), encoding="utf-8") as fh:
            for ln in fh.read().splitlines():
                fields = ln.split("\t")
                assert len(fields) == len(cols), (t, ln)
                rows.append([_decode_copy_field(f) for f in fields])
        if not rows:
            continue
        # typed ingest: decoded text → VARCHAR staging → CAST into the
        # real columns (bytea '\x<hex>' → BLOB via unhex)
        types = dict(con_art.execute(
            "SELECT column_name, data_type FROM information_schema"
            ".columns WHERE table_name = ?", [t]
        ).fetchall())
        stage_cols = ", ".join('"%s" VARCHAR' % c for c in cols)
        con_art.execute(
            "CREATE OR REPLACE TEMP TABLE _staging (%s)" % stage_cols
        )
        marks = ", ".join("?" for _ in cols)
        con_art.executemany(
            "INSERT INTO _staging VALUES (%s)" % marks, rows
        )
        exprs = []
        for c in cols:
            dt = types[c]
            if dt == "BLOB":
                exprs.append(
                    'CASE WHEN "%s" IS NULL THEN NULL '
                    'ELSE unhex(substr("%s", 3)) END' % (c, c)
                )
            else:
                exprs.append('CAST("%s" AS %s)' % (c, dt))
        target_cols = ", ".join('"%s"' % c for c in cols)
        con_art.execute(
            'INSERT INTO "%s" (%s) SELECT %s FROM _staging'
            % (t, target_cols, ", ".join(exprs))
        )

    # ---- the proof: per-table checksums agree engine-to-engine ----
    assert set(copy_cols) == set(seeded)
    mismatched = []
    total_rows = 0
    for t in seeded:
        collist = ", ".join('"%s"' % c for c in copy_cols[t])
        sides = []
        for con in (con_live, con_art):
            df = spark.createDataFrame(
                con.execute(
                    'SELECT %s FROM "%s"' % (collist, t)
                ).fetch_arrow_table()
            )
            sides.append(table_checksum(df).collect()[0].asDict())
        if sides[0] != sides[1]:
            mismatched.append((t, sides[0], sides[1]))
        total_rows += int(sides[0]["n_rows"])
    assert not mismatched, mismatched
    assert total_rows >= 20  # real data moved, not a vacuous pass
