"""mysqldump file source: tokenizer edge cases + distributed read."""

from __future__ import annotations

import pytest

from mysql2pg_spark.sources.dumpfile import (
    read_dump_inserts,
    scan_dump_tables,
    split_tuples,
)

DUMP = """-- MySQL dump 10.13
/*!40101 SET NAMES utf8mb4 */;
DROP TABLE IF EXISTS `users`;
CREATE TABLE `users` (
  `id` bigint NOT NULL,
  `name` varchar(50) DEFAULT NULL,
  `note` text,
  `score` double DEFAULT NULL
);
INSERT INTO `users` VALUES (1,'alice','plain',1.5),(2,'bo)b','has ),( inside',-2.25);
INSERT INTO `users` VALUES (3,NULL,'quote '' doubled',0),(4,'tab\\there','back\\\\slash',1e2);
INSERT INTO `orders` VALUES (10,'other table');
"""


def test_split_tuples_edges():
    rows = split_tuples(
        "(1,'a,b','c)d',NULL),(2,'it''s','x\\'y',-3)"
    )
    assert rows == [
        ["1", "a,b", "c)d", None],
        ["2", "it's", "x'y", "-3"],
    ]


def test_split_tuples_escapes():
    (row,) = split_tuples(r"(1,'l1\nl2','t\tab','100\%')")
    assert row == ["1", "l1\nl2", "t\tab", r"100\%"]


def test_split_tuples_hex_and_binary_literals():
    """mysqldump --hex-blob / _binary spellings (reference corpus blob
    tables, scripts/mysql/create_table.sql:267-277): 0x... and X'...'
    decode to bytes, _charset/N introducers are stripped, b'...' bit
    literals decode big-endian."""
    (row,) = split_tuples(
        "(1,0xDEADBEEF,X'1f2A',_binary 'abc',_utf8mb4'héllo',N'nat',b'100000001',0x)"
    )
    assert row == [
        "1",
        bytes.fromhex("deadbeef"),
        bytes.fromhex("1f2a"),
        "abc",
        "héllo",
        "nat",
        (0b100000001).to_bytes(2, "big"),
        b"",
    ]
    # odd-length hex literal is left-padded like MySQL
    (row,) = split_tuples("(0xF)")
    assert row == [b"\x0f"]
    # a QUOTED string that merely looks like hex stays text
    (row,) = split_tuples("('0xDEAD')")
    assert row == ["0xDEAD"]


def test_read_dump_inserts_blob_roundtrip(spark, tmp_path):
    """A --hex-blob style dump of a binary table arrives byte-exact
    through the mapInPandas path; hex feeding a TEXT column decodes as
    UTF-8 (MySQL cast-to-charset behavior)."""
    p = tmp_path / "blob.sql"
    p.write_text(
        "INSERT INTO `files` VALUES "
        "(1,0x00FF10,_binary 'ab\\'c'),(2,NULL,0x68690a);\n"
    )
    rows = {
        r.id: r
        for r in read_dump_inserts(
            spark, str(p), "files", "id bigint, payload binary, note string"
        ).collect()
    }
    assert bytes(rows[1].payload) == b"\x00\xff\x10"
    assert rows[1].note == "ab'c"
    assert rows[2].payload is None
    assert rows[2].note == "hi\n"


def test_read_dump_inserts_column_list(spark, tmp_path):
    """--complete-insert column lists reorder against the schema;
    unlisted columns become NULL."""
    p = tmp_path / "ci.sql"
    p.write_text(
        "INSERT INTO `users` (`name`, `id`) VALUES ('ada', 7), ('bob', 8);\n"
        "INSERT INTO users (id, score) VALUES (9, 1.5);\n"
        "INSERT INTO `users` VALUES (10,'carol','x',2.5);\n"
    )
    rows = {
        r.id: r
        for r in read_dump_inserts(
            spark,
            str(p),
            "users",
            "id bigint, name string, note string, score double",
        ).collect()
    }
    assert rows[7].name == "ada" and rows[7].note is None
    assert rows[8].name == "bob"
    assert rows[9].name is None and rows[9].score == 1.5
    assert rows[10].name == "carol" and rows[10].note == "x"


#: One dump holding every case the two INSERT paths of
#: load_data_source_reader must agree on.
PARITY_DUMP = """-- Host: localhost    Database: shop
INSERT INTO `ml` VALUES (1,'a'),(2,'b');
INSERT INTO `ml` VALUES
(3,'c'),
(4,'d');
DELIMITER ;;
CREATE TRIGGER trg AFTER INSERT ON ml FOR EACH ROW BEGIN
INSERT INTO `audit` VALUES (NEW.id,'trigger');
END ;;
DELIMITER ;
INSERT INTO `audit` VALUES (100,'row');
INSERT INTO config_values (a, b) VALUES (1,'x'),(2,'y');
INSERT INTO `zd` VALUES (1,'0000-00-00','0000-00-00 00:00:00'),(2,'2024-02-29','2024-02-29 12:00:00');
INSERT IGNORE INTO `verbs` VALUES (1,'i');
REPLACE INTO `verbs` VALUES (2,'r');
REPLACE INTO verbs (name, id) VALUES ('c', 3);
INSERT INTO `bin` VALUES (1,0x00FF10,_binary 'ab\\'c'),(2,NULL,0x68690a);
INSERT INTO `sel` SELECT * FROM `ml`;
INSERT INTO `upsert` VALUES (1,'x') ON DUPLICATE KEY UPDATE v=VALUES(v);
INSERT INTO shop.q VALUES (1,'own');
INSERT INTO `shop`.`q` VALUES (2,'own quoted');
INSERT INTO archive.old VALUES (1,'foreign');
"""

PARITY_CASES = {
    # name: (table, schema, rows); None is a refusal naming the table
    # as not a VALUES list, a string a refusal naming it with that text
    "multiline": (
        "ml", "id bigint, v string", [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
    ),
    "delimiter_trigger": ("audit", "id bigint, src string", [(100, "row")]),
    "config_values": (
        "config_values", "a bigint, b string", [(1, "x"), (2, "y")]
    ),
    "zero_date": ("zd", "id bigint, d date, ts timestamp", "zero dates"),
    "ignore_replace": (
        "verbs", "id bigint, name string", [(1, "i"), (2, "r"), (3, "c")]
    ),
    "binary": (
        "bin", "id bigint, payload binary, note string",
        [(1, b"\x00\xff\x10", "ab'c"), (2, None, "hi\n")],
    ),
    "insert_select": ("sel", "id bigint, v string", None),
    "on_duplicate": ("upsert", "v string, w string", "not a row"),
    "qualified": ("q", "id bigint, v string", [(1, "own"), (2, "own quoted")]),
    "foreign_qualifier": ("old", "id bigint, v string", "`archive`.`old`"),
}
#: read line by line, an INSERT spread over several lines is refused
LINE_PATH_REFUSES = {"multiline"}


@pytest.mark.parametrize("case", sorted(PARITY_CASES))
def test_dump_paths_agree(spark, tmp_path, monkeypatch, case):
    """The driver-side statement pass (dumps up to SMALL_DUMP_BYTES) and
    the line path (every bigger dump) read the same dump to the same
    rows, or the line path fails the table by name; neither drops rows
    silently."""
    import datetime

    from mysql2pg_spark.sources import dumpfile
    from mysql2pg_spark.sources.loaddata import load_data_source_reader

    table, schema, rows = PARITY_CASES[case]
    if rows == "zero dates":  # read as NULL
        ts = spark.sql("SELECT TIMESTAMP'2024-02-29 12:00:00'").first()[0]
        rows = [(1, None, None), (2, datetime.date(2024, 2, 29), ts)]
    p = tmp_path / "parity.sql"
    p.write_text(PARITY_DUMP)

    def read():
        reader = load_data_source_reader(str(p), {table: schema})
        return sorted(
            tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
            for r in reader(spark, {"table": table}).collect()
        )

    for line_path in (False, True):
        if line_path:
            monkeypatch.setattr(dumpfile, "SMALL_DUMP_BYTES", 0)
        if rows is None or (line_path and case in LINE_PATH_REFUSES):
            with pytest.raises(Exception, match=f"`{table}`.*not a VALUES"):
                read()
        elif isinstance(rows, str):
            with pytest.raises(Exception, match=f"table `{table}`.*{rows}"):
                read()
        else:
            assert read() == rows


def test_small_dump_fires_no_job_before_its_rows(spark, tmp_path):
    """A small local dump's DELIMITER sections, LOAD DATA statements and
    own database come from the driver-side pass that reads its rows:
    building the factory's frame runs no Spark job."""
    from mysql2pg_spark.sources.loaddata import load_data_source_reader

    (tmp_path / "t.tsv").write_text("3\tc\n")
    p = tmp_path / "small.sql"
    p.write_text(
        "USE `shop`;\n"
        "INSERT INTO `t` VALUES (1,'a');\n"
        "INSERT INTO shop.t VALUES (2,'b');\n"
        "LOAD DATA INFILE 't.tsv' INTO TABLE `t`;\n"
        "DELIMITER ;;\n"
        "CREATE TRIGGER g AFTER INSERT ON t FOR EACH ROW BEGIN\n"
        "INSERT INTO `t` VALUES (NEW.id,'trigger');\n"
        "END ;;\n"
        "DELIMITER ;\n"
    )
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    reader = load_data_source_reader(str(p), {"t": "id bigint, v string"})
    df = reader(spark, {"table": "t"})
    assert set(tracker.getJobIdsForGroup(None)) == before
    assert sorted(df.collect()) == [(1, "a"), (2, "b"), (3, "c")]


def test_dump_verbs_insert_ignore_and_replace(spark, tmp_path):
    """mysqldump --insert-ignore / --replace emit different row verbs;
    all three spellings must load (previously they silently yielded 0
    rows) and count in the inventory."""
    p = tmp_path / "verbs.sql"
    p.write_text(
        "INSERT INTO `t` VALUES (1,'a');\n"
        "INSERT IGNORE INTO `t` VALUES (2,'b');\n"
        "REPLACE INTO `t` VALUES (3,'c');\n"
        "REPLACE INTO t (id, name) VALUES (4,'d');\n"
    )
    df = read_dump_inserts(spark, str(p), "t", "id bigint, name string")
    assert {r.id: r.name for r in df.collect()} == {
        1: "a", 2: "b", 3: "c", 4: "d"
    }

    inv = {r.table: r.n_insert_lines
           for r in scan_dump_tables(spark, str(p)).collect()}
    assert inv == {"t": 4}


def test_gzipped_dump_both_paths(spark, tmp_path):
    """A .gz dump decompresses via the JVM codec on the line path and
    via gzip on the driver-side statement pass."""
    import gzip

    from mysql2pg_spark.sources import dumpfile
    from mysql2pg_spark.sources.loaddata import load_data_source_reader

    p = tmp_path / "dump.sql.gz"
    body = "".join(
        f"INSERT INTO `t` VALUES ({i},'n{i}');\n" for i in range(200)
    )
    with gzip.open(p, "wt") as fh:
        fh.write(body)

    df = read_dump_inserts(spark, str(p), "t", "id bigint, name string")
    assert df.count() == 200

    assert dumpfile.read_small_dump(str(p)) is not None
    reader = load_data_source_reader(str(p), {"t": "id bigint, name string"})
    rows = {r.id: r.name for r in reader(spark, {"table": "t"}).collect()}
    assert len(rows) == 200 and rows[199] == "n199"


def test_read_dump_inserts(spark, tmp_path):
    p = tmp_path / "dump.sql"
    p.write_text(DUMP)
    df = read_dump_inserts(
        spark,
        str(p),
        "users",
        "id bigint, name string, note string, score double",
    )
    rows = {r.id: r for r in df.collect()}
    assert set(rows) == {1, 2, 3, 4}  # the orders line is filtered JVM-side
    assert rows[2].name == "bo)b" and rows[2].note == "has ),( inside"
    assert rows[2].score == -2.25
    assert rows[3].name is None and rows[3].note == "quote ' doubled"
    assert rows[4].name == "tab\there" and rows[4].note == "back\\slash"
    assert rows[4].score == 100.0  # 1e2 cast JVM-side


def test_scan_dump_tables(spark, tmp_path):
    p = tmp_path / "dump.sql"
    p.write_text(DUMP)
    inv = {r.table: r.n_insert_lines for r in scan_dump_tables(spark, str(p)).collect()}
    assert inv == {"users": 2, "orders": 1}


def test_execute_migration_from_dump(spark, tmp_path):
    """Full pipeline (plan → DDL → sync → validate) with the dump file as
    the source: proves a dump-file migration swaps ONLY the source seam."""
    import yaml

    from mysql2pg_spark.config import load_config
    from mysql2pg_spark.orchestrator import (
        CatalogSnapshot,
        ColumnMeta,
        MigrationPipeline,
        TableMeta,
    )
    from mysql2pg_spark.runlog import RunLogger
    from mysql2pg_spark.sources.loaddata import load_data_source_reader
    from tests.test_orchestrator import _FakeConn

    dump = tmp_path / "dump.sql"
    dump.write_text(
        "INSERT INTO `users` VALUES (1,'alice','plain',1.5),"
        "(2,'bo)b','x',-2.25);\n"
        "INSERT INTO `users` VALUES (3,NULL,'y',0);\n"
    )
    cfgp = tmp_path / "c.yml"
    cfgp.write_text(
        yaml.safe_dump(
            {
                "mysql": {"host": "h", "database": "d"},
                "postgresql": {"host": "p", "database": "d"},
                "conversion": {
                    "options": {},
                    "limits": {"concurrency": 2, "max_rows_per_batch": 100},
                },
            }
        )
    )
    snap = CatalogSnapshot(
        tables=[
            TableMeta(
                name="users",
                columns=[
                    ColumnMeta("id", "bigint", False),
                    ColumnMeta("name", "varchar(50)"),
                    ColumnMeta("note", "text"),
                    ColumnMeta("score", "double"),
                ],
                primary_key=["id"],
                row_count=3,
                pk_bounds=(1, 3),
            )
        ]
    )
    sink = tmp_path / "pg"
    result = MigrationPipeline(load_config(str(cfgp)), snap).execute(
        spark,
        _FakeConn(),
        source_reader=load_data_source_reader(
            str(dump),
            {"users": "id bigint, name string, note string, score double"},
        ),
        sink_writer=lambda df, table: df.write.mode("overwrite").parquet(
            str(sink / table)
        ),
        dest_reader=lambda sp, table: sp.read.parquet(str(sink / table)),
        logger=RunLogger(str(tmp_path / "logs")),
    )
    assert result["synced"] == {"users": 3}
    assert result["validation"]["users"]["consistent"] is True


REAL_DUMP = """-- MySQL dump 10.13  Distrib 8.0.32
/*!40101 SET NAMES utf8mb4 */;
DROP TABLE IF EXISTS `customers`;
CREATE TABLE `customers` (
  `id` bigint NOT NULL AUTO_INCREMENT,
  `name` varchar(100) NOT NULL,
  `balance` decimal(10,2) DEFAULT '0.00',
  `joined` datetime DEFAULT NULL COMMENT 'signup ''moment''',
  PRIMARY KEY (`id`),
  UNIQUE KEY `uq_name` (`name`),
  KEY `ix_joined` (`joined`,`name`(10))
) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4;
INSERT INTO `customers` VALUES (1,'ada',10.50,'2024-01-01 09:00:00'),(2,'bob',NULL,NULL);
DROP TABLE IF EXISTS `tags`;
CREATE TABLE `tags` (
  `tag` varchar(20) NOT NULL,
  PRIMARY KEY (`tag`)
);
INSERT INTO `tags` VALUES ('x'),('y');
"""


def test_snapshot_from_dump(spark, tmp_path):
    from mysql2pg_spark.sources.dumpfile import (
        dump_read_schemas,
        snapshot_from_dump,
    )

    p = tmp_path / "full.sql"
    p.write_text(REAL_DUMP)
    snap = snapshot_from_dump(spark, str(p))
    by_name = {t.name: t for t in snap.tables}
    assert set(by_name) == {"customers", "tags"}
    c = by_name["customers"]
    cols = {x.name: x for x in c.columns}
    assert cols["id"].auto_increment and not cols["id"].nullable
    assert cols["balance"].column_type == "decimal(10,2)"
    assert cols["balance"].default == "0.00"
    assert cols["joined"].comment == "signup 'moment'"
    assert c.primary_key == ["id"]
    assert [(i.name, i.columns, i.unique) for i in c.indexes] == [
        ("uq_name", ["name"], True),
        ("ix_joined", ["joined", "name"], False),
    ]
    schemas = dump_read_schemas(snap)
    assert [f.dataType.simpleString() for f in schemas["customers"].fields] == [
        "bigint", "string", "decimal(10,2)", "timestamp"
    ]


def test_full_offline_migration_from_dump_only(spark, tmp_path):
    """The capstone: snapshot + schemas + data ALL from one dump file —
    plan, DDL emission, sync, and checksum validation with zero
    hand-written metadata."""
    import yaml

    from mysql2pg_spark.config import load_config
    from mysql2pg_spark.orchestrator import MigrationPipeline
    from mysql2pg_spark.runlog import RunLogger
    from mysql2pg_spark.sources.dumpfile import (
        dump_read_schemas,
        snapshot_from_dump,
    )
    from mysql2pg_spark.sources.loaddata import load_data_source_reader
    from tests.test_orchestrator import _FakeConn

    p = tmp_path / "full.sql"
    p.write_text(REAL_DUMP)
    cfgp = tmp_path / "c.yml"
    cfgp.write_text(
        yaml.safe_dump(
            {
                "mysql": {"host": "h", "database": "d"},
                "postgresql": {"host": "p", "database": "d"},
                "conversion": {
                    "options": {},
                    "limits": {"concurrency": 2, "max_rows_per_batch": 100},
                },
            }
        )
    )
    snap = snapshot_from_dump(spark, str(p))
    sink = tmp_path / "pg"
    conn = _FakeConn()
    result = MigrationPipeline(load_config(str(cfgp)), snap).execute(
        spark,
        conn,
        source_reader=load_data_source_reader(
            str(p), dump_read_schemas(snap)
        ),
        sink_writer=lambda df, table: df.write.mode("overwrite").parquet(
            str(sink / table)
        ),
        dest_reader=lambda sp, table: sp.read.parquet(str(sink / table)),
        logger=RunLogger(str(tmp_path / "logs")),
    )
    assert result["synced"] == {"customers": 2, "tags": 2}
    assert all(v["consistent"] for v in result["validation"].values())
    # DDL actually emitted through the connection, incl. the index stage
    executed = " ".join(conn.executed)
    assert "CREATE TABLE" in executed and "customers" in executed
    assert "CREATE UNIQUE INDEX" in executed or "uq_name" in executed


def test_quoted_default_with_apostrophe_undoubled(spark, tmp_path):
    from mysql2pg_spark.sources.dumpfile import snapshot_from_dump

    p = tmp_path / "d.sql"
    p.write_text(
        "CREATE TABLE `n` (\n"
        "  `id` bigint NOT NULL,\n"
        "  `note` varchar(20) DEFAULT 'it''s',\n"
        "  PRIMARY KEY (`id`)\n"
        ");\n"
    )
    snap = snapshot_from_dump(spark, str(p))
    col = {c.name: c for c in snap.tables[0].columns}["note"]
    assert col.default == "it's"
    from mysql2pg_spark.sinks.ddl import default_sql

    assert default_sql(col.default) == "'it''s'"


def test_comment_text_never_fabricates_column_semantics(spark, tmp_path):
    """DEFAULT/NOT NULL/AUTO_INCREMENT are parsed with the COMMENT
    literal excised — comment prose must not leak into semantics."""
    from mysql2pg_spark.sources.dumpfile import snapshot_from_dump

    p = tmp_path / "c.sql"
    p.write_text(
        "CREATE TABLE `n` (\n"
        "  `id` bigint NOT NULL,\n"
        "  `x` int COMMENT 'default 5 when not null auto_increment',\n"
        "  PRIMARY KEY (`id`)\n"
        ");\n"
    )
    snap = snapshot_from_dump(spark, str(p))
    col = {c.name: c for c in snap.tables[0].columns}["x"]
    assert col.default is None
    assert col.nullable is True
    assert col.auto_increment is False
    assert col.comment == "default 5 when not null auto_increment"


def test_triple_quote_default_round_trips():
    """A default whose VALUE is wrapped in apostrophes ('''x''' -> 'x')
    must still be quoted by default_sql, not emitted raw."""
    from mysql2pg_spark.sinks.ddl import default_sql

    assert default_sql("'x'") == "'''x'''"


def test_functions_from_sql_mysqldump_header_before_delimiter(tmp_path):
    """mysqldump --routines puts a `-- ` header block and blank lines
    before each DELIMITER directive; those preamble lines must not start
    a buffered statement (which would stop the directive from matching
    and silently split every later function on the stale delimiter)."""
    from mysql2pg_spark.sources.dumpfile import functions_from_sql

    p = tmp_path / "routines.sql"
    p.write_text(
        "--\n"
        "-- Dumping routines for database 'shop'\n"
        "--\n"
        "\n"
        "DELIMITER ;;\n"
        "CREATE FUNCTION f1(n INT) RETURNS INT\n"
        "BEGIN\n"
        "  RETURN n + 1;\n"
        "END ;;\n"
        "\n"
        "-- another header\n"
        "DELIMITER ;\n"
        "SELECT 1;\n"
    )
    fns = functions_from_sql(str(p))
    assert len(fns) == 1
    assert "f1" in fns[0] and "RETURN n + 1;" in fns[0]


def test_strip_line_comment_requires_whitespace_after_dashes():
    """MySQL only treats `-- ` (dash dash whitespace/EOL) as a comment:
    `n--1` is n minus negative one and must survive intact."""
    from mysql2pg_spark.sources.dumpfile import _strip_line_comment

    assert _strip_line_comment("DEFAULT 5 -- note") == "DEFAULT 5 "
    assert _strip_line_comment("DEFAULT n--1") == "DEFAULT n--1"
    assert _strip_line_comment("DEFAULT 5 --") == "DEFAULT 5 "
    assert _strip_line_comment("DEFAULT '--x' -- c") == "DEFAULT '--x' "


def test_conditional_comments_keep_views_and_drop_plain_comments(tmp_path):
    """mysqldump wraps EVERY view in /*!50001 … */ conditional comments
    (version-gated code, not commentary) and precedes it with a
    placeholder CREATE TABLE in the same wrappers. The statement scan
    must unwrap the markers and keep the content — otherwise real-dump
    views are silently dropped — while plain /* … */ comments still
    vanish and `--` only comments when followed by whitespace/EOL."""
    from mysql2pg_spark.sources.dumpfile import (
        iter_sql_statements,
        views_from_sql,
    )

    dump = tmp_path / "views.sql"
    dump.write_text(
        "/* plain comment ; with a semicolon */\n"
        "-- mysqldump header\n"
        "/*!50001 DROP VIEW IF EXISTS `v_top` */;\n"
        "/*!50001 CREATE TABLE `v_top` (\n"
        "  `id` bigint\n"
        ") ENGINE=MyISAM */;\n"
        "/*!50001 DROP TABLE IF EXISTS `v_top` */;\n"
        "/*!50001 CREATE ALGORITHM=UNDEFINED */\n"
        "/*!50013 DEFINER=`root`@`localhost` SQL SECURITY DEFINER */\n"
        "/*!50001 VIEW `v_top` AS select `t`.`id` AS `id`, "
        "`t`.`a`--1 AS `b` from `t` */;\n"
    )
    views = views_from_sql(str(dump))
    assert list(views) == ["v_top"]
    assert "select `t`.`id` AS `id`" in views["v_top"]
    # the `--1` expression survived (MySQL comment rule) and the
    # placeholder CREATE TABLE never surfaced as a view
    assert "`t`.`a`--1" in views["v_top"]

    stmts = list(iter_sql_statements(dump.read_text()))
    # DROP VIEW / placeholder CREATE TABLE / DROP TABLE / CREATE VIEW
    assert len(stmts) == 4
    assert stmts[0].startswith("DROP VIEW")
    assert stmts[1].startswith("CREATE TABLE")
    assert "plain comment" not in " ".join(stmts)


def test_functions_from_sql_mysqldump_routines_conditional_form(tmp_path):
    """mysqldump --routines emits `/*!50003 CREATE*/ /*!50020
    DEFINER=…*/ /*!50003 FUNCTION … END */;;` — the conditional markers
    must unwrap or every real-dump routine is skipped; the surrounding
    sql_mode save/restore statements must not leak into the result."""
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import build_spec_from_mysql
    from mysql2pg_spark.sources.dumpfile import functions_from_sql

    p = tmp_path / "routines.sql"
    p.write_text(
        "/*!50003 SET @saved_sql_mode       = @@sql_mode */ ;\n"
        "DELIMITER ;;\n"
        "/*!50003 CREATE*/ /*!50020 DEFINER=`root`@`localhost`*/"
        " /*!50003 FUNCTION `add_one`(n INT) RETURNS int\n"
        "    DETERMINISTIC\n"
        "BEGIN\n"
        "  RETURN n + 1;\n"
        "END */;;\n"
        "DELIMITER ;\n"
        "/*!50003 SET sql_mode              = @saved_sql_mode */ ;\n"
    )
    fns = functions_from_sql(str(p))
    assert len(fns) == 1
    assert fns[0].startswith("CREATE")
    out = emit_plpgsql(build_spec_from_mysql(fns[0]))
    assert "FUNCTION add_one(n INTEGER)" in out
    assert "IMMUTABLE" in out  # DETERMINISTIC


def test_routines_scan_includes_procedures():
    """mysqldump --routines emits PROCEDUREs in the same /*!50003*/ +
    DELIMITER format as functions; the A9 scan returns both (round 8 —
    the reference scans ROUTINE_TYPE='FUNCTION' only and silently drops
    procedures), and the builder emits a PG CREATE PROCEDURE."""
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import build_spec_from_mysql
    from mysql2pg_spark.sources.dumpfile import functions_from_text

    text = (
        "--\n-- Dumping routines for database 'testdb'\n--\n"
        "/*!50003 DROP PROCEDURE IF EXISTS `bump` */;\n"
        "/*!50003 SET @saved_sql_mode       = @@sql_mode */ ;\n"
        "DELIMITER ;;\n"
        "/*!50003 CREATE*/ /*!50020 DEFINER=`root`@`localhost`*/"
        " /*!50003 PROCEDURE `bump`(IN p_id INT, OUT p_n INT)\n"
        "BEGIN\n"
        "  UPDATE counters SET n = n + 1 WHERE id = p_id;\n"
        "  SET p_n = ROW_COUNT();\n"
        "END */;;\n"
        "DELIMITER ;\n"
        "/*!50003 SET sql_mode              = @saved_sql_mode */ ;\n"
    )
    stmts = functions_from_text(text)
    assert len(stmts) == 1 and "PROCEDURE" in stmts[0].upper()
    out = emit_plpgsql(build_spec_from_mysql(stmts[0]))
    assert out.startswith(
        "CREATE OR REPLACE PROCEDURE bump(p_id INTEGER, OUT p_n INTEGER)"
    )
    assert "GET DIAGNOSTICS p_n = ROW_COUNT;" in out


def test_routines_scan_includes_dump_form_triggers():
    """mysqldump emits triggers by DEFAULT in the table section as
    `/*!50003 CREATE*/ /*!50017 DEFINER=…*/ /*!50003 TRIGGER …*/` with
    DELIMITER switching — the scan must return them (round 8; the
    reference has no trigger pass at all)."""
    from mysql2pg_spark.sinks.plpgsql import emit_trigger
    from mysql2pg_spark.sinks.plpgsql_builder import build_trigger_from_mysql
    from mysql2pg_spark.sources.dumpfile import functions_from_text

    text = (
        "/*!50003 SET @saved_cs_client      = @@character_set_client */ ;\n"
        "DELIMITER ;;\n"
        "/*!50003 CREATE*/ /*!50017 DEFINER=`root`@`localhost`*/"
        " /*!50003 TRIGGER `t_stamp` BEFORE UPDATE ON `t` FOR EACH ROW\n"
        "SET NEW.updated_at = NOW() */;;\n"
        "DELIMITER ;\n"
        "/*!50003 SET character_set_client  = @saved_cs_client */ ;\n"
    )
    trigs = functions_from_text(text, kinds=("TRIGGER",))
    assert len(trigs) == 1
    # and the same text yields NO function/procedure entries
    assert functions_from_text(text) == []
    out = emit_trigger(build_trigger_from_mysql(trigs[0]))
    assert "new.updated_at := CURRENT_TIMESTAMP;" in out
    assert "CREATE TRIGGER t_stamp BEFORE UPDATE ON t" in out


def test_foreign_keys_parse_from_create_blocks(spark, tmp_path):
    """Round 8 (beyond-reference — the reference skips FOREIGN KEY
    lines, sync_tableddl.go:738): both the mysqldump one-line
    CONSTRAINT form and the hand-written multi-line form (actions on
    continuation lines, as the corpus' case_41 writes them) parse into
    FkSpecs, including composite keys."""
    p = tmp_path / "fk.sql"
    p.write_text(
        "CREATE TABLE parent (\n"
        "  id int PRIMARY KEY,\n"
        "  region int\n"
        ");\n"
        "CREATE TABLE child (\n"
        "  id int PRIMARY KEY,\n"
        "  p_id int,\n"
        "  p_region int,\n"
        "  KEY idx_p (p_id),\n"
        "  CONSTRAINT `fk_child_parent` FOREIGN KEY (`p_id`, `p_region`)"
        " REFERENCES `parent` (`id`, `region`) ON DELETE CASCADE\n"
        ");\n"
        "CREATE TABLE note (\n"
        "  id int PRIMARY KEY,\n"
        "  child_id int,\n"
        "  FOREIGN KEY (child_id) REFERENCES child(id)\n"
        "    ON DELETE SET NULL\n"
        "    ON UPDATE RESTRICT\n"
        ");\n"
    )
    from mysql2pg_spark.sources.dumpfile import snapshot_from_dump

    snap = snapshot_from_dump(spark, str(p))
    by = {t.name: t for t in snap.tables}
    assert by["parent"].foreign_keys == []
    (fk,) = by["child"].foreign_keys
    assert fk.name == "fk_child_parent"
    assert fk.columns == ["p_id", "p_region"]
    assert fk.ref_table == "parent" and fk.ref_columns == ["id", "region"]
    assert fk.on_delete == "CASCADE" and fk.on_update is None
    (fk2,) = by["note"].foreign_keys
    assert fk2.name is None and fk2.columns == ["child_id"]
    assert fk2.on_delete == "SET NULL" and fk2.on_update == "RESTRICT"
    # the column scan was not confused by the constraint lines
    assert [c.name for c in by["child"].columns] == ["id", "p_id", "p_region"]


def test_dump_schema_text_keeps_routine_body_inserts(spark, tmp_path):
    """ADVICE r8 (high): the data-drop filter must be section-aware. A
    trigger body's `INSERT INTO audit_log…;` line lives inside a
    DELIMITER-switched region and is BODY TEXT — dropping it silently
    mistranslates the trigger. Data-section extended INSERTs (outside
    any DELIMITER switch) are still dropped. Both the local streaming
    path and the distributed Spark path must agree."""
    from mysql2pg_spark.sources.dumpfile import (
        dump_schema_text,
        functions_from_text,
    )

    text = (
        "CREATE TABLE t (id int PRIMARY KEY, updated_at datetime);\n"
        "LOCK TABLES `t` WRITE;\n"
        "INSERT INTO `t` VALUES (1,'2024-01-01'),(2,'2024-01-02');\n"
        "UNLOCK TABLES;\n"
        "/*!50003 SET @saved_sql_mode       = @@sql_mode */ ;\n"
        "DELIMITER ;;\n"
        "/*!50003 CREATE*/ /*!50017 DEFINER=`root`@`localhost`*/"
        " /*!50003 TRIGGER `t_audit` BEFORE UPDATE ON `t` FOR EACH ROW\n"
        "BEGIN\n"
        "INSERT INTO audit_log (tbl) VALUES ('t');\n"
        "SET NEW.updated_at = NOW();\n"
        "END */;;\n"
        "DELIMITER ;\n"
        "/*!50003 SET sql_mode              = @saved_sql_mode */ ;\n"
        "INSERT INTO `t` VALUES (3,'2024-01-03');\n"
    )
    p = tmp_path / "d.sql"
    p.write_text(text)

    for schema_text in (
        dump_schema_text(str(p)),            # local streaming path
        dump_schema_text(str(p), spark),     # distributed path
    ):
        # data-section bulk dropped…
        assert "VALUES (1,'2024-01-01')" not in schema_text
        assert "VALUES (3,'2024-01-03')" not in schema_text
        # …but the trigger body INSERT survives
        assert "INSERT INTO audit_log (tbl) VALUES ('t');" in schema_text
        (trg,) = functions_from_text(schema_text, kinds=("TRIGGER",))
        assert "INSERT INTO audit_log" in trg
        assert "SET NEW.updated_at = NOW()" in trg


def test_unparseable_fk_logs_visible_skip(spark, tmp_path, caplog):
    """ADVICE r8: an FK shape _parse_fk cannot express (schema-qualified
    REFERENCES) must surface as a logged skip, not vanish silently —
    referential-integrity loss has to be visible like every other
    degrade path."""
    import logging

    from mysql2pg_spark.sources.dumpfile import snapshot_from_dump

    p = tmp_path / "fkq.sql"
    p.write_text(
        "CREATE TABLE child (\n"
        "  id int PRIMARY KEY,\n"
        "  p_id int,\n"
        "  CONSTRAINT `fk_x` FOREIGN KEY (`p_id`)"
        " REFERENCES `otherdb`.`parent` (`id`)\n"
        ");\n"
    )
    with caplog.at_level(logging.WARNING, logger="mysql2pg_spark.sources.dumpfile"):
        snap = snapshot_from_dump(spark, str(p))
    by = {t.name: t for t in snap.tables}
    assert by["child"].foreign_keys == []
    assert any(
        "unparseable FOREIGN KEY" in r.getMessage()
        and "child" in r.getMessage()
        for r in caplog.records
    )


def test_event_sections_scan_from_dump_text():
    """Round 9: `mysqldump --events` sections (/*!50106*/ wrap +
    DELIMITER switch) are inventoried by the statement scan — PG has no
    event scheduler, so the plan surfaces each as a documented skip and
    the scan must not lose them first."""
    from mysql2pg_spark.sources.dumpfile import functions_from_text

    text = (
        "--\n-- Dumping events for database 'db'\n--\n"
        "/*!50106 SET @save_time_zone= @@TIME_ZONE */ ;\n"
        "DELIMITER ;;\n"
        "/*!50106 CREATE*/ /*!50117 DEFINER=`root`@`localhost`*/"
        " /*!50106 EVENT `nightly_purge` ON SCHEDULE EVERY 1 DAY"
        " STARTS '2024-01-01 00:00:00' ON COMPLETION NOT PRESERVE"
        " ENABLE DO DELETE FROM sessions WHERE stale = 1 */ ;;\n"
        "DELIMITER ;\n"
        "/*!50106 SET TIME_ZONE= @save_time_zone */ ;\n"
    )
    (ev,) = functions_from_text(text, kinds=("EVENT",))
    assert ev.startswith("CREATE DEFINER=`root`@`localhost` EVENT")
    assert "nightly_purge" in ev and "EVERY 1 DAY" in ev
    # and the routine scan does NOT confuse events for functions
    assert functions_from_text(text) == []


def test_phpmyadmin_style_alter_sections_merge(spark, tmp_path, caplog):
    """Round 9: phpMyAdmin exports define tables BARE and attach keys /
    identity / FKs in trailing ALTER TABLE statements. Those must merge
    into the corpus — without this pass such a dump migrated with no
    primary keys, no indexes, no identity columns and no FKs, silently.
    Unknown clauses log a visible skip."""
    import logging

    from mysql2pg_spark.sources.dumpfile import full_snapshot_from_dump

    p = tmp_path / "pma.sql"
    p.write_text(
        "-- phpMyAdmin SQL Dump\n"
        "CREATE TABLE `users` (\n"
        "  `id` int(11) NOT NULL,\n"
        "  `email` varchar(255) NOT NULL,\n"
        "  `ref` int(11) DEFAULT NULL\n"
        ") ENGINE=InnoDB DEFAULT CHARSET=utf8mb4;\n\n"
        "INSERT INTO `users` (`id`, `email`, `ref`) "
        "VALUES (1, 'a@x.com', NULL);\n\n"
        "ALTER TABLE `users`\n"
        "  ADD PRIMARY KEY (`id`),\n"
        "  ADD UNIQUE KEY `email` (`email`),\n"
        "  ADD KEY `idx_ref` (`ref`);\n\n"
        "ALTER TABLE `users`\n"
        "  MODIFY `id` int(11) NOT NULL AUTO_INCREMENT, "
        "AUTO_INCREMENT=57;\n\n"
        "ALTER TABLE `users`\n"
        "  ADD CONSTRAINT `users_ibfk_1` FOREIGN KEY (`ref`) "
        "REFERENCES `users` (`id`) ON DELETE SET NULL;\n\n"
        "ALTER TABLE `users` ENGINE=MyISAM;\n"
    )
    with caplog.at_level(
        logging.WARNING, logger="mysql2pg_spark.sources.dumpfile"
    ):
        snap = full_snapshot_from_dump(spark, str(p))
    (t,) = snap.tables
    assert t.primary_key == ["id"]
    assert [(i.name, i.columns, i.unique) for i in t.indexes] == [
        ("email", ["email"], True),
        ("idx_ref", ["ref"], False),
    ]
    assert [c.name for c in t.columns if c.auto_increment] == ["id"]
    (fk,) = t.foreign_keys
    assert fk.ref_table == "users" and fk.on_delete == "SET NULL"
    # the unknown ENGINE clause surfaced as a visible skip
    assert any(
        "unsupported clause" in r.getMessage() and "ENGINE" in r.getMessage()
        for r in caplog.records
    )


def test_gzip_dump_all_paths(spark, tmp_path):
    """Round 9: real dumps travel gzipped. The Spark readers decompress
    via the JVM codec; the local/driver-side paths (dump_schema_text
    streaming, functions_from_sql) must be equally transparent."""
    import gzip

    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from mysql2pg_spark.sources.dumpfile import (
        dump_schema_text,
        full_snapshot_from_dump,
        functions_from_sql,
        read_dump_inserts,
    )

    p = tmp_path / "d.sql.gz"
    with gzip.open(p, "wt") as fh:
        fh.write(
            "CREATE TABLE `t` (\n"
            "  `id` int NOT NULL,\n"
            "  `v` varchar(10),\n"
            "  PRIMARY KEY (`id`)\n"
            ");\n"
            "INSERT INTO `t` VALUES (1,'a'),(2,'b');\n"
            "DELIMITER ;;\n"
            "CREATE FUNCTION f1(x INT) RETURNS INT DETERMINISTIC\n"
            "BEGIN\n  RETURN x * 2;\nEND ;;\n"
            "DELIMITER ;\n"
        )
    snap = full_snapshot_from_dump(spark, str(p))
    assert [t.name for t in snap.tables] == ["t"]
    assert snap.tables[0].primary_key == ["id"]
    assert len(snap.functions) == 1
    txt = dump_schema_text(str(p))  # local streaming path
    assert "CREATE TABLE `t`" in txt and "VALUES (1,'a')" not in txt
    (fn,) = functions_from_sql(str(p))
    assert "RETURN x * 2" in fn
    sch = StructType([
        StructField("id", IntegerType()),
        StructField("v", StringType()),
    ])
    rows = read_dump_inserts(spark, str(p), "t", sch).collect()
    assert sorted((r.id, r.v) for r in rows) == [(1, "a"), (2, "b")]


def test_fulltext_spatial_partition_surface(spark, tmp_path):
    """FULLTEXT/SPATIAL keys and the /*!50100 PARTITION BY clause were
    silently dropped from dump snapshots (round 11): keys now carry
    their kind and emit the standard PG access methods (GIN tsvector /
    GiST); the partition scheme attaches to its table and the plan
    surfaces it as a named skip."""
    from mysql2pg_spark.config import EngineConfig
    from mysql2pg_spark.orchestrator import MigrationPipeline
    from mysql2pg_spark.sinks.ddl import create_index_ddl
    from mysql2pg_spark.sources.dumpfile import full_snapshot_from_dump

    p = tmp_path / "d.sql"
    p.write_text(
        "CREATE TABLE `articles` (\n"
        "  `id` int NOT NULL AUTO_INCREMENT,\n"
        "  `title` varchar(200) DEFAULT NULL,\n"
        "  `body` text,\n"
        "  `loc` point NOT NULL,\n"
        "  PRIMARY KEY (`id`),\n"
        "  FULLTEXT KEY `ft_body` (`title`,`body`),\n"
        "  SPATIAL KEY `sp_loc` (`loc`)\n"
        ") ENGINE=InnoDB;\n"
        "CREATE TABLE `sales` (\n"
        "  `id` int NOT NULL,\n"
        "  `sold_on` date NOT NULL,\n"
        "  PRIMARY KEY (`id`,`sold_on`)\n"
        ") ENGINE=InnoDB\n"
        "/*!50100 PARTITION BY RANGE (year(`sold_on`))\n"
        "(PARTITION p2023 VALUES LESS THAN (2024) ENGINE = InnoDB,\n"
        " PARTITION p2024 VALUES LESS THAN (2025) ENGINE = InnoDB) */;\n"
        "ALTER TABLE `articles` ADD FULLTEXT KEY `ft_title` (`title`);\n"
    )
    snap = full_snapshot_from_dump(spark, str(p))
    arts = next(t for t in snap.tables if t.name == "articles")
    kinds = {i.name: i.kind for i in arts.indexes}
    assert kinds == {
        "ft_body": "fulltext", "sp_loc": "spatial", "ft_title": "fulltext"
    }
    sales = next(t for t in snap.tables if t.name == "sales")
    assert sales.partition_clause == "RANGE (year(`sold_on`))"
    assert arts.partition_clause is None

    ft = create_index_ddl("articles", arts.indexes[0])
    assert 'USING GIN (to_tsvector(\'simple\', ' in ft
    assert "coalesce(title::text, '')" in ft
    sp = create_index_ddl(
        "articles", next(i for i in arts.indexes if i.kind == "spatial")
    )
    assert "USING GIST (loc)" in sp

    actions = MigrationPipeline(EngineConfig(), snap).plan()
    part_skips = [
        a for a in actions
        if a.stage == "tableddl" and a.kind == "skip"
    ]
    assert len(part_skips) == 1 and part_skips[0].target == "sales"
    # round 12: sales RANGE-partitions on an EXPRESSION while carrying
    # a PRIMARY KEY — PG forbids that combination, so the skip names
    # the precise limitation instead of the generic round-11 wording
    assert "expression" in part_skips[0].payload
    assert "year(`sold_on`)" in part_skips[0].payload
    # the full definition (with per-partition bounds) was captured
    assert "p2023" in sales.partition_def and "p2024" in sales.partition_def
    idx_ddl = [
        a.payload for a in actions
        if a.stage == "indexes" and "articles" in a.payload
    ]
    assert any("USING GIN" in d for d in idx_ddl)
    assert any("USING GIST" in d for d in idx_ddl)


def test_check_constraints_surface(spark, tmp_path):
    """MySQL 8 CHECK constraints (round 11): ENFORCED ones emit as
    post-data ALTER ... ADD CONSTRAINT CHECK in their own stage; NOT
    ENFORCED ones surface as named skips (PG NOT VALID still enforces
    new rows). Previously both vanished."""
    from mysql2pg_spark.config import EngineConfig
    from mysql2pg_spark.orchestrator import MigrationPipeline
    from mysql2pg_spark.sources.dumpfile import full_snapshot_from_dump

    p = tmp_path / "c.sql"
    p.write_text(
        "CREATE TABLE `people` (\n"
        "  `id` int NOT NULL,\n"
        "  `age` int DEFAULT NULL,\n"
        "  PRIMARY KEY (`id`),\n"
        "  CONSTRAINT `chk_age` CHECK ((`age` > 18)) ENFORCED,\n"
        "  CHECK ((`age` < 150)) NOT ENFORCED\n"
        ");\n"
    )
    snap = full_snapshot_from_dump(spark, str(p))
    (t,) = snap.tables
    assert t.checks == [
        ("chk_age", "(`age` > 18)", True),
        (None, "(`age` < 150)", False),
    ]
    actions = MigrationPipeline(EngineConfig(), snap).plan()
    chk = [a for a in actions if a.stage == "checks"]
    assert len(chk) == 2
    ddl = next(a for a in chk if a.kind == "ddl")
    assert ddl.payload == (
        'ALTER TABLE people ADD CONSTRAINT chk_age CHECK (("age" > 18))'
    )
    skip = next(a for a in chk if a.kind == "skip")
    assert "NOT" in skip.payload and "not migrated" in skip.payload


def test_generated_columns_surface(spark, tmp_path):
    """GENERATED ALWAYS AS columns (round 11): previously the clause
    was silently dropped — the migrated table got a plain column that
    stayed NULL forever (mysqldump omits generated values from INSERT
    bulk). Now: the parser captures expression + STORED/VIRTUAL, the
    PG DDL emits GENERATED ALWAYS AS … STORED with chained references
    inlined (PG forbids generated-on-generated), the data stage never
    writes them, and a real DuckDB migration computes them."""
    import duckdb

    from mysql2pg_spark.config import load_config
    from mysql2pg_spark.orchestrator import MigrationPipeline
    from mysql2pg_spark.runlog import RunLogger
    from mysql2pg_spark.sinks.dbapi_sink import make_dbapi_writer
    from mysql2pg_spark.sources.dumpfile import (
        dump_read_schemas,
        full_snapshot_from_dump,
        read_dump_inserts,
    )
    import yaml

    p = tmp_path / "g.sql"
    p.write_text(
        "CREATE TABLE `items` (\n"
        "  `id` int NOT NULL,\n"
        "  `c1` int DEFAULT NULL,\n"
        "  `c2` int GENERATED ALWAYS AS (`c1` * 2) STORED,\n"
        "  `c3` int GENERATED ALWAYS AS (`c1` + `c2`) VIRTUAL,\n"
        "  PRIMARY KEY (`id`)\n"
        ");\n"
        "INSERT INTO `items` (`id`, `c1`) VALUES (1,10),(2,7);\n"
    )
    snap = full_snapshot_from_dump(spark, str(p))
    (t,) = snap.tables
    by = {c.name: c for c in t.columns}
    assert by["c2"].generated_expr == "`c1` * 2" and by["c2"].generated_stored
    assert by["c3"].generated_expr == "`c1` + `c2`"
    assert not by["c3"].generated_stored
    assert by["c1"].generated_expr is None

    cfgp = tmp_path / "cfg.yml"
    cfgp.write_text(yaml.safe_dump({
        "mysql": {"host": "h", "database": "d"},
        "postgresql": {"host": "p", "database": "d"},
        "conversion": {"options": {}, "limits": {"concurrency": 1}},
    }))
    pipe = MigrationPipeline(load_config(str(cfgp)), snap)
    actions = pipe.plan()
    create = next(
        a.payload for a in actions
        if a.stage == "tableddl" and "CREATE TABLE" in a.payload
    )
    assert 'GENERATED ALWAYS AS ("c1" * 2) STORED' in create
    # chained reference inlined: c3 references the GENERATED c2, which
    # PG forbids — the emitted expression substitutes c2's definition
    assert 'GENERATED ALWAYS AS ("c1" + ("c1" * 2)) STORED' in create

    schemas = dump_read_schemas(snap)
    con = duckdb.connect()
    result = pipe.execute(
        spark,
        con,
        source_reader=lambda sp, plan: read_dump_inserts(
            sp, str(p), plan["table"], schemas[plan["table"]]
        ),
        sink_writer=make_dbapi_writer(
            con.cursor, paramstyle="qmark", via="driver"
        ),
        dest_reader=lambda sp, table: sp.createDataFrame(
            con.cursor()
            .execute(f'SELECT * FROM "{table}"')
            .fetch_arrow_table()
        ),
        logger=RunLogger(str(tmp_path / "logs"), echo=False),
        target_dialect="duckdb",
    )
    assert result["synced"] == {"items": 2}
    assert result["validation"]["items"]["consistent"]
    rows = {r[0]: r for r in con.execute(
        "SELECT id, c1, c2, c3 FROM items ORDER BY id"
    ).fetchall()}
    # the TARGET computed the generated values
    assert rows[1][1:] == (10, 20, 30)
    assert rows[2][1:] == (7, 14, 21)
    con.close()


def test_generated_and_check_mixed_case_and_literals(spark, tmp_path):
    """Review r11 round 2: mixed-case identifiers in generated/CHECK
    expressions normalize like column names (the emitted quoted ref
    must name the lowercased column); a DEFAULT string containing
    'AS (' cannot fabricate a generated column; anonymous checks get
    distinct names; ALTER TABLE ... PARTITION BY attaches to ITS table."""
    from mysql2pg_spark.config import EngineConfig
    from mysql2pg_spark.orchestrator import MigrationPipeline
    from mysql2pg_spark.sources.dumpfile import full_snapshot_from_dump

    p = tmp_path / "mc.sql"
    p.write_text(
        "CREATE TABLE `Orders` (\n"
        "  `Id` int NOT NULL,\n"
        "  `Price` decimal(10,2) DEFAULT NULL,\n"
        "  `Qty` int DEFAULT NULL,\n"
        "  `status` varchar(32) DEFAULT 'Save As (draft)',\n"
        "  `Total` decimal(12,2) GENERATED ALWAYS AS "
        "((`Price` * `Qty`)) STORED,\n"
        "  PRIMARY KEY (`Id`),\n"
        "  CHECK ((`Qty` > 0)) ENFORCED,\n"
        "  CHECK ((`Price` >= 0)) ENFORCED\n"
        ");\n"
        "CREATE TABLE `other` (\n"
        "  `k` int NOT NULL\n"
        ");\n"
        "ALTER TABLE `Orders` PARTITION BY HASH (`Id`) PARTITIONS 4;\n"
    )
    snap = full_snapshot_from_dump(spark, str(p))
    orders = next(t for t in snap.tables if t.name == "Orders")
    other = next(t for t in snap.tables if t.name == "other")
    # the DEFAULT literal did not fabricate a generated column
    st = next(c for c in orders.columns if c.name == "status")
    assert st.generated_expr is None
    assert st.default == "Save As (draft)"
    # ALTER TABLE partitioning attached to Orders, not the last table
    assert orders.partition_clause == "HASH (`Id`)"
    assert other.partition_clause is None

    actions = MigrationPipeline(EngineConfig(), snap).plan()
    create = next(
        a.payload for a in actions
        if a.stage == "tableddl" and "CREATE TABLE" in a.payload
        and "orders" in a.payload
    )
    # identifiers inside the expression lowercased with the columns
    assert 'GENERATED ALWAYS AS (("price" * "qty")) STORED' in create
    chk = [a.payload for a in actions if a.stage == "checks"]
    assert any('("qty" > 0)' in c for c in chk)
    # anonymous checks got DISTINCT names
    names = [c.split("ADD CONSTRAINT ")[1].split(" ")[0] for c in chk]
    assert len(set(names)) == 2


def test_spatial_index_on_non_point_geometry_skips(spark, tmp_path):
    """Review r11 round 2: GiST works natively only on point (the
    WKT-TEXT-mapped geometry types have no operator class) — non-point
    SPATIAL keys surface as named skips naming PostGIS."""
    from mysql2pg_spark.config import EngineConfig
    from mysql2pg_spark.orchestrator import MigrationPipeline
    from mysql2pg_spark.sources.dumpfile import full_snapshot_from_dump

    p = tmp_path / "sp.sql"
    p.write_text(
        "CREATE TABLE `areas` (\n"
        "  `id` int NOT NULL,\n"
        "  `shape` geometry NOT NULL,\n"
        "  `loc` point NOT NULL,\n"
        "  SPATIAL KEY `sp_shape` (`shape`),\n"
        "  SPATIAL KEY `sp_loc` (`loc`)\n"
        ");\n"
    )
    snap = full_snapshot_from_dump(spark, str(p))
    actions = MigrationPipeline(EngineConfig(), snap).plan()
    idx = [a for a in actions if a.stage == "indexes"]
    skips = [a for a in idx if a.kind == "skip"]
    ddls = [a.payload for a in idx if a.kind == "ddl"]
    assert len(skips) == 1 and "PostGIS" in skips[0].payload
    assert any("USING GIST (loc)" in d for d in ddls)
    assert not any("shape" in d for d in ddls)


def test_generated_column_named_like_type_keyword(spark, tmp_path):
    """ADVICE r11: a generated column named like a type keyword (`date`)
    referenced in a sibling generated expression's CAST must NOT have
    the type token rewritten into the expression — only genuine column
    references inline."""
    from mysql2pg_spark.config import EngineConfig
    from mysql2pg_spark.orchestrator import MigrationPipeline
    from mysql2pg_spark.sources.dumpfile import snapshot_from_dump

    p = tmp_path / "d.sql"
    p.write_text(
        "CREATE TABLE `kw` (\n"
        "  `x` varchar(20),\n"
        "  `date` date GENERATED ALWAYS AS (CAST(`x` AS date)) STORED,\n"
        "  `y` int GENERATED ALWAYS AS (YEAR(CAST(`x` AS date))) STORED,\n"
        "  `z` int GENERATED ALWAYS AS (`date` + 1) STORED\n"
        ");\n"
    )
    snap = snapshot_from_dump(spark, str(p))
    actions = MigrationPipeline(EngineConfig(), snap).plan()
    create = next(
        a.payload for a in actions
        if a.stage == "tableddl" and a.kind == "ddl"
        and a.payload.startswith("CREATE TABLE")
    )
    # the CAST target type survives in both siblings…
    assert (
        'GENERATED ALWAYS AS (CAST(EXTRACT(YEAR FROM CAST(CAST("x" AS DATE)'
        ' AS TIMESTAMP)) AS BIGINT)) STORED'
    ) in create
    # …while the genuine backticked reference still inlines
    assert 'GENERATED ALWAYS AS ((CAST("x" AS DATE)) + 1) STORED' in create


def test_partition_clause_semicolon_inside_literal(spark, tmp_path):
    """Review r12: a LIST bound like 'us;east' must not truncate the
    buffered partition clause at the literal's ';' — the finish cut
    masks literals like the chunk detector does."""
    p = tmp_path / "lit.sql"
    p.write_text(
        "CREATE TABLE `zones` (\n"
        "  `region` varchar(16) NOT NULL\n"
        ") ENGINE=InnoDB\n"
        "/*!50100 PARTITION BY LIST COLUMNS(`region`)\n"
        "(PARTITION p0 VALUES IN ('us;east'),\n"
        " PARTITION p1 VALUES IN ('eu*/west')) */;\n"
    )
    from mysql2pg_spark.schema.partitioning import parse_partition_def
    from mysql2pg_spark.sources.dumpfile import snapshot_from_dump

    (t,) = snapshot_from_dump(spark, str(p)).tables
    pd = parse_partition_def(t.partition_def)
    assert [pp.values for pp in pd.parts] == ["'us;east'", "'eu*/west'"]


def test_alter_add_functional_key_carries_expression(spark, tmp_path):
    """Round 15: the phpMyAdmin ALTER-form functional index is carried
    with its (unmasked) expression — same shape as the inline KEY form
    — so the planner can translate it to a PG expression index instead
    of the old log-only drop. String literals inside the expression
    survive the ALTER loop's literal masking."""
    from mysql2pg_spark.sources.dumpfile import full_snapshot_from_dump

    p = tmp_path / "pma_fn.sql"
    p.write_text(
        "CREATE TABLE `docs` (\n"
        "  `id` int NOT NULL,\n"
        "  `title` varchar(200) NOT NULL\n"
        ") ENGINE=InnoDB;\n\n"
        "ALTER TABLE `docs`\n"
        "  ADD KEY `idx_t` ((concat(upper(`title`), '-x')));\n"
    )
    snap = full_snapshot_from_dump(spark, str(p))
    (t,) = snap.tables
    (ix,) = t.indexes
    assert ix.name == "idx_t" and ix.columns == []
    assert ix.expression == "(concat(upper(`title`), '-x'))"

    from mysql2pg_spark.sinks.ddl import functional_index_ddl

    ddl = functional_index_ddl("docs", ix)
    assert ddl == (
        "CREATE INDEX IF NOT EXISTS docs_idx_t ON docs "
        "((CAST(UPPER(CAST(\"title\" AS TEXT)) AS TEXT) || '-x'))"
    )
