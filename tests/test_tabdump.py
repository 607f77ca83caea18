"""mysqldump --tab directory source (round 9): escaped-TSV decode,
schema scan through the shared CREATE parser, and the source_reader
seam into the migration pipeline."""

from __future__ import annotations

import os

from hypothesis import given, settings
from hypothesis import strategies as st

from mysql2pg_spark.sources.tabdump import (
    decode_tab_field,
    encode_tab_field,
    read_tab_dump,
    snapshot_from_tab_dir,
    tab_source_reader,
)


@given(
    st.one_of(
        st.none(),
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs",),
            ),
            max_size=40,
        ),
    )
)
@settings(max_examples=300, deadline=None)
def test_field_encode_decode_roundtrip(v):
    """Every value — including embedded tabs, newlines, backslashes,
    NULs and the literal string '\\N' — survives the OUTFILE escape
    round-trip, and the encoded form never contains a raw separator."""
    enc = encode_tab_field(v)
    assert "\t" not in enc and "\n" not in enc and "\r" not in enc
    assert decode_tab_field(enc) == v if v is None else (
        decode_tab_field(enc) == str(v)
    )


def test_tab_dir_reads_typed_and_matches_source(spark, tmp_path):
    """A --tab directory synthesized from the orders fixture reads back
    EXACTLY (typed, all columns) and the .sql half feeds the normal
    catalog scan."""
    from mysql2pg_spark.tables import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders").limit(300)
    rows = orders.collect()
    (tmp_path / "orders.txt").write_text(
        "".join(
            "\t".join(encode_tab_field(x) for x in r) + "\n" for r in rows
        )
    )
    (tmp_path / "orders.sql").write_text(
        "CREATE TABLE `orders` (\n"
        "  `o_orderkey` bigint NOT NULL,\n"
        "  `o_custkey` bigint,\n"
        "  PRIMARY KEY (`o_orderkey`)\n"
        ");\n"
    )
    snap = snapshot_from_tab_dir(spark, str(tmp_path))
    assert [t.name for t in snap.tables] == ["orders"]
    assert snap.tables[0].primary_key == ["o_orderkey"]

    back = read_tab_dump(
        spark, str(tmp_path / "orders.txt"), orders.schema
    )
    assert back.schema == orders.schema
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, rows)
    )


def test_tab_reader_nulls_and_escapes(spark, tmp_path):
    """\\N decodes to NULL; escaped tab/newline/backslash decode to the
    raw characters; a column-count mismatch fails loudly."""
    import pytest

    p = tmp_path / "t.txt"
    p.write_text(
        "1\t\\N\tplain\n"
        "2\ttab\\there\tline\\nbreak\n"
        "3\tback\\\\slash\tlit \\N here\n"
    )
    df = read_tab_dump(spark, str(p), "id int, a string, b string")
    got = {r.id: (r.a, r.b) for r in df.collect()}
    assert got[1] == (None, "plain")
    assert got[2] == ("tab\there", "line\nbreak")
    assert got[3] == ("back\\slash", "lit N here")

    bad = tmp_path / "bad.txt"
    bad.write_text("1\tonly-two\n")
    with pytest.raises(Exception, match="fields"):
        read_tab_dump(spark, str(bad), "id int, a string, b string").collect()


def test_tab_source_reader_drives_the_pipeline(spark, tmp_path):
    """The --tab seam runs the SAME execute() control flow as a live or
    single-file-dump migration: DDL plan + threaded sync +
    count/checksum validation end-to-end."""
    from mysql2pg_spark.orchestrator import (
        CatalogSnapshot,
        ColumnMeta,
        MigrationPipeline,
        TableMeta,
    )
    from mysql2pg_spark.runlog import RunLogger
    from mysql2pg_spark.sinks.ddl import RecordingConnection
    from mysql2pg_spark.tables import parquet_endpoints
    from tests.test_orchestrator import _cfg

    (tmp_path / "nation.txt").write_text(
        "0\tALGERIA\t0\n1\tARGENTINA\t1\n2\tBRAZIL\t1\n"
    )
    snap = CatalogSnapshot(tables=[
        TableMeta(
            name="nation",
            columns=[
                ColumnMeta("n_nationkey", "int", False),
                ColumnMeta("n_name", "varchar(25)"),
                ColumnMeta("n_regionkey", "int"),
            ],
            primary_key=["n_nationkey"],
            row_count=3,
            pk_bounds=(0, 2),
        )
    ])
    schemas = {"nation": "n_nationkey int, n_name string, n_regionkey int"}
    reader = tab_source_reader(str(tmp_path), schemas)
    result = MigrationPipeline(_cfg(tmp_path), snap).execute(
        spark,
        RecordingConnection(),
        **parquet_endpoints(
            lambda t: reader(spark, {"table": t}), str(tmp_path / "sink")
        ),
        logger=RunLogger(str(tmp_path / "logs")),
    )
    assert result["synced"] == {"nation": 3}
    assert result["validation"]["nation"]["consistent"]


def test_cli_duckdb_mode_from_tab_dir(spark, tmp_path, capsys, monkeypatch):
    """`--mode duckdb --tab-dir` migrates a --tab directory into a real
    DuckDB end-to-end: DDL executed, rows loaded, validation green."""
    import json

    import duckdb
    import yaml

    from mysql2pg_spark.__main__ import main

    monkeypatch.chdir(tmp_path)  # the run log lands under ./logs

    (tmp_path / "config.yml").write_text(yaml.safe_dump({
        "mysql": {"host": "h", "database": "d"},
        "postgresql": {"host": "p", "database": "d"},
        "conversion": {"options": {}, "limits": {"concurrency": 2}},
    }))
    (tmp_path / "nation.sql").write_text(
        "CREATE TABLE `nation` (\n"
        "  `n_nationkey` int NOT NULL,\n"
        "  `n_name` varchar(25),\n"
        "  PRIMARY KEY (`n_nationkey`)\n"
        ");\n"
    )
    (tmp_path / "nation.txt").write_text(
        "0\tALGERIA\n1\tARGEN\\tTINA\n2\t\\N\n"
    )
    db = tmp_path / "out.duckdb"
    rc = main([
        "-c", str(tmp_path / "config.yml"),
        "--mode", "duckdb",
        "--tab-dir", str(tmp_path),
        "--duckdb-file", str(db),
    ])
    out = capsys.readouterr().out
    assert rc == 0, out
    con = duckdb.connect(str(db))
    rows = con.execute(
        "SELECT n_nationkey, n_name FROM nation ORDER BY 1"
    ).fetchall()
    assert rows == [(0, "ALGERIA"), (1, "ARGEN\tTINA"), (2, None)]
    payload = json.loads(out.strip().splitlines()[-1])
    assert payload["validation"] == {"nation": True}


def test_jvm_and_driver_decoders_agree(spark):
    """The JVM expression decoder (read path at scale) and the
    driver-side decode_tab_field must agree on EVERY input, including
    adversarial ones that are not valid OUTFILE output (stray
    backslashes, mid-field \\N, sentinel bytes, chained escapes)."""
    import random

    from mysql2pg_spark.sources.tabdump import _decode_field_col

    rng = random.Random(90210)
    atoms = [
        "\\N", "\\\\", "\\t", "\\n", "\\r", "\\0", "\\b", "\\Z",
        "\\x", "\\", "a", "Z", "N", "\x01", "tab\there", "q",
        "\\\\N", "\\\\t", "", " ",
    ]
    corpus = ["\\N", "", "\\", "\x01\\t"]
    corpus += [
        "".join(rng.choice(atoms) for _ in range(rng.randint(1, 6)))
        for _ in range(300)
    ]
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(s,) for s in corpus], "raw string")
    got = {
        r.raw: r.dec
        for r in df.select(
            "raw", _decode_field_col(F.col("raw")).alias("dec")
        ).collect()
    }
    for s in corpus:
        assert got[s] == decode_tab_field(s), (
            repr(s), repr(got[s]), repr(decode_tab_field(s))
        )


def test_single_column_empty_string_rows_survive(spark, tmp_path):
    """SELECT … INTO OUTFILE emits a 1-column row whose value is the
    empty string as an EMPTY LINE — the reader must keep those as
    empty-string fields (ADVICE r9: dropping them silently loses rows,
    and validation checksums the source through this same reader so
    the loss would be invisible). Multi-column tables still drop empty
    lines, where they are genuinely invalid."""
    # 1-column: "", "a", NULL, "" → four rows
    (tmp_path / "one.txt").write_text("\na\n\\N\n\n")
    got = read_tab_dump(
        spark, str(tmp_path / "one.txt"), "v string"
    ).collect()
    assert [r.v for r in got] == ["", "a", None, ""]

    # 2-column file with a stray blank line: the blank is dropped (a
    # valid 2-col row always carries a raw tab), real rows are kept
    (tmp_path / "two.txt").write_text("1\tx\n\n2\t\\N\n")
    got2 = read_tab_dump(
        spark, str(tmp_path / "two.txt"), "a int, b string"
    )
    assert sorted((r.a, r.b) for r in got2.collect()) == [
        (1, "x"), (2, None)
    ]


def test_tab_dir_scans_triggers_routines_views(spark, tmp_path):
    """Real mysqldump --tab writes each table's TRIGGERS into its .sql
    file (DELIMITER-switched /*!50003*/ sections) and view shells into
    their own .sql — the snapshot must inventory them (skip-don't-drop,
    ADVICE r9) exactly like the single-file scan does."""
    (tmp_path / "t.sql").write_text(
        "CREATE TABLE `t` (\n"
        "  `id` bigint NOT NULL,\n"
        "  `note` varchar(40),\n"
        "  PRIMARY KEY (`id`)\n"
        ");\n"
        "/*!50003 SET @saved_sql_mode = @@sql_mode */ ;\n"
        "DELIMITER ;;\n"
        "/*!50003 CREATE*/ /*!50017 DEFINER=`root`@`%`*/ /*!50003 "
        "TRIGGER `t_bi` BEFORE INSERT ON `t` FOR EACH ROW "
        "SET NEW.note = 'x' */;;\n"
        "DELIMITER ;\n"
    )
    (tmp_path / "t.txt").write_text("1\thello\n")
    (tmp_path / "v_notes.sql").write_text(
        "/*!50001 CREATE ALGORITHM=UNDEFINED VIEW `v_notes` AS "
        "SELECT `id`, `note` FROM `t` */;\n"
    )
    (tmp_path / "fn.sql").write_text(
        "DELIMITER ;;\n"
        "CREATE FUNCTION `double_it`(x INT) RETURNS INT DETERMINISTIC\n"
        "BEGIN\n"
        "  RETURN x * 2;\n"
        "END ;;\n"
        "DELIMITER ;\n"
    )
    snap = snapshot_from_tab_dir(spark, str(tmp_path))
    assert [t.name for t in snap.tables] == ["t"]
    assert len(snap.triggers) == 1 and "t_bi" in snap.triggers[0]
    assert "v_notes" in snap.views
    assert len(snap.functions) == 1 and "double_it" in snap.functions[0]
