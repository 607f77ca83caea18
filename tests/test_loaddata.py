"""LOAD DATA INFILE statement support (round 11): the statement parser
(`sources.loaddata`), its routing into `read_tab_dump`'s clause space,
and round-trip coverage of the OUTFILE-format export surface
(`write_outfile` / `encode_load_field` / enclosure / `ESCAPED BY ''` /
the non-control-separator repair fold) that round 10 shipped untested.
"""

from __future__ import annotations

import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mysql2pg_spark.sources.loaddata import (
    LoadDataSpec,
    load_data_source_reader,
    load_data_specs,
    parse_load_data,
    read_load_data,
    unquote_mysql_literal,
)
from mysql2pg_spark.sources.tabdump import (
    encode_load_field,
    read_tab_dump,
    write_outfile,
)

SF = "/root/testdata/sf0.001"


# --------------------------------------------------------------------------
# Statement parser
# --------------------------------------------------------------------------
def test_parse_minimal():
    spec = parse_load_data("LOAD DATA INFILE '/x/t.txt' INTO TABLE t")
    assert spec == LoadDataSpec(table="t", infile="/x/t.txt")
    assert spec.field_term == "\t" and spec.line_term == "\n"
    assert spec.escaped_by == "\\" and spec.enclosed_by is None


def test_parse_full_clause_space():
    spec = parse_load_data(
        "LOAD DATA CONCURRENT LOCAL INFILE 'data.csv' REPLACE\n"
        "INTO TABLE `db`.`orders`\n"
        "CHARACTER SET utf8mb4\n"
        "FIELDS TERMINATED BY ',' OPTIONALLY ENCLOSED BY '\"' "
        "ESCAPED BY '\\\\'\n"
        "LINES STARTING BY 'xxx' TERMINATED BY '\\r\\n'\n"
        "IGNORE 2 LINES\n"
        "(o_orderkey, o_custkey);"
    )
    assert spec.table == "orders" and spec.local
    assert spec.duplicates == "REPLACE"
    assert spec.field_term == "," and spec.enclosed_by == '"'
    assert spec.optionally_enclosed and spec.escaped_by == "\\"
    assert spec.line_start == "xxx" and spec.line_term == "\r\n"
    assert spec.ignore_lines == 2
    assert spec.columns == ["o_orderkey", "o_custkey"]


def test_parse_columns_keyword_and_ignore_dup():
    spec = parse_load_data(
        "LOAD DATA INFILE 't.txt' IGNORE INTO TABLE t "
        "COLUMNS TERMINATED BY '|' ESCAPED BY ''"
    )
    assert spec.duplicates == "IGNORE"
    assert spec.field_term == "|" and spec.escaped_by == ""


def test_parse_literal_escapes():
    """Clause literals decode MySQL string-literal escapes: '\\t' is a
    real tab, '\\\\' one backslash, '' inside quotes one quote."""
    spec = parse_load_data(
        "LOAD DATA INFILE 'a''b.txt' INTO TABLE t "
        "FIELDS TERMINATED BY '\\t' ENCLOSED BY ''''"
    )
    assert spec.infile == "a'b.txt"
    assert spec.field_term == "\t" and spec.enclosed_by == "'"


def test_parse_non_load_returns_none():
    assert parse_load_data("SELECT 1") is None
    assert parse_load_data("-- LOAD DATA comment text") is None


@pytest.mark.parametrize(
    "stmt,needle",
    [
        ("LOAD DATA INFILE 'f' INTO TABLE t PARTITION (p0)", "PARTITION"),
        (
            "LOAD DATA INFILE 'f' INTO TABLE t CHARACTER SET latin1",
            "CHARACTER SET",
        ),
        (
            "LOAD DATA INFILE 'f' INTO TABLE t (a, @v) SET b = @v + 1",
            "@user-variable",
        ),
        (
            "LOAD DATA INFILE 'f' INTO TABLE t (a) SET b = 1",
            "SET",
        ),
        ("LOAD DATA INFILE 'f' INTO TABLE t FIELDS LINES", "FIELDS"),
        ("LOAD DATA INFILE f INTO TABLE t", "quoted file path"),
        ("LOAD DATA INFILE 'f' INTO TABLE t garbage here", "trailing"),
    ],
)
def test_parse_refusals_are_visible(stmt, needle):
    """Refuse-don't-mistranslate: unsupported clauses raise naming the
    clause instead of silently dropping a transformation."""
    with pytest.raises(ValueError, match=needle.replace("(", "\\(")):
        parse_load_data(stmt)


def test_unquote_mysql_literal():
    assert unquote_mysql_literal(r"a\tb") == "a\tb"
    assert unquote_mysql_literal(r"\\") == "\\"
    assert unquote_mysql_literal("it''s") == "it's"
    assert unquote_mysql_literal(r"\q") == "q"  # unknown pair → char
    assert unquote_mysql_literal(r"100\%") == r"100\%"  # LIKE escapes keep


def test_specs_from_script(tmp_path):
    """Statement scan finds every LOAD DATA in a script, in order,
    ignoring comments and string look-alikes."""
    script = tmp_path / "restore.sql"
    script.write_text(
        "CREATE TABLE t (a INT);\n"
        "-- LOAD DATA INFILE 'not_this' INTO TABLE nope;\n"
        "LOAD DATA INFILE 'one.txt' INTO TABLE t;\n"
        "INSERT INTO t VALUES (1);\n"
        "LOAD DATA LOCAL INFILE 'two.txt' INTO TABLE t "
        "FIELDS TERMINATED BY ',';\n"
    )
    specs = load_data_specs(str(script))
    assert [s.infile for s in specs] == ["one.txt", "two.txt"]
    assert specs[1].local and specs[1].field_term == ","


# --------------------------------------------------------------------------
# Round-trips: write_outfile → read_tab_dump across the option space
# (the round-10 untested surface)
# --------------------------------------------------------------------------
ADVERSARIAL = [
    (1, "plain", 10.5),
    (2, "tab\there", -3.25),
    (3, "newline\nsplit", 0.0),
    (4, "back\\slash", 1.0),
    (5, "trailing backslash\\", 2.0),
    (6, "comma,field", 3.0),
    (7, 'quote"quote', 4.0),
    (8, "\\N", 5.0),  # literal 2-char string, NOT the NULL marker
    (9, None, None),  # real NULLs
    (10, "mix,\\\"\t\n|x", 6.5),
    (11, "", 7.0),  # empty string stays distinct from NULL
    (12, "ends,", 8.0),
    (13, "\\,escaped-sep-pair", 9.0),
]
SCHEMA = "id INT, txt STRING, num DOUBLE"


def _roundtrip(spark, tmp_path, name, **opts):
    src = spark.createDataFrame(ADVERSARIAL, SCHEMA).coalesce(1)
    out = str(tmp_path / name)
    write_outfile(src, out, **opts)
    got = read_tab_dump(spark, out, SCHEMA, **opts).collect()
    want = {tuple(r) for r in ADVERSARIAL}
    assert {tuple(r) for r in got} == want


def test_roundtrip_default_tab(spark, tmp_path):
    _roundtrip(spark, tmp_path, "tab")


def test_roundtrip_comma_separator(spark, tmp_path):
    """Non-control separator: escaped-pair cuts repaired by the
    aggregate fold (commas, backslash tails, \\,-pairs)."""
    _roundtrip(spark, tmp_path, "comma", field_term=",")


def test_roundtrip_comma_enclosed(spark, tmp_path):
    _roundtrip(spark, tmp_path, "enc", field_term=",", enclosed_by='"')


def test_roundtrip_pipe_separator(spark, tmp_path):
    _roundtrip(spark, tmp_path, "pipe", field_term="|")


def test_roundtrip_crlf_lines(spark, tmp_path):
    src = (
        spark.createDataFrame(ADVERSARIAL, SCHEMA)
        .filter("txt IS NULL OR txt NOT LIKE '%\n%'")
        .coalesce(1)
    )
    out = str(tmp_path / "crlf")
    write_outfile(src, out, line_term="\r\n")
    got = read_tab_dump(spark, out, SCHEMA, line_term="\r\n").collect()
    want = {
        tuple(r)
        for r in ADVERSARIAL
        if r[1] is None or "\n" not in r[1]
    }
    assert {tuple(r) for r in got} == want


def test_encode_load_field_matches_jvm_twin(spark):
    """Driver-side encode_load_field and the Catalyst _encode_field_col
    chain agree byte-for-byte across the adversarial set × options."""
    from pyspark.sql import functions as F

    from mysql2pg_spark.sources.tabdump import _encode_field_col

    vals = [r[1] for r in ADVERSARIAL]
    df = spark.createDataFrame([(v,) for v in vals], "v STRING")
    for opts in (
        {},
        {"field_term": ","},
        {"field_term": ",", "enclosed_by": '"'},
        {"field_term": "|", "enclosed_by": "'"},
    ):
        jvm = [
            r[0]
            for r in df.select(
                _encode_field_col(F.col("v"), **opts)
            ).collect()
        ]
        drv = [encode_load_field(v, **opts) for v in vals]
        assert jvm == drv, opts


def test_escaped_by_empty_csv_delegate(spark, tmp_path):
    """ESCAPED BY '' + ENCLOSED BY: CSV delegate decodes quoted fields
    and maps the unenclosed word NULL to SQL NULL."""
    f = tmp_path / "noesc.csv"
    f.write_text(
        '1,"plain",10.5\n'
        '2,"comma, inside",3.5\n'
        '3,NULL,NULL\n'
        '4,"quote"" doubled",1.0\n'
        "5,bare,2.0\n"
    )
    got = read_tab_dump(
        spark,
        str(f),
        SCHEMA,
        field_term=",",
        enclosed_by='"',
        escaped_by="",
    ).collect()
    by_id = {r.id: (r.txt, r.num) for r in got}
    assert by_id[1] == ("plain", 10.5)
    assert by_id[2] == ("comma, inside", 3.5)
    assert by_id[3] == (None, None)
    assert by_id[4] == ('quote" doubled', 1.0)
    assert by_id[5] == ("bare", 2.0)


def test_escaped_by_empty_unenclosed_word_null(spark, tmp_path):
    f = tmp_path / "noesc.tsv"
    f.write_text("1\tNULL\t2.0\n2\tok\t3.0\n")
    got = read_tab_dump(spark, str(f), SCHEMA, escaped_by="").collect()
    by_id = {r.id: r.txt for r in got}
    assert by_id[1] is None and by_id[2] == "ok"


def test_ignore_lines_single_file(spark, tmp_path):
    f = tmp_path / "hdr.txt"
    f.write_text("# header\n# more\n1\tx\t1.0\n2\ty\t2.0\n")
    got = read_tab_dump(spark, str(f), SCHEMA, ignore_lines=2).collect()
    assert sorted(r.id for r in got) == [1, 2]


def test_ignore_lines_refuses_multiple_files(spark, tmp_path):
    """ADVICE r10: Spark orders splits by size, so a multi-file IGNORE n
    would skip lines from an arbitrary file — must refuse."""
    d = tmp_path / "many"
    d.mkdir()
    (d / "a.txt").write_text("h\n1\tx\t1.0\n")
    (d / "b.txt").write_text("h\n2\ty\t2.0\n")
    with pytest.raises(ValueError, match="exactly one input file"):
        read_tab_dump(spark, str(d), SCHEMA, ignore_lines=1)


def test_line_start_prefix(spark, tmp_path):
    """LINES STARTING BY: content before the prefix drops; lines
    without the prefix are skipped entirely (MySQL's rule)."""
    f = tmp_path / "pfx.txt"
    f.write_text(
        "junk>>>1\tx\t1.0\n"
        "no prefix line\n"
        ">>>2\ty\t2.0\n"
    )
    got = read_tab_dump(spark, str(f), SCHEMA, line_start=">>>").collect()
    assert sorted(r.id for r in got) == [1, 2]


@given(
    st.lists(
        st.one_of(
            st.none(),
            st.text(
                alphabet=st.characters(blacklist_categories=("Cs",)),
                max_size=20,
            ),
        ),
        min_size=1,
        max_size=6,
    ),
    st.sampled_from([",", "|", ";", "~"]),
)
@settings(max_examples=60, deadline=None)
def test_encode_split_repair_property(row, sep):
    """Property: encoding a row with a non-control separator and
    re-splitting through the driver-side mirror of the repair rule
    recovers the fields — i.e. a raw-split cut only ever happens inside
    an escaped pair, and the odd-backslash-tail fold repairs it."""
    import re

    enc = [encode_load_field(v, field_term=sep) for v in row]
    line = sep.join(enc)
    parts = line.split(sep)
    merged: list[str] = []
    for p in parts:
        if merged and re.search(r"(^|[^\\])(\\\\)*\\$", merged[-1]):
            merged[-1] = merged[-1] + sep + p
        else:
            merged.append(p)
    assert merged == enc


# --------------------------------------------------------------------------
# read_load_data: spec → DataFrame routing
# --------------------------------------------------------------------------
def test_read_load_data_with_options(spark, tmp_path):
    src = spark.createDataFrame(ADVERSARIAL, SCHEMA).coalesce(1)
    out = str(tmp_path / "t_data")
    write_outfile(src, out, field_term=",", enclosed_by='"')
    spec = parse_load_data(
        f"LOAD DATA INFILE '{out}' INTO TABLE t "
        "FIELDS TERMINATED BY ',' ENCLOSED BY '\"'"
    )
    got = read_load_data(spark, spec, SCHEMA).collect()
    assert {tuple(r) for r in got} == {tuple(r) for r in ADVERSARIAL}


def test_read_load_data_relative_path_and_columns(spark, tmp_path):
    """Relative INFILE resolves against base_dir; a column list reads
    the file's subset and NULL-fills the table's other columns."""
    src = spark.createDataFrame(
        [(r[0], r[1]) for r in ADVERSARIAL], "id INT, txt STRING"
    ).coalesce(1)
    write_outfile(src, str(tmp_path / "sub.txt"))
    spec = parse_load_data(
        "LOAD DATA INFILE 'sub.txt' INTO TABLE t (id, txt)"
    )
    got = read_load_data(
        spark, spec, SCHEMA, base_dir=str(tmp_path)
    ).collect()
    assert got[0].__fields__ == ["id", "txt", "num"]
    assert {(r.id, r.txt, r.num) for r in got} == {
        (r[0], r[1], None) for r in ADVERSARIAL
    }


# --------------------------------------------------------------------------
# source_reader seam: a script mixing LOAD DATA and INSERT bulk
# --------------------------------------------------------------------------
def test_source_reader_mixed_script(spark, tmp_path):
    src = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b,c\\", 2.5)], SCHEMA
    ).coalesce(1)
    write_outfile(
        src, str(tmp_path / "big.csv"), field_term=",", enclosed_by='"'
    )
    script = tmp_path / "restore.sql"
    script.write_text(
        "CREATE TABLE t (id INT, txt VARCHAR(20), num DOUBLE);\n"
        "CREATE TABLE small (k INT, v VARCHAR(10));\n"
        "LOAD DATA INFILE 'big.csv' INTO TABLE t "
        "FIELDS TERMINATED BY ',' ENCLOSED BY '\"';\n"
        "INSERT INTO t VALUES (3, 'ins', 3.5);\n"
        "INSERT INTO small VALUES (1, 'x'), (2, 'y');\n"
    )
    reader = load_data_source_reader(
        str(script),
        {"t": SCHEMA, "small": "k INT, v STRING"},
    )
    t_rows = {tuple(r) for r in reader(spark, {"table": "t"}).collect()}
    assert t_rows == {(1, "a", 1.5), (2, "b,c\\", 2.5), (3, "ins", 3.5)}
    small = {tuple(r) for r in reader(spark, {"table": "small"}).collect()}
    assert small == {(1, "x"), (2, "y")}


def test_source_reader_end_to_end_migration(spark, tmp_path):
    """A dump whose bulk arrives via LOAD DATA migrates end-to-end
    through execute() with parquet endpoints — the 'hand-written
    migration script carrying LOAD DATA' case the round-10 verdict
    flagged."""
    from mysql2pg_spark.config import EngineConfig
    from mysql2pg_spark.orchestrator import MigrationPipeline
    from mysql2pg_spark.runlog import RunLogger
    from mysql2pg_spark.sinks.ddl import RecordingConnection
    from mysql2pg_spark.tables import parquet_endpoints
    from mysql2pg_spark.sources.dumpfile import (
        dump_read_schemas,
        full_snapshot_from_dump,
    )

    src = spark.createDataFrame(
        [(i, f"name{i}", float(i) / 4) for i in range(1, 201)], SCHEMA
    ).coalesce(1)
    write_outfile(src, str(tmp_path / "t.txt"))
    script = tmp_path / "dump.sql"
    script.write_text(
        "CREATE TABLE t (\n"
        "  id INT NOT NULL,\n"
        "  txt VARCHAR(30),\n"
        "  num DOUBLE,\n"
        "  PRIMARY KEY (id)\n"
        ");\n"
        "LOAD DATA INFILE 't.txt' INTO TABLE t;\n"
    )
    snap = full_snapshot_from_dump(spark, str(script))
    schemas = dump_read_schemas(snap)
    reader = load_data_source_reader(str(script), schemas)
    pipe = MigrationPipeline(EngineConfig(), snap)
    result = pipe.execute(
        spark,
        RecordingConnection(),
        **parquet_endpoints(
            lambda t: reader(spark, {"table": t}), str(tmp_path / "sink")
        ),
        logger=RunLogger(str(tmp_path / "logs")),
    )
    assert result["synced"] == {"t": 200}
    assert result["validation"]["t"]["consistent"]


def _load_data_dump(spark, tmp_path):
    """(config path, dump path) of a dump whose bulk is a LOAD DATA
    statement (50 rows) plus one INSERT (id 99)."""
    import yaml

    src = spark.createDataFrame(
        [(i, f"u{i}", float(i) * 1.5) for i in range(1, 51)],
        "id INT, name STRING, score DOUBLE",
    ).coalesce(1)
    write_outfile(
        src, str(tmp_path / "users.csv"), field_term=",", enclosed_by='"'
    )
    dump = tmp_path / "dump.sql"
    dump.write_text(
        "CREATE TABLE `users` (\n"
        "  `id` int NOT NULL,\n"
        "  `name` varchar(30) DEFAULT NULL,\n"
        "  `score` double DEFAULT NULL,\n"
        "  PRIMARY KEY (`id`)\n"
        ");\n"
        "LOAD DATA INFILE 'users.csv' INTO TABLE users "
        "FIELDS TERMINATED BY ',' ENCLOSED BY '\"';\n"
        "INSERT INTO `users` VALUES (99,'manual',0.5);\n"
    )
    cfgp = tmp_path / "cfg.yml"
    cfgp.write_text(yaml.safe_dump({
        "mysql": {"host": "h", "database": "d"},
        "postgresql": {"host": "p", "database": "d"},
        "conversion": {
            "options": {},
            "limits": {"concurrency": 1, "max_rows_per_batch": 100},
        },
    }))
    return cfgp, dump


def test_cli_duckdb_mode_with_load_data_dump(
    spark, tmp_path, capsys, monkeypatch
):
    """The top-level CLI --mode duckdb path over a dump whose bulk is a
    LOAD DATA statement: schema from the dump, data through the parsed
    statement's file, cross-engine validation green in a real engine."""
    import json

    import duckdb

    from mysql2pg_spark.__main__ import main

    monkeypatch.chdir(tmp_path)  # the run log lands under ./logs

    cfgp, dump = _load_data_dump(spark, tmp_path)
    db = tmp_path / "target.duckdb"
    rc = main([
        "-c", str(cfgp),
        "--mode", "duckdb",
        "--dump-file", str(dump),
        "--duckdb-file", str(db),
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["synced"] == {"users": 51}  # 50 loaded + 1 inserted
    assert out["validation"] == {"users": True}
    con = duckdb.connect(str(db))
    assert con.execute(
        "SELECT name FROM users WHERE id = 7"
    ).fetchone()[0] == "u7"
    assert con.execute(
        "SELECT name FROM users WHERE id = 99"
    ).fetchone()[0] == "manual"
    con.close()


def test_cli_pgexport_mode_with_load_data_dump(spark, tmp_path, capsys):
    """--mode pgexport resolves the dump through the same source reader
    as duckdb mode, so the LOAD DATA bulk reaches the COPY artifact: all
    51 rows, not only the one INSERT."""
    import json

    from mysql2pg_spark.__main__ import main
    from tests.test_copyexport import _read_copy_dir

    cfgp, dump = _load_data_dump(spark, tmp_path)
    out = tmp_path / "pgout"
    rc = main([
        "-c", str(cfgp),
        "--mode", "pgexport",
        "--dump-file", str(dump),
        "--pg-out", str(out),
    ])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["tables"] == ["users"]
    rows = _read_copy_dir(str(out / "users.copy"))
    assert len(rows) == 51
    names = {int(r[0]): r[1] for r in rows}
    assert names[7] == "u7" and names[99] == "manual"


# --------------------------------------------------------------------------
# render ↔ parse property (round 11: the renderer authors the --tab
# export's restore script, so the parser must invert it exactly)
# --------------------------------------------------------------------------
_SAFE_TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), min_size=1,
    max_size=8,
)


@st.composite
def _specs(draw):
    field_term = draw(st.sampled_from(["\t", ",", "|", ";", "~", "\x01"]))
    escaped_by = draw(st.sampled_from(["\\", ""]))
    enclosed_by = draw(st.sampled_from([None, '"', "'"]))
    line_start = draw(st.sampled_from(["", ">>>", "x "]))
    line_term = draw(st.sampled_from(["\n", "\r\n"]))
    cols = draw(
        st.lists(
            st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,6}", fullmatch=True),
            max_size=3,
        )
    )
    return LoadDataSpec(
        table=draw(st.from_regex(r"[A-Za-z_]\w{0,8}", fullmatch=True)),
        infile=draw(_SAFE_TEXT),
        local=draw(st.booleans()),
        duplicates=draw(st.sampled_from([None, "REPLACE", "IGNORE"])),
        field_term=field_term,
        enclosed_by=enclosed_by,
        optionally_enclosed=draw(st.booleans()) if enclosed_by else False,
        escaped_by=escaped_by,
        line_start=line_start,
        line_term=line_term,
        ignore_lines=draw(st.integers(0, 5)),
        columns=cols,
    )


@given(_specs())
@settings(max_examples=300, deadline=None)
def test_render_parse_roundtrip(spec):
    from mysql2pg_spark.sources.loaddata import render_load_data

    assert parse_load_data(render_load_data(spec)) == spec


@given(_SAFE_TEXT)
@settings(max_examples=300, deadline=None)
def test_literal_quote_unquote_roundtrip(s):
    from mysql2pg_spark.sources.loaddata import quote_mysql_literal

    lit = quote_mysql_literal(s)
    assert unquote_mysql_literal(lit[1:-1]) == s


def test_ignore_lines_refuses_remote_uri(spark):
    """The single-file guard can only verify LOCAL paths — a remote
    URI (s3a://, hdfs://) with IGNORE n LINES refuses instead of
    silently trusting an unverifiable input (review r11)."""
    with pytest.raises(ValueError, match="LOCAL"):
        read_tab_dump(
            spark, "s3a://bucket/t.txt", SCHEMA, ignore_lines=1
        )


def test_ignore_lines_refuses_missing_path(spark, tmp_path):
    with pytest.raises(ValueError, match="resolves to 0"):
        read_tab_dump(
            spark, str(tmp_path / "nope.txt"), SCHEMA, ignore_lines=1
        )


def test_omitted_columns_fill_from_default_metadata(spark, tmp_path):
    """ADVICE r11: MySQL fills columns absent from a LOAD DATA column
    list from their DEFAULTs, not with NULL — when the schema carries
    default metadata (struct_field_for), the reader now does too;
    CURRENT_* defaults evaluate at load time; columns without metadata
    still read NULL (named-warning divergence)."""
    from pyspark.sql.types import StructType

    from mysql2pg_spark.schema.schema_map import struct_field_for
    from mysql2pg_spark.sources.loaddata import (
        parse_load_data,
        read_load_data,
    )

    f = tmp_path / "rows.txt"
    f.write_text("1\n2\n")
    spec = parse_load_data(
        f"LOAD DATA INFILE '{f}' INTO TABLE t (`id`)"
    )
    schema = StructType([
        struct_field_for("id", "bigint", nullable=False),
        struct_field_for("qty", "int", nullable=False, default="7"),
        struct_field_for("label", "varchar(10)", default="none"),
        struct_field_for("ts", "datetime", default="CURRENT_TIMESTAMP"),
        struct_field_for("note", "text"),  # no default → NULL
    ])
    rows = {r.id: r for r in read_load_data(spark, spec, schema).collect()}
    assert set(rows) == {1, 2}
    assert rows[1].qty == 7 and rows[1].label == "none"
    assert rows[1].ts is not None  # CURRENT_TIMESTAMP evaluated
    assert rows[1].note is None


def test_omitted_expression_default_loads_null_not_source_text(
    spark, tmp_path
):
    """Review r12: a MySQL 8 expression DEFAULT ((uuid()) etc.) cannot
    be evaluated by the loader — the old F.lit(default) injected the
    SOURCE TEXT as data; now it loads NULL with a named warning, like
    the no-metadata case."""
    from pyspark.sql.types import StructType

    from mysql2pg_spark.schema.schema_map import struct_field_for
    from mysql2pg_spark.sources.loaddata import (
        parse_load_data,
        read_load_data,
    )

    f = tmp_path / "rows.txt"
    f.write_text("1\n")
    spec = parse_load_data(
        f"LOAD DATA INFILE '{f}' INTO TABLE t (`id`)"
    )
    schema = StructType([
        struct_field_for("id", "bigint", nullable=False),
        struct_field_for("token", "varchar(36)", default="EXPR:(uuid())"),
        struct_field_for("tag", "varchar(10)", default="uuid()"),
        # a LITERAL default that merely contains parens stays a value
        # (review r12b: the broader startswith-'(' test NULLed it)
        struct_field_for("label", "varchar(10)", default="(none)"),
    ])
    (row,) = read_load_data(spark, spec, schema).collect()
    assert row.token is None  # NOT the literal text '(uuid())'
    assert row.tag is None
    assert row.label == "(none)"
