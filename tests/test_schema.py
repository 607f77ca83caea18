"""Schema mapper + DDL emitter unit tests (SURVEY §5.2 item 2: the §1.3
type matrix as parametrized cases)."""

from __future__ import annotations

import pytest
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DecimalType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    TimestampType,
)

from mysql2pg_spark.schema.identifiers import (
    normalize_identifier,
    pg_index_name,
    quote_pg,
)
from mysql2pg_spark.schema.schema_map import map_mysql_type, struct_field_for
from mysql2pg_spark.sinks.ddl import (
    IndexSpec,
    create_index_ddl,
    create_table_ddl,
    comment_ddl,
    grant_ddl,
)


@pytest.mark.parametrize(
    "mysql,spark_type,pg",
    [
        ("tinyint(1)", ShortType(), "BOOLEAN"),  # numeric engine-side
        ("tinyint", ShortType(), "SMALLINT"),
        ("smallint", ShortType(), "SMALLINT"),
        ("mediumint", IntegerType(), "INTEGER"),
        ("int(11)", IntegerType(), "INTEGER"),
        ("int unsigned", LongType(), "BIGINT"),
        ("year", IntegerType(), "INTEGER"),
        ("bigint(20)", LongType(), "BIGINT"),
        ("decimal(10,2)", DecimalType(10, 2), "DECIMAL(10,2)"),
        ("float", None, "REAL"),
        ("double(10,2)", None, "DOUBLE PRECISION"),
        ("char(10)", StringType(), "CHAR(10)"),
        ("char(0)", StringType(), "CHAR(10)"),
        ("varchar(255)", StringType(), "VARCHAR(255)"),
        ("varchar(0)", StringType(), "VARCHAR(1)"),
        ("longtext", StringType(), "TEXT"),
        ("varbinary(255)", BinaryType(), "BYTEA"),
        ("datetime(3)", TimestampType(), "TIMESTAMP(3)"),
        ("time(6)", StringType(), "TIME(6)"),
        ("json", StringType(), "JSON"),
        ("enum('a','b')", StringType(), "VARCHAR(255)"),
        ("point", StringType(), "POINT"),
        ("geometry", StringType(), "TEXT"),
    ],
)
def test_type_matrix(mysql, spark_type, pg):
    m = map_mysql_type(mysql)
    assert m.pg_type == pg
    if spark_type is not None:
        assert m.spark_type == spark_type


def test_decimal_clamp():
    m = map_mysql_type("decimal(65,30)")
    assert m.pg_type == "DECIMAL(65,30)"  # sink keeps full precision
    assert m.spark_type == DecimalType(38, 3)  # engine clamps, scale adjusted
    assert "clamped" in m.notes


def test_auto_increment_serial():
    assert map_mysql_type("int", auto_increment=True).pg_type == "SERIAL"
    assert map_mysql_type("bigint", auto_increment=True).pg_type == "BIGSERIAL"


def test_identifiers():
    assert normalize_identifier("`MyCol`", lowercase=True) == "mycol"
    assert quote_pg("user") == '"user"'  # reserved
    assert quote_pg("simple_col") == "simple_col"
    assert quote_pg("MixedCase") == '"MixedCase"'
    long_idx = pg_index_name("t" * 40, "i" * 40)
    assert len(long_idx) == 63


def test_create_table_ddl():
    schema_fields = [
        struct_field_for("id", "int", nullable=False, auto_increment=True),
        struct_field_for("name", "varchar(50)", comment="the name"),
        struct_field_for("rank", "int"),  # reserved word → quoted
    ]
    from pyspark.sql.types import StructType

    ddl = create_table_ddl(
        "t1", StructType(schema_fields), primary_key=["id"]
    )
    assert 'CREATE TABLE IF NOT EXISTS t1' in ddl
    assert "id SERIAL NOT NULL" in ddl
    assert "name VARCHAR(50)" in ddl
    assert '"rank" INTEGER' in ddl
    assert "PRIMARY KEY (id)" in ddl

    ddl2 = create_table_ddl(
        "t1", StructType(schema_fields), primary_key=["id"], identity_style="identity"
    )
    assert "GENERATED BY DEFAULT AS IDENTITY" in ddl2

    comments = comment_ddl("t1", StructType(schema_fields))
    assert comments == ["COMMENT ON COLUMN t1.name IS 'the name'"]


def test_composite_pk_kept():
    """The reference silently drops composite PKs (SURVEY C92) — we keep
    them."""
    from pyspark.sql.types import StructType

    fields = [struct_field_for("a", "int"), struct_field_for("b", "int")]
    ddl = create_table_ddl("t2", StructType(fields), primary_key=["a", "b"])
    assert "PRIMARY KEY (a, b)" in ddl


def test_index_and_grant_ddl():
    ddl = create_index_ddl("orders", IndexSpec("idx_cust", ["o_custkey"]))
    assert ddl == (
        "CREATE INDEX IF NOT EXISTS orders_idx_cust ON orders (o_custkey)"
    )
    uddl = create_index_ddl("orders", IndexSpec("u", ["a", "b"], unique=True))
    assert "CREATE UNIQUE INDEX" in uddl
    grants = grant_ddl("t", "bob", "Select,Insert")
    assert grants == ["GRANT SELECT, INSERT ON t TO bob"]
    assert grant_ddl("t", "bob", "Select,All") == ["GRANT ALL ON t TO bob"]


# ---- C95 sink half: plpgsql emission --------------------------------------


def test_plpgsql_emission_all_fixture_functions():
    """Every fixture function emits a complete, well-formed plpgsql DDL
    (reference pipeline: sync_functions.go:173-213 over
    scripts/mysql/create_function.sql)."""
    from mysql2pg_spark.sinks.plpgsql import FIXTURE_FUNCTIONS, emit_plpgsql

    names = set()
    for spec in FIXTURE_FUNCTIONS:
        ddl = emit_plpgsql(spec)
        names.add(spec.name)
        assert ddl.startswith(f"CREATE OR REPLACE FUNCTION {spec.name}(")
        assert "RETURNS VARCHAR(255)" in ddl
        assert "STABLE AS $$" in ddl            # READS SQL DATA mapping
        assert "DECLARE\n    result VARCHAR(255);" in ddl
        assert "INTO result;" in ddl
        assert "RETURN result;" in ddl
        assert ddl.rstrip().endswith("$$ LANGUAGE plpgsql;")
    assert names == {"get_joined_data", "get_combined_data", "get_detailed_data"}


def test_plpgsql_golden_text():
    """Exact-text golden for the simplest spec — locks the generator's
    output shape (header, declare block, INTO/RETURN tail)."""
    from mysql2pg_spark.sinks.plpgsql import PlpgsqlFunctionSpec, emit_plpgsql

    ddl = emit_plpgsql(
        PlpgsqlFunctionSpec(
            name="Get_Total",
            params=[("p_id", "INTEGER")],
            returns="NUMERIC",
            body_select="SELECT sum(amount) FROM orders WHERE id = p_id",
            comment="order total",
        )
    )
    assert ddl == (
        "CREATE OR REPLACE FUNCTION get_total(p_id INTEGER)\n"
        "RETURNS NUMERIC\n"
        "STABLE AS $$\n"
        "DECLARE\n"
        "    result NUMERIC;\n"
        "BEGIN\n"
        "    SELECT sum(amount) FROM orders WHERE id = p_id\n"
        "    INTO result;\n"
        "    RETURN result;\n"
        "END;\n"
        "$$ LANGUAGE plpgsql;\n"
        "COMMENT ON FUNCTION get_total IS 'order total';"
    )


def test_plpgsql_semantic_fixes_present():
    """The MySQL-only spellings are re-expressed, not copied: PG needs
    ::text casts inside COALESCE-with-literal and ::int for tinyint(1)
    rendering parity."""
    from mysql2pg_spark.sinks.plpgsql import GET_COMBINED_DATA, emit_plpgsql

    ddl = emit_plpgsql(GET_COMBINED_DATA)
    assert "COALESCE(i.col_int::text, 'N/A')" in ddl
    assert "b.is_active::int" in ddl
    assert "LIMIT 1" in ddl


def test_plan_emits_function_stage():
    """The orchestrator's functions stage carries the emitted plpgsql
    between views and users (STAGE_ORDER parity with manager.go)."""
    from mysql2pg_spark.config import EngineConfig
    from mysql2pg_spark.orchestrator import CatalogSnapshot, MigrationPipeline
    from mysql2pg_spark.sinks.plpgsql import FIXTURE_FUNCTIONS

    cfg = EngineConfig()
    cfg.options.functions = True
    cfg.options.tableddl = cfg.options.data = cfg.options.indexes = False
    cfg.options.users = cfg.options.table_privileges = False
    plan = MigrationPipeline(
        cfg, CatalogSnapshot(functions=list(FIXTURE_FUNCTIONS))
    ).plan()
    fn_actions = [a for a in plan if a.stage == "functions"]
    assert [a.target for a in fn_actions] == [
        "get_joined_data", "get_combined_data", "get_detailed_data"
    ]
    assert all("LANGUAGE plpgsql" in a.payload for a in fn_actions)


def test_reference_fixture_type_matrix_maps_completely():
    """Every distinct column type exercised by the reference's 64-table
    create_table.sql fixture (scripts/mysql/create_table.sql) maps to a
    Spark type and PG DDL type without error — the full A4/C86-C92
    surface, not just the common cases."""
    from mysql2pg_spark.schema.schema_map import map_mysql_type

    fixture_types = [
        "tinyint", "tinyint(1)", "tinyint unsigned", "smallint",
        "mediumint", "int", "int unsigned", "integer", "bigint",
        "bigint unsigned", "decimal(10,2)", "numeric(8,3)", "float",
        "double", "bit(1)", "bit(8)",
        "char(10)", "varchar(255)", "tinytext", "text", "mediumtext",
        "longtext", "binary(16)", "varbinary(64)", "tinyblob", "blob",
        "mediumblob", "longblob",
        "date", "datetime", "datetime(6)", "timestamp", "time", "year",
        "enum('a','b')", "set('x','y')", "json",
        "point", "geometry", "linestring", "polygon", "multipoint",
        "multilinestring", "multipolygon", "geometrycollection",
        "varchar(20) character set utf8mb4", "int zerofill",
    ]
    for t in fixture_types:
        m = map_mysql_type(t)
        assert m.spark_type is not None, t
        assert isinstance(m.pg_type, str) and m.pg_type, t

    # the mappings that carry semantics, spot-checked
    def pg(t):
        return map_mysql_type(t).pg_type.upper()

    assert pg("tinyint unsigned") in ("SMALLINT", "INTEGER")
    assert pg("bigint unsigned").startswith("NUMERIC")
    assert pg("decimal(10,2)").startswith(("NUMERIC", "DECIMAL"))
    assert pg("json") in ("JSON", "JSONB")
    assert "BYTEA" in pg("blob")
    assert pg("enum('a','b')").startswith(("VARCHAR", "TEXT"))


def test_plpgsql_comment_quotes_escaped():
    """Apostrophes in a function comment must not break the COMMENT ON
    statement (SQL single-quote doubling)."""
    from mysql2pg_spark.sinks.plpgsql import PlpgsqlFunctionSpec, emit_plpgsql

    spec = PlpgsqlFunctionSpec(
        name="f",
        params=[("p", "INTEGER")],
        returns="INTEGER",
        body_select="SELECT p",
        comment="the user's favorite",
    )
    ddl = emit_plpgsql(spec)
    assert "IS 'the user''s favorite';" in ddl


# ---- general MySQL function DDL → plpgsql (C95 spec builder) --------------

NONFIXTURE_FN = """
CREATE DEFINER=`root`@`localhost` FUNCTION `customer_tier`(
    `p_custkey` INT UNSIGNED, p_asof DATETIME
) RETURNS varchar(32) CHARSET utf8mb4
    READS SQL DATA
    COMMENT 'tier for the customer''s lifetime spend'
BEGIN
    DECLARE v_total DECIMAL(12,2) DEFAULT 0;
    SELECT IFNULL(SUM(o.o_totalprice), 0)
      INTO v_total
      FROM orders o
     WHERE o.o_custkey = p_custkey AND o.o_orderdate <= p_asof;
    RETURN v_total;
END
"""


def test_build_spec_from_mysql_full_function():
    """A NON-fixture function round-trips: signature, volatility,
    comment, DECLARE DEFAULT, SELECT…INTO body, builtin rewrites."""
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import build_spec_from_mysql

    spec = build_spec_from_mysql(NONFIXTURE_FN)
    assert spec.name == "customer_tier"
    assert spec.params == [("p_custkey", "BIGINT"), ("p_asof", "TIMESTAMP")]
    assert spec.returns == "VARCHAR(32)"
    assert spec.volatility == "STABLE"            # READS SQL DATA
    assert spec.comment == "tier for the customer's lifetime spend"
    assert spec.into_var == "v_total"
    assert spec.declares == [("v_total", "DECIMAL(12,2) := 0")]
    assert "COALESCE(SUM(o.o_totalprice), 0)" in spec.body_select
    assert "INTO" not in spec.body_select.upper()

    ddl = emit_plpgsql(spec)
    assert "CREATE OR REPLACE FUNCTION customer_tier(p_custkey BIGINT, p_asof TIMESTAMP)" in ddl
    assert "RETURNS VARCHAR(32)" in ddl
    assert "STABLE AS $$" in ddl
    assert "v_total DECIMAL(12,2) := 0;" in ddl
    assert "INTO v_total;" in ddl and "RETURN v_total;" in ddl
    assert "IS 'tier for the customer''s lifetime spend';" in ddl


def test_build_spec_bare_return_and_builtins():
    """RETURN-expression bodies (no BEGIN) and the builtin rewrite set:
    IF→CASE, CONCAT→||, DATE_FORMAT→TO_CHAR with token conversion."""
    from mysql2pg_spark.sinks.plpgsql_builder import build_spec_from_mysql

    spec = build_spec_from_mysql(
        "CREATE FUNCTION label_for(d DATETIME, n INT) RETURNS VARCHAR(64) "
        "DETERMINISTIC "
        "RETURN CONCAT(DATE_FORMAT(d, '%Y-%m-%d %H:%i:%s'), '#', "
        "IF(n > 0, 'pos', 'neg'));"
    )
    assert spec.volatility == "IMMUTABLE"         # DETERMINISTIC
    assert spec.into_var == "result"
    assert spec.body_select == (
        "SELECT (CAST(to_char(CAST(d AS TIMESTAMP), 'YYYY-MM-DD HH24:MI:SS')"
        " AS TEXT) || '#' || CAST(CASE WHEN n > 0 THEN 'pos' ELSE 'neg' END"
        " AS TEXT))"
    )


def test_build_spec_unsupported_constructs_raise():
    """@vars / exotic handlers / RETURN-INTO mismatches still fail
    loudly (cursors and loops now translate via the round-6 procedural
    path — see test_cursor_repeat_function_golden); silent
    mistranslation is worse than an explicit skip."""
    import pytest

    from mysql2pg_spark.sinks.plpgsql_builder import (
        UnsupportedFunctionError,
        build_spec_from_mysql,
    )

    head = "CREATE FUNCTION f() RETURNS INT READS SQL DATA BEGIN "
    for body, what in (
        # plain @vars translate since round 9; the read-only @@subset
        # maps since round 12 — @@server state WITHOUT a faithful PG
        # analog (different names/units, e.g. sql_mode) still refuses
        ("SET @c = @@sql_mode; RETURN @c; END",
         "system/session variables"),
        # a statement neither the declarative nor the procedural path
        # can express (round 9: shape mismatches now FALL BACK to the
        # statement-tree parser, so the surviving refusals are its own)
        ("TRUNCATE TABLE t; RETURN 1; END", "unsupported statement"),
        # SQLEXCEPTION and specific-SQLSTATE handlers both translate
        # since round 7; what still refuses is a handler for SQLWARNING
        # or a named CONDITION — no plpgsql EXCEPTION analog
        ("DECLARE done INT DEFAULT 0; "
         "DECLARE CONTINUE HANDLER FOR SQLWARNING SET done = 1; "
         "RETURN done; END", "HANDLER"),
    ):
        with pytest.raises(UnsupportedFunctionError, match=what):
            build_spec_from_mysql(head + body)


def test_plan_converts_raw_function_ddl(tmp_path):
    """plan(): raw DDL strings in snapshot.functions become plpgsql DDL
    actions; unsupported ones surface as visible skip actions."""
    from mysql2pg_spark.orchestrator import CatalogSnapshot, MigrationPipeline
    from tests.test_orchestrator import _cfg

    cfg = _cfg(tmp_path)
    cfg.options.functions = True
    snap = CatalogSnapshot(
        tables=[],
        functions=[
            NONFIXTURE_FN,
            # @@sql_mode has no faithful current_setting analog (round
            # 12 maps only the read-only subset that does) → skip
            "CREATE FUNCTION bad() RETURNS INT BEGIN "
            "SET @c = @@sql_mode; RETURN @c; END",
        ],
    )
    actions = [a for a in MigrationPipeline(cfg, snap).plan()
               if a.stage == "functions"]
    kinds = sorted(a.kind for a in actions)
    assert kinds == ["ddl", "skip"]
    ddl = next(a for a in actions if a.kind == "ddl")
    assert ddl.target == "customer_tier"
    assert "CREATE OR REPLACE FUNCTION customer_tier" in ddl.payload
    skip = next(a for a in actions if a.kind == "skip")
    assert "system/session variables" in skip.payload


def test_build_spec_set_statements_become_assignments():
    """MySQL `SET v = expr;` body statements emit as plpgsql `v := expr`
    before the SELECT; out-of-order bodies are rejected, not reordered."""
    import pytest

    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import (
        UnsupportedFunctionError,
        build_spec_from_mysql,
    )

    spec = build_spec_from_mysql(
        "CREATE FUNCTION rate_label(p INT) RETURNS VARCHAR(20) DETERMINISTIC "
        "BEGIN "
        "DECLARE v_rate INT; "
        "SET v_rate = IFNULL(p, 0) * 2; "
        "RETURN CONCAT('rate:', v_rate); "
        "END"
    )
    assert spec.pre_statements == ["v_rate := COALESCE(p, 0) * 2"]
    ddl = emit_plpgsql(spec)
    assert "BEGIN\n    v_rate := COALESCE(p, 0) * 2;\n" in ddl
    assert "('rate:' || CAST(v_rate AS TEXT))" in ddl

    # round 9: a body OUTSIDE the SET*→SELECT?→RETURN shape no longer
    # refuses — it falls back to the statement-tree path, which keeps
    # MySQL's execution order instead of reordering
    spec = build_spec_from_mysql(
        "CREATE FUNCTION g(p INT) RETURNS INT DETERMINISTIC BEGIN "
        "DECLARE v INT; SELECT p INTO v; SET v = v + 1; RETURN v; END"
    )
    assert spec.procedural is not None
    out = emit_plpgsql(spec)
    assert out.index("INTO v;") < out.index("v := v + 1;")


def test_schema_diff_executes_against_real_engine():
    """diff_snapshots: the emitted catch-up plan EXECUTES in a real
    engine (DuckDB) and lands the target on the new schema — add column
    (with and without default), widen a type, flip nullability, add a
    table; destructive drops stay commented without allow_drop."""
    import duckdb

    from mysql2pg_spark.orchestrator import (
        CatalogSnapshot,
        ColumnMeta,
        TableMeta,
    )
    from mysql2pg_spark.schema.diff import diff_snapshots
    from mysql2pg_spark.sinks.ddl import adapt_ddl

    old = CatalogSnapshot(
        tables=[
            TableMeta(
                "users",
                [
                    ColumnMeta("id", "bigint", nullable=False),
                    ColumnMeta("name", "varchar(50)"),
                    ColumnMeta("age", "smallint"),
                    ColumnMeta("legacy", "text"),
                ],
            )
        ]
    )
    new = CatalogSnapshot(
        tables=[
            TableMeta(
                "users",
                [
                    ColumnMeta("id", "bigint", nullable=False),
                    ColumnMeta("name", "varchar(200)", nullable=False),
                    ColumnMeta("age", "int"),  # widened
                    ColumnMeta("email", "varchar(100)", default="''"),
                    # NOT NULL without default -> nullable + NOTE
                    ColumnMeta("score", "double", nullable=False),
                ],
            ),
            TableMeta("events2", [ColumnMeta("eid", "bigint")]),
        ]
    )

    plan = diff_snapshots(old, new)
    # legacy column drop must be a commented skip by default
    assert any(
        s.startswith("-- SKIPPED") and "legacy" in s for s in plan
    )
    assert any("NOTE users.score" in s for s in plan)
    assert diff_snapshots(old, new, allow_drop=True) != plan

    con = duckdb.connect()
    con.execute(
        'CREATE TABLE "users" ("id" BIGINT NOT NULL, "name" VARCHAR(50), '
        '"age" SMALLINT, "legacy" TEXT)'
    )
    con.execute("INSERT INTO users VALUES (1, 'a', 3, 'x')")
    for stmt in plan:
        if stmt.startswith("--"):
            continue
        con.execute(adapt_ddl(stmt, "duckdb") or stmt)

    cols = {
        r[0]: r[1]
        for r in con.execute(
            "SELECT column_name, data_type FROM information_schema.columns "
            "WHERE table_name = 'users'"
        ).fetchall()
    }
    assert cols["age"] == "INTEGER"
    assert "email" in cols and "score" in cols
    assert "legacy" in cols  # not dropped without allow_drop
    # name NOT NULL flip applied
    assert con.execute(
        "SELECT is_nullable FROM information_schema.columns "
        "WHERE table_name='users' AND column_name='name'"
    ).fetchone()[0] == "NO"
    # new table exists
    assert con.execute(
        "SELECT count(*) FROM information_schema.tables "
        "WHERE table_name = 'events2'"
    ).fetchone()[0] == 1


def test_schema_diff_pk_and_comment_drift():
    """PK changes re-key the constraint; comment drift emits COMMENT ON
    — and the statements execute in DuckDB."""
    import duckdb

    from mysql2pg_spark.orchestrator import (
        CatalogSnapshot,
        ColumnMeta,
        TableMeta,
    )
    from mysql2pg_spark.schema.diff import diff_snapshots
    from mysql2pg_spark.sinks.ddl import adapt_ddl

    cols = [
        ColumnMeta("a", "bigint", nullable=False),
        ColumnMeta("b", "bigint", nullable=False, comment="old note"),
    ]
    cols_new = [
        ColumnMeta("a", "bigint", nullable=False),
        ColumnMeta("b", "bigint", nullable=False, comment="new note"),
    ]
    old = CatalogSnapshot(
        tables=[TableMeta("kv", cols, primary_key=["a"])]
    )
    new = CatalogSnapshot(
        tables=[
            TableMeta(
                "kv", cols_new, comment="the kv table",
                primary_key=["a", "b"],
            )
        ]
    )
    plan = diff_snapshots(old, new)
    assert 'ALTER TABLE kv DROP CONSTRAINT kv_pkey' in plan
    assert 'ALTER TABLE kv ADD PRIMARY KEY (a, b)' in plan
    assert "COMMENT ON TABLE kv IS 'the kv table'" in plan
    assert "COMMENT ON COLUMN kv.b IS 'new note'" in plan

    con = duckdb.connect()
    con.execute('CREATE TABLE kv ("a" BIGINT, "b" BIGINT, '
                'PRIMARY KEY ("a"))')
    for stmt in plan:
        if stmt.startswith("--"):
            continue
        adapted = adapt_ddl(stmt, "duckdb")
        if adapted is None:
            continue
        try:
            con.execute(adapted)
        except duckdb.NotImplementedException:
            # DuckDB cannot drop a PK constraint yet — the statement is
            # still the correct PG plan; skip like the runner's
            # keep-going path would
            continue
    assert con.execute(
        "SELECT comment FROM duckdb_tables() WHERE table_name='kv'"
    ).fetchone()[0] == "the kv table"


def test_schema_diff_serial_defaults_and_index_drops():
    """Round-6 drift classes: (a) widening an AUTO_INCREMENT PK emits
    SET DATA TYPE BIGINT, never the BIGSERIAL pseudo-type PG rejects in
    ALTER; (b) an added AUTO_INCREMENT column honors identity_style;
    (c) changed/removed DEFAULTs emit SET/DROP DEFAULT; (d) a dropped
    index surfaces as a SKIPPED comment (DROP INDEX with allow_drop) —
    and the plan executes in DuckDB."""
    import duckdb

    from mysql2pg_spark.orchestrator import (
        CatalogSnapshot,
        ColumnMeta,
        TableMeta,
    )
    from mysql2pg_spark.schema.diff import diff_snapshots
    from mysql2pg_spark.sinks.ddl import IndexSpec, adapt_ddl

    old = CatalogSnapshot(
        tables=[
            TableMeta(
                "acct",
                [
                    ColumnMeta(
                        "id", "int", nullable=False, auto_increment=True
                    ),
                    ColumnMeta("status", "varchar(10)", default="new"),
                    ColumnMeta("tries", "int", default="3"),
                ],
                primary_key=["id"],
                indexes=[IndexSpec("idx_status", ["status"])],
            )
        ]
    )
    new = CatalogSnapshot(
        tables=[
            TableMeta(
                "acct",
                [
                    # the classic drift: AUTO_INCREMENT PK widened
                    ColumnMeta(
                        "id", "bigint", nullable=False, auto_increment=True
                    ),
                    ColumnMeta("status", "varchar(10)", default="open"),
                    ColumnMeta("tries", "int"),  # default removed
                    ColumnMeta(
                        "seq", "int", nullable=False, auto_increment=True
                    ),
                ],
                primary_key=["id"],
            )
        ]
    )

    plan = diff_snapshots(old, new)
    assert (
        "ALTER TABLE acct ALTER COLUMN id SET DATA TYPE BIGINT" in plan
    )
    assert not any("SERIAL" in s for s in plan if "ADD COLUMN" not in s)
    assert "ALTER TABLE acct ADD COLUMN seq SERIAL" in plan
    assert "ALTER TABLE acct ALTER COLUMN status SET DEFAULT 'open'" in plan
    assert "ALTER TABLE acct ALTER COLUMN tries DROP DEFAULT" in plan
    assert any(
        s.startswith("-- SKIPPED") and "DROP INDEX" in s and "idx_status" in s
        for s in plan
    )
    # identity_style flows through to ADD COLUMN like create_table_ddl
    identity_plan = diff_snapshots(old, new, identity_style="identity")
    assert (
        "ALTER TABLE acct ADD COLUMN seq "
        "INTEGER GENERATED BY DEFAULT AS IDENTITY" in identity_plan
    )
    # allow_drop upgrades the comment to a real DROP INDEX
    drop_plan = diff_snapshots(old, new, allow_drop=True)
    assert "DROP INDEX acct_idx_status" in drop_plan

    con = duckdb.connect()
    con.execute(
        'CREATE TABLE "acct" ("id" INTEGER NOT NULL, '
        '"status" VARCHAR(10) DEFAULT \'new\', '
        '"tries" INTEGER DEFAULT 3, PRIMARY KEY ("id"))'
    )
    con.execute('CREATE INDEX "acct_idx_status" ON "acct" ("status")')
    # DuckDB's dependency tracker blocks ALTER TABLE while any index
    # exists on the table (PG does not); run the index drop first
    ordered = sorted(drop_plan, key=lambda s: "DROP INDEX" not in s)
    for stmt in ordered:
        if stmt.startswith("--"):
            continue
        adapted = adapt_ddl(stmt, "duckdb")
        if adapted is None:
            continue
        try:
            con.execute(adapted)
        except (duckdb.NotImplementedException, duckdb.BinderException):
            # DuckDB can't retype a PK column in place (PG can); the
            # statement is still the correct PG plan — keep going
            continue
    cols = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            "SELECT column_name, data_type, column_default "
            "FROM information_schema.columns WHERE table_name='acct'"
        ).fetchall()
    }
    assert cols["id"][0] in ("BIGINT", "INTEGER")  # DuckDB skipped retype
    assert cols["status"][1] == "'open'"
    assert cols["tries"][1] is None
    assert "seq" in cols


# --------------------------------------------------------------------------
# C95 procedural half: cursor / loop / handler translation (round 6)
# --------------------------------------------------------------------------
CURSOR_GOLDEN = """\
CREATE OR REPLACE FUNCTION budget_pick_count(budget DECIMAL(18,2))
RETURNS INTEGER
STABLE AS $$
DECLARE
    done BOOLEAN := false;
    price DECIMAL(18,2);
    spent DECIMAL(18,2) := 0;
    n INTEGER := 0;
    cur refcursor;
BEGIN
    OPEN cur FOR SELECT o_totalprice FROM orders
    ORDER BY o_totalprice, o_orderkey;
    <<pick>>
    LOOP
        FETCH NEXT FROM cur INTO price;
        IF NOT FOUND THEN done := true; END IF;
        IF NOT done AND spent + price <= budget THEN
            spent := spent + price;
            n := n + 1;
        END IF;
        EXIT WHEN done;
    END LOOP pick;
    CLOSE cur;
    RETURN n;
END;
$$ LANGUAGE plpgsql;
COMMENT ON FUNCTION budget_pick_count IS 'greedy order picker';"""


def test_cursor_repeat_function_golden():
    """The cursor+REPEAT fixture (BUDGET_PICK_DDL, whose Spark-side
    semantic twin is sf03_cursor_loop_twin) parses to a procedural spec
    and emits exactly the pinned plpgsql: refcursor declaration,
    OPEN…FOR, FETCH NEXT + IF NOT FOUND done-flag (the reference's
    shape, sync_functions.go:1064-1069), REPEAT→LOOP/EXIT WHEN
    (:534-535), handler flag forced BOOLEAN with its integer
    comparisons normalized (done = 0 → NOT done — the step the
    reference's flat replace misses)."""
    from mysql2pg_spark.plans.stored_demo import BUDGET_PICK_DDL
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import build_spec_from_mysql

    spec = build_spec_from_mysql(BUDGET_PICK_DDL)
    assert spec.procedural is not None
    assert emit_plpgsql(spec) == CURSOR_GOLDEN


def test_procedural_nested_labels_kept():
    """Nested labeled WHILE loops with a multi-level LEAVE: labels are
    preserved as plpgsql <<label>> / EXIT label (the reference strips
    labels at :1085, silently retargeting LEAVE outer at the inner
    loop)."""
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import build_spec_from_mysql

    ddl = """
    CREATE FUNCTION first_pair(limitv INT) RETURNS INT NO SQL
    BEGIN
      DECLARE i INT DEFAULT 0;
      DECLARE j INT DEFAULT 0;
      DECLARE hit INT DEFAULT -1;
      outer_l: WHILE i < limitv DO
        SET j = 0;
        inner_l: WHILE j < limitv DO
          IF i * j = 12 THEN
            SET hit = i * 100 + j;
            LEAVE outer_l;
          END IF;
          SET j = j + 1;
        END WHILE inner_l;
        SET i = i + 1;
      END WHILE outer_l;
      RETURN hit;
    END
    """
    out = emit_plpgsql(build_spec_from_mysql(ddl))
    assert "<<outer_l>>" in out and "<<inner_l>>" in out
    assert "EXIT outer_l;" in out
    assert "END LOOP outer_l;" in out and "END LOOP inner_l;" in out
    assert out.count("WHILE") == 2  # both became WHILE … LOOP


def test_procedural_loop_iterate_elseif():
    """Labeled LOOP + ELSEIF chain + ITERATE: ELSEIF→ELSIF,
    ITERATE→CONTINUE (reference :533), volatility NO SQL→IMMUTABLE."""
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import build_spec_from_mysql

    ddl = """
    CREATE FUNCTION collatz_steps(n0 INT) RETURNS INT DETERMINISTIC
    BEGIN
      DECLARE n INT;
      DECLARE steps INT DEFAULT 0;
      SET n = n0;
      walk: LOOP
        IF n <= 1 THEN
          LEAVE walk;
        ELSEIF MOD(n, 2) = 0 THEN
          SET n = n / 2;
        ELSE
          SET n = 3 * n + 1;
        END IF;
        SET steps = steps + 1;
        ITERATE walk;
      END LOOP walk;
      RETURN steps;
    END
    """
    out = emit_plpgsql(build_spec_from_mysql(ddl))
    assert "ELSIF MOD(CAST(n AS NUMERIC), CAST(2 AS NUMERIC)) = 0 THEN" in out
    assert "CONTINUE walk;" in out
    assert "EXIT walk;" in out
    assert "IMMUTABLE" in out
    assert "ELSEIF" not in out  # MySQL spelling never leaks through


def test_procedural_while_and_select_into():
    """WHILE…DO→WHILE…LOOP plus a SELECT…INTO inside the body."""
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import build_spec_from_mysql

    ddl = """
    CREATE FUNCTION order_scan(k INT) RETURNS BIGINT READS SQL DATA
    BEGIN
      DECLARE i INT DEFAULT 1;
      DECLARE s BIGINT DEFAULT 0;
      DECLARE c BIGINT;
      WHILE i <= k DO
        SELECT COUNT(*) INTO c FROM orders WHERE o_custkey = i;
        SET s = s + c;
        SET i = i + 1;
      END WHILE;
      RETURN s;
    END
    """
    out = emit_plpgsql(build_spec_from_mysql(ddl))
    assert "WHILE i <= k LOOP" in out
    assert "SELECT COUNT(*)  FROM orders WHERE o_custkey = i" in out.replace(
        "\n        INTO c;", ""
    ) or "INTO c;" in out
    assert "STABLE" in out


def test_procedural_unsupported_still_raise():
    """The raise-don't-mistranslate contract holds for what remains
    outside the subset: non-NOT-FOUND handlers, @@system variables,
    inline @var := assignment inside a query (plain @vars translate
    since round 9)."""
    import pytest as _pytest

    from mysql2pg_spark.sinks.plpgsql_builder import (
        UnsupportedFunctionError,
        build_spec_from_mysql,
    )

    bad = [
        # a handler for SQLWARNING / a named condition — plpgsql
        # EXCEPTION clauses cannot trap warnings, and a named condition
        # has no lifted analog (SQLEXCEPTION and specific-SQLSTATE
        # handlers both translate since round 7)
        """CREATE FUNCTION f(x INT) RETURNS INT BEGIN
           DECLARE done INT DEFAULT 0;
           DECLARE CONTINUE HANDLER FOR SQLWARNING SET done = 1;
           RETURN x; END""",
        # SQLSTATE class 01 (warning) cannot be caught by EXCEPTION
        # (class 02 routes to the NOT FOUND machinery since round 8)
        """CREATE FUNCTION f2(x INT) RETURNS INT BEGIN
           DECLARE done INT DEFAULT 0;
           DECLARE CONTINUE HANDLER FOR SQLSTATE '01000' SET done = 1;
           RETURN x; END""",
        # @@server/session state (no per-function plpgsql analog)
        """CREATE FUNCTION g(x INT) RETURNS INT BEGIN
           SET @a = @@sql_mode; RETURN 1; END""",
        # inline per-row @var := assignment inside a query — MySQL's
        # read-modify-per-row idiom has no plpgsql analog
        """CREATE FUNCTION g2(x INT) RETURNS INT BEGIN
           DECLARE r INT;
           SELECT @rn := @rn + 1 INTO r FROM t LIMIT 1;
           RETURN r; END""",
        # bare procedural SELECT without INTO (MySQL functions cannot
        # return result sets either — refusing matches the engine)
        """CREATE FUNCTION h(x INT) RETURNS INT BEGIN
           DECLARE i INT DEFAULT 0;
           WHILE i < x DO
             SELECT i + 1;
             SET i = i + 1;
           END WHILE;
           RETURN i; END""",
    ]
    for ddl in bad:
        with _pytest.raises(UnsupportedFunctionError):
            build_spec_from_mysql(ddl)


def test_case_expression_in_control_flow_conditions():
    """Round 7: CASE *expressions* inside WHILE/IF/UNTIL conditions no
    longer raise — the keyword scan skips balanced CASE…END spans, so
    the nested THEN/ELSE/END can't mis-split the condition."""
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import build_spec_from_mysql

    ddl = """CREATE FUNCTION h(x INT) RETURNS INT NO SQL BEGIN
       DECLARE i INT DEFAULT 0;
       WHILE CASE WHEN x > 0 THEN i < x ELSE FALSE END DO
         SET i = i + 1;
       END WHILE;
       IF CASE WHEN x > 10 THEN CASE WHEN i > 5 THEN TRUE
               ELSE FALSE END ELSE FALSE END THEN
         SET i = i * 2;
       END IF;
       RETURN i; END"""
    out = emit_plpgsql(build_spec_from_mysql(ddl))
    assert "WHILE CASE WHEN x > 0 THEN i < x ELSE FALSE END LOOP" in out
    assert out.count("END IF;") == 1


def test_declarative_path_unchanged():
    """Functions inside the old declarative subset still take the
    SELECT-INTO emission path (procedural is None) — the round-5 golden
    corpus output is untouched."""
    from mysql2pg_spark.sinks.plpgsql_builder import build_spec_from_mysql

    ddl = """
    CREATE FUNCTION get_level(total DECIMAL(18,2)) RETURNS VARCHAR(10)
    DETERMINISTIC
    BEGIN
      RETURN IF(total >= 100, 'big', 'small');
    END
    """
    spec = build_spec_from_mysql(ddl)
    assert spec.procedural is None
    assert "CASE WHEN total >= 100" in spec.body_select


def test_body_double_dash_is_operator_not_comment():
    """MySQL comments need whitespace after `--`; `n--1` is n minus
    negative one. The strip must keep it, and since PostgreSQL comments
    on EVERY `--`, the emitted body re-spaces the dashes (`n- -1`)."""
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import build_spec_from_mysql

    spec = build_spec_from_mysql(
        "CREATE FUNCTION dd(n INT) RETURNS INT DETERMINISTIC "
        "RETURN n--1; -- real comment\n"
    )
    ddl = emit_plpgsql(spec)
    assert "real comment" not in ddl
    assert "n- -1" in ddl
    assert "--" not in ddl.split("$$")[1]  # body is PG-comment-free


ORDER_TIER_GOLDEN = """CREATE OR REPLACE FUNCTION order_tier(p_price DECIMAL(18,2))
RETURNS VARCHAR(10)
IMMUTABLE AS $$
DECLARE
    v_tier VARCHAR(10) := 'mid';
BEGIN
    DECLARE
        v_price DECIMAL(18,2) := 0;
    BEGIN
        v_price := p_price;
        CASE
        WHEN v_price < 50000 THEN
            v_tier := 'low';
        WHEN v_price < 200000 THEN
            v_tier := 'mid';
        ELSE
            v_tier := 'high';
        END CASE;
    END;
    RETURN v_tier;
EXCEPTION WHEN others THEN
    RETURN 'err';
END;
$$ LANGUAGE plpgsql;
COMMENT ON FUNCTION order_tier IS 'price band for one order';"""


def test_nested_block_case_exit_handler_golden():
    """Round-7 C95 widening in one fixture (ORDER_TIER_DDL, whose
    Spark-side twin is sf04_case_block_twin): a nested BEGIN…END block
    (round 8: it keeps its OWN plpgsql DECLARE section, so its DEFAULT
    re-initializes on every block entry exactly as MySQL does), a
    searched CASE statement, and DECLARE EXIT HANDLER FOR SQLEXCEPTION
    emitted as the declaring block's EXCEPTION WHEN others THEN clause — plpgsql's
    native exit-handler semantics. The reference strips handlers
    wholesale (sync_functions.go:1086) and has no CASE-statement pass."""
    from mysql2pg_spark.plans.stored_demo import ORDER_TIER_DDL
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import build_spec_from_mysql

    spec = build_spec_from_mysql(ORDER_TIER_DDL)
    assert spec.procedural is not None
    assert emit_plpgsql(spec) == ORDER_TIER_GOLDEN


def test_exit_handler_block_action_and_value_case():
    """The handler action may be a BEGIN…END group (each statement lands
    in the EXCEPTION clause) and CASE also takes the value form — whose
    no-match runtime error matches MySQL's 'Case not found'."""
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import build_spec_from_mysql

    ddl = """
    CREATE FUNCTION grade(n INT) RETURNS VARCHAR(5) NO SQL
    BEGIN
      DECLARE g VARCHAR(5) DEFAULT '?';
      DECLARE EXIT HANDLER FOR SQLEXCEPTION
      BEGIN
        SET g = 'err';
        RETURN g;
      END;
      CASE n
        WHEN 1 THEN SET g = 'one';
        WHEN 2 THEN SET g = 'two';
      END CASE;
      RETURN g;
    END
    """
    out = emit_plpgsql(build_spec_from_mysql(ddl))
    assert "CASE n" in out and "END CASE;" in out
    assert "WHEN 1 THEN" in out and "WHEN 2 THEN" in out
    assert "EXCEPTION WHEN others THEN" in out
    assert out.index("g := 'err';") > out.index("EXCEPTION")
    assert out.rstrip().endswith("$$ LANGUAGE plpgsql;")


CONTINUE_HANDLER_GOLDEN = """\
CREATE OR REPLACE FUNCTION safe_sum(x INTEGER)
RETURNS INTEGER
IMMUTABLE AS $$
DECLARE
    err INTEGER := 0;
    i INTEGER := 0;
    t INTEGER := 0;
BEGIN
    BEGIN
        WHILE i < x LOOP
            BEGIN
                i := i + 1;
            EXCEPTION WHEN others THEN
                err := err + 1;
            END;
            BEGIN
                t := t + (10 / i);
            EXCEPTION WHEN others THEN
                err := err + 1;
            END;
        END LOOP;
    EXCEPTION WHEN others THEN
        err := err + 1;
    END;
    BEGIN
        RETURN t + err;
    EXCEPTION WHEN others THEN
        err := err + 1;
    END;
END;
$$ LANGUAGE plpgsql;"""


def test_continue_handler_sqlexception_golden():
    """Round 7: `DECLARE CONTINUE HANDLER FOR SQLEXCEPTION <action>`
    (resume-after-error) translates — every raise-capable statement gets
    its own `BEGIN … EXCEPTION WHEN others THEN <action> END;`
    sub-block, so execution resumes at the NEXT statement with the
    failing statement's work rolled back (a plpgsql subtransaction =
    MySQL's statement-level atomicity before a CONTINUE handler runs).
    Condition-bearing compounds (the WHILE here) are wrapped as a unit
    on top of their wrapped bodies: a condition error aborts the whole
    loop and resumes after it, exactly where MySQL resumes. The
    reference strips handlers wholesale (sync_functions.go:1086)."""
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import build_spec_from_mysql

    ddl = """
    CREATE FUNCTION safe_sum(x INT) RETURNS INT NO SQL
    BEGIN
      DECLARE err INT DEFAULT 0;
      DECLARE i, t INT DEFAULT 0;
      DECLARE CONTINUE HANDLER FOR SQLEXCEPTION SET err = err + 1;
      WHILE i < x DO
        SET i = i + 1;
        SET t = t + (10 / i);
      END WHILE;
      RETURN t + err;
    END
    """
    assert emit_plpgsql(build_spec_from_mysql(ddl)) == CONTINUE_HANDLER_GOLDEN


SIGNAL_GOLDEN = """\
CREATE OR REPLACE FUNCTION checked_div(a INTEGER, b INTEGER)
RETURNS INTEGER
IMMUTABLE AS $$
DECLARE
BEGIN
    IF b = 0 THEN
        RAISE EXCEPTION USING ERRCODE = '45000', MESSAGE = 'division by zero input', HINT = 'MYSQL_ERRNO ' || (1644)::text;
    END IF;
    RETURN a / b;
END;
$$ LANGUAGE plpgsql;"""


def test_signal_sqlstate_golden():
    """Round 7: `SIGNAL SQLSTATE '45000' SET MESSAGE_TEXT = …,
    MYSQL_ERRNO = …` → `RAISE EXCEPTION USING ERRCODE/MESSAGE` with the
    errno preserved in HINT (PG has no errno field; dropping it would be
    lossy). The reference has no SIGNAL pass — such bodies fall through
    its generic regex path and emit plpgsql that fails at CREATE time."""
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import build_spec_from_mysql

    ddl = """
    CREATE FUNCTION checked_div(a INT, b INT) RETURNS INT NO SQL
    BEGIN
      IF b = 0 THEN
        SIGNAL SQLSTATE '45000'
          SET MESSAGE_TEXT = 'division by zero input', MYSQL_ERRNO = 1644;
      END IF;
      RETURN a / b;
    END
    """
    assert emit_plpgsql(build_spec_from_mysql(ddl)) == SIGNAL_GOLDEN


def test_signal_unsupported_shapes_raise():
    """Raise-don't-mistranslate for SIGNAL: named conditions, RESIGNAL,
    warning-class SQLSTATEs, and exotic signal items all refuse."""
    import pytest

    from mysql2pg_spark.sinks.plpgsql_builder import (
        UnsupportedFunctionError,
        build_spec_from_mysql,
    )

    head = "CREATE FUNCTION f(x INT) RETURNS INT NO SQL BEGIN "
    for body, what in (
        # class 00/02 stay refused (class 01 → RAISE WARNING since r9)
        ("IF x = 0 THEN SIGNAL SQLSTATE '02000'; END IF; RETURN x; END",
         "success/not-found"),
        # named condition
        ("IF x = 0 THEN SIGNAL bad_input; END IF; RETURN x; END",
         "SIGNAL"),
        # RESIGNAL only exists inside handlers MySQL-side; no analog
        ("IF x = 0 THEN RESIGNAL; END IF; RETURN x; END", "SIGNAL"),
        # CLASS_ORIGIN etc. have no plpgsql field
        ("IF x = 0 THEN SIGNAL SQLSTATE '45000' "
         "SET CLASS_ORIGIN = 'ISO 9075'; END IF; RETURN x; END",
         "no plpgsql analog"),
    ):
        with pytest.raises(UnsupportedFunctionError, match=what):
            build_spec_from_mysql(head + body)


SQLSTATE_HANDLER_GOLDEN = """\
CREATE OR REPLACE FUNCTION div_or_null(a INTEGER, b INTEGER)
RETURNS INTEGER
IMMUTABLE AS $$
DECLARE
    r INTEGER := 0;
BEGIN
    r := a / b;
    RETURN r;
EXCEPTION WHEN SQLSTATE '22012' THEN
    RETURN NULL;
END;
$$ LANGUAGE plpgsql;"""


def test_exit_handler_specific_sqlstate_golden():
    """Round 7: `DECLARE EXIT HANDLER FOR SQLSTATE '22012' <action>`
    translates to the block's `EXCEPTION WHEN SQLSTATE '22012' THEN`
    clause — exactly as narrow as MySQL's handler (round 6 refused these
    because lifting to WHEN others would have widened them)."""
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import build_spec_from_mysql

    ddl = """
    CREATE FUNCTION div_or_null(a INT, b INT) RETURNS INT NO SQL
    BEGIN
      DECLARE r INT DEFAULT 0;
      DECLARE EXIT HANDLER FOR SQLSTATE '22012' RETURN NULL;
      SET r = a / b;
      RETURN r;
    END
    """
    assert emit_plpgsql(build_spec_from_mysql(ddl)) == SQLSTATE_HANDLER_GOLDEN


def test_continue_handler_specific_sqlstate():
    """The CONTINUE per-statement wrap honors a specific SQLSTATE too:
    every sub-block catches exactly `SQLSTATE '22012'` — other errors
    still propagate (MySQL's handler wouldn't catch them either)."""
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import build_spec_from_mysql

    ddl = """
    CREATE FUNCTION sum_safe(x INT) RETURNS INT NO SQL
    BEGIN
      DECLARE nerr INT DEFAULT 0;
      DECLARE t INT DEFAULT 0;
      DECLARE CONTINUE HANDLER FOR SQLSTATE VALUE '22012' SET nerr = nerr + 1;
      SET t = t + (10 / x);
      RETURN t + nerr;
    END
    """
    out = emit_plpgsql(build_spec_from_mysql(ddl))
    assert out.count("EXCEPTION WHEN SQLSTATE '22012' THEN") == 2
    assert "WHEN others" not in out


GUARDED_REV_GOLDEN = """\
CREATE OR REPLACE FUNCTION guarded_rev(p_price DECIMAL(18,2), p_disc DECIMAL(18,2))
RETURNS DECIMAL(18,2)
IMMUTABLE AS $$
DECLARE
BEGIN
    IF p_disc * 100 > 5 THEN
        RAISE EXCEPTION USING ERRCODE = '45000', MESSAGE = 'discount above policy';
    END IF;
    RETURN p_price * (1 - p_disc);
EXCEPTION WHEN SQLSTATE '45000' THEN
    RETURN -1;
END;
$$ LANGUAGE plpgsql;"""


def test_guarded_rev_fixture_golden():
    """The sf05 twin's MySQL fixture (named condition + SIGNAL +
    specific-SQLSTATE EXIT handler) translates end-to-end; its set-based
    twin (sf05_signal_guard_twin) is oracle-checked in
    tests/test_correctness.py and rides the sf01 driver battery."""
    from mysql2pg_spark.plans.stored_demo import GUARDED_REV_DDL
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import build_spec_from_mysql

    assert emit_plpgsql(build_spec_from_mysql(GUARDED_REV_DDL)) \
        == GUARDED_REV_GOLDEN


def test_multiple_handlers_distinct_conditions():
    """Round 7: several handlers with DISTINCT conditions coexist as
    ordered EXCEPTION clauses — specific SQLSTATEs first, so plpgsql's
    first-match dispatch reproduces MySQL's most-specific-handler-wins
    precedence. A CONTINUE-others + EXIT-specific mix refuses: the
    per-statement others-wrap would shadow the more-specific EXIT
    handler (MySQL would dispatch to the specific one)."""
    import pytest

    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import (
        UnsupportedFunctionError,
        build_spec_from_mysql,
    )

    ddl = """
    CREATE FUNCTION tiered(a INT, b INT) RETURNS INT NO SQL
    BEGIN
      DECLARE EXIT HANDLER FOR SQLEXCEPTION RETURN -99;
      DECLARE EXIT HANDLER FOR SQLSTATE '22012' RETURN 0;
      RETURN a / b;
    END
    """
    out = emit_plpgsql(build_spec_from_mysql(ddl))
    i_specific = out.index("EXCEPTION WHEN SQLSTATE '22012' THEN")
    i_others = out.index("WHEN others THEN")
    assert i_specific < i_others          # specific dispatches first
    assert out.count("EXCEPTION") == 1    # one section, two clauses

    shadowing = """
    CREATE FUNCTION sh2(a INT, b INT) RETURNS INT NO SQL
    BEGIN
      DECLARE n INT DEFAULT 0;
      DECLARE CONTINUE HANDLER FOR SQLEXCEPTION SET n = n + 1;
      DECLARE EXIT HANDLER FOR SQLSTATE '22012' RETURN 0;
      SET n = a / b;
      RETURN n;
    END
    """
    with pytest.raises(UnsupportedFunctionError, match="shadow"):
        build_spec_from_mysql(shadowing)

    # two CONTINUE handlers: every sub-block carries both clauses,
    # specific first
    both = """
    CREATE FUNCTION bc(a INT, b INT) RETURNS INT NO SQL
    BEGIN
      DECLARE ndiv, nerr INT DEFAULT 0;
      DECLARE t INT DEFAULT 0;
      DECLARE CONTINUE HANDLER FOR SQLSTATE '22012' SET ndiv = ndiv + 1;
      DECLARE CONTINUE HANDLER FOR SQLEXCEPTION SET nerr = nerr + 1;
      SET t = a / b;
      RETURN t + ndiv * 10 + nerr;
    END
    """
    out2 = emit_plpgsql(build_spec_from_mysql(both))
    blocks = out2.split("BEGIN")[2:]      # per-statement sub-blocks
    for blk in blocks:
        first = blk.find("EXCEPTION WHEN SQLSTATE '22012' THEN")
        second = blk.find("WHEN others THEN")
        if first >= 0 and second >= 0:
            assert first < second


def test_named_condition_resolves_to_sqlstate():
    """Round 7: `DECLARE err CONDITION FOR SQLSTATE 'xxxxx'` — the name
    resolves to its SQLSTATE before handler/SIGNAL parsing, so
    `SIGNAL err` and `DECLARE … HANDLER FOR err` both translate through
    the SQLSTATE paths. Round 8: a condition declared for a WELL-KNOWN
    bare MySQL errno maps to the SQLSTATE the equivalent PostgreSQL
    error carries (MYSQL_ERRNO_SQLSTATE)."""
    import pytest

    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import (
        UnsupportedFunctionError,
        build_spec_from_mysql,
    )

    ddl = """
    CREATE FUNCTION guarded(a INT, b INT) RETURNS INT NO SQL
    BEGIN
      DECLARE bad_input CONDITION FOR SQLSTATE '45000';
      DECLARE EXIT HANDLER FOR bad_input RETURN -1;
      IF b < 0 THEN
        SIGNAL bad_input SET MESSAGE_TEXT = 'negative divisor';
      END IF;
      RETURN a / b;
    END
    """
    out = emit_plpgsql(build_spec_from_mysql(ddl))
    assert "EXCEPTION WHEN SQLSTATE '45000' THEN" in out
    assert ("RAISE EXCEPTION USING ERRCODE = '45000', "
            "MESSAGE = 'negative divisor';") in out
    assert "bad_input" not in out      # the alias is fully resolved

    errno_cond = """
    CREATE FUNCTION ec(x INT) RETURNS INT NO SQL
    BEGIN
      DECLARE dup_key CONDITION FOR 1062;
      DECLARE EXIT HANDLER FOR dup_key RETURN -1;
      RETURN x;
    END
    """
    out = emit_plpgsql(build_spec_from_mysql(errno_cond))
    # 1062 (ER_DUP_ENTRY) catches what PG raises for the same failure:
    # unique_violation — NOT MySQL's own generic 23000
    assert "EXCEPTION WHEN SQLSTATE '23505' THEN" in out

    undeclared = """
    CREATE FUNCTION ud(x INT) RETURNS INT NO SQL
    BEGIN
      IF x < 0 THEN SIGNAL mystery; END IF;
      RETURN x;
    END
    """
    with pytest.raises(UnsupportedFunctionError, match="UNDECLARED"):
        build_spec_from_mysql(undeclared)


def test_multi_assignment_set_and_comma_declares():
    """Round 7 parse fixes: MySQL's `SET a = 1, b = a` multi-assignment
    splits into SEQUENTIAL plpgsql assignments (paren-aware — call
    arguments don't split; previously the single-var regex silently
    emitted invalid `a := 1, b = a;`), and `DECLARE a, b INT DEFAULT 0`
    expands to one declaration per name. Both in the procedural path and
    the simple SET/SELECT/RETURN path."""
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import build_spec_from_mysql

    proc = """
    CREATE FUNCTION ma(x INT) RETURNS INT NO SQL
    BEGIN
      DECLARE i, total INT DEFAULT 0;
      WHILE i < x DO
        SET i = i + 1, total = total + GREATEST(i, 2);
      END WHILE;
      RETURN total;
    END
    """
    out = emit_plpgsql(build_spec_from_mysql(proc))
    assert "i := i + 1;" in out
    assert "total := total + GREATEST(i, 2);" in out
    assert "," not in out.split("WHILE i < x LOOP")[1].split("END LOOP")[0] \
        .replace("GREATEST(i, 2)", "")
    assert "i INTEGER := 0;" in out and "total INTEGER := 0;" in out

    simple = """
    CREATE FUNCTION sm(x INT) RETURNS INT NO SQL
    BEGIN
      DECLARE a, b INT DEFAULT 0;
      SET a = x, b = a + 1;
      RETURN a + b;
    END
    """
    out2 = emit_plpgsql(build_spec_from_mysql(simple))
    assert "a := x;" in out2 and "b := a + 1;" in out2
    assert "a INTEGER := 0;" in out2 and "b INTEGER := 0;" in out2


def test_nested_shadowing_and_multiple_handlers():
    """Round 8: a nested-block re-declaration with a DIFFERENT type now
    translates — the inner block keeps its own plpgsql DECLARE section,
    so shadowing works exactly as it does in MySQL (round 7's
    scope-lifting had to refuse it).  A second SQLEXCEPTION handler in
    the SAME block still refuses (MySQL rejects that too)."""
    import pytest

    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import (
        UnsupportedFunctionError,
        build_spec_from_mysql,
    )

    shadow = """
    CREATE FUNCTION sh(n INT) RETURNS INT NO SQL
    BEGIN
      DECLARE x INT DEFAULT 0;
      BEGIN
        DECLARE x VARCHAR(10) DEFAULT 'a';
        SET x = 'b';
      END;
      RETURN x;
    END
    """
    out = emit_plpgsql(build_spec_from_mysql(shadow))
    # outer x stays INTEGER in the function DECLARE; inner x is its own
    # VARCHAR declaration inside the nested block's DECLARE section
    assert "x INTEGER := 0;" in out
    assert "x VARCHAR(10) := 'a';" in out
    inner = out.split("DECLARE", 2)[2]     # nested block's section
    assert "x := 'b';" in inner

    twice = """
    CREATE FUNCTION tw(n INT) RETURNS INT NO SQL
    BEGIN
      DECLARE EXIT HANDLER FOR SQLEXCEPTION RETURN -1;
      DECLARE EXIT HANDLER FOR SQLEXCEPTION RETURN -2;
      RETURN n;
    END
    """
    with pytest.raises(UnsupportedFunctionError, match="multiple"):
        build_spec_from_mysql(twice)


def test_labeled_block_leave_exits_block():
    """`lbl: BEGIN … LEAVE lbl … END lbl;` → plpgsql `<<lbl>> BEGIN …
    EXIT lbl … END lbl;` (EXIT works on blocks, not just loops)."""
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import build_spec_from_mysql

    ddl = """
    CREATE FUNCTION lb(n INT) RETURNS INT NO SQL
    BEGIN
      DECLARE t INT DEFAULT 0;
      blk: BEGIN
        IF n < 0 THEN
          LEAVE blk;
        END IF;
        SET t = n;
      END blk;
      RETURN t;
    END
    """
    out = emit_plpgsql(build_spec_from_mysql(ddl))
    assert "<<blk>>" in out
    assert "EXIT blk;" in out
    assert "END blk;" in out


NESTED_HANDLER_GOLDEN = """\
CREATE OR REPLACE FUNCTION nh(n INTEGER)
RETURNS INTEGER
IMMUTABLE AS $$
DECLARE
    t INTEGER := 0;
BEGIN
    BEGIN
        t := n;
    EXCEPTION WHEN others THEN
        t := -1;
    END;
    RETURN t;
END;
$$ LANGUAGE plpgsql;"""


def test_handler_inside_nested_block_translates():
    """Round 8 (the top round-7 residual refusal): a handler declared
    INSIDE a nested BEGIN…END attaches to that block's own EXCEPTION
    clause — plpgsql scopes EXCEPTION per block, exactly like MySQL
    scopes handlers per block, so the guard covers only the inner
    statements and control resumes after the inner END.  Round 7
    refused these; the reference strips them (sync_functions.go:1086),
    silently removing the error guard."""
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import build_spec_from_mysql

    nested = """
    CREATE FUNCTION nh(n INT) RETURNS INT NO SQL
    BEGIN
      DECLARE t INT DEFAULT 0;
      BEGIN
        DECLARE EXIT HANDLER FOR SQLEXCEPTION SET t = -1;
        SET t = n;
      END;
      RETURN t;
    END
    """
    assert emit_plpgsql(build_spec_from_mysql(nested)) \
        == NESTED_HANDLER_GOLDEN


def test_inner_and_outer_handlers_innermost_dispatches_first():
    """An inner-block EXIT handler plus an outer SQLEXCEPTION EXIT
    handler: the inner EXCEPTION clause catches first (plpgsql and
    MySQL both dispatch to the innermost scope); what the inner clause
    doesn't match propagates to the function-level clause.  An
    outer-block CONTINUE handler whose per-statement wrap would
    intercept an error MySQL gives to an inner EXIT handler refuses —
    the wrap sits closer to the statement than the inner block's
    EXCEPTION clause, which would invert MySQL's dispatch order."""
    import pytest

    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import (
        UnsupportedFunctionError,
        build_spec_from_mysql,
    )

    ddl = """
    CREATE FUNCTION tier2(a INT, b INT) RETURNS INT NO SQL
    BEGIN
      DECLARE r INT DEFAULT 0;
      DECLARE EXIT HANDLER FOR SQLEXCEPTION RETURN -99;
      BEGIN
        DECLARE EXIT HANDLER FOR SQLSTATE '22012' SET r = -1;
        SET r = a / b;
      END;
      RETURN r;
    END
    """
    out = emit_plpgsql(build_spec_from_mysql(ddl))
    i_inner = out.index("EXCEPTION WHEN SQLSTATE '22012' THEN")
    i_outer = out.index("EXCEPTION WHEN others THEN")
    assert i_inner < i_outer              # inner clause closes first
    assert out.count("EXCEPTION") == 2    # one per block

    inverted = """
    CREATE FUNCTION inv(a INT, b INT) RETURNS INT NO SQL
    BEGIN
      DECLARE n INT DEFAULT 0;
      DECLARE CONTINUE HANDLER FOR SQLEXCEPTION SET n = n + 1;
      BEGIN
        DECLARE EXIT HANDLER FOR SQLSTATE '22012' SET n = -1;
        SET n = a / b;
      END;
      RETURN n;
    END
    """
    with pytest.raises(UnsupportedFunctionError, match="shadow"):
        build_spec_from_mysql(inverted)


def test_nested_declare_default_reinitializes_per_entry():
    """The ADVICE finding: `DECLARE t INT DEFAULT 0` inside a loop body
    re-initializes on EVERY iteration in MySQL.  Emitting the
    declaration in its own block's DECLARE section makes plpgsql
    re-evaluate the default at each block entry — the round-7
    scope-lift initialized once, so f(3) returned 4 instead of
    MySQL's 3.  Defaults referencing outer variables now also evaluate
    at block entry (after earlier assignments), not at function entry."""
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import build_spec_from_mysql

    ddl = """
    CREATE FUNCTION reinit(k INT) RETURNS INT NO SQL
    BEGIN
      DECLARE i INT DEFAULT 0;
      DECLARE last INT DEFAULT 0;
      WHILE i < k DO
        BEGIN
          DECLARE t INT DEFAULT 0;
          SET t = t + 1;
          SET last = t;
        END;
        SET i = i + 1;
      END WHILE;
      RETURN last;
    END
    """
    out = emit_plpgsql(build_spec_from_mysql(ddl))
    # t's declaration lives INSIDE the loop-body block, after WHILE
    body = out.split("WHILE i < k LOOP")[1]
    assert "t INTEGER := 0;" in body
    # and NOT in the function-level DECLARE section
    head = out.split("WHILE i < k LOOP")[0].split("BEGIN")[0]
    assert not any(
        line.strip().startswith("t ") for line in head.splitlines()
    )


RESIGNAL_GOLDEN = """\
CREATE OR REPLACE FUNCTION audit_div(a INTEGER, b INTEGER)
RETURNS INTEGER
IMMUTABLE AS $$
DECLARE
    attempts INTEGER := 0;
BEGIN
    RETURN a / b;
EXCEPTION WHEN others THEN
    attempts := attempts + 1;
    RAISE;
END;
$$ LANGUAGE plpgsql;"""


def test_resignal_bare_in_handler_golden():
    """Round 8: bare `RESIGNAL;` inside a handler action → plpgsql
    `RAISE;` (re-raise the condition being handled — MySQL's exact
    semantics).  The attribute-modifying forms and RESIGNAL outside a
    handler still refuse (the latter is illegal in MySQL too)."""
    import pytest

    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import (
        UnsupportedFunctionError,
        build_spec_from_mysql,
    )

    ddl = """
    CREATE FUNCTION audit_div(a INT, b INT) RETURNS INT NO SQL
    BEGIN
      DECLARE attempts INT DEFAULT 0;
      DECLARE EXIT HANDLER FOR SQLEXCEPTION
      BEGIN
        SET attempts = attempts + 1;
        RESIGNAL;
      END;
      RETURN a / b;
    END
    """
    assert emit_plpgsql(build_spec_from_mysql(ddl)) == RESIGNAL_GOLDEN

    # attribute-modifying forms translate since round 9
    modifying = """
    CREATE FUNCTION md(a INT) RETURNS INT NO SQL
    BEGIN
      DECLARE EXIT HANDLER FOR SQLEXCEPTION
        RESIGNAL SQLSTATE '45000' SET MESSAGE_TEXT = 'worse';
      RETURN a;
    END
    """
    out = emit_plpgsql(build_spec_from_mysql(modifying))
    assert ("RAISE EXCEPTION USING ERRCODE = '45000', "
            "MESSAGE = 'worse';" in out)
    # …but outside a handler RESIGNAL is still illegal (as in MySQL)
    with pytest.raises(UnsupportedFunctionError, match="outside a handler"):
        build_spec_from_mysql("""
        CREATE FUNCTION nm(a INT) RETURNS INT NO SQL
        BEGIN RESIGNAL SET MESSAGE_TEXT = 'x'; RETURN a; END
        """)


SET_DONE_TRUE_GOLDEN = """\
CREATE OR REPLACE FUNCTION scan_count(k INTEGER)
RETURNS INTEGER
STABLE AS $$
DECLARE
    done BOOLEAN := false;
    v DECIMAL(18,2);
    n INTEGER := 0;
    cur refcursor;
BEGIN
    OPEN cur FOR SELECT o_totalprice FROM orders LIMIT 5;
    WHILE NOT done LOOP
        FETCH NEXT FROM cur INTO v;
        IF NOT FOUND THEN done := true; END IF;
        IF NOT done THEN
            n := n + 1;
        END IF;
    END LOOP;
    CLOSE cur;
    RETURN n;
END;
$$ LANGUAGE plpgsql;"""


def test_not_found_handler_set_done_true_golden():
    """Round 8 (round-7 ask #5): the NOT FOUND handler accepts any
    single-SET action, not just the literal `SET flag = 1`.  The
    `SET done = TRUE` spelling (with `DECLARE done BOOLEAN DEFAULT
    FALSE`) takes the same boolean-flag path."""
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import build_spec_from_mysql

    ddl = """
    CREATE FUNCTION scan_count(k INT) RETURNS INT READS SQL DATA
    BEGIN
      DECLARE done BOOLEAN DEFAULT FALSE;
      DECLARE v DECIMAL(18,2);
      DECLARE n INT DEFAULT 0;
      DECLARE cur CURSOR FOR SELECT o_totalprice FROM orders LIMIT 5;
      DECLARE CONTINUE HANDLER FOR NOT FOUND SET done = TRUE;
      OPEN cur;
      WHILE NOT done DO
        FETCH cur INTO v;
        IF NOT done THEN SET n = n + 1; END IF;
      END WHILE;
      CLOSE cur;
      RETURN n;
    END
    """
    assert emit_plpgsql(build_spec_from_mysql(ddl)) == SET_DONE_TRUE_GOLDEN


def test_not_found_handler_general_expression_action():
    """A NOT FOUND action with a general expression (`SET misses =
    misses + 1`) is emitted verbatim in the FETCH's IF NOT FOUND arm —
    the variable keeps its declared INTEGER type (no boolean forcing,
    no comparison rewriting)."""
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import build_spec_from_mysql

    ddl = """
    CREATE FUNCTION miss_count(k INT) RETURNS INT READS SQL DATA
    BEGIN
      DECLARE misses INT DEFAULT 0;
      DECLARE v DECIMAL(18,2);
      DECLARE i INT DEFAULT 0;
      DECLARE cur CURSOR FOR SELECT o_totalprice FROM orders LIMIT 3;
      DECLARE CONTINUE HANDLER FOR NOT FOUND SET misses = misses + 1;
      OPEN cur;
      WHILE i < k DO
        FETCH cur INTO v;
        SET i = i + 1;
      END WHILE;
      CLOSE cur;
      RETURN misses;
    END
    """
    out = emit_plpgsql(build_spec_from_mysql(ddl))
    assert "misses INTEGER := 0;" in out
    assert "IF NOT FOUND THEN misses := misses + 1; END IF;" in out
    assert "BOOLEAN" not in out


def test_multi_condition_handler_one_or_clause():
    """Round 8: a comma list of SQLSTATE conditions in one handler
    becomes a single EXCEPTION clause with OR — plpgsql's native
    multi-condition syntax.  SQLEXCEPTION mixed into a list refuses
    (the specific states would be redundant and precedence ambiguous)."""
    import pytest

    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import (
        UnsupportedFunctionError,
        build_spec_from_mysql,
    )

    ddl = """
    CREATE FUNCTION multi(a INT, b INT) RETURNS INT NO SQL
    BEGIN
      DECLARE EXIT HANDLER FOR SQLSTATE '22012', SQLSTATE '22003' RETURN -1;
      RETURN a / b;
    END
    """
    out = emit_plpgsql(build_spec_from_mysql(ddl))
    assert "EXCEPTION WHEN SQLSTATE '22012' OR SQLSTATE '22003' THEN" in out

    mixed = """
    CREATE FUNCTION mx(a INT) RETURNS INT NO SQL
    BEGIN
      DECLARE EXIT HANDLER FOR SQLEXCEPTION, SQLSTATE '22012' RETURN -1;
      RETURN a;
    END
    """
    with pytest.raises(UnsupportedFunctionError, match="combined"):
        build_spec_from_mysql(mixed)


NESTED_GUARD_GOLDEN = """\
CREATE OR REPLACE FUNCTION guarded_price(p_price DECIMAL(18,2), p_qty INTEGER)
RETURNS DECIMAL(18,2)
IMMUTABLE AS $$
DECLARE
    r DECIMAL(18,2) := 0;
BEGIN
    DECLARE
        chk DECIMAL(18,2) := 0;
    BEGIN
        chk := p_price / (p_qty - 25);
        r := p_price;
    EXCEPTION WHEN SQLSTATE '22012' THEN
        r := -1;
    END;
    RETURN r;
END;
$$ LANGUAGE plpgsql;"""


def test_nested_guard_fixture_golden():
    """The sf06 twin's MySQL fixture (a nested block with its OWN
    DECLARE — per-entry DEFAULT re-init — and its OWN specific-SQLSTATE
    EXIT handler) translates end-to-end; its set-based twin
    (sf06_nested_guard_twin) is oracle-checked in
    tests/test_correctness.py and rides the sf01 driver battery."""
    from mysql2pg_spark.plans.stored_demo import NESTED_GUARD_DDL
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import build_spec_from_mysql

    assert emit_plpgsql(build_spec_from_mysql(NESTED_GUARD_DDL)) \
        == NESTED_GUARD_GOLDEN


ERRNO_HANDLER_GOLDEN = """\
CREATE OR REPLACE FUNCTION try_insert_flag(p_id INTEGER)
RETURNS INTEGER
VOLATILE AS $$
DECLARE
    ok INTEGER := 1;
BEGIN
    INSERT INTO audit_ids(id) VALUES (p_id);
    RETURN ok;
EXCEPTION WHEN SQLSTATE '23505' OR SQLSTATE '23502' THEN
    ok := 0;
    RETURN ok;
END;
$$ LANGUAGE plpgsql;"""


def test_bare_errno_handler_maps_to_pg_sqlstate():
    """Round 8: `HANDLER FOR 1062, 1048` — well-known MySQL errnos map
    through MYSQL_ERRNO_SQLSTATE to the SQLSTATEs the equivalent
    PostgreSQL runtime errors carry (dup-key → 23505, bad-null →
    23502), as one OR clause. The reference strips these handlers
    wholesale (sync_functions.go:1086); errnos outside the table still
    refuse."""
    import pytest

    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import (
        UnsupportedFunctionError,
        build_spec_from_mysql,
    )

    ddl = """
    CREATE FUNCTION try_insert_flag(p_id INT) RETURNS INT
    MODIFIES SQL DATA
    BEGIN
      DECLARE ok INT DEFAULT 1;
      DECLARE EXIT HANDLER FOR 1062, 1048
      BEGIN
        SET ok = 0;
        RETURN ok;
      END;
      INSERT INTO audit_ids(id) VALUES (p_id);
      RETURN ok;
    END
    """
    assert emit_plpgsql(build_spec_from_mysql(ddl)) == ERRNO_HANDLER_GOLDEN

    unknown = """
    CREATE FUNCTION u(x INT) RETURNS INT NO SQL
    BEGIN
      DECLARE EXIT HANDLER FOR 9999 RETURN -1;
      RETURN x;
    END
    """
    with pytest.raises(UnsupportedFunctionError, match="9999"):
        build_spec_from_mysql(unknown)


def test_signal_on_errno_condition_refuses_like_mysql():
    """MySQL only allows SIGNAL on SQLSTATE-defined conditions
    (ER_SIGNAL_BAD_CONDITION_TYPE) — an errno-declared condition used
    in SIGNAL must refuse here too, not emit a RAISE MySQL would never
    have run."""
    import pytest

    from mysql2pg_spark.sinks.plpgsql_builder import (
        UnsupportedFunctionError,
        build_spec_from_mysql,
    )

    ddl = """
    CREATE FUNCTION s(x INT) RETURNS INT NO SQL
    BEGIN
      DECLARE dup CONDITION FOR 1062;
      IF x < 0 THEN SIGNAL dup; END IF;
      RETURN x;
    END
    """
    with pytest.raises(UnsupportedFunctionError, match="SQLSTATE-defined"):
        build_spec_from_mysql(ddl)


def test_body_dml_passthrough_with_rewrite():
    """Round 8: INSERT/UPDATE/DELETE inside a MODIFIES SQL DATA body
    emit verbatim (plpgsql runs plain SQL) with MySQL spellings
    rewritten; REPLACE INTO refuses (delete-then-insert semantics)."""
    import pytest

    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import (
        UnsupportedFunctionError,
        build_spec_from_mysql,
    )

    ddl = """
    CREATE FUNCTION touch_user(p_id INT, p_name VARCHAR(40)) RETURNS INT
    MODIFIES SQL DATA
    BEGIN
      UPDATE users SET name = IFNULL(p_name, 'anon'), seen = NOW()
        WHERE id = p_id;
      IF ROW_COUNT() = 0 THEN
        INSERT INTO users(id, name) VALUES (p_id, IFNULL(p_name, 'anon'));
      END IF;
      DELETE FROM stale_users WHERE id = p_id;
      RETURN 1;
    END
    """
    out = emit_plpgsql(build_spec_from_mysql(ddl))
    assert "UPDATE users SET name = COALESCE(p_name, 'anon')" in out
    assert "INSERT INTO users(id, name)" in out
    assert "DELETE FROM stale_users WHERE id = p_id;" in out
    assert "IFNULL" not in out

    with pytest.raises(UnsupportedFunctionError, match="REPLACE"):
        build_spec_from_mysql("""
        CREATE FUNCTION r(p INT) RETURNS INT MODIFIES SQL DATA
        BEGIN
          REPLACE INTO t(id) VALUES (p);
          RETURN 1;
        END
        """)


def test_body_dml_into_table_named_like_a_function(pg):
    """A DML target named like a MySQL builtin (``log``, ``date``) is a
    table, not a call: its column list survives the body translation,
    while the values still translate. The procedure creates and runs
    on PostgreSQL 15."""
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import build_spec_from_mysql

    out = emit_plpgsql(build_spec_from_mysql("""
    CREATE PROCEDURE note(p_n INT)
    MODIFIES SQL DATA
    BEGIN
      INSERT INTO log (msg) VALUES (CONCAT('a', p_n));
      INSERT INTO `date` (d) VALUES (DATE('2024-03-07 10:00:00'));
    END
    """))
    assert "INSERT INTO log (msg) VALUES (('a' || CAST(p_n AS TEXT)));" in out
    assert 'INSERT INTO "date" (d) VALUES' in out
    pg.execute("CREATE TABLE log (msg TEXT); CREATE TABLE date (d DATE)")
    pg.execute(out)
    pg.execute("CALL note(1)")
    pg.execute("SELECT msg, d FROM log, date")
    assert pg.fetchall() == [("a1", "2024-03-07")]
    pg.execute("DROP PROCEDURE note; DROP TABLE log; DROP TABLE date")


def test_row_count_in_expression_hoists_to_get_diagnostics():
    """Round 8: PG has no expression-position ROW_COUNT() — `IF
    ROW_COUNT() = 0` (the upsert idiom) hoists to `GET DIAGNOSTICS
    __rc = ROW_COUNT;` immediately before the statement, which observes
    the same preceding statement both engines would report.  Loop
    conditions refuse instead (they re-observe every iteration)."""
    import pytest

    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import (
        UnsupportedFunctionError,
        build_spec_from_mysql,
    )

    ddl = """
    CREATE FUNCTION upsert_count(p_id INT) RETURNS INT
    MODIFIES SQL DATA
    BEGIN
      DECLARE n INT DEFAULT 0;
      UPDATE counters SET n = n + 1 WHERE id = p_id;
      IF ROW_COUNT() = 0 THEN
        INSERT INTO counters(id, n) VALUES (p_id, 1);
      END IF;
      SET n = ROW_COUNT() + 0;
      RETURN n;
    END
    """
    out = emit_plpgsql(build_spec_from_mysql(ddl))
    assert "ROW_COUNT()" not in out           # nothing survives verbatim
    assert "GET DIAGNOSTICS __rc = ROW_COUNT;" in out
    assert "IF __rc = 0 THEN" in out
    # the second use gets its own freshly-read variable (the INSERT ran
    # in between, so reusing __rc would freeze a stale count)
    assert "GET DIAGNOSTICS __rc1 = ROW_COUNT;" in out
    assert "n := __rc1 + 0;" in out

    loop = """
    CREATE FUNCTION drain(p INT) RETURNS INT MODIFIES SQL DATA
    BEGIN
      WHILE ROW_COUNT() > 0 DO
        DELETE FROM q WHERE id = p LIMIT 1;
      END WHILE;
      RETURN 0;
    END
    """
    with pytest.raises(UnsupportedFunctionError, match="re-observes"):
        build_spec_from_mysql(loop)

    # round 11: the batch-purge idiom LIFTS — UNTIL evaluates after the
    # body, so when the body's last statement is the observed DML a
    # per-iteration GET DIAGNOSTICS re-observes at the identical point
    purge = """
    CREATE FUNCTION purge(p INT) RETURNS INT MODIFIES SQL DATA
    BEGIN
      REPEAT
        DELETE FROM q WHERE id < p LIMIT 100;
      UNTIL ROW_COUNT() = 0 END REPEAT;
      RETURN 0;
    END
    """
    out2 = emit_plpgsql(build_spec_from_mysql(purge))
    assert "ROW_COUNT()" not in out2
    assert "__rc BIGINT" in out2
    body_lines = [ln.strip() for ln in out2.splitlines()]
    # the MySQL DELETE … LIMIT rewrote to the PG ctid-subquery form
    i_dml = body_lines.index(
        "DELETE FROM q WHERE ctid IN "
        "(SELECT ctid FROM q WHERE id < p LIMIT 100);"
    )
    assert body_lines[i_dml + 1] == "GET DIAGNOSTICS __rc = ROW_COUNT;"
    assert body_lines[i_dml + 2] == "EXIT WHEN __rc = 0;"

    # a non-DML statement after the DML keeps the refusal (ROW_COUNT()
    # after non-DML is engine-defined noise — no hoist reproduces it)
    tail = purge.replace(
        "UNTIL", "SET @z = 1;\n      UNTIL"
    )
    with pytest.raises(UnsupportedFunctionError, match="move the DML last"):
        build_spec_from_mysql(tail)


PROCEDURE_GOLDEN = """\
CREATE OR REPLACE PROCEDURE archive_user(p_id INTEGER, OUT p_moved INTEGER, INOUT p_log VARCHAR(200))
AS $$
DECLARE
BEGIN
    INSERT INTO users_archive SELECT * FROM users WHERE id = p_id;
    GET DIAGNOSTICS p_moved = ROW_COUNT;
    DELETE FROM users WHERE id = p_id;
    IF p_moved = 0 THEN
        p_log := (CAST(p_log AS TEXT) || ';missing');
        RETURN;
    END IF;
    CALL audit_log(p_id, 'archived');
EXCEPTION WHEN SQLSTATE '23505' THEN
    p_log := (CAST(p_log AS TEXT) || ';dup');
END;
$$ LANGUAGE plpgsql;
COMMENT ON PROCEDURE archive_user IS 'move a user to the archive';"""


def test_procedure_translates_to_pg_procedure():
    """Round 8 (beyond-reference): MySQL CREATE PROCEDURE → PostgreSQL
    11+ CREATE PROCEDURE. The reference scans information_schema
    ROUTINE_TYPE='FUNCTION' only, silently dropping every procedure —
    here IN/OUT/INOUT params carry over, bare `RETURN;` is the
    procedure early-exit, SET x = ROW_COUNT() keeps the GET DIAGNOSTICS
    path, CALL and DML pass through, errno handlers attach, and no
    volatility marker is emitted (PG rejects one on procedures)."""
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import build_spec_from_mysql

    ddl = """
    CREATE DEFINER=`root`@`localhost` PROCEDURE `archive_user`(
        IN p_id INT, OUT p_moved INT, INOUT p_log VARCHAR(200))
    MODIFIES SQL DATA
    COMMENT 'move a user to the archive'
    BEGIN
      DECLARE EXIT HANDLER FOR 1062 SET p_log = CONCAT(p_log, ';dup');
      INSERT INTO users_archive SELECT * FROM users WHERE id = p_id;
      SET p_moved = ROW_COUNT();
      DELETE FROM users WHERE id = p_id;
      IF p_moved = 0 THEN
        SET p_log = CONCAT(p_log, ';missing');
        RETURN;
      END IF;
      CALL audit_log(p_id, 'archived');
    END
    """
    assert emit_plpgsql(build_spec_from_mysql(ddl)) == PROCEDURE_GOLDEN


def test_procedure_refusals_stay_honest():
    """Bare RETURN in a FUNCTION still refuses (MySQL requires a
    value); a single result-set SELECT in a procedure now maps to the
    INOUT refcursor idiom (round 9) while MULTIPLE result sets still
    refuse."""
    import pytest

    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import (
        UnsupportedFunctionError,
        build_spec_from_mysql,
    )

    with pytest.raises(UnsupportedFunctionError, match="RETURN without"):
        build_spec_from_mysql("""
        CREATE FUNCTION f(x INT) RETURNS INT NO SQL
        BEGIN
          IF x < 0 THEN RETURN; END IF;
          RETURN x;
        END
        """)
    out = emit_plpgsql(build_spec_from_mysql("""
    CREATE PROCEDURE list_users()
    BEGIN
      SELECT * FROM users;
    END
    """))
    assert "INOUT p_resultset refcursor" in out
    assert "OPEN p_resultset FOR SELECT * FROM users;" in out
    # several top-level result sets → one refcursor each (round 9)
    out = emit_plpgsql(build_spec_from_mysql("""
    CREATE PROCEDURE two_sets()
    BEGIN
      SELECT * FROM users;
      SELECT * FROM orders;
    END
    """))
    assert ("INOUT p_resultset refcursor, "
            "INOUT p_resultset2 refcursor") in out
    assert "OPEN p_resultset FOR SELECT * FROM users;" in out
    assert "OPEN p_resultset2 FOR SELECT * FROM orders;" in out


def test_single_statement_procedure_without_begin():
    """MySQL allows a procedure body that is ONE statement with no
    BEGIN…END — the dump scan and builder must not require the block."""
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import build_spec_from_mysql

    out = emit_plpgsql(build_spec_from_mysql(
        "CREATE PROCEDURE purge_stale() DELETE FROM sessions "
        "WHERE seen < CURDATE()"
    ))
    assert out.startswith("CREATE OR REPLACE PROCEDURE purge_stale()")
    assert "DELETE FROM sessions WHERE seen < CURRENT_DATE;" in out


def test_sqlstate_class02_handler_is_not_found():
    """Round 8: MySQL defines class-02 SQLSTATEs as the NOT FOUND class
    — `CONTINUE HANDLER FOR SQLSTATE '02000'` must behave exactly like
    `CONTINUE HANDLER FOR NOT FOUND` (the cursor-loop flag machinery),
    not refuse; 00/01 still refuse, and an EXIT '02000' handler refuses
    like an EXIT NOT FOUND one."""
    import pytest

    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import (
        UnsupportedFunctionError,
        build_spec_from_mysql,
    )

    def cursor_fn(handler_cond: str) -> str:
        return f"""
        CREATE FUNCTION sum02(p INT) RETURNS INT READS SQL DATA
        BEGIN
          DECLARE done INT DEFAULT 0;
          DECLARE v INT;
          DECLARE acc INT DEFAULT 0;
          DECLARE cur CURSOR FOR SELECT n FROM t WHERE k = p;
          DECLARE CONTINUE HANDLER FOR {handler_cond} SET done = 1;
          OPEN cur;
          read_loop: LOOP
            FETCH cur INTO v;
            IF done = 1 THEN LEAVE read_loop; END IF;
            SET acc = acc + v;
          END LOOP;
          CLOSE cur;
          RETURN acc;
        END
        """

    out02 = emit_plpgsql(build_spec_from_mysql(cursor_fn("SQLSTATE '02000'")))
    outnf = emit_plpgsql(build_spec_from_mysql(cursor_fn("NOT FOUND")))
    assert out02 == outnf.replace("sum02", "sum02")  # identical emission
    assert "IF NOT FOUND THEN" in out02

    with pytest.raises(UnsupportedFunctionError, match="01"):
        build_spec_from_mysql(cursor_fn("SQLSTATE '01000'"))
    with pytest.raises(UnsupportedFunctionError, match="EXIT"):
        build_spec_from_mysql("""
        CREATE FUNCTION e(p INT) RETURNS INT READS SQL DATA
        BEGIN
          DECLARE EXIT HANDLER FOR SQLSTATE '02000' RETURN -1;
          RETURN p;
        END
        """)


TRIGGER_GOLDEN = """\
CREATE OR REPLACE FUNCTION trg_orders_bi() RETURNS trigger AS $$
DECLARE
    v_now TIMESTAMP;
BEGIN
    v_now := CURRENT_TIMESTAMP;
    IF NEW.o_totalprice < 0 THEN
        RAISE EXCEPTION USING ERRCODE = '45000', MESSAGE = 'negative price';
    END IF;
    new.o_comment := (CAST(COALESCE(NEW.o_comment, '') AS TEXT) || ' [checked]');
    INSERT INTO audit_log(tbl, at) VALUES ('orders', v_now);
    RETURN NEW;
END;
$$ LANGUAGE plpgsql;
DROP TRIGGER IF EXISTS orders_bi ON orders;
CREATE TRIGGER orders_bi BEFORE INSERT ON orders
FOR EACH ROW EXECUTE FUNCTION trg_orders_bi();"""


def test_trigger_translates_to_pg_trigger():
    """Round 8 (beyond-reference): MySQL CREATE TRIGGER → PG trigger
    function + CREATE TRIGGER binding. mysqldump includes triggers by
    DEFAULT and the reference drops them all. NEW/OLD spell identically
    in plpgsql; SET NEW.col = … becomes a row-field assignment; the
    emitter appends RETURN NEW (OLD for DELETE) since MySQL bodies have
    no RETURN."""
    from mysql2pg_spark.sinks.plpgsql import emit_trigger
    from mysql2pg_spark.sinks.plpgsql_builder import build_trigger_from_mysql

    ddl = """
    CREATE DEFINER=`root`@`localhost` TRIGGER `orders_bi`
    BEFORE INSERT ON `orders` FOR EACH ROW
    BEGIN
      DECLARE v_now DATETIME;
      SET v_now = NOW();
      IF NEW.o_totalprice < 0 THEN
        SIGNAL SQLSTATE '45000' SET MESSAGE_TEXT = 'negative price';
      END IF;
      SET NEW.o_comment = CONCAT(IFNULL(NEW.o_comment, ''), ' [checked]');
      INSERT INTO audit_log(tbl, at) VALUES ('orders', v_now);
    END
    """
    assert emit_trigger(build_trigger_from_mysql(ddl)) == TRIGGER_GOLDEN

    # DELETE triggers return OLD (NEW does not exist for them)
    out = emit_trigger(build_trigger_from_mysql(
        "CREATE TRIGGER t_ad AFTER DELETE ON t FOR EACH ROW "
        "INSERT INTO graveyard(id) VALUES (OLD.id)"
    ))
    assert "RETURN OLD;" in out and "AFTER DELETE ON t" in out

    # a handled error must still return a row, not fall off the end
    out = emit_trigger(build_trigger_from_mysql("""
    CREATE TRIGGER t_bi BEFORE INSERT ON t FOR EACH ROW
    BEGIN
      DECLARE EXIT HANDLER FOR 1062 SET NEW.note = 'dup';
      INSERT INTO mirror(id) VALUES (NEW.id);
    END
    """))
    assert out.count("RETURN NEW;") == 2  # normal path + handler path


def test_trigger_refusals():
    """RETURN in a MySQL trigger body refuses (MySQL has none there);
    FOLLOWS/PRECEDES is captured on the spec since round 9 (the
    orchestrator enforces the order via sortable renames)."""
    import pytest

    from mysql2pg_spark.sinks.plpgsql_builder import (
        UnsupportedFunctionError,
        build_trigger_from_mysql,
    )

    with pytest.raises(UnsupportedFunctionError, match="RETURN"):
        build_trigger_from_mysql("""
        CREATE TRIGGER t BEFORE INSERT ON x FOR EACH ROW
        BEGIN
          RETURN NEW;
        END
        """)
    spec = build_trigger_from_mysql(
        "CREATE TRIGGER t2 BEFORE INSERT ON x FOR EACH ROW "
        "FOLLOWS t1 SET NEW.a = 1"
    )
    assert spec.ordering == ("FOLLOWS", "t1")


def test_trigger_ordering_via_sortable_renames(tmp_path):
    """Round 9: FOLLOWS/PRECEDES ordering — PG fires same-event
    same-timing triggers alphabetically, so a group containing any
    ordering clause is renamed tNN_ in MySQL action order (replayed
    from declaration order + clause placement); clauses referencing a
    trigger outside the migration surface as skips."""
    import yaml

    from mysql2pg_spark.config import load_config
    from mysql2pg_spark.orchestrator import (
        CatalogSnapshot,
        MigrationPipeline,
        _resolve_trigger_order,
    )

    p = tmp_path / "cfg.yml"
    p.write_text(yaml.safe_dump({
        "mysql": {"host": "h", "database": "d"},
        "postgresql": {"host": "p", "database": "d"},
        "conversion": {"options": {"triggers": True}, "limits": {}},
    }))
    snap = CatalogSnapshot(
        tables=[],
        triggers=[
            "CREATE TRIGGER audit BEFORE UPDATE ON t FOR EACH ROW "
            "SET NEW.a = 1",
            "CREATE TRIGGER stamp BEFORE UPDATE ON t FOR EACH ROW "
            "PRECEDES audit SET NEW.b = 2",
            # unrelated event group: no ordering clause → name untouched
            "CREATE TRIGGER bi BEFORE INSERT ON t FOR EACH ROW "
            "SET NEW.c = 3",
        ],
    )
    actions = MigrationPipeline(load_config(str(p)), snap).plan()
    ddls = [a for a in actions if a.stage == "triggers" and a.kind == "ddl"]
    by_target = {a.target: a.payload for a in ddls}
    # stamp PRECEDES audit → stamp gets the earlier-sorting prefix
    assert "CREATE TRIGGER t01_stamp " in by_target["stamp"]
    assert "CREATE TRIGGER t02_audit " in by_target["audit"]
    assert "renamed" in by_target["stamp"]  # the caveat comment
    # the clause-free INSERT group keeps its MySQL name
    assert "CREATE TRIGGER bi " in by_target["bi"]

    # a FOLLOWS target outside the group → visible skip, others emit
    snap2 = CatalogSnapshot(tables=[], triggers=[
        "CREATE TRIGGER a1 BEFORE UPDATE ON t FOR EACH ROW "
        "FOLLOWS ghost SET NEW.a = 1",
    ])
    actions2 = MigrationPipeline(load_config(str(p)), snap2).plan()
    (skip,) = [a for a in actions2 if a.stage == "triggers"]
    assert skip.kind == "skip" and "ghost" in skip.payload

    # order resolution replays MySQL's placement rules
    class _S:
        def __init__(self, name, ordering=None):
            self.name, self.ordering = name, ordering

    a, b, c = _S("a"), _S("b", ("FOLLOWS", "a")), _S("c", ("PRECEDES", "a"))
    ordered, missing = _resolve_trigger_order([a, b, c])
    assert [s.name for s in ordered] == ["c", "a", "b"]
    assert missing == []

    # chained clauses resolve to a FIXPOINT (ADVICE r9): C PRECEDES B
    # where B itself carries PRECEDES A, declared C,B,A — one pass
    # would find B unplaced when C is processed and wrongly report C's
    # target missing, skipping a migratable trigger
    a2 = _S("a")
    b2 = _S("b", ("PRECEDES", "a"))
    c2 = _S("c", ("PRECEDES", "b"))
    ordered2, missing2 = _resolve_trigger_order([c2, b2, a2])
    assert [s.name for s in ordered2] == ["c", "b", "a"]
    assert missing2 == []
    # FOLLOWS chain declared backwards likewise
    f2 = _S("f", ("FOLLOWS", "e"))
    e2 = _S("e", ("FOLLOWS", "d"))
    d2 = _S("d")
    ordered3, missing3 = _resolve_trigger_order([f2, e2, d2])
    assert [s.name for s in ordered3] == ["d", "e", "f"]
    assert missing3 == []
    # a genuinely absent target still surfaces as missing
    g = _S("g", ("FOLLOWS", "ghost"))
    ordered4, missing4 = _resolve_trigger_order([g, _S("h")])
    assert [s.name for s in ordered4] == ["h"]
    assert [(s.name, t) for s, t in missing4] == [("g", "ghost")]


# --------------------------------------------------------------------------
# Round 9: @user variables, result-set procedures, attribute RESIGNAL
# --------------------------------------------------------------------------
USERVAR_GOLDEN = """\
CREATE OR REPLACE FUNCTION customer_spend(p_cust INTEGER)
RETURNS DECIMAL(18,2)
STABLE AS $$
DECLARE
    uv_total NUMERIC := NULL;
    uv_n NUMERIC := NULL;
    done BOOLEAN := false;
    v DECIMAL(18,2);
    cur refcursor;
BEGIN
    uv_total := 0;
    uv_n := 0;
    OPEN cur FOR SELECT o_totalprice FROM orders
    WHERE o_custkey = p_cust;
    <<read_loop>>
    LOOP
        FETCH NEXT FROM cur INTO v;
        IF NOT FOUND THEN done := true; END IF;
        IF done THEN
            EXIT read_loop;
        END IF;
        uv_total := uv_total + v;
        uv_n := uv_n + 1;
    END LOOP read_loop;
    CLOSE cur;
    RETURN uv_total;
END;
$$ LANGUAGE plpgsql;
COMMENT ON FUNCTION customer_spend IS 'sum of one customer''s order totals';"""


def test_uservar_accumulator_golden():
    """Round 9: plain @user variables translate as synthesized typed
    function-scope locals (uv_<name>, seeded NULL — exactly an unSET
    MySQL @var). The canonical cursor-accumulator fixture
    (USERVAR_TOTAL_DDL, whose set-based twin is sf07) pins the shape:
    @total/@n become NUMERIC locals because their assignments carry
    arithmetic — NOT first-assignment BIGINT, which would truncate the
    DECIMAL cents (the reference name-rewrites @vars with a weaker
    name-only heuristic, sync_functions.go:1180-1224)."""
    from mysql2pg_spark.plans.stored_demo import USERVAR_TOTAL_DDL
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import build_spec_from_mysql

    assert emit_plpgsql(build_spec_from_mysql(USERVAR_TOTAL_DDL)) \
        == USERVAR_GOLDEN


def test_uservar_type_inference_and_refusals():
    """The @var type widens across ALL assignments; incompatible
    classes, @@system vars, quoted names and identifier collisions
    refuse instead of mistranslating."""
    import pytest

    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import (
        UnsupportedFunctionError,
        build_spec_from_mysql,
    )

    def emit(body: str) -> str:
        return emit_plpgsql(build_spec_from_mysql(
            "CREATE FUNCTION f(x INT) RETURNS INT NO SQL BEGIN "
            + body + " END"
        ))

    # integer-literal-only evidence stays BIGINT
    assert "uv_flag BIGINT := NULL;" in emit("SET @flag = 1; RETURN @flag;")
    # string evidence -> TEXT
    assert "uv_tag TEXT := NULL;" in emit("SET @tag = 'a'; RETURN x;")
    # date/datetime evidence
    assert "uv_ts TIMESTAMP := NULL;" in emit("SET @ts = NOW(); RETURN x;")
    assert "uv_d DATE := NULL;" in emit("SET @d = CURDATE(); RETURN x;")
    # no assignment at all: the reference's name heuristic, then TEXT
    assert "uv_total_spend NUMERIC := NULL;" in emit(
        "RETURN @total_spend + x;")
    assert "uv_label TEXT := NULL;" in emit("RETURN LENGTH(@label);")
    # @vars are case-insensitive in MySQL: one local per distinct name
    two = emit("SET @Acc = 1; SET @acc = @ACC + 2; RETURN @acc;")
    assert two.count("uv_acc NUMERIC := NULL;") == 1
    # mixed numeric/text evidence refuses
    with pytest.raises(UnsupportedFunctionError, match="incompatible"):
        emit("SET @x = 1; SET @x = 'abc'; RETURN @x;")
    # collision with an existing identifier refuses
    with pytest.raises(UnsupportedFunctionError, match="collides"):
        emit("DECLARE uv_n INT DEFAULT 0; SET @n = 1; RETURN uv_n;")
    # @`word` backtick quoting is just MySQL spelling (round 11): it
    # is the SAME variable as the bare form, one local, shared type
    bt = emit("SET @`total` = 1; SET @total = @`total` + 2; RETURN @total;")
    assert bt.count("uv_total NUMERIC := NULL;") == 1  # int + arith widen
    assert "@" not in bt.split("DECLARE", 1)[1]
    # quoted names that need the quoting to exist still refuse
    # (masked @'…' forms, and backticked non-word content)
    with pytest.raises(UnsupportedFunctionError, match="quoted"):
        emit("SET @'weird' = 1; RETURN 1;")
    with pytest.raises(UnsupportedFunctionError, match="quoted"):
        emit("SET @`has space` = 1; RETURN 1;")
    # an equality COMPARISON is not an assignment (ADVICE r9): the
    # CONCAT operand in `IF @v = CONCAT(…)` must not feed the type
    # classes — the only real assignment is integer, so BIGINT, not an
    # incompatible-class refusal
    cmp1 = emit(
        "SET @v = 1; IF @v = CONCAT('a', 'b') THEN SET @v = 2; "
        "END IF; RETURN @v;"
    )
    assert "uv_v BIGINT := NULL;" in cmp1
    # …and a comparison in a WHERE clause likewise stays out of the
    # classes (here it would wrongly add NUMERIC via the `+` shape;
    # the INTO expression `name` is shape-unrecognizable so it adds
    # nothing either)
    cmp2 = emit(
        "SET @w = 'tag'; "
        "SELECT name INTO @w FROM t WHERE @w = x + 1; RETURN 1;"
    )
    assert "uv_w TEXT := NULL;" in cmp2
    # SELECT … INTO @var IS an assignment (round 11): the positionally
    # matching select expression feeds the classes
    sel1 = emit("SELECT COUNT(*) INTO @c FROM t; RETURN @c;")
    assert "uv_c NUMERIC := NULL;" in sel1
    sel2 = emit(
        "SELECT CONCAT(a, b), COUNT(*) INTO @s, @n FROM t; RETURN @n;"
    )
    assert "uv_s TEXT := NULL;" in sel2
    assert "uv_n NUMERIC := NULL;" in sel2
    # a COUNT INTO a text-seeded var is real incompatible evidence —
    # refuses exactly like the equivalent SET would
    with pytest.raises(UnsupportedFunctionError, match="incompatible"):
        emit(
            "SET @x2 = 'abc'; SELECT COUNT(*) INTO @x2 FROM t; "
            "RETURN @x2;"
        )
    # MySQL's TRAILING-INTO form: the captured text cuts at the first
    # depth-0 FROM, so WHERE/GROUP BY text never pairs with a target
    # (review r11: `WHERE k + 1` fed a spurious NUMERIC class here)
    trail = emit(
        "SET @tv = 'x'; "
        "SELECT name FROM t WHERE k + 1 = x INTO @tv; RETURN 1;"
    )
    assert "uv_tv TEXT := NULL;" in trail
    trail2 = emit(
        "SELECT CONCAT(a, b), COUNT(*) FROM t GROUP BY a "
        "INTO @tr_s, @tr_n; RETURN 1;"
    )
    assert "uv_tr_s TEXT := NULL;" in trail2
    assert "uv_tr_n NUMERIC := NULL;" in trail2
    # …and a comparison inside a function-call ARGUMENT of a SET
    # expression (ADVICE r10): only depth-0 commas separate assignment
    # targets, so `SET @a = IF(x, @v = 1, 0)` must not classify
    # `@v = 1` as an assignment — @v's only real evidence is the text
    # assignment (previously: BIGINT evidence → incompatible refusal)
    cmp3 = emit(
        "SET @v2 = 'txt'; SET @a = IF(x > 0, @v2 = 1, 0); RETURN @a;"
    )
    assert "uv_v2 TEXT := NULL;" in cmp3
    # depth-0 commas still split multi-assignment SET lists
    multi = emit("SET @m = 1, @n = NOW(); RETURN @m;")
    assert "uv_m BIGINT := NULL;" in multi
    assert "uv_n TIMESTAMP := NULL;" in multi


def test_uservar_in_procedure_and_trigger_bodies():
    """The @var rewrite applies on all three body paths — the
    procedure path (with DML referencing the local) and the trigger
    path (NEW.* mixed with @vars)."""
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql, emit_trigger
    from mysql2pg_spark.sinks.plpgsql_builder import (
        build_spec_from_mysql,
        build_trigger_from_mysql,
    )

    proc = emit_plpgsql(build_spec_from_mysql("""
    CREATE PROCEDURE bump(IN p INT)
    BEGIN
      SET @cnt = 0;
      UPDATE t SET hits = hits + 1 WHERE id = p;
      SET @cnt = @cnt + 1;
    END"""))
    assert "uv_cnt NUMERIC := NULL;" in proc
    assert "uv_cnt := uv_cnt + 1;" in proc
    assert "@" not in proc

    trg = emit_trigger(build_trigger_from_mysql("""
    CREATE TRIGGER t_bi BEFORE INSERT ON t FOR EACH ROW
    BEGIN
      SET @seen = 'x';
      SET NEW.note = @seen;
    END"""))
    assert "uv_seen TEXT := NULL;" in trg
    assert "new.note := uv_seen;" in trg


RESULTSET_PROC_GOLDEN = """\
CREATE OR REPLACE PROCEDURE top_customers(INOUT p_resultset refcursor)
AS $$
DECLARE
BEGIN
    OPEN p_resultset FOR SELECT c_custkey, c_name, c_acctbal FROM customer
  ORDER BY c_acctbal DESC, c_custkey LIMIT 10;
END;
$$ LANGUAGE plpgsql;
COMMENT ON PROCEDURE top_customers IS 'ten largest accounts';"""


def test_resultset_procedure_goldens():
    """Round 9: a procedure streaming ONE result set gains an INOUT
    refcursor (plpgsql's native idiom — `CALL p('c'); FETCH ALL FROM
    c;`); single-SELECT body pinned, multi-statement body keeps its
    other statements and OUT params; p_resultset name collisions and
    >1 result sets refuse."""
    import pytest

    from mysql2pg_spark.plans.stored_demo import RESULTSET_PROC_DDL
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import (
        UnsupportedFunctionError,
        build_spec_from_mysql,
    )

    assert emit_plpgsql(build_spec_from_mysql(RESULTSET_PROC_DDL)) \
        == RESULTSET_PROC_GOLDEN

    multi = emit_plpgsql(build_spec_from_mysql("""
    CREATE PROCEDURE region_report(IN p_region INT, OUT p_total INT)
    BEGIN
      SELECT COUNT(*) INTO p_total FROM nation WHERE n_regionkey = p_region;
      SELECT n_name FROM nation WHERE n_regionkey = p_region;
    END"""))
    assert ("region_report(p_region INTEGER, OUT p_total INTEGER, "
            "INOUT p_resultset refcursor)") in multi
    assert "OPEN p_resultset FOR SELECT n_name FROM nation" in multi

    with pytest.raises(UnsupportedFunctionError, match="collides"):
        build_spec_from_mysql("""
        CREATE PROCEDURE c(IN p_resultset INT)
        BEGIN SELECT 1 FROM t; END""")
    # a result-set SELECT inside a loop would re-OPEN the cursor —
    # MySQL streams one result set per iteration; refuse
    with pytest.raises(UnsupportedFunctionError, match="result-set"):
        build_spec_from_mysql("""
        CREATE PROCEDURE lp(IN n INT)
        BEGIN
          DECLARE i INT DEFAULT 0;
          WHILE i < n DO SELECT i FROM t; SET i = i + 1; END WHILE;
        END""")


def test_resignal_attribute_forms_golden():
    """Round 9: RESIGNAL SET … re-raises the SAME condition with new
    attributes (ERRCODE = SQLSTATE keeps the identity); RESIGNAL
    SQLSTATE raises the NEW condition inheriting the original message
    via SQLERRM; MYSQL_ERRNO rides in HINT like SIGNAL's."""
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import build_spec_from_mysql

    out = emit_plpgsql(build_spec_from_mysql("""
    CREATE FUNCTION r1(a INT) RETURNS INT NO SQL
    BEGIN
      DECLARE EXIT HANDLER FOR SQLEXCEPTION
        RESIGNAL SET MESSAGE_TEXT = 'ctx added', MYSQL_ERRNO = 1644;
      RETURN a;
    END"""))
    assert ("RAISE EXCEPTION USING ERRCODE = SQLSTATE, "
            "MESSAGE = 'ctx added', "
            "HINT = 'MYSQL_ERRNO ' || (1644)::text;") in out

    out = emit_plpgsql(build_spec_from_mysql("""
    CREATE FUNCTION r2(a INT) RETURNS INT NO SQL
    BEGIN
      DECLARE EXIT HANDLER FOR SQLSTATE '23505'
        RESIGNAL SQLSTATE '45002';
      RETURN a;
    END"""))
    assert ("RAISE EXCEPTION USING ERRCODE = '45002', "
            "MESSAGE = SQLERRM;") in out


def test_widened_errno_table_and_class02_routing():
    """Round 9: more well-known MySQL errnos map to the SQLSTATE the
    equivalent PG runtime error carries; a CLASS-02 errno (1329
    ER_SP_FETCH_NO_DATA) must route to the NOT FOUND machinery — a raw
    `EXCEPTION WHEN SQLSTATE '02000'` clause never fires in plpgsql
    (FETCH past end sets FOUND, it does not raise), so emitting one
    would be a silent dead arm."""
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import build_spec_from_mysql
    from mysql2pg_spark.sinks.plpgsql_proc import MYSQL_ERRNO_SQLSTATE

    assert MYSQL_ERRNO_SQLSTATE[1305] == "42883"
    assert MYSQL_ERRNO_SQLSTATE[1526] == "23514"
    assert MYSQL_ERRNO_SQLSTATE[1859] == "23505"

    out = emit_plpgsql(build_spec_from_mysql("""
    CREATE FUNCTION f(p INT) RETURNS INT READS SQL DATA
    BEGIN
      DECLARE done INT DEFAULT 0;
      DECLARE v INT;
      DECLARE cur CURSOR FOR SELECT n FROM t WHERE k = p;
      DECLARE CONTINUE HANDLER FOR 1329 SET done = 1;
      OPEN cur;
      FETCH cur INTO v;
      CLOSE cur;
      RETURN v;
    END"""))
    assert "IF NOT FOUND THEN done := true; END IF;" in out
    assert "'02000'" not in out


def test_signal_warning_class_and_get_diagnostics():
    """Round 9: SIGNAL SQLSTATE '01xxx' → RAISE WARNING (both engines
    add a warning and CONTINUE); GET DIAGNOSTICS translates in both its
    statement-area (v = ROW_COUNT) and condition-area (CONDITION 1
    MESSAGE_TEXT / RETURNED_SQLSTATE inside a handler → GET STACKED
    DIAGNOSTICS) forms; unmappable items/positions refuse."""
    import pytest

    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import (
        UnsupportedFunctionError,
        build_spec_from_mysql,
    )

    out = emit_plpgsql(build_spec_from_mysql("""
    CREATE FUNCTION w(a INT) RETURNS INT NO SQL
    BEGIN
      IF a < 0 THEN
        SIGNAL SQLSTATE '01000' SET MESSAGE_TEXT = 'negative input';
      END IF;
      RETURN a;
    END"""))
    assert ("RAISE WARNING USING ERRCODE = '01000', "
            "MESSAGE = 'negative input';") in out

    out = emit_plpgsql(build_spec_from_mysql("""
    CREATE FUNCTION d(a INT) RETURNS TEXT
    BEGIN
      DECLARE msg TEXT DEFAULT '';
      DECLARE code TEXT DEFAULT '';
      DECLARE EXIT HANDLER FOR SQLEXCEPTION
      BEGIN
        GET DIAGNOSTICS CONDITION 1
          msg = MESSAGE_TEXT, code = RETURNED_SQLSTATE;
        RETURN CONCAT(code, ': ', msg);
      END;
      INSERT INTO t VALUES (a);
      RETURN 'ok';
    END"""))
    assert ("GET STACKED DIAGNOSTICS msg = MESSAGE_TEXT, "
            "code = RETURNED_SQLSTATE;") in out

    out = emit_plpgsql(build_spec_from_mysql("""
    CREATE FUNCTION rc(a INT) RETURNS INT
    BEGIN
      DECLARE n INT DEFAULT 0;
      UPDATE t SET x = 1 WHERE id = a;
      GET DIAGNOSTICS n = ROW_COUNT;
      RETURN n;
    END"""))
    assert "GET DIAGNOSTICS n = ROW_COUNT;" in out

    with pytest.raises(UnsupportedFunctionError, match="CONDITION 2"):
        build_spec_from_mysql(
            "CREATE FUNCTION b() RETURNS INT BEGIN DECLARE m TEXT; "
            "GET DIAGNOSTICS CONDITION 2 m = MESSAGE_TEXT; "
            "RETURN 1; END")
    with pytest.raises(UnsupportedFunctionError, match="outside a handler"):
        build_spec_from_mysql(
            "CREATE FUNCTION b() RETURNS INT BEGIN DECLARE m TEXT; "
            "GET DIAGNOSTICS CONDITION 1 m = MESSAGE_TEXT; "
            "RETURN 1; END")
    with pytest.raises(UnsupportedFunctionError, match="MYSQL_ERRNO"):
        build_spec_from_mysql(
            "CREATE FUNCTION b() RETURNS INT BEGIN "
            "DECLARE m INT; "
            "DECLARE EXIT HANDLER FOR SQLEXCEPTION "
            "GET DIAGNOSTICS CONDITION 1 m = MYSQL_ERRNO; "
            "RETURN 1; END")


def test_not_found_handler_generalizations():
    """Round 9: (a) the NOT FOUND CONTINUE handler fires on a ZERO-ROW
    SELECT INTO — MySQL semantics; plpgsql SELECT INTO sets FOUND
    instead of raising, so the action emits in an IF NOT FOUND arm
    after the INTO; (b) the action may be ANY statement list (e.g. a
    multi-assignment SET), not just one SET."""
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import build_spec_from_mysql

    out = emit_plpgsql(build_spec_from_mysql("""
    CREATE FUNCTION lookup(p INT) RETURNS INT READS SQL DATA
    BEGIN
      DECLARE v INT;
      DECLARE missing INT DEFAULT 0;
      DECLARE CONTINUE HANDLER FOR NOT FOUND SET missing = 1;
      SELECT x INTO v FROM t WHERE id = p;
      IF missing = 1 THEN RETURN -1; END IF;
      RETURN v;
    END"""))
    assert "INTO v;" in out
    assert "IF NOT FOUND THEN missing := true; END IF;" in out

    out = emit_plpgsql(build_spec_from_mysql("""
    CREATE FUNCTION m(p INT) RETURNS INT READS SQL DATA
    BEGIN
      DECLARE done INT DEFAULT 0;
      DECLARE n INT DEFAULT 0;
      DECLARE v INT;
      DECLARE cur CURSOR FOR SELECT x FROM t WHERE k = p;
      DECLARE CONTINUE HANDLER FOR NOT FOUND SET done = 1, n = n - 1;
      OPEN cur;
      lp: LOOP
        FETCH cur INTO v;
        IF done = 1 THEN LEAVE lp; END IF;
        SET n = n + 1;
      END LOOP;
      CLOSE cur;
      RETURN n;
    END"""))
    assert "IF NOT FOUND THEN" in out
    assert "done := 1;" in out and "n := n - 1;" in out


def test_multiple_resultset_procedures():
    """Round 9 widening: N top-level bare SELECTs → N INOUT refcursors
    in result-set order (`CALL p(…, 'c1', 'c2'); FETCH ALL FROM c1;`).
    A result set inside a LOOP still refuses (one per iteration has no
    refcursor analog); multiple result sets with one inside a BRANCH
    refuse (fixed parameter positions cannot express an arm-dependent
    sequence); a SINGLE branch-nested result set is fine (zero-or-one,
    like MySQL)."""
    import pytest

    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import (
        UnsupportedFunctionError,
        build_spec_from_mysql,
    )

    out = emit_plpgsql(build_spec_from_mysql("""
    CREATE PROCEDURE summary_and_detail(IN p INT)
    BEGIN
      SELECT COUNT(*) AS n FROM t WHERE k = p;
      SELECT * FROM t WHERE k = p;
    END"""))
    assert ("INOUT p_resultset refcursor, "
            "INOUT p_resultset2 refcursor") in out
    assert out.index("OPEN p_resultset FOR SELECT COUNT(*)") \
        < out.index("OPEN p_resultset2 FOR SELECT *")

    with pytest.raises(UnsupportedFunctionError, match="inside a loop"):
        build_spec_from_mysql("""
        CREATE PROCEDURE lp(IN n INT)
        BEGIN
          WHILE n > 0 DO SELECT n FROM t; SET n = n - 1; END WHILE;
        END""")
    with pytest.raises(UnsupportedFunctionError, match="branch"):
        build_spec_from_mysql("""
        CREATE PROCEDURE br(IN n INT)
        BEGIN
          IF n > 0 THEN SELECT 1 FROM t; END IF;
          SELECT 2 FROM u;
        END""")
    single_branch = emit_plpgsql(build_spec_from_mysql("""
    CREATE PROCEDURE sb(IN n INT)
    BEGIN
      IF n > 0 THEN SELECT 1 AS one FROM t; END IF;
    END"""))
    assert "INOUT p_resultset refcursor" in single_branch


def test_temporary_tables_in_procedure_bodies():
    """Round 9: CREATE/DROP TEMPORARY TABLE inside routine bodies — the
    staging idiom real procedures use constantly — pass through as body
    DDL with types mapped through the C86 matrix (PG temp tables are
    session-scoped like MySQL's): CREATE TEMP TABLE + one CREATE INDEX
    per KEY clause; DROP TEMPORARY → DROP TABLE. FKs on temp tables and
    unparseable clauses refuse visibly."""
    import pytest

    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import (
        UnsupportedFunctionError,
        build_spec_from_mysql,
    )

    out = emit_plpgsql(build_spec_from_mysql("""
    CREATE PROCEDURE monthly_report(IN p_month VARCHAR(7))
    BEGIN
      DROP TEMPORARY TABLE IF EXISTS tmp_stats;
      CREATE TEMPORARY TABLE tmp_stats (
        cust_id BIGINT NOT NULL,
        total DECIMAL(18,2) DEFAULT 0,
        note VARCHAR(50) DEFAULT 'n/a',
        PRIMARY KEY (cust_id),
        KEY idx_total (total)
      );
      INSERT INTO tmp_stats (cust_id, total)
        SELECT o_custkey, SUM(o_totalprice) FROM orders GROUP BY o_custkey;
      SELECT cust_id, total FROM tmp_stats ORDER BY total DESC LIMIT 10;
    END"""))
    assert "DROP TABLE IF EXISTS tmp_stats;" in out
    assert "CREATE TEMP TABLE tmp_stats (" in out
    assert "cust_id BIGINT NOT NULL" in out
    assert "total DECIMAL(18,2) DEFAULT 0" in out
    assert "note VARCHAR(50) DEFAULT 'n/a'" in out
    assert "PRIMARY KEY (cust_id)" in out
    assert ("CREATE INDEX IF NOT EXISTS tmp_stats_idx_total "
            "ON tmp_stats (total);") in out
    # DDL comes BEFORE the INSERT that fills it and the result-set OPEN
    assert out.index("CREATE TEMP TABLE") < out.index("INSERT INTO tmp_stats")
    assert "OPEN p_resultset FOR SELECT cust_id" in out

    with pytest.raises(UnsupportedFunctionError, match="FOREIGN KEY"):
        build_spec_from_mysql("""
        CREATE PROCEDURE f()
        BEGIN
          CREATE TEMPORARY TABLE t (
            a INT,
            FOREIGN KEY (a) REFERENCES x (id)
          );
        END""")


def test_dml_limit_rewrites_to_ctid_subquery():
    """MySQL DELETE/UPDATE … [ORDER BY …] LIMIT n in routine bodies
    (the batch-purge idiom) has no PostgreSQL analog — a verbatim
    pass-through emitted plpgsql that failed at first execution. The
    single-table forms rewrite to the standard ctid-IN-subquery
    spelling; multi-table forms refuse (round 11)."""
    import pytest

    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import (
        UnsupportedFunctionError,
        build_spec_from_mysql,
    )

    def emit(body: str) -> str:
        return emit_plpgsql(build_spec_from_mysql(
            "CREATE FUNCTION f(x INT) RETURNS INT MODIFIES SQL DATA "
            "BEGIN " + body + " END"
        ))

    out = emit("DELETE FROM t WHERE a < x LIMIT 10; RETURN 1;")
    assert ("DELETE FROM t WHERE ctid IN "
            "(SELECT ctid FROM t WHERE a < x LIMIT 10);") in out
    # ORDER BY rides into the subquery (MySQL deletes the FIRST n in
    # that order; the ctid subquery picks the same rows)
    out = emit("DELETE FROM t ORDER BY ts LIMIT 5; RETURN 1;")
    assert ("DELETE FROM t WHERE ctid IN "
            "(SELECT ctid FROM t ORDER BY ts LIMIT 5);") in out
    out = emit("UPDATE t SET a = a + 1 WHERE b = x LIMIT 3; RETURN 1;")
    assert ("UPDATE t SET a = a + 1 WHERE ctid IN "
            "(SELECT ctid FROM t WHERE b = x LIMIT 3);") in out
    # a LIMIT inside a WHERE subquery is valid PG — untouched
    out = emit(
        "DELETE FROM t WHERE id IN (SELECT id FROM u LIMIT 5); RETURN 1;"
    )
    assert "DELETE FROM t WHERE id IN (SELECT id FROM u LIMIT 5);" in out
    assert "ctid" not in out
    # a WHERE inside a parenthesized SET subexpression must stay in
    # the SET clause — only the TOP-LEVEL WHERE splits (review r11:
    # the first-WHERE regex split emitted malformed SQL here)
    out = emit(
        "UPDATE t SET x = (SELECT y FROM u WHERE u.id = t.id) "
        "WHERE t.z = x LIMIT 5; RETURN 1;"
    )
    assert ("UPDATE t SET x = (SELECT y FROM u WHERE u.id = t.id) "
            "WHERE ctid IN (SELECT ctid FROM t WHERE t.z = x LIMIT 5);"
            ) in out
    # …and an UPDATE whose only WHERE is inside the subquery
    out = emit(
        "UPDATE t SET x = (SELECT MAX(y) FROM u WHERE u.k = 1) "
        "LIMIT 2; RETURN 1;"
    )
    assert ("UPDATE t SET x = (SELECT MAX(y) FROM u WHERE u.k = 1) "
            "WHERE ctid IN (SELECT ctid FROM t LIMIT 2);") in out
    # a JOIN inside a WHERE subquery is still single-table DML
    out = emit(
        "DELETE FROM t WHERE id IN "
        "(SELECT a.id FROM a JOIN b ON a.id = b.id) LIMIT 4; RETURN 1;"
    )
    assert "WHERE ctid IN (SELECT ctid FROM t WHERE id IN" in out
    # multi-table forms refuse instead of guessing PG USING semantics
    with pytest.raises(UnsupportedFunctionError, match="single-table"):
        emit("DELETE t1 FROM t1 JOIN t2 ON t1.id = t2.id LIMIT 5; "
             "RETURN 1;")
    with pytest.raises(UnsupportedFunctionError, match="multi-table"):
        emit("DELETE FROM t USING u WHERE t.id = u.id LIMIT 5; "
             "RETURN 1;")


def test_body_upsert_forms_refuse_visibly():
    """INSERT … ON DUPLICATE KEY UPDATE / INSERT IGNORE inside routine
    bodies previously passed through verbatim and failed at first PG
    execution. Both now refuse naming the ON CONFLICT rewrite (a
    catalog-free translation would guess the conflict target / change
    error-class behavior) — same contract as REPLACE INTO."""
    import pytest

    from mysql2pg_spark.sinks.plpgsql_builder import (
        UnsupportedFunctionError,
        build_spec_from_mysql,
    )

    def build(body):
        return build_spec_from_mysql(
            "CREATE FUNCTION f(x INT) RETURNS INT MODIFIES SQL DATA "
            "BEGIN " + body + " END"
        )

    with pytest.raises(UnsupportedFunctionError, match="ON CONFLICT"):
        build("INSERT INTO t (a) VALUES (x) "
              "ON DUPLICATE KEY UPDATE a = VALUES(a); RETURN 1;")
    with pytest.raises(UnsupportedFunctionError, match="error classes"):
        build("INSERT IGNORE INTO t (a) VALUES (x); RETURN 1;")


LOOP_RESULTSET_GOLDEN = """\
CREATE OR REPLACE PROCEDURE emit_top_suppliers(INOUT p_resultset refcursor)
AS $$
DECLARE
    done BOOLEAN := false;
    v_suppkey INTEGER;
    v_name VARCHAR(25);
    v_acctbal DECIMAL(15,2);
    c refcursor;
BEGIN
    DROP TABLE IF EXISTS tmp_rs_emit_top_suppliers;
    CREATE TEMP TABLE tmp_rs_emit_top_suppliers (v_suppkey INTEGER, v_name VARCHAR(25), v_acctbal DECIMAL(15,2)) ON COMMIT DROP;
    OPEN c FOR SELECT s_suppkey, s_name, s_acctbal FROM supplier
    ORDER BY s_acctbal DESC, s_suppkey LIMIT 20;
    <<emit_loop>>
    LOOP
        FETCH NEXT FROM c INTO v_suppkey, v_name, v_acctbal;
        IF NOT FOUND THEN done := true; END IF;
        IF done THEN
            EXIT emit_loop;
        END IF;
        IF v_acctbal > 0 THEN
            INSERT INTO tmp_rs_emit_top_suppliers SELECT v_suppkey, v_name, v_acctbal;
        END IF;
    END LOOP emit_loop;
    CLOSE c;
    OPEN p_resultset FOR SELECT * FROM tmp_rs_emit_top_suppliers;
END;
$$ LANGUAGE plpgsql;"""


def test_loop_resultset_accumulate_golden():
    """Round 12 (r11 C95 tail): the cursor-accumulate shape — ONE
    variables-only SELECT inside a loop — translates via a statically
    typed temp-table accumulator (plpgsql does not substitute
    variables into utility statements, so the column list is explicit)
    + one final OPEN; non-conforming in-loop SELECTs still refuse."""
    import pytest

    from mysql2pg_spark.plans.stored_demo import LOOP_RESULTSET_PROC_DDL
    from mysql2pg_spark.schema.plpgsql_check import check_script
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import (
        UnsupportedFunctionError,
        build_spec_from_mysql,
    )

    out = emit_plpgsql(build_spec_from_mysql(LOOP_RESULTSET_PROC_DDL))
    assert out == LOOP_RESULTSET_GOLDEN
    assert check_script(out) == []  # grammar gate

    # expressions in the loop SELECT: types unknowable → refuse
    with pytest.raises(UnsupportedFunctionError, match="result-set"):
        build_spec_from_mysql("""
        CREATE PROCEDURE lp1()
        BEGIN
          DECLARE i INT DEFAULT 0;
          WHILE i < 3 DO SELECT i * 2; SET i = i + 1; END WHILE;
        END""")
    # FROM inside the loop SELECT: not the accumulate shape → refuse
    with pytest.raises(UnsupportedFunctionError, match="result-set"):
        build_spec_from_mysql("""
        CREATE PROCEDURE lp2()
        BEGIN
          DECLARE i INT DEFAULT 0;
          WHILE i < 3 DO SELECT i FROM t; SET i = i + 1; END WHILE;
        END""")
    # a RETURN could skip the final OPEN → refuse
    with pytest.raises(UnsupportedFunctionError, match="result-set"):
        build_spec_from_mysql("""
        CREATE PROCEDURE lp3()
        BEGIN
          DECLARE i INT DEFAULT 0;
          WHILE i < 3 DO
            SELECT i;
            SET i = i + 1;
          END WHILE;
          IF i > 2 THEN RETURN; END IF;
        END""")
    # duplicate output columns cannot form the temp table → refuse
    with pytest.raises(UnsupportedFunctionError, match="result-set"):
        build_spec_from_mysql("""
        CREATE PROCEDURE lp4()
        BEGIN
          DECLARE i INT DEFAULT 0;
          WHILE i < 3 DO SELECT i, i; SET i = i + 1; END WHILE;
        END""")
    # a SECOND result set alongside the in-loop one → refuse
    with pytest.raises(UnsupportedFunctionError, match="result-set"):
        build_spec_from_mysql("""
        CREATE PROCEDURE lp5()
        BEGIN
          DECLARE i INT DEFAULT 0;
          WHILE i < 3 DO SELECT i; SET i = i + 1; END WHILE;
          SELECT n_name FROM nation;
        END""")
    # aliased variables keep the accumulate shape (column = alias)
    ok = emit_plpgsql(build_spec_from_mysql("""
    CREATE PROCEDURE lp6()
    BEGIN
      DECLARE i INT DEFAULT 0;
      WHILE i < 3 DO SELECT i AS step; SET i = i + 1; END WHILE;
    END"""))
    assert "CREATE TEMP TABLE tmp_rs_lp6 (step" in ok
    assert "INSERT INTO tmp_rs_lp6 SELECT i AS step;" in ok


SYSVAR_FN_GOLDEN = """\
CREATE OR REPLACE FUNCTION server_tag()
RETURNS VARCHAR(128)
STABLE AS $$
DECLARE
    result VARCHAR(128);
BEGIN
    SELECT (CAST(current_setting('server_version') AS TEXT) || ' tz=' || CAST(current_setting('TimeZone') AS TEXT))
    INTO result;
    RETURN result;
END;
$$ LANGUAGE plpgsql;"""


def test_sysvar_reads_map_writes_refuse():
    """Round 12 (r11 C95 tail): @@system-variable READS with a faithful
    PG analog map to current_setting() (@@x, @@session.x and
    @@global.x spellings); writes refuse BY NAME in any SET position;
    unmapped reads still refuse."""
    import pytest

    from mysql2pg_spark.plans.stored_demo import SYSVAR_FN_DDL
    from mysql2pg_spark.schema.plpgsql_check import check_script
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import (
        UnsupportedFunctionError,
        build_spec_from_mysql,
    )

    out = emit_plpgsql(build_spec_from_mysql(SYSVAR_FN_DDL))
    assert out == SYSVAR_FN_GOLDEN
    assert check_script(out) == []

    # @@global.x maps to the same session-effective reader
    g = emit_plpgsql(build_spec_from_mysql("""
    CREATE FUNCTION mc() RETURNS VARCHAR(16) READS SQL DATA
    BEGIN
      RETURN @@global.max_connections;
    END"""))
    assert "current_setting('max_connections')" in g

    # writes refuse by name — every spelling, any SET-list position
    for body in (
        "SET @@time_zone = 'UTC';",
        "SET @@session.time_zone = 'UTC';",
        "SET @@GLOBAL.max_connections = 10;",
        "SET SESSION sql_mode = 'ANSI';",
        "SET GLOBAL max_connections = 10;",
        "SET done = 1, @@time_zone = 'UTC';",
    ):
        with pytest.raises(UnsupportedFunctionError, match="SET of system"):
            build_spec_from_mysql(
                "CREATE PROCEDURE w()\nBEGIN\n  DECLARE done INT;\n  "
                + body + "\nEND"
            )
    # unmapped reads (different PG names/units) still refuse
    with pytest.raises(UnsupportedFunctionError, match="@@system"):
        build_spec_from_mysql("""
        CREATE FUNCTION sm() RETURNS VARCHAR(64) READS SQL DATA
        BEGIN
          RETURN @@sql_mode;
        END""")


def test_enum_values_parser():
    from mysql2pg_spark.schema.schema_map import enum_values, set_values

    assert enum_values("enum('a','b','it''s')") == ["'a'", "'b'", "'it''s'"]
    assert enum_values("ENUM ( 'x' )") == ["'x'"]
    assert enum_values(r"enum('a\'b')") == []   # backslash escape → skip
    assert enum_values("varchar(20)") is None
    assert enum_values("set('x','y')") is None  # SET is set_values' job
    assert set_values("set('x','y')") == ["'x'", "'y'"]
    assert set_values("SET ( 'a b', 'c''d' )") == ["'a b'", "'c''d'"]
    assert set_values(r"set('a\'b')") == []     # backslash escape → skip
    assert set_values("enum('x')") is None
    assert set_values("varchar(20)") is None


def test_enum_and_set_domains_emit_check_constraints(spark, tmp_path):
    """Round 12 (enum) + round 13 (set), beyond-reference: enum('a','b')
    → post-data CHECK (col IN (…)); set('a','b') → post-data
    CHECK (string_to_array(col, ',') <@ ARRAY[…]) — splitting on ','
    is exact because MySQL forbids commas inside SET members. The
    reference flattens both to VARCHAR(255) and discards the lists."""
    from mysql2pg_spark.config import EngineConfig
    from mysql2pg_spark.orchestrator import MigrationPipeline
    from mysql2pg_spark.sources.dumpfile import full_snapshot_from_dump

    p = tmp_path / "enum.sql"
    p.write_text(
        "CREATE TABLE `shirts` (\n"
        "  `id` int NOT NULL,\n"
        "  `size` enum('S','M','L') NOT NULL,\n"
        "  `tags` set('a','b') DEFAULT NULL\n"
        ");\n"
    )
    snap = full_snapshot_from_dump(spark, str(p))
    actions = MigrationPipeline(EngineConfig(), snap).plan()
    chk = [a for a in actions if a.stage == "checks"]
    assert [a.kind for a in chk] == ["ddl", "ddl"]
    assert chk[0].payload == (
        'ALTER TABLE shirts ADD CONSTRAINT size_enum_chk '
        "CHECK (size IN ('S', 'M', 'L'))"
    )
    assert chk[1].payload == (
        'ALTER TABLE shirts ADD CONSTRAINT tags_set_chk '
        "CHECK (string_to_array(tags, ',') <@ ARRAY['a', 'b']::text[])"
    )


def test_set_membership_check_semantics_in_postgres_dialect():
    """The emitted SET membership predicate accepts exactly MySQL's
    domain: any comma-joined subset (including '' = the empty set and
    NULL), rejects non-members — verified by evaluating the SAME
    predicate in DuckDB (list containment spelled per-element, since
    DuckDB lacks ``<@``; the PG operator is array-containment with
    identical semantics for text elements)."""
    import duckdb

    con = duckdb.connect()
    # PG: string_to_array(v, ',') <@ ARRAY['a','b']  — emulate
    # element-wise in DuckDB to validate the SEMANTICS of the check
    pred = (
        "list_aggregate(list_transform(string_split(v, ','), "
        "x -> CASE WHEN x IN ('a', 'b') THEN 1 ELSE 0 END), 'min') = 1"
    )
    rows = con.execute(
        f"SELECT v, {pred} FROM (VALUES ('a'), ('b'), ('a,b'), ('b,a'), "
        "('c'), ('a,c')) t(v)"
    ).fetchall()
    assert dict(rows) == {
        "a": True, "b": True, "a,b": True, "b,a": True,
        "c": False, "a,c": False,
    }
    # the empty set: PG string_to_array('', ',') = {} ⊆ anything, so
    # '' (MySQL's empty SET, valid for every SET column) passes the
    # check — that case is PG-specific (DuckDB splits '' to ['']) and
    # documented here rather than emulated.


def test_expression_defaults_rewrite_or_drop_visibly():
    """ADVICE r12: EXPR:-marked MySQL 8 expression defaults run through
    the dialect rewriter before landing in PG CREATE TABLE — uuid() →
    gen_random_uuid(), now(3) → CURRENT_TIMESTAMP(3), unquoted INTERVAL
    quotes, backticks unwrap — and an expression with no PG analog
    DROPS the default with a note instead of emitting broken DDL."""
    from pyspark.sql.types import StructType

    from mysql2pg_spark.schema.schema_map import struct_field_for
    from mysql2pg_spark.sinks.ddl import (
        create_table_ddl,
        default_sql,
        pg_expr_default,
    )

    assert default_sql("EXPR:(uuid())") == "(gen_random_uuid())"
    assert default_sql("EXPR:(now(3))") == "(CURRENT_TIMESTAMP(3))"
    assert default_sql("EXPR:(curdate() + interval 1 day)") == (
        "(CURRENT_DATE + INTERVAL '1 DAY')"
    )
    assert default_sql("EXPR:(`qty` * 2)") == '("qty" * 2)'
    # literal contents are not rewritten
    assert default_sql("EXPR:('interval 1 day')") == "('interval 1 day')"
    # no PG analog → None, with the function named
    assert default_sql("EXPR:(uuid_short())") is None
    _, why = pg_expr_default("(uuid_short())")
    assert "uuid_short()" in why
    # unmarked live-catalog function defaults ride the same gate
    assert default_sql("uuid()") == "gen_random_uuid()"
    assert default_sql("uuid_short()") is None
    assert default_sql("CURRENT_TIMESTAMP") == "CURRENT_TIMESTAMP"
    # plain string values still quote (a value is never an expression)
    assert default_sql("none") == "'none'"

    schema = StructType([
        struct_field_for("id", "bigint", nullable=False),
        struct_field_for("token", "varchar(36)", default="EXPR:(uuid())"),
        struct_field_for("shard", "int", default="EXPR:(uuid_short())"),
    ])
    notes: list[str] = []
    ddl = create_table_ddl("t", schema, notes=notes)
    assert "token VARCHAR(36) DEFAULT (gen_random_uuid())" in ddl
    assert "uuid_short" not in ddl  # dropped, not emitted raw
    assert len(notes) == 1 and "uuid_short()" in notes[0]
    assert "column shard" in notes[0]


def test_diff_surfaces_untranslatable_defaults():
    """schema.diff: ADD COLUMN / SET DEFAULT with an untranslatable
    expression default emit a -- NOTE comment instead of broken SQL."""
    from mysql2pg_spark.orchestrator import (
        CatalogSnapshot,
        ColumnMeta,
        TableMeta,
    )
    from mysql2pg_spark.schema.diff import diff_snapshots

    old = CatalogSnapshot(tables=[
        TableMeta("t", [ColumnMeta("id", "int", nullable=False)]),
    ])
    new = CatalogSnapshot(tables=[
        TableMeta("t", [
            ColumnMeta("id", "int", nullable=False),
            ColumnMeta("tok", "varchar(36)", default="EXPR:(uuid())"),
            ColumnMeta("shard", "int", default="EXPR:(uuid_short())"),
        ]),
    ])
    stmts = diff_snapshots(old, new)
    joined = "\n".join(stmts)
    assert "DEFAULT (gen_random_uuid())" in joined
    assert "uuid_short" not in "\n".join(
        s for s in stmts if not s.startswith("--")
    )
    assert any(
        s.startswith("-- NOTE t.shard:") and "no PostgreSQL analog" in s
        for s in stmts
    )


def test_functional_index_translates_or_skips():
    """Round 15 (beyond-reference): a MySQL 8 functional index becomes
    a PG expression index when every rewritten key part passes the
    emitted-DDL expression grammar; parts outside the grammar (e.g.
    multi-valued CAST ... AS UNSIGNED ARRAY) decline to None and the
    planner keeps the documented skip."""
    from mysql2pg_spark.sinks.ddl import IndexSpec, functional_index_ddl

    ok = functional_index_ddl(
        "t", IndexSpec("idx_fn", [], False, "btree",
                       expression="(UPPER(name))")
    )
    assert ok == (
        "CREATE INDEX IF NOT EXISTS t_idx_fn ON t ((UPPER(CAST(name AS TEXT))))"
    )
    multi = functional_index_ddl(
        "t", IndexSpec("idx_m", [], True, "btree",
                       expression="(concat(a, ', ', b)), (year(c))")
    )
    assert multi is not None
    assert "CAST(EXTRACT(YEAR FROM CAST(c AS TIMESTAMP)) AS BIGINT)" in multi
    assert multi.startswith("CREATE UNIQUE INDEX")
    # outside the grammar -> decline (documented skip upstream)
    assert functional_index_ddl(
        "t", IndexSpec("idx_mv", [], False, "btree",
                       expression="(CAST(d->>'$.id' AS UNSIGNED ARRAY))")
    ) is None
    # plain-column and non-btree specs are not this path's business
    assert functional_index_ddl(
        "t", IndexSpec("plain", ["a"], False, "btree")
    ) is None
    assert functional_index_ddl(
        "t", IndexSpec("ft", [], False, "fulltext",
                       expression="(lower(a))")
    ) is None


def test_mixed_functional_index_never_overconstrains():
    """Review r15: a MIXED key `(a, (lower(b)))` must never migrate as
    a plain index on `a` (a UNIQUE key would over-constrain with no
    skip). The whole ordered body rides as the expression and the
    emitter translates part-by-part."""
    from mysql2pg_spark.schema.sqltext import plain_index_columns
    from mysql2pg_spark.sinks.ddl import IndexSpec, functional_index_ddl

    assert plain_index_columns("`a`, `b`(10), c DESC") == ["a", "b", "c"]
    assert plain_index_columns("a, (lower(b))") is None
    assert plain_index_columns("(lower(`name`))") is None

    ddl = functional_index_ddl(
        "t", IndexSpec("u", [], True, "btree",
                       expression="`a`, (lower(`b`))")
    )
    assert ddl == (
        'CREATE UNIQUE INDEX IF NOT EXISTS t_u ON t'
        ' (a, (LOWER(CAST("b" AS TEXT))))'
    )


def test_group_indexes_mixed_and_functional_rows():
    """Review r15: live-catalog statistics rows with a NULL column_name
    reconstruct the FULL ordered part list (plain parts backticked,
    expression parts verbatim) — never a cherry-picked plain index."""
    from mysql2pg_spark.sources.catalog import group_indexes

    rows = [
        {"table_name": "t", "index_name": "m", "column_name": "a",
         "seq_in_index": 1, "non_unique": 0, "index_type": "BTREE",
         "expression": None},
        {"table_name": "t", "index_name": "m", "column_name": None,
         "seq_in_index": 2, "non_unique": 0, "index_type": "BTREE",
         "expression": "(lower(`b`))"},
        {"table_name": "t", "index_name": "p", "column_name": "x",
         "seq_in_index": 1, "non_unique": 1, "index_type": "BTREE",
         "expression": None},
    ]
    specs = {i.name: i for i in group_indexes(rows)["t"]}
    assert specs["m"].columns == []
    assert specs["m"].expression == "`a`, (lower(`b`))"
    assert specs["m"].unique
    assert specs["p"].columns == ["x"] and specs["p"].expression is None


def test_build_snapshot_index_scan_falls_back_pre_8013():
    """Review r15: on servers without statistics.EXPRESSION
    (MySQL < 8.0.13) the A6 scan retries the legacy query instead of
    losing every index."""
    from mysql2pg_spark.sources.catalog import build_snapshot

    calls = []

    def run_query(q):
        calls.append(q)
        if "statistics" in q and "expression" in q:
            raise RuntimeError("Unknown column 'expression'")
        if "statistics" in q:
            return [{"table_name": "t", "index_name": "i",
                     "column_name": "a", "seq_in_index": 1,
                     "non_unique": 1, "index_type": "BTREE"}]
        if "FROM information_schema.tables" in q:
            return [{"table_name": "t", "table_comment": "",
                     "table_rows": 0}]
        return []

    snap = build_snapshot("db", run_query)
    (t,) = snap.tables
    assert [i.columns for i in t.indexes] == [["a"]]
    assert any("expression" in q for q in calls)  # primary tried first
