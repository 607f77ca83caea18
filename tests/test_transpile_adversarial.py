"""Adversarial property tests for the transpiler (SURVEY §2.C grammar).

The reference's regex chain broke exactly on nested calls with
quoted literals containing ``),(`` and friends (sync_functions.go:430-465
carries hardcoded patches for those cases). Here hypothesis generates
random expression TREES over the C12-C33 string/conditional subset,
renders them in MySQL spelling, and checks the transpiled output by
EXECUTION, not text comparison:

- Spark executes ``transpile_mysql`` output; the result must equal the
  ground truth computed directly from the tree in Python (MySQL
  semantics, implemented independently of the transpiler);
- DuckDB and PostgreSQL 15 (the ``pg`` fixture) execute
  ``transpile_mysql_ansi`` output — the one sink-side translator for
  views and every DDL expression — against the same ground truth.

Trees are constant expressions, so each example is a sub-100ms
``SELECT``; literals draw from an alphabet heavy in ``),(``, quotes,
commas and parens — the tokens that break naive splitting — plus NULL
and integer leaves (MySQL string functions take any type and return
NULL for a NULL argument).

The truth table below pins fixed rows from the MySQL 8.0 manual on all
three targets, and runs the DDL expression positions (generated
column, functional index, partition key, CHECK) on PostgreSQL, which
requires IMMUTABLE expressions there.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mysql2pg_spark.dialect.ansi import transpile_mysql_ansi
from mysql2pg_spark.dialect.transpile import transpile_mysql

# ASCII-only (locale-stable upper/lower), no backslashes (renderer uses
# '' doubling), rich in structural characters.
_ALPHABET = "ab C),(',%_.9-"

_text = st.text(alphabet=_ALPHABET, max_size=12)


def _leaf(ints: bool):
    leaves = [_text.map(lambda s: ("lit", s)), st.just(("null",))]
    if ints:
        leaves.append(
            st.integers(min_value=-99, max_value=999).map(lambda n: ("int", n))
        )
    return st.one_of(*leaves)


def _node(children):
    return st.one_of(
        st.tuples(st.just("concat"), st.lists(children, min_size=2, max_size=3)),
        st.tuples(st.just("if"), st.booleans(), children, children),
        st.tuples(st.just("ifnull_null"), children),
        st.tuples(st.just("upper"), children),
        st.tuples(st.just("lower"), children),
        st.tuples(st.just("reverse"), children),
        st.tuples(st.just("trim"), children),
        st.tuples(
            st.just("replace"),
            children,
            st.text(alphabet=_ALPHABET, min_size=1, max_size=3),
            st.text(alphabet=_ALPHABET, max_size=3),
        ),
        st.tuples(
            st.just("ssi"),
            children,
            st.sampled_from([",", "),(", "a", "%"]),
            st.integers(min_value=-3, max_value=3),
        ),
    )


_tree = st.recursive(_leaf(True), _node, max_leaves=8)
# Spark keeps MySQL's IF(c, 0, '') typing wrong (ANSI mode casts the
# '' branch to BIGINT and fails), so its trees carry no integer leaves
_spark_tree = st.recursive(_leaf(False), _node, max_leaves=8)
# the ANSI/DuckDB-safe subset: no IF(), no SUBSTRING_INDEX
_ANSI_OPS = {"lit", "int", "null", "concat", "ifnull_null", "upper",
             "lower", "reverse", "trim", "replace"}


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _render(t) -> str:
    """Tree → MySQL spelling."""
    op = t[0]
    if op == "lit":
        return _q(t[1])
    if op == "int":
        return str(t[1])
    if op == "null":
        return "NULL"
    if op == "concat":
        return "CONCAT(" + ", ".join(_render(c) for c in t[1]) + ")"
    if op == "if":
        cond = "1<2" if t[1] else "2<1"
        return f"IF({cond}, {_render(t[2])}, {_render(t[3])})"
    if op == "ifnull_null":
        return f"IFNULL(NULL, {_render(t[1])})"
    if op in ("upper", "lower", "reverse", "trim"):
        return f"{op.upper()}({_render(t[1])})"
    if op == "replace":
        return f"REPLACE({_render(t[1])}, {_q(t[2])}, {_q(t[3])})"
    if op == "ssi":
        return f"SUBSTRING_INDEX({_render(t[1])}, {_q(t[2])}, {t[3]})"
    raise AssertionError(op)


def _eval(t) -> str | None:
    """Tree → expected value under MySQL semantics (independent impl):
    integers read as their decimal text, NULL propagates through every
    string function and CONCAT."""
    op = t[0]
    if op == "lit":
        return t[1]
    if op == "int":
        return str(t[1])
    if op == "null":
        return None
    if op == "if":
        return _eval(t[2]) if t[1] else _eval(t[3])
    if op == "ifnull_null":
        return _eval(t[1])
    args = [_eval(c) for c in t[1]] if op == "concat" else [_eval(t[1])]
    if None in args:
        return None
    if op == "concat":
        return "".join(args)
    x = args[0]
    if op == "upper":
        return x.upper()
    if op == "lower":
        return x.lower()
    if op == "reverse":
        return x[::-1]
    if op == "trim":
        return x.strip(" ")  # MySQL TRIM strips spaces only
    if op == "replace":
        return x.replace(t[2], t[3])
    if op == "ssi":
        s, d, n = x, t[2], t[3]
        if n == 0:
            return ""
        parts = s.split(d)
        if n > 0:
            return d.join(parts[:n]) if n < len(parts) else s
        return d.join(parts[n:]) if -n < len(parts) else s
    raise AssertionError(op)


def _as_text(v) -> str | None:
    """An engine's value as MySQL's client prints it (an integer-typed
    result compares by its decimal text; psql already returns text).
    Numbers compare by value: DuckDB computes MySQL's integer math in
    DOUBLE, so 7 arrives as 7.0."""
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    return None if v is None else str(v)


def _ops(t) -> set:
    out = {t[0]}
    for c in t[1:]:
        if isinstance(c, tuple):
            out |= _ops(c)
        elif isinstance(c, list):
            for x in c:
                out |= _ops(x)
    return out


@given(_spark_tree)
@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_transpiled_tree_executes_to_mysql_semantics(spark, t):
    sql = transpile_mysql(f"SELECT {_render(t)} AS v")
    got = spark.sql(sql).collect()[0].v
    assert _as_text(got) == _eval(t), sql


@given(_tree.filter(lambda t: _ops(t) <= _ANSI_OPS))
@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_ansi_rendering_executes_in_duckdb_and_postgres(pg, t):
    mysql = f"SELECT {_render(t)} AS v"
    sql = transpile_mysql_ansi(mysql, "duckdb")
    assert _as_text(duckdb.sql(sql).fetchone()[0]) == _eval(t), sql
    sql = transpile_mysql_ansi(mysql)
    pg.execute(sql)
    assert pg.fetchall() == [(_eval(t),)], sql


def test_known_regex_breakers(spark):
    """The exact shapes the reference patched by hand: nested calls whose
    literals contain tuple separators and unbalanced-looking parens."""
    cases = [
        ("SELECT CONCAT('),(', UPPER('a),(b')) AS v", "),(A),(B"),
        ("SELECT IF(1<2, CONCAT('(', ')('), 'x') AS v", "()("),
        ("SELECT REPLACE(CONCAT('a,b),(c', 'd'), '),(', '|') AS v", "a,b|cd"),
        ("SELECT SUBSTRING_INDEX('x),(y),(z', '),(', 2) AS v", "x),(y"),
        ("SELECT IFNULL(NULL, LOWER('A''B')) AS v", "a'b"),
    ]
    for sql, want in cases:
        got = spark.sql(transpile_mysql(sql)).collect()[0].v
        assert got == want, sql


#: (MySQL query, MySQL's answer as the client prints it; None = NULL).
#: Rows follow the MySQL 8.0 manual's own examples where it has one;
#: the rest pin the constructs on which the former sink translators
#: disagreed. Timestamps assume a UTC session (every engine here runs
#: in UTC).
TRUTH = [
    # SUBSTRING_INDEX: first / last n parts, never the n-th part alone
    ("SELECT SUBSTRING_INDEX('a,b,c', ',', 2)", "a,b"),
    ("SELECT SUBSTRING_INDEX('www.mysql.com', '.', 2)", "www.mysql"),
    ("SELECT SUBSTRING_INDEX('www.mysql.com', '.', -2)", "mysql.com"),
    ("SELECT SUBSTRING_INDEX('a,b,c', ',', 0)", ""),
    ("SELECT SUBSTRING_INDEX('a,b,c', ',', 9)", "a,b,c"),
    # DATE_FORMAT: every table token, %%, literal letters
    ("SELECT DATE_FORMAT('2009-10-04 22:23:00', '%W %M %Y')",
     "Sunday October 2009"),
    ("SELECT DATE_FORMAT('2007-10-04 22:23:00', '%H:%i:%s')", "22:23:00"),
    ("SELECT DATE_FORMAT('2024-01-05 13:04:09', '%Y-%m-%d %r')",
     "2024-01-05 01:04:09 PM"),
    ("SELECT DATE_FORMAT('2024-03-07 09:05:01', '%e/%c %k:%i %l%p %y')",
     "7/3 9:05 9AM 24"),
    ("SELECT DATE_FORMAT('2024-03-07 09:05:01', '%a %b %j %T %d.%h.%I.%S')",
     "Thu Mar 067 09:05:01 07.09.09.01"),
    ("SELECT DATE_FORMAT('2024-03-07 09:05:01.250000', '%f')", "250000"),
    ("SELECT DATE_FORMAT('2024-03-07 09:05:01', '%%Y')", "%Y"),
    ("SELECT DATE_FORMAT('2024-03-07 09:05:01', '%Y year')", "2024 year"),
    ("SELECT DATE_FORMAT('2024-03-07 09:05:01', 'Q%m %% done')",
     "Q03 % done"),
    # CONCAT: NULL if any argument is NULL; numbers read as text
    ("SELECT CONCAT('My', 'S', 'QL')", "MySQL"),
    ("SELECT CONCAT('My', NULL, 'QL')", None),
    ("SELECT CONCAT(14.3)", "14.3"),
    ("SELECT CONCAT(1, 2)", "12"),
    # CONCAT_WS skips NULL arguments; a NULL separator gives NULL
    ("SELECT CONCAT_WS(',', 'First name', 'Second name', 'Last Name')",
     "First name,Second name,Last Name"),
    ("SELECT CONCAT_WS(',', 'First name', NULL, 'Last Name')",
     "First name,Last Name"),
    ("SELECT CONCAT_WS(NULL, 'a', 'b')", None),
    ("SELECT CONCAT_WS('-', 1, 2)", "1-2"),
    # GROUP_CONCAT: ORDER BY and SEPARATOR inside the call
    ("SELECT GROUP_CONCAT(x ORDER BY y SEPARATOR ';') FROM (SELECT 'b' AS x,"
     " 2 AS y UNION ALL SELECT 'a', 1 UNION ALL SELECT 'c', 3) t", "a;b;c"),
    ("SELECT GROUP_CONCAT(DISTINCT x ORDER BY x DESC) FROM (SELECT 'b' AS x"
     " UNION ALL SELECT 'a' UNION ALL SELECT 'b') t", "b,a"),
    # CAST … SIGNED, DATEDIFF
    ("SELECT CAST('12' AS SIGNED)", "12"),
    ("SELECT CAST('-7' AS SIGNED) + 1", "-6"),
    ("SELECT DATEDIFF('2007-12-31 23:59:59', '2007-12-30')", "1"),
    ("SELECT DATEDIFF('2010-11-30 23:59:59', '2010-12-31')", "-31"),
    # REGEXP / RLIKE search anywhere in the subject
    ("SELECT CASE WHEN 'Michael!' REGEXP '.*' THEN 'y' ELSE 'n' END", "y"),
    ("SELECT CASE WHEN 'abcde' REGEXP 'bcd' THEN 'y' ELSE 'n' END", "y"),
    ("SELECT CASE WHEN 'abcde' NOT REGEXP '^bcd' THEN 'y' ELSE 'n' END",
     "y"),
    ("SELECT CASE WHEN 'abcde' RLIKE CONCAT('x', 'y') THEN 'y' ELSE 'n' END",
     "n"),
    # …ignoring case under the default _ci collations
    ("SELECT CASE WHEN 'ABC' REGEXP 'b' THEN 'y' ELSE 'n' END", "y"),
    ("SELECT CASE WHEN 'ABC' NOT RLIKE '^a' THEN 'y' ELSE 'n' END", "n"),
    # charset introducers: the literal is the value
    ("SELECT _utf8mb4'abc'", "abc"),
    ("SELECT CONCAT(_latin1'a', N'b', _binary 'c')", "abc"),
    # conditionals, case, math and dates the DDL positions use
    ("SELECT IFNULL(NULL, 'x')", "x"),
    ("SELECT IF(1 < 2, 'yes', 'no')", "yes"),
    ("SELECT UPPER(LCASE('MiXeD'))", "MIXED"),
    ("SELECT LOWER(42)", "42"),
    ("SELECT GREATEST(3, 7, 5)", "7"),
    # GREATEST/LEAST compare dates and strings as such
    ("SELECT GREATEST(CAST('2024-01-01 10:00:00' AS DATETIME),"
     " CAST('2024-02-01 00:00:00' AS DATETIME))", "2024-02-01 00:00:00"),
    ("SELECT LEAST('banana', 'apple', 'cherry')", "apple"),
    ("SELECT MOD(10, 4)", "2"),
    ("SELECT YEAR('2024-03-07')", "2024"),
    ("SELECT CAST('2024-03-07 10:00:00' AS DATE)", "2024-03-07"),
    ("SELECT UNIX_TIMESTAMP('2020-01-01 00:00:00')", "1577836800"),
    ("SELECT DATE_ADD('2024-01-31 10:00:00', INTERVAL 2 HOUR)",
     "2024-01-31 12:00:00"),
    ("SELECT CAST('2024-01-01 10:00:00' AS DATETIME) + INTERVAL 1 DAY",
     "2024-01-02 10:00:00"),
    ("SELECT LENGTH(UUID())", "36"),
    ("SELECT CASE WHEN CURRENT_DATE() = CURDATE() THEN 'y' ELSE 'n' END",
     "y"),
]


def _pg_batch(pg, queries: list[str]) -> tuple[dict, str]:
    """Every query in ONE psql run; row i → its text value. A failing
    statement is missing from the result (its error is echoed)."""
    proc = pg.run(
        "".join(
            f"SELECT {i}, CAST(q.v AS TEXT) FROM ({sql}) AS q(v);\n"
            for i, sql in enumerate(queries)
        ),
        stop_on_error=False,
    )
    got = {}
    for line in proc.stdout.splitlines():
        i, v = line.split(pg.FS)
        got[int(i)] = None if v == pg.NULL else v
    return got, proc.stderr


def test_truth_table_on_spark_duckdb_and_postgres(spark, pg):
    """Each row gives MySQL's answer on all three targets: Spark runs
    ``transpile_mysql``; DuckDB and PostgreSQL 15 run the one sink
    translator ``transpile_mysql_ansi``."""
    spark_got = [
        _as_text(spark.sql(transpile_mysql(q)).collect()[0][0])
        for q, _w in TRUTH
    ]
    duck_got = [
        _as_text(duckdb.sql(transpile_mysql_ansi(q, "duckdb")).fetchone()[0])
        for q, _w in TRUTH
    ]
    pg_sql = [transpile_mysql_ansi(q) for q, _w in TRUTH]
    pg_rows, errors = _pg_batch(pg, pg_sql)
    pg_got = [pg_rows.get(i, "<error>") for i in range(len(TRUTH))]
    for target, got in (("spark", spark_got), ("duckdb", duck_got),
                        ("postgres", pg_got)):
        bad = [
            (q, w, g) for (q, w), g in zip(TRUTH, got) if g != w
        ]
        assert not bad, (target, bad, errors if target == "postgres" else "")


#: rows only the sink translator renders — Spark's translator passes
#: them through and Spark rejects both (a QUARTER unit, a column as
#: the INTERVAL count) — so they run on DuckDB and PostgreSQL
SINK_TRUTH = [
    ("SELECT DATE_ADD('2024-01-31 00:00:00', INTERVAL 1 QUARTER)",
     "2024-04-30 00:00:00"),
    ("SELECT CAST('2024-01-01 00:00:00' AS DATETIME) - INTERVAL n DAY"
     " FROM (SELECT 2 AS n) t", "2023-12-30 00:00:00"),
]


def test_sink_only_rows_on_duckdb_and_postgres(pg):
    pg_rows, errors = _pg_batch(pg, [transpile_mysql_ansi(q)
                                     for q, _w in SINK_TRUTH])
    for i, (q, w) in enumerate(SINK_TRUTH):
        duck = duckdb.sql(transpile_mysql_ansi(q, "duckdb")).fetchone()[0]
        assert _as_text(duck) == w, q
        assert pg_rows.get(i, errors) == w, q


def test_ddl_expression_positions_execute_on_postgres(pg, tmp_path):
    """The positions where PostgreSQL requires IMMUTABLE expressions run
    there, planned by the shipped planner from mixed-case MySQL
    metadata: a generated column (CONCAT of two integers), a functional
    index (LOWER) next to a plain index, a partition key (YEAR) and a
    CHECKs (IF, GREATEST over a DATETIME). Every key column reaches the
    index DDL in the table DDL's case."""
    import yaml

    from mysql2pg_spark.config import load_config
    from mysql2pg_spark.orchestrator import (
        CatalogSnapshot,
        ColumnMeta,
        MigrationPipeline,
        TableMeta,
    )
    from mysql2pg_spark.sinks.ddl import IndexSpec

    cfg_path = tmp_path / "config.yml"
    cfg_path.write_text(yaml.safe_dump({
        "mysql": {"host": "mh", "database": "db1"},
        "postgresql": {"host": "ph", "database": "db2"},
        "conversion": {"options": {"lowercase_columns": True}},
    }))
    snap = CatalogSnapshot(tables=[TableMeta(
        name="Pos_Orders",
        columns=[
            ColumnMeta("ID", "int", False),
            ColumnMeta("ProductName", "varchar(40)"),
            ColumnMeta("Qty", "int"),
            ColumnMeta("Price", "int"),
            ColumnMeta("Label", "varchar(80)",
                       generated_expr="CONCAT(`Qty`, `Price`)",
                       generated_stored=True),
            ColumnMeta("Created", "datetime", False),
        ],
        indexes=[
            IndexSpec("ix_product", ["ProductName"]),
            IndexSpec("ix_fn", [], expression="(lower(`ProductName`)), `Qty`"),
        ],
        checks=[
            ("chk_qty", "IF(`Qty` < 0, 0, 1) = 1", True),
            ("chk_created",
             "GREATEST(`Created`, '2000-01-01 00:00:00') = `Created`", True),
        ],
        partition_def=(
            "PARTITION BY RANGE (YEAR(`Created`)) ("
            "PARTITION p0 VALUES LESS THAN (2024),"
            "PARTITION p1 VALUES LESS THAN MAXVALUE)"
        ),
    )])
    plan = MigrationPipeline(load_config(str(cfg_path)), snap).plan()
    ddl = [a.payload for a in plan
           if a.kind == "ddl" and a.stage in ("tableddl", "indexes", "checks")]
    assert sum("INDEX" in d for d in ddl) == 2, ddl
    for stmt in ddl:
        pg.execute(stmt)

    pg.execute(
        "INSERT INTO pos_orders (id, productname, qty, price, created) "
        "VALUES (1, 'Widget', 2, 3, '2023-05-01'), "
        "(2, 'Gadget', NULL, 5, '2024-02-01')"
    )
    pg.execute("SELECT id, label, tableoid::regclass FROM pos_orders "
               "ORDER BY id")
    # MySQL: CONCAT(2, 3) = '23', CONCAT(NULL, 5) = NULL; YEAR routes
    assert pg.fetchall() == [
        ("1", "23", "pos_orders_p0"), ("2", None, "pos_orders_p1"),
    ]
    with pytest.raises(Exception, match="chk_qty"):
        pg.execute("INSERT INTO pos_orders (id, qty, price, created) "
                   "VALUES (3, -1, 1, '2023-01-01')")
    with pytest.raises(Exception, match="chk_created"):
        pg.execute("INSERT INTO pos_orders (id, qty, price, created) "
                   "VALUES (4, 1, 1, '1999-12-31')")
    pg.execute("SELECT indexdef FROM pg_indexes WHERE tablename = "
               "'pos_orders' ORDER BY indexname")
    fn_index, plain_index = (r[0] for r in pg.fetchall())
    assert "(lower((productname)::text), qty)" in fn_index
    assert plain_index.endswith("(productname)")
    pg.execute("DROP TABLE pos_orders")
