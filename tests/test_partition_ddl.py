"""MySQL partitioning → PG declarative partitioning (round 12, C92
closure). The reference strips the clause (sync_tableddl.go:268-302);
this engine migrates RANGE/LIST/HASH — and, round 12, KEY via the HASH
translation plus HASH/KEY subpartitions as nested PARTITION BY — for
real: parent PARTITION BY + PARTITION OF children (+ grandchildren),
naming every shape it refuses (count-less subpartition lists,
PG-illegal PK combinations; LINEAR migrates since round 13 — MySQL
still creates exactly the declared n partitions, only placement
diverges). Corpus fixtures: reference scripts/mysql/create_table.sql
cases 16/49/50/58."""

from __future__ import annotations

import pytest

from mysql2pg_spark.schema.partitioning import (
    PartitionDef,
    parse_partition_def,
    plan_partitioned_table,
)


def _ident(x):
    return x


def _cap(x):
    return x


def _rewrite(e):
    from mysql2pg_spark.dialect.ansi import transpile_mysql_ansi

    return transpile_mysql_ansi(e)


def _plan(text, pk=()):
    pd = parse_partition_def(text)
    assert pd is not None, text
    return plan_partitioned_table(
        "t", pd, list(pk), _ident, _rewrite, _cap
    )


# ---- parsing ---------------------------------------------------------------


def test_parse_range_expression_and_bounds():
    pd = parse_partition_def(
        "PARTITION BY RANGE (YEAR(created_at)) ("
        "PARTITION p0 VALUES LESS THAN (2020),"
        "PARTITION p1 VALUES LESS THAN (2021),"
        "PARTITION pmax VALUES LESS THAN MAXVALUE)"
    )
    assert pd.method == "range" and not pd.columns_form
    assert pd.expr == "YEAR(created_at)"
    assert [(p.name, p.values) for p in pd.parts] == [
        ("p0", "2020"), ("p1", "2021"), ("pmax", "MAXVALUE")
    ]


def test_parse_mysqldump_comment_wrapper_and_literals():
    pd = parse_partition_def(
        "/*!50100 PARTITION BY LIST COLUMNS(`region`) "
        "(PARTITION pa VALUES IN ('east,1', 'west'), "
        "PARTITION pb VALUES IN ('north')) */"
    )
    assert pd.method == "list" and pd.columns_form
    # the comma inside the quoted value must not split it
    assert pd.parts[0].values == "'east,1', 'west'"
    assert pd.parts[1].values == "'north'"


def test_parse_hash_partitions_n_and_key():
    pd = parse_partition_def("PARTITION BY HASH (id) PARTITIONS 4;")
    assert pd.method == "hash" and pd.num_partitions == 4 and not pd.parts
    pd = parse_partition_def("PARTITION BY KEY (id) PARTITIONS 2")
    assert pd.method == "key"
    pd = parse_partition_def("PARTITION BY LINEAR HASH (id) PARTITIONS 2")
    assert pd.linear


def test_parse_subpartition_detected():
    pd = parse_partition_def(
        "PARTITION BY RANGE (year) SUBPARTITION BY HASH (month) "
        "SUBPARTITIONS 12 (PARTITION p2020 VALUES LESS THAN (2021))"
    )
    assert pd.subpartition and "HASH" in pd.subpartition
    # the subpartition scheme's tokens don't pollute the partition list
    assert [p.name for p in pd.parts] == ["p2020"]


# ---- PG plan ---------------------------------------------------------------


def test_range_chained_bounds_minvalue_maxvalue():
    plan = _plan(
        "PARTITION BY RANGE (id) ("
        "PARTITION p0 VALUES LESS THAN (10),"
        "PARTITION p1 VALUES LESS THAN (20),"
        "PARTITION pmax VALUES LESS THAN MAXVALUE)"
    )
    assert plan.parent_clause == "PARTITION BY RANGE (id)"
    assert plan.children == [
        "CREATE TABLE IF NOT EXISTS t_p0 PARTITION OF t "
        "FOR VALUES FROM (MINVALUE) TO (10)",
        "CREATE TABLE IF NOT EXISTS t_p1 PARTITION OF t "
        "FOR VALUES FROM (10) TO (20)",
        "CREATE TABLE IF NOT EXISTS t_pmax PARTITION OF t "
        "FOR VALUES FROM (20) TO (MAXVALUE)",
    ]
    assert plan.skip is None and not plan.notes


def test_range_expression_key_rewritten():
    plan = _plan(
        "PARTITION BY RANGE (YEAR(`created_at`)) ("
        "PARTITION p0 VALUES LESS THAN (2020))"
    )
    assert plan.parent_clause == (
        'PARTITION BY RANGE ((CAST(EXTRACT(YEAR FROM CAST("created_at" AS'
        ' TIMESTAMP)) AS BIGINT)))'
    )


def test_range_columns_multi_column_tuple_bounds():
    plan = _plan(
        "PARTITION BY RANGE COLUMNS(a, b) ("
        "PARTITION p0 VALUES LESS THAN (10, 'm'),"
        "PARTITION p1 VALUES LESS THAN (MAXVALUE, MAXVALUE))"
    )
    assert plan.parent_clause == 'PARTITION BY RANGE (a, b)'
    assert plan.children[0].endswith(
        "FOR VALUES FROM (MINVALUE, MINVALUE) TO (10, 'm')"
    )
    assert plan.children[1].endswith(
        "FOR VALUES FROM (10, 'm') TO (MAXVALUE, MAXVALUE)"
    )


def test_range_bound_function_values_rewritten():
    plan = _plan(
        "PARTITION BY RANGE (TO_SECONDS(ts)) ("
        "PARTITION p0 VALUES LESS THAN (UNIX_TIMESTAMP('2020-01-01')))"
    )
    # the bound expression goes through the MySQL→PG rewriter
    assert (
        "CAST(EXTRACT(EPOCH FROM CAST('2020-01-01' AS TIMESTAMP)) AS BIGINT)"
    ) in plan.children[0]


def test_list_partitioning():
    plan = _plan(
        "PARTITION BY LIST (category) ("
        "PARTITION p0 VALUES IN (1, 2, 3),"
        "PARTITION p1 VALUES IN (NULL, 4))"
    )
    assert plan.parent_clause == 'PARTITION BY LIST (category)'
    assert plan.children[0].endswith("FOR VALUES IN (1, 2, 3)")
    assert plan.children[1].endswith("FOR VALUES IN (NULL, 4)")


def test_hash_partitioning_modulus_and_note():
    plan = _plan("PARTITION BY HASH (id) PARTITIONS 3")
    assert plan.parent_clause == 'PARTITION BY HASH (id)'
    assert [c.split("FOR VALUES ")[1] for c in plan.children] == [
        "WITH (MODULUS 3, REMAINDER 0)",
        "WITH (MODULUS 3, REMAINDER 1)",
        "WITH (MODULUS 3, REMAINDER 2)",
    ]
    # placement divergence is surfaced, not hidden
    assert plan.notes and "placement differs" in plan.notes[0]


def test_hash_with_named_partition_list():
    plan = _plan(
        "PARTITION BY HASH (id) (PARTITION alpha, PARTITION beta)"
    )
    assert len(plan.children) == 2
    assert 't_alpha' in plan.children[0]
    assert "MODULUS 2, REMAINDER 1" in plan.children[1]


# ---- named skips -----------------------------------------------------------


@pytest.mark.parametrize(
    "text,frag",
    [
        ("PARTITION BY KEY () PARTITIONS 2", "no PRIMARY KEY"),
        (
            # unequal named SUBPARTITION lists (MySQL itself rejects
            # this): refuse rather than guess a count
            "PARTITION BY RANGE (y) SUBPARTITION BY HASH (m) "
            "(PARTITION p0 VALUES LESS THAN (1) "
            "(SUBPARTITION s0, SUBPARTITION s1), "
            "PARTITION p1 VALUES LESS THAN (2) "
            "(SUBPARTITION s2))",
            "equal-length",
        ),
        ("PARTITION BY RANGE (id)", "missing"),
        (
            "PARTITION BY LIST COLUMNS(a, b) "
            "(PARTITION p0 VALUES IN ((1, 2)))",
            "one key column",
        ),
    ],
)
def test_named_skips(text, frag):
    plan = _plan(text)
    assert plan.skip and frag.lower() in plan.skip.lower()
    assert not plan.children and plan.parent_clause is None


def test_pk_must_cover_partition_key():
    plan = _plan(
        "PARTITION BY RANGE (sold_on) "
        "(PARTITION p0 VALUES LESS THAN ('2021-01-01'))",
        pk=["id"],
    )
    assert plan.skip and "PRIMARY KEY" in plan.skip
    # PK that includes the key column migrates fine
    plan = _plan(
        "PARTITION BY RANGE (sold_on) "
        "(PARTITION p0 VALUES LESS THAN ('2021-01-01'))",
        pk=["id", "sold_on"],
    )
    assert plan.skip is None and plan.parent_clause


def test_pk_with_expression_key_refused():
    plan = _plan(
        "PARTITION BY RANGE (YEAR(sold_on)) "
        "(PARTITION p0 VALUES LESS THAN (2021))",
        pk=["id", "sold_on"],
    )
    assert plan.skip and "expression" in plan.skip


# ---- pipeline + dialect seam ----------------------------------------------


def test_orchestrator_emits_parent_and_children(spark, tmp_path):
    from mysql2pg_spark.config import EngineConfig
    from mysql2pg_spark.orchestrator import MigrationPipeline
    from mysql2pg_spark.sources.dumpfile import snapshot_from_dump

    p = tmp_path / "d.sql"
    p.write_text(
        "CREATE TABLE `m` (\n"
        "  `id` int NOT NULL,\n"
        "  `created_at` datetime\n"
        ") ENGINE=InnoDB\n"
        "/*!50100 PARTITION BY RANGE (year(`created_at`))\n"
        "(PARTITION p0 VALUES LESS THAN (2020) ENGINE = InnoDB,\n"
        " PARTITION p1 VALUES LESS THAN MAXVALUE ENGINE = InnoDB) */;\n"
    )
    snap = snapshot_from_dump(spark, str(p))
    actions = MigrationPipeline(EngineConfig(), snap).plan()
    ddls = [a.payload for a in actions if a.stage == "tableddl" and a.kind == "ddl"]
    parent = next(d for d in ddls if d.startswith("CREATE TABLE IF NOT EXISTS m"))
    assert parent.rstrip().endswith(
        'PARTITION BY RANGE ((CAST(EXTRACT(YEAR FROM CAST("created_at" AS'
        ' TIMESTAMP)) AS BIGINT)))'
    )
    children = [d for d in ddls if "PARTITION OF" in d]
    assert len(children) == 2
    assert "FROM (MINVALUE) TO (2020)" in children[0]
    assert "FROM (2020) TO (MAXVALUE)" in children[1]
    # no skip for a migrated scheme
    assert not [a for a in actions if a.stage == "tableddl" and a.kind == "skip"]


def test_adapt_ddl_duckdb_strips_partitioning():
    from mysql2pg_spark.sinks.ddl import adapt_ddl

    parent = (
        'CREATE TABLE IF NOT EXISTS "m" (\n  "id" INTEGER\n) '
        'PARTITION BY RANGE ((EXTRACT(YEAR FROM "created_at")))'
    )
    adapted = adapt_ddl(parent, "duckdb")
    assert adapted is not None and "PARTITION BY" not in adapted
    assert adapted.rstrip().endswith(")")
    child = (
        'CREATE TABLE IF NOT EXISTS "m_p0" PARTITION OF "m" '
        "FOR VALUES FROM (MINVALUE) TO (2020)"
    )
    assert adapt_ddl(child, "duckdb") is None
    # a literal containing ") PARTITION BY" must survive
    safe = "CREATE TABLE \"x\" (\n  \"c\" TEXT DEFAULT ') PARTITION BY y'\n)"
    assert adapt_ddl(safe, "duckdb") == safe


def test_duckdb_endtoend_partitioned_parent_loads(spark, tmp_path):
    """The capstone contract in miniature: a partitioned table's DDL
    executes in DuckDB (parent unpartitioned, children visibly
    skipped) and its data lands through the parent."""
    import duckdb

    from mysql2pg_spark.sinks.ddl import adapt_ddl

    con = duckdb.connect()
    stmts = [
        'CREATE TABLE IF NOT EXISTS "m" (\n  "id" INTEGER,\n'
        '  "created_at" TIMESTAMP\n) '
        'PARTITION BY RANGE ((EXTRACT(YEAR FROM "created_at")))',
        'CREATE TABLE IF NOT EXISTS "m_p0" PARTITION OF "m" '
        "FOR VALUES FROM (MINVALUE) TO (2020)",
    ]
    executed = 0
    for s in stmts:
        a = adapt_ddl(s, "duckdb")
        if a is not None:
            con.execute(a)
            executed += 1
    assert executed == 1
    con.execute("INSERT INTO m VALUES (1, TIMESTAMP '2019-06-01')")
    assert con.execute("SELECT count(*) FROM m").fetchone()[0] == 1


# ---- KEY → HASH (round 12) -------------------------------------------------


def test_key_partitioning_migrates_as_hash():
    """Round 12: KEY rides the HASH translation (PG places rows with
    its own hash either way — the same divergence note), instead of
    the round-11 named skip."""
    plan = _plan("PARTITION BY KEY (id) PARTITIONS 2", pk=["id"])
    assert plan.skip is None
    assert plan.parent_clause == "PARTITION BY HASH (id)"
    assert len(plan.children) == 2
    assert "MODULUS 2, REMAINDER 1" in plan.children[1]
    assert plan.notes and "KEY partitioning" in plan.notes[0]
    assert "placement differs" in plan.notes[0]


def test_key_empty_list_defaults_to_primary_key():
    plan = _plan("PARTITION BY KEY () PARTITIONS 3", pk=["id", "k"])
    assert plan.skip is None
    assert plan.parent_clause == "PARTITION BY HASH (id, k)"
    assert len(plan.children) == 3


def test_key_partition_pk_containment_still_enforced():
    # KEY over a column outside the PK: PG's hard requirement applies
    plan = _plan("PARTITION BY KEY (name) PARTITIONS 2", pk=["id"])
    assert plan.skip and "does not include" in plan.skip


# ---- subpartitions → nested declarative partitioning (round 12) ------------


def test_subpartition_hash_migrates_nested():
    """Corpus case 58's shape: RANGE parent, each child PARTITION BY
    HASH with MODULUS/REMAINDER grandchildren, child-before-grandchild
    execution order, sub-level placement note."""
    plan = _plan(
        "PARTITION BY RANGE (year) SUBPARTITION BY HASH (month) "
        "SUBPARTITIONS 3 ("
        "PARTITION p2020 VALUES LESS THAN (2021),"
        "PARTITION p2021 VALUES LESS THAN (2022))"
    )
    assert plan.skip is None
    assert plan.parent_clause == "PARTITION BY RANGE (year)"
    assert len(plan.children) == 8  # 2 children + 2×3 grandchildren
    assert plan.children[0].endswith(
        "FOR VALUES FROM (MINVALUE) TO (2021) PARTITION BY HASH (month)"
    )
    # grandchildren follow their own parent, not the table parent
    assert plan.children[1] == (
        "CREATE TABLE IF NOT EXISTS t_p2020_s0 PARTITION OF t_p2020 "
        "FOR VALUES WITH (MODULUS 3, REMAINDER 0)"
    )
    assert plan.children[4].endswith(
        "FOR VALUES FROM (2021) TO (2022) PARTITION BY HASH (month)"
    )
    assert plan.children[7].endswith(
        "PARTITION OF t_p2021 FOR VALUES WITH (MODULUS 3, REMAINDER 2)"
    )
    assert any("subpartitioning" in n for n in plan.notes)


def test_subpartition_key_empty_defaults_to_pk():
    plan = _plan(
        "PARTITION BY RANGE (y) SUBPARTITION BY KEY () SUBPARTITIONS 2 "
        "(PARTITION p0 VALUES LESS THAN (10))",
        pk=["y", "k"],
    )
    assert plan.skip is None
    assert plan.children[0].endswith("PARTITION BY HASH (y, k)")


def test_subpartition_pk_containment_covers_sub_key():
    # PK lacks the SUB-partition key column → PG refuses the hierarchy
    plan = _plan(
        "PARTITION BY RANGE (y) SUBPARTITION BY HASH (m) "
        "SUBPARTITIONS 2 (PARTITION p0 VALUES LESS THAN (10))",
        pk=["id", "y"],
    )
    assert plan.skip and "does not include" in plan.skip and "m" in plan.skip


def test_skip_after_subparse_carries_no_migrated_note():
    """Review r12: a table refused AFTER its sub-scheme parsed (PK
    containment, missing partition list) must not also carry the
    'subpartitioning migrated' note."""
    plan = _plan(
        "PARTITION BY RANGE (y) SUBPARTITION BY HASH (m) "
        "SUBPARTITIONS 2 (PARTITION p0 VALUES LESS THAN (10))",
        pk=["id", "y"],  # missing m → skip
    )
    assert plan.skip and not plan.notes and not plan.children
    plan = _plan(
        "PARTITION BY RANGE (y) SUBPARTITION BY HASH (m) "
        "SUBPARTITIONS 2"  # no partition list → skip at the branch
    )
    assert plan.skip and not plan.notes and not plan.children


def test_named_subpartition_lists_migrate():
    """Round 13: named SUBPARTITION lists define the count implicitly
    per partition (MySQL requires equal lengths and table-globally
    unique names) — they now migrate as nested PARTITION BY HASH with
    the source names as grandchild tables; only LINEAR remains a
    refusal at the sub level."""
    plan = _plan(
        "PARTITION BY RANGE (YEAR(purchased)) "
        "SUBPARTITION BY HASH (TO_DAYS(purchased)) "
        "(PARTITION p0 VALUES LESS THAN (1990) "
        "(SUBPARTITION s0, SUBPARTITION s1), "
        "PARTITION p1 VALUES LESS THAN MAXVALUE "
        "(SUBPARTITION s2, SUBPARTITION s3))"
    )
    assert plan.skip is None
    assert plan.parent_clause == (
        "PARTITION BY RANGE ((CAST(EXTRACT(YEAR FROM CAST(purchased AS"
        " TIMESTAMP)) AS BIGINT)))"
    )
    assert plan.children == [
        "CREATE TABLE IF NOT EXISTS t_p0 PARTITION OF t FOR VALUES "
        "FROM (MINVALUE) TO (1990) "
        "PARTITION BY HASH ((TO_DAYS(purchased)))",
        "CREATE TABLE IF NOT EXISTS t_s0 PARTITION OF t_p0 "
        "FOR VALUES WITH (MODULUS 2, REMAINDER 0)",
        "CREATE TABLE IF NOT EXISTS t_s1 PARTITION OF t_p0 "
        "FOR VALUES WITH (MODULUS 2, REMAINDER 1)",
        "CREATE TABLE IF NOT EXISTS t_p1 PARTITION OF t FOR VALUES "
        "FROM (1990) TO (MAXVALUE) "
        "PARTITION BY HASH ((TO_DAYS(purchased)))",
        "CREATE TABLE IF NOT EXISTS t_s2 PARTITION OF t_p1 "
        "FOR VALUES WITH (MODULUS 2, REMAINDER 0)",
        "CREATE TABLE IF NOT EXISTS t_s3 PARTITION OF t_p1 "
        "FOR VALUES WITH (MODULUS 2, REMAINDER 1)",
    ]
    assert any("subpartitioning migrated" in n for n in plan.notes)
    # a SUBPARTITIONS count + named lists: count wins, names still used
    plan = _plan(
        "PARTITION BY LIST (r) SUBPARTITION BY KEY (id) SUBPARTITIONS 2 "
        "(PARTITION pa VALUES IN (1, 2) (SUBPARTITION sa0, SUBPARTITION sa1))",
        pk=["id", "r"],
    )
    assert plan.skip is None
    assert "t_sa0" in plan.children[1] and "t_sa1" in plan.children[2]
    # LINEAR at the sub level migrates too (round 13) — the named
    # list defines the count and the note names the LINEAR divergence
    plan = _plan(
        "PARTITION BY RANGE (y) SUBPARTITION BY LINEAR HASH (m) "
        "(PARTITION p0 VALUES LESS THAN (1) "
        "(SUBPARTITION s0, SUBPARTITION s1))"
    )
    assert plan.skip is None
    assert "t_s0" in plan.children[1] and "t_s1" in plan.children[2]
    assert any("LINEAR powers-of-two" in n for n in plan.notes)


def test_linear_hash_and_key_migrate_with_placement_note():
    """Round 13: LINEAR HASH/KEY still creates exactly the declared n
    partitions in MySQL — only placement (powers-of-two masking) and
    distribution evenness diverge, the same class the non-linear HASH
    note already surfaces — so LINEAR rides the HASH translation
    instead of refusing."""
    for text, n in [
        ("PARTITION BY LINEAR HASH (id) PARTITIONS 3", 3),
        ("PARTITION BY LINEAR KEY (id) PARTITIONS 2", 2),
    ]:
        plan = _plan(text, pk=["id"])
        assert plan.skip is None, plan.skip
        assert plan.parent_clause == "PARTITION BY HASH (id)"
        assert len(plan.children) == n
        assert f"MODULUS {n}, REMAINDER 0" in plan.children[0]
        (note,) = plan.notes
        assert "LINEAR" in note and "powers-of-two" in note
    # LINEAR at both levels composes
    plan = _plan(
        "PARTITION BY LINEAR KEY (id) PARTITIONS 2 "
        "SUBPARTITION BY LINEAR HASH (r) SUBPARTITIONS 2",
        pk=["id", "r"],
    )
    assert plan.skip is None
    assert len(plan.children) == 6  # 2 children + 4 grandchildren
    assert sum("LINEAR" in n for n in plan.notes) == 2


# ---- routing (round 13): row-level correctness ------------------------------


def _routing(text):
    from mysql2pg_spark.schema.partitioning import routing_sql

    pd = parse_partition_def(text)
    assert pd is not None, text
    return routing_sql("t", pd, _ident, _rewrite, _cap)


def test_routing_range_bounds_chain_and_nulls():
    """The assignment expression mirrors MySQL's VALUES LESS THAN scan:
    strict < in partition order, NULL keys to the FIRST partition,
    above-top rows to the MAXVALUE child or SQL NULL when none."""
    import duckdb

    sql, skip = _routing(
        "PARTITION BY RANGE (id) ("
        "PARTITION p0 VALUES LESS THAN (10),"
        "PARTITION p1 VALUES LESS THAN (20))"
    )
    assert skip is None
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT id, {sql} FROM (VALUES (NULL), (5), (10), (19), (25)) "
        "v(id) ORDER BY id NULLS FIRST"
    ).fetchall()
    assert [r[1] for r in rows] == ["t_p0", "t_p0", "t_p1", "t_p1", None]
    # MAXVALUE catch-all becomes the ELSE arm
    sql, _ = _routing(
        "PARTITION BY RANGE (id) ("
        "PARTITION p0 VALUES LESS THAN (10),"
        "PARTITION pmax VALUES LESS THAN MAXVALUE)"
    )
    assert con.execute(
        f"SELECT {sql} FROM (VALUES (99)) v(id)"
    ).fetchone()[0] == "t_pmax"


def test_routing_list_in_sets_and_null_membership():
    import duckdb

    sql, skip = _routing(
        "PARTITION BY LIST (c) ("
        "PARTITION pa VALUES IN (1, 2),"
        "PARTITION pb VALUES IN (NULL, 3))"
    )
    assert skip is None
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT {sql} FROM (VALUES (1), (2), (3), (NULL), (9)) v(c)"
    ).fetchall()
    assert [r[0] for r in rows] == ["t_pa", "t_pa", "t_pb", "t_pb", None]


def test_routing_refusals_are_named():
    for text, frag in [
        ("PARTITION BY HASH (id) PARTITIONS 4", "engine-internal"),
        ("PARTITION BY KEY (id) PARTITIONS 2", "engine-internal"),
        ("PARTITION BY LINEAR HASH (id) PARTITIONS 2", "powers-of-two"),
        (
            # an EXPRESSION key list cannot ride the tuple expansion
            "PARTITION BY RANGE (a + 1, b) "
            "(PARTITION p0 VALUES LESS THAN (1, 2))",
            "multi-column",
        ),
    ]:
        sql, skip = _routing(text)
        assert sql is None and frag in skip, (text, skip)


def test_routing_multicolumn_range_lexicographic():
    """Round 13: multi-column RANGE COLUMNS routing expands the row
    comparison to its engine-neutral lexicographic form — verified by
    evaluating the EMITTED expression in DuckDB over rows that hit
    every branch: first-column decide, tie-broken by the second,
    NULL-sorts-lowest at both positions, MAXVALUE short-circuit."""
    import duckdb

    sql, skip = _routing(
        "PARTITION BY RANGE COLUMNS(a, b) ("
        "PARTITION p0 VALUES LESS THAN (10, 5),"
        "PARTITION p1 VALUES LESS THAN (20, MAXVALUE),"
        "PARTITION p2 VALUES LESS THAN (MAXVALUE, MAXVALUE))"
    )
    assert skip is None
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT a, b, {sql} FROM (VALUES "
        "(5, 999),"     # a < 10 → p0
        "(10, 4),"      # a = 10, b < 5 → p0
        "(10, 5),"      # a = 10, b = 5 → NOT < (10,5); a < 20 → p1
        "(19, 0),"      # a < 20 → p1
        "(20, 0),"      # (20,0) < (20,MAXVALUE) → p1
        "(21, 0),"      # → p2
        "(NULL, 7),"    # NULL sorts lowest → p0
        "(10, NULL)"    # a = 10, b NULL < 5 → p0
        ") t(a, b)"
    ).fetchall()
    assert [r[2] for r in rows] == [
        "t_p0", "t_p0", "t_p1", "t_p1", "t_p1", "t_p2", "t_p0", "t_p0",
    ]


def test_routing_names_agree_with_plan_children():
    """The names the routing expression assigns are exactly the child
    tables the DDL plan creates — assignment and DDL cannot drift."""
    import re as _re

    from mysql2pg_spark.schema.partitioning import plan_partitioned_table

    for text in [
        "PARTITION BY RANGE (YEAR(d)) ("
        "PARTITION p0 VALUES LESS THAN (2020),"
        "PARTITION p1 VALUES LESS THAN MAXVALUE)",
        "PARTITION BY LIST (c) ("
        "PARTITION pa VALUES IN (1), PARTITION pb VALUES IN (2))",
    ]:
        pd = parse_partition_def(text)
        sql, skip = _routing(text)
        assert skip is None
        plan = plan_partitioned_table("t", pd, [], _ident, _rewrite, _cap)
        children = {
            c.split(" PARTITION OF ")[0].split()[-1]
            for c in plan.children
        }
        routed = set(_re.findall(r"'(t_\w+)'", sql))
        assert routed == children, (routed, children)


def test_list_values_with_embedded_commas_survive():
    """Review r13: a LIST member like 'a,b' is legal MySQL — the
    depth-0 splitter must be quote-aware or the member silently
    becomes two ('a' and 'b', re-joined as 'a, b'), misrouting rows
    at the row level."""
    import duckdb

    sql, skip = _routing(
        "PARTITION BY LIST COLUMNS(s) ("
        "PARTITION p0 VALUES IN ('a,b', 'c'),"
        "PARTITION p1 VALUES IN ('it''s', 'd'))"
    )
    assert skip is None
    assert "'a,b'" in sql and "'a, b'" not in sql
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT s, {sql} FROM (VALUES ('a,b'), ('a, b'), ('c'), "
        "('it''s'), ('a')) t(s)"
    ).fetchall()
    assert [r[1] for r in rows] == ["t_p0", None, "t_p0", "t_p1", None]
    # DDL bound emission keeps the member whole too
    plan = _plan(
        "PARTITION BY LIST COLUMNS(s) (PARTITION p0 VALUES IN ('a,b'))"
    )
    assert plan.skip is None
    assert "IN ('a,b')" in plan.children[0]
