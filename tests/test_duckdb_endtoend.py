"""The live migration path executed against a REAL database engine.

Every round before this one, ``MigrationPipeline.execute()`` ran only
through injectable fakes (no MySQL/PG server in the container). DuckDB
speaks DB-API and an ANSI dialect close enough to the emitted
PostgreSQL DDL that — through the ``sinks.ddl.adapt_ddl`` target-
dialect seam — the WHOLE control flow executes for real here:

- table DDL (CREATE TABLE / COMMENT ON) parsed and executed by a real
  engine's parser, not string-asserted;
- a transpiled MySQL view executed as a real CREATE VIEW;
- data synced through the B3/B4 batched-INSERT seam
  (``sinks.dbapi_sink``): real parameterized executemany with the
  65535-bind-param batch cap and per-batch commits;
- CREATE INDEX executed after data load (stage order);
- GRANT / role DDL skipped via the dialect seam (embedded engines have
  no privilege system) — their PG spelling stays golden-text-tested in
  test_sinks_ddl;
- D3 validation: source-side checksum captured by df.observe() DURING
  the write, destination read back FROM DuckDB via Arrow and
  checksummed by Spark — a genuine cross-engine count+checksum.

Reference parity: this is the in-container analog of the reference's
full-run harness (manager.go:88-268 driving a live PG).
"""

from __future__ import annotations

import duckdb
import pytest
import yaml

from mysql2pg_spark.config import load_config
from mysql2pg_spark.orchestrator import (
    CatalogSnapshot,
    ColumnMeta,
    MigrationPipeline,
    TableMeta,
)
from mysql2pg_spark.runlog import RunLogger
from mysql2pg_spark.sinks.ddl import IndexSpec, adapt_ddl
from mysql2pg_spark.sinks.dbapi_sink import make_dbapi_writer

SF_DIR = "/root/testdata/sf0.001"


def _snapshot() -> CatalogSnapshot:
    """Catalog snapshot describing the sf0.001 fixture tables the way a
    MySQL information_schema scan would (A4-A8 output shape)."""
    return CatalogSnapshot(
        tables=[
            TableMeta(
                name="region",
                columns=[
                    ColumnMeta("r_regionkey", "int", False),
                    ColumnMeta("r_name", "varchar(25)", comment="region name"),
                ],
                primary_key=["r_regionkey"],
                comment="TPC-H region",
                row_count=5,
            ),
            TableMeta(
                name="nation",
                columns=[
                    ColumnMeta("n_nationkey", "int", False),
                    ColumnMeta("n_name", "varchar(25)"),
                    ColumnMeta("n_regionkey", "int"),
                ],
                primary_key=["n_nationkey"],
                indexes=[IndexSpec("ix_region", ["n_regionkey"])],
                row_count=25,
            ),
            TableMeta(
                name="customer",
                columns=[
                    ColumnMeta("c_custkey", "bigint", False),
                    ColumnMeta("c_name", "varchar(25)"),
                    ColumnMeta("c_nationkey", "int"),
                    ColumnMeta("c_acctbal", "double"),
                    ColumnMeta("c_mktsegment", "varchar(10)"),
                ],
                primary_key=["c_custkey"],
                indexes=[IndexSpec("ix_nation", ["c_nationkey"])],
                row_count=150,
            ),
            TableMeta(
                name="orders",
                columns=[
                    ColumnMeta("o_orderkey", "bigint", False),
                    ColumnMeta("o_custkey", "bigint"),
                    ColumnMeta("o_orderstatus", "char(1)"),
                    ColumnMeta("o_totalprice", "double"),
                    ColumnMeta("o_orderdate", "datetime"),
                    ColumnMeta("o_orderpriority", "varchar(15)"),
                ],
                primary_key=["o_orderkey"],
                row_count=1500,
            ),
        ],
        views={
            # MySQL spelling on purpose: IFNULL + backticks must pass
            # through the transpiler before DuckDB parses it.
            "rich_customers": (
                "SELECT `c_custkey`, IFNULL(`c_acctbal`, 0) AS bal "
                "FROM `customer` WHERE `c_acctbal` > 1000"
            ),
            # heavier MySQL surface: DATE_FORMAT + GROUP_CONCAT + IF —
            # proves execute() renders view DDL in the TARGET dialect
            # (strftime/string_agg here), not the PG default
            "daily_orders": (
                "SELECT DATE_FORMAT(`o_orderdate`, '%Y-%m') AS ym, "
                "GROUP_CONCAT(DISTINCT `o_orderstatus` SEPARATOR '|') "
                "AS statuses, "
                "SUM(IF(`o_totalprice` > 100000, 1, 0)) AS n_big "
                "FROM `orders` GROUP BY DATE_FORMAT(`o_orderdate`, '%Y-%m')"
            ),
        },
        users={"analyst": ['CREATE ROLE "analyst"']},
        table_privileges=[("analyst", "customer", "Select,Insert")],
    )


def _config(tmp_path):
    p = tmp_path / "cfg.yml"
    p.write_text(
        yaml.safe_dump(
            {
                "mysql": {"host": "h", "database": "d"},
                "postgresql": {"host": "p", "database": "d"},
                "conversion": {
                    "options": {"view": True},
                    "limits": {"concurrency": 2, "max_rows_per_batch": 64},
                },
            }
        )
    )
    return load_config(str(p))


@pytest.fixture()
def ddb():
    con = duckdb.connect()  # in-process; cursors share one catalog
    yield con
    con.close()


def test_execute_end_to_end_into_duckdb(spark, tmp_path, ddb):
    snap = _snapshot()
    result = MigrationPipeline(_config(tmp_path), snap).execute(
        spark,
        ddb,  # the DB-API connection: DDL runs on a REAL parser/engine
        source_reader=lambda sp, plan: sp.read.parquet(
            f"{SF_DIR}/{plan['table']}.parquet"
        ),
        sink_writer=make_dbapi_writer(
            ddb.cursor,  # fresh thread-safe connection per table write
            paramstyle="qmark",
            batch_rows=64,
            via="driver",  # embedded single-process engine
        ),
        dest_reader=lambda sp, table: sp.createDataFrame(
            ddb.cursor().execute(f'SELECT * FROM "{table}"')
            .fetch_arrow_table()
        ),
        logger=RunLogger(str(tmp_path / "logs")),
        target_dialect="duckdb",
    )

    # data: every row arrived, counted FROM the destination engine
    assert result["synced"] == {
        "region": 5, "nation": 25, "customer": 150, "orders": 1500
    }
    # validation: cross-engine checksum (Spark-written vs DuckDB-read)
    assert set(result["validation"]) == set(result["synced"])
    for table, verdict in result["validation"].items():
        assert verdict["consistent"] is True, (table, verdict)

    # the engine's own catalog agrees (not our read-back path)
    assert ddb.execute(
        "SELECT count(*) FROM orders WHERE o_orderdate IS NOT NULL"
    ).fetchone()[0] == 1500
    # the transpiled MySQL views execute inside DuckDB
    bal = ddb.execute(
        "SELECT min(bal) FROM rich_customers"
    ).fetchone()[0]
    assert bal is not None and bal > 1000
    ym, statuses, n_big = ddb.execute(
        "SELECT ym, statuses, n_big FROM daily_orders ORDER BY ym LIMIT 1"
    ).fetchone()
    assert len(ym) == 7 and ym[4] == "-"   # strftime'd '%Y-%m'
    assert "|" in statuses or statuses in ("F", "O", "P")
    assert n_big >= 0
    # indexes + comments were real statements, visible in the catalog
    idx = {r[0] for r in ddb.execute(
        "SELECT index_name FROM duckdb_indexes()"
    ).fetchall()}
    assert any("ix_nation" in i for i in idx)
    assert ddb.execute(
        "SELECT comment FROM duckdb_tables() WHERE table_name='region'"
    ).fetchone()[0] == "TPC-H region"


def test_execute_duckdb_respects_batch_cap_and_commits(spark, tmp_path, ddb):
    """B4/B6 through the same path: a 6-column table with batch_rows far
    above the 65535/ncols cap still loads correctly (cap math shared
    with the JDBC planner), and every batch committed."""
    from mysql2pg_spark.sinks.dbapi_sink import insert_batches

    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    ddb.execute(
        'CREATE TABLE cap_check ("o_orderkey" BIGINT, "o_custkey" BIGINT, '
        '"o_orderstatus" TEXT, "o_totalprice" DOUBLE, '
        '"o_orderdate" TIMESTAMP, "o_orderpriority" TEXT)'
    )
    n = insert_batches(
        (tuple(r) for r in df.toLocalIterator()),
        "cap_check",
        list(df.columns),
        ddb.cursor,
        paramstyle="qmark",
        batch_rows=1_000_000,  # cap must clamp this to 65535 // 6
    )
    assert n == 1500
    assert ddb.execute("SELECT count(*) FROM cap_check").fetchone()[0] == 1500


def test_adapt_ddl_dialect_seam():
    # identity for postgres
    assert adapt_ddl('CREATE TABLE "t" ("id" SERIAL)') == \
        'CREATE TABLE "t" ("id" SERIAL)'
    # serial family → base ints for duckdb
    assert adapt_ddl(
        'CREATE TABLE "t" ("a" SMALLSERIAL, "b" SERIAL, "c" BIGSERIAL)',
        "duckdb",
    ) == 'CREATE TABLE "t" ("a" SMALLINT, "b" INTEGER, "c" BIGINT)'
    # identity clause dropped
    assert adapt_ddl(
        'CREATE TABLE "t" ("id" INTEGER GENERATED BY DEFAULT AS IDENTITY)',
        "duckdb",
    ) == 'CREATE TABLE "t" ("id" INTEGER)'
    # privilege DDL has no analog → skip marker
    assert adapt_ddl('GRANT SELECT ON "t" TO "u"', "duckdb") is None
    assert adapt_ddl('CREATE ROLE "analyst"', "duckdb") is None
    # a SERIAL-looking word inside a quoted comment literal is left alone
    # only if it isn't a standalone token; word-boundary keeps MYSERIAL
    assert adapt_ddl('COMMENT ON TABLE "t" IS \'MYSERIAL1\'', "duckdb") == \
        'COMMENT ON TABLE "t" IS \'MYSERIAL1\''
    with pytest.raises(ValueError):
        adapt_ddl("SELECT 1", "oracle")


def test_cli_duckdb_mode_from_dump(spark, tmp_path, capsys, monkeypatch):
    """The capstone CLI: one command migrates a mysqldump file into a
    DuckDB database through the REAL execute() path — DDL parsed from
    the dump, data inserted through the DB-API seam, validation read
    back from the target engine."""
    import json

    from mysql2pg_spark.__main__ import main

    monkeypatch.chdir(tmp_path)  # the run log lands under ./logs

    dump = tmp_path / "src.sql"
    dump.write_text(
        "CREATE TABLE `users` (\n"
        "  `id` bigint NOT NULL,\n"
        "  `name` varchar(50) DEFAULT NULL,\n"
        "  `avatar` blob,\n"
        "  `balance` decimal(10,2) DEFAULT NULL,\n"
        "  PRIMARY KEY (`id`)\n"
        ");\n"
        "INSERT INTO `users` VALUES (1,'ada',0x0102,10.50),"
        "(2,'bob',NULL,NULL);\n"
        "INSERT INTO `users` (`name`, `id`) VALUES ('carol', 3);\n"
    )
    cfgp = tmp_path / "cfg.yml"
    cfgp.write_text(
        yaml.safe_dump(
            {
                "mysql": {"host": "h", "database": "d"},
                "postgresql": {"host": "p", "database": "d"},
                "conversion": {
                    "options": {},
                    "limits": {"concurrency": 1, "max_rows_per_batch": 100},
                },
            }
        )
    )
    db = tmp_path / "target.duckdb"
    rc = main([
        "-c", str(cfgp),
        "--mode", "duckdb",
        "--dump-file", str(dump),
        "--duckdb-file", str(db),
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["synced"] == {"users": 3}
    assert out["validation"] == {"users": True}

    con = duckdb.connect(str(db))
    rows = {r[0]: r for r in con.execute(
        "SELECT id, name, avatar, balance FROM users ORDER BY id"
    ).fetchall()}
    assert rows[1][1] == "ada" and bytes(rows[1][2]) == b"\x01\x02"
    from decimal import Decimal

    assert rows[1][3] == Decimal("10.50")  # decimal survives the
    # write→read-back checksum path byte-exact
    assert rows[3][1] == "carol" and rows[3][2] is None  # column-list row
    con.close()


def test_execute_keep_going_on_real_engine(spark, tmp_path, ddb):
    """Reference keep-going semantics (manager.go: a failed table is
    recorded, the run continues) exercised against a REAL engine: one
    table's data violates its DDL mid-run; the other tables still load
    and validate."""
    snap = CatalogSnapshot(
        tables=[
            TableMeta(
                name="good",
                columns=[ColumnMeta("id", "bigint", False),
                         ColumnMeta("v", "varchar(10)")],
                primary_key=["id"],
            ),
            TableMeta(
                name="poisoned",
                columns=[ColumnMeta("id", "bigint", False)],
                primary_key=["id"],
            ),
            TableMeta(
                name="also_good",
                columns=[ColumnMeta("id", "bigint", False)],
                primary_key=["id"],
            ),
        ]
    )

    def source_reader(sp, plan):
        if plan["table"] == "poisoned":
            # NULL into a NOT NULL PK column → engine-side insert error
            return sp.createDataFrame([(None,)], "id bigint")
        if plan["table"] == "good":
            return sp.createDataFrame([(1, "a"), (2, "b")],
                                      "id bigint, v string")
        return sp.createDataFrame([(7,)], "id bigint")

    logger = RunLogger(str(tmp_path / "logs"))
    result = MigrationPipeline(_config(tmp_path), snap).execute(
        spark,
        ddb,
        source_reader=source_reader,
        sink_writer=make_dbapi_writer(
            ddb.cursor, paramstyle="qmark", via="driver"
        ),
        dest_reader=lambda sp, table: sp.createDataFrame(
            ddb.cursor().execute(f'SELECT * FROM "{table}"')
            .fetch_arrow_table()
        ),
        logger=logger,
        target_dialect="duckdb",
    )
    assert result["synced"].get("good") == 2
    assert result["synced"].get("also_good") == 1
    assert "poisoned" not in result["synced"]  # recorded failure
    assert result["validation"]["good"]["consistent"] is True
    summary = result["log"]
    assert summary["n_errors"] >= 1  # the failure is visible, not silent
    assert any("poisoned" in str(e) for e in summary["errors"])


def test_test_only_probe_against_real_engine(spark, tmp_path, ddb):
    """D6/A16 against a real engine: test_only probes the destination
    with a real SELECT version() and runs nothing else."""
    cfg = _config(tmp_path)
    cfg.postgresql.test_only = True
    result = MigrationPipeline(cfg, _snapshot()).execute(
        spark,
        ddb,
        source_reader=lambda sp, plan: sp.read.parquet(
            f"{SF_DIR}/{plan['table']}.parquet"
        ),
        sink_writer=lambda df, t: (_ for _ in ()).throw(
            AssertionError("test_only must not sync")
        ),
        dest_reader=lambda sp, t: None,
        logger=RunLogger(str(tmp_path / "logs")),
        target_dialect="duckdb",
    )
    assert result["test_only"]["postgresql"] is True
    assert "synced" not in result
    # the engine's real version string came back through the probe
    assert result["versions"]["postgresql"].startswith(("v", "DuckDB"))
