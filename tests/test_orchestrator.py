"""Config loading + migration-plan assembly (SURVEY §2.D, offline)."""

from __future__ import annotations

import pytest

from mysql2pg_spark.config import load_config
from mysql2pg_spark.orchestrator import (
    Action,
    CatalogSnapshot,
    ColumnMeta,
    MigrationPipeline,
    STAGE_ORDER,
    TableMeta,
)
from mysql2pg_spark.sinks.ddl import IndexSpec


def _cfg(tmp_path, **extra_options):
    import yaml

    p = tmp_path / "config.yml"
    data = {
        "mysql": {"host": "mh", "database": "db1"},
        "postgresql": {"host": "ph", "database": "db2"},
        "conversion": {
            "options": {"lowercase_columns": True, **extra_options},
            "limits": {"concurrency": 4, "max_rows_per_batch": 1000},
        },
    }
    p.write_text(yaml.safe_dump(data))
    return load_config(str(p))


def _snapshot() -> CatalogSnapshot:
    return CatalogSnapshot(
        tables=[
            TableMeta(
                name="Orders",
                columns=[
                    ColumnMeta("ID", "bigint", False, auto_increment=True),
                    ColumnMeta("Amount", "decimal(10,2)"),
                    ColumnMeta("Note", "varchar(50)", comment="free text"),
                ],
                primary_key=["ID"],
                indexes=[IndexSpec("idx_amount", ["Amount"])],
                row_count=5_000_000,
                pk_bounds=(1, 5_000_000),
            ),
            TableMeta(name="Skipme", columns=[ColumnMeta("a", "int")]),
        ],
        views={"V1": "SELECT ID, IFNULL(Note, 'x') AS n FROM Orders LIMIT 5, 10"},
        table_privileges=[("bob", "Orders", "Select,Insert")],
    )


def test_config_defaults_and_urls(tmp_path):
    cfg = _cfg(tmp_path)
    assert cfg.mysql.jdbc_url == "jdbc:mysql://mh:3306/db1"
    assert cfg.postgresql.jdbc_url == "jdbc:postgresql://ph:5432/db2"
    assert cfg.limits.concurrency == 4
    assert cfg.limits.bandwidth_mbps == 100  # declared-only parity
    assert cfg.options.validate_data is True


def test_plan_stage_order_and_content(tmp_path):
    cfg = _cfg(
        tmp_path,
        view=True,
        exclude_use_table_list=True,
        exclude_table_list=["Skipme"],
    )
    plan = MigrationPipeline(cfg, _snapshot()).plan()
    stages = [a.stage for a in plan]
    order = {s: i for i, s in enumerate(STAGE_ORDER)}
    assert stages == sorted(stages, key=lambda s: order[s])

    ddl = next(a for a in plan if a.stage == "tableddl" and a.kind == "ddl")
    assert ddl.target == "orders"                       # lowercased
    assert "id BIGSERIAL NOT NULL" in ddl.payload       # auto-inc + NOT NULL
    assert "PRIMARY KEY (id)" in ddl.payload

    comments = [a for a in plan if "COMMENT ON COLUMN" in str(a.payload)]
    assert comments and "free text" in comments[0].payload

    view = next(a for a in plan if a.stage == "view")
    assert "LIMIT 10 OFFSET 5" in view.payload          # transpiled
    assert "coalesce" in view.payload.lower() or "IFNULL" in view.payload

    read = next(a for a in plan if a.kind == "read_plan")
    assert read.payload["column"] == "ID"               # keyset partitioning
    assert read.payload["numPartitions"] == 50          # 5M rows / 100k

    idx = next(a for a in plan if a.stage == "indexes")
    assert idx.payload == (
        "CREATE INDEX IF NOT EXISTS orders_idx_amount ON orders (amount)"
    )

    grant = next(a for a in plan if a.stage == "table_privileges")
    assert grant.payload == "GRANT SELECT, INSERT ON orders TO bob"

    checks = [a for a in plan if a.stage == "validate"]
    assert len(checks) == 1 and checks[0].target == "orders"

    # exclusion applied everywhere
    assert all("skipme" not in str(a.target).lower() for a in plan)


def test_plan_skip_existing_and_truncate(tmp_path):
    cfg = _cfg(tmp_path, truncate_before_sync=True)
    pipe = MigrationPipeline(cfg, _snapshot(), existing_pg_tables={"orders"})
    plan = pipe.plan()
    # skip-existing: no CREATE TABLE for orders
    assert not any(
        a.stage == "tableddl" and a.target == "orders" for a in plan
    )
    # truncate action precedes the read plan in the data stage
    data = [a for a in plan if a.stage == "data" and a.target == "orders"]
    assert data[0].kind == "ddl" and "TRUNCATE" in data[0].payload
    assert data[1].kind == "read_plan"


def test_include_list(tmp_path):
    cfg = _cfg(tmp_path, use_table_list=True, table_list=["Skipme"])
    plan = MigrationPipeline(cfg, _snapshot()).plan()
    assert all(a.target != "orders" for a in plan if a.stage == "tableddl")


def test_file_backed_execute_full_pipeline(tmp_path, spark):
    """Integration run (harness full-run analog) through execute() with
    parquet endpoints: plan → recorded DDL → threaded data sync
    (parquet→parquet) → count+checksum validation, end-to-end."""
    from mysql2pg_spark.orchestrator import CatalogSnapshot, ColumnMeta, TableMeta
    from mysql2pg_spark.runlog import RunLogger
    from mysql2pg_spark.sinks.ddl import RecordingConnection
    from mysql2pg_spark.tables import load_table, parquet_endpoints
    from tests.conftest import SF_SMOKE

    cfg = _cfg(tmp_path)
    snap = CatalogSnapshot(
        tables=[
            TableMeta(
                name="orders",
                columns=[ColumnMeta("o_orderkey", "bigint", False)],
                primary_key=["o_orderkey"],
                row_count=1500,
                pk_bounds=(1, 1500),
            ),
            TableMeta(
                name="nation",
                columns=[ColumnMeta("n_nationkey", "int", False)],
                primary_key=["n_nationkey"],
                row_count=25,
                pk_bounds=(0, 24),
            ),
        ]
    )
    conn = RecordingConnection()
    result = MigrationPipeline(cfg, snap).execute(
        spark,
        conn,
        **parquet_endpoints(
            lambda t: load_table(spark, SF_SMOKE, t),
            str(tmp_path / "sink"),
        ),
        logger=RunLogger(str(tmp_path / "logs")),
    )
    assert result["synced"] == {"orders": 1500, "nation": 25}
    assert all(v["consistent"] for v in result["validation"].values())
    assert len(result["validation"]) == 2
    assert any("CREATE TABLE" in d for d in conn.statements)
    assert result["ddl"] == len(conn.statements)
    assert result["log"]["n_errors"] == 0


def test_file_backed_execute_applies_value_fix(tmp_path, spark):
    """A file-backed run goes through the same value-fix as a live one:
    a tinyint(1) column lands as boolean and a MySQL zero date as NULL
    in the parquet sink, and the table still validates consistent (the
    source checksum is taken after the fix)."""
    from mysql2pg_spark.runlog import RunLogger
    from mysql2pg_spark.sinks.ddl import RecordingConnection
    from mysql2pg_spark.tables import parquet_endpoints

    snap = CatalogSnapshot(tables=[
        TableMeta(
            name="flags",
            columns=[
                ColumnMeta("id", "bigint", False),
                ColumnMeta("active", "tinyint(1)"),
                ColumnMeta("seen", "datetime"),
            ],
            primary_key=["id"],
        )
    ])
    # a permissive extract: MySQL's zero date arrives as text
    src = spark.createDataFrame(
        [(1, 1, "2024-01-02 03:04:05"), (2, 0, "0000-00-00 00:00:00")],
        "id bigint, active smallint, seen string",
    )
    sink = tmp_path / "sink"
    result = MigrationPipeline(_cfg(tmp_path), snap).execute(
        spark,
        RecordingConnection(),
        **parquet_endpoints(lambda t: src, str(sink)),
        logger=RunLogger(str(tmp_path / "logs")),
    )
    assert result["synced"] == {"flags": 2}
    assert result["validation"]["flags"]["consistent"]
    out = spark.read.parquet(str(sink / "flags"))
    assert dict(out.dtypes)["active"] == "boolean"
    rows = {r["id"]: (r["active"], r["seen"]) for r in out.collect()}
    assert rows == {1: (True, "2024-01-02 03:04:05"), 2: (False, None)}


def test_value_fix_casts_no_typed_temporal_to_string(tmp_path, spark):
    """B7 zero dates arrive only as text: a string column still maps
    '0000-00-00' to NULL, while a typed timestamp column (which never
    renders as a zero date) passes through with no string cast."""
    snap = CatalogSnapshot(tables=[
        TableMeta(
            name="t",
            columns=[
                ColumnMeta("id", "bigint", False),
                ColumnMeta("d", "date"),
                ColumnMeta("ts", "datetime"),
            ],
        )
    ])
    pipe = MigrationPipeline(_cfg(tmp_path), snap)
    src = spark.createDataFrame(
        [(1, "0000-00-00", None), (2, "2024-02-29", None)],
        "id bigint, d string, ts timestamp",
    )
    out = pipe._sink_frame(snap.tables[0], src)
    assert {r.id: r.d for r in out.collect()} == {1: None, 2: "2024-02-29"}
    plan = (
        out.select("ts")._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "as string" not in plan.lower(), plan


def test_validate_checksums_ride_one_job(tmp_path, spark):
    """The validate stage reads each destination back and checks all of
    their checksums in ONE Spark job (one Observation per table on a
    single noop scan), on top of the read-backs' own schema jobs."""
    from mysql2pg_spark.runlog import RunLogger
    from mysql2pg_spark.sinks.ddl import RecordingConnection
    from mysql2pg_spark.tables import parquet_endpoints

    names = ["a", "b", "c"]
    snap = CatalogSnapshot(tables=[
        TableMeta(name=n, columns=[ColumnMeta("id", "bigint", False),
                                   ColumnMeta("v", "text")],
                  primary_key=["id"])
        for n in names
    ])
    frames = {
        "a": spark.createDataFrame([(1, "x"), (2, None)], "id bigint, v string"),
        "b": spark.createDataFrame([], "id bigint, v string"),
        "c": spark.createDataFrame([(3, "y")], "id bigint, v string"),
    }
    tracker = spark.sparkContext.statusTracker()
    jobs: dict[str, int] = {}

    class Counting(RunLogger):
        def stage_start(self, stage):
            super().stage_start(stage)
            jobs[stage] = -len(tracker.getJobIdsForGroup(None))

        def stage_end(self, stage, detail=""):
            jobs[stage] += len(tracker.getJobIdsForGroup(None))
            super().stage_end(stage, detail)

    endpoints = parquet_endpoints(frames.__getitem__, str(tmp_path / "sink"))
    reads = []
    read = endpoints["dest_reader"]

    def dest_reader(sp, table):
        before = len(tracker.getJobIdsForGroup(None))
        df = read(sp, table)
        reads.append(len(tracker.getJobIdsForGroup(None)) - before)
        return df

    result = MigrationPipeline(_cfg(tmp_path), snap).execute(
        spark, RecordingConnection(),
        **{**endpoints, "dest_reader": dest_reader},
        logger=Counting(str(tmp_path / "logs")),
    )
    assert all(result["validation"][n]["consistent"] for n in names)
    assert result["validation"]["b"]["dst"]["n_rows"] == 0
    assert jobs["validate"] == sum(reads) + 1


class _FakeConn:
    """DB-API seam: records SQL; optionally fails on matching statements."""

    def __init__(self, fail_if=None):
        self.executed = []
        self.commits = 0
        self.fail_if = fail_if

    def cursor(self):
        return self

    def execute(self, sql):
        if self.fail_if and self.fail_if in sql:
            raise RuntimeError(f"boom: {self.fail_if}")
        self.executed.append(sql)

    def commit(self):
        self.commits += 1


def test_execute_live_path_with_fakes(tmp_path, spark):
    """The live execute() control flow end-to-end on injected seams:
    DDL through the DB-API fake, threaded data sync through reader/writer
    fakes, PG read-back validation, stage-timed run log."""
    import os

    from mysql2pg_spark.runlog import RunLogger
    from mysql2pg_spark.tables import load_table

    cfg = _cfg(tmp_path)
    snap = CatalogSnapshot(
        tables=[
            TableMeta(
                name="orders",
                columns=[ColumnMeta("o_orderkey", "bigint", False)],
                primary_key=["o_orderkey"],
                row_count=1500,
                pk_bounds=(1, 1500),
            ),
            TableMeta(
                name="nation",
                columns=[ColumnMeta("n_nationkey", "int", False)],
                primary_key=["n_nationkey"],
                row_count=25,
                pk_bounds=(0, 24),
            ),
        ]
    )
    conn = _FakeConn()
    sink = tmp_path / "pg"

    def source_reader(sp, plan):
        return load_table(sp, "/root/testdata/sf0.001", plan["table"])

    def sink_writer(df, table):
        df.write.mode("overwrite").parquet(str(sink / table))

    def dest_reader(sp, table):
        return sp.read.parquet(str(sink / table))

    logger = RunLogger(str(tmp_path / "logs"))
    result = MigrationPipeline(cfg, snap).execute(
        spark,
        conn,
        source_reader=source_reader,
        sink_writer=sink_writer,
        dest_reader=dest_reader,
        logger=logger,
    )
    assert result["synced"] == {"orders": 1500, "nation": 25}
    assert len(result["validation"]) == 2
    assert all(v["consistent"] for v in result["validation"].values())
    assert result["ddl"] == len(conn.executed) and result["ddl"] > 0
    assert conn.commits >= 1  # one commit per stage that ran DDL
    # D4/D5: stage timings recorded, conversion.log written, no errors
    assert set(result["log"]["stages"]) >= {"tableddl", "data", "validate"}
    assert result["log"]["n_errors"] == 0
    log_text = (tmp_path / "logs" / "conversion.log").read_text()
    assert "stage data: done" in log_text
    assert "sync orders: start" in log_text       # D4 per-table progress
    assert "synced orders: 1500 rows" in log_text
    assert not os.path.exists(tmp_path / "logs" / "errors.log")


def test_execute_scans_source_once_per_table(tmp_path, spark):
    """D3 validation must NOT re-read the source: the checksum rides the
    sink write via df.observe(), so source_reader is invoked exactly once
    per synced table even with validation on (the 100 TB property — a
    JDBC source is paged through a single time)."""
    from mysql2pg_spark.runlog import RunLogger
    from mysql2pg_spark.tables import load_table

    cfg = _cfg(tmp_path)
    snap = CatalogSnapshot(
        tables=[
            TableMeta(
                name="nation",
                columns=[ColumnMeta("n_nationkey", "int", False)],
                primary_key=["n_nationkey"],
                row_count=25,
                pk_bounds=(0, 24),
            ),
        ]
    )
    sink = tmp_path / "pg"
    scans: dict[str, int] = {}

    def source_reader(sp, plan):
        t = plan["table"]
        scans[t] = scans.get(t, 0) + 1
        return load_table(sp, "/root/testdata/sf0.001", t)

    result = MigrationPipeline(cfg, snap).execute(
        spark,
        _FakeConn(),
        source_reader=source_reader,
        sink_writer=lambda df, table: df.write.mode("overwrite").parquet(
            str(sink / table)
        ),
        dest_reader=lambda sp, table: sp.read.parquet(str(sink / table)),
        logger=RunLogger(str(tmp_path / "logs")),
    )
    assert scans == {"nation": 1}  # sync + checksum share one scan
    assert result["validation"]["nation"]["consistent"] is True
    # the observed source side carries the full checksum shape
    assert set(result["validation"]["nation"]["src"]) == {
        "n_rows",
        "hash_sum",
        "min_digest",
        "max_digest",
    }
    assert result["validation"]["nation"]["src"]["n_rows"] == 25


def test_execute_value_fixes_and_keep_going(tmp_path, spark):
    """B7 zero-date → NULL and C90 generated columns apply between read
    and write; a failing DDL is recorded in errors.log and the run
    continues (reference keep-going semantics, manager.go:1716-1737)."""
    cfg = _cfg(tmp_path)
    snap = CatalogSnapshot(
        tables=[
            TableMeta(
                name="t1",
                columns=[
                    ColumnMeta("id", "bigint", False),
                    ColumnMeta("d", "datetime"),
                    ColumnMeta("twice", "bigint", default="GENERATED:id * 2"),
                ],
                primary_key=["id"],
                row_count=2,
                pk_bounds=(1, 2),
            )
        ]
    )
    src = spark.createDataFrame(
        [(1, "0000-00-00 00:00:00"), (2, "2024-05-01 10:00:00")], "id long, d string"
    )
    written = {}
    conn = _FakeConn(fail_if="CREATE TABLE")

    result = MigrationPipeline(cfg, snap).execute(
        spark,
        conn,
        source_reader=lambda sp, plan: src,
        sink_writer=lambda df, table: written.setdefault(table, df.collect()),
        dest_reader=lambda sp, table: sp.createDataFrame(
            written[table], "id long, d string, twice long"
        ),
        logger=__import__(
            "mysql2pg_spark.runlog", fromlist=["RunLogger"]
        ).RunLogger(str(tmp_path / "logs")),
    )
    rows = {r.id: r for r in written["t1"]}
    assert rows[1].d is None                      # B7 zero date nulled
    assert rows[2].d == "2024-05-01 10:00:00"     # real value untouched
    assert rows[1].twice == 2 and rows[2].twice == 4  # C90 generated
    # the CREATE TABLE failure was recorded, later stages still ran
    assert result["log"]["n_errors"] == 1
    assert result["log"]["errors"][0]["stage"] == "tableddl"
    assert result["synced"] == {"t1": 2}
    assert (tmp_path / "logs" / "errors.log").read_text().count("boom") == 1
    # D3 on a TRANSFORMED table: the checksum must compare the value-fixed
    # source (zero date nulled, generated column added) against the
    # destination — a correct sync reports consistent=true.
    assert result["validation"]["t1"]["consistent"] is True


def test_runlogger_timings_and_echo(tmp_path, capsys):
    """RunLogger: injectable clock gives exact stage durations; echo
    mirrors the reference's config-gated stdout copy."""
    from mysql2pg_spark.runlog import RunLogger

    ticks = iter([10.0, 12.5])
    log = RunLogger(str(tmp_path), echo=True, clock=lambda: next(ticks))
    log.stage_start("data")
    log.stage_end("data", "3 actions")
    assert log.stage_seconds == {"data": 2.5}
    out = capsys.readouterr().out
    assert "stage data: start" in out and "done in 2.500s (3 actions)" in out


def test_example_config_round_trips():
    """config.example.yml parses through load_config with every key
    consumed by the dataclasses (no silent typos in the shipped file)."""
    import yaml

    from mysql2pg_spark.config import (
        ConversionOptions,
        Limits,
        MySQLConfig,
        PostgresConfig,
        load_config,
    )

    cfg = load_config("config.example.yml")
    assert cfg.mysql.jdbc_url == "jdbc:mysql://localhost:3306/source_db"
    assert cfg.postgresql.jdbc_url == "jdbc:postgresql://localhost:5432/target_db"
    assert cfg.limits.concurrency == 10
    assert cfg.options.validate_data is True
    raw = yaml.safe_load(open("config.example.yml"))
    assert set(raw["mysql"]) <= set(MySQLConfig.__dataclass_fields__)
    assert set(raw["postgresql"]) <= set(PostgresConfig.__dataclass_fields__)
    conv = raw["conversion"]
    assert set(conv["options"]) <= set(ConversionOptions.__dataclass_fields__)
    assert set(conv["limits"]) <= set(Limits.__dataclass_fields__)


def _write_snapshot(tmp_path):
    import yaml

    snap = {
        "tables": [
            {
                "name": "Orders",
                "columns": [
                    {"name": "ID", "type": "bigint", "nullable": False,
                     "auto_increment": True},
                    {"name": "Amount", "type": "decimal(10,2)"},
                ],
                "primary_key": ["ID"],
                "indexes": [{"name": "idx_amount", "columns": ["Amount"]}],
                "row_count": 1000,
                "pk_bounds": [1, 1000],
            }
        ],
        "views": {"v_top": "SELECT ID FROM Orders LIMIT 5, 10"},
        "table_privileges": [["bob", "Orders", "Select"]],
    }
    p = tmp_path / "snapshot.yml"
    p.write_text(yaml.safe_dump(snap))
    return str(p)


def test_cli_plan_mode(tmp_path, capsys):
    """`python -m mysql2pg_spark -c cfg --mode plan --snapshot snap`
    prints the ordered action list as JSON lines."""
    import json

    from mysql2pg_spark.__main__ import main

    _cfg(tmp_path, view=True)  # writes tmp_path/config.yml
    rc = main([
        "-c", str(tmp_path / "config.yml"),
        "--mode", "plan",
        "--snapshot", _write_snapshot(tmp_path),
    ])
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    stages = [l["stage"] for l in lines]
    assert stages.index("tableddl") < stages.index("view") < stages.index("data")
    ddl = next(l for l in lines if l["stage"] == "tableddl")
    assert "CREATE TABLE" in ddl["payload"]
    view = next(l for l in lines if l["stage"] == "view")
    assert "LIMIT 10 OFFSET 5" in view["payload"]
    read = next(l for l in lines if l["kind"] == "read_plan")
    assert read["payload"]["column"] == "ID"


def test_cli_requires_snapshot(tmp_path):
    from mysql2pg_spark.__main__ import main

    _cfg(tmp_path)
    assert main(["-c", str(tmp_path / "config.yml")]) == 2


def test_execute_test_only_probes_and_runs_nothing(tmp_path, spark):
    """D6: test_only probes both endpoints through the seams and returns
    without planning or executing any stage (reference: validate
    connections, then exit)."""
    from mysql2pg_spark.runlog import RunLogger

    cfg = _cfg(tmp_path)
    cfg.mysql.test_only = True
    conn = _FakeConn()
    probed = []

    result = MigrationPipeline(cfg, _snapshot()).execute(
        spark,
        conn,
        source_reader=lambda sp, plan: (
            probed.append(plan["table"]),
            sp.range(1),
        )[1],
        sink_writer=lambda df, table: (_ for _ in ()).throw(
            AssertionError("must not write in test_only")
        ),
        dest_reader=lambda sp, table: sp.range(1),
        logger=RunLogger(str(tmp_path / "logs")),
    )
    assert result["test_only"] == {"mysql": True, "postgresql": True}
    assert "synced" not in result
    assert conn.executed == ["SELECT version()"]  # A16 probe only, no DDL
    # first selected table (limit 1) + the A16 mysql version probe
    assert probed == ["Orders", "(SELECT VERSION() AS version) v"]
    # the fake returns a 1-column row; its value is reported as a version
    assert result["versions"]["mysql"] == "0"


def test_cli_local_mode_runs_pipeline(tmp_path, spark, capsys, monkeypatch):
    """`--mode local` executes the file-backed pipeline end to end and
    prints the sync/validation summary JSON."""
    import json

    import yaml

    from mysql2pg_spark.__main__ import main

    monkeypatch.chdir(tmp_path)  # the run log lands under ./logs

    _cfg(tmp_path)
    snap = {
        "tables": [
            {
                "name": "nation",
                "columns": [{"name": "n_nationkey", "type": "int",
                             "nullable": False}],
                "primary_key": ["n_nationkey"],
                "row_count": 25,
                "pk_bounds": [0, 24],
            }
        ]
    }
    sp = tmp_path / "snap.yml"
    sp.write_text(yaml.safe_dump(snap))
    rc = main([
        "-c", str(tmp_path / "config.yml"),
        "--mode", "local",
        "--snapshot", str(sp),
        "--source-dir", "/root/testdata/sf0.001",
        "--sink-dir", str(tmp_path / "out"),
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["synced"] == {"nation": 25}
    assert out["validation"] == {"nation": True}
    assert out["n_ddl"] > 0


def test_cli_dump_mode_runs_offline_migration(
    tmp_path, spark, capsys, monkeypatch
):
    """--mode dump: schema AND data from one mysqldump file through the
    full plan/DDL/sync/validate flow, no snapshot YAML, no servers."""
    import json

    from mysql2pg_spark.__main__ import main

    monkeypatch.chdir(tmp_path)  # the run log lands under ./logs

    dump = tmp_path / "d.sql"
    dump.write_text(
        "CREATE TABLE `users` (\n"
        "  `id` bigint NOT NULL,\n"
        "  `name` varchar(50) DEFAULT NULL,\n"
        "  PRIMARY KEY (`id`)\n"
        ");\n"
        "INSERT INTO `users` VALUES (1,'ada'),(2,'bo''b');\n"
    )
    cfg = _cfg(tmp_path)  # writes tmp_path/config.yml
    rc = main(
        [
            "-c", str(tmp_path / "config.yml"),
            "--mode", "dump",
            "--dump-file", str(dump),
            "--sink-dir", str(tmp_path / "out"),
        ]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["tables"] == ["users"]
    assert out["synced"] == {"users": 2}
    assert out["validation"] == {"users": True}
    assert out["n_ddl"] >= 1


def test_cli_exit_status_reports_a_failed_table(
    tmp_path, spark, capsys, monkeypatch
):
    """A table whose data cannot be read fails alone: the run keeps
    going, the other table is synced and consistent, the JSON line
    carries the error records, and the exit status is 1."""
    import json

    import yaml

    from mysql2pg_spark.__main__ import main

    monkeypatch.chdir(tmp_path)
    (tmp_path / "config.yml").write_text(yaml.safe_dump({
        "mysql": {"host": "h", "database": "d"},
        "postgresql": {"host": "p", "database": "d"},
        "conversion": {"options": {}, "limits": {"concurrency": 2}},
    }))
    tab = tmp_path / "tab"
    tab.mkdir()
    for t in ("good", "bad"):
        (tab / f"{t}.sql").write_text(
            f"CREATE TABLE `{t}` (\n"
            "  `id` int NOT NULL,\n"
            "  `a` varchar(10),\n"
            "  `b` varchar(10),\n"
            "  PRIMARY KEY (`id`)\n"
            ");\n"
        )
    (tab / "good.txt").write_text("1\tx\ty\n2\t\\N\tz\n")
    (tab / "bad.txt").write_text("1\tonly-two\n")  # column count mismatch
    rc = main([
        "-c", str(tmp_path / "config.yml"),
        "--mode", "dump",
        "--tab-dir", str(tab),
        "--sink-dir", str(tmp_path / "out"),
    ])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 1
    assert out["synced"] == {"good": 2}
    assert out["validation"] == {"good": True}
    assert {e["target"] for e in out["errors"]} == {"bad"}
    assert (tmp_path / "logs" / "errors.log").read_text().count("bad") >= 1


def _write_cli_config(tmp_path):
    import yaml

    path = tmp_path / "config.yml"
    path.write_text(yaml.safe_dump({
        "mysql": {"host": "h", "database": "d"},
        "postgresql": {"host": "p", "database": "d"},
        "conversion": {"options": {}, "limits": {"concurrency": 2}},
    }))
    return str(path)


def test_cli_local_and_pgexport_write_the_same_sink_frame(
    tmp_path, spark, capsys, monkeypatch
):
    """A mixed-case dump table (`Orders`, `Id`, `Flag tinyint(1)`) lands
    the same through --mode local and --mode pgexport: normalized
    column names, and `flag` value-fixed to a boolean on both paths."""
    import json

    from mysql2pg_spark.__main__ import main
    from tests.test_copyexport import _read_copy_dir

    monkeypatch.chdir(tmp_path)
    cfg = _write_cli_config(tmp_path)
    dump = tmp_path / "dump.sql"
    dump.write_text(
        "CREATE TABLE `Orders` (\n"
        "  `Id` int NOT NULL,\n"
        "  `Flag` tinyint(1) DEFAULT NULL,\n"
        "  PRIMARY KEY (`Id`)\n"
        ");\n"
        "INSERT INTO `Orders` VALUES (1,1),(2,0);\n"
    )
    rc = main([
        "-c", cfg, "--mode", "local",
        "--dump-file", str(dump), "--sink-dir", str(tmp_path / "sink"),
    ])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0, out
    assert out["validation"] == {"orders": True}
    df = spark.read.parquet(str(tmp_path / "sink" / "orders"))
    assert df.columns == ["id", "flag"]
    assert dict(df.dtypes)["flag"] == "boolean"
    assert sorted(tuple(r) for r in df.collect()) == [(1, True), (2, False)]

    rc = main([
        "-c", cfg, "--mode", "pgexport",
        "--dump-file", str(dump), "--pg-out", str(tmp_path / "pg"),
    ])
    assert rc == 0
    assert sorted(_read_copy_dir(str(tmp_path / "pg" / "orders.copy"))) == [
        ["1", "t"], ["2", "f"],
    ]
    load = (tmp_path / "pg" / "load.sql").read_text()
    assert '\\copy "orders" ("id", "flag") from ' in load


@pytest.mark.parametrize("source", ["--dump-file", "--tab-dir"])
def test_cli_file_sources_load_zero_dates_as_null(
    source, tmp_path, spark, capsys, monkeypatch
):
    """MySQL zero dates (B7) in a dump or a --tab directory load as NULL
    instead of failing the table's typed cast; the run exits 0 with both
    rows synced and validation consistent."""
    import json

    from mysql2pg_spark.__main__ import main

    monkeypatch.chdir(tmp_path)
    cfg = _write_cli_config(tmp_path)
    create = (
        "CREATE TABLE `ev` (\n"
        "  `id` int NOT NULL,\n"
        "  `at` datetime DEFAULT NULL,\n"
        "  `on_day` date DEFAULT NULL,\n"
        "  PRIMARY KEY (`id`)\n"
        ");\n"
    )
    if source == "--dump-file":
        src = tmp_path / "dump.sql"
        src.write_text(
            create + "INSERT INTO `ev` VALUES "
            "(1,'2024-01-02 03:04:05','2024-01-02'),"
            "(2,'0000-00-00 00:00:00','0000-00-00');\n"
        )
    else:
        src = tmp_path / "tab"
        src.mkdir()
        (src / "ev.sql").write_text(create)
        (src / "ev.txt").write_text(
            "1\t2024-01-02 03:04:05\t2024-01-02\n"
            "2\t0000-00-00 00:00:00\t0000-00-00\n"
        )
    rc = main([
        "-c", cfg, "--mode", "local",
        source, str(src), "--sink-dir", str(tmp_path / "sink"),
    ])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0, out
    assert out["synced"] == {"ev": 2}
    assert out["validation"] == {"ev": True}
    rows = {
        r["id"]: r
        for r in spark.read.parquet(str(tmp_path / "sink" / "ev")).collect()
    }
    assert rows[2]["at"] is None and rows[2]["on_day"] is None
    assert str(rows[1]["at"]) == "2024-01-02 03:04:05"
    assert str(rows[1]["on_day"]) == "2024-01-02"


def test_file_reader_cast_still_rejects_malformed_dates(spark):
    """Only the zero date becomes NULL: any other malformed temporal
    value still fails the typed cast (no silent try_cast)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField, TimestampType

    from mysql2pg_spark.sources.dumpfile import cast_field

    field = StructField("at", TimestampType())
    df = spark.createDataFrame([("0000-00-00 00:00:00",)], "at string")
    assert df.select(cast_field(F.col("at"), field)).collect()[0][0] is None
    bad = spark.createDataFrame([("not a date",)], "at string")
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        bad.select(cast_field(F.col("at"), field)).collect()


def test_cli_diff_mode(tmp_path, capsys):
    """--mode diff prints the executable catch-up plan for two snapshot
    files (statement-terminated; destructive skips as comments)."""
    import yaml as _yaml

    from mysql2pg_spark.__main__ import main

    (tmp_path / "config.yml").write_text(
        _yaml.safe_dump(
            {"mysql": {"host": "h", "database": "d"},
             "postgresql": {"host": "p", "database": "d"}}
        )
    )
    (tmp_path / "old.yml").write_text(_yaml.safe_dump({"tables": [
        {"name": "users", "columns": [
            {"name": "id", "type": "bigint", "nullable": False},
            {"name": "gone", "type": "text"},
        ]}]}))
    (tmp_path / "new.yml").write_text(_yaml.safe_dump({"tables": [
        {"name": "users", "columns": [
            {"name": "id", "type": "bigint", "nullable": False},
            {"name": "email", "type": "varchar(100)"},
        ]}]}))
    rc = main([
        "-c", str(tmp_path / "config.yml"),
        "--mode", "diff",
        "--old-snapshot", str(tmp_path / "old.yml"),
        "--snapshot", str(tmp_path / "new.yml"),
    ])
    out = capsys.readouterr().out
    assert rc == 0
    assert 'ADD COLUMN email VARCHAR(100);' in out
    assert "-- SKIPPED (destructive)" in out and "gone" in out
    # missing --old-snapshot is a usage error
    assert main([
        "-c", str(tmp_path / "config.yml"), "--mode", "diff",
        "--snapshot", str(tmp_path / "new.yml"),
    ]) == 2


def test_cli_pgddl_mode(tmp_path, capsys):
    """`--mode pgddl` prints the complete PostgreSQL schema script —
    every schema stage regardless of the config's sync toggles, plain
    SQL (pipe to psql), skips preserved as comments."""
    import yaml

    from mysql2pg_spark.__main__ import main

    _cfg(tmp_path)  # note: view/functions NOT enabled in the config
    snap = {
        "tables": [
            {
                "name": "acct",
                "columns": [
                    {"name": "id", "type": "int", "nullable": False,
                     "auto_increment": True},
                    {"name": "note", "type": "varchar(20)",
                     "comment": "the note"},
                ],
                "primary_key": ["id"],
                "indexes": [{"name": "idx_note", "columns": ["note"]}],
            }
        ],
        "views": {"v1": "SELECT id, IFNULL(note, 'n/a') AS note FROM acct"},
        "functions": [
            "CREATE FUNCTION f1(x INT) RETURNS INT NO SQL BEGIN "
            "DECLARE n INT DEFAULT 0; WHILE x > 0 DO SET n = n + x; "
            "SET x = x - 1; END WHILE; RETURN n; END",
            # outside the translatable subset → must surface as a skip
            # (plain @vars translate since round 9; the read-only
            # @@subset maps since round 12 — @@sql_mode, whose PG
            # spelling has different names/units, still refuses)
            "CREATE FUNCTION g1(x INT) RETURNS INT BEGIN "
            "SET @a = @@sql_mode; RETURN x; END",
            # round 8: procedures ride the same snapshot key (the A9
            # scan returns both; the reference drops procedures)
            "CREATE PROCEDURE p1(IN a INT, OUT b INT) "
            "BEGIN SET b = a * 2; END",
        ],
        "triggers": [
            "CREATE TRIGGER acct_bu BEFORE UPDATE ON acct FOR EACH ROW "
            "SET NEW.note = UPPER(NEW.note)",
        ],
        "users": {"u1": ['CREATE ROLE "u1" LOGIN']},
    }
    p = tmp_path / "snap.yml"
    p.write_text(yaml.safe_dump(snap))
    rc = main([
        "-c", str(tmp_path / "config.yml"),
        "--mode", "pgddl",
        "--snapshot", str(p),
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "CREATE TABLE IF NOT EXISTS acct" in out
    assert "id SERIAL NOT NULL" in out
    assert "COMMENT ON COLUMN acct.note IS 'the note';" in out
    assert "CREATE OR REPLACE VIEW v1 AS" in out
    assert "COALESCE(note, 'n/a')" in out  # IFNULL transpiled
    assert "CREATE INDEX IF NOT EXISTS acct_idx_note" in out
    assert "CREATE OR REPLACE FUNCTION f1(x INTEGER)" in out
    assert "WHILE x > 0 LOOP" in out and "$$ LANGUAGE plpgsql;" in out
    assert "CREATE OR REPLACE PROCEDURE p1(a INTEGER, OUT b INTEGER)" in out
    assert "b := (a * 2);" in out or "b := a * 2;" in out
    assert "CREATE OR REPLACE FUNCTION trg_acct_bu() RETURNS trigger" in out
    assert "CREATE TRIGGER acct_bu BEFORE UPDATE ON acct" in out
    assert 'CREATE ROLE "u1" LOGIN;' in out
    assert "-- SKIP [function]" in out
    assert "system/session variables" in out
    # no JSON, no payload wrappers — plain SQL statements
    assert '"stage"' not in out


class _PoisoningConn(_FakeConn):
    """psycopg2 transaction semantics: after any failed statement, every
    later statement raises until rollback() — the seam that proves the
    keep-going loop resets the connection between DDL failures."""

    def __init__(self, fail_if=None):
        super().__init__(fail_if)
        self.poisoned = False
        self.rollbacks = 0

    def execute(self, sql):
        if self.poisoned:
            raise RuntimeError(
                "current transaction is aborted, commands ignored until "
                "end of transaction block"
            )
        try:
            super().execute(sql)
        except Exception:
            self.poisoned = True
            raise

    def rollback(self):
        self.poisoned = False
        self.rollbacks += 1


def test_failed_ddl_rolls_back_so_later_ddl_still_runs(tmp_path, spark):
    """On real PostgreSQL (non-autocommit DB-API), one failed DDL poisons
    the transaction; without a rollback the keep-going loop and the C33
    view retry both hit InFailedSqlTransaction. The pipeline must roll
    back after each failure so every later statement gets a clean
    transaction."""
    cfg = _cfg(tmp_path)
    snap = CatalogSnapshot(
        tables=[
            TableMeta(
                name="bad",
                columns=[ColumnMeta("id", "bigint", False)],
                primary_key=["id"],
                row_count=1,
                pk_bounds=(1, 1),
            ),
            TableMeta(
                name="good",
                columns=[ColumnMeta("id", "bigint", False)],
                primary_key=["id"],
                row_count=1,
                pk_bounds=(1, 1),
            ),
        ]
    )
    src = spark.createDataFrame([(1,)], "id long")
    written = {}
    conn = _PoisoningConn(fail_if="bad")

    from mysql2pg_spark.runlog import RunLogger

    result = MigrationPipeline(cfg, snap).execute(
        spark,
        conn,
        source_reader=lambda sp, plan: src,
        sink_writer=lambda df, table: written.setdefault(table, df.collect()),
        dest_reader=lambda sp, table: sp.createDataFrame(
            written[table], "id long"
        ),
        logger=RunLogger(str(tmp_path / "logs")),
    )
    # the poisoned transaction was rolled back, so the NEXT table's DDL
    # executed instead of dying on the aborted-transaction error
    assert conn.rollbacks >= 1
    assert any("good" in s and "CREATE TABLE" in s for s in conn.executed)
    assert not any(
        "aborted" in e.get("error", "") for e in result["log"]["errors"]
    ), result["log"]["errors"]


def test_cli_pgddl_check_lints_live_output(tmp_path, capsys):
    """`--mode pgddl --check` runs the golden-file structural lint
    against the LIVE script (exit 1 on problems) — the CI gate that
    previously existed only inside pytest."""
    import yaml

    from mysql2pg_spark.__main__ import main

    _cfg(tmp_path)
    snap = {
        "tables": [
            {
                "name": "acct",
                "columns": [
                    {"name": "id", "type": "int", "nullable": False},
                    {"name": "note", "type": "varchar(20)"},
                ],
                "primary_key": ["id"],
            }
        ],
        "views": {"v1": "SELECT id, IFNULL(note, 'n/a') AS note FROM acct"},
    }
    p = tmp_path / "snap.yml"
    p.write_text(yaml.safe_dump(snap))
    rc = main([
        "-c", str(tmp_path / "config.yml"),
        "--mode", "pgddl",
        "--snapshot", str(p),
        "--check",
    ])
    captured = capsys.readouterr()
    assert rc == 0
    assert "CREATE TABLE IF NOT EXISTS acct" in captured.out
    assert "lint: OK" in captured.err
    assert "LINT:" not in captured.err


class _TxnConn(_PoisoningConn):
    """Full non-autocommit transaction model: executed statements sit in
    an open transaction until commit() (moved to ``committed``) or
    rollback() (discarded) — the seam that proves a failed DDL can no
    longer throw away earlier successful statements in its stage."""

    def __init__(self, fail_if=None):
        super().__init__(fail_if)
        self.pending = []
        self.committed = []

    def execute(self, sql):
        super().execute(sql)
        self.pending.append(sql)

    def commit(self):
        super().commit()
        self.committed.extend(self.pending)
        self.pending = []

    def rollback(self):
        super().rollback()
        self.pending = []


def test_earlier_ddl_survives_later_failure_in_stage(tmp_path, spark):
    """Each successful DDL commits immediately: when a LATER statement
    in the same stage fails and the transaction rolls back, the earlier
    statements (already counted in ddl_done) must survive in the
    database instead of being silently discarded with the rollback."""
    cfg = _cfg(tmp_path)
    snap = CatalogSnapshot(
        tables=[
            TableMeta(
                name="good",
                columns=[ColumnMeta("id", "bigint", False)],
                primary_key=["id"],
                row_count=1,
                pk_bounds=(1, 1),
            ),
            TableMeta(
                name="bad",
                columns=[ColumnMeta("id", "bigint", False)],
                primary_key=["id"],
                row_count=1,
                pk_bounds=(1, 1),
            ),
        ]
    )
    src = spark.createDataFrame([(1,)], "id long")
    written = {}
    conn = _TxnConn(fail_if="bad")

    from mysql2pg_spark.runlog import RunLogger

    result = MigrationPipeline(cfg, snap).execute(
        spark,
        conn,
        source_reader=lambda sp, plan: src,
        sink_writer=lambda df, table: written.setdefault(table, df.collect()),
        dest_reader=lambda sp, table: sp.createDataFrame(
            written[table], "id long"
        ),
        logger=RunLogger(str(tmp_path / "logs")),
    )
    # the good table's CREATE TABLE was committed BEFORE bad's failure
    # rolled the transaction back — nothing of it was lost
    assert any(
        "good" in s and "CREATE TABLE" in s for s in conn.committed
    ), conn.committed
    assert conn.pending == []            # nothing left uncommitted
    assert conn.rollbacks >= 1           # the failure still rolled back
    # and the run log counted exactly the statements that are durable
    assert result["ddl"] == len(conn.committed)


def test_identity_sequence_resync_after_data(tmp_path, spark):
    """SURVEY 7.4-6 (round 8): rows loaded with explicit source
    auto_increment values leave the PG identity sequence at 1 — the
    plan now carries a `sequences`-stage setval that runs AFTER the
    data stage, so the first post-migration INSERT gets MAX+1 instead
    of a unique_violation. (The reference has no such step.)"""
    from mysql2pg_spark.tables import load_table

    cfg = _cfg(tmp_path)
    snap = CatalogSnapshot(
        tables=[
            TableMeta(
                name="Orders",
                columns=[
                    ColumnMeta("ID", "bigint", False, auto_increment=True),
                    ColumnMeta("Amount", "double"),
                ],
                primary_key=["ID"],
                row_count=25,
                pk_bounds=(0, 24),
            )
        ]
    )
    pipe = MigrationPipeline(cfg, snap)

    # plan: the setval action exists, in its own post-data stage
    actions = pipe.plan()
    stages = [a.stage for a in actions]
    assert "sequences" in stages
    seq = next(a for a in actions if a.stage == "sequences")
    assert seq.payload == (
        "SELECT setval(pg_get_serial_sequence('orders', 'id'), "
        "COALESCE((SELECT MAX(id) FROM orders), 0) + 1, false)"
    )
    assert STAGE_ORDER.index("sequences") > STAGE_ORDER.index("data")

    # execute: the setval statement reaches the engine AFTER the table
    # sync (events interleaved through one shared recorder)
    from mysql2pg_spark.runlog import RunLogger

    events: list[str] = []

    class _SeqConn(_FakeConn):
        def execute(self, sql):
            super().execute(sql)
            if "setval" in sql:
                events.append("setval")

    conn = _SeqConn()

    def source_reader(sp, plan):
        return load_table(sp, "/root/testdata/sf0.001", "nation").selectExpr(
            "n_nationkey AS ID", "CAST(n_regionkey AS DOUBLE) AS Amount"
        )

    def sink_writer(df, table):
        events.append(f"sync:{table}")

    result = pipe.execute(
        spark,
        conn,
        source_reader=source_reader,
        sink_writer=sink_writer,
        dest_reader=lambda sp, t: source_reader(sp, None),
        logger=RunLogger(str(tmp_path / "logs_seq")),
    )
    assert result["synced"] == {"orders": 25}
    assert events.index("sync:orders") < events.index("setval")


def test_foreign_keys_emit_after_data(tmp_path):
    """FKs land in their own `fkeys` stage AFTER data (bulk load needs
    no parent-first ordering; one set-based check per constraint), with
    identifier normalization applied; the DuckDB dialect skips the
    ALTER visibly (no ADD CONSTRAINT support there)."""
    from mysql2pg_spark.sinks.ddl import FkSpec, adapt_ddl

    cfg = _cfg(tmp_path)
    snap = CatalogSnapshot(
        tables=[
            TableMeta(name="Parent", columns=[ColumnMeta("ID", "int", False)],
                      primary_key=["ID"]),
            TableMeta(
                name="Child",
                columns=[ColumnMeta("ID", "int", False),
                         ColumnMeta("P_ID", "int")],
                primary_key=["ID"],
                foreign_keys=[FkSpec(
                    name="FK_Child", columns=["P_ID"], ref_table="Parent",
                    ref_columns=["ID"], on_delete="CASCADE",
                )],
            ),
        ]
    )
    actions = MigrationPipeline(cfg, snap).plan()
    fkeys = [a for a in actions if a.stage == "fkeys"]
    assert len(fkeys) == 1
    assert fkeys[0].payload == (
        "ALTER TABLE child ADD CONSTRAINT fk_child FOREIGN KEY (p_id) "
        "REFERENCES parent (id) ON DELETE CASCADE"
    )
    assert STAGE_ORDER.index("fkeys") > STAGE_ORDER.index("data")
    assert STAGE_ORDER.index("fkeys") > STAGE_ORDER.index("sequences")
    assert adapt_ddl(fkeys[0].payload, "duckdb") is None
    assert adapt_ddl(fkeys[0].payload, "postgres") == fkeys[0].payload


def test_group_foreign_keys_composite():
    from mysql2pg_spark.sources.catalog import (
        foreign_keys_query,
        group_foreign_keys,
    )

    assert "referential_constraints" in foreign_keys_query("db")
    rows = [
        {"table_name": "child", "constraint_name": "fk1",
         "column_name": "b", "ordinal_position": 2,
         "referenced_table_name": "parent", "referenced_column_name": "y",
         "delete_rule": "CASCADE", "update_rule": "NO ACTION"},
        {"table_name": "child", "constraint_name": "fk1",
         "column_name": "a", "ordinal_position": 1,
         "referenced_table_name": "parent", "referenced_column_name": "x",
         "delete_rule": "CASCADE", "update_rule": "NO ACTION"},
    ]
    out = group_foreign_keys(rows)
    (fk,) = out["child"]
    assert fk.columns == ["a", "b"] and fk.ref_columns == ["x", "y"]


def test_add_fk_ddl_caps_names_at_63_bytes():
    """ADVICE r8: PG silently truncates identifiers past 63 bytes, so an
    over-long generated FK name would differ from the emitted one
    (breaking skip-existing reruns) and two long composite FKs could
    truncate to COLLIDING names. The emitter caps deterministically with
    a distinguishing hash suffix instead."""
    import re

    from mysql2pg_spark.sinks.ddl import FkSpec, add_fk_ddl

    long_cols_a = [f"customer_account_reference_column_{i}" for i in (1, 2)]
    long_cols_b = [f"customer_account_reference_column_{i}" for i in (1, 3)]
    table = "extremely_long_fact_table_name_for_identifier_tests"

    def _name(ddl: str) -> str:
        return re.search(r'ADD CONSTRAINT "?([^"\s]+)"?\s', ddl).group(1)

    na = _name(add_fk_ddl(table, FkSpec(
        name=None, columns=long_cols_a, ref_table="parent",
        ref_columns=["a", "b"],
    )))
    nb = _name(add_fk_ddl(table, FkSpec(
        name=None, columns=long_cols_b, ref_table="parent",
        ref_columns=["a", "b"],
    )))
    assert len(na.encode()) <= 63 and len(nb.encode()) <= 63
    assert na != nb  # blind [:63] truncation would collide here
    assert na.startswith(table[:40])  # still recognizably table-prefixed
    # short names pass through untouched
    short = add_fk_ddl("t", FkSpec(
        name="fk_ok", columns=["a"], ref_table="p", ref_columns=["id"],
    ))
    assert 'ADD CONSTRAINT fk_ok' in short


def test_plan_surfaces_disabled_triggers(tmp_path):
    """ADVICE r8: mysqldump includes triggers by default, so a snapshot
    can carry them while options.triggers is off (dump/duckdb CLI modes
    do exactly this) — the plan must emit a visible note instead of
    silently omitting them."""
    import yaml

    from mysql2pg_spark.config import load_config
    from mysql2pg_spark.orchestrator import (
        CatalogSnapshot,
        MigrationPipeline,
    )

    cfgp = tmp_path / "c.yml"
    cfgp.write_text(yaml.safe_dump({
        "mysql": {"host": "h", "database": "d"},
        "postgresql": {"host": "p", "database": "d"},
        "conversion": {"options": {}, "limits": {"concurrency": 1,
                                                 "max_rows_per_batch": 10}},
    }))
    cfg = load_config(str(cfgp))
    assert cfg.options.triggers is False
    snap = CatalogSnapshot(tables=[], triggers=[
        "CREATE TRIGGER t_bu BEFORE UPDATE ON t FOR EACH ROW "
        "SET NEW.x = 1",
    ])
    actions = MigrationPipeline(cfg, snap).plan()
    notes = [a for a in actions
             if a.stage == "triggers" and a.kind == "skip"]
    assert len(notes) == 1
    assert "options.triggers is false" in notes[0].payload
    # with the option ON there is no note, just the DDL
    cfg.options.triggers = True
    actions = MigrationPipeline(cfg, snap).plan()
    trig = [a for a in actions if a.stage == "triggers"]
    assert len(trig) == 1 and trig[0].kind == "ddl"


def test_statement_commit_preserves_ddl_around_a_failure(tmp_path, spark):
    """The one DDL protocol: every statement commits on success and
    rolls back on failure. A failing statement in the middle of a stage
    loses only itself — the statements before AND after it are durable,
    nothing is left pending, and the executed count matches what was
    committed."""
    cfg = _cfg(tmp_path)
    snap = CatalogSnapshot(
        tables=[
            TableMeta(
                name="good",
                columns=[ColumnMeta("id", "bigint", False)],
                primary_key=["id"],
                row_count=1,
                pk_bounds=(1, 1),
            ),
            TableMeta(
                name="bad",
                columns=[ColumnMeta("id", "bigint", False)],
                primary_key=["id"],
                row_count=1,
                pk_bounds=(1, 1),
            ),
            TableMeta(
                name="zafter",
                columns=[ColumnMeta("id", "bigint", False)],
                primary_key=["id"],
                row_count=1,
                pk_bounds=(1, 1),
            ),
        ]
    )
    src = spark.createDataFrame([(1,)], "id long")
    written = {}

    from mysql2pg_spark.runlog import RunLogger

    conn = _TxnConn(fail_if="bad")
    result = MigrationPipeline(cfg, snap).execute(
        spark,
        conn,
        source_reader=lambda sp, plan: src,
        sink_writer=lambda df, table: written.setdefault(
            table, df.collect()
        ),
        dest_reader=lambda sp, table: sp.createDataFrame(
            written[table], "id long"
        ),
        logger=RunLogger(str(tmp_path / "logs")),
    )
    # statements around the failure survive, the failed one does not
    assert any(
        "good" in s and "CREATE TABLE" in s for s in conn.committed
    ), conn.committed
    assert any(
        "zafter" in s and "CREATE TABLE" in s for s in conn.committed
    )
    assert not any(
        "bad" in s and "CREATE TABLE" in s for s in conn.committed
    )
    assert conn.pending == []
    assert result["ddl"] == len(conn.committed)
    # one commit per executed statement, one rollback for the failure
    assert conn.commits == result["ddl"]
    assert conn.rollbacks == 1
    # the per-stage wall breakdown rides the result
    assert "tableddl" in result["stage_sec"]


def test_file_backed_execute_emits_stage_seconds(tmp_path, spark):
    """A file-backed run's per-stage breakdown rides the result — the
    bench artifact's migration decomposition source."""
    from mysql2pg_spark.runlog import RunLogger
    from mysql2pg_spark.sinks.ddl import RecordingConnection
    from mysql2pg_spark.tables import load_table, parquet_endpoints
    from tests.conftest import SF_SMOKE

    cfg = _cfg(tmp_path)
    snap = CatalogSnapshot(
        tables=[
            TableMeta(
                name="region",
                columns=[
                    ColumnMeta("r_regionkey", "bigint", False),
                    ColumnMeta("r_name", "text"),
                ],
                primary_key=["r_regionkey"],
                row_count=5,
                pk_bounds=(0, 4),
            )
        ]
    )
    result = MigrationPipeline(cfg, snap).execute(
        spark,
        RecordingConnection(),
        **parquet_endpoints(
            lambda name: load_table(spark, SF_SMOKE, name),
            str(tmp_path / "sink"),
        ),
        logger=RunLogger(str(tmp_path / "logs")),
    )
    assert {"tableddl", "data", "validate"} <= set(result["stage_sec"])
    assert set(result["stage_sec"]) <= set(STAGE_ORDER)
    assert all(v >= 0 for v in result["stage_sec"].values())
    assert result["validation"]["region"]["consistent"]
