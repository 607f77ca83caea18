"""The migration workload, ``bulk_sync``: nine typed tables through the
shipped ``MigrationPipeline.execute()`` (parquet source → value-fix →
observed checksum → parquet sink → parquet read-back validation, DDL
into DuckDB), each layer timed from outside through the seams the
benchmark hands it.

Its traced run also replays the recorded reference catalog
(tests/golden/infoschema.json) through ``sources.catalog.build_snapshot``,
``plan("duckdb")`` and ``execute()`` with data off, after the timed
passes: the translation layers, which the data plane never enters.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import numpy as np
import yaml

import datagen
import tracing as bt
from workload import Workload

# MySQL column types for the generated tables' Arrow types, as the
# information_schema of the source database would report them
_MYSQL_TYPE = {
    "int32": "int", "int64": "bigint", "double": "double",
    "string": "text", "timestamp[us]": "datetime",
}


def _config(path: str, options: dict):
    from mysql2pg_spark.config import load_config

    with open(path, "w") as fh:
        yaml.safe_dump({
            "mysql": {"host": "source", "database": "testdb"},
            "postgresql": {"host": "target", "database": "d"},
            "conversion": {
                "options": options,
                "limits": {"concurrency": 4, "max_rows_per_batch": 10000},
            },
        }, fh)
    return load_config(path)


def tracing_logger(log_dir: str, spans: bt.Spans, jobs):
    """A ``RunLogger`` whose ``stage_start``/``stage_end`` also open and
    close one span per stage and count the Spark jobs each stage ran
    (``jobs`` is a ``JobCounter``, or None to skip counting)."""
    from mysql2pg_spark.runlog import RunLogger

    class TracingLogger(RunLogger):
        def __init__(self):
            super().__init__(log_dir, echo=False)
            self.open: dict[str, int | None] = {}
            self.started: dict[str, float] = {}
            self.jobs: dict[str, dict] = {}
            self._marks: dict[str, set] = {}

        def stage_start(self, stage: str) -> None:
            super().stage_start(stage)
            self.started[stage] = time.perf_counter()
            if jobs is not None:
                self._marks[stage] = jobs.mark()
            self.open[stage] = spans.begin(f"orchestrator.stage.{stage}")

        def stage_end(self, stage: str, detail: str = "") -> None:
            spans.end(self.open.pop(stage, None))
            if jobs is not None and stage in self._marks:
                self.jobs[stage] = jobs.since(self._marks.pop(stage))
            super().stage_end(stage, detail)

    return TracingLogger()


class CountingConnection:
    """DB-API wrapper around the DuckDB DDL target: one span per
    statement and per commit, and a count of statements that raised."""

    def __init__(self, con, spans: bt.Spans):
        self._con = con
        self._spans = spans
        self.statements = 0
        self.failed = 0
        self.commits = 0

    def cursor(self):
        return self

    def execute(self, sql, *params):
        self.statements += 1
        with self._spans.span("sinks.ddl"):
            try:
                return self._con.execute(sql, *params)
            except Exception:
                self.failed += 1
                raise

    def commit(self):
        self.commits += 1
        with self._spans.span("sinks.commit"):
            return self._con.commit()

    def rollback(self):
        return self._con.rollback()


def _stage_layers(times: dict, stages) -> dict:
    return {
        f"orchestrator.stage.{s}_s":
            times.get(f"orchestrator.stage.{s}", {}).get("total", 0.0)
        for s in stages
    }


# ---- catalog replay ----------------------------------------------------------

CATALOG = os.path.join("tests", "golden", "infoschema.json")
# what the replay must plan and execute: 285 actions, 206 DDL
# statements, and one refusal by name (JSON_DEPTH has no PostgreSQL or
# DuckDB translation)
CATALOG_ACTIONS = 285
CATALOG_DDL = 206
CATALOG_REFUSED = {"view/view_case08_json"}
CATALOG_STAGES = ("view", "indexes", "functions", "triggers", "events")
CATALOG_REPS = 3

# (catalog plane, substrings that identify its information_schema query)
_ROUTES = (
    ("key_column_usage_pk",
     ("information_schema.key_column_usage", "'PRIMARY'")),
    ("foreign_keys", ("information_schema.referential_constraints",)),
    ("check_constraints", ("constraint_type = 'CHECK'",)),
    ("partitions", ("information_schema.partitions",)),
    ("statistics", ("information_schema.statistics",)),
    ("columns", ("information_schema.columns",)),
    ("views", ("information_schema.views",)),
    ("parameters", ("information_schema.parameters",)),
    ("routines", ("information_schema.routines",)),
    ("triggers", ("information_schema.triggers",)),
    ("events", ("information_schema.events",)),
    ("table_privileges", ("information_schema.table_privileges",)),
    ("tables", ("information_schema.tables",)),
)


def catalog_query(planes: dict):
    """``run_query`` for ``build_snapshot``: answers each catalog plane's
    information_schema query with its recorded rows, as a live MySQL
    connection's cursor would."""

    def run_query(sql: str) -> list[dict]:
        for plane, needles in _ROUTES:
            if all(n in sql for n in needles):
                return [dict(r) for r in planes[plane]]
        raise KeyError(f"unrouted catalog query: {sql[:120]}")

    return run_query


def replay_catalog(run, planes: dict, rep: int, spans: bt.Spans) -> dict:
    """One replay of the recorded catalog, its rows in a seed-shuffled
    order (information_schema promises none): ``build_snapshot`` →
    ``plan("duckdb")`` → ``execute()`` with data off, DDL into DuckDB."""
    import duckdb

    from mysql2pg_spark.orchestrator import MigrationPipeline
    from mysql2pg_spark.sources.catalog import build_snapshot

    rng = np.random.default_rng(datagen.pass_seed(run.seed, 1000 + rep))
    shuffled = {
        k: [rows[i] for i in rng.permutation(len(rows))]
        for k, rows in planes.items()
    }

    def never(*_args):
        raise AssertionError("data plane called with data off")

    d = run.fresh_dir("catalog")
    cfg = _config(os.path.join(d, "catalog.yml"), {
        "view": True, "functions": True, "triggers": True,
        "data": False, "validate_data": False,
    })
    logger = tracing_logger(os.path.join(d, "logs"), spans, None)
    with spans.span("sources.catalog.build"):
        snap = build_snapshot("testdb", catalog_query(shuffled))
    pipe = MigrationPipeline(cfg, snap)
    with spans.span("orchestrator.plan"):
        actions = pipe.plan("duckdb")
    con = duckdb.connect()
    conn = CountingConnection(con, spans)
    try:
        result = pipe.execute(
            None, conn,
            source_reader=never, sink_writer=never, dest_reader=never,
            logger=logger, target_dialect="duckdb",
        )
    finally:
        con.close()
    return {"dir": d, "result": result, "actions": actions, "conn": conn}


def check_catalog(out: dict) -> tuple[int, list[str]]:
    """The replay plans and executes the recorded counts, and refuses
    exactly the recorded objects."""
    res = out["result"]
    refused = {f"{e['stage']}/{e['target']}" for e in res["log"]["errors"]}
    bad = [f"catalog: unexpected failure {r}"
           for r in sorted(refused - CATALOG_REFUSED)]
    bad += [f"catalog: expected refusal missing {r}"
            for r in sorted(CATALOG_REFUSED - refused)]
    if res["ddl"] != CATALOG_DDL:
        bad.append(f"catalog: executed {res['ddl']} DDL, "
                   f"recorded {CATALOG_DDL}")
    if len(out["actions"]) != CATALOG_ACTIONS:
        bad.append(f"catalog: planned {len(out['actions'])} actions, "
                   f"recorded {CATALOG_ACTIONS}")
    return len(out["actions"]), bad


def catalog_layers(run) -> dict:
    """Per-layer metrics of the catalog replay: one untimed replay, then
    the median of ``CATALOG_REPS`` traced ones. Every replay counts into
    the run's correctness tally."""
    import shutil

    with open(os.path.join(run.root, CATALOG)) as fh:
        planes = json.load(fh)
    samples = []
    for rep in range(CATALOG_REPS + 1):
        spans = bt.Spans(rep > 0)
        out = replay_catalog(run, planes, rep, spans)
        run.tally(*check_catalog(out))
        shutil.rmtree(out["dir"], ignore_errors=True)
        if rep == 0:
            continue
        times = bt.span_times(spans.records)
        conn = out["conn"]
        samples.append({
            "sources.catalog.build_s": times["sources.catalog.build"]["total"],
            "orchestrator.plan_s": times["orchestrator.plan"]["total"],
            "orchestrator.plan_actions": len(out["actions"]),
            **_stage_layers(times, CATALOG_STAGES),
            "sinks.ddl_statements": conn.statements,
            "sinks.ddl_s": times.get("sinks.ddl", {}).get("total", 0.0),
            "sinks.ddl_failed": conn.failed,
            "sinks.commits": conn.commits,
        })
    return {k: statistics.median(s[k] for s in samples) for k in samples[0]}


# ---- bulk_sync ---------------------------------------------------------------

class BulkSync(Workload):
    """Nine typed tables at ``SF`` through ``execute()``; each pass reads
    a freshly written, seed-shuffled copy of the same generated rows."""

    SF = 0.01
    # One warm-up takes the cold pass. Warm passes keep getting faster
    # for about eight passes (JIT), so the fastest timed pass is nearly
    # always a late one, unless CPU steal stretched it.
    warmups = 1

    def setup(self, run) -> None:
        from mysql2pg_spark.orchestrator import (
            CatalogSnapshot, ColumnMeta, TableMeta,
        )

        run.start_spark()
        self.tables = datagen.generate(run.seed, self.SF)
        self.expected = {
            t: self.tables[t].num_rows for t in datagen.MIGRATION_TABLES
        }
        self.items_per_pass = sum(self.expected.values())
        self.snapshot = CatalogSnapshot(tables=[
            TableMeta(name=t, columns=[
                ColumnMeta(f.name, _MYSQL_TYPE[str(f.type)])
                for f in self.tables[t].schema
            ])
            for t in datagen.MIGRATION_TABLES
        ])
        self.cfg = _config(os.path.join(run.work, "bulk.yml"), {})
        self.drop_one_row = None  # self-test hook: table to short by a row
        self._passes = 0

    def make_input(self, run) -> dict:
        self._passes += 1
        d = run.fresh_dir("bulk")
        datagen.write_dir(
            self.tables, os.path.join(d, "src"),
            names=datagen.MIGRATION_TABLES,
            shuffle_seed=datagen.pass_seed(run.seed, self._passes),
        )
        return {"dir": d, "src": os.path.join(d, "src"),
                "sink": os.path.join(d, "sink")}

    def run_pass(self, run, inp: dict, spans: bt.Spans) -> dict:
        import duckdb

        from mysql2pg_spark.orchestrator import MigrationPipeline

        spark = run.spark
        jobs = bt.JobCounter(spark) if spans.enabled else None
        logger = tracing_logger(os.path.join(inp["dir"], "logs"),
                                spans, jobs)
        waits: list[float] = []
        writes: dict[str, str] = {}

        def source_reader(sp, plan):
            data = logger.open.get("data")
            if "data" in logger.started:
                waits.append(time.perf_counter() - logger.started["data"])
            with spans.span("sources.read", parent=data):
                return sp.read.parquet(
                    os.path.join(inp["src"], f"{plan['table']}.parquet")
                )

        def sink_writer(df, table):
            if table == self.drop_one_row:
                df = df.filter(df[df.columns[0]] != 0)
            path = os.path.join(inp["sink"], table)
            with spans.span("sinks.write", parent=logger.open.get("data")):
                df.write.mode("overwrite").parquet(path)
            writes[table] = path

        def dest_reader(sp, table):
            with spans.span("operators.validate.dest_read",
                            parent=logger.open.get("validate")):
                return sp.read.parquet(os.path.join(inp["sink"], table))

        con = duckdb.connect()
        conn = CountingConnection(con, spans)
        try:
            result = MigrationPipeline(self.cfg, self.snapshot).execute(
                spark, conn,
                source_reader=source_reader,
                sink_writer=sink_writer,
                dest_reader=dest_reader,
                logger=logger,
                target_dialect="duckdb",
            )
        finally:
            con.close()
        return {"result": result, "conn": conn, "logger": logger,
                "waits": waits, "writes": writes}

    def check(self, run, inp, out) -> tuple[int, list[str]]:
        res = out["result"]
        bad = [f"{e['stage']}/{e['target']}: {e['error'][:200]}"
               for e in res["log"]["errors"]]
        for t, n in self.expected.items():
            if res["synced"].get(t) != n:
                bad.append(f"{t}: synced {res['synced'].get(t)} of {n} rows")
            if not res["validation"].get(t, {}).get("consistent"):
                bad.append(f"{t}: validation not consistent")
        return len(self.expected), bad

    def layers(self, run, out, spans: bt.Spans) -> dict:
        times = bt.span_times(spans.records)
        res, logger = out["result"], out["logger"]
        files = size = 0
        for path in out["writes"].values():
            for name in os.listdir(path):
                if name.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(path, name))
        jobs = logger.jobs
        n_tables = len(self.expected)
        verdicts = list(res["validation"].values())
        data_jobs = jobs.get("data", {}).get("jobs", 0)
        validate_jobs = jobs.get("validate", {}).get("jobs", 0)
        data = times.get("orchestrator.stage.data", {})
        return {
            **_stage_layers(times, ("tableddl", "data", "validate")),
            "orchestrator.stage.data.self_s": data.get("self", 0.0),
            "orchestrator.pool_wait_s": sum(out["waits"]),
            "sources.read_calls": times["sources.read"]["count"],
            "sources.read_s": times["sources.read"]["total"],
            "sinks.write_calls": times["sinks.write"]["count"],
            "sinks.write_s": times["sinks.write"]["total"],
            "sinks.write_max_s": times["sinks.write"]["max"],
            "sinks.files_written": files,
            "sinks.bytes_written": size,
            "operators.validate.dest_reads":
                times.get("operators.validate.dest_read", {}).get("count", 0),
            "operators.validate.consistent_frac":
                sum(bool(v.get("consistent")) for v in verdicts)
                / max(1, len(verdicts)),
            "spark.jobs.data": data_jobs,
            "spark.jobs.validate": validate_jobs,
            "spark.tasks": sum(j["tasks"] for j in jobs.values()),
            "spark.stages": sum(j["stages"] for j in jobs.values()),
            "spark.jobs_per_table": (data_jobs + validate_jobs) / n_tables,
            "spark.persisted_rdds": bt.persisted_rdds(run.spark),
        }

    def extra_layers(self, run) -> dict:
        return catalog_layers(run)

    def describe(self) -> dict:
        return {"sf": self.SF, "rows": self.expected}
