"""CLI entry point — the `mysql2pg -c config.yml` analog (SURVEY §3.1,
cmd/mysql2pg/main.go behavior: load config → assemble catalog → run the
staged pipeline).

Modes, least- to most-connected:

  plan       print the ordered action list (DDL text + read plans) as
             JSON lines — the dry run; needs only a snapshot.
  local      run the migration over file endpoints: the source is a
  dump       parquet dir (--source-dir, with --snapshot), a mysqldump
             file (--dump-file: schema AND data from the dump) or a
             mysqldump --tab directory (--tab-dir); the sink is a
             parquet dir (--sink-dir) with read-back validation, and
             the DDL is recorded, not executed. No servers at all.
             The two names are the same mode.
  duckdb     the same sources into an embedded DuckDB file
             (--duckdb-file): real DDL execution, real batched DB-API
             inserts, real read-back validation. The offline analog of
             a live PG migration, usable end-to-end today.
  live       execute against MySQL/PostgreSQL via JDBC + a DB-API
             connection (requires driver jars and a psycopg-style
             module).
  pgddl      schema-only: print the complete PostgreSQL DDL script
             (tables, indexes, comments, views, plpgsql functions,
             roles, grants) for a snapshot or dump — pipe to psql.
  tabexport  the EXPORT mirror: write a mysqldump --tab-style directory
             (per-table MySQL-dialect .sql + escaped .txt data via the
             JVM OUTFILE encoder, plus a restore.sql of LOAD DATA
             statements).
  pgexport   the offline PostgreSQL artifact (round 13): schema_pre.sql
             + per-table COPY-text data directories (JVM encoder,
             partition-parallel) + schema_post.sql + a psql load.sql —
             convert a mysqldump with NO live PostgreSQL, then load the
             artifact later with plain psql.

tabexport and pgexport read the same sources as local/dump/duckdb
(--source-dir with --snapshot, --dump-file or --tab-dir) through one
resolver, so a dump whose bulk arrives through LOAD DATA INFILE exports
every row.

Every migrating mode (local, dump, duckdb, live) runs
``MigrationPipeline.execute()`` — one control flow, different seams —
prints one JSON summary line, and exits 1 when a table failed or
validated inconsistent (the run itself keeps going past a failed
table, like the reference).

The catalog snapshot comes from a YAML file (``--snapshot``): offline
parity with what sources/catalog.py reads from information_schema, so
planning is fully testable without a MySQL. In live mode
``sources.catalog.build_snapshot`` assembles it from the A1-A11
information_schema scans through spark.read.jdbc (round 13; one
set-based query per plane).
"""

from __future__ import annotations

import argparse
import json
import sys

import yaml

from mysql2pg_spark.config import load_config
from mysql2pg_spark.orchestrator import (
    CatalogSnapshot,
    ColumnMeta,
    MigrationPipeline,
    TableMeta,
)
from mysql2pg_spark.sinks.ddl import FkSpec, IndexSpec


def load_snapshot(path: str) -> CatalogSnapshot:
    """YAML → CatalogSnapshot (the offline stand-in for the A1-A11
    information_schema scans)."""
    with open(path) as f:
        raw = yaml.safe_load(f) or {}
    tables = []
    for t in raw.get("tables", []):
        tables.append(
            TableMeta(
                name=t["name"],
                columns=[
                    ColumnMeta(
                        name=c["name"],
                        column_type=c["type"],
                        nullable=c.get("nullable", True),
                        default=c.get("default"),
                        comment=c.get("comment"),
                        auto_increment=c.get("auto_increment", False),
                        generated_expr=c.get("generated_expr"),
                        generated_stored=c.get("generated_stored", False),
                    )
                    for c in t.get("columns", [])
                ],
                comment=t.get("comment"),
                primary_key=t.get("primary_key", []),
                indexes=[
                    IndexSpec(
                        i["name"],
                        i["columns"],
                        i.get("unique", False),
                        kind=i.get("kind", "btree"),
                    )
                    for i in t.get("indexes", [])
                ],
                foreign_keys=[
                    FkSpec(
                        name=f.get("name"),
                        columns=f["columns"],
                        ref_table=f["ref_table"],
                        ref_columns=f["ref_columns"],
                        on_delete=f.get("on_delete"),
                        on_update=f.get("on_update"),
                    )
                    for f in t.get("foreign_keys", [])
                ],
                row_count=t.get("row_count", 0),
                pk_bounds=tuple(t["pk_bounds"]) if t.get("pk_bounds") else None,
                partition_clause=t.get("partition_clause"),
                # full definition text (round 13): lets YAML snapshots
                # carry the per-partition list the C92 planner needs —
                # partition_clause alone only names the skip
                partition_def=t.get("partition_def"),
                checks=[
                    (c.get("name"), c["expr"], c.get("enforced", True))
                    for c in t.get("checks", [])
                ],
            )
        )
    return CatalogSnapshot(
        tables=tables,
        views=raw.get("views", {}),
        users=raw.get("users", {}),
        table_privileges=[
            tuple(p) for p in raw.get("table_privileges", [])
        ],
        # raw MySQL CREATE FUNCTION DDL strings — plan() converts them
        # through sinks.plpgsql_builder.build_spec_from_mysql (C95)
        functions=raw.get("functions", []),
        # raw MySQL CREATE TRIGGER DDL strings (round 8) — plan()
        # converts them via sinks.plpgsql_builder.build_trigger_from_mysql
        triggers=raw.get("triggers", []),
    )


#: file-backed mode → the args attribute of its target flag
_FILE_TARGET = {
    "local": "sink_dir",
    "dump": "sink_dir",
    "duckdb": "duckdb_file",
    "tabexport": "tab_out",
    "pgexport": "pg_out",
}


def _file_source(args, spark):
    """``(snapshot, loader)`` for the file-backed modes, where
    ``loader(table_name) -> DataFrame``: a mysqldump --tab directory, a
    mysqldump file (schema and data both from the dump), or a parquet
    --source-dir described by --snapshot."""
    if not (args.tab_dir or args.dump_file):
        from mysql2pg_spark.tables import load_table

        return load_snapshot(args.snapshot), lambda t: load_table(
            spark, args.source_dir, t
        )
    from mysql2pg_spark.sources.dumpfile import dump_read_schemas

    if args.tab_dir:
        from mysql2pg_spark.sources.tabdump import (
            snapshot_from_tab_dir,
            tab_source_reader,
        )

        snap = snapshot_from_tab_dir(spark, args.tab_dir)
        reader = tab_source_reader(args.tab_dir, dump_read_schemas(snap))
    else:
        from mysql2pg_spark.sources.dumpfile import full_snapshot_from_dump
        from mysql2pg_spark.sources.loaddata import load_data_source_reader

        snap = full_snapshot_from_dump(spark, args.dump_file)
        # reads LOAD DATA INFILE statements' files AND classic INSERT
        # bulk; pure-INSERT dumps pay nothing extra
        reader = load_data_source_reader(
            args.dump_file, dump_read_schemas(snap)
        )
    return snap, lambda t: reader(spark, {"table": t})


def _all_schema_stages(cfg) -> None:
    """A schema script or an offline artifact carries ALL schema stages,
    regardless of the config's sync toggles (pgddl, pgexport); neither
    validates, because no target is loaded."""
    o = cfg.options
    o.view = o.functions = o.triggers = True
    o.users = o.table_privileges = True
    o.validate_data = False


def _report(snap: CatalogSnapshot, result: dict) -> int:
    """Print a migration's summary as one JSON line, error records
    included; the exit status is 1 when any table failed (the run kept
    going past it) or validated inconsistent."""
    validation = {
        k: v.get("consistent") for k, v in result["validation"].items()
    }
    errors = result["log"]["errors"]
    print(json.dumps({
        "tables": [t.name for t in snap.tables],
        "synced": result["synced"],
        "validation": validation,
        "n_ddl": result["ddl"],
        "stage_sec": result["stage_sec"],
        "errors": errors,
    }))
    return 1 if errors or not all(validation.values()) else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="mysql2pg_spark")
    ap.add_argument("-c", "--config", required=True)
    ap.add_argument(
        "--mode",
        choices=("plan", "local", "live", "dump", "duckdb", "diff",
                 "pgddl", "tabexport", "pgexport"),
        default="plan",
    )
    ap.add_argument("--snapshot", help="catalog snapshot YAML")
    ap.add_argument(
        "--old-snapshot",
        help="previously-migrated snapshot YAML (diff mode)",
    )
    ap.add_argument(
        "--allow-drop",
        action="store_true",
        help="diff mode: emit destructive DROPs instead of comments",
    )
    ap.add_argument("--source-dir", help="parquet source dir")
    ap.add_argument("--sink-dir", help="parquet sink dir (local/dump mode)")
    ap.add_argument("--dump-file", help="mysqldump .sql file")
    ap.add_argument(
        "--tab-dir",
        help="mysqldump --tab directory: per-table <t>.sql schema + "
        "<t>.txt escaped-TSV data (every file-backed mode)",
    )
    ap.add_argument("--duckdb-file", help="target database (duckdb mode)")
    ap.add_argument(
        "--tab-out",
        help="tabexport mode: output directory for the --tab-style "
        "export (per-table .sql + .txt, plus restore.sql)",
    )
    ap.add_argument(
        "--pg-out",
        help="pgexport mode: output directory for the offline "
        "PostgreSQL artifact (schema_pre.sql + per-table COPY-text "
        "data dirs + schema_post.sql + psql load.sql)",
    )
    ap.add_argument(
        "--check",
        action="store_true",
        help="pgddl mode: run the golden-file structural lint over the "
        "generated script (exit 1 on problems) — a CI gate that needs "
        "no pytest",
    )
    args = ap.parse_args(argv)

    cfg = load_config(args.config)

    if args.mode in _FILE_TARGET:
        target_flag = _FILE_TARGET[args.mode]
        source = args.tab_dir or args.dump_file or (
            args.source_dir and args.snapshot
        )
        if not (getattr(args, target_flag) and source):
            print(
                f"{args.mode} mode needs --{target_flag.replace('_', '-')} "
                "plus --source-dir (with --snapshot), --dump-file or "
                "--tab-dir",
                file=sys.stderr,
            )
            return 2
        from mysql2pg_spark.session import get_spark

        spark = get_spark(app_name="mysql2pg_spark-cli")
        snap, loader = _file_source(args, spark)
        if args.mode == "tabexport":
            from mysql2pg_spark.sinks.tabexport import export_tab_dir

            result = export_tab_dir(spark, snap, args.tab_out, loader)
            print(json.dumps(result))
            return 0
        if args.mode == "pgexport":
            # offline PostgreSQL artifact (round 13): schema_pre.sql +
            # per-table COPY-text data directories + schema_post.sql +
            # a psql load.sql — "convert my mysqldump without a live
            # PostgreSQL", which the reference cannot do at all
            from mysql2pg_spark.sinks.copyexport import export_pg_dir

            _all_schema_stages(cfg)
            result = export_pg_dir(
                MigrationPipeline(cfg, snap), args.pg_out, loader
            )
            print(json.dumps(result))
            return 0
        if args.mode == "duckdb":
            import duckdb

            from mysql2pg_spark.sinks.dbapi_sink import make_dbapi_writer

            conn = duckdb.connect(args.duckdb_file)
            seams = {
                "source_reader": lambda sp, plan: loader(plan["table"]),
                "sink_writer": make_dbapi_writer(
                    conn.cursor, paramstyle="qmark", via="driver"
                ),
                "dest_reader": lambda sp, table: sp.createDataFrame(
                    conn.cursor()
                    .execute(f'SELECT * FROM "{table}"')
                    .fetch_arrow_table()
                ),
                "target_dialect": "duckdb",
            }
        else:
            from mysql2pg_spark.sinks.ddl import RecordingConnection
            from mysql2pg_spark.tables import parquet_endpoints

            conn = RecordingConnection()
            seams = parquet_endpoints(loader, args.sink_dir)
        result = MigrationPipeline(cfg, snap).execute(spark, conn, **seams)
        return _report(snap, result)

    if args.mode == "diff":
        # incremental catch-up: the plan that takes a target migrated at
        # --old-snapshot to the source's current --snapshot
        if not (args.old_snapshot and args.snapshot):
            print("diff mode needs --old-snapshot and --snapshot",
                  file=sys.stderr)
            return 2
        from mysql2pg_spark.schema.diff import diff_snapshots

        for stmt in diff_snapshots(
            load_snapshot(args.old_snapshot),
            load_snapshot(args.snapshot),
            allow_drop=args.allow_drop,
        ):
            print(stmt + ("" if stmt.startswith("--") else ";"))
        return 0

    if args.mode == "pgddl":
        # schema-only migration script: every executable statement the
        # plan would run, as plain PostgreSQL SQL (pipe to psql). Skips
        # are preserved as comment lines so the script stays reviewable.
        if not (args.snapshot or args.dump_file):
            print("pgddl mode needs --snapshot or --dump-file",
                  file=sys.stderr)
            return 2
        if args.dump_file:
            from mysql2pg_spark.session import get_spark
            from mysql2pg_spark.sources.dumpfile import full_snapshot_from_dump

            snap = full_snapshot_from_dump(
                get_spark(app_name="mysql2pg_spark-cli"), args.dump_file
            )
        else:
            snap = load_snapshot(args.snapshot)
        _all_schema_stages(cfg)
        cfg.options.data = False
        from mysql2pg_spark.sinks.ddl import render_script

        script = render_script(MigrationPipeline(cfg, snap).plan())
        print(script)
        if args.check:
            # same checks the golden-corpus pytest runs — head
            # whitelist, balance, MySQL-ism scan — as a plain CLI gate
            from mysql2pg_spark.schema.ddl_lint import lint_ddl

            problems = lint_ddl(script)
            for p in problems:
                print(f"LINT: {p}", file=sys.stderr)
            if problems:
                return 1
            print(f"-- lint: OK ({script.count(chr(10)) + 1} lines)",
                  file=sys.stderr)
        return 0

    if not args.snapshot:
        print("--snapshot is required (live catalog scan needs a server)",
              file=sys.stderr)
        return 2
    pipe = MigrationPipeline(cfg, load_snapshot(args.snapshot))

    if args.mode == "plan":
        for a in pipe.plan():
            print(
                json.dumps(
                    {
                        "stage": a.stage,
                        "kind": a.kind,
                        "target": a.target,
                        "payload": a.payload
                        if isinstance(a.payload, (str, dict))
                        else str(a.payload),
                    }
                )
            )
        return 0

    from mysql2pg_spark.session import get_spark

    spark = get_spark(app_name="mysql2pg_spark-cli")
    # live: DB-API connection for the PG side; import lazily so the
    # container (which has no driver) never pays for it.
    import importlib

    psycopg = importlib.import_module("psycopg2")  # or psycopg
    conn = psycopg.connect(
        host=cfg.postgresql.host,
        port=cfg.postgresql.port,
        user=cfg.postgresql.username,
        password=cfg.postgresql.password,
        dbname=cfg.postgresql.database,
    )
    result = pipe.execute(spark, conn)
    if "test_only" in result:  # connection probe only, nothing migrated
        print(json.dumps(result))
        return 1 if result["log"]["n_errors"] else 0
    return _report(pipe.snapshot, result)


if __name__ == "__main__":
    sys.exit(main())
