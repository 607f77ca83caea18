"""Migration pipeline orchestrator (SURVEY §2.D, manager.go:88-268).

Stage order matches the reference: table DDL → views → data → indexes →
functions → users → table grants → validation. `plan()` is a pure
function from (config, catalog snapshot) to an ordered action list — the
driver-side "logical plan" of the migration. `execute()` runs it: DDL
actions over a DB-API connection, data actions as partitioned
spark.read.jdbc → write.jdbc jobs fanned out on a thread pool of
`limits.concurrency` (the Spark replacement for the reference's
goroutine+semaphore scheme; within-table parallelism belongs to Spark's
scheduler, the pool only overlaps per-table JDBC latencies).

Everything that needs a live server is isolated inside execute();
plan() is fully testable offline — including idempotency (B10
skip-existing), include/exclude lists (A2/A3), lowercase normalization,
truncate mode (B2), and keyset-partitioned extract planning (A13/A14).
"""

from __future__ import annotations

import re

from dataclasses import dataclass, field, replace

from mysql2pg_spark.config import EngineConfig
from mysql2pg_spark.schema.identifiers import normalize_identifier, quote_pg
from mysql2pg_spark.schema.schema_map import struct_field_for
from mysql2pg_spark.sinks.ddl import (
    IndexSpec,
    comment_ddl,
    create_index_ddl,
    create_table_ddl,
    grant_ddl,
    truncate_ddl,
)
from mysql2pg_spark.sources.jdbc import (
    estimate_row_bytes,
    plan_partitioned_read,
)


@dataclass
class ColumnMeta:
    """One information_schema.columns row (A5)."""

    name: str
    column_type: str
    nullable: bool = True
    default: str | None = None
    comment: str | None = None
    auto_increment: bool = False
    # GENERATED ALWAYS AS (expr) [STORED|VIRTUAL] (round 11): the raw
    # MySQL expression; None = a plain column. mysqldump excludes
    # generated columns from INSERT bulk, so dropping the clause used
    # to leave a permanently-NULL plain column in the target.
    generated_expr: str | None = None
    generated_stored: bool = False


@dataclass
class TableMeta:
    name: str
    columns: list[ColumnMeta]
    comment: str | None = None
    primary_key: list[str] = field(default_factory=list)
    indexes: list[IndexSpec] = field(default_factory=list)
    foreign_keys: list = field(default_factory=list)  # FkSpec (r8)
    row_count: int = 0
    pk_bounds: tuple | None = None  # (lo, hi) for the leading numeric PK
    # MySQL partition scheme header, e.g. "RANGE (year(`sold_on`))"
    # (round 11): carried so the plan surfaces a named skip — PG
    # declarative partitioning needs explicit per-partition DDL and a
    # silent unpartition would change the operational profile
    partition_clause: str | None = None
    # FULL partition definition text including the per-partition list
    # (round 12): parsed by schema.partitioning into PG declarative
    # partitioning (parent PARTITION BY + PARTITION OF children) —
    # partition_clause above stays the header for skip messages
    partition_def: str | None = None
    # MySQL 8 CHECK constraints (round 11): (name|None, expr, enforced)
    checks: list = field(default_factory=list)


@dataclass
class CatalogSnapshot:
    """Output of the sources.catalog readers, assembled."""

    tables: list[TableMeta] = field(default_factory=list)
    views: dict[str, str] = field(default_factory=dict)       # name → MySQL SQL
    functions: list = field(default_factory=list)  # PlpgsqlFunctionSpec (C95)
    triggers: list = field(default_factory=list)   # raw MySQL CREATE TRIGGER (r8)
    events: list = field(default_factory=list)     # raw MySQL CREATE EVENT (r9,
    # inventory-only: PG has no scheduler — plan() surfaces each as a
    # documented skip naming pg_cron/pgAgent, never a silent drop)
    users: dict[str, list[str]] = field(default_factory=dict)  # user → grants
    table_privileges: list[tuple[str, str, str]] = field(default_factory=list)
    # (user, table, "Select,Insert")


@dataclass
class Action:
    stage: str       # tableddl | view | data | indexes | functions | users |
                     # table_privileges | validate
    kind: str        # ddl | read_plan | write_plan | spark_sql | check
    target: str
    payload: object


STAGE_ORDER = (
    "tableddl",
    "view",
    "data",
    "sequences",
    "indexes",
    "fkeys",
    "checks",
    "functions",
    "triggers",
    "events",
    "users",
    "table_privileges",
    "validate",
)


def _rollback_quietly(conn) -> None:
    """Reset a DB-API connection after a failed statement. On
    non-autocommit engines (psycopg2's default) the transaction is
    poisoned until rollback; autocommit engines (duckdb) may have no
    transaction to roll back — both outcomes are fine here, the caller
    is a keep-going loop that must be able to execute the NEXT
    statement."""
    try:
        rb = getattr(conn, "rollback", None)
        if rb is not None:
            rb()
    except Exception:
        pass


def _resolve_trigger_order(group: list) -> tuple[list, list]:
    """MySQL action order for one (table, event, timing) trigger group.
    mysqldump emits triggers in action order, so the base order is the
    declaration order; each FOLLOWS/PRECEDES clause re-inserts its
    trigger relative to its target, processed in declaration order —
    the same incremental placement MySQL performs at CREATE TRIGGER
    time. Returns (ordered specs, [(spec, missing_target), …]) — a
    clause whose target is not in the group cannot be enforced and is
    returned for a visible skip."""
    ordered = [s for s in group if not s.ordering]
    pending = [s for s in group if s.ordering]
    # Iterate to a fixpoint: a clause's target may itself carry an
    # ordering clause and appear LATER in declaration order (C PRECEDES
    # B where B PRECEDES A) — one pass would find B unplaced and
    # wrongly report it missing. Each sweep places every spec whose
    # target is already in `ordered`; repeat until a sweep places
    # nothing, then whatever is left genuinely references a trigger
    # outside this migration.
    while pending:
        placed_any = False
        still: list = []
        for s in pending:
            kind, target = s.ordering
            idx = next(
                (i for i, o in enumerate(ordered)
                 if o.name.lower() == target),
                None,
            )
            if idx is None:
                still.append(s)
                continue
            ordered.insert(idx + 1 if kind == "FOLLOWS" else idx, s)
            placed_any = True
        pending = still
        if not placed_any:
            break
    missing = [(s, s.ordering[1]) for s in pending]
    return ordered, missing


class MigrationPipeline:
    def __init__(self, cfg: EngineConfig, snapshot: CatalogSnapshot,
                 existing_pg_tables: set[str] | None = None):
        self.cfg = cfg
        self.snapshot = snapshot
        self.existing = existing_pg_tables or set()

    # ---- helpers ---------------------------------------------------------

    def _selected_tables(self) -> list[TableMeta]:
        """A2/A3 include/exclude filtering."""
        inc = self.cfg.include_tables
        exc = self.cfg.exclude_tables or []
        out = []
        for t in self.snapshot.tables:
            if inc is not None and t.name not in inc:
                continue
            if t.name in exc:
                continue
            out.append(t)
        return out

    def _norm(self, name: str) -> str:
        return normalize_identifier(name, self.cfg.options.lowercase_columns)

    def _view_unify_fallback(self, name: str, dialect: str) -> str | None:
        """C33 retry payload: the view's ORIGINAL MySQL body re-transpiled
        with COALESCE arguments cast to text and GREATEST/LEAST arguments
        to a number (``unify_types``, see dialect/ansi.py). Returns None
        if the view is unknown."""
        from mysql2pg_spark.dialect.ansi import transpile_mysql_ansi
        from mysql2pg_spark.schema.identifiers import quote_pg

        for vname, vsql in self.snapshot.views.items():
            if self._norm(vname) == name:
                if vsql is None:
                    return None  # withheld definition: nothing to retry
                body = transpile_mysql_ansi(
                    vsql, dialect, unify_types=True
                )
                return (
                    f"DROP VIEW IF EXISTS {quote_pg(name)} CASCADE; "
                    f"CREATE OR REPLACE VIEW {quote_pg(name)} AS {body}"
                )
        return None

    def _schema_of(self, t: TableMeta):
        from pyspark.sql.types import StructType

        return StructType(
            [
                struct_field_for(
                    self._norm(c.name),
                    c.column_type,
                    c.nullable,
                    c.default,
                    c.comment,
                    c.auto_increment,
                    self._norm_expr_idents(
                        getattr(c, "generated_expr", None)
                    ),
                )
                for c in t.columns
            ]
        )

    def _norm_expr_idents(self, expr: str | None) -> str | None:
        """Backticked identifiers inside a carried MySQL expression
        (generated columns, CHECK constraints) normalize the same way
        column names do — `Price` must become the same spelling as the
        lowercased column or the emitted quoted reference ("Price")
        names a column that doesn't exist. Bare identifiers need no
        help: PG folds them to lowercase, matching _norm."""
        if not expr:
            return expr
        return re.sub(
            r"`([^`]+)`", lambda m: f"`{self._norm(m.group(1))}`", expr
        )

    def _norm_index(self, idx: IndexSpec) -> IndexSpec:
        """The index with its key columns — plain and inside a
        functional key — in the table DDL's spelling, as the PK and FK
        paths already do."""
        from mysql2pg_spark.schema.sqltext import (
            plain_index_columns,
            split_top_level,
        )

        expr = idx.expression
        if expr:
            parts = []
            for part in split_top_level(expr):
                plain = plain_index_columns(part)
                parts.append(
                    f"`{self._norm(plain[0])}`" if plain
                    else self._norm_expr_idents(part)
                )
            expr = ", ".join(parts)
        return replace(
            idx, columns=[self._norm(c) for c in idx.columns],
            expression=expr,
        )

    def _plan_partitioning(self, t: TableMeta, name: str):
        """PartitionPlan for a table carrying a partition clause, or
        None for unpartitioned tables. Header-only captures (live
        catalog, mysqldump truncation) synthesize a def from the
        clause; an unparseable def degrades to the round-11 named
        skip — never a silent unpartition."""
        raw = getattr(t, "partition_def", None)
        if not raw and getattr(t, "partition_clause", None):
            raw = f"PARTITION BY {t.partition_clause}"
        if not raw:
            return None
        from mysql2pg_spark.schema.partitioning import (
            PartitionPlan,
            parse_partition_def,
            plan_partitioned_table,
        )

        pd = parse_partition_def(raw)
        if pd is None:
            plan = PartitionPlan()
            plan.skip = (
                f"table {name} is partitioned in MySQL "
                f"(PARTITION BY {t.partition_clause}); the clause did "
                "not parse — created UNPARTITIONED, data migrates "
                "fully; recreate the partitioning with PostgreSQL "
                "declarative partition DDL if the operational profile "
                "needs it"
            )
            return plan
        from mysql2pg_spark.dialect.ansi import transpile_mysql_ansi
        from mysql2pg_spark.sinks.ddl import _cap_identifier

        return plan_partitioned_table(
            name,
            pd,
            t.primary_key,
            self._norm,
            lambda e: transpile_mysql_ansi(self._norm_expr_idents(e)),
            _cap_identifier,
        )

    # ---- the plan --------------------------------------------------------

    def plan(self, target_dialect: str = "postgres") -> list[Action]:
        o = self.cfg.options
        actions: list[Action] = []
        tables = self._selected_tables()

        if o.tableddl:
            for t in tables:
                name = self._norm(t.name)
                if o.skip_existing_tables and name in self.existing:
                    continue
                schema = self._schema_of(t)
                # rounds 12-13: RANGE/LIST/HASH/KEY partitioning —
                # including LINEAR variants and HASH/KEY subpartitions
                # — migrates to PG declarative partitioning (parent
                # PARTITION BY + child PARTITION OF DDL, nested for
                # sub-schemes — schema/partitioning.py); PG-illegal
                # PK/key combinations stay named skips (the reference
                # strips the clause entirely, sync_tableddl.go:268-302)
                pplan = self._plan_partitioning(t, name)
                ddl_notes: list[str] = []
                actions.append(
                    Action(
                        "tableddl",
                        "ddl",
                        name,
                        create_table_ddl(
                            name,
                            schema,
                            [self._norm(c) for c in t.primary_key] or None,
                            partition_by=pplan.parent_clause
                            if pplan
                            else None,
                            notes=ddl_notes,
                        ),
                    )
                )
                for dn in ddl_notes:
                    # untranslatable expression defaults dropped
                    # VISIBLY (ADVICE r12)
                    actions.append(Action("tableddl", "note", name, dn))
                if pplan:
                    for child_ddl in pplan.children:
                        actions.append(
                            Action("tableddl", "ddl", name, child_ddl)
                        )
                    for note in pplan.notes:
                        actions.append(
                            Action("tableddl", "note", name, note)
                        )
                    if pplan.skip:
                        actions.append(
                            Action("tableddl", "skip", name, pplan.skip)
                        )
                for c_ddl in comment_ddl(name, schema, t.comment):
                    actions.append(Action("tableddl", "ddl", name, c_ddl))

        if o.view:
            from mysql2pg_spark.dialect.ansi import transpile_mysql_ansi

            for vname, vsql in self.snapshot.views.items():
                name = self._norm(vname)
                if vsql is None:
                    # live catalog withheld the definition (missing
                    # SHOW VIEW privilege, sources/catalog.py) — named
                    # skip, never a silently absent view (review r13b)
                    actions.append(Action(
                        "view", "skip", name,
                        f"view {name}: definition withheld by the "
                        "source catalog (missing SHOW VIEW privilege) "
                        "— not migrated",
                    ))
                    continue
                # sink-side DDL needs the target engine's ANSI
                # rendering (a real server parser rejects backticks/
                # IFNULL/DATE_FORMAT that Spark-dialect output legally
                # keeps) — full catalog in dialect/ansi.py
                body = transpile_mysql_ansi(vsql, target_dialect)
                actions.append(
                    Action(
                        "view",
                        "ddl",
                        name,
                        f"DROP VIEW IF EXISTS {quote_pg(name)} CASCADE; "
                        f"CREATE OR REPLACE VIEW {quote_pg(name)} AS {body}",
                    )
                )

        if o.data:
            for t in tables:
                name = self._norm(t.name)
                if o.truncate_before_sync:
                    actions.append(Action("data", "ddl", name, truncate_ddl(name)))
                pk = t.primary_key[0] if len(t.primary_key) == 1 else None
                lo, hi = t.pk_bounds or (None, None)
                actions.append(
                    Action(
                        "data",
                        "read_plan",
                        name,
                        plan_partitioned_read(
                            t.name, pk, lo, hi, t.row_count,
                            rows_per_partition=max(
                                self.cfg.limits.max_rows_per_batch, 1
                            ) * 100,
                            # A15: byte-budgeted partitions from the
                            # declared column widths
                            row_bytes=estimate_row_bytes(
                                [c.column_type for c in t.columns]
                            ),
                        ),
                    )
                )

        if o.data:
            # identity resync (SURVEY 7.4-6): the rows just loaded carry
            # the SOURCE auto_increment values, but the PG identity
            # sequence still sits at 1 — the first post-migration INSERT
            # would raise unique_violation. Runs as its own stage so it
            # executes AFTER every data load (within a stage, DDL runs
            # before reads). The reference never does this; its migrated
            # tables collide on their first insert.
            from mysql2pg_spark.sinks.ddl import setval_ddl

            for t in tables:
                name = self._norm(t.name)
                for c in t.columns:
                    if c.auto_increment:
                        actions.append(
                            Action(
                                "sequences", "ddl", name,
                                setval_ddl(name, self._norm(c.name)),
                            )
                        )

        if o.indexes:
            for t in tables:
                name = self._norm(t.name)
                coltype = {
                    self._norm(c.name): c.column_type.lower().split("(")[0]
                    for c in t.columns
                }
                for src in t.indexes:
                    idx = self._norm_index(src)
                    if not idx.columns or idx.expression:
                        # expression set WITH columns is a malformed
                        # spec (the parsers emit one or the other) —
                        # it falls through to the named skip below
                        # rather than silently dropping the
                        # expression part (review r15)
                        # MySQL 8 functional index (round 15): PG has
                        # native expression indexes, so the key
                        # expression TRANSLATES when the rewritten
                        # form passes the emitted-DDL expression
                        # grammar (beyond-reference — the reference
                        # has no functional-index pass); otherwise a
                        # documented skip naming the expression, never
                        # a silent drop
                        from mysql2pg_spark.sinks.ddl import (
                            functional_index_ddl,
                        )

                        fddl = functional_index_ddl(name, idx)
                        if fddl is not None:
                            actions.append(
                                Action("indexes", "ddl", name, fddl)
                            )
                        else:
                            actions.append(Action(
                                "indexes",
                                "skip",
                                name,
                                f"functional index {idx.name} "
                                f"({src.expression or '?'})"
                                ": expression key outside the rewrite "
                                "grammar — translate and create "
                                "manually",
                            ))
                        continue
                    if idx.kind == "spatial" and any(
                        coltype.get(c) != "point" for c in idx.columns
                    ):
                        # GiST works natively only on PG's point (the
                        # MySQL point mapping); geometry/polygon/etc
                        # map to WKT TEXT here (round 12), which has no
                        # GiST operator class — emitting would fail
                        # every run
                        actions.append(Action(
                            "indexes",
                            "skip",
                            name,
                            f"SPATIAL KEY {idx.name} on non-point "
                            "geometry: needs PostGIS (geometry type + "
                            "GiST operator class) — not migrated",
                        ))
                        continue
                    actions.append(
                        Action(
                            "indexes", "ddl", name, create_index_ddl(name, idx)
                        )
                    )

        if getattr(o, "foreign_keys", True):
            # round 8, beyond-reference: the reference SKIPS every
            # FOREIGN KEY line (sync_tableddl.go:738) — its migrated
            # schemas lose referential integrity. Emitted AFTER data
            # (bulk load needs no parent-first ordering; one set-based
            # check per constraint instead of per-row checks).
            from mysql2pg_spark.sinks.ddl import FkSpec, add_fk_ddl

            for t in tables:
                name = self._norm(t.name)
                for fk in t.foreign_keys:
                    nfk = FkSpec(
                        name=fk.name.lower() if fk.name else None,
                        columns=[self._norm(c) for c in fk.columns],
                        ref_table=self._norm(fk.ref_table),
                        ref_columns=[
                            self._norm(c) for c in fk.ref_columns
                        ],
                        on_delete=fk.on_delete,
                        on_update=fk.on_update,
                    )
                    actions.append(
                        Action("fkeys", "ddl", name, add_fk_ddl(name, nfk))
                    )

        if getattr(o, "check_constraints", True):
            # round 11, beyond-reference: MySQL 8 CHECK constraints
            # (the reference has no CHECK pass at all). ENFORCED →
            # post-data ALTER … ADD CONSTRAINT (FK pattern: one
            # set-based validation; data MySQL would have rejected
            # fails VISIBLY). NOT ENFORCED → named skip: PG's closest
            # form, NOT VALID, still enforces new rows — emitting it
            # would reject writes MySQL accepts.
            from mysql2pg_spark.dialect.ansi import transpile_mysql_ansi
            from mysql2pg_spark.sinks.ddl import add_check_ddl

            for t in tables:
                name = self._norm(t.name)
                n_anon = 0
                for cname, expr, enforced in getattr(t, "checks", []):
                    if not enforced:
                        actions.append(Action(
                            "checks",
                            "skip",
                            name,
                            f"CHECK {cname or expr[:40]!r} is NOT "
                            "ENFORCED in MySQL (documentation-only); "
                            "PostgreSQL's NOT VALID still enforces new "
                            "rows — not migrated",
                        ))
                        continue
                    if cname is None:
                        # anonymous checks need DISTINCT names (the
                        # MySQL convention is t_chk_N) or the second
                        # ALTER collides and the constraint is lost
                        n_anon += 1
                        cname = f"{name}_chk_{n_anon}"
                    actions.append(Action(
                        "checks",
                        "ddl",
                        name,
                        add_check_ddl(
                            name,
                            cname.lower(),
                            transpile_mysql_ansi(
                                self._norm_expr_idents(expr)
                            ),
                        ),
                    ))
                # round 12, beyond-reference: ENUM value lists become
                # post-data CHECK constraints. The reference flattens
                # enum to VARCHAR(255) and DISCARDS the list
                # (sync_tableddl.go:601-603) — values outside the
                # domain then load silently. Round 13 extends the same
                # closure to SET: MySQL forbids commas inside SET
                # members, so the stored comma-joined subset splits
                # exactly and membership is CHECK-expressible as
                # string_to_array(col, ',') <@ ARRAY[members] (the
                # empty set '' splits to {} ⊆ anything; NULL passes a
                # NULL check, matching MySQL). Store-time
                # normalization (definition order, dup removal) is
                # MySQL write behavior a CHECK cannot reproduce.
                from mysql2pg_spark.schema.schema_map import (
                    enum_values,
                    set_values,
                )

                for c in t.columns:
                    col = self._norm(c.name)
                    for kind, vals in (
                        ("enum", enum_values(c.column_type)),
                        ("set", set_values(c.column_type)),
                    ):
                        if vals is None:
                            continue
                        if not vals:
                            actions.append(Action(
                                "checks",
                                "skip",
                                name,
                                f"{kind} column {col}: value list "
                                "carries escapes PG would read "
                                "differently — domain CHECK not "
                                "emitted (column loads as plain "
                                "VARCHAR)",
                            ))
                            continue
                        if kind == "enum":
                            expr = f"{quote_pg(col)} IN ({', '.join(vals)})"
                        else:
                            expr = (
                                f"string_to_array({quote_pg(col)}, ',') "
                                f"<@ ARRAY[{', '.join(vals)}]::text[]"
                            )
                        actions.append(Action(
                            "checks",
                            "ddl",
                            name,
                            add_check_ddl(
                                name, f"{col}_{kind}_chk", expr
                            ),
                        ))

        if o.functions:
            from mysql2pg_spark.sinks.plpgsql import emit_plpgsql

            for spec in self.snapshot.functions:
                # Raw MySQL CREATE FUNCTION DDL (the A9 scan shape) goes
                # through the general spec builder; functions outside the
                # declarative subset surface as a visible skip action
                # instead of broken plpgsql (keep-going, like the
                # reference's per-function failure logging).
                if isinstance(spec, str):
                    if spec.startswith("-- SKIP "):
                        # pre-adjudicated inventory entry (live catalog
                        # withheld the body, sources/catalog.py) — the
                        # marker carries the full reason
                        actions.append(Action(
                            "functions", "skip", "function",
                            spec[len("-- SKIP "):],
                        ))
                        continue
                    from mysql2pg_spark.sinks.plpgsql_builder import (
                        UnsupportedFunctionError,
                        build_spec_from_mysql,
                    )

                    try:
                        spec = build_spec_from_mysql(spec)
                    except UnsupportedFunctionError as e:
                        actions.append(
                            Action("functions", "skip", "function", str(e))
                        )
                        continue
                actions.append(
                    Action(
                        "functions",
                        "ddl",
                        spec.name.lower(),
                        emit_plpgsql(spec),
                    )
                )

        if getattr(o, "triggers", False):
            # round 8, beyond-reference: mysqldump includes triggers by
            # DEFAULT, the reference drops them all. Raw MySQL CREATE
            # TRIGGER → trigger function + CREATE TRIGGER (one payload);
            # untranslatable shapes surface as visible skips.
            from mysql2pg_spark.sinks.plpgsql import emit_trigger
            from mysql2pg_spark.sinks.plpgsql_builder import (
                UnsupportedFunctionError,
                build_trigger_from_mysql,
            )

            specs = []
            for raw in self.snapshot.triggers:
                try:
                    specs.append(build_trigger_from_mysql(raw))
                except UnsupportedFunctionError as e:
                    actions.append(
                        Action("triggers", "skip", "trigger", str(e))
                    )
            # FOLLOWS/PRECEDES (round 9): PostgreSQL fires same-event
            # same-timing triggers ALPHABETICALLY — resolve each
            # (table, event, timing) group's MySQL action order and,
            # when any member carries an ordering clause, rename the
            # WHOLE group with sortable tNN_ prefixes (the emitted DDL
            # carries the old→new mapping as a comment; a silent clause
            # drop could reorder effects, a refusal migrated nothing).
            groups: dict[tuple, list] = {}
            for s in specs:
                groups.setdefault(
                    (s.table, s.event, s.timing), []
                ).append(s)
            for group in groups.values():
                ordered, missing = _resolve_trigger_order(group)
                if missing:
                    for s, target in missing:
                        actions.append(Action(
                            "triggers", "skip", s.name.lower(),
                            f"trigger {s.name}: "
                            f"{s.ordering[0]} {target} references a "
                            "trigger not in this migration — ordering "
                            "cannot be enforced, not migrated",
                        ))
                rename = any(s.ordering for s in ordered)
                for i, s in enumerate(ordered, 1):
                    pg_name = (
                        f"t{i:02d}_{s.name.lower()}" if rename else None
                    )
                    actions.append(
                        Action(
                            "triggers",
                            "ddl",
                            s.name.lower(),
                            emit_trigger(s, pg_name=pg_name),
                        )
                    )
        elif self.snapshot.triggers:
            # triggers parsed from the source (mysqldump includes them
            # by DEFAULT) but the sync option is off — surface a visible
            # note instead of silently omitting them (ADVICE r8: dump /
            # duckdb CLI modes hit exactly this; mirrors the
            # skip-don't-drop convention everywhere else).
            actions.append(
                Action(
                    "triggers",
                    "skip",
                    "trigger",
                    f"{len(self.snapshot.triggers)} trigger(s) present in "
                    "source but conversion.options.triggers is false — "
                    "not migrated",
                )
            )

        # CREATE EVENT (round 12; inventoried-as-skip since round 9):
        # the cron-expressible subset — EVERY-n cadence that divides
        # its parent unit — translates to pg_cron `SELECT
        # cron.schedule(…)` DDL; compound BEGIN…END bodies migrate via
        # a synthesized plpgsql procedure + scheduled CALL (the
        # reference never scans events at all). Everything else stays
        # a NAMED skip carrying the parsed schedule, per the
        # refuse-don't-mistranslate convention of the routine plane.
        for raw in self.snapshot.events:
            from mysql2pg_spark.schema.events import (
                event_actions,
                parse_event,
            )

            spec = parse_event(raw)
            ev_name = spec.name.lower() if spec else "?"
            if spec is None:
                mo = re.search(
                    r"(?is)\bEVENT\s+(?:IF\s+NOT\s+EXISTS\s+)?"
                    r"(?:`([^`]+)`|(\w+))",
                    raw,
                )
                if mo:
                    ev_name = (mo.group(1) or mo.group(2)).lower()
            for kind, payload in event_actions(raw):
                actions.append(Action("events", kind, ev_name, payload))

        if o.users:
            for user, grants in self.snapshot.users.items():
                for g in grants:
                    actions.append(Action("users", "ddl", user, g))

        if o.table_privileges:
            for user, table, privs in self.snapshot.table_privileges:
                for g in grant_ddl(self._norm(table), user, privs):
                    actions.append(Action("table_privileges", "ddl", user, g))

        if o.validate_data and o.data:
            for t in tables:
                name = self._norm(t.name)
                actions.append(
                    Action("validate", "check", name,
                           {"type": "count+checksum", "table": name})
                )

        order = {s: i for i, s in enumerate(STAGE_ORDER)}
        actions.sort(key=lambda a: order[a.stage])
        return actions

    # ---- execution -------------------------------------------------------

    # Value-fix column-type triggers (B7/B8). MySQL column_type strings.
    _ZERO_DATE_TYPES = ("date", "datetime", "timestamp")
    _POINT_TYPES = ("point",)
    # round 12: the full geometry family decodes to WKT/EWKT text (the
    # POINT-only decoder previously NULLed every non-point geometry
    # routed through it via the old ("point", "geometry") trigger)
    _GEOM_TYPES = (
        "geometry", "linestring", "polygon", "multipoint",
        "multilinestring", "multipolygon", "geometrycollection",
    )

    def _value_fix_transform(self, t: TableMeta):
        """Default per-table transform: B7 zero-date → NULL on temporal
        columns that arrive as strings (a typed date or timestamp never
        renders as ``0000-00-00``, so it is left as it is), B8 POINT
        decode on geometry columns, then C90 generated columns (ordered
        specs may chain). Returns df → df."""
        from pyspark.sql.types import StringType

        from mysql2pg_spark.operators.generated import apply_generated_columns
        from mysql2pg_spark.sinks.jdbc_sink import (
            decode_mysql_geometry,
            decode_mysql_point,
            normalize_zero_dates,
        )

        def transform(df):
            strings = {
                f.name for f in df.schema if isinstance(f.dataType, StringType)
            }
            for c in t.columns:
                name = self._norm(c.name)
                if name not in df.columns:
                    continue
                ct = c.column_type.lower()
                base = ct.split("(")[0]
                if base in self._ZERO_DATE_TYPES:
                    if name in strings:
                        df = df.withColumn(name, normalize_zero_dates(name))
                elif base in self._POINT_TYPES:
                    df = df.withColumn(name, decode_mysql_point(df[name]))
                elif base in self._GEOM_TYPES:
                    df = df.withColumn(
                        name, decode_mysql_geometry(df[name])
                    )
                elif ct.startswith("tinyint(1)"):
                    # engine carries smallint (MySQL-numeric semantics);
                    # the PG sink column is BOOLEAN
                    df = df.withColumn(name, df[name].cast("boolean"))
            gen = [
                (self._norm(c.name), c.default[len("GENERATED:"):])
                for c in t.columns
                if c.default and c.default.startswith("GENERATED:")
            ]
            return apply_generated_columns(df, gen)

        return transform

    def _sink_frame(self, t: TableMeta, df):
        """The per-table data contract: the source frame of ``t`` as the
        sink writes it. The live, file-backed and offline-export paths
        all write through here, so they cannot disagree on one input.

        1. Column case normalizes first: the DDL, the value-fix matcher
           and the generated-column drop speak normalized identifiers,
           while a dump or parquet source may carry raw case.
        2. The B7/B8/C90 value fixes (``_value_fix_transform``).
        3. Generated columns drop (round 11): the target computes them,
           and PG rejects INSERTs that name them. mysqldump omits their
           values anyway; tab/OUTFILE sources carry values, but the
           recomputation is definitionally identical."""
        df = df.toDF(*[self._norm(c) for c in df.columns])
        df = self._value_fix_transform(t)(df)
        gen = [
            self._norm(c.name) for c in t.columns
            if getattr(c, "generated_expr", None)
        ]
        return df.drop(*gen) if gen else df

    def _default_sink_writer(self):
        """Live sink selection (B5): COPY protocol when
        ``options.use_copy_protocol`` (the reference's hot path, pgx
        CopyFrom — postgres/connection.go:557,571), else JDBC batch
        INSERT with ``reWriteBatchedInserts``."""
        if self.cfg.options.use_copy_protocol:
            from mysql2pg_spark.sinks.copy_sink import (
                CopySinkConfig,
                make_copy_writer,
            )

            return make_copy_writer(
                CopySinkConfig(
                    dsn=self.cfg.postgresql.dsn,
                    batch_rows=self.cfg.limits.batch_insert_size,
                )
            )
        from mysql2pg_spark.sinks.jdbc_sink import JdbcSinkConfig, write_jdbc

        sink_cfg = JdbcSinkConfig(
            url=self.cfg.postgresql.jdbc_url,
            user=self.cfg.postgresql.username,
            password=self.cfg.postgresql.password,
            truncate_before_sync=self.cfg.options.truncate_before_sync,
        )

        def sink_writer(df, table):
            write_jdbc(df, sink_cfg, table)

        sink_writer.sink_kind = "jdbc"
        return sink_writer

    def execute(
        self,
        spark,
        pg_conn,
        source_reader=None,
        sink_writer=None,
        dest_reader=None,
        logger=None,
        target_dialect: str = "postgres",
    ) -> dict:
        """Run the plan against live endpoints, stage order and
        keep-going error semantics per the reference's manager
        (manager.go:88-268: a failed table is recorded and the run
        continues; stages execute strictly in STAGE_ORDER).

        Every server touchpoint is an injectable seam, so the full
        control flow unit-tests with fakes and runs live with the JDBC
        defaults:

        - ``pg_conn``: DB-API connection — DDL, grants, view/index/
          function statements execute through a cursor, each committed
          on success and rolled back on failure, so a failed statement
          never discards earlier ones.
        - ``source_reader(spark, read_plan) -> DataFrame``: defaults to
          ``sources.jdbc.read_jdbc`` with the MySQL config.
        - ``sink_writer(df, table) -> None``: defaults to
          ``sinks.jdbc_sink.write_jdbc`` with the PG config.
        - ``dest_reader(spark, table) -> DataFrame``: PG-side read-back
          for D3 validation; defaults to ``spark.read.jdbc``.
        - ``logger``: a ``runlog.RunLogger`` (D4/D5); defaults to one
          writing under ``./logs`` of the current directory, like the
          reference (manager.go:1694-1737).

        File-backed runs (the CLI's local/dump modes, the bench) use
        the same control flow: ``tables.parquet_endpoints`` supplies
        the three data seams and ``sinks.ddl.RecordingConnection``
        records the DDL in place of a server.

        Data reads fan out on a thread pool of ``limits.concurrency`` —
        per-table JDBC latency overlap; within-table parallelism is the
        partitioned read plan's job. Between read and write each table
        passes through ``_sink_frame`` (normalized column case, B7/B8/C90
        value fixes, generated columns dropped).

        Returns {"ddl": n_executed, "synced": {table: rows},
        "validation": {table: verdict}, "stage_sec": {stage: seconds},
        "log": logger.summary()}.
        """
        from concurrent.futures import ThreadPoolExecutor

        from mysql2pg_spark.operators.validate import (
            checksum_validation,
            get_observation,
            observe_checksum,
            table_checksum,
            verdict,
        )
        from mysql2pg_spark.runlog import RunLogger
        from mysql2pg_spark.sinks.ddl import adapt_ddl

        if logger is None:
            logger = RunLogger("logs", echo=False)
        if source_reader is None:
            from mysql2pg_spark.sources.jdbc import JdbcSourceConfig, read_jdbc

            src_cfg = JdbcSourceConfig(
                url=self.cfg.mysql.jdbc_url,
                user=self.cfg.mysql.username,
                password=self.cfg.mysql.password,
                fetchsize=self.cfg.limits.max_rows_per_batch,
            )
            source_reader = lambda sp, plan: read_jdbc(sp, src_cfg, plan)  # noqa: E731
        if sink_writer is None:
            sink_writer = self._default_sink_writer()
        if dest_reader is None:
            dest_reader = lambda sp, table: sp.read.jdbc(  # noqa: E731
                self.cfg.postgresql.jdbc_url,
                table,
                properties={
                    "user": self.cfg.postgresql.username,
                    "password": self.cfg.postgresql.password,
                },
            )

        # D6 test_only: probe both endpoints, run nothing (config.go —
        # the reference validates connections and exits).
        if self.cfg.mysql.test_only or self.cfg.postgresql.test_only:
            probe: dict[str, bool] = {}
            versions: dict[str, str] = {}  # A16 (mysql GetVersion,
            # mysql/connection.go:258-266; PG analog :pg side)
            try:
                cur = pg_conn.cursor()
                cur.execute("SELECT version()")
                row = cur.fetchone() if hasattr(cur, "fetchone") else None
                if row:
                    versions["postgresql"] = str(row[0])
                probe["postgresql"] = True
            except Exception as e:
                probe["postgresql"] = False
                logger.table_error("test_only", "postgresql", e)
            try:
                first = self._selected_tables()
                if first:
                    source_reader(
                        spark, {"table": first[0].name}
                    ).limit(1).count()
                try:
                    row = source_reader(
                        spark, {"table": "(SELECT VERSION() AS version) v"}
                    ).first()
                    if row is not None:
                        versions["mysql"] = str(row[0])
                except Exception:
                    pass  # version is informational; reachability decided above
                probe["mysql"] = True
            except Exception as e:
                probe["mysql"] = False
                logger.table_error("test_only", "mysql", e)
            logger.info(f"test_only probe: {probe} versions: {versions}")
            return {
                "test_only": probe,
                "versions": versions,
                "log": logger.summary(),
            }

        actions = self.plan(target_dialect)
        by_stage: dict[str, list[Action]] = {}
        for a in actions:
            by_stage.setdefault(a.stage, []).append(a)
        meta_by_name = {self._norm(t.name): t for t in self._selected_tables()}

        ddl_done = 0
        synced: dict[str, int] = {}
        validation: dict[str, dict] = {}
        read_targets: dict[str, str] = {}  # normalized target → source table
        # target → (checksum row dict, observed columns): source-side D3
        # checksums captured via df.observe() during the sink write, so
        # the validate stage never re-scans the source (one scan/table).
        src_checksums: dict[str, tuple[dict, list[str]]] = {}
        # per-stage wall seconds (round 9: the bench artifact carries
        # the breakdown so a new-stage regression is attributable
        # instead of one opaque pipeline number)
        stage_sec: dict[str, float] = {}

        def run_ddl(sql: str) -> None:
            """Execute one DDL statement and commit it; on failure roll
            back and re-raise. The commit is per statement: on a
            non-autocommit DB-API engine a LATER failure in the stage
            rolls back the whole open transaction, which would silently
            discard every earlier successful-but-uncommitted DDL. The
            rollback matters as much: a failed statement poisons the
            transaction (psycopg2 raises InFailedSqlTransaction on
            EVERY later statement until rollback), so without it one
            bad DDL would fail the C33 retry and the rest of the stage
            on real PostgreSQL."""
            nonlocal ddl_done
            try:
                pg_conn.cursor().execute(sql)
                pg_conn.commit()
            except Exception:
                _rollback_quietly(pg_conn)
                raise
            ddl_done += 1

        import time as _time

        for stage in STAGE_ORDER:
            stage_actions = by_stage.get(stage, [])
            if not stage_actions:
                continue
            logger.stage_start(stage)
            _stage_t0 = _time.perf_counter()

            # named skips (events, partition schemes, refused routines)
            # reach the run log — a skip that only exists in plan()
            # output is invisible on an execute()-driven migration
            for a in stage_actions:
                if a.kind == "skip":
                    logger.info(
                        f"skip [{stage}] {a.target}: {a.payload[:200]}"
                    )
                elif a.kind == "note":
                    # migrated WITH a documented divergence (e.g. HASH
                    # partition row placement) — logged, not a skip
                    logger.info(
                        f"note [{stage}] {a.target}: {a.payload[:200]}"
                    )

            for a in (x for x in stage_actions if x.kind == "ddl"):
                try:
                    # target-dialect seam (sinks.ddl.adapt_ddl): plan()
                    # emits PostgreSQL; an embedded ANSI target gets the
                    # few PG-isms rewritten, and statements with no
                    # analog there (GRANT family) are logged skips.
                    payload = adapt_ddl(a.payload, target_dialect)
                    if payload is None:
                        logger.info(
                            f"skip ({target_dialect} has no analog): "
                            f"{a.payload[:80]}"
                        )
                        continue
                    run_ddl(payload)
                except Exception as e:  # keep going, record (manager.go)
                    # C33: a strict engine rejects MySQL's loosely-typed
                    # mixed COALESCE/GREATEST/LEAST; retry the view with
                    # their arguments unified (the reference's
                    # sync_viewddl.go:377-383 hack, applied here only
                    # when the engine actually reported the mismatch)
                    retry = None
                    if stage == "view" and re.search(
                        r"coalesce|greatest|least", str(e), re.I
                    ):
                        retry = self._view_unify_fallback(
                            a.target, target_dialect
                        )
                    if retry is not None:
                        try:
                            run_ddl(adapt_ddl(retry, target_dialect))
                            logger.info(
                                f"view {a.target}: mixed-type arguments "
                                "unified on retry (C33)"
                            )
                            continue
                        except Exception as e2:
                            e = e2
                    logger.table_error(stage, a.target, e)

            reads = [a for a in stage_actions if a.kind == "read_plan"]
            if reads:

                def sync_one(a: Action) -> tuple[str, int]:
                    # D4 progress surface (sync_data.go:279-310): one
                    # line per table at start; Spark UI carries the
                    # within-table partition progress.
                    logger.info(
                        f"sync {a.target}: start "
                        f"({a.payload.get('numPartitions', 1)} partitions)"
                    )
                    df = self._sink_frame(
                        meta_by_name[a.target], source_reader(spark, a.payload)
                    )
                    # D3 source checksum rides the write action itself via
                    # df.observe() — the source is scanned exactly ONCE.
                    df, obs, obs_cols = observe_checksum(
                        df, f"checksum_{a.target}"
                    )
                    sink_writer(df, a.target)
                    row = get_observation(obs)
                    if row is not None:
                        src_checksums[a.target] = (row, obs_cols)
                        # synced count = the observation that RODE the
                        # write (rows actually pushed through the sink,
                        # zero extra jobs — round 12: the per-table
                        # dest_reader().count() here was ~0.4 s of pure
                        # fixed cost on tiny tables). Destination
                        # divergence is still caught: the validate
                        # stage compares n_rows + checksum against the
                        # dest read-back.
                        return a.target, int(row["n_rows"])
                    # the sink never ran an action on df (some test
                    # fakes): count from the DESTINATION, not a second
                    # source scan — df.count() would re-run the whole
                    # JDBC read (doubling source load) and could
                    # disagree with what was written if the source
                    # moved between scans.
                    return a.target, dest_reader(spark, a.target).count()

                with ThreadPoolExecutor(self.cfg.limits.concurrency) as pool:
                    futures = {
                        pool.submit(sync_one, a): a for a in reads
                    }
                    for fut, a in futures.items():
                        read_targets[a.target] = a.payload["table"]
                        try:
                            name, n = fut.result()
                            synced[name] = n
                            logger.info(f"synced {name}: {n} rows")
                        except Exception as e:
                            logger.table_error(stage, a.target, e)

            # Observed-path destination checksums ride ONE job: each
            # table's read-back carries its checksum as an Observation
            # and one noop write scans their union. The per-table
            # collect() was ~0.7 s of fixed Spark-job cost per table
            # (round 12), and a union of per-table aggregates still ran
            # one shuffle-map job per table under AQE. A failure falls
            # back to the per-table loop so keep-going error semantics
            # are preserved.
            observed_checks: list[tuple[Action, object]] = []
            fallback_checks: list[tuple[Action, object]] = []
            for a in (x for x in stage_actions if x.kind == "check"):
                try:
                    dst = dest_reader(spark, a.target)
                    observed = src_checksums.get(a.target)
                    if observed is not None and set(observed[1]) <= set(
                        dst.columns
                    ):
                        observed_checks.append((a, dst))
                    else:
                        fallback_checks.append((a, dst))
                except Exception as e:
                    logger.table_error(stage, a.target, e)
            if observed_checks:
                try:
                    from functools import reduce

                    frames, observations = [], []
                    for a, dst in observed_checks:
                        df, obs, _ = observe_checksum(
                            dst.select(*src_checksums[a.target][1]),
                            f"dst_checksum_{a.target}",
                        )
                        frames.append(df.select())
                        observations.append(obs)
                    reduce(lambda x, y: x.union(y), frames).write.format(
                        "noop"
                    ).mode("overwrite").save()
                    got = [get_observation(obs) for obs in observations]
                    if None in got:
                        raise RuntimeError("a read-back checksum is missing")
                    for (a, _dst), row in zip(observed_checks, got):
                        validation[a.target] = verdict(
                            src_checksums[a.target][0], row
                        )
                except Exception:
                    # one bad table fails the whole scan: re-run per
                    # table so every OTHER table still validates and
                    # only the bad one errors
                    for a, dst in observed_checks:
                        try:
                            cols = src_checksums[a.target][1]
                            validation[a.target] = verdict(
                                src_checksums[a.target][0],
                                table_checksum(dst.select(*cols))
                                .collect()[0]
                                .asDict(),
                            )
                        except Exception as e:
                            logger.table_error(stage, a.target, e)
            for a, dst in fallback_checks:
                try:
                    # Fallback (table skipped this run / fake sink): full
                    # re-read of the source through the same sink frame
                    # the data stage writes, restricted to the shared
                    # column set, else a correct sync reports
                    # consistent=false.
                    src = self._sink_frame(
                        meta_by_name[a.target],
                        source_reader(
                            spark,
                            {"table": read_targets.get(a.target, a.target)},
                        ),
                    )
                    shared = [c for c in src.columns if c in set(dst.columns)]
                    validation[a.target] = checksum_validation(
                        src.select(*shared), dst.select(*shared)
                    )
                except Exception as e:
                    logger.table_error(stage, a.target, e)

            logger.stage_end(stage, f"{len(stage_actions)} actions")
            stage_sec[stage] = round(_time.perf_counter() - _stage_t0, 3)

        return {
            "ddl": ddl_done,
            "synced": synced,
            "validation": validation,
            "stage_sec": stage_sec,
            "log": logger.summary(),
        }
