"""PostgreSQL sink-DDL emitter (SURVEY §2.C.8: C86-C97 re-expressed).

Generates CREATE TABLE / INDEX / COMMENT / GRANT statements from the
engine's StructType + metadata — the catalog-driven replacement for the
reference's CREATE-TABLE-text rewriting (ConvertTableDDL,
sync_tableddl.go:684-972). Execution happens driver-side over a plain
DB-API connection (not a Spark concern); this module only *builds* SQL.

Improvements over the reference, recorded for parity review:
- composite PRIMARY KEYs are emitted (the reference silently drops them,
  sync_tableddl.go:915-924 / SURVEY C92);
- identity columns use the modern GENERATED ... AS IDENTITY form rather
  than SERIAL pseudo-types when `identity_style='identity'`.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql.types import StructType

from mysql2pg_spark.schema.identifiers import (
    PG_MAX_IDENTIFIER,
    pg_index_name,
    quote_pg,
)


def _cap_identifier(name: str) -> str:
    """Deterministic 63-byte cap: over-long names keep a distinguishing
    md5 suffix instead of the blind truncation PG itself would apply
    (which can make two distinct long names collide)."""
    if len(name.encode("utf-8")) <= PG_MAX_IDENTIFIER:
        return name
    import hashlib

    suffix = "_" + hashlib.md5(name.encode("utf-8")).hexdigest()[:8]
    return name[: PG_MAX_IDENTIFIER - len(suffix)] + suffix


@dataclass
class IndexSpec:
    """IndexInfo analog (metadata.go:30-35). ``kind`` carries MySQL's
    index class — ``btree`` (default), ``fulltext`` or ``spatial`` —
    so the emitter can map each to its PostgreSQL access method
    instead of the parser silently dropping non-btree keys (round 11:
    FULLTEXT/SPATIAL KEY lines vanished from dump snapshots)."""

    name: str
    columns: list[str]
    unique: bool = False
    kind: str = "btree"
    # MySQL 8 functional index (round 15): ``columns`` is empty and the
    # key expression rides here — information_schema.statistics reports
    # these with column_name NULL and the expression in EXPRESSION. The
    # planner surfaces them as documented skips (same policy as the
    # ALTER TABLE form in sources/dumpfile.py), never a silent drop.
    expression: str | None = None


@dataclass
class FkSpec:
    """One FOREIGN KEY constraint (round 8, beyond-reference: the
    reference SKIPS every FOREIGN KEY line — sync_tableddl.go:738
    `continue` — so its migrated schemas lose referential integrity).
    MySQL's referential actions (CASCADE / SET NULL / SET DEFAULT /
    RESTRICT / NO ACTION) all exist verbatim in PostgreSQL."""

    name: str | None
    columns: list[str]
    ref_table: str
    ref_columns: list[str]
    on_delete: str | None = None
    on_update: str | None = None


_NUMERIC_DEFAULT = __import__("re").compile(
    r"^[-+]?\d+(\.\d+)?([eE][-+]?\d+)?$"
)

#: PostgreSQL functions legal (and common) inside a column DEFAULT —
#: the whitelist the rewritten expression-default is scanned against.
#: Anything outside it means the MySQL expression has no faithful PG
#: spelling and the default must be DROPPED VISIBLY, not emitted raw
#: (ADVICE r12: DEFAULT (uuid_short()) etc. fails CREATE TABLE on a
#: real PostgreSQL).
_PG_DEFAULT_FNS = frozenset({
    "gen_random_uuid", "now", "random", "currval", "nextval",
    "current_timestamp", "current_date", "current_time",
    "localtimestamp", "localtime", "current_setting", "txid_current",
    "floor", "ceil", "ceiling", "round", "trunc", "abs", "sign",
    "mod", "power", "sqrt", "exp", "ln", "log", "pi",
    "upper", "lower", "length", "char_length", "substr", "substring",
    "trim", "btrim", "ltrim", "rtrim", "concat", "replace", "left",
    "right", "lpad", "rpad", "chr", "ascii", "md5", "split_part",
    "coalesce", "nullif", "greatest", "least", "extract",
    "to_char", "to_date", "to_timestamp", "date_trunc", "date_part",
    "cast",
})


def pg_expr_default(payload: str) -> tuple[str | None, str | None]:
    """MySQL 8 expression default (the parenthesized payload behind the
    dump parser's ``EXPR:`` provenance marker) → PG spelling, or
    ``(None, reason)`` when a function with no PostgreSQL analog
    remains after the rewrite (ADVICE r12: the raw MySQL text —
    ``(uuid())``, ``(now(3))``, backticked columns — was emitted
    verbatim and failed on a real PG; tabexport's MySQL round-trip
    path deliberately keeps the original spelling). The spelling is
    the one translator's (``uuid()``, ``now(3)`` and unquoted
    ``INTERVAL 1 DAY`` included); this function only gates it."""
    import re

    from mysql2pg_spark.dialect.ansi import transpile_mysql_ansi
    from mysql2pg_spark.dialect.transpile import mask_literals

    pg = transpile_mysql_ansi(payload)
    masked, _lits = mask_literals(pg)
    for mo in re.finditer(r"(?i)\b([a-z_][a-z0-9_]*)\s*\(", masked):
        fn = mo.group(1).lower()
        if fn not in _PG_DEFAULT_FNS:
            return None, (
                f"expression default calls {fn}(), which has no "
                "PostgreSQL analog in a DEFAULT — default dropped "
                "(rows migrate with their explicit values)"
            )
    return pg, None


def default_sql(v) -> str | None:
    """Render a column default as a SQL literal: numerics, keywords and
    function calls pass through; anything else is quoted text. All
    producers (catalog scans, dump parsing) deliver defaults UNQUOTED
    ('' for an empty string default) — there is deliberately NO
    already-quoted passthrough, since a VALUE that itself starts and
    ends with an apostrophe (e.g. the three-quote default ``'''x'''``)
    must still be quoted, not emitted raw. ``EXPR:``-marked MySQL 8
    expression defaults rewrite to PG dialect; ``None`` means the
    expression has no faithful PG spelling and the caller must DROP
    the default visibly (see :func:`pg_expr_default`)."""
    s = str(v)
    if s.startswith("EXPR:"):
        pg, _why = pg_expr_default(s[len("EXPR:"):])
        return pg
    up = s.upper()
    if up.endswith("()") and not up.startswith("CURRENT_"):
        # live-catalog function defaults arrive unmarked (now(),
        # uuid(), uuid_short()) — same PG-analog gate as EXPR:
        pg, _why = pg_expr_default(s)
        return pg
    if (
        _NUMERIC_DEFAULT.match(s)
        or up in ("NULL", "TRUE", "FALSE")
        or up.startswith("CURRENT_")
    ):
        return s
    return "'" + s.replace("'", "''") + "'"


def create_table_ddl(
    table: str,
    schema: StructType,
    primary_key: list[str] | None = None,
    checks: list[str] | None = None,
    if_not_exists: bool = True,
    identity_style: str = "serial",
    temporary: bool = False,
    partition_by: str | None = None,
    notes: list[str] | None = None,
) -> str:
    """CREATE TABLE from engine schema. Column PG types come from
    StructField.metadata['pg_type'] (set by schema_map.struct_field_for);
    defaults and NOT NULL are carried from metadata. A default with no
    faithful PG spelling (``default_sql`` → None) is DROPPED and the
    reason appended to ``notes`` when the caller passes a list
    (ADVICE r12 — previously the raw MySQL expression was emitted and
    failed on a real PostgreSQL)."""
    # PG generated expressions, chained references expanded: PG (and
    # DuckDB) forbid a generated column referencing ANOTHER generated
    # column (MySQL allows it, e.g. c3 AS (c1 + c2) where c2 is itself
    # generated), so references substitute the referenced expression
    # inline — same semantics, legal everywhere (round 11)
    import re as _re

    gen_pg: dict[str, str] = {}
    for f in schema.fields:
        expr = (f.metadata or {}).get("generated_mysql")
        if expr:
            from mysql2pg_spark.dialect.ansi import transpile_mysql_ansi

            gen_pg[f.name] = transpile_mysql_ansi(expr)

    def _inline_refs(expr: str, skip: str) -> str:
        # literal-masked so a column name inside a string can't be
        # rewritten; the (?!\s*\() lookahead keeps a same-named
        # FUNCTION call untouched (a column ref is never called)
        from mysql2pg_spark.dialect.transpile import (
            mask_literals,
            unmask_literals,
        )

        masked, lits = mask_literals(expr)
        for other, oexpr in gen_pg.items():
            if other == skip:
                continue
            # both spellings a rewritten expression can carry: the
            # quoted form ("c2", from backticks) and the bare word
            masked = masked.replace(f'"{other}"', f"({oexpr})")

            def _bare(mo: _re.Match, _e=oexpr, _s=masked) -> str:
                # cast-position guard (ADVICE r11): a generated column
                # named like a type keyword (`date`) must NOT be
                # rewritten where the word is a TYPE — after `AS` in
                # CAST(x AS date) or after a `::` cast
                pre = _s[: mo.start()].rstrip()
                if pre.endswith("::") or _re.search(r"(?i)\bAS$", pre):
                    return mo.group(0)
                return f"({_e})"

            masked = _re.sub(
                rf"(?i)(?<![\w.\"]){_re.escape(other)}(?![\w\"])(?!\s*\()",
                _bare,
                masked,
            )
        return unmask_literals(masked, lits)

    for _ in range(len(gen_pg)):
        new_map = {n: _inline_refs(e, n) for n, e in gen_pg.items()}
        if new_map == gen_pg:
            break
        gen_pg = new_map

    cols = []
    for f in schema.fields:
        md = f.metadata or {}
        pg_type = md.get("pg_type", "TEXT")
        if identity_style == "identity" and pg_type in (
            "SMALLSERIAL",
            "SERIAL",
            "BIGSERIAL",
        ):
            base = {"SMALLSERIAL": "SMALLINT", "SERIAL": "INTEGER",
                    "BIGSERIAL": "BIGINT"}[pg_type]
            pg_type = f"{base} GENERATED BY DEFAULT AS IDENTITY"
        parts = [quote_pg(f.name), pg_type]
        if f.name in gen_pg:
            # MySQL VIRTUAL maps to STORED too: PG has no virtual
            # generated columns (v17); the expression — and therefore
            # every read — is identical, only storage differs
            parts.append(f"GENERATED ALWAYS AS ({gen_pg[f.name]}) STORED")
        if not f.nullable:
            parts.append("NOT NULL")
        if "default" in md and f.name not in gen_pg:
            dsql = default_sql(md["default"])
            if dsql is not None:
                parts.append(f"DEFAULT {dsql}")
            elif notes is not None:
                s = str(md["default"])
                payload = s[len("EXPR:"):] if s.startswith("EXPR:") else s
                _, why = pg_expr_default(payload)
                notes.append(
                    f"table {table} column {f.name}: MySQL default "
                    f"{payload} — {why}"
                )
        cols.append("  " + " ".join(parts))
    if primary_key:
        pk = ", ".join(quote_pg(c) for c in primary_key)
        cols.append(f"  PRIMARY KEY ({pk})")
    for check in checks or []:
        cols.append(f"  CHECK ({check})")
    ine = "IF NOT EXISTS " if if_not_exists else ""
    body = ",\n".join(cols)
    kw = "CREATE TEMP TABLE" if temporary else "CREATE TABLE"
    ddl = f"{kw} {ine}{quote_pg(table)} (\n{body}\n)"
    if partition_by:
        # PG declarative partitioning (round 12): caller supplies the
        # full "PARTITION BY RANGE (…)" clause from schema/partitioning
        ddl += f" {partition_by}"
    return ddl


def _fully_parenthesized(s: str) -> bool:
    if not (s.startswith("(") and s.endswith(")")):
        return False
    depth = 0
    for i, c in enumerate(s):
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i == len(s) - 1
    return False


def functional_index_ddl(table: str, index: IndexSpec) -> str | None:
    """CREATE INDEX for a MySQL 8 functional (or MIXED column +
    expression) index — PostgreSQL has native expression indexes, so
    the key expression TRANSLATES instead of the index being dropped
    (round 15, beyond-reference: the reference has no functional-index
    pass at all; this engine previously surfaced a documented skip).
    The ordered key parts come from ``index.expression``: plain column
    parts (optionally backticked, prefix lengths dropped — C93 policy)
    quote directly; each expression part is rewritten MySQL→PG and
    must pass the emitted-DDL expression grammar
    (``ddl_lint.check_expression``); any part that does not — e.g. a
    multi-valued ``CAST(… AS UNSIGNED ARRAY)`` index, whose PG analog
    is a GIN/jsonb design decision, not a rewrite — returns None and
    the planner keeps the documented skip. FULLTEXT/SPATIAL functional
    keys also decline (their access-method mapping assumes plain
    columns)."""
    if index.columns or not index.expression or index.kind != "btree":
        return None
    from mysql2pg_spark.schema.ddl_lint import check_expression
    from mysql2pg_spark.schema.sqltext import (
        plain_index_columns,
        split_top_level,
    )
    from mysql2pg_spark.dialect.ansi import transpile_mysql_ansi

    pg_parts = []
    for part in split_top_level(index.expression):
        plain = plain_index_columns(part)
        if plain is not None:
            # a plain column part of a mixed key — no parens, no
            # rewrite (review r15: mixed keys previously migrated as
            # a stricter plain-column index)
            pg_parts.append(quote_pg(plain[0]))
            continue
        pg = transpile_mysql_ansi(part)
        if check_expression(pg):
            return None
        # PG's grammar wants each expression key part parenthesized —
        # exactly once (collapse the rewrite's redundant outer parens)
        while _fully_parenthesized(pg) and _fully_parenthesized(pg[1:-1]):
            pg = pg[1:-1]
        pg_parts.append(pg if _fully_parenthesized(pg) else f"({pg})")
    if not pg_parts:
        return None
    name = pg_index_name(table, index.name)
    unique = "UNIQUE " if index.unique else ""
    return (
        f"CREATE {unique}INDEX IF NOT EXISTS {quote_pg(name)} "
        f"ON {quote_pg(table)} ({', '.join(pg_parts)})"
    )


def create_index_ddl(table: str, index: IndexSpec) -> str:
    """CREATE [UNIQUE] INDEX with table-name prefix + 63-byte truncation
    (sync_indexes.go:11-87). Functional/prefix indexes degrade to plain
    column indexes upstream (the caller passes plain columns); MySQL's
    non-btree classes map to their standard PostgreSQL access methods
    (round 11 — previously dropped): FULLTEXT → GIN over
    ``to_tsvector('simple', …)`` (the canonical migration; MATCH …
    AGAINST queries still need the tsquery rewrite), SPATIAL → GiST
    (native for point/box/etc; PostGIS geometries use the same
    syntax)."""
    name = pg_index_name(table, index.name)
    if index.kind == "fulltext":
        vec = " || ' ' || ".join(
            f"coalesce({quote_pg(c)}::text, '')" for c in index.columns
        )
        return (
            f"CREATE INDEX IF NOT EXISTS {quote_pg(name)} "
            f"ON {quote_pg(table)} USING GIN "
            f"(to_tsvector('simple', {vec}))"
        )
    if index.kind == "spatial":
        cols = ", ".join(quote_pg(c) for c in index.columns)
        return (
            f"CREATE INDEX IF NOT EXISTS {quote_pg(name)} "
            f"ON {quote_pg(table)} USING GIST ({cols})"
        )
    unique = "UNIQUE " if index.unique else ""
    cols = ", ".join(quote_pg(c) for c in index.columns)
    return (
        f"CREATE {unique}INDEX IF NOT EXISTS {quote_pg(name)} "
        f"ON {quote_pg(table)} ({cols})"
    )


def comment_ddl(table: str, schema: StructType, table_comment: str | None = None) -> list[str]:
    """COMMENT ON TABLE/COLUMN statements (manager.go:1321-1414); comments
    come from StructField.metadata['comment']. Quotes are escaped by
    doubling."""
    out = []

    def esc(s: str) -> str:
        return s.replace("'", "''")

    if table_comment:
        out.append(f"COMMENT ON TABLE {quote_pg(table)} IS '{esc(table_comment)}'")
    for f in schema.fields:
        c = (f.metadata or {}).get("comment")
        if c:
            out.append(
                f"COMMENT ON COLUMN {quote_pg(table)}.{quote_pg(f.name)} "
                f"IS '{esc(c)}'"
            )
    return out


# MySQL privilege keyword → PG grant keyword (sync_table_privilege.go:12-51).
_PRIV_MAP = {
    "select": "SELECT",
    "insert": "INSERT",
    "update": "UPDATE",
    "delete": "DELETE",
    "all": "ALL",
}


def grant_ddl(table: str, user: str, privileges: str) -> list[str]:
    """Per-table GRANTs from a MySQL Table_priv string like
    'Select,Insert' (C97). Unknown privileges are skipped."""
    privs = [p.strip().lower() for p in privileges.split(",") if p.strip()]
    mapped = [_PRIV_MAP[p] for p in privs if p in _PRIV_MAP]
    if "ALL" in mapped:
        mapped = ["ALL"]
    if not mapped:
        return []
    return [
        f"GRANT {', '.join(mapped)} ON {quote_pg(table)} TO {quote_pg(user)}"
    ]


# ---- target-dialect seam -------------------------------------------------
# The emitter speaks PostgreSQL (the reference's only target). Embedded
# ANSI engines accept almost all of it; the seam below adapts the few
# PG-isms so the ENTIRE migration control flow (orchestrator.execute:
# real DDL execution, real batched inserts, real read-back validation)
# can run end-to-end against DuckDB inside the test container — the
# closest available stand-in for a live server. The PG-specific forms
# (SERIAL/IDENTITY, GRANT/ROLE) stay golden-text-tested in their
# original spelling.

import re as _re

_SERIAL_BASE = {
    "SMALLSERIAL": "SMALLINT",
    "SERIAL": "INTEGER",
    "BIGSERIAL": "BIGINT",
}


def adapt_ddl(sql: str, dialect: str = "postgres") -> str | None:
    """Rewrite one emitted DDL statement for ``dialect``; ``None`` means
    the statement has no analog there and must be skipped (recorded by
    the caller). ``postgres`` is the identity."""
    if dialect == "postgres":
        return sql
    if dialect != "duckdb":
        raise ValueError(f"unknown target dialect {dialect!r}")
    head = sql.lstrip().upper()
    if head.startswith(("GRANT ", "REVOKE ", "CREATE ROLE", "CREATE USER",
                        "ALTER ROLE", "ALTER USER")):
        return None  # embedded engine: no privilege system
    if head.startswith(("CREATE OR REPLACE FUNCTION",
                        "CREATE OR REPLACE PROCEDURE")):
        return None  # plpgsql bodies have no DuckDB analog — visible skip
    if head.startswith("SELECT SETVAL("):
        return None  # DuckDB has no serial-sequence catalog to resync
    if head.startswith(("SELECT CRON.SCHEDULE(", "UPDATE CRON.JOB ")):
        return None  # pg_cron is a PG extension: event jobs skip VISIBLY
    if head.startswith("DO $") and "CRON." in head:
        # round 14: DISABLE'd events schedule-and-deactivate atomically
        # in one DO block — same pg_cron skip as the plain forms
        return None
    if head.startswith("ALTER TABLE") and "ADD CONSTRAINT" in head:
        # DuckDB has no ALTER TABLE … ADD CONSTRAINT (FK and CHECK)
        return None
    if head.startswith("CREATE INDEX") and " USING G" in head:
        return None  # GIN/GiST access methods: no DuckDB analog
    if head.startswith("--"):
        return None  # comment-only payload (e.g. a *.* grant note)
    if head.startswith("CREATE TABLE") and " PARTITION OF " in head:
        # DuckDB has no declarative partitioning: children skip VISIBLY
        # and data lands through the (unpartitioned) parent — the PG
        # spelling stays golden-pinned
        return None
    # mask string literals first: a comment/default containing POINT or
    # TIMESTAMP(3) must not be rewritten as a type
    from mysql2pg_spark.dialect.transpile import (
        mask_literals,
        unmask_literals,
    )

    out, _lits = mask_literals(sql)
    for serial, base in _SERIAL_BASE.items():
        out = _re.sub(rf"\b{serial}\b", base, out)
    # DuckDB rejects fractional-second precision modifiers on temporals
    out = _re.sub(r"\b(TIME|TIMESTAMP|TIMESTAMPTZ)\s*\(\d+\)", r"\1", out)
    # PG geometric/bit spellings DuckDB lacks: the engine carries POINT
    # as "(x,y)" text (B8 decode) and bit strings as BIT
    out = _re.sub(r"\bPOINT\b", "TEXT", out)
    out = _re.sub(r"\bBIT\s+VARYING\b", "BIT", out)

    # MySQL decimals go up to (65,30); DuckDB caps width at 38 — wider
    # columns degrade to DOUBLE (range over exactness, like the engine's
    # own Spark-side cap)
    def _clamp_decimal(mo: _re.Match) -> str:
        return "DOUBLE" if int(mo.group(2)) > 38 else mo.group(0)

    out = _re.sub(
        r"\b(DECIMAL|NUMERIC)\s*\((\d+)(?:,\s*\d+)?\)", _clamp_decimal, out
    )
    out = out.replace(" GENERATED BY DEFAULT AS IDENTITY", "")
    # declarative-partitioning parent clause (statement-final on the
    # emitted CREATE TABLE; literals are masked): DuckDB creates the
    # parent unpartitioned — the PARTITION OF children were skipped
    # above, so every row routes through the parent anyway
    out = _re.sub(r"(?is)\)\s*PARTITION\s+BY\s.*$", ")", out)
    # DuckDB generated columns are VIRTUAL-only: drop the STORED
    # keyword (the expression — and every read — is identical). In the
    # emitted PG DDL the token ") STORED" occurs only after a generated
    # expression (literals are masked here), so a flat sub is exact.
    out = _re.sub(r"\)\s+STORED\b", ")", out)
    return unmask_literals(out, _lits)


class RecordingConnection:
    """DB-API connection for a run with no SQL target (file-backed
    migrations): every statement ``execute()`` sends is kept, in order,
    in ``statements`` and nothing runs it. Under the default
    ``postgres`` target ``adapt_ddl`` is the identity, so the record is
    the PostgreSQL script the plan would have executed."""

    def __init__(self):
        self.statements: list[str] = []

    def cursor(self):
        return self

    def execute(self, sql: str) -> None:
        self.statements.append(sql)

    def commit(self) -> None:
        pass

    def rollback(self) -> None:
        pass


def add_fk_ddl(table: str, fk: "FkSpec") -> str:
    """``ALTER TABLE … ADD CONSTRAINT … FOREIGN KEY`` — emitted in its
    own stage AFTER the data load (adding FKs before bulk load would
    force a parent-first table ordering and per-row checks; after it,
    one set-based validation per constraint). Unnamed constraints get
    the MySQL-convention ``<table>_ibfk`` prefix so reruns stay
    idempotent under skip-existing. Names are capped at PG's 63-byte
    identifier limit with a deterministic hash suffix — PG would
    silently truncate a longer name, so the created constraint would
    differ from the emitted one (breaking skip-existing reruns) and two
    long composite FKs could truncate to COLLIDING names (ADVICE r8)."""
    name = _cap_identifier(fk.name or f"{table}_ibfk_{'_'.join(fk.columns)}")
    cols = ", ".join(quote_pg(c) for c in fk.columns)
    rcols = ", ".join(quote_pg(c) for c in fk.ref_columns)
    ddl = (
        f"ALTER TABLE {quote_pg(table)} ADD CONSTRAINT {quote_pg(name)} "
        f"FOREIGN KEY ({cols}) REFERENCES {quote_pg(fk.ref_table)} ({rcols})"
    )
    if fk.on_delete:
        ddl += f" ON DELETE {fk.on_delete.upper()}"
    if fk.on_update:
        ddl += f" ON UPDATE {fk.on_update.upper()}"
    return ddl


def add_check_ddl(table: str, name: str | None, expr: str) -> str:
    """``ALTER TABLE … ADD CONSTRAINT … CHECK`` — post-data like FKs
    (one set-based validation instead of per-row checks during bulk
    load; data MySQL itself would have rejected fails the ALTER
    VISIBLY instead of silently loading unchecked). ``expr`` is
    already PG dialect (the planner runs it through
    dialect.ansi.transpile_mysql_ansi)."""
    cname = _cap_identifier(name or f"{table}_check")
    return (
        f"ALTER TABLE {quote_pg(table)} ADD CONSTRAINT "
        f"{quote_pg(cname)} CHECK ({expr})"
    )


def setval_ddl(table: str, column: str) -> str:
    """Identity-sequence resync after loading explicit values (SURVEY
    7.4-6): the rows carry SOURCE auto_increment values while the PG
    sequence still sits at 1, so the first post-migration INSERT would
    raise unique_violation. ``pg_get_serial_sequence`` resolves both
    SERIAL and IDENTITY backings; ``is_called=false`` with MAX+1 makes
    the NEXT nextval return exactly MAX+1 (empty table → 1). The
    reference has no such step — its migrated tables collide on their
    first insert."""
    q = quote_pg(table)
    qc = quote_pg(column)
    return (
        f"SELECT setval(pg_get_serial_sequence('{q}', '{column}'), "
        f"COALESCE((SELECT MAX({qc}) FROM {q}), 0) + 1, false)"
    )


def render_script(actions, stage_filter=None) -> str:
    """Plan actions → reviewable SQL script text: one ``;``-terminated
    statement per ddl action, skips/notes as ``--`` comment lines
    (first payload line). Shared by the ``pgddl`` CLI mode and the
    ``pgexport`` artifact (review r13c — the two renderers had begun
    to drift apart)."""
    lines: list[str] = []
    for a in actions:
        if stage_filter is not None and not stage_filter(a.stage):
            continue
        if a.kind == "ddl":
            lines.append(str(a.payload).rstrip(";") + ";")
        elif a.kind in ("skip", "note"):
            first = (str(a.payload).splitlines() or [""])[0]
            lines.append(f"-- {a.kind.upper()} [{a.target}]: {first}")
    return "\n".join(lines)


def drop_table_ddl(table: str, cascade: bool = True) -> str:
    """Idempotent re-create support (manager.go:1229-1278)."""
    c = " CASCADE" if cascade else ""
    return f"DROP TABLE IF EXISTS {quote_pg(table)}{c}"


def truncate_ddl(table: str) -> str:
    """truncate_before_sync (B2, sync_data.go:122-157)."""
    return f"TRUNCATE TABLE {quote_pg(table)}"
