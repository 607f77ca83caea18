"""``mysqldump --tab``-compatible EXPORT sink: per-table ``<t>.sql``
(MySQL-dialect CREATE TABLE rendered from the catalog snapshot — the
snapshot stores the ORIGINAL MySQL column types, so the emission is
exact) plus ``<t>.txt`` escaped-TSV data written by the JVM-side
OUTFILE encoder (:func:`mysql2pg_spark.sources.tabdump.write_outfile`,
map-only — a 100 TB table exports as one partition-parallel job), plus
a ``restore.sql`` of ``LOAD DATA INFILE`` statements
(:func:`mysql2pg_spark.sources.loaddata.render_load_data`) so either
MySQL itself or this engine's LOAD DATA source can reload the export.

This closes the round-trip: dump/tab/LOAD-DATA sources on the way in,
tab/LOAD-DATA export on the way out — so a corpus can be migrated,
re-exported, and re-ingested with every decoder checked against its
own encoder. Divergence from mysqldump: ``<t>.txt`` is a DIRECTORY of
part files (Spark's parallel write), which both this engine's reader
(glob) and a per-part LOAD DATA accept; mysqldump writes one file.

Reference: the reference tool has no export path at all (internal/db
is read-only on the MySQL side); this is deliberate beyond-reference
surface.
"""

from __future__ import annotations

import os
import re as _re

from pyspark.sql import SparkSession

from mysql2pg_spark.sources.loaddata import (
    LoadDataSpec,
    render_load_data,
)

#: raw (unquoted) DEFAULT spellings the CREATE parser reads back
#: verbatim — numbers and the keyword defaults MySQL prints bare
_RAW_DEFAULT = _re.compile(
    r"(?i)^(?:[-+]?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?"
    r"|NULL|CURRENT_TIMESTAMP(?:\(\d*\))?|NOW\(\))$"
)


def _q_doubled(s: str) -> str:
    """SHOW CREATE TABLE-style string quoting: ``''`` doubling (what
    the dump parser's DEFAULT/COMMENT readers decode), not backslash
    escapes (which mysqldump reserves for DATA, not DDL)."""
    return "'" + s.replace("'", "''") + "'"


def render_mysql_create(table) -> str:
    """MySQL-dialect ``CREATE TABLE`` for one ``TableMeta`` — the exact
    inverse of ``sources.dumpfile.snapshot_from_dump``'s block parser
    (round-trip-tested through it), in mysqldump's layout: one column /
    key / constraint per line, inline PRIMARY KEY and KEY lines."""
    lines: list[str] = []
    for c in table.columns:
        piece = f"  `{c.name}` {c.column_type}"
        if getattr(c, "generated_expr", None):
            kind = "STORED" if c.generated_stored else "VIRTUAL"
            piece += f" GENERATED ALWAYS AS ({c.generated_expr}) {kind}"
        if not c.nullable:
            piece += " NOT NULL"
        if c.default is not None:
            d = c.default
            if d.startswith("EXPR:"):
                # provenance-marked MySQL 8 expression default
                # (review r12b): render the parenthesized source raw
                piece += f" DEFAULT {d[len('EXPR:'):]}"
            else:
                piece += (
                    f" DEFAULT {d}"
                    if _RAW_DEFAULT.match(d)
                    else f" DEFAULT {_q_doubled(d)}"
                )
        if c.auto_increment:
            piece += " AUTO_INCREMENT"
        if c.comment:
            piece += f" COMMENT {_q_doubled(c.comment)}"
        lines.append(piece)
    if table.primary_key:
        cols = ",".join(f"`{k}`" for k in table.primary_key)
        lines.append(f"  PRIMARY KEY ({cols})")
    for ix in table.indexes:
        cols = ",".join(f"`{k}`" for k in ix.columns)
        # index class round-trips (ADVICE r11: FULLTEXT/SPATIAL keys
        # exported as plain KEY, losing what round 11 taught the
        # parser to keep)
        kind = "UNIQUE KEY" if ix.unique else "KEY"
        ixkind = getattr(ix, "kind", "btree")
        if ixkind in ("fulltext", "spatial") and not ix.unique:
            kind = f"{ixkind.upper()} KEY"
        lines.append(f"  {kind} `{ix.name}` ({cols})")
    for cname, cexpr, enforced in getattr(table, "checks", []):
        piece = (
            (f"  CONSTRAINT `{cname}` " if cname else "  ")
            + f"CHECK ({cexpr})"
        )
        if not enforced:
            piece += " NOT ENFORCED"
        lines.append(piece)
    for fk in getattr(table, "foreign_keys", []):
        cols = ",".join(f"`{k}`" for k in fk.columns)
        refs = ",".join(f"`{k}`" for k in fk.ref_columns)
        piece = (
            (f"  CONSTRAINT `{fk.name}` " if fk.name else "  ")
            + f"FOREIGN KEY ({cols}) REFERENCES `{fk.ref_table}` ({refs})"
        )
        if fk.on_delete:
            piece += f" ON DELETE {fk.on_delete}"
        if fk.on_update:
            piece += f" ON UPDATE {fk.on_update}"
        lines.append(piece)
    body = ",\n".join(lines)
    # the partition scheme rides the closing-paren line, the plain-DDL
    # spelling the engine's own parser captures (ADVICE r11: the clause
    # was dropped from exports despite round 11 teaching the parser to
    # keep it)
    part = getattr(table, "partition_def", None)
    tail = f" {part}" if part else ""
    return (
        f"DROP TABLE IF EXISTS `{table.name}`;\n"
        f"CREATE TABLE `{table.name}` (\n{body}\n){tail};\n"
    )


def export_tab_dir(
    spark: SparkSession,
    snapshot,
    out_dir: str,
    source_loader,
    *,
    tables: list[str] | None = None,
    field_term: str = "\t",
    enclosed_by: str | None = None,
    line_term: str = "\n",
) -> dict:
    """Export ``snapshot``'s tables to a ``--tab``-style directory:
    ``<t>.sql`` schema halves, ``<t>.txt`` data directories (JVM
    OUTFILE encoding, partition-parallel), and one ``restore.sql`` of
    LOAD DATA statements with the chosen format options.

    ``source_loader(table_name) -> DataFrame`` supplies each table's
    rows (the same loader shape as ``tables.parquet_endpoints``).
    Returns ``{"tables": [...], "restore_script": path}``."""
    from mysql2pg_spark.sources.tabdump import write_outfile

    os.makedirs(out_dir, exist_ok=True)
    wanted = set(t.lower() for t in tables) if tables is not None else None
    done: list[str] = []
    stmts: list[str] = []
    for t in snapshot.tables:
        if wanted is not None and t.name.lower() not in wanted:
            continue
        with open(
            os.path.join(out_dir, f"{t.name}.sql"), "w", encoding="utf-8"
        ) as fh:
            fh.write(render_mysql_create(t))
        data_path = os.path.join(out_dir, f"{t.name}.txt")
        df = source_loader(t.name)
        # generated columns are EXCLUDED from the data files and the
        # LOAD DATA names the remaining columns explicitly (ADVICE
        # r11): MySQL rejects explicit values — even NULL — for
        # generated columns (ERROR 3105), so a restore.sql carrying
        # them would fail; the target recomputes them instead (the
        # same contract as the migration data stage)
        gen = {
            c.name.lower()
            for c in t.columns
            if getattr(c, "generated_expr", None)
        }
        load_cols: list[str] = []
        if gen:
            keep = [c for c in df.columns if c.lower() not in gen]
            df = df.select(*keep)
            # the column list mirrors the FILE's field order, which is
            # the projected DataFrame's column order
            load_cols = keep
        write_outfile(
            df,
            data_path,
            field_term=field_term,
            line_term=line_term,
            enclosed_by=enclosed_by,
        )
        stmts.append(render_load_data(LoadDataSpec(
            table=t.name,
            infile=f"{t.name}.txt",
            field_term=field_term,
            enclosed_by=enclosed_by,
            line_term=line_term,
            columns=load_cols,
        )))
        done.append(t.name)
    restore = os.path.join(out_dir, "restore.sql")
    with open(restore, "w", encoding="utf-8") as fh:
        fh.write(
            "-- restore script: LOAD DATA statements matching this "
            "export's format options\n"
            "-- (paths are relative to this file's directory)\n"
        )
        fh.write("\n".join(stmts) + "\n")
    return {"tables": done, "restore_script": restore}
