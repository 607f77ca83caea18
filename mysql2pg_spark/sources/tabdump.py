"""``mysqldump --tab`` directory source: per-table ``<t>.sql`` (CREATE
TABLE) + ``<t>.txt`` (escaped TSV via ``SELECT … INTO OUTFILE``) — the
bulk-export format real large-scale MySQL migrations use (it is the
LOAD DATA mirror and dumps tables in parallel), which a dump-file user
switching engines needs alongside the single-file format.

Spark-first shape (mirrors ``sources.dumpfile``):

- ``spark.read.text`` splits each ``.txt`` by LINE across tasks — the
  separator is a RAW tab (0x09) and the line terminator a RAW newline:
  mysqldump escapes any tab/newline INSIDE data as the two-character
  sequences ``\\t``/``\\n``, so splitting on raw bytes is exact and a
  multi-TB table parallelizes for free.
- Field decode (``\\N`` → NULL; ``\\t \\n \\r \\0 \\\\`` escape pairs →
  their characters) is pure Catalyst expressions — ``split`` on the
  escaped-backslash pair, per-segment literal ``replace`` chain plus
  one leftover-pair ``regexp_replace``, ``array_join`` back with a
  literal backslash (see ``_decode_field_col``). No Python worker, no
  Arrow transfer: the decode rides the scan inside whole-stage
  codegen.
- Typed output: decoded string cells cast through the declared schema
  JVM-side (one ``select``), like the INSERT-dump reader.

The ``.sql`` halves run through the SAME statement parsers as a
single-file dump (``snapshot_from_dump`` accepts a list of paths), so
a ``--tab`` directory gets the full A4-A9 scan: columns, PK, indexes,
FKs, comments.

Reference: the reference tool reads only a live server
(internal/db/mysql/connection.go); both dump formats are deliberate
beyond-reference surface.
"""

from __future__ import annotations

import os
import re as _re

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: LOAD DATA / INTO OUTFILE default escapes (ESCAPED BY '\\'): the
#: escape char, field sep, line sep, CR and NUL. ``\N`` is NOT in this
#: table — it is the whole-field NULL marker, not an escape pair.
_TAB_UNESCAPES = {
    "t": "\t",
    "n": "\n",
    "r": "\r",
    "0": "\x00",
    "b": "\b",
    "Z": "\x1a",
    "\\": "\\",
}

_ESCAPE_PAIR = _re.compile(r"\\(.)", _re.S)


def decode_tab_field(raw: str) -> str | None:
    """One escaped TSV field → its value (None for the ``\\N`` NULL
    marker). An escape pair outside the table decodes to its second
    character, matching LOAD DATA's rule."""
    if raw == "\\N":
        return None
    if "\\" not in raw:
        return raw
    return _ESCAPE_PAIR.sub(
        lambda m: _TAB_UNESCAPES.get(m.group(1), m.group(1)), raw
    )


def encode_tab_field(v) -> str:
    """Inverse of :func:`decode_tab_field` (test/tooling side — what
    ``SELECT … INTO OUTFILE`` emits): None → ``\\N``; escape char,
    tab, newline, CR and NUL escape as pairs."""
    if v is None:
        return "\\N"
    s = str(v)
    s = s.replace("\\", "\\\\")
    s = s.replace("\t", "\\t").replace("\n", "\\n")
    s = s.replace("\r", "\\r").replace("\x00", "\\0")
    return s


def encode_load_field(
    v,
    field_term: str = "\t",
    line_term: str = "\n",
    enclosed_by: str | None = None,
) -> str:
    """General OUTFILE-format encoder (test/tooling side), mirroring
    MySQL's escape rule: backslash/tab/newline/CR/NUL always as their
    readable pairs, plus a backslash prefix on the enclosure char and
    the first char of each terminator; the whole field wrapped in the
    enclosure when one is configured. NULL is ``\\N``, never
    enclosed."""
    if v is None:
        return "\\N"
    s = encode_tab_field(v)
    extra = {field_term[0], line_term[0]}
    if enclosed_by:
        extra.add(enclosed_by)
    for ch in sorted(extra):
        if ch in "\\\t\n\r\x00":
            continue  # already pair-encoded above
        s = s.replace(ch, "\\" + ch)
    if enclosed_by:
        s = enclosed_by + s + enclosed_by
    return s


def _encode_field_col(
    c,
    field_term: str = "\t",
    line_term: str = "\n",
    enclosed_by: str | None = None,
):
    """JVM twin of :func:`encode_load_field` — pure ``replace`` chain
    so an export rides the scan like the read path."""
    s = c.cast("string")
    enc = F.replace(s, F.lit("\\"), F.lit("\\\\"))
    for ch, pair in (("\t", "\\t"), ("\n", "\\n"), ("\r", "\\r"),
                     ("\x00", "\\0")):
        enc = F.replace(enc, F.lit(ch), F.lit(pair))
    extra = {field_term[0], line_term[0]}
    if enclosed_by:
        extra.add(enclosed_by)
    for ch in sorted(extra):
        if ch in "\\\t\n\r\x00":
            continue
        enc = F.replace(enc, F.lit(ch), F.lit("\\" + ch))
    if enclosed_by:
        enc = F.concat(F.lit(enclosed_by), enc, F.lit(enclosed_by))
    return F.when(c.isNull(), F.lit("\\N")).otherwise(enc)


def write_outfile(
    df: DataFrame,
    path: str,
    *,
    field_term: str = "\t",
    line_term: str = "\n",
    enclosed_by: str | None = None,
    mode: str = "overwrite",
) -> None:
    """``SELECT … INTO OUTFILE`` as a Spark sink: every column encoded
    by the JVM ``replace`` chain (:func:`_encode_field_col`), joined
    with the field terminator, written with ``write.text`` — the bulk
    EXPORT mirror of :func:`read_tab_dump`, entirely JVM-side and
    partition-parallel (a 100 TB table exports as one map-only job).
    Output is a directory of part files, which :func:`read_tab_dump`
    and MySQL's ``LOAD DATA`` both accept file-by-file.

    Reference: the reference tool has no export path at all
    (internal/db is read-only on the MySQL side); this is the
    round-trip half that makes the LOAD DATA battery self-checking."""
    cols = [
        _encode_field_col(
            F.col(f.name),
            field_term=field_term,
            line_term=line_term,
            enclosed_by=enclosed_by,
        )
        for f in df.schema.fields
    ]
    out = df.select(F.concat_ws(field_term, *cols).alias("value"))
    w = out.write.mode(mode)
    if line_term != "\n":
        w = w.option("lineSep", line_term)
    w.text(path)


def _strip_enclosure(c, q: str):
    """Remove a surrounding ENCLOSED BY pair from one raw field. Exact
    on well-formed OUTFILE output: the enclosure char INSIDE a field
    is always escape-prefixed and the escape char itself is doubled,
    so an unescaped enclosure char in the last position is always the
    real closer."""
    return F.when(
        (F.length(c) >= 2) & c.startswith(q) & c.endswith(q),
        c.substr(F.lit(2), F.length(c) - 2),
    ).otherwise(c)


def _decode_field_col(x, enclosed_by: str | None = None,
                      escaped_by: str = "\\"):
    """JVM-side decode of one escaped field column, sentinel-free (a
    sentinel byte could also occur RAW in real data — OUTFILE only
    escapes its special set — and would decode corrupted):

    1. the ``\\N`` NULL marker compares on the RAW field, so the 3-char
       ``\\\\N`` (escaped backslash + literal N) correctly decodes to
       the string ``\\N`` (an ENCLOSED field is never the NULL marker —
       OUTFILE writes ``\\N`` unenclosed);
    2. an ENCLOSED BY pair, when configured, is stripped from the raw
       field (never from the NULL marker);
    3. split on the ESCAPED-BACKSLASH pair ``\\\\`` — inside each
       segment every remaining backslash starts a single escape pair,
       so the ordered literal replaces (``\\t \\n \\r \\0 \\b \\Z``)
       plus one leftover-pair regexp (LOAD DATA's strip-the-backslash
       rule for unrecognized escapes) are unambiguous;
    4. re-join the segments with a literal backslash — exactly what
       each consumed ``\\\\`` pair means.

    With ``escaped_by=''`` (LOAD DATA … ESCAPED BY ``''``) there are no
    escape pairs at all; MySQL's documented rule applies instead: the
    unenclosed literal word ``NULL`` reads as NULL.

    Every step is a Catalyst expression (split / transform / replace /
    array_join) — the 100 TB path stays entirely JVM-side."""
    if escaped_by == "":
        base = _strip_enclosure(x, enclosed_by) if enclosed_by else x
        return F.when(x == F.lit("NULL"), F.lit(None)).otherwise(base)

    inner = _strip_enclosure(x, enclosed_by) if enclosed_by else x

    def _seg(s):
        dec = s
        for pair, ch in (("\\t", "\t"), ("\\n", "\n"), ("\\r", "\r"),
                         ("\\0", "\x00"), ("\\b", "\b"), ("\\Z", "\x1a")):
            dec = F.replace(dec, F.lit(pair), F.lit(ch))
        return F.regexp_replace(dec, r"\\(.)", r"$1")

    segs = F.split(inner, r"\\\\")
    dec = F.array_join(F.transform(segs, _seg), "\\")
    return F.when(x == F.lit("\\N"), F.lit(None)).otherwise(dec)


#: characters whose MySQL escape form is backslash + LETTER (two chars,
#: neither of which is the raw character) — a separator drawn from this
#: set can never appear raw inside an escaped field, so a raw split is
#: exact with no repair pass
_PAIR_ENCODED = {"\t", "\n", "\r", "\x00", "\b", "\x1a"}

#: rlike pattern: the string ends in an ODD run of backslashes — i.e.
#: its last character is escape-prefixed, so a raw-split boundary right
#: after it actually split an escaped separator pair in half
_ODD_BACKSLASH_TAIL = r"(^|[^\\])(\\\\)*\\$"


def _split_fields(value, field_term: str):
    """One raw line → array of raw (still-escaped) fields, all JVM-side.

    For a control-character separator (``\\t`` — the mysqldump --tab
    default) the split on the raw byte is exact: the escaped form is
    backslash + LETTER, so the raw byte never occurs inside a field.

    For any other separator (``,``, ``|``, …) MySQL escapes in-data
    occurrences as backslash + THE RAW CHARACTER — the escape pair
    contains the separator itself, so the raw split cuts those pairs
    in half. Every such spurious cut leaves the left part ending in an
    ODD run of backslashes, so one ``aggregate`` fold re-merges parts
    (re-inserting the separator) until tails are even — still pure
    Catalyst, O(n_fields²) array work bounded by the schema width."""
    quoted = "\\Q" + field_term + "\\E"
    parts = F.split(value, quoted, -1)  # -1: keep trailing empties
    if all(ch in _PAIR_ENCODED for ch in field_term):
        return parts
    return F.aggregate(
        parts,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, p: F.when(
            (F.size(acc) > 0)
            & F.element_at(acc, -1).rlike(_ODD_BACKSLASH_TAIL),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.concat(
                        F.element_at(acc, -1), F.lit(field_term), p
                    )
                ),
            ),
        ).otherwise(F.concat(acc, F.array(p))),
    )


def read_tab_dump(
    spark: SparkSession,
    txt_path: str,
    schema: StructType | str,
    *,
    field_term: str = "\t",
    line_term: str = "\n",
    enclosed_by: str | None = None,
    escaped_by: str = "\\",
    line_start: str = "",
    ignore_lines: int = 0,
) -> DataFrame:
    """One ``<table>.txt`` (or a glob/directory of them) → typed
    DataFrame. The defaults are the ``mysqldump --tab`` / ``SELECT …
    INTO OUTFILE`` format; the keyword options are the LOAD DATA
    INFILE clause space (FIELDS TERMINATED/ENCLOSED/ESCAPED BY, LINES
    STARTING/TERMINATED BY, IGNORE n LINES — see ``sources.loaddata``).

    Splitting on the RAW separator is exact for control-char
    separators (escaped tabs in data are the two-character sequence
    ``\\t``); for other separators one ``aggregate`` fold repairs the
    escaped-pair cuts (``_split_fields``). The escape decode is a
    literal-``replace`` chain + one leftover-pair regexp, all JVM-side
    expressions — no Python worker, no Arrow transfer in the hot path,
    so at 100 TB the decode rides the scan. Rows with a column-count
    mismatch raise (``raise_error``) rather than silently misalign.

    ``ESCAPED BY ''`` + an enclosure delegates to Spark's native CSV
    parser (Univocity, JVM-side): with escaping off the enclosure char
    cannot occur inside a field, so CSV quote handling is exact, and
    MySQL's documented word-NULL rule maps to ``nullValue``."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    n_cols = len(schema.fields)
    if escaped_by not in ("\\", ""):
        raise ValueError(
            f"unsupported ESCAPED BY {escaped_by!r}: only the default "
            "backslash or '' (escaping disabled) are implemented"
        )
    if len(line_term) > 1 and line_term != "\r\n":
        raise ValueError(
            f"unsupported LINES TERMINATED BY {line_term!r}"
        )

    if escaped_by == "" and enclosed_by:
        reader = (
            spark.read.schema(schema)
            .option("sep", field_term)
            .option("quote", enclosed_by)
            .option("escape", enclosed_by)
            .option("nullValue", "NULL")
            .option("emptyValue", "")
            .option("header", "false")
            .option("mode", "FAILFAST")
        )
        if line_term != "\n":
            reader = reader.option("lineSep", line_term)
        if line_start or ignore_lines:
            raise ValueError(
                "LINES STARTING BY / IGNORE n LINES are not supported "
                "together with ESCAPED BY '' + ENCLOSED BY"
            )
        return reader.csv(txt_path)

    if ignore_lines:
        # IGNORE n LINES is a per-FILE header skip; Spark orders file
        # splits by size (not path), so with multiple input files the
        # smallest ids would land in an arbitrary file and the skip
        # would hit the wrong rows while other files' headers survive.
        # Refuse multi-file input outright rather than corrupt quietly.
        import glob as _glob

        local = _re.sub(r"^file:(//)?", "", txt_path)
        if _re.match(r"^[A-Za-z][\w+.-]*://", local):
            # s3a:// / hdfs:// etc: this guard can only verify LOCAL
            # paths, and an unverified multi-file input would skip
            # lines from an arbitrary split — refuse rather than guess
            raise ValueError(
                f"IGNORE {ignore_lines} LINES needs a verifiable "
                f"single LOCAL file; cannot inspect {txt_path!r} — "
                "strip the header when staging, or read without "
                "ignore_lines"
            )
        files: list[str] = []
        for m in _glob.glob(local):
            if os.path.isdir(m):
                files += [
                    os.path.join(m, f)
                    for f in sorted(os.listdir(m))
                    if not f.startswith((".", "_"))
                ]
            else:
                files.append(m)
        if len(files) != 1:
            raise ValueError(
                f"IGNORE {ignore_lines} LINES needs exactly one input "
                f"file; {txt_path!r} resolves to {len(files)} — skip "
                "headers per file before globbing them together"
            )
    tr = spark.read
    if line_term != "\n":
        tr = tr.option("lineSep", line_term)
    lines = tr.text(txt_path)
    if ignore_lines:
        # single file: text-source splits are ordered by file offset
        # and ids within partition 0 start at 0, so the first
        # `ignore_lines` lines carry the smallest ids — valid whenever
        # the skipped header fits in the first split (always, for any
        # sane header in a single file)
        lines = (
            lines.withColumn("_mid", F.monotonically_increasing_id())
            .filter(F.col("_mid") >= ignore_lines)
            .drop("_mid")
        )
    if line_start:
        # LOAD DATA rule: skip everything before the prefix; lines
        # NOT containing it are skipped entirely
        pos = F.locate(line_start, F.col("value"))
        lines = lines.filter(pos > 0).select(
            F.col("value")
            .substr(
                pos + len(line_start),
                F.length(F.col("value")),
            )
            .alias("value")
        )
    if n_cols > 1:
        # an empty line cannot be a valid multi-column row (it would
        # carry n_cols-1 raw separators), so dropping it here is the
        # benign trailing-newline case, keeping the raise_error quiet
        lines = lines.filter(F.col("value") != "")
    # n_cols == 1: SELECT … INTO OUTFILE emits a single-column row
    # whose value is the empty string as an EMPTY LINE — dropping those
    # would silently lose rows (and validation checksums the source
    # through this same reader, so the loss would be invisible)
    fields = _split_fields(F.col("value"), field_term)
    guarded = F.when(F.size(fields) == n_cols, fields).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"--tab row does not have {n_cols} fields: "),
                F.substring(F.col("value"), 1, 120),
            )
        )
    )
    from mysql2pg_spark.sources.dumpfile import cast_field

    split = lines.select(guarded.alias("f"))
    return split.select(
        *[
            cast_field(
                _decode_field_col(
                    F.element_at(F.col("f"), j + 1),
                    enclosed_by=enclosed_by,
                    escaped_by=escaped_by,
                ),
                fld,
            )
            for j, fld in enumerate(schema.fields)
        ]
    )


def snapshot_from_tab_dir(spark: SparkSession, dir_path: str):
    """CatalogSnapshot from a ``mysqldump --tab`` directory: every
    ``*.sql`` file (one CREATE TABLE each, plus whatever comments
    mysqldump wrapped it in) through the same block parser as a
    single-file dump — columns, PK, inline indexes and FKs all land.

    Real ``--tab`` runs also write each table's TRIGGERS (and, with
    ``--routines``/``--events``, the routine/event bodies) into the
    per-table ``.sql`` as DELIMITER-switched ``/*!50003 CREATE*/``
    sections, and ``/*!50001*/`` view shells get their own ``.sql`` —
    so the same routine/view scans a single-file dump gets run over
    the concatenated texts here too (skip-don't-drop: a trigger in the
    file must at least reach the plan's skip note, never vanish)."""
    from mysql2pg_spark.sources.dumpfile import (
        _VIEW_STMT_RE,
        functions_from_text,
        iter_sql_statements,
        snapshot_from_dump,
    )

    sqls = sorted(
        os.path.join(dir_path, f)
        for f in os.listdir(dir_path)
        if f.endswith(".sql")
    )
    if not sqls:
        raise FileNotFoundError(
            f"--tab directory {dir_path!r} has no .sql schema files"
        )
    snap = snapshot_from_dump(spark, sqls)
    # per-table schema files are small (DDL only, data lives in the
    # .txt halves) — a driver-side read is the right tool here
    text = "\n".join(
        open(p, encoding="utf-8", errors="replace").read() for p in sqls
    )
    views: dict[str, str] = {}
    for stmt in iter_sql_statements(text):
        mo = _VIEW_STMT_RE.match(stmt)
        if mo:
            views[mo.group(1)] = mo.group(2).strip()
    snap.views = views
    snap.functions = list(functions_from_text(text))
    snap.triggers = list(functions_from_text(text, kinds=("TRIGGER",)))
    snap.events = list(functions_from_text(text, kinds=("EVENT",)))
    return snap


def tab_source_reader(dir_path: str, schemas: dict[str, StructType | str]):
    """Factory adapting a ``--tab`` directory to
    ``MigrationPipeline.execute``'s ``source_reader`` seam — the same
    plan/DDL/sink/validation control flow as a live-MySQL or
    single-file-dump migration, swapping only the reader."""

    def reader(spark: SparkSession, plan: dict) -> DataFrame:
        table = plan["table"]
        return read_tab_dump(
            spark, os.path.join(dir_path, f"{table}.txt"), schemas[table]
        )

    return reader
