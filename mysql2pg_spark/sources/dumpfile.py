"""mysqldump file source: parse `INSERT INTO ... VALUES (...),(...);`
dumps into DataFrames with no live MySQL server.

The reference tool only reads from a running MySQL
(internal/db/mysql/connection.go); a dump file is the other way MySQL
data arrives, and the natural one for an offline migration.

One rule decides which text of a dump is a row of table T and how it
becomes a typed row: ``_INSERT_RE`` locates the table, column list and
VALUES tuples, ``split_tuples`` tokenizes the tuples, ``_typed_rows``
builds schema-ordered cells, and ``cast_field`` types them (a MySQL
zero date becomes NULL). Lines of DELIMITER-switched routine/trigger
bodies are never rows. ``load_data_source_reader`` applies the rule on
one of two paths, chosen by size:

- a plain local dump of at most ``SMALL_DUMP_BYTES`` is split into
  statements in one driver-side pass (``read_small_dump``), so an
  INSERT may span lines, and no Spark job runs before its rows;
- a bigger dump, a glob or a remote URI is read line by line
  (``read_dump_inserts``). mysqldump writes each extended INSERT as one
  line, so ``spark.read.text`` splits a multi-TB dump across tasks
  (a ``.gz`` stays one split), the table match runs JVM-side, and only
  the table's lines reach the tokenizer, an Arrow-batched
  ``mapInPandas`` (string literals may hold ``),(``, escaped quotes and
  NULLs, which built-ins can't split).

An INSERT/REPLACE into T that is not a VALUES list (INSERT … SELECT, or
an INSERT spread over several lines on the line path), one with text
after its tuples (ON DUPLICATE KEY UPDATE), or one that qualifies T
with a database other than the dump's own (``USE`` / the mysqldump
header) fails T by name on either path; its rows are never dropped
silently or loaded wrongly.
"""

from __future__ import annotations

import logging

from collections.abc import Iterator
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_log = logging.getLogger(__name__)


def cast_field(c, field):
    """A file reader's text (or binary) cell → ``field``'s type, aliased
    to its name: the one typed cast every file reader ends with (dump
    INSERTs, LOAD DATA, --tab). A MySQL zero date (``0000-00-00…``, the
    B7 case) becomes NULL on a date/timestamp target instead of failing
    the whole table under ANSI casts; any other malformed value still
    raises."""
    from pyspark.sql.types import DateType, TimestampNTZType, TimestampType

    from mysql2pg_spark.sinks.jdbc_sink import ZERO_DATE

    if isinstance(
        field.dataType, (DateType, TimestampType, TimestampNTZType)
    ):
        c = F.when(~c.cast("string").startswith(ZERO_DATE), c)
    return c.cast(field.dataType).alias(field.name)

# mysqldump string-literal escapes (--default-character-set output).
_ESCAPES = {
    "0": "\x00",
    "b": "\b",
    "n": "\n",
    "r": "\r",
    "t": "\t",
    "Z": "\x1a",
    "'": "'",
    '"': '"',
    "\\": "\\",
    "%": "\\%",  # \% and \_ stay literal per MySQL string rules
    "_": "\\_",
}


import re as _tokre

#: unquoted SQL hex literal: 0xDEADBEEF (mysqldump --hex-blob output for
#: BLOB/BINARY/geometry columns). Odd digit counts are left-padded per
#: MySQL's rule.
_HEX_LITERAL = _tokre.compile(r"0[xX]([0-9A-Fa-f]*)$")
#: charset / binary introducer immediately before a quoted literal:
#: _binary'...', _utf8mb4 '...', N'...'; X'1f' hex and b'1010' bit
#: literal prefixes ride the same position.
_INTRODUCER = _tokre.compile(r"_\w+|[Nn]|[Xx]|[Bb]")


def _hex_bytes(digits: str) -> bytes:
    return bytes.fromhex(digits if len(digits) % 2 == 0 else "0" + digits)


def split_tuples(blob: str) -> list[list[str | bytes | None]]:
    """Tokenize a ``(v, v), (v, v)`` VALUES blob into rows of decoded
    cells (None for SQL NULL). Handles quoted strings containing commas,
    parens, and backslash escapes — the cases that break regex splits —
    plus mysqldump's binary spellings: ``0xDEADBEEF`` hex literals and
    ``X'1f'`` decode to ``bytes``; ``_binary '...'`` / ``_utf8mb4 '...'``
    / ``N'...'`` introducers are stripped (the quoted text is the value).
    Any other text between or after the tuples raises ``ValueError``:
    an ``ON DUPLICATE KEY UPDATE v=VALUES(v)`` tail is not a row.
    """
    rows: list[list[str | bytes | None]] = []
    cur: list[str | bytes | None] = []
    buf: list[str] = []
    in_tuple = False
    quote: str | None = None
    was_quoted = False
    quoted_mode = ""  # "" plain | "hex" X'1f' | "bit" b'1010'
    i, n = 0, len(blob)

    def flush() -> None:
        nonlocal was_quoted, quoted_mode
        raw = "".join(buf)
        buf.clear()
        if was_quoted:
            if quoted_mode == "hex":
                cur.append(_hex_bytes(raw))
            elif quoted_mode == "bit":
                v = int(raw, 2) if raw else 0
                cur.append(v.to_bytes(max(1, (len(raw) + 7) // 8), "big"))
            else:
                cur.append(raw)
        else:
            s = raw.strip()
            mo = _HEX_LITERAL.fullmatch(s)
            if mo:
                cur.append(_hex_bytes(mo.group(1)))
            else:
                cur.append(None if s.upper() == "NULL" or s == "" else s)
        was_quoted = False
        quoted_mode = ""

    while i < n:
        ch = blob[i]
        if quote is not None:
            if ch == "\\" and i + 1 < n:
                buf.append(_ESCAPES.get(blob[i + 1], blob[i + 1]))
                i += 2
                continue
            if ch == quote:
                if i + 1 < n and blob[i + 1] == quote:  # '' doubling
                    buf.append(quote)
                    i += 2
                    continue
                quote = None
                i += 1
                continue
            buf.append(ch)
            i += 1
            continue
        if not in_tuple:
            if ch == "(":
                in_tuple = True
                cur = []
            elif not (ch.isspace() or ch in ",;"):
                raise ValueError(
                    f"the text after its VALUES tuples ({blob[i:i + 40]!r},"
                    " e.g. ON DUPLICATE KEY UPDATE) is not a row"
                )
            i += 1
            continue
        if ch in ("'", '"'):
            quote = ch
            was_quoted = True
            # an introducer token before the quote is not part of the
            # value: _binary'...' / _utf8mb4 '...' / N'...'; X'1f'
            # means the quoted content is hex digits, b'1010' a bit
            # literal. Anything else before a quote stays a parse
            # artifact rather than silently vanishing.
            pending = "".join(buf).strip()
            if not pending:
                # whitespace between the comma and the quote (human-
                # authored `VALUES (3, 'x')`) is not part of the value
                buf.clear()
            elif _INTRODUCER.fullmatch(pending):
                low = pending.lower()
                quoted_mode = (
                    "hex" if low == "x" else "bit" if low == "b" else ""
                )
                buf.clear()
            i += 1
            continue
        if ch == ",":
            flush()
            i += 1
            continue
        if ch == ")":
            flush()
            rows.append(cur)
            in_tuple = False
            i += 1
            continue
        buf.append(ch)
        i += 1
    return rows


def _align_rows(
    rows: list[list], collist: str, cols: list[str]
) -> Iterator[list]:
    """Reorder parsed tuples into schema order when the INSERT carries an
    explicit column list (mysqldump --complete-insert); unlisted columns
    become NULL, unknown listed names are dropped."""
    if not collist.strip():
        yield from rows
        return
    pos = {c.lower(): j for j, c in enumerate(cols)}
    idxs = [
        pos.get(nm.strip().strip("`").lower()) for nm in collist.split(",")
    ]
    for r in rows:
        aligned: list = [None] * len(cols)
        for v, j in zip(r, idxs):
            if j is not None:
                aligned[j] = v
        yield aligned


def _coerce_cell(v, want_bytes: bool):
    """Tokenizer cells are str (quoted text), bytes (hex/bit literals),
    or None; line them up with the target column: binary columns get
    bytes (text encoded as UTF-8), everything else gets text (bytes
    from a hex literal feeding a text column decode as UTF-8, matching
    MySQL's cast-to-charset behavior)."""
    if v is None:
        return None
    if want_bytes:
        return v.encode("utf-8") if isinstance(v, str) else bytes(v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).decode("utf-8", errors="replace")
    return v


#: One row statement of a dump, matched against a whole statement (the
#: driver pass) or against one line (the line path, where it also runs
#: JVM-side in ``regexp_extract``, so it stays Java-regex compatible).
#: Group 1 is the optional schema qualifier (``db.t``), group 2 the
#: table, group 3 the optional ``--complete-insert`` column list, group
#: 4 the VALUES tuples. The VALUES tail is optional: a statement that
#: names a table but is not a VALUES list (INSERT … SELECT, or the
#: first line of an INSERT spread over several lines) still yields its
#: table, without group 4, and ``_typed_rows`` refuses it.
_INSERT_RE = _tokre.compile(
    r"(?is)^\s*(?:INSERT\s+(?:IGNORE\s+)?|REPLACE\s+)INTO\s+"
    r"(?:`?(\w+)`?\s*\.\s*)?`?(\w+)`?"
    r"(?:\s*(?:\(([^)]*)\))?\s*VALUES\s*(\(.*\))\s*;?\s*$)?"
)

#: The database a dump declares as its own: a ``USE `db``` statement,
#: or mysqldump's ``-- Host: …  Database: db`` header. Only these may
#: qualify an INSERT's table. Java-regex compatible (the line path
#: matches it JVM-side).
_OWN_DB_RE = _tokre.compile(
    r"(?i)^\s*(?:USE\s+`?(\w+)`?\s*;?\s*$|--.*\bDatabase:\s*`?(\w+)`?)"
)


def _own_db(line: str) -> str | None:
    mo = _OWN_DB_RE.match(line)
    return (mo.group(1) or mo.group(2)).lower() if mo else None

#: A plain local dump of at most this many bytes is read by one
#: driver-side statement pass (``read_small_dump``); a bigger
#: one, a glob or a remote URI is read line by line
#: (``read_dump_inserts``).
SMALL_DUMP_BYTES = 16 << 20


def _typed_rows(
    matches, schema: StructType, databases: frozenset
) -> Iterator[tuple]:
    """``_INSERT_RE`` groups ``(qualifier, table, column list, VALUES
    tuples)`` → one cell tuple per row in ``schema`` order: bytes for
    binary columns, text for the rest, for ``_typed_frame`` to cast.
    The one row builder of both dump paths. A statement it cannot read
    whole fails its table by name, so its rows never vanish: no VALUES
    tuples, text after them (``ON DUPLICATE KEY UPDATE``), or a schema
    qualifier other than one of the dump's own ``databases``."""
    from pyspark.sql.types import BinaryType

    cols = [f.name for f in schema.fields]
    is_binary = [isinstance(f.dataType, BinaryType) for f in schema.fields]
    for qual, table, collist, blob in matches:
        if qual and qual.lower() not in databases:
            own = ", ".join(f"`{d}`" for d in sorted(databases)) or "none"
            raise ValueError(
                f"dump table `{table}`: an INSERT names it `{qual}`.`{table}`"
                f", outside the dump's own database ({own}); refusing to "
                "load another database's rows into it"
            )
        if not blob:
            raise ValueError(
                f"dump table `{table}`: an INSERT/REPLACE into it is not "
                "a VALUES list (INSERT … SELECT or … SET, or an INSERT "
                "spread over several lines of a dump read line by line); "
                "refusing to drop its rows"
            )
        try:
            tuples = split_tuples(blob)
        except ValueError as e:
            raise ValueError(
                f"dump table `{table}`: {e}; refusing to load it"
            ) from None
        for r in _align_rows(tuples, collist or "", cols):
            yield tuple(
                _coerce_cell(r[j] if j < len(r) else None, b)
                for j, b in enumerate(is_binary)
            )


def _cell_schema(schema: StructType) -> str:
    """DDL of ``_typed_rows``' untyped cells."""
    from pyspark.sql.types import BinaryType

    return ", ".join(
        f"`{f.name}` "
        f"{'binary' if isinstance(f.dataType, BinaryType) else 'string'}"
        for f in schema.fields
    )


def _typed_frame(cells: DataFrame, schema: StructType) -> DataFrame:
    """Untyped cells → ``schema``, one JVM-side cast per column."""
    return cells.select(
        *[cast_field(F.col(f.name), f) for f in schema.fields]
    )


def read_dump_inserts(
    spark: SparkSession,
    path: str,
    table: str,
    schema: StructType | str,
) -> DataFrame:
    """DataFrame of ``table``'s rows from a mysqldump file (or directory
    of files), read line by line: the path ``load_data_source_reader``
    takes for dumps over ``SMALL_DUMP_BYTES``. mysqldump writes each
    extended INSERT as one line, so ``spark.read.text`` splits the dump
    across tasks, the table match runs JVM-side, and only the table's
    lines reach the Python tokenizer. ``schema`` gives column
    names/types. Binary columns take ``0x...``/``_binary`` literals
    byte-exact; ``--complete-insert`` column lists reorder against the
    schema."""
    return _line_inserts(_dump_lines(spark, path), table, schema)


def _line_inserts(
    lines: DumpLines, table: str, schema: StructType | str
) -> DataFrame:
    """``table``'s rows from ``_dump_lines`` output, outside
    DELIMITER-switched bodies."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    cols = [f.name for f in schema.fields]
    databases = lines.databases
    named = F.regexp_extract("value", _INSERT_RE.pattern, 2)
    matched = lines.frame.filter(
        ~F.col("body") & (F.lower(named) == table.lower())
    ).select("value")

    def parse(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in it:
            groups = (_INSERT_RE.match(v).groups() for v in pdf["value"])
            rows = list(_typed_rows(groups, schema, databases))
            yield pd.DataFrame(rows, columns=cols, dtype="object")

    cells = matched.mapInPandas(parse, _cell_schema(schema))
    return _typed_frame(cells, schema)


def parse_blob_pairs_local(
    spark, matches: list[tuple], schema: StructType, databases: frozenset
) -> DataFrame:
    """``_INSERT_RE`` groups → typed DataFrame, built ON THE DRIVER: on
    the small-dump path the groups are already driver-local kilobytes,
    and a ``createDataFrame`` → ``mapInPandas`` round trip paid a
    Python-worker launch per table (~1 s per 2-row table). The result
    is a local relation whose downstream value-fix/observe/collect
    never touches a Python worker. Same row builder and cast as the
    line path."""
    return _typed_frame(
        spark.createDataFrame(
            list(_typed_rows(matches, schema, databases)),
            _cell_schema(schema),
        ),
        schema,
    )


def iter_sql_statements(text: str) -> Iterator[str]:
    """Quote-aware split of a hand-written ``.sql`` script into
    statements: ``;`` terminates only outside '…'/"…"/backtick literals,
    ``--``/``#`` line comments and ``/* … */`` blocks. MySQL
    *conditional* comments ``/*!50001 … */`` are version-gated CODE, not
    commentary — mysqldump wraps every CREATE VIEW (and DROP VIEW) in
    them — so their markers are removed and the content KEPT; plain
    comments are dropped whole. A ``--`` starts a comment only when
    followed by whitespace or end-of-line (MySQL's rule — ``n--1`` is
    an expression). Used for human-authored schema/seed scripts AND the
    statement-level scans (views/users) over real mysqldump output."""
    buf: list[str] = []
    i, n = 0, len(text)
    quote: str | None = None
    cond_depth = 0                   # open /*!NNNNN … */ spans
    while i < n:
        ch = text[i]
        if quote is not None:
            buf.append(ch)
            if ch == "\\" and quote in "'\"" and i + 1 < n:
                buf.append(text[i + 1])
                i += 2
                continue
            if ch == quote:
                quote = None
            i += 1
            continue
        if ch in ("'", '"', "`"):
            quote = ch
            buf.append(ch)
            i += 1
            continue
        if ch == "#" or (
            text.startswith("--", i)
            and (i + 2 >= n or text[i + 2].isspace())
        ):
            j = text.find("\n", i)
            i = n if j < 0 else j  # keep the newline as whitespace
            continue
        if text.startswith("/*!", i):
            j = i + 3
            while j < n and text[j].isdigit():
                j += 1
            cond_depth += 1
            i = j
            continue
        if cond_depth and text.startswith("*/", i):
            cond_depth -= 1
            i += 2
            continue
        if text.startswith("/*", i):
            j = text.find("*/", i + 2)
            i = n if j < 0 else j + 2
            continue
        if ch == ";":
            stmt = "".join(buf).strip()
            if stmt:
                yield stmt
            buf = []
            i += 1
            continue
        buf.append(ch)
        i += 1
    tail = "".join(buf).strip()
    if tail:
        yield tail


class SmallDump(NamedTuple):
    """What ``load_data_source_reader`` needs of a small local dump,
    from one driver-side pass: no Spark job."""

    #: ``_INSERT_RE`` groups per table (lowercase name)
    inserts: dict[str, list[tuple]]
    #: every other statement outside DELIMITER-switched sections (the
    #: LOAD DATA statements are among them)
    statements: list[str]
    #: the dump's own databases (``_OWN_DB_RE``), lowercase
    databases: frozenset


def read_small_dump(path: str | list[str]) -> SmallDump | None:
    """A plain local dump of at most ``SMALL_DUMP_BYTES``, split into
    statements in one driver-side pass, or ``None`` for a bigger dump
    or a glob/remote URI (→ ``read_dump_inserts``). Below the size gate
    a many-small-table migration pays one ~ms pass instead of one
    full-dump Spark text scan per table.

    Lines inside DELIMITER-switched sections are dropped (a trigger-body
    INSERT is body text, not rows, as on the line path); the rest is
    split by the quote/comment-aware ``iter_sql_statements``, so an
    INSERT may span lines here."""
    import os as _os

    paths = [path] if isinstance(path, str) else list(path)
    files: list[str] = []
    for p in paths:
        if _os.path.isdir(p):
            # match the Spark text reader's directory semantics
            # (review r12): regular files only, hidden/_-prefixed
            # entries (.part-*.crc, _SUCCESS) ignored — a subdirectory
            # here previously crashed the open() below
            files.extend(
                fp
                for f in sorted(_os.listdir(p))
                if not f.startswith((".", "_"))
                and _os.path.isfile(fp := _os.path.join(p, f))
            )
        elif _os.path.isfile(p):
            files.append(p)
        else:  # glob / remote URI: the line path owns those
            return None
    try:
        if sum(_os.path.getsize(f) for f in files) > SMALL_DUMP_BYTES:
            return None
    except OSError:
        return None
    inserts: dict[str, list[tuple]] = {}
    statements: list[str] = []
    databases: set[str] = set()
    for f in files:
        with _open_text(f) as fh:
            text = fh.read()
        kept: list[str] = []
        protected = False
        for line in text.splitlines(keepends=True):
            mo = _DELIM_DIRECTIVE_RE.match(line)
            if mo:
                protected = mo.group(1) != ";"
                continue
            if not protected:
                kept.append(line)
                if db := _own_db(line):
                    databases.add(db)
        for stmt in iter_sql_statements("".join(kept)):
            mo = _INSERT_RE.match(stmt)
            if mo:
                inserts.setdefault(mo.group(2).lower(), []).append(mo.groups())
            else:
                statements.append(stmt)
    return SmallDump(inserts, statements, frozenset(databases))


def scan_dump_tables(spark: SparkSession, path: str) -> DataFrame:
    """Table inventory of a dump: (table, n_insert_lines). The A1-style
    catalog scan for file-based sources — one distributed pass over the
    text, aggregate map-side combined. An ``INSERT INTO audit_log …``
    line inside a routine/trigger body is body text, not bulk, and is
    not counted."""
    return _tables_in(_dump_lines(spark, path).frame)


def _tables_in(lines: DataFrame) -> DataFrame:
    """``scan_dump_tables`` over ``_dump_lines`` output."""
    return (
        lines.filter(~F.col("body"))
        .select(
            F.regexp_extract("value", _INSERT_RE.pattern, 2).alias("table")
        )
        .filter(F.col("table") != "")
        .groupBy("table")
        .agg(F.count(F.lit(1)).alias("n_insert_lines"))
    )


# --------------------------------------------------------------------------
# Dump DDL → CatalogSnapshot: the A-plane catalog scan for file-based
# sources. With this, a FULL offline migration runs from one dump file:
# snapshot_from_dump → MigrationPipeline.plan()/execute(
#   source_reader=load_data_source_reader(path, dump_read_schemas(snapshot))).
# --------------------------------------------------------------------------
import re as _re

_CREATE_RE = _re.compile(
    r"(?i)^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"`?([A-Za-z0-9_]+)`?"
)
# column lines may be backtick-quoted (mysqldump) or bare (hand-written
# DDL, e.g. the reference's fixture corpus); bare spellings need the
# constraint keywords excluded explicitly.
_NOT_COLUMNS = frozenset(
    ("PRIMARY", "UNIQUE", "KEY", "CONSTRAINT", "INDEX", "CHECK",
     "FULLTEXT", "SPATIAL", "FOREIGN", "ON", "REFERENCES")
)
_COL_RE = _re.compile(
    r"^\s*(?:`([A-Za-z0-9_]+)`|([A-Za-z0-9_]+))\s+"
    r"([A-Za-z]+(?:\([^)]*\))?(?:\s+unsigned)?)"
    r"(.*)$",
    _re.IGNORECASE,
)
_PK_RE = _re.compile(r"(?i)^\s*PRIMARY\s+KEY\s+\(([^)]*)\)")
#: FOREIGN KEY constraint line (round 8 — the reference skips these,
#: sync_tableddl.go:738; hand-written DDL may put the referential
#: actions on CONTINUATION lines, so the block parser buffers an FK
#: until a non-`ON …` line arrives)
_FK_START_RE = _re.compile(
    r"(?i)^\s*(?:CONSTRAINT\s+`?\w+`?\s+)?FOREIGN\s+KEY\b"
)
#: MySQL 8 CHECK constraint line (round 11): optional CONSTRAINT name,
#: greedy expr to the LAST closing paren before the optional
#: [NOT] ENFORCED suffix and trailing comma
_CHECK_RE = _re.compile(
    r"(?i)^\s*(?:CONSTRAINT\s+`?(\w+)`?\s+)?CHECK\s*\((.*)\)"
    r"\s*(NOT\s+ENFORCED|ENFORCED)?\s*,?\s*$"
)
_FK_RE = _re.compile(
    r"(?is)^\s*(?:CONSTRAINT\s+`?(\w+)`?\s+)?FOREIGN\s+KEY\s*"
    r"\(([^)]*)\)\s*REFERENCES\s+`?(\w+)`?\s*\(([^)]*)\)\s*(.*)$"
)
_FK_ACTION_RE = _re.compile(
    r"(?i)ON\s+(DELETE|UPDATE)\s+"
    r"(CASCADE|SET\s+NULL|SET\s+DEFAULT|RESTRICT|NO\s+ACTION)"
)
_FK_CONT_RE = _re.compile(r"(?i)^\s*ON\s+(DELETE|UPDATE)\b")


def _parse_fk(text: str):
    """Joined FK constraint text → FkSpec (None if unparseable — the
    scan degrades to a skip rather than a crash, like functional
    indexes)."""
    from mysql2pg_spark.sinks.ddl import FkSpec

    m = _FK_RE.match(text)
    if not m:
        return None
    cols = _key_cols(m.group(2))
    rcols = _key_cols(m.group(4))
    if not cols or not rcols:
        return None
    actions = {"DELETE": None, "UPDATE": None}
    for am in _FK_ACTION_RE.finditer(m.group(5) or ""):
        actions[am.group(1).upper()] = _re.sub(
            r"\s+", " ", am.group(2).upper()
        )
    return FkSpec(
        name=m.group(1),
        columns=cols,
        ref_table=m.group(3),
        ref_columns=rcols,
        on_delete=actions["DELETE"],
        on_update=actions["UPDATE"],
    )
#: standalone CREATE INDEX statements (the reference ships them in a
#: separate create_index.sql; mysqldump can too via --no-data sections)
_STANDALONE_IDX_RE = _re.compile(
    r"(?i)^\s*CREATE\s+(UNIQUE\s+|FULLTEXT\s+|SPATIAL\s+)?INDEX\s+"
    r"`?([A-Za-z0-9_]+)`?\s+"
    r"ON\s+`?([A-Za-z0-9_]+)`?\s*\(([^)]*)\)"
)
_KEY_RE = _re.compile(
    r"(?i)^\s*(UNIQUE\s+|FULLTEXT\s+|SPATIAL\s+)?KEY\s+"
    r"`?([A-Za-z0-9_]+)`?\s+\(([^)]*)\)"
)


def _balanced_key_body(s: str, open_idx: int) -> str:
    """Full paren body by balanced scan — _KEY_RE's ``([^)]*)`` capture
    stops at the FIRST close paren, which truncates a functional-index
    expression like ``((CAST(data->>'$.id' AS UNSIGNED ARRAY)))``
    (round 15; harmless for plain column lists, where _key_cols strips
    prefix-length parens anyway). Shared scanner: schema.sqltext."""
    from mysql2pg_spark.schema.sqltext import balanced_span

    return balanced_span(s, open_idx)
#: mysqldump emits partitioning as a /*!50100 …*/ conditional comment
#: AFTER the closing paren; the header names the scheme + expression
_PARTITION_RE = _re.compile(
    # one nesting level inside the scheme's parens covers the common
    # expressions (year(col), to_days(col), unix_timestamp(col))
    r"(?i)\bPARTITION\s+BY\s+"
    r"((?:LINEAR\s+)?\w+\s*(?:COLUMNS)?\s*"
    r"\((?:[^()]|\([^()]*\))*\))"
)


def _key_kind(prefix: str | None) -> tuple[bool, str]:
    """(unique, kind) from the captured UNIQUE/FULLTEXT/SPATIAL token."""
    p = (prefix or "").strip().lower()
    if p == "unique":
        return True, "btree"
    if p in ("fulltext", "spatial"):
        return False, p
    return False, "btree"
_COMMENT_RE = _re.compile(r"(?i)COMMENT\s+'((?:[^']|'')*)'")
_DEFAULT_RE = _re.compile(r"(?i)DEFAULT\s+('(?:[^']|'')*'|[A-Za-z0-9_.+-]+)")


def _extract_generated(rest: str) -> tuple[str | None, bool, str]:
    """Pull a ``[GENERATED ALWAYS] AS (expr) [STORED|VIRTUAL]`` clause
    out of a column-definition tail (balanced-paren scan — generated
    expressions nest freely). Returns (expr, stored, remainder); the
    clause is REMOVED from the remainder so NOT NULL / DEFAULT
    detection can't false-match text inside the expression."""
    gm = _re.search(r"(?i)\b(?:GENERATED\s+ALWAYS\s+)?AS\s*\(", rest)
    if not gm:
        return None, False, rest
    depth = 0
    start = rest.index("(", gm.start())
    for k in range(start, len(rest)):
        if rest[k] == "(":
            depth += 1
        elif rest[k] == ")":
            depth -= 1
            if depth == 0:
                expr = rest[start + 1 : k]
                tail = rest[k + 1 :]
                sm = _re.match(r"(?i)\s*(STORED|VIRTUAL)\b", tail)
                stored = bool(sm and sm.group(1).upper() == "STORED")
                if sm:
                    tail = tail[sm.end():]
                return expr.strip(), stored, rest[: gm.start()] + " " + tail
    return None, False, rest  # unbalanced — leave untouched


def _strip_line_comment(s: str) -> str:
    """Drop a trailing ``--`` / ``#`` line comment, quote-aware (a
    ``--`` inside a quoted default literal is data, not a comment).
    Matches MySQL's rule: ``--`` starts a comment only when followed by
    whitespace or end-of-line, so ``n--1`` (n minus negative 1) is an
    expression, not a truncation point."""
    in_q = False
    i = 0
    while i < len(s):
        ch = s[i]
        if ch == "'":
            in_q = not in_q
        elif not in_q and (
            (
                s.startswith("--", i)
                and (i + 2 >= len(s) or s[i + 2].isspace())
            )
            or ch == "#"
        ):
            return s[:i]
        i += 1
    return s


def _key_cols(raw: str) -> list[str]:
    # `a`,`b`(10), c DESC → [a, b, c]  (prefix lengths + sort order
    # dropped; functional-index expressions yield NO column and the
    # caller degrades per the C93 policy)
    out = []
    for c in raw.split(","):
        c = _re.sub(r"(?i)\s+(ASC|DESC)\s*$", "", c.strip())
        c = c.strip().strip("`").split("(")[0].strip("`").strip()
        if _re.fullmatch(r"[A-Za-z0-9_]+", c):
            out.append(c)
    return out


def _open_text(path: str):
    """Text handle for a dump that may be gzip-compressed (round 9 —
    real dumps usually travel as ``.gz``; the Spark readers decompress
    via the JVM codec already, this gives the local/driver-side paths
    the same transparency)."""
    if path.endswith(".gz"):
        import gzip

        return gzip.open(path, "rt", encoding="utf-8", errors="replace")
    return open(path, encoding="utf-8", errors="replace")


def _ddl_lines(spark: SparkSession, path: str) -> list[str]:
    """DDL-ish lines of the dump in original order, collected driver-side.

    INSERT lines (the data bulk) are filtered out DISTRIBUTIVELY first,
    so the collect is only the schema header — tiny at any dump size.
    Ordering: monotonically_increasing_id puts the text-split index in
    its high bits and Spark enumerates a file's splits in offset order,
    so sorting by it reconstructs line order within one dump file."""
    lines = spark.read.text(path).select(
        F.monotonically_increasing_id().alias("mid"), "value"
    )
    low = F.lower(F.ltrim(F.col("value")))
    ddl = lines.filter(
        ~low.startswith("insert into")
        & ~low.startswith("insert ignore into")
        & ~low.startswith("replace into")
        & ~low.startswith("--")
        # /*!NNNNN …*/ header directives drop — EXCEPT the partition
        # scheme, which mysqldump emits ONLY inside such a comment
        # (round 11: it must reach the parser to surface as a named
        # skip instead of vanishing)
        & (~low.startswith("/*") | low.contains("partition by"))
        & (F.trim(F.col("value")) != "")
    )
    return [r.value for r in ddl.sort("mid").collect()]


def _lower_outside_quotes(s: str) -> str:
    """Lowercase SQL tokens, preserving quoted-literal case — an
    enum('S','M') column type keeps its value spelling ('' doubling
    toggles the flag twice, correctly)."""
    out = []
    in_q = False
    for ch in s:
        if ch == "'":
            in_q = not in_q
            out.append(ch)
        else:
            out.append(ch if in_q else ch.lower())
    return "".join(out)


def snapshot_from_dump(spark: SparkSession, path: str | list[str]):
    """Parse every CREATE TABLE block of a mysqldump (or a list of DDL
    scripts — e.g. separate create_table.sql + create_index.sql) into a
    CatalogSnapshot (columns with type/nullability/default/comment/
    auto-increment, primary keys, inline AND standalone secondary
    indexes) — the information_schema scan for servers that no longer
    exist."""
    from mysql2pg_spark.orchestrator import (
        CatalogSnapshot,
        ColumnMeta,
        TableMeta,
    )
    from mysql2pg_spark.sinks.ddl import IndexSpec

    tables: list[TableMeta] = []
    standalone: list[tuple[str, "IndexSpec"]] = []  # (table, spec)
    cur: TableMeta | None = None
    fk_buf: list[str] = []

    def _finish_fk() -> None:
        if fk_buf and cur is not None:
            joined = " ".join(fk_buf)
            fk = _parse_fk(joined)
            if fk is not None:
                cur.foreign_keys.append(fk)
            else:
                # losing referential integrity must be VISIBLE (ADVICE
                # r8): unparsed shapes (e.g. schema-qualified
                # REFERENCES `db`.`tbl`) log a skip like the other
                # degrade paths instead of vanishing.
                _log.warning(
                    "skipping unparseable FOREIGN KEY on table %s: %s",
                    cur.name,
                    joined.strip(),
                )
        fk_buf.clear()

    # full partition-clause capture (round 12): the clause may span
    # lines in all three source spellings — mysqldump's /*!50100
    # PARTITION BY …\n(PARTITION p0 …)*/;, the plain-DDL
    # `) PARTITION BY … (\nPARTITION p0 …\n);` closing-line form, and
    # ALTER TABLE … PARTITION BY …; — so buffer from the trigger until
    # a statement terminator (`;` or `*/` outside literals) and store
    # the whole text for schema.partitioning.parse_partition_def.
    part_buf: list[str] = []
    part_owner: list[TableMeta] = []  # 1-elem box (closure write)

    def _part_done_chunk(s: str) -> bool:
        from mysql2pg_spark.dialect.transpile import mask_literals

        masked, _ = mask_literals(s)
        return ";" in masked or "*/" in masked

    def _finish_partition() -> None:
        if part_buf and part_owner:
            from mysql2pg_spark.dialect.transpile import (
                mask_literals,
                normalize_backslash_quotes,
                unmask_literals,
            )

            # cut at the terminator OUTSIDE literals (review r12: a
            # LIST bound like 'us;east' or a partition COMMENT holding
            # '*/' must not truncate the clause — _part_done_chunk
            # already masks, this cut has to match it); \'-escapes
            # normalize first so the mask tracks MySQL literals right
            masked, lits = mask_literals(
                normalize_backslash_quotes(" ".join(part_buf))
            )
            cut = min(
                (i for i in (masked.find("*/"), masked.find(";"))
                 if i >= 0),
                default=len(masked),
            )
            text = unmask_literals(masked[:cut], lits).strip()
            owner = part_owner[0]
            owner.partition_def = text
            hm = _PARTITION_RE.search(text)
            if hm:
                owner.partition_clause = hm.group(1).strip()
            else:  # header spans past the regex's nesting budget —
                # keep the raw text so the skip path still names it
                owner.partition_clause = text[: text.find("(")].replace(
                    "PARTITION BY", "", 1
                ).strip() or text
        part_buf.clear()
        part_owner.clear()

    def _start_partition(line: str, owner: TableMeta) -> None:
        at = _re.search(r"(?i)\bPARTITION\s+BY\b", line)
        chunk = line[at.start():]
        part_buf.append(chunk)
        part_owner.append(owner)
        if _part_done_chunk(chunk):
            _finish_partition()

    for line in _ddl_lines(spark, path):
        if part_buf:
            part_buf.append(line)
            if _part_done_chunk(line):
                _finish_partition()
            continue
        if fk_buf:
            # referential actions may continue on their own lines
            if _FK_CONT_RE.match(line):
                fk_buf.append(line.rstrip().rstrip(","))
                continue
            _finish_fk()
        idx = _STANDALONE_IDX_RE.match(line)
        if idx:
            from mysql2pg_spark.schema.sqltext import plain_index_columns

            ibody = _balanced_key_body(line, idx.start(4) - 1)
            kcols = plain_index_columns(ibody)
            uq, kind = _key_kind(idx.group(1))
            if kcols is not None:
                standalone.append(
                    (
                        idx.group(3),
                        IndexSpec(
                            name=idx.group(2),
                            columns=kcols,
                            unique=uq,
                            kind=kind,
                        ),
                    )
                )
            else:
                # functional/mixed standalone CREATE INDEX (review
                # r15): carried like the inline-KEY form so the
                # planner translates or surfaces the documented skip
                # — this path previously dropped it with no trace
                standalone.append(
                    (
                        idx.group(3),
                        IndexSpec(
                            name=idx.group(2),
                            columns=[],
                            unique=uq,
                            kind=kind,
                            expression=ibody.strip(),
                        ),
                    )
                )
            continue
        m = _CREATE_RE.match(line)
        if m:
            cur = TableMeta(name=m.group(1), columns=[])
            continue
        if cur is None:
            # mysqldump emits PARTITION BY inside a /*!50100 …*/
            # comment AFTER the table's closing paren — attach the
            # scheme to the just-closed table so the planner can
            # surface it (never silently unpartition a table). A
            # standalone `ALTER TABLE x PARTITION BY …` names its OWN
            # table — attach there, not to whichever table parsed last.
            if _re.search(r"(?i)\bPARTITION\s+BY\b", line):
                am = _re.match(
                    r"(?i)\s*ALTER\s+TABLE\s+`?(\w+)`?", line
                )
                owner = None
                if am:
                    want = am.group(1).lower()
                    owner = next(
                        (x for x in tables if x.name.lower() == want),
                        None,
                    )
                elif tables:
                    owner = tables[-1]
                if owner is not None:
                    _start_partition(line, owner)
            continue
        if line.lstrip().startswith(")"):
            # table-level COMMENT rides the closing-paren options line
            # (round 15 — previously dropped; the live catalog path
            # reads information_schema.tables.table_comment, so the
            # dump path must carry it too or B11 comment DDL is
            # live-only). '' doubling unescaped like column comments.
            tc = _re.search(r"(?i)\bCOMMENT\s*=\s*'((?:[^']|'')*)'", line)
            if tc:
                cur.comment = tc.group(1).replace("''", "'")
            tables.append(cur)
            cur = None
            # plain-DDL partitioning rides the closing-paren line:
            # `) PARTITION BY RANGE (YEAR(created_at)) (` — the list
            # continues on following lines until `;`
            if _re.search(r"(?i)\bPARTITION\s+BY\b", line):
                _start_partition(line, tables[-1])
            continue
        pk = _PK_RE.match(line)
        if pk:
            cur.primary_key = _key_cols(pk.group(1))
            continue
        if _FK_START_RE.match(line):
            fk_buf.append(line.rstrip().rstrip(","))
            continue
        chk = _CHECK_RE.match(line)
        if chk:
            # (name, expr, enforced): MySQL 8 CHECK constraints were
            # silently dropped before round 11 — the reference has no
            # CHECK pass at all; the planner emits ENFORCED ones as
            # post-data ALTER … ADD CONSTRAINT (FK pattern) and
            # surfaces NOT ENFORCED as named skips
            cur.checks.append((
                chk.group(1),
                chk.group(2).strip(),
                "NOT" not in (chk.group(3) or "").upper(),
            ))
            continue
        key = _KEY_RE.match(line)
        if key:
            from mysql2pg_spark.schema.sqltext import plain_index_columns

            kbody = _balanced_key_body(line, key.start(3) - 1)
            kcols = plain_index_columns(kbody)
            uq, kind = _key_kind(key.group(1))
            if kcols is not None:
                cur.indexes.append(
                    IndexSpec(
                        name=key.group(2),
                        columns=kcols,
                        unique=uq,
                        kind=kind,
                    )
                )
            else:
                # MySQL 8 functional key part — `KEY k ((lower(name)))`
                # or MIXED `KEY k (a, (lower(b)))`: any expression part
                # keeps the WHOLE ordered body as the expression
                # (review r15: cherry-picking the plain parts migrated
                # a mixed UNIQUE key as a stricter plain index with no
                # skip surfaced). The planner translates part-by-part
                # to a PG expression index or surfaces a DOCUMENTED
                # skip; the live-catalog path reconstructs the same
                # spec from NULL-column_name statistics rows.
                cur.indexes.append(
                    IndexSpec(
                        name=key.group(2),
                        columns=[],
                        unique=uq,
                        kind=kind,
                        expression=kbody.strip(),
                    )
                )
            continue
        col = _COL_RE.match(line)
        if col:
            name = col.group(1) or col.group(2)
            if col.group(1) is None and name.upper() in _NOT_COLUMNS:
                continue  # bare constraint keyword, not a column
            rest = col.group(4)
            comment = _COMMENT_RE.search(rest)
            # semantic keywords (DEFAULT/NOT NULL/AUTO_INCREMENT) are
            # parsed with the COMMENT literal AND any trailing -- / #
            # line comment excised — a comment like 'default 5 when
            # unset' or '-- removed AUTO_INCREMENT here' must not
            # fabricate a default / serial column (caught by the golden
            # corpus DDL: case_11's commented columns emitted SERIAL)
            rest_nc = _strip_line_comment(_COMMENT_RE.sub("", rest))
            # generated clause first: its expression could contain text
            # that NOT NULL / DEFAULT detection would false-match. The
            # search runs on LITERAL-MASKED text so a DEFAULT string
            # containing "AS (" cannot fabricate a generated column.
            from mysql2pg_spark.dialect.transpile import (
                mask_literals as _mask,
                unmask_literals as _unmask,
            )

            _masked, _lits = _mask(rest_nc)
            gen_expr_m, gen_stored, _rem_m = _extract_generated(_masked)
            gen_expr = None
            if gen_expr_m is not None:
                gen_expr = _unmask(gen_expr_m, _lits)
                rest_nc = _unmask(_rem_m, _lits)
            default = _DEFAULT_RE.search(rest_nc)
            dflt = None
            if default:
                raw_d = default.group(1)
                # unquote + undouble: DEFAULT 'it''s' carries it's, not
                # it''s (double-escaping corrupted apostrophe defaults)
                if raw_d.startswith("'") and raw_d.endswith("'"):
                    dflt = raw_d[1:-1].replace("''", "'")
                elif raw_d.startswith("("):
                    # MySQL 8 expression default (DEFAULT (uuid())):
                    # NON-quoted at the source, so mark the provenance
                    # (review r12b) — after unquoting, a literal
                    # '(none)' is otherwise indistinguishable from an
                    # expression, and consumers must not inject
                    # expression text as data (loaddata) or quote it
                    # as a string (DDL). Same convention as the
                    # GENERATED: marker.
                    dflt = "EXPR:" + raw_d
                else:
                    dflt = raw_d
            cur.columns.append(
                ColumnMeta(
                    name=name,
                    # lowercase the TYPE tokens but keep quoted literal
                    # case — enum('S','M') values feed the round-12
                    # domain CHECK, and a lowercased list would REJECT
                    # the real data
                    column_type=_lower_outside_quotes(col.group(3)),
                    nullable="NOT NULL" not in rest_nc.upper(),
                    default=None if (dflt or "").upper() == "NULL" else dflt,
                    comment=comment.group(1).replace("''", "'")
                    if comment
                    else None,
                    auto_increment="AUTO_INCREMENT" in rest_nc.upper(),
                    generated_expr=gen_expr,
                    generated_stored=gen_stored,
                )
            )
    _finish_partition()  # EOF with an unterminated clause: keep what we saw
    by_name = {t.name: t for t in tables}
    for tname, spec in standalone:
        owner = by_name.get(tname)
        if owner is not None and spec.name not in {
            i.name for i in owner.indexes
        }:
            owner.indexes.append(spec)
    return CatalogSnapshot(tables=tables)


def _script_statements(path: str | list[str]) -> Iterator[str]:
    import os

    paths = [path] if isinstance(path, str) else list(path)
    for p in paths:
        files = (
            [os.path.join(p, f) for f in sorted(os.listdir(p))]
            if os.path.isdir(p)
            else [p]
        )
        for f in files:
            opener = __import__("gzip").open if f.endswith(".gz") else open
            with opener(f, "rt") as fh:
                yield from iter_sql_statements(fh.read())


_VIEW_STMT_RE = _re.compile(
    r"(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:ALGORITHM\s*=\s*\w+\s+)?"
    r"(?:DEFINER\s*=\s*\S+\s+)?(?:SQL\s+SECURITY\s+\w+\s+)?"
    r"VIEW\s+`?(\w+)`?\s+AS\s+(.*)$"
)


def views_from_sql(path: str | list[str]) -> dict[str, str]:
    """name → MySQL body for every CREATE VIEW in the script(s) — the
    A8 view scan for file-based sources. Bodies stay in MySQL spelling;
    the orchestrator's view stage renders them for the target dialect
    (dialect/ansi.py)."""
    out: dict[str, str] = {}
    for stmt in _script_statements(path):
        mo = _VIEW_STMT_RE.match(stmt)
        if mo:
            out[mo.group(1)] = mo.group(2).strip()
    return out


_CREATE_USER_RE = _re.compile(
    r"(?is)^\s*CREATE\s+USER\s+(?:IF\s+NOT\s+EXISTS\s+)?'([^']+)'"
)
_GRANT_RE = _re.compile(
    r"(?is)^\s*GRANT\s+(.+?)\s+ON\s+(?:`?(\w+)`?\.)?"
    r"(`?\w+`?|\*)(?:\.(\*))?\s+TO\s+'([^']+)'"
)


def users_from_sql(path: str | list[str]):
    """(users, table_privileges) from CREATE USER / GRANT statements —
    the A10/A11 scans for file-based sources, in the CatalogSnapshot
    shape: users maps name → role-DDL list; table_privileges is
    (user, table, privs) rows for table-scoped grants (database-wide
    ``*.*`` grants have no single-table analog and surface as a
    users-stage comment the sink logs)."""
    users: dict[str, list[str]] = {}
    privileges: list[tuple[str, str, str]] = []
    for stmt in _script_statements(path):
        mo = _CREATE_USER_RE.match(stmt)
        if mo:
            name = mo.group(1)
            users.setdefault(name, [
                f'CREATE ROLE "{name}" LOGIN'
            ])
            continue
        mo = _GRANT_RE.match(stmt)
        if mo:
            privs, _db, tbl, star, user = mo.groups()
            privs = "All" if "ALL" in privs.upper() else privs
            if tbl == "*" or star:
                users.setdefault(user, []).append(
                    f"-- database-wide grant has no table analog: "
                    f"{stmt.splitlines()[0][:60]}"
                )
                continue
            privileges.append((user, tbl.strip("`"), privs))
    return users, privileges


def dump_read_schemas(snapshot) -> dict[str, StructType]:
    """Per-table Spark read schemas from a parsed snapshot (via the same
    MySQL→Spark type map the DDL translator uses), ready for
    ``load_data_source_reader``."""
    from mysql2pg_spark.schema.schema_map import struct_field_for

    return {
        t.name: StructType(
            [
                struct_field_for(
                    c.name,
                    c.column_type,
                    c.nullable,
                    c.default,
                    c.comment,
                    c.auto_increment,
                    getattr(c, "generated_expr", None),
                )
                for c in t.columns
            ]
        )
        for t in snapshot.tables
    }


def strip_conditional_comments(text: str) -> str:
    """Remove MySQL conditional-comment MARKERS (``/*!50003`` … ``*/``)
    while keeping their content — mysqldump --routines wraps the whole
    ``CREATE … FUNCTION`` head in them (``/*!50003 CREATE*/ /*!50020
    DEFINER=…*/ /*!50003 FUNCTION … END */``). Quote-aware so a ``*/``
    inside a string literal doesn't close the span early; plain comments
    are left untouched (the plpgsql builder strips those itself)."""
    out: list[str] = []
    i, n = 0, len(text)
    depth = 0
    quote: str | None = None
    while i < n:
        ch = text[i]
        if quote is not None:
            out.append(ch)
            if ch == "\\" and quote in "'\"" and i + 1 < n:
                out.append(text[i + 1])
                i += 2
                continue
            if ch == quote:
                quote = None
            i += 1
            continue
        if ch in ("'", '"', "`"):
            quote = ch
            out.append(ch)
            i += 1
            continue
        if text.startswith("/*!", i):
            j = i + 3
            while j < n and text[j].isdigit():
                j += 1
            if j < n and text[j] == " ":
                j += 1
            depth += 1
            i = j
            continue
        if depth and text.startswith("*/", i):
            depth -= 1
            i += 2
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def functions_from_sql(path: str) -> list[str]:
    """CREATE FUNCTION / CREATE PROCEDURE statements from a
    ``DELIMITER``-switched script (the mysql-client convention the
    reference's scripts/mysql/create_function.sql uses; routine bodies
    contain ``;`` so the file switches to ``//`` around each CREATE).
    ``iter_sql_statements`` is delimiter-blind by design — this wrapper
    tracks ``DELIMITER <tok>`` lines, splits on the ACTIVE delimiter,
    and returns only the routine-CREATE statements (A9 scan shape,
    ready for ``sinks.plpgsql_builder.build_spec_from_mysql``; the
    reference scans ROUTINE_TYPE='FUNCTION' only and silently drops
    procedures)."""
    with _open_text(path) as fh:
        return functions_from_text(fh.read())


def triggers_from_sql(path: str) -> list[str]:
    """CREATE TRIGGER statements from a DELIMITER-switched script or
    the mysqldump ``/*!50003 … TRIGGER`` form (round 8 — mysqldump
    includes triggers by DEFAULT, and the reference drops them)."""
    with _open_text(path) as fh:
        return functions_from_text(fh.read(), kinds=("TRIGGER",))


def functions_from_text(
    text: str, kinds: tuple = ("FUNCTION", "PROCEDURE")
) -> list[str]:
    out: list[str] = []
    delim = ";"
    buf: list[str] = []
    for line in text.splitlines():
        stripped = line.strip()
        mo = _re.match(r"(?i)^DELIMITER\s+(\S+)\s*$", stripped)
        if mo and not buf:
            delim = mo.group(1)
            continue
        # blank / comment-only preamble lines must not start a buffered
        # statement: mysqldump --routines puts a `-- ` header block and a
        # blank line before each DELIMITER directive, and a non-empty
        # buffer would stop that directive from matching above (the
        # active delimiter would silently stay stale).
        if not buf and (
            not stripped
            or stripped.startswith("-- ")
            or stripped == "--"
            or stripped.startswith("#")
        ):
            continue
        buf.append(line)
        joined = "\n".join(buf)
        if stripped.endswith(delim):
            # mysqldump --routines wraps the CREATE…FUNCTION head in
            # conditional comments — unwrap before matching, or every
            # real-dump routine is silently skipped
            stmt = strip_conditional_comments(
                joined.rstrip()[: -len(delim)].strip()
            ).strip()
            buf = []
            if _re.match(
                r"(?is)^\s*CREATE\s+(DEFINER\s*=\s*\S+\s+)?"
                r"(" + "|".join(kinds) + r")\b",
                stmt,
            ):
                out.append(stmt)
    return out


_DELIM_DIRECTIVE_RE = _re.compile(r"(?i)^\s*DELIMITER\s+(\S+)\s*$")


class DumpLines(NamedTuple):
    """``_dump_lines`` output."""

    #: ``(mid, value, body)``, one row per line of the dump
    frame: DataFrame
    #: the dump's own databases (``_OWN_DB_RE``), lowercase
    databases: frozenset


def _dump_lines(spark: SparkSession, path: str) -> DumpLines:
    """``spark.read.text(path)`` as ``(mid, value, body)``: the one
    DELIMITER-aware view every distributed dump scan starts from.
    ``body`` marks the lines of DELIMITER-switched regions, where
    mysqldump writes routine and trigger bodies: an ``INSERT INTO t
    VALUES (NEW.id, …)`` there is body text, not a row of ``t``.

    The directive lines and the lines naming the dump's own database
    come back in one small job (O(#routines) rows). ``mid``
    (``monotonically_increasing_id``) orders the lines of a file and is
    stable across reads of the same input (same splits → same partition
    ids and offsets), so their intervals push back into the line
    filter. Callers that scan one dump several times hold on to the
    result instead of re-running that job."""
    lines = spark.read.text(path).select(
        F.monotonically_increasing_id().alias("mid"), "value"
    )
    marks = (
        lines.filter(
            F.col("value").rlike(_DELIM_DIRECTIVE_RE.pattern)
            | F.col("value").rlike(_OWN_DB_RE.pattern)
        )
        .sort("mid")
        .collect()
    )
    directives = [
        (r.mid, mo.group(1))
        for r in marks
        if (mo := _DELIM_DIRECTIVE_RE.match(r.value))
    ]
    body = F.lit(False)
    for start, end in _protected_intervals(directives):
        c = F.col("mid") >= F.lit(start)
        if end != float("inf"):
            c = c & (F.col("mid") < F.lit(end))
        body = body | c
    databases = frozenset(filter(None, (_own_db(r.value) for r in marks)))
    return DumpLines(lines.withColumn("body", body), databases)


def _protected_intervals(
    delim_rows: list,
) -> list[tuple[int, float]]:
    """Half-open ``[start, end)`` line-id intervals in which the active
    statement delimiter is NOT ``;`` — i.e. DELIMITER-switched routine /
    trigger regions of a mysqldump, whose body lines must never be
    mistaken for data-section INSERTs. ``delim_rows`` is the (tiny)
    ordered list of ``(line_id, token)`` DELIMITER directives."""
    intervals: list[tuple[int, float]] = []
    open_at: int | None = None
    for mid, tok in delim_rows:
        if tok != ";" and open_at is None:
            open_at = mid
        elif tok == ";" and open_at is not None:
            intervals.append((open_at, mid))
            open_at = None
    if open_at is not None:
        intervals.append((open_at, float("inf")))
    return intervals


def dump_schema_text(path: str, spark: SparkSession | None = None) -> str:
    """The NON-data text of a mysqldump with the INSERT bulk dropped —
    what the statement-level scans (views, routines) may safely hold
    driver-side. A real dump is ~99% INSERT lines (mysqldump emits each
    extended INSERT as one line), so the RESULT stays tiny at any dump
    size.

    The drop filter is SECTION-AWARE: mysqldump emits routine and
    trigger bodies only inside ``DELIMITER ;;`` … ``DELIMITER ;``
    regions (bodies contain ``;``), so an ``INSERT INTO audit_log…``
    line INSIDE a trigger body is body text, not bulk data, and must
    survive — dropping it would silently mistranslate the trigger.
    Only lines outside every DELIMITER-switched region are candidates
    for the drop.

    With a SparkSession the line filter runs DISTRIBUTED over
    ``_dump_lines`` (a multi-TB dump never funnels through one driver
    thread just to find its schema sections). Without a session it
    streams the local file tracking the delimiter directly. The data
    itself only ever moves through the INSERT readers
    (``load_data_source_reader``)."""
    if spark is not None:
        return _schema_text(_dump_lines(spark, path).frame)
    keep: list[str] = []
    delim = ";"
    with _open_text(path) as fh:
        for line in fh:
            mo = _DELIM_DIRECTIVE_RE.match(line)
            if mo:
                delim = mo.group(1)
            elif delim == ";" and _INSERT_RE.match(line):
                continue
            keep.append(line.rstrip("\n"))
    return "\n".join(keep)


def _schema_text(lines: DataFrame) -> str:
    """``dump_schema_text`` over ``_dump_lines`` output."""
    keep = lines.filter(
        F.col("body") | ~F.col("value").rlike(_INSERT_RE.pattern)
    )
    return "\n".join(r.value for r in keep.sort("mid").collect())


#: CREATE TEMPORARY TABLE inside a stored-routine body (round 9): very
#: common in real MySQL procedures (staging results between steps).
#: PostgreSQL temp tables are session-scoped like MySQL's, so the
#: statement passes through the plpgsql body as plain SQL — after the
#: MySQL column types run through the C86 matrix.
_TEMP_CREATE_RE = _re.compile(
    r"(?is)^\s*CREATE\s+TEMPORARY\s+TABLE\s+"
    r"(?:(?P<ine>IF\s+NOT\s+EXISTS)\s+)?"
    r"`?(?P<name>\w+)`?\s*\((?P<body>.*)\)\s*"
    r"(?P<opts>[^()]*)$"
)


def convert_temp_table_stmt(stmt: str) -> list[str]:
    """One MySQL ``CREATE TEMPORARY TABLE name (…)`` statement → the PG
    statements that reproduce it (CREATE TEMP TABLE + one CREATE INDEX
    per KEY clause), types through the C86 matrix. Raises ``ValueError``
    on shapes that cannot be expressed (FOREIGN KEY on a temp table,
    unparseable clauses) — the procedural translator converts that to
    a visible refusal instead of emitting wrong DDL."""
    from mysql2pg_spark.schema.schema_map import struct_field_for
    from mysql2pg_spark.sinks.ddl import (
        IndexSpec,
        create_index_ddl,
        create_table_ddl,
    )
    from pyspark.sql.types import StructType

    m = _TEMP_CREATE_RE.match(stmt.strip().rstrip(";"))
    if not m:
        raise ValueError(
            "unparseable CREATE TEMPORARY TABLE statement "
            f"{stmt[:80]!r}"
        )
    name = m.group("name")
    fields = []
    pk: list[str] = []
    indexes: list[IndexSpec] = []
    for clause in _split_top_level_commas(m.group("body")):
        pkm = _PK_RE.match(clause)
        if pkm:
            pk = _key_cols(pkm.group(1))
            continue
        km = _KEY_RE.match(clause)
        if km:
            from mysql2pg_spark.schema.sqltext import plain_index_columns

            kbody = _balanced_key_body(clause, km.start(3) - 1)
            kcols = plain_index_columns(kbody)
            if kcols is not None:
                indexes.append(IndexSpec(
                    name=km.group(2), columns=kcols,
                    unique=bool(km.group(1)),
                ))
            else:
                # same refusal convention as temp-table FKs (review
                # r15: this path dropped functional keys silently)
                raise ValueError(
                    f"temporary table {name}: functional/mixed KEY "
                    f"{km.group(2)} is outside the temp-table subset"
                )
            continue
        if _FK_START_RE.match(clause):
            raise ValueError(
                f"temporary table {name}: FOREIGN KEY on a temp table "
                "has no reliable PG analog (PG allows it only against "
                "other temp tables)"
            )
        cm = _COL_RE.match(clause)
        if cm:
            cname = cm.group(1) or cm.group(2)
            if cm.group(1) is None and cname.upper() in _NOT_COLUMNS:
                raise ValueError(
                    f"temporary table {name}: unsupported constraint "
                    f"clause {clause.strip()[:60]!r}"
                )
            rest_nc = _strip_line_comment(_COMMENT_RE.sub("", cm.group(4)))
            dm = _DEFAULT_RE.search(rest_nc)
            dflt = None
            if dm:
                raw_d = dm.group(1)
                dflt = (
                    raw_d[1:-1].replace("''", "'")
                    if raw_d.startswith("'") and raw_d.endswith("'")
                    else raw_d
                )
                if dflt.upper() == "NULL":
                    dflt = None
            fields.append(struct_field_for(
                cname,
                cm.group(3).lower(),
                nullable="NOT NULL" not in rest_nc.upper(),
                default=dflt,
                auto_increment="AUTO_INCREMENT" in rest_nc.upper(),
            ))
            continue
        raise ValueError(
            f"temporary table {name}: unparseable clause "
            f"{clause.strip()[:60]!r}"
        )
    if not fields:
        raise ValueError(f"temporary table {name}: no columns parsed")
    out = [create_table_ddl(
        name,
        StructType(fields),
        primary_key=pk or None,
        if_not_exists=bool(m.group("ine")),
        temporary=True,
    )]
    out += [create_index_ddl(name, ix) for ix in indexes]
    return out


#: phpMyAdmin-style exports define tables BARE and attach keys later:
#: ``ALTER TABLE `t` ADD PRIMARY KEY (…), ADD KEY `i` (…);`` then
#: ``ALTER TABLE `t` MODIFY `id` int NOT NULL AUTO_INCREMENT, …;`` and
#: ``ALTER TABLE `t` ADD CONSTRAINT … FOREIGN KEY …;`` (round 9 —
#: without this pass a phpMyAdmin dump migrates with NO primary keys,
#: NO indexes, NO identity columns and NO FKs, silently).
_ALTER_RE = _re.compile(r"(?is)^\s*ALTER\s+TABLE\s+`?(\w+)`?\s+(.+)$")
_ALTER_ADD_PK = _re.compile(r"(?is)^ADD\s+PRIMARY\s+KEY\s*\(([^)]*)\)$")
_ALTER_ADD_KEY = _re.compile(
    # greedy (.*) + $ anchor (round 15): the old ([^)]*) could not
    # match a functional key's NESTED parens at all, so the whole ADD
    # KEY clause fell through to the unsupported-clause warning
    r"(?is)^ADD\s+(UNIQUE\s+|FULLTEXT\s+|SPATIAL\s+)?(?:KEY|INDEX)\s+"
    r"`?(\w+)`?\s*\((.*)\)$"
)
_ALTER_MODIFY = _re.compile(r"(?is)^MODIFY\s+(?:COLUMN\s+)?`?(\w+)`?\s+(.+)$")
_ALTER_TBLOPT = _re.compile(r"(?is)^AUTO_INCREMENT\s*=\s*\d+$")


def _split_top_level_commas(text: str) -> list[str]:
    """Comma split outside parentheses (literals already masked)."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(text):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(text[start:i])
            start = i + 1
    parts.append(text[start:])
    return [p.strip() for p in parts if p.strip()]


def apply_alter_statements(snap, schema_text: str) -> None:
    """Merge trailing ``ALTER TABLE`` statements into the parsed table
    corpus: ADD PRIMARY KEY → ``primary_key``, ADD [UNIQUE] KEY/INDEX →
    ``indexes``, ADD CONSTRAINT … FOREIGN KEY → ``foreign_keys`` (the
    same ``_parse_fk`` shapes as inline constraints), MODIFY … with
    AUTO_INCREMENT → marks the column (BIGSERIAL/identity emission +
    the post-load sequence resync). Table options (``AUTO_INCREMENT=n``
    counters — superseded by the MAX-based resync) are recognized and
    dropped; everything else logs a VISIBLE skip, never a silent one.
    """
    from mysql2pg_spark.dialect.transpile import mask_literals

    by_name = {t.name: t for t in snap.tables}
    by_lower = {t.name.lower(): t for t in snap.tables}
    for stmt in iter_sql_statements(schema_text):
        masked, _lits = mask_literals(stmt)
        am = _ALTER_RE.match(masked.strip())
        if not am:
            continue
        t = by_name.get(am.group(1)) or by_lower.get(am.group(1).lower())
        if t is None:
            _log.warning(
                "ALTER TABLE %s: table not in the dump's corpus — "
                "statement skipped", am.group(1),
            )
            continue
        for clause in _split_top_level_commas(am.group(2).rstrip(";")):
            pk = _ALTER_ADD_PK.match(clause)
            if pk:
                t.primary_key = _key_cols(pk.group(1))
                continue
            key = _ALTER_ADD_KEY.match(clause)
            if key:
                from mysql2pg_spark.schema.sqltext import (
                    plain_index_columns,
                )
                from mysql2pg_spark.sinks.ddl import IndexSpec

                kbody = _balanced_key_body(clause, key.start(3) - 1)
                kcols = plain_index_columns(kbody)
                uq, kind = _key_kind(key.group(1))
                if kcols is not None:
                    t.indexes.append(IndexSpec(
                        name=key.group(2),
                        columns=kcols,
                        unique=uq,
                        kind=kind,
                    ))
                else:
                    # functional form (round 15): carried like the
                    # inline KEY shape so the planner translates it to
                    # a PG expression index (or surfaces the named
                    # skip). The clause text is literal-MASKED here —
                    # unmask so the expression keeps its strings.
                    from mysql2pg_spark.dialect.transpile import (
                        unmask_literals,
                    )

                    t.indexes.append(IndexSpec(
                        name=key.group(2),
                        columns=[],
                        unique=uq,
                        kind=kind,
                        expression=unmask_literals(
                            kbody, _lits
                        ).strip(),
                    ))
                continue
            if _FK_START_RE.match(clause.replace("ADD ", "", 1)) or \
                    _re.match(r"(?is)^ADD\s+(?:CONSTRAINT\b|FOREIGN\s+KEY\b)",
                              clause):
                fk = _parse_fk(_re.sub(r"(?is)^ADD\s+", "", clause))
                if fk is not None:
                    t.foreign_keys.append(fk)
                else:
                    _log.warning(
                        "ALTER TABLE %s: skipping unparseable FOREIGN "
                        "KEY clause: %s", t.name, clause[:120],
                    )
                continue
            mod = _ALTER_MODIFY.match(clause)
            if mod:
                col = next(
                    (c for c in t.columns
                     if c.name.lower() == mod.group(1).lower()),
                    None,
                )
                if col is None:
                    _log.warning(
                        "ALTER TABLE %s: MODIFY of unknown column %s "
                        "skipped", t.name, mod.group(1),
                    )
                elif _re.search(r"(?i)\bAUTO_INCREMENT\b", mod.group(2)):
                    col.auto_increment = True
                # a MODIFY without AUTO_INCREMENT restates the CREATE's
                # type — nothing to merge
                continue
            if _ALTER_TBLOPT.match(clause):
                continue  # counter superseded by the MAX-based resync
            _log.warning(
                "ALTER TABLE %s: unsupported clause skipped: %s",
                t.name, clause[:120],
            )


def full_snapshot_from_dump(spark: SparkSession, path: str):
    """CatalogSnapshot from a COMPLETE mysqldump artifact: the table
    corpus (``snapshot_from_dump``) plus everything else a real
    ``mysqldump --routines`` file carries — ``/*!50001*/``-wrapped view
    definitions (parsed via the conditional-comment-aware statement
    splitter) and DELIMITER-switched ``/*!50003 CREATE*/ … FUNCTION``
    routines (raw MySQL DDL; the orchestrator's functions stage builds
    plpgsql specs from them, refusing — visibly — what it cannot
    translate). This is the one-call A-scan for file-based sources:
    reference parity A4-A9 (sync_tables.go / sync_views.go /
    sync_functions.go scans) from a single offline artifact."""
    snap = snapshot_from_dump(spark, path)
    schema_text = dump_schema_text(path, spark)
    views: dict[str, str] = {}
    for stmt in iter_sql_statements(schema_text):
        mo = _VIEW_STMT_RE.match(stmt)
        if mo:
            views[mo.group(1)] = mo.group(2).strip()
    snap.views = views
    snap.functions = list(functions_from_text(schema_text))
    snap.triggers = list(
        functions_from_text(schema_text, kinds=("TRIGGER",))
    )
    # `mysqldump --events` sections (round 9): inventoried so the plan
    # can surface each as a documented skip (PG has no event scheduler)
    # instead of silently dropping scheduled jobs.
    snap.events = list(
        functions_from_text(schema_text, kinds=("EVENT",))
    )
    # phpMyAdmin-style trailing ALTER TABLE sections (round 9): keys /
    # identity / FKs attached after the bare CREATEs merge into the
    # corpus instead of silently vanishing.
    apply_alter_statements(snap, schema_text)
    return snap
