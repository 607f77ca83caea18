"""MySQL SQL text → Spark SQL text.

The reference translates MySQL view definitions to PostgreSQL with ~70
ordered regex passes (ConvertViewDDL, sync_viewddl.go:141-920). The
Spark story is much shorter because Spark SQL natively accepts most of
the MySQL surface — backtick quoting, IF(), IFNULL(), SUBSTRING_INDEX,
LOCATE, INSTR, CONV, HEX, INTERVAL literals, TIMESTAMPDIFF,
DATE_ADD, GREATEST…, so the transpiler only rewrites the constructs whose
syntax or semantics genuinely differ:

  * ``LIMIT a, b``            → ``LIMIT b OFFSET a``              (C5)
  * ``_utf8mb4'…'`` / ``N'…'`` → the bare literal
  * ``x REGEXP y``            → ``x RLIKE concat('(?i)', y)`` (MySQL's
                                 ``_ci`` collations ignore case)
  * ``ISNULL(x)``             → ``(x IS NULL)``                   (C31)
  * ``GROUP_CONCAT(…)``       → ``array_join(collect_*)``          (C7)
  * ``DATE_FORMAT/STR_TO_DATE/FROM_UNIXTIME`` %-token formats     (C45/C46)
  * ``CAST(x AS SIGNED|UNSIGNED)`` / ``CONVERT(x, T)``            (C39/C40)
  * ``JSON_EXTRACT/JSON_UNQUOTE/JSON_VALUE``→ ``get_json_object`` (C62-64)
  * ``STRCMP``                → CASE chain                         (C24)
  * ``TO_DAYS``               → datediff anchor formula            (C56)
  * ``INET_ATON/INET_NTOA``   → octet arithmetic                   (C79)
  * ``SYSDATE/CURDATE/CURTIME``→ current_* forms                   (C41/42)
  * ``DATABASE()``            → ``current_database()``             (C80)

Mechanics: string literals are masked first (the reference does the same
— maskStringLiterals :1087-1127) so every later pass is free to match
parens/commas structurally; function rewrites use real paren matching,
not regex, so nested calls work.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from mysql2pg_spark.functions.datetime_fmt import mysql_format_to_spark

_LIT_TOKEN = "\x00L{}\x00"


def mask_literals(sql: str) -> tuple[str, list[str]]:
    """Replace '…' literals (with '' escapes) by placeholders."""
    out: list[str] = []
    lits: list[str] = []
    i = 0
    n = len(sql)
    while i < n:
        ch = sql[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'" and j + 1 < n and sql[j + 1] == "'":
                    j += 2
                    continue
                if sql[j] == "'":
                    break
                j += 1
            lits.append(sql[i : j + 1])
            out.append(_LIT_TOKEN.format(len(lits) - 1))
            i = j + 1
        else:
            out.append(ch)
            i += 1
    return "".join(out), lits


def normalize_backslash_quotes(sql: str) -> str:
    """MySQL backslash escapes inside single-quoted literals → PG/''
    doubling, so :func:`mask_literals` (which understands '' only)
    tracks the literal correctly (review r12b: ``COMMENT 'can\\'t'``
    previously ended the literal at ``\\`` and the runaway quote
    swallowed the rest of the statement). Only ``\\'`` rewrites; every
    other backslash pair passes through untouched, and ``\\\\`` is
    consumed as a pair so ``'a\\\\'`` still ends its literal."""
    out: list[str] = []
    i, n = 0, len(sql)
    in_q = False
    while i < n:
        ch = sql[i]
        if in_q:
            if ch == "\\" and i + 1 < n:
                nxt = sql[i + 1]
                out.append("''" if nxt == "'" else ch + nxt)
                i += 2
                continue
            if ch == "'":
                in_q = False
        elif ch == "'":
            in_q = True
        out.append(ch)
        i += 1
    return "".join(out)


#: a charset introducer (``_utf8mb4'…'``, ``_binary '…'``) or national
#: prefix (``N'…'``) in front of a masked literal; the lookbehind keeps
#: ``SELECT my_col 'alias'`` whole
_INTRODUCER = re.compile(r"(?<![\w.])(?:[Nn]|_\w+\s*)(?=\x00L\d+\x00)")


def strip_introducers(masked: str) -> str:
    """Drop charset introducers: MySQL spelling with no Spark/PG/DuckDB
    analog — the literal itself is the value (generated-column
    expressions in real dumps carry them)."""
    return _INTRODUCER.sub("", masked)


def unmask_literals(sql: str, lits: list[str]) -> str:
    for idx, lit in enumerate(lits):
        sql = sql.replace(_LIT_TOKEN.format(idx), lit)
    return sql


def split_top_level(args: str) -> list[str]:
    """Split on commas at paren depth 0 (literals already masked)."""
    parts: list[str] = []
    depth = 0
    cur: list[str] = []
    for ch in args:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur).strip())
    return parts


def _paren_end(s: str, i: int) -> int:
    """Index just past the ``)`` that closes the ``(`` at ``s[i]``."""
    depth = 0
    for k in range(i, len(s)):
        depth += {"(": 1, ")": -1}.get(s[k], 0)
        if depth == 0:
            return k + 1
    return len(s)


#: the text before a table name: ``INSERT INTO log (msg)`` names a
#: table, not a LOG() call
_TABLE_POS = re.compile(
    r"(?i)\b(?:INTO|INSERT|IGNORE|REPLACE|TABLE)\s+(?:[\w\"`]+\.)?$"
)


def rewrite_call(
    sql: str, func: str, builder: Callable[[list[str]], str]
) -> str:
    """Replace every FUNC(args…) with builder(top-level-args), innermost
    nesting handled by repeated scanning. The \x02 lookbehind keeps a
    rewriter from matching inside another rewriter's sentinel output
    (e.g. TIME( inside from_unix\x02time(); a name in table position
    (``_TABLE_POS``) is left alone."""
    pat = re.compile(rf"(?<!\x02)\b{func}\s*\(", re.I)
    pos = 0
    while True:
        mo = pat.search(sql, pos)
        if not mo:
            return sql
        start = mo.start()
        if _TABLE_POS.search(sql, max(0, start - 80), start):
            pos = mo.end()
            continue
        pos = start
        i = _paren_end(sql, mo.end() - 1)
        inner = sql[mo.end() : i - 1]
        replacement = builder(split_top_level(inner))
        sql = sql[:start] + replacement + sql[i:]


_REGEXP_OP = re.compile(r"\s+(NOT\s+)?(?:REGEXP|RLIKE)\s+", re.I)
_PRIMARY = re.compile("\x00L\\d+\x00|[\\w.\"`$]+")


def _operand_end(s: str, i: int) -> int:
    """End of the primary expression starting at ``s[i]``: a masked
    literal, a column, a call or a parenthesized expression."""
    mo = _PRIMARY.match(s, i)
    j = mo.end() if mo else i
    if j < len(s) and s[j] == "(" and not (mo and s[i] == "\x00"):
        return _paren_end(s, j)
    return j


def rewrite_regexp(s: str, render: Callable[[bool, str], str]) -> str:
    """Replace each ``[NOT] REGEXP|RLIKE y`` by ``render(negated, y)``.
    MySQL's REGEXP searches anywhere in the subject and, under the
    default ``_ci`` collations, ignores case."""
    mo = _REGEXP_OP.search(s)
    while mo:
        end = _operand_end(s, mo.end())
        op = render(bool(mo.group(1)), s[mo.end():end])
        s = s[: mo.start()] + op + s[end:]
        mo = _REGEXP_OP.search(s, mo.start() + len(op))
    return s


def _group_concat(args_src: str, lits: list[str]) -> str:
    """GROUP_CONCAT([DISTINCT] expr [ORDER BY o [DESC]] [SEPARATOR 's']).

    → array_join(sort-aware collect, sep). ORDER BY an arbitrary key is
    supported via struct-sort + transform (works because array_sort on
    structs compares fields in order)."""
    src = args_src.strip()
    sep = "','"
    mo = re.search(r"\bSEPARATOR\s+(\S+)\s*$", src, re.I)
    if mo:
        sep = mo.group(1)
        src = src[: mo.start()].strip()
    order_expr = None
    desc = False
    mo = re.search(r"\bORDER\s+BY\s+(.+?)(\s+(ASC|DESC))?\s*$", src, re.I)
    if mo:
        order_expr = mo.group(1).strip()
        desc = (mo.group(3) or "").upper() == "DESC"
        src = src[: mo.start()].strip()
    distinct = False
    if re.match(r"^DISTINCT\b", src, re.I):
        distinct = True
        src = src[8:].strip()
    val = f"CAST({src} AS STRING)"
    collect = "collect_set" if distinct else "collect_list"
    if order_expr is None:
        return f"array_join({collect}({val}), {sep})"
    if order_expr == src or (distinct and order_expr):
        # MySQL requires ORDER BY == expr when DISTINCT — plain sort_array.
        arr = f"sort_array({collect}({val}), {str(not desc).lower()})"
        return f"array_join({arr}, {sep})"
    sorted_structs = (
        f"array_sort({collect}(struct({order_expr} AS o, {val} AS v))"
        + (", (l, r) -> CASE WHEN l.o < r.o THEN 1 WHEN l.o > r.o THEN -1 ELSE 0 END" if desc else "")
        + ")"
    )
    return f"array_join(transform({sorted_structs}, s -> s.v), {sep})"


def _convert_fmt(fmt_token: str, lits: list[str]) -> str:
    """Convert a masked %-format literal to a Spark pattern literal."""
    mo = re.fullmatch("\x00L(\\d+)\x00", fmt_token.strip())
    if not mo:
        return fmt_token  # dynamic format — pass through untouched
    idx = int(mo.group(1))
    pattern = mysql_format_to_spark(lits[idx][1:-1].replace("''", "'"))
    # the pattern quotes literal letters with ' — backslash-escape them
    # inside the Spark SQL string literal
    lits[idx] = "'" + pattern.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return fmt_token


def transpile_mysql(sql: str) -> str:
    """Translate one MySQL SELECT/view body into Spark SQL."""
    s, lits = mask_literals(sql)
    s = strip_introducers(s)
    # Spark's RLIKE searches too, but case-sensitively
    s = rewrite_regexp(
        s,
        lambda neg, p: f" {'NOT ' if neg else ''}RLIKE concat('(?i)', {p})",
    )

    # C5: LIMIT a, b → LIMIT b OFFSET a
    s = re.sub(
        r"\bLIMIT\s+(\d+)\s*,\s*(\d+)", r"LIMIT \2 OFFSET \1", s, flags=re.I
    )
    # C39: CAST(x AS SIGNED/UNSIGNED) — MySQL ROUNDS fractional input where
    # Spark's cast truncates, so wrap in round(). The sentinel prevents the
    # rewriter from re-matching its own CAST output.
    def _cast(a: list[str]) -> str:
        arg = a[0] if len(a) == 1 else ", ".join(a)
        mo = re.match(
            r"(?s)^(.*?)\s+AS\s+(SIGNED|UNSIGNED)(\s+INTEGER)?\s*$", arg, re.I
        )
        if mo:
            return f"CA\x02ST(round({mo.group(1)}, 0) AS BIGINT)"
        # MySQL-only target types Spark's CAST doesn't know
        mo = re.match(r"(?s)^(.*?)\s+AS\s+(\w+)(\([^)]*\))?\s*$", arg, re.I)
        if mo:
            expr, ty = mo.group(1), mo.group(2).upper()
            if ty == "DATETIME":
                return f"CA\x02ST({expr} AS TIMESTAMP)"
            if ty == "TIME":
                # CAST(x AS TIME(n)) keeps n fractional-second digits
                frac = re.match(r"\((\d+)\)", mo.group(3) or "")
                n = int(frac.group(1)) if frac else 0
                fmt = "HH:mm:ss" + ("." + "S" * n if n else "")
                return f"date_for\x02mat({expr}, '{fmt}')"
            if ty == "CHAR" and not mo.group(3):
                return f"CA\x02ST({expr} AS STRING)"
        return f"CA\x02ST({arg})"

    s = rewrite_call(s, "CAST", _cast)
    # C41/42/80: zero-arg system functions
    s = re.sub(r"\bSYSDATE\s*\(\s*\)", "current_timestamp()", s, flags=re.I)
    s = re.sub(r"\bCURDATE\s*\(\s*\)", "current_date()", s, flags=re.I)
    s = re.sub(
        r"\bCURTIME\s*\(\s*\)",
        "date_format(current_timestamp(), 'HH:mm:ss')",
        s,
        flags=re.I,
    )
    s = re.sub(r"\bDATABASE\s*\(\s*\)", "current_database()", s, flags=re.I)
    s = re.sub(r"\bSCHEMA\s*\(\s*\)", "current_database()", s, flags=re.I)
    s = re.sub(r"\bUSER\s*\(\s*\)", "current_user()", s, flags=re.I)

    # MySQL collation names → Spark collation identifiers (Spark 4 has
    # real collation support; the names differ): *_bin stays binary,
    # any *_ci becomes case-insensitive Unicode, anything else Unicode.
    def _collation(mo: re.Match) -> str:
        name = mo.group(1).lower()
        if name.endswith("_bin"):
            return "COLLATE UTF8_BINARY"
        if name.endswith("_ci"):
            return "COLLATE UNICODE_CI"
        return "COLLATE UNICODE"

    s = re.sub(r"\bCOLLATE\s+(\w+)", _collation, s, flags=re.I)

    # C31: ISNULL(x) → (x IS NULL)
    s = rewrite_call(s, "ISNULL", lambda a: f"({a[0]} IS NULL)")
    # C12-C28: classic MySQL aliases Spark lacks
    s = rewrite_call(s, "MID", lambda a: f"substring({', '.join(a)})")
    s = rewrite_call(s, "LCASE", lambda a: f"lower({a[0]})")
    s = rewrite_call(s, "UCASE", lambda a: f"upper({a[0]})")
    # C24: STRCMP
    s = rewrite_call(
        s,
        "STRCMP",
        lambda a: (
            f"(CASE WHEN {a[0]} = {a[1]} THEN 0 "
            f"WHEN {a[0]} < {a[1]} THEN -1 ELSE 1 END)"
        ),
    )
    # C7: GROUP_CONCAT — needs raw arg text (ORDER BY/SEPARATOR syntax)
    s = rewrite_call(s, "GROUP_CONCAT", lambda a: _group_concat(", ".join(a), lits))
    # C45/C46/C44: %-token formats inside literals. Outputs carry a \x02
    # sentinel so the case-insensitive rewriter can't re-match its own
    # output (date_format ← DATE_FORMAT would loop forever).
    s = rewrite_call(
        s,
        "DATE_FORMAT",
        lambda a: f"date_for\x02mat({a[0]}, {_convert_fmt(a[1], lits)})",
    )
    # C46: STR_TO_DATE — MySQL returns DATE for date-only formats, so
    # mirror functions/mysql_compat.str_to_date: to_date unless the raw
    # %-format carries a time token (%H/%i/%s/%T/%k).
    def _str_to_date(a: list[str]) -> str:
        fn = "to_timestamp"
        mo = re.fullmatch("\x00L(\\d+)\x00", a[1].strip())
        if mo and not any(
            tok in lits[int(mo.group(1))]
            for tok in ("%H", "%i", "%s", "%T", "%k")
        ):
            fn = "to_date"
        return f"{fn}({a[0]}, {_convert_fmt(a[1], lits)})"

    s = rewrite_call(s, "STR_TO_DATE", _str_to_date)
    s = rewrite_call(
        s,
        "FROM_UNIXTIME",
        lambda a: (
            f"from_unix\x02time({a[0]})"
            if len(a) == 1
            else f"from_unix\x02time({a[0]}, {_convert_fmt(a[1], lits)})"
        ),
    )
    # C40: CONVERT(x, T) / CONVERT(x USING cs)
    def _convert(a: list[str]) -> str:
        if len(a) == 1 and re.search(r"\bUSING\b", a[0], re.I):
            expr = re.split(r"\bUSING\b", a[0], flags=re.I)[0].strip()
            return f"CAST({expr} AS STRING)"
        t = a[1].strip().upper()
        if t in ("SIGNED", "UNSIGNED"):
            return f"CAST(round({a[0]}, 0) AS BIGINT)"
        t = {"CHAR": "STRING"}.get(t, t)
        return f"CAST({a[0]} AS {t})"

    s = rewrite_call(s, "CONVERT", _convert)
    # C60/C61: constructors — to_json over a struct/array. JSON_ARRAY
    # needs same-typed elements in Spark (MySQL's mixed-type arrays are
    # outside what a typed engine can express without stringifying).
    def _json_object(a: list[str]) -> str:
        if len(a) % 2:
            raise ValueError(
                "JSON_OBJECT requires an even number of arguments "
                f"(key/value pairs), got {len(a)}"
            )
        pairs = ", ".join(
            f"{a[i]}, {a[i + 1]}" for i in range(0, len(a) - 1, 2)
        )
        return f"to_json(named_struct({pairs}))"

    s = rewrite_call(s, "JSON_OBJECT", _json_object)
    s = rewrite_call(
        s, "JSON_ARRAY", lambda a: f"to_json(array({', '.join(a)}))"
    )

    # C62-64: JSON accessors
    s = rewrite_call(
        s, "JSON_UNQUOTE", lambda a: a[0]
    )  # get_json_object output is already unquoted
    s = rewrite_call(
        s, "JSON_EXTRACT", lambda a: f"get_json_object({a[0]}, {a[1]})"
    )
    s = rewrite_call(
        s, "JSON_VALUE", lambda a: f"get_json_object({a[0]}, {a[1]})"
    )
    # C66-C69: the wider JSON battery the fixture views use
    # (create_view.sql) — same semantics as functions/mysql_compat's
    # column implementations, emitted as Spark SQL text.
    def _jlen(a: list[str]) -> str:
        src = (
            f"get_json_object(CAST({a[0]} AS STRING), {a[1]})"
            if len(a) > 1
            else f"CAST({a[0]} AS STRING)"
        )
        return (
            f"CAST(CASE WHEN ({src}) IS NULL THEN NULL"
            f" WHEN json_array_length({src}) IS NOT NULL"
            f" THEN json_array_length({src})"
            f" WHEN trim({src}) LIKE '{{%' THEN size(json_object_keys({src}))"
            f" ELSE 1 END AS BIGINT)"
        )

    s = rewrite_call(s, "JSON_LENGTH", _jlen)
    s = rewrite_call(
        s, "JSON_KEYS", lambda a: f"json_object_keys(CAST({a[0]} AS STRING))"
    )
    s = rewrite_call(
        s,
        "JSON_VALID",
        lambda a: (
            f"(CASE WHEN ({a[0]}) IS NULL THEN CAST(NULL AS BOOLEAN)"
            f" ELSE try_parse_json(CAST({a[0]} AS STRING)) IS NOT NULL END)"
        ),
    )

    def _jtype(a: list[str]) -> str:
        t = f"trim(CAST({a[0]} AS STRING))"
        return (
            f"(CASE WHEN ({a[0]}) IS NULL THEN CAST(NULL AS STRING)"
            f" WHEN {t} LIKE '{{%' THEN 'OBJECT'"
            f" WHEN {t} LIKE '[%' THEN 'ARRAY'"
            f" WHEN {t} LIKE '\"%' THEN 'STRING'"
            f" WHEN {t} IN ('true', 'false') THEN 'BOOLEAN'"
            f" WHEN {t} = 'null' THEN 'NULL'"
            f" WHEN {t} RLIKE '^-?[0-9]+$' THEN 'INTEGER'"
            f" WHEN {t} RLIKE '^-?[0-9]+(\\\\.[0-9]+)?([eE][+-]?[0-9]+)?$'"
            f" THEN 'DOUBLE'"
            f" ELSE 'UNKNOWN' END)"
        )

    s = rewrite_call(s, "JSON_TYPE", _jtype)
    # C70-C72: UDF-backed names (register via mysql_compat.
    # register_compat_udfs — create_view does this automatically).
    # (j, 'one'|'all', path...) — 'all' chains with AND, 'one' with OR.
    # The mode arrives as a masked literal token; resolve it via lits.
    def _jcontains_path(a: list[str]) -> str:
        mode = a[1]
        mo = re.fullmatch("\x00L(\\d+)\x00", a[1].strip())
        if mo:
            mode = lits[int(mo.group(1))]
        joiner = " AND " if "all" in mode.lower() else " OR "
        return "(" + joiner.join(
            f"get_json_object(CAST({a[0]} AS STRING), {p}) IS NOT NULL"
            for p in a[2:]
        ) + ")"

    s = rewrite_call(s, "JSON_CONTAINS_PATH", _jcontains_path)
    # C73-C75: the mutation family (registered scalar UDFs; values travel
    # as strings — the UDF re-parses JSON-shaped values, MySQL-style).
    # MySQL accepts repeated (path, value) pairs / paths / documents —
    # chain the binary UDF left-to-right over the variadic tail, exactly
    # MySQL's documented evaluation order.
    def _json_pairwise(udf: str, fn: str):
        def build(a: list[str]) -> str:
            if len(a) < 3 or len(a) % 2 == 0:
                raise ValueError(
                    f"{fn} requires a document plus (path, value) pairs, "
                    f"got {len(a)} arguments"
                )
            out = f"CAST({a[0]} AS STRING)"
            for i in range(1, len(a) - 1, 2):
                out = f"{udf}({out}, {a[i]}, CAST({a[i + 1]} AS STRING))"
            return out

        return build

    for _fn, _udf in (
        ("JSON_SET", "mysql_json_set"),
        ("JSON_INSERT", "mysql_json_insert"),
        ("JSON_REPLACE", "mysql_json_replace"),
        ("JSON_ARRAY_APPEND", "mysql_json_array_append"),
        ("JSON_ARRAY_INSERT", "mysql_json_array_insert"),
    ):
        s = rewrite_call(s, _fn, _json_pairwise(_udf, _fn))

    def _json_remove(a: list[str]) -> str:
        if len(a) < 2:
            raise ValueError("JSON_REMOVE requires a document and ≥1 path")
        out = f"CAST({a[0]} AS STRING)"
        for p in a[1:]:
            out = f"mysql_json_remove({out}, {p})"
        return out

    s = rewrite_call(s, "JSON_REMOVE", _json_remove)

    def _json_merge(udf: str):
        def build(a: list[str]) -> str:
            if len(a) < 2:
                raise ValueError("JSON merge functions require ≥2 documents")
            out = f"CAST({a[0]} AS STRING)"
            for d in a[1:]:
                out = f"{udf}({out}, CAST({d} AS STRING))"
            return out

        return build

    s = rewrite_call(s, "JSON_MERGE_PATCH", _json_merge("mysql_json_merge_patch"))
    for _fn in ("JSON_MERGE_PRESERVE", "JSON_MERGE"):
        s = rewrite_call(s, _fn, _json_merge("mysql_json_merge_preserve"))
    s = rewrite_call(
        s, "JSON_PRETTY", lambda a: f"mysql_json_pretty(CAST({a[0]} AS STRING))"
    )
    s = rewrite_call(
        s, "JSON_DEPTH", lambda a: f"mysql_json_depth(CAST({a[0]} AS STRING))"
    )
    s = rewrite_call(
        s,
        "JSON_OVERLAPS",
        lambda a: (
            f"mysql_json_overlaps(CAST({a[0]} AS STRING), "
            f"CAST({a[1]} AS STRING))"
        ),
    )
    # C57: TIME literals/columns travel as strings (no Spark TimeType).
    # MySQL TIME parses right-aligned ('SS', 'MM:SS', 'HH:MM:SS') and the
    # sign applies to the WHOLE value: '-01:30:00' is -(3600+1800), not
    # -3600+1800 — so factor the sign out, sum absolute components, then
    # negate (try_element_at: missing components → 0, ANSI-safe).
    def _time_seconds(src: str) -> str:
        t = f"trim(CAST({src} AS STRING))"
        p = f"split(regexp_replace({t}, '^-', ''), ':')"
        mag = (
            f"(coalesce(CAST(try_element_at({p}, -3) AS BIGINT), 0) * 3600"
            f" + coalesce(CAST(try_element_at({p}, -2) AS BIGINT), 0) * 60"
            f" + CAST(CAST(try_element_at({p}, -1) AS DOUBLE) AS BIGINT))"
        )
        return f"(CASE WHEN {t} LIKE '-%' THEN -{mag} ELSE {mag} END)"

    s = rewrite_call(s, "TIME_TO_SEC", lambda a: _time_seconds(a[0]))

    def _sec_to_time(a: list[str]) -> str:
        n = f"CAST({a[0]} AS BIGINT)"
        return (
            f"concat_ws(':', lpad(CAST({n} div 3600 AS STRING), 2, '0'),"
            f" lpad(CAST(({n} % 3600) div 60 AS STRING), 2, '0'),"
            f" lpad(CAST({n} % 60 AS STRING), 2, '0'))"
        )

    s = rewrite_call(s, "SEC_TO_TIME", _sec_to_time)

    # C58: TIMEDIFF over timestamps → signed 'HH:MM:SS' (can exceed 24h)
    def _timediff(a: list[str]) -> str:
        sec = f"(unix_timestamp({a[0]}) - unix_timestamp({a[1]}))"
        ab = f"abs({sec})"
        return (
            f"concat(CASE WHEN {sec} < 0 THEN '-' ELSE '' END,"
            f" lpad(CAST({ab} div 3600 AS STRING), 2, '0'), ':',"
            f" lpad(CAST(({ab} % 3600) div 60 AS STRING), 2, '0'), ':',"
            f" lpad(CAST({ab} % 60 AS STRING), 2, '0'))"
        )

    s = rewrite_call(s, "TIMEDIFF", _timediff)

    # C58: ADDTIME/SUBTIME — shift by a (possibly signed / short-form)
    # 'HH:MM:SS' duration; _time_seconds handles sign + right-alignment.
    def _time_shift(sign: str):
        def build(a: list[str]) -> str:
            return (
                f"({a[0]} {sign} "
                f"make_dt_interval(0, 0, 0, {_time_seconds(a[1])}))"
            )

        return build

    s = rewrite_call(s, "ADDTIME", _time_shift("+"))
    s = rewrite_call(s, "SUBTIME", _time_shift("-"))
    # C21: INSERT(str, pos, len, newstr) — string splice → overlay
    s = rewrite_call(
        s,
        "INSERT",
        lambda a: f"overlay({a[0]}, {a[3]}, {a[1]}, {a[2]})"
        if len(a) == 4
        else f"INSE\x02RT({', '.join(a)})",
    )
    # C59: TIME(x) — time-part extraction as the engine's TIME carrier
    # (HH:mm:ss string; Spark's TIME type is unsupported in views)
    s = rewrite_call(
        s, "TIME", lambda a: f"date_format({a[0]}, 'HH:mm:ss')"
    )
    # C55: WEEK(d[, mode]). Default mode 0 = Sunday-start weeks numbered
    # 0-53 (week 1 begins at the year's first Sunday): with wd(jan1) as
    # the Sunday-based weekday of Jan 1, week = (doy + (wd+6) mod 7) / 7
    # — exact at year boundaries, unlike weekofyear (ISO = mode 3, kept
    # for an explicit mode 3 / WEEKOFYEAR; other modes fall back to ISO,
    # documented divergence).
    def _week(a: list[str]) -> str:
        mode = a[1].strip() if len(a) > 1 else "0"
        if mode != "0":
            return f"weekofyear({a[0]})"
        return (
            f"CAST(FLOOR((dayofyear({a[0]}) + "
            f"pmod(dayofweek(trunc({a[0]}, 'YEAR')) + 5, 7)) / 7) AS INT)"
        )

    s = rewrite_call(s, "WEEK", _week)

    # C55 family: YEARWEEK(d) mode 0 — days before the year's first
    # Sunday belong to the PREVIOUS year's last week (YYYYWW).
    def _week0_expr(d: str) -> str:
        return (
            f"CAST(FLOOR((dayofyear({d}) + "
            f"pmod(dayofweek(trunc({d}, 'YEAR')) + 5, 7)) / 7) AS INT)"
        )

    def _yearweek(a: list[str]) -> str:
        d = a[0]
        prev_dec31 = f"make_date(year({d}) - 1, 12, 31)"
        return (
            f"(CASE WHEN {_week0_expr(d)} = 0 "
            f"THEN (year({d}) - 1) * 100 + {_week0_expr(prev_dec31)} "
            f"ELSE year({d}) * 100 + {_week0_expr(d)} END)"
        )

    s = rewrite_call(s, "YEARWEEK", _yearweek)
    # C34 spellings with direct Spark equivalents
    s = rewrite_call(
        s, "FORMAT", lambda a: f"format_number({a[0]}, {a[1]})"
    )
    s = rewrite_call(
        s, "OCT", lambda a: f"conv(CAST({a[0]} AS STRING), 10, 8)"
    )
    # C44: TO_DAYS — days since year 0 (Gregorian; constant offset 366
    # from Spark's proleptic day count anchored at 0001-01-01)
    s = rewrite_call(
        s, "TO_DAYS", lambda a: f"(datediff({a[0]}, DATE'0001-01-01') + 366)"
    )

    def _field(a: list[str]) -> str:
        whens = " ".join(
            f"WHEN {a[0]} = {v} THEN {i}" for i, v in enumerate(a[1:], 1)
        )
        return f"(CASE {whens} ELSE 0 END)"

    s = rewrite_call(s, "FIELD", _field)
    # infix MOD (the MOD(a,b) function is Spark-native and left alone)
    s = re.sub(r"\bMOD\b(?!\s*\()", "%", s, flags=re.I)
    # NULL-safe equal: Spark accepts <=> natively but the transpiled text
    # also feeds the PG view-DDL path — IS NOT DISTINCT FROM is the ANSI
    # spelling all three engines (Spark/PG/DuckDB) execute.
    s = re.sub(r"<=>", " IS NOT DISTINCT FROM ", s)

    # C48: DATE_ADD/DATE_SUB with INTERVAL units → arithmetic (Spark's
    # date_add only takes day counts; +/- INTERVAL covers every unit)
    def _date_arith(sign: str):
        def build(a: list[str]) -> str:
            if len(a) > 1 and re.match(r"^\s*INTERVAL\b", a[1], re.I):
                return f"({a[0]} {sign} {a[1]})"
            fn = "date_add" if sign == "+" else "date_sub"
            return f"date_\x02{fn[5:]}({', '.join(a)})"

        return build

    s = rewrite_call(s, "DATE_ADD", _date_arith("+"))
    s = rewrite_call(s, "DATE_SUB", _date_arith("-"))
    s = rewrite_call(s, "ADDDATE", _date_arith("+"))
    s = rewrite_call(s, "SUBDATE", _date_arith("-"))

    # C79: INET_ATON / INET_NTOA
    s = rewrite_call(
        s,
        "INET_ATON",
        lambda a: (
            f"(CAST(split({a[0]}, '\\\\.')[0] AS BIGINT) * 16777216 + "
            f"CAST(split({a[0]}, '\\\\.')[1] AS BIGINT) * 65536 + "
            f"CAST(split({a[0]}, '\\\\.')[2] AS BIGINT) * 256 + "
            f"CAST(split({a[0]}, '\\\\.')[3] AS BIGINT))"
        ),
    )
    s = rewrite_call(
        s,
        "INET_NTOA",
        lambda a: (
            f"concat_ws('.', CAST(CAST({a[0]} AS BIGINT) div 16777216 % 256 AS STRING), "
            f"CAST(CAST({a[0]} AS BIGINT) div 65536 % 256 AS STRING), "
            f"CAST(CAST({a[0]} AS BIGINT) div 256 % 256 AS STRING), "
            f"CAST(CAST({a[0]} AS BIGINT) % 256 AS STRING))"
        ),
    )

    s = s.replace("\x02", "")  # drop loop-guard sentinels
    return unmask_literals(s, lits).strip()


def create_view(spark, name: str, mysql_sql: str, replace: bool = True):
    """C94: view DDL — translate the MySQL body and register as a Spark
    temp view; returns the transpiled text for inspection/sink DDL."""
    from mysql2pg_spark.functions.mysql_compat import register_compat_udfs

    register_compat_udfs(spark)  # JSON_PRETTY/DEPTH/OVERLAPS call sites
    body = transpile_mysql(mysql_sql)
    clause = "CREATE OR REPLACE TEMP VIEW" if replace else "CREATE TEMP VIEW"
    spark.sql(f"{clause} {name} AS {body}")
    return body
