"""MySQL → ANSI SQL for the SINK side of a migration: the one
translator for view bodies and every DDL expression.

``transpile_mysql`` (transpile.py) targets Spark SQL — the engine's own
dialect, which legally keeps backticks, IFNULL, DATE_FORMAT and friends.
A CREATE VIEW shipped to a real server needs the target engine's
spellings instead, and so do routine, trigger and event bodies, CHECKs,
generated columns, expression defaults, functional index keys and
partition keys — all of which render here (postgres spelling). This is
the reference's ConvertViewDDL (sync_viewddl.go) and function-builtin
table (sync_functions.go:477-570) as ONE catalog:

- IFNULL→COALESCE, IF→CASE, CONCAT→``||`` over text casts (NULL if any
  argument is NULL), GROUP_CONCAT→string_agg, CONVERT→CAST,
  DATE_FORMAT→to_char/strftime (the token table in
  ``functions/datetime_fmt.py``), DATEDIFF, SUBSTRING_INDEX,
  REGEXP/RLIKE, charset introducers, UUID(), NOW(n), unquoted
  ``INTERVAL n unit``, date/JSON/system functions, CAST SIGNED→BIGINT,
  LIMIT a,b → LIMIT/OFFSET …;
- nested calls are handled by a balanced-paren scanner
  (``rewrite_call``) instead of one-shot ``[^,()]+`` regexes — the
  reference's documented weakness on nested arguments — and string
  literals are masked first so quoted text is never rewritten;
- two target spellings: ``postgres`` (the production target) and
  ``duckdb`` (the in-container integration engine), chosen per
  function only where the engines actually differ.

A function neither target can express (JSON_PRETTY/DEPTH/OVERLAPS —
the reference has no mapping for them either) keeps its MySQL name, so
the engine rejects the statement naming it: the keep-going view and
DDL stages log it per object, and ``sinks.ddl.pg_expr_default`` drops
such a default visibly.
"""

from __future__ import annotations

import re

from mysql2pg_spark.dialect.transpile import (
    mask_literals,
    rewrite_call,
    rewrite_regexp,
    split_top_level,
    strip_introducers,
    unmask_literals,
)
from mysql2pg_spark.functions.datetime_fmt import convert_mysql_format

_LIT = re.compile("\x00L(\\d+)\x00")


def _ts(x: str) -> str:
    return f"CAST({x} AS TIMESTAMP)"


def _extract(unit: str, x: str) -> str:
    return f"CAST(EXTRACT({unit} FROM {_ts(x)}) AS BIGINT)"


def _jsonb(x: str) -> str:
    return f"CAST({x} AS jsonb)"


def _pg_json_path(path_lit: str) -> str:
    """'$.a.b' / '$[0]' → PG text-array path '{a,b}' / '{0}'."""
    p = path_lit.strip()
    parts: list[str] = []
    for seg in re.findall(r"\.([A-Za-z_][A-Za-z0-9_]*)|\[(\d+)\]", p):
        parts.append(seg[0] or seg[1])
    return "{" + ",".join(parts) + "}"


def _txt(x: str) -> str:
    """MySQL implicitly casts ANY argument of a string function to its
    decimal string rendering; strict engines (PG/DuckDB) bind-error on
    length(bigint) etc. — coerce explicitly."""
    return f"CAST({x} AS TEXT)"


#: string functions whose EVERY argument MySQL coerces to text
_COERCE_ALL = ("LENGTH", "UPPER", "LOWER", "TRIM", "LTRIM", "RTRIM",
               "REVERSE", "ASCII", "REPLACE", "INSTR")
#: (name, text-arg indexes) for mixed-signature functions
_COERCE_SOME = (
    ("SUBSTRING", (0,)), ("LEFT", (0,)), ("RIGHT", (0,)),
    ("LPAD", (0, 2)), ("RPAD", (0, 2)), ("REPEAT", (0,)),
)

_TRIM_SPECIAL = re.compile(r"(?i)\b(BOTH|LEADING|TRAILING)\b|\sFROM\s")


def _coerce_strings(s: str) -> str:
    """MySQL-style implicit text coercion for string-function args."""
    for name in _COERCE_ALL:
        sent = name[:2] + "\x02" + name[2:]

        def build(a: list[str], name=name, sent=sent) -> str:
            if name == "TRIM" and len(a) == 1 and _TRIM_SPECIAL.search(a[0]):
                return f"{sent}({a[0]})"  # TRIM(BOTH … FROM …) untouched
            return f"{sent}({', '.join(_txt(x) for x in a)})"

        s = rewrite_call(s, name, build)
    for name, idxs in _COERCE_SOME:
        sent = name[:2] + "\x02" + name[2:]

        def build(a: list[str], idxs=idxs, sent=sent) -> str:
            if len(a) == 1 and _TRIM_SPECIAL.search(a[0]):
                return f"{sent}({a[0]})"  # SUBSTRING(x FROM n) untouched
            out = [_txt(x) if j in idxs else x for j, x in enumerate(a)]
            return f"{sent}({', '.join(out)})"

        s = rewrite_call(s, name, build)
    return s


def transpile_mysql_ansi(
    sql: str, dialect: str = "postgres", unify_types: bool = False
) -> str:
    """Translate one MySQL SELECT/view body into the target engine's
    ANSI spelling. ``dialect``: ``postgres`` (default) or ``duckdb``.

    ``unify_types=True`` casts every COALESCE argument to text — the
    reference's unconditional hack (sync_viewddl.go:377-383) for
    MySQL's loosely-typed ``COALESCE(varchar_col, ts_col, 0)`` — and
    every GREATEST/LEAST argument to a number (boolean/smallint mixes).
    It is OFF by default (it would retype numeric COALESCEs and break
    GREATEST over dates or strings); the execute path enables it as a
    per-view RETRY when the engine rejects the plain form with such a
    type error — the engine is the mixed-type detector a text
    transpiler cannot be (C33)."""
    duck = dialect == "duckdb"
    s, lits = mask_literals(sql)

    def lit(text: str) -> str:
        """A new string literal, masked like the source's own."""
        lits.append("'" + text.replace("'", "''") + "'")
        return f"\x00L{len(lits) - 1}\x00"

    # charset introducers (_utf8mb4'…', N'…'): the literal is the value
    s = strip_introducers(s)
    # identifiers + LIMIT
    s = re.sub(
        r"`((?:[^`]|``)+)`",
        lambda m: '"' + m.group(1).replace("``", "`") + '"',
        s,
    )
    s = re.sub(
        r"\bLIMIT\s+(\d+)\s*,\s*(\d+)", r"LIMIT \2 OFFSET \1", s, flags=re.I
    )

    # ---- conditionals -----------------------------------------------------
    s = re.sub(r"\bIFNULL\s*\(", "COALESCE(", s, flags=re.I)
    if unify_types:
        # CO\x02ALESCE sentinel: rewrite_call rescans its output, so a
        # bare COALESCE( replacement would re-match forever
        s = rewrite_call(
            s,
            "COALESCE",
            lambda a: (
                "CO\x02ALESCE("
                + ", ".join(f"CA\x02ST({x.strip()} AS text)" for x in a)
                + ")"
            ),
        )
    s = rewrite_call(
        s,
        "IF",
        lambda a: (
            f"CASE WHEN {a[0]} THEN {a[1]} ELSE {a[2]} END"
            if len(a) == 3
            else f"IF\x02({', '.join(a)})"
        ),
    )
    s = rewrite_call(s, "ISNULL", lambda a: f"(({a[0]}) IS NULL)")

    # REGEXP/RLIKE: a case-insensitive search anywhere in the subject.
    # PG's ~* is one; DuckDB's ~ must match the WHOLE subject, so its
    # pattern operand is wrapped in (?is).*(?:…).*
    s = rewrite_regexp(s, lambda neg, p: (
        (" !~ " if neg else " ~ ")
        + f"({lit('(?is).*(?:')} || {p} || {lit(').*')})" if duck
        else (" !~* " if neg else " ~* ") + p
    ))

    # MySQL collation names have no ANSI analog; comparisons fall back
    # to the target's default collation (the reference leaves these in
    # and its converted views fail — dropping is strictly better).
    s = re.sub(r"\bCOLLATE\s+\w+", "", s, flags=re.I)

    # ---- plain renames ----------------------------------------------------
    s = re.sub(r"\bUCASE\s*\(", "UPPER(", s, flags=re.I)
    s = re.sub(r"\bLCASE\s*\(", "LOWER(", s, flags=re.I)
    s = re.sub(r"\bMID\s*\(", "SUBSTRING(", s, flags=re.I)
    s = re.sub(r"\bCHAR_LENGTH\s*\(", "LENGTH(", s, flags=re.I)
    if not duck:  # PG: INSTR/LOG10 missing, LOG(x) is base-10
        s = rewrite_call(
            s,
            "INSTR",
            lambda a: f"STRPOS({_txt(a[0])}, {_txt(a[1])})",
        )
    s = rewrite_call(
        s,
        "LOG",
        lambda a: f"LN\x02({a[0]})" if len(a) == 1
        else f"(LN\x02({a[1]}) / LN\x02({a[0]}))",
    )
    s = rewrite_call(s, "SPACE", lambda a: f"REP\x02EAT(' ', {a[0]})")
    s = rewrite_call(
        s,
        "STRCMP",
        lambda a: (
            f"CASE WHEN {_txt(a[0])} < {_txt(a[1])} THEN -1 "
            f"WHEN {_txt(a[0])} > {_txt(a[1])} THEN 1 ELSE 0 END"
        ),
    )
    # MySQL-style implicit text coercion (length(bigint) etc. bind-error
    # on strict engines) — after the renames so UCASE/MID/CHAR_LENGTH
    # land in their canonical spelling first
    s = _coerce_strings(s)
    # CONCAT is NULL if any argument is NULL and takes any type: text
    # casts joined by || (string literals need no cast). CONCAT_WS
    # skips NULLs and takes any type natively on both engines.
    s = rewrite_call(
        s,
        "CONCAT",
        lambda a: "(" + " || ".join(
            x if _LIT.fullmatch(x.strip()) else _txt(x) for x in a
        ) + ")",
    )

    # …and the numeric mirror: MySQL math functions take ANY type
    # (booleans are tinyints there); strict engines bind-error on
    # round(boolean, 2). PG needs NUMERIC for 2-arg round; DuckDB takes
    # DOUBLE everywhere.
    num = (lambda x: f"CAST({x} AS DOUBLE)") if duck else (
        lambda x: f"CAST({x} AS NUMERIC)"
    )
    # GREATEST/LEAST compare any one type (dates, strings) and join
    # the loop only on the type-unifying retry
    for fn in ("ROUND", "CEILING", "CEIL", "FLOOR", "ABS", "SQRT",
               "SIN", "COS", "TAN", "EXP", "POWER", "MOD") + (
        ("GREATEST", "LEAST") if unify_types else ()
    ):
        sent = fn[:2] + "\x02" + fn[2:]

        def build(a: list[str], sent=sent, fn=fn) -> str:
            out = [num(x) for x in a]
            if fn == "ROUND" and len(a) == 2:
                out[1] = a[1]  # digit count stays an integer
            return f"{sent}({', '.join(out)})"

        s = rewrite_call(s, fn, build)

    # SUBSTRING_INDEX: joined first-n (or last-n for negative) parts
    def _ssi(a: list[str]) -> str:
        x, d, n = _txt(a[0]), a[1].strip(), a[2].strip()
        if duck:
            # an empty slice joins to NULL in DuckDB: count 0 is ''
            arr = f"string_split({x}, {d})"
            return (
                f"(CASE WHEN ({n}) = 0 THEN substr({x}, 1, 0)"
                f" ELSE array_to_string(CASE WHEN ({n}) > 0"
                f" THEN list_slice({arr}, 1, {n})"
                f" ELSE list_slice({arr},"
                f" greatest(1, len({arr}) + ({n}) + 1), len({arr}))"
                f" END, {d}) END)"
            )
        arr = f"string_to_array({x}, {d})"
        ln = f"COALESCE(array_length({arr}, 1), 0)"
        return (
            f"(CASE WHEN ({n}) >= 0"
            f" THEN array_to_string(({arr})[1:({n})], {d})"
            f" ELSE array_to_string(({arr})"
            f"[GREATEST(1, {ln} + ({n}) + 1):], {d}) END)"
        )

    s = rewrite_call(s, "SUBSTRING_INDEX", _ssi)

    # ---- CAST / CONVERT ---------------------------------------------------
    def _cast_target(arg: str) -> str | None:
        mo = re.match(r"(?s)^(.*?)\s+AS\s+(\w+)(\([^)]*\))?\s*$", arg, re.I)
        if not mo:
            return None
        expr, ty, prec = mo.group(1), mo.group(2).upper(), mo.group(3) or ""
        if ty in ("SIGNED", "UNSIGNED"):
            return f"CA\x02ST({expr} AS BIGINT)"
        if ty == "DATETIME":
            return f"CA\x02ST({expr} AS TIMESTAMP)"
        if ty == "CHAR" and not prec:
            return f"CA\x02ST({expr} AS TEXT)"
        return f"CA\x02ST({expr} AS {ty}{prec})"

    def _cast(a: list[str]) -> str:
        arg = ", ".join(a)
        mo = re.match(r"(?s)^(.*?)\s+USING\s+\w+\s*$", arg, re.I)
        if mo:
            return f"CA\x02ST({mo.group(1)} AS TEXT)"
        return _cast_target(arg) or f"CA\x02ST({arg})"

    s = rewrite_call(s, "CAST", _cast)

    def _convert(a: list[str]) -> str:
        if len(a) == 1:  # CONVERT(x USING charset)
            mo = re.match(r"(?s)^(.*?)\s+USING\s+\w+\s*$", a[0], re.I)
            if mo:
                return f"CA\x02ST({mo.group(1)} AS TEXT)"
            return f"CONVERT\x02({a[0]})"
        return _cast_target(f"{a[0]} AS {a[1].strip()}") or (
            f"CA\x02ST({a[0]} AS {a[1].strip()})"
        )

    s = rewrite_call(s, "CONVERT", _convert)

    # ---- GROUP_CONCAT → string_agg ---------------------------------------
    def _group_concat(a: list[str]) -> str:
        src = ", ".join(a).strip()
        sep = "','"
        mo = re.search(r"\bSEPARATOR\s+(\S+)\s*$", src, re.I)
        if mo:
            sep = mo.group(1)
            src = src[: mo.start()].strip()
        order = ""
        mo = re.search(r"\bORDER\s+BY\s+(.+?)\s*$", src, re.I)
        if mo:
            order = " ORDER BY " + mo.group(1)
            src = src[: mo.start()].strip()
        distinct = ""
        mo = re.match(r"(?i)^DISTINCT\s+(.*)$", src, re.S)
        if mo:
            distinct = "DISTINCT "
            src = mo.group(1)
        arg = f"CA\x02ST({src} AS TEXT)"
        if distinct and order:
            # PG requires the ORDER BY expr of a DISTINCT aggregate to
            # appear verbatim in the argument list; MySQL only allows
            # ORDER BY == the expression here anyway, so order by the
            # cast-wrapped argument itself — keeping the direction
            desc = bool(re.search(r"(?i)\bDESC\s*$", order))
            order = " ORDER BY " + arg + (" DESC" if desc else "")
        return f"STRING_AGG({distinct}{arg}, {sep}{order})"

    s = rewrite_call(s, "GROUP_CONCAT", _group_concat)

    # ---- system / time-now ------------------------------------------------
    s = re.sub(
        r"\b(?:NOW|SYSDATE)\s*\(\s*(\d*)\s*\)",
        lambda mo: "CURRENT_TIMESTAMP"
        + (f"({mo.group(1)})" if mo.group(1) else ""),
        s,
        flags=re.I,
    )
    s = re.sub(
        r"\b(?:CURDATE|CURRENT_DATE)\s*\(\s*\)", "CURRENT_DATE", s,
        flags=re.I,
    )
    s = re.sub(r"\bUUID\s*\(\s*\)", "gen_random_uuid()", s, flags=re.I)
    s = re.sub(
        r"\bCURTIME\s*\(\s*\)",
        "strf\x02time(CURRENT_TIMESTAMP, '%H:%M:%S')"
        if duck
        else "to_\x02char(CURRENT_TIMESTAMP, 'HH24:MI:SS')",
        s,
        flags=re.I,
    )
    s = re.sub(r"\bDATABASE\s*\(\s*\)", "CURRENT_SCHEMA", s, flags=re.I)

    def _unix_ts(a: list[str]) -> str:
        x = a[0].strip() if a and a[0].strip() else "CURRENT_TIMESTAMP"
        if duck:
            return f"CAST(epo\x02ch({_ts(x)}) AS BIGINT)"
        return f"CAST(EXTRACT(EPOCH FROM {_ts(x)}) AS BIGINT)"

    s = rewrite_call(s, "UNIX_TIMESTAMP", _unix_ts)
    s = re.sub(r"\bFROM_UNIXTIME\s*\(", "TO_TIMESTAMP\x02(", s, flags=re.I)

    # ---- date/time --------------------------------------------------------
    def _date_format(a: list[str]) -> str:
        expr, fmt = a[0], a[1].strip()
        mo = _LIT.fullmatch(fmt)
        if mo is None:  # dynamic format string: cannot convert tokens
            return f"DATE_FOR\x02MAT({', '.join(a)})"
        raw = lits[int(mo.group(1))][1:-1].replace("''", "'")
        if duck:
            fmt = lit(convert_mysql_format(raw, "strftime"))
            return f"strf\x02time({_ts(expr)}, {fmt})"
        fmt = lit(convert_mysql_format(raw, "pg"))
        return f"to_\x02char({_ts(expr)}, {fmt})"

    s = rewrite_call(s, "DATE_FORMAT", _date_format)

    def _datediff(a: list[str]) -> str:
        if duck:
            return (
                f"date_di\x02ff('day', CAST({a[1]} AS DATE), "
                f"CAST({a[0]} AS DATE))"
            )
        return f"(CAST({a[0]} AS DATE) - CAST({a[1]} AS DATE))"

    s = rewrite_call(s, "DATEDIFF", _datediff)

    # MySQL's unquoted INTERVAL n unit: PG takes only the quoted form
    # and has no QUARTER unit, and neither engine takes a bare column
    # count — scale one unit by it instead
    def _interval(mo: re.Match) -> str:
        n, unit = mo.group(1), mo.group(2).upper()
        if unit == "QUARTER":
            n, unit = f"{n} * 3", "MONTH"
        if re.fullmatch(r"[-+]?\d+(?:\.\d+)?", n):
            return "INTERVAL " + lit(f"{n} {unit}")
        return f"({n} * INTERVAL {lit('1 ' + unit)})"

    s = re.sub(
        r"\bINTERVAL\s+([-+]?\d+(?:\.\d+)?|[A-Za-z_][\w.]*)"
        r"\s+([A-Za-z]+)\b",
        _interval,
        s,
        flags=re.I,
    )

    s = rewrite_call(s, "DATE_ADD", lambda a: f"({_ts(a[0])} + {a[1]})")
    s = rewrite_call(s, "DATE_SUB", lambda a: f"({_ts(a[0])} - {a[1]})")

    def _timestampdiff(a: list[str]) -> str:
        """MySQL counts COMPLETE elapsed units truncated TOWARD ZERO —
        not boundary crossings (DuckDB date_diff), not rounded division
        (a bare numeric→bigint cast in PG rounds), and not floor
        (which overshoots for negative intervals)."""
        unit = a[0].strip().lower()
        secs = {"microsecond": "0.000001", "second": "1", "minute": "60",
                "hour": "3600", "day": "86400", "week": "604800"}
        if duck:
            if unit in secs:
                return (
                    f"CAST(trunc(epo\x02ch({_ts(a[2])} - {_ts(a[1])})"
                    f" / {secs[unit]}) AS BIGINT)"
                )
            # complete months from boundary crossings, corrected in
            # BOTH directions: one too many when adding nd months
            # overshoots the end (positive), one too few when it
            # undershoots (negative)
            nd = f"date_di\x02ff('month', {_ts(a[1])}, {_ts(a[2])})"
            shifted = f"({_ts(a[1])} + to_months(CAST({nd} AS INT)))"
            full = (
                f"({nd}"
                f" - CASE WHEN {nd} >= 0 AND {shifted} > {_ts(a[2])}"
                f" THEN 1 ELSE 0 END"
                f" + CASE WHEN {nd} < 0 AND {shifted} < {_ts(a[2])}"
                f" THEN 1 ELSE 0 END)"
            )
            div = {"month": 1, "quarter": 3, "year": 12}.get(unit, 1)
            return f"CAST(trunc(CAST({full} AS DOUBLE) / {div}) AS BIGINT)"
        if unit in secs:
            return (
                f"CAST(TRUNC(EXTRACT(EPOCH FROM"
                f" ({_ts(a[2])} - {_ts(a[1])})) / {secs[unit]}) AS BIGINT)"
            )
        # AGE yields complete calendar months with MySQL's toward-zero
        # sign behavior already
        months = (
            f"((EXTRACT(YEAR FROM AGE({_ts(a[2])}, {_ts(a[1])})) * 12"
            f" + EXTRACT(MONTH FROM AGE({_ts(a[2])}, {_ts(a[1])}))))"
        )
        div = {"month": 1, "quarter": 3, "year": 12}.get(unit, 1)
        return f"CAST(TRUNC({months} / {div}::numeric) AS BIGINT)"

    s = rewrite_call(s, "TIMESTAMPDIFF", _timestampdiff)

    def _time_to_sec(a: list[str]) -> str:
        if duck:
            return (
                f"CAST(date_di\x02ff('second', TIME '00:00:00', "
                f"CAST({a[0]} AS TIME)) AS BIGINT)"
            )
        return (
            f"CAST(EXTRACT(EPOCH FROM CAST({a[0]} AS TIME)) AS BIGINT)"
        )

    s = rewrite_call(s, "TIME_TO_SEC", _time_to_sec)

    def _sec_to_time(a: list[str]) -> str:
        if duck:
            return (
                f"CAST(TIME '00:00:00' + CAST({a[0]} AS BIGINT)"
                f" * INTERVAL 1 SECOND AS VARCHAR)"
            )
        return f"to_\x02char(CAST({a[0]} AS BIGINT) * INTERVAL '1 second', 'HH24:MI:SS')"

    s = rewrite_call(s, "SEC_TO_TIME", _sec_to_time)

    def _timediff(a: list[str]) -> str:
        if duck:
            return f"CAST(({_ts(a[0])} - {_ts(a[1])}) AS VARCHAR)"
        return f"to_\x02char({_ts(a[0])} - {_ts(a[1])}, 'HH24:MI:SS')"

    s = rewrite_call(s, "TIMEDIFF", _timediff)

    # PG has no bare year()/month()/…, and DuckDB's bind no string
    # argument (MySQL reads any date-like value): EXTRACT over a cast
    for fn, unit in [("DAYOFYEAR", "DOY"), ("DAYOFMONTH", "DAY")] + [
        (u, u) for u in ("YEAR", "MONTH", "DAY", "HOUR", "MINUTE",
                         "SECOND", "QUARTER", "WEEK")
    ]:
        s = rewrite_call(s, fn, lambda a, u=unit: _extract(u, a[0]))
    s = rewrite_call(
        s,
        "DAYOFWEEK",
        lambda a: f"(CAST(EXTRACT(DOW FROM {_ts(a[0])}) AS BIGINT) + 1)",
    )
    s = rewrite_call(
        s,
        "LAST_DAY",
        lambda a: (
            f"CAST(DATE_TRUNC('month', {_ts(a[0])})"
            f" + INTERVAL '1 month' - INTERVAL '1 day' AS DATE)"
        ),
    )

    s = rewrite_call(s, "TIME", lambda a: f"CAST({a[0]} AS TIME)")
    s = rewrite_call(s, "DATE", lambda a: f"CAST({a[0]} AS DATE)")

    # ---- JSON -------------------------------------------------------------
    def _inner_extract(arg: str) -> tuple[str, str] | None:
        mo = re.match(r"(?is)^\s*JSON_EXTRACT\s*\((.*)\)\s*$", arg.strip())
        if not mo:
            return None
        parts = split_top_level(mo.group(1))
        return (parts[0], parts[1].strip()) if len(parts) == 2 else None

    def _pg_path(fmt_tok: str) -> str | None:
        mo = _LIT.fullmatch(fmt_tok)
        if mo is None:
            return None
        return "'" + _pg_json_path(lits[int(mo.group(1))][1:-1]) + "'"

    def _json_unquote(a: list[str]) -> str:
        inner = _inner_extract(a[0])
        if duck:
            if inner:
                return (
                    f"json_ex\x02tract_string({inner[0]}, {inner[1]})"
                )
            return f"json_ex\x02tract_string({a[0]}, '$')"
        if inner:
            p = _pg_path(inner[1])
            if p is not None:
                return f"({_jsonb(inner[0])} #>> {p})"
        return f"({_jsonb(a[0])} #>> '{{}}')"

    s = rewrite_call(s, "JSON_UNQUOTE", _json_unquote)

    if not duck:
        def _json_extract(a: list[str]) -> str:
            p = _pg_path(a[1].strip())
            if p is None:
                return f"JSON_EX\x02TRACT({', '.join(a)})"
            return f"({_jsonb(a[0])} #> {p})"

        s = rewrite_call(s, "JSON_EXTRACT", _json_extract)
        s = rewrite_call(
            s,
            "JSON_LENGTH",
            lambda a: (
                f"(CASE WHEN jsonb_typeof({_jsonb(a[0])}) = 'array'"
                f" THEN jsonb_array_length({_jsonb(a[0])})"
                f" WHEN jsonb_typeof({_jsonb(a[0])}) = 'object'"
                f" THEN (SELECT count(*) FROM"
                f" jsonb_object_keys({_jsonb(a[0])}))"
                f" ELSE 1 END)"
            ),
        )
        s = rewrite_call(
            s,
            "JSON_KEYS",
            lambda a: (
                f"(SELECT jsonb_agg(k) FROM"
                f" jsonb_object_keys({_jsonb(a[0])}) AS k)"
            ),
        )
        s = rewrite_call(
            s, "JSON_TYPE", lambda a: f"jsonb_typeof({_jsonb(a[0])})"
        )
    else:
        s = rewrite_call(
            s,
            "JSON_LENGTH",
            lambda a: (
                f"(CASE WHEN js\x02on_type({a[0]}) = 'ARRAY'"
                f" THEN js\x02on_array_length({a[0]})"
                f" WHEN js\x02on_type({a[0]}) = 'OBJECT'"
                f" THEN len(js\x02on_keys({a[0]}))"
                f" ELSE 1 END)"
            ),
        )

        def _contains_path(a: list[str]) -> str:
            mode = a[1].strip().strip("'\"").lower()
            mo = _LIT.fullmatch(a[1].strip())
            if mo is not None:
                mode = lits[int(mo.group(1))][1:-1].lower()
            op = " AND " if mode == "all" else " OR "
            checks = [
                f"(js\x02on_extract({a[0]}, {p}) IS NOT NULL)"
                for p in a[2:]
            ]
            return "(" + op.join(checks) + ")"

        s = rewrite_call(s, "JSON_CONTAINS_PATH", _contains_path)

    s = s.replace("\x02", "")
    return unmask_literals(s, lits).strip()
