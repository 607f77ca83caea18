"""MySQL DATE_FORMAT/STR_TO_DATE ``%`` tokens → every target's pattern.

The reference passes MySQL ``%`` tokens through to PostgreSQL ``to_char``
unconverted — a documented latent bug (SURVEY.md C45,
sync_viewddl.go:91,592). This engine converts them with ONE token table
(a column per target) and ONE scanner, so Spark, PostgreSQL and DuckDB
cannot disagree about a token. Literal text between tokens is quoted
the target's way — ``'…'`` in Spark patterns, ``"…"`` in ``to_char``,
``%%`` in strftime — so ``'%Y year'`` prints ``2024 year`` and
``'%%Y'`` prints ``%Y`` everywhere. An unknown ``%x`` prints ``x``, as
in MySQL.
"""

from __future__ import annotations

#: MySQL token → (Spark datetime pattern, PostgreSQL ``to_char``
#: template, C ``strftime`` as DuckDB spells it).
DATE_FORMAT_TOKENS: dict[str, tuple[str, str, str]] = {
    "%Y": ("yyyy", "YYYY", "%Y"),
    "%y": ("yy", "YY", "%y"),
    "%m": ("MM", "MM", "%m"),
    "%c": ("M", "FMMM", "%-m"),
    "%d": ("dd", "DD", "%d"),
    "%e": ("d", "FMDD", "%-d"),
    "%H": ("HH", "HH24", "%H"),
    "%k": ("H", "FMHH24", "%-H"),
    "%h": ("hh", "HH12", "%I"),
    "%I": ("hh", "HH12", "%I"),
    "%l": ("h", "FMHH12", "%-I"),
    "%i": ("mm", "MI", "%M"),  # MySQL %i = minutes
    "%s": ("ss", "SS", "%S"),
    "%S": ("ss", "SS", "%S"),
    "%f": ("SSSSSS", "US", "%f"),
    "%p": ("a", "AM", "%p"),
    "%W": ("EEEE", "FMDay", "%A"),
    "%a": ("EEE", "Dy", "%a"),
    "%b": ("MMM", "Mon", "%b"),
    "%M": ("MMMM", "FMMonth", "%B"),
    "%j": ("DDD", "DDD", "%j"),
    "%T": ("HH:mm:ss", "HH24:MI:SS", "%H:%M:%S"),
    "%r": ("hh:mm:ss a", "HH12:MI:SS AM", "%I:%M:%S %p"),
    "%%": ("%", "%", "%%"),
}

_ALPHA = set("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")


def _quote_spark(run: str) -> str:
    if any(ch in _ALPHA for ch in run):
        return "'" + run.replace("'", "''") + "'"
    # non-alpha runs pass through, but a bare quote still needs the
    # Spark-pattern '' escape (found by hypothesis: fmt="'")
    return run.replace("'", "''")


def _quote_to_char(run: str) -> str:
    # inside "…" a backslash takes the next character literally
    if any(ch in _ALPHA or ch in '"\\' for ch in run):
        return '"' + run.replace("\\", "\\\\").replace('"', '\\"') + '"'
    return run


#: target → (table column, literal-run quoting)
_TARGETS = {
    "spark": (0, _quote_spark),
    "pg": (1, _quote_to_char),
    "strftime": (2, lambda run: run.replace("%", "%%")),
}


def convert_mysql_format(fmt: str, target: str) -> str:
    """Convert a MySQL format string for ``target``: ``spark``
    (datetime pattern), ``pg`` (``to_char`` template) or ``strftime``.

    >>> convert_mysql_format('%Y year %r', 'pg')
    'YYYY" year "HH12:MI:SS AM'
    """
    col, quote = _TARGETS[target]
    out: list[str] = []
    literal: list[str] = []

    def flush_literal() -> None:
        if literal:
            out.append(quote("".join(literal)))
            literal.clear()

    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            token = fmt[i : i + 2]
            if token in DATE_FORMAT_TOKENS:
                flush_literal()
                out.append(DATE_FORMAT_TOKENS[token][col])
            else:
                # Unknown token: MySQL emits the bare char.
                literal.append(fmt[i + 1])
            i += 2
            continue
        literal.append(fmt[i])
        i += 1
    flush_literal()
    return "".join(out)


def mysql_format_to_spark(fmt: str) -> str:
    """Convert a MySQL format string to a Spark datetime pattern.

    >>> mysql_format_to_spark('%Y-%m-%d %H:%i:%s')
    'yyyy-MM-dd HH:mm:ss'
    >>> mysql_format_to_spark('%Y year')
    "yyyy' year'"
    """
    return convert_mysql_format(fmt, "spark")
