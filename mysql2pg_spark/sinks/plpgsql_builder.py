"""General MySQL ``CREATE FUNCTION`` / ``CREATE PROCEDURE`` DDL →
:class:`PlpgsqlFunctionSpec` builder (SURVEY C95, the "arbitrary user
routine" half; procedures are round-8 beyond-reference — the
reference's scan filters ROUTINE_TYPE='FUNCTION' and silently drops
them).

The reference converts function DDL with a 10-step regex-surgery
pipeline (internal/converter/postgres/sync_functions.go:173-212:
parameters :220-258, return type :262-335, characteristics :339-407,
body extraction :409-423, builtin rewrites :477-570) plus per-function
hardcoded patches (:430-465) for the bodies its regexes mangle. This
builder covers the same declarative subset — parameters, RETURNS,
DETERMINISTIC / NO SQL / READS SQL DATA / MODIFIES SQL DATA volatility
mapping, SQL SECURITY, COMMENT, DECLARE blocks, and a body that is
either one ``SELECT … INTO var`` + ``RETURN var`` or a bare
``RETURN expr`` — by PARSING it into the spec that drives
:func:`mysql2pg_spark.sinks.plpgsql.emit_plpgsql`, so the emitted DDL is
well-formed by construction. Control-flow bodies — cursors, REPEAT /
WHILE / LOOP, statement-level IF, LEAVE/ITERATE, nested blocks (with
their own block-scoped DECLAREs and handlers, round 8), CASE
statements, ``SIGNAL SQLSTATE`` / named conditions, bare ``RESIGNAL``
inside handlers, ``CONTINUE HANDLER FOR NOT FOUND`` with any
single-SET action, and EXIT/CONTINUE handlers for SQLEXCEPTION or
specific SQLSTATEs — route to the procedural statement-tree parser
(:mod:`mysql2pg_spark.sinks.plpgsql_proc`, rounds 6-8; the reference's
sync_functions.go:220-407 / :1040-1283 territory), as do body DML
(INSERT/UPDATE/DELETE passthrough, CALL), well-known bare errnos
(``MYSQL_ERRNO_SQLSTATE``), class-02 SQLSTATE handlers (→ NOT FOUND
machinery), and expression-position ``ROW_COUNT()`` (hoisted to GET
DIAGNOSTICS). Plain ``@user`` variables translate as synthesized
typed function-scope locals (round 9 — the reference name-rewrites
them with a weaker heuristic at :1180-1224), and a PROCEDURE whose
body streams ONE result set gains an ``INOUT p_resultset refcursor``
parameter (round 9; the reference drops all procedures). What remains
outside both paths (@@system variables, quoted/@-inline-:=-in-query
variable uses, SQLWARNING handlers, multiple result sets, REPLACE
INTO, errnos outside the table, ROW_COUNT() in WHILE conditions or in
an UNTIL whose body doesn't end in the observed DML — the batch-purge
``REPEAT … UNTIL ROW_COUNT() = 0`` shape lifts, round 11) raises
:class:`UnsupportedFunctionError` instead of producing
silently-wrong plpgsql.

Every MySQL expression in a routine or trigger body (SET values,
conditions, DECLARE defaults, SELECT / DML statements) renders through
``dialect.ansi.transpile_mysql_ansi``, the one MySQL → PostgreSQL
translator that also serves views and the DDL expression positions
(the reference keeps a second, smaller builtin table for bodies at
sync_functions.go:502-543); only routine-level statement handling
lives here.
"""

from __future__ import annotations

import re

from mysql2pg_spark.dialect.ansi import transpile_mysql_ansi
from mysql2pg_spark.dialect.transpile import (
    mask_literals,
    split_top_level,
    unmask_literals,
)
from mysql2pg_spark.schema.schema_map import map_mysql_type
from mysql2pg_spark.sinks.plpgsql import PlpgsqlFunctionSpec


class UnsupportedFunctionError(ValueError):
    """The function body uses constructs outside the supported subset."""


_RE_HEAD = re.compile(
    r"CREATE\s+(?:DEFINER\s*=\s*\S+\s+)?FUNCTION\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"(?:`(?P<q>[^`]+)`|(?P<n>[\w.]+))\s*\(",
    re.I,
)
_RE_PROC_HEAD = re.compile(
    r"CREATE\s+(?:DEFINER\s*=\s*\S+\s+)?PROCEDURE\s+"
    r"(?:IF\s+NOT\s+EXISTS\s+)?"
    r"(?:`(?P<q>[^`]+)`|(?P<n>[\w.]+))\s*\(",
    re.I,
)
#: Procedure characteristic tokens (no RETURNS clause to anchor on —
#: these are consumed one by one until the body starts).
_RE_PROC_CHAR = re.compile(
    r"\s*(?:(?:NOT\s+)?DETERMINISTIC|NO\s+SQL|CONTAINS\s+SQL|"
    r"READS\s+SQL\s+DATA|MODIFIES\s+SQL\s+DATA|"
    r"SQL\s+SECURITY\s+(?:DEFINER|INVOKER)|LANGUAGE\s+SQL|"
    r"COMMENT\s+\x00L\d+\x00)",
    re.I,
)
_RE_RETURNS = re.compile(r"\bRETURNS\s+", re.I)
#: Characteristic keywords that terminate the RETURNS type clause
#: (reference parseCharacteristics :339-407 searches this same region).
_RE_CHAR_END = re.compile(
    r"(?:NOT\s+)?DETERMINISTIC|NO\s+SQL|CONTAINS\s+SQL|READS\s+SQL\s+DATA|"
    r"MODIFIES\s+SQL\s+DATA|SQL\s+SECURITY|COMMENT|LANGUAGE\s+SQL|"
    r"\bBEGIN\b|\bRETURN\b",
    re.I,
)
#: @@system-variable READS with a faithful PG ``current_setting``
#: analog (round 12 — the r11 C95 tail). Only variables whose PG
#: counterpart reports the same quantity map; everything else (e.g.
#: @@sql_mode, whose PG spelling has DIFFERENT names and units) still
#: refuses below. MySQL's @@x defaults to session scope and
#: ``current_setting`` reads the session-effective value, so
#: @@x / @@session.x map exactly; @@global.x maps to the same read
#: (PG exposes no per-function global-scope reader — the
#: session-effective value is the faithful runtime observable).
_SYSVAR_READS = {
    "version": "current_setting('server_version')",
    "time_zone": "current_setting('TimeZone')",
    # numeric in MySQL: current_setting returns TEXT, so these cast —
    # `@@max_connections - 1` must stay arithmetic (review r12)
    "max_connections": "current_setting('max_connections')::int",
    "port": "current_setting('port')::int",
    "datadir": "current_setting('data_directory')",
    "character_set_client": "current_setting('client_encoding')",
    "character_set_database": "current_setting('server_encoding')",
}

#: Body constructs no path covers.
_UNSUPPORTED = (
    # @@sql_mode etc. are server-session state with no per-function
    # plpgsql analog (PG spells them current_setting('…') with
    # DIFFERENT names and units — a name-rewrite would mistranslate);
    # the _SYSVAR_READS subset is mapped before this scan runs
    (re.compile(r"@@\w+"), "@@system/session variables"),
    # @`quoted` / @'quoted' user-variable names (the quoted literal is
    # masked by the time this runs, so \x00 catches @'…' / @"…")
    (re.compile(r"@[`\x00]"), "quoted @user-variable names"),
)

#: plain ``@var`` user-variable reference (the lookbehind keeps ``@@x``
#: system variables — refused above — out of the capture)
_RE_USER_VAR = re.compile(r"(?<![@\w])@(\w+)")

#: the reference's name heuristic (sync_functions.go:1196-1203):
#: counter/money-ish names default to numeric when no assignment
#: reveals a better type
_NUMERIC_NAME_HINTS = (
    "count", "sum", "total", "amount", "price", "num", "qty", "id",
)


#: prefix marking a type the builder's ``_pg_type`` must pass through
#: VERBATIM instead of running through the MySQL type matrix — used for
#: the unconstrained ``NUMERIC`` of synthesized @var locals (MySQL's
#: bare NUMERIC column type means DECIMAL(10,0), but an @var is
#: dynamically typed: PG's unconstrained numeric keeps exact values at
#: their natural scale, so 0 + 1 prints '1' and 0 + 12.50 keeps cents)
_VERBATIM = "\x01"


def _classify_assign_expr(expr: str) -> str | None:
    """Best-effort type class of one assigned expression (masked text);
    None = unrecognized shape."""
    if not expr or expr.upper() == "NULL":
        return None
    if re.fullmatch(r"[-+]?\d+", expr):
        return "BIGINT"
    if re.fullmatch(r"[-+]?(?:\d+\.\d*|\.\d+)(?:[eE][-+]?\d+)?", expr):
        return "NUMERIC"
    if re.fullmatch(r"\x00L\d+\x00", expr):
        return "TEXT"
    if re.search(r"(?i)\bCONCAT\w*\s*\(", expr):
        return "TEXT"
    if re.search(r"(?i)\b(?:NOW|SYSDATE|CURRENT_TIMESTAMP)\b", expr):
        return "DATETIME"
    if re.search(r"(?i)\b(?:CURDATE|CURRENT_DATE)\b", expr):
        return "DATE"
    if re.search(
        r"(?i)\b(?:COUNT|SUM|AVG|ROW_COUNT)\s*\(", expr
    ) or re.search(r"[+*/]", expr):
        return "NUMERIC"
    return None


def _infer_user_var_type(fname: str, var: str, body: str) -> str:
    """MySQL-or-verbatim type for the local synthesized in place of
    ``@var``. EVERY ``@var = expr`` assignment is classified (a money
    accumulator typically seeds ``SET @t = 0`` — integer — then adds
    DECIMAL values, so first-assignment-wins would truncate cents) and
    the classes are widened: all-integer → BIGINT; integer+numeric →
    unconstrained NUMERIC (exact, natural scale); date+datetime →
    DATETIME. Incompatible evidence (numeric AND text assignments)
    REFUSES — MySQL @vars are dynamically typed and no single plpgsql
    type preserves both arms. With no recognizable assignment the
    reference's name heuristic applies (sync_functions.go:1196-1203:
    count/sum/total/amount/price/id/num substrings → numeric), then
    TEXT — the reference's own default. Runs on MASKED text (string
    literals are ``\\x00L<n>\\x00`` placeholders)."""
    classes: set[str] = set()
    esc0 = re.escape(var)
    # Only ACTUAL assignments feed the type classes — a bare `@v =`
    # is MySQL's equality comparison in every non-SET context
    # (IF @v = CONCAT(a,b) THEN…, WHERE @v = x+1), and treating the
    # comparison operand as an assigned value caused spurious
    # incompatible-class refusals (ADVICE r9). Assignment contexts:
    #   1. the inline `:=` operator, anywhere;
    #   2. `@v = expr` pieces of a SET statement (SET @a = 1, @b = 2)
    #      — the target must START the statement or follow a comma;
    #   3. `SELECT expr, … INTO @v, …` — the positionally matching
    #      select expression (round 11: the one assignment form the r10
    #      tests exposed as unfed; a COUNT(*) INTO a text-seeded var is
    #      real incompatible evidence and must refuse like SET would).
    assign_starts = [
        mo.end()
        for mo in re.finditer(rf"(?i)(?<![@\w])@{esc0}\s*:=\s*", body)
    ]
    for st in re.finditer(r"(?is)(?<![\w.@'\"`])SET\s+(.*?)(?=;|\Z)", body):
        seg, base = st.group(1), st.start(1)
        # only DEPTH-0 commas separate the SET assignment list — a
        # comma inside a function call's argument list does not start
        # a new target, so `SET @a = IF(x, @v = 1, 0)` must not
        # classify `@v = 1` as an assignment (ADVICE r10; it is the
        # same comparison-as-assignment class the r9 fix removed)
        piece_start = 0
        depth = 0
        pieces: list[tuple[int, str]] = []
        for i, ch in enumerate(seg):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                pieces.append((piece_start, seg[piece_start:i]))
                piece_start = i + 1
        pieces.append((piece_start, seg[piece_start:]))
        for off, piece in pieces:
            mo = re.match(rf"(?i)\s*@{esc0}\s*:?=\s*", piece)
            if mo:
                assign_starts.append(base + off + mo.end())
    for st in re.finditer(
        # [^;]*? : the expression list never crosses a statement
        # boundary (a following INSERT INTO must not lend its INTO)
        r"(?is)(?<![\w.@'\"`])SELECT\s+([^;]*?)\s+INTO\s+"
        r"((?:@?\w+\s*,\s*)*@?\w+)",
        body,
    ):
        # MySQL also allows the TRAILING form (SELECT exprs FROM t …
        # INTO @a, @b) — cut the captured text at the first depth-0
        # FROM so FROM/GROUP BY text never pairs with a target
        expr_text = st.group(1)
        depth = 0
        low = expr_text.lower()
        for i, ch in enumerate(expr_text):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif (
                depth == 0
                and ch in " \t\n"
                and re.match(r"\s+from\s", low[i:])
            ):
                expr_text = expr_text[:i]
                break
        exprs = split_top_level(expr_text)
        targets = split_top_level(st.group(2))
        for j, tgt in enumerate(targets):
            if tgt.strip().lower() == f"@{var.lower()}" and j < len(exprs):
                c = _classify_assign_expr(exprs[j].strip())
                if c:
                    classes.add(c)
    for pos in assign_starts:
        # the assigned expression, up to the statement/list boundary
        # (masked literals carry no , or ; so the split is safe; a
        # truncated multi-arg call still carries its shape tokens)
        c = _classify_assign_expr(
            re.split(r"[;,]", body[pos:], 1)[0].strip()
        )
        if c:
            classes.add(c)
    if classes:
        if classes == {"BIGINT"}:
            return "BIGINT"
        if classes <= {"BIGINT", "NUMERIC"}:
            return _VERBATIM + "NUMERIC"
        if classes == {"DATE"}:
            return "DATE"
        if classes <= {"DATE", "DATETIME"}:
            return "DATETIME"
        if classes == {"TEXT"}:
            return "TEXT"
        raise UnsupportedFunctionError(
            f"function {fname}: @{var} is assigned incompatible type "
            f"classes {sorted(classes)} — MySQL user variables are "
            "dynamically typed and no single plpgsql local preserves "
            "both"
        )
    # No classifiable ASSIGNMENT (e.g. the var is only a SELECT…INTO /
    # FETCH…INTO target): usage context is the next-best evidence — a
    # var read inside arithmetic must be numeric or the emitted plpgsql
    # would fail at runtime on TEXT operands.
    esc = re.escape(var)
    if re.search(
        rf"(?i)(?<![@\w])@{esc}\s*[-+*/]|[-+*/]\s*@{esc}\b", body
    ):
        return _VERBATIM + "NUMERIC"
    low = var.lower()
    if any(h in low for h in _NUMERIC_NAME_HINTS) or low in ("i", "j", "n"):
        return _VERBATIM + "NUMERIC"
    return "TEXT"


def _rewrite_user_vars(name: str, body: str) -> str:
    """MySQL ``@user`` variables → synthesized function-scope locals
    ``uv_<name>`` with inferred types, DECLAREd at the top of the body
    (the injected lines parse through the normal DECLARE machinery of
    whichever path the body takes). The reference name-rewrites to
    heuristic-typed ``v_`` locals (sync_functions.go:1180-1224); this
    adds first-assignment type inference and refuses the shapes a
    name-rewrite would mistranslate.

    Documented divergence (same as the reference's): MySQL user
    variables are SESSION-scoped — they survive the routine call. A
    function-scope local starts NULL each call, exactly like an unSET
    MySQL @var in a fresh session. Within-routine accumulator /
    temporary use — the overwhelmingly common pattern — translates
    exactly; routines that COMMUNICATE through @vars across calls
    would need session (GUC) state and refuse via the inline-:= check
    below or migrate with this per-call-reset caveat.
    """
    order: list[str] = []
    for mo in _RE_USER_VAR.finditer(body):
        v = mo.group(1).lower()
        if v not in order:
            order.append(v)
    if not order:
        return body
    # Inline `@v := expr` INSIDE a query (`SELECT @t := @t + x FROM …`,
    # MySQL's per-row read-modify idiom) has no plpgsql analog — a
    # rewritten `uv_t := …` inside SQL is a syntax error, and silently
    # hoisting it would drop the per-row accumulation. Refuse unless
    # the assignment sits in a SET statement (where := is plain
    # assignment).
    for mo in re.finditer(r"(?<![@\w])@\w+\s*:=", body):
        stmt = body[body.rfind(";", 0, mo.start()) + 1 : mo.start()]
        if re.search(
            r"(?i)\b(?:SELECT|INSERT|UPDATE|DELETE)\b", stmt
        ) or not re.search(r"(?i)\bSET\b", stmt):
            raise UnsupportedFunctionError(
                f"function {name}: inline @var := assignment inside a "
                "query statement has per-row read-modify semantics "
                "with no plpgsql analog (rewrite as a set-based "
                "aggregate or a cursor loop)"
            )
    decl_lines: list[str] = []
    for v in order:
        local = f"uv_{v}"
        if re.search(rf"(?i)\b{re.escape(local)}\b", body):
            raise UnsupportedFunctionError(
                f"function {name}: synthesized local {local!r} for "
                f"@{v} collides with an existing identifier"
            )
        decl_lines.append(
            f"DECLARE {local} {_infer_user_var_type(name, v, body)} "
            "DEFAULT NULL;"
        )
    body = _RE_USER_VAR.sub(lambda m: "uv_" + m.group(1).lower(), body)
    return "\n".join(decl_lines) + "\n" + body

#: Control flow routed to the procedural parser (sinks.plpgsql_proc):
#: cursors, loops, handlers, statement-level IF, nested BEGIN blocks
#: (the outer BEGIN is already stripped when this runs, so any BEGIN
#: left is a nested compound) and CASE statements (END CASE only closes
#: the statement form — CASE expressions close with a bare END) — the
#: reference's :220-407 / :1040-1283 territory, rebuilt as a statement
#: tree.
_PROCEDURAL = re.compile(
    r"\bCURSOR\b|\bHANDLER\b|\bWHILE\b|\bREPEAT\b|\bLOOP\b|\bFETCH\b|"
    r"\bITERATE\b|\bLEAVE\b|\bBEGIN\b|\bEND\s+CASE\b|\bSIGNAL\b|"
    r"\bRESIGNAL\b|\bIF\b(?!\s*\()|"
    # body DML (round 8): the statement-tree parser owns INSERT/UPDATE/
    # DELETE passthrough and the REPLACE refusal
    r"^\s*(?:INSERT|UPDATE|DELETE|REPLACE)\b|"
    r";\s*(?:INSERT|UPDATE|DELETE|REPLACE)\b",
    re.I,
)

def _pg_type(mysql_type: str) -> str:
    """Parameter/return/declare type via the shared C86 matrix. MySQL
    function signatures use bare column types, so the table mapper
    applies directly (reference maps only datetime/tinyint inline at
    :248-249 and leans on PG's tolerance for the rest). A
    ``_VERBATIM``-prefixed type (synthesized @var locals) bypasses the
    matrix — it is already a PG type."""
    if mysql_type.startswith(_VERBATIM):
        return mysql_type[len(_VERBATIM):]
    return map_mysql_type(mysql_type).pg_type


def _parse_params(masked: str, start: int) -> tuple[list[tuple[str, str]], int]:
    """Parse the signature's paren span (depth-matched, reference
    :227-246); returns (params, index-after-close-paren)."""
    depth, i = 1, start
    while i < len(masked) and depth:
        if masked[i] == "(":
            depth += 1
        elif masked[i] == ")":
            depth -= 1
        i += 1
    if depth:
        raise UnsupportedFunctionError("unbalanced parameter parentheses")
    inner = masked[start : i - 1].strip()
    params: list[tuple[str, str]] = []
    if inner:
        for part in split_top_level(inner):
            mo = re.match(
                r"(?:IN\s+)?(?:`(?P<q>[^`]+)`|(?P<n>\w+))\s+(?P<t>.+)",
                part.strip(),
                re.I | re.S,
            )
            if not mo:
                raise UnsupportedFunctionError(f"cannot parse parameter {part!r}")
            name = (mo.group("q") or mo.group("n")).lower()
            params.append((name, _pg_type(mo.group("t").strip())))
    return params, i


def _parse_proc_params(
    masked: str, start: int
) -> tuple[list[tuple[str, str]], list[str], int]:
    """Procedure signature: like :func:`_parse_params` but each
    parameter carries an explicit IN / OUT / INOUT mode (MySQL defaults
    to IN; PostgreSQL 11+ procedures accept all three — OUT since
    PG 14). Returns (params, modes, index-after-close-paren)."""
    depth, i = 1, start
    while i < len(masked) and depth:
        if masked[i] == "(":
            depth += 1
        elif masked[i] == ")":
            depth -= 1
        i += 1
    if depth:
        raise UnsupportedFunctionError("unbalanced parameter parentheses")
    inner = masked[start : i - 1].strip()
    params: list[tuple[str, str]] = []
    modes: list[str] = []
    if inner:
        for part in split_top_level(inner):
            mo = re.match(
                r"(?:(?P<m>IN|OUT|INOUT)\s+)?"
                r"(?:`(?P<q>[^`]+)`|(?P<n>\w+))\s+(?P<t>.+)",
                part.strip(),
                re.I | re.S,
            )
            if not mo:
                raise UnsupportedFunctionError(
                    f"cannot parse parameter {part!r}"
                )
            modes.append((mo.group("m") or "IN").upper())
            name = (mo.group("q") or mo.group("n")).lower()
            params.append((name, _pg_type(mo.group("t").strip())))
    return params, modes, i


def _loop_resultset_accumulate(proc, node, name: str, params):
    """Translate the cursor-accumulate shape (round 12 — the r11 C95
    tail): ONE result-set SELECT inside a loop whose select list is
    exclusively declared variables / parameters (``FETCH c INTO v_a,
    v_b; … SELECT v_a, v_b;`` — the common per-row-emit idiom).

    plpgsql cannot stream one result set per iteration (a refcursor
    OPENs once), so the rewrite accumulates: a statically-typed temp
    table is created up front (types come from the DECLARE section —
    plpgsql does NOT substitute variables into utility statements, so
    a ``CREATE … AS <select> WITH NO DATA`` would not compile; the
    explicit column list sidesteps that), each iteration INSERTs the
    variables' current values, and one ``OPEN p_resultset FOR SELECT *
    FROM <temp>`` is appended at the body's end. The caller sees ONE
    result set carrying the same rows in the same order — the standard
    migration rewrite for this shape.

    Returns the appended final :class:`ResultSetSelect` (so the caller
    assigns the refcursor parameter to it), or ``None`` when the shape
    does not conform (expressions / FROM / undeclared or nested-block
    names / duplicate output columns / a RETURN anywhere in the body —
    an early RETURN would skip the final OPEN, changing behavior)."""
    from mysql2pg_spark.sinks.plpgsql_proc import (
        Dml,
        ResultSetSelect,
        _has_return,
    )

    if any(_has_return(s) for s in proc.statements):
        return None
    mo = re.match(r"(?is)^\s*SELECT\s+(.*)$", node.select_sql)
    if not mo or re.search(r"(?i)\bFROM\b", node.select_sql):
        return None
    types: dict[str, str] = {}
    for pname, ptype in params:
        types[pname.lower()] = ptype
    for dname, decl in proc.declares:
        types[dname.lower()] = decl.split(" := ")[0].strip()
    cols: list[tuple[str, str]] = []
    for item in split_top_level(mo.group(1)):
        m = re.match(r"(?is)^\s*(\w+)(?:\s+AS\s+(\w+))?\s*$", item)
        if not m or m.group(1).lower() not in types:
            return None
        var = m.group(1).lower()
        if types[var].lower() in ("refcursor", "cursor"):
            return None
        cols.append(((m.group(2) or m.group(1)).lower(), types[var]))
    if len({c for c, _ in cols}) != len(cols):
        return None  # duplicate output columns cannot form a table
    tmp = f"tmp_rs_{name.lower()}"[:63]
    node.accumulate_into = tmp
    col_ddl = ", ".join(f"{c} {t}" for c, t in cols)
    proc.statements.insert(0, Dml(f"DROP TABLE IF EXISTS {tmp}"))
    proc.statements.insert(
        1, Dml(f"CREATE TEMP TABLE {tmp} ({col_ddl}) ON COMMIT DROP")
    )
    final = ResultSetSelect(f"SELECT * FROM {tmp}")
    proc.statements.append(final)
    return final


def _build_procedure_spec(masked: str, lits, head) -> PlpgsqlFunctionSpec:
    """MySQL ``CREATE PROCEDURE`` → spec with kind="procedure" (round
    8, beyond-reference: sync_functions.go scans ROUTINE_TYPE=
    'FUNCTION' only, silently dropping every procedure). The body
    always takes the procedural statement-tree path — bare ``RETURN;``
    is legal, no RETURN is required, OUT/INOUT params assign like
    variables, and ``CALL``/DML pass through. Result-set ``SELECT``
    without INTO refuses: a plpgsql procedure cannot return one (use
    OUT params — the parser's message says so)."""
    name = (head.group("q") or head.group("n")).lower()
    params, modes, after = _parse_proc_params(masked, head.end())

    # characteristics: consumed token-by-token (no RETURNS anchor)
    i, comment = after, None
    while True:
        mo = _RE_PROC_CHAR.match(masked, i)
        if not mo:
            break
        cm = re.search(r"COMMENT\s+\x00L(\d+)\x00", mo.group(), re.I)
        if cm:
            comment = lits[int(cm.group(1))][1:-1].replace("''", "'")
        i = mo.end()
    body = masked[i:].strip()
    if not body:
        raise UnsupportedFunctionError(f"procedure {name}: no body found")
    if re.match(r"\bBEGIN\b", body, re.I):
        body = re.sub(r"^\s*BEGIN\b", "", body, flags=re.I)
        body = re.sub(r"\bEND\s*;?\s*$", "", body, flags=re.I)
    elif not body.rstrip().endswith(";"):
        # single-statement body without BEGIN…END — MySQL allows the
        # bare form with no terminator inside the CREATE
        body = body.rstrip() + ";"
    body = _clean_body(name, body)

    from mysql2pg_spark.sinks.plpgsql_proc import (
        ProcParseError,
        ResultSetSelect,
        collect_resultsets,
        parse_procedural,
    )

    def _rw(m: str) -> str:
        return transpile_mysql_ansi(unmask_literals(m, lits))

    try:
        proc = parse_procedural(body, name, _rw, _pg_type,
                                kind="procedure",
                                unmask=lambda m: unmask_literals(m, lits))
    except ProcParseError as e:
        raise UnsupportedFunctionError(str(e)) from e
    # Result-set procedures (round 9): each bare SELECT in the body
    # streams a result set to MySQL clients; plpgsql's idiom is one
    # appended ``INOUT refcursor`` per result set + ``OPEN <cursor> FOR
    # <select>`` (caller: ``CALL proc(…, 'c1', 'c2'); FETCH ALL FROM
    # c1; …``). Refusals: a SELECT inside a LOOP (one result set per
    # iteration — a refcursor OPENs once), and MULTIPLE result sets
    # not all at the body's top level (fixed parameter positions
    # cannot express an arm-dependent result-set sequence). The
    # reference drops ALL procedures (sync_functions.go scans
    # ROUTINE_TYPE='FUNCTION'), so any support here is
    # beyond-reference.
    nodes, in_loop = collect_resultsets(proc.statements)
    exc_nodes: list = []
    exc_in_loop = False
    for _, action in proc.exc_clauses:
        o, f = collect_resultsets(action)
        exc_nodes += o
        exc_in_loop = exc_in_loop or f
    # Round 12: the cursor-accumulate shape (ONE variables-only SELECT
    # inside a loop — the FETCH-then-SELECT idiom) translates via a
    # typed temp table instead of refusing; see
    # :func:`_loop_resultset_accumulate`.
    if in_loop and not exc_nodes and len(nodes) == 1:
        final = _loop_resultset_accumulate(proc, nodes[0], name, params)
        if final is not None:
            nodes, in_loop = [final], False
    nodes += exc_nodes
    in_loop = in_loop or exc_in_loop
    if in_loop:
        raise UnsupportedFunctionError(
            f"procedure {name}: a result-set SELECT inside a loop "
            "streams one result set per iteration — a refcursor OPENs "
            "once; only the cursor-accumulate shape (a single SELECT "
            "over declared variables, no RETURN in the body) "
            "translates, via a temp-table accumulator"
        )
    if len(nodes) > 1 and sum(
        isinstance(s, ResultSetSelect) for s in proc.statements
    ) != len(nodes):
        raise UnsupportedFunctionError(
            f"procedure {name}: {len(nodes)} result-set SELECTs with "
            "at least one inside a branch — fixed refcursor parameter "
            "positions cannot express an arm-dependent result-set "
            "sequence"
        )
    for i, node in enumerate(nodes):
        cursor = "p_resultset" if i == 0 else f"p_resultset{i + 1}"
        if any(p == cursor for p, _t in params):
            raise UnsupportedFunctionError(
                f"procedure {name}: parameter name {cursor} collides "
                "with the synthesized refcursor parameter"
            )
        node.param = cursor
        params = params + [(cursor, "refcursor")]
        modes = modes + ["INOUT"]
    return PlpgsqlFunctionSpec(
        name=name,
        params=params,
        returns="",
        body_select="",
        into_var="",
        comment=comment,
        procedural=proc,
        kind="procedure",
        param_modes=modes,
    )


def _clean_body(name: str, body: str) -> str:
    """Shared body hygiene for both routine kinds: line comments are
    annotation, not statements (safe on masked text — string literals
    are placeholders, so -- / # here is a comment). MySQL only treats
    "--" as a comment when followed by whitespace or end-of-line
    (SET n = n--1 is n minus negative one, not a comment)."""
    body = re.sub(r"--(?=\s|$)[^\n]*", "", body)
    body = re.sub(r"#[^\n]*", "", body)
    # Any "--" that SURVIVES the strip is MySQL operator text (double
    # negation: n--1 = n minus negative 1) — but PostgreSQL comments on
    # every "--" regardless of what follows, so re-space the dashes to
    # keep the emitted plpgsql semantically identical.
    body = re.sub(r"-(?=-)", "- ", body)
    # @`word`-quoted user variables (round 11): backtick quoting is
    # MySQL spelling, not a different variable — @`total` IS @total —
    # so plain-word quoted names normalize to the bare form here.
    # Names that NEED quoting to exist (spaces, punctuation, or the
    # @'…'/@"…" forms whose content the literal mask hides) still hit
    # the refusal below.
    body = re.sub(r"@`(\w+)`", r"@\1", body)
    # @@system variables (round 12): WRITES refuse by name first — PG
    # spells session state with different names and units, so a write
    # rewrite would mistranslate (and a mapped read inside a SET target
    # would silently turn the write into nonsense). Covers SET @@x,
    # SET @@SESSION.x / @@GLOBAL.x, SET SESSION x / GLOBAL x, in any
    # position of a comma-joined SET list.
    wr = re.search(
        r"(?i)(?:\bSET\s+|,\s*)@@(?:SESSION\.|GLOBAL\.)?(\w+)\s*:?=",
        body,
    ) or re.search(
        r"(?i)\bSET\s+(?:SESSION|GLOBAL)\s+(\w+)\s*:?=", body
    )
    if wr:
        raise UnsupportedFunctionError(
            f"function {name}: SET of system variable "
            f"{wr.group(1).lower()} — server/session state writes "
            "have no faithful plpgsql analog (PG names and units "
            "differ); not translated"
        )
    # …then the read-only subset with a faithful PG analog maps to
    # current_setting(...); any @@name left after the map hits the
    # refusal scan below
    body = re.sub(
        r"(?i)@@(?:SESSION\.|GLOBAL\.)?(\w+)",
        lambda m: _SYSVAR_READS.get(m.group(1).lower(), m.group(0)),
        body,
    )
    for pat, what in _UNSUPPORTED:
        if pat.search(body):
            raise UnsupportedFunctionError(
                f"function {name}: {what} are outside the translatable "
                "subset (the reference handles these only via "
                "per-function hardcoded patches)"
            )
    # plain @user variables (round 9): synthesized typed locals — the
    # injected DECLARE lines parse through whichever path (declarative
    # / procedural / trigger) the body routes to
    return _rewrite_user_vars(name, body)


def build_spec_from_mysql(ddl: str) -> PlpgsqlFunctionSpec:
    """Parse one MySQL ``CREATE FUNCTION`` / ``CREATE PROCEDURE``
    statement into a :class:`PlpgsqlFunctionSpec` (raises
    :class:`UnsupportedFunctionError` outside the supported subset —
    see module docstring)."""
    masked, lits = mask_literals(ddl)

    head = _RE_HEAD.search(masked)
    if not head:
        proc = _RE_PROC_HEAD.search(masked)
        if proc:
            return _build_procedure_spec(masked, lits, proc)
        raise UnsupportedFunctionError(
            "not a CREATE FUNCTION/PROCEDURE statement"
        )
    name = (head.group("q") or head.group("n")).lower()
    params, after_params = _parse_params(masked, head.end())

    ret = _RE_RETURNS.search(masked, after_params)
    if not ret:
        raise UnsupportedFunctionError(f"function {name}: no RETURNS clause")
    end_mo = _RE_CHAR_END.search(masked, ret.end())
    ret_end = end_mo.start() if end_mo else len(masked)
    returns = _pg_type(masked[ret.end() : ret_end].strip())

    # Characteristics region: RETURNS-type end → body start (:339-407).
    body_mo = re.search(r"\bBEGIN\b|\bRETURN\b", masked[ret_end:], re.I)
    if not body_mo:
        raise UnsupportedFunctionError(f"function {name}: no body found")
    chars = masked[ret_end : ret_end + body_mo.start()].upper()
    if "NOT DETERMINISTIC" in chars:
        volatility = "VOLATILE"
    elif "DETERMINISTIC" in chars or "NO SQL" in chars:
        volatility = "IMMUTABLE"
    elif "READS SQL DATA" in chars:
        volatility = "STABLE"
    else:
        volatility = "VOLATILE"
    comment = None
    cmt = re.search(r"\bCOMMENT\s+\x00L(\d+)\x00",
                    masked[ret_end : ret_end + body_mo.start()], re.I)
    if cmt:
        comment = lits[int(cmt.group(1))][1:-1].replace("''", "'")

    # Body: strip BEGIN/END if present, else the bare RETURN statement.
    body = masked[ret_end + body_mo.start() :]
    if re.match(r"\bBEGIN\b", body, re.I):
        body = re.sub(r"^\s*BEGIN\b", "", body, flags=re.I)
        body = re.sub(r"\bEND\s*;?\s*$", "", body, flags=re.I)
    body = _clean_body(name, body)

    if _PROCEDURAL.search(body):
        from mysql2pg_spark.sinks.plpgsql_proc import (
            ProcParseError,
            parse_procedural,
        )

        def _rw(masked: str) -> str:
            return transpile_mysql_ansi(unmask_literals(masked, lits))

        try:
            proc = parse_procedural(
                body, name, _rw, _pg_type,
                unmask=lambda m: unmask_literals(m, lits),
            )
        except ProcParseError as e:
            raise UnsupportedFunctionError(str(e)) from e
        return PlpgsqlFunctionSpec(
            name=name,
            params=params,
            returns=returns,
            body_select="",
            into_var="",
            volatility=volatility,
            comment=comment,
            procedural=proc,
        )

    def _declarative() -> PlpgsqlFunctionSpec:
        declares: list[tuple[str, str]] = []

        def _take_declare(mo: re.Match) -> str:
            # MySQL comma lists (`DECLARE a, b INT DEFAULT 0`) share one
            # type/default → one plpgsql declaration per name
            rest = mo.group(2).strip()
            dflt = re.search(r"\bDEFAULT\s+(.+)$", rest, re.I | re.S)
            pg_t = _pg_type(rest[: dflt.start()].strip() if dflt else rest)
            if dflt:
                pg_t += " := " + transpile_mysql_ansi(
                    unmask_literals(dflt.group(1).strip(), lits)
                )
            for var in (v.strip().lower() for v in mo.group(1).split(",")):
                declares.append((var, pg_t))
            return ""

        dbody = re.sub(r"\bDECLARE\s+(\w+(?:\s*,\s*\w+)*)\s+([^;]+);",
                       _take_declare, body, flags=re.I)

        stmts = [t.strip() for t in dbody.split(";") if t.strip()]
        selects = [t for t in stmts if re.match(r"SELECT\b", t, re.I)]
        returns_stmts = [t for t in stmts if re.match(r"RETURN\b", t, re.I)]
        # MySQL `SET v = expr;` (local variable) → plpgsql `v := expr`
        pre_statements: list[str] = []
        sets = [t for t in stmts if re.match(r"SET\b", t, re.I)]
        for st in sets:
            # MySQL multi-assignment (`SET a = 1, b = a`) → sequential
            # assignments; split on top-level commas only (literals are
            # masked, parens guard call arguments)
            from mysql2pg_spark.sinks.plpgsql_proc import _split_top_level

            for piece in _split_top_level(st[3:]):
                mo = re.match(r"\s*(\w+)\s*:?=\s*(.+)$", piece, re.S)
                if not mo:
                    raise UnsupportedFunctionError(
                        f"function {name}: cannot parse SET statement {st!r}"
                    )
                pre_statements.append(
                    f"{mo.group(1).lower()} := "
                    + transpile_mysql_ansi(
                        unmask_literals(mo.group(2).strip(), lits)
                    )
                )
        if len(stmts) != len(selects) + len(returns_stmts) + len(sets):
            raise UnsupportedFunctionError(
                f"function {name}: only SET, SELECT…INTO and RETURN "
                f"statements are supported, got {len(stmts)} statements"
            )
        # The emitted shape is SETs → SELECT INTO → RETURN; bodies
        # ordered differently fall back to the statement-tree path.
        kinds = ["set" if re.match(r"SET\b", t, re.I)
                 else "select" if re.match(r"SELECT\b", t, re.I)
                 else "return"
                 for t in stmts]
        if kinds != (["set"] * len(sets) + ["select"] * len(selects)
                     + ["return"]):
            raise UnsupportedFunctionError(
                f"function {name}: statement order {kinds} is not "
                "SET* → SELECT? → RETURN"
            )
        if len(selects) > 1 or len(returns_stmts) != 1:
            raise UnsupportedFunctionError(
                f"function {name}: expected one optional SELECT…INTO plus "
                f"one RETURN, got {len(selects)} SELECTs / "
                f"{len(returns_stmts)} RETURNs"
            )
        ret_expr = re.sub(
            r"^RETURN\s+", "", returns_stmts[0], flags=re.I
        ).strip()

        if selects:
            into = re.search(r"\s+INTO\s+(\w+)", selects[0], re.I)
            if not into:
                raise UnsupportedFunctionError(
                    f"function {name}: SELECT without INTO in a scalar "
                    "function"
                )
            into_var = into.group(1).lower()
            if ret_expr.lower() != into_var:
                raise UnsupportedFunctionError(
                    f"function {name}: RETURN {ret_expr!r} does not return "
                    f"the INTO variable {into_var!r}"
                )
            body_select = selects[0][: into.start()] + selects[0][into.end():]
        else:
            into_var = "result"
            body_select = "SELECT " + ret_expr

        return PlpgsqlFunctionSpec(
            name=name,
            params=params,
            returns=returns,
            body_select=transpile_mysql_ansi(
                unmask_literals(body_select.strip(), lits)
            ),
            into_var=into_var,
            declares=declares,
            volatility=volatility,
            comment=comment,
            pre_statements=pre_statements,
        )

    try:
        return _declarative()
    except UnsupportedFunctionError:
        # Round 9: a straight-line body OUTSIDE the declarative shape
        # (SELECT INTO before a SET, several SELECT…INTOs, RETURN of a
        # computed expression) is still a legal MySQL function — the
        # statement-tree parser expresses those natively, so fall back
        # to it instead of refusing. A body neither path can express
        # surfaces the procedural parser's (more general) refusal.
        from mysql2pg_spark.sinks.plpgsql_proc import (
            ProcParseError,
            parse_procedural,
        )

        def _rw(masked: str) -> str:
            return transpile_mysql_ansi(unmask_literals(masked, lits))

        try:
            proc = parse_procedural(
                body, name, _rw, _pg_type,
                unmask=lambda m: unmask_literals(m, lits),
            )
        except ProcParseError as e:
            raise UnsupportedFunctionError(str(e)) from e
        return PlpgsqlFunctionSpec(
            name=name,
            params=params,
            returns=returns,
            body_select="",
            into_var="",
            volatility=volatility,
            comment=comment,
            procedural=proc,
        )


_RE_TRIGGER_HEAD = re.compile(
    r"CREATE\s+(?:DEFINER\s*=\s*\S+\s+)?TRIGGER\s+"
    r"(?:IF\s+NOT\s+EXISTS\s+)?"
    r"(?:`(?P<q>[^`]+)`|(?P<n>\w+))\s+"
    r"(?P<timing>BEFORE|AFTER)\s+(?P<event>INSERT|UPDATE|DELETE)\s+"
    r"ON\s+(?:`(?P<tq>[^`]+)`|(?P<tn>\w+))\s+"
    r"FOR\s+EACH\s+ROW\s+",
    re.I,
)


def build_trigger_from_mysql(ddl: str):
    """MySQL ``CREATE TRIGGER`` → :class:`PlpgsqlTriggerSpec` (round 8,
    beyond-reference: the reference has no trigger pass at all, and
    mysqldump includes triggers by DEFAULT — every real dump carries
    them). NEW/OLD row images spell identically in plpgsql, so the body
    reuses the statement-tree parser with kind="trigger" (RETURN
    refuses — MySQL trigger bodies have none; the emitter appends the
    plpgsql RETURN NEW/OLD). ``FOLLOWS``/``PRECEDES`` ordering is
    captured on the spec (round 9): PostgreSQL fires same-event
    same-timing triggers alphabetically, so the orchestrator enforces
    MySQL's order by renaming the whole group with sortable ``tNN_``
    prefixes — a documented rename, never a silent drop."""
    from mysql2pg_spark.sinks.plpgsql import PlpgsqlTriggerSpec

    masked, lits = mask_literals(ddl)
    head = _RE_TRIGGER_HEAD.search(masked)
    if not head:
        raise UnsupportedFunctionError("not a CREATE TRIGGER statement")
    name = (head.group("q") or head.group("n")).lower()
    table = (head.group("tq") or head.group("tn")).lower()

    body = masked[head.end():].strip()
    # FOLLOWS/PRECEDES (round 9): captured on the spec — PostgreSQL
    # fires same-event same-timing triggers ALPHABETICALLY, so the
    # orchestrator enforces the order by renaming every trigger in the
    # affected (table, event, timing) group with a sortable tNN_
    # prefix (documented caveat: the PG-side names differ from MySQL's)
    ordering = None
    fp = re.match(
        r"(FOLLOWS|PRECEDES)\s+(?:`([^`]+)`|(\w+))\s*", body, re.I
    )
    if fp:
        ordering = (
            fp.group(1).upper(),
            (fp.group(2) or fp.group(3)).lower(),
        )
        body = body[fp.end():].strip()
    if not body:
        raise UnsupportedFunctionError(f"trigger {name}: no body found")
    if re.match(r"\bBEGIN\b", body, re.I):
        body = re.sub(r"^\s*BEGIN\b", "", body, flags=re.I)
        body = re.sub(r"\bEND\s*;?\s*$", "", body, flags=re.I)
    elif not body.rstrip().endswith(";"):
        body = body.rstrip() + ";"
    body = _clean_body(name, body)

    from mysql2pg_spark.sinks.plpgsql_proc import (
        ProcParseError,
        parse_procedural,
    )

    def _rw(m: str) -> str:
        return transpile_mysql_ansi(unmask_literals(m, lits))

    try:
        proc = parse_procedural(body, name, _rw, _pg_type, kind="trigger",
                                unmask=lambda m: unmask_literals(m, lits))
    except ProcParseError as e:
        raise UnsupportedFunctionError(str(e)) from e
    return PlpgsqlTriggerSpec(
        name=name,
        table=table,
        timing=head.group("timing").upper(),
        event=head.group("event").upper(),
        procedural=proc,
        ordering=ordering,
    )
