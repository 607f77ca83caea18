"""MySQL ``CREATE EVENT`` → pg_cron schedule translation (C-plane
closure, rounds 12-13).

The reference ignores events entirely (its scan loop never reads
``information_schema.EVENTS``; a migrated database silently loses every
scheduled job). Round 9 taught this engine to *inventory* dump-carried
events as named skips; rounds 12-13 close the gap for the translatable
subset. :func:`spec_actions` is the SINGLE decision surface — the
orchestrator's events stage, the golden suite and every test consume
its ``[(kind, payload)]`` plan:

- cron-expressible ``EVERY`` cadence + single DML/CALL body →
  ``SELECT cron.schedule('<name>', '<schedule>', $evt$<pg body>$evt$)``
- compound ``BEGIN…END`` body (and single statements carrying @vars or
  DML LIMIT — exactly the forms the plpgsql machinery owns) → a
  synthesized ``CREATE OR REPLACE PROCEDURE <name>_evt_job()`` plus a
  scheduled ``CALL``
- literal ``AT`` one-shots and literal ``ENDS`` clauses → pg_cron's
  self-unschedule idiom: a DAILY cron entry whose command is a DO
  block guarded by ``now() >= TIMESTAMP '<ts>'`` (cron has no year
  field; the daily match bounds a missed firing to at most a day —
  round 13, previously a yearly match meaning a year-long catch-up)
- non-divisor ``EVERY`` cadences (EVERY 7 MINUTE, 5 HOUR, 2 DAY, 2
  WEEK, 5 MONTH, 3 YEAR) → a period-elapsed guard inside the scheduled
  DO block (round 13, :func:`_guarded_schedule`): with a literal
  STARTS the guard measures elapsed periods FROM the anchor, which is
  MySQL's cadence EXACTLY; only sub-minute non-multiples of 60 s stay
  refused (cron cannot fire between minutes)
- ``DISABLE``'d events schedule INACTIVE (round 13): the full plan plus
  ``UPDATE cron.job SET active = false`` — pg_cron's active column IS
  MySQL's ENABLE/DISABLE bit, so the definition survives the way it
  does in MySQL instead of being dropped
- everything else stays a *named* skip carrying the parsed schedule —
  the refuse-don't-mistranslate convention used across the routine
  plane. Upsert forms a plain rewrite would mistranslate (REPLACE
  INTO, INSERT IGNORE, ON DUPLICATE KEY UPDATE) refuse with the same
  wording contract as the plpgsql builder (ADVICE r12).

Cron-expressibility rules (MySQL fires on a fixed cadence anchored at
STARTS; cron fires on wall-clock field matches — the two coincide
directly when the period divides its parent unit, and non-divisor
cadences ride the guarded emulation above):

- ``EVERY n SECOND``  → pg_cron interval syntax ``'n seconds'`` (1-59).
- ``EVERY n MINUTE``  → ``*/n * * * *`` only when 60 % n == 0 (else the
  hour boundary introduces a short tick: */7 fires 56→0).
- ``EVERY n HOUR``    → ``m */n * * *`` only when 24 % n == 0.
- ``EVERY 1 DAY``     → ``m h * * *``; n>1 is not cron-expressible
  (``*/n`` on day-of-month resets every month).
- ``EVERY 1 WEEK``    → ``m h * * dow``.
- ``EVERY n MONTH``   → ``m h dom */n *`` when 12 % n == 0 (QUARTER =
  3 months rides the same rule).
- ``EVERY 1 YEAR``    → ``m h dom mon *``.
- Full-period cadences promote to the parent unit first (EVERY 60
  MINUTE is hourly — ``*/60`` is not a valid cron step; 24 HOUR → 1
  DAY, 7 DAY → 1 WEEK, 12 MONTH → 1 YEAR, 60 SECOND → 1 MINUTE), so
  e.g. EVERY 48 HOUR emulates as the 2-day cadence it is.

Phase: cron's anchor is the unit boundary; a literal ``STARTS`` fills
the sub-period fields (minute/hour/dom/dow) so the PG job fires at the
same wall-clock offset. A non-literal STARTS (``CURRENT_TIMESTAMP +
INTERVAL …``) — and an ABSENT one, since MySQL then anchors the cadence
at event **creation time**, not the unit boundary (ADVICE r12) — keeps
the boundary anchor and the divergence is noted.

Reference parity: net-new surface (no counterpart —
``sync_functions.go`` handles only FUNCTION; events never scanned).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, replace as _dc_replace

from mysql2pg_spark.dialect.ansi import transpile_mysql_ansi

__all__ = [
    "EventSpec",
    "event_actions",
    "spec_actions",
    "parse_event",
]


@dataclass
class EventSpec:
    name: str
    schedule_kind: str           # "every" | "at"
    interval_n: int | None       # EVERY n …
    interval_unit: str | None    # second|minute|hour|day|week|month|
                                 # quarter|year
    at_ts: str | None            # AT '…' raw text
    starts: str | None           # STARTS raw text (literal or expr)
    ends: str | None             # ENDS raw text
    body: str                    # raw MySQL DO-body
    enabled: bool                # ENABLE (default) vs DISABLE[..]
    comment: str | None
    preserve: bool = False       # ON COMPLETION PRESERVE (round 13):
                                 # MySQL keeps the definition after the
                                 # last firing (disabled) instead of
                                 # dropping it


_EVENT_RE = re.compile(
    r"""(?isx)
    \bCREATE\s+
    (?:DEFINER\s*=\s*\S+\s+)?
    EVENT\s+ (?:IF\s+NOT\s+EXISTS\s+)?
    (?:`(?P<q>[^`]+)`|(?P<b>\w+)) \s+
    ON\s+SCHEDULE\s+
    (?:
        AT\s+(?P<at>.+?)
      | EVERY\s+(?P<n>\d+)\s+(?P<unit>\w+)
        (?:\s+STARTS\s+(?P<starts>.+?))?
        (?:\s+ENDS\s+(?P<ends>.+?))?
    )
    (?=\s+(?:ON\s+COMPLETION|ENABLE|DISABLE|COMMENT|DO)\b)
    (?P<tail>.*)
    """,
)

_TS_LIT_RE = re.compile(
    r"^'(\d{4})-(\d{2})-(\d{2})(?:[ T](\d{2}):(\d{2})(?::(\d{2}))?)?'$"
)

#: units whose EVERY-n cadence can be exact in cron (see module doc)
_UNITS = (
    "second", "minute", "hour", "day", "week", "month", "quarter", "year",
)


def _strip_cc(text: str) -> str:
    """Unwrap mysqldump /*!NNNNN … */ conditional comments."""
    return re.sub(r"/\*!\d{5}\s?(.*?)\*/", r"\1", text, flags=re.S)


def _q(name: str) -> str:
    """A job name embedded in single-quoted SQL — apostrophes double
    (ADVICE r12: a backtick-quoted event name containing ``'`` would
    otherwise break or inject into the cron.schedule/unschedule
    statement)."""
    return name.replace("'", "''")


def _mask_backtick_idents(text: str) -> tuple[str, list[str]]:
    """Replace backtick-quoted identifier spans with ``\\x00Bn\\x00``
    placeholders, tracking single-quote literal state (with MySQL's
    ``\\'`` and ``''`` escapes) so a backtick inside a string literal
    never opens a span. Unterminated backticks pass through."""
    out: list[str] = []
    bts: list[str] = []
    i, n = 0, len(text)
    in_q = False
    while i < n:
        ch = text[i]
        if in_q:
            if ch == "\\" and i + 1 < n:
                out.append(text[i : i + 2])
                i += 2
                continue
            if ch == "'":
                if i + 1 < n and text[i + 1] == "'":
                    out.append("''")
                    i += 2
                    continue
                in_q = False
            out.append(ch)
            i += 1
            continue
        if ch == "'":
            in_q = True
            out.append(ch)
            i += 1
            continue
        if ch == "`":
            j = text.find("`", i + 1)
            if j < 0:
                out.append(text[i:])
                break
            bts.append(text[i : j + 1])
            out.append(f"\x00B{len(bts) - 1}\x00")
            i = j + 1
            continue
        out.append(ch)
        i += 1
    return "".join(out), bts


def parse_event(raw: str) -> EventSpec | None:
    """Parse one CREATE EVENT statement (dump spelling tolerated:
    conditional-comment wraps, DEFINER, IF NOT EXISTS, backticks).
    Returns None when the text is not a recognizable CREATE EVENT.

    The clause scan runs on LITERAL-MASKED text (review r12): a
    COMMENT like ``'do not disable'`` must not satisfy the ``DO`` body
    split or the ``DISABLE`` status scan — every captured region
    unmasks before it lands on the spec."""
    from mysql2pg_spark.dialect.transpile import (
        mask_literals,
        normalize_backslash_quotes,
        unmask_literals,
    )

    text = _strip_cc(raw).strip().rstrip(";").strip()
    # backtick identifiers first (round 13): an apostrophe inside a
    # quoted name (`it's nightly`) would otherwise open a phantom
    # string literal and corrupt the whole mask — hide the spans,
    # literal-mask, then restore them (safe: literals are gone). The
    # scan is quote-state-aware: a backtick INSIDE a string literal
    # ('a`b') must not open an identifier span, or two such literals
    # would fuse into one bogus identifier.
    text, bts = _mask_backtick_idents(text)
    # MySQL \'-escapes → '' doubling first, or the mask tracks the
    # literal wrong and a COMMENT 'can\'t' swallows the DO keyword
    masked, lits = mask_literals(normalize_backslash_quotes(text))
    masked = re.sub(
        r"\x00B(\d+)\x00", lambda m: bts[int(m.group(1))], masked
    )

    def um(s: str | None) -> str | None:
        return unmask_literals(s, lits) if s is not None else None

    mo = _EVENT_RE.search(masked)
    if not mo:
        return None
    tail = mo.group("tail") or ""
    do = re.search(r"(?is)\bDO\b\s+(.*)$", tail)
    if not do:
        return None
    body = um(do.group(1).strip().rstrip(";").strip())
    head = tail[: do.start()]
    enabled = not re.search(r"(?i)\bDISABLE\b", head)
    preserve = bool(re.search(
        r"(?i)\bON\s+COMPLETION\s+PRESERVE\b", head
    ))
    cmt = re.search(r"(?is)\bCOMMENT\s+(\x00L\d+\x00)", head)
    comment = None
    if cmt:
        lit = um(cmt.group(1))
        if lit and lit.startswith("'") and lit.endswith("'"):
            comment = lit[1:-1].replace("''", "'")
    unit = (mo.group("unit") or "").lower().rstrip("s") or None
    if mo.group("n") is not None and unit not in _UNITS:
        return None  # EVERY n <unknown unit>
    return EventSpec(
        name=mo.group("q") or mo.group("b"),
        schedule_kind="at" if mo.group("at") else "every",
        interval_n=int(mo.group("n")) if mo.group("n") else None,
        interval_unit=unit,
        at_ts=um((mo.group("at") or "").strip()) or None,
        starts=um((mo.group("starts") or "").strip()) or None,
        ends=um((mo.group("ends") or "").strip()) or None,
        body=body,
        enabled=enabled,
        comment=comment,
        preserve=preserve,
    )


def _starts_fields(starts: str | None):
    """(minute, hour, dom, mon, dow, phase_literal?) from a STARTS
    literal; boundary defaults (0 0 1 1) when absent or non-literal.
    An ABSENT starts is NOT phase-exact (ADVICE r12): MySQL anchors
    EVERY cadences at event **creation time** — EVERY 1 HOUR created
    at :45 fires at :45 — while cron anchors at the unit boundary."""
    if starts:
        mo = _TS_LIT_RE.match(starts.strip())
        if mo:
            import datetime

            y, m, d = int(mo.group(1)), int(mo.group(2)), int(mo.group(3))
            hh = int(mo.group(4) or 0)
            mi = int(mo.group(5) or 0)
            dow = datetime.date(y, m, d).isoweekday() % 7  # cron: 0=Sun
            return mi, hh, d, m, dow, True
    return 0, 0, 1, 1, 0, False


def _promote(n: int, unit: str) -> tuple[int, str]:
    """Full-period cadences promote to the parent unit: EVERY 60
    MINUTE is hourly — '*/60' is not a valid cron step (field max 59),
    and EVERY 24 HOUR / 12 MONTH / 3600 SECOND ride the same ladder.
    QUARTER is 3 months. Shared by the divisor rule and the guarded
    emulation (both must see the same canonical cadence)."""
    if unit == "quarter":
        n, unit = n * 3, "month"
    while True:
        if unit == "second" and n % 60 == 0:
            n, unit = n // 60, "minute"
        elif unit == "minute" and n % 60 == 0:
            n, unit = n // 60, "hour"
        elif unit == "hour" and n % 24 == 0:
            n, unit = n // 24, "day"
        elif unit == "day" and n % 7 == 0:
            n, unit = n // 7, "week"
        elif unit == "month" and n % 12 == 0:
            n, unit = n // 12, "year"
        else:
            break
    return n, unit


def _cron_schedule(spec: EventSpec) -> tuple[str | None, str | None, bool]:
    """(schedule_string, refusal_reason, phase_exact) for an EVERY
    spec. ``schedule_string`` is a 5-field cron entry or a pg_cron
    ``'n seconds'`` interval."""
    n, unit = spec.interval_n, spec.interval_unit
    mi, hh, dom, mon, dow, lit = _starts_fields(spec.starts)
    orig = f"EVERY {n} {unit.upper()}"
    if n < 1:
        return None, f"{orig}: interval must be positive", lit
    n, unit = _promote(n, unit)
    if f"EVERY {n} {unit.upper()}" != orig:
        orig = f"{orig} (= EVERY {n} {unit.upper()})"

    if unit == "second":
        if 1 <= n <= 59:
            return f"{n} seconds", None, True  # interval: no phase
        return None, f"{orig} exceeds pg_cron's 59 s interval", lit
    if unit == "minute":
        if n == 1:
            return "* * * * *", None, True
        if 60 % n == 0:
            return f"*/{n} * * * *", None, lit and mi % n == 0
        return None, (
            f"{orig}: 60 % {n} != 0 — cron's hour boundary "
            "would break the cadence"
        ), lit
    if unit == "hour":
        if n == 1:
            return f"{mi} * * * *", None, lit
        if 24 % n == 0:
            return f"{mi} */{n} * * *", None, lit and hh % n == 0
        return None, (
            f"{orig}: 24 % {n} != 0 — cron's day boundary "
            "would break the cadence"
        ), lit
    if unit == "day":
        if n == 1:
            return f"{mi} {hh} * * *", None, lit
        return None, (
            f"{orig} is not cron-expressible (day-of-month */"
            f"{n} resets at each month boundary)"
        ), lit
    if unit == "week":
        if n == 1:
            return f"{mi} {hh} * * {dow}", None, lit
        return None, f"{orig} is not cron-expressible", lit
    if unit == "month":
        if n == 1:
            return f"{mi} {hh} {dom} * *", None, lit
        if 12 % n == 0:
            return f"{mi} {hh} {dom} */{n} *", None, lit and (mon - 1) % n == 0
        return None, (
            f"{orig}: 12 % {n} != 0 — cron's year boundary "
            "would break the cadence"
        ), lit
    if unit == "year":
        if n == 1:
            return f"{mi} {hh} {dom} {mon} *", None, lit
        return None, f"{orig} is not cron-expressible", lit
    return None, f"unsupported interval unit {unit!r}", lit


#: seconds per sub-month cadence unit (month/year lengths vary — those
#: grains use calendar-index arithmetic instead, see _guarded_schedule)
_UNIT_SECONDS = {"minute": 60, "hour": 3600, "day": 86400, "week": 604800}


def _guarded_schedule(
    spec: EventSpec, n: int, unit: str
) -> tuple[str | None, str | None, str | None, bool]:
    """(schedule, guard_expr, note, phase_exact) emulating a cadence the
    divisor rule refused (round 13): the job is scheduled at the finest
    cron grain that can hit every firing, and its DO block no-ops unless
    an integral multiple of the period has elapsed.

    With a literal ``STARTS`` the guard measures elapsed time FROM THE
    STARTS ANCHOR — ``round(extract(epoch from now() - TIMESTAMP
    '<starts>') / <period>) % n = 0`` — which reproduces MySQL's
    anchored cadence EXACTLY (rounding absorbs sub-half-period skew:
    STARTS seconds, DST shifts, cron-second jitter; a ``now() >=
    STARTS - 59 seconds`` conjunct admits the second-0 firing of the
    STARTS minute and nothing earlier — a full-minute slack let a
    minute-aligned future anchor on a ``* * * * *`` entry fire one
    whole period early, review r14b). Without one, the guard anchors at the epoch
    (or calendar index) and the usual phase note applies. Month/year
    grains use calendar-index arithmetic (``year*12 + month``) because
    their period length varies.

    ``EVERY n SECOND`` with 59 < n not divisible by 60 stays refused —
    cron cannot fire sub-minute, so no guard placement can hit the
    cadence. Returns all-None for such shapes (caller keeps the
    refusal reason from the divisor path)."""
    mi, hh, dom, mon, dow, lit = _starts_fields(spec.starts)
    if unit not in _UNIT_SECONDS and unit not in ("month", "year"):
        return None, None, None, False
    # day-of-month 29-31 (review r13): a direct cron dom field SKIPS
    # months without that day, while MySQL computes each firing as
    # STARTS + k*interval — DATE_ADD rolls to month-end, so the firing
    # day is LEAST(dom, last-day-of-month). Schedule daily and guard
    # on exactly that expression (month/year grains only; dom defaults
    # to 1 without a literal STARTS).
    dom_roll = unit in ("month", "year") and dom > 28
    day_guards: list[str] = []
    if dom_roll:
        day_guards.append(
            f"extract(day from now())::int = least({dom}, "
            "extract(day from (date_trunc('month', now()) "
            "+ interval '1 month' - interval '1 day'))::int)"
        )
        if unit == "year":
            day_guards.append(
                f"extract(month from now())::int = {mon}"
            )
    sched = {
        "minute": "* * * * *",
        "hour": f"{mi} * * * *",
        "day": f"{mi} {hh} * * *",
        "week": f"{mi} {hh} * * {dow}",
        "month": f"{mi} {hh} {dom} * *",
        "year": f"{mi} {hh} {dom} {mon} *",
    }[unit] if not dom_roll else f"{mi} {hh} * * *"
    if unit in _UNIT_SECONDS:
        period = _UNIT_SECONDS[unit]
        if lit:
            guard = (
                f"round(extract(epoch from now() - TIMESTAMP "
                f"{spec.starts}) / {period})::bigint % {n} = 0 "
                f"AND now() >= TIMESTAMP {spec.starts} "
                f"- interval '59 seconds'"
            )
        else:
            guard = (
                f"floor(extract(epoch from now()) / {period})::bigint "
                f"% {n} = 0"
            )
    else:
        month_idx = "extract(year from now())::int * 12 + " \
                    "extract(month from now())::int"
        year_idx = "extract(year from now())::int"
        if lit:
            smo = _TS_LIT_RE.match(spec.starts.strip())
            y, m = int(smo.group(1)), int(smo.group(2))
            anchor = y * 12 + m if unit == "month" else y
            idx = month_idx if unit == "month" else year_idx
            guard = (
                f"(({idx}) - {anchor}) % {n} = 0 "
                f"AND now() >= TIMESTAMP {spec.starts} "
                f"- interval '59 seconds'"
            )
        else:
            idx = month_idx if unit == "month" else year_idx
            guard = f"({idx}) % {n} = 0"
    if day_guards:
        guard = " AND ".join([guard, *day_guards])
    anchor_txt = (
        f"anchored exactly at STARTS {spec.starts}" if lit
        else "epoch/calendar-anchored (MySQL anchors at STARTS or "
             "event creation time, which is not representable — the "
             "firing phase may shift by less than one period)"
    )
    if dom_roll:
        anchor_txt += (
            f"; fires on day LEAST({dom}, month-end) — MySQL's "
            "DATE_ADD month-end roll for a STARTS day cron cannot "
            "express"
        )
    cadence = f"EVERY {n} {unit.upper()}"
    orig = f"EVERY {spec.interval_n} {spec.interval_unit.upper()}"
    if cadence != orig:
        cadence = f"{orig} (= {cadence})"
    note = (
        f"event {spec.name}: {cadence} is not cron-expressible "
        f"directly — emulated as a '{sched}' job whose DO block fires "
        f"only when an integral multiple of the period has elapsed, "
        f"{anchor_txt}; off-period matches no-op"
    )
    return sched, guard, note, lit


def _phase_note(spec: EventSpec) -> str:
    anchor = (
        f"the source STARTS {spec.starts} phase is not representable"
        if spec.starts
        else "with no STARTS clause MySQL anchors the cadence at event "
             "creation time, which is not representable"
    )
    return (
        f"event {spec.name}: cron anchors at the unit boundary; "
        f"{anchor} — first firing may shift by less than one period"
    )


#: single-statement body heads the translator owns. REPLACE stays in
#: the list so its refusal can NAME the form (see _body_plan) instead
#: of falling into the generic outside-the-subset message.
_BODY_HEAD_RE = re.compile(
    r"(?is)^\s*(INSERT|UPDATE|DELETE|REPLACE|TRUNCATE|CALL|SELECT)\b"
)


def _fresh_tag(base: str, *texts: str) -> str:
    """A dollar-quote tag not occurring in any of ``texts`` (review
    r12b: a body literal containing ``$evt$``/``$do$`` would terminate
    the quote early and the job would fail to parse at every match)."""
    tag, i = f"${base}$", 0
    while any(tag in t for t in texts):
        i += 1
        tag = f"${base}{i}$"
    return tag


def _plpgsql_stmt(pg_body: str) -> str:
    """One translated body statement as a plpgsql statement: a bare
    SELECT needs PERFORM inside a DO block (review r12b — plpgsql
    rejects 'query has no destination for result data')."""
    return re.sub(r"(?is)^\s*SELECT\b", "PERFORM", pg_body, count=1)


# One-shot/ENDS guard timezone note (review r13): round 12's YEARLY
# cron match carried a 14 h tolerance (now() >= ts - 14h) because a
# missed match cost a full year. With DAILY matches (round 13) the
# tolerance became the hazard it guarded against — under cron.timezone
# vs session TimeZone skew it let the body fire up to a DAY EARLY,
# which MySQL never does. The guard is now exact (now() >= ts): never
# early; at most one daily match plus the tz skew late, where MySQL
# drops a one-shot missed while the server is down.


def _body_plan(spec: EventSpec) -> tuple[list[str], str | None, str | None]:
    """(prelude DDLs, one PG statement, named skip) for an event body —
    exactly one of statement/skip is non-None.

    A compound ``BEGIN…END`` body — and a single statement carrying
    @user-variables or a DML-level LIMIT, the forms a plain expression
    rewrite cannot own (ADVICE r12) — migrates through the FULL plpgsql
    routine machinery as a synthesized procedure plus ``CALL``. Upsert
    forms with no catalog-free PG analog refuse with the same wording
    contract as the plpgsql builder (REPLACE INTO / INSERT IGNORE /
    ON DUPLICATE KEY UPDATE)."""
    from mysql2pg_spark.dialect.transpile import mask_literals

    body = spec.body
    if re.match(r"(?is)^\s*BEGIN\b", body):
        return _procedure_plan(spec)
    if not _BODY_HEAD_RE.match(body):
        return [], None, (
            f"CREATE EVENT {spec.name}: body statement "
            f"{body.split(None, 1)[0] if body else '?'!r} is "
            "outside the translatable DML subset — not migrated"
        )
    masked, _lits = mask_literals(body)
    up = masked.upper().lstrip()
    if up.startswith("REPLACE"):
        return [], None, (
            f"CREATE EVENT {spec.name}: REPLACE INTO has "
            "delete-then-insert semantics (triggers, FK cascades) that "
            "INSERT … ON CONFLICT does not reproduce — rewrite the "
            "body against PostgreSQL upsert explicitly; not migrated"
        )
    if re.search(r"(?i)\bON\s+DUPLICATE\s+KEY\s+UPDATE\b", masked):
        return [], None, (
            f"CREATE EVENT {spec.name}: INSERT … ON DUPLICATE KEY "
            "UPDATE has no catalog-free PostgreSQL analog — rewrite as "
            "INSERT … ON CONFLICT (<unique cols>) DO UPDATE SET … "
            "(EXCLUDED.* replaces VALUES()); not migrated"
        )
    if re.match(
        r"(?i)\s*INSERT\s+(?:LOW_PRIORITY\s+|DELAYED\s+|"
        r"HIGH_PRIORITY\s+)?IGNORE\b", masked,
    ):
        return [], None, (
            f"CREATE EVENT {spec.name}: INSERT IGNORE ignores all "
            "error classes (not just duplicate keys) — rewrite as "
            "INSERT … ON CONFLICT DO NOTHING if dup-key skip is the "
            "intent; not migrated"
        )
    has_user_var = re.search(r"(?<![\w])@\w", masked)
    has_dml_limit = up.startswith(("DELETE", "UPDATE")) and re.search(
        r"(?i)\bLIMIT\s+\d+\s*$", masked
    )
    if has_user_var or has_dml_limit:
        # exactly the forms the plpgsql statement machinery owns
        # (@vars → DECLAREd locals, DML LIMIT → ctid-subquery rewrite):
        # wrap the lone statement as a compound body and ride the
        # procedure path; builder refusals propagate as named skips
        return _procedure_plan(_dc_replace(spec, body=f"BEGIN {body}; END"))
    return [], transpile_mysql_ansi(body).rstrip(";").strip(), None


def _procedure_plan(spec: EventSpec) -> tuple[list[str], str | None, str | None]:
    """Compound body → ([procedure DDL], 'CALL <job>()', None), or
    ([], None, named skip) when the plpgsql builder refuses it."""
    from mysql2pg_spark.sinks.plpgsql import emit_plpgsql
    from mysql2pg_spark.sinks.plpgsql_builder import (
        UnsupportedFunctionError,
        build_spec_from_mysql,
    )

    # the procedure name must be a valid UNQUOTED PG identifier
    # (review r13: a backtick event name like `90days` or `my job`
    # otherwise emits DDL PostgreSQL rejects): non-word characters
    # fold to '_', a leading digit gets an 'e' prefix, and the suffix
    # keeps distinct events distinct enough in practice
    ident = re.sub(r"\W", "_", spec.name.lower())
    if not re.match(r"[a-z_]", ident):
        ident = f"e{ident}"
    job = f"{ident}_evt_job"[:63]
    try:
        pspec = build_spec_from_mysql(
            f"CREATE PROCEDURE {job}() {spec.body}"
        )
    except UnsupportedFunctionError as e:
        return [], None, (
            f"CREATE EVENT {spec.name}: compound body does not "
            f"translate to plpgsql ({e}) — not migrated"
        )
    return [emit_plpgsql(pspec)], f"CALL {job}()", None


def event_actions(raw: str) -> list[tuple[str, str]]:
    """The complete migration plan for one raw ``CREATE EVENT``
    statement: ``[(kind, payload)]`` with kind ``'ddl'`` (payload =
    one executable PG statement) / ``'skip'`` / ``'note'``. Parse
    failures carry a named skip; everything else delegates to
    :func:`spec_actions`."""
    spec = parse_event(raw)
    if spec is None:
        mo = re.search(
            r"(?is)\bEVENT\s+(?:IF\s+NOT\s+EXISTS\s+)?(?:`([^`]+)`|(\w+))",
            raw,
        )
        ev_name = (mo.group(1) or mo.group(2)) if mo else "?"
        return [(
            "skip",
            f"CREATE EVENT {ev_name}: unparseable schedule/body — "
            "recreate in pg_cron or pgAgent (source DDL preserved in "
            "the dump); not migrated",
        )]
    return spec_actions(spec)


def spec_actions(spec: EventSpec) -> list[tuple[str, str]]:
    """The single decision surface for one parsed event (round 13 —
    previously split between a cron-only translator whose AT/ENDS
    refusals contradicted the emulations layered above it). Order:
    DISABLE → skip; AT → one-shot emulation or named skip; literal
    ENDS → inner plan + self-unscheduling remover; EVERY → cadence
    check + body plan."""
    if not spec.enabled:
        # round 13: a DISABLE'd event keeps its DEFINITION in MySQL —
        # dropping it loses the job. Plan the event as if enabled, then
        # deactivate every scheduled job (pg_cron's cron.job.active
        # column is exactly MySQL's ENABLE/DISABLE bit). Body/schedule
        # refusals stand on their own.
        inner = spec_actions(_dc_replace(spec, enabled=True))
        # find the MAIN-job schedule statements; the _ends remover is
        # an emulation ARTIFACT, not the event: it stays ACTIVE so the
        # schedule still expires at ENDS (MySQL expires disabled events
        # too), and so a later manual re-enable of the main job keeps
        # its ENDS bound
        main: list[tuple[int, str, str]] = []  # (index, jobname, call)
        for i, (k, payload) in enumerate(inner):
            if k != "ddl":
                continue
            mo = re.match(
                r"(?is)^\s*SELECT\s+(cron\.schedule\("
                r"'((?:[^']|'')*)'.*)$", payload,
            )
            if mo and not mo.group(2).endswith("_ends"):
                main.append((i, mo.group(2), mo.group(1)))
        if not main:
            return inner
        in_list = ", ".join(f"'{j}'" for _i, j, _c in main)
        # schedule AND deactivate in ONE statement (review r14): each
        # plan statement autocommits, so a separate UPDATE left a
        # window in which pg_cron could observe — and fire — the
        # active row (acute for the '* * * * *' guarded emulations).
        # A DO block is a single transaction; pg_cron reads cron.job
        # transactionally, so the active row is never visible.
        body = "; ".join(f"PERFORM {c}" for _i, _j, c in main) + (
            f"; UPDATE cron.job SET active = false "
            f"WHERE jobname IN ({in_list});"
        )
        do_tag = _fresh_tag("do", body)
        combined = f"DO {do_tag} BEGIN {body} END {do_tag}"
        first = main[0][0]
        drop = {i for i, _j, _c in main[1:]}
        inner = [
            ("ddl", combined) if i == first else (k, p)
            for i, (k, p) in enumerate(inner)
            if i not in drop
        ]
        inner.append((
            "note",
            f"event {spec.name} is DISABLE'd at the source — scheduled "
            "INACTIVE (cron.job.active = false, MySQL's DISABLE bit) "
            "atomically in one DO block so the active row is never "
            "visible to pg_cron; re-enable with UPDATE cron.job SET "
            f"active = true WHERE jobname IN ({in_list})",
        ))
        return inner

    if spec.schedule_kind == "at":
        if not spec.at_ts or not _TS_LIT_RE.match(spec.at_ts.strip()):
            return [(
                "skip",
                f"CREATE EVENT {spec.name}: AT {spec.at_ts} is not a "
                "literal timestamp — one-shot emulation needs an exact "
                "guard time; run the body once manually",
            )]
        preludes, pg_body, body_skip = _body_plan(spec)
        if pg_body is None:
            return [("skip", body_skip)]
        ddl, note = _one_shot_ddl(spec, pg_body)
        return [*(("ddl", p) for p in preludes), ("ddl", ddl), ("note", note)]

    # literal ENDS: plan the event WITHOUT its ENDS, then append a
    # self-unscheduling remover that drops both jobs at the ENDS
    # wall-clock match — the same pg_cron idiom as AT one-shots
    if spec.ends:
        if not _TS_LIT_RE.match(spec.ends.strip()):
            return [(
                "skip",
                f"CREATE EVENT {spec.name}: ENDS {spec.ends} is not a "
                "literal timestamp — schedule without it and "
                "cron.unschedule at the end time; not migrated",
            )]
        inner = spec_actions(_dc_replace(spec, ends=None))
        if any(k == "ddl" for k, _ in inner):
            name = _q(spec.name.lower())
            mi, hh, _dom, _mon, _dow, _lit = _starts_fields(spec.ends)
            # daily guard (round 13): cron has no year field — the DO
            # block no-ops until now() reaches the ENDS timestamp, and
            # the daily match bounds a missed removal to at most a day
            # (a yearly month/day match would delay it a full year).
            # ON COMPLETION PRESERVE keeps the main job DEFINED but
            # inactive after ENDS (MySQL keeps the event, disabled);
            # the remover itself is an emulation artifact and always
            # unschedules.
            stop_main = (
                f"UPDATE cron.job SET active = false "
                f"WHERE jobname = '{name}'" if spec.preserve
                else f"PERFORM cron.unschedule('{name}')"
            )
            do_tag = _fresh_tag("do", spec.ends, name)
            cmd = (
                f"DO {do_tag} BEGIN "
                f"IF now() >= TIMESTAMP {spec.ends} "
                f"THEN {stop_main}; "
                f"PERFORM cron.unschedule('{name}_ends'); "
                f"END IF; END {do_tag}"
            )
            evt_tag = _fresh_tag("evt", cmd)
            inner.append((
                "ddl",
                f"SELECT cron.schedule('{name}_ends', "
                f"'{mi} {hh} * * *', {evt_tag}{cmd}{evt_tag})",
            ))
            stopped = (
                "deactivates the main job (ON COMPLETION PRESERVE — "
                "MySQL keeps the event disabled)" if spec.preserve
                else "removes both jobs"
            )
            inner.append((
                "note",
                f"event {spec.name}: ENDS {spec.ends} emulated via a "
                "self-unscheduling remover job (daily cron entry whose "
                f"DO block no-ops until the ENDS timestamp) that "
                f"{stopped} at the first daily match at-or-after the "
                "ENDS time — never early; a server down at that minute "
                "or cron.timezone vs session TimeZone skew delays the "
                "removal by at most a day plus the skew",
            ))
        return inner

    sched, why, phase_exact = _cron_schedule(spec)
    guard = guard_note = None
    if sched is None:
        # round 13: cadences the divisor rule refuses emulate via a
        # period-elapsed guard inside the scheduled DO block (exact
        # when STARTS is literal — the guard measures from the anchor)
        n, unit = _promote(spec.interval_n, spec.interval_unit)
        if spec.interval_n >= 1:
            sched, guard, guard_note, phase_exact = _guarded_schedule(
                spec, n, unit
            )
        if sched is None:
            return [(
                "skip",
                f"CREATE EVENT {spec.name}: {why} — not migrated",
            )]
    else:
        fields = sched.split()
        dom_29_31 = (
            len(fields) == 5 and fields[2].isdigit()
            and int(fields[2]) > 28
        )
        lit_starts = bool(
            spec.starts and _TS_LIT_RE.match(spec.starts.strip())
        )
        # Every literal STARTS is gated DETERMINISTICALLY (review r14;
        # round 13 compared STARTS against datetime.now() at plan time,
        # so the same event produced different DDL depending on when
        # the migration ran, and the 'n seconds' interval path silently
        # skipped the gate entirely — firing years before MySQL's first
        # firing for a future anchor). Two exact shapes:
        # - phase-exact direct entry (aligned divisor cadence, or a
        #   pg_cron 'n seconds' interval): the only divergence a guard
        #   can fix is firings BEFORE the anchor — wrap the body in the
        #   start gate alone. For past anchors the gate is trivially
        #   true; the plan no longer depends on the wall clock.
        # - misaligned cadence (EVERY 6 HOUR STARTS 02:00 → cron */6
        #   fires 0/6/12/18, MySQL 2/8/14/20 — off on EVERY firing) or
        #   day-of-month 29-31 (cron SKIPS short months, MySQL rolls to
        #   month-end): reroute through the anchored period-elapsed
        #   guard, which reproduces MySQL's cadence exactly and
        #   subsumes the start gate.
        if lit_starts and phase_exact and not dom_29_31:
            # tolerance policy (review r14): a 5-field cron entry fires
            # at second 0 of the STARTS minute, possibly seconds before
            # a mid-minute STARTS — the 59-second slack admits exactly
            # that firing and nothing earlier (a full minute let a
            # minute-aligned anchor fire one whole period early,
            # review r14b). An 'n seconds' INTERVAL schedule fires every
            # few seconds, so the same slack would run the body up to
            # 60/n times before the anchor; its gate is exact (the
            # first firing lands within n≤59 s AFTER STARTS instead).
            tol = " - interval '59 seconds'" if len(fields) == 5 else ""
            guard = f"now() >= TIMESTAMP {spec.starts}{tol}"
            anchor_txt = (
                "pg_cron's interval scheduler anchors the cadence at "
                "registration, so firings may be offset from MySQL's "
                "STARTS-anchored ones by less than one (sub-minute) "
                "period" if len(fields) != 5
                else "the cron entry already fires at MySQL's "
                     "anchored times"
            )
            guard_note = (
                f"event {spec.name}: literal STARTS {spec.starts} "
                "enforced as a start gate inside the DO block — the "
                "job no-ops before the anchor (a future STARTS never "
                f"fires early); {anchor_txt}"
            )
        elif dom_29_31 or (lit_starts and not phase_exact):
            n, unit = _promote(spec.interval_n, spec.interval_unit)
            g = _guarded_schedule(spec, n, unit)
            if g[0] is not None:
                sched, guard, guard_note, phase_exact = g
    preludes, pg_body, body_skip = _body_plan(spec)
    if pg_body is None:
        return [("skip", body_skip)]
    if guard is not None:
        body_stmt = _plpgsql_stmt(pg_body)
        do_tag = _fresh_tag("do", body_stmt, guard)
        pg_body = (
            f"DO {do_tag} BEGIN IF {guard} THEN {body_stmt}; "
            f"END IF; END {do_tag}"
        )
    tag = _fresh_tag("evt", pg_body)
    out: list[tuple[str, str]] = [("ddl", p) for p in preludes]
    out.append((
        "ddl",
        f"SELECT cron.schedule('{_q(spec.name.lower())}', '{sched}', "
        f"{tag}{pg_body}{tag})",
    ))
    if guard_note is not None:
        # the guard note already names the anchor divergence — one
        # note per plan (the phase note would restate it)
        out.append(("note", guard_note))
    elif not phase_exact:
        out.append(("note", _phase_note(spec)))
    return out


def _one_shot_ddl(spec: EventSpec, pg_body: str) -> tuple[str, str]:
    """pg_cron's self-unschedule idiom for ``AT '<literal ts>'``: a
    DAILY cron entry at the target's minute/hour whose command is a
    plpgsql DO block guarded by ``now() >= TIMESTAMP '<ts>'`` — it
    no-ops until the timestamp, then runs the body once and
    ``cron.unschedule``s itself. cron has NO YEAR FIELD; round 12 used
    a yearly month/day match, under which a server down at the
    matching minute delayed the one-shot a full YEAR — the daily match
    bounds the catch-up to a day (round 13). Returns (schedule DDL,
    divergence note); the caller has already validated the literal
    timestamp and translated the body."""
    mi, hh, _dom, _mon, _dow, _lit = _starts_fields(spec.at_ts)
    name = _q(spec.name.lower())
    body_stmt = _plpgsql_stmt(pg_body)
    # ON COMPLETION PRESERVE (round 13): MySQL keeps a completed
    # one-shot's definition, disabled — deactivate instead of removing
    stop_self = (
        f"UPDATE cron.job SET active = false WHERE jobname = '{name}'"
        if spec.preserve
        else f"PERFORM cron.unschedule('{name}')"
    )
    do_tag = _fresh_tag("do", body_stmt, name)
    cmd = (
        f"DO {do_tag} BEGIN "
        f"IF now() >= TIMESTAMP {spec.at_ts} THEN "
        f"{body_stmt}; {stop_self}; "
        f"END IF; END {do_tag}"
    )
    evt_tag = _fresh_tag("evt", cmd)
    ddl = (
        f"SELECT cron.schedule('{name}', "
        f"'{mi} {hh} * * *', {evt_tag}{cmd}{evt_tag})"
    )
    ending = (
        "deactivates itself (ON COMPLETION PRESERVE — MySQL keeps the "
        "completed event disabled)" if spec.preserve
        else "removes itself"
    )
    note = (
        f"event {spec.name}: one-shot AT {spec.at_ts} emulated via "
        "pg_cron's self-unschedule idiom — a daily cron entry whose "
        "DO block no-ops until the timestamp (never early), then "
        f"runs the body once and {ending}; a server down at that "
        "minute or cron.timezone vs session TimeZone skew delays the "
        "firing by at most a day plus the skew, where MySQL would "
        "have dropped a missed one-shot"
    )
    return ddl, note
