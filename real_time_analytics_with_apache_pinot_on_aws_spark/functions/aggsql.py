"""Pinot SQL call-site rewrites Spark cannot macro-register.

Two classes live here: AGGREGATE spellings (B16-B29 — CREATE FUNCTION
bodies must be scalar, so DISTINCTCOUNTHLL etc. cannot be SQL macros) and
LITERAL-TYPED scalars (DATETIMECONVERT / JSONEXTRACTSCALAR — their return
type depends on a literal argument, so no single fixed-return macro fits;
the rewrite parses the literal and emits a typed expression).

Spark SQL cannot register AGGREGATE functions as SQL macros (CREATE
FUNCTION bodies must be scalar), so the Pinot aggregation names a
dashboard actually sends to ``POST /query/sql`` — ``DISTINCTCOUNTHLL``,
``FIRSTWITHTIME``, ``PERCENTILE(x, 90)``, the ``*MV`` family — cannot be
served the way the scalar surface (functions/sqlfns.py) is.  This module
rewrites those call sites into the equivalent Spark aggregate
EXPRESSIONS at the SQL-text level: literal- and comment-aware (one
lexer, functions/sqltext.py), balanced-paren argument extraction,
word-boundary matched, case-insensitive, nested-subquery safe
(arguments are rewritten recursively).  ``Engine.query`` applies it
to every statement, so the broker accepts Pinot dashboard SQL verbatim.

Every target is a built-in Spark aggregate (codegen'd, partial-merge) —
the rewrite never introduces a UDF.  Semantics notes:

- ``PERCENTILE*(col, p)`` — Pinot's ``p`` is a PERCENT in [0, 100];
  Spark's is a fraction.  The Pinot-only names (PERCENTILEEST/TDIGEST/
  KLL/SMARTTDIGEST) always divide by 100; bare ``PERCENTILE`` collides
  with Spark's fractional builtin, so only a numeric literal > 1 is
  treated as a percent there (``percentile(x, 0.5)`` stays Spark-style —
  documented heuristic).
- ``FIRSTWITHTIME/LASTWITHTIME(expr, ts[, 'dataType'])`` — the trailing
  Pinot type literal is dropped (Spark's ``min_by/max_by`` are typed by
  analysis); ties resolve by ``ts`` ordering exactly as B26 documents.
- ``DISTINCTCOUNTHLL[RAWHLL]`` uses the DataSketches estimator
  (``hll_sketch_estimate(hll_sketch_agg(..))``) — the SAME family the
  star-tree HLL cells store, so routed answers, the useStarTree=false
  cross-check, and unroutable shapes agree exactly (an optional Pinot
  ``log2m`` argument is accepted and ignored);
  ``DISTINCTCOUNT/BITMAP/SMARTHLL/SEGMENTPARTITIONEDDISTINCTCOUNT`` are
  served EXACTLY (strictly more accurate than Pinot's sketch fallbacks).
- ``*MV`` aggregates fold the array per row with higher-order functions
  and aggregate the folds — one pass, no explode, no extra shuffle.
  ``DISTINCTCOUNTMV`` materializes the distinct element set per group
  (exact distinct requires it; bounded by distinct values like any exact
  distinct).

Reference context: the reference's dashboard queries hit exactly this
broker SQL surface (lib/apache-pinot-solution-stack.ts:725-726); the
aggregate names are the Pinot 1.2 function library **[P1.2]**.
"""

from __future__ import annotations

import contextvars
import re
from typing import NamedTuple

from . import sqltext

# the keep-native predicate active for the CURRENT rewrite pass — set by
# rewrite_pinot_aggregates so builders that rewrite NESTED SQL text
# (IN_SUBQUERY's quoted subquery) inherit the caller's live-catalog
# guard instead of silently dropping it one nesting level down
# (round-8 review)
_ACTIVE_KEEP_NATIVE: contextvars.ContextVar = contextvars.ContextVar(
    "pinot_rewrite_keep_native", default=None
)

_IDENT_CALL_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")

# table names whose builder accepts a ZERO-argument call site (Spark's
# own inverse-distribution form ``mode() WITHIN GROUP (ORDER BY ...)``
# must pass through, post-review) — everything else keeps the loud
# zero-arg arity error
_ZERO_ARG_OK = frozenset({"MODE"})

_SUM_FOLD = "aggregate({0}, cast(0.0 as double), (acc, x) -> acc + x)"

# name (upper) -> callable(args: list[str]) -> replacement SQL expression.
# Every template uses only built-in Spark aggregates / higher-order fns.


def _percentile(fn: str, always_percent: bool = True):
    """``always_percent``: the Pinot-only names (PERCENTILEEST/TDIGEST/...)
    never collide with a Spark builtin, so their argument is ALWAYS a
    percent in [0, 100].  Bare ``PERCENTILE`` is also Spark's fractional
    builtin, so only a numeric literal > 1 is treated as a percent there
    (a fractional Spark-style call passes through untouched — documented
    heuristic)."""

    def build(args: list[str]) -> str:
        if not always_percent and len(args) == 3:
            # Spark's own 3-arg percentile(col, percentage, frequency) —
            # not a Pinot spelling; pass it through untouched (round-6
            # review: rejecting it broke previously-working Spark SQL)
            return f"{fn}({', '.join(args)})"
        if len(args) != 2:
            raise ValueError(f"{fn} takes (column, percent), got {len(args)}")
        p = args[1].strip()
        try:
            val = float(p)
            if always_percent or abs(val) > 1:
                frac = f"{val / 100.0!r}"
            else:
                frac = p
        except ValueError:
            # non-literal percent: Pinot semantics (percent / 100)
            frac = f"(({p}) / 100.0)" if always_percent else p
        return f"{fn}({args[0]}, {frac})"

    return build


def _exact_distinct(args: list[str]) -> str:
    return f"count(DISTINCT {args[0]})"


def _sketch_distinct(name: str, theta: bool = False):
    """DataSketches-named distincts: 1 arg (exact service) or 2 args with
    the tuning literal ignored.  The theta SET-EXPRESSION form (3+ args)
    is served by the keyed two-level statement route
    (rewrite_keyed_agg_statement — exact per-key membership flags, round
    8), so reaching THIS builder with 3+ args on a THETA name means the
    statement shape was unroutable; on every other sketch name the form
    does not exist in Pinot at all — each case rejects loudly with the
    message that is actually true for it (round-8 review: the route
    message sent non-theta users to restructure a query no shape could
    ever route)."""

    def build(args: list[str]) -> str:
        if len(args) > 2:
            if theta:
                raise ValueError(
                    f"{name}: the set-expression form is served only "
                    "for single-table statements the two-level exact "
                    "route can restructure (no subqueries/multi-joins/windows/"
                    "other aggregates) — this statement shape is not; "
                    "use the sketch set-algebra API (operators/"
                    "sketch.py, SURVEY B21) for filtered intersections/"
                    "unions over arbitrary shapes"
                )
            raise ValueError(
                f"{name} takes (column[, tuningLiteral]) — the filtered "
                "set-expression form is a THETA-sketch spelling "
                "(DISTINCTCOUNT[RAW]THETASKETCH); for set algebra over "
                "other sketch families use operators/sketch.py "
                "(SURVEY B21)"
            )
        return f"count(DISTINCT {args[0]})"

    return build


def _reject_loudly(name: str, message: str):
    """Factory for spellings this SQL surface deliberately does not
    serve: raising at rewrite time beats resolving to a wrong answer or
    a bare unresolved-function error."""

    def build(args: list[str]) -> str:
        raise ValueError(f"{name} {message}")

    return build


def _tuple_value_unsupported(name: str, alt: str):
    """Call-site FALLBACK for the tuple value aggregates: the 2-argument
    relational spelling ``NAME(keyExpr, valueExpr)`` is served by the
    two-level statement route (rewrite_keyed_agg_statement — exact
    per-key sums, strictly more accurate than the sketch estimate the
    Pinot name requests), so reaching THIS builder means the statement
    shape was unroutable; Pinot's 1-argument serialized-BYTES form is
    never served (sketches are stored as relations here)."""

    def build(args: list[str]) -> str:
        if len(args) == 2:
            raise ValueError(
                f"{name}(keyExpr, valueExpr) is served only for "
                "single-table statements the two-level exact route can "
                "restructure (no subqueries/multi-joins/windows/other "
                "aggregates) — this statement shape is not; use "
                f"operators/sketch.py {alt} (SURVEY B70) instead"
            )
        raise ValueError(
            f"{name} reads a serialized Integer-Sum Tuple sketch column "
            "— this engine stores tuple sketches as relations, not "
            f"packed bytes; use the 2-argument (keyExpr, valueExpr) "
            f"relational spelling on a single-table statement, or "
            f"operators/sketch.py {alt} (SURVEY B70)"
        )

    return build


def _jsonpath_default(name: str, sql_type: str):
    """Arity dispatch for the JSONPATH typed extractors (see the
    _SCALAR_REWRITES entry comment)."""

    def build(args: list[str]) -> str:
        if len(args) == 2:
            return f"{name}({args[0]}, {args[1]})"  # the macro serves it
        if len(args) != 3:
            raise ValueError(
                f"{name} takes (json, path[, defaultValue]), "
                f"got {len(args)}"
            )
        # try_cast, not the typed macro: Pinot answers the DEFAULT when
        # the extracted value does not parse as the target type, where
        # the macro's plain cast would raise under ANSI.  For the LONG
        # target a present-but-fractional numeric (2.7) must COERCE like
        # Pinot (-> 2), not take the default (round-8 ADVICE): the
        # middle leg casts through double and truncates, firing only
        # when the exact bigint parse failed, so exact long-range values
        # keep full precision and only genuinely missing / non-numeric
        # paths reach the default.
        extracted = f"JSONPATHSTRING({args[0]}, {args[1]})"
        legs = [f"try_cast({extracted} as {sql_type})"]
        if sql_type == "bigint":
            legs.append(
                f"try_cast(try_cast({extracted} as double) as {sql_type})"
            )
        legs.append(f"cast(({args[2]}) as {sql_type})")
        return "coalesce(" + ", ".join(legs) + ")"

    return build


_IDSET_RE = re.compile(r"ID_?SET\s*\(", re.IGNORECASE)


def _in_subquery(name: str):
    """Pinot 1.2 IN_SUBQUERY(expr, 'SELECT ID_SET(col) FROM ...')
    **[P1.2]** (B42): evaluate the inner query's IdSet and test ``expr``
    for membership.  An IdSet IS the distinct set of the inner column,
    so the exact relational form is an uncorrelated IN-subquery —
    Catalyst plans the same broadcast semi-join the b42 oracle row pins,
    and the id set never hits the driver.  Pinot's predicate returns
    1/0 (queries write ``= 1``), so the rewrite emits a CASE to INT.
    IN_PARTITIONED_SUBQUERY is the same contract with a partition-
    routing hint this engine does not need (Catalyst picks the join
    strategy).  An optional second ID_SET argument (IdSet tuning
    literal) is accepted and ignored, like every other sketch-tuning
    literal on this surface."""

    def build(args: list[str]) -> str:
        if len(args) != 2:
            raise ValueError(
                f"{name} takes (expression, 'SELECT ID_SET(col) FROM "
                f"...'), got {len(args)} arguments"
            )
        inner = _unquote_literal(args[1], f"{name} subquery")
        m = sqltext.keyword("SELECT").match(inner, sqltext.skip_space(inner))
        m = m and _IDSET_RE.match(inner, sqltext.skip_space(inner, m.end()))
        if not m:
            raise ValueError(
                f"{name} subquery must start with SELECT ID_SET(col) "
                f"(Pinot's IdSet contract), got: {inner[:80]!r}"
            )
        # find the close paren of ID_SET(...), quote/paren aware
        try:
            id_args_text, i = sqltext.balanced(inner, m.end() - 1)
        except ValueError:
            raise ValueError(
                f"{name}: unbalanced ID_SET( in subquery"
            ) from None
        id_args = sqltext.split(id_args_text)
        if not id_args[0].strip():
            raise ValueError(
                f"{name}: ID_SET needs a column argument, got ID_SET()"
            )
        rest = inner[i:].strip()
        if not sqltext.keyword("FROM").match(
            inner, sqltext.skip_space(inner, i)
        ):
            raise ValueError(
                f"{name} subquery must be SELECT ID_SET(col) FROM ... "
                f"— found {rest[:40]!r} after ID_SET()"
            )
        # the inner query may itself use Pinot spellings: rewrite it
        inner_sql = rewrite_pinot_aggregates(
            f"SELECT {id_args[0].strip()} {rest}"
        )
        return (
            f"(CASE WHEN ({args[0]}) IN ({inner_sql}) "
            f"THEN 1 ELSE 0 END)"
        )

    return build


def _bytes_sketch_unsupported(name: str):
    return _reject_loudly(
        name,
        "returns serialized sketch BYTES in Pinot — this engine keeps "
        "frequent-items state relational; use operators/frequent.py "
        "(frequent_summaries / frequent_merge, the "
        "b21_frequent_items_sketch query shape) instead",
    )


def _hll_estimate(a: list) -> str:
    # The one HLL estimate form (every DISTINCTCOUNT*HLL / ULL / FASTHLL
    # spelling, scalar and MV).  An empty input (or all-NULL values) has
    # ZERO distinct values, but a NULL sketch estimates to NULL.  greatest,
    # not coalesce: beside two DISTINCT argument sets Spark reads the
    # sketch through first() over an Expand, NULL on an empty input, after
    # its optimizer has dropped a coalesce of the estimate (typed never
    # NULL); greatest stays, and on a non-empty input equals the estimate.
    return f"greatest(hll_sketch_estimate(hll_sketch_agg({a[0]})), 0)"


_UNIT_MS = {
    "MILLISECONDS": 1,
    "SECONDS": 1000,
    "MINUTES": 60_000,
    "HOURS": 3_600_000,
    "DAYS": 86_400_000,
}


def _unquote_literal(a: str, what: str) -> str:
    v = sqltext.string_value(a)
    if v is None:
        raise ValueError(
            f"{what} must be a quoted string literal (Pinot queries "
            f"always write it literally), got: {a.strip()!r}"
        )
    return v


def _dtc_fmt(fmt: str, what: str) -> tuple:
    """Parse a Pinot datetime format 'size:UNIT:EPOCH' /
    '1:UNIT:SIMPLE_DATE_FORMAT:pattern' -> ('EPOCH', ms_per_tick) or
    ('SDF', pattern)."""
    parts = fmt.split(":")
    if len(parts) >= 3 and parts[2].upper() == "SIMPLE_DATE_FORMAT":
        pattern = ":".join(parts[3:])
        if not pattern:
            raise ValueError(f"{what}: SIMPLE_DATE_FORMAT needs a pattern")
        return ("SDF", pattern)
    if len(parts) >= 3 and parts[2].upper() == "EPOCH":
        unit = parts[1].upper()
        if unit not in _UNIT_MS:
            raise ValueError(f"{what}: unknown epoch unit {unit!r}")
        return ("EPOCH", int(parts[0]) * _UNIT_MS[unit])
    raise ValueError(f"{what}: unparseable Pinot datetime format {fmt!r}")


def _datetimeconvert(args: list[str]) -> str:
    """Pinot DATETIMECONVERT(value, inFormat, outFormat, granularity)
    **[P1.2]** — formats are LITERALS in real queries, so they parse at
    rewrite time and the emitted expression is plain arithmetic (EPOCH
    forms) or to_timestamp/date_format (SIMPLE_DATE_FORMAT forms), bucketed
    to the granularity.  The return type follows the OUT format (BIGINT for
    EPOCH, STRING for SDF) — the reason this cannot be a fixed-type macro.
    """
    if len(args) != 4:
        raise ValueError(
            f"DATETIMECONVERT takes (value, inFormat, outFormat, "
            f"granularity), got {len(args)}"
        )
    v = args[0]
    in_kind = _dtc_fmt(
        _unquote_literal(args[1], "DATETIMECONVERT input format"),
        "DATETIMECONVERT input format",
    )
    out_kind = _dtc_fmt(
        _unquote_literal(args[2], "DATETIMECONVERT output format"),
        "DATETIMECONVERT output format",
    )
    gran = _unquote_literal(args[3], "DATETIMECONVERT granularity")
    gp = gran.split(":")
    if len(gp) != 2 or gp[1].upper() not in _UNIT_MS:
        raise ValueError(f"unparseable DATETIMECONVERT granularity {gran!r}")
    bucket_ms = int(gp[0]) * _UNIT_MS[gp[1].upper()]
    if in_kind[0] == "EPOCH":
        millis = f"cast(({v}) * {in_kind[1]} as bigint)"
    else:
        millis = f"unix_millis(to_timestamp({v}, '{in_kind[1]}'))"
    # integer `div`, not floor(double /): Pinot's granularity rounding
    # and unit conversion are Java LONG divisions, and a double quotient
    # silently loses integer precision past 2^53 ms (~year 287K —
    # unreachable for real times, but the fuzz reference found the
    # divergence and the long form is both exact and Pinot-faithful)
    bucketed = f"(({millis} div {bucket_ms}) * {bucket_ms})"
    if out_kind[0] == "EPOCH":
        return f"({bucketed} div {out_kind[1]})"
    return f"date_format(timestamp_millis({bucketed}), '{out_kind[1]}')"


def _parse_ordered_funnel_args(kind: str, args: list[str]) -> tuple:
    """Shared ordered-funnel argument parser -> (tsExpr, window_ms,
    step expressions, cmp operator) with loud errors; used by the
    call-site fold (:func:`_funnel`) AND the round-8 bounded statement
    route so both paths accept and reject identically."""
    if len(args) < 4:
        raise ValueError(
            f"FUNNEL{kind} takes (tsExpr, 'windowMs', numberSteps, "
            f"'step1Expr', ... [, 'mode', ...]), got {len(args)}"
        )
    ts = args[0]
    window_ms = int(_unquote_literal(args[1], "funnel windowSize"))
    n = int(args[2])
    if n < 1:
        # n=0 with trailing mode/settings literals would pass the
        # steps-count check vacuously and crash the route on steps[0]
        # (round-9 review) — the loud contract owns this edge
        raise ValueError(
            f"FUNNEL{kind}: numberSteps must be >= 1, got {n}"
        )
    rest = [
        _unquote_literal(a, "funnel step/mode expression")
        for a in args[3:]
    ]
    steps, modes = rest[:n], [m.upper() for m in rest[n:]]
    if len(steps) != n:
        raise ValueError(
            f"FUNNEL{kind}: numberSteps={n} but only {len(steps)} step "
            "expressions given"
        )
    for m in modes:
        if m not in ("STRICT_INCREASE", "KEEP_ALL"):
            raise ValueError(
                f"FUNNEL{kind}: unsupported mode {m!r} (supported: "
                "default, KEEP_ALL, STRICT_INCREASE)"
            )
    cmp = ">" if "STRICT_INCREASE" in modes else ">="
    return ts, window_ms, steps, cmp


_DURATION_STAT_FNS = ("MIN", "MAX", "AVG", "MEDIAN")

# anchored on the NO-SPACE spelling Pinot uses (round 10, r9 ADVICE: a
# step PREDICATE comparing a column literally named durationFunctions —
# `durationFunctions = col` — was mis-read as the settings literal and
# the error blamed the wrong argument; with spaces it now stays a step).
# The whitespace-spelled near-miss gets its own hint below.
_DURFNS_RE = re.compile(r"^\s*durationFunctions=(.*)$", re.IGNORECASE)
_DURFNS_SPACED_RE = re.compile(
    r"^\s*durationFunctions\s+=", re.IGNORECASE
)


def _parse_step_duration_args(args: list[str]) -> tuple:
    """``FUNNELSTEPDURATIONSTATS(tsExpr, 'windowMs', n, 'step1Expr',
    ..., 'durationFunctions=min,max,avg,median'[, 'mode', ...])`` ->
    ``(ts, window_ms, steps, cmp, fns)`` with loud errors.  The
    durationFunctions SETTINGS literal is positional-agnostic among the
    trailing literals (Pinot 1.2 settings style **[P1.2]**) and is
    REQUIRED — it alone determines the output array's shape, so there
    is no honest default.  Remaining trailing literals parse as modes
    through the shared ordered-funnel parser."""
    if len(args) < 4:
        raise ValueError(
            "FUNNELSTEPDURATIONSTATS takes (tsExpr, 'windowMs', "
            "numberSteps, 'step1Expr', ..., "
            f"'durationFunctions=...'[, 'mode', ...]), got {len(args)}"
        )
    try:
        int(args[2])
    except ValueError:
        raise ValueError(
            "FUNNELSTEPDURATIONSTATS: numberSteps must be an integer "
            f"literal, got {args[2]!r}"
        ) from None
    # pull the settings literal out WHEREVER it sits after the fixed
    # args — an n-dependent split (args[3+n:]) swallowed it into the
    # step list when numberSteps over-counted the steps, masking the
    # real steps-count diagnostic behind a false "settings literal
    # required" (round-9 review); no valid step predicate is ever
    # spelled 'durationFunctions=...', so position-agnostic is safe
    rest, fns, spaced = [], None, False
    for a in args[3:]:
        lit = sqltext.string_value(a)
        m = _DURFNS_RE.match(lit) if lit is not None else None
        if m is None:
            if lit is not None and _DURFNS_SPACED_RE.match(lit):
                spaced = True  # a near-miss worth naming in the error
            rest.append(a)
            continue
        if fns is not None:
            raise ValueError(
                "FUNNELSTEPDURATIONSTATS: duplicate durationFunctions "
                "settings literal"
            )
        fns = [
            p.strip().upper() for p in m.group(1).split(",") if p.strip()
        ]
    if not fns:
        hint = (
            " (a literal spelled 'durationFunctions = ...' with "
            "whitespace was treated as a step predicate — Pinot "
            "spells the settings literal without spaces)"
            if spaced
            else ""
        )
        raise ValueError(
            "FUNNELSTEPDURATIONSTATS requires a "
            "'durationFunctions=...' settings literal — it determines "
            "the output array's shape (supported: min, max, avg, "
            "median)" + hint
        )
    for f in fns:
        if f not in _DURATION_STAT_FNS:
            raise ValueError(
                f"FUNNELSTEPDURATIONSTATS: unsupported durationFunction "
                f"{f!r} (supported: min, max, avg, median)"
            )
    ts, window_ms, steps, cmp = _parse_ordered_funnel_args(
        "STEPDURATIONSTATS", args[:3] + rest
    )
    return ts, window_ms, steps, cmp, fns


def _funnel(kind: str):
    """Pinot 1.2 funnel aggregations **[P1.2]**:
    ``FUNNELMAXSTEP(tsExpr, 'windowMs', n, 'step1Expr', ..., 'stepNExpr'
    [, 'mode', ...])`` (+ MATCHSTEP returning the per-step reached array
    and COMPLETECOUNT counting COMPLETED funnels — the state resets after
    each completion so multi-completion groups count every pass).  Emitted
    as ONE aggregate expression: collect the group's step-matching events
    (non-matching rows fold to NULL structs collect_list drops — per-group
    memory is bounded by matching events, like Pinot's funnel state), sort
    by timestamp, fold left-to-right advancing each step's
    first-completion timestamp (step i+1 at-or-after step i — Pinot's
    default; the 'STRICT_INCREASE' mode literal switches to strictly
    after; 'KEEP_ALL' is the default behavior and parses as a no-op;
    other modes are rejected loudly rather than silently mis-served).
    Every step after the first must land within windowSize of step 1;
    windowMs '0' disables the bound.

    Requirements, checked loudly at rewrite time: windowMs, the step
    expressions, and modes must be literals (they always are in Pinot
    queries) and the timestamp expression must be TIMESTAMP-typed (this
    engine's time columns are real timestamps, SURVEY §1.2).
    """

    def build(args: list[str]) -> str:
        ts, window_ms, steps, cmp = _parse_ordered_funnel_args(kind, args)
        n = len(steps)
        any_step = " OR ".join(f"({e})" for e in steps)
        ev_struct = ", ".join(
            [f"cast({ts} as timestamp) as _ts"]
            + [f"({e}) as _s{i + 1}" for i, e in enumerate(steps)]
        )
        collected = (
            f"array_sort(collect_list("
            f"CASE WHEN {any_step} THEN struct({ev_struct}) END))"
        )
        counter = kind == "COMPLETECOUNT"
        init_fields = [
            f"cast(null as timestamp) as t{i + 1}" for i in range(n)
        ] + (["cast(0 as bigint) as _c"] if counter else [])
        adv = []
        for i in range(n):
            cond = f"s.t{i + 1} IS NULL AND e._s{i + 1}"
            if i > 0:
                cond += f" AND s.t{i} IS NOT NULL AND e._ts {cmp} s.t{i}"
                if window_ms > 0:
                    cond += (
                        f" AND e._ts <= s.t1 + "
                        f"make_dt_interval(0, 0, 0, {window_ms / 1000.0!r})"
                    )
            adv.append(
                f"CASE WHEN {cond} THEN e._ts ELSE s.t{i + 1} END as t{i + 1}"
            )
        if counter:
            # the step-N advance condition firing IS a completion: count it
            # and reset so the NEXT pass through the funnel counts too
            complete_cond = f"s.t{n} IS NULL AND e._s{n}"
            if n > 1:
                complete_cond += (
                    f" AND s.t{n - 1} IS NOT NULL AND e._ts {cmp} s.t{n - 1}"
                )
                if window_ms > 0:
                    complete_cond += (
                        f" AND e._ts <= s.t1 + "
                        f"make_dt_interval(0, 0, 0, {window_ms / 1000.0!r})"
                    )
            reset = ", ".join(
                [f"cast(null as timestamp) as t{i + 1}" for i in range(n)]
                + ["s._c + 1 as _c"]
            )
            step_expr = (
                f"(s, e) -> CASE WHEN {complete_cond} "
                f"THEN struct({reset}) "
                f"ELSE struct({', '.join(adv)}, s._c as _c) END"
            )
            finish = "s -> s._c"
        else:
            step_expr = f"(s, e) -> struct({', '.join(adv)})"
            if kind == "MAXSTEP":
                finish = "s -> " + " + ".join(
                    f"CASE WHEN s.t{i + 1} IS NOT NULL THEN 1 ELSE 0 END"
                    for i in range(n)
                )
            else:  # MATCHSTEP
                flags = ", ".join(
                    f"CASE WHEN s.t{i + 1} IS NOT NULL THEN 1 ELSE 0 END"
                    for i in range(n)
                )
                finish = f"s -> array({flags})"
        return (
            f"aggregate({collected}, struct({', '.join(init_fields)}), "
            f"{step_expr}, {finish})"
        )

    return build


def _histogram(args: list[str]) -> str:
    """Pinot HISTOGRAM **[P1.2]**: per-group bin counts as one array.
    Both documented forms: ``HISTOGRAM(col, lower, upper, numBins)``
    (equal-width) and ``HISTOGRAM(col, ARRAY[e0, e1, ...])`` (explicit
    edges).  The bin parameters are LITERALS in Pinot queries, so the
    rewrite unrolls to ``array(count_if(...), ...)`` — one codegen'd
    aggregate per bin, partial-merged, zero per-group collection state.
    Pinot bin semantics: bin i counts values in [e_i, e_{i+1}), the LAST
    bin is right-closed [e_{n-1}, e_n], values outside [e_0, e_n] are
    excluded."""
    import math

    col = args[0] if args else ""
    # one broker statement unrolls to one count_if PER BIN — cap it so a
    # hostile numBins cannot stall the driver / blow up analysis
    # (round-7 review; everything else about HISTOGRAM errors loudly too)
    max_bins = 10_000

    def edges_equal_width() -> list[float]:
        try:
            lo, hi = float(args[1]), float(args[2])
            n = int(args[3])
        except ValueError:
            raise ValueError(
                "HISTOGRAM: lower/upper/numBins must be numeric literals "
                f"(Pinot queries always write them literally), got "
                f"({args[1]}, {args[2]}, {args[3]})"
            ) from None
        if not (math.isfinite(lo) and math.isfinite(hi)):
            raise ValueError(
                "HISTOGRAM: lower/upper must be finite numeric literals, "
                f"got ({args[1]}, {args[2]})"
            )
        if n <= 0 or not hi > lo:
            raise ValueError(
                "HISTOGRAM: need upper > lower and numBins >= 1, got "
                f"({args[1]}, {args[2]}, {args[3]})"
            )
        if n > max_bins:
            raise ValueError(
                f"HISTOGRAM: numBins {n} exceeds the {max_bins} cap "
                "(each bin unrolls to one aggregate expression)"
            )
        edges = [lo + (hi - lo) * i / n for i in range(n + 1)]
        # the endpoints are the user's EXACT literals: float rounding of
        # lo+(hi-lo)*n/n can land below hi and silently drop a value
        # equal to upper from the closed last bin (round-7 review)
        edges[0], edges[-1] = lo, hi
        if any(b <= a for a, b in zip(edges, edges[1:])):
            # a bin width below ulp(lower) collapses adjacent edges —
            # silently-empty bins; reject like the explicit-edges form
            raise ValueError(
                f"HISTOGRAM: the range [{args[1]}, {args[2]}] cannot be "
                f"split into {n} representable bins (bin width below the "
                "floating-point resolution at that magnitude)"
            )
        return edges

    if len(args) == 4:
        edges = edges_equal_width()
    elif len(args) == 2:
        m = re.match(r"\s*ARRAY\s*\[(?P<body>.*)\]\s*$", args[1],
                     re.IGNORECASE | re.DOTALL)
        if not m:
            raise ValueError(
                "HISTOGRAM takes (col, lower, upper, numBins) or "
                f"(col, ARRAY[e0, e1, ...]), got: {args[1]!r}"
            )
        try:
            edges = [float(e) for e in m.group("body").split(",")]
        except ValueError:
            raise ValueError(
                "HISTOGRAM: bin edges must be numeric literals"
            ) from None
        if not all(math.isfinite(e) for e in edges):
            # NaN also sneaks past the ordering check (all comparisons
            # False) and 'nan'/'inf' render as bare SQL identifiers
            raise ValueError(
                "HISTOGRAM: bin edges must be FINITE numeric literals"
            )
        if len(edges) < 2 or any(
            b <= a for a, b in zip(edges, edges[1:])
        ):
            raise ValueError(
                "HISTOGRAM: need >= 2 strictly increasing bin edges"
            )
        if len(edges) - 1 > max_bins:
            raise ValueError(
                f"HISTOGRAM: {len(edges) - 1} bins exceed the {max_bins} "
                "cap (each bin unrolls to one aggregate expression)"
            )
    else:
        raise ValueError(
            f"HISTOGRAM takes (col, lower, upper, numBins) or "
            f"(col, ARRAY[e0, ...]), got {len(args)} argument(s)"
        )
    bins = []
    last = len(edges) - 2
    for i in range(len(edges) - 1):
        hi_op = "<=" if i == last else "<"
        bins.append(
            f"count_if(({col}) >= {edges[i]!r} "
            f"AND ({col}) {hi_op} {edges[i + 1]!r})"
        )
    return "array(" + ", ".join(bins) + ")"


def _parse_funnelcount_clauses(args: list[str]) -> tuple:
    """Shared FUNNELCOUNT clause parser -> (step predicates, correlator)
    — used by the exact-fold call-site rewrite below AND the bounded
    two-level statement route (rewrite_keyed_agg_statement)."""
    clauses: dict[str, str] = {}
    for a in args:
        m = re.match(r"\s*([A-Za-z_]\w*)\s*\(", a)
        if not m:
            raise ValueError(
                f"FUNNELCOUNT clause must be STEPS(...)/CORRELATE_BY(...)"
                f"/SETTINGS(...), got: {a.strip()!r}"
            )
        inner, end = sqltext.balanced(a, m.end() - 1)
        name = m.group(1).upper()
        if name not in ("STEPS", "CORRELATE_BY", "SETTINGS"):
            raise ValueError(f"FUNNELCOUNT: unknown clause {name}")
        if name in clauses:
            raise ValueError(f"FUNNELCOUNT: duplicate {name} clause")
        if a[end:].strip():
            raise ValueError(
                f"FUNNELCOUNT: trailing text after {name}(...): "
                f"{a[end:].strip()!r}"
            )
        clauses[name] = inner
    if "STEPS" not in clauses or "CORRELATE_BY" not in clauses:
        raise ValueError(
            "FUNNELCOUNT requires both STEPS(...) and CORRELATE_BY(...)"
        )
    steps = [s.strip() for s in sqltext.split(clauses["STEPS"])]
    if not steps or not all(steps):
        raise ValueError("FUNNELCOUNT: STEPS(...) needs >= 1 predicate")
    corr = clauses["CORRELATE_BY"].strip()
    if not corr or "," in corr:
        raise ValueError(
            "FUNNELCOUNT: CORRELATE_BY(...) takes exactly one column"
        )
    return steps, corr


def _funnelcount(args: list[str]) -> str:
    """Pinot's primary funnel aggregate **[P1.2]**:
    ``FUNNELCOUNT(STEPS(pred1, ..., predN), CORRELATE_BY(col)
    [, SETTINGS('strategy', ...)])`` -> ``array<bigint>`` of size N where
    ``count_i`` = distinct correlators matching steps 1..i (Pinot's
    bitmap strategy is a cumulative per-step bitmap INTERSECTION — set
    semantics, no event-time ordering, unlike FUNNELMAXSTEP).

    Emitted as ONE aggregate expression in the same style as
    :func:`_funnel`: collect the DISTINCT (correlator, step-flag-combo)
    entries among step-matching rows (<= 2^N entries per correlator —
    per-group state is bounded by correlators, exactly Pinot's bitmap
    state), sort so a correlator's entries are adjacent (struct ordering
    is field-lexicographic), then fold: OR the flag combos per
    correlator and, at each correlator boundary, add its prefix-AND
    reached flags into the running counts.  The fold carries the
    correlator key as ``to_json(named_struct('k', ...))`` so the state
    struct is typable (STRING) without knowing the column's type at
    rewrite time AND the encoding is INJECTIVE for every atomic type —
    BINARY goes through base64, where a plain string cast collapses
    invalid-UTF8 byte sequences into one replacement-char string and
    merged two correlators' runs (round-7 ADVICE).  NULL correlators are
    excluded, matching COUNT(DISTINCT ...) null semantics.  ``SETTINGS`` is
    accepted and ignored: its literals are Pinot execution-strategy
    HINTS (bitmap/theta_sketch/partitioned/sorted), not semantics — the
    fold is exact.
    """
    steps, corr = _parse_funnelcount_clauses(args)
    n = len(steps)
    any_step = " OR ".join(f"({e})" for e in steps)
    ev = ", ".join(
        [f"({corr}) as _k"]
        + [f"coalesce(({e}), false) as _s{i + 1}" for i, e in enumerate(steps)]
    )
    collected = (
        f"array_sort(collect_set(CASE WHEN ({corr}) IS NOT NULL "
        f"AND ({any_step}) THEN struct({ev}) END))"
    )
    init = ", ".join(
        ["cast(null as string) as _k"]
        + [f"false as m{i + 1}" for i in range(n)]
        + [f"cast(0 as bigint) as c{i + 1}" for i in range(n)]
    )

    def flush(i: int) -> str:
        reached = " AND ".join(f"s.m{j + 1}" for j in range(i + 1))
        return f"(s.c{i + 1} + (CASE WHEN {reached} THEN 1 ELSE 0 END))"

    same_fields = ", ".join(
        ["s._k as _k"]
        + [f"(s.m{i + 1} OR e._s{i + 1}) as m{i + 1}" for i in range(n)]
        + [f"s.c{i + 1} as c{i + 1}" for i in range(n)]
    )
    # explicit microsecond timestamp formats: to_json's DEFAULTS truncate
    # timestamps to milliseconds, which would merge distinct
    # sub-millisecond correlators (round-8 review) — Spark timestamps are
    # exactly microsecond-precision, so SSSSSS restores injectivity
    k_enc = (
        "to_json(named_struct('k', e._k), "
        "map('timestampFormat', 'yyyy-MM-dd HH:mm:ss.SSSSSSXXX', "
        "'timestampNTZFormat', 'yyyy-MM-dd HH:mm:ss.SSSSSS'))"
    )
    new_fields = ", ".join(
        [f"{k_enc} as _k"]
        + [f"e._s{i + 1} as m{i + 1}" for i in range(n)]
        + [f"{flush(i)} as c{i + 1}" for i in range(n)]
    )
    step_expr = (
        f"(s, e) -> CASE WHEN s._k IS NOT NULL "
        f"AND s._k = {k_enc} "
        f"THEN struct({same_fields}) ELSE struct({new_fields}) END"
    )
    finish = "s -> array(" + ", ".join(flush(i) for i in range(n)) + ")"
    return f"aggregate({collected}, struct({init}), {step_expr}, {finish})"


def _arg_extreme(name: str, fn: str):
    def build(args: list[str]) -> str:
        if len(args) != 2:
            alt = "EXPRMIN" if fn == "min_by" else "EXPRMAX"
            raise ValueError(
                f"{name} takes (measuringCol, projectionCol) — exactly "
                f"the 2-argument pair Pinot's parser accepts; for the "
                f"multi-measure lexicographic form write "
                f"{alt}(projectionCol, measuringCol1, measuringCol2, ...) "
                f"(the underlying Pinot function {name} parses into)"
            )
        return f"{fn}({args[1]}, {args[0]})"

    return build


def _expr_extreme(name: str, fn: str):
    """Pinot 1.2 EXPRMIN/EXPRMAX **[P1.2]** — the underlying functions
    Pinot's parser rewrites ARG_MIN/ARG_MAX into: ``(projectionCol,
    measuringCol1[, measuringCol2, ...])``, projection FIRST (the
    REVERSE of the ARG_MIN pair above).  Multi-measure calls compare
    lexicographically; Spark struct ordering is field-order
    lexicographic, so ``min_by(proj, struct(m1, m2, ...))`` is the
    exact plan — one codegen'd partial-merge aggregate, no sort.
    Pinot's all-tied-rows multi-row result shape collapses to ONE
    arbitrary tie, exactly min_by/max_by's contract (the same
    documented tie rule as ARG_MIN).

    NULL measures: ``min_by(p, m)`` SKIPS rows whose ordering value is
    NULL, but a struct with a NULL field is not itself NULL (it would
    participate, sorting the NULL field first) — so the multi-measure
    form masks the whole ordering struct to NULL when ANY measure is
    NULL, keeping the 1-measure and N-measure forms consistent."""

    def build(args: list[str]) -> str:
        if len(args) < 2:
            raise ValueError(
                f"{name} takes (projectionCol, measuringCol1"
                f"[, measuringCol2, ...]), got {len(args)}"
            )
        if len(args) == 2:
            return f"{fn}({args[0]}, {args[1]})"
        measures = ", ".join(
            f"({m}) AS _m{i}" for i, m in enumerate(args[1:], 1)
        )
        any_null = " OR ".join(f"({m}) IS NULL" for m in args[1:])
        return (
            f"{fn}({args[0]}, CASE WHEN {any_null} THEN NULL "
            f"ELSE struct({measures}) END)"
        )

    return build


def _arrayagg(args: list[str]) -> str:
    """Pinot 1.2 ARRAYAGG(col, 'dataType'[, isDistinct]) **[P1.2]**:
    collect the group's values into a typed array.  The type is a
    string literal, so the rewrite emits a typed CAST around
    collect_list/collect_set (the same no-single-macro reason as
    JSONEXTRACTSCALAR); isDistinct is a bare or quoted true/false
    literal.  Element order is unspecified in BOTH engines (Pinot:
    segment order; Spark: partition completion order) — consumers
    needing determinism sort explicitly, so the rewrite adds no sort."""
    if len(args) not in (2, 3):
        raise ValueError(
            "ARRAYAGG takes (column, 'dataType'[, isDistinct]), "
            f"got {len(args)}"
        )
    t = _unquote_literal(args[1], "ARRAYAGG dataType").upper()
    sql_t = _JSON_TYPES.get(t)
    if sql_t is None:
        raise ValueError(f"unsupported ARRAYAGG dataType {t!r}")
    distinct = False
    if len(args) == 3:
        raw = args[2].strip()
        # bare true/false, or a properly quoted 'true'/'false' literal —
        # NOT a blanket quote-strip, which would silently accept
        # mismatched/malformed quotes (round-8 review)
        lit = sqltext.string_value(raw)
        lit = (raw if lit is None else lit).lower()
        if lit not in ("true", "false"):
            raise ValueError(
                "ARRAYAGG isDistinct must be a true/false literal "
                f"(Pinot queries write it literally), got: {args[2]!r}"
            )
        distinct = lit == "true"
    agg = "collect_set" if distinct else "collect_list"
    return f"cast({agg}({args[0]}) as array<{sql_t.lower()}>)"


_JSON_TYPES = {
    "INT": "INT",
    "LONG": "BIGINT",
    "FLOAT": "FLOAT",
    "DOUBLE": "DOUBLE",
    "BOOLEAN": "BOOLEAN",
    "STRING": "STRING",
    "TIMESTAMP": "TIMESTAMP",
}


def _jsonextract(name: str):
    """Pinot JSONEXTRACTSCALAR(json, path, resultsType[, default])
    **[P1.2]**: the TYPE is a literal, so the rewrite emits a typed CAST
    (the reason this cannot be one fixed-return-type macro); the 4-arg
    form coalesces the declared default in.  JSONEXTRACTINDEX shares the
    builder (same contract, same answer — the json index only changes
    Pinot's access path, and this engine's scan IS the access path);
    its 5-argument filter-predicate form hits the arity error below."""

    def build(args: list[str]) -> str:
        if len(args) not in (3, 4):
            raise ValueError(
                f"{name} takes (json, path, type[, default]), "
                f"got {len(args)}"
            )
        t = _unquote_literal(args[2], f"{name} type").upper()
        # Pinot accepts array result types too; scalar forms map to CAST
        sql_t = _JSON_TYPES.get(t)
        if sql_t is None:
            raise ValueError(f"unsupported {name} type {t!r}")
        base = f"get_json_object({args[0]}, {args[1]})"
        expr = base if sql_t == "STRING" else f"cast({base} as {sql_t})"
        if len(args) == 4:
            dflt = args[3]
            d = dflt if sql_t == "STRING" else f"cast({dflt} as {sql_t})"
            return f"coalesce({expr}, {d})"
        return expr

    return build


def _valuein(args: list[str]) -> str:
    """Pinot 1.2 VALUEIN(mvColumn, v1[, v2, ...]) **[P1.2]**: filter a
    multi-value column to the entries in the constant list, preserving
    document order (Pinot evaluates it per MV entry; ``filter`` is the
    same one-pass shape).  Variadic over constants, so a rewrite, not a
    fixed-signature macro."""
    if len(args) < 2:
        raise ValueError(
            f"VALUEIN takes (mvColumn, v1[, v2, ...]), got {len(args)}"
        )
    return f"filter({args[0]}, x -> x IN ({', '.join(args[1:])}))"


def _mv_exact_distinct_fallback(a: list[str]) -> str:
    """ONE definition of the normalized-set exact MV-distinct fallback
    (round-8 review: it was copy-pasted per spelling, so a fix had to be
    applied six times).  Dedup runs at the NATIVE element type; see the
    route-first notes at the DISTINCTCOUNTHLLMV entry."""
    return (
        "cast(size(array_distinct(flatten(collect_set(array_distinct("
        f"array_sort(filter({a[0]}, x -> x IS NOT NULL))))))) as bigint)"
    )


def _bool_agg(name: str, fn: str):
    """Pinot 1.2 BOOLAND/BOOLOR **[P1.2]**: boolean AND/OR over the
    group's non-NULL values.  Pinot stores BOOLEAN as INT (0/1) and the
    aggregate accepts the column directly; Spark's bool_and/bool_or
    require a BOOLEAN argument, so the rewrite casts — int 0/1, string
    'true'/'false', and native booleans all cast exactly.  NULLs are
    ignored and an empty/all-NULL group returns NULL in both engines.
    Duplication-immune (AND/OR are idempotent), so the MV statement
    route may leave co-occurring calls unmasked."""

    def build(args: list[str]) -> str:
        if len(args) != 1:
            raise ValueError(
                f"{name} takes exactly one boolean column, got {len(args)}"
            )
        return f"{fn}(cast({args[0]} as boolean))"

    return build


def _mode(args: list[str]) -> str:
    """Pinot 1.2 MODE(col[, reducer]) **[P1.2]**: most frequent value,
    ties resolved by the reducer literal — MIN (Pinot's default), MAX,
    or AVG over the tied modes.  Spark's ``mode(col, true)`` is exactly
    the MIN reducer (deterministic tie-break returns the lowest value —
    pinned by test), and MAX is the negation identity
    ``-mode(-col, true)`` (negating preserves frequencies and flips the
    order; MODE is numeric-only in Pinot **[P1.2]**, so negation is
    always typed).  AVG needs the full tied-mode set — per-group
    collection state a single expression cannot bound — and is rejected
    loudly.  Divergence note: Pinot returns DOUBLE; this surface keeps
    the column's native type (the MINMAXRANGE policy).  Spark's own
    ``mode(col)`` / ``mode(col, <bool>)`` builtin forms pass through
    with the bare-name default made deterministic-MIN, a strict
    determinism upgrade on the same answer, and the zero-arg
    ``mode() WITHIN GROUP (ORDER BY ...)`` inverse-distribution form
    passes through untouched (post-review: the arity error broke a
    previously-working native statement).

    MAX-reducer edges (both pinned by tests): a group containing
    Long.MIN_VALUE raises ANSI ARITHMETIC_OVERFLOW on the negation — a
    loud truthful failure, the keyed route's established
    loud-over-silent policy; and when NaN is among DOUBLE tied modes
    the reducer returns the largest REAL tied mode (negation keeps NaN
    greatest on both sides, so the deterministic min never lands on
    it) where a Java comparator would rank NaN highest.  ``-1 - v``
    would fix the long edge (order-reversing, overflow-free) but
    COLLAPSES nearby doubles (``-1 - 1e-300`` rounds to ``-1.0``),
    merging distinct mode buckets — silently wrong frequencies lose to
    a loud overflow, and the rewrite cannot know the column type."""
    if not args:
        # Spark's mode() WITHIN GROUP (ORDER BY ...) — pass through
        return "mode()"
    if len(args) == 1:
        return f"mode({args[0]}, true)"
    if len(args) != 2:
        raise ValueError(
            f"MODE takes (column[, 'MIN'|'MAX'|'AVG']), got {len(args)}"
        )
    raw = args[1].strip()
    if raw.lower() in ("true", "false"):
        # Spark's native mode(col, deterministic) — pass through
        return f"mode({args[0]}, {raw})"
    red = _unquote_literal(raw, "MODE reducer").strip().upper()
    if red == "MIN":
        return f"mode({args[0]}, true)"
    if red == "MAX":
        return f"(- mode((- ({args[0]})), true))"
    if red == "AVG":
        raise ValueError(
            "MODE(col, 'AVG') averages ALL tied modes — per-group "
            "collection state one expression cannot bound, so it is "
            "served only for single-table statements the three-level "
            "statement route can restructure "
            "(rewrite_mode_avg_statement: no multi-joins/windows/other MODE "
            "forms/non-decomposable co-aggregates) — this statement "
            "shape is not; compute it relationally (GROUP BY value, "
            "count, rank by count, AVG the top rank) or use the "
            "MIN/MAX reducers, which are served exactly at any shape"
        )
    raise ValueError(
        f"MODE reducer must be 'MIN', 'MAX' or 'AVG', got {red!r}"
    )


# rewrite-table names that are SCALAR (per-row) expressions — the
# statement routes must NOT classify them as aggregates when deciding
# duplication safety, and the engine's catalog predicate treats them as
# positively-known scalars (they are textual rewrites, deliberately
# absent from the session catalog — round-8 review: the fail-safe was
# bailing routable statements that merely mentioned them).
def _sumarray_reject(name: str):
    """Call-site FALLBACK: routable single-table statements are served
    by the positional two-level route (rewrite_sumarray_statement —
    bounded per-(group, position) sums), so reaching this builder means
    the statement shape was unroutable."""
    return _reject_loudly(
        name,
        "(element-wise array sum) is served only for statements the "
        "positional statement route can restructure (no multi-joins/"
        "windows/non-decomposable co-aggregates, all calls on ONE "
        "array expression) — this statement shape is not; restructure "
        "manually: LATERAL VIEW POSEXPLODE(col) then GROUP BY pos with "
        "sum(elem) and collect the positions back if an array is "
        "required (bounded, shuffle-only)",
    )


def _idset_reject(name: str, verb: str):
    """One message per IdSet blob-form pair (round-8 review: the four
    entries copy-pasted two identical strings)."""
    return _reject_loudly(
        name,
        f"{verb} a serialized base64 IdSet — this engine keeps id sets "
        "relational; filter with IN_SUBQUERY(expr, 'SELECT ID_SET(col) "
        "FROM ...') (served exactly as an IN-subquery) or a plain "
        "IN (SELECT col FROM ...) (SURVEY B42)",
    )


# The SCALAR (per-row) rewrites, in ONE dict so the classification set
# below cannot drift from the entries (round-8 review: a manually
# maintained parallel list omitted JSONEXTRACTINDEX, silently bailing
# every route that mentioned it).  Everything else in _REWRITES is an
# aggregate or a loud reject.
_SCALAR_REWRITES: dict = {
    "DATETIMECONVERT": _datetimeconvert,
    "VALUEIN": _valuein,
    # B42 IdSet wire spellings (round 8): the cross-query filter's SQL
    # forms.  IN_SUBQUERY is served exactly (relational IN-subquery,
    # broadcast semi-join); the serialized-base64 forms are loud
    # redirects (IdSets are relations here, the engine's sketch-bytes
    # policy).
    "IN_SUBQUERY": _in_subquery("IN_SUBQUERY"),
    "INSUBQUERY": _in_subquery("INSUBQUERY"),
    "IN_PARTITIONED_SUBQUERY": _in_subquery("IN_PARTITIONED_SUBQUERY"),
    "INPARTITIONEDSUBQUERY": _in_subquery("INPARTITIONEDSUBQUERY"),
    "JSONEXTRACTSCALAR": _jsonextract("JSONEXTRACTSCALAR"),
    # Pinot 1.2 JSONEXTRACTINDEX **[P1.2]**: the json-index-backed twin
    # of JSONEXTRACTSCALAR — same (json, path, type[, default]) contract
    # and same ANSWER (the index only changes Pinot's access path; this
    # engine's scan is the access path).  Pinot's 5-argument
    # filter-predicate form is not served — the shared builder raises
    # its loud arity error for it.
    "JSONEXTRACTINDEX": _jsonextract("JSONEXTRACTINDEX"),
    # Pinot jsonPath{String,Long,Double}(js, path[, defaultValue])
    # **[P1.2]**: the 2-arg form is the fixed-type macro
    # (functions/sqlfns.py — passes through untouched); the 3-arg form
    # returns the default when the path is missing or the value does
    # not parse, which is exactly coalesce over the macro (jayway's
    # PathNotFoundException and a failed numeric cast both surface as
    # NULL here).  SQL UDFs cannot overload arity, so the dispatch
    # lives in this rewrite layer (the JSONEXTRACTSCALAR pattern).
    "JSONPATHSTRING": _jsonpath_default("JSONPATHSTRING", "string"),
    "JSONPATHLONG": _jsonpath_default("JSONPATHLONG", "bigint"),
    "JSONPATHDOUBLE": _jsonpath_default("JSONPATHDOUBLE", "double"),
}

SCALAR_REWRITE_NAMES = frozenset(_SCALAR_REWRITES)


_REWRITES: dict = {
    **_SCALAR_REWRITES,
    "ID_SET": _idset_reject("ID_SET", "returns"),
    "IDSET": _idset_reject("IDSET", "returns"),
    "IN_ID_SET": _idset_reject("IN_ID_SET", "filters against"),
    "INIDSET": _idset_reject("INIDSET", "filters against"),
    "FUNNELCOUNT": _funnelcount,
    "HISTOGRAM": _histogram,
    "FUNNELMAXSTEP": _funnel("MAXSTEP"),
    "FUNNELMATCHSTEP": _funnel("MATCHSTEP"),
    # FUNNELCOMPLETECOUNT is the ONE PERMANENT FOLD on this surface
    # (round-9 adjudication of VERDICT r8 task 7; re-adjudicated round
    # 11 per VERDICT r10 item 5): its state RESETS after every
    # completion — a loop over the group's events, not a prefix min —
    # so no window cascade replicates it with per-row state.  A
    # "segmented window over completion epochs" cannot either: epoch k's
    # START is epoch k-1's completion time, a data-dependent recurrence
    # whose depth is the completion count itself — a fixed plan would
    # need one window layer per completion, unbounded.  (SQL MATCH_
    # RECOGNIZE with AFTER MATCH SKIP PAST LAST ROW is the construct
    # that expresses this; Spark has no equivalent, and an
    # applyInPandas automaton would trade the fold's JVM higher-order
    # `aggregate` for Python serialization at the same O(matching
    # events) bound.)  The fold's per-group memory is O(step-MATCHING events)
    # (non-matching rows fold to NULL structs collect_list drops),
    # exactly Pinot's funnel-state bound, NOT O(all events); a group
    # would need ~10^8 step-matching events for one correlator before
    # executor memory is at risk, at which point the funnel question
    # itself is degenerate.
    "FUNNELCOMPLETECOUNT": _funnel("COMPLETECOUNT"),
    # Pinot 1.2's fourth ordered-funnel aggregate **[P1.2]**: ROUTABLE
    # statements are served by the window-cascade statement route
    # (rewrite_ordered_funnel_statement — the greedy per-step
    # first-completion timestamps are already the route's state, and
    # the requested duration stats are scalar arithmetic over them at
    # the outer level; round 9).  This call-site entry only fires for
    # UNROUTABLE shapes, where the fold would need to collect the
    # group's events — redirect loudly instead.
    "FUNNELSTEPDURATIONSTATS": _reject_loudly(
        "FUNNELSTEPDURATIONSTATS",
        "is served for routable single-SELECT statements (the "
        "window-cascade statement route; JOIN ... ON chains, derived-table "
        "and FROM/JOIN-position-CTE relations are admitted) — "
        "restructure this statement to that shape, or use "
        "operators/funnel.py: "
        "funnel_step_duration_stats over funnel_state computes the same "
        "per-user duration stats as DataFrame columns when the state is "
        "built with the statement's mode (STRICT_INCREASE -> "
        "strict=True; default/KEEP_ALL -> strict=False) "
        "(SURVEY B16 funnel family)",
    ),
    "DISTINCTCOUNT": _exact_distinct,
    "DISTINCTCOUNTBITMAP": _exact_distinct,
    "DISTINCTCOUNTSMARTHLL": _exact_distinct,
    "SEGMENTPARTITIONEDDISTINCTCOUNT": _exact_distinct,
    # DataSketches-named distincts (round 7).  Exact service is strictly
    # more accurate than the sketch each name requests (same policy as
    # DISTINCTCOUNTBITMAP/SMARTHLL above); a literal 2nd arg
    # (nominalEntries / lgK tuning) is accepted and ignored.  The theta
    # SET-EXPRESSION form (3+ args: params + filter predicates + an
    # expression over $1..$n) is served EXACTLY by the keyed two-level
    # statement route (round 8); these call-site builders only fire for
    # unroutable shapes and reject those loudly — serving them as a
    # plain distinct would silently answer a different question;
    # operators/sketch.py carries the operator-level set-algebra
    # surface (B21).
    "DISTINCTCOUNTTHETASKETCH": _sketch_distinct(
        "DISTINCTCOUNTTHETASKETCH", theta=True
    ),
    "DISTINCTCOUNTRAWTHETASKETCH": _sketch_distinct(
        "DISTINCTCOUNTRAWTHETASKETCH", theta=True
    ),
    "DISTINCTCOUNTCPCSKETCH": _sketch_distinct("DISTINCTCOUNTCPCSKETCH"),
    "DISTINCTCOUNTTUPLESKETCH": _sketch_distinct("DISTINCTCOUNTTUPLESKETCH"),
    # the RAW serialized-sketch twins (round 8): served as the exact
    # count the sketch estimates, the established RAW policy
    "DISTINCTCOUNTRAWCPCSKETCH": _sketch_distinct(
        "DISTINCTCOUNTRAWCPCSKETCH"
    ),
    "DISTINCTCOUNTRAWINTEGERSUMTUPLESKETCH": _sketch_distinct(
        "DISTINCTCOUNTRAWINTEGERSUMTUPLESKETCH"
    ),
    # ULL (UltraLogLog, Pinot 1.2): the HLL estimator family — the same
    # DataSketches-backed estimate the star-tree HLL cells and
    # DISTINCTCOUNTHLL return, so every estimator-named spelling agrees
    "DISTINCTCOUNTULL": _hll_estimate,
    "DISTINCTCOUNTRAWULL": _hll_estimate,
    # HLL++ (Pinot 1.2 distinctCountHLLPlus; optional p/sp tuning literals
    # accepted and ignored like DISTINCTCOUNTHLL's log2m)
    "DISTINCTCOUNTHLLPLUS": _hll_estimate,
    "DISTINCTCOUNTRAWHLLPLUS": _hll_estimate,
    # Integer-Sum Tuple VALUE aggregates operate on serialized sketch
    # COLUMNS (bytes) — a shape this engine stores via operators/sketch
    # relations, not packed binaries; point the caller at the real API
    # instead of resolving to a wrong answer.
    "SUMVALUESINTEGERSUMTUPLESKETCH": _tuple_value_unsupported(
        "SUMVALUESINTEGERSUMTUPLESKETCH", "tuple_sum_estimate"
    ),
    "AVGVALUEINTEGERSUMTUPLESKETCH": _tuple_value_unsupported(
        "AVGVALUEINTEGERSUMTUPLESKETCH", "tuple_avg_estimate"
    ),
    # frequent-items sketches likewise return serialized sketch BYTES in
    # Pinot — the relational frequent-items surface (space-saving
    # summaries + mergeable epsilon bounds) lives in operators/frequent.py
    # and is pointed at loudly instead of resolving to a wrong answer
    "FREQUENTSTRINGSSKETCH": _bytes_sketch_unsupported(
        "FREQUENTSTRINGSSKETCH"
    ),
    "FREQUENTLONGSSKETCH": _bytes_sketch_unsupported("FREQUENTLONGSSKETCH"),
    # DataSketches HLL, NOT approx_count_distinct: the star-tree HLL cells
    # and the RollupRouter's scan fallback both use hll_sketch_agg, and
    # union-of-sketches == sketch-of-union for it — so the routed answer,
    # the useStarTree=false cross-check, and any unroutable shape all
    # return the SAME estimate (round-6 review: two estimator families
    # made the cross-check disagree with the routed answer)
    "DISTINCTCOUNTHLL": _hll_estimate,
    "DISTINCTCOUNTRAWHLL": _hll_estimate,
    # Pinot's deprecated-but-still-resolving FASTHLL (pre-DataSketches
    # serialized HLL): same single-estimator-family service
    "FASTHLL": _hll_estimate,
    # *MV distinct FALLBACK expressions — the statement-level route
    # (rewrite_mv_distinct_statement, applied first by Engine.query)
    # serves the bounded exploded plan; these call-site forms only fire
    # for shapes that route cannot restructure (subqueries, joins,
    # windows).  Each collected array is normalized (sorted + deduped)
    # BEFORE collect_set so per-group state is bounded by distinct
    # element-SETS, not distinct array permutations/duplications; Pinot
    # MV columns hold primitive types only **[P1.2]**, so array_sort is
    # always valid.  NULL elements are dropped BEFORE normalization so
    # the fallback ignores NULL exactly like the routed plan's
    # count(DISTINCT elem) / hll_sketch_agg(elem) (round-7 review).
    # Shape-invariance contract: for DISTINCTCOUNTMV the routed and
    # fallback answers are IDENTICAL on any data (both exact; the fuzz
    # property pins it).  For DISTINCTCOUNTHLLMV the fallback is EXACT
    # while the route returns the HLL estimate the name requests — they
    # agree through HLL's sparse-exact regime (~1k distinct elements)
    # and may differ by the sketch's ~1-2% rsd beyond it; the fallback
    # side is strictly MORE accurate, the same served-exactly policy as
    # DISTINCTCOUNTSMARTHLL, and the divergence is deliberate: making
    # the fallback estimate too would require the unbounded state this
    # route exists to avoid.
    # NOTE the divergence: Pinot's HLL-named spelling
    # promises constant sketch memory — this exact fallback does not
    # (many distinct element-sets per group still accumulate), which is
    # why the engine routes every routable statement to hll_sketch_agg
    # over exploded elements instead.
    "DISTINCTCOUNTHLLMV": _mv_exact_distinct_fallback,
    "DISTINCTCOUNTMV": _mv_exact_distinct_fallback,
    # round 8 MV tail fallbacks (same normalized-set state bound as the
    # two above; same route-first contract).  SUM folds with a NULL seed
    # so an all-empty group returns NULL exactly like the routed
    # sum(DISTINCT ...); AVG carries (sum, count) in ONE fold — writing
    # sum/size as two expressions would duplicate the collect_set
    # aggregate (Spark does not dedup identical aggregate calls).
    "DISTINCTCOUNTBITMAPMV": _mv_exact_distinct_fallback,
    # RAW / HLL++ MV spellings (round 8): identical exact fallback — the
    # estimator family only differs on the ROUTED side, where the name's
    # bounded-sketch promise can actually be kept
    "DISTINCTCOUNTRAWHLLMV": _mv_exact_distinct_fallback,
    "DISTINCTCOUNTHLLPLUSMV": _mv_exact_distinct_fallback,
    "DISTINCTCOUNTRAWHLLPLUSMV": _mv_exact_distinct_fallback,
    "DISTINCTSUMMV": lambda a: (
        "aggregate(array_distinct(flatten(collect_set(array_distinct("
        f"array_sort(filter({a[0]}, x -> x IS NOT NULL)))))), "
        "cast(null as double), "
        "(acc, x) -> coalesce(acc, cast(0.0 as double)) + x)"
    ),
    "DISTINCTAVGMV": lambda a: (
        "aggregate(array_distinct(flatten(collect_set(array_distinct("
        f"array_sort(filter({a[0]}, x -> x IS NOT NULL)))))), "
        "struct(cast(0.0 as double) as v, cast(0 as bigint) as c), "
        "(s, x) -> struct(s.v + x as v, s.c + 1 as c), "
        "s -> CASE WHEN s.c = 0 THEN cast(null as double) "
        "ELSE s.v / s.c END)"
    ),
    # the *MV percentiles are appended after this literal — they rank ALL
    # elements, so an exact call-site fallback would have to collect
    # whole arrays per group, the unbounded-state shape the statement
    # route exists to avoid; unroutable shapes are rejected loudly
    # instead of served silently-heavy (round-8 verdict task: "bail
    # shapes fall to a loud error, not silence")
    "DISTINCTSUM": lambda a: f"sum(DISTINCT {a[0]})",
    "DISTINCTAVG": lambda a: f"avg(DISTINCT {a[0]})",
    "MINMAXRANGE": lambda a: f"(max({a[0]}) - min({a[0]}))",
    "MINMAXRANGEMV": lambda a: (
        f"(max(array_max({a[0]})) - min(array_min({a[0]})))"
    ),
    "FIRSTWITHTIME": lambda a: f"min_by({a[0]}, {a[1]})",
    "LASTWITHTIME": lambda a: f"max_by({a[0]}, {a[1]})",
    # Pinot 1.2 ARG_MIN/ARG_MAX **[P1.2]**: (measuringCol, projectionCol)
    # -> the projection at the extreme measure; NOTE the argument order is
    # the REVERSE of min_by/max_by.  Pinot's multi-measure lexicographic
    # form (3+ args) and its all-tied-rows result shape cannot be one
    # Spark aggregate expression — rejected loudly rather than served as
    # a silently different answer (single-measure calls break ties
    # arbitrarily, exactly min_by/max_by's contract).
    "ARG_MIN": _arg_extreme("ARG_MIN", "min_by"),
    "ARG_MAX": _arg_extreme("ARG_MAX", "max_by"),
    # Pinot 1.2 EXPRMIN/EXPRMAX **[P1.2]**: projection FIRST, then one
    # or more measuring columns compared lexicographically (struct
    # ordering) — see _expr_extreme for the full semantics note.
    "EXPRMIN": _expr_extreme("EXPRMIN", "min_by"),
    "EXPRMAX": _expr_extreme("EXPRMAX", "max_by"),
    # Pinot canonicalizes function names by STRIPPING UNDERSCORES, so
    # both spellings of each pair resolve on a real broker — serve both
    # (round 8; ARG_MIN/ARGMIN and EXPR_MIN/EXPRMIN are the pairs the
    # docs actually print in both forms)
    "ARGMIN": _arg_extreme("ARGMIN", "min_by"),
    "ARGMAX": _arg_extreme("ARGMAX", "max_by"),
    "EXPR_MIN": _expr_extreme("EXPR_MIN", "min_by"),
    "EXPR_MAX": _expr_extreme("EXPR_MAX", "max_by"),
    # Pinot 1.2 ARRAYAGG **[P1.2]**: typed collect (see _arrayagg).
    # The underscored spelling doubles as Spark's own 1-arg array_agg
    # builtin — arity dispatches: 1 arg passes through untouched, the
    # Pinot 2-3-arg typed form rewrites (the PERCENTILE-collision
    # pattern).
    "ARRAYAGG": _arrayagg,
    "ARRAY_AGG": lambda a: (
        f"array_agg({a[0]})" if len(a) == 1 else _arrayagg(a)
    ),
    # Pinot's element-wise array-sum aggregates collect whole arrays per
    # group into one expression — the unbounded-state shape this surface
    # refuses; the bounded plan is posexplode + GROUP BY position.
    "SUMARRAYLONG": _sumarray_reject("SUMARRAYLONG"),
    "SUMARRAYDOUBLE": _sumarray_reject("SUMARRAYDOUBLE"),
    "SUMPRECISION": lambda a: f"sum(cast({a[0]} as decimal(38,18)))",
    "PERCENTILE": _percentile("percentile", always_percent=False),
    "PERCENTILEEST": _percentile("approx_percentile"),
    "PERCENTILETDIGEST": _percentile("approx_percentile"),
    "PERCENTILEKLL": _percentile("approx_percentile"),
    "PERCENTILESMARTTDIGEST": _percentile("approx_percentile"),
    # the RAW* percentile spellings return a serialized sketch in Pinot;
    # the estimate is the only thing a SQL consumer can do with one, so
    # they serve the same approx_percentile their non-raw kin do (the
    # same policy as DISTINCTCOUNTRAWHLL -> the estimate)
    "PERCENTILERAWEST": _percentile("approx_percentile"),
    "PERCENTILERAWTDIGEST": _percentile("approx_percentile"),
    "PERCENTILERAWKLL": _percentile("approx_percentile"),
    # Pinot's B24/B25 stats spellings have NO underscore — map them onto
    # the Spark builtins (population/sample semantics match Pinot's
    # StatisticalAggregationFunction family **[P1.2]**)
    # Pinot 1.2 FOURTHMOMENT **[P1.2]**: the commons-math-style
    # UNNORMALIZED fourth central moment sum((x - mean)^4) the
    # skewness/kurtosis star-tree cells store.  Exact identity:
    # Spark's kurtosis is EXCESS kurtosis m4_bar / m2_bar^2 - 3 with
    # mean-normalized moments, so the raw sum is
    # (kurtosis + 3) * var_pop^2 * n — pure codegen, no second pass
    # (pinned exact-to-ulp by test_fourthmoment_matches_direct_sum).
    # Zero-variance / single-row groups: Spark's kurtosis is NULL there
    # while the moment sum is exactly 0 — coalesce restores the 0 (an
    # empty/all-NULL group stays NULL via the count guard).
    "FOURTHMOMENT": lambda a: (
        f"coalesce((kurtosis({a[0]}) + 3) * power(var_pop({a[0]}), 2) "
        f"* count({a[0]}), "
        f"CASE WHEN count({a[0]}) > 0 THEN 0.0D END)"
    ),
    # Pinot's GROOVY('returns...', 'script', args...) executes arbitrary
    # code inside the engine — never served (Pinot itself ships Groovy
    # DISABLED by default for the same reason).
    "GROOVY": _reject_loudly(
        "GROOVY",
        "executes arbitrary scripts inside the engine and is never "
        "served (Pinot 1.2 ships it disabled by default for the same "
        "security reason); express the logic as Spark SQL expressions "
        "or through the Arrow-vectorized UDF surface (SURVEY B63-B65)",
    ),
    "STDDEVPOP": lambda a: f"stddev_pop({a[0]})",
    "STDDEVSAMP": lambda a: f"stddev_samp({a[0]})",
    # Pinot 1.2 boolean aggregates **[P1.2]** (see _bool_agg); the Spark
    # natives BOOL_AND/BOOL_OR are underscore-guarded below so the
    # stripped lookup cannot shadow them.
    "BOOLAND": _bool_agg("BOOLAND", "bool_and"),
    "BOOLOR": _bool_agg("BOOLOR", "bool_or"),
    # Pinot 1.2 MODE with the multi-mode reducer literal (see _mode)
    "MODE": _mode,
    # Pinot's geospatial union aggregate returns ONE serialized geometry
    # (BYTES); this engine's geometry surface is typed POINT structs
    # (SURVEY B55, functions/sqlfns.py), so a multi-geometry blob has no
    # honest relational answer here — redirect loudly (the bytes-sketch
    # policy).  Both resolver spellings registered (STUNION is Pinot's
    # canonical underscore-stripped form) through ONE builder so the
    # message cannot drift by spelling (post-review).
    **{
        n: _reject_loudly(
            n,
            "aggregates geometries into one serialized shape in Pinot "
            "— this engine's geometry surface is typed POINT structs "
            "(SURVEY B55); collect the points relationally "
            "(collect_set/collect_list of the struct) or aggregate "
            "coordinates directly (min/max/avg over ST_X/ST_Y)",
        )
        for n in ("ST_UNION", "STUNION")
    },
    "VARPOP": lambda a: f"var_pop({a[0]})",
    "VARSAMP": lambda a: f"var_samp({a[0]})",
    "COVARPOP": lambda a: f"covar_pop({a[0]}, {a[1]})",
    "COVARSAMP": lambda a: f"covar_samp({a[0]}, {a[1]})",
    "COUNTMV": lambda a: f"sum(size({a[0]}))",
    "SUMMV": lambda a: f"sum({_SUM_FOLD.format(a[0])})",
    "MINMV": lambda a: f"min(array_min({a[0]}))",
    "MAXMV": lambda a: f"max(array_max({a[0]}))",
    "AVGMV": lambda a: (
        f"(sum({_SUM_FOLD.format(a[0])}) / sum(size({a[0]})))"
    ),
}

# *MV percentile fallbacks (see the comment inside the literal above):
# one shared loud-reject message, matching _MV_PERCENTILE_ROUTE's names
_REWRITES.update(
    {
        n: _reject_loudly(
            n,
            "(col, percent) ranks the exploded elements of a multi-value "
            "column and is served only for single-table statements the "
            "exploded statement route can restructure (no subqueries/"
            "joins beyond one/windows/duplication-unsafe co-aggregates) "
            "— this statement shape is not routable",
        )
        for n in (
            "PERCENTILEMV",
            "PERCENTILEESTMV",
            "PERCENTILEKLLMV",
            "PERCENTILETDIGESTMV",
            "PERCENTILERAWESTMV",
            "PERCENTILERAWKLLMV",
            "PERCENTILERAWTDIGESTMV",
        )
    }
)


# Spark builtins whose underscore-stripped form collides with a table
# entry — they keep their native resolution (audited against the Spark
# 4.1 catalog: the stats family plus BOOL_AND/BOOL_OR, whose stripped
# rewrites would be identities-after-cast anyway; pinned by
# test_underscore_stripping_never_shadows_spark_builtins so a new table
# entry cannot silently shadow a builtin).
_UNDERSCORE_KEEP_NATIVE = frozenset(
    """COVAR_POP COVAR_SAMP STDDEV_POP STDDEV_SAMP VAR_POP
    VAR_SAMP BOOL_AND BOOL_OR""".split()
)


def _is_cte_definition(sql: str, open_idx: int) -> bool:
    """True when the '(' group at ``open_idx`` is a CTE column list —
    ``WITH name (col, ...) AS (SELECT ...)`` — recognized by the ``AS (``
    that follows the balanced group: a function CALL is never followed
    by ``AS (`` (an alias is ``AS identifier``; generator column aliases
    apply only to generators, none of which share a rewrite-table name).
    Comments may sit before ``AS`` and ``(``."""
    try:
        _, after = sqltext.balanced(sql, open_idx)
    except ValueError:
        return False
    as_ = sqltext.keyword("AS").match(sql, sqltext.skip_space(sql, after))
    return bool(as_) and sql.startswith("(", sqltext.skip_space(sql, as_.end()))


def canonicalize_pinot_spellings(sql: str, keep_native=None) -> str:
    """Rewrite underscored call sites to their canonical underscore-free
    twins, mirroring Pinot's resolver (it strips underscores from EVERY
    function name).  This is a PRE-PASS: Engine.query applies it before
    the statement routes, so every gate regex, target set, and
    duplication-classification table sees ONE spelling —
    ``DISTINCT_COUNT_HLL_MV`` routes to the same bounded plan as
    ``DISTINCTCOUNTHLLMV`` instead of silently falling to the call-site
    fallback (round-8 review: stripping only at the innermost lookup
    split routed and fallback answers by spelling choice).

    A name is canonicalized only when its stripped twin is in the
    rewrite table and the spelled form is not: (a) itself a table entry,
    (b) a guarded Spark builtin (``_UNDERSCORE_KEEP_NATIVE``), or
    (c) accepted by ``keep_native`` — the engine passes a live-catalog
    predicate so a runtime-registered UDF named e.g. ``fast_hll`` keeps
    resolving to the user's function, never silently shadowed."""
    out, pos = [], 0
    for name, start, open_idx in sqltext.calls(sql):
        u = name.upper()
        if (
            "_" in u
            and u not in _REWRITES
            and u.replace("_", "") in _REWRITES
            and u not in _UNDERSCORE_KEEP_NATIVE
            and not _is_cte_definition(sql, open_idx)
            and not (keep_native is not None and keep_native(name))
        ):
            out += [sql[pos:start], u.replace("_", "")]
            pos = start + len(name)
    return "".join(out) + sql[pos:]


def rewrite_pinot_aggregates(sql: str, keep_native=None) -> str:
    """Rewrite every Pinot aggregate call site in ``sql`` to its Spark
    expression.  Identifiers inside string literals are untouched; names
    not in the table pass through; arguments are rewritten recursively
    (subqueries inside arguments work).  A supported name called with an
    unsupported arity raises — silently passing it to Spark would produce
    a confusing unresolved-function error under the ORIGINAL name.
    Underscored spellings canonicalize first (one mechanism for the
    whole module: canonicalize_pinot_spellings above); ``keep_native``
    threads through so a caller's live-catalog guard applies at every
    recursion depth."""
    if keep_native is None:
        # inherit the pass-level guard (nested rewrites from builders —
        # IN_SUBQUERY's quoted subquery — reach here without the
        # caller's predicate in hand)
        keep_native = _ACTIVE_KEEP_NATIVE.get()
    _kn_token = _ACTIVE_KEEP_NATIVE.set(keep_native)
    try:
        return _rewrite_pinot_aggregates_inner(sql, keep_native)
    finally:
        _ACTIVE_KEEP_NATIVE.reset(_kn_token)


def _rewrite_pinot_aggregates_inner(sql: str, keep_native) -> str:
    sql = canonicalize_pinot_spellings(sql, keep_native)
    out, pos = [], 0
    for name, start, open_idx in sqltext.calls(sql):
        u = name.upper()
        build = _REWRITES.get(u)
        if (
            start < pos  # inside a call already rewritten with its args
            or build is None
            or _is_cte_definition(sql, open_idx)
        ):
            continue
        inner, end = sqltext.balanced(sql, open_idx)
        args = (
            []
            if not inner.strip()
            else [
                rewrite_pinot_aggregates(a, keep_native).strip()
                for a in sqltext.split(inner)
            ]
        )
        try:
            if not args and u not in _ZERO_ARG_OK:
                raise IndexError  # zero-arg: same loud path
            out += [sql[pos:start], build(args)]
        except IndexError:
            raise ValueError(
                f"{name} called with {len(args)} argument(s) — "
                "unsupported arity for this Pinot aggregate"
            ) from None
        pos = end
    return "".join(out) + sql[pos:]


# ---------------------------------------------------------------------------
# Statement-level *MV distinct route (bounded plan)
# ---------------------------------------------------------------------------
#
# DISTINCTCOUNTHLLMV/DISTINCTCOUNTMV cannot be served by a bounded
# CALL-SITE rewrite: counting distinct ELEMENTS of a multi-value column
# per group needs either the exploded elements (a FROM-clause change) or
# per-group set-of-arrays state (unbounded — an executor-OOM shape).
# So Engine.query routes whole statements: the SELECT grows one LATERAL
# VIEW OUTER POSEXPLODE per distinct MV argument, the MV calls become
# hll_sketch_agg / count(DISTINCT ...) over the exploded element (HLL
# state is the bounded sketch the spelling's name promises), and every
# co-occurring aggregate is kept duplication-correct:
# DUPLICATION-IMMUNE aggregates (min/max/any distinct-based
# form/min_by/...) pass through, WRAPPABLE ones (count/sum/avg/...) see
# only the pos-0 exploded copy of each row via IF(first-copy, arg,
# NULL), and anything duplication-UNSAFE (percentiles, stddev,
# collect_list, funnels ...) makes the route bail to the normalized-set
# fallback expression above.
#
# Every statement route reads its statement through one shape,
# sqltext.statement (comments and literals opaque), admitted by
# _route_shape: one SELECT over a table, a JOIN chain of any Spark
# flavor or a comma list, each operand a name or a derived ``(SELECT
# ...)`` table, re-emitted verbatim (the LATERAL VIEW attaches after the
# whole relation, so it explodes each joined row — the very relation the
# original aggregates saw).  Subqueries are allowed anywhere: they
# evaluate in their OWN scope, so their call sites are excluded from
# duplication classification.  Engine.query inlines FROM/JOIN-position
# WITH-CTEs to the derived-table shape BEFORE the routes
# (inline_route_ctes), so only recursive / renamed /
# expression-referenced CTEs still reach the fold.  Trailing FILTER
# clauses fold into every route's masks.  Shapes the routes cannot
# restructure (set operations, windows, ROLLUP/CUBE) bail.
# Non-deterministic calls (rand/uuid/shuffle/...) bail the
# row-duplicating routes — the WHERE would re-evaluate per exploded
# copy, silently turning per-row sampling into per-element sampling.
# The caller (Engine.query) additionally requires the routed statement
# to ANALYZE cleanly or the original stands — the same contract as
# every other statement rewrite.

def _hll_elem_builder(e: str) -> str:
    return _hll_estimate([e])


_MV_DISTINCT_BUILDERS = {
    "DISTINCTCOUNTHLLMV": _hll_elem_builder,
    "DISTINCTCOUNTMV": lambda e: f"count(DISTINCT {e})",
    # round 8 (the MV aggregate tail Pinot 1.2 serves **[P1.2]**):
    # BITMAPMV is the exact distinct under another name; SUM/AVG of the
    # DISTINCT exploded elements are duplication-immune by construction.
    # Both cast to DOUBLE AFTER aggregating so the routed answer and the
    # normalized-set fallback type identically — the DISTINCT itself runs
    # at the NATIVE element type, like the fallback's array_distinct
    # (round-8 review: dedup after cast-to-double merged bigints >= 2^53
    # that the fallback kept distinct).
    "DISTINCTCOUNTBITMAPMV": lambda e: f"count(DISTINCT {e})",
    "DISTINCTSUMMV": lambda e: f"cast(sum(DISTINCT {e}) as double)",
    "DISTINCTAVGMV": lambda e: f"cast(avg(DISTINCT {e}) as double)",
    # round 8 tail-of-the-tail: the RAW / HLL++ MV spellings Pinot 1.2
    # also serves **[P1.2]** — all one HLL estimator family here, the
    # same single-estimator policy as the scalar DISTINCTCOUNT*HLL names
    # (RAW spellings are served as the estimate the sketch encodes)
    "DISTINCTCOUNTRAWHLLMV": _hll_elem_builder,
    "DISTINCTCOUNTHLLPLUSMV": _hll_elem_builder,
    "DISTINCTCOUNTRAWHLLPLUSMV": _hll_elem_builder,
}

# round 8: PERCENTILE[EST/KLL/TDIGEST]MV route over the exploded element
# MASKED to the first copy of every OTHER explode (percentiles weight by
# occurrence — Pinot's *MV percentiles rank ALL elements, so the target's
# own explode IS the semantics, but a co-occurring explode would inflate
# element weights).  The percent argument follows the Pinot-only-name
# rule: ALWAYS a percent in [0, 100].
_MV_PERCENTILE_ROUTE = {
    "PERCENTILEMV": "percentile({elem}, {frac})",
    "PERCENTILEESTMV": "approx_percentile({elem}, {frac})",
    "PERCENTILEKLLMV": "approx_percentile({elem}, {frac})",
    "PERCENTILETDIGESTMV": "approx_percentile({elem}, {frac})",
    # RAW MV spellings (round 8): served as the estimate the serialized
    # sketch encodes, the established RAW-percentile policy
    "PERCENTILERAWESTMV": "approx_percentile({elem}, {frac})",
    "PERCENTILERAWKLLMV": "approx_percentile({elem}, {frac})",
    "PERCENTILERAWTDIGESTMV": "approx_percentile({elem}, {frac})",
}


def _mv_percent_frac(p: str) -> str:
    p = p.strip()
    try:
        return f"{float(p) / 100.0!r}"
    except ValueError:
        return f"(({p}) / 100.0)"

# result unchanged when input rows are duplicated (distinct-based state,
# or order-free extremes over identical copies)
_DUP_IMMUNE_AGGS = frozenset(
    """MIN MAX MIN_BY MAX_BY ANY SOME EVERY BOOL_AND BOOL_OR ANY_VALUE
    FIRST FIRST_VALUE LAST LAST_VALUE COLLECT_SET BIT_AND BIT_OR
    APPROX_COUNT_DISTINCT HLL_SKETCH_AGG HLL_UNION_AGG MINMV MAXMV
    THETA_SKETCH_AGG THETA_UNION_AGG THETA_INTERSECTION_AGG
    MINMAXRANGE MINMAXRANGEMV DISTINCTCOUNT DISTINCTCOUNTBITMAP
    DISTINCTCOUNTSMARTHLL SEGMENTPARTITIONEDDISTINCTCOUNT
    DISTINCTCOUNTHLL DISTINCTCOUNTRAWHLL DISTINCTSUM DISTINCTAVG
    DISTINCTCOUNTTHETASKETCH DISTINCTCOUNTRAWTHETASKETCH
    DISTINCTCOUNTCPCSKETCH DISTINCTCOUNTTUPLESKETCH DISTINCTCOUNTULL
    DISTINCTCOUNTRAWULL DISTINCTCOUNTHLLPLUS DISTINCTCOUNTRAWHLLPLUS
    FIRSTWITHTIME LASTWITHTIME ARG_MIN ARG_MAX EXPRMIN EXPRMAX
    ARGMIN ARGMAX EXPR_MIN EXPR_MAX FASTHLL DISTINCTCOUNTRAWCPCSKETCH
    DISTINCTCOUNTRAWINTEGERSUMTUPLESKETCH BOOLAND BOOLOR""".split()
)

# correct once the argument is masked to the first exploded copy
_DUP_WRAP_AGGS = frozenset(
    """COUNT SUM AVG MEAN TRY_SUM TRY_AVG SUMPRECISION COUNTMV SUMMV
    AVGMV COUNT_IF""".split()
)

# row-weight- or order-sensitive state the first-copy mask cannot fix
# inside a single expression; also FUNNEL* (collect event lists)
_DUP_UNSAFE_AGGS = frozenset(
    """PERCENTILE PERCENTILEEST PERCENTILETDIGEST PERCENTILEKLL
    PERCENTILESMARTTDIGEST PERCENTILE_APPROX APPROX_PERCENTILE
    PERCENTILE_CONT PERCENTILE_DISC MEDIAN MODE STDDEV STDDEV_POP
    STDDEV_SAMP STD VARIANCE VAR_POP VAR_SAMP SKEWNESS KURTOSIS CORR
    COVAR_POP COVAR_SAMP COLLECT_LIST ARRAY_AGG LISTAGG STRING_AGG
    ARRAYAGG SUMARRAYLONG SUMARRAYDOUBLE BIT_XOR HISTOGRAM_NUMERIC
    COUNT_MIN_SKETCH GROUPING GROUPING_ID
    REGR_AVGX REGR_AVGY REGR_COUNT REGR_INTERCEPT REGR_R2 REGR_SLOPE
    REGR_SXX REGR_SXY REGR_SYY FUNNELCOUNT FUNNELMAXSTEP
    FUNNELMATCHSTEP FUNNELCOMPLETECOUNT FUNNELSTEPDURATIONSTATS
    SUMVALUESINTEGERSUMTUPLESKETCH AVGVALUEINTEGERSUMTUPLESKETCH
    FREQUENTSTRINGSSKETCH FREQUENTLONGSSKETCH
    HISTOGRAM PERCENTILERAWEST PERCENTILERAWTDIGEST PERCENTILERAWKLL
    STDDEVPOP STDDEVSAMP VARPOP VARSAMP COVARPOP COVARSAMP FOURTHMOMENT
    ST_UNION STUNION
    APPROX_TOP_K APPROX_TOP_K_ACCUMULATE APPROX_TOP_K_COMBINE
    KLL_SKETCH_AGG_BIGINT KLL_SKETCH_AGG_DOUBLE KLL_SKETCH_AGG_FLOAT
    KLL_MERGE_AGG_BIGINT KLL_MERGE_AGG_DOUBLE KLL_MERGE_AGG_FLOAT""".split()
)

_KNOWN_AGG_NAMES = (
    _DUP_IMMUNE_AGGS
    | _DUP_WRAP_AGGS
    | _DUP_UNSAFE_AGGS
    | frozenset(_MV_DISTINCT_BUILDERS)
    | frozenset(_MV_PERCENTILE_ROUTE)
)

_MV_GATE_RE = re.compile(
    r"\b(?:DISTINCTCOUNT(?:RAW)?(?:HLL|HLLPLUS|BITMAP)?MV|"
    r"DISTINCTSUMMV|DISTINCTAVGMV|"
    r"PERCENTILE(?:RAW)?(?:EST|KLL|TDIGEST)?MV)\s*\(",
    re.IGNORECASE,
)

_MV_ANYDEPTH_BAIL_RE = re.compile(
    r"\b(OVER|ROLLUP|CUBE|GROUPING)\b", re.IGNORECASE
)

# non-deterministic expressions make the ROW-DUPLICATING routes bail
# (round-8 ADVICE follow-up / r8 verdict task 2): the MV-distinct and
# SUMARRAY routes re-evaluate the WHERE clause per POSEXPLODE copy, so
# `WHERE rand() < 0.1` would silently become per-ELEMENT sampling where
# the fold samples per ROW.  One conservative whole-statement check —
# a non-deterministic call anywhere (select list, predicates) is enough
# to keep the fold, whose evaluation order the user already observes.
# the lookbehind word-boundaries the match on the LEFT (VERDICT r9
# hygiene task: an identifier ENDING in a listed name — `my$rand(` —
# must not trip the bail; the lookbehind refuses alnum, _ and $
# predecessors).
# A '.'-qualified spelling (`builtin.rand(`) still matches — bailing on
# a qualified nondeterministic call is the safe direction.
_NONDETERMINISTIC_FN_RE = re.compile(
    r"(?<![\w$])"
    r"(RAND|RANDN|RANDOM|UUID|SHUFFLE|MONOTONICALLY_INCREASING_ID|"
    r"RANDSTR|UNIFORM)\s*\(",
    re.IGNORECASE,
)

_MV_AGG_IN_ARG_RE = re.compile(
    r"\b(" + "|".join(sorted(_KNOWN_AGG_NAMES)) + r")\s*\(",
    re.IGNORECASE,
)


def _parse_trailing_filter(sql: str, end: int):
    """Parse an optional ``FILTER (WHERE pred)`` clause after the call
    that ends at ``end``.  Returns ``(pred, end_past_clause)`` when a
    valid, mask-safe clause is present, ``(None, end)`` when there is no
    FILTER clause at all, and ``None`` (caller bails) when a clause is
    present but cannot be folded into a row-level mask — empty pred, a
    subquery inside it (span re-bookkeeping), or an aggregate name
    (invalid SQL the fallback should reject loudly)."""
    fm = sqltext.keyword("FILTER").match(sql, sqltext.skip_space(sql, end))
    open_idx = fm and sqltext.skip_space(sql, fm.end())
    if not fm or not sql.startswith("(", open_idx):
        return None, end
    try:
        finner, fend = sqltext.balanced(sql, open_idx)
    except ValueError:
        return None
    wm = sqltext.keyword("WHERE").match(finner, sqltext.skip_space(finner))
    if wm is None:
        return None
    pred = sqltext.strip(finner[wm.end():])
    if (
        not pred
        or sqltext.search("SELECT", pred)
        or sqltext.search(_MV_AGG_IN_ARG_RE, pred)
    ):
        return None
    return pred, fend


def _args(inner: str) -> list[str]:
    """The arguments inside a call's brackets, each without surrounding
    whitespace and comments (none for an empty call)."""
    if not sqltext.strip(inner):
        return []
    return [sqltext.strip(a) for a in sqltext.split(inner)]


def apply_text_edits(sql: str, edits: list):
    """Splice ``(start, end, replacement)`` edits into ``sql``; returns
    ``None`` when any two edits overlap (an overlap means a span scanner
    mis-modeled the statement — splicing anyway would garble the SQL, the
    round-7 review's ``JOINJOIN`` shape).  Shared by the MV-distinct
    statement route and the engine's table-ref / virtual-column
    rewrites."""
    edits = sorted(edits, key=lambda t: t[0])
    for (_, e1, _), (s2, _, _) in zip(edits, edits[1:]):
        if s2 < e1:
            return None
    out, pos = [], 0
    for s, e, repl in edits:
        out.append(sql[pos:s])
        out.append(repl)
        pos = e
    out.append(sql[pos:])
    return "".join(out)


# reserved words that may precede '(' in SQL text but are NEVER function
# calls — `FROM (derived table)`, `ON (cond)`, `WHERE (pred)`, `> ALL
# (subquery)` — and that the live Spark 4.1 catalog does NOT know as
# functions (audited by test_reserved_non_calls_absent_from_catalog):
# without this filter the routes' fail-safe classifier saw `FROM (` as
# an unknown call named FROM, classified it as an aggregate, and bailed
# every derived-table statement (post-review).  Keyword-ish names the
# catalog DOES serve as functions (CASE/WHEN/AND/OR/NOT/IN/EXISTS/LIKE/
# LEFT/RIGHT/ANY/SOME/FILTER/BETWEEN) stay OUT of this set — they
# classify as positively-known through the catalog predicate.
_RESERVED_NON_CALLS = frozenset(
    """FROM WHERE ON SELECT HAVING GROUP ORDER BY LIMIT JOIN UNION
    INTERSECT EXCEPT MINUS VALUES DISTINCT AS IS WITH PARTITION LATERAL
    OUTER CROSS INNER USING THEN ELSE END FULL ALL OVER""".split()
)


def _scan_call_sites(sql: str) -> list:
    """(name, start, open_paren_idx, inner, end_past_close) for every
    ``ident(`` site at EVERY nesting depth; literal and comment content
    is opaque.  Reserved non-call words (``_RESERVED_NON_CALLS``) are
    skipped."""
    return [
        (name, start, open_idx, *sqltext.balanced(sql, open_idx))
        for name, start, open_idx in sqltext.calls(sql)
        if name.upper() not in _RESERVED_NON_CALLS
    ]


def _cte_table_refs(text: str, name: str):
    """The :func:`sqltext.relations` references to CTE ``name`` in
    ``text``, or None when the name also occurs in code anywhere else,
    where inlining could change what it means (a column, an
    expression-level ``FROM name``).  Qualifier uses (``name.col``) and
    calls (``name(``) are neither: the inlined derived table keeps
    ``name`` as its alias, so qualifiers still bind, and a CTE never
    shadows a function."""
    refs = [
        r for r in sqltext.relations(text) if r.name.upper() == name.upper()
    ]
    uses = re.compile(
        rf"(?<![\w.$]){re.escape(name)}(?![\w$.])(?!\s*\()", re.IGNORECASE
    )
    return refs if len(refs) == len(list(sqltext.finditer(uses, text))) else None


def inline_route_ctes(sql: str):
    """Inline ``WITH name AS (SELECT ...)`` definitions referenced only
    in ``FROM``/``JOIN`` position as derived tables ``FROM (SELECT ...)
    AS name`` — textually the relation shape the statement routes admit
    — and return the rewritten statement, or ``None`` when the
    statement has no WITH head :func:`sqltext.ctes` reads (comments
    before and inside it are not code) or any definition is
    zero-referenced / renamed (column list) / recursive / referenced
    outside FROM-JOIN position (those keep the original statement and
    its fold/fallback paths).

    Multi-reference CTEs inline at EVERY site when their body contains
    no non-deterministic call: Spark re-plans the duplicated subtree
    and exchange reuse typically dedups the scan, while the answer is
    identical by determinism.  A
    multi-referenced CTE whose body IS non-deterministic keeps the fold
    — per-site re-evaluation would draw independent rows where the CTE
    draws once.  Single-use non-deterministic bodies still inline (one
    evaluation either way).  A size cap bounds pathological chained
    duplication (a CTE referencing an earlier multi-referenced CTE
    multiplies the splice).

    This is a ROUTE PRE-PASS, not a general rewrite: Engine.query feeds
    the inlined text to the restructuring routes only; if every route
    bails, or the routed text fails the analysis probe, the ORIGINAL
    statement stands.  That probe is the safety net for any valid-SQL
    corner the conservative checks below miss — a garbled inline can
    only cost the bounded plan, never the answer (expression-level FROM,
    which can analyze cleanly, is caught in _cte_table_refs itself)."""
    head = sqltext.ctes(sql)
    if head is None or not head[0]:
        return None
    text = sql[head[1]:]
    if not sqltext.keyword("SELECT").match(text, sqltext.skip_space(text)):
        return None
    ctes = [(name, sqltext.strip(sql[s:e])) for name, s, e in head[0]]
    names = [n.upper() for n, _ in ctes]
    if len(set(names)) != len(names):
        return None  # duplicate names: Spark's scoping, not ours
    # reverse order: a CTE can only be referenced by LATER definitions
    # and the main body, so once every later definition is inlined into
    # ``text``, counting references there is complete
    for name, body in reversed(ctes):
        refs = _cte_table_refs(text, name)
        if refs is None or not refs:
            return None
        if len(refs) > 1 and sqltext.search(
            _NONDETERMINISTIC_FN_RE, body
        ):
            return None  # per-site re-evaluation would draw twice: fold
        for r in reversed(refs):
            repl = f"({body})" + ("" if r.alias is not None else f" AS {name}")
            text = text[: r.start] + repl + text[r.end :]
        if len(text) > 262_144:
            return None  # chained-duplication blowup guard: keep fold
    return text


def _route_shape(sql: str, guard: str):
    """The :func:`sqltext.statement` shape of a statement the routes can
    restructure, or None.  Admitted: one SELECT, not DISTINCT and with no
    WITH head, over a relation the shape reads (a table, a JOIN chain of
    any Spark flavor or a comma list, each operand a name or a derived
    ``(SELECT ...)`` table); no window, ROLLUP, CUBE or GROUPING at any
    depth; every nested SELECT inside a ``(SELECT ...)`` group.  Every
    route re-emits the relation verbatim, so each join flavor's
    semantics carry over; a subquery evaluates in its own scope, so the
    routes leave its call sites alone.  ``guard`` is the route's
    generated-name prefix: a statement that already holds it is
    re-entrant or adversarial."""
    if guard in sql:
        return None
    shape = sqltext.statement(sql)
    if shape is None or shape.ctes or shape.relation is None:
        return None
    select = shape.clauses["SELECT"].body_start
    if (
        sqltext.keyword("DISTINCT").match(sql, select)
        or sqltext.search(_MV_ANYDEPTH_BAIL_RE, sql)
        or any(
            not shape.in_subquery(m.start())
            for m in sqltext.finditer("SELECT", sql, select)
        )
    ):
        return None
    return shape


def rewrite_mv_distinct_statement(sql: str, is_aggregate=None):
    """Return the exploded-plan statement for a routable *MV-distinct
    statement, or ``None`` when the shape is unsupported (module
    docstring above the tables has the full contract).

    ``is_aggregate``: optional ``name -> bool`` predicate (the engine
    passes one built from the session's function catalog).  Any call-site
    name the three classification tables do NOT know that the predicate
    says IS an aggregate makes the route bail — future Spark aggregate
    additions and registered UDAFs fail SAFE to the fallback expression
    instead of being silently evaluated over POSEXPLODE-duplicated
    rows."""
    if not _MV_GATE_RE.search(sql):
        return None
    if sqltext.search(_NONDETERMINISTIC_FN_RE, sql):
        return None  # per-copy re-evaluation would skew sampling: fold
    shape = _route_shape(sql, "__mv")
    if shape is None:
        return None
    sites = _scan_call_sites(sql)
    mv_sites, wrap_sites = [], []
    for s in sites:
        u = s[0].upper()
        if u in _MV_DISTINCT_BUILDERS or u in _MV_PERCENTILE_ROUTE:
            if shape.in_subquery(s[1]):
                return None  # an MV distinct in another scope: not ours
            mv_sites.append(s)
        elif shape.in_subquery(s[1]):
            # a subquery's aggregates run in their OWN scope over their
            # OWN input — the explode neither duplicates nor masks them
            continue
        elif u in _DUP_UNSAFE_AGGS:
            return None
        elif u in _DUP_WRAP_AGGS:
            wrap_sites.append(s)
        elif (
            u not in _DUP_IMMUNE_AGGS
            and u not in SCALAR_REWRITE_NAMES  # our own per-row rewrites
            and is_aggregate is not None
            and is_aggregate(s[0])
        ):
            # unclassified-but-aggregate: fail safe (see docstring)
            return None
    if not mv_sites:
        return None
    # nested MV calls inside another recorded call (or vice versa) are
    # either invalid SQL (nested aggregates) or shapes this route cannot
    # keep correct: bail
    for _, ws, _, _, we in wrap_sites:
        for _, ms, _, _, me in mv_sites:
            if ws < ms < we or ms < ws < me:
                return None
    exprs: list = []
    mv_parsed = []
    for name, st, op, inner, end in mv_sites:
        args = _args(inner)
        if not args:
            return None  # the fallback path raises the loud arity error
        if name.upper() in _MV_PERCENTILE_ROUTE and len(args) != 2:
            return None  # the fallback raises the loud arity error
        e = args[0]
        if sqltext.search(_MV_AGG_IN_ARG_RE, e) or sqltext.search(
            "SELECT", e
        ):
            return None  # a nested aggregate or a subquery to explode
        # a trailing FILTER (WHERE pred) on the TARGET folds into an
        # element mask: the pred is row-level, so masking every exploded
        # copy of a row keeps/drops its elements exactly like
        # filter-then-explode; NULL elements are skipped by every
        # builder aggregate (count DISTINCT / hll / sum / percentile),
        # matching the builders' existing NULL-element semantics.  The
        # mask-form (not native FILTER attachment) serves the
        # scalar-wrapped builders (HLL estimate) too.
        parsed_f = _parse_trailing_filter(sql, end)
        if parsed_f is None:
            return None  # unfoldable FILTER clause: bail
        pred, end = parsed_f
        if e not in exprs:
            exprs.append(e)
        mv_parsed.append((name, st, end, e, args, pred))
    cond = " AND ".join(
        f"coalesce(__mv{i}_pos, 0) = 0" for i in range(len(exprs))
    )
    edits = []
    for name, st, end, e, margs, pred in mv_parsed:
        u = name.upper()
        i = exprs.index(e)
        elem = f"__mv{i}_elem"
        if u in _MV_PERCENTILE_ROUTE:
            # mask to the first copy of every OTHER explode so a second
            # MV argument's duplication cannot inflate element weights
            others = [j for j in range(len(exprs)) if j != i]
            if others:
                mcond = " AND ".join(
                    f"coalesce(__mv{j}_pos, 0) = 0" for j in others
                )
                elem = f"if({mcond}, {elem}, null)"
            if pred:
                elem = f"if(({pred}), {elem}, null)"
            repl = _MV_PERCENTILE_ROUTE[u].format(
                elem=elem, frac=_mv_percent_frac(margs[1])
            )
        else:
            if pred:
                elem = f"if(({pred}), {elem}, null)"
            repl = _MV_DISTINCT_BUILDERS[u](elem)
        edits.append((st, end, repl))
    for name, st, op, inner, end in wrap_sites:
        args = _args(inner)
        u = name.upper()
        if args and re.match(r"DISTINCT\b", args[0], re.IGNORECASE):
            continue  # distinct-form aggregates are duplication-immune
        if u == "COUNT" and args == ["*"]:
            new_inner = f"if({cond}, 1, null)"
        elif u == "COUNT_IF":
            if len(args) != 1:
                return None
            new_inner = f"(({args[0]}) AND {cond})"
        else:
            if not args:
                return None
            new_inner = ", ".join(
                [f"if({cond}, {args[0]}, null)"] + args[1:]
            )
        edits.append((op + 1, end - 1, new_inner))
    lateral = "".join(
        f" LATERAL VIEW OUTER POSEXPLODE({e}) __mv{i} "
        f"AS __mv{i}_pos, __mv{i}_elem"
        for i, e in enumerate(exprs)
    )
    # the LATERAL VIEW follows the whole relation, so it explodes each
    # joined row.  Trailing separator: an unaliased derived table may
    # abut the next clause keyword with NO whitespace — `FROM (SELECT
    # ...)GROUP BY g` is legal SQL — and the splice must not glue the
    # generator column onto it
    insert_at = shape.clauses["FROM"].body_end
    needs_sep = (
        insert_at < len(sql) and sql[insert_at] not in " \t\r\n"
    )
    edits.append((insert_at, insert_at, lateral + (" " if needs_sep else "")))
    # apply_text_edits returns None on overlap — a shape the span logic
    # did not anticipate bails to the call-site fallback
    return apply_text_edits(sql, edits)


# ---------------------------------------------------------------------------
# Statement-level keyed two-level route: FUNNELCOUNT + tuple value aggregates
# ---------------------------------------------------------------------------
#
# FUNNELCOUNT's exact fold above collects DISTINCT (correlator,
# step-flag-combo) structs per GROUP — asymptotically Pinot's bitmap state
# (O(distinct correlators)) but ~50+ bytes per correlator where a roaring
# bitmap spends ~2-4 bits: a group with 10^8 correlators is a ~5 GB
# single-expression array (executor OOM) vs Pinot's ~50 MB (round-7
# verdict's one remaining OOM shape on the wire surface).  The same
# collected-state concern applies to any per-KEY aggregate spelled as one
# call-site expression.  So, exactly like the MV-distinct route,
# Engine.query routes whole single-table statements FIRST:
#
#   SELECT g, FUNNELCOUNT(STEPS(p1..pN), CORRELATE_BY(k)) FROM t
#   WHERE ... GROUP BY g
# ->
#   SELECT g, array(sum(if(k not null AND s1..si, 1, 0)) for i in 1..N)
#   FROM (SELECT g, (k) AS __fc_k,
#                bool_or(coalesce(p_i, false)) AS __fc0_s{i} ...
#         FROM t WHERE ... GROUP BY g, (k)) __fc
#   GROUP BY g
#
# — pure shuffle-bounded hash aggregation, ZERO collected arrays, and the
# answer is bit-identical to the fold (both are the exact cumulative
# per-step set intersection; the fuzz property pins it).  The tuple value
# aggregates SUMVALUESINTEGERSUMTUPLESKETCH/AVGVALUEINTEGERSUMTUPLESKETCH
# (relational 2-arg spelling ``(keyExpr, valueExpr)``) ride the same
# machinery: the inner level computes exact per-key sums — the quantity
# the Integer-Sum Tuple sketch estimates (operators/sketch.py
# tuple_sum_estimate) — and the outer sums/averages them exactly
# (strictly more accurate than the sketch, the established
# served-exactly policy).  The theta SET-EXPRESSION form **[P1.2]**
# ``DISTINCTCOUNT[RAW]THETASKETCH(col, 'nominalEntries=...', 'pred1',
# ..., 'predN', 'SET_INTERSECT($1, $2)')`` rides it too (round 8): a
# key is in set $i iff ANY of its rows satisfies predicate i, so the
# inner level computes per-key bool_or membership flags and the outer
# counts keys whose set formula holds — SET_INTERSECT -> AND, SET_UNION
# -> OR, SET_DIFF -> AND NOT, nested freely.  Exact set algebra with
# ZERO sketch error and O(distinct keys) shuffle, no collection state;
# 1-2 arg theta sites stay on the single-level call-site exact rewrite
# (routing them would only add a shuffle).
#
# Route contract (same as the MV route): bail -> the call-site fallback
# serves it (FUNNELCOUNT: the exact fold; tuple values: a loud redirect),
# and the caller requires the routed statement to ANALYZE cleanly or the
# original stands.  Routable shape: the statement shape every route
# reads (the relation re-emits verbatim inside the derived table, joined
# or not; scalar subqueries stay in the outer statement, WHERE
# subqueries move verbatim into the inner query where the base table
# binds identically), all route targets sharing ONE key expression, and
# co-occurring aggregates only when DECOMPOSABLE (COUNT/SUM/MIN/MAX/AVG
# partials push into the inner per-key level and recombine exactly in
# the outer level — the dashboard staple `SELECT g, count(*),
# FUNNELCOUNT(...)` routes; distinct/percentile/collect state does not
# decompose and keeps the fallback, classified statically + the
# session-catalog is_aggregate predicate for fail-safe, as in the MV
# route).  The keyed, ordered-funnel, SUMARRAY and MODE-AVG routes share
# one preamble, _route: gate, shape, GROUP BY items, call sites, and the
# targets with their trailing FILTER clauses.

_KEYED_GATE_RE = re.compile(
    r"\b(FUNNELCOUNT|SUMVALUESINTEGERSUMTUPLESKETCH|"
    r"AVGVALUEINTEGERSUMTUPLESKETCH|DISTINCTCOUNTTHETASKETCH|"
    r"DISTINCTCOUNTRAWTHETASKETCH)\s*\(",
    re.IGNORECASE,
)

_KEYED_TARGETS = frozenset(
    {
        "FUNNELCOUNT",
        "SUMVALUESINTEGERSUMTUPLESKETCH",
        "AVGVALUEINTEGERSUMTUPLESKETCH",
        "DISTINCTCOUNTTHETASKETCH",
        "DISTINCTCOUNTRAWTHETASKETCH",
    }
)

_THETA_SET_TARGETS = frozenset(
    {"DISTINCTCOUNTTHETASKETCH", "DISTINCTCOUNTRAWTHETASKETCH"}
)

# co-occurring aggregates whose partials push through the two-level
# restructure exactly: count -> sum(count), sum -> sum(sum), min/max ->
# min/max(extreme), avg -> sum(sum)/sum(count).  Everything else keeps
# the bail-to-fallback contract (distinct/percentile/collect state does
# not decompose over the per-key regrouping).
_KEYED_DECOMPOSABLE = frozenset(
    {"COUNT", "SUM", "MIN", "MAX", "AVG", "MEAN"}
)


def _theta_set_ast(e: str, nflags: int):
    """Parse a Pinot theta post-aggregation set expression **[P1.2]** —
    ``SET_UNION`` / ``SET_INTERSECT`` / ``SET_DIFF`` over ``$1..$n``
    filter references — into a nested AST (``("ref", k)`` /
    ``(OP, [children])``).  Raises loud ``ValueError`` on malformed
    expressions: the expression is wrong in EVERY statement shape, so it
    must not silently fall to the fallback's generic redirect."""
    e = e.strip()
    m = re.fullmatch(r"\$(\d+)", e)
    if m:
        k = int(m.group(1))
        if not 1 <= k <= nflags:
            raise ValueError(
                f"theta set expression references ${k} but only "
                f"{nflags} filter predicate(s) were supplied"
            )
        return ("ref", k)
    m = re.fullmatch(
        r"(SET_UNION|SET_INTERSECT|SET_DIFF)\s*\((.*)\)",
        e,
        re.IGNORECASE | re.DOTALL,
    )
    if m is None:
        raise ValueError(
            "theta set expression must be $k or SET_UNION / "
            f"SET_INTERSECT / SET_DIFF(...), got: {e!r}"
        )
    op = m.group(1).upper()
    parts = sqltext.split(m.group(2))
    parts = [p for p in parts if p.strip()]
    if op == "SET_DIFF" and len(parts) != 2:
        raise ValueError("SET_DIFF takes exactly 2 set arguments")
    if op != "SET_DIFF" and len(parts) < 2:
        raise ValueError(f"{op} takes >= 2 set arguments")
    return (op, [_theta_set_ast(p, nflags) for p in parts])


def _theta_set_sql(ast, flag) -> str:
    """Emit the AST as a boolean formula over per-key membership flags:
    a key is in set ``$i`` iff ANY of its rows satisfies predicate i, so
    SET_INTERSECT is AND, SET_UNION is OR, SET_DIFF(a, b) is
    ``a AND NOT b`` — the exact relational reading of the theta sketch
    set algebra (DataSketches theta package semantics; served exactly,
    the engine's established more-accurate-than-the-sketch policy)."""
    if ast[0] == "ref":
        return flag(ast[1])
    subs = [_theta_set_sql(c, flag) for c in ast[1]]
    if ast[0] == "SET_DIFF":
        return f"({subs[0]} AND NOT {subs[1]})"
    joiner = " OR " if ast[0] == "SET_UNION" else " AND "
    return "(" + joiner.join(subs) + ")"

_PLAIN_IDENT_RE = re.compile(r"[A-Za-z_]\w*")


def _group_cols(sql: str, shape, guard: str):
    """One ``(name, l1_item, l1_group, expr_site)`` tuple per GROUP BY
    item of ``shape``, or ``None`` when an item keeps the fallback.

    Plain unqualified identifiers re-emit under their own name
    (``(g, g, g, None)``) so every outer reference binds unchanged.
    EXPRESSION items (``GROUP BY date_trunc('day', ts)``, the
    time-bucketed-dashboard staple) get an inner alias: ``name`` =
    ``{guard}g{k}``, ``l1_item`` = ``(expr) AS name`` for the innermost
    level, ``l1_group`` = ``(expr)`` for its GROUP BY, and ``expr_site``
    = ``(clause_span_or_None, expr_text)`` so _bind_group_expr_edits can
    rewrite the OUTER clauses to the alias (the derived-table routes
    project only their items, so the raw expression no longer binds
    outside).  The span is None for ORDINAL items, which resolve through
    the select list and keep their clause text verbatim (the routes edit
    in place, so select positions are stable).  Subquery-bearing items,
    aggregate-containing items (the original's own error), and items
    starting with a literal (exact-text outer matching could begin
    inside it) keep the fallback."""
    group = shape.clauses.get("GROUP BY")
    if group is None:
        return []
    cols, sel_items, pos = [], None, group.body_start
    for part in sqltext.split(sql[group.body_start : group.body_end]):
        site = (pos + sqltext.skip_space(part), pos + sqltext.code_end(part))
        pos += len(part) + 1  # past this item and its comma
        t = sql[site[0] : site[1]]
        if t and re.fullmatch(r"\d+", t):
            # an `expr AS alias` select item strips its alias; a
            # bare-alias item (`expr name`) is ambiguous with an
            # expression ending in an identifier, so its whole text
            # stays and the probe folds any mis-read
            if sel_items is None:
                c = shape.clauses["SELECT"]
                sel_items = sqltext.split(sql[c.body_start : c.body_end])
            if not 1 <= int(t) <= len(sel_items):
                return None  # invalid ordinal: the original's error
            t = sqltext.strip(sel_items[int(t) - 1])
            am = re.search(r"\s+AS\s+[A-Za-z_]\w*\s*$", t, re.IGNORECASE)
            if am:
                t = t[: am.start()].strip()
            site = None
        if not t:
            return None
        if _PLAIN_IDENT_RE.fullmatch(t):
            cols.append((t, t, t, None))
            continue
        if (
            sqltext.search("SELECT", t)
            or sqltext.search(_MV_AGG_IN_ARG_RE, t)
            or sqltext.skip(t, 0) > 0
        ):
            return None
        alias = f"{guard}g{sum(gc[3] is not None for gc in cols)}"
        cols.append((alias, f"({t}) AS {alias}", f"({t})", (site, t)))
    return cols


class _Route(NamedTuple):
    """A statement one of the restructuring routes rewrites: its shape,
    its GROUP BY items (:func:`_group_cols`), its call sites
    (:func:`_scan_call_sites`) and its route targets, each ``(name,
    start, inner, end, filter_pred)`` with ``end`` past the admitted
    FILTER clause."""

    sql: str
    shape: sqltext.Statement
    group_cols: list
    sites: list
    targets: list

    @property
    def rel(self) -> str:
        """The FROM relation, which the derived table re-emits
        verbatim."""
        f = self.shape.clauses["FROM"]
        return self.sql[f.body_start : f.body_end]

    @property
    def where(self) -> str:
        """`` WHERE cond``, or nothing."""
        w = self.shape.clauses.get("WHERE")
        return f" WHERE {self.sql[w.body_start : w.body_end]}" if w else ""

    @property
    def moved_end(self) -> int:
        """The end of the ``FROM ... [WHERE ...]`` text the derived
        table replaces."""
        c = self.shape.clauses
        return (c.get("WHERE") or c["FROM"]).end

    def splice(self, edits: list, inner: str, alias: str):
        """The statement with ``edits`` applied and its ``FROM ...
        [WHERE ...]`` replaced by the derived table ``(inner) alias``;
        None when two edits overlap — a shape the span logic did not
        anticipate (e.g. a route target inside the WHERE clause) bails
        to the call-site fallback."""
        start = self.shape.clauses["FROM"].start
        edits.append((start, self.moved_end, f"FROM ({inner}) {alias} "))
        return apply_text_edits(self.sql, edits)


def _route(sql: str, gate: re.Pattern, guard: str, is_target):
    """The :class:`_Route` the keyed, ordered-funnel, SUMARRAY and
    MODE-AVG routes rewrite, or None when the statement does not route:
    no ``gate`` match, no :func:`_route_shape`, a GROUP BY item that
    keeps the fallback, no target, a target inside a subquery or inside
    another target, or a target FILTER clause no row mask can carry.
    ``is_target(NAME, inner)`` picks the route's call sites."""
    if not gate.search(sql):
        return None
    shape = _route_shape(sql, guard)
    group_cols = None if shape is None else _group_cols(sql, shape, guard)
    if group_cols is None:
        return None
    sites = _scan_call_sites(sql)
    targets = []
    for name, st, _, inner, end in sites:
        if not is_target(name.upper(), inner):
            continue
        if shape.in_subquery(st):
            return None  # a route target in another scope: not ours
        parsed_f = _parse_trailing_filter(sql, end)
        if parsed_f is None:
            return None  # unfoldable FILTER clause: bail
        pred, end = parsed_f
        targets.append((name, st, inner, end, pred))
    spans = [(t[1], t[3]) for t in targets]
    if not spans or any(s < s2 < e for s, e in spans for s2, _ in spans):
        return None  # no target; nested targets are invalid SQL
    return _Route(sql, shape, group_cols, sites, targets)


# word-spelled operators that can bind INTO an exact-byte match whose
# own top-level operator has equal-or-lower precedence (round-11 ADVICE:
# AND/OR/NOT regroup a boolean item's tail; IN/IS/LIKE/... take a left
# operand the tail could be mistaken for).  A match neighbored by any of
# these stays a raw reference — the analysis probe then folds the
# statement, the module's fail-safe direction.  Alphabetic clause
# keywords (BY, THEN, WHEN, ASC, ...) remain safe delimiters.
_REBIND_WORD_OPS = frozenset(
    """DIV AND OR NOT XOR IN IS LIKE ILIKE RLIKE REGEXP BETWEEN
    ESCAPE MOD SIMILAR SOUNDS""".split()
)


def _bind_group_expr_edits(route: _Route, edits: list):
    """Append the OUTER-clause rewrites for expression GROUP BY items:
    the item text itself and every exact-text occurrence in the outer
    regions (select list before FROM; everything after the
    relation+WHERE, i.e. GROUP BY/HAVING/ORDER BY) become the inner
    alias, because the derived-table routes project only their items
    and the raw expression no longer binds there.  Occurrences inside
    spans already being edited (route targets, co-aggregates — whose
    text moves to the INNER level where the base table binds), inside
    other group items, and inside subqueries (a subquery's own columns
    may spell the same text — its inner-first resolution is identical
    either way, and an outward-correlated raw reference simply fails
    the probe) are skipped; literal and comment content is opaque.

    An occurrence only rewrites when it stands ALONE as a list item or
    parenthesized operand — both non-whitespace neighbors must be a
    delimiter (comma/paren/end) or an alphabetic keyword, never an
    operator character or a WORD-SPELLED operator: an exact-byte match
    need not be a parse subtree.  ``y * x + 1`` with ``GROUP BY x + 1``
    matches the tail, and rewriting it would turn the original's loud
    MISSING_AGGREGATION into silently-served numbers; ``ORDER BY c AND
    a OR b`` parses ``(c AND a) OR b``, so an ``a OR b`` item's byte
    match is not a subtree either, and with ``c`` projected the
    regrouped rewrite ANALYZES CLEANLY.  Hence every word operator is
    excluded: low-precedence AND/OR/NOT that bind INTO the match, DIV,
    and comparison keywords IN/IS/LIKE/BETWEEN... whose left operand a
    boolean item's tail could be mistaken for, e.g. ``a OR b IN
    (...)``.  Any occurrence this skips or misses stays an unbound raw
    reference and the analysis probe sends the statement to the
    fallback (the original's answer OR its loud error), never a silent
    wrong answer."""
    sql, select = route.sql, route.shape.clauses["SELECT"]
    expr_cols = [gc for gc in route.group_cols if gc[3] is not None]
    if not expr_cols:
        return
    regions = (
        (select.body_start, route.shape.clauses["FROM"].start),
        (route.moved_end, len(sql)),
    )
    # output-name preservation: a QUALIFIED bare column as a group item
    # (`GROUP BY d.tier`, the implicit-join staple) would otherwise
    # surface as the internal alias in the result schema — `SELECT
    # d.tier` names its column `tier`, and the routed statement must
    # too.  When a rewrite target is an ENTIRE unaliased select-list
    # item and the item text is a qualified identifier, the edit becomes
    # `<alias> AS <tail>`.  Only the exact-byte spelling gets this: an
    # UNQUALIFIED re-spelling (`SELECT tier ... GROUP BY d.tier`) stays
    # a raw reference the probe folds — rebinding it would serve an
    # answer where an ambiguous original errors loudly.
    sel_spans, pos = set(), select.body_start
    for item in sqltext.split(sql[select.body_start : select.body_end]):
        sel_spans.add(
            (pos + sqltext.skip_space(item), pos + sqltext.code_end(item))
        )
        pos += len(item) + 1
    skip = [(s, e) for s, e, _ in edits]
    skip += [site for _, _, _, (site, _) in expr_cols if site]
    skip += route.shape.subqueries

    def skipped(a: int, b: int) -> bool:
        return any(a < e2 and s2 < b for s2, e2 in skip)

    code = sqltext.blank(sql)

    def standalone(pos: int, forward: bool) -> bool:
        # the nearest neighbor in code: a delimiter or an
        # alphabetic keyword means the match is a complete list item /
        # parenthesized operand; an operator char — or a WORD operator
        # (_REBIND_WORD_OPS) — means the surrounding expression could
        # bind INTO the match's own operators — leave it raw for the
        # probe (fold), never a regrouped rewrite
        j = pos
        step = 1 if forward else -1
        while 0 <= j < len(code) and code[j] in " \t\r\n":
            j += step
        if not 0 <= j < len(code):
            return True  # statement boundary
        ch = code[j]
        if ch in "(),;":
            return True
        if ch.isalpha() or ch == "_":
            k = j
            while 0 <= k < len(code) and (code[k].isalnum() or code[k] == "_"):
                k += step
            word = code[k + 1 : j + 1] if not forward else code[j:k]
            return word.upper() not in _REBIND_WORD_OPS
        return False

    for alias, _i, _g, (site, text) in expr_cols:
        out_name = (
            text.rsplit(".", 1)[1]
            if re.fullmatch(r"(?:[A-Za-z_]\w*\.)+[A-Za-z_]\w*", text)
            else None
        )
        if site:  # ordinal items keep their clause text verbatim
            edits.append((site[0], site[1], alias))
        # every occurrence, overlapping ones included, that starts in
        # code: comment content is opaque too, so an unbalanced quote
        # inside a comment cannot desync the scan
        occurrence = re.compile(f"(?=({re.escape(text)}))")
        for rs, rend in regions:
            resume = rs
            for m in sqltext.finditer(occurrence, sql, rs):
                i, nxt = m.span(1)
                if nxt > rend:
                    break
                pre = sql[i - 1] if i > 0 else ""
                post = sql[nxt] if nxt < len(sql) else ""
                # NB: `"" in "_$"` is True (empty substring) — the
                # boundary checks must treat an empty neighbor as
                # a boundary, hence the explicit truthiness guard
                if (
                    i >= resume
                    and not (pre and (pre.isalnum() or pre in "_$."))
                    and not (post and (post.isalnum() or post in "_$"))
                    and not skipped(i, nxt)
                    and standalone(i - 1, forward=False)
                    and standalone(nxt, forward=True)
                ):
                    edits.append(
                        (
                            i,
                            nxt,
                            f"{alias} AS {out_name}"
                            if out_name and (i, nxt) in sel_spans
                            else alias,
                        )
                    )
                    resume = nxt


def _collect_decomposable_co_sites(
    route: _Route, is_aggregate, count_multiarg_ok: bool
):
    """The co-aggregates a two-level restructuring route (keyed,
    SUMARRAY, MODE-AVG) pushes through its levels: ``[(AGGNAME, start,
    end, inner_text, filter_pred_or_None)]``, or ``None`` (bail to the
    route's fallback); ``end`` spans past the FILTER clause when one was
    admitted, so the replacement edit swallows it.  Call sites inside a
    route target or a subquery are not co-aggregates.

    Decomposable co-aggregates: partials push into the inner level and
    recombine exactly in the outer — count -> sum of counts, sum -> sum
    of sums, min/max -> extremes of extremes, avg -> sum of sums / sum
    of counts.  A trailing ``FILTER (WHERE pred)`` folds ``pred`` into
    the INNER partial's mask (``count(x) FILTER (WHERE c)`` ==
    ``count(if(c, x, null))`` — the predicate is row-level and the inner
    level is where the original rows live; preds containing a subquery
    bail).  Shapes the decomposition cannot keep exact still bail:
    count(DISTINCT x) does not decompose; min(a, b) is invalid SQL but
    min((a, b)) is a VALID struct-min, so wrapping would silently serve
    a loudly broken original; sum-of-sums widens decimal precision twice
    (value-equal but dtype-drifted).  ``count_multiarg_ok``: the keyed
    route preserves rows 1:1 per key so multi-argument COUNT pushes
    through; the sumarray route must mask each argument to the first
    exploded copy and cannot mask a multi-argument call as one
    expression.  Unclassified names: known aggregates bail (another MODE
    form beside MODE-AVG among them), our scalar rewrites pass, and
    anything the live catalog says IS an aggregate fails safe to the
    fallback."""
    spans = [(t[1], t[3]) for t in route.targets]
    co_sites = []
    for name, st, op, inner, end in route.sites:
        u = name.upper()
        if any(s <= st < e for s, e in spans) or route.shape.in_subquery(st):
            # a target, a call inside one, or a call in a subquery's own
            # scope over its own input: the restructure leaves it alone
            continue
        if u in _KEYED_DECOMPOSABLE:
            parsed_f = _parse_trailing_filter(route.sql, end)
            if parsed_f is None:
                return None  # unfoldable FILTER clause: bail
            pred, end = parsed_f  # end swallows the clause when present
            if sqltext.keyword("DISTINCT").match(
                inner, sqltext.skip_space(inner)
            ):
                return None
            nargs = len(sqltext.split(inner))
            if u == "COUNT":
                if nargs != 1 and inner.strip() != "*" and (
                    not count_multiarg_ok or pred is not None
                ):
                    # a pred mask must wrap ONE expression
                    return None
            elif nargs != 1:
                return None
            if u in ("SUM", "AVG", "MEAN") and re.search(
                r"decimal", inner, re.IGNORECASE
            ):
                return None
            co_sites.append((u, st, end, inner, pred))
            continue
        if u in _KNOWN_AGG_NAMES:
            return None  # non-decomposable aggregates keep the fallback
        if u in SCALAR_REWRITE_NAMES:
            continue  # our own per-row rewrites: positively scalar
        if is_aggregate is not None and is_aggregate(name):
            return None  # unclassified-but-aggregate: fail safe
    return co_sites


def _emit_decomposable_co_aggs(
    co_sites: list,
    prefix: str,
    levels: list,
    edits: list,
    first_copy: "str | None" = None,
):
    """ONE definition of the co-aggregate partial EMISSION the
    restructuring routes share (keyed / sumarray / mode-avg; the
    emission half of _collect_decomposable_co_sites — post-review: it
    had been pasted three times).  ``levels`` is the route's stack of
    inner SELECT-item lists, innermost first: the first level gets the
    original partial aggregate, every later level gets the chaining
    re-aggregate under the same alias, and the call site is replaced by
    the outer recombination.  ``first_copy``: a boolean SQL condition
    selecting exactly one copy of each original row — required when the
    route DUPLICATES rows (the sumarray explode); duplication-immune
    MIN/MAX never mask on it.  A site's admitted ``FILTER (WHERE
    pred)`` joins the mask for EVERY function including MIN/MAX
    (duplication-immune is not filter-immune) — round 10.
    Recombinations: count -> coalesce(sum, 0)
    (zero inner rows must answer 0, not NULL), sum -> sum, avg ->
    try_divide of chained sum/count (all-NULL input means a 0 count —
    NULL, never an ANSI divide error), min/max -> themselves."""

    def chain(col: str, fn: str) -> None:
        for lv in levels[1:]:
            lv.append(f"{fn}({col}) AS {col}")

    for j, (u, st, end, inner, pred) in enumerate(co_sites):
        a = f"{prefix}{j}"
        parts = []
        if first_copy and u not in ("MIN", "MAX"):
            parts.append(first_copy)
        if pred:
            parts.append(f"({pred})")
        cond = " AND ".join(parts) if parts else None
        if u == "COUNT":
            if cond:
                expr = "1" if inner.strip() == "*" else f"({inner})"
                base = f"count(if({cond}, {expr}, null))"
            else:
                base = f"count({inner})"
            levels[0].append(f"{base} AS {a}")
            chain(a, "sum")
            repl = f"coalesce(sum({a}), 0)"
        elif u == "SUM":
            arg = f"if({cond}, ({inner}), null)" if cond else f"({inner})"
            levels[0].append(f"sum({arg}) AS {a}")
            chain(a, "sum")
            repl = f"sum({a})"
        elif u in ("AVG", "MEAN"):
            arg = f"if({cond}, ({inner}), null)" if cond else f"({inner})"
            levels[0].append(f"sum({arg}) AS {a}_s")
            levels[0].append(f"count({arg}) AS {a}_c")
            chain(f"{a}_s", "sum")
            chain(f"{a}_c", "sum")
            repl = f"try_divide(sum({a}_s), sum({a}_c))"
        else:  # MIN / MAX: duplication-immune, extremes of extremes
            fn = u.lower()
            arg = f"if(({pred}), ({inner}), null)" if pred else f"({inner})"
            levels[0].append(f"{fn}(({arg})) AS {a}")
            chain(a, fn)
            repl = f"{fn}({a})"
        edits.append((st, end, repl))


def rewrite_keyed_agg_statement(sql: str, is_aggregate=None):
    """Return the bounded two-level statement for a routable FUNNELCOUNT
    / tuple-value-aggregate statement, or ``None`` when the shape is
    unsupported (section comment above has the full contract)."""
    r = _route(sql, _KEYED_GATE_RE, "__fc", lambda u, _: u in _KEYED_TARGETS)
    if r is None:
        return None
    co_sites = _collect_decomposable_co_sites(
        r, is_aggregate, count_multiarg_ok=True
    )
    if co_sites is None:
        return None
    parsed = []  # (kind, start, end, key_expr, payload, filter_pred)
    # a target's FILTER pred conjoins into its per-key step/membership
    # flags or masks its value partial, so a key whose every row fails
    # the pred carries all-false flags / a NULL partial and contributes
    # nothing — exactly the key the FILTER'd aggregate never saw.  The
    # shared key expression stays unmasked (an all-masked key
    # contributing zero equals its absence in every recombination).
    for name, st, inner, end, fpred in r.targets:
        u = name.upper()
        args = _args(inner)
        if u == "FUNNELCOUNT":
            try:
                steps, corr = _parse_funnelcount_clauses(args)
            except ValueError:
                return None  # the fold path raises the same loud error
            parsed.append(("FC", st, end, corr, steps, fpred))
        elif u in _THETA_SET_TARGETS:
            # theta SET-EXPRESSION form: (col, 'params',
            # 'pred1', ..., 'predN', 'SET_EXPR($1..$N)') **[P1.2]**.
            # 1-2 arg sites are plain/tuned distincts the call-site
            # rewrite already serves exactly in ONE aggregate level —
            # routing them would only add a shuffle, so they bail here
            # (a co-occurring real target then keeps ITS fallback too).
            if len(args) <= 2:
                return None
            if len(args) == 3:
                raise ValueError(
                    f"{name}: the set-expression form needs at least one "
                    "filter predicate literal between the parameters "
                    "literal and the set expression"
                )
            _unquote_literal(args[1], f"{name} parameters")
            preds = [
                _unquote_literal(a, f"{name} filter predicate")
                for a in args[2:-1]
            ]
            sexpr = _unquote_literal(args[-1], f"{name} set expression")
            ast = _theta_set_ast(sexpr, len(preds))
            parsed.append(
                ("THETA", st, end, args[0], (preds, ast), fpred)
            )
        else:
            if len(args) != 2:
                return None  # the fallback raises the loud redirect
            kind = "SUM" if u.startswith("SUM") else "AVG"
            parsed.append((kind, st, end, args[0], args[1], fpred))
    if len({p[3] for p in parsed}) != 1:
        return None  # all targets must share ONE key expression
    key = parsed[0][3]
    inner_items = [gc[1] for gc in r.group_cols]
    inner_items.append(f"({key}) AS __fc_k")
    edits = []
    for j, (kind, st, end, _key, payload, fpred) in enumerate(parsed):
        # the admitted FILTER pred conjoins into THIS target's per-key
        # flag partials (FC/THETA) or masks its value partial (SUM/AVG)
        def _mk(p: str) -> str:
            return f"({fpred}) AND ({p})" if fpred else f"({p})"

        if kind == "FC":
            for i, p in enumerate(payload):
                inner_items.append(
                    f"bool_or(coalesce({_mk(p)}, false)) "
                    f"AS __fc{j}_s{i + 1}"
                )
            counts = []
            for i in range(len(payload)):
                conj = " AND ".join(
                    f"__fc{j}_s{t + 1}" for t in range(i + 1)
                )
                # coalesce: a GLOBAL funnel whose WHERE filters every row
                # aggregates over ZERO inner rows — the fold returns 0s
                # there (its finish runs on the init state), so the route
                # must too, not array(NULL, ...)
                counts.append(
                    "coalesce("
                    f"sum(if(__fc_k IS NOT NULL AND {conj}, 1, 0)), 0)"
                )
            repl = "array(" + ", ".join(counts) + ")"
        elif kind == "THETA":
            preds, ast = payload
            for i, p in enumerate(preds):
                inner_items.append(
                    f"bool_or(coalesce({_mk(p)}, false)) "
                    f"AS __fc{j}_s{i + 1}"
                )
            formula = _theta_set_sql(
                ast, lambda k, j=j: f"__fc{j}_s{k}"
            )
            # coalesce: zero inner rows (WHERE filtered everything) must
            # answer 0 like Pinot's empty sketch, not NULL
            repl = (
                "coalesce(sum(if(__fc_k IS NOT NULL AND "
                f"{formula}, 1, 0)), 0)"
            )
        else:
            inner_items.append(
                # sum at the NATIVE value type — casting to double FIRST
                # would collapse exact int64 sums above 2^53; the double
                # cast happens once, on the outer level.
                # DELIBERATE consequence: an integral per-key sum past
                # int64 raises Spark's ANSI ARITHMETIC_OVERFLOW — a loud
                # truthful failure where Pinot's long accumulator wraps
                # silently and the old double cast drifted silently;
                # both silent-wrong modes lose to the loud one here.
                (
                    f"sum(if(({fpred}), ({payload}), null)) "
                    f"AS __fc{j}_v"
                    if fpred
                    else f"sum(({payload})) AS __fc{j}_v"
                )
            )
            repl = (
                f"cast(sum(__fc{j}_v) as double)"
                if kind == "SUM"
                else f"cast(avg(__fc{j}_v) as double)"
            )
        edits.append((st, end, repl))
    _emit_decomposable_co_aggs(co_sites, "__fca", [inner_items], edits)
    _bind_group_expr_edits(r, edits)
    inner_group = ", ".join([gc[2] for gc in r.group_cols] + [f"({key})"])
    return r.splice(
        edits,
        f"SELECT {', '.join(inner_items)} FROM {r.rel}{r.where} "
        f"GROUP BY {inner_group}",
        "__fc",
    )


# ---------------------------------------------------------------------------
# Statement-level ordered-funnel route: FUNNELMAXSTEP / FUNNELMATCHSTEP
# ---------------------------------------------------------------------------
#
# The ordered funnels' call-site fold (_funnel above) collects the group's
# step-matching events into ONE sorted array per group — per-group state is
# O(matching events), the collect-state class the round-8 verdict flagged
# for FUNNELCOUNT.  But the greedy first-match advance the fold computes
# has an exact WINDOW formulation: processing events in (ts, flags) order,
# step i's first-completion timestamp t_i is the MIN ts among events that
# are valid AT THEIR POSITION, and validity only reads the PRE-event state
# t_{i-1}/t_1 — running mins over the strictly-preceding frame.  So the
# route rewrites
#
#   SELECT g, FUNNELMAXSTEP(ts, 'W', N, 'p1', .., 'pN') FROM t
#   WHERE ... GROUP BY g
# ->
#   layer 0:    SELECT *, CASE WHEN p1 THEN ts END AS v1 FROM t WHERE ...
#   layer k.a:  SELECT *, min(v_k) OVER (PARTITION BY g ORDER BY ts, p1..pN
#                 ROWS UNBOUNDED PRECEDING TO 1 PRECEDING) AS t_k ...
#   layer k.b:  SELECT *, CASE WHEN p_{k+1} AND t_k IS NOT NULL AND
#                 ts cmp t_k [AND ts <= t_1 + W] THEN ts END AS v_{k+1} ...
#   outer:      SELECT g, <finish over min(v_1)..min(v_N)> GROUP BY g
#
# — ONE shuffle+sort per group partition (Catalyst stacks the same-spec
# Window operators over a single sort), per-row state only, spill-safe.
# Bit-identical to the fold: the window ORDER BY replicates the fold's
# struct sort key (ts, raw step flags — ASC NULLS FIRST both sides), the
# strictly-preceding frame IS the fold's pre-event state, and NULL-ts
# events are no-ops on both paths (the fold assigns a NULL t_i that stays
# "unset"; the min ignores NULL v_i) — the fuzz property pins route ==
# fold on random data/steps/modes including NULL correlators and flags.
# Because Window preserves rows 1:1, co-occurring aggregates need NO
# classification at all — count/stddev/percentile/FUNNELCOUNT all see
# exactly the original rows.  FUNNELCOMPLETECOUNT keeps the fold: its
# state RESETS after each completion (a loop, not a prefix min).
# Unpartitioned funnels (no GROUP BY) route to a single sorted partition —
# still strictly better than one driver-sized collected array.

_ORDERED_FUNNEL_TARGETS = frozenset(
    {"FUNNELMAXSTEP", "FUNNELMATCHSTEP", "FUNNELSTEPDURATIONSTATS"}
)

_ORDERED_GATE_RE = re.compile(
    r"\b(FUNNELMAXSTEP|FUNNELMATCHSTEP|FUNNELSTEPDURATIONSTATS)\s*\(",
    re.IGNORECASE,
)

# funnels deeper than this keep the fold (each step adds two layered
# selects; Pinot dashboards run 3-7 step funnels)
_ORDERED_MAX_STEPS = 12


def _step_duration_stats_expr(j: int, n: int, fns: list) -> str:
    """Outer-level replacement for FUNNELSTEPDURATIONSTATS call ``j``
    over an ``n``-step funnel: the window cascade's greedy
    first-completion timestamps ``t_i = min(__fn{j}_v{i})`` give the
    step durations ``d_i = millis(t_{i+1}) - millis(t_i)`` directly, and
    each requested stat is scalar arithmetic over the ≤ n-1 available
    durations (the greedy state matches steps as a PREFIX, so the
    non-null durations are d_1..d_{maxstep-1} in order).  Returns an
    ``array<double>`` with one entry per requested durationFunction, in
    request order; a stat over zero durations (max_step < 2) is NULL.
    Durations are in MILLISECONDS (the windowMs unit); MEDIAN of an
    even count is the mean of the two middle values.  Expressions are
    repeated rather than aliased — the arrays hold at most 11 elements
    and Catalyst's common-subexpression elimination collapses the
    copies inside one projection."""
    if n < 2:
        durs = "cast(array() as array<double>)"
    else:
        ds = [
            f"CASE WHEN min(__fn{j}_v{i + 1}) IS NOT NULL THEN "
            f"cast(unix_millis(min(__fn{j}_v{i + 1})) - "
            f"unix_millis(min(__fn{j}_v{i})) as double) END"
            for i in range(1, n)
        ]
        durs = f"filter(array({', '.join(ds)}), x -> x IS NOT NULL)"
    sorted_durs = f"array_sort({durs})"
    stats = []
    for f in fns:
        if f == "MIN":
            stats.append(f"array_min({durs})")
        elif f == "MAX":
            stats.append(f"array_max({durs})")
        elif f == "AVG":
            stats.append(
                f"CASE WHEN size({durs}) > 0 THEN "
                f"aggregate({durs}, cast(0.0 as double), "
                f"(a, x) -> a + x) / size({durs}) "
                "ELSE cast(null as double) END"
            )
        else:  # MEDIAN (validated by _parse_step_duration_args)
            stats.append(
                f"CASE WHEN size({durs}) = 0 THEN cast(null as double) "
                f"WHEN size({durs}) % 2 = 1 THEN "
                f"element_at({sorted_durs}, "
                f"cast((size({durs}) + 1) div 2 as int)) "
                f"ELSE (element_at({sorted_durs}, "
                f"cast(size({durs}) div 2 as int)) + "
                f"element_at({sorted_durs}, "
                f"cast(size({durs}) div 2 as int) + 1)) / 2.0 END"
            )
    return "array(" + ", ".join(stats) + ")"


def rewrite_ordered_funnel_statement(sql: str, is_aggregate=None):
    """Return the window-cascade statement for a routable FUNNELMAXSTEP /
    FUNNELMATCHSTEP / FUNNELSTEPDURATIONSTATS statement, or ``None`` when
    the shape is unsupported (section comment above has the full
    contract; STEPDURATIONSTATS reads the same greedy per-step
    timestamps the cascade already computes and summarizes their
    consecutive differences per its durationFunctions SETTINGS
    literal).  ``is_aggregate`` is accepted for
    route-API uniformity but unused: the Window layers preserve rows
    1:1, so co-occurring aggregates are correct without
    classification."""
    r = _route(
        sql, _ORDERED_GATE_RE, "__fn",
        lambda u, _: u in _ORDERED_FUNNEL_TARGETS,
    )
    if r is None:
        return None
    parsed = []
    for name, st, inner, end, pred in r.targets:
        kind = name.upper()[6:]  # MAXSTEP / MATCHSTEP / STEPDURATIONSTATS
        args = _args(inner)
        try:
            if kind == "STEPDURATIONSTATS":
                ts, window_ms, steps, cmp, fns = (
                    _parse_step_duration_args(args)
                )
            else:
                ts, window_ms, steps, cmp = _parse_ordered_funnel_args(
                    kind, args
                )
                fns = None
        except (ValueError, TypeError):
            if kind == "STEPDURATIONSTATS":
                # the call-site fallback is the generic restructuring
                # redirect — for a statement that DID route, the parse
                # error (bad settings/arity) is the genuine diagnostic
                raise
            return None  # the fold path raises the same loud error
        if len(steps) > _ORDERED_MAX_STEPS:
            return None
        if sqltext.search(_MV_AGG_IN_ARG_RE, inner) or sqltext.search(
            "SELECT", inner
        ):
            return None
        parsed.append((kind, st, end, ts, window_ms, steps, cmp, fns, pred))
    # expression GROUP BY items need no aliasing here: every cascade
    # layer projects `SELECT *`, so the outer clauses' raw expressions
    # keep binding — the window simply partitions by the same expression
    part = (
        f"PARTITION BY {', '.join(gc[2] for gc in r.group_cols)} "
        if r.group_cols
        else ""
    )
    base_cols, orders = [], {}
    for j, (kind, st, end, ts, wms, steps, cmp, fns, pred) in enumerate(
        parsed
    ):
        tse = f"cast(({ts}) as timestamp)"
        # materialize the user's ts and EVERY step predicate as layer-0
        # aliases: layer 0 is the only SELECT where the ORIGINAL tables
        # bind, so table-qualified references (`fact.ts` — the normal
        # disambiguation in a JOIN) resolve there and the upper window
        # layers touch only the aliases, over which a qualified
        # expression would no longer bind
        base_cols.append(f"{tse} AS __fn{j}_ts")
        # an admitted FILTER pred masks THIS target's step predicates:
        # a row failing it matches no step, so it never starts or
        # extends the cascade and its NULL v-values are invisible to
        # the running mins — identical to deleting the row for this
        # target.  Visible rows keep their original flags (pred is
        # true), so the tie-break order over them is unchanged.
        def _m(s: str) -> str:
            return f"({pred}) AND ({s})" if pred else f"({s})"

        for i, s in enumerate(steps):
            base_cols.append(f"{_m(s)} AS __fn{j}_p{i + 1}")
        # the fold sorts struct(_ts, _s1, ..., _sN) ascending — the
        # aliases hold exactly those values, so the tie order is
        # replicated (ASC = NULLS FIRST on both sides)
        orders[j] = ", ".join(
            [f"__fn{j}_ts ASC"]
            + [f"__fn{j}_p{i + 1} ASC" for i in range(len(steps))]
        )
        base_cols.append(
            f"CASE WHEN {_m(steps[0])} THEN {tse} END AS __fn{j}_v1"
        )
    sub_layers = []
    max_n = max(len(p[5]) for p in parsed)
    for k in range(1, max_n):
        titems, vitems = [], []
        for j, p in enumerate(parsed):
            kind, st, end, ts, wms, steps, cmp, fns, pred = p
            if len(steps) <= k:
                continue
            titems.append(
                f"min(__fn{j}_v{k}) OVER ({part}ORDER BY {orders[j]} "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) "
                f"AS __fn{j}_t{k}"
            )
            cond = (
                f"__fn{j}_p{k + 1} AND __fn{j}_t{k} IS NOT NULL "
                f"AND __fn{j}_ts {cmp} __fn{j}_t{k}"
            )
            if wms > 0:
                cond += (
                    f" AND __fn{j}_ts <= __fn{j}_t1 + "
                    f"make_dt_interval(0, 0, 0, {wms / 1000.0!r})"
                )
            vitems.append(
                f"CASE WHEN {cond} THEN __fn{j}_ts END AS __fn{j}_v{k + 1}"
            )
        # t_k and v_{k+1} land in SEPARATE layers: v_{k+1} references the
        # t_k alias, which is only in scope one SELECT further out
        if titems:
            sub_layers.append(titems)
        if vitems:
            sub_layers.append(vitems)
    inner_sql = f"SELECT *, {', '.join(base_cols)} FROM {r.rel}{r.where}"
    for items in sub_layers:
        inner_sql = f"SELECT *, {', '.join(items)} FROM ({inner_sql})"
    edits = []
    for j, (kind, st, end, ts, wms, steps, cmp, fns, pred) in enumerate(
        parsed
    ):
        if kind == "STEPDURATIONSTATS":
            repl = _step_duration_stats_expr(j, len(steps), fns)
        else:
            flags = [
                f"CASE WHEN min(__fn{j}_v{i + 1}) IS NOT NULL "
                "THEN 1 ELSE 0 END"
                for i in range(len(steps))
            ]
            repl = (
                "(" + " + ".join(flags) + ")"
                if kind == "MAXSTEP"
                else "array(" + ", ".join(flags) + ")"
            )
        edits.append((st, end, repl))
    return r.splice(edits, inner_sql, "__fn")


# ---------------------------------------------------------------------------
# Statement-level positional route: SUMARRAYLONG / SUMARRAYDOUBLE
# ---------------------------------------------------------------------------
#
# Pinot's element-wise array-sum aggregates **[P1.2]** keep a per-group
# accumulator array and add each row's elements into it — O(max array
# length) state.  The single-expression call-site form cannot match that
# bound (it would collect whole arrays per group), so the call site is a
# loud reject; routable STATEMENTS restructure instead:
#
#   SELECT g, SUMARRAYLONG(arr) FROM t WHERE ... GROUP BY g
# ->
#   SELECT g, transform(array_sort(collect_list(
#            CASE WHEN __sa_pos IS NOT NULL
#                 THEN struct(__sa_pos, __sa_v) END)),
#            x -> cast(x.__sa_v as bigint))
#   FROM (SELECT g, __sa_pos, sum(__sa_elem) AS __sa_v
#         FROM t LATERAL VIEW OUTER POSEXPLODE(arr) __sa
#              AS __sa_pos, __sa_elem
#         WHERE ... GROUP BY g, __sa_pos) __sa
#   GROUP BY g
#
# — the inner level is a plain shuffle-bounded hash aggregate over
# (group, position), and the outer collect_list is bounded by the MAX
# ARRAY LENGTH per group (positions are unique after the inner GROUP BY),
# exactly Pinot's accumulator bound.  array_sort on struct(pos, v) orders
# by the leading pos field, so element order is restored
# deterministically; OUTER posexplode keeps all-empty/NULL-array groups
# alive (their positions are NULL, filtered by the CASE, answering an
# empty array).  Ragged arrays: each position sums the rows that HAVE it
# (the relational reading of the positional accumulator).  Per-position
# sums run at the NATIVE element type (the keyed route's
# loud-overflow-over-silent-drift policy); the name's declared type is
# restored by one cast per element on the outer level.
#
# Co-occurring aggregates see every row POSEXPLODE-duplicated, so the
# decomposable set (COUNT/SUM/AVG via first-copy masking, MIN/MAX
# duplication-immune) pushes partials through the two levels exactly —
# the same contract as the keyed route, with the MV route's
# coalesce(pos, 0) = 0 mask (NULL pos = the single copy of an
# empty/NULL-array row).  Everything else bails to the loud call-site
# reject.  All route targets must share ONE array expression: a second
# explode would cross-product the first (no single (group, pos) regroup
# is correct for both).

_SUMARRAY_TARGETS = frozenset({"SUMARRAYLONG", "SUMARRAYDOUBLE"})

_SUMARRAY_GATE_RE = re.compile(
    r"\b(SUMARRAYLONG|SUMARRAYDOUBLE)\s*\(", re.IGNORECASE
)

_SUMARRAY_CAST = {"SUMARRAYLONG": "bigint", "SUMARRAYDOUBLE": "double"}


def rewrite_sumarray_statement(sql: str, is_aggregate=None):
    """Return the bounded positional two-level statement for a routable
    SUMARRAYLONG/SUMARRAYDOUBLE statement, or ``None`` when the shape is
    unsupported (section comment above has the full contract)."""
    r = _route(
        sql, _SUMARRAY_GATE_RE, "__sa", lambda u, _: u in _SUMARRAY_TARGETS
    )
    if r is None or sqltext.search(_NONDETERMINISTIC_FN_RE, sql):
        return None  # per-copy re-evaluation would skew sampling: fold
    co_sites = _collect_decomposable_co_sites(
        r,
        is_aggregate,
        # every co-aggregate argument must be maskable to the first
        # exploded copy as ONE expression — multi-argument COUNT cannot
        count_multiarg_ok=False,
    )
    if co_sites is None:
        return None
    # a target's FILTER pred masks the EXPLODED array: `CASE WHEN pred
    # THEN arr END` turns a pred-failing row into a NULL array — under
    # OUTER POSEXPLODE it keeps exactly one NULL-pos copy (the
    # first-copy mask co-aggregates already rely on) and contributes no
    # positions, so the positional sums and the output length see only
    # pred-passing arrays, exactly the FILTER exclusion.  The single
    # shared explode means every target must share ONE array expression
    # and ONE pred.
    arr = None
    arr_pred = None
    parsed = []  # (NAME, start, end)
    for name, st, inner, end, fpred in r.targets:
        args = _args(inner)
        if len(args) != 1:
            return None  # the call-site reject raises the loud error
        e = args[0]
        if sqltext.search(_MV_AGG_IN_ARG_RE, e) or sqltext.search(
            "SELECT", e
        ):
            return None
        if arr is None:
            arr, arr_pred = e, fpred
        elif e != arr or fpred != arr_pred:
            return None  # all targets share ONE array expression+mask
        parsed.append((name.upper(), st, end))
    inner_items = [gc[1] for gc in r.group_cols]
    inner_items.append("__sa_pos")
    inner_items.append("sum(__sa_elem) AS __sa_v")
    edits = []
    for u, st, end in parsed:
        edits.append((
            st,
            end,
            "transform(array_sort(collect_list("
            "CASE WHEN __sa_pos IS NOT NULL "
            "THEN struct(__sa_pos, __sa_v) END)), "
            f"x -> cast(x.__sa_v as {_SUMARRAY_CAST[u]}))",
        ))
    _emit_decomposable_co_aggs(
        co_sites, "__saa", [inner_items], edits,
        first_copy="coalesce(__sa_pos, 0) = 0",
    )
    _bind_group_expr_edits(r, edits)
    inner_group = ", ".join([gc[2] for gc in r.group_cols] + ["__sa_pos"])
    explode = f"CASE WHEN ({arr_pred}) THEN ({arr}) END" if arr_pred else arr
    return r.splice(
        edits,
        f"SELECT {', '.join(inner_items)} FROM {r.rel}"
        f" LATERAL VIEW OUTER POSEXPLODE({explode}) __sa"
        f" AS __sa_pos, __sa_elem{r.where} GROUP BY {inner_group}",
        "__sa",
    )


# ---------------------------------------------------------------------------
# Statement-level route: MODE(col, 'AVG') — average of the tied modes
# ---------------------------------------------------------------------------
#
# The MIN/MAX tie reducers are single aggregates (deterministic mode /
# the negation identity), but AVG needs the full tied-mode SET — state no
# single expression can bound, so the call site rejects loudly.  Routable
# statements restructure instead to THREE stacked hash aggregates, no
# windows, no collections:
#
#   SELECT g, MODE(v, 'AVG') FROM t WHERE ... GROUP BY g
# ->
#   level 1:  GROUP BY g, (v)        -> __md_c = count of non-NULL v
#   level 2:  GROUP BY g, __md_c     -> __md_sv = sum(v), __md_n = count(*)
#             (all values TIED at frequency c merge into one row)
#   outer:    GROUP BY g             -> try_divide(max_by(__md_sv, __md_c),
#                                                  max_by(__md_n,  __md_c))
#
# __md_c is unique per (g, level-2 row), so max_by has no ties and both
# calls pick the SAME row — the one holding the sum and count of exactly
# the values whose frequency is the group's maximum.  NULL values are
# excluded from candidacy by counting ONLY non-NULL v at level 1 (their
# row carries __md_c = 0, which loses to any real frequency; an all-NULL
# group answers NULL through the NULL sum).  Per-group state at every
# level is one hash-aggregate row — Pinot's own mode-map bound.
# Co-occurring decomposable aggregates chain through both regroupings
# (count -> sum -> sum, min -> min -> min, ...); rows are never
# duplicated here, so no first-copy mask is needed.  All MODE-AVG
# targets must share ONE value expression (level 1 groups by it).

_MODE_AVG_GATE_RE = re.compile(r"\bMODE\s*\(", re.IGNORECASE)


def _mode_avg_arg(args: list[str]):
    """The value expression when ``args`` is the AVG-reducer form, else
    None (other MODE forms are served at the call site)."""
    if len(args) != 2:
        return None
    raw = args[1].strip()
    if not raw.startswith(("'", '"')):
        return None
    try:
        red = _unquote_literal(raw, "MODE reducer").strip().upper()
    except ValueError:
        return None
    return args[0] if red == "AVG" else None


def rewrite_mode_avg_statement(sql: str, is_aggregate=None):
    """Return the three-level statement for a routable MODE(col, 'AVG')
    statement, or ``None`` when the shape is unsupported (section
    comment above has the full contract)."""
    r = _route(
        sql, _MODE_AVG_GATE_RE, "__md",
        lambda u, inner: u == "MODE"
        and _mode_avg_arg(_args(inner)) is not None,
    )
    if r is None:
        return None
    # another MODE form (MIN/MAX/bare) over the re-grouped rows would
    # answer a different question: MODE is a known aggregate, so such a
    # site bails the co-aggregate classification and the AVG form keeps
    # its loud reject
    co_sites = _collect_decomposable_co_sites(
        r, is_aggregate, count_multiarg_ok=True
    )
    if co_sites is None:
        return None
    # a target's FILTER pred masks the value: level 1 groups by the
    # value and counts its non-NULL occurrences, so masking the value to
    # NULL for pred-failing rows collapses them into the __md_c = 0
    # bucket that loses to any real frequency — the all-NULL handling,
    # and exactly the rows FILTER excludes (a group with NO passing rows
    # answers NULL through the NULL sum)
    target_sites = []
    for _, st, inner, end, pred in r.targets:
        e = _mode_avg_arg(_args(inner))
        if sqltext.search(_MV_AGG_IN_ARG_RE, e) or sqltext.search(
            "SELECT", e
        ):
            return None
        target_sites.append((st, end, e, pred))
    if len({(e, pr) for _, _, e, pr in target_sites}) != 1:
        return None  # all targets must share ONE value expression+mask
    val = target_sites[0][2]
    if target_sites[0][3]:  # the admitted FILTER pred masks the value
        val = f"if(({target_sites[0][3]}), ({val}), null)"
    l1_items = [gc[1] for gc in r.group_cols]
    l1_items.append(f"({val}) AS __md_v")
    l1_items.append(f"count(({val})) AS __md_c")
    l2_items = [gc[0] for gc in r.group_cols]
    l2_items.append("__md_c")
    l2_items.append("sum(__md_v) AS __md_sv")
    l2_items.append("count(*) AS __md_n")
    edits = []
    for st, end, _e, _pr in target_sites:
        edits.append((
            st,
            end,
            "try_divide(max_by(__md_sv, __md_c), max_by(__md_n, __md_c))",
        ))
    _emit_decomposable_co_aggs(
        co_sites, "__mda", [l1_items, l2_items], edits
    )
    _bind_group_expr_edits(r, edits)
    l1_group = ", ".join([gc[2] for gc in r.group_cols] + [f"({val})"])
    l2_group = ", ".join([gc[0] for gc in r.group_cols] + ["__md_c"])
    return r.splice(
        edits,
        f"SELECT {', '.join(l2_items)} FROM ("
        f"SELECT {', '.join(l1_items)} FROM {r.rel}{r.where} "
        f"GROUP BY {l1_group}) __md1 GROUP BY {l2_group}",
        "__md",
    )
