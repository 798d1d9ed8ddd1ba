"""One lexer for SQL text: which characters of a statement are code.

Every text-level pass over a statement asks the same question before it
reads a character: is this code, or is it inside a literal or a comment?
The passes are the Pinot call-site rewrites and the statement routes
(functions/aggsql.py), and the engine's option, LOOKUP, table-reference,
virtual-column and group-by scans.  This module is the only place that
answers the question.  The rules:

- ``'...'`` and ``"..."`` are string literals.  This is Spark's default
  dialect, where a double quote delimits a string, not an identifier.  A
  backslash escapes the next character, and a doubled quote stands for
  one quote.  An unterminated literal runs to the end of the text.
- `` `...` `` is a quoted identifier.  A doubled backtick stands for one
  backtick; a backslash escapes nothing.  An unterminated one runs to
  the end of the text.
- ``--`` starts a comment that runs to the end of its line.  ``/*``
  starts one that runs to the ``*/`` that closes it; these nest, as in
  Spark, so ``/* a /* b */ c */`` is one comment.  An unterminated
  comment runs to the end of the text.
- Literals, quoted identifiers and comments are opaque.  Nothing inside
  one is a keyword, a call, a table reference, a separator or a bracket.
  A pattern that starts in code may still run into one, so a
  table-reference pattern matches ``FROM `my table` ``.
- ``(`` and ``[`` open a nesting level; ``)`` and ``]`` close one.  "Top
  level" means depth 0.

Comments must be opaque for the same reason literals are: Spark drops
them before it parses, so a scan that reads them as code answers a
question about a different statement.  A comment is free text.  Read as
code, the apostrophe in ``-- it's grouped`` opens a "literal" that
swallows the rest of the statement, so a GROUP BY, a FROM or a Pinot
call after it is never seen.  A ``FROM t`` inside a comment would be
taken for a table reference, and a comma for a separator.  A quoted
identifier is a name, and its text is free too: the apostrophe in
``AS `it's` `` is part of the name.

The primitives: :func:`skip` steps over one opaque span, :func:`spans`
lists them, :func:`balanced` reads a bracket group, :func:`split` cuts at
top-level separators, :func:`search`/:func:`finditer` find patterns that
start in code (optionally at depth 0), :func:`calls` lists ``name(``
call sites, :func:`subquery_spans` lists ``(SELECT ...)`` groups,
:func:`skip_space`/:func:`code_end`/:func:`strip` trim leading and
trailing comments, and :func:`blank` turns each comment into spaces, so a
character scan sees only code at unchanged positions.

One statement shape, :func:`statement`, reads ``[WITH name AS (SELECT
...), ...] SELECT ... FROM ... [WHERE] [GROUP BY] [HAVING] [ORDER BY |
SORT BY] [LIMIT] [OFFSET]`` into a :class:`Statement`: the WITH
definitions (:func:`ctes` reads that head alone), each clause's span
with its body trimmed of comments, the FROM operands (a JOIN chain or a
comma list of names and ``(SELECT ...)`` groups, with their aliases) and
the subquery groups.  Its readers:

- the five statement routes of functions/aggsql.py read the whole
  shape, and its CTE inliner reads the WITH head;
- the engine's own SQL forms (the star-tree route, GAPFILL and the
  VECTOR_SIMILARITY / TEXT_MATCH / JSON_MATCH predicates) read the view
  :func:`clauses`, which serves a plain statement without WITH, HAVING
  or SORT BY as ``{keyword: text}``.

One relation reader, :func:`relations`, lists every name a statement
reads a relation from, at every depth, with its alias.  Its readers are
the engine's skipUpsert and ``enableNullHandling=false`` rewrites
(``Engine._rewrite_table_refs``), its virtual-column resolution and the
CTE inliner of functions/aggsql.py.  The FROM operands of
:func:`statement` read their names and aliases by the same rules, so
one list of words is never an alias.
"""

from __future__ import annotations

import re
from functools import lru_cache
from typing import Iterator, NamedTuple

_SQ = r"'(?:[^'\\]|\\.|'')*(?:'|\\?\Z)"
_DQ = r'"(?:[^"\\]|\\.|"")*(?:"|\\?\Z)'
_BQ = r"`(?:[^`]|``)*(?:`|\Z)"
# a ``/*`` comment is matched by its opener alone: where it ends is a
# nesting count (_end), which no regex can do
_COMMENT = r"--[^\n]*(?:\n|\Z)|(?P<block>/\*)"

# one literal, quoted identifier or comment; the group tells which
_OPAQUE_RE = re.compile(
    rf"(?P<quoted>{_SQ}|{_DQ}|{_BQ})|(?P<comment>{_COMMENT})", re.DOTALL
)
# the same, or one bracket
_TOKEN_RE = re.compile(
    rf"{_SQ}|{_DQ}|{_BQ}|{_COMMENT}|(?P<open>[(\[])|(?P<close>[)\]])", re.DOTALL
)
_BLOCK_RE = re.compile(r"/\*|\*/")
_SPACE_RE = re.compile(r"\s*")
_STRING_RE = re.compile(r"'(?:[^'\\]|\\.|'')*'", re.DOTALL)
_COMMA_RE = re.compile(",")
_CALL_RE = re.compile(r"(?<!\w)([A-Za-z_][A-Za-z0-9_]*)[ \t\r\n]*\(")
_OPEN_RE = re.compile(r"\(")


def _end(sql: str, m: re.Match) -> int:
    """Index past the token ``m`` starts: a ``/*`` comment runs to the
    ``*/`` that closes it, counting nested ``/*`` (or to the end)."""
    if m.group("block") is None:
        return m.end()
    depth = 0
    for b in _BLOCK_RE.finditer(sql, m.start()):
        depth += 1 if b.group() == "/*" else -1
        if depth == 0:
            return b.end()
    return len(sql)


def _tokens(token: re.Pattern, sql: str, i: int = 0):
    """``(match, end)`` for every ``token`` from ``i``, left to right, each
    search resuming past the previous token's whole span."""
    while (m := token.search(sql, i)) is not None:
        i = _end(sql, m)
        yield m, i


def skip(sql: str, i: int) -> int:
    """Index past the literal, quoted identifier or comment that starts at
    ``sql[i]``; ``i`` itself when none starts there."""
    m = _OPAQUE_RE.match(sql, i)
    return i if m is None else _end(sql, m)


def spans(sql: str) -> list[tuple[int, int]]:
    """``[start, end)`` of every literal, quoted identifier and comment, in
    order."""
    return [(m.start(), e) for m, e in _tokens(_OPAQUE_RE, sql)]


def skip_space(sql: str, i: int = 0) -> int:
    """Index of the first character at or after ``i`` that is neither
    whitespace nor part of a comment."""
    while True:
        i = _SPACE_RE.match(sql, i).end()
        m = _OPAQUE_RE.match(sql, i)
        if m is None or m.group("comment") is None:
            return i
        i = _end(sql, m)


def code_end(sql: str) -> int:
    """Index past the last character that is neither whitespace nor part
    of a comment (0 for a statement that holds nothing else)."""
    end = pos = 0
    for m, e in _tokens(_OPAQUE_RE, sql):
        if sql[pos : m.start()].strip():
            end = pos + len(sql[pos : m.start()].rstrip())
        if m.group("quoted") is not None:
            end = e
        pos = e
    if sql[pos:].strip():
        end = pos + len(sql[pos:].rstrip())
    return end


def strip(text: str) -> str:
    """``text`` without the whitespace and comments that lead or trail
    it."""
    return text[skip_space(text) : code_end(text)]


def blank(text: str) -> str:
    """``text`` with each comment replaced by as many spaces."""
    if "--" not in text and "/*" not in text:
        return text
    out, pos = [], 0
    for m, e in _tokens(_OPAQUE_RE, text):
        if m.group("comment") is not None:
            out += [text[pos : m.start()], " " * (e - m.start())]
            pos = e
    return "".join(out) + text[pos:]


def string_value(text: str) -> str | None:
    """The value of ``text`` when it is exactly one single-quoted literal
    (surrounding whitespace allowed, doubled quotes unescaped), else
    None."""
    t = text.strip()
    return t[1:-1].replace("''", "'") if _STRING_RE.fullmatch(t) else None


def balanced(sql: str, open_idx: int) -> tuple[str, int]:
    """From the bracket at ``open_idx``: (the text inside the group, the
    index past its closing bracket).  Raises ValueError when the group
    never closes."""
    depth = 0
    for m, e in _tokens(_TOKEN_RE, sql, open_idx):
        if m.group("open"):
            depth += 1
        elif m.group("close"):
            depth -= 1
            if depth == 0:
                return sql[open_idx + 1 : m.start()], e
    raise ValueError("unbalanced parentheses in SQL text")


def _code_runs(sql: str, start: int, top_level: bool):
    """``(s, e)`` runs of code from ``start``: between opaque spans, and
    with ``top_level`` only the depth-0 runs between brackets."""
    token = _TOKEN_RE if top_level else _OPAQUE_RE
    depth, i = 0, start
    for m, e in _tokens(token, sql, start):
        if m.start() > i and depth == 0:
            yield i, m.start()
        if top_level and m.group("open"):
            depth += 1
        elif top_level and m.group("close"):
            depth -= 1
        i = e
    if len(sql) > i and depth == 0:
        yield i, len(sql)


@lru_cache(maxsize=64)
def keyword(*words: str) -> re.Pattern:
    """Case-insensitive pattern matching any of ``words`` as a whole word;
    a word may be a phrase (``"GROUP BY"``, any whitespace between, and
    comments too where :func:`finditer` or :func:`blank` text reads it).
    A word right after ``.`` is a qualified name part (``d.limit``),
    never a keyword."""
    alts = "|".join(r"\s+".join(map(re.escape, w.split())) for w in words)
    return re.compile(rf"(?<![\w.])(?:{alts})(?!\w)", re.IGNORECASE)


def finditer(
    pattern: "re.Pattern | str", sql: str, start: int = 0,
    top_level: bool = False,
) -> Iterator[re.Match]:
    """Every match of ``pattern`` that starts in code at or after
    ``start`` (at depth 0 with ``top_level``), left to right and not
    overlapping.  The pattern reads the :func:`blank` copy of ``sql``, so
    a match may run across a comment, as a phrase's words may.  A str
    pattern is a :func:`keyword`."""
    if isinstance(pattern, str):
        pattern = keyword(pattern)
    code, pos = blank(sql), start
    for s, e in _code_runs(sql, start, top_level):
        pos = max(pos, s)
        while pos < e:
            m = pattern.search(code, pos)
            if m is None:
                return
            if m.start() >= e:
                break
            yield m
            pos = max(m.end(), m.start() + 1)


def search(
    pattern: "re.Pattern | str", sql: str, start: int = 0,
    top_level: bool = False,
) -> re.Match | None:
    """The first match :func:`finditer` yields, or None."""
    return next(finditer(pattern, sql, start, top_level), None)


def split(sql: str, sep: str = ",") -> list[str]:
    """The pieces of ``sql`` between its top-level ``sep`` separators:
    ``","`` or a keyword such as ``"AND"``.  Every piece is kept, empty
    ones (a trailing comma's) included."""
    parts, last = [], 0
    for m in finditer(_COMMA_RE if sep == "," else sep, sql, top_level=True):
        parts.append(sql[last : m.start()])
        last = m.end()
    parts.append(sql[last:])
    return parts


def calls(sql: str) -> Iterator[tuple[str, int, int]]:
    """``(name, start, open_idx)`` for every ``name(`` call site at every
    depth, left to right (whitespace may sit before the bracket)."""
    for m in finditer(_CALL_RE, sql):
        yield m.group(1), m.start(), m.end() - 1


def subquery_spans(sql: str, start: int = 0) -> list[tuple[int, int]]:
    """``(start, end)`` of every outermost bracket group from ``start``
    whose first token is SELECT."""
    out: list[tuple[int, int]] = []
    for m in finditer(_OPEN_RE, sql, start):
        if (not out or m.start() >= out[-1][1]) and keyword("SELECT").match(
            sql, skip_space(sql, m.end())
        ):
            out.append((m.start(), balanced(sql, m.start())[1]))
    return out


# the clauses of a statement, in the order it holds them
_SHAPE = (
    "SELECT", "FROM", "WHERE", "GROUP BY", "HAVING", "ORDER BY", "SORT BY",
    "LIMIT", "OFFSET",
)
# ...and the top-level keywords that make a statement some other shape
_CLAUSES = (
    *_SHAPE, "WINDOW", "UNION", "INTERSECT", "EXCEPT", "MINUS", "CLUSTER BY",
    "DISTRIBUTE BY",
)
# the operator ``IS [NOT] DISTINCT FROM``, whose FROM starts no clause
_CLAUSE_RE = keyword(*_CLAUSES, "DISTINCT FROM")
# the clauses :func:`clauses` serves
_PLAIN = frozenset(_SHAPE) - {"HAVING", "SORT BY"}
_NAME_RE = re.compile(r"[A-Za-z_]\w*")
# a relation name: identifiers or quoted identifiers joined by dots
_PART = rf"[A-Za-z_]\w*|{_BQ}"
_PART_RE = re.compile(_PART)
_RELATION_RE = re.compile(rf"(?:{_PART})(?:\.(?:{_PART}))*")
# the words after which the commas of a FROM list separate no more
# relations: the clauses that can follow it, and LATERAL VIEW, whose
# commas separate generator aliases.  With the join words and AS they
# are the words that are never an alias; GROUP, ORDER, SORT, CLUSTER and
# DISTRIBUTE count only as the head of their ``X BY`` clause, so ``FROM t
# sort`` names the alias ``sort``.
_FROM_END = (
    *(c for c in _CLAUSES if c != "FROM"), "QUALIFY", "LATERAL", "VALUES",
    "TABLESAMPLE", "PIVOT", "UNPIVOT",
)
_FROM_END_RE = keyword(*_FROM_END)
_NOT_ALIAS_RE = keyword(
    *_FROM_END, "AS", "JOIN", "ON", "USING", "LEFT", "RIGHT", "FULL", "INNER",
    "OUTER", "CROSS", "NATURAL", "SEMI", "ANTI",
)
_QUERY_RE = keyword("SELECT", "WITH")
# one token of :func:`relations`' scan (comments are blanked by then)
_RELATION_TOKEN_RE = re.compile(
    rf"{_SQ}|{_DQ}|(?P<name>{_RELATION_RE.pattern})|(?P<open>[(\[])"
    r"|(?P<close>[)\]])|(?P<comma>,)",
    re.DOTALL,
)
# the join condition; the flavor words a FROM operand may trail for the
# next JOIN, where ``condless`` marks the flavors whose segment takes no
# condition
_COND = r"(?:\s*ON\s+.+?|\s*USING\s*\([^()]*\))"
_FLAVOR = (
    r"(?:\s+(?:(?P<condless>CROSS|NATURAL(?:\s+INNER|"
    r"\s+(?:LEFT|RIGHT|FULL)(?:\s+OUTER)?)?)|(?:LEFT\s+)?(?:SEMI|ANTI)|"
    r"(?:LEFT|RIGHT|FULL)(?:\s+OUTER)?|INNER))?"
)


class Clause(NamedTuple):
    """One top-level clause: where its keyword starts, its body without
    the whitespace and comments around it, and where the next clause's
    keyword (or the end of the statement) starts."""

    start: int
    body_start: int
    body_end: int
    end: int


class Statement(NamedTuple):
    """The shape :func:`statement` reads.

    ``ctes`` holds ``(name, body_start, body_end)`` for each ``WITH``
    definition; ``clauses`` maps each clause keyword, upper-cased with
    single spaces, to its :class:`Clause`, in statement order;
    ``relation`` holds the ``(start, end)`` of each FROM operand with
    its alias, or None when the FROM is not a JOIN chain or a comma list
    of names and ``(SELECT ...)`` groups; ``subqueries`` holds the
    ``(start, end)`` of each outermost ``(SELECT ...)`` group."""

    ctes: list
    clauses: dict
    relation: list | None
    subqueries: list

    def in_subquery(self, pos: int) -> bool:
        return any(s < pos < e for s, e in self.subqueries)


class Relation(NamedTuple):
    """One relation reference: the span of its name, the name with its
    quotes removed and its alias (None when it has none)."""

    start: int
    end: int
    name: str
    alias: str | None


def _unquote(name: str) -> str:
    return ".".join(
        p[1:-1].replace("``", "`") if p[0] == "`" else p
        for p in _PART_RE.findall(name)
    )


def _alias(text: str, i: int) -> tuple[str, int] | None:
    """The alias after the FROM operand that ends at ``text[i]`` (comments
    blanked): ``(name, index past it)``, or None.  After AS any name is
    the alias; a bare name is one unless :data:`_NOT_ALIAS_RE` reads a
    clause, join or set-operator word there."""
    j = _SPACE_RE.match(text, i).end()
    if m := keyword("AS").match(text, j):
        j = _SPACE_RE.match(text, m.end()).end()
    elif j == i or _NOT_ALIAS_RE.match(text, j):
        return None
    m = _PART_RE.match(text, j)
    return (_unquote(m.group()), m.end()) if m else None


def relations(sql: str) -> Iterator[Relation]:
    """Every relation reference of ``sql`` at every depth, left to right:
    the name after FROM, after JOIN, or after a comma of a FROM list (up
    to the next :data:`_FROM_END_RE` word at its depth), with its alias.
    A FROM counts at the top level and directly inside a ``(SELECT
    ...)`` or ``(WITH ...)`` group, so the FROM of ``substring(s FROM
    2)`` or of ``IS DISTINCT FROM`` names no relation.  A name followed
    by ``(`` is a call (``FROM range(3)``), not a reference.  Comments
    may sit between any two tokens."""
    text = blank(sql)
    # per open group, the top level first: [a FROM counts there, the scan
    # is inside its FROM list]
    groups = [[True, False]]
    operand, prev, last, skip = False, "", 0, 0
    for m in _RELATION_TOKEN_RE.finditer(text):
        if m.start() < skip:
            continue
        word = (m.group("name") or "").upper()
        after = _SPACE_RE.match(text, m.end()).end()
        from_ = word == "FROM" and groups[-1][0] and not (
            prev == "DISTINCT" and text[last : m.start()].isspace()
        )
        if operand and word and not text.startswith("(", after):
            alias, skip = _alias(text, m.end()) or (None, m.end())
            yield Relation(m.start(), m.end(), _unquote(m.group()), alias)
        elif m.group("open"):
            groups.append([bool(_QUERY_RE.match(text, after)), False])
        elif m.group("close") and len(groups) > 1:
            groups.pop()
        elif from_ or ("." not in word and _FROM_END_RE.match(text, m.start())):
            groups[-1][1] = from_
        operand = from_ or word == "JOIN" or (
            m.group("comma") is not None and groups[-1][1]
        )
        prev, last = word, m.end()


@lru_cache(maxsize=8)
def _tail(cond: bool, flavor: bool) -> re.Pattern:
    """What follows a FROM operand and its alias up to the next JOIN or
    comma."""
    tail = (_COND if cond else "") + (_FLAVOR if flavor else "")
    return re.compile(tail + r"\s*", re.IGNORECASE | re.DOTALL)


def _relation(sql: str, start: int, end: int) -> list | None:
    """``(start, end)`` of each operand of the FROM body ``sql[start:end]``
    with its alias: ``op [JOIN op (ON cond | USING (cols))]...`` (no
    condition after a CROSS or NATURAL join), or ``op, op, ...``, where
    an operand is a table name or a ``(SELECT ...)`` group.  None for any
    other relation."""
    text = blank(sql[start:end])
    joins = list(finditer("JOIN", text, top_level=True))
    commas = list(finditer(_COMMA_RE, text, top_level=True))
    if joins and commas:
        return None
    seps = joins or commas
    out, condless = [], False
    starts = [0] + [m.end() for m in seps]
    ends = [m.start() for m in seps] + [len(text)]
    for k, (s, e) in enumerate(zip(starts, ends)):
        i = _SPACE_RE.match(text, s).end()
        if text.startswith("(", i):
            first = _SPACE_RE.match(text, i + 1).end()
            if not keyword("SELECT").match(text, first):
                return None
            try:
                op = balanced(text, i)[1]
            except ValueError:
                return None
        elif m := _RELATION_RE.match(text, i):
            op = m.end()
        else:
            return None
        stop = (_alias(text, op) or (None, op))[1]
        cond = bool(joins) and k > 0 and not condless
        m = _tail(cond, k < len(joins)).fullmatch(text, stop, e)
        if m is None:
            return None
        condless = m.groupdict().get("condless") is not None
        out.append((start + i, start + stop))
    return out


def ctes(sql: str) -> tuple[list, int] | None:
    """The ``WITH`` head of ``sql``: ``([(name, body_start, body_end),
    ...], main)``, where each body is the text inside ``name AS (SELECT
    ...)`` and ``main`` is the index past the head; ``([], 0)`` when the
    statement has none.  None when the head holds another definition
    (a column list, a quoted name, a body that is not a SELECT)."""
    m = keyword("WITH").match(sql, skip_space(sql))
    if m is None:
        return [], 0
    defs, i = [], m.end()
    while True:
        name = _NAME_RE.match(sql, skip_space(sql, i))
        as_ = name and keyword("AS").match(sql, skip_space(sql, name.end()))
        open_ = as_ and skip_space(sql, as_.end())
        if not open_ or not sql.startswith("(", open_) or not keyword(
            "SELECT"
        ).match(sql, skip_space(sql, open_ + 1)):
            return None
        try:
            i = balanced(sql, open_)[1]
        except ValueError:
            return None
        defs.append((name.group(), open_ + 1, i - 1))
        comma = skip_space(sql, i)
        if not sql.startswith(",", comma):
            return defs, i
        i = comma + 1


def statement(sql: str) -> Statement | None:
    """The shape of ``[WITH ...] SELECT items FROM relation [WHERE cond]
    [GROUP BY items] [HAVING cond] [ORDER BY ... | SORT BY ...] [LIMIT n]
    [OFFSET n]``, read at depth 0 with comments and literals opaque.  A
    trailing ``;`` ends the statement.  None for any other shape: a
    statement that does not start with SELECT after its WITH head, no
    FROM, a clause that is empty, repeated or out of order, or another
    top-level clause (UNION, WINDOW, CLUSTER BY, ...)."""
    head = ctes(sql)
    if head is None:
        return None
    stop = code_end(sql)
    end = stop - 1 if sql[stop - 1 : stop] == ";" else len(sql)
    body = sql[:end]
    start = skip_space(body, head[1])
    marks = [
        (name, m.start(), m.end())
        for m in finditer(_CLAUSE_RE, body, start, top_level=True)
        if (name := " ".join(m.group().upper().split())) != "DISTINCT FROM"
    ]
    ranks = [_SHAPE.index(n) if n in _SHAPE else -1 for n, _, _ in marks]
    if (
        ranks[:2] != [0, 1] or marks[0][1] != start
        or ranks != sorted(set(ranks))
    ):
        return None
    out = {}
    for (name, s, e), nxt in zip(marks, [s for _, s, _ in marks[1:]] + [end]):
        a = skip_space(body, e)
        b = a + code_end(body[a:nxt])
        if a == b:
            return None
        out[name] = Clause(s, a, b, nxt)
    f = out["FROM"]
    try:
        subqueries = subquery_spans(body, start)
    except ValueError:  # a group that never closes
        return None
    return Statement(
        head[0], out, _relation(sql, f.body_start, f.body_end), subqueries
    )


def clauses(sql: str) -> dict[str, str] | None:
    """The top-level clauses of ``SELECT items FROM source [WHERE cond]
    [GROUP BY items] [ORDER BY ...] [LIMIT n] [OFFSET n]`` as ``{keyword:
    text}`` in statement order: the keyword upper-cased with single
    spaces, the text without its surrounding whitespace and comments.  A
    trailing ``;`` and the comments around it are dropped.  None for any
    other shape: a statement that does not start with SELECT, no FROM,
    a clause that is empty, repeated or out of order, or another
    top-level clause (HAVING, UNION, ...)."""
    s = statement(sql)
    if s is None or s.ctes or not s.clauses.keys() <= _PLAIN:
        return None
    return {n: sql[c.body_start : c.body_end] for n, c in s.clauses.items()}
