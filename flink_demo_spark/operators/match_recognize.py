"""SQL ``MATCH_RECOGNIZE`` over Spark DataFrames.

Parses the MATCH_RECOGNIZE subset the reference exercises
(``QueryTest.scala:942-1026``, ``TableSQLFunc.scala:1569-2248``,
``TableSQLFunc2.scala:20-267``) and executes it per partition key with
``applyInPandas`` — the SQL front-end for the row-pattern semantics the
CEP library (``operators/cep.py``) exposes programmatically.

Supported grammar::

    SELECT * FROM <table>
    MATCH_RECOGNIZE (
      PARTITION BY c [, c ...]
      ORDER BY c [, c ...]
      MEASURES expr AS alias [, ...]
      ONE ROW PER MATCH
      AFTER MATCH SKIP { PAST LAST ROW | TO NEXT ROW
                       | TO [FIRST|LAST] var }
      PATTERN ( VAR[quant] ... ) [WITHIN INTERVAL '<n>' <unit>]
      DEFINE var AS cond [, ...]
    ) [alias]

with quantifiers ``+ * ? {n} {n,} {n,m}`` (plus reluctant ``?``
suffix), navigation ``FIRST/LAST(X.col [, offset])``, aggregates
``SUM/AVG/COUNT/MIN/MAX`` over one variable (or unqualified = every
row of the match so far), arithmetic, comparisons, ``IS [NOT] NULL``,
``AND/OR/NOT``.

Matching semantics are pinned to the reference goldens (each replicated
in ``tests/test_match_recognize.py``):

- **Contiguous rows.** Pattern variables consume consecutive rows of
  the partition in ORDER BY order (row-pattern semantics — unlike the
  CEP library's followed-by relaxed contiguity).
- **Eager quantifiers, winner-takes-all.** A greedy loop consumes
  while its DEFINE holds and hands the first non-matching row to the
  next variable; there is NO backtracking into shorter runs — if the
  remainder then fails, the whole anchor fails. Proof:
  ``TableSQLFunc2.scala:73-100`` (SKIP TO NEXT ROW golden): the
  anchor at 10:00:06 emits nothing because A+ eagerly swallowed the
  row B needed.
- **Reluctance = zero-repeat preference only.** ``B*?`` tries the
  next variable before each loop repeat (``TableSQLFunc.scala:1958``
  golden: B binds nothing), but ``B{1,}?`` — min > 0 — behaves
  exactly like the greedy ``B{1,}`` (``TableSQLFunc.scala:1989``
  golden: B binds the full run). This asymmetry is Flink's observed
  NFA behavior, replicated deliberately.
- **Logical offsets.** While evaluating ``DEFINE X``, the current row
  is provisionally mapped to X; ``LAST(X.col, n)`` reads the n-th
  from the end of X's mapped rows. ``TableSQLFunc.scala:2213`` golden
  (``B.price > 2 * LAST(B.price, 2)``) pins the indexing.
- **WITHIN is strict.** Every consumed row must satisfy
  ``ts - anchor_ts < interval``; a match completing at exactly the
  interval is rejected (``TableSQLFunc.scala:2086`` golden: the
  12:00 anchor whose C lands on +1h emits nothing).
- **Unqualified refs span the whole match**: ``FIRST(ctime)`` /
  ``SUM(price)`` read every consumed row (``TableSQLFunc2.scala:59``,
  ``TableSQLFunc.scala:2149`` goldens).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._planstats import pinned_partitions

# ---------------------------------------------------------------------------
# tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"\s*(?:"
    r"(?P<num>\d+(?:\.\d+)?)"
    r"|(?P<str>'[^']*')"
    r"|(?P<ident>[A-Za-z_][A-Za-z_0-9]*)"
    r"|(?P<op><=|>=|<>|!=|[<>=(),.+\-*/{}?])"
    r")"
)


def _tokenize(text: str) -> list[str]:
    out, pos = [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if m is None:
            if text[pos:].strip():
                raise ValueError(f"cannot tokenize at: {text[pos:pos+30]!r}")
            break
        out.append(m.group(m.lastgroup))
        pos = m.end()
    return out


# ---------------------------------------------------------------------------
# expression AST + parser (recursive descent)
# ---------------------------------------------------------------------------

_NAV = {"FIRST", "LAST"}
_AGG = {"SUM", "AVG", "COUNT", "MIN", "MAX"}


class _ExprParser:
    def __init__(self, tokens: list[str]):
        self.toks = tokens
        self.i = 0

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def peek_upper(self) -> str | None:
        t = self.peek()
        return t.upper() if t is not None else None

    def take(self, expect: str | None = None) -> str:
        t = self.toks[self.i]
        if expect is not None and t.upper() != expect.upper():
            raise ValueError(f"expected {expect!r}, got {t!r}")
        self.i += 1
        return t

    def parse(self):
        e = self.or_expr()
        if self.i != len(self.toks):
            raise ValueError(f"trailing tokens: {self.toks[self.i:]}")
        return e

    def or_expr(self):
        e = self.and_expr()
        while self.peek_upper() == "OR":
            self.take()
            e = ("or", e, self.and_expr())
        return e

    def and_expr(self):
        e = self.not_expr()
        while self.peek_upper() == "AND":
            self.take()
            e = ("and", e, self.not_expr())
        return e

    def not_expr(self):
        if self.peek_upper() == "NOT":
            self.take()
            return ("not", self.not_expr())
        return self.cmp_expr()

    def cmp_expr(self):
        e = self.add_expr()
        op = self.peek_upper()
        if op in ("<", "<=", ">", ">=", "=", "<>", "!="):
            self.take()
            return ("cmp", "<>" if op == "!=" else op, e, self.add_expr())
        if op == "IS":
            self.take()
            negated = False
            if self.peek_upper() == "NOT":
                self.take()
                negated = True
            self.take("NULL")
            return ("isnull", e, negated)
        return e

    def add_expr(self):
        e = self.mul_expr()
        while self.peek() in ("+", "-"):
            op = self.take()
            e = ("bin", op, e, self.mul_expr())
        return e

    def mul_expr(self):
        e = self.unary()
        while self.peek() in ("*", "/"):
            op = self.take()
            e = ("bin", op, e, self.unary())
        return e

    def unary(self):
        if self.peek() == "-":
            self.take()
            return ("bin", "-", ("num", 0), self.unary())
        return self.primary()

    def primary(self):
        t = self.peek()
        if t is None:
            raise ValueError("unexpected end of expression")
        if t == "(":
            self.take()
            e = self.or_expr()
            self.take(")")
            return e
        if re.fullmatch(r"\d+(\.\d+)?", t):
            self.take()
            return ("num", float(t) if "." in t else int(t))
        if t.startswith("'"):
            self.take()
            return ("str", t[1:-1])
        name = self.take()
        up = name.upper()
        if up in ("RUNNING", "FINAL") and self.peek() is not None and (
            re.fullmatch(r"[A-Za-z_][A-Za-z_0-9]*", self.peek() or "")
        ):
            # RUNNING/FINAL semantics modifier prefixing an aggregate
            # or navigation expression (SQL:2016 row-pattern measures)
            return (up.lower(), self.primary())
        if self.peek() == "(" and up in ("MATCH_NUMBER", "CLASSIFIER"):
            self.take("(")
            self.take(")")
            return (up.lower(),)
        if self.peek() == "(" and up in (_NAV | _AGG):
            self.take("(")
            inner = self.or_expr()
            offset = 0
            if self.peek() == ",":
                self.take()
                offset = int(self.take())
            self.take(")")
            if up in _NAV:
                if inner[0] != "ref":
                    raise ValueError(f"{up}() expects a column reference")
                return ("nav", up.lower(), inner, offset)
            return ("agg", up.lower(), inner)
        if self.peek() == ".":
            self.take()
            col = self.take()
            return ("ref", name, col)
        return ("ref", None, name)


def _parse_expr(text: str):
    return _ExprParser(_tokenize(text)).parse()


# ---------------------------------------------------------------------------
# spec parsing
# ---------------------------------------------------------------------------

_SECTIONS = [
    "PARTITION BY",
    "ORDER BY",
    "MEASURES",
    "ONE ROW PER MATCH",
    "ALL ROWS PER MATCH",
    "AFTER MATCH",
    "PATTERN",
    "WITHIN",
    "DEFINE",
]

_QUANT_RE = re.compile(
    r"(?P<name>[A-Za-z_][A-Za-z_0-9]*)"
    r"(?P<quant>\+|\*|\?|\{\s*\d*\s*(?:,\s*\d*\s*)?\})?"
    r"(?P<reluct>\?)?"
)

_INTERVAL_UNITS = {
    "SECOND": "s",
    "MINUTE": "m",
    "HOUR": "h",
    "DAY": "D",
}


@dataclass
class _StepSpec:
    name: str
    min_times: int
    max_times: int | None
    reluctant: bool


@dataclass
class MatchRecognizeSpec:
    table: str
    partition_by: list[str]
    order_by: list[str]
    measures: list[tuple[object, str]]  # (ast, alias)
    after_match: str | tuple[str, str]
    steps: list[_StepSpec]
    defines: dict[str, object]
    within: pd.Timedelta | None
    all_rows: bool = False  # ALL ROWS PER MATCH (vs ONE ROW PER MATCH)


def _split_top_level(text: str, sep: str = ",") -> list[str]:
    parts, depth, cur = [], 0, []
    for ch in text:
        if ch in "({":
            depth += 1
        elif ch in ")}":
            depth -= 1
        if ch == sep and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if "".join(cur).strip():
        parts.append("".join(cur))
    return [p.strip() for p in parts if p.strip()]


def parse_match_recognize(sql: str) -> MatchRecognizeSpec:
    m = re.search(
        r"FROM\s+([A-Za-z_][A-Za-z_0-9.]*)\s+MATCH_RECOGNIZE\s*\(",
        sql,
        re.I | re.S,
    )
    if m is None:
        raise ValueError("not a SELECT ... FROM <t> MATCH_RECOGNIZE (...) query")
    table = m.group(1)
    # balanced-paren extraction of the MR body
    depth, i = 1, m.end()
    while i < len(sql) and depth:
        if sql[i] == "(":
            depth += 1
        elif sql[i] == ")":
            depth -= 1
        i += 1
    body = sql[m.end() : i - 1]

    # split the body into sections on the keyword boundaries
    # \b guards keep identifiers/aliases containing a keyword (e.g.
    # 'pattern_start', 'measures_a') from corrupting the section split
    pat = "|".join(rf"(?P<k{j}>\b{re.escape(s)}\b)" for j, s in enumerate(_SECTIONS))
    hits = [
        (h.start(), h.end(), _SECTIONS[int(h.lastgroup[1:])])
        for h in re.finditer(pat, body, re.I)
    ]
    sections: dict[str, str] = {}
    for j, (_, end, kw) in enumerate(hits):
        nxt = hits[j + 1][0] if j + 1 < len(hits) else len(body)
        sections[kw] = body[end:nxt].strip()

    all_rows = "ALL ROWS PER MATCH" in sections
    if "PATTERN" not in sections or "PARTITION BY" not in sections:
        raise ValueError("PATTERN and PARTITION BY are required")

    partition_by = [c.strip() for c in sections["PARTITION BY"].split(",")]
    order_by = [
        re.sub(r"\s+ASC$", "", c.strip(), flags=re.I)
        for c in sections.get("ORDER BY", "").split(",")
        if c.strip()
    ]

    measures = []
    for item in _split_top_level(sections.get("MEASURES", "")):
        em = re.match(r"(.*)\s+AS\s+([A-Za-z_][A-Za-z_0-9]*)\s*$", item, re.I | re.S)
        if em is None:
            raise ValueError(f"MEASURES item needs 'expr AS alias': {item!r}")
        measures.append((_parse_expr(em.group(1)), em.group(2)))

    after: str | tuple[str, str] = "past_last"
    am = sections.get("AFTER MATCH", "").strip()
    if am:
        am_up = re.sub(r"\s+", " ", am.upper())
        if am_up == "SKIP PAST LAST ROW":
            after = "past_last"
        elif am_up == "SKIP TO NEXT ROW":
            after = "to_next"
        else:
            sm = re.match(r"SKIP TO (FIRST |LAST )?([A-Za-z_][A-Za-z_0-9]*)$", am_up)
            if sm is None:
                raise ValueError(f"unsupported AFTER MATCH: {am!r}")
            which = (sm.group(1) or "LAST ").strip().lower()
            # bare SKIP TO X == SKIP TO LAST X (Flink TableSQLFunc.scala:1708)
            var = re.match(
                r"SKIP TO (?:FIRST |LAST )?([A-Za-z_][A-Za-z_0-9]*)", am, re.I
            ).group(1)
            after = (f"to_{which}", var)

    # PATTERN (...) [the WITHIN section may trail inside the same text]
    pat_text = sections["PATTERN"]
    pm = re.match(r"\s*\((.*?)\)", pat_text, re.S)
    if pm is None:
        raise ValueError(f"cannot parse PATTERN: {pat_text!r}")
    steps: list[_StepSpec] = []
    for tok in pm.group(1).split():
        qm = _QUANT_RE.fullmatch(tok)
        if qm is None:
            raise NotImplementedError(f"unsupported pattern element: {tok!r}")
        q = qm.group("quant")
        if q is None:
            mn, mx = 1, 1
        elif q == "+":
            mn, mx = 1, None
        elif q == "*":
            mn, mx = 0, None
        elif q == "?":
            mn, mx = 0, 1
        else:  # {n} {n,} {n,m} {,m}
            nums = re.findall(r"\d+", q)
            if "," not in q:
                mn = mx = int(nums[0])
            elif len(nums) == 2:
                mn, mx = int(nums[0]), int(nums[1])
            elif q.replace(" ", "").startswith("{,"):
                mn, mx = 0, int(nums[0])
            else:
                mn, mx = int(nums[0]), None
        steps.append(_StepSpec(qm.group("name"), mn, mx, qm.group("reluct") is not None))
    if steps and all(s.min_times == 0 for s in steps):
        # Flink rejects these at compile time ("pattern can produce an
        # empty match"); a zero-width match would also never advance the
        # after-match resume point
        raise ValueError(
            f"PATTERN ({pm.group(1).strip()}) can produce an empty match "
            "— every variable is optional (min repetitions 0)"
        )

    within = None
    wtext = sections.get("WITHIN") or ""
    wm = re.search(
        r"INTERVAL\s+'(\d+)'\s+(SECOND|MINUTE|HOUR|DAY)",
        wtext or pat_text,
        re.I,
    )
    if wm is not None:
        within = pd.Timedelta(f"{wm.group(1)}{_INTERVAL_UNITS[wm.group(2).upper()]}")

    defines = {}
    for item in _split_top_level(sections.get("DEFINE", "")):
        dm = re.match(r"([A-Za-z_][A-Za-z_0-9]*)\s+AS\s+(.*)$", item, re.I | re.S)
        if dm is None:
            raise ValueError(f"DEFINE item needs 'VAR AS cond': {item!r}")
        defines[dm.group(1)] = _parse_expr(dm.group(2))

    known = {s.name for s in steps}
    for v in defines:
        if v not in known:
            raise ValueError(f"DEFINE references unknown pattern variable {v!r}")
    return MatchRecognizeSpec(
        table, partition_by, order_by, measures, after, steps, defines,
        within, all_rows,
    )


# ---------------------------------------------------------------------------
# evaluation
# ---------------------------------------------------------------------------


def _null(v):
    if v is None:
        return None
    if isinstance(v, float) and v != v:  # NaN
        return None
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    return v


class _Ctx:
    """bindings: var -> consumed row indices; consumed: all, in order;
    (cur_var, cur_idx): row provisionally mapped while its DEFINE runs.
    match_no / row_var feed MATCH_NUMBER() / CLASSIFIER() under
    ALL ROWS PER MATCH."""

    __slots__ = (
        "recs", "bindings", "consumed", "cur_var", "cur_idx",
        "match_no", "row_var", "full",
    )

    def __init__(
        self, recs, bindings, consumed, cur_var=None, cur_idx=None,
        match_no=None, row_var=None, full=None,
    ):
        self.recs = recs
        self.bindings = bindings
        self.consumed = consumed
        self.cur_var = cur_var
        self.cur_idx = cur_idx
        self.match_no = match_no
        self.row_var = row_var
        # the whole-match ctx backing FINAL semantics; None = self
        self.full = full

    def seq(self, var: str | None) -> list[int]:
        if var is None:
            s = list(self.consumed)
        else:
            s = list(self.bindings.get(var, ()))
        if self.cur_idx is not None and (var is None or var == self.cur_var):
            s.append(self.cur_idx)
        return s


def _expr_vars(ast, out: set):
    if not isinstance(ast, tuple):
        return out
    if ast[0] == "ref":
        out.add(ast[1])
        return out
    for a in ast[1:]:
        _expr_vars(a, out)
    return out


def _eval_row(ast, row):
    """Evaluate an aggregate's inner expression against ONE row."""
    kind = ast[0]
    if kind in ("num", "str"):
        return ast[1]
    if kind == "ref":
        return _null(row.get(ast[2]))
    if kind == "bin":
        return _arith(ast[1], _eval_row(ast[2], row), _eval_row(ast[3], row))
    raise NotImplementedError(f"{kind} inside aggregate")


def _arith(op, lv, rv):
    if lv is None or rv is None:
        return None
    if op == "+":
        return lv + rv
    if op == "-":
        return lv - rv
    if op == "*":
        return lv * rv
    return lv / rv


def _eval(ast, ctx: _Ctx):
    kind = ast[0]
    if kind in ("num", "str"):
        return ast[1]
    if kind == "match_number":
        return ctx.match_no
    if kind == "classifier":
        return ctx.row_var
    if kind == "running":
        return _eval(ast[1], ctx)  # ctx is already positional/running
    if kind == "final":
        return _eval(ast[1], ctx.full if ctx.full is not None else ctx)
    if kind == "ref":
        s = ctx.seq(ast[1])
        return _null(ctx.recs[s[-1]].get(ast[2])) if s else None
    if kind == "nav":
        _, which, ref, off = ast
        s = ctx.seq(ref[1])
        idx = off if which == "first" else len(s) - 1 - off
        if idx < 0 or idx >= len(s):
            return None
        return _null(ctx.recs[s[idx]].get(ref[2]))
    if kind == "agg":
        _, fn, inner = ast
        vars_ = _expr_vars(inner, set())
        qualified = {v for v in vars_ if v is not None}
        if len(qualified) > 1:
            raise ValueError(f"aggregate references several variables: {qualified}")
        var = next(iter(qualified)) if qualified else None
        vals = [
            v
            for i in ctx.seq(var)
            if (v := _eval_row(inner, ctx.recs[i])) is not None
        ]
        if fn == "count":
            return len(vals)
        if not vals:
            return None
        if fn == "sum":
            total = vals[0]
            for v in vals[1:]:
                total = total + v
            return total
        if fn == "avg":
            total = vals[0]
            for v in vals[1:]:
                total = total + v
            return total / len(vals)
        return min(vals) if fn == "min" else max(vals)
    if kind == "bin":
        return _arith(ast[1], _eval(ast[2], ctx), _eval(ast[3], ctx))
    if kind == "cmp":
        lv, rv = _eval(ast[2], ctx), _eval(ast[3], ctx)
        if lv is None or rv is None:
            return None
        op = ast[1]
        if op == "<":
            return lv < rv
        if op == "<=":
            return lv <= rv
        if op == ">":
            return lv > rv
        if op == ">=":
            return lv >= rv
        if op == "=":
            return lv == rv
        return lv != rv
    if kind == "isnull":
        isn = _eval(ast[1], ctx) is None
        return (not isn) if ast[2] else isn
    if kind == "not":
        v = _eval(ast[1], ctx)
        return None if v is None else (not v)
    if kind == "and":
        lv, rv = _eval(ast[1], ctx), _eval(ast[2], ctx)
        if lv is False or rv is False:
            return False
        if lv is None or rv is None:
            return None
        return True
    if kind == "or":
        lv, rv = _eval(ast[1], ctx), _eval(ast[2], ctx)
        if lv is True or rv is True:
            return True
        if lv is None or rv is None:
            return None
        return False
    raise NotImplementedError(kind)


# ---------------------------------------------------------------------------
# matcher (deterministic forward, winner-takes-all — see module doc)
# ---------------------------------------------------------------------------


class _Pending(Exception):
    """Streaming only: the anchor's outcome depends on rows not yet
    buffered (a decision point fell off the end of the buffer while a
    future row could still be consumed)."""


_PENDING = object()


def _find_match(
    recs,
    anchor,
    spec: MatchRecognizeSpec,
    ts_col: str | None,
    streaming: bool = False,
):
    n = len(recs)
    bindings: dict[str, list[int]] = {s.name: [] for s in spec.steps}
    consumed: list[int] = []

    def in_horizon(idx: int) -> bool:
        if spec.within is None or idx == anchor:
            return True
        return recs[idx][ts_col] - recs[anchor][ts_col] < spec.within

    def future_possible() -> bool:
        """Could a not-yet-buffered row still be consumed by this
        anchor? Rows arrive in event-time order, so a future row's ts
        is >= the last buffered one."""
        if not streaming:
            return False
        if spec.within is None or not recs:
            return True
        return recs[-1][ts_col] - recs[anchor][ts_col] < spec.within

    def cond_ok(var: str, idx: int) -> bool:
        d = spec.defines.get(var)
        if d is None:
            return True  # undefined variable matches any row
        return _eval(d, _Ctx(recs, bindings, consumed, var, idx)) is True

    def take(var: str, idx: int):
        bindings[var].append(idx)
        consumed.append(idx)

    def go(si: int, i: int):
        if si == len(spec.steps):
            return i
        st = spec.steps[si]
        count = 0
        while True:
            quota = st.max_times is None or count < st.max_times
            can_take = quota and i < n and in_horizon(i)
            # streaming: a take-decision that runs off the buffer end
            # while a future row could still land in-horizon is
            # undecidable — park the anchor instead of failing it
            might_take_later = quota and i >= n and future_possible()
            if count < st.min_times:
                if can_take and cond_ok(st.name, i):
                    take(st.name, i)
                    count += 1
                    i += 1
                    continue
                if might_take_later:
                    raise _Pending
                return None
            # min satisfied: reluctant (min==0 only — Flink's observed
            # asymmetry, see module doc) probes the remainder first
            if st.reluctant and st.min_times == 0:
                here = len(consumed)
                snap = {k: list(v) for k, v in bindings.items()}
                end = go(si + 1, i)
                if end is not None:
                    return end
                del consumed[here:]
                bindings.clear()
                bindings.update(snap)
                if can_take and cond_ok(st.name, i):
                    take(st.name, i)
                    count += 1
                    i += 1
                    continue
                if might_take_later:
                    raise _Pending
                return None
            if can_take and cond_ok(st.name, i):
                take(st.name, i)
                count += 1
                i += 1
                continue
            if might_take_later:
                raise _Pending
            return go(si + 1, i)

    if streaming:
        try:
            end = go(0, anchor)
        except _Pending:
            return _PENDING
    else:
        end = go(0, anchor)
    if end is None:
        return None
    return end, bindings


def _emit_all_rows(recs, bindings, spec, match_no, out):
    """ALL ROWS PER MATCH: one output row per consumed input row, with
    RUNNING measure semantics (aggregates/navigation see the match
    only up to and including the current row — the SQL-standard
    default inside ALL ROWS PER MATCH) plus MATCH_NUMBER() and
    CLASSIFIER()."""
    consumed = sorted(i for b in bindings.values() for i in b)
    var_of = {i: v for v, idxs in bindings.items() for i in idxs}
    full = _Ctx(recs, bindings, consumed, match_no=match_no)
    for p, i in enumerate(consumed):
        trunc = {
            v: [j for j in idxs if j <= i] for v, idxs in bindings.items()
        }
        trunc = {v: idxs for v, idxs in trunc.items() if idxs}
        ctx = _Ctx(
            recs, trunc, consumed[: p + 1],
            match_no=match_no, row_var=var_of[i], full=full,
        )
        rec = dict(recs[i])
        for ast, alias in spec.measures:
            rec[alias] = _eval(ast, ctx)
        out.append(rec)


def _partition_rows(pdf, spec, ts_col, part_vals_cols) -> list[dict]:
    """One key's matches as output-row dicts."""
    order = spec.order_by or ([ts_col] if ts_col else [])
    if order:
        from .cep import _sorted_rows_recs

        _, recs = _sorted_rows_recs(pdf, order)
    else:
        recs = pdf.to_dict("records")
    n = len(recs)
    out = []
    start = 0
    match_no = 0
    while start < n:
        m = None
        anchor = start
        for anchor in range(start, n):
            m = _find_match(recs, anchor, spec, ts_col)
            if m is not None:
                break
        if m is None:
            break
        end, bindings = m
        match_no += 1
        if spec.all_rows:
            _emit_all_rows(recs, bindings, spec, match_no, out)
        else:
            ctx = _Ctx(
                recs, bindings,
                sorted(i for b in bindings.values() for i in b),
                match_no=match_no,
            )
            rec = {c: recs[0][c] for c in part_vals_cols}
            for ast, alias in spec.measures:
                rec[alias] = _eval(ast, ctx)
            out.append(rec)
        if spec.after_match == "past_last":
            # max() is a belt-and-braces guard: a zero-width match
            # (rejected at parse time) would otherwise stall here
            start = max(end, start + 1)
        elif spec.after_match == "to_next":
            start = anchor + 1
        else:
            which, var = spec.after_match
            idxs = bindings.get(var) or []
            if not idxs:
                raise ValueError(
                    f"AFTER MATCH SKIP {which.upper()} {var}: variable "
                    "matched no rows"
                )
            resume = min(idxs) if which == "to_first" else max(idxs)
            if resume <= anchor:
                # Flink: "Could not skip to first element of a match"
                raise ValueError(
                    f"AFTER MATCH SKIP {which.upper()} {var} does not "
                    "advance the match — infinite loop"
                )
            start = resume
    return out


# ---------------------------------------------------------------------------
# schema inference + public API
# ---------------------------------------------------------------------------


def _infer_type(ast, schema_map) -> str:
    kind = ast[0]
    if kind == "num":
        return "bigint" if isinstance(ast[1], int) else "double"
    if kind == "str":
        return "string"
    if kind == "match_number":
        return "bigint"
    if kind == "classifier":
        return "string"
    if kind in ("running", "final"):
        return _infer_type(ast[1], schema_map)
    if kind == "ref":
        if ast[2] not in schema_map:
            raise ValueError(f"unknown column {ast[2]!r}")
        return schema_map[ast[2]]
    if kind == "nav":
        return _infer_type(ast[2], schema_map)
    if kind == "agg":
        if ast[1] == "count":
            return "bigint"
        if ast[1] == "avg":
            return "double"
        return _infer_type(ast[2], schema_map)
    if kind == "bin":
        lt, rt = _infer_type(ast[2], schema_map), _infer_type(ast[3], schema_map)
        if ast[1] == "/" or "double" in (lt, rt):
            return "double"
        return "bigint"
    return "boolean"  # cmp / isnull / not / and / or


_INT_TYPES = {"tinyint", "smallint", "int", "bigint"}


def match_recognize(df: DataFrame, sql: str) -> DataFrame:
    """Execute a MATCH_RECOGNIZE query against ``df`` (which stands in
    for the FROM table). Output columns: partition columns + measures
    (ONE ROW PER MATCH, the Flink/SQL-standard shape), or every input
    column + RUNNING measures + MATCH_NUMBER()/CLASSIFIER() support
    (ALL ROWS PER MATCH)."""
    spec = parse_match_recognize(sql)
    schema_map = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    for c in spec.partition_by + spec.order_by:
        if c not in schema_map:
            raise ValueError(f"unknown PARTITION/ORDER column {c!r}")
    if spec.all_rows:
        out_fields = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    else:
        out_fields = [(c, schema_map[c]) for c in spec.partition_by]
    for ast, alias in spec.measures:
        t = _infer_type(ast, schema_map)
        # integer arithmetic/sums can exceed the source width
        out_fields.append((alias, "bigint" if t in _INT_TYPES else t))
    out_schema = ", ".join(f"{n} {t}" for n, t in out_fields)
    out_columns = [n for n, _ in out_fields]
    ts_col = spec.order_by[0] if spec.order_by else None
    if spec.within is not None and ts_col is None:
        raise ValueError("WITHIN requires an ORDER BY time column")
    part_cols = list(spec.partition_by)

    # partition-sorted mapInPandas instead of groupBy().applyInPandas:
    # with many small keys (1500 users at sf0.1) the per-group Arrow
    # round-trip dominates (~2.5ms/group, measured 3.7s of a 6s query);
    # repartition on the key, sort within partitions, and split into
    # groups pandas-side — one Arrow exchange per PARTITION, not per
    # group. At 100 TB a partition must hold its keys' rows in memory,
    # the same contract applyInPandas has per key, sized by
    # _planstats.pinned_partitions.
    order = spec.order_by or []

    def run_partition_batch(batches):
        chunks = list(batches)  # may be empty: pinned partition count
        if not chunks or not sum(len(c) for c in chunks):
            yield pd.DataFrame(columns=out_columns)
            return
        pdf = pd.concat(chunks, ignore_index=True)
        rows: list[dict] = []
        for _, g in pdf.groupby(part_cols, sort=False):
            rows.extend(_partition_rows(g, spec, ts_col, part_cols))
        # ONE output DataFrame per partition: each yield becomes its
        # own Arrow batch, and thousands of tiny batches were the cost
        yield pd.DataFrame(rows, columns=out_columns)

    arranged = df.repartition(
        pinned_partitions(df), *[F.col(c) for c in part_cols]
    ).sortWithinPartitions(*[F.col(c) for c in (part_cols + order)])
    return arranged.mapInPandas(run_partition_batch, out_schema)


def match_recognize_sql(spark: SparkSession, sql: str) -> DataFrame:
    """Resolve the FROM table via the session catalog (temp views),
    mirroring the reference's ``tabEnv.sqlQuery`` usage."""
    spec = parse_match_recognize(sql)
    return match_recognize(spark.table(spec.table), sql)


# ---------------------------------------------------------------------------
# streaming (applyInPandasWithState twin)
# ---------------------------------------------------------------------------


def _run_stream_increment(recs, spec: MatchRecognizeSpec, ts_col):
    """Run the matcher over the buffered rows; return
    ``(match_bindings, keep_from)`` where ``match_bindings`` is a list
    of finalized (anchor, end, bindings) and ``keep_from`` is the
    index of the first row that must stay buffered (everything before
    it is either consumed by an emitted match or definitively failed
    as an anchor)."""
    out = []
    start = 0
    n = len(recs)
    while start < n:
        m = None
        anchor = start
        for anchor in range(start, n):
            m = _find_match(recs, anchor, spec, ts_col, streaming=True)
            if m is _PENDING:
                return out, anchor
            if m is not None:
                break
        if m is None:
            return out, n  # every remaining anchor failed for good
        end, bindings = m
        out.append((anchor, end, {k: list(v) for k, v in bindings.items()}))
        if spec.after_match == "past_last":
            # see _partition_rows: guard against zero-width stall
            start = max(end, start + 1)
        elif spec.after_match == "to_next":
            start = anchor + 1
        else:
            which, var = spec.after_match
            idxs = bindings.get(var) or []
            if not idxs:
                raise ValueError(
                    f"AFTER MATCH SKIP {which.upper()} {var}: variable "
                    "matched no rows"
                )
            resume = min(idxs) if which == "to_first" else max(idxs)
            if resume <= anchor:
                raise ValueError(
                    f"AFTER MATCH SKIP {which.upper()} {var} does not "
                    "advance the match — infinite loop"
                )
            start = resume
    return out, n


def streaming_match_recognize(
    df: DataFrame,
    sql: str,
    state_payload_version: int = 2,
    state_layout: str = "v2",
) -> DataFrame:
    """Streaming twin of ``match_recognize``: per partition key, rows
    not yet resolvable stay in group state (pickled buffer) and
    matches emit as soon as their outcome is decided — a greedy loop
    finalizes only when a buffered row (or an expired WITHIN horizon)
    definitively ends it, exactly Flink's behavior of discarding the
    partial at end-of-stream rather than emitting early (golden
    ``TableSQLFunc2.scala:75-84``). ALL ROWS PER MATCH is supported
    (beyond the reference's own ONE-ROW usage): the per-row RUNNING
    rows of a match are final by the time the match is decided, and
    MATCH_NUMBER() continuity persists in the state tuple.

    Assumes micro-batches arrive in event-time order per key (true
    for the file-replay sources and ``availableNow``) — the same
    contract as ``streaming/cep_stream.consecutive_pattern_stream``;
    out-of-order feeds need the watermark-sorted buffer variant.
    Without WITHIN, a pattern that never resolves buffers its key's
    rows indefinitely (as does Flink's NFA state) — give long-running
    patterns a WITHIN horizon.

    Checkpoint compatibility: the state-store schema is the single
    field ``(buf: binary)`` — the ORIGINAL layout — and everything
    else (currently the MATCH_NUMBER() continuity counter) rides
    INSIDE the pickled payload under a version tag, because Spark
    validates the state-store STRUCT schema at restore and any
    field-list change bricks existing checkpoints. Restore accepts
    both payload generations: a bare pickled row list (the v1 layout,
    MATCH_NUMBER resumes from 0 — v1 never persisted it) and the
    tagged ``("mr2", rows, match_no)`` tuple. Future state additions
    extend the tagged tuple, never the struct, so checkpoints stay
    restorable across upgrades — the tolerant analogue of Flink's
    savepoint migration (which fails restore on incompatible operator
    state). The short-lived two-FIELD ``(buf, match_no)`` layout
    (round 7 only) predates this rule, and Spark's state-schema
    compatibility check rejects any FIELD-LIST change at restore — so
    an r7 checkpoint cannot ride the single-field struct at all.
    ``state_layout="r7"`` declares the matching two-field struct and
    keeps writing it (a checkpoint's struct schema is fixed for its
    lifetime): the pickled buffer reads/writes positionally from
    field 0 and MATCH_NUMBER() continuity uses field 1, so r7
    checkpoints restore losslessly — see MIGRATING.md.

    ``state_payload_version=1`` makes the WRITE side emit the bare v1
    row-list payload (reads always tolerate both) — the downgrade path
    when an older engine must be able to take over the checkpoint; v1
    never persisted MATCH_NUMBER, so numbering restarts at 1 after a
    handover, exactly as v1 behaved.
    """
    import pickle

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import BinaryType, StructField, StructType

    if state_payload_version not in (1, 2):
        raise ValueError(
            f"state_payload_version must be 1 or 2, got {state_payload_version}"
        )
    if state_layout not in ("v2", "r7"):
        raise ValueError(f"state_layout must be 'v2' or 'r7', got {state_layout}")
    spec = parse_match_recognize(sql)
    schema_map = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    if spec.all_rows:
        # ALL ROWS PER MATCH streams cleanly from keyed state because a
        # match only EMITS once its outcome is decided — at that point
        # every consumed row and its RUNNING prefix are final, so the
        # per-row rows go out exactly once (no re-emission on buffer
        # growth). MATCH_NUMBER() continuity across micro-batches rides
        # in the state tuple.
        out_fields = [
            (f.name, f.dataType.simpleString()) for f in df.schema.fields
        ]
    else:
        out_fields = [(c, schema_map[c]) for c in spec.partition_by]
    for ast, alias in spec.measures:
        t = _infer_type(ast, schema_map)
        out_fields.append((alias, "bigint" if t in _INT_TYPES else t))
    out_schema = ", ".join(f"{n} {t}" for n, t in out_fields)
    out_columns = [n for n, _ in out_fields]
    ts_col = spec.order_by[0] if spec.order_by else None
    order = spec.order_by or ([ts_col] if ts_col else [])
    part_cols = list(spec.partition_by)
    if state_layout == "r7":
        from pyspark.sql.types import LongType

        state_schema = StructType(
            [StructField("buf", BinaryType()), StructField("match_no", LongType())]
        )
    else:
        state_schema = StructType([StructField("buf", BinaryType())])

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            if state_layout == "r7":
                # round-7 two-field layout: positional read — buffer in
                # field 0, MATCH_NUMBER counter in field 1
                raw, mno_field = state.get
                payload = pickle.loads(raw)
                mno_field = int(mno_field) if mno_field is not None else 0
            else:
                (raw,) = state.get
                payload = pickle.loads(raw)
                mno_field = 0
            if isinstance(payload, tuple) and payload and payload[0] == "mr2":
                _tag, buf, match_no = payload
            elif isinstance(payload, list):
                # v1 payload: bare row list; MATCH_NUMBER comes from the
                # r7 struct field when present, else restarts at 0
                buf, match_no = payload, mno_field
            else:
                raise ValueError(
                    "unrecognized match_recognize state payload "
                    f"(type {type(payload).__name__}); cannot restore"
                )
        else:
            buf, match_no = [], 0
        new = [pdf for pdf in pdfs if len(pdf)]
        if new:
            batch = pd.concat(new, ignore_index=True).sort_values(
                order, kind="stable"
            )
            buf.extend(batch.to_dict("records"))
        matches, keep_from = _run_stream_increment(buf, spec, ts_col)
        rows_out = []
        for _anchor, _end, bindings in matches:
            match_no += 1
            if spec.all_rows:
                _emit_all_rows(buf, bindings, spec, match_no, rows_out)
                continue
            ctx = _Ctx(
                buf,
                bindings,
                sorted(i for b in bindings.values() for i in b),
                match_no=match_no,
            )
            rec = dict(zip(part_cols, key))
            for ast, alias in spec.measures:
                rec[alias] = _eval(ast, ctx)
            rows_out.append(rec)
        if state_layout == "r7":
            # keep the checkpoint's two-field shape: bare-list payload,
            # counter in its own field — byte-compatible with what the
            # round-7 engine wrote
            state.update((pickle.dumps(buf[keep_from:]), match_no))
        elif state_payload_version == 1:
            state.update((pickle.dumps(buf[keep_from:]),))
        else:
            state.update((pickle.dumps(("mr2", buf[keep_from:], match_no)),))
        if rows_out:
            yield pd.DataFrame(rows_out, columns=out_columns)
        else:
            yield pd.DataFrame(columns=out_columns)

    return df.groupBy(*part_cols).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def match_recognize_state_summary(
    spark,
    checkpoint_dir: str,
    operator_id: int = 0,
    batch_id: int | None = None,
) -> DataFrame:
    """Operational introspection of a ``streaming_match_recognize``
    checkpoint (pairs with ``streaming/state_query.py``): one row per
    partition key with ``buffered_rows`` (events held for undecided
    partial matches — the state-size signal an on-call watches) and
    ``match_no`` (last MATCH_NUMBER emitted). Decodes the version-
    tagged payload; bare v1 row-list payloads read as
    ``match_no = 0``, matching their restore semantics. Arrow-batched
    ``mapInPandas`` over the state reader — one task per state
    partition, nothing on the driver."""
    import pickle

    import pandas as pd

    from ..streaming.state_query import read_keyed_state

    raw = read_keyed_state(
        spark, checkpoint_dir, operator_id=operator_id, batch_id=batch_id
    )
    if "buf" not in raw.columns and "groupState" in raw.columns:
        # applyInPandasWithState user state nests one level deeper
        # (value.groupState.<fields>) than built-in aggregates
        others = [c for c in raw.columns if c != "groupState"]
        raw = raw.select(*others, "groupState.*")
    key_cols = [c for c in raw.columns if c != "buf"]
    out_schema = ", ".join(
        f"`{c}` {raw.schema[c].dataType.simpleString()}" for c in key_cols
    )
    out_schema += ", buffered_rows bigint, match_no bigint"
    cols = key_cols + ["buffered_rows", "match_no"]

    def decode(batches):
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                payload = pickle.loads(r["buf"])
                if (
                    isinstance(payload, tuple)
                    and payload
                    and payload[0] == "mr2"
                ):
                    _tag, buf, mno = payload
                elif isinstance(payload, list):
                    buf, mno = payload, 0
                else:
                    raise ValueError(
                        "unrecognized match_recognize state payload "
                        f"(type {type(payload).__name__})"
                    )
                rec = {c: r[c] for c in key_cols}
                rec["buffered_rows"] = len(buf)
                rec["match_no"] = mno
                rows.append(rec)
            yield pd.DataFrame(rows, columns=cols)

    return raw.mapInPandas(decode, out_schema)
