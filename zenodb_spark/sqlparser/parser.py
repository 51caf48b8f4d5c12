"""Recursive-descent parser for the ZenoDB SQL dialect → Query IR.

Grammar reproduced from the reference's parser behavior (vitess fork +
extensions, reference sql/sql.go:208–285 and the giant corpus query in
sql/sql_test.go:48–104):

    SELECT [-- force_fresh] fieldexpr [AS name], ... | *
    FROM table | (subselect)
    [ASOF 'time' [UNTIL 'time']]
    [WHERE dimpredicate]
    [GROUP BY dimexpr [AS name] | *, _, CROSSTAB[T](...), period('d'), stride('d'), ...]
    [HAVING measurepredicate]
    [ORDER BY name [ASC|DESC], ...]
    [LIMIT [offset,] n]

Keywords and identifiers are case-insensitive (lowercased); `--` and `//`
start line comments; backticks quote identifiers; `!=` ≡ `<>`.
"""

from __future__ import annotations

import re

from zenodb_spark.ir import (
    DimCompare,
    DimConst,
    DimExpr,
    DimFunc,
    DimIn,
    DimInSubquery,
    DimIsNull,
    DimLike,
    DimLogical,
    DimNot,
    DimRef,
    GroupDim,
    MAgg,
    MBin,
    MBounded,
    MConst,
    MCrosshift,
    MExpr,
    MFieldRef,
    MIf,
    MLog,
    MPercentile,
    MPresence,
    MShift,
    Query,
    SelectField,
    SetOp,
)
from zenodb_spark.operators.percentile import check_bounds
from zenodb_spark.sqlparser.durations import parse_duration

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<comment>--[^\n]*|//[^\n]*)
  | (?P<number>\d+\.\d+|\.\d+|\d+)
  | (?P<string>'(?:[^']|'')*')
  | (?P<bident>`[^`]+`)
  | (?P<op><>|!=|<=|>=|=|<|>|\+|-|\*|/|\(|\)|,|%)
  | (?P<ident>[A-Za-z_][A-Za-z0-9_.]*)
    """,
    re.VERBOSE,
)

AGG_KINDS = {"SUM", "MIN", "MAX", "COUNT", "AVG", "WAVG", "COUNTDISTINCT"}
KEYWORDS = {
    "SELECT", "FROM", "WHERE", "GROUP", "BY", "HAVING", "ORDER", "LIMIT",
    "AS", "ASOF", "UNTIL", "AND", "OR", "NOT", "LIKE", "IN", "IS", "NULL",
    "ASC", "DESC", "TRUE", "FALSE",
}


class Token:
    def __init__(self, kind: str, text: str):
        self.kind = kind
        self.text = text

    def __repr__(self):
        return f"{self.kind}:{self.text}"


def tokenize(sql: str) -> tuple[list[Token], bool]:
    toks: list[Token] = []
    force_fresh = False
    pos = 0
    while pos < len(sql):
        m = _TOKEN_RE.match(sql, pos)
        if not m:
            raise SyntaxError(f"bad character at {sql[pos:pos+20]!r}")
        pos = m.end()
        kind = m.lastgroup
        text = m.group()
        if kind == "ws":
            continue
        if kind == "comment":
            if "force_fresh" in text or "fresh" in text:
                force_fresh = True
            continue
        if kind == "bident":
            toks.append(Token("ident", text[1:-1].lower()))
        elif kind == "ident":
            toks.append(Token("ident", text.lower()))
        elif kind == "string":
            toks.append(Token("string", text[1:-1].replace("''", "'")))
        else:
            toks.append(Token(kind, text))
    return toks, force_fresh


class Parser:
    def __init__(self, toks: list[Token]):
        self.toks = toks
        self.i = 0

    # -- token helpers ------------------------------------------------------
    def peek(self, ahead: int = 0) -> Token | None:
        j = self.i + ahead
        return self.toks[j] if j < len(self.toks) else None

    def next(self) -> Token:
        t = self.peek()
        if t is None:
            raise SyntaxError("unexpected end of query")
        self.i += 1
        return t

    def accept_kw(self, *kws: str) -> bool:
        t = self.peek()
        if t and t.kind == "ident" and t.text.upper() in kws:
            self.i += 1
            return True
        return False

    def expect_kw(self, kw: str) -> None:
        if not self.accept_kw(kw):
            raise SyntaxError(f"expected {kw} at {self.peek()}")

    def accept_op(self, op: str) -> bool:
        t = self.peek()
        if t and t.kind == "op" and t.text == op:
            self.i += 1
            return True
        return False

    def expect_op(self, op: str) -> None:
        if not self.accept_op(op):
            raise SyntaxError(f"expected {op!r} at {self.peek()}")

    def at_kw(self, *kws: str) -> bool:
        t = self.peek()
        return bool(t and t.kind == "ident" and t.text.upper() in kws)

    # -- entry --------------------------------------------------------------
    def parse_set_expr(self) -> "Query | SetOp":
        """UNION/EXCEPT chain over INTERSECT chains (ANSI precedence:
        INTERSECT binds tighter), each optionally ALL. Set ops are an
        extension beyond the reference (SURVEY §2.6: none there; free in
        Spark)."""
        left = self.parse_intersect_expr()
        while self.at_kw("UNION", "EXCEPT"):
            op = self.next().text  # union | except
            if self.accept_kw("ALL"):
                op += "_all"
            left = SetOp(op, left, self.parse_intersect_expr())
        if isinstance(left, SetOp):
            # ANSI: a trailing ORDER BY / LIMIT orders the COMBINED result,
            # not the final operand (where a pre-union sort would be lost
            # anyway) — lift it from the last operand onto the chain
            last = left.right
            while isinstance(last, SetOp):
                last = last.right
            left.order_by, last.order_by = last.order_by, []
            left.offset, last.offset = last.offset, None
            left.limit, last.limit = last.limit, None
        return left

    def parse_intersect_expr(self) -> "Query | SetOp":
        left = self.parse_query()
        while self.at_kw("INTERSECT"):
            self.next()
            op = "intersect_all" if self.accept_kw("ALL") else "intersect"
            left = SetOp(op, left, self.parse_query())
        return left

    def parse_query(self) -> Query:
        q = Query()
        self.expect_kw("SELECT")
        if self.accept_op("*"):
            q.select_star = True
            if self.accept_op(","):
                pass
        while not self.at_kw("FROM"):
            if self.accept_op("*"):
                q.select_star = True
            else:
                expr = self.parse_mexpr()
                name = None
                if self.accept_kw("AS"):
                    name = self.next().text
                elif isinstance(expr, MFieldRef):
                    name = expr.name
                if name is None:
                    if isinstance(expr, MCrosshift) and isinstance(expr.inner, MFieldRef):
                        name = expr.inner.name
                    else:
                        raise SyntaxError("every field expression needs a name (AS …)")
                q.fields.append(SelectField(name, expr))
            if not self.accept_op(","):
                break
        self.expect_kw("FROM")
        if self.accept_op("("):
            start = self.i
            q.from_subquery = self.parse_query()
            q.from_sql = None
            self.expect_op(")")
        else:
            q.from_table = self.next().text
        if self.accept_kw("ASOF"):
            q.asof = self.next().text
            if self.accept_kw("UNTIL"):
                q.until = self.next().text
        if self.accept_kw("WHERE"):
            q.where = self.parse_dim_or()
        if self.accept_kw("GROUP"):
            self.expect_kw("BY")
            self.parse_group_by(q)
        else:
            q.group_by_all = True
        if self.accept_kw("HAVING"):
            q.having = self.parse_mexpr()
        if self.accept_kw("ORDER"):
            self.expect_kw("BY")
            while True:
                name = self.next().text
                desc = False
                if self.accept_kw("DESC"):
                    desc = True
                else:
                    self.accept_kw("ASC")
                q.order_by.append((name, desc))
                if not self.accept_op(","):
                    break
        if self.accept_kw("LIMIT"):
            a = int(self.next().text)
            if self.accept_op(","):
                q.offset = a
                q.limit = int(self.next().text)
            else:
                q.limit = a
        return q

    # -- group by -----------------------------------------------------------
    def parse_group_by(self, q: Query) -> None:
        any_dim = False
        while True:
            if self.accept_op("*"):
                q.group_by_all = True
            elif self.at_kw("PERIOD") and self.peek(1) and self.peek(1).text == "(":
                self.next()
                self.expect_op("(")
                q.resolution = self._duration_arg()
                self.expect_op(")")
            elif self.at_kw("STRIDE") and self.peek(1) and self.peek(1).text == "(":
                self.next()
                self.expect_op("(")
                q.stride = self._duration_arg()
                self.expect_op(")")
            elif self.at_kw("CROSSTAB", "CROSSTABT"):
                t = self.next()
                q.crosstab_totals = t.text.upper() == "CROSSTABT"
                self.expect_op("(")
                while True:
                    q.crosstab.append(self.parse_dim_primary())
                    if not self.accept_op(","):
                        break
                self.expect_op(")")
            else:
                t = self.peek()
                if t and t.kind == "ident" and t.text == "_":
                    self.next()
                    q.group_by_none = True
                    any_dim = True
                else:
                    expr = self.parse_dim_primary()
                    name = None
                    if self.accept_kw("AS"):
                        name = self.next().text
                    elif isinstance(expr, DimRef):
                        name = expr.name
                    if name is None:
                        raise SyntaxError("group-by expression needs AS name")
                    q.group_by.append(GroupDim(name, expr))
                    any_dim = True
            if not self.accept_op(","):
                break
        if not any_dim and not q.group_by_all and not q.crosstab:
            # only period()/stride() given → group by all dims (reference default)
            q.group_by_all = True

    def _duration_arg(self) -> float:
        t = self.next()
        if t.kind not in ("string", "number"):
            raise SyntaxError(f"expected duration, got {t}")
        return parse_duration(t.text) if t.kind == "string" else float(t.text)

    # -- measure expressions -------------------------------------------------
    def parse_mexpr(self) -> MExpr:
        return self.parse_m_or()

    def parse_m_or(self) -> MExpr:
        left = self.parse_m_and()
        while self.accept_kw("OR"):
            left = MBin("OR", left, self.parse_m_and())
        return left

    def parse_m_and(self) -> MExpr:
        left = self.parse_m_cmp()
        while self.accept_kw("AND"):
            left = MBin("AND", left, self.parse_m_cmp())
        return left

    def parse_m_cmp(self) -> MExpr:
        left = self.parse_m_add()
        t = self.peek()
        if t and t.kind == "op" and t.text in ("<", "<=", ">", ">=", "=", "<>", "!="):
            self.next()
            op = "<>" if t.text == "!=" else t.text
            return MBin(op, left, self.parse_m_add())
        return left

    def parse_m_add(self) -> MExpr:
        left = self.parse_m_mul()
        while True:
            if self.accept_op("+"):
                left = MBin("+", left, self.parse_m_mul())
            elif self.accept_op("-"):
                left = MBin("-", left, self.parse_m_mul())
            else:
                return left

    def parse_m_mul(self) -> MExpr:
        left = self.parse_m_primary()
        while True:
            if self.accept_op("*"):
                left = MBin("*", left, self.parse_m_primary())
            elif self.accept_op("/"):
                left = MBin("/", left, self.parse_m_primary())
            else:
                return left

    def parse_m_primary(self) -> MExpr:
        if self.accept_op("("):
            e = self.parse_mexpr()
            self.expect_op(")")
            return e
        if self.accept_op("-"):
            inner = self.parse_m_primary()
            return MBin("*", MConst(-1.0), inner)
        t = self.next()
        if t.kind == "number":
            return MConst(float(t.text))
        if t.kind != "ident":
            raise SyntaxError(f"unexpected {t} in field expression")
        name = t.text
        upper = name.upper()
        if self.peek() and self.peek().text == "(" and self.peek().kind == "op":
            self.expect_op("(")
            return self._parse_m_call(upper)
        if name == "_":
            return MPresence()
        return MFieldRef(name)

    def _parse_m_call(self, fn: str) -> MExpr:
        if fn in AGG_KINDS:
            arg = self.parse_mexpr()
            weight = None
            if fn == "WAVG":
                self.expect_op(",")
                weight = self.parse_mexpr()
            elif fn == "COUNTDISTINCT" and self.peek() and self.peek().text == ",":
                # COUNTDISTINCT(x, k): approximate KMV-sketch state with
                # parameter k (bounded O(k) state per group; exact below k
                # distinct members). The bare 1-arg form stays the exact
                # dsetv2 set state.
                self.expect_op(",")
                weight = self.parse_mexpr()
                if not isinstance(weight, MConst) or weight.value < 2 or weight.value != int(weight.value):
                    raise SyntaxError(
                        "COUNTDISTINCT(x, k): k must be an integer literal >= 2"
                    )
            self.expect_op(")")
            return MAgg(fn, arg, weight)
        if fn == "IF":
            cond = self.parse_dim_or()
            self.expect_op(",")
            if self.peek() and self.peek().kind == "ident" and self.peek().text == "_":
                self.next()
                inner: MExpr = MPresence()
            else:
                inner = self.parse_mexpr()
            self.expect_op(")")
            return MIf(cond, inner)
        if fn == "BOUNDED":
            inner = self.parse_mexpr()
            self.expect_op(",")
            lo = self._number()
            self.expect_op(",")
            hi = self._number()
            self.expect_op(")")
            return MBounded(inner, lo, hi)
        if fn == "PERCENTILE":
            inner = self.parse_mexpr()
            self.expect_op(",")
            p = self._number()
            if self.accept_op(")"):
                return MPercentile(inner, p)
            self.expect_op(",")
            lo = self._number()
            self.expect_op(",")
            hi = self._number()
            self.expect_op(",")
            prec = int(self._number())
            self.expect_op(")")
            check_bounds(lo, hi)
            return MPercentile(inner, p, lo, hi, prec)
        if fn == "SHIFT":
            inner = self.parse_mexpr()
            self.expect_op(",")
            dur = self.next()
            self.expect_op(")")
            return MShift(inner, parse_duration(dur.text))
        if fn == "CROSSHIFT":
            inner = self.parse_mexpr()
            self.expect_op(",")
            cutoff = self.next()
            self.expect_op(",")
            interval = self.next()
            self.expect_op(")")
            return MCrosshift(
                inner, abs(parse_duration(cutoff.text)), parse_duration(interval.text)
            )
        if fn in ("LN", "LOG2", "LOG10"):
            inner = self.parse_mexpr()
            self.expect_op(")")
            return MLog(fn, inner)
        raise SyntaxError(f"unknown field function {fn}")

    def _number(self) -> float:
        neg = self.accept_op("-")
        t = self.next()
        if t.kind != "number":
            raise SyntaxError(f"expected number, got {t}")
        v = float(t.text)
        return -v if neg else v

    # -- dimension expressions ----------------------------------------------
    def parse_dim_or(self) -> DimExpr:
        left = self.parse_dim_and()
        while self.accept_kw("OR"):
            left = DimLogical("OR", left, self.parse_dim_and())
        return left

    def parse_dim_and(self) -> DimExpr:
        left = self.parse_dim_unary()
        while self.accept_kw("AND"):
            left = DimLogical("AND", left, self.parse_dim_unary())
        return left

    def parse_dim_unary(self) -> DimExpr:
        if self.accept_kw("NOT"):
            return DimNot(self.parse_dim_unary())
        if self.peek() and self.peek().kind == "op" and self.peek().text == "(":
            # lookahead: parenthesized boolean vs value expression — try boolean
            save = self.i
            self.next()
            try:
                inner = self.parse_dim_or()
                self.expect_op(")")
                return inner
            except SyntaxError:
                self.i = save
        return self.parse_dim_predicate()

    def parse_dim_predicate(self) -> DimExpr:
        left = self.parse_dim_primary()
        if self.accept_kw("IS"):
            negated = self.accept_kw("NOT")
            self.expect_kw("NULL")
            return DimIsNull(left, negated)
        if self.accept_kw("NOT"):
            self.expect_kw("LIKE")
            pat = self.next().text
            return DimLike(left, pat, True)
        if self.accept_kw("LIKE"):
            pat = self.next().text
            return DimLike(left, pat, False)
        if self.accept_kw("IN"):
            self.expect_op("(")
            if self.at_kw("SELECT"):
                sub = self.parse_query()
                self.expect_op(")")
                return DimInSubquery(left, sub)
            vals = []
            while True:
                vals.append(self._dim_const())
                if not self.accept_op(","):
                    break
            self.expect_op(")")
            return DimIn(left, tuple(vals))
        t = self.peek()
        if t and t.kind == "op" and t.text in ("=", "<>", "!=", "<", "<=", ">", ">="):
            self.next()
            op = "<>" if t.text == "!=" else t.text
            right = self.parse_dim_primary()
            return DimCompare(op, left, right)
        return left

    def _dim_const(self):
        t = self.next()
        if t.kind == "string":
            return t.text
        if t.kind == "number":
            return float(t.text) if "." in t.text else int(t.text)
        if t.kind == "ident" and t.text in ("true", "false"):
            return t.text == "true"
        raise SyntaxError(f"expected constant, got {t}")

    def parse_dim_primary(self) -> DimExpr:
        if self.accept_op("("):
            inner = self.parse_dim_or()
            self.expect_op(")")
            return inner
        t = self.next()
        if t.kind == "string":
            return DimConst(t.text)
        if t.kind == "number":
            return DimConst(float(t.text) if "." in t.text else int(t.text))
        if t.kind == "op" and t.text == "-":
            n = self.next()
            return DimConst(-(float(n.text) if "." in n.text else int(n.text)))
        if t.kind != "ident":
            raise SyntaxError(f"unexpected {t} in dim expression")
        name = t.text
        if name in ("true", "false"):
            return DimConst(name == "true")
        if name == "null":
            return DimConst(None)
        if self.peek() and self.peek().kind == "op" and self.peek().text == "(":
            self.expect_op("(")
            fn = name.upper()
            # P-prefix = cluster pushdown marker: strip (reference sql/sql.go:1095–1106)
            if len(fn) > 1 and fn.startswith("P") and fn[1:] in (
                "CONCAT", "SPLIT", "SUBSTR", "REPLACEALL", "LEN", "ANY", "ARRAY",
                "DECODE", "ISP", "ORG", "ASN", "ASNAME", "CITY", "REGION",
                "REGION_CITY", "COUNTRY_CODE", "LUA",
            ):
                fn = fn[1:]
            args = []
            if not self.accept_op(")"):
                while True:
                    args.append(self.parse_dim_primary())
                    if not self.accept_op(","):
                        break
                self.expect_op(")")
            return DimFunc(fn, tuple(args))
        return DimRef(name)


# --------------------------------------------------------------------------
# alias macros (reference sql/sql.go:135–139, zenodb.go:351–373: a props
# file of templates like `IS_SUCCESS = %v = 200`, spliced before parsing)
# --------------------------------------------------------------------------

_ALIASES: dict[str, str] = {}


def register_alias(name: str, template: str) -> None:
    """Register a macro template; %v placeholders are substituted
    positionally with the call's arguments at parse time."""
    _ALIASES[name.lower()] = template


def load_aliases(props_text: str) -> None:
    """Load a reference-style aliases props file (`NAME = template` lines)."""
    for line in props_text.splitlines():
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        name, _, template = line.partition("=")
        if template:
            register_alias(name.strip(), template.strip())


def _expand_aliases(sql: str) -> str:
    """Splice macro calls NAME(arg, …) textually (like the reference does
    before handing the SQL to the parser). Handles nested parens in args."""
    if not _ALIASES:
        return sql
    out = sql
    changed = True
    guard = 0
    while changed and guard < 20:
        changed = False
        guard += 1
        lower = out.lower()
        for name, template in _ALIASES.items():
            start = 0
            while True:
                i = lower.find(name + "(", start)
                if i < 0:
                    break
                if i > 0 and (lower[i - 1].isalnum() or lower[i - 1] == "_"):
                    start = i + 1
                    continue
                j = i + len(name) + 1
                depth = 1
                args: list[str] = []
                cur = ""
                while j < len(out) and depth > 0:
                    ch = out[j]
                    if ch == "(":
                        depth += 1
                        cur += ch
                    elif ch == ")":
                        depth -= 1
                        if depth > 0:
                            cur += ch
                    elif ch == "," and depth == 1:
                        args.append(cur.strip())
                        cur = ""
                    else:
                        cur += ch
                    j += 1
                if cur.strip():
                    args.append(cur.strip())
                expansion = template
                for a in args:
                    expansion = expansion.replace("%v", a, 1)
                out = out[:i] + "(" + expansion + ")" + out[j:]
                lower = out.lower()
                changed = True
                start = i + 1
        if changed:
            continue
    return out


def parse(sql: str) -> Query:
    sql = _expand_aliases(sql)
    return _parse_expanded(sql)


def _parse_expanded(sql: str) -> Query | SetOp:
    toks, force_fresh = tokenize(sql)
    p = Parser(toks)
    q = p.parse_set_expr()
    q.force_fresh = force_fresh
    if p.peek() is not None:
        raise SyntaxError(f"trailing tokens at {p.peek()}")
    return q
