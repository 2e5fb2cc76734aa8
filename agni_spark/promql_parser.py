"""A PromQL expression parser/compiler (beyond reference: agni has no
query language at all — upstream Prometheus parses PromQL and sends
matchers over remote read, SURVEY §0. This module makes the engine
self-serve for the common expression shapes).

Supported grammar (the workhorse subset):

    expr      := binary expression over terms/NUM with PromQL
                 precedence (tightest to loosest, all left-assoc):
                   * /        arithmetic (mul/div)
                   + -        arithmetic (add/sub)
                   > < >= <=  comparison (FILTERS the left vector)
                   and unless set intersection / complement
                   or         set union
                 NUM may stand on either side of an arithmetic or
                 comparison operator (scalar broadcast); scalar-scalar
                 expressions are rejected. Any vector-vector operator
                 may carry matching modifiers:
                   OP "bool"? ("on" | "ignoring")
                      "(" name ("," name)* ")"
                      ("group_left" | "group_right")?
                 on() restricts the match keys to the listed labels,
                 ignoring() removes them, group_left/group_right allow
                 many-to-one matching with the MANY side's labels
                 carried through; `bool` turns a comparison into a
                 0/1-valued vector instead of a filter.
    term      := agg | func | math | labelfn | selector | NUM
               | "(" expr ")"
    agg       := AGGOP grouping? "(" expr ")"
               | ("topk" | "bottomk") grouping? "(" INT "," expr ")"
               | "limitk" "(" INT "," expr ")"
               | "limit_ratio" "(" NUM "," expr ")"   (deterministic:
                 k smallest series_ids / md5-hash gate — never rand())
               | "quantile" grouping? "(" NUM "," expr ")"
               | "count_values" grouping? "(" STRING "," expr ")"
    AGGOP     := "sum" | "avg" | "min" | "max" | "count" | "stddev"
               | "stdvar" | "group"
    grouping  := ("by" | "without") "(" name ("," name)* ")"
    func      := FUNC "(" selector range offset? ")"
               | "quantile_over_time" "(" NUM "," selector range ")"
               | "predict_linear" "(" selector range "," NUM ")"
               | "holt_winters" "(" selector range "," NUM "," NUM ")"
               | AGGOT "(" expr "[" DUR ":" DUR "]" ")"   (subquery:
                 inner expr at step resolution, outer over_time over
                 range-wide windows; range must be a multiple of step,
                 step must equal the inner bucket granularity)
    AGGOT     := {avg,sum,min,max,count}_over_time
    FUNC      := rate | rate_extrapolated | increase | irate | delta
               | resets | changes | deriv | last_over_time
               | present_over_time | absent_over_time (needs bounds)
               | {avg,sum,min,max,count,stddev,stdvar}_over_time
    math      := MATHFN "(" expr ("," NUM ("," NUM)?)? ")"
    MATHFN    := abs | ceil | floor | round | exp | ln | log2 | log10
               | sqrt | sgn | clamp_min | clamp_max | clamp
               | sin | cos | tan | asin | acos | atan
               | sinh | cosh | tanh | deg | rad      ("pi" "(" ")" is
                 a NUM literal)
               | sort | sort_desc | timestamp
               | hour | minute | day_of_week    (values as epoch secs)
    histq     := "histogram_quantile" "(" NUM ","
                 ("sum" grouping)? "(" ("rate"|"increase")
                 "(" selector ")" ")" ")"
                 The selector metric must end in `_bucket` and resolves
                 as a VIRTUAL bucket metric over the base metric's raw
                 observations (grouping must include `le` when `by`);
                 see HistQuant.
    scaffold  := "time" "(" ")"        (scalar: eval time in seconds —
                 valid only against a vector operand in a binop)
               | "scalar" "(" expr ")" (per-timestep value of a one-
                 element vector; != 1 elements -> NULL)
               | "vector" "(" NUM ")"  (constant one-element vector at
                 the query's evaluation time)
    labelfn   := "label_replace" "(" expr "," STRING{4} ")"
               | "label_join" "(" expr "," STRING{2,} ")"
    selector  := metric? ("{" matcher ("," matcher)* "}")?
                 range? offset? at?
    matcher   := name OP STRING      OP: = != =~ !~
    range     := "[" INT UNIT "]"    offset := "offset" INT UNIT
    at        := "@" (NUM | "start" "(" ")" | "end" "(" ")")
                                     (fixed eval time, epoch seconds:
                 instant -> latest lookback sample per series at that
                 time; range -> data window pinned to (at-range, at])
    UNIT      := s m h d

Compilation: selector -> Querier.select (matchers incl. the metric as
__name__); func(range) -> the promql module's bucketed op with
bucket_ms = range; agg -> broadcast-join the series dim + groupBy.
Everything lands on operators that are themselves oracle-checked.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from agni_spark.functions import promql
from agni_spark.matchers import Matcher
from agni_spark.querier import Querier

_TOKEN = re.compile(
    r"\s*(?:(?P<num>\d+\.\d+|\d+)|(?P<id>[A-Za-z_:][A-Za-z0-9_:]*)"
    r'|(?P<str>"(?:[^"\\]|\\.)*")'
    r"|(?P<op>=~|!~|!=|>=|<=|>|<|=|\{|\}|\(|\)|\[|\]|,|/|\*|\+|-|:|@))"
)
_UNIT_MS = {"s": 1_000, "m": 60_000, "h": 3_600_000, "d": 86_400_000}
_LOOKBACK_MS = 5 * 60_000  # instant-vector lookback delta (Prometheus default)
_AGG_OPS = {"sum", "avg", "min", "max", "count", "stddev", "stdvar", "group"}
_RANGE_FUNCS = {
    "rate", "rate_extrapolated", "increase", "irate", "idelta",
    "delta", "resets",
    "changes", "deriv", "avg_over_time", "sum_over_time", "min_over_time",
    "max_over_time", "count_over_time", "last_over_time",
    "stddev_over_time", "stdvar_over_time", "present_over_time",
    "absent_over_time",
}
_MATH_FUNCS = {
    "abs", "clamp_min", "clamp_max", "clamp", "ceil", "floor", "round",
    "exp", "ln", "log2", "log10", "sqrt", "sgn", "sort", "sort_desc",
    "timestamp", "hour", "minute", "day_of_week",
    # trigonometric family (Prometheus 2.31 experimental, now standard)
    "sin", "cos", "tan", "asin", "acos", "atan",
    "sinh", "cosh", "tanh", "deg", "rad",
}
# funcs that take no scalar argument after the expression
_MATH_NO_SCALAR = {
    "abs", "ceil", "floor", "exp", "ln", "log2", "log10", "sqrt", "sgn",
    "sort", "sort_desc", "timestamp", "hour", "minute", "day_of_week",
    "sin", "cos", "tan", "asin", "acos", "atan",
    "sinh", "cosh", "tanh", "deg", "rad",
}
# range funcs with a leading scalar arg: f(s, m[r])
_SCALAR_FIRST_FUNCS = {"quantile_over_time"}
# range funcs with trailing scalar arg(s): f(m[r], s[, s2])
_SCALAR_AFTER_FUNCS = {
    "predict_linear": 1,
    "holt_winters": 2,
    # Prometheus 3.0 rename of holt_winters (same recurrence)
    "double_exponential_smoothing": 2,
}
_LABEL_FUNCS = {
    "label_replace", "label_join",
    # Prometheus 3.0 experimental: presentation sort by label values;
    # compiled with an explicit `ord` rank so the ordering is a
    # CHECKABLE output, not just row order
    "sort_by_label", "sort_by_label_desc",
}


@dataclass
class _Tokens:
    items: list[str]
    pos: int = 0

    def peek(self) -> str | None:
        return self.items[self.pos] if self.pos < len(self.items) else None

    def next(self) -> str:
        t = self.peek()
        if t is None:
            raise ValueError("unexpected end of expression")
        self.pos += 1
        return t

    def expect(self, tok: str) -> None:
        t = self.next()
        if t != tok:
            raise ValueError(f"expected {tok!r}, got {t!r}")


def _tokenize(text: str) -> _Tokens:
    out, pos = [], 0
    while pos < len(text):
        m = _TOKEN.match(text, pos)
        if not m or m.end() == pos:
            if text[pos:].strip():
                raise ValueError(f"bad token at: {text[pos:]!r}")
            break
        pos = m.end()
        out.append(m.group().strip())
    return _Tokens(out)


@dataclass
class Selector:
    metric: str | None
    matchers: list[Matcher] = field(default_factory=list)
    range_ms: int | None = None
    offset_ms: int = 0
    # @ modifier: fixed evaluation time (epoch ms), or the sentinel
    # "start"/"end" (@ start()/@ end() — resolved to the query bounds)
    at_ms: int | str | None = None


@dataclass
class Func:
    name: str
    arg: Selector
    # scalar parameters: quantile_over_time(q, m[r]) carries q;
    # predict_linear(m[r], t) carries t; holt_winters(m[r], sf, tf)
    # carries both
    scalar: float | None = None
    scalar2: float | None = None


@dataclass
class LabelFunc:
    """label_replace(v, dst, repl, src, regex) / label_join(v, dst,
    sep, src...): label-manipulation functions — pure projections over
    the resolved label columns."""

    name: str  # label_replace | label_join
    arg: "Agg | Func | Selector | BinOp"
    params: tuple  # string arguments in PromQL order


@dataclass
class Subquery:
    """<agg>_over_time(expr[range:step]) — PromQL subquery: the inner
    expression evaluates at `step` resolution, the outer over_time
    aggregates `range`-wide windows of those results. In the bucketed
    model the inner's bucket granularity IS the step, so the outer op
    is a plain re-bucketing groupBy."""

    op: str  # avg|sum|min|max|count (the <agg>_over_time family)
    inner: "Agg | Func | Selector | BinOp | MathFunc"
    range_ms: int
    step_ms: int


@dataclass
class Agg:
    op: str
    mode: str | None  # 'by' | 'without' | None
    labels: list[str]
    arg: "Agg | Func | Selector"
    k: int | None = None  # topk / bottomk
    q: float | None = None  # quantile
    vlabel: str | None = None  # count_values' output label name


@dataclass
class HistQuant:
    """histogram_quantile(q, sum by (L..., le) (rate(M_bucket[r]))).

    The store keeps RAW observations, not pre-bucketed cumulative
    counters, so `M_bucket` resolves as a VIRTUAL metric over base
    metric M: `increase(M_bucket{le}[r])` — the per-window growth of a
    cumulative `le` bucket counter — is by definition the number of
    raw observations <= le inside the window, which is exactly what a
    conditional count over M's samples computes (and `rate` is that
    divided by the window, which cancels out of the quantile's rank
    arithmetic — both compile identically). This is strictly MORE
    accurate than Prometheus reading pre-aggregated buckets.
    """

    q: float
    mode: str | None  # 'by' | 'without' | None (grouping incl. 'le')
    labels: tuple  # grouping labels as written (le removed at compile)
    func: "Func"  # the inner range func; .arg.metric ends in _bucket


@dataclass
class TimeFn:
    """time() — the evaluation timestamp in seconds. Scalar-valued:
    only meaningful against a vector operand in a binary expression,
    where it resolves to the vector's own time column."""


@dataclass
class ScalarFn:
    """scalar(v) — the value of a one-element vector as a per-timestep
    scalar. Groups the compiled inner vector by its time column; a
    timestep with != 1 elements yields NULL (the engine's stand-in for
    Prometheus's NaN)."""

    arg: "Agg | Func | Selector | BinOp"


@dataclass
class VectorFn:
    """vector(s) — a constant one-element vector with no labels,
    reported at the query's evaluation time (maxt_ms)."""

    s: float


@dataclass
class MathFunc:
    name: str  # abs | ceil | floor | round | exp | ln | log2 | log10
    #          | sqrt | sgn | clamp_min | clamp_max | clamp
    arg: "Agg | Func | Selector | BinOp | MathFunc"
    scalar: float | None = None
    scalar2: float | None = None  # clamp(v, min, max) upper bound


@dataclass
class BinOp:
    op: str  # / * + - > < >= <= and unless or
    left: "Agg | Func | Selector | BinOp | float"
    right: "Agg | Func | Selector | BinOp | float"
    # vector-matching modifiers: `on(...)` restricts the join keys to
    # the listed labels, `ignoring(...)` removes them from the key set,
    # `group_left` allows many-to-one matching (right unique per key)
    match_mode: str | None = None  # 'on' | 'ignoring' | None
    match_labels: tuple = ()
    group_left: bool = False
    group_right: bool = False
    bool_mode: bool = False  # `> bool` etc.: 0/1 value, no filtering
    # group_left(l1, ...) / group_right(l1, ...): labels COPIED from
    # the "one" side onto the result (Prometheus label-carry list)
    carry_labels: tuple = ()


def parse(text: str) -> "Agg | Func | Selector | BinOp":
    toks = _tokenize(text)
    expr = _parse_binop(toks)
    if toks.peek() is not None:
        raise ValueError(f"trailing input: {toks.items[toks.pos:]}")
    if isinstance(expr, (float, TimeFn, ScalarFn)):
        raise ValueError(
            "expression is scalar-valued, not a vector (wrap in vector() "
            "or combine with a vector operand)"
        )
    return expr


_BINOPS = {"/", "*", "+", "-"}
# comparison binops FILTER the left vector (PromQL semantics: keep the
# left sample where the comparison against the matched right sample holds)
_CMPOPS = {">", "<", ">=", "<="}
# set operators: `a and b` keeps left rows whose label key exists in
# the right vector (semi join); `a unless b` is the complement (anti);
# `a or b` is the union (left rows plus unmatched right rows)
_SETOPS = {"and", "unless", "or"}

# PromQL operator precedence (prometheus/promql/parser: * / bind
# tightest, then + -, then comparisons, then and/unless, then or).
# All supported operators are left-associative.
_PREC = {
    "or": 0,
    "and": 1, "unless": 1,
    ">": 2, "<": 2, ">=": 2, "<=": 2,
    "+": 3, "-": 3,
    "*": 4, "/": 4,
}

_NUM_RE = re.compile(r"\d+\.\d+|\d+")


def _parse_binop(
    toks: _Tokens, min_prec: int = 0
) -> "Agg | Func | Selector | BinOp | float":
    left = _parse_operand(toks)
    while True:
        t = toks.peek()
        if t not in _PREC or _PREC[t] < min_prec:
            return left
        op = toks.next()
        mode, labels, gl, gr, bool_mode = None, (), False, False, False
        carry_labels: tuple = ()
        if toks.peek() == "bool":
            if op not in _CMP_FNS:
                raise ValueError("bool modifier only applies to comparisons")
            toks.next()
            bool_mode = True
        if toks.peek() in ("on", "ignoring"):
            mode = toks.next()
            toks.expect("(")
            names = []
            while toks.peek() != ")":
                names.append(toks.next())
                if toks.peek() == ",":
                    toks.next()
            toks.expect(")")
            labels = tuple(names)
            if toks.peek() == "group_left":
                toks.next()
                gl = True
            elif toks.peek() == "group_right":
                toks.next()
                gr = True
            if (gl or gr) and toks.peek() == "(":
                toks.next()
                cl = []
                while toks.peek() != ")":
                    cl.append(toks.next())
                    if toks.peek() == ",":
                        toks.next()
                toks.expect(")")
                carry_labels = tuple(cl)
        right = _parse_binop(toks, _PREC[op] + 1)  # left-assoc
        if op in _SETOPS and (
            isinstance(left, float) or isinstance(right, float)
        ):
            raise ValueError(f"set operator {op!r} requires vector operands")
        if mode is not None and (
            isinstance(left, float) or isinstance(right, float)
        ):
            raise ValueError("vector matching requires vector operands")
        left = BinOp(
            op, left, right, mode, labels, gl, gr, bool_mode, carry_labels
        )


def _parse_operand(toks: _Tokens) -> "Agg | Func | Selector | BinOp | float":
    t = toks.peek()
    if t is not None and _NUM_RE.fullmatch(t):
        return float(toks.next())
    return _parse_expr(toks)


def _parse_expr(toks: _Tokens) -> "Agg | Func | Selector | BinOp":
    t = toks.peek()
    if t == "(":
        toks.next()
        inner = _parse_binop(toks)
        toks.expect(")")
        return inner
    if t in ("limitk", "limit_ratio"):
        op = toks.next()
        toks.expect("(")
        val = toks.next()
        toks.expect(",")
        arg = _parse_expr(toks)
        toks.expect(")")
        return Agg(
            op, None, [], arg,
            k=int(val) if op == "limitk" else None,
            q=float(val) if op == "limit_ratio" else None,
        )
    if t in ("topk", "bottomk"):
        op = toks.next()
        mode, labels = None, []
        if toks.peek() in ("by", "without"):
            mode = toks.next()
            toks.expect("(")
            while toks.peek() != ")":
                labels.append(toks.next())
                if toks.peek() == ",":
                    toks.next()
            toks.expect(")")
        toks.expect("(")
        k = int(toks.next())
        toks.expect(",")
        arg = _parse_expr(toks)
        toks.expect(")")
        return Agg(op, mode, labels, arg, k=k)
    if t == "quantile":
        toks.next()
        mode, labels = None, []
        if toks.peek() in ("by", "without"):
            mode = toks.next()
            toks.expect("(")
            while toks.peek() != ")":
                labels.append(toks.next())
                if toks.peek() == ",":
                    toks.next()
            toks.expect(")")
        toks.expect("(")
        qv = float(toks.next())
        toks.expect(",")
        arg = _parse_expr(toks)
        toks.expect(")")
        return Agg("quantile", mode, labels, arg, q=qv)
    if t in _AGG_OPS or t == "count_values":
        toks.next()
        mode, labels = None, []
        if toks.peek() in ("by", "without"):
            mode = toks.next()
            toks.expect("(")
            while toks.peek() != ")":
                labels.append(toks.next())
                if toks.peek() == ",":
                    toks.next()
            toks.expect(")")
        toks.expect("(")
        vlabel = None
        if t == "count_values":
            s = toks.next()
            if not (s.startswith('"') and s.endswith('"')):
                raise ValueError("count_values needs a quoted label name")
            vlabel = s[1:-1]
            toks.expect(",")
        arg = _parse_expr(toks)
        toks.expect(")")
        return Agg(t, mode, labels, arg, vlabel=vlabel)
    if t in _MATH_FUNCS:
        name = toks.next()
        toks.expect("(")
        arg = _parse_binop(toks)
        scalar = scalar2 = None
        if toks.peek() == ",":
            toks.next()
            scalar = float(toks.next())
        if toks.peek() == ",":
            toks.next()
            scalar2 = float(toks.next())
        toks.expect(")")
        if name in ("clamp_min", "clamp_max") and scalar is None:
            raise ValueError(f"{name}() needs a scalar argument")
        if name == "clamp" and (scalar is None or scalar2 is None):
            raise ValueError("clamp() needs min and max scalars")
        return MathFunc(name, arg, scalar, scalar2)
    if t == "histogram_quantile":
        toks.next()
        toks.expect("(")
        qv = float(toks.next())
        toks.expect(",")
        inner = _parse_expr(toks)
        toks.expect(")")
        mode, labels = None, ()
        if isinstance(inner, Agg):
            if inner.op != "sum" or inner.mode is None:
                raise ValueError(
                    "histogram_quantile inner aggregation must be "
                    "sum by (...)/without (...)"
                )
            if inner.mode == "by" and "le" not in inner.labels:
                raise ValueError(
                    "histogram_quantile needs 'le' in the by() grouping"
                )
            mode, labels = inner.mode, tuple(inner.labels)
            inner = inner.arg
        if not (
            isinstance(inner, Func)
            and inner.name in ("rate", "increase")
            and isinstance(inner.arg, Selector)
        ):
            raise ValueError(
                "histogram_quantile needs rate()/increase() over a "
                "_bucket range selector"
            )
        if not (inner.arg.metric or "").endswith("_bucket"):
            raise ValueError(
                "histogram_quantile selector metric must end in _bucket"
            )
        return HistQuant(qv, mode, labels, inner)
    if t == "time":
        toks.next()
        toks.expect("(")
        toks.expect(")")
        return TimeFn()
    if t == "pi":
        toks.next()
        toks.expect("(")
        toks.expect(")")
        return float(math.pi)
    if t == "scalar":
        toks.next()
        toks.expect("(")
        inner = _parse_binop(toks)
        toks.expect(")")
        if isinstance(inner, float):
            raise ValueError("scalar() needs a vector argument")
        return ScalarFn(inner)
    if t == "vector":
        toks.next()
        toks.expect("(")
        if toks.peek() == "pi":
            toks.next()
            toks.expect("(")
            toks.expect(")")
            s = float(math.pi)
        else:
            s = float(toks.next())
        toks.expect(")")
        return VectorFn(s)
    if t in _SCALAR_FIRST_FUNCS:
        toks.next()
        toks.expect("(")
        s = float(toks.next())
        toks.expect(",")
        inner = _parse_selector(toks)
        if inner.range_ms is None:
            raise ValueError(f"{t}() needs a range selector m[duration]")
        toks.expect(")")
        return Func(t, inner, scalar=s)
    if t in _SCALAR_AFTER_FUNCS:
        toks.next()
        toks.expect("(")
        inner = _parse_selector(toks)
        if inner.range_ms is None:
            raise ValueError(f"{t}() needs a range selector m[duration]")
        toks.expect(",")
        neg = toks.peek() == "-"
        if neg:
            toks.next()
        s = float(toks.next()) * (-1.0 if neg else 1.0)
        s2 = None
        if _SCALAR_AFTER_FUNCS[t] == 2:
            toks.expect(",")
            s2 = float(toks.next())
        toks.expect(")")
        return Func(
            "holt_winters" if t == "double_exponential_smoothing" else t,
            inner, scalar=s, scalar2=s2,
        )
    if t in _LABEL_FUNCS:
        toks.next()
        toks.expect("(")
        arg = _parse_binop(toks)
        params = []
        while toks.peek() == ",":
            toks.next()
            s = toks.next()
            if not (s.startswith('"') and s.endswith('"')):
                raise ValueError(f"{t}() string argument expected, got {s!r}")
            params.append(s[1:-1])
        toks.expect(")")
        n_min = {"label_replace": 4, "label_join": 2}.get(t, 1)
        if len(params) < n_min:
            raise ValueError(f"{t}() needs at least {n_min} string arguments")
        return LabelFunc(t, arg, tuple(params))
    if t in _RANGE_FUNCS:
        toks.next()
        toks.expect("(")
        inner = _parse_binop(toks)
        if isinstance(inner, Selector) and toks.peek() == ")":
            if inner.range_ms is None:
                raise ValueError(f"{t}() needs a range selector m[duration]")
            toks.expect(")")
            return Func(t, inner)
        # subquery: expr[range:step]
        if toks.peek() != "[":
            raise ValueError(f"{t}() needs a range selector or subquery")
        if not t.endswith("_over_time"):
            raise ValueError(f"subqueries support only the _over_time family, not {t}()")
        toks.expect("[")
        rng = _parse_duration(toks)
        toks.expect(":")
        step = _parse_duration(toks)
        toks.expect("]")
        toks.expect(")")
        if rng % step != 0:
            raise ValueError("subquery range must be a multiple of step")
        return Subquery(t.removesuffix("_over_time"), inner, rng, step)
    return _parse_selector(toks)


def _parse_duration(toks: _Tokens) -> int:
    n = int(toks.next())
    unit = toks.next()
    if ":" in unit:
        # the id token class allows ':' (recording-rule metric names),
        # so inside a subquery bracket "d:6h" lexes as one token —
        # split it and push the remainder back into the stream
        unit, rest = unit.split(":", 1)
        toks.items.insert(toks.pos, ":")
        m = re.fullmatch(r"(\d+)([A-Za-z]+)", rest)
        if m:
            toks.items.insert(toks.pos + 1, m.group(1))
            toks.items.insert(toks.pos + 2, m.group(2))
        elif rest:
            toks.items.insert(toks.pos + 1, rest)
    if unit not in _UNIT_MS:
        raise ValueError(f"bad duration unit {unit!r}")
    return n * _UNIT_MS[unit]


def _parse_selector(toks: _Tokens) -> Selector:
    metric = None
    if toks.peek() not in ("{", None) and re.fullmatch(
        r"[A-Za-z_:][A-Za-z0-9_:]*", toks.peek() or ""
    ):
        metric = toks.next()
    matchers: list[Matcher] = []
    if toks.peek() == "{":
        toks.next()
        while toks.peek() != "}":
            name = toks.next()
            op = toks.next()
            raw = toks.next()
            if not (raw.startswith('"') and raw.endswith('"')):
                raise ValueError(f"matcher value must be quoted: {raw!r}")
            value = raw[1:-1].replace('\\"', '"').replace("\\\\", "\\")
            matchers.append(Matcher(op, name, value))
            if toks.peek() == ",":
                toks.next()
        toks.expect("}")
    if metric is None and not matchers:
        raise ValueError("empty selector (no metric, no matchers)")
    sel = Selector(metric, matchers)
    if toks.peek() == "[":
        toks.next()
        n = int(toks.next())
        unit = toks.next()
        if unit not in _UNIT_MS:
            raise ValueError(f"bad duration unit {unit!r}")
        sel.range_ms = n * _UNIT_MS[unit]
        toks.expect("]")
    if toks.peek() == "offset":
        toks.next()
        n = int(toks.next())
        unit = toks.next()
        if unit not in _UNIT_MS:
            raise ValueError(f"bad offset unit {unit!r}")
        sel.offset_ms = n * _UNIT_MS[unit]
    if toks.peek() == "@":
        toks.next()
        nxt = toks.next()
        if nxt in ("start", "end"):
            toks.expect("(")
            toks.expect(")")
            sel.at_ms = nxt  # sentinel; resolved to the query bounds
        else:
            sel.at_ms = int(float(nxt) * 1000)
    return sel


# -- compilation ------------------------------------------------------------

_FUNC_IMPL = {
    "rate": lambda df, ms: promql.rate(df, ms).withColumnRenamed("rate", "value"),
    "increase": lambda df, ms: promql.increase(df, ms).withColumnRenamed(
        "increase", "value"
    ),
    "irate": lambda df, ms: promql.irate(df, ms).withColumnRenamed(
        "irate", "value"
    ),
    "idelta": lambda df, ms: promql.idelta(df, ms).withColumnRenamed(
        "idelta", "value"
    ),
    "delta": lambda df, ms: promql.delta(df, ms).withColumnRenamed(
        "delta", "value"
    ),
    "resets": lambda df, ms: promql.resets(df, ms).select(
        "series_id", "bucket_ms", F.col("resets").cast("double").alias("value")
    ),
    "changes": lambda df, ms: promql.changes(df, ms).select(
        "series_id", "bucket_ms", F.col("changes").cast("double").alias("value")
    ),
    "avg_over_time": lambda df, ms: promql.agg_over_time(df, ms).select(
        "series_id", "bucket_ms", F.col("avg_value").alias("value")
    ),
    "sum_over_time": lambda df, ms: promql.agg_over_time(df, ms).select(
        "series_id", "bucket_ms", F.col("sum_value").alias("value")
    ),
    "min_over_time": lambda df, ms: promql.agg_over_time(df, ms).select(
        "series_id", "bucket_ms", F.col("min_value").alias("value")
    ),
    "max_over_time": lambda df, ms: promql.agg_over_time(df, ms).select(
        "series_id", "bucket_ms", F.col("max_value").alias("value")
    ),
    "count_over_time": lambda df, ms: promql.agg_over_time(df, ms).select(
        "series_id", "bucket_ms", F.col("n").cast("double").alias("value")
    ),
    "rate_extrapolated": lambda df, ms: promql.rate_extrapolated(
        df, ms
    ).withColumnRenamed("rate", "value"),
    "deriv": lambda df, ms: promql.deriv(df, ms).withColumnRenamed(
        "deriv", "value"
    ),
    "last_over_time": lambda df, ms: promql.ext_over_time(df, ms).select(
        "series_id", "bucket_ms", F.col("last_value").alias("value")
    ),
    "stddev_over_time": lambda df, ms: promql.ext_over_time(df, ms).select(
        "series_id", "bucket_ms", F.col("stddev_value").alias("value")
    ),
    "stdvar_over_time": lambda df, ms: promql.ext_over_time(df, ms).select(
        "series_id", "bucket_ms", F.col("stdvar_value").alias("value")
    ),
    "present_over_time": lambda df, ms: promql.ext_over_time(df, ms).select(
        "series_id", "bucket_ms", F.col("present").alias("value")
    ),
}


def _sliding(col: str, via):
    def impl(df, window_ms, step_ms):
        return via(df, window_ms, step_ms).select(
            "series_id",
            # the step-grid window start IS the bucket label — keeping
            # the bucket_ms name lets aggregation/binop stages compose
            # with sliding output unchanged
            F.col("wstart_ms").alias("bucket_ms"),
            F.col(col).cast("double").alias("value"),
        )

    return impl


# range funcs with a window>step sliding evaluation (/query_range);
# see compile_expr(step_ms=...)
_SLIDING_IMPL = {
    "rate": _sliding("rate", promql.range_rate_sliding),
    "increase": _sliding("increase", promql.range_rate_sliding),
    "sum_over_time": _sliding("sum_value", promql.range_agg_sliding),
    "avg_over_time": _sliding("avg_value", promql.range_agg_sliding),
    "count_over_time": _sliding("n", promql.range_agg_sliding),
    "min_over_time": _sliding("min_value", promql.range_agg_sliding),
    "max_over_time": _sliding("max_value", promql.range_agg_sliding),
    "last_over_time": _sliding("last_value", promql.range_agg_sliding),
}


def compile_expr(
    expr: Agg | Func | Selector,
    querier: Querier,
    mint_ms: int | None = None,
    maxt_ms: int | None = None,
    step_ms: int | None = None,
) -> DataFrame:
    """Compile a parsed expression against a Querier.

    Output schemas: selector -> (series_id, ts_ms, value); range func ->
    (series_id, bucket_ms, value); agg -> (labels..., bucket_ms, value)
    (or (series_id, value, rk) for topk). Binary-op operands keyed by
    series_id are resolved to their label columns (minus the metric
    name) before matching — PromQL vector matching ignores __name__.

    Identical subtrees compile to the SAME DataFrame object (per-call
    memo), and the ratio-of-two-metrics shape (same range func + same
    matchers, different metric) compiles both sides from ONE merged
    selector scan, so Spark's ReusedExchange runs the scan + window
    shuffle once.

    `step_ms` is the /query_range evaluation step: when given and
    smaller than a range function's window, rate/increase and the
    sum/avg/count over_time family evaluate on the SLIDING step grid
    (window > step — one output row per step, each sample in
    window/step overlapping windows) instead of tumbling buckets. The
    window start is reported as bucket_ms so grouping/binop stages
    compose unchanged."""
    cache: dict = {}
    if step_ms is not None:
        # reserved key — never collides with a dataclass repr
        cache["__step_ms__"] = int(step_ms)
    return _compile(expr, querier, mint_ms, maxt_ms, cache)


def _compile(
    expr, querier: Querier, mint_ms, maxt_ms, cache: dict
) -> DataFrame:
    """Memoized compile. A subtree referenced MORE THAN ONCE is
    persisted on its second reference: the memo alone returns the same
    DataFrame object, but consumers prune different column sets, so the
    two physical subtrees diverge and Spark's ReusedExchange never
    fires — each reference re-scans the facts. Persisting pins one
    materialization (MEMORY_AND_DISK) that every reference shares.
    Only Func/Agg nodes are persisted — range-func and aggregate
    outputs are bucket-compacted (orders of magnitude smaller than raw
    samples); a raw Selector is the full sample stream and is cheaper
    to re-scan than to cache at 100 TB."""
    key = repr(expr)
    hit = cache.get(key)
    if hit is not None:
        df, shared = hit
        if not shared and isinstance(expr, (Func, Agg)):
            df = df.persist()
            cache[key] = (df, True)
        return df
    df = _compile_inner(expr, querier, mint_ms, maxt_ms, cache)
    cache[key] = (df, False)
    return df


def _label_cols(querier: Querier) -> list[str]:
    """Label columns of the series dim, excluding the metric name —
    the PromQL matching key space (__name__ is ignored by vector
    matching)."""
    return [
        c
        for c in querier.series.columns
        if c not in ("series_id", "metric", "__name__")
    ]


def _resolve_labels(df: DataFrame, querier: Querier) -> DataFrame:
    """Replace series_id with the series' label columns (broadcast
    dim join) so binop matching happens on label sets, not on
    series_id (which hashes the FULL label set incl. __name__ and
    never matches across metrics)."""
    if "series_id" not in df.columns:
        return df
    dim = querier.series_dim(*_label_cols(querier))
    return df.join(dim, "series_id").drop("series_id")


def _timecol(df: DataFrame) -> str | None:
    for c in ("bucket_ms", "ts_ms"):
        if c in df.columns:
            return c
    return None


def _agg_over(inner: DataFrame, expr: Agg, querier: Querier) -> DataFrame:
    """Label aggregation of a compiled inner vector (shared by the Agg
    branch and the merged-scan binop rewrite)."""
    label_cols = [c for c in querier.series.columns if c != "series_id"]
    if expr.mode == "by":
        by = [l for l in expr.labels if l in label_cols]
    elif expr.mode == "without":
        by = [c for c in label_cols if c not in set(expr.labels)]
    else:
        by = []
    joined = inner.join(querier.series_dim(*by), "series_id")
    time_col = "bucket_ms" if "bucket_ms" in inner.columns else None
    keys = by + ([time_col] if time_col else [])
    # population variance from explicit moments (E[x^2]-E[x]^2): the
    # formulation whose float result agrees with the DuckDB oracle at
    # ROUND_AVG (Welford-style var_pop accumulates differently)
    _var = F.greatest(
        F.avg(F.col("value") * F.col("value"))
        - F.avg("value") * F.avg("value"),
        F.lit(0.0),
    )
    aggs = {
        "sum": F.round(F.sum("value"), promql.ROUND_SUM),
        "avg": F.round(F.avg("value"), promql.ROUND_AVG),
        "min": F.min("value"),
        "max": F.max("value"),
        "count": F.count(F.lit(1)).cast("double"),
        "stddev": F.round(F.sqrt(_var), promql.ROUND_AVG),
        "stdvar": F.round(_var, promql.ROUND_AVG),
        "group": F.max(F.lit(1.0)),
        "quantile": F.round(
            F.percentile("value", F.lit(expr.q or 0.5)), promql.ROUND_AVG
        ),
    }
    return joined.groupBy(*keys).agg(aggs[expr.op].alias("value"))


def _ratio_shape(expr):
    """(agg|None, func) when expr is Agg-over-range-Func or a bare
    range Func; None otherwise."""
    if isinstance(expr, Agg) and isinstance(expr.arg, Func):
        return expr, expr.arg
    if isinstance(expr, Func):
        return None, expr
    return None


def _compile_inner(
    expr, querier: Querier, mint_ms, maxt_ms, cache: dict
) -> DataFrame:
    """Compile one node. Selector leaves are ONE pruned scan over the
    querier's driver postings (`Querier.select_matching`: time bounds
    pushed to parquet, filtered to the matched ids); label joins read
    the Arrow-built driver dim (`Querier.series_dim`). Above the
    querier's series cap both fall back to `select(matchers)` /
    `select_series` and the `series` dim."""
    if isinstance(expr, HistQuant):
        # virtual _bucket metric (see HistQuant docstring): select the
        # BASE metric's raw samples through the normal selector path
        # (bounds, offset, @ all apply), then conditional-count
        # cumulative le buckets + rank interpolation.
        f = expr.func
        base = Selector(
            f.arg.metric.removesuffix("_bucket"),
            list(f.arg.matchers),
            f.arg.range_ms,
            f.arg.offset_ms,
            f.arg.at_ms,
        )
        samples = _compile(base, querier, mint_ms, maxt_ms, cache)
        label_cols = _label_cols(querier)
        if expr.mode == "by":
            by = [l for l in expr.labels if l != "le"]
            bad = [l for l in by if l not in label_cols]
            if bad:
                raise ValueError(f"histogram_quantile by() labels absent: {bad}")
        elif expr.mode == "without":
            drop = set(expr.labels) | {"le"}
            by = [c for c in label_cols if c not in drop]
        else:
            by = label_cols
        buckets = promql.histogram_buckets(
            samples, querier.series_dim(*by), by, f.arg.range_ms
        )
        return promql.histogram_quantile(
            buckets, expr.q, by
        ).withColumnRenamed("quantile", "value")
    if isinstance(expr, VectorFn):
        # constant one-element instant vector at the evaluation time
        ts = maxt_ms if maxt_ms is not None else 0
        return querier.samples.sparkSession.createDataFrame(
            [(ts, float(expr.s))], "ts_ms long, value double"
        )
    if isinstance(expr, (TimeFn, ScalarFn)):
        raise ValueError(
            f"{type(expr).__name__.removesuffix('Fn').lower()}() is "
            "scalar-valued — combine it with a vector operand"
        )
    if isinstance(expr, Selector):
        matchers = list(expr.matchers)
        if expr.metric is not None:
            matchers.append(Matcher("=", "__name__", expr.metric))
        if expr.at_ms is not None:
            # @ modifier: fixed evaluation time. Range selector ->
            # absolute data window (at - range, at]; instant selector
            # -> latest sample per series within the 5m lookback
            # (Prometheus defaults), reported AT the eval time. offset
            # shifts the data window back, as with plain selectors.
            # @ start()/@ end() resolve to the query's own bounds.
            at_ms = expr.at_ms
            if at_ms in ("start", "end"):
                bound = mint_ms if at_ms == "start" else maxt_ms
                if bound is None:
                    raise ValueError(
                        f"@ {at_ms}() requires explicit query bounds"
                    )
                at_ms = bound
            eval_ms = at_ms - expr.offset_ms
            span = expr.range_ms or _LOOKBACK_MS
            df = querier.select_matching(matchers, eval_ms - span + 1, eval_ms)
            if expr.offset_ms:
                df = df.withColumn(
                    "ts_ms", F.col("ts_ms") + F.lit(expr.offset_ms)
                )
            if expr.range_ms is not None:
                return df
            from pyspark.sql import Window

            w = Window.partitionBy("series_id").orderBy(
                F.col("ts_ms").desc(), F.col("value").desc()
            )
            return (
                df.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .select(
                    "series_id",
                    F.lit(at_ms).alias("ts_ms"),
                    "value",
                )
            )
        # offset: evaluate against data `offset` earlier, reported at
        # evaluation time — bounds shift back, timestamps shift forward
        lo = mint_ms - expr.offset_ms if mint_ms is not None else None
        hi = maxt_ms - expr.offset_ms if maxt_ms is not None else None
        # one pruned scan, unsorted: every downstream op (window,
        # groupBy) hash-partitions on series_id — the sorted-output
        # contract would be a wasted extra range shuffle here
        df = querier.select_matching(matchers, lo, hi)
        if expr.offset_ms:
            df = df.withColumn("ts_ms", F.col("ts_ms") + F.lit(expr.offset_ms))
        return df
    if isinstance(expr, Func):
        if expr.name == "absent_over_time":
            # needs the SELECTED SERIES SET (to know what could have
            # reported) and explicit query bounds for the bucket spine
            if mint_ms is None or maxt_ms is None:
                raise ValueError(
                    "absent_over_time() needs explicit query bounds "
                    "(pass mint_ms/maxt_ms to query())"
                )
            matchers = list(expr.arg.matchers)
            if expr.arg.metric is not None:
                matchers.append(Matcher("=", "__name__", expr.arg.metric))
            sel = _compile(expr.arg, querier, mint_ms, maxt_ms, cache)
            sel_series = querier.series_ids(matchers)
            return promql.absent_over_time(
                sel, sel_series, expr.arg.range_ms, mint_ms, maxt_ms
            ).select(
                "series_id", "bucket_ms",
                F.col("absent").cast("double").alias("value"),
            )
        step = cache.get("__step_ms__")
        if (
            step is not None
            and expr.name in _SLIDING_IMPL
            and isinstance(expr.arg, Selector)
            and expr.arg.range_ms is not None
            and expr.arg.range_ms != step
        ):
            sel = _compile(expr.arg, querier, mint_ms, maxt_ms, cache)
            return _SLIDING_IMPL[expr.name](sel, expr.arg.range_ms, step)
        sel = _compile(expr.arg, querier, mint_ms, maxt_ms, cache)
        if expr.name == "quantile_over_time":
            return promql.quantile_over_time(
                sel, expr.scalar, expr.arg.range_ms
            ).withColumnRenamed("quantile", "value")
        if expr.name == "predict_linear":
            return promql.predict_linear(
                sel, expr.arg.range_ms, expr.scalar
            ).withColumnRenamed("predicted", "value")
        if expr.name == "holt_winters":
            return promql.holt_winters(
                sel, expr.arg.range_ms, expr.scalar, expr.scalar2
            ).withColumnRenamed("smoothed", "value")
        return _FUNC_IMPL[expr.name](sel, expr.arg.range_ms)
    if isinstance(expr, LabelFunc):
        inner = _compile(expr.arg, querier, mint_ms, maxt_ms, cache)
        if "series_id" in inner.columns:
            inner = _resolve_labels(inner, querier)
        if expr.name in ("sort_by_label", "sort_by_label_desc"):
            from agni_spark.functions.relational import _dist_row_number

            missing = [s for s in expr.params if s not in inner.columns]
            if missing:
                raise ValueError(f"sort_by_label labels absent: {missing}")
            desc = expr.name.endswith("_desc")
            order = [
                (F.col(c).desc_nulls_last() if desc else F.col(c).asc_nulls_first())
                for c in expr.params
            ] + [F.col(c) for c in inner.columns if c != "value"]
            # result vectors can be series-cardinality-sized: rank with
            # the range-partitioned global row_number (identical to the
            # global window — the order key spans every label column,
            # so it is tie-free per vector semantics), never a
            # single-partition WindowExec.
            ranked = _dist_row_number(inner, order, "ord")
            return ranked.withColumn(
                "ord", F.col("ord").cast("int")
            ).orderBy("ord")
        if expr.name == "label_join":
            dst, sep, *srcs = expr.params
            missing = [s for s in srcs if s not in inner.columns]
            if missing:
                raise ValueError(f"label_join source labels absent: {missing}")
            return inner.withColumn(
                dst,
                F.concat_ws(
                    sep, *[F.coalesce(F.col(s), F.lit("")) for s in srcs]
                ),
            )
        dst, repl, src, regex = expr.params[:4]
        # absent label matches as "" (selector.go semantics); the regex
        # must match the ENTIRE source value or the vector is unchanged
        src_col = (
            F.coalesce(F.col(src), F.lit(""))
            if src in inner.columns
            else F.lit("")
        )
        anchored = f"^(?:{regex})$"
        matched = src_col.rlike(anchored)
        newval = F.regexp_replace(src_col, anchored, repl)
        old = F.col(dst) if dst in inner.columns else F.lit(None).cast("string")
        return inner.withColumn(dst, F.when(matched, newval).otherwise(old))
    if isinstance(expr, Agg):
        if expr.op == "count_values":
            inner = _compile(expr.arg, querier, mint_ms, maxt_ms, cache)
            label_cols = [c for c in querier.series.columns if c != "series_id"]
            if expr.mode == "by":
                by = [x for x in expr.labels if x in label_cols]
            elif expr.mode == "without":
                by = [c for c in label_cols if c not in set(expr.labels)]
            else:
                by = []
            if by and "series_id" in inner.columns:
                inner = inner.join(querier.series_dim(*by), "series_id")
            tc = _timecol(inner)
            keys = by + ([tc] if tc else [])
            # canonical value text: trailing-zero-free 6dp decimal, the
            # same string both Spark and DuckDB produce from a DECIMAL
            # cast (raw double->string formatting differs per engine)
            vstr = F.regexp_replace(
                F.regexp_replace(
                    F.col("value").cast("decimal(20,6)").cast("string"),
                    r"(\.\d*?)0+$", "$1",
                ),
                r"\.$", "",
            )
            return inner.groupBy(*keys, vstr.alias(expr.vlabel)).agg(
                F.count(F.lit(1)).cast("double").alias("value")
            )
        if expr.op in ("limitk", "limit_ratio"):
            # Prometheus 2.50 sampling operators, made DETERMINISTIC:
            # limitk keeps the k smallest series_ids (TakeOrdered heap);
            # limit_ratio gates on the 60-bit md5 hash of the series id
            # (the split_assign pattern — never rand(), so the sample is
            # stable across retries, engines, and partitionings)
            from agni_spark.functions.dedup import hash60

            inner = _compile(expr.arg, querier, mint_ms, maxt_ms, cache)
            per_series = inner.groupBy("series_id").agg(
                F.round(F.sum("value"), promql.ROUND_SUM).alias("value")
            )
            if expr.op == "limitk":
                return per_series.orderBy("series_id").limit(expr.k or 1)
            gate = F.pmod(
                hash60(F.col("series_id").cast("string")), F.lit(1000)
            )
            return per_series.where(
                gate < int(round((expr.q or 0.0) * 1000))
            )
        if expr.op in ("topk", "bottomk"):
            inner = _compile(expr.arg, querier, mint_ms, maxt_ms, cache)
            per_series = inner.groupBy("series_id").agg(
                F.round(F.sum("value"), promql.ROUND_SUM).alias("value")
            )
            from pyspark.sql import Window

            order = [
                F.col("value").desc()
                if expr.op == "topk"
                else F.col("value").asc(),
                F.col("series_id").asc(),
            ]
            if expr.mode:
                # grouped form `topk by (L) (k, v)`: k winners PER
                # group — a rank window partitioned on the grouping
                # labels (broadcast series dim), not a global limit
                label_cols = [
                    c for c in querier.series.columns if c != "series_id"
                ]
                if expr.mode == "by":
                    by = [l for l in expr.labels if l in label_cols]
                else:
                    by = [c for c in label_cols if c not in set(expr.labels)]
                w = Window.partitionBy(*by).orderBy(*order)
                return (
                    per_series.join(querier.series_dim(*by), "series_id")
                    .withColumn("rk", F.row_number().over(w))
                    .where(F.col("rk") <= (expr.k or 1))
                    .select(
                        "series_id", *by, "value",
                        F.col("rk").cast("int").alias("rk"),
                    )
                )
            # orderBy().limit(k) -> TakeOrderedAndProject (distributed
            # k-row heaps); the rank window only sees <=k rows
            return (
                per_series.orderBy(*order)
                .limit(expr.k or 1)
                # <=k rows by construction; constant partition key keeps
                # WindowExec off the move-everything plan shape
                .withColumn(
                    "rk",
                    F.row_number().over(
                        Window.partitionBy(F.lit(0)).orderBy(*order)
                    ),
                )
                .select("series_id", "value", F.col("rk").cast("int").alias("rk"))
            )
        inner = _compile(expr.arg, querier, mint_ms, maxt_ms, cache)
        return _agg_over(inner, expr, querier)
    if isinstance(expr, MathFunc):
        inner = _compile(expr.arg, querier, mint_ms, maxt_ms, cache)
        if expr.name in ("sort", "sort_desc"):
            return inner.orderBy(
                F.col("value").asc() if expr.name == "sort"
                else F.col("value").desc()
            )
        if expr.name in ("hour", "minute", "day_of_week"):
            # Prometheus time functions interpret the sample VALUES as
            # epoch seconds (compose as hour(timestamp(v)) for sample
            # times). Pure integer arithmetic on epoch seconds — no
            # timezone/session dependence (1970-01-01 was a Thursday,
            # hence the +4 in day_of_week).
            v = F.col("value")
            comps = {
                "hour": F.floor((v % 86_400) / 3_600),
                "minute": F.floor((v % 3_600) / 60),
                "day_of_week": (F.floor(v / 86_400) + 4) % 7,
            }
            return inner.withColumn(
                "value", comps[expr.name].cast("double")
            )
        if expr.name == "timestamp":
            tc = _timecol(inner)
            if tc is None:
                raise ValueError("timestamp() needs a time-keyed vector")
            return inner.withColumn("value", F.col(tc) / F.lit(1000.0))
        s, s2 = expr.scalar, expr.scalar2
        # round(): PromQL rounds to the nearest multiple of to_nearest
        # (default 1), ties UP — floor(v/to + 0.5)*to is that rule,
        # engine-independent (unlike HALF_UP/HALF_EVEN builtins)
        to = s if (expr.name == "round" and s is not None) else 1.0
        fns = {
            "abs": lambda v: F.abs(v),
            "ceil": lambda v: F.ceil(v).cast("double"),
            "floor": lambda v: F.floor(v).cast("double"),
            "exp": F.exp,
            "ln": F.log,
            "log2": F.log2,
            "log10": F.log10,
            "sqrt": F.sqrt,
            "sgn": lambda v: F.signum(v),
            "round": lambda v: F.floor(v / F.lit(to) + F.lit(0.5)).cast(
                "double"
            ) * F.lit(to),
            "clamp_min": lambda v: F.greatest(v, F.lit(s)),
            "clamp_max": lambda v: F.least(v, F.lit(s)),
            "clamp": lambda v: F.least(F.greatest(v, F.lit(s)), F.lit(s2)),
            "sin": F.sin,
            "cos": F.cos,
            "tan": F.tan,
            "asin": F.asin,
            "acos": F.acos,
            "atan": F.atan,
            # hyperbolics via exp so the formula (and its float path)
            # is restatable verbatim in any SQL oracle — libm sinh()
            # and (e^x - e^-x)/2 differ in the last ulp
            "sinh": lambda v: (F.exp(v) - F.exp(-v)) / F.lit(2.0),
            "cosh": lambda v: (F.exp(v) + F.exp(-v)) / F.lit(2.0),
            "tanh": lambda v: (F.exp(v) - F.exp(-v))
            / (F.exp(v) + F.exp(-v)),
            "deg": F.degrees,
            "rad": F.radians,
        }
        return inner.withColumn("value", fns[expr.name](F.col("value")))
    if isinstance(expr, Subquery):
        inner = _compile(expr.inner, querier, mint_ms, maxt_ms, cache)
        if "bucket_ms" not in inner.columns:
            raise ValueError(
                "subquery inner must produce bucketed values "
                "(a range function or aggregation)"
            )
        # in the bucketed model the inner's bucket IS the step — check
        # statically where the inner's range function is reachable
        node = expr.inner
        while isinstance(node, (Agg, MathFunc)):
            node = node.arg
        if isinstance(node, Func) and node.arg.range_ms != expr.step_ms:
            raise ValueError(
                f"subquery step must equal the inner range "
                f"({node.arg.range_ms} ms) in the bucketed model"
            )
        keys = [c for c in inner.columns if c not in ("bucket_ms", "value")]
        out_bucket = (
            (F.col("bucket_ms") / F.lit(expr.range_ms)).cast("long")
            * F.lit(expr.range_ms)
        ).alias("bucket_ms")
        aggs = {
            "avg": F.round(F.avg("value"), promql.ROUND_AVG),
            "sum": F.round(F.sum("value"), promql.ROUND_SUM),
            "min": F.min("value"),
            "max": F.max("value"),
            "count": F.count(F.lit(1)).cast("double"),
        }
        return inner.groupBy(*keys, out_bucket).agg(
            aggs[expr.op].alias("value")
        )
    if isinstance(expr, BinOp):
        return _compile_binop(expr, querier, mint_ms, maxt_ms, cache)
    raise TypeError(type(expr))


_CMP_FNS = {
    ">": lambda a, b: a > b,
    "<": lambda a, b: a < b,
    ">=": lambda a, b: a >= b,
    "<=": lambda a, b: a <= b,
}
_ARITH_FNS = {
    "/": lambda a, b: F.when(b != 0, a / b),
    "*": lambda a, b: a * b,
    "+": lambda a, b: a + b,
    "-": lambda a, b: a - b,
}


_ROLLUP_OPS = {
    # agg ops whose coarser re-grouping is derivable from the finer
    # aggregate: the op applied over partials. (avg/quantile are not
    # decomposable from rounded partials and take the generic path.)
    "sum": lambda c: F.round(F.sum(c), promql.ROUND_SUM),
    "count": lambda c: F.sum(c).cast("double"),
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
}


def _rollup_sides(expr: BinOp, querier, mint_ms, maxt_ms, cache):
    """Share-of-total rewrite: for `agg by (L)(X) OP agg by (R)(X)`
    with the same rollup-able agg op and R ⊆ L over an IDENTICAL inner
    subtree, the right side is a re-aggregation of the LEFT side's
    result — so derive it with one tiny groupBy over the left
    aggregate instead of compiling a second scan+window+agg pipeline.
    This is the dominant PromQL ratio-to-total shape
    (`... / ignoring(x) group_left ...` over the same metric); at
    100 TB it halves the fact-table work. Returns (l, r) or None."""
    a_l, a_r = expr.left, expr.right
    if not (isinstance(a_l, Agg) and isinstance(a_r, Agg)):
        return None
    if a_l.op != a_r.op or a_l.op not in _ROLLUP_OPS:
        return None
    if a_l.k is not None or a_r.k is not None:
        return None
    if a_l.mode != "by" or a_r.mode != "by":
        return None
    if repr(a_l.arg) != repr(a_r.arg):
        return None
    label_cols = [c for c in querier.series.columns if c != "series_id"]
    by_l = [x for x in a_l.labels if x in label_cols]
    by_r = [x for x in a_r.labels if x in label_cols]
    if not set(by_r) < set(by_l):
        return None
    l = _compile(a_l, querier, mint_ms, maxt_ms, cache)
    # persist the finer aggregate: the re-agg side prunes fewer columns
    # than the left operand, so without a pinned materialization the
    # optimizer compiles two divergent subtrees (two fact scans, two
    # window shuffles) that ReusedExchange cannot dedupe. The persisted
    # table is POST-aggregation — a few rows per (by-labels, bucket) —
    # so caching it is safe at any corpus size.
    l = l.persist()
    time_cols = [c for c in ("bucket_ms", "ts_ms") if c in l.columns]
    r = l.groupBy(*by_r, *time_cols).agg(
        _ROLLUP_OPS[a_l.op]("value").alias("value")
    )
    return l, r


def _merged_scan_sides(expr: BinOp, querier, mint_ms, maxt_ms, cache):
    """The ratio-of-two-metrics rewrite: for `agg(f(a{m}[r])) OP
    agg(f(b{m}[r]))` — same range func, same range/offset/matchers,
    different metric — compile ONE selector over both metrics, run the
    range func once, and split the result per metric with semi-joins.
    The two sides then reference the same window subplan, so the scan
    and its shuffle execute once (ReusedExchange). Returns (l, r)
    DataFrames, or None when the shape doesn't match."""
    shapes = (_ratio_shape(expr.left), _ratio_shape(expr.right))
    if shapes[0] is None or shapes[1] is None:
        return None
    (agg_l, f_l), (agg_r, f_r) = shapes
    sl, sr = f_l.arg, f_r.arg
    if (
        f_l.name != f_r.name
        or sl.range_ms != sr.range_ms
        or sl.offset_ms != sr.offset_ms
        or sl.metric is None
        or sr.metric is None
        or sl.metric == sr.metric
        or [repr(m) for m in sl.matchers] != [repr(m) for m in sr.matchers]
    ):
        return None
    merged = Selector(
        None,
        list(sl.matchers)
        + [Matcher("=~", "__name__", f"{sl.metric}|{sr.metric}")],
        sl.range_ms,
        sl.offset_ms,
    )
    base = _compile(Func(f_l.name, merged), querier, mint_ms, maxt_ms, cache)
    sides = []
    for metric, agg in ((sl.metric, agg_l), (sr.metric, agg_r)):
        side = querier.select_matching([Matcher("=", "__name__", metric)], df=base)
        sides.append(_agg_over(side, agg, querier) if agg else side)
    return sides[0], sides[1]


def _merged_pivot_binop(
    expr: BinOp, querier: Querier, mint_ms, maxt_ms, cache: dict
) -> DataFrame | None:
    """Strongest form of the ratio rewrite: when BOTH sides aggregate
    identically (same op/by-labels) over the same range func and the
    selectors differ only in metric, the whole binop collapses into ONE
    groupBy — conditional aggregates per metric in a single shuffle,
    no vector-vector join at all. Inner-join semantics preserved by
    dropping groups where either side aggregated zero rows (null)."""
    shapes = (_ratio_shape(expr.left), _ratio_shape(expr.right))
    if shapes[0] is None or shapes[1] is None:
        return None
    (agg_l, f_l), (agg_r, f_r) = shapes
    if agg_l is None or agg_r is None:
        return None
    if (
        agg_l.op != agg_r.op
        or agg_l.mode != agg_r.mode
        or agg_l.labels != agg_r.labels
        or agg_l.op in ("count", "topk", "bottomk")
        or agg_l.mode == "without"
        or agg_l.q != agg_r.q
    ):
        return None
    sl, sr = f_l.arg, f_r.arg
    if (
        f_l.name != f_r.name
        or sl.range_ms != sr.range_ms
        or sl.offset_ms != sr.offset_ms
        or sl.metric is None
        or sr.metric is None
        or sl.metric == sr.metric
        or [repr(m) for m in sl.matchers] != [repr(m) for m in sr.matchers]
    ):
        return None
    mcol = "metric" if "metric" in querier.series.columns else "__name__"
    by = [
        l
        for l in agg_l.labels
        if l in querier.series.columns and l != "series_id"
    ]
    if mcol in by:
        return None
    merged = Selector(
        None,
        list(sl.matchers)
        + [Matcher("=~", "__name__", f"{sl.metric}|{sr.metric}")],
        sl.range_ms,
        sl.offset_ms,
    )
    base = _compile(Func(f_l.name, merged), querier, mint_ms, maxt_ms, cache)
    joined = base.join(querier.series_dim(mcol, *by), "series_id")
    aggs = {
        "sum": lambda c: F.round(F.sum(c), promql.ROUND_SUM),
        "avg": lambda c: F.round(F.avg(c), promql.ROUND_AVG),
        "min": F.min,
        "max": F.max,
        "quantile": lambda c: F.round(
            F.percentile(c, F.lit(agg_l.q or 0.5)), promql.ROUND_AVG
        ),
    }
    agg_of = aggs[agg_l.op]
    side = lambda m: agg_of(  # noqa: E731
        F.when(F.col(mcol) == m, F.col("value"))
    )
    keys = by + ["bucket_ms"]
    out = (
        joined.groupBy(*keys)
        .agg(side(sl.metric).alias("_l"), side(sr.metric).alias("_r"))
        .where(F.col("_l").isNotNull() & F.col("_r").isNotNull())
    )
    if expr.op in _CMP_FNS:
        return out.where(_CMP_FNS[expr.op](F.col("_l"), F.col("_r"))).select(
            *keys, F.col("_l").alias("value")
        )
    return out.select(
        *keys,
        F.round(
            _ARITH_FNS[expr.op](F.col("_l"), F.col("_r")), promql.ROUND_AVG
        ).alias("value"),
    )


def _compile_binop(
    expr: BinOp, querier: Querier, mint_ms, maxt_ms, cache: dict
) -> DataFrame:
    lt_, rt_ = isinstance(expr.left, TimeFn), isinstance(expr.right, TimeFn)
    if lt_ or rt_:
        # time() OP vector: the scalar resolves to the vector's own
        # time column (seconds) — the staleness-alert idiom
        # `time() - max_over_time(m[r])`
        if lt_ and rt_:
            raise ValueError("time() on both sides is scalar-scalar")
        other = expr.right if lt_ else expr.left
        if isinstance(other, (float, ScalarFn, VectorFn)):
            raise ValueError("time() needs a vector operand")
        vec = _compile(other, querier, mint_ms, maxt_ms, cache)
        tc = _timecol(vec)
        if tc is None:
            raise ValueError("time() operand has no time column")
        t_expr, v = F.col(tc) / F.lit(1000.0), F.col("value")
        a, b = (t_expr, v) if lt_ else (v, t_expr)
        if expr.op in _CMP_FNS:
            if expr.bool_mode:
                return vec.withColumn(
                    "value",
                    F.when(_CMP_FNS[expr.op](a, b), 1.0).otherwise(0.0),
                )
            return vec.where(_CMP_FNS[expr.op](a, b))
        return vec.withColumn(
            "value", F.round(_ARITH_FNS[expr.op](a, b), promql.ROUND_AVG)
        )
    ls_, rs_ = isinstance(expr.left, ScalarFn), isinstance(expr.right, ScalarFn)
    if ls_ or rs_:
        # scalar(v) OP vector: reduce the inner vector to one value per
        # timestep (NULL when the timestep has != 1 elements — the
        # engine's NaN stand-in), broadcast it, join on the time column
        if ls_ and rs_:
            raise ValueError("scalar() on both sides is scalar-scalar")
        node, other = (
            (expr.left, expr.right) if ls_ else (expr.right, expr.left)
        )
        if isinstance(other, (float, TimeFn, VectorFn)):
            raise ValueError("scalar() needs a vector operand")
        inner = _compile(node.arg, querier, mint_ms, maxt_ms, cache)
        tci = _timecol(inner)
        if tci is None:
            raise ValueError("scalar() argument has no time column")
        sdf = inner.groupBy(tci).agg(
            F.when(F.count(F.lit(1)) == 1, F.max("value")).alias("_s")
        )
        vec = _compile(other, querier, mint_ms, maxt_ms, cache)
        tcv = _timecol(vec)
        if tcv is None:
            raise ValueError("vector operand has no time column")
        joined = vec.join(
            F.broadcast(sdf.withColumnRenamed(tci, tcv)), tcv
        )
        s, v = F.col("_s"), F.col("value")
        a, b = (s, v) if ls_ else (v, s)
        if expr.op in _CMP_FNS:
            if expr.bool_mode:
                return joined.withColumn(
                    "value",
                    F.when(_CMP_FNS[expr.op](a, b), 1.0).otherwise(0.0),
                ).drop("_s")
            return joined.where(_CMP_FNS[expr.op](a, b)).drop("_s")
        return joined.withColumn(
            "value", F.round(_ARITH_FNS[expr.op](a, b), promql.ROUND_AVG)
        ).drop("_s")
    lf, rf = isinstance(expr.left, float), isinstance(expr.right, float)
    if lf and rf:
        raise ValueError("scalar-scalar expressions are unsupported")
    if lf or rf:
        # scalar broadcast: comparison filters the vector (value kept),
        # arithmetic maps the value column — operand order preserved
        vec = _compile(
            expr.right if lf else expr.left, querier, mint_ms, maxt_ms, cache
        )
        s = F.lit(expr.left if lf else expr.right)
        v = F.col("value")
        a, b = (s, v) if lf else (v, s)
        if expr.op in _CMP_FNS:
            if expr.bool_mode:
                return vec.withColumn(
                    "value",
                    F.when(_CMP_FNS[expr.op](a, b), 1.0).otherwise(0.0),
                )
            return vec.where(_CMP_FNS[expr.op](a, b))
        return vec.withColumn(
            "value", F.round(_ARITH_FNS[expr.op](a, b), promql.ROUND_AVG)
        )
    merged = None
    if expr.op in _ARITH_FNS or expr.op in _CMP_FNS:
        # rollup reuse is matching-mode-agnostic: it only rewrites the
        # OPERANDS (right := re-agg of left); join keys follow below
        merged = _rollup_sides(expr, querier, mint_ms, maxt_ms, cache)
        if merged is None and expr.match_mode is None and not expr.bool_mode:
            # the merged-scan rewrites assume natural (all-shared-
            # labels) matching; explicit on()/ignoring() falls through
            pivot = _merged_pivot_binop(expr, querier, mint_ms, maxt_ms, cache)
            if pivot is not None:
                return pivot
            merged = _merged_scan_sides(expr, querier, mint_ms, maxt_ms, cache)
    if merged is not None:
        l, r = merged
    else:
        l = _compile(expr.left, querier, mint_ms, maxt_ms, cache)
        r = _compile(expr.right, querier, mint_ms, maxt_ms, cache)
    # PromQL vector matching ignores __name__: series_id (a hash of the
    # FULL label set) never matches across metrics, so series-keyed
    # operands are resolved to their label columns first.
    if "series_id" in l.columns or "series_id" in r.columns:
        l = _resolve_labels(l, querier)
        r = _resolve_labels(r, querier)
    lt, rt = _timecol(l), _timecol(r)
    if lt != rt:
        raise ValueError(
            f"operands have mismatched time resolutions ({lt} vs {rt}); "
            "aggregate both sides over the same range first"
        )
    keys = [c for c in l.columns if c != "value" and c in r.columns]
    if expr.match_mode == "on":
        missing = [
            n
            for n in expr.match_labels
            if n not in l.columns or n not in r.columns
        ]
        if missing:
            raise ValueError(f"on(...) labels absent from operands: {missing}")
        keys = list(expr.match_labels) + ([lt] if lt else [])
    elif expr.match_mode == "ignoring":
        drop = set(expr.match_labels)
        keys = [k for k in keys if k not in drop]
    if not keys:
        raise ValueError("binary op operands share no matching labels")
    if expr.op in _SETOPS:
        if expr.op == "or":
            if set(l.columns) != set(r.columns):
                raise ValueError("or-operands must have identical schemas")
            extra = _match_join(
                r, l.select(*keys).distinct(), keys, "left_anti"
            )
            return l.unionByName(extra)
        how = "left_semi" if expr.op == "and" else "left_anti"
        return _match_join(l, r.select(*keys).distinct(), keys, how)
    # group_left / group_right: many-to-one matching — the MANY side's
    # extra label columns carry through; the "one" side reduces to
    # key+value and is the natural broadcast side (unique per key,
    # enforced upstream by aggregation). group_left(l1,...) ALSO copies
    # the listed labels from the "one" side (Prometheus label carry).
    if expr.group_right:
        # mirror of group_left with the roles swapped; operand order
        # in the value expression is preserved (left is the "one")
        if expr.op in _CMP_FNS and not expr.bool_mode:
            raise ValueError(
                "comparison with group_right is unsupported (use bool)"
            )
        carry = [c for c in r.columns if c not in keys and c != "value"]
        picked = _pick_carry(expr.carry_labels, l, r, keys, carry)
        lhs = l.withColumnRenamed("value", "_l").select(*keys, *picked, "_l")
        joined = _match_join(
            r.withColumnRenamed("value", "_r"), lhs, keys, broadcast=True
        )
        carry += picked
    else:
        carry = (
            [c for c in l.columns if c not in keys and c != "value"]
            if expr.group_left
            else []
        )
        picked = (
            _pick_carry(expr.carry_labels, r, l, keys, carry)
            if expr.group_left
            else []
        )
        rhs = r.withColumnRenamed("value", "_r").select(*keys, *picked, "_r")
        joined = _match_join(
            l.withColumnRenamed("value", "_l"), rhs, keys,
            broadcast=expr.group_left,
        )
        carry += picked
    if expr.op in _CMP_FNS:
        cmp = _CMP_FNS[expr.op](F.col("_l"), F.col("_r"))
        if expr.bool_mode:
            # `> bool`: no filtering; value = 1.0/0.0 per match
            return joined.select(
                *keys, *carry,
                F.when(cmp, 1.0).otherwise(0.0).alias("value"),
            )
        # vector comparison: keep left rows where the matched right
        # value satisfies the comparison; value = left's value
        return joined.where(cmp).select(
            *keys, *carry, F.col("_l").alias("value")
        )
    return joined.select(
        *keys,
        *carry,
        F.round(
            _ARITH_FNS[expr.op](F.col("_l"), F.col("_r")), promql.ROUND_AVG
        ).alias("value"),
    )


def _match_join(
    left: DataFrame, right: DataFrame, keys: list, how: str = "inner",
    broadcast: bool = False,
) -> DataFrame:
    """Vector matching join on label keys, NULL-safe: a label column
    that BOTH operands leave NULL (a wide series dim has one column per
    label name of any metric) matches, as an absent label does in
    Prometheus — a plain `join(right, keys)` drops those pairs, since
    NULL = NULL is not true. Output columns are the plain join's: the
    keys, then left's other columns, then (inner) right's."""
    keys = list(dict.fromkeys(keys))  # on(..., bucket_ms) repeats the time key
    tmp = {k: f"_mk_{i}" for i, k in enumerate(keys)}
    rk = right.select(
        *[F.col(c).alias(tmp.get(c, c)) for c in dict.fromkeys(right.columns)]
    )
    if broadcast:
        rk = F.broadcast(rk)
    cond = [left[k].eqNullSafe(rk[t]) for k, t in tmp.items()]
    joined = left.join(rk, cond, how)
    if how in ("left_semi", "left_anti"):
        return joined
    rest = [c for c in dict.fromkeys(left.columns + right.columns) if c not in tmp]
    return joined.select(*keys, *rest)


def _pick_carry(requested, one, many, keys, existing) -> list[str]:
    """Validate a group_left/right label-carry list against the ONE
    side's columns (must exist there; must not collide with what the
    MANY side already contributes)."""
    picked = []
    for lbl in requested:
        if lbl not in one.columns:
            raise ValueError(
                f"carry label {lbl!r} absent from the one side"
            )
        if lbl in keys or lbl in existing or lbl in many.columns:
            raise ValueError(
                f"carry label {lbl!r} collides with an output column"
            )
        picked.append(lbl)
    return picked


def query(
    querier: Querier,
    text: str,
    mint_ms: int | None = None,
    maxt_ms: int | None = None,
    step_ms: int | None = None,
) -> DataFrame:
    """Parse + compile in one call. `step_ms` is the /query_range
    evaluation step (sliding windows when smaller than a range
    function's window — see compile_expr)."""
    return compile_expr(parse(text), querier, mint_ms, maxt_ms, step_ms)


def rule_group(
    querier,
    rules: dict[str, str],
    mint_ms: int | None = None,
    maxt_ms: int | None = None,
    step_ms: int | None = None,
) -> DataFrame:
    """Evaluate a Prometheus recording-rule GROUP as one batch job
    (the ruler's evaluation cycle, batched): each rule's expression
    compiles against a SHARED memo cache, so selectors and whole
    subexpressions repeated across rules — the normal case in real rule
    files, where a ratio rule reuses the aggregates its sibling rules
    record — compile to the same DataFrame object and are persisted on
    second reference (one fact scan + one window shuffle per distinct
    subtree for the WHOLE group, not per rule). Output: each rule's
    result tagged with a `rule` column, unioned by name (rules may
    produce different label sets; missing columns null-fill).

    At 100 TB a rule group is exactly a multi-query batch: sharing
    scans across the group is the difference between N passes over the
    store and one."""
    cache: dict = {}
    if step_ms is not None:
        cache["__step_ms__"] = int(step_ms)
    outs = []
    for name in sorted(rules):
        df = _compile(parse(rules[name]), querier, mint_ms, maxt_ms, cache)
        outs.append(df.withColumn("rule", F.lit(name)))
    out = outs[0]
    for df in outs[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


def materialize_rules(
    querier,
    rules: dict[str, str],
    store_path: str,
    block_ms: int = 7_200_000,
    mint_ms: int | None = None,
    maxt_ms: int | None = None,
    step_ms: int | None = None,
) -> None:
    """The ruler's WRITE-BACK: evaluate a recording-rule group (shared
    compile memo, see rule_group) and persist the results as new
    series in a registry-committed block store — `__name__` = the rule
    name, labels = the rule's grouping columns, series ids from the
    engine-wide canonical label-set hash (the same identity every
    ingest path derives). The store is then queryable like any other
    (`querier_from_store`), closing the evaluate -> persist -> query
    loop. Rules must produce the (labels..., bucket_ms, value) shape;
    NULL values (e.g. division by an absent denominator) are not
    recorded, matching Prometheus (no sample, not NaN)."""
    from agni_spark.datamodel import label_set_id
    from agni_spark.sources import layout

    out = rule_group(querier, rules, mint_ms, maxt_ms, step_ms)
    label_cols = [
        c for c in out.columns if c not in ("rule", "bucket_ms", "value")
    ]
    pairs = [F.lit("__name__"), F.col("rule")]
    for c in label_cols:
        pairs += [F.lit(c), F.col(c).cast("string")]
    labels = F.map_filter(
        F.create_map(*pairs), lambda k, v: v.isNotNull()
    )
    tagged = (
        out.where(F.col("value").isNotNull())
        .withColumn("labels", labels)
        .withColumn("series_id", label_set_id(F.col("labels")))
    )
    series = tagged.select("series_id", "labels").dropDuplicates(["series_id"])
    samples = tagged.select(
        "series_id", F.col("bucket_ms").alias("ts_ms"), "value"
    )
    layout.write_blocks(
        samples, store_path, block_ms=block_ms, mode="append", series=series
    )
