"""Mini-PromQL range-query evaluator compiled to DataFrame plans.

The reference library is the storage engine UNDER Prometheus's PromQL
evaluator (promql/engine.go evaluates expressions by pulling raw series
through exactly the Querier.Select surface this engine re-implements,
with a 5m lookback for instant selectors and (T-R, T] windows for range
selectors). A user switching storage still runs PromQL on top — so the
engine ships the common range-query subset as a first-class relational
compiler:

    expr      := binary expression over unary with PromQL precedence
                 (or < and|unless < comparisons < +- < */%/atan2 < ^),
                 comparisons take an optional `bool` modifier, every
                 vector-vector op takes optional
                 on(l,...) | ignoring(l,...) and group_left/group_right
    unary     := aggregate | function | selector | number
    aggregate := (sum|avg|min|max|count|stddev|stdvar|group)
                   [by|without (l,...)] (expr)
               | (topk|bottomk|quantile) [by|without (l,...)] (number, expr)
               | count_values [by|without (l,...)] ('"label"', expr)
               | limitk(k, expr) | limit_ratio(r, expr)  -- deterministic
                 series sampling on the md5 identity hash
    function  := rangefn '(' (matrix | expr '[' R ':' [S] ']') ')'
                                                 -- windows + subqueries
               | quantile_over_time '(' number ',' matrix ')'
               | predict_linear '(' matrix ',' number ')'
               | histogram_quantile '(' number ',' expr ')'
               | absent '(' selector ')' | absent_over_time '(' matrix ')'
               | label_replace '(' expr ',' dst ',' repl ',' src ',' re ')'
               | label_join '(' expr ',' dst ',' sep [',' src]* ')'
               | sort '(' expr ')' | sort_desc '(' expr ')'
               | sort_by_label[_desc] '(' expr [',' "label"]+ ')'
               | time '(' ')' | vector '(' number ')'
               | scalar '(' expr ')'  -- per-step dynamic scalar:
                 value of the 1-element vector, NaN otherwise; usable
                 on either side of arithmetic/comparisons
               | timefn '(' [expr] ')'   -- minute hour day_of_week
                 day_of_month day_of_year days_in_month month year;
                 no arg → the grid timestamp (UTC)
               | valuefn '(' expr [',' number]* ')'  -- abs ceil floor ...
    rangefn   := rate increase delta irate idelta resets changes deriv
                 avg_over_time min_over_time max_over_time sum_over_time
                 count_over_time last_over_time present_over_time
                 stddev_over_time stdvar_over_time mad_over_time
                 ts_of_max_over_time ts_of_min_over_time
                 ts_of_last_over_time
                 holt_winters/double_exponential_smoothing(m[R], sf, tf)
    valuefn   := abs ceil floor sqrt exp ln log2 log10 sgn
                 clamp clamp_min clamp_max round timestamp
                 sin cos tan asin acos atan sinh cosh tanh deg rad;
                 pi() parses as a scalar literal
    matrix    := selector '[' duration ']' [modifiers]
    selector  := metric{label op "value", ...} [modifiers]
    modifiers := ('offset' duration | '@' (unix_s | start() | end()))*

Vector-vector arithmetic uses PromQL's one-to-one matching (full label
set minus __name__ by default, or the on()/ignoring() subset; the
result carries the matching labels, and group_left/group_right keeps
the many side's full label set). Set operators and/or/unless keep LHS
elements untouched (or unions the unmatched RHS), matching on the same
signature.

Evaluation model (the scale-shape insight): a range query at
(start, end, step) needs, for every grid point T, an aggregate over the
window (T-R, T] per series. Instead of evaluating the grid pointwise
(Prometheus's in-process loop — a driver-side anti-pattern here), every
sample is EXPLODED to the grid points whose window it falls into
(`sequence()` fan-out, bounded by R/step + 1 cells per sample — a
constant chosen by the query, never data-dependent), then ONE combinable
groupBy((series, T)) computes the window aggregate. Two shuffles
end-to-end for a full `sum by (l) (rate(m[R]))`: samples→(series,T)
cells, then (series,T)→(group,T). Both keys are fine-grained (series ×
grid), so no hot key exists at any corpus size; counter-reset
corrections ride a per-series lag computed once before the fan-out.

All window math runs on integer centi-units (round(v*100), the same
canonicalization the query-function suite uses) so sums are
order-independent; the only doubles are final deterministic scalar
expressions — the PromQL extrapolation formula reproduced from
promql/functions.go extrapolatedRate, the least-squares slope from
promql/functions.go linearRegression (computed from exact integer /
decimal sums so the double result is bit-stable across engines), and
the bucket interpolation from promql/quantile.go bucketQuantile.

Documented deviations from upstream PromQL (all intentional, all
pinned by tests): values are centi-unit-canonicalized; scalar
arithmetic keeps the metric name (upstream drops it); `round` uses
floor(x/to + 0.5) (differs from Go math.Round only at negative .5
boundaries); ln/log of out-of-domain values yields NULL-filtered rows
rather than NaN points; subquery inner points are re-canonicalized to
centi-units before the outer window; @-modifiers are out of scope.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field, replace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tsdb_spark import labels as L

#: PromQL default lookback window for instant selectors (staleness).
DEFAULT_LOOKBACK_MS = 300_000

_DUR_RE = re.compile(r"(\d+)(ms|s|m|h|d|w|y)")
_DUR_MS = {
    "ms": 1,
    "s": 1000,
    "m": 60_000,
    "h": 3_600_000,
    "d": 86_400_000,
    "w": 7 * 86_400_000,
    "y": 365 * 86_400_000,
}

AGG_OPS = ("sum", "avg", "min", "max", "count", "stddev", "stdvar", "group")
#: aggregations taking a leading parameter: topk(3, e), quantile(0.9, e),
#: count_values("label", e) — the last takes a string (the output label)
PARAM_AGGS = ("topk", "bottomk", "quantile", "count_values",
              "limitk", "limit_ratio")
RANGE_FNS = (
    "rate",
    "increase",
    "delta",
    "irate",
    "idelta",
    "resets",
    "changes",
    "deriv",
    "predict_linear",
    "avg_over_time",
    "min_over_time",
    "max_over_time",
    "sum_over_time",
    "count_over_time",
    "last_over_time",
    "present_over_time",
    "stddev_over_time",
    "stdvar_over_time",
    "quantile_over_time",
    "mad_over_time",
    "ts_of_max_over_time",
    "ts_of_min_over_time",
    "ts_of_last_over_time",
    "holt_winters",
    "double_exponential_smoothing",  # the post-2.x upstream name
)
#: the two holt aliases share one implementation
_HOLT_FNS = ("holt_winters", "double_exponential_smoothing")
#: grid-time component functions (UTC, like upstream)
TIME_FNS = (
    "minute",
    "hour",
    "day_of_week",
    "day_of_month",
    "day_of_year",
    "days_in_month",
    "month",
    "year",
)
#: elementwise value transforms (vector → vector); extra scalar args
#: allowed where noted in the grammar
VALUE_FNS = (
    "abs",
    "ceil",
    "floor",
    "sqrt",
    "exp",
    "ln",
    "log2",
    "log10",
    "sgn",
    "clamp",
    "clamp_min",
    "clamp_max",
    "round",
    "timestamp",
    # trigonometric functions (upstream 2.31+, promql/functions.go
    # funcSin...; simpleFunc wrappers over the math package)
    "sin",
    "cos",
    "tan",
    "asin",
    "acos",
    "atan",
    "sinh",
    "cosh",
    "tanh",
    "asinh",
    "acosh",
    "atanh",
    "deg",
    "rad",
)
SET_OPS = ("and", "or", "unless")
CMP_OPS = ("==", "!=", ">", "<", ">=", "<=")

#: binary-operator precedence (PromQL: or < and/unless < cmp < +- < */% < ^)
_PREC = {
    "or": 1,
    "and": 2,
    "unless": 2,
    "==": 3,
    "!=": 3,
    "<=": 3,
    "<": 3,
    ">=": 3,
    ">": 3,
    "+": 4,
    "-": 4,
    "*": 5,
    "/": 5,
    "%": 5,
    "atan2": 5,  # upstream: same precedence as * / %
    "^": 6,
}


def parse_duration(s: str) -> int:
    """'5m' / '1h30m' / '250ms' → milliseconds. '0' (any unit, or bare)
    is a valid zero duration, like upstream model.ParseDuration; range
    brackets reject zero at their own parse sites."""
    if s == "0":
        return 0
    pos, total = 0, 0
    while pos < len(s):
        m = _DUR_RE.match(s, pos)
        if m is None:
            raise ValueError(f"invalid duration: {s!r}")
        total += int(m.group(1)) * _DUR_MS[m.group(2)]
        pos = m.end()
    if pos == 0:
        raise ValueError(f"empty duration: {s!r}")
    return total


# ---------------------------------------------------------------- AST


@dataclass
class Number:
    val: float


@dataclass
class Selector:
    matchers: list  # list[L.Matcher]
    range_ms: int | None = None  # set for matrix selectors
    offset_ms: int = 0  # `offset 5m` time shift
    #: `@ <unix-s>` pin — int ms, or the "start()"/"end()" sentinel
    #: resolved against the outermost query bounds at eval time
    at_ms: int | str | None = None


@dataclass
class FuncCall:
    fn: str
    arg: Selector  # matrix selector
    #: quantile_over_time φ, predict_linear t, holt_winters (sf, tf)
    param: float | tuple | None = None


@dataclass
class Subquery:
    """`expr[R:S]` — the inner expression evaluated on its own
    absolute-S-aligned grid, whose output points feed the enclosing
    window function like samples (promql/engine.go evalSubquery).
    S omitted → the outer evaluation step."""

    child: object
    range_ms: int
    step_ms: int | None = None
    offset_ms: int = 0
    at_ms: int | str | None = None  # `@` pin, as on Selector


@dataclass
class ValueFn:
    """Elementwise value transform; drops __name__ (PromQL rule)."""

    fn: str
    child: object
    params: list[float] = field(default_factory=list)


@dataclass
class LabelTransform:
    """label_replace(v, dst, repl, src, regex) / label_join(v, dst,
    sep, src...) — pure label-map rewrites (promql/functions.go
    funcLabelReplace / funcLabelJoin); an empty resulting value removes
    the destination label."""

    fn: str  # "label_replace" | "label_join"
    child: object
    args: list[str] = field(default_factory=list)


@dataclass
class HistQuantile:
    """histogram_quantile(φ, e): per (labels − le, T) bucket
    interpolation over cumulative `le` counts (promql/quantile.go)."""

    phi: float
    child: object


@dataclass(frozen=True)
class Info:
    """info(v[, {data-label-selector}]) — promql/info.go (prometheus
    3.x, promql-experimental-functions): enrich v's series with the
    data labels of `target_info` series sharing the identifying labels
    (instance, job). Samples with no matching info series pass through
    unchanged; data labels never overwrite labels v already carries."""

    child: object
    matchers: tuple = ()


@dataclass(frozen=True)
class HistFn:
    """Native-histogram functions over an `h`-carrying frame
    (nativehist.py): histogram_count/sum/avg (funcHistogramCount/Sum/
    Avg), histogram_fraction(lo, hi, e), and the native dispatch of
    histogram_quantile (fn == "quantile", φ in `lo`). The child must be
    an instant selector — native histogram samples don't flow through
    float arithmetic, matching upstream's histogram-vs-float sample
    split."""

    fn: str
    child: object
    lo: float = 0.0
    hi: float = 0.0


@dataclass
class Absent:
    """absent(v) / absent_over_time(m[r]): 1 at grid points where the
    argument yields nothing; labels derived from a plain selector's eq
    matchers (createLabelsForAbsentFunction) — any other expression
    form yields the empty label set, as upstream."""

    sel: object  # Selector, or any instant-vector expression node


@dataclass
class Aggregate:
    op: str
    child: object
    by: list[str] | None = None
    without: list[str] | None = None
    #: topk/bottomk k, quantile φ; count_values output-label name (str)
    param: float | str | None = None


@dataclass
class TimeFn:
    """time() / vector(n) / the calendar component functions
    (promql/functions.go funcTime, funcVector, funcHour...). With no
    child the value derives from the grid timestamp itself (upstream's
    `hour(v=vector(time()))` default); with a child, from the child's
    values read as epoch seconds. All components are UTC."""

    fn: str  # "time" | "vector" | one of TIME_FNS
    child: object | None = None
    scalar: float | None = None  # vector(n)'s n


@dataclass
class ScalarOf:
    """scalar(v): the one-element vector's value per step, NaN when the
    cardinality isn't exactly 1 (promql/functions.go funcScalar)."""

    child: object


@dataclass
class BinDynScalar:
    """vector op scalar(expr): the scalar side is a per-step value, so
    the op joins on the grid time alone — the scalar frame is
    grid-sized and broadcast."""

    op: str
    child: object  # the vector side
    scalar: object  # a ScalarOf (or any no-label per-step producer)
    scalar_left: bool = False
    cmp_bool: bool = False


@dataclass
class Sort:
    """sort(v) / sort_desc(v) / sort_by_label(v, "l", ...): ordered
    presentation of the result vector (promql/functions.go funcSort,
    funcSortByLabel) — a pure output ordering, applied by
    RangeQuery.run as the final orderBy."""

    child: object
    desc: bool = False
    by_labels: list[str] | None = None  # sort_by_label keys


@dataclass
class BinScalar:
    op: str  # + - * / % ^ or a comparison
    child: object
    scalar: float
    scalar_left: bool = False
    cmp_bool: bool = False  # `bool` modifier on comparisons


@dataclass
class BinVector:
    """Vector-vector arithmetic/comparison with one-to-one label
    matching: full label sets minus __name__ by default, or the
    on()/ignoring() subset; group_left/group_right allows many-to-one
    with the many side keeping its label set."""

    op: str
    left: object
    right: object
    cmp_bool: bool = False
    on: list[str] | None = None
    ignoring: list[str] | None = None
    group_side: str | None = None  # "left" | "right"
    #: group_left(lbl,...) / group_right(lbl,...): labels COPIED from
    #: the "one" side onto the result (promql/engine.go resultMetric —
    #: an included label absent on the one side is dropped)
    group_labels: list[str] | None = None


@dataclass
class BinSet:
    """and / or / unless — LHS elements kept (or RHS unmatched ones
    unioned for `or`), matched on the binop signature."""

    op: str
    left: object
    right: object
    on: list[str] | None = None
    ignoring: list[str] | None = None


@dataclass
class _Tok:
    kind: str
    val: str


_TOKEN_RE = re.compile(
    r"\s*(?:(?P<off>offset\s+-?[0-9][0-9a-zA-Z]*)"
    r"|(?P<num>\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)"
    r"|(?P<name>[a-zA-Z_:][a-zA-Z0-9_:]*)"
    r"|(?P<brace>\{(?:[^\"{}]|\"(?:[^\"\\]|\\.)*\")*\})"
    r"|(?P<qstr>\"(?:[^\"\\]|\\.)*\")"
    r"|(?P<dur>\[[0-9a-z]+(?::[0-9a-z]*)?\])"
    r"|(?P<op>==|!=|<=|>=|[()+\-*/,<>%^@]))"
)


def _tokenize(s: str) -> list[_Tok]:
    toks, pos = [], 0
    while pos < len(s):
        m = _TOKEN_RE.match(s, pos)
        if m is None or m.end() == pos:
            if s[pos:].strip() == "":
                break
            raise ValueError(f"parse error at {s[pos:pos+20]!r}")
        for kind in ("off", "num", "name", "brace", "qstr", "dur", "op"):
            v = m.group(kind)
            if v is not None:
                toks.append(_Tok(kind, v))
                break
        pos = m.end()
    return toks


class _Parser:
    def __init__(self, toks: list[_Tok]):
        self.toks, self.i = toks, 0

    def peek(self) -> _Tok | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> _Tok:
        t = self.peek()
        if t is None:
            raise ValueError("unexpected end of expression")
        self.i += 1
        return t

    def expect(self, val: str) -> None:
        t = self.next()
        if t.val != val:
            raise ValueError(f"expected {val!r}, got {t.val!r}")

    def _next_num(self) -> float:
        t = self.next()
        sign = 1.0
        if t.val in ("-", "+"):  # signed scalar parameter
            sign = -1.0 if t.val == "-" else 1.0
            t = self.next()
        if t.kind != "num":
            raise ValueError(f"expected a number, got {t.val!r}")
        return sign * float(t.val)

    # -- binary expressions: precedence climbing -------------------

    def _peek_binop(self) -> str | None:
        t = self.peek()
        if t is None:
            return None
        if t.kind == "op" and t.val in _PREC:
            return t.val
        if t.kind == "name" and (t.val in SET_OPS or t.val == "atan2"):
            return t.val
        return None

    def parse_expr(self, min_prec: int = 1, left=None):
        node = left if left is not None else self.parse_unary()
        while (op := self._peek_binop()) is not None and _PREC[op] >= min_prec:
            self.next()
            cmp_bool = False
            t = self.peek()
            if op in CMP_OPS and t is not None and t.kind == "name" and t.val == "bool":
                self.next()
                cmp_bool = True
            on = ignoring = None
            t = self.peek()
            if t is not None and t.kind == "name" and t.val in ("on", "ignoring"):
                mode = self.next().val
                names = self._parse_label_list()
                if mode == "on":
                    on = names
                else:
                    ignoring = names
            group_side = group_labels = None
            t = self.peek()
            if t is not None and t.kind == "name" and t.val in (
                "group_left",
                "group_right",
            ):
                group_side = self.next().val.removeprefix("group_")
                # optional include-label list: group_left(lbl, ...) —
                # a '(' directly after group_* is ALWAYS the label list
                # (the upstream parser's documented ambiguity rule;
                # parenthesize the RHS differently if you meant an expr)
                t = self.peek()
                if t is not None and t.val == "(":
                    # empty parens are legal upstream (maybe_grouping_
                    # labels) and mean "no include labels"
                    group_labels = self._parse_label_list() or None
                    bad = [g for g in (group_labels or []) if on and g in on]
                    if bad:
                        raise ValueError(
                            f"label {bad[0]!r} must not occur in ON and "
                            "group_* lists at the same time"
                        )
            # ^ is right-associative; everything else left-associative
            rhs = self.parse_expr(_PREC[op] + (0 if op == "^" else 1))
            node = self._mk_binop(
                op, node, rhs, cmp_bool, on, ignoring, group_side, group_labels
            )
        return node

    def _mk_binop(
        self, op, left, right, cmp_bool, on, ignoring, group_side,
        group_labels=None,
    ):
        if op in SET_OPS:
            if isinstance(left, (Number, ScalarOf)) or isinstance(
                right, (Number, ScalarOf)
            ):
                raise ValueError(f"set operator {op!r} needs vector operands")
            if group_side is not None:
                # parse.go checkAST: no grouping allowed for and/or/unless
                raise ValueError(
                    f"no grouping allowed for {op!r} operation"
                )
            return BinSet(op, left, right, on=on, ignoring=ignoring)
        if isinstance(left, Number) and isinstance(right, Number):
            # scalar/scalar: constant-fold at parse time (upstream's
            # engine evaluates these as scalar-typed expressions;
            # comparisons require the bool modifier — parse.go checkAST)
            if op in CMP_OPS and not cmp_bool:
                raise ValueError(
                    "comparisons between scalars must use BOOL modifier"
                )
            return Number(_scalar_arith(op, left.val, right.val, cmp_bool))
        if (on is not None or ignoring is not None or group_side is not None) and (
            isinstance(left, (Number, ScalarOf))
            or isinstance(right, (Number, ScalarOf))
        ):
            # upstream parser: promql/parser/parse.go checkAST rejects
            # vector-matching modifiers when an operand is a scalar
            raise ValueError(
                "vector matching only allowed between instant vectors"
            )
        if isinstance(left, Number):
            return BinScalar(op, right, left.val, scalar_left=True, cmp_bool=cmp_bool)
        if isinstance(right, Number):
            return BinScalar(op, left, right.val, cmp_bool=cmp_bool)
        if _scalar_typed(left) and _scalar_typed(right):
            # scalar op scalar stays scalar-typed (e.g.
            # scalar(a) + scalar(b), time() * scalar(x)) — upstream
            # checkAST types it scalar, so vector() accepts it and
            # /api/v1/query renders resultType "scalar". Comparisons
            # between scalars need the bool modifier like any pair.
            if op in CMP_OPS and not cmp_bool:
                raise ValueError(
                    "comparisons between scalars must use BOOL modifier"
                )
            return BinDynScalar(op, left, right, cmp_bool=cmp_bool)
        if isinstance(left, ScalarOf) and not isinstance(right, ScalarOf):
            return BinDynScalar(op, right, left, scalar_left=True, cmp_bool=cmp_bool)
        if isinstance(right, ScalarOf) and not isinstance(left, ScalarOf):
            return BinDynScalar(op, left, right, cmp_bool=cmp_bool)
        return BinVector(
            op,
            left,
            right,
            cmp_bool=cmp_bool,
            on=on,
            ignoring=ignoring,
            group_side=group_side,
            group_labels=group_labels,
        )

    def parse_unary(self):
        t = self.peek()
        if t is None:
            raise ValueError("empty expression")
        if t.kind == "op" and t.val in ("-", "+"):
            # unary +/- (promql/parser: UnaryExpr) binds tighter than
            # every binary operator except ^ — `-2^2 == -(2^2)` — so the
            # operand parses at ^'s precedence level
            self.next()
            node = self.parse_expr(_PREC["^"])
            if t.val == "+":
                return node
            if isinstance(node, Number):
                return Number(-node.val)
            return BinScalar("*", node, -1.0)
        if t.val == "(":
            self.next()
            node = self.parse_expr()
            self.expect(")")
            return node
        if t.kind == "num":
            self.next()
            return Number(float(t.val))
        def _next_is_paren() -> bool:
            # function/aggregation names are NOT reserved words: a bare
            # `info` or `sum` without a following '(' (or the agg's
            # trailing by/without) is an ordinary metric selector, as in
            # upstream promql/parser
            nxt = self.toks[self.i + 1] if self.i + 1 < len(self.toks) else None
            return nxt is not None and nxt.val in ("(", "by", "without")

        if t.kind == "name" and t.val in AGG_OPS + PARAM_AGGS and _next_is_paren():
            return self.parse_aggregate()
        if t.kind == "name" and _next_is_paren() and (
            t.val in RANGE_FNS
            or t.val in VALUE_FNS
            or t.val in TIME_FNS
            or t.val
            in (
                "histogram_quantile",
                "histogram_count",
                "histogram_sum",
                "histogram_avg",
                "histogram_fraction",
                "histogram_stddev",
                "histogram_stdvar",
                "info",
                "absent",
                "absent_over_time",
                "label_replace",
                "label_join",
                "sort",
                "sort_desc",
                "sort_by_label",
                "sort_by_label_desc",
                "time",
                "vector",
                "scalar",
                "pi",
            )
        ):
            return self.parse_function()
        return self.parse_selector_expr()

    def _parse_label_list(self) -> list[str]:
        self.expect("(")
        names: list[str] = []
        while True:
            t = self.next()
            if t.val == ")":
                break
            if t.val == ",":
                continue
            if t.kind == "qstr":
                # Prometheus 3.x quoted (UTF-8) label names in grouping
                # clauses: by ("label.with.dots")
                names.append(
                    re.sub(
                        r"\\(.)",
                        lambda e: {"n": "\n", "t": "\t"}.get(
                            e.group(1), e.group(1)
                        ),
                        t.val[1:-1],
                    )
                )
                continue
            if t.kind != "name":
                raise ValueError(f"bad grouping label {t.val!r}")
            names.append(t.val)
        return names

    def _parse_grouping(self) -> tuple[str, list[str]]:
        mode = self.next().val  # by | without
        return mode, self._parse_label_list()

    def _parse_modifiers(self) -> tuple[int, int | str | None]:
        """Trailing `offset D` / `@ T` modifiers, in either order
        (promql/parser accepts both); `@ start()` / `@ end()` become
        sentinels resolved against the outermost query bounds."""
        offset_ms: int = 0
        at_ms: int | str | None = None
        while (t := self.peek()) is not None and (
            t.kind == "off" or t.val == "@"
        ):
            if t.kind == "off":
                d = self.next().val[len("offset"):].strip()
                # negative offsets look forward in time (upstream
                # --enable-feature=promql-negative-offset, default-on
                # since 2.x); every consumer treats offset_ms as a pure
                # time translation so the sign simply flows through
                if d.startswith("-"):
                    offset_ms = -parse_duration(d[1:])
                else:
                    offset_ms = parse_duration(d)
                continue
            self.next()
            nt = self.next()
            if nt.kind == "num":
                at_ms = int(float(nt.val) * 1000)
            elif nt.kind == "name" and nt.val in ("start", "end"):
                self.expect("(")
                self.expect(")")
                at_ms = nt.val + "()"
            else:
                raise ValueError(f"bad @ modifier operand {nt.val!r}")
        return offset_ms, at_ms

    def parse_aggregate(self):
        op = self.next().val
        by = without = None
        t = self.peek()
        if t is not None and t.kind == "name" and t.val in ("by", "without"):
            mode, names = self._parse_grouping()
            if mode == "by":
                by = names
            else:
                without = names
        self.expect("(")
        param = None
        if op == "count_values":
            s = self.next()
            if s.kind != "qstr":
                raise ValueError("count_values takes a quoted label name")
            param = s.val[1:-1]
            self.expect(",")
        elif op in PARAM_AGGS:
            param = self._next_num()
            self.expect(",")
        child = self.parse_expr()
        self.expect(")")
        t = self.peek()
        if t is not None and t.kind == "name" and t.val in ("by", "without"):
            if by is not None or without is not None:
                raise ValueError("duplicate grouping clause")
            mode, names = self._parse_grouping()
            if mode == "by":
                by = names
            else:
                without = names
        return Aggregate(op, child, by=by, without=without, param=param)

    def parse_function(self):
        fn = self.next().val
        self.expect("(")
        if fn == "histogram_quantile":
            phi = self._next_num()
            self.expect(",")
            child = self.parse_expr()
            self.expect(")")
            return HistQuantile(phi, child)
        if fn == "info":
            child = self.parse_expr()
            ms: list = []
            t = self.peek()
            if t is not None and t.val == ",":
                self.next()
                s = self.next()
                if s.kind != "brace":
                    raise ValueError(
                        "info() takes a {label-selector} second argument"
                    )
                ms = L.parse_selector(s.val)
            self.expect(")")
            return Info(child, tuple(ms))
        if fn in (
            "histogram_count",
            "histogram_sum",
            "histogram_avg",
            "histogram_stddev",
            "histogram_stdvar",
        ):
            child = self.parse_expr()
            self.expect(")")
            return HistFn(fn, child)
        if fn == "histogram_fraction":
            lo = self._next_num()
            self.expect(",")
            hi = self._next_num()
            self.expect(",")
            child = self.parse_expr()
            self.expect(")")
            return HistFn(fn, child, lo=lo, hi=hi)
        if fn in ("label_replace", "label_join"):
            child = self.parse_expr()
            strs: list[str] = []
            while (t := self.peek()) is not None and t.val == ",":
                self.next()
                s = self.next()
                if s.kind != "qstr":
                    raise ValueError(f"{fn} takes string arguments, got {s.val!r}")
                strs.append(s.val[1:-1].replace('\\"', '"').replace("\\\\", "\\"))
            self.expect(")")
            want = 4 if fn == "label_replace" else None
            if want is not None and len(strs) != want:
                raise ValueError(f"{fn} takes {want} string arguments")
            if fn == "label_join" and len(strs) < 2:
                raise ValueError("label_join needs dst, sep, and sources")
            return LabelTransform(fn, child, strs)
        if fn in ("sort", "sort_desc"):
            child = self.parse_expr()
            self.expect(")")
            return Sort(child, desc=fn == "sort_desc")
        if fn in ("sort_by_label", "sort_by_label_desc"):
            child = self.parse_expr()
            lbls: list[str] = []
            while (t := self.peek()) is not None and t.val == ",":
                self.next()
                s = self.next()
                if s.kind != "qstr":
                    raise ValueError(f"{fn} takes quoted label names")
                lbls.append(s.val[1:-1])
            self.expect(")")
            if not lbls:
                raise ValueError(f"{fn} needs at least one label")
            return Sort(child, desc=fn.endswith("_desc"), by_labels=lbls)
        if fn == "pi":
            self.expect(")")
            return Number(math.pi)
        if fn == "scalar":
            child = self.parse_expr()
            self.expect(")")
            return ScalarOf(child)
        if fn == "time":
            self.expect(")")
            return TimeFn("time")
        if fn == "vector":
            inner = self.parse_expr()
            self.expect(")")
            if isinstance(inner, Number):
                return TimeFn("vector", scalar=inner.val)
            # vector(<scalar expr>): time()/scalar(...) and arithmetic
            # over them (upstream funcVector) — type-checked at parse,
            # like upstream's checkAST
            if not _scalar_typed(inner):
                raise ValueError("vector() takes a scalar-typed expression")
            return TimeFn("vector", child=inner)
        if fn in TIME_FNS:
            t = self.peek()
            if t is not None and t.val == ")":
                self.next()
                return TimeFn(fn)
            child = self.parse_expr()
            self.expect(")")
            return TimeFn(fn, child)
        if fn == "absent":
            # any instant-vector expression (upstream funcAbsent);
            # labels are inferred only for the plain-selector form
            child = self.parse_expr()
            self.expect(")")
            if isinstance(child, Number):
                raise ValueError("absent() needs an instant vector")
            return Absent(child)
        if fn == "absent_over_time":
            sel = self.parse_selector_expr(require_range=True)
            self.expect(")")
            return Absent(sel)
        if fn in RANGE_FNS:
            param = None
            if fn == "quantile_over_time":
                param = self._next_num()
                self.expect(",")
            arg = self._parse_range_operand()
            if fn == "predict_linear":
                self.expect(",")
                param = self._next_num()
            if fn in _HOLT_FNS:
                self.expect(",")
                sf = self._next_num()
                self.expect(",")
                tf = self._next_num()
                param = (sf, tf)
            self.expect(")")
            return FuncCall(fn, arg, param=param)
        # value transform: fn(expr [, number]*)
        child = self.parse_expr()
        params: list[float] = []
        while (t := self.peek()) is not None and t.val == ",":
            self.next()
            params.append(self._next_num())
        self.expect(")")
        want = {"clamp": 2, "clamp_min": 1, "clamp_max": 1}.get(fn)
        if want is not None and len(params) != want:
            raise ValueError(f"{fn} takes {want} scalar parameter(s)")
        if fn == "round" and len(params) > 1:
            raise ValueError("round takes at most one scalar parameter")
        return ValueFn(fn, child, params)

    def _parse_range_operand(self):
        """Matrix selector `m{...}[R]` or subquery `expr[R:S]` — the
        two shapes a window function accepts."""
        t = self.peek()
        # fast path: a plain (possibly braced) selector — let it consume
        # its own [R] so `rate(m[5m])` parses as before
        if t is not None and t.kind in ("name", "brace") and not (
            t.kind == "name"
            and (
                t.val in AGG_OPS + PARAM_AGGS
                or t.val in RANGE_FNS
                or t.val in VALUE_FNS
                or t.val in TIME_FNS
                or t.val
                in (
                    "histogram_quantile",
                    "absent",
                    "absent_over_time",
                    "label_replace",
                    "label_join",
                    "sort",
                    "sort_desc",
                    "sort_by_label",
                    "sort_by_label_desc",
                    "time",
                    "vector",
                    "scalar",
                    "pi",
                )
            )
        ):
            sel = self.parse_selector_expr(allow_range=True)
            if sel.range_ms is not None:
                return sel
            node = self.parse_expr(left=sel)
        else:
            node = self.parse_expr()
        d = self.peek()
        if d is None or d.kind != "dur" or ":" not in d.val:
            raise ValueError("range function needs a [duration] or [R:S] operand")
        rng_txt, step_txt = self.next().val[1:-1].split(":", 1)
        range_ms = parse_duration(rng_txt)
        step_ms = parse_duration(step_txt) if step_txt else None
        if range_ms <= 0 or (step_ms is not None and step_ms <= 0):
            raise ValueError("subquery range and step must be > 0")
        offset_ms, at_ms = self._parse_modifiers()
        return Subquery(node, range_ms, step_ms, offset_ms, at_ms)

    def parse_selector_expr(
        self, require_range: bool = False, allow_range: bool = False
    ) -> Selector:
        t = self.peek()
        text = ""
        if t is not None and t.kind == "name":
            text = self.next().val
        t = self.peek()
        if t is not None and t.kind == "brace":
            text += self.next().val
        if not text:
            raise ValueError("expected a series selector")
        matchers = L.parse_selector(text)
        range_ms = None
        t = self.peek()
        # colon-durs are subquery brackets — left for the caller
        if t is not None and t.kind == "dur" and ":" not in t.val:
            range_ms = parse_duration(self.next().val[1:-1])
            if range_ms <= 0:
                raise ValueError("matrix selector range must be > 0")
        if require_range and range_ms is None:
            raise ValueError("range function needs a [duration] selector")
        if not (require_range or allow_range) and range_ms is not None:
            raise ValueError("matrix selector outside a range function")
        offset_ms, at_ms = self._parse_modifiers()
        return Selector(matchers, range_ms, offset_ms=offset_ms, at_ms=at_ms)


def parse_expr(s: str):
    """Parse a PromQL-subset expression string into the AST."""
    p = _Parser(_tokenize(s))
    node = p.parse_expr()
    if p.peek() is not None:
        raise ValueError(f"trailing input: {p.peek().val!r}")
    # top-level Number = a scalar-typed query (e.g. `pi()`, `1+1`):
    # evaluates to one value per grid step, like upstream's Scalar type
    return node


def fmt_duration(ms: int) -> str:
    """Compact PromQL duration rendering (promql/parser ExprString:
    model.Duration.String) — largest units first, no zero parts."""
    if ms == 0:
        return "0s"
    neg, ms = ms < 0, abs(ms)
    parts = []
    for unit, w in (
        ("w", 604_800_000),
        ("d", 86_400_000),
        ("h", 3_600_000),
        ("m", 60_000),
        ("s", 1_000),
        ("ms", 1),
    ):
        if ms >= w:
            n, ms = divmod(ms, w)
            parts.append(f"{n}{unit}")
    return ("-" if neg else "") + "".join(parts)


def _fmt_num(v) -> str:
    if isinstance(v, float) and v == int(v) and abs(v) < 1e15:
        return str(int(v))
    return repr(v)


def render_expr(node) -> str:
    """Pretty-print a parsed AST back to PromQL text — the
    /api/v1/format_query surface (upstream promql/parser ExprString).
    Guarantee: parse_expr(render_expr(parse_expr(s))) == parse_expr(s)
    (asserted by tests/test_promql.py::test_render_roundtrip)."""
    R = render_expr

    def esc(v: str) -> str:
        return v.replace("\\", "\\\\").replace('"', '\\"')

    def at_str(at_ms) -> str:
        if isinstance(at_ms, str):
            return f" @ {at_ms}"
        return f" @ {_fmt_num(at_ms / 1000.0)}"

    def modsfx(n) -> str:
        s = ""
        if getattr(n, "offset_ms", 0):
            s += f" offset {fmt_duration(n.offset_ms)}"
        if getattr(n, "at_ms", None) is not None:
            s += at_str(n.at_ms)
        return s

    def vm(n) -> str:
        s = ""
        if getattr(n, "on", None) is not None:
            s += f" on ({', '.join(n.on)})"
        elif getattr(n, "ignoring", None) is not None:
            s += f" ignoring ({', '.join(n.ignoring)})"
        if getattr(n, "group_side", None) is not None:
            # always render the (possibly empty) include list: a bare
            # `group_left (` would otherwise swallow a parenthesized
            # RHS as its label list on re-parse (the upstream grammar's
            # documented ambiguity — '(' after group_* IS the list)
            incl = ", ".join(getattr(n, "group_labels", None) or [])
            s += f" group_{n.group_side} ({incl})"
        return s

    if isinstance(node, Number):
        return _fmt_num(node.val)
    if isinstance(node, Selector):
        name, ms = "", []
        for m in node.matchers:
            if m.name == "__name__" and m.type == "=" and not name:
                name = m.value
            else:
                ms.append(f'{m.name}{m.type}"{esc(m.value)}"')
        body = name + ("{" + ",".join(ms) + "}" if (ms or not name) else "")
        if node.range_ms is not None:
            body += f"[{fmt_duration(node.range_ms)}]"
        return body + modsfx(node)
    if isinstance(node, Subquery):
        step = fmt_duration(node.step_ms) if node.step_ms else ""
        return (
            f"({R(node.child)})[{fmt_duration(node.range_ms)}:{step}]"
            + modsfx(node)
        )
    if isinstance(node, FuncCall):
        if node.fn == "quantile_over_time":
            return f"{node.fn}({_fmt_num(node.param)}, {R(node.arg)})"
        if node.fn == "predict_linear":
            return f"{node.fn}({R(node.arg)}, {_fmt_num(node.param)})"
        if node.fn in _HOLT_FNS and node.param is not None:
            sf, tf = node.param
            return f"{node.fn}({R(node.arg)}, {_fmt_num(sf)}, {_fmt_num(tf)})"
        return f"{node.fn}({R(node.arg)})"
    if isinstance(node, ValueFn):
        args = "".join(f", {_fmt_num(p)}" for p in node.params)
        return f"{node.fn}({R(node.child)}{args})"
    if isinstance(node, Aggregate):
        grp = ""
        if node.by is not None:
            grp = f" by ({', '.join(node.by)}) "
        elif node.without is not None:
            grp = f" without ({', '.join(node.without)}) "
        param = ""
        if node.param is not None:
            param = (
                f'"{esc(node.param)}", '
                if isinstance(node.param, str)
                else f"{_fmt_num(node.param)}, "
            )
        return f"{node.op}{grp}({param}{R(node.child)})"
    if isinstance(node, TimeFn):
        if node.fn == "vector":
            return f"vector({_fmt_num(node.scalar)})"
        if node.child is None:
            return f"{node.fn}()"
        return f"{node.fn}({R(node.child)})"
    if isinstance(node, ScalarOf):
        return f"scalar({R(node.child)})"
    if isinstance(node, Absent):
        if getattr(node.sel, "range_ms", None) is not None:
            return f"absent_over_time({R(node.sel)})"
        return f"absent({R(node.sel)})"
    if isinstance(node, HistQuantile):
        return f"histogram_quantile({_fmt_num(node.phi)}, {R(node.child)})"
    if isinstance(node, HistFn):
        if node.fn == "histogram_fraction":
            return (
                f"histogram_fraction({_fmt_num(node.lo)}, "
                f"{_fmt_num(node.hi)}, {R(node.child)})"
            )
        fn = "histogram_quantile" if node.fn == "quantile" else node.fn
        if node.fn == "quantile":
            return f"{fn}({_fmt_num(node.lo)}, {R(node.child)})"
        return f"{fn}({R(node.child)})"
    if isinstance(node, Info):
        if node.matchers:
            ms = ",".join(
                f'{m.name}{m.type}"{esc(m.value)}"' for m in node.matchers
            )
            return f"info({R(node.child)}, {{{ms}}})"
        return f"info({R(node.child)})"
    if isinstance(node, LabelTransform):
        args = "".join(f', "{esc(a)}"' for a in node.args)
        return f"{node.fn}({R(node.child)}{args})"
    if isinstance(node, Sort):
        if node.by_labels is not None:
            fn = "sort_by_label_desc" if node.desc else "sort_by_label"
            labs = "".join(f', "{esc(s)}"' for s in node.by_labels)
            return f"{fn}({R(node.child)}{labs})"
        return f"{'sort_desc' if node.desc else 'sort'}({R(node.child)})"
    if isinstance(node, BinScalar):
        b = " bool" if node.cmp_bool else ""
        a, c = f"({R(node.child)})", _fmt_num(node.scalar)
        lhs, rhs = (c, a) if node.scalar_left else (a, c)
        return f"{lhs} {node.op}{b} {rhs}"
    if isinstance(node, BinDynScalar):
        b = " bool" if node.cmp_bool else ""
        a, c = f"({R(node.child)})", R(node.scalar)
        lhs, rhs = (c, a) if node.scalar_left else (a, c)
        return f"{lhs} {node.op}{b} {rhs}"
    if isinstance(node, BinVector):
        b = " bool" if node.cmp_bool else ""
        return f"({R(node.left)}) {node.op}{b}{vm(node)} ({R(node.right)})"
    if isinstance(node, BinSet):
        return f"({R(node.left)}) {node.op}{vm(node)} ({R(node.right)})"
    raise TypeError(f"cannot render {node!r}")


def resolve_at(node, start: int, end: int):
    """Resolve `@ start()` / `@ end()` sentinels against the OUTERMOST
    query bounds (the upstream contract — a sentinel inside a subquery
    still refers to the top-level query, promql/parser/ast.go
    StartOrEnd), returning a rewritten AST with int-only at_ms."""

    def walk(n):
        if isinstance(n, (Number, type(None))):
            return n
        if isinstance(n, (Selector, Subquery)) and isinstance(n.at_ms, str):
            n = replace(n, at_ms=start if n.at_ms == "start()" else end)
        for fld in ("child", "arg", "sel", "left", "right", "scalar"):
            # TimeFn.scalar / BinScalar.scalar are primitives — walk
            # passes non-node values through unchanged
            if hasattr(n, fld) and hasattr(getattr(n, fld), "__dataclass_fields__"):
                n = replace(n, **{fld: walk(getattr(n, fld))})
        return n

    return walk(node)


# ---------------------------------------------------------------- eval

_G = "_pq_t"  # grid-time column name during evaluation


def _fdiv(a: Column, b: int) -> Column:
    """Floor division by a positive int (Spark `div` truncates to zero).
    Exact: a - pmod(a,b) is a multiple of b and the magnitudes here stay
    far under 2^53."""
    return ((a - F.pmod(a, F.lit(b))) / F.lit(b)).cast("long")


def _grid_explode(
    df: DataFrame, start: int, end: int, step: int, reach: int
) -> DataFrame:
    """Fan each sample out to the grid points whose window it serves.

    A sample at t belongs to grid point T iff T - reach < t <= T, i.e.
    T ∈ [t, t + reach). Grid points are start + k*step for
    k ∈ [0, (end-start)//step]. Fan-out per sample ≤ reach/step + 1 —
    set by the query, independent of data volume."""
    kmax = (end - start) // step
    k_lo = F.greatest(F.lit(0).cast("long"), _fdiv(F.col("t") - start + step - 1, step))
    k_hi = F.least(F.lit(kmax).cast("long"), _fdiv(F.col("t") + reach - 1 - start, step))
    # a sample whose reach touches no grid point yields k_lo > k_hi —
    # guard with NULL (explode drops it); a bare sequence would count DOWN.
    # k_lo/k_hi are projected once (each is referenced twice by the
    # guard+sequence, and the Generate operator re-evaluates its input
    # expression per row — attribute references keep the bound math one
    # evaluation per SAMPLE and the Generate node small, r11 plan-size
    # pass)
    seq = F.when(
        F.col("_klo") <= F.col("_khi"),
        F.sequence(F.col("_klo"), F.col("_khi")),
    )
    return (
        df.select("*", k_lo.alias("_klo"), k_hi.alias("_khi"))
        .withColumn("_k", F.explode(seq))
        .withColumn(_G, (F.lit(start) + F.col("_k") * step).cast("long"))
        .drop("_k", "_klo", "_khi")
    )


def _with_lag(df: DataFrame) -> DataFrame:
    """Per-series arrival-ordered lag columns for reset/change logic.

    One shuffle on labels_str; computed BEFORE the grid fan-out so each
    adjacent-pair fact is derived once, not once per covering window."""
    from pyspark.sql import Window

    key = "_ent" if "_ent" in df.columns else "labels_str"
    w = Window.partitionBy(key).orderBy("t")
    return df.select(
        *df.columns,
        F.lag("vc").over(w).alias("pvc"),
        F.lag("t").over(w).alias("pt"),
    )


_LAG_FNS = ("rate", "increase", "irate", "idelta", "resets", "changes")
#: window fns computing least-squares sums over x = t - grid_T
_REGRESSION_FNS = ("deriv", "predict_linear")


# window-aggregate builders: (series, T) group → centi-unit columns
def _window_agg(fn: str, range_ms: int, param: float | None = None):
    """The aggregates fn's value is computed from, as (alias, formula
    key, Column) triples. An alias names the same formula in every fn
    that uses it (a shared base block plus per-family extras), so a
    fused chain computing several fns dedupes the union by alias. The
    key equals the alias except for the two aliases whose formula
    depends on the call: pct_c (one per φ) and ts_of (max vs min) — a
    fused chain over two different keys for one alias is not built."""
    out: list = []

    def agg(alias: str, col: Column, key=None) -> None:
        out.append((alias, key or alias, col.alias(alias)))

    vc = F.col("vc")
    fin = F.abs(vc) < _VC_FIN_LIM
    finz = F.when(fin, vc).otherwise(F.lit(0))  # finite part, 0 elsewhere
    agg("n", F.count("*"))
    agg("first_t", F.min("t"))
    agg("last_t", F.max("t"))
    agg("first_c", F.min_by("vc", "t"))
    agg("last_c", F.max_by("vc", "t"))
    # per-window non-finite census: drives the IEEE branch in
    # _window_value and keeps every exact long sum sentinel-free
    agg("n_nan", F.sum(F.when(vc == _VC_NAN, 1).otherwise(F.lit(0))))
    agg("n_pinf", F.sum(F.when(vc == _VC_PINF, 1).otherwise(F.lit(0))))
    agg("n_ninf", F.sum(F.when(vc == _VC_NINF, 1).otherwise(F.lit(0))))
    if fn in ("rate", "increase", "irate", "resets"):
        # counter semantics: per-pair drop facts, first-pair fact excluded
        # when its left neighbor precedes the window. Float comparison
        # rules: a pair with NaN on either side is never a reset
        # (NaN < x and x < NaN are both false upstream); ±Inf pairs ARE
        # resets per the long sentinel order. Integer drop sums stay
        # finite-pairs-only (overflow safety); the decoded double twins
        # carry the ±Inf corrections for the non-finite branch.
        pvc = F.col("pvc")
        nonan = (vc != _VC_NAN) & (pvc != _VC_NAN)
        drop_i = pvc.isNotNull() & fin & (F.abs(pvc) < _VC_FIN_LIM) & (vc < pvc)
        drop_f = pvc.isNotNull() & nonan & (vc < pvc)
        agg("drop_sum", F.sum(F.when(drop_i, pvc).otherwise(F.lit(0))))
        agg("reset_n", F.sum(F.when(drop_f, 1).otherwise(F.lit(0))))
        agg("first_drop", F.min_by(F.when(drop_i, pvc).otherwise(F.lit(0)), "t"))
        agg("first_reset", F.min_by(F.when(drop_f, 1).otherwise(F.lit(0)), "t"))
        agg(
            "drop_sum_d",
            F.sum(F.when(drop_f, _vc_decode(pvc)).otherwise(F.lit(0.0))),
        )
        agg(
            "first_drop_d",
            F.min_by(F.when(drop_f, _vc_decode(pvc)).otherwise(F.lit(0.0)), "t"),
        )
    if fn == "changes":
        chg = (F.col("pvc").isNotNull()) & (F.col("vc") != F.col("pvc"))
        agg("chg_sum", F.sum(F.when(chg, 1).otherwise(F.lit(0))))
        agg("first_chg", F.min_by(F.when(chg, 1).otherwise(F.lit(0)), "t"))
    if fn in ("irate", "idelta"):
        agg("last_pvc", F.max_by("pvc", "t"))
        agg("last_pt", F.max_by("pt", "t"))
    if fn in ("sum_over_time", "avg_over_time"):
        agg("sum_c", F.sum(finz))
    if fn == "min_over_time":
        # finite-only min (null-skipping); ±Inf/NaN resolved from the
        # census in _window_value — NaN is skipped unless all-NaN
        agg("min_c", F.min(F.when(fin, vc)))
    if fn == "max_over_time":
        agg("max_c", F.max(F.when(fin, vc)))
    if fn in ("stddev_over_time", "stdvar_over_time"):
        # exact integer sums (|vc| < 3e6 and window counts < 1e6 keep
        # every product far under 2^63); the variance is ONE double
        # expression over them — order-independent across engines.
        # Sentinel rows excluded (any non-finite → NaN variance anyway)
        agg("sum_c", F.sum(finz))
        agg("sumsq_c", F.sum(F.when(fin, vc * vc).otherwise(F.lit(0))))
    if fn == "quantile_over_time":
        # exact percentile at rank φ(n-1) with linear interpolation over
        # integer centi-units (matches DuckDB quantile_cont and the
        # promql/quantile.go rank rule) — deterministic. The sorted key
        # array (NaN remapped below -Inf, Go slices.Sort order) serves
        # the non-finite branch's rank interpolation.
        # out-of-range / NaN φ never reaches percentile() (Spark raises
        # where upstream quantile.go returns ±Inf/NaN + a warning —
        # the result expression short-circuits in _window_result); feed
        # a clamped placeholder so the plan stays analyzable
        _phi = param if param is not None else 0.5
        _safe_phi = 0.5 if _phi != _phi else min(max(_phi, 0.0), 1.0)
        agg(
            "pct_c",
            F.expr(f"percentile(vc, {_safe_phi})"),
            key=("pct_c", _safe_phi),
        )
        agg(
            "q_vals",
            F.array_sort(
                F.collect_list(F.when(vc == _VC_NAN, F.lit(_VC_QNAN)).otherwise(vc))
            ),
        )
    if fn in ("ts_of_max_over_time", "ts_of_min_over_time"):
        # timestamp of the window's extreme sample (upstream 3.x
        # funcTsOfMaxOverTime); ties break to the LATEST timestamp,
        # made deterministic via the (vc, t) struct ordering. NaN is
        # remapped to the always-losing end so it is skipped unless the
        # whole window is NaN (then the tie rule picks the last NaN's t,
        # matching the upstream loop)
        ismax = fn == "ts_of_max_over_time"
        vkey = F.when(
            vc == _VC_NAN, F.lit(-(1 << 62) if ismax else (1 << 62))
        ).otherwise(vc)
        pick = F.max_by if ismax else F.min_by
        order = (
            F.struct(vkey.alias("k"), F.col("t"))
            if ismax
            else F.struct(vkey.alias("k"), (-F.col("t")).alias("nt"))
        )
        agg("ts_of", pick("t", order), key=("ts_of", fn))
    if fn == "mad_over_time":
        # median absolute deviation (upstream experimental
        # funcMadOverTime): median computed exactly on centi-units,
        # then the median of |x − med| over the window's value array —
        # per-group state is the window, same bound as holt_winters
        agg("med_c", F.expr("percentile(vc, 0.5)"))
        agg("vals_c", F.array_sort(F.collect_list("vc")))
    if fn in _HOLT_FNS:
        # the one window fn that is an inherently ORDERED fold: carry
        # the window's samples as a time-sorted array (per-(series, T)
        # state = that window's points, never the whole series) and run
        # the recurrence in _window_value via F.aggregate
        agg("pts", F.array_sort(F.collect_list(F.struct(F.col("t"), F.col("vc")))))
    if fn in _REGRESSION_FNS:
        # least-squares sums over x = t - grid_T (centering on the
        # grid point keeps |x| <= range_ms; slope is centering-invariant
        # in exact arithmetic). decimal sums make x² overflow-proof for
        # multi-week ranges; all sums stay exact so the final double
        # slope is bit-stable across engines (promql/functions.go
        # linearRegression is the float-accumulating original).
        xd = (F.col("t") - F.col(_G)).cast("decimal(19,0)")
        agg("sx", F.sum(F.col("t") - F.col(_G)))
        agg("sy", F.sum(finz))
        agg("sxy", F.sum(xd * finz))
        agg("sxx", F.sum(xd * xd))
    return out


def _window_defined(
    fn: str, range_ms: int, grid_t: Column, param: float | None = None
) -> Column | None:
    """Cheap predicate provably equivalent to
    `value IS NOT NULL` over the window-aggregate columns; None means
    the value is never null (no filter needed).

    Replacing the generic `value IS NOT NULL` filter with this matters
    for plan size (VERDICT r10 #8): predicate pushdown substitutes a
    filter condition through the value projection, so filtering on the
    value column re-inlines the full (multi-KB, for rate) value tree
    into the Filter node. Filtering on the equivalent aggregate-column
    predicate BEFORE the value projection keeps the Filter node tiny
    and lets the staged value projection (_window_stages) keep the rest
    of the plan proportional to the formula, not the inlined tree.

    Proof sketch per family (each case mirrors _window_stages):
    - rate/increase/delta: value = when(n>=2, <non-null>): both the
      exact and IEEE extrapolation branches are arithmetic over
      non-null inputs; n>=2 on (series,t)-deduped rows means 2 distinct
      t so sampled>0, and the only internal division that can null out
      (zero_cross with delta=0 under Spark's null-on-zero-divide) is
      guarded by a when() whose null/false condition falls through to
      dstart.
    - holt (double exponential smoothing): when(n>=2, fold) — the fold
      over decoded doubles is non-null (NaN/±Inf are values, not null).
    - deriv/predict_linear: null unless (n>=2) AND (non-finite census
      OR den != 0) — den re-stated here on the raw sums (small).
    - irate/idelta: null iff the window has no adjacent pair ending
      inside it: last_pt null or <= T - range.
    - everything else (count/present/last/ts_of*/sum/avg/min/max/
      quantile/mad/stddev/stdvar/changes/resets): value expressions
      exhaust their branches with non-null results over non-empty
      groups → never null → None."""
    n = F.col("n")
    if fn in ("rate", "increase", "delta") or fn in _HOLT_FNS:
        return n >= 2
    if fn in _REGRESSION_FNS:
        nonfin = (F.col("n_nan") + F.col("n_pinf") + F.col("n_ninf")) > 0
        den = (
            n.cast("decimal(38,0)") * F.col("sxx")
            - F.col("sx").cast("decimal(38,0)") * F.col("sx")
        ).cast("double")
        return (n >= 2) & (nonfin | (den != 0.0))
    if fn in ("irate", "idelta"):
        return F.col("last_pt").isNotNull() & (
            F.col("last_pt") > grid_t - range_ms
        )
    return None


def _window_stages(
    fn: str,
    range_ms: int,
    grid_t: Column,
    param: float | None = None,
    tag: str = "_wv",
) -> tuple:
    """Final per-(series, T) double value from the window aggregates —
    deterministic scalar math over order-independent integer columns.

    Returns (levels, value): `levels` is a list of {name: Column}
    projection stages (each may reference earlier levels' names, all
    prefixed with `tag`) and `value` the final expression over them.
    Projecting the shared subexpressions as real columns keeps every
    repeated subtree a single attribute reference: the analyzed/
    optimized plan — and with it Catalyst analysis time, the measured
    fixed cost under every promql entry (VERDICT r10 #8) — stays
    proportional to the formula, not to the inlined tree. Catalyst's
    CollapseProject will not re-inline a non-cheap alias referenced
    more than once, so the factoring survives optimization. The float
    op ORDER inside every expression is unchanged from the pre-r11
    inline form — results stay bit-identical.

    All-finite windows take the exact centi-unit path (bit-stable vs the
    DuckDB oracle). Windows containing NaN/±Inf sentinels take an IEEE
    branch reproducing promql/functions.go float semantics: sum/avg
    propagate NaN (and +Inf with -Inf cancels to NaN); min/max skip NaN
    unless the whole window is NaN; stddev/stdvar/mad/deriv go NaN."""
    T = lambda s: f"{tag}{s}"  # noqa: E731
    n = F.col("n")
    first_t, last_t = F.col("first_t"), F.col("last_t")
    first_c, last_c = F.col("first_c"), F.col("last_c")
    n_nan, n_pinf, n_ninf = F.col("n_nan"), F.col("n_pinf"), F.col("n_ninf")
    nonfin = (n_nan + n_pinf + n_ninf) > 0
    NAN = F.lit(float("nan"))
    PINF = F.lit(float("inf"))
    NINF = F.lit(float("-inf"))
    # IEEE sum over the window's non-finite members (float + semantics)
    ieee_sum = (
        F.when((n_nan > 0) | ((n_pinf > 0) & (n_ninf > 0)), NAN)
        .when(n_pinf > 0, PINF)
        .otherwise(NINF)
    )
    if fn == "count_over_time":
        return [], n.cast("double")  # counts every sample, NaN included
    if fn == "present_over_time":
        return [], F.lit(1.0)
    if fn == "last_over_time":
        return [], _vc_decode(last_c)
    if fn == "ts_of_last_over_time":
        return [], last_t / 1000.0  # unix seconds, like timestamp()
    if fn in ("ts_of_max_over_time", "ts_of_min_over_time"):
        return [], F.col("ts_of") / 1000.0
    if fn == "sum_over_time":
        return [], F.when(nonfin, ieee_sum).otherwise(F.col("sum_c") / 100.0)
    if fn == "avg_over_time":
        # the incremental mean propagates like the sum: NaN → NaN,
        # conflicting infinities → NaN, one-signed infinity dominates
        return [], F.when(nonfin, ieee_sum).otherwise(F.col("sum_c") / n / 100.0)
    if fn == "min_over_time":
        return [], (
            F.when(n_ninf > 0, NINF)
            .when(F.col("min_c").isNotNull(), F.col("min_c") / 100.0)
            .when(n_pinf > 0, PINF)
            .otherwise(NAN)  # all-NaN window
        )
    if fn == "max_over_time":
        return [], (
            F.when(n_pinf > 0, PINF)
            .when(F.col("max_c").isNotNull(), F.col("max_c") / 100.0)
            .when(n_ninf > 0, NINF)
            .otherwise(NAN)
        )
    if fn == "quantile_over_time":
        # non-finite branch: rank interpolation over the sorted key
        # array (NaN first, Go slices.Sort order), decoded to doubles so
        # NaN/±Inf propagate through the interpolation exactly as the
        # upstream float math does. The interpolation MUST be the
        # upstream form lo*(1-w) + hi*w (util/stats quantile.go) — the
        # algebraically-equal lo + (hi-lo)*w diverges under IEEE
        # non-finites: [-Inf, 5] at w=0.5 gives -Inf + Inf*0.5 = NaN
        # there but -Inf*(0.5) + 5*0.5 = -Inf here, matching upstream;
        # likewise equal-infinity endpoint pairs keep the infinity
        # instead of collapsing to Inf - Inf = NaN.
        phi = param if param is not None else 0.5
        # upstream quantile.go: φ < 0 → -Inf, φ > 1 → +Inf, NaN → NaN
        # (each with an InvalidQuantileWarning annotation) — returned
        # for every non-empty window, no data math involved
        if phi != phi:
            return [], NAN
        if phi < 0:
            return [], NINF
        if phi > 1:
            return [], PINF
        def _qdec(c: Column) -> Column:
            return F.when(c == _VC_QNAN, NAN).otherwise(_vc_decode(c))

        levels = [
            {T("qr"): (n - 1).cast("double") * F.lit(float(phi))},
            {T("qlo"): F.floor(F.col(T("qr"))).cast("int")},
            {
                T("qfr"): F.col(T("qr")) - F.col(T("qlo")).cast("double"),
                T("qlv"): _qdec(F.get("q_vals", F.col(T("qlo")))),
                T("qhv"): _qdec(F.get("q_vals", F.col(T("qlo")) + 1)),
            },
        ]
        frac, lo_v, hi_v = F.col(T("qfr")), F.col(T("qlv")), F.col(T("qhv"))
        interp = F.when(frac == 0, lo_v).otherwise(
            lo_v * (F.lit(1.0) - frac) + hi_v * frac
        )
        return levels, F.when(nonfin, interp).otherwise(F.col("pct_c") / 100.0)
    if fn == "mad_over_time":
        med = F.col("med_c")
        # percentile(·, 0.5) rank rule on the deviation array:
        # rank = (n−1)/2, linear interpolation between neighbors
        levels = [
            {
                T("mdv"): F.array_sort(
                    F.transform(
                        F.col("vals_c"),
                        lambda c: F.abs(c.cast("double") - med),
                    )
                ),
                T("mr"): (n - 1).cast("double") / 2.0,
            },
            {T("mlo"): F.floor(F.col(T("mr"))).cast("int")},
            {
                T("mfr"): F.col(T("mr")) - F.col(T("mlo")).cast("double"),
                T("mlv"): F.element_at(F.col(T("mdv")), F.col(T("mlo")) + 1),
                # guarded: the inline form only reached lo+2 under
                # frac != 0 (CASE short-circuit); as an eager projected
                # column the single-sample window (lo+2 == n+1) must
                # stay un-evaluated or element_at throws OOB
                T("mhv"): F.when(
                    F.col(T("mr")) != F.col(T("mlo")).cast("double"),
                    F.element_at(F.col(T("mdv")), F.col(T("mlo")) + 2),
                ),
            },
        ]
        frac, lo_v, hi_v = F.col(T("mfr")), F.col(T("mlv")), F.col(T("mhv"))
        return levels, F.when(nonfin, NAN).otherwise(
            F.when(frac == 0, lo_v).otherwise(lo_v + (hi_v - lo_v) * frac)
            / 100.0
        )
    if fn in _HOLT_FNS:
        # double exponential smoothing (promql/functions.go
        # funcDoubleExponentialSmoothing): s₀ = x₀, b₀ = x₁ − x₀, then
        # sᵢ = sf·xᵢ + (1−sf)·(sᵢ₋₁ + bᵢ₋₁),
        # bᵢ = tf·(sᵢ − sᵢ₋₁) + (1−tf)·bᵢ₋₁ — the same uniform
        # recurrence as tsdb_holt_winters (queries.py), an ordered
        # F.aggregate fold over the time-sorted window
        sf, tf = param  # type: ignore[misc]
        # decode (not bare /100): NaN/±Inf samples enter the recurrence
        # as IEEE doubles and propagate exactly like the upstream floats
        xs = F.transform(F.col("pts"), lambda p: _vc_decode(p["vc"]))
        v1, v2 = F.element_at(xs, 1), F.element_at(xs, 2)
        rest = F.slice(xs, 2, F.greatest(F.size(xs) - 1, F.lit(0)))

        def _hw_step(a, x):
            lvl, trend = F.element_at(a, 1), F.element_at(a, 2)
            s_new = F.lit(sf) * x + F.lit(1.0 - sf) * (lvl + trend)
            return F.array(
                s_new, F.lit(tf) * (s_new - lvl) + F.lit(1.0 - tf) * trend
            )

        sb = F.aggregate(rest, F.array(v1, v2 - v1), _hw_step)
        return [], F.when(n >= 2, F.element_at(sb, 1))
    if fn in ("stddev_over_time", "stdvar_over_time"):
        # population variance over centi-units: (n·Σc² − (Σc)²) / n / n,
        # then /1e4 to de-scale — written in the exact op order the
        # DuckDB oracle uses so the doubles agree bit-for-bit
        var = (
            (n * F.col("sumsq_c") - F.col("sum_c") * F.col("sum_c")).cast("double")
            / n.cast("double")
            / n.cast("double")
            / 10000.0
        )
        # any non-finite sample → NaN (the Welford recurrence upstream
        # degenerates to NaN via Inf−Inf / NaN arithmetic)
        var = F.when(nonfin, NAN).otherwise(var)
        return [], (F.sqrt(var) if fn == "stddev_over_time" else var)
    if fn in _REGRESSION_FNS:
        levels = [
            {
                T("rnum"): (
                    n.cast("decimal(38,0)") * F.col("sxy")
                    - F.col("sx").cast("decimal(38,0)") * F.col("sy")
                ).cast("double"),
                T("rden"): (
                    n.cast("decimal(38,0)") * F.col("sxx")
                    - F.col("sx").cast("decimal(38,0)") * F.col("sx")
                ).cast("double"),
            }
        ]
        num, den = F.col(T("rnum")), F.col(T("rden"))
        if fn == "deriv":
            # slope in units/second = centi/ms · 1000 / 100
            val = num / den * 1000.0 / 100.0
        else:  # predict_linear(v[r], t): ŷ at x* = t·1000 ms past T
            xstar = F.lit((param if param is not None else 0.0) * 1000.0)
            mean_x = F.col("sx").cast("double") / n.cast("double")
            mean_y = F.col("sy").cast("double") / n.cast("double") / 100.0
            val = mean_y + num / den / 100.0 * (xstar - mean_x)
        # float least-squares over any non-finite sample is NaN upstream
        # (Inf/NaN sums make both covariances NaN)
        return levels, F.when((n >= 2) & nonfin, NAN).when(
            (n >= 2) & (den != 0.0), val
        )
    if fn == "resets":
        return [], (F.col("reset_n") - F.col("first_reset")).cast("double")
    if fn == "changes":
        return [], (F.col("chg_sum") - F.col("first_chg")).cast("double")
    if fn == "idelta":
        lpvc = F.col("last_pvc")
        pair_fin = (F.abs(last_c) < _VC_FIN_LIM) & (F.abs(lpvc) < _VC_FIN_LIM)
        levels = [
            {T("ld"): _vc_decode(last_c), T("pd"): _vc_decode(lpvc)}
        ]
        return levels, F.when(
            F.col("last_pt").isNotNull() & (F.col("last_pt") > grid_t - range_ms),
            F.when(pair_fin, (last_c - lpvc) / 100.0).otherwise(
                F.col(T("ld")) - F.col(T("pd"))
            ),
        )
    if fn == "irate":
        # the reset test (last < prev) runs on the sentinel longs with
        # NaN pairs excluded — faithful to the float order, and every
        # NaN case lands on a decoded-NaN result exactly like upstream
        lpvc = F.col("last_pvc")
        pair_fin = (F.abs(last_c) < _VC_FIN_LIM) & (F.abs(lpvc) < _VC_FIN_LIM)
        levels = [
            {T("ld"): _vc_decode(last_c), T("pd"): _vc_decode(lpvc)}
        ]
        num = F.when(
            last_c >= lpvc,
            F.when(pair_fin, (last_c - lpvc) / 100.0).otherwise(
                F.col(T("ld")) - F.col(T("pd"))
            ),
        ).otherwise(F.col(T("ld")))
        return levels, F.when(
            F.col("last_pt").isNotNull() & (F.col("last_pt") > grid_t - range_ms),
            num / ((last_t - F.col("last_pt")) / 1000.0),
        )
    # rate / increase / delta share the extrapolation skeleton
    # (promql/functions.go extrapolatedRate): needs >= 2 samples.
    # Both the exact (centi-integer delta, suffix E) and IEEE (decoded
    # double delta, suffix I) branches are staged level by level; every
    # expression keeps the pre-r11 inline float op order.
    counter = fn in ("rate", "increase")
    # exact branch: integer centi delta, de-scaled once at the end;
    # non-finite branch: decoded IEEE doubles (NaN first/last → NaN;
    # ±Inf flows through delta and the drop corrections like upstream)
    delta_c = (
        (last_c - first_c + F.col("drop_sum") - F.col("first_drop"))
        if counter
        else (last_c - first_c)
    )
    delta_d = _vc_decode(last_c) - _vc_decode(first_c)
    if counter:
        delta_d = delta_d + F.col("drop_sum_d") - F.col("first_drop_d")
    levels = [
        {
            T("s"): (last_t - first_t).cast("double"),
            T("ds"): (first_t - (grid_t - range_ms)).cast("double"),
            T("dn"): (grid_t - last_t).cast("double"),
            T("dE"): delta_c.cast("double"),
            T("fE"): first_c.cast("double"),
            T("dI"): delta_d,
            T("fI"): _vc_decode(first_c),
        },
        # ad guarded on n>=2: the inline form only evaluated avg_dur
        # under when(n>=2, ...) CASE short-circuit; as eager columns
        # (reachable with n=1 rows via the fused-set path) ANSI mode
        # would throw DIVIDE_BY_ZERO on s/(n-1). Null propagates to a
        # null factor and a null value — exactly the inline result.
        {
            T("ad"): F.when(
                n >= 2, F.col(T("s")) / (n - 1).cast("double")
            )
        },
    ]
    sampled, dstart, dend = F.col(T("s")), F.col(T("ds")), F.col(T("dn"))
    avg_dur = F.col(T("ad"))
    if counter:
        # counters cannot extrapolate below their projected zero crossing
        # zero_cross guarded on delta>0: the inline form evaluated it
        # behind the short-circuiting (delta>0) conjunct; eager + ANSI
        # would throw on flat windows (delta == 0). delta>0 is exactly
        # the branch that consumes it, so null changes nothing.
        levels[1].update(
            {
                T("zE"): F.when(
                    F.col(T("dE")) > 0,
                    sampled * (F.col(T("fE")) / F.col(T("dE"))),
                ),
                T("zI"): F.when(
                    F.col(T("dI")) > 0,
                    sampled * (F.col(T("fI")) / F.col(T("dI"))),
                ),
            }
        )
        levels.append(
            {
                T("d2" + sfx): F.when(
                    (F.col(T("d" + sfx)) > 0)
                    & (F.col(T("f" + sfx)) >= 0)
                    & (F.col(T("z" + sfx)) < dstart),
                    F.col(T("z" + sfx)),
                ).otherwise(dstart)
                for sfx in ("E", "I")
            }
        )
    levels.append(
        {
            T("fc" + sfx): (
                sampled
                + F.when(d2 < avg_dur * 1.1, d2).otherwise(avg_dur / 2)
                + F.when(dend < avg_dur * 1.1, dend).otherwise(avg_dur / 2)
            )
            / sampled
            for sfx, d2 in (
                ("E", F.col(T("d2E")) if counter else dstart),
                ("I", F.col(T("d2I")) if counter else dstart),
            )
        }
    )

    def _ext(sfx: str, scale: float) -> Column:
        ext = F.col(T("d" + sfx)) * F.col(T("fc" + sfx)) / scale
        if fn == "rate":
            ext = ext / (range_ms / 1000.0)
        return ext

    exact, ieee = _ext("E", 100.0), _ext("I", 1.0)
    return levels, F.when(n >= 2, F.when(nonfin, ieee).otherwise(exact))


def _attach_window_values(df: DataFrame, specs) -> DataFrame:
    """Project staged window values onto an aggregated window frame.

    specs: iterable of (alias, fn, range_ms, grid_t, param). Applies
    the union of every spec's intermediate levels (names are prefixed
    per alias, so several values ride one frame — the fused paths),
    then one final projection computing all values, then drops the
    intermediates. See _window_stages for why the staging exists."""
    merged: list[dict] = []
    finals = []
    for alias, fn, rng, gt, param in specs:
        levels, val = _window_stages(fn, rng, gt, param, tag=f"_wv{alias}")
        for i, lvl in enumerate(levels):
            if i >= len(merged):
                merged.append({})
            merged[i].update(lvl)
        finals.append(val.alias(alias))
    for lvl in merged:
        df = df.select("*", *[c.alias(nm) for nm, c in lvl.items()])
    df = df.select("*", *finals)
    drop = [nm for lvl in merged for nm in lvl]
    return df.drop(*drop) if drop else df


def _name_pin(sel: Selector) -> tuple[str | None, list]:
    """(value of the selector's one `=` __name__ matcher — None unless
    there is exactly one —, the selector's other matchers)."""
    pins = [m for m in sel.matchers if m.name == "__name__" and m.type == "="]
    others = [m for m in sel.matchers if m not in pins]
    return (pins[0].value if len(pins) == 1 else None), others


def _fusable(node) -> bool:
    """A window fn that may share a fused window chain with others
    (RangeQuery._window_frame): a FuncCall over a name-pinned matrix
    selector without @, that drops __name__ (last_over_time keeps it).
    A pure AST test — non-window operands are rejected before any
    Column is built."""
    return (
        isinstance(node, FuncCall)
        and isinstance(node.arg, Selector)
        and node.arg.at_ms is None
        and node.fn != "last_over_time"
        and _name_pin(node.arg)[0] is not None
    )


def _entry_labels(ent: Column) -> list:
    """labels_str and labels re-projected from a key-sorted label entry
    array (the `_ent` grouping key of a window chain, see _base)."""
    return [
        L.labels_str_from_entries(ent).alias("labels_str"),
        F.map_from_entries(ent).alias("labels"),
    ]


def _nameless_ent() -> Column:
    """The `_ent` entry array without __name__ — the label set of a
    fused window row (every fused fn drops the metric name)."""
    return F.filter(
        F.col("_ent"), lambda e: e.getField("key") != F.lit("__name__")
    )


def _arith_col(op: str, a: Column, b: Column) -> Column:
    # IEEE zero-divisor semantics (PromQL: x/0 = ±Inf, 0/0 = NaN,
    # x%0 = NaN) — Spark's ANSI mode throws DIVIDE_BY_ZERO instead,
    # so the zero case is made explicit
    if op == "/":
        return F.when(
            b == 0,
            F.when(a > 0, F.lit(float("inf")))
            .when(a < 0, F.lit(float("-inf")))
            .otherwise(F.lit(float("nan"))),
        ).otherwise(a / b)
    if op == "%":
        # sign of the dividend — Go math.Mod / DuckDB fmod
        return F.when(b == 0, F.lit(float("nan"))).otherwise(a % b)
    return {
        "+": a + b,
        "-": a - b,
        "*": a * b,
        "^": F.pow(a, b),
        "atan2": F.atan2(a, b),  # binary op since upstream 2.31
    }[op]




#: sentinel centi-values for the non-finite sample values the integer
#: canonicalization cannot carry (NaN is a VALID, distinguishable
#: sample value upstream — head.go amend-detection compares
#: math.Float64bits). The instant read path decodes them back; window
#: functions count the sentinels per window (_window_agg n_nan/n_pinf/
#: n_ninf), keep every exact long sum finite-only, and reproduce
#: upstream's IEEE float semantics in _window_value's non-finite branch
#: (promql/functions.go aggrOverTime). Ordering note: excluding NaN,
#: the long order of sentinels is faithful to the double order
#: (_VC_NINF < finite < _VC_PINF), so long comparisons double as float
#: comparisons wherever NaN pairs are filtered first.
def _agg_quantile_expr(phi) -> Column:
    """quantile aggregation column: percentile() for φ ∈ [0, 1], the
    upstream quantile.go out-of-range constants otherwise (Spark's
    percentile raises at analysis time on an out-of-range φ, upstream
    returns ±Inf/NaN plus a warning annotation)."""
    phi = float(phi)
    if phi != phi:
        return F.max(F.lit(float("nan")))
    if phi < 0:
        return F.max(F.lit(float("-inf")))
    if phi > 1:
        return F.max(F.lit(float("inf")))
    return F.expr(f"percentile(value, {phi})")


_VC_NAN = -(1 << 61)
_VC_PINF = 1 << 61
_VC_NINF = -(1 << 61) - 1
#: |vc| below this is a finite centi-value (real samples stay far under;
#: the sentinels sit at ±2^61±1)
_VC_FIN_LIM = 1 << 60
#: NaN's slot in sort-order-corrected arrays (Go slices.Sort places NaN
#: BEFORE -Inf; the raw sentinel would sort after it)
_VC_QNAN = -(1 << 62)


def _vc_encode(v: Column) -> Column:
    return (
        F.when(F.isnan(v), F.lit(_VC_NAN))
        .when(v == float("inf"), F.lit(_VC_PINF))
        .when(v == float("-inf"), F.lit(_VC_NINF))
        .otherwise(F.round(v * 100).cast("long"))
    )


def _vc_decode(vc: Column) -> Column:
    return (
        F.when(vc == _VC_NAN, F.lit(float("nan")))
        .when(vc == _VC_PINF, F.lit(float("inf")))
        .when(vc == _VC_NINF, F.lit(float("-inf")))
        .otherwise(vc / 100.0)
    )

def _scalar_typed(n) -> bool:
    """Parse-time scalar typing for vector() (upstream checkAST):
    numbers, scalar(), time(), and scalar arithmetic over them."""
    if isinstance(n, (Number, ScalarOf)):
        return True
    if isinstance(n, TimeFn):
        return n.fn == "time" and n.child is None
    if isinstance(n, BinScalar):
        return _scalar_typed(n.child)
    if isinstance(n, BinDynScalar):
        return _scalar_typed(n.child) and _scalar_typed(n.scalar)
    return False


def _colref(name: str) -> Column:
    """Column reference that survives arbitrary (UTF-8) label names as
    plain column names — dots in F.col() otherwise parse as struct
    access (backtick-quoted, with backticks doubled)."""
    return F.col("`" + name.replace("`", "``") + "`")

def _scalar_arith(op: str, a: float, b: float, cmp_bool: bool = False) -> float:
    """Python-side twin of _arith_col/_cmp_col for scalar/scalar
    constant folding (same IEEE zero-divisor and NaN rules)."""
    if op in CMP_OPS:
        if math.isnan(a) or math.isnan(b):
            return 1.0 if op == "!=" else 0.0
        ok = {
            "==": a == b,
            "!=": a != b,
            ">": a > b,
            "<": a < b,
            ">=": a >= b,
            "<=": a <= b,
        }[op]
        return 1.0 if ok else 0.0
    if op == "/":
        if b == 0:
            if math.isnan(a) or a == 0:
                return float("nan")
            return float("inf") if a > 0 else float("-inf")
        return a / b
    if op == "%":
        if b == 0 or math.isnan(a) or math.isnan(b) or math.isinf(a):
            return float("nan")
        return math.fmod(a, b)  # Go math.Mod: sign of the dividend
    if op == "^":
        return math.pow(a, b)
    if op == "atan2":
        return math.atan2(a, b)
    return {"+": a + b, "-": a - b, "*": a * b}[op]


def _cmp_col(op: str, a: Column, b: Column) -> Column:
    # IEEE-754 NaN semantics, matching upstream's Go float comparisons:
    # every comparison with NaN is false except != (Spark instead orders
    # NaN above everything and makes NaN == NaN true)
    raw = {
        "==": a == b,
        "!=": a != b,
        ">": a > b,
        "<": a < b,
        ">=": a >= b,
        "<=": a <= b,
    }[op]
    return F.when(F.isnan(a) | F.isnan(b), F.lit(op == "!=")).otherwise(raw)


def _unique_guard(df: DataFrame, part_cols: list, vcol: str, msg: str) -> DataFrame:
    """Fail the query when >1 row shares a match signature where vector
    matching requires uniqueness — upstream promql/engine.go raises
    'found duplicate series for the match group' / 'many-to-one matching
    must be explicit'. Expressed as a window count over the signature
    (the join immediately after hashes on the same keys, so AQE reuses
    the exchange) with an assert_true that detonates at execution time
    only if a duplicate actually exists."""
    from pyspark.sql import Window

    w = Window.partitionBy(*part_cols)
    ok = F.count(F.lit(1)).over(w) <= 1
    guarded = F.when(F.assert_true(ok, F.lit(msg)).isNull(), F.col(vcol))
    return df.withColumn(vcol, guarded)


class RangeQuery:
    """Compiles one parsed expression against a samples frame.

    `frame` needs (labels MAP, labels_str, t LONG, v DOUBLE) — the shape
    `DB.querier(...).select([], with_labels=True)` and
    `sources.events.events_samples` both produce."""

    def __init__(
        self,
        frame: DataFrame,
        start: int,
        end: int,
        step: int,
        lookback_ms: int = DEFAULT_LOOKBACK_MS,
    ):
        if step <= 0 or end < start:
            raise ValueError("need end >= start and step > 0")
        self.frame = frame
        self.start, self.end, self.step = start, end, step
        self.lookback_ms = lookback_ms

    # each node evaluates to a DataFrame with:
    #   grouping columns (labels_str, labels | by-columns), _pq_t, value
    def eval(self, node) -> DataFrame:
        if isinstance(node, Number):
            # scalar-typed query: one row per grid step, no labels
            return self._grid_frame().select(
                F.col(_G), F.lit(float(node.val)).alias("value")
            )
        if isinstance(node, BinScalar):
            return self._eval_binscalar(node)
        if isinstance(node, BinVector):
            return self._eval_binvec(node)
        if isinstance(node, BinSet):
            return self._eval_binset(node)
        if isinstance(node, Aggregate):
            return self._eval_agg(node)
        if isinstance(node, FuncCall):
            return self._eval_func(node)
        if isinstance(node, ValueFn):
            return self._eval_valuefn(node)
        if isinstance(node, LabelTransform):
            return self._eval_labeltx(node)
        if isinstance(node, HistFn):
            return self._eval_histfn(node)
        if isinstance(node, Info):
            return self._eval_info(node)
        if isinstance(node, HistQuantile):
            return self._eval_histq(node)
        if isinstance(node, Absent):
            return self._eval_absent(node)
        if isinstance(node, Selector):
            return self._eval_instant(node)
        if isinstance(node, Sort):
            return self.eval(node.child)  # ordering applied in run()
        if isinstance(node, TimeFn):
            return self._eval_timefn(node)
        if isinstance(node, ScalarOf):
            return self._eval_scalarof(node)
        if isinstance(node, BinDynScalar):
            return self._eval_bindynscalar(node)
        raise TypeError(f"unknown node {node!r}")

    def _eval_scalarof(self, node: ScalarOf) -> DataFrame:
        per = (
            self.eval(node.child)
            .groupBy(_G)
            .agg(F.count("*").alias("_n"), F.first("value").alias("_v"))
        )
        empty = F.create_map().cast("map<string,string>")
        # left join from the grid: steps where the vector is empty or
        # has cardinality != 1 read NaN (funcScalar)
        return (
            self._grid_frame()
            .join(per, _G, "left")
            .select(
                F.lit("{}").alias("labels_str"),
                empty.alias("labels"),
                _G,
                F.when(F.col("_n") == 1, F.col("_v"))
                .otherwise(F.lit(float("nan")))
                .alias("value"),
            )
        )

    def _eval_bindynscalar(self, node: BinDynScalar) -> DataFrame:
        vec = self.eval(node.child)
        sc = self.eval(node.scalar).select(F.col(_G), F.col("value").alias("_sc"))
        # the scalar frame is one row per grid step — always broadcast
        j = vec.join(F.broadcast(sc), _G)
        v, s = F.col("value"), F.col("_sc")
        a, b = (s, v) if node.scalar_left else (v, s)
        if node.op in CMP_OPS:
            # scalar() yields NaN on cardinality != 1; _cmp_col applies
            # the IEEE NaN rule (false, except !=)
            cond = _cmp_col(node.op, a, b)
            if node.cmp_bool:
                out = j.withColumn("value", F.when(cond, 1.0).otherwise(0.0))
                return self._strip_name(out.drop("_sc"))
            return j.filter(cond).drop("_sc")
        return self._strip_name(
            j.withColumn("value", _arith_col(node.op, a, b)).drop("_sc")
        )

    def _eval_timefn(self, node: TimeFn) -> DataFrame:
        empty = F.create_map().cast("map<string,string>")
        if node.fn == "vector":
            if node.child is not None:
                # vector(<scalar expr>) — the child was type-checked at
                # parse; stamp the empty label set on its grid values
                # (time() already evaluates to that shape here)
                out = self.eval(node.child)
                return out.select(
                    F.lit("{}").alias("labels_str"),
                    empty.alias("labels"),
                    F.col(_G),
                    "value",
                )
            return self._grid_frame().select(
                F.lit("{}").alias("labels_str"),
                empty.alias("labels"),
                _G,
                F.lit(float(node.scalar)).alias("value"),
            )
        if node.child is None:
            # hour() == hour(vector(time())): derive from the grid
            # timestamp — one no-label series over the (tiny) grid
            out = self._grid_frame().select(
                F.lit("{}").alias("labels_str"),
                empty.alias("labels"),
                _G,
                (F.col(_G) / 1000.0).alias("_sec"),
            )
        else:
            out = self._strip_name(self.eval(node.child)).withColumn(
                "_sec", F.col("value")
            )
        if node.fn == "time":
            val = F.col("_sec")
        else:
            # session tz is UTC (session.configure), matching upstream's
            # time.UTC component math
            ts = F.timestamp_seconds(F.col("_sec"))
            val = {
                "minute": F.minute(ts),
                "hour": F.hour(ts),
                "day_of_week": F.dayofweek(ts) - 1,  # upstream: 0=Sunday
                "day_of_month": F.dayofmonth(ts),
                "day_of_year": F.dayofyear(ts),
                "days_in_month": F.dayofmonth(F.last_day(ts)),
                "month": F.month(ts),
                "year": F.year(ts),
            }[node.fn].cast("double")
        return out.withColumn("value", val).select(
            "labels_str", "labels", _G, "value"
        )

    def _pinned(self, at_ms: int, stripped) -> DataFrame:
        """`@` modifier: evaluate the @-stripped node once at the
        pinned instant (a one-point grid) and fan the constant vector
        across the query grid — promql/engine.go's step-invariant
        expression optimization, expressed as a broadcast cross join
        with the (tiny) grid frame."""
        sub = RangeQuery(self.frame, at_ms, at_ms, 1, self.lookback_ms)
        out = sub.eval(stripped)
        cols = [c for c in out.columns if c != _G]
        return out.drop(_G).crossJoin(F.broadcast(self._grid_frame())).select(
            *cols, _G
        )

    # -- binop machinery -------------------------------------------

    @staticmethod
    def _match_map(on: list[str] | None, ignoring: list[str] | None):
        """labels-map → matching-signature-map transform (the binop
        signature: full set minus __name__, or the on()/ignoring()
        subset — promql/engine.go signatureFunc)."""
        if on is not None:
            keep = F.array(*[F.lit(k) for k in on])
            return lambda lab: F.map_filter(
                lab, lambda k, _: F.array_contains(keep, k)
            )
        drop = F.array(F.lit("__name__"), *[F.lit(k) for k in (ignoring or [])])
        return lambda lab: F.map_filter(
            lab, lambda k, _: ~F.array_contains(drop, k)
        )

    def _eval_binscalar(self, node: BinScalar) -> DataFrame:
        child = self.eval(node.child)
        v, s = F.col("value"), F.lit(node.scalar)
        a, b = (s, v) if node.scalar_left else (v, s)
        if node.op in CMP_OPS:
            cond = _cmp_col(node.op, a, b)
            if node.cmp_bool:
                out = child.withColumn(
                    "value", F.when(cond, 1.0).otherwise(0.0)
                )
                return self._strip_name(out)
            return child.filter(cond)  # filter semantics keep the element
        # arithmetic drops the metric name (upstream shouldDropMetricName)
        return self._strip_name(
            child.withColumn("value", _arith_col(node.op, a, b))
        )

    @staticmethod
    def _as_label_frame(df: DataFrame, keys: list[str]) -> DataFrame:
        """Lift a by-grouped aggregate (group keys as plain columns) to a
        label-carrying vector frame: its key columns ARE its full label
        set, so the created map is its series identity. Empty key values
        mean the label was absent (F14 convention) and are stripped."""
        kv = [x for k in keys for x in (F.lit(k), _colref(k).cast("string"))]
        m = (
            F.create_map(*kv)
            if kv
            else F.create_map().cast("map<string,string>")
        )
        m = F.map_filter(m, lambda _, v: v != F.lit(""))
        return df.select(
            L.labels_str_expr(m).alias("labels_str"),
            m.alias("labels"),
            F.col(_G),
            "value",
        )

    def _eval_binvec(self, node: BinVector) -> DataFrame:
        # Fast path (r10): a binop between two window functions over the
        # IDENTICAL name-pinned matrix selector — `sum_over_time(m[R]) /
        # count_over_time(m[R])`, `rate(m[R]) > increase(m[R])`, ... —
        # evaluates as ONE window chain (_window_frame) instead of two
        # chains joined on the match signature. Same rows out: both
        # operands come from the same (series, T) groups, both drop
        # __name__, and default one-to-one matching on the name-stripped
        # label set is then row-identity — the join is provably 1:1
        # where it is defined. Per side the unfused plan paid a scan +
        # repartition + dedup groupBy + (optional lag window) + grid
        # groupBy, then two more exchanges for the signature join; the
        # fused plan pays ONE of each and no join.
        l, r = node.left, node.right
        fused = None
        if (
            node.on is None
            and node.ignoring is None
            and node.group_side is None
            and _fusable(l)
            and _fusable(r)
            and l.arg == r.arg
        ):
            fused = self._window_frame([("_lv", l), ("_rv", r)])
        if fused is None:
            left, right = self.eval(l), self.eval(r)
            return self._eval_binvec_frames(node, left, right)
        out, defined = fused
        # each unfused side dropped its null windows before the join —
        # the AND of the two defined predicates is that same row set
        for d in defined:
            if d is not None:
                out = out.filter(d)
        out = out.select(*_entry_labels(_nameless_ent()), F.col(_G), "_lv", "_rv")
        # the duplicate-signature error the join's unique-guard raises
        # (two metric names collapsing onto one stripped set) is
        # preserved by the same guard here
        out = _unique_guard(
            out,
            ["labels_str", _G],
            "_lv",
            "multiple matches for labels: many-to-one matching "
            "must be explicit (group_left/group_right)",
        )
        a, b = F.col("_lv"), F.col("_rv")
        if node.op in CMP_OPS:
            cond = _cmp_col(node.op, a, b)
            if node.cmp_bool:
                return out.withColumn(
                    "value", F.when(cond, 1.0).otherwise(0.0)
                ).drop("_lv", "_rv")
            return out.filter(cond).withColumn("value", a).drop("_lv", "_rv")
        return out.withColumn("value", _arith_col(node.op, a, b)).drop(
            "_lv", "_rv"
        )

    def eval_windows(self, *named: tuple[str, str]) -> DataFrame:
        """Evaluate N window functions over the SAME name-pinned matrix
        selector as ONE fused chain (_window_frame): one scan, one
        exchange, one groupBy carrying the union of the N aggregate
        lists. Output (labels_str, labels, t, <name_i>...). Rows where
        ANY value is null are dropped — exactly the set an inner join
        on (labels_str, t) of the N separate evaluations keeps. Raises
        when the expressions are not fusable (this is a curated entry
        point, not a planner fallback)."""
        names = [nm for nm, _ in named]
        nodes = [parse_expr(e) for _, e in named]
        fused = None
        if all(_fusable(n) and n.arg == nodes[0].arg for n in nodes):
            fused = self._window_frame(list(zip(names, nodes)))
        if fused is None:
            raise ValueError(
                "eval_windows needs window fns over one identical "
                f"name-pinned matrix selector, got {[e for _, e in named]}"
            )
        out, defined = fused
        for d in defined:
            if d is not None:
                out = out.filter(d)
        return out.select(
            *_entry_labels(_nameless_ent()), F.col(_G).alias("t"), *names
        )

    def _eval_binvec_frames(
        self, node: BinVector, left: DataFrame, right: DataFrame
    ) -> DataFrame:
        mk = self._match_map(node.on, node.ignoring)
        if "labels" in left.columns and "labels" in right.columns:
            if node.group_side is None:
                # carry BOTH the match signature and the left element's
                # original labels: arithmetic/bool results take the
                # signature (PromQL one-to-one rule), comparison filters
                # keep the LHS element untouched
                l = left.select(
                    L.labels_str_expr(mk(F.col("labels"))).alias("_mk"),
                    "labels_str",
                    "labels",
                    F.col(_G),
                    F.col("value").alias("_lv"),
                )
                r = right.select(
                    L.labels_str_expr(mk(F.col("labels"))).alias("_mk"),
                    F.col(_G),
                    F.col("value").alias("_rv"),
                )
                # one-to-one requires a unique series per signature on
                # BOTH sides (engine.go: duplicate right → 'found
                # duplicate series for the match group'; duplicate left →
                # many-to-one must be explicit via group_left)
                l = _unique_guard(
                    l,
                    ["_mk", _G],
                    "_lv",
                    "multiple matches for labels: many-to-one matching "
                    "must be explicit (group_left/group_right)",
                )
                r = _unique_guard(
                    r,
                    ["_mk", _G],
                    "_rv",
                    "found duplicate series for the match group on the "
                    "right hand-side of the operation",
                )
                joined = l.join(r, ["_mk", _G])
                if node.op in CMP_OPS and not node.cmp_bool:
                    joined = joined.drop("_mk")
                else:
                    joined = joined.select(
                        F.col("_mk").alias("labels_str"),
                        mk(F.col("labels")).alias("labels"),
                        F.col(_G),
                        "_lv",
                        "_rv",
                    )
            else:
                # many-to-one: the group_* side keeps its full label set
                # (minus __name__); the one side reduces to (sig, T, v)
                many, one = (
                    (left, right) if node.group_side == "left" else (right, left)
                )
                m_named = self._strip_name(many).withColumn(
                    "_mk", L.labels_str_expr(mk(F.col("labels")))
                )
                gl = node.group_labels or []
                o = one.select(
                    L.labels_str_expr(mk(F.col("labels"))).alias("_mk"),
                    F.col(_G),
                    F.col("value").alias("_ov"),
                    *(
                        [
                            F.map_filter(
                                F.map_filter(
                                    F.col("labels"),
                                    lambda k, _: F.array_contains(
                                        F.array(*[F.lit(g) for g in gl]), k
                                    ),
                                ),
                                lambda _, v: v != F.lit(""),
                            ).alias("_gl")
                        ]
                        if gl
                        else []
                    ),
                )
                # the "one" side must be unique per signature, else the
                # operation is many-to-many (engine.go: 'found duplicate
                # series for the match group ... many-to-many matching
                # not allowed')
                o = _unique_guard(
                    o,
                    ["_mk", _G],
                    "_ov",
                    "found duplicate series for the match group: "
                    "many-to-many matching not allowed",
                )
                j = m_named.join(o, ["_mk", _G]).drop("_mk")
                if gl:
                    # group_left(lbl,...): the listed labels are COPIED
                    # from the one side, replacing (or, when absent
                    # there, removing) the many side's values
                    # (engine.go resultMetric include handling)
                    drop = F.array(*[F.lit(g) for g in gl])
                    new_lab = F.map_concat(
                        F.map_filter(
                            F.col("labels"),
                            lambda k, _: ~F.array_contains(drop, k),
                        ),
                        F.col("_gl"),
                    )
                    j = (
                        j.withColumn("labels", new_lab)
                        .withColumn("labels_str", L.labels_str_expr(F.col("labels")))
                        .drop("_gl")
                    )
                    # copied labels may collapse distinct many-side
                    # series onto one output identity — upstream errors
                    j = _unique_guard(
                        j,
                        ["labels_str", _G],
                        "_ov",
                        "multiple matches for labels: grouping labels "
                        "must ensure unique matches",
                    )
                lv = F.col("value") if node.group_side == "left" else F.col("_ov")
                rv = F.col("_ov") if node.group_side == "left" else F.col("value")
                joined = j.select(
                    "labels_str",
                    "labels",
                    F.col(_G),
                    lv.alias("_lv"),
                    rv.alias("_rv"),
                )
        else:
            # at least one side is a grouped aggregate exposing its keys
            # as plain columns; a labels-carrying side extracts the same
            # keys from its map. Match on on() if given, else the
            # grouped side's keys (both grouped → keys must agree,
            # PromQL would error too).
            aux = (_G, "value", "labels", "labels_str")
            lg = [c for c in left.columns if c not in aux]
            rg = [c for c in right.columns if c not in aux]
            left_has = "labels" in left.columns
            right_has = "labels" in right.columns
            if node.ignoring is not None or node.group_labels:
                # ignoring(...) or group_left(lbl,...) against a
                # by-grouped operand: the grouped side's key columns ARE
                # its full label set, so lift it to a label-carrying
                # frame and take the signature-join path above
                # (engine.go signatureFunc equality — exact
                # remaining-label-set match, NOT a values-only join on
                # the group keys, which would silently widen the match)
                left2 = left if left_has else self._as_label_frame(left, lg)
                right2 = (
                    right if right_has else self._as_label_frame(right, rg)
                )
                return self._eval_binvec_frames(node, left2, right2)
            if node.on is not None:
                keys = node.on
            elif left_has != right_has:
                keys = rg if left_has else lg
            else:
                if sorted(lg) != sorted(rg):
                    raise ValueError(
                        f"vector-matching groups differ: {sorted(lg)} vs {sorted(rg)}"
                    )
                keys = lg

            def label_key(k):
                return F.coalesce(F.col("labels").getItem(k), F.lit("")).alias(k)

            many = node.group_side
            if (many == "left" and left_has) or (many == "right" and right_has):
                # many-to-one against a grouped one side: the many side
                # keeps its label set (minus __name__)
                mdf, odf = (left, right) if many == "left" else (right, left)
                o_has = right_has if many == "left" else left_has
                m = self._strip_name(mdf).select(
                    "labels_str",
                    "labels",
                    F.col(_G),
                    "value",
                    *[label_key(k) for k in keys],
                )
                o = odf.select(
                    *([label_key(k) for k in keys] if o_has
                      else [_colref(k).alias(k) for k in keys]),
                    F.col(_G),
                    F.col("value").alias("_ov"),
                )
                j = m.join(o, [*keys, _G]).drop(*keys)
                lv = F.col("value") if many == "left" else F.col("_ov")
                rv = F.col("_ov") if many == "left" else F.col("value")
                joined = j.select(
                    "labels_str",
                    "labels",
                    F.col(_G),
                    lv.alias("_lv"),
                    rv.alias("_rv"),
                )
            else:
                l = left.select(
                    *([label_key(k) for k in keys] if left_has
                      else [_colref(k).alias(k) for k in keys]),
                    F.col(_G),
                    F.col("value").alias("_lv"),
                )
                r = right.select(
                    *([label_key(k) for k in keys] if right_has
                      else [_colref(k).alias(k) for k in keys]),
                    F.col(_G),
                    F.col("value").alias("_rv"),
                )
                joined = l.join(r, [*keys, _G])
        a, b = F.col("_lv"), F.col("_rv")
        if node.op in CMP_OPS:
            cond = _cmp_col(node.op, a, b)
            if node.cmp_bool:
                return joined.withColumn(
                    "value", F.when(cond, 1.0).otherwise(0.0)
                ).drop("_lv", "_rv")
            return (
                joined.filter(cond).withColumn("value", a).drop("_lv", "_rv")
            )
        return joined.withColumn("value", _arith_col(node.op, a, b)).drop(
            "_lv", "_rv"
        )

    def _eval_binset(self, node: BinSet) -> DataFrame:
        # Fast path (r11): a set op between (optionally comparison-
        # filtered) window functions over selectors that differ at most
        # in their =-pinned __name__ — promql_cmp_unless's
        # `sum_over_time(click[2d]) > 60 unless on (user)
        # (max_over_time(view[2d]) > 200)` — evaluates as ONE window
        # chain over the union of both metrics' series (_window_frame)
        # instead of one full chain per metric plus a distinct +
        # semi/anti join. The set-op match becomes an existence flag
        # computed by a window function over (signature, T) partitions
        # of the already-aggregated frame (series × grid points — tiny
        # next to the sample scan). Exact because:
        # - set ops match on signature SETS and allow many-to-many
        #   (engine.go VectorAnd/VectorUnless/VectorOr) — the flag is
        #   that same set-membership test; no uniqueness guard is
        #   involved on either path;
        # - the comparison filter keeps elements untouched (bool
        #   modifier excluded), so each side's rows and label sets are
        #   exactly what its separate evaluation yields;
        # - a row's side flag is its side's defined-predicate +
        #   comparison, i.e. exactly the rows present in the unfused
        #   side vector, so the flag ranges over the same element set.
        def unwrap(side):
            if (
                isinstance(side, BinScalar)
                and side.op in CMP_OPS
                and not side.cmp_bool
            ):
                return side.child, side
            return side, None

        (lnode, lcmp), (rnode, rcmp) = unwrap(node.left), unwrap(node.right)
        fused = None
        # with on(__name__) the stripped sides carry no name to match on
        if node.on is None or "__name__" not in node.on:
            fused = self._window_frame([("_lv", lnode), ("_rv", rnode)])
        if fused is not None:
            out, (l_def, r_def) = fused

            def side_ok(defined, cmp_, vcol):
                if cmp_ is not None:
                    v, s = F.col(vcol), F.lit(cmp_.scalar)
                    a, b = (s, v) if cmp_.scalar_left else (v, s)
                    c = _cmp_col(cmp_.op, a, b)
                    defined = c if defined is None else defined & c
                return F.lit(True) if defined is None else defined

            out = out.select(
                "*",
                side_ok(l_def, lcmp, "_lv").alias("_lok"),
                side_ok(r_def, rcmp, "_rv").alias("_rok"),
            ).filter(F.col("_lok") | F.col("_rok"))
            if node.on is not None:
                onl = F.array(*[F.lit(k) for k in node.on])
                key = F.filter(
                    F.col("_ent"),
                    lambda e: F.array_contains(onl, e.getField("key")),
                )
            else:
                dropl = F.array(
                    F.lit("__name__"),
                    *[F.lit(k) for k in (node.ignoring or [])],
                )
                key = F.filter(
                    F.col("_ent"),
                    lambda e: ~F.array_contains(dropl, e.getField("key")),
                )
            from pyspark.sql import Window

            out = out.withColumn("_sig", key)
            w = Window.partitionBy("_sig", _G)
            lok, rok = F.col("_lok"), F.col("_rok")
            if node.op == "or":
                flag = F.max(F.when(lok, 1).otherwise(0)).over(w)
                keep = lok | (rok & (F.col("_flag") == 0))
                value = F.when(lok, F.col("_lv")).otherwise(F.col("_rv"))
            else:
                flag = F.max(F.when(rok, 1).otherwise(0)).over(w)
                want = 1 if node.op == "and" else 0
                keep = lok & (F.col("_flag") == want)
                value = F.col("_lv")
            return (
                out.withColumn("_flag", flag)
                .filter(keep)
                .select(
                    *_entry_labels(_nameless_ent()),
                    F.col(_G),
                    value.alias("value"),
                )
            )
        left, right = self.eval(node.left), self.eval(node.right)

        def _ensure_labels(df: DataFrame) -> DataFrame:
            # a no-label operand (vector(n), time()-derived) is ONE
            # series with the empty label set — `x or vector(0)` is the
            # canonical default-to-zero idiom (engine.go treats the
            # Vector() result the same way)
            if "labels" in df.columns:
                return df
            return df.withColumn(
                "labels",
                F.create_map().cast("map<string,string>"),
            ).withColumn("labels_str", F.lit("{}"))

        left, right = _ensure_labels(left), _ensure_labels(right)
        mk = self._match_map(node.on, node.ignoring)
        sig = lambda: L.labels_str_expr(mk(F.col("labels")))  # noqa: E731
        cols = ["labels_str", "labels", _G, "value"]
        lk = left.select(*cols).withColumn("_mk", sig())
        if node.op == "or":
            # LHS untouched + RHS elements whose signature has no LHS match
            rk = right.select(*cols).withColumn("_mk", sig())
            extra = rk.join(
                lk.select("_mk", _G).distinct(), ["_mk", _G], "left_anti"
            ).drop("_mk")
            return left.select(*cols).unionByName(extra)
        rkeys = right.select(sig().alias("_mk"), F.col(_G)).distinct()
        how = "left_semi" if node.op == "and" else "left_anti"
        return lk.join(rkeys, ["_mk", _G], how).drop("_mk")

    # -- leaves -----------------------------------------------------

    def _base(self, matchers, reach: int, offset_ms: int = 0) -> DataFrame:
        # canonicalize to one centi-unit value per (series, t) — PromQL
        # storage is unique per (series, t); raw relations (e.g. an
        # events mapping) may not be, and the lag/argmax logic needs the
        # uniqueness. min(vc) is the engine's standard deterministic
        # amend rule; the combinable groupBy also shrinks the frame
        # before the grid fan-out.
        # `offset` shifts every sample forward by offset_ms, so the
        # unchanged downstream window (T-R, T] reads the
        # (T-offset-R, T-offset] real-time window — the PromQL modifier
        # as a pure time translation.
        #
        # Plan shape (r10): ONE exchange for the whole window chain, and
        # that exchange carries ONLY (_ent, t, v). The series key is the
        # key-sorted entry array `_ent` — not labels_str, not the labels
        # map — so (a) the per-sample labels_str render (~320ns/row, the
        # decode CPU hog) is column-pruned out of the scan entirely and
        # re-rendered only on OUTPUT rows (series × grid points), and
        # (b) the shuffle moves one copy of the label data per row
        # instead of three (labels_str + map + entries). The explicit
        # repartition on _ent satisfies the clustered distribution of
        # this groupBy, of _with_lag's window, AND of the post-fan-out
        # grid groupBy (hash on a subset of the grouping keys clusters
        # every group), so none of them add an exchange of their own —
        # previously each did (3 exchanges per window fn). A map-typed
        # first(labels) aggregate would force SortAggregate (sorting
        # every exploded cell); the array grouping key keeps the whole
        # chain HashAggregate. Skew note: a partition holds whole
        # series; a series' sample count in the query range is bounded
        # by range/scrape-interval, not corpus size, so series-grained
        # partitioning stays balanced at 100TB series cardinalities.
        lo = self.start - reach + 1 - offset_ms
        return (
            self.frame.filter(L.compile_matchers(matchers))
            .filter((F.col("t") >= lo) & (F.col("t") <= self.end - offset_ms))
            .select(
                F.array_sort(F.map_entries("labels")).alias("_ent"),
                (F.col("t") + offset_ms).alias("t"),
                F.col("v"),
            )
            .repartition("_ent")
            .groupBy("_ent", "t")
            .agg(F.min(_vc_encode(F.col("v"))).alias("vc"))
        )

    def _eval_instant(self, node: Selector) -> DataFrame:
        if node.at_ms is not None:
            return self._pinned(node.at_ms, replace(node, at_ms=None))
        reach = self.lookback_ms
        cells = _grid_explode(
            self._base(node.matchers, reach, node.offset_ms),
            self.start,
            self.end,
            self.step,
            reach,
        )
        return (
            cells.groupBy("_ent", _G)
            .agg(_vc_decode(F.max_by("vc", "t")).alias("value"))
            .select(
                L.labels_str_from_entries(F.col("_ent")).alias("labels_str"),
                F.map_from_entries("_ent").alias("labels"),
                F.col(_G),
                "value",
            )
        )

    def _window_frame(self, named: list) -> tuple[DataFrame, list] | None:
        """The one window chain every range function is evaluated by:
        scan → optional per-series lag → grid fan-out → ONE combinable
        groupBy → staged value projection.

        `named` holds (value alias, FuncCall) pairs. N=1 is the plain
        range-function path (matrix selector or subquery). N>1 fuses
        window fns that all pass _fusable and whose selectors differ at
        most in their pinned __name__ (same other matchers, range and
        offset) into ONE chain over the union of their names: one scan,
        one exchange, one groupBy carrying the union of the aggregate
        lists, instead of N chains and the joins matching them. None
        when that does not hold.

        Returns (frame, defined). The frame is grouped by (`_ent`, T)
        — `labels` rides the grouping keys as the `_ent` entry array
        (see _base) so the groupBy stays a HashAggregate, and callers
        re-project the map — and carries one value column per alias.
        defined[i] is the predicate "this row is on node i's side and
        its value is defined" (None: always true). Rows defined on no
        side are dropped.

        Why fusion is exact:
        - every series carries exactly one __name__ value, so each
          aggregated row belongs to the sides pinning its name — all
          of them when the names are equal, which is what separate
          evaluations of the same selector would produce — and each
          side's rows are the (series, T) cells its own chain groups;
        - aggregates are deduped by alias; an alias whose formula key
          differs between nodes (_window_agg: pct_c with two φ, ts_of
          for max vs min) makes the nodes not fusable."""
        nodes = [n for _, n in named]
        if len(nodes) > 1 and not all(_fusable(n) for n in nodes):
            return None
        sel = nodes[0].arg
        rng, matchers = sel.range_ms, getattr(sel, "matchers", None)
        names = [None] * len(nodes)  # per node: its side's pinned name
        if any(n.arg != sel for n in nodes):
            pins = [_name_pin(n.arg) for n in nodes]
            if any(
                n.arg.range_ms != rng
                or n.arg.offset_ms != sel.offset_ms
                or others != pins[0][1]
                for n, (_, others) in zip(nodes, pins)
            ):
                return None
            union = list(dict.fromkeys(name for name, _ in pins))
            if len(union) == 1:
                name_m = L.Matcher("=", "__name__", union[0])
            else:
                names = [name for name, _ in pins]
                name_m = L.Matcher(
                    "=~", "__name__", "|".join(map(re.escape, union))
                )
            matchers = pins[0][1] + [name_m]
        aggs: list = []
        keys: dict = {}
        for n in nodes:
            for alias, key, col in _window_agg(n.fn, rng, n.param):
                if alias not in keys:
                    keys[alias] = key
                    aggs.append(col)
                elif keys[alias] != key:
                    return None

        if isinstance(sel, Subquery):
            base = self._subquery_base(sel)
        else:
            base = self._base(matchers, rng, sel.offset_ms)
        if any(n.fn in _LAG_FNS for n in nodes):
            base = _with_lag(base)
        cells = _grid_explode(base, self.start, self.end, self.step, rng)
        agg = cells.groupBy("_ent", _G).agg(*aggs)

        side = {
            name: F.array_contains(
                F.col("_ent"),
                F.struct(
                    F.lit("__name__").alias("key"), F.lit(name).alias("value")
                ),
            )
            for name in names
            if name is not None
        }
        ds = [_window_defined(n.fn, rng, F.col(_G), n.param) for n in nodes]
        defined = []
        for name, d in zip(names, ds):
            if name is not None:
                d = side[name] if d is None else side[name] & d
            defined.append(d)
        # drop rows defined on no side with the cheap defined predicates,
        # BEFORE the value projection — filtering on the value column
        # would push the full value tree into the Filter node (see
        # _window_defined). A row is kept when ANY node of its own name
        # defines it. With several names the filter is in CONJUNCT form
        # per name (¬side ∨ d₁ ∨ …): a disjunctive (side ∧ d) ∨ (side ∧
        # d) form splits under pushdown and plants a per-row
        # side-membership test at the scan that every row passes by
        # construction (the __name__ matcher already pinned it)
        for name in dict.fromkeys(names):
            own = [d for nm, d in zip(names, ds) if nm == name]
            if any(d is None for d in own):
                continue
            keep = own[0]
            for d in own[1:]:
                keep = keep | d
            agg = agg.filter(keep if name is None else ~side[name] | keep)
        out = _attach_window_values(
            agg, [(alias, n.fn, rng, F.col(_G), n.param) for alias, n in named]
        )
        return out, defined

    def _windowed(self, node: FuncCall) -> DataFrame:
        """One range function: the window chain with N=1, labels
        re-projected from its `_ent` grouping key."""
        out, _ = self._window_frame([("value", node)])
        return out.select(*_entry_labels(F.col("_ent")), F.col(_G), "value")

    def _eval_func(self, node: FuncCall) -> DataFrame:
        if node.arg.at_ms is not None:
            return self._pinned(
                node.arg.at_ms,
                FuncCall(node.fn, replace(node.arg, at_ms=None), node.param),
            )
        out = self._windowed(node)
        # every range function drops the metric name except
        # last_over_time (promql/functions.go shouldDropMetricName /
        # funcLastOverTime keeping the full label set)
        if node.fn == "last_over_time":
            return out
        return self._strip_name(out)

    def _subquery_base(self, sq: Subquery) -> DataFrame:
        """Evaluate the inner expression on its own absolute-S-aligned
        grid and canonicalize its output points back to (labels_str,
        labels, t, vc) samples for the enclosing window function —
        promql/engine.go evalSubquery re-expressed as plan composition
        (the inner evaluation is itself the bounded fan-out plan, so
        the whole subquery stays a fixed number of shuffles)."""
        step = sq.step_ms if sq.step_ms is not None else self.step
        lo = self.start - sq.offset_ms - sq.range_ms
        hi = self.end - sq.offset_ms
        # first aligned point at or before lo: a point exactly at lo is
        # excluded by every (T-R, T] window downstream, so flooring is
        # safe and keeps Prometheus's absolute alignment
        istart = lo - lo % step
        inner = RangeQuery(self.frame, istart, hi, step, self.lookback_ms)
        df = inner.eval(sq.child)
        if "labels" not in df.columns:
            # grouped child: rebuild a label map from its key columns so
            # the window tail (and any by/without above) sees series
            keys = [c for c in df.columns if c not in (_G, "value")]
            kv = [x for k in keys for x in (F.lit(k), _colref(k))]
            lab = (
                F.create_map(*kv)
                if kv
                else F.create_map().cast("map<string,string>")
            )
            df = df.select(
                L.labels_str_expr(lab).alias("labels_str"),
                lab.alias("labels"),
                F.col(_G),
                "value",
            )
        return df.select(
            F.array_sort(F.map_entries("labels")).alias("_ent"),
            (F.col(_G) + sq.offset_ms).alias("t"),
            _vc_encode(F.col("value")).alias("vc"),
        )

    def _grid_frame(self) -> DataFrame:
        kmax = (self.end - self.start) // self.step
        return (
            self.frame.sparkSession.range(0, kmax + 1)
            .select(
                (F.lit(self.start) + F.col("id") * self.step)
                .cast("long")
                .alias(_G)
            )
        )

    def _eval_absent(self, node: Absent) -> DataFrame:
        sel = node.sel
        if not isinstance(sel, Selector):
            # absent(<any expr>): 1 wherever the evaluated child has no
            # element at the grid point; empty label set (upstream
            # infers labels only from the plain-selector form)
            present = self.eval(sel).select(_G).distinct()
            missing = self._grid_frame().join(present, _G, "left_anti")
            empty = F.create_map().cast("map<string,string>")
            return missing.select(
                F.lit("{}").alias("labels_str"),
                empty.alias("labels"),
                F.col(_G),
                F.lit(1.0).alias("value"),
            )
        if sel.at_ms is not None:
            return self._pinned(sel.at_ms, Absent(replace(sel, at_ms=None)))
        reach = sel.range_ms if sel.range_ms is not None else self.lookback_ms
        base = self._base(sel.matchers, reach, sel.offset_ms)
        present = _grid_explode(
            base, self.start, self.end, self.step, reach
        ).select(_G).distinct()
        missing = self._grid_frame().join(present, _G, "left_anti")
        # result labels derive from the eq matchers (promql/functions.go
        # createLabelsForAbsentFunction), minus the metric name
        pairs = {
            m.name: m.value
            for m in sel.matchers
            if m.type == "=" and m.name != "__name__" and m.value != ""
        }
        kv = [x for k in sorted(pairs) for x in (F.lit(k), F.lit(pairs[k]))]
        lab = F.create_map(*kv) if kv else F.create_map().cast(
            "map<string,string>"
        )
        return missing.select(
            L.labels_str_expr(lab).alias("labels_str"),
            lab.alias("labels"),
            F.col(_G),
            F.lit(1.0).alias("value"),
        )

    # -- transforms -------------------------------------------------

    @staticmethod
    def _strip_name(df: DataFrame) -> DataFrame:
        """Drop __name__ from the label set (PromQL rule for value
        transforms, range functions, arithmetic, bool comparisons).

        labels_str is usually derived from the EXISTING canonical
        string instead of re-rendering the map (sort+escape+concat) —
        this runs on every range-fn/binop output row. The regex must be
        ANCHORED at the string start: only there is quote parity known
        (an unanchored in-the-middle match could start inside a label
        VALUE containing ',__name__=' text). __name__ byte-sorts first
        against every legacy label name, so the anchored form covers
        everything but exotic UTF-8 names like '_ x' that sort before
        it — those take the exact map re-render."""
        if "labels" not in df.columns:
            return df
        stripped_map = F.map_filter(
            F.col("labels"), lambda k, _: k != F.lit("__name__")
        )
        fast = F.regexp_replace(
            F.col("labels_str"),
            r'^\{__name__="(?:\\.|[^"\\])*",?',
            "{",
        )
        s = F.when(
            F.col("labels_str").startswith('{__name__="'), fast
        ).otherwise(
            F.when(
                F.map_contains_key(F.col("labels"), "__name__"),
                L.labels_str_expr(stripped_map),
            ).otherwise(F.col("labels_str"))
        )
        # one projection: both outputs derive from the ORIGINAL columns
        # (a second withColumn would resolve `labels` to the already-
        # stripped map and skip the fallback)
        others = [c for c in df.columns if c not in ("labels", "labels_str")]
        return df.select(
            s.alias("labels_str"), stripped_map.alias("labels"), *others
        )

    def _eval_labeltx(self, node: LabelTransform) -> DataFrame:
        child = self.eval(node.child)
        if "labels" not in child.columns:
            # a by-grouped child exposes its keys as plain columns; its
            # key set IS its full label set (upstream label_replace/
            # label_join accept any instant vector), so lift it
            keys = [c for c in child.columns if c not in (_G, "value")]
            child = self._as_label_frame(child, keys)
        m = F.col("labels")
        if node.fn == "label_replace":
            dst, repl, src, regex = node.args
            srcv = F.coalesce(m.getItem(src), F.lit(""))
            anchored = f"^(?:{regex})$"
            # no full match → the destination keeps its current value
            # ($1-style backrefs work identically in RE2 and Java)
            newv = F.when(
                srcv.rlike(anchored), F.regexp_replace(srcv, anchored, repl)
            ).otherwise(F.coalesce(m.getItem(dst), F.lit("")))
        else:
            dst, sep, *srcs = node.args
            newv = F.concat_ws(
                sep, *[F.coalesce(m.getItem(s), F.lit("")) for s in srcs]
            )
        nm = F.map_concat(
            F.map_filter(m, lambda k, _: k != F.lit(dst)),
            F.map_filter(
                F.create_map(F.lit(dst), newv), lambda _, v: v != F.lit("")
            ),
        )
        return child.withColumn("labels", nm).withColumn(
            "labels_str", L.labels_str_expr(F.col("labels"))
        )

    def _eval_valuefn(self, node: ValueFn) -> DataFrame:
        if node.fn == "timestamp":
            # timestamp(v): the evaluation timestamp of each point's
            # underlying sample, in seconds — needs the pre-aggregation
            # sample times, so it binds to an instant selector
            if not isinstance(node.child, Selector):
                raise ValueError("timestamp() takes an instant selector")
            sel = node.child
            cells = _grid_explode(
                self._base(sel.matchers, self.lookback_ms, sel.offset_ms),
                self.start,
                self.end,
                self.step,
                self.lookback_ms,
            )
            out = cells.groupBy("_ent", _G).agg(
                (F.max("t") / 1000.0).alias("value"),
            )
            return self._strip_name(
                out.select(
                    L.labels_str_from_entries(F.col("_ent")).alias("labels_str"),
                    F.map_from_entries("_ent").alias("labels"),
                    F.col(_G),
                    "value",
                )
            )
        child = self._strip_name(self.eval(node.child))
        v = F.col("value")
        p = node.params
        fn = node.fn
        if fn == "abs":
            out = F.abs(v)
        elif fn == "ceil":
            out = F.ceil(v).cast("double")
        elif fn == "floor":
            out = F.floor(v).cast("double")
        elif fn == "sqrt":
            out = F.sqrt(v)
        elif fn == "exp":
            out = F.exp(v)
        elif fn == "ln":
            out = F.log(v)
        elif fn == "log2":
            out = F.log2(v)
        elif fn == "log10":
            out = F.log10(v)
        elif fn == "sgn":
            out = F.signum(v)
        elif fn == "clamp":
            out = F.least(F.lit(p[1]), F.greatest(F.lit(p[0]), v))
        elif fn == "clamp_min":
            out = F.greatest(F.lit(p[0]), v)
        elif fn == "clamp_max":
            out = F.least(F.lit(p[0]), v)
        elif fn in ("sin", "cos", "tan", "asin", "acos", "atan",
                    "sinh", "cosh", "tanh", "asinh", "acosh", "atanh"):
            out = getattr(F, fn)(v)
        elif fn == "deg":
            out = F.degrees(v)
        elif fn == "rad":
            out = F.radians(v)
        elif fn == "round":
            to = p[0] if p else 1.0
            # nearest multiple of `to`, .5 up — floor(x/to + 0.5)·to is
            # the documented cross-engine-stable form
            out = (F.floor(v / F.lit(to) + 0.5) * F.lit(to)).cast("double")
        else:
            raise ValueError(f"unknown value function {fn!r}")
        # out-of-domain math (ln of a negative, 0/0 upstream) yields
        # NULL in Spark — filtered, not emitted as NaN (documented)
        return child.withColumn("value", out).filter(F.col("value").isNotNull())

    def _eval_histfn(self, node: HistFn) -> DataFrame:
        """Native-histogram instant evaluation: latest `h` per series in
        the lookback window per grid point (ONE bounded fan-out + ONE
        combinable max_by groupBy — the same two-shuffle skeleton as the
        float instant path), then the pure-Column transform from
        nativehist.py. Requires the frame's optional `h` struct column
        (unique per (series, t), the build_histograms contract)."""
        from tsdb_spark import nativehist as NH

        if "h" not in self.frame.columns:
            raise ValueError(
                f"{node.fn} needs a native-histogram frame (h column); "
                "build one with nativehist.build_histograms"
            )
        if self._contains_hist_binop(node.child):
            # histogram-valued binary arithmetic in the child —
            # h+h / h-h / h*scalar / h/scalar (engine.go VectorBinop
            # histogram samples, prometheus 3.x)
            agg = self._eval_hist_vector(node.child)
            out = agg.withColumn(
                "value", self._hist_value(node)(F.col("h"))
            ).drop("h")
            return self._strip_name(out).select(
                "labels_str", "labels", _G, "value"
            )
        rate_fn = None
        sel = node.child
        agg_node = None
        if isinstance(sel, Aggregate) and sel.op == "sum":
            # sum-aggregation of native histograms across series —
            # `histogram_quantile(0.9, sum by (k) (rate(h[5m])))`, the
            # production fleet-wide-latency pattern (upstream aggregates
            # histogram samples component-wise). `by` grouping only
            # (`without` raises); the component sums + bucket union-sum
            # are two combinable groupBys below.
            if sel.without is not None:
                raise ValueError(
                    "native histogram sum supports by() grouping only"
                )
            agg_node, sel = sel, sel.child
        if (
            isinstance(sel, FuncCall)
            and sel.fn in ("rate", "increase", "delta")
            and isinstance(sel.arg, Selector)
        ):
            # histogram_quantile(0.9, rate(latency[5m])) — the canonical
            # native-histogram query: the window's boundary histograms
            # subtracted component-wise (nativehist.hist_sub), scaled to
            # per-second for rate
            rate_fn, sel = sel.fn, sel.arg
        if not isinstance(sel, Selector) or (
            (sel.range_ms is not None) != (rate_fn is not None)
        ):
            raise ValueError(
                "native histogram functions take an instant selector or "
                "rate/increase/delta over a matrix selector"
            )
        if sel.at_ms is not None:
            stripped = replace(sel, at_ms=None)
            child = (
                FuncCall(rate_fn, stripped) if rate_fn is not None else stripped
            )
            if agg_node is not None:
                child = replace(agg_node, child=child)
            return self._pinned(sel.at_ms, replace(node, child=child))
        agg = self._hist_leaf(
            FuncCall(rate_fn, sel) if rate_fn is not None else sel
        )
        if agg_node is not None:
            agg = self._hist_group_sum(agg, list(agg_node.by or []))
        out = agg.withColumn(
            "value", self._hist_value(node)(F.col("h"))
        ).drop("h")
        return self._strip_name(out).select(
            "labels_str", "labels", _G, "value"
        )

    @staticmethod
    def _hist_value(node: HistFn):
        """The histogram→float transform for one HistFn node."""
        from tsdb_spark import nativehist as NH

        return {
            "histogram_count": NH.hist_count,
            "histogram_sum": NH.hist_sum,
            "histogram_avg": NH.hist_avg,
            "histogram_stddev": NH.hist_stddev,
            "histogram_stdvar": NH.hist_stdvar,
            "quantile": lambda h: NH.hist_quantile(node.lo, h),
            "histogram_fraction": lambda h: NH.hist_fraction(
                node.lo, node.hi, h
            ),
        }[node.fn]

    @classmethod
    def _contains_hist_binop(cls, node) -> bool:
        """True when the (histogram-shaped) expression tree contains a
        BinVector/BinScalar node — routed through _eval_hist_vector."""
        if isinstance(node, (BinVector, BinScalar)):
            return True
        if isinstance(node, Aggregate):
            return cls._contains_hist_binop(node.child)
        if isinstance(node, FuncCall):
            return cls._contains_hist_binop(node.arg)
        return False

    def _eval_hist_vector(self, node) -> DataFrame:
        """Evaluate a native-histogram-VALUED vector expression to an
        h-frame (labels_str, labels, _pq_t, h) — the histogram side of
        engine.go's VectorBinop (prometheus 3.x histogram arithmetic):

          selector               instant lookback (latest h per step)
          rate/increase/delta    boundary hist_sub, like _eval_histfn
          sum by (...)           component-wise group sum
          h + h / h - h          one-to-one vector matching on the
                                 binop signature; mismatched
                                 exponential schemas downscale to the
                                 coarser side; incompatible pairs
                                 (mixed NHCB/exponential, differing
                                 custom bounds) drop, as upstream
                                 skips them with a warning annotation
          h * scalar, scalar * h, h / scalar
                                 component-wise scale

        Everything composes: (rate(a[5m]) + rate(b[5m])) * 3 is one
        plan — two rate aggs, one signature equi-join, a projection."""
        from tsdb_spark import nativehist as NH

        if isinstance(node, BinScalar):
            if node.op == "*":
                fac = float(node.scalar)
            elif node.op == "/" and not node.scalar_left:
                fac = 1.0 / float(node.scalar)
            else:
                raise ValueError(
                    f"histogram {node.op} scalar is not defined "
                    "(only h*s, s*h, h/s — engine.go VectorBinop)"
                )
            child = self._eval_hist_vector(node.child)
            return self._strip_name(
                child.withColumn("h", NH.hist_scale(F.col("h"), fac))
            )
        if isinstance(node, BinVector):
            if node.op not in ("+", "-"):
                raise ValueError(
                    f"histogram {node.op} histogram is not defined "
                    "(only + and - — engine.go VectorBinop)"
                )
            if node.group_side is not None:
                raise ValueError(
                    "group_left/group_right with histogram operands "
                    "is not supported"
                )
            mk = self._match_map(node.on, node.ignoring)
            l = self._eval_hist_vector(node.left).select(
                L.labels_str_expr(mk(F.col("labels"))).alias("_mk"),
                mk(F.col("labels")).alias("_mlab"),
                F.col(_G),
                F.col("h").alias("_hl"),
            )
            r = self._eval_hist_vector(node.right).select(
                L.labels_str_expr(mk(F.col("labels"))).alias("_mk"),
                F.col(_G),
                F.col("h").alias("_hr"),
            )
            l = _unique_guard(
                l, ["_mk", _G], "_hl",
                "multiple matches for labels: many-to-one matching "
                "must be explicit (group_left/group_right)",
            )
            r = _unique_guard(
                r, ["_mk", _G], "_hr",
                "found duplicate series for the match group on the "
                "right hand-side of the operation",
            )
            j = l.join(r, ["_mk", _G]).filter(
                NH.hist_compatible(F.col("_hl"), F.col("_hr"))
            )
            # arithmetic takes the SIGNATURE as the result label set
            # (the one-to-one rule the float path applies)
            return j.select(
                F.col("_mk").alias("labels_str"),
                F.col("_mlab").alias("labels"),
                F.col(_G),
                NH.hist_binop(F.col("_hl"), F.col("_hr"), node.op).alias(
                    "h"
                ),
            )
        if isinstance(node, Aggregate) and node.op == "sum":
            if node.without is not None:
                raise ValueError(
                    "native histogram sum supports by() grouping only"
                )
            return self._hist_group_sum(
                self._eval_hist_vector(node.child), list(node.by or [])
            )
        # leaves: instant selector or rate/increase/delta over one —
        # reuse the HistFn machinery via a count-transform-free pass by
        # evaluating through the existing selector/rate body
        return self._hist_leaf(node)

    def _hist_leaf(self, node) -> DataFrame:
        """Selector / rate-over-selector → h-frame: the leaf acquisition
        shared with _eval_histfn's classic path (one bounded grid
        fan-out + one combinable groupBy)."""
        from tsdb_spark import nativehist as NH

        rate_fn = None
        sel = node
        if (
            isinstance(sel, FuncCall)
            and sel.fn in ("rate", "increase", "delta")
            and isinstance(sel.arg, Selector)
        ):
            rate_fn, sel = sel.fn, sel.arg
        if not isinstance(sel, Selector) or (
            (sel.range_ms is not None) != (rate_fn is not None)
        ):
            raise ValueError(
                "histogram arithmetic operands must be instant "
                "selectors, rate/increase/delta over a matrix "
                "selector, sum by (...) of those, or further "
                "histogram arithmetic"
            )
        if sel.at_ms is not None:
            raise ValueError(
                "@ inside histogram arithmetic is not supported"
            )
        reach = sel.range_ms if rate_fn is not None else self.lookback_ms
        off = sel.offset_ms
        base = (
            self.frame.filter(L.compile_matchers(sel.matchers))
            .filter(F.col("h").isNotNull())
            .filter(
                (F.col("t") >= self.start - reach + 1 - off)
                & (F.col("t") <= self.end - off)
            )
            .select(
                "labels_str",
                "labels",
                (F.col("t") + off).alias("t"),
                "h",
            )
        )
        cells = _grid_explode(base, self.start, self.end, self.step, reach)
        if rate_fn is not None:
            # the same boundary extrapolation as the float path
            # (promql/functions.go extrapolatedRate) — histograms skip
            # only the float-specific zero-crossing cap, which upstream
            # guards on samples.Floats
            agg = (
                cells.groupBy("labels_str", _G)
                .agg(
                    F.first("labels").alias("labels"),
                    F.count(F.lit(1)).alias("_n"),
                    F.min("t").alias("_t1"),
                    F.max("t").alias("_t2"),
                    F.min_by("h", "t").alias("_h1"),
                    F.max_by("h", "t").alias("_h2"),
                )
                .filter(F.col("_n") >= 2)
            )
            # denominators guarded with when(): ANSI division may be
            # evaluated before the n>=2 filter when Catalyst collapses
            # projections, and a 1-sample window must yield NULL, not
            # DIVIDE_BY_ZERO
            sampled = F.when(
                F.col("_t2") > F.col("_t1"),
                (F.col("_t2") - F.col("_t1")).cast("double"),
            )
            dstart = (F.col("_t1") - (F.col(_G) - F.lit(reach))).cast(
                "double"
            )
            dend = (F.col(_G) - F.col("_t2")).cast("double")
            avg_dur = sampled / F.when(
                F.col("_n") >= 2, (F.col("_n") - 1).cast("double")
            )
            ext = (
                sampled
                + F.when(dstart < avg_dur * 1.1, dstart).otherwise(
                    avg_dur / 2
                )
                + F.when(dend < avg_dur * 1.1, dend).otherwise(avg_dur / 2)
            ) / sampled
            if rate_fn == "rate":
                ext = ext * F.lit(1000.0 / reach)
            agg = agg.withColumn(
                "h", NH.hist_sub(F.col("_h2"), F.col("_h1"), ext)
            ).drop("_n", "_t1", "_t2", "_h1", "_h2")
        else:
            agg = cells.groupBy("labels_str", _G).agg(
                F.first("labels").alias("labels"),
                F.max_by("h", "t").alias("h"),
            )
        return agg.select("labels_str", "labels", _G, "h")

    #: info()'s identifying labels (promql/info.go defaultIdentifyingLabels)
    INFO_IDENT = ("instance", "job")

    def _eval_info(self, node: Info) -> DataFrame:
        """info(): ONE equi-join on (identifying labels, T) against the
        broadcast `target_info` instant vector — info metrics are
        dim-scale (one series per scrape target), so the enrich never
        shuffles the main vector."""
        child = self.eval(node.child)
        if "labels" not in child.columns:
            raise ValueError("info() needs a label-carrying vector")
        info = self._eval_instant(Selector([L.eq("__name__", "target_info")]))
        if node.matchers:
            info = info.filter(L.compile_matchers(list(node.matchers)))
        drop = F.array(
            F.lit("__name__"), *[F.lit(k) for k in self.INFO_IDENT]
        )
        data = F.map_filter(
            F.col("labels"), lambda k, _: ~F.array_contains(drop, k)
        )
        if node.matchers:
            # a data-label selector also SELECTS which data labels are
            # added (promql/info.go: labels named by the selector)
            keep = F.array(*[F.lit(m.name) for m in node.matchers])
            data = F.map_filter(data, lambda k, _: F.array_contains(keep, k))
        ikeys = [f"_i_{k}" for k in self.INFO_IDENT]

        def ident_cols():
            return [
                F.coalesce(F.col("labels").getItem(k), F.lit("")).alias(a)
                for k, a in zip(self.INFO_IDENT, ikeys)
            ]

        inf = info.select(*ident_cols(), F.col(_G), data.alias("_data"))
        # >1 info series per identifying signature would make the added
        # labels ambiguous — upstream errors (info.go "conflicting")
        inf = _unique_guard(
            inf,
            [*ikeys, _G],
            "_data",
            "info(): multiple matching info series for an identifying "
            "label set",
        )
        c2 = child.select(
            "labels_str", "labels", F.col(_G), "value", *ident_cols()
        )
        j = c2.join(F.broadcast(inf), [*ikeys, _G], "left").drop(*ikeys)
        empty = F.create_map().cast("map<string,string>")
        add = F.map_filter(
            F.coalesce(F.col("_data"), empty),
            # v's own labels always win — never overwritten
            lambda k, _: ~F.map_contains_key(F.col("labels"), k),
        )
        lab = F.map_concat(F.col("labels"), add)
        return j.select(
            L.labels_str_expr(lab).alias("labels_str"),
            lab.alias("labels"),
            F.col(_G),
            "value",
        )

    @staticmethod
    def _hist_group_sum(frame: DataFrame, by: list[str]) -> DataFrame:
        """Component-wise sum of native histograms per (by-keys, T):
        count/sum/zero as ONE combinable groupBy; buckets as a sparse
        union-sum (explode → groupBy idx → reassemble) — a second
        combinable groupBy whose group space is buckets-per-group, never
        samples. Result is a label-carrying h frame (by-keys as the
        label set), so the downstream quantile/count/sum transforms and
        vector matching work unchanged."""
        keys = [
            F.coalesce(F.col("labels").getItem(k), F.lit("")).alias(k)
            for k in by
        ]
        flat = frame.select(*keys, F.col(_G), F.col("h"))
        comps = flat.groupBy(*by, _G).agg(
            F.sum("h.count").alias("_count"),
            F.sum("h.sum").alias("_sum"),
            F.sum("h.zero_count").alias("_zero"),
            F.first("h.schema").alias("_schema"),
            # NHCB: custom bounds are required-identical across summed
            # histograms upstream (mismatch is an error); the engine's
            # subset carries the group's first bounds
            F.first("h.custom_values").alias("_cv"),
        )
        ex = flat.select(*by, F.col(_G), F.explode("h.buckets").alias("_b"))
        bk = (
            ex.groupBy(*by, _G, F.col("_b.idx").alias("_idx"))
            .agg(F.sum("_b.c").alias("_c"))
            .groupBy(*by, _G)
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("_idx").alias("idx"), F.col("_c").alias("c")
                        )
                    )
                ).alias("_buckets")
            )
        )
        j = comps.join(bk, [*by, _G], "left")
        empty_b = F.array().cast("array<struct<idx:int,c:double>>")
        h = F.struct(
            F.col("_count").alias("count"),
            F.col("_sum").alias("sum"),
            F.col("_zero").alias("zero_count"),
            F.col("_schema").alias("schema"),
            F.coalesce(F.col("_buckets"), empty_b).alias("buckets"),
            F.col("_cv").alias("custom_values"),
        )
        kv = [x for k in by for x in (F.lit(k), _colref(k).cast("string"))]
        m = (
            F.create_map(*kv)
            if kv
            else F.create_map().cast("map<string,string>")
        )
        m = F.map_filter(m, lambda _, v: v != F.lit(""))
        return j.select(
            L.labels_str_expr(m).alias("labels_str"),
            m.alias("labels"),
            F.col(_G),
            h.alias("h"),
        )

    def _eval_histq(self, node: HistQuantile) -> DataFrame:
        # native dispatch: an h-carrying frame + a selector child (or
        # rate/increase/delta over one) → the exponential-bucket
        # estimator (upstream evaluates native histogram samples through
        # histogramQuantile, float samples through bucketQuantile —
        # here the frame shape picks the path)
        def native(n) -> bool:
            if isinstance(n, Selector):
                return True
            if isinstance(n, FuncCall) and n.fn in (
                "rate", "increase", "delta",
            ):
                return isinstance(n.arg, Selector)
            if isinstance(n, Aggregate) and n.op == "sum":
                return native(n.child)
            # histogram arithmetic: h±h with both sides native,
            # h*scalar / h/scalar with a native child
            if isinstance(n, BinVector) and n.op in ("+", "-"):
                return native(n.left) and native(n.right)
            if isinstance(n, BinScalar) and n.op in ("*", "/"):
                return native(n.child)
            return False

        if "h" in self.frame.columns and native(node.child):
            return self._eval_histfn(
                HistFn("quantile", node.child, lo=node.phi)
            )
        child = self.eval(node.child)
        if "labels" not in child.columns:
            raise ValueError("histogram_quantile needs a le-labeled vector")
        m = F.map_filter(
            F.col("labels"),
            lambda k, _: (k != F.lit("le")) & (k != F.lit("__name__")),
        )
        le_s = F.col("labels").getItem("le")
        le = (
            F.when(le_s == "+Inf", F.lit(float("inf")))
            .otherwise(le_s.cast("double"))
            .alias("le")
        )
        grp = child.select(
            L.labels_str_expr(m).alias("labels_str"),
            m.alias("labels"),
            le,
            F.col(_G),
            "value",
        ).filter(F.col("le").isNotNull())
        agg = grp.groupBy("labels_str", _G).agg(
            F.first("labels").alias("labels"),
            F.array_sort(
                F.collect_list(F.struct(F.col("le"), F.col("value").alias("c")))
            ).alias("buckets"),
        )
        b = F.col("buckets")
        total = F.element_at(b, -1).getField("c")
        rank = F.lit(node.phi) * total
        # left-to-right fold over ascending buckets: first cumulative
        # count >= rank wins; interpolate within [prev_le, le]; a hit in
        # the +Inf bucket clamps to the highest finite bound
        # (promql/quantile.go bucketQuantile)
        init = F.struct(
            F.lit(None).cast("double").alias("res"),
            F.lit(0.0).alias("ple"),
            F.lit(0.0).alias("pc"),
        )
        inf = F.lit(float("inf"))

        def step(acc, x):
            hit = F.when(
                x.getField("le") == inf, acc.getField("ple")
            ).otherwise(
                acc.getField("ple")
                + (x.getField("le") - acc.getField("ple"))
                * (rank - acc.getField("pc"))
                / (x.getField("c") - acc.getField("pc"))
            )
            take = acc.getField("res").isNull() & (x.getField("c") >= rank)
            return F.struct(
                F.when(take, hit).otherwise(acc.getField("res")).alias("res"),
                x.getField("le").alias("ple"),
                x.getField("c").alias("pc"),
            )

        q = F.aggregate(b, init, step, lambda acc: acc.getField("res"))
        return (
            agg.withColumn("value", q)
            .filter(F.col("value").isNotNull())
            .select("labels_str", "labels", _G, "value")
        )

    def _eval_agg(self, node: Aggregate) -> DataFrame:
        child = self.eval(node.child)
        has_labels = "labels" in child.columns

        def _key_col(k: str) -> Column:
            # a grouped child exposes its keys as plain columns; a
            # selector/function child carries the labels map
            if has_labels:
                return F.coalesce(F.col("labels").getItem(k), F.lit(""))
            return _colref(k)

        def _ident() -> Column:
            # stable per-series identity for the sampling aggregations:
            # the canonical labels_str when present, else the grouped
            # child's key columns
            if "labels_str" in child.columns:
                return F.col("labels_str")
            keys_ = [
                c for c in child.columns if c not in (_G, "value", "labels")
            ]
            return F.concat_ws("\x1f", *[_colref(c) for c in keys_])

        if node.op == "limit_ratio":
            # deterministic ratio sampling of series (promql 3.x
            # limit_ratio; upstream hashes the label set — here the
            # md5-derived hash64, the engine's standard, so a SQL
            # oracle reproduces the exact selection). Negative ratio
            # selects the complement set, as upstream.
            from tsdb_spark.pipeline.common import hash64

            r = float(node.param if node.param is not None else 0.0)
            frac = hash64(_ident(), seed="limitk") / float(1 << 60)
            cond = (frac < F.lit(r)) if r >= 0 else (frac >= F.lit(1.0 + r))
            return child.filter(cond)
        if node.op == "limitk":
            # k arbitrary-but-deterministic series per (group, T):
            # the topk window ordered by the series-identity hash
            from pyspark.sql import Window

            from tsdb_spark.pipeline.common import hash64

            part = [F.col(_G)]
            if node.by is not None:
                part += [_key_col(k) for k in node.by]
            elif node.without is not None:
                drop = F.array(*[F.lit(k) for k in [*node.without, "__name__"]])
                part.append(
                    L.labels_str_expr(
                        F.map_filter(
                            F.col("labels"), lambda k, _: ~F.array_contains(drop, k)
                        )
                    )
                )
            w = Window.partitionBy(*part).orderBy(
                hash64(_ident(), seed="limitk").asc(), _ident().asc()
            )
            k = int(node.param if node.param is not None else 1)
            return (
                child.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") <= k)
                .drop("_rk")
            )
        if node.op in ("topk", "bottomk"):
            # not a fold: keep the k extreme SERIES per (group, T) with
            # their input labels (PromQL topk/bottomk semantics). One
            # window over (group keys, T); ties broken deterministically
            # by the series identity so the result is reproducible.
            from pyspark.sql import Window

            part = [F.col(_G)]
            if node.by is not None:
                part += [_key_col(k) for k in node.by]
            elif node.without is not None:
                drop = F.array(*[F.lit(k) for k in [*node.without, "__name__"]])
                part.append(
                    L.labels_str_expr(
                        F.map_filter(
                            F.col("labels"), lambda k, _: ~F.array_contains(drop, k)
                        )
                    )
                )
            tie = (
                F.col("labels_str")
                if "labels_str" in child.columns
                else F.lit(0)
            )
            # upstream de-prioritizes NaN on BOTH forms (engine.go topk/
            # bottomk heaps evict NaN for any number; Spark would
            # instead order NaN above every double)
            nan_last = F.when(F.isnan("value"), 1).otherwise(0).asc()
            val = F.col("value").desc() if node.op == "topk" else F.col("value").asc()
            w = Window.partitionBy(*part).orderBy(nan_last, val, tie)
            k = int(node.param if node.param is not None else 1)
            return (
                child.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") <= k)
                .drop("_rk")
            )
        without_map = None
        if node.by is not None:
            keys = [_key_col(k).alias(k) for k in node.by]
            out_keys = list(node.by)
        elif node.without is not None:
            # PromQL `without` also drops the metric name from the
            # result; the remaining label set IS the output series
            # identity (rules/recording.go reads it, vector matching
            # joins on it), so the result carries the filtered labels
            # map + canonical labels_str like any selector output —
            # downstream on()/ignoring()/group_* work uniformly
            if has_labels:
                drop = F.array(
                    *[F.lit(k) for k in [*node.without, "__name__"]]
                )
                without_map = F.map_filter(
                    F.col("labels"), lambda k, _: ~F.array_contains(drop, k)
                )
            else:
                # a grouped child's key columns ARE its full label set
                # (count_values / by-aggregates): build the map from the
                # kept keys, empty values meaning absent (F14)
                gkeys = [
                    c
                    for c in child.columns
                    if c not in (_G, "value", "labels", "labels_str")
                    and c not in node.without
                ]
                kv = [
                    x
                    for k in gkeys
                    for x in (F.lit(k), _colref(k).cast("string"))
                ]
                without_map = (
                    F.create_map(*kv)
                    if kv
                    else F.create_map().cast("map<string,string>")
                )
                without_map = F.map_filter(
                    without_map, lambda _, v: v != F.lit("")
                )
            keys = [L.labels_str_expr(without_map).alias("labels_str")]
            out_keys = ["labels_str"]
        else:
            keys, out_keys = [], []
        if node.op == "count_values":
            # count_values("dst", e): series count per distinct value,
            # the value itself becoming the `dst` label. Rendering
            # matches the API layer's Go-style shortest form for
            # integral values (api.format_value); one combinable
            # groupBy — the distinct-value space is the group space.
            dst = str(node.param)
            rendered = F.when(
                (F.col("value") == F.floor("value"))
                & (F.abs(F.col("value")) < F.lit(1e15)),
                F.col("value").cast("bigint").cast("string"),
            ).otherwise(F.col("value").cast("string"))
            if without_map is not None:
                # label-carrying result: group labels + the dst label
                agged = child.groupBy(*keys, rendered.alias(dst), _G).agg(
                    F.count("*").cast("double").alias("value"),
                    F.first(without_map).alias("_gl"),
                )
                lab = F.map_concat(
                    F.col("_gl"), F.create_map(F.lit(dst), F.col(dst))
                )
                return agged.select(
                    L.labels_str_expr(lab).alias("labels_str"),
                    lab.alias("labels"),
                    _G,
                    "value",
                )
            return (
                child.groupBy(*keys, rendered.alias(dst), _G)
                .agg(F.count("*").cast("double").alias("value"))
                .select(
                    *[_colref(k).alias(k) for k in out_keys],
                    _colref(dst).alias(dst),
                    _G,
                    "value",
                )
            )
        ops = {
            "sum": F.sum("value"),
            "avg": F.avg("value"),
            # upstream min/max ignore NaN unless every value is NaN
            # (engine.go: a NaN group-max is replaced by any number).
            # Spark's NaN-is-greatest ordering already gives min that
            # behavior; max needs the explicit non-NaN pass + fallback
            "min": F.min("value"),
            "max": F.coalesce(
                F.max(F.when(~F.isnan("value"), F.col("value"))),
                F.max("value"),
            ),
            "count": F.count("value").cast("double"),
            "group": F.lit(1.0),
            # population stddev/stdvar over the (few) series per group —
            # float-accumulating like upstream; oracle entries keep the
            # groups tiny or round, per the sum caveat
            "stddev": F.stddev_pop("value"),
            "stdvar": F.var_pop("value"),
            # exact percentile with PromQL's rank = φ(n-1) linear
            # interpolation (matches DuckDB quantile_cont); group sizes
            # are series-per-group, never sample counts. Out-of-range /
            # NaN φ short-circuits to ±Inf/NaN like upstream quantile.go
            # (with an InvalidQuantileWarning via collect_annotations) —
            # Spark's percentile() would raise at analysis instead
            "quantile": _agg_quantile_expr(
                node.param if node.param is not None else 0.5
            ),
        }
        if without_map is not None:
            return (
                child.groupBy(*keys, _G)
                .agg(
                    ops[node.op].alias("value"),
                    F.first(without_map).alias("labels"),
                )
                .select("labels_str", "labels", _G, "value")
            )
        return child.groupBy(*keys, _G).agg(ops[node.op].alias("value")).select(
            *[_colref(k).alias(k) for k in out_keys], _G, "value"
        )

    def run(self, node_or_text) -> DataFrame:
        node = (
            parse_expr(node_or_text) if isinstance(node_or_text, str) else node_or_text
        )
        node = resolve_at(node, self.start, self.end)
        out = self.eval(node).withColumnRenamed(_G, "t")
        if isinstance(node, Sort):
            if node.by_labels:
                keys = [
                    (
                        F.col("labels").getItem(k)
                        if "labels" in out.columns
                        else _colref(k)
                    )
                    for k in node.by_labels
                ]
                keys = [c.desc() if node.desc else c.asc() for c in keys]
                return out.orderBy("t", *keys)
            # upstream sort()/sort_desc() place NaN LAST in both
            # directions (Spark's NaN-is-greatest would front-load NaN
            # under desc)
            nan_last = F.when(F.isnan("value"), 1).otherwise(0).asc()
            return out.orderBy(
                "t",
                nan_last,
                F.col("value").desc() if node.desc else F.col("value").asc(),
            )
        return out.orderBy("t")


def eval_range(
    frame: DataFrame,
    expr: str,
    start: int,
    end: int,
    step: int,
    lookback_ms: int = DEFAULT_LOOKBACK_MS,
) -> DataFrame:
    """One-shot helper: evaluate `expr` over [start, end] at `step`."""
    return RangeQuery(frame, start, end, step, lookback_ms).run(expr)


def required_reach(node, lookback_ms: int = DEFAULT_LOOKBACK_MS) -> int:
    """How far before `start` the expression can read — callers bound
    their storage scan to [start - reach + 1, end] so the querier's
    partition pruning still applies under the evaluator."""
    if isinstance(node, str):
        node = parse_expr(node)
    if isinstance(node, Number):
        return 0
    if isinstance(node, Selector):
        base = node.range_ms if node.range_ms is not None else lookback_ms
        return base + node.offset_ms
    if isinstance(node, FuncCall):
        return required_reach(node.arg, lookback_ms)
    if isinstance(node, Subquery):
        return (
            node.range_ms
            + node.offset_ms
            + required_reach(node.child, lookback_ms)
        )
    if isinstance(node, Absent):
        return required_reach(node.sel, lookback_ms)
    if isinstance(node, TimeFn):
        return (
            required_reach(node.child, lookback_ms)
            if node.child is not None
            else 0
        )
    if isinstance(node, BinDynScalar):
        return max(
            required_reach(node.child, lookback_ms),
            required_reach(node.scalar, lookback_ms),
        )
    if isinstance(node, Info):
        # info() also reads the target_info instant vector (lookback)
        return max(required_reach(node.child, lookback_ms), lookback_ms)
    if isinstance(
        node,
        (Aggregate, BinScalar, ValueFn, HistQuantile, HistFn, Info, LabelTransform, Sort, ScalarOf),
    ):
        return required_reach(node.child, lookback_ms)
    if isinstance(node, (BinVector, BinSet)):
        return max(
            required_reach(node.left, lookback_ms),
            required_reach(node.right, lookback_ms),
        )
    raise TypeError(f"unknown node {node!r}")


def scan_bounds(
    node, start: int, end: int, lookback_ms: int = DEFAULT_LOOKBACK_MS
) -> tuple[int, int]:
    """The physical sample-time interval [mint, maxt] evaluating `node`
    over grid [start, end] may read — the storage-scan bound. Unlike
    `required_reach` (start-relative by contract) this is `@`-aware: a
    pinned selector reads around its pin, wherever that lies."""
    if isinstance(node, str):
        node = parse_expr(node)
    node = resolve_at(node, start, end)

    def walk(n, lo: int, hi: int) -> tuple[int, int] | None:
        if isinstance(n, Number):
            return None
        if isinstance(n, Selector):
            if n.at_ms is not None:
                lo = hi = n.at_ms
            r = n.range_ms if n.range_ms is not None else lookback_ms
            return (lo - n.offset_ms - r + 1, hi - n.offset_ms)
        if isinstance(n, FuncCall):
            return walk(n.arg, lo, hi)
        if isinstance(n, Subquery):
            if n.at_ms is not None:
                lo = hi = n.at_ms
            return walk(n.child, lo - n.offset_ms - n.range_ms, hi - n.offset_ms)
        if isinstance(n, Absent):
            return walk(n.sel, lo, hi)
        if isinstance(n, TimeFn):
            return walk(n.child, lo, hi) if n.child is not None else None
        if isinstance(n, BinDynScalar):
            a, b = walk(n.child, lo, hi), walk(n.scalar, lo, hi)
            if a is None or b is None:
                return a if b is None else b
            return (min(a[0], b[0]), max(a[1], b[1]))
        if isinstance(n, Info):
            a = walk(n.child, lo, hi)
            b = (lo - lookback_ms + 1, hi)  # the target_info scan
            if a is None:
                return b
            return (min(a[0], b[0]), max(a[1], b[1]))
        if isinstance(
            n,
            (Aggregate, BinScalar, ValueFn, HistQuantile, HistFn, Info,
             LabelTransform, Sort, ScalarOf),
        ):
            return walk(n.child, lo, hi)
        if isinstance(n, (BinVector, BinSet)):
            a, b = walk(n.left, lo, hi), walk(n.right, lo, hi)
            if a is None:
                return b
            if b is None:
                return a
            return (min(a[0], b[0]), max(a[1], b[1]))
        raise TypeError(f"unknown node {n!r}")

    got = walk(node, start, end)
    return got if got is not None else (start, end)


def eval_range_db(
    db,
    expr: str,
    start: int,
    end: int,
    step: int,
    lookback_ms: int = DEFAULT_LOOKBACK_MS,
) -> DataFrame:
    """Evaluate against a DB store: one pruned querier select feeds the
    grid evaluator (the promql/engine.go arrangement — the evaluator
    sits directly on Querier.Select)."""
    node = parse_expr(expr)
    mint, maxt = scan_bounds(node, start, end, lookback_ms)
    frame = db.querier(mint, maxt).select([], with_labels=True)
    return RangeQuery(frame, start, end, step, lookback_ms).run(node)


def eval_hist_range_db(
    db,
    expr: str,
    start: int,
    end: int,
    step: int,
    lookback_ms: int = DEFAULT_LOOKBACK_MS,
) -> DataFrame:
    """Evaluate a native-histogram expression against a DB store's
    histograms table: the scan-bounded, partition-pruned hist_frame
    feeds the grid evaluator (the eval_range_db arrangement for the
    prometheus 3.x sample type the reference's float64-only chunks
    lack)."""
    node = parse_expr(expr)
    mint, maxt = scan_bounds(node, start, end, lookback_ms)
    frame = db.hist_frame(mint, maxt)
    return RangeQuery(frame, start, end, step, lookback_ms).run(node)


# ----------------------------------------------- annotation channel
#
# promql/parser + util/annotations (public, prometheus 3.x): an
# evaluation can carry warn/info ANNOTATIONS beside its result —
# rate() over a metric whose name doesn't look like a counter,
# quantile parameters outside [0, 1], classic histogram_quantile fed
# buckets with malformed `le` labels. Upstream threads an annotation
# set through the evaluator; here the conditions are detectable from
# the parsed AST plus (for the data-dependent ones) one tiny pruned
# existence probe, so the channel is a separate pass the caller opts
# into (the promqltest runner's `expect warn/info` directives) —
# the result DataFrame itself stays a pure value pipeline.

_COUNTER_SUFFIXES = ("_total", "_sum", "_count", "_bucket")
_COUNTER_FNS = {"rate", "increase", "irate"}


def _walk_nodes(node):
    yield node
    for attr in ("child", "left", "right", "scalar", "sel", "arg"):
        c = getattr(node, attr, None)
        if c is not None and not isinstance(c, (int, float, str, list, tuple)):
            yield from _walk_nodes(c)


def _name_matcher_value(node) -> str | None:
    if isinstance(node, Selector):
        for m in node.matchers:
            if m.name == "__name__" and m.type == "=":
                return m.value
    return None


def collect_annotations(
    db,
    expr: str,
    start: int,
    end: int,
    step: int,
    lookback_ms: int = DEFAULT_LOOKBACK_MS,
) -> list[tuple[str, str]]:
    """Annotations an eval of `expr` over [start, end] would carry:
    [(kind, message)] with kind 'warn' | 'info', messages matching
    upstream util/annotations formats.

    - info  PossibleNonCounterInfo: rate/increase/irate over a selector
      whose __name__ doesn't end in _total/_sum/_count/_bucket AND that
      selects at least one sample in the window (one pruned LIMIT-1
      probe — upstream fires per present series).
    - warn  InvalidQuantileWarning: quantile_over_time /
      histogram_quantile / quantile aggregation with φ outside [0, 1]
      (or NaN) — static, no data touched.
    - warn  BadBucketLabelWarning: classic histogram_quantile over a
      selector where some series' `le` is missing or unparseable (one
      distinct-le probe over the pruned window)."""
    import math as _math

    node = parse_expr(expr)
    out: list[tuple[str, str]] = []
    seen: set[tuple[str, str]] = set()

    def emit(kind: str, msg: str) -> None:
        if (kind, msg) not in seen:
            seen.add((kind, msg))
            out.append((kind, msg))

    def selector_nonempty(sel: Selector, reach_ms: int) -> bool:
        frame = (
            db.querier(start - reach_ms, end)
            .select(list(sel.matchers), with_labels=False)
        )
        return frame.limit(1).count() > 0

    for n in _walk_nodes(node):
        if isinstance(n, FuncCall) and n.fn in _COUNTER_FNS:
            name = _name_matcher_value(n.arg)
            if (
                name
                and not name.endswith(_COUNTER_SUFFIXES)
                and isinstance(n.arg, Selector)
                and selector_nonempty(
                    n.arg, (n.arg.range_ms or 0) + n.arg.offset_ms
                )
            ):
                emit(
                    "info",
                    "metric might not be a counter, name does not end in "
                    f'_total/_sum/_count/_bucket: "{name}"',
                )
        phi = None
        if isinstance(n, FuncCall) and n.fn == "quantile_over_time":
            phi = n.param
        elif isinstance(n, HistQuantile):
            phi = n.phi
        elif isinstance(n, HistFn) and n.fn == "quantile":
            phi = n.lo
        elif isinstance(n, Aggregate) and n.op == "quantile":
            phi = n.param if isinstance(n.param, (int, float)) else None
        if phi is not None and (
            _math.isnan(float(phi)) or not 0.0 <= float(phi) <= 1.0
        ):
            emit(
                "warn",
                f"quantile value should be between 0 and 1, got {float(phi):g}",
            )
        if isinstance(n, HistQuantile) and isinstance(n.child, Selector):
            name = _name_matcher_value(n.child) or ""
            # the probe window is the selector's OWN pruned window —
            # offset shifts it like the evaluator's read does; `le` is
            # a series property, so dedup by series (labels_str) before
            # projecting the label value out of the map
            off = n.child.offset_ms
            les = (
                db.querier(start - lookback_ms - off, end - off)
                .select(list(n.child.matchers), with_labels=True)
                .select(
                    "labels_str",
                    F.element_at("labels", F.lit("le")).alias("le"),
                )
                .dropDuplicates(["labels_str"])
                .select("le")
                .distinct()
                .collect()
            )
            for r in les:
                le = r["le"]
                bad = le is None
                if not bad:
                    try:
                        float(le.replace("+Inf", "inf").replace("-Inf", "-inf"))
                    except ValueError:
                        bad = True
                if bad:
                    emit(
                        "warn",
                        'bucket label "le" is missing or has a malformed '
                        f'value of "{le or ""}" for metric name "{name}"',
                    )
    return out
