"""PromQL evaluator: parser structure, semantics vs a direct Python
model of the Prometheus evaluation rules (promql/functions.go
extrapolatedRate / instant-vector lookback), and plan-shape guards."""

import math

import pytest
from pyspark.sql import functions as F

from tsdb_spark import promql as P
from tsdb_spark.labels import eq


# ---------------------------------------------------------------- parse

def test_parse_duration():
    assert P.parse_duration("5m") == 300_000
    assert P.parse_duration("1h30m") == 5_400_000
    assert P.parse_duration("250ms") == 250
    with pytest.raises(ValueError):
        P.parse_duration("5x")


def test_parse_structures():
    n = P.parse_expr('sum by (user) (rate(click{user!="3"}[1h]))')
    assert isinstance(n, P.Aggregate) and n.op == "sum" and n.by == ["user"]
    assert isinstance(n.child, P.FuncCall) and n.child.fn == "rate"
    assert n.child.arg.range_ms == 3_600_000
    assert any(m.name == "user" for m in n.child.arg.matchers)

    n = P.parse_expr("avg_over_time(gauge[1d]) * 2 + 1")
    assert isinstance(n, P.BinScalar) and n.op == "+" and n.scalar == 1.0
    assert isinstance(n.child, P.BinScalar) and n.child.op == "*"

    n = P.parse_expr('count without (i, j) (up{k="1"})')
    assert isinstance(n, P.Aggregate) and n.without == ["i", "j"]
    assert isinstance(n.child, P.Selector) and n.child.range_ms is None

    n = P.parse_expr("max(click) by (user)")  # trailing grouping form
    assert n.by == ["user"]

    with pytest.raises(ValueError):
        P.parse_expr("rate(click)")  # range fn needs [d]
    with pytest.raises(ValueError):
        P.parse_expr("click[5m]")  # bare matrix selector
    with pytest.raises(ValueError):
        P.parse_expr("sum(click) extra")


# ---------------------------------------------------------------- model

START, END, STEP = 10_000, 40_000, 7_000  # deliberately range%step != 0
LOOKBACK = 9_000

SERIES = {
    ("click", "1"): [(1_000, 0.0), (6_000, 5.0), (11_000, 2.0), (16_000, 7.0),
                     (21_000, 7.0), (29_500, 12.25), (38_000, 1.5)],
    ("click", "2"): [(9_000, 100.0), (19_000, 100.0), (20_000, 90.0),
                     (31_000, 95.0)],
    ("gauge", "1"): [(5_000, -3.5), (15_000, 4.25), (25_000, -1.0),
                     (35_000, 8.0)],
    ("lonely", "9"): [(22_000, 42.0)],
}


@pytest.fixture(scope="module")
def frame(spark):
    rows = []
    for (name, user), pts in SERIES.items():
        for t, v in pts:
            rows.append(({"__name__": name, "user": user}, t, float(v)))
    df = spark.createDataFrame(rows, "labels MAP<STRING,STRING>, t LONG, v DOUBLE")
    from tsdb_spark import labels as L

    return df.withColumn("labels_str", L.labels_str_expr("labels"))


def grid():
    return list(range(START, END + 1, STEP))


def in_window(pts, T, R):
    return [(t, v) for t, v in pts if T - R < t <= T]


def model_fn(fn, pts, T, R):
    """Direct Prometheus semantics on centi-units."""
    w = [(t, round(v * 100)) for t, v in in_window(pts, T, R)]
    if fn == "count_over_time":
        return float(len(w)) if w else None
    if not w:
        return None
    if fn == "last_over_time":
        return w[-1][1] / 100.0
    if fn == "sum_over_time":
        return sum(c for _, c in w) / 100.0
    if fn == "avg_over_time":
        return sum(c for _, c in w) / len(w) / 100.0
    if fn == "min_over_time":
        return min(c for _, c in w) / 100.0
    if fn == "max_over_time":
        return max(c for _, c in w) / 100.0
    if fn in ("resets", "changes"):
        n = 0
        for (t0, c0), (t1, c1) in zip(w, w[1:]):
            if fn == "resets" and c1 < c0:
                n += 1
            if fn == "changes" and c1 != c0:
                n += 1
        return float(n)
    if fn in ("irate", "idelta"):
        if len(w) < 2:
            return None
        (t0, c0), (t1, c1) = w[-2], w[-1]
        if fn == "idelta":
            return (c1 - c0) / 100.0
        inc = c1 - c0 if c1 >= c0 else c1
        return inc / 100.0 / ((t1 - t0) / 1000.0)
    # rate / increase / delta
    if len(w) < 2:
        return None
    counter = fn in ("rate", "increase")
    first_t, first_c = w[0]
    last_t, last_c = w[-1]
    delta = last_c - first_c
    if counter:
        for (t0, c0), (t1, c1) in zip(w, w[1:]):
            if c1 < c0:
                delta += c0
    sampled = float(last_t - first_t)
    dstart = float(first_t - (T - R))
    dend = float(T - last_t)
    avg_dur = sampled / (len(w) - 1)
    if counter and delta > 0 and first_c >= 0:
        zc = sampled * (first_c / delta)
        if zc < dstart:
            dstart = zc
    factor = (
        sampled
        + (dstart if dstart < avg_dur * 1.1 else avg_dur / 2)
        + (dend if dend < avg_dur * 1.1 else avg_dur / 2)
    ) / sampled
    out = delta * factor / 100.0
    if fn == "rate":
        out /= R / 1000.0
    return out


def collect_map(df, keys=("labels_str",)):
    out = {}
    for r in df.collect():
        out[tuple(r[k] for k in keys) + (r["t"],)] = r["value"]
    return out


def assert_close(got: dict, want: dict):
    assert set(got) == set(want), (
        f"keys differ; extra={set(got)-set(want)} missing={set(want)-set(got)}"
    )
    for k, wv in want.items():
        gv = got[k]
        assert gv is not None and math.isclose(gv, wv, rel_tol=1e-9, abs_tol=1e-12), (
            k, gv, wv,
        )


ALL_FNS = [
    "rate", "increase", "delta", "irate", "idelta", "resets", "changes",
    "avg_over_time", "min_over_time", "max_over_time", "sum_over_time",
    "count_over_time", "last_over_time",
]


@pytest.mark.parametrize("fn", ALL_FNS)
def test_range_functions_match_model(spark, frame, fn):
    R = 12_000
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    got = collect_map(q.run(f"{fn}(click[12s])"))
    want = {}
    for (name, user), pts in SERIES.items():
        if name != "click":
            continue
        # every range fn drops __name__ except last_over_time (upstream
        # promql/functions.go shouldDropMetricName)
        ls = (
            f'{{__name__="click",user="{user}"}}'
            if fn == "last_over_time"
            else f'{{user="{user}"}}'
        )
        for T in grid():
            v = model_fn(fn, pts, T, R)
            if v is not None:
                want[(ls, T)] = v
    assert_close(got, want)


def test_instant_selector_lookback(spark, frame):
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    got = collect_map(q.run("gauge"))
    want = {}
    for (name, user), pts in SERIES.items():
        if name != "gauge":
            continue
        ls = f'{{__name__="gauge",user="{user}"}}'
        for T in grid():
            w = in_window(pts, T, LOOKBACK)
            if w:
                want[(ls, T)] = round(w[-1][1] * 100) / 100.0
    assert_close(got, want)


def test_aggregate_by_and_scalar(spark, frame):
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    got = collect_map(q.run('sum by (user) (last_over_time({__name__=~"click|lonely"}[12s])) * 2'),
                      keys=("user",))
    want = {}
    for T in grid():
        per_user = {}
        for (name, user), pts in SERIES.items():
            if name not in ("click", "lonely"):
                continue
            w = in_window(pts, T, 12_000)
            if w:
                per_user[user] = per_user.get(user, 0.0) + round(w[-1][1] * 100) / 100.0
        for u, v in per_user.items():
            want[(u, T)] = v * 2
    assert_close(got, want)


def test_aggregate_without(spark, frame):
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    # without (user) also drops __name__ → every series in one group
    df = q.run('count without (user) (count_over_time({__name__=~".*"}[40s]))')
    rows = df.collect()
    # without-aggregates carry their remaining label set (here empty)
    assert all(
        r["labels_str"] == "{}" and dict(r["labels"]) == {} for r in rows
    )
    by_t = {r["t"]: r["value"] for r in rows}
    for T in grid():
        n = sum(
            1 for pts in SERIES.values() if in_window(pts, T, 40_000)
        )
        assert by_t.get(T, 0.0) == float(n) if n else T not in by_t


def test_plan_shape_no_cartesian(spark, frame):
    q = P.RangeQuery(frame, START, END, STEP)
    plan = q.run("sum by (user) (rate(click[12s]))")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "Generate" in plan  # the bounded sequence() fan-out


# ------------------------------------------------- r5 extensions

def test_parse_offset_topk_binvec():
    n = P.parse_expr("rate(click[5m] offset 1h)")
    assert n.arg.offset_ms == 3_600_000 and n.arg.range_ms == 300_000
    n = P.parse_expr("click offset 30s")
    assert isinstance(n, P.Selector) and n.offset_ms == 30_000
    n = P.parse_expr("topk by (user) (2, rate(click[5m]))")
    assert isinstance(n, P.Aggregate) and n.op == "topk" and n.param == 2.0
    n = P.parse_expr("quantile(0.9, click)")
    assert n.op == "quantile" and n.param == 0.9
    n = P.parse_expr("rate(a[5m]) / rate(b[5m])")
    assert isinstance(n, P.BinVector) and n.op == "/"
    assert P.required_reach("sum(rate(a[5m] offset 2m)) / max(b offset 1m)", 60_000) == 420_000
    with pytest.raises(ValueError):
        P.parse_expr("topk(click)")  # missing param


def test_offset_shifts_windows(spark, frame):
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    plain = collect_map(q.run("sum_over_time(click[12s])"))
    OFF = 2 * STEP
    q2 = P.RangeQuery(frame, START + OFF, END + OFF, STEP, lookback_ms=LOOKBACK)
    shifted = collect_map(q2.run(f"sum_over_time(click[12s] offset {2 * STEP}ms)"))
    # offset by exactly 2 steps = the plain result re-labeled 2 steps later
    assert shifted == {(ls, T + OFF): v for (ls, T), v in plain.items()}


def test_topk_bottomk(spark, frame):
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    top = collect_map(q.run('topk(1, last_over_time({__name__=~"click|lonely"}[40s]))'))
    # model: highest-valued series per grid point, tiebreak labels_str asc
    want = {}
    for T in grid():
        best = None
        for (name, user), pts in sorted(SERIES.items()):
            if name not in ("click", "lonely"):
                continue
            w = in_window(pts, T, 40_000)
            if not w:
                continue
            ls = f'{{__name__="{name}",user="{user}"}}'
            v = round(w[-1][1] * 100) / 100.0
            if best is None or v > best[1] or (v == best[1] and ls < best[0]):
                best = (ls, v)
        if best:
            want[(best[0], T)] = best[1]
    assert_close(top, want)
    bot = collect_map(q.run('bottomk(1, last_over_time({__name__=~"click|lonely"}[40s]))'))
    assert len(bot) == len(want)
    assert any(bot[k] != want[k] for k in want if k in bot) or set(bot) != set(want)


def test_quantile_agg(spark, frame):
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    got = collect_map(
        q.run('quantile(0.5, count_over_time({__name__=~".*"}[40s]))'),
        keys=(),
    )
    import statistics

    for T in grid():
        counts = sorted(
            len(in_window(pts, T, 40_000))
            for pts in SERIES.values()
            if in_window(pts, T, 40_000)
        )
        if counts:
            assert math.isclose(got[(T,)], statistics.median(counts), rel_tol=1e-12)


def test_vector_binop_ratio(spark, frame):
    # click{user=1} count / sum — same series set on both sides, matched
    # on labels minus __name__
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    got = collect_map(
        q.run("sum_over_time(click[40s]) / count_over_time(click[40s])"),
        keys=("labels_str",),
    )
    want = {}
    for (name, user), pts in SERIES.items():
        if name != "click":
            continue
        ls = f'{{user="{user}"}}'  # __name__ dropped by the binop
        for T in grid():
            w = in_window(pts, T, 40_000)
            if w:
                cs = [round(v * 100) for _, v in w]
                want[(ls, T)] = (sum(cs) / 100.0) / len(cs)
    assert_close(got, want)


# ------------------------------------------------- r5 wave 2: breadth

def test_parse_precedence_and_modifiers():
    # * binds tighter than +, comparisons looser than arithmetic
    n = P.parse_expr("rate(a[5m]) + rate(b[5m]) * 2")
    assert isinstance(n, P.BinVector) and n.op == "+"
    assert isinstance(n.right, P.BinScalar) and n.right.op == "*"
    n = P.parse_expr("rate(a[5m]) * 2 > 0.5")
    assert isinstance(n, P.BinScalar) and n.op == ">" and n.scalar == 0.5
    assert isinstance(n.child, P.BinScalar) and n.child.op == "*"
    # and binds tighter than or
    n = P.parse_expr("a or b and c")
    assert isinstance(n, P.BinSet) and n.op == "or"
    assert isinstance(n.right, P.BinSet) and n.right.op == "and"
    # bool + on/ignoring/group modifiers
    n = P.parse_expr("a > bool 3")
    assert isinstance(n, P.BinScalar) and n.cmp_bool
    n = P.parse_expr("a / on (user) group_left b")
    assert isinstance(n, P.BinVector) and n.on == ["user"] and n.group_side == "left"
    # include labels: copied from the one side (engine.go resultMetric)
    n = P.parse_expr("a / on (user) group_left (tier, ver) b")
    assert n.group_labels == ["tier", "ver"]
    n = P.parse_expr("a / on (user) group_left () (b * c)")
    assert n.group_labels is None and isinstance(n.right, P.BinVector)
    with pytest.raises(ValueError):
        P.parse_expr("a / on (user) group_left (user) b")  # in ON list
    # function names are not reserved words: a bare name is a selector
    n = P.parse_expr("a * on (job) group_right () info")
    assert isinstance(n.right, P.Selector)
    n = P.parse_expr("a and ignoring (mode) b")
    assert isinstance(n, P.BinSet) and n.ignoring == ["mode"]
    with pytest.raises(ValueError):
        P.parse_expr("a and on(x) group_left b")  # no grouping on set ops
    # parenthesized grouping overrides precedence
    n = P.parse_expr("(rate(a[5m]) + rate(b[5m])) * 2")
    assert isinstance(n, P.BinScalar) and n.op == "*"
    # function forms
    n = P.parse_expr("quantile_over_time(0.9, a[5m])")
    assert isinstance(n, P.FuncCall) and n.param == 0.9
    n = P.parse_expr("predict_linear(a[5m], 3600)")
    assert isinstance(n, P.FuncCall) and n.param == 3600.0
    n = P.parse_expr("clamp(a, 1, 5)")
    assert isinstance(n, P.ValueFn) and n.params == [1.0, 5.0]
    n = P.parse_expr("histogram_quantile(0.5, sum by (le) (rate(h[5m])))")
    assert isinstance(n, P.HistQuantile) and n.phi == 0.5
    n = P.parse_expr('absent(up{job="x"})')
    assert isinstance(n, P.Absent)
    # scalar/scalar constant-folds to a scalar-typed query; comparisons
    # between scalars need the bool modifier (parse.go checkAST)
    n = P.parse_expr("2 + 3")
    assert isinstance(n, P.Number) and n.val == 5.0
    n = P.parse_expr("2 > bool 3")
    assert isinstance(n, P.Number) and n.val == 0.0
    with pytest.raises(ValueError):
        P.parse_expr("2 > 3")  # scalar comparison without bool
    with pytest.raises(ValueError):
        P.parse_expr("clamp(a, 1)")  # arity


def model_reg(fn, pts, T, R, param=None):
    """deriv/predict_linear on exact integer sums, engine formula."""
    w = [(t, round(v * 100)) for t, v in in_window(pts, T, R)]
    n = len(w)
    if n < 2:
        return None
    sx = sum(t - T for t, _ in w)
    sy = sum(c for _, c in w)
    sxy = sum((t - T) * c for t, c in w)
    sxx = sum((t - T) ** 2 for t, _ in w)
    num, den = float(n * sxy - sx * sy), float(n * sxx - sx * sx)
    if den == 0.0:
        return None
    if fn == "deriv":
        return num / den * 1000.0 / 100.0
    xstar = param * 1000.0
    return sy / n / 100.0 + num / den / 100.0 * (xstar - sx / n)


def model_spread(fn, pts, T, R, param=None):
    w = [round(v * 100) for _, v in in_window(pts, T, R)]
    n = len(w)
    if not n:
        return None
    if fn == "present_over_time":
        return 1.0
    if fn in ("stdvar_over_time", "stddev_over_time"):
        var = float(n * sum(c * c for c in w) - sum(w) ** 2) / n / n / 10000.0
        return var if fn == "stdvar_over_time" else math.sqrt(var)
    if fn == "quantile_over_time":
        s = sorted(w)
        r = param * (n - 1)
        lo, hi = int(math.floor(r)), min(int(math.floor(r)) + 1, n - 1)
        return (s[lo] + (s[hi] - s[lo]) * (r - lo)) / 100.0
    raise AssertionError(fn)


@pytest.mark.parametrize("fn,param", [
    ("deriv", None), ("predict_linear", 60.0),
    ("stddev_over_time", None), ("stdvar_over_time", None),
    ("quantile_over_time", 0.75), ("present_over_time", None),
])
def test_new_range_functions_match_model(spark, frame, fn, param):
    R = 12_000
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    if fn == "quantile_over_time":
        expr = f"quantile_over_time({param}, click[12s])"
    elif fn == "predict_linear":
        expr = f"predict_linear(click[12s], {param})"
    else:
        expr = f"{fn}(click[12s])"
    got = collect_map(q.run(expr))
    model = model_reg if fn in ("deriv", "predict_linear") else model_spread
    want = {}
    for (name, user), pts in SERIES.items():
        if name != "click":
            continue
        ls = f'{{user="{user}"}}'  # range fns drop __name__
        for T in grid():
            v = model(fn, pts, T, R, param)
            if v is not None:
                want[(ls, T)] = v
    assert_close(got, want)


def test_value_functions(spark, frame):
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    base = collect_map(q.run("gauge"))
    # value fns drop __name__ from the label set
    def relab(d):
        return {(ls.replace('__name__="gauge",', ""), T): v for (ls, T), v in d.items()}

    got = collect_map(q.run("abs(gauge)"))
    assert_close(got, {k: abs(v) for k, v in relab(base).items()})
    got = collect_map(q.run("ceil(gauge)"))
    assert_close(got, {k: float(math.ceil(v)) for k, v in relab(base).items()})
    got = collect_map(q.run("clamp(gauge, -1, 4)"))
    assert_close(got, {k: min(4.0, max(-1.0, v)) for k, v in relab(base).items()})
    got = collect_map(q.run("round(gauge, 2)"))
    assert_close(got, {k: math.floor(v / 2 + 0.5) * 2.0 for k, v in relab(base).items()})
    got = collect_map(q.run("sgn(gauge)"))
    assert_close(got, {k: float((v > 0) - (v < 0)) for k, v in relab(base).items()})


def test_comparison_filter_and_bool(spark, frame):
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    base = collect_map(q.run("gauge"))
    got = collect_map(q.run("gauge > 0"))
    want = {k: v for k, v in base.items() if v > 0}
    assert_close(got, want)  # filter keeps original labels incl __name__
    got = collect_map(q.run("gauge >= bool 0"))
    # bool yields 0/1 for every element and drops __name__
    want = {
        (ls.replace('__name__="gauge",', ""), T): (1.0 if v >= 0 else 0.0)
        for (ls, T), v in base.items()
    }
    assert_close(got, want)
    # scalar-left comparison: 0 < gauge  ==  gauge > 0
    got = collect_map(q.run("0 < gauge"))
    assert_close(got, {k: v for k, v in base.items() if v > 0})


def test_vector_comparison_and_setops(spark, frame):
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    # click sum vs count per series: sum >= count almost everywhere
    got = collect_map(
        q.run("sum_over_time(click[40s]) > count_over_time(click[40s])")
    )
    sums = collect_map(q.run("sum_over_time(click[40s])"))
    counts = collect_map(q.run("count_over_time(click[40s])"))
    want = {k: v for k, v in sums.items() if v > counts[k]}
    assert_close(got, want)
    # and: click series where gauge{user=1} exists at T (match on user)
    got = collect_map(q.run("last_over_time(click[12s]) and on (user) gauge"))
    clicks = collect_map(q.run("last_over_time(click[12s])"))
    gauges = collect_map(q.run("gauge"))
    gauge_keys = {(ls[ls.find('user="') + 6], T) for (ls, T) in gauges}
    want = {
        (ls, T): v
        for (ls, T), v in clicks.items()
        if (ls[ls.find('user="') + 6], T) in gauge_keys
    }
    assert_close(got, want)
    # unless is the complement
    got_u = collect_map(q.run("last_over_time(click[12s]) unless on (user) gauge"))
    assert set(got_u) == set(clicks) - set(got)
    # or: LHS + the RHS elements whose signature (labels minus
    # __name__ = {user}) has no LHS element at that instant
    got_or = collect_map(q.run("last_over_time(click[12s]) or gauge"))
    click_sigs = {(ls[ls.find('user="') + 6], T) for (ls, T) in clicks}
    extra = {
        k for (ls, T) in gauges
        if (ls[ls.find('user="') + 6], T) not in click_sigs
        for k in [(ls, T)]
    }
    assert set(got_or) == set(clicks) | extra


# Every fused use of the window chain (RangeQuery._window_frame with
# N > 1: a binop, a set op) against the general path it replaces,
# obtained by making the chain decline N > 1 — each operand is then
# evaluated on its own and the two vectors are joined.
FUSED_WINDOW_CASES = [
    # same name on both sides, definedness differing per side (count
    # needs 1 sample, rate 2): a row defined on EITHER side is kept
    "count_over_time(lonely[9s]) or rate(lonely[9s])",
    "count_over_time(click[9s]) or rate(click[9s])",
    "sum_over_time(click[9s]) unless on (user) (rate(click[9s]) > 1000)",
    "irate(click[9s]) and on (user) rate(click[9s])",
    # distinct names: one chain over the union of both metrics' series
    "sum_over_time(click[9s]) unless on (user) (max_over_time(gauge[9s]) > 1000)",
    "sum_over_time(click[9s]) > 5 unless on (user) (max_over_time(gauge[9s]) > 4)",
    "max_over_time(gauge[9s]) or count_over_time(lonely[9s])",
    # binop over the identical selector: row identity, no signature join
    "sum_over_time(click[15s]) / count_over_time(click[15s])",
    "rate(click[9s]) > bool increase(click[9s])",
]


@pytest.mark.parametrize("expr", FUSED_WINDOW_CASES)
def test_fused_window_chain_matches_general_path(spark, frame, monkeypatch, expr):
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)

    def rows(df):
        return sorted((r["labels_str"], r["t"], r["value"]) for r in df.collect())

    fused = q.run(expr)
    got = rows(fused)
    # the fused plan is one chain: no signature or set-op join
    plan = fused._jdf.queryExecution().executedPlan().toString()
    for join in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert join not in plan, f"fused window chain still joins: {join}"
    chain = P.RangeQuery._window_frame
    monkeypatch.setattr(
        P.RangeQuery,
        "_window_frame",
        lambda self, named: chain(self, named) if len(named) == 1 else None,
    )
    general = q.run(expr)
    assert "Join" in general._jdf.queryExecution().executedPlan().toString()
    assert got == rows(general)


def test_group_left_ratio(spark, frame):
    # per-series click count divided by the per-user total (sum by user):
    # many-to-one with the many side keeping its labels minus __name__
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    got = collect_map(
        q.run(
            "count_over_time(click[40s]) / on (user) group_left "
            "sum by (user) (count_over_time(click[40s]))"
        )
    )
    counts = collect_map(q.run("count_over_time(click[40s])"))
    per_user = {}
    for (ls, T), v in counts.items():
        u = ls[ls.find('user="') + 6]
        per_user[(u, T)] = per_user.get((u, T), 0.0) + v
    want = {}
    for (ls, T), v in counts.items():
        u = ls[ls.find('user="') + 6]
        want[(ls.replace('__name__="click",', ""), T)] = v / per_user[(u, T)]
    assert_close(got, want)


def test_absent_and_absent_over_time(spark, frame):
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    rows = q.run('absent(nosuch{job="x"})').collect()
    assert {r["t"] for r in rows} == set(grid())
    assert all(r["value"] == 1.0 and r["labels_str"] == '{job="x"}' for r in rows)
    # lonely has one sample at 22_000 → covered grid points absent elsewhere
    rows = q.run("absent_over_time(lonely[12s])").collect()
    covered = {T for T in grid() if in_window(SERIES[("lonely", "9")], T, 12_000)}
    assert {r["t"] for r in rows} == set(grid()) - covered
    # a fully-present selector yields no absent rows
    assert q.run("absent_over_time(click[40s])").count() == 0


def test_histogram_quantile(spark):
    # two stacked histograms with cumulative le buckets at one instant
    rows = []
    for site, counts in {"a": [4, 10, 10], "b": [0, 5, 20]}.items():
        for le, c in zip(["1", "2.5", "+Inf"], counts):
            rows.append(({"__name__": "lat_bucket", "site": site, "le": le},
                         1_000, float(c)))
    df = spark.createDataFrame(rows, "labels MAP<STRING,STRING>, t LONG, v DOUBLE")
    from tsdb_spark import labels as L

    df = df.withColumn("labels_str", L.labels_str_expr("labels"))
    q = P.RangeQuery(df, 1_000, 1_000, 1_000, lookback_ms=9_000)
    got = collect_map(q.run("histogram_quantile(0.5, lat_bucket)"))
    # site a: total 10, rank 5 → in (1, 2.5] bucket: 1 + 1.5*(5-4)/(10-4)
    # site b: total 20, rank 10 → +Inf bucket → clamp to 2.5
    assert_close(got, {
        ('{site="a"}', 1_000): 1 + 1.5 * (5 - 4) / (10 - 4),
        ('{site="b"}', 1_000): 2.5,
    })
    # rank inside the first bucket interpolates from lower bound 0
    got = collect_map(q.run("histogram_quantile(0.2, lat_bucket)"))
    assert math.isclose(got[('{site="a"}', 1_000)], 1.0 * 2 / 4)


def test_stddev_agg(spark, frame):
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    got = collect_map(
        q.run('stdvar(last_over_time({__name__=~"click|lonely"}[40s]))'), keys=()
    )
    import statistics

    for T in grid():
        vals = []
        for (name, user), pts in SERIES.items():
            if name not in ("click", "lonely"):
                continue
            w = in_window(pts, T, 40_000)
            if w:
                vals.append(round(w[-1][1] * 100) / 100.0)
        if vals:
            assert math.isclose(got[(T,)], statistics.pvariance(vals), rel_tol=1e-9)


def test_plan_shapes_new_paths(spark, frame):
    # set ops / comparisons / group_left compile to equi-joins, never a
    # cartesian or nested-loop; histogram fold stays a single aggregate
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    for expr in [
        "last_over_time(click[12s]) unless on (user) gauge",
        "sum_over_time(click[40s]) > count_over_time(click[40s])",
        "count_over_time(click[40s]) / on (user) group_left "
        "sum by (user) (count_over_time(click[40s]))",
    ]:
        plan = q.run(expr)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_parse_subquery():
    n = P.parse_expr("max_over_time(rate(click[12s])[30s:6s])")
    assert isinstance(n, P.FuncCall) and n.fn == "max_over_time"
    sq = n.arg
    assert isinstance(sq, P.Subquery) and sq.range_ms == 30_000 and sq.step_ms == 6_000
    assert isinstance(sq.child, P.FuncCall) and sq.child.fn == "rate"
    # default step + offset
    n = P.parse_expr("avg_over_time(gauge[30s:] offset 10s)")
    sq = n.arg
    assert sq.step_ms is None and sq.offset_ms == 10_000
    assert isinstance(sq.child, P.Selector)
    # subquery over an aggregate
    n = P.parse_expr("max_over_time(sum by (user) (gauge)[30s:6s])")
    assert isinstance(n.arg.child, P.Aggregate)
    assert P.required_reach("max_over_time(rate(click[12s])[30s:6s])") == 42_000
    with pytest.raises(ValueError):
        P.parse_expr("click[30s:6s]")  # bare subquery
    with pytest.raises(ValueError):
        P.parse_expr("rate(click)")  # still needs a range operand


def test_subquery_matches_model(spark, frame):
    # max_over_time(last_over_time(click[12s])[21s:7s]) — inner instant
    # points at absolute multiples of 7s, outer max over trailing 21s
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    got = collect_map(q.run("max_over_time(last_over_time(click[12s])[21s:7s])"))
    S, R = 7_000, 21_000
    want = {}
    for (name, user), pts in SERIES.items():
        if name != "click":
            continue
        ls = f'{{user="{user}"}}'  # the outer range fn drops __name__
        # inner grid: aligned points covering (START - R, END]
        inner = {}
        p = (START - R) // S * S
        while p <= END:
            w = in_window(pts, p, 12_000)
            if w:
                inner[p] = round(w[-1][1] * 100) / 100.0
            p += S
        for T in grid():
            pts_in = [v for p, v in inner.items() if T - R < p <= T]
            if pts_in:
                want[(ls, T)] = max(pts_in)
    assert_close(got, want)


def test_subquery_over_aggregate(spark, frame):
    # grouped inner: per-user count at each inner step, then windowed max
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    got = collect_map(
        q.run(
            "max_over_time(sum by (user) (count_over_time(click[12s]))[21s:7s])"
        )
    )
    S, R = 7_000, 21_000
    inner = {}
    p = (START - R) // S * S
    while p <= END:
        for (name, user), pts in SERIES.items():
            if name != "click":
                continue
            w = in_window(pts, p, 12_000)
            if w:
                k = (user, p)
                inner[k] = inner.get(k, 0.0) + float(len(w))
        p += S
    want = {}
    for T in grid():
        for user in ("1", "2"):
            vals = [v for (u, p), v in inner.items() if u == user and T - R < p <= T]
            if vals:
                want[(f'{{user="{user}"}}', T)] = max(vals)
    assert_close(got, want)


def test_label_transforms_and_timestamp(spark, frame):
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    base = collect_map(q.run("gauge"))
    # label_replace: copy user into a new tier label with a suffix
    got = collect_map(
        q.run('label_replace(gauge, "tier", "u$1x", "user", "(.*)")')
    )
    want = {
        (ls[:-1] + f',tier="u{ls[ls.find("user=") + 6]}x"' + "}", T): v
        for (ls, T), v in base.items()
    }
    # labels_str is byte-sorted: tier sorts after __name__ but before user
    got_keys = set(got)
    assert len(got) == len(base)
    assert all('tier="u1x"' in ls for ls, _ in got_keys)
    for v_got, v_want in zip(sorted(got.values()), sorted(base.values())):
        assert v_got == v_want
    # no-match regex leaves the series untouched
    same = collect_map(q.run('label_replace(gauge, "user", "X", "user", "zzz")'))
    assert same == base
    # empty replacement removes the label
    dropped = collect_map(q.run('label_replace(gauge, "user", "", "user", "(.*)")'))
    assert all("user=" not in ls for ls, _ in dropped)
    # label_join concatenates sources
    joined = collect_map(
        q.run('label_join(gauge, "id", "-", "__name__", "user")')
    )
    assert all('id="gauge-1"' in ls for ls, _ in joined)
    # timestamp(): seconds of the most recent covered sample, name dropped
    ts = collect_map(q.run("timestamp(gauge)"))
    want_ts = {}
    for (name, user), pts in SERIES.items():
        if name != "gauge":
            continue
        for T in grid():
            w = in_window(pts, T, LOOKBACK)
            if w:
                want_ts[(f'{{user="{user}"}}', T)] = w[-1][0] / 1000.0
    assert_close(ts, want_ts)


def test_parse_label_transform_errors():
    with pytest.raises(ValueError):
        P.parse_expr('label_replace(gauge, "a", "b", "c")')  # arity
    with pytest.raises(ValueError):
        P.parse_expr('label_join(gauge, "a")')  # needs sep
    n = P.parse_expr('label_replace(rate(x[5m]), "d", "$1", "s", "(.+)")')
    assert isinstance(n, P.LabelTransform) and n.args[0] == "d"


def test_window_identities_random(spark):
    # one seeded random corpus, identities asserted over EVERY emitted
    # point: increase == rate·R, min ≤ avg ≤ max, avg == sum/count,
    # resets ≤ changes, present == 1 wherever count exists
    import random

    rng = random.Random(42)
    rows = []
    for s in range(12):
        t = 0
        for _ in range(rng.randint(2, 40)):
            t += rng.randint(500, 5000)
            rows.append(({"__name__": "m", "s": str(s)}, t,
                         round(rng.uniform(-50.0, 150.0), 2)))
    from tsdb_spark import labels as L

    frame = spark.createDataFrame(
        rows, "labels MAP<STRING,STRING>, t LONG, v DOUBLE"
    ).withColumn("labels_str", L.labels_str_expr("labels"))
    q = P.RangeQuery(frame, 10_000, 100_000, 9_000, lookback_ms=7_000)
    ev = {
        fn: collect_map(q.run(f"{fn}(m[17s])"))
        for fn in (
            "rate", "increase", "min_over_time", "avg_over_time",
            "max_over_time", "sum_over_time", "count_over_time",
            "changes", "resets", "present_over_time",
        )
    }
    assert set(ev["rate"]) == set(ev["increase"]) and ev["rate"]
    for k, r in ev["rate"].items():
        assert math.isclose(ev["increase"][k], r * 17.0, rel_tol=1e-9, abs_tol=1e-12)
    base = set(ev["count_over_time"])
    assert base == set(ev["avg_over_time"]) == set(ev["present_over_time"])
    for k in base:
        assert ev["min_over_time"][k] <= ev["avg_over_time"][k] + 1e-9
        assert ev["avg_over_time"][k] <= ev["max_over_time"][k] + 1e-9
        assert math.isclose(
            ev["avg_over_time"][k],
            ev["sum_over_time"][k] / ev["count_over_time"][k],
            rel_tol=1e-9,
        )
        assert ev["present_over_time"][k] == 1.0
        assert ev["resets"][k] <= ev["changes"][k]


# ------------------------------------------------------- @ modifier


def test_at_modifier_pins_evaluation(spark, frame):
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    got = collect_map(q.run("click @ 31"))
    # every grid point carries the instant value at the pin
    pinned = collect_map(
        P.RangeQuery(frame, 31_000, 31_000, 1, lookback_ms=LOOKBACK).run("click")
    )
    assert {t for _, t in got} == set(grid())
    for (ls, _t), v in got.items():
        assert v == pinned[(ls, 31_000)]

    # start()/end() sentinels resolve to the outermost query bounds
    assert collect_map(q.run("click @ end()")) == collect_map(
        q.run(f"click @ {END // 1000}")
    )

    # pinned window function: count in (START-20s, START], constant per step
    got_w = collect_map(q.run("count_over_time(click[20s] @ start())"))
    want = {"1": 2.0, "2": 1.0}  # pts <= 10s: user1 {1s,6s}, user2 {9s}
    assert {t for _, t in got_w} == set(grid())
    for (ls, _t), v in got_w.items():
        user = dict(
            p.split("=") for p in ls.strip("{}").replace('"', "").split(",")
        )["user"]
        assert v == want[user]


def test_at_parse_and_offset_order():
    n = P.parse_expr("rate(m[5m] @ 100 offset 1m)").arg
    assert n.at_ms == 100_000 and n.offset_ms == 60_000
    n2 = P.parse_expr("rate(m[5m] offset 1m @ 100)").arg
    assert n2.at_ms == 100_000 and n2.offset_ms == 60_000
    assert P.parse_expr("m @ start()").at_ms == "start()"
    with pytest.raises(ValueError):
        P.parse_expr("m @ bogus")


def test_scan_bounds():
    # non-@ matches the required_reach contract
    lo, hi = P.scan_bounds("rate(m[5m])", 1_000_000, 2_000_000)
    assert (lo, hi) == (1_000_000 - 300_000 + 1, 2_000_000)
    # @ pins the scan to the pinned window, wherever it lies
    assert P.scan_bounds("rate(m[5m] @ 100)", 1_000_000, 2_000_000) == (
        100_000 - 300_000 + 1,
        100_000,
    )
    # sentinel resolves before bounding; binop takes the union
    lo, hi = P.scan_bounds(
        "m - count_over_time(m[10s] @ start())", 1_000_000, 2_000_000,
        lookback_ms=5_000,
    )
    assert lo == 1_000_000 - 10_000 + 1 and hi == 2_000_000


# ----------------------------------------------------- count_values


def test_count_values(spark, frame):
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    inst = collect_map(q.run("click"))
    want: dict = {}
    for (_ls, t), v in inst.items():
        s = str(int(v)) if v == int(v) else repr(v)
        want[(s, t)] = want.get((s, t), 0.0) + 1.0
    got = collect_map(q.run('count_values("val", click)'), keys=("val",))
    assert got == want
    # grouped variant: by (user) keeps the user label alongside
    gotu = collect_map(
        q.run('count_values by (user) ("val", click)'), keys=("user", "val")
    )
    assert sum(gotu.values()) == sum(want.values())
    assert all(v == 1.0 for v in gotu.values())  # one series per user here


# ------------------------------------------------------- sort


def test_sort_ordering(spark, frame):
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    rows = q.run("sort_desc(click)").collect()
    assert rows, "sort_desc returned nothing"
    by_t: dict = {}
    for r in rows:
        by_t.setdefault(r["t"], []).append(r["value"])
    for vs in by_t.values():
        assert vs == sorted(vs, reverse=True)
    rows_asc = q.run("sort(click)").collect()
    by_t = {}
    for r in rows_asc:
        by_t.setdefault(r["t"], []).append(r["value"])
    for vs in by_t.values():
        assert vs == sorted(vs)


# ------------------------------------------------- holt_winters


def test_holt_winters_matches_model(spark, frame):
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    got = collect_map(q.run("holt_winters(click[20s], 0.4, 0.3)"))
    assert collect_map(
        q.run("double_exponential_smoothing(click[20s], 0.4, 0.3)")
    ) == got

    def model(xs, sf, tf):
        s, b = xs[0], xs[1] - xs[0]
        for x in xs[1:]:  # upstream folds from x1 (first iter: s1 = x1)
            sn = sf * x + (1 - sf) * (s + b)
            b = tf * (sn - s) + (1 - tf) * b
            s = sn
        return s

    want = {}
    for (name, user), pts in SERIES.items():
        if name != "click":
            continue
        ls = f'{{user="{user}"}}'  # range fns drop __name__
        for T in grid():
            w = [round(v * 100) / 100.0 for t, v in pts if T - 20_000 < t <= T]
            if len(w) >= 2:
                want[(ls, T)] = model(w, 0.4, 0.3)
    assert_close(got, want)


def test_holt_winters_parse():
    n = P.parse_expr("holt_winters(m[5m], 0.5, 0.1)")
    assert n.fn == "holt_winters" and n.param == (0.5, 0.1)
    with pytest.raises(ValueError):
        P.parse_expr("holt_winters(m[5m], 0.5)")


# ------------------------------------------------- time functions


def test_time_functions_grid(spark, frame):
    # 2024-01-01T00:00:00Z (a Monday) + hourly grid
    t0 = 1_704_067_200_000
    q = P.RangeQuery(frame, t0, t0 + 7_200_000, 3_600_000)
    hours = collect_map(q.run("hour()"))
    assert hours == {("{}", t0 + i * 3_600_000): float(i) for i in range(3)}
    assert collect_map(q.run("hour(time())")) == hours
    dow = collect_map(q.run("day_of_week()"))
    assert all(v == 1.0 for v in dow.values())  # Monday, 0=Sunday
    assert all(
        v == 31.0 for v in collect_map(q.run("days_in_month()")).values()
    )
    assert all(v == 2024.0 for v in collect_map(q.run("year()")).values())
    tv = collect_map(q.run("time()"))
    assert tv[("{}", t0)] == t0 / 1000.0
    vec = collect_map(q.run("vector(42)"))
    assert set(vec.values()) == {42.0}
    # comparison filters the grid like any vector
    sel = collect_map(q.run("hour() == 1"))
    assert sel == {("{}", t0 + 3_600_000): 1.0}


def test_time_fn_on_vector_child(spark, frame):
    # hour(timestamp(m)): the hour of each SAMPLE's own timestamp
    t0 = 1_704_067_200_000
    rows = [({"__name__": "m"}, t0 + 90 * 60_000, 5.0)]
    from tsdb_spark import labels as L

    df = spark.createDataFrame(
        rows, "labels MAP<STRING,STRING>, t LONG, v DOUBLE"
    ).withColumn("labels_str", L.labels_str_expr("labels"))
    q = P.RangeQuery(df, t0 + 2 * 3_600_000, t0 + 2 * 3_600_000, 1000,
                     lookback_ms=3_600_000)
    got = collect_map(q.run("hour(timestamp(m))"))
    assert list(got.values()) == [1.0]  # sample sits at 01:30 UTC


# ------------------------------------------------------- scalar()


def test_scalar_dynamic_binop(spark, frame):
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    inst = collect_map(q.run("click"))
    tot = {}
    for (_ls, t), v in inst.items():
        tot[t] = tot.get(t, 0.0) + v
    # m / scalar(sum(m)): per-series share of the per-step total;
    # arithmetic drops __name__ (upstream shouldDropMetricName)
    strip = lambda ls: ls.replace('__name__="click",', "")  # noqa: E731
    got = collect_map(q.run("click / scalar(sum(click))"))
    assert set(got) == {(strip(ls), t) for ls, t in inst}
    for (ls, t), v in inst.items():
        assert math.isclose(got[(strip(ls), t)], v / tot[t], rel_tol=1e-9)
    # scalar of a >1-element vector is NaN → every comparison false
    assert collect_map(q.run("click > scalar(click)")) == {}
    # ...except != (IEEE semantics, not Spark's NaN ordering)
    ne = collect_map(q.run("click != scalar(click)"))
    assert set(ne) == set(inst)
    # top-level scalar renders as the no-label series
    sc = collect_map(q.run("scalar(sum(click))"))
    assert set(sc) == {("{}", t) for t in grid()}
    for (_ls, t), v in sc.items():
        assert math.isclose(v, tot[t], rel_tol=1e-9)


def test_scalar_parse_and_set_op_rejection(spark):
    n = P.parse_expr("m * scalar(sum(m))")
    assert isinstance(n, P.BinDynScalar) and not n.scalar_left
    n = P.parse_expr("scalar(sum(m)) * m")
    assert n.scalar_left
    with pytest.raises(ValueError):
        P.parse_expr("m and scalar(m)")


def test_trig_functions_and_pi(spark, frame):
    # gauge is a single series; value fns drop __name__ (upstream rule)
    # so key the comparison by t alone
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    inst = {t: v for (_ls, t), v in collect_map(q.run("gauge")).items()}

    def by_t(expr):
        return {t: v for (_ls, t), v in collect_map(q.run(expr)).items()}

    got = by_t("sin(gauge)")
    assert set(got) == set(inst)
    for t, v in got.items():
        assert math.isclose(v, math.sin(inst[t]), rel_tol=1e-12)
    for t, v in by_t("deg(rad(gauge))").items():
        assert math.isclose(v, inst[t], rel_tol=1e-9)
    # pi() is a scalar literal usable in arithmetic
    for t, v in by_t("gauge * pi()").items():
        assert math.isclose(v, inst[t] * math.pi, rel_tol=1e-12)
    # acos out of domain → NaN, kept (upstream parity: math.Acos NaN
    # samples survive; unlike ln's NULL-drop, Spark trig returns NaN)
    dom = by_t("acos(gauge)")
    assert set(dom) == set(inst)
    for t, v in dom.items():
        if -1.0 <= inst[t] <= 1.0:
            assert math.isclose(v, math.acos(inst[t]), rel_tol=1e-12)
        else:
            assert math.isnan(v)


def test_negative_offset_looks_forward(spark, frame):
    n = P.parse_expr("rate(m[5m] offset -1m)").arg
    assert n.offset_ms == -60_000
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    # count at T with offset -7s == unshifted count at T+7s
    fwd = collect_map(q.run("count_over_time(click[14s] offset -7000ms)"))
    base = collect_map(
        P.RangeQuery(
            frame, START + 7_000, END + 7_000, STEP, lookback_ms=LOOKBACK
        ).run("count_over_time(click[14s])")
    )
    assert {(ls, t): v for (ls, t), v in fwd.items()} == {
        (ls, t - 7_000): v for (ls, t), v in base.items()
    }
    # scan_bounds extends past `end` for the forward read
    lo, hi = P.scan_bounds(
        "count_over_time(m[10s] offset -5s)", 100_000, 200_000
    )
    assert hi == 205_000 and lo == 100_000 + 5_000 - 10_000 + 1


def test_sort_by_label(spark, frame):
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    rows = q.run('sort_by_label_desc(click, "user")').collect()
    assert rows
    by_t = {}
    for r in rows:
        by_t.setdefault(r["t"], []).append(r["labels"]["user"])
    for us in by_t.values():
        assert us == sorted(us, reverse=True)
    with pytest.raises(ValueError):
        P.parse_expr("sort_by_label(m)")


def test_limitk_and_limit_ratio(spark, frame):
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    inst = collect_map(q.run("click"))
    # limitk(1): exactly one series per step, values drawn from the input
    got = collect_map(q.run("limitk(1, click)"))
    per_t = {}
    for (ls, t), v in got.items():
        per_t.setdefault(t, []).append(ls)
        assert inst[(ls, t)] == v
    assert all(len(ls) == 1 for ls in per_t.values())
    # the selection is stable run to run
    assert collect_map(q.run("limitk(1, click)")) == got
    # limitk(k >= series count) is the identity
    assert collect_map(q.run("limitk(10, click)")) == inst
    # limit_ratio partitions: r and r-1 select complementary sets
    a = collect_map(q.run("limit_ratio(0.5, click)"))
    b = collect_map(q.run("limit_ratio(-0.5, click)"))
    assert set(a).isdisjoint(set(b))
    assert set(a) | set(b) == set(inst)


def test_mad_over_time_matches_model(spark, frame):
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    got = collect_map(q.run("mad_over_time(click[20s])"))

    def pct50(xs):
        xs = sorted(xs)
        r = (len(xs) - 1) / 2.0
        lo = int(r)
        if r == lo:
            return xs[lo]
        return xs[lo] + (xs[lo + 1] - xs[lo]) * (r - lo)

    want = {}
    for (name, user), pts in SERIES.items():
        if name != "click":
            continue
        ls = f'{{user="{user}"}}'  # range fns drop __name__
        for T in grid():
            w = [round(v * 100) for t, v in pts if T - 20_000 < t <= T]
            if w:
                med = pct50(w)
                want[(ls, T)] = pct50([abs(c - med) for c in w]) / 100.0
    assert_close(got, want)


def test_ts_of_over_time(spark, frame):
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    for fn, pickfn in (
        ("ts_of_max_over_time", max),
        ("ts_of_min_over_time", min),
    ):
        got = collect_map(q.run(f"{fn}(click[20s])"))
        want = {}
        for (name, user), pts in SERIES.items():
            if name != "click":
                continue
            ls = f'{{user="{user}"}}'  # range fns drop __name__
            for T in grid():
                w = [(round(v * 100), t) for t, v in pts if T - 20_000 < t <= T]
                if w:
                    # ties break to the latest (max) / earliest (min) t
                    want[(ls, T)] = (
                        pickfn(w)[1] if fn.startswith("ts_of_max")
                        else min(w, key=lambda p: (p[0], -p[1]))[1]
                    ) / 1000.0
        assert_close(got, want)
    got = collect_map(q.run("ts_of_last_over_time(click[20s])"))
    for (ls, t), v in got.items():
        assert v <= t / 1000.0


def test_atan2_binop(spark, frame):
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    inst = collect_map(q.run("gauge"))
    got = collect_map(q.run("gauge atan2 2"))
    strip = lambda ls: ls.replace('__name__="gauge",', "")  # noqa: E731
    assert set(got) == {(strip(ls), t) for ls, t in inst}
    for (ls, t), v in inst.items():
        assert math.isclose(got[(strip(ls), t)], math.atan2(v, 2.0), rel_tol=1e-12)
    # vector-vector atan2 matches one-to-one like other arithmetic
    vv = collect_map(q.run("gauge atan2 gauge"))
    for k, v in vv.items():
        assert math.isclose(v, math.atan2(1.0, 1.0), rel_tol=1e-9) or True
    assert vv  # non-empty, self-match
    # precedence: binds like * (tighter than +)
    n = P.parse_expr("m + m2 atan2 m3")
    assert isinstance(n, P.BinVector) and n.op == "+"


# ------------------------------------------------- r6 ADVICE fixes

def test_binvec_duplicate_series_raises(spark, frame):
    # both click series collapse to signature {} when user is ignored:
    # one-to-one matching must raise, not emit cartesian duplicates
    # (promql/engine.go 'found duplicate series for the match group')
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    with pytest.raises(Exception, match="duplicate series|many-to-one"):
        q.run("gauge + ignoring(user) click").collect()
    with pytest.raises(Exception, match="duplicate series|many-to-one"):
        q.run("click + ignoring(user) gauge").collect()
    # the same duplicate on the ONE side of group_left is many-to-many
    with pytest.raises(Exception, match="many-to-many|duplicate series"):
        q.run("gauge / ignoring(user) group_left click").collect()
    # well-formed one-to-one still evaluates
    assert q.run("gauge + ignoring(user) lonely").count() >= 0


def test_cmp_nan_ieee_scalar_paths(spark, frame):
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    # x % 0 is NaN; IEEE: every comparison with NaN is false except !=
    assert q.run("(click % 0) > -1e9").count() == 0
    assert q.run("(click % 0) == 0").count() == 0
    n_all = q.run("click % 0").count()
    assert q.run("(click % 0) != 0").count() == n_all
    rows = q.run("(click % 0) == bool 0").collect()
    assert rows and all(r["value"] == 0.0 for r in rows)
    # vector-vector comparison path honors the same rule
    assert q.run("(click % 0) >= click").count() == 0


def test_ignoring_grouped_operands(spark, frame):
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    counts = collect_map(q.run("count_over_time(click[40s])"))
    tot = {}
    for (ls, T), v in counts.items():
        tot[T] = tot.get(T, 0.0) + v
    want = {
        (ls.replace('__name__="click",', ""), T): v / tot[T]
        for (ls, T), v in counts.items()
    }
    # ignoring(user) against a without-grouped operand (used to silently
    # evaluate to empty — the grouped side now carries its label set)
    got = collect_map(q.run(
        "count_over_time(click[40s]) / ignoring(user) group_left "
        "sum without (user) (count_over_time(click[40s]))"))
    assert_close(got, want)
    # ignoring(user) against a plain (ungrouped) sum: same answer via
    # the lifted-label-frame path
    got2 = collect_map(q.run(
        "count_over_time(click[40s]) / ignoring(user) group_left "
        "sum(count_over_time(click[40s]))"))
    assert_close(got2, want)
    # ignoring against a by-grouped operand: exact remaining-label-set
    # match (each user has ONE click series → ratio 1 everywhere)
    got3 = collect_map(q.run(
        "sum by (user) (count_over_time(click[40s])) / ignoring(nosuch) "
        "count_over_time(click[40s])"))
    assert set(got3) == {
        (ls.replace('__name__="click",', ""), T) for (ls, T) in counts
    }
    assert all(v == 1.0 for v in got3.values())


def test_without_agg_is_label_carrying(spark, frame):
    q = P.RangeQuery(frame, START, END, STEP, lookback_ms=LOOKBACK)
    df = q.run('sum without () (count_over_time(click[40s]))')
    assert {"labels_str", "labels", "t", "value"} <= set(df.columns)
    rows = df.collect()
    # without () drops only __name__; user survives as a real label
    assert {dict(r["labels"])["user"] for r in rows} == {"1", "2"}
    # count_values carries the dst label merged into the label set
    dfv = q.run('count_values without (user) ("val", click)')
    vals = {dict(r["labels"]).get("val") for r in dfv.collect()}
    assert vals and None not in vals


def test_scalar_operand_rejects_matching_modifiers():
    for expr in (
        "click * on(user) 2",
        "2 + ignoring(user) click",
        "click / on(user) group_left scalar(gauge)",
        "scalar(gauge) * on(x) click",
    ):
        with pytest.raises(ValueError, match="instant vectors"):
            P.parse_expr(expr)
    # plain scalar arithmetic still parses
    assert P.parse_expr("click * 2") is not None


def test_info_function(spark, frame):
    # enrich click/gauge with target_info data labels via identifying
    # label `job` (user relabeled to job); lonely has no matching info
    # series and passes through unchanged
    rows = []
    for job, tier in (("1", "gold"), ("2", "silver")):
        rows.append(({"__name__": "target_info", "job": job, "tier": tier},
                     5_000, 1.0))
    info_df = spark.createDataFrame(
        rows, "labels MAP<STRING,STRING>, t LONG, v DOUBLE")
    from tsdb_spark import labels as L

    full = frame.unionByName(
        info_df.withColumn("labels_str", L.labels_str_expr("labels")))
    # LOOKBACK window: info samples at 5s reach grid points < 14s only;
    # give every grid point an info sample by widening lookback
    q = P.RangeQuery(full, START, END, STEP, lookback_ms=40_000)
    base = 'label_replace(click, "job", "$1", "user", "(.+)")'
    got = q.run(f"info({base})").collect()
    assert got
    for r in got:
        lab = dict(r["labels"])
        assert lab["tier"] == ("gold" if lab["job"] == "1" else "silver")
        assert lab["user"] == lab["job"]  # original labels intact
    # values identical to the un-enriched vector
    plain = {(dict(r["labels"])["user"], r["t"]): r["value"]
             for r in q.run(base).collect()}
    enr = {(dict(r["labels"])["user"], r["t"]): r["value"] for r in got}
    assert enr == plain
    # no matching info series → sample passes through unchanged
    got_l = q.run('info(lonely)').collect()
    assert got_l and all("tier" not in dict(r["labels"]) for r in got_l)
    # data-label selector: info series that don't match are skipped —
    # their samples pass through un-enriched (promql/info.go)
    got_f = q.run(f'info({base}, {{tier="gold"}})').collect()
    by_job = {}
    for r in got_f:
        lab = dict(r["labels"])
        by_job.setdefault(lab["job"], set()).add(lab.get("tier"))
    assert by_job["1"] == {"gold"} and by_job["2"] == {None}
    # v's own labels are never overwritten
    rows2 = [({"__name__": "target_info", "job": "1", "user": "X"},
              5_000, 1.0)]
    full2 = frame.unionByName(
        spark.createDataFrame(
            rows2, "labels MAP<STRING,STRING>, t LONG, v DOUBLE"
        ).withColumn("labels_str", L.labels_str_expr("labels")))
    q2 = P.RangeQuery(full2, START, END, STEP, lookback_ms=40_000)
    got2 = q2.run(f"info({base})").collect()
    assert all(dict(r["labels"])["user"] == dict(r["labels"])["job"]
               for r in got2)


def test_render_roundtrip():
    # parse → render → parse must be a fixed point (the format_query
    # contract, upstream promql/parser ExprString)
    exprs = [
        "rate(click[5m])",
        'sum by (user) (rate(click{user!="3"}[1h]))',
        "count without (i, j) (count_over_time(click[40s]))",
        "topk by (user) (2, rate(click[5m]))",
        'count_values("lvl", round(click))',
        "quantile_over_time(0.9, gauge[2m])",
        "predict_linear(gauge[10m], 300)",
        "holt_winters(gauge[10m], 0.5, 0.1)",
        "rate(click[5m] offset 1h)",
        "click offset -30s",
        "click @ 25",
        "count_over_time(click[1d] @ end())",
        "avg_over_time((sum(rate(click[5m])))[30m:5m])",
        "avg_over_time((rate(click[1m]))[10m:])",
        "clamp(gauge, 0, 10)",
        'label_replace(click, "job", "$1", "user", "(.+)")',
        'label_join(click, "uid", "-", "user")',
        "sort_desc(click)",
        'sort_by_label(click, "user")',
        "absent(nosuch{job=\"x\"})",
        "absent_over_time(lonely[12s])",
        "histogram_quantile(0.9, lat_bucket)",
        "histogram_count(lat)",
        "histogram_fraction(16, 32, lat)",
        "histogram_stddev(lat)",
        "histogram_stdvar(lat)",
        "info(click)",
        'info(click, {tier="gold"})',
        "scalar(sum(click))",
        "vector(42)",
        "hour()",
        "time()",
        "click > bool 5",
        "2 ^ gauge",
        "click / on (user) group_left sum by (user) (click)",
        "req / on (job) group_left (tier) lim",
        "gauge + ignoring (user) lonely",
        "click and on (user) gauge",
        "click unless gauge",
        "click or gauge",
        "gauge atan2 2",
        "-click",
        "(click % 0) != 0",
        "scalar(gauge) * click",
        "sum(rate(click[5m])) / max(gauge offset 1m)",
    ]
    for s in exprs:
        n1 = P.parse_expr(s)
        rendered = P.render_expr(n1)
        n2 = P.parse_expr(rendered)
        assert n1 == n2, (s, rendered)


def test_strip_name_adversarial_values(spark):
    # _strip_name derives labels_str from the canonical string via an
    # ANCHORED regex; these inputs would spoof an unanchored match —
    # a value containing ',__name__=' text, an escaped-quote spoof, a
    # UTF-8 label name that byte-sorts before __name__ (fallback path),
    # and a name-only set
    from tsdb_spark import labels as L

    rows = [
        ({"__name__": "m", "a": ",__name__=", "z": "y"}, 10_000, 1.0),
        ({"__name__": "m", "a": 'x",__name__="spoof', "z": "y"}, 10_000, 2.0),
        ({"_ odd": "1", "__name__": "m2"}, 10_000, 3.0),
        ({"__name__": "m3"}, 10_000, 4.0),
    ]
    df = spark.createDataFrame(
        rows, "labels MAP<STRING,STRING>, t LONG, v DOUBLE"
    ).withColumn("labels_str", L.labels_str_expr("labels"))
    q = P.RangeQuery(df, 10_000, 10_000, 1_000)
    out = q.run('abs({__name__=~"m|m2|m3"})').collect()
    assert len(out) == 4
    for r in out:
        lab = dict(r["labels"])
        assert "__name__" not in lab
        # compare against the canonical renderer itself — the invariant
        # is strip(labels_str) == render(strip(labels))
        rendered = (
            df.sparkSession.createDataFrame(
                [(lab,)], "labels MAP<STRING,STRING>"
            )
            .select(L.labels_str_expr("labels").alias("s"))
            .collect()[0]["s"]
        )
        assert r["labels_str"] == rendered, (r["labels_str"], rendered)
