"""The two benchmark workloads, their output checks and their metrics.

Both workloads are a closed loop with one client: the single driver thread
issues the next operation only after the previous one returned. Each run
builds its own store from the seed with the code under test; nothing is
reused across runs.

dashboard  A static store (bulk history, one rule tick over its last
           minutes, a live edge delivered through remote write, then one
           full compaction) read by repeated refreshes of one fixed
           Grafana-style panel set. PromQL and the querier do the work;
           the engine's series-dim cache and samples-plan memo hit on
           every query.
server     The Prometheus server loop on a smaller store: each cycle sends
           one remote-write scrape of every series, on the second cycle of
           every group of `GROUP` records a 2-rule group, then refreshes
           the fresh-window panel, and every `COMPACT_EVERY`-th cycle runs
           auto-compaction. On the fourth cycle of every group one seeded
           new instance joins (churn). Every write invalidates the caches
           the dashboard hits and adds small files. One untimed cycle (a
           write, a refresh, a compaction) warms the ops up before the
           timed groups.

A run times whole steps (dashboard: refreshes) or whole groups of cycles
(server), so every run has the same mix of operations whatever the speed
of the code under test or the seed.

Failed operations lower ok_ratio and are left out of the per-op latency
and CPU figures; a refresh's wall time covers every panel, a failed one up
to its error.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

from tsbench import model as M
from tsbench.probe import JobCounter, Proc, Tracer

MIN = 60_000
HOUR = 60 * MIN


@dataclass(frozen=True)
class Panel:
    name: str
    expr: str
    range_ms: int
    step_ms: int


DASHBOARD_PANELS = (
    Panel("job_rate", f"sum by (job) (rate({M.REQ}[5m]))", HOUR, 30_000),
    Panel("error_ratio",
          f'sum by (job) (rate({M.REQ}{{code=~"5.."}}[5m]))'
          f" / sum by (job) (rate({M.REQ}[5m]))", HOUR, 30_000),
    Panel("latency_p90",
          f"histogram_quantile(0.9, sum by (job, le) (rate({M.BUCKET}[5m])))",
          HOUR, 30_000),
    Panel("top_cpu", f"topk(5, max_over_time({M.CPU}[10m]))", HOUR, 30_000),
    Panel("up", "count by (job) (up == 1)", HOUR, 30_000),
    Panel("raw_counter", "", HOUR, 30_000),  # expr filled per seed
    Panel("day_rate", f"sum by (job) (rate({M.REQ}[15m]))", 24 * HOUR, 15 * MIN),
)
# the server's panel looks at the last 15 minutes, up to the newest sample;
# one cheap panel keeps a cycle short enough for eight writes per run
SERVER_PANELS = tuple(
    Panel(p.name, p.expr, 15 * MIN, M.SCRAPE_MS)
    for p in DASHBOARD_PANELS if p.name == "up"
)
RULES = (
    ("job:http_requests:rate5m", f"sum by (job) (rate({M.REQ}[5m]))"),
    ("job:http_errors:rate5m", f'sum by (job) (rate({M.REQ}{{code="500"}}[5m]))'),
)


# server: cycles per group. A group holds one rule tick (on cycle RULE_AT),
# one new instance (joining on cycle JOIN_AT) and an auto-compaction every
# COMPACT_EVERY cycles (from its first); a run is whole groups. Joins sit
# on a fixed cycle because a join's write runs slower than a plain one: a
# seeded number of joins would move the write median with the seed.
GROUP = 12
RULE_AT = 1
JOIN_AT = 3
COMPACT_EVERY = 4


@dataclass
class Sizes:
    """Store size of one workload."""

    instances_per_job: int
    history_ms: int  # bulk history from T0
    block_width_ms: int
    edge_bodies: int = 0  # dashboard: last scrapes sent through remote write


SIZES = {
    "dashboard": Sizes(instances_per_job=5, history_ms=12 * HOUR,
                       block_width_ms=2 * HOUR, edge_bodies=8),
    "server": Sizes(instances_per_job=5, history_ms=1 * HOUR,
                    block_width_ms=15 * MIN),
}


class CheckFailed(Exception):
    """The engine answered, but not what the model says it must."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def close(a: float, b: float, rel: float = 1e-9) -> bool:
    return math.isclose(a, b, rel_tol=rel, abs_tol=1e-12)


@dataclass
class Op:
    kind: str  # bulk | write | rule | compact | query | readback
    tag: str
    ok: bool
    wall: float
    cpu: float  # JVM + driver CPU seconds
    measured: bool
    timed: bool  # in the timed phase (or the final readback)
    traced: bool
    samples: int = 0  # samples acked (write, bulk)
    counts: tuple | None = None  # (jobs, stages, tasks) when traced
    files: tuple | None = None  # (files written, bytes written, files after)


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    sizes: Sizes = None
    ops: list = field(default_factory=list)
    refreshes: list = field(default_factory=list)  # (wall, traced)
    store_shape: list = field(default_factory=list)  # (files, buckets)
    setup: dict = field(default_factory=dict)
    stored: int = 0  # samples the store must hold
    rule_points: int = 0  # rule-output samples recorded
    phase: dict = field(default_factory=dict)
    in_timed: bool = False
    wrong: int = 0  # ops whose output failed a check
    trace_queries: bool = True  # traced runs: trace the next refresh
    pairs: int = 0  # traced runs: refreshes run as traced/untraced pairs

    def __post_init__(self):
        self.sizes = self.sizes or SIZES[self.workload]
        self.rng = random.Random(self.seed * 7919 + 1)
        self.model = M.StoreModel(self.seed, self.sizes.instances_per_job)
        self.path = os.path.join(self.work, "store")
        self.tracer = Tracer()

    # ------------------------------------------------------------ ops

    def op(self, kind, fn, check=None, measured=True, samples=0, name=""):
        """Run one operation; return its result, or None if it failed."""
        tag = f"tsbench-{kind}{'-' + name if name else ''}-{len(self.ops)}"
        traced = self.trace and (kind != "query" or self.trace_queries)
        self.tracer.active = traced
        watch = traced and kind in ("write", "compact")
        before = store_files(self.path) if watch else None
        if self.trace:
            self.jobs.begin(tag)
        self.tracer.op = tag
        c0 = self.proc.cpu()
        t0 = time.perf_counter()
        try:
            res = fn()
            ok = True
        except Exception as e:  # an engine failure is a measured outcome
            res, ok = None, False
            print(f"[tsbench] {tag} failed: {type(e).__name__}: {e}"[:400],
                  file=sys.stderr)
        wall = time.perf_counter() - t0
        c1 = self.proc.cpu()
        self.tracer.op = ""
        self.tracer.active = False
        if ok and check is not None:
            try:
                check(res)
            except CheckFailed as e:
                ok = False
                self.wrong += 1
                print(f"[tsbench] {tag} wrong output: {e}"[:400], file=sys.stderr)
        counts = None
        if self.trace:  # untraced runs count no jobs
            counts = self.jobs.end(tag) if traced else self.jobs.skip()
        files = None
        if watch:
            after = store_files(self.path)
            new = after.keys() - before.keys()
            files = (len(new), sum(after[k] for k in new), len(after))
        self.ops.append(Op(kind, tag, ok, wall, (c1[0] - c0[0]) + (c1[1] - c0[1]),
                           measured, self.in_timed, traced, samples if ok else 0, counts, files))
        return res if ok else None

    def write(self, t: int, measured=True):
        from tsdb_spark import api
        from tsdb_spark.sources.remotewrite import encode_write_request

        series = self.model.scrape(t)
        body = encode_write_request(series)
        n = len(series)

        def check(acked):
            expect(acked == n, f"remote_write acked {acked} of {n} samples")

        if self.op("write", lambda: api.remote_write(self.db, body), check,
                   measured, samples=n) is not None:
            self.stored += n

    def rule_tick(self, start: int, end: int, step: int, measured=True):
        from tsdb_spark import rules

        group = [rules.Rule(name, expr) for name, expr in RULES]

        def check(reports):
            expect(sorted(reports) == sorted(r.name for r in group),
                   f"rule tick reported {sorted(reports)}")

        if self.op("rule", lambda: rules.record(self.db, group, start, end, step),
                   check, measured) is not None:
            pts = len(range(start, end + 1, step)) * len(M.JOBS) * len(RULES)
            self.rule_points += pts
            self.stored += pts

    def refresh(self, panels, end: int, measured=True):
        """One refresh of `panels` ending at `end`. In traced runs a
        measured refresh runs twice in a row, traced and untraced, the
        order alternating, so the pair measures the tracing overhead."""
        from tsdb_spark import api

        if measured:
            self.store_shape.append(store_shape(self.path))
        order = [True]
        if self.trace and measured:
            order = [True, False] if self.pairs % 2 == 0 else [False, True]
            self.pairs += 1
        for traced in order:
            self.trace_queries = traced
            wall = 0.0
            for p in panels:
                expr = p.expr or self.raw_expr
                start = end - p.range_ms
                self.op("query",
                        lambda: api.query_range(self.db, expr, start, end, p.step_ms),
                        lambda res, p=p: self.check_panel(p, res, start, end),
                        measured, name=p.name)
                wall += self.ops[-1].wall
            if measured:
                self.refreshes.append((wall, traced and self.trace))
        self.trace_queries = True

    # --------------------------------------------------- output checks

    def check_panel(self, p: Panel, res: dict, start: int, end: int) -> None:
        expect(res.get("status") == "success", "status is not success")
        result = res["data"]["result"]
        m = self.model
        grid = list(range(start, end + 1, p.step_ms))
        series = {}
        by = "instance" if p.name in ("top_cpu", "raw_counter") else "job"
        for s in result:
            key = s["metric"].get(by)
            series[key] = {int(round(float(ts) * 1000)): float(v) for ts, v in s["values"]}
        if p.name == "top_cpu":
            expect(set(series) == m.topk_cpu(5),
                   f"topk series {sorted(series)} != {sorted(m.topk_cpu(5))}")
            return
        if p.name == "raw_counter":
            expect(list(series) == [self.raw.labels["instance"]], "raw series missing")
            vals = series[self.raw.labels["instance"]]
            expect(sorted(vals) == grid, "raw counter grid")
            for t, v in vals.items():
                expect(close(v, self.raw.value(t)), f"raw counter at {t}: {v}")
            return
        expect(sorted(series) == sorted(M.JOBS),
               f"{p.name}: series {sorted(series)}")
        for job, vals in series.items():
            if p.name == "up":
                for t in grid:
                    expect(vals.get(t) == m.up_count(job, t),
                           f"up count {job}@{t}: {vals.get(t)}")
                continue
            if p.name == "day_rate":
                # only windows that lie wholly inside the data are closed-form
                pts = [t for t in grid if t - 15 * MIN >= M.T0]
            else:
                pts = grid
            for t in pts:
                if p.name in ("job_rate", "day_rate"):
                    want = m.job_rate(job, t)
                elif p.name == "error_ratio":
                    want = m.job_rate(job, t, "500") / m.job_rate(job, t)
                else:  # latency_p90
                    want = m.hist_quantile(0.9, job, t)
                expect(t in vals and close(vals[t], want),
                       f"{p.name} {job}@{t}: {vals.get(t)} != {want}")

    def readback(self) -> None:
        """A fresh DB.open must hold exactly the bulk + acked samples and
        every expected rule-output series with all its points."""
        from pyspark.sql import functions as F
        from tsdb_spark import DB

        rule_names = [r for r, _ in RULES]

        def read():
            db = DB.open(self.spark, self.path)
            names = db.series().select(
                "series_id", F.col("labels")["__name__"].alias("n"),
                F.col("labels")["job"].alias("job"))
            rows = (db.samples().join(names, "series_id")
                    .groupBy(F.col("n").isin(rule_names).alias("rule"))
                    .agg(F.count("*").alias("c"),
                         F.collect_set(F.when(F.col("n").isin(rule_names),
                                              F.concat_ws("/", "n", "job")))
                         .alias("rs")).collect())
            return {r["rule"]: (r["c"], set(r["rs"])) for r in rows}

        want_rules = {f"{r}/{j}" for r in rule_names for j in M.JOBS}

        def check(got):
            plain = got.get(False, (0, set()))[0]
            ruled, rs = got.get(True, (0, set()))
            expect(plain == self.stored - self.rule_points,
                   f"read back {plain} samples, want {self.stored - self.rule_points}")
            expect(ruled == self.rule_points,
                   f"read back {ruled} rule samples, want {self.rule_points}")
            expect(rs == want_rules, f"rule series {sorted(rs)}")

        self.op("readback", read, check)

    # -------------------------------------------------------- workloads

    def start_spark(self) -> None:
        from tsdb_spark import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("tsbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setup["spark_start"] = time.perf_counter() - t0
        self.proc = Proc(self.spark)
        if self.trace:
            self.jobs = JobCounter(self.spark.sparkContext)
            install_tracing(self.tracer, self.spark)

    def bulk(self, end: int, measured: bool) -> None:
        from tsdb_spark import DB

        self.db = DB.create(self.spark, self.path,
                            block_width_ms=self.sizes.block_width_ms)
        n = len(self.model.series()) * ((end - M.T0) // M.SCRAPE_MS)
        frame = M.spark_frame(self.spark, self.model, M.T0, end)
        self.op("bulk", lambda: self.db.append(frame), measured=measured, samples=n)
        expect(self.ops[-1].ok, "bulk append failed")
        self.stored += n
        self.setup["bulk_append"] = self.ops[-1].wall

    def dashboard(self) -> None:
        sz = self.sizes
        last = M.T0 + sz.history_ms - M.SCRAPE_MS  # newest sample
        edge0 = last - (sz.edge_bodies - 1) * M.SCRAPE_MS
        self.raw = self.rng.choice([s for s in self.model.series()
                                    if s.labels["__name__"] == M.REQ])
        self.raw_expr = M.REQ + "{" + ",".join(
            f'{k}="{v}"' for k, v in sorted(self.raw.labels.items())
            if k != "__name__") + "}"
        t_setup = time.perf_counter()
        self.start_spark()
        self.bulk(edge0, measured=True)
        # the rule tick's appends run before the edge writes, so the first
        # writes of the process do not pay the append path's warm-up alone
        self.rule_tick(edge0 - M.SCRAPE_MS - 4 * MIN, edge0 - M.SCRAPE_MS, MIN)
        for t in range(edge0, last + 1, M.SCRAPE_MS):
            self.write(t)
        self.op("compact", self.db.compact)
        expect(self.ops[-1].ok, "compaction failed")
        self.setup["compact"] = self.ops[-1].wall
        # warm up on the final store, so the timed refreshes run on a warm
        # JIT and filled engine caches
        t0 = time.perf_counter()
        self.refresh(DASHBOARD_PANELS, last, measured=False)
        self.setup["warmup"] = time.perf_counter() - t0
        self.setup["total"] = time.perf_counter() - t_setup

        ends = range(M.T0 + 2 * HOUR, last + 1, M.SCRAPE_MS)

        def step(i):
            self.refresh(DASHBOARD_PANELS, self.rng.choice(ends))

        self.timed(step, 1)

    def server(self) -> None:
        sz = self.sizes
        t_setup = time.perf_counter()
        self.start_spark()
        self.newest = M.T0 + sz.history_ms - M.SCRAPE_MS
        self.bulk(self.newest + M.SCRAPE_MS, measured=False)
        self.op("compact", self.db.auto_compact, measured=False)
        expect(self.ops[-1].ok, "compaction failed")
        self.setup["compact"] = self.ops[-1].wall
        self.rule_end = self.newest
        # warm up on the first cycle of a group, so the first timed writes
        # and refreshes do not run on a cold JIT
        t0 = time.perf_counter()
        self.cycle(0, measured=False)
        self.setup["warmup"] = time.perf_counter() - t0
        self.setup["total"] = time.perf_counter() - t_setup

        self.timed(self.cycle, GROUP)
        self.readback()

    def cycle(self, i: int, measured: bool = True) -> None:
        self.newest += M.SCRAPE_MS
        if i % GROUP == JOIN_AT:
            self.model.join(self.newest)
        self.write(self.newest, measured)
        if i % GROUP == RULE_AT:
            self.rule_tick(self.rule_end + M.SCRAPE_MS, self.newest, M.SCRAPE_MS,
                           measured)
            self.rule_end = self.newest
        self.refresh(SERVER_PANELS, self.newest, measured)
        if i % COMPACT_EVERY == 0:
            self.op("compact", self.db.auto_compact, measured=measured)

    def timed(self, step, unit: int) -> None:
        """Closed loop for `seconds` in whole units of `unit` steps: a unit
        starts only while the previous unit's duration still fits in the
        time left, and at least one unit runs."""
        p = self.proc
        self.in_timed = True
        cpu0, gc0 = p.cpu(), p.gc_s()
        t0 = time.perf_counter()
        i, wall = 0, 0.0
        while i < unit or time.perf_counter() - t0 + wall <= self.seconds:
            u0 = time.perf_counter()
            for _ in range(unit):
                step(i)
                i += 1
            wall = time.perf_counter() - u0
        cpu1 = p.cpu()
        self.phase = {"jvm_cpu": cpu1[0] - cpu0[0], "driver_cpu": cpu1[1] - cpu0[1],
                      "gc": p.gc_s() - gc0, "rss_peak_mb": p.jvm_rss_peak_mb()}

    def execute(self) -> None:
        if self.workload == "dashboard":
            self.dashboard()
        else:
            self.server()
        self.bytes = sum(store_files(self.path).values())

    # ---------------------------------------------------------- metrics

    def end_to_end(self) -> dict:
        ops = [o for o in self.ops if o.measured]
        ok = [o for o in ops if o.ok]
        timed = [o for o in ops if o.timed]

        def of(*kinds):
            return [o for o in ok if o.kind in kinds]

        queries, writes = of("query"), of("write")
        ingest = of("write", "bulk", "compact")
        bodies = of("write", "bulk")
        refresh = [w for w, traced in self.refreshes if not traced]
        need = [("query", queries), ("write", writes), ("refresh", refresh)]
        for what, xs in need:
            expect(len(xs) > 0, f"no successful {what} measured")
        s = self.setup
        return {
            "setup_s": (s["total"], "s"),
            "refresh_p50_s": (statistics.median(refresh), "s"),
            "query_cpu_s": (sum(o.cpu for o in queries) / len(queries), "s"),
            "ok_ratio": (sum(o.ok for o in timed) / len(timed), "ratio"),
            "write_p50_s": (statistics.median(o.wall for o in writes), "s"),
            "ingest_samples_per_s": (sum(o.samples for o in bodies)
                                     / sum(o.wall for o in ingest), "samples/s"),
            "write_cpu_s": (sum(o.cpu for o in ingest) / len(bodies), "s"),
            "bytes_per_sample": (self.bytes / self.stored, "B"),
        }

    def per_layer(self) -> dict:
        sp = self.tracer.self_times()
        ops = {o.tag: o for o in self.ops if o.traced and o.ok and o.measured}

        def per(kind, names, parent=None):
            tags = [t for t, o in ops.items() if o.kind == kind]
            total = sum(x for n, pn, x, op in sp if n in names and op in tags
                        and (parent is None or pn == parent))
            return total / max(len(tags), 1)

        def mean(kind, f):
            xs = [f(o) for o in ops.values() if o.kind == kind]
            return sum(xs) / len(xs) if xs else 0.0

        def dur(kind, name):
            tags = {t for t, o in ops.items() if o.kind == kind}
            total = sum(t1 - t0 for n, t0, t1, _, op in self.tracer.spans
                        if n == name and op in tags and t1 is not None)
            return total / max(len(tags), 1)

        pairs = zip(self.refreshes[::2], self.refreshes[1::2])
        overhead = [a[0] / b[0] if a[1] else b[0] / a[0] for a, b in pairs]
        write_samples = mean("write", lambda o: o.samples) or 1
        ph = self.phase
        return {
            "promql.parse_s": (per("query", {"promql.parse"}), "s"),
            "promql.build_s": (per("query", {"promql.build"}), "s"),
            "promql.exec_s": (per("query", {"spark.collect"}, "api.query_range"), "s"),
            "promql.jobs": (mean("query", lambda o: o.counts[0]), "count"),
            "promql.stages": (mean("query", lambda o: o.counts[1]), "count"),
            "promql.tasks": (mean("query", lambda o: o.counts[2]), "count"),
            "api.render_s": (per("query", {"api.query_range"}), "s"),
            "api.remote_write.self_s": (per("write", {"api.remote_write"}), "s"),
            "remotewrite.decode_s": (dur("write", "remotewrite.decode"), "s"),
            "append.s": (dur("write", "db.append"), "s"),
            "append.jobs": (mean("write", lambda o: o.counts[0]), "count"),
            "append.files_written": (mean("write", lambda o: o.files[0]), "count"),
            "append.bytes_per_sample": (
                mean("write", lambda o: o.files[1]) / write_samples, "B"),
            "db.store_files": (statistics.fmean(f for f, _ in self.store_shape), "count"),
            "db.buckets": (statistics.fmean(b for _, b in self.store_shape), "count"),
            "compact.s": (mean("compact", lambda o: o.wall), "s"),
            "compact.jobs": (mean("compact", lambda o: o.counts[0]), "count"),
            "compact.bytes_rewritten": (mean("compact", lambda o: o.files[1]), "B"),
            "compact.files_after": (mean("compact", lambda o: o.files[2]), "count"),
            "rules.plan_s": (dur("rule", "rules.plan"), "s"),
            "rules.append_s": (dur("rule", "db.append"), "s"),
            "rules.jobs": (mean("rule", lambda o: o.counts[0]), "count"),
            "jvm.cpu_s": (ph["jvm_cpu"], "s"),
            "driver.cpu_s": (ph["driver_cpu"], "s"),
            "jvm.gc_s": (ph["gc"], "s"),
            "jvm.rss_peak_mb": (ph["rss_peak_mb"], "MB"),
            "setup.spark_start_s": (self.setup["spark_start"], "s"),
            "setup.bulk_append_s": (self.setup["bulk_append"], "s"),
            "setup.compact_s": (self.setup["compact"], "s"),
            "setup.warmup_s": (self.setup["warmup"], "s"),
            "trace.overhead_ratio": (statistics.median(overhead), "ratio"),
        }

    def counts(self) -> tuple[int, int]:
        ops = [o for o in self.ops if o.measured]
        return len(ops), sum(not o.ok for o in ops)


def install_tracing(tracer: Tracer, spark) -> None:
    """Spans around the public entry points of each layer."""
    from tsdb_spark import api, db, promql, rules
    from tsdb_spark.sources import remotewrite

    tracer.wrap(api, "query_range", "api.query_range")
    tracer.wrap(api, "remote_write", "api.remote_write")
    tracer.wrap(api, "eval_range_db", "promql.build")
    tracer.wrap(rules, "eval_range_db", "promql.build")
    # rule_frame only plans the rule's query; it runs inside the
    # db.append that rules.record calls next
    tracer.wrap(rules, "rule_frame", "rules.plan")
    tracer.wrap(promql, "parse_expr", "promql.parse")
    tracer.wrap(remotewrite, "decode_write_request", "remotewrite.decode")
    tracer.wrap(db.DB, "append", "db.append")
    tracer.wrap(type(spark.range(1)), "collect", "spark.collect")


def store_files(path: str) -> dict:
    """{relative path: size} of the store's data files."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            out[os.path.relpath(full, path)] = os.path.getsize(full)
    return out


def store_shape(path: str) -> tuple[int, int]:
    files = store_files(path)
    samples = [k for k in files if k.startswith("samples" + os.sep)
               and not os.path.basename(k).startswith((".", "_"))]
    buckets = {k.split(os.sep)[1] for k in samples}
    return len(samples), len(buckets)


def shutdown(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(workload: str, seed: int, seconds: float, trace: bool, work: str,
        spans_path: str | None = None, sizes: Sizes | None = None):
    """Run one workload; return (the result object the CLI prints, the Run)."""
    os.makedirs(work, exist_ok=True)
    r = Run(workload, seed, seconds, trace, work, sizes)
    try:
        r.execute()
        metrics = r.per_layer() if trace else r.end_to_end()
    finally:
        r.tracer.unwrap_all()
        if getattr(r, "spark", None) is not None:
            shutdown(r.spark)
        shutil.rmtree(r.path, ignore_errors=True)
    if trace and spans_path:
        r.tracer.write(spans_path)
    attempted, failed = r.counts()
    print("[tsbench] setup " + " ".join(f"{k}={v:.2f}" for k, v in r.setup.items())
          + " | ops wall/cpu " + " ".join(
              f"{o.kind[0]}{o.wall:.2f}/{o.cpu:.2f}{'' if o.ok else '!'}" for o in r.ops),
          file=sys.stderr)
    return {
        "correct": r.wrong == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }, r


def layer_table(r: Run) -> str:
    """Per-layer self time over the traced ops, one row per span name."""
    rows: dict[str, list] = {}
    for name, _parent, self_s, op in r.tracer.self_times():
        if op:
            acc = rows.setdefault(name, [0, 0.0])
            acc[0] += 1
            acc[1] += self_s
    lines = [f"{'layer':<22}{'calls':>7}{'self_s':>10}{'mean_ms':>10}"]
    for name, (n, total) in sorted(rows.items(), key=lambda kv: -kv[1][1]):
        lines.append(f"{name:<22}{n:>7}{total:>10.3f}{1000 * total / n:>10.2f}")
    return "\n".join(lines)
