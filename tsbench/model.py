"""Seeded store model: the series the benchmark writes and, in closed form,
the answers the engine must give about them.

Every value is a function of (series parameters, t), so the same seed
always yields the same store, and the output checks need no second engine:

- counters grow linearly, ``v = a + b * (t - T0) / 1000`` (b = per-second
  rate), so ``rate()`` over any window that lies inside the data is exactly
  ``b`` and sums of rates are sums of slopes;
- gauges are ``a + sin(2*pi*(t - T0)/1h + b)``; instance bases are spaced
  3 apart, so the top-k of ``max_over_time`` is the same set at every step;
- ``up`` is a constant 0 or 1 per instance.

Samples sit on a 15 s grid starting at ``T0``.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass

T0 = 1_704_067_200_000  # 2024-01-01T00:00:00Z
SCRAPE_MS = 15_000
JOBS = ("api", "web", "auth", "db")
LES = ("0.05", "0.1", "0.25", "0.5", "1", "+Inf")
COUNTER, GAUGE, CONST = 0, 1, 2
REQ = "http_requests_total"
BUCKET = "http_request_duration_seconds_bucket"
CPU = "process_cpu_usage"


@dataclass(frozen=True)
class Series:
    labels: dict
    kind: int
    a: float
    b: float
    start: int  # first sample time (ms)

    def value(self, t: int) -> float:
        if self.kind == COUNTER:
            return self.a + self.b * ((t - T0) // 1000)
        if self.kind == GAUGE:
            return self.a + math.sin(2 * math.pi * (t - T0) / 3_600_000 + self.b)
        return self.a


@dataclass(frozen=True)
class Instance:
    job: str
    name: str
    ok_rate: int  # code="200" requests per second
    err_rate: int  # code="500" requests per second
    buckets: tuple  # cumulative per-second rates, one per LES entry
    cpu_base: float
    cpu_phase: float
    up: bool
    start: int

    def series(self) -> list[Series]:
        base = {"job": self.job, "instance": self.name}
        # counters of instances present from T0 carry one hour of prior
        # uptime; instances that join later start from zero
        up_s = 3600 if self.start == T0 else -(self.start - T0) // 1000

        def counter(name, rate, **extra):
            return Series({"__name__": name, **base, **extra}, COUNTER,
                          float(rate * up_s), float(rate), self.start)

        out = [counter(REQ, self.ok_rate, code="200"),
               counter(REQ, self.err_rate, code="500")]
        out += [counter(BUCKET, r, le=le) for le, r in zip(LES, self.buckets)]
        out.append(Series({"__name__": CPU, **base}, GAUGE, self.cpu_base,
                          self.cpu_phase, self.start))
        out.append(Series({"__name__": "up", **base}, CONST,
                          1.0 if self.up else 0.0, 0.0, self.start))
        return out


class StoreModel:
    """The seeded series population of one store.

    `instances_per_job` instances of every job exist from T0; `join()` adds
    a fresh instance later (server churn)."""

    def __init__(self, seed: int, instances_per_job: int):
        self.rng = random.Random(seed)
        self.instances: list[Instance] = []
        ranks = list(range(len(JOBS) * instances_per_job))
        self.rng.shuffle(ranks)
        for j, job in enumerate(JOBS):
            downs = set(self.rng.sample(range(instances_per_job),
                                        instances_per_job // 4))
            for i in range(instances_per_job):
                rank = ranks[j * instances_per_job + i]
                self.instances.append(
                    self._instance(job, f"{job}-{i}", i not in downs, T0,
                                   cpu_base=10 + 3 * rank))
        self._joined = 0

    def _instance(self, job, name, up, start, cpu_base) -> Instance:
        r = self.rng
        cum, buckets = 0, []
        for _ in LES:
            cum += r.randint(1, 6)
            buckets.append(cum)
        return Instance(job, name, r.randint(20, 80), r.randint(1, 5),
                        tuple(buckets), cpu_base + r.random() / 2,
                        r.random() * 2 * math.pi, up, start)

    def join(self, start: int) -> Instance:
        """Add one new instance of a seeded job, first scraped at `start`.
        Its gauge base sits below every original instance, so joins never
        change the top-k panel."""
        self._joined += 1
        job = self.rng.choice(JOBS)
        inst = self._instance(job, f"{job}-n{self._joined}", True, start,
                              cpu_base=-3.0 * self._joined)
        self.instances.append(inst)
        return inst

    def series(self) -> list[Series]:
        return [s for inst in self.instances for s in inst.series()]

    def scrape(self, t: int) -> list[tuple]:
        """One scrape of every live series at `t`, as remote-write series."""
        return [(s.labels, [(t, s.value(t))]) for s in self.series()
                if s.start <= t]

    # ------------------------------------------------ closed-form answers

    def live(self, t: int) -> list[Instance]:
        return [i for i in self.instances if i.start <= t]

    def job_rate(self, job: str, t: int, code: str | None = None) -> float:
        return float(sum(
            (i.ok_rate if code != "500" else 0)
            + (i.err_rate if code != "200" else 0)
            for i in self.live(t) if i.job == job))

    def up_count(self, job: str, t: int) -> float:
        return float(sum(i.up for i in self.live(t) if i.job == job))

    def hist_quantile(self, q: float, job: str, t: int) -> float:
        """Classic-histogram quantile of the job's summed bucket rates —
        upstream bucketQuantile: linear interpolation inside the bucket
        holding rank q*count, lower bound 0 for the first bucket, and the
        highest finite bound when the rank falls in +Inf."""
        cum = [sum(i.buckets[k] for i in self.live(t) if i.job == job)
               for k in range(len(LES))]
        rank = q * cum[-1]
        lo, prev = 0.0, 0.0
        for le, c in zip(LES, cum):
            if le == "+Inf":
                return lo
            if c >= rank:
                return lo + (float(le) - lo) * (rank - prev) / (c - prev)
            lo, prev = float(le), c
        return lo

    def topk_cpu(self, k: int) -> set[str]:
        top = sorted(self.instances, key=lambda i: -i.cpu_base)[:k]
        return {i.name for i in top}


def spark_frame(spark, model: StoreModel, start: int, end: int):
    """The model's samples on the scrape grid in [start, end) as an append
    frame rows(labels, t, v), generated inside Spark so the bulk load moves
    no per-sample data through the driver."""
    from pyspark.sql import functions as F

    params = spark.createDataFrame(
        [(s.labels, s.kind, s.a, s.b, s.start) for s in model.series()],
        "labels MAP<STRING,STRING>, kind INT, a DOUBLE, b DOUBLE, start LONG",
    )
    n = (end - start) // SCRAPE_MS
    grid = spark.range(n).select(
        (F.lit(start) + F.col("id") * SCRAPE_MS).alias("t"))
    dt = F.col("t") - F.lit(T0)
    v = (
        F.when(F.col("kind") == COUNTER,
               F.col("a") + F.col("b") * F.floor(dt / 1000))
        .when(F.col("kind") == GAUGE,
              F.col("a") + F.sin(dt * (2 * math.pi / 3_600_000) + F.col("b")))
        .otherwise(F.col("a"))
    )
    return (params.crossJoin(grid).filter(F.col("t") >= F.col("start"))
            .select("labels", "t", v.alias("v")))
