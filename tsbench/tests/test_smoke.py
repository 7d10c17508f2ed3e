"""Smoke test of the benchmark harness at tiny scale.

    python -m pytest tsbench/tests -q

Runs each workload once on a tiny store and checks that the metric names
and units match BENCHMARK.json, that the Spark job/stage/task counts of
queries and compactions repeat exactly on a seed, and that a wrong
expectation fails the output check.
Each run starts and stops its own Spark JVM (about a minute in total per
run on 4 cores).
"""

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from tsbench import harness, run  # noqa: E402
from tsbench import model as M  # noqa: E402

TINY = {
    "dashboard": harness.Sizes(instances_per_job=2, history_ms=3 * harness.HOUR,
                               block_width_ms=harness.HOUR, edge_bodies=2),
    "server": harness.Sizes(instances_per_job=2, history_ms=30 * harness.MIN,
                            block_width_ms=10 * harness.MIN),
}
COUNTS = ("promql.jobs", "promql.stages", "promql.tasks", "append.jobs",
          "compact.jobs", "rules.jobs")


def declared(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def tiny_run(workload, trace, seed=5, tmp_path=None):
    work = str(tmp_path / f"{workload}-{trace}")
    run.configure_env(work)
    return harness.run(workload, seed, 1.0, trace, work, sizes=TINY[workload])


def units(out):
    return {k: v["unit"] for k, v in out["metrics"].items()}


@pytest.mark.parametrize("workload", ["dashboard", "server"])
def test_end_to_end_metrics(workload, tmp_path):
    out, r = tiny_run(workload, False, tmp_path=tmp_path)
    assert units(out) == declared("end_to_end")
    assert out["correct"] is True
    assert out["attempted"] >= 1
    assert 0 < out["metrics"]["ok_ratio"]["value"] <= 1
    assert all(v["value"] > 0 for v in out["metrics"].values())
    # every panel, the classic-histogram one too, is queried in the timed phase
    panels = harness.DASHBOARD_PANELS if workload == "dashboard" else harness.SERVER_PANELS
    for p in panels:
        assert any(o.kind == "query" and o.timed and f"-{p.name}-" in o.tag
                   for o in r.ops), p.name


def test_trace_counts_repeat_on_seed(tmp_path):
    a, ra = tiny_run("server", True, tmp_path=tmp_path / "a")
    b, rb = tiny_run("server", True, tmp_path=tmp_path / "b")
    assert units(a) == declared("per_layer")
    # queries and compactions repeat exactly. Appends (writes, rule ticks)
    # run engine work on a helper thread beside the samples write, and an
    # append has been seen to run one 4-task job more in one of two runs
    serial = [[(o.tag, o.counts) for o in r.ops if o.kind in ("query", "compact")]
              for r in (ra, rb)]
    assert serial[0] == serial[1]
    for name in COUNTS:
        assert a["metrics"][name]["value"] > 0, name


def test_wrong_expectation_fails_check(tmp_path, monkeypatch):
    real = M.StoreModel.up_count
    monkeypatch.setattr(M.StoreModel, "up_count",
                        lambda self, job, t: real(self, job, t) + 1)
    out, r = tiny_run("dashboard", False, tmp_path=tmp_path)
    assert out["correct"] is False
    assert r.wrong > 0
    assert out["failed"] > r.wrong - 1
