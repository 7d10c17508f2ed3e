"""Benchmark command: run one workload, check its outputs, print metrics.

    python3 tsbench/run.py --workload dashboard --seed 1 --seconds 30 --trace 0

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. `--trace 0` reports the
end-to-end metrics; `--trace 1` reports the per-layer metrics, prints the
per-layer self-time table and writes the spans to
tsbench/out/spans-<workload>-s<seed>.jsonl.

Run it from the repository root. Every file it writes stays under
tsbench/ (work dirs, Spark scratch, span files); the store is rebuilt from
the seed on every run and deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def configure_env(work: str) -> None:
    """Point Spark and Python scratch space into `work`, size Spark to half
    the CPUs this process may use, and make the repository importable.

    Half, because the Spark JVM runs more than its task threads: the JIT
    compilers, the garbage collector, query planning and code generation,
    and beside it the Python driver and Spark's Python workers. With a task
    thread on every CPU these contend with the tasks: on a 4-vCPU VM every
    op ran slower with 4 task threads than with 2 (server write p50 0.80 s
    against 0.68 s, dashboard refresh 9.2 s against 8.6 s)."""
    scratch = os.path.join(work, "tmp")
    os.makedirs(scratch, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    os.environ["TMPDIR"] = scratch
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={scratch}").strip()
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("dashboard", "server"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    configure_env(work)

    from tsbench import harness

    spans = os.path.join(HERE, "out", f"spans-{a.workload}-s{a.seed}.jsonl")
    try:
        out, r = harness.run(a.workload, a.seed, a.seconds, bool(a.trace), work, spans)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.trace:
        print(harness.layer_table(r))
        print(f"spans: {os.path.relpath(spans, ROOT)}")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
