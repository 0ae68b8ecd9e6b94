"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_mixed --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Builds its inputs from ``--seed``, sets up
the workload (Spark session, warehouse or analytic tables), drives it
through the work ``--seconds`` sets (one ``ingest_mixed`` round or
``analytics`` pass per 10 s, two at least: the same ops on every host),
checks every answer, and prints one JSON object as the last
line of standard output: the end-to-end metrics with ``--trace 0``, the
per-layer metrics of a traced run with ``--trace 1``. Diagnostics go to
standard error. Everything it writes stays under ``.perfbench_work/``; a
traced run keeps its spans there as ``spans-<workload>-seed<N>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK_ROOT = ".perfbench_work"


def prepare() -> None:
    """Import paths, and keep every file a run writes (Python, Spark, the
    JVM) inside the checkout's work directory."""
    tmp = os.path.abspath(os.path.join(WORK_ROOT, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.abspath(os.path.join(WORK_ROOT, "spark-local"))
    sys.path[:0] = [HERE, REPO]


def run(workload: str, seed: int, seconds: float, trace: bool, cfg=None) -> dict:
    """One benchmark run; returns the result object."""
    from layers import END_TO_END, PER_LAYER, per_layer, workload_extras
    from workloads import WORKLOADS, Bench, Config

    work = os.path.abspath(os.path.join(WORK_ROOT, f"{workload}-{os.getpid()}"))
    os.makedirs(work, exist_ok=True)
    b = Bench(cfg or Config(), workload, seed, seconds, trace, work)
    t0 = time.perf_counter()
    try:
        WORKLOADS[workload](b)
        if trace:
            values, units = per_layer(b), dict(PER_LAYER)
            b.tracer.dump(os.path.join(WORK_ROOT, f"spans-{workload}-seed{seed}.jsonl"))
        else:
            values, units = b.end_to_end(), dict(END_TO_END)
        extras = workload_extras(b)
    finally:
        b.close()
        shutil.rmtree(work, ignore_errors=True)
    b.phases["run_s"] = time.perf_counter() - t0
    attempted, failed = sum(b.attempted.values()), sum(b.failed.values())
    print(json.dumps({
        "workload": workload, "seed": seed, "probe_ms": b.probe_ms(), "jvm_start_s": b.jvm_start_s,
        "setup_s": b.setup_s, "phases": b.phases, "ops": dict(b.attempted), "failed": dict(b.failed),
        "errors": b.errors, "lat_ms": {k: [round(x * 1e3, 1) for x in v] for k, v in b.lat.items()},
        "cpu_ms": {k: [round(x * 1e3) for x in v] for k, v in b.cpu.items()},
        "query_cpu_ms": {k: [round(x * 1e3) for x in v] for k, v in b.per_query_cpu.items()}, **extras,
    }), file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": float(values[name]), "unit": units[name]} for name in units},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest_mixed", "analytics"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, "rusty_timeseries_db_spark")):
        print(f"perfbench: no rusty_timeseries_db_spark package beside {HERE}", file=sys.stderr)
        return 2
    prepare()
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
