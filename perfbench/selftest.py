"""Self-test of the benchmark at tiny size.

    python3 perfbench/selftest.py

Runs every workload for the fewest rounds a run makes (two), on a tiny
warehouse and sf 0.001 tables, untraced and traced, and asserts that each
prints every metric ``BENCHMARK.json`` names, with its unit, and no failed
op, and that the traced runs together reach every layer. Then feeds the
checkers a deliberately corrupted expected answer and asserts they flag it,
and checks that the generated tables give the as-of joins rows to match.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys

import run

TINY = dict(series=40, points=60, sf=0.001)
#: Per-layer metrics that may read 0 on correct code or an idle host (and every
#: ``spark.<op>.failed_tasks``); every other one must be non-zero on at least
#: one workload's traced run.
ZERO_WHEN_CORRECT = {"server.non_2xx", "e2e.ops_failed_frac", "trace.overhead_ms", "api.read_stall_ms",
                     "host.steal_pct"}


def check_metrics(result: dict, spec: list[dict], what: str) -> None:
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, (what, result)
    assert set(result["metrics"]) == {m["name"] for m in spec}, (what, set(result["metrics"]) ^ {m["name"] for m in spec})
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and math.isfinite(got["value"]), (what, m["name"], got)


def check_checkers(cfg) -> None:
    """A served answer that differs from the model, and an analytic result
    that differs from its oracle, must both count as failures."""
    import numpy as np

    from gen import TelemetryModel, write_analytic_tables
    from rusty_timeseries_db_spark import queries as Q
    from rusty_timeseries_db_spark.oracle import compare
    from workloads import Bench

    work = os.path.abspath(os.path.join(run.WORK_ROOT, f"selftest-{os.getpid()}"))
    b = Bench(cfg, "ingest_mixed", 7, 1, False, work)
    try:
        model = TelemetryModel(7, cfg.series, cfg.points)
        b.build_warehouse(model)
        sid, (start, end) = 3, model.read_window(np.random.default_rng(0))
        assert b.read_by_id(model, "probe", sid, start, end) is not None, b.errors
        k = model.base_ts.index(model.expected_window(sid, start, end, 0)[0][1])
        model.values[sid, k] += 0.5  # corrupt the expected answer
        assert b.read_by_id(model, "probe", sid, start, end) is None
        assert b.failed["probe"] == 1, dict(b.failed)

        data = os.path.join(work, "analytic")
        write_analytic_tables(data, 7, cfg.sf)
        name = "q_agg_pricing_summary"
        df = Q.all_queries()[name](b.spark, data)
        assert compare(df, Q.all_oracles()[name], data)[0]
        corrupted = f"SELECT * FROM ({Q.all_oracles()[name]}) LIMIT 1"
        assert not compare(df, corrupted, data)[0]
        # an as-of join whose every row is NULL would match its oracle
        # however broken the match: most orders must find an earlier event
        for name in ("q_asof_join", "q_asof_sql"):
            rows = Q.all_queries()[name](b.spark, data).collect()
            assert sum(r["value_right"] is not None for r in rows) > len(rows) // 2, name
    finally:
        b.close()
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    run.prepare()
    from workloads import WORKLOADS, Config

    with open(os.path.join(run.REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    cfg = Config(**TINY)
    reached = set()
    for workload in WORKLOADS:
        for trace in (False, True):
            result = run.run(workload, 7, 4, trace, cfg)
            check_metrics(result, spec["per_layer" if trace else "end_to_end"], f"{workload} trace={trace}")
            if not trace:
                assert all(m["value"] > 0 for m in result["metrics"].values()), (workload, result)
            else:
                reached |= {k for k, m in result["metrics"].items() if m["value"] != 0}
            print(f"ok {workload} trace={int(trace)}: {len(result['metrics'])} metrics", flush=True)
    unreached = {m["name"] for m in spec["per_layer"] if not m["name"].endswith(".failed_tasks")}
    unreached -= reached | ZERO_WHEN_CORRECT
    assert not unreached, f"per-layer metrics no traced run reaches: {sorted(unreached)}"
    check_checkers(cfg)
    print("ok checkers flag corrupted answers")
    return 0


if __name__ == "__main__":
    sys.exit(main())
