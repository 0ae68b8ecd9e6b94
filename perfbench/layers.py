"""Metric names and units, and the per-layer numbers of a traced run.

Every per-layer metric is printed on every workload; a layer a workload does
not reach reads 0 there (``analytics`` never calls the server, and
``ingest_mixed`` never runs a declared query).
"""

from __future__ import annotations

import json
import os

from spans import self_ms
from workloads import ANALYTIC_QUERIES, OP_KINDS, READ_KIND, Bench, median, pct

with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
#: (name, unit) of every metric, as ``BENCHMARK.json`` declares them.
END_TO_END = tuple((m["name"], m["unit"]) for m in _SPEC["end_to_end"])
PER_LAYER = tuple((m["name"], m["unit"]) for m in _SPEC["per_layer"])


def workload_extras(b: Bench) -> dict[str, float]:
    """Figures of the run measured beside the end-to-end ones: wall-clock
    latencies and rates, unscaled CPU times, and the host's steal share
    over the window."""
    ms = {k: [s * 1e3 for s in v] for k, v in b.lat.items()}
    attempted = sum(b.attempted.values())
    return {
        "e2e.read_p50_ms": b.read_ms(),
        "e2e.read_cpu_unscaled_ms": b.read_ms(cpu=True),
        "e2e.ops_per_s": b.ops_per_s,
        "host.steal_pct": b.steal_pct,
        "e2e.read_p90_ms": pct(ms.get(READ_KIND[b.workload], []), 90),
        "e2e.peak_rss_mb": b.peak_rss_mb(),
        "e2e.latest_p50_ms": median(ms.get("latest", [])),
        "e2e.write_p50_ms": median(ms.get("ingest", [])),
        "e2e.write_cpu_ms": median(b.cpu.get("ingest", [])) * 1e3,
        "e2e.write_p90_ms": pct(ms.get("ingest", []), 90),
        "e2e.write_rows_per_s": b.layer.get("e2e.write_rows_per_s", 0.0),
        "e2e.update_p50_ms": median(ms.get("update", [])),
        "e2e.fdd_p50_ms": median(ms.get("fdd", [])),
        "e2e.compact_s": median(ms.get("compact", [])) / 1e3,
        "e2e.space_amp": b.layer.get("e2e.space_amp", 0.0),
        "e2e.analytics_pass_s": b.layer.get("e2e.analytics_pass_s", 0.0),
        "e2e.ops_failed_frac": sum(b.failed.values()) / max(1, attempted),
    }


def per_layer(b: Bench) -> dict[str, float]:
    """Fold the traced run's spans and Spark counters into PER_LAYER."""
    out = {name: 0.0 for name, _ in PER_LAYER}
    out.update(b.layer)
    out.update(workload_extras(b))
    out["host.probe_ms"] = b.probe_ms()
    out["spark.jvm_start_s"] = b.jvm_start_s
    out["server.non_2xx"] = b.non_2xx
    tr = b.tracer
    out["trace.spans"] = len(tr.spans)
    kids: dict[int, list] = {}
    for s in tr.spans:
        kids.setdefault(s.parent, []).append(s)

    def under(rec, name):
        return [s for s in kids.get(rec["span"].id, ()) if s.name == name]

    # the read sent beside the closing compaction feeds api.read_stall_ms only
    http = [r for r in b.records if r["span"].name.startswith("http.") and r["kind"] != "qbid_stalled"]
    if http:
        out["server.request_ms"] = median([r["span"].ms for r in http])
        out["server.self_ms"] = median([self_ms(r["span"], kids.get(r["span"].id, [])) for r in http])
        out["server.spark_jobs_per_request"] = median([r["spark"]["jobs"] for r in http])
        out["server.response_bytes"] = median([r.get("bytes", 0) for r in http])
    for route, method in (("/query_by_id", "query_by_id"), ("/latest", "latest")):
        recs = [r for r in http if r["span"].name.endswith(route)]
        api = [s for r in recs for s in under(r, f"api.{method}")]
        act = [s for r in recs for s in under(r, "spark.action")]
        out[f"api.{method}.plan_ms"] = median([s.ms for s in api])
        out[f"api.{method}.exec_ms"] = median([s.ms for s in act])
        if method == "query_by_id" and recs:
            out["api.query_by_id.rows_returned"] = median([s.attrs.get("rows", 0) for s in act])
            # listing files costs a plan: done after the timed requests
            out["api.query_by_id.files_listed"] = median(
                [len(s.attrs["df"].inputFiles()) for s in api[-3:]])
            out["operators.overlay.rows"] = median([r.get("overlay_rows", 0) for r in recs])
    api_spans = [s for s in tr.spans if s.name.startswith("api.")]
    if api_spans:
        out["api.self_ms"] = median([self_ms(s, kids.get(s.id, [])) for s in api_spans])

    by_kind: dict[str, list] = {}
    for r in b.records:
        by_kind.setdefault(r["kind"], []).append(r)
    for kind, method in (("ingest", "ingest_rows"), ("update", "update_rows"),
                         ("fdd", "run_fault_detection"), ("compact", "compact")):
        spans = [s for r in by_kind.get(kind, ()) for s in under(r, f"api.{method}")]
        out[f"api.{method}.ms"] = median([s.ms for s in spans])
        if kind == "fdd":
            out["api.run_fault_detection.rows_flagged"] = median([s.attrs["result"] for s in spans])
    for kind, recs in by_kind.items():
        if kind not in OP_KINDS:
            continue
        for key, metric in (("jobs", "jobs_per_op"), ("stages", "stages_per_op"), ("tasks", "tasks_per_op")):
            out[f"spark.{kind}.{metric}"] = median([r["spark"][key] for r in recs])
        out[f"spark.{kind}.failed_tasks"] = sum(r["spark"]["failed_tasks"] for r in recs)
    out["api.ingest_rows.spark_jobs"] = out["spark.ingest.jobs_per_op"]
    out["api.compact.spark_jobs"] = out["spark.compact.jobs_per_op"]
    out["api.ingest_rows.files_written"] = median([r["files_written"] for r in by_kind.get("ingest", [])])
    out["api.compact.bytes_rewritten"] = median([r["bytes_rewritten"] for r in by_kind.get("compact", [])])
    for q in ANALYTIC_QUERIES:
        recs = [r for r in by_kind.get("query", []) if r.get("query") == q]
        out[f"queries.{q}.plan_ms"] = median([s.ms for r in recs for s in under(r, "queries.plan")])
        out[f"queries.{q}.exec_ms"] = median([s.ms for r in recs for s in under(r, "spark.action")])
        out[f"queries.{q}.spark_tasks"] = median([r["spark"]["tasks"] for r in recs])
    undeclared = set(out) - {name for name, _ in PER_LAYER}
    assert not undeclared, f"per-layer metrics missing from BENCHMARK.json: {sorted(undeclared)}"
    return out
