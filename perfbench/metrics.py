"""Metric names and units, and the per-layer figures of a traced run.

End-to-end metrics apply to every workload: a run's set-up time, the CPU
seconds of one cycle, and peak memory.  Wall times are per-layer metrics
and workload figures: on the hosts measured, hypervisor steal moved a
cycle's wall time by 15-25% between runs, and its CPU time by 5%.

Every traced run prints every per-layer metric; a layer the workload
never calls reads 0.  Each figure is the median, over the traced cycles,
of the layer's per-cycle total, so the layers' ``wall_s`` figures add up
to the cycle time less the client's own time (``client.cycle.self_s``).
The workload figures (``daily_run_s``, ``lookup_p90_ms``, ...) are taken
over the traced cycles too; the untraced run reports them on the line
before its result.
"""

from __future__ import annotations

import re
import statistics

from spans import SPAN_COUNTERS

END_TO_END_UNITS = {
    "setup_s": "s",
    "run_cpu_s": "s",
    "peak_rss_mb": "MiB",
}

# Figures of a single workload, named as in the README; 0 on the others.
WORKLOAD_UNITS = {
    "daily_run_s": "s",
    "lake_bytes_per_raw_byte": "ratio",
    "lookup_p50_ms": "ms",
    "lookup_p90_ms": "ms",
    "star_p50_ms": "ms",
    "audit_s": "s",
    "corpus_run_s": "s",
}

_COUNTER_UNITS = {
    "wall_s": "s", "driver_s": "s", "jobs": "count", "tasks": "count",
    "exec_cpu_s": "s", "shuffle_write_bytes": "B", "spill_bytes": "B",
}
# Modules whose Spark jobs are found by the job's call site (the package
# line that issued the action), since the benchmark never calls them itself.
CALL_SITE_MODULES = (
    "operators.cleaning", "operators.keys", "operators.normalize",
    "operators.audit", "functions.text",
)
WRITE_TABLES = ("silver", "property", "hoa", "taxes", "leads", "rehab", "valuation")
_LAKE_TABLE_RE = re.compile(r"/lake/(?:gold/)?([^/]+)")
PYTHON_LAYERS = ("functions.similarity.knn_join", "functions.similarity.semantic_dedup")


def per_layer_units(workloads) -> dict:
    """Units of every per-layer metric; the call layers are the span names
    the workloads declare."""
    layers = [name for w in workloads for name in w.LAYERS]
    units = {f"{layer}.{c}": _COUNTER_UNITS[c] for layer in layers for c in SPAN_COUNTERS}
    units.update({
        "session.get_spark.wall_s": "s",
        "client.cycle.wall_s": "s",
        "client.cycle.self_s": "s",
        "trace.overhead_s": "s",
        "trace.overhead_share": "ratio",
        "failed_op_share": "ratio",
        "plans.medallion.write_medallion.scan_amp": "ratio",
        "plans.medallion.write_medallion.output_bytes": "B",
        **{f"plans.medallion.write_medallion.{t}.wall_s": "s" for t in WRITE_TABLES},
        "sources.manifest.lookup_join.files_read": "count",
        **{f"{layer}.{k}": u for layer in PYTHON_LAYERS
           for k, u in (("python_s", "s"), ("python_bytes", "B"))},
        **{f"{m}.{c}": u for m in CALL_SITE_MODULES for c, u in (("jobs", "count"), ("job_s", "s"))},
        **WORKLOAD_UNITS,
    })
    return units


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def top_calls(tracer, cycle) -> list:
    """(name, wall) of the calls a cycle made: its top-level spans."""
    lo, hi = cycle["spans"]
    return [(s.name, s.wall) for s in tracer.spans[lo + 1:hi] if s.parent == lo]


def per_layer(tracer, cycles, workload, units) -> dict:
    per_cycle = []
    for c in cycles:
        lo, hi = c["spans"]
        top = [s for s in tracer.spans[lo + 1:hi] if s.parent == lo]
        fig = dict.fromkeys(units, 0.0)
        fig["client.cycle.wall_s"] = c["wall"]
        fig["client.cycle.self_s"] = c["wall"] - sum(s.wall for s in top)
        n_lookups = 0
        for s in top:
            for k in SPAN_COUNTERS:
                fig[f"{s.name}.{k}"] += s.counters.get(k, 0.0)
            if s.name in PYTHON_LAYERS:
                for k in ("python_s", "python_bytes"):
                    fig[f"{s.name}.{k}"] += s.counters.get(k, 0.0)
            if s.name == "sources.manifest.lookup_join":
                n_lookups += 1
                fig["sources.manifest.lookup_join.files_read"] += s.counters.get("files_read", 0.0)
            if s.name == "plans.medallion.write_medallion":
                fig["plans.medallion.write_medallion.output_bytes"] += s.counters["output_bytes"]
                fig["plans.medallion.write_medallion.scan_amp"] += (
                    s.counters["input_records"] / workload.rows)
                for start, end, path in s.executions:
                    table = _LAKE_TABLE_RE.search(path)
                    if table and table.group(1) in WRITE_TABLES:
                        fig[f"plans.medallion.write_medallion.{table.group(1)}.wall_s"] += end - start
            for start, end, site in s.jobs:
                for m in CALL_SITE_MODULES:
                    if site.endswith("/" + m.replace(".", "/") + ".py"):
                        fig[f"{m}.jobs"] += 1
                        fig[f"{m}.job_s"] += end - start
        if n_lookups:
            fig["sources.manifest.lookup_join.files_read"] /= n_lookups
        per_cycle.append(fig)
    return {k: _median(f[k] for f in per_cycle) for k in units}
