"""Metric names, units and how each is computed from a workload result.

A workload's ``run`` returns a dict with:
  ops_ms     the operation times the latency figures are taken over
  suite_s    the time of one pass of its fixed work
  attempted, failed, problems
  detail     ungated figures for the detail line
  layer      per-layer metrics it measured (traced runs), by name
Every per-layer metric is reported on every workload; the ones a workload
does not exercise read 0.
"""

from __future__ import annotations

from backtest_workload import API_CALLS
from harness import geomean, percentile
from query_workload import ENTRY_FIELDS, TIMED, entry_metric

END_TO_END = {
    "setup_s": "s",
    "suite_s": "s",
}


def _per_layer_units() -> dict[str, str]:
    units = {
        "session.start_s": "s",
        "session.warmup_s": "s",
        "queries.build_s": "s",
        "queries.build_jobs": "count",
        "queries.exec_s": "s",
        "queries.jobs": "count",
        "queries.stages": "count",
        "queries.tasks": "count",
        "queries.truncated_entries": "count",
        "queries.sql_truncated_entries": "count",
        "engine.task_s": "s",
        "engine.gc_s": "s",
        "engine.shuffle_write_bytes": "B",
        "engine.shuffle_read_bytes": "B",
        "engine.spill_bytes": "B",
        "engine.peak_exec_mem_bytes": "B",
        "engine.python_worker_bytes": "B",
        "caching.release_s": "s",
        "tables.build_s": "s",
        "tables.build_jobs": "count",
        "tables.rows_written": "count",
        "tables.bytes_written": "B",
        "tables.files_written": "count",
    }
    for fn in API_CALLS:
        units[f"api.{fn}.calls"] = "count"
        units[f"api.{fn}.p50_ms"] = "ms"
        units[f"api.{fn}.p90_ms"] = "ms"
        units[f"api.{fn}.jobs"] = "count"
    units["api.point_cache_hit_frac"] = "frac"
    for name in TIMED:
        for field, unit in ENTRY_FIELDS.items():
            units[entry_metric(name, field)] = unit
    units["trace.overhead_s"] = "s"
    return units


PER_LAYER = _per_layer_units()
UNITS = {**END_TO_END, **PER_LAYER}


def end_to_end(result: dict, setup: dict) -> dict[str, float]:
    """Gated figures, in wall-clock time."""
    return {"setup_s": setup["setup_s"], "suite_s": result["suite_s"]}


def op_figures(result: dict) -> dict[str, float]:
    """Latency figures over the run's operations, for the details."""
    ops = result["ops_ms"]
    return {
        "op_p50_ms": percentile(ops, 50),
        "op_p90_ms": percentile(ops, 90),
        "op_geomean_ms": geomean(ops),
    }


def per_layer(result: dict, setup: dict, tracer) -> dict[str, float]:
    out = {name: 0.0 for name in PER_LAYER}
    out["session.start_s"] = setup["start_s"]
    out["session.warmup_s"] = setup["warmup_s"]
    unknown = set(result["layer"]) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"unregistered per-layer metrics: {sorted(unknown)}")
    out.update(result["layer"])
    out["trace.overhead_s"] = tracer.overhead_s
    return out


def check_declared(path: str) -> str | None:
    """The metrics BENCHMARK.json declares must be exactly the ones this
    code reports, with the same units."""
    import json

    with open(path) as fh:
        spec = json.load(fh)
    for key, ours in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in spec[key]}
        if declared != ours:
            diff = sorted(set(declared.items()) ^ set(ours.items()))
            return f"BENCHMARK.json {key} differs from perfbench/metrics.py: {diff}"
    return None
