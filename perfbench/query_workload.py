"""The ``queries`` workload: registry entries run back to back in one
session, each built and then executed through the noop sink, with the
session's scratch released between entries (as ``bench.py`` runs them).

The registry is too large to run whole inside one benchmark run (about
230 s of entries at the benchmark's scale on 4 cores), so each run times
the fixed set ``TIMED``, drawn from both classes of ``entries.json`` so
that every operator module the two classes exercise is reached:
  - curation entries, mostly plan build with eager Spark jobs: connected
    components, semantic dedup, BPE merge learning, product-quantisation
    search, a Bloom-filter decontamination and the staged curation
    pipeline;
  - analytics entries where one query's plan build and per-job floor
    dominate, with almost no build-time jobs, so the side an
    iterative-operator change should leave unchanged: a trailing-rows
    window, the RFM ranking and a pandas-UDF indicator (Python workers).
Each run first warms up on ``WARMUP``, a few cheap entries outside
``TIMED`` that compile the engine paths the timed ones share (this counts
in ``setup_s``), then times passes over ``TIMED`` in alphabetical
order. A pass costs about 30 s on a quiet 4-vCPU host, and the run budget
holds one, so an entry's time is its first run after the warm-up, as
``bench.py`` times the registry; more passes (a larger ``--seconds``)
make each entry report the median of its samples.

The order is fixed, and the seed is not used, because an entry's first
run still pays for the code paths it is first to reach: bloom_decontam@xxh64
took 3.0-3.8 s when it came first or second in a seed-permuted order and
1.3-1.6 s when it came sixth or later, and bpe_merges 3.9 s when it came
first and 1.9-2.4 s otherwise. A fixed order makes every run pay the same.
The inputs are the fixed tables in ``data/``.
"""

from __future__ import annotations

import statistics
import time

from harness import ENGINE_KEYS, geomean
from registry import check_partition, execute, load_entries, registry, release

TIMED = (
    # curation; module in brackets
    "dedup_clusters",  # connected components (graph)
    "semantic_dedup",  # clustering
    "bpe_merges",  # bpe
    "pq_ann_top5@ivfpq",  # pq, similarity (IVF coarse search)
    "bloom_decontam@xxh64",  # sketches, production hash backend
    "pipeline_funnel",  # pipeline
    # analytics
    "trailing_3_per_supplier",  # windows
    "rfm_segments",  # topk
    "macd_indicators",  # indicators, pandas UDF
)
# --seconds sets the number of passes: one per PASS_S seconds, at least
# one.
PASS_S = 30
# Run before timing. Each compiles a code path many timed entries share,
# so that JIT compilation and its variance happen in set-up rather than
# in the first timed entry to reach the path: scan, join and aggregate;
# window functions; MinHash banding and n-gram hashing; the first Python
# worker of a pandas UDF. Without the last two, dedup_clusters and
# bloom_decontam@xxh64 each took about 2.5 s longer, and varied more from
# run to run, on a 4-vCPU host.
WARMUP = (
    "active_nations",
    "supplier_moving_avg",
    "minhash_near_dups",
    "quality_classifier",
)
# per-entry fields reported for each TIMED entry, '@' spelled '-' in the
# metric name
ENTRY_FIELDS = {"build_s": "s", "exec_s": "s", "build_jobs": "count"}


def entry_metric(name: str, field: str) -> str:
    return f"entry.{name.replace('@', '-')}.{field}"


def warm_up(spark, entries) -> None:
    for name in WARMUP:
        execute(entries[name]())
        release(spark)


def run(spark, seed: int, seconds: float, tracer, status, ready) -> dict:
    """Warm-up, then the timed passes; ``ready()`` marks the end of set-up,
    right before the first gated operation."""
    entries = registry(spark)
    recorded = load_entries()
    problems = check_partition(set(entries), recorded)
    order = sorted(TIMED)
    with tracer.span("warmup"):
        warm_up(spark, entries)
    ready()

    samples: dict[str, list[dict]] = {n: [] for n in order}
    failed = attempted = 0
    passes = max(1, round(seconds / PASS_S))
    for p in range(passes):
        with tracer.span("pass", n=p):
            for name in order:
                attempted += 1
                try:
                    sample, rows = run_one(spark, entries[name], name, tracer, status)
                except Exception as e:  # a failed entry counts; the rest still run
                    failed += 1
                    problems.append(f"{name} raised {e!r}")
                    release(spark)
                    continue
                if rows != recorded[name]["rows"]:
                    failed += 1
                    problems.append(
                        f"{name} returned {rows} rows, expected {recorded[name]['rows']}"
                    )
                samples[name].append(sample)
    out = summarize(samples, recorded, attempted, failed, problems)
    out["detail"]["passes"] = passes
    return out


def run_one(spark, thunk, name: str, tracer, status) -> tuple[dict, int]:
    """One entry: build, action, release, each in its span; with status,
    its build and action jobs in their own job groups."""
    groups = []
    with tracer.span("entry", entry=name):
        with tracer.span("build"):
            if status:
                groups.append(status.group(f"{name}:build"))
            t0 = time.perf_counter()
            df = thunk()
            t1 = time.perf_counter()
        with tracer.span("action"):
            if status:
                groups.append(status.group(f"{name}:action"))
            t2 = time.perf_counter()
            rows = execute(df)
            t3 = time.perf_counter()
        sample = {"build_s": t1 - t0, "exec_s": t3 - t2}
        if status:
            sample.update(status.collect(groups))
            sample["build_jobs"] = sample.pop("jobs_by_group")[groups[0]]
        with tracer.span("release"):
            t4 = time.perf_counter()
            release(spark)
            sample["release_s"] = time.perf_counter() - t4
    return sample, rows


def summarize(samples, recorded, attempted, failed, problems) -> dict:
    """Per-entry medians over an entry's samples, then the workload
    figures over entries. An entry whose status read was truncated in any
    sample is left out of the sums it would make partial and counted in
    ``queries.truncated_entries`` (jobs or stages evicted; its own
    ``build_jobs`` then reads -1) or ``queries.sql_truncated_entries``
    (SQL executions evicted: ``engine.python_worker_bytes``)."""
    flags = ("truncated", "sql_truncated")
    med = {
        n: {k: statistics.median(x[k] for x in xs) for k in xs[0] if k not in flags}
        for n, xs in samples.items()
        if xs
    }
    wall = {n: m["build_s"] + m["exec_s"] for n, m in med.items()}
    by_class = {}
    for n, w in wall.items():
        cls = recorded[n]["class"]
        by_class[f"{cls}_suite_s"] = by_class.get(f"{cls}_suite_s", 0.0) + w
    flagged = {
        f: {n for n, xs in samples.items() if any(x.get(f) for x in xs)} for f in flags
    }
    layer = {}
    if any("jobs" in m for m in med.values()):
        whole = [m for n, m in med.items() if n not in flagged["truncated"]]
        layer = {
            "queries.build_s": sum(m["build_s"] for m in med.values()),
            "queries.exec_s": sum(m["exec_s"] for m in med.values()),
            "caching.release_s": sum(m["release_s"] for m in med.values()),
            "queries.truncated_entries": len(flagged["truncated"]),
            "queries.sql_truncated_entries": len(flagged["sql_truncated"]),
        }
        for k in ("build_jobs", "jobs", "stages", "tasks"):
            layer[f"queries.{k}"] = sum(m[k] for m in whole)
        for k in ENGINE_KEYS:
            vals = [m[k] for m in whole]
            layer[f"engine.{k}"] = (
                max(vals, default=0.0) if k == "peak_exec_mem_bytes" else sum(vals)
            )
        layer["engine.python_worker_bytes"] = sum(
            m["python_worker_bytes"]
            for n, m in med.items()
            if n not in flagged["truncated"] | flagged["sql_truncated"]
        )
        for n, m in med.items():
            for field in ENTRY_FIELDS:
                layer[entry_metric(n, field)] = m[field]
            if n in flagged["truncated"]:
                layer[entry_metric(n, "build_jobs")] = -1
    return {
        "ops_ms": [w * 1e3 for w in wall.values()],
        "suite_s": sum(wall.values()),
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "detail": {
            "query_geomean_s": geomean(list(wall.values())) if wall else None,
            **by_class,
            "samples_per_entry": {n: len(xs) for n, xs in samples.items()},
            "entry_s": wall,
            **{f"{f}_entries": sorted(names) for f, names in flagged.items()},
        },
        "layer": layer,
    }
