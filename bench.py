"""Benchmark harness, and the one measurement loop every timing tool shares.

``python bench.py [--repeats N] [name ...]`` times the named entries
(default: every entry) at $SPARK_GRAFT_SF_DIR (default
``catalog.DEFAULT_SF_DIR``) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ..., "calibration": {...}}.

An entry is a registered query or a production twin (``base@backend``,
tools/prod_variants.py). Entries are fully executed via the noop sink
(whole plan runs, nothing is collected to the driver — measures engine
time, not toPandas serialization).

The measurement loop, shared by the tools under tools/: ``resolve`` maps
names to thunks, ``warm_up`` runs a fixed untimed list, ``run_once`` runs
one entry through the noop sink, and ``measure`` aggregates repeats.
Invariant: the timer stops before the scratch release, and the release
runs in ``finally``, so an entry that fails after persisting scratch
cannot leak it into the next one.

``--repeats N`` runs every entry N times back-to-back and records the
per-entry MEDIAN (plus a compact min/max spread) — use ≥3 when recording
the repo-root ``benchmarks_*.json`` artifacts so a single unlucky draw
can't become the authoritative number. Default 1, so a default run stays
one pass.

Every artifact also carries a ``calibration`` block: a fixed-work
pure-Python loop and a fixed tiny Spark job, timed on THIS host in THIS
session. Round-over-round comparisons divide by the calibration ratio
(tools/scale_report.py --normalize) so a slower host does not masquerade
as a code regression.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import statistics
import sys
import time
from typing import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession

from simtradedata_spark.catalog import DEFAULT_SF_DIR
from simtradedata_spark.functions.caching import release_scratch
from simtradedata_spark.queries import QUERIES
from simtradedata_spark.session import get_spark
from tools.prod_variants import prod_variants

Thunk = Callable[[], DataFrame]

# JIT tiering keeps inflating queries for the first ~30 s of a session, so
# warming one entry is not enough: warm the first three entries in
# canonical order plus one scan, window-function, Arrow-batch,
# tokenize/HOF/n-gram and md5-minhash-banding query, so each engine path is
# compiled before anything is timed (a cold first draw of the n-gram and
# banding families measured 2-3x their steady state).
WARM_NAMES = list(dict.fromkeys(
    n
    for n in sorted(QUERIES)[:3] + [
        "active_nations", "supplier_moving_avg", "quality_classifier",
        "dup_gram_coverage", "minhash_near_dups",
    ]
    if n in QUERIES
))


def calibration_probe(spark) -> dict[str, float]:
    """Fixed-work host-speed probe recorded into every bench artifact.

    python_sec: a pure-Python arithmetic/hash loop — pins the interpreter
    + core speed the per-query driver overhead rides on. spark_sec: one
    tiny deterministic Spark job (sum over range) — pins JVM/codegen/
    scheduler throughput. Both are median-of-3 so the probe itself isn't a
    noise source. Comparing two rounds' artifacts: divide the per-query
    ratio by (cal_b/cal_a) before calling anything a regression.
    """
    py_runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(5_000_000):
            acc += i * i % 7
        py_runs.append(time.perf_counter() - t0)
    spark_runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 50_000_000, 1, 32).selectExpr(
            "sum(id * id % 7) AS s"
        ).collect()
        spark_runs.append(time.perf_counter() - t0)
    return {
        "python_sec": round(statistics.median(py_runs), 4),
        "spark_sec": round(statistics.median(spark_runs), 4),
    }


def resolve(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, Thunk]:
    """Map entry names to thunks that build their DataFrames, in the order
    given. ``None`` means every entry in canonical order: the registry
    alphabetically, then the production twins. The order is fixed rather
    than the registry's (whose front is the rotating correctness window)
    because session position measurably moves sub-second entries.

    Raises ValueError on an unknown name; a name without ``@`` cannot be a
    twin, so it is rejected before the twins' tables are loaded."""
    if names is None:
        return {
            **resolve(spark, sf_dir, sorted(QUERIES)),
            **prod_variants(spark, sf_dir),
        }
    twins: dict[str, Thunk] = {}
    unknown = [n for n in names if n not in QUERIES and "@" not in n]
    if not unknown and any(n not in QUERIES for n in names):
        twins = prod_variants(spark, sf_dir)
        unknown = [n for n in names if n not in QUERIES and n not in twins]
    if unknown:
        raise ValueError(f"unknown entries: {unknown}")
    return {
        n: functools.partial(QUERIES[n][0], spark, sf_dir)
        if n in QUERIES
        else twins[n]
        for n in names
    }


def sink(df: DataFrame) -> None:
    """Execute the whole plan through the noop sink, collecting nothing."""
    df.write.format("noop").mode("overwrite").save()


def release(spark: SparkSession) -> None:
    """Free the session's scratch between entries and nudge the JVM GC.

    Operators persist/localCheckpoint intermediates (minhash signatures, CC
    edge lists, the RFM frame); left in storage memory they slow later
    entries by seconds. Session-lifetime memos (synthetic-market
    checkpoint, PTrade pinned tables) are protected and survive. The GC
    lets the ContextCleaner drop earlier entries' shuffle files and freed
    block references, which otherwise pile up until the session tail runs
    many times slower (purchases_within_7d 18.2 s at position 99 vs 0.75 s
    with the nudge; same-host sf0.1 totals 502 s without vs 376 s with)."""
    release_scratch(spark)
    spark.sparkContext._jvm.System.gc()


def run_once(spark: SparkSession, thunk: Thunk) -> float:
    """Build and execute one entry; return its wall seconds. The timer
    stops before ``release``, which runs even when the entry raises."""
    t0 = time.time()
    try:
        sink(thunk())
        return time.time() - t0
    finally:
        release(spark)


def warm_up(
    spark: SparkSession, sf_dir: str, names: list[str] = WARM_NAMES
) -> None:
    """Run each named entry once, untimed. A failure is reported on
    stderr, never raised: warm-up must not kill the run."""
    for name, thunk in resolve(spark, sf_dir, names).items():
        try:
            run_once(spark, thunk)
        except Exception as e:
            print(f"warm-up error in {name}: {e}", file=sys.stderr)


def measure(
    spark: SparkSession, name: str, thunk: Thunk, repeats: int = 1
) -> dict:
    """Run one entry ``repeats`` times back-to-back.

    Returns ``value``: the median of the successful runs, NEGATED when any
    run failed (-1.0 when every run failed), so a failure shows in the
    headline itself and stays out of >=0-filtered totals; ``errors``: the
    failed-run count; ``runs``/``min``/``max``: over the successful runs
    (min/max -1.0 when there are none)."""
    runs = []
    for _ in range(repeats):
        try:
            runs.append(round(run_once(spark, thunk), 3))
        except Exception as e:  # a failed entry must not hide the others
            print(f"bench error in {name}: {e}", file=sys.stderr)
    errors = repeats - len(runs)
    med = round(statistics.median(runs), 3) if runs else 1.0
    return {
        "value": -med if errors else med,
        "errors": errors,
        "runs": runs,
        "min": min(runs, default=-1.0),
        "max": max(runs, default=-1.0),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--repeats", type=int, default=1,
                    help="runs per entry; the median is recorded")
    ap.add_argument("names", nargs="*", help="entries to time (default: all)")
    args = ap.parse_args()
    if args.repeats < 1:
        ap.error("--repeats must be >= 1")
    sf_dir = DEFAULT_SF_DIR
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # input-size-derived initial shuffle partitions
    spark = get_spark("bench", input_dir=sf_dir)
    try:
        entries = resolve(spark, sf_dir, args.names or None)
    except ValueError as e:
        ap.error(str(e))
    warm_up(spark, sf_dir)
    calibration = calibration_probe(spark)

    timings: dict[str, float] = {}
    spread: dict[str, dict] = {}
    errors: dict[str, int] = {}
    for name, thunk in entries.items():
        m = measure(spark, name, thunk, args.repeats)
        timings[name] = m["value"]
        if m["errors"]:
            errors[name] = m["errors"]
        if args.repeats > 1:
            spread[name] = {k: m[k] for k in ("min", "max", "errors")}

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    # The @ entries re-run oracle-suite queries on production backends, so
    # a grand total double-counts those families; oracle_suite_sec is the
    # round-over-round comparable number.
    oracle_total = round(
        sum(t for n, t in timings.items() if t >= 0 and "@" not in n), 3
    )
    out = {
        "metric": "total_runtime_all_queries",
        "value": total,
        "unit": "sec",
        "oracle_suite_sec": oracle_total,
        "production_variants_sec": round(total - oracle_total, 3),
        "queries": timings,
        "sf": sf,
        "repeats": args.repeats,
        "calibration": calibration,
    }
    if errors:
        out["errors"] = errors
    if spread:
        out["spread"] = spread
    print(json.dumps(out))


if __name__ == "__main__":
    main()
