"""Concurrent-query throughput: the multi-tenant axis bench.py doesn't see.

A shared cluster runs many queries at once; what matters is aggregate
throughput, not per-query latency. This runs a fixed 16-query mix twice —
serially, then from an 8-thread pool with the FAIR scheduler (each thread
its own pool, so no query starves behind a long job's stages) — and
reports the wall-time speedup. local[32] has the cores to overlap the
scheduling gaps that serialize a single-query run. Entries are resolved,
warmed up and executed with bench.py's shared steps; scratch is released
once per pass, not per query, since a session-wide release mid-pass would
free scratch that other threads' queries are still reading.

Usage: python tools/bench_concurrent.py [sf_dir]   → one JSON line
"""

from __future__ import annotations

import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import release, resolve, sink, warm_up
from simtradedata_spark.catalog import DEFAULT_SF_DIR
from simtradedata_spark.session import get_spark

MIX = [
    "pricing_summary", "region_revenue", "top_customers",
    "supplier_moving_avg", "doc_stats", "hash_sample_docs",
    "weekly_ohlc", "token_budget", "shipping_priority",
    "customer_order_distribution", "priority_lateness", "market_share",
    "latest_event_per_user", "sessionize_users", "quality_classifier",
    "filtered_revenue",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF_DIR
    spark = get_spark(
        "bench-concurrent",
        input_dir=sf_dir,
        extra_conf={"spark.scheduler.mode": "FAIR"},
    )
    entries = resolve(spark, sf_dir, MIX)
    warm_up(spark, sf_dir, MIX[:2])

    def run_one(name: str) -> None:
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", name)
        sink(entries[name]())

    t0 = time.time()
    for name in MIX:
        run_one(name)
    serial = time.time() - t0
    release(spark)

    t0 = time.time()
    with ThreadPoolExecutor(max_workers=8) as pool:
        list(pool.map(run_one, MIX))
    concurrent = time.time() - t0
    release(spark)

    print(
        json.dumps(
            {
                "metric": "concurrent_throughput",
                "n_queries": len(MIX),
                "serial_sec": round(serial, 2),
                "concurrent8_sec": round(concurrent, 2),
                "speedup": round(serial / concurrent, 2),
                "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
            }
        )
    )


if __name__ == "__main__":
    main()
