"""Measure the SESSION-AGE tax: how much slower a fixed probe query runs
after N other queries have aged the driver JVM (listener stores, codegen
cache, heap fragmentation) vs on a fresh session.

Usage: python tools/session_age_probe.py [n_prime] [conf_k=v ...]

Warms up and times the probe queries with bench.py's shared loop, then
executes the first ``n_prime`` registry queries (canonical order), then
re-times the probes. Prints fresh/aged medians plus driver heap and
GC-time deltas so retention-conf A/Bs have a sensitive, bounded-cost
signal (a full bench is 7 min and ±2x noisy; this is ~3 min and isolates
the aging mechanism).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import measure, resolve, warm_up
from simtradedata_spark.catalog import DEFAULT_SF_DIR
from simtradedata_spark.queries import QUERIES
from simtradedata_spark.session import get_spark

PROBES = ["dedup_clusters", "cluster_representatives", "minute_bars_fold"]


def _jvm_stats(spark) -> dict:
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    heap = mf.getMemoryMXBean().getHeapMemoryUsage()
    gc_ms = sum(
        b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()
    )
    return {"heap_used_mb": heap.getUsed() // (1024 * 1024), "gc_ms": gc_ms}


def main() -> None:
    args = sys.argv[1:]
    n_prime = int(args[0]) if args and "=" not in args[0] else 80
    extra = dict(a.split("=", 1) for a in args if "=" in a)
    sf_dir = DEFAULT_SF_DIR
    spark = get_spark("session_age_probe", input_dir=sf_dir, extra_conf=extra)
    primed = [n for n in sorted(QUERIES) if n not in PROBES][:n_prime]
    entries = resolve(spark, sf_dir, PROBES + primed)
    warm_up(spark, sf_dir)

    fresh = {p: measure(spark, p, entries[p], 2) for p in PROBES}
    s0 = _jvm_stats(spark)
    t_prime0 = time.time()
    for name in primed:
        measure(spark, name, entries[name])
    t_prime = time.time() - t_prime0
    s1 = _jvm_stats(spark)
    aged = {p: measure(spark, p, entries[p], 2) for p in PROBES}

    print(f"primed {len(primed)} queries in {t_prime:.1f}s  conf={extra}")
    print(
        f"heap {s0['heap_used_mb']} -> {s1['heap_used_mb']} MB, "
        f"gc {s0['gc_ms']} -> {s1['gc_ms']} ms (+{s1['gc_ms']-s0['gc_ms']})"
    )
    for p in PROBES:
        f, a = fresh[p]["value"], aged[p]["value"]
        print(
            f"{p:28s} fresh={f:6.2f}  aged={a:6.2f}  ratio={a/f:5.2f}  "
            f"runs fresh={fresh[p]['runs']} aged={aged[p]['runs']}"
        )


if __name__ == "__main__":
    main()
