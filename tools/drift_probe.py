"""Intra-session drift probe — the r9 verdict item-1 instrument.

At the 1000x point (sf100 replica) back-to-back repeats of the heavy twins
degraded up to 2x within one session (bloom_decontam@xxh64 run-1 125 s →
run-2 252 s) even with scratch release + GC, making the recorded medians
session-accumulation artifacts. Suspects were named but unconfirmed:
broadcast block accumulation (the r9 bloom shape held k ~0.7 GB
HashedRelations per probe) vs old-gen fragmentation.

This tool runs named queries/twins N times back-to-back in ONE session
through bench.py's shared loop and records, AFTER each run (post scratch
release + GC nudge, i.e. the state the NEXT run inherits):

  - wall seconds
  - JVM heap used (Runtime total-free) and per-pool usage (old gen,
    humongous-feeding G1 regions) via ManagementFactory
  - Spark local-dir disk bytes (blockmgr + spill dirs)
  - persistent RDDs left after the release (scratch-release
    effectiveness)
  - memoryStore/diskStore bytes via BlockManager (package-private in
    Scala, public in bytecode — py4j reaches it; best-effort)

Usage: python tools/drift_probe.py SF_DIR NAME [NAME ...] [--runs N]

Prints one JSON line per (name, run) plus a summary line. Compare run-1
vs run-N pool/disk numbers to attribute drift: heap-resident growth →
block/broadcast accumulation; flat heap + growing wall → JIT/GC or host.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import resolve, run_once
from simtradedata_spark.session import get_spark


def jvm_stats(spark) -> dict:
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    stats = {
        "heap_used_mb": round(
            (rt.totalMemory() - rt.freeMemory()) / (1 << 20), 1
        ),
        "heap_total_mb": round(rt.totalMemory() / (1 << 20), 1),
    }
    try:
        beans = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        for i in range(beans.size()):
            b = beans.get(i)
            name = b.getName()
            if "Old" in name or "Eden" in name or "Survivor" in name:
                u = b.getUsage()
                stats[
                    name.lower().replace(" ", "_") + "_used_mb"
                ] = round(u.getUsed() / (1 << 20), 1)
    except Exception as e:  # instrumentation must never kill the run
        stats["pools_error"] = str(e)
    try:
        bm = jvm.org.apache.spark.SparkEnv.get().blockManager()
        stats["memory_store_mb"] = round(
            bm.memoryStore().blocksMemoryUsed() / (1 << 20), 1
        )
    except Exception as e:
        stats["memory_store_error"] = str(e)
    return stats


def local_dir_bytes(spark) -> int:
    """Bytes under the Spark local dirs (blockmgr + spills)."""
    total = 0
    try:
        jvm = spark.sparkContext._jvm
        dbm = (
            jvm.org.apache.spark.SparkEnv.get()
            .blockManager()
            .diskBlockManager()
        )
        dirs = [str(d.getAbsolutePath()) for d in dbm.localDirs()]
    except Exception:
        import glob

        dirs = glob.glob("/tmp/blockmgr-*")
    for d in dirs:
        for root, _dirs, files in os.walk(d):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    return total


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    spark = get_spark("drift_probe", input_dir=args.sf_dir)
    try:
        entries = resolve(spark, args.sf_dir, args.names)
    except ValueError as e:
        sys.exit(str(e))
    records = []
    for name, thunk in entries.items():
        for run in range(1, args.runs + 1):
            rec = {"name": name, "run": run}
            try:
                rec["wall_s"] = round(run_once(spark, thunk), 3)
            except Exception as e:
                rec["wall_s"], rec["error"] = -1.0, str(e)[:300]
            time.sleep(1)  # let the ContextCleaner drain
            rec["persistent_rdds"] = (
                spark.sparkContext._jsc.getPersistentRDDs().size()
            )
            rec["local_dir_mb"] = round(local_dir_bytes(spark) / (1 << 20), 1)
            rec.update(jvm_stats(spark))
            records.append(rec)
            print(json.dumps(rec), flush=True)
    by_name: dict[str, list] = {}
    for r in records:
        by_name.setdefault(r["name"], []).append(r["wall_s"])
    print(
        json.dumps(
            {
                "metric": "drift_probe",
                "sf_dir": args.sf_dir,
                "runs": args.runs,
                "heap": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
                "walls": by_name,
                "spread_ratio": {
                    n: round(max(w) / min(w), 3) if min(w) > 0 else None
                    for n, w in by_name.items()
                },
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
