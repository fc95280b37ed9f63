"""The registry the query workload draws from: every ``QUERIES`` entry and
every production variant of ``tools/prod_variants.py``, each recorded in
``entries.json`` with its class and its expected row count on the
benchmark's tables.

Classes: ``curation`` holds every entry that reads ``documents`` or
``embeddings`` plus every ``@`` production variant; ``analytics`` holds
the rest (TPC-H shapes, events, synthetic-market and PTrade batch
queries). ``check_partition`` makes a newly registered entry fail the run
until it is recorded here with its class and row count. Recording it does
not time it: only the entries in ``query_workload.TIMED`` are timed.
Regenerate the file with ``python3 perfbench/classify.py``.
"""

from __future__ import annotations

import json
import os
from typing import Callable

from harness import DATA_DIR

ENTRIES_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "entries.json")
CLASSES = ("analytics", "curation")


def registry(spark) -> dict[str, Callable]:
    """name -> thunk building the entry's DataFrame on the benchmark tables."""
    from simtradedata_spark.queries import QUERIES
    from tools.prod_variants import prod_variants

    out = {n: (lambda f=f: f(spark, DATA_DIR)) for n, (f, _sql) in QUERIES.items()}
    out.update(prod_variants(spark, DATA_DIR))
    return out


def load_entries() -> dict[str, dict]:
    with open(ENTRIES_PATH) as fh:
        return json.load(fh)


def check_partition(names: set[str], entries: dict[str, dict]) -> list[str]:
    """Problems that stop the recorded classes from partitioning the
    registry: unrecorded entries, stale records, unknown classes."""
    problems = [f"unrecorded entry {n!r}" for n in sorted(names - set(entries))]
    problems += [f"stale entry {n!r}" for n in sorted(set(entries) - names)]
    problems += [
        f"entry {n!r} has class {e.get('class')!r}"
        for n, e in sorted(entries.items())
        if e.get("class") not in CLASSES
    ]
    return problems


def execute(df) -> int:
    """Run the entry's plan through the noop sink (the whole plan executes,
    nothing is collected) and return its row count. The count rides on
    the action through ``observe``, so the check adds no Spark job."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
        "overwrite"
    ).save()
    return int(obs.get["rows"])


def release(spark) -> None:
    """Free the entry's scratch caches and nudge the JVM's ContextCleaner,
    as ``bench.py`` does between entries."""
    from simtradedata_spark.functions.caching import release_scratch

    release_scratch(spark)
    spark.sparkContext._jvm.System.gc()
