"""Regenerate ``entries.json``: run every registry entry once on the
benchmark tables, record which tables it reads (hence its class) and its
row count.

    python3 perfbench/classify.py

Run from the repository root; takes a few minutes on 4 cores. Review the
diff of ``entries.json``: a changed row count is a changed query result.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.getcwd())

from harness import prepare_env, start_session, stop_session  # noqa: E402
from registry import ENTRIES_PATH, execute, registry, release  # noqa: E402

CURATION_TABLES = ("documents", "embeddings")


def main() -> None:
    prepare_env()
    from pyspark.sql.readwriter import DataFrameReader

    from simtradedata_spark import catalog

    read = DataFrameReader.parquet
    loaded: set[str] = set()

    def traced_parquet(self, *paths, **kw):
        loaded.update(os.path.basename(p).removesuffix(".parquet") for p in paths)
        return read(self, *paths, **kw)

    DataFrameReader.parquet = traced_parquet
    spark = start_session()
    try:
        out = {}
        for name, thunk in sorted(registry(spark).items()):
            # forget memoized table reads so each entry's own reads show
            catalog._TABLE_MEMO.clear()
            loaded.clear()
            rows = execute(thunk())
            curation = "@" in name or any(t in loaded for t in CURATION_TABLES)
            out[name] = {"class": "curation" if curation else "analytics", "rows": rows}
            release(spark)
            print(name, out[name], flush=True)
    finally:
        stop_session(spark)
    with open(ENTRIES_PATH, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    n_cur = sum(e["class"] == "curation" for e in out.values())
    print(f"{len(out)} entries: {len(out) - n_cur} analytics, {n_cur} curation")


if __name__ == "__main__":
    main()
