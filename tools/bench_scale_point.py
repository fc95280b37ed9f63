"""Selective scale-point benchmark: run a fixed set of LINEAR-path
registry queries PLUS their production-backend twins at an arbitrary
replica directory and print one JSON line — the tool behind SCALE.md's
two-decade (sf0.1 → sf1.0 → sf10) scaling table.

bench.py runs the FULL registry and is the per-round artifact; at 100×
volume the documented quadratic oracle-exact baselines (exact cosine,
exact SemDeDup, all-pairs clustering) would dominate the wall-clock by
design, so this tool runs only the production-shaped families whose cost
the 100 TB story depends on. The subset is pinned below — extend it when
a new linear family lands. Entries are resolved, warmed up and measured
by bench.py's shared loop, so the twins are the same definitions
(tools/prod_variants.py) and the same methodology as the full bench.

Usage: python tools/bench_scale_point.py [--repeats N] SF_DIR [query ...]

``--repeats N`` runs every entry N times back-to-back and records the
MEDIAN, with min/max/runs kept in the artifact — single recordings at the
100x point carry ±30% session noise (SCALE.md).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import measure, resolve, warm_up
from simtradedata_spark.session import get_spark

# Linear production families, one representative per plan shape.
LINEAR_SET = [
    # relational core
    "pricing_summary",        # TPC-H Q1 map-side agg
    "region_revenue",         # broadcast-dim multi-join
    "supplier_moving_avg",    # keyed window
    "top_customers",          # global top-k (TakeOrdered)
    "dedup_lineitem_first",   # keyed window dedup
    "purchases_within_7d",    # decomposed range join
    "region_daily_ffill",     # calendar densify + ffill
    "hourly_event_stats",     # time-bucket agg
    # text / dedup stack (md5-certified forms)
    "minhash_near_dups",      # banded LSH self-join
    "simhash_signatures",     # packed bit-count agg
    "token_jaccard_pairs",    # inverted-index posting join
    "cross_doc_dup_coverage", # gram-keyed shuffles
    "exact_substr_trim",      # gram shuffles + rebuild
    "dup_gram_coverage",      # single-scan repetition
    "boilerplate_lines",      # line-frequency broadcast
    "bloom_decontam",         # fixed-size bitset
    "cms_token_frequency",    # bounded counter grid
    "dsir_selection",         # bucket LMs + broadcast ratio
    "bpe_token_counts",       # broadcast vocab join
    "sequence_packing",       # two-pass global cumsum
    "pipeline_funnel",        # composed flags, one pass
    "full_curation_funnel",   # the whole chain (all stages linear)
    # embeddings (bounded-candidate forms)
    "lsh_ann_top5",
    "ivf_ann_top5",
    "pq_ann_top5",
    "kmeans_clusters",
    # in-engine ML
    "logit_training",
]

# Production twins measured at every scale point alongside their
# md5-certified siblings (definitions shared with bench.py).
TWIN_SET = [
    "minhash_near_dups@xxh64",
    "simhash_signatures@xxh64",
    "incremental_dedup@xxh64",
    "char_contamination@xxh64",
    "cosine_near_dups@lsh",
    "embedding_dup_clusters@lsh",
    "dedup_clusters@xxh64",
    "hard_negatives@ivf",
    "semantic_dedup@gemm",
    "exact_substr_trim@xxh64",
    "cms_token_frequency@xxh64",
    "bloom_decontam@xxh64",
    "pq_ann_top5@ivfpq",
    "full_curation_funnel@xxh64",
]

# JIT/codegen warm-up runs OUTSIDE the timed subset: warming timed entries
# records warm-cache numbers for them while the rest run cold-ish.
WARM_SET = ["active_nations", "quality_classifier"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repeats", type=int, default=1)
    ap.add_argument("sf_dir")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    sf_dir, repeats = args.sf_dir, max(1, args.repeats)
    spark = get_spark("bench_scale_point", input_dir=sf_dir)
    try:
        entries = resolve(spark, sf_dir, args.names or LINEAR_SET + TWIN_SET)
    except ValueError as e:
        sys.exit(str(e))
    warm_up(spark, sf_dir, WARM_SET)

    timings, spread = {}, {}
    for name, thunk in entries.items():
        m = measure(spark, name, thunk, repeats)
        timings[name] = m["value"]
        if repeats > 1:
            spread[name] = {k: m[k] for k in ("min", "max", "runs", "errors")}
    out = {
        "metric": "scale_point",
        "sf_dir": sf_dir,
        "value": round(sum(t for t in timings.values() if t >= 0), 3),
        "unit": "sec",
        "repeats": repeats,
        "queries": timings,
    }
    if spread:
        out["spread"] = spread
    print(json.dumps(out))


if __name__ == "__main__":
    main()
