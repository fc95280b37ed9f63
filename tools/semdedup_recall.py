"""SemDeDup recall/cost sweep: semantic_dedup_gemm vs the exact all-pairs
set, across cell counts.

The production SemDeDup (clustering.semantic_dedup_gemm) trades recall for
cell-bounded pair work; this records the trade as numbers, the way
tools/ann_recall.py does for the ANN family:

  - pair recall: fraction of exact cosine>=t pairs whose BOTH endpoints
    land in the same cell (and so get emitted);
  - id recall:   fraction of exact-pair ENDPOINTS that end up grouped
    (what retention actually consumes);
  - precision is 1.0 by construction (within-cell pairs are scored
    exactly) — asserted, not reported.

Usage: python tools/semdedup_recall.py [SF_DIR] [THRESHOLD]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import release
from simtradedata_spark.catalog import load_table
from simtradedata_spark.operators.clustering import semantic_dedup_gemm
from simtradedata_spark.operators.dedup import cosine_near_dups, grouped_cosine_pairs
from simtradedata_spark.operators.similarity import _cell_udf, _train_centroids
from simtradedata_spark.session import get_spark

from pyspark.sql import functions as F


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    thr = float(sys.argv[2]) if len(sys.argv) > 2 else 0.45
    spark = get_spark("semdedup-recall")
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()

    exact = {
        frozenset((r["id_a"], r["id_b"]))
        for r in cosine_near_dups(
            # exact all-pairs baseline — see ann_recall.py
            emb, threshold=thr, bits=0, exact=True,
        ).collect()
    }
    exact_ids = set().union(*exact) if exact else set()
    print(f"corpus n={n} exact_pairs={len(exact)} exact_ids={len(exact_ids)}")
    print("| n_cells | rows/cell | pair recall | id recall | sec |")
    print("|---|---|---|---|---|")
    for n_cells in (4, 8, 16, 32, 64):
        if n_cells > n // 2:
            continue
        t0 = time.time()
        cent = _train_centroids(emb, "embedding", n_cells, seed=11, max_iter=5)
        bucketed = emb.select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("v")
        ).withColumn("__bucket", _cell_udf(emb, cent)(F.col("v")))
        pairs = {
            frozenset((r["id_a"], r["id_b"]))
            for r in grouped_cosine_pairs(bucketed, thr).collect()
        }
        got = semantic_dedup_gemm(emb, n_cells=n_cells, threshold=thr)
        got_ids = {r["vec_id"] for r in got.collect()}
        dt = time.time() - t0
        assert pairs <= exact, "blocking invented a pair"
        assert got_ids <= exact_ids, "grouped an id with no true pair"
        pr = len(pairs) / len(exact) if exact else 1.0
        ir = len(got_ids) / len(exact_ids) if exact_ids else 1.0
        print(
            f"| {n_cells} | {n // n_cells} | {pr:.3f} | {ir:.3f} | {dt:.1f} |"
        )
        release(spark)

    # The sweep above is the WORST case: this corpus's top pairwise cosine
    # is ~0.51, so every "near dup" at t=0.45 sits right at the decision
    # boundary where cell blocking is weakest. Real semantic duplicates
    # (cosine >= 0.9) quantize together almost surely — demonstrate by
    # planting 50 near-identical copies (cosine ~0.995 to their source)
    # and measuring recall at t=0.9.
    import numpy as np

    rng = np.random.default_rng(3)
    src = emb.orderBy("vec_id").limit(50).collect()
    planted = [
        (
            int(1_000_000 + i),
            [
                float(x) + float(rng.normal(0, 0.01))
                for x in r["embedding"]
            ],
        )
        for i, r in enumerate(src)
    ]
    extra = spark.createDataFrame(
        planted, "vec_id long, embedding array<double>"
    )
    base = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    corpus2 = base.unionByName(extra)
    want = {(r["vec_id"], int(1_000_000 + i)) for i, r in enumerate(src)}
    got = semantic_dedup_gemm(corpus2, n_cells=16, threshold=0.9)
    groups: dict[int, int] = {r["vec_id"]: r["group_id"] for r in got.collect()}
    hit = sum(
        1 for a, b in want if groups.get(a) is not None and groups.get(a) == groups.get(b)
    )
    print(
        f"planted near-identical dups (cos~0.995, t=0.9, n_cells=16): "
        f"recall {hit}/{len(want)} = {hit / len(want):.3f}"
    )


if __name__ == "__main__":
    main()
