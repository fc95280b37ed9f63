"""Top-k operators (SURVEY §2.8; declared surface ``get_sort_msg``,
``docs/PTrade_API_mini_Reference.md:2320,6253`` — "top 20 by factor").

Global top-k uses ``orderBy().limit(k)`` which Spark executes as TakeOrdered —
each partition keeps a k-heap, the driver merges k·p rows: no full sort, no
single-node shuffle, safe at any scale. Per-group top-k is a rank window
(one shuffle on the group key). Always pass a deterministic tie-break.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from simtradedata_spark.functions.caching import scratch_persist
from simtradedata_spark.functions.lits import fast_lit
from pyspark.sql.window import Window


def top_k(df: DataFrame, k: int, *order: Column) -> DataFrame:
    return df.orderBy(*order).limit(k)


def top_k_per_group(
    df: DataFrame, group: list[str], k: int, *order: Column, rank_col: str = "rk"
) -> DataFrame:
    w = Window.partitionBy(*group).orderBy(*order)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def _bucketed_rank(
    df: DataFrame, key_cols: list[str], rank_col: str, num_buckets: int, seed: int
) -> tuple[DataFrame, int]:
    """Shared core of global_rank/global_ntile: (df + exact global rank, N).

    ``Window.orderBy(...)`` with no partition funnels every row through ONE
    task (Spark's "No Partition Defined" warning) — fine for dimension-sized
    input, fatal at 100 TB. The scalable dual is the classic two-pass scheme:

      1. pick split points of the key space from a seeded sample (driver-side,
         bounded — the same idea as Spark's own RangePartitioner, but with
         explicit literal boundaries so every pass sees identical buckets);
      2. count rows per bucket exactly (one shuffle-free aggregate), prefix-sum
         the tiny per-bucket counts on the driver;
      3. rank = row_number within bucket (hash shuffle on bucket id, each
         bucket sorted in parallel) + its bucket's offset.

    Keys must be ascending and total (include a unique tie-breaker); callers
    with a descending numeric key pass its negation. Sample-skewed split
    points cost balance, never correctness — counts are exact per bucket.

    BUILD-TIME EXECUTION: the split-point sample and the exact bucket
    counts are collected EAGERLY here and baked into the plan as literals
    — the returned frame is a snapshot-consistent rank over the data as
    of this call (see the multi_ntile note).
    """
    from pyspark import StorageLevel

    # SCRATCH persist (released between queries by release_scratch): the
    # split-point sample, the exact bucket counts and the final ranked
    # consumer are THREE actions over `df` — unpersisted, the caller's
    # upstream pipeline (DSIR scoring in the curation chain, the unigram-LM
    # scorer in curriculum_buckets) runs three times. Serialized level: the
    # frame is corpus-sized (the barrier discipline from pipeline.py).
    df = scratch_persist(df, StorageLevel.MEMORY_AND_DISK)
    key = F.struct(*[F.col(c) for c in key_cols])
    # Deterministic bounded sample: hash-order + limit executes as
    # TakeOrdered (per-partition heap, driver merge) — no full sort, no
    # dependence on row count, identical across reruns.
    sample = (
        df.select(*key_cols)
        .orderBy(F.xxhash64(F.lit(seed), *key_cols))
        .limit(num_buckets * 20)
    )
    rows = sorted(tuple(r) for r in sample.collect())
    if not rows:
        return df.withColumn(rank_col, F.lit(None).cast("long")), 0
    step = max(1, len(rows) // num_buckets)
    bounds = sorted({rows[i] for i in range(step, len(rows), step)})[: num_buckets - 1]
    fields = [df.schema[c] for c in key_cols]
    bucket = F.lit(0)
    for b in bounds:
        blit = F.struct(
            *[
                F.lit(v).cast(f.dataType).alias(f.name)
                for f, v in zip(fields, b)
            ]
        )
        bucket = bucket + (key >= blit).cast("int")
    bucketed = df.withColumn("_bkt", bucket)
    # Exact per-bucket counts as ONE single-row conditional aggregate: a
    # scan-local partial agg collapses to one row per task and the final
    # merge is bounded by the bucket count — no explode, no groupBy
    # shuffle, no per-group collect (the groupBy form paid a corpus-keyed
    # exchange plus AQE stages for a <=num_buckets-row result; measured
    # ~1.4 s -> ~0.3 s on the rfm fused-count sibling at sf0.1).
    n_bkts = len(bounds) + 1
    cnt_row = bucketed.selectExpr(
        *[f"SUM(CAST((_bkt = {b}) AS BIGINT)) AS c{b}" for b in range(n_bkts)]
    ).collect()[0]
    counts = {b: (cnt_row[b] or 0) for b in range(n_bkts)}
    offsets, acc = [], 0
    for b in range(n_bkts):
        offsets.append(acc)
        acc += counts[b]
    # offsets as ONE array literal indexed by bucket (element_at is
    # 1-based) instead of a num_buckets-deep CASE WHEN chain — one py4j
    # call, O(1) eval per row; same integer offsets, so ranks are
    # unchanged.
    off_expr = F.element_at(fast_lit(offsets), F.col("_bkt") + 1)
    w = Window.partitionBy("_bkt").orderBy(*key_cols)
    ranked = bucketed.withColumn(
        rank_col, (F.row_number().over(w) + off_expr).cast("long")
    ).drop("_bkt")
    return ranked, acc


def global_rank(
    df: DataFrame,
    key_cols: list[str],
    rank_col: str = "rank",
    num_buckets: int = 32,
    seed: int = 7,
) -> DataFrame:
    """Exact global row_number over an ascending composite key without a
    single-partition window — see _bucketed_rank for the plan shape."""
    ranked, _ = _bucketed_rank(df, key_cols, rank_col, num_buckets, seed)
    return ranked


def multi_ntile(
    df: DataFrame,
    n: int,
    specs: dict[str, tuple[Column, list[str]]],
    num_buckets: int = 32,
) -> DataFrame:
    """Exact NTILE(n) over SEVERAL independent orderings in TWO passes.

    ``global_ntile`` chained k times costs 2k driver jobs (boundary sample +
    bucket counts each). This computes every tile with exactly TWO extra
    jobs over the persisted base: a multi-column ``approxQuantile`` for the
    split points, then ONE fused aggregation that counts every spec's
    buckets together (explode of k tiny (spec, bucket) structs — ≤
    k·num_buckets groups, driver-bounded at any scale). Offsets and totals
    become LITERAL expressions, so the final plan is just the k rank
    windows — no per-spec count scan, no broadcast offset joins (the
    previous shape materialized one corpus aggregation + broadcast
    exchange per spec; measured 19 jobs → 8 on rfm_segments at sf0.1).

    ``specs`` maps output column → (numeric_proxy_expr, order_cols). The
    proxy must be a non-null numeric column monotone in ``order_cols[0]``
    (used only to pick split points — skewed splits cost balance, never
    correctness: ranks are row_numbers within bucket plus EXACT per-bucket
    offsets, tie-broken by the trailing order_cols). NTILE semantics match
    SQL exactly: first N mod n tiles get ceil(N/n) rows.

    BUILD-TIME EXECUTION / SNAPSHOT CONSISTENCY: the approxQuantile and
    the fused bucket-count collect run EAGERLY when this function is
    called, and the counts/offsets are baked into the returned plan as
    literals. The result is correct for the source data as of build time;
    if the underlying table changes and the frame is re-evaluated, the
    literal offsets silently desynchronize — rebuild the frame instead of
    re-running a stale one (same contract as ``_bucketed_rank``).
    """
    proxy_cols = {c: f"__proxy_{c}" for c in specs}
    work = df
    for c, (proxy, _) in specs.items():
        work = work.withColumn(proxy_cols[c], proxy.cast("double"))
    work = scratch_persist(work)
    qs = work.approxQuantile(
        list(proxy_cols.values()),
        [i / num_buckets for i in range(1, num_buckets)],
        0.001,
    )
    # All bucket columns are assigned on the persisted base FIRST, and the
    # fused count aggregates that same base — if counts hung off the
    # growing join/window chain instead, the count job would re-run
    # every tile's window (measured 1.5× slower in the per-spec shape).
    # The per-spec bucket expression is rendered as ONE SQL string (repr
    # doubles round-trip bit-exact through the parser, the lits.py
    # precedent) instead of ~num_buckets chained Column ops — same
    # expression tree, ~1 py4j call instead of ~3·num_buckets.
    n_bkts: dict[str, int] = {}
    for (c, (_, _)), bounds in zip(specs.items(), qs):
        # a non-finite bound (±inf proxy values) has no SQL literal; dropping
        # it merges two adjacent buckets, which keeps tiles exact — they come
        # from the global rank, the buckets only balance the work
        uniq = sorted({b for b in bounds if math.isfinite(b)})
        n_bkts[c] = len(uniq) + 1
        terms = " + ".join(
            f"CAST(({proxy_cols[c]} > {b!r}D) AS INT)" for b in uniq
        )
        work = work.withColumn(f"__bkt_{c}", F.expr(terms or "0"))
    # ONE exact count job for every spec's buckets, as a single-row
    # conditional aggregate: the scan-local partial agg collapses each
    # task to one row and the merge is bounded by k·num_buckets — no
    # explode of (spec, bucket) structs, no groupBy shuffle (the exploded
    # form paid a corpus-sized explode plus an exchange for a driver-
    # bounded result; measured ~1.4 s -> ~0.3 s on rfm_segments at sf0.1).
    cnt_row = work.selectExpr(
        *[
            f"SUM(CAST((__bkt_{c} = {b}) AS BIGINT)) AS __c_{i}_{b}"
            for i, c in enumerate(specs)
            for b in range(n_bkts[c])
        ]
    ).collect()[0]
    counts: dict[str, list[int]] = {}
    pos = 0
    for c in specs:
        counts[c] = [cnt_row[pos + b] or 0 for b in range(n_bkts[c])]
        pos += n_bkts[c]
    out = work
    for c, (_, order_cols) in specs.items():
        bkt = f"__bkt_{c}"
        per = counts[c]
        total = sum(per)
        offsets, acc = [], 0
        for b in range(n_bkts[c]):
            offsets.append(acc)
            acc += per[b]
        # offsets as one array literal indexed by bucket — O(1) eval per
        # row vs a num_buckets-deep CASE chain; identical integer offsets.
        off_expr = F.element_at(fast_lit(offsets), F.col(bkt) + 1)
        w = Window.partitionBy(bkt).orderBy(*order_cols)
        rank = (F.row_number().over(w) + off_expr).cast("long")
        qf, rem = divmod(total, n)
        big = qf + 1
        boundary = rem * big
        tile = (
            F.when(rank <= boundary, F.floor((rank - 1) / big) + 1)
            .otherwise(
                rem + F.floor((rank - 1 - boundary) / max(qf, 1)) + 1
            )
            .cast("int")
        )
        out = out.withColumn(c, tile).drop(bkt)
    return out.drop(*proxy_cols.values())


def global_ntile(
    df: DataFrame,
    n: int,
    key_cols: list[str],
    ntile_col: str = "ntile",
    num_buckets: int = 32,
    seed: int = 7,
) -> DataFrame:
    """Exact NTILE(n) over an ascending composite key, distributed.

    Reproduces SQL NTILE semantics exactly: with N rows, the first N mod n
    tiles hold ceil(N/n) rows, the rest floor(N/n) — derived from the global
    rank of _bucketed_rank, so no stage sees more than one bucket of data.
    """
    ranked, total = _bucketed_rank(df, key_cols, "_grank", num_buckets, seed)
    if total == 0:
        return ranked.withColumnRenamed("_grank", ntile_col)
    q, rem = divmod(total, n)
    big = q + 1
    boundary = rem * big
    r = F.col("_grank")
    tile = (
        F.when(r <= boundary, F.floor((r - 1) / big) + 1)
        .otherwise(rem + F.floor((r - 1 - boundary) / max(q, 1)) + 1)
        .cast("int")
    )
    return ranked.withColumn(ntile_col, tile).drop("_grank")
