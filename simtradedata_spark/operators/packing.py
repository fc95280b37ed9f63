"""Sequence packing — the batch-assembly step of an LLM training pipeline:
concatenate documents in a deterministic order into fixed-token-budget
training sequences (greedy, order-preserving), and report per-bin fill.

The core primitive is an exact GLOBAL cumulative sum over a total order —
the operation Spark's own ``Window.orderBy`` without a partition does on
ONE task. Here it is the classic two-pass scheme (same shape as
``topk._bucketed_rank``): range-bucket by sampled split points, cumsum
within buckets in parallel, prefix-sum the tiny per-bucket totals on the
driver, add the offsets back as literals. No stage ever sees more than one
bucket of rows; the driver holds ``num_buckets`` longs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def global_cumsum(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    out_col: str = "cumsum",
    num_buckets: int = 32,
    seed: int = 7,
) -> DataFrame:
    """df + exact running sum of ``value_col`` over ascending ``key_cols``
    (inclusive of the current row), without a single-partition window.
    Keys must be total (include a unique tie-breaker)."""
    from pyspark import StorageLevel

    from simtradedata_spark.functions.caching import scratch_persist
    from simtradedata_spark.functions.lits import fast_lit, ident

    # SCRATCH persist: the split-point sample, the per-bucket totals and
    # the final cumsum consumer are THREE actions over `df` — unpersisted,
    # the caller's upstream pipeline runs three times (the same reasoning
    # as topk._bucketed_rank).
    df = scratch_persist(df, StorageLevel.MEMORY_AND_DISK)
    key = F.struct(*[F.col(c) for c in key_cols])
    sample = (
        df.select(*key_cols)
        .orderBy(F.xxhash64(F.lit(seed), *key_cols))
        .limit(num_buckets * 20)
    )
    rows = sorted(tuple(r) for r in sample.collect())
    if not rows:
        return df.withColumn(out_col, F.col(value_col).cast("long"))
    step = max(1, len(rows) // num_buckets)
    bounds = sorted({rows[i] for i in range(step, len(rows), step)})[: num_buckets - 1]
    fields = [df.schema[c] for c in key_cols]
    bucket = F.lit(0)
    for b in bounds:
        blit = F.struct(
            *[F.lit(v).cast(f.dataType).alias(f.name) for f, v in zip(fields, b)]
        )
        bucket = bucket + (key >= blit).cast("int")
    bucketed = df.withColumn("_bkt", bucket)
    # Per-bucket totals as ONE single-row conditional aggregate — the
    # scan-local partial agg collapses each task to a single row, no
    # bucket-keyed exchange (same rewrite as topk._bucketed_rank).
    n_bkts = len(bounds) + 1
    tot_row = bucketed.selectExpr(
        *[
            f"SUM(CASE WHEN _bkt = {b} THEN {ident(value_col)} END) AS t{b}"
            for b in range(n_bkts)
        ]
    ).collect()[0]
    offsets, acc = [], 0
    for b in range(n_bkts):
        offsets.append(acc)
        acc += tot_row[b] or 0
    # offsets as one array literal indexed by bucket — O(1) eval per row,
    # one py4j call; identical integer offsets.
    off_expr = F.element_at(fast_lit(offsets), F.col("_bkt") + 1)
    w = (
        Window.partitionBy("_bkt")
        .orderBy(*key_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        bucketed.withColumn(
            out_col, (F.sum(F.col(value_col)).over(w) + off_expr).cast("long")
        ).drop("_bkt")
    )


def pack_sequences(
    df: DataFrame,
    key_cols: list[str],
    token_col: str,
    seq_len: int = 4096,
    bin_col: str = "bin_id",
    num_buckets: int = 32,
) -> DataFrame:
    """Assign each document to a training-sequence bin: documents are laid
    out in ``key_cols`` order and a document belongs to the bin its FIRST
    token lands in (greedy concatenation with documents allowed to span a
    boundary — the packing large-corpus pipelines use, since per-bin
    best-fit requires a serial pass by definition)."""
    cum = global_cumsum(df, key_cols, token_col, out_col="_cum", num_buckets=num_buckets)
    return cum.withColumn(
        bin_col,
        F.floor((F.col("_cum") - F.col(token_col)) / F.lit(seq_len)).cast("long"),
    ).drop("_cum")
