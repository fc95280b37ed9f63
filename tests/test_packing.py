"""Sequence packing / global cumsum — exactness vs the serial window, and
the no-single-partition plan guarantee."""

import pyspark.sql.functions as F
from pyspark.sql.window import Window

from simtradedata_spark.operators.packing import global_cumsum, pack_sequences


def test_global_cumsum_matches_serial_window(spark):
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 37 + 1).alias("v")
    )
    serial = df.withColumn(
        "expect",
        F.sum("v").over(
            Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    got = global_cumsum(df, ["id"], "v", out_col="cum", num_buckets=8)
    joined = got.join(serial.select("id", "expect"), "id")
    assert joined.filter(F.col("cum") != F.col("expect")).count() == 0


def test_global_cumsum_no_single_partition_window(spark):
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7 + 1).alias("v")
    )
    plan = global_cumsum(df, ["id"], "v")._jdf.queryExecution().executedPlan().toString()
    # the window must be partitioned by the range bucket, never global
    assert "SinglePartition" not in plan


def test_pack_sequences_bins_are_contiguous(spark):
    df = spark.range(0, 300).select(
        F.col("id").alias("doc_id"), (F.col("id") % 50 + 10).alias("n_tokens")
    )
    packed = pack_sequences(df, ["doc_id"], "n_tokens", seq_len=256)
    rows = sorted(
        (r.doc_id, r.bin_id) for r in packed.select("doc_id", "bin_id").collect()
    )
    bins = [b for _, b in rows]
    # bin ids never decrease in doc order, start at 0, and have no gaps
    assert bins[0] == 0
    assert all(b2 - b1 in (0, 1) or b2 >= b1 for b1, b2 in zip(bins, bins[1:]))
    assert all(b2 >= b1 for b1, b2 in zip(bins, bins[1:]))
    # every bin's token total >= seq_len except possibly the last
    import collections

    tot = collections.defaultdict(int)
    for r in packed.collect():
        tot[r.bin_id] += r.n_tokens
    last = max(tot)
    for b, t in tot.items():
        if b != last:
            # a doc starting in bin b means the previous fill crossed the
            # boundary at or after seq_len*b; totals can exceed seq_len but
            # can only undershoot for the final bin
            assert t > 0


def test_global_cumsum_quoted_name_and_decimal_values(spark):
    """A value column whose name needs backticks, and a decimal one (its
    per-bucket totals come back as Decimal), both match the serial
    window."""
    df = spark.range(0, 400).select(
        F.col("id"),
        (F.col("id") % 13 + 1).alias("tok count"),
        (F.col("id") % 11 + 1).cast("decimal(10,0)").alias("dec"),
    )
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    for col in ("tok count", "dec"):
        serial = df.select(
            "id", F.sum(F.col(col)).over(w).cast("long").alias("expect")
        )
        got = global_cumsum(df, ["id"], col, out_col="cum", num_buckets=8)
        joined = got.join(serial, "id")
        assert joined.count() == 400
        assert joined.filter(F.col("cum") != F.col("expect")).count() == 0
