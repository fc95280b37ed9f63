"""applyInPandasWithState running VWAP vs batch computation."""

from pyspark.sql import functions as F

from simtradedata_spark.streaming.stateful import streaming_vwap


def test_streaming_vwap_matches_batch(spark, market, tmp_path):
    src = str(tmp_path / "bars_stream")
    bars = (
        market.bars()
        .filter(F.col("sym_idx").isin(0, 1))
        .select("symbol", "trade_date", "volume", "money")
    )
    # two files -> two micro-batches (state must carry across batches)
    bars.repartition(2).write.mode("overwrite").parquet(src)

    schema = spark.read.parquet(src).schema
    q = streaming_vwap(spark, src, schema, query_name="t_vwap")
    try:
        q.processAllAvailable()
        got = {
            r["symbol"]: r
            for r in spark.sql(
                """SELECT symbol, n_rows, cum_volume, vwap FROM (
                     SELECT *, row_number() OVER (
                       PARTITION BY symbol ORDER BY n_rows DESC) AS rn
                     FROM t_vwap) WHERE rn = 1"""
            ).collect()
        }
    finally:
        q.stop()

    expect = {
        r["symbol"]: r
        for r in bars.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("volume").alias("v"),
            (F.sum("money") / F.sum("volume")).alias("vwap"),
        )
        .collect()
    }
    assert set(got) == set(expect)
    for sym, e in expect.items():
        g = got[sym]
        assert g["n_rows"] == e["n"]
        assert abs(g["cum_volume"] - e["v"]) < 1e-6
        assert abs(g["vwap"] - e["vwap"]) < 1e-9


def test_interval_join_stream_equals_batch(spark, tmp_path):
    """Stream-stream trade⋈quote interval join == the same interval_join on
    batch frames, for all pairs whose event times are closed by the final
    watermark."""
    import datetime
    import time

    import numpy as np

    from simtradedata_spark.streaming.joins import (
        interval_join,
        streaming_interval_join,
    )

    rng = np.random.RandomState(5)
    base = datetime.datetime(2024, 1, 2, 9, 30)
    trades = spark.createDataFrame(
        [
            (
                sym,
                base + datetime.timedelta(seconds=int(i * 7 + k)),
                float(100 + rng.randn()),
            )
            for k, sym in enumerate(["600000.SS", "000001.SZ"])
            for i in range(80)
        ],
        "symbol string, t_ts timestamp, price double",
    )
    quotes = spark.createDataFrame(
        [
            (
                sym,
                base + datetime.timedelta(seconds=int(i * 3 + k)),
                float(99.5 + rng.randn()),
                float(100.5 + rng.randn()),
            )
            for k, sym in enumerate(["600000.SS", "000001.SZ"])
            for i in range(180)
        ],
        "symbol string, q_ts timestamp, bid double, ask double",
    )

    expect = interval_join(
        trades, quotes, ["symbol"], "t_ts", "q_ts", lookback="30 seconds"
    )
    expect_set = {
        (r["symbol"], r["t_ts"], r["q_ts"]) for r in expect.collect()
    }
    assert expect_set  # the generated streams genuinely overlap

    tdir, qdir = str(tmp_path / "trades"), str(tmp_path / "quotes")
    trades.coalesce(2).write.mode("overwrite").parquet(tdir)
    quotes.coalesce(2).write.mode("overwrite").parquet(qdir)
    time.sleep(1.1)  # later mtime => flush files arrive in a later batch
    far = base + datetime.timedelta(hours=10)
    spark.createDataFrame(
        [("FLUSH", far, 0.0)], trades.schema
    ).coalesce(1).write.mode("append").parquet(tdir)
    spark.createDataFrame(
        [("FLUSH", far, 0.0, 0.0)], quotes.schema
    ).coalesce(1).write.mode("append").parquet(qdir)

    q = streaming_interval_join(
        spark,
        tdir,
        qdir,
        trades.schema,
        quotes.schema,
        ["symbol"],
        "t_ts",
        "q_ts",
        lookback="30 seconds",
        watermark="2 minutes",
        query_name="t_ijoin",
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM t_ijoin WHERE symbol != 'FLUSH'")
        got_set = {
            (r["symbol"], r["t_ts"], r["q_ts"]) for r in got.collect()
        }
    finally:
        q.stop()
    assert got_set == expect_set


def test_session_exact_gap_merges(spark):
    """Pins the boundary convention SQL_SESSION_WINDOWS relies on: an event
    arriving EXACTLY gap after the previous one joins the same session
    (Spark merges touching windows), so the oracle's strictly-`>` new-session
    test matches. If a Spark upgrade flips this, this test fails before the
    oracle silently diverges."""
    from simtradedata_spark.streaming.incremental import session_agg

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 1.0),
            (1, "2024-01-01 00:30:00", 2.0),  # exactly gap later -> merges
            (1, "2024-01-01 01:30:00", 4.0),  # 60 min later -> new session
        ],
        "user_id int, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    rows = {r["session_start"].isoformat(): r for r in session_agg(df).collect()}
    assert len(rows) == 2
    assert rows["2024-01-01T00:00:00"]["n_events"] == 2
    assert rows["2024-01-01T00:00:00"]["session_end"].isoformat() == "2024-01-01T01:00:00"
    assert rows["2024-01-01T01:30:00"]["n_events"] == 1


def test_interval_left_outer_join_stream_equals_batch(spark, tmp_path):
    """LEFT OUTER stream-stream interval join: a trade with no quote inside
    its lookback must surface with null bid/ask — in batch immediately, in
    streaming once the watermark closes its window. Same function, same
    results."""
    import datetime
    import time

    from simtradedata_spark.streaming.joins import (
        interval_join,
        streaming_interval_join,
    )

    base = datetime.datetime(2024, 1, 2, 9, 30)
    sec = lambda s: base + datetime.timedelta(seconds=s)
    trades = spark.createDataFrame(
        [
            ("600000.SS", sec(10), 100.0),   # quote at sec(5) is in lookback
            ("600000.SS", sec(300), 101.0),  # nearest quote 295s stale → null
            ("000001.SZ", sec(40), 50.0),    # other-symbol quotes must not match
        ],
        "symbol string, t_ts timestamp, price double",
    )
    quotes = spark.createDataFrame(
        [
            ("600000.SS", sec(5), 99.5, 100.5),
            ("000001.SZ", sec(35), 49.5, 50.5),
        ],
        "symbol string, q_ts timestamp, bid double, ask double",
    )

    expect = interval_join(
        trades, quotes, ["symbol"], "t_ts", "q_ts",
        lookback="30 seconds", how="left_outer",
    )
    expect_set = {
        (r["symbol"], r["t_ts"], r["q_ts"], r["bid"]) for r in expect.collect()
    }
    assert ("600000.SS", sec(300), None, None) in expect_set
    assert len(expect_set) == 3

    tdir, qdir = str(tmp_path / "lo_trades"), str(tmp_path / "lo_quotes")
    trades.coalesce(1).write.mode("overwrite").parquet(tdir)
    quotes.coalesce(1).write.mode("overwrite").parquet(qdir)
    time.sleep(1.1)
    far = sec(36000)
    spark.createDataFrame([("FLUSH", far, 0.0)], trades.schema).coalesce(
        1
    ).write.mode("append").parquet(tdir)
    spark.createDataFrame(
        [("FLUSH", far, 0.0, 0.0)], quotes.schema
    ).coalesce(1).write.mode("append").parquet(qdir)

    q = streaming_interval_join(
        spark, tdir, qdir, trades.schema, quotes.schema,
        ["symbol"], "t_ts", "q_ts",
        lookback="30 seconds", watermark="2 minutes",
        query_name="t_lojoin", how="left_outer",
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM t_lojoin WHERE symbol != 'FLUSH'")
        got_set = {
            (r["symbol"], r["t_ts"], r["q_ts"], r["bid"]) for r in got.collect()
        }
    finally:
        q.stop()
    assert got_set == expect_set


def test_streaming_cms_matches_batch(spark, tmp_path):
    """The streaming Count-Min sketch (complete-mode aggregation with
    plan-time-bounded state) lands counter-for-counter on the batch
    sketch after draining a multi-file stream."""
    from simtradedata_spark.operators.sketches import count_min_sketch
    from simtradedata_spark.streaming.incremental import streaming_count_min

    src = str(tmp_path / "cms_src")
    rows = [("tok%d" % (i % 13),) for i in range(400)]
    df = spark.createDataFrame(rows, ["tok"])
    # three files -> three micro-batches (counters must fold across them)
    df.repartition(3).write.mode("overwrite").parquet(src)

    schema = spark.read.parquet(src).schema
    q = streaming_count_min(
        spark, src, schema, "tok", depth=3, width=32, query_name="t_cms"
    )
    try:
        q.processAllAvailable()
        got = sorted(
            map(
                tuple,
                spark.sql("SELECT d, bucket, cnt FROM t_cms").collect(),
            )
        )
    finally:
        q.stop()
    want = sorted(
        map(tuple, count_min_sketch(df, "tok", depth=3, width=32).collect())
    )
    assert got == want
