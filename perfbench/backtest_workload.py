"""The ``backtest`` workload: build a seeded synthetic market store, then
drive a moving-average strategy day by day through the PTrade API with
the client point cache on, as a backtest engine does.

Each day the strategy asks for the tradable universe, drops ST and halted
symbols, ranks the rest by valuation, keeps the ``PICKS`` cheapest and
reads their recent closes (MA5 against MA10 signal) and their
pre-adjusted last price. The loop is closed: the next call is sent when
the previous one has returned.

Checks, none of which adds work to a timed day:
  - every store table reads back non-empty (parquet footers, no Spark job);
  - every MA signal equals the one a single vectorised ``moving_avg``
    query over the stored bars gives (the loop = batch law of
    ``tests/test_backtest_loop.py``);
  - on ``CHECK_DAYS`` sampled days the picks' histories and prices equal
    what an uncached ``PTradeDataAPI`` returns.
"""

from __future__ import annotations

import os
import random
import shutil
import time

from harness import ENGINE_KEYS, RUN_DIR, percentile

# Market size: big enough that each API call scans real partitions, small
# enough that a cold store build fits the run's time budget.
N_SYMBOLS = 20
START, END = "2022-01-03", "2022-06-30"
PICKS = 5
SHORT_N, LONG_N = 5, 10
# first trading day the strategy acts on: LONG_N bars of history before it
FIRST_DAY = LONG_N + 2
CHECK_DAYS = 2
# --seconds sets the number of strategy days, so that every run with it
# does the same work and the day percentiles always cover the same days:
# one per 3 s, 10 at the benchmark's run length. A day takes about 1 s on
# a quiet 4-vCPU host, and the cold store build about 25 s.
DAYS_PER_S = 1 / 3
API_CALLS = (
    "get_Ashares",
    "get_stock_status",
    "get_fundamentals",
    "get_history",
    "get_price",
)


def store_stats(root: str) -> dict[str, dict]:
    """Rows, bytes and files of every table under ``root``, from the
    parquet footers."""
    import pyarrow.dataset as ds

    out = {}
    for table in sorted(os.listdir(root)):
        path = os.path.join(root, table)
        if not os.path.isdir(path):
            continue
        files = [
            os.path.join(d, f)
            for d, _dirs, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        ]
        rows = ds.dataset(files, format="parquet").count_rows() if files else 0
        out[table] = {
            "rows": rows,
            "bytes": sum(os.path.getsize(f) for f in files),
            "files": len(files),
        }
    return out


class Strategy:
    """One strategy day through the API; ``call`` wraps each API call so
    the caller can time it."""

    def __init__(self, api, call):
        self.api = api
        self.call = call

    def day(self, d: str) -> dict:
        api, call = self.api, self.call
        universe = call("get_Ashares", lambda: api.get_Ashares(d))
        st = call("get_stock_status", lambda: api.get_stock_status(universe, "ST", d))
        halt = call("get_stock_status", lambda: api.get_stock_status(universe, "HALT", d))
        ok = [s for s in universe if not st[s] and not halt[s]]
        val = call(
            "get_fundamentals", lambda: api.get_fundamentals(ok, "valuation", date=d)
        )
        ranked = val[val["pe_ttm"] > 0].sort_values(["pe_ttm"]).index
        picks = sorted(ranked[:PICKS])
        hist = call(
            "get_history",
            lambda: api.get_history(
                LONG_N, field="close", security_list=picks, is_dict=True,
                current_date=d,
            ),
        )
        price = call(
            "get_price", lambda: api.get_price(picks, end_date=d, count=1, fq="pre")
        )
        closes = {s: hist[s]["close"].tolist() for s in picks}
        signals = {}
        for s, c in closes.items():
            if len(c) == LONG_N:
                signals[s] = (sum(c[-SHORT_N:]) / SHORT_N, sum(c) / LONG_N)
        return {"picks": picks, "closes": closes, "price": price, "signals": signals}


def check_signals(wh, decisions: dict[str, dict]) -> list[tuple[str, str]]:
    """Loop = batch: each day's (MA5, MA10) state must be the window row of
    the last bar before that day in one vectorised query."""
    import bisect

    from pyspark.sql import functions as F

    from simtradedata_spark.operators.windows import moving_avg

    syms = sorted({s for dec in decisions.values() for s in dec["signals"]})
    if not syms:
        return [("loop", "no day produced a signal")]
    bars = wh.read("bars").filter(F.col("symbol").isin(syms))
    ma = moving_avg(bars, "close", SHORT_N, ["symbol"], ["trade_date"], "ma_s")
    ma = moving_avg(ma, "close", LONG_N, ["symbol"], ["trade_date"], "ma_l")
    pdf = ma.select("symbol", "trade_date", "ma_s", "ma_l").toPandas()
    pdf["trade_date"] = pdf["trade_date"].astype(str)
    by_sym = {s: g.sort_values("trade_date") for s, g in pdf.groupby("symbol")}
    problems = []
    for d, dec in decisions.items():
        for s, (ma_s, ma_l) in dec["signals"].items():
            g = by_sym[s]
            dates = g["trade_date"].tolist()
            row = g.iloc[bisect.bisect_left(dates, d) - 1]
            if abs(row.ma_s - ma_s) > 1e-9 or abs(row.ma_l - ma_l) > 1e-9:
                problems.append((d, f"MA mismatch for {s}"))
    return problems


def _plain(x):
    """pandas frames (or dicts of them, as ``get_price`` returns for a
    symbol list) as plain dicts, for equality."""
    if isinstance(x, dict):
        return {k: _plain(v) for k, v in x.items()}
    return x.to_dict()


def check_uncached(
    wh, decisions: dict[str, dict], days: list[str]
) -> list[tuple[str, str]]:
    """The point-cache answers equal the plain Spark path's."""
    from simtradedata_spark.api.ptrade import PTradeDataAPI

    ref = Strategy(PTradeDataAPI(wh), lambda _name, fn: fn())
    problems = []
    for d in days:
        got, want = decisions[d], ref.day(d)
        if got["picks"] != want["picks"]:
            problems.append((d, "picks differ from the uncached API"))
        elif got["closes"] != want["closes"]:
            problems.append((d, "histories differ from the uncached API"))
        elif _plain(got["price"]) != _plain(want["price"]):
            problems.append((d, "prices differ from the uncached API"))
    return problems


def run(spark, seed: int, seconds: float, tracer, status, ready) -> dict:
    """Build the store, run the strategy days and check. The store build is
    the first gated operation: ``ready()`` marks the end of set-up."""
    root = os.path.join(RUN_DIR, f"warehouse-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    try:
        return _run(spark, root, seed, seconds, tracer, status, ready)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _run(spark, root: str, seed: int, seconds: float, tracer, status, ready) -> dict:
    from simtradedata_spark.api.ptrade import PTradeDataAPI
    from simtradedata_spark.sources import tables
    from simtradedata_spark.sources.synthetic import SyntheticMarket

    market = SyntheticMarket(spark, n_symbols=N_SYMBOLS, start=START, end=END, seed=seed)
    calls = {n: {"ms": [], "jobs": 0, "no_job": 0} for n in API_CALLS}
    reads = []  # status counters of the build and of every API call

    write = tables.Warehouse.write
    if tracer.enabled:
        # one span per table write, from the benchmark's side of the call
        def traced_write(self, table, df, *a, **kw):
            with tracer.span("write", table=table):
                return write(self, table, df, *a, **kw)

        tables.Warehouse.write = traced_write
    try:
        ready()
        with tracer.span("build_warehouse"):
            gid = status.group("build_warehouse") if status else None
            t0 = time.perf_counter()
            wh = tables.build_warehouse(spark, root, market)
            build_s = time.perf_counter() - t0
        if status:
            reads.append(status.collect([gid]))
    finally:
        tables.Warehouse.write = write
    stats = store_stats(root)
    problems = [("build", f"table {t} is empty") for t, s in stats.items() if s["rows"] == 0]

    with tracer.span("open_api"):
        t0 = time.perf_counter()
        api = PTradeDataAPI(wh, point_cache=True)
        all_days = api.get_trade_days()[FIRST_DAY:]
        open_s = time.perf_counter() - t0

    def call(name, fn):
        t = time.perf_counter()
        with tracer.span(name):
            gid = status.group(name) if status else None
            out = fn()
        calls[name]["ms"].append((time.perf_counter() - t) * 1e3)
        if status:
            reads.append(status.collect([gid]))
            calls[name]["jobs"] += reads[-1]["jobs"]
            calls[name]["no_job"] += reads[-1]["jobs"] == 0
        return out

    strategy = Strategy(api, call)
    decisions: dict[str, dict] = {}
    day_ms: list[float] = []
    failed_days = 0
    n_days = max(CHECK_DAYS, round(DAYS_PER_S * seconds))
    if n_days > len(all_days):
        raise ValueError(f"{n_days} days asked, the market has {len(all_days)}")
    for d in all_days[:n_days]:
        t = time.perf_counter()
        try:
            with tracer.span("day", date=d):
                decisions[d] = strategy.day(d)
        except Exception as e:  # a failed day counts; the loop goes on
            failed_days += 1
            problems.append((d, f"raised {e!r}"))
            continue
        day_ms.append((time.perf_counter() - t) * 1e3)

    problems += check_signals(wh, decisions)
    sampled = sorted(random.Random(seed).sample(sorted(decisions), CHECK_DAYS))
    problems += check_uncached(wh, decisions, sampled)

    rows = sum(s["rows"] for s in stats.values())
    nbytes = sum(s["bytes"] for s in stats.values())
    return {
        "ops_ms": day_ms,
        "suite_s": build_s + open_s + sum(day_ms) / 1e3,
        "attempted": 1 + len(day_ms) + failed_days,
        "failed": len({op for op, _msg in problems}),
        "problems": [f"{op}: {msg}" for op, msg in problems],
        "detail": {
            "build_s": build_s,
            "open_api_s": open_s,
            "build_rows_per_s": rows / build_s,
            "store_bytes_per_row": nbytes / rows,
            "days": len(day_ms),
            "days_per_s": len(day_ms) / (sum(day_ms) / 1e3),
            "day_p50_ms": percentile(day_ms, 50),
            "day_p90_ms": percentile(day_ms, 90),
            "truncated_reads": sum(r["truncated"] for r in reads),
        },
        "layer": layer_metrics(build_s, stats, calls, reads) if status else {},
    }


def layer_metrics(build_s, stats, calls, reads) -> dict[str, float]:
    """Per-layer figures of a traced run. Engine sums leave out reads
    whose jobs or stages were already evicted (``truncated_reads``)."""
    whole = [r for r in reads if not r["truncated"]]
    layer = {
        "tables.build_s": build_s,
        "tables.build_jobs": reads[0]["jobs"] if not reads[0]["truncated"] else -1,
        "tables.rows_written": sum(s["rows"] for s in stats.values()),
        "tables.bytes_written": sum(s["bytes"] for s in stats.values()),
        "tables.files_written": sum(s["files"] for s in stats.values()),
    }
    for k in ENGINE_KEYS:
        vals = [r[k] for r in whole]
        layer[f"engine.{k}"] = max(vals, default=0.0) if k == "peak_exec_mem_bytes" else sum(vals)
    for name, c in calls.items():
        layer[f"api.{name}.calls"] = len(c["ms"])
        layer[f"api.{name}.p50_ms"] = percentile(c["ms"], 50)
        layer[f"api.{name}.p90_ms"] = percentile(c["ms"], 90)
        layer[f"api.{name}.jobs"] = c["jobs"]
    n_calls = sum(len(c["ms"]) for c in calls.values())
    layer["api.point_cache_hit_frac"] = sum(c["no_job"] for c in calls.values()) / n_calls
    return layer
