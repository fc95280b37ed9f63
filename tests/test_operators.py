"""Generic operator library vs pandas/python oracles."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from simtradedata_spark.operators.align import forward_fill
from simtradedata_spark.operators.dedup import (
    keep_last,
    minhash_lsh_candidates,
    minhash_signatures,
    simhash,
    hamming64,
)
from simtradedata_spark.operators.resample import resample_ohlc
from simtradedata_spark.operators.similarity import cosine_top_k
from simtradedata_spark.operators.windows import cumulative_product, moving_avg


def test_forward_fill(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, None), ("a", 3, None), ("a", 4, 40.0), ("b", 1, None)],
        "k string, t int, v double",
    )
    got = {
        (r["k"], r["t"]): r["v"]
        for r in forward_fill(df, ["v"], ["k"], ["t"]).collect()
    }
    assert got[("a", 2)] == 10.0 and got[("a", 3)] == 10.0
    assert got[("a", 4)] == 40.0
    assert got[("b", 1)] is None


def test_moving_avg_matches_pandas(spark):
    rng = np.random.RandomState(3)
    pdf = pd.DataFrame({"k": ["x"] * 50, "t": range(50), "v": rng.rand(50).round(4)})
    sdf = spark.createDataFrame(pdf)
    got = (
        moving_avg(sdf, "v", 5, ["k"], ["t"], out_col="ma")
        .orderBy("t")
        .toPandas()["ma"]
    )
    expect = pdf.v.rolling(5).mean()
    pd.testing.assert_series_equal(
        got, expect, check_names=False, check_exact=False, rtol=1e-9
    )


def test_cumulative_product(spark):
    pdf = pd.DataFrame({"k": ["x"] * 20, "t": range(20), "r": 1 + np.random.RandomState(4).rand(20) * 0.1})
    sdf = spark.createDataFrame(pdf)
    got = cumulative_product(sdf, "r", ["k"], ["t"]).orderBy("t").toPandas()["cumprod"]
    expect = pdf.r.cumprod()
    assert np.allclose(got, expect, rtol=1e-9)


def test_resample_weekly_matches_pandas(spark, market):
    bars = market.bars().filter(F.col("sym_idx") == 0)
    got = (
        resample_ohlc(bars, "W")
        .orderBy("period_start")
        .toPandas()
        .set_index("period_start")
    )
    pdf = bars.orderBy("trade_date").toPandas()
    pdf["trade_date"] = pd.to_datetime(pdf.trade_date)
    expect = (
        pdf.set_index("trade_date")
        .resample("W-SUN", label="left")
        .agg(
            open=("open", "first"),
            high=("high", "max"),
            low=("low", "min"),
            close=("close", "last"),
            volume=("volume", "sum"),
        )
        .dropna()
    )
    # Spark week starts Monday; pandas W-SUN label=left gives Sunday starts
    # one day earlier — compare the values row-by-row.
    assert len(got) == len(expect)
    assert np.allclose(got.open.values, expect.open.values)
    assert np.allclose(got.high.values, expect.high.values)
    assert np.allclose(got.low.values, expect.low.values)
    assert np.allclose(got.close.values, expect.close.values)


def test_keep_last(spark):
    df = spark.createDataFrame(
        [(1, 1, "old"), (1, 2, "new"), (2, 5, "only")], "k int, v int, tag string"
    )
    got = {r["k"]: r["tag"] for r in keep_last(df, ["k"], [F.col("v")]).collect()}
    assert got == {1: "new", 2: "only"}


def test_minhash_estimates_jaccard(spark):
    """Signature agreement ≈ true shingle Jaccard (±0.2 at 128 hashes)."""
    a = "the quick brown fox jumps over the lazy dog again and again today"
    b = "the quick brown fox jumps over the lazy cat again and again today"
    c = "completely different words entirely unrelated content goes right here"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], "id long, text string")
    sigs = {
        r["id"]: r["minhash"]
        for r in minhash_signatures(df, "id", "text", num_hashes=128).collect()
    }

    def est(x, y):
        return sum(1 for u, v in zip(x, y) if u == v) / len(x)

    def true_jac(x, y, n=3):
        tx = x.split()
        ty = y.split()
        sx = {" ".join(tx[i : i + n]) for i in range(len(tx) - n + 1)}
        sy = {" ".join(ty[i : i + n]) for i in range(len(ty) - n + 1)}
        return len(sx & sy) / len(sx | sy)

    assert abs(est(sigs[1], sigs[2]) - true_jac(a, b)) < 0.2
    assert est(sigs[1], sigs[3]) < 0.1


def test_minhash_lsh_finds_near_dup(spark):
    rows = [(i, f"unique document number {i} with totally distinct content piece {i*7}") for i in range(20)]
    rows.append((100, "the quick brown fox jumps over the lazy dog in the morning sun"))
    rows.append((101, "the quick brown fox jumps over the lazy dog in the morning light"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_lsh_candidates(
        df, "doc_id", "text", num_hashes=64, bands=16, jaccard_threshold=0.5
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (100, 101) in found


def test_simhash_near_duplicates_close(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),
            (3, "one two three four five six seven eight"),
        ],
        "doc_id long, text string",
    )
    sigs = simhash(df, "doc_id", "text")
    a, b = sigs.alias("a"), sigs.alias("b")
    dists = {
        (r["ia"], r["ib"]): r["d"]
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("ia"),
            F.col("b.doc_id").alias("ib"),
            hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("d"),
        )
        .collect()
    }
    assert dists[(1, 2)] < dists[(1, 3)]
    assert dists[(1, 2)] < dists[(2, 3)]


def test_cosine_top_k_matches_numpy(spark):
    rng = np.random.RandomState(7)
    vecs = rng.rand(30, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    got = (
        cosine_top_k(df, df.filter(F.col("vec_id") == 0), k=3)
        .orderBy("rank")
        .toPandas()
    )
    norms = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norms @ norms[0]
    sims[0] = -2
    expect = np.argsort(-sims)[:3]
    assert got.neighbor_id.tolist() == expect.tolist()


def test_cosine_near_dups_exact_and_lsh(spark):
    from simtradedata_spark.operators.dedup import cosine_near_dups

    rng = np.random.RandomState(11)
    base = rng.rand(20, 8).astype("float32")
    # plant 3 near-dup pairs: tiny perturbations of rows 0..2
    near = base[:3] + rng.rand(3, 8).astype("float32") * 0.01
    vecs = np.vstack([base, near])
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    exact = cosine_near_dups(df, threshold=0.999, bits=0, exact=True).toPandas()
    planted = {(i, 20 + i) for i in range(3)}
    assert set(zip(exact.id_a, exact.id_b)) == planted
    assert (exact.cos_sim >= 0.999).all()
    # LSH prefilter: near-identical vectors share every sign pattern, so the
    # planted pairs survive any bucket count; result ⊆ exact.
    lsh = cosine_near_dups(df, threshold=0.999, bits=6, dim=8).toPandas()
    assert set(zip(lsh.id_a, lsh.id_b)) == planted
    # auto mode picks occupancy-scaled bits and must keep the planted pairs
    auto = cosine_near_dups(df, threshold=0.999, bits="auto", dim=8).toPandas()
    assert set(zip(auto.id_a, auto.id_b)) == planted
    assert np.allclose(sorted(auto.cos_sim), sorted(exact.cos_sim), atol=1e-9)
    # dim is inferred from the vector column when omitted on the LSH path
    inferred = cosine_near_dups(df, threshold=0.999, bits=6).toPandas()
    assert set(zip(inferred.id_a, inferred.id_b)) == planted


def test_cosine_near_dups_exact_is_opt_in(spark):
    """r5 verdict item 4: the all-pairs/driver-collect path must never be
    reachable by default — bits=0 without exact=True raises, and exact=True
    refuses corpora above max_exact_rows."""
    import pytest

    from simtradedata_spark.operators.dedup import cosine_near_dups

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="exact=True"):
        cosine_near_dups(df, threshold=0.9, bits=0)
    with pytest.raises(ValueError, match="max_exact_rows"):
        cosine_near_dups(df, threshold=0.9, bits=0, exact=True, max_exact_rows=5)
    # opt-in with a sufficient cap works
    cosine_near_dups(df, threshold=0.9, bits=0, exact=True, max_exact_rows=10).count()


def test_cosine_near_dups_empty_input(spark):
    """r6 advice: an empty corpus returns an empty (id_a, id_b, cos_sim)
    frame on both the auto and explicit-bits LSH paths instead of raising
    from the dim probe."""
    from simtradedata_spark.operators.dedup import cosine_near_dups

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    # r7 advice closed the remaining gap: the exact bits=0 path now honors
    # the same contract instead of np.stack's "need at least one array"
    for kw in ({"bits": "auto"}, {"bits": 6}, {"bits": 0, "exact": True}):
        out = cosine_near_dups(empty, threshold=0.9, **kw)
        assert out.columns == ["id_a", "id_b", "cos_sim"]
        assert out.count() == 0


def test_ivf_full_probe_equals_brute_force(spark):
    from simtradedata_spark.operators.similarity import ivf_top_k

    rng = np.random.RandomState(3)
    vecs = rng.rand(60, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    q = df.filter(F.col("vec_id") < 4)
    exact = cosine_top_k(df, q, k=3).orderBy("query_id", "rank").toPandas()
    # probing every cell makes IVF exhaustive — must equal brute force
    full = ivf_top_k(df, q, k=3, n_lists=4, n_probe=4).orderBy(
        "query_id", "rank"
    ).toPandas()
    assert full.equals(exact)
    # partial probe returns well-formed top-k (recall<1 allowed)
    part = ivf_top_k(df, q, k=3, n_lists=4, n_probe=1).toPandas()
    assert set(part.columns) == {"query_id", "neighbor_id", "rank"}
    assert (part.groupby("query_id")["rank"].max() <= 3).all()


def test_jaccard_prefix_equals_all_pairs(spark):
    from simtradedata_spark.operators.dedup import jaccard_pairs_prefix, tokens

    rng = np.random.RandomState(5)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(60):
        n = rng.randint(3, 15)
        words = rng.choice(vocab, size=n, replace=True)
        rows.append((i, "b%d" % (i % 2), " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, blk string, text string")
    base = df.select(
        "blk", "doc_id", F.array_distinct(tokens("text")).alias("tok")
    )
    # quadratic all-pairs reference
    a, b = base.alias("a"), base.alias("b")
    inter = F.size(F.array_intersect(F.col("a.tok"), F.col("b.tok")))
    uni = F.size(F.array_union(F.col("a.tok"), F.col("b.tok")))
    expect = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.round(inter / uni, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.3)
        .orderBy("id_a", "id_b")
        .toPandas()
    )
    got = (
        jaccard_pairs_prefix(base, "doc_id", "tok", ["blk"], threshold=0.3)
        .orderBy("id_a", "id_b")
        .toPandas()
    )
    assert len(expect) > 0  # the data must actually exercise the operator
    assert got.equals(expect)


def test_range_join_matches_naive(spark):
    from simtradedata_spark.operators.rangejoin import range_join

    rng = np.random.RandomState(9)
    left = spark.createDataFrame(
        [(int(i % 5), float(rng.randint(0, 1000)), i) for i in range(80)],
        "k long, lval double, lid long",
    )
    right = spark.createDataFrame(
        [(int(i % 5), float(rng.randint(0, 1000)), i) for i in range(80)],
        "k long, rval double, rid long",
    )
    got = sorted(
        (r["lid"], r["rid"])
        for r in range_join(left, right, ["k"], "lval", "rval", -50.0, 120.0).collect()
    )
    naive = sorted(
        (r["lid"], r["rid"])
        for r in left.join(
            right,
            (left.k == right.k)
            & (right.rval - left.lval >= -50.0)
            & (right.rval - left.lval <= 120.0),
        ).collect()
    )
    assert got == naive and len(got) > 0


def test_sql_surface_register_views(spark):
    """SURVEY §7 design stance: every table reachable from SQL."""
    from simtradedata_spark.catalog import register_views

    register_views(spark, "/root/testdata/sf0.001")
    out = spark.sql(
        """SELECT r_name, count(*) AS n
           FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
           JOIN region r ON n.n_regionkey = r.r_regionkey
           GROUP BY r_name ORDER BY r_name"""
    ).collect()
    assert len(out) == 5 and all(r["n"] > 0 for r in out)


def test_global_rank_and_ntile_match_window(spark):
    """Distributed two-pass rank/ntile ≡ the single-partition window
    versions, including ties on the first key and N % n != 0."""
    from pyspark.sql.window import Window

    from simtradedata_spark.operators.topk import global_ntile, global_rank

    rng = np.random.RandomState(11)
    n = 237  # not divisible by 10
    pdf = pd.DataFrame(
        {
            "id": range(n),
            # coarse values force ties -> the unique tie-breaker must decide
            "v": rng.randint(0, 40, n).astype(float),
        }
    )
    sdf = spark.createDataFrame(pdf).withColumn("negv", -F.col("v"))

    w = Window.orderBy(F.col("v").desc(), F.col("id"))
    expect = (
        sdf.select("id", F.row_number().over(w).alias("rank"), F.ntile(10).over(w).alias("decile"))
        .toPandas()
        .set_index("id")
        .sort_index()
    )
    got_rank = (
        global_rank(sdf, ["negv", "id"], rank_col="rank", num_buckets=8)
        .select("id", "rank")
        .toPandas()
        .set_index("id")
        .sort_index()
    )
    got_tile = (
        global_ntile(sdf, 10, ["negv", "id"], ntile_col="decile", num_buckets=8)
        .select("id", "decile")
        .toPandas()
        .set_index("id")
        .sort_index()
    )
    assert (got_rank["rank"] == expect["rank"]).all()
    assert (got_tile["decile"] == expect["decile"]).all()


def test_global_rank_small_inputs(spark):
    from simtradedata_spark.operators.topk import global_ntile, global_rank

    one = spark.createDataFrame([(5.0, 1)], "v double, id int")
    assert global_rank(one, ["v", "id"]).collect()[0]["rank"] == 1
    # fewer rows than tiles: ntile(i) = i
    few = spark.createDataFrame([(float(i), i) for i in range(3)], "v double, id int")
    got = {r["id"]: r["ntile"] for r in global_ntile(few, 10, ["v", "id"]).collect()}
    assert got == {0: 1, 1: 2, 2: 3}


def test_int8_quantization_roundtrip(spark):
    """Dequant error bounded by scale/2 per element; quantized values stay
    in [-127, 127]; cosine similarity survives quantization (>0.99 for
    smooth vectors); zero vectors stay zero instead of NaN."""
    import math
    import random

    from simtradedata_spark.operators.similarity import (
        dequantize_int8,
        int8_scale,
        quantize_int8,
    )

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-2, 2) for _ in range(32)]) for i in range(50)]
    rows.append((50, [0.0] * 32))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    scale = int8_scale(F.col("embedding"))
    out = df.select(
        "vec_id",
        "embedding",
        scale.alias("scale"),
        quantize_int8(F.col("embedding"), scale).alias("q"),
    ).withColumn("deq", dequantize_int8(F.col("q"), F.col("scale")))
    for r in out.collect():
        assert all(-127 <= v <= 127 for v in r["q"])
        errs = [abs(a - b) for a, b in zip(r["embedding"], r["deq"])]
        assert max(errs) <= r["scale"] / 2 + 1e-12
        if r["vec_id"] == 50:
            assert all(v == 0 for v in r["q"]) and r["scale"] == 1.0
            continue
        dot = sum(a * b for a, b in zip(r["embedding"], r["deq"]))
        na = math.sqrt(sum(a * a for a in r["embedding"]))
        nb = math.sqrt(sum(b * b for b in r["deq"]))
        assert dot / (na * nb) > 0.99


def test_cross_sectional_factor_hand_oracle(spark):
    from datetime import date

    from simtradedata_spark.operators.factors import cross_sectional, top_n_by_factor

    d1, d2 = date(2024, 1, 1), date(2024, 1, 2)
    rows = [
        (d1, "a", 10.0),
        (d1, "b", 20.0),
        (d1, "c", 20.0),  # tie with b
        (d1, "d", 30.0),
        (d2, "a", 5.0),   # degenerate cross-section below (zero variance)
        (d2, "b", 5.0),
    ]
    df = spark.createDataFrame(rows, "dt date, sym string, f double")
    cs = {(r["dt"], r["sym"]): r for r in cross_sectional(df, "dt", "f").collect()}
    # d1: mean 20, stddev_pop sqrt(50); ties share dense rank 2
    import math

    sd = math.sqrt(50.0)
    assert abs(cs[(d1, "d")]["cs_zscore"] - 10 / sd) < 1e-12
    assert abs(cs[(d1, "a")]["cs_zscore"] + 10 / sd) < 1e-12
    assert cs[(d1, "d")]["cs_rank"] == 1
    assert cs[(d1, "b")]["cs_rank"] == 2 and cs[(d1, "c")]["cs_rank"] == 2
    assert cs[(d1, "a")]["cs_rank"] == 3
    # zero-variance cross-section: zscore null, ranks tie at 1
    assert cs[(d2, "a")]["cs_zscore"] is None
    assert cs[(d2, "a")]["cs_rank"] == 1 and cs[(d2, "b")]["cs_rank"] == 1

    top = top_n_by_factor(df, "dt", "f", 2, tiebreaks=["sym"]).collect()
    got = {(r["dt"], r["sym"]) for r in top}
    assert got == {(d1, "d"), (d1, "b"), (d2, "a"), (d2, "b")}


def test_profile_table_exact_and_approx(spark):
    from simtradedata_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (None, "b")],
        "k int, v string",
    )
    prof = {r.column: r for r in profile_table(df).collect()}
    assert prof["k"].n_rows == 4 and prof["k"].n_null == 1
    assert prof["k"].n_distinct == 3
    assert prof["v"].n_null == 1 and prof["v"].n_distinct == 2
    # approx path (HLL, the 100 TB variant): same schema, estimates close
    ap = {r.column: r for r in profile_table(df, approx=True).collect()}
    assert ap["v"].n_distinct in (1, 2, 3)


def test_lsh_multi_probe_improves_recall(spark):
    from simtradedata_spark.operators.similarity import (
        cosine_top_k,
        lsh_bucket_top_k,
    )

    rng = np.random.RandomState(5)
    vecs = rng.rand(300, 16).astype("float32")
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    queries = df.filter(F.col("vec_id") < 20)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in cosine_top_k(df, queries, k=5).collect()
    }

    def recall(multi_probe):
        got = {
            (r.query_id, r.neighbor_id)
            for r in lsh_bucket_top_k(
                df, queries, dim=16, k=5, bits=6, multi_probe=multi_probe
            ).collect()
        }
        return len(got & truth) / len(truth)

    r0, r6 = recall(0), recall(6)
    assert r6 >= r0, (r0, r6)
    assert r6 > 0.5  # Hamming-1 probing should recover most neighbors


def test_multi_ntile_matches_window(spark):
    """multi_ntile's one-job/three-orderings path ≡ single-partition
    F.ntile for every spec, including ties, N % n != 0, ±inf proxy values
    (non-finite split points) and a fewer-rows-than-tiles frame."""
    from pyspark.sql.window import Window

    from simtradedata_spark.operators.topk import multi_ntile

    rng = np.random.RandomState(23)
    n = 233
    pdf = pd.DataFrame(
        {
            "id": range(n),
            "a": rng.randint(0, 25, n).astype(float),  # heavy ties
            "b": rng.normal(size=n),
        }
    )
    pdf["c"] = rng.normal(size=n)
    pdf.loc[:69, "c"] = np.inf  # enough rows that upper split points are inf
    pdf.loc[70:79, "c"] = -np.inf
    sdf = spark.createDataFrame(pdf)
    wa = Window.orderBy(F.col("a"), F.col("id"))
    wb = Window.orderBy(F.col("b"), F.col("id"))
    wc = Window.orderBy(F.col("c"), F.col("id"))
    expect = (
        sdf.select(
            "id",
            F.ntile(5).over(wa).alias("ta"),
            F.ntile(7).over(wb).alias("tb"),
            F.ntile(6).over(wc).alias("tc"),
        )
        .toPandas()
        .set_index("id")
        .sort_index()
    )
    got = (
        multi_ntile(
            sdf,
            5,
            {"ta": (F.col("a"), ["a", "id"])},
            num_buckets=8,
        )
    )
    got = multi_ntile(
        got,
        7,
        {"tb": (F.col("b"), ["b", "id"])},
        num_buckets=8,
    )
    got = (
        multi_ntile(got, 6, {"tc": (F.col("c"), ["c", "id"])}, num_buckets=8)
        .select("id", "ta", "tb", "tc")
        .toPandas()
        .set_index("id")
        .sort_index()
    )
    assert (got["ta"] == expect["ta"]).all()
    assert (got["tb"] == expect["tb"]).all()
    assert (got["tc"] == expect["tc"]).all()
    # fewer rows than tiles
    few = spark.createDataFrame([(float(i), i) for i in range(3)], "v double, id int")
    r = {
        row["id"]: row["t"]
        for row in multi_ntile(few, 10, {"t": (F.col("v"), ["v", "id"])}).collect()
    }
    assert r == {0: 1, 1: 2, 2: 3}


def test_delta_join_refresh_properties(spark):
    """IVM delta rule: refresh == full recompute for arbitrary splits,
    including empty deltas and duplicate join keys (bag semantics)."""
    from simtradedata_spark.operators.ivm import delta_join_refresh

    a = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "z"), (3, "w"), (3, "v")], "k int, av string"
    )
    b = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (2, 21.0), (4, 40.0)], "k int, bv double"
    )
    full = sorted(map(tuple, a.join(b, "k").collect()))

    for pred_a, pred_b in [
        (F.col("av") < "w", F.col("bv") < 20.5),   # both sides split
        (F.lit(False), F.col("bv") < 20.5),        # empty old A
        (F.col("av") < "w", F.lit(True)),          # empty delta B
    ]:
        a_old, da = a.filter(pred_a), a.filter(~pred_a)
        b_old, db = b.filter(pred_b), b.filter(~pred_b)
        view = a_old.join(b_old, "k")
        got = sorted(
            map(tuple, delta_join_refresh(view, a_old, da, b_old, db, "k").collect())
        )
        assert got == full


def test_freq_items_sketch_superset_of_exact(spark):
    """Misra–Gries-style freqItems (bounded memory) must contain every
    exact heavy hitter — false positives allowed, false negatives never."""
    from simtradedata_spark.operators.textstats import tokens as _tokens

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toks = docs.select(F.explode(_tokens(F.col("text"))).alias("tok"))
    total = toks.count()
    exact = {
        r["tok"]
        for r in toks.groupBy("tok").count().filter(F.col("count") * 100 > total).collect()
    }
    sketch = set(toks.freqItems(["tok"], support=0.01).first()["tok_freqItems"])
    assert exact and exact <= sketch


def test_winsorize_bounds_and_interior(spark):
    """Winsorized values live inside the [p, 1-p] percentile band; interior
    values pass through untouched; groups are independent."""
    from simtradedata_spark.operators.factors import winsorize

    rows = [("g1", float(v)) for v in range(1, 101)] + [("g2", 5.0)] * 10
    df = spark.createDataFrame(rows, "g string, v double")
    out = winsorize(df, "g", "v", p=0.10).collect()
    g1 = sorted(r["v_wins"] for r in out if r["g"] == "g1")
    # exact interpolated percentiles of 1..100 at 0.10/0.90
    lo, hi = 10.9, 90.1
    assert abs(g1[0] - lo) < 1e-9 and abs(g1[-1] - hi) < 1e-9
    assert 50.0 in g1  # interior untouched
    assert all(r["v_wins"] == 5.0 for r in out if r["g"] == "g2")


def test_weighted_sample_bias_and_determinism(spark):
    """Heavier rows are overrepresented; same seed → same sample; disjoint
    salt → different sample."""
    from simtradedata_spark.operators.sampling import weighted_sample

    rows = [(i, 100.0 if i % 10 == 0 else 1.0) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, w double")
    s1 = {r["id"] for r in weighted_sample(df, ["id"], F.col("w"), 200).collect()}
    s2 = {r["id"] for r in weighted_sample(df, ["id"], F.col("w"), 200).collect()}
    s3 = {r["id"] for r in weighted_sample(df, ["id"], F.col("w"), 200, salt="x").collect()}
    assert s1 == s2 and s1 != s3 and len(s1) == 200
    heavy_frac = sum(1 for i in s1 if i % 10 == 0) / 200
    # heavy rows are 10% of the population with 100x weight → they should
    # dominate the sample (population share of weight ≈ 91.7%)
    assert heavy_frac > 0.5


def test_minhash_probe_index_incremental(spark):
    """Incremental dedup: a new batch probed against the persisted corpus
    index finds cross near-dups without re-signing the corpus, and agrees
    with the full self-join restricted to cross pairs."""
    from simtradedata_spark.operators.dedup import minhash_index, minhash_probe_index

    corpus_rows = [
        (i, f"unique corpus document number {i} with distinct content piece {i * 7}")
        for i in range(20)
    ]
    corpus_rows.append(
        (100, "the quick brown fox jumps over the lazy dog in the morning sun")
    )
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    batch = spark.createDataFrame(
        [
            (200, "the quick brown fox jumps over the lazy dog in the morning light"),
            (201, "a completely fresh document about structured streaming state"),
        ],
        "doc_id long, text string",
    )
    idx = minhash_index(corpus, "doc_id", "text", num_hashes=64, bands=16)
    hits = minhash_probe_index(
        batch, idx, "doc_id", "text", num_hashes=64, bands=16, jaccard_threshold=0.5
    ).collect()
    assert {(r["new_id"], r["indexed_id"]) for r in hits} == {(200, 100)}
    assert all(r["est_jaccard"] >= 0.5 for r in hits)

    # parity with the monolithic self-join on corpus ∪ batch (cross pairs)
    full = minhash_lsh_candidates(
        corpus.union(batch), "doc_id", "text", num_hashes=64, bands=16,
        jaccard_threshold=0.5,
    ).collect()
    cross = {
        (max(r["id_a"], r["id_b"]), min(r["id_a"], r["id_b"]))
        for r in full
        if (r["id_a"] >= 200) != (r["id_b"] >= 200)
    }
    assert cross == {(r["new_id"], r["indexed_id"]) for r in hits}


def test_fuzzy_join_blocks_losslessly_incl_short_strings(spark):
    """q-gram blocking + levenshtein verify == quadratic ground truth,
    including the short-string stratum the gram bound can't cover."""
    from simtradedata_spark.operators.fuzzy import fuzzy_join

    left = spark.createDataFrame(
        [
            (1, "structured streaming state"),
            (2, "catalyst optimizer rules"),
            (3, "ab"),                      # short stratum
            (4, "shuffle partitions"),
        ],
        "lid long, name string",
    )
    right = spark.createDataFrame(
        [
            (10, "structured streaming statx"),   # dist 1
            (11, "catalyst optimizer rule"),      # dist 1 (deletion)
            (12, "completely different thing"),
            (13, "abc"),                          # dist 1, short
            (14, "shuffle partitionss"),          # dist 1
            (15, "shuffle partitions!!!"),        # dist 3 → excluded
        ],
        "rid long, name string",
    )
    got = {
        (r["lid"], r["rid"], r["dist"])
        for r in fuzzy_join(
            left, right, "lid", "name", "rid", "name", max_dist=2
        ).collect()
    }
    # quadratic ground truth in python
    import itertools

    def lev(a, b):
        m = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, m[0] = m[0], i
            for j, cb in enumerate(b, 1):
                prev, m[j] = m[j], min(m[j] + 1, m[j - 1] + 1, prev + (ca != cb))
        return m[len(b)]

    expect = {
        (l["lid"], r["rid"], lev(l["name"], r["name"]))
        for l, r in itertools.product(left.collect(), right.collect())
        if lev(l["name"], r["name"]) <= 2
    }
    assert got == expect
    assert (3, 13, 1) in got  # the short-stratum pair was not missed


def test_fuzzy_join_cross_stratum_and_duplicate_ids(spark):
    """The two blocking failure modes a review execution-confirmed: a
    long-left/short-right pair (len 11 vs 9, dist 2) must not fall between
    the strata, and a duplicated id must not dilute either string's rarest-
    gram prefix."""
    from simtradedata_spark.operators.fuzzy import fuzzy_join

    left = spark.createDataFrame(
        [
            (1, "aaaaaaaaaaa"),            # len 11 (>= min_safe_len)
            (2, "abcdefghijkl"),           # duplicate id 2, two strings
            (2, "mnopqrstuvwxy"),
        ],
        "lid long, name string",
    )
    right = spark.createDataFrame(
        [
            (10, "aaaaaaaaa"),             # len 9 (< min_safe_len), dist 2
            (11, "abcdefghijkX"),          # dist 1 to first id-2 string
            (12, "mnopqrstuvwxyZZ"),       # dist 2 to second id-2 string
        ],
        "rid long, name string",
    )
    got = {
        (r["lid"], r["rid"], r["dist"])
        for r in fuzzy_join(
            left, right, "lid", "name", "rid", "name", max_dist=2
        ).collect()
    }
    assert (1, 10, 2) in got          # cross-stratum pair found
    assert (2, 11, 1) in got          # both id-2 strings keep full prefixes
    assert (2, 12, 2) in got


def test_minute_bars_batch_equals_streaming_agg(spark):
    """The two minute-bar formulations agree: time_bars_from_ticks (hhmm
    session labels, integer-cents money) vs streaming/incremental.py::
    minute_bar_agg (event-time tumbling window) on the same tick stream."""
    from simtradedata_spark.operators.resample import time_bars_from_ticks
    from simtradedata_spark.sources.synthetic import SyntheticMarket
    from simtradedata_spark.streaming.incremental import minute_bar_agg

    m = SyntheticMarket(spark, n_symbols=4, start="2022-03-01", end="2022-03-08")
    ticks = m.ticks(n_per_day=40)
    batch = time_bars_from_ticks(ticks, minutes=1)
    hh = F.floor((F.col("ts_ms") % 10**9) / 10**7).cast("int")
    mm = F.floor((F.col("ts_ms") % 10**7) / 10**5).cast("int")
    with_ts = ticks.withColumn(
        "ts",
        F.make_timestamp(
            F.year("trade_date"), F.month("trade_date"), F.dayofmonth("trade_date"),
            hh, mm, F.lit(0),
        ),
    )
    windowed = minute_bar_agg(with_ts).withColumn(
        "bar_time",
        (F.hour("minute_start") * 100 + F.minute("minute_start")).cast("int"),
    ).withColumn("trade_date", F.to_date("minute_start"))
    a = {
        (r["symbol"], str(r["trade_date"]), r["bar_time"]): r
        for r in batch.collect()
    }
    b = {
        (r["symbol"], str(r["trade_date"]), r["bar_time"]): r
        for r in windowed.collect()
    }
    assert set(a) == set(b) and a
    for k in a:
        for c in ("open", "high", "low", "close", "volume", "n_ticks"):
            assert a[k][c] == b[k][c], (k, c)
        assert abs(a[k]["money"] - b[k]["money"]) < 1e-6, k


def test_refresh_time_bars_fold_equals_flat(spark):
    """Continuous-aggregate fold: arbitrary tick-batch splits folded via
    refresh_time_bars reproduce the flat recompute EXACTLY (including
    buckets straddling the split, where open/close must resolve through
    the order state)."""
    from simtradedata_spark.operators.resample import (
        refresh_time_bars,
        time_bars_from_ticks,
    )
    from simtradedata_spark.sources.synthetic import SyntheticMarket

    m = SyntheticMarket(spark, n_symbols=3, start="2022-03-01", end="2022-03-04")
    ticks = m.ticks(n_per_day=40).localCheckpoint()
    flat = time_bars_from_ticks(ticks, minutes=30)
    # split mid-bucket: seq 17 lands inside the 13:00 bar
    b1 = ticks.filter(F.col("seq") <= 17)
    b2 = ticks.filter((F.col("seq") > 17) & (F.col("seq") <= 30))
    b3 = ticks.filter(F.col("seq") > 30)
    state = time_bars_from_ticks(b1, minutes=30, with_state=True)
    state = refresh_time_bars(state, b2, minutes=30)
    state = refresh_time_bars(state, b3, minutes=30)
    folded = state.drop("open_ord", "close_ord", "money_e4")
    assert folded.exceptAll(flat).count() == 0
    assert flat.exceptAll(folded).count() == 0


def test_rebucket_stateful_exactly_equals_tick_path(spark):
    """Folding the stateful 1-minute store to any width is bit-identical
    to aggregating the ticks directly at that width — including the
    integer-exact money and half-up vwap (the code-review finding: the
    API's fold path must match the oracle-certified tick path)."""
    from simtradedata_spark.operators.resample import (
        rebucket_minute_bars,
        time_bars_from_ticks,
    )
    from simtradedata_spark.sources.synthetic import SyntheticMarket

    m = SyntheticMarket(spark, n_symbols=3, start="2022-03-01", end="2022-03-08")
    ticks = m.ticks(n_per_day=240).localCheckpoint()
    m1 = time_bars_from_ticks(ticks, minutes=1, with_state=True).localCheckpoint()
    for w in (5, 30, 120):
        folded = rebucket_minute_bars(m1, w)
        direct = time_bars_from_ticks(ticks, minutes=w)
        assert folded.exceptAll(direct).count() == 0, w
        assert direct.exceptAll(folded).count() == 0, w


def test_session_boundary_ticks_clamp_to_adjacent_bar(spark):
    """Auction prints at the session edges (09:25 open, 11:30:00 morning
    close, 15:00:00 closing call) land in the adjacent session bar, never
    a phantom 1500 bar or the 13:00 bar (code-review finding)."""
    from simtradedata_spark.operators.resample import time_bars_from_ticks

    def ts(hh, mm):
        return 20220301 * 10**9 + (hh * 10**7 + mm * 10**5)

    import datetime as dt

    rows = [
        ("A", dt.date(2022, 3, 1), ts(9, 25), 10.0, 100, 1),    # open auction
        ("A", dt.date(2022, 3, 1), ts(11, 30), 11.0, 100, 2),   # morning close
        ("A", dt.date(2022, 3, 1), ts(13, 0), 12.0, 100, 3),
        ("A", dt.date(2022, 3, 1), ts(15, 0), 13.0, 100, 4),    # closing call
    ]
    df = spark.createDataFrame(
        rows, "symbol string, trade_date date, ts_ms long, price double, "
              "qty long, seq int",
    )
    got = {r["bar_time"]: r for r in
           time_bars_from_ticks(df, minutes=1).collect()}
    assert set(got) == {930, 1129, 1300, 1459}
    assert got[1129]["close"] == 11.0   # 11:30 print -> last morning bar
    assert got[1459]["close"] == 13.0   # 15:00 print -> last afternoon bar
    # 30-minute bars: boundary prints fold into the right half-hours
    got30 = {r["bar_time"]: r["n_ticks"] for r in
             time_bars_from_ticks(df, minutes=30).collect()}
    assert got30 == {930: 1, 1100: 1, 1300: 1, 1430: 1}
