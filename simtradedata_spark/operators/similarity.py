"""Similarity search over embedding columns (LLM-pipeline extension,
BASELINE.json north star).

Every search method here (and in pq.py) is one pipeline: a method-specific
CANDIDATE step builds (query, neighbor) pairs carrying ``__qvec`` and
``__cvec``, then shared code scores and ranks them — ``_scored`` adds the
exact cosine ``__sim`` and ``_rank_top_k`` keeps the top k per query (ties
broken by neighbor id, so results are deterministic). The candidate steps:

  - cosine_top_k / hard_negative_top_k (``_brute_scored``): every corpus
    row against the broadcast query set. The query set is small by
    construction; the corpus is never shuffled — each partition scores
    its rows against every query locally.
  - lsh_bucket_top_k: random-hyperplane LSH — only pairs sharing a
    sign-pattern bucket (plus optional Hamming-1 probes) are scored; a
    ~2^bits cut in scored pairs for recall < 1.
  - ivf_top_k / hard_negative_top_k_ivf / ivf_probe_persisted: an IVF
    coarse quantizer (``_quantizer``: driver-side Lloyd's, ``_lloyd``, on
    a bounded sample, plus a broadcast-centroid cell UDF) — only pairs in
    the query's ``n_probe`` nearest cells are scored.
  - pq.py: ADC over product-quantization codes ranks a shortlist, then
    the exact cosine re-rank (``pq._rerank``) reuses ``_scored`` and
    ``_rank_top_k``.

Dot products use built-in higher-order functions (zip_with + aggregate) in
double precision — JVM-side, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from simtradedata_spark.functions.lits import fast_lit


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _queries(df: DataFrame, id_col: str, vec_col: str, *extra) -> DataFrame:
    return df.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec"), *extra
    )


def _corpus(df: DataFrame, id_col: str, vec_col: str, *extra) -> DataFrame:
    return df.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec"), *extra
    )


def _candidates(c: DataFrame, q: DataFrame, on: str | None = None) -> DataFrame:
    """Corpus rows × broadcast query rows sharing ``on`` (every pair when
    None), self-pairs excluded."""
    if on is None:
        return c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
    return c.join(F.broadcast(q), [on]).filter(
        F.col("neighbor_id") != F.col("query_id")
    )


def _scored(pairs: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, __sim) — exact cosine of each pair."""
    return pairs.select(
        "query_id",
        "neighbor_id",
        cosine(F.col("__qvec"), F.col("__cvec")).alias("__sim"),
    )


def _rank_top_k(
    scored: DataFrame,
    k: int,
    score: str = "__sim",
    ascending: bool = False,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """The k best neighbors per query by ``score`` (ties → lowest neighbor
    id) as (query_id, neighbor_id, rank, *keep); rank 1 is the best."""
    order = F.col(score).asc() if ascending else F.col(score).desc()
    w = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", *keep)
    )


def _brute_scored(corpus, queries, id_col, vec_col, query_id_col=None):
    return _scored(
        _candidates(
            _corpus(corpus, id_col, vec_col),
            _queries(queries, query_id_col or id_col, vec_col),
        )
    )


def cosine_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """For each query vector, the k nearest corpus vectors by cosine.

    Returns (query_id, neighbor_id, rank) — rank 1 = nearest; the query row
    itself (same id) is excluded. Ties broken by neighbor id (deterministic).
    """
    return _rank_top_k(
        _brute_scored(corpus, queries, id_col, vec_col, query_id_col), k
    )


def _hyperplanes(dim: int, bits: int, seed: int = 11) -> list[list[float]]:
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def lsh_bucket_key(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id from fixed random hyperplanes (deterministic)."""
    # one-call nested literal for the plane matrix (functions/lits.py —
    # bits × dim individual F.lit py4j round trips cost more driver time
    # than the plan's execution at certification scale; the pq.py finding)
    planes_lit = fast_lit([[float(x) for x in p] for p in planes])
    bits = []
    for i, _p in enumerate(planes):
        proj = _dot(vec, F.element_at(planes_lit, i + 1))
        bits.append(
            F.when(proj >= 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
                F.lit(0).cast("long")
            )
        )
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def lsh_bucket_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
    multi_probe: int = 0,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.
    Same output shape as cosine_top_k; recall < 1 by design.

    ``multi_probe=p`` additionally probes the p single-bit-flip neighbor
    buckets of each QUERY (the standard multi-probe LSH recall lever:
    near-threshold vectors most often differ in exactly one hyperplane
    sign). Cost grows only on the broadcast query side — the corpus is
    never re-bucketed — so recall rises without touching the big relation;
    p = bits probes every Hamming-1 bucket."""
    key = lsh_bucket_key(F.col(vec_col), _hyperplanes(dim, bits, seed))
    c = _corpus(corpus, id_col, vec_col, key.alias("__bucket"))
    q = _queries(queries, id_col, vec_col, key.alias("__bucket"))
    if multi_probe > 0:
        probes = F.array_distinct(
            F.array(
                F.col("__bucket"),
                *[
                    F.col("__bucket").bitwiseXOR(F.lit(1 << i))
                    for i in range(min(multi_probe, bits))
                ],
            )
        )
        q = q.select(
            "query_id", "__qvec", F.explode(probes).alias("__bucket")
        )
    # multi-probe can surface the same pair via several buckets
    scored = _scored(_candidates(c, q, "__bucket")).dropDuplicates(
        ["query_id", "neighbor_id"]
    )
    return _rank_top_k(scored, k)


# Auto IVF sizing: hold the EXPECTED CELL SIZE constant as the corpus grows
# (n_lists = ceil(N / target), FAISS's add-more-lists-as-N-grows rule) so a
# probe's candidate volume stays n_probe x target per query instead of
# n_probe x N/16 — the pinned-16 default was linear-in-N per query and
# therefore quadratic once the query batch itself scales with the corpus
# (hard-negative mining probes anchors ∝ corpus). Same shape as
# semantic_dedup's n_cells="auto" (clustering.py) and bloom_sizing's auto-m
# (sketches.py). The 4096 ceiling matches the quantizer's training
# reservoir: beyond it, cells grow again (N/4096 rows each), which is the
# right degradation — centroid ranking per query stays a bounded GEMM and
# candidate volume stays N/4096 x n_probe, still a 256x cut at any N.
IVF_TARGET_CELL_ROWS = 256


def _resolve_n_lists(corpus: DataFrame, n_lists: int | str) -> int:
    """``"auto"`` → ceil(count/IVF_TARGET_CELL_ROWS) clamped to [4, 4096];
    explicit ints pass through untouched (the pinned-centroid contracts —
    ivf_index_append, rebuild-under-sidecar — depend on that)."""
    if n_lists == "auto":
        n = corpus.count()
        return max(4, min(4096, -(-n // IVF_TARGET_CELL_ROWS)))
    return int(n_lists)


def _lloyd(mat, k, rng, max_iter):
    """Lloyd's k-means on the rows of ``mat``: seeds are k distinct rows
    drawn by ``rng``, an empty cell respawns at a random row. Returns the
    (min(k, rows) × dim) centroid matrix."""
    import numpy as np

    cent = mat[rng.choice(len(mat), size=min(k, len(mat)), replace=False)]
    for _ in range(max_iter):
        # |x-c|^2 = |x|^2 - 2 x·c + |c|^2, and |x|^2 is constant per row
        assign = np.argmin(
            -2.0 * (mat @ cent.T) + (cent * cent).sum(axis=1), axis=1
        )
        for j in range(len(cent)):
            members = mat[assign == j]
            cent[j] = members.mean(axis=0) if len(members) else mat[
                rng.integers(len(mat))
            ]
    return cent


def _train_centroids(corpus, vec_col, n_lists, seed, max_iter, train_cap=4096):
    """Driver-side Lloyd's on a bounded reservoir (IVF quantizers always
    train on a sample, not the corpus). Returns the (k_eff × dim) centroid
    matrix."""
    import numpy as np

    mat = np.stack(
        corpus.select(vec_col).limit(train_cap).toPandas()[vec_col].to_numpy()
    ).astype(np.float64)
    return _lloyd(mat, n_lists, np.random.default_rng(seed), max_iter)


def _cell_udf(corpus, cent):
    """Broadcast-centroid cell assignment as an Arrow-batched pandas UDF
    (narrow — no shuffle)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cent_b = corpus.sparkSession.sparkContext.broadcast(cent)

    def _cell_fn(vecs):
        c_ = cent_b.value
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        return pd.Series(
            np.argmin(-2.0 * (m @ c_.T) + (c_ * c_).sum(axis=1), axis=1)
        ).astype("int32")

    # annotations set explicitly: `from __future__ import annotations` would
    # stringify inline hints and break pandas_udf eval-type inference
    _cell_fn.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    return pandas_udf(_cell_fn, "int")


def _quantizer(corpus, vec_col, n_lists, seed, max_iter):
    """The IVF coarse quantizer: resolve ``n_lists``, train on a reservoir
    sized to it (Lloyd's wants >=~16 samples per centroid or empty-cell
    respawns dominate; capped so the driver-side GEMM stays seconds at the
    4096-list ceiling) and return (centroids, cell-assignment UDF)."""
    n_lists = _resolve_n_lists(corpus, n_lists)
    train_cap = max(4096, min(16 * n_lists, 65536))
    cent = _train_centroids(corpus, vec_col, n_lists, seed, max_iter, train_cap)
    return cent, _cell_udf(corpus, cent)


def _probes_frame(queries, id_col, vec_col, cent, n_probe, cell_col):
    """Rank cells per query driver-side (query batch bounded by contract,
    centroid matrix tiny) and ship the exploded (query, probe-cell) frame.
    ``__qvec`` keeps the queries' NATIVE vector element type — truncating
    to float32 here would break the exhaustive-probe ≡ brute-force
    contract for double-typed embeddings."""
    import numpy as np

    cent_n = cent / np.linalg.norm(cent, axis=1, keepdims=True)
    qpdf = _queries(queries, id_col, vec_col).toPandas()
    qmat = np.stack(qpdf["__qvec"].to_numpy()).astype(np.float64)
    qmat /= np.linalg.norm(qmat, axis=1, keepdims=True)
    order = np.argsort(-(qmat @ cent_n.T), axis=1)[:, :n_probe]
    spark = queries.sparkSession
    vec_type = queries.schema[vec_col].dataType.simpleString()
    return spark.createDataFrame(
        [(qid, [float(x) for x in vec], [int(c_) for c_ in cells])
         for qid, vec, cells in zip(qpdf["query_id"], qpdf["__qvec"], order)],
        f"query_id {queries.schema[id_col].dataType.simpleString()}, "
        f"__qvec {vec_type}, __cells array<int>",
    ).select("query_id", "__qvec", F.explode("__cells").alias(cell_col))


def ivf_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int | str = "auto",
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
    max_iter: int = 5,
) -> DataFrame:
    """IVF (inverted-file) ANN: a k-means coarse quantizer partitions the
    corpus into ``n_lists`` cells; each query scores only the cells whose
    centroids are nearest (``n_probe`` of them). Same output shape as
    cosine_top_k; with n_probe == n_lists the result is exactly brute force
    (tested), smaller n_probe trades recall for a ~n_lists/n_probe scan cut.
    ``n_lists="auto"`` (default) holds the cell size at IVF_TARGET_CELL_ROWS
    as the corpus grows (see ``_resolve_n_lists``); recall floors under auto
    sizing are pinned at 1x and 10x in tests/test_ann_recall.py.

    Scale shape (FAISS-style): the quantizer trains DRIVER-SIDE on a bounded
    sample (no Spark-ML iteration jobs); assignment is a broadcast-centroid
    GEMM in Arrow batches (narrow, no shuffle); candidate selection is an
    equi-join corpus-cell = probed-cell — the same shuffle-join-on-bucket
    skeleton as the LSH variant. For repeated query batches persist the
    assignment once with ``build_ivf_index`` and probe the cell-partitioned
    table (``ivf_probe_persisted``) instead.
    """
    scored = _ivf_scored(
        corpus, queries, n_lists, n_probe, id_col, vec_col, seed, max_iter
    )
    return _rank_top_k(scored, k)


def _ivf_scored(
    corpus, queries, n_lists, n_probe, id_col, vec_col, seed, max_iter
) -> DataFrame:
    """Shared IVF candidate-scoring plan: (query_id, neighbor_id, __sim)
    for every corpus vector in the query's probed cells."""
    cent, cell = _quantizer(corpus, vec_col, n_lists, seed, max_iter)
    c = _corpus(corpus, id_col, vec_col, cell(F.col(vec_col)).alias("__cell"))
    probes = _probes_frame(queries, id_col, vec_col, cent, n_probe, "__cell")
    return _scored(_candidates(c, probes, "__cell"))


def quantize_int8(vec: Column, scale: Column) -> Column:
    """Symmetric per-vector int8 quantization: q = round(x/scale), scale =
    max|x|/127. Pure column expressions — narrow, codegen'd, no shuffle.
    int8 storage is 4× smaller than float32, the standard first rung of
    ANN memory scaling (dequant error ≤ scale/2 per element)."""
    return F.transform(
        vec, lambda x: F.round(x.cast("double") / scale).cast("tinyint")
    )


def int8_scale(vec: Column) -> Column:
    """Per-vector symmetric scale max|x|/127 (double; 0-vectors → scale 0,
    guarded to 1 to keep q = 0 instead of NaN)."""
    maxabs = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    return F.when(maxabs > 0, maxabs / F.lit(127.0)).otherwise(F.lit(1.0))


def dequantize_int8(q: Column, scale: Column) -> Column:
    return F.transform(q, lambda v: v.cast("double") * scale)


def build_ivf_index(
    corpus: DataFrame,
    out_path: str,
    n_lists: int | str = "auto",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
    max_iter: int = 5,
    centroids=None,
) -> None:
    """Persist the IVF index: the corpus written ``partitionBy(cell)`` so a
    probe READS ONLY THE PROBED CELL DIRECTORIES (partition pruning at the
    file listing — the scan-time realization of IVF's "visit n_probe of
    n_lists" promise), plus the trained centroids as a JSON sidecar. Train
    and assign once; every query batch then prunes ~(1 − n_probe/n_lists)
    of the corpus bytes before any I/O happens.

    ``centroids`` (a k×dim array) skips training and pins the quantizer —
    the rebuild/compaction path: an index rewritten under its existing
    sidecar centroids assigns every vector to the same cell it already
    lives in, so rebuilds never drift the cell structure (and
    ivf_index_append's incremental result can be byte-compared against
    a from-scratch rebuild in tests). ``n_lists`` is ignored then — the
    sidecar IS the cell structure, auto-built or explicit alike."""
    import json
    import os

    import numpy as np

    if centroids is not None:
        cent = np.asarray(centroids, dtype=np.float64)
        cell = _cell_udf(corpus, cent)
    else:
        cent, cell = _quantizer(corpus, vec_col, n_lists, seed, max_iter)
    (
        corpus.select(
            F.col(id_col), F.col(vec_col), cell(F.col(vec_col)).alias("cell")
        )
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(os.path.join(out_path, "vectors"))
    )
    with open(os.path.join(out_path, "centroids.json"), "w") as fh:
        json.dump([[float(x) for x in c] for c in cent], fh)


def ivf_index_append(
    spark,
    index_path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Incrementally fold a new vector batch into a persisted IVF index —
    the embedding-side analog of dedup.minhash_index/minhash_probe_index
    (daily-ingest cost scales with the BATCH, never the corpus):

      1. assign the batch to cells under the EXISTING sidecar centroids
         (the quantizer is pinned at build time — FAISS's add-vs-train
         split; a drifting quantizer would silently orphan old cells);
      2. heal-append: only batch ids NOT already present are written —
         the presence check reads ONLY the batch's own cell partitions
         (partition-pruned, like ingest-ticks' anti-join heal), so a
         crashed-and-retried append converges instead of duplicating;
      3. append cell-partitioned files; existing files are never touched
         (probes see old cells byte-identically, asserted in tests).

    Returns the number of vectors actually appended. Centroids are NOT
    retrained: recall degrades only as the data distribution drifts from
    the training sample, at which point a rebuild (build_ivf_index with
    fresh training) is the operational answer — the same
    fold-then-periodic-rebuild shape as the minute-bar ingest."""
    import json
    import os

    import numpy as np

    with open(os.path.join(index_path, "centroids.json")) as fh:
        cent = np.asarray(json.load(fh), dtype=np.float64)
    _cell = _cell_udf(new_vectors, cent)
    # checkpoint the cell assignment once: without it, the Arrow UDF pass
    # over the batch re-executes for the touched-cells collect, the count,
    # and the write (and the pruned `existing` read runs twice)
    batch = new_vectors.select(
        F.col(id_col), F.col(vec_col), _cell(F.col(vec_col)).alias("cell")
    ).localCheckpoint(eager=True)
    vec_dir = os.path.join(index_path, "vectors")
    touched = sorted({r["cell"] for r in batch.select("cell").distinct().collect()})
    existing = (
        spark.read.parquet(vec_dir)
        .filter(F.col("cell").isin(touched))
        .select(id_col)
    )
    to_add = batch.join(existing, id_col, "left_anti").localCheckpoint(eager=True)
    n_new = to_add.count()
    if n_new:
        to_add.write.mode("append").partitionBy("cell").parquet(vec_dir)
    return n_new


def ivf_probe_persisted(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN over a persisted IVF index (``build_ivf_index`` output): rank
    cells per query against the centroid sidecar, then read ONLY the probed
    cell partitions and score within them. The ``cell IN (...)`` predicate
    is a partition filter, so unprobed cells contribute zero input files
    (asserted via inputFiles in tests)."""
    import json
    import os

    import numpy as np

    with open(os.path.join(index_path, "centroids.json")) as fh:
        cent = np.asarray(json.load(fh), dtype=np.float64)
    probes = _probes_frame(queries, id_col, vec_col, cent, n_probe, "cell")
    needed = sorted({r["cell"] for r in probes.select("cell").distinct().collect()})
    vectors = spark.read.parquet(os.path.join(index_path, "vectors")).filter(
        F.col("cell").isin(needed)
    )
    c = _corpus(vectors, id_col, vec_col, "cell")
    return _rank_top_k(_scored(_candidates(c, probes, "cell")), k)


def hard_negative_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    max_sim: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Contrastive-training HARD negatives: for each query, the k most
    similar corpus vectors whose cosine is still BELOW ``max_sim`` — close
    enough to be informative, far enough to be true negatives (the rank
    runs over the filtered set, so a query surrounded by near-dups still
    yields k genuine negatives, unlike top-k-then-filter). Same
    brute-force shape as cosine_top_k; swap the corpus for an ANN
    candidate set at scale."""
    scored = _brute_scored(corpus, queries, id_col, vec_col)
    return _rank_top_k(scored.filter(F.col("__sim") < max_sim), k)


def hard_negative_top_k_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    max_sim: float = 0.45,
    n_lists: int | str = "auto",
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
    max_iter: int = 5,
) -> DataFrame:
    """The PRODUCTION form of ``hard_negative_top_k``: candidates come from
    the query's ``n_probe`` nearest IVF cells instead of the whole corpus,
    then the same filter-below-``max_sim``-and-rank. Hard negatives are by
    definition the most-similar true negatives, so they concentrate in the
    same nearest cells an ANN probe visits — recall against the brute-force
    answer is pinned by tests/test_ann_recall.py, and ``n_probe == n_lists``
    reproduces brute force exactly (tested). Cost scales with corpus ×
    n_probe/n_lists rather than corpus × queries: the linear-at-10× variant
    every other all-pairs family already ships. ``n_lists="auto"`` keeps
    that cut proportional as the corpus grows — with anchors ∝ corpus and
    lists pinned, candidate volume would be N²·n_probe/n_lists."""
    scored = _ivf_scored(
        corpus, queries, n_lists, n_probe, id_col, vec_col, seed, max_iter
    )
    return _rank_top_k(scored.filter(F.col("__sim") < max_sim), k)
