"""Similarity search over embedding columns (array<float>).

- cosine_topk_bruteforce — exact top-k: broadcast the (small) query
  set, dot products via native ``zip_with``/``aggregate`` (JVM,
  codegen), rank with a window. The correctness baseline.
- lsh_ann_topk — random-hyperplane LSH: signatures via one vectorized
  pandas UDF (numpy matmul over Arrow batches), candidates bucket-join
  only, exact rerank inside buckets. The scale path: the corpus is
  never self-joined.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )


def _cosine_pd(a: "pd.Series", b: "pd.Series") -> "pd.Series":
    """Arrow-batched cosine, BITWISE-identical to the native
    ``_dot(a,b) / (_norm(a) * _norm(b))`` expression.

    The native fold multiplies the float32 elements pairwise (FloatType
    × FloatType → FloatType, i.e. a float32 rounding per product) and
    accumulates LEFT-TO-RIGHT into a float64 (``F.lit(0.0)`` promotes
    the fold). Emulated exactly: float32 products, float64 accumulator,
    sequential over dimensions but vectorized across rows — so the
    column-at-a-time loop below is ~3·dim numpy ops per Arrow batch
    where Catalyst interprets a ~3·dim-node HOF expression tree PER ROW
    (higher-order functions don't codegen). Measured at 2M×64f corpus,
    100 queries, interleaved A/B: LSH rerank 137s → 9.6s, IVF query
    27.0s → 16.6s; brute-force (where the 200M-pair Arrow transfer of
    both arrays offsets the compute win) is a wash — kept anyway for
    one scorer everywhere. Bit parity with the native fold is
    test-locked (test_training_ops cosine twin lock); callers keep
    ``F.round`` on the returned double so oracle hashes are
    unchanged."""
    if not len(a):
        return pd.Series([], dtype=np.float64)
    ma = np.stack(a.values).astype(np.float32, copy=False)
    mb = np.stack(b.values).astype(np.float32, copy=False)
    acc = np.zeros(len(ma), dtype=np.float64)
    na = np.zeros(len(ma), dtype=np.float64)
    nb = np.zeros(len(ma), dtype=np.float64)
    for j in range(ma.shape[1]):
        xa, xb = ma[:, j], mb[:, j]
        acc += (xa * xb).astype(np.float64)
        na += (xa * xa).astype(np.float64)
        nb += (xb * xb).astype(np.float64)
    return pd.Series(acc / (np.sqrt(na) * np.sqrt(nb)))


def _cosine(a, b):
    """Cosine column: pandas-UDF fast path with native-fold bit parity."""
    from pyspark.sql.pandas.functions import pandas_udf

    return pandas_udf(_cosine_pd, "double")(a, b)


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query. queries is small → broadcast; the
    corpus is scanned once, no shuffle except the final per-query top-k."""
    q = F.broadcast(
        queries.select(F.col(query_id_col), F.col(vec_col).alias("_qv"))
    )
    c = corpus.select(F.col(id_col), F.col(vec_col).alias("_cv"))
    scored = c.crossJoin(q).select(
        query_id_col,
        id_col,
        F.round(_cosine(F.col("_qv"), F.col("_cv")), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((dim, n_planes)).astype(np.float32)


def lsh_banded_signatures(
    df: DataFrame,
    dim: int,
    n_planes: int = 12,
    n_bands: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """Banded random-hyperplane signatures: ``n_bands`` independent
    ``n_planes``-bit buckets per vector (OR-amplification — a candidate
    pair needs to collide in ANY band, the same band construction as
    MinHash LSH). One pandas UDF emits all bands as an array; explode
    gives (id, vec, band, bucket)."""
    bands = [_hyperplanes(dim, n_planes, seed + 1000 * b) for b in range(n_bands)]
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    from pyspark.sql.pandas.functions import pandas_udf

    def _sig_fn(v: pd.Series) -> pd.Series:
        m = np.stack(v.values).astype(np.float32)
        out = [((m @ p) > 0) @ weights for p in bands]
        return pd.Series(np.stack(out, axis=1).tolist())

    sig_udf = pandas_udf(_sig_fn, "array<long>")
    return df.select(
        F.col(id_col), F.col(vec_col), F.posexplode(sig_udf(F.col(vec_col)))
    ).withColumnsRenamed({"pos": "band", "col": "bucket"})


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 7,
    n_bands: int = 3,
) -> DataFrame:
    """Approximate top-k: candidates = query/corpus bucket collisions in
    ANY of ``n_bands`` independent hyperplane bands (OR-amplified —
    single-probe recall sags as corpora grow; banding recovers it at
    the cost of ~n_bands candidate multiplicity), then exact cosine
    rerank over the deduped candidate set."""
    c = lsh_banded_signatures(corpus, dim, n_planes, n_bands, id_col, vec_col, seed)
    q = lsh_banded_signatures(
        queries, dim, n_planes, n_bands, query_id_col, vec_col, seed
    ).select(query_id_col, F.col(vec_col).alias("_qv"), "band", "bucket")
    cand = (
        c.join(F.broadcast(q), ["band", "bucket"])
        .dropDuplicates([query_id_col, id_col])
    )
    scored = cand.select(
        query_id_col,
        id_col,
        F.round(_cosine(F.col("_qv"), F.col(vec_col)), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def ivf_train_centroids(
    corpus: DataFrame,
    dim: int,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    sample_rows: int = 100_000,
    iters: int = 10,
    seed: int = 7,
    approx_count: int | None = None,
) -> np.ndarray:
    """Coarse quantizer for IVF: k-means on a bounded sample.

    The sample is size-capped (the standard IVF recipe — train on
    ~100k vectors regardless of corpus size), so driver memory and
    training time are O(sample), not O(corpus). Deterministic seed.

    The sample is a RANDOM sample, not ``limit()``: limit takes the
    first partitions in scan order, so on sorted/clustered input the
    quantizer would train on one region of the space and recall
    silently degrades. A seeded Bernoulli sample sized from a cheap
    count keeps determinism and coverage.

    ``approx_count``: callers that already know the corpus size (even
    roughly — it only sets the sampling fraction) pass it to skip the
    count job."""
    n = approx_count if approx_count is not None else corpus.select(vec_col).count()
    sampled = corpus.select(vec_col)
    if n > sample_rows:
        # no limit() after the sample either — limit takes rows in scan
        # order, which would re-bias a clustered corpus toward its
        # leading clusters; the Bernoulli sample's size variance is
        # capped driver-side instead
        sampled = sampled.sample(fraction=min(1.0, 1.1 * sample_rows / n), seed=seed)
    frac_sample = sampled.toPandas()
    x = np.stack(frac_sample[vec_col].values).astype(np.float32)
    rng = np.random.RandomState(seed)
    if len(x) > sample_rows:
        x = x[rng.choice(len(x), size=sample_rows, replace=False)]
    # k-means++-style farthest-first init: random inits can seed two
    # centroids in one cluster and strand another (k-means never
    # recovers without reseeding); picking each next center as the
    # point farthest (min cosine sim) from the chosen set covers every
    # well-separated cluster deterministically.
    k = min(n_centroids, len(x))
    xn0 = x / (np.linalg.norm(x, axis=1, keepdims=True) + 1e-12)
    idx = [int(rng.randint(len(x)))]
    best_sim = xn0 @ xn0[idx[0]]
    for _ in range(1, k):
        nxt = int(np.argmin(best_sim))
        idx.append(nxt)
        best_sim = np.maximum(best_sim, xn0 @ xn0[nxt])
    cents = x[idx].copy()
    for _ in range(iters):
        # cosine assignment: normalize then argmax dot
        xn = x / (np.linalg.norm(x, axis=1, keepdims=True) + 1e-12)
        cn = cents / (np.linalg.norm(cents, axis=1, keepdims=True) + 1e-12)
        assign = (xn @ cn.T).argmax(axis=1)
        for c in range(len(cents)):
            m = assign == c
            if m.any():
                cents[c] = x[m].mean(axis=0)
    return cents.astype(np.float32)


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    n_probe: int = 1,
    list_col: str = "ivf_list",
) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest centroid lists
    (one vectorized pandas UDF, BLAS matmul per Arrow batch)."""
    from pyspark.sql.pandas.functions import pandas_udf

    cn = centroids / (np.linalg.norm(centroids, axis=1, keepdims=True) + 1e-12)

    def _assign(v: pd.Series) -> pd.Series:
        m = np.stack(v.values).astype(np.float32)
        mn = m / (np.linalg.norm(m, axis=1, keepdims=True) + 1e-12)
        sims = mn @ cn.T
        top = np.argsort(-sims, axis=1)[:, :n_probe]
        return pd.Series(top.tolist())

    udf = pandas_udf(_assign, "array<int>")
    out = df.withColumn("_lists", udf(F.col(vec_col)))
    return out.select("*", F.explode("_lists").alias(list_col)).drop("_lists")


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 7,
    approx_count: int | None = None,
) -> DataFrame:
    """IVF approximate top-k — the inverted-file scale path: corpus
    vectors partition into n_centroids lists (1 list each); each query
    probes its n_probe nearest lists; exact cosine rerank inside the
    probed lists. Shuffle carries only (list, vector) co-location —
    the corpus is never self-joined or broadcast. Recall rises with
    n_probe (n_probe = n_centroids degenerates to exact search).
    ``approx_count`` (optional corpus size, even rough) skips the
    quantizer's sizing count job."""
    cents = ivf_train_centroids(
        corpus, dim, n_centroids, vec_col, seed=seed, approx_count=approx_count
    )
    c = ivf_assign(corpus, cents, vec_col, n_probe=1).select(
        id_col, vec_col, "ivf_list"
    )
    q = ivf_assign(queries, cents, vec_col, n_probe=n_probe).select(
        query_id_col, F.col(vec_col).alias("_qv"), "ivf_list"
    )
    # (query, vec) pairs out of this join are UNIQUE by construction —
    # each corpus vector lives in exactly one list (n_probe=1 above)
    # and a query's probed lists are argsort-distinct — so no dedup is
    # needed. A dropDuplicates here was a full exchange of every
    # candidate row still carrying BOTH embedding arrays (~15 GB at
    # 2M docs x 100 queries, measured 172s -> 36s for the whole query
    # stage when removed); scoring now projects the arrays away
    # map-side and the only exchange left is the narrow per-query
    # top-k window.
    cand = c.join(F.broadcast(q), "ivf_list")
    scored = cand.select(
        query_id_col,
        id_col,
        F.round(_cosine(F.col("_qv"), F.col(vec_col)), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )
