"""Deduplication operators for large-scale text corpora.

Beyond the reference's exact statement dedup (A1/A3,
PipelineUtils.java:338-415), these are the near-dup operators a
training-data pipeline needs. All hashing is JVM-native
(``xxhash64`` — whole-stage codegen, no Python in the hot path);
only final candidate verification may touch Python.

- exact_dedup        hash-groupBy keep-min-id (A1 analogue)
- minhash_signatures shingle → k minhashes (k seeded xxhash64 mins)
- lsh_candidate_pairs band the signatures → bucket-join → pairs
- minhash_dedup      end-to-end near-dup clusters (pairs → CC → canon)
- simhash            64-bit bit-vote fingerprint, native agg
- ngram_jaccard_pairs exact n-gram Jaccard for candidate pairs
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from import_spark.operators.canonicalize import (
    connected_components,
    connected_components_fast,
)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate removal: keep the min id per identical text.

    Groups by (64-bit hash, text): the shuffle is still keyed
    primarily by the hash, map-side partial aggregation collapses
    most duplicates before the exchange, and two distinct texts that
    collide on xxhash64 stay distinct rows (collision-safe). min(id)
    makes the kept id deterministic across runs.
    """
    h = F.xxhash64(F.col(text_col))
    return (
        df.withColumn("_h", h)
        .groupBy("_h", text_col)
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
        .drop("_h")
        .select(id_col, text_col, "n_copies")
    )


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 5) -> DataFrame:
    """Word k-shingles, distinct per doc (native split + slide window).

    The token array is materialized as its own projection BEFORE the
    window transform: inlining the split expression into the per-window
    lambda makes Catalyst re-tokenize the text once per window position
    — O(words²) per document (measured 8.5s → 1s on 5k docs)."""
    from import_spark.operators.skew import widen_narrow_input

    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda w: w != "")
    t = widen_narrow_input(df).select(F.col(id_col), toks.alias("_toks"))
    n = F.size(F.col("_toks"))
    # 1-based window starts; docs shorter than k yield no shingles
    starts = F.when(n >= k, F.sequence(F.lit(1), n - k + 1)).otherwise(
        F.array().cast("array<int>")
    )
    sh = F.transform(starts, lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i, k)))
    return (
        t.select(F.col(id_col), F.explode(sh).alias("shingle"))
        .dropDuplicates([id_col, "shingle"])
    )


def minhash_signatures(
    sh: DataFrame, id_col: str = "doc_id", num_hashes: int = 32
) -> DataFrame:
    """k min-hashes per doc: min over seeded xxhash64 of each shingle —
    one aggregation, all JVM-side."""
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    band_size: int = 4,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Band the signature into ``num_hashes/band_size`` buckets; docs
    sharing any band bucket are candidates. Self-join happens only
    inside buckets (bounded by bucket size, the LSH point).

    Hot-bucket cap: a degenerate bucket of B members (empty docs,
    boilerplate) would emit B²/2 pairs. Buckets larger than
    ``max_bucket_size`` instead emit a *star* — every member paired
    with the bucket's min id — which preserves connectivity for the
    downstream connected-components step at O(B) pairs. Such members
    are near-certain duplicates of each other anyway.
    """
    n_bands = num_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.col(f"mh_{b * band_size + j}") for j in range(band_size)]
                ).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    exploded = sigs.select(F.col(id_col), F.explode(bands).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    # per-(band,bucket) size + min id — one extra agg on the already
    # shuffled keys; AQE reuses the exchange.
    stats = exploded.groupBy("band", "bucket").agg(
        F.count("*").alias("_bsz"), F.min(id_col).alias("_bmin")
    )
    tagged = exploded.join(stats, ["band", "bucket"])
    small = tagged.filter(F.col("_bsz") <= max_bucket_size)
    big = tagged.filter(F.col("_bsz") > max_bucket_size)

    a = small.alias("a")
    b = small.alias("b")
    small_pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
    star_pairs = big.filter(F.col(id_col) != F.col("_bmin")).select(
        F.col("_bmin").alias("id_a"), F.col(id_col).alias("id_b")
    )
    return small_pairs.unionByName(star_pairs).dropDuplicates(["id_a", "id_b"])


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 32,
    band_size: int = 4,
    jaccard_threshold: float | None = None,
) -> DataFrame:
    """Near-dup clustering: LSH pairs → [exact-Jaccard verify] →
    connected components → (doc, canon).

    ``jaccard_threshold`` enables the standard post-LSH verify: exact
    n-gram Jaccard is computed only on candidate pairs and pairs below
    the threshold are discarded — this removes LSH false positives, so
    (up to the tiny LSH miss probability) the output equals exact
    all-pairs Jaccard clustering, without the O(n²) join.

    Tries the size-gated driver union-find first (alias graphs are
    tiny relative to the corpus); falls back to the distributed
    large-star/small-star kernel above the gate. Ids ride as zero-padded strings so
    the CC min-id canon equals the numeric minimum.
    """
    # NOTE: the verify step recomputes the shingle table from scratch —
    # measured 4.5x FASTER than persist()-and-reuse, because a cached
    # relation blocks AQE from broadcasting the (tiny) candidate-pair
    # side into the shingle joins; recompute keeps the whole verify in
    # one adaptively-planned stage.
    sh = shingles(df, text_col, id_col, k)
    sigs = minhash_signatures(sh, id_col, num_hashes)
    pairs = lsh_candidate_pairs(sigs, id_col, num_hashes, band_size)
    if jaccard_threshold is not None:
        verified = ngram_jaccard_pairs(df, pairs, text_col, id_col, k)
        pairs = verified.filter(F.col("jaccard") >= jaccard_threshold)
    # zero-padding makes string min == numeric min ONLY for
    # non-negative numeric ids; string ids would throw
    # IllegalFormatConversionException deep inside a task, so fail
    # fast with a clear contract error instead
    id_type = df.schema[id_col].dataType.simpleString()
    if id_type not in ("int", "bigint", "smallint", "tinyint"):
        raise ValueError(
            f"minhash_dedup requires a numeric {id_col!r} column "
            f"(got {id_type}): the min-id canon rides as a zero-padded string"
        )
    pad = "%020d"
    edges = pairs.select(
        F.format_string(pad, F.col("id_a")).alias("src"),
        F.format_string(pad, F.col("id_b")).alias("dst"),
    )
    comp = connected_components_fast(edges)
    if comp is None:
        comp = connected_components(edges)
    return comp.select(
        F.col("node").cast("long").alias(id_col), F.col("canon").cast("long").alias("canon_id")
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash fingerprint: per-token 64-bit hash, per-bit ±1 vote,
    sign → bit. Expressed as one explode + one aggregation with
    ``bits`` native sum expressions (no Python).

    ``hash_fn``: "xxhash64" (default — fastest, JVM-side) or "sha256"
    (the first 16 hex chars of sha2; slower but bit-identical across
    engines, which makes the whole tokenize→vote→pack pipeline
    verifiable against a DuckDB twin — xxhash64 has no DuckDB
    equivalent)."""
    from import_spark.operators.skew import widen_narrow_input

    toks = widen_narrow_input(df).select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    if hash_fn == "xxhash64":
        toks = toks.withColumn("_h", F.xxhash64("tok"))

        def bit(i):
            return F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1)) == 1

    elif hash_fn == "sha256":
        if bits > 64:
            raise ValueError("sha256 mode packs at most 64 bits")
        toks = toks.withColumn("_hx", F.sha2(F.col("tok"), 256))
        # hex-digit values d0..d15 (big-endian); avoids 64-bit int
        # parsing so the same arithmetic runs in any SQL engine
        a = lambda p: F.ascii(F.substring(F.col("_hx"), p + 1, 1))  # noqa: E731
        toks = toks.withColumns(
            {f"_d{j}": F.when(a(j) >= 97, a(j) - 87).otherwise(a(j) - 48) for j in range(16)}
        )

        def bit(i):
            return F.shiftright(F.col(f"_d{15 - i // 4}"), i % 4).bitwiseAND(F.lit(1)) == 1

    else:
        raise ValueError(f"unknown hash_fn: {hash_fn}")
    votes = [
        F.sum(F.when(bit(i), 1).otherwise(-1)).alias(f"b{i}") for i in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*votes)
    sig = None
    for i in range(bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sig = term if sig is None else sig.bitwiseXOR(term)
    return agg.select(F.col(id_col), sig.alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for given candidate pairs (the verify step
    after LSH): |A∩B| via shingle co-join, |A∪B| = |A|+|B|-|A∩B|.
    Pass ``shingles_df`` to reuse an already-computed shingle table."""
    sh = shingles_df if shingles_df is not None else shingles(df, text_col, id_col, k)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n"))
    a = sh.withColumnRenamed(id_col, "id_a")
    b = sh.withColumnRenamed(id_col, "id_b")
    inter = (
        pairs.join(a, "id_a")
        .join(b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("n", "n_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("n", "n_b"), "id_b")
        .withColumn("n_union", F.col("n_a") + F.col("n_b") - F.col("n_common"))
        .withColumn("jaccard", F.round(F.col("n_common") / F.col("n_union"), 6))
        .select("id_a", "id_b", "n_common", "n_union", "jaccard")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate detection
# ---------------------------------------------------------------------------


def embedding_near_dup_pairs_exact(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact near-dup pairs: all (a < b) with cosine ≥ threshold —
    the O(n²) correctness baseline (the scale path is
    embedding_near_dup's banded LSH).

    Shape: broadcast the unit-normalized corpus matrix, then
    ``mapInPandas`` computes each partition-block × corpus as ONE BLAS
    matmul — no per-pair JVM lambda evaluation (an ``F.aggregate``
    zip-dot over the broadcast self-join is ~100× slower at 2k
    vectors). Each unordered pair is emitted exactly once, by the block
    that holds the smaller id. O(n²) flops still bounds the corpus side
    to what one executor can hold (~10M×64 floats ≈ 2.5 GB); beyond
    that use the LSH path."""
    import numpy as np
    import pandas as pd

    id_type = emb.schema[id_col].dataType.simpleString()
    id_dtype = np.int64 if id_type in ("int", "bigint", "smallint", "tinyint") else object
    rows = emb.select(id_col, vec_col).collect()
    if not rows:  # norm(axis=1) on a 0-d array would raise AxisError
        return emb.sparkSession.createDataFrame(
            [], f"a {id_type}, b {id_type}, cosine double"
        )
    ids = np.array([r[0] for r in rows], dtype=id_dtype)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = 1.0
    unit = mat / norms[:, None]
    sc = emb.sparkSession.sparkContext
    b_ids, b_unit = sc.broadcast(ids), sc.broadcast(unit)
    # pre-round candidate gate: round(c,4) >= t  ⟺  floor(c*1e4+0.5) >= t*1e4
    # ⟸ (with slack for float error) c >= t - 0.5e-4 - slack. Candidates are
    # selected with the cheap raw comparison; the exact round-half-up value is
    # computed only for the surviving ~0.1% of entries, so the full n_block×n
    # matrix never pays the floor/multiply passes.
    pre_thr = threshold - 0.5e-4 - 1e-9

    def _block_pairs(batches):
        all_ids, all_unit = b_ids.value, b_unit.value
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.array(list(pdf[vec_col]), dtype=np.float64)
            qn = np.linalg.norm(q, axis=1)
            qn[qn == 0.0] = 1.0
            cos = (q / qn[:, None]) @ all_unit.T
            qids = pdf[id_col].to_numpy(dtype=id_dtype)
            bi, bj = np.nonzero(cos >= pre_thr)
            if not len(bi):
                continue
            keep = qids[bi] < all_ids[bj]
            bi, bj = bi[keep], bj[keep]
            cand = np.floor(cos[bi, bj] * 1e4 + 0.5) / 1e4  # round-half-up like F.round
            hit = cand >= threshold
            if hit.any():
                yield pd.DataFrame(
                    {"a": qids[bi[hit]], "b": all_ids[bj[hit]], "cosine": cand[hit]}
                )

    # the input is typically a handful of scan partitions; spread the O(n²)
    # block work over every core (each task multiplies its id block against
    # the broadcast corpus — guide §2: the single-task matmul was the wall)
    n_part = emb.sparkSession.sparkContext.defaultParallelism
    return (
        emb.select(id_col, vec_col)
        .repartition(n_part)
        .mapInPandas(_block_pairs, schema=f"a {id_type}, b {id_type}, cosine double")
    )


def embedding_near_dup(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 10,
    n_bands: int = 6,
    seed: int = 7,
    max_bucket: int = 2000,
) -> DataFrame:
    """Scale-path embedding near-dup → (vec_id, canon) keep-map.

    Shape mirrors minhash_dedup: banded hyperplane-LSH buckets
    (candidates = same (band, bucket) — never an all-pairs join), hot
    buckets capped at ``max_bucket`` (degenerate all-identical buckets
    are near-certain duplicates — they emit O(B) star edges to the
    bucket minimum, the minhash cap policy, instead of the quadratic
    pair blowup), exact-cosine verification of candidates, connected
    components over verified edges. The canon is the LEXICOGRAPHIC
    minimum of the stringified ids (the oracle-locked contract; ids
    ride CC as strings), and the returned id column is string-typed —
    callers needing the numeric minimum should zero-pad ids first, as
    minhash_dedup does."""
    from import_spark.operators.canonicalize import (
        connected_components,
        connected_components_fast,
    )
    from import_spark.operators.similarity import _cosine, lsh_banded_signatures

    dim_row = emb.select(F.size(vec_col).alias("d")).first()
    if dim_row is None:
        return emb.sparkSession.createDataFrame([], f"{id_col} string, canon string")
    sig = lsh_banded_signatures(
        emb, dim_row["d"], n_planes, n_bands, id_col, vec_col, seed
    )
    counts = sig.groupBy("band", "bucket").agg(F.count("*").alias("_n"))
    hot_keys = F.broadcast(
        counts.filter(F.col("_n") > max_bucket).select("band", "bucket")
    )
    # hot buckets: same policy as minhash_dedup's cap — an over-cap
    # (band, bucket) is a near-certain duplicate cluster, so emit O(B)
    # unverified star edges to the bucket minimum instead of either the
    # quadratic pair join OR (the former bug) dropping the bucket and
    # detecting zero duplicates for exactly the most-duplicated vectors
    star = (
        sig.join(hot_keys, ["band", "bucket"])
        .select("band", "bucket", F.col(id_col).cast("string").alias("_m"))
        .withColumn("_hub", F.min("_m").over(Window.partitionBy("band", "bucket")))
        .filter(F.col("_m") != F.col("_hub"))
        .select(F.col("_hub").alias("src"), F.col("_m").alias("dst"))
        .distinct()
    )
    sig = sig.join(hot_keys, ["band", "bucket"], "left_anti")
    # candidate DEDUP runs on the narrow (a, b) ids only — the wide
    # embedding arrays never ride the dropDuplicates exchange (the
    # measured ivf_ann_topk lesson, similarity.py) — and the vectors
    # join back for the cosine verify afterwards
    s2 = sig.select("band", "bucket", F.col(id_col).alias("b"))
    cand = (
        sig.select("band", "bucket", F.col(id_col).alias("a"))
        .join(s2, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
        .join(emb.select(F.col(id_col).alias("a"), F.col(vec_col).alias("_va")), "a")
        .join(emb.select(F.col(id_col).alias("b"), F.col(vec_col).alias("_vb")), "b")
    )
    # pandas-UDF cosine with native-fold bit parity (similarity._cosine)
    cos = _cosine(F.col("_va"), F.col("_vb"))
    edges = (
        cand.withColumn("_cos", cos)
        .filter(F.col("_cos") >= threshold)
        .select(F.col("a").cast("string").alias("src"), F.col("b").cast("string").alias("dst"))
        .unionByName(star)
    )
    fast = connected_components_fast(edges)
    comp = fast if fast is not None else connected_components(edges)
    return comp.withColumnRenamed("node", id_col)
