"""Stage 5 — canonicalize: connected components over sameAs edges.

The north-rule canonicalization: duplicate node ids asserted equal by
``sameAs`` statements are merged — every component maps to its minimum
dcid, and all subjects/objects are rewritten. The iterative DataFrame
loop mirrors the reference's own level-capped recursive closure
(pipeline/workflow/.../linked_edge_generator.py:87-128) and the
resolver loop shape (McfResolver.java:39-128).

Algorithm: iterative **min-label propagation with pointer jumping** —
each round every node takes the minimum label over itself, its
neighbors, and its current label's label (path halving), so rounds
needed is O(log(diameter)); each round shuffles only the (small)
sameAs node/edge set, never the triple table. The (huge) triple table
is touched exactly twice at the end — one join per side, broadcast when
the component map is small. For adversarially deep alias graphs,
``connected_components_star`` (large-star/small-star, Kiveris et al.
SoCC'14) is the drop-in upgrade behind the same contract; sameAs alias
chains here are shallow, so the default loop stays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_CC_ROUNDS = 25


def connected_components(
    edges: DataFrame,
    max_rounds: int = MAX_CC_ROUNDS,
    edge_partitions: int | None = None,
) -> DataFrame:
    """edges(src, dst) → mapping(node, canon) with canon = min id in component.

    Only nodes appearing in an edge are returned (singletons map to
    themselves implicitly and need no rewrite).

    ``edge_partitions`` optionally pins the working partition count
    for the fixpoint loop. Default None lets AQE size each round's
    shuffles — the right choice whenever this distributed loop
    actually runs, since callers route small edge sets to the driver
    union-find fast path and only graphs above that gate reach here
    (where a pinned tiny partition count would serialize every round
    onto one task). Pass a small number only for tests that want a
    deterministic single-task plan.
    """
    # undirected; both directions, dedupe
    e = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )
    if edge_partitions:
        e = e.coalesce(edge_partitions)
    e = e.localCheckpoint()
    labels = (
        e.select(F.col("a").alias("node"))
        .dropDuplicates(["node"])
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_rounds):
        # neighbor minimum
        nbr = (
            e.join(labels.withColumnRenamed("node", "b"), "b")
            .groupBy("a")
            .agg(F.min("label").alias("nbr_min"))
            .withColumnRenamed("a", "node")
        )
        # pointer jumping: label(label(node))
        jump = labels.join(
            labels.select(F.col("node").alias("label"), F.col("label").alias("jump_min")),
            "label",
            "left",
        ).select("node", "jump_min")
        new_labels = (
            labels.join(nbr, "node", "left")
            .join(jump, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"),
                    F.coalesce("nbr_min", "label"),
                    F.coalesce("jump_min", "label"),
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("label", "_old"), "node")
            .filter(F.col("label") != F.col("_old"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select("node", F.col("label").alias("canon")).filter(
        F.col("node") != F.col("canon")
    )


def connected_components_star(
    edges: DataFrame,
    max_rounds: int = 50,
    return_rounds: bool = False,
):
    """Large-star/small-star connected components (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14 — public
    algorithm) — same contract as ``connected_components``: edges(src,
    dst) → (node, canon=min id in component), singletons omitted.

    The upgrade over min-label propagation for ADVERSARIALLY DEEP alias
    graphs: each large-star round hangs every node's larger neighbors
    off its neighborhood minimum and small-star flattens the smaller
    ones, so component diameter collapses doubly-exponentially —
    O(log²n) rounds worst case, ~log₂(diameter) in practice — while
    every round shuffles only the (shrinking) edge set. Alias chains in
    real imports are shallow, so the default pipeline keeps
    ``connected_components``; this is the drop-in for pathological
    chains (property-tested on a 10k-node path graph).
    """
    # symmetric, deduped working edge set
    s = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
        .localCheckpoint()
    )
    rounds = 0
    for _ in range(max_rounds):
        rounds += 1
        # large-star: for each u, connect every LARGER neighbor to
        # min(N(u) ∪ {u})
        mins = s.groupBy("u").agg(F.min("v").alias("_mv"))
        m = F.least(F.col("_mv"), F.col("u"))
        ls = (
            s.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), m.alias("b"))
            .filter(F.col("a") != F.col("b"))
        )
        s1 = (
            ls.unionByName(ls.select(F.col("b").alias("a"), F.col("a").alias("b")))
            .withColumnsRenamed({"a": "u", "b": "v"})
            .dropDuplicates(["u", "v"])
            .localCheckpoint()
        )
        # small-star: on edges directed larger→smaller, re-hang every
        # smaller neighbor (and u itself) off the minimum
        d = s1.filter(F.col("u") > F.col("v"))
        dmins = d.groupBy("u").agg(F.min("v").alias("_m"))
        ss = (
            d.join(dmins, "u")
            .filter(F.col("v") != F.col("_m"))
            .select(F.col("v").alias("a"), F.col("_m").alias("b"))
            .unionByName(dmins.select(F.col("u").alias("a"), F.col("_m").alias("b")))
        )
        s2 = (
            ss.unionByName(ss.select(F.col("b").alias("a"), F.col("a").alias("b")))
            .withColumnsRenamed({"a": "u", "b": "v"})
            .dropDuplicates(["u", "v"])
            .localCheckpoint()
        )
        changed = s2.exceptAll(s).limit(1).count() + s.exceptAll(s2).limit(1).count()
        s = s2
        if changed == 0:
            break
    mapping = (
        s.filter(F.col("u") > F.col("v"))
        .select(F.col("u").alias("node"), F.col("v").alias("canon"))
        .dropDuplicates(["node"])
    )
    return (mapping, rounds) if return_rounds else mapping


BROADCAST_CC_MAX_ROWS = 5_000_000


def canonicalize_triples(
    triples: DataFrame, components: DataFrame, broadcast_map: bool | None = None
) -> DataFrame:
    """Rewrite subj and RESOLVED_REF objects to their component canon.

    ``sameAs`` self-loops created by the rewrite are dropped.

    ``broadcast_map=None`` (default) size-gates the broadcast: maps up
    to BROADCAST_CC_MAX_ROWS rows AND within the broadcast byte budget
    (sampled width x count) broadcast (two map-side joins, no shuffle
    of the triple table); bigger maps fall back to shuffle joins so the
    driver/executors never blow the broadcast limit.
    """
    if broadcast_map is None:
        from import_spark.functions.size_gate import BROADCAST_BUDGET_BYTES, fits_bytes

        n = components.limit(BROADCAST_CC_MAX_ROWS + 1).count()
        broadcast_map = n <= BROADCAST_CC_MAX_ROWS and fits_bytes(
            components, n, BROADCAST_BUDGET_BYTES
        )
    cmap = F.broadcast(components) if broadcast_map else components
    out = (
        triples.join(
            cmap.select(F.col("node").alias("subj"), F.col("canon").alias("_sc")),
            "subj",
            "left",
        )
        .join(
            cmap.select(F.col("node").alias("obj"), F.col("canon").alias("_oc")),
            "obj",
            "left",
        )
        .withColumn("subj", F.coalesce("_sc", "subj"))
        .withColumn(
            "obj",
            F.when(
                F.col("obj_type") == "RESOLVED_REF", F.coalesce("_oc", "obj")
            ).otherwise(F.col("obj")),
        )
        .drop("_sc", "_oc")
    )
    return out.filter(
        ~((F.col("pred") == "sameAs") & (F.col("subj") == F.col("obj")))
    )


# Size-gated driver fast path: sameAs alias graphs are tiny relative to
# the statement table; below this edge count, union-find on the driver
# replaces the distributed fixpoint (which stays available for big
# graphs).
DRIVER_CC_MAX_EDGES = 2_000_000


def union_find_components(edges_pdf):
    """Driver union-find over a pandas edge frame (src, dst) → pandas
    (node, canon), canon = min id in the component — the same contract
    as ``connected_components``: self-loops and singletons are omitted.
    The one driver CC kernel: ``connected_components_fast`` and the
    pipeline's narrow driver step both call it."""
    import pandas as pd

    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a0, b0 in edges_pdf[["src", "dst"]].itertuples(index=False, name=None):
        a, b = find(a0), find(b0)
        if a != b:
            lo, hi = (a, b) if a < b else (b, a)
            parent[hi] = lo
    mapping = [(nd, find(nd)) for nd in list(parent)]
    return pd.DataFrame(
        [(nd, c) for nd, c in mapping if nd != c], columns=["node", "canon"]
    )


def connected_components_fast(
    edges: DataFrame, approx_edges: int | None = None
) -> DataFrame | None:
    """Driver union-find; None when too big (caller uses the loop)."""
    if approx_edges is None:
        # materialize ONCE before probing: the row probe, the byte
        # probe and the Arrow collect each re-execute the edge DAG
        # otherwise — for LSH callers that DAG is the whole
        # bucket/verify pipeline, so un-checkpointed probes tripled
        # its cost; a block-manager checkpoint spills to disk, so a
        # too-big edge set still falls through to the distributed loop
        # without driver pressure
        edges = edges.localCheckpoint()
    n = approx_edges if approx_edges is not None else edges.limit(DRIVER_CC_MAX_EDGES + 1).count()
    if n > DRIVER_CC_MAX_EDGES:
        return None
    from import_spark.functions.size_gate import DRIVER_COLLECT_BUDGET_BYTES, fits_bytes

    if not fits_bytes(edges, n, DRIVER_COLLECT_BUDGET_BYTES):
        return None
    # Arrow collect (toPandas) — Row-object collect is ~5x slower and
    # this is driver-serial time on the pipeline's critical path
    mapping = union_find_components(edges.select("src", "dst").toPandas())
    # parquet handoff (see resolve._driver_parquet_handoff): the map is
    # consumed by a count and a broadcast join; the file IS the
    # materialization, so the caller pays no localCheckpoint job and
    # count() resolves from parquet metadata — driver-serial seconds
    # on the pipeline's critical path
    from import_spark.operators.resolve import _driver_parquet_handoff

    return _driver_parquet_handoff(edges.sparkSession, mapping, "node string, canon string")
