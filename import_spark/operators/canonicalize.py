"""Stage 5 — canonicalize: connected components over sameAs edges.

The north-rule canonicalization: duplicate node ids asserted equal by
``sameAs`` statements are merged — every component maps to its minimum
dcid, and all subjects/objects are rewritten. The iterative DataFrame
loop mirrors the reference's own level-capped recursive closure
(pipeline/workflow/.../linked_edge_generator.py:87-128) and the
resolver loop shape (McfResolver.java:39-128).

Two kernels, one contract (edges(src, dst) → (node, canon), canon =
min id in the component, singletons and self-loops omitted):

- ``union_find_components`` — the driver kernel, used while the edge
  set fits the driver gate (``connected_components_fast`` and the kg
  pipeline's narrow driver step).
- ``connected_components`` — the distributed kernel, large-star /
  small-star (Kiveris et al., SoCC'14). Component diameter collapses
  geometrically, so rounds grow with log(n) (O(log² n) worst case)
  whatever order the ids arrive in; every round shuffles only the
  (shrinking) edge set, never the triple table. The loop raises when
  it reaches ``MAX_CC_ROUNDS`` without converging rather than return
  a partial map.

The (huge) triple table is touched exactly twice at the end — one join
per side, broadcast when the component map is small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_CC_ROUNDS = 50


def _symmetric(pairs: DataFrame) -> DataFrame:
    """(a, b) → the deduped undirected edge set (u, v), both
    directions, self-loops dropped, checkpointed."""
    return (
        pairs.unionByName(pairs.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .withColumnsRenamed({"a": "u", "b": "v"})
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
        .localCheckpoint()
    )


def connected_components(edges: DataFrame) -> DataFrame:
    """Large-star/small-star connected components: edges(src, dst) →
    mapping(node, canon) with canon = min id in the component. Only
    nodes appearing in an edge are returned (singletons map to
    themselves implicitly and need no rewrite).

    Each round is two checkpointed edge rewrites and one convergence
    job. Raises ``RuntimeError`` after ``MAX_CC_ROUNDS`` rounds
    without a fixpoint."""
    s = _symmetric(edges.select(F.col("src").alias("a"), F.col("dst").alias("b")))
    for _ in range(MAX_CC_ROUNDS):
        # large-star: for each u, connect every LARGER neighbor to
        # min(N(u) ∪ {u})
        mins = s.groupBy("u").agg(F.min("v").alias("_mv"))
        s1 = _symmetric(
            s.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.least("_mv", "u").alias("b"))
        )
        # small-star: on edges directed larger→smaller, re-hang every
        # smaller neighbor (and u itself) off the minimum
        d = s1.filter(F.col("u") > F.col("v"))
        dmins = d.groupBy("u").agg(F.min("v").alias("_m"))
        s2 = _symmetric(
            d.join(dmins, "u")
            .filter(F.col("v") != F.col("_m"))
            .select(F.col("v").alias("a"), F.col("_m").alias("b"))
            .unionByName(dmins.select(F.col("u").alias("a"), F.col("_m").alias("b")))
        )
        # both sides are deduped, so set difference both ways is equality
        converged = s2.subtract(s).unionByName(s.subtract(s2)).isEmpty()
        s = s2
        if converged:
            # a fixpoint is a star forest: each non-min node's one
            # smaller neighbour is its component minimum
            return s.filter(F.col("u") > F.col("v")).select(
                F.col("u").alias("node"), F.col("v").alias("canon")
            )
    raise RuntimeError(
        f"connected_components did not converge in {MAX_CC_ROUNDS} rounds"
    )


BROADCAST_CC_MAX_ROWS = 5_000_000


def broadcastable(rows: int, nbytes: int) -> bool:
    """The component-map broadcast gate, over an exact (rows, bytes)
    size: within BROADCAST_CC_MAX_ROWS and the broadcast byte budget."""
    from import_spark.functions.size_gate import BROADCAST_BUDGET_BYTES

    return rows <= BROADCAST_CC_MAX_ROWS and nbytes <= BROADCAST_BUDGET_BYTES


def canonicalize_triples(
    triples: DataFrame, components: DataFrame, broadcast_map: bool | None = None
) -> DataFrame:
    """Rewrite subj and RESOLVED_REF objects to their component canon.

    ``sameAs`` self-loops created by the rewrite are dropped.

    ``broadcast_map=None`` (default) size-gates the broadcast on one
    ``size_gate.exact_size`` aggregate of the map (``broadcastable``):
    a map that fits is broadcast (two map-side joins, no shuffle of the
    triple table); bigger maps fall back to shuffle joins so the
    driver/executors never blow the broadcast limit.
    """
    if broadcast_map is None:
        from import_spark.functions.size_gate import exact_size

        broadcast_map = broadcastable(*exact_size(components))
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


def connected_components_fast(edges: DataFrame) -> DataFrame | None:
    """Driver union-find; None when the edge set is over the driver gate
    (caller runs ``connected_components``)."""
    from import_spark.functions.size_gate import DRIVER_COLLECT_BUDGET_BYTES, collect_within

    # materialize ONCE before sizing: the size aggregate and the Arrow
    # collect would each re-execute the edge DAG otherwise — for LSH
    # callers that DAG is the whole bucket/verify pipeline; a
    # block-manager checkpoint spills to disk, so a too-big edge set
    # still falls through to the distributed kernel without driver
    # pressure
    edges = edges.select("src", "dst").localCheckpoint()
    pdf = collect_within(edges, DRIVER_COLLECT_BUDGET_BYTES, max_rows=DRIVER_CC_MAX_EDGES)
    if pdf is None:
        return None
    mapping = union_find_components(pdf)
    # parquet handoff (see resolve._driver_parquet_handoff): the map is
    # consumed by a count and a broadcast join; the file IS the
    # materialization, so the caller pays no localCheckpoint job and
    # count() resolves from parquet metadata — driver-serial seconds
    # on the pipeline's critical path
    from import_spark.operators.resolve import _driver_parquet_handoff

    return _driver_parquet_handoff(edges.sparkSession, mapping, "node string, canon string")
