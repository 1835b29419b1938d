"""Stage 4 — resolve: iterative local-ref resolution with quarantine.

Re-expresses the reference's multi-round resolver (O1/J4/O2,
McfResolver.java:39-128,182-242,244-322): local ``l:`` references are
replaced by the dcid of the conversation-local entity they name;
definition chains (``l:E1 = l:E2 = dcid:X``) resolve by iterating a
self-join to fixpoint; cycles and orphan refs are quarantined into a
failed table with error categories (McfResolver.java:262-281,92-110).

Divergence: a local defined with ≥2 distinct immediate targets inside
one conversation is an error and the local is quarantined
(PropertyResolver.java:114-127 analogue).

Scale design:
- The def table is tiny relative to the statement table (bounded
  locals per conversation), so the fixpoint loop runs on a
  coalesced DataFrame with ``localCheckpoint`` per round (lineage cut,
  McfResolver snapshot-per-round precedent, McfResolver.java:163-180);
  rounds are bounded like the reference's level-capped recursion
  (linked_edge_generator.py:110-112).
- The final rewrite join is **size-adaptive**: the resolved map is
  broadcast when it fits (one narrow pass over the statements),
  otherwise it shuffle-joins on (conv_id, local) — only the filtered
  local-ref statements shuffle, never the full statement table.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_ROUNDS = 20
# broadcast the resolved map when it has fewer rows than this
BROADCAST_MAP_MAX_ROWS = 5_000_000
_SMALL_PARTS = 8


_HANDOFF_ROOT: str | None = None
_HANDOFF_LOCK = threading.Lock()


def _handoff_root() -> str:
    """One temp dir per interpreter for driver-written handoff files,
    created on first use and removed at exit by a single handler."""
    global _HANDOFF_ROOT
    with _HANDOFF_LOCK:
        if _HANDOFF_ROOT is None:
            _HANDOFF_ROOT = tempfile.mkdtemp(prefix="resolve_maps_")
            atexit.register(shutil.rmtree, _HANDOFF_ROOT, ignore_errors=True)
        return _HANDOFF_ROOT


def _driver_parquet_handoff(spark, pdf, schema) -> DataFrame:
    """Driver pandas frame → scannable DataFrame via one pyarrow
    parquet write (a unique file under the session-scoped handoff
    root). ~9x faster than createDataFrame().localCheckpoint() for
    100k+-row maps and the resulting scan re-broadcasts from the file,
    not from driver-serial conversion. ``schema`` (DDL string or
    StructType) also types the file, so empty and all-null columns
    round-trip."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    path = os.path.join(_handoff_root(), f"{uuid.uuid4().hex}.parquet")
    table = pa.Table.from_pandas(
        pdf[schema.fieldNames()], schema=to_arrow_schema(schema), preserve_index=False
    )
    pq.write_table(table, path)
    return spark.read.schema(schema).parquet(path)


@dataclass
class ResolveResult:
    resolved: DataFrame  # TRIPLE rows with UNRESOLVED_REF rewritten
    failed: DataFrame  # quarantine rows with `error` category
    rounds: int


def _dedupe_defs(
    defs: DataFrame, approx_defs: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """Dedupe identical defs; flag divergent locals (≥2 distinct targets).

    ``approx_defs`` (e.g. the pipeline's DEF row counter) sizes the
    broadcast decision without an extra count job.
    """
    d = (
        defs.select(
            "conv_id",
            F.col("subj").alias("local"),
            F.col("obj_type"),
            F.col("obj").alias("target"),
        )
        .dropDuplicates(["conv_id", "local", "target"])
        .coalesce(_SMALL_PARTS)
    )
    d = d.localCheckpoint()
    counts = d.groupBy("conv_id", "local").agg(F.count("*").alias("n_targets"))
    divergent = (
        counts.filter(F.col("n_targets") > 1).select("conv_id", "local").localCheckpoint()
    )
    n_d = approx_defs if approx_defs is not None else d.count()
    div_side = F.broadcast(divergent) if n_d <= BROADCAST_MAP_MAX_ROWS else divergent
    clean = d.join(div_side, ["conv_id", "local"], "left_anti")
    return clean, divergent


def resolve_locals(
    linked: DataFrame,
    num_partitions: int | None = None,
    approx_defs: int | None = None,
) -> ResolveResult:
    """Resolve UNRESOLVED_REF objects using DEF records in ``linked``."""
    triples = linked.filter(F.col("kind") == "TRIPLE")
    defs = linked.filter(F.col("kind") == "DEF")

    clean, divergent = _dedupe_defs(defs, approx_defs=approx_defs)
    # one materialization: everything below derives from this small snapshot
    clean = clean.localCheckpoint()

    # direct defs: target already a dcid; chained defs: target is l:X
    resolved_map = clean.filter(F.col("obj_type") == "RESOLVED_REF").select(
        "conv_id", "local", F.col("target").alias("dcid")
    )
    pending_all = clean.filter(F.col("obj_type") == "UNRESOLVED_REF").select(
        "conv_id", "local", F.col("target").alias("target_local")
    )
    # self-cycles are immediately irreplaceable
    self_cyc = pending_all.filter(F.col("local") == F.col("target_local"))
    pending = pending_all.filter(F.col("local") != F.col("target_local"))

    from import_spark.functions.size_gate import BROADCAST_BUDGET_BYTES, exact_size

    rounds = 0
    # one exact aggregate; per-round broadcast decisions then cost no
    # extra job: bytes = mean width x current map_rows (row cap AND
    # byte cap)
    map_rows, map_bytes = exact_size(resolved_map)
    map_width = map_bytes / map_rows if map_rows else 0.0

    def _bcast_ok(rows: int) -> bool:
        return rows <= BROADCAST_MAP_MAX_ROWS and rows * map_width <= BROADCAST_BUDGET_BYTES

    while rounds < MAX_ROUNDS:
        rounds += 1
        lookup = resolved_map.select("conv_id", F.col("local").alias("target_local"), "dcid")
        if _bcast_ok(map_rows):
            lookup = F.broadcast(lookup)
        step = pending.join(lookup, ["conv_id", "target_local"], "left")
        # one materialization per round; newly/pending are cheap filters of it
        step = step.localCheckpoint()
        newly = step.filter(F.col("dcid").isNotNull()).select("conv_id", "local", "dcid")
        # convergence counter (RoundResult.numUpdated, McfResolver.java:139-148)
        n_new = newly.count()
        if n_new == 0:
            break
        map_rows += n_new
        # union keeps lineage shallow: every leg is a checkpointed snapshot
        resolved_map = resolved_map.unionByName(newly)
        pending = step.filter(F.col("dcid").isNull()).select(
            "conv_id", "local", "target_local"
        )

    # leftovers: cycles or defs pointing at quarantined/undefined locals
    unresolved_defs = pending.select("conv_id", "local").unionByName(
        self_cyc.select("conv_id", "local")
    )

    # --- rewrite UNRESOLVED_REF objects in statements ---
    is_local = F.col("obj_type") == "UNRESOLVED_REF"
    locals_used = triples.filter(is_local)
    others = triples.filter(~is_local)

    rmap = resolved_map.select("conv_id", F.col("local").alias("obj"), "dcid")
    if _bcast_ok(map_rows):
        rmap = F.broadcast(rmap)
    # localCheckpoint (not cache): materialized once, auto-released by the
    # context cleaner when unreferenced — no cross-run cache leak
    joined = locals_used.join(rmap, ["conv_id", "obj"], "left").localCheckpoint()

    ok = (
        joined.filter(F.col("dcid").isNotNull())
        .withColumn("obj", F.col("dcid"))
        .withColumn("obj_type", F.lit("RESOLVED_REF"))
        .drop("dcid")
    )
    # error categorization for the quarantine table (O2)
    failed_raw = joined.filter(F.col("dcid").isNull()).drop("dcid")
    failed = (
        failed_raw.join(
            F.broadcast(
                divergent.withColumn("err", F.lit("Resolution_DivergingDcids"))
            ).withColumnRenamed("local", "obj"),
            ["conv_id", "obj"],
            "left",
        )
        .join(
            F.broadcast(
                unresolved_defs.withColumn("err2", F.lit("Resolution_IrreplaceableLocalRef"))
            ).withColumnRenamed("local", "obj"),
            ["conv_id", "obj"],
            "left",
        )
        .withColumn(
            "error",
            F.coalesce(F.col("err"), F.col("err2"), F.lit("Resolution_OrphanLocalReference")),
        )
        .drop("err", "err2")
    )
    return ResolveResult(resolved=others.unionByName(ok), failed=failed, rounds=rounds)


# ---------------------------------------------------------------------------
# Size-gated driver fast path
# ---------------------------------------------------------------------------
# The def table is bounded by (locals-per-conversation x conversations)
# and is orders of magnitude smaller than the statement table. Below
# this threshold the fixpoint is a driver-side dict walk (microseconds)
# instead of a 10-job Spark loop — the same in-memory resolution the
# reference does (ExternalIdResolver caches, McfResolver per-graph
# maps). Above it, the distributed loop in resolve_locals() runs.
DRIVER_RESOLVE_MAX_DEFS = 2_000_000


def _resolve_defs_driver(def_rows) -> tuple[list, list, list]:
    """Pure-Python def resolution: → (resolved [(conv, local, dcid)],
    divergent [(conv, local)], unresolved [(conv, local)]).

    ``def_rows`` is any iterable of (conv_id, subj, obj_type, obj)
    tuples (e.g. pandas ``itertuples``)."""
    targets: dict[tuple, set] = {}
    for conv_id, subj, obj_type, obj in def_rows:
        targets.setdefault((conv_id, subj), set()).add((obj_type, obj))
    divergent = [k for k, v in targets.items() if len(v) > 1]
    clean = {k: next(iter(v)) for k, v in targets.items() if len(v) == 1}
    resolved: dict[tuple, str] = {}
    unresolved: list = []
    for key, tgt in clean.items():
        conv = key[0]
        seen = {key}
        cur = tgt
        while True:
            if cur[0] == "RESOLVED_REF":
                resolved[key] = cur[1]
                break
            nxt = (conv, cur[1])
            if nxt in seen or nxt not in clean:
                unresolved.append(key)
                break
            seen.add(nxt)
            cur = clean[nxt]
    return (
        [(c, l, d) for (c, l), d in resolved.items()],
        divergent,
        unresolved,
    )


def _resolve_defs_vectorized(defs_pdf):
    """Vectorized twin of ``_resolve_defs_driver`` (which remains the
    spec/oracle in tests): chain-walk as pandas merge rounds instead of
    a per-key Python loop — this runs driver-serial, so its wall-clock
    directly caps the pipeline's N→4N scaling efficiency (~10s → <1s
    at 840k defs).

    Each round follows every pending chain one step via one merge; a
    round that terminates no chain (no RESOLVED hit, no dead end) means
    every remaining path is infinite (a cycle or feeding one) →
    unresolved, matching the driver walk's seen-set cycle rule.

    Returns (resolved[conv,key,dcid], divergent[conv,key],
    unresolved[conv,key]) pandas frames.
    """
    import pandas as pd

    d = defs_pdf.drop_duplicates(["conv_id", "subj", "obj_type", "obj"])
    dup = d.duplicated(["conv_id", "subj"], keep=False)
    divergent = d.loc[dup, ["conv_id", "subj"]].drop_duplicates().rename(
        columns={"subj": "key"}
    )
    clean = d[~dup]
    is_res = clean["obj_type"] == "RESOLVED_REF"
    resolved_parts = [
        clean.loc[is_res, ["conv_id", "subj", "obj"]].rename(
            columns={"subj": "key", "obj": "dcid"}
        )
    ]
    unresolved_parts = []
    pend = clean.loc[~is_res, ["conv_id", "subj", "obj"]].rename(columns={"subj": "key"})
    # hash the def table ONCE (set_index) and probe it per round with
    # .join — a per-round merge() rebuilds the full-table hash every
    # round even when only a few chains remain (measured 2.5s -> 1.2s
    # at 840k defs; this is driver-serial time)
    base = (
        clean.set_index(["conv_id", "subj"])[["obj_type", "obj"]]
        .rename(columns={"obj_type": "_ttype", "obj": "_tobj"})
    )
    while len(pend):
        m = pend.join(base, on=["conv_id", "obj"], how="left")
        dead = m["_ttype"].isna()
        hit = m["_ttype"] == "RESOLVED_REF"
        if not dead.any() and not hit.any():
            unresolved_parts.append(m[["conv_id", "key"]])
            break
        unresolved_parts.append(m.loc[dead, ["conv_id", "key"]])
        resolved_parts.append(
            m.loc[hit, ["conv_id", "key", "_tobj"]].rename(columns={"_tobj": "dcid"})
        )
        pend = m.loc[~dead & ~hit, ["conv_id", "key", "_tobj"]].rename(
            columns={"_tobj": "obj"}
        )
    resolved = pd.concat(resolved_parts, ignore_index=True)
    unresolved = (
        pd.concat(unresolved_parts, ignore_index=True)
        if unresolved_parts
        else pd.DataFrame(columns=["conv_id", "key"])
    )
    return resolved, divergent, unresolved


@dataclass
class ResolvedMaps:
    """Outcome of the driver-side def fixpoint, as broadcastable DFs.

    ``rmap``: (conv_id, obj, dcid) — local name (as it appears in an
    UNRESOLVED_REF ``obj``) → resolved dcid. ``divergent`` /
    ``unresolved``: (conv_id, obj) quarantine categories."""

    rmap: DataFrame
    divergent: DataFrame
    unresolved: DataFrame


def resolve_defs_fast(
    linked: DataFrame, approx_defs: int | None = None
) -> ResolvedMaps | None:
    """Driver fast path for the def fixpoint: Arrow-collect the (small)
    DEF partition, walk chains in pure Python, return the resolution
    maps as broadcast-ready DataFrames. None when the def table exceeds
    the gate (caller falls back to the distributed loop).

    Arrow both directions: ``toPandas`` for the collect and
    ``createDataFrame(pandas)`` for the return — ~6x faster than
    Row-object collect + tuple-list createDataFrame at 10^5 defs,
    which matters because this is driver-serial time that caps the
    pipeline's scaling efficiency.

    The gate is one ``size_gate.collect_within`` (exact count+bytes
    aggregate, then the collect); ``approx_defs``, a DEF count the
    caller already holds, skips it when already over the row cap.
    """
    import pandas as pd

    spark = linked.sparkSession
    if approx_defs is not None and approx_defs > DRIVER_RESOLVE_MAX_DEFS:
        return None
    from import_spark.functions.size_gate import DRIVER_COLLECT_BUDGET_BYTES, collect_within

    # byte gate on the exact size: a row cap alone would Arrow-collect
    # GBs when locals carry wide values
    defs_pdf = collect_within(
        linked.filter(F.col("kind") == "DEF").select("conv_id", "subj", "obj_type", "obj"),
        DRIVER_COLLECT_BUDGET_BYTES,
        max_rows=DRIVER_RESOLVE_MAX_DEFS,
    )
    if defs_pdf is None:
        return None
    res_pdf, div_pdf, unres_pdf = _resolve_defs_vectorized(defs_pdf)

    def _df(pdf: "pd.DataFrame", cols: list[str], schema: str) -> DataFrame:
        # Hand the map back through a driver-written parquet file, not
        # createDataFrame().localCheckpoint(): both make the map
        # re-broadcastable without re-running the pandas->arrow
        # conversion, but the checkpoint route serializes the rows
        # driver->executor->block-manager as a JOB (measured 3.6s for
        # the 600k-row rmap at 1M convs — pure driver-serial time that
        # caps N->4N scaling) where a pyarrow write + parquet scan is
        # 0.4s and the scan parallelizes. On a real cluster this file
        # is the stage-table pattern (shared storage); in local mode a
        # session-temp dir serves.
        return _driver_parquet_handoff(spark, pdf.set_axis(cols, axis=1), schema)

    return ResolvedMaps(
        rmap=F.broadcast(_df(res_pdf, ["conv_id", "obj", "dcid"], "conv_id string, obj string, dcid string")),
        divergent=F.broadcast(_df(div_pdf, ["conv_id", "obj"], "conv_id string, obj string")),
        unresolved=F.broadcast(_df(unres_pdf, ["conv_id", "obj"], "conv_id string, obj string")),
    )

