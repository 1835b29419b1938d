"""Stage 4 — resolve: local-ref resolution with quarantine categories.

Re-expresses the reference's multi-round resolver (O1/J4/O2,
McfResolver.java:39-128,182-242,244-322): local ``l:`` references are
replaced by the dcid of the conversation-local entity they name;
definition chains (``l:E1 = l:E2 = dcid:X``) resolve to a fixpoint;
cycles and orphan refs are quarantined with error categories
(McfResolver.java:262-281,92-110).

Divergence: a local defined with ≥2 distinct immediate targets inside
one conversation is an error and the local is quarantined
(PropertyResolver.java:114-127 analogue).

This module resolves only the DEF rows, into three narrow maps
(``ResolvedMaps``): the resolution map and the divergent and
unresolved locals. Two engines, one contract:

- ``_resolve_defs_vectorized`` — the driver engine (pandas merge
  rounds), below ``DRIVER_RESOLVE_MAX_DEFS``; ``_resolve_defs_driver``
  is its pure-Python spec.
- ``resolve_locals`` — the distributed engine: one grouped
  ``localCheckpoint`` of the def table, then one checkpointed join of
  the pending chains to it per chain step, run until a round resolves
  nothing (so every chain resolves, however deep, and the loop still
  terminates: each round either resolves a pending def or is the last).

Applying the map to the statements is not done here: the kg pipeline
has one rewrite pass for both engines (plans/kg_pipeline.py).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from import_spark.session import typed_arrow_table

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
    import pyarrow.parquet as pq

    table, schema = typed_arrow_table(pdf, schema)
    path = os.path.join(_handoff_root(), f"{uuid.uuid4().hex}.parquet")
    pq.write_table(table, path)
    return spark.read.schema(schema).parquet(path)


@dataclass
class ResolvedMaps:
    """Outcome of the def fixpoint, as DataFrames.

    ``rmap``: (conv_id, obj, dcid) — local name (as it appears in an
    UNRESOLVED_REF ``obj``) → resolved dcid. ``divergent`` /
    ``unresolved``: (conv_id, obj) quarantine categories. ``rounds``:
    the distributed engine's join rounds (0 on the driver)."""

    rmap: DataFrame
    divergent: DataFrame
    unresolved: DataFrame
    rounds: int = 0


def resolve_locals(linked: DataFrame) -> ResolvedMaps:
    """Distributed def fixpoint over the DEF rows of ``linked`` (the
    Spark twin of ``_resolve_defs_vectorized``, same maps and the same
    chain walk).

    One grouped aggregate collects each local's distinct targets and is
    checkpointed once: ≥2 targets → divergent, one → a clean def, and
    an Observation on that job sizes the clean table. Each round then
    follows every pending chain one step by joining it to the clean
    table — broadcast while ``canonicalize.broadcastable`` admits it —
    in one observed ``localCheckpoint`` job whose count of dcid hits is
    the convergence counter (RoundResult.numUpdated,
    McfResolver.java:139-148). A chain of length L has a pending def at
    every distance 1..L from its dcid, so each round up to L resolves
    one: the first round that resolves nothing leaves only cycles and
    chains into undefined or divergent locals, and the loop stops there.
    Every clean local it did not resolve is unresolved.

    The walk joins against the FIXED clean table rather than the map
    resolved so far, so each round's size estimate (a join's is the
    product of its inputs') grows by one factor, not by squaring: a
    deep chain stays cheap to plan."""
    from import_spark.functions.size_gate import row_bytes
    from import_spark.operators.canonicalize import broadcastable

    targets = linked.filter(F.col("kind") == "DEF").groupBy(
        "conv_id", F.col("subj").alias("local")
    ).agg(F.collect_set(F.struct("obj_type", F.col("obj").alias("target"))).alias("_t"))
    one = F.size("_t") == 1
    base_cols = ("conv_id", "_cur", "_ttype", "_tobj")
    base_schema = T.StructType([T.StructField(c, T.StringType()) for c in base_cols])
    sized = Observation()
    targets = (
        targets.select(
            "conv_id",
            "local",
            "_t",
            F.col("local").alias("_cur"),
            F.col("_t")[0]["obj_type"].alias("_ttype"),
            F.col("_t")[0]["target"].alias("_tobj"),
        )
        .observe(
            sized,
            F.count(F.when(one, 1)).alias("n"),
            F.sum(F.when(one, row_bytes(base_schema))).alias("b"),
        )
        .localCheckpoint()
    )
    divergent = targets.filter(~one).select("conv_id", F.col("local").alias("obj"))
    clean = targets.filter(one)
    base = clean.select(*base_cols)
    if broadcastable(sized.get["n"], sized.get["b"] or 0):
        base = F.broadcast(base)

    # direct defs: target already a dcid; chained defs: target is l:X
    is_dcid = F.col("_ttype") == "RESOLVED_REF"
    resolved_map = clean.filter(is_dcid).select(
        "conv_id", "local", F.col("_tobj").alias("dcid")
    )
    pending = clean.filter(~is_dcid).select("conv_id", "local", F.col("_tobj").alias("_cur"))
    rounds = 0
    while True:
        rounds += 1
        hits = Observation()
        # one materialization per round; hits/pending are cheap filters of it
        step = (
            pending.join(base, ["conv_id", "_cur"], "left")
            .observe(hits, F.count(F.when(is_dcid, 1)).alias("n"))
            .localCheckpoint()
        )
        if hits.get["n"] == 0:
            break
        # union keeps lineage shallow: every leg is a checkpointed snapshot
        resolved_map = resolved_map.unionByName(
            step.filter(is_dcid).select("conv_id", "local", F.col("_tobj").alias("dcid"))
        )
        pending = step.filter(F.col("_ttype") == "UNRESOLVED_REF").select(
            "conv_id", "local", F.col("_tobj").alias("_cur")
        )

    unresolved = clean.select("conv_id", "local").join(
        resolved_map.select("conv_id", "local"), ["conv_id", "local"], "left_anti"
    )
    return ResolvedMaps(
        rmap=resolved_map.withColumnRenamed("local", "obj"),
        divergent=divergent,
        unresolved=unresolved.withColumnRenamed("local", "obj"),
        rounds=rounds,
    )


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

