"""McfResolver — alternating local-ref replacement ⇄ dcid assignment
(reference McfResolver.java:39-168,181-341).

The reference resolves a (row- or file-scoped) sub-graph by looping two
phases until fixpoint:

1. **replaceLocalRefs** (McfResolver.java:244-322): every ``l:X`` value
   whose target node already carries a dcid is rewritten to a
   RESOLVED_REF of that dcid. Orphan refs (target not in the graph) →
   ``Resolution_OrphanLocalReference_<prop>``; refs to failed nodes →
   ``Resolution_ReferenceToFailedNode_<prop>``.
2. **assignDcids** (McfResolver.java:181-242): nodes without a dcid get
   one generated by type — StatVarObservation / legacy Population /
   legacy Observation are content-hashes that require **all** their
   refs resolved first (AssignmentMode.allRefsMustBeResolved); OTHER
   nodes resolve via external ids or fail with
   ``Resolution_DcidAssignmentFailure_<type>``. The external-id
   dictionary is ExternalIdResolver's: the local-graph seed (J2, nodes
   of this graph carrying both an external id and a dcid) over the
   caller's entries, which stand in for the Recon idResolver.

Leftovers after fixpoint → ``Resolution_IrreplaceableLocalRef`` /
``Resolution_UnassignableNodeDcid`` (McfResolver.java:92-128).

Spark shape: node ids out of the template expander embed the row id, so
local refs are **globally unique** and the whole table resolves in one
global fixpoint. Each round touches only the shrinking working sets
(pending refs, dcid-less nodes) — never the full statement table; the
full table is rewritten ONCE at the end with a broadcast-gated join.
A size-gated driver fast path (Arrow collect + the pure-Python
resolver below, which mirrors the reference loop 1:1) serves the
common genmcf case where one CSV's sub-graph fits the driver; it reads
the local-graph seed off the rows it collected, at no Spark job. The
distributed loop joins one checkpointed (prop, ext_id, dcid) frame
that merges the seed and the caller's dictionaries with the same
precedence.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from import_spark import vocabulary as V
from import_spark.functions.dcids import (
    legacy_obs_key_string,
    legacy_pop_key_string,
    place_dcid,
    statvar_key_string,
    svobs_key_string,
)
from import_spark.functions.farmhash import long_id_batch
from import_spark.operators.link import (
    dictionary_map,
    local_graph_dictionary_df,
    local_graph_seed,
    prepare_dictionary,
)
from import_spark.operators.resolve import _driver_parquet_handoff
from import_spark.session import local_frame

MAX_ROUNDS = 20

# sentinel priority for the prefix-fallback row in the distributed
# place assignment (real priorities index
# V.PLACE_RESOLVABLE_AND_ASSIGNABLE_IDS)
_FALLBACK_PRI = 10_000
# Crossover measured at sf0.1 on local[32] (warm session): the driver
# fixpoint costs ~2.3 s/M statement rows for the pure-Python loop plus
# ~1.5 s/M for collect+upload, while the distributed loop's fixed
# round-job overhead is ~3-4 s and its scan work parallelizes — at
# 3.3M rows the driver path measured 11.6 s vs 7.4 s distributed, so
# the gate sits at the ~1M-row crossover, not at the collect budget.
DRIVER_RESOLVE_MAX_ROWS = 1_000_000

NODE_COLS = ["node_id", "prop", "value_type", "value", "src_file"]


@dataclass
class McfResolveResult:
    resolved: DataFrame  # long-form rows of successfully resolved nodes
    failed: DataFrame  # long-form rows of failed nodes (+ error col)
    errors: DataFrame  # (node_id, counter, message)
    rounds: int = 0


def _mode(types: list[str]) -> str:
    for t in types:
        if t == "StatVarObservation":
            return "SVOBS"
        if t.endswith("Population"):
            return "POP"
        if t.endswith("Observation"):
            return "OBS"
    return "OTHER"


def _place_dcid(pvs: dict, dcid_dict: dict | None) -> str | None:
    """External-id place resolution: the dictionary first
    (ExternalIdResolver.java:57-152 checks the local graph + Recon maps
    before anything else — J2), then the priority-prefix fallback
    (DcidGenerator.forPlace)."""
    if dcid_dict:
        for prop in V.PLACE_RESOLVABLE_AND_ASSIGNABLE_IDS:
            val = pvs.get(prop)
            if val:
                hit = dcid_dict.get((prop, val))
                if hit:
                    return hit
    return place_dcid(pvs)


def resolve_graph_driver(
    rows: list[tuple],
    assign_statvar_dcids: bool = True,
    dcid_dict: dict | None = None,
) -> tuple[list[tuple], set, list[tuple], int]:
    """Pure-Python alternating resolver over (node_id, prop, value_type,
    value) tuples — mirrors McfResolver.resolve() exactly; also the test
    oracle for the distributed path.

    Returns (resolved_rows, failed_node_ids, errors, rounds) where
    resolved_rows carry rewritten refs + assigned dcid rows.
    """
    nodes: dict[str, list] = {}
    for r in rows:
        nodes.setdefault(r[0], []).append(list(r))
    dcids: dict[str, str] = {}
    types: dict[str, list] = {}
    for nid, rs in nodes.items():
        for r in rs:
            if r[1] == V.DCID and nid not in dcids:
                dcids[nid] = r[3]
            if r[1] == V.TYPE_OF:
                types.setdefault(nid, []).append(r[3])
    failed: set[str] = set()
    errors: list[tuple] = []

    def fail(nid: str, counter: str, message: str) -> None:
        if nid not in failed:
            failed.add(nid)
            errors.append((nid, counter, message))

    rounds = 0
    ref_updated, dcid_updated = 1, 1
    needs_ref: dict[str, str] = {}
    needs_dcid: dict[str, str] = {}
    while rounds < MAX_ROUNDS:
        if not (rounds == 0 or dcid_updated > 0):
            break
        # --- replaceLocalRefs ---
        ref_updated = 0
        needs_ref = {}
        for nid, rs in list(nodes.items()):
            if nid in failed:
                continue
            for r in rs:
                if r[2] != "UNRESOLVED_REF":
                    continue
                target = r[3][2:] if r[3].startswith("l:") else r[3]
                if target in failed:
                    fail(
                        nid,
                        f"Resolution_ReferenceToFailedNode_{r[1]}",
                        f"Found a local ref to an unresolvable node :: ref: '{r[3]}', "
                        f"property: '{r[1]}', node: '{nid}'",
                    )
                elif target not in nodes:
                    fail(
                        nid,
                        f"Resolution_OrphanLocalReference_{r[1]}",
                        f"Found orphan local ref :: ref: '{r[3]}', property: '{r[1]}', "
                        f"node: '{nid}'",
                    )
                elif target in dcids:
                    r[2], r[3] = "RESOLVED_REF", dcids[target]
                    ref_updated += 1
                else:
                    needs_ref[nid] = target
        if not (rounds == 0 or ref_updated > 0):
            break
        # --- assignDcids ---
        # key strings are built per node, but the farmhash runs ONCE per
        # round over the whole candidate batch (long_id_batch is the
        # numpy-vectorized path; per-key pure-Python hashing dominated
        # this loop at ~100k SVObs nodes)
        dcid_updated = 0
        needs_dcid = {}
        defer: list[tuple] = []  # (nid, key_string|None, namespace, tlist)
        for nid, rs in list(nodes.items()):
            if nid in failed or nid in dcids:
                continue
            tlist = types.get(nid, [])
            mode = _mode(tlist)
            pending = next((r[3] for r in rs if r[2] == "UNRESOLVED_REF"), None)
            if mode in ("SVOBS", "POP", "OBS") and pending is not None:
                needs_dcid[nid] = pending
                continue
            pvs = {}
            constraints = set()
            pcounts: dict[str, int] = {}
            for r in rs:
                if r[1] == "constraintProperties":
                    constraints.add(r[3])
                pvs.setdefault(r[1], r[3])
                pcounts[r[1]] = pcounts.get(r[1], 0) + 1
            if mode == "SVOBS":
                defer.append((nid, svobs_key_string(pvs), V.SVOBS_NAMESPACE, tlist))
            elif mode == "POP":
                defer.append(
                    (nid, legacy_pop_key_string(pvs, constraints or None), V.POP_NAMESPACE, tlist)
                )
            elif mode == "OBS":
                defer.append(
                    (nid, legacy_obs_key_string(pvs, pcounts), V.DC_NAMESPACE + "o/", tlist)
                )
            else:
                key = statvar_key_string(pvs) if (
                    assign_statvar_dcids and "StatisticalVariable" in tlist
                ) else None
                if key is not None:
                    defer.append((nid, key, V.DC_NAMESPACE, tlist))
                    continue
                dcid = _place_dcid(pvs, dcid_dict)
                if dcid:
                    dcids[nid] = dcid
                    rs.append([nid, V.DCID, "TEXT", dcid] + list(rs[0][4:]))
                    dcid_updated += 1
                else:
                    t0 = tlist[0] if tlist else "Thing"
                    fail(
                        nid,
                        f"Resolution_DcidAssignmentFailure_{t0}",
                        f"Failed to assign DCID :: type: '{t0}', node: '{nid}'",
                    )
        if defer:
            hashable = [(i, d) for i, d in enumerate(defer) if d[1] is not None]
            batch_ids = long_id_batch([d[1] for _, d in hashable]) if hashable else []
            hashed = {i: h for (i, _), h in zip(hashable, batch_ids)}
            for i, (nid, key, ns, tlist) in enumerate(defer):
                if key is not None:
                    dcid = ns + hashed[i]
                    dcids[nid] = dcid
                    rs = nodes[nid]
                    rs.append([nid, V.DCID, "TEXT", dcid] + list(rs[0][4:]))
                    dcid_updated += 1
                else:
                    t0 = tlist[0] if tlist else "Thing"
                    fail(
                        nid,
                        f"Resolution_DcidAssignmentFailure_{t0}",
                        f"Failed to assign DCID :: type: '{t0}', node: '{nid}'",
                    )
        rounds += 1

    for nid, ref in needs_ref.items():
        if nid not in failed:
            fail(
                nid,
                "Resolution_IrreplaceableLocalRef",
                f"Unable to replace a local reference :: ref: '{ref}', node: '{nid}'",
            )
    for nid, ref in needs_dcid.items():
        if nid not in failed:
            fail(
                nid,
                "Resolution_UnassignableNodeDcid",
                f"Unable to assign DCID due to unresolved local reference :: ref: "
                f"'{ref}', node: '{nid}'",
            )

    resolved_rows = [
        tuple(r) for nid, rs in nodes.items() if nid not in failed for r in rs
    ]
    # failed nodes keep whatever partial ref-replacement happened before
    # the failure (McfResolverTest_Resolved_InstanceFailure golden:
    # UnresSVObsId's observationAbout is already resolved)
    failed_rows = [tuple(r) for nid, rs in nodes.items() if nid in failed for r in rs]
    return resolved_rows, failed_rows, failed, errors, rounds


def resolve_graph(
    nodes: DataFrame,
    assign_statvar_dcids: bool = True,
    force_distributed: bool = False,
    dcid_dict: dict | None = None,
    dict_df: DataFrame | None = None,
    input_materialized: bool = False,
) -> McfResolveResult:
    """Alternating resolver over a long-form node table.

    The external-id dictionary has three sources, highest precedence
    first: the local-graph seed (J2, ExternalIdResolver.addLocalGraph,
    ExternalIdResolver.java:57-96: nodes of this graph that carry both
    an external id and a dcid, first-wins on min dcid), ``dcid_dict``
    (a driver dict keyed by (prop, ext_id)) and ``dict_df`` (a
    (prop, ext_id, dcid) DataFrame, min dcid per key). An empty or null
    dcid never resolves; the walk moves on to the next external id.

    Size-gated: within DRIVER_RESOLVE_MAX_ROWS rows and the driver byte
    budget the node table is Arrow-collected (one size aggregate, one
    collect), the seed is read off the collected rows, ``dict_df`` goes
    through the same gate, and the fixpoint runs on the driver. When
    either frame does not fit, or with ``force_distributed``, the
    distributed loop joins the three sources as one dictionary frame.
    ``input_materialized``: ``nodes`` is already checkpointed.
    """
    from import_spark.functions.size_gate import DRIVER_COLLECT_BUDGET_BYTES, collect_within

    spark = nodes.sparkSession
    base_cols = [c for c in NODE_COLS if c in nodes.columns]
    nodes = nodes.select(*base_cols)
    has_src = "src_file" in nodes.columns

    # rows alone mislead (5M wide-literal rows are GBs): one exact
    # count+bytes aggregate gates each Arrow collect; a forced
    # distributed run pays no size job at all
    pdf = (
        None
        if force_distributed
        else collect_within(nodes, DRIVER_COLLECT_BUDGET_BYTES, max_rows=DRIVER_RESOLVE_MAX_ROWS)
    )
    dict_pdf = None
    if pdf is not None and dict_df is not None:
        dict_pdf = collect_within(
            dict_df.select("prop", "ext_id", "dcid"), DRIVER_COLLECT_BUDGET_BYTES
        )
        if dict_pdf is None:
            pdf = None
    if pdf is None:
        return _resolve_graph_distributed(
            nodes, assign_statvar_dcids, _dictionary_frame(nodes, dcid_dict, dict_df),
            input_materialized=input_materialized,
        )
    # later entries win: dict_df < dcid_dict < local seed
    full_dict = {} if dict_pdf is None else dictionary_map(dict_pdf)
    full_dict.update(dcid_dict or {})
    full_dict.update(local_graph_seed(pdf))
    rows = list(pdf.itertuples(index=False, name=None))
    resolved_rows, failed_rows, failed_ids, errors, rounds = resolve_graph_driver(
        rows, assign_statvar_dcids=assign_statvar_dcids, dcid_dict=full_dict
    )
    schema = "node_id string, prop string, value_type string, value string" + (
        ", src_file string" if has_src else ""
    )
    cols = base_cols
    if resolved_rows:
        # driver-written parquet + scan beats a driver-serial
        # pandas-to-DataFrame conversion ~9x at 100k+ rows
        # (resolve.py's measured handoff; Amdahl-relevant, the
        # upload is serial); empty or small frames use local_frame
        resolved = _driver_parquet_handoff(
            spark, pd.DataFrame(resolved_rows, columns=cols), schema
        )
    else:
        resolved = local_frame(spark, pd.DataFrame(columns=cols), schema)
    errors_df = local_frame(
        spark,
        pd.DataFrame(errors, columns=["node_id", "counter", "message"]),
        "node_id string, counter string, message string",
    )
    if failed_ids:
        failed_df = _driver_parquet_handoff(
            spark, pd.DataFrame(failed_rows, columns=cols), schema
        ).join(F.broadcast(errors_df.groupBy("node_id").agg(F.min("counter").alias("error"))), "node_id", "left")
    else:
        failed_df = nodes.filter(F.lit(False)).withColumn("error", F.lit(""))
    return McfResolveResult(
        resolved=resolved, failed=failed_df, errors=errors_df, rounds=rounds
    )


def _dictionary_frame(
    nodes: DataFrame, dcid_dict: dict | None, dict_df: DataFrame | None
) -> DataFrame:
    """The three dictionary sources as one (prop, ext_id, dcid) frame for
    the distributed loop: per key the highest-precedence source wins
    (local seed > ``dcid_dict`` > ``dict_df``, the driver path's update
    order), then empty and null dcids drop out. The driver walk skips
    such a hit (``if hit:``) and tries the next external id; an absent
    key makes the join do the same."""
    parts = [local_graph_dictionary_df(nodes).withColumn("_pri", F.lit(2))]
    if dcid_dict:
        parts.append(
            _driver_parquet_handoff(
                nodes.sparkSession,
                pd.DataFrame(
                    [(p, e, d) for (p, e), d in dcid_dict.items()],
                    columns=["prop", "ext_id", "dcid"],
                ),
                "prop string, ext_id string, dcid string",
            ).withColumn("_pri", F.lit(1))
        )
    if dict_df is not None:
        parts.append(prepare_dictionary(dict_df).withColumn("_pri", F.lit(0)))
    merged = parts[0]
    for part in parts[1:]:
        merged = merged.unionByName(part)
    return (
        merged.groupBy("prop", "ext_id")
        .agg(F.max_by("dcid", "_pri").alias("dcid"))
        .filter(F.col("dcid").isNotNull() & (F.col("dcid") != ""))
    )


def _resolve_graph_distributed(
    nodes: DataFrame,
    assign_statvar_dcids: bool,
    dictionary: DataFrame,
    input_materialized: bool = False,
) -> McfResolveResult:
    """Distributed alternating fixpoint.

    Working sets per round: pending refs (UNRESOLVED_REF rows) and
    dcid-less nodes — both shrink monotonically and are orders of
    magnitude smaller than the statement table, which is touched once
    at the end for the rewrite. Candidate dcid generation fans the
    (small) candidate set through the same vectorized key builders the
    extract path uses.

    ``dictionary``: the external-id dictionary as a (prop, ext_id, dcid)
    frame with one non-empty dcid per key (:func:`_dictionary_frame`),
    checkpointed once here. Place-mode candidates resolve via a
    per-round JOIN against it with the same priority-order semantics
    as :func:`_place_dcid`; each node passes through the join at most
    once (assigned or failed nodes leave the candidate set), so the
    total join work is one pass over the place nodes regardless of
    rounds.
    """
    spark = nodes.sparkSession
    # callers that hand over an already-materialized table (genmcf
    # checkpoints the mutated statement table) skip the redundant
    # 7M-row re-checkpoint; the per-round scans read the parent blocks
    # through a trivial projection instead
    if not input_materialized:
        nodes = nodes.localCheckpoint()
    # every round's place join reads the dictionary: materialize its
    # seed join and source union once, not once per round
    dictionary = dictionary.localCheckpoint()
    # ONE pass over the statement table yields both setup frames: the
    # node-id universe and the per-node min dcid (previously two full
    # scans + two shuffles)
    ids_and_dcids = (
        nodes.groupBy("node_id")
        .agg(F.min(F.when(F.col("prop") == V.DCID, F.col("value"))).alias("dcid"))
        .localCheckpoint()
    )
    all_ids = ids_and_dcids.select("node_id")
    dcids = ids_and_dcids.filter(F.col("dcid").isNotNull()).select("node_id", "dcid")
    pending = (
        nodes.filter(F.col("value_type") == "UNRESOLVED_REF")
        .select(
            "node_id",
            "prop",
            F.regexp_replace("value", "^l:", "").alias("target"),
        )
        .localCheckpoint()
    )
    # orphans fail up-front (target id never appears)
    orphan = pending.join(
        all_ids.withColumnRenamed("node_id", "target"), "target", "left_anti"
    )
    errors = orphan.select(
        "node_id",
        F.concat(F.lit("Resolution_OrphanLocalReference_"), F.col("prop")).alias("counter"),
        F.concat(F.lit("Found orphan local ref :: ref: 'l:"), F.col("target"),
                 F.lit("', property: '"), F.col("prop"), F.lit("', node: '"),
                 F.col("node_id"), F.lit("'")).alias("message"),
    ).localCheckpoint()
    # `failed` is always a tiny distinct over the CHECKPOINTED errors
    # frame — deriving it lazily at each use point saves two eager
    # checkpoint jobs per round (the loop is job-count-bound: its
    # per-round working sets are orders of magnitude under a task's
    # worth of data, so every removed job is removed wall-clock)
    failed = errors.select("node_id").distinct()
    pending = pending.join(failed, "node_id", "left_anti").localCheckpoint()

    resolved_refs = local_frame(
        spark,
        pd.DataFrame(columns=["node_id", "prop", "target", "dcid"]),
        "node_id string, prop string, target string, dcid string",
    )
    rounds = 0
    # Every per-round lineage cut is an EAGER localCheckpoint, so a
    # round's blocks are self-contained and the previous round's are
    # dead the moment the round completes — release them, or ~8 blocks
    # x MAX_ROUNDS of retained storage linger until driver GC and tax
    # every later job in the session (measured: 2x on an unrelated
    # follow-up query after a 10-round resolve).
    from import_spark.session import persistent_rdd_ids

    prev_round_ids: set[int] = set()
    while rounds < MAX_ROUNDS:
        rounds += 1
        round_start_ids = persistent_rdd_ids(spark)
        # refs to failed nodes poison their holders
        to_failed = pending.join(
            failed.withColumnRenamed("node_id", "target"), "target"
        )
        new_fail_errors = to_failed.select(
            "node_id",
            F.concat(F.lit("Resolution_ReferenceToFailedNode_"), F.col("prop")).alias("counter"),
            F.concat(F.lit("Found a local ref to an unresolvable node :: ref: 'l:"),
                     F.col("target"), F.lit("', node: '"), F.col("node_id"), F.lit("'")).alias("message"),
        )
        # replace refs whose target has a dcid — `hit` joins two small
        # CHECKPOINTED frames, so it stays lazy: the count materializes
        # it once and the resolved_refs checkpoint re-evaluates a
        # broadcast-sized join rather than paying an extra eager job
        hit = pending.join(
            dcids.select(F.col("node_id").alias("target"), "dcid"), "target"
        )
        n_hit = hit.count()
        resolved_refs = resolved_refs.unionByName(
            hit.select("node_id", "prop", "target", "dcid")
        ).localCheckpoint()
        # one carried-errors checkpoint per round: new_fail_errors stays
        # lazy here (its inputs — pending, errors — are this round's
        # checkpoints, unpersisted only at the NEXT round's end, after
        # the post-assign checkpoint below has materialized the union)
        errors = errors.unionByName(new_fail_errors)
        failed = errors.select("node_id").distinct()
        pending = (
            pending.join(failed, "node_id", "left_anti")
            .join(
                dcids.select(F.col("node_id").alias("target")), "target", "left_anti"
            )
            .localCheckpoint()
        )

        # --- assignDcids over candidates ---
        cand_ids = all_ids.join(
            dcids.select("node_id"), "node_id", "left_anti"
        ).join(failed, "node_id", "left_anti")
        n_cand = cand_ids.count()
        if n_cand == 0 and n_hit == 0 and rounds > 1:
            break
        if n_cand == 0:
            if n_hit == 0:
                break
            continue
        has_pending = pending.select("node_id").distinct().withColumn("_p", F.lit(True))
        # candidate pvs: original non-ref rows + resolved refs so far
        cand_rows = (
            nodes.join(cand_ids, "node_id")
            .select("node_id", "prop", "value_type", "value")
        )
        # only UNRESOLVED_REF rows can match the resolved-ref rewrite
        # (pending/resolved_refs are derived from exactly those rows):
        # keep the non-ref majority out of the join entirely instead of
        # shuffling every candidate row through it
        is_ref = F.col("value_type").eqNullSafe("UNRESOLVED_REF")
        cand_rows = cand_rows.filter(~is_ref).unionByName(
            cand_rows.filter(is_ref)
            .join(
                resolved_refs.select(
                    "node_id", "prop",
                    F.concat(F.lit("l:"), F.col("target")).alias("value"),
                    F.col("dcid").alias("_rdc"),
                ),
                ["node_id", "prop", "value"],
                "left",
            )
            .withColumn("value", F.coalesce("_rdc", "value"))
            .drop("_rdc")
        )
        import pandas as pd_  # local alias for the UDF closure

        assign_cols = ["node_id", "dcid", "status", "type0", "pri", "prop", "ext_id"]
        assign_schema = (
            "node_id string, dcid string, status string, type0 string,"
            " pri int, prop string, ext_id string"
        )

        def assign(batches):
            # one input row per node (pre-packed below): an Arrow batch
            # boundary can never split a node's pvs, which would run the
            # node twice with partial state and mis-fail it.
            # Key strings are built per node; the farmhash runs ONCE per
            # Arrow batch via long_id_batch — the same deferred pattern
            # as the driver fixpoint above (per-key pure-Python hashing
            # dominated this stage at ~100k SVObs nodes per round).
            for pdf in batches:
                out = []
                hash_pos: list[int] = []
                hash_ns: list[str] = []
                hash_keys: list[str] = []
                for nid, pvl, pend in zip(pdf["node_id"], pdf["pvl"], pdf["_p"]):
                    pairs = [(d["prop"], d["value"]) for d in pvl]
                    tlist = [v for p, v in pairs if p == V.TYPE_OF]
                    mode = _mode(tlist)
                    type0 = tlist[0] if tlist else "Thing"
                    if mode in ("SVOBS", "POP", "OBS") and bool(pend):
                        out.append([nid, None, "PENDING", type0, None, None, None])
                        continue
                    pvs, constraints = {}, set()
                    pcounts: dict[str, int] = {}
                    for p, v in pairs:
                        if p == "constraintProperties":
                            constraints.add(v)
                        pvs.setdefault(p, v)
                        pcounts[p] = pcounts.get(p, 0) + 1
                    if mode == "SVOBS":
                        key, ns = svobs_key_string(pvs), V.SVOBS_NAMESPACE
                    elif mode == "POP":
                        key, ns = legacy_pop_key_string(pvs, constraints or None), V.POP_NAMESPACE
                    elif mode == "OBS":
                        key, ns = legacy_obs_key_string(pvs, pcounts), V.DC_NAMESPACE + "o/"
                    else:
                        key, ns = (
                            statvar_key_string(pvs), V.DC_NAMESPACE,
                        ) if assign_statvar_dcids and "StatisticalVariable" in tlist else (None, "")
                        if key is None:
                            # emit the ordered dictionary candidates + a
                            # sentinel fallback row; the hit is decided
                            # by the post-UDF join (same priority walk
                            # as _place_dcid)
                            for i, p in enumerate(V.PLACE_RESOLVABLE_AND_ASSIGNABLE_IDS):
                                v = pvs.get(p)
                                if v:
                                    out.append([nid, None, "PLACE", type0, i, p, v])
                            out.append(
                                [nid, place_dcid(pvs), "PLACE", type0, _FALLBACK_PRI, None, None]
                            )
                            continue
                    if key is None:
                        out.append([nid, None, "FAIL", type0, None, None, None])
                    else:
                        hash_pos.append(len(out))
                        hash_ns.append(ns)
                        hash_keys.append(key)
                        out.append([nid, None, "OK", type0, None, None, None])
                if hash_keys:
                    for pos, ns, h in zip(hash_pos, hash_ns, long_id_batch(hash_keys)):
                        out[pos][1] = ns + h
                yield pd_.DataFrame(out, columns=assign_cols)

        # pack each node into ONE row (sorted pvs pin first-value-wins
        # determinism regardless of shuffle order)
        cand_packed = (
            cand_rows.join(has_pending, "node_id", "left")
            .na.fill({"_p": False})
            .groupBy("node_id")
            .agg(
                F.sort_array(F.collect_list(F.struct("prop", "value"))).alias("pvl"),
                F.max("_p").alias("_p"),
            )
        )
        # checkpoint BEFORE splitting: place and rest both read the
        # pack-shuffle + Arrow UDF output from blocks instead of each
        # re-running it (the per-round cost driver)
        assigned = cand_packed.mapInPandas(assign, schema=assign_schema).localCheckpoint()
        # resolve the PLACE candidates against the dictionary frame:
        # lowest-priority-index hit wins, sentinel fallback row (prefix
        # dcid or null) when no hit — exactly _place_dcid's walk, as a
        # join instead of a driver dict
        place = assigned.filter(F.col("status") == "PLACE")
        rest = assigned.filter(F.col("status") != "PLACE").select(
            "node_id", "dcid", "status", "type0"
        )
        hits = place.filter(F.col("pri") < _FALLBACK_PRI).join(
            dictionary.withColumnRenamed("dcid", "_ddc"), ["prop", "ext_id"]
        )
        best = hits.groupBy("node_id").agg(F.min_by("_ddc", "pri").alias("_hit"))
        resolved_place = (
            place.filter(F.col("pri") == _FALLBACK_PRI)
            .select("node_id", F.col("dcid").alias("_fb"), "type0")
            .join(best, "node_id", "left")
            .withColumn("dcid", F.coalesce("_hit", "_fb"))
            .withColumn(
                "status",
                F.when(F.col("dcid").isNotNull(), F.lit("OK")).otherwise(F.lit("FAIL")),
            )
            .select("node_id", "dcid", "status", "type0")
        )
        assigned = rest.unionByName(resolved_place).localCheckpoint()
        new_dcids = assigned.filter(F.col("status") == "OK").select("node_id", "dcid")
        n_new = new_dcids.count()
        fail_assign = assigned.filter(F.col("status") == "FAIL")
        errors = errors.unionByName(
            fail_assign.select(
                "node_id",
                F.concat(F.lit("Resolution_DcidAssignmentFailure_"), F.col("type0")).alias("counter"),
                F.concat(F.lit("Failed to assign DCID :: type: '"), F.col("type0"),
                         F.lit("', node: '"), F.col("node_id"), F.lit("'")).alias("message"),
            )
        ).localCheckpoint()
        failed = errors.select("node_id").distinct()
        dcids = dcids.unionByName(new_dcids).localCheckpoint()
        now_ids = persistent_rdd_ids(spark)
        for rid, rdd in dict(spark.sparkContext._jsc.getPersistentRDDs()).items():
            if rid in prev_round_ids:
                rdd.unpersist()
        prev_round_ids = now_ids - round_start_ids
        if n_new == 0 and n_hit == 0:
            break

    # leftovers
    leftover_ref = pending.join(failed, "node_id", "left_anti")
    errors = errors.unionByName(
        leftover_ref.select(
            "node_id",
            F.lit("Resolution_IrreplaceableLocalRef").alias("counter"),
            F.concat(F.lit("Unable to replace a local reference :: ref: '"),
                     F.col("target"), F.lit("', node: '"), F.col("node_id"), F.lit("'")).alias("message"),
        )
    )
    leftover_dcid = (
        all_ids.join(dcids.select("node_id"), "node_id", "left_anti")
        .join(errors.select("node_id").distinct(), "node_id", "left_anti")
        .join(pending.select("node_id").distinct(), "node_id", "left")
    )
    errors = errors.unionByName(
        leftover_dcid.select(
            "node_id",
            F.lit("Resolution_UnassignableNodeDcid").alias("counter"),
            F.concat(F.lit("Unable to assign DCID :: node: '"), F.col("node_id"), F.lit("'")).alias("message"),
        )
    ).localCheckpoint()
    failed = errors.select("node_id").distinct().localCheckpoint()

    # --- final rewrite: ONE pass over the statement table ---
    # rewrite BEFORE splitting so failed nodes keep partial progress
    # (reference parity, McfResolverTest_Resolved_InstanceFailure)
    rr = resolved_refs.select(
        "node_id", "prop",
        F.concat(F.lit("l:"), F.col("target")).alias("value"),
        F.col("dcid").alias("_rdc"),
    )
    # same ref-only split as the candidate pack: only UNRESOLVED_REF
    # rows can be rewritten, so the non-ref majority of the statement
    # table never enters the 3-column join shuffle
    is_ref_row = F.col("value_type").eqNullSafe("UNRESOLVED_REF")
    out = nodes.filter(~is_ref_row).unionByName(
        nodes.filter(is_ref_row)
        .join(rr, ["node_id", "prop", "value"], "left")
        .withColumn(
            "value_type",
            F.when(F.col("_rdc").isNotNull(), F.lit("RESOLVED_REF")).otherwise(F.col("value_type")),
        )
        .withColumn("value", F.coalesce("_rdc", "value"))
        .drop("_rdc")
        .select(*nodes.columns)
    )
    # add assigned dcid rows
    src = F.lit("").alias("src_file") if "src_file" in nodes.columns else None
    new_dcid_rows = (
        dcids.join(
            nodes.filter(F.col("prop") == V.DCID).select("node_id").distinct(),
            "node_id",
            "left_anti",
        )
        .join(failed, "node_id", "left_anti")
        .select(
            "node_id",
            F.lit(V.DCID).alias("prop"),
            F.lit("TEXT").alias("value_type"),
            F.col("dcid").alias("value"),
            *([src] if src is not None else []),
        )
    )
    rewritten = out.select(*nodes.columns)
    out = (
        rewritten.join(failed, "node_id", "left_anti")
        .unionByName(new_dcid_rows.select(*nodes.columns))
    )
    failed_rows = rewritten.join(failed, "node_id").join(
        errors.groupBy("node_id").agg(F.min("counter").alias("error")), "node_id", "left"
    )
    return McfResolveResult(resolved=out, failed=failed_rows, errors=errors, rounds=rounds)
