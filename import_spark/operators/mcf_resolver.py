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

Two engines run the same rules. A size-gated driver engine
(:func:`resolve_graph_driver`, Arrow collect + a pure-Python loop that
mirrors the reference 1:1) serves the common genmcf case where one
CSV's sub-graph fits the driver; it reads the local-graph seed off the
rows it collected, at no Spark job. The distributed engine
(:func:`_resolve_graph_distributed`) is a Spark loop around the same
rules. Written once and called by both:

- the assign rule, :func:`assign_dcids` (the driver calls it once per
  round, the distributed engine once per Arrow batch);
- every error text, in :data:`_ERRORS` (``%`` on the driver,
  ``format_string`` in Spark);
- the value order: a node's rows in input order, so its first type
  names the assignment failure and its first value of a property keys
  the content hash;
- the round count and the exit: a round is one assign phase; the loop
  stops when a refs phase after the first replaces nothing or an
  assign phase assigns nothing.

Node ids out of the template expander embed the row id, so local refs
are **globally unique** and the whole table resolves in one global
fixpoint.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd

from pyspark.sql import Column, DataFrame, Observation
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

# Crossover measured at sf0.1 on local[32] (warm session): the driver
# fixpoint costs ~2.3 s/M statement rows for the pure-Python loop plus
# ~1.5 s/M for collect+upload, while the distributed loop's fixed
# round-job overhead is ~3-4 s and its scan work parallelizes — at
# 3.3M rows the driver path measured 11.6 s vs 7.4 s distributed, so
# the gate sits at the ~1M-row crossover, not at the collect budget.
DRIVER_RESOLVE_MAX_ROWS = 1_000_000

NODE_COLS = ["node_id", "prop", "value_type", "value", "src_file"]

# Every resolver error: (counter template, its operands, message
# template, its operands), rendered with `%` on the driver (_error) and
# with format_string in Spark (_error_cols).
_ERRORS = {
    "orphan": (
        "Resolution_OrphanLocalReference_%s", ("prop",),
        "Found orphan local ref :: ref: '%s', property: '%s', node: '%s'",
        ("ref", "prop", "node"),
    ),
    "to_failed": (
        "Resolution_ReferenceToFailedNode_%s", ("prop",),
        "Found a local ref to an unresolvable node :: ref: '%s', property: '%s', node: '%s'",
        ("ref", "prop", "node"),
    ),
    "unassigned": (
        "Resolution_DcidAssignmentFailure_%s", ("type",),
        "Failed to assign DCID :: type: '%s', node: '%s'",
        ("type", "node"),
    ),
    "irreplaceable": (
        "Resolution_IrreplaceableLocalRef", (),
        "Unable to replace a local reference :: ref: '%s', node: '%s'",
        ("ref", "node"),
    ),
    "unassignable": (
        "Resolution_UnassignableNodeDcid", (),
        "Unable to assign DCID due to unresolved local reference :: ref: '%s', node: '%s'",
        ("ref", "node"),
    ),
}


def _error(kind: str, **ops: str) -> tuple[str, str]:
    """(counter, message) of a resolver error, rendered on the driver."""
    counter, c_ops, message, m_ops = _ERRORS[kind]
    return counter % tuple(ops[o] for o in c_ops), message % tuple(ops[o] for o in m_ops)


def _error_cols(kind: str, **ops: Column) -> list[Column]:
    """``counter`` and ``message`` columns of a resolver error."""
    counter, c_ops, message, m_ops = _ERRORS[kind]
    return [
        F.format_string(counter, *(ops[o] for o in c_ops)).alias("counter"),
        F.format_string(message, *(ops[o] for o in m_ops)).alias("message"),
    ]


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


def assign_dcids(cands, dcid_dict: dict | None, assign_statvar_dcids: bool = True) -> list[list]:
    """assignDcids (McfResolver.java:181-242) over candidate nodes — the
    one assign rule of both engines.

    ``cands``: (node_id, rows) pairs, ``rows`` the node's (prop,
    value_type, value) triples in input order with the refs replaced so
    far. Returns one ``[node_id, dcid, ref, counter, message]`` row per
    node, exactly one of three outcomes: a ``dcid``; the first
    unreplaced ``ref`` a content-hashed node waits on; or the
    DcidAssignmentFailure error, named after the node's first type.
    The first value of each property keys the hash, and the farmhash
    runs ONCE over the call's keys (long_id_batch is the
    numpy-vectorized path; per-key pure-Python hashing dominated at
    ~100k SVObs nodes)."""
    out: list[list] = []
    keyed: list[tuple[int, str, str]] = []  # (row in out, namespace, key)
    for nid, rows in cands:
        tlist = [v for p, _, v in rows if p == V.TYPE_OF]
        mode = _mode(tlist)
        if mode != "OTHER":
            ref = next((v for _, t, v in rows if t == "UNRESOLVED_REF"), None)
            if ref is not None:
                out.append([nid, None, ref, None, None])
                continue
        pvs: dict[str, str] = {}
        constraints = set()
        pcounts: dict[str, int] = {}
        for p, _, v in rows:
            if p == "constraintProperties":
                constraints.add(v)
            pvs.setdefault(p, v)
            pcounts[p] = pcounts.get(p, 0) + 1
        key, dcid = None, None
        if mode == "SVOBS":
            ns, key = V.SVOBS_NAMESPACE, svobs_key_string(pvs)
        elif mode == "POP":
            ns, key = V.POP_NAMESPACE, legacy_pop_key_string(pvs, constraints or None)
        elif mode == "OBS":
            ns, key = V.DC_NAMESPACE + "o/", legacy_obs_key_string(pvs, pcounts)
        else:
            ns = V.DC_NAMESPACE
            if assign_statvar_dcids and "StatisticalVariable" in tlist:
                key = statvar_key_string(pvs)
            if key is None:
                dcid = _place_dcid(pvs, dcid_dict)
        if key is not None:
            keyed.append((len(out), ns, key))
        elif not dcid:
            out.append([nid, None, None, *_error("unassigned", type=tlist[0] if tlist else "Thing", node=nid)])
            continue
        out.append([nid, dcid, None, None, None])
    if keyed:
        for (pos, ns, _), h in zip(keyed, long_id_batch([k for _, _, k in keyed])):
            out[pos][1] = ns + h
    return out


def resolve_graph_driver(
    rows: list[tuple],
    assign_statvar_dcids: bool = True,
    dcid_dict: dict | None = None,
) -> tuple[list[tuple], list[tuple], set, list[tuple], int]:
    """Pure-Python alternating resolver over (node_id, prop, value_type,
    value[, src_file]) tuples — mirrors McfResolver.resolve() exactly;
    also the test oracle for the distributed engine.

    Returns (resolved_rows, failed_rows, failed_node_ids, errors,
    rounds): resolved rows carry rewritten refs + assigned dcid rows.
    """
    nodes: dict[str, list] = {}
    for r in rows:
        nodes.setdefault(r[0], []).append(list(r))
    dcids: dict[str, str] = {}
    for nid, rs in nodes.items():
        own = next((r[3] for r in rs if r[1] == V.DCID), None)
        if own is not None:
            dcids[nid] = own
    failed: set[str] = set()
    errors: list[tuple] = []

    def fail(nid: str, counter: str, message: str) -> None:
        if nid not in failed:
            failed.add(nid)
            errors.append((nid, counter, message))

    rounds = 0
    needs_ref: dict[str, str] = {}
    needs_dcid: dict[str, str] = {}
    while rounds < MAX_ROUNDS:
        # --- replaceLocalRefs ---
        ref_updated = 0
        needs_ref = {}
        for nid, rs in nodes.items():
            if nid in failed:
                continue
            for r in rs:
                if r[2] != "UNRESOLVED_REF":
                    continue
                target = r[3][2:] if r[3].startswith("l:") else r[3]
                if target in failed:
                    fail(nid, *_error("to_failed", ref=r[3], prop=r[1], node=nid))
                elif target not in nodes:
                    fail(nid, *_error("orphan", ref=r[3], prop=r[1], node=nid))
                elif target in dcids:
                    r[2], r[3] = "RESOLVED_REF", dcids[target]
                    ref_updated += 1
                else:
                    needs_ref[nid] = target
        if rounds and not ref_updated:
            break
        # --- assignDcids ---
        dcid_updated = 0
        needs_dcid = {}
        cands = [
            (nid, [r[1:4] for r in rs])
            for nid, rs in nodes.items()
            if nid not in failed and nid not in dcids
        ]
        for nid, dcid, ref, counter, message in assign_dcids(cands, dcid_dict, assign_statvar_dcids):
            if dcid:
                dcids[nid] = dcid
                rs = nodes[nid]
                rs.append([nid, V.DCID, "TEXT", dcid] + rs[0][4:])
                dcid_updated += 1
            elif ref is not None:
                needs_dcid[nid] = ref
            else:
                fail(nid, counter, message)
        rounds += 1
        if not dcid_updated:
            break

    for nid, ref in needs_ref.items():
        if nid not in failed:
            fail(nid, *_error("irreplaceable", ref=ref, node=nid))
    for nid, ref in needs_dcid.items():
        if nid not in failed:
            fail(nid, *_error("unassignable", ref=ref, node=nid))

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


_ASSIGN_SCHEMA = "node_id string, dcid string, ref string, counter string, message string"


def _first(col: str, cond: Column | None = None) -> Column:
    """Aggregate: ``col`` of the group's first row in input order (the
    lowest ``_ord``) among the rows where ``cond`` holds."""
    s = F.struct("_ord", col)
    return F.min(s if cond is None else F.when(cond, s))[col]


def _is_ref() -> Column:
    return F.col("value_type").eqNullSafe("UNRESOLVED_REF")


def _replace_refs(rows: DataFrame, refs: DataFrame, cols: list[str]) -> DataFrame:
    """``rows`` with every UNRESOLVED_REF row in ``refs`` (node_id,
    _ord, _rdc) rewritten to a RESOLVED_REF of ``_rdc``. Only ref rows
    enter the join; the non-ref majority passes around it."""
    return rows.filter(~_is_ref()).select(*cols).unionByName(
        rows.filter(_is_ref())
        .join(refs, ["node_id", "_ord"], "left")
        .withColumn(
            "value_type",
            F.when(F.col("_rdc").isNotNull(), F.lit("RESOLVED_REF")).otherwise(F.col("value_type")),
        )
        .withColumn("value", F.coalesce("_rdc", "value"))
        .select(*cols)
    )


def _update(state: DataFrame, updates: DataFrame) -> DataFrame:
    """``state`` with (node_id, dcid, counter, message) ``updates``
    applied: an assigned dcid marks ``assigned``, an error marks
    ``failed``; a node keeps its first error."""
    upd = updates.select(
        "node_id",
        F.col("dcid").alias("_ndc"),
        F.col("counter").alias("_nc"),
        F.col("message").alias("_nm"),
    )
    return state.join(upd, "node_id", "left").select(
        "node_id",
        F.coalesce("dcid", "_ndc").alias("dcid"),
        (F.col("assigned") | F.col("_ndc").isNotNull()).alias("assigned"),
        (F.col("failed") | F.col("_nc").isNotNull()).alias("failed"),
        F.coalesce("counter", "_nc").alias("counter"),
        F.coalesce("message", "_nm").alias("message"),
        *(["_src"] if "_src" in state.columns else []),
    )


def _resolve_graph_distributed(
    nodes: DataFrame,
    assign_statvar_dcids: bool,
    dictionary: DataFrame,
    input_materialized: bool = False,
) -> McfResolveResult:
    """The driver engine's rules as a Spark loop.

    Shared with :func:`resolve_graph_driver`: the assign rule
    (:func:`assign_dcids`, called once per Arrow batch of a
    ``mapInPandas`` over candidate nodes packed one row each, so a
    batch boundary never splits a node), the error texts
    (:data:`_ERRORS`), the value order and the round count and exit.
    Input order is an ordinal taken on the materialized ``nodes`` rows:
    a node's packed values are sorted by it, its first dcid row, first
    src_file and first failing ref are the lowest, its last pending ref
    the highest — the driver's list order.

    State: one checkpointed row per node (dcid, whether the resolver
    assigned it, whether it failed and its first error). A round
    classifies the pending refs against their targets' state in one
    observed checkpoint (the observed hit count is RoundResult's
    numUpdated, McfResolver.java:139-148), then assigns the candidates
    in a second observed checkpoint, then folds both into the state.
    The statement table is read per round only for the candidates'
    rows and rewritten ONCE at the end.

    Differs from the driver only where the driver's outcome depends on
    node order: a ref fails on a node that failed earlier in the same
    pass (the driver walks nodes in order); here, in the first round,
    on nodes holding an orphan ref, and otherwise one round later.

    ``dictionary``: the external-id dictionary as a (prop, ext_id, dcid)
    frame with one non-empty dcid per key (:func:`_dictionary_frame`),
    checkpointed once and left-joined onto each candidate's external-id
    rows, so the assign rule reads a per-batch dict of the hits.
    """
    from import_spark.session import persistent_rdd_ids

    spark = nodes.sparkSession
    # callers that hand over an already-materialized table (genmcf
    # checkpoints the mutated statement table) skip the redundant
    # 7M-row re-checkpoint
    if not input_materialized:
        nodes = nodes.localCheckpoint()
    cols = nodes.columns
    has_src = "src_file" in cols
    # the ordinal is stable: the rows are materialized blocks
    nodes = nodes.withColumn("_ord", F.monotonically_increasing_id())
    dictionary = dictionary.select(
        "prop", F.col("ext_id").alias("value"), F.col("dcid").alias("_dc")
    ).localCheckpoint()

    pending = nodes.filter(_is_ref()).select(
        "node_id", "prop", "value", F.regexp_replace("value", "^l:", "").alias("target"), "_ord"
    )
    base = nodes.groupBy("node_id").agg(
        _first("value", F.col("prop") == V.DCID).alias("dcid"),
        *([_first("src_file").alias("_src")] if has_src else []),
    )
    # nodes holding an orphan ref count as failed from the first pass on,
    # so a ref to one fails there (the driver's in-order walk reaches
    # such a node before the nodes that reference it)
    holders = (
        pending.join(base.select(F.col("node_id").alias("target")), "target", "left_anti")
        .select("node_id", F.lit(True).alias("_h"))
        .distinct()
    )
    start_ids = persistent_rdd_ids(spark)
    state = base.join(holders, "node_id", "left").select(
        "node_id",
        "dcid",
        F.lit(False).alias("assigned"),
        F.coalesce("_h", F.lit(False)).alias("failed"),
        F.lit(None).cast("string").alias("counter"),
        F.lit(None).cast("string").alias("message"),
        *(["_src"] if has_src else []),
    ).localCheckpoint()
    resolved_refs = local_frame(
        spark, pd.DataFrame(columns=["node_id", "_ord", "_rdc"]),
        "node_id string, _ord long, _rdc string",
    )
    pack_cols = ["node_id", "_ord", "prop", "value_type", "value"]
    is_id = F.coalesce(F.col("prop").isin(*V.PLACE_RESOLVABLE_AND_ASSIGNABLE_IDS), F.lit(False))

    def assign(batches):
        for pdf in batches:
            hits: dict = {}
            cands = []
            for nid, pvl in zip(pdf["node_id"], pdf["pvl"]):
                cands.append((nid, [(d["prop"], d["value_type"], d["value"]) for d in pvl]))
                hits.update(((d["prop"], d["value"]), d["_dc"]) for d in pvl if d["_dc"])
            yield pd.DataFrame(
                assign_dcids(cands, hits, assign_statvar_dcids),
                columns=["node_id", "dcid", "ref", "counter", "message"],
            )

    rounds = 0
    new_errors = None
    # Each round's checkpoints supersede the previous round's (the
    # initial state's, for the first), which are dead once the round
    # completes — release them, or blocks x MAX_ROUNDS of retained
    # storage linger until driver GC and tax every later job in the
    # session (measured: 2x on an unrelated follow-up query after a
    # 10-round resolve).
    prev_round_ids: set[int] = set()
    while rounds < MAX_ROUNDS:
        # --- replaceLocalRefs: each pending ref against its target ---
        n_hit = Observation()
        target = state.select(
            F.col("node_id").alias("target"),
            F.col("dcid").alias("_tdc"),
            F.col("failed").alias("_tfail"),
        )
        step = (
            pending.join(target, "target", "left")
            .withColumn(
                "_st",
                F.when(F.col("_tfail").isNull(), "orphan")
                .when(F.col("_tfail"), "to_failed")
                .when(F.col("_tdc").isNotNull(), "hit")
                .otherwise("pending"),
            )
            .observe(n_hit, F.count(F.when(F.col("_st") == "hit", 1)).alias("n"))
            .localCheckpoint()
        )
        # a node's error is its first failing ref
        failing = [
            step.filter(F.col("_st") == kind).select(
                "node_id", "_ord",
                *_error_cols(kind, ref=F.col("value"), prop=F.col("prop"), node=F.col("node_id")),
            )
            for kind in ("orphan", "to_failed")
        ]
        new_errors = (
            failing[0].unionByName(failing[1])
            .groupBy("node_id")
            .agg(F.min(F.struct("_ord", "counter", "message")).alias("_e"))
            .select("node_id", F.lit(None).cast("string").alias("dcid"), "_e.counter", "_e.message")
        )
        if rounds and not n_hit.get["n"]:
            break
        # a failing node keeps the refs this pass replaced before and
        # after its first failing ref, as the driver's row walk does
        resolved_refs = resolved_refs.unionByName(
            step.filter(F.col("_st") == "hit").select("node_id", "_ord", F.col("_tdc").alias("_rdc"))
        ).localCheckpoint()

        # --- assignDcids over the candidates ---
        cands = state.filter(F.col("dcid").isNull() & ~F.col("failed")).join(
            new_errors, "node_id", "left_anti"
        )
        rows = _replace_refs(nodes.join(cands, "node_id", "left_semi"), resolved_refs, pack_cols)
        rows = rows.filter(~is_id).withColumn("_dc", F.lit(None).cast("string")).unionByName(
            rows.filter(is_id).join(dictionary, ["prop", "value"], "left")
        )
        n_new = Observation()
        assigned = (
            rows.groupBy("node_id")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("_ord", "prop", "value_type", "value", "_dc"))
                ).alias("pvl")
            )
            .mapInPandas(assign, schema=_ASSIGN_SCHEMA)
            .observe(n_new, F.count("dcid").alias("n"))
            .localCheckpoint()
        )
        state = _update(
            state, new_errors.unionByName(assigned.filter(F.col("ref").isNull()).drop("ref"))
        ).localCheckpoint()
        new_errors = None
        pending = step.filter(F.col("_st") == "pending").join(
            state.filter("failed"), "node_id", "left_anti"
        ).select("node_id", "prop", "value", "target", "_ord")
        now_ids = persistent_rdd_ids(spark)
        for rid, rdd in dict(spark.sparkContext._jsc.getPersistentRDDs()).items():
            if rid in prev_round_ids:
                rdd.unpersist()
        prev_round_ids, start_ids = now_ids - start_ids, now_ids
        rounds += 1
        if not n_new.get["n"]:
            break
    if new_errors is not None:
        state = _update(state, new_errors)

    # --- leftovers: the last refs pass's pending refs (the node's last
    # one), then the last assign pass's waiting nodes ---
    failed = state.filter("failed").select("node_id")
    irreplaceable = (
        step.filter(F.col("_st") == "pending")
        .groupBy("node_id")
        .agg(F.max(F.struct("_ord", "target"))["target"].alias("ref"))
        .join(failed, "node_id", "left_anti")
    )
    unassignable = (
        assigned.filter(F.col("ref").isNotNull())
        .join(failed, "node_id", "left_anti")
        .join(irreplaceable, "node_id", "left_anti")
    )
    ops = {"ref": F.col("ref"), "node": F.col("node_id")}
    errors = (
        state.filter(F.col("counter").isNotNull())
        .select("node_id", "counter", "message")
        .unionByName(irreplaceable.select("node_id", *_error_cols("irreplaceable", **ops)))
        .unionByName(unassignable.select("node_id", *_error_cols("unassignable", **ops)))
        .localCheckpoint()
    )

    # --- final rewrite: ONE pass over the statement table ---
    # rewrite BEFORE splitting so failed nodes keep partial progress
    # (reference parity, McfResolverTest_Resolved_InstanceFailure)
    out = _replace_refs(nodes, resolved_refs, cols).unionByName(
        state.filter("assigned").select(
            "node_id",
            F.lit(V.DCID).alias("prop"),
            F.lit("TEXT").alias("value_type"),
            F.col("dcid").alias("value"),
            *([F.col("_src").alias("src_file")] if has_src else []),
        )
    )
    error = errors.groupBy("node_id").agg(F.min("counter").alias("error"))
    return McfResolveResult(
        resolved=out.join(error, "node_id", "left_anti"),
        failed=out.join(error, "node_id"),
        errors=errors,
        rounds=rounds,
    )
