"""The end-to-end KG-construction pipeline over transcript tables.

Stage DAG (north rule; the Spark re-expression of
GraphIngestionPipeline.java:44-113 + Processor.java:59-147):

1. scan        — stable (conv_id, turn_idx) input; text-equality digest
2. extract     — vectorized statement extraction (operators/extract.py)
3. link        — dictionary-join entity linking (operators/link.py)
4. resolve     — iterative local-ref resolution + quarantine (operators/resolve.py)
5. canonicalize— sameAs connected components, min-dcid rewrite
6. merge       — single-shuffle dedupe, subject-hash layout, write

Pass discipline (what makes this scale): only the NARROW statement
classes (DEF/ERROR/sameAs/local-ref — ~5% of rows) are materialized;
the fat plain-triple rows (~95%) are never stored. Their single
consumer — the fused resolve+canonicalize+dedupe+write pass —
re-runs the extraction scan streaming straight into the dedupe
shuffle. Extraction is a narrow, deterministic, whole-stage-codegen'd
pass (simple anchors never leave the JVM), so the recompute costs CPU
that scales with cores, where caching the statement table costs a
columnar write+read of ~20x the bytes — pure memory bandwidth, which
a single box does NOT scale with cores and a 100 TB run could not
hold at all. With a checkpoint_dir the extract+link output IS
materialized once, as a class-partitioned zstd-parquet snapshot (the
in-sandbox stand-in for an Iceberg stage table) for cross-process
resumability; narrow passes then read only their tiny partitions.

The narrow side is decided and resolved in two driver round-trips:
ONE aggregate over the narrow classes returns the per-class counts,
the exact bytes of the DEF/local/sameAs rows and the ERROR counters;
the gates (defs, sameAs edges, driver byte budget) read those counts,
with no probe job. The gates pick only WHERE the three narrow maps —
resolution map, sameAs component map, failed quarantine — are built:
when all three fit, ONE Arrow collect of those rows feeds
``narrow_driver_step`` and the maps come back as parquet handoffs;
when any declines, ``narrow_distributed_step`` builds the same maps in
Spark from the persisted narrow rows (def fixpoint loop, local-ref
lookup, connected components), each materialized by
``localCheckpoint``. Everything after the maps is one code path: one
broadcast gate sizes both maps, and the fused resolve+canonicalize+
dedupe(+write) pass is the only pass over the fat rows, with the
plain-triple count observed on its stream. The dictionary is prepared
once per run (``link.link_dictionary``: deduped, then materialized by
one checkpoint that observes its size), and every link plan joins that frame,
broadcast or salted by its size. Either way the big table is shuffled
exactly once (dedupe), and the final row count is the count the big
pass already returned (parquet metadata when written).

Every stage records counters into a metrics list
(``(run_id, stage, counter, value)`` — the LogWrapper counter model,
LogWrapper.java:50-68) and the snapshot makes re-runs resume past
extract+link (idempotent; the Wait.on/delete-before-write ordering of
GraphIngestionPipeline.java:273-316 collapses into driver-sequenced
stages + dynamic partition overwrite).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from import_spark.operators.canonicalize import (
    broadcastable,
    canonicalize_triples,
    connected_components,
    connected_components_fast,
    union_find_components,
)
from import_spark.operators.extract import extract_statements
from import_spark.operators.link import (
    LinkDictionary,
    hot_link_keys,
    link_dictionary,
    link_statements,
)
from import_spark.operators.merge import (
    dedupe_and_materialize,
    dedupe_triples,
    drop_generic_types,
)
from import_spark.operators.resolve import _resolve_defs_vectorized, resolve_locals
from import_spark.plans.lineage import write_stage_lineage

if TYPE_CHECKING:
    import pandas as pd

FINAL_COLS = ["subj", "pred", "obj_type", "obj", "conv_id", "turn_idx"]

# Statement-class column for the single materialization of the
# extract+link output. Every later pass filters on this ONE int
# column, so both materialization modes prune to the rows the pass
# actually needs instead of re-scanning the fat statement table:
#  - parquet snapshot: `_cls` is the partition column (partition
#    pruning — the DEF/ERROR/sameAs/local scans touch only their
#    tiny files; finer than the earlier kind= layout);
#  - in-memory: only the narrow classes (`_cls` >= 1) are persisted,
#    from the narrow-only extract+link pass, so every narrow pass
#    reads that small cache.
# Plain triples (cls 0) are ~95% of rows at any scale (measured 46.0M
# of 48.6M at 1M conversations), so the narrow passes drop from full
# scans to ~5% scans; only the final merge pass reads cls<=2 in full.
CLS_TRIPLE, CLS_LOCAL, CLS_SAMEAS, CLS_DEF, CLS_ERROR = 0, 1, 2, 3, 4


def _with_cls(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "_cls",
        F.when(F.col("kind") == "DEF", F.lit(CLS_DEF))
        .when(F.col("kind") == "ERROR", F.lit(CLS_ERROR))
        .when(F.col("pred") == "sameAs", F.lit(CLS_SAMEAS))
        .when(F.col("obj_type") == "UNRESOLVED_REF", F.lit(CLS_LOCAL))
        .otherwise(F.lit(CLS_TRIPLE)),
    )


@dataclass
class PipelineResult:
    triples: DataFrame
    failed: DataFrame
    metrics: list[dict] = field(default_factory=list)
    text_digest_in: int = 0
    text_digest_out: int = 0


def text_digest(transcripts: DataFrame) -> int:
    """Order-independent digest of per-turn text under (conv_id, turn_idx)
    identity — the per-turn text-equality invariant (input_hint)."""
    row = transcripts.select(
        F.bit_xor(F.xxhash64("conv_id", "turn_idx", "text")).alias("d")
    ).collect()[0]
    return row["d"] or 0


def dict_digest(dcid_dict: DataFrame) -> int:
    """Order-independent digest of the dcid dictionary — the other half
    of the snapshot resume marker. ONE definition, shared with the
    streaming ingest (streaming/incremental.py): a silent formula
    divergence would make the digests never match and the resume
    fast-path quietly regenerate every run."""
    row = dcid_dict.select(
        F.bit_xor(F.xxhash64(*dcid_dict.columns)).alias("d")
    ).collect()[0]
    return row["d"] or 0


class _Metrics:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.rows: list[dict] = []
        self._t0 = time.time()

    def add(self, stage: str, counter: str, value) -> None:
        self.rows.append(
            {
                "run_id": self.run_id,
                "stage": stage,
                "counter": counter,
                "value": int(value) if value is not None else None,
                "elapsed_sec": round(time.time() - self._t0, 3),
            }
        )


def _link_plan(
    transcripts: DataFrame,
    dictionary: LinkDictionary,
    narrow_only: bool = False,
    hot: list[tuple] | None = None,
) -> DataFrame:
    """The extract+link stage: extract, then join the prepared
    dictionary (``link.link_statements``; ``hot`` is the salted join's
    census). ``narrow_only`` elides the fat-row work."""
    extracted = extract_statements(transcripts, narrow_only=narrow_only)
    return link_statements(extracted, dictionary, hot=hot).drop("ext_prop", "ext_id")


# Failed-quarantine layout, the same from both narrow engines: the
# local-ref statement columns led by the (conv_id, obj) lookup key, then
# the error category.
_FAILED_LEAD = ("conv_id", "obj")


def _failed_schema(narrow_schema: T.StructType) -> T.StructType:
    rest = [f for f in narrow_schema.fields if f.name not in _FAILED_LEAD and f.name != "_cls"]
    return T.StructType(
        [narrow_schema[c] for c in _FAILED_LEAD]
        + rest
        + [T.StructField("error", T.StringType(), True)]
    )


@dataclass
class NarrowMaps:
    """A narrow step's outputs: pandas frames from
    ``narrow_driver_step``, DataFrames from ``narrow_distributed_step``.

    ``rmap``: (conv_id, obj, dcid) — local name → resolved dcid.
    ``components``: (node, canon) — sameAs component map, canon = min.
    ``failed``: unresolvable local-ref statements plus ``error``.
    ``rounds``: def-fixpoint join rounds (0 on the driver)."""

    rmap: pd.DataFrame | DataFrame
    components: pd.DataFrame | DataFrame
    failed: pd.DataFrame | DataFrame
    rounds: int = 0


def narrow_driver_step(pdf: pd.DataFrame) -> NarrowMaps:
    """Resolve → canonicalize → quarantine over the collected narrow
    classes (DEF/local/sameAs rows with their ``_cls``), all on the
    driver: the vectorized def fixpoint, the local-ref lookup of every
    local and sameAs row, the sameAs union-find, and the failed table.
    Equality with the spec (``_resolve_defs_driver`` +
    ``connected_components``) is asserted in test_pipeline_e2e."""
    import numpy as np
    import pandas as pd

    cls = pdf["_cls"]
    resolved, divergent, unresolved = _resolve_defs_vectorized(
        pdf.loc[cls == CLS_DEF, ["conv_id", "subj", "obj_type", "obj"]]
    )
    rmap = resolved.rename(columns={"key": "obj"})
    refs = pdf[cls.isin([CLS_LOCAL, CLS_SAMEAS])]
    key = list(_FAILED_LEAD)
    is_local = (refs["obj_type"] == "UNRESOLVED_REF").to_numpy()
    # rmap holds one row per key, so the left merge keeps refs' rows
    # and order; only local refs may match (the Spark `_lk` rule)
    dcid = refs[key].merge(rmap, on=key, how="left")["dcid"].to_numpy()
    dcid = np.where(is_local, dcid, None)
    lost = is_local & pd.isna(dcid)

    bad = refs[lost]

    def _in(keys: pd.DataFrame) -> np.ndarray:
        k = keys.set_axis(key, axis=1).drop_duplicates().assign(_hit=True)
        return bad[key].merge(k, on=key, how="left")["_hit"].notna().to_numpy()

    error = np.where(
        _in(divergent),
        "Resolution_DivergingDcids",
        np.where(_in(unresolved), "Resolution_IrreplaceableLocalRef", "Resolution_OrphanLocalReference"),
    )
    rest = [c for c in pdf.columns if c not in _FAILED_LEAD and c != "_cls"]
    failed = bad[key + rest].assign(error=error).reset_index(drop=True)

    edge = ((refs["_cls"] == CLS_SAMEAS).to_numpy()) & ~lost
    obj = refs["obj"].to_numpy()
    edges = pd.DataFrame(
        {
            "src": refs["subj"].to_numpy()[edge],
            "dst": np.where(pd.isna(dcid), obj, dcid)[edge],
        }
    )
    return NarrowMaps(rmap=rmap, components=union_find_components(edges), failed=failed)


def _lookup(rows: DataFrame, rmap: DataFrame, broadcast: bool) -> DataFrame:
    """``rows`` plus ``_dc``: the resolution map's dcid for each
    local-ref row, null for an unresolved local and for every other row.
    The join key is (conv_id, ``_lk``), ``_lk`` = obj on local refs and
    null elsewhere: null keys never match, so non-local rows pass
    through, and when the map is not broadcast the shuffle still hashes
    them by conv_id rather than piling them onto one key."""
    m = rmap.select("conv_id", F.col("obj").alias("_lk"), F.col("dcid").alias("_dc"))
    return (
        rows.withColumn("_lk", F.when(F.col("obj_type") == "UNRESOLVED_REF", F.col("obj")))
        .join(F.broadcast(m) if broadcast else m, ["conv_id", "_lk"], "left")
        .drop("_lk")
    )


def resolve_triples(triples: DataFrame, rmap: DataFrame, broadcast: bool = False) -> DataFrame:
    """The resolve rewrite, the same after either narrow engine: local
    refs take their dcid from ``rmap`` (conv_id, obj, dcid) and become
    RESOLVED_REF; local refs with no dcid are dropped (the failed table
    quarantines them)."""
    is_local = F.col("obj_type") == "UNRESOLVED_REF"
    return (
        _lookup(triples, rmap, broadcast)
        .filter(~(is_local & F.col("_dc").isNull()))
        .withColumn("obj", F.coalesce(F.col("_dc"), F.col("obj")))
        .withColumn(
            "obj_type", F.when(is_local, F.lit("RESOLVED_REF")).otherwise(F.col("obj_type"))
        )
        .drop("_dc")
    )


def narrow_distributed_step(
    narrow: DataFrame, n_same: int | None = None
) -> tuple[NarrowMaps, tuple[int, int], tuple[int, int]]:
    """Spark twin of ``narrow_driver_step`` over the narrow classes
    (DEF/local/sameAs rows with their ``_cls``; ERROR rows are
    ignored): the distributed def fixpoint (``resolve_locals``), the
    local-ref lookup of every local and sameAs row, connected components
    (driver union-find while the edges fit, else the distributed
    kernel) and the failed table, in ``_failed_schema`` order.
    ``n_same``: the sameAs row count when the caller already holds it;
    over ``DRIVER_CC_MAX_EDGES`` the distributed kernel runs without
    the union-find path's checkpoint and size probe.

    Every map is materialized by ``localCheckpoint``, so the caller may
    release ``narrow``; the exact (rows, bytes) of ``rmap`` and of
    ``components`` are observed on their checkpoint jobs and returned
    with the maps."""
    from import_spark.functions.size_gate import checkpoint_sized
    from import_spark.operators import canonicalize as cz

    cls = F.col("_cls")
    defs = resolve_locals(narrow)
    rmap, rmap_size = checkpoint_sized(defs.rmap)
    refs = _lookup(
        narrow.filter(cls.isin(CLS_LOCAL, CLS_SAMEAS)), rmap, broadcastable(*rmap_size)
    ).localCheckpoint()
    lost = (F.col("obj_type") == "UNRESOLVED_REF") & F.col("_dc").isNull()
    key = list(_FAILED_LEAD)
    failed = (
        refs.filter(lost)
        .join(defs.divergent.withColumn("_div", F.lit(True)), key, "left")
        .join(defs.unresolved.withColumn("_unres", F.lit(True)), key, "left")
        .withColumn(
            "error",
            F.when(F.col("_div"), F.lit("Resolution_DivergingDcids"))
            .when(F.col("_unres"), F.lit("Resolution_IrreplaceableLocalRef"))
            .otherwise(F.lit("Resolution_OrphanLocalReference")),
        )
        .select(*_failed_schema(narrow.schema).names)
        .localCheckpoint()
    )
    edges = refs.filter((cls == CLS_SAMEAS) & ~lost).select(
        F.col("subj").alias("src"), F.coalesce(F.col("_dc"), F.col("obj")).alias("dst")
    )
    fast_cc = (
        connected_components_fast(edges)
        if n_same is None or n_same <= cz.DRIVER_CC_MAX_EDGES
        else None
    )
    components, cc_size = checkpoint_sized(
        fast_cc if fast_cc is not None else connected_components(edges)
    )
    maps = NarrowMaps(rmap=rmap, components=components, failed=failed, rounds=defs.rounds)
    return maps, rmap_size, cc_size


def _narrow_sizes(narrow: DataFrame) -> tuple[dict, int, dict]:
    """ONE aggregate over the narrow classes → (rows per ``_cls``, exact
    bytes of the DEF/local/sameAs rows the driver step would collect,
    ERROR rows per pred)."""
    from import_spark.functions.size_gate import row_bytes

    cls = F.col("_cls")
    rows = (
        narrow.groupBy("_cls", F.when(cls == CLS_ERROR, F.col("pred")).alias("_epred"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(row_bytes(narrow.schema)).alias("b"))
        .collect()
    )
    counts: dict[int, int] = {}
    errors: dict[str, int] = {}
    nbytes = 0
    for r in rows:
        counts[r["_cls"]] = counts.get(r["_cls"], 0) + r["n"]
        if r["_cls"] == CLS_ERROR:
            errors[r["_epred"]] = r["n"]
        else:
            nbytes += r["b"] or 0
    return counts, nbytes, errors


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    dcid_dict: DataFrame,
    out_dir: str | None = None,
    checkpoint_dir: str | None = None,
    run_id: str = "run0",
    num_partitions: int | None = None,
    check_generic_types: bool = False,
    num_buckets: int = 64,
    verify_text_invariant: bool = True,
    keep_snapshot: bool | None = None,
) -> PipelineResult:
    from import_spark.functions import size_gate
    from import_spark.operators import canonicalize as cz
    from import_spark.operators import resolve as rz

    m = _Metrics(run_id)
    dictionary = link_dictionary(dcid_dict)
    m.add("link", f"strategy_{dictionary.strategy}", 1)
    m.add("link", "dict_rows", dictionary.rows)
    m.add("link", "dict_bytes", dictionary.nbytes)
    # per-partition lineage lands next to the checkpoint (or, without
    # one, the output) — one (run_id, stage)-partitioned parquet table
    lin_dir = (
        os.path.join(checkpoint_dir or out_dir, "lineage")
        if (checkpoint_dir or out_dir)
        else None
    )

    # 1. scan
    din = text_digest(transcripts) if verify_text_invariant else 0
    m.add("scan", "text_digest", din)

    # 2-3. extract + link: the one JVM projection
    # (operators/extract.py), then the dictionary join
    # (operators/link.py). With a
    # checkpoint_dir the full output is snapshotted once as a
    # class-partitioned parquet table (resumable across processes;
    # narrow scans touch only their tiny partitions). Without one,
    # only the narrow classes are persisted and the fat triples are
    # recomputed by their single consumer (see module docstring).
    snap = None
    keep = False
    if checkpoint_dir:
        snap = os.path.join(checkpoint_dir, run_id, "linked")
        keep = True if keep_snapshot is None else keep_snapshot
        # Resume is only valid if the snapshot was built from the SAME
        # inputs: persist (text digest, dcid-dict digest) alongside it
        # and compare before trusting the files (stale run_id reuse
        # otherwise silently serves an old extract+link). The digest
        # file doubles as the success marker — it is renamed into
        # place only AFTER the parquet write returns (the dynamic
        # partition-overwrite committer writes no _SUCCESS file).
        digest_path = os.path.join(snap, "_input_digest.json")
        cur_digest = {"text_digest": din, "dict_digest": dict_digest(dcid_dict)}
        resume_ok = False
        if os.path.exists(digest_path):
            with open(digest_path) as f:
                resume_ok = json.load(f) == cur_digest
        if resume_ok:
            m.add("link", "resumed_from_checkpoint", 1)
        else:
            # stale/absent marker: the snapshot dir is a derived
            # artifact — remove it WHOLE before regenerating. A
            # partial dynamic overwrite into a directory laid out by a
            # different partitioning (the streamed snapshot uses
            # (_b, _cls); this writer uses (_cls)) would leave
            # mixed-depth partition dirs that break discovery.
            if os.path.exists(snap):
                shutil.rmtree(snap, ignore_errors=True)
            linked_plan = _with_cls(_link_plan(transcripts, dictionary))
            (
                linked_plan.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_cls")
                .parquet(snap)
            )
            tmp_digest = digest_path + ".tmp"
            with open(tmp_digest, "w") as f:
                json.dump(cur_digest, f)
            os.replace(tmp_digest, digest_path)
            if lin_dir:
                write_stage_lineage(spark, snap, lin_dir, run_id, "link", part_col="_cls")
                m.add("link", "lineage_written", 1)
        fat_src = spark.read.parquet(snap)
        # partition pruning: the narrow passes read only their files
        narrow = fat_src.filter(F.col("_cls") >= CLS_LOCAL)
    else:
        # In-memory mode: persist ONLY the narrow classes (~5% of rows —
        # DEF/ERROR/sameAs/local; measured 2.6M of 48.6M at 1M convs).
        # The fat plain-triple rows are NOT cached: their single
        # consumer (the fused resolve+canonicalize+dedupe+write pass)
        # re-runs the extraction streaming straight into the dedupe
        # shuffle. Extraction is a narrow, deterministic, codegen'd
        # scan (simple anchors never leave the JVM), so recomputing it
        # costs CPU that scales with cores, while caching 95% of the
        # statement table costs a full columnar write+read — pure
        # memory bandwidth, the one resource that does NOT scale with
        # cores on a box (and at 100 TB the fat intermediate could
        # never be cached at all; persisting small side-outputs and
        # recomputing narrow lineage is the only design that survives).
        # both link plans read one input: a salted join takes one
        # hot-key census for the two of them
        hot = (
            hot_link_keys(extract_statements(transcripts))
            if dictionary.strategy == "salted"
            else None
        )
        fat_src = _with_cls(_link_plan(transcripts, dictionary, hot=hot))
        narrow = (
            _with_cls(_link_plan(transcripts, dictionary, narrow_only=True, hot=hot))
            .filter(F.col("_cls") >= CLS_LOCAL)
            .persist()
        )

    # counters + gate inputs: ONE aggregate over the narrow classes.
    # The plain-triple total (classes 0-2) is collected for free during
    # the big pass via an Observation on its stream (no extra job).
    cls_counts, narrow_bytes, error_counts = _narrow_sizes(narrow)
    n_defs = cls_counts.get(CLS_DEF, 0)
    n_same = cls_counts.get(CLS_SAMEAS, 0)
    for k, c in (("def", CLS_DEF), ("error", CLS_ERROR)):
        if c in cls_counts:
            m.add("extract", f"rows_{k}", cls_counts[c])
    for pred in sorted(error_counts):
        m.add("extract", pred, error_counts[pred])

    # 4-6. resolve → canonicalize → merge.
    #
    # The gates read the aggregate above and decide only where the
    # three narrow maps are built. Driver branch (the narrow side fits —
    # the common shape: locals and aliases are bounded per
    # conversation): ONE Arrow collect of the DEF/local/sameAs rows
    # feeds narrow_driver_step, and its maps come back as parquet
    # handoffs. Distributed branch (a gate declines):
    # narrow_distributed_step builds the same maps in Spark from the
    # persisted narrow rows. After the branch there is one path: the
    # ONLY pass that touches the fat plain-triple rows is the final
    # fused resolve+canonicalize+dedupe+write.
    driver = (
        n_defs <= rz.DRIVER_RESOLVE_MAX_DEFS
        and n_same <= cz.DRIVER_CC_MAX_EDGES
        and narrow_bytes <= size_gate.DRIVER_COLLECT_BUDGET_BYTES
    )
    m.add("extract", "narrow_bytes", narrow_bytes)
    m.add("resolve", f"branch_{'driver' if driver else 'distributed'}", 1)
    if driver:
        maps = narrow_driver_step(narrow.filter(F.col("_cls") != CLS_ERROR).toPandas())
        rmap_size, cc_size = (
            (len(f), size_gate.pandas_bytes(f)) for f in (maps.rmap, maps.components)
        )
        failed_counts = list(maps.failed["error"].value_counts().items())
        rmap = rz._driver_parquet_handoff(
            spark, maps.rmap, "conv_id string, obj string, dcid string"
        )
        components = rz._driver_parquet_handoff(
            spark, maps.components, "node string, canon string"
        )
        failed = rz._driver_parquet_handoff(spark, maps.failed, _failed_schema(narrow.schema))
    else:
        maps, rmap_size, cc_size = narrow_distributed_step(narrow, n_same)
        rmap, components, failed = maps.rmap, maps.components, maps.failed
        failed_counts = None
    if snap is None:
        # the maps are materialized: the narrow cache has served
        narrow.unpersist()
    m.add("resolve", "rounds", maps.rounds)
    m.add("canonicalize", "nodes_rewritten", cc_size[0])

    # the fused final pass: resolve locals inline (dropping failed rows
    # — they are quarantined above), then canonicalize; the plain-triple
    # count is observed on its stream (no extra job)
    obs = Observation("extract")
    triples = (
        fat_src.filter(F.col("_cls") <= CLS_SAMEAS)
        .drop("_cls")
        .observe(obs, F.count(F.lit(1)).alias("rows_triple"))
    )
    resolved = resolve_triples(triples, rmap, broadcast=broadcastable(*rmap_size))
    canon = canonicalize_triples(resolved, components, broadcast_map=broadcastable(*cc_size))

    # 6. merge + materialize. The failed-quarantine sink write and its
    # error counters are independent of the big triple write (S11's
    # write barrier is between stages, not between sibling sinks) —
    # they run as concurrent actions and hide under the big write's
    # task tail instead of adding serial scans; Spark schedulers
    # interleave concurrent jobs fairly. On the driver branch the
    # counters are already on the driver.
    if check_generic_types:
        canon = drop_generic_types(canon)
    from concurrent.futures import ThreadPoolExecutor

    def _failed_tail():
        if out_dir:
            failed.write.mode("overwrite").parquet(os.path.join(out_dir, "failed"))
        if failed_counts is not None:
            return failed_counts
        return [(r["error"], r["count"]) for r in failed.groupBy("error").count().collect()]

    if out_dir:
        tri_path = os.path.join(out_dir, "triples")
        with ThreadPoolExecutor(max_workers=2) as pool:
            fut_tri = pool.submit(
                dedupe_and_materialize,
                canon.select(*FINAL_COLS),
                tri_path,
                num_buckets=num_buckets,
                num_partitions=num_partitions,
            )
            fut_failed = pool.submit(_failed_tail)
            fut_tri.result()
            m.add("merge", "triples_written", 1)
            error_rows = fut_failed.result()
            m.add("merge", "failed_written", 1)
        if lin_dir:
            write_stage_lineage(
                spark, tri_path, lin_dir, run_id, "merge", part_col="subj_bucket"
            )
            failed_path = os.path.join(out_dir, "failed")
            if os.path.isdir(failed_path):
                write_stage_lineage(spark, failed_path, lin_dir, run_id, "resolve")
            m.add("merge", "lineage_written", 1)
        final = spark.read.parquet(tri_path)
        # parquet metadata count (no recompute)
        n_final = final.count()
    else:
        final = dedupe_triples(
            canon.select(*FINAL_COLS), num_partitions=num_partitions
        ).cache()
        with ThreadPoolExecutor(max_workers=2) as pool:
            fut_cnt = pool.submit(final.count)
            fut_failed = pool.submit(_failed_tail)
            n_final = fut_cnt.result()
            error_rows = fut_failed.result()
    for err, n in error_rows:
        m.add("resolve", err, n)
    # collected during the big pass — no extra job
    m.add("extract", "rows_triple", obs.get["rows_triple"])
    m.add("merge", "triples_final", n_final)

    # invariant: input text unchanged under stable ordering
    dout = text_digest(transcripts) if verify_text_invariant else 0
    m.add("merge", "text_digest_out", dout)
    if verify_text_invariant and dout != din:
        raise AssertionError("per-turn text-equality invariant violated")

    if out_dir:
        with open(os.path.join(out_dir, f"metrics_{run_id}.json"), "w") as f:
            json.dump(m.rows, f, indent=1)
        # A11: counters as a queryable table, appended per run — the
        # LogWrapper counter model as data (run_id, stage, counter,
        # value, elapsed_sec), partitioned by run for lineage
        import pandas as pd

        from import_spark.session import local_frame

        local_frame(
            spark,
            pd.DataFrame(m.rows, dtype=object),
            "run_id string, stage string, counter string, value long, elapsed_sec double",
        ).write.mode("append").partitionBy("run_id").parquet(
            os.path.join(out_dir, "metrics")
        )
    if snap is not None and not keep and os.path.exists(snap):
        shutil.rmtree(snap, ignore_errors=True)

    return PipelineResult(
        triples=final, failed=failed, metrics=m.rows, text_digest_in=din, text_digest_out=dout
    )
