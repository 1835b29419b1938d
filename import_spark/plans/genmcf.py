"""``dc-import genmcf`` — TMCF × CSV (+ instance MCF) → resolved MCF.

The reference's #1 user entry point (Processor.java:59-147,299-407):

1. parse/expand — TMCF template × CSV rows → instance statements
   (TmcfCsvParser, our sources/tmcf.py); each parsed node then runs the
   inline sanity gate (TmcfCsvParser.java:224-228: any checker entry,
   warnings included, drops the node from the parsed graph while its
   entries still reach the report); instance MCF files parsed the
   same long form (McfParser, our sources/mcf.py) and NOT gated here
2. McfMutator.mutate (McfMutator.java:35-47) — complex-value → child
   nodes, legacy-obs value cleaning, StatVar synthesis
3. McfChecker.check (McfChecker.java:62-98) — per-node sanity suite →
   counters (nodes with errors still flow on, like the reference:
   Processor.java:330-345 writes them unless resolution quarantines)
4. McfResolver (McfResolver.java:39-128) — alternating local-ref
   replacement ⇄ dcid assignment to fixpoint; failures quarantined.
   External ids resolve through the local-graph seed (J2), then the
   caller's ``dcid_dict``, then the recon-derived dictionary
5. write — resolved nodes as MCF text (``table_mcf_nodes``), failed
   nodes separately (``failed_table_mcf_nodes``), ``report.json``
   (LogWrapper.persistLog model) — the WriterPair split of
   Processor.java:315-320.

Spark shape: the expansion is one cached JVM projection over the CSV
scan (no Python worker); mutator/checker are JVM-side column passes;
the resolver touches only the shrinking ref/dcid working sets per
round; the statement table is rewritten once. Equivalent semantics to
``dc-import genmcf tmcf csv...`` in LOCAL resolution mode.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from import_spark.operators.mcf_checker import check_nodes, failed_node_ids
from import_spark.operators.mcf_mutator import mutate_nodes
from import_spark.operators.mcf_resolver import resolve_graph
from import_spark.report import build_report, write_report
from import_spark.sources.mcf import write_mcf
from import_spark.sources.tmcf import expand_template


@dataclass
class GenMcfResult:
    nodes: DataFrame  # resolved long-form statements
    failed: DataFrame  # failed-node statements (+ error)
    errors: DataFrame  # (node_id, level, counter, message)
    report: dict = field(default_factory=dict)
    rounds: int = 0


def run_genmcf(
    spark: SparkSession,
    tmcf_text: str,
    csv_df: DataFrame | None = None,
    instance_nodes: DataFrame | None = None,
    row_id_col: str | None = None,
    out_dir: str | None = None,
    assign_statvar_dcids: bool = True,
    dcid_dict: dict | None = None,
    force_distributed_resolve: bool = False,
    recon_table: DataFrame | None = None,
) -> GenMcfResult:
    """End-to-end genmcf. ``csv_df``: the table scan; ``instance_nodes``:
    optional pre-parsed long-form MCF rows (read_mcf output) unioned in
    like Processor.processNodes.

    ``dcid_dict``: optional (prop, ext_id) → dcid driver dict.
    ``recon_table``: optional offline Recon dimension (prop, ext_id,
    dcid). When given, the FULL-resolution two-pass orchestration runs
    (Processor.java:82-86,451-497): pass 1 collects the distinct
    external-id working set from the parsed graph and derives the
    dictionary by joining the recon table. The resolver always seeds
    the local graph (J2), as the reference does; local-graph seeds
    override explicit ``dcid_dict`` entries, which override derived
    ones."""
    from import_spark.session import persistent_rdd_ids

    _ids0 = persistent_rdd_ids(spark)
    stmts = None
    parse_errors = None
    exp_ids: set[int] = set()
    if csv_df is not None:
        # checkpointed although the projection is cheap: the gate's
        # checker pass and the anti-join read it several times, and
        # recomputing it made a warm mcf_obs genmcf call ~5% slower
        stmts = expand_template(
            csv_df,
            tmcf_text,
            row_id_col=row_id_col,
            min_partitions=spark.sparkContext.defaultParallelism,
        ).localCheckpoint()
        exp_ids = persistent_rdd_ids(spark) - _ids0
        # TmcfCsvParser inline gate (TmcfCsvParser.java:224-228): every
        # parsed node runs the sanity suite and a node with ANY entry —
        # warnings included, McfChecker.addLog sets nodeFailure
        # unconditionally (McfChecker.java:790-793) — is dropped from
        # the parsed graph; its entries still reach the report via the
        # shared LogWrapper. Instance-MCF input is NOT gated here (the
        # reference checks it post-mutation, Processor.java:330-345).
        parse_errors = check_nodes(stmts).localCheckpoint()
        # survivors are PROVEN clean (zero checker entries) — mark them
        # so the post-mutation check can skip every node the mutator
        # leaves byte-identical (the r3 +67% regression was paying a
        # second full checker pass here)
        stmts = stmts.join(
            parse_errors.select("node_id").distinct(), "node_id", "left_anti"
        ).withColumn("_pre_checked", F.lit(True))
    if instance_nodes is not None:
        inst = instance_nodes.select(
            *[c for c in instance_nodes.columns if c != "_pre_checked"]
        ).withColumn("_pre_checked", F.lit(False))
        stmts = inst if stmts is None else stmts.unionByName(inst.select(*stmts.columns))
    if stmts is None:
        raise ValueError("need csv_df and/or instance_nodes")
    # materialize the expansion ONCE: the mutator/checker/resolver each
    # consume it several times (flags, complex lookup, synthesis,
    # row+node checks) and would re-run the expansion otherwise
    _pre_union = persistent_rdd_ids(spark)
    stmts = stmts.localCheckpoint()
    union_ids = persistent_rdd_ids(spark) - _pre_union
    # the gated union is self-contained now — release the superseded
    # raw-expansion blocks (parse_errors has its own checkpoint) so the
    # block manager doesn't carry two copies of the statement table
    _rdds = dict(spark.sparkContext._jsc.getPersistentRDDs())
    for rid in exp_ids:
        if rid in _rdds:
            _rdds[rid].unpersist()

    # 2. mutate (tracks _touched: rows the mutator created or changed)
    mutated_t, mut_errors = mutate_nodes(stmts)
    mutated_t = mutated_t.localCheckpoint()
    mutated = mutated_t.drop("_touched")

    # 3. check (sanity suite; counters only — the resolver decides
    # quarantine, matching Processor.java:330-345). Gated survivors the
    # mutator did not touch are byte-identical to their checked input,
    # so the suite only scans the _touched delta — same entries as the
    # reference's full post-mutation pass, a fraction of the I/O.
    check_errors = check_nodes(mutated_t.filter(F.col("_touched")).drop("_touched"))

    # 4. resolve — the resolver seeds the local graph itself (J2:
    # external ids defined WITH a dcid in this very import resolve to
    # the local nodes, ExternalIdResolver.addLocalGraph) over the
    # caller's dictionary and, in FULL-resolution mode, the recon
    # dictionary. Pass 1 is a pruned re-scan of the materialized
    # expansion (the reference re-reads the CSVs because it streams);
    # the recon join stands in for the batched API calls.
    from import_spark.operators.link import derive_node_dictionary_df

    res = resolve_graph(
        mutated,
        assign_statvar_dcids=assign_statvar_dcids,
        dcid_dict=dcid_dict,
        dict_df=None if recon_table is None else derive_node_dictionary_df(stmts, recon_table),
        force_distributed=force_distributed_resolve,
        input_materialized=True,
    )

    # materialize the (small) error set ONCE: it feeds the report union,
    # the failed-sanity counter AND the returned frame — unmaterialized,
    # each consumer re-ran the checker suite + mutator error branch
    # (two extra full passes in r3)
    post_errors = (
        mut_errors.withColumn("level", F.lit("LEVEL_ERROR"))
        .select("node_id", "level", "counter", "message")
        .unionByName(check_errors.select("node_id", "level", "counter", "message"))
        .unionByName(
            res.errors.withColumn("level", F.lit("LEVEL_ERROR")).select(
                "node_id", "level", "counter", "message"
            )
        )
    ).localCheckpoint()
    # mut_errors was the last consumer of the gated-union checkpoint —
    # release its blocks too
    _rdds = dict(spark.sparkContext._jsc.getPersistentRDDs())
    for rid in union_ids:
        if rid in _rdds:
            _rdds[rid].unpersist()
    # parse-gate entries join the report (shared LogWrapper) but not the
    # success arithmetic: gated nodes never reach the post-mutation
    # check the reference derives numNodeSuccesses from
    errors = (
        post_errors
        if parse_errors is None
        else post_errors.unionByName(
            parse_errors.select("node_id", "level", "counter", "message")
        )
    )

    # counters (Processor.java:395-397)
    n_nodes = mutated.select("node_id").distinct().count()
    n_failed_sanity = failed_node_ids(post_errors).count()
    info = {
        "NumNodeSuccesses": n_nodes - n_failed_sanity,
        "NumNodesProcessed": n_nodes,
    }
    report = build_report(errors, info_counters=info)

    # 5. write
    if out_dir:
        write_mcf(res.resolved, os.path.join(out_dir, "table_mcf_nodes"))
        write_mcf(
            res.failed.select([c for c in res.failed.columns if c != "error"]),
            os.path.join(out_dir, "failed_table_mcf_nodes"),
        )
        write_report(report, out_dir)

    return GenMcfResult(
        nodes=res.resolved,
        failed=res.failed,
        errors=errors,
        report=report,
        rounds=res.rounds,
    )
