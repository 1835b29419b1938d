"""McfMutator — post-parse graph mutations (reference McfMutator.java:35-163).

Three mutations over long-form node rows (node_id, prop, value_type,
value, src_file):

1. **Legacy-Observation value cleaning** (McfMutator.java:76-90,161-163):
   stat-value props on ``*Observation`` nodes get spaces/commas/percent
   stripped to prep for double conversion; a non-NUMBER/TEXT value is a
   ``Mutator_InvalidObsValue`` error and the node passes through
   unmutated.
2. **Complex-value expansion** (McfMutator.java:93-104): every
   ``COMPLEX_VALUE`` (``[Quantity ...]``/``[LatLong ...]``) is replaced
   by a RESOLVED_REF to its computed dcid and a child node
   (typeOf/name/value pvs) is added to the graph — one per distinct
   dcid.
3. **StatVar synthesis** (McfMutator.java:110-158):
   ``constraintProperties`` (all props outside the non-constraint set),
   a ``definition`` ("md=..,mq=..,st=..,mp=..,pt=..,<k=v...>",
   McfUtil.java:229-270) and a generated ``name`` (the FULL
   StatVarNameGenerator.java rule set — period-qualifier promotion,
   containment-suppressed measure x pop, boolean constraints,
   denominators; functions/statvar_name.py, locked to
   StatVarNameGeneratorTest vectors) are added when missing.

Spark-first: mutations 1 and 3 are pure DataFrame transforms (one
groupBy per node for the synthesis pass); mutation 2 parses only the
DISTINCT complex strings through a driver/pandas pass and joins the
result back as a ``LocalRelation`` (``session.local_frame``; empty when
the input has no complex values, which lets the optimizer prune the
lookup joins) — complex values are a bounded vocabulary, the node table
never funnels through Python.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from import_spark import vocabulary as V
from import_spark.functions.complex_values import parse_complex_value
from import_spark.session import local_frame

STAT_VALUE_PROPS = [
    "measuredValue",
    "sumValue",
    "meanValue",
    "minValue",
    "maxValue",
    "medianValue",
    "marginOfError",
    "stdError",
    "meanStdError",
    "growthRate",
    "percentile10",
    "percentile25",
    "percentile75",
    "percentile90",
]

_NODE_COLS = ["node_id", "prop", "value_type", "value", "src_file"]


def _node_type_flags(nodes: DataFrame) -> DataFrame:
    """One partial-agg pass → (node_id, is_legacy_obs, is_statvar,
    has_type, has_cv). Covers every node (not just those with typeOf)
    so the missing-typeOf error and the mutator-touched predicate fall
    out of the same shuffle; map-side combine reduces the exchange to
    one row per node per partition."""
    is_type = F.col("prop") == "typeOf"
    return nodes.groupBy("node_id").agg(
        F.max(
            is_type
            & F.col("value").endswith("Observation")
            & (F.col("value") != "StatVarObservation")
        ).alias("is_legacy_obs"),
        F.max(is_type & (F.col("value") == "StatisticalVariable")).alias("is_statvar"),
        F.max(is_type).alias("has_type"),
        F.max(F.col("value_type") == "COMPLEX_VALUE").alias("has_cv"),
    )


def format_token(token_col):
    """StatVarNameGenerator.formatToken (StatVarNameGenerator.java:70-90)
    as a native column expression: strip namespace, underscores →
    spaces, split camelCase / letter-digit boundaries, Title Case."""
    c = F.regexp_replace(token_col, r"^[A-Za-z]+:", "")
    c = F.regexp_replace(c, "_", " ")
    c = F.regexp_replace(c, r"([a-z0-9])([A-Z])", r"$1 $2")
    c = F.regexp_replace(c, r"([A-Z])([A-Z][a-z])", r"$1 $2")
    c = F.regexp_replace(c, r"([a-zA-Z])([0-9])", r"$1 $2")
    c = F.regexp_replace(c, r"([0-9])([a-zA-Z])", r"$1 $2")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return F.initcap(c)


def _complex_lookup(nodes: DataFrame) -> DataFrame:
    """Distinct COMPLEX_VALUE strings → (value, dcid, type_of, name,
    pvs array<struct<prop,value_type,value>>)."""
    spark = nodes.sparkSession
    distinct_vals = [
        r["value"]
        for r in nodes.filter(F.col("value_type") == "COMPLEX_VALUE")
        .select("value")
        .distinct()
        .collect()
    ]
    rows = []
    for v in distinct_vals:
        cv = parse_complex_value(v)
        if cv is None:
            continue
        pvs = [{"prop": p, "value_type": t, "value": pv} for p, t, pv in cv.pvs]
        rows.append((v, cv.dcid, cv.type_of, cv.name, pvs))
    schema = (
        "value string, dcid string, type_of string, cname string, "
        "pvs array<struct<prop:string,value_type:string,value:string>>"
    )
    return local_frame(
        spark,
        pd.DataFrame(rows, columns=["value", "dcid", "type_of", "cname", "pvs"]),
        schema,
    )


def mutate_nodes(nodes: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Apply McfMutator transforms → (mutated nodes, error rows).

    Error rows: (node_id, counter, message).

    If the input carries a ``_pre_checked`` boolean column (the genmcf
    parse gate marks CSV-expanded survivors True — they are proven to
    produce ZERO checker entries), the output carries a ``_touched``
    column: True for every row the mutator created or may have changed
    (legacy-obs cleaning, complex-value rewrite, StatVar synthesis,
    child nodes, un-gated input). A pre-checked node with _touched
    False is byte-identical to its gated input, so the caller's
    post-mutation sanity pass (Processor.java:330-345) only needs the
    _touched slice — the delta, not the table."""
    track_touched = "_pre_checked" in nodes.columns
    flags = F.broadcast(_node_type_flags(nodes))
    n = nodes.join(flags, "node_id", "left")

    # --- errors ---
    no_type = flags.filter(~F.col("has_type")).select(
        "node_id",
        F.lit("Mutator_MissingTypeOf").alias("counter"),
        F.concat(F.lit("Missing typeOf value for node :: node: '"), F.col("node_id"), F.lit("'")).alias("message"),
    )
    is_stat_val = F.col("prop").isin(*STAT_VALUE_PROPS)
    bad_obs_rows = n.filter(
        F.col("is_legacy_obs") & is_stat_val & ~F.col("value_type").isin("NUMBER", "TEXT")
    )
    # ONE entry per node: the reference returns the node unmutated on
    # the first invalid value (McfMutator.java:76-90), so the counter
    # increments once per node, not once per offending row; min(struct)
    # pins a deterministic representative row for the message
    bad_obs_errors = (
        bad_obs_rows.groupBy("node_id")
        .agg(F.min(F.struct("prop", "value_type")).alias("_r"))
        .select(
            "node_id",
            F.lit("Mutator_InvalidObsValue").alias("counter"),
            F.concat(
                F.lit("Unexpected type for Observation value; must be number or text :: type: '"),
                F.col("_r.value_type"), F.lit("', property: '"), F.col("_r.prop"),
                F.lit("', node: '"), F.col("node_id"), F.lit("'"),
            ).alias("message"),
        )
    )
    errors = no_type.unionByName(bad_obs_errors)
    # reference semantics: a node with an invalid obs value passes
    # through UNMUTATED (McfMutator.java:77-90 returns early)
    bad_nodes = F.broadcast(bad_obs_rows.select("node_id").distinct().withColumn("_skip", F.lit(True)))
    n = n.join(bad_nodes, "node_id", "left")

    # --- 1. legacy obs value cleaning ---
    clean = F.translate(F.col("value"), " ,%", "")
    n = n.withColumn(
        "value",
        F.when(
            F.col("is_legacy_obs") & is_stat_val & F.col("_skip").isNull()
            & F.col("value_type").isin("NUMBER", "TEXT"),
            clean,
        ).otherwise(F.col("value")),
    )

    # --- 2. complex-value expansion ---
    # lookup from NON-skipped rows only: the reference returns an
    # invalid-obs node unmutated and never expands its complex values
    # (McfMutator.java:77-90 early return), so a COMPLEX_VALUE that
    # appears only on a skipped node must not produce a child node
    lut = F.broadcast(_complex_lookup(n.filter(F.col("_skip").isNull())))
    rewrite_cv = (
        (F.col("value_type") == "COMPLEX_VALUE")
        & F.col("_cv_dcid").isNotNull()
        & F.col("_skip").isNull()
    )
    if track_touched:
        # a pre-checked node is re-checkable only if the mutator may
        # have altered it — or if a synthesized complex CHILD shares
        # its node_id (the union below then grows its prop set)
        n = n.join(
            F.broadcast(
                lut.select(F.col("dcid").alias("node_id")).distinct().withColumn(
                    "_child_id", F.lit(True)
                )
            ),
            "node_id",
            "left",
        ).withColumn(
            "_touched",
            ~F.coalesce(F.col("_pre_checked"), F.lit(False))
            | F.col("is_legacy_obs")
            | F.col("is_statvar")
            | F.col("has_cv")
            | ~F.col("has_type")
            | F.col("_child_id").isNotNull(),
        )
    keep_cols = [*_NODE_COLS, "is_statvar", "_skip"] + (
        ["_touched"] if track_touched else []
    )
    n = (
        n.withColumn("_ck", F.when(F.col("value_type") == "COMPLEX_VALUE", F.col("value")))
        .join(
            lut.select(F.col("value").alias("_ck"), F.col("dcid").alias("_cv_dcid")),
            "_ck",
            "left",
        )
        .withColumn("value", F.when(rewrite_cv, F.col("_cv_dcid")).otherwise(F.col("value")))
        .withColumn(
            "value_type",
            F.when(rewrite_cv, F.lit("RESOLVED_REF")).otherwise(F.col("value_type")),
        )
        .select(*keep_cols)
    )
    # child nodes: one per distinct complex dcid
    child = lut.select(
        F.col("dcid").alias("node_id"),
        F.explode(
            F.concat(
                F.array(
                    F.struct(F.lit("typeOf").alias("prop"), F.lit("RESOLVED_REF").alias("value_type"), F.col("type_of").alias("value")),
                    F.struct(F.lit("name").alias("prop"), F.lit("TEXT").alias("value_type"), F.col("cname").alias("value")),
                    F.struct(F.lit("dcid").alias("prop"), F.lit("TEXT").alias("value_type"), F.col("dcid").alias("value")),
                ),
                F.col("pvs"),
            )
        ).alias("pv"),
    ).select(
        "node_id",
        F.col("pv.prop").alias("prop"),
        F.col("pv.value_type").alias("value_type"),
        F.col("pv.value").alias("value"),
        F.lit("").alias("src_file"),
    ).dropDuplicates(["node_id", "prop", "value"])

    # --- 3. StatVar synthesis (two-level agg: first-value per prop,
    # then one map per node — duplicate-safe for multi-value props,
    # matching the reference's first-typed-value pick) ---
    sv_rows = n.filter(F.col("is_statvar") & F.col("_skip").isNull())
    sv_pv = sv_rows.groupBy("node_id", "prop").agg(F.min("value").alias("value"))
    aggs, synth_rows_expr = _sv_synth_exprs()
    sv_agg = sv_pv.groupBy("node_id").agg(*aggs)
    synth = sv_agg.select("node_id", synth_rows_expr.alias("rows"))
    sv_new = synth.select(
        "node_id", F.explode("rows").alias("pv")
    ).select(
        "node_id",
        F.col("pv.prop").alias("prop"),
        F.col("pv.value_type").alias("value_type"),
        F.col("pv.value").alias("value"),
        F.lit("").alias("src_file"),
    )

    # name generation for SVs missing one: the FULL StatVarNameGenerator
    # rule set (period-qualifier promotion, containment-suppressed
    # measure x pop, boolean constraints, denominators) lives in
    # functions/statvar_name.py — a per-node pandas pass over the packed
    # (prop, value) lists; SV schema nodes are metadata-sized next to
    # the observation stream, so the Python hop is off the hot path.
    from import_spark.functions.statvar_name import generate_statvar_name

    sv_packed = (
        sv_rows.groupBy("node_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("prop", "value"))).alias("pvl"),
            F.max(F.when(F.col("prop") == "name", True)).alias("_has_name"),
        )
        .filter(F.col("_has_name").isNull())
        .select("node_id", "pvl")
    )

    def _gen_names(batches):
        for pdf in batches:
            out_rows = []
            for nid, pvl in zip(pdf["node_id"], pdf["pvl"]):
                pvs: dict[str, list[str]] = {}
                for d in pvl:
                    pvs.setdefault(d["prop"], []).append(d["value"])
                nm = generate_statvar_name(pvs)
                if nm:
                    out_rows.append((nid, "name", "TEXT", nm, ""))
            yield pd.DataFrame(out_rows, columns=_NODE_COLS)

    name_rows = sv_packed.mapInPandas(
        _gen_names,
        schema="node_id string, prop string, value_type string, value string, src_file string",
    )

    out_cols = [*_NODE_COLS] + (["_touched"] if track_touched else [])
    added = child.unionByName(sv_new).unionByName(name_rows)
    if track_touched:
        added = added.withColumn("_touched", F.lit(True))
    out = n.select(*out_cols).unionByName(added)
    return out, errors


# Column-expression trees bind only to column NAMES — reusable across
# DataFrames; building this block costs seconds of py4j round-trips, so
# build once per process.
_SYNTH_CACHE: dict = {}


def _sv_synth_exprs():
    cached = _SYNTH_CACHE.get("sv")
    if cached is None:
        cached = _SYNTH_CACHE["sv"] = _build_sv_synth_exprs()
    return cached


def _build_sv_synth_exprs():
    non_constraint = list(V.NON_CONSTRAINT_STAT_VAR_PROPS)
    core_props = [
        "measurementDenominator", "measurementQualifier",
        "statType", "measuredProperty", "populationType",
    ]
    aggs = (
        F.sort_array(
            F.collect_set(F.when(~F.col("prop").isin(*non_constraint), F.col("prop")))
        ).alias("cprops"),
        F.max(F.when(F.col("prop") == "definition", True)).alias("has_def"),
        F.map_from_entries(
            F.collect_list(
                F.when(F.col("prop").isin(*core_props), F.struct(F.col("prop"), F.col("value")))
            )
        ).alias("core"),
        F.map_from_entries(
            F.collect_list(
                F.when(
                    ~F.col("prop").isin(*non_constraint),
                    F.struct(F.col("prop"), F.col("value")),
                )
            )
        ).alias("cmap"),
    )

    strip_ns = lambda c: F.regexp_replace(c, r"^[A-Za-z]+:", "")  # noqa: E731
    core = lambda k: F.col("core").getItem(k)  # noqa: E731
    def_parts = F.filter(
        F.concat(
            F.array(
                F.when(core("measurementDenominator").isNotNull(), F.concat(F.lit("md="), core("measurementDenominator"))),
                F.when(core("measurementQualifier").isNotNull(), F.concat(F.lit("mq="), core("measurementQualifier"))),
                F.when(
                    core("statType").isNotNull() & (core("statType") != "measuredValue"),
                    F.concat(F.lit("st="), core("statType")),
                ),
                F.when(core("measuredProperty").isNotNull(), F.concat(F.lit("mp="), core("measuredProperty"))),
                F.when(core("populationType").isNotNull(), F.concat(F.lit("pt="), core("populationType"))),
            ),
            F.transform(
                F.col("cprops"),
                lambda p: F.concat(p, F.lit("="), strip_ns(F.element_at(F.col("cmap"), p))),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    # name generation moved to functions/statvar_name.py (the FULL
    # StatVarNameGenerator rule set) — applied in mutate_nodes over the
    # packed per-node pvs, not as a column expression
    synth_rows = (
        F.filter(
            F.concat(
                F.transform(
                    F.col("cprops"),
                    lambda p: F.struct(
                        F.lit("constraintProperties").alias("prop"),
                        F.lit("RESOLVED_REF").alias("value_type"),
                        p.alias("value"),
                    ),
                ),
                F.array(
                    F.when(
                        F.col("has_def").isNull(),
                        F.struct(
                            F.lit("definition").alias("prop"),
                            F.lit("TEXT").alias("value_type"),
                            F.concat_ws(",", def_parts).alias("value"),
                        ),
                    ),
                ),
            ),
            lambda x: x.isNotNull(),
        )
    )
    return aggs, synth_rows
