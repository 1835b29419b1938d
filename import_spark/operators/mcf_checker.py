"""McfChecker — per-node sanity suite (reference McfChecker.java:62-795).

Input: long-form node rows (node_id, prop, value_type, value[, src_file]).
Output: error rows (node_id, level, counter, message) — the LogWrapper
entry model (LogWrapper.java:50-110); callers aggregate counters and
derive the per-node pass/fail bit (a node fails if it has any
LEVEL_ERROR row, McfChecker.java:786-794).

Spark-first shape: two passes, both fully JVM-side —
1. row-level checks: one projection emitting an array of error structs
   per statement row, exploded (charset/casing/ascii predicates,
   McfChecker.java:446-568);
2. node-level checks: one groupBy("node_id") building a small
   prop→first-value map + counts for the dozen props the type-specific
   rules consult (required-prop presence, single-valuedness, date
   validity, casing — McfChecker.java:151-171,225-420).

The sanity suite (``check_nodes``) has no Python UDFs; every predicate
is a column expression so the whole suite rides whole-stage codegen and
one shuffle (the groupBy). ``statvar_collisions`` is the exception: its
StatVar working set is derived in one ``mapInPandas`` stage (dcid key
string and a batched FarmHash per Arrow batch) before the driver fold.

Hot-path expressions carry only a static check id + up to 4 operand
columns; the human-readable message is rendered AFTER the explode — on
the (tiny) error set — by format_string over a template picked from a
literal array by check id (one projection, no join).
Round 3 built the full message concat tree inside every check branch,
which cost ~4s of py4j expression construction plus ~5s of Janino
projection compilation per fresh session before the first row was
checked; the check SEMANTICS and the emitted messages are unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from import_spark import vocabulary as V
from import_spark.functions.values import col_is_valid_date
from import_spark.session import local_frame

LEVEL_ERROR = "LEVEL_ERROR"
LEVEL_WARNING = "LEVEL_WARNING"

# McfChecker.java:34-42
PROPS_ONLY_IN_PROP = ["domainIncludes", "rangeIncludes", "subPropertyOf"]
PROPS_ONLY_IN_CLASS = ["subClassOf"]
CLASS_REFS_IN_CLASS = ["name", "label", "dcid", "subClassOf"]
CLASS_REFS_IN_PROP = ["domainIncludes", "rangeIncludes"]
PROP_REFS_IN_PROP = ["name", "label", "dcid", "subPropertyOf"]

# Vocabulary.isStatValueProperty (Vocabulary.java:349-359)
_STAT_VALUE_RE = (
    r"(?i)(value|estimate|stderror|samplesize|growthrate|limit|ratio)$"
)


def _is_stat_value_prop(c):
    lc = F.lower(c)
    return (
        lc.rlike(_STAT_VALUE_RE)
        | lc.startswith("percentile")
        | (lc == "marginoferror")
    )


# dcid charset (McfChecker.java:45-49): \w & / % ) ( + - . :
_DCID_OK = r"^[\w&/%\)\(+\-\.:]+$"
_BIO_DCID_OK = r"^[\w&/%\)\(+\-\.'\*><\]\[|:; ]+$"


def _dcid_ok(c):
    return F.when(c.startswith("bio/"), c.rlike(_BIO_DCID_OK)).otherwise(c.rlike(_DCID_OK))


# ---- compact error emission -------------------------------------------------
#
# Each check site registers (level, message template) once per process and
# gets a small integer id; the hot path emits struct(cid, counter, o1..o4).
# Messages are format_string(template, o1..o4) applied post-explode — extra
# %s-less operands are ignored by the JVM formatter.

_MAX_OPS = 4
_TEMPLATES: list[tuple[int, str, str]] = []  # (cid, level, template)
_COND_SINK: list | None = None  # collects per-check conditions during a build


def _reg(level: str, template: str) -> int:
    cid = len(_TEMPLATES)
    _TEMPLATES.append((cid, level, template))
    return cid


def _err(cond, cid: int, counter, *ops):
    """struct(cid, counter, o1..o4) when cond else null. ``counter`` may
    be a str or a (small) Column for dynamic counter names."""
    if _COND_SINK is not None:
        _COND_SINK.append(cond)
    fields = [
        F.lit(cid).alias("cid"),
        (F.lit(counter) if isinstance(counter, str) else counter).alias("counter"),
    ]
    for i in range(_MAX_OPS):
        op = ops[i] if i < len(ops) else F.lit("")
        fields.append(F.coalesce(op.cast("string"), F.lit("")).alias(f"o{i + 1}"))
    return F.when(cond, F.struct(*fields))


def _any_cond(conds):
    """OR of every check condition: TRUE iff at least one check fires
    (TRUE OR NULL = TRUE, so null-valued conditions cannot mask a hit)."""
    out = None
    for c in conds:
        out = c if out is None else (out | c)
    return out


def _raw_explode(df: DataFrame, checks, gate=None) -> DataFrame:
    # Gate rows on the cheap OR of all check conditions FIRST: on clean
    # data (the common case) virtually every row is filtered by plain
    # boolean expressions before the ~40-slot struct array is built and
    # exploded — the ungated Generate materialized checks-per-row slots
    # for every input row (280M at 7M statements) only to drop them all
    # (measured: check_nodes on 7M clean rows 21.1s -> gated ~7s).
    # Conditions are re-evaluated for the (rare) surviving rows only.
    if gate is not None:
        df = df.filter(gate)
    # explode the raw CASE array and drop the null (passing) slots with
    # a plain Filter AFTER the Generate: a Catalyst lambda HOF
    # (F.filter) never participates in codegen, so filtering inside the
    # explode forced the Generate stage into interpreted eval (this fix
    # plus the collect_set removal below: whole plan codegen'd,
    # steady-state 3.5s -> 2.8s and first-run 9.8s -> 6.4s on 480k rows)
    return (
        df.select(
            F.col("node_id"),
            F.explode(checks).alias("e"),
        )
        .filter(F.col("e").isNotNull())
        .select("node_id", "e.cid", "e.counter", "e.o1", "e.o2", "e.o3", "e.o4")
    )


def _finalize(raw: DataFrame) -> DataFrame:
    """(node_id, cid, counter, o1..o4) → (node_id, level, counter, message).

    ``level`` and the message template are ``element_at`` lookups, at
    ``cid + 1``, into literal arrays of every registered template, so
    rendering is one projection over the error rows. The arrays are
    rebuilt only when a check registers a new template.
    """
    n = len(_TEMPLATES)
    cached = _EXPR_CACHE.get("finalize")
    if cached is None or cached[0] != n:
        levels = F.array(*[F.lit(level) for _, level, _ in _TEMPLATES])
        templates = F.array(*[F.lit(t) for _, _, t in _TEMPLATES])
        cached = _EXPR_CACHE["finalize"] = (n, levels, templates)
    _, levels, templates = cached
    idx = F.col("cid") + 1
    return raw.select(
        "node_id",
        F.element_at(levels, idx).alias("level"),
        "counter",
        # pyspark's format_string() helper requires a literal format;
        # the SQL function accepts a per-row one (FormatString evaluates
        # its first child like any other expression)
        F.call_function(
            "format_string", F.element_at(templates, idx), "o1", "o2", "o3", "o4"
        ).alias("message"),
    )


def check_nodes(nodes: DataFrame) -> DataFrame:
    """Run the sanity suite → error rows (node_id, level, counter, message)."""
    from import_spark.operators.skew import widen_narrow_input

    # a statement table exploded from a narrow scan would run the whole
    # row-check pass on 1-4 tasks; wide inputs pass through untouched
    nodes = widen_narrow_input(nodes)
    raw = _row_checks(nodes).unionByName(_node_checks(nodes))
    return _finalize(raw)


def failed_node_ids(errors: DataFrame) -> DataFrame:
    """Distinct node_ids with at least one LEVEL_ERROR entry."""
    return (
        errors.filter(F.col("level") == LEVEL_ERROR).select("node_id").distinct()
    )


# Column-expression trees bind only to column NAMES, so they are
# reusable across DataFrames — build once per process.
_EXPR_CACHE: dict = {}


def _row_checks(nodes: DataFrame) -> DataFrame:
    cached = _EXPR_CACHE.get("row_checks")
    if cached is None:
        cached = _EXPR_CACHE["row_checks"] = _build_row_checks()
    checks, gate = cached
    return _raw_explode(nodes, checks, gate)


def _build_row_checks():
    global _COND_SINK
    _COND_SINK = []
    p, vt, v, nid = F.col("prop"), F.col("value_type"), F.col("value"), F.col("node_id")
    is_ref_prop = p.isin(*sorted(V.REFERENCE_PROPS))
    checks = F.array(
        _err(
            p == "",
            _reg(LEVEL_ERROR, "Found an empty property :: node: '%s'"),
            "Sanity_EmptyProperty", nid,
        ),
        _err(
            (p != "") & ~F.substring(p, 1, 1).rlike("^[a-z]$"),
            _reg(LEVEL_ERROR, "Found property name that does not start with a lower-case :: property: '%s', node: '%s'"),
            "Sanity_NotInitLowerPropName", p, nid,
        ),
        _err(
            (vt != "TEXT") & v.rlike(r"[^\x00-\x7F]"),
            _reg(LEVEL_ERROR, "Found non-ascii characters in a value that is not text :: value: '%s', type: '%s', property: '%s', node: '%s'"),
            "Sanity_NonAsciiValueInNonText", v, vt, p, nid,
        ),
        _err(
            is_ref_prop & vt.isin("TEXT", "NUMBER"),
            _reg(LEVEL_ERROR, "Found text/numeric value in a reference property :: value: '%s', property: '%s', node: '%s'"),
            "Sanity_RefPropHasNonRefValue", v, p, nid,
        ),
        _err(
            (p == "dcid") & (F.length(v) > V.MAX_DCID_LENGTH),
            _reg(LEVEL_ERROR, f"Found a very long dcid value; must be less than {V.MAX_DCID_LENGTH} :: node: '%s'"),
            "Sanity_VeryLongDcid", nid,
        ),
        _err(
            (
                ((p == "dcid") & vt.isin("TEXT", "RESOLVED_REF") & (F.length(v) <= V.MAX_DCID_LENGTH))
                | ((p != "dcid") & (vt == "RESOLVED_REF"))
            )
            & (v != "") & ~_dcid_ok(v),
            _reg(LEVEL_ERROR, "Found invalid chars in dcid value :: value: '%s', property: '%s', node: '%s'"),
            F.concat(F.lit("Sanity_InvalidChars_"), p), v, p, nid,
        ),
    )
    gate = _any_cond(_COND_SINK)
    _COND_SINK = None
    return checks, gate


def _node_checks(nodes: DataFrame) -> DataFrame:
    """One groupBy pass: per-node prop map + type-driven rules."""
    cached = _EXPR_CACHE.get("node_checks")
    if cached is None:
        cached = _EXPR_CACHE["node_checks"] = _build_node_checks()
    keep, aggs, checks, gate = cached
    # ONE exchange for both the distinct and the per-node agg: hash
    # partitioning on node_id (a subset of the distinct key) satisfies
    # the clustering requirement of BOTH downstream aggregates, so
    # Catalyst inserts no further exchange — measured ~2x faster than
    # the naive dropDuplicates-then-groupBy two-shuffle plan
    nodes = (
        nodes.select("node_id", "prop", "value")
        .filter(keep)
        .repartition("node_id")
        .dropDuplicates(["node_id", "prop", "value"])
    )
    g = nodes.groupBy("node_id").agg(*aggs)
    return _raw_explode(g, checks, gate)


def _build_node_checks():
    global _COND_SINK
    _COND_SINK = []
    interesting = [
        "typeOf", "dcid", "name", "label",
        "variableMeasured", "observationAbout", "observationDate", "value",
        "measuredProperty", "statType", "populationType", "location",
        "observedNode", "measurementResult", "subClassOf", "subPropertyOf",
        "domainIncludes", "rangeIncludes",
    ]
    keep = F.col("prop").isin(*interesting) | _is_stat_value_prop(F.col("prop"))
    # DISTINCT (node, prop, value) before the agg (see _node_checks):
    # "multiple values" means multiple DISTINCT values; one partial-agg
    # dedupe shuffle, NOT per-agg countDistinct (EXPAND blowup).

    # conditional aggs (not a prop→value map: Spark raises on duplicate
    # map keys, and multi-value props are legal input here)
    def cnt(prop, alias):
        return F.count(F.when(F.col("prop") == prop, 1)).alias(alias)

    def fst(prop, alias):
        return F.min(F.when(F.col("prop") == prop, F.col("value"))).alias(alias)

    # type membership as conditional COUNTS, not collect_set: a
    # collect_set is a TypedImperativeAggregate, which forces the whole
    # 25-agg pass onto ObjectHashAggregate (no whole-stage codegen);
    # the checks only ever ask membership questions of the type set,
    # so count-when columns answer them with plain long buffers
    def tcnt(cond, alias):
        return F.count(
            F.when((F.col("prop") == "typeOf") & cond, 1)
        ).alias(alias)

    v = F.col("value")
    aggs = (
            cnt("typeOf", "n_type"),
            tcnt(v == "Thing", "n_t_thing"),
            tcnt(v == "StatVarObservation", "n_t_svobs"),
            tcnt(v == "StatisticalVariable", "n_t_sv"),
            tcnt(v == "Class", "n_t_class"),
            tcnt(v == "Property", "n_t_prop"),
            tcnt(
                v.endswith("Observation") & (v != "StatVarObservation"),
                "n_t_lobs",
            ),
            tcnt(v.endswith("Population"), "n_t_lpop"),
            cnt("dcid", "n_dcid"), fst("dcid", "dcid"),
            cnt("variableMeasured", "n_vm"), cnt("observationAbout", "n_oa"),
            cnt("observationDate", "n_od"), fst("observationDate", "obs_date"),
            cnt("value", "n_val"),
            cnt("measuredProperty", "n_mp"), fst("measuredProperty", "mprop"),
            cnt("statType", "n_st"), fst("statType", "stat_type"),
            cnt("populationType", "n_pt"), fst("populationType", "pop_type"),
            cnt("location", "n_loc"),
            cnt("observedNode", "n_on"),
            cnt("measurementResult", "n_mr"),
            fst("name", "name"), fst("label", "label"),
            cnt("subClassOf", "n_sco"), cnt("subPropertyOf", "n_spo"),
            cnt("domainIncludes", "n_di"), cnt("rangeIncludes", "n_ri"),
            F.count(F.when(_is_stat_value_prop(F.col("prop")), 1)).alias("n_statval"),
            F.min(
                F.when(
                    _is_stat_value_prop(F.col("prop")),
                    F.struct(F.col("prop"), F.col("value")),
                )
            ).alias("statval"),
    )
    nid = F.col("node_id")
    is_svobs = F.col("n_t_svobs") > 0
    is_statvar = F.col("n_t_sv") > 0
    is_legacy_obs = F.col("n_t_lobs") > 0
    is_legacy_pop = F.col("n_t_lpop") > 0
    is_class = F.col("n_t_class") > 0
    is_prop = F.col("n_t_prop") > 0

    def req(cond, count_col, prop, type_name, level=LEVEL_ERROR):
        """checkRequiredSingleValueProp (McfChecker.java:683-729)."""
        missing = _err(
            cond & (F.col(count_col) == 0),
            _reg(level, f"Found a missing or empty property value :: property: '{prop}', node: '%s', type: '{type_name}'"),
            f"Sanity_MissingOrEmpty_{prop}", nid,
        )
        multiple = _err(
            cond & (F.col(count_col) > 1),
            _reg(level, f"Found multiple values for single-value property :: property: '{prop}', node: '%s'"),
            f"Sanity_MultipleVals_{prop}", nid,
        )
        return [missing, multiple]

    init_upper = lambda c: F.substring(c, 1, 1).rlike("^[A-Z]$")  # noqa: E731
    init_lower = lambda c: F.substring(c, 1, 1).rlike("^[a-z]$")  # noqa: E731
    stat_type_known = _is_stat_value_prop(F.col("stat_type")) | (
        F.col("stat_type") == "measurementResult"
    )

    not_init_upper_pop = "Found a class reference that does not start with an upper-case :: reference: '%s', property: 'populationType', node: '%s'"
    not_init_lower_mp = "Found a property reference that does not start with a lower-case :: reference: '%s', property: 'measuredProperty', node: '%s'"
    bad_obs_date = "Found a non-ISO8601 compliant date value :: value: '%s', property: 'observationDate', node: '%s'"

    checks = F.array(
        # checkCommon: required typeOf + Thing type
        _err(
            F.col("n_type") == 0,
            _reg(LEVEL_ERROR, "Found a missing or empty property value :: property: 'typeOf', node: '%s', type: 'Thing'"),
            "Sanity_MissingOrEmpty_typeOf", nid,
        ),
        _err(
            F.col("n_t_thing") > 0,
            _reg(LEVEL_ERROR, "Found a node with type Thing :: node: '%s'"),
            "Sanity_TypeThing", nid,
        ),
        _err(
            F.col("n_dcid") > 1,
            _reg(LEVEL_ERROR, "Found dcid with more than one value :: count: %s, node: '%s'"),
            "Sanity_MultipleDcidValues", F.col("n_dcid"), nid,
        ),
        # SVObs (McfChecker.java:305-341)
        *req(is_svobs, "n_vm", "variableMeasured", "StatVarObservation"),
        *req(is_svobs, "n_oa", "observationAbout", "StatVarObservation"),
        *req(is_svobs, "n_od", "observationDate", "StatVarObservation"),
        _err(
            is_svobs & (F.col("n_od") == 1) & ~col_is_valid_date(F.col("obs_date")),
            _reg(LEVEL_ERROR, bad_obs_date),
            "Sanity_InvalidObsDate", F.col("obs_date"), nid,
        ),
        *req(is_svobs, "n_val", "value", "StatVarObservation", LEVEL_WARNING),
        # StatVar (McfChecker.java:225-303)
        *req(is_statvar, "n_pt", "populationType", "StatisticalVariable", LEVEL_WARNING),
        _err(
            is_statvar & (F.col("n_pt") > 0) & ~init_upper(F.col("pop_type")),
            _reg(LEVEL_ERROR, not_init_upper_pop),
            "Sanity_NotInitUpper_populationType", F.col("pop_type"), nid,
        ),
        *req(is_statvar, "n_mp", "measuredProperty", "StatisticalVariable"),
        _err(
            is_statvar & (F.col("n_mp") > 0)
            & (F.col("mprop") != F.coalesce(F.col("dcid"), F.lit("")))
            & ~init_lower(F.col("mprop")),
            _reg(LEVEL_ERROR, not_init_lower_mp),
            "Sanity_NotInitLower_measuredProperty", F.col("mprop"), nid,
        ),
        *req(is_statvar, "n_st", "statType", "StatisticalVariable"),
        _err(
            is_statvar & (F.col("n_st") > 0) & ~stat_type_known,
            _reg(LEVEL_ERROR, "Found an unknown statType value :: value: '%s', node: '%s'"),
            "Sanity_UnknownStatType", F.col("stat_type"), nid,
        ),
        *req(is_statvar, "n_dcid", "dcid", "StatisticalVariable"),
        # Legacy population (McfChecker.java:342-351)
        *req(is_legacy_pop, "n_pt", "populationType", "StatisticalPopulation"),
        _err(
            is_legacy_pop & (F.col("n_pt") > 0) & ~init_upper(F.col("pop_type")),
            _reg(LEVEL_ERROR, not_init_upper_pop),
            "Sanity_NotInitUpper_populationType", F.col("pop_type"), nid,
        ),
        *req(is_legacy_pop, "n_loc", "location", "StatisticalPopulation"),
        # Legacy observation (McfChecker.java:353-420)
        *req(is_legacy_obs, "n_mp", "measuredProperty", "Observation"),
        _err(
            is_legacy_obs & (F.col("n_mp") > 0) & ~init_lower(F.col("mprop")),
            _reg(LEVEL_ERROR, not_init_lower_mp),
            "Sanity_NotInitLower_measuredProperty", F.col("mprop"), nid,
        ),
        *req(is_legacy_obs, "n_on", "observedNode", "Observation"),
        *req(is_legacy_obs, "n_od", "observationDate", "Observation"),
        _err(
            is_legacy_obs & (F.col("n_od") == 1) & ~col_is_valid_date(F.col("obs_date")),
            _reg(LEVEL_ERROR, bad_obs_date),
            "Sanity_InvalidObsDate", F.col("obs_date"), nid,
        ),
        _err(
            is_legacy_obs & (F.col("n_statval") > 0)
            # try_cast: ANSI-mode cast would THROW on the very value this
            # check exists to flag (McfChecker.java non-double obs value)
            & F.col("statval.value").try_cast("double").isNull(),
            _reg(LEVEL_ERROR, "Found a non-double Observation value :: value: '%s', property: '%s', node: '%s'"),
            "Sanity_NonDoubleObsValue", F.col("statval.value"), F.col("statval.prop"), nid,
        ),
        _err(
            is_legacy_obs & (F.col("n_statval") == 0) & (F.col("n_mr") == 0),
            _reg(LEVEL_WARNING, "Observation node missing value property :: node: '%s'"),
            "Sanity_ObsMissingValueProp", nid,
        ),
        # Class / Property (McfChecker.java:605-681)
        *[
            _err(
                is_class & (F.col(c) > 0),
                _reg(LEVEL_ERROR, f"Unexpected property in Class node :: property: '{pr}', node: '%s'"),
                "Sanity_UnexpectedPropInClass", nid,
            )
            for pr, c in [("domainIncludes", "n_di"), ("rangeIncludes", "n_ri"), ("subPropertyOf", "n_spo")]
        ],
        _err(
            is_prop & (F.col("n_sco") > 0),
            _reg(LEVEL_ERROR, "Unexpected property in Property node :: property: 'subClassOf', node: '%s'"),
            "Sanity_UnexpectedPropInProperty", nid,
        ),
        _err(
            (is_class | is_prop)
            & F.col("dcid").isNotNull()
            & (F.coalesce(F.col("name"), F.col("label")).isNotNull())
            & (F.col("dcid") != F.coalesce(F.col("name"), F.col("label"))),
            _reg(LEVEL_ERROR, "Schema node with dcid/name mismatch :: name: '%s', dcid: '%s', node: '%s'"),
            "Sanity_DcidNameMismatchInSchema",
            F.coalesce(F.col("name"), F.col("label")), F.col("dcid"), nid,
        ),
        _err(
            is_class & (F.coalesce(F.col("dcid"), F.lit("")) != "Thing") & (F.col("n_sco") == 0),
            _reg(LEVEL_ERROR, "Found a missing or empty property value :: property: 'subClassOf', node: '%s', type: 'Class'"),
            "Sanity_MissingOrEmpty_subClassOf", nid,
        ),
    )
    gate = _any_cond(_COND_SINK)
    _COND_SINK = None
    return keep, aggs, checks, gate


def check_gate(nodes: DataFrame) -> DataFrame:
    """The TmcfCsvParser inline per-node gate (TmcfCsvParser.java:225-228):
    a node with ANY check entry — warnings included, because
    McfChecker.addLog sets nodeFailure unconditionally
    (McfChecker.java:790-793) — is dropped from the parsed graph.
    Distinct from the lint/resolution quarantine, which only acts on
    LEVEL_ERROR rows (failed_node_ids)."""
    flagged = check_nodes(nodes).select("node_id").distinct()
    return nodes.join(flagged, "node_id", "left_anti")


def statvar_collisions(nodes: DataFrame) -> DataFrame:
    """StatVar dcid-collision tracking (StatVarState.java:116-189, wired
    into McfChecker): the same curated dcid assigned to StatVars with
    different CONTENT (generated content-hash dcids differ) raises
    ``Sanity_SameDcidForDifferentStatVars``; the same content under
    different curated dcids raises ``Sanity_DifferentDcidsForSameStatVar``.

    Spark shape: pass 1 reduces the statement table to the StatVar
    working set — (node_id, curated, generated) — distributedly (one
    semi-join + one packed Arrow batch per partition; StatVars are
    dimension-sized even at 10^12 observations, which is the premise the
    reference itself builds on by holding both maps in process memory).
    Pass 2 replays the reference's ORDER-DEPENDENT two-map registration
    fold exactly (first registration wins; a conflicting node errors and
    registers nothing, StatVarState.java:137-189) on the driver over the
    node_id-sorted working set — the deterministic stand-in for the
    reference's file order.

    Returns (node_id, level, counter, message) error rows.
    """
    import pandas as pd

    from import_spark.functions.dcids import statvar_dcid

    spark = nodes.sparkSession
    sv_ids = (
        nodes.filter(
            (F.col("prop") == "typeOf") & (F.col("value") == "StatisticalVariable")
        )
        .select("node_id")
        .distinct()
    )
    packed = (
        nodes.join(sv_ids, "node_id", "left_semi")
        .groupBy("node_id")
        .agg(F.sort_array(F.collect_list(F.struct("prop", "value"))).alias("pvl"))
        # AQE coalesces the small post-shuffle partitions to a handful;
        # spread the Python derive stage over the cluster instead
        .repartition(nodes.sparkSession.sparkContext.defaultParallelism)
    )

    def derive(batches):
        from import_spark import vocabulary as _V
        from import_spark.functions.dcids import statvar_key_string
        from import_spark.functions.farmhash import long_id_batch

        for pdf in batches:
            out = []
            keys = []
            for nid, pvl in zip(pdf["node_id"], pdf["pvl"]):
                pvs: dict = {}
                for d in pvl:  # sorted → first-wins pinned to min(value)
                    pvs.setdefault(d["prop"], d["value"])
                curated = pvs.get("dcid", "")
                if not curated:
                    continue  # handled by the checker's missing-dcid rule
                key = statvar_key_string(pvs)
                if key is None:
                    continue  # malformed SV — the checker flags it
                out.append([nid, curated, None])
                keys.append(key)
            if keys:
                # one vectorized farmhash pass per Arrow batch — the
                # per-node scalar long_id dominated this stage
                for row, h in zip(out, long_id_batch(keys)):
                    row[2] = _V.DC_NAMESPACE + h
            yield pd.DataFrame(out, columns=["node_id", "curated", "generated"])

    working_df = packed.mapInPandas(
        derive, schema="node_id string, curated string, generated string"
    ).localCheckpoint()
    from import_spark.functions import size_gate

    working = size_gate.collect_within(working_df, size_gate.DRIVER_COLLECT_BUDGET_BYTES)
    if working is None:
        # Degenerate scale (more StatVar bytes than the driver budget —
        # the reference's in-memory maps would not survive this input
        # either): first registration approximated by min(node_id) per
        # key, exact except when error chains re-free a key
        # (test_statvar_collisions_fold_semantics pins the exact fold
        # the driver path replays).
        from pyspark.sql import Window as _W

        w_cur = _W.partitionBy("curated").orderBy("node_id")
        same = (
            working_df.withColumn("_fg", F.first("generated").over(w_cur))
            .filter(F.col("generated") != F.col("_fg"))
            .select(
                "node_id",
                F.lit(LEVEL_ERROR).alias("level"),
                F.lit("Sanity_SameDcidForDifferentStatVars").alias("counter"),
                F.concat(
                    F.lit("Found same curated ID for different StatVars :: curatedDcid: '"),
                    F.col("curated"), F.lit("', node: '"), F.col("node_id"), F.lit("'"),
                ).alias("message"),
            )
        )
        reg = working_df.withColumn("_fg", F.first("generated").over(w_cur)).filter(
            F.col("generated") == F.col("_fg")
        )
        w_gen = _W.partitionBy("generated").orderBy("node_id")
        diff = (
            reg.withColumn("_fc", F.first("curated").over(w_gen))
            .filter(F.col("curated") != F.col("_fc"))
            .select(
                "node_id",
                F.lit(LEVEL_ERROR).alias("level"),
                F.lit("Sanity_DifferentDcidsForSameStatVar").alias("counter"),
                F.concat(
                    F.lit("Found different curated IDs for same StatVar :: dcid1: '"),
                    F.col("_fc"), F.lit("', dcid2: '"), F.col("curated"),
                    F.lit("', node: '"), F.col("node_id"), F.lit("'"),
                ).alias("message"),
            )
        )
        return same.unionByName(diff)

    curated_to_gen: dict[str, str] = {}
    gen_to_curated: dict[str, str] = {}
    errors: list[tuple[str, str, str, str]] = []
    working = working.sort_values("node_id", kind="stable")
    for nid, curated, generated in zip(
        working["node_id"], working["curated"], working["generated"]
    ):
        existing_gen = curated_to_gen.get(curated)
        if existing_gen is not None and existing_gen != generated:
            errors.append(
                (
                    nid,
                    LEVEL_ERROR,
                    "Sanity_SameDcidForDifferentStatVars",
                    "Found same curated ID for different StatVars :: "
                    f"curatedDcid: '{curated}', node: '{nid}'",
                )
            )
            continue
        existing_cur = gen_to_curated.get(generated)
        if existing_cur is not None and existing_cur != curated:
            errors.append(
                (
                    nid,
                    LEVEL_ERROR,
                    "Sanity_DifferentDcidsForSameStatVar",
                    "Found different curated IDs for same StatVar :: "
                    f"dcid1: '{existing_cur}', dcid2: '{curated}', node: '{nid}'",
                )
            )
            continue
        curated_to_gen.setdefault(curated, generated)
        gen_to_curated.setdefault(generated, curated)
    return local_frame(
        spark,
        pd.DataFrame(errors, columns=["node_id", "level", "counter", "message"]),
        "node_id string, level string, counter string, message string",
    )
