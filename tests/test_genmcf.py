"""genmcf chain: McfMutator, McfChecker, alternating McfResolver, plan.

Reference semantics: McfMutator.java:35-163, McfChecker.java:62-795,
McfResolver.java:39-341, Processor.java:59-147.
"""

import json
import os
import textwrap

import pytest
from pyspark.sql import functions as F

from import_spark.operators.mcf_checker import check_nodes
from import_spark.operators.mcf_mutator import mutate_nodes
from import_spark.operators.mcf_resolver import resolve_graph, resolve_graph_driver
from import_spark.plans.genmcf import run_genmcf
from import_spark.sources.mcf import parse_mcf_string

NODE_SCHEMA = "node_id string, prop string, value_type string, value string, src_file string"


def _df(spark, rows):
    return spark.createDataFrame(
        [(r + ("",))[:5] if len(r) < 5 else r for r in rows], NODE_SCHEMA
    )


# ---------------------------------------------------------------- mutator


def test_mutator_complex_value_expansion(spark):
    nodes = _df(
        spark,
        [
            ("N1", "typeOf", "RESOLVED_REF", "StatisticalVariable"),
            ("N1", "age", "COMPLEX_VALUE", "[Years 10 20]"),
            ("N1", "measuredProperty", "RESOLVED_REF", "count"),
        ],
    )
    out, errors = mutate_nodes(nodes)
    got = {(r.node_id, r.prop, r.value_type, r.value) for r in out.collect()}
    # complex value → RESOLVED_REF to computed dcid + child node
    assert ("N1", "age", "RESOLVED_REF", "Years10To20") in got
    assert ("Years10To20", "typeOf", "RESOLVED_REF", "QuantityRange") in got
    assert ("Years10To20", "name", "TEXT", "Years 10 To 20") in got
    assert errors.count() == 0


def test_mutator_statvar_synthesis(spark):
    nodes = _df(
        spark,
        [
            ("SV1", "typeOf", "RESOLVED_REF", "StatisticalVariable"),
            ("SV1", "populationType", "RESOLVED_REF", "Person"),
            ("SV1", "measuredProperty", "RESOLVED_REF", "count"),
            ("SV1", "statType", "RESOLVED_REF", "measuredValue"),
            ("SV1", "gender", "RESOLVED_REF", "Female"),
            ("SV1", "dcid", "TEXT", "Count_Person_Female"),
        ],
    )
    out, _ = mutate_nodes(nodes)
    got = {(r.prop, r.value_type, r.value) for r in out.filter(F.col("node_id") == "SV1").collect()}
    assert ("constraintProperties", "RESOLVED_REF", "gender") in got
    # definition: core props + sorted constraints (McfUtil.java:229-270)
    assert ("definition", "TEXT", "mp=count,pt=Person,gender=Female") in got
    # generated name (StatVarNameGenerator format subset)
    assert ("name", "TEXT", "Count Of Person: Female") in got


def test_mutator_legacy_obs_cleaning(spark):
    nodes = _df(
        spark,
        [
            ("O1", "typeOf", "RESOLVED_REF", "Observation"),
            ("O1", "measuredValue", "TEXT", "1,234 %"),
        ],
    )
    out, _ = mutate_nodes(nodes)
    vals = {r.value for r in out.filter(F.col("prop") == "measuredValue").collect()}
    assert vals == {"1234"}


def test_mutator_missing_typeof_error(spark):
    nodes = _df(spark, [("X", "name", "TEXT", "x")])
    _, errors = mutate_nodes(nodes)
    assert [r.counter for r in errors.collect()] == ["Mutator_MissingTypeOf"]


def test_mutator_invalid_obs_counter_once_per_node(spark):
    """The reference returns an invalid-obs node unmutated on the FIRST
    bad value (McfMutator.java:76-90) — one counter entry per node,
    however many offending rows it has."""
    nodes = _df(
        spark,
        [
            ("O1", "typeOf", "RESOLVED_REF", "Observation"),
            ("O1", "measuredValue", "COMPLEX_VALUE", "[Years 1 2]"),
            ("O1", "meanValue", "RESOLVED_REF", "alsoBad"),
        ],
    )
    _, errors = mutate_nodes(nodes)
    got = [r for r in errors.collect() if r.counter == "Mutator_InvalidObsValue"]
    assert len(got) == 1 and got[0].node_id == "O1"


def test_mutator_skipped_node_complex_not_expanded(spark):
    """A COMPLEX_VALUE appearing only on an invalid-obs (skipped) node
    must not produce a child node — the reference never expands the
    complex values of a node it returned unmutated."""
    nodes = _df(
        spark,
        [
            ("O1", "typeOf", "RESOLVED_REF", "Observation"),
            ("O1", "measuredValue", "RESOLVED_REF", "bad"),
            ("O1", "age", "COMPLEX_VALUE", "[Years 30 40]"),
            # same complex value on a healthy node → still expanded
            ("N2", "typeOf", "RESOLVED_REF", "Person"),
            ("N2", "height", "COMPLEX_VALUE", "[Feet 5 6]"),
        ],
    )
    out, errors = mutate_nodes(nodes)
    node_ids = {r.node_id for r in out.collect()}
    assert "Years30To40" not in node_ids  # skipped node's complex: no child
    assert "Feet5To6" in node_ids  # healthy node's complex: expanded
    # the skipped node's rows pass through unmutated
    o1 = {(r.prop, r.value_type, r.value) for r in out.filter(F.col("node_id") == "O1").collect()}
    assert ("age", "COMPLEX_VALUE", "[Years 30 40]") in o1


# ---------------------------------------------------------------- checker


def test_checker_counters(spark):
    nodes = _df(
        spark,
        [
            # SVObs missing variableMeasured, bad date
            ("Obs1", "typeOf", "RESOLVED_REF", "StatVarObservation"),
            ("Obs1", "observationAbout", "RESOLVED_REF", "geoId/06"),
            ("Obs1", "observationDate", "TEXT", "Jan-2020"),
            ("Obs1", "value", "NUMBER", "1"),
            # bad prop casing + Thing type
            ("N2", "typeOf", "RESOLVED_REF", "Thing"),
            ("N2", "BadProp", "TEXT", "x"),
            # invalid dcid chars
            ("N3", "typeOf", "RESOLVED_REF", "City"),
            ("N3", "dcid", "TEXT", "bad dcid!"),
            # ref prop with text value
            ("N4", "typeOf", "RESOLVED_REF", "City"),
            ("N4", "location", "TEXT", "somewhere"),
        ],
    )
    errors = check_nodes(nodes)
    counters = {r.counter for r in errors.collect()}
    assert "Sanity_MissingOrEmpty_variableMeasured" in counters
    assert "Sanity_InvalidObsDate" in counters
    assert "Sanity_NotInitLowerPropName" in counters
    assert "Sanity_TypeThing" in counters
    assert "Sanity_InvalidChars_dcid" in counters
    assert "Sanity_RefPropHasNonRefValue" in counters


def test_checker_valid_node_clean(spark):
    nodes = _df(
        spark,
        [
            ("Obs1", "typeOf", "RESOLVED_REF", "StatVarObservation"),
            ("Obs1", "variableMeasured", "RESOLVED_REF", "Count_Person"),
            ("Obs1", "observationAbout", "RESOLVED_REF", "geoId/06"),
            ("Obs1", "observationDate", "TEXT", "2020-07-01"),
            ("Obs1", "value", "NUMBER", "42"),
        ],
    )
    errors = check_nodes(nodes)
    assert errors.filter(F.col("level") == "LEVEL_ERROR").count() == 0


def test_checker_finalize_matches_template_join(spark):
    """_finalize's literal lookup by check id gives the level and message
    a join against the template table gives, for every registered check."""
    from import_spark.operators import mcf_checker as mc

    check_nodes(_df(spark, [("N1", "typeOf", "RESOLVED_REF", "City")]))  # registers every check
    templates = list(mc._TEMPLATES)
    assert [cid for cid, _, _ in templates] == list(range(len(templates)))
    assert any(t.count("%s") == 4 for _, _, t in templates)
    raw = spark.createDataFrame(
        [(f"n{cid}", cid, f"c{cid}", "a", "b", "c", "d") for cid, _, _ in templates],
        "node_id string, cid int, counter string, o1 string, o2 string, o3 string, o4 string",
    )
    tdf = spark.createDataFrame(templates, "cid int, level string, template string")
    want = raw.join(tdf, "cid").select(
        "node_id", "level", "counter",
        F.expr("format_string(template, o1, o2, o3, o4)").alias("message"),
    )
    got = mc._finalize(raw)
    assert got.columns == ["node_id", "level", "counter", "message"]
    assert sorted(got.collect()) == sorted(want.collect())
    assert got.count() == len(templates)


# ---------------------------------------------------------------- resolver

RESOLVE_ROWS = [
    # place node: no dcid, but has isoCode → OTHER-mode external-id assignment
    ("P1", "typeOf", "RESOLVED_REF", "City"),
    ("P1", "isoCode", "TEXT", "US"),
    # SVObs referencing the place: needs P1's dcid first (alternation!)
    ("O1", "typeOf", "RESOLVED_REF", "StatVarObservation"),
    ("O1", "variableMeasured", "RESOLVED_REF", "Count_Person"),
    ("O1", "observationAbout", "UNRESOLVED_REF", "l:P1"),
    ("O1", "observationDate", "TEXT", "2020"),
    ("O1", "value", "NUMBER", "7"),
    # orphan ref
    ("B1", "typeOf", "RESOLVED_REF", "City"),
    ("B1", "dcid", "TEXT", "geoId/01"),
    ("B1", "containedIn", "UNRESOLVED_REF", "l:Nowhere"),
    # ref to the failed node → poisoned
    ("B2", "typeOf", "RESOLVED_REF", "City"),
    ("B2", "dcid", "TEXT", "geoId/02"),
    ("B2", "near", "UNRESOLVED_REF", "l:B1"),
]


def _check_resolution(got_rows, failed_ids, errors, rounds):
    got = {(r[0], r[1], r[2], r[3]) for r in got_rows}
    # alternation: P1 got iso/US, then O1's ref resolved, then O1 got a
    # content-hash dcid (McfResolver.java:39-128 unblocking chain)
    assert ("P1", "dcid", "TEXT", "iso/US") in got
    assert ("O1", "observationAbout", "RESOLVED_REF", "iso/US") in got
    o1_dcid = [v for (n, p, t, v) in got if n == "O1" and p == "dcid"]
    assert len(o1_dcid) == 1 and o1_dcid[0].startswith("dc/o/")
    assert rounds >= 2
    assert failed_ids == {"B1", "B2"}
    counters = {c for _, c, _ in errors}
    assert "Resolution_OrphanLocalReference_containedIn" in counters
    assert "Resolution_ReferenceToFailedNode_near" in counters


def test_resolver_driver_alternation():
    rows = [(r + ("",)) for r in RESOLVE_ROWS]
    resolved, _failed_rows, failed, errors, rounds = resolve_graph_driver(rows)
    _check_resolution(resolved, failed, errors, rounds)


def test_resolver_distributed_parity(spark):
    nodes = _df(spark, RESOLVE_ROWS)
    res_d = resolve_graph(nodes)  # driver fast path
    res_x = resolve_graph(nodes, force_distributed=True)
    a = {(r.node_id, r.prop, r.value_type, r.value) for r in res_d.resolved.collect()}
    b = {(r.node_id, r.prop, r.value_type, r.value) for r in res_x.resolved.collect()}
    assert a == b
    fa = {r.node_id for r in res_d.failed.select("node_id").distinct().collect()}
    fb = {r.node_id for r in res_x.failed.select("node_id").distinct().collect()}
    assert fa == fb == {"B1", "B2"}


@pytest.mark.parametrize("dist", [False, True])
def test_resolver_legacy_obs_multivalue_key_prop_fails(spark, dist):
    """DcidGenerator.forObservation fails outright when any legacy-obs
    key prop has more than one typed value (DcidGenerator.java:318-321)
    — the node is quarantined, never silently keyed on a first value."""
    base = [
        ("typeOf", "RESOLVED_REF", "Observation"),
        ("observedNode", "RESOLVED_REF", "geoId/06"),
        ("observationDate", "TEXT", "2020"),
        ("measuredProperty", "RESOLVED_REF", "count"),
        ("measuredValue", "NUMBER", "1"),
    ]
    rows = [("OK",) + r for r in base] + [
        ("BAD",) + r for r in base
    ] + [
        ("BAD", "unit", "RESOLVED_REF", "Meter"),
        ("BAD", "unit", "RESOLVED_REF", "Foot"),
    ]
    res = resolve_graph(_df(spark, rows), force_distributed=dist)
    ok_dcids = [
        r.value
        for r in res.resolved.filter(
            (F.col("node_id") == "OK") & (F.col("prop") == "dcid")
        ).collect()
    ]
    assert len(ok_dcids) == 1 and ok_dcids[0].startswith("dc/o/")
    failed_ids = {r.node_id for r in res.failed.select("node_id").distinct().collect()}
    assert "BAD" in failed_ids
    errs = {r.counter for r in res.errors.filter(F.col("node_id") == "BAD").collect()}
    assert any(c.startswith("Resolution_DcidAssignmentFailure") for c in errs)


def test_resolver_statvar_content_hash(spark):
    nodes = _df(
        spark,
        [
            ("SV", "typeOf", "RESOLVED_REF", "StatisticalVariable"),
            ("SV", "populationType", "RESOLVED_REF", "Person"),
            ("SV", "measuredProperty", "RESOLVED_REF", "count"),
            ("SV", "statType", "RESOLVED_REF", "measuredValue"),
            ("SV", "gender", "RESOLVED_REF", "Female"),
        ],
    )
    res = resolve_graph(nodes)
    dcids = [r.value for r in res.resolved.filter(F.col("prop") == "dcid").collect()]
    assert len(dcids) == 1 and dcids[0].startswith("dc/")


R, U, T, N = "RESOLVED_REF", "UNRESOLVED_REF", "TEXT", "NUMBER"


def _svobs(nid, about, date="2020", value="1"):
    return [
        (nid, "typeOf", R, "StatVarObservation"),
        (nid, "variableMeasured", R, "Count_Person"),
        (nid, "observationAbout", U, about),
        (nid, "observationDate", T, date),
        (nid, "value", N, value),
    ]


# one node per case the two engines must agree on, in an order where
# every failed node precedes the nodes that reference it
ENGINE_BATTERY = [
    # place resolved through dcid_dict, then an SVObs waiting on it
    ("P1", "typeOf", R, "City"), ("P1", "isoCode", T, "US"),
    *_svobs("O1", "l:P1", value="7"),
    # orphan ref; a ref to that failed node
    ("B1", "typeOf", R, "City"), ("B1", "dcid", T, "geoId/01"),
    ("B1", "containedIn", U, "l:Nowhere"),
    ("B2", "typeOf", R, "City"), ("B2", "dcid", T, "geoId/02"), ("B2", "near", U, "l:B1"),
    # two-node SVObs cycle
    *_svobs("C1", "l:C2"), *_svobs("C2", "l:C1", value="2"),
    # no dcid: the failure names the FIRST type
    ("Z", "typeOf", R, "Zeta"), ("Z", "typeOf", R, "Alpha"), ("Z", "name", T, "zed"),
    # place resolved through the local-graph seed; the SVObs on it has
    # two dates, and the first one keys its hash
    ("L1", "typeOf", R, "Country"), ("L1", "isoCode", T, "FR"), ("L1", "dcid", T, "country/FRA"),
    ("L2", "typeOf", R, "City"), ("L2", "isoCode", T, "FR"),
    *_svobs("O2", "l:L2", date="2021", value="3"), ("O2", "observationDate", T, "2020"),
    # dict_df hit; prefix fallback
    ("P3", "typeOf", R, "City"), ("P3", "wikidataId", T, "Q90"),
    ("P4", "typeOf", R, "City"), ("P4", "isoCode", T, "ZZ"),
    # legacy Population, and a legacy Observation waiting on it
    ("POP", "typeOf", R, "StatisticalPopulation"), ("POP", "populationType", R, "Person"),
    ("POP", "location", U, "l:P1"),
    ("OB", "typeOf", R, "Observation"), ("OB", "observedNode", U, "l:POP"),
    ("OB", "measuredProperty", R, "count"), ("OB", "observationDate", T, "2020"),
    ("OB", "measuredValue", N, "5"),
    # StatVar content hash
    ("SV", "typeOf", R, "StatisticalVariable"), ("SV", "populationType", R, "Person"),
    ("SV", "measuredProperty", R, "count"), ("SV", "statType", R, "measuredValue"),
    ("SV", "gender", R, "Female"),
    # multi-valued legacy-obs key prop: fails
    ("BAD", "typeOf", R, "Observation"), ("BAD", "observedNode", R, "geoId/06"),
    ("BAD", "observationDate", T, "2020"), ("BAD", "measuredProperty", R, "count"),
    ("BAD", "measuredValue", N, "1"), ("BAD", "unit", R, "Meter"), ("BAD", "unit", R, "Foot"),
    # failed by its orphan ref, keeping the ref the same pass replaced
    ("X1", "typeOf", R, "City"), ("X1", "dcid", T, "geoId/x1"), ("X1", "near", U, "l:L1"),
    ("X1", "containedIn", U, "l:Nowhere2"),
    # assigned a dcid, then failed by its ref to BAD: keeps the dcid row
    ("F1", "typeOf", R, "City"), ("F1", "isoCode", T, "DE"), ("F1", "near", U, "l:BAD"),
]


def test_resolver_engines_agree_exactly(spark):
    """The driver and the distributed engine on one battery: identical
    resolved rows, failed rows with their error, error rows and
    rounds — messages, first-type failures, partial ref replacement and
    the assigned dcid row's src_file included."""
    rows = [r + (f"f{i % 3}.csv",) for i, r in enumerate(ENGINE_BATTERY)]
    dict_df = spark.createDataFrame(
        [("wikidataId", "Q90", "geoId/Paris")], "prop string, ext_id string, dcid string"
    )
    cols = ["node_id", "prop", "value_type", "value", "src_file"]
    got = []
    for dist in (False, True):
        res = resolve_graph(
            _df(spark, rows),
            force_distributed=dist,
            dcid_dict={("isoCode", "US"): "country/USA"},
            dict_df=dict_df,
        )
        got.append((
            sorted(tuple(r) for r in res.resolved.select(*cols).collect()),
            sorted(tuple(r) for r in res.failed.select(*cols, "error").collect()),
            sorted(tuple(r) for r in res.errors.select("node_id", "counter", "message").collect()),
            res.rounds,
        ))
    (resolved, failed, errors, rounds), dist = got
    assert resolved == dist[0]
    assert failed == dist[1]
    assert errors == dist[2]
    assert rounds == dist[3] == 3
    msgs = {e[0]: e[1:] for e in errors}
    assert msgs["Z"] == (
        "Resolution_DcidAssignmentFailure_Zeta", "Failed to assign DCID :: type: 'Zeta', node: 'Z'"
    )
    assert msgs["B2"][1] == (
        "Found a local ref to an unresolvable node :: ref: 'l:B1', property: 'near', node: 'B2'"
    )
    assert set(msgs) == {"B1", "B2", "C1", "C2", "Z", "BAD", "X1", "F1"}
    dcids = {r[0]: r[3] for r in resolved if r[1] == "dcid"}
    assert dcids["P1"] == "country/USA" and dcids["L2"] == "country/FRA"
    assert dcids["P3"] == "geoId/Paris" and dcids["P4"] == "iso/ZZ"
    assert ("X1", "near", "RESOLVED_REF", "country/FRA") in {r[:4] for r in failed}
    assert ("F1", "dcid", "TEXT", "iso/DE") in {r[:4] for r in failed}


def _budget_graph(spark):
    """50 isoCode places and 2,000 SVObs referencing them."""
    rows = [
        r
        for p in range(50)
        for r in ((f"P{p}", "typeOf", R, "City"), (f"P{p}", "isoCode", T, f"C{p:02d}"))
    ]
    for i in range(2000):
        rows += _svobs(f"O{i}", f"l:P{i % 50}", value=str(i))
    return _df(spark, rows).localCheckpoint()


def test_resolve_graph_job_budget(spark, job_ids):
    """Jobs one resolve_graph call runs on a checkpointed 50-place +
    2,000-SVObs graph: the distributed engine's per-round counts ride
    its checkpoints, and the driver engine stays at one size aggregate,
    one collect and the parquet handoff. Both report the driver's two
    rounds."""
    nodes = _budget_graph(spark)
    for dist, bound in ((True, 66), (False, 3)):
        before = job_ids()
        res = resolve_graph(nodes, force_distributed=dist, input_materialized=True)
        jobs = len(job_ids() - before)
        assert res.rounds == 2, (dist, res.rounds)
        assert jobs <= bound, (dist, jobs)
        assert res.resolved.filter(F.col("prop") == "dcid").count() == 2050


# ---------------------------------------------------------------- plan

TMCF = textwrap.dedent(
    """\
    Node: E:T->E0
    typeOf: dcs:StatVarObservation
    variableMeasured: dcs:Count_Person
    observationAbout: E:T->E1
    observationDate: C:T->Year
    value: C:T->Count

    Node: E:T->E1
    typeOf: dcs:City
    isoCode: C:T->Iso
    """
)


def test_genmcf_end_to_end(spark, tmp_path):
    csv = spark.createDataFrame(
        [("2019", "100", "US", 1), ("2020", "bad date", "FR", 2)],
        ["Year", "Count", "Iso", "rid"],
    )
    out_dir = str(tmp_path / "genmcf")
    res = run_genmcf(spark, TMCF, csv, row_id_col="rid", out_dir=out_dir)
    got = {(r.node_id, r.prop, r.value_type, r.value) for r in res.nodes.collect()}
    # place resolved via external id; SVObs ref rewritten; dcid assigned
    assert ("T/E1/1", "dcid", "TEXT", "iso/US") in got
    assert ("T/E0/1", "observationAbout", "RESOLVED_REF", "iso/US") in got
    assert any(n == "T/E0/1" and p == "dcid" and v.startswith("dc/o/") for n, p, t, v in got)
    # outputs on disk
    assert os.path.exists(os.path.join(out_dir, "report.json"))
    with open(os.path.join(out_dir, "report.json")) as f:
        report = json.load(f)
    assert report["levelSummary"]["LEVEL_INFO"]["counters"]["NumNodesProcessed"] >= 4
    mcf_files = os.listdir(os.path.join(out_dir, "table_mcf_nodes"))
    assert any(f.startswith("part-") for f in mcf_files)


def test_genmcf_parse_gate_drops_sanity_failing_row(spark):
    """TmcfCsvParser inline gate (TmcfCsvParser.java:224-228): a CSV row
    whose node fails McfChecker.checkNode at parse time is dropped from
    the parsed graph — it must not reach table_mcf_nodes (nor get a
    dcid) — while its checker entry still reaches the report through
    the shared LogWrapper (McfChecker.java:790-793)."""
    csv = spark.createDataFrame(
        [("2019", "100", "US", 1), ("not-a-date", "200", "FR", 2)],
        ["Year", "Count", "Iso", "rid"],
    )
    res = run_genmcf(spark, TMCF, csv, row_id_col="rid")
    node_ids = {r.node_id for r in res.nodes.collect()}
    # the bad-date SVObs node is gated out; the place node from the same
    # row and the entire good row survive
    assert "T/E0/2" not in node_ids
    assert {"T/E0/1", "T/E1/1", "T/E1/2"} <= node_ids
    errs = {(r.node_id, r.counter) for r in res.errors.collect()}
    assert ("T/E0/2", "Sanity_InvalidObsDate") in errs
    counters = res.report["levelSummary"]["LEVEL_ERROR"]["counters"]
    assert counters.get("Sanity_InvalidObsDate", 0) >= 1
    # success arithmetic counts only post-gate nodes (Processor.java:393-394)
    info = res.report["levelSummary"]["LEVEL_INFO"]["counters"]
    assert info["NumNodesProcessed"] == 3
    assert info["NumNodeSuccesses"] == 3


def test_report_hot_counter_capped_before_aggregation(spark):
    """A hot counter (many failing rows) must reach the report with the
    full count but at most MAX_MESSAGES_PER_COUNTER samples — capped
    per input partition BEFORE the final aggregation (LogWrapper caps
    at insertion, MAX_MESSAGES_PER_COUNTER=30), never buffering every
    message of the group in one collect_list."""
    from import_spark.report import MAX_MESSAGES_PER_COUNTER, build_report

    n = 5000
    errors = (
        spark.range(n)
        .selectExpr(
            "concat('N', id) as node_id",
            "'LEVEL_ERROR' as level",
            "'Sanity_Hot' as counter",
            "concat('msg ', id) as message",
        )
        .repartition(8)
    )
    report = build_report(errors)
    assert report["levelSummary"]["LEVEL_ERROR"]["counters"]["Sanity_Hot"] == n
    (entry,) = report["entries"]
    assert entry["count"] == n
    assert len(entry["messageSamples"]) == MAX_MESSAGES_PER_COUNTER
    assert all(m.startswith("msg ") for m in entry["messageSamples"])


def test_genmcf_instance_mcf_union(spark):
    doc = "Node: dcid:geoId/06\ntypeOf: dcs:State\nname: \"California\"\n"
    rows = parse_mcf_string(doc)
    inst = spark.createDataFrame(rows, NODE_SCHEMA)
    res = run_genmcf(spark, TMCF, csv_df=None, instance_nodes=inst)
    got = {(r.node_id, r.prop, r.value) for r in res.nodes.collect()}
    assert ("geoId/06", "name", "California") in got


def test_genmcf_local_graph_seeding(spark):
    """J2: an external id defined WITH a dcid in the same import resolves
    references to that id via the local graph (ExternalIdResolver.addLocalGraph)."""
    nodes = _df(
        spark,
        [
            # local node that defines isoCode US with an explicit dcid
            ("Def1", "typeOf", "RESOLVED_REF", "Country"),
            ("Def1", "dcid", "TEXT", "country/USA"),
            ("Def1", "isoCode", "TEXT", "US"),
            # another node carrying the same external id but no dcid:
            # with seeding it resolves to country/USA, not iso/US
            ("P9", "typeOf", "RESOLVED_REF", "City"),
            ("P9", "isoCode", "TEXT", "US"),
        ],
    )
    res = run_genmcf(spark, TMCF, csv_df=None, instance_nodes=nodes)
    got = {(r.node_id, r.prop, r.value) for r in res.nodes.collect()}
    assert ("P9", "dcid", "country/USA") in got


def test_metrics_table_written(spark, tmp_path):
    from import_spark.plans.kg_pipeline import run_pipeline
    from import_spark.sources.transcripts import dcid_dictionary, generate_transcripts

    out = str(tmp_path / "kg")
    run_pipeline(
        spark, generate_transcripts(spark, 50), dcid_dictionary(spark), out_dir=out
    )
    m = spark.read.parquet(os.path.join(out, "metrics"))
    rows = {(r.stage, r.counter) for r in m.collect()}
    assert ("merge", "triples_final") in rows and ("scan", "text_digest") in rows


def test_resolver_distributed_no_batch_split_misfail(spark):
    """Regression: with tiny Arrow batches, a node's pvs used to straddle
    two pandas batches in the distributed assign step, mis-failing ~2%
    of SVObs nodes (the node ran twice with partial state). The packed
    one-row-per-node design makes the batch boundary irrelevant."""
    rows = []
    for i in range(120):
        rows += [
            (f"O{i}", "typeOf", "RESOLVED_REF", "StatVarObservation"),
            (f"O{i}", "variableMeasured", "RESOLVED_REF", "Count_Person"),
            (f"O{i}", "observationAbout", "RESOLVED_REF", f"geoId/{i:05d}"),
            (f"O{i}", "observationDate", "TEXT", "2020"),
            (f"O{i}", "value", "NUMBER", str(i)),
        ]
    nodes = _df(spark, rows)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        res = resolve_graph(nodes, force_distributed=True)
        assert res.failed.count() == 0
        dcids = {
            r.node_id: r.value
            for r in res.resolved.filter(
                (F.col("prop") == "dcid")
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert len(dcids) == 120 and all(v.startswith("dc/o/") for v in dcids.values())


REF_FIXTURES = "/root/reference/util/src/test/resources/org/datacommons/util"


@pytest.mark.skipif(not os.path.isdir(REF_FIXTURES), reason="reference fixtures not present")
def test_genmcf_reference_golden_tmcf_csv(spark):
    """End-to-end parity against the reference's own McfResolverTest
    fixture: TMCF x CSV -> resolved graph must match
    McfResolverTest_Resolved_TmcfCsvSuccess.mcf semantically —
    bit-identical content-hash dcids (dc/o/... via FarmHash), resolved
    refs, the empty-dcid row-2 entity skipped with its dangling ref
    dropped (TmcfCsvParser.java:196-199,268-280), and nothing
    quarantined (the Failure golden is empty)."""
    from import_spark.plans.genmcf import run_genmcf
    from import_spark.sources.mcf import read_mcf
    from import_spark.sources.tmcf import read_csv

    csv = read_csv(spark, f"{REF_FIXTURES}/McfResolverTest_TmcfCsv.csv")
    tmcf = open(f"{REF_FIXTURES}/McfResolverTest_TmcfCsv.tmcf").read()
    res = run_genmcf(spark, tmcf, csv)
    assert res.failed.count() == 0  # Failure golden is empty

    ours = res.nodes.dropDuplicates(["node_id", "prop", "value_type", "value"]).collect()
    our_dcid = {}
    for r in ours:
        if r.prop == "dcid":
            our_dcid[r.node_id] = r.value
    got = {
        (our_dcid[r.node_id], r.prop, r.value)
        for r in ours
        if r.prop != "dcid"
    }

    golden = read_mcf(spark, f"{REF_FIXTURES}/McfResolverTest_Resolved_TmcfCsvSuccess.mcf").collect()
    g_dcid = {r.node_id: r.value for r in golden if r.prop == "dcid"}
    want = {
        (g_dcid[r.node_id], r.prop, r.value)
        for r in golden
        if r.prop not in ("dcid", "keyString")  # keyString is a DcidGenerator TEST_MODE artifact
    }
    assert got == want
    # the generated SVObs dcids are bit-identical to the reference's
    assert {v for v in g_dcid.values() if v.startswith("dc/o/")} == {
        v for v in our_dcid.values() if v.startswith("dc/o/")
    }


def _fixture_csv(spark, name):
    """Load a fixture CSV preserving file order with 1-based row ids
    (TmcfCsvParser TEST-mode line numbers)."""
    from import_spark.sources.tmcf import read_csv

    pdf = read_csv(spark, f"{REF_FIXTURES}/{name}").toPandas()
    return spark.createDataFrame(pdf.assign(rid=range(1, len(pdf) + 1)))


def _golden_statements(spark, name, drop_props=()):
    from import_spark.sources.mcf import read_mcf

    rows = read_mcf(spark, f"{REF_FIXTURES}/{name}").collect()
    return {
        (r.node_id, r.prop, r.value_type, r.value)
        for r in rows
        if r.prop not in drop_props
    }


@pytest.mark.skipif(not os.path.isdir(REF_FIXTURES), reason="reference fixtures not present")
def test_tmcf_csv_parser_svo_golden(spark):
    """TmcfCsvParserTest SVO golden: commons-CSV control escapes (the
    row-3 \\n becomes a real newline, failing the ref charset check) and
    the inline checkNode gate (ANY entry drops the node — the row-4 E1
    with a missing value is dropped on a WARNING,
    McfChecker.java:790-793)."""
    from import_spark.operators.mcf_checker import check_gate
    from import_spark.sources.tmcf import expand_template

    csv = _fixture_csv(spark, "TmcfCsvParser_SVO.csv")
    tmcf = open(f"{REF_FIXTURES}/TmcfCsvParser_SVO.tmcf").read()
    got = {
        (r.node_id, r.prop, r.value_type, r.value)
        for r in check_gate(expand_template(csv, tmcf, row_id_col="rid")).collect()
    }
    want = _golden_statements(spark, "TmcfCsvParser_SVO.mcf")
    assert got == want


@pytest.mark.skipif(not os.path.isdir(REF_FIXTURES), reason="reference fixtures not present")
def test_tmcf_csv_parser_multivalue_golden(spark):
    """TmcfCsvParserTest MultiValue golden: quote/escape-aware
    multi-value cell splitting (StringUtil.splitAndStripWithQuoteEscape)."""
    from import_spark.sources.tmcf import expand_template

    csv = _fixture_csv(spark, "TmcfCsvParser_MultiValue.csv")
    tmcf = open(f"{REF_FIXTURES}/TmcfCsvParser_MultiValue.tmcf").read()
    got = {
        (r.node_id, r.prop, r.value_type, r.value)
        for r in expand_template(csv, tmcf, row_id_col="rid").collect()
    }
    want = _golden_statements(spark, "TmcfCsvParser_MultiValue.mcf")
    assert got == want


@pytest.mark.skipif(not os.path.isdir(REF_FIXTURES), reason="reference fixtures not present")
def test_tmcf_csv_parser_popobs_golden(spark):
    """TmcfCsvParserTest PopObs golden: legacy Population/Observation
    templates, complex values, empty-dcid entity skipping with dangling
    containedIn dropped, dcid-keyed nodes, l: refs to dcid-less
    entities."""
    from import_spark.operators.mcf_checker import check_gate
    from import_spark.sources.tmcf import expand_template

    csv = _fixture_csv(spark, "TmcfCsvParser_PopObs.csv")
    tmcf = open(f"{REF_FIXTURES}/TmcfCsvParser_PopObs.tmcf").read()
    got = {
        (r.node_id, r.prop, r.value_type, r.value)
        for r in check_gate(expand_template(csv, tmcf, row_id_col="rid")).collect()
    }
    want = _golden_statements(spark, "TmcfCsvParser_PopObs.mcf")
    assert got == want


@pytest.mark.skipif(not os.path.isdir(REF_FIXTURES), reason="reference fixtures not present")
@pytest.mark.parametrize("dist", [False, True])
def test_mcf_resolver_instance_golden(spark, dist):
    """McfResolverTest instance golden: the alternating resolver on the
    reference's own unresolved-instance fixture must reproduce both the
    Success and Failure graphs — bit-identical legacy dc/p/ and dc/o/
    content-hash dcids (complex [Years 18 -] contributing
    Years18Onwards to the population key), loop/orphan quarantine, and
    failed nodes keeping partial ref-resolution progress."""
    from import_spark.operators.mcf_resolver import resolve_graph
    from import_spark.sources.mcf import read_mcf

    nodes = read_mcf(spark, f"{REF_FIXTURES}/McfResolverTest_Unresolved_Instance.mcf")
    # assign_statvar_dcids=False: McfResolver does NOT generate StatVar
    # dcids (SVId fails in the golden)
    res = resolve_graph(nodes, assign_statvar_dcids=False, force_distributed=dist)
    got = {(r.node_id, r.prop, r.value_type, r.value) for r in res.resolved.collect()}
    want = _golden_statements(spark, "McfResolverTest_Resolved_InstanceSuccess.mcf", ("keyString",))
    assert got == want
    gf = {(r.node_id, r.prop, r.value_type, r.value) for r in res.failed.drop("error").collect()}
    wf = _golden_statements(spark, "McfResolverTest_Resolved_InstanceFailure.mcf", ("keyString",))
    assert gf == wf


def test_genmcf_full_resolution_recon_table(spark):
    """FULL-resolution two-pass orchestration
    (Processor.java:82-86,451-497): with ``recon_table`` the dictionary
    is NOT passed in — pass 1 collects the distinct external-id working
    set from the parsed graph and joins the offline recon dimension;
    the run must then resolve exactly as if the matching dict had been
    passed explicitly, and ids the recon table misses keep the
    prefix-fallback dcid."""
    csv = spark.createDataFrame(
        [("2019", "100", "US", 1), ("2020", "200", "FR", 2), ("2021", "300", "ZZ", 3)],
        ["Year", "Count", "Iso", "rid"],
    )
    recon = spark.createDataFrame(
        [
            ("isoCode", "US", "country/USA"),
            ("isoCode", "FR", "country/FRA"),
            ("isoCode", "DE", "country/DEU"),  # not in the data: must not matter
        ],
        ["prop", "ext_id", "dcid"],
    )
    res = run_genmcf(spark, TMCF, csv, row_id_col="rid", recon_table=recon)
    got = {(r.node_id, r.prop, r.value_type, r.value) for r in res.nodes.collect()}
    assert ("T/E1/1", "dcid", "TEXT", "country/USA") in got
    assert ("T/E0/1", "observationAbout", "RESOLVED_REF", "country/USA") in got
    assert ("T/E1/2", "dcid", "TEXT", "country/FRA") in got
    # recon miss -> prefix fallback (DcidGenerator.forPlace)
    assert ("T/E1/3", "dcid", "TEXT", "iso/ZZ") in got

    # parity: identical output to passing the derived dict explicitly
    explicit = run_genmcf(
        spark,
        TMCF,
        csv,
        row_id_col="rid",
        dcid_dict={("isoCode", "US"): "country/USA", ("isoCode", "FR"): "country/FRA"},
    )
    want = {(r.node_id, r.prop, r.value_type, r.value) for r in explicit.nodes.collect()}
    assert got == want
