"""Stats checks (A5-A10), differ (J5), existence (J8), statvar synthesis
(T5/C8) on hand-written fixtures (FIXTURES.md F7/F8 shapes)."""

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def obs(spark):
    # series exercising each StatChecker rule (FIXTURES.md F7)
    rows = [
        # normal series + one 3-sigma outlier and a >500% jump
        *[("geoId/06", "Count_Person", f"201{i}", 100.0 + i) for i in range(8)],
        ("geoId/06", "Count_Person", "2018", 100000.0),
        # mixed granularity series
        ("geoId/36", "Count_Person", "2019", 5.0),
        ("geoId/36", "Count_Person", "2019-03", 6.0),
        # hole-y monthly series (month gap)
        ("geoId/48", "Count_Household", "2019-01", 1.0),
        ("geoId/48", "Count_Household", "2019-02", 1.1),
        ("geoId/48", "Count_Household", "2019-05", 1.2),
        # duplicate date, conflicting values
        ("geoId/12", "Count_Person", "2020", 7.0),
        ("geoId/12", "Count_Person", "2020", 8.0),
    ]
    return spark.createDataFrame(rows, ["entity", "variable", "date", "value"])


def test_sigma_outliers(obs):
    from import_spark.operators.stats import sigma_outliers

    out = sigma_outliers(obs).collect()
    # one possible design: within (geoId/06, Count_Person), 100000 is not
    # 3σ out because it inflates σ itself; assert the check flags it via
    # relative dominance instead → it must be the only candidate if any
    assert all(r.entity == "geoId/06" for r in out)


def test_fluctuations(obs):
    from import_spark.operators.stats import fluctuations

    out = {(r.entity, r.check) for r in fluctuations(obs).collect()}
    assert ("geoId/06", "StatsCheck_MaxPercentFluctuationGreaterThan500") in out


def test_date_granularity(obs):
    from import_spark.operators.stats import date_granularity_issues

    out = {(r.entity, r.check) for r in date_granularity_issues(obs).collect()}
    assert ("geoId/36", "StatsCheck_Inconsistent_Date_Granularity") in out
    assert ("geoId/48", "StatsCheck_Data_Holes") in out


def test_value_inconsistency(obs):
    from import_spark.operators.stats import value_inconsistencies

    out = {(r.entity, r.date) for r in value_inconsistencies(obs).collect()}
    assert out == {("geoId/12", "2020")}


def test_run_all_checks_counters(obs):
    from import_spark.operators.stats import run_all_checks

    counters = {r.check: r.n for r in run_all_checks(obs).collect()}
    assert counters.get("StatsCheck_Inconsistent_Values") == 1
    assert "StatsCheck_Inconsistent_Date_Granularity" in counters


def test_differ(spark):
    from import_spark.operators.differ import diff_observations

    cur = spark.createDataFrame(
        [("V", "E1", "2020", 1.0), ("V", "E2", "2020", 2.0)],
        ["variable", "entity", "date", "value"],
    )
    prev = spark.createDataFrame(
        [("V", "E2", "2020", 3.0), ("V", "E3", "2020", 4.0)],
        ["variable", "entity", "date", "value"],
    )
    out = {r.key_combined: r.diff_type for r in diff_observations(cur, prev).collect()}
    # fixed-width 7-part key (DifferUtils.java:38-46)
    assert out["V;E1;2020;;;;"] == "ADDED"
    assert out["V;E2;2020;;;;"] == "MODIFIED"
    assert out["V;E3;2020;;;;"] == "DELETED"


def test_existence(spark):
    from import_spark.operators.existence import dangling_objects, missing_references

    triples = spark.createDataFrame(
        [("a", "p", "RESOLVED_REF", "b"), ("b", "p", "RESOLVED_REF", "ghost")],
        ["subj", "pred", "obj_type", "obj"],
    )
    known = spark.createDataFrame([("a",), ("b",)], ["node"])
    missing = {r.ref for r in missing_references(triples, known).collect()}
    assert missing == {"ghost"}
    dangling = {r.node for r in dangling_objects(triples).collect()}
    assert dangling == {"ghost"}


def test_statvar_synthesis(spark):
    from import_spark.operators.statvar import sanitize_sv_id, statvar_triples

    svs = spark.createDataFrame(
        [("sv1", "My Var", "Person", None, None)],
        "sv_id string, name string, populationType string, measuredProperty string, statType string",
    )
    t = {(r.predicate, r.object) for r in statvar_triples(svs).collect()}
    assert ("typeOf", "StatisticalVariable") in t
    assert ("populationType", "Person") in t  # explicit overrides default
    assert ("measuredProperty", "sv1") in t  # default = self id
    assert ("statType", "measuredValue") in t  # default

    ids = spark.range(1).select(
        sanitize_sv_id(F.lit("My Fancy Var! (2020)")).alias("id"),
        sanitize_sv_id(F.lit("x" * 300)).alias("long_id"),
    ).first()
    assert ids.id == "custom/statvar_my_fancy_var_2020_"
    assert len(ids.long_id) <= 255 and ids.long_id.startswith("custom/statvar_x")


import os

REF_FIXTURES = "/root/reference/util/src/test/resources/org/datacommons/util"


@pytest.mark.skipif(not os.path.isdir(REF_FIXTURES), reason="reference fixtures not present")
def test_stat_checker_reference_golden(spark):
    """StatCheckerTest golden: the flagged (series, date, counter) set on
    the reference's own SVObs fixture must match
    StatCheckerTestReport.json — series keyed by the full facet
    (place, sv, measurementMethod, ...), StatsCheck_Inconsistent_Values
    on the method-less series at 2015, StatsCheck_3_Sigma on the
    CensusACS5YrSurvey series at 2014."""
    import json

    from import_spark.operators.stats import sigma_outliers, value_inconsistencies
    from import_spark.sources.mcf import read_mcf

    rows = read_mcf(spark, f"{REF_FIXTURES}/StatCheckerTest.mcf").collect()
    by_node = {}
    for r in rows:
        by_node.setdefault(r.node_id, {})[r.prop] = r.value
    obs = spark.createDataFrame(
        [
            (
                p.get("observationAbout"),
                p.get("variableMeasured"),
                p.get("measurementMethod", ""),
                p.get("observationDate"),
                float(p["value"]),
            )
            for p in by_node.values()
            if p.get("typeOf") == "StatVarObservation" and "value" in p
        ],
        ["entity", "variable", "mm", "date", "value"],
    )
    key = ["entity", "variable", "mm"]
    got = {
        (r.entity, r.variable, r.mm, r.date, "StatsCheck_Inconsistent_Values")
        for r in value_inconsistencies(obs, series_key=key).collect()
    } | {
        (r.entity, r.variable, r.mm, r.date, "StatsCheck_3_Sigma")
        for r in sigma_outliers(obs, series_key=key).collect()
    }

    want = set()
    rep = json.load(open(f"{REF_FIXTURES}/StatCheckerTestReport.json"))
    for series in rep["statsCheckSummary"]:
        for counter in series["validationCounters"]:
            for pt in counter["problemPoints"]:
                want.add(
                    (
                        series["placeDcid"],
                        series["statVarDcid"],
                        series["measurementMethod"],
                        pt["date"],
                        counter["counterKey"],
                    )
                )
    assert got == want


def test_stats_checks_total_on_garbage(spark):
    """ANSI totality: malformed date strings and zero-base series must
    classify or drop, never throw (Spark 4 default ANSI mode turns an
    unguarded to_date/cast/divide into a job-killing exception)."""
    from import_spark.operators.stats import (
        date_granularity_issues,
        fluctuations,
        max_fluctuation_per_series,
        sigma_outliers,
        value_inconsistencies,
    )

    rows = [
        ("geoId/99", "Count_X", "not-a-date", 1.0),
        ("geoId/99", "Count_X", "2020-99", 2.0),
        ("geoId/99", "Count_X", "2020-01-01", 3.0),
        # zero base: next point's percent change divides by |prev| = 0
        ("geoId/77", "Count_Y", "2019", 0.0),
        ("geoId/77", "Count_Y", "2020", 5.0),
        ("geoId/77", "Count_Y", "2021", 0.0),
    ]
    obs = spark.createDataFrame(rows, ["entity", "variable", "date", "value"])
    for op in (
        date_granularity_issues,
        fluctuations,
        max_fluctuation_per_series,
        sigma_outliers,
        value_inconsistencies,
    ):
        op(obs).collect()  # must not raise


def test_statvar_collisions_fold_semantics(spark):
    """StatVarState.check replay (StatVarState.java:137-189): an
    erroring node registers NOTHING, so a later node reusing the
    erroring node's curated dcid with new content passes — the chained
    case where a naive per-key first-wins grouping would over-flag."""
    from import_spark.operators.mcf_checker import statvar_collisions

    def sv(nid, curated, mp):
        return [
            (nid, "typeOf", "TEXT", "StatisticalVariable"),
            (nid, "dcid", "TEXT", curated),
            (nid, "populationType", "TEXT", "Person"),
            (nid, "measuredProperty", "TEXT", mp),
            (nid, "statType", "TEXT", "measuredValue"),
        ]

    rows = (
        sv("n1", "c1", "mpA")       # registers c1<->hash(mpA)
        + sv("n2", "c2", "mpA")     # same content, new curated -> DifferentDcids; registers nothing
        + sv("n3", "c2", "mpB")     # c2 was never registered -> passes (chained case)
        + sv("n4", "c1", "mpC")     # c1 registered with mpA -> SameDcid
        + sv("n5", "", "mpD")       # no curated dcid -> skipped here (checker flags it)
    )
    nodes = spark.createDataFrame(
        rows, "node_id string, prop string, value_type string, value string"
    )
    got = {(r.node_id, r.counter) for r in statvar_collisions(nodes).collect()}
    assert got == {
        ("n2", "Sanity_DifferentDcidsForSameStatVar"),
        ("n4", "Sanity_SameDcidForDifferentStatVars"),
    }
    msgs = {r.node_id: r.message for r in statvar_collisions(nodes).collect()}
    assert msgs["n2"] == (
        "Found different curated IDs for same StatVar :: "
        "dcid1: 'c1', dcid2: 'c2', node: 'n2'"
    )


def test_statvar_collisions_distributed_fallback(spark, monkeypatch):
    """Past the driver byte budget the collision checks run as window
    aggregates (min-node_id first registration — exact on chain-free
    inputs); same verdicts as the driver fold here."""
    import import_spark.functions.size_gate as gate
    from import_spark.operators.mcf_checker import statvar_collisions

    def sv(nid, curated, mp):
        return [
            (nid, "typeOf", "TEXT", "StatisticalVariable"),
            (nid, "dcid", "TEXT", curated),
            (nid, "populationType", "TEXT", "Person"),
            (nid, "measuredProperty", "TEXT", mp),
            (nid, "statType", "TEXT", "measuredValue"),
        ]

    rows = sv("n1", "c1", "mpA") + sv("n2", "c2", "mpA") + sv("n4", "c1", "mpC")
    nodes = spark.createDataFrame(
        rows, "node_id string, prop string, value_type string, value string"
    )
    monkeypatch.setattr(gate, "DRIVER_COLLECT_BUDGET_BYTES", 0)
    got = {(r.node_id, r.counter) for r in statvar_collisions(nodes).collect()}
    assert got == {
        ("n2", "Sanity_DifferentDcidsForSameStatVar"),
        ("n4", "Sanity_SameDcidForDifferentStatVars"),
    }
