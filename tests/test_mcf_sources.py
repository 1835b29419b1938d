"""MCF reader + TMCF×CSV template expansion goldens (FIXTURES.md F2/F3
shapes; semantics per McfParser/TmcfCsvParser)."""

import textwrap

import pytest

from pyspark.sql import functions as F

from import_spark.sources.mcf import mcf_to_triples, parse_mcf_string, read_mcf, write_mcf
from import_spark.sources.tmcf import expand_template, parse_tmcf

MCF_DOC = textwrap.dedent(
    """\
    # a comment
    Node: LocalNode
    typeOf: dcs:City
    name: "San Jose", "SJ"
    population: 1000000
    nearby: l:OtherNode

    Node: dcid:geoId/06
    typeOf: dcs:State
    // another comment
    name: "California"
    """
)


def test_parse_mcf_string_semantics():
    rows = parse_mcf_string(MCF_DOC)
    got = {(r[0], r[1], r[2], r[3]) for r in rows}
    # typed values per P1; multi-value split per P2
    assert ("LocalNode", "typeOf", "RESOLVED_REF", "City") in got
    assert ("LocalNode", "name", "TEXT", "San Jose") in got
    assert ("LocalNode", "name", "TEXT", "SJ") in got
    assert ("LocalNode", "population", "NUMBER", "1000000") in got
    assert ("LocalNode", "nearby", "UNRESOLVED_REF", "l:OtherNode") in got
    # Node: dcid:X auto-adds dcid (McfParser.java:261-274)
    assert ("geoId/06", "dcid", "TEXT", "geoId/06") in got
    assert ("geoId/06", "name", "TEXT", "California") in got


def test_read_mcf_distributed(spark, tmp_path):
    p = tmp_path / "g.mcf"
    p.write_text(MCF_DOC)
    df = read_mcf(spark, str(p))
    assert df.count() == len(parse_mcf_string(MCF_DOC))
    # T4 flattening: refs → ID rows, literals → VALUE rows
    tr = mcf_to_triples(df)
    kinds = {
        (r.predicate, r.object_kind)
        for r in tr.filter(F.col("subject_id") == "LocalNode").collect()
    }
    assert ("typeOf", "ID") in kinds and ("name", "VALUE") in kinds
    assert ("nearby", "ID") in kinds


def test_mcf_roundtrip(spark, tmp_path):
    src = tmp_path / "g.mcf"
    src.write_text(MCF_DOC)
    out = tmp_path / "out"
    df = read_mcf(spark, str(src))
    write_mcf(df.coalesce(1), str(out))
    text = "".join(
        p.read_text() for p in sorted(out.glob("part-*"))
    )
    rows2 = parse_mcf_string(text)
    # round-trip preserves the statement set (dcid self-row regenerated)
    s1 = {(r[0], r[1], r[3]) for r in parse_mcf_string(MCF_DOC)}
    s2 = {(r[0], r[1], r[3]) for r in rows2}
    assert s1 == s2


TMCF = textwrap.dedent(
    """\
    Node: E:Table->E0
    typeOf: dcs:StatVarObservation
    variableMeasured: dcs:Count_Thing
    measurementMethod: dcs:TestMethod
    observationAbout: E:Table->E1
    observationDate: C:Table->Year
    value: C:Table->Count

    Node: E:Table->E1
    typeOf: dcs:State
    dcid: C:Table->GeoId
    """
)


def test_parse_tmcf():
    t = parse_tmcf(TMCF)
    assert [n.entity for n in t] == ["E0", "E1"]
    terms = dict(((p, k), v) for p, k, v in t[0].terms)
    assert terms[("observationDate", "COLUMN")] == "Year"
    assert terms[("observationAbout", "ENTITY")] == "E1"
    assert terms[("typeOf", "CONST")] == "dcs:StatVarObservation"


def test_expand_template(spark):
    csv = spark.createDataFrame(
        [
            ("2019", "dcid:geoId/06", "100", 1),
            ("2020", "dcid:geoId/36", "200, 300", 2),  # multi-value cell
            ("2021", None, "400", 3),  # empty dcid → entity skipped, ref dropped
        ],
        ["Year", "GeoId", "Count", "rid"],
    )
    out = expand_template(csv, TMCF, row_id_col="rid")
    got = {(r.node_id, r.prop, r.value_type, r.value) for r in out.collect()}
    # instance node named Table/E0/<rowid> (TmcfCsvParser.java:359-374)
    assert ("Table/E0/1", "observationDate", "NUMBER", "2019") in got
    assert ("Table/E0/1", "value", "NUMBER", "100") in got
    # dcid-first: E1 ref substituted with the row's dcid (T2)
    assert ("Table/E0/1", "observationAbout", "RESOLVED_REF", "geoId/06") in got
    assert ("geoId/06", "typeOf", "RESOLVED_REF", "State") in got
    # multi-value split (P2)
    assert ("Table/E0/2", "value", "NUMBER", "200") in got
    assert ("Table/E0/2", "value", "NUMBER", "300") in got
    # empty dcid: the entity is SKIPPED for that row and the dangling
    # E: ref dropped (TmcfCsvParser.java:196-199,268-280 — verified
    # against the McfResolverTest_TmcfCsv golden; NOT a local ref)
    assert not any(n == "Table/E1/3" for (n, _, _, _) in got)
    assert not any(n == "Table/E0/3" and p == "observationAbout" for (n, p, _, _) in got)
    # constants pass through on every row
    assert ("Table/E0/3", "measurementMethod", "RESOLVED_REF", "TestMethod") in got


def test_expand_template_runs_no_python(spark):
    """The expansion is a JVM projection: its executed plan holds no
    Python evaluation node, so a genmcf call starts no Python worker."""
    csv = spark.createDataFrame(
        [("2019", "dcid:geoId/06", '100, "a,b", x\\,y', 1), ("2020", None, None, 2)],
        ["Year", "GeoId", "Count", "rid"],
    )
    for rid in ("rid", None):
        out = expand_template(csv, TMCF, row_id_col=rid, min_partitions=2)
        assert out.count() > 0
        qe = out._jdf.queryExecution()
        plan = qe.optimizedPlan().toString() + qe.executedPlan().toString()
        for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "PythonUDF"):
            assert node not in plan, (rid, node)
