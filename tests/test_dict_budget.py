"""Over-budget dictionary regime (the 100x-scale risk in link.py's
driver-dict builders): each builder must RAISE instead of collecting
when the dictionary exceeds the driver byte budget, and every caller
must degrade to the DataFrame join path with identical output.

Reference precedent for bounding this exact state: the in-memory
resolution maps are capacity-bounded (ExistenceChecker.java:28-30
100k pending cap; ReconClient.java:31 500-id batches).
"""

import textwrap

import pytest
from pyspark.sql import functions as F

from import_spark.operators.link import (
    DictionaryOverBudget,
    dcid_map_from_df,
    dictionary_map,
    local_graph_dictionary,
    local_graph_dictionary_df,
    local_graph_seed,
    prepare_dictionary,
)
from import_spark.plans.genmcf import run_genmcf

NODE_SCHEMA = "node_id string, prop string, value_type string, value string, src_file string"

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


def _nodes(spark, rows):
    return spark.createDataFrame(
        [(r + ("",))[:5] if len(r) < 5 else r for r in rows], NODE_SCHEMA
    )


def _dict_df(spark, entries):
    return spark.createDataFrame(entries, "prop string, ext_id string, dcid string")


def test_builders_raise_instead_of_collecting_over_budget(spark):
    """budget=1 byte: every driver-dict builder raises (the gate sits
    BEFORE the collect; no dict object is ever materialized)."""
    nodes = _nodes(
        spark,
        [
            ("D1", "typeOf", "RESOLVED_REF", "Country"),
            ("D1", "dcid", "TEXT", "country/USA"),
            ("D1", "isoCode", "TEXT", "US"),
        ],
    )
    recon = _dict_df(spark, [("isoCode", "US", "country/USA")])
    with pytest.raises(DictionaryOverBudget):
        local_graph_dictionary(nodes, budget_bytes=1)
    with pytest.raises(DictionaryOverBudget):
        dcid_map_from_df(recon, budget_bytes=1)
    # within budget: same entries as ever
    assert local_graph_dictionary(nodes) == {("isoCode", "US"): "country/USA"}
    assert dcid_map_from_df(recon) == {("isoCode", "US"): "country/USA"}


def _genmcf_stmt_set(spark, **kw):
    csv = spark.createDataFrame(
        [("2019", "100", "US", 1), ("2020", "200", "FR", 2), ("2021", "300", "ZZ", 3)],
        ["Year", "Count", "Iso", "rid"],
    )
    res = run_genmcf(spark, TMCF, csv, row_id_col="rid", **kw)
    return (
        {(r.node_id, r.prop, r.value_type, r.value) for r in res.nodes.collect()},
        {(r.node_id, r.prop, r.value) for r in res.failed.collect()},
    )


def test_genmcf_over_budget_dictionary_matches_driver_path(spark, monkeypatch):
    """Force the resolver's driver gate over budget: genmcf must take
    the distributed resolver, whose dictionary join merges the same
    sources, and emit EXACTLY the statements of the driver path —
    including the local-graph > explicit-dict > recon precedence and
    the prefix-fallback for recon misses."""
    recon = _dict_df(
        spark,
        [
            ("isoCode", "US", "country/USA"),
            ("isoCode", "FR", "recon/WRONG_FR"),  # overridden by dcid_dict
            ("isoCode", "DE", "country/DEU"),
        ],
    )
    explicit = {("isoCode", "FR"): "country/FRA"}
    want, want_failed = _genmcf_stmt_set(
        spark, recon_table=recon, dcid_dict=explicit
    )
    import import_spark.functions.size_gate as sg

    monkeypatch.setattr(sg, "DRIVER_COLLECT_BUDGET_BYTES", 1)
    got, got_failed = _genmcf_stmt_set(spark, recon_table=recon, dcid_dict=explicit)
    assert got == want
    assert got_failed == want_failed
    # sanity on content, not just parity
    assert ("T/E1/1", "dcid", "TEXT", "country/USA") in got
    assert ("T/E1/2", "dcid", "TEXT", "country/FRA") in got  # explicit wins
    assert ("T/E1/3", "dcid", "TEXT", "iso/ZZ") in got  # prefix fallback


def test_dict_df_skips_falsy_dcids_like_the_closure_walk(spark, monkeypatch):
    """_place_dcid skips empty/null dict hits (`if hit:`) and keeps
    walking lower-priority props; the join path must do the same — an
    empty dcid on the higher-priority external id must NOT shadow a
    real lower-priority hit, and must not emit an empty dcid."""
    nodes = _nodes(
        spark,
        [
            ("P1", "typeOf", "RESOLVED_REF", "City"),
            ("P1", "isoCode", "TEXT", "US"),       # higher priority, dirty ('')
            ("P1", "wikidataId", "TEXT", "Q30"),   # lower priority, real
            ("P2", "typeOf", "RESOLVED_REF", "City"),
            ("P2", "isoCode", "TEXT", "FR"),       # dirty (''), no other id
        ],
    )
    dirty = {
        ("isoCode", "US"): "",
        ("wikidataId", "Q30"): "country/USA",
        ("isoCode", "FR"): "",
    }
    from import_spark.operators.mcf_resolver import resolve_graph

    want = {
        (r.node_id, r.prop, r.value)
        for r in resolve_graph(nodes, dcid_dict=dirty).resolved.collect()
    }
    dict_df = _dict_df(spark, [(p, e, d) for (p, e), d in dirty.items()])
    got = {
        (r.node_id, r.prop, r.value)
        for r in resolve_graph(nodes, dict_df=dict_df, force_distributed=True).resolved.collect()
    }
    assert got == want
    assert ("P1", "dcid", "country/USA") in got       # lower-priority real hit
    assert ("P2", "dcid", "iso/FR") in got            # prefix fallback
    assert not any(v == "" for n, p, v in got if p == "dcid")


def test_dictionary_map_first_wins_on_min_dcid(spark):
    """The driver-side dedupe keeps prepare_dictionary's rule: the
    minimum non-null dcid per (prop, ext_id); None only when every
    candidate is null."""
    entries = [
        ("isoCode", "US", "country/b"),
        ("isoCode", "US", None),
        ("isoCode", "US", "country/a"),
        ("isoCode", "XX", None),
        ("nutsCode", "US", "nuts/US"),
    ]
    want = {
        (r["prop"], r["ext_id"]): r["dcid"]
        for r in prepare_dictionary(_dict_df(spark, entries)).collect()
    }
    got = dictionary_map(_dict_df(spark, entries).toPandas())
    assert got == want == {
        ("isoCode", "US"): "country/a",
        ("isoCode", "XX"): None,
        ("nutsCode", "US"): "nuts/US",
    }
    assert dcid_map_from_df(_dict_df(spark, entries)) == want


def test_local_graph_seed_matches_dictionary_df(spark):
    """The resolver's driver seed (read off collected rows) follows
    local_graph_dictionary_df's rule: min dcid per node, then min dcid
    per (prop, ext_id); a node without a dcid seeds nothing, and one
    whose dcid cell is null seeds None."""
    nodes = _nodes(
        spark,
        [
            ("A", "dcid", "TEXT", "geo/b"),  # two dcids: min wins
            ("A", "dcid", "TEXT", "geo/a"),
            ("A", "isoCode", "TEXT", "AA"),
            ("B1", "dcid", "TEXT", "geo/z"),  # shared isoCode, other dcids
            ("B1", "isoCode", "TEXT", "BB"),
            ("B2", "dcid", "TEXT", "geo/y"),
            ("B2", "isoCode", "TEXT", "BB"),
            ("B2", "wikidataId", "TEXT", "Q2"),
            ("C", "typeOf", "RESOLVED_REF", "City"),  # ext id, no dcid
            ("C", "isoCode", "TEXT", "CC"),
            ("N", "dcid", "TEXT", None),  # null dcid cell: seeds None
            ("N", "isoCode", "TEXT", "NN"),
        ],
    )
    want = {(r.prop, r.ext_id): r.dcid for r in local_graph_dictionary_df(nodes).collect()}
    assert local_graph_seed(nodes.toPandas()) == want == {
        ("isoCode", "AA"): "geo/a",
        ("isoCode", "BB"): "geo/y",
        ("wikidataId", "Q2"): "geo/y",
        ("isoCode", "NN"): None,
    }


@pytest.mark.parametrize("dist", [False, True])
def test_resolver_dictionary_precedence(spark, dist):
    """One key in all three sources resolves to the local seed; a key
    in dcid_dict and dict_df to dcid_dict; a dict_df-only key to
    dict_df. Driver and distributed paths agree."""
    nodes = _nodes(
        spark,
        [
            ("Def1", "typeOf", "RESOLVED_REF", "Country"),
            ("Def1", "dcid", "TEXT", "local/XY"),
            ("Def1", "isoCode", "TEXT", "XY"),
            ("P1", "typeOf", "RESOLVED_REF", "City"),
            ("P1", "isoCode", "TEXT", "XY"),
            ("P2", "typeOf", "RESOLVED_REF", "City"),
            ("P2", "isoCode", "TEXT", "YZ"),
            ("P3", "typeOf", "RESOLVED_REF", "City"),
            ("P3", "isoCode", "TEXT", "ZZ"),
        ],
    )
    explicit = {("isoCode", "XY"): "dict/XY", ("isoCode", "YZ"): "dict/YZ"}
    recon = _dict_df(
        spark,
        [
            ("isoCode", "XY", "recon/XY"),
            ("isoCode", "YZ", "recon/YZ"),
            ("isoCode", "ZZ", "recon/ZZ"),
        ],
    )
    from import_spark.operators.mcf_resolver import resolve_graph

    res = resolve_graph(nodes, dcid_dict=explicit, dict_df=recon, force_distributed=dist)
    got = {r.node_id: r.value for r in res.resolved.filter(F.col("prop") == "dcid").collect()}
    assert got == {"Def1": "local/XY", "P1": "local/XY", "P2": "dict/YZ", "P3": "recon/ZZ"}
