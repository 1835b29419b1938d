"""Operator-level golden tests: extract / link / resolve / canonicalize /
merge on hand-written fixtures (FIXTURES.md F4-F6 shapes)."""

import datetime

import pytest

from pyspark.sql import functions as F

from import_spark.operators.canonicalize import canonicalize_triples, connected_components
from import_spark.operators.extract import extract_statements
from import_spark.operators.link import link_dictionary, link_statements
from import_spark.operators.merge import dedupe_triples, drop_generic_types
from import_spark.sources.transcripts import TRANSCRIPT_SCHEMA

TS = datetime.datetime(2025, 1, 1)


def _turns(spark, rows):
    return spark.createDataFrame(
        [(c, i, "user", t, "", TS) for c, i, t in rows], schema=TRANSCRIPT_SCHEMA
    )


def _dict(spark):
    return spark.createDataFrame(
        [("isoCode", "US", "country/USA"), ("wikidataId", "Q142", "country/FRA")],
        ["prop", "ext_id", "dcid"],
    )


def _extract_link(spark, rows):
    return link_statements(extract_statements(_turns(spark, rows)), link_dictionary(_dict(spark)))


def test_extract_base_and_mentions(spark):
    rows = [("c1", 0, 'we looked at iso:US and note "hi there" and metric is 4.5')]
    out = _extract_link(spark, rows).collect()
    preds = {(r.pred, r.obj_type, r.obj) for r in out if r.kind == "TRIPLE"}
    assert ("mentions", "RESOLVED_REF", "country/USA") in preds
    assert ("says", "TEXT", "hi there") in preds
    assert ("value", "NUMBER", "4.5") in preds
    assert ("typeOf", "RESOLVED_REF", "ConversationTurn") in preds
    assert ("role", "TEXT", "user") in preds


def test_link_fallback_and_direct_dcid(spark):
    rows = [("c1", 0, "we looked at iso:ZZ"), ("c1", 1, "we looked at geoId/06")]
    out = _extract_link(spark, rows).filter(F.col("pred") == "mentions").collect()
    objs = {r.obj for r in out}
    # dictionary miss → priority-prefix fallback (DcidGenerator.java:213-229)
    assert objs == {"iso/ZZ", "geoId/06"}


def test_resolve_chain_cycle_orphan_divergence(spark):
    rows = [
        # chain: E1 → E2 → dcid (resolves in 2 rounds)
        ("c1", 0, "define l:E1 = l:E2"),
        ("c1", 1, "define l:E2 = dcid:country/BRA"),
        ("c1", 2, "see l:E1"),
        # cycle: E3 ↔ E4 (quarantined, McfResolver.java:92-110)
        ("c1", 3, "define l:E3 = l:E4"),
        ("c1", 4, "define l:E4 = l:E3"),
        ("c1", 5, "see l:E3"),
        # orphan use (McfResolver.java:262-281)
        ("c1", 6, "see l:E9"),
        # divergence (PropertyResolver.java:114-127)
        ("c2", 0, "define l:E5 = iso:US"),
        ("c2", 1, "define l:E5 = wikidataId:Q142"),
        ("c2", 2, "see l:E5"),
        # same local, same resolved target twice → fine
        ("c3", 0, "define l:E6 = iso:US"),
        ("c3", 1, "define l:E6 = iso:US"),
        ("c3", 2, "see l:E6"),
    ]
    # the distributed narrow engine builds the maps; the pipeline's one
    # rewrite applies them
    from import_spark.plans.kg_pipeline import (
        CLS_LOCAL,
        _with_cls,
        narrow_distributed_step,
        resolve_triples,
    )

    linked = _with_cls(_extract_link(spark, rows))
    maps, _, _ = narrow_distributed_step(linked.filter(F.col("_cls") >= CLS_LOCAL))
    resolved = resolve_triples(linked.filter(F.col("kind") == "TRIPLE"), maps.rmap)
    refs = {
        (r.conv_id, r.obj)
        for r in resolved.filter(F.col("pred") == "references").collect()
    }
    assert ("c1", "country/BRA") in refs
    assert ("c3", "country/USA") in refs
    errs = {(r.conv_id, r.obj, r.error) for r in maps.failed.filter(F.col("pred") == "references").collect()}
    assert ("c1", "l:E3", "Resolution_IrreplaceableLocalRef") in errs
    assert ("c1", "l:E9", "Resolution_OrphanLocalReference") in errs
    assert ("c2", "l:E5", "Resolution_DivergingDcids") in errs


def test_connected_components_and_rewrite(spark):
    # components of size 2 and a 5-node chain (FIXTURES.md F6)
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "d"), ("d", "e"), ("e", "f"), ("f", "g")],
        ["src", "dst"],
    )
    comp = {(r.node, r.canon) for r in connected_components(edges).collect()}
    assert ("b", "a") in comp
    for n in "defg":
        assert (n, "c") in comp
    triples = spark.createDataFrame(
        [
            ("b", "typeOf", "RESOLVED_REF", "City", "c1", 0),
            ("x", "mentions", "RESOLVED_REF", "g", "c1", 0),
            ("x", "says", "TEXT", "g", "c1", 0),  # TEXT obj untouched
            ("b", "sameAs", "RESOLVED_REF", "a", "c1", 0),  # self-loop after rewrite → dropped
        ],
        ["subj", "pred", "obj_type", "obj", "conv_id", "turn_idx"],
    )
    out = canonicalize_triples(triples, connected_components(edges))
    rows = {(r.subj, r.pred, r.obj) for r in out.collect()}
    assert ("a", "typeOf", "City") in rows
    assert ("x", "mentions", "c") in rows
    assert ("x", "says", "g") in rows
    assert not any(p == "sameAs" for _, p, _ in rows)


def test_dedupe_single_shuffle(spark):
    triples = spark.createDataFrame(
        [("s", "p", "RESOLVED_REF", "o", "c1", i) for i in range(5)]
        + [("s", "p2", "TEXT", "o", "c1", 0), ("s2", "p", "TEXT", "o", "c1", 0)],
        ["subj", "pred", "obj_type", "obj", "conv_id", "turn_idx"],
    )
    out = dedupe_triples(triples)
    assert out.count() == 3
    # exactly one exchange in the plan (repartition feeds the window sort)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_drop_generic_types(spark):
    triples = spark.createDataFrame(
        [
            ("n1", "typeOf", "RESOLVED_REF", "Place", "c", 0),
            ("n1", "typeOf", "RESOLVED_REF", "City", "c", 0),
            ("n2", "typeOf", "RESOLVED_REF", "Place", "c", 0),
        ],
        ["subj", "pred", "obj_type", "obj", "conv_id", "turn_idx"],
    )
    rows = {(r.subj, r.obj) for r in drop_generic_types(triples).collect()}
    # Place dropped only when a more specific type exists (PipelineUtils.java:390-405)
    assert rows == {("n1", "City"), ("n2", "Place")}


def test_malformed_complex_is_error_row(spark):
    rows = [("c1", 0, "range [Years 10"), ("c1", 1, "range [LatLong 99 99 99 99]")]
    out = extract_statements(_turns(spark, rows))
    errs = out.filter(F.col("kind") == "ERROR").collect()
    assert all(e.pred == "MCF_MalformedComplexValue" for e in errs)
    assert len(errs) == 2


# complex-value and observe anchors, well-formed and malformed: an
# unterminated value, NaN / 1_0 / Arabic-Indic coordinates (float()
# took the last two and raised on NaN), hex and suffixed coordinates
# (Double.parseDouble takes them), bad dates and non-double values
_COMPLEX_OBSERVE_TURNS = [
    "range [Years 10",
    "at coords [LatLong NaNS 10] and range [Years 10 20]",
    "at coords [LatLong 10 nanE] at coords [LatLong 1_0 10] at coords [LatLong ١٠ 10]",
    "at coords [LatLong 0x1p3N 1.5fW] then range [Years - -], range [dcs:Years - 5]",
    "range [Years 10 at coords [LatLong 1 2] and range [10 Years]",
    "observe geoId/06 Count_Person 2020-13 = 7",
    "observe geoId/06 Count_Person 2020 = 7x unit USD and observe a b 2020-1-2 = 1,234% unit P",
    "observe geoId/07 Count_Person 2021 = 5 then observe geoId/07 Count_Person 2021 = 5",
]


def _spec_error_rows(texts):
    """ERROR rows of the complex/observe anchors by the Python spec
    (``re``, parse_complex_value, is_number, is_valid_date)."""
    import re

    from import_spark.functions.complex_values import parse_complex_value
    from import_spark.functions.values import clean_numeric_string, is_number, is_valid_date
    from import_spark.functions.xxhash import hex_id

    out = []
    for i, text in enumerate(texts):
        turn = "dc/t/" + hex_id(f"conv_id=c1turn_idx={i}")
        for v in re.findall(r"(?:range|at coords) (\[[^\]]*\])", text):
            if parse_complex_value(v) is None:
                out.append((turn, "MCF_MalformedComplexValue", v))
        if re.search(r"(?:range|at coords) \[[^\]]*$", text):
            out.append((turn, "MCF_MalformedComplexValue", text))
        for _, _, date, val, _ in re.findall(
            r"observe (\S+) (\S+) (\S+) = (\S+)(?: unit (\S+))?", text
        ):
            val = clean_numeric_string(val)
            if not is_number(val):
                out.append((turn, "Sanity_NonDoubleObsValue", f"{date}={val}"))
            elif not is_valid_date(date):
                out.append((turn, "Sanity_InvalidObsDate", f"{date}={val}"))
    return sorted(out)


@pytest.mark.parametrize("narrow_only", [False, True])
def test_complex_observe_rows_match_oracle(spark, narrow_only):
    """Both extract modes emit the spec's ERROR rows for malformed
    complex values and observations (one per bad match, none for good
    ones); the full mode's statements equal the oracle's triples, and
    the narrow mode emits nothing else for these turns."""
    import pandas as pd

    from import_spark.oracle import expected_triples
    from import_spark.sources.transcripts import build_dcid_dictionary

    rows = [("c1", i, t) for i, t in enumerate(_COMPLEX_OBSERVE_TURNS)]
    out = extract_statements(_turns(spark, rows), narrow_only=narrow_only).collect()
    errs = sorted((r.subj, r.pred, r.obj) for r in out if r.kind == "ERROR")
    assert errs == _spec_error_rows(_COMPLEX_OBSERVE_TURNS)
    stmts = {(r.subj, r.pred, r.obj_type, r.obj) for r in out if r.kind != "ERROR"}
    if narrow_only:
        assert stmts == set()
    else:
        tr = pd.DataFrame(
            [(c, i, "user", t, "", TS) for c, i, t in rows],
            columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
        )
        want, _ = expected_triples(tr, build_dcid_dictionary())
        assert stmts == want
        assert {p for _, p, _, _ in want} >= {"quantity", "location", "observes", "unit"}


def test_format_dispatch(spark, tmp_path):
    """S6: path-based resolution (PipelineUtils.java:174-193) + read."""
    from import_spark.sources.dispatch import resolve_format, read_graph

    assert resolve_format("/data/graph.tfrecord.gz") == "tfrecord"
    assert resolve_format("/data/nodes.jsonld") == "jsonld"
    assert resolve_format("/data/graph.mcf") == "mcf"
    assert resolve_format("/data/whatever.txt") == "mcf"  # MCF default
    assert resolve_format("/data/t.parquet") == "parquet"
    p = tmp_path / "g.mcf"
    p.write_text('Node: n1\ntypeOf: dcs:City\nname: "SF"\n')
    df = read_graph(spark, str(p))
    assert df.count() > 0


def test_entity_provenance_source_triples(spark):
    """T6 parity with simple/stats/data.py:181-258."""
    from import_spark.operators.statvar import (
        entity_triples,
        provenance_triples,
        source_triples,
    )

    ents = spark.createDataFrame(
        [("country/USA", "Country")], ["entity_dcid", "entity_type"]
    )
    got = {(r.subject_id, r.predicate, r.object_id) for r in entity_triples(ents).collect()}
    assert got == {("country/USA", "typeOf", "Country")}

    provs = spark.createDataFrame(
        [
            ("p/1", "src/1", "Census", "http://x.org", {"year": "2020", "ref": "dcid:abc"}),
            ("p/2", "src/2", "NoUrl", "", None),
        ],
        ["id", "source_id", "name", "url", "properties"],
    )
    rows = provenance_triples(provs).collect()
    by_subj = {}
    for r in rows:
        by_subj.setdefault(r.subject_id, {})[r.predicate] = (r.object_id, r.object_value)
    assert by_subj["p/1"]["typeOf"] == ("Provenance", None)
    assert by_subj["p/1"]["source"] == ("src/1", None)
    assert by_subj["p/1"]["url"] == (None, "http://x.org")
    assert by_subj["p/1"]["year"] == (None, "2020")  # not a uri/namespace
    assert by_subj["p/1"]["ref"] == ("dcid:abc", None)  # uri/namespace -> id
    assert "url" not in by_subj["p/2"]  # empty url omitted

    srcs = spark.createDataFrame(
        [("s/1", "ACS", "https://www.census.gov/acs")], ["id", "name", "url"]
    )
    srows = {r.predicate: (r.object_id, r.object_value) for r in source_triples(srcs).collect()}
    assert srows["domain"] == (None, "www.census.gov")  # urlparse().netloc parity
    assert srows["typeOf"] == ("Source", None)


def test_resolve_coordinates(spark):
    """J3: lat/lng nodes vs a broadcast coordinate dictionary."""
    from import_spark.operators.link import resolve_coordinates

    nodes = spark.createDataFrame(
        [
            ("n1", "latitude", "37.3"),
            ("n1", "longitude", "-122.3"),
            ("n2", "latitude", "10.0"),
            ("n2", "longitude", "20.0"),
            ("n3", "latitude", "abc"),  # unparseable -> dropped
            ("n3", "longitude", "1.0"),
            ("n4", "name", "no coords"),
        ],
        ["node_id", "prop", "value"],
    )
    cd = spark.createDataFrame([(37.3, -122.3, "geoId/0667000")], ["lat", "lng", "dcid"])
    got = {r.node_id: r.place_dcid for r in resolve_coordinates(nodes, cd).collect()}
    assert got == {"n1": "geoId/0667000", "n2": "latLong/1000000_2000000"}
    strict = {
        r.node_id: r.place_dcid
        for r in resolve_coordinates(nodes, cd, fallback_latlong=False).collect()
    }
    assert strict == {"n1": "geoId/0667000"}


def test_compress_literals_roundtrip(spark):
    """P16: gzip bytes for geoJson-class predicates, roundtrip-exact."""
    import gzip

    from import_spark.functions.values import (
        compress_literals_udf,
        decompress_literals_udf,
        store_value_as_bytes,
    )

    df = spark.createDataFrame(
        [("geoJsonCoordinates", '{"type":"Polygon"}' * 50), ("name", "plain")],
        ["pred", "value"],
    )
    enc = df.withColumn(
        "bytes",
        F.when(store_value_as_bytes(F.col("pred")), compress_literals_udf()(F.col("value"))),
    )
    rows = {r.pred: r for r in enc.collect()}
    assert rows["name"]["bytes"] is None
    blob = bytes(rows["geoJsonCoordinates"]["bytes"])
    assert blob[:2] == b"\x1f\x8b" and gzip.decompress(blob).decode() == '{"type":"Polygon"}' * 50
    dec = enc.withColumn("back", decompress_literals_udf()(F.col("bytes")))
    r = dec.filter(F.col("pred") == "geoJsonCoordinates").first()
    assert r.back == r.value


def test_import_wide_observations(spark):
    """P11/P10: ignore + mappings + melt + NA filter
    (observations_importer.py:68-139, data.py:621-626)."""
    from import_spark.operators.observations import import_wide_observations

    wide = spark.createDataFrame(
        [
            ("usa", "2020", "1", "n/a", "x"),
            ("fra", "2021", None, "2.5", "y"),
            ("deu", "2022", "<NA>", "", "z"),
        ],
        ["place", "year", "Total Count", "Mean Income", "junk"],
    )
    out = import_wide_observations(wide, ignore_columns=["junk"]).collect()
    got = {(r.entity, r.variable, r.date, r.value) for r in out}
    # NA tokens / null / empty dropped; names sanitized to sv ids
    assert got == {
        ("usa", "custom/statvar_total_count", "2020", "1"),
        ("fra", "custom/statvar_mean_income", "2021", "2.5"),
    }
    # explicit mappings override the positional defaults
    out2 = import_wide_observations(
        wide,
        ignore_columns=["junk", "Mean Income"],
        column_mappings={
            "dcid:observationAbout": "place",
            "dcid:observationDate": "year",
        },
    ).collect()
    assert {r.variable for r in out2} == {"custom/statvar_total_count"}


def test_resolve_defs_vectorized_parity():
    """Vectorized def resolution == the pure-Python spec walk on random
    graphs with chains, cycles, self-loops, divergence, and orphans."""
    import random

    import pandas as pd

    from import_spark.operators.resolve import (
        _resolve_defs_driver,
        _resolve_defs_vectorized,
    )

    rng = random.Random(7)
    rows = []
    for conv in range(40):
        c = f"c{conv}"
        n = rng.randint(1, 25)
        for i in range(n):
            kind = rng.random()
            if kind < 0.35:
                rows.append((c, f"l{i}", "RESOLVED_REF", f"dcid/{conv}_{i}"))
            elif kind < 0.85:
                rows.append((c, f"l{i}", "UNRESOLVED_REF", f"l{rng.randrange(n + 3)}"))
            else:  # divergent: two distinct targets
                rows.append((c, f"l{i}", "RESOLVED_REF", f"dcid/a{i}"))
                rows.append((c, f"l{i}", "RESOLVED_REF", f"dcid/b{i}"))
        # explicit self-loop + 2-cycle
        rows.append((c, "self", "UNRESOLVED_REF", "self"))
        rows.append((c, "x", "UNRESOLVED_REF", "y"))
        rows.append((c, "y", "UNRESOLVED_REF", "x"))
    pdf = pd.DataFrame(rows, columns=["conv_id", "subj", "obj_type", "obj"])
    res, div, unres = _resolve_defs_driver(pdf.itertuples(index=False, name=None))
    vres, vdiv, vunres = _resolve_defs_vectorized(pdf)
    assert set(map(tuple, vres.values)) == set(res)
    assert set(map(tuple, vdiv.values)) == set(div)
    assert set(map(tuple, vunres.values)) == set(unres)


def test_connected_components_star_path_graph(spark):
    """Large-star/small-star CC (Kiveris et al. SoCC'14) on an
    adversarially deep alias graph: a 1,000-node path whose ids are a
    seeded shuffle, so no id order helps (min-label propagation needs
    hundreds of rounds here). Same mapping as the driver union-find,
    one row per node."""
    import random

    import pandas as pd

    from import_spark.operators.canonicalize import union_find_components

    ids = [f"n{i:04d}" for i in range(1000)]
    random.Random(7).shuffle(ids)
    pairs = list(zip(ids, ids[1:]))
    edges = spark.createDataFrame(pairs, "src string, dst string")
    got = sorted((r.node, r.canon) for r in connected_components(edges).collect())
    want = union_find_components(pd.DataFrame(pairs, columns=["src", "dst"]))
    assert got == sorted(want.itertuples(index=False, name=None))
    assert len(got) == 999 and {c for _, c in got} == {"n0000"}


def test_connected_components_round_cap_raises(spark, monkeypatch):
    """A loop that reaches MAX_CC_ROUNDS without converging raises
    instead of returning a partial canon map."""
    import import_spark.operators.canonicalize as cz

    monkeypatch.setattr(cz, "MAX_CC_ROUNDS", 1)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        connected_components(edges)


def test_connected_components_star_matches_default(spark):
    """The mixed-graph contract (multiple components, cycles,
    self-loops, duplicate edges): canon = component minimum, one row
    per non-canon node."""
    edges = spark.createDataFrame(
        [
            ("b", "a"), ("c", "b"), ("a", "c"),      # 3-cycle
            ("x", "y"), ("y", "z"),                  # chain
            ("q", "q"),                              # self-loop only -> no rewrite
            ("m", "n"), ("n", "m"), ("m", "n"),      # duplicates
        ],
        ["src", "dst"],
    )
    got = sorted((r.node, r.canon) for r in connected_components(edges).collect())
    assert got == [("b", "a"), ("c", "a"), ("n", "m"), ("y", "x"), ("z", "x")]
