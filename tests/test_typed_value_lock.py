"""One shared vector set locks the two typed-value implementations
together: the scalar spec (functions/values.py parse_typed_value) and
its Column twin (col_parse_typed_value, which the TMCF expansion runs)
are separately golden-tested but could drift — this file pins both on
the same (prop, value) vectors (McfParser.java:336-437 semantics),
including the McfParserTest-style corner shapes."""

import pytest

from pyspark.sql import functions as F

from import_spark.functions.values import col_parse_typed_value, parse_typed_value

# (prop, value) — ref props and plain props crossed with every value shape
REF_PROPS = ["location", "typeOf", "observationAbout", "containedInPlace"]
PLAIN_PROPS = ["name", "value", "description"]

VALUES = [
    '"quoted text"',
    '"dcid:geoId/06"',
    "[Years 10 20]",
    "[LatLong 37.77 -122.41]",
    "[Years 10",  # malformed complex — None / dropped
    "dcid:geoId/06",
    "dcs:Count_Person",
    "schema:Thing",
    "l:E1",
    "http://a.com/b:c",
    "123",
    "-4.5",
    "true",
    "False",
    "plain text",
    '""',
    "geoId/06",
    # Java FP literals beyond plain decimals (StringUtil.isNumber)
    "1.5f",
    "1e5d",
    "0x1p3",
]


@pytest.mark.parametrize("prop", REF_PROPS + PLAIN_PROPS)
def test_vectorized_matches_scalar_spec(spark, prop):
    rows = (
        spark.createDataFrame([(v,) for v in VALUES], "s string")
        .select("s", col_parse_typed_value(prop, F.col("s")).alias("tv"))
        .collect()
    )
    assert len(rows) == len(VALUES)
    for r in rows:
        scalar = parse_typed_value(prop, r["s"])
        got = r["tv"]
        if scalar is None:
            assert got["value_type"] is None, (prop, r["s"], got)
        else:
            assert (got["value_type"], got["value"]) == scalar, (prop, r["s"])


def test_known_corner_semantics():
    """Pin the corner rules both implementations must share (so a
    'fix' to one that changes semantics fails loudly here)."""
    # quoted value on a REF prop: quotes stripped, still a ref
    assert parse_typed_value("location", '"dcid:geoId/06"') == ("RESOLVED_REF", "geoId/06")
    # quoted value on a plain prop: TEXT with quotes stripped
    assert parse_typed_value("name", '"dcid:geoId/06"') == ("TEXT", "dcid:geoId/06")
    # unprefixed value on a ref prop: accepted as resolved ref
    assert parse_typed_value("typeOf", "City") == ("RESOLVED_REF", "City")
    # colon fallthrough (URL) on a plain prop: TEXT
    assert parse_typed_value("name", "http://a.com/b:c") == ("TEXT", "http://a.com/b:c")
    # malformed complex: None (MCF_MalformedComplexValue)
    assert parse_typed_value("value", "[Years 10") is None
    # numbers and bools
    assert parse_typed_value("value", "123") == ("NUMBER", "123")
    assert parse_typed_value("value", "true") == ("NUMBER", "true")
    assert parse_typed_value("value", "1.5f") == ("NUMBER", "1.5f")
