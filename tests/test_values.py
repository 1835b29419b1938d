"""Typed-value / complex-value / date semantics vs reference rules.

Cases mirror the expectations encoded in the reference's unit tests
(McfParserTest, ComplexValueParserTest, StringUtilTest — re-derived
from the implementation semantics, not copied)."""

from import_spark.functions.complex_values import parse_complex_value
from import_spark.functions.values import (
    clean_numeric_string,
    is_bool,
    is_number,
    is_valid_date,
    is_valid_dcid,
    parse_typed_value,
    split_and_strip,
    strip_enclosing_quote_pair,
    strip_namespace,
)


def test_parse_typed_value_text_number_refs():
    # quoted → TEXT with quotes stripped (McfParser.java:362-374)
    assert parse_typed_value("name", '"hello"') == ("TEXT", "hello")
    # global refs → RESOLVED_REF with namespace strip (:389-396)
    assert parse_typed_value("someProp", "dcid:country/USA") == ("RESOLVED_REF", "country/USA")
    assert parse_typed_value("someProp", "dcs:Count_Person") == ("RESOLVED_REF", "Count_Person")
    assert parse_typed_value("someProp", "schema:Thing") == ("RESOLVED_REF", "Thing")
    # local ref → UNRESOLVED_REF (:397-407)
    assert parse_typed_value("someProp", "l:E1") == ("UNRESOLVED_REF", "l:E1")
    # number/bool → NUMBER (:422-427)
    assert parse_typed_value("x", "42") == ("NUMBER", "42")
    assert parse_typed_value("x", "-3.14") == ("NUMBER", "-3.14")
    assert parse_typed_value("x", "true") == ("NUMBER", "true")
    # unquoted ":" that isn't a ref → falls through to TEXT (:387-408)
    assert parse_typed_value("url", "http://x.co") == ("TEXT", "http://x.co")
    # reference property without prefix → RESOLVED_REF (:410-421)
    assert parse_typed_value("typeOf", "City") == ("RESOLVED_REF", "City")
    # complex value passthrough (:376-385)
    assert parse_typed_value("x", "[Years 10 20]") == ("COMPLEX_VALUE", "[Years 10 20]")
    assert parse_typed_value("x", "[Years 10") is None  # malformed
    # plain word → TEXT (:429-436)
    assert parse_typed_value("x", "hello") == ("TEXT", "hello")


def test_number_bool_predicates():
    assert is_number("0") and is_number("-5") and is_number("3.5e2") and is_number(".5")
    assert not is_number("") and not is_number("12x") and not is_number("1 2")
    assert is_bool("True") and is_bool("0") and not is_bool("yes")


def test_strip_helpers():
    assert strip_enclosing_quote_pair('"ab"') == "ab"
    assert strip_enclosing_quote_pair('"ab') == '"ab'
    assert strip_namespace("dcid:geoId/06") == "geoId/06"
    assert strip_namespace("plain") == "plain"
    assert clean_numeric_string("1, 234%") == "1234"


def test_split_and_strip_quote_escape():
    # split outside quotes (StringUtil.java:65-91,182-218)
    assert split_and_strip('a, "b, c", d') == ["a", "b, c", "d"]
    assert split_and_strip("a,,b") == ["a", "b"]
    assert split_and_strip("a,,b", include_empty=True) == ["a", "", "b"]
    assert split_and_strip('bad "quote') is None
    assert split_and_strip("has\nnewline") is None


def test_date_validation():
    # StringUtil.java:42-59: pattern list incl. 5/7-digit extras
    for ok in ["2019", "2019-03", "2019-3", "2019-03-05", "20190305", "201903",
               "2019-03-05T10:11", "2019-03-05T10:11:12", "20071", "2007101"]:
        assert is_valid_date(ok), ok
    for bad in ["2019-13", "19", "2019-00-01", "abcd", "2019/03/05"]:
        assert not is_valid_date(bad), bad


def test_dcid_sanity():
    # McfChecker.java:33-49,579-603
    assert is_valid_dcid("geoId/06")
    assert is_valid_dcid("dc/o/abc123")
    assert not is_valid_dcid("x" * 257)
    assert not is_valid_dcid("bad\ttab")
    assert is_valid_dcid("bio/ABC#1")  # bio exception charset


def test_complex_quantity():
    cv = parse_complex_value("[Years 10]")
    assert cv.dcid == "Years10" and cv.type_of == "Quantity" and cv.name == "Years 10"
    cv = parse_complex_value("[10 Years]")  # unit-last form
    assert cv.dcid == "Years10"


def test_complex_range():
    cv = parse_complex_value("[Years 10 20]")
    assert cv.dcid == "Years10To20" and cv.type_of == "QuantityRange"
    assert cv.name == "Years 10 To 20"
    assert parse_complex_value("[Years - 20]").dcid == "YearsUpto20"
    assert parse_complex_value("[Years 10 -]").dcid == "Years10Onwards"
    assert parse_complex_value("[Years - -]") is None
    assert parse_complex_value("[Years 10 20 30]") is None


def test_complex_latlong():
    # E5 rounding (ComplexValueParser.java:287-344)
    cv = parse_complex_value("[LatLong 37.3 -122.3]")
    assert cv.dcid == "latLong/3730000_-12230000"
    assert cv.type_of == "GeoCoordinates"
    assert cv.name == "37.30000,-122.30000"
    # N/S/E/W suffixes
    cv = parse_complex_value("[LatLong 37.3N 122.3W]")
    assert cv.dcid == "latLong/3730000_-12230000"
    # out of range
    assert parse_complex_value("[LatLong 91 0]") is None


def test_complex_latlong_coordinates_parse_like_java():
    """A coordinate is accepted only in is_number's grammar (the language
    of Double.parseDouble) and finite. ``float()`` alone raised on NaN at
    the E5 rounding and took ``1_0`` and Arabic-Indic digits."""
    for bad in (
        "[LatLong NaNS 10]",
        "[LatLong 10 nanE]",
        "[LatLong NaN 10]",
        "[LatLong 10 -Infinity]",
        "[LatLong 1e400 10]",
        "[LatLong 1_0 10]",
        "[LatLong ١٠ 10]",
    ):
        assert parse_complex_value(bad) is None, bad
    # hex floats and type suffixes parse as Java parses them
    cv = parse_complex_value("[LatLong 0x1p3N 1.5fW]")
    assert (cv.dcid, cv.name) == ("latLong/800000_-150000", "8.00000,-1.50000")
