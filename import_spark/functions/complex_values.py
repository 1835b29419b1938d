"""Complex-value parsing: Quantity / QuantityRange / GeoCoordinates.

Re-expresses ComplexValueParser.java:23-344 (reference): bracketed
values ``[<unit> <val>]``, ``[<unit> <start> <end>]`` (either end may
be ``-`` for open ranges), and ``[LatLong <lat> <lng>]`` (unit may come
first or last; lat/lng accept N/S/E/W suffixes; E5 rounding for the
dcid, ComplexValueParser.java:287-344).

``parse_complex_value`` is the spec, pure deterministic Python: the
oracle, the MCF checker and mutator call it. ``col_complex_value`` is its
Column twin, which the kg extract evaluates on the JVM
(tests/test_properties.py holds the two to equal results).
"""

from __future__ import annotations

import functools
import math
from dataclasses import dataclass, field

from import_spark.functions.values import is_number, parse_double, split_and_strip

LAT_AND_LONG = "LatLong"
GEO_DCID_PREFIX = "latLong"


@dataclass
class ComplexValue:
    dcid: str
    name: str
    type_of: str  # Quantity | QuantityRange | GeoCoordinates
    # child-node property/values (long form), e.g. value/startValue/endValue/
    # unit/latitude/longitude — each (prop, value_type, value)
    pvs: list[tuple[str, str, str]] = field(default_factory=list)


def _coordinate(s: str) -> float | None:
    """A latitude or longitude after its hemisphere suffix is handled:
    a finite number in :func:`is_number`'s grammar (the language of
    ComplexValueParser's ``Double.parseDouble``), else None."""
    if not is_number(s):
        return None
    v = parse_double(s)
    return v if math.isfinite(v) else None


def _parse_latlng(lat_str: str, lng_str: str) -> tuple[str, str] | None:
    ls = lat_str
    if ls.upper().endswith("N"):
        ls = ls[:-1]
    elif ls.upper().endswith("S"):
        ls = "-" + ls[:-1]
    lat = _coordinate(ls)
    if lat is None or lat < -90.0 or lat > 90.0:
        return None
    gs = lng_str
    if gs.upper().endswith("E"):
        gs = gs[:-1]
    elif gs.upper().endswith("W"):
        gs = "-" + gs[:-1]
    lng = _coordinate(gs)
    if lng is None or lng < -180.0 or lng > 180.0:
        return None
    # E5 resolution, round-half-away-from-zero like Java Math.round on the
    # scaled value (Math.round rounds half-up toward +inf).
    lat_e5 = math.floor(1e5 * lat + 0.5)
    lng_e5 = math.floor(1e5 * lng + 0.5)
    dcid = f"{GEO_DCID_PREFIX}/{lat_e5}_{lng_e5}"
    name = f"{lat_e5 / 1e5:.5f},{lng_e5 / 1e5:.5f}"
    return dcid, name


def parse_complex_value(value: str) -> ComplexValue | None:
    """Parse a bracketed complex value; None on any malformation."""
    if not (value.startswith("[") and value.endswith("]")):
        return None
    fields_ = split_and_strip(value[1:-1], delimiter=" ", strip_enclosing_quotes=False)
    if fields_ is None or len(fields_) not in (2, 3):
        return None

    is_range = len(fields_) == 3
    first = fields_[0]
    # Unit position: number-or-dash first means unit is last.
    if first and (first[0] == "-" or first[0].isdigit()):
        unit = fields_[-1]
        vals = fields_[:-1]
    else:
        unit = fields_[0]
        vals = fields_[1:]
    # Strip any namespace prefix from the unit (ComplexValueParser.java:142-147:
    # everything up to and including the first ':' is cut, so '[dcs:Years 10]'
    # behaves exactly like '[Years 10]').
    if ":" in unit:
        unit = unit.split(":", 1)[1]

    if not is_range:
        v = vals[0]
        if not is_number(v):
            return None
        return ComplexValue(
            dcid=f"{unit}{v}",
            name=f"{unit} {v}",
            type_of="Quantity",
            pvs=[("value", "NUMBER", v), ("unitOfMeasure", "RESOLVED_REF", unit)],
        )

    start, end = vals[0], vals[1]
    if unit.lower() == LAT_AND_LONG.lower():
        r = _parse_latlng(start, end)
        if r is None:
            return None
        dcid, name = r
        return ComplexValue(
            dcid=dcid,
            name=name,
            type_of="GeoCoordinates",
            pvs=[("latitude", "TEXT", start), ("longitude", "TEXT", end)],
        )

    if not (is_number(start) or start == "-"):
        return None
    if not (is_number(end) or end == "-"):
        return None
    if start == "-" and end == "-":
        return None
    if start == "-":
        dcid, name = f"{unit}Upto{end}", f"{unit} UpTo {end}"
    elif end == "-":
        dcid, name = f"{unit}{start}Onwards", f"{unit} {start} Onwards"
    else:
        dcid, name = f"{unit}{start}To{end}", f"{unit} {start} To {end}"
    return ComplexValue(
        dcid=dcid,
        name=name,
        type_of="QuantityRange",
        pvs=[
            ("startValue", "TEXT" if start == "-" else "NUMBER", start),
            ("endValue", "TEXT" if end == "-" else "NUMBER", end),
            ("unit", "RESOLVED_REF", unit),
        ],
    )


# The characters whose str.upper() ends with each hemisphere letter: what
# ``s.upper().endswith(X)`` tests of a string's last character
# (tests/test_properties.py checks them against every code point).
HEMISPHERE_SUFFIXES = {"N": "Nn\u0149", "S": "Ss\u00df\u017f", "E": "Ee", "W": "Ww"}


@functools.cache
def _isdigit_class() -> str:
    """Java regex class body of the code points where ``str.isdigit()``
    holds (Unicode digits beyond ASCII included), as ranges."""
    ranges: list[list[int]] = []
    for cp in range(0x110000):
        if chr(cp).isdigit():
            if ranges and ranges[-1][1] == cp - 1:
                ranges[-1][1] = cp
            else:
                ranges.append([cp, cp])
    return "".join(f"\\x{{{a:x}}}-\\x{{{b:x}}}" for a, b in ranges)


def _let(value, body):
    """``body(v)`` with ``v`` bound to ``value`` once, as a lambda
    variable: a Column tree copies a subexpression at every use, and
    the reuse below would grow it past what the analyzer handles fast."""
    from pyspark.sql import functions as F

    return F.get(F.transform(F.array(value), body), 0)


def col_complex_value(c):
    """Column twin of :func:`parse_complex_value`: ``struct(dcid, name,
    type_of, pvs)`` with ``pvs`` an ``array<struct(prop, value_type,
    value)>``, or null where the spec returns None."""
    from pyspark.sql import functions as F

    from import_spark.functions.values import col_is_number, col_split_and_strip

    def fields(fs):
        n = F.size(fs)
        # a number-or-dash first field means the unit is last
        unit_last = F.get(fs, 0).rlike("\\A[-" + _isdigit_class() + "]")
        return F.struct(
            n.alias("n"),
            F.regexp_replace(F.when(unit_last, F.get(fs, n - 1)).otherwise(F.get(fs, 0)), "^[^:]*:", "").alias("unit"),
            F.when(unit_last, F.get(fs, 0)).otherwise(F.get(fs, 1)).alias("start"),
            F.when(unit_last, F.get(fs, 1)).otherwise(F.get(fs, 2)).alias("end"),
        )

    def coordinate(v, pos, neg):
        """A coordinate as a double (null outside is_number's grammar)."""
        last = F.substring(v, -1, 1)
        body = v.substr(F.lit(1), F.length(v) - 1)
        s = (
            F.when(last.isin(*HEMISPHERE_SUFFIXES[pos]), body)
            .when(last.isin(*HEMISPHERE_SUFFIXES[neg]), F.concat(F.lit("-"), body))
            .otherwise(v)
        )
        return F.when(col_is_number(s), s.try_cast("double"))

    def shape(f):
        start, end = f["start"], f["end"]
        geo = f["unit"].rlike("\\A(?i)latlong\\z")
        lat, lng = coordinate(start, "N", "S"), coordinate(end, "E", "W")
        return F.struct(
            f["unit"].alias("unit"), start.alias("start"), end.alias("end"),
            ((f["n"] == 2) & col_is_number(start)).alias("quantity"),
            (
                (f["n"] == 3)
                & ~geo
                & (col_is_number(start) | (start == "-"))
                & (col_is_number(end) | (end == "-"))
                & ~((start == "-") & (end == "-"))
            ).alias("ranged"),
            # Spark orders NaN above every double, so the range test also
            # rejects NaN and +-inf
            ((f["n"] == 3) & geo & lat.between(-90.0, 90.0) & lng.between(-180.0, 180.0)).alias("located"),
            # E5 resolution, Math.round's half-up on the scaled value
            F.floor(F.lit(1e5) * lat + F.lit(0.5)).alias("lat"),
            F.floor(F.lit(1e5) * lng + F.lit(0.5)).alias("lng"),
        )

    def pv(prop, value_type, value):
        return F.struct(
            F.lit(prop).alias("prop"),
            (F.lit(value_type) if isinstance(value_type, str) else value_type).alias("value_type"),
            value.alias("value"),
        )

    def number_or_dash(v):
        return F.when(v == "-", F.lit("TEXT")).otherwise(F.lit("NUMBER"))

    def result(x):
        unit, start, end, quantity, located = x["unit"], x["start"], x["end"], x["quantity"], x["located"]
        lat, lng = x["lat"], x["lng"]
        dcid = (
            F.when(quantity, F.concat(unit, start))
            .when(located, F.concat_ws("_", F.concat(F.lit(GEO_DCID_PREFIX + "/"), lat.cast("string")), lng.cast("string")))
            .when(start == "-", F.concat(unit, F.lit("Upto"), end))
            .when(end == "-", F.concat(unit, start, F.lit("Onwards")))
            .otherwise(F.concat(unit, start, F.lit("To"), end))
        )
        name = (
            F.when(quantity, F.concat_ws(" ", unit, start))
            .when(located, F.format_string("%.5f,%.5f", lat / 1e5, lng / 1e5))
            .when(start == "-", F.concat_ws(" ", unit, F.lit("UpTo"), end))
            .when(end == "-", F.concat_ws(" ", unit, start, F.lit("Onwards")))
            .otherwise(F.concat_ws(" ", unit, start, F.lit("To"), end))
        )
        type_of = F.when(quantity, F.lit("Quantity")).when(located, "GeoCoordinates").otherwise("QuantityRange")
        pvs = (
            F.when(quantity, F.array(pv("value", "NUMBER", start), pv("unitOfMeasure", "RESOLVED_REF", unit)))
            .when(located, F.array(pv("latitude", "TEXT", start), pv("longitude", "TEXT", end)))
            .otherwise(
                F.array(
                    pv("startValue", number_or_dash(start), start),
                    pv("endValue", number_or_dash(end), end),
                    pv("unit", "RESOLVED_REF", unit),
                )
            )
        )
        return F.when(
            quantity | x["ranged"] | located,
            F.struct(dcid.alias("dcid"), name.alias("name"), type_of.alias("type_of"), pvs.alias("pvs")),
        )

    split = col_split_and_strip(c.substr(F.lit(2), F.length(c) - 2), delimiter=" ")
    return F.when(
        c.startswith("[") & c.endswith("]"),
        _let(split, lambda fs: _let(_let(fields(fs), shape), result)),
    )
