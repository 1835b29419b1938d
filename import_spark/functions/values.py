"""Typed-value semantics: the reference's core scalar functions.

Re-expresses (from-scratch, in Python/pandas/Spark expressions):

- P1 typed-value parse        — parser/mcf/McfParser.java:336-437 (parseTypedValue)
- P2 quote/escape-aware split — StringUtil.java:65-91,180-218
- P3 namespace strip          — McfUtil.java:164-171
- P4 quote strip              — StringUtil.java:220-227
- P5 number/bool predicates   — StringUtil.java:93-115
- P6 ISO-8601 date validation — StringUtil.java:42-59,117-135
- P7 numeric-value cleaning   — McfMutator.java:90,161-163
- P14 dcid sanity predicates  — McfChecker.java:33-49,579-603
- P15 object-value key gen    — pipeline/.../PipelineUtils.java:450-455

Two layers: plain-Python callables (used inside vectorized pandas UDFs
and by the DuckDB-side oracle for parity testing) and native Spark
``Column`` builders (JVM-side, whole-stage-codegen friendly) for the
subset expressible without Python.
"""

from __future__ import annotations

import re
from datetime import datetime

from import_spark import vocabulary as V

# --- value type tags (Mcf.proto:71-96) ---
TEXT = "TEXT"
NUMBER = "NUMBER"
UNRESOLVED_REF = "UNRESOLVED_REF"
RESOLVED_REF = "RESOLVED_REF"
COMPLEX_VALUE = "COMPLEX_VALUE"

# The exact accepted language of StringUtil.isNumber (StringUtil.java:93-110):
# parseLong|parseUnsignedLong accept strict subsets of Double.parseDouble's
# language, so isNumber == parseDouble parseability == the Double.valueOf
# javadoc grammar verbatim (leading/trailing chars <= \x20 trimmed, optional
# sign, NaN/Infinity, decimal w/ optional [fFdD] suffix, hex float). ASCII
# digit classes spelled explicitly so the Python `re` twin and the Java-regex
# `rlike` twin read the pattern identically (Python \d is Unicode-aware;
# parseDouble is not). Anchors are engine-specific: Python \Z and Java \z both
# mean absolute end-of-input ($ would match before a trailing line terminator,
# and Java's terminator set includes U+0085/U+2028 which parseDouble rejects).
_JAVA_FP_CORE = (
    r"[\x00-\x20]*[+-]?("
    r"NaN|Infinity|"
    r"((([0-9]+\.?[0-9]*([eE][+-]?[0-9]+)?)|"
    r"(\.[0-9]+([eE][+-]?[0-9]+)?)|"
    r"((0[xX][0-9a-fA-F]+\.?|0[xX][0-9a-fA-F]*\.[0-9a-fA-F]+)[pP][+-]?[0-9]+))"
    r"[fFdD]?))"
    r"[\x00-\x20]*"
)
_NUM_RE = re.compile(r"\A" + _JAVA_FP_CORE + r"\Z")
_BOOLS = {"true", "false", "1", "0"}


def is_number(val: str) -> bool:
    """Long / unsigned-long / double parseability (StringUtil.java:93-110)."""
    if not val:
        return False
    return bool(_NUM_RE.match(val))


# the padding Double.parseDouble trims (String.trim: every char <= U+0020)
_JAVA_TRIM = "".join(map(chr, range(0x21)))


def parse_double(val: str) -> float:
    """``Double.parseDouble`` of a string :func:`is_number` accepts: the
    padding trimmed, a ``[fFdD]`` type suffix dropped, hex floats read as
    hex. Python's ``float()`` alone takes strings outside that grammar
    (``1_0``, ``١٠``, ``nan``) and rejects some inside it (``1f``,
    ``0x1p3``)."""
    s = val.strip(_JAVA_TRIM)
    if s[-1] in "fFdD":
        s = s[:-1]
    return float.fromhex(s) if "x" in s or "X" in s else float(s)


def is_bool(val: str) -> bool:
    """true/false/1/0, case-insensitive (StringUtil.java:112-115)."""
    return val.lower() in _BOOLS


def strip_enclosing_quote_pair(val: str) -> str:
    """Strip one enclosing double-quote pair (StringUtil.java:220-227)."""
    if len(val) > 1 and val[0] == '"' and val[-1] == '"':
        return val[1:-1]
    return val


def strip_namespace(val: str) -> str:
    """``dcid:X`` / ``dcs:X`` / ``schema:X`` → ``X`` (McfUtil.java:164-171)."""
    for pfx in V.GLOBAL_REF_PREFIXES:
        if val.startswith(pfx):
            return val[len(pfx) :]
    return val


def parse_typed_value(prop: str, val: str) -> tuple[str, str] | None:
    """String value → (value_type, value), instance-MCF semantics.

    Mirrors parseTypedValue (McfParser.java:336-437) for INSTANCE_MCF,
    isResolved=False. Returns None only for a malformed complex value.
    """
    expect_ref = V.is_reference_property(prop)

    if val.startswith('"'):
        stripped = strip_enclosing_quote_pair(val)
        if not expect_ref:
            return (TEXT, stripped)
        val = stripped if stripped != val else val

    if val.startswith("["):
        if not val.endswith("]"):
            return None  # MCF_MalformedComplexValue
        return (COMPLEX_VALUE, val)

    if ":" in val:
        if V.is_global_reference(val):
            return (RESOLVED_REF, val[val.index(":") + 1 :])
        if V.is_internal_reference(val):
            return (UNRESOLVED_REF, val)
        # fallthrough: an unfortunate ":" (e.g. a URL)

    if expect_ref:
        # Likely a missing dcid:/dcs:/schema: prefix; accept as resolved ref.
        return (RESOLVED_REF, val)

    if is_number(val) or is_bool(val):
        return (NUMBER, val)

    return (TEXT, val)


def split_structured_line_with_escapes(
    line: str, delimiter: str = ",", expression_symbol: str = '"'
) -> list[str] | None:
    """Split on ``delimiter`` outside quoted expressions; ``\\`` escapes the
    next char (kept verbatim). Returns None on unbalanced quotes.
    (StringUtil.java:65-91)."""
    cols: list[str] = []
    in_expr = False
    in_escape = False
    start = 0
    for i, c in enumerate(line):
        if in_escape:
            in_escape = False
        elif c == "\\":
            in_escape = True
        elif not in_expr and c == delimiter:
            cols.append(line[start:i])
            start = i + 1
        elif c == expression_symbol:
            in_expr = not in_expr
    cols.append(line[start:])
    return None if in_expr else cols


def split_and_strip(
    orig: str,
    delimiter: str = ",",
    include_empty: bool = False,
    strip_enclosing_quotes: bool = True,
    strip_escapes_before_quotes: bool = False,
) -> list[str] | None:
    """Multi-value cell split (StringUtil.java:182-218). None on error."""
    if "\n" in orig:
        return None  # StrSplit_MultiToken
    parts = split_structured_line_with_escapes(orig, delimiter)
    if parts is None:
        return None  # StrSplit_BadQuotesInToken
    out = []
    for s in parts:
        ss = s.strip()
        if strip_enclosing_quotes:
            ss = strip_enclosing_quote_pair(ss)
        if include_empty or ss:
            out.append(ss.replace('\\"', '"') if strip_escapes_before_quotes else ss)
    return out


# --- ISO-8601 date validation (StringUtil.java:42-59,117-135) ---
# (java-pattern, candidate-lengths, python strptime formats to try)
_DATE_PATTERNS: list[tuple[str, set[int], list[str]]] = [
    ("yyyy", {4}, ["%Y"]),
    ("yyyy-M", {6, 7}, ["%Y-%m"]),
    ("yyyy-M-d", {8, 9, 10}, ["%Y-%m-%d"]),
    ("yyyyMM", {6}, ["%Y%m"]),
    ("yyyyMMdd", {8}, ["%Y%m%d"]),
    ("yyyy-MM-dd'T'HH:mm", {16}, ["%Y-%m-%dT%H:%M"]),
    ("yyyy-MM-dd'T'HH:mm:ss", {19}, ["%Y-%m-%dT%H:%M:%S"]),
    ("yyyy-MM-dd'T'HH:mm:ss.SSS", {23}, ["%Y-%m-%dT%H:%M:%S.%f"]),
    ("yyyy-MM-dd'T'HH:mm:ss.SSSXXX", {29}, ["%Y-%m-%dT%H:%M:%S.%f%z"]),
]
_EXTRA_DATE_RES = [re.compile(r"^\d{5}\Z"), re.compile(r"^\d{7}\Z")]
# Java's yyyy-M accepts 1- or 2-digit month; strptime %m accepts both too,
# but yyyy-M with length 6 means single-digit month (e.g. 2019-3).


def valid_iso8601_date_pattern(date_value: str) -> str:
    """Return the matched pattern name, or '' if invalid."""
    n = len(date_value)
    for pattern, lengths, fmts in _DATE_PATTERNS:
        if n not in lengths:
            continue
        for fmt in fmts:
            try:
                datetime.strptime(date_value, fmt)
                return pattern
            except ValueError:
                continue
    for rx in _EXTRA_DATE_RES:
        if rx.match(date_value):
            return rx.pattern
    return ""


def is_valid_date(date_value: str) -> bool:
    return bool(valid_iso8601_date_pattern(date_value))


_NUMERIC_CLEAN_RE = re.compile(r"[ ,%]")


def clean_numeric_string(val: str) -> str:
    """Strip spaces/commas/percent before numeric cast (McfMutator.java:90,161-163)."""
    return _NUMERIC_CLEAN_RE.sub("", val)


# dcid charset: the reference allows alnum plus a set of punctuation, with a
# bio/ exception for richer charsets (McfChecker.java:33-49).
_DCID_RE = re.compile(r"^[a-zA-Z0-9_/\-\.&:%\(\) ]+\Z")
_BIO_DCID_RE = re.compile(r"^bio/[^ ]+\Z")


def is_valid_dcid(dcid: str) -> bool:
    """Length + charset sanity (McfChecker.java:579-603)."""
    if not dcid or len(dcid) > V.MAX_DCID_LENGTH:
        return False
    return bool(_DCID_RE.match(dcid) or _BIO_DCID_RE.match(dcid))


# --- native Spark Column builders (JVM-side fast path) ---


def col_strip_namespace(c):
    """Column version of P3 (regexp, codegen'd JVM-side)."""
    from pyspark.sql import functions as F

    return F.regexp_replace(c, r"^(dcid|dcs|schema):", "")


def col_clean_numeric(c):
    """Column version of P7."""
    from pyspark.sql import functions as F

    return F.regexp_replace(c, r"[ ,%]", "")


def col_is_number(c):
    """Column version of P5: the Java FP-literal grammar via rlike.

    rlike (Java regex on the JVM) evaluates the SAME pattern text as the
    Python twin, so both accept exactly Double.parseDouble's language.
    Previously try_cast("double"), which is a strict superset (Spark's
    cast adds trimmed case-insensitive inf/infinity/nan literals —
    Cast.processFloatingPointSpecialLiterals) — found by the hypothesis
    twin property on '0 ' after the Python side under-accepted it.
    """
    return c.rlike("\\A" + _JAVA_FP_CORE + "\\z")


def col_parse_typed_value(prop: str, c):
    """Column twin of P1 ``parse_typed_value`` for a fixed ``prop``:
    ``struct(value_type, value)``, with a null ``value_type`` where the
    spec returns None (a malformed complex value; ``value`` then keeps
    the input, as the node-id pass reads it)."""
    from pyspark.sql import functions as F

    quoted = c.startswith('"')
    stripped = F.when(
        quoted & c.endswith('"') & (F.length(c) > 1), c.substr(F.lit(2), F.length(c) - 2)
    ).otherwise(c)
    expect_ref = V.is_reference_property(prop)
    v = stripped if expect_ref else c
    is_global = v.startswith(V.GLOBAL_REF_PREFIXES[0])
    for pfx in V.GLOBAL_REF_PREFIXES[1:]:
        is_global = is_global | v.startswith(pfx)
    vt = (
        F.when(v.startswith("["), F.when(v.endswith("]"), F.lit(COMPLEX_VALUE)))
        .when(is_global, RESOLVED_REF)
        .when(v.startswith(V.INTERNAL_REF_PREFIX), UNRESOLVED_REF)
    )
    val = F.when(is_global, col_strip_namespace(v)).otherwise(v)
    if expect_ref:
        vt = vt.otherwise(RESOLVED_REF)
    else:
        numeric = col_is_number(c) | F.lower(c).isin(*sorted(_BOOLS))
        vt = F.when(quoted, TEXT).otherwise(vt.when(numeric, NUMBER).otherwise(TEXT))
        val = F.when(quoted, stripped).otherwise(val)
    return F.struct(vt.alias("value_type"), val.alias("value"))


# What Python's str.strip() removes: the str.isspace() code points.
_PY_WHITESPACE = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    + "".join(map(chr, range(0x2000, 0x200B)))
    + "\u2028\u2029\u202f\u205f\u3000"
)
# One unit of split_structured_line_with_escapes' grammar: a run of
# plain characters, a backslash escape (a lone trailing backslash
# included), or a quoted section, which may hold escapes and commas.
# Possessive quantifiers keep Java's matcher linear on failure.
_SPLIT_UNIT = r'\\.|\\\z|"[^"\\]*+(?:\\.[^"\\]*+)*+"'
_BALANCED_RE = r'(?s)\A(?:[^"\\]++|' + _SPLIT_UNIT + r")*+\z"


def col_split_and_strip(c, delimiter: str = ","):
    """Column twin of P2 ``split_and_strip(c, delimiter,
    strip_enclosing_quotes=False)``: the stripped, non-empty values
    between unquoted ``delimiter``s (one character, literal inside a
    regex class: ``,`` or a space), or null where the spec returns None
    (a newline, or unbalanced quotes)."""
    from pyspark.sql import functions as F

    field_re = r'(?s)(?:[^' + delimiter + r'"\\]++|' + _SPLIT_UNIT + r")++"
    fields = F.regexp_extract_all(c, F.lit(field_re), 0)
    stripped = F.transform(fields, lambda s: F.btrim(s, F.lit(_PY_WHITESPACE)))
    return F.when(
        ~c.contains("\n") & c.rlike(_BALANCED_RE), F.filter(stripped, lambda s: s != "")
    )


def col_is_valid_dcid(c):
    """Column version of P14."""
    from pyspark.sql import functions as F

    return (F.length(c) <= V.MAX_DCID_LENGTH) & (
        c.rlike(r"\A[a-zA-Z0-9_/\-\.&:%\(\) ]+\z") | c.rlike(r"\Abio/[^ ]+\z")
    )


def col_is_valid_date(c):
    """Column version of P6 (ISO-8601 per StringUtil.java:117-135):
    length-gated pattern attempts, JVM-side via try_to_timestamp."""
    from pyspark.sql import functions as F

    n = F.length(c)

    def try_fmt(fmt):
        return F.try_to_timestamp(c, F.lit(fmt)).isNotNull()

    return (
        ((n == 4) & try_fmt("yyyy"))
        | (n.isin(6, 7) & c.rlike(r"\A\d{4}-\d{1,2}\z") & try_fmt("yyyy-M"))
        | (n.isin(8, 9, 10) & c.contains("-") & try_fmt("yyyy-M-d"))
        | ((n == 6) & c.rlike(r"\A\d{6}\z") & try_fmt("yyyyMM"))
        | ((n == 8) & c.rlike(r"\A\d{8}\z") & try_fmt("yyyyMMdd"))
        | ((n == 16) & try_fmt("yyyy-MM-dd'T'HH:mm"))
        | ((n == 19) & try_fmt("yyyy-MM-dd'T'HH:mm:ss"))
        | ((n == 23) & try_fmt("yyyy-MM-dd'T'HH:mm:ss.SSS"))
        | ((n == 29) & try_fmt("yyyy-MM-dd'T'HH:mm:ss.SSSXXX"))
        | c.rlike(r"\A\d{5}\z")
        | c.rlike(r"\A\d{7}\z")
    )


# P16 — gzip-compressed large literals (PipelineUtils.java:64-70,440-474;
# decompress twin GraphReader.java:76-99). The reference stores the value
# of these predicates as GZIP bytes in the Node table's `bytes` column.
STORE_VALUE_AS_BYTES_PREDICATES = frozenset(
    {
        "geoJsonCoordinates",
        "geoJsonCoordinatesDP1",
        "geoJsonCoordinatesDP2",
        "geoJsonCoordinatesDP3",
        "kmlCoordinates",
    }
)


def store_value_as_bytes(pred_col):
    """PipelineUtils.storeValueAsBytes predicate as a native expression."""
    from pyspark.sql import functions as F

    return pred_col.isin(*STORE_VALUE_AS_BYTES_PREDICATES)


def compress_literals_udf():
    """Arrow-batched pandas UDF: UTF-8 → GZIP bytes
    (PipelineUtils.compressString parity; header OS-byte pinned for
    determinism via mtime=0)."""
    import gzip

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def _compress(s):
        return s.map(
            lambda v: None
            if v is None
            else gzip.compress(v.encode("utf-8"), mtime=0)
        )

    return _compress


def decompress_literals_udf():
    """Inverse of compress_literals_udf (GraphReader.java:76-99)."""
    import gzip

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _decompress(s):
        return s.map(lambda v: None if v is None else gzip.decompress(bytes(v)).decode("utf-8"))

    return _decompress
