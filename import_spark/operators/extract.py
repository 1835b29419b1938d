"""Stage 2 — extract: turns → long-form candidate statements.

The Spark analogue of the reference's template expansion
(TmcfCsvParser.java:125-374): each turn is a "row", the statement
grammar is the "template", and the emitted rows are long-form
statements ``(subj, pred, obj_type, obj)`` (the flattening that
GraphReader.java:107-155 / simple/kg_util/mcf_parser.py:169-240 do).

One extractor, :func:`extract_statements`: the base per-turn statements
and every anchor (mention, note, metric, complex value, define, see,
observe, sameAs) as ONE native projection (``regexp_extract_all`` +
array/explode inside whole-stage codegen), so the extraction starts no
Python worker. Transcript node ids are xxhash64-hex, which Spark
computes natively; mention tokens and define targets are classified by
:func:`classify_token`; complex values are parsed by the Column twin
``col_complex_value`` (ComplexValueParser); observation ids are the
FarmHash ``dc/o/`` ids (DcidGenerator.java:178-211) of ``col_long_id``,
a JVM UDF (import_spark/jvm).

External-id tokens come out as ``EXT_ID`` rows carrying
``ext_prop``/``ext_id``; linking them to dcids is the next step
(operators/link.py).

Output kinds (one DF, filtered downstream — the Beam side-output
pattern, PipelineUtils.java:222-242):
- ``TRIPLE`` candidate statement rows
- ``DEF``    local-entity definition records for the resolver
- ``ERROR``  per-statement error rows (counter name in ``pred``)
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from import_spark.functions.complex_values import col_complex_value
from import_spark.functions.dcids import col_long_id
from import_spark.functions.values import col_clean_numeric, col_is_number, col_is_valid_date
from import_spark.jvm import register_long_id

EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("kind", T.StringType(), False),  # TRIPLE | DEF | ERROR
        T.StructField("subj", T.StringType(), True),
        T.StructField("pred", T.StringType(), True),
        T.StructField("obj_type", T.StringType(), True),
        T.StructField("obj", T.StringType(), True),
        T.StructField("ext_prop", T.StringType(), True),
        T.StructField("ext_id", T.StringType(), True),
    ]
)

# JVM token class: under (?U), exactly Python's \S (Unicode White_Space
# plus U+001C..1F as separators) — see `_matches` for why
_TOK = r"[^\s\x1c-\x1f]"

# statement anchors (the "template"), run under (?U)
_MENTION = rf"we looked at ({_TOK}+)"
_NOTE = r'note "([^"]*)"'
_METRIC = r"metric is (-?\d+(?:\.\d+)?)"
_DEFINE = rf"define (l:E\d+) = ({_TOK}+)"
_SEE = r"see (l:E\d+)"
_SAMEAS = rf"sameAs ({_TOK}+) ({_TOK}+)"
_COMPLEX = r"(?:range|at coords) (\[[^\]]*\])"
# an unterminated complex value (McfParser.java:377-384)
_COMPLEX_OPEN = r"(?:range|at coords) \[[^\]]*+\z"
_OBSERVE = rf"observe ({_TOK}+) ({_TOK}+) ({_TOK}+) = ({_TOK}+)(?: unit ({_TOK}+))?"

# superset guard: the turns that can bear a narrow statement — see /
# sameAs / define, and the ERROR rows of the complex and observe anchors
_NARROW = r"see l:E|sameAs |define l:E|range \[|at coords \[|observe "

# external-id token prefixes → id property (Vocabulary.java:291-307 subset)
EXT_PREFIXES = {
    "iso": "isoCode",
    "wikidataId": "wikidataId",
    "nuts": "nutsCode",
    "unData": "unDataCode",
}

TURN_TYPE = "ConversationTurn"
CONV_TYPE = "Conversation"


# Transcript-domain node ids are xxhash64-hex — Spark evaluates them
# natively inside whole-stage codegen (functions/xxhash.py holds the
# bit-parity Python twin for the oracle/fixtures). Reference-parity
# dcids (dc/o/, dc/p/, StatVars) stay FarmHash.
def turn_id_col(conv, tidx):
    return F.format_string(
        "dc/t/%016x",
        F.xxhash64(F.concat(F.lit("conv_id="), conv, F.lit("turn_idx="), tidx.cast("string"))),
    )


def conv_node_col(conv):
    return F.format_string("dc/c/%016x", F.xxhash64(F.concat(F.lit("conv_id="), conv)))


def _matches(pattern: str, group: int):
    """All matches of one anchor group in ``text``, as an array.

    Every pattern carries the embedded ``(?U)`` flag
    (UNICODE_CHARACTER_CLASS): Java's default ``\\S``/``\\d`` are
    ASCII-only while the oracle (Python ``re``) is Unicode-aware, so
    without it a token followed by U+00A0/U+2009/… whitespace is
    swallowed into the token and dictionary links silently miss. With
    ``(?U)`` the JVM tokenizes on Unicode White_Space; the sole
    residual difference is U+001C..1F, which Python deems whitespace
    and the Unicode property does not — token classes therefore use
    ``_TOK`` (``[^\\s\\x1c-\\x1f]``), which under ``(?U)`` is
    character-for-character Python's ``\\S``."""
    return F.regexp_extract_all(F.col("text"), F.lit("(?U)" + pattern), F.lit(group))


def linkable_tokens():
    """Every token of ``text`` that :func:`classify_token` classifies:
    mention tokens and define targets, as one array."""
    return F.concat(_matches(_MENTION, 1), _matches(_DEFINE, 2))


def classify_token(tok):
    """Token Column → ``(obj_type, obj, ext_prop, ext_id)`` Columns.

    ``prefix:id`` with a known prefix → ``EXT_ID`` awaiting linking
    (null ``obj``); ``dcid:x`` → ``RESOLVED_REF`` x (namespace strip,
    McfUtil.java:164-171); anything else (e.g. geoId/06) is already a
    dcid."""
    split = r"^([A-Za-z]+):(.+)$"
    pfx = F.regexp_extract(tok, split, 1)
    rest = F.regexp_extract(tok, split, 2)
    prop = F.create_map(*[F.lit(x) for kv in EXT_PREFIXES.items() for x in kv])[pfx]
    is_ext = prop.isNotNull()
    return (
        F.when(is_ext, F.lit("EXT_ID")).otherwise(F.lit("RESOLVED_REF")),
        F.when(~is_ext, F.when(pfx == "dcid", rest).otherwise(tok)),
        prop,
        F.when(is_ext, rest),
    )


def statement_bearing(transcripts: DataFrame) -> DataFrame:
    """The explicit null policy of the extraction: a row without a
    conv_id, turn_idx, or text cannot bear statements (the turn/conv
    node ids derive from the first two; every anchor derives from the
    third) and is dropped — rather than the accidental alternatives of
    emitting null-field triples or colliding every null-keyed row on
    one hash. Null role/tool on a VALID row just skip that property's
    statement. The text-digest invariant is unaffected: both sides
    digest the raw input."""
    return transcripts.filter(
        F.col("conv_id").isNotNull()
        & F.col("turn_idx").isNotNull()
        & F.col("text").isNotNull()
    )


@functools.lru_cache(maxsize=2)
def _statement_array(narrow_only: bool) -> Column:
    """Every anchor as one array of statement structs per turn (nulls
    filtered). Built once per mode: the Column tree costs thousands of
    py4j calls, and every later extraction reuses it.

    ``narrow_only`` keeps just the narrow statement classes (DEF
    records, defines/sees → UNRESOLVED_REF locals, sameAs edges, ERROR
    rows) — the cheap first pass that feeds the resolver/CC side tables
    while the fat rows are recomputed by the big pass
    (plans/kg_pipeline.py). Complex values and observations are still
    PARSED in it (a malformed one is an ERROR row either way); their
    result rows are skipped."""
    turn = turn_id_col(F.col("conv_id"), F.col("turn_idx"))
    cnode = conv_node_col(F.col("conv_id"))
    null = F.lit(None).cast("string")

    def s(subj, pred, obj_type, obj, kind="TRIPLE", ext_prop=null, ext_id=null):
        def c(v):
            return F.lit(v) if isinstance(v, str) else v

        return F.struct(
            c(kind).alias("kind"),
            c(subj).alias("subj"),
            c(pred).alias("pred"),
            c(obj_type).alias("obj_type"),
            c(obj).alias("obj"),
            ext_prop.alias("ext_prop"),
            ext_id.alias("ext_id"),
        )

    def error(counter, obj):
        return s(turn, counter, "TEXT", obj, kind="ERROR")

    def mention(tok):
        obj_type, obj, prop, ext = classify_token(tok)
        return s(turn, "mentions", obj_type, obj, ext_prop=prop, ext_id=ext)

    def define(local, tgt):
        # DEF record for the resolver: a local target stays a local ref
        obj_type, obj, prop, ext = classify_token(tgt)
        obj_type = F.when(tgt.startswith("l:"), F.lit("UNRESOLVED_REF")).otherwise(obj_type)
        return F.array(
            s(local, "__def__", obj_type, obj, kind="DEF", ext_prop=prop, ext_id=ext),
            s(turn, "defines", "UNRESOLVED_REF", local),
        )

    # complex values (Quantity/QuantityRange/GeoCoordinates, P8): each
    # parsed once, then its rows; a malformed or unterminated one is an
    # MCF_MalformedComplexValue error
    parsed_cvs = F.transform(
        _matches(_COMPLEX, 1), lambda v: F.struct(v.alias("raw"), col_complex_value(v).alias("cv"))
    )

    def complex_value(p):
        cv = p["cv"]
        bad = error("MCF_MalformedComplexValue", p["raw"])
        if narrow_only:
            return F.array(F.when(cv.isNull(), bad))
        pred = F.when(cv["type_of"] == "GeoCoordinates", F.lit("location")).otherwise("quantity")
        rows = F.concat(
            F.array(
                s(turn, pred, "RESOLVED_REF", cv["dcid"]),
                s(cv["dcid"], "typeOf", "RESOLVED_REF", cv["type_of"]),
                s(cv["dcid"], "name", "TEXT", cv["name"]),
            ),
            F.transform(
                cv["pvs"], lambda pv: s(cv["dcid"], pv["prop"], pv["value_type"], pv["value"])
            ),
        )
        return F.when(cv.isNull(), F.array(bad)).otherwise(rows)

    complexes = F.concat(
        F.flatten(F.transform(parsed_cvs, complex_value)),
        F.array(
            F.when(
                F.col("text").rlike("(?U)" + _COMPLEX_OPEN),
                error("MCF_MalformedComplexValue", F.col("text")),
            )
        ),
    )

    # observations (SVObs, dcid per DcidGenerator.java:178-211): each
    # match's groups parsed once, then its rows; an invalid date or a
    # non-numeric value is an error row
    def parse_observation(m):
        place, var, date, raw, unit = (
            F.regexp_extract(m, "(?U)" + _OBSERVE, k) for k in range(1, 6)
        )
        val = col_clean_numeric(raw)
        fields = {"place": place, "var": var, "date": date, "val": val, "unit": unit,
                  "date_ok": col_is_valid_date(date), "val_ok": col_is_number(val)}
        if not narrow_only:
            # the ordered SVObs key string; unit only where present
            key = F.concat(
                F.lit("observationAbout="), place,
                F.lit("variableMeasured="), var,
                F.lit("observationDate="), date,
                F.lit("value="), val,
                F.when(unit != "", F.concat(F.lit("unit="), unit)).otherwise(F.lit("")),
            )
            fields["obs"] = F.concat(F.lit("dc/o/"), col_long_id(key))
        return F.struct(*[v.alias(k) for k, v in fields.items()])

    def observation(o):
        counter = F.when(o["val_ok"], F.lit("Sanity_InvalidObsDate")).otherwise(
            "Sanity_NonDoubleObsValue"
        )
        bad = error(counter, F.concat(o["date"], F.lit("="), o["val"]))
        ok = o["date_ok"] & o["val_ok"]
        if narrow_only:
            return F.array(F.when(~ok, bad))
        obs = o["obs"]
        rows = F.array(
            s(obs, "typeOf", "RESOLVED_REF", "StatVarObservation"),
            s(obs, "observationAbout", "RESOLVED_REF", o["place"]),
            s(obs, "variableMeasured", "RESOLVED_REF", o["var"]),
            s(obs, "observationDate", "TEXT", o["date"]),
            s(obs, "value", "NUMBER", o["val"]),
            F.when(o["unit"] != "", s(obs, "unit", "RESOLVED_REF", o["unit"])),
            s(turn, "observes", "RESOLVED_REF", obs),
        )
        return F.when(ok, rows).otherwise(F.array(bad))

    observations = F.flatten(
        F.transform(F.transform(_matches(_OBSERVE, 0), parse_observation), observation)
    )

    defines = F.flatten(F.zip_with(_matches(_DEFINE, 1), _matches(_DEFINE, 2), define))
    sees = F.transform(
        _matches(_SEE, 1), lambda v: s(turn, "references", "UNRESOLVED_REF", v)
    )
    sames = F.zip_with(
        _matches(_SAMEAS, 1),
        _matches(_SAMEAS, 2),
        lambda a, b: s(a, "sameAs", "RESOLVED_REF", b),
    )
    if narrow_only:
        arr = F.concat(complexes, defines, sees, observations, sames)
    else:
        base = F.array(
            s(turn, "typeOf", "RESOLVED_REF", TURN_TYPE),
            s(turn, "partOf", "RESOLVED_REF", cnode),
            s(cnode, "typeOf", "RESOLVED_REF", CONV_TYPE),
            # an absent property is simply not asserted (a null obj
            # would be unserializable in the MCF sink)
            F.when(F.col("role").isNotNull(), s(turn, "role", "TEXT", F.col("role"))),
            F.when(F.col("tool") != "", s(turn, "toolUsed", "TEXT", F.col("tool"))),
        )
        mentions = F.transform(_matches(_MENTION, 1), mention)
        notes = F.transform(_matches(_NOTE, 1), lambda v: s(turn, "says", "TEXT", v))
        metrics = F.transform(
            _matches(_METRIC, 1), lambda v: s(turn, "value", "NUMBER", v)
        )
        arr = F.concat(base, mentions, notes, metrics, complexes, defines, sees, observations, sames)
    return F.filter(arr, lambda x: x.isNotNull())


def extract_statements(transcripts: DataFrame, narrow_only: bool = False) -> DataFrame:
    """transcripts → long-form candidate statements (``EXTRACT_SCHEMA``;
    narrow, no shuffle): ONE native projection, the statement array
    exploded — a single whole-stage-codegen scan, zero Python.

    ``narrow_only=True`` returns exactly the narrow statement classes
    (DEF / ERROR / sameAs / UNRESOLVED_REF locals) — the same rows the
    full output yields for those classes, via the same code paths —
    with the fat-row work elided and the input pre-filtered to the turns
    that can bear one."""
    register_long_id(transcripts.sparkSession)
    transcripts = statement_bearing(transcripts)
    if narrow_only:
        transcripts = transcripts.filter(F.col("text").rlike(_NARROW))
    return transcripts.select(
        "conv_id", "turn_idx", F.explode(_statement_array(narrow_only)).alias("b")
    ).select("conv_id", "turn_idx", "b.*")


def extract_and_link(
    transcripts: DataFrame, dcid_map: dict, narrow_only: bool = False
) -> DataFrame:
    """:func:`extract_statements`, then the link join over the driver
    dictionary ``dcid_map`` (``link.dictionary_from_map``), minus the
    ext columns — the rows ``run_pipeline``'s link step yields."""
    from import_spark.operators.link import dictionary_from_map, link_statements

    extracted = extract_statements(transcripts, narrow_only=narrow_only)
    dictionary = dictionary_from_map(transcripts.sparkSession, dcid_map)
    return link_statements(extracted, dictionary).drop("ext_prop", "ext_id")
