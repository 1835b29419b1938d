"""Stage 2 — extract: turns → long-form candidate statements.

The Spark analogue of the reference's template expansion
(TmcfCsvParser.java:125-374): each turn is a "row", the statement
grammar is the "template", and the emitted rows are long-form
statements ``(subj, pred, obj_type, obj)`` (the flattening that
GraphReader.java:107-155 / simple/kg_util/mcf_parser.py:169-240 do).

One extractor, :func:`extract_statements`, in two parts:
- ``_jvm_statements``: the base per-turn statements and the mention,
  note, metric, define, see and sameAs anchors as ONE native
  projection (``regexp_extract_all`` + array/explode inside whole-stage
  codegen). Transcript node ids are xxhash64-hex, which Spark computes
  natively; mention tokens and define targets are classified by
  :func:`classify_token`.
- ``_extract_batch_python``, the one Python (Arrow) stage: only the
  complex-value (ComplexValueParser) and observe (FarmHash ``dc/o/``
  ids, DcidGenerator.java:178-211) anchors, over the turns one rlike
  pre-filter selects.

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
import re
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from import_spark.functions.complex_values import parse_complex_value
from import_spark.functions.farmhash import long_id_batch
from import_spark.functions.values import clean_numeric_string, is_number, is_valid_date

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

# statement anchors (the "template"); the JVM ones run under (?U)
_MENTION = rf"we looked at ({_TOK}+)"
_NOTE = r'note "([^"]*)"'
_METRIC = r"metric is (-?\d+(?:\.\d+)?)"
_DEFINE = rf"define (l:E\d+) = ({_TOK}+)"
_SEE = r"see (l:E\d+)"
_SAMEAS = rf"sameAs ({_TOK}+) ({_TOK}+)"
_RE_COMPLEX = re.compile(r"(?:range|at coords) (\[[^\]]*\])")
_RE_COMPLEX_OPEN = re.compile(r"(?:range|at coords) \[[^\]]*$")
_RE_OBSERVE = re.compile(r"observe (\S+) (\S+) (\S+) = (\S+)(?: unit (\S+))?")

# superset guards: turns that can bear a narrow statement on the JVM
# side (see / sameAs / define), and the turns the Python stage parses
# (_RE_COMPLEX, _RE_COMPLEX_OPEN, _RE_OBSERVE)
_NARROW_JVM = r"see l:E|sameAs |define l:E"
_PY_NEEDED = r"range \[|at coords \[|observe "

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
    """Every anchor except complex/observe as one array of statement
    structs per turn (nulls filtered). Built once per mode: the Column
    tree costs thousands of py4j calls, and every later extraction
    reuses it.

    ``narrow_only`` keeps just the narrow statement classes this part
    produces (DEF records, defines/sees → UNRESOLVED_REF locals, sameAs
    edges) — the cheap first pass that feeds the resolver/CC side
    tables while the fat rows are recomputed by the big pass
    (plans/kg_pipeline.py)."""
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
        arr = F.concat(defines, sees, sames)
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
        arr = F.concat(base, mentions, notes, metrics, defines, sees, sames)
    return F.filter(arr, lambda x: x.isNotNull())


def _jvm_statements(transcripts: DataFrame, narrow_only: bool = False) -> DataFrame:
    """The JVM part of the extraction: ONE native projection, the
    statement array exploded — a single whole-stage-codegen scan, zero
    Python."""
    return transcripts.select(
        "conv_id", "turn_idx", F.explode(_statement_array(narrow_only)).alias("b")
    ).select("conv_id", "turn_idx", "b.*")


def _extract_batch_python(pdf: pd.DataFrame, narrow_only: bool = False) -> pd.DataFrame:
    """The complex-value and observe anchors for the pre-filtered turn
    subset, as ``EXTRACT_SCHEMA`` rows minus the ext columns (these
    anchors carry no external ids). ``turn_id`` arrives precomputed
    (JVM).

    ``narrow_only`` emits just the ERROR rows: the statements still get
    PARSED (malformed complex values / invalid observations must be
    classified either way) but the fat result rows — complex-value
    child triples and the 6-row observation fan-out with its farmhash
    dc/o/ ids — are skipped; the big pass recomputes those."""
    conv = pdf["conv_id"]
    tidx = pdf["turn_idx"]
    text = pdf["text"]
    turn_id = pdf["turn_id"]

    frames: list[pd.DataFrame] = []

    def _v(x):
        return x.values if hasattr(x, "values") else x

    def emit(idx, subj, pred, obj_type, obj, kind="TRIPLE") -> None:
        frames.append(
            pd.DataFrame(
                {
                    "conv_id": conv.loc[idx].values,
                    "turn_idx": tidx.loc[idx].values,
                    "kind": kind,
                    "subj": _v(subj),
                    "pred": _v(pred),
                    "obj_type": _v(obj_type),
                    "obj": _v(obj),
                }
            )
        )

    # --- complex values (Quantity/QuantityRange/GeoCoordinates, P8) ---
    m = text.str.extractall(_RE_COMPLEX)
    if len(m):
        i = m.index.get_level_values(0)
        vals = m[0].reset_index(drop=True)
        lut = {v: parse_complex_value(v) for v in vals.unique()}
        parsed = vals.map(lut)
        ok = parsed.notna().values
        if not narrow_only:
            cv = parsed[ok]
            iok = i[ok]
            dcids = cv.map(lambda c: c.dcid)
            pred = cv.map(lambda c: "location" if c.type_of == "GeoCoordinates" else "quantity")
            emit(iok, turn_id.loc[iok], pred, "RESOLVED_REF", dcids)
            # child node triples for each complex value
            emit(iok, dcids, "typeOf", "RESOLVED_REF", cv.map(lambda c: c.type_of))
            emit(iok, dcids, "name", "TEXT", cv.map(lambda c: c.name))
            for k in range(3):  # complex pvs have ≤3 entries
                mask = cv.map(lambda c, _k=k: len(c.pvs) > _k)
                sub = cv[mask]
                if not len(sub):
                    continue
                isub = iok[mask.values]
                emit(
                    isub,
                    sub.map(lambda c: c.dcid),
                    sub.map(lambda c, _k=k: c.pvs[_k][0]),
                    sub.map(lambda c, _k=k: c.pvs[_k][1]),
                    sub.map(lambda c, _k=k: c.pvs[_k][2]),
                )
        bad = ~ok
        if bad.any():
            ibad = i[bad]
            emit(ibad, turn_id.loc[ibad], "MCF_MalformedComplexValue", "TEXT",
                 vals[bad], kind="ERROR")
    # unterminated complex value → error (MCF_MalformedComplexValue,
    # McfParser.java:377-384)
    open_bad = text.str.contains(_RE_COMPLEX_OPEN)
    if open_bad.any():
        ib = pdf.index[open_bad]
        emit(ib, turn_id.loc[ib], "MCF_MalformedComplexValue", "TEXT",
             text.loc[ib], kind="ERROR")

    # --- observations (SVObs, dcid per DcidGenerator.java:178-211) ---
    m = text.str.extractall(_RE_OBSERVE)
    if len(m):
        i = m.index.get_level_values(0)
        place = m[0].reset_index(drop=True)
        var = m[1].reset_index(drop=True)
        date = m[2].reset_index(drop=True)
        val = m[3].reset_index(drop=True).map(clean_numeric_string)
        unit = m[4].reset_index(drop=True)
        date_ok = date.map(is_valid_date)
        val_ok = val.map(is_number)
        good = (date_ok & val_ok).values
        if (~good).any():
            ibad = i[~good]
            cnt = pd.Series("Sanity_InvalidObsDate", index=date.index[~good])
            cnt[~val_ok[~good]] = "Sanity_NonDoubleObsValue"
            emit(ibad, turn_id.loc[ibad], cnt, "TEXT", (date + "=" + val)[~good], kind="ERROR")
        ig = i[good]
        if len(ig) and not narrow_only:
            pg, vg, dg, vvg, ug = (s[good].reset_index(drop=True) for s in (place, var, date, val, unit))
            # ordered SVObs key string, vectorized: unit appended only
            # where present
            keys = (
                "observationAbout=" + pg
                + "variableMeasured=" + vg
                + "observationDate=" + dg
                + "value=" + vvg
                + np.where(ug.fillna("") != "", "unit=" + ug.fillna(""), "")
            )
            obs_id = pd.Series("dc/o/" + long_id_batch(keys.values), index=pg.index)
            emit(ig, obs_id, "typeOf", "RESOLVED_REF", "StatVarObservation")
            emit(ig, obs_id, "observationAbout", "RESOLVED_REF", pg)
            emit(ig, obs_id, "variableMeasured", "RESOLVED_REF", vg)
            emit(ig, obs_id, "observationDate", "TEXT", dg)
            emit(ig, obs_id, "value", "NUMBER", vvg)
            has_u = ug.notna() & (ug != "")
            if has_u.any():
                iu = ig[has_u.values]
                emit(iu, obs_id[has_u], "unit", "RESOLVED_REF", ug[has_u])
            emit(ig, turn_id.loc[ig], "observes", "RESOLVED_REF", obs_id)

    if not frames:
        return pd.DataFrame(columns=EXTRACT_SCHEMA.fieldNames()[:-2])
    out = pd.concat(frames, ignore_index=True)
    out["turn_idx"] = out["turn_idx"].astype("int32")
    return out


def extract_statements(transcripts: DataFrame, narrow_only: bool = False) -> DataFrame:
    """transcripts → long-form candidate statements (``EXTRACT_SCHEMA``;
    narrow, no shuffle). The JVM projection takes every turn; only the
    complex/observe turn subset crosses Arrow, column-pruned (``ts``
    and ``role``/``tool`` never cross).

    ``narrow_only=True`` returns exactly the narrow statement classes
    (DEF / ERROR / sameAs / UNRESOLVED_REF locals) — the same rows the
    full output yields for those classes, via the same code paths —
    with the fat-row work elided and the JVM part pre-filtered to the
    see/sameAs/define turn subset."""
    transcripts = statement_bearing(transcripts)
    src = (
        transcripts.filter(F.col("text").rlike(_NARROW_JVM))
        if narrow_only
        else transcripts
    )
    jvm = _jvm_statements(src, narrow_only=narrow_only)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _extract_batch_python(pdf, narrow_only=narrow_only)

    py_in = transcripts.filter(F.col("text").rlike(_PY_NEEDED)).select(
        "conv_id",
        "turn_idx",
        turn_id_col(F.col("conv_id"), F.col("turn_idx")).alias("turn_id"),
        "text",
    )
    # the Python stage emits no external ids: its rows get null ext
    # columns JVM-side, so the optimizer prunes that branch from any
    # plan that keeps only ext rows (the salted link's join side)
    py = py_in.mapInPandas(gen, schema=T.StructType(EXTRACT_SCHEMA.fields[:-2]))
    null = F.lit(None).cast("string")
    return jvm.unionByName(py.withColumns({"ext_prop": null, "ext_id": null}))


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
