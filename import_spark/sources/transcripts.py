"""Synthetic multi-turn transcript table + entity-linking dictionary.

The pipeline's input is an Iceberg/Parquet table
``transcripts(conv_id string, turn_idx int, role string, text string,
tool string, ts timestamp)`` (BASELINE.json input_hint; FIXTURES.md F1).
This module synthesizes it deterministically at any scale — content is
a pure function of the global turn index, so the same (n_convs) yields
byte-identical rows at any parallelism/partitioning.

Statement grammar embedded in ``text`` (one statement per turn plus
filler words), mirroring the reference's value-type taxonomy
(Mcf.proto:71-96) and complex forms (ComplexValueParser.java:23-35):

- ``we looked at <token>``            mention of an external id
  (token forms: ``iso:US``, ``wikidataId:Q30``, ``nuts:FR10``,
  ``unData:840``, or a direct dcid ``geoId/06``)
- ``note "<text>"``                   quoted TEXT value
- ``metric is <number>``              NUMBER value
- ``range [Years 10 20]``             COMPLEX quantity/range value
- ``at coords [LatLong 37.3 -122.3]`` COMPLEX lat/lng value
- ``define l:E<k> = <target>``        local entity definition; target is
  a mention token, ``dcid:<x>``, or another local ref ``l:E<j>``
  (chains/cycles exercised — McfResolver.java:244-322 analogue)
- ``see l:E<k>``                      local-ref use (UNRESOLVED_REF)
- ``observe <place> <var> <date> = <value>[ unit <unit>]``
                                      StatVarObservation statement
- ``sameAs <a> <b>``                  same-as edge between two dcids
  (canonicalization / connected-components input)

Skew: ~30% of mentions hit one hot id (``iso:US`` → country/USA), per
the hot-entity skew the reference handles by key salting
(SpannerClient.java:305-316).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("tool", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

# --- deterministic mixing (splitmix64-style), vectorized over uint64 ---
_M = np.uint64(0xFF51AFD7ED558CCD)
_M2 = np.uint64(0xC4CEB9FE1A85EC53)


def _mix(i: np.ndarray, salt: int) -> np.ndarray:
    x = i.astype(np.uint64) + np.uint64((salt * 0x9E3779B97F4A7C15) % (1 << 64))
    x ^= x >> np.uint64(33)
    x *= _M
    x ^= x >> np.uint64(33)
    x *= _M2
    x ^= x >> np.uint64(33)
    return x


# --- token pools ---
ISO = ["US", "FR", "DE", "IN", "BR", "JP", "CN", "GB", "IT", "ES"]
WIKI = ["Q30", "Q142", "Q183", "Q668", "Q155", "Q17", "Q148", "Q145", "Q38", "Q29"]
COUNTRY_DCIDS = [
    "country/USA",
    "country/FRA",
    "country/DEU",
    "country/IND",
    "country/BRA",
    "country/JPN",
    "country/CHN",
    "country/GBR",
    "country/ITA",
    "country/ESP",
]
NUTS = ["FR10", "DE21", "IT11", "ES30"]
NUTS_DCIDS = ["nuts/FR10", "nuts/DE21", "nuts/IT11", "nuts/ES30"]
UNDATA = ["840", "250", "276", "356"]
UNDATA_DCIDS = ["country/USA", "country/FRA", "country/DEU", "country/IND"]
GEOIDS = ["geoId/06", "geoId/36", "geoId/48", "geoId/12"]
STAT_VARS = ["Count_Person", "Median_Income_Person", "Count_Household", "UnemploymentRate_Person"]
UNITS = ["", "USDollar", "Percent", ""]
DATES = ["2018", "2019", "2020", "2021", "2019-03", "2020-07-01"]
WORDS = [
    "the", "model", "pipeline", "observed", "context", "agent", "reply",
    "relevant", "summary", "detail", "checked", "result", "topic", "node",
]
ROLES = ["user", "assistant", "tool"]
TOOLS = ["search", "calculator", "browser", "kg_lookup"]

# sameAs alias universe: aliases of country dcids forming components.
ALIAS_SUFFIXES = ["", "_a", "_b", "_c", "_d"]


def build_dcid_dictionary() -> pd.DataFrame:
    """The broadcast entity-linking dimension (FIXTURES.md F5) — the
    in-sandbox stand-in for the DC Recon API (PropertyResolver.java:45-98).

    Includes one ext_id with two candidate dcids (first-wins after a
    deterministic sort — PropertyResolver.java:113 takes the first
    candidate).
    """
    rows = []
    for iso, d in zip(ISO, COUNTRY_DCIDS):
        rows.append(("isoCode", iso, d))
    for w, d in zip(WIKI, COUNTRY_DCIDS):
        rows.append(("wikidataId", w, d))
    for n, d in zip(NUTS, NUTS_DCIDS):
        rows.append(("nutsCode", n, d))
    for u, d in zip(UNDATA, UNDATA_DCIDS):
        rows.append(("unDataCode", u, d))
    # duplicate-candidate entry: deterministic first-wins on sorted dcid
    rows.append(("wikidataId", "Q30", "country/USA_dup"))
    return pd.DataFrame(rows, columns=["prop", "ext_id", "dcid"])


def dcid_dictionary(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(build_dcid_dictionary())


def _nums(arr: np.ndarray) -> np.ndarray:
    """int/float array → object array of decimal strings."""
    return pd.Series(arr).astype(str).astype(object).values


def _statements_for(conv: np.ndarray, turn: np.ndarray, gidx: np.ndarray) -> np.ndarray:
    """Vectorized statement construction; pure function of (conv, turn, gidx).

    All string assembly uses object-dtype arrays (elementwise Python
    concat), which pandas/Arrow serialize directly.
    """
    n = len(gidx)
    kind = (_mix(gidx, 1) % np.uint64(100)).astype(np.int64)
    out = np.empty(n, dtype=object)

    def pick(pool: list[str], salt: int, idx: np.ndarray) -> np.ndarray:
        sel = (_mix(gidx[idx], salt) % np.uint64(len(pool))).astype(np.int64)
        return np.array(pool, dtype=object)[sel]

    # mention tokens (shared by mention/define statements)
    def mention_tokens(idx: np.ndarray, salt: int) -> np.ndarray:
        m = _mix(gidx[idx], salt)
        hot = (m % np.uint64(100)) < np.uint64(30)  # 30% hot: iso:US
        form = (m % np.uint64(10)).astype(np.int64)
        toks = "iso:" + pick(ISO, salt + 11, idx)
        toks[form >= 4] = ("wikidataId:" + pick(WIKI, salt + 12, idx))[form >= 4]
        toks[form >= 6] = ("nuts:" + pick(NUTS, salt + 13, idx))[form >= 6]
        toks[form >= 7] = ("unData:" + pick(UNDATA, salt + 14, idx))[form >= 7]
        toks[form >= 8] = pick(GEOIDS, salt + 15, idx)[form >= 8]
        # unknown id exercising the fallback dcid-assignment path (C5)
        toks[(m % np.uint64(37)) == np.uint64(0)] = "iso:ZZ"
        toks[hot] = "iso:US"
        return toks

    # 0-39 mention
    idx = np.nonzero(kind < 40)[0]
    if len(idx):
        out[idx] = "we looked at " + mention_tokens(idx, 2)
    # 40-54 quoted text
    idx = np.nonzero((kind >= 40) & (kind < 55))[0]
    if len(idx):
        out[idx] = 'note "' + pick(WORDS, 3, idx) + " " + pick(WORDS, 4, idx) + '"'
    # 55-64 number
    idx = np.nonzero((kind >= 55) & (kind < 65))[0]
    if len(idx):
        num = (_mix(gidx[idx], 5) % np.uint64(100000)).astype(np.int64)
        frac = (_mix(gidx[idx], 6) % np.uint64(100)).astype(np.int64)
        out[idx] = "metric is " + _nums(num) + "." + _nums(frac)
    # 65-72 complex value
    idx = np.nonzero((kind >= 65) & (kind < 73))[0]
    if len(idx):
        a = (_mix(gidx[idx], 7) % np.uint64(50)).astype(np.int64)
        b = a + 1 + (_mix(gidx[idx], 8) % np.uint64(30)).astype(np.int64)
        lat = ((_mix(gidx[idx], 9) % np.uint64(18000)).astype(np.int64) - 9000) / 100.0
        lng = ((_mix(gidx[idx], 10) % np.uint64(36000)).astype(np.int64) - 18000) / 100.0
        is_geo = (_mix(gidx[idx], 11) % np.uint64(3)) == np.uint64(0)
        q = "range [Years " + _nums(a) + " " + _nums(b) + "]"
        g = "at coords [LatLong " + _nums(lat) + " " + _nums(lng) + "]"
        out[idx] = np.where(is_geo, g, q)
    # 73-82 define
    idx = np.nonzero((kind >= 73) & (kind < 83))[0]
    if len(idx):
        k = (_mix(gidx[idx], 12) % np.uint64(10)).astype(np.int64)
        tgt_kind = (_mix(gidx[idx], 13) % np.uint64(10)).astype(np.int64)
        toks = mention_tokens(idx, 14)
        dc = "dcid:" + pick(COUNTRY_DCIDS, 15, idx)
        j = (_mix(gidx[idx], 16) % np.uint64(10)).astype(np.int64)
        loc = "l:E" + _nums(j)
        tgt = np.where(tgt_kind < 6, toks, np.where(tgt_kind < 8, dc, loc))
        out[idx] = "define l:E" + _nums(k) + " = " + tgt.astype(object)
    # 83-90 use
    idx = np.nonzero((kind >= 83) & (kind < 91))[0]
    if len(idx):
        k = (_mix(gidx[idx], 17) % np.uint64(10)).astype(np.int64)
        out[idx] = "see l:E" + _nums(k)
    # 91-95 observe
    idx = np.nonzero((kind >= 91) & (kind < 96))[0]
    if len(idx):
        place = pick(GEOIDS, 18, idx)
        vsel = (_mix(gidx[idx], 19) % np.uint64(len(STAT_VARS))).astype(np.int64)
        var = np.array(STAT_VARS, dtype=object)[vsel]
        unit = np.array(UNITS, dtype=object)[vsel]
        date = pick(DATES, 20, idx)
        val = (_mix(gidx[idx], 21) % np.uint64(1000000)).astype(np.int64)
        base = "observe " + place + " " + var + " " + date + " = " + _nums(val)
        out[idx] = np.where(unit == "", base, base + " unit " + unit)
    # 96-97 sameAs
    idx = np.nonzero((kind >= 96) & (kind < 98))[0]
    if len(idx):
        c = pick(COUNTRY_DCIDS, 22, idx)
        s1 = (_mix(gidx[idx], 23) % np.uint64(len(ALIAS_SUFFIXES))).astype(np.int64)
        s2 = (_mix(gidx[idx], 24) % np.uint64(len(ALIAS_SUFFIXES))).astype(np.int64)
        a1 = c + np.array(ALIAS_SUFFIXES, dtype=object)[s1]
        a2 = c + np.array(ALIAS_SUFFIXES, dtype=object)[s2]
        out[idx] = "sameAs " + a1 + " " + a2
    # 98-99 edge cases: malformed complex value / plain filler
    idx = np.nonzero(kind >= 98)[0]
    if len(idx):
        odd = (_mix(gidx[idx], 25) % np.uint64(2)) == np.uint64(0)
        out[idx] = np.where(odd, "range [Years 10", "nothing to report here")

    # deterministic cycle + divergence injections on selected conversations:
    # first two turns of conv%97==0 form a 2-cycle of local refs;
    # turns 0/1 of conv%89==0 define the same local divergently.
    cyc = (conv % 97 == 0) & (turn <= 1)
    out[cyc & (turn == 0)] = "define l:E8 = l:E9"
    out[cyc & (turn == 1)] = "define l:E9 = l:E8"
    div = (conv % 89 == 0) & (conv % 97 != 0) & (turn <= 1)
    out[div & (turn == 0)] = "define l:E7 = iso:FR"
    out[div & (turn == 1)] = "define l:E7 = iso:DE"
    return out


def _gen_batch(pdf_iter: Iterator[pd.DataFrame], turns_per_conv: int) -> Iterator[pd.DataFrame]:
    base_ts = np.datetime64("2025-01-01T00:00:00")
    for pdf in pdf_iter:
        conv = pdf["id"].values.astype(np.int64)  # one input row per conversation
        nt = 4 + (_mix(conv.astype(np.uint64), 100) % np.uint64(turns_per_conv)).astype(np.int64)
        conv_r = np.repeat(conv, nt)
        turn = np.concatenate([np.arange(k, dtype=np.int64) for k in nt]) if len(nt) else np.array([], dtype=np.int64)
        gidx = (conv_r.astype(np.uint64) << np.uint64(16)) | turn.astype(np.uint64)

        role_sel = (_mix(gidx, 101) % np.uint64(3)).astype(np.int64)
        role = np.array(ROLES, dtype=object)[role_sel]
        stmts = _statements_for(conv_r, turn, gidx)
        f1 = np.array(WORDS, dtype=object)[(_mix(gidx, 102) % np.uint64(len(WORDS))).astype(np.int64)]
        f2 = np.array(WORDS, dtype=object)[(_mix(gidx, 103) % np.uint64(len(WORDS))).astype(np.int64)]
        text = f1 + " " + stmts.astype(object) + " " + f2
        tool = np.where(
            role == "tool",
            np.array(TOOLS, dtype=object)[(_mix(gidx, 104) % np.uint64(len(TOOLS))).astype(np.int64)],
            "",
        )
        # bounded 10-year day cycle: stays valid at any conv count
        # (ns-timestamp range caps out around year 2262)
        ts = base_ts + ((conv_r % 3650) * 86400 + turn * 60).astype("timedelta64[s]")
        yield pd.DataFrame(
            {
                "conv_id": pd.Series(conv_r).map(lambda c: f"conv/{c:010d}"),
                "turn_idx": turn.astype(np.int32),
                "role": role,
                "text": text,
                "tool": tool,
                "ts": pd.Series(ts),
            }
        )


def generate_transcripts(
    spark: SparkSession, n_convs: int, turns_per_conv: int = 9, partitions: int | None = None
) -> DataFrame:
    """Deterministic transcripts DataFrame: ~``n_convs * (4 + turns/2)`` turns.

    Scales linearly: ``spark.range`` partitions the conversation-id space;
    each task synthesizes its rows vectorized — no driver materialization,
    no cross-partition state, so the table is identical at any parallelism.
    """
    parts = partitions or spark.sparkContext.defaultParallelism
    tpc = turns_per_conv
    return (
        spark.range(0, n_convs, 1, parts)
        .mapInPandas(lambda it: _gen_batch(it, tpc), schema=TRANSCRIPT_SCHEMA)
    )
