"""Reference oracle: an independent, row-at-a-time pandas implementation
of the statement-extraction spec, used to gate the Spark pipeline at
P/R ≥ 0.95 (BASELINE.json metric).

Deliberately written in the simplest possible style (per-row loops,
dict-based union-find) so it shares no code *structure* with the
distributed implementation — only the leaf scalar functions
(typed-value/complex-value/farmhash), which are the spec itself.
The reference's own test strategy does the same: golden outputs
produced by an independent path (SURVEY.md §5).
"""

from __future__ import annotations

import re

import pandas as pd

from import_spark.functions.complex_values import parse_complex_value
from import_spark.functions.dcids import svobs_dcid
from import_spark.functions.values import clean_numeric_string, is_number, is_valid_date
from import_spark.functions.xxhash import hex_id

_MENTION = re.compile(r"we looked at (\S+)")
_NOTE = re.compile(r'note "([^"]*)"')
_METRIC = re.compile(r"metric is (-?\d+(?:\.\d+)?)")
_COMPLEX = re.compile(r"(?:range|at coords) (\[[^\]]*\])")
_DEFINE = re.compile(r"define (l:E\d+) = (\S+)")
_SEE = re.compile(r"see (l:E\d+)")
_OBSERVE = re.compile(r"observe (\S+) (\S+) (\S+) = (\S+)(?: unit (\S+))?")
_SAMEAS = re.compile(r"sameAs (\S+) (\S+)")

_EXT = {"iso": "isoCode", "wikidataId": "wikidataId", "nuts": "nutsCode", "unData": "unDataCode"}


def _link(dict_map: dict, tok: str) -> str | None:
    """Mention token → dcid (dictionary first-wins, else prefix fallback)."""
    mm = re.match(r"^([A-Za-z]+):(.+)$", tok)
    if mm and mm.group(1) in _EXT:
        prop, ext = _EXT[mm.group(1)], mm.group(2)
        hit = dict_map.get((prop, ext))
        if hit:
            return hit
        prefix = {"isoCode": "iso", "nutsCode": "nuts"}.get(prop, prop)
        return f"{prefix}/{ext}"
    if mm and mm.group(1) == "dcid":
        return mm.group(2)
    return tok  # already a dcid (geoId/06)


def expected_triples(
    transcripts: pd.DataFrame, dcid_dict: pd.DataFrame
) -> tuple[set[tuple], set[tuple]]:
    """→ (triples, failed_uses): triples are (subj, pred, obj_type, obj)."""
    dict_map: dict[tuple[str, str], str] = {}
    for _, r in dcid_dict.sort_values(["prop", "ext_id", "dcid"]).iterrows():
        dict_map.setdefault((r["prop"], r["ext_id"]), r["dcid"])

    triples: set[tuple] = set()
    same_pairs: list[tuple[str, str]] = []
    # per-conv defs: local → set(targets); target = ("D", dcid) | ("L", local)
    defs: dict[str, dict[str, set]] = {}
    uses: list[tuple[str, str, str, str]] = []  # (conv, turn_subj, pred, local)

    for _, row in transcripts.iterrows():
        conv, tix, text = row["conv_id"], row["turn_idx"], row["text"]
        turn = "dc/t/" + hex_id(f"conv_id={conv}turn_idx={tix}")
        cnode = "dc/c/" + hex_id(f"conv_id={conv}")
        triples.add((turn, "typeOf", "RESOLVED_REF", "ConversationTurn"))
        triples.add((turn, "partOf", "RESOLVED_REF", cnode))
        triples.add((cnode, "typeOf", "RESOLVED_REF", "Conversation"))
        # a null role bears no statement (extract's null policy)
        if pd.notna(row["role"]):
            triples.add((turn, "role", "TEXT", row["role"]))
        if pd.notna(row["tool"]) and row["tool"]:
            triples.add((turn, "toolUsed", "TEXT", row["tool"]))

        for tok in _MENTION.findall(text):
            triples.add((turn, "mentions", "RESOLVED_REF", _link(dict_map, tok)))
        for s in _NOTE.findall(text):
            triples.add((turn, "says", "TEXT", s))
        for v in _METRIC.findall(text):
            triples.add((turn, "value", "NUMBER", v))
        for cvs in _COMPLEX.findall(text):
            cv = parse_complex_value(cvs)
            if cv is None:
                continue
            pred = "location" if cv.type_of == "GeoCoordinates" else "quantity"
            triples.add((turn, pred, "RESOLVED_REF", cv.dcid))
            triples.add((cv.dcid, "typeOf", "RESOLVED_REF", cv.type_of))
            triples.add((cv.dcid, "name", "TEXT", cv.name))
            for p, t, v in cv.pvs:
                triples.add((cv.dcid, p, t, v))
        for local, tgt in _DEFINE.findall(text):
            d = defs.setdefault(conv, {}).setdefault(local, set())
            if tgt.startswith("l:"):
                d.add(("L", tgt))
            else:
                d.add(("D", _link(dict_map, tgt)))
            uses.append((conv, turn, "defines", local))
        for local in _SEE.findall(text):
            uses.append((conv, turn, "references", local))
        for place, var, date, val, unit in _OBSERVE.findall(text):
            val = clean_numeric_string(val)
            if not (is_valid_date(date) and is_number(val)):
                continue
            pvs = {
                "observationAbout": place,
                "variableMeasured": var,
                "observationDate": date,
                "value": val,
            }
            if unit:
                pvs["unit"] = unit
            obs = svobs_dcid(pvs)
            triples.add((obs, "typeOf", "RESOLVED_REF", "StatVarObservation"))
            triples.add((obs, "observationAbout", "RESOLVED_REF", place))
            triples.add((obs, "variableMeasured", "RESOLVED_REF", var))
            triples.add((obs, "observationDate", "TEXT", date))
            triples.add((obs, "value", "NUMBER", val))
            if unit:
                triples.add((obs, "unit", "RESOLVED_REF", unit))
            triples.add((turn, "observes", "RESOLVED_REF", obs))
        for a, b in _SAMEAS.findall(text):
            triples.add((a, "sameAs", "RESOLVED_REF", b))
            same_pairs.append((a, b))

    # --- resolve defs per conversation ---
    resolved: dict[tuple[str, str], str] = {}
    failed_locals: set[tuple[str, str]] = set()
    for conv, locs in defs.items():
        # divergence: ≥2 distinct targets
        clean: dict[str, tuple] = {}
        for local, tgts in locs.items():
            if len(tgts) > 1:
                failed_locals.add((conv, local))
            else:
                clean[local] = next(iter(tgts))
        # iterate chains
        for local, tgt in list(clean.items()):
            seen = {local}
            cur = tgt
            while True:
                if cur[0] == "D":
                    resolved[(conv, local)] = cur[1]
                    break
                nxt = cur[1]
                if nxt in seen or nxt not in clean:
                    failed_locals.add((conv, local))
                    break
                seen.add(nxt)
                cur = clean[nxt]

    failed_uses: set[tuple] = set()
    for conv, turn, pred, local in uses:
        dcid = resolved.get((conv, local))
        if dcid is None:
            failed_uses.add((conv, turn, pred, local))
        else:
            triples.add((turn, pred, "RESOLVED_REF", dcid))

    # --- canonicalize: union-find over sameAs, min id ---
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in same_pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    def canon(x: str) -> str:
        return find(x) if x in parent else x

    out: set[tuple] = set()
    for s, p, t, o in triples:
        s2 = canon(s)
        o2 = canon(o) if t == "RESOLVED_REF" else o
        if p == "sameAs" and s2 == o2:
            continue
        out.add((s2, p, t, o2))
    return out, failed_uses


def precision_recall(got: set, want: set) -> tuple[float, float]:
    if not got or not want:
        return (0.0, 0.0)
    inter = len(got & want)
    return inter / len(got), inter / len(want)
