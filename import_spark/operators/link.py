"""Stage 3 — link: external-id mentions → dcids, one step after extraction.

Re-expresses the reference's resolution join (J1-J3):
- ExternalIdResolver.java:57-152 — collect external ids, resolve
  against the Recon dictionary, map node→dcid.
- PropertyResolver.java:100-127 — first-candidate-wins + divergence
  detection.
- DcidGenerator.forPlace (DcidGenerator.java:213-229) — fallback dcid
  assignment ``<prefix>/<ext_id>`` for ids the dictionary misses.

The extraction (operators/extract.py) leaves every external id as an
``EXT_ID`` row with ``ext_prop``/``ext_id``. Linking is one dictionary
join that rewrites those rows to ``RESOLVED_REF`` (``_link_columns``:
the hit, else the fallback). The dictionary is prepared once per run
(:func:`link_dictionary`: deduped, then materialized by one checkpoint
that observes its size), and its size picks how the join runs:
- ``broadcast`` while it fits the broadcast budget: a broadcast hash
  join, no shuffle of the big side; the skewed hot entity is harmless
  because a broadcast join has no key-partitioned reduce;
- ``salted`` beyond it: only the ext rows shuffle, hot keys spread
  over salts (the explicit salting the reference needs for Spanner
  writes, SpannerClient.java:305-316; see operators/skew.py).
"""

from __future__ import annotations

import functools
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from import_spark import vocabulary as V
from import_spark.operators.extract import EXT_PREFIXES, classify_token, linkable_tokens


class DictionaryOverBudget(RuntimeError):
    """A driver-dict fast path would collect more than its byte budget.

    Callers catch this and fall back to the DataFrame join path — the
    same bound the reference puts on its in-memory resolution state
    (ExistenceChecker.java:28-30 pending cap, ReconClient.java:31
    batch size): the dictionary is dimension-sized by construction, but
    a 10^12-turn corpus with high-cardinality external ids can still
    outgrow the driver, and that must degrade to a join, not an OOM.
    """

    def __init__(self, n_rows: int, budget_bytes: int):
        super().__init__(
            f"dictionary of {n_rows} rows exceeds the {budget_bytes}-byte "
            "driver-collect budget; use the DataFrame join path"
        )
        self.n_rows = n_rows
        self.budget_bytes = budget_bytes


def _collect_dictionary_rows(pairs: DataFrame, budget_bytes: int | None):
    """Gated driver collect for the (prop/ext-id → dcid) builders:
    materialize once, then one exact count+bytes aggregate and one
    Arrow collect (``size_gate.collect_within``) as a pandas frame.
    Raises :class:`DictionaryOverBudget` instead of collecting when
    over budget."""
    from import_spark.functions import size_gate

    if budget_bytes is None:
        budget_bytes = size_gate.DRIVER_COLLECT_BUDGET_BYTES
    # the builders' frames are joins/aggregates over the node table:
    # checkpoint so the size aggregate and the collect both read the
    # materialized pairs instead of re-running that plan
    pairs = pairs.localCheckpoint()
    size = size_gate.exact_size(pairs)
    pdf = size_gate.collect_within(pairs, budget_bytes, size=size)
    if pdf is None:
        raise DictionaryOverBudget(size[0], budget_bytes)
    return pdf


def _pairs_dict(pdf) -> dict:
    return dict(zip(zip(pdf["prop"], pdf["ext_id"]), pdf["dcid"]))


def dictionary_map(pdf) -> dict:
    """Driver dict of a collected (prop, ext_id, dcid) frame, first-wins
    on the minimum dcid per (prop, ext_id) — ``prepare_dictionary``'s
    rule, applied on the driver so the collect needs no shuffle. Null
    dcids sort last, so a key maps to None only when every candidate
    is null (Spark's ``min`` ignores nulls the same way)."""
    first = pdf.sort_values("dcid", na_position="last", kind="stable").drop_duplicates(
        ["prop", "ext_id"], keep="first"
    )
    return _pairs_dict(first)


def prepare_dictionary(dcid_dict: DataFrame) -> DataFrame:
    """Dedupe candidate dcids per (prop, ext_id): deterministic
    first-wins on sorted dcid (PropertyResolver.java:113 takes the
    first candidate returned; we pin a deterministic order)."""
    return dcid_dict.groupBy("prop", "ext_id").agg(
        F.min("dcid").alias("dcid")
    )


@dataclass(frozen=True)
class LinkDictionary:
    """A prepared link dictionary: one (prop, ext_id, dcid) row per key
    (``prepare_dictionary``'s rule) in ``frame``, its exact size, and
    the join that size picks, ``"broadcast"`` or ``"salted"``."""

    frame: DataFrame
    rows: int
    nbytes: int
    strategy: str


def _sized(frame: DataFrame, rows: int, nbytes: int) -> LinkDictionary:
    from import_spark.functions import size_gate

    strategy = "broadcast" if nbytes <= size_gate.BROADCAST_BUDGET_BYTES else "salted"
    return LinkDictionary(frame, rows, nbytes, strategy)


def link_dictionary(dcid_dict: DataFrame) -> LinkDictionary:
    """The run's dictionary, built once: ``prepare_dictionary``,
    materialized by ``localCheckpoint`` with its (rows, bytes) observed
    on the checkpoint job (``size_gate.checkpoint_sized``, no separate
    size job), so no link plan re-runs the dedupe."""
    from import_spark.functions.size_gate import checkpoint_sized

    frame, (rows, nbytes) = checkpoint_sized(prepare_dictionary(dcid_dict))
    return _sized(frame, rows, nbytes)


def dictionary_from_map(spark, dcid_map: dict) -> LinkDictionary:
    """A driver dictionary (``dictionary_map`` output, one dcid per
    (prop, ext_id)) as a :class:`LinkDictionary` over a
    ``LocalRelation`` (``session.local_frame``), sized by
    ``size_gate.pandas_bytes`` with no job."""
    import pandas as pd

    from import_spark.functions.size_gate import pandas_bytes
    from import_spark.session import local_frame

    pdf = pd.DataFrame(
        [(p, e, d) for (p, e), d in dcid_map.items()],
        columns=["prop", "ext_id", "dcid"],
        dtype=object,
    )
    frame = local_frame(spark, pdf, "prop string, ext_id string, dcid string")
    return _sized(frame, len(pdf), pandas_bytes(pdf))


@functools.lru_cache(maxsize=4)
def _link_columns(columns: tuple[str, ...]) -> tuple[list[Column], Column]:
    """The link's projection of the extraction's ``columns`` and its
    join condition on the renamed dictionary (``_dict_prop``,
    ``_dict_ext``, ``_dict_dcid``). The projection rewrites EXT_ID rows
    to RESOLVED_REF: ``obj`` is the dictionary hit, else the
    priority-prefix fallback ``<prefix>/<ext_id>``
    (DcidGenerator.java:213-229, ``vocabulary.place_dcid_prefix``);
    other rows pass through. Built once per column list, as
    ``extract._statement_array`` is: the Column trees cost ~100 py4j
    calls, a third of a link plan's build time."""
    prop = F.col("ext_prop")
    prefix = prop
    for p in EXT_PREFIXES.values():
        if V.place_dcid_prefix(p) != p:
            prefix = F.when(prop == p, F.lit(V.place_dcid_prefix(p))).otherwise(prefix)
    is_ext = prop.isNotNull()
    fallback = F.concat(prefix, F.lit("/"), F.col("ext_id"))
    rewrite = {
        "obj": F.when(is_ext, F.coalesce(F.col("_dict_dcid"), fallback)).otherwise(F.col("obj")),
        "obj_type": F.when(is_ext, F.lit("RESOLVED_REF")).otherwise(F.col("obj_type")),
    }
    on = (prop == F.col("_dict_prop")) & (F.col("ext_id") == F.col("_dict_ext"))
    return [rewrite.get(c, F.col(c)).alias(c) for c in columns], on


def hot_link_keys(extracted: DataFrame) -> list[tuple]:
    """The salted link's hot-key census (``skew.hot_join_keys``) over
    the ext rows of ``extracted``: every (ext_prop, ext_id) carrying at
    least a million rows (``salted_join``'s threshold). A caller that
    links several plans over one input runs it once and passes the
    list to each."""
    from import_spark.operators.skew import hot_join_keys

    ext = extracted.filter(F.col("ext_prop").isNotNull())
    return hot_join_keys(ext, ["ext_prop", "ext_id"], min_count=1_000_000)


def link_statements(
    extracted: DataFrame, dictionary: LinkDictionary, hot: list[tuple] | None = None
) -> DataFrame:
    """Resolve every EXT_ID row (TRIPLE objects and DEF targets) to a
    dcid by a join against the prepared ``dictionary``; returns the
    input with EXT_ID rows rewritten to RESOLVED_REF (``_link_columns``).

    ``broadcast``: the dictionary fits executor memory — broadcast hash
    join, no shuffle of the big side, hot entities free. ``salted``:
    the dictionary exceeds the broadcast budget (a full Recon map at
    10^12-turn scale) — only the ext rows shuffle, joined via
    :func:`skew.salted_join` so the ``hot`` keys (:func:`hot_link_keys`,
    run here when None) spread over its salts; other rows bypass the
    shuffle entirely. Both produce identical output (equality-tested;
    the salted plan is hash-gated by the ``j1_salted_link`` driver
    oracle on the same SQL as broadcast J1).
    """
    out, on = _link_columns(tuple(extracted.columns))
    if dictionary.strategy == "salted":
        from import_spark.operators.skew import salted_join

        is_ext = F.col("ext_prop").isNotNull()
        linked_ext = salted_join(
            extracted.filter(is_ext),
            dictionary.frame.toDF("ext_prop", "ext_id", "_dict_dcid"),
            ["ext_prop", "ext_id"],
            how="left",
            hot=hot_link_keys(extracted) if hot is None else hot,
        )
        return linked_ext.select(*out).unionByName(extracted.filter(~is_ext))
    if dictionary.strategy != "broadcast":
        raise ValueError(f"unknown link strategy {dictionary.strategy!r}")
    dim = F.broadcast(dictionary.frame.toDF("_dict_prop", "_dict_ext", "_dict_dcid"))
    return extracted.join(dim, on=on, how="left").select(*out)


def local_graph_dictionary_df(nodes: DataFrame) -> DataFrame:
    """J2 local-graph seed as a (prop, ext_id, dcid) DataFrame — the
    shape :func:`prepare_dictionary` and the distributed MCF resolver's
    dictionary join consume. Deterministic first-wins on conflicts: min
    dcid per node, then min dcid per (prop, ext_id)."""
    ext_props = list(V.PLACE_RESOLVABLE_AND_ASSIGNABLE_IDS)
    ids = nodes.filter(F.col("prop").isin(*ext_props)).select(
        "node_id", F.col("prop").alias("id_prop"), F.col("value").alias("id_val")
    )
    dcids = (
        nodes.filter(F.col("prop") == "dcid")
        .groupBy("node_id")
        .agg(F.min("value").alias("dcid"))
    )
    return (
        ids.join(dcids, "node_id")
        .groupBy("id_prop", "id_val")
        .agg(F.min("dcid").alias("dcid"))
        .select(
            F.col("id_prop").alias("prop"),
            F.col("id_val").alias("ext_id"),
            "dcid",
        )
    )


def local_graph_seed(pdf) -> dict:
    """:func:`local_graph_dictionary_df`'s rule over a collected
    long-form pandas frame (the MCF resolver's driver path already
    holds one): min dcid per node, then min dcid per (prop, ext_id)
    (:func:`dictionary_map`). Null dcids sort last, as Spark's ``min``
    ignores them."""
    ids = pdf.loc[
        pdf["prop"].isin(list(V.PLACE_RESOLVABLE_AND_ASSIGNABLE_IDS)), ["node_id", "prop", "value"]
    ]
    if ids.empty:
        return {}
    dcids = (
        pdf.loc[pdf["prop"] == V.DCID, ["node_id", "value"]]
        .sort_values("value", na_position="last", kind="stable")
        .drop_duplicates("node_id")
        .rename(columns={"value": "dcid"})
    )
    return dictionary_map(ids.rename(columns={"value": "ext_id"}).merge(dcids, on="node_id"))


def local_graph_dictionary(nodes: DataFrame, budget_bytes: int | None = None) -> dict:
    """J2 — local-graph seeding (ExternalIdResolver.addLocalGraph,
    ExternalIdResolver.java:57-96): nodes that carry BOTH an external id
    and a dcid contribute ``(id_prop, id_value) → dcid`` entries, so
    references to those external ids resolve to the local nodes without
    a remote lookup. Deterministic first-wins (min dcid) on conflicts.

    ``nodes``: long-form (node_id, prop, value) rows. Raises
    :class:`DictionaryOverBudget` when the seed set exceeds the driver
    budget. The MCF resolver does not call this: it seeds from the
    rows its driver gate already collected (:func:`local_graph_seed`)
    or joins :func:`local_graph_dictionary_df` in its distributed
    loop."""
    return _pairs_dict(
        _collect_dictionary_rows(local_graph_dictionary_df(nodes), budget_bytes)
    )


def derive_transcript_dictionary(
    transcripts: DataFrame, recon_table: DataFrame
) -> DataFrame:
    """FULL-resolution two-pass orchestration, pass 1
    (Processor.java:82-86,451-497 + ReconClient.java:58-92 stand-in):
    scan the input once to collect the DISTINCT external-id working set
    (the ids Processor.lookupExternalIds submits), then "call Recon" —
    here a join against the offline recon dimension — to derive the
    import's dictionary. Pass 2 is the ordinary pipeline run with the
    derived dictionary.

    Fully native (regexp_extract_all + distinct): the id-collection pass
    reads one column and shuffles only the distinct (prop, ext_id)
    set — dimension-sized even at 10^12 turns. ``recon_table``:
    (prop, ext_id, dcid) rows, the in-sandbox Recon API stand-in.
    """
    # the extraction's own token arrays and classifier, so the working
    # set holds exactly the ids the link step will look up
    _, _, prop, ext_id = classify_token(F.col("tok"))
    working_set = (
        transcripts.select(F.explode(linkable_tokens()).alias("tok"))
        .select(prop.alias("prop"), ext_id.alias("ext_id"))
        .filter(F.col("prop").isNotNull())
        .distinct()
    )
    # the Recon "batch lookup": only submitted ids come back
    return recon_table.join(working_set, ["prop", "ext_id"], "left_semi").select(
        "prop", "ext_id", "dcid"
    )


def derive_node_dictionary_df(nodes: DataFrame, recon_table: DataFrame) -> DataFrame:
    """FULL-resolution two-pass derivation over long-form MCF statement
    rows (the genmcf shape) as a (prop, ext_id, dcid) DataFrame: pass 1
    collects the distinct external-id working set from the parsed graph
    (ExternalIdResolver.submitNode, ExternalIdResolver.java:98-130), the
    join against the offline recon table stands in for
    drainRemoteCalls. genmcf hands it to the MCF resolver as
    ``dict_df``, which collects it through its driver gate when it fits
    and joins it in the distributed loop otherwise."""
    ext_props = list(V.PLACE_RESOLVABLE_AND_ASSIGNABLE_IDS)
    working_set = (
        nodes.filter(F.col("prop").isin(*ext_props))
        .select(F.col("prop"), F.col("value").alias("ext_id"))
        .distinct()
    )
    return (
        recon_table.join(working_set, ["prop", "ext_id"], "left_semi")
        .groupBy("prop", "ext_id")
        .agg(F.min("dcid").alias("dcid"))
    )


def dcid_map_from_df(dcid_dict: DataFrame, budget_bytes: int | None = None) -> dict:
    """Collect the (small) dictionary to a driver dict, deterministic
    first-wins per (prop, ext_id) like prepare_dictionary. Raises
    :class:`DictionaryOverBudget` when the dictionary exceeds the
    driver budget.

    The raw (prop, ext_id, dcid) rows are collected and deduped on the
    driver (:func:`dictionary_map`), so the byte gate counts duplicate
    candidates too — never less conservative than gating the deduped
    map."""
    return dictionary_map(
        _collect_dictionary_rows(dcid_dict.select("prop", "ext_id", "dcid"), budget_bytes)
    )


def quantize_coord_key(lat_col, lng_col):
    """E5-quantized ``lat#lng`` join key (round-half-away-from-zero, the
    same rule as the complex-value latLong dcid,
    ComplexValueParser.java:333-341). Quantizing BOTH sides of the join
    sidesteps double→string formatting parity, which the reference never
    depends on (its keys only round-trip within one process,
    CoordinatesResolver.java:77-95)."""
    q = lambda c: F.floor(c.try_cast("double") * 1e5 + F.lit(0.5)).cast("long")  # noqa: E731
    return F.concat_ws("#", q(lat_col), q(lng_col))


def resolve_coordinates(
    nodes: DataFrame, coord_dict: DataFrame, fallback_latlong: bool = True
) -> DataFrame:
    """J3 — coordinates→place join (CoordinatesResolver.java:35-95).

    ``nodes``: long-form (node_id, prop, value) rows; nodes carrying both
    ``latitude`` and ``longitude`` form the resolve key. ``coord_dict``:
    small dimension (lat, lng, dcid) — the offline stand-in for the
    Recon ``<-geoCoordinate->dcid`` index; broadcast-joined,
    first-candidate-wins (min dcid, pinned deterministic like
    PropertyResolver.java:113).

    Returns (node_id, place_dcid). Misses fall back to the quantized
    ``latLong/<lat_e5>_<lng_e5>`` dcid (the complex-value rule) when
    ``fallback_latlong``, else drop out (reference behavior: unresolved).
    """
    lat = nodes.filter(F.col("prop") == "latitude").select(
        "node_id", F.col("value").alias("_lat")
    )
    lng = nodes.filter(F.col("prop") == "longitude").select(
        "node_id", F.col("value").alias("_lng")
    )
    keyed = (
        lat.join(lng, "node_id")
        .filter(
            F.col("_lat").try_cast("double").isNotNull()
            & F.col("_lng").try_cast("double").isNotNull()
        )
        .select("node_id", quantize_coord_key(F.col("_lat"), F.col("_lng")).alias("_ck"))
    )
    dim = F.broadcast(
        coord_dict.select(
            quantize_coord_key(F.col("lat"), F.col("lng")).alias("_ck"),
            F.col("dcid"),
        )
        .groupBy("_ck")
        .agg(F.min("dcid").alias("_place"))
    )
    joined = keyed.join(dim, "_ck", "left")
    fallback = (
        F.concat(F.lit("latLong/"), F.regexp_replace(F.col("_ck"), "#", "_"))
        if fallback_latlong
        else F.lit(None).cast("string")
    )
    out = joined.select(
        "node_id", F.coalesce(F.col("_place"), fallback).alias("place_dcid")
    )
    return out.filter(F.col("place_dcid").isNotNull())


def resolve_names(
    nodes: DataFrame, names_table: DataFrame, broadcast_names: bool = True
) -> DataFrame:
    """Name-based resolution (NameResolver.java:17-98): nodes that carry
    a ``name`` property resolve to a dcid by exact name lookup against
    the resolution index — the reference batches the distinct name
    working set to the Recon ``<-description->dcid`` endpoint and takes
    the FIRST candidate per name (NameResolver.java:60-64).

    Offline stand-in, same two-pass shape as derive_node_dictionary_df:
    pass 1 reduces the corpus to the distinct (node, name) working set —
    a node submits its name iff the value is TEXT or NUMBER
    (NameResolver.getValue, :91-98); with several name rows the
    first-wins pick is pinned to min(value) (proto insertion order does
    not survive a shuffle). Pass 2 joins the working set against
    ``names_table`` (name, dcid[, rank]) — the Recon index stand-in —
    first-candidate-wins by min(rank, dcid) when a rank column encodes
    the API's candidate order, else min(dcid).

    Returns (node_id, name, dcid) hits only; unresolved nodes simply
    don't appear (the Resolver orchestration decides their fate, as with
    resolve_coordinates). The names dimension broadcasts by default;
    pass broadcast_names=False past the broadcast budget and the join
    shuffles only the node-sized working set, never the statement table.
    """
    submitted = (
        nodes.filter(
            (F.col("prop") == V.NAME) & F.col("value_type").isin("TEXT", "NUMBER")
        )
        .groupBy("node_id")
        .agg(F.min("value").alias("name"))
    )
    key = (
        F.struct(F.col("rank").alias("_r"), F.col("dcid").alias("dcid"))
        if "rank" in names_table.columns
        else F.struct(F.col("dcid").alias("_r"), F.col("dcid").alias("dcid"))
    )
    dim = names_table.groupBy("name").agg(F.min(key).alias("_c")).select(
        "name", F.col("_c.dcid").alias("dcid")
    )
    if broadcast_names:
        dim = F.broadcast(dim)
    return submitted.join(dim, "name").select("node_id", "name", "dcid")
