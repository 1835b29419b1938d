"""Stage 3 — link: external-id mentions → dcids via broadcast join.

Re-expresses the reference's resolution join (J1-J3):
- ExternalIdResolver.java:57-152 — collect external ids, resolve
  against the Recon dictionary, map node→dcid.
- PropertyResolver.java:100-127 — first-candidate-wins + divergence
  detection.
- DcidGenerator.forPlace (DcidGenerator.java:213-229) — fallback dcid
  assignment ``<prefix>/<ext_id>`` for ids the dictionary misses.

The dictionary is a small dimension → **broadcast hash join** (no
shuffle of the big side; the skewed hot entity is harmless because a
broadcast join has no key-partitioned reduce — the explicit salting the
reference needs for Spanner writes, SpannerClient.java:305-316, is only
required for shuffle joins; see operators/skew.py for that path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from import_spark import vocabulary as V


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


def link_statements(
    extracted: DataFrame,
    dcid_dict: DataFrame,
    strategy: str = "broadcast",
    n_salts: int = 16,
    hot: list[tuple] | None = None,
    hot_min_count: int = 1_000_000,
) -> DataFrame:
    """Resolve every EXT_ID row (TRIPLE objects and DEF targets) to a dcid.

    Dictionary hit → mapped dcid; miss → priority-prefix fallback
    ``<prefix>/<ext_id>`` (DcidGenerator.java:213-229). Returns the
    input with EXT_ID rows rewritten to RESOLVED_REF.

    ``strategy="broadcast"`` (default): the dictionary fits executor
    memory — broadcast hash join, no shuffle of the big side, hot
    entities free. ``strategy="salted"``: the dictionary exceeds the
    broadcast budget (a full Recon map at 10^12-turn scale) — only the
    mention rows shuffle, joined via :func:`skew.salted_join` so hot
    entities spread over ``n_salts`` reduce tasks; non-mention rows
    bypass the shuffle entirely. Both strategies produce identical
    output (equality-tested; the salted plan is hash-gated by the
    ``j1_salted_link`` driver oracle on the same SQL as broadcast J1).
    """
    dim = prepare_dictionary(dcid_dict).withColumnRenamed("dcid", "_dict_dcid")
    # DcidGenerator.forPlace prefix mapping (isoCode→iso, nutsCode→nuts).
    prefix_expr = (
        F.when(F.col("ext_prop") == "isoCode", F.lit("iso"))
        .when(F.col("ext_prop") == "nutsCode", F.lit("nuts"))
        .otherwise(F.col("ext_prop"))
    )
    is_ext = F.col("ext_prop").isNotNull()
    resolved = F.coalesce(
        F.col("_dict_dcid"), F.concat(prefix_expr, F.lit("/"), F.col("ext_id"))
    )
    if strategy == "salted":
        from import_spark.operators.skew import salted_join

        dim_keyed = dim.withColumnRenamed("prop", "ext_prop")
        ext_rows = extracted.filter(is_ext)
        rest = extracted.filter(~is_ext)
        linked_ext = salted_join(
            ext_rows,
            dim_keyed,
            ["ext_prop", "ext_id"],
            how="left",
            n_salts=n_salts,
            hot=hot,
            hot_min_count=hot_min_count,
        )
        rewritten = (
            linked_ext.withColumn("obj", resolved)
            .withColumn("obj_type", F.lit("RESOLVED_REF"))
            .drop("_dict_dcid")
        )
        return rewritten.select(*extracted.columns).unionByName(rest)
    if strategy != "broadcast":
        raise ValueError(f"unknown link strategy {strategy!r}")
    linked = (
        extracted.join(
            F.broadcast(dim),
            on=(extracted["ext_prop"] == dim["prop"]) & (extracted["ext_id"] == dim["ext_id"]),
            how="left",
        )
        .drop("prop")
        .drop(dim["ext_id"])
    )
    return (
        linked.withColumn("obj", F.when(is_ext, resolved).otherwise(F.col("obj")))
        .withColumn(
            "obj_type", F.when(is_ext, F.lit("RESOLVED_REF")).otherwise(F.col("obj_type"))
        )
        .drop("_dict_dcid")
    )


def local_graph_dictionary_df(nodes: DataFrame) -> DataFrame:
    """J2 local-graph seed as a (prop, ext_id, dcid) DataFrame — the
    shape :func:`prepare_dictionary` and the over-budget fallback paths
    consume. Deterministic first-wins (min dcid) on conflicts."""
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


def local_graph_dictionary(nodes: DataFrame, budget_bytes: int | None = None) -> dict:
    """J2 — local-graph seeding (ExternalIdResolver.addLocalGraph,
    ExternalIdResolver.java:57-96): nodes that carry BOTH an external id
    and a dcid contribute ``(id_prop, id_value) → dcid`` entries, so
    references to those external ids resolve to the local nodes without
    a remote lookup. Deterministic first-wins (min dcid) on conflicts.

    ``nodes``: long-form (node_id, prop, value) rows. Raises
    :class:`DictionaryOverBudget` when the seed set exceeds the driver
    budget — callers use :func:`local_graph_dictionary_df` + the join
    path instead."""
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

    Fully native (regexp_extract + distinct): the id-collection pass
    reads one column and shuffles only the distinct (prop, ext_id)
    set — dimension-sized even at 10^12 turns. ``recon_table``:
    (prop, ext_id, dcid) rows, the in-sandbox Recon API stand-in.
    """
    # (?U) + _TOK: Unicode-aware tokenization, character-for-character
    # the Python extraction twin's \S (see extract.py `anchored`) —
    # without it an id followed by U+00A0-style whitespace collects a
    # corrupted working-set key
    from import_spark.operators.extract import _TOK

    tok = F.explode(
        F.array(
            F.regexp_extract("text", rf"(?U)we looked at ({_TOK}+)", 1),
            F.regexp_extract("text", rf"(?U)define (l:E\d+) = ({_TOK}+)", 2),
        )
    ).alias("tok")
    parsed = (
        transcripts.select(tok)
        .filter(F.col("tok").contains(":"))
        .select(
            F.regexp_extract("tok", r"^([A-Za-z]+):(.+)$", 1).alias("pfx"),
            F.regexp_extract("tok", r"^([A-Za-z]+):(.+)$", 2).alias("ext_id"),
        )
    )
    from import_spark.operators.extract import EXT_PREFIXES

    prop = F.col("pfx")
    for k, v in EXT_PREFIXES.items():
        prop = F.when(F.col("pfx") == k, F.lit(v)).otherwise(prop)
    working_set = (
        parsed.filter(F.col("pfx").isin(*EXT_PREFIXES))
        .select(prop.alias("prop"), "ext_id")
        .distinct()
    )
    # the Recon "batch lookup": only submitted ids come back
    return recon_table.join(working_set, ["prop", "ext_id"], "left_semi").select(
        "prop", "ext_id", "dcid"
    )


def derive_node_dictionary_df(nodes: DataFrame, recon_table: DataFrame) -> DataFrame:
    """Two-pass dictionary derivation as a (prop, ext_id, dcid)
    DataFrame (never touches the driver): pass 1 collects the distinct
    external-id working set from the parsed graph, the join against the
    offline recon table stands in for drainRemoteCalls."""
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


def derive_node_dictionary(
    nodes: DataFrame, recon_table: DataFrame, budget_bytes: int | None = None
) -> dict:
    """The same two-pass derivation over long-form MCF statement rows
    (the genmcf shape): pass 1 collects the distinct external-id
    working set from the parsed graph (ExternalIdResolver.submitNode,
    ExternalIdResolver.java:98-130), the join against the offline recon
    table stands in for drainRemoteCalls. Returns the dictionary as a
    driver dict (dimension-sized), ready for run_genmcf's dcid_dict.
    Raises :class:`DictionaryOverBudget` when the working-set hits
    exceed the driver budget — callers use
    :func:`derive_node_dictionary_df` + :func:`preassign_place_dcids`
    instead."""
    return _pairs_dict(
        _collect_dictionary_rows(derive_node_dictionary_df(nodes, recon_table), budget_bytes)
    )


def dcid_map_from_df(dcid_dict: DataFrame, budget_bytes: int | None = None) -> dict:
    """Collect the (small) dictionary to a driver dict for UDF-closure
    broadcast (the fused extract+link path). Deterministic first-wins
    per (prop, ext_id) like prepare_dictionary. Raises
    :class:`DictionaryOverBudget` when the dictionary exceeds the
    driver budget — callers fall back to :func:`link_statements`'s
    broadcast/salted join strategies.

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

    Offline stand-in, same two-pass shape as derive_node_dictionary:
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
