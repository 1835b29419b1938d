"""Driver-contract queries: SURVEY.md §2 operators re-expressed over the
TPC-H-ish test tables, each with a DuckDB-oracle SQL twin.

Every callable takes (spark, sf_dir) and returns a DataFrame whose
column names/aliases match the oracle SQL exactly (the driver compares
row-count + schema + order-insensitive value hash).

Operator ↔ query map (ids from SURVEY.md §2):
- A1  dedupe/canonicalization agg      → q_a1_dedupe
- A2  series grouping                  → q_a2_series_group
- A4  event count aggregation          → q_a4_event_counts
- A5  series mean/stddev               → q_a5_series_stats
- A6  3-sigma outliers                 → q_a6_outliers
- A7  max fluctuation (lag window)     → q_a7_fluctuation
- A10 duplicate-value conflict         → q_a10_dup_conflict
- A13 percentile aggregation           → q_a13_percentiles
- J1  broadcast entity-link join       → q_j1_broadcast_link
- J1s salted shuffle entity-link join  → q_j1_salted_link
- J5  differ (full-outer diff)         → q_j5_differ
- J6  containment type join            → q_j6_containment
- J7  hierarchy closure                → q_j7_closure
- P1  typed-value classification       → q_p1_typed_values
- P3/P4 namespace/quote strip          → q_p3_namespace_strip
- P6  date validation                  → q_p6_date_buckets
- P14 dcid sanity filter               → q_p14_dcid_sanity
- P15 object-value key (sha256)        → q_p15_object_keys
- C1  farmhash dcid (fixture lookup)   → q_c1_farmhash_ids
- O1/KG end-to-end (fixture oracle)    → q_kg_pipeline
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------- aggregations ----------------


def q_a1_dedupe(spark, sf):
    """A1: distinct statements — map-side partial agg + one shuffle."""
    return (
        _t(spark, sf, "events")
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )


SQL_A1 = "SELECT DISTINCT user_id, event_type FROM events"


def q_a2_series_group(spark, sf):
    """A2: SVObs-series grouping (PipelineUtils.java:250-306 analogue)."""
    return (
        _t(spark, sf, "events")
        .groupBy("user_id", "event_type")
        .agg(
            F.count("*").alias("n_obs"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


SQL_A2 = """
SELECT user_id, event_type, count(*) AS n_obs, min(ts) AS first_ts,
       max(ts) AS last_ts, round(sum(value), 4) AS sum_value
FROM events GROUP BY user_id, event_type
"""


def q_a4_event_counts(spark, sf):
    """A4: per-entity per-period counts (events_importer.py:152-197)."""
    from import_spark.operators.relational import event_counts

    return event_counts(_t(spark, sf, "events"), ["user_id"], "ts", "month")


SQL_A4 = """
SELECT user_id, date_trunc('month', ts) AS month, count(*) AS n_events
FROM events GROUP BY 1, 2
"""


def q_a5_series_stats(spark, sf):
    """A5: per-series mean/stddev (StatChecker.java:443-463)."""
    return (
        _t(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.avg("value"), 4).alias("mean_value"),
            F.round(F.stddev_pop("value"), 4).alias("std_value"),
        )
    )


SQL_A5 = """
SELECT event_type, round(avg(value), 4) AS mean_value,
       round(stddev_pop(value), 4) AS std_value
FROM events GROUP BY event_type
"""


def q_a6_outliers(spark, sf):
    """A6: 3-sigma outliers per series (StatChecker.java:414-436)."""
    ev = _t(spark, sf, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("_m"), F.stddev_pop("value").alias("_s")
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(F.col("value") - F.col("_m")) > 3 * F.col("_s"))
        .select("event_id", "event_type", F.round("value", 4).alias("value"))
    )


SQL_A6 = """
WITH s AS (SELECT event_type, avg(value) m, stddev_pop(value) sd FROM events GROUP BY 1)
SELECT e.event_id, e.event_type, round(e.value, 4) AS value
FROM events e JOIN s USING (event_type)
WHERE abs(e.value - s.m) > 3 * s.sd
"""


def q_a7_fluctuation(spark, sf):
    """A7: successive-point fluctuation buckets (StatChecker.java:467-512)."""
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    ev = _t(spark, sf, "events").withColumn("_prev", F.lag("value").over(w))
    delta = F.abs(F.col("value") - F.col("_prev")) / F.abs(F.col("_prev"))
    return (
        ev.filter(F.col("_prev").isNotNull() & (F.abs(F.col("_prev")) > 0.001))
        .withColumn(
            "bucket",
            F.when(delta > 5.0, F.lit("gt500")).when(delta > 1.0, F.lit("gt100")).otherwise(
                F.lit("ok")
            ),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count("*").alias("n"))
    )


SQL_A7 = """
WITH d AS (
  SELECT event_type,
         value,
         lag(value) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev
  FROM events
)
SELECT event_type,
       CASE WHEN abs(value - prev)/abs(prev) > 5.0 THEN 'gt500'
            WHEN abs(value - prev)/abs(prev) > 1.0 THEN 'gt100'
            ELSE 'ok' END AS bucket,
       count(*) AS n
FROM d WHERE prev IS NOT NULL AND abs(prev) > 0.001
GROUP BY 1, 2
"""


def q_a10_dup_conflict(spark, sf):
    """A10: same-key different-value conflicts (StatChecker.java:596-633)."""
    from import_spark.operators.relational import dup_value_conflicts

    return dup_value_conflicts(
        _t(spark, sf, "lineitem"), ["l_orderkey", "l_partkey"], "l_quantity"
    )


SQL_A10 = """
SELECT l_orderkey, l_partkey, count(DISTINCT l_quantity) AS n_values
FROM lineitem GROUP BY 1, 2 HAVING count(DISTINCT l_quantity) > 1
"""


def q_a13_percentiles(spark, sf):
    """A13: quantile aggregation (stat_var_series_aggregator.py:196-455).

    exact=True for oracle parity; at scale the library form's
    exact=False switches to percentile_approx (no per-group sort)."""
    from import_spark.operators.relational import group_percentiles

    return group_percentiles(
        _t(spark, sf, "lineitem"), ["l_returnflag"], "l_extendedprice", [0.5, 0.9]
    )


SQL_A13 = """
SELECT l_returnflag, round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90, count(*) AS n
FROM lineitem GROUP BY l_returnflag
"""


# ---------------- joins ----------------


def q_j1_broadcast_link(spark, sf):
    """J1: entity-linking broadcast join (ExternalIdResolver.java:57-152)."""
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name", "r_name")
        .agg(F.count("*").alias("n_customers"), F.round(F.sum("c_acctbal"), 2).alias("total_bal"))
    )


SQL_J1 = """
SELECT n_name, r_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS total_bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1, 2
"""


def q_j1_salted_link(spark, sf):
    """J1 scale variant: the same entity-link join through the explicit
    hot-key salted SHUFFLE join (operators/skew.py) — the path taken
    when the dictionary exceeds the broadcast budget (reference salting
    analogue: SpannerClient.java:305-316). Half the nation keys are
    pinned hot (replicated over 8 salts), half cold (single dim copy),
    so both branches of the operator are under the J1 value hash."""
    from import_spark.operators.skew import salted_join

    c = _t(spark, sf, "customer").withColumnRenamed("c_nationkey", "nationkey")
    n = _t(spark, sf, "nation").withColumnRenamed("n_nationkey", "nationkey")
    r = _t(spark, sf, "region")
    j = salted_join(
        c, n, ["nationkey"], how="inner", n_salts=8, hot=[(k,) for k in range(13)]
    )
    return (
        j.join(F.broadcast(r), j["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name", "r_name")
        .agg(F.count("*").alias("n_customers"), F.round(F.sum("c_acctbal"), 2).alias("total_bal"))
    )


def q_j5_differ(spark, sf):
    """J5: current-vs-previous full-outer diff (DifferUtils.java:97-140).

    Snapshots: orders before/after the median date; key = o_orderkey;
    diff on o_orderstatus.
    """
    o = _t(spark, sf, "orders")
    cur = o.filter(F.year("o_orderdate") >= 1995).select(
        "o_orderkey", F.col("o_orderstatus").alias("cur_v")
    )
    prev = o.filter(F.year("o_orderdate") < 1995).select(
        "o_orderkey", F.col("o_orderstatus").alias("prev_v")
    )
    j = cur.join(prev, "o_orderkey", "full_outer")
    return (
        j.withColumn(
            "diff_type",
            F.when(F.col("prev_v").isNull(), "ADDED")
            .when(F.col("cur_v").isNull(), "DELETED")
            .when(F.col("cur_v") != F.col("prev_v"), "MODIFIED")
            .otherwise("UNCHANGED"),
        )
        .groupBy("diff_type")
        .agg(F.count("*").alias("n"))
    )


SQL_J5 = """
WITH cur AS (SELECT o_orderkey, o_orderstatus v FROM orders WHERE year(o_orderdate) >= 1995),
     prev AS (SELECT o_orderkey, o_orderstatus v FROM orders WHERE year(o_orderdate) < 1995)
SELECT CASE WHEN prev.v IS NULL THEN 'ADDED'
            WHEN cur.v IS NULL THEN 'DELETED'
            WHEN cur.v <> prev.v THEN 'MODIFIED'
            ELSE 'UNCHANGED' END AS diff_type, count(*) AS n
FROM cur FULL OUTER JOIN prev USING (o_orderkey)
GROUP BY 1
"""


def q_j6_containment(spark, sf):
    """J6: containment + MIN(parent) (place_aggregation_generator.py:131-184)."""
    from import_spark.operators.relational import containment_rollup

    return containment_rollup(
        _t(spark, sf, "nation"),
        _t(spark, sf, "region"),
        "n_regionkey",
        "r_regionkey",
        ["r_name"],
        [F.min("n_name").alias("first_nation"), F.count("*").alias("n_nations")],
    )


SQL_J6 = """
SELECT r_name, min(n_name) AS first_nation, count(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey GROUP BY 1
"""


def q_j7_closure(spark, sf):
    """J7: multi-level hierarchy closure (linked_edge_generator.py:87-128).

    lineitem → orders → customer → nation: an iterative frontier loop
    (bounded, localCheckpoint per level — the Spark shape of the
    reference's 20-level recursion) materializing the leaf→ancestor
    edge set; broadcast the small parent maps.
    """
    from import_spark.operators.relational import ancestor_closure

    # level maps: child → parent
    levels = [
        _t(spark, sf, "orders").select(
            F.col("o_orderkey").alias("child"), F.col("o_custkey").alias("parent")
        ),
        _t(spark, sf, "customer").select(
            F.col("c_custkey").alias("child"), F.col("c_nationkey").cast("long").alias("parent")
        ),
    ]
    closure = ancestor_closure(
        _t(spark, sf, "lineitem").select(F.col("l_orderkey").alias("leaf")),
        levels,
    )
    return closure.groupBy(F.col("anc").cast("int").alias("nationkey")).agg(
        F.count("*").alias("n_leaves")
    )


SQL_J7 = """
SELECT c.c_nationkey AS nationkey, count(*) AS n_leaves
FROM (SELECT DISTINCT l_orderkey FROM lineitem) l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1
"""


# ---------------- scalar-function projections ----------------


def q_p1_typed_values(spark, sf):
    """P1: typed-value classification of raw tokens (McfParser.java:336-437),
    applied to document text split into whitespace tokens — the native-
    expression variant of the parse chain."""
    toks = (
        _t(spark, sf, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    vt = (
        F.when(F.col("tok").startswith('"'), "TEXT")
        .when(F.col("tok").startswith("["), "COMPLEX_VALUE")
        .when(F.col("tok").rlike("^(dcid|dcs|schema):"), "RESOLVED_REF")
        .when(F.col("tok").startswith("l:"), "UNRESOLVED_REF")
        .when(F.col("tok").rlike(r"\A[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?\z"), "NUMBER")
        .when(F.lower(F.col("tok")).isin("true", "false"), "NUMBER")
        .otherwise("TEXT")
    )
    return toks.select(vt.alias("value_type")).groupBy("value_type").agg(
        F.count("*").alias("n")
    )


SQL_P1 = r"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
)
SELECT CASE
  WHEN tok LIKE '"%' THEN 'TEXT'
  WHEN tok LIKE '[%' THEN 'COMPLEX_VALUE'
  WHEN regexp_matches(tok, '^(dcid|dcs|schema):') THEN 'RESOLVED_REF'
  WHEN tok LIKE 'l:%' THEN 'UNRESOLVED_REF'
  WHEN regexp_matches(tok, '^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?$') THEN 'NUMBER'
  WHEN lower(tok) IN ('true','false') THEN 'NUMBER'
  ELSE 'TEXT' END AS value_type,
  count(*) AS n
FROM toks WHERE tok <> ''
GROUP BY 1
"""


def q_p3_namespace_strip(spark, sf):
    """P3/P4: namespace strip as native regexp (McfUtil.java:164-171)."""
    return _t(spark, sf, "part").select(
        "p_partkey",
        F.regexp_replace(F.col("p_type"), "^(dcid|dcs|schema):", "").alias("stripped_type"),
        F.regexp_replace(F.col("p_brand"), '^"|"$', "").alias("stripped_brand"),
    )


SQL_P3 = """
SELECT p_partkey, regexp_replace(p_type, '^(dcid|dcs|schema):', '', 'g') AS stripped_type,
       regexp_replace(p_brand, '^"|"$', '', 'g') AS stripped_brand
FROM part
"""


def q_p6_date_buckets(spark, sf):
    """P6: date-granularity classification (StringUtil.java:42-59)."""
    d = _t(spark, sf, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("ds")
    )
    return (
        d.select(F.length("ds").alias("date_len"))
        .groupBy("date_len")
        .agg(F.count("*").alias("n"))
    )


SQL_P6 = """
SELECT length(strftime(o_orderdate, '%Y-%m-%d')) AS date_len, count(*) AS n
FROM orders GROUP BY 1
"""


def q_p14_dcid_sanity(spark, sf):
    """P14: id charset/length sanity filter (McfChecker.java:579-603)."""
    return (
        _t(spark, sf, "documents")
        .filter(
            (F.length("source") <= 256)
            & F.col("source").rlike(r"\A[a-zA-Z0-9_/\-\.&:%\(\) ]+\z")
        )
        .groupBy("source")
        .agg(F.count("*").alias("n"))
    )


SQL_P14 = r"""
SELECT source, count(*) AS n FROM documents
WHERE length(source) <= 256 AND regexp_matches(source, '^[a-zA-Z0-9_/\-\.&:%\(\) ]+$')
GROUP BY source
"""


def q_p15_object_keys(spark, sf):
    """P15: literal-node key prefix16:sha256 (PipelineUtils.java:450-455)."""
    return _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.substring(F.trim(F.col("text")), 1, 16), F.lit(":"), F.sha2(F.trim(F.col("text")), 256)
        ).alias("object_key"),
    )


SQL_P15 = """
SELECT doc_id, substring(trim(text), 1, 16) || ':' || sha256(trim(text)) AS object_key
FROM documents
"""


def q_p8_complex_values(spark, sf):
    """P8: complex-value parse → (dcid, name, typeOf)
    (ComplexValueParser.java:23-344). Eight deterministic shapes built
    from the events table — unit-first/unit-last quantity, closed/open
    ranges, numeric and N/S/E/W LatLong (E5 rounding), a dcs: namespace
    strip, and a malformed case → NULLs — parsed by the REAL operator
    (``col_complex_value``, the JVM twin of functions/complex_values.py);
    the DuckDB twin re-derives every output from the reference rules in
    SQL."""
    from import_spark.functions.complex_values import col_complex_value

    e = _t(spark, sf, "events").select(
        "event_id",
        (F.col("user_id") % 100).cast("string").alias("a"),
        (F.col("user_id") % 100 + 5).cast("string").alias("b"),
        F.concat((F.col("user_id") % 175 - 87).cast("string"), F.lit(".25")).alias("lat"),
        F.concat((F.col("user_id") % 355 - 177).cast("string"), F.lit(".5")).alias("lng"),
        (F.col("event_id") % 8).alias("c"),
    )
    lat_sfx = F.when(
        F.col("lat").startswith("-"), F.concat(F.expr("substring(lat, 2)"), F.lit("S"))
    ).otherwise(F.concat(F.col("lat"), F.lit("N")))
    lng_sfx = F.when(
        F.col("lng").startswith("-"), F.concat(F.expr("substring(lng, 2)"), F.lit("W"))
    ).otherwise(F.concat(F.col("lng"), F.lit("E")))
    cv = (
        F.when(F.col("c") == 0, F.format_string("[Years %s]", "a"))
        .when(F.col("c") == 1, F.format_string("[%s dcs:Years]", "a"))
        .when(F.col("c") == 2, F.format_string("[Years %s %s]", "a", "b"))
        .when(F.col("c") == 3, F.format_string("[Years - %s]", "b"))
        .when(F.col("c") == 4, F.format_string("[Years %s -]", "a"))
        .when(F.col("c") == 5, F.format_string("[LatLong %s %s]", "lat", "lng"))
        .when(F.col("c") == 6, F.concat(F.lit("[LatLong "), lat_sfx, F.lit(" "), lng_sfx, F.lit("]")))
        .otherwise(F.lit("[Years abc]"))
    )

    return (
        e.select("event_id", cv.alias("cv"))
        .withColumn("p", col_complex_value(F.col("cv")))
        .select("event_id", "cv", "p.dcid", "p.name", "p.type_of")
    )


SQL_P8 = """
WITH e AS (
  SELECT event_id,
         CAST(user_id % 100 AS VARCHAR) AS a,
         CAST(user_id % 100 + 5 AS VARCHAR) AS b,
         CAST(user_id % 175 - 87 AS VARCHAR) || '.25' AS lat,
         CAST(user_id % 355 - 177 AS VARCHAR) || '.5' AS lng,
         event_id % 8 AS c
  FROM events
),
built AS (
  SELECT event_id, c, a, b, lat, lng,
    CAST(floor(1e5 * CAST(lat AS DOUBLE) + 0.5) AS BIGINT) AS lat_e5,
    CAST(floor(1e5 * CAST(lng AS DOUBLE) + 0.5) AS BIGINT) AS lng_e5,
    CASE c
      WHEN 0 THEN '[Years ' || a || ']'
      WHEN 1 THEN '[' || a || ' dcs:Years]'
      WHEN 2 THEN '[Years ' || a || ' ' || b || ']'
      WHEN 3 THEN '[Years - ' || b || ']'
      WHEN 4 THEN '[Years ' || a || ' -]'
      WHEN 5 THEN '[LatLong ' || lat || ' ' || lng || ']'
      WHEN 6 THEN '[LatLong '
        || CASE WHEN lat LIKE '-%' THEN substring(lat, 2) || 'S' ELSE lat || 'N' END
        || ' '
        || CASE WHEN lng LIKE '-%' THEN substring(lng, 2) || 'W' ELSE lng || 'E' END
        || ']'
      ELSE '[Years abc]'
    END AS cv
  FROM e
)
SELECT event_id, cv,
  CASE
    WHEN c IN (0, 1) THEN 'Years' || a
    WHEN c = 2 THEN 'Years' || a || 'To' || b
    WHEN c = 3 THEN 'YearsUpto' || b
    WHEN c = 4 THEN 'Years' || a || 'Onwards'
    WHEN c IN (5, 6) THEN 'latLong/' || CAST(lat_e5 AS VARCHAR) || '_' || CAST(lng_e5 AS VARCHAR)
  END AS dcid,
  CASE
    WHEN c IN (0, 1) THEN 'Years ' || a
    WHEN c = 2 THEN 'Years ' || a || ' To ' || b
    WHEN c = 3 THEN 'Years UpTo ' || b
    WHEN c = 4 THEN 'Years ' || a || ' Onwards'
    WHEN c IN (5, 6) THEN printf('%.5f,%.5f', lat_e5 / 1e5, lng_e5 / 1e5)
  END AS name,
  CASE
    WHEN c IN (0, 1) THEN 'Quantity'
    WHEN c IN (2, 3, 4) THEN 'QuantityRange'
    WHEN c IN (5, 6) THEN 'GeoCoordinates'
  END AS type_of
FROM built
"""


def q_s10_provenance_overwrite(spark, sf):
    """S10: delete-before-write per provenance (SpannerClient.java:
    92-137) by value: write a 3-provenance observation table, re-import
    provenance prov1 with HALF its rows at doubled values through
    sinks.overwrite_provenance, read the table back. The final state
    must show prov0/prov2 untouched and prov1 fully REPLACED (dropped
    rows gone — dynamic partition overwrite, not append); re-running
    the query is idempotent, so the oracle is exact."""
    import os as _os
    import tempfile as _tf

    from import_spark.sinks import overwrite_provenance

    ev = _t(spark, sf, "events")
    obs = ev.select(
        F.col("event_id").alias("obs_id"),
        F.col("event_type").alias("variable"),
        F.col("value"),
        F.concat(F.lit("prov"), (F.col("user_id") % 3).cast("string")).alias("provenance"),
    )
    tag = str(sf).strip("/").replace("/", "_")
    path = _os.path.join(_tf.gettempdir(), f"import_spark_s10_{tag}")
    obs.write.mode("overwrite").partitionBy("provenance").parquet(path)
    reimport = (
        obs.filter((F.col("provenance") == "prov1") & (F.col("obs_id") % 2 == 0))
        .withColumn("value", F.col("value") * 2)
        .drop("provenance")
    )
    overwrite_provenance(reimport, path, "prov1")
    return spark.read.parquet(path).select("obs_id", "variable", "value", "provenance")


SQL_S10 = """
WITH obs AS (
  SELECT event_id AS obs_id, event_type AS variable, value,
         'prov' || CAST(user_id % 3 AS VARCHAR) AS provenance
  FROM events
)
SELECT obs_id, variable, value, provenance FROM obs WHERE provenance <> 'prov1'
UNION ALL
SELECT obs_id, variable, value * 2 AS value, provenance
FROM obs WHERE provenance = 'prov1' AND obs_id % 2 = 0
"""


def q_j3_coordinates(spark, sf):
    """J3: coordinates→place join (CoordinatesResolver.java:35-95) via
    the REAL operator (link.resolve_coordinates): long-form lat/lng
    node rows built from events (every 13th latitude malformed → the
    node drops out), a small coord dimension from every 17th event
    (first-candidate-wins min dcid), E5-quantized broadcast join with
    latLong/<e5>_<e5> fallback for misses."""
    from import_spark.operators.link import resolve_coordinates

    ev = _t(spark, sf, "events")
    lat_expr = (F.col("user_id") % 179) - 89 + F.lit(0.25)
    lng_expr = (F.col("event_id") % 359) - 179 + F.lit(0.25)
    lat_rows = ev.select(
        F.col("event_id").alias("node_id"),
        F.lit("latitude").alias("prop"),
        F.when(F.col("event_id") % 13 == 0, F.lit("bad"))
        .otherwise(lat_expr.cast("string"))
        .alias("value"),
    )
    lng_rows = ev.select(
        F.col("event_id").alias("node_id"),
        F.lit("longitude").alias("prop"),
        lng_expr.cast("string").alias("value"),
    )
    dim = ev.filter(F.col("event_id") % 17 == 0).select(
        lat_expr.alias("lat"),
        lng_expr.alias("lng"),
        F.concat(F.lit("place/"), (F.col("event_id") % 997).cast("string")).alias("dcid"),
    )
    return resolve_coordinates(lat_rows.unionByName(lng_rows), dim)


SQL_J3 = """
WITH ev AS (
  SELECT event_id,
         (user_id % 179) - 89 + 0.25 AS lat,
         (event_id % 359) - 179 + 0.25 AS lng
  FROM events
),
keyed AS (
  SELECT event_id AS node_id,
         CAST(floor(lat * 1e5 + 0.5) AS BIGINT) AS lk,
         CAST(floor(lng * 1e5 + 0.5) AS BIGINT) AS gk
  FROM ev WHERE event_id % 13 <> 0
),
dim AS (
  SELECT CAST(floor(lat * 1e5 + 0.5) AS BIGINT) AS lk,
         CAST(floor(lng * 1e5 + 0.5) AS BIGINT) AS gk,
         min('place/' || CAST(event_id % 997 AS VARCHAR)) AS place
  FROM ev WHERE event_id % 17 = 0
  GROUP BY 1, 2
)
SELECT k.node_id,
       coalesce(d.place,
                'latLong/' || CAST(k.lk AS VARCHAR) || '_' || CAST(k.gk AS VARCHAR))
         AS place_dcid
FROM keyed k LEFT JOIN dim d USING (lk, gk)
"""


def q_name_resolution(spark, sf):
    """Name-based resolution (NameResolver.java:17-98) via the REAL
    operator (link.resolve_names): long-form name rows built from
    customers — every 5th name is an UNRESOLVED_REF value (skipped by
    NameResolver.getValue's TEXT/NUMBER filter), every 11th node carries
    a second name that wins the pinned first-value pick but misses the
    index, every 7th name is absent from the index (unresolved), and
    every 13th name has a second rank-0 candidate (first-candidate-wins
    takes it over the rank-1 entry)."""
    from import_spark.operators.link import resolve_names

    c = _t(spark, sf, "customer")
    nid = F.concat(F.lit("n"), F.col("c_custkey")).alias("node_id")
    base = c.select(
        nid,
        F.lit("name").alias("prop"),
        F.when(F.col("c_custkey") % 5 == 0, F.lit("UNRESOLVED_REF"))
        .otherwise(F.lit("TEXT"))
        .alias("value_type"),
        F.col("c_name").alias("value"),
    )
    extra = c.filter(F.col("c_custkey") % 11 == 0).select(
        nid,
        F.lit("name").alias("prop"),
        F.lit("TEXT").alias("value_type"),
        F.concat(F.lit("AA "), F.col("c_name")).alias("value"),
    )
    dim = c.filter(F.col("c_custkey") % 7 != 0).select(
        F.col("c_name").alias("name"),
        F.concat(F.lit("dc/c/"), F.col("c_custkey")).alias("dcid"),
        F.lit(1).alias("rank"),
    )
    dup = c.filter(F.col("c_custkey") % 13 == 0).select(
        F.col("c_name").alias("name"),
        F.concat(F.lit("dc/dup/"), F.col("c_custkey")).alias("dcid"),
        F.lit(0).alias("rank"),
    )
    out = resolve_names(base.unionByName(extra), dim.unionByName(dup))
    return out.orderBy("node_id")


SQL_NAME_RESOLUTION = """
WITH rows AS (
  SELECT 'n' || c_custkey AS node_id,
         CASE WHEN c_custkey % 5 = 0 THEN 'UNRESOLVED_REF' ELSE 'TEXT' END AS value_type,
         c_name AS value
  FROM customer
  UNION ALL
  SELECT 'n' || c_custkey, 'TEXT', 'AA ' || c_name
  FROM customer WHERE c_custkey % 11 = 0
),
submitted AS (
  SELECT node_id, min(value) AS name
  FROM rows WHERE value_type IN ('TEXT', 'NUMBER')
  GROUP BY node_id
),
dim0 AS (
  SELECT c_name AS name, 'dc/c/' || c_custkey AS dcid, 1 AS rank
  FROM customer WHERE c_custkey % 7 <> 0
  UNION ALL
  SELECT c_name, 'dc/dup/' || c_custkey, 0
  FROM customer WHERE c_custkey % 13 = 0
),
dim AS (
  SELECT name, dcid FROM (
    SELECT name, dcid,
           row_number() OVER (PARTITION BY name ORDER BY rank, dcid) AS rn
    FROM dim0
  ) WHERE rn = 1
)
SELECT s.node_id, s.name, d.dcid
FROM submitted s JOIN dim d USING (name)
ORDER BY s.node_id
"""


# ---------------- non-SQL-expressible (rows-only check) ----------------


def q_c1_farmhash_ids(spark, sf):
    """C1: farmhash64→base32 dcid assignment on the JVM (``col_long_id``,
    DcidGenerator.java:354-375). DuckDB has no farmhash, so the oracle
    (SQL_C1) joins ids from a fixture lookup pre-computed by the
    pure-Python fingerprint64 twin — bit-parity-gated against JVM Guava
    in tests/test_farmhash.py (contract_fixtures.ensure_c1_fixture)."""
    from import_spark.functions.dcids import col_long_id
    from import_spark.jvm import register_long_id

    register_long_id(spark)
    dcid = F.concat(F.lit("dc/"), col_long_id(F.col("text")))
    return _t(spark, sf, "documents").select("doc_id", dcid.alias("dcid"))


def q_kg_pipeline(spark, sf):
    """O1 + full KG construction, oracle-gated: runs on the
    fixture-materialized 100-conversation transcript table (identical
    content to ``generate_transcripts(spark, 100)``) so the DuckDB twin
    (SQL_KG_PIPELINE) can recompute the full triple set — extraction,
    linking, local-ref fixpoint with divergence/cycle quarantine,
    sameAs connected components, canonical rewrite — independently,
    with only the farmhash ids pre-joined from lookup tables (the
    c1_farmhash_ids exemption)."""
    import os as _os

    from import_spark.contract_fixtures import ensure_kg_fixtures
    from import_spark.plans.kg_pipeline import run_pipeline
    from import_spark.sources.transcripts import dcid_dictionary

    base = ensure_kg_fixtures()
    tr = spark.read.parquet(_os.path.join(base, "transcripts.parquet"))
    res = run_pipeline(
        spark, tr, dcid_dictionary(spark), verify_text_invariant=False
    )
    return res.triples.select("subj", "pred", "obj_type", "obj")


def q_kg_full_resolution(spark, sf):
    """FULL-resolution two-pass variant of the flagship
    (Processor.java:82-86,451-497): the dictionary is NOT passed in —
    pass 1 scans the input, collects the distinct external-id working
    set and joins the offline Recon dimension
    (operators/link.py:derive_transcript_dictionary); pass 2 runs the
    ordinary pipeline with the derived dictionary. Ids absent from the
    input cannot affect linking, so the result — and the DuckDB
    oracle — is identical to kg_pipeline's."""
    import os as _os

    from import_spark.contract_fixtures import ensure_kg_fixtures
    from import_spark.operators.link import derive_transcript_dictionary
    from import_spark.plans.kg_pipeline import run_pipeline
    from import_spark.sources.transcripts import dcid_dictionary

    base = ensure_kg_fixtures()
    tr = spark.read.parquet(_os.path.join(base, "transcripts.parquet"))
    derived = derive_transcript_dictionary(tr, dcid_dictionary(spark))
    res = run_pipeline(spark, tr, derived, verify_text_invariant=False)
    return res.triples.select("subj", "pred", "obj_type", "obj")


def q_kg_streaming(spark, sf):
    """Structured-Streaming variant of the flagship, gated by the SAME
    DuckDB triple oracle: the fixture transcripts (split into several
    files → several micro-batches) are drained by an
    ``Trigger.AvailableNow`` stream that writes the pipeline's extract+link
    output in ``run_pipeline``'s checkpoint layout with exactly-once
    per-batch partitions (streaming/incremental.py:
    ingest_to_pipeline_snapshot); the batch pipeline then RESUMES from
    the streamed snapshot (asserted — a silent batch regeneration would
    un-gate the streaming path) and produces the identical triple set."""
    import os as _os
    import tempfile as _tf

    from import_spark.contract_fixtures import ensure_kg_fixtures
    from import_spark.plans.kg_pipeline import run_pipeline
    from import_spark.sources.transcripts import dcid_dictionary
    from import_spark.streaming.incremental import ingest_to_pipeline_snapshot

    base = ensure_kg_fixtures()
    # salt the reusable temp root with a digest of the code that shapes
    # the snapshot: the stream-offset checkpoint outlives the process,
    # and a snapshot drained by OLD code must not satisfy a NEW code's
    # oracle run (the digest marker covers the input, not the code)
    import hashlib as _hl

    import import_spark.operators.extract as _xm
    import import_spark.operators.link as _lm
    import import_spark.plans.kg_pipeline as _km
    import import_spark.streaming.incremental as _im

    code = b"".join(open(m.__file__, "rb").read() for m in (_xm, _lm, _km, _im))
    root = _os.path.join(
        _tf.gettempdir(),
        f"import_spark_kg_stream_{_hl.sha256(code).hexdigest()[:12]}",
    )
    in_dir = _os.path.join(root, "input")
    ckpt = _os.path.join(root, "ckpt")
    marker = _os.path.join(in_dir, "_SPLIT_DONE")
    if not _os.path.exists(marker):
        import pandas as _pd

        _os.makedirs(in_dir, exist_ok=True)
        tr_pdf = _pd.read_parquet(_os.path.join(base, "transcripts.parquet"))
        # deterministic 6-way split by conversation → >1 micro-batch
        # at maxFilesPerTrigger=2
        part = tr_pdf["conv_id"].str.split("/").str[1].astype(int) % 6
        for p in sorted(part.unique()):
            tr_pdf[part == p].to_parquet(
                _os.path.join(in_dir, f"part-{p}.parquet"), index=False
            )
        with open(marker, "w") as f:
            f.write("ok")
    dcid_dict = dcid_dictionary(spark)
    ingest_to_pipeline_snapshot(
        spark, in_dir, ckpt, dcid_dict, run_id="stream", max_files_per_trigger=2
    )
    tr = spark.read.parquet(in_dir)
    res = run_pipeline(
        spark, tr, dcid_dict, checkpoint_dir=ckpt, run_id="stream",
        keep_snapshot=True,
    )
    assert any(
        r["counter"] == "resumed_from_checkpoint" for r in res.metrics
    ), "pipeline must resume from the STREAMED snapshot"
    return res.triples.select("subj", "pred", "obj_type", "obj")


def _build_kg_sql() -> str:
    """DuckDB twin of the full KG pipeline over the fixture transcripts.

    Mirrors import_spark/oracle.py (itself P/R-gated against the Spark
    pipeline at 1.0/1.0) statement-for-statement in SQL; farmhash node
    ids come from the fixture lookup tables, everything else is
    computed by DuckDB."""
    from import_spark.contract_fixtures import ensure_kg_fixtures
    from import_spark.sources.transcripts import build_dcid_dictionary

    base = ensure_kg_fixtures()
    d = build_dcid_dictionary()
    dict_rows = ",\n    ".join(
        "('{}','{}','{}')".format(p, e, c) for p, e, c in d.itertuples(index=False)
    )
    sql = r"""
WITH RECURSIVE
tr AS (SELECT conv_id, turn_idx, role, text, tool FROM '@BASE@/transcripts.parquet'),
nodes AS (SELECT * FROM '@BASE@/farmhash_nodes.parquet'),
obsid AS (SELECT * FROM '@BASE@/obs_ids.parquet'),
t AS (SELECT tr.*, n.turn_node AS turn, n.conv_node AS cnode
      FROM tr JOIN nodes n USING (conv_id, turn_idx)),
dict0 (prop, ext_id, dcid) AS (VALUES
    @DICT@),
-- first-wins on sorted dcid (PropertyResolver.java:113)
dict AS (SELECT prop, ext_id, min(dcid) AS dcid FROM dict0 GROUP BY 1, 2),

-- statement extraction (one statement per turn by construction)
mention AS (
  SELECT turn, regexp_extract(text, 'we looked at (\S+)', 1) AS tok
  FROM t WHERE regexp_matches(text, 'we looked at ')),
def0 AS (
  SELECT conv_id, turn,
         regexp_extract(text, 'define (l:E\d+) = (\S+)', 1) AS local,
         regexp_extract(text, 'define (l:E\d+) = (\S+)', 2) AS tgt
  FROM t WHERE regexp_matches(text, 'define l:E')),

-- entity linking: dictionary first, prefix fallback, dcid: strip
tok_in AS (
  SELECT 'M' AS kind, turn AS ctx1, '' AS ctx2, tok FROM mention
  UNION ALL
  SELECT 'D', conv_id, local, tgt FROM def0 WHERE tgt NOT LIKE 'l:%'),
tok_parsed AS (
  SELECT kind, ctx1, ctx2, tok,
         regexp_extract(tok, '^([A-Za-z]+):(.+)$', 1) AS pfx,
         regexp_extract(tok, '^([A-Za-z]+):(.+)$', 2) AS rest
  FROM tok_in),
tok_linked AS (
  SELECT kind, ctx1, ctx2,
    CASE
      WHEN pfx = 'dcid' THEN rest
      WHEN pfx IN ('iso', 'wikidataId', 'nuts', 'unData') THEN
        coalesce(d.dcid,
          CASE pfx WHEN 'iso' THEN 'iso' WHEN 'nuts' THEN 'nuts'
                   WHEN 'wikidataId' THEN 'wikidataId'
                   ELSE 'unDataCode' END || '/' || rest)
      ELSE tok
    END AS obj
  FROM tok_parsed
  LEFT JOIN dict d
    ON d.prop = CASE pfx WHEN 'iso' THEN 'isoCode' WHEN 'wikidataId' THEN 'wikidataId'
                         WHEN 'nuts' THEN 'nutsCode' WHEN 'unData' THEN 'unDataCode' END
   AND d.ext_id = rest),

-- local-ref definitions: distinct post-link targets per (conv, local)
dset AS (
  SELECT DISTINCT conv_id, local, tk, tv FROM (
    SELECT conv_id, local, 'L' AS tk, tgt AS tv FROM def0 WHERE tgt LIKE 'l:%'
    UNION ALL
    SELECT ctx1 AS conv_id, ctx2 AS local, 'D', obj FROM tok_linked WHERE kind = 'D')),
-- divergence quarantine: >1 distinct target fails the local
clean AS (
  SELECT conv_id, local, any_value(tk) AS tk, any_value(tv) AS tv
  FROM dset GROUP BY conv_id, local HAVING count(*) = 1),
-- chain fixpoint; depth cap > max locals per conv bounds cycles
walk (conv_id, local, tk, tv, depth) AS (
  SELECT conv_id, local, tk, tv, 0 FROM clean
  UNION ALL
  SELECT w.conv_id, w.local, c.tk, c.tv, w.depth + 1
  FROM walk w JOIN clean c ON c.conv_id = w.conv_id AND c.local = w.tv
  WHERE w.tk = 'L' AND w.depth < 12),
resolved AS (
  SELECT conv_id, local, min(tv) AS dcid FROM walk WHERE tk = 'D' GROUP BY 1, 2),
use0 AS (
  SELECT conv_id, turn, 'defines' AS pred, local FROM def0
  UNION ALL
  SELECT conv_id, turn, 'references', regexp_extract(text, 'see (l:E\d+)', 1)
  FROM t WHERE regexp_matches(text, 'see l:E')),

-- observations: key → dc/o/ id from the lookup
ob0 AS (
  SELECT turn,
         regexp_extract(text, 'observe (\S+) (\S+) (\S+) = (\S+)( unit (\S+))?', 1) AS place,
         regexp_extract(text, 'observe (\S+) (\S+) (\S+) = (\S+)( unit (\S+))?', 2) AS var,
         regexp_extract(text, 'observe (\S+) (\S+) (\S+) = (\S+)( unit (\S+))?', 3) AS date,
         regexp_extract(text, 'observe (\S+) (\S+) (\S+) = (\S+)( unit (\S+))?', 4) AS val,
         regexp_extract(text, 'observe (\S+) (\S+) (\S+) = (\S+)( unit (\S+))?', 6) AS unit
  FROM t WHERE regexp_matches(text, 'observe ')),
ob AS (
  SELECT o.turn, o.place, o.var, o.date, o.val, o.unit, i.obs_node
  FROM ob0 o JOIN obsid i
    ON i.place = o.place AND i.var = o.var AND i.date = o.date
   AND i.val = o.val AND i.unit = o.unit
  WHERE regexp_matches(o.date, '^\d{4}(-\d{2})?(-\d{2})?$')),

-- complex values (the grammar emits [Years a b] and [LatLong x y])
cx0 AS (
  SELECT turn, regexp_extract(text, '(range|at coords) (\[[^\]]*\])', 2) AS cvs
  FROM t WHERE regexp_matches(text, '(range|at coords) \[')),
cxq AS (
  SELECT turn,
         regexp_extract(cvs, '^\[Years (\d+) (\d+)\]$', 1) AS a,
         regexp_extract(cvs, '^\[Years (\d+) (\d+)\]$', 2) AS b
  FROM cx0 WHERE regexp_matches(cvs, '^\[Years (\d+) (\d+)\]$')),
cxg0 AS (
  SELECT turn,
         regexp_extract(cvs, '^\[LatLong (-?[\d\.]+) (-?[\d\.]+)\]$', 1) AS lat_s,
         regexp_extract(cvs, '^\[LatLong (-?[\d\.]+) (-?[\d\.]+)\]$', 2) AS lng_s
  FROM cx0 WHERE regexp_matches(cvs, '^\[LatLong (-?[\d\.]+) (-?[\d\.]+)\]$')),
cxg AS (
  SELECT turn, lat_s, lng_s,
         CAST(floor(1e5 * CAST(lat_s AS DOUBLE) + 0.5) AS BIGINT) AS lat5,
         CAST(floor(1e5 * CAST(lng_s AS DOUBLE) + 0.5) AS BIGINT) AS lng5
  FROM cxg0
  WHERE CAST(lat_s AS DOUBLE) BETWEEN -90 AND 90
    AND CAST(lng_s AS DOUBLE) BETWEEN -180 AND 180),
cxq_n AS (SELECT turn, 'Years' || a || 'To' || b AS dcid,
                 'Years ' || a || ' To ' || b AS name, a, b FROM cxq),
cxg_n AS (SELECT turn, 'latLong/' || lat5 || '_' || lng5 AS dcid,
                 printf('%.5f,%.5f', lat5 / 1e5, lng5 / 1e5) AS name,
                 lat_s, lng_s FROM cxg),

-- sameAs edges + connected components (min-label canon)
sa AS (
  SELECT regexp_extract(text, 'sameAs (\S+) (\S+)', 1) AS a,
         regexp_extract(text, 'sameAs (\S+) (\S+)', 2) AS b
  FROM t WHERE regexp_matches(text, 'sameAs ')),
edges AS (SELECT a, b FROM sa WHERE a <> b UNION SELECT b, a FROM sa WHERE a <> b),
reach (a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a),
canon AS (SELECT a AS node, least(a, min(b)) AS canon FROM reach GROUP BY a),

all_triples AS (
  SELECT turn AS subj, 'typeOf' AS pred, 'RESOLVED_REF' AS obj_type,
         'ConversationTurn' AS obj FROM t
  UNION ALL SELECT turn, 'partOf', 'RESOLVED_REF', cnode FROM t
  UNION ALL SELECT cnode, 'typeOf', 'RESOLVED_REF', 'Conversation' FROM t
  UNION ALL SELECT turn, 'role', 'TEXT', role FROM t
  UNION ALL SELECT turn, 'toolUsed', 'TEXT', tool FROM t WHERE tool <> ''
  UNION ALL SELECT ctx1, 'mentions', 'RESOLVED_REF', obj FROM tok_linked WHERE kind = 'M'
  UNION ALL SELECT turn, 'says', 'TEXT', regexp_extract(text, 'note "([^"]*)"', 1)
            FROM t WHERE regexp_matches(text, 'note "')
  UNION ALL SELECT turn, 'value', 'NUMBER', regexp_extract(text, 'metric is (-?\d+(\.\d+)?)', 1)
            FROM t WHERE regexp_matches(text, 'metric is -?\d')
  UNION ALL SELECT u.turn, u.pred, 'RESOLVED_REF', r.dcid
            FROM use0 u JOIN resolved r USING (conv_id, local)
  UNION ALL SELECT turn, 'observes', 'RESOLVED_REF', obs_node FROM ob
  UNION ALL SELECT obs_node, 'typeOf', 'RESOLVED_REF', 'StatVarObservation' FROM ob
  UNION ALL SELECT obs_node, 'observationAbout', 'RESOLVED_REF', place FROM ob
  UNION ALL SELECT obs_node, 'variableMeasured', 'RESOLVED_REF', var FROM ob
  UNION ALL SELECT obs_node, 'observationDate', 'TEXT', date FROM ob
  UNION ALL SELECT obs_node, 'value', 'NUMBER', val FROM ob
  UNION ALL SELECT obs_node, 'unit', 'RESOLVED_REF', unit FROM ob WHERE unit <> ''
  UNION ALL SELECT turn, 'quantity', 'RESOLVED_REF', dcid FROM cxq_n
  UNION ALL SELECT dcid, 'typeOf', 'RESOLVED_REF', 'QuantityRange' FROM cxq_n
  UNION ALL SELECT dcid, 'name', 'TEXT', name FROM cxq_n
  UNION ALL SELECT dcid, 'startValue', 'NUMBER', a FROM cxq_n
  UNION ALL SELECT dcid, 'endValue', 'NUMBER', b FROM cxq_n
  UNION ALL SELECT dcid, 'unit', 'RESOLVED_REF', 'Years' FROM cxq_n
  UNION ALL SELECT turn, 'location', 'RESOLVED_REF', dcid FROM cxg_n
  UNION ALL SELECT dcid, 'typeOf', 'RESOLVED_REF', 'GeoCoordinates' FROM cxg_n
  UNION ALL SELECT dcid, 'name', 'TEXT', name FROM cxg_n
  UNION ALL SELECT dcid, 'latitude', 'TEXT', lat_s FROM cxg_n
  UNION ALL SELECT dcid, 'longitude', 'TEXT', lng_s FROM cxg_n
  UNION ALL SELECT a, 'sameAs', 'RESOLVED_REF', b FROM sa),
rewritten AS (
  SELECT coalesce(cs.canon, s.subj) AS subj, s.pred, s.obj_type,
         CASE WHEN s.obj_type = 'RESOLVED_REF' THEN coalesce(co.canon, s.obj)
              ELSE s.obj END AS obj
  FROM all_triples s
  LEFT JOIN canon cs ON cs.node = s.subj
  LEFT JOIN canon co ON co.node = s.obj AND s.obj_type = 'RESOLVED_REF')
SELECT DISTINCT subj, pred, obj_type, obj FROM rewritten
WHERE NOT (pred = 'sameAs' AND subj = obj)
"""
    return sql.replace("@BASE@", base).replace("@DICT@", dict_rows)


SQL_KG_PIPELINE = _build_kg_sql()


def _build_c1_sql() -> str:
    """C1 oracle: join the ``documents`` view to the fixture id lookup
    (the farmhash exemption — contract_fixtures.ensure_c1_fixture). The
    join keeps the oracle anchored to the driver's actual input: a
    doc_id outside the fixture drops the row and fails the row-count
    check instead of silently vouching for it."""
    from import_spark.contract_fixtures import ensure_c1_fixture

    path = ensure_c1_fixture()
    return (
        "SELECT d.doc_id AS doc_id, f.dcid AS dcid\n"
        f"FROM documents d JOIN '{path}' f USING (doc_id)"
    )


SQL_C1 = _build_c1_sql()


def q_streaming_window_counts(spark, sf):
    """Event-time windowed aggregation with a watermark over the events
    table, executed as a real Structured-Streaming query
    (streaming/windows.py windowed_turn_counts) drained with
    ``Trigger.AvailableNow`` into a memory sink. Complete output mode so
    every window is emitted at drain end (append mode would hold back
    the tail windows the watermark has not passed — correct for an
    unbounded stream, not for a bounded oracle comparison); the
    watermark column is exercised either way. Oracle: plain hour-bucket
    GROUP BY."""
    import uuid as _uuid

    batch = spark.read.parquet(f"{sf}/events.parquet")
    stream = (
        # the file-stream source wants a directory base; a glob keeps
        # the base at the sf dir while matching only the events table
        spark.readStream.schema(batch.schema)
        .parquet(f"{sf}/events.*")
        # the parquet column is TIMESTAMP_NTZ; a watermark needs an
        # instant — the session runs UTC, so the cast is wall-clock
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    from import_spark.streaming.windows import windowed_turn_counts

    agg = windowed_turn_counts(
        stream, "1 hour", "2 hours", key_col="event_type"
    ).withColumnRenamed("n_turns", "n_events")
    name = f"swc_{_uuid.uuid4().hex[:10]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


SQL_STREAMING_WINDOW_COUNTS = """
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       count(*) AS n_events
FROM events
GROUP BY 1, 2, 3
"""


QUERIES = {
    "a1_dedupe": q_a1_dedupe,
    "a2_series_group": q_a2_series_group,
    "a4_event_counts": q_a4_event_counts,
    "a5_series_stats": q_a5_series_stats,
    "a6_outliers": q_a6_outliers,
    "a7_fluctuation": q_a7_fluctuation,
    "a10_dup_conflict": q_a10_dup_conflict,
    "a13_percentiles": q_a13_percentiles,
    "j1_broadcast_link": q_j1_broadcast_link,
    "j1_salted_link": q_j1_salted_link,
    "streaming_window_counts": q_streaming_window_counts,
    "j5_differ": q_j5_differ,
    "j6_containment": q_j6_containment,
    "j7_closure": q_j7_closure,
    "p1_typed_values": q_p1_typed_values,
    "p3_namespace_strip": q_p3_namespace_strip,
    "p6_date_buckets": q_p6_date_buckets,
    "p14_dcid_sanity": q_p14_dcid_sanity,
    "p15_object_keys": q_p15_object_keys,
    "p8_complex_values": q_p8_complex_values,
    "j3_coordinates": q_j3_coordinates,
    "s10_provenance_overwrite": q_s10_provenance_overwrite,
    "c1_farmhash_ids": q_c1_farmhash_ids,
    "kg_pipeline": q_kg_pipeline,
    "kg_full_resolution": q_kg_full_resolution,
    "kg_streaming": q_kg_streaming,
}

ORACLE_SQL = {
    "a1_dedupe": SQL_A1,
    "a2_series_group": SQL_A2,
    "a4_event_counts": SQL_A4,
    "a5_series_stats": SQL_A5,
    "a6_outliers": SQL_A6,
    "a7_fluctuation": SQL_A7,
    "a10_dup_conflict": SQL_A10,
    "a13_percentiles": SQL_A13,
    "j1_broadcast_link": SQL_J1,
    "j1_salted_link": SQL_J1,
    "streaming_window_counts": SQL_STREAMING_WINDOW_COUNTS,
    "j5_differ": SQL_J5,
    "j6_containment": SQL_J6,
    "j7_closure": SQL_J7,
    "p1_typed_values": SQL_P1,
    "p3_namespace_strip": SQL_P3,
    "p6_date_buckets": SQL_P6,
    "p14_dcid_sanity": SQL_P14,
    "p15_object_keys": SQL_P15,
    "p8_complex_values": SQL_P8,
    "j3_coordinates": SQL_J3,
    "s10_provenance_overwrite": SQL_S10,
    "kg_pipeline": SQL_KG_PIPELINE,
    "kg_full_resolution": SQL_KG_PIPELINE,
    "kg_streaming": SQL_KG_PIPELINE,
    "c1_farmhash_ids": SQL_C1,
}


# ---------------- training-data ops (dedup / similarity / text) ----------------


def q_dedup_exact(spark, sf):
    """Exact dedup: hash-groupBy keep-min-id (operators/dedup.py)."""
    from import_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf, "documents"))


SQL_DEDUP_EXACT = """
SELECT min(doc_id) AS doc_id, text, count(*) AS n_copies
FROM documents GROUP BY text
"""


def q_text_token_stats(spark, sf):
    """Token counting: whitespace + word-regex (operators/textops.py)."""
    from import_spark.operators.textops import token_stats

    return token_stats(_t(spark, sf, "documents"))


SQL_TOKEN_STATS = r"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\s+')) AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+(?:''[A-Za-z]+)?|[0-9]+', 0)) AS word_tokens,
       length(text) AS n_chars
FROM documents
"""


def q_text_fingerprint(spark, sf):
    """Normalized-text md5 fingerprint (operators/textops.py). The
    xxhash64 variant has no DuckDB twin, so only fp_md5 is compared."""
    from import_spark.operators.textops import fingerprint

    return fingerprint(_t(spark, sf, "documents")).select("doc_id", "fp_md5")


SQL_FINGERPRINT = r"""
SELECT doc_id,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                               '\s+', ' ', 'g'))) AS fp_md5
FROM documents
"""


def q_text_repetition(spark, sf):
    """Gopher-style repetition filter signals (operators/textops.py
    `repetition_stats`): per-doc duplicate-line fraction + top-bigram
    occurrence fraction, computed as one zero-shuffle codegen scan
    (array_sort + aggregate longest-equal-run for the bigram mode);
    the DuckDB twin recomputes the mode via unnest→groupBy."""
    from import_spark.operators.textops import repetition_stats

    return repetition_stats(_t(spark, sf, "documents"))


SQL_TEXT_REPETITION = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(text, chr(10)), x -> x <> '') AS lines,
         list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
  FROM documents
),
frac AS (
  SELECT doc_id,
         CASE WHEN len(lines) > 0
              THEN 1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines)
              ELSE 0.0 END AS dup_line_frac,
         toks
  FROM base
),
bigrams AS (
  SELECT doc_id,
         unnest(list_transform(list_zip(toks[1:len(toks) - 1], toks[2:len(toks)]),
                               s -> s[1] || ' ' || s[2])) AS bg
  FROM frac WHERE len(toks) >= 2
),
cnt AS (SELECT doc_id, bg, count(*) AS c FROM bigrams GROUP BY 1, 2),
tops AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM cnt GROUP BY 1)
SELECT f.doc_id, f.dup_line_frac,
       coalesce(CAST(t.mx AS DOUBLE) / t.tot, 0.0) AS top_bigram_frac
FROM frac f LEFT JOIN tops t USING (doc_id)
"""


def q_sim_cosine_topk(spark, sf):
    """Exact brute-force cosine top-k (operators/similarity.py); query
    set = first 5 vectors, k=10."""
    from pyspark.sql import functions as FF

    from import_spark.operators.similarity import cosine_topk_bruteforce

    emb = _t(spark, sf, "embeddings").withColumn(
        "embedding", FF.col("embedding").cast("array<double>")
    )
    queries_df = emb.filter(FF.col("vec_id") < 5).select(
        FF.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk_bruteforce(emb, queries_df, k=10)


SQL_SIM_TOPK = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
s AS (SELECT query_id, vec_id,
             round(list_cosine_similarity(qv, embedding::DOUBLE[]), 6) AS cosine
      FROM q CROSS JOIN embeddings)
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM s) WHERE rank <= 10
"""


def q_dedup_minhash(spark, sf):
    """MinHash+LSH near-dup clusters with exact-Jaccard verify.

    64 hashes / 16 bands keep the LSH miss probability below ~1e-6 for
    the ≥0.875-Jaccard near-dups in the corpus, and the verify step
    removes all false positives — so the result equals exact all-pairs
    Jaccard clustering (the DuckDB oracle) without the O(n²) join.
    """
    from import_spark.operators.dedup import minhash_dedup

    return minhash_dedup(
        _t(spark, sf, "documents"), num_hashes=64, band_size=4, jaccard_threshold=0.5
    )


SQL_DEDUP_MINHASH = r"""
WITH RECURSIVE
w AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id,
           unnest([array_to_string(ws[i:i+4], ' ') FOR i IN range(1, greatest(len(ws)-3, 1))]) AS s
    FROM w)
),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
ed AS (
  SELECT ia, ib FROM inter
  JOIN sz na ON na.doc_id = ia JOIN sz nb ON nb.doc_id = ib
  WHERE c * 1.0 / (na.n + nb.n - c) >= 0.5
),
edges AS (SELECT ia AS a, ib AS b FROM ed UNION SELECT ib, ia FROM ed),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a
)
SELECT a AS doc_id, min(b) AS canon_id FROM reach GROUP BY a HAVING min(b) < a
"""


def q_dedup_jaccard(spark, sf):
    """Exact n-gram Jaccard over rare-shingle-blocked candidate pairs —
    the verify operator that minhash_dedup composes, gated standalone.

    Blocking: pairs (a < b) sharing at least one 5-shingle whose corpus
    document frequency is ≤ 5. The df cap bounds the self-join fanout
    per shingle at O(cap²) regardless of corpus size (a boilerplate
    shingle shared by a million docs contributes nothing instead of
    10¹² pairs), so the candidate set stays linear in the number of
    rare shared shingles — the same hot-key discipline as the LSH
    bucket cap. The shingle table is computed ONCE and reused by both
    the blocker and the verify join (shingles_df=).

    Output is integer-only (|A∩B|, |A∪B|): the driver value-hashes
    results, and a rounded float ratio would be exposed to HALF_UP
    (Spark) vs HALF_EVEN (DuckDB) tie-breaking; the ratio itself is
    still computed (and thresholded) inside minhash_dedup's gated run."""
    from import_spark.operators.dedup import ngram_jaccard_pairs, shingles

    docs = _t(spark, sf, "documents")
    sh = shingles(docs, "text", "doc_id", k=5)
    rare = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df").between(2, 5))
        .select("shingle")
    )
    blocked = sh.join(rare, "shingle")
    a = blocked.select(F.col("shingle"), F.col("doc_id").alias("id_a"))
    b = blocked.select(F.col("shingle"), F.col("doc_id").alias("id_b"))
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    out = ngram_jaccard_pairs(docs, pairs, k=5, shingles_df=sh)
    return out.select("id_a", "id_b", "n_common", "n_union")


SQL_DEDUP_JACCARD = r"""
WITH w AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id,
           unnest([array_to_string(ws[i:i+4], ' ') FOR i IN range(1, greatest(len(ws)-3, 1))]) AS s
    FROM w)
),
rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) BETWEEN 2 AND 5),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN rare r ON a.s = r.s JOIN sh b ON b.s = a.s AND a.doc_id < b.doc_id
),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT p.id_a, p.id_b, count(*) AS n_common
  FROM pairs p JOIN sh a ON a.doc_id = p.id_a JOIN sh b ON b.doc_id = p.id_b AND b.s = a.s
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b, i.n_common, na.n + nb.n - i.n_common AS n_union
FROM inter i
JOIN sz na ON na.doc_id = i.id_a
JOIN sz nb ON nb.doc_id = i.id_b
"""


def q_dedup_simhash(spark, sf):
    """SimHash fingerprints, hash-checked end-to-end: the sha256 hash
    mode computes the identical per-token 64-bit value in Spark and
    DuckDB, so the full tokenize → per-bit vote → sign → pack pipeline
    is oracle-gated (the xxhash64 default — same pipeline, faster
    hash — stays covered by tests/test_training_ops.py)."""
    from import_spark.operators.dedup import simhash

    return simhash(_t(spark, sf, "documents"), hash_fn="sha256")


def _build_simhash_sql() -> str:
    """DuckDB twin of simhash(hash_fn='sha256'): same hex-digit
    arithmetic, generated for the 64 bit positions."""

    def hexval(p):
        ch = f"ascii(substr(hx,{p},1))"
        return f"(CASE WHEN {ch} >= 97 THEN {ch}-87 ELSE {ch}-48 END)"

    votes = ",\n    ".join(
        "sum(CASE WHEN (({hv} >> {s}) & 1) = 1 THEN 1 ELSE -1 END) AS b{i}".format(
            hv=hexval(16 - i // 4), s=i % 4, i=i
        )
        for i in range(64)
    )
    # bit 63 is the sign bit: 1<<63 overflows signed arithmetic, so add
    # the two's-complement minimum instead (Spark's shiftleft wraps)
    pack = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN (1::BIGINT << {i}) ELSE 0 END)" for i in range(63)
    )
    pack += " + (CASE WHEN b63 > 0 THEN (-9223372036854775807 - 1) ELSE 0 END)"
    return r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
  FROM documents
), h AS (
  SELECT doc_id, sha256(tok) AS hx FROM toks
), v AS (
  SELECT doc_id,
    {votes}
  FROM h GROUP BY doc_id
)
SELECT doc_id, CAST({pack} AS BIGINT) AS simhash FROM v
""".format(votes=votes, pack=pack)


SQL_DEDUP_SIMHASH = _build_simhash_sql()


def q_sim_lsh_ann(spark, sf):
    """LSH-bucketed approximate NN, oracle-gated via the planted-twin
    construction (the dedup_embedding_lsh precedent): queries are x2-
    scaled copies of 8 corpus vectors. Positive scaling preserves every
    hyperplane sign, so each query's signature equals its twin's in all
    bands — the twin is always a candidate and, at cosine exactly 1
    (organic corpus max < 0.8), always rank 1. k=1 therefore has an
    exact SQL twin while the query still runs the full production path
    (banded signatures, bucket join, cosine rerank, windowed top-k)."""
    from pyspark.sql import functions as FF

    from import_spark.operators.similarity import lsh_ann_topk

    emb = _t(spark, sf, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    queries_df = emb.filter(FF.col("vec_id") < 8).select(
        FF.col("vec_id").alias("query_id"),
        FF.transform("embedding", lambda x: x * FF.lit(2.0))
        .cast("array<float>")
        .alias("embedding"),
    )
    return lsh_ann_topk(emb, queries_df, dim=dim, k=1).select(
        "query_id", "vec_id", "rank"
    )


SQL_SIM_LSH_ANN = """
SELECT vec_id AS query_id, vec_id, 1 AS rank
FROM embeddings WHERE vec_id < 8
"""


def q_text_language_id(spark, sf):
    """Marker-based language ID (vectorized pandas UDF; argmax with
    first-wins tie order en>de>fr>es, no-marker → 'und')."""
    from import_spark.operators.textops import language_id

    return language_id(_t(spark, sf, "documents"))


def _build_language_id_sql() -> str:
    """DuckDB twin GENERATED from textops.LANG_MARKERS — one source of
    truth for markers and tie-break order (first max in dict order)."""
    from import_spark.operators.textops import LANG_MARKERS

    counts = ",\n    ".join(
        "len(list_filter(ws, w -> w IN ({}))) AS n_{}".format(
            ",".join("'{}'".format(w) for w in ws), lang
        )
        for lang, ws in LANG_MARKERS.items()
    )
    names = ["n_" + lang for lang in LANG_MARKERS]
    g = "greatest({})".format(", ".join(names))
    langs = list(LANG_MARKERS)
    case = ["WHEN {} = 0 THEN 'und'".format(g)]
    case += ["WHEN n_{0} = {1} THEN '{0}'".format(lang, g) for lang in langs[:-1]]
    case.append("ELSE '{}' END".format(langs[-1]))
    return r"""
WITH b AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
  FROM documents
), c AS (
  SELECT doc_id,
    {counts}
  FROM b
)
SELECT doc_id,
  CASE {case}
    AS lang_pred
FROM c
""".format(counts=counts, case="\n       ".join(case))


SQL_LANGUAGE_ID = _build_language_id_sql()


def q_text_quality(spark, sf):
    """Quality scoring: length/punct/stopword/digit ratios."""
    from import_spark.operators.textops import quality_score

    return quality_score(_t(spark, sf, "documents"))


SQL_QUALITY = r"""
WITH b AS (
  SELECT doc_id, text,
         length(text) AS n,
         length(text) - length(regexp_replace(text, '[\.,;:!\?]', '', 'g')) AS n_punct,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
         string_split_regex(lower(text), '\s+') AS words
  FROM documents
), r AS (
  SELECT doc_id,
         round(n_punct / greatest(n, 1), 6) AS punct_ratio,
         round(n_digit / greatest(n, 1), 6) AS digit_ratio,
         round(len(list_filter(words, w -> w IN ('the','and','of','to','in','is','was','for','with','that')))
               / greatest(len(words), 1), 6) AS stopword_ratio,
         least(n / 500.0e0, 1.0e0) AS len_score
  FROM b
)
SELECT doc_id, punct_ratio, digit_ratio, stopword_ratio,
       CAST(floor((0.4e0 * len_score + 0.3e0 * least(stopword_ratio * 5.0e0, 1.0e0)
             + 0.3e0 * (1.0e0 - least(punct_ratio * 10.0e0 + digit_ratio * 5.0e0, 1.0e0))) * 10000.0e0) AS BIGINT) AS quality_bp
FROM r
"""


def q_multimodal_features(spark, sf):
    """Binary media column plumbing: deterministic fake decode over
    mapInPandas (operators/multimodal.py). The UDF also computes the
    float feature vector (exercised in tests); the driver-checked
    projection keeps the hashable columns, which DuckDB recomputes
    independently from the payload definition."""
    from import_spark.operators.multimodal import extract_features, synth_media

    return extract_features(synth_media(spark, 64)).select("media_id", "n_bytes", "sha16")


SQL_MULTIMODAL = """
SELECT CAST(i AS BIGINT) AS media_id, CAST(256 AS INT) AS n_bytes,
       substr(sha256(repeat(sha256('media/' || i), 4)), 1, 16) AS sha16
FROM range(64) t(i)
"""


QUERIES.update(
    {
        "dedup_exact": q_dedup_exact,
        "dedup_minhash": q_dedup_minhash,
        "dedup_jaccard": q_dedup_jaccard,
        "dedup_simhash": q_dedup_simhash,
        "sim_cosine_topk": q_sim_cosine_topk,
        "sim_lsh_ann": q_sim_lsh_ann,
        "text_token_stats": q_text_token_stats,
        "text_quality": q_text_quality,
        "text_language_id": q_text_language_id,
        "text_fingerprint": q_text_fingerprint,
        "text_repetition": q_text_repetition,
        "multimodal_features": q_multimodal_features,
    }
)

ORACLE_SQL.update(
    {
        "dedup_exact": SQL_DEDUP_EXACT,
        "dedup_minhash": SQL_DEDUP_MINHASH,
        "dedup_jaccard": SQL_DEDUP_JACCARD,
        "dedup_simhash": SQL_DEDUP_SIMHASH,
        "sim_cosine_topk": SQL_SIM_TOPK,
        "sim_lsh_ann": SQL_SIM_LSH_ANN,
        "text_token_stats": SQL_TOKEN_STATS,
        "text_quality": SQL_QUALITY,
        "text_language_id": SQL_LANGUAGE_ID,
        "text_fingerprint": SQL_FINGERPRINT,
        "text_repetition": SQL_TEXT_REPETITION,
        "multimodal_features": SQL_MULTIMODAL,
    }
)


# ---------------- stats checks / differ / existence / statvar ----------------


def _obs_from_events(spark, sf):
    """events → long-form observations with mixed-granularity date strings
    (exercises the StatChecker date rules on the fixed test tables)."""
    ev = _t(spark, sf, "events")
    date = F.when(
        F.col("event_id") % 10 == 0, F.date_format("ts", "yyyy")
    ).otherwise(F.date_format("ts", "yyyy-MM-dd"))
    return ev.select(
        F.col("user_id").cast("string").alias("entity"),
        F.col("event_type").alias("variable"),
        date.alias("date"),
        F.col("value"),
    )


SQL_OBS_CTE = """
obs AS (
  SELECT CAST(user_id AS VARCHAR) AS entity, event_type AS variable,
         CASE WHEN event_id % 10 = 0 THEN strftime(ts, '%Y')
              ELSE strftime(ts, '%Y-%m-%d') END AS date,
         value
  FROM events
)
"""


def q_a8_date_granularity(spark, sf):
    """A8: mixed date-granularity series (StatChecker.java:518-558)."""
    from import_spark.operators.stats import date_granularity_issues

    out = date_granularity_issues(_obs_from_events(spark, sf))
    return (
        out.filter(F.col("check") == "StatsCheck_Inconsistent_Date_Granularity")
        .select("entity", "variable")
    )


SQL_A8 = (
    "WITH " + SQL_OBS_CTE + """
SELECT entity, variable FROM obs
GROUP BY entity, variable HAVING count(DISTINCT length(date)) > 1
"""
)


def q_a9_value_inconsistency(spark, sf):
    """A9: same (series, date) conflicting values (StatChecker.java:596-633)."""
    from import_spark.operators.stats import value_inconsistencies

    return value_inconsistencies(_obs_from_events(spark, sf)).select(
        "entity", "variable", "date", "n_values"
    )


SQL_A9 = (
    "WITH " + SQL_OBS_CTE + """
SELECT entity, variable, date, count(DISTINCT value) AS n_values
FROM obs GROUP BY 1, 2, 3 HAVING count(DISTINCT value) > 1
"""
)


def q_j8_existence(spark, sf):
    """J8: referenced-but-absent check as an anti-join
    (ExistenceChecker.java:63-107): customers with no orders."""
    from import_spark.operators.existence import missing_references

    c = _t(spark, sf, "customer").select(F.col("c_custkey").alias("obj"))
    o = _t(spark, sf, "orders").select(F.col("o_custkey").alias("node"))
    return missing_references(c, o).select(F.col("ref").alias("c_custkey"))


SQL_J8 = """
SELECT DISTINCT c_custkey FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_j5_differ_rows(spark, sf):
    """J5 row-level differ output (DifferPipeline.java:18-19 schema)."""
    from import_spark.operators.differ import diff_observations

    ev = _t(spark, sf, "events")
    obs = ev.select(
        F.col("event_type").alias("variable"),
        F.col("user_id").cast("string").alias("entity"),
        F.date_format("ts", "yyyy-MM-dd").alias("date"),
        "value",
        "event_id",
    )
    cur = obs.filter(F.col("event_id") % 2 == 0).groupBy("variable", "entity", "date").agg(
        F.round(F.sum("value"), 4).alias("value")
    )
    prev = obs.filter(F.col("event_id") % 3 == 0).groupBy("variable", "entity", "date").agg(
        F.round(F.sum("value"), 4).alias("value")
    )
    return diff_observations(cur, prev)


SQL_J5_ROWS = """
WITH base AS (
  SELECT event_type AS variable, CAST(user_id AS VARCHAR) AS entity,
         strftime(ts, '%Y-%m-%d') AS date, value, event_id
  FROM events
), cur AS (
  SELECT variable, entity, date, round(sum(value), 4) AS v FROM base
  WHERE event_id % 2 = 0 GROUP BY 1, 2, 3
), prev AS (
  SELECT variable, entity, date, round(sum(value), 4) AS v FROM base
  WHERE event_id % 3 = 0 GROUP BY 1, 2, 3
), j AS (
  SELECT coalesce(cur.variable, prev.variable) AS variable,
         coalesce(cur.entity, prev.entity) AS entity,
         coalesce(cur.date, prev.date) AS date,
         cur.v AS vc, prev.v AS vp
  FROM cur FULL OUTER JOIN prev
    ON cur.variable = prev.variable AND cur.entity = prev.entity AND cur.date = prev.date
)
SELECT variable || ';' || entity || ';' || date || ';;;;' AS key_combined,
       CAST(vc AS VARCHAR) AS value_combined_current,
       CAST(vp AS VARCHAR) AS value_combined_previous,
       CASE WHEN vp IS NULL THEN 'ADDED'
            WHEN vc IS NULL THEN 'DELETED'
            WHEN vc <> vp THEN 'MODIFIED' ELSE 'UNCHANGED' END AS diff_type
FROM j WHERE (vp IS NULL OR vc IS NULL OR vc <> vp)
"""


def q_c8_sv_ids(spark, sf):
    """C8: free-form name → sanitized statvar id (nodes.py:36-37)."""
    from import_spark.operators.statvar import sanitize_sv_id

    return _t(spark, sf, "part").select(
        "p_partkey", sanitize_sv_id(F.col("p_name")).alias("sv_id")
    )


SQL_C8 = """
SELECT p_partkey,
       'custom/statvar_' || lower(regexp_replace(trim(p_name), '[^A-Za-z0-9]+', '_', 'g')) AS sv_id
FROM part
"""


def q_t5_statvar_triples(spark, sf):
    """T5: StatVar dataclass → triples with schema-less defaults
    (simple/stats/data.py:113-178)."""
    from import_spark.operators.statvar import statvar_triples

    svs = _t(spark, sf, "part").select(
        F.col("p_brand").alias("sv_id"), F.col("p_name").alias("name")
    )
    return statvar_triples(svs)


SQL_T5 = """
SELECT p_brand AS subject_id, 'typeOf' AS predicate, 'StatisticalVariable' AS object FROM part
UNION ALL SELECT p_brand, 'name', p_name FROM part
UNION ALL SELECT p_brand, 'populationType', 'Thing' FROM part
UNION ALL SELECT p_brand, 'measuredProperty', p_brand FROM part
UNION ALL SELECT p_brand, 'statType', 'measuredValue' FROM part
"""


def q_serving_stat_series(spark, sf):
    """§2.10 serving surface: /stat/series lookup
    (ObservationRepository.java:25-31) as a pushdown-friendly filter."""
    ev = _t(spark, sf, "events")
    return (
        ev.filter((F.col("user_id") == 42) & (F.col("event_type") == "click"))
        .select(F.date_format("ts", "yyyy-MM-dd").alias("date"), F.round("value", 4).alias("value"))
        .orderBy("date", "value")
    )


SQL_SERVING = """
SELECT strftime(ts, '%Y-%m-%d') AS date, round(value, 4) AS value
FROM events WHERE user_id = 42 AND event_type = 'click'
ORDER BY 1, 2
"""


QUERIES.update(
    {
        "a8_date_granularity": q_a8_date_granularity,
        "a9_value_inconsistency": q_a9_value_inconsistency,
        "j8_existence": q_j8_existence,
        "j5_differ_rows": q_j5_differ_rows,
        "c8_sv_ids": q_c8_sv_ids,
        "t5_statvar_triples": q_t5_statvar_triples,
        "serving_stat_series": q_serving_stat_series,
    }
)

ORACLE_SQL.update(
    {
        "a8_date_granularity": SQL_A8,
        "a9_value_inconsistency": SQL_A9,
        "j8_existence": SQL_J8,
        "j5_differ_rows": SQL_J5_ROWS,
        "c8_sv_ids": SQL_C8,
        "t5_statvar_triples": SQL_T5,
        "serving_stat_series": SQL_SERVING,
    }
)


# ---------------- round-2 surfaces: checker / genmcf / SVG / S2 ----------------


def _event_nodes(spark, sf):
    """events → long-form SVObs node rows (deterministic sanity mix:
    'click' events omit variableMeasured; negative values carry an
    invalid observationDate)."""
    ev = _t(spark, sf, "events")
    pv = F.array(
        F.struct(F.lit("typeOf").alias("prop"), F.lit("RESOLVED_REF").alias("value_type"),
                 F.lit("StatVarObservation").alias("value")),
        F.struct(F.lit("observationAbout").alias("prop"), F.lit("RESOLVED_REF").alias("value_type"),
                 F.concat(F.lit("user/"), F.col("user_id")).alias("value")),
        F.struct(F.lit("observationDate").alias("prop"), F.lit("TEXT").alias("value_type"),
                 F.when(F.col("value") < 0, F.lit("not-a-date"))
                 .otherwise(F.date_format("ts", "yyyy-MM-dd")).alias("value")),
        F.struct(F.lit("value").alias("prop"), F.lit("NUMBER").alias("value_type"),
                 F.round("value", 4).cast("string").alias("value")),
        F.when(
            F.col("event_type") != "click",
            F.struct(F.lit("variableMeasured").alias("prop"), F.lit("RESOLVED_REF").alias("value_type"),
                     F.lit("Count_Event").alias("value")),
        ),
    )
    return (
        ev.select(F.concat(F.lit("e"), F.col("event_id")).alias("node_id"),
                  F.explode(F.filter(pv, lambda x: x.isNotNull())).alias("p"))
        .select("node_id", "p.prop", "p.value_type", "p.value", F.lit("").alias("src_file"))
    )


def q_mcf_checker(spark, sf):
    """T3: McfChecker sanity suite (McfChecker.java:62-795) — counter
    rollup over SVObs nodes synthesized from the events table."""
    from import_spark.operators.mcf_checker import check_nodes

    errors = check_nodes(_event_nodes(spark, sf))
    return (
        errors.groupBy("level", "counter").agg(F.count("*").alias("n")).orderBy("level", "counter")
    )


SQL_MCF_CHECKER = """
WITH c AS (
  SELECT 'LEVEL_ERROR' AS level, 'Sanity_InvalidObsDate' AS counter, count(*) AS n
  FROM events WHERE value < 0
  UNION ALL
  SELECT 'LEVEL_ERROR', 'Sanity_MissingOrEmpty_variableMeasured', count(*)
  FROM events WHERE event_type = 'click'
)
SELECT * FROM c WHERE n > 0 ORDER BY level, counter
"""

_GENMCF_TMCF = """
Node: E:T->E0
typeOf: dcs:StatVarObservation
variableMeasured: dcs:Count_Event
observationAbout: E:T->E1
observationDate: C:T->date
value: C:T->val

Node: E:T->E1
typeOf: dcs:Place
dcid: C:T->place
"""


def q_genmcf_predicates(spark, sf):
    """End-to-end genmcf (Processor.java:59-147): TMCF x CSV -> mutate ->
    check -> alternating resolve -> per-predicate statement counts of
    the resolved graph."""
    from import_spark.plans.genmcf import run_genmcf

    csv = _t(spark, sf, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("date"),
        F.round("value", 4).cast("string").alias("val"),
        F.concat(F.lit("user/"), F.col("user_id")).alias("place"),
        F.col("event_id").alias("rid"),
    )
    res = run_genmcf(spark, _GENMCF_TMCF, csv, row_id_col="rid")
    return res.nodes.groupBy("prop").agg(F.count("*").alias("n")).orderBy("prop")


SQL_GENMCF = """
WITH n AS (SELECT count(*) AS c FROM events)
SELECT 'dcid' AS prop, 2*c AS n FROM n
UNION ALL SELECT 'observationAbout', c FROM n
UNION ALL SELECT 'observationDate', c FROM n
UNION ALL SELECT 'typeOf', 2*c FROM n
UNION ALL SELECT 'value', c FROM n
UNION ALL SELECT 'variableMeasured', c FROM n
ORDER BY prop
"""


def q_lint_report(spark, sf):
    """``dc-import lint`` as a distinct plan (plans/lint.py;
    Processor.java:59-96 lint mode): sanity suite + local existence
    pass + StatChecker over SVObs nodes synthesized from events →
    counter rollup. The rollup filters to the Sanity_*/Existence_*
    families (deterministic SQL twins); the StatsCheck_* family is
    covered by the reference-fixture golden (tests/test_lint.py) and
    the a6-a9 driver queries."""
    from import_spark.plans.lint import run_lint

    res = run_lint(spark, _event_nodes(spark, sf))
    return (
        res.errors.filter(
            F.col("counter").startswith("Sanity_") | F.col("counter").startswith("Existence_")
        )
        .groupBy("level", "counter")
        .agg(F.count("*").alias("n"))
        .orderBy("level", "counter")
    )


SQL_LINT = """
WITH nodes AS (
  SELECT 'e' || event_id AS node_id,
         'user/' || user_id AS entity,
         CASE WHEN event_type <> 'click' THEN 'Count_Event' END AS variable,
         CASE WHEN value < 0 THEN 'not-a-date'
              ELSE strftime(ts, '%Y-%m-%d') END AS date,
         round(value, 4) AS val,
         event_type
  FROM events
),
firsts AS (
  SELECT *,
         first_value(val) OVER (
           PARTITION BY entity, variable, date ORDER BY node_id
         ) AS first_val
  FROM nodes
),
c AS (
  SELECT 'LEVEL_ERROR' AS level, 'Sanity_InvalidObsDate' AS counter, count(*) AS n
  FROM nodes WHERE date = 'not-a-date'
  UNION ALL
  SELECT 'LEVEL_ERROR', 'Sanity_MissingOrEmpty_variableMeasured', count(*)
  FROM nodes WHERE event_type = 'click'
  UNION ALL
  SELECT 'LEVEL_ERROR', 'Sanity_InconsistentSvObsValues', count(*)
  FROM firsts WHERE CAST(val AS FLOAT) <> CAST(first_val AS FLOAT)
  UNION ALL
  SELECT 'LEVEL_WARNING', 'Existence_MissingReference_observationAbout', count(*)
  FROM nodes
  UNION ALL
  SELECT 'LEVEL_WARNING', 'Existence_MissingReference_variableMeasured', count(*)
  FROM nodes WHERE variable IS NOT NULL
)
SELECT * FROM c WHERE n > 0 ORDER BY level, counter
"""


def q_svg_hierarchy(spark, sf):
    """SVG hierarchy generation (stat_var_hierarchy_generator.py:35-156):
    single-constraint StatVars from part brands -> the memberOf /
    specializationOf / name lattice."""
    from import_spark.operators.svg_hierarchy import generate_svg_hierarchy

    svs = (
        _t(spark, sf, "part")
        .select(F.col("p_brand")).distinct()
        .select(
            F.concat(F.lit("sv/"), F.col("p_brand")).alias("node_id"),
            F.explode(
                F.array(
                    F.struct(F.lit("typeOf").alias("prop"), F.lit("RESOLVED_REF").alias("value_type"),
                             F.lit("StatisticalVariable").alias("value")),
                    F.struct(F.lit("populationType").alias("prop"), F.lit("RESOLVED_REF").alias("value_type"),
                             F.lit("Part").alias("value")),
                    F.struct(F.lit("brand").alias("prop"), F.lit("RESOLVED_REF").alias("value_type"),
                             F.col("p_brand").alias("value")),
                )
            ).alias("p"),
        )
        .select("node_id", "p.prop", "p.value_type", "p.value", F.lit("").alias("src_file"))
    )
    return generate_svg_hierarchy(svs).orderBy("predicate", "subject_id", "object_id")


SQL_SVG = """
WITH b AS (SELECT DISTINCT p_brand FROM part),
     leaf AS (SELECT p_brand,
                     'c/g/Part_Brand-' || regexp_replace(p_brand, '[^0-9a-zA-Z]+', '', 'g') AS svg_id
              FROM b),
     svgs AS (SELECT svg_id, 'Part With Brand = ' || p_brand AS nm FROM leaf
              UNION ALL SELECT 'c/g/Part_Brand', 'Part With Brand'
              UNION ALL SELECT 'c/g/Part', 'Part')
SELECT svg_id AS subject_id, 'typeOf' AS predicate,
       'StatVarGroup' AS object_id, NULL AS object_value FROM svgs
UNION ALL SELECT svg_id, 'name', NULL, nm FROM svgs
UNION ALL SELECT svg_id, 'specializationOf', 'c/g/Part_Brand', NULL FROM leaf
UNION ALL SELECT 'c/g/Part_Brand', 'specializationOf', 'c/g/Part', NULL
UNION ALL SELECT 'c/g/Part', 'specializationOf', 'c/g/Root', NULL
UNION ALL SELECT 'sv/' || p_brand, 'memberOf', svg_id, NULL FROM leaf
ORDER BY predicate, subject_id, object_id
"""


def q_s2_cells(spark, sf):
    """P13: lat/lng -> S2 cell ids (resolvers.py:32-66, pure-math port
    bit-validated against the reference's own example) — events mapped
    to deterministic coordinates, rolled up per level-8 cell."""
    from import_spark.functions.s2cells import pandas_s2_cell_dcid

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            lat = (pdf["user_id"] % 179) - 89 + 0.25
            lng = (pdf["event_id"] % 359) - 179 + 0.25
            yield pd.DataFrame({"cell": pandas_s2_cell_dcid(lat, lng, 8)})

    ev = _t(spark, sf, "events").select("user_id", "event_id")
    cells = ev.mapInPandas(gen, schema="cell string")
    return cells.groupBy("cell").agg(F.count("*").alias("n")).orderBy("cell")


QUERIES.update(
    {
        "mcf_checker": q_mcf_checker,
        "genmcf_pipeline": q_genmcf_predicates,
        "svg_hierarchy": q_svg_hierarchy,
        "s2_cells": q_s2_cells,
        "lint_report": q_lint_report,
    }
)

# s2_cells: no independent DuckDB twin exists for the Hilbert-curve
# cell math (no s2 library in-container; the implementation is
# bit-validated against the reference's documented example,
# resolvers.py:33 s2CellId/0x80982b0000000000). The oracle below is a
# committed REGRESSION golden — pinned output at sf0.01, honest about
# provenance — so silent drift in the cell math turns the row red even
# though it cannot prove the math ab initio.
SQL_S2_GOLDEN = (
    "SELECT cell, n FROM '/root/repo/tests/golden/s2_cells_sf0.01.parquet' ORDER BY cell"
)

ORACLE_SQL.update(
    {
        "mcf_checker": SQL_MCF_CHECKER,
        "genmcf_pipeline": SQL_GENMCF,
        "svg_hierarchy": SQL_SVG,
        "s2_cells": SQL_S2_GOLDEN,
        "lint_report": SQL_LINT,
    }
)


def q_a12_sv_summary(spark, sf):
    """A12: StatVar summary report rollup (SummaryReportGenerator.java:
    30-223, CSVReportWriter.java:40-52) — events as the SVObs relation."""
    from import_spark.operators.summary import statvar_summary

    svobs = _t(spark, sf, "events").select(
        F.col("event_type").alias("variableMeasured"),
        F.concat(F.lit("user/"), F.col("user_id")).alias("observationAbout"),
        F.date_format("ts", "yyyy-MM-dd").alias("observationDate"),
        F.col("value").cast("double").alias("value"),
        F.lit("Count").alias("unit"),
    )
    s = statvar_summary(svobs)
    return s.select(
        "stat_var",
        "num_places",
        "num_observations",
        F.round("min_value", 4).alias("min_value"),
        F.round("max_value", 4).alias("max_value"),
        "num_dates",
        "min_date",
        "max_date",
        F.concat_ws("|", "units").alias("units"),
    ).orderBy("stat_var")


SQL_A12 = """
SELECT event_type AS stat_var,
       count(DISTINCT user_id) AS num_places,
       count(*) AS num_observations,
       round(min(value), 4) AS min_value,
       round(max(value), 4) AS max_value,
       count(DISTINCT strftime(ts, '%Y-%m-%d')) AS num_dates,
       min(strftime(ts, '%Y-%m-%d')) AS min_date,
       max(strftime(ts, '%Y-%m-%d')) AS max_date,
       'Count' AS units
FROM events GROUP BY 1 ORDER BY 1
"""

QUERIES["a12_sv_summary"] = q_a12_sv_summary
ORACLE_SQL["a12_sv_summary"] = SQL_A12


def q_dedup_embedding(spark, sf):
    """Embedding-cosine near-dup pairs — exact baseline (the scale path
    is operators.dedup.embedding_near_dup: banded-LSH buckets + verify
    + connected components; this query is its oracle-checkable twin)."""
    from import_spark.operators.dedup import embedding_near_dup_pairs_exact

    return embedding_near_dup_pairs_exact(
        _t(spark, sf, "embeddings"), threshold=0.4
    ).orderBy("a", "b")


SQL_DEDUP_EMB = """
WITH e AS (SELECT vec_id, embedding FROM embeddings)
SELECT a.vec_id AS a, b.vec_id AS b,
       round(CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE), 4) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE), 4) >= 0.4
ORDER BY 1, 2
"""


def q_sim_ivf_ann(spark, sf):
    """IVF approximate NN at n_probe < n_centroids, oracle-gated via the
    planted-twin construction (the sim_lsh_ann precedent): queries are
    x2-scaled copies of 8 corpus vectors. Scaling by a power of two is
    IEEE-exact, so the normalized query is bitwise its twin's — the
    cosine quantizer assigns both to the SAME nearest list, the twin is
    always inside the probed candidate set even at n_probe=2, and at
    cosine exactly 1 (organic corpus max < 0.8) it is always rank 1.
    k=1 therefore has an exact SQL twin while the query still runs the
    full approximate path (train, assign, probe-limited list join,
    rerank, windowed top-k); organic recall at n_probe < n_centroids
    stays a pytest property, and sim_ivf_exact gates the machinery on
    organic queries."""
    from import_spark.operators.similarity import ivf_ann_topk

    emb = _t(spark, sf, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    queries_df = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0))
        .cast("array<float>")
        .alias("embedding"),
    )
    return ivf_ann_topk(
        emb, queries_df, dim=dim, k=1, n_centroids=16, n_probe=2
    ).select("query_id", "vec_id", "rank")


def q_sim_ivf_exact(spark, sf):
    """IVF machinery CORRECTNESS-gated: with n_probe = n_centroids the
    inverted-file search probes every list and degenerates to exact
    top-k, so the full IVF path (quantizer training, list assignment,
    per-list candidate join, rerank, windowed top-k) runs against the
    same DuckDB exact-top-k oracle as sim_cosine_topk. Recall at
    n_probe < n_centroids remains a pytest property (sim_ivf_ann stays
    the rows-only approximate query)."""
    from import_spark.operators.similarity import ivf_ann_topk

    emb = _t(spark, sf, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    dim = len(emb.select("embedding").first()[0])
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_ann_topk(
        emb, queries_df, dim=dim, k=10, n_centroids=16, n_probe=16
    )


def q_dedup_embedding_lsh(spark, sf):
    """Embedding near-dup via the SCALE path (embedding_near_dup:
    banded hyperplane-LSH buckets + capped buckets + exact-cosine
    verify + connected components) — the path a 100x corpus takes,
    oracle-checked against the exact pair set + recursive CC.

    Input plants deterministic duplicates: every vector also appears
    scaled x2 under vec_id+100000. Scaling preserves every hyperplane
    sign, so LSH recall on the planted pairs is exactly 1 (identical
    signatures) and the query is deterministic at any sf; no organic
    pair reaches the 0.95 threshold (corpus max cosine < 0.8).
    Canon labels are re-normalized to the numeric min id because the
    generic CC operates on string node ids (min('100005','5') is
    lexicographic)."""
    from import_spark.operators.dedup import embedding_near_dup

    emb = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    doubled = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).cast("array<float>").alias("embedding"),
    )
    out = embedding_near_dup(
        emb.unionByName(doubled), threshold=0.95, n_planes=12, n_bands=6
    )
    members = (
        out.select(F.col("vec_id").cast("long").alias("m"), F.col("canon").alias("c"))
        .unionByName(
            out.select(F.col("canon").cast("long").alias("m"), F.col("canon").alias("c"))
        )
        .distinct()
    )
    canon = members.groupBy("c").agg(F.min("m").alias("canon_id"))
    return (
        members.join(canon, "c")
        .filter(F.col("m") != F.col("canon_id"))
        .select(F.col("m").alias("vec_id"), F.col("canon_id").alias("canon"))
        .orderBy("vec_id")
    )


SQL_DEDUP_EMB_LSH = """
WITH RECURSIVE
base AS (SELECT vec_id, embedding FROM embeddings),
e AS (SELECT vec_id, embedding FROM base
      UNION ALL
      SELECT vec_id + 100000, list_transform(embedding, x -> x * 2) FROM base),
p AS (SELECT a.vec_id AS ia, b.vec_id AS ib
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE) >= 0.95),
edges AS (SELECT ia AS a, ib AS b FROM p UNION SELECT ib, ia FROM p),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a WHERE e2.b <> r.a
)
SELECT a AS vec_id, min(b) AS canon FROM reach GROUP BY a HAVING min(b) < a
ORDER BY vec_id
"""


def q_genmcf_distributed(spark, sf):
    """Same end-to-end genmcf as genmcf_pipeline but forcing the
    DISTRIBUTED alternating resolver (_resolve_graph_distributed) — the
    path a 100x input takes past the driver gate — against the same
    DuckDB oracle, so the distributed loop is CORRECTNESS-gated, not
    just parity-tested."""
    from import_spark.plans.genmcf import run_genmcf

    csv = _t(spark, sf, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("date"),
        F.round("value", 4).cast("string").alias("val"),
        F.concat(F.lit("user/"), F.col("user_id")).alias("place"),
        F.col("event_id").alias("rid"),
    )
    res = run_genmcf(
        spark, _GENMCF_TMCF, csv, row_id_col="rid", force_distributed_resolve=True
    )
    return res.nodes.groupBy("prop").agg(F.count("*").alias("n")).orderBy("prop")


QUERIES.update(
    {
        "dedup_embedding": q_dedup_embedding,
        "sim_ivf_ann": q_sim_ivf_ann,
        "dedup_embedding_lsh": q_dedup_embedding_lsh,
        "genmcf_distributed": q_genmcf_distributed,
        "sim_ivf_exact": q_sim_ivf_exact,
    }
)
ORACLE_SQL.update(
    {
        "dedup_embedding": SQL_DEDUP_EMB,
        "dedup_embedding_lsh": SQL_DEDUP_EMB_LSH,
        "genmcf_distributed": SQL_GENMCF,
        "sim_ivf_exact": SQL_SIM_TOPK,
        # planted-twin construction: same exact twin as sim_lsh_ann
        "sim_ivf_ann": SQL_SIM_LSH_ANN,
    }
)


def q_p11_wide_observations(spark, sf):
    """P11/P10: config-driven wide->long observation import
    (observations_importer.py:68-139) — ignore columns, entity/date
    column mappings, StatVar-column melt, invalid-value filter."""
    from import_spark.operators.observations import import_wide_observations

    wide = _t(spark, sf, "orders").withColumn(
        "o_totalprice", F.col("o_totalprice").cast("decimal(18,2)")
    )
    return import_wide_observations(
        wide,
        ignore_columns=["o_orderstatus", "o_orderpriority"],
        column_mappings={
            "dcid:observationAbout": "o_orderkey",
            "dcid:observationDate": "o_orderdate",
        },
    ).orderBy("entity", "variable")


SQL_P11 = """
WITH src AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS entity,
         CAST(o_orderdate AS VARCHAR) AS date,
         CAST(o_custkey AS VARCHAR) AS v_cust,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS v_price
  FROM orders
), long AS (
  SELECT entity, 'custom/statvar_o_custkey' AS variable, date, v_cust AS value FROM src
  UNION ALL
  SELECT entity, 'custom/statvar_o_totalprice' AS variable, date, v_price AS value FROM src
)
SELECT entity, variable, date, value FROM long
WHERE value IS NOT NULL AND value <> '' AND value <> '<NA>'
  AND lower(trim(value)) NOT IN ('-','nil','n/a','na','none','null','<na>')
ORDER BY entity, variable
"""

QUERIES["p11_wide_observations"] = q_p11_wide_observations
ORACLE_SQL["p11_wide_observations"] = SQL_P11


_NAME_QUERIES = ["red bolt", "smallgizmo", "widget", "blue blue bolt", "hot gear", "red boltt"]


def q_ngram_name_search(spark, sf):
    """Ngram fuzzy name search (simple/util/ngram_matcher.py:44-197):
    word+chargram posting index over part names, IDF-scored ranked
    lookup for a fixed query batch — including a no-space form
    (pure chargram match) and a duplicate-word query (multiplicity
    scoring)."""
    from import_spark.operators.name_search import (
        build_name_index,
        ngram_name_search,
    )

    names = _t(spark, sf, "part").select(
        F.col("p_name").alias("key"), F.col("p_partkey").alias("value")
    )
    queries = spark.createDataFrame([(q,) for q in _NAME_QUERIES], "query string")
    idx = build_name_index(names)
    # 0.5 match fraction (a lookup-config override the reference's
    # lookup() supports, ngram_matcher.py:98-103): the default 0.8
    # admits only near-exact keys; 0.5 lets the no-space and typo
    # queries exercise the chargram posting path
    out = ngram_name_search(idx, queries, k=5, min_match_fraction=0.5)
    return out.select(
        "query",
        F.col("rank").cast("long").alias("rank"),
        "key",
        "value",
        F.col("matches").cast("long").alias("matches"),
        "score",
    ).orderBy("query", "rank")


SQL_NGRAM_SEARCH = """
WITH names AS (
  SELECT p_name AS key, CAST(p_partkey AS VARCHAR) AS value,
         trim(regexp_replace(regexp_replace(lower(p_name), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
  FROM part
),
qs(query) AS (VALUES ('red bolt'), ('smallgizmo'), ('widget'), ('blue blue bolt'), ('hot gear'), ('red boltt')),
qn AS (
  SELECT query,
         trim(regexp_replace(regexp_replace(lower(query), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS qnorm
  FROM qs
),
npost AS (
  SELECT key, value, norm,
         unnest(list_distinct(list_concat(
           string_split(norm, ' '),
           [substr(norm, i + 1, 4) FOR i IN range(0, greatest(length(norm) - 4, 0) + 1)]
         ))) AS ngram
  FROM names
),
post AS (
  SELECT key, value, ngram, strpos(norm, ngram) - 1 AS pos,
         count(*) OVER (PARTITION BY ngram) AS df
  FROM npost
),
qlists AS (
  SELECT query, length(qnorm) AS qlen,
         list_concat(
           string_split(qnorm, ' '),
           list_filter(
             list_distinct([substr(qnorm, i + 1, 4) FOR i IN range(0, greatest(length(qnorm) - 4, 0) + 1)]),
             g -> NOT list_contains(string_split(qnorm, ' '), g))
         ) AS ql
  FROM qn
),
qx AS (SELECT query, qlen, len(ql) AS n_q, unnest(ql) AS ngram FROM qlists),
qg AS (SELECT query, qlen, n_q, ngram, count(*) AS mult FROM qx GROUP BY ALL),
cand AS (
  SELECT qg.query, qg.qlen, qg.n_q, p.key, p.value,
         sum(qg.mult * 1.0 / p.df) AS idf,
         CAST(sum(qg.mult) AS BIGINT) AS matches,
         min(p.pos) AS pos
  FROM post p JOIN qg USING (ngram)
  GROUP BY ALL
),
scored AS (
  SELECT query, key, value, matches,
         round(idf + (qlen - pos) * 10000.0 + matches * 100.0, 4) AS score
  FROM cand
  WHERE matches >= greatest(1.0, n_q * 0.5)
),
ranked AS (
  SELECT query,
         CAST(row_number() OVER (PARTITION BY query ORDER BY score DESC, value, key) AS BIGINT) AS rank,
         key, value, matches, score
  FROM scored
)
SELECT query, rank, key, value, matches, score FROM ranked
WHERE rank <= 5 ORDER BY query, rank
"""

QUERIES["ngram_name_search"] = q_ngram_name_search
ORACLE_SQL["ngram_name_search"] = SQL_NGRAM_SEARCH
QUERIES["name_resolution"] = q_name_resolution
ORACLE_SQL["name_resolution"] = SQL_NAME_RESOLUTION


def q_j9_obs_entity_type(spark, sf):
    """J9: observations ⨝ entity-type dimension
    (place_aggregation_generator.py shape): events as observations
    about user entities, customer mktsegment as the entity type,
    broadcast dimension join, per-type rollup. The dimension is
    truncated to custkey<100 so the left join's miss path (untyped
    entities) is exercised."""
    from import_spark.operators.relational import attach_entity_types

    obs = _t(spark, sf, "events").select(
        F.concat(F.lit("user/"), F.col("user_id")).alias("observationAbout"),
        F.col("value"),
    )
    ent = (
        _t(spark, sf, "customer")
        .filter(F.col("c_custkey") < 100)
        .select(
            F.concat(F.lit("user/"), F.col("c_custkey")).alias("dcid"),
            F.col("c_mktsegment").alias("typeOf"),
        )
    )
    joined = attach_entity_types(obs, ent)
    return (
        joined.groupBy(F.coalesce("entity_type", F.lit("__untyped__")).alias("entity_type"))
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("entity_type")
    )


SQL_J9 = """
WITH obs AS (
  SELECT 'user/' || CAST(user_id AS VARCHAR) AS observationAbout, value FROM events
),
ent AS (
  SELECT 'user/' || CAST(c_custkey AS VARCHAR) AS dcid, c_mktsegment AS typeOf
  FROM customer WHERE c_custkey < 100
)
SELECT coalesce(e.typeOf, '__untyped__') AS entity_type,
       count(*) AS n_obs,
       round(sum(o.value), 4) AS sum_value
FROM obs o LEFT JOIN ent e ON o.observationAbout = e.dcid
GROUP BY 1 ORDER BY 1
"""


def q_a14_collisions(spark, sf):
    """A14: content-hash collision counting (DcidGenerator keyString
    bookkeeping, DcidGenerator.java collision maps): ids whose source
    key strings differ. A deliberately narrow id (2-hex-char md5
    prefix, 256 buckets) forces real collisions on the documents
    table."""
    from import_spark.operators.relational import id_collisions

    docs = _t(spark, sf, "documents").select(
        F.substring(F.md5(F.col("text")), 1, 2).alias("id"), F.col("text")
    )
    return id_collisions(docs, "id", "text").orderBy("id")


SQL_A14 = """
SELECT substr(md5(text), 1, 2) AS id,
       count(DISTINCT text) AS n_keys
FROM documents
GROUP BY 1 HAVING count(DISTINCT text) > 1
ORDER BY id
"""

QUERIES["j9_obs_entity_type"] = q_j9_obs_entity_type
ORACLE_SQL["j9_obs_entity_type"] = SQL_J9
QUERIES["a14_collisions"] = q_a14_collisions
ORACLE_SQL["a14_collisions"] = SQL_A14


def q_t4_mcf_roundtrip(spark, sf):
    """S1+T4 end-to-end gate: MCF text synthesized from events is
    written to disk, re-read with the node-blocked scan
    (PipelineUtils.java:150-171 record-delimiter semantics), typed-value
    parsed (McfParser.java:336-437) and flattened to triples
    (mcf_parser.py:169-240); the oracle computes the expected triple
    set directly from the base table, so the whole scan→parse→flatten
    path is value-gated."""
    import os
    import tempfile

    from import_spark.sources.mcf import mcf_to_triples, read_mcf

    blocks = _t(spark, sf, "events").select(
        F.concat(
            F.lit("Node: e"), F.col("event_id"), F.lit("\n"),
            F.lit("typeOf: dcs:Event\n"),
            F.lit('eventType: "'), F.col("event_type"), F.lit('"\n'),
            F.lit("userRef: l:u"), F.col("user_id"), F.lit("\n"),
            F.lit("value: "),
            F.round(F.col("value") * 100).cast("long"),
            F.lit("\n"),
        ).alias("value")
    )
    path = os.path.join(tempfile.mkdtemp(prefix="mcf_rt_"), "mcf")
    blocks.write.mode("overwrite").text(path)
    return mcf_to_triples(read_mcf(spark, path)).orderBy(
        "subject_id", "predicate"
    )


SQL_T4 = """
WITH e AS (
  SELECT 'e' || CAST(event_id AS VARCHAR) AS subj,
         event_type,
         'l:u' || CAST(user_id AS VARCHAR) AS uref,
         CAST(CAST(round(value * 100, 0) AS BIGINT) AS VARCHAR) AS val
  FROM events
)
SELECT subj AS subject_id, 'typeOf' AS predicate, 'Event' AS object, 'ID' AS object_kind FROM e
UNION ALL SELECT subj, 'eventType', event_type, 'VALUE' FROM e
UNION ALL SELECT subj, 'userRef', uref, 'ID' FROM e
UNION ALL SELECT subj, 'value', val, 'VALUE' FROM e
ORDER BY subject_id, predicate
"""

QUERIES["t4_mcf_roundtrip"] = q_t4_mcf_roundtrip
ORACLE_SQL["t4_mcf_roundtrip"] = SQL_T4


def q_s4_tfrecord_roundtrip(spark, sf):
    """S4 end-to-end gate: event payloads framed as GZIP TFRecords
    (length+masked-CRC32C framing, PipelineUtils.java:121-141 /
    TFRecordIO wire format), written and re-read via the
    binaryFile-splitting scan; the oracle recomputes the payload
    strings straight from the base table, so the framing codec and
    scan are value-gated."""
    import os
    import tempfile

    from import_spark.sources.tfrecord import read_tfrecords, write_tfrecords

    payloads = _t(spark, sf, "events").select(
        F.encode(
            F.concat_ws(
                "|",
                F.col("event_id").cast("string"),
                F.col("event_type"),
                F.col("user_id").cast("string"),
            ),
            "UTF-8",
        ).alias("payload")
    )
    path = os.path.join(tempfile.mkdtemp(prefix="tfrec_rt_"), "recs")
    write_tfrecords(payloads, path)
    return (
        read_tfrecords(spark, path, verify=True)
        .select(F.col("payload").cast("string").alias("rec"))
        .orderBy("rec")
    )


SQL_S4 = """
SELECT CAST(event_id AS VARCHAR) || '|' || event_type || '|' || CAST(user_id AS VARCHAR) AS rec
FROM events ORDER BY rec
"""


def q_s5_jsonld_roundtrip(spark, sf):
    """S5 end-to-end gate: orders rendered as NDJSON JSON-LD nodes
    (@id/@type/literal properties), written as text and re-read through
    the JSON-LD scan (jsonld.py — @id namespace strip, @type →
    typeOf RESOLVED_REF, numeric/text literal typing); the oracle
    computes the expected long-form rows directly from the base
    table."""
    import os
    import tempfile

    from import_spark.sources.jsonld import read_jsonld

    lines = _t(spark, sf, "orders").select(
        F.to_json(
            F.struct(
                F.concat(F.lit("dcid:o"), F.col("o_orderkey")).alias("@id"),
                F.lit("dcs:Order").alias("@type"),
                F.col("o_orderpriority").alias("priority"),
                F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            )
        ).alias("value")
    )
    path = os.path.join(tempfile.mkdtemp(prefix="jsonld_rt_"), "nodes")
    lines.write.mode("overwrite").text(path)
    return (
        read_jsonld(spark, path)
        .select("node_id", "prop", "value_type", "value")
        .orderBy("node_id", "prop")
    )


SQL_S5 = """
WITH o AS (
  SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS nid,
         o_orderpriority AS priority,
         CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR) AS cents
  FROM orders
)
SELECT nid AS node_id, 'typeOf' AS prop, 'RESOLVED_REF' AS value_type, 'Order' AS value FROM o
UNION ALL SELECT nid, 'priority', 'TEXT', priority FROM o
UNION ALL SELECT nid, 'cents', 'NUMBER', cents FROM o
ORDER BY node_id, prop
"""


def q_p2_quote_split(spark, sf):
    """P2 gate: quote/escape-aware multi-value cell split
    (StringUtil.java:182-218 SplitStructuredLineWithEscapes): composite
    cells built from part rows — a quoted token CONTAINING the
    delimiter, an unquoted numeric token, and a bare word — must split
    into exactly three values with the quoted comma preserved. The
    oracle computes the expected (id, pos, val) rows directly from the
    base table."""
    import pandas as pd

    from import_spark.functions.values import split_and_strip

    parts = _t(spark, sf, "part").select(
        F.col("p_partkey").alias("id"),
        F.concat(
            F.lit('"'), F.col("p_name"), F.lit(', extra", '),
            F.col("p_partkey"), F.lit(", bare"),
        ).alias("cell"),
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for i, cell in zip(pdf["id"], pdf["cell"]):
                vals = split_and_strip(cell)
                if vals is not None:
                    rows.extend((int(i), p, v) for p, v in enumerate(vals))
            yield pd.DataFrame(rows, columns=["id", "pos", "val"])

    return parts.mapInPandas(gen, schema="id long, pos int, val string").orderBy(
        "id", "pos"
    )


SQL_P2 = """
WITH p AS (SELECT p_partkey AS id, p_name FROM part)
SELECT id, 0 AS pos, p_name || ', extra' AS val FROM p
UNION ALL SELECT id, 1, CAST(id AS VARCHAR) FROM p
UNION ALL SELECT id, 2, 'bare' FROM p
ORDER BY id, pos
"""

QUERIES["s4_tfrecord_roundtrip"] = q_s4_tfrecord_roundtrip
ORACLE_SQL["s4_tfrecord_roundtrip"] = SQL_S4
QUERIES["s5_jsonld_roundtrip"] = q_s5_jsonld_roundtrip
ORACLE_SQL["s5_jsonld_roundtrip"] = SQL_S5
QUERIES["p2_quote_split"] = q_p2_quote_split
ORACLE_SQL["p2_quote_split"] = SQL_P2


def q_s7_mcf_sink_roundtrip(spark, sf):
    """S7 gate: long-form nodes from nation serialized to sorted MCF
    text (McfUtil.java:29-54 semantics — TEXT quoted, RESOLVED_REF
    dcid:-prefixed per McfUtil.java:184-190) and re-read through the
    node-blocked scan; value types must survive the roundtrip. Oracle
    computes the expected rows directly from the base table."""
    import os
    import tempfile

    from import_spark.sources.mcf import read_mcf, write_mcf

    n = _t(spark, sf, "nation")
    nid = F.concat(F.lit("nat"), F.col("n_nationkey"))
    nodes = (
        n.select(nid.alias("node_id"), F.lit("name").alias("prop"),
                 F.lit("TEXT").alias("value_type"), F.col("n_name").alias("value"))
        .unionByName(
            n.select(nid.alias("node_id"), F.lit("regionRef").alias("prop"),
                     F.lit("RESOLVED_REF").alias("value_type"),
                     F.concat(F.lit("region"), F.col("n_regionkey")).alias("value")))
        .unionByName(
            n.select(nid.alias("node_id"), F.lit("ord").alias("prop"),
                     F.lit("NUMBER").alias("value_type"),
                     F.col("n_nationkey").cast("string").alias("value")))
    )
    path = os.path.join(tempfile.mkdtemp(prefix="mcf_sink_"), "out")
    write_mcf(nodes, path)
    return (
        read_mcf(spark, path)
        .select("node_id", "prop", "value_type", "value")
        .orderBy("node_id", "prop")
    )


SQL_S7 = """
WITH n AS (
  SELECT 'nat' || CAST(n_nationkey AS VARCHAR) AS nid, n_name,
         'region' || CAST(n_regionkey AS VARCHAR) AS reg,
         CAST(n_nationkey AS VARCHAR) AS ordv
  FROM nation
)
SELECT nid AS node_id, 'name' AS prop, 'TEXT' AS value_type, n_name AS value FROM n
UNION ALL SELECT nid, 'regionRef', 'RESOLVED_REF', reg FROM n
UNION ALL SELECT nid, 'ord', 'NUMBER', ordv FROM n
ORDER BY node_id, prop
"""


def q_s3_csv_scan(spark, sf):
    """S3 gate: CSV file scan with header, quoted delimiter and
    commons-csv backslash escapes in UNQUOTED fields
    (TmcfCsvParser.java:55-112 withEscape('\\\\')): crafted lines from
    part rows written as one text file and read back via read_csv;
    the oracle computes the expected parsed fields directly."""
    import os
    import tempfile

    from import_spark.sources.tmcf import read_csv

    rows = _t(spark, sf, "part").select(
        F.lit(1).alias("k"),
        F.concat(
            F.col("p_partkey"), F.lit(',"'), F.col("p_name"),
            F.lit(', q",pre\\"'), F.col("p_brand"), F.lit('\\"post'),
        ).alias("value"),
    )
    header = spark.createDataFrame([(0, "id,qname,esc")], "k int, value string")
    lines = header.unionByName(rows).repartition(1).sortWithinPartitions("k", "value")
    path = os.path.join(tempfile.mkdtemp(prefix="csv_scan_"), "data")
    lines.select("value").write.mode("overwrite").text(path)
    return read_csv(spark, path).orderBy(F.col("id").cast("long"))


SQL_S3 = """
SELECT CAST(p_partkey AS VARCHAR) AS id,
       p_name || ', q' AS qname,
       'pre"' || p_brand || '"post' AS esc
FROM part ORDER BY p_partkey
"""

QUERIES["s7_mcf_sink_roundtrip"] = q_s7_mcf_sink_roundtrip
ORACLE_SQL["s7_mcf_sink_roundtrip"] = SQL_S7
QUERIES["s3_csv_scan"] = q_s3_csv_scan
ORACLE_SQL["s3_csv_scan"] = SQL_S3


def q_p7_numeric_clean(spark, sf):
    """P7 gate: numeric-string cleaning (McfMutator.java:90,161-163 —
    strip spaces/commas/percent before cast) over dirty strings built
    from orders; the oracle builds the same dirty strings and the
    expected cleaned/cast output directly."""
    from import_spark.functions.values import col_clean_numeric

    o = _t(spark, sf, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.concat(
            F.lit(" "), F.col("o_orderkey"), F.lit(","),
            F.col("o_custkey"), F.lit(" %"),
        ).alias("dirty"),
    )
    cleaned = col_clean_numeric(F.col("dirty"))
    return o.select(
        "id",
        cleaned.alias("cleaned"),
        cleaned.cast("double").alias("num"),
    ).orderBy("id")


SQL_P7 = """
SELECT o_orderkey AS id,
       CAST(o_orderkey AS VARCHAR) || CAST(o_custkey AS VARCHAR) AS cleaned,
       CAST(CAST(o_orderkey AS VARCHAR) || CAST(o_custkey AS VARCHAR) AS DOUBLE) AS num
FROM orders ORDER BY id
"""


def q_p16_literal_compression(spark, sf):
    """P16 gate: GZIP literal compression roundtrip
    (PipelineUtils.compressString / GraphReader.java:76-99) over the
    documents table — decompress(compress(text)) must equal text and
    the compressed payload must be a real GZIP member (shorter than
    the UTF-8 input for these docs)."""
    from import_spark.functions.values import (
        compress_literals_udf,
        decompress_literals_udf,
    )

    d = _t(spark, sf, "documents").select("doc_id", "text")
    comp = compress_literals_udf()(F.col("text"))
    out = d.select(
        "doc_id",
        decompress_literals_udf()(comp).alias("text_rt"),
        # GZIP member magic — proves a real compressed payload was
        # produced (short docs can legitimately grow under GZIP, so a
        # size check would not be deterministic)
        F.hex(comp.substr(1, 2)).alias("gzip_magic"),
    )
    return out.orderBy("doc_id")


SQL_P16 = """
SELECT doc_id, text AS text_rt, '1F8B' AS gzip_magic
FROM documents ORDER BY doc_id
"""


def q_a3_facet_dedup(spark, sf):
    """A3 gate: facet dedupe (representative-value distinct on the
    facet key, TimeSeries facet dedup): every non-key column is made
    functionally dependent on the key so the surviving representative
    row is deterministic and the whole output is checkable."""
    from import_spark.operators.series import dedupe_facets

    ts = _t(spark, sf, "events").select(
        F.col("event_type").alias("measurementMethod"),
        F.concat(F.lit("u"), (F.col("user_id") % 7)).alias("unit"),
        F.concat(F.col("event_type"), F.lit("|"), (F.col("user_id") % 7)).alias(
            "payload"
        ),
    )
    return dedupe_facets(ts, ["measurementMethod", "unit"]).orderBy(
        "measurementMethod", "unit"
    )


SQL_A3 = """
SELECT DISTINCT event_type AS measurementMethod,
       'u' || CAST(user_id % 7 AS VARCHAR) AS unit,
       event_type || '|' || CAST(user_id % 7 AS VARCHAR) AS payload
FROM events ORDER BY measurementMethod, unit
"""


def q_t6_provenance_triples(spark, sf):
    """T6 gate: Provenance rows → typeOf/name/source/url triple
    synthesis (simple/stats/data.py:193-222) from supplier rows; the
    oracle unions the expected fixed triples directly."""
    from import_spark.operators.statvar import provenance_triples

    prov = _t(spark, sf, "supplier").select(
        F.concat(F.lit("prov/"), F.col("s_suppkey")).alias("id"),
        F.col("s_name").alias("name"),
        F.concat(F.lit("src/"), F.col("s_nationkey")).alias("source_id"),
        F.concat(F.lit("https://ex.org/"), F.col("s_suppkey")).alias("url"),
    )
    return provenance_triples(prov).orderBy("subject_id", "predicate")


SQL_T6 = """
WITH s AS (
  SELECT 'prov/' || CAST(s_suppkey AS VARCHAR) AS sid, s_name,
         'src/' || CAST(s_nationkey AS VARCHAR) AS src,
         'https://ex.org/' || CAST(s_suppkey AS VARCHAR) AS u
  FROM supplier
)
SELECT sid AS subject_id, 'typeOf' AS predicate, 'Provenance' AS object_id, NULL AS object_value FROM s
UNION ALL SELECT sid, 'name', NULL, s_name FROM s
UNION ALL SELECT sid, 'source', src, NULL FROM s
UNION ALL SELECT sid, 'url', NULL, u FROM s
ORDER BY subject_id, predicate
"""

QUERIES["p7_numeric_clean"] = q_p7_numeric_clean
ORACLE_SQL["p7_numeric_clean"] = SQL_P7
QUERIES["p16_literal_compression"] = q_p16_literal_compression
ORACLE_SQL["p16_literal_compression"] = SQL_P16
QUERIES["a3_facet_dedup"] = q_a3_facet_dedup
ORACLE_SQL["a3_facet_dedup"] = SQL_A3
QUERIES["t6_provenance_triples"] = q_t6_provenance_triples
ORACLE_SQL["t6_provenance_triples"] = SQL_T6


def q_a2_optimized_graph_roundtrip(spark, sf):
    """A2/S8 end-to-end gate: long-form SVObs rows from events are
    series-grouped, proto-wire encoded (McfStatVarObsSeries /
    McfOptimizedGraph, Mcf.proto:100-138), framed as GZIP TFRecords,
    re-read and decoded back to long-form rows (PipelineUtils.java:
    98-141 / GraphUtils.java:217-277). The oracle computes the
    expected rows directly from the base table — the series grouping,
    the hand-rolled proto codec and the TFRecord framing are all
    value-gated (numbers render as Java Double.toString, hence the
    '.0' suffix on integral values)."""
    import os
    import tempfile

    from import_spark.operators.optimized_graph import (
        export_optimized_graph,
        read_optimized_graph,
    )

    obs = _t(spark, sf, "events").select(
        F.concat(F.lit("user/"), F.col("user_id")).alias("observation_about"),
        F.concat(F.lit("var/"), F.col("event_type")).alias("variable_measured"),
        F.concat(F.lit("u"), F.col("user_id") % 3).alias("unit"),
        F.date_format("ts", "yyyy-MM-dd").alias("date"),
        F.round(F.col("value") * 100).cast("long").cast("string").alias("value"),
        F.concat(F.lit("obs/"), F.col("event_id")).alias("dcid"),
    )
    path = os.path.join(tempfile.mkdtemp(prefix="optg_rt_"), "series")
    export_optimized_graph(obs, path)
    return (
        read_optimized_graph(spark, path)
        .select(
            "observation_about",
            "variable_measured",
            "unit",
            "date",
            "value",
            "value_number",
            "dcid",
        )
        .orderBy("dcid")
    )


SQL_A2_OPTG = """
SELECT 'user/' || CAST(user_id AS VARCHAR) AS observation_about,
       'var/' || event_type AS variable_measured,
       'u' || CAST(user_id % 3 AS VARCHAR) AS unit,
       strftime(ts, '%Y-%m-%d') AS date,
       CAST(CAST(round(value * 100, 0) AS BIGINT) AS VARCHAR) || '.0' AS value,
       CAST(CAST(round(value * 100, 0) AS BIGINT) AS DOUBLE) AS value_number,
       'obs/' || CAST(event_id AS VARCHAR) AS dcid
FROM events ORDER BY dcid
"""

QUERIES["a2_optimized_graph_roundtrip"] = q_a2_optimized_graph_roundtrip
ORACLE_SQL["a2_optimized_graph_roundtrip"] = SQL_A2_OPTG


# ---------------- simple importer (SURVEY §3.3 Runner analogue) ----------------


def q_simple_vpr_obs(spark, sf):
    """Variable-per-row (SVObs) import
    (simple/stats/variable_per_row_importer.py:104-338): official
    column-mapping keys, per-row unit overriding the configured
    default, NA-token value filtering, and the entity dimension
    serialized into the properties JSON — all exercised over a
    projection of the events table. Bit-parity with the reference's
    own goldens is tests/test_simple_import.py."""
    from import_spark.operators.simple_importers import import_variable_per_row

    ev = _t(spark, sf, "events")
    inp = ev.select(
        F.concat(F.lit("dcid:user/"), F.col("user_id").cast("string")).alias("WHO"),
        F.col("event_type").alias("SERIES"),
        F.date_format("ts", "yyyy-MM-dd").alias("WHEN"),
        F.when(F.col("event_id") % 7 == 0, F.lit("-"))
        .otherwise(F.round(F.col("value") * 100).cast("long").cast("string"))
        .alias("VAL"),
        F.when(F.col("event_id") % 3 == 0, F.lit("dcid:Percent")).otherwise(F.lit("")).alias("U"),
    )
    return import_variable_per_row(
        inp,
        {
            "dcid:observationAbout": "WHO",
            "dcid:variableMeasured": "SERIES",
            "dcid:observationDate": "WHEN",
            "dcid:value": "VAL",
            "dcid:unit": "U",
        },
        observation_properties={"unit": "Count"},
        provenance="dcid:provenance/Events",
    )


SQL_SIMPLE_VPR = """
SELECT CAST(NULL AS VARCHAR) AS entity,
       event_type AS variable,
       strftime(ts, '%Y-%m-%d') AS date,
       CAST(CAST(round(value * 100, 0) AS BIGINT) AS VARCHAR) AS value,
       'provenance/Events' AS provenance,
       CASE WHEN event_id % 3 = 0 THEN 'Percent' ELSE 'Count' END AS unit,
       '' AS scaling_factor,
       '' AS measurement_method,
       '' AS observation_period,
       '{"dcid:observationAbout": "user/' || CAST(user_id AS VARCHAR) || '"}' AS properties
FROM events WHERE event_id % 7 <> 0
"""


_SIMPLE_EVENTS_CONFIG = {
    "inputFiles": {
        "events.csv": {
            "eventType": "UserEvent",
            "entityType": "User",
            "provenance": "Events Provenance",
            "idColumn": "event_id",
            "computedVariables": ["User Event Count"],
            "columnMappings": {
                "dcid:location": "user_id",
                "dcid:observationDate": "EVENT_TS",
            },
        }
    },
    "events": {"UserEvent": {"name": "User Event", "description": "A user interaction"}},
    "variables": {
        "User Event Count": {
            "name": "Number of user events",
            "aggregation": {"period": "month"},
        }
    },
    "sources": {
        "Events Source": {
            "url": "http://example.org/events",
            "provenances": {"Events Provenance": "http://example.org/events/prov"},
        }
    },
}


def _simple_events_result(spark, sf):
    """Full Runner-analogue plan over the events table: dispatch,
    offline recon resolution, count aggregation, event row triples and
    the nodes-registry triples (simple/stats/runner.py:89-163,
    events_importer.py:42-343, nodes.py)."""
    from import_spark.plans.simple_import import run_simple_import

    ev = _t(spark, sf, "events")
    inp = ev.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("EVENT_TS"),
        "event_type",
        "props",
    )
    recon = (
        ev.select(F.col("user_id").cast("string").alias("external_id"))
        .distinct()
        .select("external_id", F.concat(F.lit("user/"), F.col("external_id")).alias("dcid"))
    )
    return run_simple_import(spark, _SIMPLE_EVENTS_CONFIG, {"events.csv": inp}, recon_table=recon)


def q_simple_import_events(spark, sf):
    return _simple_events_result(spark, sf).observations


def q_simple_import_triples(spark, sf):
    return _simple_events_result(spark, sf).triples


SQL_SIMPLE_EVENTS_OBS = """
SELECT 'user/' || CAST(user_id AS VARCHAR) AS entity,
       'User_Event_Count' AS variable,
       strftime(ts, '%Y-%m') AS date,
       CAST(count(*) AS VARCHAR) AS value,
       'c/p/1' AS provenance,
       '' AS unit, '' AS scaling_factor, '' AS measurement_method,
       '' AS observation_period, '' AS properties
FROM events GROUP BY 1, 3
"""

SQL_SIMPLE_EVENTS_TRIPLES = """
SELECT CAST(event_id AS VARCHAR) AS subject_id, 'typeOf' AS predicate,
       'UserEvent' AS object_id, CAST(NULL AS VARCHAR) AS object_value FROM events
UNION ALL SELECT CAST(event_id AS VARCHAR), 'location', 'user/' || CAST(user_id AS VARCHAR), NULL FROM events
UNION ALL SELECT CAST(event_id AS VARCHAR), 'observationDate', NULL, strftime(ts, '%Y-%m-%d %H:%M:%S') FROM events
UNION ALL SELECT CAST(event_id AS VARCHAR), 'includedIn', 'c/p/1', NULL FROM events
UNION ALL SELECT CAST(event_id AS VARCHAR), 'event_type', NULL, event_type FROM events
UNION ALL SELECT CAST(event_id AS VARCHAR), 'props', NULL, props FROM events
UNION ALL SELECT DISTINCT 'user/' || CAST(user_id AS VARCHAR), 'typeOf', 'User', NULL FROM events
UNION ALL SELECT * FROM (VALUES
  ('c/s/default', 'typeOf', 'Source', NULL),
  ('c/s/default', 'name', NULL, 'Custom Data Commons'),
  ('c/s/1', 'typeOf', 'Source', NULL),
  ('c/s/1', 'name', NULL, 'Events Source'),
  ('c/s/1', 'url', NULL, 'http://example.org/events'),
  ('c/s/1', 'domain', NULL, 'example.org'),
  ('c/p/default', 'typeOf', 'Provenance', NULL),
  ('c/p/default', 'name', NULL, 'Custom Import'),
  ('c/p/default', 'source', 'c/s/default', NULL),
  ('c/p/default', 'url', NULL, 'custom-import'),
  ('c/p/1', 'typeOf', 'Provenance', NULL),
  ('c/p/1', 'name', NULL, 'Events Provenance'),
  ('c/p/1', 'source', 'c/s/1', NULL),
  ('c/p/1', 'url', NULL, 'http://example.org/events/prov'),
  ('event_id', 'typeOf', 'Property', NULL),
  ('event_id', 'name', NULL, 'event_id'),
  ('event_type', 'typeOf', 'Property', NULL),
  ('event_type', 'name', NULL, 'event_type'),
  ('props', 'typeOf', 'Property', NULL),
  ('props', 'name', NULL, 'props'),
  ('UserEvent', 'typeOf', 'Class', NULL),
  ('UserEvent', 'subClassOf', 'Event', NULL),
  ('UserEvent', 'name', NULL, 'User Event'),
  ('UserEvent', 'description', NULL, 'A user interaction'),
  ('UserEvent', 'includedIn', 'c/p/1', NULL),
  ('UserEvent', 'includedIn', 'c/s/1', NULL),
  ('c/g/Root', 'typeOf', 'StatVarGroup', NULL),
  ('c/g/Root', 'name', NULL, 'Custom Variables'),
  ('c/g/Root', 'specializationOf', 'dc/g/Root', NULL),
  ('User_Event_Count', 'typeOf', 'StatisticalVariable', NULL),
  ('User_Event_Count', 'name', NULL, 'Number of user events'),
  ('User_Event_Count', 'memberOf', 'c/g/Root', NULL),
  ('User_Event_Count', 'includedIn', 'c/p/1', NULL),
  ('User_Event_Count', 'includedIn', 'c/s/1', NULL),
  ('User_Event_Count', 'populationType', 'Thing', NULL),
  ('User_Event_Count', 'statType', 'measuredValue', NULL),
  ('User_Event_Count', 'measuredProperty', 'User_Event_Count', NULL)
) v(subject_id, predicate, object_id, object_value)
"""

QUERIES.update(
    {
        "simple_vpr_obs": q_simple_vpr_obs,
        "simple_import_events": q_simple_import_events,
        "simple_import_triples": q_simple_import_triples,
    }
)
ORACLE_SQL.update(
    {
        "simple_vpr_obs": SQL_SIMPLE_VPR,
        "simple_import_events": SQL_SIMPLE_EVENTS_OBS,
        "simple_import_triples": SQL_SIMPLE_EVENTS_TRIPLES,
    }
)


def q_simple_mcf_import(spark, sf):
    """McfImporter custom-DC path (mcf_importer.py:59-165) as a db
    query: MCF node rows built from the nation table — local ids
    resolved through their dcid rows, ref values → object_id, an
    already-URI node passing through unmapped, and a dcid-less local
    node dropped (the reference raises; quarantine policy here)."""
    from import_spark.operators.simple_importers import mcf_db_triples

    n = _t(spark, sf, "nation")
    lid = F.concat(F.lit("l:n"), F.col("n_nationkey").cast("string"))
    rows = n.select(
        F.explode(
            F.array(
                F.struct(
                    lid.alias("node_id"),
                    F.lit("dcid").alias("prop"),
                    F.lit("TEXT").alias("value_type"),
                    F.concat(F.lit("nation/"), F.col("n_nationkey").cast("string")).alias(
                        "value"
                    ),
                ),
                F.struct(
                    lid.alias("node_id"),
                    F.lit("name").alias("prop"),
                    F.lit("TEXT").alias("value_type"),
                    F.col("n_name").alias("value"),
                ),
                F.struct(
                    lid.alias("node_id"),
                    F.lit("locatedIn").alias("prop"),
                    F.lit("UNRESOLVED_REF").alias("value_type"),
                    F.concat(F.lit("region/"), F.col("n_regionkey").cast("string")).alias(
                        "value"
                    ),
                ),
            )
        ).alias("r")
    ).select("r.*", F.lit("mem://nation.mcf").alias("src_file"))
    extra = spark.createDataFrame(
        [
            ("dcid:Source1", "url", "TEXT", "http://example.org", "mem://nation.mcf"),
            # no dcid row AND not URI/namespace-shaped (space, no colon)
            # → the reference raises, this engine quarantine-drops
            ("orphan node 1", "name", "TEXT", "no dcid, dropped", "mem://nation.mcf"),
        ],
        "node_id string, prop string, value_type string, value string, src_file string",
    )
    return mcf_db_triples(rows.unionByName(extra))


SQL_SIMPLE_MCF = """
SELECT 'nation/' || CAST(n_nationkey AS VARCHAR) AS subject_id,
       'name' AS predicate, CAST(NULL AS VARCHAR) AS object_id, n_name AS object_value
FROM nation
UNION ALL
SELECT 'nation/' || CAST(n_nationkey AS VARCHAR), 'locatedIn',
       'region/' || CAST(n_regionkey AS VARCHAR), NULL
FROM nation
UNION ALL
SELECT 'dcid:Source1', 'url', NULL, 'http://example.org'
"""

QUERIES["simple_mcf_import"] = q_simple_mcf_import
ORACLE_SQL["simple_mcf_import"] = SQL_SIMPLE_MCF


def q_s5_jsonld_export_roundtrip(spark, sf):
    """JSON-LD sink → scan roundtrip (jsonld_exporter.py:34-269 write
    side + S5 read side): node statements built from nation, written as
    compacted NDJSON-LD shards, read back as statements."""
    import os
    import tempfile

    from import_spark.sources.jsonld import read_jsonld, write_jsonld

    n = _t(spark, sf, "nation")
    nid = F.concat(F.lit("nation/"), F.col("n_nationkey").cast("string"))
    rows = n.select(
        F.explode(
            F.array(
                F.struct(
                    nid.alias("node_id"),
                    F.lit("typeOf").alias("prop"),
                    F.lit("RESOLVED_REF").alias("value_type"),
                    F.lit("Nation").alias("value"),
                ),
                F.struct(
                    nid.alias("node_id"),
                    F.lit("name").alias("prop"),
                    F.lit("TEXT").alias("value_type"),
                    F.col("n_name").alias("value"),
                ),
                F.struct(
                    nid.alias("node_id"),
                    F.lit("locatedIn").alias("prop"),
                    F.lit("RESOLVED_REF").alias("value_type"),
                    F.concat(F.lit("region/"), F.col("n_regionkey").cast("string")).alias(
                        "value"
                    ),
                ),
            )
        ).alias("r")
    ).select("r.*", F.lit("mem://nation.jsonld").alias("src_file"))
    path = os.path.join(tempfile.mkdtemp(prefix="jsonld_rt_"), "shards")
    write_jsonld(rows, path)
    return read_jsonld(spark, path).select("node_id", "prop", "value_type", "value")


SQL_S5_EXPORT = """
SELECT 'nation/' || CAST(n_nationkey AS VARCHAR) AS node_id,
       'typeOf' AS prop, 'RESOLVED_REF' AS value_type, 'Nation' AS value FROM nation
UNION ALL
SELECT 'nation/' || CAST(n_nationkey AS VARCHAR), 'name', 'TEXT', n_name FROM nation
UNION ALL
SELECT 'nation/' || CAST(n_nationkey AS VARCHAR), 'locatedIn', 'RESOLVED_REF',
       'region/' || CAST(n_regionkey AS VARCHAR) FROM nation
"""

QUERIES["s5_jsonld_export_roundtrip"] = q_s5_jsonld_export_roundtrip
ORACLE_SQL["s5_jsonld_export_roundtrip"] = SQL_S5_EXPORT


def q_statvar_collisions(spark, sf):
    """StatVar dcid-collision tracking (StatVarState.java:116-189) via
    the REAL operator (mcf_checker.statvar_collisions): long-form
    StatVar nodes built from parts — even partkeys share a curated dcid
    per 6-block with DIFFERENT content (Sanity_SameDcidForDifferentStatVars
    on every non-first member), odd partkeys appear twice with identical
    content under two curated dcids (Sanity_DifferentDcidsForSameStatVar
    on the second). The oracle replays the reference's first-registration
    fold; generated-dcid equality reduces to content equality because
    only measuredProperty varies (farmhash is injective on these keys —
    the hash itself never reaches the output)."""
    from import_spark.operators.mcf_checker import statvar_collisions

    p = _t(spark, sf, "part")

    def node_rows(df, nid, curated, mp):
        return df.select(
            nid.alias("node_id"),
            F.explode(
                F.array(
                    F.struct(F.lit("typeOf").alias("prop"), F.lit("StatisticalVariable").alias("value")),
                    F.struct(F.lit("dcid").alias("prop"), curated.alias("value")),
                    F.struct(F.lit("populationType").alias("prop"), F.lit("Person").alias("value")),
                    F.struct(F.lit("measuredProperty").alias("prop"), mp.alias("value")),
                    F.struct(F.lit("statType").alias("prop"), F.lit("measuredValue").alias("value")),
                )
            ).alias("pv"),
        ).select(
            "node_id",
            F.col("pv.prop").alias("prop"),
            F.lit("TEXT").alias("value_type"),
            F.col("pv.value").alias("value"),
        )

    k = F.col("p_partkey")
    even = node_rows(
        p.filter(k % 2 == 0),
        F.format_string("sv%06d", k),
        F.concat(F.lit("svc/"), (k - k % 6).cast("string")),
        F.concat(F.lit("mp"), k.cast("string")),
    )
    odd_a = node_rows(
        p.filter(k % 2 == 1),
        F.format_string("a%06d", k),
        F.concat(F.lit("c1/"), k.cast("string")),
        F.concat(F.lit("omp"), k.cast("string")),
    )
    odd_b = node_rows(
        p.filter(k % 2 == 1),
        F.format_string("b%06d", k),
        F.concat(F.lit("c2/"), k.cast("string")),
        F.concat(F.lit("omp"), k.cast("string")),
    )
    nodes = even.unionByName(odd_a).unionByName(odd_b)
    return statvar_collisions(nodes).orderBy("node_id")


SQL_STATVAR_COLLISIONS = """
WITH allsv AS (
  SELECT printf('sv%06d', p_partkey) AS node_id,
         'svc/' || CAST(p_partkey - p_partkey % 6 AS VARCHAR) AS curated,
         'mp' || CAST(p_partkey AS VARCHAR) AS content
  FROM part WHERE p_partkey % 2 = 0
  UNION ALL
  SELECT printf('a%06d', p_partkey), 'c1/' || CAST(p_partkey AS VARCHAR),
         'omp' || CAST(p_partkey AS VARCHAR)
  FROM part WHERE p_partkey % 2 = 1
  UNION ALL
  SELECT printf('b%06d', p_partkey), 'c2/' || CAST(p_partkey AS VARCHAR),
         'omp' || CAST(p_partkey AS VARCHAR)
  FROM part WHERE p_partkey % 2 = 1
),
ranked AS (
  SELECT *,
         first_value(content) OVER (PARTITION BY curated ORDER BY node_id) AS c_first_content
  FROM allsv
),
same_err AS (
  SELECT node_id, 'LEVEL_ERROR' AS level,
         'Sanity_SameDcidForDifferentStatVars' AS counter,
         'Found same curated ID for different StatVars :: curatedDcid: ''' ||
           curated || ''', node: ''' || node_id || '''' AS message
  FROM ranked WHERE content <> c_first_content
),
reg AS (SELECT * FROM ranked WHERE content = c_first_content),
ranked2 AS (
  SELECT *,
         first_value(curated) OVER (PARTITION BY content ORDER BY node_id) AS g_first_cur
  FROM reg
),
diff_err AS (
  SELECT node_id, 'LEVEL_ERROR' AS level,
         'Sanity_DifferentDcidsForSameStatVar' AS counter,
         'Found different curated IDs for same StatVar :: dcid1: ''' ||
           g_first_cur || ''', dcid2: ''' || curated || ''', node: ''' ||
           node_id || '''' AS message
  FROM ranked2 WHERE curated <> g_first_cur
)
SELECT * FROM same_err UNION ALL SELECT * FROM diff_err ORDER BY node_id
"""

QUERIES["statvar_collisions"] = q_statvar_collisions
ORACLE_SQL["statvar_collisions"] = SQL_STATVAR_COLLISIONS


def q_simple_metadata_validation(spark, sf):
    """MetadataValidator.validate as a plan (validation.py:25-162):
    nations < 20 define Provenance nodes via typeOf triples, only even
    nationkeys carry a non-empty source link, the config references
    the provenances of nations < 10 plus one undefined dcid. Expected
    errors: MISSING_PROVENANCE for the undefined reference,
    MISSING_SOURCE for every odd-keyed defined provenance. The whole
    pass is one filtered scan + one hash aggregate over the triples."""
    from import_spark.operators.metadata_validation import validate_metadata

    n = _t(spark, sf, "nation").where(F.col("n_nationkey") < 20)
    prov = F.concat(F.lit("prov/"), F.col("n_name"))
    type_triples = n.select(
        prov.alias("subject_id"),
        F.lit("dcs:typeOf").alias("predicate"),
        F.lit("dcid:Provenance").alias("object_id"),
        F.lit(None).cast("string").alias("object_value"),
    )
    source_triples = n.where(F.col("n_nationkey") % 2 == 0).select(
        prov.alias("subject_id"),
        F.lit("source").alias("predicate"),
        F.lit(None).cast("string").alias("object_id"),
        F.concat(F.lit("src/"), F.col("n_name")).alias("object_value"),
    )
    # config is driver-side O(entries) state, as in the reference;
    # nation is a 25-row dimension table
    names = sorted(
        r["n_name"] for r in n.where(F.col("n_nationkey") < 10).select("n_name").collect()
    )
    config = {
        "inputFiles": [
            {"pattern": f"{name}.csv", "provenance": f"dcid:prov/{name}"}
            for name in names
        ]
        + [{"pattern": "orphan.csv", "provenance": "dcid:prov/MISSING_X"}]
    }
    return validate_metadata(
        spark, config, type_triples.unionByName(source_triples)
    )


SQL_SIMPLE_METADATA_VALIDATION = """
WITH defined AS (
  SELECT 'dcid:prov/' || n_name AS node, (n_nationkey % 2 = 0) AS has_source
  FROM nation WHERE n_nationkey < 20
),
referenced AS (
  SELECT 'dcid:prov/' || n_name AS node FROM nation WHERE n_nationkey < 10
  UNION ALL SELECT 'dcid:prov/MISSING_X'
)
SELECT 'MISSING_PROVENANCE' AS error_type, node FROM referenced
WHERE node NOT IN (SELECT node FROM defined)
UNION ALL
SELECT 'MISSING_SOURCE', node FROM defined WHERE NOT has_source
ORDER BY error_type, node
"""

QUERIES["simple_metadata_validation"] = q_simple_metadata_validation
ORACLE_SQL["simple_metadata_validation"] = SQL_SIMPLE_METADATA_VALIDATION


def _calc_inputs(spark, sf):
    """Observation + TimeSeries tables for the calculated-StatVar
    queries: every order contributes an Amount_Order row (totalprice)
    and a Count_Order row ((orderkey%7)+1) under per-priority facets."""
    o = _t(spark, sf, "orders")
    ent = F.concat(F.lit("o/"), F.col("o_orderkey").cast("string"))
    date = F.date_format("o_orderdate", "yyyy-MM-dd")
    pr = F.substring("o_orderpriority", 1, 1)
    obs = o.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("Amount_Order").alias("variable_measured"),
                    ent.alias("entity1"),
                    F.lit("").alias("extra_entities_id"),
                    F.lit("f1").alias("facet_id"),
                    date.alias("date"),
                    F.col("o_totalprice").cast("string").alias("value"),
                ),
                F.struct(
                    F.lit("Count_Order").alias("variable_measured"),
                    ent.alias("entity1"),
                    F.lit("").alias("extra_entities_id"),
                    F.lit("f2").alias("facet_id"),
                    date.alias("date"),
                    ((F.col("o_orderkey") % 7) + 1).cast("string").alias("value"),
                ),
            )
        ).alias("r")
    ).select("r.*")

    def _facet(mm):
        return F.struct(
            F.lit("p/in").alias("provenance"),
            mm.alias("measurementMethod"),
            F.lit(None).cast("string").alias("unit"),
            F.lit(None).cast("string").alias("observationPeriod"),
            F.lit(None).cast("string").alias("scalingFactor"),
        )

    entities = F.concat(F.lit('["'), ent, F.lit('"]'))
    ts = o.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("Amount_Order").alias("variable_measured"),
                    ent.alias("entity1"),
                    F.lit("").alias("extra_entities_id"),
                    F.lit("f1").alias("facet_id"),
                    entities.alias("entities"),
                    _facet(F.concat(F.lit("Amt_"), pr)).alias("facet"),
                ),
                F.struct(
                    F.lit("Count_Order").alias("variable_measured"),
                    ent.alias("entity1"),
                    F.lit("").alias("extra_entities_id"),
                    F.lit("f2").alias("facet_id"),
                    entities.alias("entities"),
                    _facet(F.concat(F.lit("Cnt_"), pr)).alias("facet"),
                ),
            )
        ).alias("r")
    ).select("r.*")
    return obs, ts


_CALC_SPEC = [
    {
        "operation": "DIVIDE",
        "multiplier": 2,
        "input1": {"sv_regex": "Amount_.*", "measurement_method_regex": "Amt_.*"},
        "input2": {"sv_regex": "Count_Order", "measurement_method_regex": "Cnt_.*"},
        "output": {
            "sv_prefix": "calc/",
            "measurement_method_prefix": "dcAggregate/Calc_",
            "facet_info": {"unit": "USDPer"},
        },
    }
]


def _calc_result(spark, sf):
    from import_spark.operators.calculations import calculate_stat_vars

    obs, ts = _calc_inputs(spark, sf)
    return calculate_stat_vars(obs, ts, _CALC_SPEC, "p/out", value_as_string=False)


def q_statvar_calculation(spark, sf):
    """Calculated StatVars — the observation export
    (stat_var_calculation_generator.py:55-378): DIVIDE with a
    multiplier over the (entity, extra, date)-joined SV pair,
    prefix-derived output SV/mm names, FARM_FINGERPRINT facet ids.
    Value kept as a double (IEEE-identical on both engines; the
    Spanner STRING cast is pytest-gated)."""
    return _calc_result(spark, sf).observations


def q_statvar_calculation_ts(spark, sf):
    """Calculated StatVars — the DISTINCT TimeSeries metadata export
    (generator:236-295), facet struct projected to columns."""
    ts = _calc_result(spark, sf).timeseries
    return ts.select(
        "variable_measured",
        "entities",
        "extra_entities_id",
        "facet_id",
        F.col("facet.provenance").alias("facet_provenance"),
        F.col("facet.measurementMethod").alias("facet_mm"),
        F.col("facet.unit").alias("facet_unit"),
    )


def _calc_fid_values() -> str:
    """The 5 output facet fingerprints, precomputed by the pure-Python
    FarmHash twin (Guava-bit-parity-gated in tests/test_farmhash.py) —
    the same cross-engine exemption as the c1 fixture: DuckDB has no
    FARM_FINGERPRINT."""
    from import_spark.operators.calculations import (
        facet_fingerprint_key,
        signed_farm_fingerprint,
    )

    rows = []
    for p in "12345":
        key = facet_fingerprint_key("p/out", f"dcAggregate/Calc_Cnt_{p}", None, None, "USDPer")
        rows.append(f"('{p}', '{signed_farm_fingerprint(key)}')")
    return ", ".join(rows)


SQL_STATVAR_CALCULATION = f"""
WITH fid(pr, fid) AS (VALUES {_calc_fid_values()}),
base AS (
  SELECT 'o/' || CAST(o_orderkey AS VARCHAR) AS entity1,
         strftime(o_orderdate, '%Y-%m-%d') AS date,
         o_totalprice,
         CAST((o_orderkey % 7) + 1 AS DOUBLE) AS cnt,
         substr(o_orderpriority, 1, 1) AS pr
  FROM orders
)
SELECT 'calc/Amount_Order_Amt_' || pr AS variable_measured,
       entity1,
       '' AS extra_entities_id,
       fid.fid AS facet_id,
       date,
       (o_totalprice / cnt) * 2.0 AS value
FROM base JOIN fid USING (pr)
"""

SQL_STATVAR_CALCULATION_TS = f"""
WITH fid(pr, fid) AS (VALUES {_calc_fid_values()})
SELECT DISTINCT
       'calc/Amount_Order_Amt_' || substr(o_orderpriority, 1, 1) AS variable_measured,
       '["o/' || CAST(o_orderkey AS VARCHAR) || '"]' AS entities,
       '' AS extra_entities_id,
       fid.fid AS facet_id,
       'p/out' AS facet_provenance,
       'dcAggregate/Calc_Cnt_' || substr(o_orderpriority, 1, 1) AS facet_mm,
       'USDPer' AS facet_unit
FROM orders JOIN fid ON fid.pr = substr(o_orderpriority, 1, 1)
"""

QUERIES["statvar_calculation"] = q_statvar_calculation
ORACLE_SQL["statvar_calculation"] = SQL_STATVAR_CALCULATION
QUERIES["statvar_calculation_ts"] = q_statvar_calculation_ts
ORACLE_SQL["statvar_calculation_ts"] = SQL_STATVAR_CALCULATION_TS


def _entity_agg_result(spark, sf):
    """Edge table synthesized from orders: each order is a typed
    entity with a location (customer), a date, a status value, a
    numeric qty and a priority class."""
    from import_spark.operators.entity_agg import (
        EntityAggregationConfig,
        aggregate_entities,
    )

    o = _t(spark, sf, "orders")
    ent = F.concat(F.lit("o/"), F.col("o_orderkey").cast("string"))

    def _e(pred, obj):
        return F.struct(
            ent.alias("subject_id"),
            F.lit(pred).alias("predicate"),
            obj.alias("object_id"),
            F.lit("p/in").alias("provenance"),
        )

    edges = o.select(
        F.explode(
            F.array(
                _e("typeOf", F.lit("Order")),
                _e("locatedIn", F.concat(F.lit("cust/"), F.col("o_custkey").cast("string"))),
                _e("orderDate", F.date_format("o_orderdate", "yyyy-MM-dd")),
                _e("status", F.col("o_orderstatus")),
                _e("qty", ((F.col("o_orderkey") % 7) + 1).cast("string")),
                _e("priority", F.substring("o_orderpriority", 1, 1)),
            )
        ).alias("r")
    ).select("r.*")
    cfg = EntityAggregationConfig(
        entity_types=["Order"],
        location_props=["locatedIn"],
        date_prop="orderDate",
        agg_date_formats=["YYYY", "YYYY-MM"],
        constraints=[
            {"property": "status", "value": "F"},
            {"property": "qty", "min": 2, "max": 5},
            {"property": "priority", "wildcard": True},
        ],
        output_provenance="p/out",
        input_provenances=["p/in"],
    )
    return aggregate_entities(edges, cfg)


def q_entity_aggregation(spark, sf):
    """Entity aggregation — the Observation export
    (entity_aggregation_generator.py:26-473): typed-entity counts per
    (location, YYYY/YYYY-MM bucket, wildcard priority) under a value
    constraint and a SAFE_CAST numeric range, with the generated
    dc/sv/gp FARM_FINGERPRINT SV dcids and per-period facet ids."""
    return _entity_agg_result(spark, sf).observations


def q_entity_aggregation_nodes(spark, sf):
    """Entity aggregation — the SV Node export (dcid + generated
    name), one row per wildcard value."""
    return _entity_agg_result(spark, sf).nodes.select("subject_id", "name")


def _entity_agg_sql_values() -> tuple[str, str]:
    from import_spark.operators.calculations import signed_farm_fingerprint

    dcids = []
    for p in "12345":
        key = (
            f"measuredProperty=count,populationType=Order,priority={p},"
            "qty=[2 5],statType=measuredValue,status=F"
        )
        dcids.append(f"('{p}', 'dc/sv/gp/{signed_farm_fingerprint(key)}')")
    fids = []
    for period in ("P1Y", "P1M"):
        fids.append(
            f"('{period}', '{signed_farm_fingerprint(f'p/out^DataCommonsAggregate^{period}^^^true')}')"
        )
    return ", ".join(dcids), ", ".join(fids)


_EA_DCIDS, _EA_FIDS = _entity_agg_sql_values()

SQL_ENTITY_AGGREGATION = f"""
WITH dcid(pr, sv) AS (VALUES {_EA_DCIDS}),
fid(period, fid) AS (VALUES {_EA_FIDS}),
base AS (
  SELECT 'cust/' || CAST(o_custkey AS VARCHAR) AS loc,
         strftime(o_orderdate, '%Y-%m-%d') AS raw_date,
         substr(o_orderpriority, 1, 1) AS pr
  FROM orders
  WHERE o_orderstatus = 'F' AND (o_orderkey % 7) + 1 BETWEEN 2 AND 5
),
buckets AS (
  SELECT loc, pr, substr(raw_date, 1, 4) AS date, 'P1Y' AS period FROM base
  UNION ALL
  SELECT loc, pr, substr(raw_date, 1, 7), 'P1M' FROM base
),
counts AS (
  SELECT loc, pr, date, period, COUNT(*) AS n FROM buckets GROUP BY ALL
)
SELECT dcid.sv AS variable_measured,
       loc AS entity1,
       '' AS extra_entities_id,
       fid.fid AS facet_id,
       date,
       CAST(n AS VARCHAR) AS value
FROM counts JOIN dcid USING (pr) JOIN fid USING (period)
"""

SQL_ENTITY_AGGREGATION_NODES = f"""
WITH dcid(pr, sv) AS (VALUES {_EA_DCIDS})
SELECT sv AS subject_id,
       'Count of Order with status F and qty [2 5], priority=' || pr AS name
FROM dcid
WHERE pr IN (SELECT DISTINCT substr(o_orderpriority, 1, 1) FROM orders
             WHERE o_orderstatus = 'F' AND (o_orderkey % 7) + 1 BETWEEN 2 AND 5)
"""

QUERIES["entity_aggregation"] = q_entity_aggregation
ORACLE_SQL["entity_aggregation"] = SQL_ENTITY_AGGREGATION
QUERIES["entity_aggregation_nodes"] = q_entity_aggregation_nodes
ORACLE_SQL["entity_aggregation_nodes"] = SQL_ENTITY_AGGREGATION_NODES


def q_super_enum_rollup(spark, sf):
    """Super-enum aggregation — observation roll-up
    (super_enum_aggregation_generator.py:26-490): 6 source SVs on
    child enum buckets specialize to 2 parent enums; sibling
    observations SUM per (target SV, entity, date) under the rewritten
    dcAggregate facet. Generated dc/<base32(farmhash)> target ids and
    the recomputed facet id are checked value-for-value."""
    from import_spark.operators.super_enum import super_enum_aggregate

    o = _t(spark, sf, "orders")
    k = (F.col("o_orderkey") % 6).cast("string")
    sv = F.concat(F.lit("sv/"), k)
    child = F.concat(F.lit("bucket/"), k)
    ent = F.concat(F.lit("cust/"), (F.col("o_custkey") % 50).cast("string"))

    def _e(subj, pred, obj):
        return F.struct(
            subj.alias("subject_id"),
            F.lit(pred).alias("predicate") if isinstance(pred, str) else pred.alias("predicate"),
            obj.alias("object_id"),
            F.lit("p/in").alias("provenance"),
        )

    sv_edges = (
        o.select(
            F.explode(
                F.array(
                    _e(sv, "measuredProperty", F.lit("count")),
                    _e(sv, "statType", F.lit("measuredValue")),
                    _e(sv, "populationType", F.lit("Order")),
                    _e(sv, "age", child),
                    _e(
                        child,
                        "specializationOf",
                        F.when(F.col("o_orderkey") % 6 < 3, F.lit("super/low")).otherwise(
                            F.lit("super/high")
                        ),
                    ),
                )
            ).alias("r")
        )
        .select("r.*")
        .distinct()
    )
    nodes = spark.createDataFrame([], "subject_id string, types array<string>")
    facet = F.struct(
        F.lit("p/in").alias("provenance"),
        F.lit("Census").alias("measurementMethod"),
        F.lit(None).cast("string").alias("unit"),
        F.lit(None).cast("string").alias("observationPeriod"),
        F.lit(None).cast("string").alias("scalingFactor"),
    )
    ts = (
        o.select(
            sv.alias("variable_measured"),
            ent.alias("entity1"),
            F.lit("").alias("extra_entities_id"),
            F.lit("f").alias("facet_id"),
            F.lit("[]").alias("entities"),
            F.lit("p/in").alias("provenance"),
            facet.alias("facet"),
        )
        .distinct()
    )
    obs = o.select(
        sv.alias("variable_measured"),
        ent.alias("entity1"),
        F.lit("").alias("extra_entities_id"),
        F.lit("f").alias("facet_id"),
        F.date_format("o_orderdate", "yyyy").alias("date"),
        (F.col("o_orderkey") % 10).cast("string").alias("value"),
    )
    res = super_enum_aggregate(sv_edges, nodes, ts, obs, ["p/in"])
    return res.observations


def _super_enum_sql_values() -> tuple[str, str]:
    from import_spark.functions.farmhash import long_id
    from import_spark.operators.calculations import signed_farm_fingerprint

    targets = []
    for parent, lo, hi in (("super/low", 0, 2), ("super/high", 3, 5)):
        key = (
            f"age={parent}measuredProperty=countpopulationType=Order"
            "statType=measuredValue"
        )
        for b in range(lo, hi + 1):
            targets.append(f"('{b}', 'dc/{long_id(key)}')")
    fid = signed_farm_fingerprint("p/in_SuperEnum^dcAggregate/Census^^^^true")
    return ", ".join(targets), str(fid)


_SE_TARGETS, _SE_FID = _super_enum_sql_values()

SQL_SUPER_ENUM_ROLLUP = f"""
WITH tgt(b, sv) AS (VALUES {_SE_TARGETS}),
base AS (
  SELECT CAST(o_orderkey % 6 AS VARCHAR) AS b,
         'cust/' || CAST(o_custkey % 50 AS VARCHAR) AS entity1,
         strftime(o_orderdate, '%Y') AS date,
         CAST(o_orderkey % 10 AS DOUBLE) AS v
  FROM orders
)
SELECT tgt.sv AS variable_measured,
       entity1,
       '' AS extra_entities_id,
       '{_SE_FID}' AS facet_id,
       date,
       CAST(SUM(v) AS VARCHAR) AS value
FROM base JOIN tgt USING (b)
GROUP BY tgt.sv, entity1, date
"""

QUERIES["super_enum_rollup"] = q_super_enum_rollup
ORACLE_SQL["super_enum_rollup"] = SQL_SUPER_ENUM_ROLLUP


def q_statvar_sum_rollup(spark, sf):
    """StatVar SUM aggregation (stat_var_aggregator.py:56-325): four
    source SVs carved from orders roll up into one ancestor SV; only
    (entity, date) groups where ALL four sources contribute survive,
    under the rewritten dcAggregate facet and its recomputed
    FARM_FINGERPRINT facet id."""
    from import_spark.operators.statvar_agg import (
        StatVarAggregationConfig,
        aggregate_stat_vars,
    )

    o = _t(spark, sf, "orders")
    sv = F.concat(F.lit("sv/"), (F.col("o_orderkey") % 4).cast("string"))
    ent = F.concat(F.lit("cust/"), (F.col("o_custkey") % 40).cast("string"))
    facet = F.struct(
        F.lit("p/in").alias("provenance"),
        F.lit("Census").alias("measurementMethod"),
        F.lit(None).cast("string").alias("unit"),
        F.lit(None).cast("string").alias("observationPeriod"),
        F.lit(None).cast("string").alias("scalingFactor"),
    )
    ts = (
        o.select(
            sv.alias("variable_measured"),
            ent.alias("entity1"),
            F.lit("").alias("extra_entities_id"),
            F.lit("f").alias("facet_id"),
            F.lit("p/in").alias("provenance"),
            F.lit("[]").alias("entities"),
            facet.alias("facet"),
        )
        .distinct()
    )
    obs = o.select(
        sv.alias("variable_measured"),
        ent.alias("entity1"),
        F.lit("").alias("extra_entities_id"),
        F.lit("f").alias("facet_id"),
        F.date_format("o_orderdate", "yyyy").alias("date"),
        (F.col("o_orderkey") % 10).cast("string").alias("value"),
    )
    cfg = StatVarAggregationConfig(
        ancestor_sv="sv/parent",
        source_svs=["sv/0", "sv/1", "sv/2", "sv/3"],
        input_provenances=["p/in"],
        output_provenance="p/out",
    )
    return aggregate_stat_vars(obs, ts, cfg).observations


def _statvar_sum_fid() -> str:
    from import_spark.operators.calculations import signed_farm_fingerprint

    return str(signed_farm_fingerprint("p/out^dcAggregate/Census^^^^true"))


SQL_STATVAR_SUM_ROLLUP = f"""
WITH base AS (
  SELECT 'sv/' || CAST(o_orderkey % 4 AS VARCHAR) AS vm,
         'cust/' || CAST(o_custkey % 40 AS VARCHAR) AS entity1,
         strftime(o_orderdate, '%Y') AS date,
         CAST(o_orderkey % 10 AS DOUBLE) AS v
  FROM orders
),
agg AS (
  SELECT entity1, date, SUM(v) AS total_val,
         COUNT(DISTINCT vm) AS contribution_count
  FROM base
  GROUP BY entity1, date
)
SELECT 'sv/parent' AS variable_measured,
       entity1,
       '' AS extra_entities_id,
       '{_statvar_sum_fid()}' AS facet_id,
       date,
       CAST(total_val AS VARCHAR) AS value
FROM agg
WHERE contribution_count = 4 AND total_val IS NOT NULL
"""

QUERIES["statvar_sum_rollup"] = q_statvar_sum_rollup
ORACLE_SQL["statvar_sum_rollup"] = SQL_STATVAR_SUM_ROLLUP


def _prov_summary_result(spark, sf):
    """ProvenanceSummary inputs from orders: one Count_Order
    observation per order under a per-priority facet, entities typed
    by a 3-way modulus, names only for even entity keys (exercising
    the null-name left join)."""
    from import_spark.operators.provenance_summary import provenance_summary

    o = _t(spark, sf, "orders")
    k = F.col("o_custkey") % 100
    ent = F.concat(F.lit("cust/"), F.lpad(k.cast("string"), 3, "0"))
    pr = F.substring("o_orderpriority", 1, 1)
    facet = F.struct(
        F.lit("p/in").alias("provenance"),
        F.concat(F.lit("M"), pr).alias("measurementMethod"),
        F.lit(None).cast("string").alias("unit"),
        F.lit("P1M").alias("observationPeriod"),
        F.lit(None).cast("string").alias("scalingFactor"),
    )
    ts = (
        o.select(
            F.lit("Count_Order").alias("variable_measured"),
            ent.alias("entity1"),
            F.lit("").alias("extra_entities_id"),
            F.concat(F.lit("f"), pr).alias("facet_id"),
            F.lit("p/in").alias("provenance"),
            facet.alias("facet"),
        )
        .distinct()
    )
    obs = o.select(
        F.lit("Count_Order").alias("variable_measured"),
        ent.alias("entity1"),
        F.lit("").alias("extra_entities_id"),
        F.concat(F.lit("f"), pr).alias("facet_id"),
        F.date_format("o_orderdate", "yyyy-MM").alias("date"),
        (F.col("o_orderkey") % 10).cast("string").alias("value"),
    )
    edges = (
        o.select(
            ent.alias("subject_id"),
            F.lit("typeOf").alias("predicate"),
            F.concat(F.lit("T"), (k % 3).cast("string")).alias("object_id"),
        )
        .distinct()
    )
    nodes = (
        o.where(k % 2 == 0)
        .select(
            ent.alias("subject_id"),
            F.concat(F.lit("Name "), ent).alias("name"),
        )
        .distinct()
    )
    return provenance_summary(ts, obs, edges, nodes, ["p/in"])


def q_provenance_summary_facets(spark, sf):
    """ProvenanceSummary — facet-level stats
    (provenance_summary_generator.py:56-340 step 8a): per (variable,
    provenance, facet) min/max date and value, observation count and
    distinct time-series count. The null boolean is projected as a
    string: DuckDB's .df() renders NULL BOOLEAN as NaN, which the
    hash comparator stringifies differently from None."""
    return (
        _prov_summary_result(spark, sf)
        .facet_summaries.withColumn("is_dc_aggregate", F.col("is_dc_aggregate").cast("string"))
    )


def q_provenance_summary_places(spark, sf):
    """ProvenanceSummary — place-type roll-up with the 3
    lexicographically-smallest sample places and their (nullable)
    names (steps 5-7)."""
    res = _prov_summary_result(spark, sf).place_type_summaries
    return res.select(
        "variable_measured",
        "provenance_dcid",
        "facet_id",
        "place_type",
        "place_count",
        "min_val",
        "max_val",
        F.concat_ws(
            ";",
            F.transform(
                "top_places",
                lambda p: F.concat(p["dcid"], F.lit("="), F.coalesce(p["name"], F.lit(""))),
            ),
        ).alias("top_places"),
    )


SQL_PROV_SUMMARY_FACETS = """
WITH base AS (
  SELECT substr(o_orderpriority, 1, 1) AS pr,
         'cust/' || lpad(CAST(o_custkey % 100 AS VARCHAR), 3, '0') AS ent,
         strftime(o_orderdate, '%Y-%m') AS ym,
         CAST(o_orderkey % 10 AS DOUBLE) AS v
  FROM orders
)
SELECT 'Count_Order' AS variable_measured,
       'p/in' AS provenance_dcid,
       'f' || pr AS facet_id,
       'p/in' AS import_name,
       'M' || pr AS measurement_method,
       'P1M' AS observation_period,
       CAST(NULL AS VARCHAR) AS unit,
       CAST(NULL AS VARCHAR) AS scaling_factor,
       CAST(NULL AS VARCHAR) AS is_dc_aggregate,
       MIN(ym) AS min_date,
       MAX(ym) AS max_date,
       MIN(v) AS facet_min,
       MAX(v) AS facet_max,
       COUNT(*) AS facet_obs_count,
       COUNT(DISTINCT ent || '|') AS facet_ts_count
FROM base GROUP BY pr
"""

SQL_PROV_SUMMARY_PLACES = """
WITH base AS (
  SELECT substr(o_orderpriority, 1, 1) AS pr,
         'cust/' || lpad(CAST(o_custkey % 100 AS VARCHAR), 3, '0') AS ent,
         'T' || CAST((o_custkey % 100) % 3 AS VARCHAR) AS ty,
         CAST(o_orderkey % 10 AS DOUBLE) AS v
  FROM orders
),
stats AS (
  SELECT 'f' || pr AS facet_id, ty, MIN(v) AS min_val, MAX(v) AS max_val,
         COUNT(DISTINCT ent) AS place_count
  FROM base GROUP BY pr, ty
),
pairs AS (SELECT DISTINCT 'f' || pr AS facet_id, ty, ent FROM base),
tops AS (
  SELECT facet_id, ty,
         array_to_string(
           list_transform(
             (list_sort(list(ent)))[1:3],
             e -> e || '=' || CASE WHEN CAST(substr(e, 6) AS INT) % 2 = 0
                              THEN 'Name ' || e ELSE '' END
           ), ';'
         ) AS top_places
  FROM pairs GROUP BY facet_id, ty
)
SELECT 'Count_Order' AS variable_measured,
       'p/in' AS provenance_dcid,
       s.facet_id,
       s.ty AS place_type,
       s.place_count,
       s.min_val,
       s.max_val,
       t.top_places
FROM stats s JOIN tops t ON s.facet_id = t.facet_id AND s.ty = t.ty
"""

QUERIES["provenance_summary_facets"] = q_provenance_summary_facets
ORACLE_SQL["provenance_summary_facets"] = SQL_PROV_SUMMARY_FACETS
QUERIES["provenance_summary_places"] = q_provenance_summary_places
ORACLE_SQL["provenance_summary_places"] = SQL_PROV_SUMMARY_PLACES


def q_svg_prune(spark, sf):
    """Single-child SVG pruning (pipeline stat_var_group_generator.py:
    730-870) over a constructed hierarchy: per nation a chain
    root <- g/N/b <- g/N/a with one SV (odd keys) or two SVs (even
    keys) under g/N/a. Odd chains collapse entirely (the SV rewires to
    the root); even chains keep g/N/a (two children) attached to the
    root. The oracle states the closed-form expected edge set."""
    from import_spark.operators.svg_hierarchy import prune_single_child_svgs

    n = _t(spark, sf, "nation")
    key = F.col("n_nationkey").cast("string")
    ga = F.concat(F.lit("g/"), key, F.lit("/a"))
    gb = F.concat(F.lit("g/"), key, F.lit("/b"))

    def _e(subj, pred, obj):
        return F.struct(
            subj.alias("subject_id"),
            F.lit(pred).alias("predicate"),
            obj.alias("object_id"),
            F.lit("p").alias("provenance"),
        )

    base = F.array(
        _e(gb, "specializationOf", F.lit("svg/Root")),
        _e(ga, "specializationOf", gb),
        _e(F.concat(F.lit("sv/"), key, F.lit("/1")), "memberOf", ga),
    )
    extra = F.when(
        F.col("n_nationkey") % 2 == 0,
        F.array(_e(F.concat(F.lit("sv/"), key, F.lit("/2")), "memberOf", ga)),
    ).otherwise(F.array().cast("array<struct<subject_id:string,predicate:string,object_id:string,provenance:string>>"))
    edges = n.select(F.explode(F.concat(base, extra)).alias("r")).select("r.*")
    generated = n.select(F.explode(F.array(ga, gb)).alias("svg_id"))
    pruned_edges, _ = prune_single_child_svgs(edges, generated)
    return pruned_edges.orderBy("subject_id", "predicate", "object_id")


SQL_SVG_PRUNE = """
WITH n AS (SELECT CAST(n_nationkey AS VARCHAR) AS k, n_nationkey % 2 = 0 AS even FROM nation)
SELECT 'g/' || k || '/a' AS subject_id, 'specializationOf' AS predicate,
       'svg/Root' AS object_id, 'p' AS provenance
FROM n WHERE even
UNION ALL
SELECT 'sv/' || k || '/1', 'memberOf', 'g/' || k || '/a', 'p' FROM n WHERE even
UNION ALL
SELECT 'sv/' || k || '/2', 'memberOf', 'g/' || k || '/a', 'p' FROM n WHERE even
UNION ALL
SELECT 'sv/' || k || '/1', 'memberOf', 'svg/Root', 'p' FROM n WHERE NOT even
ORDER BY subject_id, predicate, object_id
"""

QUERIES["svg_prune"] = q_svg_prune
ORACLE_SQL["svg_prune"] = SQL_SVG_PRUNE


# ---------------- NL sentence generation (simple/stats/nl.py) ----------------


def q_simple_nl_sentences(spark, sf):
    """NL sentence generation (nl.py:40-80, SentenceCandidates
    :131-155): synthesize SV/Topic triples from the documents table —
    every subject gets a name (two for doc_id%5==0: LAST wins), doc_id
    %3==0 subjects get two searchDescriptions (which take precedence
    and join with ';') — then run the DataFrame aggregation.
    Bit-parity with the reference goldens is tests/test_nl_sentences.py."""
    from import_spark.operators.nl_sentences import nl_sentences

    d = _t(spark, sf, "documents").select(F.col("doc_id").cast("long").alias("id"))
    subj = F.concat(F.lit("sv/"), F.col("id").cast("string"))
    sid = F.col("id").cast("string")

    def _tr(pred, obj_id, obj_val, off):
        return F.struct(
            subj.alias("subject_id"),
            F.lit(pred).alias("predicate"),
            obj_id.alias("object_id"),
            obj_val.alias("object_value"),
            (F.col("id") * 10 + off).alias("_idx"),
        )

    e = F.lit("")
    base = F.array(
        _tr(
            "typeOf",
            F.when(F.col("id") % 2 == 0, F.lit("StatisticalVariable")).otherwise(
                F.lit("Topic")
            ),
            e,
            F.lit(0),
        ),
        _tr("name", e, F.concat(F.lit("Var "), sid, F.lit(" v1")), F.lit(1)),
    )
    t_schema = (
        "array<struct<subject_id:string,predicate:string,object_id:string,"
        "object_value:string,_idx:bigint>>"
    )
    renames = F.when(
        F.col("id") % 5 == 0,
        F.array(_tr("name", e, F.concat(F.lit("Var "), sid, F.lit(" v2")), F.lit(2))),
    ).otherwise(F.array().cast(t_schema))
    sds = F.when(
        F.col("id") % 3 == 0,
        F.array(
            _tr("searchDescription", e, F.concat(F.lit("search one "), sid), F.lit(3)),
            _tr("searchDescription", e, F.concat(F.lit("search two "), sid), F.lit(4)),
        ),
    ).otherwise(F.array().cast(t_schema))
    triples = d.select(
        F.explode(F.concat(base, renames, sds)).alias("r")
    ).select("r.*")
    return nl_sentences(triples, order_col="_idx")


SQL_SIMPLE_NL = """
SELECT 'sv/' || CAST(doc_id AS VARCHAR) AS dcid,
       CASE
         WHEN doc_id % 3 = 0 THEN
           'search one ' || CAST(doc_id AS VARCHAR) || ';search two ' || CAST(doc_id AS VARCHAR)
         WHEN doc_id % 5 = 0 THEN 'Var ' || CAST(doc_id AS VARCHAR) || ' v2'
         ELSE 'Var ' || CAST(doc_id AS VARCHAR) || ' v1'
       END AS sentence
FROM documents
"""

QUERIES["simple_nl_sentences"] = q_simple_nl_sentences
ORACLE_SQL["simple_nl_sentences"] = SQL_SIMPLE_NL


# ---------------- SVG serving-cache fold (simple/stats/svg_cache.py) ----------------


def q_svg_cache_nodes(spark, sf):
    """StatVarGroups cache fold (svg_cache.py:55-122): synthesize SVG +
    SV triples from the nation table (each nation an SVG specializing a
    shared parent by n_nationkey%5, one member SV each), fold to the
    node map, return per-node summary rows. Byte-level parity with the
    reference goldens (textproto + gzip blob) is tests/test_svg_cache.py."""
    from import_spark.operators.svg_cache import svg_cache_from_triples

    n = _t(spark, sf, "nation").select(
        F.col("n_nationkey").cast("long").alias("k"), "n_name"
    )
    kstr = F.col("k").cast("string")
    svg = F.concat(F.lit("svg/"), kstr)
    parent = F.concat(F.lit("svg/p"), (F.col("k") % 5).cast("string"))
    sv = F.concat(F.lit("sv/"), kstr)
    e = F.lit("")

    def _tr(subj, pred, oid, oval, off):
        return F.struct(
            subj.alias("subject_id"),
            F.lit(pred).alias("predicate"),
            oid.alias("object_id"),
            oval.alias("object_value"),
            (F.col("k") * 10 + off).alias("_idx"),
        )

    triples = n.select(
        F.explode(
            F.array(
                _tr(svg, "typeOf", F.lit("StatVarGroup"), e, F.lit(0)),
                _tr(svg, "name", e, F.concat(F.lit("Group "), F.col("n_name")), F.lit(1)),
                _tr(svg, "specializationOf", parent, e, F.lit(2)),
                _tr(sv, "typeOf", F.lit("StatisticalVariable"), e, F.lit(3)),
                _tr(sv, "name", e, F.concat(F.lit("Var "), kstr), F.lit(4)),
                _tr(sv, "memberOf", svg, e, F.lit(5)),
            )
        ).alias("r")
    ).select("r.*")
    nodes = svg_cache_from_triples(triples, order_col="_idx")
    rows = [
        (svg_id, node.absolute_name, len(node.child_stat_var_groups), len(node.child_stat_vars))
        for svg_id, node in nodes.items()
    ]
    return spark.createDataFrame(
        rows, "svg_id string, absolute_name string, n_child_svgs int, n_child_svs int"
    )


SQL_SVG_CACHE = """
SELECT 'svg/' || CAST(n_nationkey AS VARCHAR) AS svg_id,
       'Group ' || n_name AS absolute_name,
       0 AS n_child_svgs, 1 AS n_child_svs
FROM nation
UNION ALL
SELECT 'svg/p' || CAST(n_nationkey % 5 AS VARCHAR) AS svg_id,
       '' AS absolute_name,
       COUNT(*) AS n_child_svgs, 0 AS n_child_svs
FROM nation GROUP BY n_nationkey % 5
"""

QUERIES["svg_cache_nodes"] = q_svg_cache_nodes
ORACLE_SQL["svg_cache_nodes"] = SQL_SVG_CACHE


# ---------------- spec-driven SVG generation (StatVarGroupSpec/DPV) ----------------


def q_svg_spec_edges(spark, sf):
    """Spec-driven StatVarGroup generation (stat_var_group_generator.py
    :107-913): one StatVarGroupSpec per popType routing to a vertical,
    one gendered SV per nation; the generator must emit the leaf/mid/
    bare lattice, vertical attachment and linkedMemberOf closure with
    import-scoped generated provenances. The reference's own e2e
    assertions are replicated in tests/test_svg_spec.py."""
    from import_spark.operators.svg_spec import generate_spec_svgs

    n = _t(spark, sf, "nation").select(F.col("n_nationkey").cast("long").alias("k"))
    p = (F.col("k") % 3).cast("string")
    j = (F.col("k") % 2).cast("string")
    g = F.when(F.col("k") % 2 == 0, F.lit("Female")).otherwise(F.lit("Male"))
    sv = F.concat(F.lit("sv/"), F.col("k").cast("string"))
    pop = F.concat(F.lit("Pop"), p)
    vert = F.concat(F.lit("c/g/V"), p)
    prov = F.concat(F.lit("Imp"), j)

    def _e(s, pr, o, pv):
        return F.struct(
            s.alias("subject_id"), F.lit(pr).alias("predicate"),
            o.alias("object_id"), pv.alias("provenance"),
        )

    def _e2(s, pr, o, pv):
        return F.struct(
            s.alias("subject_id"), pr.alias("predicate"),
            o.alias("object_id"), pv.alias("provenance"),
        )

    sv_edges = n.select(
        F.explode(
            F.array(
                _e(sv, "typeOf", F.lit("StatisticalVariable"), prov),
                _e(sv, "populationType", pop, prov),
                _e(sv, "constraintProperties", F.lit("gender"), prov),
                _e2(sv, F.lit("gender"), g, prov),
            )
        ).alias("r")
    ).select("r.*")
    spec = F.concat(F.lit("Spec"), p)
    spec_edges = (
        n.select(
            F.explode(
                F.array(
                    _e(spec, "typeOf", F.lit("StatVarGroupSpec"), F.lit("Specs")),
                    _e(spec, "populationType", pop, F.lit("Specs")),
                    _e(spec, "vertical", vert, F.lit("Specs")),
                    _e(vert, "specializationOf", F.lit("c/g/Root"), F.lit("Specs")),
                )
            ).alias("r")
        )
        .select("r.*")
        .distinct()
    )
    res = generate_spec_svgs(sv_edges.unionByName(spec_edges), None, is_base_dc=False)
    return (
        res.edges.filter(
            F.col("predicate").isin("memberOf", "specializationOf", "linkedMemberOf")
        )
        .orderBy("subject_id", "predicate", "object_id", "provenance")
        .select("subject_id", "predicate", "object_id", "provenance")
    )


SQL_SVG_SPEC = """
WITH base AS (
  SELECT 'sv/' || CAST(n_nationkey AS VARCHAR) AS sv,
         CAST(n_nationkey % 3 AS VARCHAR) AS p,
         CASE WHEN n_nationkey % 2 = 0 THEN 'Female' ELSE 'Male' END AS g,
         'generated/Imp' || CAST(n_nationkey % 2 AS VARCHAR) AS prov
  FROM nation
), named AS (
  SELECT sv, prov,
         'c/g/Pop' || p || '_Gender-' || g AS leaf,
         'c/g/Pop' || p || '_Gender' AS mid,
         'c/g/Pop' || p AS bare,
         'c/g/V' || p AS vert
  FROM base
)
SELECT DISTINCT * FROM (
  SELECT sv AS subject_id, 'memberOf' AS predicate, leaf AS object_id, prov AS provenance FROM named
  UNION ALL SELECT sv, 'linkedMemberOf', leaf, prov FROM named
  UNION ALL SELECT sv, 'linkedMemberOf', mid, prov FROM named
  UNION ALL SELECT sv, 'linkedMemberOf', bare, prov FROM named
  UNION ALL SELECT sv, 'linkedMemberOf', 'c/g/Root', prov FROM named
  UNION ALL SELECT sv, 'linkedMemberOf', vert, prov FROM named
  UNION ALL SELECT leaf, 'specializationOf', mid, prov FROM named
  UNION ALL SELECT mid, 'specializationOf', bare, prov FROM named
  UNION ALL SELECT leaf, 'specializationOf', vert, prov FROM named
)
ORDER BY subject_id, predicate, object_id, provenance
"""

QUERIES["svg_spec_edges"] = q_svg_spec_edges
ORACLE_SQL["svg_spec_edges"] = SQL_SVG_SPEC


# ---------------- PII + decontamination (training-data pipeline ops) ----------------

_PII_TEXT = None


def _pii_text_col():
    """Deterministic PII-bearing text over the documents table: every
    doc gets a synthetic email, every 3rd an SSN, every 4th a phone —
    appended to the real text so base-text accidental matches are
    exercised too. The SQL twin builds the same string."""
    did = F.col("doc_id").cast("string")
    return F.concat(
        F.col("text"),
        F.lit(" contact user"), did, F.lit("@example.com"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(" ssn 123-45-6789")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit(" call +1 (555) 010-"), F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
    )


_PII_TEXT_SQL = """
    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
    || CASE WHEN doc_id % 3 = 0 THEN ' ssn 123-45-6789' ELSE '' END
    || CASE WHEN doc_id % 4 = 0
            THEN ' call +1 (555) 010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
            ELSE '' END
"""


def q_pii_scan(spark, sf):
    """PII detection: native regexp_count per pattern class (emails,
    SSN-shaped, IPv4, phone-shaped digit runs) — zero shuffle, zero
    Python (operators/textops.py PII_PATTERNS, shared with the oracle)."""
    from import_spark.operators.textops import pii_scan

    d = _t(spark, sf, "documents").select("doc_id", _pii_text_col().alias("text"))
    return pii_scan(d)


def _sql_pii_scan():
    from import_spark.operators.textops import PII_PATTERNS

    cols = ", ".join(
        f"len(regexp_extract_all(text, '{pat}')) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    total = " + ".join(
        f"len(regexp_extract_all(text, '{pat}'))" for _, pat, _ in PII_PATTERNS
    )
    return f"""
WITH t AS (SELECT doc_id, {_PII_TEXT_SQL} AS text FROM documents)
SELECT doc_id, {cols}, {total} AS n_pii FROM t
"""


def q_pii_redact(spark, sf):
    """PII redaction: typed-placeholder regexp_replace chain in
    PII_PATTERNS order (email before phone, SSN before phone); gated by
    md5 of the fully redacted text."""
    from import_spark.operators.textops import pii_redact

    d = _t(spark, sf, "documents").select("doc_id", _pii_text_col().alias("text"))
    return pii_redact(d).select("doc_id", F.md5("text").alias("red_md5"))


def _sql_pii_redact():
    from import_spark.operators.textops import PII_PATTERNS

    expr = "text"
    for _, pat, token in PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '{token}', 'g')"
    return f"""
WITH t AS (SELECT doc_id, {_PII_TEXT_SQL} AS text FROM documents)
SELECT doc_id, md5({expr}) AS red_md5 FROM t
"""


def q_decontaminate(spark, sf):
    """Benchmark decontamination: docs with doc_id%17==0 act as the
    eval set; every other document sharing a 5-word n-gram with it is
    flagged with its DISTINCT shared-gram count. Broadcast benchmark
    dictionary, one narrow explode on the corpus side
    (operators/textops.py decontaminate)."""
    from import_spark.operators.textops import decontaminate

    d = _t(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 17 == 0)
    corpus = d.filter(F.col("doc_id") % 17 != 0)
    return decontaminate(corpus, bench, n=5).orderBy("doc_id")


SQL_DECONTAMINATE = """
WITH words AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '') AS w
  FROM documents
), grams AS (
  SELECT doc_id, array_to_string(w[i:i+4], ' ') AS gram
  FROM words, UNNEST(range(1, greatest(len(w) - 3, 1))) t(i)
  WHERE len(w) >= 5
), bench AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % 17 = 0
), corpus AS (
  SELECT DISTINCT doc_id, gram FROM grams WHERE doc_id % 17 <> 0
)
SELECT doc_id, COUNT(*) AS n_hits
FROM corpus JOIN bench USING (gram)
GROUP BY doc_id ORDER BY doc_id
"""

QUERIES["pii_scan"] = q_pii_scan
QUERIES["pii_redact"] = q_pii_redact
QUERIES["decontaminate"] = q_decontaminate
ORACLE_SQL["pii_scan"] = _sql_pii_scan()
ORACLE_SQL["pii_redact"] = _sql_pii_redact()
ORACLE_SQL["decontaminate"] = SQL_DECONTAMINATE


# ---------------- deterministic stratified sampling (domain mixing) ----------------


def q_stratified_sample(spark, sf):
    """Seeded deterministic per-stratum sampling (textops.py
    stratified_sample): membership is a pure function of
    (source, doc_id, salt) — identical keep-sets across re-runs,
    resumes and partitionings, unlike sample()/sampleBy()'s
    per-partition RNG. src0 keeps 80%, src1 30%, others 50%."""
    from import_spark.operators.textops import stratified_sample

    d = _t(spark, sf, "documents")
    return stratified_sample(
        d, {"src0": 0.8, "src1": 0.3}, salt="mix1", default_fraction=0.5
    ).select("doc_id", "source")


SQL_STRATIFIED_SAMPLE = """
SELECT doc_id, source
FROM documents
WHERE substring(md5(source || '|' || CAST(doc_id AS VARCHAR) || '|' || 'mix1'), 1, 8)
      < CASE source
          WHEN 'src0' THEN 'cccccccc'
          WHEN 'src1' THEN '4ccccccc'
          ELSE '80000000'
        END
"""

QUERIES["stratified_sample"] = q_stratified_sample
ORACLE_SQL["stratified_sample"] = SQL_STRATIFIED_SAMPLE
