"""Byte-based size gates: row caps alone mislead when rows are wide —
a fast path must refuse to collect/broadcast GBs even at low row
counts (the reference's in-memory caches are capacity-bounded, not
row-bounded: ExternalIdResolver maps, LogWrapper capped samples)."""

from pyspark.sql import functions as F

from import_spark.functions.size_gate import (
    BROADCAST_BUDGET_BYTES,
    DRIVER_COLLECT_BUDGET_BYTES,
    collect_within,
    exact_size,
    fits_bytes,
    pandas_bytes,
)


def _wide(spark, n_rows: int, width: int):
    """n_rows rows with one `width`-byte string column, JVM-generated
    (never materialized on the driver)."""
    return spark.range(n_rows).select(
        F.col("id").cast("string").alias("key"),
        F.repeat(F.lit("x"), width).alias("val"),
    )


def test_fits_bytes_rejects_wide_rows_below_row_cap(spark):
    # 3k rows — far below every row cap — but ~200KB each = ~600MB
    df = _wide(spark, 3000, 200_000)
    assert not fits_bytes(df, 3000, DRIVER_COLLECT_BUDGET_BYTES)
    assert fits_bytes(_wide(spark, 3000, 100), 3000, DRIVER_COLLECT_BUDGET_BYTES)


def test_resolve_defs_fast_byte_gated(spark):
    """Wide DEF values below the 2M-row cap must push resolve_defs_fast
    to return None (caller falls back to the distributed loop)."""
    from import_spark.operators.resolve import resolve_defs_fast

    linked = spark.range(3000).select(
        F.concat(F.lit("c"), F.col("id")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("DEF").alias("kind"),
        F.lit("l:E1").alias("subj"),
        F.lit("__def__").alias("pred"),
        F.lit("RESOLVED_REF").alias("obj_type"),
        F.repeat(F.lit("x"), 200_000).alias("obj"),
    )
    assert resolve_defs_fast(linked, approx_defs=3000) is None
    # narrow defs of the same row count stay on the fast path
    narrow = linked.withColumn("obj", F.lit("geoId/06"))
    assert resolve_defs_fast(narrow, approx_defs=3000) is not None


def test_connected_components_fast_byte_gated(spark):
    from import_spark.operators.canonicalize import connected_components_fast

    wide_edges = spark.range(3000).select(
        F.repeat(F.lit("a"), 100_000).alias("src"),
        F.repeat(F.lit("b"), 100_000).alias("dst"),
    )
    assert connected_components_fast(wide_edges) is None
    small = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    out = connected_components_fast(small)
    assert out is not None
    assert {(r.node, r.canon) for r in out.collect()} == {("b", "a"), ("c", "a")}


def test_resolve_graph_wide_rows_take_distributed_path(spark, monkeypatch):
    """resolve_graph must route wide node tables (below the 5M row cap)
    to _resolve_graph_distributed, and the result must still be
    correct."""
    from import_spark.operators import mcf_resolver

    called = {}
    orig = mcf_resolver._resolve_graph_distributed

    def spy(nodes, assign_statvar_dcids, dcid_dict=None, **kw):
        called["distributed"] = True
        return orig(nodes, assign_statvar_dcids, dcid_dict, **kw)

    monkeypatch.setattr(mcf_resolver, "_resolve_graph_distributed", spy)
    # JVM-generated wide rows: 3k nodes x (typeOf, dcid, 300KB blob)
    # ~= 900 MB estimated — over the 512 MB driver-collect budget while
    # far below the 5M row cap
    nodes = (
        spark.range(3000)
        .select(
            F.concat(F.lit("N"), F.col("id")).alias("node_id"),
            F.explode(
                F.array(
                    F.struct(F.lit("typeOf").alias("prop"), F.lit("RESOLVED_REF").alias("value_type"),
                             F.lit("City").alias("value")),
                    F.struct(F.lit("dcid").alias("prop"), F.lit("TEXT").alias("value_type"),
                             F.lit("geoId/06").alias("value")),
                    F.struct(F.lit("blob").alias("prop"), F.lit("TEXT").alias("value_type"),
                             F.repeat(F.lit("y"), 300_000).alias("value")),
                )
            ).alias("p"),
        )
        .select("node_id", "p.prop", "p.value_type", "p.value", F.lit("").alias("src_file"))
    )
    res = mcf_resolver.resolve_graph(nodes)
    assert called.get("distributed")
    got = {(r.prop, r.value) for r in res.resolved.filter(F.col("prop") == "dcid").collect()}
    assert ("dcid", "geoId/06") in got


def test_resolve_graph_gate_job_budget(spark, job_ids, monkeypatch):
    """The resolver's gate is one size aggregate then one collect: on a
    small checkpointed node table the driver path runs at most 3 jobs,
    local-graph seeding included (P9's isoCode resolves to Def1's
    dcid), and a forced distributed run pays no size job at all."""
    from import_spark.operators import mcf_resolver

    nodes = spark.createDataFrame(
        [(f"N{i}", p, "TEXT", f"v{i}") for i in range(10) for p in ("name", "description")]
        + [
            ("Def1", "dcid", "TEXT", "country/XYZ"),
            ("Def1", "isoCode", "TEXT", "XY"),
            ("P9", "isoCode", "TEXT", "XY"),
        ],
        "node_id string, prop string, value_type string, value string",
    ).localCheckpoint()
    before = job_ids()
    res = mcf_resolver.resolve_graph(nodes)
    assert len(job_ids() - before) <= 3
    got = {(r.node_id, r.value) for r in res.resolved.filter(F.col("prop") == "dcid").collect()}
    assert ("P9", "country/XYZ") in got

    sentinel = object()
    monkeypatch.setattr(mcf_resolver, "_resolve_graph_distributed", lambda *a, **k: sentinel)
    before = job_ids()
    assert mcf_resolver.resolve_graph(nodes, force_distributed=True) is sentinel
    assert job_ids() == before


def test_collect_within_gates_on_exact_size(spark):
    """One exact count+bytes aggregate, then the collect only when both
    the byte budget and the row cap hold; pandas_bytes measures the
    collected frame by the same per-cell rule."""
    df = _wide(spark, 100, 10)
    rows, nbytes = exact_size(df)
    assert rows == 100
    assert nbytes == sum(len(str(i)) + 8 + 10 + 8 for i in range(100))
    assert collect_within(df, nbytes - 1) is None
    assert collect_within(df, nbytes, max_rows=99) is None
    pdf = collect_within(df, nbytes, max_rows=100, size=(rows, nbytes))
    assert len(pdf) == 100
    assert pandas_bytes(pdf) == nbytes
    assert exact_size(df.filter(F.lit(False))) == (0, 0)


def test_parquet_handoff_shares_one_root(spark):
    """Every handoff is a unique file under ONE session-scoped root;
    an empty frame round-trips with its schema."""
    import os
    from urllib.parse import urlparse

    import pandas as pd

    from import_spark.operators import resolve as rz

    a = rz._driver_parquet_handoff(spark, pd.DataFrame({"x": ["1"], "y": [2]}), "x string, y int")
    b = rz._driver_parquet_handoff(spark, pd.DataFrame({"x": [], "y": []}), "x string, y int")
    (fa,), (fb,) = a.inputFiles(), b.inputFiles()
    assert fa != fb
    root = os.path.realpath(rz._HANDOFF_ROOT)
    assert {os.path.dirname(urlparse(f).path) for f in (fa, fb)} == {root}
    assert [tuple(r) for r in a.collect()] == [("1", 2)]
    assert b.count() == 0 and b.schema.simpleString() == "struct<x:string,y:int>"
