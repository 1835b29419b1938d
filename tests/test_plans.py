"""Physical-plan assertions: the plans we ship are the plans we want.

These guard the scale posture (broadcast joins stay broadcast, the kg
extract and link stay on the JVM, dedupe stays single-shuffle,
filters reach the parquet scan) against silent plan regressions.
"""

import datetime

import pytest

from pyspark.sql import functions as F

from import_spark.operators.extract import extract_statements
from import_spark.operators.link import link_dictionary, link_statements
from import_spark.sources.transcripts import TRANSCRIPT_SCHEMA, dcid_dictionary


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def turns(spark):
    ts = datetime.datetime(2025, 1, 1)
    rows = [
        ("c1", 0, "user", "we looked at iso:US", "", ts),
        ("c1", 1, "user", "range [Years 10 20] at coords [LatLong 1 2", "", ts),
        ("c1", 2, "user", "observe geoId/06 Count_Person 2020 = 7 unit USD", "", ts),
    ]
    return spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)


def test_link_uses_broadcast_join(spark, turns):
    linked = link_statements(extract_statements(turns), link_dictionary(dcid_dictionary(spark)))
    plan = _plan(linked)
    assert "BroadcastHashJoin" in plan
    # the statement (streamed) side — between the join and the broadcast
    # build side — must have no shuffle
    streamed = plan.split("BroadcastHashJoin", 1)[1].split("BroadcastExchange", 1)[0]
    assert "Exchange hashpartitioning" not in streamed


@pytest.mark.parametrize("narrow_only", [False, True])
@pytest.mark.parametrize("branch", ["broadcast", "salted"])
def test_link_plan_runs_no_python(spark, turns, monkeypatch, branch, narrow_only):
    """Both link branches, full and narrow, extract and link on the JVM:
    no Python evaluation node in the optimized or executed plan, so a
    kg call starts no Python worker. The FarmHash ids are a JVM UDF."""
    import import_spark.functions.size_gate as sg
    from import_spark.plans.kg_pipeline import _link_plan

    if branch == "salted":
        monkeypatch.setattr(sg, "BROADCAST_BUDGET_BYTES", -1)
    dictionary = link_dictionary(dcid_dictionary(spark))
    assert dictionary.strategy == branch
    df = _link_plan(turns, dictionary, narrow_only=narrow_only)
    assert df.count() > 0
    qe = df._jdf.queryExecution()
    plan = qe.optimizedPlan().toString() + qe.executedPlan().toString()
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "PythonUDF"):
        assert node not in plan, node


def test_parquet_filter_pushdown(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.range(1000).selectExpr("id", "cast(id % 7 as string) k").write.parquet(p)
    df = spark.read.parquet(p).filter(F.col("k") == "3").select("id")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(k), EqualTo(k,3)]" in plan
    assert "ReadSchema" in plan and "struct<id:bigint,k:string>" in plan


def test_serving_query_pushes_down(spark):
    from import_spark.queries import q_serving_stat_series

    plan = _plan(q_serving_stat_series(spark, "/root/testdata/sf0.001"))
    assert "PushedFilters" in plan and "user_id" in plan.split("PushedFilters")[1][:200]


def test_cosine_topk_no_corpus_shuffle_before_topk(spark):
    from import_spark.operators.similarity import cosine_topk_bruteforce

    corpus = spark.createDataFrame([(1, [1.0, 0.0])], ["vec_id", "embedding"])
    q = spark.createDataFrame([(9, [1.0, 0.0])], ["query_id", "embedding"])
    plan = _plan(cosine_topk_bruteforce(corpus, q, k=3))
    # queries broadcast; the only hash exchange is the final per-query window
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_max_fluctuation_single_exchange(spark):
    """The fluctuation cascade (distinct-count, sawtooth flag, per-date
    pick, lag, per-series max) runs on ONE hash exchange of the
    observation table — ClusteredDistribution(key, date) accepts
    HashPartitioning(key), so every window/aggregate after the explicit
    repartition is a within-partition sort, never a reshuffle."""
    from import_spark.operators.stats import max_fluctuation_per_series

    obs = spark.createDataFrame(
        [("p1", "v1", "2024-01", 1.0), ("p1", "v1", "2024-02", 99.0)],
        "entity string, variable string, date string, value double",
    )
    plan = _plan(
        max_fluctuation_per_series(obs, series_key=["entity", "variable"])
    )
    assert plan.count("Exchange hashpartitioning") == 1


@pytest.fixture(scope="module")
def mcf_call(spark, tmp_path_factory):
    """A small run_genmcf + run_lint call (60 CSV rows, 120 events), its
    inputs built here so a test can count what the call alone does."""
    from import_spark.plans.genmcf import run_genmcf
    from import_spark.plans.lint import run_lint
    from import_spark.queries import _GENMCF_TMCF, _event_nodes

    csv = spark.createDataFrame(
        [(f"2020-01-{i % 28 + 1:02d}", f"{i}.5", f"user/{i % 7}", i) for i in range(60)],
        "date string, val string, place string, rid bigint",
    )
    t0 = datetime.datetime(2020, 1, 1, 12)
    kinds = ["click", "view", "purchase", "share", "signup"]
    root = tmp_path_factory.mktemp("mcf_call")
    spark.createDataFrame(
        [(i, i % 7, kinds[i % 5], float(i % 40 - 5), t0 + datetime.timedelta(days=i))
         for i in range(120)],
        "event_id bigint, user_id bigint, event_type string, value double, ts timestamp",
    ).write.parquet(str(root / "events.parquet"))
    nodes = _event_nodes(spark, str(root))

    def call():
        g = run_genmcf(spark, _GENMCF_TMCF, csv, row_id_col="rid")
        l = run_lint(spark, nodes)
        return g.nodes.count(), l.errors.count()

    return call


def test_warm_mcf_call_reuses_compiled_classes(spark, mcf_call):
    """A repeated run_genmcf + run_lint call reuses the classes the
    first one compiled: the session's generated-class cache holds the
    ~330 classes one MCF call generates. At Spark's default of 100
    entries each was evicted before the repeat, which recompiled ~320.
    The cache is keyed by source and the compiling thread's class
    loader, so a repeat still compiles a few classes (2-10 measured)."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    first = mcf_call()
    before = compiles.getCount()
    assert mcf_call() == first
    assert compiles.getCount() - before <= 30


def test_warm_mcf_call_starts_no_pickled_rdd(spark, mcf_call, monkeypatch):
    """Every driver-built frame of the MCF plans is a LocalRelation
    (session.local_frame), so a repeat call parallelizes no Python data:
    a pickled-row createDataFrame is a PythonRDD whose tasks each run a
    Python worker."""
    from pyspark import SparkContext

    first = mcf_call()
    calls = []
    orig = SparkContext.parallelize

    def counting(self, *args, **kwargs):
        calls.append(1)
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(SparkContext, "parallelize", counting)
    assert mcf_call() == first
    assert len(calls) == 0


def test_genmcf_seeds_the_local_graph_without_a_dictionary_collect(mcf_call, monkeypatch):
    """The resolver reads the local-graph seed off the node rows its
    driver gate collects: genmcf makes no separate dictionary collect
    (at 7 Spark jobs, it used to return an empty seed on this input)."""
    from import_spark.operators import link

    def no_collect(*args, **kwargs):
        raise AssertionError("genmcf collected a dictionary")

    monkeypatch.setattr(link, "_collect_dictionary_rows", no_collect)
    mcf_call()


@pytest.mark.parametrize("n_rows", [0, 3])
def test_local_frame_is_local_table_scan(spark, n_rows, monkeypatch):
    """local_frame types the Arrow table by the DDL schema, so empty,
    all-null and nested array<struct> columns round-trip, and the frame
    is a LocalTableScan built without a Python RDD."""
    import pandas as pd
    from pyspark import SparkContext
    from pyspark.sql.types import _parse_datatype_string

    from import_spark.session import local_frame

    ddl = (
        "k string, n bigint, note string, "
        "pvs array<struct<prop:string,value_type:string,value:string>>"
    )
    rows = [
        ("a", 1, None, [{"prop": "p", "value_type": None, "value": "1"}]),
        ("b", None, None, None),
        (None, 3, None, []),
    ][:n_rows]
    monkeypatch.setattr(
        SparkContext, "parallelize", lambda *a, **k: pytest.fail("pickled-row path")
    )
    df = local_frame(spark, pd.DataFrame(rows, columns=["k", "n", "note", "pvs"]), ddl)
    assert df.schema == _parse_datatype_string(ddl)
    got = [
        (r.k, r.n, r.note, None if r.pvs is None else [p.asDict() for p in r.pvs])
        for r in df.collect()
    ]
    assert got == rows
    plan = _plan(df)
    assert plan.startswith("LocalTableScan"), plan
