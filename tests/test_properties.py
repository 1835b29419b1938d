"""Property-based tests (hypothesis) for the invariants the golden
fixtures can't sweep: randomized inputs for the string/hash twins and
the connected-components operators.

The reference's test strategy (SURVEY.md §5) is example/golden-based
(StringUtilTest.java, DcidGeneratorTest.java, McfResolverTest goldens);
this file adds the randomized layer on top — every property here
shrinks to a minimal counterexample on failure, which the fixed-vector
tests cannot do.

Spark-involving properties batch each hypothesis example into ONE job
over a list of values (a per-row job would make shrinking O(jobs)),
with small max_examples so the whole file stays in test-suite budget.
"""

from __future__ import annotations

import string
from datetime import datetime

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from import_spark.functions.values import (
    clean_numeric_string,
    is_number,
    is_valid_date,
    is_valid_dcid,
    split_and_strip,
    split_structured_line_with_escapes,
    strip_namespace,
)

# text that utf-8 encodes cleanly (hypothesis excludes surrogates by default)
_any_text = st.text(max_size=60)
# component alphabet for roundtrip construction: no quote, no backslash,
# no newline, and strip()-stable interiors are enforced in the builder
_component = st.text(
    alphabet=string.ascii_letters + string.digits + " ,.:-_", min_size=1, max_size=20
).filter(lambda s: s == s.strip() and s.strip('"') == s)


# ---------------------------------------------------------------- pure python


@given(st.lists(_component, min_size=1, max_size=8))
def test_split_and_strip_roundtrip(components):
    """StringUtil.java:182-218 semantics: quoting a component that
    contains the delimiter must roundtrip through the splitter."""
    cells = [f'"{c}"' if "," in c else c for c in components]
    line = ",".join(cells)
    assert split_and_strip(line) == components


@given(st.text(alphabet=string.ascii_letters + string.digits + " ,", max_size=40))
def test_split_unbalanced_quote_is_error(body):
    """One unescaped quote (StrSplit_BadQuotesInToken) → None, never a
    silent partial split."""
    assert split_structured_line_with_escapes(body + '"') is None


@given(_any_text)
def test_split_never_raises_and_preserves_content(line):
    """Total function: any single-line input either errors (None) or
    splits into parts that re-join to the original line."""
    if "\n" in line:
        return
    parts = split_structured_line_with_escapes(line)
    if parts is not None:
        assert ",".join(parts) == line


@given(_any_text)
def test_strip_namespace_idempotent(val):
    """namespace strip is idempotent (McfUtil.java stripNamespace)."""
    once = strip_namespace(val)
    assert strip_namespace(once) == once


@given(_any_text)
def test_scalar_predicates_total(val):
    """The row-level predicates must be total — garbage in, bool out,
    never an exception (they run inside the hot extract stage)."""
    assert is_number(val) in (True, False)
    assert is_valid_date(val) in (True, False)
    assert is_valid_dcid(val) in (True, False)
    clean_numeric_string(val)  # must not raise


@given(
    # years < 1000 render 3-digit under %Y on glibc, and the reference's
    # length-gated "yyyy" pattern (StringUtil.java:42-59) rejects those —
    # so the property holds only for 4-digit years
    st.datetimes(min_value=datetime(1000, 1, 1)),
    st.sampled_from(["%Y", "%Y-%m", "%Y-%m-%d", "%Y%m%d", "%Y-%m-%dT%H:%M:%S"]),
)
def test_real_datetimes_validate(dt, fmt):
    """Every real datetime rendered in a supported ISO pattern passes
    (StringUtil.java:42-59 candidate patterns)."""
    assert is_valid_date(dt.strftime(fmt))


@given(st.lists(st.text(max_size=40), min_size=1, max_size=50))
def test_farmhash_batch_matches_scalar(values):
    """long_id_batch (the vectorized extract-stage path) is
    element-wise identical to the scalar long_id twin."""
    import numpy as np

    from import_spark.functions.farmhash import long_id, long_id_batch

    got = long_id_batch(np.array(values, dtype=object))
    assert list(got) == [long_id(v) for v in values]


# ---------------------------------------------------------------- spark twins

_spark_settings = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


@pytest.mark.usefixtures("spark")
class TestSparkTwins:
    @_spark_settings
    @given(st.lists(st.text(max_size=40), min_size=1, max_size=40))
    def test_xxh64_twin_parity(self, spark, values):
        """functions/xxhash.py (pure-Python twin for the pandas oracle)
        bit-matches Spark's native xxhash64 on arbitrary unicode."""
        from pyspark.sql import functions as F

        from import_spark.functions.xxhash import hex_id

        df = spark.createDataFrame([(v,) for v in values], ["s"]).select(
            "s", F.format_string("%016x", F.xxhash64("s")).alias("hx")
        )
        for r in df.collect():
            assert hex_id(r["s"]) == r["hx"]

    @_spark_settings
    @given(st.lists(st.text(max_size=30), min_size=1, max_size=40))
    def test_column_twins_match_python(self, spark, values):
        """The native column twins (values.py col_*) agree with their
        Python scalar counterparts on arbitrary strings — this is the
        invariant that keeps the DuckDB oracles honest."""
        from pyspark.sql import functions as F

        from import_spark.functions.values import (
            col_clean_numeric,
            col_is_number,
            col_is_valid_date,
            col_is_valid_dcid,
            col_strip_namespace,
        )

        df = spark.createDataFrame([(v,) for v in values], ["s"]).select(
            "s",
            col_strip_namespace(F.col("s")).alias("ns"),
            col_clean_numeric(F.col("s")).alias("cn"),
            col_is_number(F.col("s")).alias("isn"),
            col_is_valid_dcid(F.col("s")).alias("isd"),
            col_is_valid_date(F.col("s")).alias("isdate"),
        )
        for r in df.collect():
            assert r["ns"] == strip_namespace(r["s"]), ("strip_namespace", r["s"])
            assert r["cn"] == clean_numeric_string(r["s"]), ("clean_numeric", r["s"])
            assert r["isn"] == is_number(r["s"]), ("is_number", r["s"])
            assert r["isd"] == is_valid_dcid(r["s"]), ("is_valid_dcid", r["s"])
            assert r["isdate"] == is_valid_date(r["s"]), ("is_valid_date", r["s"])


# ------------------------------------------------------- connected components


def _union_find_canon(edges):
    """Reference oracle: canonical min-label components via union-find.

    Matches the operator contract (canonicalize.py:36-38,100-103):
    self-loops are ignored, nodes with no real edge are omitted, and
    only actual rewrites are returned (canon != node).
    """
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups: dict[str, list[str]] = {}
    for n in parent:
        groups.setdefault(find(n), []).append(n)
    return {n: min(ms) for ms in groups.values() for n in ms if n != min(ms)}


_edges_strategy = st.lists(
    st.tuples(st.integers(0, 25), st.integers(0, 25)).map(
        lambda t: (f"n{t[0]:02d}", f"n{t[1]:02d}")
    ),
    min_size=1,
    max_size=40,
)


@pytest.mark.usefixtures("spark")
class TestConnectedComponentsProperties:
    @settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
    @given(_edges_strategy)
    def test_cc_matches_union_find(self, spark, edges):
        """Distributed large-star/small-star CC == driver union-find on
        random multigraphs (self-loops and duplicate edges included)."""
        from import_spark.operators.canonicalize import connected_components

        df = spark.createDataFrame(edges, ["src", "dst"])
        got = sorted((r["node"], r["canon"]) for r in connected_components(df).collect())
        want = sorted(_union_find_canon(edges).items())
        assert got == want  # a list: one row per node, no duplicates


# --------------------------------------------------- extraction engine parity

# fragments that sometimes form grammar anchors and sometimes near-miss
# them, interleaved with unicode whitespace/digits — the randomized
# version of test_unicode_whitespace_parity's fixed cases
_frag = st.sampled_from(
    [
        "we looked at ",
        "sameAs ",
        "see l:E1 ",
        "metric is 3.5 ",
        'note "x y" ',
        "define l:E2 = iso:US ",
        "observe geoId/06 Count 2020 = 7 ",
        "geoId/06 ",
        "iso:US",
        "wikidataId:Q99 ",
        "l:E3",
        " ",      # NBSP
        " ",      # thin space
        "　",      # ideographic space
        "\x1c",        # Python-whitespace control separator
        "۳ ",          # unicode digit
        "plain words ",
    ]
)
_turn_text = st.lists(_frag, min_size=0, max_size=8).map("".join)


@pytest.mark.usefixtures("spark")
class TestExtractionParity:
    @settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
    @given(st.lists(_turn_text, min_size=1, max_size=12))
    def test_fused_equals_unfused(self, spark, texts):
        """The fused JVM+Arrow extraction (pipeline hot path) emits
        exactly the statements of the all-Python path on randomized
        anchor/near-miss/unicode-whitespace text — the invariant behind
        the (?U)+_TOK tokenization fix."""
        from import_spark.operators.extract import extract_and_link, extract_statements
        from import_spark.operators.link import dcid_map_from_df, link_statements
        from import_spark.sources.transcripts import dcid_dictionary

        rows = [
            ("c0", i, "user", t, "", None) for i, t in enumerate(texts)
        ]
        tr = spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        )
        d = dcid_dictionary(spark)
        fused = extract_and_link(tr, dcid_map_from_df(d))
        unfused = link_statements(extract_statements(tr), d).select(*fused.columns)
        a = sorted(tuple(r) for r in fused.collect())
        b = sorted(tuple(r) for r in unfused.collect())
        assert a == b


# --------------------------------------------------- repetition stats vs python

_doc_text = st.text(
    alphabet=string.ascii_lowercase + " \t\n", max_size=80
)


@pytest.mark.usefixtures("spark")
class TestRepetitionProperties:
    @settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
    @given(st.lists(_doc_text, min_size=1, max_size=20))
    def test_matches_python_reference(self, spark, texts):
        """repetition_stats' in-array sorted longest-equal-run bigram
        mode equals a Counter-based pure-Python reference on random
        whitespace-heavy docs (empty docs, single tokens, all-dup
        lines all shrink here)."""
        import math
        import re
        from collections import Counter

        from import_spark.operators.textops import repetition_stats

        def ref(text):
            lines = [ln for ln in text.split("\n") if ln != ""]
            dup = 1.0 - len(set(lines)) / len(lines) if lines else 0.0
            toks = [t for t in re.split(r"\s+", text.lower()) if t != ""]
            if len(toks) < 2:
                return dup, 0.0
            bis = [toks[i] + " " + toks[i + 1] for i in range(len(toks) - 1)]
            return dup, max(Counter(bis).values()) / len(bis)

        df = spark.createDataFrame(list(enumerate(texts)), "doc_id int, text string")
        got = {
            r["doc_id"]: (r["dup_line_frac"], r["top_bigram_frac"])
            for r in repetition_stats(df).collect()
        }
        for i, t in enumerate(texts):
            dup, top = ref(t)
            assert math.isclose(got[i][0], dup, rel_tol=1e-12, abs_tol=1e-12), (i, t)
            assert math.isclose(got[i][1], top, rel_tol=1e-12, abs_tol=1e-12), (i, t)


# ------------------------------------------------------------- salted join

_keys = st.one_of(st.integers(min_value=0, max_value=6), st.none())
_rows = st.lists(
    st.tuples(_keys, st.integers(min_value=0, max_value=99)),
    min_size=0,
    max_size=60,
)


@pytest.mark.usefixtures("spark")
class TestSaltedJoinProperty:
    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        big_rows=_rows,
        dim_rows=_rows,
        how=st.sampled_from(["left", "inner"]),
        n_salts=st.integers(min_value=1, max_value=5),
        hot=st.lists(_keys, max_size=4),
    )
    def test_salted_join_equals_plain(
        self, spark, big_rows, dim_rows, how, n_salts, hot
    ):
        """operators/skew.salted_join == the plain join for ANY key
        multiset (nulls, duplicate keys both sides, arbitrary hot sets
        including keys that do not exist)."""
        from import_spark.operators.skew import salted_join

        big = spark.createDataFrame(
            [(k, f"b{v}") for k, v in big_rows] or [(None, None)], "k int, b string"
        )
        dim = spark.createDataFrame(
            [(k, f"d{v}") for k, v in dim_rows] or [(None, None)], "k int, d string"
        )
        got = salted_join(
            big, dim, ["k"], how=how, n_salts=n_salts, hot=[(h,) for h in hot]
        )
        want = big.join(dim, ["k"], how)
        srt = lambda df: sorted(  # noqa: E731
            (tuple(r) for r in df.collect()),
            key=lambda t: tuple((v is None, v) for v in t),
        )
        assert srt(got) == srt(want)
