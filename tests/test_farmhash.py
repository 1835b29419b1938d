"""FarmHash Fingerprint64 + dcid base32 golden vectors.

Vectors were produced by Guava 33.4.8 ``Hashing.farmHashFingerprint64``
on the Spark JVM (the exact function DcidGenerator.java:371-375 uses)
and cover every internal length class (0, 1-3, 4-7, 8-16, 17-32,
33-64, >64) plus UTF-8 multibyte input. The same vectors gate the JVM
UDF ``col_long_id`` (import_spark/jvm/LongId.java).
"""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from import_spark.functions.farmhash import (
    DCID_BASE32_ALPHABET,
    base32_long_id,
    facet_id,
    fingerprint64,
    long_id,
)

GOLDEN = {
    "": 11160318154034397263,
    "a": 12917804110809363939,
    "abc": 2640714258260161385,
    "test": 8581389452482819506,
    "hello world": 6381520714923946011,
    "x" * 33: 12270365409943098935,
    "y" * 65: 13246502507848426076,
    "observationAbout=geoId/06variableMeasured=Count_PersonobservationDate=2020value=123": 10749426436679406894,
}


def test_fingerprint64_golden():
    for s, want in GOLDEN.items():
        assert fingerprint64(s) == want, s


def test_long_id_golden():
    assert long_id("test") == "lffc8pq7st5g7"
    assert long_id("") == "h2j0trd7bcsp9"


def test_base32_alphabet():
    # DcidGenerator.java:29-33: 32 chars, digits then consonants, 'e' last
    assert len(DCID_BASE32_ALPHABET) == 32
    assert len(set(DCID_BASE32_ALPHABET)) == 32
    assert DCID_BASE32_ALPHABET[0] == "0" and DCID_BASE32_ALPHABET[31] == "e"


def test_base32_roundtrip_properties():
    # low 5 bits first; zero encodes to single char '0'
    assert base32_long_id(0) == "0"
    assert base32_long_id(1) == "1"
    assert base32_long_id(32) == "01"
    assert len(base32_long_id((1 << 64) - 1)) == 13  # ceil(64/5)


def test_facet_id_unsigned_decimal():
    # TimeSeries.java:170-191: unsigned decimal of the fingerprint
    assert facet_id("test") == "8581389452482819506"
    assert int(facet_id("a")) == 12917804110809363939  # > 2^63: stays unsigned


def test_batch_matches_scalar_all_lengths():
    """fingerprint64_batch is bit-identical to the scalar spec for every
    length bucket, including the >64-byte block-loop path."""
    import random
    import string

    from import_spark.functions.farmhash import (
        fingerprint64,
        fingerprint64_batch,
        long_id,
        long_id_batch,
    )

    random.seed(42)
    vals = [""]
    for L in list(range(1, 70)) + [64, 65, 127, 128, 129, 191, 192, 193, 300]:
        vals.append("".join(random.choices(string.printable, k=L)))
    vals.append("café" * 40)  # multi-byte utf-8 crossing block bounds
    got = fingerprint64_batch(vals)
    for v, g in zip(vals, got):
        assert int(g) == fingerprint64(v), repr(v[:20])
    ids = long_id_batch(vals)
    for v, g in zip(vals, ids):
        assert g == long_id(v)


def test_xxh64_spark_parity(spark):
    """functions/xxhash.py (the pure-Python twin used by the pandas
    oracle and contract fixtures) must be bit-identical to Spark's
    native xxhash64 — including the %016x hex rendering of the
    transcript-domain node ids."""
    from pyspark.sql import functions as F

    from import_spark.functions.xxhash import hex_id

    vals = [
        "", "a", "abc", "conv_id=conv/0000000001turn_idx=3",
        "x" * 7, "y" * 8, "z" * 31, "w" * 32, "q" * 33, "m" * 100,
        "héllo wörld ünïcode", "conv_id=conv/0000000042", "ab" * 17,
    ]
    df = spark.createDataFrame([(v,) for v in vals], ["s"]).select(
        "s", F.format_string("%016x", F.xxhash64("s")).alias("hx")
    )
    for r in df.collect():
        assert hex_id(r["s"]) == r["hx"], r["s"]


def _jvm_long_ids(spark, keys):
    """``col_long_id`` over ``keys`` on the JVM, in input order."""
    from pyspark.sql import functions as F

    from import_spark.functions.dcids import col_long_id
    from import_spark.jvm import register_long_id

    register_long_id(spark)
    df = spark.createDataFrame([(i, k) for i, k in enumerate(keys)], "i int, k string")
    return [r.h for r in df.select("i", col_long_id(F.col("k")).alias("h")).orderBy("i").collect()]


def test_col_long_id_golden(spark):
    """The JVM UDF (Guava plus the DCID alphabet) reproduces the Guava
    vectors' long ids; a null key stays null."""
    keys = list(GOLDEN) + [None]
    assert _jvm_long_ids(spark, keys) == [base32_long_id(GOLDEN[k]) for k in GOLDEN] + [None]


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(st.lists(st.text(max_size=200), min_size=1, max_size=60))
def test_col_long_id_matches_long_id(spark, keys):
    """``col_long_id`` equals the scalar spec on arbitrary unicode keys of
    every length class."""
    assert _jvm_long_ids(spark, keys) == [long_id(k) for k in keys]


@pytest.mark.parametrize("missing", ["javac", "Guava"])
def test_missing_build_tool_raises_with_its_name(monkeypatch, tmp_path, missing):
    """With no cached jar, a missing ``javac`` or Guava jar raises an
    error that names it; nothing falls back to Python."""
    import shutil

    from import_spark import jvm

    monkeypatch.setattr(jvm, "CACHE_DIR", str(tmp_path / "cache"))
    if missing == "javac":
        monkeypatch.setattr(shutil, "which", lambda *a, **k: None)
    else:
        monkeypatch.setattr(jvm, "_spark_jars", lambda: str(tmp_path))
    with pytest.raises(RuntimeError, match=missing):
        jvm.build_jar()
    assert not (tmp_path / "cache").exists()
