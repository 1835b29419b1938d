"""TFRecord framing, JSON-LD parsing, series grouping, sinks, streaming."""

import json

import pytest

from pyspark.sql import functions as F


def test_tfrecord_roundtrip_bytes():
    from import_spark.sources.tfrecord import frame_tfrecord, masked_crc32c, split_tfrecords

    recs = [b"hello", b"", b"x" * 1000]
    blob = b"".join(frame_tfrecord(r) for r in recs)
    assert split_tfrecords(blob, verify=True) == recs
    # crc32c of "123456789" is the classic check value 0xE3069283
    from import_spark.sources.tfrecord import crc32c

    assert crc32c(b"123456789") == 0xE3069283
    assert masked_crc32c(b"") == (((crc32c(b"") >> 15) | (crc32c(b"") << 17)) + 0xA282EAD8) & 0xFFFFFFFF


def test_tfrecord_spark_roundtrip(spark, tmp_path):
    from import_spark.sources.tfrecord import read_tfrecords, write_tfrecords

    df = spark.createDataFrame(
        [(i, bytearray(f"payload-{i}".encode())) for i in range(50)], ["i", "payload"]
    ).repartition(4)
    out = str(tmp_path / "recs")
    write_tfrecords(df, out)
    back = read_tfrecords(spark, out, verify=True)
    got = sorted(bytes(r.payload).decode() for r in back.collect())
    assert got == sorted(f"payload-{i}" for i in range(50))


JSONLD = [
    {"@id": "dcid:geoId/06", "@type": "dcs:State", "name": "California", "pop": 39000000},
    {"@id": "n2", "@type": "City", "containedIn": {"@id": "dcid:geoId/06"}, "flag": True},
]


def test_jsonld_parse():
    from import_spark.sources.jsonld import parse_jsonld_string

    rows = set()
    for obj in JSONLD:
        rows |= {r[:4] for r in parse_jsonld_string(json.dumps(obj))}
    assert ("geoId/06", "typeOf", "RESOLVED_REF", "State") in rows
    assert ("geoId/06", "name", "TEXT", "California") in rows
    assert ("geoId/06", "pop", "NUMBER", "39000000") in rows
    assert ("n2", "containedIn", "RESOLVED_REF", "geoId/06") in rows
    assert ("n2", "flag", "NUMBER", "true") in rows


def test_jsonld_spark(spark, tmp_path):
    from import_spark.sources.jsonld import read_jsonld

    p = tmp_path / "g.jsonl"
    p.write_text("\n".join(json.dumps(o) for o in JSONLD) + "\nnot json\n")
    df = read_jsonld(spark, str(p))
    assert df.count() == 6  # 3 props per node; malformed line skipped
    assert df.filter(F.col("node_id") == "geoId/06").count() == 3


def test_series_grouping(spark):
    from import_spark.operators.series import dedupe_facets, group_series, with_facet_id

    obs = spark.createDataFrame(
        [
            ("e1", "v1", "2020", 2.0),
            ("e1", "v1", "2019", 1.0),
            ("e2", "v1", "2020", 3.0),
        ],
        ["entity", "variable", "date", "value"],
    )
    g = {(r.entity): [s["date"] for s in r.series] for r in group_series(obs).collect()}
    assert g["e1"] == ["2019", "2020"]  # date-sorted within series
    f = with_facet_id(obs.withColumn("unit", F.lit("USD")))
    fids = {r.facet_id for r in f.collect()}
    assert len(fids) == 1 and next(iter(fids)).isdigit()
    assert dedupe_facets(f, ["entity", "variable", "facet_id"]).count() == 2


def test_sinks(spark, tmp_path):
    from import_spark.sinks import overwrite_provenance, write_observations

    obs = spark.createDataFrame(
        [("e1", "v1", "2020", 1.0), ("e1", "v2", "2020", 2.0)],
        ["entity", "variable", "date", "value"],
    )
    p = str(tmp_path / "obs")
    write_observations(obs, p)
    assert spark.read.parquet(p).count() == 2

    p2 = str(tmp_path / "prov")
    overwrite_provenance(obs, p2, "importA")
    overwrite_provenance(obs.limit(1), p2, "importB")
    # re-import of importA replaces only its partition
    overwrite_provenance(obs, p2, "importA")
    back = spark.read.parquet(p2)
    assert back.filter(F.col("provenance") == "importA").count() == 2
    assert back.filter(F.col("provenance") == "importB").count() == 1


def test_overwrite_provenance_default_session_conf(spark, tmp_path):
    """S10 under Spark's DEFAULT overwrite mode (static): the dynamic
    partitionOverwriteMode must be a writer option, not an assumption
    about who built the SparkSession — otherwise re-importing one
    provenance wipes every other partition (SpannerClient.java:92-137
    deletes only WHERE provenance=?)."""
    from import_spark.sinks import overwrite_provenance

    obs = spark.createDataFrame(
        [("e1", "v1", "2020", 1.0), ("e2", "v1", "2020", 2.0)],
        ["entity", "variable", "date", "value"],
    )
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "static")  # the Spark default, as in the driver's session
    try:
        p = str(tmp_path / "prov_static")
        overwrite_provenance(obs, p, "provA")
        overwrite_provenance(obs.limit(1), p, "provB")
        overwrite_provenance(obs, p, "provA")  # re-import must not touch provB
        back = spark.read.parquet(p)
        assert back.filter(F.col("provenance") == "provA").count() == 2
        assert back.filter(F.col("provenance") == "provB").count() == 1
    finally:
        if prev is not None:
            spark.conf.set(key, prev)
        else:
            spark.conf.unset(key)


def test_write_jsonld_roundtrip_and_kinds(spark, tmp_path):
    """write_jsonld → read_jsonld roundtrips TEXT/ref statements and
    @type; NUMBER statements degrade to TEXT by design (values are
    serialized as JSON strings — native JSON numbers would re-enter
    float formatting); the _context sidecar is skipped by the scan."""
    import json
    import os

    from import_spark.sources.jsonld import read_jsonld, write_jsonld

    schema = "node_id string, prop string, value_type string, value string, src_file string"
    rows = [
        ("n/1", "typeOf", "RESOLVED_REF", "Place", "f"),
        ("n/1", "name", "TEXT", 'with "quotes" and \\ slash', "f"),
        ("n/1", "near", "UNRESOLVED_REF", "n/2", "f"),
        ("n/1", "pop", "NUMBER", "42", "f"),
    ]
    path = str(tmp_path / "shards")
    write_jsonld(spark.createDataFrame(rows, schema), path)
    assert os.path.exists(os.path.join(path, "_context.jsonld"))
    back = {
        (r.node_id, r.prop): (r.value_type, r.value)
        for r in read_jsonld(spark, path).collect()
    }
    assert back[("n/1", "typeOf")] == ("RESOLVED_REF", "Place")
    assert back[("n/1", "name")] == ("TEXT", 'with "quotes" and \\ slash')
    assert back[("n/1", "near")] == ("RESOLVED_REF", "n/2")
    assert back[("n/1", "pop")] == ("TEXT", "42")
    # every emitted line is valid JSON with @id
    for fn in os.listdir(path):
        if fn.startswith(("_", ".")) or not fn.startswith("part-"):
            continue
        for line in open(os.path.join(path, fn)):
            if line.strip():
                assert "@id" in json.loads(line)
