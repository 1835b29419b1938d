"""End-to-end gate: Spark pipeline vs the independent pandas oracle.

The BASELINE.json acceptance criterion — triple P/R ≥ 0.95 (we hold
ourselves to 1.0 on the deterministic generator), failed-statement
parity, and the per-turn text-equality invariant."""

import pytest

from import_spark.oracle import expected_triples, precision_recall
from import_spark.plans.kg_pipeline import run_pipeline
from import_spark.sources.transcripts import (
    build_dcid_dictionary,
    dcid_dictionary,
    generate_transcripts,
)


@pytest.fixture(scope="module")
def result(spark, job_ids):
    tr = generate_transcripts(spark, 150).cache()
    d = dcid_dictionary(spark)
    tr.count()
    before = job_ids()
    res = run_pipeline(spark, tr, d)
    jobs = len(job_ids() - before)
    got = {(r.subj, r.pred, r.obj_type, r.obj) for r in res.triples.collect()}
    want, failed_uses = expected_triples(tr.toPandas(), build_dcid_dictionary())
    return res, got, want, failed_uses, jobs


def test_precision_recall_gate(result):
    res, got, want, _, _ = result
    p, r = precision_recall(got, want)
    assert p >= 0.95 and r >= 0.95, (p, r)
    assert p == 1.0 and r == 1.0  # deterministic generator → exact


def test_failed_statement_parity(result):
    res, _, _, failed_uses, _ = result
    assert res.failed.count() == len(failed_uses)


def test_text_invariant(result):
    res, _, _, _, _ = result
    assert res.text_digest_in == res.text_digest_out != 0


def test_no_unresolved_refs_in_output(result):
    res, got, _, _, _ = result
    assert not any(t == "UNRESOLVED_REF" for _, _, t, _ in got)
    assert not any(o.startswith("l:") for _, _, t, o in got if t == "RESOLVED_REF")


def test_triples_are_distinct(result):
    res, got, _, _, _ = result
    assert res.triples.count() == res.triples.dropDuplicates(
        ["subj", "pred", "obj_type", "obj"]
    ).count()


def test_in_memory_job_budget(result):
    """The in-memory call takes the one-collect driver branch: one
    aggregate and one Arrow collect for the dictionary and for the
    narrow side, no size probes — at most 20 Spark jobs in all."""
    res, _, _, _, jobs = result
    counters = {r["counter"] for r in res.metrics}
    assert "branch_driver" in counters
    assert jobs <= 20, jobs


def test_narrow_driver_step_matches_spec(spark):
    """narrow_driver_step (vectorized def fixpoint, local-ref lookup,
    union-find, quarantine) equals the spec — the pure-Python def walk
    ``_resolve_defs_driver`` plus the distributed
    ``connected_components`` — on a hand-built frame with a chain, a
    cycle, a divergent def, an orphan local and a resolved and an
    unresolved sameAs→local edge."""
    import pandas as pd

    from import_spark.operators.canonicalize import connected_components
    from import_spark.operators.resolve import _resolve_defs_driver
    from import_spark.plans.kg_pipeline import (
        CLS_DEF,
        CLS_LOCAL,
        CLS_SAMEAS,
        narrow_driver_step,
    )

    R, U = "RESOLVED_REF", "UNRESOLVED_REF"
    defs = [
        ("c1", "l:E1", R, "geoId/06"),
        ("c1", "l:E1", R, "geoId/06"),  # exact duplicate: not divergent
        ("c1", "l:E2", U, "l:E1"),  # chain E2 → E1 → geoId/06
        ("c1", "l:E3", U, "l:E4"),  # cycle E3 ↔ E4
        ("c1", "l:E4", U, "l:E3"),
        ("c1", "l:E5", R, "geoId/07"),  # divergent E5
        ("c1", "l:E5", R, "geoId/08"),
        ("c1", "l:E6", U, "l:E5"),  # points at the divergent local
        ("c2", "l:E1", R, "geoId/99"),  # same name, other conversation
    ]
    refs = [
        (CLS_LOCAL, "c1", "s1", "mentions", U, "l:E2"),  # resolves via chain
        (CLS_LOCAL, "c1", "s1", "mentions", U, "l:E3"),  # cycle
        (CLS_LOCAL, "c1", "s1", "mentions", U, "l:E5"),  # divergent
        (CLS_LOCAL, "c1", "s1", "mentions", U, "l:E6"),  # irreplaceable
        (CLS_LOCAL, "c1", "s2", "mentions", U, "l:E9"),  # orphan
        (CLS_LOCAL, "c2", "s3", "mentions", U, "l:E1"),
        (CLS_LOCAL, "c2", "s3", "mentions", U, "l:E2"),  # defined in c1 only
        (CLS_SAMEAS, "c1", "geoId/09", "sameAs", U, "l:E1"),  # resolved edge
        (CLS_SAMEAS, "c1", "geoId/10", "sameAs", U, "l:E9"),  # unresolved edge
        (CLS_SAMEAS, "c1", "geoId/11", "sameAs", R, "geoId/09"),
        (CLS_SAMEAS, "c2", "geoId/12", "sameAs", R, "geoId/12"),  # self-loop
    ]
    rows = [
        {"conv_id": c, "turn_idx": i, "kind": "DEF", "subj": s, "pred": "__def__",
         "obj_type": t, "obj": o, "_cls": CLS_DEF}
        for i, (c, s, t, o) in enumerate(defs)
    ] + [
        {"conv_id": c, "turn_idx": 100 + i, "kind": "TRIPLE", "subj": s, "pred": p,
         "obj_type": t, "obj": o, "_cls": k}
        for i, (k, c, s, p, t, o) in enumerate(refs)
    ]
    pdf = pd.DataFrame(rows)
    got = narrow_driver_step(pdf)

    # spec: the pure-Python def walk, then lookup / quarantine / edges
    res, div, unres = _resolve_defs_driver(defs)
    rmap = {(c, l): d for c, l, d in res}
    assert set(got.rmap.itertuples(index=False, name=None)) == set(res)
    cat = {}
    for k in div:
        cat.setdefault(k, "Resolution_DivergingDcids")
    for k in unres:
        cat.setdefault(k, "Resolution_IrreplaceableLocalRef")
    want_failed, edges = [], []
    for i, (k, c, s, p, t, o) in enumerate(refs):
        hit = rmap.get((c, o)) if t == U else o
        if hit is None:
            err = cat.get((c, o), "Resolution_OrphanLocalReference")
            want_failed.append((c, o, 100 + i, "TRIPLE", s, p, t, err))
        elif k == CLS_SAMEAS:
            edges.append((s, hit))
    assert list(got.failed.columns) == [
        "conv_id", "obj", "turn_idx", "kind", "subj", "pred", "obj_type", "error"
    ]
    assert sorted(got.failed.itertuples(index=False, name=None)) == sorted(want_failed)
    assert {r[-1] for r in want_failed} == {
        "Resolution_DivergingDcids",
        "Resolution_IrreplaceableLocalRef",
        "Resolution_OrphanLocalReference",
    }
    want_cc = {
        (r.node, r.canon)
        for r in connected_components(
            spark.createDataFrame(edges, "src string, dst string")
        ).collect()
    }
    assert set(got.components.itertuples(index=False, name=None)) == want_cc
    assert ("geoId/09", "geoId/06") in want_cc and ("geoId/11", "geoId/06") in want_cc


def test_checkpoint_snapshot_class_layout_and_resume(spark, tmp_path):
    """The resumable snapshot is partitioned by statement class
    (`_cls`), the narrow-pass directories are tiny vs the plain-triple
    partition, and a digest-matched re-run resumes (identical output,
    resume counter set)."""
    import os

    from import_spark.plans.kg_pipeline import CLS_TRIPLE, CLS_DEF

    tr = generate_transcripts(spark, 120).cache()
    ckpt = str(tmp_path / "ckpt")
    out1 = run_pipeline(
        spark, tr, dcid_dictionary(spark), checkpoint_dir=ckpt, keep_snapshot=True
    )
    snap = os.path.join(ckpt, "run0", "linked")
    parts = sorted(d for d in os.listdir(snap) if d.startswith("_cls="))
    assert f"_cls={CLS_TRIPLE}" in parts and f"_cls={CLS_DEF}" in parts

    def _bytes(cls):
        d = os.path.join(snap, f"_cls={cls}")
        return sum(
            os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)
        ) if os.path.isdir(d) else 0

    fat = _bytes(CLS_TRIPLE)
    assert fat > 0
    for d in parts:
        c = int(d.split("=")[1])
        if c != CLS_TRIPLE:
            assert _bytes(c) < fat

    n1 = out1.triples.count()
    out2 = run_pipeline(
        spark, tr, dcid_dictionary(spark), checkpoint_dir=ckpt, keep_snapshot=True
    )
    assert any(
        r["counter"] == "resumed_from_checkpoint" for r in out2.metrics
    ), "second run should resume from the digest-matched snapshot"
    assert out2.triples.count() == n1
    t1 = {(r.subj, r.pred, r.obj_type, r.obj) for r in out1.triples.collect()}
    t2 = {(r.subj, r.pred, r.obj_type, r.obj) for r in out2.triples.collect()}
    assert t1 == t2


def test_torn_snapshot_and_stale_digest_rebuild(spark, tmp_path):
    """Crash-resume semantics (north rule: resumable from checkpoint).

    The `_input_digest.json` sidecar is the snapshot's success marker —
    it is renamed into place only after the parquet write returns, so a
    job killed mid-snapshot leaves files WITHOUT the marker. A re-run
    over such a torn snapshot must rebuild (never trust the files), and
    a digest that does not match the current inputs (same run_id reused
    for different data — the silent-corruption case) must also rebuild.
    Both re-runs must produce the exact run-1 triple set."""
    import json
    import os

    tr = generate_transcripts(spark, 120).cache()
    ckpt = str(tmp_path / "ckpt")
    out1 = run_pipeline(
        spark, tr, dcid_dictionary(spark), checkpoint_dir=ckpt, keep_snapshot=True
    )
    t1 = {(r.subj, r.pred, r.obj_type, r.obj) for r in out1.triples.collect()}
    snap = os.path.join(ckpt, "run0", "linked")
    digest_path = os.path.join(snap, "_input_digest.json")

    # torn write: marker missing, stale parquet + a half-written part
    # file left behind by the "crashed" committer
    os.remove(digest_path)
    with open(os.path.join(snap, "part-99999.parquet.tmp"), "wb") as f:
        f.write(b"\x00garbage")
    out2 = run_pipeline(
        spark, tr, dcid_dictionary(spark), checkpoint_dir=ckpt, keep_snapshot=True
    )
    assert not any(
        r["counter"] == "resumed_from_checkpoint" for r in out2.metrics
    ), "torn snapshot (no success marker) must rebuild, not resume"
    t2 = {(r.subj, r.pred, r.obj_type, r.obj) for r in out2.triples.collect()}
    assert t2 == t1
    assert os.path.exists(digest_path)  # marker restored by the rebuild

    # stale digest: marker present but recorded for OTHER inputs
    with open(digest_path) as f:
        good = json.load(f)
    with open(digest_path, "w") as f:
        json.dump({**good, "text_digest": good["text_digest"] ^ 1}, f)
    out3 = run_pipeline(
        spark, tr, dcid_dictionary(spark), checkpoint_dir=ckpt, keep_snapshot=True
    )
    assert not any(
        r["counter"] == "resumed_from_checkpoint" for r in out3.metrics
    ), "digest mismatch (same run_id, different input) must rebuild"
    t3 = {(r.subj, r.pred, r.obj_type, r.obj) for r in out3.triples.collect()}
    assert t3 == t1
    # and the rebuilt marker is the true digest again → next run resumes
    out4 = run_pipeline(
        spark, tr, dcid_dictionary(spark), checkpoint_dir=ckpt, keep_snapshot=True
    )
    assert any(r["counter"] == "resumed_from_checkpoint" for r in out4.metrics)


def test_per_partition_lineage(spark, tmp_path):
    """Each materialized stage writes per-partition lineage (north rule:
    per-partition lineage + counters to a checkpoint table): one row per
    physical file with row count and conv_id span; file-level row counts
    must sum to the stage's table counts; re-runs replace (not
    duplicate) their own (run_id, stage) partitions."""
    import os

    from import_spark.plans.lineage import read_lineage

    tr = generate_transcripts(spark, 120).cache()
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    res = run_pipeline(
        spark, tr, dcid_dictionary(spark), out_dir=out, checkpoint_dir=ckpt,
        keep_snapshot=True,
    )
    lin = read_lineage(spark, os.path.join(ckpt, "lineage"))
    assert lin is not None
    rows = lin.collect()
    stages = {r["stage"] for r in rows}
    assert {"link", "merge", "resolve"} <= stages
    # per-stage file row counts reconcile with the tables themselves
    snap_n = spark.read.parquet(os.path.join(ckpt, "run0", "linked")).count()
    tri_n = res.triples.count()
    fail_n = res.failed.count()
    by_stage = {}
    for r in rows:
        by_stage[r["stage"]] = by_stage.get(r["stage"], 0) + r["rows"]
    assert by_stage["link"] == snap_n
    assert by_stage["merge"] == tri_n
    assert by_stage["resolve"] == fail_n
    # every file row carries a conv_id span and its partition label
    link_rows = [r for r in rows if r["stage"] == "link"]
    assert all(r["file"] and r["conv_id_min"] <= r["conv_id_max"] for r in link_rows)
    assert {r["part"] for r in link_rows} >= {"0", "3"}  # fat + DEF classes
    # the counters land as a queryable table, one row per counter row,
    # 64-bit digests exact
    table = spark.read.parquet(os.path.join(out, "metrics"))
    assert dict(table.dtypes) == {
        "stage": "string", "counter": "string", "value": "bigint",
        "elapsed_sec": "double", "run_id": "string",
    }
    key = lambda r: (r["run_id"], r["stage"], r["counter"], r["value"], r["elapsed_sec"])  # noqa: E731
    assert sorted(map(key, table.collect())) == sorted(map(key, res.metrics))
    # idempotent per (run_id, stage): a resumed re-run must not duplicate
    run_pipeline(
        spark, tr, dcid_dictionary(spark), out_dir=out, checkpoint_dir=ckpt,
        keep_snapshot=True,
    )
    lin2 = read_lineage(spark, os.path.join(ckpt, "lineage")).collect()
    by_stage2 = {}
    for r in lin2:
        by_stage2[r["stage"]] = by_stage2.get(r["stage"], 0) + r["rows"]
    assert by_stage2["merge"] == tri_n and by_stage2["link"] == snap_n


def _force_salted(monkeypatch):
    """Every dictionary is over the broadcast budget: the link joins by
    the hot-key salted shuffle."""
    import import_spark.functions.size_gate as sg

    monkeypatch.setattr(sg, "BROADCAST_BUDGET_BYTES", -1)


def test_unicode_whitespace_parity(spark, monkeypatch):
    """Java regex \\S/\\d are ASCII-only by default while the oracle
    (Python re) is Unicode-aware: a token followed by U+00A0/U+2009/
    U+3000 whitespace used to be swallowed into the token on the JVM
    (silently missing dictionary links). The (?U)+_TOK fix makes the
    JVM tokenize like re — gate it on adversarial text end-to-end: the
    broadcast link == the salted link over the one extractor, AND the
    full pipeline matches the independent row-at-a-time oracle, which
    shares no tokenization code with it, on both branches."""
    import pandas as pd

    from import_spark.operators.extract import extract_statements
    from import_spark.operators.link import link_dictionary, link_statements

    rows = [
        ("c1", 0, "user", 'we looked at geoId/06 tail note "a b"', "", None),
        ("c1", 1, "user", "we looked at iso:US x metric is 5", "", None),
        ("c1", 2, "user", "sameAs geoId/06　geoId/07 see l:E1", "", None),
        ("c1", 3, "user", "define l:E1 = wikidataId:Q99 z", "", None),
        ("c1", 4, "user", "we looked at geoId/08\x1ctail", "", None),
        ("c1", 5, "user", "metric is 12۳ sameAs a　b", "", None),
        ("c1", 6, "user", "observe geoId/06 Count 2020  = 7", "", None),
        ("c2", 0, "user", "we looked at nuts:DE1\x1d metric is -3.5", "tool", None),
    ]
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    tr = spark.createDataFrame(rows, schema)
    d = dcid_dictionary(spark)
    tr_pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    want, _ = expected_triples(tr_pdf, build_dcid_dictionary())

    def run():
        linked = link_statements(extract_statements(tr), link_dictionary(d))
        res = run_pipeline(spark, tr, d, verify_text_invariant=True)
        got = {(r.subj, r.pred, r.obj_type, r.obj) for r in res.triples.collect()}
        p, r = precision_recall(got, want)
        assert p == 1.0 and r == 1.0, (sorted(got - want)[:5], sorted(want - got)[:5])
        return {tuple(r) for r in linked.collect()}

    broadcast = run()
    _force_salted(monkeypatch)
    assert run() == broadcast


def test_empty_dictionary_links_by_fallback(spark, monkeypatch):
    """An empty dictionary links every external id by the prefix
    fallback on both link branches and through ``extract_and_link``'s
    empty local frame."""
    from import_spark.operators.extract import extract_and_link, extract_statements
    from import_spark.operators.link import link_dictionary, link_statements

    tr = generate_transcripts(spark, 30)
    empty = spark.createDataFrame([], "prop string, ext_id string, dcid string")

    def linked():
        dictionary = link_dictionary(empty)
        out = link_statements(extract_statements(tr), dictionary).drop("ext_prop", "ext_id")
        return dictionary.strategy, {tuple(r) for r in out.collect()}

    strategy, a = linked()
    assert strategy == "broadcast"
    assert ("mentions", "iso/US") in {(r[4], r[6]) for r in a}
    assert {tuple(r) for r in extract_and_link(tr, {}).collect()} == a
    _force_salted(monkeypatch)
    assert linked() == ("salted", a)


def test_large_dictionary_links_by_broadcast_join(spark):
    """A ~9.9k-entry dictionary (once the map-literal link's range)
    links by the broadcast hash join — no dictionary entry is a literal
    in the plan — at P = R = 1.0 against the oracle over the same
    dictionary."""
    import pandas as pd

    from import_spark.operators.link import link_dictionary
    from import_spark.plans.kg_pipeline import _link_plan

    base = build_dcid_dictionary()
    filler = pd.DataFrame(
        {
            "prop": "isoCode",
            "ext_id": [f"fill/{i}" for i in range(9_900 - len(base))],
            "dcid": [f"dc/fill/{i}" for i in range(9_900 - len(base))],
        }
    )
    big = pd.concat([base, filler], ignore_index=True)
    d = spark.createDataFrame(big)
    tr = generate_transcripts(spark, 120).cache()

    dictionary = link_dictionary(d)
    assert dictionary.strategy == "broadcast"
    assert dictionary.rows == len(big.drop_duplicates(["prop", "ext_id"]))
    plan = _link_plan(tr, dictionary)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "country/USA" not in plan and "dc/fill/" not in plan

    res = run_pipeline(spark, tr, d)
    got = {(r.subj, r.pred, r.obj_type, r.obj) for r in res.triples.collect()}
    want, failed_uses = expected_triples(tr.toPandas(), big)
    assert precision_recall(got, want) == (1.0, 1.0)
    assert res.failed.count() == len(failed_uses)


def test_narrow_extraction_parity(spark):
    """`extract_and_link(narrow_only=True)` must yield exactly the
    narrow-class subset (DEF/ERROR/sameAs/locals) of the full
    extraction — the pipeline resolves/quarantines/canonicalizes from
    the narrow pass while the big pass recomputes the full set, so any
    divergence silently corrupts resolution."""
    from pyspark.sql import functions as F

    from import_spark.operators.extract import extract_and_link
    from import_spark.operators.link import dcid_map_from_df
    from import_spark.plans.kg_pipeline import CLS_LOCAL, _with_cls

    tr = generate_transcripts(spark, 400).cache()
    dmap = dcid_map_from_df(dcid_dictionary(spark))

    full_narrow = (
        _with_cls(extract_and_link(tr, dmap))
        .filter(F.col("_cls") >= CLS_LOCAL)
        .drop("_cls")
    )
    narrow = _with_cls(extract_and_link(tr, dmap, narrow_only=True)).drop("_cls")
    a = {tuple(r) for r in full_narrow.collect()}
    b = {tuple(r) for r in narrow.collect()}
    assert a == b
    assert len(a) > 0


def test_all_distributed_branches_match_oracle(spark, monkeypatch):
    """Force every size-gated driver fast path to DECLINE — the
    distributed def-fixpoint (resolve_locals), the distributed CC
    kernel (large-star/small-star), and the shuffle-join canonical
    rewrite — and hold the full pipeline to the same P/R = 1.0 oracle
    gate as the default path. This is the branch combination a 100-TB
    input actually takes (the 4M-conversation probe measured 3.35M DEF
    statements against the 2M-row driver gate, so resolve ran
    distributed there): the scale path must not be a weaker-tested
    sibling of the test path."""
    import import_spark.operators.canonicalize as cz
    import import_spark.operators.resolve as rz

    monkeypatch.setattr(rz, "DRIVER_RESOLVE_MAX_DEFS", -1)
    monkeypatch.setattr(cz, "DRIVER_CC_MAX_EDGES", 0)
    monkeypatch.setattr(cz, "BROADCAST_CC_MAX_ROWS", -1)

    tr = generate_transcripts(spark, 150).cache()
    res = run_pipeline(spark, tr, dcid_dictionary(spark))
    got = {(r.subj, r.pred, r.obj_type, r.obj) for r in res.triples.collect()}
    want, failed_uses = expected_triples(tr.toPandas(), build_dcid_dictionary())
    p, r = precision_recall(got, want)
    assert (p, r) == (1.0, 1.0)
    assert res.failed.count() == len(failed_uses)
    assert res.text_digest_in == res.text_digest_out != 0


def test_cc_gate_alone_forces_distributed_branch(spark, job_ids, monkeypatch):
    """Only the sameAs edge gate declines: the WHOLE narrow side takes
    the distributed branch (never driver resolve with distributed CC)
    and still meets the oracle gate. The sameAs count that declined
    the gate also skips the driver union-find probe, so no job runs in
    ``connected_components_fast``."""
    import import_spark.operators.canonicalize as cz
    import import_spark.plans.kg_pipeline as kp

    monkeypatch.setattr(cz, "DRIVER_CC_MAX_EDGES", 0)
    probe_jobs = []
    fast = kp.connected_components_fast

    def spy(edges):
        before = job_ids()
        out = fast(edges)
        probe_jobs.append(len(job_ids() - before))
        return out

    monkeypatch.setattr(kp, "connected_components_fast", spy)
    tr = generate_transcripts(spark, 120).cache()
    res = run_pipeline(spark, tr, dcid_dictionary(spark))
    assert sum(probe_jobs) == 0, probe_jobs
    counters = {r["counter"]: r["value"] for r in res.metrics}
    assert "branch_distributed" in counters and "branch_driver" not in counters
    got = {(r.subj, r.pred, r.obj_type, r.obj) for r in res.triples.collect()}
    want, failed_uses = expected_triples(tr.toPandas(), build_dcid_dictionary())
    assert precision_recall(got, want) == (1.0, 1.0)
    assert res.failed.count() == len(failed_uses)
    assert res.text_digest_in == res.text_digest_out != 0


def _force_distributed(monkeypatch):
    """Every kg size gate declines, as in
    test_all_distributed_branches_match_oracle."""
    import import_spark.operators.canonicalize as cz
    import import_spark.operators.resolve as rz

    monkeypatch.setattr(rz, "DRIVER_RESOLVE_MAX_DEFS", -1)
    monkeypatch.setattr(cz, "DRIVER_CC_MAX_EDGES", 0)
    monkeypatch.setattr(cz, "BROADCAST_CC_MAX_ROWS", -1)


CHAIN_DEPTH = 25
CHAIN_CONV = "conv/8000000001"


def _deep_chain(spark):
    """One conversation with a 25-deep def chain (``l:E0 = geoId/06``,
    ``l:Ei = l:E(i-1)``) and a reference to its far end."""
    import datetime

    from import_spark.sources.transcripts import TRANSCRIPT_SCHEMA

    texts = ["define l:E0 = geoId/06"]
    texts += [f"define l:E{i} = l:E{i - 1}" for i in range(1, CHAIN_DEPTH)]
    texts.append(f"see l:E{CHAIN_DEPTH - 1}")
    ts = datetime.datetime(2025, 1, 1)
    return spark.createDataFrame(
        [(CHAIN_CONV, i, "user", t, "", ts) for i, t in enumerate(texts)],
        schema=TRANSCRIPT_SCHEMA,
    )


def test_deep_def_chain_resolves_on_both_engines_and_branches(spark, monkeypatch):
    """A def chain deeper than any fixed round cap resolves to its dcid
    through the driver engine, the distributed engine, and run_pipeline
    on both branches: the distributed loop stops only on a round that
    resolves nothing."""
    from pyspark.sql import functions as F

    from import_spark.operators.extract import extract_and_link
    from import_spark.operators.link import dcid_map_from_df
    from import_spark.plans.kg_pipeline import (
        CLS_ERROR,
        CLS_LOCAL,
        _with_cls,
        narrow_distributed_step,
        narrow_driver_step,
    )

    tr = _deep_chain(spark).cache()
    d = dcid_dictionary(spark)
    narrow = _with_cls(extract_and_link(tr, dcid_map_from_df(d))).filter(
        (F.col("_cls") >= CLS_LOCAL) & (F.col("_cls") != CLS_ERROR)
    )
    far = (CHAIN_CONV, f"l:E{CHAIN_DEPTH - 1}", "geoId/06")
    drv = narrow_driver_step(narrow.toPandas())
    assert len(drv.rmap) == CHAIN_DEPTH and far in set(drv.rmap.itertuples(index=False, name=None))
    assert drv.failed.empty
    dist, _, _ = narrow_distributed_step(narrow)
    assert {tuple(r) for r in dist.rmap.collect()} == set(
        drv.rmap.itertuples(index=False, name=None)
    )
    assert dist.failed.count() == 0
    assert dist.rounds == CHAIN_DEPTH  # one round per chain step, one that resolves nothing

    want, failed_uses = expected_triples(tr.toPandas(), build_dcid_dictionary())
    assert not failed_uses
    for forced in (False, True):
        if forced:
            _force_distributed(monkeypatch)
        res = run_pipeline(spark, tr, d)
        counters = {r["counter"] for r in res.metrics}
        assert f"branch_{'distributed' if forced else 'driver'}" in counters
        got = {(r.subj, r.pred, r.obj_type, r.obj) for r in res.triples.collect()}
        assert precision_recall(got, want) == (1.0, 1.0)
        assert res.failed.count() == 0
        refs = [t for t in got if t[1] == "references"]
        assert [t[2:] for t in refs] == [("RESOLVED_REF", "geoId/06")]


def test_branches_agree_exactly(spark, monkeypatch):
    """run_pipeline with the default gates (driver branch) and with
    every gate forced to decline (distributed branch) returns the same
    triples over every output column, the same failed rows in the same
    column order with the same error categories, and the same counters
    apart from the branch marker and the def-fixpoint round count."""
    from import_spark.plans.kg_pipeline import FINAL_COLS

    tr = generate_transcripts(spark, 150).unionByName(_deep_chain(spark)).cache()
    d = dcid_dictionary(spark)

    def run():
        res = run_pipeline(spark, tr, d)
        counters = {
            (r["stage"], r["counter"]): r["value"]
            for r in res.metrics
            if not r["counter"].startswith("branch_") and r["counter"] != "rounds"
        }
        branch = [r["counter"] for r in res.metrics if r["counter"].startswith("branch_")]
        return (
            branch,
            sorted(tuple(r) for r in res.triples.select(*FINAL_COLS).collect()),
            res.failed.columns,
            sorted(tuple(r) for r in res.failed.collect()),
            counters,
        )

    drv = run()
    _force_distributed(monkeypatch)
    dist = run()
    assert (drv[0], dist[0]) == (["branch_driver"], ["branch_distributed"])
    assert drv[1] == dist[1]
    assert drv[2] == dist[2] and drv[2][-1] == "error"
    assert drv[3] == dist[3] and drv[3]
    assert drv[4] == dist[4]


def test_distributed_branch_job_budget(spark, job_ids, monkeypatch):
    """The forced-distributed in-memory call (2,000 conversations, one
    triples count and one failed count after it) stays within the job
    count the former two-path pipeline ran: the distributed engine
    builds only the narrow maps, and the fat rows are read once, by the
    shared final pass."""
    _force_distributed(monkeypatch)
    tr = generate_transcripts(spark, 2000).cache()
    d = dcid_dictionary(spark)
    tr.count()
    before = job_ids()
    res = run_pipeline(spark, tr, d)
    res.triples.count()
    res.failed.count()
    jobs = len(job_ids() - before)
    assert "branch_distributed" in {r["counter"] for r in res.metrics}
    assert jobs <= 105, jobs


def test_oracle_skips_null_role(null_role_tool):
    """The oracle emits no role statement for a null role, as extract
    does: the pipeline and the oracle agree on a null-role turn."""
    tr, triples = null_role_tool
    want, _ = expected_triples(tr.toPandas(), build_dcid_dictionary())
    assert not [t for t in want if t[3] is None]
    assert precision_recall({t[:4] for t in triples}, want) == (1.0, 1.0)


@pytest.mark.parametrize("branch", ["broadcast", "salted"])
def test_link_branch_matches_oracle(spark, monkeypatch, branch):
    """Both link branches — the broadcast dictionary join and, past the
    broadcast budget, the hot-key salted shuffle — produce the exact
    oracle triple set, failed parity and the text invariant; the link
    counters name the branch and the deduped dictionary size it was
    picked on."""
    from import_spark.functions.size_gate import pandas_bytes

    if branch == "salted":
        _force_salted(monkeypatch)
    tr = generate_transcripts(spark, 120).cache()
    res = run_pipeline(spark, tr, dcid_dictionary(spark))
    got = {(r.subj, r.pred, r.obj_type, r.obj) for r in res.triples.collect()}
    want, failed_uses = expected_triples(tr.toPandas(), build_dcid_dictionary())
    assert precision_recall(got, want) == (1.0, 1.0)
    assert res.failed.count() == len(failed_uses)
    assert res.text_digest_in == res.text_digest_out != 0
    deduped = build_dcid_dictionary().sort_values("dcid").drop_duplicates(["prop", "ext_id"])
    link = {r["counter"]: r["value"] for r in res.metrics if r["stage"] == "link"}
    assert link == {
        f"strategy_{branch}": 1,
        "dict_rows": len(deduped),
        "dict_bytes": pandas_bytes(deduped),
    }


def test_link_dictionary_is_one_sized_checkpoint(spark, job_ids, monkeypatch):
    """link_dictionary dedupes (min dcid per key) and materializes the
    dictionary with its exact size observed on the checkpoint — no
    separate size job — and picks broadcast within the byte budget,
    salted past it."""
    from import_spark.functions.size_gate import pandas_bytes
    from import_spark.operators.link import link_dictionary

    d = dcid_dictionary(spark)
    before = job_ids()
    dictionary = link_dictionary(d)
    jobs = len(job_ids() - before)
    want = build_dcid_dictionary().sort_values("dcid").drop_duplicates(["prop", "ext_id"])
    assert {tuple(r) for r in dictionary.frame.collect()} == set(
        want.itertuples(index=False, name=None)
    )
    assert (dictionary.rows, dictionary.nbytes) == (len(want), pandas_bytes(want))
    assert dictionary.strategy == "broadcast"
    assert jobs <= 2, jobs  # the dedupe's shuffle stage, then the checkpoint
    _force_salted(monkeypatch)
    assert link_dictionary(d).strategy == "salted"


@pytest.fixture(scope="module")
def null_role_tool(spark):
    """Generated turns plus one valid turn with a null role AND a null
    tool (a real parquet can carry both), and the default run's triple
    set."""
    import pyspark.sql.types as T

    from import_spark.sources.transcripts import TRANSCRIPT_SCHEMA

    nullable = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in TRANSCRIPT_SCHEMA.fields]
    )
    extra = spark.createDataFrame(
        [("conv/7000000003", 0, None, "we looked at iso:US define l:E1 = nuts:DE1", None, None)],
        schema=nullable,
    )
    tr = generate_transcripts(spark, 20).unionByName(extra).cache()
    res = run_pipeline(spark, tr, dcid_dictionary(spark))
    return tr, {tuple(r) for r in res.triples.collect()}


@pytest.mark.parametrize("branch", ["broadcast", "salted"])
def test_null_role_and_tool_bear_no_null_statement(spark, null_role_tool, monkeypatch, branch):
    """A null role / null tool skips that property's statement on both
    link branches (statement_bearing's null policy): no triple with a
    null obj, and the salted branch returns the default triples."""
    tr, default = null_role_tool
    if branch == "salted":
        _force_salted(monkeypatch)
    res = run_pipeline(spark, tr, dcid_dictionary(spark))
    got = {tuple(r) for r in res.triples.collect()}
    assert f"strategy_{branch}" in {r["counter"] for r in res.metrics}
    assert not [t for t in got if t[3] is None]
    row = {t[1] for t in got if t[4] == "conv/7000000003"}
    assert {"typeOf", "mentions"} <= row and not row & {"role", "toolUsed"}
    assert got == default


def test_adversarial_inputs_null_policy_and_idempotence(spark):
    """Nulls a real parquet CAN carry (the generator schema is
    non-nullable, arbitrary input is not): rows missing conv_id /
    turn_idx / text bear no statements; a null role on a valid row
    skips only the role statement; NO emitted triple carries a null
    field (unserializable in the MCF sink); byte-identical duplicate
    rows are output-idempotent; the text invariant still holds."""
    import pyspark.sql.types as T
    from pyspark.sql import functions as F

    from import_spark.sources.transcripts import TRANSCRIPT_SCHEMA

    tr = generate_transcripts(spark, 30)
    nullable = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in TRANSCRIPT_SCHEMA.fields]
    )
    extra = spark.createDataFrame(
        [
            ("conv/7000000001", 0, None, 'note "nullrole"', None, None),
            ("conv/7000000002", 0, "user", None, None, None),  # null text
            (None, 5, "user", "metric is 7", None, None),  # null conv_id
        ],
        schema=nullable,
    )
    adv = tr.unionByName(extra).unionByName(tr.limit(3))
    d = dcid_dictionary(spark)
    res = run_pipeline(spark, adv, d)
    t = res.triples.cache()
    assert (
        t.filter(
            F.col("subj").isNull()
            | F.col("pred").isNull()
            | F.col("obj_type").isNull()
            | F.col("obj").isNull()
        ).count()
        == 0
    )
    # null role: the row still bears its other statements, minus role
    row_t = t.filter(F.col("conv_id") == "conv/7000000001")
    preds = {r["pred"] for r in row_t.collect()}
    assert "says" in preds and "typeOf" in preds and "role" not in preds
    # null text / null conv_id rows bear nothing
    assert t.filter(F.col("conv_id") == "conv/7000000002").count() == 0
    assert t.filter(F.col("conv_id").isNull()).count() == 0
    assert res.text_digest_in == res.text_digest_out
    # byte-identical duplicates change nothing
    res2 = run_pipeline(spark, adv.dropDuplicates(), d)
    a = {tuple(r) for r in t.collect()}
    b = {tuple(r) for r in res2.triples.collect()}
    assert a == b
    t.unpersist()
