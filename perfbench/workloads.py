"""The benchmark workloads: seeded input staging, the end-to-end
call through the public plan entry point, the output check against an
independent oracle, and a staged run that calls each layer's public
function in plan order under a tracer span.

Each workload object is used in this order by ``run.py``:
``stage`` and ``load_oracle`` (pandas/DuckDB only, on a thread beside
the session start) → ``open`` → ``run``/``check`` (the timed calls)
→ ``staged``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

# Input sizes, fixed per workload (see README.md for the sizing runs).
KG_CONVS = 2_000
GENMCF_ROWS = 2_000
LINT_EVENTS = 5_000
# Observation rows are keyed over a fixed pool of places.
N_PLACES = 1_500
# Files per staged table: Spark packs them into one scan partition per core.
N_FILES = 8

# The reference props run_lint's existence pass checks against the local graph.
LOCAL_EXISTENCE_PROPS = [
    "containedIn", "containedInPlace", "location", "memberOf",
    "observationAbout", "observedNode", "variableMeasured",
]

TRIPLE_COLS = ["subj", "pred", "obj_type", "obj"]
NODE_COLS = ["node_id", "prop", "value_type", "value"]


def _digest(df, cols) -> list:
    """Order-independent (row count, xor of row hashes) of ``df``."""
    row = df.select(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*cols))).first()
    return [int(row[0]), int(row[1] or 0)]


def _code_key(*modules) -> str:
    """Cache key part that changes when any oracle/generator source does."""
    h = hashlib.sha1()
    for m in modules:
        with open(m.__file__, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _rollup(errors) -> list:
    return sorted(
        tuple(r)
        for r in errors.groupBy("level", "counter").agg(F.count("*").alias("n")).collect()
    )


def _hash(seed: int, salt: int, ids: np.ndarray, mod: int) -> np.ndarray:
    """splitmix64 of (seed, salt, id), reduced to [0, mod)."""
    from import_spark.sources.transcripts import _mix

    key = ids.astype(np.uint64) + np.uint64(seed) * np.uint64(1 << 32)
    return (_mix(key, salt) % np.uint64(mod)).astype(np.int64)


def _write_parquet(pdf: pd.DataFrame, path: str) -> None:
    """``pdf`` as N_FILES zstd parquet files under the directory ``path``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    for i, part in enumerate(np.array_split(np.arange(len(pdf)), N_FILES)):
        table = pa.Table.from_pandas(pdf.iloc[part], preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"),
                       compression="zstd", coerce_timestamps="us")


# --------------------------------------------------------------------------
# kg: run_pipeline, in memory, over a staged transcript table
# --------------------------------------------------------------------------


class KgWorkload:
    writes = False
    min_calls = 2  # timed calls per run: one kg call's wall alone spread 26% over seeds

    def stage(self, seed: int, path: str) -> dict:
        """Transcripts for conversation ids [seed*n, seed*n+n), built with
        the library generator's own per-row content function."""
        from import_spark.sources.transcripts import _gen_batch

        self.seed, self.path = seed, path
        lo = seed * KG_CONVS
        ids = pd.DataFrame({"id": np.arange(lo, lo + KG_CONVS, dtype=np.int64)})
        pdf = pd.concat(_gen_batch(iter([ids]), 9), ignore_index=True)
        # the instants Spark's own writer stores for a UTC session
        pdf["ts"] = pdf["ts"].dt.tz_localize("UTC")
        _write_parquet(pdf, path)
        self.pdf, self.rows = pdf, len(pdf)
        mentions = int(pdf["text"].str.contains("we looked at ", regex=False).sum())
        hot = int(pdf["text"].str.contains("we looked at iso:US ", regex=False).sum())
        return {"turns": self.rows, "mentions": mentions,
                "hot_mention_share": round(hot / max(mentions, 1), 4)}

    def load_oracle(self, cache: str) -> dict:
        """Oracle triples of the staged table, cached as parquet per
        (seed, size, oracle and generator source)."""
        from import_spark import oracle
        from import_spark.sources import transcripts

        key = f"kg-{self.seed}-{KG_CONVS}-{_code_key(oracle, transcripts)}"
        d = os.path.join(cache, key)
        meta = os.path.join(d, "meta.json")
        if not os.path.exists(meta):
            want, failed = oracle.expected_triples(self.pdf, transcripts.build_dcid_dictionary())
            tmp = d + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            pd.DataFrame(sorted(want), columns=TRIPLE_COLS).to_parquet(
                os.path.join(tmp, "triples.parquet"), index=False
            )
            with open(os.path.join(tmp, "meta.json"), "w") as f:
                json.dump({"failed": len(failed), "triples": len(want)}, f)
            shutil.rmtree(d, ignore_errors=True)
            os.replace(tmp, d)
        del self.pdf
        with open(meta) as f:
            m = json.load(f)
        self.want_failed, self.triples = m["failed"], m["triples"]
        self.want_path = os.path.join(d, "triples.parquet")
        return {"statements": self.triples, "failed_refs": self.want_failed}

    def open(self, spark) -> None:
        from import_spark.sources.transcripts import dcid_dictionary

        self.spark = spark
        self.tr = spark.read.parquet(self.path)
        self.dict_df = dcid_dictionary(spark)
        self.want = None

    def run(self, out_dir: str | None):
        from import_spark.plans.kg_pipeline import run_pipeline

        return run_pipeline(self.spark, self.tr, self.dict_df)

    def check(self, res, out_dir: str | None) -> tuple[bool, list]:
        from import_spark.plans.kg_pipeline import text_digest

        first = self.want is None
        if first:
            self.want = self.spark.read.parquet(self.want_path)
            self.want_digest = _digest(self.want, TRIPLE_COLS)
            self.text_digest = text_digest(self.tr)
        got = _digest(res.triples, TRIPLE_COLS)
        ok = (
            got == self.want_digest
            and res.failed.count() == self.want_failed
            and res.text_digest_in == res.text_digest_out == self.text_digest
        )
        if ok and first:
            # P = R = 1.0 exactly: equal sizes and nothing outside the oracle
            ok = res.triples.select(*TRIPLE_COLS).subtract(self.want).isEmpty()
        return ok, got

    def staged(self, tracer, out_dir: str | None) -> tuple[list, dict]:
        """run_pipeline's in-memory driver fast path, one forced layer at
        a time."""
        from pyspark.sql import functions as F

        from import_spark.functions.size_gate import BROADCAST_BUDGET_BYTES, fits_bytes
        from import_spark.operators.canonicalize import (
            BROADCAST_CC_MAX_ROWS,
            canonicalize_triples,
            connected_components,
            connected_components_fast,
        )
        from import_spark.operators.extract import extract_and_link
        from import_spark.operators.link import dcid_map_from_df
        from import_spark.operators.merge import dedupe_triples
        from import_spark.operators.resolve import resolve_defs_fast
        from import_spark.plans.kg_pipeline import (
            CLS_DEF,
            CLS_LOCAL,
            CLS_SAMEAS,
            CLS_TRIPLE,
            FINAL_COLS,
            _with_cls,
            text_digest,
        )

        L = tracer.layer
        cls = F.col("_cls")
        is_local = F.col("obj_type") == "UNRESOLVED_REF"
        held = []

        def hold(df):
            held.append(df.persist())
            return held[-1]

        with L("transcripts"):
            text_digest(self.tr)
        with L("extract"):
            linked = hold(_with_cls(extract_and_link(self.tr, dcid_map_from_df(self.dict_df))))
            counts = {r["_cls"]: r["count"] for r in linked.groupBy("_cls").count().collect()}
        total = sum(counts.values())
        narrow = linked.filter(cls >= CLS_LOCAL)
        with L("resolve"):
            maps = resolve_defs_fast(
                narrow.filter(cls == CLS_DEF).drop("_cls"), approx_defs=counts.get(CLS_DEF, 0)
            )
            if maps is None:
                raise RuntimeError("def table above the driver gate: not the traced path")
            rmap = maps.rmap.select("conv_id", F.col("obj").alias("_lk"), F.col("dcid").alias("_dc"))
            locs = narrow.filter(cls.isin(CLS_LOCAL, CLS_SAMEAS)).drop("_cls").filter(is_local)
            failed = hold(
                locs.join(maps.rmap.withColumnRenamed("dcid", "_dc"), ["conv_id", "obj"], "left")
                .filter(F.col("_dc").isNull())
                .drop("_dc")
                .join(maps.divergent.withColumn("err", F.lit("Resolution_DivergingDcids")), ["conv_id", "obj"], "left")
                .join(maps.unresolved.withColumn("err2", F.lit("Resolution_IrreplaceableLocalRef")), ["conv_id", "obj"], "left")
                .withColumn("error", F.coalesce(F.col("err"), F.col("err2"), F.lit("Resolution_OrphanLocalReference")))
                .drop("err", "err2")
            )
            n_failed, n_local = failed.count(), locs.count()
            resolved = hold(
                linked.filter(cls <= CLS_SAMEAS).drop("_cls")
                .withColumn("_lk", F.when(is_local, F.col("obj")))
                .join(rmap, ["conv_id", "_lk"], "left")
                .filter(~(is_local & F.col("_dc").isNull()))
                .withColumn("obj", F.coalesce(F.col("_dc"), F.col("obj")))
                .withColumn("obj_type", F.when(is_local, F.lit("RESOLVED_REF")).otherwise(F.col("obj_type")))
                .drop("_dc", "_lk")
            )
            resolved.count()
        with L("canonicalize"):
            edges = (
                narrow.filter(cls == CLS_SAMEAS).drop("_cls")
                .withColumn("_lk", F.when(is_local, F.col("obj")))
                .join(rmap, ["conv_id", "_lk"], "left")
                .filter(~(is_local & F.col("_dc").isNull()))
                .select(F.col("subj").alias("src"), F.coalesce(F.col("_dc"), F.col("obj")).alias("dst"))
            )
            comps = connected_components_fast(edges)
            if comps is None:
                comps = connected_components(edges).localCheckpoint()
            n_comp = comps.count()
            canon = hold(
                canonicalize_triples(
                    resolved, comps,
                    broadcast_map=n_comp <= BROADCAST_CC_MAX_ROWS
                    and fits_bytes(comps, n_comp, BROADCAST_BUDGET_BYTES),
                ).select(*FINAL_COLS)
            )
            n_in = canon.count()
        with L("merge"):
            final = hold(dedupe_triples(canon))
            n_out = final.count()
            failed.groupBy("error").count().collect()
        digest = _digest(final, TRIPLE_COLS)
        for df in held:
            df.unpersist()
        ratios = {
            "extract.narrow_frac": (total - counts.get(CLS_TRIPLE, 0)) / total,
            "resolve.resolved_frac": (n_local - n_failed) / max(n_local, 1),
            "merge.dedup_frac": n_out / n_in,
        }
        return digest, ratios


# --------------------------------------------------------------------------
# genmcf: run_genmcf over a staged observation CSV table
# --------------------------------------------------------------------------


class GenmcfWorkload:
    """The genmcf half of ``mcf_obs``."""

    def stage(self, seed: int, path: str) -> dict:
        """Observation CSV rows: place from a fixed pool, a date within
        two years, a value with two decimals — every row valid."""
        ids = np.arange(GENMCF_ROWS, dtype=np.int64)
        days = _hash(seed, 1, ids, 730).astype("timedelta64[D]")
        place = _hash(seed, 3, ids, N_PLACES)
        pdf = pd.DataFrame({
            "date": np.datetime_as_string(np.datetime64("2020-01-01") + days, unit="D"),
            "val": [f"{v / 100:.2f}" for v in _hash(seed, 2, ids, 1_000_000)],
            "place": [f"user/{p}" for p in place],
            "rid": ids,
        })
        _write_parquet(pdf, path)
        self.path, self.rows = path, len(pdf)
        return {"csv_rows": self.rows, "distinct_places": len(np.unique(place))}

    def load_oracle(self, cache: str) -> dict:
        import duckdb

        from import_spark.queries import SQL_GENMCF

        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{self.path}/*.parquet')")
            self.want = sorted((p, int(n)) for p, n in con.execute(SQL_GENMCF).fetchall())
        finally:
            con.close()
        self.triples = sum(n for _, n in self.want)
        return {"statements": self.triples}

    def open(self, spark) -> None:
        self.spark = spark
        self.csv = spark.read.parquet(self.path)

    def run(self, out_dir: str | None):
        from import_spark.plans.genmcf import run_genmcf
        from import_spark.queries import _GENMCF_TMCF

        return run_genmcf(self.spark, _GENMCF_TMCF, self.csv, row_id_col="rid", out_dir=out_dir)

    def check(self, res, out_dir: str | None) -> tuple[bool, list]:
        nodes = res.nodes
        got = sorted((r["prop"], int(r["n"])) for r in nodes.groupBy("prop").agg(F.count("*").alias("n")).collect())
        ok = got == self.want and os.path.exists(os.path.join(out_dir, "report.json"))
        return ok, _digest(nodes, NODE_COLS)

    def staged(self, tracer, out_dir: str | None) -> tuple[list, dict]:
        """run_genmcf (CSV input, no recon table), one forced layer at a time."""
        from import_spark.operators.link import local_graph_dictionary
        from import_spark.operators.mcf_checker import check_nodes, failed_node_ids
        from import_spark.operators.mcf_mutator import mutate_nodes
        from import_spark.operators.mcf_resolver import resolve_graph
        from import_spark.queries import _GENMCF_TMCF
        from import_spark.report import build_report, write_report
        from import_spark.sources.mcf import write_mcf
        from import_spark.sources.tmcf import expand_template

        spark, L = self.spark, tracer.layer
        cols4 = ["node_id", "level", "counter", "message"]
        with L("tmcf"):
            stmts = expand_template(
                self.csv, _GENMCF_TMCF, row_id_col="rid",
                min_partitions=spark.sparkContext.defaultParallelism,
            ).localCheckpoint()
        with L("mcf_checker"):
            parse_errors = check_nodes(stmts).localCheckpoint()
            stmts = (
                stmts.join(parse_errors.select("node_id").distinct(), "node_id", "left_anti")
                .withColumn("_pre_checked", F.lit(True))
                .localCheckpoint()
            )
        with L("mcf_mutator"):
            mutated_t, mut_errors = mutate_nodes(stmts)
            mutated_t = mutated_t.localCheckpoint()
            mut_errors = mut_errors.localCheckpoint()
            mutated = mutated_t.drop("_touched")
        with L("mcf_checker"):
            check_errors = check_nodes(mutated_t.filter(F.col("_touched")).drop("_touched")).localCheckpoint()
        with L("mcf_resolver"):
            res = resolve_graph(
                mutated, dcid_dict=local_graph_dictionary(mutated) or None, input_materialized=True
            )
            res.resolved.count()
        with L("sinks"):
            post_errors = (
                mut_errors.withColumn("level", F.lit("LEVEL_ERROR")).select(*cols4)
                .unionByName(check_errors.select(*cols4))
                .unionByName(res.errors.withColumn("level", F.lit("LEVEL_ERROR")).select(*cols4))
            ).localCheckpoint()
            errors = post_errors.unionByName(parse_errors.select(*cols4))
            n_nodes = mutated.select("node_id").distinct().count()
            n_bad = failed_node_ids(post_errors).count()
            report = build_report(errors, info_counters={
                "NumNodeSuccesses": n_nodes - n_bad, "NumNodesProcessed": n_nodes,
            })
            write_mcf(res.resolved, os.path.join(out_dir, "table_mcf_nodes"))
            write_mcf(
                res.failed.select([c for c in res.failed.columns if c != "error"]),
                os.path.join(out_dir, "failed_table_mcf_nodes"),
            )
            write_report(report, out_dir)
        return _digest(res.resolved, NODE_COLS), {"mcf_resolver.rounds": res.rounds}


# --------------------------------------------------------------------------
# lint: run_lint over a staged events table
# --------------------------------------------------------------------------


class LintWorkload:
    """The lint half of ``mcf_obs``."""

    def stage(self, seed: int, path: str) -> dict:
        """An events table, the shape SQL_LINT reads; the program turns
        it into long-form observation nodes with the function the
        ``lint_report`` query uses. ~20% 'click' events omit
        variableMeasured; ~5% negative values carry an invalid date.
        Times sit near noon UTC so no time-zone reading moves a date."""
        ids = np.arange(LINT_EVENTS, dtype=np.int64)
        kinds = np.array(["click", "click", "view", "view", "view",
                          "view", "purchase", "purchase", "share", "signup"], dtype=object)
        secs = (1_577_836_800 + _hash(seed, 1, ids, 365) * 86_400
                + 39_600 + _hash(seed, 5, ids, 3_600))
        pdf = pd.DataFrame({
            "event_id": ids,
            "user_id": _hash(seed, 3, ids, N_PLACES),
            "event_type": kinds[_hash(seed, 4, ids, 10)],
            "value": (_hash(seed, 2, ids, 200_000) - 10_000) / 100.0,
            "ts": pd.to_datetime(secs, unit="s", utc=True),
        })
        _write_parquet(pdf, os.path.join(path, "events.parquet"))
        self.path, self.rows = path, len(pdf)
        self.triples = 4 * self.rows + int((pdf["event_type"] != "click").sum())
        return {"nodes": self.rows, "statements": self.triples,
                "distinct_places": int(pdf["user_id"].nunique())}

    def load_oracle(self, cache: str) -> dict:
        import duckdb

        from import_spark.queries import SQL_LINT

        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW events AS SELECT * FROM read_parquet('{self.path}/events.parquet/*.parquet')"
            )
            self.want = sorted((lv, c, int(n)) for lv, c, n in con.execute(SQL_LINT).fetchall())
        finally:
            con.close()
        return {"sanity_existence_counters": len(self.want)}

    def open(self, spark) -> None:
        from import_spark.queries import _event_nodes

        self.spark = spark
        self.nodes = _event_nodes(spark, self.path)

    def run(self, out_dir: str | None):
        from import_spark.plans.lint import run_lint

        return run_lint(self.spark, self.nodes)

    def check(self, res, out_dir: str | None) -> tuple[bool, list]:
        full = _rollup(res.errors)
        got = [r for r in full if r[1].startswith(("Sanity_", "Existence_"))]
        return got == self.want, full

    def staged(self, tracer, out_dir: str | None) -> tuple[list, dict]:
        """run_lint, one forced layer at a time: the checker and the four
        StatChecker passes under their own spans; widening, the svobs
        aggregate, value conflicts, existence and the tail under ``lint``."""
        from pyspark.sql import Window

        from import_spark.operators.mcf_checker import (
            check_nodes,
            failed_node_ids,
            statvar_collisions,
        )
        from import_spark.operators.skew import widen_narrow_input
        from import_spark.operators.stats import (
            date_granularity_issues,
            max_fluctuation_per_series,
            sigma_outliers,
            value_inconsistencies,
        )
        from import_spark.plans.lint import FACET_PROPS, _svobs_table
        from import_spark.report import build_report

        L = tracer.layer
        cols4 = ["node_id", "level", "counter", "message"]
        numeric = F.col("value_str").rlike(r"\A-?\d+(\.\d+)?([eE][+-]?\d+)?\z")
        key = ["entity", "variable", *FACET_PROPS]
        with L("lint"):
            nodes = widen_narrow_input(self.nodes).localCheckpoint()
        with L("mcf_checker"):
            sanity = (
                check_nodes(nodes).select(*cols4).unionByName(statvar_collisions(nodes))
            ).localCheckpoint()
        with L("lint"):
            svobs = _svobs_table(nodes).localCheckpoint()
            num = svobs.filter(numeric)
            first_val = Window.partitionBy(*key, "date").orderBy("node_id")
            dup = (
                num.withColumn("_fv", F.col("value_str").cast("float"))
                .withColumn("_first", F.first("_fv").over(first_val))
                .filter(F.col("_fv") != F.col("_first"))
                .select(
                    "node_id",
                    F.lit("LEVEL_ERROR").alias("level"),
                    F.lit("Sanity_InconsistentSvObsValues").alias("counter"),
                    F.concat(
                        F.lit("Found conflicting values for the same observation :: node: '"),
                        F.col("node_id"), F.lit("'"),
                    ).alias("message"),
                )
            ).localCheckpoint()
            pts = (
                num.select("node_id", *key, "date", F.col("value_str").cast("double").alias("value"))
                .dropDuplicates([*key, "date", "value"])
                .localCheckpoint()
            )
        with L("stats"):
            warns = None
            for fn in (sigma_outliers, max_fluctuation_per_series,
                       date_granularity_issues, value_inconsistencies):
                part = fn(pts, series_key=key).select(*key, "check")
                warns = part if warns is None else warns.unionByName(part)
            warns = warns.localCheckpoint()
        with L("lint"):
            refs = (
                nodes.filter(
                    (F.col("value_type") == "RESOLVED_REF")
                    & F.col("prop").isin(*LOCAL_EXISTENCE_PROPS)
                )
                .select("node_id", F.col("value").alias("ref"), "prop")
                .dropDuplicates(["node_id", "ref", "prop"])
                .localCheckpoint()
            )
            refs.count()
            subjects = nodes.select(F.col("node_id").alias("ref")).unionByName(
                nodes.filter(F.col("prop") == "dcid").select(F.col("value").alias("ref"))
            )
            missing = refs.join(F.broadcast(subjects.dropDuplicates(["ref"])), "ref", "left_anti")
            errors = (
                sanity.unionByName(dup)
                .unionByName(warns.select(
                    F.concat_ws("/", "entity", "variable").alias("node_id"),
                    F.lit("LEVEL_WARNING").alias("level"),
                    F.col("check").alias("counter"),
                    F.concat(
                        F.lit("Stats check failed :: series: '"),
                        F.concat_ws("/", "entity", "variable"), F.lit("'"),
                    ).alias("message"),
                ))
                .unionByName(missing.select(
                    "node_id",
                    F.lit("LEVEL_WARNING").alias("level"),
                    F.concat(F.lit("Existence_MissingReference_"), F.col("prop")).alias("counter"),
                    F.concat(
                        F.lit("Failed reference existence check :: ref: '"),
                        F.col("ref"), F.lit("', property: '"), F.col("prop"),
                        F.lit("', node: '"), F.col("node_id"), F.lit("'"),
                    ).alias("message"),
                ))
            ).localCheckpoint()
            nodes.select("node_id").distinct().count()
            failed_node_ids(errors.filter(F.col("counter") != "Sanity_InconsistentSvObsValues")).count()
            build_report(errors)
        return _rollup(errors), {}


# --------------------------------------------------------------------------
# mcf_obs: the observation import path, genmcf then lint
# --------------------------------------------------------------------------


class McfObsWorkload:
    """run_genmcf over observation CSV rows, then run_lint over
    observation nodes: both MCF plans in one call, so one session
    warm-up serves both."""

    writes = True
    min_calls = 1  # a second call would not fit the run budget

    def __init__(self):
        self.g, self.l = GenmcfWorkload(), LintWorkload()

    def stage(self, seed: int, path: str) -> dict:
        g = self.g.stage(seed, os.path.join(path, "genmcf"))
        l = self.l.stage(seed, os.path.join(path, "lint"))
        self.rows = self.g.rows + self.l.rows
        return {"genmcf": g, "lint": l}

    def load_oracle(self, cache: str) -> dict:
        g, l = self.g.load_oracle(cache), self.l.load_oracle(cache)
        self.triples = self.g.triples + self.l.triples
        return {"genmcf_oracle": g, "lint_oracle": l}

    def open(self, spark) -> None:
        self.g.open(spark)
        self.l.open(spark)

    def run(self, out_dir: str | None):
        return self.g.run(out_dir), self.l.run(None)

    def check(self, res, out_dir: str | None) -> tuple[bool, list]:
        ok_g, d_g = self.g.check(res[0], out_dir)
        ok_l, d_l = self.l.check(res[1], None)
        return ok_g and ok_l, [d_g, d_l]

    def staged(self, tracer, out_dir: str | None) -> tuple[list, dict]:
        d_g, r_g = self.g.staged(tracer, out_dir)
        d_l, r_l = self.l.staged(tracer, None)
        return [d_g, d_l], {**r_g, **r_l}


WORKLOADS = {
    "kg_mem": KgWorkload,
    "mcf_obs": McfObsWorkload,
}
