"""Seeded, oracle-checked benchmark of the import plans on local[4].

    python3 perfbench/run.py --workload kg_mem --seed 1 --seconds 10 --trace 0

Run from the repository root. One process, one Spark session, one
client: a closed loop that starts the next call only when the previous
one has returned. The last stdout line is one JSON object with keys
``correct``, ``attempted``, ``failed`` and ``metrics``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones of a staged run. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
WARMUPS = 1  # untimed calls before the timed loop (codegen, JIT, Python workers)


def declared(kind: str) -> dict[str, str]:
    """name → unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares; a result carries exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


T0 = time.time()


def log(tag: str, payload) -> None:
    print(f"[perfbench] {time.time()-T0:.2f} {tag} {json.dumps(payload, sort_keys=True)}", flush=True)


def drain_session_state(spark) -> int:
    """Release cached relations and orphaned checkpoint blocks; return
    how many RDDs are still persisted (0 before every timed call)."""
    spark.catalog.clearCache()
    gc.collect()
    for rdd in dict(spark.sparkContext._jsc.getPersistentRDDs()).values():
        rdd.unpersist()
    return len(dict(spark.sparkContext._jsc.getPersistentRDDs()))


def host_calibration() -> dict:
    """Spin and STREAM ceilings at 1 and 4 cores (context only, never
    compared). A 1->4-core spin ratio below 0.9 marks a taxed host."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from scaling_bench import run_calibration

    c1, c4 = run_calibration(1, reps=1), run_calibration(CORES, reps=1)
    spin = c4["ops_per_sec"] / (CORES * c1["ops_per_sec"]) if c1["ops_per_sec"] else 0.0
    return {"1c": c1, f"{CORES}c": c4, "spin_scaling": round(spin, 3), "host_taxed": spin < 0.9}


def start_spark(work: str):
    from import_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the timed loop reads every stage back from the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.showConsoleProgress": "false",
    }
    spark = get_spark("perfbench", cores=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """End the JVM and its Python workers and wait for each to exit.

    Every result has been read by now and the work directory is deleted
    afterwards, so the JVM's orderly shutdown (about 2.5 s on a 4-core VM) buys
    nothing; it is killed instead."""
    from pyspark import SparkContext

    from spark_metrics import alive, descendants

    # the driver's accumulator server would report the JVM's death
    spark.sparkContext._accumulatorServer.shutdown()
    proc = SparkContext._gateway.proc
    pids = descendants(proc.pid)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait(timeout=60)
    deadline = time.time() + 20
    for p in pids:
        while alive(p) and time.time() < deadline:
            time.sleep(0.05)


class Bench:
    def __init__(self, args, work: str, cache: str):
        from workloads import WORKLOADS

        self.args, self.work, self.cache = args, work, cache
        self.wl = WORKLOADS[args.workload]()
        self.attempted = self.failed = 0
        self.correct = True
        self._n_out = 0

    def fresh_out(self) -> str | None:
        if not self.wl.writes:
            return None
        self._n_out += 1
        return os.path.join(self.work, "out", str(self._n_out))

    def _call_checked(self, timed: bool):
        """One end-to-end call on a drained session → (seconds, stages,
        digest) or None when it raised or a timed call failed its
        output check."""
        retained = drain_session_state(self.spark)
        if retained:
            raise RuntimeError(f"{retained} RDDs still persisted before a timed call")
        out = self.fresh_out()
        if timed:
            self.reader.new_stages()
        ok, digest, dt, stages = False, None, 0.0, []
        try:
            t0 = time.perf_counter()
            res = self.wl.run(out)
            dt = time.perf_counter() - t0
            if timed:
                stages = self.reader.new_stages()
                ok, digest = self.wl.check(res, out)
            else:
                ok = True  # the warm-up's output is not checked; every timed one is
        except Exception:
            traceback.print_exc()
        if out:
            shutil.rmtree(out, ignore_errors=True)
        if not ok:
            self.correct = False
        return (dt, stages, digest) if ok else None

    def setup(self) -> dict:
        """Start the session while a thread stages the seeded input and
        then loads the oracle; neither touches Spark. ``setup_s`` ends
        when both the session and the input are ready."""
        path = os.path.join(self.work, "input")

        def stage():
            t = time.perf_counter()
            props = self.wl.stage(self.args.seed, path)
            return props, time.perf_counter() - t

        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=1) as pool:
            staged = pool.submit(stage)
            oracle = pool.submit(self.wl.load_oracle, self.cache)  # after stage
            self.spark = start_spark(self.work)
            session_s = time.perf_counter() - t0
            inputs, stage_s = staged.result()
            setup_s = time.perf_counter() - t0
            t = time.perf_counter()
            inputs.update(oracle.result())  # not part of setup_s
            oracle_wait_s = time.perf_counter() - t
        self.wl.open(self.spark)
        log("inputs", inputs)
        from spark_metrics import StatusReader

        self.reader = StatusReader(self.spark)
        t = time.perf_counter()
        for _ in range(WARMUPS):
            self._call_checked(timed=False)
        warm_s = time.perf_counter() - t
        setup = {"session_s": session_s, "stage_s": stage_s, "warmup_s": warm_s,
                 "setup_s": setup_s + warm_s, "oracle_wait_s": oracle_wait_s}
        log("setup", setup)
        return setup

    def timed_loop(self, seconds: float) -> dict:
        from spark_metrics import PeakRss

        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        walls, cores, shuffles, self.digest = [], [], [], None
        deadline = time.perf_counter() + seconds
        with PeakRss(jvm_pid) as rss:
            while self.attempted < self.wl.min_calls or time.perf_counter() < deadline:
                self.attempted += 1
                r = self._call_checked(timed=True)
                if r is None:
                    self.failed += 1
                    continue
                dt, stages, digest = r
                if self.digest is not None and digest != self.digest:
                    self.correct = False
                self.digest = digest
                walls.append(dt)
                cores.append(sum(s["run_s"] for s in stages))
                shuffles.append(sum(s["shuffle_bytes"] for s in stages))
        log("samples", {"wall_s": walls, "core_s": cores, "shuffle_bytes": shuffles})
        if not walls:
            return {}
        wall = statistics.median(walls)
        return {
            "wall_s": wall,
            "rows_per_s": self.wl.rows / wall,
            "triples_per_s": self.wl.triples / wall,
            "core_s": statistics.median(cores),
            "shuffle_bytes": statistics.median(shuffles),
            "peak_rss_mb": rss.peak_mib,
        }

    def traced(self, seconds: float, e2e_wall: float) -> tuple[dict, list]:
        """Staged passes until ``seconds`` are used (at least one); the
        per-layer medians over passes, and every pass's spans."""
        from spark_metrics import Tracer

        passes, spans = [], []
        deadline = time.perf_counter() + seconds
        while not passes or time.perf_counter() < deadline:
            self.attempted += 1
            drain_session_state(self.spark)
            out = self.fresh_out()
            tracer = Tracer()
            self.reader.new_stages()
            self.reader.new_jobs()
            try:
                digest, ratios = self.wl.staged(tracer, out)
            except Exception:
                traceback.print_exc()
                self.failed += 1
                self.correct = False
                break
            finally:
                if out:
                    shutil.rmtree(out, ignore_errors=True)
            if digest != self.digest:
                log("staged_digest_mismatch", {"staged": digest, "e2e": self.digest})
                self.failed += 1
                self.correct = False
            per = tracer.attribute(self.reader.new_jobs(), self.reader.new_stages())
            flat = {f"{ly}.{k}": v for ly, d in per.items() for k, v in d.items()}
            flat.update(ratios)
            flat["staging_gap_s"] = sum(d["wall_s"] for d in per.values()) - e2e_wall
            passes.append(flat)
            spans.append(tracer.spans)
        # the result must carry every declared per-layer metric; one of a
        # layer this workload does not call reads 0 (listed in the log)
        out, absent = {}, set()
        for name, unit in declared("per_layer").items():
            vals = [p[name] for p in passes if name in p]
            if not vals:
                absent.add(name.rsplit(".", 1)[0])
            out[name] = {"value": statistics.median(vals) if vals else 0.0, "unit": unit}
        log("layers_not_run", sorted(absent))
        return out, spans

    def run(self) -> dict:
        a = self.args
        calib = {"before": host_calibration()} if a.trace else {}
        try:
            setup = self.setup()
            if not a.trace:
                e2e = self.timed_loop(a.seconds)
                e2e["setup_s"] = setup["setup_s"]
                metrics = {k: {"value": e2e.get(k, 0.0), "unit": u}
                           for k, u in declared("end_to_end").items()}
            else:
                e2e = self.timed_loop(a.seconds / 2)
                metrics, spans = self.traced(a.seconds / 2, e2e.get("wall_s", 0.0))
        finally:
            if hasattr(self, "spark"):
                t = time.perf_counter()
                stop_spark(self.spark)
                log("stop", {"stop_s": time.perf_counter() - t})
        if a.trace:
            calib["after"] = host_calibration()
            log("host_calibration", calib)
            path = os.path.join(os.path.dirname(self.cache), f"trace-{a.workload}-{a.seed}.json")
            with open(path, "w") as f:
                json.dump({"workload": a.workload, "seed": a.seed, "e2e": e2e, "spans": spans,
                           "metrics": metrics, "host_calibration": calib}, f, indent=1)
        return {"correct": self.correct and self.failed == 0, "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics}


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    if not os.path.isdir(os.path.join(ROOT, "import_spark")):
        print(f"perfbench: no import_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers import the library too, from whatever directory they start in
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    cache = os.path.join(base, "cache")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(cache, exist_ok=True)
    # keep every temp file, shuffle block and worker file inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    # A heap sized to the workloads: peak RSS then tracks memory in use,
    # not how far G1 happened to grow a 16g heap (measured: 1.5-2.0 GiB
    # JVM RSS across seeds at 3g, 1.23-1.32 GiB at 1g, same wall time).
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    import tempfile

    tempfile.tempdir = None
    try:
        result = Bench(args, work, cache).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log("end", {})
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
