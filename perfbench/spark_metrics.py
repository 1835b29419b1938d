"""Spark job/stage metrics read in-process, plus process-tree RSS.

Everything here reads the driver's AppStatusStore through py4j. The
store is fed by the listener bus even with ``spark.ui.enabled=false``,
so no UI server or REST call is involved.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYER_FIELDS = (
    ("wall_s", "s"),
    ("cpu_s", "s"),
    ("py_s", "s"),
    ("shuffle_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("jobs", "count"),
    ("gap_s", "s"),
    ("failed_tasks", "count"),
)


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


class StatusReader:
    """Incremental reader of finished jobs and stages.

    Each ``new_*`` call returns only what finished since the previous
    call, so a caller reads once after every unit of work."""

    def __init__(self, spark):
        self._gw = spark.sparkContext._gateway
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._stage_cursor = -1
        self._job_cursor = -1
        # start after whatever already ran (session warm-up, staging)
        self.new_stages()
        self.new_jobs()

    def _settle(self) -> None:
        # the status store is fed asynchronously by the listener bus
        self._sc.listenerBus().waitUntilEmpty()

    @staticmethod
    def _newest_first(seq, key):
        """Yield elements of a Scala Seq from the highest id downwards."""
        n = seq.size()
        if n == 0:
            return
        rng = range(n - 1, -1, -1) if key(seq.apply(0)) <= key(seq.apply(n - 1)) else range(n)
        for i in rng:
            yield seq.apply(i)

    def new_stages(self) -> list[dict]:
        self._settle()
        seq = self._store.stageList(
            None, False, False, self._gw.new_array(self._gw.jvm.double, 0),
            self._gw.jvm.java.util.ArrayList(),
        )
        out = []
        top = self._stage_cursor
        for s in self._newest_first(seq, lambda s: s.stageId()):
            sid = s.stageId()
            if sid <= self._stage_cursor:
                break
            top = max(top, sid)
            if s.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            out.append(
                {
                    "id": sid,
                    "submit_ms": _opt_ms(s.submissionTime()),
                    "run_s": s.executorRunTime() / 1e3,
                    "cpu_s": s.executorCpuTime() / 1e9,
                    "shuffle_bytes": s.shuffleWriteBytes(),
                    "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    "failed_tasks": s.numFailedTasks(),
                }
            )
        self._stage_cursor = top
        return out

    def new_jobs(self) -> list[dict]:
        self._settle()
        seq = self._store.jobsList(None)
        out = []
        top = self._job_cursor
        for j in self._newest_first(seq, lambda j: j.jobId()):
            jid = j.jobId()
            if jid <= self._job_cursor:
                break
            top = max(top, jid)
            start, end = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
            if start is not None and end is not None:
                out.append({"id": jid, "start_ms": start, "end_ms": end})
        self._job_cursor = top
        return out


@dataclass
class Tracer:
    """Call-window spans around each layer's public function.

    Spans stay in memory; ``attribute`` assigns every job and stage to
    the span whose window contains its submission time. Jobs started on
    a plain thread pool (which drops Spark's thread-local job group)
    are attributed the same way."""

    spans: list[dict] = field(default_factory=list)

    @contextmanager
    def layer(self, name: str):
        t0 = time.time() * 1e3
        try:
            yield
        finally:
            self.spans.append({"layer": name, "start_ms": t0, "end_ms": time.time() * 1e3})

    def _span_of(self, t_ms: float | None) -> dict | None:
        if t_ms is None:
            return None
        for sp in self.spans:
            if sp["start_ms"] <= t_ms <= sp["end_ms"]:
                return sp
        return None

    def attribute(self, jobs: list[dict], stages: list[dict]) -> dict[str, dict]:
        """→ {layer: {metric: value}}, summed over all of the layer's spans."""
        acc: dict[str, dict] = {}
        intervals: dict[int, list] = {}
        for sp in self.spans:
            a = acc.setdefault(sp["layer"], {k: 0.0 for k, _ in LAYER_FIELDS})
            a["wall_s"] += (sp["end_ms"] - sp["start_ms"]) / 1e3
            intervals[id(sp)] = []
        for j in jobs:
            sp = self._span_of(j["start_ms"])
            if sp is not None:
                acc[sp["layer"]]["jobs"] += 1
                intervals[id(sp)].append(
                    (max(j["start_ms"], sp["start_ms"]), min(j["end_ms"], sp["end_ms"]))
                )
        for s in stages:
            sp = self._span_of(s["submit_ms"])
            if sp is None:
                continue
            a = acc[sp["layer"]]
            a["cpu_s"] += s["cpu_s"]
            a["py_s"] += max(s["run_s"] - s["cpu_s"], 0.0)
            a["shuffle_bytes"] += s["shuffle_bytes"]
            a["spill_bytes"] += s["spill_bytes"]
            a["failed_tasks"] += s["failed_tasks"]
        for sp in self.spans:
            busy, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(intervals[id(sp)]):
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        busy += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                busy += cur_hi - cur_lo
            acc[sp["layer"]]["gap_s"] += (sp["end_ms"] - sp["start_ms"] - busy) / 1e3
        return acc


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def alive(pid: int) -> bool:
    """True until ``pid`` has ended; a zombie (ended, not yet reaped by
    whichever process adopted it) counts as ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tree_rss_bytes(pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the RSS of a process tree (the JVM and its Python
    workers) on a background thread; ``peak_mib`` is the maximum."""

    def __init__(self, pid: int, period_s: float = 0.1):
        self._pid, self._period = pid, period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.peak = 0

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self._pid))
            self._stop.wait(self._period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mib(self) -> float:
        return self.peak / (1 << 20)
