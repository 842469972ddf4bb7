"""Spans and Spark counters for the traced run.

Spans come from the benchmark's own code around its calls into the engine;
counters come from Spark's own status stores, read after each pass:

- ``sparkContext._jsc.sc().statusStore()`` (jobs and stages, raw numbers);
- ``_jsparkSession.sharedState().statusStore()`` (SQL metrics, as Spark
  formats them for its UI: times to 1 ms below a second and to 0.1 s above,
  sizes to 0.1 of their binary unit).

During a pass the tracer only sets a job group per query and notes Spark's
job counter and the wall clock at each phase boundary, so a traced pass does
the same Spark work as an untraced one; everything else is read after it.
"""

from __future__ import annotations

import itertools
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    layer: str
    start: float
    end: float = 0.0
    qid: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; spans are written out once, at the end."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, layer: str, parent: Span | None = None,
             qid: str | None = None, **attrs):
        s = Span(next(self._ids), parent.sid if parent else None, name, layer,
                 time.perf_counter(), qid=qid, attrs=dict(attrs))
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.spans.append(s)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it that its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    out: dict[int, float] = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(s.sid, [])):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = s.dur - covered
    return out


# --- Spark status stores ---------------------------------------------------

_NUM = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")
_TIME_UNIT = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNIT = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}


def parse_sql_metric(text: str, metric_type: str) -> float:
    """A SQL metric's total, as a number in seconds, bytes or a count.

    Spark renders multi-task metrics as ``"total (min, med, max ...)\\n<total>
    (...)"`` and single values as ``"<total>"``; the total is the first number
    of the last line."""
    m = _NUM.match(text.strip().splitlines()[-1])
    if not m:
        raise ValueError(f"unparseable SQL metric {text!r}")
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    if metric_type in ("timing", "nsTiming"):
        return num * _TIME_UNIT[unit]
    if metric_type == "size":
        return num * _SIZE_UNIT[unit]
    return num


# (node name prefix or None for any node, SQL metric name) -> counter
SQL_COUNTERS = {
    (None, "scan time"): "spark.scan_s",
    (None, "size of files read"): "spark.scan_bytes",
    ("BroadcastExchange", "time to collect"): "spark.broadcast_collect_s",
    ("BroadcastExchange", "time to build"): "spark.broadcast_build_s",
    ("BroadcastExchange", "data size"): "spark.broadcast_bytes",
    (None, "time to start Python workers"): "pyworker.boot_s",
    (None, "time to initialize Python workers"): "pyworker.init_s",
    (None, "time to run Python workers"): "pyworker.run_s",
    (None, "data sent to Python workers"): "pyworker.bytes_sent",
    (None, "data returned from Python workers"): "pyworker.bytes_received",
    (None, "number of written files"): "sink.files",
    (None, "written output"): "sink.output_bytes",
}


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class SparkStores:
    """Reads job, stage and SQL counters for a range of Spark work."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext._jsc.sc()
        self.app = self.sc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._sql_seen = -1

    def next_job_id(self) -> int:
        return self.sc.dagScheduler().numTotalJobs()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self.sc.listenerBus().waitUntilEmpty()

    def jobs(self, lo: int, hi: int) -> dict[str, float]:
        """Job and stage counters for Spark jobs ``lo`` .. ``hi - 1``."""
        c: dict[str, float] = defaultdict(float)
        stages = set()
        for jid in range(lo, hi):
            c["spark.jobs"] += 1
            stages.update(_seq(self.app.job(jid).stageIds()))
        for sid in stages:
            sd = self.app.lastStageAttempt(sid)
            if sd.status().toString() != "SKIPPED":
                c["spark.stages"] += 1
            c["spark.tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            c["spark.executor_run_s"] += sd.executorRunTime() / 1e3
            c["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
            c["spark.gc_s"] += sd.jvmGcTime() / 1e3
            c["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            c["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
            c["spark.shuffle_write_s"] += sd.shuffleWriteTime() / 1e9
            c["spark.shuffle_fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
            c["spark.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return c

    def new_sql(self) -> list[tuple[int, float, dict[str, float]]]:
        """(execution id, submission time in s, counters) for every SQL
        execution recorded since the previous call."""
        n = self.sql.executionsCount()
        want = 64
        while True:
            lo = max(0, n - want)
            execs = _seq(self.sql.executionsList(lo, n - lo))
            if lo == 0 or execs[0].executionId() <= self._sql_seen:
                break
            want *= 2
        out = []
        for e in execs:
            eid = e.executionId()
            if eid <= self._sql_seen:
                continue
            out.append((eid, e.submissionTime() / 1e3, self._sql_counters(eid)))
        if execs:
            self._sql_seen = max(self._sql_seen, execs[-1].executionId())
        return out

    def _sql_counters(self, eid: int) -> dict[str, float]:
        values = self.sql.executionMetrics(eid)
        c: dict[str, float] = defaultdict(float)
        for node in _seq(self.sql.planGraph(eid).allNodes()):
            name = node.name()
            for m in _seq(node.metrics()):
                key = SQL_COUNTERS.get((None, m.name()))
                if key is None:
                    for (prefix, metric), k in SQL_COUNTERS.items():
                        if prefix and name.startswith(prefix) and metric == m.name():
                            key = k
                if key is None:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    c[key] += parse_sql_metric(v.get(), m.metricType())
        return c
