"""Spans around the benchmark's calls into the package, and the Spark
counters of each span, read from Spark's own status stores.

A span is one call the benchmark makes into a public function of the
package (or one piece of the benchmark's own client code).  While a span
is open its Spark jobs carry the span's job group, so after the cycle the
jobs, stages and SQL executions of each span can be looked up in
``sc.statusTracker()``, ``statusStore().lastStageAttempt`` and the SQL
status store.  Those stores work with ``spark.ui.enabled=false``; no event
log and no package change is needed.

Spans are kept in memory.  Counters are resolved once per cycle, after it
ends, so reading the stores adds nothing to the timed cycle.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_COUNTERS = (
    "wall_s", "driver_s", "jobs", "tasks", "exec_cpu_s",
    "shuffle_write_bytes", "spill_bytes",
)

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}
_TOTAL_RE = re.compile(r"([0-9.]+)\s*([A-Za-z]+)")
# "(n) Execute InsertIntoHadoopFsRelationCommand / Input: [...] / Arguments: <path>, ..."
_WRITE_PATH_RE = re.compile(r"InsertIntoHadoopFsRelationCommand\n[^\n]*\nArguments: ([^,\s]+)")
_CALL_SITE_RE = re.compile(r" at (\S+?\.py):\d+")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str | None = None
    counters: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)       # (start_s, end_s, call_site file)
    executions: list = field(default_factory=list)  # (start_s, end_s, write path)

    @property
    def wall(self) -> float:
        return self.end - self.start


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _metric_total(text: str) -> float:
    """Total of a formatted SQL metric: the first number on the line after
    ``total (min, med, max ...)``, or the whole text for one-task metrics."""
    lines = text.strip().splitlines()
    m = _TOTAL_RE.search(lines[-1] if len(lines) > 1 else lines[0])
    if m is None:
        return float(text.strip() or 0)
    return float(m.group(1)) * _UNITS.get(m.group(2), 1.0)


def _covered(intervals, lo, hi) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Records spans.  With ``enabled=False`` a span keeps only its name,
    parent and clock times (the untraced run's call latencies); it sets no
    job group and gets no counters."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._pending: list[int] = []
        self.overhead_s = 0.0   # time spent setting job groups inside spans

    @contextmanager
    def span(self, name: str):
        t = time.time()
        idx = len(self.spans)
        sp = Span(name, t, parent=self._stack[-1] if self._stack else None)
        self.spans.append(sp)
        self._stack.append(idx)
        if self.enabled:
            sc = self.spark.sparkContext
            sp.group = f"perfbench-{idx}"
            outer = sc.getLocalProperty("spark.jobGroup.id")
            outer_desc = sc.getLocalProperty("spark.job.description")
            sc.setJobGroup(sp.group, name)
            self.overhead_s += time.time() - t
        try:
            yield
        finally:
            sp.end = time.time()
            self._stack.pop()
            if sp.group is not None:
                if outer is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(outer, outer_desc)
                self._pending.append(idx)
                self.overhead_s += time.time() - sp.end

    def resolve(self) -> None:
        """Read the counters of every span closed since the last call."""
        if not self._pending:
            return
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        job_owner: dict[int, int] = {}
        for idx in self._pending:
            sp = self.spans[idx]
            c = dict.fromkeys(SPAN_COUNTERS, 0.0)
            c.update(input_records=0.0, output_bytes=0.0, python_s=0.0,
                     python_bytes=0.0, files_read=0.0)
            intervals = []
            for jid in tracker.getJobIdsForGroup(sp.group):
                job_owner[jid] = idx
                jd = store.job(jid)
                start = jd.submissionTime().get().getTime() / 1000.0
                end = (jd.completionTime().get().getTime() / 1000.0
                       if jd.completionTime().isDefined() else sp.end)
                site = _CALL_SITE_RE.search(" " + jd.name())
                sp.jobs.append((start, end, site.group(1) if site else ""))
                intervals.append((start, end))
                c["jobs"] += 1
                for sid in _scala_iter(jd.stageIds()):
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # stage evicted from the store
                        continue
                    if st.status().toString() == "SKIPPED":
                        continue
                    c["tasks"] += st.numTasks()
                    c["exec_cpu_s"] += st.executorCpuTime() / 1e9
                    c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    c["input_records"] += st.inputRecords()
                    c["output_bytes"] += st.outputBytes()
            c["wall_s"] = sp.wall
            c["driver_s"] = sp.wall - _covered(intervals, sp.start, sp.end)
            sp.counters = c
        self._read_sql(job_owner)
        self._pending = []

    def _read_sql(self, job_owner: dict[int, int]) -> None:
        """Python-boundary, file and write-path figures of each span's SQL
        executions, matched to the span through their jobs."""
        if not job_owner:
            return
        sql = self.spark._jsparkSession.sharedState().statusStore()
        first = min(self.spans[i].start for i in set(job_owner.values()))
        for ex in _scala_iter(sql.executionsList()):
            if ex.submissionTime() / 1000.0 < first - 1.0:
                continue
            owners = {job_owner.get(int(j)) for j in _scala_iter(ex.jobs().keys())}
            owners.discard(None)
            if len(owners) != 1:
                continue
            sp = self.spans[owners.pop()]
            eid = ex.executionId()
            values = sql.executionMetrics(eid)
            for node in _scala_iter(sql.planGraph(eid).allNodes()):
                for pm in _scala_iter(node.metrics()):
                    key = {"time to run Python workers": "python_s",
                           "data sent to Python workers": "python_bytes",
                           "data returned from Python workers": "python_bytes",
                           "number of files read": "files_read"}.get(pm.name())
                    v = values.get(pm.accumulatorId())
                    if key and v.isDefined():
                        sp.counters[key] += _metric_total(v.get())
            m = _WRITE_PATH_RE.search(ex.physicalPlanDescription())
            if m and ex.completionTime().isDefined():
                sp.executions.append((ex.submissionTime() / 1000.0,
                                      ex.completionTime().get().getTime() / 1000.0,
                                      m.group(1)))

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "counters": s.counters, "jobs": s.jobs, "executions": s.executions}
            for s in self.spans
        ]
