"""Spans and per-call Spark counters for the traced run.

A span records name, start, end, parent and call id; spans stay in
memory and are written out once at exit. Spark counters are read per
call from the status stores after the call returns. Jobs and SQL
executions are numbered in submission order and the benchmark is the
only client, so a call's work is every job and execution numbered
after the previous call's last one; that also catches the jobs that
streaming queries and eager plan builds submit from other threads.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

# SQL metric names (as Spark 4.1 prints them) -> counter key
SQL_METRICS = {
    "number of files read": "scan_files",
    "time to run Python workers": "pyudf_s",
    "data sent to Python workers": "arrow_bytes",
    "data returned from Python workers": "arrow_bytes",
    "written output": "written_bytes",
}
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """A formatted SQL metric ('6.8 s', '1602.0 KiB', '100,000', or the
    'total (min, med, max ...)\\n<total> (...)' form) -> its total in
    bytes, seconds or units."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


def _it(seq):
    """Iterate a Scala collection through py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class SparkCounters:
    """Reads the status stores of one SparkSession."""

    def __init__(self, spark, staging_root: str | None = None):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.staging_root = staging_root
        self.last_job, self.last_exec = self._max_ids()

    def _max_ids(self) -> tuple[int, int]:
        jobs = self.store.jobsList(None)
        last_job = jobs.head().jobId() if jobs.nonEmpty() else -1
        execs = self.sql.executionsList()
        last_exec = execs.last().executionId() if execs.nonEmpty() else -1
        return last_job, last_exec

    def since_last(self, sql: bool = True) -> dict:
        """Counters of every job, and unless `sql` is false of every SQL
        execution, since the last read."""
        job_hi, exec_hi = self._max_ids()
        c = dict(jobs=0, stages=0, tasks=0, wall_s=0.0, cpu_s=0.0, gc_s=0.0,
                 scan_bytes=0, shuffle_write_bytes=0, shuffle_read_bytes=0,
                 fetch_wait_s=0.0, spill_bytes=0, output_bytes=0, scan_files=0.0,
                 pyudf_s=0.0, arrow_bytes=0.0, written_bytes=0.0, staged_bytes=0.0)
        for jid in range(self.last_job + 1, job_hi + 1):
            try:
                job = self.store.job(jid)
            except Exception:  # noqa: BLE001 - job evicted from the store
                continue
            c["jobs"] += 1
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined() and end.isDefined():
                c["wall_s"] += (end.get().getTime() - sub.get().getTime()) / 1e3
            for sid in _it(job.stageIds()):
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - skipped stage
                    continue
                if st.numCompleteTasks() == 0:
                    continue  # skipped: its output was reused
                c["stages"] += 1
                c["tasks"] += st.numCompleteTasks()
                c["cpu_s"] += st.executorCpuTime() / 1e9
                c["gc_s"] += st.jvmGcTime() / 1e3
                c["scan_bytes"] += st.inputBytes()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["shuffle_read_bytes"] += st.shuffleReadBytes()
                c["fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
                c["spill_bytes"] += st.diskBytesSpilled() + st.memoryBytesSpilled()
                c["output_bytes"] += st.outputBytes()
        for eid in range(self.last_exec + 1, exec_hi + 1) if sql else ():
            self._add_sql(eid, c)
        self.last_job, self.last_exec = job_hi, exec_hi
        return c

    def _add_sql(self, eid: int, c: dict) -> None:
        if self.sql.execution(eid).isEmpty():
            return
        values = {kv._1(): kv._2() for kv in _it(self.sql.executionMetrics(eid))}
        for node in _it(self.sql.planGraph(eid).allNodes()):
            staged = (self.staging_root is not None
                      and self.staging_root in (node.desc() or ""))
            for m in _it(node.metrics()):
                key = SQL_METRICS.get(m.name())
                v = values.get(m.accumulatorId()) if key else None
                if v is None:
                    continue
                amount = parse_metric(v)
                c[key] += amount
                if key == "written_bytes" and staged:
                    c["staged_bytes"] += amount

    def cached_bytes(self) -> int:
        """Bytes held by persisted and checkpointed blocks right now."""
        return sum(r.memSize() + r.diskSize()
                   for r in self.sc._jsc.sc().getRDDStorageInfo())


def catalyst_phases(df) -> dict:
    """Catalyst phase times (s) a DataFrame's query execution recorded."""
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for kv in _it(df._jdf.queryExecution().tracker().phases()):
        if kv._1() in out:
            out[kv._1()] += kv._2().durationMs() / 1e3
    return out


class Tracer:
    """In-memory spans; `write` dumps them once at exit."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.call_id = 0

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "call": self.call_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def child_seconds(self, sid: int, name: str) -> float:
        """Time spent in `name` spans nested anywhere under span `sid`."""
        under = {sid}
        total = 0.0
        for s in self.spans[sid + 1:]:
            if s["parent"] in under:
                under.add(s["id"])
                if s["name"] == name and s["end"] is not None:
                    total += s["end"] - s["start"]
        return total

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
