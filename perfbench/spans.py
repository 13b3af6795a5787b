"""Spans around layer calls, and Spark counters per op.

`Tracer` keeps spans (name, start, end, parent, op id) in memory; `dump`
writes them out once, when the run ends. A disabled tracer records
nothing, so untraced runs pay one no-op context manager per layer call.

`SparkCounters` reads the driver's status store after an op has ended,
outside its timing. Jobs are attributed to the op by time window (submitted
inside the op's wall interval), not by job group: work that the engine
submits from a plain `threading.Thread` does not inherit job-group
properties, and would otherwise be missed.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def seconds(self, name: str, op_id: int) -> float:
        """Total duration of the op's spans with this name."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["op"] == op_id and s["name"] == name)

    def window(self, name: str, op_id: int) -> tuple[float, float] | None:
        hits = [s for s in self.spans if s["op"] == op_id and s["name"] == name]
        return (hits[0]["start"], hits[-1]["end"]) if hits else None

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _seq(jvm, scala_seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


class SparkCounters:
    """Per-window job and stage counters from the driver's status store.

    Timestamps there are epoch milliseconds; `perf_to_ms` maps the
    benchmark's `time.perf_counter` readings onto that clock.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.offset_ms = time.time() * 1000.0 - time.perf_counter() * 1000.0
        self.missing_stages = 0  # stage lookups lost to status-store eviction
        self.jobs: dict = {}
        self.seen = set(self._job_ids())  # jobs from before the timed window

    def perf_to_ms(self, t: float) -> float:
        return t * 1000.0 + self.offset_ms

    def _job_ids(self) -> list:
        # the engine sets no job group, so this lists every job
        return self.sc.statusTracker().getJobIdsForGroup(None)

    def _refresh(self) -> None:
        # the status store is fed by the listener bus; drain it first
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        pending = [j for j, rec in self.jobs.items() if rec["end_ms"] is None]
        new = [j for j in self._job_ids() if j not in self.seen]
        for jid in pending + new:
            self.seen.add(jid)
            job = self.store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isEmpty():
                continue
            self.jobs[jid] = {
                "submit_ms": sub.get().getTime(),
                "end_ms": None if done.isEmpty() else done.get().getTime(),
                "stages": [int(x) for x in _seq(self.sc._jvm, job.stageIds())]}

    def jobs_in(self, t0: float, t1: float) -> list[dict]:
        """Jobs submitted inside [t0, t1] (perf_counter seconds)."""
        self._refresh()
        lo, hi = self.perf_to_ms(t0) - 1.0, self.perf_to_ms(t1) + 1.0
        return [dict(rec, end_ms=rec["end_ms"] or hi) for rec in self.jobs.values()
                if lo <= rec["submit_ms"] <= hi]

    def op_counters(self, t0: float, t1: float) -> dict:
        """Jobs, stages, task metrics and driver gap of one op window."""
        jobs = self.jobs_in(t0, t1)
        stage_ids = sorted({s for j in jobs for s in j["stages"]})
        c = {"spark.jobs": len(jobs), "spark.stages": 0, "spark.task_s": 0.0,
             "spark.cpu_s": 0.0, "spark.gc_s": 0.0, "spark.shuffle_read_bytes": 0,
             "spark.shuffle_write_bytes": 0, "spark.spill_bytes": 0}
        for sid in stage_ids:
            try:
                st = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted, or skipped and never stored
                self.missing_stages += 1
                continue
            if str(st.status()) == "SKIPPED":
                continue
            c["spark.stages"] += 1
            c["spark.task_s"] += st.executorRunTime() / 1e3
            c["spark.cpu_s"] += st.executorCpuTime() / 1e9
            c["spark.gc_s"] += st.jvmGcTime() / 1e3
            c["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            c["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        # driver gap: op wall time not covered by any job's run interval
        lo, hi = self.perf_to_ms(t0), self.perf_to_ms(t1)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in sorted((max(j["submit_ms"], lo), min(j["end_ms"], hi)) for j in jobs):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        c["spark.driver_gap_s"] = max(0.0, (hi - lo - covered) / 1e3)
        return c
