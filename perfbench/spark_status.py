"""Per-step cost attribution read from Spark's own status stores.

Nothing here runs inside a step timer.  Before a traced step the
runner tags the driver thread with ``setJobGroup("bench:<workload>:
<step>")``; after the step it calls :meth:`Tracer.read`, which drains
the listener bus and then reads

- the jobs of that group (``statusTracker``) and their spans and
  stages (``AppStatusStore``): job and stage counts, executor run and
  CPU time, shuffle, spill, input bytes, failed tasks and retried
  stage attempts;
- the SQL executions started since the last read (SQL status store):
  the Python-UDF nodes' (ArrowEvalPython, FlatMapGroupsInPandas,
  MapInPandas, ...) ``time to run Python workers`` and the parquet scan
  nodes' ``scan time``, both summed over tasks.

Timing values in the SQL store are formatted strings ("3.9 s",
"120 ms"), so ``py_s`` and ``scan_s`` carry about two significant
digits.
"""

from __future__ import annotations

import re

_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(ms|s|m|h)\b")


def parse_timing(text: str) -> float:
    """Seconds from a SQL timing metric: either ``"9 ms"`` or
    ``"total (min, med, max ...)\\n3.9 s (...)"`` (the total comes first
    on the second line)."""
    line = text.split("\n", 1)[-1]
    m = _VALUE.search(line)
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


def _is_python_node(name: str) -> bool:
    return "Python" in name or "InPandas" in name or "InArrow" in name


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def union_length(spans: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)``."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Reads one SparkContext's status stores.  Create one per context."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seen_jobs: set[int] = set()
        self._exec_mark = self._last_execution_id()

    def _last_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return self._sql.executionsList(n - 1, 1).apply(0).executionId()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def skip(self) -> None:
        """Mark everything run so far (e.g. a correctness check) as seen."""
        self._bus.waitUntilEmpty()
        self._exec_mark = self._last_execution_id()

    def _new_executions(self):
        n = self._sql.executionsCount()
        out = []
        for i in range(n - 1, -1, -1):
            e = self._sql.executionsList(i, 1).apply(0)
            if e.executionId() <= self._exec_mark:
                break
            out.append(e.executionId())
        return out

    def read(self, group: str, t0: float, t1: float) -> dict:
        """Costs of the jobs in ``group`` not read before; ``t0``/``t1``
        are the step's epoch-second bounds."""
        self._bus.waitUntilEmpty()
        jobs = [j for j in self.sc.statusTracker().getJobIdsForGroup(group) if j not in self._seen_jobs]
        self._seen_jobs.update(jobs)
        rec = dict.fromkeys(
            ("exec_run_s", "exec_cpu_s", "shuffle_bytes", "spill_bytes", "input_bytes", "failed"), 0.0
        )
        spans, stages = [], set()
        for jid in jobs:
            jd = self._store.job(jid)
            start = jd.submissionTime()
            end = jd.completionTime()
            if start.isDefined() and end.isDefined():
                spans.append((start.get().getTime() / 1e3, end.get().getTime() / 1e3))
            stages.update(_iter(jd.stageIds()))
        n_stages = 0
        for sid in stages:
            sd = self._store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            n_stages += 1
            rec["exec_run_s"] += sd.executorRunTime() / 1e3
            rec["exec_cpu_s"] += sd.executorCpuTime() / 1e9
            rec["shuffle_bytes"] += sd.shuffleWriteBytes()
            rec["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            rec["input_bytes"] += sd.inputBytes()
            rec["failed"] += sd.numFailedTasks() + sd.attemptId()
        py_s = scan_s = 0.0
        for eid in self._new_executions():
            values = self._sql.executionMetrics(eid)
            for node in _iter(self._sql.planGraph(eid).allNodes()):
                name = node.name()
                python, scan = _is_python_node(name), name.startswith("Scan ")
                if not (python or scan):
                    continue
                for m in _iter(node.metrics()):
                    if m.name() not in ("time to run Python workers", "scan time"):
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        if python:
                            py_s += parse_timing(v.get())
                        else:
                            scan_s += parse_timing(v.get())
        self._exec_mark = self._last_execution_id()
        wall = t1 - t0
        inside = [(max(a, t0), min(b, t1)) for a, b in spans if b > t0 and a < t1]
        rec.update(
            jobs=len(jobs),
            stages=n_stages,
            job_span_s=union_length(spans),
            driver_s=wall - union_length(inside),
            py_s=py_s,
            scan_s=scan_s,
        )
        return rec


def plan_seconds(df) -> float:
    """Catalyst phase time (analysis + optimization + planning) of a
    sink DataFrame.  Analysis ran when the DataFrame was built, inside
    the step; optimization and physical planning are replayed here on
    the same QueryExecution, after the step's timer."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return sum(
        phases.apply(p).durationMs() for p in ("analysis", "optimization", "planning") if phases.contains(p)
    ) / 1e3
