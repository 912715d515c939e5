"""Read Spark's own status stores from the outside after a traced op.

Stage metrics come from ``sc._jsc.sc().statusStore()`` and the
ArrowEvalPython operator metrics (Python-worker time, bytes sent and
returned) from the SQL status store of the session's shared state. Both
stores work with ``spark.ui.enabled=false``. Nothing here launches a
Spark job.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_UNIT_B = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
           "TiB": 1 << 40}
_TOTAL = re.compile(r"([0-9.]+)\s*([A-Za-z]+)")

#: SQL metric name -> key used by the benchmark
PY_METRICS = {
    "time to run Python workers": "py_worker_s",
    "data sent to Python workers": "bytes_to_py",
    "data returned from Python workers": "bytes_from_py",
}


def parse_sql_metric(value: str) -> float:
    """Total of a SQL UI metric string, in seconds or bytes:
    'total (min, med, max (...))\\n10.6 s (2.5 s, ...)' or '0 ms'."""
    line = value.split("\n", 1)[1] if "\n" in value else value
    m = _TOTAL.search(line)
    if not m:
        raise ValueError(f"unparseable SQL metric {value!r}")
    num, unit = float(m.group(1)), m.group(2)
    if unit in _UNIT_S:
        return num * _UNIT_S[unit]
    if unit in _UNIT_B:
        return num * _UNIT_B[unit]
    raise ValueError(f"unknown unit in SQL metric {value!r}")


@dataclass
class StageRow:
    stage_id: int
    job_id: int
    tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_bytes: int
    spill_bytes: int
    task_skew: float  # max / median task run time


class StatusStores:
    def __init__(self, spark):
        self._spark = spark
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._cc = self._jvm.scala.jdk.javaapi.CollectionConverters

    def _list(self, seq):
        return list(self._cc.asJava(seq))

    def jobs_since(self, t0: float) -> dict[int, tuple[float, list[int]]]:
        """job id -> (submission time in epoch s, stage ids) for jobs
        submitted at or after ``t0``."""
        out = {}
        for j in self._list(self._store.jobsList(None)):
            sub = j.submissionTime()
            if not sub.isDefined():
                continue
            ts = sub.get().getTime() / 1000.0
            if ts >= t0:
                out[j.jobId()] = (ts, [int(x) for x in self._list(j.stageIds())])
        return out

    def stages(self, jobs: dict[int, tuple[float, list[int]]]) -> list[StageRow]:
        """Completed stages of ``jobs``, each attributed to the lowest job
        id that lists it."""
        owner: dict[int, int] = {}
        for jid in sorted(jobs):
            for sid in jobs[jid][1]:
                owner.setdefault(sid, jid)
        q = self._gw.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        rows = []
        empty = self._gw.new_array(self._jvm.double, 0)
        for s in self._list(self._store.stageList(None, False, False, empty, None)):
            sid = s.stageId()
            if sid not in owner or str(s.status()) != "COMPLETE":
                continue
            skew = 1.0
            dist = self._store.taskSummary(sid, s.attemptId(), q)
            if dist.isDefined():
                ert = dist.get().executorRunTime()
                med, mx = float(ert.apply(0)), float(ert.apply(1))
                skew = mx / med if med > 0 else 1.0
            rows.append(StageRow(
                stage_id=sid, job_id=owner[sid], tasks=int(s.numTasks()),
                run_s=s.executorRunTime() / 1e3,
                cpu_s=s.executorCpuTime() / 1e9,
                gc_s=s.jvmGcTime() / 1e3,
                shuffle_write_bytes=int(s.shuffleWriteBytes()),
                spill_bytes=int(s.memoryBytesSpilled() + s.diskBytesSpilled()),
                task_skew=skew,
            ))
        return rows

    def python_metrics_since(self, t0: float) -> dict[str, float]:
        """Sum of the Python-worker SQL metrics over executions submitted
        at or after ``t0``."""
        out = {k: 0.0 for k in PY_METRICS.values()}
        for e in self._list(self._sql.executionsList()):
            if e.submissionTime() / 1000.0 < t0:
                continue
            names = {m.accumulatorId(): m.name()
                     for m in self._list(e.metrics())}
            values = self._cc.asJava(self._sql.executionMetrics(e.executionId()))
            for acc, val in values.items():
                key = PY_METRICS.get(names.get(acc))
                if key:
                    out[key] += parse_sql_metric(val)
        return out
