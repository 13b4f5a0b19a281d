"""Spark ledger: what each operation cost inside Spark.

Reads the in-process status stores, which keep their data with
``spark.ui.enabled=false``:

- ``sc._jsc.sc().statusStore()``: ``jobsList`` and ``stageList``;
- the SQL status store: per-execution plan metrics, for the Python-worker
  time that ``MapInPandas``/Arrow UDF nodes report.

``read()`` returns only what is new since the previous call, after the
listener bus has drained. Call it after every operation: Spark retains
1000 jobs and stages by default, and reading each operation's records as
soon as it ends means none are evicted first. Jobs are attributed by time
window, not job group, because the query layer overwrites the group.
"""

from __future__ import annotations

import json

PY_WORKER_METRIC = "time to run Python workers"
_DURATION_MS = {"ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0}


def parse_duration_ms(text: str) -> float:
    """Total of an SQL timing metric's display string, in ms.

    Spark renders ``"6.6 s"`` for one task and
    ``"total (min, med, max (stageId: taskId))\\n6.6 s (1.5 s, …)"`` for
    many."""
    line = text.strip().split("\n")[-1]
    value, unit = line.split(" (", 1)[0].split()
    return float(value) * _DURATION_MS[unit]


class Ledger:
    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        core = sc._jsc.sc()
        self._store = core.statusStore()
        self._bus = core.listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala,
                            "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._last_job = self._last_stage = -1
        self._n_exec = 0
        self.read()  # everything before this point is not ours

    def _json(self, obj) -> list:
        return json.loads(self._mapper.writeValueAsString(obj))

    def _newest(self, seq, key: str, last: int) -> list[dict]:
        """Records with ``key`` > ``last`` from a newest-first Seq."""
        if seq.size() == 0:
            return []
        head = self._json(seq.take(1))[0][key]
        if head <= last:
            return []
        return [r for r in self._json(seq.take(head - last + 8))
                if r[key] > last]

    def read(self) -> dict:
        self._bus.waitUntilEmpty()
        jobs = self._newest(self._store.jobsList(None), "jobId",
                            self._last_job)
        stages = self._newest(
            self._store.stageList(None, False, False, self._no_quantiles,
                                  None),
            "stageId", self._last_stage,
        )
        if jobs:
            self._last_job = max(j["jobId"] for j in jobs)
        if stages:
            self._last_stage = max(s["stageId"] for s in stages)
        n = self._sql.executionsCount()
        execs = []
        if n > self._n_exec:
            for e in self._json(self._sql.executionsList(self._n_exec,
                                                         n - self._n_exec)):
                names = {m["accumulatorId"]: m["name"] for m in e["metrics"]}
                py = sum(
                    parse_duration_ms(v)
                    for k, v in (e.get("metricValues") or {}).items()
                    if names.get(int(k)) == PY_WORKER_METRIC
                )
                execs.append({"submissionTime": e["submissionTime"],
                              "python_worker_ms": py})
            self._n_exec = n
        return {"jobs": jobs, "stages": stages, "executions": execs}


def totals(rec: dict) -> dict:
    """Sum one ``read()`` into the ledger's counters."""
    ran = [s for s in rec["stages"] if s["status"] in ("COMPLETE", "FAILED")]
    return {
        "jobs": len(rec["jobs"]),
        "stages": len(ran),
        "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in ran),
        "failed_tasks": sum(s["numFailedTasks"] for s in ran),
        "executor_run_ms": sum(s["executorRunTime"] for s in ran),
        "executor_cpu_ms": sum(s["executorCpuTime"] for s in ran) / 1e6,
        "input_bytes": sum(s["inputBytes"] for s in ran),
        "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in ran),
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in ran),
        "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                           for s in ran),
        "python_worker_ms": sum(e["python_worker_ms"]
                                for e in rec["executions"]),
    }


def busy_ms(jobs: list[dict]) -> float:
    """Length of the union of the jobs' [submission, completion] intervals."""
    spans = sorted(
        (j["submissionTime"], j["completionTime"] or j["submissionTime"])
        for j in jobs if j.get("submissionTime") is not None
    )
    total, end = 0.0, None
    for s, e in spans:
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total
