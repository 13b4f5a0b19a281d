"""Running-query registry: SHOW QUERIES / KILL QUERY.

Reference: ``query/task_manager.go`` (AttachQuery assigns qids, KillQuery
aborts) dispatched from ``statement_executor.go:241-450``. The Spark-first
realization: each tracked query runs under a Spark job group named
``ogq-<qid>``; KILL QUERY cancels that job group, which aborts every stage
of the query's DAG across the cluster — the same semantics as the
reference interrupting its executor pipeline.

Single-process registry (one driver), guarded by a lock because /query
handlers may run on concurrent threads.
"""

from __future__ import annotations

import threading
import time

_LOCK = threading.Lock()
_NEXT = [1]
_ACTIVE: dict[int, tuple[str, float]] = {}  # qid -> (text, start_ts)
# the local properties setJobGroup sets, and the caller's values of them
# while one of its queries runs (qid -> values; None = unset)
_GROUP_PROPS = (
    "spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel",
)
_CALLER: dict[int, list[str | None]] = {}


def attach(spark, text: str) -> int:
    """Register a query and scope the current thread's jobs to its group."""
    sc = spark.sparkContext
    caller = [sc.getLocalProperty(k) for k in _GROUP_PROPS]
    with _LOCK:
        qid = _NEXT[0]
        _NEXT[0] += 1
        _ACTIVE[qid] = (text, time.time())
        _CALLER[qid] = caller
    sc.setJobGroup(f"ogq-{qid}", text[:200], interruptOnCancel=True)
    return qid


def detach(spark, qid: int) -> None:
    """Unregister the query and give the thread back the job group it had
    before ``attach`` (none, if it had none)."""
    with _LOCK:
        _ACTIVE.pop(qid, None)
        caller = _CALLER.pop(qid, [None] * len(_GROUP_PROPS))
    sc = spark.sparkContext
    for k, v in zip(_GROUP_PROPS, caller):
        sc.setLocalProperty(k, v)


def kill(spark, qid: int) -> bool:
    """Cancel the query's job group; True if the qid was active."""
    with _LOCK:
        known = qid in _ACTIVE
        _ACTIVE.pop(qid, None)
    if known:
        spark.sparkContext.cancelJobGroup(f"ogq-{qid}")
    return known


def listing() -> list[list]:
    now = time.time()
    with _LOCK:
        return [
            [qid, text, round(now - t0, 3)]
            for qid, (text, t0) in sorted(_ACTIVE.items())
        ]
