"""``serve``: dashboard refreshes with line-protocol writes beside them.

One client serves both sides of a time-series database on one engine: a
step posts a write cycle (``perfbench/ingest.py``), then refreshes the
dashboard (``perfbench/dashboard.py``). Each side keeps its own inputs,
data root and output checks.
"""

from __future__ import annotations

import os
import statistics

from perfbench.dashboard import Dashboard
from perfbench.ingest import Ingest

QUERY_KINDS = ("influxql", "promql")


def _kind(op: dict) -> str:
    """The request kind whose latencies are comparable: the panel of a
    dashboard request, else write, readback or rollup."""
    return op["panel"] if op["kind"] in QUERY_KINDS else op["kind"]


class Serve:
    # the run budget of one step (a write cycle and a refresh; about 12 s
    # on the reference machine): 2 steps at --seconds 20
    step_s = 10.0

    def __init__(self, spark, work: str, seed: int):
        self.dash = Dashboard(spark, os.path.join(work, "dashboard"), seed)
        self.ingest = Ingest(spark, os.path.join(work, "ingest"), seed)
        self.sizes = {**self.dash.sizes, **self.ingest.sizes}

    def setup(self) -> None:
        self.dash.setup()
        self.ingest.setup()

    def step(self, i: int) -> list[dict]:
        return self.ingest.step(i) + self.dash.step(i)

    @staticmethod
    def _split(ops: list[dict]) -> tuple[list[dict], list[dict]]:
        q = [op for op in ops if op["kind"] in QUERY_KINDS]
        return q, [op for op in ops if op["kind"] not in QUERY_KINDS]

    def check(self, ops: list[dict]) -> None:
        q, w = self._split(ops)
        self.dash.check(q)
        self.ingest.check(w)

    def trace_extra(self, ops: list[dict]) -> dict:
        q, w = self._split(ops)
        return {**self.dash.trace_extra(q), **self.ingest.trace_extra(w)}

    def summary(self, ops: list[dict]) -> dict:
        """``p50_s`` is each request kind's median latency, averaged over
        the kinds: the nine panels, write, readback and rollup cost from
        0.4 s to 2.5 s apiece, so the median of all requests pooled jumps
        between kinds from run to run."""
        by_kind: dict[str, list[float]] = {}
        for op in ops:
            by_kind.setdefault(_kind(op), []).append(op["s"])
        q, w = self._split(ops)
        writes = [op for op in w if op["kind"] == "write"]
        size, files, days = self.ingest.layout()
        lat = [op["s"] for op in ops]
        return {
            "latency_s": lat,
            "p50_s": statistics.mean(
                statistics.median(v) for v in by_kind.values()),
            "n_ops": len(ops),
            "throughput_per_s": len(ops) / sum(lat),
            "detail": {
                "query_s": [op["s"] for op in q],
                **{f"{k}_s": [op["s"] for op in q if op["kind"] == k]
                   for k in QUERY_KINDS},
                **{f"{k}_s": [op["s"] for op in w if op["kind"] == k]
                   for k in ("write", "readback", "rollup")},
                "write_points_per_s": sum(op["points"] for op in writes)
                / sum(op["s"] for op in writes),
                "disk_bytes_per_point": size / len(self.ingest.stream.truth),
                "files": files, "day_dirs": days,
            },
        }
