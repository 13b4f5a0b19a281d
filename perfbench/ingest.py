"""The write side of ``serve``: line-protocol writes with read-backs and
rollups beside them.

Each cycle posts one request-sized batch to ``api.handle_write`` into a
fresh data root, then reads the batch's time slice back with InfluxQL;
every second cycle also runs a ``SELECT … INTO`` hourly rollup. The
generator keeps the newest value of every (series, time), so each
response has an exact expected answer.
"""

from __future__ import annotations

import os
import time
from collections import Counter, defaultdict

import pandas as pd

from perfbench.checks import flatten_influx, frames_match
from perfbench.inputs import LineProtocolStream

H_NS = 3600 * 10**9
POINTS = 2000
ROLLUP_EVERY = 2


def _read_query(mst: str, lo: int, hi: int) -> str:
    if mst == "cpu":
        sel = "count(usage), sum(usage), max(load)"
    else:
        sel = "count(used), sum(used), max(used)"
    return (f"SELECT {sel} FROM {mst} WHERE time >= {lo} AND time < {hi} "
            f"GROUP BY host")


def _expected_read(truth: dict, mst: str, lo: int, hi: int) -> pd.DataFrame:
    acc: dict[str, list] = defaultdict(list)
    for key, fields in truth.items():
        if key[0] == mst and lo <= key[-1] < hi:
            acc[key[1]].append(fields)
    rows = []
    for host, vals in acc.items():
        if mst == "cpu":
            rows.append({"host": host, "time": lo, "count": len(vals),
                         "sum": sum(v[0] for v in vals),
                         "max": max(v[1] for v in vals)})
        else:
            rows.append({"host": host, "time": lo, "count": len(vals),
                         "sum": sum(v[0] for v in vals),
                         "max": max(v[0] for v in vals)})
    return pd.DataFrame(rows)


def _disk_bytes(root: str) -> tuple[int, int, int]:
    """(parquet bytes, parquet files, day directories) under ``root``."""
    size = files = 0
    days = set()
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
                days.add(d)
    return size, files, len(days)


class Ingest:
    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.root = os.path.join(work, "db")
        self.sizes = {"points_per_batch": POINTS, "rollup_every": ROLLUP_EVERY}

    def setup(self) -> None:
        # warm-up: one full-size cycle with a rollup, into a separate root,
        # other seed (it follows the dashboard's warm-up on the same JVM)
        warm = LineProtocolStream(self.seed + 7919, POINTS)
        self._cycle(0, warm, os.path.join(self.work, "warm"), rollup=True)
        self.stream = LineProtocolStream(self.seed, POINTS)

    def _cycle(self, i: int, stream, root: str, rollup: bool) -> list[dict]:
        from opengemini_spark import api

        lines, lo, hi = stream.next_batch()
        want_written = Counter(ln.split(",", 1)[0] for ln in lines)
        t0 = time.perf_counter()
        resp = api.handle_write(self.spark, lines, root)
        ops = [{"kind": "write", "s": time.perf_counter() - t0,
                "points": len(lines), "resp": resp,
                "want": dict(want_written)}]
        mst = "cpu" if i % 2 == 0 else "mem"
        q = _read_query(mst, lo, hi)
        t0 = time.perf_counter()
        resp = api.handle_query(self.spark, root, q, data_root=root)
        ops.append({"kind": "readback", "s": time.perf_counter() - t0,
                    "resp": resp,
                    "want": _expected_read(stream.truth, mst, lo, hi)})
        if rollup:
            a = lo - lo % H_NS
            q = (f"SELECT max(usage) AS usage_max INTO cpu_1h FROM cpu "
                 f"WHERE time >= {a} AND time < {hi} GROUP BY time(1h), host")
            groups = {
                (k[1], k[-1] - k[-1] % H_NS) for k in stream.truth
                if k[0] == "cpu" and a <= k[-1] < hi
            }
            t0 = time.perf_counter()
            resp = api.handle_query(self.spark, root, q, data_root=root)
            ops.append({"kind": "rollup", "s": time.perf_counter() - t0,
                        "resp": resp, "want": len(groups)})
        return ops

    def step(self, i: int) -> list[dict]:
        return self._cycle(i, self.stream, self.root,
                           rollup=i % ROLLUP_EVERY == ROLLUP_EVERY - 1)

    def check(self, ops: list[dict]) -> None:
        for op in ops:
            op["ok"], op["why"] = self._check_one(op)

    @staticmethod
    def _check_one(op) -> tuple[bool, str]:
        resp = op["resp"]
        if op["kind"] == "write":
            ok = resp.get("written") == op["want"]
            return ok, "ok" if ok else f"{resp} vs {op['want']}"
        results = resp.get("results") or [{"error": str(resp)[:200]}]
        if "error" in results[0]:
            return False, results[0]["error"]
        if op["kind"] == "rollup":
            got = results[0]["series"][0]["values"][0][1]
            return got == op["want"], f"written {got} vs {op['want']}"
        return frames_match(flatten_influx(results[0]), op["want"])

    def layout(self) -> tuple[int, int, int]:
        size = files = days = 0
        for mst in ("cpu", "mem"):
            b, f, d = _disk_bytes(os.path.join(self.root, mst))
            size, files, days = size + b, files + f, days + d
        return size, files, days

    def trace_extra(self, ops: list[dict]) -> dict:
        _, files, days = self.layout()
        batches = sum(1 for op in ops if op["kind"] == "write")
        return {"storage.files_per_batch": files / batches,
                "storage.files_per_day": files / max(days, 1)}
