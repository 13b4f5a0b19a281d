"""Traced run: spans around each layer's public functions, in memory.

The tracer wraps functions where their caller resolves the name (a module
attribute, or a method on its class), so the engine's code is untouched.
Lazy DataFrame builders only time their plan build; the Spark work shows
up in whichever span runs the action. A span is
``[name, start, end, parent index, op id]`` with wall-clock seconds, the
clock the Spark ledger also stamps jobs with.
"""

from __future__ import annotations

import functools
import importlib
import json
import time

# (module, attribute or Class.method, span name)
PATCHES = (
    ("opengemini_spark.api", "handle_query", "api.query"),
    ("opengemini_spark.api", "handle_write", "api.write"),
    ("opengemini_spark.api", "handle_prom_query_range_cached", "api.prom"),
    # bound into api at import time
    ("opengemini_spark.api", "parse", "influxql.parse"),
    ("opengemini_spark.api", "to_influx_json", "influxql.shape"),
    ("opengemini_spark.api", "parse_line_protocol", "lp.parse"),
    ("opengemini_spark.api", "to_measurement_table", "lp.pivot"),
    ("opengemini_spark.influxql.planner", "Planner.plan", "influxql.plan"),
    ("opengemini_spark.influxql.planner", "load_table", "catalog.load"),
    ("opengemini_spark.suite_promql", "load_table", "catalog.load"),
    ("opengemini_spark.promql.parser", "parse_promql", "promql.parse"),
    ("opengemini_spark.promql.results_cache", "ResultsCache._eval",
     "promql.eval"),
    ("opengemini_spark.promql.shape", "rows_to_prom_matrix", "promql.shape"),
    ("opengemini_spark.storage", "write_measurement", "storage.write"),
    ("opengemini_spark.storage", "read_measurement", "storage.read"),
    ("opengemini_spark.datapipe.text", "extract_text", "datapipe.extract"),
    ("opengemini_spark.datapipe.dedup", "exact_dedup", "datapipe.exact_dedup"),
    ("opengemini_spark.datapipe.dedup", "minhash_lsh_dedup",
     "datapipe.minhash_lsh"),
    ("opengemini_spark.datapipe.text", "quality_score", "datapipe.quality"),
    ("opengemini_spark.datapipe.bpe", "bpe_train_local_full",
     "datapipe.bpe_train"),
    ("opengemini_spark.datapipe.bpe", "bpe_encode_vocab",
     "datapipe.bpe_encode"),
    ("opengemini_spark.datapipe.corpus", "pack_sequences", "datapipe.pack"),
    ("opengemini_spark.datapipe.cluster", "connected_components",
     "datapipe.cc"),
    ("opengemini_spark.datapipe.similarity", "ivfpq_topk", "datapipe.ivfpq"),
)


class Tracer:
    def __init__(self):
        self.spans: list[list] = []
        self._stack: list[int] = []
        self._saved: list[tuple] = []
        self.op: int | None = None  # current op id; None = not tracing

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self.op is None:
                return fn(*args, **kwargs)
            parent = self._stack[-1] if self._stack else None
            span = [name, time.time(), None, parent, self.op]
            self._stack.append(len(self.spans))
            self.spans.append(span)
            try:
                return fn(*args, **kwargs)
            finally:
                span[2] = time.time()
                self._stack.pop()

        return traced

    def install(self) -> None:
        for mod_name, attr, span in PATCHES:
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            fn = owner.__dict__[leaf]
            self._saved.append((owner, leaf, fn))
            setattr(owner, leaf, self._wrap(fn, span))

    def uninstall(self) -> None:
        for owner, leaf, fn in reversed(self._saved):
            setattr(owner, leaf, fn)
        self._saved.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, start, end, parent, op in self.spans:
                f.write(json.dumps({"name": name, "start": start, "end": end,
                                    "parent": parent, "op": op}) + "\n")


def self_ms(spans: list[list]) -> dict[str, float]:
    """Self time per span name: duration minus direct children, in ms."""
    out: dict[str, float] = {}
    child: dict[int, float] = {}
    for s in spans:
        if s[3] is not None:
            child[s[3]] = child.get(s[3], 0.0) + (s[2] - s[1])
    for i, s in enumerate(spans):
        d = (s[2] - s[1]) - child.get(i, 0.0)
        out[s[0]] = out.get(s[0], 0.0) + 1000.0 * d
    return out


def intervals(spans: list[list], name: str) -> list[tuple[float, float]]:
    """Outermost intervals of spans called ``name``, in ms since the epoch
    (start floored: Spark stamps jobs with whole milliseconds)."""
    out = []
    for s in spans:
        if s[0] == name and not _has_ancestor(spans, s, name):
            out.append((float(int(1000.0 * s[1])), 1000.0 * s[2]))
    return out


def _has_ancestor(spans, s, name) -> bool:
    p = s[3]
    while p is not None:
        if spans[p][0] == name:
            return True
        p = spans[p][3]
    return False


def count_within(times: list[float], ivals: list[tuple[float, float]]) -> int:
    return sum(1 for t in times if any(a <= t <= b for a, b in ivals))
