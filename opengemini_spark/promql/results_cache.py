"""PromQL range-query results cache: split/extent caching at the HTTP edge.

Reference parity: openGemini's ResultsCache
(lib/util/lifted/influx/httpd/results_cache.go — the Cortex/Thanos
split-and-cache design): cached *extents* of an evaluated range query are
keyed by (query, step, grid phase); a new request is partitioned into
cached extents plus missing gaps, ONLY the gaps are evaluated, and the
merged result is stored back. Data fresher than ``max_freshness_ms`` is
never cached (results_cache.go:77 maxCacheTime / filterRecentExtents),
extents smaller than ``min_extent_ms`` aren't kept (:57 minCacheExtent),
and ``Cache-Control: no-store`` bypasses the cache entirely
(:38 shouldCache).

Spark-first placement: the cache lives on the driver at the HTTP edge and
stores the already-materialized grid rows (bounded by the response size —
the range grid, not the raw series), so the expensive part it saves is
the whole Spark evaluation of the overlapping window. The evaluation
callback receives only the missing sub-ranges, which keeps Catalyst plans
identical to the uncached path.

The grid phase (``start_ms % step_ms``) is part of the key: extents from
requests with different phases never mix, so merged rows always sit on
one consistent grid.

The cache keeps rows in no particular order and returns them in extent
order: series order is the response shaper's
(:func:`opengemini_spark.promql.shape.rows_to_prom_matrix`), the same for
a cached and an uncached request.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable

Row = dict  # {label: str, ..., "t": int(ms), "value": float}
EvalFn = Callable[[int, int], list[Row]]


@dataclass
class Extent:
    start_ms: int
    end_ms: int
    rows: list[Row] = field(default_factory=list)


@dataclass
class CacheStats:
    requests: int = 0
    full_hits: int = 0
    partial_hits: int = 0
    misses: int = 0
    evaluated_ranges: list[tuple[int, int]] = field(default_factory=list)


class ResultsCache:
    def __init__(
        self,
        max_freshness_ms: int = 5 * 60 * 1000,
        min_extent_ms: int = 5 * 60 * 1000,
        max_entries: int = 256,
        now_ms: Callable[[], int] | None = None,
    ):
        self.max_freshness_ms = max_freshness_ms
        self.min_extent_ms = min_extent_ms
        self.max_entries = max_entries
        self._now_ms = now_ms or (lambda: int(time.time() * 1000))
        self._store: dict[str, list[Extent]] = {}
        self.stats = CacheStats()

    # -- public ------------------------------------------------------------

    def key(self, promql: str, step_ms: int, start_ms: int) -> str:
        return f"{promql}|{step_ms}|{start_ms % step_ms if step_ms else 0}"

    def do(
        self,
        key: str,
        start_ms: int,
        end_ms: int,
        step_ms: int,
        eval_fn: EvalFn,
        cache_control: str | None = None,
    ) -> list[Row]:
        """Serve [start,end] from cached extents + gap evaluations.

        Rows come back in extent order, each extent's rows as evaluated
        or merged; the response shaper orders them."""
        self.stats.requests += 1
        if cache_control == "no-store":
            return self._eval(eval_fn, start_ms, end_ms)

        cached = self._store.get(key, [])
        overlapping = [
            e for e in cached if e.end_ms >= start_ms and e.start_ms <= end_ms
        ]
        gaps = self._gaps(start_ms, end_ms, step_ms, overlapping)
        if not overlapping:
            self.stats.misses += 1
        elif gaps:
            self.stats.partial_hits += 1
        else:
            self.stats.full_hits += 1

        new_extents = [
            Extent(s, e, self._eval(eval_fn, s, e)) for s, e in gaps
        ]
        merged = self._merge(overlapping + new_extents)
        self._store_back(key, cached, merged)

        return [
            r
            for e in merged
            for r in e.rows
            if start_ms <= r["t"] <= end_ms
        ]

    # -- internals ---------------------------------------------------------

    def _eval(self, eval_fn: EvalFn, s: int, e: int) -> list[Row]:
        self.stats.evaluated_ranges.append((s, e))
        return eval_fn(s, e)

    @staticmethod
    def _gaps(
        start_ms: int, end_ms: int, step_ms: int, extents: list[Extent]
    ) -> list[tuple[int, int]]:
        """Missing grid sub-ranges of [start,end] not covered by extents.

        Gap bounds stay on the request grid; a cached extent covers the
        grid points inside it, so the next gap starts one step after the
        extent's end (results_cache.go partition())."""
        gaps = []
        cursor = start_ms
        for e in sorted(extents, key=lambda x: x.start_ms):
            if e.start_ms > cursor:
                # last grid point strictly before the extent
                gap_end = e.start_ms - 1
                gaps.append((cursor, min(gap_end, end_ms)))
            nxt = e.end_ms + (step_ms or 1)
            # snap to the next grid point after the extent
            if step_ms:
                off = (nxt - start_ms) % step_ms
                if off:
                    nxt += step_ms - off
            cursor = max(cursor, nxt)
            if cursor > end_ms:
                break
        if cursor <= end_ms:
            gaps.append((cursor, end_ms))
        return gaps

    @staticmethod
    def _merge(extents: list[Extent]) -> list[Extent]:
        """Coalesce adjacent/overlapping extents, deduping rows by
        (labels, t)."""
        out: list[Extent] = []
        for e in sorted(extents, key=lambda x: x.start_ms):
            if out and e.start_ms <= out[-1].end_ms + 1:
                last = out[-1]
                seen = {
                    tuple(sorted((k, v) for k, v in r.items() if k != "value"))
                    for r in last.rows
                }
                for r in e.rows:
                    k = tuple(
                        sorted((k2, v) for k2, v in r.items() if k2 != "value")
                    )
                    if k not in seen:
                        last.rows.append(r)
                last.end_ms = max(last.end_ms, e.end_ms)
            else:
                out.append(Extent(e.start_ms, e.end_ms, list(e.rows)))
        return out

    def _store_back(
        self, key: str, cached: list[Extent], merged: list[Extent]
    ) -> None:
        """Persist merged extents minus the recent-freshness window and
        too-small extents (filterRecentExtents + minCacheExtent)."""
        horizon = self._now_ms() - self.max_freshness_ms
        keep: list[Extent] = []
        for e in merged:
            if e.start_ms > horizon:
                continue  # entirely within the freshness window
            if e.end_ms > horizon:
                e = Extent(
                    e.start_ms,
                    horizon,
                    [r for r in e.rows if r["t"] <= horizon],
                )
            if e.end_ms - e.start_ms >= self.min_extent_ms:
                keep.append(e)
        untouched = [
            e for e in cached
            if not any(
                e.end_ms >= k.start_ms and e.start_ms <= k.end_ms for k in keep
            )
        ]
        if keep or key in self._store:
            self._store[key] = sorted(
                untouched + keep, key=lambda x: x.start_ms
            )
        if len(self._store) > self.max_entries:
            # drop oldest-inserted entries (simple bound; the reference
            # delegates to lib/resultcache's LRU/mem cache)
            for k in list(self._store)[: len(self._store) - self.max_entries]:
                del self._store[k]
