"""Seeded input generators.

Every input the benchmark feeds the engine is made here from the workload
seed, inside the benchmark's work directory: the same seed gives the same
bytes. The shapes follow the fixture tables the engine's suite is written
against (``events``, ``documents``, ``embeddings``; see TESTDATA.md and
FIXTURES.md at the repository root), so the registered suite entries and
their DuckDB oracles run on them unchanged.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_S = 1_704_067_200  # 2024-01-01T00:00:00Z
T0_NS = T0_S * 10**9
EVENT_DAYS = 30
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

# the fixture documents' 30-word vocabulary; near-duplicates are an earlier
# document plus the token "dup"
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EMB_DIM = 64



def write_events(path: str, n: int, seed: int) -> None:
    """``events``: n points over 30 days, time-sorted, five event types."""
    rng = np.random.default_rng(seed)
    # strictly increasing, so first/last/top never tie on time
    span_us = EVENT_DAYS * 86_400 * 10**6 - n
    t_us = T0_S * 10**6 + np.sort(rng.integers(0, span_us, n)) + np.arange(n)
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(t_us, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
        "event_type": pa.array(
            np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
        ),
        "value": pa.array(np.round(rng.exponential(50.0, n), 3)),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
        ),
    })
    pq.write_table(table, path)


def write_documents(path: str, n: int, seed: int, id_base: int = 0) -> None:
    """``documents``: n bag-of-words texts, 5% near-duplicates."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, size=int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    table = pa.table({
        "doc_id": pa.array(id_base + np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, size=n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    pq.write_table(table, path)


def write_embeddings(path: str, n: int, seed: int, id_base: int = 0) -> None:
    """``embeddings``: n unit vectors of 64 float32, labels 0..9."""
    rng = np.random.default_rng(seed)
    m = rng.standard_normal((n, EMB_DIM))
    m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)
    table = pa.table({
        "vec_id": pa.array(id_base + np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(m), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })
    pq.write_table(table, path)


def write_placeholders(data_dir: str) -> None:
    """One-column stand-ins for the tables the suite's DuckDB connection
    opens but a workload does not use."""
    from tools.oracle_check import TABLES

    for name in TABLES:
        path = os.path.join(data_dir, f"{name}.parquet")
        if not os.path.exists(path):
            pq.write_table(
                pa.table({"unused": pa.array([0], type=pa.int64())}), path
            )


# -- line protocol -----------------------------------------------------------

HOSTS = tuple(f"h{i:02d}" for i in range(24))
REGIONS = ("east", "west")


class LineProtocolStream:
    """Request-sized line-protocol batches over two measurements.

    ``cpu`` (tags host, region; fields usage float, load int) and ``mem``
    (tag host; field used float). Each batch advances a write clock by
    ``span_ns``; a share of its points land out of order (earlier than the
    batch's slice) and a share overwrite a (series, time) written by an
    earlier batch. ``truth`` keeps the newest value of every point, which
    is what a read-back must return.
    """

    def __init__(self, seed: int, points: int = 2000,
                 span_ns: int = 3 * 3600 * 10**9, start_ns: int = T0_NS):
        self.rng = np.random.default_rng(seed)
        self.points = points
        self.span_ns = span_ns
        self.clock = start_ns
        self.truth: dict[tuple, tuple] = {}  # (mst, tags..., t) -> fields

    def next_batch(self) -> tuple[list[str], int, int]:
        """One batch: ``(lines, lo_ns, hi_ns)`` with every point in
        ``[lo_ns, hi_ns)``."""
        rng = self.rng
        lo, hi = self.clock, self.clock + self.span_ns
        old = list(self.truth) if self.truth else []
        seen: set[tuple] = set()
        lines: list[str] = []
        lo_seen = lo
        while len(lines) < self.points:
            r = rng.random()
            if old and r < 0.05:
                key = old[int(rng.integers(0, len(old)))]  # overwrite
            else:
                if r < 0.15 and self.clock > T0_NS:
                    # out of order: up to two spans behind the slice
                    t = int(rng.integers(max(T0_NS, lo - 2 * self.span_ns), lo))
                else:
                    t = int(rng.integers(lo, hi))
                t -= t % 10**6  # ms-aligned timestamps
                host = HOSTS[int(rng.integers(0, len(HOSTS)))]
                if rng.random() < 0.7:
                    key = ("cpu", host, REGIONS[int(rng.integers(0, 2))], t)
                else:
                    key = ("mem", host, t)
            if key in seen:
                continue
            seen.add(key)
            lo_seen = min(lo_seen, key[-1])
            if key[0] == "cpu":
                usage = round(float(rng.uniform(0, 100)), 3)
                load = int(rng.integers(0, 64))
                self.truth[key] = (usage, load)
                lines.append(
                    f"cpu,host={key[1]},region={key[2]} "
                    f"usage={usage!r},load={load}i {key[3]}"
                )
            else:
                used = round(float(rng.uniform(0, 64)), 3)
                self.truth[key] = (used,)
                lines.append(f"mem,host={key[1]} used={used!r} {key[2]}")
        self.clock = hi
        return lines, lo_seen, hi
