"""The read side of ``serve``: InfluxQL and PromQL panels over a 100k-point
``events``.

One client refreshes the dashboard: a fixed rotation of nine panels. Every InfluxQL panel
draws its time range and filters from the seed; the PromQL panels slide
their window one step per refresh through the results cache. Each
response is checked against a DuckDB twin computed after the timed loop.
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timezone

import numpy as np
import pandas as pd

from perfbench import inputs
from perfbench.checks import flatten_influx, frames_match

H_NS = 3600 * 10**9
DAY_NS = 24 * H_NS
EVENTS = 100_000
WARM_EVENTS = 5_000
PROM_WINDOW_S = 7 * 86_400
PROM_STEP_S = 6 * 3600  # the suite's PromQL grid (range 12h, step 6h)


def _rfc(ns: int) -> str:
    return datetime.fromtimestamp(ns // 10**9, tz=timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%SZ"
    )


def _range(rng) -> tuple[int, int]:
    a = inputs.T0_NS + int(rng.integers(0, 26)) * DAY_NS
    return a, a + int(rng.integers(1, 4)) * DAY_NS


def _where(a: int, b: int) -> str:
    return f"time >= '{_rfc(a)}' AND time < '{_rfc(b)}'"


def _twhere(a: int, b: int) -> str:
    return f"epoch_ns(ts) >= {a} AND epoch_ns(ts) < {b}"


# -- InfluxQL panels: (influxql, [twin SQL per statement]) --------------------

def p_window_fill(rng):
    a, b = _range(rng)
    w = int(rng.choice([1, 2, 3])) * H_NS
    v = int(rng.integers(120, 220))
    q = (f"SELECT count(value), sum(value), max(value) FROM events "
         f"WHERE value > {v} AND {_where(a, b)} "
         f"GROUP BY time({w // H_NS}h), event_type fill(0)")
    last = (b - 1) - (b - 1) % w
    twin = f"""
      WITH agg AS (
        SELECT epoch_ns(ts) - epoch_ns(ts) % {w} AS time, event_type,
               count(value) AS count, sum(value) AS sum, max(value) AS max
        FROM events WHERE value > {v} AND {_twhere(a, b)} GROUP BY 1, 2
      ), spine AS (
        SELECT unnest(generate_series({a - a % w}, {last}, {w})) AS time
      ), series AS (SELECT DISTINCT event_type FROM agg)
      SELECT s.time, se.event_type, coalesce(g.count, 0) AS count,
             coalesce(g.sum, 0) AS sum, coalesce(g.max, 0) AS max
      FROM spine s CROSS JOIN series se
      LEFT JOIN agg g ON g.time = s.time AND g.event_type = se.event_type"""
    return q, [twin]


def p_raw_filter(rng):
    a, b = _range(rng)
    et = str(rng.choice(inputs.EVENT_TYPES))
    v = int(rng.integers(100, 200))
    q = (f"SELECT value, user_id FROM events WHERE event_type = '{et}' "
         f"AND value > {v} AND {_where(a, b)}")
    twin = f"""
      SELECT epoch_ns(ts) AS time, value, user_id FROM events
      WHERE event_type = '{et}' AND value > {v} AND {_twhere(a, b)}"""
    return q, [twin]


def p_top(rng):
    a, b = _range(rng)
    q = f"SELECT top(value, 3) FROM events WHERE {_where(a, b)} GROUP BY event_type"
    twin = f"""
      SELECT event_type, time, top FROM (
        SELECT event_type, epoch_ns(ts) AS time, value AS top,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value DESC, ts ASC) AS rn
        FROM events WHERE {_twhere(a, b)})
      WHERE rn <= 3"""
    return q, [twin]


def p_first_last(rng):
    a, b = _range(rng)
    q = (f"SELECT first(value), last(value) FROM events WHERE {_where(a, b)} "
         f"GROUP BY time(6h), event_type")
    w = 6 * H_NS
    twin = f"""
      SELECT epoch_ns(ts) - epoch_ns(ts) % {w} AS time, event_type,
             arg_min(value, ts) AS first, arg_max(value, ts) AS last
      FROM events WHERE {_twhere(a, b)} GROUP BY 1, 2"""
    return q, [twin]


def p_derivative(rng):
    a, b = _range(rng)
    q = (f"SELECT derivative(mean(value), 1h) FROM events WHERE {_where(a, b)} "
         f"GROUP BY time(1h), event_type")
    twin = f"""
      WITH agg AS (
        SELECT epoch_ns(ts) - epoch_ns(ts) % {H_NS} AS time, event_type,
               avg(value) AS m
        FROM events WHERE {_twhere(a, b)} GROUP BY 1, 2
      ), d AS (
        SELECT time, event_type,
               (m - lag(m) OVER w) / ((time - lag(time) OVER w) / {H_NS})
                 AS derivative
        FROM agg WINDOW w AS (PARTITION BY event_type ORDER BY time)
      )
      SELECT * FROM d WHERE derivative IS NOT NULL"""
    return q, [twin]


def p_moving_average(rng):
    a, b = _range(rng)
    q = (f"SELECT moving_average(max(value), 3) FROM events "
         f"WHERE {_where(a, b)} GROUP BY time(2h), event_type")
    w = 2 * H_NS
    twin = f"""
      WITH agg AS (
        SELECT epoch_ns(ts) - epoch_ns(ts) % {w} AS time, event_type,
               max(value) AS mx
        FROM events WHERE {_twhere(a, b)} GROUP BY 1, 2
      ), m AS (
        SELECT time, event_type,
               avg(mx) OVER (PARTITION BY event_type ORDER BY time
                             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                 AS moving_average,
               row_number() OVER (PARTITION BY event_type ORDER BY time) AS rn
        FROM agg
      )
      SELECT time, event_type, moving_average FROM m WHERE rn >= 3"""
    return q, [twin]


def p_ema(rng):
    """The Arrow-UDF panel: EMA over 6h bucket counts (alpha = 2/5)."""
    a, b = _range(rng)
    q = (f"SELECT exponential_moving_average(count(value), 4) AS ema "
         f"FROM events WHERE {_where(a, b)} GROUP BY time(6h), event_type")
    w = 6 * H_NS
    twin = f"""
      WITH RECURSIVE agg AS (
        SELECT epoch_ns(ts) - epoch_ns(ts) % {w} AS time,
               event_type, CAST(count(value) AS DOUBLE) AS v
        FROM events WHERE {_twhere(a, b)} GROUP BY 1, 2
      ), ordered AS (
        SELECT event_type, time, v,
               row_number() OVER (PARTITION BY event_type ORDER BY time) AS rn
        FROM agg
      ), ema AS (
        SELECT event_type, rn, time, v AS ema FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.event_type, o.rn, o.time,
               CAST(0.4 AS DOUBLE) * o.v + CAST(0.6 AS DOUBLE) * e.ema
        FROM ordered o JOIN ema e
          ON o.event_type = e.event_type AND o.rn = e.rn + 1
      )
      SELECT time, event_type, ema FROM ema"""
    return q, [twin]


def p_subquery(rng):
    a, b = _range(rng)
    w = int(rng.choice([1, 3, 6])) * H_NS
    q = (f"SELECT count(s) AS n, min(s) AS mn, max(s) AS mx FROM "
         f"(SELECT count(value) AS s FROM events GROUP BY time({w // H_NS}h), "
         f"event_type) WHERE {_where(a, b)}")
    twin = f"""
      WITH inner_q AS (
        SELECT epoch_ns(ts) - epoch_ns(ts) % {w} AS t, event_type,
               count(*) AS s
        FROM events WHERE {_twhere(a, b)} GROUP BY 1, 2
      )
      SELECT {a} AS time, count(*) AS n, min(s) AS mn, max(s) AS mx
      FROM inner_q WHERE t >= {a} AND t < {b}"""
    return q, [twin]


def p_multi(rng):
    """Two selector statements in one request: top() and first()/last()."""
    q1, (t1,) = p_top(rng)
    q2, (t2,) = p_first_last(rng)
    return f"{q1}; {q2}", [t1, t2]


# the refresh rotation: InfluxQL panels, with a PromQL panel (by index
# into PROM_PANELS) among them so a short run still reaches both
ROTATION = (
    0, p_window_fill, p_raw_filter, p_multi, p_derivative,
    1, p_moving_average, p_ema, p_subquery,
)


# -- PromQL panels: sliding windows through the results cache -----------------

PROM_PANELS = (
    ("rate(events_value[12h])", "rate"),
    ('count_over_time(events_value{event_type=~"error|click"}[12h])', "count"),
)


def _prom_twin(kind: str, start_s: int, end_s: int) -> str:
    from opengemini_spark.suite_prom import _EXPLODE_CTE, _STATS_CTE, RANGE_S

    bound = f"t >= {start_s * 10**6} AND t <= {end_s * 10**6}"
    if kind == "rate":
        return _STATS_CTE + f"""
          SELECT event_type, t, delta / sampled * extrap / {RANGE_S} AS value
          FROM x WHERE {bound}"""
    return _EXPLODE_CTE + f"""
      SELECT event_type, t, CAST(count(*) AS DOUBLE) AS value
      FROM e WHERE event_type IN ('error', 'click')
      GROUP BY event_type, t HAVING {bound}"""


def _flatten_prom(resp: dict) -> pd.DataFrame:
    rows = []
    for s in resp["data"]["result"]:
        et = s["metric"].get("event_type")
        for t_s, val in s["values"]:
            rows.append({"event_type": et, "t": int(round(float(t_s))) * 10**6,
                         "value": float(val)})
    return pd.DataFrame(rows, columns=["event_type", "t", "value"])


class Dashboard:
    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.data_dir = os.path.join(work, "data")
        self.rng = np.random.default_rng(seed)
        self.sizes = {"events": EVENTS}

    def _prepare(self, data_dir: str, n: int, seed: int) -> None:
        os.makedirs(data_dir, exist_ok=True)
        inputs.write_events(os.path.join(data_dir, "events.parquet"), n, seed)
        inputs.write_placeholders(data_dir)

    def _new_cache(self):
        from opengemini_spark.promql.results_cache import ResultsCache

        far = (inputs.T0_S + 400 * 86_400) * 10**6  # µs engine clock
        return ResultsCache(now_ms=lambda: far)

    def setup(self) -> None:
        from opengemini_spark.suite_promql import _registry

        self.registry = _registry()
        # warm-up on a separate smaller table: every panel once, then each
        # PromQL panel again, through the cache's gap path
        warm_dir = os.path.join(self.work, "warm")
        self._prepare(warm_dir, WARM_EVENTS, self.seed + 7919)
        warm_rng = np.random.default_rng(self.seed + 7919)
        warm_cache = self._new_cache()
        warm_pos: dict = {}
        prom = [j for j, p in enumerate(ROTATION) if not callable(p)]
        for i in [*range(len(ROTATION)), *prom]:
            self._request(i, warm_dir, warm_rng, warm_cache, warm_pos,
                          inputs.T0_S)
        self._prepare(self.data_dir, EVENTS, self.seed)
        self.cache = self._new_cache()
        self.prom_pos = {}
        # each PromQL panel starts on a seeded 6h-aligned grid point
        self.prom_start = int(
            inputs.T0_S + int(self.rng.integers(2, 12)) * 86_400
        )

    def _request(self, i, data_dir, rng, cache, prom_pos, prom_start) -> dict:
        from opengemini_spark import api

        panel = ROTATION[i % len(ROTATION)]
        if callable(panel):
            q, twins = panel(rng)
            t0 = time.perf_counter()
            resp = api.handle_query(self.spark, data_dir, q)
            dt = time.perf_counter() - t0
            return {"kind": "influxql", "panel": panel.__name__,
                    "s": dt, "q": q, "twins": twins, "resp": resp}
        promql, kind = PROM_PANELS[panel]
        k = prom_pos.get(kind, 0)
        prom_pos[kind] = k + 1
        start = prom_start + k * PROM_STEP_S
        end = start + PROM_WINDOW_S
        t0 = time.perf_counter()
        resp = api.handle_prom_query_range_cached(
            self.spark, data_dir, self.registry, promql, start, end,
            PROM_STEP_S, cache,
        )
        dt = time.perf_counter() - t0
        return {"kind": "promql", "panel": kind, "s": dt, "q": promql,
                "twins": [_prom_twin(kind, start, end)], "resp": resp}

    def step(self, i: int) -> list[dict]:
        """One refresh of the whole dashboard: every panel once, so each
        run measures the same mix of panels."""
        n = len(ROTATION)
        return [self._request(j, self.data_dir, self.rng, self.cache,
                              self.prom_pos, self.prom_start)
                for j in range(i * n, (i + 1) * n)]

    def check(self, ops: list[dict]) -> None:
        from tools.oracle_check import duck_con

        con = duck_con(self.data_dir)
        for op in ops:
            op["ok"], op["why"] = self._check_one(con, op)
        con.close()

    @staticmethod
    def _check_one(con, op) -> tuple[bool, str]:
        resp = op["resp"]
        if op["kind"] == "promql":
            if resp.get("status") != "success":
                return False, str(resp)[:200]
            return frames_match(_flatten_prom(resp),
                                con.execute(op["twins"][0]).fetchdf())
        results = resp.get("results")
        if results is None or len(results) != len(op["twins"]):
            return False, str(resp)[:200]
        for block, sql in zip(results, op["twins"]):
            if "error" in block:
                return False, block["error"]
            got = flatten_influx(block)
            want = con.execute(sql).fetchdf()
            if got.empty and want.empty:
                continue
            ok, why = frames_match(got, want)
            if not ok:
                return False, why
        return True, "ok"

    def trace_extra(self, ops: list[dict]) -> dict:
        st = self.cache.stats
        hits = st.full_hits + st.partial_hits
        return {"promql.cache_hit_ratio": hits / st.requests
                if st.requests else 0.0}
