"""Stateful per-series recurrences: EMA family, Holt-Winters, anomaly
detection (the reference's castor/ML hook).

Reference: the EMA/Kaufman/Holt-Winters family is compiled at
``query/compile.go:810-818`` and executed by dedicated transforms
(``holt_winters_transform.go``); ``castor()`` ships chunks to a Python
worker over Arrow (``engine/executor/udaf_functions.go:39``,
``services/castor/``).

Spark-first realization: ``mapInPandas`` over data hash-partitioned by the
series key and sorted (series, time) within partitions — the Arrow batch
transfer the reference hand-built is Spark's native UDF path, and batching
whole partitions (instead of one Arrow round-trip per group as
``groupBy().applyInPandas`` does) keeps the per-series call overhead off
the hot path when series are small and numerous. Scale: groups are
independent and spread across all executors by the hash repartition; a
single enormous series would need chunked prefix-scan treatment, which
time-series workloads don't hit (series are sharded by tags).

Determinism note: recurrences use only +,*,- IEEE doubles in fixed order,
so the DuckDB recursive-CTE oracles in suite_advanced.py reproduce them
bit-for-bit — even the pandas path is hash-checked, not trusted.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType


def _per_series_schema(
    id_cols: list[tuple[str, object]],
    order_cols: list[tuple[str, object]],
    out_cols: list[str],
) -> StructType:
    fields = [StructField(n, t) for n, t in id_cols]
    fields.append(StructField("rn", LongType()))
    fields += [StructField(n, t) for n, t in order_cols]
    fields += [StructField(c, DoubleType()) for c in out_cols]
    return StructType(fields)


def _apply_recurrence(
    df: DataFrame,
    series_cols: list[str],
    order_cols: list[str],
    value_col: str,
    out_cols: list[str],
    fn: Callable[[pd.Series], pd.DataFrame],
) -> DataFrame:
    """Run ``fn(values) -> DataFrame[out_cols]`` per series, time-ordered.

    Output: series columns + ``rn`` (1-based position) + order_cols (the
    point's own ordering values) + out_cols.
    """
    schema = _per_series_schema(
        [(c, df.schema[c].dataType) for c in series_cols],
        [(c, df.schema[c].dataType) for c in order_cols],
        out_cols,
    )
    cols = series_cols + order_cols + [value_col]
    # mapInPandas over hash-partitioned + partition-sorted data instead of
    # groupBy().applyInPandas(): the latter makes one Arrow round-trip PER
    # GROUP, which for many small series (1500 series × 67 rows at sf0.1)
    # is pure call overhead. Here each task gets whole Arrow batches and
    # loops groups in-process; series stay intact because the repartition
    # hashes on the full series key and the sort makes them contiguous.
    if series_cols:
        src = (
            df.select(*cols)
            .repartition(*[F.col(c) for c in series_cols])
            .sortWithinPartitions(*(series_cols + order_cols))
        )
    else:
        # a single global series: one partition, time-ordered
        src = df.select(*cols).repartition(1).sortWithinPartitions(*order_cols)

    def run_group(pdf: pd.DataFrame) -> pd.DataFrame:
        out = fn(pdf[value_col].reset_index(drop=True))
        for i, c in enumerate(order_cols):
            out.insert(i, c, pdf[c].to_numpy())
        out.insert(0, "rn", range(1, len(out) + 1))
        for c in reversed(series_cols):
            out.insert(0, c, pdf[c].iloc[0])
        return out

    def run_partition(batches):
        if not series_cols:
            # global series: the single partition IS the group
            whole = [p for p in batches if len(p)]
            if whole:
                yield run_group(pd.concat(whole, ignore_index=True))
            return
        pending: pd.DataFrame | None = None
        for pdf in batches:
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            if not len(pdf):
                continue
            # rows are sorted by series key, so the last key's rows form a
            # contiguous tail block — hold it back, it may continue in the
            # next Arrow batch.
            last = pdf.iloc[-1]
            tail = pd.Series(True, index=pdf.index)
            for c in series_cols:
                # null-safe equality: a null-keyed series (GROUP BY on a
                # missing tag) landing on a batch boundary must NOT split
                # into two recurrence seeds (plain == is False for NaN)
                tail &= (pdf[c] == last[c]) | (
                    pdf[c].isna() & pd.isna(last[c])
                )
            head, pending = pdf[~tail], pdf[tail]
            for _, g in head.groupby(series_cols, sort=False, dropna=False):
                yield run_group(g.reset_index(drop=True))
        if pending is not None and len(pending):
            for _, g in pending.groupby(series_cols, sort=False,
                                        dropna=False):
                yield run_group(g.reset_index(drop=True))

    return src.mapInPandas(run_partition, schema)


def exponential_moving_average(
    df: DataFrame,
    series_cols: list[str],
    order_cols: list[str],
    value_col: str,
    alpha: float,
) -> DataFrame:
    """EMA: ema_1 = x_1; ema_i = α·x_i + (1−α)·ema_{i−1}."""
    a, b = alpha, 1.0 - alpha

    def ema(x: pd.Series) -> pd.DataFrame:
        out = []
        prev = None
        for v in x:
            prev = v if prev is None else a * v + b * prev
            out.append(prev)
        return pd.DataFrame({"ema": out})

    return _apply_recurrence(df, series_cols, order_cols, value_col, ["ema"], ema)


def holt_winters_fit(
    df: DataFrame,
    series_cols: list[str],
    order_cols: list[str],
    value_col: str,
    alpha: float,
    beta: float,
) -> DataFrame:
    """Holt's linear (double exponential) smoothing, fitted values.

    l_1 = x_1, b_1 = 0;
    l_i = α·x_i + (1−α)·(l_{i−1} + b_{i−1});
    b_i = β·(l_i − l_{i−1}) + (1−β)·b_{i−1};  fit_i = l_i + b_i.
    (The reference's holt_winters seasonal variant adds a seasonal index;
    the recurrence structure — and the Spark execution shape — is the same.)
    """
    a, b2 = alpha, beta

    def hw(x: pd.Series) -> pd.DataFrame:
        fit = []
        lv = bv = None
        for v in x:
            if lv is None:
                lv, bv = v, 0.0
            else:
                prev_l = lv
                lv = a * v + (1.0 - a) * (lv + bv)
                bv = b2 * (lv - prev_l) + (1.0 - b2) * bv
            fit.append(lv + bv)
        return pd.DataFrame({"hw_fit": fit})

    return _apply_recurrence(df, series_cols, order_cols, value_col, ["hw_fit"], hw)


def kaufman_adaptive_ma(
    df: DataFrame,
    series_cols: list[str],
    order_cols: list[str],
    value_col: str,
    n: int,
    fast: int = 2,
    slow: int = 30,
) -> DataFrame:
    """KAMA: efficiency-ratio-adaptive EMA (kaufmans_adaptive_moving_average).

    er_i = |Δₙx| / Σ|Δx| over the window, on RAW float deltas — matching the
    reference's float efficiency ratio (no quantization; was integer cents
    in r2, which distorted sub-cent series, per ADVICE r2). Reproducibility
    comes from summation ORDER instead: the volatility sum is accumulated
    oldest→newest, and the SQL oracle mirrors that exact order with a
    left-associative lag-chain (not an engine-ordered window SUM), so IEEE
    arithmetic agrees bit-for-bit.
    sc_i = (er·(2/(fast+1) − 2/(slow+1)) + 2/(slow+1))²;
    kama_i = kama_{i−1} + sc_i·(x_i − kama_{i−1}), seeded at x_{n−1}.
    Emitted from position n+1 (rn > n).
    """
    fsc, ssc = 2.0 / (fast + 1), 2.0 / (slow + 1)

    def kama(x: pd.Series) -> pd.DataFrame:
        vals = x.to_list()
        out: list[float | None] = []
        prev = None
        for i, v in enumerate(vals):
            if i < n:
                out.append(None)
                continue
            if prev is None:
                prev = vals[i - 1] if i > 0 else v
            change = abs(v - vals[i - n])
            vol = 0.0
            for j in range(i - n + 1, i + 1):  # oldest→newest, fixed order
                vol += abs(vals[j] - vals[j - 1])
            er = change / vol if vol != 0.0 else 0.0
            t = er * (fsc - ssc) + ssc
            sc = t * t
            prev = prev + sc * (v - prev)
            out.append(prev)
        return pd.DataFrame({"kama": out})

    return _apply_recurrence(df, series_cols, order_cols, value_col, ["kama"], kama)


def mad_anomaly(
    df: DataFrame,
    series_cols: list[str],
    order_cols: list[str],
    value_col: str,
    k: float = 5.0,
) -> DataFrame:
    """Castor-style anomaly detection: robust median/MAD outlier flagging.

    Per series: med = lower median of x; mad = lower median of |x − med|;
    anomaly ⇔ |x − med| > k·mad. Selection-based (no float summation), so
    exactly reproducible by the SQL oracle — the shape of the reference's
    castor detect pipeline (per-series Arrow batch → python algo → flags).
    """

    def detect(x: pd.Series) -> pd.DataFrame:
        vals = sorted(x)
        n = len(vals)
        med = vals[(n + 1) // 2 - 1]
        devs = sorted(abs(v - med) for v in x)
        mad = devs[(n + 1) // 2 - 1]
        flags = [1.0 if abs(v - med) > k * mad else 0.0 for v in x]
        return pd.DataFrame({"anomaly": flags, "score": [abs(v - med) for v in x]})

    return _apply_recurrence(
        df, series_cols, order_cols, value_col, ["anomaly", "score"], detect
    )


def sigma_anomaly(
    df: DataFrame,
    series_cols: list[str],
    order_cols: list[str],
    value_col: str,
    std_window: int = 20,
    sensitivity: float = 3.0,
    anomaly_type: str = "both",
) -> DataFrame:
    """Castor ``sigma_sliding_window`` detector — semantics ported from the
    reference's shipped UDF (python/ts-udf/server/udf/
    sudden_increase_STL3.py:146-176 ``sigma_sliding_window`` +
    :71-86 ``filter_indices_by_score``; dispatched via
    find_abnormal_udf.py FindAbnormalUDF.detect):

    - rolling window of ``std_window`` points feeds a mean/std estimate,
      EXCLUDING indices already flagged (so one anomaly doesn't inflate the
      baseline for its neighbors — sequential, genuinely non-SQL);
    - std floored at 5% of the window mean;
    - point t is an upper anomaly when v > mean + sensitivity·std (lower:
      mirrored), scored (v − mean)/(std + 1);
    - final filter keeps scores ≥ max_score · min(sensitivity/15, 0.9).

    Output per input row: ``anomaly`` 0/1, ``updown`` +1 upper / −1 lower /
    0, ``score`` (0 when not an anomaly). Series shorter than
    ``std_window + 1`` emit all-zero flags (the reference returns empty).
    Fully hash-oracled since r5: the DuckDB oracle replays the recurrence
    with a recursive CTE carrying the flagged-index list; value behavior
    additionally pinned in tests/test_castor.py.
    """
    pct = min(sensitivity / 15.0, 0.9)

    def detect(x: pd.Series) -> pd.DataFrame:
        return _sigma_detect(
            x.to_numpy(dtype=float), std_window, sensitivity,
            anomaly_type, pct,
        )

    return _apply_recurrence(
        df, series_cols, order_cols, value_col,
        ["anomaly", "updown", "score"], detect,
    )


def chande_momentum(
    df: DataFrame,
    series_cols: list[str],
    order_cols: list[str],
    value_col: str,
    n: int,
) -> DataFrame:
    """chande_momentum_oscillator: window-based, built-in window functions.

    cmo = 100·(Σgains − Σlosses)/(Σgains + Σlosses) over the last n diffs
    — no recursion, so this stays JVM-side (lag + sum over a row frame).

    Diffs are RAW floats (the reference's ChandeMomentumOscillatorReduce
    accumulates float64 gains/losses — an earlier integer-cent
    quantization distorted sub-cent data, ADVICE r2 #2's sibling).
    Bounded row frames re-scan the frame in sort order, so the float sums
    accumulate deterministically.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*series_cols).orderBy(*order_cols)
    frame = w.rowsBetween(-(n - 1), 0)
    d = df.withColumn(
        "__diff", F.col(value_col) - F.lag(value_col).over(w)
    )
    d = (
        d.withColumn("__gain", F.when(F.col("__diff") > 0, F.col("__diff")).otherwise(F.lit(0.0)))
        .withColumn("__loss", F.when(F.col("__diff") < 0, -F.col("__diff")).otherwise(F.lit(0.0)))
        .withColumn("__nd", F.count("__diff").over(frame))
        .withColumn("__sg", F.sum("__gain").over(frame))
        .withColumn("__sl", F.sum("__loss").over(frame))
    )
    return (
        d.filter(F.col("__nd") >= n)
        .withColumn(
            "cmo",
            F.when(
                F.col("__sg") + F.col("__sl") > 0,
                100.0 * (F.col("__sg") - F.col("__sl")) / (F.col("__sg") + F.col("__sl")),
            ).otherwise(0.0),
        )
        .select(*series_cols, *order_cols, "cmo")
    )


def double_ema(
    df: DataFrame,
    series_cols: list[str],
    order_cols: list[str],
    value_col: str,
    alpha: float,
) -> DataFrame:
    """DEMA (double_exponential_moving_average): 2·EMA(x) − EMA(EMA(x)).

    Two chained recurrences in one pandas pass; the oracle chains two
    recursive CTEs the same way.
    """
    a, b = alpha, 1.0 - alpha

    def dema(x: pd.Series) -> pd.DataFrame:
        e1: list[float] = []
        prev = None
        for v in x:
            prev = v if prev is None else a * v + b * prev
            e1.append(prev)
        e2: list[float] = []
        prev = None
        for v in e1:
            prev = v if prev is None else a * v + b * prev
            e2.append(prev)
        return pd.DataFrame({"dema": [2.0 * u - w for u, w in zip(e1, e2)]})

    return _apply_recurrence(df, series_cols, order_cols, value_col, ["dema"], dema)


def triple_ema(
    df: DataFrame,
    series_cols: list[str],
    order_cols: list[str],
    value_col: str,
    alpha: float,
) -> DataFrame:
    """TEMA (triple_exponential_moving_average, compile.go:810-815):
    3·EMA(x) − 3·EMA²(x) + EMA³(x) — three chained recurrences in one
    Arrow pass; the oracle chains three recursive CTEs."""
    a, b = alpha, 1.0 - alpha

    def _chain(xs: list[float]) -> list[float]:
        out: list[float] = []
        prev = None
        for v in xs:
            prev = v if prev is None else a * v + b * prev
            out.append(prev)
        return out

    def tema(x: pd.Series) -> pd.DataFrame:
        e1 = _chain(list(x))
        e2 = _chain(e1)
        e3 = _chain(e2)
        return pd.DataFrame(
            {"tema": [3.0 * u - 3.0 * v + w for u, v, w in zip(e1, e2, e3)]}
        )

    return _apply_recurrence(df, series_cols, order_cols, value_col, ["tema"], tema)


def triple_exponential_derivative(
    df: DataFrame,
    series_cols: list[str],
    order_cols: list[str],
    value_col: str,
    alpha: float,
) -> DataFrame:
    """TRIX (triple_exponential_derivative): 1-step percent change of the
    triple-smoothed EMA, emitted from the second point:
    trix_i = (e3_i / e3_{i−1} − 1)·100."""
    a, b = alpha, 1.0 - alpha

    def _chain(xs: list[float]) -> list[float]:
        out: list[float] = []
        prev = None
        for v in xs:
            prev = v if prev is None else a * v + b * prev
            out.append(prev)
        return out

    def trix(x: pd.Series) -> pd.DataFrame:
        e3 = _chain(_chain(_chain(list(x))))
        vals: list[float | None] = [None]
        for i in range(1, len(e3)):
            vals.append((e3[i] / e3[i - 1] - 1.0) * 100.0)
        return pd.DataFrame({"trix": vals})

    return _apply_recurrence(df, series_cols, order_cols, value_col, ["trix"], trix)


def relative_strength_index(
    df: DataFrame,
    series_cols: list[str],
    order_cols: list[str],
    value_col: str,
    n: int,
) -> DataFrame:
    """RSI (relative_strength_index): Wilder's smoothing. The first
    average gain/loss is the simple mean of the first n diffs; then
    avg_i = (avg_{i−1}·(n−1) + cur_i)/n, RSI = 100 − 100/(1 + gain/loss).
    Emitted from the (n+1)-th point; an all-gain window is RSI 100."""

    def rsi(x: pd.Series) -> pd.DataFrame:
        vals = list(x)
        out: list[float | None] = [None] * len(vals)
        if len(vals) <= n:
            return pd.DataFrame({"rsi": out})
        gains = [0.0] * len(vals)
        losses = [0.0] * len(vals)
        for i in range(1, len(vals)):
            d = vals[i] - vals[i - 1]
            gains[i] = d if d > 0 else 0.0
            losses[i] = -d if d < 0 else 0.0
        ag = sum(gains[1 : n + 1]) / n
        al = sum(losses[1 : n + 1]) / n
        out[n] = 100.0 if al == 0 else 100.0 - 100.0 / (1.0 + ag / al)
        for i in range(n + 1, len(vals)):
            ag = (ag * (n - 1) + gains[i]) / n
            al = (al * (n - 1) + losses[i]) / n
            out[i] = 100.0 if al == 0 else 100.0 - 100.0 / (1.0 + ag / al)
        return pd.DataFrame({"rsi": out})

    return _apply_recurrence(df, series_cols, order_cols, value_col, ["rsi"], rsi)


def stl_anomaly(
    df: DataFrame,
    series_cols: list[str],
    order_cols: list[str],
    value_col: str,
    std_window: int = 20,
    sensitivity: float = 3.0,
    resid_weight: float = 2.0,
    trend_weight: float = 3.0,
    all_weight: float = 3.0,
    anomaly_type: str = "both",
) -> DataFrame:
    """Castor ``single_metric_anomaly_STL`` detector — semantics ported
    from the reference's shipped UDF (python/ts-udf/server/udf/
    sudden_increase_STL3.py:88-143 ``STL_sliding_window`` and :185
    ``single_metric_anomaly_STL`` dispatch), with the statsmodels STL
    call replaced by the in-repo Cleveland-1990 implementation
    (operators/stl.py — the declared external-lib boundary closed):

    - series ≤ std_window → nothing; series < 30 + std_window → the
      sigma_sliding_window path (sigma_anomaly's detector);
    - otherwise STL(period=3, robust) decomposes the series; CANDIDATE
      indices are mean ± weight·std outliers of the residual (w=2) and
      trend (w=3) components, plus second-half points outside the
      first-half mean ± 3·std (``find_indices2``);
    - candidates at/after start_index (= n/2 for n > 60, else n − 30)
      are CONFIRMED against a rolling std_window baseline that EXCLUDES
      candidate indices, std floored at 5% of the baseline mean, scored
      (|v − mean|)/(std + 1);
    - the final filter keeps scores ≥ max_score · min(sensitivity/15, .9).

    Output shape matches ``sigma_anomaly``: per input row ``anomaly``
    0/1, ``updown`` ±1/0, ``score``. Rows-only driver check; value
    behavior pinned in tests/test_castor.py.
    """
    import numpy as np

    from opengemini_spark.operators.stl import stl_decompose

    pct = min(sensitivity / 15.0, 0.9)

    def _outliers(seq: np.ndarray, weight: float, up: bool) -> list[int]:
        mean, std = float(np.mean(seq)), float(np.std(seq))
        if up:
            return [int(i) for i, x in enumerate(seq) if x > mean + weight * std]
        return [int(i) for i, x in enumerate(seq) if x < mean - weight * std]

    def _outliers2(head: np.ndarray, tail: np.ndarray, weight: float,
                   up: bool) -> list[int]:
        mean, std = float(np.mean(head)), float(np.std(head))
        off = len(head)
        if up:
            return [off + int(i) for i, x in enumerate(tail)
                    if x > mean + weight * std]
        return [off + int(i) for i, x in enumerate(tail)
                if x < mean - weight * std]

    def detect(x: pd.Series) -> pd.DataFrame:
        vals = x.to_numpy(dtype=float)
        n = len(vals)
        empty = pd.DataFrame({
            "anomaly": [0.0] * n, "updown": [0.0] * n, "score": [0.0] * n,
        })
        if n <= std_window:
            return empty
        if n < 30 + std_window:
            return _sigma_detect(
                vals, std_window, sensitivity, anomaly_type, pct
            )
        start = int(n / 2 if n > 60 else n - 30)
        start = max(start, 0)
        trend, _seas, resid = stl_decompose(vals, period=3, robust=True)
        up_cand = sorted(
            set(_outliers(resid, resid_weight, True))
            | set(_outliers(trend, trend_weight, True))
            | set(_outliers2(vals[:start], vals[start:], all_weight, True))
        )
        dn_cand = sorted(
            set(_outliers(resid, resid_weight, False))
            | set(_outliers(trend, trend_weight, False))
            | set(_outliers2(vals[:start], vals[start:], all_weight, False))
        )
        cand = set(up_cand) | set(dn_cand)
        up_idx: list[int] = []
        up_score: list[float] = []
        dn_idx: list[int] = []
        dn_score: list[float] = []
        for side, cands in (("upper", up_cand), ("lower", dn_cand)):
            if anomaly_type not in ("both", side):
                continue
            mean = float(np.mean(vals[:start]))
            std = float(np.std(vals[:start]))
            for t in cands:
                if t < start:
                    continue
                window = [
                    vals[j] for j in range(max(t - std_window, 0), t)
                    if j not in cand
                ]
                if window:
                    mean = float(np.mean(window))
                    std = float(np.std(window))
                    if std < mean * 0.05:
                        std = mean * 0.05
                if side == "upper" and vals[t] > mean + sensitivity * std:
                    up_idx.append(t)
                    up_score.append((vals[t] - mean) / (std + 1))
                elif side == "lower" and vals[t] < mean - sensitivity * std:
                    dn_idx.append(t)
                    dn_score.append((mean - vals[t]) / (std + 1))
        overall = max(
            max(up_score, default=float("-inf")),
            max(dn_score, default=float("-inf")),
        )
        thr = overall * pct
        keep_up = {i for i, s in zip(up_idx, up_score) if s >= thr}
        keep_dn = {i for i, s in zip(dn_idx, dn_score) if s >= thr}
        score_of = dict(zip(up_idx, up_score)) | dict(zip(dn_idx, dn_score))
        return pd.DataFrame({
            "anomaly": [
                1.0 if i in keep_up or i in keep_dn else 0.0
                for i in range(n)
            ],
            "updown": [
                1.0 if i in keep_up else (-1.0 if i in keep_dn else 0.0)
                for i in range(n)
            ],
            "score": [
                score_of[i] if (i in keep_up or i in keep_dn) else 0.0
                for i in range(n)
            ],
        })

    return _apply_recurrence(
        df, series_cols, order_cols, value_col,
        ["anomaly", "updown", "score"], detect,
    )


def _sigma_detect(vals, std_window, sensitivity, anomaly_type, pct):
    """The sigma_sliding_window body shared by sigma_anomaly and the
    short-series branch of stl_anomaly (sudden_increase_STL3.py:190-191
    dispatch)."""
    import numpy as np

    n = len(vals)
    up_idx: list[int] = []
    up_score: list[float] = []
    dn_idx: list[int] = []
    dn_score: list[float] = []
    mean = float(np.mean(vals[:std_window]))
    std = float(np.std(vals[:std_window]))
    for i in range(n - std_window):
        flagged = set(up_idx) | set(dn_idx)
        window = [
            vals[j] for j in range(i, i + std_window) if j not in flagged
        ]
        if window:
            mean = float(np.mean(window))
            std = float(np.std(window))
            if std < mean * 0.05:
                std = mean * 0.05
        t = i + std_window
        if anomaly_type in ("both", "upper") and (
            vals[t] > mean + sensitivity * std
        ):
            up_idx.append(t)
            up_score.append((vals[t] - mean) / (std + 1))
        if anomaly_type in ("both", "lower") and (
            vals[t] < mean - sensitivity * std
        ):
            dn_idx.append(t)
            dn_score.append((mean - vals[t]) / (std + 1))
    overall = max(
        max(up_score, default=float("-inf")),
        max(dn_score, default=float("-inf")),
    )
    thr = overall * pct
    keep_up = {i for i, s in zip(up_idx, up_score) if s >= thr}
    keep_dn = {i for i, s in zip(dn_idx, dn_score) if s >= thr}
    score_of = dict(zip(up_idx, up_score)) | dict(zip(dn_idx, dn_score))
    return pd.DataFrame({
        "anomaly": [
            1.0 if i in keep_up or i in keep_dn else 0.0 for i in range(n)
        ],
        "updown": [
            1.0 if i in keep_up else (-1.0 if i in keep_dn else 0.0)
            for i in range(n)
        ],
        "score": [
            score_of[i] if (i in keep_up or i in keep_dn) else 0.0
            for i in range(n)
        ],
    })
