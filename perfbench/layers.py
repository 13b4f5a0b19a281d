"""Per-layer metrics of a traced run, each per operation.

An operation is a ``serve`` request (a dashboard panel, a write, a
read-back or a rollup) or a ``curate`` pass. Every metric is
reported on every workload; a layer the workload does not reach reads 0.
"""

from __future__ import annotations

from perfbench import ledger
from perfbench.trace import count_within, intervals, self_ms

# name -> (unit, better)
PER_LAYER = {
    "api.self_ms": ("ms", "lower"),
    "influxql.parse_ms": ("ms", "lower"),
    "influxql.plan_ms": ("ms", "lower"),
    "influxql.plan_jobs": ("count", "lower"),
    "influxql.shape_ms": ("ms", "lower"),
    "promql.parse_ms": ("ms", "lower"),
    "promql.eval_ms": ("ms", "lower"),
    "promql.shape_ms": ("ms", "lower"),
    "promql.cache_hit_ratio": ("ratio", "higher"),
    "promql.gap_evals_per_req": ("count", "lower"),
    "catalog.load_ms": ("ms", "lower"),
    "catalog.loads_per_req": ("count", "lower"),
    "lp.parse_ms": ("ms", "lower"),
    "lp.pivot_ms": ("ms", "lower"),
    "lp.python_worker_ms": ("ms", "lower"),
    "storage.write_ms": ("ms", "lower"),
    "storage.write_jobs": ("count", "lower"),
    "storage.files_per_batch": ("count", "lower"),
    "storage.read_ms": ("ms", "lower"),
    "storage.files_per_day": ("count", "lower"),
    "datapipe.extract_ms": ("ms", "lower"),
    "datapipe.exact_dedup_ms": ("ms", "lower"),
    "datapipe.minhash_lsh_ms": ("ms", "lower"),
    "datapipe.quality_ms": ("ms", "lower"),
    "datapipe.bpe_train_ms": ("ms", "lower"),
    "datapipe.bpe_encode_ms": ("ms", "lower"),
    "datapipe.pack_ms": ("ms", "lower"),
    "datapipe.cc_ms": ("ms", "lower"),
    "datapipe.cc_jobs": ("count", "lower"),
    "datapipe.ivfpq_ms": ("ms", "lower"),
    "datapipe.ivfpq_jobs": ("count", "lower"),
    "datapipe.lsh_pair_precision": ("ratio", "higher"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.failed_tasks": ("count", "lower"),
    "spark.job_busy_ms": ("ms", "lower"),
    "spark.driver_gap_ms": ("ms", "lower"),
    "spark.executor_run_ms": ("ms", "lower"),
    "spark.executor_cpu_ms": ("ms", "lower"),
    "spark.input_bytes": ("bytes", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.python_worker_ms": ("ms", "lower"),
    "trace.latency_p50_ms": ("ms", "lower"),
    "trace.ledger_read_ms": ("ms", "lower"),
}

_SELF = {
    "influxql.parse_ms": "influxql.parse",
    "influxql.plan_ms": "influxql.plan",
    "influxql.shape_ms": "influxql.shape",
    "promql.parse_ms": "promql.parse",
    "promql.eval_ms": "promql.eval",
    "promql.shape_ms": "promql.shape",
    "catalog.load_ms": "catalog.load",
    "lp.parse_ms": "lp.parse",
    "lp.pivot_ms": "lp.pivot",
    "storage.write_ms": "storage.write",
    "storage.read_ms": "storage.read",
    "datapipe.extract_ms": "datapipe.extract",
    "datapipe.exact_dedup_ms": "datapipe.exact_dedup",
    "datapipe.minhash_lsh_ms": "datapipe.minhash_lsh",
    "datapipe.quality_ms": "datapipe.quality",
    "datapipe.bpe_train_ms": "datapipe.bpe_train",
    "datapipe.bpe_encode_ms": "datapipe.bpe_encode",
    "datapipe.pack_ms": "datapipe.pack",
    "datapipe.cc_ms": "datapipe.cc",
    "datapipe.ivfpq_ms": "datapipe.ivfpq",
}
_JOBS_IN = {
    "influxql.plan_jobs": "influxql.plan",
    "storage.write_jobs": "storage.write",
    "datapipe.cc_jobs": "datapipe.cc",
    "datapipe.ivfpq_jobs": "datapipe.ivfpq",
}


def compute(spans: list[list], steps: list[dict], n_ops: int,
            extra: dict) -> dict:
    """``steps``: one dict per traced step with ``timed_s`` (its timed
    wall) and ``ledger`` (its ``Ledger.read()``); ``n_ops`` operations ran
    in them. ``extra`` holds workload-side ratios and layout counts,
    already per operation."""
    n = max(n_ops, 1)
    own = self_ms(spans)
    out = {k: 0.0 for k in PER_LAYER}
    out["api.self_ms"] = sum(own.get(k, 0.0)
                             for k in ("api.query", "api.write", "api.prom")) / n
    for metric, span in _SELF.items():
        out[metric] = own.get(span, 0.0) / n
    jobs = [j for st in steps for j in st["ledger"]["jobs"]]
    job_t = [j["submissionTime"] for j in jobs]
    for metric, span in _JOBS_IN.items():
        out[metric] = count_within(job_t, intervals(spans, span)) / n
    calls = {}
    for s in spans:
        calls[s[0]] = calls.get(s[0], 0) + 1
    out["catalog.loads_per_req"] = calls.get("catalog.load", 0) / n
    if calls.get("api.prom"):
        out["promql.gap_evals_per_req"] = (
            calls.get("promql.eval", 0) / calls["api.prom"])
    execs = [e for st in steps for e in st["ledger"]["executions"]]
    writes = intervals(spans, "api.write")
    out["lp.python_worker_ms"] = sum(
        e["python_worker_ms"] for e in execs
        if count_within([e["submissionTime"]], writes)
    ) / n
    tot: dict[str, float] = {}
    busy = timed = 0.0
    for st in steps:
        for k, v in ledger.totals(st["ledger"]).items():
            tot[k] = tot.get(k, 0.0) + v
        busy += ledger.busy_ms(st["ledger"]["jobs"])
        timed += 1000.0 * st["timed_s"]
    for k, v in tot.items():
        out["spark." + k] = v / n
    out["spark.job_busy_ms"] = busy / n
    out["spark.driver_gap_ms"] = (timed - busy) / n
    out.update(extra)
    return out
