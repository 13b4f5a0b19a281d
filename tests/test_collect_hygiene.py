"""Driver-collect hygiene gate (VERDICT r2 "Next round" #7).

Every ``.collect()`` in the engine package must be bounded: either the
call chain itself contains a ``.limit(...)`` (so at most a known number
of rows reaches the driver), or the site is on the explicit allowlist
below with a documented reason why it is bounded by construction.

This is a static AST scan, not a grep: it finds the receiver chain of
each ``collect`` call, so a ``limit`` anywhere earlier in the same
fluent chain qualifies.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "opengemini_spark"

# (relative path, enclosing function) -> why the collect is bounded.
ALLOWLIST = {
    ("influxql/planner.py", "plan_show"):
        "SHOW SERIES CARDINALITY: one row per 1-week shard group — "
        "bounded by the data's time span, not its volume",
    ("influxql/planner.py", "_plan_show_meta"):
        "SHOW TAG VALUES: one row per distinct tag value — the same "
        "tag-index materialization the reference's meta layer performs "
        "(show_tag_values_executor.go collects all values to the "
        "coordinator before the limit slice)",
    # response shaping: each of these builds an in-memory JSON body that
    # holds every collected row, so the collect brings to the driver no
    # more than the response itself; a max_row_limit cap is a limit in
    # the plan (iter_influx_blocks)
    ("influxql/shape.py", "iter_influx_blocks"):
        "uncapped InfluxQL result: every row goes into the response body",
    ("promql/shape.py", "_ordered_rows"):
        "PromQL matrix/vector: every row goes into the response body",
    ("promql/shape.py", "to_prom_vector"):
        "sorted PromQL vector: every row goes into the response body",
    ("api.py", "handle_query"):
        "SHOW TAG KEYS/VALUES, FIELD KEYS: every row goes into the "
        "per-measurement response blocks",
    ("api.py", "eval_fn"):
        "PromQL results-cache fill: the extent's rows are the cached value",
    ("api.py", "handle_prom_read"):
        "remote read: every sample goes into the response timeseries",
}


def _chain_has_limit(call: ast.Call) -> bool:
    """True if the fluent chain ending in this ``collect`` call contains a
    ``.limit(...)`` / ``.head(n)`` / ``.take(n)`` step."""
    node = call
    while True:
        if isinstance(node, ast.Call):
            node = node.func
        elif isinstance(node, ast.Attribute):
            if node.attr in ("limit", "head", "take"):
                return True
            node = node.value
        else:
            return False


def _enclosing_function(tree: ast.AST, lineno: int) -> str:
    best = ""
    for n in ast.walk(tree):
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if n.lineno <= lineno <= max(
                getattr(c, "end_lineno", n.lineno) or n.lineno
                for c in ast.walk(n)
            ):
                best = n.name
    return best


def test_no_unbounded_collect_in_engine_package():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "collect"
            ):
                if _chain_has_limit(node):
                    continue
                fn = _enclosing_function(tree, node.lineno)
                if (rel, fn) in ALLOWLIST:
                    continue
                offenders.append(f"{rel}:{node.lineno} (in {fn or '<module>'})")
    assert not offenders, (
        "unbounded .collect() outside the allowlist — add a .limit(...) to "
        "the chain or document why it is bounded: " + ", ".join(offenders)
    )
