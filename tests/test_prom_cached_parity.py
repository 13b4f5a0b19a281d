"""``/query_range`` through the results cache gives the body the uncached
handler gives: every integer-time range case of the reference's
prom_test.go (``tests/test_reference_prom.py``) run cold and then warm
through ``handle_prom_query_range_cached``, and instant cases whose rows
carry null labels or a kept metric name run as one-point ranges through
both handlers."""

from __future__ import annotations

import json
import re

import pytest

from opengemini_spark.api import (
    handle_prom_query_range,
    handle_prom_query_range_cached,
)
from opengemini_spark.promql.results_cache import ResultsCache
from tests import test_reference_prom as ref
from tests.test_api import _events_registry
from tools.triage_prom import _dur_s


def _cache() -> ResultsCache:
    # µs engine clock far past every case's window: nothing is too fresh
    return ResultsCache(now_ms=lambda: 10**18)


def _int_range_cases():
    out = []
    for tag in ref.SUITE_TAGS:
        for i, (name, cmd, params, path, exp) in enumerate(
            getattr(ref, f"{tag}_CASES")
        ):
            if path.endswith("/query_range") and all(
                re.fullmatch(r"-?\d+", params[k]) for k in ("start", "end")
            ):
                out.append(pytest.param(tag, i, id=f"{tag}:{i}:{name[:40]}"))
    return out


@pytest.mark.parametrize("tag,i", _int_range_cases())
def test_cached_range_equals_reference(spark, sf_dir, tag, i):
    name, cmd, params, _, exp = getattr(ref, f"{tag}_CASES")[i]
    cache = _cache()
    args = (spark, sf_dir, ref._registry(tag), cmd, int(params["start"]),
            int(params["end"]), int(_dur_s(params["step"])), cache)
    cold = handle_prom_query_range_cached(*args)
    assert cold == json.loads(exp), f"{name!r} cold: {json.dumps(cold)[:800]}"
    warm = handle_prom_query_range_cached(*args)
    assert warm == cold, f"{name!r} warm: {json.dumps(warm)[:800]}"


def _one_point(tag: str, i: int):
    _, cmd, params, _, _ = getattr(ref, f"{tag}_CASES")[i]
    return ref._registry(tag), cmd, int(params["time"])


@pytest.mark.parametrize("case", [
    # rows that lack a label: {a="abb"} beside {aa="bb"}
    pytest.param(lambda: _one_point("TPromQuerySelectorBugFix", 0),
                 id="TPromQuerySelectorBugFix:0"),
    # an `or` whose sides carry different label sets
    pytest.param(lambda: _one_point("TPromQueryNameTagBugFix", 0),
                 id="TPromQueryNameTagBugFix:0"),
    # a function that keeps the metric name
    pytest.param(lambda: (_events_registry(),
                          "last_over_time(events_value[1h])",
                          1704067200 + 10 * 86400),
                 id="last_over_time"),
])
def test_cached_one_point_range_equals_uncached(spark, sf_dir, case):
    registry, cmd, t = case()
    plain = handle_prom_query_range(spark, sf_dir, registry, cmd, t, t, 60)
    assert plain["status"] == "success", plain
    assert plain["data"]["result"], plain
    cached = handle_prom_query_range_cached(
        spark, sf_dir, registry, cmd, t, t, 60, _cache()
    )
    assert cached == plain
    assert json.dumps(cached) == json.dumps(plain)
