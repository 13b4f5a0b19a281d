"""Triage a reference prom_test.go suite: extract its cases, run them
through the prom HTTP handlers, and report PASS/FAIL per case.

Usage: python tools/triage_prom.py TestServer_PromQuery_Basic [Test2 ...]
"""

from __future__ import annotations

import importlib.util
import io
import json
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def load_cases(fn: str):
    spec = importlib.util.spec_from_file_location(
        "extract_prom_cases", os.path.join(os.path.dirname(os.path.abspath(__file__)), "extract_prom_cases.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    buf = io.StringIO()
    old = sys.argv
    sys.argv = ["x", fn]
    try:
        with redirect_stdout(buf):
            mod.main()
    finally:
        sys.argv = old
    ns: dict = {}
    exec(buf.getvalue(), ns)
    writes = [v for k, v in ns.items() if k.endswith("_WRITES")][0]
    cases = [v for k, v in ns.items() if k.endswith("_CASES")][0]
    return writes, cases, buf.getvalue()


def run_prom_case(spark, registry, cmd, params, path):
    """Dispatch one prom_test.go case the way the HTTP layer would."""
    from opengemini_spark import api

    sf = "/root/testdata/sf0.001"

    def _ts(v: str) -> float:
        try:
            return float(v)
        except ValueError:
            from datetime import datetime

            return datetime.fromisoformat(
                v.replace("Z", "+00:00")
            ).timestamp()

    if path.endswith("/query"):
        t = _ts(params.get("time", "0"))
        kw = {}
        if "lookback-delta" in params:
            kw["lookback_s"] = _dur_s(params["lookback-delta"])
        return api.handle_prom_query(spark, sf, registry, cmd, t, **kw)
    m = re.match(r"(?:/prometheus/(\w+))?/api/v1/labels$", path)
    if m:
        return api.handle_prom_labels(
            spark, sf, registry, match=params.get("match[]")
        )
    m = re.match(r"(?:/prometheus/(\w+))?/api/v1/label/(\w+)/values$", path)
    if m:
        return api.handle_prom_label_values(
            spark, sf, registry, m.group(2), match=params.get("match[]"),
            start_s=_opt_ts(params.get("start")),
            end_s=_opt_ts(params.get("end")),
        )
    m = re.match(r"(?:/prometheus/(\w+))?/api/v1/series$", path)
    if m:
        return api.handle_prom_series(
            spark, sf, registry, params.get("match[]") or m.group(1),
            start_s=_opt_ts(params.get("start")),
            end_s=_opt_ts(params.get("end")),
        )
    m = re.match(r"(?:/prometheus/(\w+))?/api/v1/metadata$", path)
    if m:
        return api.handle_prom_metadata(spark, sf, registry)
    if path.endswith("/query_range"):
        kw = {}
        if "lookback-delta" in params:
            kw["lookback_s"] = _dur_s(params["lookback-delta"])
        return api.handle_prom_query_range(
            spark, sf, registry, cmd,
            _ts(params["start"]), _ts(params["end"]),
            _dur_s(params["step"]), **kw,
        )
    raise ValueError(f"unsupported path {path}")


def _opt_ts(v):
    return None if v is None else float(v)


def _dur_s(s: str):
    if re.match(r"^\d+(\.\d+)?$", s):
        return float(s)
    units = {"ms": 0.001, "s": 1, "m": 60, "h": 3600, "d": 86400}
    total = 0.0
    for v, u in re.findall(r"(\d+(?:\.\d+)?)(ms|s|m|h|d)", s):
        total += float(v) * units[u]
    return total


def main() -> None:
    from opengemini_spark.promql.ingest import registry_from_line_protocol
    from opengemini_spark.session import get_spark

    spark = get_spark()
    for fn in sys.argv[1:]:
        writes, cases, raw = load_cases(fn)
        for ln in raw.splitlines():
            if ln.startswith(("# WARNING", "# NOTE")):
                print(f"  {ln}")
        print(f"\n=== {fn}: {len(writes)} writes, {len(cases)} cases")
        try:
            registry = registry_from_line_protocol(writes)
        except Exception as e:
            print(f"  REGISTRY ERROR: {e}")
            continue
        for name, cmd, params, path, exp in cases:
            try:
                got = run_prom_case(spark, registry, cmd, params, path)
                want = json.loads(exp)
                if got == want:
                    print(f"  PASS {name}")
                else:
                    print(f"  FAIL {name}")
                    print(f"    q:    {cmd}")
                    print(f"    want: {json.dumps(want)[:4000]}")
                    print(f"    got:  {json.dumps(got)[:4000]}")
            except Exception as e:
                print(f"  ERROR {name}: {type(e).__name__}: {str(e)[:200]}")
                print(f"    q:    {cmd}")


if __name__ == "__main__":
    main()
