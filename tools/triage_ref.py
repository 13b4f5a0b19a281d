"""Triage a reference test suite: extract its cases, run them through the
engine, and report PASS/FAIL per case (first diff shown). Transcription aid.

Usage: python tools/triage_ref.py TestServer_Query_Common [TestName2 ...]
"""

from __future__ import annotations

import importlib.util
import io
import json
import os
import re
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def load_cases(fn: str):
    spec = importlib.util.spec_from_file_location(
        "extract_ref_cases", os.path.join(os.path.dirname(os.path.abspath(__file__)), "extract_ref_cases.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    buf = io.StringIO()
    old_argv = sys.argv
    sys.argv = ["x", fn]
    try:
        with redirect_stdout(buf):
            mod.main()
    finally:
        sys.argv = old_argv
    ns: dict = {}
    exec(buf.getvalue(), ns)
    writes = [v for k, v in ns.items() if k.endswith("_WRITES")][0]
    cases = [v for k, v in ns.items() if k.endswith("_CASES")][0]
    warn = "WARNING" in buf.getvalue()
    return writes, cases, warn, buf.getvalue()


def main() -> None:
    from opengemini_spark.session import get_spark
    from opengemini_spark.api import handle_query, handle_write
    from opengemini_spark.ddl import DDLExecutor, MetaStore

    spark = get_spark()
    sf_dir = "/root/testdata/sf0.001"
    # the reference server pre-creates db0/rp0 before every suite
    ddl = DDLExecutor(
        spark, MetaStore(tempfile.mkdtemp(prefix="triage_meta_"))
    )
    ddl.execute("CREATE DATABASE db0")
    ddl.execute(
        "CREATE RETENTION POLICY rp0 ON db0 DURATION 0s REPLICATION 1 DEFAULT"
    )
    for fn in sys.argv[1:]:
        writes, cases, warn, raw = load_cases(fn)
        print(f"\n=== {fn}: {len(writes)} writes, {len(cases)} cases"
              + (" [uses now()]" if warn else ""))
        root = tempfile.mkdtemp(prefix="triage_")
        try:
            if writes:
                handle_write(spark, writes, root)
        except Exception as e:
            print(f"  WRITE ERROR: {e}")
            continue
        for name, q, exp in cases:
            try:
                got = handle_query(spark, sf_dir, q, epoch=None,
                                   data_root=root, ddl=ddl,
                                   now_ns=1893459723000000000)
                want = json.loads(exp)
                if got == want:
                    print(f"  PASS {name}")
                else:
                    print(f"  FAIL {name}")
                    print(f"    q:    {q}")
                    print(f"    want: {json.dumps(want)[:300]}")
                    print(f"    got:  {json.dumps(got)[:300]}")
            except Exception as e:
                print(f"  ERROR {name}: {type(e).__name__}: {str(e)[:200]}")
                print(f"    q:    {q}")


if __name__ == "__main__":
    main()
