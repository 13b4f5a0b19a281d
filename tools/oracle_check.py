"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same parquet tables, then compares row count, column names, and
order-insensitive values. Run:

    python tools/oracle_check.py [--changed-only] [sf_dir] [query ...]

``--changed-only`` skips entries whose code fingerprint matches the last
green run (cache: tools/.gate_cache.json, per sf_dir). The fingerprint
hashes the entry's defining module source, its oracle SQL, and every
``opengemini_spark`` module that module transitively references — so a
change to e.g. ``operators/fill.py`` re-runs every suite file that can
reach it, while a change to ``datapipe/codecs.py`` re-runs only the
datapipe entries. Conservative by construction: over-invalidation is
fine, a stale skip is not — anything outside the package (testdata, the
comparator itself) isn't fingerprinted, so run the full gate before a
round record.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import math
import os
import struct
import sys
import time
from types import ModuleType

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CACHE_PATH = os.path.join(os.path.dirname(__file__), ".gate_cache.json")


def _module_closure(mod: ModuleType, seen: dict[str, str]) -> None:
    """Collect source hashes of ``mod`` and every opengemini_spark module
    reachable through its globals (modules, functions, classes)."""
    if not mod.__name__.startswith("opengemini_spark") or mod.__name__ in seen:
        return
    try:
        src = inspect.getsource(mod)
    except (OSError, TypeError):
        return
    seen[mod.__name__] = hashlib.sha256(src.encode()).hexdigest()
    for val in vars(mod).values():
        child = None
        if isinstance(val, ModuleType):
            child = val
        elif callable(val) and getattr(val, "__module__", "").startswith(
            "opengemini_spark"
        ):
            child = sys.modules.get(val.__module__)
        if child is not None:
            _module_closure(child, seen)


def entry_fingerprint(fn, oracle: str | None) -> str:
    seen: dict[str, str] = {}
    _module_closure(sys.modules[fn.__module__], seen)
    payload = json.dumps(
        {"oracle": oracle, "mods": sorted(seen.items())}, sort_keys=True
    )
    return hashlib.sha256(payload.encode()).hexdigest()


def load_cache() -> dict:
    try:
        with open(CACHE_PATH) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def save_cache(cache: dict) -> None:
    with open(CACHE_PATH, "w") as f:
        json.dump(cache, f, indent=1, sort_keys=True)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def values_match(a: pd.DataFrame, b: pd.DataFrame) -> tuple[bool, str]:
    if len(a) != len(b):
        return False, f"row count {len(a)} vs {len(b)}"
    if sorted(a.columns) != sorted(b.columns):
        return False, f"columns {sorted(a.columns)} vs {sorted(b.columns)}"
    a, b = canon(a.copy()), canon(b.copy())
    for c in a.columns:
        av, bv = a[c], b[c]
        for i in range(len(av)):
            x, y = av.iloc[i], bv.iloc[i]
            if pd.isna(x) and pd.isna(y):
                continue
            if isinstance(x, float) or isinstance(y, float):
                # Exact, bitwise — the driver compares value hashes with no
                # tolerance, so the local gate must too (VERDICT r1 item 1).
                try:
                    fx, fy = float(x), float(y)
                    if math.isnan(fx) and math.isnan(fy):
                        continue
                    if struct.pack("<d", fx) != struct.pack("<d", fy):
                        return False, f"col {c} row {i}: {x!r} != {y!r}"
                except (TypeError, ValueError):
                    return False, f"col {c} row {i}: {x!r} != {y!r}"
            elif x != y:
                return False, f"col {c} row {i}: {x!r} != {y!r}"
    return True, "ok"


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--changed-only"]
    changed_only = "--changed-only" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entry_mod
    from opengemini_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = duck_con(sf_dir)
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()

    cache = load_cache()
    green = cache.get(sf_dir, {})
    fingerprints = {
        name: entry_fingerprint(fn, oracles.get(name))
        for name, fn in qs.items()
    }

    n_pass = n_fail = n_weak = n_skip = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if changed_only and green.get(name) == fingerprints[name]:
            n_skip += 1
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"WEAK {name}: rows={len(sdf)} (no oracle) [{time.time()-t0:.1f}s]")
            n_weak += 1
            continue
        try:
            ddf = con.execute(sql).fetchdf()
        except Exception as e:
            # a 169-oracle run accumulates DuckDB allocator state; a
            # transient OOM on one of the giant replay oracles is a
            # harness artifact, not a semantic failure — retry once on
            # a fresh connection before declaring FAIL
            try:
                con.close()
            except Exception:
                pass
            con = duck_con(sf_dir)
            try:
                ddf = con.execute(sql).fetchdf()
                print(
                    f"RETRY {name}: first duckdb attempt failed "
                    f"({type(e).__name__}: {str(e)[:200]}); fresh "
                    "connection succeeded"
                )
            except Exception:
                print(
                    f"FAIL {name}: duckdb error: "
                    f"{type(e).__name__}: {str(e)[:300]}"
                )
                n_fail += 1
                continue
        ok, msg = values_match(sdf, ddf)
        status = "PASS" if ok else "FAIL"
        if ok:
            n_pass += 1
            green[name] = fingerprints[name]
        else:
            n_fail += 1
            green.pop(name, None)
        print(f"{status} {name}: rows={len(sdf)} {msg if not ok else ''} [{time.time()-t0:.1f}s]")
    cache[sf_dir] = green
    save_cache(cache)
    skip_note = f", {n_skip} unchanged-skipped" if changed_only else ""
    print(f"\n{n_pass} pass, {n_fail} fail, {n_weak} weak{skip_note}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
