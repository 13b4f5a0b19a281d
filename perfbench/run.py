"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

One process, one client thread, Spark ``local[nproc]``. The run sets up
(session, seeded inputs, warm-up on other inputs), drives the workload
through the engine's public entry points for a fixed number of steps sized
to ``--seconds``, checks every output, and prints a run record, a table
and, as its last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the same loop with every layer
wrapped in spans and the Spark ledger read after each step, and reports
the per-layer metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("serve", "curate")


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile, ``p`` in (0, 100]."""
    xs = sorted(values)
    k = max(0, -(-len(xs) * p // 100) - 1)
    return xs[int(k)]


def pct_with_10_beyond(n: int) -> int:
    """The highest whole percentile that leaves at least ten samples
    above it (0 when there are fewer than eleven)."""
    return int(100 * (n - 10) / n) if n > 10 else 0


def peak_rss_mb() -> dict[str, float]:
    """Peak resident memory (VmHWM, from /proc) of this process, of the
    JVM it started, and of the Python workers under the JVM."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    me = os.getpid()
    depth, frontier = {me: 0}, [me]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in depth:
                depth[c] = depth[p] + 1
                frontier.append(c)
    out = {"driver": 0.0, "jvm": 0.0, "python_workers": 0.0}
    for pid, d in depth.items():
        try:
            with open(f"/proc/{pid}/status") as f:
                kb = next(int(ln.split()[1]) for ln in f
                          if ln.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
        key = ("driver", "jvm")[d] if d < 2 else "python_workers"
        out[key] += kb / 1024.0
    return out


def cpu_times() -> list[int]:
    """The machine's CPU time so far, by state (``/proc/stat``): user,
    nice, system, idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def unstolen_share(before: list[int], after: list[int]) -> float:
    """Of the CPU time the machine's vCPUs had work for between two
    ``cpu_times()`` reads, the share the hypervisor let them run:
    busy ÷ (busy + steal)."""
    d = [b - a for a, b in zip(before, after)]
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    return busy / (busy + d[7]) if busy + d[7] else 1.0


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time between two ``cpu_times()`` reads
    that the hypervisor gave to other guests: a run with a high share was
    slowed by its neighbours, not by the engine."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / sum(d) if sum(d) else 0.0


def _env(work: Path) -> None:
    """Keep every file Spark and Python write inside the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    # every JVM (the launcher too): no /tmp/hsperfdata, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    import tempfile

    tempfile.tempdir = None


def _session(work: Path):
    from opengemini_spark.session import get_spark

    tmp = work / "tmp"
    return get_spark(
        "perfbench",
        extra_conf={
            # a fixed-size heap with fixed generations: the JVM's resident
            # peak then follows the workload, not the collector's resizing
            "spark.driver.extraJavaOptions": (
                f"-XX:+UseParallelGC -Xms{os.environ['SPARK_DRIVER_MEM']}"
            ),
            "spark.local.dir": str(tmp),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        },
    )


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _make(name: str, spark, work: Path, seed: int):
    if name == "serve":
        from perfbench.serve import Serve

        return Serve(spark, str(work), seed)
    from perfbench.curate import Curate

    return Curate(spark, str(work), seed,
                  str(ROOT / ".perfbench_cache" / "oracle"))


def run(args) -> dict:
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    _env(work)

    t_setup = time.perf_counter()
    spark = _session(work)
    try:
        wl = _make(args.workload, spark, work, args.seed)
        wl.setup()
        setup_s = time.perf_counter() - t_setup

        tracer = led = None
        if args.trace:
            from perfbench.ledger import Ledger
            from perfbench.trace import Tracer

            tracer = Tracer()
            tracer.install()
            led = Ledger(spark)
        ops: list[dict] = []
        steps: list[dict] = []
        ledger_s = 0.0
        # a fixed number of steps, each with a run budget of step_s: later
        # steps run faster as the JIT warms, so a time-bound loop's varying
        # count would move the medians with the count, not the engine
        n_steps = max(1, math.ceil(args.seconds / wl.step_s))
        cpu0 = cpu_times()
        for i in range(n_steps):
            if tracer is not None:
                tracer.op = i
            c0 = cpu_times()
            try:
                step_ops = wl.step(i)
            except Exception as e:  # an op that raises is a failed op
                step_ops = [{"kind": "error", "s": 0.0, "error": repr(e)}]
            # a shared VM's neighbours take CPU time from this one (steal):
            # at 10% of the machine's time it slows requests by a third. An
            # op's "s" is its wall time with the step's stolen share taken
            # out, so the figures follow the engine, not the neighbours;
            # "wall_s" keeps the wall time
            share = unstolen_share(c0, cpu_times())
            for o in step_ops:
                o["wall_s"] = o["s"]
                o["s"] *= share
            if tracer is not None:
                tracer.op = None
                t0 = time.perf_counter()
                steps.append({"timed_s": sum(o["wall_s"] for o in step_ops),
                              "ledger": led.read()})
                ledger_s += time.perf_counter() - t0
            ops.extend(step_ops)
        steal = steal_pct(cpu0, cpu_times())
        rss = peak_rss_mb()
        errors = [o for o in ops if o["kind"] == "error"]
        ok_ops = [o for o in ops if o["kind"] != "error"]
        wl.check(ok_ops)
        for o in errors:
            o["ok"], o["why"] = False, o["error"]
        failed = [o for o in ops if not o["ok"]]
        summary = wl.summary(ok_ops)
        wall = wl.summary([{**o, "s": o["wall_s"]} for o in ok_ops])

        layer = None
        if tracer is not None:
            from perfbench import layers

            tracer.uninstall()
            extra = wl.trace_extra(ok_ops)
            extra["trace.latency_p50_ms"] = 1000 * summary["p50_s"]
            extra["trace.ledger_read_ms"] = 1000 * ledger_s / summary["n_ops"]
            layer = layers.compute(tracer.spans, steps, summary["n_ops"], extra)
            tracer.dump(str(out_dir / f"spans-{args.workload}-{args.seed}.jsonl"))
        versions = {
            "pyspark": __import__("pyspark").__version__,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty(
                "java.version"),
        }
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    lat = summary["latency_s"]
    e2e = {
        "setup_s": (setup_s, "s"),
        "latency_p50_ms": (1000 * summary["p50_s"], "ms"),
        "throughput_per_s": (summary["throughput_per_s"], "1/s"),
        "peak_rss_mb": (rss["driver"] + rss["jvm"], "MB"),
    }
    # p90 rests on one or two samples at this run length: recorded, not
    # gated
    detail = {"latency_p90_ms": 1000 * percentile(lat, 90),
              **_detail(summary["detail"])}
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "python": platform.python_version(), **versions,
        "cpu": _cpu_model(), "inputs": wl.sizes,
        "steps": n_steps, "samples": {"latency": len(lat)},
        "latency_ms": [1000 * x for x in lat], "rss_mb": rss,
        "steal_pct": steal,
        "wall": {"latency_p50_ms": 1000 * wall["p50_s"],
                 "throughput_per_s": wall["throughput_per_s"]},
        "latency_pct_with_10_beyond": pct_with_10_beyond(len(lat)),
        "failed_ratio": len(failed) / len(ops),
        "failures": [f"{o['kind']}: {o['why']}" for o in failed][:10],
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "detail": detail,
        "per_layer": layer,
    }
    with open(out_dir / f"run-{args.workload}-{args.seed}-t{args.trace}.json",
              "w") as f:
        json.dump(record, f, indent=1)
    if layer is not None:
        from perfbench.layers import PER_LAYER

        metrics = {k: {"value": layer[k], "unit": PER_LAYER[k][0]}
                   for k in PER_LAYER}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    return {"record": record, "result": {
        "correct": not failed, "attempted": len(ops), "failed": len(failed),
        "metrics": metrics,
    }}


def _detail(d: dict) -> dict:
    """Workload-specific figures: sample lists become p50/p90 in ms."""
    out = {}
    for k, v in d.items():
        if isinstance(v, list):
            if v:
                base = k[:-2] if k.endswith("_s") else k
                out[f"{base}_p50_ms"] = 1000 * statistics.median(v)
                out[f"{base}_p90_ms"] = 1000 * percentile(v, 90)
                out[f"{base}_samples"] = len(v)
        else:
            out[k] = v
    return out


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for need in ("opengemini_spark/__init__.py", "tools/oracle_check.py",
                 "tools/make_scale.py"):
        if not (ROOT / need).is_file():
            print(f"perfbench: {need} is missing; run from a full checkout",
                  file=sys.stderr)
            return 2
    sys.path.insert(0, str(ROOT))
    out = run(args)
    rec = out["record"]
    print("# record " + json.dumps(rec, default=str))
    for k, v in {**rec["end_to_end"], "failed_ratio": rec["failed_ratio"],
                 "steal_pct": rec["steal_pct"],
                 **{f"wall_{k}": v for k, v in rec["wall"].items()},
                 **rec["detail"]}.items():
        print(f"# {k:32s} {v:.6g}" if isinstance(v, float) else f"# {k:32s} {v}")
    for f in rec["failures"]:
        print(f"# FAILED {f}")
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
