#!/usr/bin/env python3
"""Benchmark entry point: one workload, closed loop, one client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S --trace 0|1

Run from the repository root. Inputs are generated from ``--seed``
into ``.perfbench_work/`` (reused for a seed already built), the
program is set up (session, registry), and whole passes of the
workload's operations run within ``--seconds`` (at least one; a pass
is a cold round of the operations, as every run of the program's CLI
job or query contract is, then a warm one). Every output is checked
(DuckDB oracles, the git ledger).
A table of metrics goes to stderr; the last line of stdout is the
JSON result. ``--trace 0`` reports the end-to-end metrics of
``BENCHMARK.json``, ``--trace 1`` its per-layer metrics from a run with
span wrappers and Spark status-store probes installed; spans are
written to ``.perfbench_work/trace-<workload>-<seed>.jsonl``.

The environment is pinned here, outside the program: all cores,
a driver heap sized to the host, the repository on ``PYTHONPATH`` for
Spark's Python workers, Spark scratch space and temp files inside
the work directory, git without user or system config, and the result
memos off for ``queries_mixed``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def pin_env(memo: bool) -> dict[str, str]:
    """Set the program's environment before Spark starts; returns it."""
    from perfbench import fleet

    with open("/proc/meminfo") as f:
        total_gb = int(f.readline().split()[1]) // (1024 * 1024)
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, f"spark-local-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # a quarter of the host, within 1-4 GB: the session's 16g default
        # does not fit small hosts, and the benchmark's data is small
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, total_gb // 4))}g",
        "SPARK_GRAFT_DISABLE_MEMO": "0" if memo else "1",
        "SPARK_LOCAL_DIRS": local,
        # Spark's Python workers import the operators by module path
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        **fleet.GIT_ENV,
    }
    os.environ.update(pinned)
    return pinned


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def _descendants(pid: int) -> list[int]:
    parents: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parents.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = parents.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def jvm_peak_mb() -> float:
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("driver JVM has no VmHWM")


def stop_spark(spark) -> None:
    """Stop the session, the driver JVM and Spark's Python workers, and
    wait until each process has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    workers = _descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def run(name: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench import tracing, workloads

    workload = workloads.WORKLOADS[name]()
    pinned = pin_env(workload.memo)
    workload.prepare(seed, WORK)

    tracer = tracing.Tracer(f"{name}-{seed}") if trace else None
    if tracer:
        tracing.patch_session(tracer)
    t0 = time.perf_counter()
    from git_etl_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{name}")
    t1 = time.perf_counter()
    try:
        from git_etl_spark import registry

        registry.load_all()
        setup = {"setup_s": time.perf_counter() - t0, "context_s": t1 - t0}

        probe = None
        if tracer:
            tracing.patch_program(tracer)
            probe = tracing.EngineProbe(spark)
        # whole passes, so every run times the same mix: another pass
        # starts only if one as long as the last still fits the window
        start = time.perf_counter()
        while True:
            begun = time.perf_counter()
            workload.passes.append(workload.run_pass(spark, probe))
            now = time.perf_counter()
            if now - start + (now - begun) > seconds:
                break
        window = time.perf_counter() - start
        peak_mb = jvm_peak_mb() + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    finally:
        if tracer:
            tracer.unpatch_all()
        stop_spark(spark)
        shutil.rmtree(pinned["SPARK_LOCAL_DIRS"], ignore_errors=True)

    ops = [r for p in workload.passes for r in p]
    failed = [r for r in ops if not r.ok]
    for r in failed[:10]:
        print(f"FAILED {r.name}: {r.error}", file=sys.stderr)
    if trace:
        tracer.write(os.path.join(WORK, f"trace-{name}-{seed}.jsonl"))
        values = tracing.layer_metrics(workload, tracer, probe, setup)
        values["engine.peak_rss_mb"] = peak_mb
    else:
        values = end_to_end_metrics(workload, setup["setup_s"])
    return {
        "workload": name,
        "seed": seed,
        "passes": len(workload.passes),
        "window_s": window,
        "env": pinned,
        "attempted": len(ops),
        "failed": len(failed),
        "values": values,
    }


def end_to_end_metrics(workload, setup_s: float) -> dict[str, float]:
    reads = [r.seconds for p in workload.passes for r in p if r.kind == "query" and r.ok]
    return {
        "setup_s": setup_s,
        "pass_s": statistics.median(sum(r.seconds for r in p) for p in workload.passes),
        "query_p50_s": statistics.median(reads),
        "queries_per_min": 60.0 * len(reads) / sum(reads),
    }


def emit(result: dict, trace: bool) -> dict:
    e2e, per_layer = declared_metrics()
    units = per_layer if trace else e2e
    values = result["values"]
    out = {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    print(
        f"workload {result['workload']}  seed {result['seed']}  "
        f"passes {result['passes']}  window {result['window_s']:.1f} s  "
        f"ops {result['attempted']}  failed {result['failed']}  "
        f"failed_op_share {result['failed'] / result['attempted']:.4f}",
        file=sys.stderr,
    )
    for k, v in result["env"].items():
        print(f"  env {k}={v}", file=sys.stderr)
    for k, m in out["metrics"].items():
        print(f"  {k:42s} {m['value']:14.4f} {m['unit']}", file=sys.stderr)
    return out


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if args.workload == "all":
        # each workload in its own process, as the benchmark runs them
        rc = 0
        for name in WORKLOADS:
            rc |= subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", name,
                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                 "--trace", str(args.trace)],
                cwd=ROOT, stdout=subprocess.DEVNULL,
            ).returncode
        return rc

    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(emit(result, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    missing = [
        p for p in ("git_etl_spark/__init__.py", "tests/oracle_utils.py", "BENCHMARK.json")
        if not os.path.exists(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: not a repository checkout, missing {missing}", file=sys.stderr)
        sys.exit(2)
    sys.exit(main())
