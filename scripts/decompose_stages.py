#!/usr/bin/env python
"""Per-stage decomposition of named queries (VERDICT r15 task 3).

Runs each named query once (bench methodology: noop sink, bench warm-up
absorbed first) in a UI-enabled session and prints, for every stage the
query ran, the engine's own metrics from the UI REST API:

    stage id, wall seconds (completion-submission), task count,
    executor run/cpu seconds, shuffle read/write bytes, input bytes,
    and the first line of the stage name (the operator callsite).

This is the evidence layer guide §1.1/§2.1 asks for: it shows where a
query's seconds actually go (which shuffle, which scan, scheduler gaps
between stages) instead of asserting a floor. Usage::

    python scripts/decompose_stages.py <query> [<query> ...] [--sf DIR]

The session matches the bench (same get_spark factory, same
$SPARK_GRAFT_CPUS) except the UI is enabled on port 4051 to expose the
metrics. Wall time here is therefore comparable to — slightly above,
UI listener overhead — the bench's per-query seconds.
"""

from __future__ import annotations

import datetime
import json
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from git_etl_spark import registry  # noqa: E402
from git_etl_spark.session import get_spark  # noqa: E402

UI_PORT = 4051


def _stages(base: str) -> dict[int, dict]:
    out: dict[int, dict] = {}
    for st in json.load(
        urllib.request.urlopen(f"{base}/stages?status=complete", timeout=15)
    ):
        out[st["stageId"]] = st
    return out


def _rest_time(value: str) -> float:
    """Epoch seconds of a REST API time such as
    ``2024-01-01T10:00:00.123GMT``, milliseconds kept."""
    return datetime.datetime.strptime(
        value.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
    ).timestamp()


def main() -> int:
    args = sys.argv[1:]
    sf = "/root/testdata/sf0.1"
    if "--sf" in args:
        i = args.index("--sf")
        sf = args[i + 1]
        args = args[:i] + args[i + 2 :]
    names = args
    registry.load_all()
    unknown = [n for n in names if n not in registry.QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2
    spark = get_spark(
        app_name="decompose-stages",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": str(UI_PORT)},
    )
    spark.sparkContext.setLogLevel("ERROR")
    base = f"http://localhost:{UI_PORT}/api/v1/applications"
    app_id = json.load(urllib.request.urlopen(base, timeout=15))[0]["id"]
    base = f"{base}/{app_id}"

    def run(name: str) -> float:
        t0 = time.perf_counter()
        df = registry.QUERIES[name](spark, sf)
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # bench warm-up triple: JIT/codegen, Arrow pool, broadcast machinery
    for w in (
        "join_multiway_regional_revenue",
        "multimodal_decode_features",
        "join_broadcast_lookup",
    ):
        run(w)

    for name in names:
        before = set(_stages(base))
        spark.sparkContext.setJobDescription(f"decompose:{name}")
        wall = run(name)
        spark.sparkContext.setJobDescription(None)
        after = _stages(base)
        new = [after[sid] for sid in sorted(set(after) - before)]
        print(f"\n== {name}: wall {wall:.3f}s, {len(new)} stages ==")
        print(
            f"{'stage':>5} {'wall_s':>7} {'tasks':>5} {'run_s':>7} "
            f"{'cpu_s':>7} {'shuf_read':>11} {'shuf_write':>11} "
            f"{'input':>11}  name"
        )
        tot_wall = 0.0
        for st in new:
            sub = st.get("firstTaskLaunchedTime") or st.get("submissionTime")
            comp = st.get("completionTime")
            stage_wall = 0.0
            if sub and comp:
                stage_wall = _rest_time(comp) - _rest_time(sub)
            tot_wall += max(stage_wall, 0.0)
            print(
                f"{st['stageId']:>5} {stage_wall:>7.3f} "
                f"{st.get('numCompleteTasks', 0):>5} "
                f"{st.get('executorRunTime', 0) / 1e3:>7.2f} "
                f"{st.get('executorCpuTime', 0) / 1e9:>7.2f} "
                f"{st.get('shuffleReadBytes', 0):>11} "
                f"{st.get('shuffleWriteBytes', 0):>11} "
                f"{st.get('inputBytes', 0):>11}  "
                f"{st['name'].splitlines()[0][:60]}"
            )
        sched_gap = wall - tot_wall
        print(
            f"   sum of stage walls {tot_wall:.3f}s; driver/scheduler/"
            f"planning gap {sched_gap:.3f}s of {wall:.3f}s"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
