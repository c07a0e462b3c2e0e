"""Span recording and engine counters for the traced run.

Everything here lives outside the program: :class:`Tracer` replaces
public functions of ``git_etl_spark`` modules with wrappers that record
a span around each call, and :class:`EngineProbe` reads Spark's own app
status store. Spans are kept in memory and written as JSON lines when
the run ends.

A name is patched where it is *looked up*, not only where it is
defined: ``plans.git_pipeline`` imports ``repo_commits_df`` and the
sink functions by name, so those copies are patched in that module.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import Counter
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


class Tracer:
    """In-memory span recorder. Spans opened on worker threads (the
    ETL scans repos on a thread pool) take as parent the innermost span
    open on the thread that created the tracer, which is the call that
    started the pool. ``counts["trace.own_s"]`` is the time spent in
    the recorder itself, which is what tracing adds to a run."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> tuple[int, str, float, int | None]:
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        sid = next(self._ids)
        stack.append(sid)
        return sid, name, time.perf_counter(), parent

    def end(self, token: tuple[int, str, float, int | None]) -> None:
        sid, name, start, parent = token
        span = Span(sid, name, start, time.perf_counter(), parent, self.run_id)
        self._stack().pop()
        with self._lock:
            self.spans.append(span)

    def count(self, name: str, n: float) -> None:
        with self._lock:
            self.counts[name] += n

    def wrap(self, name: str, fn, on_result=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            token = self.begin(name)
            t1 = time.perf_counter()
            try:
                result = fn(*args, **kwargs)
            finally:
                t2 = time.perf_counter()
                self.end(token)
            if on_result is not None:
                on_result(self, args, result)
            self.count("trace.own_s", (t1 - t0) + (time.perf_counter() - t2))
            return result

        return traced

    def patch(self, module, attr: str, name: str, on_result=None) -> None:
        original = getattr(module, attr)
        setattr(module, attr, self.wrap(name, original, on_result))
        self._patched.append((module, attr, original))

    def unpatch_all(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def self_time(self, name: str) -> float:
        """Duration of ``name`` spans minus the part their children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        return sum(
            (s.end - s.start) - union_length(children.get(s.id, []))
            for s in self.spans
            if s.name == name
        )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


class EngineProbe:
    """Per-operation engine counters from Spark's app status store
    (populated with the UI disabled). :meth:`collect` after an operation
    sums the jobs that operation started, and their stages; job ids are
    sequential, so its jobs are the ids past the last one seen. Job
    intervals give the driver gap: the part of the operation's wall
    time when no job ran."""

    STAGE_DONE = ("COMPLETE", "FAILED")

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self.cores = sc.defaultParallelism
        self._next_job = 0
        self.totals: Counter = Counter()
        self.own_s = 0.0
        self._new_jobs()  # skip the set-up's jobs

    def _new_jobs(self):
        from py4j.protocol import Py4JJavaError

        # events reach the store through the asynchronous listener bus
        self._sc.listenerBus().waitUntilEmpty(30_000)
        jobs = []
        while True:
            try:
                jobs.append(self._store.job(self._next_job))
            except Py4JJavaError:
                return jobs
            self._next_job += 1

    def collect(self, start: float, end: float) -> None:
        """Add the counters of the jobs started since the last call;
        ``start``/``end`` are the operation's ``time.time()`` bounds."""
        began = time.perf_counter()
        self._collect(start, end)
        self.own_s += time.perf_counter() - began

    def _collect(self, start: float, end: float) -> None:
        t = self.totals
        stage_ids: set[int] = set()
        intervals = []
        for j in self._new_jobs():
            t["engine.jobs"] += 1
            stage_ids.update(self._conv.asJava(j.stageIds()))
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((
                    max(sub.get().getTime() / 1000.0, start),
                    min(done.get().getTime() / 1000.0, end),
                ))
        busy = union_length([iv for iv in intervals if iv[1] > iv[0]])
        t["engine.driver_gap_s"] += max(0.0, (end - start) - busy)
        t["engine.wall_s"] += end - start
        for sid in stage_ids:
            s = self._store.lastStageAttempt(sid)
            if s.status().toString() not in self.STAGE_DONE:
                continue
            t["engine.stages"] += 1
            t["engine.tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            t["engine.executor_run_s"] += s.executorRunTime() / 1000.0
            t["engine.input_mb"] += s.inputBytes() / 1e6
            t["engine.shuffle_read_mb"] += s.shuffleReadBytes() / 1e6
            t["engine.shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
            t["engine.spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6
            t["engine.gc_s"] += s.jvmGcTime() / 1000.0

    def metrics(self) -> dict[str, float]:
        t = dict(self.totals)
        wall = t.pop("engine.wall_s", 0.0)
        t["engine.core_busy_share"] = (
            t.get("engine.executor_run_s", 0.0) / (wall * self.cores) if wall else 0.0
        )
        return t


# ---- what the traced run wraps --------------------------------------------

def patch_session(tracer: Tracer) -> None:
    """Spans for set-up: the JVM launch inside the session factory, and
    the registry import."""
    import pyspark.context

    from git_etl_spark import registry

    tracer.patch(pyspark.context, "launch_gateway", "session.jvm_start")
    tracer.patch(registry, "load_all", "registry.load_all")


def _count_parse(tracer: Tracer, args, commits) -> None:
    tracer.count("sources.commits", len(commits))
    tracer.count("sources.file_changes", sum(len(c["file_changes"]) for c in commits))
    tracer.count("sources.log_mb", len(args[0].encode()) / 1e6)


def patch_program(tracer: Tracer) -> None:
    """Wrap the public functions of each layer where they are looked up."""
    import sys

    from git_etl_spark import io
    from git_etl_spark.plans import git_pipeline
    from git_etl_spark.sources import discovery, git_log

    tracer.patch(git_log, "scan_repo_commits", "sources.scan")
    tracer.patch(git_log, "parse_git_log_text", "sources.parse", _count_parse)
    tracer.patch(discovery, "load_repositories_config", "sources.discovery")
    for attr, name in (
        ("repo_commits_df", "sources.to_frame"),
        ("repo_tags_df", "sources.tags"),
        ("list_tracked_files", "sources.language"),
        ("detect_language", "sources.language"),
        ("write_staging", "sinks.stage_write"),
        ("publish_all", "sinks.publish"),
        ("upsert_parquet", "sinks.merge"),
        ("upsert_parquet_partitioned", "sinks.merge"),
        ("etl_repos", "plans.etl_repos"),
    ):
        tracer.patch(git_pipeline, attr, name)
    original = io.load_table
    for mod in [m for n, m in sys.modules.items() if n.startswith("git_etl_spark")]:
        if getattr(mod, "load_table", None) is original:
            tracer.patch(mod, "load_table", "io.load_table")


RELATIONAL_MODULES = (
    "aggregates", "joins", "windows", "relational_ext", "tpch_more",
    "tpch_subqueries", "setops", "projections", "collections", "events",
)
CURATION_MODULES = (
    "dedup", "similarity", "graph", "text", "curation", "multimodal",
    "udfs", "streaming_bridge",
)
ENGINE = (
    "engine.jobs", "engine.stages", "engine.tasks", "engine.executor_run_s",
    "engine.core_busy_share", "engine.driver_gap_s", "engine.input_mb",
    "engine.shuffle_read_mb", "engine.shuffle_write_mb", "engine.spill_mb",
    "engine.gc_s",
)


def layer_metrics(workload, tracer: Tracer, probe: EngineProbe, setup: dict) -> dict[str, float]:
    """Per-layer numbers of a traced run. Sums over the measured window
    are divided by its passes, so runs of different lengths compare.
    The tracing overhead is the time the recorder and the probe spent
    in the window: two rounds in one process differ by more than that,
    because the first is cold and the JIT keeps warming."""
    passes = workload.passes
    n = len(passes)
    ops = [r for p in passes for r in p]
    jvm = tracer.total("session.jvm_start")
    scan, parse = tracer.total("sources.scan"), tracer.total("sources.parse")
    v = {
        "session.jvm_start_s": jvm,
        "session.context_start_s": setup["context_s"] - jvm,
        "session.registry_load_s": tracer.total("registry.load_all"),
        "sources.discovery_s": tracer.total("sources.discovery") / n,
        "sources.scan_s": scan / n,
        "sources.parse_s": parse / n,
        "sources.git_wait_s": (scan - parse) / n,
        "sources.to_frame_s": tracer.self_time("sources.to_frame") / n,
        "sources.tags_s": tracer.total("sources.tags") / n,
        "sources.language_s": tracer.total("sources.language") / n,
        "sources.commits": tracer.counts["sources.commits"] / n,
        "sources.file_changes": tracer.counts["sources.file_changes"] / n,
        "sources.log_mb": tracer.counts["sources.log_mb"] / n,
        "plans.etl_self_s": tracer.self_time("plans.etl_repos") / n,
        "sinks.stage_write_s": tracer.total("sinks.stage_write") / n,
        "sinks.publish_s": tracer.total("sinks.publish") / n,
        "sinks.merge_s": tracer.total("sinks.merge") / n,
        "io.load_table_s": tracer.total("io.load_table") / n,
        "io.load_table_calls": sum(1 for s in tracer.spans if s.name == "io.load_table") / n,
        "trace.overhead_s": (tracer.counts["trace.own_s"] + probe.own_s) / n,
    }
    v.update(workload.layer_values())
    for mod in RELATIONAL_MODULES + CURATION_MODULES:
        mine = [r for r in ops if r.layer == f"operators.{mod}"]
        v[f"operators.{mod}.busy_s"] = sum(r.seconds for r in mine) / n
        v[f"operators.{mod}.queries"] = len(mine) / n
    engine = probe.metrics()
    for k in ENGINE:
        scale = 1 if k == "engine.core_busy_share" else n
        v[k] = engine.get(k, 0.0) / scale
    return v
