"""The benchmark's workloads, each a closed loop with one client.

A workload is a fixed list of operations. One *round* runs every
operation once, and one *pass* runs two rounds in the same session:
the first is cold, as it is for the program's users, who run the CLI
job and the registry's query contract in a fresh process each time;
the second is warm, as repeated work in one session is. Timing both
makes a pass long enough that a few slow seconds of a shared host
move its total little. The measured window runs whole passes, so
every run times the same mix. Each operation is timed alone and its
output is checked afterwards, outside the timing.

- ``git_etl_fleet``: the config-mode ETL job over a seeded git fleet.
  A round resets the fleet to its base commits, loads it into an empty
  warehouse, lands ~1% new commits, refreshes the warehouse from the
  same config and runs the README query pack (D3-D7) as Spark SQL
  over it. ``sources`` and ``sinks`` do nearly all the
  work here and none in the query workload; the refresh is the write
  beside the reads.
- ``queries_mixed``: one registry query per operator module over a
  seeded corpus, with the result memos off so every call is a full
  solve. The relational half is Catalyst planning, codegen, scans and
  shuffles; the curation half is graph and vector self-joins, a
  micro-batch replay and Arrow/pandas worker crossings. No git, no
  writes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass

from . import corpus, fleet

# one query per operator module, each with a DuckDB oracle; relational
# modules first, then curation. Where a module has several, a light one
# keeps a run (set-up and a cold and a warm round) near a minute
QUERIES = (
    "agg_orders_per_day_top10",
    "join_anti_customers_without_big_orders",
    "window_rank_top3_per_nation",
    "tpch_q1_pricing_summary",
    "tpch_q6_forecast_revenue",
    "tpch_q13_order_count_distribution",
    "setop_except_heavy_users",
    "proj_json_extract",
    "array_functions_pack",
    "events_sessionize",
    "dedup_exact_rebuild",
    "simsearch_topk_bruteforce",
    "graph_triangle_top20",
    "text_token_stats",
    "pipeline_corpus_curation",
    "multimodal_binary_meta",
    "udf_pandas_token_count",
    "streaming_foreachbatch_upsert_replay",
)

# README query pack over the warehouse (SURVEY.md §2.5 D3-D7); every
# LIMIT follows a total order so the selected rows are deterministic
PACK = {
    "d3_commits_per_day": (
        ("commits",),
        "SELECT CAST(committed_at AS DATE) AS day, COUNT(*) AS commits, "
        "SUM(additions) AS additions, SUM(deletions) AS deletions "
        "FROM commits GROUP BY CAST(committed_at AS DATE) "
        "ORDER BY commits DESC, day LIMIT 10",
    ),
    "d4_hot_files": (
        ("file_changes",),
        "SELECT repo_name, file_path, COUNT(*) AS changes, "
        "SUM(additions) AS additions, SUM(deletions) AS deletions "
        "FROM file_changes GROUP BY repo_name, file_path "
        "ORDER BY changes DESC, repo_name, file_path LIMIT 20",
    ),
    "d5_commits_per_repo": (
        ("commits",),
        "SELECT repo_name, COUNT(*) AS commits FROM commits GROUP BY repo_name",
    ),
    "d6_tags_per_repo": (
        ("tags",),
        "SELECT repo_name, COUNT(*) AS tags, "
        "SUM(CASE WHEN is_annotated THEN 1 ELSE 0 END) AS annotated "
        "FROM tags GROUP BY repo_name",
    ),
    "d7_author_leaderboard": (
        ("authors",),
        "SELECT name, email, total_commits FROM authors "
        "ORDER BY total_commits DESC, email",
    ),
}


@dataclass
class OpResult:
    name: str
    kind: str  # "query" (a read) or "etl" (a write)
    seconds: float
    ok: bool
    layer: str = ""
    error: str = ""


FLEET_LAYER_KEYS = (
    "plans.etl_load_s",
    "plans.etl_refresh_s",
    "plans.etl_load_commits_per_s",
    "sinks.refresh_mb_written",
    "sinks.rewrite_ratio",
    "sinks.files",
    "sinks.warehouse_mb",
)


class Workload:
    """A fixed list of operations; ``passes`` holds the measured ones."""

    ROUNDS = 2  # a cold round, then a warm one

    def __init__(self, memo: bool):
        self.memo = memo
        self.passes: list[list[OpResult]] = []

    def prepare(self, seed: int, work: str) -> None:
        raise NotImplementedError

    def run_round(self, spark, probe=None) -> list[OpResult]:
        raise NotImplementedError

    def run_pass(self, spark, probe=None) -> list[OpResult]:
        return [r for _ in range(self.ROUNDS) for r in self.run_round(spark, probe)]

    def layer_values(self) -> dict[str, float]:
        """Per-layer numbers the workload measures itself."""
        return dict.fromkeys(FLEET_LAYER_KEYS, 0.0)


def _timed(fn, probe=None):
    """Run ``fn``, return its result and seconds; with an engine probe,
    add the counters of the jobs it ran."""
    wall = time.time()
    start = time.perf_counter()
    result = fn()
    secs = time.perf_counter() - start
    if probe is not None:
        probe.collect(wall, time.time())
    return result, secs


def digest_rows(cols, rows) -> str:
    """Order-insensitive digest of a result, with the oracle harness's
    own canonicalisation (tests/oracle_utils.py)."""
    from tests.oracle_utils import _sorted_rows

    canon = _sorted_rows(list(cols), [tuple(r) for r in rows])
    return hashlib.sha256(repr((sorted(cols), canon)).encode()).hexdigest()


class QueryWorkload(Workload):
    """Registry queries over the seeded corpus, in a fixed order: a cold
    query's time depends on what ran before it."""

    def __init__(self, queries: tuple[str, ...], memo: bool):
        super().__init__(memo)
        self.queries = queries
        self.sf_dir = ""
        self._oracle: dict[str, str] = {}
        self._rows_only: dict[str, int] = {}

    def prepare(self, seed: int, work: str) -> None:
        self.sf_dir = corpus.build(seed, os.path.join(work, f"corpus-{seed}"))

    def _run(self, spark, name: str, probe=None) -> OpResult:
        from git_etl_spark import registry

        fn = registry.QUERIES[name]
        layer = f"operators.{fn.__module__.rsplit('.', 1)[-1]}"

        def op():
            df = fn(spark, self.sf_dir)
            return df.columns, df.collect()

        try:
            (cols, rows), secs = _timed(op, probe)
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            return OpResult(name, "query", 0.0, False, layer, repr(exc)[:300])
        ok, err = self._check(name, cols, rows)
        return OpResult(name, "query", secs, ok, layer, err)

    def _check(self, name: str, cols, rows) -> tuple[bool, str]:
        from git_etl_spark import registry
        from tests.oracle_utils import duckdb_connection

        oracle = registry.ORACLES.get(name)
        if oracle is None:
            # no oracle: the same non-zero row count on every call
            first = self._rows_only.setdefault(name, len(rows))
            ok = len(rows) > 0 and len(rows) == first
            return ok, "" if ok else f"rows-only: {len(rows)} rows, first {first}"
        if name not in self._oracle:
            con = duckdb_connection(self.sf_dir)
            try:
                res = con.execute(oracle)
                dcols = [d[0] for d in res.description]
                self._oracle[name] = digest_rows(dcols, res.fetchall())
            finally:
                con.close()
        ok = digest_rows(cols, rows) == self._oracle[name]
        return ok, "" if ok else "differs from the DuckDB oracle"

    def run_round(self, spark, probe=None) -> list[OpResult]:
        return [self._run(spark, name, probe) for name in self.queries]


class FleetWorkload(Workload):
    """Config-mode ETL load, append, refresh and query pack over a fleet."""

    def __init__(self):
        super().__init__(memo=True)
        self.work = ""
        self.repos: list[fleet.Repo] = []
        self.ledger: dict = {}
        self.config = ""
        self.sink: dict[str, list[float]] = {}

    def prepare(self, seed: int, work: str) -> None:
        self.work = work
        root = os.path.join(work, f"fleet-{seed}")
        self.repos, self.ledger = fleet.build(seed, root, fleet.FLEET)
        self.config = os.path.join(work, f"fleet-{seed}.json")
        with open(self.config, "w") as f:
            json.dump({"paths": [root]}, f)

    # ---- one round ----------------------------------------------------
    def _etl(self, spark, cfg: str, warehouse: str):
        from git_etl_spark.plans import git_pipeline
        from git_etl_spark.sources import discovery

        paths = discovery.load_repositories_config(cfg)
        return git_pipeline.etl_repos(spark, paths, warehouse), len(paths)

    def run_round(self, spark, probe=None) -> list[OpResult]:
        cfg, repos, ledger = self.config, self.repos, self.ledger
        warehouse = os.path.join(self.work, "warehouse")
        shutil.rmtree(warehouse, ignore_errors=True)
        fleet.reset(repos)
        results = []
        for phase in ("base", "tip"):
            if phase == "tip":
                fleet.append(repos)
            name = "etl_load" if phase == "base" else "etl_refresh"
            begun = time.time()
            try:
                (report, n_repos), secs = _timed(
                    lambda: self._etl(spark, cfg, warehouse), probe
                )
            except Exception as exc:  # noqa: BLE001
                results.append(OpResult(name, "etl", 0.0, False,
                                        "plans.git_pipeline", repr(exc)[:300]))
                continue
            err = check_etl(report, n_repos, warehouse, ledger[phase])
            results.append(OpResult(name, "etl", secs, not err, "plans.git_pipeline", err))
            if phase == "base":
                self._record("plans.etl_load_s", secs)
                self._record("plans.etl_load_commits_per_s", ledger["base"]["commits"] / secs)
            else:
                self._record("plans.etl_refresh_s", secs)
                self._measure_sink(warehouse, begun)
        for qname, (tables, sql) in PACK.items():
            results.append(self._pack_query(spark, warehouse, qname, tables, sql, probe))
        return results

    def _pack_query(self, spark, warehouse, name, tables, sql, probe) -> OpResult:
        def op():
            for t in tables:
                spark.read.parquet(os.path.join(warehouse, t)).createOrReplaceTempView(t)
            df = spark.sql(sql)
            return df.columns, df.collect()

        try:
            (cols, rows), secs = _timed(op, probe)
        except Exception as exc:  # noqa: BLE001
            return OpResult(name, "query", 0.0, False, "pack", repr(exc)[:300])
        err = ""
        if digest_rows(cols, rows) != digest_rows(*duck_over_warehouse(warehouse, tables, sql)):
            err = "differs from DuckDB over the warehouse parquet"
        return OpResult(name, "query", secs, not err, "pack", err)

    def _measure_sink(self, warehouse: str, since: float) -> None:
        written = total = files = 0
        for dirpath, _, names in os.walk(warehouse):
            for n in names:
                st = os.stat(os.path.join(dirpath, n))
                total += st.st_size
                if n.endswith(".parquet"):
                    files += 1
                if st.st_mtime >= since:
                    written += st.st_size
        self._record("sinks.refresh_mb_written", written / 1e6)
        self._record("sinks.rewrite_ratio", written / total)
        self._record("sinks.files", files)
        self._record("sinks.warehouse_mb", total / 1e6)

    def _record(self, key: str, value: float) -> None:
        self.sink.setdefault(key, []).append(value)

    def layer_values(self) -> dict[str, float]:
        return {k: statistics.median(self.sink.get(k, [0.0])) for k in FLEET_LAYER_KEYS}


def duck_over_warehouse(warehouse: str, tables, sql: str):
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(warehouse, t)}/*.parquet')"
            )
        res = con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()
    finally:
        con.close()


def check_etl(report: dict, n_repos: int, warehouse: str, ledger: dict) -> str:
    """Compare one ETL run with the git ledger; returns "" when all
    agree, else what differs."""
    problems = []
    if report.get("failed") or len(report.get("processed", [])) != n_repos:
        problems.append(f"report: {len(report.get('processed', []))}/{n_repos} "
                        f"processed, failed={report.get('failed')}")
    summary = report.get("summary") or {}
    want = {
        "total_commits": ledger["commits"],
        "total_additions": ledger["additions"],
        "total_deletions": ledger["deletions"],
        "total_files_changed": ledger["files_changed"],
        "merge_commits": ledger["merge_commits"],
        "unique_authors": len(ledger["authors"]),
    }
    for k, v in want.items():
        if summary.get(k) != v:
            problems.append(f"summary {k}={summary.get(k)} want {v}")
    cols, rows = duck_over_warehouse(
        warehouse, ("commits",),
        "SELECT COUNT(*), SUM(additions), SUM(deletions), SUM(files_changed), "
        "COUNT(*) FILTER (WHERE is_merge) FROM commits",
    )
    got = tuple(int(x) for x in rows[0])
    exp = (ledger["commits"], ledger["additions"], ledger["deletions"],
           ledger["files_changed"], ledger["merge_commits"])
    if got != exp:
        problems.append(f"commits table {got} want {exp}")
    _, rows = duck_over_warehouse(
        warehouse, ("authors",), "SELECT email, total_commits FROM authors"
    )
    if dict((e, int(n)) for e, n in rows) != ledger["authors"]:
        problems.append("authors table differs from git log per-author counts")
    _, rows = duck_over_warehouse(warehouse, ("tags",), "SELECT COUNT(*) FROM tags")
    if int(rows[0][0]) != ledger["tags"]:
        problems.append(f"tags table {rows[0][0]} want {ledger['tags']}")
    return "; ".join(problems)


WORKLOADS = {
    "git_etl_fleet": FleetWorkload,
    "queries_mixed": lambda: QueryWorkload(QUERIES, memo=False),
}
