"""The benchmark's own tests: input determinism, metric declarations,
and a small smoke run of every workload.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

from perfbench import corpus, fleet, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TINY = fleet.Spec(60, 5, 2, 30, 3, 1)
NAME = re.compile(r"[A-Za-z0-9_.-]+")

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _shas(seed: int, root: str) -> list[tuple[str, str, dict]]:
    repos, _ = fleet.build(seed, root, TINY)
    return [(r.base, r.tip, r.pending_tags) for r in repos]


def test_fleet_same_seed_same_shas(tmp_path):
    assert _shas(3, str(tmp_path / "a")) == _shas(3, str(tmp_path / "b"))


def test_fleet_other_seed_other_shas(tmp_path):
    a, b = _shas(3, str(tmp_path / "a")), _shas(4, str(tmp_path / "b"))
    assert all(x[0] != y[0] and x[1] != y[1] for x, y in zip(a, b))


def test_fleet_append_and_reset_move_main(tmp_path):
    repos, ledger = fleet.build(5, str(tmp_path / "f"), TINY)
    count = lambda: sum(  # noqa: E731
        int(fleet._git(r.path, "rev-list", "--count", "main", env=fleet.git_env()))
        for r in repos
    )
    assert count() == ledger["base"]["commits"]
    fleet.append(repos)
    assert count() == ledger["tip"]["commits"] > ledger["base"]["commits"]
    fleet.reset(repos)
    assert count() == ledger["base"]["commits"]


def test_corpus_is_seeded(tmp_path):
    a = corpus.build(1, str(tmp_path / "a"))
    b = corpus.build(1, str(tmp_path / "b"))
    c = corpus.build(2, str(tmp_path / "c"))
    for t in corpus.TABLES:
        ta = pq.read_table(os.path.join(a, f"{t}.parquet"))
        assert ta.equals(pq.read_table(os.path.join(b, f"{t}.parquet")))
        tc = pq.read_table(os.path.join(c, f"{t}.parquet"))
        assert ta.num_rows == tc.num_rows
        if t not in ("region", "nation"):
            assert not ta.equals(tc)


def test_declared_names_are_valid_and_unique():
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)


# Smoke runs shrink the inputs and query lists, never the code paths.
SMOKE = """
import sys
sys.path.insert(0, {root!r})
from perfbench import fleet, run, workloads
fleet.FLEET = fleet.Spec(60, 5, 2, 30, 3, 1)
workloads.QUERIES = ("agg_orders_per_day_top10", "udf_pandas_token_count")
sys.exit(run.main(sys.argv[1:]))
"""


def _smoke(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", SMOKE.format(root=ROOT), "--workload", workload,
         "--seed", "11", "--seconds", "0", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_smoke_traced_run(workload):
    result = _smoke(workload, 1)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    assert all(NAME.fullmatch(k) for k in result["metrics"])


def test_smoke_end_to_end_run():
    result = _smoke("queries_mixed", 0)
    assert result["correct"] and result["attempted"] >= 1
    declared = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "queries_mixed",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0 and out.stdout == ""
