"""Golden end-to-end ETL on a scripted synthetic git repo —
SURVEY.md §5.2(2): exact table contents + idempotence (run twice,
tables unchanged)."""

from __future__ import annotations

import os
import subprocess

import pytest


def _git(repo, *args, env=None):
    subprocess.run(
        ["git", "-C", str(repo), *args],
        check=True,
        capture_output=True,
        env={**os.environ, **(env or {})},
    )


def _commit(repo, author, email, date_iso, message, files, tag=None, annotated=False):
    for path, content in files.items():
        full = repo / path
        full.parent.mkdir(parents=True, exist_ok=True)
        full.write_text(content)
    _git(repo, "add", "-A")
    env = {
        "GIT_AUTHOR_NAME": author,
        "GIT_AUTHOR_EMAIL": email,
        "GIT_AUTHOR_DATE": date_iso,
        "GIT_COMMITTER_NAME": author,
        "GIT_COMMITTER_EMAIL": email,
        "GIT_COMMITTER_DATE": date_iso,
    }
    _git(repo, "commit", "-q", "-m", message, "--allow-empty", env=env)
    if tag:
        if annotated:
            _git(repo, "tag", "-a", tag, "-m", f"Release {tag}", env=env)
        else:
            _git(repo, "tag", tag)


@pytest.fixture(scope="module")
def synthetic_repo(tmp_path_factory):
    repo = tmp_path_factory.mktemp("repos") / "proj-alpha"
    repo.mkdir()
    _git(repo, "init", "-q", "-b", "main")
    _commit(
        repo, "Alice Dev", "alice@example.com", "2024-01-01T10:00:00+00:00",
        "initial commit", {"src/main.py": "print('hi')\n", "README.md": "# a\n"},
    )
    _commit(
        repo, "Bob Builder", "bob@example.com", "2024-01-02T11:00:00+00:00",
        "add module", {"src/util.py": "x = 1\ny = 2\n"}, tag="v0.1",
    )
    # rename (exercises P1 through real git numstat output)
    (repo / "src/util.py").rename(repo / "src/helpers.py")
    _commit(
        repo, "Alice Renamed", "alice@example.com", "2024-01-03T12:00:00+00:00",
        "rename util to helpers", {},
    )
    _commit(
        repo, "Alice Renamed", "alice@example.com", "2024-01-04T13:00:00+00:00",
        "more code", {"src/main.py": "print('hi')\nprint('bye')\n"},
        tag="v0.2", annotated=True,
    )
    return repo


def _run_etl(spark, repo, out_dir):
    from git_etl_spark.plans.git_pipeline import etl_repos

    return etl_repos(spark, [str(repo)], str(out_dir))


def test_etl_end_to_end(spark, synthetic_repo, tmp_path):
    out = tmp_path / "warehouse"
    report = _run_etl(spark, synthetic_repo, out)
    assert report["processed"] == [str(synthetic_repo)]

    commits = spark.read.parquet(str(out / "commits"))
    rows = {r.sha: r for r in commits.collect()}
    assert len(rows) == 4
    assert all(r.repo_name == "proj-alpha" for r in rows.values())
    assert all(r.branch == "main" for r in rows.values())

    by_msg = {r.message: r for r in rows.values()}
    assert by_msg["initial commit"].additions == 2
    assert by_msg["initial commit"].files_changed == 2
    assert by_msg["add module"].additions == 2
    # rename of an unchanged file: 0 additions, 1 file touched
    assert by_msg["rename util to helpers"].additions == 0
    assert by_msg["rename util to helpers"].files_changed == 1

    fc = spark.read.parquet(str(out / "file_changes"))
    fc_rows = {(r.sha, r.file_path) for r in fc.collect()}
    # rename resolved to the NEW path (P1)
    assert (by_msg["rename util to helpers"].sha, "src/helpers.py") in fc_rows
    assert not any(p.startswith("src/{") for _, p in fc_rows)

    authors = {r.email: r for r in spark.read.parquet(str(out / "authors")).collect()}
    assert authors["alice@example.com"].total_commits == 3
    # latest-name semantics (SURVEY §2.5 A1 caveat — documented intent wins)
    assert authors["alice@example.com"].name == "Alice Renamed"
    assert authors["bob@example.com"].total_commits == 1
    assert (
        authors["alice@example.com"].first_commit_at.isoformat()
        == "2024-01-01T10:00:00"
    )

    repos = {r.name: r for r in spark.read.parquet(str(out / "repos")).collect()}
    assert repos["proj-alpha"].total_commits == 4
    assert repos["proj-alpha"].language == "Python"
    assert repos["proj-alpha"].last_commit_at.isoformat() == "2024-01-04T13:00:00"

    tags = {r.tag_name: r for r in spark.read.parquet(str(out / "tags")).collect()}
    assert not tags["v0.1"].is_annotated and tags["v0.1"].message is None
    assert tags["v0.2"].is_annotated
    assert tags["v0.2"].message == "Release v0.2"
    assert tags["v0.2"].tagger_email == "alice@example.com"
    # annotated tag sha must be the peeled COMMIT sha
    assert tags["v0.2"].sha == by_msg["more code"].sha

    # summary report (A2/O4)
    s = report["summary"]
    assert s["total_commits"] == 4
    assert s["unique_authors"] == 2
    assert s["date_range"] == {"from": "2024-01-01", "to": "2024-01-04"}


def test_etl_idempotent_rerun(spark, synthetic_repo, tmp_path):
    out = tmp_path / "warehouse2"
    _run_etl(spark, synthetic_repo, out)

    def snapshot():
        return {
            t: sorted(
                map(repr, spark.read.parquet(str(out / t)).collect())
            )
            for t in ("commits", "file_changes", "authors", "repos", "tags")
        }

    first = snapshot()
    _run_etl(spark, synthetic_repo, out)  # second run = natural-key merge
    assert snapshot() == first, "re-running the ETL must not change any table"


def test_author_gate_skips_repo(spark, synthetic_repo, tmp_path):
    from git_etl_spark.plans.git_pipeline import etl_repos

    report = etl_repos(
        spark, [str(synthetic_repo)], str(tmp_path / "w3"),
        author_pattern="NoSuchAuthor",
    )
    assert report["skipped"] == [str(synthetic_repo)]
    assert not (tmp_path / "w3").exists()


def test_discovery_finds_repo(synthetic_repo, tmp_path):
    from git_etl_spark.sources.discovery import (
        find_git_repositories,
        load_repositories_config,
    )

    root = synthetic_repo.parent
    found = find_git_repositories(str(root))
    assert str(synthetic_repo) in found

    # config resolution: explicit ∪ scanned − ignore (SET1/SET2)
    import json

    cfg = tmp_path / "repos.json"
    cfg.write_text(
        json.dumps(
            {
                "repositories": [str(synthetic_repo) + "/"],
                "paths": [str(root)],
                "ignore": [],
            }
        )
    )
    resolved = load_repositories_config(str(cfg))
    assert resolved.count(str(synthetic_repo)) == 1  # deduped across both

    cfg.write_text(json.dumps({"paths": [str(root)], "ignore": [str(synthetic_repo)]}))
    assert load_repositories_config(str(cfg)) == []


def _two_repos_sharing_an_author(root):
    """Two repos whose histories share dana@example.com, every commit
    at a distinct time; returns both paths."""
    a, b = root / "shared-a", root / "shared-b"
    for repo in (a, b):
        repo.mkdir()
        _git(repo, "init", "-q", "-b", "main")
    _commit(
        a, "Dana Old", "dana@example.com", "2024-05-01T10:00:00+00:00",
        "a1", {"a.py": "a = 1\n"},
    )
    _commit(
        b, "Dana Old", "dana@example.com", "2024-05-02T10:00:00+00:00",
        "b1", {"b.py": "b = 1\n"},
    )
    _commit(
        a, "Eve Other", "eve@example.com", "2024-05-03T10:00:00+00:00",
        "a2", {"a2.py": "a = 2\n"},
    )
    _commit(
        b, "Dana Mid", "dana@example.com", "2024-05-04T10:00:00+00:00",
        "b2", {"b2.py": "b = 2\n"},
    )
    return a, b


def _authors_from_git_log(*repos):
    """Per-author (count, first, last, latest name) straight from
    ``git log`` across all ``repos`` — the ledger the authors table
    must match."""
    from datetime import datetime, timezone

    stats = {}
    for repo in repos:
        out = subprocess.run(
            ["git", "-C", str(repo), "log", "--format=%ae%x00%an%x00%ct"],
            check=True, capture_output=True, text=True,
        ).stdout
        for line in out.splitlines():
            email, name, ct = line.split("\x00")
            at = datetime.fromtimestamp(int(ct), tz=timezone.utc).replace(tzinfo=None)
            n, first, last, latest = stats.get(email, (0, at, at, name))
            stats[email] = (
                n + 1, min(first, at), max(last, at), name if at >= last else latest
            )
    return stats


def test_refresh_of_one_repo_keeps_authors_exact(spark, tmp_path):
    """K2/A4 across runs: an author shared by two repos must keep the
    exact whole-history aggregate when a refresh carries only one of
    the repos (a batch-only aggregate merged by email undercounts)."""
    from git_etl_spark.plans.git_pipeline import etl_repos

    a, b = _two_repos_sharing_an_author(tmp_path)
    out = tmp_path / "warehouse"
    etl_repos(spark, [str(a), str(b)], str(out))
    _commit(
        a, "Dana New", "dana@example.com", "2024-05-05T10:00:00+00:00",
        "a3", {"a3.py": "a = 3\n"},
    )
    etl_repos(spark, [str(a)], str(out))

    got = {
        r.email: (r.total_commits, r.first_commit_at, r.last_commit_at, r.name)
        for r in spark.read.parquet(str(out / "authors")).collect()
    }
    expected = _authors_from_git_log(a, b)
    assert expected["dana@example.com"][0] == 4
    assert expected["dana@example.com"][3] == "Dana New"
    assert got == expected


def _warehouse_bytes(root):
    """Every file under ``root`` (relative path → bytes)."""
    return {
        str(p.relative_to(root)): p.read_bytes()
        for p in sorted(root.rglob("*")) if p.is_file()
    } if root.exists() else {}


def test_failed_staging_leaves_warehouse_untouched(spark, tmp_path, monkeypatch):
    """K6 on a first load and on a refresh: when staging the 3rd table
    fails, no published table changes (none appears on a first load)
    and no ``.staging-*`` dir is left behind."""
    from git_etl_spark.plans import git_pipeline

    real = git_pipeline.write_staging
    calls = []

    def failing_third(*args, **kwargs):
        calls.append(args)
        if len(calls) == 3:
            raise RuntimeError("injected staging failure")
        return real(*args, **kwargs)

    a, b = _two_repos_sharing_an_author(tmp_path)
    out = tmp_path / "warehouse"
    repos = [str(a), str(b)]

    monkeypatch.setattr(git_pipeline, "write_staging", failing_third)
    with pytest.raises(RuntimeError, match="injected"):
        git_pipeline.etl_repos(spark, repos, str(out))
    assert len(calls) == 3
    assert _warehouse_bytes(out) == {}
    assert not any(out.glob("*.staging-*"))

    monkeypatch.setattr(git_pipeline, "write_staging", real)
    git_pipeline.etl_repos(spark, repos, str(out))
    before = _warehouse_bytes(out)
    assert all((out / t).is_dir() for t in git_pipeline.GIT_TABLES)

    _commit(
        b, "Dana New", "dana@example.com", "2024-05-06T10:00:00+00:00",
        "b3", {"b3.py": "b = 3\n"},
    )
    calls.clear()
    monkeypatch.setattr(git_pipeline, "write_staging", failing_third)
    with pytest.raises(RuntimeError, match="injected"):
        git_pipeline.etl_repos(spark, repos, str(out))
    assert len(calls) == 3
    assert _warehouse_bytes(out) == before
    assert not any(out.glob("*.staging-*"))


def test_gitlog_datasource_matches_driver_side(spark, synthetic_repo):
    """S1 as a Spark-4 Python DataSource: format("gitlog") must produce
    exactly the driver-side result, schema included, and expose one
    input partition per repository."""
    from git_etl_spark.sources.git_log import repo_commits_df
    from git_etl_spark.sources.gitlog_datasource import (
        GitLogReader,
        register_gitlog_source,
    )

    register_gitlog_source(spark)
    a = repo_commits_df(spark, [str(synthetic_repo)])
    b = spark.read.format("gitlog").load(str(synthetic_repo))
    assert b.schema == a.schema
    assert sorted(map(repr, b.collect())) == sorted(map(repr, a.collect()))

    # branch option flows through the reader; partitions = repos
    reader = GitLogReader({"paths": "/r/a,/r/b", "branch": "main"})
    parts = reader.partitions()
    assert [p.repo_path for p in parts] == ["/r/a", "/r/b"]
    assert all(p.branch == "main" for p in parts)

    # projection over the source composes like any other scan
    n = (
        spark.read.format("gitlog")
        .load(str(synthetic_repo))
        .groupBy("author_email")
        .count()
        .count()
    )
    assert n >= 1


def test_gitlog_datasource_author_pushdown(spark, synthetic_repo):
    """Author-equality pushdown: the filtered read must equal manual
    post-filtering of the full scan (the git --author prefilter plus
    the exact re-check can neither over- nor under-match), and
    pushFilters must claim only the supported equality, yielding every
    other filter back to Spark."""
    from pyspark.sql.datasource import EqualTo, GreaterThan

    from git_etl_spark.sources.gitlog_datasource import (
        GitLogReader,
        register_gitlog_source,
    )

    from pyspark.sql import functions as F

    register_gitlog_source(spark)
    base = spark.read.format("gitlog").load(str(synthetic_repo))
    all_rows = base.collect()
    emails = sorted({r.author_email for r in all_rows})
    assert len(emails) >= 2, "fixture should have multiple authors"
    target = emails[0]
    pushed = base.filter(F.col("author_email") == target).collect()
    manual = [r for r in all_rows if r.author_email == target]
    assert sorted(map(repr, pushed)) == sorted(map(repr, manual))
    assert 0 < len(pushed) < len(all_rows)

    reader = GitLogReader({"paths": "/r/a"})
    leftover = list(
        reader.pushFilters(
            [EqualTo(("author_email",), target), GreaterThan(("additions",), 0)]
        )
    )
    assert len(leftover) == 1 and isinstance(leftover[0], GreaterThan)
    assert reader.partitions()[0].author.endswith("$")


def test_gitlog_datasource_numshards_equals_unsharded(spark, synthetic_repo):
    """Monorepo sharding: numShards=k must produce exactly the unsharded
    result (the disjoint --skip/--max-count windows partition the same
    deterministic ordering), including shards interacting with author
    pushdown — and must actually plan multiple input partitions."""
    from pyspark.sql import functions as F

    from git_etl_spark.sources.gitlog_datasource import (
        GitLogReader,
        register_gitlog_source,
    )

    register_gitlog_source(spark)
    base = spark.read.format("gitlog").load(str(synthetic_repo))
    expected = sorted(map(repr, base.collect()))
    for k in (2, 3, 16):  # 16 > commit count: degenerate 1-commit shards
        sharded = (
            spark.read.format("gitlog")
            .option("numShards", k)
            .load(str(synthetic_repo))
        )
        assert sorted(map(repr, sharded.collect())) == expected, k

    # shard planning: 4 commits / numShards=3 -> ceil -> 2 windows of 2
    reader = GitLogReader({"paths": str(synthetic_repo), "numshards": 3})
    parts = reader.partitions()
    assert [(p.skip, p.max_count) for p in parts] == [(0, 2), (2, 2)]
    assert all(p.branch == "main" for p in parts)

    # sharding composes with author pushdown (count uses the same filter)
    pushed = (
        spark.read.format("gitlog")
        .option("numShards", 2)
        .load(str(synthetic_repo))
        .filter(F.col("author_email") == "alice@example.com")
    )
    assert pushed.count() == base.filter(
        F.col("author_email") == "alice@example.com"
    ).count()


def test_gitlog_author_pushdown_bre_special_chars(spark, tmp_path):
    """Regression for the BRE-escaping bug: git compiles --author as a
    POSIX/GNU basic regex where a backslash-prefixed '+' means
    one-or-more, so re.escape-ing a plus-addressed email produced a
    pattern matching ZERO commits — the pushdown silently dropped that
    author's entire history. The fixture uses exactly that shape."""
    from pyspark.sql import functions as F

    from git_etl_spark.sources.gitlog_datasource import (
        _bre_escape,
        register_gitlog_source,
    )

    # unit: only bare BRE metacharacters get escaped; '+' '?' '|' '(' do not
    assert _bre_escape("a+b?c|d(e") == "a+b?c|d(e"
    assert _bre_escape(r"a.b[c*d^e$f\g") == r"a\.b\[c\*d\^e\$f\\g"

    repo = tmp_path / "proj-plus"
    repo.mkdir()
    _git(repo, "init", "-q", "-b", "main")
    _commit(
        repo, "Alice Plus", "alice+git@example.com", "2024-02-01T10:00:00+00:00",
        "plus-addressed commit", {"a.txt": "1\n"},
    )
    _commit(
        repo, "Bob Dot", "bob.builder@example.com", "2024-02-02T10:00:00+00:00",
        "dotted commit", {"b.txt": "2\n"},
    )

    register_gitlog_source(spark)
    base = spark.read.format("gitlog").load(str(repo))
    got = base.filter(F.col("author_email") == "alice+git@example.com").collect()
    assert len(got) == 1 and got[0].author_name == "Alice Plus"
    # escaping '.' must not break the match for a dotted email either
    # (under-match is the failure direction the exact re-check can't fix)
    dot = base.filter(F.col("author_email") == "bob.builder@example.com").collect()
    assert len(dot) == 1 and dot[0].author_name == "Bob Dot"
