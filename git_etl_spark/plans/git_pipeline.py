"""Git-domain ETL pipeline — SURVEY.md §2.5 A1/A2, §2.2 K5, §2.8 O1-O4.

The reference's per-repo dataflow (``main.ts:79-144``) as DataFrame
construction: parse → nested commits frame → explode file_changes →
derive repos / summary → one staged multi-table publish.

Every run, a first load or a refresh, takes the same write path: each
table's batch is merged with the published table on its natural key
and written to a sibling staging dir; ``authors`` is re-aggregated
from the *staged* commits, so it is exact over the whole merged
history (K2/A4) even when the batch holds only some of the repos; then
all five tables publish together (K6). A failure while staging deletes
what was staged and leaves the published tables untouched.

Design decisions carried from SURVEY §7.3:

- A1 author "latest name": the reference's comment says latest but its
  loop keeps the oldest (``src/transforms.ts:27``); the documented
  intent wins here via ``max_by(author_name, committed_at)``.
- K5/A2 git-log order dependence (newest-first ``commits[0]``) becomes
  explicit ``max``/``min`` — order-independent by construction.
- Surrogate AUTOINCREMENT keys are dropped; natural keys are identity.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import count_if
# upsert_parquet* stay bound, unused: perfbench/tracing.py patches them here by name.
from ..sinks.upsert import (  # noqa: F401
    merge_with_table,
    publish_all,
    upsert_parquet,
    upsert_parquet_partitioned,
    write_staging,
)
from ..sources.git_log import (
    has_commits_by_author,
    list_tracked_files,
    repo_commits_df,
)
from ..sources.git_tags import repo_tags_df
from ..sources.language import detect_language

GIT_TABLES = ("commits", "file_changes", "authors", "repos", "tags")
NATURAL_KEYS = {
    "commits": ["repo_name", "sha"],
    "file_changes": ["repo_name", "sha", "file_path"],
    "repos": ["name"],
    "tags": ["repo_name", "tag_name"],
}


def explode_file_changes(commits: DataFrame) -> DataFrame:
    """Nested → flat (reference flattens at load, ``src/database.ts:163-175``):
    ``select(sha, explode(file_changes))`` + natural-key dedup (K3)."""
    return (
        commits.select(
            "repo_name",
            "sha",
            F.explode("file_changes").alias("fc"),
        )
        .select(
            "repo_name",
            "sha",
            F.col("fc.file_path").alias("file_path"),
            F.col("fc.additions").alias("additions"),
            F.col("fc.deletions").alias("deletions"),
        )
        .dropDuplicates(["repo_name", "sha", "file_path"])
    )


def aggregate_authors(commits: DataFrame) -> DataFrame:
    """A1/K2: per-author stats re-aggregated exactly from commits
    (reference ``src/transforms.ts:11-39`` + ``src/database.ts:105-130``)."""
    return commits.groupBy(F.col("author_email").alias("email")).agg(
        F.expr("max_by(author_name, committed_at)").alias("name"),
        F.min("committed_at").alias("first_commit_at"),
        F.max("committed_at").alias("last_commit_at"),
        F.count("*").alias("total_commits"),
    )


def repo_metadata(commits: DataFrame, languages: dict[str, str | None]) -> DataFrame:
    """K5: per-repo metadata with explicit max() instead of the
    reference's newest-first positional assumption (``src/database.ts:83``)."""
    spark = commits.sparkSession
    lang_rows = [(k, v) for k, v in languages.items()]
    lang_df = spark.createDataFrame(
        lang_rows, "name string, language string"
    )
    per_repo = commits.groupBy(F.col("repo_name").alias("name")).agg(
        F.max("committed_at").alias("last_commit_at"),
        F.count("*").alias("total_commits"),
    )
    return (
        per_repo.join(F.broadcast(lang_df), "name", "left")
        .withColumn("is_archived", F.lit(False))
        .select(
            "name", "language", "is_archived", "last_commit_at", "total_commits"
        )
    )


def summary_stats(commits: DataFrame) -> DataFrame:
    """A2 global summary (reference ``src/transforms.ts:41-62``) as a
    single order-independent aggregate row."""
    return commits.agg(
        F.count("*").alias("total_commits"),
        F.sum("additions").alias("total_additions"),
        F.sum("deletions").alias("total_deletions"),
        F.sum("files_changed").alias("total_files_changed"),
        count_if(F.col("is_merge")).alias("merge_commits"),
        F.countDistinct("author_email").alias("unique_authors"),
        F.struct(
            F.date_format(F.min("committed_at"), "yyyy-MM-dd").alias("from"),
            F.date_format(F.max("committed_at"), "yyyy-MM-dd").alias("to"),
        ).alias("date_range"),
    )


def format_summary_report(stats_row) -> str:
    """O4 report formatter (reference ``src/transforms.ts:64-86``)."""
    dr = stats_row["date_range"]
    return "\n".join(
        [
            "=== Git ETL Summary ===",
            f"Commits:        {stats_row['total_commits']}",
            f"Additions:      {stats_row['total_additions']}",
            f"Deletions:      {stats_row['total_deletions']}",
            f"Files changed:  {stats_row['total_files_changed']}",
            f"Merge commits:  {stats_row['merge_commits']}",
            f"Unique authors: {stats_row['unique_authors']}",
            f"Date range:     {dr['from']} .. {dr['to']}",
        ]
    )


def etl_repos(
    spark: SparkSession,
    repo_paths: list[str],
    output_dir: str,
    author_pattern: str | None = None,
) -> dict:
    """O1/O2: multi-repo ETL into a five-table Parquet warehouse with
    idempotent natural-key merges and one K6 staged publish. Returns a
    run report (per-repo success/skip/fail counts — the reference's
    summary banner, ``main.ts:357-369``)."""
    report = {"processed": [], "skipped": [], "failed": []}
    selected: list[str] = []
    for path in repo_paths:
        try:
            if author_pattern and not has_commits_by_author(path, author_pattern):
                report["skipped"].append(path)  # F2 gate
                continue
            selected.append(path)
        except Exception as exc:  # noqa: BLE001 — O2 per-repo fail isolation
            report["failed"].append({"repo": path, "error": str(exc)})

    if not selected:
        return report

    commits, scan_errors = repo_commits_df(spark, selected)
    for path, error in scan_errors.items():
        report["failed"].append({"repo": path, "error": error})
    selected = [p for p in selected if p not in scan_errors]
    if not selected or commits.isEmpty():  # all failed, or F3 zero-commit guard
        report["skipped"].extend(selected)
        return report
    commits = commits.dropDuplicates(["repo_name", "sha"]).cache()

    languages = {
        os.path.basename(p.rstrip("/")): detect_language(list_tracked_files(p))
        for p in selected
    }

    batches = {
        "commits": commits.drop("file_changes"),
        "file_changes": explode_file_changes(commits),
        "repos": repo_metadata(commits, languages),
        "tags": repo_tags_df(spark, selected),
    }

    out = lambda t: os.path.join(output_dir, t)  # noqa: E731
    staged: dict[str, str] = {}
    try:
        for t in GIT_TABLES:
            if t == "authors":
                df = aggregate_authors(spark.read.parquet(staged["commits"]))
            else:
                keep = "first" if t == "file_changes" else "last"
                df = merge_with_table(spark, batches[t], out(t), NATURAL_KEYS[t], keep)
            staged[t] = write_staging(df, out(t))
    except BaseException:
        for tmp in staged.values():
            shutil.rmtree(tmp, ignore_errors=True)
        raise
    publish_all({tmp: out(t) for t, tmp in staged.items()})

    report["processed"] = selected
    report["summary"] = summary_stats(commits).collect()[0].asDict(recursive=True)
    commits.unpersist()
    return report
