"""Idempotent natural-key merge on Parquet — SURVEY.md §2.2 K1-K6.

The reference's SQLite load semantics, re-expressed for an append-only
columnar store:

- K1/K4/K5 ``ON CONFLICT ... DO UPDATE`` (last-writer-wins per natural
  key)  → union existing+new, ``row_number()`` over the natural key
  ordered by ingest version desc, keep row 1, rewrite.
- K3 ``INSERT OR IGNORE`` (first-writer-wins) → same window ordered
  ascending.
- K2 authors accumulate-merge → **re-aggregation from the commits fact
  table**: the git pipeline aggregates ``authors`` over the *staged*
  (already merged) commits, so it is exact over the whole history on
  every run — the partial/final aggregate pattern Spark already
  implements internally, in place of MIN/MAX/+ accumulation.
- K6 multi-table transaction → staging-then-publish, on a first load
  and a refresh alike: every table's merge writes to a staging dir
  (``merge_with_table`` + ``write_staging``); publish renames all of
  them once every table is staged.

Scale notes: ``upsert_parquet`` and the git warehouse rewrite the whole
table per merge — fine for the test warehouse, wrong at 100 TB.
``upsert_parquet_partitioned`` (the streaming sink's path) is the scale
path: the table is laid out ``partitionBy(partition_col)`` and a merge
touches ONLY the partitions that receive incoming keys — existing reads
prune to those partitions (partition filter at the scan) and the write
uses ``partitionOverwriteMode=dynamic`` so untouched partitions' files
are not even opened. A Delta/Iceberg MERGE backend slots behind the
same function signature. Correctness (idempotence: running the same
load twice yields identical tables; untouched-partition bytes
identical) is asserted in tests/test_sinks.py.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _merged(
    existing: DataFrame | None,
    incoming: DataFrame,
    natural_key: list[str],
    keep: str,
) -> DataFrame:
    """Window-dedup merge. ``keep='last'`` = last-writer-wins (new rows
    shadow existing, K1); ``keep='first'`` = first-writer-wins (K3).

    Within-batch duplicate natural keys resolve by ingest ordinal —
    the reference's SQLite loop inserts sequentially, so its
    ``ON CONFLICT DO UPDATE`` keeps the batch's last row and
    ``INSERT OR IGNORE`` its first; ``monotonically_increasing_id``
    captured here reproduces that positional semantic (deterministic
    for a deterministic incoming partition layout, which every
    pipeline batch in this repo has)."""
    incoming = incoming.withColumn("_version", F.lit(1)).withColumn(
        "_ord", F.monotonically_increasing_id()
    )
    if existing is not None:
        existing = existing.withColumn("_version", F.lit(0)).withColumn(
            "_ord", F.lit(0).cast("long")
        )
        all_rows = existing.unionByName(incoming)
    else:
        all_rows = incoming
    order = (
        [F.desc("_version"), F.desc("_ord")]
        if keep == "last"
        else [F.asc("_version"), F.asc("_ord")]
    )
    w = Window.partitionBy(*natural_key).orderBy(*order)
    return (
        all_rows.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_version", "_ord")
    )


def merge_with_table(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    natural_key: list[str],
    keep: str = "last",
) -> DataFrame:
    """``df`` merged on the natural key with the Parquet table at
    ``path``, or deduped on its own when no table is published there
    yet. Lazy: the caller writes the result to a staging dir."""
    existing = spark.read.parquet(path) if os.path.exists(path) else None
    return _merged(existing, df, natural_key, keep)


def upsert_parquet(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    natural_key: list[str],
    keep: str = "last",
) -> None:
    """Merge ``df`` into the Parquet table at ``path`` on the natural
    key; also dedups within ``df`` itself (the reference relies on the
    UNIQUE constraint for both). Safe to re-run: a second identical
    call leaves the table unchanged."""
    merged = merge_with_table(spark, df, path, natural_key, keep)
    publish(write_staging(merged, path), path)


def upsert_parquet_partitioned(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    natural_key: list[str],
    partition_col: str,
    keep: str = "last",
) -> None:
    """Partition-scoped merge — the 100 TB path promised in the module
    docstring. The table is laid out ``partitionBy(partition_col)``
    (which must be a prefix component of the natural key, e.g.
    ``repo_name``); a merge:

    1. collects the distinct partition values present in ``df``
       (driver-side, bounded: one value per ingested repo/tenant);
    2. reads ONLY those partitions of the existing table — the
       ``isin`` filter on the partition column prunes at file listing,
       so untouched partitions are never scanned;
    3. window-merges on the natural key exactly like ``upsert_parquet``;
    4. writes with ``partitionOverwriteMode=dynamic``, which replaces
       only the partition directories present in the merged frame —
       untouched partitions' files are not rewritten (byte-identical
       after the merge, asserted in tests/test_sinks.py).

    Unlike ``upsert_parquet`` there is no staging+rename swap: dynamic
    overwrite commits per-partition via Spark's file-commit protocol.
    Concurrent readers of a partition being replaced can observe the
    swap; production deployments layer Delta/Iceberg snapshot isolation
    behind this same signature.
    """
    if partition_col not in natural_key:
        raise ValueError(
            f"partition column {partition_col!r} must be part of the "
            f"natural key {natural_key} so a key's rows live in exactly "
            "one partition"
        )
    existing = None
    if os.path.exists(path):
        touched = [
            r[0] for r in df.select(partition_col).distinct().collect()
        ]
        existing = spark.read.parquet(path).filter(
            F.col(partition_col).isin(touched)
        )
    merged = _merged(existing, df, natural_key, keep)
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def write_staging(df: DataFrame, final_path: str) -> str:
    """First half of the K6 transaction: write to a staging dir beside
    ``final_path``, return its path for a later ``publish``. A failed
    write removes its partial staging dir before re-raising."""
    tmp = f"{final_path}.staging-{uuid.uuid4().hex[:8]}"
    try:
        df.write.mode("overwrite").parquet(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    return tmp


def publish(staging_path: str, final_path: str) -> None:
    """Atomic (rename-level) swap of a staged table into place.

    Filesystem contract: ``os.rename`` is atomic only within one
    filesystem — staging dirs are therefore always created as siblings
    of the final path (same parent directory ⇒ same mount), asserted
    below. On object stores (S3/GCS) directory rename is copy+delete,
    not atomic: deploy this sink there behind a table format (Delta,
    Iceberg, Hudi) whose commit is a metadata-pointer swap.
    Readers racing a publish can observe a brief missing-path window
    between the two renames and should retry.

    Failure hygiene: whatever the outcome, the staging dir is gone when
    this returns — renamed into place on success, deleted after the
    rollback on failure — so no ``.staging-*`` orphans accumulate.
    """
    if os.path.dirname(os.path.abspath(staging_path)) != os.path.dirname(
        os.path.abspath(final_path)
    ):
        raise ValueError(
            "staging dir must be a sibling of the final path "
            "(same filesystem, or rename loses atomicity): "
            f"{staging_path} -> {final_path}"
        )
    backup = f"{final_path}.old-{uuid.uuid4().hex[:8]}"
    if os.path.exists(final_path):
        os.rename(final_path, backup)
    try:
        os.rename(staging_path, final_path)
    except OSError:
        if os.path.exists(backup):
            os.rename(backup, final_path)  # roll back
        shutil.rmtree(staging_path, ignore_errors=True)
        raise
    if os.path.exists(backup):
        shutil.rmtree(backup)


def publish_all(staged: dict[str, str]) -> None:
    """K6 multi-table publish: every table is fully staged before the
    first swap, so a failure during *staging* leaves all tables
    untouched (the BEGIN/COMMIT analogue — reference
    ``src/transactions.ts:43-56``). A failure mid-swap cleans up every
    not-yet-published staging dir so no orphans remain. Cross-table
    snapshot atomicity (all swaps or none) is out of reach of
    directory renames: it needs a table format with a multi-table
    commit (one metadata-pointer swap)."""
    items = list(staged.items())
    for i, (staging_path, final_path) in enumerate(items):
        try:
            publish(staging_path, final_path)
        except Exception:
            for later_staging, _ in items[i + 1 :]:
                shutil.rmtree(later_staging, ignore_errors=True)
            raise
