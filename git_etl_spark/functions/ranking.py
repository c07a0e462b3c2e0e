"""Distributed total-order ranking — the zipWithIndex-style primitive
the global-window docstrings promise "at 100 TB".

``ROW_NUMBER() OVER (ORDER BY ...)`` with no PARTITION BY funnels the
whole relation through ONE task — semantically, not as an accident of
partition coalescing, so no runtime (AQE, bigger cluster) can rescue
it. For data-linear inputs (per-user aggregates, per-doc scores, the
shingle dictionary) that is the one stage class that cannot survive a
100x scale-up. The classic fix is two-phase numbering, the same scheme
``RDD.zipWithIndex`` uses:

1. ``repartitionByRange`` on the sort key (distributed range sort —
   sampled boundaries, each partition holds a contiguous key range),
2. sort + number WITHIN each partition in parallel
   (``monotonically_increasing_id`` after ``sortWithinPartitions``:
   consecutive within a partition, so ``mid - min(mid)`` is the local
   index),
3. collect ONE count per partition (<= numPartitions rows — bounded by
   cluster config, never by data; the same driver-side step
   ``zipWithIndex`` performs) and broadcast the cumulative offsets
   back; global rank = offset[pid] + local index + 1.

The result is bit-identical to the single-task window whenever the
sort key is TOTAL (callers append a unique tie-break column, as every
query in this repo already does for determinism): range boundaries may
land anywhere without changing any rank. The partitioned relation is
``localCheckpoint``-pinned so the count pass and the rank pass see the
same (sampled, hence otherwise non-deterministic) partitioning.

``global_ntile`` derives NTILE(k) from the rank with the SQL-standard
bucket arithmetic (n = bs*k + rem; the first rem buckets get bs+1
rows), so exact quantile scoring needs no global window either — and
unlike the percentile-boundary-binning fallback some docstrings used
to point at, it keeps the exact output contract at any scale.

Cost and crossover (measured on synthetic rows, PERFORMANCE.md round
11, local[32], min-of-2 after warm-up, NTILE(10) + aggregate sink):

    rows        window    distributed
    50k         0.42 s    1.46 s   <- fixed jobs dominate
    500k        0.68 s    1.19 s
    5M          7.84 s    1.49 s   <- 5.3x: the single task is the wall
    20M         29.8 s    13.2 s

The primitive pays ~1 s of fixed work (eager checkpoint, offsets
collect, broadcast join) and wins past ~1M input rows on 32 cores —
below that the single-task sort is cheaper. That is why the three
aggregate-sized production sites (events RFM quintiles ~20k users,
surprisal deciles ~50k docs, PPJoin sid ~20k shingles) measured the
swap and REJECTED it (numbers at each site, PERFORMANCE.md round 11):
their docstrings point here for the mechanical swap the moment the
aggregate cardinality crosses ~1M.

``grouped_weighted_quantile_rows`` below handles the DUAL failure —
``Window.partitionBy(group)`` over a LOW-cardinality group column,
where parallelism is capped at the group count at any cluster size —
with an integer-bucket boundary search that needs no exchange of the
data at all (kept in production at agg_weighted_median_price:
10x data 5.25 -> 1.52 s at 32 cores). Its synthetic crossover (same
script, 3 groups, weighted median):

    rows      grouped window    bucket search
    50k       0.30 s            0.92 s
    500k      0.48 s            0.82 s    <- crossover ~600k
    5M        4.02 s            0.91 s
    20M       19.7 s            0.98 s    <- FLAT: subtotals partial-
                                             aggregate, pass 2 reads
                                             one bucket
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_PID = "_gr_pid"
_MID = "_gr_mid"
_BASE = "_gr_base"
_OFF = "_gr_off"


def _ranked(
    df: DataFrame,
    order_cols: list[Column],
    out: str,
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """df + a 1-based global row number ``out`` in ``order_cols`` order
    (which must be total — include a unique tie-break), plus the total
    row count (a free by-product of the offset pass)."""
    spark = df.sparkSession
    n_parts = int(
        num_partitions
        or spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    tagged = (
        df.repartitionByRange(n_parts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn(_PID, F.spark_partition_id())
        .withColumn(_MID, F.monotonically_increasing_id())
        .localCheckpoint()  # pin the sampled range boundaries + ids
    )
    # <= n_parts rows: bounded by cluster configuration, not by data —
    # the same driver-side counts pass RDD.zipWithIndex performs.
    parts = tagged.groupBy(_PID).agg(
        F.count("*").alias("c"), F.min(_MID).alias("b")
    ).collect()
    rows, acc = [], 0
    for r in sorted(parts, key=lambda r: r[_PID]):
        rows.append((r[_PID], r["b"], acc))
        acc += r["c"]
    offsets = spark.createDataFrame(
        rows, f"{_PID} int, {_BASE} long, {_OFF} long"
    )
    ranked = (
        tagged.join(F.broadcast(offsets), _PID)
        .withColumn(
            out,
            (F.col(_OFF) + (F.col(_MID) - F.col(_BASE)) + F.lit(1)).cast(
                "long"
            ),
        )
        .drop(_PID, _MID, _BASE, _OFF)
    )
    return ranked, acc


def global_row_number(
    df: DataFrame,
    order_cols: list[Column],
    out: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed ``ROW_NUMBER() OVER (ORDER BY order_cols)`` — see
    module docstring. ``order_cols`` must be a total order."""
    ranked, _ = _ranked(df, order_cols, out, num_partitions)
    return ranked


_MAX_BUCKET_ROWS = 1_000_000  # (group, bucket) subtotal collect guard


def grouped_weighted_quantile_rows(
    df: DataFrame,
    group_cols: list[str],
    value_int_col: str,
    tie_cols: list[str],
    weight_col: str,
    q_num: int = 1,
    q_den: int = 2,
    bucket_shift: int = 12,
) -> DataFrame:
    """All rows at-or-after a group's weighted q-quantile crossing,
    restricted to the crossing's value bucket — the scale-safe core of
    an exact weighted median/quantile over LOW-cardinality groups.

    ``Window.partitionBy(group)`` caps parallelism at the number of
    groups: with 3 groups, three tasks each sort a data-linear third
    of the corpus forever — a stage class no cluster size rescues
    (the dual failure mode to the partitionless window, which
    ``global_row_number`` above addresses). The fix is a two-pass
    bucket search in PURE INTEGER arithmetic — no sort, no range
    exchange, no sampling pass, no checkpoint:

    1. quantize the integer order value (``value_int_col``, e.g.
       price in cents) to buckets ``v >> bucket_shift`` and aggregate
       ONE weight subtotal per (group, bucket) — an ordinary
       partial-aggregated groupBy whose output is bounded by
       |groups| × (value domain >> shift), never by row count,
    2. walk the subtotals in bucket order on the driver: per group
       the first bucket where ``q_den·cum ≥ q_num·total`` holds the
       crossing, and the cum before it is that bucket's exact entry
       offset (bucket identity is a pure function of the VALUE, so
       nothing depends on partitioning and no pin is needed; bucket
       granularity affects only pass-3 size, never correctness),
    3. re-filter the SOURCE to each group's crossing bucket — the
       same integer expression, a pushdown-friendly scan predicate —
       and run the exact cumulative window only inside it
       (~mass of one bucket; shrink with a smaller shift).

    Returns the crossing bucket's rows with ``_cw`` (exact global
    cumulative weight through each row) and ``_tw`` (exact group
    total) appended; rows before the crossing are filtered out. The
    caller takes MIN of the order key per group for the lower
    quantile — the first crossing row is always in the selected
    bucket, and every surviving row sorts at-or-after it, so the MIN
    over this subset equals the MIN over the whole relation.

    Weights must be non-negative integers and ``tie_cols`` must make
    (value, ties) a total order per group (exact arithmetic —
    ``q_den·cw ≥ q_num·tw`` is integer-only, no float boundary).
    ``group_cols`` must be low-cardinality; for HIGH-cardinality
    groups use the plain partitioned window — per-group data is small
    exactly when group count is large. A fully skewed value (one
    giant equal-value run) degrades pass 3 to that run's size, the
    irreducible floor for an exact boundary statistic. NULL group
    keys are first-class: the per-group conditions and the offsets
    join are null-safe (``<=>``), so a null-keyed group produces the
    same crossing rows the partitioned window would (groupBy and
    Window.partitionBy both treat NULL as one group).
    """
    spark = df.sparkSession
    bucket = F.shiftright(F.col(value_int_col), bucket_shift).alias("_qb")
    per = (
        df.groupBy(*group_cols, bucket)
        .agg(F.sum(weight_col).alias("_w"))
        .limit(_MAX_BUCKET_ROWS + 1)
        .collect()
    )
    if len(per) > _MAX_BUCKET_ROWS:
        raise ValueError(
            f"grouped_weighted_quantile_rows: more than {_MAX_BUCKET_ROWS}"
            " (group, bucket) subtotals — raise bucket_shift to coarsen"
            " the quantization (granularity affects only performance)"
        )
    by_group: dict[tuple, list] = {}
    for r in per:
        by_group.setdefault(tuple(r[c] for c in group_cols), []).append(r)
    conds: list[Column] = []
    sel_rows = []
    for gkey, rows in by_group.items():
        rows.sort(key=lambda r: r["_qb"])
        total = sum(r["_w"] for r in rows)
        cum = 0
        for r in rows:
            if q_den * (cum + r["_w"]) >= q_num * total:
                # eqNullSafe, not ==: a NULL key under == makes the
                # whole condition NULL and the null group's rows would
                # silently vanish from the candidate set.
                g_eq = [
                    F.col(c).eqNullSafe(F.lit(v))
                    for c, v in zip(group_cols, gkey)
                ]
                in_bucket = F.shiftright(
                    F.col(value_int_col), bucket_shift
                ) == F.lit(r["_qb"])
                conds.append(
                    functools.reduce(lambda a, b: a & b, g_eq + [in_bucket])
                )
                sel_rows.append((*gkey, cum, total))
                break
            cum += r["_w"]
    if not sel_rows:
        return df.withColumn("_cw", F.lit(0).cast("long")).withColumn(
            "_tw", F.lit(0).cast("long")
        ).limit(0)
    # transport the group keys with their REAL dtypes so the
    # offsets join never relies on string coercion; join null-safely
    # (and on RENAMED keys, so <=> never self-resolves) so a
    # null-keyed group keeps its offsets row.
    gtype = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    sel = spark.createDataFrame(
        sel_rows,
        ", ".join(f"_gk_{c} {gtype[c]}" for c in group_cols)
        + ", _entry long, _tw long",
    )
    join_cond = functools.reduce(
        lambda a, b: a & b,
        [F.col(c).eqNullSafe(F.col(f"_gk_{c}")) for c in group_cols],
    )
    cand = (
        df.filter(functools.reduce(lambda a, b: a | b, conds))
        .join(F.broadcast(sel), join_cond)
        .drop(*[f"_gk_{c}" for c in group_cols])
    )
    from pyspark.sql import Window as _W

    w = (
        _W.partitionBy(*group_cols)
        .orderBy(F.col(value_int_col), *[F.col(c) for c in tie_cols])
        .rowsBetween(_W.unboundedPreceding, 0)
    )
    cum = cand.withColumn(
        "_cw", F.sum(weight_col).over(w) + F.col("_entry")
    )
    return cum.filter(q_den * F.col("_cw") >= q_num * F.col("_tw")).drop(
        "_entry"
    )


def global_ntile(
    df: DataFrame,
    k: int,
    order_cols: list[Column],
    out: str = "tile",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed ``NTILE(k) OVER (ORDER BY order_cols)`` (exact SQL
    semantics: bucket sizes differ by at most one, larger buckets
    first). ``order_cols`` must be a total order."""
    rn_col = f"_gr_rn_{out}"
    # the quoted form for every PARSED reference (F.col / F.expr):
    # ``out`` is caller-controlled and may contain spaces, reserved
    # words, or backticks — an embedded backtick must be doubled, the
    # SQL identifier escape, or it terminates the quoting early and
    # corrupts the parsed expression (ADVICE r12). withColumn/drop
    # take the RAW name: they resolve literally, never parse.
    rn = "`" + rn_col.replace("`", "``") + "`"
    ranked, n = _ranked(df, order_cols, rn_col, num_partitions)
    bs, rem = divmod(n, k)
    if bs == 0:
        # n < k: tiles 1..n, one row each
        tile = F.col(rn)
    else:
        # SQL `div` is true integral division (stays in longs at any
        # magnitude); Column `/` on two longs is a DOUBLE divide,
        # which would round past 2^53.
        cut = rem * (bs + 1)
        tile = F.expr(
            f"CASE WHEN {rn} <= {cut}"
            f" THEN ({rn} - 1) div {bs + 1} + 1"
            f" ELSE {rem} + ({rn} - {cut} - 1) div {bs} + 1 END"
        )
    return ranked.withColumn(out, tile.cast("long")).drop(rn_col)
