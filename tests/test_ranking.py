"""Distributed global ranking (functions/ranking.py) must be
bit-identical to the single-task global window it replaces, for every
shape that exercises the bucket arithmetic: n % k == 0, n % k != 0,
n < k, duplicate sort values under a unique tie-break, and any input
partitioning (range boundaries may land anywhere without changing a
rank)."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from git_etl_spark.functions.ranking import global_ntile, global_row_number


def _rows(n, dup_every=7):
    # duplicate `v` values every dup_every ids — ties the tie-break on
    # id must resolve identically in both forms
    return [(i, (i * 2654435761 % 1000) // dup_every) for i in range(n)]


def _df(spark, n, parts):
    return spark.createDataFrame(
        _rows(n), "id long, v long"
    ).repartition(parts)


def test_row_number_matches_window(spark):
    df = _df(spark, 503, 7)
    order = [F.col("v").desc(), F.col("id").asc()]
    got = {
        (r["id"], r["rn"])
        for r in global_row_number(df, order, "rn").collect()
    }
    w = Window.orderBy(F.col("v").desc(), F.col("id").asc())
    want = {
        (r["id"], r["rn"])
        for r in df.select("id", F.row_number().over(w).alias("rn")).collect()
    }
    assert got == want


def test_ntile_matches_window_all_shapes(spark):
    for n, k in [(500, 5), (503, 5), (503, 10), (3, 5), (1, 4)]:
        df = _df(spark, n, 5)
        order = [F.col("v").asc(), F.col("id").asc()]
        got = {
            (r["id"], r["t"])
            for r in global_ntile(df, k, order, "t").collect()
        }
        w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
        want = {
            (r["id"], r["t"])
            for r in df.select(
                "id", F.ntile(k).over(w).cast("long").alias("t")
            ).collect()
        }
        assert got == want, (n, k)


def test_partitioning_invariance(spark):
    # the rank must not depend on where sampled range boundaries land:
    # rerun with pathological input partitioning and partition counts
    order = [F.col("v").asc(), F.col("id").asc()]
    base = None
    for in_parts, n_parts in [(1, 32), (13, 3), (32, 1), (5, 8)]:
        df = _df(spark, 211, in_parts)
        got = sorted(
            (r["id"], r["rn"])
            for r in global_row_number(
                df, order, "rn", num_partitions=n_parts
            ).collect()
        )
        if base is None:
            base = got
        assert got == base, (in_parts, n_parts)


def test_empty_input(spark):
    df = spark.createDataFrame([], "id long, v long")
    assert global_row_number(df, [F.col("v")], "rn").count() == 0
    assert global_ntile(df, 5, [F.col("v")], "t").count() == 0


def test_no_global_window_in_plan(spark):
    """The whole point: the consumer's physical plan must contain a
    rangepartitioning exchange and NO Window node at all — ranks come
    from checkpoint-pinned ids plus a broadcast offsets join."""
    df = _df(spark, 100, 4)
    ranked = global_ntile(df, 5, [F.col("v").asc(), F.col("id").asc()], "t")
    from git_etl_spark.plans.audit import physical_plan

    plan = physical_plan(ranked)
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_grouped_weighted_quantile_matches_window(spark):
    """Bit-identity of the bucket-search weighted median with the
    naive grouped window, across bucket granularities — including
    shift=0 (every value its own bucket) and a shift so large all
    values share one bucket (degenerates to the full window): bucket
    granularity must affect performance only, never the result."""
    from pyspark.sql import Window
    from git_etl_spark.functions.ranking import (
        grouped_weighted_quantile_rows,
    )

    rows = [
        (f"g{i % 3}", (i * 2654435761 % 997), (i % 7) + (i % 3 == 0), i)
        for i in range(1, 1200)
    ]  # duplicate values, zero weights for some i%7==0 rows, 3 groups
    df = spark.createDataFrame(rows, "g string, v long, wt long, id long")

    w = (
        Window.partitionBy("g")
        .orderBy("v", "id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("g")
    naive = (
        df.select(
            "g",
            "v",
            F.sum("wt").over(w).alias("cw"),
            F.sum("wt").over(wt).alias("tw"),
        )
        .filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("g")
        .agg(F.min("v").alias("med"), F.max("tw").alias("tw"))
    )
    want = sorted(map(tuple, naive.collect()))
    for shift in (0, 4, 12, 40):
        got = sorted(
            map(
                tuple,
                grouped_weighted_quantile_rows(
                    df, ["g"], "v", ["id"], "wt", bucket_shift=shift
                )
                .groupBy("g")
                .agg(F.min("v").alias("med"), F.max("_tw").alias("tw"))
                .collect(),
            )
        )
        assert got == want, (shift, got, want)


def test_grouped_weighted_quantile_other_quantiles(spark):
    """q1/q4 and q3/q4 crossings agree with the window form."""
    from pyspark.sql import Window
    from git_etl_spark.functions.ranking import (
        grouped_weighted_quantile_rows,
    )

    rows = [("a", i * 37 % 211, 1 + i % 5, i) for i in range(1, 500)]
    df = spark.createDataFrame(rows, "g string, v long, wt long, id long")
    w = (
        Window.partitionBy("g")
        .orderBy("v", "id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("g")
    for q_num, q_den in ((1, 4), (3, 4)):
        naive = (
            df.select(
                "g", "v",
                F.sum("wt").over(w).alias("cw"),
                F.sum("wt").over(wt).alias("tw"),
            )
            .filter(q_den * F.col("cw") >= q_num * F.col("tw"))
            .agg(F.min("v"))
            .collect()[0][0]
        )
        got = (
            grouped_weighted_quantile_rows(
                df, ["g"], "v", ["id"], "wt", q_num=q_num, q_den=q_den,
                bucket_shift=3,
            )
            .agg(F.min("v"))
            .collect()[0][0]
        )
        assert got == naive, (q_num, q_den, got, naive)


def test_grouped_weighted_quantile_empty(spark):
    from git_etl_spark.functions.ranking import (
        grouped_weighted_quantile_rows,
    )

    df = spark.createDataFrame([], "g string, v long, wt long, id long")
    assert (
        grouped_weighted_quantile_rows(df, ["g"], "v", ["id"], "wt").count()
        == 0
    )


def test_grouped_weighted_quantile_null_group_key(spark):
    """NULL group keys must not vanish: groupBy emits a null-key
    subtotal, and the per-group conditions + offsets join are
    null-safe (<=>), so the null group's crossing must equal the
    window form's (Window.partitionBy also treats NULL as one group)."""
    from pyspark.sql import Window
    from git_etl_spark.functions.ranking import (
        grouped_weighted_quantile_rows,
    )

    rows = [
        (None if i % 3 == 0 else f"g{i % 3}", i * 37 % 211, 1 + i % 5, i)
        for i in range(1, 600)
    ]
    df = spark.createDataFrame(rows, "g string, v long, wt long, id long")
    w = (
        Window.partitionBy("g")
        .orderBy("v", "id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("g")
    key = lambda t: (t[0] is not None, t[0] or "", t[1])
    want = sorted(
        ((r["g"], r["med"])
        for r in df.select(
            "g", "v",
            F.sum("wt").over(w).alias("cw"),
            F.sum("wt").over(wt).alias("tw"),
        )
        .filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("g")
        .agg(F.min("v").alias("med"))
        .collect()),
        key=key,
    )
    got = sorted(
        ((r["g"], r["med"])
        for r in grouped_weighted_quantile_rows(
            df, ["g"], "v", ["id"], "wt", bucket_shift=3
        )
        .groupBy("g")
        .agg(F.min("v").alias("med"))
        .collect()),
        key=key,
    )
    assert None in {g for g, _ in got}, got
    assert got == want
    # null-safe equality must stay hash-joinable (Spark plans <=> as
    # coalesce+isnull hash keys) — a nested-loop fallback here would
    # be a scale regression hidden behind a correctness fix
    from git_etl_spark.plans.audit import physical_plan

    plan = physical_plan(
        grouped_weighted_quantile_rows(
            df, ["g"], "v", ["id"], "wt", bucket_shift=3
        )
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "NestedLoop" not in plan, plan


def test_weighted_median_cents_exact_on_truncating_prices(spark):
    """(price * 100).cast(long) on a DOUBLE truncates ~6% of
    two-decimal values (4.35*100 = 434.999...94 -> 434), colliding
    distinct prices in the integer order key; the production query
    derives cents via decimal(18,2) so cents <-> price stays
    bijective. Pin that with prices chosen to truncate, weights
    placing the half-weight crossing exactly inside a would-collide
    pair, and compare against the window-form weighted median on the
    RAW price."""
    from pyspark.sql import Window
    from git_etl_spark.functions.ranking import (
        grouped_weighted_quantile_rows,
    )

    # 4.34 vs 4.35: naive double cents gives 434 for BOTH (collision);
    # 0.29 -> 28, 0.57 -> 56, 2.07 -> 206 all truncate too.
    prices = [0.29, 0.57, 2.07, 4.34, 4.35, 8.41, 12.30, 29.99]
    rows = [
        ("A", p, 1 + (i % 3), i) for i, p in enumerate(prices)
    ] + [("B", p, 2, 100 + i) for i, p in enumerate(reversed(prices))]
    df = spark.createDataFrame(rows, "g string, price double, wt long, id long")

    # the naive derivation really does collide on this data — guard
    # that the test keeps exercising the failure mode
    naive_cents = [
        r[0]
        for r in df.select((F.col("price") * 100).cast("long")).collect()
    ]
    assert len(set(naive_cents)) < df.select("price").distinct().count()

    exact = df.withColumn(
        "cents", (F.col("price").cast("decimal(18,2)") * 100).cast("long")
    )
    # decimal round-trip is bijective on two-decimal prices
    assert (
        exact.select("cents").distinct().count()
        == df.select("price").distinct().count()
    )

    w = (
        Window.partitionBy("g")
        .orderBy("price", "id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("g")
    want = sorted(
        map(
            tuple,
            df.select(
                "g", "price",
                F.sum("wt").over(w).alias("cw"),
                F.sum("wt").over(wt).alias("tw"),
            )
            .filter(2 * F.col("cw") >= F.col("tw"))
            .groupBy("g")
            .agg(F.min("price").alias("med"))
            .collect(),
        )
    )
    for shift in (0, 2, 12):
        got = sorted(
            map(
                tuple,
                grouped_weighted_quantile_rows(
                    exact, ["g"], "cents", ["id"], "wt", bucket_shift=shift
                )
                .groupBy("g")
                .agg(F.min("price").alias("med"))
                .collect(),
            )
        )
        assert got == want, (shift, got, want)


def test_grouped_weighted_quantile_int_group_key(spark):
    """Group keys keep their real dtype through the offsets join —
    an integer group column must work without string coercion."""
    from git_etl_spark.functions.ranking import (
        grouped_weighted_quantile_rows,
    )

    rows = [(i % 4, i * 37 % 211, 1 + i % 5, i) for i in range(1, 400)]
    df = spark.createDataFrame(rows, "g int, v long, wt long, id long")
    out = (
        grouped_weighted_quantile_rows(df, ["g"], "v", ["id"], "wt")
        .groupBy("g")
        .agg(F.min("v").alias("med"))
        .collect()
    )
    assert len(out) == 4 and all(r["med"] is not None for r in out)


def test_global_ntile_backtick_in_out_name(spark):
    """``out`` is caller-controlled and lands inside a parsed SQL
    expression via the generated row-number column's name; an embedded
    backtick must be doubled (the SQL identifier escape) or it would
    terminate the quoting early and corrupt the expression (ADVICE
    r12). The tiles must be the exact NTILE semantics regardless of
    the hostile name."""
    df = spark.createDataFrame([(i,) for i in range(10)], "v long")
    out = "ti`le"  # embedded backtick
    got = {
        r["v"]: r[out]
        for r in global_ntile(df, 3, [F.col("v")], out).collect()
    }
    # NTILE(3) over 10 rows: sizes 4,3,3 — larger buckets first
    want = {v: (1 if v < 4 else 2 if v < 7 else 3) for v in range(10)}
    assert got == want

    # n < k branch parses the quoted name too (tiles 1..n)
    small = spark.createDataFrame([(1,), (2,)], "v long")
    got_small = {
        r["v"]: r[out]
        for r in global_ntile(small, 5, [F.col("v")], out).collect()
    }
    assert got_small == {1: 1, 2: 2}


def test_global_ntile_non_identifier_out_name(spark):
    """``out`` feeds a generated column name into raw SQL — names with
    spaces/reserved words must survive (backtick quoting)."""
    from pyspark.sql import functions as F

    from git_etl_spark.functions.ranking import global_ntile

    df = spark.range(10).select(F.col("id"))
    got = global_ntile(df, 3, [F.col("id")], out="tile 2", num_partitions=2)
    rows = {(r["id"], r["tile 2"]) for r in got.collect()}
    # NTILE(3) over 10 rows: sizes 4,3,3
    want = {(i, 1) for i in range(4)} | {(i, 2) for i in range(4, 7)} | {
        (i, 3) for i in range(7, 10)
    }
    assert rows == want
