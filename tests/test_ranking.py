"""Distributed exact global order statistics (operators/ranking.py)
verified against Spark's own single-partition window functions — the
reference semantics — across degenerate sizes (n < k, n = 1), value
ties broken by key, descending orders, and multi-partition inputs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from baronbatch_etl_spark.operators.ranking import (
    cume_dist_col,
    global_ntile,
    global_row_number,
    percent_rank_col,
)


def _frame(spark, n):
    # (i*7919) % 13 gives heavy value ties; id is the unique tiebreak
    rows = [(i, (i * 7919) % 13) for i in range(n)]
    return spark.createDataFrame(rows, "id long, v long")


@pytest.mark.parametrize(
    "n,k", [(1, 4), (2, 3), (5, 2), (5, 3), (7, 3), (100, 4), (997, 5)]
)
def test_matches_spark_window_battery(spark, n, k):
    df = _frame(spark, n)
    order = [F.col("v"), F.col("id")]
    w = Window.orderBy("v", "id")
    ref = {
        t.id: (t.r, t.b, round(t.pr, 12), round(t.cd, 12))
        for t in df.select(
            "id",
            F.row_number().over(w).cast("long").alias("r"),
            F.ntile(k).over(w).alias("b"),
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
        ).collect()
    }
    ranked = global_row_number(
        df, order, rank_name="r", total_name="n", num_partitions=8
    )
    got_rank = {
        t.id: (t.r, round(t.pr, 12), round(t.cd, 12))
        for t in ranked.select(
            "id",
            "r",
            percent_rank_col("r", "n").alias("pr"),
            cume_dist_col("r", "n").alias("cd"),
        ).collect()
    }
    got_ntile = {
        t.id: t.b
        for t in global_ntile(
            df, order, k, bucket_name="b", num_partitions=8
        ).collect()
    }
    spark.catalog.clearCache()
    assert {i: v[0] for i, v in ref.items()} == {
        i: v[0] for i, v in got_rank.items()
    }
    assert {i: v[1] for i, v in ref.items()} == got_ntile
    assert {i: (v[2], v[3]) for i, v in ref.items()} == {
        i: (v[1], v[2]) for i, v in got_rank.items()
    }


def test_descending_order(spark):
    df = _frame(spark, 200)
    ref = {
        t.id: t.r
        for t in df.select(
            "id",
            F.row_number()
            .over(Window.orderBy(F.col("v").desc(), "id"))
            .cast("long")
            .alias("r"),
        ).collect()
    }
    got = {
        t.id: t.r
        for t in global_row_number(
            df,
            [F.col("v").desc(), F.col("id")],
            rank_name="r",
            num_partitions=8,
        )
        .select("id", "r")
        .collect()
    }
    spark.catalog.clearCache()
    assert ref == got


def test_more_partitions_than_rows(spark):
    # empty range partitions must not perturb offsets
    df = _frame(spark, 3)
    got = sorted(
        t.r
        for t in global_row_number(
            df, [F.col("v"), F.col("id")], rank_name="r", num_partitions=16
        ).collect()
    )
    spark.catalog.clearCache()
    assert got == [1, 2, 3]


def test_no_single_partition_window_over_data(spark):
    # the utility's whole point: the only unpartitioned window in the
    # plan is the ≤P-row offsets prefix-sum (ordered by _gr_pid)
    df = _frame(spark, 500)
    out = global_ntile(
        df, [F.col("v"), F.col("id")], 4, bucket_name="b", num_partitions=8
    )
    out.collect()
    plan = (
        out._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    spark.catalog.clearCache()
    for ln in plan.splitlines():
        if "windowspecdefinition" not in ln:
            continue
        # every window spec line must be the pid-ordered bounded one
        assert "_gr_pid" in ln, f"unexpected window in plan: {ln.strip()}"


def test_total_column(spark):
    df = _frame(spark, 41)
    rows = global_row_number(
        df, [F.col("v"), F.col("id")], rank_name="r", total_name="n",
        num_partitions=8,
    ).collect()
    spark.catalog.clearCache()
    assert all(t.n == 41 for t in rows)
    assert sorted(t.r for t in rows) == list(range(1, 42))


def _distinct_frame(spark, n):
    # a fixed permutation of distinct values: (i*7919) % n is a
    # bijection when gcd(7919, n) == 1 — no peers, so exact ntile's
    # tiebreaker never fires and the ±1 approx bound is clean
    rows = [(i, float((i * 7919) % n)) for i in range(n)]
    return spark.createDataFrame(rows, "id long, v double")


@pytest.mark.parametrize("n,k", [(100, 4), (997, 5), (1000, 10)])
def test_approx_ntile_within_one_bucket_of_exact(spark, n, k):
    """The r9 verdict #6 opt-in: GK-sketch boundaries + map-side
    value bucketing must land every row within ±1 bucket of the exact
    distributed ntile on distinct values."""
    df = _distinct_frame(spark, n)
    exact = {
        t.id: t.b
        for t in global_ntile(
            df, [F.col("v"), F.col("id")], k, bucket_name="b",
            num_partitions=8,
        ).collect()
    }
    spark.catalog.clearCache()
    approx = {
        t.id: t.b
        for t in global_ntile(
            df, ["v"], k, bucket_name="b", approx=True
        ).collect()
    }
    assert set(approx) == set(exact)
    assert all(abs(approx[i] - exact[i]) <= 1 for i in approx)
    assert set(approx.values()) <= set(range(1, k + 1))


def test_approx_ntile_zero_error_is_exact_on_distinct(spark):
    """approx_error=0 makes the sketch exact; with distinct values the
    buckets then agree bit-for-bit with exact ntile."""
    df = _distinct_frame(spark, 200)
    exact = {
        t.id: t.b
        for t in global_ntile(
            df, [F.col("v"), F.col("id")], 5, bucket_name="b",
            num_partitions=8,
        ).collect()
    }
    spark.catalog.clearCache()
    approx = {
        t.id: t.b
        for t in global_ntile(
            df, ["v"], 5, bucket_name="b", approx=True,
            approx_error=0.0,
        ).collect()
    }
    assert approx == exact


def test_approx_ntile_peers_share_a_bucket(spark):
    """Value determinism: duplicate metric values land in ONE bucket
    under approx (exact ntile would split a boundary run by the
    tiebreaker)."""
    rows = [(i, float(v)) for i, v in enumerate([1, 1, 1, 1, 2, 2, 2, 2])]
    df = spark.createDataFrame(rows, "id long, v double")
    got = global_ntile(
        df, ["v"], 2, bucket_name="b", approx=True, approx_error=0.0
    ).collect()
    by_v = {}
    for t in got:
        by_v.setdefault(t.v, set()).add(t.b)
    assert all(len(s) == 1 for s in by_v.values())


def test_approx_ntile_requires_column_name(spark):
    df = _distinct_frame(spark, 10)
    with pytest.raises(TypeError, match="column name"):
        global_ntile(
            df, [F.col("v")], 4, bucket_name="b", approx=True
        )


def test_approx_ntile_plan_has_no_shuffle(spark):
    """The scale contract: the bucketing plan itself is map-side —
    no Exchange, no Window (the sketch pass is a separate job that
    already ran by plan-build time)."""
    df = _distinct_frame(spark, 50)
    out = global_ntile(df, ["v"], 4, bucket_name="b", approx=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Window" not in plan


def test_clear_cache_releases_rank_frames(spark):
    """global_row_number persists its input and its tagged frame (the
    LAZY result needs both until the caller's action); one
    ``spark.catalog.clearCache()`` drops both — storage level NONE on
    the JVM side — and the frame still answers (lineage recompute)."""
    from pyspark import StorageLevel
    from pyspark.sql import DataFrame

    spark.catalog.clearCache()  # start clean
    out = global_row_number(
        _frame(spark, 20), [F.col("v"), F.col("id")], rank_name="r",
        num_partitions=4,
    )
    out.collect()

    def subplans(plan):
        yield plan
        for i in range(plan.children().size()):
            yield from subplans(plan.children().apply(i))

    # every cached subplan of the analyzed plan, as a frame whose
    # storageLevel the JVM cache manager answers
    ofrows = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows
    frames = {
        p.semanticHash(): DataFrame(ofrows(spark._jsparkSession, p), spark)
        for p in subplans(out._jdf.queryExecution().analyzed())
    }
    none = StorageLevel.NONE
    cached = [d for d in frames.values() if d.storageLevel != none]
    assert len(cached) == 2  # input + tagged frame
    spark.catalog.clearCache()
    assert all(d.storageLevel == none for d in cached)
    assert out.count() == 20


def test_approx_ntile_raises_on_null_metric(spark):
    """The approx path buckets by value; the sketch skips nulls, so a
    null metric row has no defined bucket — it must fail loudly, not
    silently land in bucket 1."""
    import pytest
    from pyspark.sql import Row

    from baronbatch_etl_spark.operators.ranking import global_ntile

    df = spark.createDataFrame(
        [Row(k=1, v=1.0), Row(k=2, v=None), Row(k=3, v=3.0)],
        "k int, v double",
    )
    out = global_ntile(df, ["v"], 2, bucket_name="b", approx=True)
    with pytest.raises(Exception, match="NULL in metric column"):
        out.collect()
    # and the clean frame still buckets
    clean = global_ntile(
        df.filter("v is not null"), ["v"], 2, bucket_name="b", approx=True
    )
    assert {r.b for r in clean.collect()} <= {1, 2}
