"""Regression tests for the code-review findings: as-of row atomicity
under NULL right values, range-join probe coverage with small buckets,
SimHash radius guard, MinHash short-doc exclusion, first-writer dedup
ordering."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import Row

from baronbatch_etl_spark.operators.dedup import (
    minhash_lsh_pairs,
    signatures,
    simhash_near_pairs,
)
from baronbatch_etl_spark.operators.joins import asof_join, range_join_bucketed


def _t(s):
    return datetime(2024, 1, 1, 0, 0, s)


def test_asof_join_carries_whole_rows_not_columns(spark):
    # matched right row has value=NULL; a per-column carry would tear
    # in value=5.0 from the older row — the struct carry must not
    left = spark.createDataFrame([Row(k="u", ts=_t(30), lid=1)])
    right = spark.createDataFrame(
        [
            Row(k="u", ts=_t(10), rid=100, value=5.0),
            Row(k="u", ts=_t(20), rid=200, value=None),
        ],
        "k string, ts timestamp, rid long, value double",
    )
    out = asof_join(left, right, on="ts", by="k").collect()
    assert len(out) == 1
    assert out[0].asof_rid == 200
    assert out[0].asof_value is None  # NOT 5.0


def test_range_join_small_buckets_full_coverage(spark):
    # right row 250 s back, interval 300 s, buckets of 100 s: the left
    # row must probe 3+ buckets back to find it
    left = spark.createDataFrame([Row(ts=datetime(2024, 1, 1, 0, 5, 0), lid=1)])
    right = spark.createDataFrame(
        [Row(r_ts=datetime(2024, 1, 1, 0, 0, 50), rid=9)]
    )
    out = range_join_bucketed(
        left, right, "ts", "r_ts", interval_ms=300_000, bucket_ms=100_000
    ).collect()
    assert [r.rid for r in out] == [9]


def test_range_join_pre_epoch_timestamps(spark):
    left = spark.createDataFrame([Row(ts=datetime(1969, 12, 31, 23, 59, 59), lid=1)])
    right = spark.createDataFrame(
        [Row(r_ts=datetime(1969, 12, 31, 23, 59, 30), rid=7)]
    )
    out = range_join_bucketed(
        left, right, "ts", "r_ts", interval_ms=60_000
    ).collect()
    assert [r.rid for r in out] == [7]


def test_simhash_radius_guard():
    # the guard fires before any DataFrame work
    with pytest.raises(ValueError, match="max_hamming"):
        simhash_near_pairs(None, max_hamming=4)


def test_minhash_short_docs_never_pair(spark):
    # five sub-shingle docs share the sentinel signature; they must NOT
    # become candidates of each other (O(n²) degeneration guard)
    docs = spark.createDataFrame(
        [
            Row(doc_id=i, text=t, lang="en", source="s", n_chars=len(t))
            for i, t in enumerate(["a b", "c d", "e", "f g", ""])
        ]
    )
    assert minhash_lsh_pairs(signatures(docs), threshold=0.0).count() == 0


def test_resample_ffill_semantics(spark):
    from baronbatch_etl_spark.operators.joins import resample_ffill

    # user u: obs at 00:30 (v=1) and 02:15 (v=2, plus a same-ts dup 9
    # that max-collapses); grid 00:00..02:00 hourly.
    rows = [
        Row(user_id=1, ts=datetime(2024, 1, 1, 0, 30), value=1.0),
        Row(user_id=1, ts=datetime(2024, 1, 1, 2, 15), value=2.0),
        Row(user_id=1, ts=datetime(2024, 1, 1, 2, 15), value=9.0),
    ]
    out = {
        r.grid_ts_ms: r.filled_value
        for r in resample_ffill(
            spark.createDataFrame(rows), "user_id", "ts", "value"
        ).collect()
    }
    h = 3600_000
    base = 1704067200000  # 2024-01-01T00:00Z
    # 00:00 precedes every obs -> NULL; 01:00 and 02:00 carry v=1
    # (the 02:15 obs is after the 02:00 grid point)
    assert out == {base: None, base + h: 1.0, base + 2 * h: 1.0}


def test_resample_ffill_non_hour_step_alignment(spark):
    from baronbatch_etl_spark.operators.joins import resample_ffill

    # 15-minute step: grid anchors on the MINUTE of the first obs
    # (00:07), not on the hour — 00:07, 00:22, 00:37 …
    rows = [
        Row(user_id=1, ts=datetime(2024, 1, 1, 0, 7, 30), value=1.0),
        Row(user_id=1, ts=datetime(2024, 1, 1, 0, 40), value=2.0),
    ]
    out = {
        r.grid_ts_ms: r.filled_value
        for r in resample_ffill(
            spark.createDataFrame(rows), "user_id", "ts", "value",
            step="15 minutes",
        ).collect()
    }
    m = 60_000
    t0 = 1704067200000 + 7 * m  # 00:07:00 (second truncated away)
    assert out == {t0: None, t0 + 15 * m: 1.0, t0 + 30 * m: 1.0}


# --- validate.quarantine / expectations --------------------------------


def test_quarantine_splits_and_tags(spark):
    from pyspark.sql import functions as F

    from baronbatch_etl_spark.operators import validate as V

    df = spark.createDataFrame(
        [(1, 10, "ok"), (2, -5, "ok"), (3, 200, None), (4, 20, "ok")],
        "id LONG, qty LONG, status STRING",
    )
    rules = {
        "neg_qty": F.col("qty") < 0,
        "huge_qty": F.col("qty") > 100,
        "null_status": F.col("status").isNull(),
    }
    good, bad = V.quarantine(df, rules)
    assert sorted(r.id for r in good.collect()) == [1, 4]
    tags = {r.id: r._violations for r in bad.collect()}
    assert tags == {2: "neg_qty", 3: "huge_qty,null_status"}
    # good ∪ bad is a partition of the input (keep + tag, never drop)
    assert good.count() + bad.count() == df.count()


def test_row_rule_counts_single_pass_no_join(spark):
    from pyspark.sql import functions as F

    from baronbatch_etl_spark.operators import validate as V

    df = spark.createDataFrame(
        [(i, i % 7) for i in range(100)], "id LONG, v LONG"
    )
    rep = V.row_rule_counts(
        df, {"v_zero": F.col("v") == 0, "v_big": F.col("v") > 5}
    )
    got = {r.rule: r.violations for r in rep.collect()}
    assert got == {"v_zero": 15, "v_big": 14}
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # every rule rides the same aggregate


def test_range_join_sub_millisecond_lower_bound(spark):
    # a right row microseconds AFTER the left row in the SAME
    # millisecond must not pair: unix_millis truncation would call the
    # delta 0, but "preceding" means full-precision left >= right
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    base = datetime(2024, 1, 1, 0, 0, 0, 0, tzinfo=timezone.utc)
    same_ms_later = datetime(2024, 1, 1, 0, 0, 0, 700, tzinfo=timezone.utc)
    earlier = datetime(2023, 12, 31, 23, 59, 0, 0, tzinfo=timezone.utc)
    left = spark.createDataFrame(
        [(1, base)], "event_id LONG, ts TIMESTAMP"
    )
    right = spark.createDataFrame(
        [(10, same_ms_later), (11, earlier), (12, base)],
        "r_event_id LONG, r_ts TIMESTAMP",
    )
    got = sorted(
        r.r_event_id
        for r in range_join_bucketed(
            left, right, "ts", "r_ts", interval_ms=300_000
        ).collect()
    )
    # 10 excluded (later at full precision), 11 in window, 12 equal ok
    assert got == [11, 12]


# ---------------------------------------------------------------------------
# SCD2 interval build (operators/joins.scd2_intervals)
# ---------------------------------------------------------------------------


def test_scd2_compresses_and_chains(spark):
    from pyspark.sql import Row

    from baronbatch_etl_spark.operators.joins import scd2_intervals

    log = spark.createDataFrame(
        [
            Row(k=1, t=1, seq=1, s="bronze"),
            Row(k=1, t=2, seq=2, s="bronze"),  # unchanged — collapses
            Row(k=1, t=3, seq=3, s="gold"),
            Row(k=1, t=4, seq=4, s="bronze"),  # back — new interval
            Row(k=2, t=9, seq=5, s="silver"),
        ]
    )
    out = sorted(
        scd2_intervals(log, "k", "t", "s", "seq").collect(),
        key=lambda r: (r.k, r.version),
    )
    assert [(r.k, r.state, r.valid_from, r.valid_to, r.version, r.is_current)
            for r in out] == [
        (1, "bronze", 1, 3, 1, False),
        (1, "gold", 3, 4, 2, False),
        (1, "bronze", 4, None, 3, True),
        (2, "silver", 9, None, 1, True),
    ]
    # intervals chain: each valid_to equals the next version's valid_from
    for a, b in zip(out, out[1:]):
        if a.k == b.k:
            assert a.valid_to == b.valid_from


def test_scd2_single_shuffle_plan(spark):
    from pyspark.sql import Row

    from baronbatch_etl_spark.operators.joins import scd2_intervals

    log = spark.createDataFrame(
        [Row(k=i % 3, t=i, seq=i, s=str(i % 2)) for i in range(30)]
    )
    plan = scd2_intervals(log, "k", "t", "s", "seq")._jdf.queryExecution(
    ).executedPlan().toString()
    # one key-keyed Exchange reused by lag, lead and row_number
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_pagerank_empty_edges_raises(spark):
    from baronbatch_etl_spark.operators import graph as G

    empty = spark.createDataFrame([], "src long, dst long")
    with pytest.raises(ValueError, match="non-empty"):
        G.pagerank(empty)


def test_hits_empty_pairs_returns_empty(spark):
    from baronbatch_etl_spark.operators import graph as G

    empty = spark.createDataFrame([], "c long, s long")
    auth, hub = G.hits(empty, iters=2)
    assert auth.count() == 0 and hub.count() == 0


def test_interval_overlap_empty_and_singleton(spark):
    from baronbatch_etl_spark.operators.joins import interval_overlap_join

    empty = spark.createDataFrame([], "iid long, s long, e long")
    assert interval_overlap_join(empty, "iid", "s", "e").count() == 0
    one = spark.createDataFrame([(1, 0, 100)], "iid long, s long, e long")
    assert interval_overlap_join(one, "iid", "s", "e").count() == 0


def test_interval_overlap_zero_length_interval_never_overlaps(spark):
    # [5, 5) is empty under half-open semantics — no pair with anything
    from baronbatch_etl_spark.operators.joins import interval_overlap_join

    df = spark.createDataFrame(
        [(1, 5, 5), (2, 0, 10)], "iid long, s long, e long"
    )
    assert interval_overlap_join(df, "iid", "s", "e").count() == 0


def test_pq_adc_cell_filter_missing_column_errors(spark):
    from baronbatch_etl_spark.operators import similarity as S
    from pyspark.sql import Row

    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i), 0.0, 0.0, 1.0], label=0)
         for i in range(6)]
    )
    state = S.pq_train_state(emb, m=4, k=4, iters=1)
    with pytest.raises(Exception, match="no_such_col"):
        S.pq_adc_topk(emb, 0, state, cell_col="no_such_col")


def test_knn_graph_drops_zero_norm_vectors(spark):
    # a zero embedding has no cosine direction; the contract drops it
    # from BOTH sides in BOTH physical paths (docstring + oracle twin)
    from baronbatch_etl_spark.operators import similarity as S
    from pyspark.sql import Row

    rows = [
        Row(vec_id=i, label=lbl, embedding=[float(i + 1), 1.0, 0.0])
        for lbl in (0, 1)
        for i in range(lbl * 10, lbl * 10 + 4)
    ]
    rows.append(Row(vec_id=99, label=0, embedding=[0.0, 0.0, 0.0]))
    rows.append(Row(vec_id=98, label=1, embedding=[0.0, 0.0, 0.0]))
    emb = spark.createDataFrame(rows)
    # cell_cap=2 forces label cells (5 rows each) down the self-join
    # path; cell_cap large takes the applyInPandas path
    for cap in (2, 4096):
        out = S.knn_graph(emb, k=3, cell_cap=cap).collect()
        touched = {r.vec_id for r in out} | {r.nbr_id for r in out}
        assert 99 not in touched and 98 not in touched, f"cap={cap}"
        # the finite vectors still pair up within their cells
        assert {r.vec_id for r in out} == {
            0, 1, 2, 3, 10, 11, 12, 13
        }, f"cap={cap}"
