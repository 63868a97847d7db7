"""Distributed exact global order statistics — rank / ntile /
percent_rank / cume_dist WITHOUT a single-partition WindowExec.

``Window.orderBy(...)`` with no partition spec is the one Spark shape
that cannot scale: every row funnels through ONE task (Spark itself
warns "Moving all data to a single partition"). But exact global
order statistics do not require a single partition — they require a
total order, which a range partitioning already provides. The
classic two-pass plan (the zipWithIndex pattern, re-expressed on the
DataFrame API so Catalyst/AQE still see through it):

  1. ``repartitionByRange(P, keys)`` — range-shuffle on the sort key,
     so partition i holds keys strictly below partition i+1;
  2. ``sortWithinPartitions(keys)`` — local sort, no data movement;
  3. per-partition sequence numbers from
     ``monotonically_increasing_id()`` (lower 33 bits = the row's
     0-based position in its partition). The projection is marked
     non-deterministic, so Catalyst cannot reorder it around the
     sort — the sequence follows the sorted order;
  4. per-partition row counts (a tiny aggregate: ONE row per range
     partition) prefix-summed into start offsets — the only
     unpartitioned window in the plan runs over this ≤P-row frame,
     bounded by the cluster's partition count, never by data;
  5. broadcast-join the offsets back: global rank = offset + seq + 1.

Cost: one range shuffle of the input (same bytes the single-partition
plan also shuffles — but into P parallel tasks instead of 1) plus a
broadcast of P offset rows. ntile/percent_rank/cume_dist are then
pure arithmetic on (rank, total): no second pass over the data.

Determinism (oracle hash safety): callers must order by a key that is
UNIQUE per row (every catalog query appends a key tiebreaker), so the
total order — and therefore every derived statistic — is exact and
engine-independent. Range boundaries only decide WHERE a row ranks
locally, never its global rank.

Scale note: the 33-bit per-partition sequence caps a single range
partition at 2^33 rows (~8.6e9); any sane ``num_partitions`` at
100 TB keeps partitions orders of magnitude below that.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from baronbatch_etl_spark.io import plan_bytes, spread_width

# Reserved infra column names. `_gr_pid` also serves as the plan-audit
# allowlist marker: tools/explain_audit.py accepts an unpartitioned
# WindowExec ONLY when it orders by this column (the ≤P-row offsets
# frame of step 4), so the audit can tell the bounded prefix-sum from
# a data-grain global window.
_PID = "_gr_pid"
_SEQ = "_gr_seq"
_CNT = "_gr_cnt"
_OFF = "_gr_off"
_SEQ_MASK = (1 << 33) - 1

#: Auto-sizing target for the range exchange: one range partition per
#: this many estimated input bytes. Rank inputs are aggregated grains
#: (narrow numeric rows), so 4 MiB ≈ hundreds of thousands of rows
#: per partition — small fixtures collapse to a handful of tasks
#: (each extra task costs fixed scheduler/shuffle overhead that
#: dominates sub-second queries), while any at-scale input rides the
#: shuffle-parallelism cap. Same bytes-aware rule
#: (io.spread_width) as io.spread(), which the r6->r8 rounds settled
#: on after fixed widths lost in one regime or the other.
_BYTES_PER_RANGE_PARTITION = 4 << 20


def global_row_number(
    df: DataFrame,
    order_by: list[Column | str],
    *,
    rank_name: str = "grank",
    total_name: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """All of ``df``'s columns plus ``rank_name`` = the exact 1-based
    global row number under ``order_by`` (which MUST be a unique total
    order — append a key tiebreaker). Optionally ``total_name`` = the
    total row count (long), so quantile arithmetic needs no
    count-over-unbounded window.

    ``num_partitions`` defaults to a bytes-aware width: one range
    partition per :data:`_BYTES_PER_RANGE_PARTITION` of Catalyst's
    plan-time input estimate, clamped to [2, shuffle parallelism] —
    tiny grains stop paying 32-task scheduling overhead per stage
    while at-scale inputs always ride the cap. The count is passed
    EXPLICITLY to repartitionByRange either way, which keeps AQE from
    re-coalescing the exchange between the two consumers of the
    tagged frame — the pid→offset map must describe the exact
    partitioning the sequence numbers were minted under.

    ``df`` and the tagged frame are cached at MEMORY_AND_DISK. The
    plan has three physical consumers of the input — the range
    sampler, the offsets branch, and the output branch — and Catalyst
    cannot ReusedExchange across them (column pruning gives each
    branch a different exchange subtree), so without caching the
    ENTIRE upstream runs up to 3× per rank and compounds under
    chained ntiles. The cached frames are the rank input itself — an
    already-aggregated grain orders of magnitude smaller than the
    fact/corpus tables — so MEMORY_AND_DISK across a cluster is
    cheap, lineage stays intact (executor loss = recompute, not job
    failure), and upstream runs exactly once. The caches must outlive
    this LAZY frame's action, so a long-lived session drops them with
    ``spark.catalog.clearCache()`` between actions.
    """
    spark = df.sparkSession
    cap = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    # 2 keeps the multi-partition path exercised even on toy inputs;
    # overestimates just ride the cap
    parts = num_partitions or spread_width(
        plan_bytes(df), 2, cap, _BYTES_PER_RANGE_PARTITION
    )
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    ranged = df.repartitionByRange(parts, *cols).sortWithinPartitions(
        *cols
    )
    tagged = ranged.withColumns(
        {
            _PID: F.spark_partition_id(),
            _SEQ: F.monotonically_increasing_id().bitwiseAND(
                F.lit(_SEQ_MASK)
            ),
        }
    )
    # both branches (offsets + output) read the materialized
    # post-shuffle frame instead of re-running the exchange; this
    # also pins ONE pid/seq assignment by construction rather than
    # by recompute determinism
    tagged = tagged.persist(StorageLevel.MEMORY_AND_DISK)
    counts = tagged.groupBy(_PID).agg(F.count("*").alias(_CNT))
    # prefix-sum over ONE ROW PER RANGE PARTITION — bounded by the
    # cluster's partition count (P), not by the data
    offsets = counts.select(
        _PID,
        (
            F.sum(_CNT).over(Window.orderBy(_PID)) - F.col(_CNT)
        ).alias(_OFF),
        *(
            [
                F.sum(_CNT)
                .over(
                    Window.orderBy(_PID).rowsBetween(
                        Window.unboundedPreceding,
                        Window.unboundedFollowing,
                    )
                )
                .alias("_gr_tot")
            ]
            if total_name
            else []
        ),
    )
    out = tagged.join(F.broadcast(offsets), _PID).withColumn(
        rank_name,
        (F.col(_OFF) + F.col(_SEQ) + F.lit(1)).cast("long"),
    )
    if total_name:
        out = out.withColumn(
            total_name, F.col("_gr_tot").cast("long")
        ).drop("_gr_tot")
    return out.drop(_PID, _SEQ, _OFF)


def ntile_from_rank(rank: str, total: str, k: int) -> Column:
    """SQL ``ntile(k)`` as exact integer arithmetic on a global rank:
    with q = n div k and r = n mod k, the first r buckets take q+1
    rows and the rest take q — so rank x lands in bucket
    ``(x + q) div (q + 1)`` inside the fat prefix and
    ``r + (x - r*(q+1) + q - 1) div q`` after it. (The common
    ``floor((x-1)*k/n)+1`` shortcut is NOT ntile: at n=5,k=2 it
    splits 2/3 where ntile splits 3/2.) CASE evaluates lazily, so
    the q=0 branch (n < k, every rank in the fat prefix) never
    divides by zero. Callers that already hold (rank, total) columns
    from global_row_number use it to take several statistics from one
    ranked pass."""
    return F.expr(
        f"CAST(CASE WHEN {rank} <= ({total} % {k}) * (({total} div {k}) + 1) "
        f"THEN ({rank} + ({total} div {k})) div (({total} div {k}) + 1) "
        f"ELSE ({total} % {k}) + ({rank} - ({total} % {k}) * (({total} div {k}) + 1) "
        f"+ ({total} div {k}) - 1) div ({total} div {k}) END AS INT)"
    )


def global_ntile(
    df: DataFrame,
    order_by: list[Column | str],
    k: int,
    *,
    bucket_name: str,
    num_partitions: int | None = None,
    approx: bool = False,
    approx_error: float = 1e-4,
) -> DataFrame:
    """All of ``df``'s columns plus ``bucket_name`` = exact SQL
    ``ntile(k)`` over the global ``order_by`` order (unique key
    required), computed as arithmetic on the distributed global rank
    — no single-partition WindowExec anywhere in the plan.

    ``approx=True`` is the 100 TB opt-in (r9 verdict #6): instead of
    range-shuffling the frame to rank it, compute the k-1 bucket
    boundaries once with Spark's Greenwald–Khanna sketch
    (``approxQuantile`` at ``approx_error`` relative rank error — one
    aggregation pass, driver state = k-1 scalars) and bucket map-side
    by value comparison: ZERO data shuffles, the shape a real
    100 TB quantile-scoring job (RFM, perplexity buckets) runs.
    Contract differences vs the exact default, which stays the
    oracle-checked path:

    * ``order_by[0]`` must be an ascending numeric column NAME (no
      tiebreakers — bucketing is by value, so none are needed) and
      non-null — the sketch skips nulls, so a null metric row has no
      defined bucket and the expression raises on the first one;
    * each boundary lands within ``approx_error``·n ranks of the
      exact cut, so any row's bucket is within ±1 of exact ntile —
      pinned by the unit tests — and bucket sizes are equal only to
      that tolerance;
    * PEERS (duplicate metric values) all land in one bucket, where
      exact ntile splits a boundary-straddling run by the tiebreaker
      — value-determinism is usually what a scoring job wants, but it
      widens the ±1 bound for runs longer than n/k.
    """
    if approx:
        if not order_by or not isinstance(order_by[0], str):
            raise TypeError(
                "approx ntile buckets by VALUE: pass the metric as a "
                "single ascending column name (no Column expressions, "
                "no tiebreakers)"
            )
        col = order_by[0]
        bounds = df.stat.approxQuantile(
            col, [i / k for i in range(1, k)], approx_error
        )
        # bucket = 1 + |{boundaries strictly below the value}| — one
        # array expression however large k is (a chained-CASE build
        # would nest k-1 deep and stress codegen at large k)
        arr = F.array(*[F.lit(b) for b in bounds])
        bucket = (
            F.size(F.filter(arr, lambda b: F.col(col) > b)) + 1
        ).cast("int")
        # enforce the documented non-null contract map-side: the
        # sketch skipped nulls when estimating the boundaries, and
        # NULL > boundary is NULL, so a null metric would otherwise
        # silently land in bucket 1 — fail loudly on the first one
        # instead (raise_error keeps the zero-extra-pass shape).
        bucket = F.when(F.col(col).isNotNull(), bucket).otherwise(
            F.raise_error(
                F.lit(
                    f"global_ntile(approx=True): NULL in metric column "
                    f"{col!r} — the approx path buckets by value and "
                    "requires a non-null metric (filter or impute "
                    "first, or use the exact path)"
                )
            )
        )
        return df.withColumn(bucket_name, bucket)
    ranked = global_row_number(
        df,
        order_by,
        rank_name="_gr_rank",
        total_name="_gr_n",
        num_partitions=num_partitions,
    )
    return ranked.withColumn(
        bucket_name, ntile_from_rank("_gr_rank", "_gr_n", k)
    ).drop("_gr_rank", "_gr_n")


def percent_rank_col(rank: str, total: str) -> Column:
    """SQL ``percent_rank()`` from (global rank, total):
    (rank-1)/(n-1), and 0.0 for the degenerate n=1 frame."""
    return (
        F.when(F.col(total) > 1, (F.col(rank) - 1) / (F.col(total) - 1))
        .otherwise(F.lit(0.0))
        .cast("double")
    )


def cume_dist_col(rank: str, total: str) -> Column:
    """SQL ``cume_dist()`` from (global rank, total) — VALID ONLY
    under a unique total order (no peers): rank/n. With duplicate
    sort keys cume_dist counts peers and this shortcut is wrong;
    every catalog caller orders by a key-tiebroken unique key."""
    return (F.col(rank) / F.col(total)).cast("double")
