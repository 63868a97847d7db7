"""Corpus-level distribution monitoring, shared by the batch queries
(queries/catalog_corpus.py, catalog_heavy.py) and the streaming
monitors (streaming/ops.py): total-variation drift from
(source, token, count) partials, and the count-min sketch grid.

Counts are the mergeable state — they sum across micro-batches /
epochs / shards, so any holder of per-partition token counts (or
per-partition CMS grids) can answer the corpus question without
rescanning text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from baronbatch_etl_spark.functions.scalars import round_half_up
from baronbatch_etl_spark.io import materialize
from baronbatch_etl_spark.operators.text import POLY_P


def tv_drift_from_counts(st: DataFrame) -> DataFrame:
    """Per-source total-variation distance vs the whole corpus, from a
    ``(source, tok, c_st)`` counts frame.

    TV(s) = ½·Σ_t |c_st/C_s − c_t/C| rewritten so only tokens PRESENT
    in the source are needed (absent tokens contribute c_t·C_s and
    Σ_t c_t = C):

        TV(s) = [Σ_{t∈s}(|c_st·C − c_t·C_s| − c_t·C_s) + C_s·C]
                / (2·C_s·C)

    All sums are exact BIGINT (order-independent); ONE final IEEE
    division — bit-identical across engines and across replays, which
    is what lets the streaming monitor's fold hash-match the batch
    query. Products stay in-range through ~3·10⁹ corpus tokens per
    1 source-token; rescale counts (or cast DECIMAL(38,0)) beyond.

    Plan: corpus token counts reuse the input aggregate (no rescan);
    C is a broadcast 1-row scalar; the token-keyed join is
    vocabulary-sized (AQE-broadcast while it fits); per-source totals
    join source-keyed (tiny). The input counts frame has four
    consumers (t, cs, n via t, terms) — materialize it once instead
    of replaying the upstream explode+agg per consumer.
    """
    st = materialize(st)
    t = st.groupBy("tok").agg(F.sum("c_st").alias("c_t"))
    cs = st.groupBy("source").agg(
        F.sum("c_st").alias("c_s"), F.count("*").alias("vocab")
    )
    n = t.agg(F.sum("c_t").alias("c"))
    terms = (
        st.join(t, "tok")
        .join(cs, "source")
        .join(F.broadcast(n))  # 1-row scalar, same shape as t_tfidf
        .select(
            "source",
            (
                F.abs(F.col("c_st") * F.col("c") - F.col("c_t") * F.col("c_s"))
                - F.col("c_t") * F.col("c_s")
            ).alias("term"),
        )
    )
    return (
        terms.groupBy("source")
        .agg(F.sum("term").alias("num_part"))
        .join(cs, "source")
        .join(F.broadcast(n))
        .select(
            "source",
            F.col("c_s").alias("n_tokens"),
            F.col("vocab").alias("vocab_size"),
            (
                (F.col("num_part") + F.col("c_s") * F.col("c")).cast("double")
                / (F.lit(2) * F.col("c_s") * F.col("c")).cast("double")
            ).alias("tv_dist"),
        )
    )


# ---------------------------------------------------------------------------
# Count-min sketch grid (shared by a_cms_heavy_hitters and the
# streaming cms_monitor_ingest)
# ---------------------------------------------------------------------------

#: CMS geometry: d independent hash rows × w counters per row. The
#: standard bound: est − true ≤ e·N/w with prob ≥ 1 − e^(−d) — here a
#: d·w = 4·512 = 2048-cell BIGINT grid, ~16 KiB of mergeable state.
CMS_D = 4
CMS_W = 512
CMS_A = (131, 137, 139, 149)
CMS_B = (17, 19, 23, 29)


def cms_buckets(hv: Column) -> Column:
    """array<struct<j,bucket>>: the d (row, bucket) cells a hashed
    token touches. Fixed constants over the portable polynomial hash,
    so Spark and the DuckDB oracle agree bit-for-bit."""
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (
                    (F.lit(CMS_A[j]) * hv + F.lit(CMS_B[j]))
                    % F.lit(POLY_P)
                    % F.lit(CMS_W)
                ).alias("bucket"),
            )
            for j in range(CMS_D)
        ]
    )


def cms_grid_from_hashes(
    hashed: DataFrame, weight: str | None = None
) -> DataFrame:
    """Fold a frame with a token-hash column ``hv`` (optionally
    pre-counted via ``weight``) into the (j, bucket, cell) grid.

    Cells are plain BIGINT sums, so grids built over any partition of
    the data — per micro-batch, per shard, per day — merge by adding
    cells: groupBy (j, bucket) + sum is the union operator.
    """
    w = F.col(weight) if weight else F.lit(1).cast("long")
    return (
        hashed.select(F.explode(cms_buckets(F.col("hv"))).alias("jb"), w.alias("_w"))
        .groupBy(F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket"))
        .agg(F.sum("_w").alias("cell"))
    )


def hourly_zscores(
    hourly: DataFrame,
    window_hours: int = 24,
    min_history: int = 12,
    top: int = 20,
) -> DataFrame:
    """Trailing z-scores over mergeable ``(event_type, hour, n)``
    hourly volume counts → the ``top`` most aberrant rows
    ``(event_type, hour, n, zscore)``.

    Shared by the batch query (``w_anomaly_zscore``) and the
    streaming volume monitor (``streaming/ops.py``): hourly counts
    are the mergeable state (they sum across epochs), and this fold
    is deterministic given them — rolling moments are exact BIGINT
    window sums (count / Σn / Σn² over the trailing ``window_hours``
    WALL-CLOCK hours, current row excluded), mean and sample variance
    derive from them with one fixed IEEE expression, short histories
    (< ``min_history`` observed hours in the window) and zero-variance
    windows are gated arithmetically, and the score rounds half-up at
    1e-6.

    The frame is a RANGE over the integer unix-hour index, not a ROWS
    frame over observed rows: an event type with quiet gaps (hours
    with zero events emit no count row) must be scored against its
    recent wall-clock history, not against arbitrarily old rows — a
    ROWS frame would let a type that was silent for a week be judged
    'normal' against week-old traffic (the round-4 advice).
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy("hidx")
        .rangeBetween(-window_hours, -1)
    )
    # Moments in DECIMAL: Σn and Σn² stay exact at any hourly volume
    # (a BIGINT Σn² would overflow — and ANSI-crash — near 3·10⁹
    # events/hour, which an ingest monitor must survive).
    n_dec = F.col("n").cast("decimal(19,0)")
    roll = hourly.withColumn(
        # hour is a truncated timestamp, so unix_micros divides evenly
        "hidx", F.expr("unix_micros(hour) div 3600000000")
    ).select(
        "event_type",
        "hour",
        "n",
        F.count("*").over(w).cast("long").alias("k"),
        F.sum(n_dec).over(w).alias("s1"),
        F.sum(n_dec * n_dec).over(w).alias("s2"),
    )
    z = roll.filter(
        (F.col("k") >= min_history)
        & (F.col("s2") * F.col("k") > F.col("s1") * F.col("s1"))
    ).select(
        "event_type",
        "hour",
        "n",
        (
            (
                F.col("n").cast("double")
                - F.col("s1").cast("double") / F.col("k")
            )
            / F.sqrt(
                (
                    F.col("s2").cast("double")
                    - F.col("s1").cast("double")
                    * F.col("s1")
                    / F.col("k")
                )
                / (F.col("k") - 1)
            )
        ).alias("zscore"),
    )
    return (
        z.select(
            "event_type",
            "hour",
            "n",
            round_half_up(F.col("zscore"), 6).alias("zscore"),
        )
        .orderBy(F.abs("zscore").desc(), "event_type", "hour")
        .limit(top)
    )


def kmv_source_overlap(
    docs: DataFrame | None, k: int = 64, tokset: DataFrame | None = None
) -> DataFrame:
    """Pairwise source overlap from k-minimum-values sketches (Beyer
    et al. 2007): per source keep the ``k`` smallest distinct token
    hashes; any sketch pair yields a distinct-union estimate
    ((k−1)·P / h_(k) over the merged k-smallest) and a Jaccard
    estimate (shared fraction of the merged sketch). Small unions
    (|A∪B| < k) degrade to the EXACT distinct count per the
    estimator's definition. All cuts are integer row_numbers over
    the portable polynomial hash; the two estimates are fixed IEEE
    expressions (see the a_kmv_overlap oracle, which spells them
    identically).

    Scale: the only corpus-sized work is the (source, token)
    distinct; the per-source k-smallest compiles to WindowGroupLimit;
    everything downstream is |sources|·k rows. Sketches are
    mergeable state: per-shard sketches fold by merge-and-recut.

    ``tokset=`` hands in an already-derived DISTINCT ``(source, hv)``
    frame (e.g. the staged token-count table) instead of tokenizing
    and hashing ``docs`` inline — same values by construction (the
    staged hash is the same portable polynomial per distinct token).
    """
    from pyspark.sql import Window

    from baronbatch_etl_spark.operators import text as X

    if docs is None and tokset is None:
        raise ValueError(
            "pass either docs= (raw documents) or tokset= (a distinct "
            "(source, hv) frame); both were None"
        )
    if tokset is None:
        tokset = (
            docs.select(
                "source", F.explode(X.tokens("text")).alias("tok")
            )
            .select(
                "source", X.char_poly_hash(F.col("tok")).alias("hv")
            )
            .distinct()
        )
    w_src = Window.partitionBy("source").orderBy("hv")
    # the sketch feeds the pair grid twice and the source list once
    # — |sources|·k rows, materialize instead of replaying the
    # corpus-sized distinct per consumer
    sk = materialize(
        tokset.withColumn("rn", F.row_number().over(w_src))
        .filter(F.col("rn") <= k)
        .select("source", "hv")
    )
    srcs = sk.select("source").distinct()
    pairs = (
        srcs.alias("a")
        .join(srcs.alias("b"), F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
    )
    side_a = pairs.join(
        sk.alias("s"), F.col("s.source") == F.col("source_a")
    ).select("source_a", "source_b", "hv", F.lit(0).alias("side"))
    side_b = pairs.join(
        sk.alias("s"), F.col("s.source") == F.col("source_b")
    ).select("source_a", "source_b", "hv", F.lit(1).alias("side"))
    merged = (
        side_a.unionByName(side_b)
        .groupBy("source_a", "source_b", "hv")
        .agg(
            F.max(F.when(F.col("side") == 0, 1).otherwise(0)).alias("in_a"),
            F.max(F.when(F.col("side") == 1, 1).otherwise(0)).alias("in_b"),
        )
    )
    w_pair = Window.partitionBy("source_a", "source_b").orderBy("hv")
    agg = (
        merged.withColumn("rn", F.row_number().over(w_pair))
        .filter(F.col("rn") <= k)
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").alias("kept_n"),
            F.sum(F.col("in_a") * F.col("in_b")).alias("shared"),
            F.max("hv").alias("hk"),
        )
    )
    return agg.select(
        "source_a",
        "source_b",
        "shared",
        F.when(F.col("kept_n") < k, F.col("kept_n").cast("double"))
        .otherwise(
            (F.lit(float(k - 1)) * F.lit(float(POLY_P)))
            / F.col("hk").cast("double")
        )
        .alias("union_est"),
        (
            F.col("shared").cast("double") / F.col("kept_n").cast("double")
        ).alias("jaccard_est"),
    )
