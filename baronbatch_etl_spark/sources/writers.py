"""Sinks and physical-layout tools for scale.

Three levers that matter at 100 TB, none of which the reference has
(its sink is row-at-a-time Mongo insert_one):

  * partitioned writes — downstream queries prune whole directories
    (`PartitionFilters` in the scan);
  * bucketed tables — two tables bucketed on the join key co-locate,
    so the join plans with ZERO Exchange (no shuffle of either side);
  * salting — a skewed hot key is split across `salt_buckets`
    sub-keys; the small side is replicated per sub-key, turning one
    straggler partition into N even ones. (AQE skew-join handles
    moderate skew automatically; salting is the explicit fix for
    pathological keys.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from baronbatch_etl_spark.io import plan_bytes, spread_width


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Hive-style partitioned parquet layout (one directory per
    partition value; scans with a partition predicate read only the
    matching directories)."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (optionally sorted) managed table.

    Joins/aggregations between tables bucketed on the same key with
    the same bucket count require no Exchange — verified by
    tests/test_sources.py asserting a shuffle-free join plan.
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 8,
) -> DataFrame:
    """Inner equi-join with the big (skewed) side salted.

    big rows get a deterministic salt from the full-row hash (NOT the
    key alone — a hot key hashes to one value and would stay hot);
    the small side is exploded once per salt value. Join key becomes
    (key, salt) → the hot key's rows spread over `salt_buckets`
    partitions, reproducibly.
    """
    salted_big = big.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(salt_buckets)),
    )
    salted_small = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    out = salted_big.join(salted_small, [key, "_salt"])
    return out.drop("_salt")


def compact(
    spark,
    in_path: str,
    out_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_col: str | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ~target-sized files, returning the output file count.

    Streaming sinks and incremental batch appends accumulate files far
    below the scan-efficient size; at 100 TB the metadata listing and
    per-file open cost dominate reads long before the bytes do. The
    file count comes from the relation's statistics (footer sizes —
    driver-side planning, no job):

      * no ``sort_col``: ``coalesce`` — merges existing partitions
        WITHOUT a shuffle (the whole rewrite is one map-only pass);
      * with ``sort_col``: ``repartitionByRange`` + in-partition sort
        — pays one range shuffle to cluster the data, so every output
        file covers a disjoint key range and min/max footer stats
        prune files for key predicates (poor man's Z-order on one
        dimension).

    Writes to ``out_path`` (never in place — readers of ``in_path``
    are unaffected until the swap, which stays the caller's atomic
    rename/metastore update).
    """
    df = spark.read.parquet(in_path)
    n = spread_width(plan_bytes(df), 1, bytes_per_part=target_file_bytes)
    if sort_col:
        out = df.repartitionByRange(n, sort_col).sortWithinPartitions(
            sort_col
        )
    else:
        out = df.coalesce(n)
    out.write.mode("overwrite").parquet(out_path)
    return len(
        [f for f in spark.read.parquet(out_path).inputFiles()]
    )


def write_with_metrics(
    df: DataFrame,
    path: str,
    rules: dict[str, "F.Column"] | None = None,
    mode: str = "overwrite",
) -> dict:
    """Write parquet and return pipeline metrics observed DURING the
    write — row count plus a violation count per data-quality rule —
    computed by Spark's Observation API as the rows stream through
    the writer. ZERO extra scans or jobs: the aggregates piggyback on
    the write job itself (the production alternative to a separate
    validation pass when you only need counts, not quarantine — for
    keep-and-tag splitting see ``operators.validate.quarantine``).

    The reference logs counts after the fact by re-querying Mongo
    (transformer_loader/main.py:134-142); this is the engine-native
    form: metrics are exact, per-write, and free."""
    from pyspark.sql import Observation

    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for name, pred in (rules or {}).items():
        aggs.append(
            F.sum(F.when(pred, F.lit(1)).otherwise(F.lit(0)))
            .cast("long")
            .alias(f"violations_{name}")
        )
    obs = Observation()
    df.observe(obs, *aggs).write.mode(mode).parquet(path)
    return obs.get
