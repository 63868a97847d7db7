"""Bronze→silver→gold medallion pipeline — the Spark rewrite of the
reference's core dataflow (SURVEY §3.2): matches_raw → matches_clean
→ aggregated_stats, plus the maintenance operations
(ingest dedup, retention trim, cascade delete, dim upsert).

Reference behavior being reproduced, by stage:
  * validation           transformer_loader/main.py:95-97   (P9)
  * participant lookup   transformer_loader/main.py:102-131 (J2 staged)
  * derived metrics      transformer_loader/main.py:148-157 (F9-F11)
  * clean projection     transformer_loader/main.py:159-177 (P11/P12)
  * gold aggregate       transformer_loader/main.py:184-190 (A2)
  * ingest dedup         extractor/main.py:413-428,513      (S3/J5/T3)
  * retention trim       api_service/main.py:237-249        (W1)
  * cascade delete       api_service/main.py:199-202        (S11/J3)
  * dim upsert           api_service/main.py:151            (S7)

Scale posture: the summoners dim is always broadcast; the fact table
shuffles only for the gold groupBy; per-row Mongo round-trips become
set-oriented joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from baronbatch_etl_spark.functions.scalars import (
    cs_per_min,
    norm_nfkc,
    safe_div_kda,
)


def ingest_dedup(incoming: DataFrame, existing: DataFrame) -> DataFrame:
    """Insert-if-absent on matchId (unique-index semantics,
    extractor/main.py:413 + :513): keep incoming rows whose key is not
    already stored, then first-writer-wins within the batch."""
    w = Window.partitionBy("matchId").orderBy("timestamp", "puuid")
    return (
        incoming.join(existing.select("matchId"), "matchId", "left_anti")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _resolve_participant(exploded: DataFrame, summoners: DataFrame) -> DataFrame:
    """J2 staged resolution of the tracked player among the 10
    participants, keyed to the BRONZE row's own puuid — the reference
    looks up only the match's db_puuid summoner and matches against
    that one target (transformer_loader/main.py:99-131):
      stage 1  participant.puuid == bronze.puuid
      stage 2  norm(riotIdGameName) == norm(target name part)
               AND (tag equal OR participant tag missing/empty)
      stage 3  norm(legacy p.summonerName) == norm(target name part)
               (Strategy B compares against the game name only)
    First stage that matches wins; one participant row per match.

    One broadcast join attaches the single target summoner per bronze
    row; the stages are then a CASE over that row — no per-stage
    joins, so the whole resolution is map-side at any scale."""
    from baronbatch_etl_spark.functions.scalars import split_name_tag

    dim_name, dim_tag = split_name_tag("summonerName")
    dim = summoners.select(
        F.col("puuid").alias("s_puuid"),
        norm_nfkc(dim_name).alias("s_norm_name"),
        norm_nfkc(dim_tag).alias("s_norm_tag"),
    )

    # normalize on the exploded side, below the dim join: computed
    # above it, one copy of each UDF call is pulled into the join's
    # pushed-down projection and another runs above the join, so every
    # name crossed to Python twice
    p = (
        exploded.withColumn("p_norm_name", norm_nfkc(F.col("p.riotIdGameName")))
        .withColumn("p_norm_tag", norm_nfkc(F.col("p.riotIdTagLine")))
        .withColumn("p_norm_legacy", norm_nfkc(F.col("p.summonerName")))
        .join(F.broadcast(dim), F.col("puuid") == F.col("s_puuid"))
    )
    stage = (
        F.when(F.col("p.puuid") == F.col("puuid"), 1)
        .when(
            (F.col("p_norm_name") == F.col("s_norm_name"))
            & (
                F.col("p_norm_tag").isNull()
                | (F.col("p_norm_tag") == "")
                | (F.col("p_norm_tag") == F.col("s_norm_tag"))
            ),
            2,
        )
        .when(F.col("p_norm_legacy") == F.col("s_norm_name"), 3)
    )
    resolved = p.withColumn("resolve_stage", stage).filter(
        F.col("resolve_stage").isNotNull()
    )
    # one winner per match even if several participants matched
    w = Window.partitionBy("matchId").orderBy("resolve_stage", F.col("p.puuid"))
    return (
        resolved.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def silver_from_bronze(bronze: DataFrame, summoners: DataFrame) -> DataFrame:
    """matches_raw → matches_clean (one row per match × tracked player).

    Null-safe validation drops envelope rows without info/participants
    (the reference marks them processed and skips — P9/T2), then the
    staged join finds the tracked player, then the clean projection
    derives kda / cs / cs_min / items / participants summary.

    PRECONDITION: ``matchId`` is unique in ``bronze`` — the reference
    enforces this upstream with a unique index (extractor/main.py:413)
    and our ingest path does the same via :func:`ingest_dedup`. A
    duplicate-matchId bronze frame fans out to one silver row per
    duplicate (the winner join is 1:N then). We deliberately do NOT
    defensively ``dropDuplicates`` here: the envelope carries the full
    participants payload, and deduping it would re-introduce exactly
    the full-payload shuffle the narrow-frame resolution avoids — at
    100 TB that is the dominant cost. Callers with un-deduped input
    must route through :func:`ingest_dedup` first."""
    valid = bronze.filter(
        F.col("raw.info").isNotNull()
        & F.col("raw.info.participants").isNotNull()
        & (F.size("raw.info.participants") > 0)
    )
    # Resolution runs on a NARROW frame: key columns + the exploded
    # participant only. The envelope payload (the full participants
    # array, timing fields) must not ride through the resolution —
    # the pandas-UDF stage boundary buffers full rows JVM-side while
    # Python round-trips, and the winner-per-match window shuffles its
    # input, so a wide frame pays ~participants× the payload in queue
    # memory and exchange bytes. Measured 6.5 s → 1.5 s on the sf0.1
    # P11 fixture; at 100 TB it is the difference between moving the
    # corpus through the Python boundary and moving join keys.
    exploded = valid.select(
        "matchId",
        "puuid",
        F.explode("raw.info.participants").alias("p"),
    )
    winners = _resolve_participant(exploded, summoners)
    envelope = valid.select(
        "matchId",
        F.col("raw.info.queueId").alias("queue_id"),
        F.col("raw.info.gameDuration").alias("duration_s"),
        # ts fallback chain (F8): gameEndTimestamp or gameCreation
        F.coalesce(
            F.col("raw.info.gameEndTimestamp"), F.col("raw.info.gameCreation")
        ).alias("game_timestamp"),
        F.col("raw.info.participants").alias("all_parts"),
    )
    # 1:1 equi-join on the match key (matchId unique in both sides):
    # the heavy envelope payload moves exactly once, in a keyed join,
    # never through the Python boundary or the window exchange
    resolved = winners.join(envelope, "matchId")

    cs = F.coalesce(F.col("p.totalMinionsKilled"), F.lit(0)) + F.coalesce(
        F.col("p.neutralMinionsKilled"), F.lit(0)
    )
    part_summary = F.transform(
        "all_parts",
        lambda q: F.struct(
            q["championName"].alias("champion"),
            F.coalesce(
                F.when(
                    q["riotIdTagLine"].isNotNull() & (q["riotIdTagLine"] != ""),
                    F.concat_ws("#", q["riotIdGameName"], q["riotIdTagLine"]),
                ),
                q["riotIdGameName"],
                q["summonerName"],
                F.lit("Unknown"),
            ).alias("summonerName"),
            q["teamId"].alias("teamId"),
            q["win"].alias("win"),
            q["kills"].alias("kills"),
            q["deaths"].alias("deaths"),
            q["assists"].alias("assists"),
            q["totalDamageDealtToChampions"].alias("total_damage"),
            F.array(
                *[F.coalesce(q[f"item{i}"], F.lit(0)) for i in range(7)]
            ).alias("items"),
        ),
    )

    return resolved.select(
        "matchId",
        "puuid",  # the bronze key, not the matched dim row's
        "queue_id",
        F.col("p.championName").alias("champion"),
        F.coalesce(F.col("p.win"), F.lit(False)).alias("win"),
        F.coalesce(F.col("p.kills"), F.lit(0)).alias("kills"),
        F.coalesce(F.col("p.deaths"), F.lit(0)).alias("deaths"),
        F.coalesce(F.col("p.assists"), F.lit(0)).alias("assists"),
        safe_div_kda(
            F.coalesce(F.col("p.kills"), F.lit(0)),
            F.coalesce(F.col("p.deaths"), F.lit(0)),
            F.coalesce(F.col("p.assists"), F.lit(0)),
        ).alias("kda"),
        cs.alias("cs"),
        cs_per_min(cs, F.coalesce(F.col("duration_s"), F.lit(0))).alias("cs_min"),
        # the reference clean projection defaults these to 0, not NULL
        # (transformer_loader/main.py:148-157 target_p.get(..., 0))
        F.coalesce(F.col("p.totalDamageDealtToChampions"), F.lit(0)).alias(
            "total_damage"
        ),
        F.coalesce(F.col("p.goldEarned"), F.lit(0)).alias("gold_earned"),
        F.array(
            *[F.coalesce(F.col(f"p.item{i}"), F.lit(0)) for i in range(7)]
        ).alias("items"),
        "game_timestamp",
        part_summary.alias("participants"),
        F.current_timestamp().alias("processed_at"),
    )


def gold_from_silver(silver: DataFrame) -> DataFrame:
    """matches_clean → aggregated_stats: (puuid × champion) games /
    wins / kda_sum — the full recompute that replaces the reference's
    `$inc` upsert (streaming update-mode variant:
    streaming/ops.incremental_gold)."""
    return silver.groupBy("puuid", "champion").agg(
        F.count("*").alias("games"),
        F.sum(F.when(F.col("win"), 1).otherwise(0)).alias("wins"),
        F.sum("kda").alias("kda_sum"),
    )


def retention_trim(df: DataFrame, ts_col: str, keep: int = 200) -> DataFrame:
    """Keep newest N rows per user (api_service/main.py:237-249)."""
    w = Window.partitionBy("puuid").orderBy(
        F.col(ts_col).desc(), F.col("matchId").desc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= keep)
        .drop("_rn")
    )


def cascade_delete(facts: DataFrame, puuid: str) -> DataFrame:
    """Delete one user's rows from a fact table (api_service/main.py:
    199-202) — anti-join rewrite of delete_many. Null-safe: rows with
    NULL puuid are KEPT (delete_many({'puuid': x}) removes only
    matching rows; a plain != would silently drop nulls too)."""
    return facts.filter(~F.col("puuid").eqNullSafe(F.lit(puuid)))


def purge_orphans(facts: DataFrame, summoners: DataFrame) -> DataFrame:
    """Drop facts whose puuid is no longer a tracked summoner
    (api_service/main.py:220-223, `$nin` → left_anti)."""
    return facts.join(
        F.broadcast(summoners.select("puuid")), "puuid", "left_semi"
    )


def upsert_summoners(current: DataFrame, updates: DataFrame) -> DataFrame:
    """SCD-1 dim upsert by puuid (api_service/main.py:151): updated
    rows replace, new rows append."""
    return current.join(updates, "puuid", "left_anti").unionByName(updates)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Change-data-capture diff of two table snapshots → a changelog
    of ``(op ∈ insert|update|delete, *keys, *compare_cols)``.

    The set-oriented form of the reference's per-row "is it already
    stored / did it change" probes (extractor/main.py:413-428): one
    FULL OUTER join co-partitioned on the key, presence tests for
    insert/delete, column-wise comparison for update (null-safe
    ``<=>`` so NULL→value and value→NULL edits are real updates).
    Unchanged rows drop out — the changelog is delta-sized, not
    snapshot-sized. At scale both snapshots hash-shuffle once on the
    key (zero-Exchange when bucketed the same way); nothing is
    broadcast because both sides are table-sized. ``compare_cols``
    are carried from the NEW side for upserts (NULL for deletes).
    """
    # presence flags must come from a column that can't be NULL in a
    # present row — use an explicit marker instead of guessing which
    # compare column happens to be non-nullable:
    o = old.select(*keys, F.lit(True).alias("_present_o"), *compare_cols)
    n = new.select(*keys, F.lit(True).alias("_present_n"), *compare_cols)
    on = o.alias("o").join(n.alias("n"), on=keys, how="full_outer")
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
    op = (
        F.when(F.col("_present_o").isNull(), F.lit("insert"))
        .when(F.col("_present_n").isNull(), F.lit("delete"))
        .when(changed, F.lit("update"))
    )
    out_cols = [F.col(f"n.{c}").alias(c) for c in compare_cols]
    return (
        on.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select("op", *keys, *out_cols)
    )


def apply_changelog(
    snapshot: DataFrame,
    changelog: DataFrame,
    keys: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Apply an insert/update/delete changelog (the output shape of
    :func:`snapshot_diff`) to a snapshot → the next snapshot.

    The MERGE half of the CDC pair: every key mentioned in the
    changelog leaves the base via ONE anti-join (deletes vanish,
    updates/inserts are replaced), then the non-delete rows union in
    with the changelog's new-side values. Algebraic contract —
    ``apply_changelog(old, snapshot_diff(old, new)) == new`` exactly —
    is pinned by a property test on the fixture snapshots, so the
    pair is a lossless incremental transport for periodic full dumps.
    Same scale posture as the diff: one keyed shuffle each side,
    zero-Exchange when base and changelog share a bucketed layout.
    """
    cols = [*keys, *compare_cols]
    touched = changelog.select(*keys)
    kept = snapshot.select(*cols).join(touched, keys, "left_anti")
    upserts = changelog.filter(F.col("op") != "delete").select(*cols)
    return kept.unionByName(upserts)
