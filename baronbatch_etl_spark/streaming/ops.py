"""Structured-Streaming operators — SURVEY §2.9 T1–T6.

The reference is a micro-batch incremental pipeline built from an
APScheduler timer + a `processed` flag + `$inc` upserts
(transformer_loader/main.py:76-207). Here those semantics are the
standard Spark streaming surface:

  T1 micro-batch trigger   → trigger(processingTime=...) / availableNow
  T2 progress tracking     → checkpoint offsets (no flag column)
  T3 dedup on ingest       → dropDuplicatesWithinWatermark / dropDuplicates
  T4 incremental aggregate → groupBy().agg() in update mode
  T5 queue + backpressure  → source rate limits (maxFilesPerTrigger)
  T6 batch splitting       → partition sizing, not engine-visible

Batch twins of each computation live in queries/catalog_streaming.py
(oracle-checked); these streaming versions are exercised by
tests/test_streaming.py with a memory sink. Every query works on any
additional files dropped into the source directory — at scale the
source is a bucket prefix and nothing here changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from baronbatch_etl_spark.io import _pin_timestamp_confs

#: events.parquet stores TIMESTAMP(NANOS); streaming readers declare it
#: LONG (with the nanosAsLong conf) and rebuild microsecond timestamps.
EVENTS_DDL = (
    "event_id LONG, ts LONG, user_id LONG, event_type STRING, "
    "value DOUBLE, props STRING"
)


def _stream_parquet(
    spark: SparkSession, src_dir: str, ddl: str, glob: str
) -> DataFrame:
    """Shared file-source stream: one file per micro-batch (T5: bounded
    batches; admission order = file drop order), declared schema (no
    inference pass)."""
    return (
        spark.readStream.format("parquet")
        .schema(ddl)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", glob)
        .load(src_dir)
    )


def stream_events(
    spark: SparkSession, sf_dir: str, glob: str = "events.parquet"
) -> DataFrame:
    """File-source stream over the events table (S4's idiomatic form:
    the `processed == False` incremental scan becomes checkpointed
    file-source offsets). `glob` selects the event files within the
    directory (the fixture dir holds all ten tables; a dedicated
    multi-file source dir streams with glob='*.parquet')."""
    _pin_timestamp_confs(spark)
    # Streams need a declared schema; fixture vintages store ts as
    # either TIMESTAMP(NANOS) (arrives as LONG under nanosAsLong) or
    # TIMESTAMP(MICROS) (a ready timestamp). Probe with a driver-side
    # batch read of the footer — no job — and declare to match.
    probe = (
        spark.read.option("pathGlobFilter", glob).parquet(sf_dir).dtypes
    )
    ts_is_long = dict(probe).get("ts") == "bigint"
    ddl = EVENTS_DDL if ts_is_long else EVENTS_DDL.replace(
        "ts LONG", "ts TIMESTAMP"
    )
    raw = _stream_parquet(spark, sf_dir, ddl, glob)
    if ts_is_long:
        raw = raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
        )
    return raw


def tumbling_counts(events: DataFrame) -> DataFrame:
    """T4: hourly tumbling window aggregate with a 10-minute watermark
    (late rows beyond it are dropped; state is bounded)."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("value_sum"))
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            "event_type",
            "n",
            "value_sum",
        )
    )


def watermark_dedup(events: DataFrame) -> DataFrame:
    """T3: idempotent ingest — the unique-index + exists-check of the
    reference (extractor/main.py:413,513) as bounded-state streaming
    dedup on the natural key."""
    return events.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def session_aggregate(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user (gap-merged), the streaming twin of
    catalog_windows.w_sessionize."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_millis(F.col("w.start")).alias("session_start_ms"),
            "n_events",
        )
    )


def click_purchase_join(events: DataFrame) -> DataFrame:
    """Stream-stream inner join: each purchase attributed to the same
    user's clicks in the preceding 30 minutes. Both sides carry
    watermarks and the join has an explicit event-time range bound, so
    state is provably droppable — the shape Spark requires for
    unbounded stream-stream joins (and the shape that stays bounded at
    any scale)."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    buys = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("buy_id"),
            F.col("user_id").alias("b_user"),
            F.col("ts").alias("buy_ts"),
            F.col("value").alias("buy_value"),
        )
        .withWatermark("buy_ts", "10 minutes")
    )
    return clicks.join(
        buys,
        (F.col("c_user") == F.col("b_user"))
        & (F.col("buy_ts") >= F.col("click_ts"))
        & (F.col("buy_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        "click_id",
        "buy_id",
        F.col("c_user").alias("user_id"),
        F.unix_millis("click_ts").alias("click_ts_ms"),
        F.unix_millis("buy_ts").alias("buy_ts_ms"),
        "buy_value",
    )


# ---------------------------------------------------------------------------
# Epoch store: the one exactly-once write path behind every ingest sink
# ---------------------------------------------------------------------------


def _epoch_sink(stream: DataFrame, query_name: str, write):
    """The exactly-once sink contract every ingest operator below
    shares — the Spark rewrite of the reference's timer + `processed`
    flag + `$inc` upsert (transformer_loader/main.py:76-207).

    ``write(batch, epoch_id)`` runs per micro-batch under foreachBatch
    and writes only through :func:`_write_epoch`, i.e. under
    ``<store>/epoch=<id>``. A retried batch overwrites its own epoch
    directory, so at-least-once foreachBatch delivery folds to
    exactly-once state. Additive stores are read back by re-summing
    the epochs (:func:`_fold_epochs`); a gate that decides against
    history reads every OTHER epoch (:func:`_prior_epochs`), so a
    replayed batch sees exactly the state its first run saw. No
    driver-side state; at scale the same shape is a MERGE into a
    transactional table keyed by epoch. Every input here is a stateless
    stream, so no output mode is set (it would have no effect).

    On a local master the checkpoint logs (offsets, commits, the file
    source's seen-files log) are written by rename
    (``session.local_master_conf``): each log entry goes to a temp file
    that is then renamed into place. A rename on a local POSIX
    filesystem is atomic, so a reader never sees a partial entry. The
    manager's "do not overwrite an existing batch" check is an exists
    test before the rename, which is only safe with one writer — and
    each query here is the only writer of its checkpoint: every caller
    gives each query its own ``checkpointLocation``, and Spark refuses
    to start a query whose id is already active in the session."""
    return (
        stream.writeStream.foreachBatch(write)
        .queryName(query_name)
        .trigger(availableNow=True)
    )


def _write_epoch(df: DataFrame, store: str, epoch_id: int, *partition_by):
    """Overwrite ``store``'s directory for ``epoch_id`` with ``df``
    (optionally partitioned within the epoch); returns that path."""
    path = f"{store}/epoch={epoch_id}"
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    return path


def _read_epochs(spark: SparkSession, store: str, schema: str | None):
    """``store``'s epochs (``epoch`` column included), or one epoch's
    directory. A declared ``schema`` (the partial's columns) saves the
    Spark job that parquet schema inference runs on every read;
    ``None`` infers it."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(store)


def _prior_epochs(
    spark: SparkSession, store: str, epoch_id: int, schema: str | None = None
):
    """Every epoch of ``store`` except ``epoch_id`` (``epoch`` column
    included), or ``None`` when the store does not exist yet."""
    from pyspark.errors import AnalysisException

    try:
        epochs = _read_epochs(spark, store, schema)
        return epochs.filter(F.col("epoch") != epoch_id)
    except AnalysisException:
        # missing-path only (first epoch, no store yet); corrupt files
        # / transient FS errors surface at action time and FAIL the
        # batch instead of silently deciding against an empty history
        return None


def _fold_epochs(
    spark: SparkSession,
    store: str,
    keys: list[str],
    sums: list[str],
    schema: str | None = None,
) -> DataFrame:
    """Re-sum an additive store's per-epoch partials by ``keys`` — the
    read side of gold, hourly counts, token counts and CMS grids."""
    return (
        _read_epochs(spark, store, schema)
        .groupBy(*keys)
        .agg(*[F.sum(c).alias(c) for c in sums])
    )


#: incremental_gold's epoch store: one partial per (user, event type).
GOLD_DDL = "user_id LONG, event_type STRING, games LONG, value_sum DOUBLE"


def _gold_partial(batch: DataFrame) -> DataFrame:
    """incremental_gold's per-batch partial: (user_id, event_type,
    games, value_sum)."""
    return batch.groupBy("user_id", "event_type").agg(
        F.count("*").alias("games"), F.sum("value").alias("value_sum")
    )


def incremental_gold(
    events: DataFrame, gold_path: str, query_name: str = "gold"
):
    """T4 gold maintenance: each micro-batch's PARTIAL aggregate goes
    to the epoch store at ``gold_path`` (the :func:`_epoch_sink`
    contract) — the Spark rewrite of the reference's `$inc` upsert
    (transformer_loader/main.py:184-190). The partials are commutative
    (count + sum), so ``read_gold`` recombines them with a second
    groupBy."""
    return _epoch_sink(
        events,
        query_name,
        lambda b, e: _write_epoch(_gold_partial(b), gold_path, e),
    )


def read_gold(spark: SparkSession, gold_path: str) -> DataFrame:
    """Fold the per-epoch partial aggregates into current gold totals
    (the read side of incremental_gold)."""
    return _fold_epochs(
        spark,
        gold_path,
        ["user_id", "event_type"],
        ["games", "value_sum"],
        GOLD_DDL,
    )


def compact_epoch_store(
    spark: SparkSession,
    store_path: str,
    out_path: str,
    group_cols: list[str],
    sum_cols: list[str],
) -> int:
    """Offline maintenance for the epoch-keyed partial stores (gold /
    drift counts / CMS grids): fold every ``epoch=*`` partial into ONE
    base epoch at ``out_path``, so read-side folds stop re-summing an
    unbounded epoch history.

    All three stores hold commutative sums, so re-aggregation is
    exact: any read fold over the compacted store is bit-identical to
    the fold over the raw one (tested). Written to a NEW path — the
    stream stays epoch-keyed and idempotent: point it (and readers) at
    the compacted store and let new epochs accumulate on top; run
    compaction again whenever the directory count matters (the same
    cadence as parquet small-file compaction, sources/writers.compact).

    The base partial lands under ``epoch=-1`` — retried real epochs
    (ids ≥ 0) can never collide with it. Returns the number of rows in
    the compacted base.
    """
    from pathlib import Path

    src, dst = Path(store_path).resolve(), Path(out_path).resolve()
    if dst == src or src in dst.parents:
        # writing the base INSIDE the store being read would make
        # every later fold sum the history plus its own copy — silent
        # 2× counts; refuse instead
        raise ValueError(
            f"compact_epoch_store: out_path {out_path!r} must not be "
            f"the store itself or inside it ({store_path!r})"
        )
    base = _write_epoch(
        _fold_epochs(spark, store_path, group_cols, sum_cols), out_path, -1
    )
    # count the just-written base (small), not the lazy plan (which
    # would re-run the whole history fold a second time)
    return spark.read.parquet(base).count()


DOCS_DDL = "doc_id LONG, text STRING"


def stream_documents(
    spark: SparkSession, src_dir: str, glob: str = "*.parquet"
) -> DataFrame:
    """File-source stream over incoming document files (the corpus
    ingest path)."""
    return _stream_parquet(spark, src_dir, DOCS_DDL, glob)


#: neardup_ingest's key store: the admission keys of accepted docs.
DOC_KEYS_DDL = "doc_id LONG, band INT, key STRING"


def _doc_keys(batch: DataFrame) -> DataFrame:
    """(doc_id, band, key) admission keys for a document micro-batch:
    the MinHash-LSH band keys (near-dup granularity) plus an md5
    digest key as band −1 (exact granularity — also the only gate for
    sub-shingle-length docs, which sign as the sentinel and are
    excluded from banding, same as the batch operator)."""
    from baronbatch_etl_spark.operators import dedup as D
    from baronbatch_etl_spark.operators.fast_text import text_signatures_fast

    sig = batch.select(
        "doc_id", text_signatures_fast(F.col("text")).alias("x")
    ).select("doc_id", "x.sig", "x.sh")
    # the exclusion rides in the generator, not in a filter: Catalyst
    # pushes a filter on a UDF output below the UDF's projection and
    # then evaluates the UDF in two Arrow passes
    banded = sig.selectExpr(
        "doc_id",
        f"posexplode(if(size(sh) > 0, {D.LSH_BAND_KEYS_SQL}, array()))"
        " AS (band, key)",
    )
    digest = batch.select(
        "doc_id", F.lit(-1).alias("band"), F.md5("text").alias("key")
    )
    return banded.unionByName(digest)


def neardup_ingest(
    docs: DataFrame,
    store_path: str,
    accepted_path: str,
    query_name: str = "neardup_ingest",
):
    """Online near-duplicate admission control on document ingest —
    the streaming twin of the batch LSH keep-one family (and the
    near-dup analogue of d_bloom_dedup's exact gate).

    Per micro-batch, greedily and deterministically:
      1. a doc whose keys (LSH bands ∪ exact digest) hit the
         accumulated key store of previously ACCEPTED docs is dropped;
      2. among the store-clean docs of the batch, a doc is dropped if
         a lower-doc_id store-clean doc shares any key with it
         (bucket-greedy, non-recursive — the same admission decision
         replayed on a retry);
      3. survivors' keys go to the epoch store ``store_path`` and
         survivor docs to ``accepted_path`` (the :func:`_epoch_sink`
         contract: the store read excludes the current epoch).

    The admission is derived once per batch. Step 2 is a
    ``min(doc_id)`` window over (band, key) followed by an all-keys
    check per doc, so the clean keys are never self-joined. Step 3
    writes the survivors' keys, then semi-joins the batch against the
    key epoch just written (read back with its declared schema) —
    every doc has a digest key, so that epoch's doc ids are exactly
    the accepted docs. Semi and anti joins need no ``distinct()``.

    Scale shape: the store is (band, key) parquet — read as a
    key-partitioned join side, never the full corpus text; batch keys
    shuffle on (band, key) against it (at 100 TB: bucketed store +
    AQE, or a Bloom pre-filter on key like bloom_build to make the
    common no-hit path map-only). State grows with ACCEPTED docs
    only, ~(bands+1) small rows per doc."""
    from pyspark.sql import Window

    by_key = Window.partitionBy("band", "key")
    by_doc = Window.partitionBy("doc_id")

    def gate(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        keys = _doc_keys(batch).cache()
        store = _prior_epochs(spark, store_path, epoch_id, DOC_KEYS_DDL)
        if store is not None:
            hit = keys.join(
                store.select("band", "key"), ["band", "key"], "left_semi"
            ).select("doc_id")
            clean_keys = keys.join(hit, "doc_id", "left_anti")
        else:
            clean_keys = keys
        # a doc survives iff it holds the lowest clean doc_id on every
        # one of its keys
        surv_keys = (
            clean_keys.withColumn(
                "_first", F.col("doc_id") == F.min("doc_id").over(by_key)
            )
            .withColumn(
                "_surv", F.min(F.col("_first").cast("int")).over(by_doc)
            )
            .where("_surv = 1")
            .select("doc_id", "band", "key")
        )
        written = _write_epoch(surv_keys, store_path, epoch_id)
        accepted = batch.join(
            _read_epochs(spark, written, DOC_KEYS_DDL).select("doc_id"),
            "doc_id",
            "left_semi",
        )
        _write_epoch(accepted, accepted_path, epoch_id)
        keys.unpersist()

    return _epoch_sink(docs, query_name, gate)


#: Full corpus-document schema (documents.parquet's curation columns).
CORPUS_DDL = "doc_id LONG, lang STRING, text STRING, n_chars LONG"


def stream_corpus(
    spark: SparkSession, src_dir: str, glob: str = "*.parquet"
) -> DataFrame:
    """File-source stream of full corpus documents (doc_id, lang,
    text, n_chars) — the ingest side of the streaming training-set
    build (curate_ingest)."""
    return _stream_parquet(spark, src_dir, CORPUS_DDL, glob)


def curate_ingest(
    docs: DataFrame,
    accepted_path: str,
    query_name: str = "curate_ingest",
):
    """Streaming twin of the training-set capstone's survivor stages:
    per micro-batch, quality filter → exact dedup → MinHash-LSH
    near-dup keep-one against the accumulated accepted corpus — run
    with the SAME batch quality gate (``text.QUALITY_MIN``) and
    operators (``minhash_lsh_pairs`` at ``NEAR_DUP_JACCARD`` incl. its
    exact-Jaccard verify, ``near_dup_removed``) inside foreachBatch, so
    the admitted survivor set equals the batch pipeline's
    (``t_training_set`` stages 1–3) whenever near-dup clusters are
    cliques under doc_id-ordered replay — true for copy-derived
    near-duplicates, the dominant real-world case, and asserted
    end-to-end by tests/test_streaming_multibatch.py. (For a
    chain-shaped cluster a–b, b–c with a≁c, any single-pass admission
    policy must diverge from global connected components; the greedy
    key-store gate ``neardup_ingest`` is the documented contract
    there.)

    Survivors go to the epoch store ``accepted_path`` (the
    :func:`_epoch_sink` contract: the accepted read excludes the
    current epoch, so a replay re-derives its first decision).

    Scale: signatures for the accepted pool are recomputed per batch
    here for operator parity; a production run persists the signature
    table alongside the accepted docs (one Arrow pass per doc ever)
    and probes it — the join shapes are identical."""
    from baronbatch_etl_spark.operators import dedup as D
    from baronbatch_etl_spark.operators import text as X

    def gate(batch: DataFrame, epoch_id: int) -> None:
        qual = batch.filter(
            X.quality_score("text", "n_chars") >= X.QUALITY_MIN
        )
        keep = (
            qual.select("doc_id", F.md5("text").alias("_md5"))
            .groupBy("_md5")
            .agg(F.min("doc_id").alias("doc_id"))
        )
        sdocs = qual.join(keep.select("doc_id"), "doc_id", "left_semi")
        accepted = _prior_epochs(
            batch.sparkSession, accepted_path, epoch_id, CORPUS_DDL
        )
        if accepted is not None:
            accepted = accepted.drop("epoch")
            sdocs = sdocs.join(
                accepted.select(F.md5("text").alias("_md5")),
                F.md5(sdocs["text"]) == F.col("_md5"),
                "left_anti",
            )
        sdocs = sdocs.cache()
        pool = (
            sdocs.select("doc_id", "text")
            if accepted is None
            else accepted.select("doc_id", "text").unionByName(
                sdocs.select("doc_id", "text")
            )
        )
        # pairs among accepted docs cannot exist (each was admitted
        # non-adjacent), so every pair touches this batch. The pair
        # operator reads its signature frame from several branches, so
        # the pool's signatures are cached once here
        sigs = D.signatures(pool).select("doc_id", "sig", "sh").cache()
        pairs = D.minhash_lsh_pairs(sigs).cache()
        if accepted is not None:
            acc_a = accepted.select(F.col("doc_id").alias("doc_a"))
            acc_b = accepted.select(F.col("doc_id").alias("doc_b"))
            store_adj = (
                pairs.join(acc_a, "doc_a", "left_semi")
                .select(F.col("doc_b").alias("doc_id"))
                .unionByName(
                    pairs.join(acc_b, "doc_b", "left_semi")
                    .select(F.col("doc_a").alias("doc_id"))
                )
                .distinct()
            )
            in_batch = pairs.join(acc_a, "doc_a", "left_anti").join(
                acc_b, "doc_b", "left_anti"
            )
            cand = sdocs.join(store_adj, "doc_id", "left_anti")
        else:
            in_batch, cand = pairs, sdocs
        surv = cand.join(D.near_dup_removed(in_batch), "doc_id", "left_anti")
        _write_epoch(surv, accepted_path, epoch_id)
        pairs.unpersist()
        sigs.unpersist()
        sdocs.unpersist()

    return _epoch_sink(docs, query_name, gate)


def read_curated(spark: SparkSession, accepted_path: str) -> DataFrame:
    """The stream-built survivor corpus (all epochs)."""
    return spark.read.parquet(accepted_path).drop("epoch")


EMB_DDL = "vec_id LONG, embedding ARRAY<FLOAT>, label LONG"


def stream_embeddings(
    spark: SparkSession, src_dir: str, glob: str = "*.parquet"
) -> DataFrame:
    """File-source stream of incoming embedding rows (index ingest)."""
    return _stream_parquet(spark, src_dir, EMB_DDL, glob)


def ivf_ingest(
    vecs: DataFrame,
    cents: list[tuple[int, list[float]]],
    index_path: str,
    query_name: str = "ivf_ingest",
):
    """Incremental IVF index maintenance: each micro-batch of new
    vectors is assigned to its nearest coarse cell (the trained
    k-means centroids, e.g. from ``similarity.kmeans_assign``) with
    the same map-only literal-centroid expression the batch trainer
    uses, then written to the epoch store ``index_path`` CELL-PARTITIONED
    within each epoch (the :func:`_epoch_sink` contract).

    The payoff at scale: searches prune to one cell DIRECTORY
    (PartitionFilters at the scan — see ``ivf_search``), so the index
    grows without rewrites and reads never touch other cells. The
    centroids stay fixed between retrains, which is what keeps the
    layout append-only; a retrain is a new index root."""
    from baronbatch_etl_spark.operators.similarity import _nearest_centroid

    def add(batch: DataFrame, epoch_id: int) -> None:
        best = _nearest_centroid(F.col("embedding"), cents)
        cells = batch.select(
            "vec_id", "embedding", best.getField("cid").alias("cell")
        )
        _write_epoch(cells, index_path, epoch_id, "cell")

    return _epoch_sink(vecs, query_name, add)


def ivf_search(
    spark: SparkSession,
    index_path: str,
    cents: list[tuple[int, list[float]]],
    query_vec: list[float],
    k: int = 5,
) -> DataFrame:
    """Cell-pruned top-k over the incrementally-maintained index: the
    query's cell id is computed driver-side against the same
    centroids, and the scan's partition filter prunes every other
    cell directory before any file is opened."""
    from baronbatch_etl_spark.operators.similarity import (
        _sqdist_fold,
        _topk,
        cosine,
    )

    # mirror _nearest_centroid exactly (ties to the lowest cid), so a
    # near-tie between centroids sends the search to the SAME cell the
    # matching vectors were ingested into (bit-identical assignment)
    best_cell = min((_sqdist_fold(query_vec, c), cid) for cid, c in cents)[1]
    idx = spark.read.parquet(index_path).filter(F.col("cell") == best_cell)
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    scored = idx.select(
        "vec_id", "cell", cosine(F.col("embedding"), q).alias("cos_sim")
    )
    return _topk(scored, "cos_sim", k)


#: volume_monitor_ingest's epoch store.
HOURLY_DDL = "event_type STRING, hour TIMESTAMP, n LONG"


def _hourly_counts(batch: DataFrame) -> DataFrame:
    """volume_monitor_ingest's per-batch partial: (event_type, hour, n)."""
    return batch.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count("*").cast("long").alias("n"))


def volume_monitor_ingest(
    events: DataFrame, counts_path: str, query_name: str = "volume"
):
    """Streaming twin of ``w_anomaly_zscore``'s input build: each
    micro-batch folds to (event_type, hour, n) hourly-count partials in
    the epoch store ``counts_path`` (the :func:`_epoch_sink` contract).
    Hourly counts are the mergeable monitoring state:
    ``read_anomalies`` re-sums them and applies the shared trailing
    z-score fold (operators/corpus.py::hourly_zscores), so the live
    monitor's answer is bit-identical to the batch query over the
    same events — no raw events retained, only |types|×hours counts
    per epoch.
    """
    return _epoch_sink(
        events,
        query_name,
        lambda b, e: _write_epoch(_hourly_counts(b), counts_path, e),
    )


def read_anomalies(spark: SparkSession, counts_path: str) -> DataFrame:
    """Fold the per-epoch hourly-count partials into the current
    top-20 volume anomalies (the read side of volume_monitor_ingest;
    same fold as the batch ``w_anomaly_zscore``)."""
    from baronbatch_etl_spark.operators.corpus import hourly_zscores

    hourly = _fold_epochs(
        spark, counts_path, ["event_type", "hour"], ["n"], HOURLY_DDL
    )
    return hourly_zscores(hourly, window_hours=24, min_history=12, top=20)


def enrich_events(events: DataFrame, customers: DataFrame) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of events joins
    the (static, broadcastable) customer dim — Spark's native
    stream-static join, the streaming form of J1's broadcast dim
    lookup. The static side re-resolves per micro-batch, so a dim
    refresh lands without restarting the query; no watermark or state
    is needed because the static side never changes mid-batch."""
    dim = customers.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_name").alias("user_name"),
        F.col("c_mktsegment").alias("segment"),
    )
    return events.join(F.broadcast(dim), "user_id", "left").select(
        "event_id", "user_id", "user_name", "segment", "event_type", "value"
    )


def with_ingest_metrics(events: DataFrame, name: str = "ingest") -> DataFrame:
    """Attach per-micro-batch observed metrics to a stream: row count
    and a null-key count ride each batch's own processing (the
    streaming twin of sources.write_with_metrics) and surface in every
    StreamingQueryProgress under ``observedMetrics[name]`` — the
    monitoring hook an ingest SLO dashboard consumes, with zero extra
    passes over the data."""
    return events.observe(
        name,
        F.count(F.lit(1)).alias("n_rows"),
        # coalesce: an empty micro-batch reports 0, not NULL
        F.coalesce(
            F.sum(
                F.when(F.col("user_id").isNull(), F.lit(1)).otherwise(F.lit(0))
            ),
            F.lit(0),
        ).cast("long").alias("null_users"),
    )


def rate_progress_report(query) -> list[dict]:
    """Per-micro-batch rate/backpressure digest of a StreamingQuery's
    ``recentProgress`` — the T5 observability surface next to
    ``with_ingest_metrics``: with ``maxFilesPerTrigger=N`` the report
    shows the source feeding bounded batches (one row per trigger),
    and a ``processed_rps`` persistently below ``input_rps`` is the
    backpressure signal that the sink can't keep up with the source
    rate cap. Driver-side and O(#batches) — recentProgress retains at
    most ``spark.sql.streaming.numRecentProgressUpdates`` (100)
    entries, so this never scales with data volume.

    Empty triggers (numInputRows=0 heartbeats) are dropped: they carry
    no rate information and availableNow runs end with one."""
    out = []
    for p in query.recentProgress:
        n = p.get("numInputRows", 0) or 0
        if n == 0:
            continue
        dur = p.get("durationMs", {}) or {}
        out.append(
            {
                "batch_id": p.get("batchId"),
                "num_input_rows": n,
                "input_rps": float(p.get("inputRowsPerSecond") or 0.0),
                "processed_rps": float(
                    p.get("processedRowsPerSecond") or 0.0
                ),
                "trigger_ms": int(dur.get("triggerExecution", 0) or 0),
                "addbatch_ms": int(dur.get("addBatch", 0) or 0),
            }
        )
    return out


SOURCED_DOCS_DDL = (
    "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
)


def stream_sourced_docs(
    spark: SparkSession, src_dir: str, glob: str = "*.parquet"
) -> DataFrame:
    """File-source stream of provenance-tagged documents (the full
    fixture schema incl. ``source``) — input to the drift monitor."""
    return _stream_parquet(spark, src_dir, SOURCED_DOCS_DDL, glob)


#: drift_monitor_ingest's epoch store.
TOKEN_COUNTS_DDL = "source STRING, tok STRING, c_st LONG"


def _token_counts(batch: DataFrame) -> DataFrame:
    """drift_monitor_ingest's per-batch partial: (source, tok, c_st)."""
    from baronbatch_etl_spark.operators import text as X

    return (
        batch.select("source", F.explode(X.tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c_st"))
    )


def drift_monitor_ingest(
    docs: DataFrame, stats_path: str, query_name: str = "drift"
):
    """Streaming twin of ``t_corpus_drift``: each micro-batch folds to
    (source, tok, c_st) token-count partials in the epoch store
    ``stats_path`` (the :func:`_epoch_sink` contract).

    Counts are the mergeable drift state: ``read_drift`` re-sums them
    and applies the shared exact-integer TV fold
    (operators/corpus.py), so the monitor's answer is bit-identical to
    the batch query over the same documents — no text is retained,
    only vocabulary-sized counts per epoch.
    """
    return _epoch_sink(
        docs,
        query_name,
        lambda b, e: _write_epoch(_token_counts(b), stats_path, e),
    )


def read_drift(spark: SparkSession, stats_path: str) -> DataFrame:
    """Fold the per-epoch token-count partials into current per-source
    TV drift (the read side of drift_monitor_ingest)."""
    from baronbatch_etl_spark.operators import corpus as C

    st = _fold_epochs(
        spark, stats_path, ["source", "tok"], ["c_st"], TOKEN_COUNTS_DDL
    )
    return C.tv_drift_from_counts(st)


#: cms_monitor_ingest's epoch store.
CMS_GRID_DDL = "j INT, bucket LONG, cell LONG"


def _cms_grid(batch: DataFrame) -> DataFrame:
    """cms_monitor_ingest's per-batch partial: per-batch token counts
    (a batch-bounded partial agg), then the shared grid fold
    (operators/corpus.py) — (j, bucket, cell)."""
    from baronbatch_etl_spark.operators import corpus as C
    from baronbatch_etl_spark.operators import text as X

    hashed = (
        batch.select(F.explode(X.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
        .select(X.char_poly_hash(F.col("tok")).alias("hv"), "c")
    )
    return C.cms_grid_from_hashes(hashed, weight="c")


def cms_monitor_ingest(
    docs: DataFrame, grid_path: str, query_name: str = "cms"
):
    """Streaming twin of ``a_cms_heavy_hitters``'s grid build: each
    micro-batch folds to a partial d×w count-min grid in the epoch
    store ``grid_path`` (the :func:`_epoch_sink` contract), so
    per-epoch state is ≤ d·w = 2048 BIGINT cells no matter the batch
    size and no text or vocabulary is retained at all.

    Grids union by cell addition, so ``read_cms``'s re-sum is
    bit-identical to the batch grid over the same documents.
    """
    return _epoch_sink(
        docs,
        query_name,
        lambda b, e: _write_epoch(_cms_grid(b), grid_path, e),
    )


def read_cms(spark: SparkSession, grid_path: str) -> DataFrame:
    """Fold the per-epoch partial grids into the current d×w counter
    grid (the read side of cms_monitor_ingest). Point estimates read
    as min over the d cells a token hashes to — join
    operators/corpus.cms_buckets against this frame, or use
    ``cms_estimate`` below."""
    return _fold_epochs(
        spark, grid_path, ["j", "bucket"], ["cell"], CMS_GRID_DDL
    )


def cms_estimate(
    spark: SparkSession, grid_path: str, tokens: list[str]
) -> DataFrame:
    """Point-estimate token frequencies from the streamed grid:
    (tok, cms_est) with the CMS guarantee est ≥ true count over
    everything ingested so far. The token list is a driver-side probe
    set (a dashboard's watchlist), the grid is ≤ d·w rows — both
    sides broadcast-scale, so this runs in milliseconds regardless of
    how much text the monitor has folded."""
    from baronbatch_etl_spark.operators import corpus as C
    from baronbatch_etl_spark.operators import text as X

    probes = (
        spark.createDataFrame([(t,) for t in tokens], "tok STRING")
        .select("tok", X.char_poly_hash(F.col("tok")).alias("hv"))
        .select("tok", F.explode(C.cms_buckets(F.col("hv"))).alias("jb"))
        .select("tok", F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket"))
    )
    return (
        probes.join(
            F.broadcast(read_cms(spark, grid_path)), ["j", "bucket"], "left"
        )
        .groupBy("tok")
        # an absent cell means nothing ever hashed there: its counter
        # is 0, so the min (the estimate) is 0 — never-seen tokens
        # report 0, not the min of their non-empty cells
        .agg(F.min(F.coalesce(F.col("cell"), F.lit(0))).alias("cms_est"))
    )


def media_features_ingest(
    docs: DataFrame, features_path: str, query_name: str = "media_features"
):
    """Streaming twin of the multimodal feature lane (mm_features +
    the aHash fingerprint): each micro-batch maps documents through
    the media convention, runs the Arrow feature extraction and
    payload fingerprint, and writes the rows to the epoch store
    ``features_path`` (the :func:`_epoch_sink` contract). Feature
    extraction is row-local — no cross-batch state — so the union of
    epochs equals the batch operators over the union of inputs,
    bit-for-bit (asserted in tests/test_streaming_multibatch.py). At
    100 TB this is the shape for continuous media-asset enrichment:
    decode cost rides the ingest stream once, and downstream near-dup
    blocking reads the accumulated fingerprint store instead of
    re-decoding the corpus.
    """
    from baronbatch_etl_spark.operators import multimodal as M

    def fold(batch: DataFrame, epoch_id: int) -> None:
        media = M.documents_as_media(batch)
        feats = M.extract_features(media).join(
            M.payload_fingerprints(media), "media_id"
        )
        _write_epoch(feats, features_path, epoch_id)

    return _epoch_sink(docs, query_name, fold)


def read_media_features(spark: SparkSession, features_path: str) -> DataFrame:
    """Read side of media_features_ingest: the epoch union IS the
    feature store (media ids are unique across an append-only ingest,
    so no fold is needed — a replayed epoch was overwritten in place).
    """
    return spark.read.parquet(features_path)


# ---------------------------------------------------------------------------
# Graph authority: epoch-folded edge store + deterministic recompute
# ---------------------------------------------------------------------------

#: Interaction-pair stream schema (customer key, supplier key).
PAIRS_DDL = "c BIGINT, s BIGINT"


def stream_pairs(
    spark: SparkSession, src_dir: str, glob: str = "*.parquet"
) -> DataFrame:
    """File-source stream of (c, s) interaction pairs — input to the
    graph-authority monitor."""
    return _stream_parquet(spark, src_dir, PAIRS_DDL, glob)


def _edge_set(batch: DataFrame) -> DataFrame:
    """authority_ingest's per-batch partial: the distinct (c, s) pairs."""
    return batch.select("c", "s").distinct()


def authority_ingest(
    pairs: DataFrame, edges_path: str, query_name: str = "authority"
):
    """Streaming twin of the graph-authority family (``g_pagerank`` /
    ``g_hits``): each micro-batch folds its interaction pairs to a
    DISTINCT (c, s) partial in the epoch store ``edges_path`` (the
    :func:`_epoch_sink` contract).

    The edge SET is the mergeable graph state: partials union by
    distinct-on-read. ``read_authority`` re-runs the shared
    deterministic operators over the folded set — link-graph scores
    are recomputed per read, the production cadence for authority
    priors (rank state is NOT incrementally mergeable, edge sets are;
    recompute-from-edges is how host-graph PageRank is actually
    refreshed). Per-epoch state: batch-bounded distinct key pairs,
    nothing else retained.
    """
    return _epoch_sink(
        pairs,
        query_name,
        lambda b, e: _write_epoch(_edge_set(b), edges_path, e),
    )


def read_authority(
    spark: SparkSession,
    edges_path: str,
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over the folded edge store (read side of
    ``authority_ingest``): distinct-union the epoch partials, apply
    the even/odd node encoding of ``g_pagerank``, undirected closure,
    shared fixed-point operator — bit-identical to the batch query
    over the same pair set (multibatch-tested)."""
    from baronbatch_etl_spark.operators import graph as G

    pairs = (
        spark.read.parquet(edges_path)
        .select(
            (F.col("c") * 2).alias("a"), (F.col("s") * 2 + 1).alias("b")
        )
        .distinct()
    )
    return G.pagerank(
        G.undirected_edges(pairs, "a", "b", disjoint=True),
        iters=iters,
        damping=damping,
    )
