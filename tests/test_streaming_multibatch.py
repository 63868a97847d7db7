"""Multi-micro-batch streaming: split events into several files, feed
them one per trigger (maxFilesPerTrigger=1), and check that the
incrementally-maintained gold aggregate converges to the batch answer
— the reference's `$inc`-upsert-over-many-ticks semantics (T1/T4/T5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from baronbatch_etl_spark.io import load_table
from baronbatch_etl_spark.streaming import ops


@pytest.fixture(scope="module")
def split_events_dir(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("events_stream") / "files")
    ev = load_table(spark, sf_dir, "events")
    # 4 files → 4 micro-batches at maxFilesPerTrigger=1;
    # keep ts as epoch-nanos LONG to match the streaming reader schema
    (
        ev.withColumn("ts", F.unix_micros("ts") * 1000)
        .repartition(4)
        .write.mode("overwrite")
        .parquet(out)
    )
    return out


def test_multibatch_incremental_gold_converges(
    spark, sf_dir, split_events_dir, tmp_path
):
    stream = ops.stream_events(spark, split_events_dir, glob="*.parquet")
    gold_path = str(tmp_path / "gold")
    q = ops.incremental_gold(stream, gold_path, "mb_gold").start()
    try:
        # availableNow: the query drains all files then stops itself
        q.awaitTermination(120)
        n_batches = len(q.recentProgress)
    finally:
        q.stop()
    assert n_batches >= 4, n_batches  # one per file: true progression

    batch = load_table(spark, sf_dir, "events").groupBy(
        "user_id", "event_type"
    ).agg(F.count("*").alias("games"))
    want = {(r.user_id, r.event_type): r.games for r in batch.collect()}
    got = {
        (r.user_id, r.event_type): r.games
        for r in ops.read_gold(spark, gold_path).collect()
    }
    assert got == want


def test_multibatch_dedup_replayed_file(spark, split_events_dir, tmp_path):
    # copy one source file twice into a fresh dir → at-least-once
    # delivery; watermark dedup must collapse the replay
    import glob
    import shutil

    d = str(tmp_path / "replay")
    files = sorted(glob.glob(f"{split_events_dir}/part-*.parquet"))
    shutil.os.makedirs(d)
    shutil.copy(files[0], f"{d}/a.parquet")
    shutil.copy(files[0], f"{d}/b.parquet")  # replayed batch

    stream = ops.stream_events(spark, d, glob="*.parquet")
    q = (
        ops.watermark_dedup(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("mb_dedup")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql("SELECT * FROM mb_dedup")
    one_file = spark.read.parquet(files[0]).count()
    assert out.count() == one_file
    assert out.select("event_id").distinct().count() == one_file


BASE = "the quick brown fox jumps over the lazy dog again and again today"
NEAR = BASE + " extra"  # shares LSH bands with BASE (probed, deterministic seeds)
OTHER = "completely different words populate this document with nothing shared"
THIRD = "a third corpus entry speaking about entirely unrelated matters now"


def _write_doc_files(spark, root, batches):
    """One plain parquet FILE per batch (b0.parquet, b1.parquet, ...)
    with increasing mtimes, so the file-stream source (which orders by
    modification time) admits them one per trigger in batch order."""
    import glob as g
    import os
    import shutil
    import time

    os.makedirs(root, exist_ok=True)
    now = time.time()
    for i, rows in enumerate(batches):
        stage = f"{root}/_stage{i}"
        spark.createDataFrame(rows, "doc_id LONG, text STRING").coalesce(
            1
        ).write.mode("overwrite").parquet(stage)
        (part,) = g.glob(f"{stage}/part-*.parquet")
        dst = f"{root}/b{i}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (now + i, now + i))
        shutil.rmtree(stage)


def _greedy_replay(spark, batches):
    """Python replay of neardup_ingest's admission rule over the same
    key function (keys computed by the Spark operator itself)."""
    all_rows = [r for b in batches for r in b]
    df = spark.createDataFrame(all_rows, "doc_id LONG, text STRING")
    keys = {}
    for r in ops._doc_keys(df).collect():
        keys.setdefault(r.doc_id, set()).add((r.band, r.key))
    store: set = set()
    accepted = []
    for b in batches:
        clean = [d for d, _ in b if not (keys[d] & store)]
        surv = [
            d
            for d in clean
            if not any(e < d and (keys[e] & keys[d]) for e in clean)
        ]
        accepted.extend(surv)
        for d in surv:
            store |= keys[d]
    return sorted(accepted)


def test_neardup_ingest_matches_greedy_replay(spark, tmp_path):
    batches = [
        [(0, BASE), (1, OTHER)],
        [(2, NEAR), (3, THIRD)],  # 2 band-collides accepted doc 0 → drop
        [(4, BASE), (5, OTHER), (6, THIRD + " with a small tail")],
    ]
    src = str(tmp_path / "src")
    _write_doc_files(spark, src, batches)
    stream = ops.stream_documents(spark, src)
    store, acc = str(tmp_path / "store"), str(tmp_path / "accepted")
    q = (
        ops.neardup_ingest(stream, store, acc, "mb_neardup")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.awaitTermination(120)
        n_batches = len(q.recentProgress)
    finally:
        q.stop()
    assert n_batches >= 3, n_batches

    got = sorted(
        r.doc_id for r in spark.read.parquet(acc).select("doc_id").collect()
    )
    assert got == _greedy_replay(spark, batches)
    # exact replays (4) and near-dups (2) are gone; originals stay
    assert 0 in got and 1 in got and 2 not in got and 4 not in got


def test_neardup_ingest_restart_is_noop(spark, tmp_path):
    batches = [[(0, BASE)], [(1, NEAR)]]
    src = str(tmp_path / "src")
    _write_doc_files(spark, src, batches)
    store, acc = str(tmp_path / "store"), str(tmp_path / "accepted")
    ckpt = str(tmp_path / "ckpt")
    for _ in range(2):  # second run: checkpoint says all files done
        stream = ops.stream_documents(spark, src)
        q = (
            ops.neardup_ingest(stream, store, acc, "mb_neardup2")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
    got = sorted(
        r.doc_id for r in spark.read.parquet(acc).select("doc_id").collect()
    )
    assert got == [0]  # near-dup dropped once, restart adds nothing


def test_neardup_ingest_jobs_per_batch_stay_flat(spark, tmp_path):
    """A micro-batch's job count must not grow with the store's epoch
    history. Each batch runs as its own availableNow query run over
    one new file; the run id is the job group of every job that run
    launches, so it counts one batch's jobs exactly."""
    import glob as g

    import pyarrow as pa
    import pyarrow.parquet as pq

    words = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    ).split()

    def text(k: int) -> str:
        step = k % 5 + 1
        return " ".join(words[(k * 7 + t * step) % len(words)] for t in range(12))

    batches = []
    for i in range(11):
        rows = [(i * 100 + j, text(i * 10 + j)) for j in range(10)]
        if i:  # an exact replay (doc i*100+99) of the batch before's first doc
            rows.append((i * 100 + 99, batches[-1][0][1]))
        batches.append(rows)

    src = tmp_path / "src"
    src.mkdir()
    store, acc = str(tmp_path / "store"), str(tmp_path / "accepted")
    sc = spark.sparkContext
    jobs = []
    for i, rows in enumerate(batches):
        doc_id, body = zip(*rows)
        pq.write_table(
            pa.table(
                {"doc_id": pa.array(doc_id, pa.int64()), "text": list(body)}
            ),
            src / f"b{i:02d}.parquet",
        )
        q = (
            ops.neardup_ingest(
                ops.stream_documents(spark, str(src)), store, acc, "mb_flat"
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            assert q.awaitTermination(120)
        finally:
            q.stop()
        # one micro-batch per run (numInputRows counts every scan of the
        # batch, so it is not the batch's row count)
        assert sum(bool(p["numInputRows"]) for p in q.recentProgress) == 1
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(str(q.runId))))

    assert 0 < jobs[10] <= jobs[2], jobs
    # one file per store epoch at this size
    epochs = sorted(g.glob(f"{store}/epoch=*"))
    assert len(epochs) == len(batches)
    assert all(len(g.glob(f"{e}/*.parquet")) == 1 for e in epochs)
    got = sorted(
        r.doc_id for r in spark.read.parquet(acc).select("doc_id").collect()
    )
    assert got == _greedy_replay(spark, batches)
    assert not {i * 100 + 99 for i in range(1, 11)} & set(got)  # replays dropped


def test_epoch_store_ddls_match_the_written_partials(spark, tmp_path):
    """Each declared epoch-store schema reads back exactly what its
    sink's partial writes (column names, order and types)."""
    from pyspark.sql import Row

    ev = spark.createDataFrame(
        [(1, "2024-01-01 01:15:00", 7, "click", 1.5)],
        "event_id long, ts_s string, user_id long, event_type string, value double",
    ).select(
        "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value",
    )
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="the quick brown fox jumps over the lazy dog",
             source="A")]
    )
    for name, partial, ddl in (
        ("gold", ops._gold_partial(ev), ops.GOLD_DDL),
        ("hourly", ops._hourly_counts(ev), ops.HOURLY_DDL),
        ("tokens", ops._token_counts(docs), ops.TOKEN_COUNTS_DDL),
        ("cms", ops._cms_grid(docs), ops.CMS_GRID_DDL),
        ("keys", ops._doc_keys(docs.select("doc_id", "text")), ops.DOC_KEYS_DDL),
    ):
        path = ops._write_epoch(partial, str(tmp_path / name), 0)
        inferred = spark.read.parquet(path).schema.simpleString()
        declared = spark.read.schema(ddl).parquet(path).schema.simpleString()
        assert declared == inferred, name


def test_epoch_store_reads_launch_no_job(spark, tmp_path):
    """Reads that declare the store's schema skip parquet schema
    inference: building the read_gold fold or a gate's prior-epoch
    read launches no Spark job, and the fold's answer is unchanged."""
    from tests.test_layout import _jobs_launched

    ev = spark.createDataFrame(
        [(1, "click", 1.0), (1, "click", 2.0), (2, "buy", 5.0)],
        "user_id long, event_type string, value double",
    )
    gold = str(tmp_path / "gold")
    for e in (0, 1):
        ops._write_epoch(ops._gold_partial(ev), gold, e)
    df, n_jobs = _jobs_launched(spark, lambda: ops.read_gold(spark, gold))
    assert n_jobs == 0
    assert sorted(map(tuple, df.collect())) == [
        (1, "click", 4, 6.0), (2, "buy", 2, 10.0)
    ]

    store = str(tmp_path / "store")
    keys = spark.createDataFrame([(1, -1, "k1")], ops.DOC_KEYS_DDL)
    ops._write_epoch(keys, store, 0)
    prior, n_jobs = _jobs_launched(
        spark, lambda: ops._prior_epochs(spark, store, 1, ops.DOC_KEYS_DDL)
    )
    assert n_jobs == 0
    assert [tuple(r) for r in prior.collect()] == [(1, -1, "k1", 0)]


def test_streaming_training_set_equals_batch_capstone(
    spark, sf_dir, tmp_path
):
    """The capstone streaming twin: drop the documents table into the
    ingest dir as 4 doc_id-ordered files, run the curate_ingest
    admission stream, then build the dataset card from the stream-
    accepted corpus — survivor set AND final per-(split, lang) stats
    must equal the batch t_training_set pipeline on the same data."""
    import glob as g
    import os
    import shutil
    import time

    from baronbatch_etl_spark.operators import dedup as D
    from baronbatch_etl_spark.queries import catalog_curation as C
    from baronbatch_etl_spark.queries import load_all
    from baronbatch_etl_spark.queries.catalog_llm import _doc_signatures

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    src = str(tmp_path / "corpus_src")
    os.makedirs(src)
    now = time.time()
    # doc_id-ordered replay: batch i carries ids [i*n/4, (i+1)*n/4)
    for i in range(4):
        stage = f"{src}/_stage{i}"
        (
            docs.filter(
                (F.col("doc_id") >= i * n // 4)
                & (F.col("doc_id") < (i + 1) * n // 4)
            )
            .select("doc_id", "lang", "text", "n_chars")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(stage)
        )
        (part,) = g.glob(f"{stage}/part-*.parquet")
        dst = f"{src}/b{i}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (now + i, now + i))
        shutil.rmtree(stage)

    acc = str(tmp_path / "accepted")
    stream = ops.stream_corpus(spark, src)
    q = (
        ops.curate_ingest(stream, acc)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.awaitTermination(300)
        n_batches = len(q.recentProgress)
    finally:
        q.stop()
    assert n_batches >= 4, n_batches

    got_ids = sorted(
        r.doc_id
        for r in ops.read_curated(spark, acc).select("doc_id").collect()
    )
    want_ids = sorted(
        r.doc_id
        for r in C.curate_survivors(_doc_signatures(spark, sf_dir))
        .select("doc_id")
        .collect()
    )
    assert got_ids == want_ids

    # final dataset card: stream-built corpus through the shared
    # stages 4-7 == the registered batch capstone
    card = C.curate_stats(D.signatures(docs), ops.read_curated(spark, acc))
    got = {
        (r.split, r.lang): (r.n_docs, r.n_tokens) for r in card.collect()
    }
    batch_card = load_all()["t_training_set"].fn(spark, sf_dir)
    want = {
        (r.split, r.lang): (r.n_docs, r.n_tokens)
        for r in batch_card.collect()
    }
    assert got == want


def _write_vec_files(spark, root, frames):
    import glob as g
    import os
    import shutil
    import time

    os.makedirs(root, exist_ok=True)
    now = time.time()
    for i, frame in enumerate(frames):
        stage = f"{root}/_vstage{i}"
        frame.coalesce(1).write.mode("overwrite").parquet(stage)
        (part,) = g.glob(f"{stage}/part-*.parquet")
        dst = f"{root}/v{i}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (now + i, now + i))
        shutil.rmtree(stage)


def test_ivf_ingest_matches_batch_assignment_and_prunes(
    spark, sf_dir, tmp_path
):
    from baronbatch_etl_spark.io import load_table
    from baronbatch_etl_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    seeds = emb.orderBy("vec_id").limit(4).collect()
    cents = [
        (i, [float(v) for v in r.embedding]) for i, r in enumerate(seeds)
    ]
    # two micro-batches split by vec_id parity
    src = str(tmp_path / "vecs")
    _write_vec_files(
        spark,
        src,
        [emb.filter(F.col("vec_id") % 2 == 0),
         emb.filter(F.col("vec_id") % 2 == 1)],
    )
    idx = str(tmp_path / "ivf_index")
    q = (
        ops.ivf_ingest(ops.stream_embeddings(spark, src), cents, idx)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.awaitTermination(120)
        assert len(q.recentProgress) >= 2
    finally:
        q.stop()

    stored = spark.read.parquet(idx)
    assert stored.count() == emb.count()  # nothing lost across batches
    # streamed assignment == the batch operator's round-1 assignment
    got = {r.vec_id: r.cell for r in stored.select("vec_id", "cell").collect()}
    want = {
        r.vec_id: r.cluster
        for r in S.kmeans_assign(emb, k=4, iters=1).collect()
    }
    assert got == want

    # search prunes to one cell directory: partition filter at the scan
    qv = [float(v) for v in seeds[2].embedding]
    res = ops.ivf_search(spark, idx, cents, qv, k=3)
    rows = res.collect()
    assert rows and all(r.cell == rows[0].cell for r in rows)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(cell" in plan.replace("#", "")[:100000]
    # the query vector itself was ingested → it is its own top hit
    assert rows[0].vec_id == seeds[2].vec_id


def test_multibatch_drift_monitor_matches_batch(spark, sf_dir, tmp_path):
    # stream the documents table in 3 files; the folded drift state
    # must equal the batch t_corpus_drift answer bit-for-bit (shared
    # exact-integer TV fold over mergeable counts)
    docs = load_table(spark, sf_dir, "documents")
    src = str(tmp_path / "docs_stream")
    docs.repartition(3).write.mode("overwrite").parquet(src)

    stream = ops.stream_sourced_docs(spark, src)
    stats_path = str(tmp_path / "drift_stats")
    q = ops.drift_monitor_ingest(stream, stats_path, "mb_drift").start()
    try:
        q.awaitTermination(120)
        n_batches = len(q.recentProgress)
    finally:
        q.stop()
    assert n_batches >= 3, n_batches

    from baronbatch_etl_spark.queries import load_all

    want = {
        r.source: (r.n_tokens, r.vocab_size, r.tv_dist)
        for r in load_all()["t_corpus_drift"].fn(spark, sf_dir).collect()
    }
    got = {
        r.source: (r.n_tokens, r.vocab_size, r.tv_dist)
        for r in ops.read_drift(spark, stats_path).collect()
    }
    assert got == want  # exact equality incl. the IEEE division


def test_drift_monitor_epoch_idempotent(spark, tmp_path):
    # replaying an epoch overwrites its own directory: counts don't
    # double, so at-least-once delivery folds to exactly-once state
    from pyspark.sql import Row

    batch = spark.createDataFrame(
        [Row(doc_id=1, text="a a b", lang="en", source="A", n_chars=5),
         Row(doc_id=2, text="a b b", lang="en", source="B", n_chars=5)]
    )
    stats_path = str(tmp_path / "drift_stats")
    # drive the sink's own epoch write directly, replaying epoch 0 to
    # model at-least-once delivery
    for _ in range(2):
        ops._write_epoch(ops._token_counts(batch), stats_path, 0)
    out = {r.source: r.tv_dist for r in ops.read_drift(spark, stats_path).collect()}
    assert out["A"] == pytest.approx(1 / 6, abs=1e-15)
    assert out["B"] == pytest.approx(1 / 6, abs=1e-15)


def test_multibatch_cms_monitor_matches_batch(spark, sf_dir, tmp_path):
    # stream the documents table in 3 files; the summed per-epoch CMS
    # grids must equal the batch grid over the same corpus cell-for-
    # cell (grids union by addition — the mergeable-sketch invariant)
    from baronbatch_etl_spark.operators import corpus as C
    from baronbatch_etl_spark.operators import text as X

    docs = load_table(spark, sf_dir, "documents")
    src = str(tmp_path / "docs_stream")
    docs.repartition(3).write.mode("overwrite").parquet(src)

    stream = ops.stream_sourced_docs(spark, src)
    grid_path = str(tmp_path / "cms_grid")
    q = ops.cms_monitor_ingest(stream, grid_path, "mb_cms").start()
    try:
        q.awaitTermination(120)
        n_batches = len(q.recentProgress)
    finally:
        q.stop()
    assert n_batches >= 3, n_batches

    hashed = (
        docs.select(F.explode(X.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
        .select(X.char_poly_hash(F.col("tok")).alias("hv"), "c")
    )
    want = {
        (r.j, r.bucket): r.cell
        for r in C.cms_grid_from_hashes(hashed, weight="c").collect()
    }
    got = {
        (r.j, r.bucket): r.cell
        for r in ops.read_cms(spark, grid_path).collect()
    }
    assert got == want


def test_cms_monitor_epoch_idempotent(spark, tmp_path):
    # replaying an epoch overwrites its own directory: cells don't
    # double, so at-least-once delivery folds to exactly-once state
    from pyspark.sql import Row

    from baronbatch_etl_spark.operators import corpus as C

    batch = spark.createDataFrame(
        [Row(doc_id=1, text="a a b"), Row(doc_id=2, text="b c")]
    )
    grid_path = str(tmp_path / "cms_grid")
    for _ in range(2):  # epoch 0, then its at-least-once replay
        ops._write_epoch(ops._cms_grid(batch), grid_path, 0)
    total = sum(r.cell for r in ops.read_cms(spark, grid_path).collect())
    assert total == 5 * C.CMS_D  # 5 tokens x d rows, counted once


def test_cms_estimate_probes_streamed_grid(spark, tmp_path):
    # point estimates from the streamed grid: est >= true for ingested
    # tokens, exactly 0 for never-seen ones (absent cells are zero
    # counters, not "min of whatever cells exist")
    from pyspark.sql import Row

    batch = spark.createDataFrame(
        [Row(doc_id=1, text="alpha alpha beta"), Row(doc_id=2, text="beta gamma")]
    )
    grid_path = str(tmp_path / "cms_grid")
    ops._write_epoch(ops._cms_grid(batch), grid_path, 0)
    est = {
        r.tok: r.cms_est
        for r in ops.cms_estimate(
            spark, grid_path, ["alpha", "beta", "gamma", "never_seen"]
        ).collect()
    }
    assert est["alpha"] >= 2 and est["beta"] >= 2 and est["gamma"] >= 1
    assert est["never_seen"] == 0


def test_prior_epochs_excludes_current_epoch(spark, tmp_path):
    # a gate's history read: None before the store exists (first
    # epoch), then every epoch but the one being (re)played
    store = str(tmp_path / "store")
    assert ops._prior_epochs(spark, store, 0) is None
    for e in (0, 1, 2):
        ops._write_epoch(spark.createDataFrame([(e,)], "k LONG"), store, e)
    got = ops._prior_epochs(spark, store, 1).collect()
    assert sorted((r.k, r.epoch) for r in got) == [(0, 0), (2, 2)]


def test_compact_epoch_store_preserves_every_fold(spark, sf_dir, tmp_path):
    # compaction folds an epoch history into one base partial; every
    # read-side fold must be bit-identical before and after — drift
    # (TV distances incl. the IEEE division) and the CMS grid
    docs = load_table(spark, sf_dir, "documents")
    src = str(tmp_path / "docs_stream")
    docs.repartition(3).write.mode("overwrite").parquet(src)

    drift_store = str(tmp_path / "drift")
    q = ops.drift_monitor_ingest(
        ops.stream_sourced_docs(spark, src), drift_store, "cp_drift"
    ).start()
    q.awaitTermination(120)
    q.stop()

    before = {
        r.source: (r.n_tokens, r.vocab_size, r.tv_dist)
        for r in ops.read_drift(spark, drift_store).collect()
    }
    compacted = str(tmp_path / "drift_compacted")
    n = ops.compact_epoch_store(
        spark, drift_store, compacted, ["source", "tok"], ["c_st"]
    )
    assert n > 0
    import glob

    assert len(glob.glob(f"{compacted}/epoch=*")) == 1
    after = {
        r.source: (r.n_tokens, r.vocab_size, r.tv_dist)
        for r in ops.read_drift(spark, compacted).collect()
    }
    assert after == before

    cms_store = str(tmp_path / "cms")
    q = ops.cms_monitor_ingest(
        ops.stream_sourced_docs(spark, src), cms_store, "cp_cms"
    ).start()
    q.awaitTermination(120)
    q.stop()
    grid_before = {
        (r.j, r.bucket): r.cell for r in ops.read_cms(spark, cms_store).collect()
    }
    cms_compacted = str(tmp_path / "cms_compacted")
    ops.compact_epoch_store(
        spark, cms_store, cms_compacted, ["j", "bucket"], ["cell"]
    )
    grid_after = {
        (r.j, r.bucket): r.cell
        for r in ops.read_cms(spark, cms_compacted).collect()
    }
    assert grid_after == grid_before


def test_compact_epoch_store_refuses_in_place(spark, tmp_path):
    # writing the base inside the store being read would double every
    # later fold — must refuse, not corrupt
    import pytest as _pytest

    store = str(tmp_path / "store")
    spark.createDataFrame([(0, 1)], "k LONG, c LONG").write.parquet(
        f"{store}/epoch=0"
    )
    with _pytest.raises(ValueError, match="must not be"):
        ops.compact_epoch_store(spark, store, store, ["k"], ["c"])
    with _pytest.raises(ValueError, match="must not be"):
        ops.compact_epoch_store(
            spark, store, f"{store}/nested", ["k"], ["c"]
        )


# ---------------------------------------------------------------------------
# Late / out-of-order event differential: the live watermark paths vs
# their batch twins over the same event set


_MIN_NS = 60_000_000_000  # one minute of epoch-nanos


def _write_event_batches(spark, root, batches):
    """One parquet file per micro-batch (mtime-ordered, matching the
    file source's oldest-first admission), ts in epoch-nanos LONG."""
    import glob as g
    import os
    import shutil
    import time

    os.makedirs(root)
    now = time.time()
    for i, rs in enumerate(batches):
        rows = [(e, m * _MIN_NS, u, t, 1.0, "{}") for (e, m, u, t) in rs]
        stage = f"{root}/_s{i}"
        spark.createDataFrame(rows, ops.EVENTS_DDL).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        (part,) = g.glob(f"{stage}/part-*.parquet")
        dst = f"{root}/b{i}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (now - 100 + i * 5, now - 100 + i * 5))
        shutil.rmtree(stage)


def _drain(df_stream, name):
    q = (
        df_stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()
    return batches


def test_late_dedup_differential_vs_batch_twin(spark, tmp_path):
    """Out-of-order + late events through watermark_dedup across real
    micro-batches, asserted against the batch dropDuplicates twin.

    Probed Spark 4 semantics this test pins: dropDuplicatesWithinWatermark
    ADMITS rows below the watermark (no late-row filter; the watermark
    bounds STATE, not admission), and a duplicate arriving in a later
    micro-batch within the delay is collapsed — so the stream output
    must equal batch dedup over all events, exactly once each."""
    d = str(tmp_path / "late_dedup")
    # b0: 1@100, 2@120  -> watermark := 110 after the batch
    # b1 (wm 110): 1@100 replayed dup (state alive: 100+10 >= 110),
    #              4@105 and 5@100 genuinely late NEW rows,
    #              3@121 on time
    _write_event_batches(
        spark,
        d,
        [
            [(1, 100, 1, "c"), (2, 120, 1, "c")],
            [(1, 100, 1, "c"), (4, 105, 1, "c"), (5, 100, 1, "c"), (3, 121, 1, "c")],
        ],
    )
    stream = ops.stream_events(spark, d, glob="*.parquet")
    batches = _drain(ops.watermark_dedup(stream), "late_dedup_diff")
    assert len(batches) >= 2, "events must arrive across micro-batches"

    got = {
        (r.event_id, r.c)
        for r in spark.sql(
            "SELECT event_id, count(*) c FROM late_dedup_diff GROUP BY event_id"
        ).collect()
    }
    twin = spark.read.parquet(d).dropDuplicates(["event_id"])
    want = {(r.event_id, 1) for r in twin.collect()}
    assert got == want  # every event exactly once — replay collapsed


def test_late_session_differential_vs_batch_twin(spark, tmp_path):
    """Out-of-order + late events through session_aggregate across
    micro-batches vs the batch session-window twin.

    Probed Spark 4 semantics this test pins: session rows below the
    watermark still enter state (admission is not cut off — a very
    late disjoint row opens its own session), the watermark instead
    gates append-mode EMISSION: a session emits exactly once, only
    after the watermark passes its close. A far-future flush event
    closes everything, so stream output must equal the batch
    session_window aggregate over ALL events."""
    d = str(tmp_path / "late_sess")
    # gap 30m, delay 10m
    # b0: u1@100, u1@110, u2@140          -> wm := 130
    # b1 (wm 130): u1@105 merges into the live session, u1@99 extends
    #              its start, u1@30 (disjoint, fully below wm) opens
    #              its own session, u3@700 flushes the watermark
    _write_event_batches(
        spark,
        d,
        [
            [(1, 100, 1, "c"), (2, 110, 1, "c"), (3, 140, 2, "c")],
            [(4, 105, 1, "c"), (5, 99, 1, "c"), (6, 30, 1, "c"), (7, 700, 3, "c")],
        ],
    )
    stream = ops.stream_events(spark, d, glob="*.parquet")
    batches = _drain(ops.session_aggregate(stream), "late_sess_diff")
    assert len(batches) >= 2

    got = {
        (r.user_id, r.session_start_ms, r.n_events)
        for r in spark.sql("SELECT * FROM late_sess_diff").collect()
    }
    ev = spark.read.parquet(d).withColumn(
        "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
    )
    twin = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_millis(F.col("w.start")).alias("session_start_ms"),
            "n_events",
        )
    )
    want = {
        (r.user_id, r.session_start_ms, r.n_events)
        for r in twin.collect()
        if r.user_id != 3  # u3's flush session never closes in-stream
    }
    assert got == want
    # append-mode closure: each session emitted exactly once
    n = spark.sql("SELECT count(*) c FROM late_sess_diff").collect()[0].c
    assert n == len(got)


def test_late_stream_join_differential_vs_batch_twin(spark, tmp_path):
    """Out-of-order clicks/purchases through the stream-stream
    interval join across micro-batches vs the batch twin: matches
    whose two sides arrive in different micro-batches (including a
    purchase arriving after the watermark passed its click) must still
    emit exactly once, and the drained output must equal the batch
    join over all events."""
    d = str(tmp_path / "late_join")
    # joins attribute purchases to same-user clicks in the PRECEDING
    # 30 minutes; watermark delay 10m on both sides
    # b0: click@100, purchase@120 (matches click@100? 20m gap - yes),
    #     click@200 (no purchase yet)          -> wm := 190
    # b1: purchase@205 (matches click@200), purchase@115 (LATE,
    #     below wm; matches click@100 while its state lives),
    #     click@700 (flush)
    _write_event_batches(
        spark,
        d,
        [
            [(1, 100, 1, "click"), (2, 120, 1, "purchase"), (3, 200, 2, "click")],
            [(4, 205, 2, "purchase"), (5, 115, 1, "purchase"), (6, 700, 3, "click")],
        ],
    )
    stream = ops.stream_events(spark, d, glob="*.parquet")
    batches = _drain(ops.click_purchase_join(stream), "late_join_diff")
    assert len(batches) >= 2

    got = sorted(
        (r.click_id, r.buy_id)
        for r in spark.sql("SELECT * FROM late_join_diff").collect()
    )
    ev = spark.read.parquet(d).withColumn(
        "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
    )
    twin = ops.click_purchase_join(ev)
    want = sorted((r.click_id, r.buy_id) for r in twin.collect())
    assert got == want
    assert len(got) == len(set(got))  # each match exactly once


def test_media_features_ingest_matches_batch(spark, tmp_path):
    # the multimodal streaming twin: per-epoch feature/fingerprint
    # rows must union to EXACTLY the batch operators' output over the
    # same documents (row-local ops -> no cross-batch state to drift)
    from baronbatch_etl_spark.operators import multimodal as M

    batches = [
        [(0, BASE), (1, OTHER)],
        [(2, NEAR)],
        [(3, THIRD), (4, "tiny")],
    ]
    src = str(tmp_path / "src")
    _write_doc_files(spark, src, batches)
    stream = ops.stream_documents(spark, src)
    feats = str(tmp_path / "media_feats")
    q = (
        ops.media_features_ingest(stream, feats, "mb_media")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.awaitTermination(120)
        n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    finally:
        q.stop()
    assert n_batches >= 3, n_batches

    got = {
        r.media_id: (r.byte_len, tuple(r.features), r.fp)
        for r in ops.read_media_features(spark, feats).collect()
    }
    all_docs = spark.createDataFrame(
        [r for b in batches for r in b], "doc_id LONG, text STRING"
    )
    media = M.documents_as_media(all_docs)
    want = {
        r.media_id: (r.byte_len, tuple(r.features), r.fp)
        for r in M.extract_features(media)
        .join(M.payload_fingerprints(media), "media_id")
        .collect()
    }
    assert got == want


def test_multibatch_authority_matches_batch(spark, sf_dir, tmp_path):
    # stream the order interaction pairs in 3 files (with overlap
    # across files); the recomputed ranks over the folded edge store
    # must equal the batch g_pagerank ranks bit-for-bit on the same
    # pair set
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(
            lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
        )
        .select(
            F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
        )
        .distinct()
    )
    src = str(tmp_path / "pairs_stream")
    # 3 files WITHOUT distinct-per-file: the same pair can land in
    # several files/epochs — read-side distinct must absorb it
    pairs.unionByName(pairs.limit(50)).repartition(3).write.mode(
        "overwrite"
    ).parquet(src)

    stream = ops.stream_pairs(spark, src)
    edges_path = str(tmp_path / "edge_store")
    q = ops.authority_ingest(stream, edges_path, "mb_auth").start()
    try:
        q.awaitTermination(120)
        n_batches = len(q.recentProgress)
    finally:
        q.stop()
    assert n_batches >= 3, n_batches

    from baronbatch_etl_spark.operators import graph as G

    want = {
        (r.node, r.rank)
        for r in G.pagerank(
            G.undirected_edges(
                pairs.select(
                    (F.col("c") * 2).alias("a"),
                    (F.col("s") * 2 + 1).alias("b"),
                ),
                "a",
                "b",
                disjoint=True,
            ),
            iters=3,
        ).collect()
    }
    got = {
        (r.node, r.rank)
        for r in ops.read_authority(spark, edges_path).collect()
    }
    assert got == want  # exact, incl. every IEEE rank value


def test_authority_epoch_replay_idempotent(spark, tmp_path):
    # replaying an epoch overwrites its own directory; edges are a
    # set, so the recomputed ranks cannot change
    from pyspark.sql import Row

    batch = spark.createDataFrame(
        [Row(c=1, s=10), Row(c=1, s=11), Row(c=2, s=10)]
    )
    edges_path = str(tmp_path / "edge_store")

    def write_epoch(b, e):
        ops._write_epoch(ops._edge_set(b), edges_path, e)

    write_epoch(batch, 0)
    first = {
        (r.node, r.rank)
        for r in ops.read_authority(spark, edges_path, iters=2).collect()
    }
    write_epoch(batch, 0)  # at-least-once replay
    write_epoch(batch.limit(2), 1)  # overlapping later epoch
    again = {
        (r.node, r.rank)
        for r in ops.read_authority(spark, edges_path, iters=2).collect()
    }
    assert first == again


def test_multibatch_volume_monitor_matches_batch(spark, sf_dir, tmp_path):
    # stream the events table in 3 files; the folded hourly counts
    # must reproduce the batch w_anomaly_zscore answer bit-for-bit
    # (shared trailing z-score fold over mergeable counts)
    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "events_stream")
    ev.repartition(3).write.mode("overwrite").parquet(src)

    stream = ops.stream_events(spark, src, glob="*.parquet")
    counts_path = str(tmp_path / "hourly_counts")
    q = (
        ops.volume_monitor_ingest(stream, counts_path, "mb_volume")
        .option("checkpointLocation", str(tmp_path / "ckpt_volume"))
        .start()
    )
    try:
        q.awaitTermination(120)
        n_batches = len(q.recentProgress)
    finally:
        q.stop()
    assert n_batches >= 3, n_batches

    from baronbatch_etl_spark.queries import load_all

    want = [
        (r.event_type, r.hour, r.n, r.zscore)
        for r in load_all()["w_anomaly_zscore"].fn(spark, sf_dir).collect()
    ]
    got = [
        (r.event_type, r.hour, r.n, r.zscore)
        for r in ops.read_anomalies(spark, counts_path).collect()
    ]
    assert got == want  # exact equality incl. the IEEE z arithmetic


def test_volume_monitor_epoch_idempotent(spark, tmp_path):
    # replaying an epoch overwrites its own directory: hourly counts
    # don't double under at-least-once delivery
    from pyspark.sql import functions as F

    ev = spark.createDataFrame(
        [(i, "click", f"2024-01-01 0{h}:15:00")
         for i, h in enumerate([1, 1, 1, 2, 2, 3])],
        "event_id long, event_type string, ts_s string",
    ).select("event_id", "event_type", F.col("ts_s").cast("timestamp").alias("ts"))
    counts_path = str(tmp_path / "hourly_counts")
    for _ in range(2):  # epoch 0, then its at-least-once replay
        ops._write_epoch(ops._hourly_counts(ev), counts_path, 0)
    hourly = ops._fold_epochs(
        spark, counts_path, ["event_type", "hour"], ["n"]
    )
    got = {r.hour.hour: r.n for r in hourly.collect()}
    assert got == {1: 3, 2: 2, 3: 1}


def test_rate_progress_report_tracks_bounded_batches(
    spark, sf_dir, split_events_dir
):
    # T5 backpressure observability: maxFilesPerTrigger=1 over 4 files
    # must surface >=4 non-empty triggers whose row counts sum to the
    # full table, each with rate/latency fields populated
    stream = ops.stream_events(spark, split_events_dir, glob="*.parquet")
    q = (
        stream.writeStream.outputMode("append")
        .format("noop")
        .queryName("rate_report")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
        report = ops.rate_progress_report(q)
    finally:
        q.stop()
    assert len(report) >= 4, report  # one bounded batch per file
    total = sum(r["num_input_rows"] for r in report)
    assert total == load_table(spark, sf_dir, "events").count()
    for r in report:
        assert r["batch_id"] is not None
        assert r["trigger_ms"] >= 0 and r["processed_rps"] >= 0.0
    # batches are bounded by the rate cap: no single trigger swallowed
    # the whole table
    assert max(r["num_input_rows"] for r in report) < total
