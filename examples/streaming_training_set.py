"""Build a training set INCREMENTALLY from a streaming document feed —
the streaming twin of examples/build_training_set.py.

    python examples/streaming_training_set.py [sf_dir]

The documents table plays a corpus feed (4 doc_id-ordered files, one
micro-batch each). Per batch, `streaming.ops.curate_ingest` runs the
SAME operators as the batch capstone — quality filter → exact dedup →
MinHash-LSH keep-one (exact-Jaccard-verified pairs + connected
components) against the accumulated accepted corpus — and appends
survivors under epoch=<id> (idempotent on replay). The dataset card is
then built from the stream-accepted corpus with the shared
`curate_stats` stages, and compared against the one-shot batch
`t_training_set` on the same data: the two match row for row
(asserted continuously by tests/test_streaming_multibatch.py).
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from baronbatch_etl_spark.io import DEFAULT_SF_DIR, load_table
from baronbatch_etl_spark.operators import dedup as D
from baronbatch_etl_spark.queries import catalog_curation as C
from baronbatch_etl_spark.queries import load_all
from baronbatch_etl_spark.session import get_spark
from baronbatch_etl_spark.streaming import ops


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF_DIR
    spark = get_spark("streaming-training-set")
    work = tempfile.mkdtemp(prefix="stream_corpus_")

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    src = f"{work}/src"
    os.makedirs(src)
    now = time.time()
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
        (part,) = glob.glob(f"{stage}/part-*.parquet")
        dst = f"{src}/b{i}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (now + i, now + i))
        shutil.rmtree(stage)

    acc = f"{work}/accepted"
    q = (
        ops.curate_ingest(ops.stream_corpus(spark, src), acc)
        .option("checkpointLocation", f"{work}/ckpt")
        .start()
    )
    q.awaitTermination(600)
    q.stop()
    print(f"\nmicro-batches processed: {len(q.recentProgress)}")
    print("per-trigger rate report (T5 backpressure observability):")
    for r in ops.rate_progress_report(q):
        print(
            f"  batch {r['batch_id']}: {r['num_input_rows']} rows, "
            f"{r['processed_rps']:.0f} rows/s, {r['trigger_ms']} ms"
        )

    accepted = ops.read_curated(spark, acc)
    print(f"stream-accepted survivors: {accepted.count()} of {n}")

    card = C.curate_stats(D.signatures(docs), accepted).orderBy(
        "split", "lang"
    )
    print("\n=== dataset card from the STREAM-built corpus ===")
    card.show(50, truncate=False)

    batch = load_all()["t_training_set"].fn(spark, sf_dir)
    same = (
        card.exceptAll(batch).count() == 0
        and batch.exceptAll(card).count() == 0
    )
    print(f"matches the one-shot batch capstone: {same}")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
