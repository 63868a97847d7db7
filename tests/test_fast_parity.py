"""Bit-for-bit parity between the Arrow-vectorized signature UDFs and
the pure-expression implementations (same integer arithmetic by
construction; this guards both against drift). The four text
signatures (``sh``, ``sh4``, ``sig``, ``simhash``) are fields of the
one signature kernel, ``text_signatures_fast``."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from baronbatch_etl_spark.operators import dedup as D
from baronbatch_etl_spark.operators import text as X
from baronbatch_etl_spark.operators.fast_text import (
    doc_fingerprint_fast,
    make_cdc_chunk_rows_mapper,
    text_signatures_fast,
)
from baronbatch_etl_spark.operators.text import POLY_P

TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "one two",  # < 3 tokens → empty shingle set
    "",  # empty doc
    "répétition déjà vu naïve ﬁsh",  # non-ASCII codepoints
    "a a a a a a",  # heavy repetition → distinct shingles collapse
    # astral-plane codepoints (UTF-16 surrogate pairs JVM-side): the
    # utf-32 fast path and Spark's ascii() must agree beyond the BMP
    "hello \U0001F600 world \U0001F680 rocket launch pad",
    "\U0001F600\U0001F601 pair \U00010348 gothic letter here",
    "x  y z w",  # interior double space → an empty token
    " leading space then words",  # empty first token
    "trailing space after words ",  # empty last token
    "exactly three tokens",  # one 3-gram, no 4-gram
    "exactly four tokens here",  # two 3-grams, one 4-gram
]


def _df(spark):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(TEXTS)])


def test_shingle_hash_parity(spark):
    # the engine's 3-gram hashes are the kernel's ``sh``: sorted-
    # unique hash values (set semantics); compare as sets — every
    # consumer is order-insensitive
    df = _df(spark)
    out = df.select(
        X.shingle_hashes(F.col("text"), 3).alias("expr"),
        text_signatures_fast(F.col("text")).alias("x"),
    ).collect()
    for r in out:
        assert sorted(set(r.expr)) == r.x.sh


def test_shingle_hash_parity_width4(spark):
    # the contamination path uses the 4-gram hashes the signature
    # frame stages as ``sh4``; same set-semantics comparison as the
    # width-3 test
    df = _df(spark)
    out = df.select(
        X.shingle_hashes(F.col("text"), 4).alias("expr"),
        text_signatures_fast(F.col("text")).alias("x"),
    ).collect()
    for r in out:
        assert sorted(set(r.expr)) == r.x.sh4


def test_fingerprint_parity(spark):
    df = _df(spark)
    out = df.select(
        X.doc_fingerprint(F.col("text")).alias("expr"),
        doc_fingerprint_fast(F.col("text")).alias("fast"),
    ).collect()
    for r in out:
        assert r.expr == r.fast


def test_minhash_parity(spark):
    df = _df(spark)
    out = df.select(
        D.minhash_signature(F.col("text")).alias("expr"),
        text_signatures_fast(F.col("text")).alias("x"),
    ).collect()
    for r in out:
        assert r.expr == r.x.sig


def test_simhash_parity(spark):
    df = _df(spark)
    out = df.select(
        D.simhash(F.col("text")).alias("expr"),
        text_signatures_fast(F.col("text")).alias("x"),
    ).collect()
    for r in out:
        assert r.expr == r.x.simhash


def test_signature_kernel_degenerate_batches():
    # batch shapes Spark never sends to the tests above, fed straight
    # to the kernel's pandas body: no rows, all-short docs, a null
    import pandas as pd

    kernel = text_signatures_fast.func
    empty = kernel(pd.Series([], dtype=object))
    assert len(empty) == 0
    assert list(empty.columns) == ["sig", "sh", "sh4", "simhash"]

    short = kernel(pd.Series(["a b", "", "x"]))
    assert len(short) == 3
    for r in short.itertuples():
        assert list(r.sig) == [POLY_P] * D.MINHASH_K
        assert list(r.sh) == [] and list(r.sh4) == []

    got = kernel(pd.Series([None, ""], dtype=object))
    for col in ("sig", "sh", "sh4"):
        assert list(got[col][0]) == list(got[col][1])
    assert got.simhash[0] == got.simhash[1]


def _ref_cdc(text: str, modulus: int):
    # straightforward per-token reference: boundary token ENDS a chunk
    def th(tok):
        h = 0
        for ch in tok:
            h = (h * 31 + ord(ch)) % POLY_P
        return h

    chunks, cur = [], []
    for tok in text.split(" "):
        cur.append(th(tok))
        if cur[-1] % modulus == 0:
            chunks.append(cur)
            cur = []
    if cur:
        chunks.append(cur)
    out = []
    for cid, hs in enumerate(chunks):
        fp = 0
        for h in hs:
            fp = (fp * 131 + h) % POLY_P
        out.append((cid, len(hs), fp))
    return out


def _cdc_chunks(spark, texts, modulus):
    # {doc_id: [(chunk_id, n_tokens, fp), ...]} through the
    # mapInPandas mapper t_cdc_chunks runs, chunks in ordinal order
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    got = {}
    for r in df.mapInPandas(
        make_cdc_chunk_rows_mapper(modulus),
        "doc_id long, chunk_id long, n_tokens long, fp long",
    ).collect():
        got.setdefault(r.doc_id, []).append((r.chunk_id, r.n_tokens, r.fp))
    return {d: sorted(cs) for d, cs in got.items()}


def test_cdc_chunks_vs_reference(spark):
    # small modulus → several chunks per doc; includes empty doc
    # (hash 0 ≡ 0 → single 1-token chunk) and boundary-at-doc-end
    texts = TEXTS + ["x " * 50, "lone"]
    got = _cdc_chunks(spark, texts, 4)
    for i, t in enumerate(texts):
        assert got.get(i) == _ref_cdc(t, 4), f"doc {i}: {t!r}"


def test_cdc_total_tokens_conserved(spark):
    # chunking is a partition of the token stream: per-doc chunk token
    # counts must sum to the doc's token count
    n_tok = {
        r.doc_id: r.n_tok
        for r in _df(spark)
        .select("doc_id", F.size(F.split("text", " ")).alias("n_tok"))
        .collect()
    }
    got = _cdc_chunks(spark, TEXTS, 8)
    assert {d: sum(c[1] for c in cs) for d, cs in got.items()} == n_tok


def test_sig_and_shingles_parity(spark):
    # both outputs of the fused UDF must agree with their expression
    # twins in the same pass
    df = _df(spark)
    out = df.select(
        D.minhash_signature(F.col("text")).alias("sig1"),
        X.shingle_hashes(F.col("text"), 3).alias("sh1"),
        text_signatures_fast(F.col("text")).alias("x"),
    ).collect()
    for r in out:
        assert r.sig1 == r.x.sig
        assert sorted(set(r.sh1)) == r.x.sh


def test_payload_ahash_parity(spark):
    # the Arrow aHash must be bit-identical to the 57-fold expression
    # twin — including non-ASCII codepoints (character-indexed slices)
    # and null payloads
    from baronbatch_etl_spark.operators import multimodal as M

    rows = [Row(doc_id=i, text=t) for i, t in enumerate(TEXTS)]
    media = M.documents_as_media(spark.createDataFrame(rows))
    media = media.unionByName(
        spark.createDataFrame(
            [Row(media_id=99, payload=None, meta=None)], M.MEDIA_SCHEMA
        )
    )
    expr = {r.media_id: r.fp for r in M.payload_fingerprints_expr(media).collect()}
    fast = {r.media_id: r.fp for r in M.payload_fingerprints(media).collect()}
    assert expr == fast
    assert fast[99] is None


def test_word_bigrams_parity(spark):
    # the Arrow bigram twin must be SET-equal to word_ngrams(_, 2)
    # (order differs; every consumer is order-insensitive)
    from baronbatch_etl_spark.operators import text as X2
    from baronbatch_etl_spark.operators.fast_text import word_bigrams_fast

    df = _df(spark)
    out = df.select(
        X2.word_ngrams(F.col("text"), 2).alias("expr"),
        word_bigrams_fast(F.col("text")).alias("fast"),
    ).collect()
    for r in out:
        assert sorted(set(r.expr)) == sorted(set(r.fast))
        assert len(set(r.fast)) == len(r.fast)  # distinct contract
