"""Arrow-vectorized twins of the text/dedup signature operators.

The expression-based versions in ``operators.text`` / ``operators.
dedup`` are pure built-ins, but Spark does not whole-stage-codegen
higher-order-function lambdas, so per-char hash folds dominate the
signature computation. These pandas UDFs compute the SAME integer
arithmetic (verified bit-for-bit by tests/test_fast_parity.py and by
the DuckDB oracles) vectorized in numpy: sequential per value —
parity — but batched across rows — speed (~10× on the dedup bench).

Numerics: every intermediate stays < 2^35 (P ≈ 2^30, ×31, +code
point), so int64 never overflows and Python/numpy/JVM agree exactly.

Python runs only at signature time: text becomes hashes here, once per
document. Pair verification (Jaccard, containment, Hamming, edit
distance) is JVM-native SQL in ``operators.dedup``, so no candidate
pair crosses the Python boundary.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from baronbatch_etl_spark.operators.text import POLY_P


def _hash_strings(strings: list[str], base: int = 31) -> np.ndarray:
    """Polynomial char hash of many strings at once.

    One padded (n_strings × max_len) codepoint matrix, Horner fold
    down the columns with a length mask — identical fold order to
    char_poly_hash / sql_char_poly_hash (base 31) and
    char_poly_hash131 (base 131).
    """
    n = len(strings)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    bufs = [s.encode("utf-32-le") for s in strings]
    lens = np.fromiter((len(b) >> 2 for b in bufs), dtype=np.int64, count=n)
    max_len = int(lens.max(initial=0))
    if max_len == 0:
        return np.zeros(n, dtype=np.int64)
    mat = np.zeros((n, max_len), dtype=np.int64)
    # "<u4": the buffer is explicitly utf-32-LE — native-endian uint32
    # would byte-swap codepoints on big-endian hosts
    flat = np.frombuffer(b"".join(bufs), dtype="<u4").astype(np.int64)
    # row i occupies flat[offsets[i]:offsets[i]+lens[i]]
    col = np.arange(max_len)
    mask = col[None, :] < lens[:, None]
    mat[mask] = flat
    h = np.zeros(n, dtype=np.int64)
    for j in range(max_len):
        step = (h * base + mat[:, j]) % POLY_P
        h = np.where(mask[:, j], step, h)
    return h


def _tokenize(text: str) -> list[str]:
    # NB: "".split(" ") == [""] — matching Spark's split('', ' ') and
    # DuckDB's string_split exactly (empty doc → one empty token).
    return text.split(" ")


def _doc_shingles(text: str, n: int = 3) -> list[str]:
    toks = _tokenize(text)
    if len(toks) < n:
        return []
    seen = dict.fromkeys(
        " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
    )
    return list(seen)


def _per_doc_hashes(
    texts: pd.Series, pieces_of: "callable"
) -> tuple[np.ndarray, np.ndarray]:
    """(flat hash array, per-doc offsets) for a batch of documents."""
    pieces: list[str] = []
    counts = np.empty(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        p = pieces_of(t if isinstance(t, str) else "")
        counts[i] = len(p)
        pieces.extend(p)
    return _hash_strings(pieces), np.concatenate(([0], np.cumsum(counts)))


def make_shingle_hashes_udf(n: int = 3):
    """Vectorized twin of text.shingle_hashes for any shingle width.

    Hash values are np.unique'd per doc (sorted, collision-deduped):
    every consumer is set-semantic (min / intersect / distinct-union),
    so order is free — and downstream pair math may then assume
    uniqueness without a per-pair dedup pass.
    """

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def shingle_hashes_n(texts: pd.Series) -> pd.Series:
        flat, offs = _per_doc_hashes(
            texts, lambda t: _doc_shingles(t, n)
        )
        return pd.Series(
            [
                np.unique(flat[offs[i] : offs[i + 1]]).tolist()
                for i in range(len(texts))
            ]
        )

    return shingle_hashes_n


def _cdc_chunk_arrays(
    texts: pd.Series, modulus: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized CDC pass for one batch of documents.

    Returns ``(doc_idx, chunk_id, n_tokens, fp)`` flat arrays, one
    entry per chunk, in (doc, position) order: ``doc_idx`` indexes
    into ``texts``, ``chunk_id`` is the 0-based chunk ordinal within
    its doc. The numpy core of :func:`make_cdc_chunk_rows_mapper`.
    """
    flat, offs = _per_doc_hashes(texts, _tokenize)
    # chunk ends: boundary tokens, plus each doc's last token
    boundary = (flat % modulus) == 0
    ends = np.zeros(len(flat) + 1, dtype=bool)
    ends[1:] = boundary  # end AFTER a boundary token
    ends[offs[1:]] = True  # force an end at every doc edge
    cut = np.flatnonzero(ends)  # segment starts incl. 0 and len
    if cut.size == 0 or cut[0] != 0:
        cut = np.concatenate(([0], cut))
    starts, stops = cut[:-1], cut[1:]
    lens = stops - starts
    keep = lens > 0  # doc edges coinciding with boundaries
    starts, lens = starts[keep], lens[keep]
    # fold every chunk at once: (n_chunks × max_len) padded matrix
    n_chunks = len(starts)
    fps = np.zeros(n_chunks, dtype=np.int64)
    if n_chunks:
        max_len = int(lens.max())
        col = np.arange(max_len)
        mask = col[None, :] < lens[:, None]
        mat = np.zeros((n_chunks, max_len), dtype=np.int64)
        mat[mask] = flat[(starts[:, None] + col[None, :])[mask]]
        for j in range(max_len):
            step = (fps * 131 + mat[:, j]) % POLY_P
            fps = np.where(mask[:, j], step, fps)
    # assign chunks back to docs (starts are sorted, so doc_idx is
    # nondecreasing and the per-doc ordinal is a first-index offset)
    doc_idx = np.searchsorted(offs[1:], starts, side="right")
    chunk_id = np.arange(n_chunks) - np.searchsorted(
        doc_idx, doc_idx, side="left"
    )
    return doc_idx, chunk_id, lens, fps


def make_cdc_chunk_rows_mapper(modulus: int = 64):
    """Content-defined chunking as a mapInPandas mapper: a token whose
    polynomial hash is ≡ 0 (mod ``modulus``) ENDS the current chunk
    (rsync/Rabin-style boundary rule — split points follow content,
    so an insertion early in a document shifts only its own chunk,
    not every chunk after it). ``fp`` is the chunk-local Horner fold
    ``(acc·131 + token_hash) % P`` — doc_fingerprint's constants,
    segmented — so identical chunk content ⇒ identical fp anywhere
    in the corpus.

    Emits ``(doc_id, chunk_id, n_tokens, fp)`` rows straight from the
    numpy pass (boundary mask for chunk ends, then ALL chunks of the
    batch fold as rows of one padded matrix) — no per-doc Python
    list assembly and no JVM-side explode of a nested column.
    Row-local: zero shuffle at any corpus size. Input batches must
    carry ``doc_id`` and ``text``.
    """

    def cdc_chunk_rows(batches):
        for pdf in batches:
            doc_idx, chunk_id, lens, fps = _cdc_chunk_arrays(
                pdf["text"], modulus
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy()[doc_idx],
                    "chunk_id": chunk_id,
                    "n_tokens": lens,
                    "fp": fps,
                }
            )

    return cdc_chunk_rows


@F.pandas_udf(T.LongType())
def doc_fingerprint_fast(texts: pd.Series) -> pd.Series:
    """Vectorized twin of text.doc_fingerprint: Horner fold
    (acc·131 + token_hash) % P over the token stream.

    Same padded-matrix fold as _hash_strings, one level up: rows are
    documents, columns are token positions, masked by doc length.
    Intermediates stay < 2^38 (P ≈ 2^30, ×131, +hash<P) — int64-exact.
    """
    flat, offs = _per_doc_hashes(texts, _tokenize)
    n = len(texts)
    lens = np.diff(offs)
    max_len = int(lens.max(initial=0))
    if max_len == 0:
        return pd.Series(np.zeros(n, dtype=np.int64))
    mat = np.zeros((n, max_len), dtype=np.int64)
    col = np.arange(max_len)
    mask = col[None, :] < lens[:, None]
    mat[mask] = flat
    h = np.zeros(n, dtype=np.int64)
    for j in range(max_len):
        step = (h * 131 + mat[:, j]) % POLY_P
        h = np.where(mask[:, j], step, h)
    return pd.Series(h)


def make_sig_and_shingles_udf(a: tuple, b: tuple, p: int = POLY_P):
    """MinHash signature AND distinct shingle-hash set in ONE Arrow
    pass — the LSH pair operator needs both, and tokenizing/shingling/
    hashing every document twice was the dominant cost of the separate
    UDFs (the two signature columns share all their work)."""
    av = np.asarray(a, dtype=np.int64)[None, :]
    bv = np.asarray(b, dtype=np.int64)[None, :]
    sentinel = np.full(len(a), p, dtype=np.int64)

    # explicit StructType: a DDL-string returnType would be parsed at
    # import time, which requires a live SparkContext
    ret = T.StructType(
        [
            T.StructField("sig", T.ArrayType(T.LongType())),
            T.StructField("sh", T.ArrayType(T.LongType())),
        ]
    )

    @F.pandas_udf(ret)
    def sig_and_shingles(texts: pd.Series) -> pd.DataFrame:
        flat, offs = _per_doc_hashes(texts, _doc_shingles)
        perms = (flat[:, None] * av + bv) % p
        sigs, shs = [], []
        for i in range(len(texts)):
            lo, hi = offs[i], offs[i + 1]
            if hi == lo:
                sigs.append(sentinel.tolist())
                shs.append([])
            else:
                sigs.append(perms[lo:hi].min(axis=0).tolist())
                # same contract as make_shingle_hashes_udf: sorted,
                # deduped
                shs.append(np.unique(flat[lo:hi]).tolist())
        return pd.DataFrame({"sig": sigs, "sh": shs})

    return sig_and_shingles


def make_srp_udf(planes: int = 16, dims: int = 64):
    """SRP-LSH codes: sign of dot products with ±1 hyperplanes whose
    entries come from bit 16 of a Knuth multiplicative hash of
    (plane, dim). Accumulation runs dimension-by-dimension in float64
    (the fold order of the SQL oracle), vectorized across rows."""
    j = np.arange(planes, dtype=np.int64)[:, None]
    d = np.arange(dims, dtype=np.int64)[None, :]
    w = (((((j * 65537) + d + 1) * 2654435761) % 4294967296 >> 16) & 1) * 2 - 1
    w = w.astype(np.float64)  # (planes × dims)
    weights = np.int64(1) << np.arange(planes, dtype=np.int64)

    @F.pandas_udf(T.LongType())
    def srp_code_fast(embs: pd.Series) -> pd.Series:
        if len(embs) == 0:
            return pd.Series([], dtype="int64")
        m = np.vstack([np.asarray(v, dtype=np.float64) for v in embs])
        acc = np.zeros((m.shape[0], planes))
        for di in range(dims):  # sequential over dims == fold order
            acc += m[:, di, None] * w[None, :, di]
        return pd.Series(((acc > 0) * weights[None, :]).sum(axis=1))

    return srp_code_fast


def make_simhash_udf(bits: int = 60, half: int = 30):
    """SimHash fingerprints from text: token-hash bit votes, packed.

    Fingerprint bits 0..half−1 vote from the base-31 token hash, bits
    half..bits−1 from the independent base-131 hash — POLY_P caps each
    family at ~30 informative bits, so a wide (selectively blockable)
    fingerprint needs both. Must stay bit-identical to dedup.simhash
    and the DuckDB oracle (tests/test_fast_parity.py).
    """
    weights = (np.int64(1) << np.arange(bits, dtype=np.int64))[None, :]

    @F.pandas_udf(T.LongType())
    def simhash_fast(texts: pd.Series) -> pd.Series:
        pieces: list[str] = []
        counts = np.empty(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            p = _tokenize(t if isinstance(t, str) else "")
            counts[i] = len(p)
            pieces.extend(p)
        offs = np.concatenate(([0], np.cumsum(counts)))
        h1 = _hash_strings(pieces, 31)
        h2 = _hash_strings(pieces, 131)
        signs = np.concatenate(
            [
                ((h1[:, None] >> np.arange(half)[None, :]) & 1) * 2 - 1,
                ((h2[:, None] >> np.arange(bits - half)[None, :]) & 1) * 2
                - 1,
            ],
            axis=1,
        )  # (n_tokens × bits) in ±1
        # segmented per-doc vote sums in one reduceat (no Python loop);
        # every doc has ≥1 token ("" tokenizes to [""]), so offsets are
        # strictly increasing and each segment is a true sum
        votes = np.add.reduceat(signs, offs[:-1], axis=0)
        out = ((votes > 0) * weights).sum(axis=1, dtype=np.int64)
        return pd.Series(out)

    return simhash_fast


@F.pandas_udf(T.ArrayType(T.StringType()))
def word_bigrams_fast(texts: pd.Series) -> pd.Series:
    """Arrow twin of text.word_ngrams(_, 2) — the distinct bigram
    STRINGS (not hashes: t_bigram_novelty's corpus-frequency semantics
    are exact on strings, while a 2^30-space hash would merge distinct
    bigrams at corpus scale). Same tokenizer and distinct-set contract
    as _doc_shingles; set-equal to the expression version (order
    differs — every consumer is order-insensitive)."""
    return pd.Series(
        [_doc_shingles(t if isinstance(t, str) else "", 2) for t in texts]
    )


CHAR_ENTROPY_RET = T.StructType(
    [
        T.StructField("n_chars", T.LongType()),
        T.StructField("n_distinct", T.LongType()),
        T.StructField("surprisal", T.LongType()),
    ]
)


@F.pandas_udf(CHAR_ENTROPY_RET)
def char_entropy_fast(texts: pd.Series) -> pd.DataFrame:
    """Per-document character-distribution surprisal, integer-exact:
    with n = codepoint count and n_c = count of codepoint c,
    surprisal = Σ_c n_c · bit_length(n // n_c) — the ⌊log2⌋+1
    integer surprisal the unigram-LM family uses (no libm), summed
    over the doc's own char distribution. One vectorized pass:
    docs concatenate into a flat codepoint array, per-(doc, char)
    counts come from one np.unique over packed keys (codepoint <
    2^21, so doc_idx·2^21 + cp is collision-free int64).

    Unit contract: Python len()/ord() count Unicode CODEPOINTS —
    the same unit DuckDB's string_split(text, '') yields — so the
    oracle matches beyond ASCII too.
    """
    n_docs = len(texts)
    lens = np.array(
        [len(t) if isinstance(t, str) else 0 for t in texts],
        dtype=np.int64,
    )
    total = int(lens.sum())
    if total == 0:
        z = np.zeros(n_docs, dtype=np.int64)
        return pd.DataFrame(
            {"n_chars": lens, "n_distinct": z, "surprisal": z}
        )
    flat = np.empty(total, dtype=np.int64)
    pos = 0
    for i, t in enumerate(texts):
        if lens[i]:
            flat[pos : pos + lens[i]] = np.frombuffer(
                t.encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)
            pos += lens[i]
    doc_idx = np.repeat(np.arange(n_docs, dtype=np.int64), lens)
    key = doc_idx * (1 << 21) + flat
    uniq, counts = np.unique(key, return_counts=True)
    u_doc = (uniq >> 21).astype(np.int64)
    q = lens[u_doc] // counts
    bits = np.zeros_like(q)
    v = q.copy()
    while v.max(initial=0) > 0:
        bits += v > 0
        v >>= 1
    surp = np.zeros(n_docs, dtype=np.int64)
    np.add.at(surp, u_doc, counts * bits)
    ndist = np.zeros(n_docs, dtype=np.int64)
    np.add.at(ndist, u_doc, 1)
    return pd.DataFrame(
        {"n_chars": lens, "n_distinct": ndist, "surprisal": surp}
    )
