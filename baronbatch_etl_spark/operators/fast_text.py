"""Arrow-vectorized twins of the text/dedup signature operators.

The expression-based versions in ``operators.text`` / ``operators.
dedup`` are pure built-ins, but Spark does not whole-stage-codegen
higher-order-function lambdas, so per-char hash folds dominate the
signature computation. The pandas UDFs here compute the SAME integer
arithmetic (verified bit-for-bit by tests/test_fast_parity.py and by
the DuckDB oracles) vectorized in numpy: sequential per value —
parity — but batched across rows — speed.

One tokenizer-hasher (:func:`_token_hashes`) splits every document of
a batch once and hashes every token once; one masked Horner fold
(:func:`_fold`) is the only fold loop. The signature kernel
(:func:`text_signatures_fast`), the document fingerprint and the CDC
chunker all start from those token hashes, and every shingle hash is
derived from them arithmetically — no shingle string is ever built.

Numerics: every intermediate stays < 2^61 (P ≈ 2^30; the largest is a
product of two residues), so int64 never overflows and Python/numpy/JVM
agree exactly.

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

from baronbatch_etl_spark.operators.text import (
    CONTAM_SHINGLE_N,
    MINHASH_A,
    MINHASH_B,
    MINHASH_K,
    POLY_P,
    SIMHASH_BITS,
    SIMHASH_HALF,
)


def _fold(
    values: np.ndarray, starts: np.ndarray, lens: np.ndarray, *bases: int
) -> np.ndarray:
    """Horner fold ``(acc·base + v) % P`` of every segment
    ``values[s : s + len]``, for each base in the same column loop:
    row ``k`` of the ``(len(bases), n_segments)`` result is base
    ``bases[k]``, and an empty segment folds to 0.

    Segments are visited longest first, so column ``j`` updates only
    the prefix of segments still longer than ``j`` — the work is the
    total segment length, not n_segments × the longest. Values are code
    points or hashes < P, so intermediates stay < 2^38 (×131) —
    int64-exact."""
    order = np.argsort(-lens)
    first = starts[order]
    # live[j] = how many segments are longer than j
    live = np.searchsorted(
        -lens[order], -np.arange(lens.max(initial=0)), side="left"
    )
    base = np.array(bases, dtype=np.int64)[:, None]
    acc = np.zeros((len(bases), len(starts)), dtype=np.int64)
    for j, k in enumerate(live):
        acc[:, :k] = (acc[:, :k] * base + values[first[:k] + j]) % POLY_P
    out = np.empty_like(acc)
    out[:, order] = acc
    return out


def _token_hashes(
    texts: pd.Series, *bases: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Tokenize a batch of documents once and hash every token.

    A document splits on single spaces — ``"".split(" ") == [""]``,
    matching Spark's ``split('', ' ')`` and DuckDB's ``string_split``
    exactly (an empty doc is one empty token) — and a non-string reads
    as ``""``. The batch is joined with single spaces and encoded once,
    so the tokens are the runs between the space code points of one
    flat array and no per-token Python object is built.

    Returns ``(hashes, lens, offs)``: ``hashes[k]`` holds the base
    ``bases[k]`` polynomial hash of every token (char_poly_hash for
    31, char_poly_hash131 for 131), ``lens`` every token's code-point
    length, and document ``i``'s tokens are ``offs[i]:offs[i + 1]``.
    """
    docs = [t if isinstance(t, str) else "" for t in texts]
    offs = np.zeros(len(docs) + 1, dtype=np.int64)
    np.cumsum([t.count(" ") + 1 for t in docs], out=offs[1:])
    if not docs:
        empty = np.zeros(0, dtype=np.int64)
        return np.zeros((len(bases), 0), dtype=np.int64), empty, offs
    # "<u4": the buffer is explicitly utf-32-LE — native-endian uint32
    # would byte-swap codepoints on big-endian hosts
    cps = np.frombuffer(
        " ".join(docs).encode("utf-32-le"), dtype="<u4"
    ).astype(np.int64)
    spaces = np.flatnonzero(cps == 32)
    starts = np.concatenate(([0], spaces + 1))
    lens = np.append(spaces, len(cps)) - starts
    return _fold(cps, starts, lens, *bases), lens, offs


def _doc_shingles(text: str, n: int) -> list[str]:
    """The distinct word ``n``-gram strings of one document, in first-
    occurrence order (word_bigrams_fast's exact-string bigrams)."""
    toks = text.split(" ")
    if len(toks) < n:
        return []
    seen = dict.fromkeys(
        " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
    )
    return list(seen)


def _shingle_sets(
    grams: np.ndarray, doc: np.ndarray, width: int, n_docs: int
) -> tuple[np.ndarray, np.ndarray]:
    """Per-doc sorted, distinct hashes of the ``width``-grams that lie
    inside one document. ``grams[i]`` is the gram starting at token
    ``i`` of the batch and ``doc`` maps tokens to documents; returns
    ``(values, offs)`` with document ``i``'s set at
    ``values[offs[i]:offs[i + 1]]``."""
    m = len(grams)
    inside = doc[:m] == doc[width - 1 : width - 1 + m]
    # doc·P + hash sorts by (doc, hash): one np.unique dedups every set
    key = np.unique(doc[:m][inside] * POLY_P + grams[inside])
    owner = key // POLY_P
    offs = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(np.bincount(owner, minlength=n_docs), out=offs[1:])
    return key - owner * POLY_P, offs


def _per_doc(values: np.ndarray, offs: np.ndarray) -> list[np.ndarray]:
    return [values[a:b] for a, b in zip(offs[:-1], offs[1:])]


_MINHASH_A = np.asarray(MINHASH_A, dtype=np.int64)[None, :]
_MINHASH_B = np.asarray(MINHASH_B, dtype=np.int64)[None, :]

# explicit StructType: a DDL-string returnType would be parsed at
# import time, which requires a live SparkContext
SIGNATURE_RET = T.StructType(
    [
        T.StructField("sig", T.ArrayType(T.LongType())),
        T.StructField("sh", T.ArrayType(T.LongType())),
        T.StructField("sh4", T.ArrayType(T.LongType())),
        T.StructField("simhash", T.LongType()),
    ]
)


@F.pandas_udf(SIGNATURE_RET)
def text_signatures_fast(texts: pd.Series) -> pd.DataFrame:
    """Every text signature of a document from ONE tokenize-and-hash
    pass — the Arrow twin of four expression operators:

    * ``sh`` — text.shingle_hashes(text, 3), sorted and deduped;
    * ``sh4`` — text.shingle_hashes(text, CONTAM_SHINGLE_N), likewise;
    * ``sig`` — dedup.minhash_signature: per-doc minimum of each
      MinHash permutation over ``sh``; a doc with fewer than 3 tokens
      has no shingles and signs as the sentinel P in every slot;
    * ``simhash`` — dedup.simhash: bit b is set iff more than half of
      the doc's tokens have it set in their packed
      (base-31 | base-131 << SIMHASH_HALF) word.

    Shingle hashes come from the token hashes by the polynomial
    identity ``h(x‖' '‖y) = ((h(x)·31 + 32)·31^|y| + h(y)) mod P``,
    extended one token at a time (1-gram → 2 → 3 → 4). Sets are sorted
    and collision-deduped: every consumer is set-semantic (min /
    intersect / distinct-union), and downstream pair math may then
    assume uniqueness without a per-pair dedup pass.
    """
    n = len(texts)
    (h31, h131), lens, offs = _token_hashes(texts, 31, 131)
    n_tok = np.diff(offs)
    doc = np.repeat(np.arange(n, dtype=np.int64), n_tok)
    # 31^k mod P for every token length k
    pw = np.ones(int(lens.max(initial=0)) + 1, dtype=np.int64)
    for k in range(1, len(pw)):
        pw[k] = pw[k - 1] * 31 % POLY_P
    grams, sets = h31, {}
    for width in range(2, max(3, CONTAM_SHINGLE_N) + 1):
        tail = slice(width - 1, None)
        grams = (
            (grams[:-1] * 31 + 32) % POLY_P * pw[lens[tail]] % POLY_P
            + h31[tail]
        ) % POLY_P
        if width in (3, CONTAM_SHINGLE_N):
            sets[width] = _shingle_sets(grams, doc, width, n)
    sh, sh_offs = sets[3]
    sig = np.full((n, MINHASH_K), POLY_P, dtype=np.int64)
    signed = sh_offs[1:] > sh_offs[:-1]
    if sh.size:
        perms = (sh[:, None] * _MINHASH_A + _MINHASH_B) % POLY_P
        sig[signed] = np.minimum.reduceat(perms, sh_offs[:-1][signed], axis=0)
    # bits 0..HALF−1 from the base-31 hash, HALF..BITS−1 from base 131
    word = (h31 & (1 << SIMHASH_HALF) - 1) | (
        h131 & (1 << SIMHASH_BITS - SIMHASH_HALF) - 1
    ) << SIMHASH_HALF
    bits = np.unpackbits(
        word.astype("<u8").view(np.uint8).reshape(-1, 8),
        axis=1,
        bitorder="little",
    )
    ones = np.add.reduceat(bits, offs[:-1], axis=0, dtype=np.int64)
    simhash = np.packbits(
        2 * ones > n_tok[:, None], axis=1, bitorder="little"
    ).view("<i8")
    return pd.DataFrame(
        {
            "sig": list(sig),
            "sh": _per_doc(sh, sh_offs),
            "sh4": _per_doc(*sets[CONTAM_SHINGLE_N]),
            "simhash": simhash.reshape(n),
        }
    )


def _cdc_chunk_arrays(
    texts: pd.Series, modulus: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized CDC pass for one batch of documents.

    Returns ``(doc_idx, chunk_id, n_tokens, fp)`` flat arrays, one
    entry per chunk, in (doc, position) order: ``doc_idx`` indexes
    into ``texts``, ``chunk_id`` is the 0-based chunk ordinal within
    its doc. The numpy core of :func:`make_cdc_chunk_rows_mapper`.
    """
    (flat,), _, offs = _token_hashes(texts, 31)
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
    (fps,) = _fold(flat, starts, lens, 131)
    # assign chunks back to docs (starts are sorted, so doc_idx is
    # nondecreasing and the per-doc ordinal is a first-index offset)
    doc_idx = np.searchsorted(offs[1:], starts, side="right")
    chunk_id = np.arange(len(starts)) - np.searchsorted(
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
    batch fold as segments of the token-hash array in one
    :func:`_fold`) — no per-doc Python list assembly and no JVM-side
    explode of a nested column. Row-local: zero shuffle at any corpus
    size. Input batches must carry ``doc_id`` and ``text``.
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
    (acc·131 + token_hash) % P over the token stream — the same
    :func:`_fold` one level up, with documents as the segments of the
    token-hash array."""
    (flat,), _, offs = _token_hashes(texts, 31)
    (fp,) = _fold(flat, offs[:-1], np.diff(offs), 131)
    return pd.Series(fp)


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
