"""Text-analysis operators for LLM-data pipelines (BASELINE.json
north star; not present in the reference, which has no document
processing — SURVEY §2.10 note).

Everything is row-local built-in expressions (split / higher-order
transform / aggregate) — no UDFs, no shuffles — so these run at scan
speed on 100 TB. The portable polynomial hash gives bit-identical
values in Spark and DuckDB (verified), which makes every operator
oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Modulus for the portable polynomial hash (fits 31·P in int64).
POLY_P = 1_000_000_007

#: Shingle width for benchmark-contamination checks — THE single
#: source of truth: the signature kernel's ``sh4`` column
#: (``fast_text.text_signatures_fast``, staged by catalog_llm and read
#: by t_contamination/t_training_set) and catalog_curation's DuckDB
#: oracle fragments both read it, so the two can never drift apart.
#: 4-grams are the sweet spot for this fixture vocabulary (3-grams
#: over-fire, 5-grams under-fire); production corpora typically use
#: 8-13.
CONTAM_SHINGLE_N = 4

# Fixed MinHash family h_j(x) = (A[j]·x + B[j]) mod P  (seed 42). The
# signature constants live here, next to POLY_P, so the Arrow kernel
# (operators.fast_text) and the expression twins (operators.dedup)
# read one definition.
MINHASH_K = 16
MINHASH_A = (
    686579304, 119540832, 26855093, 796233791, 295310486, 262950629,
    239670712, 149827707, 790779947, 110053354, 726600540, 795285933,
    957970517, 585582862, 93349857, 634036507,
)
MINHASH_B = (
    453035110, 34126396, 31994523, 100604502, 234760738, 249817734,
    542621108, 646412689, 28492780, 602632297, 213500298, 768820204,
    697808098, 753041955, 585126461, 450455977,
)

# 60-bit SimHash fingerprint assembled from TWO independent token-hash
# families (base-31 → bits 0..29, base-131 → bits 30..59): POLY_P is
# ~2^30, so one family alone yields ≤30 informative bits.
SIMHASH_BITS = 60
SIMHASH_HALF = 30  # bits per hash family


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (single-space convention)."""
    c = text if isinstance(text, Column) else F.col(text)
    return F.split(c, " ")


def char_poly_hash(s: Column) -> Column:
    """Portable char-level polynomial hash: fold (acc*31 + codepoint) % P.

    Same bits in any engine that folds left-to-right over code points
    (DuckDB twin: list_reduce over string_split(s, '') with ascii()).
    """
    return F.aggregate(
        F.split(s, ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * 31 + F.ascii(ch)) % POLY_P,
    )


def char_poly_hash131(s: Column) -> Column:
    """Second independent portable hash (base 131): fold
    (acc*131 + codepoint) % P. Paired with char_poly_hash for
    double-hashing schemes (Bloom probes: pos_i = h1 + i·h2)."""
    return F.aggregate(
        F.split(s, ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * 131 + F.ascii(ch)) % POLY_P,
    )


def token_hashes(text: Column | str) -> Column:
    """array<long> of per-token polynomial hashes."""
    return F.transform(tokens(text), char_poly_hash)


def token_hashes131(text: Column | str) -> Column:
    """array<long> of per-token base-131 hashes — the independent
    second hash family (pairs with token_hashes for schemes that need
    more than POLY_P's ~30 bits per token, e.g. the 60-bit SimHash)."""
    return F.transform(tokens(text), char_poly_hash131)


def word_ngrams(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles as strings; empty array when the
    document is shorter than n tokens."""
    t = tokens(text)
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(t, i + j + 1) for j in range(n)]
    )
    return F.when(
        F.size(t) >= n,
        F.array_distinct(F.transform(F.sequence(F.lit(0), F.size(t) - n), gram)),
    ).otherwise(F.array().cast("array<string>"))


def shingle_hashes(text: Column | str, n: int = 3) -> Column:
    """Distinct hashed n-gram shingles (array<long>) — the MinHash input."""
    return F.transform(word_ngrams(text, n), char_poly_hash)


def sql_char_poly_hash(expr: str) -> str:
    """DuckDB twin of char_poly_hash."""
    return (
        "list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(string_split({expr}, ''), c -> ascii(c)::BIGINT)), "
        f"(a, c) -> (a * 31 + c) % {POLY_P})"
    )


def sql_char_poly_hash131(expr: str) -> str:
    """DuckDB twin of char_poly_hash131."""
    return (
        "list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(string_split({expr}, ''), c -> ascii(c)::BIGINT)), "
        f"(a, c) -> (a * 131 + c) % {POLY_P})"
    )


def sql_word_ngrams(tokens_expr: str, n: int = 3) -> str:
    """DuckDB twin of word_ngrams over a token-list expression."""
    parts = ", ".join(f"({tokens_expr})[i+{j + 1}]" for j in range(n))
    return (
        f"CASE WHEN len({tokens_expr}) >= {n} THEN "
        f"list_distinct(list_transform(range(0, len({tokens_expr}) - {n - 1}), "
        f"i -> concat_ws(' ', {parts}))) ELSE [] END"
    )


#: Marker stopwords per language for the n-gram/keyword language-ID
#: heuristic. Deterministic, vocabulary-appropriate for the fixture
#: corpus; real deployments swap in real marker tables.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of"),
    "es": ("el", "la", "de", "y"),
    "de": ("der", "die", "und", "das"),
    "fr": ("le", "la", "et", "des"),
}

#: Stopwords for quality scoring.
STOPWORDS = ("the", "a", "and", "of", "to", "in")


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Marker-hit count per candidate language."""
    t = tokens(text)
    out = {}
    for lang, markers in LANG_MARKERS.items():
        out[lang] = F.size(F.filter(t, lambda x: x.isin(*markers)))
    return out


def lang_id(text: Column | str, default: str = "und") -> Column:
    """First-match argmax over language scores (CASE semantics: a
    language wins if its score is positive and ≥ every later language;
    earlier codes win ties). All-zero → default. The shape mirrors a
    plain SQL CASE so the oracle replays it exactly."""
    scores = lang_scores(text)
    langs = sorted(scores)
    best = None
    for idx, lang in enumerate(langs):
        cond = scores[lang] > 0
        for other in langs[idx + 1 :]:
            cond = cond & (scores[lang] >= scores[other])
        best = (
            F.when(cond, F.lit(lang))
            if best is None
            else best.when(cond, F.lit(lang))
        )
    return best.otherwise(F.lit(default))


def token_count(text: Column | str) -> Column:
    """Whitespace token count (empty text → 0)."""
    c = text if isinstance(text, Column) else F.col(text)
    return F.when(F.length(c) == 0, F.lit(0)).otherwise(F.size(tokens(c)))


def stopword_ratio(text: Column | str) -> Column:
    """Fraction of tokens that are stopwords (0.0 for empty docs)."""
    t = tokens(text)
    return F.when(F.size(t) > 0, F.size(
        F.filter(t, lambda x: x.isin(*STOPWORDS))
    ) * 1.0 / F.size(t)).otherwise(F.lit(0.0))


#: The curation quality gate: a document enters the training-set
#: pipeline when ``quality_score >= QUALITY_MIN``. The batch survivor
#: stages, their streaming twin and the DuckDB oracle all read it.
QUALITY_MIN = 0.35


def quality_score(text: Column | str, n_chars: Column | str) -> Column:
    """Composite quality heuristic: length saturation × (1 - stopword
    excess). Pure double arithmetic, engine-portable."""
    nc = n_chars if isinstance(n_chars, Column) else F.col(n_chars)
    len_score = F.least(F.lit(1.0), nc / F.lit(400.0))
    stop = stopword_ratio(text)
    return len_score * (F.lit(1.0) - F.least(F.lit(1.0), stop * F.lit(2.0)))


def doc_fingerprint(text: Column | str) -> Column:
    """Order-sensitive document fingerprint: polynomial fold over the
    per-token hashes (a rolling hash of the token stream)."""
    return F.aggregate(
        token_hashes(text),
        F.lit(0).cast("long"),
        lambda acc, h: (acc * 131 + h) % POLY_P,
    )
