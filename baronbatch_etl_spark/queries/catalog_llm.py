"""LLM-data-pipeline catalog: text analysis, dedup family, similarity
search, multimodal plumbing (BASELINE.json north-star operators).

Every query here is oracle-checked — including MinHash-LSH and
SimHash, whose DuckDB twins are generated from the same fixed hash
constants so both engines replay the identical arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from baronbatch_etl_spark.functions.scalars import round_half_up
from baronbatch_etl_spark.io import (
    load_table,
    materialize,
    session_fixture,
    spread,
)
from baronbatch_etl_spark.operators import dedup as D
from baronbatch_etl_spark.operators import multimodal as M
from baronbatch_etl_spark.operators import similarity as S
from baronbatch_etl_spark.operators import text as X
from baronbatch_etl_spark.operators.fast_text import (
    char_entropy_fast,
    make_cdc_chunk_rows_mapper,
    word_bigrams_fast,
)
from baronbatch_etl_spark.queries import register

# --- shared SQL fragments (DuckDB twins of the text operators) -------------

_SQL_TOKENS = "string_split(text, ' ')"
_SQL_TOKEN_HASHES = (
    f"list_transform({_SQL_TOKENS}, tk -> {X.sql_char_poly_hash('tk')})"
)
_SQL_TOKEN_HASHES131 = (
    f"list_transform({_SQL_TOKENS}, tk -> {X.sql_char_poly_hash131('tk')})"
)
_SQL_SHINGLES = X.sql_word_ngrams(_SQL_TOKENS, 3)
_SQL_SHINGLE_HASHES = f"list_transform({_SQL_SHINGLES}, g -> {X.sql_char_poly_hash('g')})"


def _sql_list_sum(items: str) -> str:
    return f"list_reduce(list_prepend(0::BIGINT, {items}), (a, v) -> a + v)"


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "t_token_stats",
    oracle=f"""
SELECT doc_id,
       CASE WHEN length(text) = 0 THEN 0 ELSE len({_SQL_TOKENS}) END AS n_tokens,
       len(list_distinct({_SQL_TOKENS})) AS n_uniq,
       length(text) AS char_len,
       CASE WHEN len({_SQL_TOKENS}) > 0
            THEN len(list_filter({_SQL_TOKENS},
                 x -> x IN ('the','a','and','of','to','in'))) * 1.0
                 / len({_SQL_TOKENS})
            ELSE 0.0 END AS stop_ratio
FROM documents
""",
    tags=("llm", "text"),
)
def t_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + vocabulary stats + stopword ratio — row-local
    expressions, scan-speed at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    t = X.tokens("text")
    return docs.select(
        "doc_id",
        X.token_count("text").alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_uniq"),
        F.length("text").cast("long").alias("char_len"),
        X.stopword_ratio("text").alias("stop_ratio"),
    )


@register(
    "t_repetition",
    oracle="""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
cnt AS (
    SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       count(*) AS n_distinct,
       count(*)::DOUBLE / CAST(sum(c) AS BIGINT)::DOUBLE AS distinct_ratio,
       max(c)::DOUBLE / CAST(sum(c) AS BIGINT)::DOUBLE AS top_token_frac
FROM cnt GROUP BY doc_id
""",
    tags=("llm", "text", "quality"),
)
def t_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition/diversity quality signals (the Gopher-style filters
    a training-data pipeline cuts boilerplate with): distinct-token
    ratio and most-frequent-token fraction per document.

    Explode → (doc, token) counts → per-doc agg: two map-side-combined
    shuffles keyed by doc_id — linear, skew-free, no HOF quadratics,
    scan-speed at 100 TB. Ratios divide exact longs cast to double, so
    both engines produce identical bits."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(X.tokens("text")).alias("tok"))
    cnt = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    return cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        (
            F.count("*").cast("double") / F.sum("c").cast("double")
        ).alias("distinct_ratio"),
        (
            F.max("c").cast("double") / F.sum("c").cast("double")
        ).alias("top_token_frac"),
    )


_SQL_BIGRAMS = X.sql_word_ngrams(_SQL_TOKENS, 2)


@register(
    "t_bigram_novelty",
    oracle=f"""
WITH b AS (
    SELECT doc_id, unnest({_SQL_BIGRAMS}) AS bg FROM documents
),
per_bg AS (
    SELECT bg, count(*) AS n_docs, min(doc_id) AS only_doc
    FROM b GROUP BY bg
),
novel AS (
    SELECT only_doc AS doc_id, CAST(count(*) AS BIGINT) AS n_novel
    FROM per_bg WHERE n_docs = 1 GROUP BY only_doc
)
SELECT d.doc_id,
       len({_SQL_BIGRAMS}) AS n_bigrams,
       COALESCE(n.n_novel, 0) AS n_novel,
       CASE WHEN len({_SQL_BIGRAMS}) > 0
            THEN COALESCE(n.n_novel, 0) * 1.0 / len({_SQL_BIGRAMS})
            ELSE 0.0 END AS novelty
FROM documents d LEFT JOIN novel n ON d.doc_id = n.doc_id
""",
    tags=("llm", "text", "quality"),
)
def t_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-n-gram novelty signal (the KenLM/CCNet-style quality axis
    with integer-exact arithmetic): per document, how many of its
    distinct bigrams appear in NO other document of the corpus.
    High-novelty docs are either genuinely original or noise; zero
    novelty flags boilerplate — the corpus-level complement of
    t_repetition's within-doc signals.

    NO join-back of the corpus vocabulary to the documents, and the
    expensive distinct-bigram build runs ONCE (not once per branch):
    a space-free per-doc sentinel rides along the posexplode — a true
    bigram always contains the join space, so ``cast(doc_id)`` can
    never collide with one. The sentinel sits at array position
    size(bigrams), so its ``pos`` IS the doc's distinct-bigram count;
    it is corpus-unique, so it always survives the doc-frequency-1
    filter, keeping every document in the final aggregate (n_novel =
    survivors − 1, the sentinel itself). Shapes: row-local explode →
    one bigram-keyed partial-agg shuffle → one tiny doc-keyed agg.
    Linear, skew-free (bigram keys are near-unique by construction),
    no vocabulary broadcast, no second document scan — scan-bound at
    100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    bigrams = word_bigrams_fast(F.col("text"))
    sentinel = F.col("doc_id").cast("string")
    exploded = docs.select(
        "doc_id",
        F.posexplode(F.concat(bigrams, F.array(sentinel))).alias("pos", "bg"),
    )
    per_bg = exploded.groupBy("bg").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("doc_id"),
        F.min("pos").alias("pos"),
    )
    per_doc = (
        per_bg.filter(F.col("n_docs") == 1)
        .groupBy("doc_id")
        .agg(
            (F.count("*") - 1).alias("n_novel"),
            F.max(
                F.when(
                    F.col("bg") == F.col("doc_id").cast("string"), F.col("pos")
                )
            ).alias("n_bigrams"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        "n_novel",
        F.when(
            F.col("n_bigrams") > 0,
            F.col("n_novel") * 1.0 / F.col("n_bigrams"),
        )
        .otherwise(F.lit(0.0))
        .alias("novelty"),
    )


@register(
    "t_lang_id",
    oracle="""
WITH s AS (
    SELECT doc_id, lang,
           {scores}
    FROM documents
)
SELECT doc_id, lang AS labeled_lang, score_de, score_en, score_es, score_fr,
       CASE {cases} ELSE 'und' END AS predicted
FROM s
""".format(
        scores=",\n           ".join(
            "len(list_filter(string_split(text, ' '), x -> "
            + " OR ".join(f"x = '{m}'" for m in X.LANG_MARKERS[lang])
            + f")) AS score_{lang}"
            for lang in sorted(X.LANG_MARKERS)
        ),
        cases=" ".join(
            "WHEN score_{l} > 0{rest} THEN '{l}'".format(
                l=lang,
                rest="".join(
                    f" AND score_{lang} >= score_{other}"
                    for other in sorted(X.LANG_MARKERS)[i + 1 :]
                ),
            )
            for i, lang in enumerate(sorted(X.LANG_MARKERS))
        ),
    ),
    tags=("llm", "text"),
)
def t_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic: per-language score columns +
    deterministic first-match argmax."""
    docs = load_table(spark, sf_dir, "documents")
    scores = X.lang_scores("text")
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[scores[lang].alias(f"score_{lang}") for lang in sorted(scores)],
        X.lang_id("text").alias("predicted"),
    )


@register(
    "t_quality_score",
    oracle="""
WITH q AS (
    SELECT doc_id, n_chars,
           CASE WHEN len(string_split(text, ' ')) > 0
                THEN len(list_filter(string_split(text, ' '),
                     x -> x IN ('the','a','and','of','to','in'))) * 1.0
                     / len(string_split(text, ' '))
                ELSE 0.0 END AS stop
    FROM documents
)
SELECT doc_id,
       least(1.0, n_chars / 400.0)
         * (1.0 - least(1.0, stop * 2.0)) AS quality
FROM q
""",
    tags=("llm", "text"),
)
def t_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality heuristic (length saturation × stopword
    penalty) — the filter stage of a training-data pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", X.quality_score("text", "n_chars").alias("quality")
    )


@register(
    "t_fingerprint",
    oracle=f"""
SELECT doc_id,
       list_reduce(list_prepend(0::BIGINT, {_SQL_TOKEN_HASHES}),
                   (acc, h) -> (acc * 131 + h) % {X.POLY_P}) AS fingerprint
FROM documents
""",
    tags=("llm", "text"),
)
def t_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling fingerprint of the token stream.

    Uses the Arrow-vectorized twin of text.doc_fingerprint (same
    integer fold, parity-tested) — higher-order-function lambdas
    don't whole-stage-codegen, so the expression version pays ~10×.
    """
    from baronbatch_etl_spark.operators.fast_text import doc_fingerprint_fast

    docs = load_table(spark, sf_dir, "documents")
    return spread(docs).select(
        "doc_id", doc_fingerprint_fast("text").alias("fingerprint")
    )


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------


@register(
    "d_exact_dedup",
    oracle="""
SELECT md5(text) AS text_md5, min(doc_id) AS doc_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
""",
    tags=("llm", "dedup"),
)
def d_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup survivors: hash-groupBy on content digest."""
    return D.exact_dedup_survivors(load_table(spark, sf_dir, "documents"))


def _minhash_ctes(src: str = "documents") -> str:
    """CTE chain ending in ``pairs(doc_a, doc_b, jaccard)`` — shared by
    the pair query, the recursive clustering oracle, and the corpus
    pipeline (which runs it over a filtered survivor set)."""
    mins = ", ".join(
        f"CASE WHEN len(hs) > 0 THEN list_aggregate("
        f"list_transform(hs, h -> ({a}::BIGINT * h + {b}) % {X.POLY_P}), 'min') "
        f"ELSE {X.POLY_P}::BIGINT END"
        for a, b in zip(D.MINHASH_A, D.MINHASH_B)
    )
    keys = ", ".join(
        "concat_ws('-', "
        + ", ".join(
            f"sig[{b * D.LSH_ROWS + r + 1}]::VARCHAR" for r in range(D.LSH_ROWS)
        )
        + f") AS key_{b}"
        for b in range(D.LSH_BANDS)
    )
    key_list = ", ".join(f"key_{b}" for b in range(D.LSH_BANDS))
    return f"""sh AS (
    SELECT doc_id, {_SQL_SHINGLE_HASHES} AS hs FROM {src}
),
sig AS (SELECT doc_id, hs, [{mins}] AS sig FROM sh),
keyed0 AS (SELECT doc_id, hs, {keys} FROM sig WHERE len(hs) > 0),
keyed AS (
    SELECT doc_id, hs, u.band, u.key
    FROM keyed0, LATERAL (
        SELECT unnest(range(0, {D.LSH_BANDS})) AS band,
               unnest([{key_list}]) AS key
    ) u
),
cand AS (
    SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
    FROM keyed l JOIN keyed r
      ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
),
pairs AS (
    SELECT c.doc_a, c.doc_b,
           len(list_intersect(a.hs, b.hs)) * 1.0
             / len(list_distinct(list_concat(a.hs, b.hs))) AS jaccard
    FROM cand c
    JOIN sh a ON c.doc_a = a.doc_id
    JOIN sh b ON c.doc_b = b.doc_id
    WHERE len(list_intersect(a.hs, b.hs)) * 1.0
            / len(list_distinct(list_concat(a.hs, b.hs))) >= 0.8
)"""


def _components_ctes() -> str:
    """CTE pair following :func:`_minhash_ctes`: ``edges`` symmetrizes
    ``pairs`` and the recursive ``reach(s, d)`` is its transitive
    closure, so ``least(s, min(d))`` grouped by ``s`` is the component
    root :func:`dedup.connected_components` computes. Needs ``WITH
    RECURSIVE``."""
    return """edges AS (
    SELECT doc_a AS s, doc_b AS d FROM pairs
    UNION
    SELECT doc_b AS s, doc_a AS d FROM pairs
),
reach(s, d) AS (
    SELECT s, d FROM edges
    UNION
    SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    WHERE e.d <> r.s
)"""


def _doc_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus signature table ``(doc_id, source, lang, n_chars,
    pfx, sig, sh, simhash, sh4, md5, qscore, n_tok)``: the
    :func:`dedup.signatures` frame of the documents plus three
    row-local scores, staged once per (session, sf_dir) via
    :func:`io.session_fixture` — ONE Arrow pass (one call of the
    signature kernel, ``fast_text.text_signatures_fast``) feeding the
    whole-corpus dedup family (`d_minhash_lsh`, `d_dup_clusters`,
    `d_cluster_canonical`, `d_lsh_recall`, `t_split_leakage_safe`,
    `d_containment`, `d_ngram_jaccard`, `d_edit_distance`,
    `d_simhash_pairs`, `d_source_overlap`, and the survivor-pool
    callers listed below). A production dedup
    deployment materializes exactly this table in the staging layer
    (the signature index is per-document derived state, like the graph
    family's edge list — NOT a query result: every consumer still runs
    its own banding join, verification and component propagation) and
    points every pass at the stored copy. Values are row-local
    functions of (doc_id, text) — partition-order-independent by
    construction — so consumers are value-identical with or without
    the staging hop; each remains hash-checked against its
    from-scratch DuckDB oracle. Queries over a FILTERED corpus whose
    predicate is row-local in the fixture's columns (d_lsh_recall's
    ``doc_id % 3 = 0``) filter the scan directly; survivor pools
    derived from ``text`` (the quality/exact-dedup subsets of
    d_dedup_report, t_corpus_dedup, curate_survivors) join their id
    set onto the fixture — measured 1.7× faster than re-running the
    Arrow pass on the subset (the r10 interleaved A/B,
    OPTIMIZATION_r10.md), since the id join is AQE-broadcast while the inline pass
    pays tokenize+shingle+hash over the survivor text."""
    return session_fixture(
        spark,
        sf_dir,
        "doc_signatures",
        lambda: _signature_table(load_table(spark, sf_dir, "documents")),
    )


def _signature_table(docs: DataFrame) -> DataFrame:
    """The lazy build of :func:`_doc_signatures` over a documents
    frame: its :func:`dedup.signatures` columns plus the three
    row-local scores, in the staged column order."""
    return D.signatures(docs).select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        "pfx",
        "sig",
        "sh",
        "simhash",
        "sh4",
        # r11: three more row-local derived columns, same class as
        # sig/simhash (per-document index state, NOT query results —
        # d_exact_dedup, t_quality_score and the per-doc token scorers
        # all stay inline): the exact-dedup digest, the curation
        # quality score (a fixed IEEE expression — parquet round-trips
        # doubles exactly) and the whitespace token count. The survivor
        # composites were paying a second full-text scan +
        # digest/score/tokenize per query for these (measured 1.14 s of
        # t_training_set's 2.84 s).
        F.md5("text").alias("md5"),
        X.quality_score("text", "n_chars").alias("qscore"),
        X.token_count("text").cast("long").alias("n_tok"),
    )


def _minhash_sql() -> str:
    return f"WITH {_minhash_ctes()}\nSELECT doc_a, doc_b, jaccard FROM pairs"


@register("d_minhash_lsh", oracle=_minhash_sql(), tags=("llm", "dedup", "lsh"))
def d_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)-LSH(4×4) near-dup pairs over word-3-gram shingles,
    exact-Jaccard-verified at 0.8 — the canonical 100 TB near-dedup
    plan (row-local signatures, shuffle only on band buckets; the
    signature table is the staged `_doc_signatures` fixture)."""
    return D.minhash_lsh_pairs(_doc_signatures(spark, sf_dir), threshold=0.8)


@register(
    "d_dup_clusters",
    oracle=f"""
WITH RECURSIVE {_minhash_ctes()},
{_components_ctes()},
comp AS (
    SELECT s AS doc_id, least(s, min(d)) AS component
    FROM reach GROUP BY s
)
SELECT c.doc_id, c.component, z.csize
FROM comp c
JOIN (SELECT component, count(*) AS csize FROM comp GROUP BY component) z
  ON c.component = z.component
""",
    tags=("llm", "dedup", "iterative"),
)
def d_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the verified MinHash-LSH pair graph
    (min-label propagation; DuckDB oracle replays it as a recursive
    transitive closure) + per-cluster size — the keep-one-per-cluster
    contract of a production dedup pass."""
    pairs = D.minhash_lsh_pairs(_doc_signatures(spark, sf_dir), threshold=0.8)
    comp = D.connected_components(pairs)
    sizes = comp.groupBy("comp").agg(F.count("*").alias("csize"))
    return comp.join(sizes, "comp").select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("component"),
        "csize",
    )


@register(
    "d_dedup_report",
    oracle=f"""
WITH RECURSIVE surv AS (
    SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
sdocs AS (SELECT d.* FROM documents d JOIN surv s ON d.doc_id = s.doc_id),
{_minhash_ctes(src="sdocs")},
{_components_ctes()},
removed AS (
    SELECT s AS doc_id FROM reach GROUP BY s
    HAVING least(s, min(d)) <> s
)
SELECT d.source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN s.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact_removed,
       CAST(sum(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_near_removed,
       CAST(count(*)
            - sum(CASE WHEN s.doc_id IS NULL THEN 1 ELSE 0 END)
            - sum(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS n_survivors,
       CAST(sum(CASE WHEN s.doc_id IS NULL OR r.doc_id IS NOT NULL
                THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_rate
FROM documents d
LEFT JOIN surv s ON d.doc_id = s.doc_id
LEFT JOIN removed r ON d.doc_id = r.doc_id
GROUP BY d.source
""",
    tags=("llm", "dedup", "report"),
)
def d_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup survivorship: how much of each ingest source
    survives exact dedup (md5 keep-min) then near-dedup (MinHash-LSH
    keep-one-per-cluster) — the rollup an ingest dashboard alerts on
    when one source starts shipping mirrored or templated content.

    Composes the published stages (d_exact_dedup's keep-min, then
    d_minhash_lsh + d_dup_clusters over the exact survivors) and folds
    them to one row per source: n_docs, n_exact_removed,
    n_near_removed, n_survivors, dup_rate (one IEEE division).

    Plan: the flags are two doc_id-keyed left joins (survivor ids and
    removed ids are both ≤ corpus-sized id sets — 8-byte join keys,
    AQE-broadcast while they fit) followed by one source-keyed
    partial agg. Inherits the banded-LSH / O(diameter)-CC shapes of
    its stages; reference parity: extends dashboard/app.py's
    aggregate counter panels to dedup accounting.
    """
    # the staged md5 column replaces the operator's full-text scan +
    # digest (same arithmetic — exact_dedup_survivors IS
    # groupBy(md5).min(doc_id); the operator itself and d_exact_dedup
    # stay inline over raw text); the source flags come from the same
    # fixture, so documents.parquet is never touched (r11)
    sigs = _doc_signatures(spark, sf_dir)
    # two consumers (LSH base + flags join) — materialize the digest
    # shuffle once (8-byte ids)
    keep = materialize(
        sigs.select("doc_id", "md5")
        .groupBy("md5")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    removed = D.near_dup_removed(
        D.minhash_lsh_pairs(sigs.join(keep, "doc_id"), threshold=0.8)
    )
    flags = (
        sigs.select("doc_id", "source")
        .join(keep.withColumn("_surv", F.lit(1)), "doc_id", "left")
        .join(removed.withColumn("_near", F.lit(1)), "doc_id", "left")
    )
    exact_rm = F.sum(F.when(F.col("_surv").isNull(), 1).otherwise(0))
    near_rm = F.sum(F.when(F.col("_near").isNotNull(), 1).otherwise(0))
    dup = F.sum(
        F.when(F.col("_surv").isNull() | F.col("_near").isNotNull(), 1)
        .otherwise(0)
    )
    return flags.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        exact_rm.cast("long").alias("n_exact_removed"),
        near_rm.cast("long").alias("n_near_removed"),
        (F.count("*") - exact_rm - near_rm).cast("long").alias("n_survivors"),
        (dup.cast("double") / F.count("*")).alias("dup_rate"),
    )


@register(
    "t_token_topk",
    oracle=f"""
SELECT token, count(*) AS n
FROM (SELECT unnest({_SQL_TOKENS}) AS token FROM documents)
GROUP BY token
ORDER BY n DESC, token
LIMIT 50
""",
    tags=("llm", "text", "topk"),
)
def t_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: the distributed word count (explode →
    partial/final hash agg → TakeOrderedAndProject). Map-side partial
    aggregation absorbs the Zipf head before any shuffle, which is
    what makes this shape safe on a 100 TB corpus."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(50)
    )


@register(
    "t_hash_sample",
    oracle="""
SELECT doc_id, lang
FROM documents
WHERE ((doc_id * 2654435761) % 4294967296) % 100 < 10
""",
    tags=("llm", "text", "sample"),
)
def t_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~10% corpus sample via a Knuth multiplicative hash
    of the key — the production alternative to rand()-based sampling:
    deterministic across engines, runs, and partitionings (a rerun or
    a backfill selects the SAME rows), and purely row-local, so it
    costs a scan at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    ) % 100
    return docs.filter(bucket < 10).select("doc_id", "lang")


_QUALITY_SQL = f"""
SELECT doc_id, text, lang, n_chars
FROM (
    SELECT doc_id, text, lang, n_chars,
           CASE WHEN len(string_split(text, ' ')) > 0
                THEN len(list_filter(string_split(text, ' '),
                     x -> x IN ('the','a','and','of','to','in'))) * 1.0
                     / len(string_split(text, ' '))
                ELSE 0.0 END AS stop
    FROM documents
)
WHERE least(1.0, n_chars / 400.0) * (1.0 - least(1.0, stop * 2.0)) >= {X.QUALITY_MIN}
"""


def _survivor_ctes() -> str:
    """Stages 1–3 of the training-set pipeline (quality filter → exact
    dedup keep-min → LSH connected-component keep-one) as a WITH-body
    prefix ending in ``sdocs`` (the exact survivors) and ``removed``
    (their near-dup drops): the oracle side of
    ``catalog_curation.curate_survivors``, shared by every query built
    on it. Needs ``WITH RECURSIVE``."""
    return f"""
qual AS ({_QUALITY_SQL}),
surv AS (SELECT min(doc_id) AS doc_id FROM qual GROUP BY md5(text)),
sdocs AS (SELECT q.* FROM qual q JOIN surv s ON q.doc_id = s.doc_id),
{_minhash_ctes(src="sdocs")},
{_components_ctes()},
removed AS (
    SELECT s AS doc_id FROM reach GROUP BY s
    HAVING least(s, min(d)) <> s
)"""


@register(
    "t_corpus_dedup",
    oracle=f"""
WITH RECURSIVE
{_survivor_ctes()}
SELECT doc_id FROM sdocs
WHERE doc_id NOT IN (SELECT doc_id FROM removed)
""",
    tags=("llm", "dedup", "pipeline"),
)
def t_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus dedup pipeline: quality filter →
    exact dedup (min doc_id per content hash) → MinHash-LSH near-dup
    clustering → keep one doc per cluster. The composite the
    individual operators exist FOR — one declarative plan, verified
    against a recursive-CTE oracle of the whole chain."""
    from baronbatch_etl_spark.queries.catalog_curation import curate_survivors

    return curate_survivors(_doc_signatures(spark, sf_dir)).select("doc_id")


def _simhash_expr_sql() -> str:
    """Bits 0..HALF−1 vote from the base-31 hash list ``hs``, bits
    HALF.. from the base-131 list ``hs2`` (POLY_P ⇒ ~30 informative
    bits per family)."""

    def bit(b: int) -> str:
        src, shift = (
            ("hs", b) if b < D.SIMHASH_HALF else ("hs2", b - D.SIMHASH_HALF)
        )
        votes = _sql_list_sum(
            f"list_transform({src}, h -> ((h >> {shift}) & 1) * 2 - 1)"
        )
        return f"(CASE WHEN {votes} > 0 THEN {1 << b}::BIGINT ELSE 0 END)"

    return " + ".join(bit(b) for b in range(D.SIMHASH_BITS))


_SQL_SIMHASH_TH = (
    f"SELECT doc_id, {_SQL_TOKEN_HASHES} AS hs, "
    f"{_SQL_TOKEN_HASHES131} AS hs2 FROM documents"
)


def _sql_hamming_pairs(
    src: str, item: str, code: str, bits: int, max_hamming: int
) -> str:
    """DuckDB twin of ``dedup.hamming_pairs``: the ``blocks`` and
    ``cand`` CTEs and the final SELECT over CTE ``src`` of
    ``({item}_id, {code})`` rows — four ``bits // 4``-bit blocks, a
    DISTINCT candidate set, popcount verify. Output columns are
    ``{item}_a``, ``{item}_b`` and ``hamming``."""
    width = bits // 4
    mask = (1 << width) - 1
    keys = ", ".join(f"({code} >> {width * i}) & {mask}" for i in range(4))
    ham = f"bit_count(xor({code}_a, {code}_b))"
    return f"""blocks AS (
    SELECT {item}_id, {code}, u.block, u.key
    FROM {src}, LATERAL (
        SELECT unnest(range(0, 4)) AS block, unnest([{keys}]) AS key
    ) u
),
cand AS (
    SELECT DISTINCT l.{item}_id AS {item}_a, r.{item}_id AS {item}_b,
           l.{code} AS {code}_a, r.{code} AS {code}_b
    FROM blocks l JOIN blocks r
      ON l.block = r.block AND l.key = r.key AND l.{item}_id < r.{item}_id
)
SELECT {item}_a, {item}_b, {ham} AS hamming
FROM cand WHERE {ham} <= {max_hamming}"""


@register(
    "d_simhash",
    oracle=f"""
WITH th AS ({_SQL_SIMHASH_TH})
SELECT doc_id, ({_simhash_expr_sql()}) AS simhash FROM th
""",
    tags=("llm", "dedup", "simhash"),
)
def d_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprints (row-local bit votes over two
    token-hash families; Arrow-vectorized path, expression twin in
    operators.dedup)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.signatures(docs).select("doc_id", "simhash")


@register(
    "d_simhash_pairs",
    oracle=f"""
WITH th AS ({_SQL_SIMHASH_TH}),
sim AS (SELECT doc_id, ({_simhash_expr_sql()}) AS sh FROM th),
{_sql_hamming_pairs("sim", "doc", "sh", D.SIMHASH_BITS, 3)}
""",
    tags=("llm", "dedup", "simhash"),
)
def d_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 15-bit-block candidates (pigeonhole
    for hamming ≤ 3) verified by popcount(xor); fingerprints come
    from the staged `_doc_signatures` table. (`d_simhash` itself
    deliberately stays inline: its declared RESULT is the fingerprint
    frame, and serving a query's own output from session staging
    would be result caching, not derivation sharing.)"""
    return D.simhash_near_pairs(_doc_signatures(spark, sf_dir))


@register(
    "d_ngram_jaccard",
    oracle=f"""
WITH sh AS (
    SELECT doc_id, lang, n_chars, {_SQL_SHINGLE_HASHES} AS hs FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       len(list_intersect(a.hs, b.hs)) * 1.0
         / len(list_distinct(list_concat(a.hs, b.hs))) AS jaccard
FROM sh a JOIN sh b
  ON a.lang = b.lang AND a.doc_id < b.doc_id
 AND abs(a.n_chars - b.n_chars) <= 10
WHERE len(list_intersect(a.hs, b.hs)) * 1.0
        / len(list_distinct(list_concat(a.hs, b.hs))) >= 0.5
""",
    tags=("llm", "dedup"),
)
def d_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard ≥ 0.5 over language+length-blocked pairs
    (shingle sets from the staged `_doc_signatures` table)."""
    return D.ngram_jaccard_pairs(_doc_signatures(spark, sf_dir), threshold=0.5)


@register(
    "d_edit_distance",
    # reuses the shared LSH CTE chain for candidates; the `pairs` CTE
    # (Jaccard verify) is simply unused here
    oracle=f"""
WITH {_minhash_ctes()},
pfx AS (SELECT doc_id, substr(text, 1, 64) AS pfx FROM documents)
SELECT c.doc_a, c.doc_b,
       levenshtein(a.pfx, b.pfx) AS prefix_dist,
       1.0 - CAST(levenshtein(a.pfx, b.pfx) AS DOUBLE)
           / greatest(length(a.pfx), length(b.pfx)) AS prefix_sim
FROM cand c
JOIN pfx a ON c.doc_a = a.doc_id
JOIN pfx b ON c.doc_b = b.doc_id
WHERE levenshtein(a.pfx, b.pfx) <= 8
""",
    tags=("llm", "dedup"),
)
def d_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup pairs: the shared MinHash-LSH banding
    generates candidates; a doubly-bounded Levenshtein verifies them
    (64-char prefix, thresholded DP that stops at k+1 — O(k·len), not
    O(len²)). The strongest exact verifier in the dedup family, never
    run all-pairs (operators/dedup.py edit_distance_pairs)."""
    return D.edit_distance_pairs(_doc_signatures(spark, sf_dir), max_dist=8)


@register(
    "d_containment",
    # rare-shingle blocking (NOT the LSH chain: band collisions track
    # resemblance and miss low-Jaccard subset pairs); verify is exact
    # shingle containment |A∩B|/min(|A|,|B|)
    oracle=f"""
WITH sh0 AS (
    SELECT doc_id, list_distinct({_SQL_SHINGLE_HASHES}) AS hs
    FROM documents
),
idx AS (SELECT doc_id, unnest(hs) AS h FROM sh0),
dfc AS (SELECT h, CAST(count(*) AS BIGINT) AS df FROM idx GROUP BY h),
ranked AS (
    SELECT i.doc_id, i.h,
           row_number() OVER (PARTITION BY i.doc_id
                              ORDER BY d.df, i.h) AS rn,
           d.df
    FROM idx i JOIN dfc d USING (h)
),
cand AS (
    SELECT DISTINCT least(r.doc_id, i.doc_id) AS doc_a,
                    greatest(r.doc_id, i.doc_id) AS doc_b
    FROM ranked r JOIN idx i USING (h)
    WHERE r.rn <= 2 AND r.df <= 1000 AND r.doc_id <> i.doc_id
),
cont AS (
    SELECT c.doc_a, c.doc_b,
           len(list_intersect(a.hs, b.hs)) AS inter,
           len(a.hs) AS na, len(b.hs) AS nb
    FROM cand c
    JOIN sh0 a ON c.doc_a = a.doc_id
    JOIN sh0 b ON c.doc_b = b.doc_id
)
SELECT doc_a, doc_b,
       CAST(inter AS DOUBLE) / least(na, nb) AS containment,
       CASE WHEN na <= nb THEN doc_a ELSE doc_b END AS inner_doc
FROM cont
WHERE na > 0 AND nb > 0 AND inter * 100 >= least(na, nb) * 90
ORDER BY containment DESC, doc_a, doc_b
""",
    tags=("llm", "dedup", "containment"),
)
def d_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subset-duplication detector: rare-shingle-blocked candidates
    verified by exact shingle CONTAINMENT ``|A∩B|/min(|A|,|B|)`` ≥
    0.9 — the Broder-97 "containment" complement to `d_minhash_lsh`'s
    resemblance check. A short document quoted whole inside a long
    one has arbitrarily low Jaccard but containment 1.0, so this is
    the pass that catches quote/boilerplate/subset dups resemblance
    dedup under-reports — and because a contained doc shares ALL its
    shingles with its container, the rare-shingle block finds full
    containment with probability 1 (LSH banding, whose collision
    rate tracks resemblance, cannot promise that — see
    operators/dedup.py::containment_pairs). `inner_doc` names the
    contained (smaller-set) copy — the drop candidate. Integer
    threshold arithmetic, one IEEE division for the score.
    """
    return (
        D.containment_pairs(_doc_signatures(spark, sf_dir), threshold_pct=90)
        .orderBy(F.col("containment").desc(), "doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


@register(
    "s_cosine_topk",
    oracle=f"""
WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label, {S.sql_cosine("embedding", "q_emb")} AS cos_sim
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY cos_sim DESC, vec_id
LIMIT 10
""",
    tags=("llm", "similarity"),
)
def s_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against stored vector 0 (broadcast
    query row, map-only scoring, distributed top-k)."""
    return S.brute_force_topk(load_table(spark, sf_dir, "embeddings"), 0, 10)


@register(
    "s_batch_topk",
    oracle=f"""
WITH q AS (
    SELECT vec_id AS q_id, embedding AS q_emb
    FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
),
scored AS (
    SELECT q.q_id, e.vec_id,
           {S.sql_cosine("e.embedding", "q.q_emb")} AS cos_sim
    FROM embeddings e, q
    WHERE e.vec_id <> q.q_id
)
SELECT q_id, vec_id, cos_sim, rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rank
    FROM scored
) WHERE rank <= 5
""",
    tags=("llm", "similarity"),
)
def s_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched retrieval: top-5 neighbors for a query SET in one
    corpus pass (broadcast queries, map-side scoring, per-query
    window top-k)."""
    return S.batch_topk(
        load_table(spark, sf_dir, "embeddings"), [0, 1, 2, 3, 4], 5
    )


@register(
    "s_hard_negatives",
    oracle=f"""
WITH q AS (
    SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb
    FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4, 5, 6, 7)
),
scored AS (
    SELECT q.q_id, q.q_label, e.vec_id, e.label AS neg_label,
           {S.sql_cosine("e.embedding", "q.q_emb")} AS cos_sim
    FROM embeddings e, q
    WHERE e.label <> q.q_label
)
SELECT q_id, q_label, vec_id, neg_label, cos_sim, rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rank
    FROM scored
) WHERE rank <= 3
""",
    tags=("llm", "similarity", "training"),
)
def s_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: top-3 most-similar
    DIFFERENT-label vectors per anchor — broadcast anchor set,
    map-only scoring, WindowGroupLimit partial top-k (the
    metric-learning twin of s_batch_topk)."""
    return S.hard_negatives(
        load_table(spark, sf_dir, "embeddings"), [0, 1, 2, 3, 4, 5, 6, 7], 3
    )


@register(
    "s_label_centroids",
    oracle=f"""
WITH ex AS (
    SELECT label, d.dim, embedding[d.dim] AS v
    FROM embeddings,
         LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS dim) d
),
per_dim AS (
    SELECT label, dim,
           {S.sql_fixed_mean("v")} AS c,
           count(*) AS n
    FROM ex GROUP BY label, dim
)
SELECT label, dim - 1 AS dim, c, n AS n_vectors FROM per_dim
""",
    tags=("llm", "similarity", "centroid"),
)
def s_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell centroids (distributed k-means E-step / IVF coarse
    trainer): explode → per-dimension fixed-point sums (executor-
    order-independent) → centroid components.

    Emitted one row per (label, dim) — scalar columns only, since
    value-hash canonicalizers can't sort array cells; the operator
    itself (`S.label_centroids`) still returns the assembled arrays."""
    cent = S.label_centroids(load_table(spark, sf_dir, "embeddings"))
    return cent.select(
        "label", "n_vectors", F.posexplode("centroid").alias("dim", "c")
    )


@register(
    "s_ivf_topk",
    oracle=f"""
WITH q AS (SELECT embedding AS q_emb, label AS q_label
           FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label, {S.sql_cosine("embedding", "q_emb")} AS cos_sim
FROM embeddings, q
WHERE vec_id <> 0 AND label = q_label
ORDER BY cos_sim DESC, vec_id
LIMIT 10
""",
    tags=("llm", "similarity"),
)
def s_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-pruned cosine top-10: only the query's coarse cell is
    scored (label = cell id; at scale the table is bucketed by it)."""
    return S.ivf_topk(load_table(spark, sf_dir, "embeddings"), 0, 10)


@register(
    "d_embedding_neardup",
    oracle=f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {S.sql_cosine("a.embedding", "b.embedding")} AS cos_sim
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {S.sql_cosine("a.embedding", "b.embedding")} >= 0.3
""",
    tags=("llm", "dedup", "similarity"),
)
def d_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs ≥ 0.3, blocked by coarse cell."""
    return S.embedding_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.3
    )


@register(
    "s_ivf_recall",
    oracle=f"""
WITH q AS (
    SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
    FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
),
scored AS (
    SELECT q.q_id, e.vec_id, e.label, q.q_label,
           {S.sql_cosine("e.embedding", "q.q_emb")} AS cos_sim
    FROM embeddings e, q
    WHERE e.vec_id <> q.q_id
),
brute AS (
    SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id, row_number() OVER (
            PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS r
        FROM scored
    ) WHERE r <= 10
),
ivf AS (
    SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id, row_number() OVER (
            PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS r
        FROM scored WHERE label = q_label
    ) WHERE r <= 10
)
SELECT b.q_id, CAST(count(i.vec_id) AS BIGINT) AS n_hits,
       count(i.vec_id) / 10.0 AS recall_at_k
FROM brute b LEFT JOIN ivf i USING (q_id, vec_id)
GROUP BY b.q_id
""",
    tags=("llm", "similarity", "instrumentation"),
)
def s_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF cell-pruned search vs exact brute force
    for a 5-query sample — one shared scoring pass feeds both
    rankings (see ``S.ivf_recall_at_k``)."""
    return S.ivf_recall_at_k(
        load_table(spark, sf_dir, "embeddings"), [0, 1, 2, 3, 4], 10
    )


@register(
    "s_quantize_int8",
    oracle=f"""
SELECT vec_id,
       {S.sql_norm("embedding")} AS l2_norm,
       CASE WHEN {S.sql_norm("embedding")} > 0.0 THEN
           array_to_string(list_transform(range(1, len(embedding) + 1),
               i -> CAST(floor(embedding[i]::DOUBLE
                               / {S.sql_norm("embedding")} * 127.0 + 0.5)
                         AS BIGINT)), ',')
       END AS q_codes
FROM embeddings
""",
    tags=("llm", "similarity", "quantize"),
)
def s_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of L2-normalized embeddings — the
    index-compression pass (see ``S.quantize_int8``). Codes emit as a
    comma-joined string so every output column is scalar."""
    q = S.quantize_int8(load_table(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id", "l2_norm", F.array_join("q_codes", ",").alias("q_codes")
    )


# ---------------------------------------------------------------------------
# Content-defined chunking
# ---------------------------------------------------------------------------

#: CDC boundary modulus: a token hash ≡ 0 (mod 32) ends a chunk
#: (≈32-token average chunks on this fixture; production uses larger).
_CDC_MOD = 32

_cdc_chunk_rows = make_cdc_chunk_rows_mapper(_CDC_MOD)
_CDC_ROWS_SCHEMA = "doc_id bigint, chunk_id bigint, n_tokens bigint, fp bigint"

#: DuckDB replay of the chunker: token hashes → boundary-prefix-count
#: chunk ids → per-chunk Horner fingerprint (same constants as
#: doc_fingerprint, segmented).
_SQL_CHUNKS = f"""
    t AS (
        SELECT doc_id, d.pos, (string_split(text, ' '))[d.pos] AS tk
        FROM documents,
             LATERAL (SELECT unnest(range(1, len(string_split(text, ' ')) + 1))
                      AS pos) d
    ),
    th AS (SELECT doc_id, pos, {X.sql_char_poly_hash('tk')} AS h FROM t),
    c AS (
        SELECT doc_id, pos, h,
               coalesce(sum(CASE WHEN h % {_CDC_MOD} = 0 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0)::BIGINT AS chunk_id
        FROM th
    ),
    chunks AS (
        SELECT doc_id, chunk_id, CAST(count(*) AS BIGINT) AS n_tokens,
               list_reduce(list_prepend(0::BIGINT, list(h ORDER BY pos)),
                           (a, v) -> (a * 131 + v) % {X.POLY_P}) AS fp
        FROM c GROUP BY doc_id, chunk_id
    )
"""


def _chunk_df(spark: SparkSession, sf_dir: str, widen: bool = False) -> DataFrame:
    # mapInPandas (flat chunk rows straight out of the numpy pass)
    # instead of pandas_udf + explode: the array-of-struct return
    # forced a per-doc Python list build and a JVM explode of the
    # nested column — pure overhead at any scale. Column-pruned scan.
    #
    # widen=False keeps the pass strictly row-local (zero shuffle —
    # t_cdc_chunks pins that plan); consumers that shuffle anyway
    # (the dedup rollup) pass widen=True so a single-split local scan
    # parallelizes the Arrow pass — bytes-aware, a no-op on any
    # multi-split input (io.spread).
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    if widen:
        docs = spread(docs)
    return docs.mapInPandas(_cdc_chunk_rows, schema=_CDC_ROWS_SCHEMA)


@register(
    "t_cdc_chunks",
    oracle=f"WITH {_SQL_CHUNKS} SELECT doc_id, chunk_id, n_tokens, fp FROM chunks",
    tags=("llm", "chunking"),
)
def t_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking: split every document at tokens whose
    hash ≡ 0 (mod 32) and fingerprint each chunk (see
    ``fast_text.make_cdc_chunk_rows_mapper``). Row-local Arrow pass —
    zero shuffle at any corpus size; boundaries follow content, so
    edits shift only their own chunk."""
    return _chunk_df(spark, sf_dir)


@register(
    "d_chunk_dedup",
    oracle=f"""
WITH {_SQL_CHUNKS}
SELECT fp, CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(max(n_tokens) AS BIGINT) AS n_tokens
FROM chunks GROUP BY fp HAVING count(DISTINCT doc_id) > 1
""",
    tags=("llm", "chunking", "dedup"),
)
def d_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup: chunks whose fingerprint recurs across
    documents — the sub-document granularity that catches shared
    boilerplate exact doc-dedup misses. The chunker is row-local; the
    only shuffle carries (fp, doc_id) digests, the canonical
    digest-groupBy dedup plan one level down. Two-level rollup instead
    of count(*) + countDistinct in one agg: mixing distinct and
    non-distinct aggregates plans an Expand that replicates every
    input row per grouping set before the exchange — the (fp, doc_id)
    partial first, then the fp rollup, ships each digest once."""
    per_doc = (
        _chunk_df(spark, sf_dir, widen=True)
        .groupBy("fp", "doc_id")
        .agg(F.count("*").alias("c"), F.max("n_tokens").alias("t"))
    )
    return (
        per_doc.groupBy("fp")
        .agg(
            F.sum("c").alias("n_occurrences"),
            F.count("*").alias("n_docs"),
            F.max("t").alias("n_tokens"),
        )
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


@register(
    "mm_features",
    oracle=f"""
SELECT doc_id AS media_id,
       octet_length(encode(text)) AS byte_len,
       array_to_string(list_transform(range(0, {M.FEATURE_DIM}),
           i -> ((octet_length(encode(text)) * (i + 7)) % 256)::VARCHAR),
           ',') AS features_csv
FROM documents
""",
    tags=("llm", "multimodal"),
)
def mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column media path end-to-end: text→binary payload adapter
    → Arrow-batched mapInPandas feature extraction (decoder stubbed,
    plumbing real — see operators/multimodal.py).

    The feature vector is emitted comma-joined (its components are
    exact small integers) — scalar columns only for the value-hash
    gate; the operator itself returns the array."""
    docs = load_table(spark, sf_dir, "documents")
    feats = M.extract_features(M.documents_as_media(docs))
    return feats.select(
        "media_id",
        "byte_len",
        F.array_join(
            F.expr(
                "transform(features, x -> cast(cast(x AS bigint) AS string))"
            ),
            ",",
        ).alias("features_csv"),
    )


@register(
    "mm_phash_dedup",
    oracle=f"""
WITH ph AS (
    SELECT doc_id AS media_id, ({M.sql_payload_ahash('text')}) AS fp
    FROM documents
),
{_sql_hamming_pairs("ph", "media", "fp", M.AHASH_BITS, 4)}
""",
    tags=("llm", "multimodal", "dedup"),
)
def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-media detection over the binary payload column:
    56-bit fingerprint per asset, 4×14-bit band blocking, popcount
    verify — the exact pipeline a perceptual-hash image dedup runs at
    100 TB (the fingerprint here is a byte-exact stand-in because the
    container has no image decoder; see
    operators/multimodal.payload_fingerprints). The oracle replays the
    identical folds over the text the payload encodes."""
    media = M.documents_as_media(load_table(spark, sf_dir, "documents"))
    # the fingerprint frame feeds both join sides: materialized, the
    # aHash UDF runs once per asset, in the checkpoint's own pass
    fps = materialize(M.payload_fingerprints(media))
    return M.fingerprint_near_pairs(fps, max_hamming=4)


# ---------------------------------------------------------------------------
# BPE-ish subword token counting (north-star text analysis: whitespace
# + a BPE-ish regex). Same regex class semantics in Java regex / RE2.
# ---------------------------------------------------------------------------

_BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@register(
    "t_bpe_tokens",
    oracle=f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{_BPE_RE}')) AS n_subwords,
       CASE WHEN length(text) = 0 THEN 0
            ELSE len(string_split(text, ' ')) END AS n_whitespace,
       len(list_filter(regexp_extract_all(text, '{_BPE_RE}'),
                       t -> length(t) >= 4)) AS n_long
FROM documents
""",
    tags=("llm", "text", "tokenize"),
)
def t_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword-style token counts via a BPE-ish regex (letter runs /
    digit runs / single punctuation) next to whitespace counts."""
    # the regexp runs once per doc: ``sub`` is projected first, and
    # CollapseProject keeps a non-cheap expression that is read twice
    # in its own projection instead of inlining it into both counts
    return (
        load_table(spark, sf_dir, "documents")
        .selectExpr(
            "doc_id", "text", f"regexp_extract_all(text, '{_BPE_RE}', 0) AS sub"
        )
        .selectExpr(
            "doc_id",
            "size(sub) AS n_subwords",
            # X.token_count, spelled in SQL
            "CASE WHEN length(text) = 0 THEN 0 ELSE size(split(text, ' ')) END"
            " AS n_whitespace",
            "size(filter(sub, x -> length(x) >= 4)) AS n_long",
        )
    )


@register(
    "t_bpe_merges",
    oracle=f"""
WITH sub AS (
    SELECT regexp_extract_all(text, '{_BPE_RE}') AS s FROM documents
),
p AS (
    SELECT concat(s[i], ' ', s[i + 1]) AS pair
    FROM sub, LATERAL (SELECT unnest(range(1, len(s))) AS i) d
)
SELECT pair, CAST(count(*) AS BIGINT) AS n
FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 100
""",
    tags=("llm", "text", "topk"),
)
def t_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge induction, step one: corpus-wide adjacent subword-pair
    frequencies, top-100 — the statistic a tokenizer trainer greedily
    merges on. (Full BPE training iterates this with re-segmentation;
    one iteration is the distributed-cost shape, the loop is driver
    logic.)

    Pair formation is row-local (zip of two array slices); the only
    exchange carries (pair, partial count) after map-side combine, and
    the top-100 is TakeOrderedAndProject — the canonical word-count
    plan at any corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    sub = F.regexp_extract_all("text", F.lit(_BPE_RE), 0)
    pairs = F.zip_with(
        F.slice(sub, 1, F.greatest(F.size(sub) - 1, F.lit(0))),
        F.slice(sub, 2, F.greatest(F.size(sub) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        docs.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Signed-random-projection (SRP) LSH codes over embeddings — the
# bucketed ANN scale path beside the IVF variant. Hyperplanes are ±1
# vectors derived from a deterministic integer mix, so DuckDB replays
# the identical arithmetic (sequential double fold per plane).
# ---------------------------------------------------------------------------

_SRP_PLANES = 16


def _srp_weight_sql(j: int) -> str:
    # ±1 from bit 16 of a Knuth multiplicative hash of (plane, dim).
    # NB: parity of any linear mix is itself linear in (j, d) — it
    # collapses all planes onto 2 distinct hyperplanes (observed: all
    # 500 vectors in 2 buckets). A middle bit of a multiplicative
    # hash is properly mixed.
    return (
        f"(((((({j} * 65537) + d + 1) * 2654435761) % 4294967296 >> 16) & 1) "
        "* 2 - 1)"
    )


def _srp_code_sql(planes: int) -> tuple[str, str]:
    """DuckDB twin of make_srp_udf(planes, 64) over `embedding`: the
    comma-joined per-plane dot folds (to be bound as `dots`) and the
    packed code expression over `dots` (same fold order as the UDF)."""
    dots = ", ".join(
        "list_reduce(list_prepend(0.0::DOUBLE, "
        "list_transform(range(0, 64), d -> "
        f"{_srp_weight_sql(j)} * embedding[d + 1]::DOUBLE)), "
        "(acc, v) -> acc + v)"
        for j in range(planes)
    )
    code = " + ".join(
        f"(CASE WHEN dots[{j + 1}] > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(planes)
    )
    return dots, code


_SRP_DOTS, _SRP_CODE = _srp_code_sql(_SRP_PLANES)
_SRP_TOPK_DOTS, _SRP_TOPK_CODE = _srp_code_sql(6)


@register(
    "s_srp_codes",
    oracle=f"""
WITH proj AS (
    SELECT vec_id, label, [{_SRP_DOTS}] AS dots
    FROM embeddings
)
SELECT vec_id, label,
       CAST({_SRP_CODE} AS BIGINT) AS srp_code
FROM proj
""",
    tags=("llm", "similarity", "lsh"),
)
def s_srp_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SRP-LSH code per embedding: sign of the dot product with
    16 deterministic ±1 hyperplanes, packed into a bucket key. At
    scale the table is bucketed by this code and ANN probes one (or a
    few hamming-adjacent) buckets instead of scanning all vectors.
    Arrow-vectorized (1024 interpreted HOF folds per row otherwise);
    the oracle SQL is the semantic spec."""
    from baronbatch_etl_spark.operators.fast_text import make_srp_udf

    e = load_table(spark, sf_dir, "embeddings")
    srp = make_srp_udf(_SRP_PLANES, 64)
    return e.select(
        "vec_id", "label", srp(F.col("embedding")).alias("srp_code")
    )


@register(
    "s_srp_topk",
    oracle=f"""
WITH coded AS (
    SELECT vec_id, label, embedding, CAST({_SRP_TOPK_CODE} AS BIGINT) AS code
    FROM (SELECT vec_id, label, embedding, [{_SRP_TOPK_DOTS}] AS dots
          FROM embeddings)
),
q AS (SELECT embedding AS q_emb, code AS q_code FROM coded WHERE vec_id = 0)
SELECT vec_id, label, {S.sql_cosine("embedding", "q_emb")} AS cos_sim
FROM coded, q
WHERE vec_id <> 0 AND bit_count(xor(code, q_code)) <= 1
ORDER BY cos_sim DESC, vec_id
LIMIT 10
""",
    tags=("llm", "similarity", "lsh"),
)
def s_srp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe SRP-LSH ANN: hamming-≤1 bucket probe on a 6-plane
    code, exact-cosine re-rank — the LSH-bucketed scale path beside
    s_ivf_topk (at 100 TB the table is bucketed by code and only the
    probed buckets are scanned)."""
    return S.srp_topk(
        load_table(spark, sf_dir, "embeddings"), 0, k=10, planes=6, radius=1
    )


@register(
    "mm_frame_sample",
    oracle="""
SELECT doc_id AS media_id,
       n_chars * 40 AS duration_ms,
       array_to_string(list_transform(range(0, 4),
           i -> ((i * (n_chars * 40)) // 4)::VARCHAR), ',')
       AS frame_offsets_csv
FROM documents
""",
    tags=("llm", "multimodal"),
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plan over media metadata (durations synthesized
    from n_chars since the fixtures carry no real video; the offset
    math is the real distributed step, decode stays stubbed).
    Offsets comma-joined — scalar columns only for the hash gate."""
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.struct(
            F.lit("video/mp4").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            (F.col("n_chars") * 40).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )
    out = M.frame_sample_offsets(media, n_frames=4)
    return out.select(
        "media_id",
        "duration_ms",
        F.array_join(
            F.expr("transform(frame_offsets_ms, x -> cast(x AS string))"),
            ",",
        ).alias("frame_offsets_csv"),
    )


@register(
    "mm_audio_stats",
    oracle="""
SELECT doc_id AS media_id,
       8000 AS sample_rate,
       1 AS n_channels,
       CAST(8 AS BIGINT) AS duration_ms,
       sqrt((amp * amp + (amp // 2) * (amp // 2)) / 2.0) AS rms_0
FROM (SELECT doc_id, 100 + doc_id % 900 AS amp FROM documents)
""",
    tags=("llm", "multimodal", "audio"),
)
def mm_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio modality end to end, oracle-checked: synthesize a
    deterministic mono WAV per document (samples alternate +amp /
    −(amp//2), amp = 100 + doc_id % 900), run the real stdlib decode
    + RMS extraction (operators/multimodal.extract_audio_features),
    and compare against the closed-form RMS sqrt((amp²+(amp//2)²)/2)
    — both sides one correctly-rounded IEEE sqrt, bit-stable.

    Unlike mm_features (length-derived fake features), every byte of
    this path is real: wave encode, RIFF parse, PCM decode, float64
    RMS — the plumbing a 100 TB audio corpus runs per Arrow batch,
    minus only the compressed-codec library."""
    docs = load_table(spark, sf_dir, "documents")
    synth = M.make_wav_synth_udf()
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        synth((F.lit(100) + F.col("doc_id") % 900).cast("int")).alias(
            "payload"
        ),
        F.lit(None).cast(M.MEDIA_META).alias("meta"),
    )
    return M.extract_audio_features(media).select(
        "media_id",
        "sample_rate",
        "n_channels",
        "duration_ms",
        F.element_at("rms", 1).alias("rms_0"),
    )


@register(
    "mm_resize_stats",
    oracle="""
SELECT doc_id AS media_id,
       4 AS target_w,
       4 AS target_h,
       list_sum(flatten(list_transform(range(0, 4), i ->
           list_transform(range(0, 4), j ->
               (7 * ((j * w) // 4) + 13 * ((i * h) // 4)) % 256))))
       / 16.0 AS px_mean
FROM (SELECT doc_id,
             8 + doc_id % 5 AS w,
             6 + doc_id % 3 AS h
      FROM documents)
""",
    tags=("llm", "multimodal", "image"),
)
def mm_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize end to end, oracle-checked: synthesize a gradient
    grayscale PNG per document (pixel = (7x+13y) mod 256, dimensions
    derived from doc_id), run the real stdlib decode + nearest-
    neighbor resize to 4×4 (operators/multimodal.resize_nn), and
    compare the resized pixel mean against the closed-form replay of
    the floor-sampling convention in SQL. Division by the fixed 16-
    pixel target is exact in float64 — hash-stable.

    With mm_audio_stats this closes the decode loop for both media
    families: every byte of the PNG path (zlib, filters, resize
    kernel) executes in both engines' gate."""
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        M.synth_gradient_png(
            (F.lit(8) + F.col("doc_id") % 5).cast("int"),
            (F.lit(6) + F.col("doc_id") % 3).cast("int"),
        ).alias("payload"),
        F.lit(None).cast(M.MEDIA_META).alias("meta"),
    )
    return M.resized_pixel_stats(media, tw=4, th=4)


@register(
    "mm_pixel_ahash",
    oracle="""
WITH px AS (
    SELECT doc_id,
           list_transform(range(0, 56), k ->
               (7 * (((k % 8) * (8 + doc_id % 5)) // 8)
                + 13 * (((k // 8) * (6 + doc_id % 3)) // 7)) % 256
           ) AS cells
    FROM documents
)
SELECT doc_id AS media_id,
       list_sum(list_transform(range(0, 56), k ->
           CASE WHEN cells[k + 1] > list_sum(cells) / 56.0
                THEN (1::BIGINT << k) ELSE 0::BIGINT END))::BIGINT AS ahash
FROM px
""",
    tags=("llm", "multimodal", "image", "fingerprint"),
)
def mm_pixel_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE perceptual average-hash, oracle-checked end to end: the
    per-document gradient PNG decodes through the stdlib reference
    decoder, downsamples 8×7 by floor-sampled nearest neighbor, and
    thresholds each cell against the 56-cell mean
    (operators/multimodal.pixel_ahash). The oracle replays the whole
    chain in closed form — pixel(x,y) = (7x+13y) mod 256, NN index
    arithmetic, exact integer cells vs one float mean. This is the
    fingerprint mm_phash_dedup's banded blocking consumes in a real
    image deployment; here every byte of the pixel path runs in both
    engines' gate."""
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        M.synth_gradient_png(
            (F.lit(8) + F.col("doc_id") % 5).cast("int"),
            (F.lit(6) + F.col("doc_id") % 3).cast("int"),
        ).alias("payload"),
    )
    return media.select(
        "media_id", M.pixel_ahash(F.col("payload")).alias("ahash")
    )


# ---------------------------------------------------------------------------
# Substring-level and incremental dedup
# ---------------------------------------------------------------------------


@register(
    "d_span_dedup",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
spans AS (
  SELECT doc_id, array_to_string(list_slice(t, i + 1, i + 8), ' ') AS span
  FROM toks, LATERAL unnest(range(0, greatest(len(t) - 7, 0))) AS u(i)
)
SELECT span,
       count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_occ
FROM spans
GROUP BY span
HAVING count(DISTINCT doc_id) >= 2
""",
    tags=("llm", "dedup", "span"),
)
def d_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated 8-token spans across documents — the
    suffix-array-style substring dedup signal (which spans would a
    span-level deduper cut). Row-local explode, one groupBy shuffle;
    see operators/dedup.repeated_spans for the 100 TB hashing note."""
    docs = load_table(spark, sf_dir, "documents")
    return D.repeated_spans(docs, k=8, min_docs=2)


def _bloom_sql() -> str:
    h1 = X.sql_char_poly_hash("text")
    h2 = X.sql_char_poly_hash131("text")
    bits, word, k = D.BLOOM_BITS, D.BLOOM_WORD, D.BLOOM_K
    return f"""
WITH hashes AS (
  SELECT doc_id, text, {h1} AS h1, {h2} AS h2,
         doc_id % 10 = 7 AS is_batch
  FROM documents
),
probes AS (
  SELECT doc_id, is_batch, (h1 + i * h2) % {bits} AS pos
  FROM hashes, LATERAL unnest(range(1, {k + 1})) AS u(i)
),
bloom AS (
  SELECT pos // {word} AS wrd,
         bit_or(1::BIGINT << CAST(pos % {word} AS INT)) AS bits
  FROM probes WHERE NOT is_batch GROUP BY 1
),
hits AS (
  SELECT p.doc_id,
         bool_and(coalesce(
           (b.bits & (1::BIGINT << CAST(p.pos % {word} AS INT))) != 0,
           false)) AS bloom_hit
  FROM probes p LEFT JOIN bloom b ON p.pos // {word} = b.wrd
  WHERE p.is_batch GROUP BY 1
)
SELECT h.doc_id, ph.bloom_hit,
       h.text IN (SELECT text FROM hashes WHERE NOT is_batch) AS exact_dup
FROM hashes h JOIN hits ph ON ph.doc_id = h.doc_id
WHERE h.is_batch
"""


@register(
    "d_bloom_dedup",
    oracle=_bloom_sql(),
    tags=("llm", "dedup", "bloom", "incremental"),
)
def d_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a new batch against the standing corpus
    via a broadcast Bloom filter — no O(corpus) join per batch.

    Split: doc_id % 10 == 7 plays the incoming batch, the rest the
    corpus. Emits per batch doc: bloom_hit (possibly-duplicate — the
    map-only Bloom verdict) and exact_dup (ground truth via a digest
    join) — bloom_hit must never be false when exact_dup is true
    (no false negatives), which the oracle enforces bit-for-bit.

    Scale: the ground-truth side joins 8-byte ``xxhash64(text)``
    digests of the distinct corpus texts with NO broadcast hint —
    AQE broadcasts while the digest set is small and falls back to a
    shuffle join on the fixed-width keys at corpus scale (a real
    pipeline retains exactly this digest set between batches). The
    Bloom path itself stays map-only against the ≤1024-word filter.
    """
    docs = load_table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % 10 == 7
    corpus = docs.filter(~is_batch)
    batch = docs.filter(is_batch).select("doc_id", "text")
    bloom = D.bloom_build(corpus, key="text")
    probed = D.bloom_probe(batch, bloom, key="text")
    corpus_digests = (
        corpus.select(F.xxhash64("text").alias("_digest"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return (
        probed.withColumn("_digest", F.xxhash64("text"))
        .join(corpus_digests, "_digest", "left")
        .select(
            "doc_id",
            "bloom_hit",
            F.coalesce(F.col("_dup"), F.lit(False)).alias("exact_dup"),
        )
    )


@register(
    "t_tfidf",
    oracle="""
WITH tf AS (
  SELECT doc_id, token, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents)
  GROUP BY doc_id, token
),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
         CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df AS weight
  FROM tf JOIN dfreq USING (token), n
)
SELECT doc_id, token AS top_term, tf, df, weight
FROM (SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY weight DESC, token) AS rn
      FROM scored)
WHERE rn = 1
""",
    tags=("llm", "text", "tfidf"),
)
def t_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top TF-IDF term from corpus-wide document
    frequencies — the classic corpus-statistics join (keyword
    extraction / salient-term indexing).

    Weight is the exact rational tf·N/df in one IEEE multiply+divide
    (no transcendental idf — ln() rounds differently across engines,
    tf·N/df is bit-identical and order-equivalent for ranking).

    Plan: explode → (doc, token) partial-agg; vocabulary DF reuses
    that aggregate (no second corpus scan); the vocab join is
    AQE-broadcast here and falls back to a token-keyed shuffle join
    when the vocabulary outgrows the broadcast threshold at 100 TB.
    N comes from a broadcast 1-row scalar, never a driver collect.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .join(F.broadcast(n))  # 1-row scalar: BNLJ-over-keyless-agg shape
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df"))
            .alias("weight"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("weight").desc(), F.col("token")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id", F.col("token").alias("top_term"), "tf", "df", "weight"
        )
    )


@register(
    "s_dim_stats",
    oracle="""
WITH ex AS (
  SELECT d.dim - 1 AS dim, CAST(embedding[d.dim] AS DOUBLE) AS v
  FROM embeddings,
       LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS dim) d
),
agg AS (
  SELECT dim, count(*) AS n,
         (CAST(sum(CAST(floor(v * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
            / 1000000000.0) / count(*) AS mean,
         (CAST(sum(CAST(floor(v * v * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
            / 1000000000.0) / count(*) AS m2,
         min(v) AS vmin, max(v) AS vmax
  FROM ex GROUP BY dim
)
SELECT dim, n, mean, m2 - mean * mean AS var, vmin, vmax FROM agg
""",
    tags=("llm", "similarity", "stats"),
)
def s_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics (quantization calibration /
    whitening input). Fixed-point moments — see operators/similarity
    .dim_stats for the portability discipline."""
    return S.dim_stats(load_table(spark, sf_dir, "embeddings"))


@register(
    "d_lsh_recall",
    oracle=f"""
WITH {_minhash_ctes("(SELECT * FROM documents WHERE doc_id % 3 = 0) d")},
exact AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.hs, b.hs)) * 1.0
          / len(list_distinct(list_concat(a.hs, b.hs))) >= 0.8
)
SELECT (SELECT count(*) FROM exact) AS n_exact,
       (SELECT count(*) FROM pairs) AS n_lsh,
       CAST((SELECT count(*) FROM pairs) AS DOUBLE)
         / (SELECT count(*) FROM exact) AS recall
""",
    tags=("llm", "dedup", "lsh", "recall"),
)
def d_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH recall@τ on a held-out sample: what fraction of the TRUE
    near-dup pairs (exact 3-gram Jaccard ≥ 0.8) does the banded
    MinHash-LSH surface? The dedup twin of s_ivf_recall — the number
    you watch when tuning bands×rows.

    The probe runs on the deterministic ``doc_id % 3 = 0`` stratum:
    exact all-pairs ground truth is quadratic, so at corpus scale you
    measure recall on a fixed sample — the estimate is unbiased
    because banding decisions are per-doc-pair, and the sampled pair
    space costs ~9× less than the full corpus here (quadratically
    more at 100 TB). Ground truth itself comes from the lossless
    prefix-filtered exact join (no language/length blocking: one
    synthetic block, unbounded char delta), NOT an O(n²) probe.
    LSH-verified pairs use the same shingle definition and threshold,
    so LSH ⊆ exact and recall = n_lsh / n_exact (the fixtures seed
    near-dup pairs inside the stratum at every sf).
    """
    sub = _doc_signatures(spark, sf_dir).filter(F.col("doc_id") % 3 == 0)
    exact = D.ngram_jaccard_pairs(
        # one synthetic language block — row-local on the staged scan
        sub.withColumn("lang", F.lit("_")),
        threshold=0.8,
        max_char_delta=1 << 40,
    )
    # the stratum filter is row-local in the fixture's columns, so
    # both the exact and the LSH side read the same staged scan
    lsh = D.minhash_lsh_pairs(sub, threshold=0.8)
    n_exact = exact.agg(F.count("*").alias("n_exact"))
    n_lsh = lsh.agg(F.count("*").alias("n_lsh"))
    return (
        n_exact.join(F.broadcast(n_lsh))  # 1-row × 1-row scalar join
        .select(
            "n_exact",
            "n_lsh",
            (F.col("n_lsh").cast("double") / F.col("n_exact")).alias(
                "recall"
            ),
        )
    )


# ---------------------------------------------------------------------------
# BM25 retrieval scoring
# ---------------------------------------------------------------------------

#: Fixed query terms for the retrieval benchmark (mid-frequency
#: fixture vocabulary — every term occurs, none is universal).
_BM25_TERMS: tuple[str, ...] = ("join", "window", "hash")


@register(
    "t_bm25",
    oracle=f"""
WITH dl AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
  FROM documents
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(CAST(dl AS BIGINT)) AS DOUBLE) / count(*) AS avgdl
  FROM dl
),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents)
  WHERE token IN ('join', 'window', 'hash')
  GROUP BY doc_id, token
),
dfreq AS (
  SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY token
),
scored AS (
  SELECT tf.doc_id,
         CAST(floor(
           (((s.n_docs - d.df + 0.5) / (d.df + 0.5))
            * ((tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * (l.dl / s.avgdl)))))
           * 1000000000.0 + 0.5) AS BIGINT) AS fp
  FROM tf
  JOIN dfreq d USING (token)
  JOIN dl l USING (doc_id), stats s
)
SELECT doc_id, CAST(sum(fp) AS DOUBLE) / 1000000000.0 AS bm25
FROM scored
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT 20
""",
    tags=("llm", "text", "retrieval"),
)
def t_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents for a fixed term query under BM25 scoring
    (k1=1.2, b=0.75) — the retrieval ranking a corpus-curation
    pipeline uses for quality probes and nearest-neighbour text
    search over token statistics.

    Portability discipline (same rules as t_tfidf / s_dim_stats):
    the idf is the rational (N-df+0.5)/(df+0.5) core WITHOUT the
    ln() wrap — log implementations differ in the last ulp across
    engines, and dropping a per-term monotone transform preserves
    each term's ranking while keeping every arithmetic step an IEEE
    operation both engines evaluate bit-identically. Per-term scores
    are fixed-pointed to BIGINT before the per-doc sum, so the
    reduction is order-independent (executor-order-safe) and
    oracle-exact.

    Plan at scale: the term filter lands right after the explode
    (map-side, before any shuffle), so the (doc, token) aggregate
    only carries query-term hits; df (|terms| rows) and the corpus
    scalars broadcast; the final top-20 is TakeOrderedAndProject —
    no global sort. 100 TB cost = one corpus scan + a tiny agg.
    """
    return (
        _bm25_scores(load_table(spark, sf_dir, "documents"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


def _bm25_scores(docs: DataFrame) -> DataFrame:
    """Unlimited (doc_id, bm25) score frame for the fixed query terms
    — shared by `t_bm25` (top-20) and `s_hybrid_rrf` (rank fusion).
    Arithmetic contract documented on t_bm25."""
    dl = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("double").alias("dl"),
    )
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        (
            F.sum(F.col("dl").cast("bigint")).cast("double")
            / F.count("*")
        ).alias("avgdl"),
    )
    tf = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("token")
        )
        .filter(F.col("token").isin(*_BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(
        F.count("*").cast("double").alias("df")
    )
    score = (
        ((F.col("n_docs") - F.col("df") + F.lit(0.5))
         / (F.col("df") + F.lit(0.5)))
        * ((F.col("tf") * F.lit(2.2))
           / (F.col("tf")
              + F.lit(1.2)
              * (F.lit(0.25)
                 + F.lit(0.75) * (F.col("dl") / F.col("avgdl")))))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))  # 1-row corpus stats scalar
        .select(
            "doc_id",
            F.floor(score * F.lit(1000000000.0) + F.lit(0.5))
            .cast("bigint")
            .alias("fp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        (F.sum("fp").cast("double") / F.lit(1000000000.0)).alias("bm25")
    )


@register(
    "d_semantic_dedup",
    oracle=f"""
WITH pairs AS (
  SELECT b.vec_id AS vec_b
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE {S.sql_cosine("a.embedding", "b.embedding")} >= 0.3
)
SELECT e.vec_id, e.label
FROM embeddings e
WHERE e.vec_id NOT IN (SELECT vec_b FROM pairs)
""",
    tags=("llm", "dedup", "similarity", "semdedup"),
)
def d_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: drop every vector that has a
    lower-id near-neighbour (cosine ≥ 0.3) inside its coarse cell,
    keep the rest — the embedding-space twin of the corpus keep-one
    pass (t_corpus_dedup), downstream of the same blocked pair
    generator as d_embedding_neardup.

    Keep rule is the greedy lowest-id survivor (a vector dies iff
    some smaller-id vector scores ≥ τ against it) — deterministic,
    engine-portable, and one anti-join over the pair list; full
    transitive-closure grouping is the d_dup_clusters machinery and
    costs iterative joins, which SemDeDup's within-cluster pruning
    doesn't need.

    Scale: pair space is blocked per cell (sub-quadratic, hot cells
    salted — see embedding_near_dup_pairs); the drop list is ≤ the
    pair count, usually ≪ corpus, so the anti-join broadcasts. No
    full-corpus shuffle at any stage.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = S.embedding_near_dup_pairs(emb, threshold=0.3)
    drop = pairs.select(F.col("vec_b").alias("vec_id")).distinct()
    return emb.join(F.broadcast(drop), "vec_id", "left_anti").select(
        "vec_id", "label"
    )


# ---------------------------------------------------------------------------
# Iterative clustering (coarse-quantizer training)
# ---------------------------------------------------------------------------

_KM_K = 8

_SQL_KM_SEEDS = f"""
    seeds AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
                   AS cid,
               embedding AS c
        FROM (SELECT vec_id, embedding FROM embeddings
              ORDER BY vec_id LIMIT {_KM_K})
    )
"""


@register(
    "s_kmeans_assign",
    # Lloyd's algorithm unrolls exactly: each round is an
    # assign-by-argmin CTE plus a fixed-point centroid CTE, so two
    # rounds of the engine's iterative operator hash-match a purely
    # declarative twin.
    oracle=f"""
WITH {_SQL_KM_SEEDS},
d1 AS (
    SELECT e.vec_id, e.embedding, s.cid,
           {S.sql_sqdist("e.embedding", "s.c")} AS dist
    FROM embeddings e CROSS JOIN seeds s
),
a1 AS (
    SELECT vec_id, embedding, cid AS cluster FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cid) AS rn
        FROM d1) WHERE rn = 1
),
ex AS (
    SELECT cluster, d.dim, embedding[d.dim] AS v
    FROM a1, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS dim) d
),
m AS (
    SELECT cluster, dim,
           {S.sql_fixed_mean("v")} AS c
    FROM ex GROUP BY cluster, dim
),
c2 AS (SELECT cluster AS cid, list(c ORDER BY dim) AS c FROM m
       GROUP BY cluster),
d2 AS (
    SELECT e.vec_id, s.cid, {S.sql_sqdist("e.embedding", "s.c")} AS dist
    FROM embeddings e CROSS JOIN c2 s
)
SELECT vec_id, cid AS cluster, dist FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist, cid) AS rn
    FROM d2) WHERE rn = 1
""",
    tags=("llm", "similarity", "kmeans", "iterative"),
)
def s_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd rounds of k-means (k=8) over the embedding corpus —
    the trainer that PRODUCES the coarse cell ids every blocked
    similarity/dedup query consumes (`s_ivf_topk` cells,
    `d_embedding_neardup` / `d_semantic_dedup` blocking).

    Assignment is a map-only codegen pass (centroids are literals in
    the plan); each M-step is one k·dim-group shuffle; driver state
    per round is k·dim scalars — MLlib's KMeans shape, exact under
    the fixed-point discipline (see ``S.kmeans_assign``)."""
    return S.kmeans_assign(
        load_table(spark, sf_dir, "embeddings"), k=_KM_K, iters=2
    )


@register(
    "t_eval_sample",
    # exact-k per stratum: rank by the engine-portable Knuth hash
    # (doc_id tiebreak) inside each lang, keep the first 20
    oracle="""
SELECT doc_id, lang, h FROM (
    SELECT doc_id, lang, h,
           row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
    FROM (SELECT doc_id, lang,
                 (doc_id * 2654435761) % 4294967296 AS h
          FROM documents)
) WHERE rn <= 20
""",
    tags=("llm", "sample", "window"),
)
def t_eval_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic EXACT-k stratified sample (k=20 per language) —
    eval/holdout-set construction. Ranking by a multiplicative hash of
    the key gives a pseudorandom but reproducible pick: the same rows
    survive across engines, reruns, and repartitionings, and (unlike
    rate-based t_hash_sample) the stratum size is exactly k.

    Scale: rank ≤ k over a window compiles to WindowGroupLimit —
    per-partition partial top-k BEFORE the exchange, so the shuffle
    carries ≤ k rows per stratum per input partition, not the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    h = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        docs.select("doc_id", "lang", h.alias("h"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "lang", "h")
    )


@register(
    "s_mips_topk",
    oracle=f"""
WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label, {S.sql_dot("embedding", "q_emb")} AS ip
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY ip DESC, vec_id
LIMIT 10
""",
    tags=("llm", "similarity"),
)
def s_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact maximum-inner-product top-10 against stored vector 0 —
    the metric recommender/retrieval scorers actually rank by when
    embedding magnitude carries signal (cosine normalizes it away).
    Broadcast query row, map-only sequential-fold dot products,
    TakeOrderedAndProject top-k; the approximate 100 TB path is
    S.augment_mips (norm augmentation makes MIPS ≡ cosine, property-
    tested) feeding the existing SRP/IVF indexes.
    """
    return S.mips_topk(load_table(spark, sf_dir, "embeddings"), 0, 10)


_PQ_M, _PQ_K, _PQ_W = 4, 4, 16

#: Per-session memo of the trained PQ state (codebooks, dim) shared by
#: the four PQ queries below. Training is deterministic fixed-point
#: Lloyd with driver state of k·dim scalars (S.pq_train_state), so the
#: memoized tuple is bit-identical to retraining — and training once
#: per corpus is how a PQ index actually deploys (FAISS trains, then
#: every encode/search reuses the codebooks). Keyed by applicationId:
#: a fresh JVM retrains.
_PQ_STATE: dict[tuple[str, str], tuple] = {}


def _pq_trained(spark: SparkSession, sf_dir: str) -> tuple:
    key = (spark.sparkContext.applicationId, sf_dir)
    state = _PQ_STATE.get(key)
    if state is None:
        state = S.pq_train_state(
            load_table(spark, sf_dir, "embeddings"),
            m=_PQ_M,
            k=_PQ_K,
            iters=2,
        )
        _PQ_STATE[key] = state
    return state


def _pq_train_ctes() -> str:
    """The per-subspace Lloyd training chain up to the trained codebooks
    ``c2(sub, cid, c)``: ``sub`` slices every vector into its
    ``_PQ_M`` subspaces, the ``_PQ_K`` lowest vec_ids seed each
    subspace, one assign-by-argmin round (``d1``/``a1``) and one
    fixed-point M-step (``mstep``) — the SQL twin of
    ``S.pq_train_state(iters=2)``. Shared by the encode oracle and the
    ADC-search oracles (:func:`_pq_adc_ctes`)."""
    return f"""sub AS (
    SELECT vec_id, s.sub,
           embedding[s.sub*{_PQ_W}+1 : s.sub*{_PQ_W}+{_PQ_W}] AS v
    FROM embeddings,
         LATERAL (SELECT unnest(range(0, {_PQ_M})) AS sub) s
),
seeds AS (
    SELECT sub, CAST(rn - 1 AS INTEGER) AS cid, v AS c FROM (
        SELECT sub, v,
               row_number() OVER (PARTITION BY sub ORDER BY vec_id) AS rn
        FROM sub) WHERE rn <= {_PQ_K}
),
d1 AS (
    SELECT t.vec_id, t.sub, t.v, s.cid, {S.sql_sqdist("t.v", "s.c")} AS dist
    FROM sub t JOIN seeds s ON t.sub = s.sub
),
a1 AS (
    SELECT vec_id, sub, v, cid AS cluster FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                     ORDER BY dist, cid) AS rn
        FROM d1) WHERE rn = 1
),
ex AS (
    SELECT sub, cluster, d.dim, v[d.dim] AS vf
    FROM a1, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS dim) d
),
mstep AS (
    SELECT sub, cluster, dim,
           {S.sql_fixed_mean("vf")} AS c
    FROM ex GROUP BY sub, cluster, dim
),
c2 AS (SELECT sub, cluster AS cid, list(c ORDER BY dim) AS c
       FROM mstep GROUP BY sub, cluster)"""


@register(
    "s_pq_codes",
    # the 2-round per-subspace Lloyd unrolls exactly like the
    # s_kmeans_assign oracle, with (sub) joining where that one
    # cross-joined — one fused chain for all m subspaces
    oracle=f"""
WITH {_pq_train_ctes()},
d2 AS (
    SELECT t.vec_id, t.sub, s.cid, {S.sql_sqdist("t.v", "s.c")} AS dist
    FROM sub t JOIN c2 s ON t.sub = s.sub
),
a2 AS (
    SELECT vec_id, sub, cid AS cluster, dist FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                     ORDER BY dist, cid) AS rn
        FROM d2) WHERE rn = 1
)
SELECT vec_id,
       array_to_string(list(cluster ORDER BY sub), ',') AS codes_csv,
       list_reduce(list_prepend(0.0::DOUBLE, list(dist ORDER BY sub)),
                   (a, b) -> a + b) AS qdist
FROM a2 GROUP BY vec_id
""",
    tags=("llm", "similarity", "quantization", "iterative"),
)
def s_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (Jégou et al. 2011): 4 subspaces
    × 4 centroids, 2 Lloyd rounds — each vector compresses to 4 small
    codes (the IVF-PQ residual-codebook representation that fits
    billion-vector indexes in RAM; FAISS's default layout) plus its
    reconstruction error. Completes the ANN stack: IVF prunes cells,
    SRP hashes, PQ compresses. See S.pq_encode for the fused one-
    explode training plan and the fixed-point determinism contract.
    The code vector is serialized to CSV (`codes_csv`) — driver
    outputs are scalar-only (registry invariant since round 1).
    """
    coded = S.pq_encode(
        load_table(spark, sf_dir, "embeddings"),
        trained=_pq_trained(spark, sf_dir),
        m=_PQ_M,
    )
    return coded.select(
        "vec_id",
        F.array_join(F.col("codes").cast("array<string>"), ",").alias(
            "codes_csv"
        ),
        "qdist",
    )


def _pq_adc_ctes(cell: bool = False) -> str:
    """The ADC search chain for query vector 0 over the codebooks of
    :func:`_pq_train_ctes` — the SQL twin of ``S.pq_adc_topk``:
    ``qsub`` (the query's subvectors), ``lut`` (query-subvector-to-
    centroid distances), ``d2``/``a2`` (every other vector's code) and
    ``adc(vec_id, adc_dist)`` (its LUT terms folded in subspace
    order). ``cell`` keeps only the query's ``label`` cell (IVF-PQ,
    ``cell_col="label"``)."""
    cellv, cands = "", "WHERE t.vec_id <> 0"
    if cell:
        cellv = """cellv AS (
    SELECT e.vec_id FROM embeddings e
    WHERE e.vec_id <> 0
      AND e.label = (SELECT label FROM embeddings WHERE vec_id = 0)
),
"""
        cands = "JOIN cellv cv ON t.vec_id = cv.vec_id"
    return f"""qsub AS (
    SELECT s.sub, embedding[s.sub*{_PQ_W}+1 : s.sub*{_PQ_W}+{_PQ_W}] AS qv
    FROM embeddings,
         LATERAL (SELECT unnest(range(0, {_PQ_M})) AS sub) s
    WHERE vec_id = 0
),
lut AS (
    SELECT c.sub, c.cid, {S.sql_sqdist("q.qv", "c.c")} AS dq
    FROM c2 c JOIN qsub q ON c.sub = q.sub
),
{cellv}d2 AS (
    SELECT t.vec_id, t.sub, s.cid, {S.sql_sqdist("t.v", "s.c")} AS dist
    FROM sub t JOIN c2 s ON t.sub = s.sub
    {cands}
),
a2 AS (
    SELECT vec_id, sub, cid AS cluster FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                     ORDER BY dist, cid) AS rn
        FROM d2) WHERE rn = 1
),
adc AS (
    SELECT a.vec_id,
           list_reduce(list_prepend(0.0::DOUBLE, list(l.dq ORDER BY a.sub)),
                       (x, y) -> x + y) AS adc_dist
    FROM a2 a JOIN lut l ON a.sub = l.sub AND a.cluster = l.cid
    GROUP BY a.vec_id
)"""


@register(
    "s_pq_adc_topk",
    oracle=f"""
WITH {_pq_train_ctes()},
{_pq_adc_ctes()}
SELECT vec_id, adc_dist FROM adc ORDER BY adc_dist, vec_id LIMIT 10
""",
    tags=("llm", "similarity", "quantization", "topk"),
)
def s_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance top-10 over PQ codes (the search leg of
    IVF-PQ / FAISS): the query keeps full precision, the corpus is 4
    codebook ids per vector, and the distance is m lookups into the
    broadcast m×k query-to-centroid table. The corpus scan never
    touches raw vectors — the plan shape that answers billion-vector
    queries from RAM. Codebooks are the s_pq_codes trainer's; see
    S.pq_adc_topk for the determinism contract (driver LUT folds the
    exact sqdist sequence, ADC folds subspaces in order).
    """
    return S.pq_adc_topk(
        load_table(spark, sf_dir, "embeddings"),
        0,
        trained=_pq_trained(spark, sf_dir),
        topk=10,
        m=_PQ_M,
    )


@register(
    "s_ivfpq_topk",
    oracle=f"""
WITH {_pq_train_ctes()},
{_pq_adc_ctes(cell=True)}
SELECT vec_id, adc_dist FROM adc ORDER BY adc_dist, vec_id LIMIT 10
""",
    tags=("llm", "similarity", "quantization", "topk", "ivf"),
)
def s_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search (FAISS ``IndexIVFPQ``, ``by_residual=false``):
    coarse cell pruning THEN asymmetric PQ distance — only vectors in
    the query's `label` cell are scored, and each costs m LUT lookups
    over the compressed codes. The two halves of billion-scale ANN
    composed: the cell predicate pushes to the scan (partition
    pruning on a cell-partitioned corpus — the ivf_ingest layout),
    and the survivors never surface a raw vector. Codebooks stay
    corpus-global exactly as FAISS trains them; see S.pq_adc_topk.
    """
    return S.pq_adc_topk(
        load_table(spark, sf_dir, "embeddings"),
        0,
        trained=_pq_trained(spark, sf_dir),
        topk=10,
        m=_PQ_M,
        cell_col="label",
    )


@register(
    "s_pq_recall",
    oracle=f"""
WITH {_pq_train_ctes()},
{_pq_adc_ctes()},
adctop AS (
    SELECT vec_id FROM adc ORDER BY adc_dist, vec_id LIMIT 10
),
brute AS (
    SELECT e.vec_id
    FROM embeddings e,
         (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0) q
    WHERE e.vec_id <> 0
    ORDER BY {S.sql_sqdist("e.embedding", "q.q_emb")}, e.vec_id
    LIMIT 10
)
SELECT CAST(10 AS BIGINT) AS k,
       CAST(count(*) AS BIGINT) AS n_hits,
       CAST(count(*) AS DOUBLE) / CAST(10.0 AS DOUBLE) AS recall_at_k
FROM brute JOIN adctop USING (vec_id)
""",
    tags=("llm", "similarity", "quantization", "recall"),
)
def s_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of ADC-over-PQ-codes vs exact squared-L2 brute force
    — the compression-loss gauge an IVF-PQ deployment checks before
    trusting a codebook size (the PQ twin of `s_ivf_recall`; see
    S.pq_recall_at_k). Both rankings stay corpus-shuffle-free; the
    recall join touches 2·k survivor rows.
    """
    return S.pq_recall_at_k(
        load_table(spark, sf_dir, "embeddings"),
        0,
        trained=_pq_trained(spark, sf_dir),
        k=10,
        m=_PQ_M,
    )


@register(
    "s_hybrid_rrf",
    oracle=f"""
WITH dl AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
  FROM documents
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(CAST(dl AS BIGINT)) AS DOUBLE) / count(*) AS avgdl
  FROM dl
),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents)
  WHERE token IN ('join', 'window', 'hash')
  GROUP BY doc_id, token
),
dfreq AS (
  SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY token
),
bscored AS (
  SELECT tf.doc_id,
         CAST(floor(
           (((s.n_docs - d.df + 0.5) / (d.df + 0.5))
            * ((tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * (l.dl / s.avgdl)))))
           * 1000000000.0 + 0.5) AS BIGINT) AS fp
  FROM tf
  JOIN dfreq d USING (token)
  JOIN dl l USING (doc_id), stats s
),
bm AS (
  SELECT doc_id, CAST(sum(fp) AS DOUBLE) / 1000000000.0 AS bm25
  FROM bscored GROUP BY doc_id
),
lex AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
              AS BIGINT) AS r_lex
  FROM bm
),
q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
sem0 AS (
  SELECT vec_id, {S.sql_cosine("embedding", "q_emb")} AS cos_sim
  FROM embeddings, q WHERE vec_id <> 0
),
sem AS (
  SELECT vec_id AS doc_id,
         CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id)
              AS BIGINT) AS r_sem
  FROM sem0
),
fused AS (
  SELECT coalesce(l.doc_id, s.doc_id) AS doc_id, l.r_lex, s.r_sem,
         coalesce(1.0::DOUBLE / (60 + l.r_lex), 0.0::DOUBLE)
           + coalesce(1.0::DOUBLE / (60 + s.r_sem), 0.0::DOUBLE)
           AS rrf_raw
  FROM (SELECT * FROM lex WHERE r_lex <= 50) l
  FULL OUTER JOIN (SELECT * FROM sem WHERE r_sem <= 50) s
    ON l.doc_id = s.doc_id
)
SELECT doc_id, r_lex, r_sem,
       floor(rrf_raw * 1000000.0 + 0.5) / 1000000.0 AS rrf
FROM fused
ORDER BY rrf DESC, doc_id
LIMIT 20
""",
    tags=("llm", "retrieval", "similarity", "hybrid"),
)
def s_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion: the BM25 lexical
    ranking and the cosine semantic ranking (query = stored vector 0;
    embeddings share the documents' id space) fused as
    ``Σ 1/(60+rank)`` over each leg's top-50 — the standard RAG
    first-stage fusion (Cormack et al. 2009: rank-based, so the two
    legs' incomparable score scales never touch). Determinism: ranks
    are row_numbers with id tiebreaks; each RRF term is ONE IEEE
    division and the two-term sum is written in a fixed order both
    engines spell identically, rounded half-up at 1e-6 before the
    final ordering. Scale: each leg is its own bounded top-k (BM25
    map-side term filter; cosine broadcast-query map pass), and the
    fusion join touches ≤100 rows regardless of corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    # Each leg takes its top-50 via orderBy().limit() FIRST — Spark
    # plans TakeOrderedAndProject (per-partition heads, driver merge),
    # so no unpartitioned sort ever sees the full corpus; the
    # row_number that assigns ranks then runs over a 50-row frame.
    lex = _bm25_scores(docs).orderBy(
        F.col("bm25").desc(), "doc_id"
    ).limit(50)
    lex = lex.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), "doc_id"))
        .cast("long")
        .alias("r_lex"),
    )
    sem = S.brute_force_topk(emb, 0, 50).select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.col("cos_sim").desc(), "vec_id"))
        .cast("long")
        .alias("r_sem"),
    )
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        "r_lex",
        "r_sem",
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(60) + F.col("r_lex")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(60) + F.col("r_sem")), F.lit(0.0)
            )
        ).alias("rrf_raw"),
    )
    return (
        fused.select(
            "doc_id",
            "r_lex",
            "r_sem",
            round_half_up(F.col("rrf_raw"), 6).alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(20)
    )


@register(
    "mm_feature_store",
    oracle=f"""
SELECT doc_id AS media_id,
       octet_length(encode(text)) AS byte_len,
       array_to_string(list_transform(range(0, {M.FEATURE_DIM}),
           i -> ((octet_length(encode(text)) * (i + 7)) % 256)::VARCHAR),
           ',') AS features_csv,
       ({M.sql_payload_ahash('text')}) AS fp
FROM documents
""",
    tags=("llm", "multimodal", "streaming-twin"),
)
def mm_feature_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The media feature-store row — batch twin of
    ``streaming/ops.py::media_features_ingest``'s per-epoch fold:
    mapInPandas feature extraction JOINED to the Arrow aHash
    fingerprint on media_id, i.e. exactly the frame each micro-batch
    writes to its epoch directory. mm_features and mm_pixel_ahash
    driver-check the two operators separately; this checks the
    composed store row (both Python-worker lanes feeding one join)
    so the ingest fold's output contract has a direct driver row.

    Plan: both sides are row-local Arrow passes over the same
    media frame; the join is keyed on media_id — at 100 TB the
    store build is scan-shaped, one exchange on media_id (or zero
    with both sides written bucketed by media_id).
    """
    docs = load_table(spark, sf_dir, "documents")
    media = M.documents_as_media(docs)
    feats = M.extract_features(media).select(
        "media_id",
        "byte_len",
        F.array_join(
            F.expr(
                "transform(features, x -> cast(cast(x AS bigint) AS string))"
            ),
            ",",
        ).alias("features_csv"),
    )
    return feats.join(M.payload_fingerprints(media), "media_id")


@register(
    "t_bigram_lm_ppl",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
bg AS (
    SELECT doc_id, u.a AS a, u.ab AS ab FROM (
        SELECT doc_id,
               unnest(list_transform(range(0, len(t) - 1),
                   i -> {'a': t[i+1],
                         'ab': concat(t[i+1], ' ', t[i+2])})) AS u
        FROM t WHERE len(t) >= 2)
),
lm AS (SELECT a, ab, CAST(count(*) AS BIGINT) AS c_ab
       FROM bg GROUP BY a, ab),
pre AS (SELECT a, CAST(count(*) AS BIGINT) AS c_a FROM bg GROUP BY a),
sc AS (SELECT ab, CAST(length(bin(c_a // c_ab)) AS BIGINT) AS surp
       FROM lm JOIN pre USING (a))
SELECT bg.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(surp) AS BIGINT) AS surprisal,
       CAST(sum(surp) AS DOUBLE) / count(*) AS ppl_proxy
FROM bg JOIN sc USING (ab)
GROUP BY bg.doc_id
""",
    tags=("llm", "text", "quality", "lm"),
)
def t_bigram_lm_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity proxy — the KenLM-shaped quality filter
    (CCNet trains a 5-gram LM and keeps low-perplexity docs; this is
    the same signal one order up from t_perplexity_bucket's unigram):
    score every document by the mean conditional surprisal of its
    bigram stream under the corpus's own bigram model.

    Integer-exact conditional surprisal: with c(ab) = corpus bigram
    occurrences and c(a) = occurrences of ``a`` as a bigram PREFIX
    (so Σ_b c(ab) = c(a) exactly — the true MLE denominator),
    surprisal(b|a) = ⌊log2(c(a)/c(ab))⌋ + 1 = length(bin(c_a div
    c_ab)) ≥ 1 — no libm log anywhere; per-doc totals are BIGINT
    sums; ONE final IEEE division per doc. Docs under 2 tokens have
    no bigram stream and drop out (both engines).

    Scale shape: one bigram explode feeds two partial aggs (the LM
    and its prefix marginals) whose join is vocabulary-sized and
    happens BEFORE touching document rows again; docs then join the
    scored LM bigram-keyed and reduce per doc_id — the t_tfidf /
    t_dsir_affinity two-exchange skeleton with the heavy join on the
    agg, not the corpus. At 100 TB the scored-LM table is the only
    thing that needs to be broadcast-or-bucketed, and it is
    vocab²-bounded, df-capped in practice.
    """
    docs = load_table(spark, sf_dir, "documents")
    bg = (
        spread(docs)
        .select("doc_id", X.tokens("text").alias("t"))
        .filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 2), i -> struct("
                    "element_at(t, i + 1) AS a, "
                    "concat(element_at(t, i + 1), ' ', "
                    "element_at(t, i + 2)) AS ab))"
                )
            ).alias("u"),
        )
        .select("doc_id", "u.a", "u.ab")
    )
    lm = bg.groupBy("a", "ab").agg(F.count("*").alias("c_ab"))
    pre = bg.groupBy("a").agg(F.count("*").alias("c_a"))
    sc = lm.join(pre, "a").select(
        "ab",
        F.length(F.bin(F.expr("c_a div c_ab"))).cast("long").alias("surp"),
    )
    return (
        bg.join(sc, "ab")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("surp").alias("surprisal"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "surprisal",
            (
                F.col("surprisal").cast("double") / F.col("n_bigrams")
            ).alias("ppl_proxy"),
        )
    )


_MAXSIM_T = 4  # token sub-vectors per 64-dim embedding
_MAXSIM_D = 16  # dims per sub-vector


def _maxsim_sub_sql() -> str:
    return (
        f"unnest(list_transform(range(0, {_MAXSIM_T}), p -> "
        f"{{'pos': p, 'sv': list_slice(embedding, p * {_MAXSIM_D} + 1, "
        f"(p + 1) * {_MAXSIM_D})}}))"
    )


@register(
    "s_maxsim_topk",
    oracle=f"""
WITH sub AS (
    SELECT vec_id, label, u.pos AS pos, u.sv AS sv FROM (
        SELECT vec_id, label, {_maxsim_sub_sql()} AS u FROM embeddings)
),
q AS (SELECT pos AS qpos, sv AS qv FROM sub WHERE vec_id = 0),
d AS (SELECT vec_id, label, sv AS dv FROM sub WHERE vec_id <> 0),
scored AS (
    SELECT d.vec_id, d.label, q.qpos,
           CAST(floor({S.sql_cosine("d.dv", "q.qv")} * 1e9 + 0.5)
                AS BIGINT) AS qc
    FROM d, q
),
per_qt AS (
    SELECT vec_id, label, qpos, max(qc) AS m
    FROM scored GROUP BY vec_id, label, qpos
),
tot AS (
    SELECT vec_id, label, CAST(sum(m) AS BIGINT) AS s
    FROM per_qt GROUP BY vec_id, label
)
SELECT vec_id, label, CAST(s AS DOUBLE) / 1e9 AS maxsim
FROM tot
ORDER BY maxsim DESC, vec_id
LIMIT 20
""",
    tags=("llm", "similarity", "late-interaction"),
)
def s_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction retrieval (Khattab & Zaharia
    2020): document and query are SETS of token vectors and the score
    is MaxSim — Σ over query tokens of the max cosine against any
    document token. Single-vector cosine (s_cosine_topk) collapses a
    document to one point; MaxSim keeps per-token granularity, the
    retrieval form modern rerankers use. The fixture carries one
    64-dim vector per id, so token vectors are its 4 contiguous
    16-dim slices — a fixed row-local reshape; with true multi-vector
    data only the slicing line changes.

    Determinism: each pairwise cosine is the shared sequential DOUBLE
    fold (bit-identical across engines), quantized to 1e9 fixed point
    BEFORE max/sum — quantize-then-max equals max-then-quantize
    (monotone), and the per-doc total is an exact BIGINT sum of
    ``_MAXSIM_T`` integers, so no accumulation-order dependence; ONE
    final division scales back to double.

    Scale shape: the query's token vectors are a broadcast constant
    (T·D scalars); doc-token expansion is a row-local explode (×T
    rows, never shuffled with payloads); the per-(doc, qtoken) max
    and per-doc sum are two partial aggs on the doc key — map-side
    combinable, one exchange. Top-k is TakeOrderedAndProject. At
    100 TB this is a scan-shaped rerank over a candidate set; the
    full-corpus form runs after an ANN candidate cut (s_ivf_topk),
    exactly how ColBERT deployments stage it.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    subs = F.array(
        *[
            F.slice("embedding", p * _MAXSIM_D + 1, _MAXSIM_D)
            for p in range(_MAXSIM_T)
        ]
    )
    q = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.posexplode(subs).alias("qpos", "qv"))
    )
    d = (
        spread(emb.filter(F.col("vec_id") != 0))
        .select("vec_id", "label", F.explode(subs).alias("dv"))
    )
    qc = F.floor(
        S.cosine(F.col("dv"), F.col("qv")) * F.lit(1e9) + F.lit(0.5)
    ).cast("long")
    return (
        d.crossJoin(F.broadcast(q))
        .select("vec_id", "label", "qpos", qc.alias("qc"))
        .groupBy("vec_id", "label", "qpos")
        .agg(F.max("qc").alias("m"))
        .groupBy("vec_id", "label")
        .agg(F.sum("m").alias("s"))
        .select(
            "vec_id",
            "label",
            (F.col("s").cast("double") / F.lit(1e9)).alias("maxsim"),
        )
        .orderBy(F.col("maxsim").desc(), "vec_id")
        .limit(20)
    )


@register(
    "t_char_entropy",
    oracle="""
WITH ch AS (
    SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
),
cnt AS (
    SELECT doc_id, c, CAST(count(*) AS BIGINT) AS n_c
    FROM ch GROUP BY doc_id, c
),
tot AS (
    SELECT doc_id, CAST(sum(n_c) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS n_distinct
    FROM cnt GROUP BY doc_id
)
SELECT t.doc_id,
       t.n AS n_chars,
       t.n_distinct,
       CAST(sum(n_c * length(bin(t.n // n_c))) AS BIGINT) AS surprisal,
       CAST(sum(n_c * length(bin(t.n // n_c))) AS DOUBLE) / t.n
           AS entropy_proxy
FROM cnt JOIN tot t USING (doc_id)
GROUP BY t.doc_id, t.n, t.n_distinct
""",
    tags=("llm", "text", "quality"),
)
def t_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution entropy proxy — the gibberish/spam axis
    of the C4/Gopher rule family: binary-ish blobs and random noise
    score HIGH (flat char distribution), single-char/whitespace spam
    scores at the 1-bit floor, natural text sits in a narrow band.
    Integer-exact: surprisal = Σ_c n_c·(⌊log2(n/n_c)⌋+1) over the
    doc's own char counts (length(bin(..)) — no libm), one final IEEE
    division for the per-char rate. Empty docs have no distribution
    and drop out (both engines).

    Scale shape: ROW-LOCAL — the whole signal folds inside one Arrow
    pass (operators/fast_text.char_entropy_fast); zero shuffle at any
    corpus size, unlike the token-keyed LM scores (t_perplexity_
    bucket / t_bigram_lm_ppl) this complements. The oracle spells the
    identical arithmetic relationally (per-char unnest + two aggs).
    """
    # empty (and NULL) docs drop on the scan: Spark's length and the
    # UDF's len both count codepoints. A filter on the UDF's n_chars
    # would be pushed below spread's exchange as a second Arrow pass.
    docs = load_table(spark, sf_dir, "documents").where("length(text) > 0")
    return (
        spread(docs)
        .select("doc_id", char_entropy_fast(F.col("text")).alias("e"))
        .select(
            "doc_id",
            F.col("e.n_chars").alias("n_chars"),
            F.col("e.n_distinct").alias("n_distinct"),
            F.col("e.surprisal").alias("surprisal"),
            (
                F.col("e.surprisal").cast("double") / F.col("e.n_chars")
            ).alias("entropy_proxy"),
        )
    )


_KNN_K = 5


@register(
    "s_knn_graph",
    oracle=f"""
WITH nz AS (
    -- zero-norm contract (operators/similarity.py::knn_graph): an
    -- all-zero embedding has no cosine direction and is dropped on
    -- both sides before scoring
    SELECT * FROM embeddings
    WHERE len(list_filter(embedding, x -> x <> 0)) > 0
),
scored AS (
    SELECT l.vec_id, l.label, r.vec_id AS nbr_id,
           {S.sql_cosine("l.embedding", "r.embedding")} AS cos_sim
    FROM nz l JOIN nz r
      ON l.label = r.label AND l.vec_id <> r.vec_id
)
SELECT vec_id, label, nbr_id, cos_sim, rank FROM (
    SELECT vec_id, label, nbr_id, cos_sim,
           CAST(row_number() OVER (
               PARTITION BY vec_id ORDER BY cos_sim DESC, nbr_id
           ) AS BIGINT) AS rank
    FROM scored)
WHERE rank <= {_KNN_K}
""",
    tags=("llm", "similarity", "graph"),
)
def s_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-blocked k-NN graph over the whole embedding table — every
    vector's top-k cosine neighbors WITHIN its coarse cell (`label` =
    the IVF cell id, as in s_ivf_topk). This is the batch primitive
    under SemDeDup-style semantic clustering and kNN-graph spectral
    methods: not one query against the corpus (s_batch_topk) but the
    corpus against itself, made tractable by refusing the all-pairs
    join — candidates are generated per cell, so the join volume is
    Σ_cells |cell|², not N².

    Determinism: scores accumulate dimension-sequentially in BOTH
    physical paths (numpy per-cell loop / expression fold — the
    embedding_near_dup_pairs bit-parity trick), so they match each
    other and the oracle exactly; neighbor order is (cos_sim DESC,
    nbr_id) — a unique tiebreak, the proven s_batch_topk discipline.

    Scale shape (operators/similarity.py::knn_graph): cells ≤ cap
    score as ONE Arrow pass per cell (vectors cross the Python
    boundary once per cell, the n² matrix folds in numpy — the
    interpreted higher-order-function fold was 20× slower at the 10×
    upsample); oversized cells fall back to the expression-fold
    self-join whose rank ≤ k compiles to WindowGroupLimit. At 100 TB
    the cell width is the recall/cost dial (train more centroids →
    smaller cells); multi-probe = union over adjacent cells; the
    graph build stays Σ|cell|² with k·N output either way.
    """
    return S.knn_graph(
        load_table(spark, sf_dir, "embeddings"), k=_KNN_K
    )


@register(
    "d_cluster_canonical",
    oracle=f"""
WITH RECURSIVE {_minhash_ctes()},
{_components_ctes()},
comp AS (
    SELECT s AS doc_id, least(s, min(d)) AS component
    FROM reach GROUP BY s
),
q AS (
    SELECT doc_id,
           least(1.0, n_chars / 400.0)
             * (1.0 - least(1.0,
                 CASE WHEN len(string_split(text, ' ')) > 0
                      THEN len(list_filter(string_split(text, ' '),
                           x -> x IN ('the','a','and','of','to','in'))) * 1.0
                           / len(string_split(text, ' '))
                      ELSE 0.0 END * 2.0)) AS quality
    FROM documents
),
ranked AS (
    SELECT c.component, c.doc_id, q.quality,
           row_number() OVER (
               PARTITION BY c.component
               ORDER BY q.quality DESC, c.doc_id) AS rn,
           CAST(count(*) OVER (PARTITION BY c.component) AS BIGINT) AS csize
    FROM comp c JOIN q USING (doc_id)
)
SELECT component, doc_id AS canonical_doc, csize, quality
FROM ranked WHERE rn = 1
""",
    tags=("llm", "dedup", "curation"),
)
def d_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster survivorship: for every near-dup cluster, the member a
    production pipeline KEEPS — the highest-quality document, not the
    min-id one (d_dup_clusters' keep-min contract is the bookkeeping
    form; real curation keeps the best copy and drops its mirrors).
    One row per cluster: (component, canonical_doc, csize, quality).
    Ranking key is the proven quality twin (t_domain_quota ranks on
    the identical expression, hash-green) with the doc_id tiebreak.

    Scale shape: the pair graph is LSH-banded (never all-pairs);
    components move node-sized frames (operators/dedup.py); the
    quality join and the pick-one window run over CLUSTERED docs only
    — pair-bounded, a vanishing fraction of the corpus. The rn = 1
    cut compiles to WindowGroupLimit.
    """
    sigs = _doc_signatures(spark, sf_dir)
    comp = D.connected_components(
        D.minhash_lsh_pairs(sigs, threshold=0.8)
    ).withColumnRenamed("node", "doc_id")
    # the staged qscore column (row-local, bit-identical to the
    # inline expression — parquet round-trips doubles exactly)
    # replaces a full-text scan+score per query; t_quality_score
    # itself stays inline (r11)
    qual = sigs.select("doc_id", F.col("qscore").alias("quality"))
    w = Window.partitionBy("comp").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    ws = Window.partitionBy("comp")
    return (
        comp.join(qual, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("csize", F.count("*").over(ws).cast("long"))
        .filter(F.col("rn") == 1)
        .select(
            F.col("comp").alias("component"),
            F.col("doc_id").alias("canonical_doc"),
            "csize",
            "quality",
        )
    )
