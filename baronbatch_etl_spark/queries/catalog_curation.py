"""Corpus-curation catalog: the dataset-construction passes a
training-data pipeline runs AFTER per-document analysis — benchmark
decontamination, token-budget sequence packing, target-mixture
stratified sampling, PII redaction, and per-stratum length-band
filtering.

Like ``operators/text.py`` these have no reference twin (the reference
does no document processing — SURVEY §2.10 note); they extend the
LLM-data family with the passes that turn a scored corpus into a
training set. Every query is oracle-checked against a DuckDB twin
that replays the identical arithmetic (portable polynomial hash,
exact integer window sums, shared regex dialect subset).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from baronbatch_etl_spark.io import load_table, materialize, spread
from baronbatch_etl_spark.operators import dedup as D
from baronbatch_etl_spark.operators import ranking as R
from baronbatch_etl_spark.operators import text as X
from baronbatch_etl_spark.queries import catalog_llm as L
from baronbatch_etl_spark.queries import register

_SQL_TOKENS = "string_split(text, ' ')"
_SQL_TOKEN_COUNT = (
    "CASE WHEN length(text) = 0 THEN 0 "
    f"ELSE len({_SQL_TOKENS}) END"
)

# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

#: Shingle width for contamination checks — read from the shared
#: constant so the oracle and the ``sh4`` column of
#: ``dedup.signatures`` can never diverge in width.
_CONTAM_N = X.CONTAM_SHINGLE_N

_CONTAM_SHINGLES = (
    f"list_transform({X.sql_word_ngrams(_SQL_TOKENS, _CONTAM_N)}, "
    f"g -> {X.sql_char_poly_hash('g')})"
)


@register(
    "t_contamination",
    oracle=f"""
WITH sh AS (
    SELECT doc_id, unnest({_CONTAM_SHINGLES}) AS h FROM documents
),
bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 97 = 0),
train AS (SELECT * FROM sh WHERE doc_id % 97 <> 0)
SELECT t.doc_id, count(*) AS n_shared
FROM train t JOIN bench b USING (h)
GROUP BY t.doc_id
""",
    tags=("llm", "curation", "dedup"),
)
def t_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents that share
    any word 4-gram with a held-out benchmark set (here the
    deterministic ``doc_id % 97 == 0`` slice stands in for the eval
    suite).

    Plan shape for 100 TB: the benchmark shingle set is tiny relative
    to the corpus, so it is distinct-ed and **broadcast** — the
    training side is a pure map-side semi-probe at scan speed, no
    shuffle of corpus data. Shingles travel as 8-byte polynomial
    hashes, not strings, to keep the broadcast map small. The only
    exchange is the final per-doc count, keyed by doc_id (skew-free).

    The shingle hashes are the staged signature table's ``sh4``
    column: the signature kernel (``fast_text.text_signatures_fast``)
    derives them from its per-token hashes at
    ``text.CONTAM_SHINGLE_N`` — the width the oracle reads too, with
    values parity-tested against the expression twin in
    tests/test_fast_parity.py — so both the bench and train branches
    read the column-pruned staged scan.
    """
    sh = L._doc_signatures(spark, sf_dir).select(
        "doc_id", F.explode("sh4").alias("h")
    )
    bench = sh.filter(F.col("doc_id") % 97 == 0).select("h").distinct()
    train = sh.filter(F.col("doc_id") % 97 != 0)
    return (
        train.join(F.broadcast(bench), "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )


# ---------------------------------------------------------------------------
# Token-budget sequence packing
# ---------------------------------------------------------------------------

#: Tokens per packed training sequence (fixture-sized; 2048-8192 in
#: production).
_PACK_BUDGET = 256

#: Deterministic sub-streams per source. Packing is inherently
#: sequential within a stream (each bin depends on the running token
#: total), so at 100 TB a single per-source stream would serialize into
#: one task. Sharding the stream by ``doc_id % _PACK_SHARDS`` bounds
#: every window partition to ~1/shards of a source while keeping the
#: assignment deterministic and oracle-replayable.
_PACK_SHARDS = 8


@register(
    "t_pack_sequences",
    oracle=f"""
WITH t AS (
    SELECT source, doc_id, doc_id % {_PACK_SHARDS} AS pack_shard,
           {_SQL_TOKEN_COUNT} AS n_tok
    FROM documents
),
c AS (
    SELECT source, pack_shard, doc_id, n_tok,
           (sum(n_tok) OVER (PARTITION BY source, pack_shard
                             ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tok)::BIGINT
               AS cum_before
    FROM t
)
SELECT source, pack_shard, cum_before // {_PACK_BUDGET} AS bin_id,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM c
GROUP BY 1, 2, 3
""",
    tags=("llm", "curation", "window"),
)
def t_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: assign documents to fixed-budget
    training bins by running token count within a (source, shard)
    stream, then summarize each bin.

    A document lands in bin ``floor(tokens_before_it / budget)`` —
    contiguous greedy packing where a straddling document opens the
    next bin's count (split-on-boundary semantics, the common choice
    when the tokenizer truncates at sequence end). One window sort per
    (source, shard) partition — bounded by the shard count at any
    corpus size (see ``_PACK_SHARDS``) — then a skew-free grouped agg
    on (source, shard, bin).
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source",
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).alias("pack_shard"),
        X.token_count("text").cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("source", "pack_shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum_before", F.sum("n_tok").over(w) - F.col("n_tok"))
    return (
        c.withColumn(
            "bin_id", F.floor(F.col("cum_before") / F.lit(_PACK_BUDGET))
        )
        .groupBy("source", "pack_shard", "bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# ---------------------------------------------------------------------------
# Target-mixture stratified sampling
# ---------------------------------------------------------------------------

@register(
    "t_mixture_plan",
    oracle=f"""
WITH stats AS (
    SELECT source, SUM({_SQL_TOKEN_COUNT})::BIGINT AS avail
    FROM documents GROUP BY source
),
win AS (
    SELECT source, avail,
           row_number() OVER ord AS rn,
           count(*) OVER () AS n,
           sum(avail) OVER ord_cum AS prefix,
           sum(avail) OVER () AS total
    FROM stats
    WINDOW ord AS (ORDER BY avail, source),
           ord_cum AS (ORDER BY avail, source
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
flag AS (
    SELECT *, (total * 3) // 5 AS budget,
           (prefix - avail) + avail * (n - rn + 1) <= (total * 3) // 5
               AS capped
    FROM win
),
agg AS (
    SELECT *,
           sum(CASE WHEN capped THEN avail ELSE 0 END) OVER () AS sum_capped,
           sum(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS n_capped,
           row_number() OVER (PARTITION BY capped
                              ORDER BY avail, source) AS urank
    FROM flag
)
SELECT source, avail AS avail_tokens,
       CAST(CASE WHEN capped THEN avail
            ELSE least(avail,
                (budget - sum_capped) // greatest(n - n_capped, 1)
                + CASE WHEN urank <=
                       (budget - sum_capped) % greatest(n - n_capped, 1)
                       THEN 1 ELSE 0 END)
       END AS BIGINT) AS alloc_tokens,
       capped
FROM agg
""",
    tags=("llm", "curation", "mixture", "window"),
)
def t_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-driven mixture planning — compute the per-source token
    allocation t_mixture_sample's rates come FROM, instead of
    hardcoding them: exact integer waterfilling against a target
    budget (60 % of corpus tokens here). Sources below the water
    level keep every token (capped=true); the rest split the residual
    budget evenly, with the integer remainder distributed to the
    smallest uncapped sources by deterministic rank — all BIGINT
    arithmetic, so the plan hash-matches the SQL twin bit-for-bit.

    The classic waterfill criterion, one pass over the SORTED
    per-source stats: source i (availability ascending) is capped iff
    prefix_{{i-1}} + avail_i · slots_i ≤ budget.

    Scale shape: the corpus scan folds to |sources| rows via one
    partial-agg shuffle (token counts are row-local); everything
    after is window math over a catalog-dimension-sized frame — a few
    thousand rows at 100 TB. The single-partition windows are fine at
    that cardinality and never see the corpus."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    stats = (
        docs.select("source", X.token_count("text").alias("tk"))
        .groupBy("source")
        .agg(F.sum("tk").cast("long").alias("avail"))
    )
    ord_w = Window.orderBy(F.col("avail").asc(), F.col("source").asc())
    unb = ord_w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = ord_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    win = stats.select(
        "source",
        "avail",
        F.row_number().over(ord_w).alias("rn"),
        F.count("*").over(unb).alias("n"),
        F.sum("avail").over(cum).alias("prefix"),
        F.sum("avail").over(unb).alias("total"),
    )
    flag = win.withColumn(
        "budget", F.expr("(total * 3) DIV 5")
    ).withColumn(
        "capped",
        (F.col("prefix") - F.col("avail"))
        + F.col("avail") * (F.col("n") - F.col("rn") + 1)
        <= F.col("budget"),
    )
    cap_w = Window.partitionBy("capped").orderBy(
        F.col("avail").asc(), F.col("source").asc()
    )
    agg = flag.select(
        "*",
        F.sum(F.when(F.col("capped"), F.col("avail")).otherwise(0))
        .over(unb)
        .alias("sum_capped"),
        F.sum(F.when(F.col("capped"), 1).otherwise(0))
        .over(unb)
        .alias("n_capped"),
        F.row_number().over(cap_w).alias("urank"),
    )
    n_unc = F.greatest(F.col("n") - F.col("n_capped"), F.lit(1))
    residual = F.col("budget") - F.col("sum_capped")
    base = F.expr(
        "(budget - sum_capped) DIV greatest(n - n_capped, 1L)"
    )
    alloc = F.when(F.col("capped"), F.col("avail")).otherwise(
        F.least(
            F.col("avail"),
            base
            + F.when(F.col("urank") <= residual % n_unc, 1).otherwise(0),
        )
    )
    return agg.select(
        "source",
        F.col("avail").alias("avail_tokens"),
        alloc.cast("long").alias("alloc_tokens"),
        "capped",
    )


#: Per-language keep-rates out of 100 (the target mixture): downsample
#: the dominant language, keep more of the rest.
_MIX_RATES: dict[str, int] = {"en": 10, "de": 30, "es": 30, "fr": 30, "zh": 20}

_SQL_MIX_BUCKET = (
    X.sql_char_poly_hash("concat('mix:', doc_id::VARCHAR)") + " % 100"
)

_SQL_MIX_RATE = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in _MIX_RATES.items())
    + " ELSE 0 END"
)


@register(
    "t_mixture_sample",
    oracle=f"""
SELECT doc_id, lang, ({_SQL_MIX_BUCKET}) AS bucket
FROM documents
WHERE ({_SQL_MIX_BUCKET}) < {_SQL_MIX_RATE}
""",
    tags=("llm", "curation", "sampling"),
)
def t_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-mixture stratified sampling: keep each document with a
    per-language rate (en 10%, de/es/fr 30%, zh 20%) decided by a
    deterministic hash bucket of the doc_id — the rebalancing pass
    that turns a crawl's natural language skew into a training
    mixture.

    Pure map-side filter: the keep/drop decision is a row-local hash
    against a broadcast-free literal rate table, so it runs at scan
    speed on 100 TB with zero shuffles — the scale-safe alternative to
    exact per-stratum quotas (which need a per-stratum sort). Rates
    are reproducible across runs and engines (portable polynomial
    hash, salted 'mix:' so it is independent of other hash-samplers).
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        X.char_poly_hash(
            F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))
        )
        % 100
    )
    rate_map = F.create_map(
        *[F.lit(x) for kv in _MIX_RATES.items() for x in kv]
    )
    rate = F.coalesce(
        F.element_at(rate_map, F.col("lang")), F.lit(0)
    )
    return (
        docs.select("doc_id", "lang", bucket.alias("bucket"))
        .filter(F.col("bucket") < rate)
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

#: Regex subset chosen to behave identically under Java regex (Spark)
#: and RE2 (DuckDB): character classes, bounded repetition — no
#: lookaround, no backrefs.
_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.]+"
_PHONE_RE = "[0-9]{3}-[0-9]{4}"


@register(
    "t_pii_redact",
    oracle=f"""
WITH aug AS (
    SELECT doc_id,
           concat(text, ' contact user', doc_id::VARCHAR,
                  '@example.com or call 555-',
                  lpad((doc_id % 10000)::VARCHAR, 4, '0')) AS full_text
    FROM documents
)
SELECT doc_id,
       regexp_replace(
           regexp_replace(full_text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
           '{_PHONE_RE}', '<PHONE>', 'g') AS clean_text,
       len(regexp_extract_all(full_text, '{_EMAIL_RE}'))::BIGINT AS n_emails,
       len(regexp_extract_all(full_text, '{_PHONE_RE}'))::BIGINT AS n_phones
FROM aug
""",
    tags=("llm", "curation", "text"),
)
def t_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: mask email addresses and phone-shaped digit runs,
    reporting per-document match counts alongside the cleaned text.

    The fixture corpus contains no natural PII, so both engines first
    append the same deterministic synthetic contact line (derived from
    doc_id) — the redaction then genuinely fires and the differential
    check exercises real matches, not a vacuous all-zero pass.

    Row-local regexp_replace/regexp_count only — scan speed at any
    scale, stays inside whole-stage codegen. Patterns are restricted
    to the Java-regex ∩ RE2 subset so the oracle replays them exactly.
    """
    docs = load_table(spark, sf_dir, "documents")
    full_text = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(full_text, _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        F.regexp_count(full_text, F.lit(_EMAIL_RE))
        .cast("long")
        .alias("n_emails"),
        F.regexp_count(full_text, F.lit(_PHONE_RE))
        .cast("long")
        .alias("n_phones"),
    )


# ---------------------------------------------------------------------------
# Per-stratum length-band filtering
# ---------------------------------------------------------------------------


@register(
    "t_length_filter",
    oracle="""
SELECT doc_id, lang, n_chars, pr FROM (
    SELECT doc_id, lang, n_chars,
           percent_rank() OVER (PARTITION BY lang
                                ORDER BY n_chars, doc_id) AS pr
    FROM documents
)
WHERE pr >= 0.05 AND pr <= 0.95
""",
    tags=("llm", "curation", "quality", "window"),
)
def t_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length-band filter: drop each language's shortest
    and longest 5% of documents by character count (outlier trimming —
    truncated fragments and concatenation blobs both hurt training).

    percent_rank over a total order (n_chars, doc_id tiebreak) is
    deterministic and bit-identical across engines — (rank-1)/(n-1)
    in exact integers, divided once as doubles. One window sort keyed
    by lang; language strata are few and large, so at 100 TB the
    scale path is the two-pass variant: exact per-lang length
    histograms (tiny agg, broadcast) → map-side band filter. The
    windowed form here is the semantic contract the two-pass variant
    must reproduce.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return (
        docs.select(
            "doc_id", "lang", "n_chars", F.percent_rank().over(w).alias("pr")
        )
        .filter((F.col("pr") >= 0.05) & (F.col("pr") <= 0.95))
    )


@register(
    "t_shard_plan",
    oracle="""
SELECT doc_id,
       ((doc_id * 2654435761) % 4294967296) % 32 AS shard,
       row_number() OVER (
         PARTITION BY ((doc_id * 2654435761) % 4294967296) % 32
         ORDER BY (doc_id * 2246822519) % 4294967296, doc_id) AS pos
FROM documents
""",
    tags=("llm", "curation", "shard"),
)
def t_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-data layout: every doc gets a shard (of
    32) by multiplicative hash and a pseudo-random position within its
    shard — the global-shuffle-then-shard pass that fixes training
    order reproducibly (no rand(), so re-runs and the oracle agree).

    Plan: one exchange on the shard key + in-partition sort — exactly
    the repartition(shard) + sortWithinPartitions shape the parquet
    writers consume. The multiplicative constants are Knuth/xxhash
    primes; at 100 TB swap the int64 products for xxhash64(doc_id) to
    dodge overflow on >2^32 ids (engine-internal, no oracle needed on
    the write path).
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    h1 = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    h2 = (F.col("doc_id") * F.lit(2246822519)) % F.lit(4294967296)
    w = Window.partitionBy("shard").orderBy("order_key", "doc_id")
    return (
        docs.select(
            "doc_id",
            (h1 % 32).alias("shard"),
            h2.alias("order_key"),
        )
        .withColumn("pos", F.row_number().over(w))
        .select("doc_id", "shard", "pos")
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split assignment
# ---------------------------------------------------------------------------

#: Buckets out of 1000: train < 980, val < 990, test otherwise.
_SPLIT_TRAIN, _SPLIT_VAL = 980, 990

_SQL_SPLIT_BUCKET = (
    X.sql_char_poly_hash("concat('split:', doc_id::VARCHAR)") + " % 1000"
)


@register(
    "t_split_assign",
    oracle=f"""
SELECT doc_id,
       ({_SQL_SPLIT_BUCKET}) AS bucket,
       CASE WHEN ({_SQL_SPLIT_BUCKET}) < {_SPLIT_TRAIN} THEN 'train'
            WHEN ({_SQL_SPLIT_BUCKET}) < {_SPLIT_VAL} THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
    tags=("llm", "curation", "split"),
)
def t_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by salted hash bucket
    (98% / 1% / 1%) — the split pass of a training-data pipeline.

    Hash-of-id beats random assignment at scale: membership is a pure
    function of the document id, so it is reproducible across runs
    and engines, stable under corpus growth (new documents never move
    old ones between splits), and needs no persisted membership
    table. The salt ('split:') keeps the buckets independent of every
    other hash-sampler in the pipeline (t_mixture_sample salts with
    'mix:'), so sampling and splitting don't correlate.

    Pure map-side projection: row-local hash, no shuffle, no state —
    runs at scan speed on 100 TB.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        X.char_poly_hash(
            F.concat(F.lit("split:"), F.col("doc_id").cast("string"))
        )
        % 1000
    )
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < _SPLIT_TRAIN, "train")
        .when(bucket < _SPLIT_VAL, "val")
        .otherwise("test")
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# Capstone: end-to-end training-set construction
# ---------------------------------------------------------------------------


def _training_set_oracle() -> str:
    """Composes the published oracle fragments of every stage so the
    composite is verified by the SAME arithmetic as its parts."""

    return f"""
WITH RECURSIVE
{L._survivor_ctes()},
deduped AS (
    SELECT doc_id FROM sdocs
    WHERE doc_id NOT IN (SELECT doc_id FROM removed)
),
csh AS (
    SELECT doc_id, unnest({_CONTAM_SHINGLES}) AS h FROM documents
),
cbench AS (SELECT DISTINCT h FROM csh WHERE doc_id % 97 = 0),
contam AS (
    SELECT DISTINCT s.doc_id FROM csh s JOIN cbench b USING (h)
    WHERE s.doc_id % 97 <> 0
),
clean AS (
    SELECT d.doc_id, d.lang, d.text
    FROM documents d JOIN deduped f ON d.doc_id = f.doc_id
    WHERE d.doc_id % 97 <> 0
      AND d.doc_id NOT IN (SELECT doc_id FROM contam)
),
mixed AS (
    SELECT * FROM clean WHERE ({_SQL_MIX_BUCKET}) < ({_SQL_MIX_RATE})
),
tagged AS (
    SELECT lang,
           CASE WHEN ({_SQL_SPLIT_BUCKET}) < {_SPLIT_TRAIN} THEN 'train'
                WHEN ({_SQL_SPLIT_BUCKET}) < {_SPLIT_VAL} THEN 'val'
                ELSE 'test' END AS split,
           CAST({_SQL_TOKEN_COUNT} AS BIGINT) AS n_tok
    FROM mixed
)
SELECT split, lang, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens
FROM tagged GROUP BY split, lang
"""


def curate_stats(sigs: DataFrame, deduped: DataFrame) -> DataFrame:
    """Stages 4–7 of the training-set pipeline — benchmark holdout +
    decontamination → target-mixture sampling → train/val/test split →
    per-(split, lang) dataset-card stats — over an already quality-
    filtered and deduplicated survivor frame ``deduped`` (needs doc_id,
    lang, and n_tok or text). Shared by the batch capstone
    ``t_training_set`` and the streaming corpus build
    (examples/streaming_training_set.py), so the two twins differ ONLY
    in how the survivor set is produced.

    ``sigs`` is the corpus's :func:`dedup.signatures` frame (the staged
    fixture in the batch capstone): the contamination shingles come
    from its ``sh4`` column. When ``deduped`` carries a staged
    ``n_tok`` column (what :func:`curate_survivors` returns), the
    dataset-card token sums read it instead of re-tokenizing text —
    the same row-local value, so the rollup is bit-identical."""
    sh = sigs.select("doc_id", F.explode("sh4").alias("h"))
    bench = sh.filter(F.col("doc_id") % 97 == 0).select("h").distinct()
    contam = (
        sh.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench), "h")
        .select("doc_id")
        .distinct()
    )
    clean = (
        deduped.filter(F.col("doc_id") % 97 != 0)
        .join(contam, "doc_id", "left_anti")
    )

    mix_bucket = (
        X.char_poly_hash(
            F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))
        )
        % 100
    )
    rate_map = F.create_map(
        *[F.lit(x) for kv in _MIX_RATES.items() for x in kv]
    )
    rate = F.coalesce(F.element_at(rate_map, F.col("lang")), F.lit(0))
    mixed = clean.filter(mix_bucket < rate)

    split_bucket = (
        X.char_poly_hash(
            F.concat(F.lit("split:"), F.col("doc_id").cast("string"))
        )
        % 1000
    )
    n_tok = (
        F.col("n_tok")
        if "n_tok" in mixed.columns
        else X.token_count("text").cast("long")
    )
    tagged = mixed.select(
        "lang",
        F.when(split_bucket < _SPLIT_TRAIN, "train")
        .when(split_bucket < _SPLIT_VAL, "val")
        .otherwise("test")
        .alias("split"),
        n_tok.alias("n_tok"),
    )
    return tagged.groupBy("split", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )


@register(
    "t_training_set",
    oracle=_training_set_oracle(),
    tags=("llm", "curation", "pipeline"),
)
def t_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-set construction pipeline as ONE declarative
    plan: quality filter → exact dedup → MinHash-LSH cluster keep-one
    → benchmark holdout + decontamination → target-mixture sampling →
    train/val/test split → per-(split, lang) dataset-card stats.

    Every stage is the same operator the standalone queries run
    (t_corpus_dedup, t_contamination, t_mixture_sample,
    t_split_assign), and the oracle is composed from their published
    SQL fragments — so the composite certifies the stages AND their
    composition. Catalyst sees one DAG: the survivor anti-joins and
    the broadcast benchmark probe pipeline into the same corpus scan
    where semantics allow, which is exactly how the production run
    should ship (no per-stage materialization barriers).

    Scale: inherits each stage's plan shape — blocked LSH pairs,
    broadcast shingle probe, row-local hash sampling/splitting; the
    final rollup is a few-row aggregate. The corpus is never shuffled
    whole.
    """
    sigs = L._doc_signatures(spark, sf_dir)
    return curate_stats(sigs, curate_survivors(sigs))


def curate_survivors(sigs: DataFrame) -> DataFrame:
    """Stages 1–3 of the training-set pipeline: quality filter → exact
    dedup keep-min → MinHash-LSH connected-component keep-one — the
    one Spark form of the survivor stage (t_corpus_dedup,
    t_curate_survivors, t_training_set); its oracle form is
    catalog_llm._survivor_ctes. The streaming twin
    (streaming/ops.curate_ingest) builds this same survivor set
    incrementally; tests/test_streaming_multibatch.py asserts the two
    sets coincide.

    ``sigs`` is the staged corpus signature table
    (catalog_llm._doc_signatures): the quality gate, the exact-dedup
    digest AND the LSH stage read row-local per-document columns
    (qscore, md5, sig, sh) from storage instead of re-scanning and
    re-hashing the full text per query, while the survivor DERIVATION
    (digest group-min, banding join, verification, component
    propagation, anti-join) still runs in-plan here, per query. The
    returned frame carries (doc_id, lang, n_chars, n_tok) — no text
    column at all, so nothing downstream ever moves document bodies."""
    # pruned fixture scan: (doc_id, lang, n_chars, n_tok, qscore, md5)
    # — narrow columns, but the digest group-min is still a shuffle
    # with several consumer branches (LSH input, the anti-join side,
    # the caller's stats chain), so the survivor frame is
    # materialized; cheap, since it carries no text
    qual = sigs.select(
        "doc_id", "lang", "n_chars", "n_tok", "qscore", "md5"
    ).filter(F.col("qscore") >= X.QUALITY_MIN)
    keep = (
        qual.select("doc_id", F.col("md5").alias("text_md5"))
        .groupBy("text_md5")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    sdocs = materialize(
        qual.select("doc_id", "lang", "n_chars", "n_tok").join(
            keep.select("doc_id"), "doc_id"
        )
    )
    removed = D.near_dup_removed(
        D.minhash_lsh_pairs(
            sigs.join(sdocs.select("doc_id"), "doc_id"), threshold=0.8
        )
    )
    return sdocs.join(removed, "doc_id", "left_anti")


@register(
    "t_curate_survivors",
    oracle=f"""
WITH RECURSIVE
{L._survivor_ctes()}
SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
FROM sdocs WHERE doc_id NOT IN (SELECT doc_id FROM removed)
""",
    tags=("llm", "curation", "streaming-twin"),
)
def t_curate_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The admitted survivor corpus after stages 1–3 (quality filter →
    exact dedup keep-min → MinHash-LSH connected-component keep-one) —
    exactly the fold ``streaming/ops.curate_ingest`` runs inside
    foreachBatch per epoch, surfaced as a batch query so the streaming
    gate's arithmetic gets a driver-checked oracle row
    (tests/test_streaming_multibatch.py asserts the stream-built set
    equals this one under doc_id-ordered replay).

    Scale: the corpus is never shuffled whole — exact dedup moves
    (md5, doc_id) digests, LSH moves banded signatures, and the final
    keep is a doc_id anti-join."""
    return curate_survivors(L._doc_signatures(spark, sf_dir)).select(
        "doc_id", "lang", "n_chars"
    )


@register(
    "t_outlier_mad",
    # lower medians by rank selection (tiebreak doc_id) keep every
    # value integral, so the whole robust-statistics chain hash-matches
    oracle="""
WITH r AS (
    SELECT doc_id, lang, n_chars,
           row_number() OVER (PARTITION BY lang
                              ORDER BY n_chars, doc_id) AS rn,
           count(*) OVER (PARTITION BY lang) AS n
    FROM documents
),
med AS (
    SELECT lang, max(CASE WHEN rn = (n + 1) // 2 THEN n_chars END) AS med
    FROM r GROUP BY lang
),
dev AS (
    SELECT r.doc_id, r.lang, r.n_chars, m.med,
           abs(r.n_chars - m.med) AS dev,
           row_number() OVER (PARTITION BY r.lang
                              ORDER BY abs(r.n_chars - m.med),
                                       r.doc_id) AS drn,
           count(*) OVER (PARTITION BY r.lang) AS n
    FROM r JOIN med m ON r.lang = m.lang
),
mad AS (
    SELECT lang, max(CASE WHEN drn = (n + 1) // 2 THEN dev END) AS mad
    FROM dev GROUP BY lang
)
SELECT d.doc_id, d.lang, d.n_chars, d.med, a.mad,
       d.dev > 3 * a.mad AS is_outlier
FROM dev d JOIN mad a ON d.lang = a.lang
""",
    tags=("curation", "quality", "outlier", "window"),
)
def t_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-stratum outlier detection: median + MAD (median
    absolute deviation) of document length per language, flagging
    docs beyond 3 MADs — the heavy-tail-safe alternative to
    mean/stddev z-scores for corpus length filtering (one wild
    document can't move the threshold).

    Lower medians come from rank selection (row_number with a doc_id
    tiebreak), so every statistic stays integral and hash-exact. Two
    windowed passes per stratum + two broadcast-size stat joins; at
    100 TB the same shape runs on approx quantiles
    (a_approx_quantiles shows the invariant pattern)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    w = Window.partitionBy("lang")
    r = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.row_number()
        .over(w.orderBy("n_chars", "doc_id"))
        .alias("rn"),
        F.count("*").over(w).alias("n"),
    )
    med = r.groupBy("lang").agg(
        F.max(
            F.when(
                F.col("rn") == F.floor((F.col("n") + 1) / 2),
                F.col("n_chars"),
            )
        ).alias("med")
    )
    dev = (
        docs.join(F.broadcast(med), "lang")
        .withColumn("dev", F.abs(F.col("n_chars") - F.col("med")))
    )
    d = dev.select(
        "doc_id",
        "lang",
        "n_chars",
        "med",
        "dev",
        F.row_number().over(w.orderBy("dev", "doc_id")).alias("drn"),
        F.count("*").over(w).alias("n"),
    )
    mad = d.groupBy("lang").agg(
        F.max(
            F.when(
                F.col("drn") == F.floor((F.col("n") + 1) / 2), F.col("dev")
            )
        ).alias("mad")
    )
    return (
        d.join(F.broadcast(mad), "lang")
        .select(
            "doc_id",
            "lang",
            "n_chars",
            "med",
            "mad",
            (F.col("dev") > 3 * F.col("mad")).alias("is_outlier"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR-style target-domain affinity (data-selection importance weight)
# ---------------------------------------------------------------------------


@register(
    "t_dsir_affinity",
    oracle="""
WITH tok AS (
    SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
    FROM documents
),
vocab AS (
    SELECT tok,
           CAST(count(*) AS BIGINT) AS c_all,
           CAST(count(*) FILTER (source = 'src0') AS BIGINT) AS c_t
    FROM tok GROUP BY tok
),
totals AS (
    SELECT CAST(sum(c_all) AS BIGINT) AS n_all,
           CAST(sum(c_t) AS BIGINT) AS n_t
    FROM vocab
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(v.c_t * totals.n_all - v.c_all * totals.n_t)
            AS BIGINT) AS affinity,
       (sum(v.c_t * totals.n_all - v.c_all * totals.n_t) > 0)
           AS target_like
FROM tok t JOIN vocab v ON t.tok = v.tok, totals
GROUP BY t.doc_id
""",
    tags=("llm", "curation", "sampling"),
)
def t_dsir_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection weight (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    every document by how much more likely its unigrams are under a
    TARGET domain (source 'src0' stands in for the high-quality
    domain) than under the whole corpus, then resample high scorers.

    Integer-exact variant: instead of Σ log(p_t/p_c) (whose float
    accumulation is executor-order-dependent), the per-token evidence
    is the cross-multiplied difference c_t·N_all − c_all·N_t — same
    sign, monotone in p_t − p_c, and a BIGINT sum, so the score is
    exact and the positive/negative decision boundary (p_t > p_c on
    average) is bit-stable. At trillion-token scale the products need
    per-million scaled frequencies or the double log-space form (the
    standard DSIR estimator); the plan is identical.

    Shapes: one explode → (token) partial-agg builds BOTH the corpus
    and target counts in a single pass (conditional sum — no second
    scan of the target slice); the two totals fold to one broadcast
    row; docs join the vocabulary token-keyed (AQE broadcasts it while
    it fits, shuffles both sides beyond that) and reduce per doc_id.
    Linear, skew-bounded by token frequencies already counted."""
    docs = load_table(spark, sf_dir, "documents")
    tok = spread(docs).select(
        "doc_id", "source", F.explode(X.tokens("text")).alias("tok")
    )
    # both count columns fold from the staged (source, tok) count
    # table — exact: c_all = Σ_sources c, c_t = the src0 slice
    from baronbatch_etl_spark.queries.catalog_corpus import (
        _token_source_counts,
    )

    vocab = (
        _token_source_counts(spark, sf_dir)
        .groupBy("tok")
        .agg(
            F.sum("c").alias("c_all"),
            F.sum(
                F.when(F.col("source") == "src0", F.col("c")).otherwise(
                    F.lit(0)
                )
            ).alias("c_t"),
        )
    )
    totals = vocab.agg(
        F.sum("c_all").alias("n_all"), F.sum("c_t").alias("n_t")
    )
    evidence = F.col("c_t") * F.col("n_all") - F.col("c_all") * F.col("n_t")
    return (
        tok.join(vocab, "tok")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(evidence).alias("affinity"),
            (F.sum(evidence) > 0).alias("target_like"),
        )
    )


# ---------------------------------------------------------------------------
# Exact-size weighted sampling without replacement (Efraimidis–Spirakis)
# ---------------------------------------------------------------------------

_WSAMP_K = 500

_SQL_WSAMP_U = (
    "((" + X.sql_char_poly_hash("concat('wsamp:', doc_id::VARCHAR)")
    + ") + 1.0) / 1000000008.0"
)


@register(
    "t_weighted_sample",
    oracle=f"""
WITH keyed AS (
    SELECT doc_id, source, n_chars,
           CAST(floor(ln({_SQL_WSAMP_U}) / n_chars * 1e9 + 0.5)
                AS BIGINT) AS es_key
    FROM documents
    WHERE n_chars > 0
)
SELECT doc_id, source, n_chars
FROM keyed
ORDER BY es_key DESC, doc_id
LIMIT {_WSAMP_K}
""",
    tags=("llm", "curation", "sampling", "topk"),
)
def t_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-size weighted sampling WITHOUT replacement — one pass,
    no per-stratum sort: the Efraimidis–Spirakis exponential race.
    Each doc draws a deterministic uniform u ∈ (0,1] (portable
    polynomial hash of 'wsamp:'||doc_id, so the sample is reproducible
    across runs AND engines) and enters the race with key
    ln(u)/weight; the k largest keys ARE a weight-proportional
    size-k sample (Efraimidis & Spirakis 2006 — monotone transform of
    u^(1/w)). Weight here = n_chars, i.e. sample probability tracks
    document length, the usual proxy for token contribution.

    Scale shape: the keying is a row-local projection (scan speed);
    the global top-k is TakeOrderedAndProject — every partition keeps
    only its local k, the driver merges P·k rows — so 'sample exactly
    50k docs from 100 TB, proportional to length' never sorts or
    shuffles the corpus. The race key is QUANTIZED to fixed point
    (floor(x·1e9 + 0.5), the repo's round-before-order discipline)
    before the top-k: JVM Math.log and DuckDB ln() may disagree in the
    last ulp, and an unquantized key lets two sub-ulp-adjacent values
    at the k-boundary select different row sets per engine. One ulp at
    |key| ≤ 21 is ~3.6e-15, i.e. ~4e-6 of a quantization step — a
    boundary flip needs the true value within that of a half-step.
    Equal quantized keys fall to the doc_id tiebreak, identical in
    both engines; the key itself stays OUT of the output.

    Complements t_mixture_sample (rate-based Bernoulli, approximate
    stratum sizes) with the exact-k primitive ("give me exactly N
    eval docs") the reference's fixed-size queue drains approximate
    (extractor/main.py:393-396 bounded batch pops).
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars") > 0
    )
    u = (
        X.char_poly_hash(
            F.concat(F.lit("wsamp:"), F.col("doc_id").cast("string"))
        )
        + F.lit(1.0)
    ) / F.lit(1000000008.0)
    return (
        docs.select(
            "doc_id",
            "source",
            "n_chars",
            F.floor(
                F.log(u) / F.col("n_chars") * F.lit(1e9) + F.lit(0.5)
            ).alias("es_key"),
        )
        .orderBy(F.desc("es_key"), F.asc("doc_id"))
        .limit(_WSAMP_K)
        .select("doc_id", "source", "n_chars")
    )


# ---------------------------------------------------------------------------
# Per-source quality quota: keep the best Q docs per domain
# ---------------------------------------------------------------------------

_QUOTA_PER_SOURCE = 50

_SQL_QUALITY = """
WITH q AS (
    SELECT doc_id, source, n_chars,
           CASE WHEN len(string_split(text, ' ')) > 0
                THEN len(list_filter(string_split(text, ' '),
                     x -> x IN ('the','a','and','of','to','in'))) * 1.0
                     / len(string_split(text, ' '))
                ELSE 0.0 END AS stop
    FROM documents
), scored AS (
    SELECT doc_id, source,
           least(1.0, n_chars / 400.0)
             * (1.0 - least(1.0, stop * 2.0)) AS quality
    FROM q
)
"""


@register(
    "t_domain_quota",
    oracle=f"""
{_SQL_QUALITY}
SELECT doc_id, source, quality
FROM (
    SELECT doc_id, source, quality,
           row_number() OVER (
               PARTITION BY source ORDER BY quality DESC, doc_id
           ) AS rn
    FROM scored
)
WHERE rn <= {_QUOTA_PER_SOURCE}
""",
    tags=("llm", "curation", "topk"),
)
def t_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality quota: cap every source at its Q best
    documents by the composite quality heuristic (the 'no single
    domain dominates the training mix, and what survives is each
    domain's best' curation pass — the quality-ranked complement of
    t_eval_sample's hash-random exact-k). Deterministic across
    engines: quality is the same IEEE expression both sides
    (t_quality_score's proven twin) and doc_id breaks ties.

    Scale shape: one source-keyed exchange; the rank-≤-Q filter
    compiles to WindowGroupLimit, so every map task pre-trims its
    partition to Q rows per source BEFORE the shuffle — the exchange
    carries O(sources × Q × tasks) rows, not the corpus. Skewed
    domains (one source = half of 100 TB) never concentrate: the
    partial limit bounds what any reducer receives.
    """
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        X.quality_score("text", "n_chars").alias("quality"),
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _QUOTA_PER_SOURCE)
        .select("doc_id", "source", "quality")
    )


# ---------------------------------------------------------------------------
# Leakage-safe split: near-duplicates never straddle train/val/test
# ---------------------------------------------------------------------------


def _leakage_split_oracle() -> str:
    """Composes the published MinHash-LSH clustering fragments with the
    split-bucket hash, applied to the cluster ROOT instead of doc_id."""
    bucket = (
        X.sql_char_poly_hash("concat('split:', root::VARCHAR)") + " % 1000"
    )
    return f"""
WITH RECURSIVE {L._minhash_ctes()},
{L._components_ctes()},
comp AS (
    SELECT s AS doc_id, least(s, min(d)) AS component
    FROM reach GROUP BY s
),
rooted AS (
    SELECT d.doc_id, coalesce(c.component, d.doc_id) AS root
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
)
SELECT doc_id, root,
       ({bucket}) AS bucket,
       CASE WHEN ({bucket}) < {_SPLIT_TRAIN} THEN 'train'
            WHEN ({bucket}) < {_SPLIT_VAL} THEN 'val'
            ELSE 'test' END AS split
FROM rooted
"""


@register(
    "t_split_leakage_safe",
    oracle=_leakage_split_oracle(),
    tags=("llm", "curation", "split", "dedup"),
)
def t_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/val/test split: hash the near-dup CLUSTER
    root, not the document id, so every member of a near-duplicate
    cluster lands in the same split. Plain hash-of-id splitting (the
    t_split_assign pass) leaks: two 0.9-Jaccard copies of one document
    can land one in train and one in test, and the eval score measures
    memorization of the duplicate, not generalization. Splitting by the
    connected-component root makes the train/test boundary respect the
    duplicate graph — decontamination at split time.

    Shapes: the MinHash-LSH pair generator and min-label-propagation
    components are the verified d_dup_clusters machinery (banded
    bucket joins, never all-pairs); singleton documents skip the
    component join via the left join + coalesce, so the only extra
    cost over t_split_assign is the pair graph itself — and the final
    bucket assignment is still a row-local hash, no extra shuffle.
    Stable under corpus growth exactly when the clusters are: a new
    duplicate joins its cluster's existing split rather than drawing
    a fresh coin.
    """
    sigs = L._doc_signatures(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(sigs, threshold=0.8)
    comp = D.connected_components(pairs).withColumnRenamed("node", "doc_id")
    # the universe of doc_ids comes from the fixture's pruned id
    # column — one row per document by construction, so the left
    # join + coalesce is value-identical to the former raw-table
    # scan (r11: drops a second documents.parquet pass)
    rooted = sigs.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("comp", "doc_id").alias("root")
    )
    bucket = (
        X.char_poly_hash(
            F.concat(F.lit("split:"), F.col("root").cast("string"))
        )
        % 1000
    )
    return rooted.select(
        "doc_id",
        "root",
        bucket.alias("bucket"),
        F.when(bucket < _SPLIT_TRAIN, "train")
        .when(bucket < _SPLIT_VAL, "val")
        .otherwise("test")
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity-proxy bucketing (head / middle / tail)
# ---------------------------------------------------------------------------


@register(
    "t_perplexity_bucket",
    oracle="""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
vocab AS (
    SELECT tok, CAST(count(*) AS BIGINT) AS c_tok FROM tok GROUP BY tok
),
totals AS (SELECT CAST(sum(c_tok) AS BIGINT) AS n_all FROM vocab),
scored AS (
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(length(bin(totals.n_all // v.c_tok))) AS BIGINT)
               AS surprisal
    FROM tok t JOIN vocab v USING (tok), totals
    GROUP BY t.doc_id
)
SELECT doc_id, n_tokens, surprisal,
       CAST(surprisal AS DOUBLE) / n_tokens AS ppl_proxy,
       CASE ntile(3) OVER (
                ORDER BY CAST(surprisal AS DOUBLE) / n_tokens, doc_id)
            WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
       END AS bucket
FROM scored
""",
    tags=("llm", "curation", "quality"),
)
def t_perplexity_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus bucketing (Wenzek et al. 2020): score every
    document by a unigram-LM perplexity proxy trained on the corpus
    itself, then tercile into head / middle / tail — the classic
    keep-the-head curation signal.

    Integer-exact surprisal: the per-token term is
    ``length(bin(N // c_tok))`` = ⌊log2(N/c)⌋+1 — an integer-valued
    log-surprisal that both engines compute bit-identically (no libm
    log, whose last-ulp differs across runtimes). The per-document
    score is a BIGINT sum, so executor order can't perturb it; the
    single double division surprisal/n_tokens is IEEE-exact-rounded,
    hence also bit-stable.

    Shapes: same two-shuffle skeleton as t_dsir_affinity — one token
    explode feeds a token-keyed partial agg (the "LM"), documents
    join it token-keyed and reduce per doc_id; the vocabulary total
    folds to one broadcast row. The tercile split is the EXACT
    ntile(3), computed through the distributed global rank
    (operators/ranking.py: range-shuffle on (ppl, doc_id) →
    per-partition sequence → broadcast offsets → bucket arithmetic)
    — doc-grain rows (10^11 at 100 TB) spread over P range
    partitions instead of the r8 verdict's single-partition
    WindowExec, with the oracle's ntile semantics preserved
    bit-for-bit. (The lossy alternative — two approx-quantile
    cutoffs in a map-side CASE, t_outlier_mad's pattern — is no
    longer needed: the exact form now scales too.)
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = spread(docs).select(
        "doc_id", F.explode(X.tokens("text")).alias("tok")
    )
    # the "LM" (corpus token counts) folds from the staged token-count
    # table — a vocab-sized re-agg instead of replaying the full token
    # explode+shuffle a second time; the doc-grain explode, the
    # token-keyed join and the per-doc reduction all stay in-plan
    from baronbatch_etl_spark.queries.catalog_corpus import (
        _token_source_counts,
    )

    vocab = (
        _token_source_counts(spark, sf_dir)
        .groupBy("tok")
        .agg(F.sum("c").alias("c_tok"))
    )
    totals = vocab.agg(F.sum("c_tok").alias("n_all"))
    surp = F.length(F.bin(F.expr("n_all div c_tok")))
    scored = (
        tok.join(vocab, "tok")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(surp).cast("long").alias("surprisal"),
        )
    )
    ppl = F.col("surprisal").cast("double") / F.col("n_tokens")
    bucketed = R.global_ntile(
        scored.withColumn("ppl_proxy", ppl),
        [F.col("ppl_proxy"), F.col("doc_id")],
        3,
        bucket_name="_tercile",
    )
    return bucketed.select(
        "doc_id",
        "n_tokens",
        "surprisal",
        "ppl_proxy",
        F.when(F.col("_tercile") == 1, "head")
        .when(F.col("_tercile") == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


# ---------------------------------------------------------------------------
# Per-source unigram compressibility (MDL code length / entropy profile)
# ---------------------------------------------------------------------------


@register(
    "t_source_entropy",
    oracle="""
WITH tok AS (
    SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
),
vocab AS (
    SELECT source, tok, CAST(count(*) AS BIGINT) AS c_tok
    FROM tok GROUP BY source, tok
),
totals AS (
    SELECT source, CAST(sum(c_tok) AS BIGINT) AS n_src,
           CAST(count(*) AS BIGINT) AS vocab_size
    FROM vocab GROUP BY source
)
SELECT v.source,
       t.n_src AS n_tokens,
       t.vocab_size,
       CAST(sum(v.c_tok * length(bin(t.n_src // v.c_tok))) AS BIGINT)
           AS code_len,
       CAST(sum(v.c_tok * length(bin(t.n_src // v.c_tok))) AS DOUBLE)
           / t.n_src AS bits_per_token
FROM vocab v JOIN totals t USING (source)
GROUP BY v.source, t.n_src, t.vocab_size
""",
    tags=("llm", "curation", "quality", "monitoring"),
)
def t_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram compressibility: the MDL code length of each
    source under its own unigram model — Σ c·(⌊log2(N/c)⌋+1) over the
    source's vocabulary — and the bits-per-token mean. A low-entropy
    source (boilerplate, templated spam) compresses far below the
    corpus norm and is a classic curation red flag; tracked per
    ingestion round it is a drift signal (the integer-exact cousin of
    t_corpus_drift's TV distance).

    Integer-exact: the per-type term c·(length(bin(N//c))) is pure
    BIGINT arithmetic — no libm log — so the sum is executor-order
    independent and bit-identical across engines; the one double
    division at the end is IEEE-exact.

    Shapes: explode → (source, token) partial agg (map-side combine
    absorbs token repetition before the exchange), then a source-keyed
    rollup; per-source totals ride the same grouped frame — two
    exchanges total, both keyed by bounded-cardinality columns. No
    token-keyed join-back at all (unlike the per-document scorers):
    the reduction is entirely over the vocabulary, which is orders of
    magnitude smaller than the corpus at 100 TB.
    """
    # the (source, token) counts are the staged token-count table;
    # the MDL fold below still runs in-plan here
    from baronbatch_etl_spark.queries.catalog_corpus import (
        _token_source_counts,
    )

    vocab = _token_source_counts(spark, sf_dir).select(
        "source", "tok", F.col("c").alias("c_tok")
    )
    totals = vocab.groupBy("source").agg(
        F.sum("c_tok").alias("n_src"),
        F.count("*").alias("vocab_size"),
    )
    term = F.col("c_tok") * F.length(F.bin(F.expr("n_src div c_tok")))
    return (
        vocab.join(F.broadcast(totals), "source")
        .groupBy("source", "n_src", "vocab_size")
        .agg(F.sum(term).cast("long").alias("code_len"))
        .select(
            "source",
            F.col("n_src").alias("n_tokens"),
            "vocab_size",
            "code_len",
            (F.col("code_len").cast("double") / F.col("n_src")).alias(
                "bits_per_token"
            ),
        )
    )
