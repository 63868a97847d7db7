"""Deduplication operators for LLM-data pipelines: exact, MinHash-LSH,
SimHash, n-gram Jaccard, containment and edit distance (north-star
family; the reference's only dedup is keep-first on a key,
utils/clean_db.py:14-24 — covered by catalog_aggs.a8).

One signature table: :func:`signatures` is the only place (outside the
streaming micro-batch key gate, which calls the same kernel) where text
becomes MinHash signatures, shingle sets and SimHash fingerprints — one
call of ``fast_text.text_signatures_fast`` per document, which
tokenizes and hashes the text once. The expression twins below
(:func:`minhash_signature`, :func:`simhash`) and ``text.shingle_hashes``
are the reference implementations it is parity-tested against.
Every pair operator below reads that frame (or a row subset of it) as
its first argument and never materializes it; see the contract in
:func:`signatures`.

One Hamming-blocking operator: :func:`hamming_pairs` blocks any
fixed-width code on four pigeonhole blocks and verifies by popcount in
the join condition. :func:`simhash_near_pairs` (60-bit SimHash) and
``multimodal.fingerprint_near_pairs`` (56-bit payload aHash) call it.

Scale design:
  * signatures are row-local — computed in the scan's own stage, no
    shuffle;
  * the only shuffles are the candidate-blocking joins (band keys,
    SimHash blocks, rare shingles, prefix tokens — standard production
    shapes) and the final pair verification joins;
  * all hash constants are fixed literals so runs are deterministic
    and the DuckDB oracle can replay them bit-for-bit.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from baronbatch_etl_spark.io import (
    fixed_point,
    hash_spread,
    materialize,
    spread,
)
from baronbatch_etl_spark.operators.fast_text import text_signatures_fast
from baronbatch_etl_spark.operators.text import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_K,
    POLY_P,
    SIMHASH_BITS,
    SIMHASH_HALF,
    char_poly_hash,
    char_poly_hash131,
    shingle_hashes,
    token_hashes,
    token_hashes131,
)

LSH_BANDS = 4  # 4 bands × 4 rows ⇒ P(candidate) = 1-(1-s⁴)⁴
LSH_ROWS = MINHASH_K // LSH_BANDS

#: Prefix width of the signature frame's ``pfx`` column (the DuckDB
#: oracle of d_edit_distance reads it too). edit_distance_pairs
#: accepts any prefix_len <= this width exactly, and raises beyond it.
STAGED_PREFIX_LEN = 64


def signatures(docs: DataFrame) -> DataFrame:
    """The signature frame of a document frame: every column of
    ``docs`` (which must carry ``doc_id`` and ``text``) plus

    * ``pfx`` — the first :data:`STAGED_PREFIX_LEN` characters;
    * ``sig``, ``sh`` — the MinHash(16) signature and the sorted,
      deduped word-3-gram shingle hashes;
    * ``simhash`` — the 60-bit SimHash fingerprint;
    * ``sh4`` — the sorted, deduped ``text.CONTAM_SHINGLE_N``-gram
      shingle hashes.

    All four signature columns are fields of ONE
    ``fast_text.text_signatures_fast`` call, which tokenizes and hashes
    each document once, so the text crosses the Python boundary once
    and the kernel runs whole whichever columns a caller selects.

    Contract for the pair operators of this module, which take this
    frame (or a row subset of it) as their first argument: they never
    materialize their input. Each of them reads it from several plan
    branches (blocking plus both verification sides), so a caller that
    builds the frame lazily and reuses it materializes it — the
    session-staged parquet fixture (catalog_llm._doc_signatures), or
    ``cache()`` + ``unpersist()`` around a streaming gate
    (curate_ingest). :func:`io.materialize` states the fault-tolerance
    trade of each choice.

    The result is lazy: nothing here checkpoints or caches.
    """
    return (
        spread(docs)
        .select(
            "*",
            F.substring(F.col("text"), 1, STAGED_PREFIX_LEN).alias("pfx"),
            text_signatures_fast(F.col("text")).alias("_x"),
        )
        .select(
            *docs.columns, "pfx", "_x.sig", "_x.sh", "_x.simhash", "_x.sh4"
        )
    )


def exact_dedup_survivors(docs: DataFrame) -> DataFrame:
    """Exact dedup by content hash: min doc_id per md5(text) survives.

    At scale: one hash-groupBy shuffle on the digest — the canonical
    100 TB exact-dedup plan (digest first, never shuffle full text).
    """
    return (
        docs.select("doc_id", F.md5("text").alias("text_md5"))
        .groupBy("text_md5")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies"))
    )


def minhash_signature_from_hashes(hs: Column) -> Column:
    """array<long> MinHash signature (k=16) from pre-hashed shingles.

    Row-local: sig[j] = min over shingles of (A[j]·h + B[j]) mod P.
    Empty shingle sets sign as P (sentinel > any hash).
    """

    def perm(j: int):
        a, b = MINHASH_A[j], MINHASH_B[j]
        return lambda h: (F.lit(a) * h + F.lit(b)) % POLY_P

    sigs = [
        F.when(
            F.size(hs) > 0, F.array_min(F.transform(hs, perm(j)))
        ).otherwise(F.lit(POLY_P).cast("long"))
        for j in range(MINHASH_K)
    ]
    return F.array(*sigs)


def minhash_signature(text: Column, n: int = 3) -> Column:
    """MinHash signature straight from text (convenience wrapper)."""
    return minhash_signature_from_hashes(shingle_hashes(text, n))


#: The LSH band keys of an ``array<long>`` column ``sig`` as ONE SQL
#: expression, built once at import: an ``array<string>`` whose band
#: ``b`` joins signature slots ``b·ROWS+1 … b·ROWS+ROWS`` with ``-``.
#: Every banding site (``lsh_candidate_pairs``, the streaming
#: admission keys) reads this string, so band keys are built one way
#: only — and a plan build parses one expression instead of crossing
#: the Py4J gateway for each of the ~40 Column calls it replaces.
LSH_BAND_KEYS_SQL = "array({})".format(
    ", ".join(
        "concat_ws('-', {})".format(
            ", ".join(
                f"CAST(element_at(sig, {b * LSH_ROWS + r + 1}) AS STRING)"
                for r in range(LSH_ROWS)
            )
        )
        for b in range(LSH_BANDS)
    )
)
#: ``(band, key)`` rows of the band keys, for ``selectExpr``.
LSH_BANDS_EXPLODE_SQL = f"posexplode({LSH_BAND_KEYS_SQL}) AS (band, key)"

#: Exact Jaccard ``i / (|A| + |B| − i)``, ``i = |A ∩ B|``, of the
#: shingle-hash arrays ``sh_a`` and ``sh_b`` as ONE SQL expression, so
#: pair verification stays in the JVM instead of shipping both arrays
#: to a Python worker. ``sh`` is sorted and deduped by the signature
#: contract, so ``size(array_intersect)`` is ``|A ∩ B|`` and the integer
#: counts give the IEEE double the DuckDB oracle computes. The
#: one-element ``transform`` binds ``i`` once: the verify filter is
#: pushed into the join condition, and a second ``array_intersect``
#: there would double the per-candidate cost. Two empty sets score 0.0
#: (the guard keeps ANSI's DIVIDE_BY_ZERO out); otherwise the
#: denominator is at least ``max(|A|, |B|) > 0``.
JACCARD_SQL = (
    "element_at(transform(array(size(array_intersect(sh_a, sh_b))), "
    "i -> CASE WHEN size(sh_a) + size(sh_b) = 0 THEN 0.0D "
    "ELSE CAST(i AS DOUBLE) / (size(sh_a) + size(sh_b) - i) END), 1)"
)


def lsh_candidate_pairs(base: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b) LSH band-collision candidates from a
    (doc_id, sig, sh) signature frame — the shared candidate generator
    for every verify flavor (exact Jaccard, edit distance, ...).

    Docs with no shingles (< n tokens) all share the sentinel
    signature — banding them would make every short doc a candidate
    pair with every other (O(n²) on that subset); they can never
    verify, so they are excluded up front.
    """
    banded = base.where("size(sh) > 0").selectExpr(
        "doc_id", LSH_BANDS_EXPLODE_SQL
    )
    # the doc_id hash also clusters the candidate distinct below, so
    # it needs no second exchange
    left = hash_spread(banded, "doc_id").alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            F.expr("l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id"),
        )
        .selectExpr("l.doc_id AS doc_a", "r.doc_id AS doc_b")
        .distinct()
    )


def _require_sig_base(sigs: DataFrame, cols: tuple[str, ...]) -> None:
    """Loud misuse guard for the signature frame a pair operator is
    handed: a frame missing a required column would otherwise fail deep
    inside the plan with an unresolved-attribute error (or worse,
    resolve against an unrelated column of the same name)."""
    missing = [c for c in cols if c not in sigs.columns]
    if missing:
        raise ValueError(
            f"signature frame is missing column(s) {missing}; expected "
            f"at least {list(cols)} (doc_id + the signatures() outputs)"
        )


def minhash_lsh_pairs(sigs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH banding, verified by exact
    shingle Jaccard ≥ threshold, over a :func:`signatures` frame (needs
    ``doc_id``, ``sig``, ``sh``).

    Plan: explode bands (×4 rows) → self-join on (band, key) for
    candidates → join shingle sets back → exact-verify with
    :data:`JACCARD_SQL` in the JVM (no Python worker). Shuffle only on
    band keys and candidate doc ids. Column pruning gives the banding
    branch (doc_id, sig) and the verify branches (doc_id, sh), so a
    staged frame is never read wider than a branch needs."""
    _require_sig_base(sigs, ("doc_id", "sig", "sh"))
    base = sigs.select("doc_id", "sig", "sh")
    cand = lsh_candidate_pairs(base)
    a = base.selectExpr("doc_id AS doc_a", "sh AS sh_a")
    b = base.selectExpr("doc_id AS doc_b", "sh AS sh_b")
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .selectExpr("doc_a", "doc_b", f"{JACCARD_SQL} AS jaccard")
        # a DOUBLE literal: a bare 0.8 parses as a DECIMAL in SQL,
        # which would put a cast on the compared column
        .where(f"jaccard >= {float(threshold)!r}D")
    )


def containment_pairs(
    sigs: DataFrame,
    threshold_pct: int = 90,
    rare_per_doc: int = 2,
    df_cap: int = 1000,
) -> DataFrame:
    """Asymmetric containment near-dup pairs: rare-shingle blocking,
    verified by exact shingle containment ``|A∩B| / min(|A|, |B|)``
    ≥ threshold.

    Containment is the subset-duplication detector Jaccard
    structurally misses: a short document quoted whole inside a long
    one has Jaccard ≈ |A|/|B| (arbitrarily low) but containment 1.0
    (Broder 1997 distinguishes "resemblance" from "containment" for
    exactly this). MinHash-LSH banding is the WRONG candidate
    generator here — band-collision probability tracks resemblance,
    so low-Jaccard subset pairs are missed — so candidates come from
    **rare-shingle blocking** (the entity-resolution pattern): each
    doc posts its ``rare_per_doc`` globally-rarest shingles (ties by
    hash) against the full shingle inverted index. A fully contained
    doc shares ALL its shingles with its container, so full
    containment is found with probability 1; at threshold t the miss
    chance is ≈ (1−t)^rare_per_doc. Ultra-common shingles
    (df > ``df_cap``) are skipped as blocking keys — the hub-cap
    precedent: quadratic candidate cost, no discriminative value.

    Scale shape: one shingle-keyed df count (the token-aggregate
    family's shuffle), one rare→index equi-join whose fan-out per
    posting is the shingle's df (≤ df_cap), then candidate-bounded
    verification. Output carries ``inner_doc`` — the smaller shingle
    set, the drop candidate (ties → doc_a, mirrored in the oracle).
    Threshold test is pure integer arithmetic; the score is one IEEE
    division.

    Reads ``doc_id`` and ``sh`` of a :func:`signatures` frame (``sh``
    is sorted and deduped by the signature kernel's contract — see
    ``fast_text.text_signatures_fast``).
    """
    _require_sig_base(sigs, ("doc_id", "sh"))
    base = sigs.select("doc_id", "sh")
    index = base.select("doc_id", F.explode("sh").alias("h"))
    dfc = index.groupBy("h").agg(F.count("*").cast("long").alias("df"))
    w_rare = Window.partitionBy("doc_id").orderBy("df", "h")
    rare = (
        index.join(dfc, "h")
        .withColumn("rn", F.row_number().over(w_rare))
        .filter((F.col("rn") <= rare_per_doc) & (F.col("df") <= df_cap))
        .select(F.col("doc_id").alias("post_id"), "h")
    )
    cand = (
        rare.join(index.withColumnRenamed("doc_id", "other_id"), "h")
        .filter(F.col("post_id") != F.col("other_id"))
        .select(
            F.least("post_id", "other_id").alias("doc_a"),
            F.greatest("post_id", "other_id").alias("doc_b"),
        )
        .distinct()
    )
    a = base.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = base.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    j = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
            F.size("sh_a").alias("na"),
            F.size("sh_b").alias("nb"),
        )
    )
    return (
        j.filter(
            (F.col("na") > 0)
            & (F.col("nb") > 0)
            & (
                F.col("inter") * 100
                >= F.least("na", "nb") * F.lit(threshold_pct)
            )
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double") / F.least("na", "nb")
            ).alias("containment"),
            F.when(F.col("na") <= F.col("nb"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("inner_doc"),
        )
    )


def edit_distance_pairs(
    sigs: DataFrame,
    prefix_len: int = STAGED_PREFIX_LEN,
    max_dist: int = 8,
) -> DataFrame:
    """Character-level near-dup pairs: LSH band-collision candidates
    verified by bounded-prefix Levenshtein ≤ ``max_dist``.

    Edit distance is the strongest (and most expensive) exact
    verifier, so it never runs all-pairs: candidates come from the
    shared MinHash banding (`lsh_candidate_pairs` — shuffle only on
    band keys), and the DP is doubly bounded — on a ``prefix_len``
    char prefix AND thresholded (Spark's 3-arg ``levenshtein`` stops
    at ``max_dist+1``, O(k·len) not O(len²); pairs over the threshold
    return −1 and are filtered). At 100 TB the verify cost is
    O(candidates · k · prefix_len) — candidate-bounded, like the
    Jaccard verify.

    Output: (doc_a, doc_b, prefix_dist, prefix_sim) where prefix_sim
    = 1 − dist/max(|pfx_a|, |pfx_b|) (one IEEE division — oracle
    bit-stable).

    Reads ``doc_id``, ``pfx``, ``sig`` and ``sh`` of a
    :func:`signatures` frame. Its ``pfx`` holds
    :data:`STAGED_PREFIX_LEN` characters and is re-trimmed to
    ``prefix_len`` here — exact, since a substring of the stored prefix
    IS the requested prefix. Asking for more than the stored width
    would silently give stored-width distances, so it raises.
    """
    _require_sig_base(sigs, ("doc_id", "pfx", "sig", "sh"))
    if prefix_len > STAGED_PREFIX_LEN:
        raise ValueError(
            f"prefix_len={prefix_len} exceeds the signature frame's "
            f"prefix width ({STAGED_PREFIX_LEN})"
        )
    base = sigs.select(
        "doc_id",
        # stored pfx is substring(text, 1, STAGED_PREFIX_LEN), so this
        # equals substring(text, 1, prefix_len)
        F.substring(F.col("pfx"), 1, prefix_len).alias("pfx"),
        "sig",
        "sh",
    )
    cand = lsh_candidate_pairs(base)
    a = base.select(F.col("doc_id").alias("doc_a"), F.col("pfx").alias("pfx_a"))
    b = base.select(F.col("doc_id").alias("doc_b"), F.col("pfx").alias("pfx_b"))
    dist = F.levenshtein(F.col("pfx_a"), F.col("pfx_b"), max_dist)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            dist.alias("prefix_dist"),
            F.greatest(F.length("pfx_a"), F.length("pfx_b")).alias("_m"),
        )
        .filter(
            (F.col("prefix_dist") >= 0) & (F.col("prefix_dist") <= max_dist)
        )
        .select(
            "doc_a",
            "doc_b",
            "prefix_dist",
            (
                F.lit(1.0)
                - F.col("prefix_dist").cast("double") / F.col("_m")
            ).alias("prefix_sim"),
        )
    )


def connected_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Cluster near-dup pairs into components: (node, component) where
    component = min doc_id reachable through the pair graph — the
    standard keep-one-per-cluster dedup contract.

    Min-label propagation: each round every node takes the minimum of
    its own label and its neighbors' labels; converges in O(graph
    diameter) rounds (dedup clusters are shallow — near-clique, tiny
    diameter). The rounds run on :func:`io.fixed_point`, the
    legitimate iterative-algorithm exception to "no driver-side
    loops": each is one fully distributed join+agg, and a graph still
    changing after ``max_iter`` rounds raises. At 100 TB the same loop
    holds — GraphFrames/GraphX use exactly this alternating-join shape.
    """
    # symmetrize with one explode, not a 2-branch union — the union
    # form scans (and for LSH input, recomputes) the pair plan twice;
    # materialized, since every round joins the edge list
    edges = materialize(
        pairs.selectExpr(
            "explode(array(struct(doc_a AS s, doc_b AS d),"
            " struct(doc_b AS s, doc_a AS d))) AS e"
        )
        .select("e.s", "e.d")
        .distinct()
    )
    # seed with round 1 directly: label(node) = min(node, neighbors)
    # — one distributed agg instead of a full join round
    labels = edges.groupBy(F.col("s").alias("node")).agg(
        F.least(F.min("s"), F.min("d")).alias("comp")
    )

    def step(labels: DataFrame) -> DataFrame:
        prop = edges.join(labels, edges.d == labels.node).select(
            F.col("s").alias("node"), "comp"
        )
        return (
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )

    def label_sum(labels: DataFrame):
        # labels only ever DECREASE (min of a growing neighbor set)
        # over a fixed node set: equal sums in a row ⟺ no change
        comp = F.col("comp").cast("decimal(38,0)")
        return labels.agg(F.sum(comp)).first()[0]

    labels, converged = fixed_point(labels, step, label_sum, max_iter)
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "— pathological chain-shaped dup graph; raise max_iter"
        )
    return labels


def near_dup_removed(pairs: DataFrame) -> DataFrame:
    """The doc ids a keep-one-per-cluster pass drops: every node of the
    ``(doc_a, doc_b)`` pair graph that is not its component's minimum
    (:func:`connected_components`). Docs outside the graph are never
    removed, so survivors = candidates anti-joined on this frame."""
    comp = connected_components(pairs)
    return comp.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("doc_id")
    )


def simhash(text: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash fingerprint over token hashes (row-local).

    bit b is set iff Σ_tokens (2·bit_b(h) − 1) > 0, where bits
    0..HALF−1 vote from the base-31 token hash and bits HALF.. from
    the independent base-131 hash (each family carries only
    log2(POLY_P) ≈ 30 informative bits).
    """
    hs1 = token_hashes(text)
    hs2 = token_hashes131(text)

    def voter(b: int):
        return lambda s, h: s + (
            F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1
        )

    acc = F.lit(0).cast("long")
    for b in range(bits):
        src, shift = (hs1, b) if b < SIMHASH_HALF else (hs2, b - SIMHASH_HALF)
        vote = F.aggregate(src, F.lit(0).cast("long"), voter(shift))
        acc = acc + F.when(vote > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0))
    return acc


def simhash_near_pairs(sigs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash: :func:`hamming_pairs` over the
    60-bit fingerprint, whose four 15-bit blocks make the search
    complete for hamming ≤ 3.

    Reads ``doc_id`` and ``simhash`` of a :func:`signatures` frame
    (renamed ``sh`` inside, where no shingle set is in scope)."""
    if max_hamming > 3:
        raise ValueError(
            "4-block blocking is only complete for max_hamming <= 3; "
            f"got {max_hamming} — pairs differing in every block would be "
            "silently missed (use more/smaller blocks for larger radii)"
        )
    _require_sig_base(sigs, ("doc_id", "simhash"))
    base = sigs.selectExpr("doc_id", "simhash AS sh")
    return hamming_pairs(base, SIMHASH_BITS, max_hamming)


def hamming_pairs(codes: DataFrame, bits: int, max_hamming: int) -> DataFrame:
    """``(doc_a, doc_b, hamming)`` for every pair of ``(doc_id, sh)``
    rows whose ``bits``-wide codes differ in at most ``max_hamming``
    bits, ``doc_a < doc_b`` — the engine's one Hamming-blocking pair
    operator (Manku, Jain and Das Sarma, WWW 2007: one block scheme
    serves any fixed-width fingerprint). SimHash pairs and payload
    aHash pairs both run on it.

    The code splits into four ``bits // 4``-bit blocks, and a pair is a
    candidate when it agrees on a whole block. Pigeonhole: a pair
    within hamming ≤ 3 leaves at least one block untouched, so the
    search is complete there; beyond 3 a pair is found exactly when a
    block survives, the usual recall/cost dial of a perceptual code.

    Code bits are CORRELATED across similar inputs, so block buckets
    skew beyond what uniform hashing suggests; wide keys (15 bits at
    60, 14 at 56) keep the candidate multiset small where 8-bit keys
    put millions of pairs through the verifier. The verification
    evaluates INLINE in the join condition — popcount plus a
    first-colliding-block predicate that makes each qualifying pair
    come out exactly once — so no candidate row ever hits an exchange
    or a distinct: the whole operator is one broadcast/hash join probe
    in codegen. ``codes`` feeds both join sides and is not
    materialized here (the pair-operator contract of
    :func:`signatures`)."""
    width = bits // 4
    mask = (1 << width) - 1

    def block(sh: str, i: int) -> str:
        return f"(shiftright({sh}, {width * i}) & {mask})"

    blocks = codes.selectExpr(
        "doc_id",
        "sh",
        "posexplode(array({})) AS (block, key)".format(
            ", ".join(f"CAST({block('sh', i)} AS BIGINT)" for i in range(4))
        ),
    )
    hamming = "bit_count(CAST((l.sh ^ r.sh) AS BIGINT))"
    # l.block is the FIRST block where the two codes agree: all earlier
    # blocks must differ, so each pair comes out exactly once
    first_block = _fold_sql(
        "OR",
        [
            _fold_sql(
                "AND",
                [f"(l.block = {k})"]
                + [f"({block('l.sh', i)} != {block('r.sh', i)})" for i in range(k)],
            )
            for k in range(4)
        ],
    )
    # The build side stays unhinted: under the broadcast threshold
    # Spark broadcasts it; beyond, AQE falls back to a shuffle join
    # with skew splitting — both correct at their scale.
    l = hash_spread(blocks, "doc_id").alias("l")
    r = blocks.alias("r")
    verify = _fold_sql(
        "AND",
        [
            "(l.block = r.block)",
            "(l.key = r.key)",
            "(l.doc_id < r.doc_id)",
            f"({hamming} <= {int(max_hamming)})",
            first_block,
        ],
    )
    return l.join(r, F.expr(verify)).selectExpr(
        "l.doc_id AS doc_a",
        "r.doc_id AS doc_b",
        f"{hamming} AS hamming",
    )


def _fold_sql(op: str, terms: list[str]) -> str:
    """``((t0 op t1) op t2) …`` — left-deep like a chain of Column
    operators; the SQL parser would balance an unparenthesized chain
    of four or more terms into a differently shaped plan."""
    return functools.reduce(lambda acc, t: f"({acc} {op} {t})", terms)


def ngram_jaccard_pairs(
    sigs: DataFrame, threshold: float, max_char_delta: int = 10
) -> DataFrame:
    """Exact n-gram Jaccard over blocked candidate pairs: only
    same-language docs within max_char_delta chars are compared, and a
    POSITIONAL PREFIX FILTER (AllPairs/PPJoin) prunes the pair space
    before any Jaccard math.

    Prefix principle: shingle sets are sorted ascending (the global
    canonical order); Jaccard(A,B) ≥ τ implies |A∩B| ≥ ⌈τ·|A|⌉, so A
    and B must share a hash within their first |·| − ⌈τ·|·|⌉ + 1
    elements. Candidates therefore come from an equi-join on
    (lang, prefix_hash) — high-cardinality keys that hash-distribute
    evenly — instead of a near-cross probe within each language
    block. Lossless for τ > 0: the survivor set is identical, so the
    exact-verify stage (and the oracle) are unchanged. At 100 TB this
    is the difference between O(pairs-in-stratum) and
    O(pairs-sharing-a-rare-prefix-token).

    The surviving candidates are verified by :data:`JACCARD_SQL` in
    the JVM (no Python worker).

    Reads ``doc_id``, ``lang``, ``n_chars`` and the sorted, deduped
    word-3-gram hashes ``sh`` of a :func:`signatures` frame.
    """
    if threshold <= 0:
        raise ValueError("prefix filter requires threshold > 0")
    _require_sig_base(sigs, ("doc_id", "lang", "n_chars", "sh"))
    hashed = sigs.select("doc_id", "lang", "n_chars", "sh")
    # first (len − ⌈τ·len⌉ + 1) of the ascending-sorted distinct hashes
    pref_len = F.size("sh") - F.ceil(
        F.lit(float(threshold)) * F.size("sh")
    ).cast("int") + 1
    pref = hashed.select(
        "doc_id", "lang", "n_chars",
        F.explode(F.slice("sh", F.lit(1), pref_len)).alias("tok"),
    )
    # the doc_id hash also clusters the candidate distinct below, so it
    # needs no second exchange (AQE would coalesce that one to a task)
    a = hash_spread(pref, "doc_id").alias("a")
    b = pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.abs(F.col("a.n_chars") - F.col("b.n_chars"))
                <= max_char_delta
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()  # a pair can share several prefix hashes
    )
    return (
        cand.join(hashed.select(F.col("doc_id").alias("doc_a"),
                                F.col("sh").alias("sh_a")), "doc_a")
        .join(hashed.select(F.col("doc_id").alias("doc_b"),
                            F.col("sh").alias("sh_b")), "doc_b")
        .selectExpr("doc_a", "doc_b", f"{JACCARD_SQL} AS jaccard")
        .filter(F.col("jaccard") >= threshold)
    )


# --- exact repeated-span detection (substring-level dedup) -----------------

SPAN_K = 8  # tokens per span


def repeated_spans(
    docs: DataFrame, k: int = SPAN_K, min_docs: int = 2
) -> DataFrame:
    """Exact repeated k-token spans across the corpus — the hashed
    k-gram approximation of suffix-array substring dedup ("train-set
    memorization spans"; no reference analogue, the corpus-level twin
    of utils/clean_db.py:14-24's row dedup).

    Returns (span, n_docs, n_occ): every k-token window that appears
    in ≥ min_docs distinct documents, with its distinct-doc count and
    total occurrence count.

    Scale: span extraction is a row-local explode at scan speed; the
    ONLY shuffle is the hash-partitioned groupBy on the span key, with
    map-side partial aggregation folding each file's repeats before
    the exchange. At 100 TB, group by xxhash64(span) instead of the
    span string so shuffle rows are 8 B — collisions only ever merge
    counts and are re-verified by the string-keyed pass over the
    (tiny) surviving span set. Span strings are kept here so the
    DuckDB oracle can replay the exact grouping.
    """
    toks = F.split(F.col("text"), " ")
    spans = F.when(
        F.size(toks) >= k,
        F.expr(
            f"transform(sequence(0, size(split(text, ' ')) - {k}), "
            f"i -> array_join(slice(split(text, ' '), i + 1, {k}), ' '))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        spread(docs).select("doc_id", F.explode(spans).alias("span"))
        .groupBy("span")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


# --- Bloom-filter incremental dedup ----------------------------------------

BLOOM_BITS = 32_768  # 1024 × 32-bit words
BLOOM_WORD = 32
BLOOM_K = 4  # probes per key


def _bloom_positions(key: Column) -> Column:
    """array<long> of BLOOM_K bit positions via double hashing:
    pos_i = (h1 + i·h2) mod BLOOM_BITS, i = 1..K. Both hashes are the
    portable polynomial folds, so DuckDB replays identical bits."""
    h1 = char_poly_hash(key)
    h2 = char_poly_hash131(key)
    return F.transform(
        F.sequence(F.lit(1), F.lit(BLOOM_K)),
        lambda i: (h1 + i.cast("long") * h2) % BLOOM_BITS,
    )


def bloom_build(corpus: DataFrame, key: str = "text") -> DataFrame:
    """Fold a corpus into a Bloom filter: (word, bits) rows, ≤ 1024 of
    them (BLOOM_BITS/BLOOM_WORD).

    Scale: this is how a new crawl is deduped against a 100 TB corpus
    WITHOUT an O(corpus) join per batch — one linear pass builds the
    filter (map-side bit_or partials, then a 1024-row exchange), the
    result broadcasts to every executor, and membership probes are
    thereafter map-only. Size BLOOM_BITS ≈ 10 bits/key for ~1% false
    positives; false negatives are impossible, so the filter is a
    sound pre-filter for an exact verify of flagged rows only.
    """
    pos = spread(corpus).select(
        F.explode(_bloom_positions(F.col(key))).alias("pos")
    )
    return (
        pos.groupBy((F.col("pos") / BLOOM_WORD).cast("long").alias("word"))
        .agg(
            F.bit_or(
                # python shiftleft() wants a literal shift; the SQL
                # form takes the per-row bit offset column
                F.expr(f"shiftleft(1L, CAST(pos % {BLOOM_WORD} AS INT))")
            ).alias("bits")
        )
    )


def bloom_probe(
    batch: DataFrame, bloom: DataFrame, key: str = "text"
) -> DataFrame:
    """Probe every batch row against a built Bloom filter; adds
    boolean ``bloom_hit`` (true ⇒ key is possibly in the corpus,
    false ⇒ DEFINITELY new). The filter side is broadcast; the only
    shuffle is the batch-local regroup folding the K probe bits back
    to one row — the corpus is never touched."""
    probes = spread(batch).select(
        "*", F.posexplode(_bloom_positions(F.col(key))).alias("_i", "pos")
    ).withColumn("word", (F.col("pos") / BLOOM_WORD).cast("long"))
    joined = probes.join(F.broadcast(bloom), "word", "left")
    hit = F.coalesce(
        F.col("bits").bitwiseAND(
            F.expr(f"shiftleft(1L, CAST(pos % {BLOOM_WORD} AS INT))")
        )
        != 0,
        F.lit(False),
    )
    group_cols = [c for c in batch.columns]
    return (
        joined.groupBy(*group_cols)
        .agg(F.bool_and(hit).alias("bloom_hit"))
    )
