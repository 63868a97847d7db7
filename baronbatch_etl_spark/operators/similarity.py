"""Similarity-search operators over embedding columns (north-star
family; `embeddings` fixture: vec_id, embedding array<float>, label).

Cosine math is a row-local sequential fold in DOUBLE (same bits in
any engine that folds left-to-right), so even the similarity scores
are oracle-checkable. Scale path: brute force is the correctness
baseline; the IVF variant prunes the search to one coarse cell before
scoring — at 100 TB the cell assignment comes from a trained coarse
quantizer, here the pre-assigned `label` plays that role.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from baronbatch_etl_spark.io import spread

#: A pairwise vector metric over two array columns (dot, cosine, sqdist).
Metric = Callable[[Column, Column], Column]


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as a sequential DOUBLE fold over zipped arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    """√Σ aᵢ² (DOUBLE fold)."""
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """dot / (‖a‖·‖b‖), NULL when either norm is 0 — DuckDB's answer
    for 0/0 in :func:`sql_cosine`, and NULL sorts last under DESC in
    both engines, so an all-zero vector ranks last instead of aborting
    the query under ANSI division."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def _score_one(
    embeddings: DataFrame,
    query_vec_id: int,
    metric: Metric,
    name: str,
    *cols: str,
    q_cols: Sequence[Column] = (),
    corpus_cols: Sequence[Column] = (),
    on: Column | None = None,
    how: str = "cross",
) -> DataFrame:
    """(*cols, name): every vector except ``query_vec_id`` scored by
    ``metric(embedding, q_emb)`` against that one stored vector.

    The query row (``q_emb`` plus ``q_cols``) is broadcast and filtered
    WITHOUT the spread exchange — its vec_id filter pushes to the scan;
    only the corpus branch (plus ``corpus_cols``, computed after the
    spread so a UDF among them runs in parallel) is repartitioned.
    ``on`` and ``how`` are the broadcast join's candidate predicate and
    type (an equality on a query column with ``how="inner"`` plans a
    broadcast hash join); scoring is one map-only pass, so the corpus
    never shuffles."""
    q = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_emb"), *q_cols
    )
    corpus = spread(embeddings.filter(F.col("vec_id") != query_vec_id))
    return (
        corpus.select("*", *corpus_cols)
        .join(F.broadcast(q), on, how)
        .select(*cols, metric(F.col("embedding"), F.col("q_emb")).alias(name))
    )


def _score_set(
    embeddings: DataFrame,
    query_ids: list[int],
    metric: Metric,
    name: str,
    *cols: str | Column,
    on: Column,
    q_cols: Sequence[Column] = (),
) -> DataFrame:
    """(*cols, name): the corpus scored by ``metric(embedding, q_emb)``
    against a bounded SET of stored query vectors (``q_id``, ``q_emb``
    plus ``q_cols``), for every (query, vector) pair that passes
    ``on``. The query set broadcasts and the corpus is scored in one
    map-only pass — at 100 TB only per-query survivors of a later
    :func:`_topk` ever shuffle."""
    q = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"), *q_cols
    )
    return (
        spread(embeddings)
        .crossJoin(F.broadcast(q))
        .filter(on)
        .select(*cols, metric(F.col("embedding"), F.col("q_emb")).alias(name))
    )


def _topk(
    scored: DataFrame,
    score: str,
    k: int,
    by: str | None = None,
    ascending: bool = False,
) -> DataFrame:
    """The one ranking rule of the similarity family: the ``k`` best
    rows by (``score``, vec_id) — highest score first (lowest with
    ``ascending``), ties to the lower vec_id.

    Without ``by`` it is ``orderBy().limit()``, which Spark plans as
    TakeOrderedAndProject (per-partition heads, one driver merge). With
    ``by`` the k are per value of that column, numbered in ``rank`` by
    a row_number window whose ``rank <= k`` compiles to a
    WindowGroupLimit partial top-k ahead of the exchange."""
    key = F.col(score).asc() if ascending else F.col(score).desc()
    if by is None:
        return scored.orderBy(key, "vec_id").limit(k)
    w = Window.partitionBy(by).orderBy(key, "vec_id")
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def brute_force_topk(
    embeddings: DataFrame, query_vec_id: int, k: int = 10
) -> DataFrame:
    """Exact cosine top-k against one stored vector.

    The query row is broadcast (1 row), scoring is a map-only pass,
    and top-k is TakeOrderedAndProject — the optimal distributed plan
    for brute-force ANN baseline at any scale.
    """
    scored = _score_one(
        embeddings, query_vec_id, cosine, "cos_sim", "vec_id", "label"
    )
    return _topk(scored, "cos_sim", k)


def ivf_topk(embeddings: DataFrame, query_vec_id: int, k: int = 10) -> DataFrame:
    """IVF-style pruned search: score only vectors in the query's
    coarse cell (`label` = pre-assigned cell id). At scale the table
    is partitioned/bucketed by cell, so this touches one partition
    instead of all of them."""
    scored = _score_one(
        embeddings,
        query_vec_id,
        cosine,
        "cos_sim",
        "vec_id",
        "label",
        q_cols=[F.col("label").alias("q_label")],
        on=F.col("label") == F.col("q_label"),
        how="inner",
    )
    return _topk(scored, "cos_sim", k)


def srp_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    planes: int = 6,
    radius: int = 1,
) -> DataFrame:
    """LSH-bucketed ANN: candidates are vectors whose SRP code is
    within hamming distance ``radius`` of the query's code
    (multi-probe), re-ranked by exact cosine.

    The scale path next to ivf_topk: at 100 TB the table is written
    bucketed by srp_code, the query's probe set is `radius+1 choose
    planes` bucket ids, and only those buckets are scanned — here the
    probe is the equivalent bit_count(xor) predicate against a
    broadcast 1-row query, so the shape (no shuffle of the corpus,
    candidate set ≪ corpus) is the same."""
    from baronbatch_etl_spark.operators.fast_text import make_srp_udf

    srp = make_srp_udf(planes, 64)
    scored = _score_one(
        embeddings,
        query_vec_id,
        cosine,
        "cos_sim",
        "vec_id",
        "label",
        q_cols=[srp(F.col("embedding")).alias("q_code")],
        corpus_cols=[srp(F.col("embedding")).alias("_code")],
        # null-tolerant on purpose: a plain bit_count(...) <= radius
        # lets Catalyst infer isnotnull on both codes and push that
        # filter below the UDF projection, which then runs SRP in a
        # second Arrow pass per side. The UDF never returns NULL, so
        # the coalesce changes no row.
        on=F.coalesce(
            F.bit_count(F.col("_code").bitwiseXOR(F.col("q_code"))),
            F.lit(planes + 1),
        )
        <= radius,
    )
    return _topk(scored, "cos_sim", k)


def batch_topk(
    embeddings: DataFrame, query_ids: list[int], k: int = 5
) -> DataFrame:
    """Exact cosine top-k for a SET of query vectors at once — the
    realistic retrieval shape (N queries × corpus). The bounded query
    set broadcasts, scoring is one map-only pass over the corpus, and
    per-query top-k is a window partitioned by query id. At 100 TB the
    corpus never shuffles; only (q_id, vec_id, score) survivors do."""
    scored = _score_set(
        embeddings,
        query_ids,
        cosine,
        "cos_sim",
        "q_id",
        "vec_id",
        on=F.col("vec_id") != F.col("q_id"),
    )
    return _topk(scored, "cos_sim", k, by="q_id")


def hard_negatives(
    embeddings: DataFrame, query_ids: list[int], k: int = 3
) -> DataFrame:
    """Contrastive hard-negative mining: for each anchor in a bounded
    query set, the ``k`` most cosine-similar vectors whose label
    DIFFERS from the anchor's — the pairs that matter for contrastive /
    metric-learning training sets (easy negatives teach nothing).

    Same scale shape as ``batch_topk``: the anchor set broadcasts, the
    label-inequality filter and scoring run map-only over the corpus
    (no corpus shuffle), and per-anchor top-k is a WindowGroupLimit
    partial top-k — only ≤ k·|anchors| survivor rows reach the single
    exchange. At 100 TB with an IVF-clustered corpus the same operator
    runs per-cell on the anchor's neighboring cells instead of the
    full scan; the mining semantics are identical.
    """
    scored = _score_set(
        embeddings,
        query_ids,
        cosine,
        "cos_sim",
        "q_id",
        "q_label",
        "vec_id",
        F.col("label").alias("neg_label"),
        on=F.col("label") != F.col("q_label"),
        q_cols=[F.col("label").alias("q_label")],
    )
    return _topk(scored, "cos_sim", k, by="q_id")


def _fixed_point_means(ex: DataFrame, keys: list[str], v: str) -> DataFrame:
    """(*keys, n, c): per-group count and mean of column ``v`` — the one
    Lloyd M-step / centroid mean of the family (label_centroids and
    every pq_train_state round, hence kmeans_assign).

    Accumulation is FIXED-POINT: each component quantizes to 1e-9 via
    the engine's half-up convention (floor(x·1e9 + 0.5), pure double
    ops — bit-identical cross-engine) and sums as BIGINT — exact and
    executor-order-independent; :func:`sql_fixed_mean` is the DuckDB
    twin. (A DECIMAL cast is NOT portable here: Spark rounds the
    double's shortest string repr, DuckDB rounds its exact binary
    expansion — they disagree in the last digit.)
    Headroom: |v| < 1 ⇒ per-row ≤ 1e9; int64 holds ~9e18 ⇒ safe to
    ~9e9 members per group."""
    x = F.col(v).cast("double")
    return (
        ex.groupBy(*keys)
        .agg(
            F.sum(F.floor(x * 1.0e9 + 0.5).cast("long")).alias("s"),
            F.count("*").alias("n"),
        )
        .select(
            *keys,
            "n",
            ((F.col("s").cast("double") / 1.0e9) / F.col("n")).alias("c"),
        )
    )


def sql_fixed_mean(v: str) -> str:
    """DuckDB twin of :func:`_fixed_point_means`' mean of ``v`` (an
    aggregate over the enclosing GROUP BY)."""
    return (
        f"(CAST(sum(CAST(floor(CAST({v} AS DOUBLE) * 1000000000.0 + 0.5) "
        "AS BIGINT)) AS DOUBLE) / 1000000000.0) / count(*)"
    )


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label centroid vectors (the E-step of distributed k-means /
    the IVF coarse-quantizer trainer): posexplode to (label, dim, v),
    take the fixed-point mean per dimension (:func:`_fixed_point_means`,
    the k-means M-step's), rebuild the centroid array ordered by
    dimension."""
    ex = spread(embeddings).select(
        "label", F.posexplode("embedding").alias("dim", "v")
    )
    return (
        _fixed_point_means(ex, ["label", "dim"], "v")
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))),
                lambda x: x.c,
            ).alias("centroid"),
            F.max("n").alias("n_vectors"),
        )
    )


def _cell_cosines(vectors):
    """n×n cosine matrix of one coarse cell's vectors, accumulated
    dimension by dimension — the fold order of :func:`cosine` and the
    DuckDB oracle (a BLAS matmul would differ in the last ulp). Vectors
    cross the Arrow boundary once per cell, not once per pair. A
    zero-norm row scores NaN, which no ``>=`` threshold passes."""
    import numpy as np

    m = np.vstack([np.asarray(v, dtype=np.float64) for v in vectors])
    n = m.shape[0]
    dot_ = np.zeros((n, n))
    sq = np.zeros(n)
    for d in range(m.shape[1]):
        col = m[:, d]
        dot_ += col[:, None] * col[None, :]
        sq += col * col
    norm_ = np.sqrt(sq)
    with np.errstate(invalid="ignore", divide="ignore"):
        return dot_ / (norm_[:, None] * norm_[None, :])


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float,
    cell_cap: int = 2048,
    salt: int = 16,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by coarse cell
    (only same-label pairs are scored — the IVF blocking that keeps
    the pair space sub-quadratic).

    Two physical paths, one logical result:
      * cells ≤ ``cell_cap`` vectors: applyInPandas all-pairs over
        :func:`_cell_cosines` — the n² score matrix stays small
        (cap² · 8 B ≈ 33 MB at 2048).
      * cells > ``cell_cap``: a SALTED pair join — the left side is
        replicated across ``salt`` partner buckets so one hot cell
        spreads over salt× tasks instead of OOMing one executor; the
        cosine is the expression fold, which adds terms in the same
        dimension order as the numpy loop, so both paths (and the
        oracle) are bit-identical.
    An all-zero vector has no cosine (NaN in numpy, NULL in the
    expression and the oracle), so it pairs with nothing on any path.
    """
    import numpy as np
    import pandas as pd

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        cos = _cell_cosines(pdf["embedding"])
        ia, ib = np.triu_indices(len(pdf), k=1)
        keep = cos[ia, ib] >= threshold
        ids = pdf["vec_id"].to_numpy()
        return pd.DataFrame(
            {
                "vec_a": ids[ia[keep]],
                "vec_b": ids[ib[keep]],
                "cos_sim": cos[ia, ib][keep],
            }
        )

    e = embeddings.select("vec_id", "label", "embedding")
    sizes = e.groupBy("label").agg(F.count("*").alias("_cell_n"))
    # one row per coarse cell — tiny next to the corpus; broadcast so
    # the size tag is a map-side lookup, not a shuffle of the vectors
    e = e.join(F.broadcast(sizes), "label")

    small = (
        e.filter(F.col("_cell_n") <= cell_cap)
        .drop("_cell_n")
        .groupBy("label")
        .applyInPandas(cell_pairs, "vec_a long, vec_b long, cos_sim double")
    )

    # Hot cells: pair generation as a salted self-join. Each vector
    # gets a stable bucket (pmod of vec_id); the left side replicates
    # across all partner buckets, so the join key (label, bucket)
    # splits one cell's pair space into `salt` independent tasks.
    # vec_a < vec_b keeps each unordered pair exactly once.
    big = e.filter(F.col("_cell_n") > cell_cap).drop("_cell_n")
    left = big.select(
        F.col("label"),
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("_bucket"),
    )
    right = big.select(
        F.col("label"),
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.pmod(F.col("vec_id"), F.lit(salt)).alias("_bucket"),
    )
    big_pairs = (
        left.join(right, ["label", "_bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            cosine(F.col("emb_a"), F.col("emb_b")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
    return small.unionByName(big_pairs)


def ivf_recall_at_k(
    embeddings: DataFrame, query_ids: list[int], k: int = 10
) -> DataFrame:
    """Recall@k of IVF cell-pruned search against exact brute force,
    per query — the instrumentation an ANN deployment runs on a held-
    out query sample before trusting the pruned index at full scale.

    One logical scoring plan (broadcast query set, map-only cosine)
    feeds BOTH rankings; physically the corpus is scanned twice (once
    per ranking) — deliberately, since materializing the |Q|×|corpus|
    scored relation to save the second scan would shuffle far more
    bytes than the scan costs. Neither side shuffles corpus data: each
    ranking reduces to per-query top-k survivors map-side
    (window over ≤ k·|Q| rows), and the recall join touches only 2·k
    rows per query.
    """
    scored = _score_set(
        embeddings,
        query_ids,
        cosine,
        "cos_sim",
        "q_id",
        "vec_id",
        "label",
        "q_label",
        on=F.col("vec_id") != F.col("q_id"),
        q_cols=[F.col("label").alias("q_label")],
    )
    brute = _topk(scored, "cos_sim", k, by="q_id").select("q_id", "vec_id")
    ivf = _topk(
        scored.filter(F.col("label") == F.col("q_label")), "cos_sim", k, by="q_id"
    ).select("q_id", "vec_id", F.lit(1).alias("hit"))
    # ivf is ≤ k·|queries| rows by construction — broadcast it so the
    # recall join never falls to a sort-merge exchange
    return (
        brute.join(F.broadcast(ivf), ["q_id", "vec_id"], "left")
        .groupBy("q_id")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("n_hits")
        )
        .select(
            "q_id",
            "n_hits",
            (F.col("n_hits") / F.lit(float(k))).alias("recall_at_k"),
        )
    )


def quantize_int8(embeddings: DataFrame) -> DataFrame:
    """L2-normalize each embedding and quantize to symmetric int8
    (−127…127) — the storage/transfer compression pass that runs
    before writing an ANN index (4× smaller than float32, dot products
    become integer SIMD ops downstream).

    Row-local expressions only: the L2 norm is the house DOUBLE fold,
    the quantizer is round-half-up (``floor(x·127/‖v‖ + 0.5)``, the
    engine-portable rounding — see _fixed_point_means) — so the exact
    codes are oracle-checkable and the pass runs at scan speed on any
    corpus. Zero-norm vectors emit NULL codes rather than ±Inf.
    """
    n = norm(F.col("embedding"))
    code = F.transform(
        F.col("embedding"),
        lambda x: F.floor(
            x.cast("double") / n * 127.0 + 0.5
        ).cast("long"),
    )
    return spread(embeddings).select(
        "vec_id",
        n.alias("l2_norm"),
        F.when(n > 0.0, code).alias("q_codes"),
    )


def sql_dot(a: str, b: str) -> str:
    """DuckDB twin of dot() — same sequential fold from 0.0."""
    return (
        "list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(1, len({a}) + 1), "
        f"i -> ({a})[i]::DOUBLE * ({b})[i]::DOUBLE)), (acc, v) -> acc + v)"
    )


def sql_norm(a: str) -> str:
    return (
        "sqrt(list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(1, len({a}) + 1), "
        f"i -> ({a})[i]::DOUBLE * ({a})[i]::DOUBLE)), (acc, v) -> acc + v))"
    )


def sql_cosine(a: str, b: str) -> str:
    return f"({sql_dot(a, b)} / ({sql_norm(a)} * {sql_norm(b)}))"


def dim_stats(embeddings: DataFrame) -> DataFrame:
    """Per-dimension corpus statistics over an embedding column:
    (dim, n, mean, var, vmin, vmax) — the calibration pass that feeds
    quantization ranges (s_quantize_int8) and whitening transforms.

    Same fixed-point discipline as _fixed_point_means: first and second
    moments quantize to 1e-9 (floor(x·1e9 + 0.5), pure double ops)
    and sum as BIGINT, so results are executor-order-independent and
    bit-identical to the DuckDB oracle. One explode + one dim-keyed
    groupBy with map-side partials — dims are few and uniform, so the
    shuffle is tiny and skew-free at any corpus size.
    """
    ex = spread(embeddings).select(F.posexplode("embedding").alias("dim", "vf"))
    v = F.col("vf").cast("double")
    per_dim = ex.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum(F.floor(v * 1.0e9 + 0.5).cast("long")).alias("s1"),
        F.sum(F.floor(v * v * 1.0e9 + 0.5).cast("long")).alias("s2"),
        F.min(v).alias("vmin"),
        F.max(v).alias("vmax"),
    )
    mean = (F.col("s1").cast("double") / 1.0e9) / F.col("n")
    m2 = (F.col("s2").cast("double") / 1.0e9) / F.col("n")
    return per_dim.select(
        "dim",
        "n",
        mean.alias("mean"),
        (m2 - mean * mean).alias("var"),
        "vmin",
        "vmax",
    )


def sqdist(a: Column, b: Column) -> Column:
    """Squared L2 between two array columns — the exact fold
    :func:`sql_sqdist` mirrors (left-to-right from 0.0, (x−y)·(x−y),
    per-element double casts), so rankings built on either side of
    the oracle agree bit-for-bit."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def sql_sqdist(a: str, b: str) -> str:
    """DuckDB twin of :func:`sqdist` and :func:`_nearest_centroid`: same
    left-to-right summation from 0.0, same (x−y)·(x−y) form (no pow —
    engines may differ in pow's last ulp)."""
    d = f"(({a})[i]::DOUBLE - ({b})[i]::DOUBLE)"
    return (
        "list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(1, len({a}) + 1), "
        f"i -> {d} * {d})), (acc, v) -> acc + v)"
    )


def _sqdist_fold(a: Sequence[float], b: Sequence[float]) -> float:
    """Driver-side twin of :func:`sqdist` over two Python vectors: the
    same (x−y)·(x−y) terms folded left to right from 0.0, so a
    driver-computed distance (a PQ lookup table entry, a query's
    nearest cell) is bit-identical to the one the plan computes."""
    acc = 0.0
    for x, y in zip(a, b):
        d = float(x) - float(y)
        acc += d * d
    return acc


def _nearest_centroid(emb: Column, cents: list[tuple[int, list[float]]]) -> Column:
    """struct(dist, cid) of the closest centroid — a pure row-local
    expression over LITERAL centroid arrays, so assignment is map-only
    (whole-stage codegen, zero shuffle, nothing broadcast but the
    plan itself). Ties break to the lowest cid via struct ordering."""
    cands = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        emb,
                        F.array(*[F.lit(float(v)) for v in c]),
                        lambda x, y: (x.cast("double") - y)
                        * (x.cast("double") - y),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ).alias("dist"),
                F.lit(cid).alias("cid"),
            )
            for cid, c in cents
        ]
    )
    return F.array_min(cands)


def kmeans_assign(
    embeddings: DataFrame, k: int = 8, iters: int = 2
) -> DataFrame:
    """Full Lloyd k-means over an embedding column, ``iters`` rounds,
    deterministic end to end → (vec_id, cluster, dist).

    The missing producer for everything downstream that consumes a
    coarse cell id (ivf_topk's cells, embedding_near_dup_pairs /
    SemDeDup blocking). Training is :func:`pq_train_state` with one
    subspace (``m=1``): seeds are the ``k`` lowest vec_ids, then
    ``iters − 1`` fixed-point M-steps (1e-9 quantized BIGINT sums —
    executor-order-independent, bit-identical to the SQL oracle's
    unrolled CTE rounds); round ``iters`` is the final assignment via
    :func:`_nearest_centroid`.

    Scale shape (same as any distributed Lloyd implementation, e.g.
    Spark MLlib's KMeans): per round, assignment is a map-only pass
    over the corpus (centroids are k·dim literals in the plan — a few
    KB), and the M-step is one (cluster, dim)-keyed partial-agg
    shuffle of k·dim groups. The per-round driver collect is k·dim
    scalars — the legitimate iterative exception (like
    connected_components' convergence count), NOT a data collect.
    A cluster that empties simply drops out of the candidate list;
    the oracle's GROUP BY does the same.
    """
    books, _ = pq_train_state(embeddings, m=1, k=k, iters=iters)
    best = _nearest_centroid(F.col("embedding"), books[0])
    return spread(embeddings.select("vec_id", "embedding")).select(
        "vec_id",
        best.getField("cid").alias("cluster"),
        best.getField("dist").alias("dist"),
    )


def mips_topk(
    embeddings: DataFrame, query_vec_id: int, k: int = 10
) -> DataFrame:
    """Exact maximum-inner-product top-k against one stored vector
    (recommendation / retrieval scoring where magnitude matters, so
    cosine is the wrong metric).

    Same optimal distributed shape as brute_force_topk: broadcast the
    one query row, map-only scoring, TakeOrderedAndProject top-k. For
    the approximate scale path use :func:`augment_mips` — after the
    norm augmentation, MIPS order equals cosine order, so the whole
    existing ANN stack (SRP-LSH codes, IVF cells) applies unchanged.
    """
    scored = _score_one(embeddings, query_vec_id, dot, "ip", "vec_id", "label")
    return _topk(scored, "ip", k)


def augment_mips(embeddings: DataFrame, col: str = "embedding") -> DataFrame:
    """Norm-augmentation reduction of MIPS to cosine search (Bachrach
    et al. 2014; Shrivastava & Li 2014): append one coordinate
    √(M² − ‖x‖²) to every corpus vector, where M is the corpus max
    norm. Every augmented vector then has norm exactly M, so for a
    query augmented with 0 the cosine against the augmented corpus is
    ip/(‖q‖·M) — strictly monotone in the inner product. MIPS becomes
    cosine-NN, and the SRP/IVF machinery answers it.

    Shapes: one max-norm aggregate folds the corpus to a single
    broadcast scalar; the augmentation itself is a row-local
    ``concat`` — no shuffle of the corpus.
    """
    norms = embeddings.agg(
        F.max(norm(F.col(col))).alias("max_norm")
    )
    return (
        spread(embeddings)
        .crossJoin(F.broadcast(norms))
        .withColumn(
            col,
            F.concat(
                F.col(col).cast("array<double>"),
                F.array(
                    F.sqrt(
                        F.greatest(
                            F.col("max_norm") * F.col("max_norm")
                            - dot(F.col(col), F.col(col)),
                            F.lit(0.0),
                        )
                    )
                ),
            ),
        )
        .drop("max_norm")
    )


def _check_trained(
    trained: tuple[dict[int, list[tuple[int, list[float]]]], int],
    m: int,
) -> tuple[dict[int, list[tuple[int, list[float]]]], int]:
    """Validate a reused PQ state against the caller's ``m`` — a
    codebook set trained for a different subspace split would
    otherwise SILENTLY drop subspaces in the assignment join and emit
    truncated codes/distances (wrong compression, no exception)."""
    cents, dim = trained
    if sorted(cents) != list(range(m)):
        raise ValueError(
            f"trained PQ state has subspaces {sorted(cents)} but the "
            f"caller requested m={m} — retrain with pq_train_state("
            f"..., m={m}) or pass the matching m"
        )
    w = dim // m
    for s, book in cents.items():
        for cid, c in book:
            if len(c) != w:
                raise ValueError(
                    f"trained PQ centroid (sub={s}, cid={cid}) has "
                    f"width {len(c)}, expected dim/m = {w}"
                )
    return cents, dim


def _pq_subframe(embeddings: DataFrame, m: int, dim: int) -> DataFrame:
    """(vec_id, sub, v) rows — one posexplode of the m contiguous
    subspace slices of ``dim``-wide vectors. Shared by training,
    encoding, and ADC search so they all see the same layout."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    w = dim // m
    return spread(embeddings.select("vec_id", "embedding")).select(
        "vec_id",
        F.posexplode(
            F.array(*[F.slice("embedding", s * w + 1, w) for s in range(m)])
        ).alias("sub", "v"),
    )


def _pq_assign(
    sub: DataFrame, cents: dict[int, list[tuple[int, list[float]]]], m: int
) -> DataFrame:
    """(vec_id, sub, v, cluster, dist): nearest codebook entry per
    subspace — a map-only chained-when over literal centroids."""
    best = _nearest_centroid(F.col("v"), cents[0])
    for s in range(1, m):
        best = F.when(
            F.col("sub") == s, _nearest_centroid(F.col("v"), cents[s])
        ).otherwise(best)
    return sub.select(
        "vec_id",
        "sub",
        "v",
        best.getField("cid").alias("cluster"),
        best.getField("dist").alias("dist"),
    )


def pq_train_state(
    embeddings: DataFrame, m: int = 4, k: int = 4, iters: int = 2
) -> tuple[dict[int, list[tuple[int, list[float]]]], int]:
    """Trained PQ state ``(codebooks, dim)`` — the one Lloyd trainer of
    the family (:func:`kmeans_assign` is ``m=1``) and the reusable half
    of the PQ stack. FAISS separates ``train()`` from ``add()``/
    ``search()`` for a reason: a billion-vector deployment trains its
    codebooks once and every encode/search/recall pass reuses them.
    Pass the returned tuple as the ``trained`` argument of
    :func:`pq_encode` / :func:`pq_adc_topk` / :func:`pq_recall_at_k`
    (the codebooks are k·dim driver scalars — deterministic, so one
    state serves every pass value-identically).

    Per-subspace Lloyd codebooks: seeds are the k lowest vec_ids'
    subvectors (``dim`` is read off them — no probe job); ``iters - 1``
    fixed-point M-steps (:func:`_fixed_point_means`) give the codebooks
    the round-``iters`` assignment uses — matching the unrolled SQL
    twin. A cluster that empties drops out. Driver state is k·dim
    scalars per round."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    seed_rows = (
        embeddings.select("vec_id", "embedding").orderBy("vec_id").limit(k).collect()
    )
    if not seed_rows:
        raise ValueError("no vectors to train on")
    dim = len(seed_rows[0].embedding)
    sub = _pq_subframe(embeddings, m, dim)
    w = dim // m
    cents: dict[int, list[tuple[int, list[float]]]] = {
        s: [
            (i, [float(v) for v in r.embedding[s * w : (s + 1) * w]])
            for i, r in enumerate(seed_rows)
        ]
        for s in range(m)
    }
    for _ in range(iters - 1):
        # The M-step stays the posexplode → (sub, cluster, dim)
        # partial-agg shape ON PURPOSE: a per-dimension aggregate
        # battery over the array columns was tried in r10 and measured
        # 2.4–3.5× SLOWER at sf0.1 (wide agg schemas lose whole-stage
        # codegen and pay per-row buffer-update overhead, while the
        # explode emits tiny codegen-friendly rows and the partial agg
        # already collapses them to k·dim per task before the exchange).
        ex = _pq_assign(sub, cents, m).select(
            "sub", "cluster", F.posexplode("v").alias("dim", "vf")
        )
        means = _fixed_point_means(ex, ["sub", "cluster", "dim"], "vf")
        by_sub: dict[int, dict[int, dict[int, float]]] = {}
        for r in means.collect():  # k·dim scalars — driver state
            by_sub.setdefault(r.sub, {}).setdefault(r.cluster, {})[
                r.dim
            ] = r.c
        cents = {
            s: [
                (cid, [dims[d] for d in sorted(dims)])
                for cid, dims in sorted(clusters.items())
            ]
            for s, clusters in by_sub.items()
        }
    return cents, dim


def pq_encode(
    embeddings: DataFrame,
    trained: tuple[dict[int, list[tuple[int, list[float]]]], int],
    m: int = 4,
) -> DataFrame:
    """Product quantization (Jégou et al. 2011): split every vector
    into ``m`` contiguous subspaces and encode it as its m
    nearest-centroid ids under the ``trained`` codebooks (from
    :func:`pq_train_state`, which Lloyd-trains k centroids per
    subspace) →
    (vec_id, codes array<int>, qdist). codes is the compressed
    representation (m·log2(k) bits per vector — the IVF-PQ memory
    budget that makes billion-vector ANN fit in RAM); qdist is the
    reconstruction error (sum of per-subspace squared distances).

    Determinism: seeds are the k lowest vec_ids' subvectors; M-steps
    use the fixed-point mean (:func:`_fixed_point_means`, 1e-9-quantized
    BIGINT sums); qdist folds the m subspace distances in subspace
    order — all bit-identical to the unrolled SQL twin.

    Scale shape: identical to kmeans_assign run per subspace, fused —
    ONE posexplode produces the (vec, subspace) rows, assignment is a
    map-only pass (m·k·(dim/m) = k·dim literal scalars in the plan),
    and the per-vector code rollup is a vec_id-keyed agg of m rows.
    Training (each M-step one (sub, cluster, dim)-keyed partial-agg
    shuffle) runs once in :func:`pq_train_state`; every encode, search
    and recall pass reuses its state, as a deployed index does.
    """
    cents, dim = _check_trained(trained, m)
    assigned = _pq_assign(_pq_subframe(embeddings, m, dim), cents, m)
    coded = assigned.groupBy("vec_id").agg(
        F.array_sort(
            F.collect_list(F.struct("sub", "cluster", "dist"))
        ).alias("a")
    )
    return coded.select(
        "vec_id",
        F.transform("a", lambda x: x["cluster"]).alias("codes"),
        F.aggregate(
            "a", F.lit(0.0), lambda acc, x: acc + x["dist"]
        ).alias("qdist"),
    )


def pq_adc_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    trained: tuple[dict[int, list[tuple[int, list[float]]]], int],
    topk: int = 10,
    m: int = 4,
    cell_col: str | None = None,
) -> DataFrame:
    """Asymmetric-distance-computation search over PQ codes (the query
    leg of IVF-PQ): the query stays full precision, the corpus is its
    codes, and the distance is Σ_s lut[s][code_s] where the lookup
    table holds the m·k exact query-subvector-to-centroid distances.
    The corpus scan never touches raw vectors — per vector the work is
    m table lookups, which is why a billion-vector index answers from
    RAM.

    Determinism: the LUT entries fold (q_i − c_i)² left-to-right from
    0.0 in the driver — the same IEEE-double sequence the SQL twin's
    sqdist fold produces — and the per-vector ADC sum folds the m
    subspace terms in subspace order.

    Scale shape: codebooks + LUT are m·k scalars (plan literals);
    scoring is a map-only pass over the code rows and the top-k is
    TakeOrderedAndProject. No shuffle of the corpus, no join.

    ``cell_col`` turns this into IVF-PQ (FAISS ``IndexIVFPQ`` with
    ``by_residual=false``): only vectors sharing the query's coarse
    cell are scored — the equality predicate pushes to the scan, so
    at 100 TB (corpus partitioned by cell, the ivf_ingest layout in
    streaming/ops.py) the probe touches one cell's files instead of
    the corpus. Codebooks stay corpus-global, as FAISS trains them.

    ``trained`` comes from :func:`pq_train_state` — the every-search
    path of a deployed index.
    """
    cents, dim = _check_trained(trained, m)
    q_cols = ["embedding"] + ([cell_col] if cell_col else [])
    q_row = (
        embeddings.filter(F.col("vec_id") == query_vec_id)
        .select(*q_cols)
        .first()
    )
    qv = [float(v) for v in q_row.embedding]
    w = len(qv) // m
    lut = {
        s: {cid: _sqdist_fold(qv[s * w : (s + 1) * w], c) for cid, c in cents[s]}
        for s in range(m)
    }
    corpus = embeddings.filter(F.col("vec_id") != query_vec_id)
    if cell_col is not None:
        corpus = corpus.filter(F.col(cell_col) == q_row[cell_col])
    assigned = _pq_assign(_pq_subframe(corpus, m, dim), cents, m)
    term = F.lit(None).cast("double")
    for s in range(m):
        for cid in sorted(lut[s]):
            term = F.when(
                (F.col("sub") == s) & (F.col("cluster") == cid),
                F.lit(lut[s][cid]),
            ).otherwise(term)
    scored = (
        assigned.select("vec_id", "sub", term.alias("adc_term"))
        .groupBy("vec_id")
        .agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct("sub", "adc_term"))
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["adc_term"],
            ).alias("adc_dist")
        )
    )
    return _topk(scored, "adc_dist", topk, ascending=True)


def pq_recall_at_k(
    embeddings: DataFrame,
    query_vec_id: int,
    trained: tuple[dict[int, list[tuple[int, list[float]]]], int],
    k: int = 10,
    m: int = 4,
) -> DataFrame:
    """Recall@k of ADC-over-PQ-codes against exact squared-L2 brute
    force → one row ``(k, n_hits, recall_at_k)`` — the compression-
    loss instrumentation an IVF-PQ deployment runs before trusting a
    codebook size (the PQ twin of :func:`ivf_recall_at_k`).

    Both rankings are corpus-shuffle-free: ADC is the map-only LUT
    pass of :func:`pq_adc_topk`, brute force broadcasts the single
    query row, and the recall join touches 2·k surviving rows.
    """
    adc = pq_adc_topk(
        embeddings, query_vec_id, trained, topk=k, m=m
    ).select("vec_id")
    brute = _topk(
        _score_one(embeddings, query_vec_id, sqdist, "d2", "vec_id"),
        "d2",
        k,
        ascending=True,
    ).select("vec_id")
    return brute.join(adc, "vec_id").agg(
        F.count("*").alias("n_hits")
    ).select(
        F.lit(k).cast("long").alias("k"),
        F.col("n_hits"),
        (F.col("n_hits").cast("double") / F.lit(float(k))).alias(
            "recall_at_k"
        ),
    )


def knn_graph(
    embeddings: DataFrame, k: int = 5, cell_cap: int = 4096
) -> DataFrame:
    """Cell-blocked k-NN graph: every vector's top-``k`` cosine
    neighbors WITHIN its coarse cell → (vec_id, label, nbr_id,
    cos_sim, rank). The batch primitive under SemDeDup-style
    semantic clustering; candidates come per cell, so join volume is
    Σ_cells |cell|², never N².

    Two physical paths, one logical result (the
    embedding_near_dup_pairs pattern):
      * cells ≤ ``cell_cap``: per-cell applyInPandas over
        :func:`_cell_cosines` (the near-dup operator's fold), and each
        row's top-k is a lexsort by (−cos, nbr_id). Peak per task at the
        cap: two n² double matrices ≈ 270 MB.
      * cells > ``cell_cap``: expression-fold self-join with a
        WindowGroupLimit rank ≤ k — unbounded-cell-safe (AQE splits
        the skew), bit-identical scores, just slower per pair.
    Neighbor order is (cos_sim DESC, nbr_id) in both paths.

    Zero-norm contract: all-zero embeddings are DROPPED before
    scoring (they appear neither as sources nor as neighbors). A zero
    vector has no defined cosine direction — the numpy path would
    score it NaN where :func:`cosine` and the oracle give NULL, which
    would break the fast/slow/oracle bit-parity triple. The
    s_knn_graph oracle applies the same filter.
    """
    import numpy as np
    import pandas as pd

    ret = (
        "vec_id long, label int, nbr_id long, cos_sim double, rank long"
    )

    def cell_knn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {
                    "vec_id": pd.Series(dtype="int64"),
                    "label": pd.Series(dtype="int32"),
                    "nbr_id": pd.Series(dtype="int64"),
                    "cos_sim": pd.Series(dtype="float64"),
                    "rank": pd.Series(dtype="int64"),
                }
            )
        cos = _cell_cosines(pdf["embedding"])
        np.fill_diagonal(cos, -np.inf)
        ids = pdf["vec_id"].to_numpy()
        label = int(pdf["label"].iloc[0])
        kk = min(k, n - 1)
        out_v, out_n, out_c, out_r = [], [], [], []
        for i in range(n):
            order = np.lexsort((ids, -cos[i]))[:kk]
            out_v.extend([ids[i]] * kk)
            out_n.extend(ids[order])
            out_c.extend(cos[i, order])
            out_r.extend(range(1, kk + 1))
        return pd.DataFrame(
            {
                "vec_id": np.asarray(out_v, dtype=np.int64),
                "label": np.full(len(out_v), label, dtype=np.int32),
                "nbr_id": np.asarray(out_n, dtype=np.int64),
                "cos_sim": np.asarray(out_c, dtype=np.float64),
                "rank": np.asarray(out_r, dtype=np.int64),
            }
        )

    e = embeddings.select("vec_id", "label", "embedding").filter(
        # zero-norm guard (see docstring): exists() is exact — a
        # float sum-of-squares test could underflow, a component
        # comparison cannot
        F.exists("embedding", lambda x: x != F.lit(0.0))
    )
    sizes = e.groupBy("label").agg(F.count("*").alias("_cell_n"))
    e = e.join(F.broadcast(sizes), "label")

    fast = (
        e.filter(F.col("_cell_n") <= cell_cap)
        .drop("_cell_n")
        .groupBy("label")
        .applyInPandas(cell_knn, ret)
    )

    big = e.filter(F.col("_cell_n") > cell_cap).drop("_cell_n")
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("nbr_id")
    )
    slow = (
        big.alias("l")
        .join(
            big.alias("r"),
            (F.col("l.label") == F.col("r.label"))
            & (F.col("l.vec_id") != F.col("r.vec_id")),
        )
        .select(
            F.col("l.vec_id").alias("vec_id"),
            F.col("l.label").alias("label"),
            F.col("r.vec_id").alias("nbr_id"),
            cosine(F.col("l.embedding"), F.col("r.embedding")).alias(
                "cos_sim"
            ),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )
    return fast.unionByName(slow)
