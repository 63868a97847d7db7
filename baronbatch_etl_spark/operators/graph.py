"""Iterative graph analytics over DataFrame edge lists.

PageRank-style influence scoring is a first-class training-data
curation signal: CommonCrawl-derived corpora weight documents by the
link-graph authority of their host (the "page quality" prior), and
the same fixed-iteration random-walk machinery ranks entities in any
interaction graph (here: the customer↔supplier order graph).

Design notes (the 100 TB shape):
  * The graph lives as a distributed ``(src, dst)`` edge DataFrame —
    never adjacency lists on the driver. Rank state is a
    ``(node, rank)`` DataFrame, one row per node.
  * Each iteration is the canonical two-shuffle plan: join ranks onto
    edges by ``src`` (contributions), then aggregate contributions by
    ``dst``. The degree-weighted edge frame is computed ONCE and its
    scan repeats per iteration with an identical subplan, so Spark
    replays it through ReusedExchange instead of re-shuffling.
  * Iterations are UNROLLED into one Catalyst DAG. The only driver
    state is the node count — one scalar, the same budget as the
    k-means trainer's k·dim centroids — burned into the plan as the
    teleport literal. A fixed small iteration count is the published
    practice for quality priors (convergence to ranking stability is
    fast; see Page et al. 1999 §2.6) and keeps lineage bounded.
  * Determinism: contribution sums are quantised to 1e-9 BIGINT
    fixed-point before the shuffle (integer addition is associative,
    so partition order cannot perturb the hash), the same discipline
    as :func:`baronbatch_etl_spark.operators.similarity.kmeans_assign`.

Reference parity: the reference engine has no graph operator — this
family is part of the beyond-reference LLM-pipeline surface (see
SURVEY.md §6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from baronbatch_etl_spark.io import materialize

#: Fixed-point scale for order-independent double sums.
_SCALE = 1.0e9


def _q(c: Column) -> Column:
    """1e-9 fixed-point quantisation (round-half-up) → BIGINT."""
    return F.floor(c * _SCALE + 0.5).cast("long")


def undirected_edges(
    pairs: DataFrame, src: str, dst: str, disjoint: bool = False
) -> DataFrame:
    """Distinct symmetric closure of a pair frame → ``(src, dst)``.

    Every node of an undirected graph then has out-degree ≥ 1, which
    is what lets :func:`pagerank` skip dangling-mass redistribution.
    One distinct (= one shuffle) over the doubled pair set — elided
    entirely when ``disjoint=True`` declares the input already
    distinct with non-overlapping src/dst domains (e.g. even/odd key
    encodings of a bipartite graph), where the two union legs cannot
    collide.
    """
    fwd = pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    rev = pairs.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
    both = fwd.unionByName(rev)
    return both if disjoint else both.distinct()


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    weight_col: str | None = None,
    check_dangling: bool = True,
) -> DataFrame:
    """Fixed-iteration PageRank over a ``(src, dst)`` edge list →
    ``(node, rank)``.

    Requires every node to appear as a ``src`` (guaranteed by
    :func:`undirected_edges`; for directed graphs, pre-filter or add
    self-loops — dangling mass is NOT redistributed here), and
    ENFORCES it by default: the node census that sizes the teleport
    term also counts sink nodes (``dst`` never seen as ``src``,
    including nodes that lost every edge to the positive-weight
    filter), and any sink raises ``ValueError`` instead of silently
    leaking that node's inbound rank mass out of the walk. The check
    piggybacks on the census action — no extra pass over the edges —
    costing one role-doubled aggregation where the old census counted
    distinct ``src`` only; callers that guarantee the contract by
    construction can pass ``check_dangling=False`` to keep the
    cheaper census. Ranks start uniform at ``1/N`` and each round
    becomes
    ``(1 - damping)/N + damping * Σ_in rank_src / deg_src``; with no
    dangling nodes total mass stays 1 (modulo 1e-9 quantisation),
    which the property tests assert.

    ``weight_col`` (an integer column on ``edges``) switches to the
    weighted walk — the form real host link graphs use, where an edge
    carries its link count: contribution becomes
    ``rank · w / Σ_out w`` (written exactly that way, product before
    division, so the oracle matches bit-for-bit). ``None`` keeps the
    unweighted ``rank / deg`` arithmetic unchanged. Weights must be
    positive: non-positive-weight edges are dropped up front (a
    ``w = 0`` edge carries no walk mass by definition, and keeping it
    would make ``Σ_out w = 0`` divide-by-zero — null contributions,
    i.e. silently vanished rank mass, or an ANSI runtime error — for
    a node whose edges are ALL zero-weight). A node losing every edge
    to that filter becomes dangling and falls under the existing
    no-dangling-nodes contract above.

    Determinism contract: per-edge contributions are quantised to
    BIGINT fixed-point before the ``dst`` aggregation, and the
    teleport term is written ``(1.0 - damping)/N`` so an oracle
    spelling the same IEEE subtraction matches bit-for-bit.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    # Stage the degree-weighted edge list ONCE: a single src hash
    # partitioning, out-degree (or total out-weight) as a window
    # aggregate over the partition key (no join, no second shuffle),
    # then materialized (the LogicalRDD keeps the partitioning). Every
    # round joins the small rank frame onto the stationary edge
    # partitions — the 100 TB shape: one partitioned materialize, after
    # which each iteration moves ranks (≈ node count), not edges.
    w_src = Window.partitionBy("src")
    if weight_col is None:
        out_share = F.count("*").over(w_src)
    else:
        # positive-weight contract (see docstring): guards the
        # Σ_out w = 0 division for all-zero-weight nodes
        edges = edges.filter(F.col(weight_col) > 0)
        out_share = F.sum(weight_col).over(w_src)
    weighted = materialize(
        edges.repartition("src").withColumn("deg", out_share)
    )

    def contrib(rank_expr):
        if weight_col is None:
            return _q(rank_expr / F.col("deg"))
        return _q(rank_expr * F.col(weight_col) / F.col("deg"))

    # The ONLY driver state: the node count (one scalar, the k-means
    # precedent) — burning it into the plan as a literal keeps every
    # round free of the one-row normaliser subtree a cross-joined
    # count frame would replay per iteration. With the default
    # check_dangling the same action also takes the sink census over
    # the checkpointed frame (role-doubled union → per-node max) so
    # contract violations fail loudly here, not as missing mass.
    if check_dangling:
        roles = weighted.select(
            F.col("src").alias("node"), F.lit(1).alias("has_out")
        ).unionByName(
            weighted.select(
                F.col("dst").alias("node"), F.lit(0).alias("has_out")
            )
        )
        census = (
            roles.groupBy("node")
            .agg(F.max("has_out").alias("has_out"))
            .agg(
                F.count("*").alias("n_nodes"),
                F.sum(
                    F.when(F.col("has_out") == 0, 1).otherwise(0)
                ).alias("n_dangling"),
            )
            .first()
        )
        if census["n_dangling"]:
            raise ValueError(
                f"pagerank: {census['n_dangling']} dangling node(s) "
                "(appear as dst but never as src) would silently leak "
                "rank mass — symmetrise the graph (undirected_edges), "
                "add self-loops, or drop sink-only edges; "
                "check_dangling=False skips this census for graphs "
                "that guarantee the contract by construction"
            )
        # no sinks ⇒ every node appears as a src, so the walk's node
        # universe equals the census (identical to the old
        # count_distinct(src) under the enforced contract)
        n = census["n_nodes"]
    else:
        n = weighted.select(F.count_distinct("src")).first()[0]
    if n == 0:
        raise ValueError("pagerank requires a non-empty edge list")
    teleport = (1.0 - damping) / n
    ranks: DataFrame | None = None
    for i in range(iters):
        if i == 0:
            # uniform start: the per-edge share is a constant — round
            # 1 is a pure map-side pass, no rank join at all
            contribs = weighted.select(
                "dst", contrib(F.lit(1.0 / n)).alias("contrib")
            )
        else:
            contribs = weighted.join(
                ranks.withColumnRenamed("node", "src"), "src"
            ).select(
                "dst", contrib(F.col("rank")).alias("contrib")
            )
        ranks = (
            contribs.groupBy("dst")
            .agg(F.sum("contrib").alias("s"))
            .select(
                F.col("dst").alias("node"),
                (
                    F.lit(teleport)
                    + F.lit(damping)
                    * (F.col("s").cast("double") / F.lit(_SCALE))
                ).alias("rank"),
            )
        )
    return ranks


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Exact triangle census of an undirected graph → one row
    ``(n_nodes, n_edges, n_wedges, n_triangles)``.

    ``edges`` is a distinct canonical edge list ``(a, b)`` with
    ``a < b`` and no self-loops (the caller's contract). Triangle
    density (via the global clustering coefficient ``3·T / wedges``)
    is the standard cohesion probe for interaction graphs — spam/SEO
    link farms score near zero while organic communities close their
    wedges — so corpus-curation link graphs use it as a quality
    signal next to PageRank.

    Scale shape (the 100 TB plan): the naive wedge join keyed by raw
    node id explodes on hubs — a degree-d node yields d² candidate
    rows in ONE task. This uses the **degree orientation** instead
    (Chiba–Nishizeki / "node-iterator++"): direct every edge from its
    lower-(degree, id) endpoint to the higher one, which caps the
    oriented out-degree at O(√m) for ANY degree distribution, so the
    wedge self-join fan-out per node is bounded and the heaviest hub
    costs O(m) total across tasks, not O(d²) in one. Three shuffles
    total: degree count, wedge self-join by oriented src, and the
    closing edge hash-join. Every count is an exact BIGINT — no
    floating point anywhere, bit-deterministic by associativity.
    """
    # Degree counting, the orientation joins, the closing-edge probe
    # and the edge count all fan out from ``edges``, so a lazy edge
    # derivation would replay once per consumer: callers hand in
    # materialized storage (a session fixture / staging-table parquet
    # scan, or their own checkpoint) — the operator never stages it.
    edges = edges.select("a", "b")
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionByName(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("d"))
    )
    # Orient by (degree, id) — explicit lexicographic compare rather
    # than packing into one key, so arbitrary 63-bit node ids never
    # overflow. The same compare orders the wedge join's endpoints.
    ea = edges.join(deg.withColumnRenamed("node", "a"), "a").withColumnRenamed(
        "d", "da"
    )
    eab = ea.join(deg.withColumnRenamed("node", "b"), "b").withColumnRenamed(
        "d", "db"
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = eab.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("ddst"),
    )
    oriented = materialize(oriented)  # both wedge sides + closing probe
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    # Wedge (src → d1, src → d2) ordered by the SAME (deg, id) key the
    # orientation used, so the closing edge — if present — is oriented
    # d1 → d2 and one equi-join probe finds it.
    wedges_df = o1.join(o2, on="src").where(
        (F.col("o1.ddst") < F.col("o2.ddst"))
        | (
            (F.col("o1.ddst") == F.col("o2.ddst"))
            & (F.col("o1.dst") < F.col("o2.dst"))
        )
    )
    closing = oriented.select(
        F.col("src").alias("d1"), F.col("dst").alias("d2")
    )
    tri = wedges_df.select(
        F.col("o1.dst").alias("d1"), F.col("o2.dst").alias("d2")
    ).join(closing, ["d1", "d2"])
    n_tri = tri.agg(F.count("*").cast("long").alias("n_triangles"))
    # Wedges per node as an exact integer: d·(d−1) is always even, so
    # the per-row `div 2` is lossless LONG arithmetic (valid to degree
    # ~3·10⁹, where ANSI mode raises loudly instead of corrupting);
    # the cross-node sum runs in DECIMAL(38,0) so it cannot overflow
    # or round through a double. COALESCE covers the empty-graph case
    # (sum over zero rows is NULL, the oracle's count(*) is 0).
    stats = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.coalesce(
            F.sum(
                F.expr("(d * (d - 1)) div 2").cast("decimal(38,0)")
            ),
            F.lit(0).cast("decimal(38,0)"),
        )
        .cast("long")
        .alias("n_wedges"),
    )
    # n_edges as a plain count on the checkpointed edge list — exact
    # by construction, no arithmetic to get wrong.
    n_edges = edges.agg(F.count("*").cast("long").alias("n_edges"))
    return stats.crossJoin(n_edges).crossJoin(n_tri).select(
        "n_nodes", "n_edges", "n_wedges", "n_triangles"
    )


def adamic_adar(
    edges: DataFrame, max_degree: int = 10_000
) -> DataFrame:
    """Adamic–Adar link prediction over a canonical ``(a, b)`` edge
    list (``a < b``, distinct) → scored NON-adjacent candidate pairs
    ``(x, y, score)`` with ``x < y``.

    ``AA(x, y) = Σ_{w ∈ N(x)∩N(y)} 1 / ln(deg(w))`` — common
    neighbors weighted inversely by how promiscuous they are, the
    classic "you two keep meeting in small rooms" signal (Adamic &
    Adar 2003). Pairs already linked are anti-joined away: the output
    is the prediction list, not the existing graph.

    Scale shape: candidate pairs come from the wedge self-join of the
    symmetric adjacency on the CENTER node, so a degree-d center
    yields C(d, 2) rows — inherent to the semantics (every common
    neighbor IS evidence). ``max_degree`` caps the centers considered:
    an ultra-hub contributes ~zero signal anyway (1/ln(huge) → 0 per
    pair) while costing d² rows, so dropping centers above the cap is
    the standard sparsifier (same role as the embedding cell_cap).
    Determinism: each wedge contribution is quantised to 1e-9 BIGINT
    fixed-point before the (x, y) sum — associative integer addition,
    partition-order-proof — and ``1/ln(d)`` is one IEEE op per center
    from an exact integer degree.
    """
    # ``edges`` is materialized by the caller (see triangle_stats)
    edges = edges.select("a", "b")
    adj = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).withColumnRenamed("a", "w").withColumnRenamed("b", "nbr")
    deg = adj.groupBy("w").agg(F.count("*").cast("long").alias("d"))
    centers = adj.join(
        deg.filter((F.col("d") >= 2) & (F.col("d") <= max_degree)), "w"
    ).withColumn("contrib", _q(F.lit(1.0) / F.log(F.col("d"))))
    c1, c2 = centers.alias("c1"), centers.alias("c2")
    wedge = c1.join(c2, on="w").where(
        F.col("c1.nbr") < F.col("c2.nbr")
    )
    scored = (
        wedge.groupBy(
            F.col("c1.nbr").alias("x"), F.col("c2.nbr").alias("y")
        )
        .agg(F.sum(F.col("c1.contrib")).alias("s"))
        .select(
            "x",
            "y",
            (F.col("s").cast("double") / F.lit(_SCALE)).alias("score"),
        )
    )
    existing = edges.select(
        F.col("a").alias("x"), F.col("b").alias("y")
    )
    return scored.join(existing, ["x", "y"], "left_anti")


def hits(
    pairs: DataFrame, iters: int = 2
) -> tuple[DataFrame, DataFrame]:
    """HITS hubs & authorities over a bipartite ``(c, s)`` pair frame
    → ``(authorities (s, score), hubs (c, score))``.

    Kleinberg's mutual reinforcement run UNNORMALISED: starting from
    unit hubs, authority round i is ``a_i = Eᵀ·h_{i-1}`` and hub
    round i is ``h_i = E·a_i``. Skipping the per-round normalisation
    leaves the RANKING identical (power iteration is scale-free) and
    keeps every score an exact BIGINT — integer sums are associative,
    so the result is bit-deterministic with no fixed-point quantising
    at all. Magnitudes stay ≤ (edge count)^iters ≪ 2^63 for the
    2–3 rounds authority scoring uses.

    Scale shape: the pair list comes materialized from the caller;
    each half-round is one join of a node-sized score frame onto the
    stationary pairs (AQE broadcasts it) plus one partial-agg
    shuffle — the PageRank iteration cost, alternating key sides.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    # ``pairs`` is materialized by the caller (see triangle_stats)
    pairs = pairs.select("c", "s")
    # round 1 from unit hubs: authority = in-degree (exact count)
    auth = pairs.groupBy("s").agg(
        F.count("*").cast("long").alias("score")
    )
    for _ in range(1, iters):
        hub = (
            pairs.join(auth.withColumnRenamed("score", "a"), "s")
            .groupBy("c")
            .agg(F.sum("a").alias("score"))
        )
        auth = (
            pairs.join(hub.withColumnRenamed("score", "h"), "c")
            .groupBy("s")
            .agg(F.sum("h").alias("score"))
        )
    hub = (
        pairs.join(auth.withColumnRenamed("score", "a"), "s")
        .groupBy("c")
        .agg(F.sum("a").alias("score"))
    )
    return auth, hub
