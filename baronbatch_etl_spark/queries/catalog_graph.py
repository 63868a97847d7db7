"""Graph analytics over the order interaction graph.

The customer↔supplier graph (an edge wherever a customer's order has
a line item from a supplier) stands in for the host-level link graphs
training-data pipelines score: CommonCrawl curation weights documents
by the PageRank-style authority of their host, and the identical
fixed-iteration random-walk runs here over DataFrame edge lists.

The oracle unrolls the same three iterations as CTEs with the same
1e-9 fixed-point contribution sums, so ranks match bit-for-bit (see
``operators/graph.py`` for the determinism contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from baronbatch_etl_spark.functions.scalars import round_half_up
from baronbatch_etl_spark.io import (
    fixed_point,
    load_table,
    materialize,
    session_fixture,
)
from baronbatch_etl_spark.operators import graph as G
from baronbatch_etl_spark.queries import register

#: PageRank hyperparameters shared by the Spark query and its oracle.
_PR_ITERS = 3
_PR_DAMP = 0.85


def _pr_iter_ctes(iters: int) -> str:
    """Unrolled PageRank rounds r1..r{iters}, each the exact
    fixed-point arithmetic of ``operators.graph.pagerank``."""
    parts = []
    for i in range(1, iters + 1):
        parts.append(f"""c{i} AS (
    SELECT w.dst,
           sum(CAST(floor(r.rank / w.deg * 1000000000.0 + 0.5)
                    AS BIGINT)) AS s
    FROM w JOIN r{i - 1} r ON w.src = r.node
    GROUP BY w.dst
),
r{i} AS (
    SELECT c{i}.dst AS node,
           (1.0::DOUBLE - {_PR_DAMP}::DOUBLE) / n.n_nodes
             + {_PR_DAMP}::DOUBLE
               * (CAST(c{i}.s AS DOUBLE) / 1000000000.0) AS rank
    FROM c{i}, n
)""")
    return ",\n".join(parts)


def _pr_iter_weighted_ctes(iters: int) -> str:
    """Weighted-walk rounds: contribution ``rank · w / Σ_out w`` —
    product before division, matching the operator's fold exactly."""
    parts = []
    for i in range(1, iters + 1):
        parts.append(f"""c{i} AS (
    SELECT w.dst,
           sum(CAST(floor(r.rank * w.w / w.deg * 1000000000.0 + 0.5)
                    AS BIGINT)) AS s
    FROM w JOIN r{i - 1} r ON w.src = r.node
    GROUP BY w.dst
),
r{i} AS (
    SELECT c{i}.dst AS node,
           (1.0::DOUBLE - {_PR_DAMP}::DOUBLE) / n.n_nodes
             + {_PR_DAMP}::DOUBLE
               * (CAST(c{i}.s AS DOUBLE) / 1000000000.0) AS rank
    FROM c{i}, n
)""")
    return ",\n".join(parts)


@register(
    "g_pagerank",
    oracle=f"""
WITH pairs AS (
    SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
edges AS (
    SELECT a AS src, b AS dst FROM pairs
    UNION
    SELECT b AS src, a AS dst FROM pairs
),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
n AS (SELECT count(*) AS n_nodes FROM deg),
w AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
r0 AS (
    SELECT src AS node, 1.0::DOUBLE / n.n_nodes AS rank FROM deg, n
),
{_pr_iter_ctes(_PR_ITERS)}
SELECT node,
       CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
         AS node_type,
       rank
FROM r{_PR_ITERS}
ORDER BY rank DESC, node
LIMIT 20
""",
    tags=("graph", "llm", "curation"),
)
def g_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 PageRank authorities of the customer↔supplier order
    graph — the link-graph quality prior of CommonCrawl-style corpus
    curation, run as three unrolled rounds of the canonical
    two-shuffle iteration (contribution join by src, fixed-point sum
    by dst; `operators/graph.py`). Suppliers dominate the top ranks:
    the graph is bipartite with ~15× more customers than suppliers,
    so supplier nodes concentrate incoming mass — the same authority
    asymmetry host-level link graphs show.
    """
    pairs = _order_pair_counts(spark, sf_dir).select(
        (F.col("c") * 2).alias("a"),
        (F.col("s") * 2 + 1).alias("b"),
    )
    ranks = G.pagerank(
        # even/odd key encoding → the two union legs are disjoint and
        # pairs is already distinct: no second distinct needed
        G.undirected_edges(pairs, "a", "b", disjoint=True),
        iters=_PR_ITERS,
        damping=_PR_DAMP,
        # the symmetric closure puts every node on both sides — the
        # no-dangling contract holds by construction, so skip the
        # role-doubled sink census (one fewer pass over the edges)
        check_dangling=False,
    )
    return (
        ranks.select(
            "node",
            F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            "rank",
        )
        .orderBy(F.col("rank").desc(), "node")
        .limit(20)
    )


def _frequent_copurchase_edges(spark, sf_dir: str) -> DataFrame:
    """Canonical (a < b) part pairs co-bought in ≥2 orders — the ONE
    edge definition the co-purchase analytics suite shares
    (`g_triangle_count`, `g_adamic_adar`, `g_degree_distribution`,
    `g_kcore`; their oracles spell it identically), staged once per
    (session, sf_dir) via :func:`io.session_fixture`. A production
    graph pipeline materializes its edge list exactly once in the
    staging layer and every analytic scans that table; re-deriving the
    basket explode inside each consumer's plan is what a 100 TB
    deployment can't afford. The derivation keeps the single-shuffle
    shape of ``a_basket_pairs``: one ``collect_set`` exchange forms the
    per-order basket (width bounded by order size), pair expansion is
    a map-side higher-order function over the sorted array (``a < b``
    by construction), and one partial-agg pair shuffle applies the
    ≥2-support gate that keeps the graph sparse at any scale (see
    g_triangle_count's docstring). The former distinct-projection
    self-join spent two extra exchanges for identical output (A/B
    bit-equal at sf0.1 and the sf1 upsample)."""

    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        baskets = li.groupBy("l_orderkey").agg(
            F.sort_array(F.collect_set("l_partkey")).alias("parts")
        )
        pair_structs = F.flatten(
            F.transform(
                "parts",
                lambda x, i: F.transform(
                    F.slice(F.col("parts"), i + F.lit(2), F.size("parts")),
                    lambda y: F.struct(x.alias("a"), y.alias("b")),
                ),
            )
        )
        return (
            baskets.select(F.explode(pair_structs).alias("pr"))
            .select("pr.a", "pr.b")
            .groupBy("a", "b")
            .agg(F.count("*").alias("support"))
            .filter(F.col("support") >= 2)
            .select("a", "b")
        )

    return session_fixture(spark, sf_dir, "copurchase_edges", build)


def _order_pair_counts(spark, sf_dir: str) -> DataFrame:
    """(c, s, w): distinct customer–supplier order pairs with their
    line-count weight — the ONE bipartite-graph derivation
    `g_pagerank`, `g_pagerank_weighted` and `g_hits` all project from,
    staged once per (session, sf_dir) like the co-purchase edge list
    above. One partial-agg shuffle of the orders⋈lineitem join keyed
    by the pair; the unweighted consumers just drop ``w`` (a keyed
    aggregate's row set IS the distinct pair set)."""

    def build() -> DataFrame:
        orders = load_table(spark, sf_dir, "orders")
        lineitem = load_table(spark, sf_dir, "lineitem")
        return (
            orders.join(
                lineitem,
                orders["o_orderkey"] == lineitem["l_orderkey"],
            )
            .groupBy(
                F.col("o_custkey").alias("c"),
                F.col("l_suppkey").alias("s"),
            )
            .agg(F.count("*").alias("w"))
        )

    return session_fixture(spark, sf_dir, "order_pair_counts", build)


@register(
    "g_triangle_count",
    oracle="""
WITH op AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e AS (
    SELECT o1.l_partkey AS a, o2.l_partkey AS b
    FROM op o1 JOIN op o2
      ON o1.l_orderkey = o2.l_orderkey
     AND o1.l_partkey < o2.l_partkey
    GROUP BY o1.l_partkey, o2.l_partkey
    HAVING count(*) >= 2
),
deg AS (
    SELECT node, CAST(count(*) AS BIGINT) AS d
    FROM (SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
    GROUP BY node
),
tri AS (
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM e e1
    JOIN e e2 ON e2.a = e1.b
    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
nd AS (
    SELECT CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges
    FROM deg
),
m AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       floor((3.0::DOUBLE * n_triangles / n_wedges) * 1000000.0 + 0.5)
         / 1000000.0 AS global_clustering
FROM nd, m, tri
""",
    tags=("graph", "analytics", "llm"),
)
def g_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the frequent co-purchase graph (an edge
    between two parts bought together in ≥2 orders): node/edge/
    wedge/triangle counts plus the global clustering coefficient —
    the wedge-closure cohesion signal link-graph curation pairs with
    PageRank (organic communities close wedges; spam farms don't).
    The ≥2-support gate is what keeps the graph sparse at any scale
    — the raw co-occurrence graph densifies toward complete (every
    popular pair collides eventually) while frequent pairs stay
    rare; the same reason FP-growth prunes by support first. The
    operator runs the degree-oriented wedge join
    (`operators/graph.py::triangle_stats`) whose per-node fan-out is
    O(√m) regardless of skew; the oracle counts the same triangles
    with the id-ordered triple join — algorithm-independent totals,
    so the two must agree exactly.
    """
    pairs = _frequent_copurchase_edges(spark, sf_dir)
    # the fixture is already materialized (session-staged parquet, or
    # the fallback's own lazy checkpoint)
    stats = G.triangle_stats(pairs)
    return stats.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        round_half_up(
            F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
        ).alias("global_clustering"),
    )


#: HITS rounds shared by the Spark query and its oracle.
_HITS_ITERS = 2


@register(
    "g_hits",
    oracle="""
WITH e AS (
    SELECT DISTINCT o_custkey AS c, l_suppkey AS s
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
a1 AS (SELECT s, CAST(count(*) AS BIGINT) AS score FROM e GROUP BY s),
h1 AS (
    SELECT e.c, CAST(sum(a1.score) AS BIGINT) AS score
    FROM e JOIN a1 USING (s) GROUP BY e.c
),
a2 AS (
    SELECT e.s, CAST(sum(h1.score) AS BIGINT) AS score
    FROM e JOIN h1 USING (c) GROUP BY e.s
),
h2 AS (
    SELECT e.c, CAST(sum(a2.score) AS BIGINT) AS score
    FROM e JOIN a2 USING (s) GROUP BY e.c
),
top_a AS (
    SELECT 'authority' AS role, s AS key, score
    FROM a2 ORDER BY score DESC, s LIMIT 10
),
top_h AS (
    SELECT 'hub' AS role, c AS key, score
    FROM h2 ORDER BY score DESC, c LIMIT 10
)
SELECT role, key, score FROM top_a
UNION ALL
SELECT role, key, score FROM top_h
""",
    tags=("graph", "analytics"),
)
def g_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 HITS authorities (suppliers) and hubs (customers) of
    the bipartite order graph — Kleinberg's mutual reinforcement as
    two unrolled integer rounds (`operators/graph.py::hits`):
    unnormalised scores stay exact BIGINTs, so the ranking is
    bit-deterministic with zero floating point anywhere. Authority =
    being bought from by well-connected customers; hub = buying from
    authoritative suppliers — the bipartite complement of
    `g_pagerank`'s single blended rank.
    """
    pairs = _order_pair_counts(spark, sf_dir).select("c", "s")
    auth, hub = G.hits(pairs, iters=_HITS_ITERS)
    top_a = (
        auth.select(
            F.lit("authority").alias("role"),
            F.col("s").alias("key"),
            "score",
        )
        .orderBy(F.col("score").desc(), "key")
        .limit(10)
    )
    top_h = (
        hub.select(
            F.lit("hub").alias("role"), F.col("c").alias("key"), "score"
        )
        .orderBy(F.col("score").desc(), "key")
        .limit(10)
    )
    return top_a.unionByName(top_h)


@register(
    "g_pagerank_weighted",
    oracle=f"""
WITH pw AS (
    SELECT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b,
           CAST(count(*) AS BIGINT) AS w
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_custkey, l_suppkey
),
edges AS (
    SELECT a AS src, b AS dst, w FROM pw
    UNION ALL
    SELECT b AS src, a AS dst, w FROM pw
),
deg AS (SELECT src, CAST(sum(w) AS BIGINT) AS deg
        FROM edges GROUP BY src),
n AS (SELECT count(*) AS n_nodes FROM deg),
w AS (SELECT e.src, e.dst, e.w, d.deg
      FROM edges e JOIN deg d USING (src)),
r0 AS (
    SELECT src AS node, 1.0::DOUBLE / n.n_nodes AS rank FROM deg, n
),
{_pr_iter_weighted_ctes(_PR_ITERS)}
SELECT node,
       CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
         AS node_type,
       rank
FROM r{_PR_ITERS}
ORDER BY rank DESC, node
LIMIT 20
""",
    tags=("graph", "llm", "curation"),
)
def g_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the order graph: an edge carries its
    order-line count, so a customer's mass flows proportionally to
    how often they actually bought from each supplier — the form real
    host link graphs use (edges carry link counts). Same staged-edge
    iteration machinery as `g_pagerank`, contribution
    ``rank · w / Σ_out w`` (operators/graph.py `weight_col`).
    """
    pw = _order_pair_counts(spark, sf_dir).select(
        (F.col("c") * 2).alias("a"),
        (F.col("s") * 2 + 1).alias("b"),
        "w",
    )
    fwd = pw.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "w"
    )
    rev = pw.select(
        F.col("b").alias("src"), F.col("a").alias("dst"), "w"
    )
    ranks = G.pagerank(
        fwd.unionByName(rev),
        iters=_PR_ITERS,
        damping=_PR_DAMP,
        weight_col="w",
        # symmetric edges with w = the pair's co-occurrence count
        # (always > 0 by construction: w counts existing rows), so the
        # positive-weight filter drops nothing and the no-dangling
        # contract holds — skip the sink census
        check_dangling=False,
    )
    return (
        ranks.select(
            "node",
            F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            "rank",
        )
        .orderBy(F.col("rank").desc(), "node")
        .limit(20)
    )


@register(
    "g_adamic_adar",
    oracle="""
WITH op AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e AS (
    SELECT o1.l_partkey AS a, o2.l_partkey AS b
    FROM op o1 JOIN op o2
      ON o1.l_orderkey = o2.l_orderkey
     AND o1.l_partkey < o2.l_partkey
    GROUP BY o1.l_partkey, o2.l_partkey
    HAVING count(*) >= 2
),
adj AS (
    SELECT a AS w, b AS nbr FROM e
    UNION ALL
    SELECT b AS w, a AS nbr FROM e
),
deg AS (SELECT w, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY w),
centers AS (
    SELECT adj.w, adj.nbr,
           CAST(floor(1.0::DOUBLE / ln(d) * 1000000000.0 + 0.5)
                AS BIGINT) AS contrib
    FROM adj JOIN deg USING (w)
    WHERE d >= 2 AND d <= 64
),
wedge AS (
    SELECT c1.nbr AS x, c2.nbr AS y, c1.contrib
    FROM centers c1 JOIN centers c2
      ON c1.w = c2.w AND c1.nbr < c2.nbr
),
scored AS (
    SELECT x, y, CAST(sum(contrib) AS DOUBLE) / 1000000000.0 AS score
    FROM wedge GROUP BY x, y
),
pred AS (
    SELECT * FROM scored s
    WHERE NOT EXISTS (SELECT 1 FROM e
                      WHERE e.a = s.x AND e.b = s.y)
)
SELECT x, y, score FROM pred
ORDER BY score DESC, x, y
LIMIT 20
""",
    tags=("graph", "analytics", "recommendation"),
)
def g_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the frequent co-purchase graph: the 20
    strongest Adamic–Adar candidate edges — part pairs never bought
    together (≥2 times) that keep co-occurring with the same
    low-degree neighbors. The recommendation shape ('customers who
    bought these also bought...') and the same wedge machinery as
    `g_triangle_count`, with inverse-log-degree weighting
    (`operators/graph.py::adamic_adar`): hub centers above degree 64
    are dropped (they cost d² wedge rows for ~zero per-pair signal —
    the 10× upsample showed 10× runtime recovered by exactly this
    knob, BENCH_SCALE.json) and each
    contribution is 1e-9 fixed-point quantised so the (x, y) sum is
    partition-order-proof; the oracle spells the identical integer
    arithmetic.
    """
    pairs = _frequent_copurchase_edges(spark, sf_dir)
    return (
        G.adamic_adar(pairs, max_degree=64)
        .orderBy(F.col("score").desc(), "x", "y")
        .limit(20)
    )


@register(
    "g_degree_distribution",
    oracle="""
WITH op AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e AS (
    SELECT o1.l_partkey AS a, o2.l_partkey AS b
    FROM op o1 JOIN op o2
      ON o1.l_orderkey = o2.l_orderkey
     AND o1.l_partkey < o2.l_partkey
    GROUP BY o1.l_partkey, o2.l_partkey
    HAVING count(*) >= 2
),
deg AS (
    SELECT node, CAST(count(*) AS BIGINT) AS d
    FROM (SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
    GROUP BY node
)
SELECT d AS degree,
       CAST(count(*) AS BIGINT) AS n_nodes
FROM deg
GROUP BY d
ORDER BY d
""",
    tags=("graph", "analytics"),
)
def g_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the frequent co-purchase graph — the
    first diagnostic run on ANY production graph (power-law tail ⇒
    hub caps and salting needed; thin tail ⇒ plain keyed joins
    suffice; this is how the `g_adamic_adar` max_degree=64 cap was
    validated). Two partial-agg shuffles over the shared edge
    derivation, output bounded by the max degree.
    """
    # the session fixture already staged the edge list to parquet, so
    # both union legs below are cheap column-pruned re-scans — no
    # checkpoint needed (the pre-staging version checkpointed here to
    # stop the legs re-executing the basket explode)
    edges = _frequent_copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionByName(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("d"))
    )
    return (
        deg.groupBy(F.col("d").alias("degree"))
        .agg(F.count("*").cast("long").alias("n_nodes"))
        .orderBy("degree")
    )


# ---------------------------------------------------------------------------
# k-core membership: fixed-round degree peel
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 8


def _kcore_peel_ctes(rounds: int, k: int) -> str:
    # e{i} MATERIALIZED: DuckDB inlines plain CTEs, so an unrolled
    # 8-round peel would otherwise expand into a tree that re-scans
    # the lineitem parquet once per reference — thousands of opens
    # ("Too many open files") and exponential plan text
    parts = []
    for i in range(1, rounds + 1):
        parts.append(f"""
d{i} AS (SELECT s, CAST(count(*) AS BIGINT) AS dg
         FROM e{i - 1} GROUP BY s),
a{i} AS (SELECT s FROM d{i} WHERE dg >= {k}),
e{i} AS MATERIALIZED (
    SELECT e.s, e.d FROM e{i - 1} e
    JOIN a{i} x ON e.s = x.s
    JOIN a{i} y ON e.d = y.s
)""")
    return ",".join(parts)


@register(
    "g_kcore",
    oracle=f"""
WITH op AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pe AS (
    SELECT o1.l_partkey AS a, o2.l_partkey AS b
    FROM op o1 JOIN op o2
      ON o1.l_orderkey = o2.l_orderkey
     AND o1.l_partkey < o2.l_partkey
    GROUP BY o1.l_partkey, o2.l_partkey
    HAVING count(*) >= 2
),
e0 AS MATERIALIZED (
    SELECT a AS s, b AS d FROM pe
    UNION ALL
    SELECT b AS s, a AS d FROM pe
),
{_kcore_peel_ctes(_KCORE_ROUNDS, _KCORE_K)}
SELECT s AS node, CAST(count(*) AS BIGINT) AS degree
FROM e{_KCORE_ROUNDS}
GROUP BY s
""",
    tags=("graph", "iterative"),
)
def g_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core (k = 3) of the frequent co-purchase graph by
    fixed-round degree peeling: repeatedly drop nodes with degree
    < k and the edges they carry — the classic dense-subgraph
    extractor (spam-farm / boilerplate-ring detection on host link
    graphs; Batagelj–Zaveršnik is the sequential form, iterated
    peel is the distributed one). Semantics are pinned as EXACTLY
    ``_KCORE_ROUNDS`` peel rounds — deterministic on any input even
    where the peel hasn't converged — and the oracle unrolls the
    identical rounds; on the fixtures the peel reaches its fixpoint
    well inside the budget (tests/test_graph.py asserts one more
    round changes nothing), so the output IS the true k-core there.

    Scale shape: each round is one degree partial-agg plus two
    left-semi joins against the shrinking alive set — node-sized
    frames move and the edge list only ever shrinks. The rounds run
    on :func:`io.fixed_point` and exit early at the fixed point: the
    semi-joins only ever REMOVE edges, so an unchanged edge count
    means an unchanged edge SET, every remaining round is a no-op,
    and the early result is bit-identical to the full 8-round unroll.
    At the cap the edges are returned as they stand: the fixed budget
    caps cost at 100 TB where the peel hasn't converged.
    """
    base = _frequent_copurchase_edges(spark, sf_dir)
    # the first round's degree agg and both semi-joins read it
    edges = materialize(
        base.selectExpr("a AS s", "b AS d").unionByName(
            base.selectExpr("b AS s", "a AS d")
        )
    )

    def peel(edges: DataFrame) -> DataFrame:
        alive = (
            edges.groupBy("s")
            .agg(F.count("*").alias("dg"))
            .filter(F.col("dg") >= _KCORE_K)
            .select("s")
        )
        return (
            edges.join(alive, "s", "left_semi")
            .join(alive.withColumnRenamed("s", "d"), "d", "left_semi")
            .select("s", "d")
        )

    edges, _ = fixed_point(edges, peel, DataFrame.count, _KCORE_ROUNDS)
    return edges.groupBy(F.col("s").alias("node")).agg(
        F.count("*").cast("long").alias("degree")
    )
