"""Heavy analytical queries (TPC-H-shaped) + engine extras (pivot,
cube, percentiles, regex, array predicates).

These are the bench headliners: they stress the fact tables (lineitem
/orders at sf0.1 ≈ 600k/150k rows) with multi-join + wide-agg plans,
the shapes that dominate at 100 TB. Money math runs in DECIMAL end to
end (exact product and sum, order-independent across executors), cast
to DOUBLE only at the output boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from baronbatch_etl_spark.functions.scalars import round_half_up, sql_round
from baronbatch_etl_spark.io import load_table, materialize
from baronbatch_etl_spark.operators import corpus as CP
from baronbatch_etl_spark.operators import text as X
from baronbatch_etl_spark.queries import register

# exact decimal revenue term: price(18,2) × (1 − disc(18,2)).
# (a function: Column construction needs a live SparkContext, and the
# catalog module imports before any session exists)
def _rev():
    return F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)")
        - F.col("l_discount").cast("decimal(18,2)")
    )


_SQL_REV = (
    "CAST(l_extendedprice AS DECIMAL(18,2)) "
    "* (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
)


@register(
    "h_pricing_summary",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum({_SQL_REV}) AS DOUBLE) AS sum_disc_price,
       {sql_round(f"CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*)", 2)} AS avg_qty,
       {sql_round(f"CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*)", 4)} AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    tags=("heavy", "agg"),
)
def h_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: one scan, map-side partial aggregation into 6
    groups — pure whole-stage-codegen; the plan every 100 TB rollup
    wants."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_base_price"),
        F.sum(_rev()).cast("double").alias("sum_disc_price"),
        round_half_up(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
            / F.count("*"),
            2,
        ).alias("avg_qty"),
        round_half_up(
            F.sum(F.col("l_discount").cast("decimal(18,6)")).cast("double")
            / F.count("*"),
            4,
        ).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@register(
    "h_shipping_priority",
    oracle=f"""
SELECT l.l_orderkey,
       CAST(sum({_SQL_REV.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')}) AS DOUBLE) AS revenue,
       epoch_ms(o.o_orderdate) AS orderdate_ms
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15'
  AND l.l_shipdate > TIMESTAMP '1996-03-15'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
""",
    tags=("heavy", "join", "topk"),
)
def h_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → join fact chain → agg →
    top-k. The customer side broadcasts; lineitem never shuffles
    before the aggregate."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp")
    )
    return (
        li.join(
            F.broadcast(o.join(F.broadcast(c), o.o_custkey == c.c_custkey)),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.unix_millis("o_orderdate").alias("orderdate_ms"),
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "h_local_supplier_volume",
    oracle=f"""
SELECT n.n_name AS nation,
       CAST(sum({_SQL_REV.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')}) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'EUROPE'
GROUP BY n.n_name
""",
    tags=("heavy", "join"),
)
def h_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with a same-nation residual — all
    dim sides broadcast, single shuffle for the final group."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    return (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )


@register(
    "h_order_priority",
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.05)
GROUP BY o_orderpriority
""",
    tags=("heavy", "semi-join"),
)
def h_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelated to a left-semi join — the
    fact side never materializes matched rows, so the shuffle carries
    only (orderkey, priority)."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_discount") > 0.05)
        .select("l_orderkey")
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "h_returned_items",
    oracle=f"""
WITH rev AS (
    SELECT o.o_custkey, sum({_SQL_REV.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')}) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
    GROUP BY o.o_custkey
)
SELECT c.c_custkey, c.c_name, n.n_name AS nation,
       CAST(rev.revenue AS DOUBLE) AS revenue
FROM rev
JOIN customer c ON rev.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
""",
    tags=("heavy", "join", "topk"),
)
def h_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: aggregate the fact-fact join down to one row
    per customer BEFORE touching the dim tables — the dim joins then
    run on agg-sized input and broadcast at any scale."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(_rev()).alias("revenue"))
    )
    return (
        rev.join(F.broadcast(c), rev.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation"),
            F.col("revenue").cast("double").alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "h_small_qty_revenue",
    oracle="""
WITH thresh AS (
    SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_thresh
    FROM lineitem GROUP BY l_partkey
)
SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
           AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN thresh t ON t.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#12' AND l.l_quantity < t.qty_thresh
""",
    tags=("heavy", "subquery"),
)
def h_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-part average decorrelated into
    a grouped subquery joined back to the fact — one extra shuffle on
    l_partkey instead of one subquery per row. avg stays exact: the
    quantities are integral doubles, so partial sums are associative
    across executors."""
    li = load_table(spark, sf_dir, "lineitem")
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#12")
        .select("p_partkey")
    )
    thresh = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_thresh")
    ).withColumnRenamed("l_partkey", "t_partkey")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(thresh, F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                .cast("double")
                / F.lit(7.0)
            ).alias("avg_yearly")
        )
    )


@register(
    "h_large_volume_customer",
    oracle="""
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       epoch_ms(o.o_orderdate) AS orderdate_ms, o.o_totalprice,
       CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
    SELECT l_orderkey FROM lineitem
    GROUP BY l_orderkey HAVING sum(l_quantity) > 250
)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 100
""",
    tags=("heavy", "semi-join", "topk"),
)
def h_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered IN-subquery. The per-order
    quantity the outer query re-aggregates IS the HAVING aggregate,
    so the plan computes it once: one lineitem shuffle on orderkey,
    filter to the top ~1% of orders, then the survivors broadcast
    into the orders/customer joins — lineitem is never scanned
    twice."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sq")
        )
        .filter(F.col("sq") > 250)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.unix_millis("o_orderdate").alias("orderdate_ms"),
            "o_totalprice",
            F.col("sq").cast("double").alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@register(
    "h_disjunctive_revenue",
    oracle=f"""
SELECT CAST(sum({_SQL_REV.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')}) AS DOUBLE) AS revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 30)
   OR (p.p_brand = 'Brand#7' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity BETWEEN 20 AND 40)
""",
    tags=("heavy", "predicate"),
)
def h_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive mixed-table predicate. The
    part-only disjunction (brand ∪ brand ∪ brand) is separable, so
    Catalyst pushes it into the part scan; the residual cross-table
    OR evaluates post-join in codegen."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#7")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return joined.filter(cond).agg(
        F.sum(_rev()).cast("double").alias("revenue")
    )


@register(
    "h_forecast_revenue",
    oracle="""
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
              * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    tags=("heavy", "agg"),
)
def h_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate, zero joins, zero
    wide exchanges beyond the 1-row final agg — the query that lives
    or dies on predicate pushdown and codegen."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * F.col("l_discount").cast("decimal(18,2)")
        )
        .cast("double")
        .alias("revenue")
    )


@register(
    "h_nation_volume",
    oracle=f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l.l_shipdate) AS l_year,
       CAST(sum({_SQL_REV.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')}) AS DOUBLE) AS revenue
FROM supplier s
JOIN lineitem l ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
   OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
GROUP BY 1, 2, 3
""",
    tags=("heavy", "join"),
)
def h_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional nation-pair trade volume by ship
    year. The nation filters push into the supplier/customer dim scans
    BEFORE the fact joins (two tiny broadcast sides), and the
    cross-table pair disjunction evaluates post-join in codegen."""
    n = load_table(spark, sf_dir, "nation")
    pair = ["NATION_3", "NATION_7"]
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n.filter(F.col("n_name").isin(pair))),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(n.filter(F.col("n_name").isin(pair))),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        # s and c are nation-filtered dims → explicit broadcast; the
        # orders join is fact-fact, left to AQE (broadcast at bench
        # scale, shuffle-on-orderkey at 100 TB)
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(
            ((F.col("supp_nation") == pair[0]) & (F.col("cust_nation") == pair[1]))
            | ((F.col("supp_nation") == pair[1]) & (F.col("cust_nation") == pair[0]))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )


@register(
    "h_promo_revenue",
    oracle=f"""
SELECT (CAST(sum(CASE WHEN p.p_type = 'PROMO'
                      THEN {_SQL_REV.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')} END) AS DOUBLE) * 100.0)
       / CAST(sum({_SQL_REV.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')}) AS DOUBLE) AS promo_pct
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1996-03-01'
""",
    tags=("heavy", "agg"),
)
def h_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio. Both sums run in
    DECIMAL (exact, executor-order-independent); the ratio is one
    double division at the end."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-03-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (
                F.sum(F.when(F.col("p_type") == "PROMO", _rev()))
                .cast("double")
                * F.lit(100.0)
                / F.sum(_rev()).cast("double")
            ).alias("promo_pct")
        )
    )


@register(
    "h_top_supplier",
    oracle=f"""
WITH rev AS (
    SELECT l_suppkey, sum({_SQL_REV}) AS total_rev
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1996-04-01'
    GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_rev
FROM supplier s
JOIN rev r ON s.s_suppkey = r.l_suppkey
WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
""",
    tags=("heavy", "subquery"),
)
def h_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: revenue rollup reused by both the scalar max
    subquery and the equality filter. The rollup is materialized — one
    lineitem scan feeds both branches; the max is a 1-row broadcast.
    DECIMAL revenue makes the max-equality exact (a double max would
    be a last-ulp lottery across executors)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    # one lineitem scan feeds both branches
    rev = materialize(
        li.groupBy("l_suppkey").agg(F.sum(_rev()).alias("total_rev"))
    )
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev").cast("double").alias("total_rev"),
        )
    )


@register(
    "q_pivot_status",
    oracle="""
SELECT o_orderpriority,
       count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
       count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
       count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
FROM orders GROUP BY o_orderpriority
""",
    tags=("pivot",),
)
def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with explicit category values (no category-discovery
    pass — required at scale)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .na.fill(0, ["O", "F", "P"])
    )


@register(
    "q_cube_status_priority",
    oracle="""
SELECT coalesce(o_orderstatus, '(all)') AS status,
       coalesce(o_orderpriority, '(all)') AS priority,
       count(*) AS n
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    tags=("cube",),
)
def q_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two categoricals with '(all)' level markers."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            "n",
        )
    )


@register(
    "p5_array_first_match",
    oracle="""
SELECT vec_id,
       (list_filter(embedding, x -> x > 0.2))[1] AS first_big,
       len(list_filter(embedding, x -> x > 0.2)) AS n_big
FROM embeddings
""",
    tags=("array", "predicate"),
)
def p5_array_first_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-array-element-matching-predicate (SURVEY P5/F21: the
    reference's next(p for p in ... if ...) as a higher-order filter)."""
    e = load_table(spark, sf_dir, "embeddings")
    big = F.filter("embedding", lambda x: x > 0.2)
    return e.select(
        "vec_id",
        # try_element_at: empty match list → NULL (DuckDB [1] agrees)
        F.try_element_at(big, F.lit(1)).alias("first_big"),
        F.size(big).alias("n_big"),
    )


@register(
    "f_rlike_match",
    oracle="""
SELECT p_partkey, p_name, p_type
FROM part
WHERE regexp_matches(p_name, '^(cold|small) .*(bolt|widget)$')
""",
    tags=("regex",),
)
def f_rlike_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General (non-anchored-equality) regex predicate — SURVEY F6."""
    return (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").rlike("^(cold|small) .*(bolt|widget)$"))
        .select("p_partkey", "p_name", "p_type")
    )


@register(
    "a_approx_distinct",
    # HLL sketches are engine-specific, so the estimate itself can't be
    # hash-matched; the oracle instead checks the invariant the sketch
    # guarantees (rsd default 5%) next to the exact count.
    oracle="""
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS exact_parts,
       true AS approx_ok
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("agg", "approx"),
)
def a_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++) next to the exact count — the
    at-scale cardinality path (no expand, one pass, bounded memory).

    Emits ``approx_ok`` = |approx − exact| ≤ 7.5% · exact (1.5× the
    default 5% rsd) so the sketch is oracle-checkable as an invariant.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey").alias("_approx"),
            F.countDistinct("l_partkey").alias("exact_parts"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("_approx") - F.col("exact_parts"))
                <= 0.075 * F.col("exact_parts")
            ).alias("approx_ok"),
        )
    )


@register(
    "q_unpivot",
    oracle="""
SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
UNION ALL
SELECT p_partkey, 'p_retailprice', p_retailprice FROM part
""",
    tags=("unpivot",),
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot via stack(): wide numeric columns → (metric, value)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.expr(
            "stack(2, 'p_size', CAST(p_size AS DOUBLE), "
            "'p_retailprice', p_retailprice) AS (metric, value)"
        ),
    )


@register(
    "a_percentiles",
    oracle="""
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.25) AS q25,
       quantile_cont(l_quantity, 0.5) AS q50,
       quantile_cont(l_quantity, 0.75) AS q75
FROM lineitem GROUP BY l_returnflag
""",
    tags=("agg", "percentile"),
)
def a_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (the statistical
    extras the reference lacks; approx_percentile is the at-scale
    variant but is engine-specific, so the oracle checks the exact
    form)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.25)).alias("q25"),
        F.percentile("l_quantity", F.lit(0.5)).alias("q50"),
        F.percentile("l_quantity", F.lit(0.75)).alias("q75"),
    )


@register(
    "q_profile_table",
    # per-column profile rows; min/max emitted only where the string
    # form is engine-portable (BIGINT-valued and flag columns)
    oracle="""
SELECT 'l_orderkey' AS col, count(*) AS n,
       count(*) - count(l_orderkey) AS n_null,
       count(DISTINCT l_orderkey) AS n_distinct,
       CAST(min(l_orderkey) AS VARCHAR) AS min_s,
       CAST(max(l_orderkey) AS VARCHAR) AS max_s
FROM lineitem
UNION ALL
SELECT 'l_linenumber', count(*), count(*) - count(l_linenumber),
       count(DISTINCT l_linenumber),
       CAST(min(l_linenumber) AS VARCHAR), CAST(max(l_linenumber) AS VARCHAR)
FROM lineitem
UNION ALL
SELECT 'l_quantity', count(*), count(*) - count(l_quantity),
       count(DISTINCT l_quantity),
       CAST(CAST(min(l_quantity) AS BIGINT) AS VARCHAR),
       CAST(CAST(max(l_quantity) AS BIGINT) AS VARCHAR)
FROM lineitem
UNION ALL
SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
       count(DISTINCT l_returnflag), min(l_returnflag), max(l_returnflag)
FROM lineitem
""",
    tags=("profile", "agg"),
)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profiling: per-column row count, null
    count, exact distinct count, and engine-portable min/max — the
    stats pass that feeds CBO/layout decisions (which dims broadcast,
    which columns range-cluster).

    Shape: one independent aggregate per column, unioned — each part
    is a 2-phase partial agg over a scan PRUNED to that single column
    (cheap columnar reads, no Expand). The obvious one-pass
    alternative (multi-countDistinct in one agg) compiles to
    Catalyst's Expand, multiplying shuffle rows by n_cols+1 —
    measured 5x slower at sf0.1. The true at-scale single-pass form
    keeps ONE scan and swaps exact distincts for approx_count_distinct
    (no Expand needed; a_approx_distinct shows that pattern and its
    invariant check); nulls/min/max stay exact either way. Quantity
    min/max cast through BIGINT (values are integral) so the string
    form is engine-portable."""
    li = load_table(spark, sf_dir, "lineitem")
    mins = {
        "l_orderkey": F.min("l_orderkey").cast("string"),
        "l_linenumber": F.min("l_linenumber").cast("string"),
        "l_quantity": F.min("l_quantity").cast("bigint").cast("string"),
        "l_returnflag": F.min("l_returnflag"),
    }
    maxes = {
        "l_orderkey": F.max("l_orderkey").cast("string"),
        "l_linenumber": F.max("l_linenumber").cast("string"),
        "l_quantity": F.max("l_quantity").cast("bigint").cast("string"),
        "l_returnflag": F.max("l_returnflag"),
    }
    parts = [
        li.agg(
            F.lit(c).alias("col"),
            F.count("*").alias("n"),
            (F.count("*") - F.count(c)).alias("n_null"),
            F.countDistinct(c).alias("n_distinct"),
            mins[c].alias("min_s"),
            maxes[c].alias("max_s"),
        )
        for c in mins
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Mergeable sketch state + multidimensional layout clustering
# ---------------------------------------------------------------------------

@register(
    "a_hll_union",
    # Datasketches HLL binaries are engine-specific, so (like
    # a_approx_distinct) the oracle checks the exact count plus the
    # invariant the union of per-group sketches must satisfy.
    oracle="""
SELECT count(DISTINCT event_type) AS n_sketches,
       count(DISTINCT user_id) AS exact_users,
       true AS union_ok
FROM events
""",
    tags=("agg", "approx", "sketch"),
)
def a_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable cardinality state: one Datasketches HLL sketch per
    event_type, then a sketch-level union for the corpus estimate —
    the re-aggregatable pattern behind incremental distinct counts at
    100 TB (store per-day/per-partition sketches once; answer any
    rollup later by unioning bytes, never rescanning the fact table).

    ``a_approx_distinct`` shows the one-shot estimator; this one shows
    the two-level state: hll_sketch_agg → persistable binary →
    hll_union_agg → estimate. The union estimate must match a direct
    whole-table sketch within HLL's error envelope (union of HLLs over
    a partition of the data is lossless at equal lgConfigK), so
    ``union_ok`` checks |union_est − exact| ≤ 5%·exact (≈3× the
    lgConfigK=12 rsd).

    Plan: one partial-agg shuffle to |event_type| sketch rows, then a
    1-row union — no second scan, no expand.
    """
    ev = load_table(spark, sf_dir, "events")
    sketches = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    unioned = sketches.agg(
        F.count("*").alias("n_sketches"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_union_est"),
    )
    exact = ev.agg(F.countDistinct("user_id").alias("exact_users"))
    return unioned.join(F.broadcast(exact)).select(
        "n_sketches",
        "exact_users",
        (
            F.abs(F.col("_union_est") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("union_ok"),
    )


def _z_terms(x: str, y: str, bits: int, spark_dialect: bool) -> str:
    """16-bit Morton (z-order) interleave of two ``bits``-bit ints."""
    if spark_dialect:
        parts = [
            f"shiftleft((shiftright({x}, {i}) & 1) + 0, {2 * i}) + "
            f"shiftleft((shiftright({y}, {i}) & 1) + 0, {2 * i + 1})"
            for i in range(bits)
        ]
    else:
        parts = [
            f"((({x} >> {i}) & 1) << {2 * i}) + "
            f"((({y} >> {i}) & 1) << {2 * i + 1})"
            for i in range(bits)
        ]
    return " + ".join(parts)


_Z_SPARK = _z_terms("_zx", "_zy", 8, True)
_Z_DUCK = _z_terms("zx", "zy", 8, False)


@register(
    "q_zorder_layout",
    oracle=f"""
WITH d AS (
    SELECT o_custkey % 256 AS zx,
           ((datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
              % 256) + 256) % 256 AS zy
    FROM orders
),
z AS (SELECT zx, zy, ({_Z_DUCK}) AS zval FROM d)
SELECT zval // 4096 AS z_bucket,
       count(*) AS n,
       min(zx) AS min_cust, max(zx) AS max_cust,
       min(zy) AS min_day, max(zy) AS max_day,
       max(zx) - min(zx) + 1 AS cust_span,
       max(zy) - min(zy) + 1 AS day_span
FROM z GROUP BY z_bucket
""",
    tags=("layout", "zorder"),
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) multidimensional clustering audit: interleave
    the low 8 bits of customer and order-day, bucket rows by the top 4
    z-bits, and report each bucket's span in BOTH dimensions.

    This is the layout a 100 TB table writer uses so that file-level
    min/max stats prune scans on EITHER predicate column: sort by
    ``zval`` before writing (``repartition(n, z_bucket)`` +
    ``sortWithinPartitions(zval)``) and every output file covers a
    small rectangle of (customer, day) space — here each of the 16
    buckets spans ≤ 64 of 256 values per dimension (top 2 bits of each
    dim pinned), vs a 1-D sort where the second column's span stays
    full-range. The audit query itself is one partial-agg shuffle on a
    row-local expression; cheap enough to run after every compaction.

    Deterministic on purpose: bit-prefix buckets, not sampled
    repartitionByRange boundaries, so the oracle hash-matches.
    """
    o = load_table(spark, sf_dir, "orders")
    d = o.select(
        (F.col("o_custkey") % 256).alias("_zx"),
        # pmod, not % — Spark's % keeps the dividend's sign, so an
        # order before the epoch date would yield a negative day
        # bucket and break the 64×64-span property (fixtures happen
        # to start at the epoch; real data need not)
        F.pmod(
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1995-01-01").cast("date"),
            ),
            F.lit(256),
        ).cast("bigint").alias("_zy"),
    )
    z = d.select("_zx", "_zy", F.expr(_Z_SPARK).alias("zval"))
    return (
        z.groupBy((F.col("zval") / 4096).cast("bigint").alias("z_bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min("_zx").alias("min_cust"),
            F.max("_zx").alias("max_cust"),
            F.min("_zy").alias("min_day"),
            F.max("_zy").alias("max_day"),
            (F.max("_zx") - F.min("_zx") + 1).alias("cust_span"),
            (F.max("_zy") - F.min("_zy") + 1).alias("day_span"),
        )
    )


# ---------------------------------------------------------------------------
# Count-min sketch: mergeable heavy-hitter frequency state
# ---------------------------------------------------------------------------

CMS_TOPK = 20


def _cms_bucket_sql(j: int, hv: str) -> str:
    return (
        f"(({CP.CMS_A[j]} * {hv} + {CP.CMS_B[j]}) % {X.POLY_P}) % {CP.CMS_W}"
    )


def _cms_oracle() -> str:
    bucket_rows = "\n    UNION ALL ".join(
        f"SELECT {j} AS j, {_cms_bucket_sql(j, 'hv')} AS bucket, c FROM h\n"
        for j in range(CP.CMS_D)
    )
    cand_rows = "\n    UNION ALL ".join(
        f"SELECT tok, c, {j} AS j, {_cms_bucket_sql(j, 'hv')} AS bucket "
        f"FROM cand\n"
        for j in range(CP.CMS_D)
    )
    return f"""
WITH tok AS (
    SELECT unnest(string_split(text, ' ')) AS tok FROM documents
),
cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY tok),
h AS (SELECT tok, c, {X.sql_char_poly_hash('tok')} AS hv FROM cnt),
buck AS (
    {bucket_rows}
),
cms AS (SELECT j, bucket, CAST(sum(c) AS BIGINT) AS cell
        FROM buck GROUP BY j, bucket),
cand AS (SELECT tok, c, hv FROM h ORDER BY c DESC, tok LIMIT {CMS_TOPK}),
cb AS (
    {cand_rows}
),
est AS (
    SELECT cb.tok, cb.c, min(cms.cell) AS cms_est
    FROM cb JOIN cms USING (j, bucket) GROUP BY cb.tok, cb.c
)
SELECT tok, c AS exact_count, cms_est,
       cms_est >= c AS no_undercount
FROM est
"""


@register(
    "a_cms_heavy_hitters",
    oracle=_cms_oracle(),
    tags=("agg", "approx", "sketch"),
)
def a_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus token stream: fold every token
    into a d×w counter grid, then read the top-k tokens' estimates
    back out next to their exact counts — the mergeable frequency
    state behind streaming heavy-hitter monitors (cells are plain
    sums, so per-partition / per-epoch grids union by adding, the
    same counts-are-the-state pattern as t_corpus_drift and
    a_hll_union's sketch bytes).

    Deterministic on purpose (fixed row constants over the portable
    polynomial hash, integer cells, no floats), so unlike opaque
    sketch binaries the WHOLE grid is oracle-checkable bit-for-bit;
    ``no_undercount`` asserts the CMS guarantee est ≥ true on every
    probed token.

    Plan: token explode → vocab partial agg is the only full-data
    shuffle (identical shape to t_token_topk); the grid folds the
    vocab to 2048 cells map-side; candidates are TakeOrderedAndProject
    (no single-partition window sort); the probe joins the broadcast
    grid. At 100 TB nothing downstream of the vocab agg grows with
    the data — and a real deployment can skip the exact-count agg
    entirely and fold raw tokens straight into per-partition grids.

    Reference parity: extends the counting family
    (dashboard/app.py:114 aggregate counters) with bounded-memory
    approximate state; not in the reference.
    """
    # corpus-grain exact counts re-aggregated from the staged
    # (source, token) count table — a vocab-sized agg instead of the
    # full-data token shuffle; hv is functionally dependent on tok so
    # grouping by both preserves the staged hash. The grid fold,
    # top-k candidates and probe all still run in-plan here.
    from baronbatch_etl_spark.queries.catalog_corpus import (
        _token_source_counts,
    )

    # two consumers (grid fold + candidate top-k) — materialize the
    # vocab-sized aggregate once
    h = materialize(
        _token_source_counts(spark, sf_dir)
        .groupBy("tok", "hv")
        .agg(F.sum("c").alias("c"))
    )

    cms = CP.cms_grid_from_hashes(h, weight="c")
    cand = h.orderBy(F.desc("c"), F.asc("tok")).limit(CMS_TOPK)
    probes = cand.select(
        "tok", "c", F.explode(CP.cms_buckets(F.col("hv"))).alias("jb")
    ).select(
        "tok", "c", F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket")
    )
    return (
        probes.join(F.broadcast(cms), ["j", "bucket"])
        .groupBy("tok", "c")
        .agg(F.min("cell").alias("cms_est"))
        .select(
            "tok",
            F.col("c").alias("exact_count"),
            "cms_est",
            (F.col("cms_est") >= F.col("c")).alias("no_undercount"),
        )
    )


@register(
    "h_order_count_distribution",
    oracle="""
SELECT c_count, count(*) AS custdist
FROM (
    SELECT c.c_custkey, count(o.o_orderkey) AS c_count
    FROM customer c
    LEFT OUTER JOIN orders o
      ON c.c_custkey = o.o_custkey
     AND o.o_orderpriority = '1-URGENT'
    GROUP BY c.c_custkey
) per_cust
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
    tags=("heavy", "outer-join", "agg"),
)
def h_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: outer-join count distribution (how many
    customers placed 0, 1, 2, … urgent orders). Rather than dragging
    every customer row through a customer⟕orders join and counting
    after, aggregate orders down to (custkey, cnt) FIRST — custkey is
    the customer PK, so ``customer ⟕ per-custkey-counts`` is
    row-equivalent to counting the joined rows, and the outer join
    runs on agg-sized input. Two key-hashed shuffles total (custkey,
    then c_count with partial aggregation); at 100 TB the orders
    pre-agg is the only fact-sized exchange.

    Reference parity: the dashboard's per-player game-count histogram
    (dashboard/app.py:114 aggregate counters) generalized to the
    zero-bucket via the outer join.
    """
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
    )
    per_cust = c.join(
        o, c.c_custkey == o.o_custkey, "left_outer"
    ).select(F.coalesce(F.col("n_orders"), F.lit(0)).alias("c_count"))
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "h_waiting_suppliers",
    oracle="""
SELECT s.s_name, count(*) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY)
  AND n.n_name = 'NATION_7'
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 20
""",
    tags=("heavy", "semi-join", "anti-join", "topk"),
)
def h_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who alone shipped late (>90 days
    after the order date) on multi-supplier finished orders. The two
    correlated subqueries (EXISTS another-supplier line, NOT EXISTS
    another-supplier LATE line) collapse into ONE per-order aggregate:
    ``n_supp = countDistinct(suppkey)`` and ``n_late_supp =
    countDistinct(suppkey) FILTER (late)``. A late l1 row survives iff
    ``n_supp > 1 AND n_late_supp = 1`` — l1 itself is late, so the
    single late supplier must be l1's. One orderkey shuffle for the
    agg, one orderkey join back, broadcast supplier/nation; no
    correlated re-scan of lineitem, which at 100 TB is the difference
    between 2 fact passes and 4.

    Reference parity: multi-participant per-match blame attribution —
    the shape of transformer_loader/main.py:102-131's per-match
    participant resolution, pushed through EXISTS/NOT-EXISTS.
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lo = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "late",
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"),
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("late"), F.col("l_suppkey"))
        ).alias("n_late_supp"),
    )
    l1 = (
        lo.filter(F.col("late"))
        .select("l_orderkey", "l_suppkey")
        .join(
            per_order.filter(
                (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
            ).select("l_orderkey"),
            "l_orderkey",
        )
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_7"
    )
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", "s_name"
    )
    return (
        l1.join(F.broadcast(sn), l1.l_suppkey == sn.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@register(
    "h_dormant_customers",
    oracle="""
SELECT CAST(c_nationkey AS VARCHAR) AS cntrycode,
       count(*) AS numcust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer c
WHERE c_nationkey IN (8, 9, 10, 11, 12, 13, 14)
  AND c_acctbal > (
        SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / count(*)
        FROM customer
        WHERE c_acctbal > 0.0
          AND c_nationkey IN (8, 9, 10, 11, 12, 13, 14))
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY cntrycode
ORDER BY cntrycode
""",
    tags=("heavy", "anti-join", "scalar-subquery"),
)
def h_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: well-funded-but-dormant accounts — customers
    in a nation block whose balance beats the block's positive-balance
    mean and who placed no order since 2000. The scalar subquery is a
    one-row aggregate cross-joined in (broadcast nested loop over a
    single row); the mean is computed as exact DECIMAL sum ÷ count so
    Spark and the oracle threshold on the bit-identical IEEE double
    regardless of partition order. NOT EXISTS is a left-anti join
    against the date-filtered orders keys. One customer-scan + one
    pushdown-filtered orders scan; no correlated evaluation.

    Reference parity: the dashboard's stale-player pruning
    (api_service/main.py:199-261 cleanup scans) as a declarative
    anti-join instead of a per-row lookup loop.
    """
    NATIONS = [8, 9, 10, 11, 12, 13, 14]
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(NATIONS)
    )
    thresh = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                .cast("double")
                / F.count("*")
            ).alias("avg_bal")
        )
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
        )
        .select("o_custkey")
    )
    rich = cust.join(F.broadcast(thresh)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    dormant = rich.join(
        recent, rich.c_custkey == recent.o_custkey, "left_anti"
    )
    return (
        dormant.groupBy(
            F.col("c_nationkey").cast("string").alias("cntrycode")
        )
        .agg(
            F.count("*").alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


@register(
    "h_market_share",
    oracle=f"""
WITH vol AS (
    SELECT year(o.o_orderdate) AS o_year,
           CAST({_SQL_REV.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')} AS DECIMAL(18,4)) AS volume,
           ns.n_name AS supp_nation
    FROM part p
    JOIN lineitem l ON p.p_partkey = l.l_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
    JOIN region r   ON nc.n_regionkey = r.r_regionkey
    JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
    WHERE r.r_name = 'AMERICA'
      AND p.p_type = 'ECONOMY'
      AND o.o_orderdate >= TIMESTAMP '1995-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
)
SELECT o_year,
       floor((CAST(sum(CASE WHEN supp_nation = 'NATION_5'
                            THEN volume ELSE CAST(0 AS DECIMAL(18,4))
                       END) AS DOUBLE)
              / CAST(sum(volume) AS DOUBLE)) * 1000000.0 + 0.5)
         / 1000000.0 AS mkt_share
FROM vol
GROUP BY o_year
ORDER BY o_year
""",
    tags=("heavy", "join"),
)
def h_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share — the 8-way star join
    with TWO nation legs (customer region gate, supplier nation
    label) and a conditional-share aggregate. True dimension legs
    (part-type survivors, supplier, customer, nation, region)
    broadcast; orders is fact-sized even after the two-year gate, so
    the lineitem↔orders leg stays a keyed shuffle join. Share
    math follows the money discipline: numerator and denominator are
    exact DECIMAL sums (order-independent), ONE IEEE division at the
    end, rounded half-up to 6 places on both engines.
    """
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "ECONOMY"
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount",
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "AMERICA"
    )
    nc = n.select(
        F.col("n_nationkey").alias("nc_key"),
        F.col("n_regionkey").alias("nc_region"),
    )
    ns = n.select(
        F.col("n_nationkey").alias("ns_key"),
        F.col("n_name").alias("supp_nation"),
    )
    vol = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(nc), c.c_nationkey == F.col("nc_key"))
        .join(F.broadcast(r), F.col("nc_region") == r.r_regionkey)
        .join(F.broadcast(ns), s.s_nationkey == F.col("ns_key"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            _rev().cast("decimal(18,4)").alias("volume"),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        vol.groupBy("o_year")
        .agg(
            round_half_up(
                F.sum(
                    F.when(
                        F.col("supp_nation") == "NATION_5",
                        F.col("volume"),
                    ).otherwise(zero)
                ).cast("double")
                / F.sum("volume").cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "h_profit_by_nation",
    oracle="""
SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) AS profit
FROM (
    SELECT ns.n_name AS nation,
           year(o.o_orderdate) AS o_year,
           CAST(l.l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2))
                - CAST(l.l_discount AS DECIMAL(18,2)))
           - CAST(l.l_quantity AS DECIMAL(18,2))
             * (CAST(p.p_retailprice AS DECIMAL(18,2))
                * CAST(0.2 AS DECIMAL(18,2))) AS amount
    FROM part p
    JOIN lineitem l ON p.p_partkey = l.l_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
    WHERE p.p_name LIKE '%red%'
)
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
""",
    tags=("heavy", "join"),
)
def h_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-type profit by supplier nation and
    year. The fixture has no partsupp table, so unit cost is the
    deterministic stand-in ``0.2 · p_retailprice`` (same join
    topology and arithmetic discipline as Q9's
    ``ps_supplycost · l_quantity``). Part/supplier/nation legs
    broadcast; the lineitem↔orders leg is a keyed shuffle join
    (orders is fact-sized — not broadcast); profit stays DECIMAL
    end-to-end (product-before-subtract, exact at any accumulation
    order) and casts to DOUBLE only on output.
    """
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    amount = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)")
        - F.col("l_discount").cast("decimal(18,2)")
    ) - F.col("l_quantity").cast("decimal(18,2)") * (
        F.col("p_retailprice").cast("decimal(18,2)")
        * F.lit(0.2).cast("decimal(18,2)")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("amount").cast("double").alias("profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


@register(
    "h_parts_supplier_count",
    oracle="""
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM part p
JOIN lineitem l ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#12'
  AND p.p_type NOT LIKE 'PROMO%'
  AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND l.l_suppkey NOT IN (
      SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
""",
    tags=("heavy", "join", "distinct"),
)
def h_parts_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can provide each
    qualifying (brand, type, size) — supplier diversity per part
    class. The fixture has no partsupp table, so the part↔supplier
    relation derives from actual lineitem links (same topology:
    filtered part dim ⋈ relation, NOT-IN excluded supplier set,
    count-distinct rollup). The excluded-supplier subquery becomes a
    broadcast anti-join (complaint suppliers → negative balances
    here); the count-distinct shuffles (brand, type, size, suppkey)
    once, then collapses — the two-phase distinct-agg plan.
    """
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#12")
        & (~F.col("p_type").like("PROMO%"))
        & (F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    excluded = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select(F.col("s_suppkey").alias("excl_key"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(
            F.broadcast(excluded),
            li.l_suppkey == F.col("excl_key"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


@register(
    "h_shipmode_priority",
    oracle="""
SELECT l.l_returnflag,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_returnflag IN ('A', 'R')
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l.l_returnflag
ORDER BY l.l_returnflag
""",
    tags=("heavy", "join", "conditional-agg"),
)
def h_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: was critical freight handled under urgent
    order priorities? Per line category, count lines whose parent
    order was high-priority (1-URGENT/2-HIGH) vs not — the
    join-then-conditionally-bucket pattern (the reference buckets
    match outcomes by queue type the same way, api_service/main.py:
    340-349). The fixture's lineitem stops at l_shipdate (no
    l_shipmode/l_commitdate), so the category axis is l_returnflag
    restricted to two values and the receipt-window filter becomes a
    shipdate year — identical operator shape, available columns.

    Scale shape: the category+date filters prune the fact scan
    (pushed to parquet); the join ships only (orderkey, returnflag)
    against (orderkey, orderpriority) — two key-width shuffles, then
    the CASE buckets fold map-side into a 2-row result. No dim
    tables, no sort until the 2-row output.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("A", "R")
        & (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_returnflag")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


# Watchlist for the CMS probe twin: four tokens from the synthetic
# plan-word vocabulary (present at every SF) + one guaranteed-absent
# token pinning the never-seen → 0 path.
CMS_PROBE_TOKENS = ("scan", "column", "window", "join", "zz_never_seen_tok")


def _cms_probe_oracle() -> str:
    bucket_rows = "\n    UNION ALL ".join(
        f"SELECT {j} AS j, {_cms_bucket_sql(j, 'hv')} AS bucket, c FROM h\n"
        for j in range(CP.CMS_D)
    )
    probe_rows = "\n    UNION ALL ".join(
        f"SELECT tok, {j} AS j, {_cms_bucket_sql(j, 'hv')} AS bucket "
        f"FROM ph\n"
        for j in range(CP.CMS_D)
    )
    probes = ", ".join(f"'{t}'" for t in CMS_PROBE_TOKENS)
    return f"""
WITH tok AS (
    SELECT unnest(string_split(text, ' ')) AS tok FROM documents
),
cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY tok),
h AS (SELECT tok, c, {X.sql_char_poly_hash('tok')} AS hv FROM cnt),
buck AS (
    {bucket_rows}
),
cms AS (SELECT j, bucket, CAST(sum(c) AS BIGINT) AS cell
        FROM buck GROUP BY j, bucket),
probe AS (SELECT unnest([{probes}]) AS tok),
ph AS (SELECT tok, {X.sql_char_poly_hash('tok')} AS hv FROM probe),
pb AS (
    {probe_rows}
),
est AS (
    SELECT pb.tok, min(coalesce(cms.cell, 0)) AS cms_est
    FROM pb LEFT JOIN cms USING (j, bucket) GROUP BY pb.tok
)
SELECT tok, cms_est FROM est
"""


@register(
    "a_cms_probe",
    oracle=_cms_probe_oracle(),
    tags=("agg", "approx", "sketch", "streaming-twin"),
)
def a_cms_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watchlist probe against the count-min grid — the batch twin of
    the streaming monitor's read fold (streaming/ops.py::cms_estimate
    over a cms_monitor_ingest grid store): a fixed driver-side token
    watchlist is hashed into its d (row, bucket) cells and estimated
    as min over those cells, with an absent cell coalesced to 0 so a
    NEVER-ingested token reports exactly 0 (a bare min over non-empty
    cells would over-report it). Complements a_cms_heavy_hitters,
    which probes only tokens known to be in the grid — this is the
    dashboard path: 'how often have we seen THESE tokens', some of
    which never occurred.

    Plan: the grid fold is the vocab partial agg + 2048-cell map-side
    fold (a_cms_heavy_hitters's shape); the probe set is a 5-row
    literal frame joined against the broadcast grid — milliseconds
    regardless of corpus size, the whole point of holding a sketch
    instead of the token table.
    """
    # (hv, c) rows from the staged token-count table — the grid fold
    # below sums cells over them, so (source, token)-grain rows fold
    # to the identical cells the corpus-grain counts did (cells are
    # plain sums); the sketch itself is still built in-plan here
    from baronbatch_etl_spark.queries.catalog_corpus import (
        _token_source_counts,
    )

    hashed = _token_source_counts(spark, sf_dir).select("hv", "c")
    cms = CP.cms_grid_from_hashes(hashed, weight="c")
    probes = (
        spark.createDataFrame(
            [(t,) for t in CMS_PROBE_TOKENS], "tok STRING"
        )
        .select("tok", X.char_poly_hash(F.col("tok")).alias("hv"))
        .select("tok", F.explode(CP.cms_buckets(F.col("hv"))).alias("jb"))
        .select(
            "tok",
            F.col("jb.j").alias("j"),
            F.col("jb.bucket").alias("bucket"),
        )
    )
    return (
        probes.join(F.broadcast(cms), ["j", "bucket"], "left")
        .groupBy("tok")
        .agg(
            F.min(F.coalesce(F.col("cell"), F.lit(0).cast("long"))).alias(
                "cms_est"
            )
        )
    )
