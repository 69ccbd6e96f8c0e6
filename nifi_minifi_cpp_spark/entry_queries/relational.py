"""Relational surface (SURVEY §2.7 — Catalyst-native TPC-H-shaped set)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._shared import _cents, _register, _t


@_register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                   AS sum_qty,
           round(sum(l_extendedprice), 2)                              AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4)                                   AS avg_qty,
           round(avg(l_extendedprice), 4)                              AS avg_price,
           round(avg(l_discount), 4)                                   AS avg_disc,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2024-11-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-aggregate, fully pushed down."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2024-11-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@_register(
    "q3_top_revenue_orders",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> join -> agg -> top-k.
    customer is broadcast (small side); top-k is TakeOrdered."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@_register(
    "region_rollup",
    """
    SELECT r_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS total_acctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way star join; both dims broadcast — no shuffle for the join."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


@_register(
    "top10_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def top10_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.select("o_orderkey", "o_custkey", "o_totalprice").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    ).limit(10)


@_register(
    "top3_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders
    ) WHERE rnk <= 3
    """,
)
def top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


@_register(
    "cube_lineitem_status",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_lineitem_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty")
    )


@_register(
    "distinct_parts_per_order",
    """
    SELECT l_orderkey, count(DISTINCT l_partkey) AS n_parts, count(*) AS n_lines
    FROM lineitem GROUP BY l_orderkey
    """,
)
def distinct_parts_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.countDistinct("l_partkey").alias("n_parts"), F.count(F.lit(1)).alias("n_lines")
    )


@_register(
    "customers_without_orders",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (the FetchFile 'not found' routing shape)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@_register(
    "customers_with_big_orders",
    """
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
    """,
)
def customers_with_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_mktsegment")


@_register(
    "segment_set_ops",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 450000
    """,
)
def segment_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    machinery = c.filter(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    big = o.filter(F.col("o_totalprice") > 450000).select(F.col("o_custkey").alias("c_custkey"))
    return building.union(machinery).distinct().exceptAll(big.distinct())


@_register(
    "part_brand_revenue",
    """
    SELECT p_brand,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lineitems,
           round(avg(p_retailprice), 4) AS avg_retail
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def part_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-dim join with broadcast part; map-side combine on brand."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_retail"),
        )
    )


@_register(
    "supplier_nation_agg",
    """
    SELECT n_name, count(*) AS n_suppliers, round(sum(s_acctbal), 2) AS total_bal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def supplier_nation_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_suppliers"), F.round(F.sum("s_acctbal"), 2).alias("total_bal"))
    )


@_register(
    "rollup_orders_priority",
    """
    SELECT o_orderpriority, o_orderstatus, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
)
def rollup_orders_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )


@_register(
    "q5_regional_supplier_revenue",
    """
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_regional_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with a local-supplier equi-constraint.
    Scale plan: lineitem⋈orders⋈customer shuffle on their keys;
    supplier/nation/region are broadcast (supplier is the largest at
    ~10 MB/SF — still broadcastable at SF100); the region filter prunes
    the broadcast side before the join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).join(
        F.broadcast(r), F.col("n_regionkey") == r.r_regionkey
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(sn),
            (li.l_suppkey == sn.s_suppkey) & (c.c_nationkey == sn.s_nationkey),
        )
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@_register(
    "q6_revenue_forecast",
    """
    SELECT round(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)) / 100.0, 2) AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate. All three predicates
    push to the parquet scan (min/max row-group pruning); the global sum
    is a two-stage partial+final agg with no shuffle of data rows. Sum is
    quantized to exact cents — a single global float sum over 100 TB is
    the worst case for accumulation-order divergence."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(_cents(F.col("l_extendedprice") * F.col("l_discount"))) / 100.0, 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )


@_register(
    "q11_valuable_parts",
    """
    WITH pv AS (
      SELECT l_partkey,
             CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(l_quantity AS BIGINT) AS val_cents
      FROM lineitem
    )
    SELECT l_partkey, round(sum(val_cents) / 100.0, 2) AS part_value
    FROM pv
    GROUP BY l_partkey
    HAVING sum(val_cents) >
           (SELECT 1.5 * sum(val_cents) / count(DISTINCT l_partkey) FROM pv)
    """,
)
def q11_valuable_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: group-by with a HAVING against a global-total
    scalar subquery. The per-key aggregate is one shuffle; the scalar
    total is a broadcast of one row (crossJoin of a 1-row DF), not a
    driver collect — the same plan works at any scale."""
    li = _t(spark, sf_dir, "lineitem")
    pv = li.select(
        "l_partkey",
        (_cents(F.col("l_extendedprice")) * F.col("l_quantity").cast("long")).alias("val_cents"),
    )
    per_part = pv.groupBy("l_partkey").agg(F.sum("val_cents").alias("sum_cents"))
    total = pv.agg(
        (1.5 * F.sum("val_cents") / F.count_distinct(F.col("l_partkey"))).alias("threshold")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("sum_cents") > F.col("threshold"))
        .select("l_partkey", F.round(F.col("sum_cents") / 100.0, 2).alias("part_value"))
    )


@_register(
    "q12_priority_by_linestatus",
    """
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
)
def q12_priority_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact-fact join + conditional counts. The shipdate
    filter lands on the lineitem scan before the shuffle join on orderkey."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@_register(
    "q14_promo_revenue_pct",
    """
    SELECT round(
             100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                              ELSE 0 END)
                   / sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)),
             4) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
    """,
)
def q14_promo_revenue_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: broadcast dim join + conditional-ratio aggregate.
    Both sums are exact integer cents, so the final double division is
    bit-identical across engines."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev_cents = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.try_divide(
                    100.0 * F.sum(F.when(F.col("p_type") == "PROMO", rev_cents).otherwise(F.lit(0))),
                    F.sum(rev_cents),
                ),
                4,
            ).alias("promo_revenue_pct")
        )
    )


@_register(
    "q18_large_quantity_orders",
    """
    SELECT c_name, o.o_orderkey, o_orderdate,
           round(o_totalprice, 2) AS o_total,
           big.total_qty AS total_qty
    FROM (SELECT l_orderkey, sum(l_quantity) AS total_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING sum(l_quantity) > 250) big
      JOIN orders o ON big.l_orderkey = o.o_orderkey
      JOIN customer ON o_custkey = c_custkey
    """,
)
def q18_large_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered grouped fact, joined back to its
    dimensions. The heavy step is the lineitem groupBy (one shuffle);
    the surviving ~1% of orders is broadcast into the orders/customer
    joins so no second full shuffle of the fact tables happens."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        o.join(F.broadcast(big), big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round(F.col("o_totalprice"), 2).alias("o_total"),
            "total_qty",
        )
    )


@_register(
    "q19_disjunctive_predicates",
    """
    SELECT round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) / 100.0, 2) AS revenue,
           count(*) AS n
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    clauses across the join. Catalyst extracts the common
    brand-IN/size/quantity envelope to both scans; the residual OR is
    evaluated post-join in codegen."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), p.p_partkey == li.l_partkey)
    clause = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 30)
    )
    return j.filter(clause).agg(
        F.round(F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))) / 100.0, 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n"),
    )


@_register(
    "q4_priority_order_exists",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_priority_order_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS correlated subquery -> left-semi join.
    The date filter prunes orders before the shuffle; the semi join
    keeps only the join key from lineitem (no payload columns move)."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@_register(
    "q10_returned_item_customers",
    """
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           n_name
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-lineitem revenue per customer, top 20.
    The returnflag filter pushes to the lineitem scan; nation is
    broadcast; top-k is TakeOrderedAndProject (no global sort)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@_register(
    "q16_brand_size_supplier_counts",
    """
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO' AND p_size IN (1, 4, 9, 16, 25, 36, 49)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_brand_size_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-count grouped by dim attributes. The
    dim filters prune the broadcast side before the join; distinct
    count is a two-phase partial-distinct aggregate."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(p), p.p_partkey == li.l_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


@_register(
    "q2_min_cost_supplier",
    """
    WITH costs AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice) AS min_price
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    ranked AS (
      SELECT l_partkey, l_suppkey, min_price,
             row_number() OVER (PARTITION BY l_partkey
                                ORDER BY min_price, l_suppkey) AS rn
      FROM costs
    )
    SELECT r.l_partkey AS p_key, s_name, round(min_price, 2) AS best_price
    FROM ranked r JOIN supplier ON r.l_suppkey = s_suppkey
    WHERE rn = 1 AND r.l_partkey <= 200
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per-part minimum-cost supplier — the correlated
    min subquery becomes a window row_number over the grouped costs.
    Two shuffles by design: the first carries map-side-combined
    (partkey, suppkey) minima (tiny at any scale), the second
    repartitions those aggregates by partkey for the window — cheaper
    than one full-width shuffle of raw lineitem. supplier is broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    costs = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(F.min("l_extendedprice").alias("min_price"))
    )
    w = Window.partitionBy("l_partkey").orderBy(F.asc("min_price"), F.asc("l_suppkey"))
    best = costs.withColumn("rn", F.row_number().over(w)).filter(
        (F.col("rn") == 1) & (F.col("l_partkey") <= 200)
    )
    return best.join(F.broadcast(s), best.l_suppkey == s.s_suppkey).select(
        F.col("l_partkey").alias("p_key"),
        "s_name",
        F.round(F.col("min_price"), 2).alias("best_price"),
    )


@_register(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey,
             sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS rev_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, round(rev_cents / 100.0, 2) AS total_revenue
    FROM revenue JOIN supplier ON l_suppkey = s_suppkey
    WHERE rev_cents = (SELECT max(rev_cents) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: revenue view + max scalar subquery (ties kept).
    The revenue aggregate is computed once and reused for both the max
    and the final filter; exact cents make the max comparison stable.
    The 1-row max is broadcast, never collected to the driver."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    revenue = (
        li.groupBy("l_suppkey")
        .agg(F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("rev_cents"))
    )
    mx = revenue.agg(F.max("rev_cents").alias("mx"))
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("rev_cents") == F.col("mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("rev_cents") / 100.0, 2).alias("total_revenue"),
        )
    )


@_register(
    "q22_idle_rich_customers",
    """
    SELECT c_mktsegment,
           count(*) AS n_custs,
           round(sum(c_acctbal), 2) AS total_bal
    FROM customer
    WHERE CAST(round(c_acctbal * 100) AS BIGINT) >
          (SELECT avg(CAST(round(c_acctbal * 100) AS BIGINT)) FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    """,
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average filter (scalar subquery) + anti
    join against the fact table (customers who never placed an URGENT
    order). The average is computed over exact integer cents so the
    threshold double is bit-identical across engines; the anti join
    shuffles on custkey, and the priority filter lands on the orders
    scan before the shuffle."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    avg_cents = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(F.avg(_cents(F.col("c_acctbal"))).alias("avg_cents"))
    )
    return (
        c.crossJoin(F.broadcast(avg_cents))
        .filter(_cents(F.col("c_acctbal")) > F.col("avg_cents"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


@_register(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year, round(sum(rev_cents) / 100.0, 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS rev_cents
      FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: two-nation shipping volume by year. Both nation
    dims broadcast (2 rows each after their name filters); the only
    shuffles are the fact-fact joins on orderkey."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("_n1key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("_n2key"), F.col("n_name").alias("cust_nation"))
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2") | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    joined = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_n1key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_n2key"))
        .filter(pair)
    )
    return (
        joined.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(
                F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))) / 100.0, 2
            ).alias("revenue")
        )
    )


@_register(
    "q8_market_share",
    """
    SELECT o_year,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN rev_cents ELSE 0 END) AS DOUBLE)
                 / sum(rev_cents), 6) AS mkt_share
    FROM (
      SELECT year(o_orderdate) AS o_year, n2.n_name AS supp_nation,
             CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS rev_cents
      FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region    ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
    )
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's part-type
    revenue per year — 8-way join where every dimension broadcasts and
    the conditional share is one pass (no second scan for the
    numerator). Exact cents make numerator/denominator identical
    across engines; the single division happens on equal doubles."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1 = n.select(F.col("n_nationkey").alias("_n1key"), F.col("n_regionkey").alias("_n1reg"))
    n2 = n.select(F.col("n_nationkey").alias("_n2key"), F.col("n_name").alias("supp_nation"))
    rev = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    joined = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("_n1key"))
        .join(F.broadcast(r), F.col("_n1reg") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("_n2key"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_1", rev).otherwise(F.lit(0))).cast(
                    "double"
                )
                / F.sum(rev),
                6,
            ).alias("mkt_share")
        )
    )


@_register(
    "q9_profit_by_nation_year",
    """
    SELECT nation, o_year, round(sum(amount_cents) / 100.0, 2) AS sum_profit
    FROM (
      SELECT n_name AS nation, year(o_orderdate) AS o_year,
             CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS amount_cents
      FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN nation ON s_nationkey = n_nationkey
    )
    GROUP BY nation, o_year
    """,
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (sans partsupp — the testdata has no supplycost):
    profit rollup by supplier nation and order year. The full-fact
    aggregation shuffles once on (nation, year) after map-side partial
    aggregation; supplier/nation broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    joined = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return (
        joined.groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))) / 100.0, 2
            ).alias("sum_profit")
        )
    )


@_register(
    "q13_customer_order_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of per-customer order counts with
    a filtered LEFT OUTER join (the filter lives in the join condition,
    so customers with zero qualifying orders still count at 0)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@_register(
    "q17_small_quantity_revenue",
    """
    SELECT round(sum(price_cents) / 100.0 / 7.0, 2) AS avg_yearly
    FROM (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_brand = 'Brand#1'
        AND 5 * CAST(round(l_quantity * 100) AS BIGINT)
            * (SELECT count(*) FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)
          < (SELECT CAST(sum(CAST(round(l2.l_quantity * 100) AS BIGINT)) AS BIGINT)
             FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)
    )
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue of below-average-quantity line items.
    The correlated scalar subquery (per-part average) decorrelates into
    one grouped aggregate joined back to the fact — the comparison
    ``qty < 0.2 * avg`` is done in exact integer cents
    (5*qty*n < sum) so no engine-specific double rounding can flip a
    boundary row."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    qc = _cents(F.col("l_quantity"))
    per_part = (
        li.groupBy("l_partkey")
        .agg(F.sum(_cents(F.col("l_quantity"))).alias("_sum_qc"), F.count(F.lit(1)).alias("_n"))
        .withColumnRenamed("l_partkey", "_pp_key")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(per_part, li.l_partkey == F.col("_pp_key"))
        .filter(5 * qc * F.col("_n") < F.col("_sum_qc"))
        .agg(
            F.round(F.sum(_cents(F.col("l_extendedprice"))) / 100.0 / 7.0, 2).alias("avg_yearly")
        )
    )


@_register(
    "q20_promo_part_suppliers",
    """
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_type = 'PROMO'
        AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_suppkey
      HAVING CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) > 5000
    )
    """,
)
def q20_promo_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (sans partsupp): suppliers who shipped a large
    volume of PROMO parts in a year — nested grouped-HAVING feeding a
    semi-join. The HAVING side is small and broadcasts into the
    supplier semi-join."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = _t(spark, sf_dir, "supplier")
    big = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(_cents(F.col("l_quantity"))).alias("_qty_cents"))
        .filter(F.col("_qty_cents") > 5000)
    )
    return s.join(F.broadcast(big), s.s_suppkey == big.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


@_register(
    "q21_waiting_suppliers",
    """
    SELECT s_name, count(*) AS numwait
    FROM supplier
      JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3 JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY)
    GROUP BY s_name
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (late = shipped >90 days after the order, since
    the testdata has no receipt/commit dates): suppliers who were the
    ONLY late supplier on a multi-supplier order. EXISTS / NOT EXISTS
    compile to left-semi / left-anti joins on (orderkey, other-supp)
    sets — no correlated per-row subquery execution."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    all_pairs = li.select("l_orderkey", "l_suppkey").distinct()
    l1 = late.alias("l1")
    # another supplier on the same order
    has_other = l1.join(
        all_pairs.alias("l2"),
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    )
    # ... but no OTHER supplier was late on it
    only_late = has_other.alias("l1").join(
        late.distinct().alias("l3"),
        (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
        "left_anti",
    )
    return (
        only_late.join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
