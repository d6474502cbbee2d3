"""Reference-inventory operators G1-G13 (SURVEY §2.1) over the file,
commit and stats tables."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from onetable_spark.queries import query
from onetable_spark.session import load_table


@query(oracle="""
        SELECT p_partkey, p_name FROM part p
        WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 45)
    """)
def q_g1_files_diff(spark: SparkSession, sf: str) -> DataFrame:
    """G1 set-difference diff (OneDataFilesDiff.java:51-68): left-anti join.

    Parts never shipped in bulk (qty > 45) ≍ files present in source,
    absent in target. Scale: anti-join shuffles on the key; AQE turns the
    small side into a broadcast anti-join automatically; the quantity
    filter pushes to the parquet scan before the join.
    """
    part = load_table(spark, sf, "part")
    li = load_table(spark, sf, "lineitem").filter(F.col("l_quantity") > 45)
    return part.join(li, part.p_partkey == li.l_partkey, "left_anti").select(
        "p_partkey", "p_name"
    )


@query(oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(COUNT(*) AS BIGINT) AS num_files,
               ROUND(SUM(l_extendedprice), 2) AS total_size,
               ROUND(SUM(l_quantity), 2) AS total_records
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    """)
def q_g2_group_files(spark: SparkSession, sf: str) -> DataFrame:
    """G2 group-by-partition (OneFileGroup.java:38-53): hash aggregation.

    Lineitems grouped by (returnflag, linestatus) ≍ files grouped by
    partition values; counts and sizes aggregate map-side first.
    """
    li = load_table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("num_files"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_size"),
        F.round(F.sum("l_quantity"), 2).alias("total_records"),
    )


@query(oracle="""
        SELECT label,
               CAST(COUNT(*) AS BIGINT) AS n_components,
               ROUND(SUM(CAST(component AS DOUBLE)), 2) AS component_sum
        FROM (SELECT label, UNNEST(embedding) AS component FROM embeddings)
        GROUP BY label
    """)
def q_g3_schema_flatten(spark: SparkSession, sf: str) -> DataFrame:
    """G3 BFS flatten of nested structure (OneSchema.java:87-98): explode.

    Explode the embedding array and aggregate per label — the data-plane
    analogue of flattening nested schema fields.
    """
    emb = load_table(spark, sf, "embeddings")
    return (
        emb.select("label", F.explode("embedding").alias("component"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_components"),
            F.round(F.sum(F.col("component").cast("double")), 2).alias("component_sum"),
        )
    )


@query(oracle="""
        SELECT DISTINCT nationkey FROM (
            SELECT c_nationkey AS nationkey FROM customer
            UNION ALL
            SELECT s_nationkey AS nationkey FROM supplier
        )
    """)
def q_g4_sorted_merge_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """G4 sorted merge + dedup (HudiClient.java:260-287): union-distinct."""
    customer = load_table(spark, sf, "customer")
    supplier = load_table(spark, sf, "supplier")
    merged = customer.select(F.col("c_nationkey").alias("nationkey")).unionByName(
        supplier.select(F.col("s_nationkey").alias("nationkey"))
    )
    return merged.distinct()


@query(oracle="""
        SELECT o_orderstatus, MIN(CAST(o_orderdate AS DATE)) AS earliest_date
        FROM orders GROUP BY o_orderstatus
    """)
def q_g5_min_over_group(spark: SparkSession, sf: str) -> DataFrame:
    """G5 min over group (OneTableClient.java:248-266): earliest instant."""
    orders = load_table(spark, sf, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.min(F.col("o_orderdate").cast("date")).alias("earliest_date")
    )


@query(oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM events
        WHERE event_type IN ('click', 'view') AND ts >= TIMESTAMP '2024-01-03 00:00:00'
        GROUP BY event_type
    """)
def q_g6_filter_predicates(spark: SparkSession, sf: str) -> DataFrame:
    """G6 filter by IN-list + range predicate (TableFormatSync.java:135-144).

    Both predicates push down to the parquet scan (PushedFilters)."""
    events = load_table(spark, sf, "events")
    return (
        events.filter(
            F.col("event_type").isin("click", "view")
            & (F.col("ts") >= F.lit("2024-01-03").cast("timestamp_ntz"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@query(oracle="""
        SELECT l_returnflag, MAX(l_quantity) AS max_qty, MAX(l_extendedprice) AS max_price
        FROM lineitem GROUP BY l_returnflag
    """)
def q_g7_max_agg(spark: SparkSession, sf: str) -> DataFrame:
    """G7 max aggregation (HudiFileStatsExtractor.java:169-175)."""
    li = load_table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.max("l_quantity").alias("max_qty"),
        F.max("l_extendedprice").alias("max_price"),
    )


@query(oracle="""
        SELECT l_orderkey,
               CAST(COUNT(*) AS BIGINT) AS num_values,
               MIN(l_extendedprice) AS min_price,
               MAX(l_extendedprice) AS max_price,
               MIN(l_quantity) AS min_qty,
               MAX(l_quantity) AS max_qty
        FROM lineitem GROUP BY l_orderkey
    """)
def q_g8_stats_regroup(spark: SparkSession, sf: str) -> DataFrame:
    """G8 per-file stats regroup (HudiFileStatsExtractor.java:124-167).

    Per-(file × column) stat rows → per-file aggregates: one hash agg with
    map-side combine; raw MIN/MAX are exact (no float accumulation)."""
    li = load_table(spark, sf, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("num_values"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


@query(oracle="""
        SELECT event_type,
               CAST(COUNT(k) AS BIGINT) AS n_props,
               CAST(SUM(k) AS BIGINT) AS sum_k,
               CAST(MIN(k) AS BIGINT) AS min_k,
               CAST(MAX(k) AS BIGINT) AS max_k
        FROM (SELECT event_type, CAST(props ->> '$.k' AS BIGINT) AS k FROM events)
        GROUP BY event_type
    """)
def q_g10_json_flatten(spark: SparkSession, sf: str) -> DataFrame:
    """G10 nested JSON flatten (DeltaStatsExtractor.java:215-235).

    Delta stats JSON → typed values; here: extract props.k from the JSON
    props column and aggregate."""
    events = load_table(spark, sf, "events")
    return (
        events.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_props"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@query(oracle="""
        SELECT o_orderkey, o_totalprice, CAST(o_orderdate AS DATE) AS o_date
        FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """)
def q_g11_sort_commits(spark: SparkSession, sf: str) -> DataFrame:
    """G11/G12 order-by + top-k (DeltaIncrementalChangesState.java:77-81,
    OneTableClient.java:200-207): TakeOrderedAndProject, no full sort."""
    orders = load_table(spark, sf, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice", F.col("o_orderdate").cast("date").alias("o_date"))
    )


@query(oracle="""
        SELECT user_id, event_id, event_type FROM (
            SELECT user_id, event_id, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
    """)
def q_g12_latest_instant(spark: SparkSession, sf: str) -> DataFrame:
    """G12 top-1 latest instant (HudiClient.java:88-94) per group.

    Latest event per user via row_number — window-free-dedup variant."""
    events = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


@query(oracle="""
        SELECT o_custkey, o_orderkey FROM (
            SELECT o_custkey, o_orderkey,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
            FROM orders
        ) WHERE rn = 1
    """)
def q_dedup_first_per_key(spark: SparkSession, sf: str) -> DataFrame:
    """Window-free dedup (row_number()==1): first order per customer."""
    orders = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey")
    )
