"""Relational and analytics operators: windows, grouping sets, pivots,
temporal joins, sketches, sessionization and layout/compaction planning."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from onetable_spark.queries import query
from onetable_spark.session import load_table, local_rows_df


@query(oracle="""
        SELECT user_id,
               CAST(MAX(sess_id) AS BIGINT) AS n_sessions,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM (
            SELECT user_id, value,
                   SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sess_id
            FROM (
                SELECT user_id, ts, event_id, value,
                       CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                                 OR date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800
                            THEN 1 ELSE 0 END AS new_sess
                FROM events))
        GROUP BY user_id
    """)
def q_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization: 30-min-gap sessions per user via window lag + running
    sum (the batch twin of the streaming session-window operator)."""
    events = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    secs = F.col("ts").cast("timestamp").cast("long")  # NTZ → epoch seconds (UTC session)
    gap = secs - F.lag(secs).over(w)
    with_sess = events.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    ).withColumn("sess_id", F.sum("new_sess").over(w))
    return with_sess.groupBy("user_id").agg(
        F.max("sess_id").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(oracle="""
        WITH per_user AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                   MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                   MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
            FROM events GROUP BY user_id
        )
        SELECT CAST(COUNT(t_view) AS BIGINT) AS n_view_users,
               CAST(SUM(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS BIGINT) AS n_click_after_view,
               CAST(SUM(CASE WHEN t_click > t_view AND t_purchase > t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
        FROM per_user
    """)
def q_funnel_steps(spark: SparkSession, sf: str) -> DataFrame:
    """Conversion funnel over the event stream: users whose FIRST view
    precedes their first click precedes their first purchase (the standard
    first-touch funnel simplification — one conditional-min pass per user,
    no ordered-sequence scan). One groupBy(user) with three conditional
    mins + one global rollup; partial aggregation makes the shuffle carry
    3 timestamps per user per partition."""
    events = load_table(spark, sf, "events")
    per_user = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    return per_user.agg(
        F.count("t_view").cast("long").alias("n_view_users"),
        F.sum(F.when(F.col("t_click") > F.col("t_view"), 1).otherwise(0))
        .cast("long")
        .alias("n_click_after_view"),
        F.sum(
            F.when(
                (F.col("t_click") > F.col("t_view")) & (F.col("t_purchase") > F.col("t_click")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_full_funnel"),
    )


@query(oracle="""
        WITH first AS (
            SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id
        )
        SELECT CAST(CAST(f.first_ts AS DATE) AS VARCHAR) AS cohort_date,
               CAST(date_diff('day', CAST(f.first_ts AS DATE), CAST(e.ts AS DATE)) AS INT) AS day_offset,
               CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
        FROM events e JOIN first f USING (user_id)
        GROUP BY 1, 2
    """)
def q_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity day,
    distinct active users per (cohort, day-offset). First-touch table and
    the event stream both hash-partition on user_id, so Catalyst reuses
    one exchange for the self-join; countDistinct is exact (partial
    distinct aggregation — no driver set)."""
    events = load_table(spark, sf, "events")
    first = events.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    joined = events.join(first, "user_id").select(
        "user_id",
        F.to_date("first_ts").alias("cohort_d"),
        F.datediff(F.to_date("ts"), F.to_date("first_ts")).alias("day_offset"),
    )
    return (
        joined.groupBy(
            F.col("cohort_d").cast("string").alias("cohort_date"), "day_offset"
        )
        .agg(F.count_distinct(F.col("user_id")).alias("n_users"))
    )


def _daily_event_counts_gapfilled(spark: SparkSession, sf: str) -> DataFrame:
    """(day, event_type, n_events) with ZERO rows for silent days: the
    resample-with-gap-fill primitive every time-series pipeline needs
    before rates/moving averages are meaningful. The calendar spine is
    sequence(min_day, max_day) from ONE aggregated row and the type list
    is a distinct over a low-cardinality column — both broadcast; the
    event counts left-join onto the spine, so the only per-event work is
    the counting aggregation itself."""
    events = load_table(spark, sf, "events")
    counts = events.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    span = events.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    days = span.select(
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("day")
    )
    types = events.select("event_type").distinct()
    spine = days.crossJoin(types)
    return (
        spine.join(counts, ["day", "event_type"], "left")
        .select(
            F.col("day").cast("string").alias("day"),
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
        )
    )


@query(oracle="""
        WITH span AS (
            SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1 FROM events
        ), days AS (
            SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 day)) AS DATE) AS day FROM span
        ), types AS (
            SELECT DISTINCT event_type FROM events
        ), counts AS (
            SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
            FROM events GROUP BY 1, 2
        )
        SELECT CAST(d.day AS VARCHAR) AS day, t.event_type,
               CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events
        FROM days d CROSS JOIN types t
        LEFT JOIN counts c ON c.day = d.day AND c.event_type = t.event_type
    """)
def q_gap_fill(spark: SparkSession, sf: str) -> DataFrame:
    """Daily event counts resampled onto a dense calendar × type spine
    (zero-filled gaps)."""
    return _daily_event_counts_gapfilled(spark, sf)


@query(oracle="""
        WITH span AS (
            SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1 FROM events
        ), days AS (
            SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 day)) AS DATE) AS day FROM span
        ), types AS (
            SELECT DISTINCT event_type FROM events
        ), counts AS (
            SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
            FROM events GROUP BY 1, 2
        ), daily AS (
            SELECT CAST(d.day AS VARCHAR) AS day, t.event_type,
                   CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events
            FROM days d CROSS JOIN types t
            LEFT JOIN counts c ON c.day = d.day AND c.event_type = t.event_type
        )
        SELECT day, event_type, n_events,
               ROUND(AVG(n_events) OVER (PARTITION BY event_type ORDER BY day
                                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS avg_7d
        FROM daily
    """)
def q_moving_avg(spark: SparkSession, sf: str) -> DataFrame:
    """7-day trailing moving average per event type over the gap-filled
    daily series — composed on the resample primitive so silent days pull
    the average DOWN (the whole point of filling gaps first). One window
    over (type, day); the series is days × types rows, trivially
    window-able at any corpus scale because the heavy reduction happened
    in the daily aggregation."""
    daily = _daily_event_counts_gapfilled(spark, sf)
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "day",
        "event_type",
        "n_events",
        F.round(F.avg("n_events").over(w), 4).alias("avg_7d"),
    )


@query(oracle="""
        WITH seq AS (
            SELECT user_id, event_type AS next_type,
                   LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
            FROM events
        ), pairs AS (
            SELECT prev_type, next_type, COUNT(*) AS n_trans
            FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
        )
        SELECT prev_type, next_type, CAST(n_trans AS BIGINT) AS n_trans,
               ROUND(n_trans / CAST(SUM(n_trans) OVER (PARTITION BY prev_type) AS DOUBLE), 4) AS p_next
        FROM pairs
    """)
def q_event_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    (prev_type → next_type) counts and conditional probabilities. The
    sequencing is one LAG window per user partition (single shuffle on
    user_id — the natural key, unskewed); the transition matrix is a
    |types|² aggregate, so the second shuffle moves k² rows no matter the
    corpus size. The per-prev normalization runs as a window over that
    tiny matrix."""
    events = load_table(spark, sf, "events")
    seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            "user_id",
            "ts",
            "event_id",
            F.col("event_type").alias("next_type"),
            F.lag("event_type").over(seq).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    norm = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n_trans",
        F.round(
            F.col("n_trans") / F.sum("n_trans").over(norm).cast("double"), 4
        ).alias("p_next"),
    )


@query(oracle="""
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
               TRUE AS within_5pct
        FROM events GROUP BY 1
    """)
def q_approx_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """HLL++ approximate distinct users per event type, with the sketch's
    error bound asserted INSIDE the plan: the query returns the exact
    count plus a boolean claiming the approx is within 5% of it, so the
    cross-engine oracle (whose own sketch would differ) hash-checks the
    bound rather than the engine-specific estimate. At 100 TB the approx
    side is the one you'd keep: approx_count_distinct is a fixed-size
    mergeable sketch (map-side partial, no exact-distinct expand-shuffle
    of every (type, user) pair)."""
    events = load_table(spark, sf, "events")
    # Two separate aggregations, NOT one fused agg: countDistinct forces a
    # two-phase (type, user) expand, and a fused plan would carry the
    # ~3 KB HLL sketch through that expand shuffle per (type, user) pair.
    # Split, the sketch side is one partial-merge exchange of k rows; the
    # exact side (audit-only — at scale you'd keep just the sketch) pays
    # its expand without the sketch payload. Both results are k rows, so
    # the recombine is a broadcast join.
    approx = events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users")
    )
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    agg = exact.join(F.broadcast(approx), "event_type")
    return agg.select(
        "event_type",
        F.col("exact_users").cast("long").alias("exact_users"),
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            / F.col("exact_users").cast("double")
            <= 0.05
        ).alias("within_5pct"),
    )


@query(oracle="""
        SELECT event_type,
               ROUND(quantile_cont(value, 0.5), 4) AS p50,
               ROUND(quantile_cont(value, 0.95), 4) AS p95,
               ROUND(quantile_cont(value, 0.99), 4) AS p99,
               TRUE AS rank_within_1pct
        FROM events GROUP BY 1
    """)
def q_approx_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable-sketch quantiles (approx_percentile, the KLL/GK-family
    fixed-size sketch) per event type, with the rank guarantee asserted
    IN-PLAN: for each approximate pN the query computes the true rank
    fraction of the returned value and checks |rank − N| ≤ 0.01. The
    hash-checked columns are the exact interpolated quantiles (engine-
    portable) plus the boolean — the sketch value itself is
    engine-specific, its *guarantee* is not. At 100 TB the sketch is the
    plan: fixed-size partial per partition, one k-row merge exchange —
    no global sort, no full-column shuffle (the exact side here is the
    audit harness, same pattern as q_approx_distinct)."""
    events = load_table(spark, sf, "events")
    approx = events.groupBy("event_type").agg(
        F.percentile_approx("value", [0.5, 0.95, 0.99], 10000).alias("ap")
    )
    # rank-audit pass: the sketch's rank guarantee is two-sided on a CDF
    # that can jump at atoms (heavy ties), so the check is
    # p ∈ [frac(value < ap) − ε, frac(value ≤ ap) + ε] — the one-sided
    # |frac(value ≤ ap) − p| form can legitimately trip on a tie atom
    # even when the sketch honored its guarantee (ADVICE r5)
    audited = (
        events.join(F.broadcast(approx), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum((F.col("value") <= F.col("ap")[i]).cast("long")).alias(f"le{i}")
                for i in range(3)
            ],
            *[
                F.sum((F.col("value") < F.col("ap")[i]).cast("long")).alias(f"lt{i}")
                for i in range(3)
            ],
        )
    )
    exact = events.groupBy("event_type").agg(
        F.expr("percentile(value, array(0.5D, 0.95D, 0.99D))").alias("ep")
    )
    targets = [0.5, 0.95, 0.99]
    rank_ok = None
    for i, p in enumerate(targets):
        n = F.col("n").cast("double")
        ok = (F.lit(p) >= F.col(f"lt{i}") / n - 0.01) & (
            F.lit(p) <= F.col(f"le{i}") / n + 0.01
        )
        rank_ok = ok if rank_ok is None else (rank_ok & ok)
    return audited.join(F.broadcast(exact), "event_type").select(
        "event_type",
        F.round(F.col("ep")[0], 4).alias("p50"),
        F.round(F.col("ep")[1], 4).alias("p95"),
        F.round(F.col("ep")[2], 4).alias("p99"),
        rank_ok.alias("rank_within_1pct"),
    )


@query(oracle="""
        WITH z AS (
            SELECT event_id, user_id,
                   (user_id & 255) AS x, (event_id & 255) AS y
            FROM events
        )
        SELECT event_id, user_id, CAST(
               (((x >> 0) & 1) << 0)  + (((y >> 0) & 1) << 1)  +
               (((x >> 1) & 1) << 2)  + (((y >> 1) & 1) << 3)  +
               (((x >> 2) & 1) << 4)  + (((y >> 2) & 1) << 5)  +
               (((x >> 3) & 1) << 6)  + (((y >> 3) & 1) << 7)  +
               (((x >> 4) & 1) << 8)  + (((y >> 4) & 1) << 9)  +
               (((x >> 5) & 1) << 10) + (((y >> 5) & 1) << 11) +
               (((x >> 6) & 1) << 12) + (((y >> 6) & 1) << 13) +
               (((x >> 7) & 1) << 14) + (((y >> 7) & 1) << 15)
               AS BIGINT) AS zval
        FROM z
        ORDER BY zval ASC, event_id ASC
        LIMIT 100
    """)
def q_zorder_layout(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order (Morton) clustering keys — the space-filling-curve layout
    primitive behind Delta OPTIMIZE ZORDER and Hudi z-order clustering:
    sorting on the interleaved key co-locates rows close in BOTH
    dimensions, so min/max file stats prune multi-column range predicates.
    The 16-bit key interleaves the low 8 bits of (user_id, event_id);
    integer bit math only, identical in any engine. Returns the 100
    lowest-z rows (tie-break event_id) plus each row's z — at corpus
    scale the same expression feeds a range-partitioned write, and the
    plan is a pure projection + TakeOrderedAndProject: ZERO shuffle
    exchanges, partial top-k per partition merged at the driver."""
    from onetable_spark.operators.maintenance import morton_key

    events = load_table(spark, sf, "events")
    z = morton_key(["user_id", "event_id"])
    return (
        events.select("event_id", "user_id", z.alias("zval"))
        .orderBy(F.asc("zval"), F.asc("event_id"))
        .limit(100)
    )


@query(oracle="""
        SELECT user_id,
               CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS click,
               CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS view,
               CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
               CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS error
        FROM events GROUP BY user_id
    """)
def q_pivot_events(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot: per-user event counts spread across event-type columns.
    Values enumerated explicitly so Spark skips the extra distinct-scan
    (two-pass pivot) — the shape a 100 TB pipeline needs."""
    events = load_table(spark, sf, "events")
    return (
        events.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "error"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["click", "view", "purchase", "error"])
    )


@query(oracle="""
        SELECT c_nationkey, metric, value
        FROM (SELECT c_nationkey,
                     ROUND(SUM(c_acctbal), 2) AS total_bal,
                     -- decimal hop: match Spark's HALF_UP-on-decimal-repr
                     CAST(ROUND(CAST(AVG(c_acctbal) AS DECIMAL(18,10)), 2) AS DOUBLE) AS avg_bal,
                     CAST(COUNT(*) AS DOUBLE) AS n_custs
              FROM customer GROUP BY c_nationkey)
        UNPIVOT (value FOR metric IN (total_bal, avg_bal, n_custs))
    """)
def q_unpivot_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Unpivot/melt: wide per-nation aggregates → long (metric, value)
    rows via the stack-style unpivot operator."""
    cust = load_table(spark, sf, "customer")
    wide = cust.groupBy("c_nationkey").agg(
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        F.round(F.avg("c_acctbal"), 2).alias("avg_bal"),
        F.count(F.lit(1)).cast("double").alias("n_custs"),
    )
    return wide.unpivot(
        ids=["c_nationkey"],
        values=["total_bal", "avg_bal", "n_custs"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@query(oracle="""
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT
        SELECT s_nationkey FROM supplier
    """)
def q_intersect_keys(spark: SparkSession, sf: str) -> DataFrame:
    """Set intersection: nations having BOTH customers and suppliers."""
    cust = load_table(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = load_table(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.intersect(supp)


@query(oracle="""
        SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey, cust_bal, supp_bal
        FROM (SELECT c_nationkey AS nationkey, ROUND(SUM(c_acctbal), 2) AS cust_bal
              FROM customer GROUP BY 1) c
        FULL OUTER JOIN
             (SELECT s_nationkey AS nationkey, ROUND(SUM(s_acctbal), 2) AS supp_bal
              FROM supplier GROUP BY 1) s
          ON c.nationkey = s.nationkey
    """)
def q_full_outer_balance(spark: SparkSession, sf: str) -> DataFrame:
    """Full outer join of per-nation customer vs supplier balance
    aggregates — both sides pre-aggregated so the join is tiny."""
    cust = (
        load_table(spark, sf, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.round(F.sum("c_acctbal"), 2).alias("cust_bal"))
    )
    supp = (
        load_table(spark, sf, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.round(F.sum("s_acctbal"), 2).alias("supp_bal"))
    )
    return cust.join(supp, "nationkey", "full_outer")


@query(oracle="""
        SELECT r_name, n_name, CAST(COUNT(*) AS BIGINT) AS n_custs,
               ROUND(SUM(c_acctbal), 2) AS total_bal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
    """)
def q_rollup_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Hierarchical totals via ROLLUP (region → nation → NULL superrows) —
    one pass, Spark expands grouping sets inside the aggregate."""
    cust = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region")
    joined = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_custs"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


@query(oracle="""
        SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n_items,
               ROUND(SUM(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """)
def q_cube_agg(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all 4 grouping-set combinations
    in one pass."""
    li = load_table(spark, sf, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@query(oracle="""
        SELECT l_returnflag,
               ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
               ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
               ROUND(quantile_cont(l_quantity, 0.5), 4) AS p50_qty
        FROM lineitem GROUP BY l_returnflag
    """)
def q_percentile_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Exact percentiles per group (continuous interpolation) — the
    ordered-statistics operator; at 100 TB swap in approx_percentile with a
    bounded error instead of the exact sort-based path."""
    li = load_table(spark, sf, "lineitem")
    # array-of-fractions form: ONE ordered aggregation per column instead
    # of one per requested percentile
    price_ps = F.percentile("l_extendedprice", F.array(F.lit(0.5), F.lit(0.95)))
    return li.groupBy("l_returnflag").agg(
        F.round(F.get(price_ps, 0), 4).alias("p50_price"),
        F.round(F.get(price_ps, 1), 4).alias("p95_price"),
        F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("p50_qty"),
    )


@query(oracle="""
        SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS w_start_s,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM events GROUP BY 1, 2
    """)
def q_window_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling 1-hour window aggregation over events (batch twin of
    ``streaming.tumbling_event_counts``); window start surfaced as epoch
    seconds so the value-hash is engine-neutral."""
    events = load_table(spark, sf, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp").cast("long").alias("w_start_s"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(oracle="""
        SELECT CAST(epoch(ws) AS BIGINT) AS w_start_s, event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM (SELECT event_type,
                     unnest([time_bucket(INTERVAL '30 minutes', ts),
                             time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS ws
              FROM events)
        GROUP BY 1, 2
    """)
def q_hopping_window(spark: SparkSession, sf: str) -> DataFrame:
    """Hopping window (1 h length, 30 min slide): each event contributes to
    exactly 2 windows (batch twin of ``streaming.hopping_event_counts``)."""
    events = load_table(spark, sf, "events")
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").cast("timestamp").cast("long").alias("w_start_s"), "event_type", "n_events")
    )


@query(oracle="""
        WITH o AS (
            SELECT o_custkey AS user_id, o_orderdate,
                   MAX(o_orderkey) AS o_orderkey,
                   arg_max(o_totalprice, o_orderkey) AS o_totalprice
            FROM orders GROUP BY 1, 2
        )
        SELECT e.event_id, e.user_id,
               CAST(floor(epoch(e.ts)) AS BIGINT) AS ts_s,
               o.o_orderkey, o.o_totalprice
        FROM events e
        ASOF LEFT JOIN o ON e.user_id = o.user_id AND e.ts >= o.o_orderdate
    """)
def q_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join: each event picks the user's most recent order at/before
    the event time (union-merge plan — no non-equi join; see
    ``operators.temporal.asof_join``). (custkey, date) ties resolve to the
    max-orderkey row via the window's ``right_tiebreak`` — the same pick a
    max_by pre-dedup made in earlier rounds, minus that dedup's whole
    aggregation exchange (r15: Exchange 4→2 in the formatted plan; the tie
    rows ride the one window sort the as-of already pays)."""
    from onetable_spark.operators.temporal import asof_join

    events = load_table(spark, sf, "events").select(
        "event_id", "user_id", F.col("ts").cast("timestamp").cast("long").alias("ts_s")
    )
    orders = load_table(spark, sf, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").cast("timestamp").cast("long").alias("od_s"),
        "o_orderkey",
        "o_totalprice",
    )
    return asof_join(
        events,
        orders,
        on="user_id",
        left_ts="ts_s",
        right_ts="od_s",
        right_cols=["o_orderkey", "o_totalprice"],
        right_tiebreak="o_orderkey",
    )


@query(oracle="""
        SELECT band, CAST(COUNT(*) AS BIGINT) AS n_parts,
               ROUND(AVG(p_retailprice), 2) AS avg_price
        FROM part p
        JOIN (VALUES ('budget', 0.0, 925.0), ('mid', 925.0, 950.0),
                     ('premium', 950.0, 975.0), ('luxury', 975.0, 10000000.0))
             b(band, lo, hi)
          ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
        GROUP BY band
    """)
def q_range_join(spark: SparkSession, sf: str) -> DataFrame:
    """Banded range join: parts histogrammed into retail-price bands via a
    broadcast non-equi join (BroadcastNestedLoopJoin — fact side never
    shuffles; see ``operators.temporal.banded_range_join``)."""
    from onetable_spark.operators.temporal import banded_range_join

    bands = local_rows_df(
        spark, PRICE_BANDS, "band string, lo double, hi double"
    ).select("band", "lo", "hi")
    parts = load_table(spark, sf, "part")
    joined = banded_range_join(parts, bands, "p_retailprice")
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(F.avg("p_retailprice"), 2).alias("avg_price"),
    )


PRICE_BANDS = [
    ("budget", 0.0, 925.0),
    ("mid", 925.0, 950.0),
    ("premium", 950.0, 975.0),
    ("luxury", 975.0, 10_000_000.0),
]


@query(oracle="""
        WITH f AS (
            SELECT source, doc_id, n_chars FROM documents WHERE n_chars < 32768),
        b AS (
            SELECT source, doc_id, n_chars,
                   CAST(FLOOR(COALESCE(SUM(n_chars) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     / CAST(32768 AS DOUBLE)) AS BIGINT) AS bin_id
            FROM f)
        SELECT source, bin_id, CAST(COUNT(*) AS BIGINT) AS n_files,
               CAST(SUM(n_chars) AS BIGINT) AS total_bytes,
               MIN(doc_id) AS first_file, MAX(doc_id) AS last_file
        FROM b GROUP BY source, bin_id HAVING COUNT(*) >= 2
    """)
def q_compaction_bins(spark: SparkSession, sf: str) -> DataFrame:
    """OPTIMIZE-style compaction planning (operators/maintenance.py): bin
    small files into ~32 KB rewrite groups per partition via the
    fixed-stride cumulative-sum relaxation — one window + one same-keyed
    groupBy, no sequential scan. The documents table stands in as the file
    inventory at volume (doc_id≡path, n_chars≡size, source≡partition);
    tests/test_maintenance.py applies the identical planner to a real
    ``snapshot_files()`` inventory and feeds a planned bin through the
    Hudi replace-commit writer (the consumer the reference reads back,
    HudiDataFileExtractor.java:181-198)."""
    from onetable_spark.operators.maintenance import plan_compaction_bins

    docs = load_table(spark, sf, "documents")
    return plan_compaction_bins(
        docs.select("source", "doc_id", "n_chars"),
        target_bytes=32768,
        part_cols=("source",),
        size_col="n_chars",
        order_col="doc_id",
    )
