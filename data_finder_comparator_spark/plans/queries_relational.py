"""Relational passthrough coverage (SURVEY.md §2.5-2.8).

The reference's aggregation/sort/set-op surface is tiny (argmin, count,
collect, sort — §2.5/§2.6), but the rebuilt engine exposes Spark's full
relational algebra. These queries pin that surface with oracle checks:
group-by aggregation with partial/final (map-side combine), multi-way
joins (broadcast dims), window functions, rollup, sessionization, and
an as-of join — the operators a 100 TB pipeline actually leans on.

Scale notes per query are in each docstring; the common themes:
dimension tables are broadcast (no shuffle of the fact table except on
its own group keys), aggregations are expressed so Catalyst plans
partial aggregation before the exchange, and window partitioning keys
are the natural distribution keys (user_id, custkey) so a cluster
shuffles each fact row exactly once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.parquet import load_table
from .catalog import query

# ---------------------------------------------------------------------------
# Q1-style pricing summary: the canonical partial-agg + tiny-shuffle shape.
# ---------------------------------------------------------------------------

_Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_disc_price,
       CAST(count(*) AS BIGINT) AS count_order,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@query("pricing_summary", oracle=_Q1_ORACLE)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped aggregate. Catalyst plans a partial hash agg
    before the exchange, so the shuffle carries |groups| rows per
    partition, not the fact table — the shape that survives 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # decimal accumulation: FP addition is order-dependent and a
            # distributed sum visits rows in a different order than the
            # oracle; exact decimal arithmetic is order-independent
            F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast("double").alias("sum_base_price"),
            # rescale the exact scale-12 decimal sum to 6 dp before the
            # double cast: above 2^53 the scaled integer no longer
            # converts exactly, and DuckDB's decimal->double is not
            # correctly rounded there (1-ulp drift vs the JVM)
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,6)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(18,6)"))
            ).cast("decimal(38,6)").cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
            F.countDistinct("l_orderkey").cast("long").alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-way join with broadcast dimensions: revenue by nation.
# ---------------------------------------------------------------------------

_REV_ORACLE = """
SELECT n_name,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(38,6)) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name IN ('AMERICA', 'ASIA') AND o_orderstatus = 'F'
GROUP BY n_name
"""


@query("revenue_by_nation", oracle=_REV_ORACLE)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: fact lineitem joins orders (shuffle on orderkey —
    unavoidable, both sides big) then only broadcast dims. Filters are
    pushed below the joins by Catalyst; region/nation/customer are
    broadcast so the fact table shuffles exactly once."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name").isin("AMERICA", "ASIA")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,6)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(18,6)"))
            ).cast("decimal(38,6)").cast("double").alias("revenue"),  # see sum_disc_price note
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Window top-k per group (the generalized best-tier argmin, §2.6 O2).
# ---------------------------------------------------------------------------

_TOPK_ORDERS_ORACLE = """
SELECT o_orderpriority, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         rank() OVER (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders
) WHERE rnk <= 5
"""


# Not driven: fuzzy_topk drives per-group top-k with ties.
@query("topk_orders_per_priority", oracle=_TOPK_ORDERS_ORACLE, driver=False)
def topk_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 orders by price per priority class. rank() keeps ties like
    the reference's best-tier semantics; deterministic tiebreak on key.
    One shuffle on the partition key; at scale AQE handles skewed
    priorities."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rnk", F.rank().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "rnk",
        )
    )


# ---------------------------------------------------------------------------
# ROLLUP (grouping-sets family — Catalyst expands, single shuffle).
# ---------------------------------------------------------------------------

_ROLLUP_ORACLE = """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


# Not driven: prefix case of orders_grouping_sets, which is driven.
@query("orders_rollup", oracle=_ROLLUP_ORACLE, driver=False)
def orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order count and total price per (status, priority) ROLLUP; the
    subtotal rows carry 'ALL'."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double").alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


# ---------------------------------------------------------------------------
# Anti join: customers that never ordered (TPC-H Q22 shape). A
# broadcast/shuffled LEFT ANTI is the Spark-native NOT EXISTS — no
# subquery re-execution, one pass over each side.
# ---------------------------------------------------------------------------

_ANTI_ORACLE = """
SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS c_acctbal
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '1998-01-01')
  AND c_acctbal > 0
"""


# Not driven: decontaminate_overlap drives the anti-join shape.
@query("customers_without_orders", oracle=_ANTI_ORACLE, driver=False)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positive-balance customers with no 1998+ order — NOT EXISTS as a
    left anti join; the date filter pushes below the join to the orders
    scan."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp_ntz")
    )
    return cust.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select(
        "c_custkey", "c_name", F.col("c_acctbal").cast("double").alias("c_acctbal")
    )


# ---------------------------------------------------------------------------
# Pivot: event counts per hour-of-day, one column per event type
# (explicit value list — deterministic schema; Catalyst compiles it to
# a single-pass conditional aggregation, mirrored by the oracle's CASE
# columns).
# ---------------------------------------------------------------------------

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_PIVOT_ORACLE = f"""
SELECT CAST(hour(ts) AS BIGINT) AS hour_of_day,
       {", ".join(
           f"CAST(count(CASE WHEN event_type = '{t}' THEN 1 END) AS BIGINT) AS n_{t}"
           for t in _EVENT_TYPES)}
FROM events GROUP BY hour(ts)
"""


@query("events_pivot_by_hour", oracle=_PIVOT_ORACLE)
def events_pivot_by_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "hour_of_day", F.hour("ts").cast("long")
    )
    piv = (
        ev.groupBy("hour_of_day")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "hour_of_day",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in _EVENT_TYPES],
    )


# ---------------------------------------------------------------------------
# Supplier dimension rollup (completes table coverage; broadcast-dim
# join + HAVING-style post-aggregation filter).
# ---------------------------------------------------------------------------

_SUPPLIER_ORACLE = """
SELECT n_name,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(sum(CAST(s_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
HAVING count(*) > 1
"""


# Not driven: revenue_by_nation drives the same dim-join + agg shape.
@query("suppliers_by_nation", oracle=_SUPPLIER_ORACLE, driver=False)
def suppliers_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier count and account-balance total per nation with more than
    one supplier: broadcast dimension join + group aggregate."""
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        sup.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.sum(F.col("s_acctbal").cast("decimal(18,6)")).cast("double").alias(
                "total_acctbal"
            ),
        )
        .filter(F.col("n_suppliers") > 1)
    )


# ---------------------------------------------------------------------------
# Exact quantiles (percentile with linear interpolation — both engines
# implement the same continuous-quantile definition, so values match to
# the double; rounded to 6 dp for belt-and-braces hash stability).
# ---------------------------------------------------------------------------

_QUANTILES_ORACLE = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY event_type
"""


# Not driven: exact form of histogram_quantiles, which is driven.
@query("event_value_quantiles", oracle=_QUANTILES_ORACLE, driver=False)
def event_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p95 of event value per type. Exact percentile needs the
    group's values together (sort-based agg); at 100 TB you'd reach for
    approx_percentile (t-digest, mergeable partial aggs) — kept exact
    here because the oracle must match bit-for-bit."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


# ---------------------------------------------------------------------------
# CUBE (all grouping-set combinations — Catalyst expands to one shuffle).
# ---------------------------------------------------------------------------

_CUBE_ORACLE = """
SELECT coalesce(event_type, 'ALL') AS etype,
       coalesce(CAST(hour(ts) AS VARCHAR), 'ALL') AS hour_of_day,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY CUBE (event_type, hour(ts))
"""


# Not driven: grouping-sets case of orders_grouping_sets, which is driven.
@query("events_cube", oracle=_CUBE_ORACLE, driver=False)
def events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, hour-of-day): Catalyst expands the four
    grouping sets into one Expand + single-shuffle aggregate — the
    grouping-sets passthrough of the engine's relational surface."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "hour_of_day", F.hour("ts").cast("string")
    )
    return (
        ev.cube("event_type", "hour_of_day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("etype"),
            F.coalesce("hour_of_day", F.lit("ALL")).alias("hour_of_day"),
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# Sessionization: gap-based sessions over the events stream table
# (lag + cumulative sum of gap breaks — the batch formulation of
# streaming session windows).
# ---------------------------------------------------------------------------

_SESSION_GAP_MIN = 30

_SESSIONS_ORACLE = f"""
WITH gaps AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL {_SESSION_GAP_MIN} MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS brk,
         event_id
  FROM events
),
sess AS (
  SELECT user_id, ts, value,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS session_no
  FROM gaps
)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
       CAST(count(*) AS BIGINT) AS n_events,
       min(ts) AS session_start,
       max(ts) AS session_end,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS session_value
FROM sess GROUP BY user_id, session_no
"""


@query("sessionize_events", oracle=_SESSIONS_ORACLE)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity). One shuffle on
    user_id serves both windows and the final group-by — the partition
    key is reused across stages, the key property at scale."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # interval comparison is type-agnostic (works for NTZ) and
    # microsecond-exact, matching the oracle's INTERVAL predicate
    prev = F.lag(F.col("ts")).over(w)
    brk = (
        F.when(F.col("ts") - prev > F.expr(f"INTERVAL {_SESSION_GAP_MIN} MINUTE"), 1)
        .when(prev.isNull(), 1)
        .otherwise(0)
    )
    sess = ev.withColumn("brk", brk).withColumn(
        "session_no",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("session_value"),
    )


# ---------------------------------------------------------------------------
# As-of join: latest order at-or-before each event for the same
# customer. Spark lacks a native ASOF JOIN; the scalable formulation is
# the union-merge trick: interleave both streams ordered by time and
# carry the last order forward with last_value(ignorenulls) — one
# shuffle on the join key, no per-row probing.
# ---------------------------------------------------------------------------

_ASOF_ORACLE = """
WITH orders_d AS (
  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
  FROM orders GROUP BY o_custkey, o_orderdate
)
SELECT e.event_id,
       e.user_id,
       o.o_orderkey AS asof_orderkey
FROM events e
ASOF LEFT JOIN orders_d o
  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
WHERE e.user_id <= 100
"""


@query("asof_latest_order", oracle=_ASOF_ORACLE)
def asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via union + last_value over a time-ordered window.

    DuckDB's native ASOF JOIN is the oracle; ties on equal timestamps:
    ASOF picks the single largest o_orderdate <= ts, so within equal
    dates we must carry a deterministic winner — the max orderkey among
    that date's orders (last in the union ordering below).
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 100)
    # one row per (custkey, date): max orderkey wins equal-date ties in
    # both engines, making the as-of winner deterministic
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    left = ev.select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        "event_id",
        F.lit(None).cast("long").alias("o_orderkey"),
    )
    right = orders.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"),
        "o_orderkey",
    )
    # Order: time asc, orders before events at equal time (event at t
    # matches an order dated exactly t), orderkey asc so the max key
    # wins the equal-date tie (matching ASOF's latest-row semantics).
    merged = left.unionByName(right)
    w = (
        Window.partitionBy("k")
        .orderBy("t", "is_event", F.col("o_orderkey").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = merged.withColumn(
        "asof_orderkey", F.last("o_orderkey", ignorenulls=True).over(w)
    )
    return carried.filter(F.col("is_event") == 1).select(
        "event_id", F.col("k").alias("user_id"), "asof_orderkey"
    )


# ---------------------------------------------------------------------------
# Skew mitigation wired into a registered query: salted shuffle join
# (hot fact keys spread over n_salt tasks) + salted two-phase
# aggregation (low-cardinality group key). Result-identical to the
# unsalted SQL oracle; the executed plan shows the (key, _salt)
# exchange instead of a single hot reducer.
# ---------------------------------------------------------------------------

_SALTED_ORACLE = """
SELECT c_mktsegment,
       CAST(count(event_id) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       CAST(max(value) AS DOUBLE) AS max_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


@query("salted_segment_stats", oracle=_SALTED_ORACLE)
def salted_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-market-segment event stats through BOTH skew tools: the
    events fact joins the customer map via salted_join (shuffle_hash
    hint models the 100 TB regime where the map side exceeds broadcast
    limits and hot user_ids would blow one reducer), then aggregates by
    the 5-value mktsegment key via salted_aggregate (two-phase: partial
    per (key, salt), recombined per key)."""
    from ..operators.skew import salted_aggregate, salted_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    cust = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
        .hint("shuffle_hash")
    )
    joined = salted_join(ev, cust, on=["user_id"], n_salt=16).withColumn(
        "value_dec", F.col("value").cast("decimal(18,6)")
    )
    agg = salted_aggregate(
        joined,
        ["c_mktsegment"],
        {
            "n_events": ("event_id", "count"),
            "sum_value": ("value_dec", "sum"),
            "max_value": ("value", "max"),
        },
        n_salt=16,
    )
    return agg.select(
        "c_mktsegment",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_value").cast("double").alias("sum_value"),
        F.col("max_value").cast("double").alias("max_value"),
    )


# ---------------------------------------------------------------------------
# Bucketed co-located fact-fact join as a driver row: both sides are
# persisted pre-hash-partitioned on the join key (the write pays the
# shuffle once), and the join itself plans with NO Exchange — the
# storage-layout answer to the recurring orders x lineitem shuffle.
# ---------------------------------------------------------------------------

_BUCKETED_ORACLE = """
SELECT o_orderpriority,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(38,6)) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


@query("bucketed_order_revenue", oracle=_BUCKETED_ORACLE)
def bucketed_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders and lineitem are written as 8-bucket tables hashed on the
    orderkey (paying the shuffle once, at write), then joined WITHOUT
    any Exchange — bucket i joins bucket i locally — and aggregated per
    order priority. The plan-shape test pins the no-Exchange join."""
    from ..sources.bucketed import bucketed_join, write_bucketed

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_extendedprice", "l_discount"
    )
    # table names carry the sf_dir tag: rebuilding for a different
    # scale factor must not silently repoint a previously returned
    # lazy DataFrame at new data
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    t_orders, t_li = f"b_rev_orders_{tag}", f"b_rev_lineitem_{tag}"
    write_bucketed(orders, t_orders, "okey", n_buckets=8, sort_col="okey")
    write_bucketed(li, t_li, "okey", n_buckets=8, sort_col="okey")
    j = bucketed_join(spark, t_orders, t_li, "okey", force_sort_merge=True)
    return j.groupBy("o_orderpriority").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,6)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(18,6)"))
        ).cast("decimal(38,6)").cast("double").alias("revenue"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )


# ---------------------------------------------------------------------------
# Range (interval) join: per-purchase 30-minute activity windows.
# Spark lacks a native range join — the naive BETWEEN join plans as a
# nested-loop product; operators/range_join maps both sides onto a
# 30-min grid and hash-joins on the cell (fanout <= 2 cells/window).
# The oracle is the naive BETWEEN join, so a hash match proves the
# chunked plan computes the identical relation.
# ---------------------------------------------------------------------------

_RANGE_ORACLE = """
WITH anchors AS (
  SELECT event_id AS win_id, ts AS win_start,
         ts + INTERVAL 30 MINUTE AS win_end
  FROM events WHERE event_type = 'purchase' AND event_id % 7 = 0
)
SELECT a.win_id,
       CAST(count(e.event_id) AS BIGINT) AS n_events,
       CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS window_value
FROM anchors a LEFT JOIN events e
  ON e.ts >= a.win_start AND e.ts < a.win_end
GROUP BY a.win_id
"""


# Not driven: rolling_user_activity drives range-frame aggregation.
@query("purchase_window_stats", oracle=_RANGE_ORACLE, driver=False)
def purchase_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each anchored purchase opens a [ts, ts+30min) window; count and
    sum all event activity inside it. Inner chunked join + group-by,
    then a left join back to the anchors resurrects zero-activity
    windows (count 0, sum NULL — matching SQL LEFT JOIN semantics)."""
    from ..operators.range_join import interval_point_join

    ev = load_table(spark, sf_dir, "events")
    anchors = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("event_id") % 7 == 0)
    ).select(
        F.col("event_id").alias("win_id"),
        F.col("ts").alias("win_start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTE")).alias("win_end"),
    )
    pairs = interval_point_join(
        anchors,
        ev.select(F.col("event_id").alias("pt_id"), F.col("ts").alias("pt_ts"),
                  F.col("value").alias("pt_value")),
        "win_start", "win_end", "pt_ts", chunk_seconds=1800,
    )
    stats = pairs.groupBy("win_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.col("pt_value").cast("decimal(18,6)")).cast("double").alias("window_value"),
    )
    return (
        anchors.select("win_id")
        .join(stats, "win_id", "left")
        .select(
            "win_id",
            F.coalesce("n_events", F.lit(0).cast("long")).alias("n_events"),
            "window_value",
        )
    )


# ---------------------------------------------------------------------------
# Semi-structured JSON column extraction. events.props carries a JSON
# payload; from_json with an EXPLICIT schema parses each value exactly
# once into a struct (columnar, codegen'd) — vs get_json_object, which
# re-walks the JSON per extraction, and vs schema inference, which
# needs an extra pass over 100 TB before the real job can start.
# ---------------------------------------------------------------------------

_PROPS_ORACLE = """
SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 5 AS k_mod,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events
GROUP BY 1, 2
"""


@query("props_json_stats", oracle=_PROPS_ORACLE)
def props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the JSON props column once into a typed struct, then a
    plain partial-agg group-by on the extracted field — the
    semi-structured scan shape of log/event pipelines."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type", F.from_json("props", "k long").alias("p")
    )
    return parsed.groupBy(
        (F.col("p.k") % 5).alias("k_mod"), "event_type"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("p.k").cast("long").alias("sum_k"),
    )


# ---------------------------------------------------------------------------
# Session co-occurrence: which event types appear together in the same
# user session (30-min gap sessionization reused), counted corpus-wide.
# The pair enumeration is the triangular self-join ON THE SESSION KEY —
# pairs explode within a session (bounded by |distinct types| = 5),
# never across sessions, so the join stays co-partitioned on
# (user_id, session_no) and the blowup is |session| choose 2, not
# |corpus| choose 2.
# ---------------------------------------------------------------------------

_COOCCUR_ORACLE = f"""
WITH gaps AS (
  SELECT user_id, ts, event_type,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL {_SESSION_GAP_MIN} MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS brk,
         event_id
  FROM events
),
sess AS (
  SELECT user_id, event_type,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS session_no
  FROM gaps
),
st AS (SELECT DISTINCT user_id, session_no, event_type FROM sess)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST(count(*) AS BIGINT) AS n_sessions
FROM st a JOIN st b
  ON a.user_id = b.user_id AND a.session_no = b.session_no
 AND a.event_type < b.event_type
GROUP BY 1, 2
"""


# Not driven: composes sessionize_events and event_funnel, both driven.
@query("session_type_cooccurrence", oracle=_COOCCUR_ORACLE, driver=False)
def session_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessions per co-occurring event-type pair: sessionize each user's
    events on a gap window, then pair the distinct types per session."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(F.col("ts")).over(w)
    brk = (
        F.when(F.col("ts") - prev > F.expr(f"INTERVAL {_SESSION_GAP_MIN} MINUTE"), 1)
        .when(prev.isNull(), 1)
        .otherwise(0)
    )
    st = (
        ev.withColumn("brk", brk)
        .withColumn(
            "session_no",
            F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
        )
        .select("user_id", "session_no", "event_type")
        .distinct()
    )
    a = st.select(
        "user_id", "session_no", F.col("event_type").alias("type_a")
    )
    b = st.select(
        "user_id", "session_no", F.col("event_type").alias("type_b")
    )
    return (
        a.join(b, ["user_id", "session_no"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
    )


# ---------------------------------------------------------------------------
# Funnel analysis: per-user ordered stage progression (view -> click ->
# purchase, each stage strictly after the one before). The classic
# product-analytics operator — and a single-shuffle, O(1)-state plan:
# the stage timestamps satisfy a min-recurrence (t1 = min view ts,
# t2 = min click ts > t1, t3 = min purchase ts > t2), so three stacked
# whole-partition window MINs over ONE hashpartitioning(user_id)
# exchange compute them with constant per-user running state — no
# collected timeline, so a hot key (bot / service account) with
# millions of events costs CPU, never executor memory. The naive
# formulation (the oracle) is three self-joins of the fact table
# against itself — three shuffles and two join-explosion risks at
# 100 TB. Equal-timestamp events never advance a later stage
# (strict >), exactly the oracle's join condition.
# ---------------------------------------------------------------------------

_FUNNEL_ORACLE = """
WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
      JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
      WHERE e.event_type = 'click' GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
      JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
SELECT u.user_id,
       CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
                 WHEN c.user_id IS NOT NULL THEN 2
                 WHEN v.user_id IS NOT NULL THEN 1
                 ELSE 0 END AS INTEGER) AS funnel_stage
FROM (SELECT DISTINCT user_id FROM events) u
LEFT JOIN v ON u.user_id = v.user_id
LEFT JOIN c ON u.user_id = c.user_id
LEFT JOIN p ON u.user_id = p.user_id
"""


@query("event_funnel", oracle=_FUNNEL_ORACLE)
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user funnel stage (0-3) in one shuffle with O(1) per-user
    state: t1/t2/t3 via three stacked whole-partition window mins (each
    a running min, never a collected array), then one per-user row —
    the trailing aggregate reuses the window's hashpartitioning, so the
    executed plan still has exactly one exchange and no join. A stage
    advances only on the matching event type STRICTLY after the
    previous stage's timestamp (null-safe: ts > null is null, so a
    missing earlier stage blocks all later ones), matching the oracle's
    three-join restatement."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    et, ts = F.col("event_type"), F.col("ts")
    staged = (
        ev.withColumn("t1", F.min(F.when(et == "view", ts)).over(w))
        # stage 1 is granted on the EXISTENCE of a view row (the oracle's
        # v CTE emits the user even when min(ts) is null); t1 stays the
        # null-skipping min, so a null-ts view can never anchor stage 2
        .withColumn("hasv", F.max(F.when(et == "view", 1)).over(w))
        .withColumn(
            "t2",
            F.min(F.when((et == "click") & (ts > F.col("t1")), ts)).over(w),
        )
        .withColumn(
            "t3",
            F.min(F.when((et == "purchase") & (ts > F.col("t2")), ts)).over(w),
        )
    )
    stage = (
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .when(F.col("hasv") == 1, 1)
        .otherwise(0)
    )
    return (
        staged.select("user_id", stage.alias("_stage"))
        .groupBy("user_id")
        .agg(F.max("_stage").cast("int").alias("funnel_stage"))
    )


# ---------------------------------------------------------------------------
# Time-series gap-fill: the resample operator — a dense hourly grid per
# event_type with zeros where no events landed (dashboards and
# anomaly-detection windows need the empty hours, not just the observed
# ones). Single-shuffle plan: ONE scan+aggregate of the fact table
# produces the hourly counts; the grid (types x hours), the bounds, and
# the distinct types all derive from that already-aggregated,
# metadata-sized table, so the fact table is read exactly once and
# everything after the groupBy is broadcast-sized at any scale (the
# grid is |types| * |hours| rows — thousands, even for years of data).
# ---------------------------------------------------------------------------

_GAPFILL_ORACLE = """
WITH b AS (SELECT date_trunc('hour', min(ts)) AS mn,
                  date_trunc('hour', max(ts)) AS mx FROM events),
h AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr FROM b),
t AS (SELECT DISTINCT event_type FROM events),
c AS (SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
             count(*) AS n
      FROM events GROUP BY 1, 2)
SELECT t.event_type,
       CAST(h.hr AS TIMESTAMP) AS hr,
       CAST(coalesce(c.n, 0) AS BIGINT) AS n_events
FROM t CROSS JOIN h
LEFT JOIN c ON c.event_type = t.event_type AND c.hr = h.hr
"""


@query("hourly_gapfill", oracle=_GAPFILL_ORACLE)
def hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly series per event_type with explicit zero rows for
    empty hours. The fact table is scanned once (the hourly groupBy);
    bounds, type list, and the sequence-exploded grid all come from
    that aggregated table, and the final left join's probe side is the
    tiny grid — no second pass over raw events."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    )
    counts = ev.groupBy("event_type", "hr").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    counts = counts.persist()
    from .catalog import CACHES

    CACHES.append(counts)
    bounds = counts.agg(F.min("hr").alias("mn"), F.max("hr").alias("mx"))
    types = counts.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("hr"),
    )
    return grid.join(counts, ["event_type", "hr"], "left").select(
        "event_type",
        "hr",
        F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# GROUPING SETS: the explicit-set member of the multi-level aggregation
# trio (rollup `orders_rollup`, cube `events_cube`). One shuffle: Spark
# expands the sets map-side and aggregates all levels in a single pass,
# exactly like rollup/cube; grouping_id disambiguates levels where a
# grouping column is genuinely NULL.
# ---------------------------------------------------------------------------

_GROUPING_SETS_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


@query("orders_grouping_sets", oracle=_GROUPING_SETS_ORACLE)
def orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets — (status, priority), (status), grand
    total — in one aggregation pass, with grouping_id exposed so
    consumers can tell a subtotal row from a NULL group value. The
    DuckDB oracle uses the same set list and bit convention (first
    grouping column = most significant bit)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gsets")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        FROM orders_gsets
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        """
    )


# ---------------------------------------------------------------------------
# RANGE-frame window: trailing-interval rolling aggregate per entity —
# the per-user "activity in the last hour" feature every online-ML
# pipeline computes. RANGE BETWEEN INTERVAL ... PRECEDING is the one
# window-frame family the suite didn't yet pin (ROWS frames and
# unbounded running sums are covered elsewhere). Partitioning is by
# user_id — entity keys grow with the data, so the window parallelizes
# at any scale (a frame keyed on the 5-value event_type would funnel
# 100 TB through 5 tasks). The frame is expressed in exact microseconds
# on both sides (Spark rangeBetween on unix_micros; DuckDB INTERVAL on
# its native microsecond timestamps), sums accumulate in decimal, and
# RANGE semantics make timestamp ties peer-inclusive in both engines —
# deterministic output.
# ---------------------------------------------------------------------------

_ROLLING_ORACLE = """
SELECT event_id,
       CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS roll_sum,
       CAST(count(*) OVER w AS BIGINT) AS roll_n
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
"""


@query("rolling_user_activity", oracle=_ROLLING_ORACLE)
def rolling_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-1-hour sum/count over the same user's
    events — a RANGE frame in exact microseconds, decimal-accumulated
    so the double output hash-matches the oracle."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3600 * 1_000_000, 0)
    )
    return ev.select(
        "event_id",
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("roll_sum"),
        F.count(F.lit(1)).over(w).cast("long").alias("roll_n"),
    )


# ---------------------------------------------------------------------------
# Histogram quantile sketch — the quantile member of the sketch family
# (Bloom = membership, HLL = cardinality, CMS = frequency): a 4096-bin
# equi-width histogram of the value column, quantiles read off the
# cumulative bin counts. The data-sized work is ONE scan + a 4096-cell
# aggregate (map-side partial counts; the shuffle moves at most 4096
# merged rows per partition) and the cumulative walk runs over the
# metadata-sized histogram — where the exact-quantile query
# (`event_value_quantiles`) must sort data, the sketch never does, and
# histograms from shards/days merge by cell-wise addition. Bins and
# thresholds are the same IEEE double expressions on both engines, so
# the oracle hash-matches bins, thresholds, and approximations alike.
# ---------------------------------------------------------------------------

_HISTQ_ORACLE = """
WITH bounds AS (SELECT min(value) AS mn, max(value) AS mx,
                       CAST(count(*) AS BIGINT) AS n FROM events),
bins AS (
  SELECT CASE WHEN mx = mn THEN 0
              ELSE least(CAST(floor((value - mn) / ((mx - mn) / 4096)) AS BIGINT),
                         4095) END AS bin
  FROM events, bounds
),
hist AS (SELECT bin, CAST(count(*) AS BIGINT) AS c FROM bins GROUP BY bin),
cum AS (SELECT bin, sum(c) OVER (ORDER BY bin) AS cc FROM hist),
qs AS (SELECT unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS q),
sel AS (
  SELECT q, min(bin) AS bin
  FROM cum CROSS JOIN qs CROSS JOIN bounds
  WHERE cc >= ceil(q * n) GROUP BY q
)
SELECT CAST(sel.q AS DOUBLE) AS q,
       sel.bin,
       CAST(mn + (sel.bin + 1) * ((mx - mn) / 4096) AS DOUBLE) AS approx_value
FROM sel CROSS JOIN bounds
"""


@query("histogram_quantiles", oracle=_HISTQ_ORACLE)
def histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate value quantiles from a 4096-bin equi-width
    histogram: one scan, one tiny aggregate, cumulative walk over the
    bins — identical double arithmetic to the oracle, so even the
    approximations hash-match."""
    ev = load_table(spark, sf_dir, "events").select("value")
    bounds = ev.agg(
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    width = (F.col("mx") - F.col("mn")) / 4096
    # degenerate corpus (all values equal): width 0 would put NaN bins
    # through floor; everything lands in bin 0 on both engines instead
    bins = ev.crossJoin(F.broadcast(bounds)).select(
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.least(
                F.floor((F.col("value") - F.col("mn")) / width), F.lit(4095)
            )
        )
        .cast("long")
        .alias("bin")
    )
    hist = bins.groupBy("bin").agg(F.count(F.lit(1)).cast("long").alias("c"))
    cum = hist.select(
        "bin",
        F.sum("c").over(Window.orderBy("bin")).alias("cc"),
    )
    qs = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(q) for q in (0.25, 0.5, 0.75, 0.9, 0.99)])
        ).alias("q")
    )
    sel = (
        # explicit broadcast like the grouped sibling below: the 5-row
        # quantile frame must never rely on the auto-BNLJ threshold
        # (a deployment running autoBroadcastJoinThreshold=-1 would
        # otherwise plan a real cartesian here)
        cum.crossJoin(F.broadcast(qs))
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("cc") >= F.ceil(F.col("q") * F.col("n")))
        .groupBy("q")
        .agg(F.min("bin").alias("bin"))
    )
    return sel.crossJoin(F.broadcast(bounds)).select(
        F.col("q").cast("double").alias("q"),
        "bin",
        (F.col("mn") + (F.col("bin") + 1) * width).cast("double").alias("approx_value"),
    )


# ---------------------------------------------------------------------------
# Grouped histogram quantiles: histogram_quantiles' per-event-type
# variant — per-group bounds, per-group 4096-bin histogram, per-group
# cumulative walk. Every stage keys on event_type, so the sketch
# parallelizes across groups; identical double arithmetic to the oracle
# hash-matches the approximations themselves.
# ---------------------------------------------------------------------------

_GROUPED_HISTQ_ORACLE = """
WITH bounds AS (SELECT event_type, min(value) AS mn, max(value) AS mx,
                       CAST(count(*) AS BIGINT) AS n
                FROM events GROUP BY event_type),
bins AS (
  SELECT e.event_type,
         CASE WHEN b.mx = b.mn THEN 0
              ELSE least(CAST(floor((e.value - b.mn) / ((b.mx - b.mn) / 4096)) AS BIGINT),
                         4095) END AS bin
  FROM events e JOIN bounds b USING (event_type)
),
hist AS (SELECT event_type, bin, CAST(count(*) AS BIGINT) AS c
         FROM bins GROUP BY event_type, bin),
cum AS (SELECT event_type, bin,
               sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cc
        FROM hist),
qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q),
sel AS (
  SELECT c.event_type, q, min(bin) AS bin
  FROM cum c CROSS JOIN qs JOIN bounds b USING (event_type)
  WHERE cc >= ceil(q * b.n) GROUP BY c.event_type, q
)
SELECT sel.event_type, CAST(sel.q AS DOUBLE) AS q, sel.bin,
       CAST(b.mn + (sel.bin + 1) * ((b.mx - b.mn) / 4096) AS DOUBLE) AS approx_value
FROM sel JOIN bounds b USING (event_type)
"""


def _grouped_quantile_bins(spark: SparkSession, ev: DataFrame, quantiles):
    """Per-event-type equi-width histogram quantile-bin selection — the
    pipeline shared by grouped_histogram_quantiles and
    winsorized_event_stats (the two must stay arithmetically identical
    or their oracle hashes drift apart). Returns (sel, bounds): sel has
    one (event_type, q, bin) row per requested quantile, bounds the
    per-group (mn, mx, n) table; callers recompute the bin width from
    bounds as (mx - mn) / 4096."""
    bounds = ev.groupBy("event_type").agg(
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    width = (F.col("mx") - F.col("mn")) / 4096
    # degenerate group (all values equal): width 0 would put NaN bins
    # through floor; everything lands in bin 0 on both engines instead
    bins = ev.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.least(F.floor((F.col("value") - F.col("mn")) / width), F.lit(4095))
        )
        .cast("long")
        .alias("bin"),
    )
    hist = bins.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    cum = hist.select(
        "event_type",
        "bin",
        F.sum("c").over(Window.partitionBy("event_type").orderBy("bin")).alias("cc"),
    )
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(q) for q in quantiles])).alias("q")
    )
    sel = (
        cum.crossJoin(F.broadcast(qs))
        .join(F.broadcast(bounds), "event_type")
        .filter(F.col("cc") >= F.ceil(F.col("q") * F.col("n")))
        .groupBy("event_type", "q")
        .agg(F.min("bin").alias("bin"))
    )
    return sel, bounds


# Not driven: per-group variant of histogram_quantiles, which is driven.
@query("grouped_histogram_quantiles", oracle=_GROUPED_HISTQ_ORACLE, driver=False)
def grouped_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 per event_type from per-group equi-width histograms.
    The per-group bounds table is group-cardinality-sized, so it
    broadcasts; the cumulative walk windows on (event_type, bin) with
    at most 4096 rows per partition."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    sel, bounds = _grouped_quantile_bins(spark, ev, (0.5, 0.9, 0.99))
    width = (F.col("mx") - F.col("mn")) / 4096
    return sel.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        F.col("q").cast("double").alias("q"),
        "bin",
        (F.col("mn") + (F.col("bin") + 1) * width).cast("double").alias("approx_value"),
    )


# ---------------------------------------------------------------------------
# Histogram shard merge: per-source (here per-event-type) histograms
# over the GLOBAL bin grid merged by cell-wise sum — the shard-merge
# shape for the quantile sketch. Bins only merge when shards share the
# grid, so the global bounds are computed first, exactly how a
# production pipeline pins a grid before sharding.
# ---------------------------------------------------------------------------

_HIST_MERGE_ORACLE = """
WITH bounds AS (SELECT min(value) AS mn, max(value) AS mx FROM events),
bins AS (
  SELECT event_type,
         CASE WHEN mx = mn THEN 0
              ELSE least(CAST(floor((value - mn) / ((mx - mn) / 4096)) AS BIGINT),
                         4095) END AS bin
  FROM events, bounds
),
shard AS (SELECT event_type, bin, CAST(count(*) AS BIGINT) AS c
          FROM bins GROUP BY event_type, bin)
SELECT bin, CAST(sum(c) AS BIGINT) AS c, CAST(count(*) AS BIGINT) AS n_shards
FROM shard GROUP BY bin
"""


# Not driven: hll_merge_shards drives the shard-merge sketch shape.
@query("histogram_merge_shards", oracle=_HIST_MERGE_ORACLE, driver=False)
def histogram_merge_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard histograms on a pinned global grid, merged by cell
    sum (integer-exact, associative). Shard state through every
    exchange is <=4096 cells — the fixed-size merge the sketches exist
    for."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    bounds = ev.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    width = (F.col("mx") - F.col("mn")) / 4096
    bins = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.least(F.floor((F.col("value") - F.col("mn")) / width), F.lit(4095))
        )
        .cast("long")
        .alias("bin"),
    )
    shard = bins.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    return shard.groupBy("bin").agg(
        F.sum("c").cast("long").alias("c"),
        F.count(F.lit(1)).cast("long").alias("n_shards"),
    )


def winsorized_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAGED (round-8 registration candidate): winsorized per-event-
    type statistics — mean/min/max after clamping values to the
    [p01, p99] thresholds read off each group's 4096-bin equi-width
    histogram (the outlier-robust aggregate a telemetry pipeline
    publishes instead of a raw mean one corrupt reading can move).

    Two scans, every stage keyed on event_type: (1) bounds + histogram
    + cumulative walk -> per-group lo/hi thresholds (identical
    arithmetic to grouped_histogram_quantiles, so the thresholds
    restate exactly in SQL); (2) clamp + aggregate. The threshold
    table is group-cardinality-sized and broadcasts.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    sel, bounds = _grouped_quantile_bins(spark, ev, (0.01, 0.99))
    width = (F.col("mx") - F.col("mn")) / 4096
    thr_rows = sel.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "q",
        (F.col("mn") + (F.col("bin") + 1) * width).alias("thr"),
    )
    thresholds = thr_rows.groupBy("event_type").agg(
        F.min(F.when(F.col("q") == 0.01, F.col("thr"))).alias("lo"),
        F.min(F.when(F.col("q") == 0.99, F.col("thr"))).alias("hi"),
    )
    # the clamped value goes through DECIMAL before summation: a raw
    # double sum is order-dependent (non-associative addition) and
    # could diverge from the oracle's sum at the last ulp
    clamped = ev.join(F.broadcast(thresholds), "event_type").select(
        "event_type",
        F.least(F.greatest("value", F.col("lo")), F.col("hi"))
        .cast("decimal(28,6)")
        .alias("v"),
    )
    return clamped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("v").cast("double") / F.count(F.lit(1)), 6).alias(
            "winsorized_mean"
        ),
        F.min("v").cast("double").alias("clamped_min"),
        F.max("v").cast("double").alias("clamped_max"),
    )


def user_state_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAGED (round-8 candidate): SCD2-style temporal versioning —
    collapse each user's event stream into state VERSIONS (consecutive
    runs of the same event_type), with valid_from / valid_to intervals
    and a current flag. The gaps-and-islands pattern every warehouse
    dimension build runs; distinct from sessionization (which splits on
    time gaps, not state changes).

    One user-keyed window pass: change points via lag, version ids via
    a running sum of change flags, intervals via lead over the
    collapsed versions. Everything partitions by user_id — per-user
    state through the shuffle is one row, and ordering is total on
    (ts, event_id) so ties are deterministic.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.col("ts").alias("ts"), F.col("event_type").alias("state")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.withColumn(
        "_chg",
        F.when(
            F.lag("state").over(w).isNull()
            | (F.lag("state").over(w) != F.col("state")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("_ver", F.sum("_chg").over(w))
    versions = marked.groupBy("user_id", "_ver").agg(
        F.min_by("state", F.struct("ts", "event_id")).alias("state"),
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    wv = Window.partitionBy("user_id").orderBy("_ver")
    return versions.select(
        "user_id",
        F.col("_ver").cast("long").alias("version"),
        "state",
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        F.lead("valid_from").over(wv).isNull().alias("is_current"),
        "n_events",
    )
