"""Relational operator surface.

These mirror the reference's persistence-layer query workload
(reference src/manga_extractor/database/db_util.py — point lookups
:39, top-1 :96-100, range self-join :102-107, anti-join delete
:109-138, upsert/dedup keys :59,:454-671) and its orchestration
semantics (sequence numbering modules/ocr.py:130-146, per-run metrics
gui/window.py:505-508), re-expressed over the TPC-H-ish testdata:
grouped stats and rollups, top-k, semi/anti joins, merge-upsert and
cascading delete, set operations, an as-of join, JSON property
extraction, and the per-user event windows (running totals, hourly
buckets, sessions, a sliding one-hour frame).

Everything here is pure DataFrame/Catalyst: filters and projections
push down to the parquet scan, small sides broadcast, aggregations get
map-side partial combine, AQE handles skew at runtime. No Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..session import load_table
from . import register

DEC = "decimal(18,4)"


@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(3,2)))
                    * (1 + CAST(l_tax AS DECIMAL(3,2)))) AS DOUBLE) AS sum_charge,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-style group stats; analog of per-run metrics aggregation "
    "(reference gui/window.py:505-508, O6). Map-side partial agg + single "
    "shuffle on the group keys; filter pushed to parquet scan. Source "
    "columns are cast to DECIMAL *before* arithmetic so every product and "
    "sum is exact (order-independent, bit-stable vs the oracle); one "
    "double conversion at the end.",
    tags=("agg", "scan"),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    e = F.col("l_extendedprice").cast("decimal(12,2)")
    d = F.col("l_discount").cast("decimal(3,2)")
    t = F.col("l_tax").cast("decimal(3,2)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("sum_qty"),
            F.sum(e).cast("double").alias("sum_base_price"),
            F.sum(e * (1 - d)).cast("double").alias("sum_disc_price"),
            F.sum(e * (1 - d) * (1 + t)).cast("double").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "top_revenue_orders",
    """
    SELECT o.o_orderkey, o.o_orderdate,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3-style 3-way join + top-k. customer is the small side -> "
    "explicit broadcast (no shuffle of lineitem for that join).",
    tags=("join", "agg", "topk"),
)
def top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (1 - F.col("l_discount").cast("decimal(3,2)"))
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


@register(
    "point_lookup",
    """
    SELECT c_custkey, c_name, c_nationkey, c_acctbal
    FROM customer WHERE c_custkey = 42
    """,
    doc="Point filter; analog of the reference's select-by-key probes "
    "(reference database/db_util.py:39, Q1). Predicate pushes to parquet.",
    tags=("filter",),
)
def point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") == 42)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
    )


@register(
    "top1_order",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 1
    """,
    doc="ORDER BY ... LIMIT 1 with total-order tie-break; analog of the "
    "last-volume probe (reference db_util.py:96-100, Q3). TakeOrdered — "
    "no global sort materialized.",
    tags=("topk",),
)
def top1_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(1)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "range_selfjoin",
    """
    SELECT a.o_custkey AS custkey, a.o_orderkey AS base_order, COUNT(*) AS n_following
    FROM orders a
    JOIN orders b
      ON a.o_custkey = b.o_custkey
     AND (b.o_orderdate >= a.o_orderdate OR b.o_orderpriority = '1-URGENT')
    GROUP BY a.o_custkey, a.o_orderkey
    ORDER BY custkey, base_order
    """,
    doc="Equi+theta self-join: same shape as the reference's chapter range "
    "scan `cap.id_volume=reg.id_volume AND (cap.capitulo>=reg.capitulo OR "
    "cap.is_extra=1)` (reference db_util.py:102-107, Q4). Shuffles once on "
    "the equi key; the range/OR predicate evaluates post-match.",
    tags=("join", "range"),
)
def range_selfjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    a = o.alias("a")
    b = o.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (
                (F.col("b.o_orderdate") >= F.col("a.o_orderdate"))
                | (F.col("b.o_orderpriority") == "1-URGENT")
            ),
        )
        .groupBy(F.col("a.o_custkey").alias("custkey"), F.col("a.o_orderkey").alias("base_order"))
        .agg(F.count(F.lit(1)).alias("n_following"))
        .orderBy("custkey", "base_order")
    )


@register(
    "customers_without_orders",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
    doc="Anti-join; the reference's cascading-delete reachability check "
    "re-expressed declaratively (reference db_util.py:109-138, Q5/Q7).",
    tags=("join", "anti"),
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "customers_with_urgent_orders",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    ORDER BY c_custkey
    """,
    doc="Semi-join (EXISTS); analog of the reference's rowcount>0 upsert "
    "probe (reference db_util.py:454-671, Q6 select-then-branch).",
    tags=("join", "semi"),
)
def customers_with_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "window_first_orders",
    """
    SELECT o_custkey, o_orderkey, rn FROM (
      SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    ORDER BY o_custkey, rn
    """,
    doc="row_number window: the engine-level form of the reference's "
    "in-page `sequence` counter (reference modules/ocr.py:130-146, O2) "
    "— deterministic order key, single shuffle on the partition key.",
    tags=("window",),
)
def window_first_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
        .orderBy("o_custkey", "rn")
    )


@register(
    "running_value_per_user",
    """
    SELECT event_id, user_id,
           ROUND(SUM(value) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
           AS running_value
    FROM events
    ORDER BY user_id, event_id
    """,
    doc="Running-sum window over the events table (deterministic frame -> "
    "identical sequential double adds in both engines).",
    tags=("window",),
)
def running_value_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        e.withColumn("running_value", F.round(F.sum("value").over(w), 2))
        .select("event_id", "user_id", "running_value")
        .orderBy("user_id", "event_id")
    )


@register(
    "event_type_stats",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
           MIN(ts) AS first_ts, MAX(ts) AS last_ts
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Per-group metrics rollup — the lineage/metrics aggregation shape "
    "(reference per-run elapsed metrics, gui/window.py:247-257, O6).",
    tags=("agg",),
)
def event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .orderBy("event_type")
    )


@register(
    "events_hourly",
    """
    SELECT event_type, date_trunc('hour', ts) AS hour,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type, date_trunc('hour', ts)
    ORDER BY event_type, hour
    """,
    doc="Tumbling time-bucket aggregation: one map-side-combined groupBy "
    "on (event_type, date_trunc('hour', ts)).",
    tags=("agg", "time"),
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
        )
        .orderBy("event_type", "hour")
    )


@register(
    "top_users_by_value",
    """
    SELECT user_id, CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY total_value DESC, user_id
    LIMIT 10
    """,
    doc="Top-k after aggregation with tie-break.",
    tags=("agg", "topk"),
)
def top_users_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"))
        .orderBy(F.desc("total_value"), "user_id")
        .limit(10)
    )


@register(
    "merge_upsert_orders",
    """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             'base' AS src, 0 AS priority
      FROM orders
    ),
    updates AS (
      SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice,
             'update' AS src, 1 AS priority
      FROM orders WHERE o_orderkey % 7 = 0
    ),
    inserts AS (
      SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
             'N' AS o_orderstatus, o_totalprice, 'insert' AS src, 1 AS priority
      FROM orders WHERE o_orderkey % 1000 = 0
    ),
    u AS (
      SELECT * FROM base
      UNION ALL SELECT * FROM updates
      UNION ALL SELECT * FROM inserts
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY priority DESC) AS rn
      FROM u
    )
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, src
    FROM ranked WHERE rn = 1
    ORDER BY o_orderkey
    """,
    doc="Upsert / MERGE INTO semantics: latest-wins per key over base ∪ "
    "updates ∪ inserts, expressed as a priority window (the reference's "
    "select-then-insert/update upsert, db_util.py:454-671 / Q6). On an "
    "Iceberg sink this is `MERGE INTO target USING updates ON key WHEN "
    "MATCHED UPDATE WHEN NOT MATCHED INSERT`; the windowed form is the "
    "engine-agnostic equivalent and shuffles once on the merge key.",
    tags=("relational", "merge"),
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    base = o.select(*cols, F.lit("base").alias("src"), F.lit(0).alias("priority"))
    updates = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            F.lit("U").alias("o_orderstatus"),
            "o_totalprice",
            F.lit("update").alias("src"),
            F.lit(1).alias("priority"),
        )
    )
    inserts = (
        o.filter(F.col("o_orderkey") % 1000 == 0)
        .select(
            (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
            "o_custkey",
            F.lit("N").alias("o_orderstatus"),
            "o_totalprice",
            F.lit("insert").alias("src"),
            F.lit(1).alias("priority"),
        )
    )
    u = base.unionByName(updates).unionByName(inserts)
    w = W.partitionBy("o_orderkey").orderBy(F.desc("priority"))
    return (
        u.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "src")
        .orderBy("o_orderkey")
    )


@register(
    "cascade_delete_remaining",
    """
    WITH flagged_orders AS (
      SELECT o.o_orderkey
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment = 'BUILDING'
    )
    SELECT l.l_linestatus,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
    FROM lineitem l
    WHERE l.l_orderkey NOT IN (SELECT o_orderkey FROM flagged_orders)
    GROUP BY l.l_linestatus
    ORDER BY l.l_linestatus
    """,
    doc="Multi-way cascading delete (reference Q5/Q7: delete vocab/texts/"
    "pages reachable from a chapter via joins, db_util.py:109-138, "
    "576-581): the surviving rows are the left_anti join of lineitem "
    "against the customer->orders subtree, then rolled up. The flagged "
    "key set is small -> broadcast anti join, no shuffle of the fact "
    "table; on Iceberg the same plan drives `MERGE ... WHEN MATCHED "
    "DELETE`.",
    tags=("relational", "antijoin"),
)
def cascade_delete_remaining(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders")
    flagged = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem")
    surviving = li.join(
        F.broadcast(flagged), li.l_orderkey == flagged.o_orderkey, "left_anti"
    )
    return (
        surviving.groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("total_qty"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "event_sessions",
    """
    WITH gaps AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                  OR LAG(epoch_us(ts)) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, us,
             SUM(is_start) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id
      FROM gaps
    ),
    per AS (
      SELECT user_id, session_id, COUNT(*) AS n_events,
             (MAX(us) - MIN(us)) // 1000000 AS duration_s
      FROM sess GROUP BY user_id, session_id
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(MAX(n_events) AS BIGINT) AS max_session_events,
           CAST(MAX(duration_s) AS BIGINT) AS max_session_s
    FROM per GROUP BY user_id ORDER BY user_id
    """,
    doc="Gap-based sessionization (30-min inactivity): lag -> session "
    "boundary flag -> running-sum session id -> per-session rollup -> "
    "per-user summary. Two windows and two aggregations over ONE "
    "shuffle: every window/groupBy is keyed by user_id, so Catalyst "
    "reuses the same hash partitioning end-to-end — the pattern that "
    "matters at 10^12 events.",
    tags=("window", "sessionization"),
)
def event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("us").over(w)
    is_start = F.when(prev.isNull() | (F.col("us") - prev > 1800000000), 1).otherwise(0)
    wrun = W.partitionBy("user_id").orderBy("us", "event_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    sess = e.withColumn("is_start", is_start).withColumn(
        "session_id", F.sum("is_start").over(wrun)
    )
    per = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        ((F.max("us") - F.min("us")) / F.lit(1000000)).cast("long").alias("duration_s"),
    )
    return (
        per.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
            F.max("duration_s").alias("max_session_s"),
        )
        .orderBy("user_id")
    )


GAP = "30 minutes"


def session_stats(events: DataFrame) -> DataFrame:
    """Session aggregation: one row per (user, session) with the
    session bounds Spark assigns (start = first event, end = last
    event + GAP). The value sum rides DECIMAL inside the aggregation
    (exact, order-independent) and converts to DOUBLE once."""
    return (
        events.groupBy("user_id", F.session_window(F.col("ts"), GAP).alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("value_sum"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "value_sum",
        )
    )


@register(
    "session_window_stats",
    """
    WITH gaps AS (
      SELECT user_id, ts, value, event_id, epoch_us(ts) AS us,
             CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, value,
             SUM(is_start) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS sid
      FROM gaps
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
    FROM sess GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    doc="Engine-native session windows: Spark's built-in session_window "
    "(per-event windows [ts, ts+30min] merged INCLUSIVELY by Catalyst's "
    "session aggregation — an event exactly at a session's end extends "
    "it, pinned by tests' exact-gap fixture) — one shuffle on user_id, NO per-user ORDER "
    "BY window. The oracle restates the merge rule relationally (new "
    "session iff the gap EXCEEDS 30 min — "
    "the same > rule as event_sessions, so the two constructions are "
    "interchangeable) and must agree on bounds (start = first event, end = last "
    "event + gap), counts, and the DECIMAL-exact value sum.",
    tags=("window", "sessionization"),
)
def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return session_stats(e).orderBy("user_id", "session_start")


@register(
    "pricing_rollup",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY returnflag, linestatus
    """,
    doc="ROLLUP grouping sets: per-(flag,status), per-flag subtotal, and "
    "grand total in ONE aggregation pass (Catalyst expands the grouping "
    "sets; the scan is read once). NULL grouping keys are folded to "
    "'ALL' so the oracle compare is typed-stable.",
    tags=("agg", "rollup"),
)
def pricing_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_rows",
            "sum_qty",
        )
        .orderBy("returnflag", "linestatus")
    )


@register(
    "events_json_props",
    """
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    GROUP BY 1 ORDER BY k_bucket
    """,
    doc="Semi-structured column access: JSON path extraction from the "
    "events.props string, aggregated by bucket. Spark side uses "
    "get_json_object (codegen'd Jackson path, no UDF) — at 100 TB the "
    "extraction cost is scan-fused, no extra pass.",
    tags=("json", "agg"),
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.select((k % 10).alias("k_bucket"), k.alias("k"))
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("k_bucket")
    )


@register(
    "segment_set_ops",
    """
    WITH urgent AS (
      SELECT DISTINCT o_custkey AS c FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    building AS (
      SELECT c_custkey AS c FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    SELECT 'intersect' AS op, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT c FROM urgent INTERSECT SELECT c FROM building)
    UNION ALL
    SELECT 'except', CAST(COUNT(*) AS BIGINT)
    FROM (SELECT c FROM urgent EXCEPT SELECT c FROM building)
    UNION ALL
    SELECT 'union', CAST(COUNT(*) AS BIGINT)
    FROM (SELECT c FROM urgent UNION SELECT c FROM building)
    ORDER BY op
    """,
    doc="Set operations (INTERSECT / EXCEPT / UNION-distinct) between two "
    "customer key sets — Catalyst plans these as semi/anti/distinct "
    "joins on the key; counts keep the result tiny.",
    tags=("setop",),
)
def segment_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c")
    ).distinct()
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("c")
    )
    rows = [
        ("intersect", urgent.intersect(building)),
        ("except", urgent.exceptAll(building).distinct()),
        ("union", urgent.union(building).distinct()),
    ]
    out = None
    for op, df in rows:
        cnt = df.agg(F.count(F.lit(1)).alias("n")).select(F.lit(op).alias("op"), "n")
        out = cnt if out is None else out.unionByName(cnt)
    return out.orderBy("op")


@register(
    "asof_latest_order",
    """
    WITH j AS (
      SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
             ROW_NUMBER() OVER (
               PARTITION BY e.event_id
               ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
             ) AS rn
      FROM events e
      LEFT JOIN orders o
        ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    )
    SELECT event_id, user_id, ts,
           o_orderkey AS last_orderkey, o_orderdate AS last_orderdate
    FROM j WHERE rn = 1 ORDER BY event_id
    """,
    doc="AS-OF JOIN: for every event, the customer's most recent order "
    "at or before the event time (tie-break max orderkey); events with "
    "no prior order keep NULLs. Spark has no asof operator, so this is "
    "the scalable composition: UNION both tables into one (key, time) "
    "stream, ONE shuffle+sort per key, and a running last_value("
    "ignorenulls) window carries the latest order forward onto each "
    "event row — O(n log n) per key partition, no row-level "
    "inequality join. (The oracle states the same semantics as a "
    "LEFT JOIN + per-event window, which would be quadratic per hot "
    "key at scale — the union-merge IS the scale rewrite.)",
    tags=("join", "window"),
)
def asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    orders_side = o.select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("t"),
        F.lit(1).alias("is_order"),
        "o_orderkey",
        "o_orderdate",
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    events_side = e.select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(0).alias("is_order"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("timestamp").alias("o_orderdate"),
        "event_id",
        "ts",
    )
    merged = orders_side.unionByName(events_side)
    # Orders sort before events at the same instant (<= semantics), and
    # among same-time orders the max orderkey comes last, so last_value
    # picks it — the deterministic tie-break the oracle mirrors.
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("t"), F.desc("is_order"), F.col("o_orderkey"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = merged.select(
        "event_id", "user_id", "ts", "is_order",
        F.last("o_orderkey", ignorenulls=True).over(w).alias("last_orderkey"),
        F.last("o_orderdate", ignorenulls=True).over(w).alias("last_orderdate"),
    )
    return carried.filter(F.col("is_order") == 0).select(
        "event_id", "user_id", "ts", "last_orderkey", "last_orderdate"
    )


@register(
    "events_sliding_1h",
    """
    SELECT event_id, user_id,
           COUNT(*) OVER w AS n_1h,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS value_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    ORDER BY user_id, event_id
    """,
    doc="Sliding time-window per entity: for every event, count + sum of "
    "value over the user's PRECEDING HOUR — a RANGE frame over event "
    "time (the rows-frame twin is running_value_per_user; a RANGE frame "
    "includes all timestamp peers and is what 'last N minutes' features "
    "actually mean). Spark orders by timezone-free epoch micros "
    "(timestampdiff from the NTZ epoch — ts is TIMESTAMP_NTZ, so no "
    "session-timezone dependency) with a numeric rangeBetween of "
    "-3_600_000_000, exactly DuckDB's INTERVAL 1 HOUR "
    "on microsecond timestamps. The sum runs in DECIMAL inside the "
    "frame (sliding-window sums may add AND subtract as the frame "
    "slides — in doubles that drifts, in decimal it is exact), cast to "
    "double once at the end. Scale: partitioned by user_id — per-entity "
    "series are the one window shape that cannot be pre-aggregated "
    "away; state is bounded by one entity's events per task, and a "
    "pathologically hot entity moves to a tumbling pre-agg.",
    tags=("window", "time"),
)
def events_sliding_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    micros = F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)")
    w = W.partitionBy("user_id").orderBy(micros).rangeBetween(-3_600_000_000, 0)
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum(F.col("value").cast(DEC)).over(w).cast("double").alias("value_1h"),
    ).orderBy("user_id", "event_id")
