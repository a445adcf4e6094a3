"""Relational operator surface.

These mirror the reference's persistence-layer query workload
(reference src/manga_extractor/database/db_util.py — point lookups
:39, top-1 :96-100, range self-join :102-107, anti-join delete
:109-138, upsert/dedup keys :59,:454-671) and its orchestration
semantics (sequence numbering modules/ocr.py:130-146, per-run metrics
gui/window.py:505-508), re-expressed over the TPC-H-ish testdata.

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


@register(
    "regional_revenue",
    """
    SELECT n.n_name AS nation, r.r_name AS region,
           COUNT(*) AS n_lineitems,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN supplier s  ON l.l_suppkey = s.s_suppkey
    JOIN nation n    ON c.c_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    WHERE s.s_nationkey = c.c_nationkey
    GROUP BY n.n_name, r.r_name
    ORDER BY nation
    """,
    doc="TPC-H Q5-shaped local-supplier revenue: a six-table join "
    "(lineitem-orders-customer-supplier-nation-region) keeping only "
    "lineitems whose supplier sits in the customer's nation, rolled up "
    "to nation/region revenue in DECIMAL (exact, order-independent) "
    "cast to DOUBLE once. Scale path: the dimension chain "
    "(supplier/customer/nation/region) broadcasts — the fact table "
    "shuffles only for the lineitem-orders equi-join (the one "
    "unavoidable fact-to-fact exchange, AQE-splittable) and never for "
    "a dimension; Catalyst pushes the join ordering, and the final "
    "rollup has |nations| output rows with map-side combine.",
    tags=("join", "agg"),
)
def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    e = F.col("l_extendedprice").cast("decimal(12,2)")
    d = F.col("l_discount").cast("decimal(3,2)")
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .filter(F.col("s_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.sum(e * (1 - d)).cast("double").alias("revenue"),
        )
        .orderBy("nation")
    )


PIVOT_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _prio_alias(p: str) -> str:
    return "p" + p[0]


_PIVOT_SQL = (
    "SELECT o_orderstatus,\n"
    + ",\n".join(
        "       COUNT(CASE WHEN o_orderpriority = '{p}' THEN 1 END)"
        " AS {a}".format(p=p, a=_prio_alias(p))
        for p in PIVOT_PRIORITIES
    )
    + ",\n       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'"
    " THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS urgent_value\n"
    "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"
)


@register(
    "orders_priority_pivot",
    _PIVOT_SQL,
    doc="Pivot (long -> wide): order counts per status spread across "
    "priority columns via groupBy().pivot() with an EXPLICIT value list "
    "— the Spark API every BI consumer reaches for, compiled to the "
    "same single-shuffle conditional aggregation the oracle spells out "
    "as CASE WHENs. The explicit pivot values matter twice: without "
    "them Spark runs an extra distinct-scan job to discover the "
    "domain, and an unbounded discovered domain is a schema-explosion "
    "hazard at scale (the column count is the pivot domain's "
    "cardinality — keep it bounded and declared). NULL cells are "
    "coalesced to 0 on both sides; the one value column (urgent "
    "revenue) sums in DECIMAL.",
    tags=("agg", "pivot"),
)
def orders_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", PIVOT_PRIORITIES)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast(DEC)).alias("v"),
        )
    )
    cols = [
        F.coalesce(F.col(f"`{p}_n`"), F.lit(0)).alias(_prio_alias(p))
        for p in PIVOT_PRIORITIES
    ]
    return wide.select(
        "o_orderstatus",
        *cols,
        F.col("`1-URGENT_v`").cast("double").alias("urgent_value"),
    ).orderBy("o_orderstatus")


_UNPIVOT_SQL = f"""
WITH wide AS (
  SELECT o_orderstatus,
         {", ".join(
             f"CAST(SUM(CASE WHEN o_orderpriority = '{p}' THEN 1 ELSE 0 END) AS BIGINT)"
             f" AS {_prio_alias(p)}"
             for p in PIVOT_PRIORITIES
         )}
  FROM orders GROUP BY o_orderstatus
)
SELECT o_orderstatus, priority, n_orders FROM wide
UNPIVOT (n_orders FOR priority IN ({", ".join(_prio_alias(p) for p in PIVOT_PRIORITIES)}))
ORDER BY o_orderstatus, priority
"""


@register(
    "orders_priority_unpivot",
    _UNPIVOT_SQL,
    doc="Unpivot (wide -> long), the inverse of orders_priority_pivot: "
    "the per-status priority-count matrix melts back to (status, "
    "priority, n_orders) rows via DataFrame.unpivot — Spark's native "
    "melt, a pure per-row expansion with ZERO additional shuffle after "
    "the pivot aggregation (each wide row emits its |domain| long rows "
    "in place; no exchange, no window). The declared column list "
    "mirrors the pivot's declared domain: the round trip "
    "pivot -> unpivot is schema-stable because both ends enumerate the "
    "same bounded priority set. Oracle: DuckDB's UNPIVOT over the same "
    "CASE-WHEN wide CTE.",
    tags=("agg", "pivot"),
)
def orders_priority_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", PIVOT_PRIORITIES)
        .agg(F.count(F.lit(1)))
    )
    renamed = wide.select(
        "o_orderstatus",
        *[
            F.coalesce(F.col(f"`{p}`"), F.lit(0)).cast("long").alias(_prio_alias(p))
            for p in PIVOT_PRIORITIES
        ],
    )
    return renamed.unpivot(
        ids=["o_orderstatus"],
        values=[_prio_alias(p) for p in PIVOT_PRIORITIES],
        variableColumnName="priority",
        valueColumnName="n_orders",
    ).orderBy("o_orderstatus", "priority")


# -- TPC-H Q3-shaped shipping priority ------------------------------------

SHIP_SEGMENT = "BUILDING"
SHIP_CUTOFF = "1998-06-01"
SHIP_TOP = 10

_SHIPPING_PRIORITY_SQL = f"""
SELECT l.l_orderkey AS orderkey,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
       STRFTIME(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       o.o_orderpriority AS orderpriority
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = '{SHIP_SEGMENT}'
  AND o.o_orderdate < TIMESTAMP '{SHIP_CUTOFF}'
  AND l.l_shipdate  > TIMESTAMP '{SHIP_CUTOFF}'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, orderkey
LIMIT {SHIP_TOP}
"""


@register(
    "shipping_priority",
    _SHIPPING_PRIORITY_SQL,
    doc="TPC-H Q3-shaped shipping priority: revenue of orders taken "
    f"before {SHIP_CUTOFF} but not yet fully shipped by then, for one "
    "market segment, top-10 by revenue with an orderkey tie-break "
    "(total order => stable LIMIT). Scale path: the segment filter "
    "prunes customer map-side and the survivor broadcasts, so the "
    "only exchange is the lineitem-orders equi-join; the shipdate "
    "and orderdate predicates push into the parquet scans "
    "(PushedFilters), revenue is exact DECIMAL cast to DOUBLE once, "
    "and the final top-k is a TakeOrderedAndProject (no global sort).",
    tags=("join", "agg", "topk"),
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == SHIP_SEGMENT
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(SHIP_CUTOFF).cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(SHIP_CUTOFF).cast("timestamp")
    )
    e = F.col("l_extendedprice").cast("decimal(12,2)")
    d = F.col("l_discount").cast("decimal(3,2)")
    joined = l.join(o, l.l_orderkey == o.o_orderkey).join(
        F.broadcast(c), o.o_custkey == c.c_custkey
    )
    return (
        joined.groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_orderpriority").alias("orderpriority"),
        )
        .agg(F.sum(e * (1 - d)).cast("double").alias("revenue"))
        .select("orderkey", "revenue", "orderdate", "orderpriority")
        .orderBy(F.desc("revenue"), "orderkey")
        .limit(SHIP_TOP)
    )


# -- TPC-H Q10-shaped returned-item ranking --------------------------------

RETURN_Q_START = "1999-01-01"
RETURN_Q_END = "1999-07-01"
RETURN_TOP = 20

_RETURNED_ITEMS_SQL = f"""
SELECT c.c_custkey AS custkey,
       c.c_name AS name,
       n.n_name AS nation,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_returned_items
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '{RETURN_Q_START}'
  AND o.o_orderdate <  TIMESTAMP '{RETURN_Q_END}'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, custkey
LIMIT {RETURN_TOP}
"""


@register(
    "returned_items_ranking",
    _RETURNED_ITEMS_SQL,
    doc="TPC-H Q10-shaped returned-item customer ranking: lost revenue "
    "from lineitems returned in one half-year window, rolled up per "
    "customer with the nation name attached, top-20 with a custkey "
    "tie-break. Scale path: the returnflag predicate pushes into the "
    "lineitem scan and the date range into orders; nation always "
    "broadcasts and customer broadcasts at dimension scale (if the "
    "customer table ever outgrows the broadcast threshold the join "
    "key c_custkey is the same as the aggregation key, so one "
    "shuffle serves both); DECIMAL-exact revenue, single DOUBLE cast, "
    "TakeOrderedAndProject top-k.",
    tags=("join", "agg", "topk"),
)
def returned_items_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(RETURN_Q_START).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(RETURN_Q_END).cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    e = F.col("l_extendedprice").cast("decimal(12,2)")
    d = F.col("l_discount").cast("decimal(3,2)")
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    return (
        joined.groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            F.sum(e * (1 - d)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_returned_items"),
        )
        .select("custkey", "name", "nation", "revenue", "n_returned_items")
        .orderBy(F.desc("revenue"), "custkey")
        .limit(RETURN_TOP)
    )


# -- TPC-H Q18-shaped large-volume customers -------------------------------

LV_QTY_THRESHOLD = 300
LV_TOP = 50

_LARGE_VOLUME_SQL = f"""
WITH big AS (
  SELECT l_orderkey
  FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > {LV_QTY_THRESHOLD}
)
SELECT c.c_name AS name,
       c.c_custkey AS custkey,
       o.o_orderkey AS orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       CAST(CAST(o.o_totalprice AS DECIMAL(14,2)) AS DOUBLE) AS totalprice,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN big        ON big.l_orderkey = o.o_orderkey
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, strftime(o.o_orderdate, '%Y-%m-%d'),
         o.o_totalprice
ORDER BY sum_qty DESC, orderkey
LIMIT {LV_TOP}
"""


@register(
    "large_volume_customers",
    _LARGE_VOLUME_SQL,
    doc=f"TPC-H Q18-shaped large-volume customers: orders whose total "
    f"lineitem quantity exceeds {LV_QTY_THRESHOLD}, with the owning "
    f"customer attached, top-{LV_TOP} by quantity (orderkey "
    "tie-break => stable LIMIT). Scale path: the HAVING pre-aggregate "
    "is a map-side-combined groupBy over (orderkey) — the classic "
    "semi-join reduction — and the qualifying-order id set joins back "
    "as a plain equi-join AQE can broadcast when it is small (no "
    "static hint: the threshold makes its size data-dependent); "
    "quantity sums are exact DECIMAL cast to DOUBLE once at the end; "
    "the final top-k is a TakeOrderedAndProject, never a global sort.",
    tags=("join", "agg", "topk"),
)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(12,2)")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(q).alias("oq"))
        .filter(F.col("oq") > LV_QTY_THRESHOLD)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    joined = (
        l.join(big, l.l_orderkey == F.col("big_orderkey"))
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
    )
    return (
        joined.groupBy(
            F.col("c_name").alias("name"),
            F.col("c_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_totalprice").cast("decimal(14,2)").alias("tp"),
        )
        .agg(F.sum(q).cast("double").alias("sum_qty"))
        .select(
            "name",
            "custkey",
            "orderkey",
            "orderdate",
            F.col("tp").cast("double").alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("sum_qty"), "orderkey")
        .limit(LV_TOP)
    )


# -- SCD2 change history (gaps and islands) --------------------------------

_SCD2_SQL = """
WITH m AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER w AS prev_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
isl AS (
  SELECT user_id, event_type, ts,
         SUM(CASE WHEN prev_type IS NULL OR prev_type <> event_type
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS version
  FROM m
),
g AS (
  SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
         MIN(ts) AS valid_from, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM isl GROUP BY user_id, version, event_type
)
SELECT user_id, version, event_type,
       epoch_us(valid_from) AS valid_from_us,
       COALESCE(epoch_us(LEAD(valid_from) OVER
                 (PARTITION BY user_id ORDER BY valid_from)),
                CAST(-1 AS BIGINT)) AS valid_to_us,
       n_events
FROM g ORDER BY user_id, version
"""


@register(
    "scd2_type_history",
    _SCD2_SQL,
    doc="Slowly-changing-dimension type-2 build from an event log "
    "(gaps-and-islands): per user, consecutive same-type events "
    "collapse into one versioned validity interval "
    "[valid_from_us, valid_to_us) (-1 = current/open — a sentinel "
    "instead of NULL so both engines emit non-null BIGINTs), with the "
    "island's event count. The warehouse-history operator every CDC "
    "ingest needs. Scale shape: every window partitions by user_id and "
    "is bounded by that user's own event count (the running_value "
    "discipline — ordered per-entity change detection is inherently "
    "per-entity-sequential; entities parallelize), ties fully broken "
    "by (ts, event_id), interval edges as epoch microseconds.",
    tags=("window", "history"),
)
def scd2_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    change = F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0)
    isl = e.withColumn(
        "version",
        F.sum(change).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).cast("long"),
    )
    g = isl.groupBy("user_id", "version", "event_type").agg(
        F.min("ts").alias("valid_from"), F.count(F.lit(1)).alias("n_events")
    )
    w2 = W.partitionBy("user_id").orderBy("valid_from")
    # NTZ + UTC session = epoch_us (the scale_ops event-time pattern)
    valid_to = F.unix_micros(F.lead("valid_from").over(w2).cast("timestamp"))
    return (
        g.select(
            "user_id",
            "version",
            "event_type",
            F.unix_micros(F.col("valid_from").cast("timestamp")).alias("valid_from_us"),
            F.coalesce(valid_to, F.lit(-1).cast("long")).alias("valid_to_us"),
            "n_events",
        )
        .orderBy("user_id", "version")
    )


# -- TPC-H Q16-shaped supplier-diversity counts -----------------------------

_PARTS_SUPPLIER_SQL = """
WITH blocked AS (
  SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
)
SELECT p.p_brand AS brand,
       p.p_type AS ptype,
       CAST(p.p_size AS BIGINT) AS size,
       CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM part p
JOIN lineitem l ON p.p_partkey = l.l_partkey
WHERE NOT EXISTS (SELECT 1 FROM blocked b WHERE b.s_suppkey = l.l_suppkey)
GROUP BY brand, ptype, size
ORDER BY supplier_cnt DESC, brand, ptype, size
LIMIT 100
"""


@register(
    "parts_supplier_counts",
    _PARTS_SUPPLIER_SQL,
    doc="TPC-H Q16-shaped supplier diversity: per (brand, type, size), "
    "how many DISTINCT suppliers shipped the part, excluding a blocked "
    "supplier set (s_acctbal < 0 stands in for Q16's complaint filter; "
    "reference analogue: db_util.py's NOT-IN key deletes :109-138). "
    "Scale path: the blocked set is a dimension-bounded broadcast "
    "LEFT ANTI join (never a per-row NOT IN probe); part joins lineitem "
    "on the prunable p_partkey equi-key; COUNT(DISTINCT) is Spark's "
    "two-phase Expand aggregate with map-side partials; the final "
    "top-100 is TakeOrderedAndProject with a full (brand,type,size) "
    "tie-break, never a global sort.",
    tags=("join", "anti", "distinct-agg", "topk"),
)
def parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    blocked = s.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        l.join(F.broadcast(blocked), l.l_suppkey == blocked.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("ptype"),
            F.col("p_size").cast("long").alias("size"),
        )
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "brand", "ptype", "size")
        .limit(100)
    )


# -- TPC-H Q20-shaped dominant-supplier share -------------------------------

DOM_FACTOR = 8  # qualify above 1/8 of a part's total (fair share ~1/27 at sf0.01)

_DOMINANT_SUPPLIER_SQL = f"""
WITH sp AS (
  SELECT l_partkey, l_suppkey,
         SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sq
  FROM lineitem
  GROUP BY l_partkey, l_suppkey
),
tot AS (
  SELECT l_partkey, SUM(sq) AS tq FROM sp GROUP BY l_partkey
),
dom AS (
  SELECT sp.l_suppkey, sp.sq
  FROM sp JOIN tot ON sp.l_partkey = tot.l_partkey
  WHERE {DOM_FACTOR} * sp.sq > tot.tq
)
SELECT s.s_name AS name,
       s.s_suppkey AS suppkey,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(dom.sq) AS DOUBLE) AS dominated_qty
FROM dom JOIN supplier s ON dom.l_suppkey = s.s_suppkey
GROUP BY name, suppkey
ORDER BY n_parts DESC, suppkey
LIMIT 100
"""


@register(
    "dominant_supplier_share",
    _DOMINANT_SUPPLIER_SQL,
    doc="TPC-H Q20-shaped correlated-HAVING decorrelation: suppliers "
    f"holding an outsized share (> 1/{DOM_FACTOR}) of a part's total "
    "shipped quantity, with how many parts they dominate (the average "
    "part has ~27 suppliers at sf0.01, so fair share is ~1/27; 1/8 "
    "flags the top tail — 322 qualifying pairs at sf0.01). The correlated "
    "scalar subquery ('this pair's quantity vs its part's total') is "
    "decorrelated into two stacked aggregates: per-(part,supplier) "
    "sums, then per-part totals REUSING those partials (the second "
    "groupBy re-aggregates n_pairs rows, not the lineitem scan), "
    "joined back on the partkey equi-key. The majority test is exact "
    "DECIMAL cross-multiplication (8*sq > tq) — no division, so no "
    "float divergence; the single cast to DOUBLE happens at output. "
    "Scale: one lineitem shuffle on (partkey,suppkey), a small "
    "re-shuffle of the partials on partkey, AQE-splittable equi-joins, "
    "broadcast supplier dim.",
    tags=("join", "agg", "decorrelation"),
)
def dominant_supplier_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    q = F.col("l_quantity").cast("decimal(12,2)")
    # Persist the (part,supplier) partials: the totals branch re-groups
    # THESE rows instead of re-scanning + re-aggregating lineitem
    # (Spark's ReuseExchange does not match the two subtrees — verified
    # 3 parquet scans without the persist, 2 with). Same pattern as the
    # bm25 df cache; see queries/_scale_notes.py for persist scope.
    sp = l.groupBy("l_partkey", "l_suppkey").agg(F.sum(q).alias("sq")).persist()
    tot = sp.groupBy("l_partkey").agg(F.sum("sq").alias("tq"))
    dom = sp.join(tot, "l_partkey").filter(F.lit(DOM_FACTOR) * F.col("sq") > F.col("tq"))
    return (
        dom.join(F.broadcast(s), dom.l_suppkey == s.s_suppkey)
        .groupBy(F.col("s_name").alias("name"), F.col("s_suppkey").alias("suppkey"))
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("sq").cast("double").alias("dominated_qty"),
        )
        .orderBy(F.desc("n_parts"), "suppkey")
        .limit(100)
    )


# -- TPC-H Q22-shaped prospective customers ---------------------------------

DORMANT_CUTOFF = "2000-01-01"  # no order on/after this date => dormant

_PROSPECTIVE_SQL = f"""
WITH seg AS (
  SELECT c_mktsegment,
         SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS sum_bal,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM customer WHERE c_acctbal > 0
  GROUP BY c_mktsegment
)
SELECT c.c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
FROM customer c
JOIN seg ON seg.c_mktsegment = c.c_mktsegment
WHERE CAST(c.c_acctbal AS DECIMAL(12,2)) * seg.cnt > seg.sum_bal
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= DATE '{DORMANT_CUTOFF}')
GROUP BY segment
ORDER BY segment
"""


@register(
    "prospective_customers",
    _PROSPECTIVE_SQL,
    doc="TPC-H Q22-shaped prospect report: customers whose balance "
    "exceeds their market segment's average positive balance AND who "
    f"are dormant (no order on/after {DORMANT_CUTOFF} — the analogue "
    "of Q22's 7-year no-order clause; 55 qualify at sf0.01), rolled "
    "up per segment. The scalar "
    "'above average' subquery is exact: avg = sum/cnt is never "
    "computed — the predicate cross-multiplies (bal*cnt > sum) in "
    "DECIMAL, so Spark and DuckDB agree bit-for-bit with one DOUBLE "
    "cast at output. Scale: the segment aggregate is "
    "cardinality-bounded (broadcast, static hint is safe); the "
    "dormancy test is a LEFT ANTI join on the custkey equi-key with "
    "the date filter PUSHED TO THE ORDERS SCAN (a PushedFilters row) "
    "(shuffle both sides, AQE-splittable) — never an EXISTS probe per "
    "row.",
    tags=("anti", "agg", "scalar-subquery"),
)
def prospective_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    bal = F.col("c_acctbal").cast("decimal(12,2)")
    seg = (
        c.filter(F.col("c_acctbal") > 0)
        .groupBy("c_mktsegment")
        .agg(F.sum(bal).alias("sum_bal"), F.count(F.lit(1)).alias("cnt"))
        .withColumnRenamed("c_mktsegment", "seg_key")
    )
    return (
        c.join(
            o.filter(F.col("o_orderdate") >= DORMANT_CUTOFF).select("o_custkey"),
            c.c_custkey == F.col("o_custkey"),
            "left_anti",
        )
        .join(F.broadcast(seg), F.col("c_mktsegment") == F.col("seg_key"))
        .filter(bal * F.col("cnt") > F.col("sum_bal"))
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(bal).cast("double").alias("total_bal"),
        )
        .orderBy("segment")
    )


# -- TPC-H Q2-shaped groupwise-min supplier ----------------------------------

_MIN_COST_SQL = """
WITH offers AS (
  SELECT l.l_partkey, l.l_suppkey,
         MIN(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS best
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE r.r_name = 'ASIA'
  GROUP BY 1, 2
),
part_min AS (
  SELECT l_partkey, MIN(best) AS part_best FROM offers GROUP BY 1
)
SELECT p.p_partkey AS partkey, p.p_name AS part_name,
       s.s_suppkey AS suppkey, s.s_name AS supplier_name,
       CAST(o.best AS DOUBLE) AS best_price
FROM offers o
JOIN part_min m ON o.l_partkey = m.l_partkey AND o.best = m.part_best
JOIN part p ON p.p_partkey = o.l_partkey
JOIN supplier s ON s.s_suppkey = o.l_suppkey
WHERE p.p_type = 'PROMO'
ORDER BY best_price DESC, partkey, suppkey
LIMIT 100
"""


@register(
    "min_cost_part_supplier",
    _MIN_COST_SQL,
    doc="TPC-H Q2-shaped groupwise-min decorrelation: for every PROMO "
    "part, the ASIA supplier(s) whose cheapest shipped price equals the "
    "part's regional minimum. Q2's correlated scalar subquery "
    "('= MIN(ps_supplycost) for this part') is decorrelated into a "
    "per-(part,supplier) aggregate, a per-part re-aggregate REUSING "
    "those partials (persisted so the scan runs once), and an "
    "equality join-back on (partkey, price) — exact because price "
    "stays DECIMAL until the output cast. Scale: region/nation/"
    "supplier dims broadcast into the lineitem scan (one shuffle on "
    "(partkey,suppkey)); the min re-shuffle moves only the partials; "
    "join-back is an AQE-splittable equi-join; top-100 is "
    "TakeOrderedAndProject with full tie-break.",
    tags=("join", "agg", "decorrelation", "topk"),
)
def min_cost_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    asia_supp = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name")
    )
    offers = (
        l.join(F.broadcast(asia_supp), l.l_suppkey == asia_supp.s_suppkey)
        .groupBy("l_partkey", "l_suppkey", "s_name")
        .agg(F.min(F.col("l_extendedprice").cast("decimal(12,2)")).alias("best"))
        .persist()
    )
    part_min = offers.groupBy("l_partkey").agg(F.min("best").alias("part_best"))
    return (
        offers.join(
            part_min,
            (offers.l_partkey == part_min.l_partkey) & (offers.best == part_min.part_best),
        )
        .drop(part_min.l_partkey)
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .select(
            F.col("p_partkey").alias("partkey"),
            F.col("p_name").alias("part_name"),
            F.col("l_suppkey").alias("suppkey"),
            F.col("s_name").alias("supplier_name"),
            F.col("best").cast("double").alias("best_price"),
        )
        .orderBy(F.desc("best_price"), "partkey", "suppkey")
        .limit(100)
    )


# -- TPC-H Q4-shaped order priority / EXISTS ---------------------------------

_PRIORITY_LATE_SQL = """
SELECT o.o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
GROUP BY priority
ORDER BY priority
"""


@register(
    "order_priority_late_check",
    _PRIORITY_LATE_SQL,
    doc="TPC-H Q4-shaped EXISTS decorrelation: orders placed in 1996 "
    "with at least one line item shipped more than 30 days after the "
    "order date (the stand-in for Q4's commitdate<receiptdate — this "
    "schema carries no commit/receipt dates), counted per priority. "
    "The correlated EXISTS is a LEFT SEMI join on the l_orderkey "
    "equi-key with the residual date comparison evaluated inside the "
    "join — one pass over each side, no per-row subquery. Scale: the "
    "1996 filter pushes to the orders parquet scan (partition-prunable "
    "on a date-partitioned layout); the semi join shuffles both sides "
    "once and AQE can skew-split it; output is a 5-row aggregate.",
    tags=("semi", "agg", "decorrelation"),
)
def order_priority_late_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        l,
        (o.o_orderkey == l.l_orderkey)
        & (l.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("priority")
    )


# -- TPC-H Q11-shaped important-stock scan -----------------------------------

IMPORTANT_DEN = 2000  # keep parts holding > 1/2000 of the nation's value

_IMPORTANT_PARTS_SQL = f"""
WITH v AS (
  SELECT l.l_partkey,
         SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
             * (1 - CAST(l.l_discount AS DECIMAL(3,2)))) AS val
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name = 'NATION_7'
  GROUP BY 1
),
tot AS (SELECT SUM(val) AS total FROM v)
SELECT v.l_partkey AS partkey, CAST(v.val AS DOUBLE) AS part_value
FROM v, tot
WHERE v.val * {IMPORTANT_DEN} > tot.total
ORDER BY part_value DESC, partkey
"""


@register(
    "important_parts_value",
    _IMPORTANT_PARTS_SQL,
    doc="TPC-H Q11-shaped global-fraction HAVING: parts whose shipped "
    f"value from NATION_7 suppliers exceeds 1/{IMPORTANT_DEN} of that "
    "nation's total shipped value. Q11's scalar subquery over the "
    "whole fact table is decorrelated into a per-part aggregate, a "
    "1-row re-aggregate of THOSE partials (persisted — the lineitem "
    "scan runs once), and a broadcast of the single total row; the "
    "fraction test is exact DECIMAL cross-multiplication "
    f"(val*{IMPORTANT_DEN} > total) — no division anywhere, one "
    "DOUBLE cast at output. Scale: nation/supplier dims broadcast "
    "into the fact scan; the only data shuffle is the partkey "
    "aggregate; the scalar side is one row regardless of corpus size.",
    tags=("agg", "decorrelation", "scalar-subquery"),
)
def important_parts_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    supp = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select("s_suppkey")
    e = F.col("l_extendedprice").cast("decimal(12,2)")
    d = F.col("l_discount").cast("decimal(3,2)")
    v = (
        l.join(F.broadcast(supp), l.l_suppkey == supp.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(e * (1 - d)).alias("val"))
        .persist()
    )
    tot = v.agg(F.sum("val").alias("total"))
    return (
        v.crossJoin(F.broadcast(tot))
        .filter(F.col("val") * IMPORTANT_DEN > F.col("total"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("val").cast("double").alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "partkey")
    )


# -- TPC-H Q13-shaped customer order-count distribution ----------------------

_ORDER_DISTRIBUTION_SQL = """
WITH per_cust AS (
  SELECT c.c_custkey,
         COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                    AND o.o_orderpriority <> '1-URGENT'
  GROUP BY 1
)
SELECT CAST(c_count AS BIGINT) AS c_count,
       CAST(COUNT(*) AS BIGINT) AS custdist
FROM per_cust
GROUP BY 1
ORDER BY custdist DESC, c_count DESC
"""


@register(
    "customer_order_distribution",
    _ORDER_DISTRIBUTION_SQL,
    doc="TPC-H Q13 customer-distribution: histogram of customers by "
    "how many non-urgent orders they placed, INCLUDING the zero-order "
    "customers (the left outer join Q13 exists to test — an inner "
    "join silently drops them; o_orderpriority <> '1-URGENT' stands "
    "in for Q13's comment anti-pattern). COUNT(o_orderkey) counts "
    "only matched rows, so unmatched customers land in bucket 0 in "
    "both engines. Scale: the join ships the orders rows once on the "
    "custkey equi-key (AQE skew-splittable — the histogram shape is "
    "exactly what a 100 TB skew audit reads); the second aggregate "
    "re-shuffles one row per customer, and the final histogram is at "
    "most max-orders-per-customer rows.",
    tags=("join", "outer", "agg", "histogram"),
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# -- TPC-H Q15-shaped top supplier (groupwise global max) --------------------

_TOP_SUPPLIER_SQL = """
WITH rev AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY 1
),
mx AS (SELECT MAX(total_rev) AS m FROM rev)
SELECT s.s_suppkey AS suppkey, s.s_name AS supplier_name,
       CAST(rev.total_rev AS DOUBLE) AS total_revenue
FROM rev
CROSS JOIN mx
JOIN supplier s ON s.s_suppkey = rev.l_suppkey
WHERE rev.total_rev = mx.m
ORDER BY suppkey
"""


@register(
    "top_revenue_supplier",
    _TOP_SUPPLIER_SQL,
    doc="TPC-H Q15 top-supplier: the supplier(s) whose Q1-1996 revenue "
    "equals the global maximum — Q15's CREATE VIEW + scalar MAX "
    "subquery, decorrelated into a per-supplier aggregate (persisted, "
    "one lineitem scan), a 1-row MAX over those partials, and an "
    "exact DECIMAL equality join-back (ties all surface, as Q15 "
    "specifies; floats would make 'equals the max' flaky — DECIMAL "
    "makes it bit-stable in both engines). Scale: date filter pushes "
    "to the scan; one shuffle on suppkey; the max is one broadcast "
    "row; supplier dim broadcasts.",
    tags=("agg", "decorrelation", "scalar-subquery"),
)
def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    e = F.col("l_extendedprice").cast("decimal(12,2)")
    d = F.col("l_discount").cast("decimal(3,2)")
    rev = l.groupBy("l_suppkey").agg(F.sum(e * (1 - d)).alias("total_rev")).persist()
    mx = rev.agg(F.max("total_rev").alias("m"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("m"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("supplier_name"),
            F.col("total_rev").cast("double").alias("total_revenue"),
        )
        .orderBy("suppkey")
    )


# -- TPC-H Q17-shaped small-quantity revenue ---------------------------------

SMALL_QTY_NUM = 1  # keep lines with qty < (1/2) * part avg qty
SMALL_QTY_DEN = 2

_SMALL_QTY_SQL = f"""
WITH pa AS (
  SELECT l_partkey,
         SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sq,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
         AS avg_yearly
FROM lineitem l
JOIN pa ON pa.l_partkey = l.l_partkey
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#1'
  AND CAST(l.l_quantity AS DECIMAL(12,2)) * {SMALL_QTY_DEN} * pa.cnt
      < {SMALL_QTY_NUM} * pa.sq
"""


@register(
    "small_quantity_revenue",
    _SMALL_QTY_SQL,
    doc="TPC-H Q17 small-quantity-order revenue: total price of "
    "Brand#1 line items whose quantity is below half the part's "
    "average quantity, scaled to a yearly figure. The correlated "
    "'0.2 * AVG(l_quantity) for this part' subquery is decorrelated "
    "into per-part (sum, count) partials joined back on the partkey "
    "equi-key; the threshold test cross-multiplies "
    f"(qty*{SMALL_QTY_DEN}*cnt < {SMALL_QTY_NUM}*sum) in exact "
    "DECIMAL — the avg is never divided out, so both engines agree "
    "bit-for-bit. The output performs exactly two float ops (one "
    "cast, one division by 7.0) on an exact DECIMAL sum. Scale: one "
    "lineitem shuffle on partkey for the partials; the probe side "
    "joins on the same key (co-partitioned, AQE-splittable); part "
    "dim broadcasts; output is one row.",
    tags=("join", "agg", "decorrelation"),
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    q = F.col("l_quantity").cast("decimal(12,2)")
    pa = l.groupBy(F.col("l_partkey").alias("pa_key")).agg(
        F.sum(q).alias("sq"), F.count(F.lit(1)).alias("cnt")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(pa, F.col("l_partkey") == F.col("pa_key"))
        .filter(q * SMALL_QTY_DEN * F.col("cnt") < SMALL_QTY_NUM * F.col("sq"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            (
                F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).cast("double")
                / F.lit(7.0)
            ).alias("avg_yearly"),
        )
    )


# -- TPC-H Q21-shaped sole-late-supplier report ------------------------------

_SOLE_LATE_SQL = """
WITH late AS (
  SELECT DISTINCT l.l_orderkey, l.l_suppkey
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderstatus = 'F'
    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
),
sole AS (
  SELECT l_orderkey, MIN(l_suppkey) AS l_suppkey
  FROM late GROUP BY 1 HAVING COUNT(*) = 1
)
SELECT s.s_name AS supplier_name, s.s_suppkey AS suppkey,
       CAST(COUNT(*) AS BIGINT) AS numwait
FROM sole
JOIN supplier s ON s.s_suppkey = sole.l_suppkey
GROUP BY 1, 2
ORDER BY numwait DESC, suppkey
LIMIT 100
"""


@register(
    "sole_late_suppliers",
    _SOLE_LATE_SQL,
    doc="TPC-H Q21-shaped suppliers-who-kept-orders-waiting: per "
    "supplier, finished ('F') orders on which THEY shipped >60 days "
    "late and no other supplier did (l_shipdate vs o_orderdate stands "
    "in for Q21's receipt/commit dates, absent from this schema). "
    "Q21's EXISTS + NOT EXISTS pair over the same fact table is "
    "decorrelated into ONE aggregation: distinct late (order, "
    "supplier) pairs, then per-order HAVING COUNT(*)=1 — the sole "
    "offender is MIN(suppkey) of a 1-row group, so no second "
    "correlated probe ever runs. Scale: orders joins lineitem on the "
    "orderkey equi-key (both sides shuffle once, AQE-splittable); "
    "the distinct and the per-order aggregate reuse that orderkey "
    "partitioning (no extra exchange); supplier dim broadcasts; "
    "top-100 is TakeOrderedAndProject.",
    tags=("join", "agg", "decorrelation", "topk"),
)
def sole_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    late = (
        l.join(
            o,
            (l.l_orderkey == o.o_orderkey)
            & (l.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    sole = (
        late.groupBy("l_orderkey")
        .agg(F.min("l_suppkey").alias("sole_supp"), F.count(F.lit(1)).alias("n_late"))
        .filter(F.col("n_late") == 1)
    )
    return (
        sole.join(F.broadcast(s), F.col("sole_supp") == s.s_suppkey)
        .groupBy(F.col("s_name").alias("supplier_name"), F.col("s_suppkey").alias("suppkey"))
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "suppkey")
        .limit(100)
    )


# -- TPC-H Q6-shaped forecast revenue change ---------------------------------

_FORECAST_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue_delta,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND CAST(l_discount AS DECIMAL(3,2)) BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register(
    "forecast_revenue_change",
    _FORECAST_SQL,
    doc="TPC-H Q6 forecast-revenue-change: the what-if aggregate "
    "(revenue given up to mid-band discounts on small orders in one "
    "year). The plan IS the point: every predicate — date range, "
    "discount band, quantity cap — pushes to the parquet scan "
    "(PushedFilters), the aggregate is one map-side-combined partial, "
    "and the job has ZERO shuffles beyond the final 1-row combine. "
    "The discount test runs on the DECIMAL form so 0.05/0.07 are "
    "exact bounds, not float neighbors.",
    tags=("scan", "agg"),
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    d = F.col("l_discount").cast("decimal(3,2)")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & d.between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)") * d)
            .cast("double")
            .alias("revenue_delta"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# -- TPC-H Q7-shaped bilateral nation volume ---------------------------------

_NATION_VOLUME_SQL = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(EXTRACT(YEAR FROM l.l_shipdate) AS BIGINT) AS ship_year,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS volume
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation sn ON sn.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation cn ON cn.n_nationkey = c.c_nationkey
WHERE ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_9')
    OR (sn.n_name = 'NATION_9' AND cn.n_name = 'NATION_3'))
GROUP BY 1, 2, 3
ORDER BY supp_nation, cust_nation, ship_year
"""


@register(
    "nation_volume_shipping",
    _NATION_VOLUME_SQL,
    doc="TPC-H Q7 bilateral shipping volume: revenue flowing between "
    "two nations in either direction, per shipping year. Shape: the "
    "fact table joins two independent dimension CHAINS "
    "(supplier->nation and orders->customer->nation) with the "
    "either-direction pair predicate evaluated after both chains "
    "resolve. Scale: supplier/nation/customer dims broadcast into the "
    "two fact-side joins; orders-lineitem is the one big equi-join "
    "(orderkey, AQE-splittable); the pair filter prunes to the two "
    "nations BEFORE the big join on the supplier side (dim filters "
    "push into the broadcast build). Exact DECIMAL revenue, one "
    "output cast.",
    tags=("join", "agg"),
)
def nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    pair = {"NATION_3", "NATION_9"}
    sn = (
        s.join(F.broadcast(n.filter(n.n_name.isin(*pair))), s.s_nationkey == n.n_nationkey)
        .select(F.col("s_suppkey").alias("sk"), F.col("n_name").alias("supp_nation"))
    )
    cn = (
        c.join(F.broadcast(n.filter(n.n_name.isin(*pair))), c.c_nationkey == n.n_nationkey)
        .select(F.col("c_custkey").alias("ck"), F.col("n_name").alias("cust_nation"))
    )
    e = F.col("l_extendedprice").cast("decimal(12,2)")
    d = F.col("l_discount").cast("decimal(3,2)")
    return (
        l.join(F.broadcast(sn), l.l_suppkey == F.col("sk"))
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cn), o.o_custkey == F.col("ck"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(F.sum(e * (1 - d)).cast("double").alias("volume"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


# -- TPC-H Q8-shaped market share ---------------------------------------------

_MARKET_SHARE_SQL = """
WITH vol AS (
  SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS order_year,
         CAST(l.l_extendedprice AS DECIMAL(12,2))
           * (1 - CAST(l.l_discount AS DECIMAL(3,2))) AS v,
         sn.n_name AS supp_nation
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation sn ON sn.n_nationkey = s.s_nationkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation cn ON cn.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = cn.n_regionkey
  WHERE r.r_name = 'EUROPE' AND p.p_type = 'STANDARD'
)
SELECT order_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN v ELSE 0 END) AS DOUBLE)
         / CAST(SUM(v) AS DOUBLE) AS mkt_share,
       CAST(SUM(v) AS DOUBLE) AS total_volume
FROM vol GROUP BY 1 ORDER BY 1
"""


@register(
    "market_share",
    _MARKET_SHARE_SQL,
    doc="TPC-H Q8 national market share: NATION_5 suppliers' slice of "
    "the EUROPEAN customers' STANDARD-part market per order year. The "
    "share is a conditional-sum / sum ratio — both sums accumulate in "
    "exact DECIMAL and the share is ONE double division per year row, "
    "so the hash is bit-stable (a double-accumulated numerator would "
    "not be). Scale: six dimension joins all broadcast (region/nation/"
    "part/supplier/customer are each orders-of-magnitude smaller than "
    "the fact side, and the region+type filters shrink them further "
    "before the build); the lineitem-orders equi-join is the one real "
    "shuffle; the CASE keeps the share query to ONE pass where a "
    "self-join of two filtered aggregates would scan twice.",
    tags=("join", "agg", "ratio"),
)
def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        F.col("s_suppkey").alias("sk"), F.col("n_name").alias("supp_nation")
    )
    euro_cust = (
        c.join(
            F.broadcast(
                n.select("n_nationkey", "n_regionkey")
                .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
                .select("n_nationkey")
            ),
            c.c_nationkey == F.col("n_nationkey"),
        )
        .select(F.col("c_custkey").alias("ck"))
    )
    e = F.col("l_extendedprice").cast("decimal(12,2)")
    d = F.col("l_discount").cast("decimal(3,2)")
    v = (e * (1 - d)).alias("v")
    vol = (
        l.join(F.broadcast(p.select("p_partkey")), l.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(sn), l.l_suppkey == F.col("sk"))
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(euro_cust), o.o_custkey == F.col("ck"))
        .select(F.year("o_orderdate").cast("long").alias("order_year"), "supp_nation", v)
    )
    nat = F.sum(F.when(F.col("supp_nation") == "NATION_5", F.col("v")).otherwise(F.lit(0)))
    return (
        vol.groupBy("order_year")
        .agg(
            (nat.cast("double") / F.sum("v").cast("double")).alias("mkt_share"),
            F.sum("v").cast("double").alias("total_volume"),
        )
        .orderBy("order_year")
    )


# -- TPC-H Q9-shaped nation profit rollup -------------------------------------

_NATION_PROFIT_SQL = """
SELECT sn.n_name AS nation,
       CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS order_year,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l.l_discount AS DECIMAL(3,2)))
              - CAST(l.l_quantity AS DECIMAL(12,2))
                * CAST(p.p_retailprice AS DECIMAL(12,2)) * CAST(0.10 AS DECIMAL(3,2)))
            AS DOUBLE) AS profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation sn ON sn.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE p.p_name LIKE '%gizmo%'
GROUP BY 1, 2
ORDER BY nation, order_year DESC
"""


@register(
    "nation_profit_rollup",
    _NATION_PROFIT_SQL,
    doc="TPC-H Q9 product-line profit: per supplier nation and order "
    "year, revenue minus a supply-cost proxy (10% of retail price per "
    "unit — this schema carries no ps_supplycost) for parts whose "
    "name matches a substring. Every term of the profit expression "
    "stays DECIMAL until the output cast, so the mixed add/subtract "
    "sum is exact and order-independent. Scale: the LIKE filter "
    "shrinks part BEFORE its broadcast build; supplier/nation "
    "broadcast; lineitem-orders is the one shuffle join; the rollup "
    "is nations x years rows.",
    tags=("join", "agg"),
)
def nation_profit_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%gizmo%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        F.col("s_suppkey").alias("sk"), F.col("n_name").alias("nation")
    )
    e = F.col("l_extendedprice").cast("decimal(12,2)")
    d = F.col("l_discount").cast("decimal(3,2)")
    q = F.col("l_quantity").cast("decimal(12,2)")
    rp = F.col("p_retailprice").cast("decimal(12,2)")
    cost_rate = F.lit("0.10").cast("decimal(3,2)")
    return (
        l.join(F.broadcast(p.select("p_partkey", "p_retailprice")), l.l_partkey == p.p_partkey)
        .join(F.broadcast(sn), l.l_suppkey == F.col("sk"))
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").cast("long").alias("order_year"))
        .agg(F.sum(e * (1 - d) - q * rp * cost_rate).cast("double").alias("profit"))
        .orderBy("nation", F.desc("order_year"))
    )


# -- TPC-H Q12-shaped late-shipment priority counts ---------------------------

_SHIPMODE_SQL = """
SELECT l.l_linestatus AS line_status,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_priority_count
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY
  AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY 1 ORDER BY 1
"""


@register(
    "shipmode_priority_counts",
    _SHIPMODE_SQL,
    doc="TPC-H Q12 shipping-mode priority audit: among 1996 line items "
    "shipped more than 45 days after ordering (the stand-in for Q12's "
    "receipt/commit lateness — this schema has no ship mode or "
    "receipt date, l_linestatus plays the mode), how many belonged to "
    "high- vs low-priority orders. The two CASE sums make it ONE pass "
    "over the join — Q12's signature — instead of two filtered "
    "aggregates. Scale: the date-range filter pushes to the lineitem "
    "scan; the residual lateness predicate rides the orderkey "
    "equi-join; output is |linestatus| rows.",
    tags=("join", "agg"),
)
def shipmode_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(
            o,
            (l.l_orderkey == o.o_orderkey)
            & (l.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 45 DAYS")),
        )
        .groupBy(F.col("l_linestatus").alias("line_status"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_priority_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_priority_count"),
        )
        .orderBy("line_status")
    )


# -- TPC-H Q14-shaped promo revenue share --------------------------------------

_PROMO_SHARE_SQL = """
SELECT CAST(100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                 THEN CAST(l.l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(3,2)))
                 ELSE 0 END) AS DOUBLE)
       / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                  * (1 - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS DOUBLE)
         AS promo_revenue_pct,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
"""


@register(
    "promo_revenue_share",
    _PROMO_SHARE_SQL,
    doc="TPC-H Q14 promotion effect: the percentage of March-1996 "
    "revenue from PROMO-type parts. Q14's signature is the "
    "conditional-sum ratio in one pass; both sums are exact DECIMAL, "
    "the percentage is one double division then one multiply by the "
    "literal 100.0 — two float ops total, identical expression tree "
    "in both engines. Scale: month filter pushes to the scan, part "
    "dim broadcasts, zero other shuffles (1-row output).",
    tags=("join", "agg", "ratio"),
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    e = F.col("l_extendedprice").cast("decimal(12,2)")
    d = F.col("l_discount").cast("decimal(3,2)")
    rev = e * (1 - d)
    promo = F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0)))
    return l.join(F.broadcast(p.select("p_partkey", "p_type")), l.l_partkey == p.p_partkey).agg(
        (F.lit(100.0) * promo.cast("double") / F.sum(rev).cast("double")).alias(
            "promo_revenue_pct"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


# -- TPC-H Q19-shaped disjunctive revenue --------------------------------------

_DISJUNCTIVE_SQL = """
SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 5 AND 20
       AND l.l_quantity BETWEEN 10 AND 30)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 15 AND 40
       AND l.l_quantity BETWEEN 20 AND 40)
"""


@register(
    "disjunctive_discount_revenue",
    _DISJUNCTIVE_SQL,
    doc="TPC-H Q19 three-branch disjunctive revenue: OR of three "
    "(brand, size-range, quantity-range) conjunctions spanning both "
    "join sides. The shape exists to test predicate handling: the "
    "part-only disjuncts (brand OR brand OR brand, size unions) are "
    "inferable pre-join and shrink the broadcast build, while the "
    "mixed part x lineitem residual evaluates inside the join — "
    "Catalyst keeps the whole thing a broadcast hash join with no "
    "fact-side blowup. Exact DECIMAL revenue, single output cast.",
    tags=("join", "agg", "scan"),
)
def disjunctive_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    e = F.col("l_extendedprice").cast("decimal(12,2)")
    d = F.col("l_discount").cast("decimal(3,2)")
    q = F.col("l_quantity")
    b = F.col("p_brand")
    z = F.col("p_size")
    cond = (
        ((b == "Brand#1") & z.between(1, 10) & q.between(1, 20))
        | ((b == "Brand#2") & z.between(5, 20) & q.between(10, 30))
        | ((b == "Brand#3") & z.between(15, 40) & q.between(20, 40))
    )
    return (
        l.join(F.broadcast(p.select("p_partkey", "p_brand", "p_size")), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.sum(e * (1 - d)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
