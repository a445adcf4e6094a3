"""Relational operator surface.

These mirror the reference's persistence-layer query workload
(reference src/manga_extractor/database/db_util.py — point lookups
:39, top-1 :96-100, range self-join :102-107, anti-join delete
:109-138, upsert/dedup keys :59,:454-671) and its orchestration
semantics (sequence numbering modules/ocr.py:130-146, per-run metrics
gui/window.py:505-508), re-expressed over the TPC-H-ish customer,
orders and lineitem tables: grouped stats and rollups, top-k, a range
self-join, semi/anti joins, a row_number window, merge-upsert and
cascading delete, and set operations.

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
