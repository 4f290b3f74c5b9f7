"""The engine's query catalog: every relational operator from SURVEY §2
expressed as a Spark DataFrame plan, each paired (where SQL-expressible)
with an ANSI-SQL mirror the DuckDB oracle runs on the same parquet.

Registry contract (driver CORRECTNESS gate, __spark_entry__.py):
  * column names identical between Spark plan and oracle SQL
  * float aggregates rounded identically on both sides (sums→2dp,
    ratios/scores/cosines→4dp) so order-of-summation noise can't flip
    the value hash
  * every LIMIT carries a total order (unique tiebreak key) so the
    selected row *set* is deterministic

Reference operator ↔ query mapping (FIXTURES.md §10): ``part`` plays the
product catalog, ``lineitem``/``orders`` play the sync-state ledger,
``events`` plays the event log. Citations point at the reference behavior
each query re-expresses.
"""

from __future__ import annotations

import base64
import hashlib

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wc_vector_indexing_spark.operators import dedup, similarity, textstats
from wc_vector_indexing_spark.operators.chunker import chunk_documents
from wc_vector_indexing_spark.plans import relational2 as r2
from wc_vector_indexing_spark.sources.readers import load


def _ckpt_sorted(df: DataFrame, *cols: str, audit: bool = False) -> DataFrame:
    """Global sort over an expensive OPAQUE stage (a python render/
    decode map with no exchange in between): the range partitioner's
    sample job re-runs the child lineage, so the python pass would
    execute twice per action. A lazy local checkpoint pins the map
    output once; both the sample and the sort shuffle then read the
    stored rows. Only worth it when the child is python-heavy — a sort
    above an Exchange already reuses the shuffle files.

    ``audit``: return the plain sorted program WITHOUT the checkpoint —
    a checkpointed frame explains as `Scan ExistingRDD`, which would
    hide the real shuffle/python shape from tools/plan_audit.py; the
    ops using this helper expose the uncheckpointed twin as their
    QuerySpec.audit_fn (same plan shape, only the materialization
    point differs)."""
    if audit:
        return df.orderBy(*cols)
    return df.localCheckpoint(eager=False).orderBy(*cols)


def _audit_variant(op):
    """audit_fn wrapper for _ckpt_sorted ops: the same program with the
    checkpoint elided, so plan audits see the real shuffle/python shape
    instead of `Scan ExistingRDD`."""
    return lambda spark, sf: op(spark, sf, _audit=True)


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # DuckDB oracle; None => non-SQL-expressible (rows-only check)
    description: str
    # eager-summary entries (fn collects a bounded report and returns a
    # driver-built frame, hiding the real program from .explain): this
    # returns the LAZY pre-collect composition so tools/plan_audit.py
    # can audit the actual shuffle/join/python shape
    audit_fn: Callable[[SparkSession, str], DataFrame] | None = None


# --------------------------------------------------------------------------
# TPC-H-style headline queries (scan → join → agg → sort; bench workload)
# --------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical wide aggregation (map-side partial
    agg → single shuffle on a 2-value key)."""
    li = load(spark, "lineitem", sf)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                        AS sum_qty,
       round(sum(l_extendedprice), 2)                                   AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
       round(avg(l_quantity), 4)                                        AS avg_qty,
       round(avg(l_extendedprice), 4)                                   AS avg_price,
       round(avg(l_discount), 4)                                        AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + top-10 (broadcast the customer
    filter; TakeOrderedAndProject caps the sort)."""
    cust = load(spark, "customer", sf).filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, "orders", sf).filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load(spark, "lineitem", sf).filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(revenue, 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY sum(l_extendedprice * (1 - l_discount)) DESC, o_orderdate, l_orderkey
LIMIT 10
"""


def q5_region_volume(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 shape: star join through region→nation→(customer,supplier)
    with the small dims broadcast."""
    region = load(spark, "region", sf).filter(F.col("r_name") == "ASIA")
    nation = load(spark, "nation", sf)
    cust = load(spark, "customer", sf)
    supp = load(spark, "supplier", sf)
    orders = load(spark, "orders", sf).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load(spark, "lineitem", sf)
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(revenue, 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


Q5_SQL = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY sum(l_extendedprice * (1 - l_discount)) DESC, n_name
"""


def q6_forecast_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter+agg — every predicate must reach the
    parquet scan (PushedFilters)."""
    li = load(spark, "lineitem", sf)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


Q6_SQL = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def q4_priority_exists(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelated to a left-semi join with a
    non-equi condition."""
    orders = load(spark, "orders", sf).filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load(spark, "lineitem", sf)
    cond = (orders.o_orderkey == li.l_orderkey) & (
        li.l_shipdate > orders.o_orderdate + F.make_interval(days=F.lit(30))
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 30 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q10_returned_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 shape: 4-way join + top-20 revenue accounting for
    returned items."""
    cust = load(spark, "customer", sf)
    nation = load(spark, "nation", sf)
    orders = load(spark, "orders", sf).filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = load(spark, "lineitem", sf).filter(F.col("l_returnflag") == "R")
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(revenue, 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-07-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY sum(l_extendedprice * (1 - l_discount)) DESC, c_custkey
LIMIT 20
"""


def q12_priority_class(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q12 shape: conditional CASE aggregation."""
    li = load(spark, "lineitem", sf).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load(spark, "orders", sf)
    high = F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(1 - high).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


Q12_SQL = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


def q14_promo_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 shape: conditional revenue ratio over a join."""
    li = load(spark, "lineitem", sf).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    part = load(spark, "part", sf)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(F.round(F.sum(promo) * 100.0 / F.sum(rev), 4).alias("promo_revenue_pct"))
    )


Q14_SQL = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
"""


def q18_large_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING over a grouped subquery joined back."""
    li = load(spark, "lineitem", sf)
    orders = load(spark, "orders", sf)
    cust = load(spark, "customer", sf)
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            F.col("l_orderkey").alias("o_orderkey"),
            "o_orderdate",
            F.round(F.col("o_totalprice"), 2).alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       round(o_totalprice, 2) AS o_totalprice, total_qty
FROM (
    SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
    FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
) big
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
"""


def sessionize_events(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization: per-user sessions split on >30-min gaps
    (operators.relational.sessionize — lag + running sum, the batch twin
    of streaming session_window)."""
    from wc_vector_indexing_spark.operators.relational import session_stats

    ev = load(spark, "events", sf)
    return session_stats(
        ev, key_col="user_id", ts_col="ts", gap_seconds=1800, order_tiebreak="event_id"
    ).orderBy("user_id")


SESSIONIZE_SQL = """
WITH g AS (
    SELECT user_id, event_id, ts,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800 * 1000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
), s AS (
    SELECT user_id,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_id
    FROM g
)
SELECT user_id, CAST(max(session_id) + 1 AS BIGINT) AS n_sessions, count(*) AS n_events
FROM s GROUP BY user_id ORDER BY user_id
"""


def asof_click_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join (Spark lacks a native one): for each purchase, the
    latest click by the same user at or before it.

    Implementation is the scalable single-window pattern: union both
    streams, sort per user by time, carry the last click id forward with
    last(ignorenulls), keep purchase rows. One shuffle + one sort — no
    per-group pandas, no range explosion.
    """
    from wc_vector_indexing_spark.operators.relational import asof_join

    ev = load(spark, "events", sf)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    joined = asof_join(purchases, clicks, on="user_id", left_ts="ts", right_ts="ts")
    return joined.select(
        "purchase_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("click_id_right").alias("click_id"),
    ).orderBy("purchase_id")


ASOF_SQL = """
SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts, c.event_id AS click_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND c.ts <= p.ts
ORDER BY p.event_id
"""


def cube_order_stats(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE aggregation over (status, priority) — subtotal lattice rows
    marked by NULL dims (beyond-reference relational surface)."""
    orders = load(spark, "orders", sf)
    return (
        orders.cube(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


CUBE_SQL = """
SELECT o_orderstatus AS status, o_orderpriority AS priority,
       count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


# --------------------------------------------------------------------------
# Reference scans S3-S5, S10 (class-storage.php) — part≙products,
# lineitem≙sync-state, events≙event log
# --------------------------------------------------------------------------

def s3_never_synced(spark: SparkSession, sf: str) -> DataFrame:
    """S3/J1 initial-sync candidates: NOT EXISTS anti-join + recency
    order + limit (class-storage.php:223-243). The 'synced' set is
    lineitems shipped before 1996 so the anti-join is non-trivial."""
    part = load(spark, "part", sf)
    li = (
        load(spark, "lineitem", sf)
        .filter(F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        .select(F.col("l_partkey").alias("p_partkey"))
    )
    return (
        part.join(li, "p_partkey", "left_anti")
        .select(
            F.col("p_partkey").alias("product_id"),
            F.col("p_name").alias("title"),
            F.round(F.col("p_retailprice"), 2).alias("price"),
        )
        .orderBy(F.desc("product_id"))
        .limit(100)
    )


S3_SQL = """
SELECT p_partkey AS product_id, p_name AS title, round(p_retailprice, 2) AS price
FROM part
WHERE NOT EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_partkey = p_partkey AND l_shipdate < TIMESTAMP '1996-01-01'
)
ORDER BY p_partkey DESC
LIMIT 100
"""


def s4_modified_since(spark: SparkSession, sf: str) -> DataFrame:
    """S4/J2/A2 modified-since scan: per-key MAX(GREATEST(updated, synced))
    left-joined to the corpus, staleness filter, recency order+limit
    (class-storage.php:254-281)."""
    li = load(spark, "lineitem", sf)
    orders = load(spark, "orders", sf)
    agg = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.max(
            F.greatest(F.col("l_shipdate"), F.col("l_shipdate") + F.make_interval(days=F.lit(5)))
        ).alias("last_sync")
    )
    return (
        orders.join(agg, "o_orderkey", "left")
        .filter(
            (F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
            & (
                F.col("last_sync").isNull()
                | (F.col("last_sync") < F.col("o_orderdate") + F.make_interval(days=F.lit(60)))
            )
        )
        .select(
            F.col("o_orderkey").alias("product_id"),
            F.col("o_orderdate").alias("modified_at"),
            F.col("last_sync"),
        )
        .orderBy(F.desc("modified_at"), F.desc("product_id"))
        .limit(200)
    )


S4_SQL = """
SELECT o_orderkey AS product_id, o_orderdate AS modified_at, last_sync
FROM orders
LEFT JOIN (
    SELECT l_orderkey, max(greatest(l_shipdate, l_shipdate + INTERVAL 5 DAY)) AS last_sync
    FROM lineitem GROUP BY l_orderkey
) s ON o_orderkey = l_orderkey
WHERE o_orderdate >= TIMESTAMP '1999-01-01'
  AND (last_sync IS NULL OR last_sync < o_orderdate + INTERVAL 60 DAY)
ORDER BY o_orderdate DESC, o_orderkey DESC
LIMIT 200
"""


def s5_error_scan(spark: SparkSession, sf: str) -> DataFrame:
    """S5 error-rows scan: SELECT DISTINCT … WHERE status='error' ORDER
    DESC LIMIT (class-storage.php:300-308); 'R' returns play errors."""
    li = load(spark, "lineitem", sf)
    return (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_partkey").alias("product_id"))
        .distinct()
        .orderBy(F.desc("product_id"))
        .limit(100)
    )


S5_SQL = """
SELECT DISTINCT l_partkey AS product_id
FROM lineitem WHERE l_returnflag = 'R'
ORDER BY l_partkey DESC
LIMIT 100
"""


def s10_logs_page(spark: SparkSession, sf: str) -> DataFrame:
    """S10 logs-page query: dynamic predicate + snippet projection + dual
    sort keys + limit (class-admin-page-logs.php:133-173)."""
    ev = load(spark, "events", sf)
    return (
        ev.filter(F.col("event_type") == "error")
        .select(
            "event_id",
            "ts",
            "user_id",
            F.substring(F.col("props"), 1, 100).alias("props_snippet"),
        )
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(50)
    )


S10_SQL = """
SELECT event_id, ts, user_id, substring(props, 1, 100) AS props_snippet
FROM events WHERE event_type = 'error'
ORDER BY ts DESC, event_id DESC
LIMIT 50
"""


# --------------------------------------------------------------------------
# Joins / set ops J7-J8, sorts/limits K2-K3, aggregations A1, windows T9
# --------------------------------------------------------------------------

def j7_priority_union(spark: SparkSession, sf: str) -> DataFrame:
    """J7 priority union + first-seen dedupe: errors(1) → modified(2) →
    initial(3), row_number over priority (class-scheduler.php:143-154)."""
    li = load(spark, "lineitem", sf)
    part = load(spark, "part", sf)
    errors = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_partkey").alias("product_id"))
        .distinct()
        .withColumn("priority", F.lit(1))
    )
    modified = (
        li.filter(F.col("l_shipdate") >= F.lit("2001-01-01").cast("timestamp"))
        .select(F.col("l_partkey").alias("product_id"))
        .distinct()
        .withColumn("priority", F.lit(2))
    )
    initial = (
        part.join(li.select(F.col("l_partkey").alias("p_partkey")), "p_partkey", "left_anti")
        .select(F.col("p_partkey").alias("product_id"))
        .withColumn("priority", F.lit(3))
    )
    unioned = errors.unionByName(modified).unionByName(initial)
    # first-seen = MIN(priority) per product: a map-side-combinable agg
    # instead of a row_number window (same result, no per-group sort)
    return (
        unioned.groupBy("product_id")
        .agg(F.min("priority").alias("priority"))
        .orderBy("priority", "product_id")
        .limit(500)
    )


J7_SQL = """
WITH cand AS (
    SELECT DISTINCT l_partkey AS product_id, 1 AS priority FROM lineitem WHERE l_returnflag = 'R'
    UNION ALL
    SELECT DISTINCT l_partkey, 2 FROM lineitem WHERE l_shipdate >= TIMESTAMP '2001-01-01'
    UNION ALL
    SELECT p_partkey, 3 FROM part WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
), ranked AS (
    SELECT product_id, priority,
           row_number() OVER (PARTITION BY product_id ORDER BY priority) AS rn
    FROM cand
)
SELECT product_id, priority FROM ranked WHERE rn = 1
ORDER BY priority, product_id
LIMIT 500
"""


def j8_parent_expansion(spark: SparkSession, sf: str) -> DataFrame:
    """J8 variation→parent expansion + dedupe: emit each id and (for
    'variations', here ids not divisible by 10) its synthetic parent;
    order-preserving dedupe (class-storage.php:317-340)."""
    part = load(spark, "part", sf)
    expanded = part.select(
        F.explode(
            F.array(
                F.col("p_partkey"),
                F.when(F.col("p_partkey") % 10 != 0, F.col("p_partkey") - F.col("p_partkey") % 10),
            )
        ).alias("product_id")
    )
    return (
        expanded.filter(F.col("product_id").isNotNull())
        .distinct()
        .orderBy("product_id")
        .limit(1000)
    )


J8_SQL = """
SELECT DISTINCT product_id FROM (
    SELECT p_partkey AS product_id FROM part
    UNION ALL
    SELECT p_partkey - p_partkey % 10 FROM part WHERE p_partkey % 10 <> 0
)
WHERE product_id IS NOT NULL
ORDER BY product_id
LIMIT 1000
"""


def a1_variation_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """A1/K2 variation rollup: per-parent count, min/max price, sorted
    distinct value sets capped at K with '+N more' overflow marker
    (class-variation-rollup.php:22-153); brand plays the parent."""
    part = load(spark, "part", sf)
    cap = 5
    types = F.array_sort(F.collect_set("p_type"))
    over = F.size(types) > cap
    rendered = F.when(
        over,
        F.concat(
            F.array_join(F.slice(types, 1, cap), ", "),
            F.lit(", +"),
            (F.size(types) - cap).cast("string"),
            F.lit(" more"),
        ),
    ).otherwise(F.array_join(types, ", "))
    return (
        part.groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").alias("variation_count"),
            F.round(F.min("p_retailprice"), 2).alias("min_price"),
            F.round(F.max("p_retailprice"), 2).alias("max_price"),
            F.count_distinct(F.col("p_size")).alias("size_count"),
            rendered.alias("types_rendered"),
        )
        .orderBy("brand")
    )


A1_SQL = """
WITH g AS (
    SELECT p_brand AS brand, count(*) AS variation_count,
           round(min(p_retailprice), 2) AS min_price,
           round(max(p_retailprice), 2) AS max_price,
           count(DISTINCT p_size) AS size_count,
           list_sort(list(DISTINCT p_type)) AS types
    FROM part GROUP BY p_brand
)
SELECT brand, variation_count, min_price, max_price, size_count,
       CASE WHEN len(types) > 5
            THEN array_to_string(list_slice(types, 1, 5), ', ') || ', +' || (len(types) - 5)::VARCHAR || ' more'
            ELSE array_to_string(types, ', ') END AS types_rendered
FROM g ORDER BY brand
"""


def k2_topk_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """K2 per-group top-K: window rank over price within brand."""
    part = load(spark, "part", sf)
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        part.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            F.col("p_brand").alias("brand"),
            F.col("p_partkey").alias("product_id"),
            F.round(F.col("p_retailprice"), 2).alias("price"),
            "rnk",
        )
        .orderBy("brand", "rnk")
    )


K2_SQL = """
SELECT brand, product_id, price, rnk FROM (
    SELECT p_brand AS brand, p_partkey AS product_id, round(p_retailprice, 2) AS price,
           row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS rnk
    FROM part
) WHERE rnk <= 3
ORDER BY brand, rnk
"""


def k3_pagination(spark: SparkSession, sf: str) -> DataFrame:
    """K3 pagination: dual-key recency sort + OFFSET/LIMIT page
    (class-admin-page-logs.php:159-170)."""
    orders = load(spark, "orders", sf)
    return (
        orders.filter(F.col("o_orderstatus") == "O")
        .select(
            F.col("o_orderkey").alias("order_id"),
            F.col("o_orderdate").alias("order_date"),
            F.round(F.col("o_totalprice"), 2).alias("total"),
        )
        .orderBy(F.desc("order_date"), F.desc("order_id"))
        .offset(100)
        .limit(20)
    )


K3_SQL = """
SELECT o_orderkey AS order_id, o_orderdate AS order_date, round(o_totalprice, 2) AS total
FROM orders WHERE o_orderstatus = 'O'
ORDER BY o_orderdate DESC, o_orderkey DESC
LIMIT 20 OFFSET 100
"""


def t9_windowed_events(spark: SparkSession, sf: str) -> DataFrame:
    """T9 tumbling-window aggregation over the event stream (batch form;
    streaming/incremental.py runs the same agg with a watermark)."""
    ev = load(spark, "events", sf)
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
        )
    )


T9_SQL = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events, round(sum(value), 2) AS total_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
"""


def p13_money_format(spark: SparkSession, sf: str) -> DataFrame:
    """P13 money format: fixed two-decimal render
    (class-variation-rollup.php:186-192)."""
    orders = load(spark, "orders", sf)
    return orders.select(
        F.col("o_orderkey").alias("order_id"),
        F.format_string("%.2f", F.col("o_totalprice")).alias("total_fmt"),
    )


P13_SQL = """
SELECT o_orderkey AS order_id, printf('%.2f', o_totalprice) AS total_fmt
FROM orders
"""


def p14_masking(spark: SparkSession, sf: str) -> DataFrame:
    """P14 masking/redaction: '****' + last-4 (class-options.php:115-119)."""
    cust = load(spark, "customer", sf)
    return cust.select(
        F.col("c_custkey").alias("customer_id"),
        F.concat(F.lit("****"), F.substring(F.col("c_name"), -4, 4)).alias("masked_name"),
    )


P14_SQL = """
SELECT c_custkey AS customer_id, '****' || right(c_name, 4) AS masked_name
FROM customer
"""


def a4_status_counts(spark: SparkSession, sf: str) -> DataFrame:
    """A4 queue/backlog metrics: counts by status + distinct actors
    (class-scheduler.php:259-327)."""
    orders = load(spark, "orders", sf)
    return (
        orders.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").alias("n_jobs"),
            F.count_distinct(F.col("o_custkey")).alias("n_actors"),
            F.round(F.sum("o_totalprice"), 2).alias("total_value"),
        )
        .orderBy("status")
    )


A4_SQL = """
SELECT o_orderstatus AS status, count(*) AS n_jobs,
       count(DISTINCT o_custkey) AS n_actors,
       round(sum(o_totalprice), 2) AS total_value
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


# --------------------------------------------------------------------------
# Text pipeline: normalization P2, hashing H1/H3, dedup, quality, lang-id
# --------------------------------------------------------------------------

def p2_plain_text(spark: SparkSession, sf: str) -> DataFrame:
    """P2 plain(): tag-strip + whitespace-collapse + trim
    (class-field-normalizer.php:450-455)."""
    docs = load(spark, "documents", sf)
    clean = F.trim(
        F.regexp_replace(F.regexp_replace(F.col("text"), "<[^>]+>", " "), r"\s+", " ")
    )
    return docs.select("doc_id", clean.alias("clean_text"), F.length(clean).alias("clean_chars"))


P2_SQL = """
SELECT doc_id,
       trim(regexp_replace(regexp_replace(text, '<[^>]+>', ' ', 'g'), '\\s+', ' ', 'g')) AS clean_text,
       length(trim(regexp_replace(regexp_replace(text, '<[^>]+>', ' ', 'g'), '\\s+', ' ', 'g'))) AS clean_chars
FROM documents
"""


def h_doc_sha(spark: SparkSession, sf: str) -> DataFrame:
    """H1-flavor: sha256 content fingerprint per document."""
    docs = load(spark, "documents", sf)
    return docs.select("doc_id", F.sha2(F.col("text"), 256).alias("text_sha"))


H_SQL = "SELECT doc_id, sha256(text) AS text_sha FROM documents"


def h3_chunk_sha(spark: SparkSession, sf: str) -> DataFrame:
    """H3 chunk fingerprint: sha256(product_sha \\n index \\n text) with
    doc-sha as the product sha and a single whole-doc chunk
    (class-fingerprint.php:49-53)."""
    docs = load(spark, "documents", sf)
    psha = F.sha2(F.col("text"), 256)
    return docs.select(
        "doc_id",
        F.sha2(F.concat_ws("\n", psha, F.lit("0"), F.col("text")), 256).alias("chunk_sha"),
    )


H3_SQL = """
SELECT doc_id,
       sha256(sha256(text) || chr(10) || '0' || chr(10) || text) AS chunk_sha
FROM documents
"""


def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    return dedup.exact_duplicates(load(spark, "documents", sf))


DEDUP_EXACT_SQL = """
SELECT sha256(text) AS text_sha, count(*) AS dup_count, min(doc_id) AS canonical_id
FROM documents GROUP BY sha256(text)
"""


def dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    # max_df=64 caps the hottest posting list (worst group ≤ 64²/2 pairs)
    # without touching test-scale output: observed max shingle df is 4 at
    # sf0.01 and 6 at sf0.1, so every group survives the cap and the
    # oracle (which is uncapped) still hash-matches. At 100 TB the cap is
    # the difference between a bounded shuffle and a d²/2 blowup on one
    # boilerplate shingle (SCALE.md §Skew).
    return dedup.ngram_jaccard_pairs(
        load(spark, "documents", sf), k=4, threshold=0.2, max_df=64
    )


NGRAM_JACCARD_SQL = """
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ts FROM documents
), sh AS MATERIALIZED (
    SELECT doc_id,
           len(list_distinct(list_transform(range(1, len(ts) - 2), i -> array_to_string(list_slice(ts, i, i + 3), ' ')))) AS n,
           unnest(list_distinct(list_transform(range(1, len(ts) - 2), i -> array_to_string(list_slice(ts, i, i + 3), ' ')))) AS shingle
    FROM toks WHERE len(ts) >= 4
), pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared, min(a.n) AS na, min(b.n) AS nb
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, round(shared::DOUBLE / (na + nb - shared), 4) AS jaccard
FROM pairs WHERE shared::DOUBLE / (na + nb - shared) >= 0.2
"""


def dedup_ngram_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric n-gram containment pairs (dedup.ngram_containment_pairs):
    shared / |smaller shingle set| — catches a short doc quoted inside a
    long one, which Jaccard's union denominator hides. Same inverted
    index and max_df skew cap as the jaccard query."""
    return dedup.ngram_containment_pairs(
        load(spark, "documents", sf), k=4, threshold=0.5, max_df=64
    )


NGRAM_CONTAINMENT_SQL = """
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ts FROM documents
), sh AS MATERIALIZED (
    SELECT doc_id,
           len(list_distinct(list_transform(range(1, len(ts) - 2), i -> array_to_string(list_slice(ts, i, i + 3), ' ')))) AS n,
           unnest(list_distinct(list_transform(range(1, len(ts) - 2), i -> array_to_string(list_slice(ts, i, i + 3), ' ')))) AS shingle
    FROM toks WHERE len(ts) >= 4
), pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared, min(a.n) AS na, min(b.n) AS nb
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, round(shared::DOUBLE / least(na, nb), 4) AS containment
FROM pairs WHERE shared::DOUBLE / least(na, nb) >= 0.5
"""


def dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the verified ngram
    pair set (operators/components.py min-label propagation); cluster_id
    is the min doc id of the component. The transitive upgrade of the
    pairwise dedup output — pairs (1,3)+(2,3) yield ONE cluster {1,2,3}."""
    from wc_vector_indexing_spark.operators.components import connected_components

    pairs = dedup.ngram_jaccard_pairs(
        load(spark, "documents", sf), k=4, threshold=0.2, max_df=64
    )
    return connected_components(pairs).orderBy("doc")


# DuckDB side: transitive closure by recursive CTE — each node reaches
# its whole component through the symmetric edge list; min(reached) is
# the cluster id. Quadratic in component size, fine at oracle scale.
DEDUP_CLUSTERS_SQL = (
    """
WITH RECURSIVE toks AS (
    SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ts FROM documents
), sh AS MATERIALIZED (
    SELECT doc_id,
           len(list_distinct(list_transform(range(1, len(ts) - 2), i -> array_to_string(list_slice(ts, i, i + 3), ' ')))) AS n,
           unnest(list_distinct(list_transform(range(1, len(ts) - 2), i -> array_to_string(list_slice(ts, i, i + 3), ' ')))) AS shingle
    FROM toks WHERE len(ts) >= 4
), co AS MATERIALIZED (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared, min(a.n) AS na, min(b.n) AS nb
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
), pairs AS (
    SELECT doc_a, doc_b FROM co WHERE shared::DOUBLE / (na + nb - shared) >= 0.2
), edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM pairs
), reach(node, r) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node
)
SELECT node AS doc, min(r) AS cluster_id FROM reach GROUP BY node ORDER BY doc
"""
)


def dedup_embedding_cosine(spark: SparkSession, sf: str) -> DataFrame:
    return dedup.embedding_cosine_pairs(load(spark, "embeddings", sf), threshold=0.3)


EMB_COSINE_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS block,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine
FROM embeddings a
JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.3
"""


def dedup_embedding_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Cosine near-dup pairs with NO natural blocking key: multi-table
    sign-LSH blocking (operators/dedup.lsh_cosine_pairs). The blocking
    is approximate by design (recall ≈ 1-(1-p^bits)^tables) but fully
    DETERMINISTIC given the seeded hyperplanes — so the DuckDB oracle
    embeds the same 12×3 plane family as literals and replays bucket
    collision → pair dedup → exact cosine ≥ θ end-to-end (upgraded from
    rows-only in r8; measured fp margins: sign ≥ 4e-6, threshold ≥ 1e-5
    vs ~1e-13 cross-engine noise). Brute-force recall is separately
    pinned by tests/test_embedding_lsh.py."""
    return dedup.embedding_cosine_pairs(
        load(spark, "embeddings", sf), threshold=0.4, block_col=None,
        lsh_bits=3, lsh_tables=12,
    ).orderBy("id_a", "id_b")


def _dedup_embedding_lsh_sql() -> str:
    """Render the lsh_cosine_pairs mirror: per-table sign buckets from
    VALUES-embedded planes (dim=64, bits=3, seeds 42..53), candidate
    pairs from any shared (table, bucket), block = lexicographic-min
    't:bucket' (matching the Spark pair-level min), cosine recomputed
    with left-fold arithmetic."""
    from wc_vector_indexing_spark.operators.similarity import _hyperplanes

    rows = []
    for t in range(12):
        for b, plane in enumerate(_hyperplanes(64, 3, seed=42 + t)):
            lit = "[" + ", ".join(repr(x) for x in plane) + "]::DOUBLE[]"
            rows.append(f"({t}, {b}, {lit})")
    values = ",\n".join(rows)
    dot_vp = _fold_dot("e.v", "pl.p")
    dot_ab = _fold_dot("ea.v", "eb.v")
    sq_a = _fold_dot("ea.v", "ea.v")
    sq_b = _fold_dot("eb.v", "eb.v")
    return f"""
WITH pl(t, b, p) AS (VALUES {values}),
e AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), sig AS (
    SELECT e.vec_id, pl.t,
           sum(CASE WHEN {dot_vp} > 0 THEN (1 << pl.b)::BIGINT ELSE 0 END) AS bucket
    FROM e CROSS JOIN pl
    GROUP BY e.vec_id, pl.t
), cand AS (
    SELECT s1.vec_id AS id_a, s2.vec_id AS id_b,
           min(CAST(s1.t AS VARCHAR) || ':' || CAST(s1.bucket AS VARCHAR)) AS block
    FROM sig s1
    JOIN sig s2 ON s1.t = s2.t AND s1.bucket = s2.bucket
               AND s1.vec_id < s2.vec_id
    GROUP BY s1.vec_id, s2.vec_id
), scored AS (
    SELECT c.id_a, c.id_b, c.block,
           CASE WHEN sqrt({sq_a}) * sqrt({sq_b}) = 0.0 THEN 0.0
                ELSE {dot_ab} / (sqrt({sq_a}) * sqrt({sq_b}))
           END AS cosine
    FROM cand c
    JOIN e ea ON ea.vec_id = c.id_a
    JOIN e eb ON eb.vec_id = c.id_b
)
SELECT id_a, id_b, block, round(cosine, 4) AS cosine
FROM scored
WHERE cosine >= 0.4
ORDER BY id_a, id_b
"""


def textstats_quality(spark: SparkSession, sf: str) -> DataFrame:
    return textstats.text_quality(load(spark, "documents", sf))


QUALITY_SQL = """
SELECT doc_id,
       length(text) AS n_chars,
       len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS n_tokens,
       round(length(text)::DOUBLE / len(regexp_split_to_array(lower(trim(text)), '\\s+')), 4) AS avg_token_len,
       round(length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / length(text), 4) AS digit_ratio,
       round(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE / length(text), 4) AS punct_ratio,
       round(length(regexp_replace(text, '[^A-Z]', '', 'g'))::DOUBLE / length(text), 4) AS upper_ratio,
       round(least(1.0, len(regexp_split_to_array(lower(trim(text)), '\\s+')) / 100.0) * 0.4
             + (1.0 - length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / length(text)) * 0.3
             + (1.0 - least(1.0, length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE / length(text) * 5.0)) * 0.3,
             4) AS quality_score
FROM documents
"""


def host_reputation_op(spark: SparkSession, sf: str) -> DataFrame:
    """Domain blocklist derivation (operators/reputation.py): per-host
    page counts, boilerplate-duplicate rate, and mean quality decide
    whether the HOST is kept — the aggregate stage crawl pipelines run
    before any per-document gate. The documents table's ``source`` is
    the host key; to exercise the dup-rate signal the fixture plants a
    host-wide boilerplate page on every fifth doc of even-numbered
    hosts (pure column CASE — the same plant replays in the oracle),
    so even hosts show dup_rate 0.16 > the 0.15 bar and get blocked
    while odd hosts ride on quality alone. One groupBy on host, text
    digests (not bodies) through the shuffle; closed-form DuckDB
    oracle shares the quality formula with QUALITY_SQL."""
    from wc_vector_indexing_spark.operators.reputation import host_reputation

    docs = load(spark, "documents", sf)
    host_num = F.regexp_extract("source", r"(\d+)", 1).cast("int")
    boiler = F.concat(
        F.lit("subscribe to our newsletter and accept all cookies on "),
        F.col("source"),
    )
    planted = docs.withColumn(
        "text",
        F.when((F.col("doc_id") % 5 == 4) & (host_num % 2 == 0), boiler)
        .otherwise(F.col("text")),
    )
    return host_reputation(planted).orderBy("host")


HOST_REPUTATION_SQL = """
WITH planted AS (
    SELECT source,
           CASE WHEN doc_id % 5 = 4
                 AND regexp_extract(source, '([0-9]+)', 1)::INT % 2 = 0
                THEN 'subscribe to our newsletter and accept all cookies on '
                     || source
                ELSE text END AS text
    FROM documents
), scored AS (
    SELECT source, md5(text) AS digest,
           round(least(1.0, len(regexp_split_to_array(lower(trim(text)), '\\s+')) / 100.0) * 0.4
                 + (1.0 - length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / length(text)) * 0.3
                 + (1.0 - least(1.0, length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE / length(text) * 5.0)) * 0.3,
                 4) AS q
    FROM planted
), agg AS (
    SELECT source AS host,
           count(*) AS n_pages,
           count(digest) AS n_text_pages,
           count(DISTINCT digest) AS n_unique,
           round(avg(q), 3) AS avg_quality
    FROM scored GROUP BY source
)
SELECT host, n_pages, n_unique,
       round(1 - n_unique::DOUBLE / nullif(n_text_pages, 0), 4) AS dup_rate,
       avg_quality,
       (coalesce(
            round(1 - n_unique::DOUBLE / nullif(n_text_pages, 0), 4) > 0.15,
            false)
        OR coalesce(avg_quality < 0.45, false)) AS blocked
FROM agg
ORDER BY host
"""


def lang_id_stopwords(spark: SparkSession, sf: str) -> DataFrame:
    return textstats.lang_id(load(spark, "documents", sf))


# (lang, expected script, planted sentence) — one per language the
# char-n-gram router covers; the doc_id % 14 plant both lang_id_ngram_op
# and its oracle's expectation CASEs are generated from. Latin plants
# verified to win their marker argmax by ≥7 hits against ≤1 stray hit.
_LANGID_PLANTS: list[tuple[str, str, str]] = [
    ("en", "latin", "the report is ready and this is the part that goes "
                    "with the data for this run"),
    ("es", "latin", "los datos que tenemos para una prueba como esta son "
                    "los que están en la lista de revisión"),
    ("de", "latin", "der bericht ist fertig und die daten sind nicht alt "
                    "auch werden die werte ein teil"),
    ("fr", "latin", "les données sont dans une liste pour les tests avec "
                    "des valeurs qui restent"),
    ("it", "latin", "che i risultati sono una parte della prova con gli "
                    "altri valori degli esempi per la sezione"),
    ("pt", "latin", "os dados não são uma parte dos testes mais com a "
                    "seção para os valores pelo menos"),
    ("nl", "latin", "het rapport is een lijst van waarden die niet gelijk "
                    "zijn voor de tests naar wens"),
    ("tr", "latin", "bu rapor bir liste ve değerler için olarak kalan "
                    "veriler ile birlikte bulunur"),
    ("ru", "cyrillic", "отчет готов и данные остаются в списке для "
                       "проверки значений"),
    ("ja", "kana", "このレポートはデータの一覧であり値は検証のために残ります"),
    ("zh", "han", "这份报告包含数据列表所有数值保留用于验证和检查"),
    ("ko", "hangul", "이 보고서는 데이터 목록이며 값은 검증을 위해 유지됩니다"),
    ("ar", "arabic", "هذا التقرير يحتوي على قائمة البيانات والقيم محفوظة للتحقق"),
    ("hi", "devanagari", "यह रिपोर्ट आंकड़ों की सूची है और मान जाँच के लिए रखे गए हैं"),
]


def lang_id_ngram_op(spark: SparkSession, sf: str) -> DataFrame:
    """Char-n-gram language ID (operators/langid.py — script gate +
    Cavnar-Trenkle-style Latin marker profiles, 14 languages / 7
    scripts): each document gets a planted sentence in language
    doc_id % 14 (digits of doc_id appended — they must not disturb
    either stage). Planted truth ⇒ the oracle asserts the CLASSIFIER
    OUTPUT equals the planted language/script, not merely that both
    engines replay the same arithmetic: a router that misidentifies
    any planted language hash-mismatches. Zero-shuffle codegen map
    pass (the whole classifier is length/replace arithmetic)."""
    from wc_vector_indexing_spark.operators.langid import lang_id_ngram

    docs = load(spark, "documents", sf)
    plant = F.when(F.lit(False), F.lit(""))
    for i, (_, _, sentence) in enumerate(_LANGID_PLANTS):
        plant = plant.when(F.col("doc_id") % 14 == i, F.lit(sentence))
    planted = docs.select(
        "doc_id",
        F.concat(plant, F.lit(" "), F.col("doc_id").cast("string"))
        .alias("text"),
    )
    return lang_id_ngram(planted).orderBy("doc_id")


def _lang_id_ngram_sql() -> str:
    """Planted-truth oracle for lang_id_ngram: expectation CASEs
    generated from the same _LANGID_PLANTS table the Spark plant uses."""
    script_arms = " ".join(
        f"WHEN {i} THEN '{script}'"
        for i, (_, script, _) in enumerate(_LANGID_PLANTS))
    lang_arms = " ".join(
        f"WHEN {i} THEN '{lang}'"
        for i, (lang, _, _) in enumerate(_LANGID_PLANTS))
    return f"""
SELECT doc_id,
       CASE (doc_id % 14)::INT {script_arms} END AS script,
       CASE (doc_id % 14)::INT {lang_arms} END AS predicted_lang
FROM documents
ORDER BY doc_id
"""


def token_length_dist(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source token-length distribution (exact p25/p50/p90/max) —
    the sequence-length planning input for packing budgets and batch
    shapes. One aggregation over a pure-projection scan; exact
    percentile for the oracle, approx_percentile is the 100 TB swap-in
    (same pattern as quantiles_by_type)."""
    docs = load(spark, "documents", sf)
    n = textstats.token_count(F.col("text"))
    per = docs.select("source", n.alias("toks"))
    return (
        per.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.expr("percentile(toks, 0.25)"), 2).alias("p25"),
            F.round(F.expr("percentile(toks, 0.5)"), 2).alias("p50"),
            F.round(F.expr("percentile(toks, 0.9)"), 2).alias("p90"),
            F.max("toks").cast("long").alias("max_toks"),
        )
        .orderBy("source")
    )


TOKEN_LENGTH_SQL = """
WITH per AS (
    SELECT source,
           len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS toks
    FROM documents
)
SELECT source, count(*) AS n_docs,
       round(quantile_cont(toks, 0.25), 2) AS p25,
       round(quantile_cont(toks, 0.5), 2) AS p50,
       round(quantile_cont(toks, 0.9), 2) AS p90,
       CAST(max(toks) AS BIGINT) AS max_toks
FROM per GROUP BY source ORDER BY source
"""


def corpus_health(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source corpus health report: doc counts, mean quality, mean
    token length, exact-dup rate — the operations dashboard a curation
    pipeline reviews before/after each pass. ONE aggregation over a
    pure-projection scan (quality is a column expression, dup rate a
    count-distinct of the content sha); shuffle keyed by source."""
    from wc_vector_indexing_spark.functions.hashing import sha_text

    docs = load(spark, "documents", sf)
    per = docs.select(
        "source",
        F.round(textstats.quality_score_col(F.col("text")), 4).alias("q"),
        textstats.token_count(F.col("text")).alias("toks"),
        sha_text("text").alias("sha"),
    )
    return (
        per.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("q"), 4).alias("avg_quality"),
            F.round(F.avg("toks"), 2).alias("avg_tokens"),
            F.count_distinct("sha").alias("distinct_texts"),
            F.round(
                F.lit(1.0) - F.count_distinct("sha") / F.count("*"), 4
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


CORPUS_HEALTH_SQL = """
WITH per AS (
    SELECT source, sha256(text) AS sha,
           len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS toks,
           round(least(1.0, len(regexp_split_to_array(lower(trim(text)), '\\s+')) / 100.0) * 0.4
                 + (1.0 - length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / length(text)) * 0.3
                 + (1.0 - least(1.0, length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE / length(text) * 5.0)) * 0.3,
                 4) AS q
    FROM documents
)
SELECT source, count(*) AS n_docs, round(avg(q), 4) AS avg_quality,
       round(avg(toks), 2) AS avg_tokens,
       count(DISTINCT sha) AS distinct_texts,
       round(1.0 - count(DISTINCT sha)::DOUBLE / count(*), 4) AS dup_rate
FROM per GROUP BY source ORDER BY source
"""


def script_mix_op(spark: SparkSession, sf: str) -> DataFrame:
    """Unicode-script composition (textstats.script_mix): per-script
    char ratios + dominant script, zero shuffles. Java \\p{IsX} and
    RE2 \\p{X} script classes count identically (verified)."""
    return textstats.script_mix(load(spark, "documents", sf)).orderBy("doc_id")


SCRIPT_MIX_SQL = r"""
WITH counts AS (
    SELECT doc_id, length(text) AS n,
           len(regexp_extract_all(text, '\p{Latin}')) AS lat,
           len(regexp_extract_all(text, '\p{Cyrillic}')) AS cyr,
           len(regexp_extract_all(text, '\p{Han}')) AS han,
           len(regexp_extract_all(text, '\p{Arabic}')) AS ara
    FROM documents
)
SELECT doc_id,
       coalesce(round(lat / nullif(n, 0)::DOUBLE, 4), 0.0) AS latin_ratio,
       coalesce(round(cyr / nullif(n, 0)::DOUBLE, 4), 0.0) AS cyrillic_ratio,
       coalesce(round(han / nullif(n, 0)::DOUBLE, 4), 0.0) AS han_ratio,
       coalesce(round(ara / nullif(n, 0)::DOUBLE, 4), 0.0) AS arabic_ratio,
       CASE WHEN lat >= cyr AND lat >= han AND lat >= ara AND lat > 0 THEN 'latin'
            WHEN cyr >= han AND cyr >= ara AND cyr > 0 THEN 'cyrillic'
            WHEN han >= ara AND han > 0 THEN 'han'
            WHEN ara > 0 THEN 'arabic'
            ELSE 'other' END AS dominant_script
FROM counts
ORDER BY doc_id
"""


def _lang_sql() -> str:
    from wc_vector_indexing_spark.operators.textstats import LANG_MIN_RATIO, STOPWORDS

    def lst(lang: str) -> str:
        return "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"

    def ratio(lang: str) -> str:
        return (
            f"len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), "
            f"x -> list_contains({lst(lang)}, x)))::DOUBLE "
            f"/ len(regexp_split_to_array(lower(trim(text)), '\\s+'))"
        )

    m = LANG_MIN_RATIO
    return f"""
WITH r AS (
    SELECT doc_id, {ratio('en')} AS en_r, {ratio('es')} AS es_r,
           {ratio('de')} AS de_r, {ratio('fr')} AS fr_r
    FROM documents
)
SELECT doc_id, round(en_r, 4) AS en_ratio, round(es_r, 4) AS es_ratio,
       round(de_r, 4) AS de_ratio, round(fr_r, 4) AS fr_ratio,
       CASE WHEN en_r >= es_r AND en_r >= de_r AND en_r >= fr_r AND en_r >= {m} THEN 'en'
            WHEN es_r >= de_r AND es_r >= fr_r AND es_r >= {m} THEN 'es'
            WHEN de_r >= fr_r AND de_r >= {m} THEN 'de'
            WHEN fr_r >= {m} THEN 'fr'
            ELSE 'other' END AS predicted_lang
FROM r
"""


def repetition_signals_op(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition quality signals (operators/repetition.py):
    duplicate-line fractions + top-2-gram / duplicated-5-gram character
    fractions per document — the standard boilerplate/spam filter pass."""
    from wc_vector_indexing_spark.operators.repetition import repetition_signals

    return repetition_signals(load(spark, "documents", sf)).orderBy("doc_id")


REPETITION_SQL = r"""
WITH line_counts AS (
    SELECT doc_id, line, count(*) AS c, length(line) AS len
    FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM documents)
    GROUP BY doc_id, line
), line_stats AS (
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_lines,
           round((sum(c) - count(*)) / sum(c)::DOUBLE, 4) AS dup_line_frac,
           coalesce(round(sum((c - 1) * len) / nullif(sum(c * len), 0)::DOUBLE, 4), 0.0)
               AS dup_line_char_frac
    FROM line_counts GROUP BY doc_id
), toks AS (
    SELECT doc_id, length(text) AS n_chars,
           regexp_split_to_array(lower(trim(text)), '\s+') AS t
    FROM documents
), g2_counts AS (
    SELECT doc_id, n_chars, g, count(*) AS c
    FROM (SELECT doc_id, n_chars,
                 unnest([t[i] || ' ' || t[i + 1] for i in generate_series(1, len(t) - 1)]) AS g
          FROM toks)
    GROUP BY doc_id, n_chars, g
), g2_stats AS (
    SELECT doc_id,
           round(max(c * length(g)) / nullif(n_chars, 0)::DOUBLE, 4) AS top_2gram_char_frac
    FROM g2_counts GROUP BY doc_id, n_chars
), g5_counts AS (
    SELECT doc_id, n_chars, g, count(*) AS c
    FROM (SELECT doc_id, n_chars,
                 unnest([t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] || ' ' || t[i + 4]
                         for i in generate_series(1, len(t) - 4)]) AS g
          FROM toks)
    GROUP BY doc_id, n_chars, g
), g5_stats AS (
    SELECT doc_id,
           round(sum(CASE WHEN c > 1 THEN (c - 1) * length(g) ELSE 0 END)
                 / nullif(n_chars, 0)::DOUBLE, 4) AS dup_5gram_char_frac
    FROM g5_counts GROUP BY doc_id, n_chars
)
SELECT d.doc_id, ls.n_lines, ls.dup_line_frac, ls.dup_line_char_frac,
       coalesce(g2s.top_2gram_char_frac, 0.0) AS top_2gram_char_frac,
       coalesce(g5s.dup_5gram_char_frac, 0.0) AS dup_5gram_char_frac
FROM documents d
LEFT JOIN line_stats ls USING (doc_id)
LEFT JOIN g2_stats g2s USING (doc_id)
LEFT JOIN g5_stats g5s USING (doc_id)
ORDER BY d.doc_id
"""


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------

def knn_exact_top10(spark: SparkSession, sf: str) -> DataFrame:
    """Exact cosine kNN: top-10 neighbors of vec_id=1 (SURVEY §4 item 4)."""
    emb = load(spark, "embeddings", sf)
    qv = emb.filter(F.col("vec_id") == 1).select("embedding").head()[0]
    res = similarity.knn_exact(emb, [float(x) for x in qv], k=10)
    return res.select("vec_id", F.round(F.col("score"), 4).alias("score"))


KNN_SQL = """
SELECT e.vec_id,
       round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS score
FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 1) q
ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC, e.vec_id
LIMIT 10
"""


def train_test_split_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Content-addressed train/val/test split (operators/sampling.py):
    the assignment is sha256-bucket arithmetic, so the DuckDB oracle
    reproduces it exactly — engine-portable reproducible splits."""
    from wc_vector_indexing_spark.operators.sampling import hash_split

    docs = load(spark, "documents", sf)
    split = hash_split(docs, key_col="doc_id")
    return (
        split.groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "split")
    )


SPLIT_SQL = """
WITH b AS (
    SELECT lang,
           (('0x' || substr(sha256(doc_id::VARCHAR), 1, 8))::UBIGINT % 10000)::INT AS bucket
    FROM documents
)
SELECT lang,
       CASE WHEN bucket < 8000 THEN 'train'
            WHEN bucket < 9000 THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs
FROM b GROUP BY 1, 2 ORDER BY lang, split
"""


def decontamination_op(spark: SparkSession, sf: str) -> DataFrame:
    """Eval-set decontamination (operators/decontamination.py): docs
    with doc_id < 25 play the benchmark, the rest the training corpus;
    n=4 suits the synthetic corpus's template text (production uses the
    published 13-gram default). Eval grams broadcast; the corpus side
    never shuffles."""
    from wc_vector_indexing_spark.operators.decontamination import contamination_pairs

    docs = load(spark, "documents", sf)
    return contamination_pairs(
        docs.filter(F.col("doc_id") >= 25), docs.filter(F.col("doc_id") < 25), n=4
    ).orderBy("train_id", "eval_id")


CONTAM_SQL = r"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents
), grams AS (
    SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id,
               unnest([t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3]
                       for i in generate_series(1, len(t) - 3)]) AS g
        FROM toks)
)
SELECT tr.doc_id AS train_id, ev.doc_id AS eval_id, count(*) AS n_hits
FROM grams tr JOIN grams ev ON tr.g = ev.g
WHERE tr.doc_id >= 25 AND ev.doc_id < 25
GROUP BY 1, 2
ORDER BY 1, 2
"""


def line_dedup_op(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style corpus-wide line dedup (operators/linededup.py): lines
    >= 30 chars survive only at their first (doc_id, pos) occurrence."""
    from wc_vector_indexing_spark.operators.linededup import corpus_line_dedup

    return corpus_line_dedup(load(spark, "documents", sf)).orderBy("doc_id")


def window_dedup_op(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-substring duplication screen (operators/linededup.py
    window_duplication): per-doc fraction of 8-token windows shared with
    other documents."""
    from wc_vector_indexing_spark.operators.linededup import window_duplication

    return window_duplication(load(spark, "documents", sf)).orderBy("doc_id")


WINDOW_DEDUP_SQL = r"""
WITH toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                       x -> x != '') AS ws
    FROM documents
), wins AS (
    SELECT doc_id, md5(array_to_string(ws[i.i:i.i+7], ' ')) AS h
    FROM toks, LATERAL (
        SELECT unnest(generate_series(1, greatest(len(ws) - 7, 0))) AS i
    ) i
), df AS (
    SELECT h, count(DISTINCT doc_id) AS ndocs FROM wins GROUP BY h
)
SELECT w.doc_id, count(*) AS n_windows,
       count(*) FILTER (WHERE df.ndocs >= 2) AS n_dup,
       round(count(*) FILTER (WHERE df.ndocs >= 2)::DOUBLE / count(*), 4) AS dup_frac
FROM wins w JOIN df USING (h) GROUP BY w.doc_id ORDER BY w.doc_id
"""


LINE_DEDUP_SQL = r"""
WITH lines AS (
    SELECT doc_id, u.idx AS pos, u.line FROM (
        SELECT doc_id,
               unnest([{'idx': i, 'line': l[i]} for i in generate_series(1, len(l))]) AS u
        FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM documents))
), survivors AS (
    SELECT doc_id, pos, line FROM (
        SELECT doc_id, pos, line,
               row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
        FROM lines WHERE length(line) >= 30)
    WHERE rn = 1
    UNION ALL
    SELECT doc_id, pos, line FROM lines WHERE length(line) < 30
), reassembled AS (
    SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_clean,
           count(*) AS kept
    FROM survivors GROUP BY doc_id
), totals AS (SELECT doc_id, count(*) AS total FROM lines GROUP BY doc_id)
SELECT t.doc_id, coalesce(r.text_clean, '') AS text_clean,
       CAST(t.total - coalesce(r.kept, 0) AS BIGINT) AS n_removed
FROM totals t LEFT JOIN reassembled r USING (doc_id)
ORDER BY doc_id
"""


def vocab_topk_op(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus vocabulary top-100 (operators/vocab.py): exact token
    frequency with a deterministic (n desc, token asc) cut."""
    from wc_vector_indexing_spark.operators.vocab import vocab_topk

    return vocab_topk(load(spark, "documents", sf), k=100)


VOCAB_SQL = r"""
SELECT token, count(*) AS n
FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
      FROM documents)
WHERE token != ''
GROUP BY token
ORDER BY n DESC, token
LIMIT 100
"""


def sequence_packing_op(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget sequence packing (operators/packing.py): docs laid
    end-to-end per source in doc_id order; bin = cumulative-offset //
    budget. Window partitions by source — parallel across groups, no
    global order."""
    from wc_vector_indexing_spark.operators.packing import sequence_packing

    return sequence_packing(load(spark, "documents", sf), budget=2048).orderBy("doc_id")


PACKING_SQL = r"""
SELECT doc_id, source, n_tokens,
       CAST(floor((cum - n_tokens) / 2048) AS BIGINT) AS bin_id
FROM (
    SELECT doc_id, source,
           len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens,
           sum(len(regexp_split_to_array(lower(trim(text)), '\s+')))
               OVER (PARTITION BY source ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) AS cum
    FROM documents)
ORDER BY doc_id
"""


MIX_WEIGHTS = {"src0": 0.3, "src1": 0.2, "src2": 0.2, "src3": 0.3}


def data_mixing_op(spark: SparkSession, sf: str) -> DataFrame:
    """Source-mixture reweighting (operators/mixing.py): deterministic
    content-addressed downsampling to a target source mixture; unlisted
    sources drop. Row-identical across engines (same sha256 bucket
    filter as train_test_split), so the oracle verifies exact rows."""
    from wc_vector_indexing_spark.operators.mixing import source_mix

    return source_mix(load(spark, "documents", sf), MIX_WEIGHTS).orderBy("doc_id")


def _mix_sql() -> str:
    vals = ", ".join(f"('{s}', {w!r}::DOUBLE)" for s, w in MIX_WEIGHTS.items())
    return f"""
WITH w(source, w_s) AS (VALUES {vals}),
c AS (SELECT source, count(*)::DOUBLE AS n_s FROM documents GROUP BY source),
cw AS (SELECT c.source, c.n_s, w.w_s FROM c JOIN w USING (source)),
n AS (SELECT min(n_s / w_s) AS n_star FROM cw),
thr AS (SELECT source, CAST(floor(((w_s * n_star) / n_s) * 10000) AS INT) AS thr
        FROM cw CROSS JOIN n)
SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
FROM documents d JOIN thr USING (source)
WHERE (('0x' || substr(sha256(d.doc_id::VARCHAR), 1, 8))::UBIGINT % 10000)::INT < thr.thr
ORDER BY d.doc_id
"""


def knn_join_top3(spark: SparkSession, sf: str) -> DataFrame:
    """All-pairs kNN join: for each of 10 query vectors, its 3 nearest
    neighbors (operators.similarity.knn_similarity_join)."""
    emb = load(spark, "embeddings", sf)
    queries = emb.filter(F.col("vec_id") < 10)
    res = similarity.knn_similarity_join(queries, emb, k=3)
    return res.select(
        "query_id", "neighbor_id", F.round(F.col("score"), 4).alias("score"), "rank"
    )


KNN_JOIN_SQL = """
SELECT query_id, neighbor_id, round(score, 4) AS score, rank
FROM (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) AS score,
           row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) DESC,
                        e.vec_id
           ) AS rank
    FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
    CROSS JOIN embeddings e
)
WHERE rank <= 3
"""


def pivot_order_status(spark: SparkSession, sf: str) -> DataFrame:
    """PIVOT: order counts per priority, one column per status."""
    orders = load(spark, "orders", sf)
    return (
        orders.groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .withColumnsRenamed({"F": "n_f", "O": "n_o", "P": "n_p"})
        .orderBy("priority")
    )


PIVOT_SQL = """
SELECT o_orderpriority AS priority,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
       count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def quality_pass_rate(spark: SparkSession, sf: str) -> DataFrame:
    """Curation-pipeline shape: quality-score the corpus, then per
    language report pass rates at a 0.5 threshold (filter feeding a
    training-data selection)."""
    scored = textstats.text_quality(load(spark, "documents", sf))
    docs = load(spark, "documents", sf).select("doc_id", "lang")
    return (
        scored.join(docs, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("quality_score") >= 0.5, 1).otherwise(0)).alias("n_pass"),
            F.round(F.avg("quality_score"), 4).alias("avg_quality"),
        )
        .orderBy("lang")
    )


QUALITY_PASS_SQL = """
WITH scored AS (
    SELECT doc_id, lang,
           round(least(1.0, len(regexp_split_to_array(lower(trim(text)), '\\s+')) / 100.0) * 0.4
                 + (1.0 - length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / length(text)) * 0.3
                 + (1.0 - least(1.0, length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE / length(text) * 5.0)) * 0.3,
                 4) AS quality_score
    FROM documents
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN quality_score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       round(avg(quality_score), 4) AS avg_quality
FROM scored GROUP BY lang ORDER BY lang
"""


# --------------------------------------------------------------------------
# Non-SQL-expressible operators (rows-only driver check, pytest-verified)
# --------------------------------------------------------------------------

def chunk_documents_op(spark: SparkSession, sf: str) -> DataFrame:
    """C1-C5 deterministic chunker over the documents corpus (small
    budget so multi-chunk behavior is exercised). Oracle-backed as of
    r8: on this corpus (single-space ASCII words ≤8 chars, no sentence
    punctuation/newlines — verified at every sf) the chunker reduces to
    a provable regime — one unit per doc, greedy word packing into
    160-char pieces, and every piece flushes into exactly one chunk
    (the greedy boundary makes cur+next_piece always overflow, see the
    oracle comment) with a 32-char word-safe overlap tail. The DuckDB
    mirror replays that regime exactly with two recursive CTEs over
    word lengths; the general branches (paragraph/sentence units, giant
    words, hard splits) stay pinned by tests/test_chunker.py goldens +
    hypothesis properties."""
    docs = load(spark, "documents", sf)
    return chunk_documents(docs, text_col="text", size=40, overlap=8).select(
        "doc_id", "chunk_index", "chunk_chars", "approx_tokens"
    )


# chunk_text(size=40, overlap=8, chars_per_token=4) ⇒ budget=160,
# overlap_chars=32. Regime proof for this corpus (to_units == [text],
# no word > budget):
#  - split_long_unit emits greedy word pieces; a piece boundary means
#    cur(+space)+next_word > 160, and next_word starts the next piece,
#    so len(any packing prefix) + len(next_piece) > 160 ALWAYS — every
#    piece flushes into its own chunk, chunk_k = tail_{k-1} ⊕ piece_k.
#  - word_safe_tail in word space: with single spaces, the tail is
#    exactly the words after the word covering char cut-1 (cut=L-32);
#    snapping + lstrip can never produce a mid-word start.
# All arithmetic below is over word-length lists; `ends[i]` is the
# end-with-space char position of word i, so the covering word is the
# first i with ends[i] >= cut-1.
CHUNK_DOCUMENTS_SQL = r"""
WITH RECURSIVE toks AS (
    SELECT doc_id, list_transform(string_split(text, ' '), w -> length(w)) AS wl
    FROM documents
), pack AS (
    SELECT doc_id, wl, 1 AS widx, wl[1] AS cur_len, 1 AS piece_no FROM toks
    UNION ALL
    SELECT doc_id, wl, widx + 1,
           CASE WHEN cur_len + 1 + wl[widx + 1] > 160
                THEN wl[widx + 1] ELSE cur_len + 1 + wl[widx + 1] END,
           CASE WHEN cur_len + 1 + wl[widx + 1] > 160
                THEN piece_no + 1 ELSE piece_no END
    FROM pack WHERE widx < len(wl)
), pieces AS (
    SELECT doc_id, piece_no, list(wl[widx] ORDER BY widx) AS lens
    FROM pack GROUP BY doc_id, piece_no
), chunkrec AS (
    SELECT doc_id, 1 AS k, lens AS l FROM pieces WHERE piece_no = 1
    UNION ALL
    SELECT y.doc_id, y.k, y.tail || y.plens AS l
    FROM (
        SELECT x.doc_id, x.k, x.plens,
               CASE WHEN x.clen <= 32 THEN x.prev
                    ELSE list_slice(
                        x.prev,
                        len(list_filter(x.ends, e -> e < x.clen - 33)) + 2,
                        len(x.prev))
               END AS tail
        FROM (
            SELECT c.doc_id, c.k + 1 AS k, c.l AS prev, p.lens AS plens,
                   CAST(list_sum(c.l) AS INT) + len(c.l) - 1 AS clen,
                   list_transform(
                       range(1, len(c.l) + 1),
                       i -> CAST(list_sum(list_slice(c.l, 1, i)) AS INT) + i - 1
                   ) AS ends
            FROM chunkrec c
            JOIN pieces p ON p.doc_id = c.doc_id AND p.piece_no = c.k + 1
        ) x
    ) y
)
SELECT doc_id,
       k - 1 AS chunk_index,
       CAST(list_sum(l) AS INT) + len(l) - 1 AS chunk_chars,
       CAST((CAST(list_sum(l) AS INT) + len(l) - 1 + 3) // 4 AS INT) AS approx_tokens
FROM chunkrec
"""


def dedup_minhash_op(spark: SparkSession, sf: str) -> DataFrame:
    """max_bucket=64 mirrors the ngram entries' max_df=64: boilerplate
    band buckets wider than any plausible near-dup cluster at this SF
    are degenerate and only manufacture sub-threshold candidates.
    md5 token-hash mode (simhash64 precedent) so the DuckDB oracle
    recomputes the EXACT minhash signatures, band collisions, bucket
    cap, and exact-Jaccard verification — candidate generation is
    structurally replicated, not approximated, so this entry is
    hash-gated rather than rows-only (r7 verdict task). xxhash-family
    crc32 stays the production default."""
    return dedup.minhash_lsh_pairs(
        load(spark, "documents", sf), threshold=0.2, max_bucket=64,
        token_hash="md5",
    )


# Shared scaffold for the minhash-family oracles: the md5-mode
# minhash pipeline recomputed in SQL — shingle sets (4-grams, distinct-
# unigram fallback for short docs, exactly dedup._band_bucket_udf's
# universe), md5-based shingle hash mod M31, the (a_i, b_i) permutation
# family with the same constants as operators/dedup.py, per-doc 64-long
# signatures, and 16-band keys (bucket identity == equality of the
# band's 4 signature rows; the blake2b in the Spark path is only a
# compaction of the same tuple). ``docs_rel`` is any relation exposing
# (doc_id, text) — the curation oracle feeds its survivor CTE in.
def _minhash_scaffold(docs_rel: str = "documents") -> str:
    return rf""" toks AS (
    SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ts FROM {docs_rel}
), sets AS (
    SELECT doc_id,
           CASE WHEN len(ts) >= 4
                THEN list_distinct(list_transform(range(1, len(ts) - 2), i -> array_to_string(list_slice(ts, i, i + 3), ' ')))
                ELSE list_distinct(ts) END AS ss
    FROM toks
), sh AS MATERIALIZED (
    SELECT doc_id, len(ss) AS n, unnest(ss) AS shingle FROM sets
), hashed AS (
    SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % 2147483647 AS h FROM sh
), perm AS (
    SELECT i,
           CASE WHEN ((2*i+1)*2654435761) % 2147483647 = 0 THEN 1
                ELSE ((2*i+1)*2654435761) % 2147483647 END AS a,
           ((i*40503+12345)*2246822519) % 2147483647 AS b
    FROM (SELECT unnest(generate_series(0, 63)) AS i)
), sig AS MATERIALIZED (
    SELECT doc_id, i, i // 4 AS band, min((a * h + b) % 2147483647) AS m
    FROM hashed CROSS JOIN perm
    GROUP BY doc_id, i
), bandkey AS MATERIALIZED (
    SELECT doc_id, band, string_agg(m::VARCHAR, ',' ORDER BY i) AS bk
    FROM sig GROUP BY doc_id, band
), co AS MATERIALIZED (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared, min(a.n) AS na, min(b.n) AS nb
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)"""


_MINHASH_SCAFFOLD_SQL = "\nWITH RECURSIVE" + _minhash_scaffold()

MINHASH_LSH_SQL = _MINHASH_SCAFFOLD_SQL + r""",
ok_buckets AS (
    SELECT band, bk FROM bandkey GROUP BY band, bk
    HAVING count(DISTINCT doc_id) BETWEEN 2 AND 64
), cand AS (
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
    FROM ok_buckets o
    JOIN bandkey x ON x.band = o.band AND x.bk = o.bk
    JOIN bandkey y ON y.band = o.band AND y.bk = o.bk AND x.doc_id < y.doc_id
)
SELECT c.doc_a, c.doc_b, round(co.shared::DOUBLE / (co.na + co.nb - co.shared), 4) AS jaccard
FROM cand c JOIN co ON c.doc_a = co.doc_a AND c.doc_b = co.doc_b
WHERE co.shared::DOUBLE / (co.na + co.nb - co.shared) >= 0.2
ORDER BY c.doc_a, c.doc_b
"""

DEDUP_SURVIVORS_SQL = _MINHASH_SCAFFOLD_SQL + r""",
ok_buckets AS (
    SELECT band, bk FROM bandkey GROUP BY band, bk
    HAVING count(DISTINCT doc_id) BETWEEN 2 AND 64
), cand AS (
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
    FROM ok_buckets o
    JOIN bandkey x ON x.band = o.band AND x.bk = o.bk
    JOIN bandkey y ON y.band = o.band AND y.bk = o.bk AND x.doc_id < y.doc_id
), pairs AS (
    SELECT c.doc_a, c.doc_b
    FROM cand c JOIN co ON c.doc_a = co.doc_a AND c.doc_b = co.doc_b
    WHERE co.shared::DOUBLE / (co.na + co.nb - co.shared) >= 0.2
), edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM pairs
), reach(node, r) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node
), dropped AS (
    SELECT node AS doc FROM reach GROUP BY node HAVING node <> min(r)
)
SELECT d.source, count(*) AS n_docs,
       sum(CASE WHEN dr.doc IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_kept
FROM documents d LEFT JOIN dropped dr ON d.doc_id = dr.doc
GROUP BY d.source
ORDER BY d.source
"""

DEDUP_INCREMENTAL_SQL = _MINHASH_SCAFFOLD_SQL + r""",
store_bands AS (SELECT doc_id, band, bk FROM bandkey WHERE doc_id % 5 != 0),
new_bands AS (SELECT doc_id, band, bk FROM bandkey WHERE doc_id % 5 = 0),
ok AS (
    SELECT band, bk FROM store_bands GROUP BY band, bk HAVING count(*) <= 256
), cand AS (
    SELECT DISTINCT n.doc_id AS new_id, s.doc_id AS store_id
    FROM new_bands n
    JOIN store_bands s ON n.band = s.band AND n.bk = s.bk
    JOIN ok ON ok.band = s.band AND ok.bk = s.bk
), est AS (
    SELECT c.new_id, c.store_id,
           round(sum(CASE WHEN sn.m = ss.m THEN 1 ELSE 0 END) / 64.0, 4) AS est_jaccard
    FROM cand c
    JOIN sig sn ON sn.doc_id = c.new_id
    JOIN sig ss ON ss.doc_id = c.store_id AND ss.i = sn.i
    GROUP BY c.new_id, c.store_id
)
SELECT new_id, store_id, est_jaccard FROM est
WHERE est_jaccard >= 0.3
ORDER BY new_id, store_id
"""


def dedup_simhash_op(spark: SparkSession, sf: str) -> DataFrame:
    """md5 token-hash mode so the bit votes are reproducible in the
    DuckDB oracle (xxhash64 stays the production default)."""
    return dedup.simhash64(load(spark, "documents", sf), token_hash="md5")


SIMHASH_SQL = r"""
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                              x -> x != '')) AS tok
    FROM documents
), hashed AS (
    SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM toks
), bitvotes AS (
    SELECT doc_id, bits.b,
           sum(CASE WHEN (h >> bits.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
    FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) bits
    GROUP BY doc_id, bits.b
)
SELECT doc_id,
       CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
FROM bitvotes
GROUP BY doc_id
ORDER BY doc_id
"""


def knn_lsh_op(spark: SparkSession, sf: str) -> DataFrame:
    """Sign-LSH-pruned kNN (operators/similarity.py knn_lsh): the
    hyperplanes are seeded PCG64 draws — data-independent — so the
    DuckDB oracle embeds the identical planes as DOUBLE[] literals and
    replays bucket assignment + in-bucket cosine top-10 with explicit
    left-fold list_reduce arithmetic (bit-identical to the Catalyst
    zip_with/aggregate fold in functions/vectors.py). Upgraded from
    rows-only in r8."""
    emb = load(spark, "embeddings", sf)
    qv = emb.filter(F.col("vec_id") == 1).select("embedding").head()[0]
    res = similarity.knn_lsh(emb, [float(x) for x in qv], dim=len(qv), k=10, bits=4)
    return res.select("vec_id", F.round(F.col("score"), 4).alias("score"))


def _fold_dot(a: str, b: str) -> str:
    """DuckDB left-fold Σ a_i·b_i — same add order as vectors.dot."""
    return (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, len({a}) + 1), "
        f"i -> {a}[i] * {b}[i])), (acc, x) -> acc + x)"
    )


def _knn_lsh_sql() -> str:
    """Render the knn_lsh mirror: planes from the same seeded generator
    the Spark operator uses (similarity._hyperplanes, dim=64, bits=4,
    seed=42), embedded as exact-roundtrip double literals."""
    from wc_vector_indexing_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, 4, seed=42)
    lits = [
        "[" + ", ".join(repr(x) for x in plane) + "]::DOUBLE[]"
        for plane in planes
    ]
    bucket_of = lambda v: " + ".join(  # noqa: E731
        f"(CASE WHEN {_fold_dot(v, f'p{b}.p')} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(4)
    )
    planes_ctes = ", ".join(f"p{b}(p) AS (VALUES ({lits[b]}))" for b in range(4))
    sq = lambda a: _fold_dot(a, a)  # noqa: E731
    return f"""
WITH {planes_ctes},
q AS (
    SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 1
), qb AS (
    SELECT {bucket_of('q.qv')} AS bucket FROM q, p0, p1, p2, p3
), e AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), bucketed AS (
    SELECT e.vec_id, e.v, {bucket_of('e.v')} AS bucket
    FROM e, p0, p1, p2, p3
), scored AS (
    SELECT b.vec_id,
           CASE WHEN sqrt({sq('b.v')}) * sqrt({sq('q.qv')}) = 0.0 THEN 0.0
                ELSE {_fold_dot('b.v', 'q.qv')}
                     / (sqrt({sq('b.v')}) * sqrt({sq('q.qv')}))
           END AS score
    FROM bucketed b, q, qb
    WHERE b.bucket = qb.bucket
)
SELECT vec_id, round(score, 4) AS score
FROM scored
ORDER BY score DESC, vec_id ASC
LIMIT 10
"""


def doc_fingerprint_op(spark: SparkSession, sf: str) -> DataFrame:
    """md5 token-hash mode: bit-identical cross-engine, so the rolling
    hash itself is oracle-verified (the xxhash64 default is the fast
    path for production, same recurrence)."""
    return textstats.doc_fingerprint(load(spark, "documents", sf), token_hash="md5")


FINGERPRINT_SQL = r"""
SELECT doc_id,
       sha256(text) AS text_sha,
       list_reduce(
           list_prepend(0::BIGINT,
               list_transform(regexp_split_to_array(lower(trim(text)), '\s+'),
                   t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 2147483648)),
           (acc, x) -> (acc * 1000003 + x) % 2147483648) AS rolling_hash
FROM documents
ORDER BY doc_id
"""


def importance_weights_op(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR data selection (operators/importance.py): hashed-unigram
    likelihood-ratio importance weights with sources src1-src3 as the
    target domain. Two shuffles + one broadcast; the oracle reproduces
    the md5-prefix feature hash bit-for-bit."""
    from wc_vector_indexing_spark.operators.importance import importance_weights

    docs = load(spark, "documents", sf)
    return importance_weights(
        docs, F.col("source").isin("src1", "src2", "src3"), n_buckets=1024
    ).orderBy("doc_id")


IMPORTANCE_SQL = r"""
WITH toks AS (
    SELECT doc_id, source IN ('src1', 'src2', 'src3') AS is_t,
           unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                              x -> x <> '')) AS tok
    FROM documents
), bucketed AS (
    SELECT doc_id, is_t,
           CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 1024 AS bucket
    FROM toks
), stats AS (
    SELECT bucket, count(*) AS c_all, count(*) FILTER (is_t) AS c_t
    FROM bucketed GROUP BY bucket
), tot AS (
    SELECT sum(c_all)::DOUBLE AS t_all, sum(c_t)::DOUBLE AS t_t FROM stats
), scored AS (
    SELECT bucket,
           ln((c_t + 1.0) / (t_t + 1024.0)) - ln((c_all + 1.0) / (t_all + 1024.0)) AS lr
    FROM stats, tot
)
SELECT b.doc_id, count(*) AS n_tokens, round(sum(s.lr), 4) AS log_weight
FROM bucketed b JOIN scored s USING (bucket)
GROUP BY b.doc_id
ORDER BY b.doc_id
"""


def encode_tokens_op(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary encoding (operators/vocab.encode_tokens): top-1000
    vocab with deterministic dense ids, corpus re-encoded against it,
    emitted as exploded (doc_id, pos, token_id) rows for the oracle
    compare. OOV → -1."""
    from wc_vector_indexing_spark.operators.vocab import encode_tokens, vocab_with_ids

    docs = load(spark, "documents", sf)
    vocab = vocab_with_ids(docs, k=1000)
    enc = encode_tokens(docs, vocab)
    return (
        enc.select(
            "doc_id", F.posexplode("token_ids").alias("pos", "token_id")
        ).orderBy("doc_id", "pos")
    )


ENCODE_TOKENS_SQL = r"""
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')) AS token,
           unnest(generate_series(0, len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')) - 1)) AS pos
    FROM documents
), vocab AS (
    SELECT token, row_number() OVER (ORDER BY n DESC, token) - 1 AS token_id
    FROM (SELECT token, count(*) AS n FROM toks GROUP BY token
          ORDER BY n DESC, token LIMIT 1000)
)
SELECT t.doc_id, t.pos, CAST(coalesce(v.token_id, -1) AS INTEGER) AS token_id
FROM toks t LEFT JOIN vocab v USING (token)
ORDER BY t.doc_id, t.pos
"""


def packed_sequences_op(spark: SparkSession, sf: str) -> DataFrame:
    """Packed model-input sequences (operators/packing.pack_encoded over
    vocab.encode_tokens): per (source, bin) doc count, token count and a
    position-weighted checksum of the concatenated id sequence — the
    checksum pins the exact token ORDER cross-engine without emitting
    every token as a row."""
    from wc_vector_indexing_spark.operators.packing import pack_encoded
    from wc_vector_indexing_spark.operators.vocab import encode_tokens, vocab_with_ids

    docs = load(spark, "documents", sf)
    enc = encode_tokens(docs, vocab_with_ids(docs, k=1000))
    packed = pack_encoded(enc, docs, budget=512)
    checksum = F.expr(
        "aggregate(zip_with(seq, sequence(1, size(seq)), (x, i) -> cast(i as bigint) * cast(x as bigint)), 0L, (a, b) -> a + b)"
    )
    return packed.select(
        "source",
        "bin_id",
        "n_docs",
        "bin_tokens",
        checksum.alias("seq_checksum"),
    ).orderBy("source", "bin_id")


PACKED_SEQ_SQL = r"""
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')) AS token,
           unnest(generate_series(0, len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')) - 1)) AS pos
    FROM documents
), vocab AS (
    SELECT token, row_number() OVER (ORDER BY n DESC, token) - 1 AS token_id
    FROM (SELECT token, count(*) AS n FROM toks GROUP BY token
          ORDER BY n DESC, token LIMIT 1000)
), enc AS (
    SELECT t.doc_id, count(*) AS n_tokens,
           list(CAST(coalesce(v.token_id, -1) AS INTEGER) ORDER BY t.pos) AS ids
    FROM toks t LEFT JOIN vocab v USING (token)
    GROUP BY t.doc_id
), src AS (
    SELECT e.doc_id, e.n_tokens, e.ids, d.source
    FROM enc e JOIN documents d USING (doc_id)
), binned AS (
    SELECT *, CAST(floor((sum(n_tokens) OVER w - n_tokens) / 512.0) AS BIGINT) AS bin_id
    FROM src
    WINDOW w AS (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), packed AS (
    SELECT source, bin_id, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
           flatten(list(ids ORDER BY doc_id)) AS seq
    FROM binned GROUP BY source, bin_id
)
SELECT source, bin_id, n_docs, bin_tokens,
       CAST(list_sum(list_transform(seq, (x, i) -> CAST(i AS BIGINT) * CAST(x AS BIGINT))) AS BIGINT) AS seq_checksum
FROM packed
ORDER BY source, bin_id
"""


def training_data_pipeline_op(spark: SparkSession, sf: str) -> DataFrame:
    """THE end-to-end prep composition a training run needs, one lazy
    program: curate (quality → language → exact + near dedup) → DSIR
    importance gate (keep the top 60% most target-like survivors) →
    content-addressed train/val/test split → per-split summary. Every
    stage is an existing operator. md5 minhash mode (r8): the whole
    composition is hash-gated against _training_pipeline_sql — curated
    survivors, DSIR weights, the exact percentile threshold element,
    the content-addressed split, and the summary arithmetic all replay
    in DuckDB (was rows-only)."""
    from wc_vector_indexing_spark.operators.curation import CurationConfig, curate
    from wc_vector_indexing_spark.operators.importance import importance_weights
    from wc_vector_indexing_spark.operators.sampling import hash_split
    from wc_vector_indexing_spark.operators.textstats import token_count

    docs = load(spark, "documents", sf)
    result = curate(
        docs,
        CurationConfig(
            min_quality=0.5, languages=("en",), minhash_token_hash="md5"
        ),
    )
    curated = result.curated
    # two consumers (the percentile scalar and the split summary) —
    # lazy-checkpoint so the explode/aggregate chain runs once, at the
    # threshold action, instead of replaying into the summary
    w = importance_weights(
        curated, F.col("source").isin("src1", "src2", "src3"), n_buckets=1024
    ).localCheckpoint(eager=False)
    thr = w.agg(F.percentile_approx("log_weight", 0.4).alias("t")).head()[0]
    selected = curated.join(
        w.filter(F.col("log_weight") >= thr).select("doc_id"), "doc_id", "left_semi"
    )
    summary = (
        hash_split(selected, "doc_id")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg(token_count(F.col("text"))), 2).alias("avg_tokens"),
        )
        .orderBy("split")
    )
    rows = summary.collect()  # eager: release the curation caches after
    result.unpersist()
    return spark.createDataFrame(rows, "split string, n_docs long, avg_tokens double")


def _training_pipeline_audit(spark: SparkSession, sf: str) -> DataFrame:
    """training_data_pipeline's plan-audit surface: the composition up
    to the split summary, with the DSIR percentile threshold taken at
    a fixed literal (the real op derives it with one bounded scalar
    action; the corpus program's shape is identical either way)."""
    from wc_vector_indexing_spark.operators.curation import (
        CurationConfig,
        curate,
    )
    from wc_vector_indexing_spark.operators.importance import (
        importance_weights,
    )
    from wc_vector_indexing_spark.operators.sampling import hash_split
    from wc_vector_indexing_spark.operators.textstats import token_count

    docs = load(spark, "documents", sf)
    result = curate(docs, CurationConfig(
        min_quality=0.5, languages=("en",), minhash_token_hash="md5"))
    curated = result.curated
    w = importance_weights(
        curated, F.col("source").isin("src1", "src2", "src3"),
        n_buckets=1024)
    selected = curated.join(
        w.filter(F.col("log_weight") >= 0.0).select("doc_id"),
        "doc_id", "left_semi")
    return (
        hash_split(selected, "doc_id")
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"),
             F.round(F.avg(token_count(F.col("text"))), 2)
             .alias("avg_tokens"))
        .orderBy("split"))


def importance_resample_op(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance RESAMPLING (operators/sampling.gumbel_top_k over
    operators/importance weights): Gumbel-max weighted top-200 without
    replacement, content-addressed noise so the draw is reproducible and
    engine-portable. Plan: projection + TakeOrderedAndProject."""
    from wc_vector_indexing_spark.operators.importance import importance_weights
    from wc_vector_indexing_spark.operators.sampling import gumbel_top_k

    docs = load(spark, "documents", sf)
    w = importance_weights(
        docs, F.col("source").isin("src1", "src2", "src3"), n_buckets=1024
    )
    return gumbel_top_k(w, "log_weight", k=200, temperature=1.0).orderBy("doc_id")


IMPORTANCE_RESAMPLE_SQL = r"""
WITH toks AS (
    SELECT doc_id, source IN ('src1', 'src2', 'src3') AS is_t,
           unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                              x -> x <> '')) AS tok
    FROM documents
), bucketed AS (
    SELECT doc_id, is_t,
           CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 1024 AS bucket
    FROM toks
), stats AS (
    SELECT bucket, count(*) AS c_all, count(*) FILTER (is_t) AS c_t
    FROM bucketed GROUP BY bucket
), tot AS (
    SELECT sum(c_all)::DOUBLE AS t_all, sum(c_t)::DOUBLE AS t_t FROM stats
), scored AS (
    SELECT bucket,
           ln((c_t + 1.0) / (t_t + 1024.0)) - ln((c_all + 1.0) / (t_all + 1024.0)) AS lr
    FROM stats, tot
), weights AS (
    SELECT b.doc_id, count(*) AS n_tokens, round(sum(s.lr), 4) AS log_weight
    FROM bucketed b JOIN scored s USING (bucket)
    GROUP BY b.doc_id
), noised AS (
    SELECT doc_id, n_tokens, log_weight,
           round(log_weight / 1.0
                 - ln(-ln((CAST(('0x' || substr(md5(doc_id || ':42'), 1, 15)) AS BIGINT) + 0.5)
                          / 1152921504606846976.0)), 6) AS sample_score
    FROM weights
)
SELECT * FROM (
    SELECT doc_id, n_tokens, log_weight, sample_score
    FROM noised ORDER BY sample_score DESC, doc_id LIMIT 200
) ORDER BY doc_id
"""


def curation_pipeline_op(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end corpus curation (operators/curation.py): quality gate →
    language filter → exact + near dedup, emitting the audit report.
    md5 minhash mode (r8): every stage is SQL-replicable, so the DuckDB
    oracle replays the WHOLE pipeline — quality formula, stopword
    lang-id, exact text dedup, md5-mode minhash signatures + band
    collisions + 256-bucket cap + exact-Jaccard verify, recursive-CTE
    components with keep-min drops, and the disjoint-audit report
    arithmetic — hash-gated end to end (was rows-only)."""
    from wc_vector_indexing_spark.operators.curation import (
        CurationConfig,
        curate,
        curation_report,
    )

    docs = load(spark, "documents", sf)
    result = curate(
        docs,
        CurationConfig(
            min_quality=0.5, languages=("en",), minhash_token_hash="md5"
        ),
    )
    report = curation_report(docs, result.audit)  # eager — safe to release now
    result.unpersist()
    return report


def _curation_pipeline_audit(spark: SparkSession, sf: str) -> DataFrame:
    """curation_pipeline's plan-audit surface: the lazy audit-chain
    aggregate (curation_report itself is a bounded driver collect)."""
    from wc_vector_indexing_spark.operators.curation import (
        CurationConfig,
        curate,
    )

    docs = load(spark, "documents", sf)
    result = curate(docs, CurationConfig(
        min_quality=0.5, languages=("en",), minhash_token_hash="md5"))
    return result.audit.groupBy("reject_reason").agg(
        F.count(F.lit(1)).alias("n"))


def _curation_ctes(rel: str = "documents", mult_col: str | None = None) -> str:
    """Shared CTE chain for the curation/training-pipeline oracles: the
    same stage sequence as operators/curation.curate under the registry
    config — quality + language gates, exact text dedup (keep-min),
    md5-mode minhash near-dup clustering (scaffold CTEs over the
    survivor relation, default 256 bucket cap, threshold 0.5,
    recursive-CTE components) ending at ``near_dropped``; curated
    survivors = s2 − near_dropped. A NULL score (NULL or empty text:
    DuckDB's x / 0 is NULL) is low quality, as in the operator.
    ``mult_col`` (a column of ``rel``) replays the host-prior quality
    re-weight: q = round(round(raw, 4) * mult, 4), the operator's exact
    double-rounding."""
    from wc_vector_indexing_spark.operators.textstats import (
        LANG_MIN_RATIO,
        STOPWORDS,
    )

    def lst(lang: str) -> str:
        return "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"

    def ratio(lang: str) -> str:
        return (
            f"len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), "
            f"x -> list_contains({lst(lang)}, x)))::DOUBLE "
            f"/ len(regexp_split_to_array(lower(trim(text)), '\\s+'))"
        )

    m = LANG_MIN_RATIO
    quality = (
        "round(least(1.0, len(regexp_split_to_array(lower(trim(text)), '\\s+')) / 100.0) * 0.4 "
        "+ (1.0 - length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / length(text)) * 0.3 "
        "+ (1.0 - least(1.0, length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE / length(text) * 5.0)) * 0.3, 4)"
    )
    if mult_col is not None:
        quality = f"round({quality} * {mult_col}, 4)"
    return f"""scored AS (
    SELECT doc_id, text, {quality} AS q,
           {ratio('en')} AS en_r, {ratio('es')} AS es_r,
           {ratio('de')} AS de_r, {ratio('fr')} AS fr_r
    FROM {rel}
), langd AS (
    SELECT doc_id, text, q,
           CASE WHEN en_r >= es_r AND en_r >= de_r AND en_r >= fr_r AND en_r >= {m} THEN 'en'
                WHEN es_r >= de_r AND es_r >= fr_r AND es_r >= {m} THEN 'es'
                WHEN de_r >= fr_r AND de_r >= {m} THEN 'de'
                WHEN fr_r >= {m} THEN 'fr'
                ELSE 'other' END AS predicted_lang
    FROM scored
), low_q AS (SELECT doc_id FROM langd WHERE q < 0.5 OR q IS NULL),
wrong_lang AS (SELECT doc_id FROM langd WHERE q >= 0.5 AND predicted_lang <> 'en'),
s1 AS (SELECT doc_id, text FROM langd WHERE q >= 0.5 AND predicted_lang = 'en'),
exact_dropped AS (
    SELECT doc_id FROM (
        SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS canon FROM s1
    ) WHERE doc_id <> canon
),
s2 AS (
    SELECT s1.doc_id, s1.text FROM s1
    LEFT JOIN exact_dropped e ON s1.doc_id = e.doc_id
    WHERE e.doc_id IS NULL
),
{_minhash_scaffold('s2')},
ok_buckets AS (
    SELECT band, bk FROM bandkey GROUP BY band, bk
    HAVING count(DISTINCT doc_id) BETWEEN 2 AND 256
), cand AS (
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
    FROM ok_buckets o
    JOIN bandkey x ON x.band = o.band AND x.bk = o.bk
    JOIN bandkey y ON y.band = o.band AND y.bk = o.bk AND x.doc_id < y.doc_id
), pairs AS (
    SELECT c.doc_a, c.doc_b
    FROM cand c JOIN co ON c.doc_a = co.doc_a AND c.doc_b = co.doc_b
    WHERE co.shared::DOUBLE / (co.na + co.nb - co.shared) >= 0.5
), edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM pairs
), reach(node, r) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node
), near_dropped AS (
    SELECT node AS doc_id FROM reach GROUP BY node HAVING node <> min(r)
)"""


def _curation_sql() -> str:
    """curation_pipeline's report query: the shared stage CTEs +
    curation_report's disjoint-audit arithmetic (reasons with n>0,
    kept = |docs| − Σ rejected)."""
    return (
        "\nWITH RECURSIVE "
        + _curation_ctes()
        + """, audit AS (
    SELECT 'low_quality' AS reject_reason, count(*) AS n FROM low_q
    UNION ALL SELECT 'wrong_language', count(*) FROM wrong_lang
    UNION ALL SELECT 'exact_duplicate', count(*) FROM exact_dropped
    UNION ALL SELECT 'near_duplicate', count(*) FROM near_dropped
)
SELECT reject_reason, n::BIGINT AS n FROM (
    SELECT reject_reason, n FROM audit WHERE n > 0
    UNION ALL
    SELECT 'kept',
           (SELECT count(*) FROM documents) - (SELECT sum(n) FROM audit)
)
ORDER BY reject_reason
"""
    )


def _training_pipeline_sql() -> str:
    """training_data_pipeline's full-composition oracle: curated
    survivors (shared curation CTEs) → DSIR importance weights
    (IMPORTANCE_SQL shape over the survivors; log_weight rounded to 4
    inside the operator, so the gate compares engine-identical values)
    → the 40th-percentile threshold (Spark percentile_approx with
    n ≪ accuracy returns the exact rank-⌈0.4·n⌉ element) → left-semi
    select → sha256 hash_split → per-split count + avg-token summary."""
    return (
        "\nWITH RECURSIVE "
        + _curation_ctes()
        + r""", curated AS (
    SELECT s2.doc_id, s2.text FROM s2
    LEFT JOIN near_dropped nd ON s2.doc_id = nd.doc_id
    WHERE nd.doc_id IS NULL
), itoks AS (
    SELECT c.doc_id, d.source IN ('src1', 'src2', 'src3') AS is_t,
           unnest(list_filter(regexp_split_to_array(lower(c.text), '[^a-z]+'),
                              x -> x <> '')) AS tok
    FROM curated c JOIN documents d ON c.doc_id = d.doc_id
), ibucketed AS MATERIALIZED (
    SELECT doc_id, is_t,
           CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 1024 AS bucket
    FROM itoks
), istats AS (
    SELECT bucket, count(*) AS c_all, count(*) FILTER (is_t) AS c_t
    FROM ibucketed GROUP BY bucket
), itot AS (
    SELECT sum(c_all)::DOUBLE AS t_all, sum(c_t)::DOUBLE AS t_t FROM istats
), iscored AS (
    SELECT bucket,
           ln((c_t + 1.0) / (t_t + 1024.0)) - ln((c_all + 1.0) / (t_all + 1024.0)) AS lr
    FROM istats, itot
), w AS MATERIALIZED (
    SELECT b.doc_id, round(sum(s.lr), 4) AS log_weight
    FROM ibucketed b JOIN iscored s USING (bucket)
    GROUP BY b.doc_id
), thr AS (
    SELECT log_weight AS t FROM (
        SELECT log_weight, row_number() OVER (ORDER BY log_weight) AS rn,
               count(*) OVER () AS n
        FROM w
    ) WHERE rn = ceil(0.4 * n)::BIGINT
), selected AS (
    SELECT c.doc_id, c.text
    FROM curated c JOIN w ON c.doc_id = w.doc_id, thr
    WHERE w.log_weight >= thr.t
), sp AS (
    SELECT text,
           (('0x' || substr(sha256(doc_id::VARCHAR), 1, 8))::UBIGINT % 10000)::INT AS bucket
    FROM selected
)
SELECT CASE WHEN bucket < 8000 THEN 'train'
            WHEN bucket < 9000 THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       round(avg(len(regexp_split_to_array(lower(trim(text)), '\s+'))), 2) AS avg_tokens
FROM sp
GROUP BY 1
ORDER BY split
"""
    )


def c4_line_filter_op(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style line cleaning (operators/heuristics.py): per-doc line
    survival stats. Pure higher-order-function codegen, zero shuffle."""
    from wc_vector_indexing_spark.operators.heuristics import c4_line_clean

    docs = load(spark, "documents", sf)
    return (
        c4_line_clean(docs)
        .select(
            "doc_id",
            "n_lines",
            "n_kept",
            F.length("clean_text").alias("clean_len"),
            "c4_keep",
        )
        .orderBy("doc_id")
    )


C4_SQL = r"""
WITH l AS (
    SELECT doc_id, string_split(text, chr(10)) AS lines FROM documents
), k AS (
    SELECT doc_id, len(lines) AS n_lines,
           list_filter(lines, ln ->
               regexp_matches(ln, '[.!?"]\s*$')
               AND len(list_filter(regexp_split_to_array(trim(ln), '\s+'),
                                   w -> w != '')) >= 5
               AND NOT (contains(lower(ln), 'javascript')
                        OR contains(lower(ln), 'cookie')
                        OR contains(lower(ln), 'privacy policy')
                        OR contains(lower(ln), '{'))
           ) AS kept
    FROM l
)
SELECT doc_id, n_lines, len(kept) AS n_kept,
       COALESCE(length(array_to_string(kept, chr(10))), 0) AS clean_len,
       len(kept) >= 1 AS c4_keep
FROM k ORDER BY doc_id
"""


def gopher_quality_op(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher document-rule signals + conjunctive pass flag
    (operators/heuristics.py). Zero-shuffle codegen map pass."""
    from wc_vector_indexing_spark.operators.heuristics import gopher_rules

    docs = load(spark, "documents", sf)
    return gopher_rules(docs).orderBy("doc_id")


GOPHER_SQL = r"""
WITH w AS (
    SELECT doc_id, text,
           list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                       x -> x != '') AS words,
           string_split(text, chr(10)) AS lines
    FROM documents
), s AS (
    SELECT doc_id,
        len(words) AS n_words,
        round(COALESCE(list_sum(list_transform(words, x -> length(x))), 0)::DOUBLE
              / greatest(len(words), 1), 4) AS mean_word_len,
        round(((len(string_split(text, '#')) - 1)
               + (len(string_split(text, '...')) - 1))::DOUBLE
              / greatest(len(words), 1), 4) AS symbol_ratio,
        round(len(list_filter(lines, ln -> regexp_matches(trim(ln), '^[-*•]')))::DOUBLE
              / greatest(len(lines), 1), 4) AS bullet_ratio,
        round(len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE
              / greatest(len(words), 1), 4) AS alpha_ratio
    FROM w
)
SELECT *,
       (n_words BETWEEN 50 AND 100000
        AND mean_word_len BETWEEN 3.0 AND 10.0
        AND symbol_ratio <= 0.1
        AND bullet_ratio <= 0.9
        AND alpha_ratio >= 0.8) AS gopher_pass
FROM s ORDER BY doc_id
"""


def stratified_sample_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Content-addressed per-source downsampling
    (operators/sampling.py stratified_hash_sample): kept counts per
    source under uneven fractions. The kept set is a pure function of
    (doc_id, salt) — reproducible across engines, zero-shuffle filter."""
    from wc_vector_indexing_spark.operators.sampling import stratified_hash_sample

    docs = load(spark, "documents", sf)
    fractions = {"src0": 0.8, "src1": 0.5, "src2": 0.25, "src3": 0.1}
    kept = stratified_hash_sample(
        docs, "source", fractions, salt="strat", default_fraction=0.05
    )
    return kept.groupBy("source").agg(F.count("*").alias("n_kept")).orderBy("source")


STRATIFIED_SQL = """
WITH b AS (
    SELECT source,
           (('0x' || substr(sha256('strat' || doc_id::VARCHAR), 1, 8))::UBIGINT
            % 10000)::INT AS bucket
    FROM documents
), t AS (
    SELECT source, bucket,
           CASE source WHEN 'src0' THEN 8000 WHEN 'src1' THEN 5000
                       WHEN 'src2' THEN 2500 WHEN 'src3' THEN 1000
                       ELSE 500 END AS thr
    FROM b
)
SELECT source, count(*) AS n_kept FROM t WHERE bucket < thr
GROUP BY source ORDER BY source
"""


def dedup_survivors_op(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end near-dup dedup as ONE operator: minhash+LSH pairs →
    connected components → keep-min survivors, reported per source.
    md5 token-hash mode: the DuckDB oracle replays the whole chain —
    exact signatures/band collisions (minhash scaffold SQL), the
    recursive-CTE components, keep-min drop set, per-source counts —
    so this entry is hash-gated end to end (r7 verdict task; was
    rows-only)."""
    docs = load(spark, "documents", sf)
    drop = dedup.minhash_near_dup_drops(
        docs, threshold=0.2, max_bucket=64, token_hash="md5"
    )
    kept = docs.join(drop, "doc_id", "left_anti")
    return (
        docs.groupBy("source")
        .agg(F.count("*").alias("n_docs"))
        .join(
            kept.groupBy("source").agg(F.count("*").alias("n_kept")),
            "source",
            "left",
        )
        .select(
            "source",
            "n_docs",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
        .orderBy("source")
    )


def sketch_profile_op(spark: SparkSession, sf: str) -> DataFrame:
    """The 100 TB profiling swap-ins ACTUALLY exercised (data_profile's
    docstring promises them): HLL++ ``approx_count_distinct`` replaces
    exact distinct and ``percentile_approx`` (bounded-memory quantile
    sketch) replaces exact percentiles — both are single-pass,
    mergeable, fixed-size aggregation states, so the plan is identical
    at any scale. Rows-only: sketch estimates are engine-specific by
    design; accuracy bounds vs exact are pinned in test_profile_sketch."""
    docs = load(spark, "documents", sf)
    ln = F.length("text")
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.approx_count_distinct(F.md5("text")).alias("approx_distinct_texts"),
            F.percentile_approx(ln, [0.5, 0.9], 1000).alias("len_p50_p90"),
        )
        .select(
            "source",
            "n_docs",
            "approx_distinct_texts",
            F.element_at("len_p50_p90", 1).alias("len_p50"),
            F.element_at("len_p50_p90", 2).alias("len_p90"),
        )
        .orderBy("source")
    )


def bpe_merges_op(spark: SparkSession, sf: str) -> DataFrame:
    """BPE tokenizer training (operators/bpe.py): ONE distributed word
    count, then the driver-local Sennrich merge loop over the bounded
    word-frequency table — the split production trainers use. Rows-only
    (iterative merge loop is not SQL-expressible); the merge sequence is
    golden-tested in test_bpe.py."""
    from wc_vector_indexing_spark.operators.bpe import train_or_load_bpe

    docs = load(spark, "documents", sf)
    merges = train_or_load_bpe(docs, _bpe_artifact_path(sf), num_merges=40, min_pair_count=2)
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "merge_rank int, left string, right string",
    )


def multimodal_features_op(spark: SparkSession, sf: str) -> DataFrame:
    """Real-decode multimodal round trip: documents are rendered into
    actual netpbm (P5) image bytes / PCM WAV audio bytes, decoded back by
    ``StdlibCodec`` through the Arrow-batched ``extract_features`` plan,
    and the recovered features aggregated per kind. Rows-only (binary
    rendering + numpy decode are not SQL-expressible); the decoders
    themselves are golden-tested in test_multimodal.py."""
    from wc_vector_indexing_spark.operators import multimodal as mm

    docs = load(spark, "documents", sf).select("doc_id", "text").limit(256)

    def render(batches):
        import io
        import wave

        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                data = (text or "").encode("utf-8", "ignore")[:64]
                data = data + b"\x00" * (64 - len(data))
                if doc_id % 2 == 0:
                    content = b"P5 8 8 255\n" + data
                    out.append((int(doc_id), "image", "image/x-portable-graymap",
                                content, {"width": 8, "height": 8, "duration_ms": None,
                                          "sample_rate": None, "n_frames": None}))
                else:
                    buf = io.BytesIO()
                    with wave.open(buf, "wb") as wf:
                        wf.setnchannels(1)
                        wf.setsampwidth(2)
                        wf.setframerate(8000)
                        samples = (np.frombuffer(data, dtype=np.uint8).astype(np.int16) - 128) * 256
                        wf.writeframes(samples.astype("<i2").tobytes())
                    out.append((int(doc_id), "audio", "audio/wav", buf.getvalue(),
                                {"width": None, "height": None, "duration_ms": 8,
                                 "sample_rate": 8000, "n_frames": None}))
            yield pd.DataFrame(
                out, columns=["media_id", "kind", "mime", "content", "meta"]
            )

    media = docs.mapInPandas(render, schema=mm.MEDIA_SCHEMA)
    feats = mm.extract_features(media, dim=16, codec=mm.StdlibCodec())
    return (
        feats.select(
            "media_id", "kind",
            F.element_at("features", 1).alias("f0"),
            F.sqrt(F.aggregate("features", F.lit(0.0), lambda a, x: a + x * x)).alias("norm"),
        )
        .groupBy("kind")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("f0"), 6).alias("avg_f0"),
            F.round(F.avg("norm"), 6).alias("avg_norm"),
        )
        .orderBy("kind")
    )


def _bpe_artifact_path(sf: str) -> str:
    """Merge-list cache keyed by (dataset dir, params) — same amortized
    one-time-build contract as the IVF quantizer below."""
    import hashlib
    import os
    import tempfile

    key = hashlib.sha256(
        f"{os.path.realpath(sf)}|merges=40|minpair=2".encode()
    ).hexdigest()[:16]
    return os.path.join(tempfile.gettempdir(), f"wcvi_bpe_{key}.json")


def _ivf_artifact_path(sf: str) -> str:
    """Quantizer cache keyed by (dataset dir, nlist, seed): static test
    data, so a persisted quantizer is valid across processes/bench runs."""
    import hashlib
    import os
    import tempfile

    key = hashlib.sha256(f"{os.path.realpath(sf)}|nlist=8|seed=42".encode()).hexdigest()[:16]
    return os.path.join(tempfile.gettempdir(), f"wcvi_ivf_{key}.json")


def _ivf_table_path(sf: str) -> str:
    """The materialized IVF index: embeddings + list_id, PARTITIONED BY
    list_id — probes become partition pruning (test_layout.py proves the
    PartitionFilters)."""
    import hashlib
    import os
    import tempfile

    key = hashlib.sha256(f"{os.path.realpath(sf)}|nlist=8|seed=42".encode()).hexdigest()[:16]
    return os.path.join(tempfile.gettempdir(), f"wcvi_ivftab_{key}")


def _pq_artifact_path(sf: str) -> str:
    import hashlib
    import os
    import tempfile

    key = hashlib.sha256(f"{os.path.realpath(sf)}|m=16|ksub=128|seed=42".encode()).hexdigest()[:16]
    return os.path.join(tempfile.gettempdir(), f"wcvi_pq_{key}.json")


def _ivfpq_table_path(sf: str) -> str:
    """The composed ANN layout: embeddings + list_id + pq_code,
    partitioned by list_id — probes prune partitions AND rank on the
    16-byte codes without touching the fp32 column."""
    import hashlib
    import os
    import tempfile

    key = hashlib.sha256(f"{os.path.realpath(sf)}|ivfpq|v1".encode()).hexdigest()[:16]
    return os.path.join(tempfile.gettempdir(), f"wcvi_ivfpqtab_{key}")


def warm_build_artifacts(spark: SparkSession, sf: str) -> None:
    """Pre-train the build-time artifacts (IVF coarse quantizer, PQ
    codebooks) so a query benchmark measures the search path — index
    builds are amortized one-time jobs at scale, not per-query costs."""
    import os

    from wc_vector_indexing_spark.operators.ivf import IVFIndex
    from wc_vector_indexing_spark.operators.pq import PQCodebook

    emb = load(spark, "embeddings", sf)
    ivf = IVFIndex.train_or_load(emb, _ivf_artifact_path(sf), nlist=8)
    table = _ivf_table_path(sf)
    if not os.path.isdir(table):
        ivf.assign(emb).write.partitionBy("list_id").parquet(table)
    book = PQCodebook.train_or_load(emb, _pq_artifact_path(sf), m=16, ksub=128)
    ivfpq = _ivfpq_table_path(sf)
    if not os.path.isdir(ivfpq):
        book.encode(ivf.assign(emb)).write.partitionBy("list_id").parquet(ivfpq)

    from wc_vector_indexing_spark.operators.bpe import train_or_load_bpe

    train_or_load_bpe(load(spark, "documents", sf), _bpe_artifact_path(sf),
                      num_merges=40, min_pair_count=2)

    from wc_vector_indexing_spark.operators.incremental_dedup import SignatureStore

    store = SignatureStore(spark, _sigstore_path(sf))
    if not os.path.isdir(os.path.join(store.root, "signatures")):
        store.append(load(spark, "documents", sf).filter(F.col("doc_id") % 5 != 0))


def ivf_search_op(spark: SparkSession, sf: str) -> DataFrame:
    """IVF coarse-quantizer ANN search path: probe half the lists of the
    MATERIALIZED index (list_id-partitioned parquet, a build-time
    artifact like the quantizer) for the top-10 — the nprobe filter is
    partition pruning, so a search reads only the probed lists' files.
    Falls back to query-time assignment when the artifact is absent."""
    import os

    from wc_vector_indexing_spark.operators.ivf import IVFIndex

    emb = load(spark, "embeddings", sf)
    ivf = IVFIndex.train_or_load(emb, _ivf_artifact_path(sf), nlist=8)
    table = _ivf_table_path(sf)
    indexed = spark.read.parquet(table) if os.path.isdir(table) else ivf.assign(emb)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 1).head().embedding]
    res = ivf.search(indexed, qv, k=10, nprobe=4)
    return res.select("vec_id", F.round(F.col("score"), 4).alias("score"))


def ivf_drift_report_op(spark: SparkSession, sf: str) -> DataFrame:
    """Index-staleness monitor (operators/ivf.quantizer_drift): per-list
    share/distortion of a 'new data' batch (upper half of vec_ids)
    against build-time baseline stats under the persisted quantizer —
    the retrain-or-not signal for an incrementally-grown vector index.
    Artifact-backed → rows-only; the planted-drift behavior is pinned
    by tests/test_relational_ivf.py."""
    from wc_vector_indexing_spark.operators.ivf import (
        IVFIndex,
        list_stats,
        quantizer_drift,
    )

    emb = load(spark, "embeddings", sf)
    ivf = IVFIndex.train_or_load(emb, _ivf_artifact_path(sf), nlist=8)
    half = emb.agg(F.expr("percentile(vec_id, 0.5)")).head()[0]
    baseline = list_stats(emb.filter(F.col("vec_id") <= half), ivf)
    batch = emb.filter(F.col("vec_id") > half)
    return quantizer_drift(batch, ivf, baseline)


def ivf_recall_curve_op(spark: SparkSession, sf: str) -> DataFrame:
    """The IVF recall/efficiency frontier — recall@10 vs the exact scan
    for nprobe ∈ {1, 2, 4, 8} over 10 query vectors, using the same
    persisted quantizer + list_id-partitioned index as the search path.
    nprobe=8 probes every list (nlist=8) so its row pins recall 1.0; the
    curve below it is the knob a deployment actually tunes (fraction of
    index files read vs recall). Rows-only: iterative per-query probing
    isn't SQL-expressible; the companion `matryoshka_recall` covers the
    oracle-checked eval shape."""
    import os

    from wc_vector_indexing_spark.operators.ivf import IVFIndex
    from wc_vector_indexing_spark.operators.ivf import search_batch as ivf_search_batch
    from wc_vector_indexing_spark.operators.similarity import knn_similarity_join

    emb = load(spark, "embeddings", sf)
    ivf = IVFIndex.train_or_load(emb, _ivf_artifact_path(sf), nlist=8)
    table = _ivf_table_path(sf)
    indexed = spark.read.parquet(table) if os.path.isdir(table) else ivf.assign(emb)
    queries = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.filter(F.col("vec_id") < 10).collect()
    ]
    qdf = emb.filter(F.col("vec_id") < 10)
    # the exact-truth job and the four nprobe sweeps are INDEPENDENT
    # actions over tiny frames — run them on threads so the scheduler
    # overlaps them (guide-standard back-fill; each job's result is
    # deterministic, so concurrency cannot change the curve)
    from wc_vector_indexing_spark.functions.threads import run_concurrently

    def probe(nprobe: int):
        return lambda: ivf_search_batch(ivf, indexed, queries, k=10, nprobe=nprobe).collect()

    nprobes = (1, 2, 4, 8)
    exact, *probed = run_concurrently(
        spark, lambda: knn_similarity_join(qdf, emb, k=10).collect(), *map(probe, nprobes)
    )
    truth: dict[int, set] = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    rows = []
    for nprobe, result in zip(nprobes, probed):
        got: dict[int, set] = {}
        for r in result:
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        hit = sum(len(truth[q] & got.get(q, set())) for q in truth)
        rows.append((nprobe, len(queries), round(hit / (10.0 * len(queries)), 4)))
    return spark.createDataFrame(rows, "nprobe int, n_queries int, mean_recall double")


def _sigstore_path(sf: str) -> str:
    import hashlib
    import os
    import tempfile

    # |md5 suffix: the r8 oracle-mode store is a different hash family
    # than the r7 crc32 store — never reuse a stale /tmp artifact
    key = hashlib.sha256(
        f"{os.path.realpath(sf)}|nh=64|b=16|k=4|md5".encode()
    ).hexdigest()[:16]
    return os.path.join(tempfile.gettempdir(), f"wcvi_sigstore_{key}")


def dedup_incremental_op(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental batch-vs-corpus near-dup match
    (operators/incremental_dedup.py): the corpus signature store is a
    build-time artifact (docs with doc_id % 5 != 0); the query computes
    signatures for the remaining 20% "daily batch" ONLY and joins band
    buckets against the store. md5 token-hash mode (persisted in the
    store's _meta.json): the DuckDB oracle recomputes both sides'
    signatures, the band join, the store-side bucket cap, and the
    signature-agreement estimate — hash-gated (r7 verdict task; was
    rows-only). Estimate quality vs exact Jaccard stays pinned by
    tests/test_incremental_dedup.py."""
    import os

    from wc_vector_indexing_spark.operators.bpe import train_or_load_bpe

    train_or_load_bpe(load(spark, "documents", sf), _bpe_artifact_path(sf),
                      num_merges=40, min_pair_count=2)

    from wc_vector_indexing_spark.operators.incremental_dedup import SignatureStore

    docs = load(spark, "documents", sf)
    store = SignatureStore(spark, _sigstore_path(sf), token_hash="md5")
    if not os.path.isdir(os.path.join(store.root, "signatures")):
        store.append(docs.filter(F.col("doc_id") % 5 != 0))
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    return store.match_new(batch, threshold=0.3).orderBy("new_id", "store_id")


def pq_search_op(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantized ADC search (operators/pq.py): load (or
    train-once, persist) the codebooks, encode to 16-byte codes, rank by
    asymmetric distance — the compressed-search path that makes a 100 TB
    embedding corpus scannable (16x smaller column, no fp32 reads at
    query time). Approximate by construction → rows-only; ranking
    quality pinned by tests/test_pq.py against the exact scan."""
    from wc_vector_indexing_spark.operators.pq import PQCodebook

    emb = load(spark, "embeddings", sf)
    book = PQCodebook.train_or_load(emb, _pq_artifact_path(sf), m=16, ksub=128)
    enc = book.encode(emb)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 1).head().embedding]
    return book.search(enc, qv, k=10)


def sq8_search_op(spark: SparkSession, sf: str) -> DataFrame:
    """SQ8 scalar-quantized search (operators/pq.SQ8Codebook): exact
    one-pass min/max fit (train-once, persisted), 1-byte/dim codes
    (4x), query = constant + one uint8 gemv per batch — fp32 never
    read. The high-recall rung of the quantization ladder (SQ8 4x ≻
    PQ 16x ≻ IVF-PQ pruned). Approximate → rows-only; ≥0.9 recall@10
    pinned by tests/test_pq.py."""
    from wc_vector_indexing_spark.operators.pq import SQ8Codebook

    import hashlib
    import os as _os
    import tempfile

    emb = load(spark, "embeddings", sf)
    key = hashlib.sha256(f"{_os.path.realpath(sf)}|sq8".encode()).hexdigest()[:16]
    path = _os.path.join(tempfile.gettempdir(), f"wcvi_sq8_{key}.json")
    book = SQ8Codebook.train_or_load(emb, path)
    enc = book.encode(emb)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 1).head().embedding]
    return book.search(enc, qv, k=10)


def ivfpq_search_op(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-PQ composed search (operators/pq.ivf_pq_search): partition-
    pruned probes + ADC over 16-byte codes — per query, bytes touched ≈
    (nprobe/nlist) x corpus x code bytes. Approximate → rows-only;
    recall floor pinned by tests/test_pq.py."""
    import os

    from wc_vector_indexing_spark.operators.ivf import IVFIndex
    from wc_vector_indexing_spark.operators.pq import PQCodebook, ivf_pq_search

    emb = load(spark, "embeddings", sf)
    ivf = IVFIndex.train_or_load(emb, _ivf_artifact_path(sf), nlist=8)
    book = PQCodebook.train_or_load(emb, _pq_artifact_path(sf), m=16, ksub=128)
    table = _ivfpq_table_path(sf)
    indexed = (
        spark.read.parquet(table)
        if os.path.isdir(table)
        else book.encode(ivf.assign(emb))
    )
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 1).head().embedding]
    return ivf_pq_search(indexed, ivf, book, qv, k=10, nprobe=4)


def rollup_timeseries(spark: SparkSession, sf: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup (continuous-aggregate
    pattern): hourly buckets aggregate the raw events ONCE; the daily
    tier re-aggregates the hourly tier — at 100 TB the coarse tiers are
    materialized incrementally from the fine tier, never from raw.
    Output: both tiers, tagged by resolution."""
    ev = load(spark, "events", sf)
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket_ts"), "event_type"
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    daily = hourly.groupBy(
        F.date_trunc("day", F.col("bucket_ts")).alias("bucket_ts"), "event_type"
    ).agg(F.sum("n").alias("n"), F.round(F.sum("sum_value"), 2).alias("sum_value"))
    return (
        hourly.withColumn("resolution", F.lit("hour"))
        .unionByName(daily.withColumn("resolution", F.lit("day")))
        .select("resolution", "bucket_ts", "event_type", "n", "sum_value")
        .orderBy("resolution", "bucket_ts", "event_type")
    )


ROLLUP_TS_SQL = """
WITH hourly AS (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket_ts, event_type,
         count(*) AS n, round(sum(value), 2) AS sum_value
  FROM events GROUP BY 1, 2
),
daily AS (
  SELECT CAST(date_trunc('day', bucket_ts) AS TIMESTAMP) AS bucket_ts, event_type,
         CAST(sum(n) AS BIGINT) AS n, round(sum(sum_value), 2) AS sum_value
  FROM hourly GROUP BY 1, 2
)
SELECT 'hour' AS resolution, bucket_ts, event_type, n, sum_value FROM hourly
UNION ALL
SELECT 'day' AS resolution, bucket_ts, event_type, n, sum_value FROM daily
ORDER BY resolution, bucket_ts, event_type
"""


def data_profile(spark: SparkSession, sf: str) -> DataFrame:
    """One-pass per-column profile of the documents corpus
    (operators/profile.py; exact cardinality so the oracle matches —
    the 100 TB default is the HLL++ sketch path)."""
    from wc_vector_indexing_spark.operators.profile import profile_table

    return profile_table(load(spark, "documents", sf), exact=True).orderBy("col_name")


def _profile_sql() -> str:
    numeric = {"doc_id", "n_chars"}
    selects = []
    for c in ("doc_id", "text", "lang", "source", "n_chars"):
        mean = f"round(avg({c}), 4)" if c in numeric else "CAST(NULL AS DOUBLE)"
        p50 = f"round(quantile_cont({c}, 0.5), 4)" if c in numeric else "CAST(NULL AS DOUBLE)"
        selects.append(
            f"SELECT '{c}' AS col_name, count(*) AS n_rows,\n"
            f"  count(*) FILTER ({c} IS NULL) AS n_null,\n"
            f"  count(DISTINCT {c}) AS n_distinct,\n"
            f"  CAST(min({c}) AS VARCHAR) AS min_str,\n"
            f"  CAST(max({c}) AS VARCHAR) AS max_str,\n"
            f"  {mean} AS mean_val, {p50} AS p50\n"
            f"FROM documents"
        )
    return "\nUNION ALL\n".join(selects) + "\nORDER BY col_name"


PROFILE_SQL = _profile_sql()


# --------------------------------------------------------------------------

def pii_scrub_op(spark: SparkSession, sf: str) -> DataFrame:
    """PII detect + redact (operators/pii.py). The synthetic corpus has
    no natural PII, so the query deterministically enriches each doc
    from its id (emails on ids ≡0 mod 3, IPs mod 5, cards mod 7, SSNs
    mod 11, phones mod 13) — the identical enrichment runs in the
    oracle, so detection counts and the scrubbed text (sha-pinned) are
    verified end-to-end. Zero-shuffle map-only pass."""
    from wc_vector_indexing_spark.operators import pii

    d = load(spark, "documents", sf)
    did = F.col("doc_id")
    tag = lambda m, parts: F.when(did % m == 0, F.concat(*parts)).otherwise(F.lit(""))  # noqa: E731
    rich = F.concat(
        F.col("text"),
        tag(3, [F.lit(" contact user"), did.cast("string"), F.lit("@example.com")]),
        tag(5, [F.lit(" from 10."), (did % 200).cast("string"), F.lit(".0."), (did % 250).cast("string")]),
        tag(7, [F.lit(" card 4111-1111-1111-"), F.lpad((did % 10000).cast("string"), 4, "0")]),
        tag(11, [F.lit(" ssn 123-45-"), F.lpad((did % 10000).cast("string"), 4, "0")]),
        tag(13, [F.lit(" call +1 555 "), F.lpad((did % 10000).cast("string"), 4, "0")]),
    )
    out = pii.pii_scrub(d.select("doc_id", rich.alias("text")))
    return out.select(
        "doc_id", "n_email", "n_ipv4", "n_cc16", "n_ssn", "n_phone", "n_pii",
        F.sha2(F.col("scrubbed"), 256).alias("scrubbed_sha"),
    )


def _pii_sql() -> str:
    from wc_vector_indexing_spark.operators.pii import PII_PATTERNS

    enrich = """
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id::VARCHAR || '@example.com' ELSE '' END
           || CASE WHEN doc_id % 5 = 0 THEN ' from 10.' || (doc_id % 200)::VARCHAR || '.0.' || (doc_id % 250)::VARCHAR ELSE '' END
           || CASE WHEN doc_id % 7 = 0 THEN ' card 4111-1111-1111-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END
           || CASE WHEN doc_id % 11 = 0 THEN ' ssn 123-45-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END
           || CASE WHEN doc_id % 13 = 0 THEN ' call +1 555 ' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END
           AS t0
    FROM documents"""
    # chain the per-family count+scrub stages exactly as pii_count_cols does
    stages = [f"s0 AS ({enrich})"]
    for i, (name, pat) in enumerate(PII_PATTERNS):
        prev, cur = f"t{i}", f"t{i + 1}"
        carried = ", ".join(f"n_{n}" for n, _ in PII_PATTERNS[:i])
        carried = carried + ", " if carried else ""
        stages.append(
            f"s{i + 1} AS (SELECT doc_id, {carried}"
            f"len(regexp_extract_all({prev}, '{pat}')) AS n_{name}, "
            f"regexp_replace({prev}, '{pat}', '[{name.upper()}]', 'g') AS {cur} "
            f"FROM s{i})"
        )
    counts = ", ".join(f"n_{n}" for n, _ in PII_PATTERNS)
    total = " + ".join(f"n_{n}" for n, _ in PII_PATTERNS)
    last = f"t{len(PII_PATTERNS)}"
    return (
        "WITH " + ",\n".join(stages)
        + f"\nSELECT doc_id, {counts}, {total} AS n_pii, sha256({last}) AS scrubbed_sha"
        + f"\nFROM s{len(PII_PATTERNS)}"
    )


def unigram_logprob_op(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style perplexity quality filter in unigram form
    (operators/lm_score.py): train ln(count/N) over the corpus, score
    each doc by mean negative log-prob via a broadcast model join."""
    from wc_vector_indexing_spark.operators import lm_score

    return lm_score.unigram_score(load(spark, "documents", sf))


UNIGRAM_SQL = """
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')) AS tok
    FROM documents
),
model AS (
    SELECT tok, ln(count(*) / (SELECT count(*)::DOUBLE FROM toks)) AS logp
    FROM toks GROUP BY tok
)
SELECT t.doc_id, count(*) AS n_scored, round(avg(-m.logp), 4) AS avg_neg_logp
FROM toks t JOIN model m USING (tok)
GROUP BY t.doc_id
"""


def events_json_op(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured extraction: pull a typed field out of the JSON
    ``props`` column (get_json_object → JVM Jackson path, no UDF),
    filter on it, aggregate by event_type. The JSON parse happens
    after pushdown-able column pruning — the scan reads only
    (event_type, props, value)."""
    ev = load(spark, "events", sf)
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"), "value")
        .filter(F.col("k") >= 50)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


EVENTS_JSON_SQL = """
SELECT event_type, count(*) AS n_events, round(avg(k), 4) AS avg_k,
       round(sum(value), 2) AS sum_value
FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k, value
      FROM events)
WHERE k >= 50
GROUP BY event_type
"""


def quantiles_by_type(spark: SparkSession, sf: str) -> DataFrame:
    """Exact interpolated quantiles of event value per type — the
    profiling companion to data_profile. Exact ``percentile`` here so
    the oracle (quantile_cont) matches bit-for-bit after rounding; the
    100 TB path swaps in approx_percentile (t-digest, mergeable,
    map-side partial) — same plan shape, no sort."""
    ev = load(spark, "events", sf)
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.percentile("value", 0.25), 4).alias("p25"),
            F.round(F.percentile("value", 0.5), 4).alias("p50"),
            F.round(F.percentile("value", 0.75), 4).alias("p75"),
            F.round(F.percentile("value", 0.95), 4).alias("p95"),
        )
    )


QUANTILES_SQL = """
SELECT event_type, count(*) AS n,
       round(quantile_cont(value, 0.25), 4) AS p25,
       round(quantile_cont(value, 0.50), 4) AS p50,
       round(quantile_cont(value, 0.75), 4) AS p75,
       round(quantile_cont(value, 0.95), 4) AS p95
FROM events
GROUP BY event_type
"""


def tfidf_keywords_op(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc top-5 TF-IDF keywords (operators/keywords.py). The
    (rounded tfidf desc, tok asc) ordering is total, so the selected
    top-K set is engine-exact."""
    from wc_vector_indexing_spark.operators.keywords import top_keywords

    return top_keywords(load(spark, "documents", sf), k=5)


TFIDF_SQL = """
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')) AS tok
    FROM documents
),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
df AS (SELECT tok, count(*) AS df FROM (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY tok),
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.tok, tf.tf, df.df,
           round(tf.tf * ln(n.n_docs / df.df), 4) AS tfidf
    FROM tf JOIN df USING (tok) CROSS JOIN n
)
SELECT doc_id, rank, tok, tf, df, tfidf FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC) AS rank
    FROM scored
) WHERE rank <= 5
"""


def winnow_fingerprint_op(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing (MOSS) fingerprints, md5 token-hash mode so the DuckDB
    oracle reproduces the selected-hash set bit-for-bit (xxhash64 stays
    the production default)."""
    return textstats.winnow_fingerprint(
        load(spark, "documents", sf), k=3, w=4, token_hash="md5"
    )


WINNOW_SQL = r"""
WITH t AS (
    SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ts FROM documents
),
g AS (
    SELECT doc_id, len(ts) - 2 AS n_grams,
           unnest(list_transform(range(1, len(ts) - 1),
               i -> struct_pack(pos := i - 1,
                   h := CAST(('0x' || substr(md5(array_to_string(list_slice(ts, i, i + 2), ' ')), 1, 15)) AS BIGINT)))) AS s
    FROM t WHERE len(ts) >= 3
),
flat AS (SELECT doc_id, n_grams, s.pos AS pos, s.h AS h FROM g),
sel AS (
    SELECT doc_id, pos, n_grams,
           min(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh
    FROM flat
)
SELECT DISTINCT doc_id, mh AS fp
FROM sel WHERE pos <= greatest(n_grams - 4, 0)
"""


def range_join_clicks(spark: SparkSession, sf: str) -> DataFrame:
    """Bin-bucketed time-range join (operators/relational.py
    range_join_count): per purchase event, clicks by the same user in
    the preceding 10 minutes. The oracle runs the naive inequality join;
    the Spark plan is the 2-bin equi-join that survives hot keys at
    100 TB."""
    from wc_vector_indexing_spark.operators.relational import range_join_count

    ev = load(spark, "events", sf)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    out = range_join_count(
        purchases, clicks, on="user_id", lookback_seconds=600,
        count_alias="n_prior_clicks",
    )
    return out.select("event_id", "user_id", "n_prior_clicks")


RANGE_JOIN_SQL = """
SELECT p.event_id, p.user_id, count(c.ts) AS n_prior_clicks
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND epoch_us(c.ts) > epoch_us(p.ts) - 600 * 1000000
 AND epoch_us(c.ts) <= epoch_us(p.ts)
GROUP BY p.event_id, p.user_id
"""


def moving_average_events(spark: SparkSession, sf: str) -> DataFrame:
    """Time-RANGE window frame: per event, the mean value of same-type
    events in the trailing 1 hour (rangeBetween on epoch-µs, NOT a row
    frame — irregular event spacing makes row frames wrong). One
    shuffle keyed by event_type; skew bounded by type cardinality, the
    same envelope as sessionize.

    Rounded to 6dp, not the catalog's usual 4: values are exact 2dp, so
    trailing averages over small windows land EXACTLY on 4dp half-way
    points (sum/8 has 5 decimals) where cross-engine summation-order
    noise flips the rounded digit; at 6dp the round is an identity on
    the exact value and noise (~1e-10) cannot reach it."""
    ev = load(spark, "events", sf)
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("event_type")
        .orderBy(us)
        .rangeBetween(-3600 * 1_000_000, 0)
    )
    return ev.select(
        "event_id",
        "event_type",
        F.round(F.avg("value").over(w), 6).alias("trailing_avg"),
        F.count("*").over(w).alias("n_trailing"),
    )


MOVING_AVG_SQL = """
SELECT event_id, event_type,
       round(avg(value) OVER w, 6) AS trailing_avg,
       count(*) OVER w AS n_trailing
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000::BIGINT PRECEDING AND CURRENT ROW)
"""


def semdedup_op(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup survivors (operators/semdedup.py) over the embeddings
    table, reusing the persisted IVF coarse quantizer — rows-only (KMeans
    is not SQL-expressible); the keep-rule semantics are pinned by
    tests/test_semdedup.py on planted duplicate fixtures."""
    from wc_vector_indexing_spark.operators.ivf import IVFIndex
    from wc_vector_indexing_spark.operators.semdedup import semdedup

    emb = load(spark, "embeddings", sf)
    index = IVFIndex.train_or_load(emb, _ivf_artifact_path(sf), nlist=8)
    return semdedup(emb, index=index, threshold=0.4).orderBy("vec_id")


def session_window_events(spark: SparkSession, sf: str) -> DataFrame:
    """Native session_window gap sessions (streaming/incremental.py) on
    the batch events frame — proves the streaming operator's session
    semantics against a lag-based SQL mirror (split when gap is STRICTLY
    greater than 30 min — an event at exactly last_ts + gap still merges,
    verified empirically in tests/test_session_window.py; end =
    last_ts + gap)."""
    from wc_vector_indexing_spark.streaming.incremental import session_window_aggregate

    return session_window_aggregate(load(spark, "events", sf), gap="30 minutes")


SESSION_WINDOW_SQL = """
WITH g AS (
    SELECT user_id, event_id, ts, value,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
    SELECT user_id, ts, value,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sess
    FROM g
)
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
FROM s GROUP BY user_id, sess
"""


def events_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    """Per-type z-score outliers: one grouped aggregate builds the
    (type, mu, sd) stats table, broadcast back against the stream —
    never a corpus-wide window. The filter runs on the 4dp-rounded z so
    the survivor set is boundary-stable across engines."""
    ev = load(spark, "events", sf)
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    z = F.round((F.col("value") - F.col("mu")) / F.col("sd"), 4)
    return (
        ev.join(F.broadcast(stats), "event_type")
        .select("event_id", "event_type", "value", z.alias("z"))
        .filter(F.abs(F.col("z")) > 3)
    )


ANOMALY_SQL = """
WITH stats AS (
    SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
    FROM events GROUP BY event_type
)
SELECT event_id, e.event_type, value, round((value - mu) / sd, 4) AS z
FROM events e JOIN stats USING (event_type)
WHERE abs(round((value - mu) / sd, 4)) > 3
"""


_QUALITY_SCORE_EXPR = """
round(least(1.0, len(regexp_split_to_array(lower(trim(text)), '\\s+')) / 100.0) * 0.4
      + (1.0 - length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / length(text)) * 0.3
      + (1.0 - least(1.0, length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE / length(text) * 5.0)) * 0.3,
      4)
"""


def quality_quantile_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-relative quality gate: drop docs below the corpus p10
    quality score. The global statistic is a 1-row exact-percentile
    aggregate broadcast back over the scan (the 100 TB path swaps
    approx_percentile into the same shape). Deterministic because the
    percentile runs over already-4dp-rounded scores — both engines
    interpolate identical inputs."""
    from wc_vector_indexing_spark.operators.textstats import text_quality

    q = text_quality(load(spark, "documents", sf)).select("doc_id", "quality_score")
    p = q.agg(F.percentile("quality_score", 0.10).alias("p10"))
    return (
        q.crossJoin(F.broadcast(p))
        .filter(F.col("quality_score") >= F.col("p10"))
        .select("doc_id", "quality_score", F.round("p10", 4).alias("p10"))
    )


QUANTILE_FILTER_SQL = f"""
WITH q AS (
    SELECT doc_id, {_QUALITY_SCORE_EXPR} AS quality_score FROM documents
), p AS (
    SELECT quantile_cont(quality_score, 0.10) AS p10 FROM q
)
SELECT doc_id, quality_score, round(p10, 4) AS p10
FROM q, p WHERE quality_score >= p10
"""


def bm25_search_op(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 lexical retrieval (operators/retrieval.py): top-10 docs for
    a fixed 3-term query. The tf/dl/df tables all derive from ONE
    corpus tokenize; query terms slice the tf table before any scoring
    work; final top-k is TakeOrderedAndProject."""
    from wc_vector_indexing_spark.operators.retrieval import bm25_search

    return bm25_search(load(spark, "documents", sf), "vector hash stream", k=10)


BM25_SQL = r"""
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')) AS tok
    FROM documents
),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
hits AS (
    SELECT tf.doc_id, tf.tok, tf.tf, dl.dl FROM tf JOIN dl USING (doc_id)
    WHERE tf.tok IN ('hash', 'stream', 'vector')
),
df AS (SELECT tok, count(*) AS df FROM hits GROUP BY tok)
SELECT doc_id,
       round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * tf * (1.2 + 1.0)
                 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS score
FROM hits JOIN df USING (tok) CROSS JOIN stats
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT 10
"""


def bm25_anchor_search_op(spark: SparkSession, sf: str) -> DataFrame:
    """Anchor-boosted retrieval (operators/retrieval.bm25_anchor_search
    — weighted zone scoring: the incoming-anchor-text zone gets its own
    BM25 with its own length normalization and df statistics, then
    zones combine w_body·body + w_anchor·anchor). The plant gives every
    doc_id%4==0 target two query-bearing anchors and every %4==1 an
    unrelated anchor, so the anchor zone promotes body-weak targets
    past body-only matches — the ranking CHANGE is what the gate pins.
    Same query terms as bm25_search; full two-zone DuckDB replay."""
    from wc_vector_indexing_spark.operators.retrieval import (
        bm25_anchor_search,
    )

    docs = load(spark, "documents", sf)
    anchors = docs.select(
        "doc_id",
        F.explode(
            F.when(F.col("doc_id") % 4 == 0,
                   F.array(F.lit("vector index guide"),
                           F.lit("stream vector notes")))
            .when(F.col("doc_id") % 4 == 1,
                  F.array(F.lit("unrelated words here")))
            .otherwise(F.array().cast("array<string>"))
        ).alias("anchor"),
    )
    return bm25_anchor_search(
        docs, anchors, "hash stream vector", k=10,
        w_body=1.0, w_anchor=2.0)


BM25_ANCHOR_SQL = r"""
WITH btoks AS (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')) AS tok
    FROM documents
),
btf AS (SELECT doc_id, tok, count(*) AS tf FROM btoks GROUP BY doc_id, tok),
bdl AS (SELECT doc_id, sum(tf) AS dl FROM btf GROUP BY doc_id),
bstats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl)::DOUBLE AS avgdl FROM bdl),
bhits AS (
    SELECT btf.doc_id, btf.tok, btf.tf, bdl.dl FROM btf JOIN bdl USING (doc_id)
    WHERE btf.tok IN ('hash', 'stream', 'vector')
),
bdf AS (SELECT tok, count(*) AS df FROM bhits GROUP BY tok),
bscore AS (
    SELECT doc_id,
           sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * tf * (1.2 + 1.0)
               / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) AS s
    FROM bhits JOIN bdf USING (tok) CROSS JOIN bstats
    GROUP BY doc_id
),
arows AS (
    SELECT doc_id, t.a FROM documents, unnest(
        CASE WHEN doc_id % 4 = 0
                  THEN ['vector index guide', 'stream vector notes']
             WHEN doc_id % 4 = 1 THEN ['unrelated words here']
             ELSE [] END) AS t(a)
),
atoks AS (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(lower(a), '[^a-z]+'), x -> x <> '')) AS tok
    FROM arows
),
atf AS (SELECT doc_id, tok, count(*) AS tf FROM atoks GROUP BY doc_id, tok),
adl AS (SELECT doc_id, sum(tf) AS dl FROM atf GROUP BY doc_id),
astats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl)::DOUBLE AS avgdl FROM adl),
ahits AS (
    SELECT atf.doc_id, atf.tok, atf.tf, adl.dl FROM atf JOIN adl USING (doc_id)
    WHERE atf.tok IN ('hash', 'stream', 'vector')
),
adf AS (SELECT tok, count(*) AS df FROM ahits GROUP BY tok),
ascore AS (
    SELECT doc_id,
           sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * tf * (1.2 + 1.0)
               / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) AS s
    FROM ahits JOIN adf USING (tok) CROSS JOIN astats
    GROUP BY doc_id
)
SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,
       round(1.0 * coalesce(b.s, 0.0) + 2.0 * coalesce(a.s, 0.0), 4) AS score
FROM bscore b FULL OUTER JOIN ascore a ON b.doc_id = a.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT 10
"""


def retrieval_eval_op(spark: SparkSession, sf: str) -> DataFrame:
    """Retrieval-quality metrics (operators/retrieval.retrieval_metrics
    — TREC-style recall@k / MRR / nDCG, the eval harness every
    retrieval stack needs next to its retrievers): 5 planted queries ×
    10 ranked results each (lowest-50 docs, rank = slot arithmetic),
    graded qrels over the lowest-75 (so each query has relevant docs
    that were never retrieved, plus graded ties for the ideal-DCG
    window). Pure arithmetic ⇒ the oracle replays the metric formulas
    exactly, including the log2 discount and the grade-desc ideal
    ordering."""
    from wc_vector_indexing_spark.operators.retrieval import (
        retrieval_metrics,
    )

    w = Window.orderBy("doc_id")
    base = (
        load(spark, "documents", sf).select("doc_id")
        .orderBy("doc_id").limit(75)
        .withColumn("rnk", F.row_number().over(w) - 1)
    )
    results = base.filter(F.col("rnk") < 50).select(
        (F.col("rnk") % 5).alias("query_id"),
        "doc_id",
        (F.col("rnk") / 5 + 1).cast("long").alias("rank"),
    )
    rel = (
        F.when(F.col("rnk") % 3 == 0, F.lit(2))
        .when(F.col("rnk") % 7 == 1, F.lit(1))
        .otherwise(F.lit(0))
    )
    qrels = base.select(
        (F.col("rnk") % 5).alias("query_id"), "doc_id", rel.alias("rel")
    ).filter(F.col("rel") > 0)
    return retrieval_metrics(results, qrels, k=10).orderBy("query_id")


RETRIEVAL_EVAL_SQL = r"""
WITH ids AS (
    SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS rnk
    FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 75)
), results AS (
    SELECT (rnk % 5)::INT AS q, doc_id AS d, (rnk // 5 + 1)::BIGINT AS rank
    FROM ids WHERE rnk < 50
), qrels AS (
    SELECT (rnk % 5)::INT AS q, doc_id AS d,
           (CASE WHEN rnk % 3 = 0 THEN 2
                 WHEN rnk % 7 = 1 THEN 1 ELSE 0 END)::DOUBLE AS rel
    FROM ids
    WHERE (rnk % 3 = 0 OR rnk % 7 = 1)
), hits AS (
    SELECT r.q, r.rank, g.rel,
           (pow(2.0, g.rel) - 1.0) / log2(r.rank + 1.0) AS dcg_term
    FROM results r JOIN qrels g ON r.q = g.q AND r.d = g.d
    WHERE r.rank <= 10
), agg_hits AS (
    SELECT q, count(*) AS n_hits, min(rank) AS first_rank,
           sum(dcg_term) AS dcg
    FROM hits GROUP BY q
), ideal AS (
    SELECT q, sum((pow(2.0, rel) - 1.0) / log2(irank + 1.0)) AS idcg
    FROM (
        SELECT q, rel,
               row_number() OVER (PARTITION BY q ORDER BY rel DESC, d) AS irank
        FROM qrels
    ) WHERE irank <= 10
    GROUP BY q
), n_rel AS (SELECT q, count(*) AS n_relevant FROM qrels GROUP BY q),
n_ret AS (
    SELECT q, count(*) AS n_retrieved FROM results WHERE rank <= 10 GROUP BY q
)
SELECT n_rel.q AS query_id,
       coalesce(n_ret.n_retrieved, 0)::BIGINT AS n_retrieved,
       n_rel.n_relevant::BIGINT AS n_relevant,
       round(coalesce(a.n_hits, 0) / n_rel.n_relevant, 4)::DOUBLE
           AS recall_at_k,
       round(coalesce(1.0 / a.first_rank, 0.0), 4)::DOUBLE AS mrr,
       round(coalesce(a.dcg / ideal.idcg, 0.0), 4)::DOUBLE AS ndcg
FROM n_rel
JOIN ideal USING (q)
LEFT JOIN n_ret USING (q)
LEFT JOIN agg_hits a USING (q)
ORDER BY query_id
"""


def bigram_logprob_op(spark: SparkSession, sf: str) -> DataFrame:
    """Interpolated bigram LM scoring (operators/lm_score.bigram_score):
    per-doc mean negative log-prob under a Jelinek-Mercer bigram/unigram
    mix trained on the corpus itself — the order-sensitive step up from
    `unigram_logprob`."""
    from wc_vector_indexing_spark.operators.lm_score import bigram_score

    return bigram_score(load(spark, "documents", sf)).orderBy("doc_id")


BIGRAM_SQL = r"""
WITH t AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '') AS ts
    FROM documents
),
toks AS (
    SELECT doc_id, s.pos AS pos, s.tok AS tok FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(ts) + 1),
                      i -> struct_pack(pos := i - 1, tok := ts[i]))) AS s
        FROM t)
),
big AS (
    SELECT doc_id, pos, tok,
           lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
    FROM toks
),
bigf AS (SELECT * FROM big WHERE prev IS NOT NULL),
c2 AS (SELECT prev, tok, count(*) AS c2 FROM bigf GROUP BY prev, tok),
c1 AS (SELECT tok, count(*) AS c1 FROM toks GROUP BY tok),
n AS (SELECT count(*)::DOUBLE AS n FROM toks)
SELECT b.doc_id, count(*) AS n_scored,
       round(avg(-ln(0.7 * (c2.c2::DOUBLE / c1p.c1) + 0.3 * (c1t.c1 / n.n))), 4) AS avg_neg_logp
FROM bigf b
JOIN c2 ON b.prev = c2.prev AND b.tok = c2.tok
JOIN c1 c1p ON b.prev = c1p.tok
JOIN c1 c1t ON b.tok = c1t.tok
CROSS JOIN n
GROUP BY b.doc_id
ORDER BY b.doc_id
"""


def bloom_decontamination_op(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-filter decontamination (operators/decontamination.py
    bloom_contaminated): same train/eval split and n=4 grams as the
    exact `decontamination` entry, but membership goes through a
    2-hash, 2^20-bit Bloom position set — the constant-size broadcast
    variant. The oracle mirrors the md5 position hashes bit-for-bit, so
    even false positives (if any) match across engines."""
    from wc_vector_indexing_spark.operators.decontamination import bloom_contaminated

    docs = load(spark, "documents", sf)
    return bloom_contaminated(
        docs.filter(F.col("doc_id") >= 25), docs.filter(F.col("doc_id") < 25), n=4
    ).orderBy("train_id")


BLOOM_DECONTAM_SQL = r"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents
), grams AS (
    SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id,
               unnest([t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3]
                       for i in generate_series(1, len(t) - 3)]) AS g
        FROM toks)
), pos AS (
    SELECT doc_id, g,
           CAST(('0x' || substr(md5(gs.s::VARCHAR || '|' || g), 1, 15)) AS BIGINT) % 1048576 AS bit
    FROM grams, generate_series(0, 1) AS gs(s)
), ev_bits AS (SELECT DISTINCT bit FROM pos WHERE doc_id < 25),
hits AS (
    SELECT p.doc_id, p.g, count(*) AS k_set
    FROM pos p JOIN ev_bits e USING (bit)
    WHERE p.doc_id >= 25
    GROUP BY p.doc_id, p.g
    HAVING count(*) >= 2
)
SELECT doc_id AS train_id, count(*) AS n_hits
FROM hits GROUP BY doc_id ORDER BY train_id
"""


def fuzzy_join_op(spark: SparkSession, sf: str) -> DataFrame:
    """Edit-distance self-join on customer names (operators/fuzzy.py):
    symmetric-delete blocking + levenshtein verify. The oracle runs the
    naive N² form — legal because the blocking is pair-complete, so
    outputs are identical."""
    from wc_vector_indexing_spark.operators.fuzzy import fuzzy_self_join

    cust = load(spark, "customer", sf)
    return fuzzy_self_join(cust, "c_name", "c_custkey", max_distance=1).orderBy(
        "id_a", "id_b"
    )


FUZZY_JOIN_SQL = """
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       a.c_name AS key_a, b.c_name AS key_b,
       levenshtein(a.c_name, b.c_name) AS dist
FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1
ORDER BY id_a, id_b
"""


def collocations_op(spark: SparkSession, sf: str) -> DataFrame:
    """PMI collocation mining (operators/lm_score.collocations): top-20
    adjacent word pairs by pointwise mutual information, min_count=5.
    Same one-pass bigram/unigram aggregates as bigram_logprob; top-k is
    TakeOrderedAndProject."""
    from wc_vector_indexing_spark.operators.lm_score import collocations

    return collocations(load(spark, "documents", sf), min_count=5, k=20)


COLLOCATIONS_SQL = r"""
WITH t AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '') AS ts
    FROM documents
),
toks AS (
    SELECT doc_id, s.pos AS pos, s.tok AS tok FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(ts) + 1),
                      i -> struct_pack(pos := i - 1, tok := ts[i]))) AS s
        FROM t)
),
big AS (
    SELECT doc_id, pos, tok,
           lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
    FROM toks
),
c2 AS (
    SELECT prev, tok, count(*) AS c2 FROM big
    WHERE prev IS NOT NULL GROUP BY prev, tok HAVING count(*) >= 5
),
c1 AS (SELECT tok, count(*) AS c1 FROM toks GROUP BY tok),
n AS (SELECT count(*)::DOUBLE AS n FROM toks)
SELECT c2.prev, c2.tok, c2.c2,
       round(ln(n.n * c2.c2 / (cp.c1 * ct.c1)), 4) AS pmi
FROM c2 JOIN c1 cp ON c2.prev = cp.tok JOIN c1 ct ON c2.tok = ct.tok CROSS JOIN n
ORDER BY pmi DESC, c2.prev ASC, c2.tok ASC
LIMIT 20
"""


def value_histogram_op(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-width histogram of events.value, 16 buckets over corpus
    min/max (operators/profile.value_histogram). The bucket formula is
    explicit shared double arithmetic, so the oracle is bit-exact."""
    from wc_vector_indexing_spark.operators.profile import value_histogram

    return value_histogram(load(spark, "events", sf), "value", bins=16)


HISTOGRAM_SQL = """
WITH b AS (SELECT min(value)::DOUBLE AS blo, max(value)::DOUBLE AS bhi FROM events),
x AS (
    SELECT least(greatest(floor((value::DOUBLE - blo) / (bhi - blo) * 16.0)::BIGINT + 1, 1), 16) AS bin,
           blo, (bhi - blo) / 16 AS w
    FROM events, b
)
SELECT bin, round(blo + (bin - 1) * w, 6) AS lo, round(blo + bin * w, 6) AS hi,
       count(*) AS cnt
FROM x GROUP BY bin, blo, w ORDER BY bin
"""


def compression_ratio_op(spark: SparkSession, sf: str) -> DataFrame:
    """Deflate-ratio quality signal (operators/compressibility.py):
    zero-shuffle Arrow-batched map pass. Rows-only (DuckDB has no
    compress()); golden equality vs driver zlib pinned in
    tests/test_compressibility.py."""
    from wc_vector_indexing_spark.operators.compressibility import compression_ratio

    return compression_ratio(load(spark, "documents", sf)).orderBy("doc_id")


def pca_projection_op(spark: SparkSession, sf: str) -> DataFrame:
    """PCA reduction of the embedding column (operators/pca.py): exact
    one-pass moment fit (k=8) + Arrow-batched projection. Rows-only
    (eigendecomposition is not SQL-expressible); exactness vs numpy is
    pinned in tests/test_pca.py."""
    from wc_vector_indexing_spark.operators.pca import PCAModel, project_pca

    emb = load(spark, "embeddings", sf)
    model = PCAModel.fit(emb, k=8)
    return project_pca(emb, model).select("vec_id", "pca").orderBy("vec_id")




# --------------------------------------------------------------------------
# Round-5 additions: lexical diversity, URL curation, temperature sampling
# --------------------------------------------------------------------------

def lexical_diversity_op(spark: SparkSession, sf: str) -> DataFrame:
    """Lexical-diversity signals (textstats.lexical_diversity): TTR,
    sorted-fold unigram entropy, hapax ratio — all in-row
    higher-order-function arithmetic, zero shuffle, stream-safe."""
    return textstats.lexical_diversity(load(spark, "documents", sf)).orderBy("doc_id")


LEXDIV_SQL = r"""
WITH t AS (
    SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
    FROM documents
), d AS (
    SELECT doc_id, toks, len(toks) AS n, list_sort(list_distinct(toks)) AS types
    FROM t
), c AS (
    SELECT doc_id, n, len(types) AS u,
           list_transform(types, d2 -> len(list_filter(toks, t2 -> t2 = d2))) AS counts
    FROM d
), e AS (
    SELECT doc_id, n, u, counts,
           -list_sum(list_transform(counts, c2 -> (c2 / n::DOUBLE) * ln(c2 / n::DOUBLE))) AS entropy
    FROM c
)
SELECT doc_id,
       n AS n_tokens,
       u AS n_types,
       round(u / n::DOUBLE, 4) AS ttr,
       round(entropy, 4) AS entropy,
       round(CASE WHEN u > 1 THEN entropy / ln(u::DOUBLE) ELSE 0.0 END, 4) AS norm_entropy,
       round(len(list_filter(counts, c2 -> c2 = 1)) / u::DOUBLE, 4) AS hapax_ratio
FROM e
ORDER BY doc_id
"""


def _psl_domain_sql(host: str) -> str:
    """DuckDB twin of urls.registrable_domain: the PSL longest-match
    CASE expression, generated from the SAME ``PSL_RULES`` snapshot so
    the two sides cannot drift. ``host`` is a SQL expression yielding
    the lowercased host."""
    from wc_vector_indexing_spark.operators.urls import _psl_partition

    exact2, exact3, wild1, wild2, exc2, exc3 = _psl_partition()

    def inlist(vals: set) -> str:
        return ", ".join(f"'{v}'" for v in sorted(vals))

    lab = f"string_split({host}, '.')"
    n = f"len({lab})"

    def suf(k: str) -> str:
        return f"array_to_string({lab}[greatest({n} - ({k}) + 1, 1):{n}], '.')"

    s1, s2, s3 = suf("1"), suf("2"), suf("3")
    ps_len = (
        f"(CASE WHEN {s3} IN ({inlist(exact3)}) OR {s2} IN ({inlist(wild2)}) THEN 3 "
        f"WHEN {s2} IN ({inlist(exact2)}) OR {s1} IN ({inlist(wild1)}) THEN 2 "
        f"ELSE 1 END)"
    )
    return (
        f"(CASE WHEN {s2} IN ({inlist(exc2)}) THEN {s2} "
        f"WHEN {s3} IN ({inlist(exc3)}) THEN {s3} "
        f"WHEN {n} > {ps_len} THEN {suf(ps_len + ' + 1')} "
        f"ELSE {host} END)"
    )


def _synth_url() -> "F.Column":
    """Deterministic synthetic URL per document, shared bit-for-bit
    with the oracle SQL (the test tables carry no URL column; the
    operator under test is the parsing/canonicalization itself).
    Deliberately messy: uppercase scheme/host, www, explicit :443,
    mixed-case path, trailing slash, unsorted params, utm tracking,
    fragment."""
    d = F.col("doc_id")
    return F.concat(
        F.lit("HTTPS://WWW."),
        F.col("source"),
        (d % 3).cast("string"),
        F.lit(".COM:443/Docs/v"),
        (d % 5).cast("string"),
        F.lit("/item"),
        (d % 97).cast("string"),
        F.lit("/"),
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit("?ref=r"),
                (d % 7).cast("string"),
                F.lit("&utm_source=feed&id="),
                d.cast("string"),
            ),
        ).otherwise(F.concat(F.lit("?id="), d.cast("string"))),
        F.lit("#sec"),
        (d % 4).cast("string"),
    )


_SYNTH_URL_SQL = (
    "'HTTPS://WWW.' || source || (doc_id % 3) || '.COM:443/Docs/v' || (doc_id % 5)"
    " || '/item' || (doc_id % 97) || '/'"
    " || CASE WHEN doc_id % 3 = 0"
    "         THEN '?ref=r' || (doc_id % 7) || '&utm_source=feed&id=' || doc_id"
    "         ELSE '?id=' || doc_id END"
    " || '#sec' || (doc_id % 4)"
)


def url_features_op(spark: SparkSession, sf: str) -> DataFrame:
    """URL canonicalization + component extraction (operators/urls.py):
    scheme/host lowering, port/www/fragment/tracking-param stripping,
    bytewise param sort, registrable-domain derivation — all pure
    Catalyst regex/array arithmetic, zero shuffle."""
    from wc_vector_indexing_spark.operators.urls import url_features

    docs = load(spark, "documents", sf).withColumn("url", _synth_url())
    return url_features(docs).orderBy("doc_id")


URL_SQL = rf"""
WITH u AS (
    SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents
), p AS (
    SELECT doc_id, url,
           lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*):', 1)) AS scheme,
           lower(regexp_replace(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1), ':[0-9]+$', '')) AS host,
           regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path,
           regexp_extract(url, '\?([^#]*)', 1) AS query
    FROM u
), q AS (
    SELECT doc_id, url, scheme, host, path, query,
           list_sort(list_filter(string_split(query, '&'),
               x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|fbclid|gclid|msclkid|mc_eid|igshid)='))) AS params
    FROM p
)
SELECT doc_id,
       url,
       scheme || '://' || regexp_replace(host, '^www\.', '')
         || regexp_replace(path, '/+$', '')
         || CASE WHEN array_to_string(params, '&') <> ''
                 THEN '?' || array_to_string(params, '&') ELSE '' END AS canonical_url,
       host,
       {_psl_domain_sql('host')} AS domain,
       len(list_filter(string_split(path, '/'), s -> s <> '')) AS path_depth,
       len(list_filter(string_split(query, '&'), s -> s <> '')) AS n_params
FROM q
ORDER BY doc_id
"""


_PSL_CASE_SUFFIXES = [
    "com",               # default rule: last-2
    "co.uk",             # exact 2-label rule: last-3
    "kobe.jp",           # *.kobe.jp wildcard: <label>.kobe.jp is public
    "city.kawasaki.jp",  # !city.kawasaki.jp exception
    "ck",                # *.ck TLD wildcard
    "www.ck",            # !www.ck exception
    "github.io",         # private-section exact rule
    "s3.amazonaws.com",  # private-section 3-label exact rule
    "sch.uk",            # *.sch.uk wildcard
    "bd",                # *.bd TLD wildcard
    "gov.au",            # exact 2-label rule
    "example.org",       # default rule again, pre-dotted
]


def psl_registrable_domain_op(spark: SparkSession, sf: str) -> DataFrame:
    """Public-Suffix-List eTLD+1 over every rule class (operators/urls.
    registrable_domain): synthesized hosts cycle through default /
    exact / wildcard / exception / private-section suffixes, with and
    without an extra subdomain label, so the oracle pins the full PSL
    longest-match algorithm — not just the easy last-2 fallback. Zero
    shuffle: scan → project; the oracle SQL CASE is generated from the
    SAME PSL_RULES snapshot (cannot drift)."""
    from wc_vector_indexing_spark.operators.urls import registrable_domain

    d = F.col("doc_id")
    sfx = F.element_at(
        F.array(*[F.lit(s) for s in _PSL_CASE_SUFFIXES]),
        (d % 12 + 1).cast("int"),
    )
    host = F.concat(
        F.when(d % 3 == 0, F.lit("sub.")).otherwise(F.lit("")),
        F.lit("site"),
        (d % 7).cast("string"),
        F.lit("."),
        sfx,
    )
    return (
        load(spark, "documents", sf)
        .select(
            d,
            host.alias("host"),
            registrable_domain(host).alias("domain"),
        )
        .withColumn("is_public_suffix", F.col("domain") == F.col("host"))
        .orderBy("doc_id")
    )


def _psl_registrable_sql() -> str:
    sfx_list = ", ".join(f"'{s}'" for s in _PSL_CASE_SUFFIXES)
    return f"""
WITH h AS (
    SELECT doc_id,
           (CASE WHEN doc_id % 3 = 0 THEN 'sub.' ELSE '' END)
             || 'site' || (doc_id % 7)::VARCHAR || '.'
             || list_extract([{sfx_list}], (doc_id % 12 + 1)::INT) AS host
    FROM documents
)
SELECT doc_id, host,
       {_psl_domain_sql('host')} AS domain,
       {_psl_domain_sql('host')} = host AS is_public_suffix
FROM h
ORDER BY doc_id
"""


PSL_REGISTRABLE_SQL = _psl_registrable_sql()


def html_main_text_op(spark: SparkSession, sf: str) -> DataFrame:
    """Crawl front door: HTML → main-text extraction
    (operators/html_extract.py, jusText/Arc90-family block
    classification). Each document is rendered into a synthetic page —
    nav/footer link chrome, a heading, the body split into one or two
    <p> blocks with entities escaped — and the extractor must recover
    EXACTLY the planted article (heading + trimmed halves, chrome
    gone). The synthesis is invertible SQL arithmetic, so the DuckDB
    oracle reconstructs the expected text from documents.text directly:
    a hash-checked gate over the parser, the classifier, the smoothing
    pass, and entity unescaping at once. Zero shuffle: scan → Arrow
    map → sort."""
    from wc_vector_indexing_spark.operators.html_extract import extract_documents

    docs = load(spark, "documents", sf)
    t = F.col("text")
    esc = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(t, "&", "&amp;"), "<", "&lt;"), ">", "&gt;"
    )
    k = F.floor(F.length(t) / 2).cast("int")
    body = F.when(
        F.length(t) >= 80,
        F.concat(
            F.lit("<p>"), F.substring(esc, F.lit(1), k), F.lit("</p><p>"),
            F.substring(esc, k + 1, F.length(esc)), F.lit("</p>"),
        ),
    ).otherwise(F.concat(F.lit("<p>"), esc, F.lit("</p>")))
    # NOTE: halves are cut on the ESCAPED string for both sides of the
    # oracle — the cut index must mean the same thing in Spark and SQL
    html = F.concat(
        F.lit("<html><head><script>var j=1;</script></head><body>"
              "<nav><a href='/'>Home</a> <a href='/a'>About</a> "
              "<a href='/c'>Contact</a></nav><h2>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</h2>"),
        body,
        F.lit("<footer><a href='/p'>Privacy</a> <a href='/t'>Terms</a>"
              "</footer></body></html>"),
    )
    return (
        extract_documents(docs.select("doc_id", html.alias("html")))
        .select("doc_id", "text", "n_good", "n_boilerplate")
        .orderBy("doc_id")
    )


HTML_MAIN_TEXT_SQL = r"""
WITH e AS (
    SELECT doc_id,
           replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;') AS esc,
           length(text) AS n
    FROM documents
), x AS (
    SELECT doc_id, n,
           CASE WHEN n >= 80
                THEN trim(substr(esc, 1, (n // 2)::INT))
                     || chr(10) || chr(10)
                     || trim(substr(esc, (n // 2)::INT + 1))
                ELSE trim(esc) END AS body,
           CASE WHEN n >= 80 THEN 3 ELSE 2 END AS n_good
    FROM e
)
SELECT doc_id,
       'Doc ' || doc_id::VARCHAR || chr(10) || chr(10)
         || replace(replace(replace(body, '&amp;', '&'), '&lt;', '<'), '&gt;', '>') AS text,
       n_good,
       2 AS n_boilerplate
FROM x
ORDER BY doc_id
"""


def domain_cap_op(spark: SparkSession, sf: str) -> DataFrame:
    """Per-registrable-domain diversity cap (operators/urls.py
    domain_cap): keep the 5 longest docs per domain (n_chars desc,
    doc_id tiebreak) — the C4/RefinedWeb anti-mega-site rule. One
    shuffle on the domain key, bounded by the cap under skew."""
    from wc_vector_indexing_spark.operators.urls import domain_cap

    docs = load(spark, "documents", sf).withColumn("url", _synth_url())
    return (
        domain_cap(docs, max_per_domain=5, order_col="n_chars")
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


DOMAIN_CAP_SQL = rf"""
WITH u AS (
    SELECT doc_id, source, n_chars, {_SYNTH_URL_SQL} AS url FROM documents
), h AS (
    SELECT doc_id, source, n_chars,
           lower(regexp_replace(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1), ':[0-9]+$', '')) AS host
    FROM u
), d AS (
    SELECT doc_id, source, n_chars,
           {_psl_domain_sql('host')} AS domain
    FROM h
), r AS (
    SELECT doc_id, source, n_chars,
           row_number() OVER (PARTITION BY domain ORDER BY n_chars DESC, doc_id ASC) AS rn
    FROM d
)
SELECT doc_id, source, n_chars FROM r WHERE rn <= 5 ORDER BY doc_id
"""


def temperature_mix_op(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-rebalanced language sampling (operators/sampling.py
    temperature_sample, α=0.5, T=200): up-weights low-resource langs
    against the en-heavy corpus. Content-addressed keep decision —
    partition-stable, engine-portable; corpus never shuffles (count agg
    reduces map-side, fraction table broadcast back)."""
    from wc_vector_indexing_spark.operators import sampling as smp

    docs = load(spark, "documents", sf)
    kept = smp.temperature_sample(docs, "lang", alpha=0.5, total_target=200)
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept")).orderBy("lang")


TEMPERATURE_SQL = """
WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
t AS (SELECT sum(n)::DOUBLE AS total_n, sum(pow(n::DOUBLE, 0.5)) AS pow_sum FROM c),
f AS (SELECT lang, n,
             least(1.0, pow(n::DOUBLE, 0.5) / pow_sum * 200.0 / n) AS keep_frac
      FROM c, t),
thr AS (SELECT lang, floor(keep_frac * 10000 + 0.5)::INT AS thr FROM f),
b AS (SELECT d.lang,
             (('0x' || substr(sha256(d.doc_id::VARCHAR), 1, 8))::UBIGINT % 10000)::INT AS bucket
      FROM documents d),
k AS (SELECT b.lang FROM b JOIN thr ON b.lang = thr.lang WHERE bucket < thr)
SELECT lang, count(*) AS n_kept FROM k GROUP BY lang ORDER BY lang
"""




def quality_classifier_op(spark: SparkSession, sf: str) -> DataFrame:
    """Fasttext-style model-based quality gate (operators/classifier.py):
    fit a hashed-bigram logistic model on a driver-local labeled sample
    (the fasttext production split — the 100 TB corpus is only ever
    SCORED), then score the corpus as a zero-shuffle Arrow map pass.
    The label source is the planted curated-vs-crawl sample
    (classifier.planted_training_rows — deterministic md5 arithmetic,
    mirroring the GPT-3 WebText-vs-CommonCrawl recipe); because the fit
    is pure-numpy full-batch GD with zero randomness, the DuckDB oracle
    refits the bitwise-identical model and replays scoring in SQL
    (md5-prefix feature hash + VALUES-embedded weight vector), making
    this a full train→score end-to-end hash gate (was rows-only ≤r8)."""
    from wc_vector_indexing_spark.operators.classifier import (
        QualityClassifier,
        planted_training_rows,
        score_documents,
    )

    texts, labels = planted_training_rows()
    model = QualityClassifier.fit_rows(texts, labels, n_buckets=256, iters=100)
    docs = load(spark, "documents", sf)
    return (
        score_documents(docs, model)
        .select("doc_id", F.round("quality_prob", 6).alias("quality_prob"))
        .orderBy("doc_id")
    )


def _quality_classifier_sql() -> str:
    """Render the DuckDB mirror: refit the planted model (pure numpy,
    bitwise-deterministic ⇒ identical to the Spark query's weights) and
    embed the 256-bucket weight vector as a VALUES table; scoring is
    tokenize → unigrams+bigrams → md5-prefix bucket → Σw/n → sigmoid,
    exactly classifier._feature_buckets/score_py in SQL."""
    from wc_vector_indexing_spark.operators.classifier import (
        QualityClassifier,
        planted_training_rows,
    )

    texts, labels = planted_training_rows()
    model = QualityClassifier.fit_rows(texts, labels, n_buckets=256, iters=100)
    values = ", ".join(
        f"({b}, {w!r})" for b, w in enumerate(model.weights.tolist())
    )
    bias = repr(float(model.bias))
    return rf"""
WITH toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
    FROM documents
), grams AS (
    SELECT doc_id,
           t || list_transform(range(1, len(t)), i -> t[i] || '_' || t[i + 1]) AS g
    FROM toks
), ex AS (
    SELECT doc_id, len(g) AS n, unnest(g) AS gram FROM grams
), bk AS (
    SELECT doc_id, n,
           CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) % 256 AS bucket
    FROM ex
), wt(bucket, w) AS (VALUES {values}),
z AS (
    SELECT bk.doc_id, {bias} + sum(wt.w) / any_value(bk.n) AS z
    FROM bk JOIN wt USING (bucket) GROUP BY bk.doc_id
)
SELECT d.doc_id,
       round(1.0 / (1.0 + exp(-greatest(-500.0, least(500.0, coalesce(z.z, {bias}))))), 6)
           AS quality_prob
FROM documents d LEFT JOIN z USING (doc_id)
ORDER BY d.doc_id
"""


def wet_roundtrip_op(spark: SparkSession, sf: str) -> DataFrame:
    """WET-format source roundtrip (sources/wet.py): export a document
    slice as a spec-shaped Common Crawl WET shard, read it back through
    the lineSep-framed reader, and report per-host record counts +
    byte totals. Planted-truth oracle (r7 verdict task; was rows-only):
    hosts derive from `source`, content_length is the UTF-8 byte count
    of the planted text, so DuckDB reconstructs every row from
    `documents` directly — a hash gate over the writer, the framed
    reader, Content-Length accounting, and url_host at once."""
    import os
    import tempfile

    from wc_vector_indexing_spark.operators.urls import url_host
    from wc_vector_indexing_spark.sources.wet import read_wet, to_wet_bytes

    docs = (
        load(spark, "documents", sf)
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "source", "text")
        .orderBy("doc_id")
        .collect()
    )
    recs = [
        {
            "url": f"https://{r['source']}.example.com/doc/{r['doc_id']}",
            "warc_date": "2024-01-01T00:00:00Z",
            "record_id": f"<urn:uuid:{r['doc_id']}>",
            "text": r["text"],
        }
        for r in docs
    ]
    import hashlib as _hl

    key = _hl.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_wet_{key}")
    os.makedirs(out, exist_ok=True)
    shard = os.path.join(out, "shard-00000.warc.wet")
    with open(shard, "wb") as f:
        f.write(to_wet_bytes(recs))
    wet = read_wet(spark, shard)
    return (
        wet.groupBy(url_host("url").alias("host"))
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum("content_length").alias("total_bytes"),
        )
        .orderBy("host")
    )


WET_ROUNDTRIP_SQL = r"""
SELECT lower(source) || '.example.com' AS host,
       count(*) AS n_records,
       sum(strlen(text))::BIGINT AS total_bytes
FROM documents
WHERE doc_id < 200
GROUP BY 1
ORDER BY host
"""




def exact_substring_removal_op(spark: SparkSession, sf: str) -> DataFrame:
    """ExactSubstr span removal (linededup.remove_duplicated_spans):
    every duplicated 8-token window is removed from all but its
    globally-first occurrence and docs are rebuilt from surviving
    tokens — the rewrite half of Lee et al. 2022 (window_dedup is the
    screen half). One window-hash shuffle + one doc-keyed agg."""
    from wc_vector_indexing_spark.operators.linededup import remove_duplicated_spans

    return remove_duplicated_spans(load(spark, "documents", sf)).orderBy("doc_id")


EXACT_SUBSTR_SQL = r"""
WITH base AS (
    SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), w -> w <> '') AS toks
    FROM documents
), wins AS (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(toks) - 8 + 1, 0) + 1),
                  i -> {'pos': i - 1, 'h': md5(array_to_string(list_slice(toks, i, i + 7), ' '))})) AS w
    FROM base
), wins2 AS (
    SELECT doc_id, w.pos AS pos, w.h AS h FROM wins
), marked AS (
    SELECT doc_id, pos, row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
    FROM wins2
), removals AS (
    SELECT doc_id, list_sort(list_distinct(list(pos))) AS starts
    FROM marked WHERE rn > 1 GROUP BY doc_id
), joined AS (
    SELECT b.doc_id, toks, coalesce(starts, []::BIGINT[]) AS starts
    FROM base b LEFT JOIN removals r ON b.doc_id = r.doc_id
), rebuilt AS (
    SELECT doc_id, toks, starts,
           list_filter(list_transform(range(0, len(toks)),
               i -> CASE WHEN len(list_filter(starts, r -> i >= r AND i < r + 8)) = 0
                         THEN toks[i + 1] END),
               x -> x IS NOT NULL) AS kept
    FROM joined
)
SELECT doc_id,
       coalesce(array_to_string(kept, ' '), '') AS text_clean,
       len(toks) AS n_tokens,
       len(toks) - len(kept) AS n_removed,
       len(starts) AS n_dup_windows
FROM rebuilt
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Hybrid retrieval, graph rank, semantic decontamination (round 5)
# --------------------------------------------------------------------------

def hybrid_search_rrf_op(spark: SparkSession, sf: str) -> DataFrame:
    """Reciprocal-rank fusion of BM25 lexical top-20 and cosine vector
    top-20 (operators/retrieval.rrf_fuse) — the standard hybrid-search
    combiner. Both candidate lists round scores to 4dp BEFORE ranking
    (with an id tiebreak) so rank assignment is engine-portable; the
    fusion itself joins two 20-row frames."""
    from wc_vector_indexing_spark.functions.vectors import cosine_to
    from wc_vector_indexing_spark.operators.retrieval import bm25_search, rrf_fuse

    docs = load(spark, "documents", sf)
    emb = load(spark, "embeddings", sf)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 1).select("embedding").head()[0]]
    bm = bm25_search(docs, "vector hash stream", k=20)
    vec = (
        emb.select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine_to("embedding", qv), 4).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )
    fused = rrf_fuse([bm, vec], id_col="doc_id", k=10)
    return fused.select(
        "doc_id", "rrf",
        F.col("rank_0").alias("bm25_rank"), F.col("rank_1").alias("vec_rank"),
    )


HYBRID_RRF_SQL = r"""
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')) AS tok
    FROM documents
),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
hits AS (
    SELECT tf.doc_id, tf.tok, tf.tf, dl.dl FROM tf JOIN dl USING (doc_id)
    WHERE tf.tok IN ('hash', 'stream', 'vector')
),
dfreq AS (SELECT tok, count(*) AS df FROM hits GROUP BY tok),
bm AS (
    SELECT doc_id,
           round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * tf * (1.2 + 1.0)
                     / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS score
    FROM hits JOIN dfreq USING (tok) CROSS JOIN stats
    GROUP BY doc_id
    ORDER BY score DESC, doc_id ASC
    LIMIT 20
),
vec AS (
    SELECT e.vec_id AS doc_id,
           round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS score
    FROM embeddings e CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 1) q
    ORDER BY score DESC, doc_id ASC
    LIMIT 20
),
bmr AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r FROM bm),
vr  AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r FROM vec)
SELECT doc_id,
       round(coalesce(1.0 / (60 + bmr.r), 0) + coalesce(1.0 / (60 + vr.r), 0), 6) AS rrf,
       bmr.r AS bm25_rank,
       vr.r AS vec_rank
FROM bmr FULL OUTER JOIN vr USING (doc_id)
ORDER BY rrf DESC, doc_id
LIMIT 10
"""


def event_pagerank_op(spark: SparkSession, sf: str) -> DataFrame:
    """Clickstream transition graph → 5 rounds of weighted PageRank
    (operators/graph.py): edges are consecutive event-type transitions
    within each user's stream (one window shuffle on user_id), then an
    iterative rank⊳edge join fixpoint with per-round localCheckpoint.
    The oracle mirrors the same 5 rounds as chained CTEs."""
    from wc_vector_indexing_spark.operators.graph import pagerank, transition_edges

    edges = transition_edges(load(spark, "events", sf))
    return pagerank(edges, iterations=5, damping=0.85).orderBy("node")


def _pagerank_sql(iterations: int = 5, d: float = 0.85) -> str:
    prev = "r0"
    rounds = []
    for i in range(1, iterations + 1):
        rounds.append(
            f"it{i} AS (\n"
            f"    SELECT nodes.node, (1 - {d}) / nn.n + {d} * coalesce(c.s, 0) AS rank\n"
            f"    FROM nodes CROSS JOIN nn\n"
            f"    LEFT JOIN (SELECT en.dst AS node, sum({prev}.rank * en.wn) AS s\n"
            f"               FROM {prev} JOIN en ON {prev}.node = en.src GROUP BY en.dst) c\n"
            f"    USING (node))"
        )
        prev = f"it{i}"
    return (
        """
WITH seq AS (
    SELECT event_type,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
    FROM events
),
edges AS (
    SELECT event_type AS src, nxt AS dst, count(*)::DOUBLE AS w
    FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
),
outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
en AS (SELECT e.src, e.dst, e.w / o.ow AS wn FROM edges e JOIN outw o USING (src)),
nodes AS (
    SELECT DISTINCT node FROM (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
),
nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
"""
        + ",\n".join(rounds)
        + f"\nSELECT node, round(rank, 6) AS rank FROM {prev} ORDER BY node\n"
    )


PAGERANK_SQL = _pagerank_sql()


def semantic_decontamination_op(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-space decontamination (operators/decontamination.py
    semantic_contamination): eval set = vec_id < 25 (rides along as a
    broadcast float64 matrix), train side = the rest, streamed through
    one Arrow gemm map pass with NO shuffle; flag max-cosine ≥ 0.25
    with the best eval match. Threshold chosen off any float boundary
    (nearest corpus max-cos is >2e-4 away at both test SFs)."""
    from wc_vector_indexing_spark.operators.decontamination import (
        semantic_contamination,
    )

    emb = load(spark, "embeddings", sf)
    evals = emb.filter(F.col("vec_id") < 25)
    train = emb.filter(F.col("vec_id") >= 25)
    return semantic_contamination(train, evals, threshold=0.25).orderBy("train_id")


SEMANTIC_DECONTAM_SQL = r"""
WITH ev AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 25),
tr AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 25),
s AS (
    SELECT tr.vec_id AS train_id, ev.vec_id AS eval_id,
           list_cosine_similarity(tr.embedding::DOUBLE[], ev.embedding::DOUBLE[]) AS c,
           row_number() OVER (
               PARTITION BY tr.vec_id
               ORDER BY list_cosine_similarity(tr.embedding::DOUBLE[], ev.embedding::DOUBLE[]) DESC,
                        ev.vec_id
           ) AS rn
    FROM tr CROSS JOIN ev
)
SELECT train_id, eval_id, round(c, 4) AS max_cos
FROM s WHERE rn = 1 AND c >= 0.25
ORDER BY train_id
"""


def hard_negatives_op(spark: SparkSession, sf: str) -> DataFrame:
    """Hard-negative mining (operators/similarity.hard_negatives):
    anchors = vec_id < 8; per anchor, the 5 most-cosine-similar vectors
    with a DIFFERENT label. The label mask runs inside the Arrow gemm
    stage before the local top-k, so the window merge stays exact."""
    from wc_vector_indexing_spark.operators.similarity import hard_negatives

    emb = load(spark, "embeddings", sf)
    out = hard_negatives(emb.filter(F.col("vec_id") < 8), emb, k=5)
    return out.select(
        "query_id", "neighbor_id", F.round("score", 4).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    ).orderBy("query_id", "rank")


HARD_NEGATIVES_SQL = r"""
WITH q AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 8),
s AS (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS c,
           row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                        e.vec_id
           ) AS rank
    FROM q JOIN embeddings e ON e.label <> q.label
)
SELECT query_id, neighbor_id, round(c, 4) AS score, rank
FROM s WHERE rank <= 5
ORDER BY query_id, rank
"""


def token_fertility_op(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language tokenizer fertility (operators/textstats.
    token_fertility): one map-side-combined aggregate on `lang`."""
    from wc_vector_indexing_spark.operators.textstats import token_fertility

    return token_fertility(load(spark, "documents", sf)).orderBy("lang")


TOKEN_FERTILITY_SQL = r"""
SELECT lang,
       count(*) AS n_docs,
       sum(len(regexp_split_to_array(lower(trim(text)), '\s+')))::BIGINT AS n_tokens,
       sum(length(text))::BIGINT AS n_chars,
       round(sum(length(text))::DOUBLE
             / sum(len(regexp_split_to_array(lower(trim(text)), '\s+'))), 4)
           AS chars_per_token
FROM documents
GROUP BY lang
ORDER BY lang
"""


def corpus_drift_op(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source unigram KL drift vs the corpus distribution
    (operators/profile.corpus_drift): one corpus tokenize; slice
    totals and corpus counts both derive from the (source, token)
    count table."""
    from wc_vector_indexing_spark.operators.profile import corpus_drift

    return corpus_drift(load(spark, "documents", sf)).orderBy("source")


CORPUS_DRIFT_SQL = r"""
WITH toks AS (
    SELECT source,
           unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')) AS tok
    FROM documents
),
cst AS (SELECT source, tok, count(*) AS c_st FROM toks GROUP BY source, tok),
ns AS (SELECT source, sum(c_st) AS n_s FROM cst GROUP BY source),
ct AS (SELECT tok, sum(c_st) AS c_t FROM cst GROUP BY tok),
n AS (SELECT sum(n_s)::DOUBLE AS n FROM ns)
SELECT cst.source,
       any_value(n_s)::BIGINT AS n_tokens,
       round(sum((c_st / n_s::DOUBLE) * ln((c_st / n_s::DOUBLE) / (c_t / n.n))), 4) AS kl_nats
FROM cst JOIN ns USING (source) JOIN ct USING (tok) CROSS JOIN n
GROUP BY cst.source
ORDER BY cst.source
"""


def embedding_outliers_op(spark: SparkSession, sf: str) -> DataFrame:
    """Centroid-distance outlier scan (operators/outliers.py): top-20
    vectors by z-scored distance to their own label centroid —
    mislabeled/noisy-sample pruning. Centroids and moments broadcast;
    the corpus side never shuffles."""
    from wc_vector_indexing_spark.operators.outliers import embedding_outliers

    return embedding_outliers(load(spark, "embeddings", sf), k=20)


EMBEDDING_OUTLIERS_SQL = r"""
WITH p AS (
    SELECT vec_id, label, s.pos AS pos, s.v AS v FROM (
        SELECT vec_id, label,
               unnest(list_transform(range(1, len(embedding) + 1),
                      i -> struct_pack(pos := i - 1, v := embedding[i]::DOUBLE))) AS s
        FROM embeddings)
),
cent AS (SELECT label, pos, avg(v) AS c FROM p GROUP BY label, pos),
d AS (
    SELECT p.vec_id, p.label, sqrt(sum((p.v - cent.c) ^ 2)) AS dist
    FROM p JOIN cent USING (label, pos) GROUP BY p.vec_id, p.label
),
st AS (SELECT label, avg(dist) AS mu, stddev(dist) AS sd FROM d GROUP BY label)
SELECT d.vec_id, d.label, round(d.dist, 4) AS dist,
       round((d.dist - st.mu) / st.sd, 4) AS z
FROM d JOIN st USING (label)
ORDER BY (d.dist - st.mu) / st.sd DESC, d.vec_id
LIMIT 20
"""


def unicode_normalize_op(spark: SparkSession, sf: str) -> DataFrame:
    """Unicode hygiene pass (operators/unicode_clean.py): NFC
    composition (Arrow pandas UDF ↔ DuckDB nfc_normalize, both
    canonical composition) + zero-width/control strip (pure codegen).
    The test corpus is pure ASCII, so — like `_synth_url` — the query
    injects a deterministic dirty prefix/suffix per doc_id class in
    BOTH engines: combining-acute 'cafe´' + ZWSP for doc_id%3==0, a C0
    control for %3==1, untouched otherwise (was_dirty stays false)."""
    from wc_vector_indexing_spark.operators.unicode_clean import unicode_clean

    docs = load(spark, "documents", sf)
    d = F.col("doc_id")
    mutated = (
        F.when(d % 3 == 0, F.concat(F.lit("cafe\u0301\u200b "), F.col("text")))
        .when(d % 3 == 1, F.concat(F.col("text"), F.lit("\x07")))
        .otherwise(F.col("text"))
    )
    out = unicode_clean(docs.withColumn("text", mutated), repair_mojibake=False)
    return out.select("doc_id", "text", "was_dirty").orderBy("doc_id")


UNICODE_SQL = r"""
WITH mut AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'cafe' || chr(769) || chr(8203) || ' ' || text
                WHEN doc_id % 3 = 1 THEN text || chr(7)
                ELSE text END AS t
    FROM documents
)
SELECT doc_id,
       regexp_replace(
           regexp_replace(nfc_normalize(t), '[\x{200b}\x{200c}\x{200d}\x{feff}]', '', 'g'),
           '[\x{00}-\x{08}\x{0b}-\x{1f}\x{7f}]', '', 'g') AS text,
       regexp_replace(
           regexp_replace(nfc_normalize(t), '[\x{200b}\x{200c}\x{200d}\x{feff}]', '', 'g'),
           '[\x{00}-\x{08}\x{0b}-\x{1f}\x{7f}]', '', 'g') <> t AS was_dirty
FROM mut
ORDER BY doc_id
"""


def training_triplets_op(spark: SparkSession, sf: str) -> DataFrame:
    """Contrastive training-pair generation — the composition the
    embedding-training story needs: POSITIVES are same-label near-dup
    pairs (dedup.embedding_cosine_pairs, cosine ≥ 0.35 — off any float
    boundary: nearest pair is >4e-4 away at both gate SFs), NEGATIVES
    are each anchor's hardest different-label vector
    (similarity.hard_negatives_batched, k=1 — the anchor set is
    DATA-DEPENDENT and grows with the corpus, so it streams to the
    driver in bounded 4096-row probe batches; the r8 sf1 rehearsal
    caught the unbatched form tripping the probe guard at 10x data).
    Output (anchor, positive, negative, pos_cos, neg_cos) is a
    ready-to-train triplet table; dedup and retrieval machinery reused
    unchanged."""
    from wc_vector_indexing_spark.operators.dedup import embedding_cosine_pairs
    from wc_vector_indexing_spark.operators.similarity import (
        hard_negatives_batched,
    )

    emb = load(spark, "embeddings", sf)
    pos = embedding_cosine_pairs(emb, threshold=0.35)
    anchors = emb.join(
        pos.select(F.col("id_a").alias("vec_id")).distinct(), "vec_id"
    )
    negs = hard_negatives_batched(anchors, emb, k=1)
    return (
        pos.join(negs, pos["id_a"] == negs["query_id"])
        .select(
            F.col("id_a").alias("anchor"),
            F.col("id_b").alias("positive"),
            F.col("neighbor_id").alias("negative"),
            F.col("cosine").alias("pos_cos"),
            F.round("score", 4).alias("neg_cos"),
        )
        .orderBy("anchor", "positive")
    )


TRAINING_TRIPLETS_SQL = r"""
WITH pos AS (
    SELECT a.vec_id AS anchor, b.vec_id AS positive,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS pos_cos
    FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
),
neg AS (
    SELECT q.vec_id AS anchor, e.vec_id AS negative,
           list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS c,
           row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                        e.vec_id
           ) AS rn
    FROM embeddings q JOIN embeddings e ON e.label <> q.label
    WHERE q.vec_id IN (SELECT anchor FROM pos)
)
SELECT pos.anchor, pos.positive, neg.negative, pos.pos_cos, round(neg.c, 4) AS neg_cos
FROM pos JOIN neg ON pos.anchor = neg.anchor AND neg.rn = 1
ORDER BY pos.anchor, pos.positive
"""


def topic_tagging_op(spark: SparkSession, sf: str) -> DataFrame:
    """Seeded-lexicon topic tagging (operators/textstats.topic_tagging):
    per-topic tf hit counts + first-max dominant topic, pure codegen."""
    from wc_vector_indexing_spark.operators.textstats import topic_tagging

    return topic_tagging(load(spark, "documents", sf)).orderBy("doc_id")


def _topic_sql() -> str:
    from wc_vector_indexing_spark.operators.textstats import TOPIC_SEEDS

    names = list(TOPIC_SEEDS)
    hit_cols = ",\n           ".join(
        "len(list_filter(toks, t -> list_contains(["
        + ", ".join(f"'{w}'" for w in TOPIC_SEEDS[n])
        + f"], t))) AS n_{n}"
        for n in names
    )
    best = "greatest(" + ", ".join(f"n_{n}" for n in names) + ")"
    first_max = "CASE " + " ".join(
        f"WHEN n_{n} = {best} AND {best} > 0 THEN '{n}'" for n in names
    ) + " ELSE 'other' END"
    cols = ", ".join(f"n_{n}" for n in names)
    return f"""
WITH t AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '') AS toks
    FROM documents
), h AS (
    SELECT doc_id,
           {hit_cols}
    FROM t
)
SELECT doc_id, {cols}, {first_max} AS topic
FROM h ORDER BY doc_id
"""


def readability_op(spark: SparkSession, sf: str) -> DataFrame:
    """Flesch reading ease (operators/textstats.readability): vowel-group
    syllable heuristic, three regexp_count projections, zero shuffle."""
    from wc_vector_indexing_spark.operators.textstats import readability

    return readability(load(spark, "documents", sf)).orderBy("doc_id")


READABILITY_SQL = r"""
WITH m AS (
    SELECT doc_id,
           greatest(len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')), 1) AS n_words,
           greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
           greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS n_syllables
    FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       round(206.835 - 1.015 * (n_words::DOUBLE / n_sentences)
                     - 84.6 * (n_syllables::DOUBLE / n_words), 4) AS flesch
FROM m ORDER BY doc_id
"""


def percentile_quality_op(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language dynamic quality thresholding (CCNet-style
    percentile gate, operators/textstats.percentile_quality_filter):
    keep each language's top 40% by quality score — exact ranked form;
    the 100 TB pass swaps in threshold_quality_filter (approx per-group
    quantiles broadcast back over an unshuffled scan)."""
    from wc_vector_indexing_spark.operators.textstats import (
        percentile_quality_filter,
    )

    return percentile_quality_filter(
        load(spark, "documents", sf), keep_frac=0.4
    ).orderBy("lang", "grp_rank")


PERCENTILE_QUALITY_SQL = """
WITH s AS (
    SELECT doc_id, lang,
           round(least(1.0, len(regexp_split_to_array(lower(trim(text)), '\\s+')) / 100.0) * 0.4
                 + (1.0 - length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / length(text)) * 0.3
                 + (1.0 - least(1.0, length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE / length(text) * 5.0)) * 0.3,
                 4) AS quality_score
    FROM documents
), r AS (
    SELECT *,
           row_number() OVER (PARTITION BY lang ORDER BY quality_score DESC, doc_id) AS grp_rank,
           count(*) OVER (PARTITION BY lang) AS grp_total
    FROM s
)
SELECT doc_id, lang, quality_score, grp_rank, grp_total
FROM r
WHERE grp_rank <= ceil(0.4 * grp_total)
ORDER BY lang, grp_rank
"""


def blocklist_gate_op(spark: SparkSession, sf: str) -> DataFrame:
    """C4 page-level blocklist rule (operators/heuristics.blocklist_gate):
    hit count + keep flag per document, pure codegen over the text scan.
    Demo list uses corpus vocabulary; production swaps in LDNOOBW."""
    from wc_vector_indexing_spark.operators.heuristics import blocklist_gate

    return blocklist_gate(
        load(spark, "documents", sf), blocklist=("slow", "dup")
    ).orderBy("doc_id")


BLOCKLIST_SQL = """
WITH h AS (
    SELECT doc_id,
           len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                           t -> t IN ('slow', 'dup'))) AS n_blocked
    FROM documents
)
SELECT doc_id, n_blocked, n_blocked <= 0 AS keep
FROM h ORDER BY doc_id
"""


def epoch_order_op(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic epoch shuffle (operators/sampling.epoch_order):
    shard + within-shard order as a pure function of (doc_id, seed) —
    reproducible training order with no global sort and no RNG state."""
    from wc_vector_indexing_spark.operators.sampling import epoch_order

    return epoch_order(
        load(spark, "documents", sf), seed="r5", n_shards=8
    ).orderBy("shard", "order_key")


EPOCH_ORDER_SQL = """
SELECT doc_id,
       ((('0x' || substr(sha256('r5' || doc_id::VARCHAR), 1, 8))::UBIGINT % 10000) % 8)::INT AS shard,
       md5('r5' || doc_id::VARCHAR) AS order_key
FROM documents
ORDER BY shard, order_key
"""


def matryoshka_recall_op(spark: SparkSession, sf: str) -> DataFrame:
    """Truncated-dimension retrieval eval (Matryoshka-style, Kusupati
    et al. 2022, public): recall@10 of cosine kNN using only the first
    d components vs the full-dim ground truth, for d ∈ {8, 16, 32, 64}
    over 20 query vectors — the measurement that decides how far an
    embedding column can be truncated (4-8× scan savings) before
    retrieval quality pays. d=64 is the sanity row (recall 1.0 by
    construction).

    Scale shape (r6 verdict fix): scoring runs on the
    `similarity.matryoshka_topk` probe-broadcast gemm — the 20-row
    probe set is collected once, each index partition scores all four
    prefix dims with one gemm each and ships only its local top-10 per
    (dim, qid); no 20×N cross join ever materializes and shuffle volume
    is independent of corpus size (same contract as
    `knn_similarity_join`, operators/similarity.py)."""
    from wc_vector_indexing_spark.operators.similarity import matryoshka_topk

    emb = load(spark, "embeddings", sf)
    q = emb.filter(F.col("vec_id") < 20)
    topk = matryoshka_topk(q, emb, dims=[8, 16, 32, 64], k=10).select(
        "dim", F.col("query_id").alias("qid"), F.col("neighbor_id").alias("vec_id")
    )
    truth = topk.filter(F.col("dim") == 64).select(
        F.col("qid").alias("t_qid"), F.col("vec_id").alias("t_id")
    )
    hits = (
        topk.join(
            truth,
            (F.col("qid") == F.col("t_qid")) & (F.col("vec_id") == F.col("t_id")),
        )
        .groupBy("dim", "qid")
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        hits.groupBy("dim")
        .agg(
            F.count("*").alias("n_queries"),
            F.round(F.avg(F.col("n_hit") / 10.0), 4).alias("mean_recall"),
        )
        .orderBy("dim")
    )


MATRYOSHKA_SQL = r"""
WITH q AS (SELECT vec_id AS qid, embedding AS q_emb FROM embeddings WHERE vec_id < 20),
scored AS (
    SELECT q.qid, e.vec_id, d.dim,
           list_cosine_similarity(q.q_emb[1:d.dim]::DOUBLE[], e.embedding[1:d.dim]::DOUBLE[]) AS score
    FROM q CROSS JOIN embeddings e CROSS JOIN (SELECT unnest([8, 16, 32, 64]) AS dim) d
),
topk AS (
    SELECT dim, qid, vec_id FROM (
        SELECT dim, qid, vec_id,
               row_number() OVER (PARTITION BY dim, qid ORDER BY score DESC, vec_id) AS rnk
        FROM scored) WHERE rnk <= 10
),
truth AS (SELECT qid, vec_id AS t_id FROM topk WHERE dim = 64),
hits AS (
    SELECT t.dim, t.qid, count(*) AS n_hit
    FROM topk t JOIN truth ON t.qid = truth.qid AND t.vec_id = truth.t_id
    GROUP BY t.dim, t.qid
)
SELECT dim, count(*) AS n_queries, round(avg(n_hit / 10.0), 4) AS mean_recall
FROM hits GROUP BY dim ORDER BY dim
"""


def funnel_stages_op(spark: SparkSession, sf: str) -> DataFrame:
    """Session funnel (operators/relational.funnel_stages): deepest
    view→click→purchase prefix completed in order per gap-session —
    the MATCH_RECOGNIZE shape as pure Catalyst array arithmetic (one
    session window + one per-session collect; the subsequence scan is
    array_position/slice codegen)."""
    from wc_vector_indexing_spark.operators.relational import funnel_stages

    return funnel_stages(load(spark, "events", sf))


FUNNEL_SQL = """
WITH g AS (
    SELECT user_id, event_id, ts, event_type,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800 * 1000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
), s AS (
    SELECT user_id, ts, event_id, event_type,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_id
    FROM g
), lst AS (
    SELECT user_id, session_id,
           list(event_type ORDER BY ts, event_id) AS types
    FROM s GROUP BY user_id, session_id
), scan AS (
    SELECT types,
           list_position(types, 'view') AS i1,
           CASE WHEN list_position(types, 'view') > 0
                THEN types[list_position(types, 'view') + 1:] END AS r1
    FROM lst
), scan2 AS (
    SELECT i1, r1, coalesce(list_position(r1, 'click'), 0) AS i2 FROM scan
), scan3 AS (
    SELECT i1, i2,
           CASE WHEN i2 > 0 THEN coalesce(list_position(r1[i2 + 1:], 'purchase'), 0)
                ELSE 0 END AS i3
    FROM scan2
), st AS (
    SELECT CASE WHEN i1 = 0 THEN 0
                WHEN i2 = 0 THEN 1
                WHEN i3 = 0 THEN 2
                ELSE 3 END AS stage
    FROM scan3
)
SELECT stage,
       (['(none)', 'view', 'click', 'purchase'])[stage + 1] AS step,
       count(*) AS n_sessions
FROM st GROUP BY stage ORDER BY stage
"""


def corpus_diff_op(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus version diff (operators/export.corpus_diff): two snapshots
    derived deterministically from the documents table (doc_id%7==0
    absent from old → added; %7==1 absent from new → removed; %7==2
    text-mutated → changed), full-outer hash-compare join, per-status
    counts."""
    from wc_vector_indexing_spark.operators.export import corpus_diff

    docs = load(spark, "documents", sf)
    d = F.col("doc_id")
    old = docs.filter(d % 7 != 0)
    new = docs.filter(d % 7 != 1).withColumn(
        "text",
        F.when(d % 7 == 2, F.concat(F.col("text"), F.lit(" v2"))).otherwise(
            F.col("text")
        ),
    )
    return (
        corpus_diff(old, new)
        .groupBy("status")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("status")
    )


CORPUS_DIFF_SQL = """
WITH old AS (
    SELECT doc_id, sha256(text) AS h FROM documents WHERE doc_id % 7 <> 0
), new AS (
    SELECT doc_id,
           sha256(CASE WHEN doc_id % 7 = 2 THEN text || ' v2' ELSE text END) AS h
    FROM documents WHERE doc_id % 7 <> 1
), j AS (
    SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
           CASE WHEN old.h IS NULL THEN 'added'
                WHEN new.h IS NULL THEN 'removed'
                WHEN old.h = new.h THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
)
SELECT status, count(*) AS n_docs FROM j GROUP BY status ORDER BY status
"""


def purchase_attribution_op(spark: SparkSession, sf: str) -> DataFrame:
    """Attribution interval join (streaming/incremental.
    interval_join_stream, batch form of the watermarked stream-stream
    join): each purchase paired with the clicks by the same user in the
    preceding 30 minutes, rolled up to (n_attributed_clicks,
    last_click_gap_s) per purchase. The same function runs as a true
    two-sided-watermark stream-stream join (equivalence-tested in
    test_streaming.py); batch and SQL agree exactly. One shuffle per
    side on user_id; the time range is a residual predicate inside the
    key, never a blowup."""
    from wc_vector_indexing_spark.streaming.incremental import interval_join_stream

    ev = load(spark, "events", sf)
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click")
    joined = interval_join_stream(purchases, clicks, gap_seconds=6 * 3600)
    return (
        joined.groupBy(F.col("l_event_id").alias("purchase_id"))
        .agg(
            F.count("*").alias("n_attributed_clicks"),
            F.max(F.col("r_ts")).alias("_last_click"),
            F.max(F.col("l_ts")).alias("_pts"),
        )
        .select(
            "purchase_id",
            "n_attributed_clicks",
            F.round(
                F.col("_pts").cast("double") - F.col("_last_click").cast("double"), 1
            ).alias("last_click_gap_s"),
        )
        .orderBy("purchase_id")
    )


PURCHASE_ATTRIBUTION_SQL = r"""
SELECT p.event_id AS purchase_id,
       count(*) AS n_attributed_clicks,
       round(epoch(p.ts) - max(epoch(c.ts)), 1) AS last_click_gap_s
FROM events p
JOIN events c
  ON p.event_type = 'purchase' AND c.event_type = 'click'
 AND p.user_id = c.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 21600 SECONDS
GROUP BY p.event_id, p.ts
ORDER BY purchase_id
"""


def overlapping_sessions_op(spark: SparkSession, sf: str) -> DataFrame:
    """Interval × interval overlap (operators/relational.
    interval_overlap_join): gap-sessionize each user's stream, take
    session [min ts, max ts] intervals, and find the 20 longest
    cross-user session overlaps. The bin-bucketed equi-join shape —
    both interval sides explode to covered hour bins, pairs emitted
    only in the later start's bin (in-row dedup) — with the exact
    overlap predicate residual; the oracle runs the naive theta-join."""
    from wc_vector_indexing_spark.operators.relational import (
        interval_overlap_join,
        sessionize,
    )

    ev = load(spark, "events", sf)
    sess = (
        sessionize(ev, gap_seconds=1800, order_tiebreak="event_id")
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts"))
    )
    pairs = interval_overlap_join(sess, sess, bucket_seconds=3600)
    cross_user = pairs.filter(F.col("user_id_l") < F.col("user_id_r"))
    return (
        cross_user.select(
            F.col("user_id_l").alias("user_a"),
            F.col("session_id_l").alias("session_a"),
            F.col("user_id_r").alias("user_b"),
            F.col("session_id_r").alias("session_b"),
            "overlap_us",
        )
        .orderBy(
            F.desc("overlap_us"), "user_a", "session_a", "user_b", "session_b"
        )
        .limit(20)
    )


OVERLAP_SESSIONS_SQL = """
WITH g AS (
    SELECT user_id, event_id, ts,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800 * 1000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
), s AS (
    SELECT user_id, ts,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
    FROM g
), sess AS (
    SELECT user_id, session_id,
           min(epoch_us(ts)) AS s_us, max(epoch_us(ts)) AS e_us
    FROM s GROUP BY user_id, session_id
)
SELECT a.user_id AS user_a, a.session_id AS session_a,
       b.user_id AS user_b, b.session_id AS session_b,
       (least(a.e_us, b.e_us) - greatest(a.s_us, b.s_us))::BIGINT AS overlap_us
FROM sess a JOIN sess b
  ON a.user_id < b.user_id AND a.s_us < b.e_us AND b.s_us < a.e_us
ORDER BY overlap_us DESC, user_a, session_a, user_b, session_b
LIMIT 20
"""


def ccnet_buckets_op(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet perplexity terciles (operators/lm_score.ccnet_buckets):
    per-language head/middle/tail split of unigram-LM NLL with exact
    interpolated thresholds (oracle: quantile_cont on the same rounded
    scores)."""
    from wc_vector_indexing_spark.operators.lm_score import ccnet_buckets

    return ccnet_buckets(load(spark, "documents", sf)).orderBy("lang", "bucket")


CCNET_SQL = r"""
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')) AS tok
    FROM documents
),
model AS (
    SELECT tok, ln(count(*) / (SELECT count(*)::DOUBLE FROM toks)) AS logp
    FROM toks GROUP BY tok
),
sc AS (
    SELECT t.doc_id, round(avg(-m.logp), 4) AS avg_neg_logp
    FROM toks t JOIN model m USING (tok)
    GROUP BY t.doc_id
),
s AS (SELECT d.lang, sc.avg_neg_logp FROM sc JOIN documents d USING (doc_id)),
thr AS (
    SELECT lang,
           quantile_cont(avg_neg_logp, 1.0 / 3) AS t1,
           quantile_cont(avg_neg_logp, 2.0 / 3) AS t2
    FROM s GROUP BY lang
)
SELECT s.lang,
       CASE WHEN avg_neg_logp <= t1 THEN 'head'
            WHEN avg_neg_logp <= t2 THEN 'middle'
            ELSE 'tail' END AS bucket,
       count(*) AS n_docs,
       round(avg(avg_neg_logp), 4) AS mean_nll
FROM s JOIN thr USING (lang)
GROUP BY 1, 2
ORDER BY 1, 2
"""


def tokenizer_eval_op(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer compression scorecard, oracle-backed rungs
    (operators/bpe.tokenizer_eval with merges=None): whitespace vs
    regex-BPE-ish bytes-per-token over one corpus scan — both rungs are
    pure codegen regex arithmetic with an exact DuckDB twin. The
    trained-BPE rung lives in `tokenizer_eval_bpe` (rows-only; encode
    is not SQL-expressible) so the driver-gate entry stays hash-checked."""
    from wc_vector_indexing_spark.operators.bpe import tokenizer_eval

    return tokenizer_eval(load(spark, "documents", sf), None).orderBy("tokenizer")


TOKENIZER_EVAL_SQL = r"""
WITH s AS (
    SELECT sum(strlen(text))::BIGINT AS n_bytes,
           sum(len(regexp_split_to_array(lower(trim(text)), '\s+')))::BIGINT AS ws_tokens,
           sum(len(regexp_extract_all(text, '\w+'))
               + len(list_filter(regexp_extract_all(text, '[^\w]+'),
                                 x -> trim(x) <> '')))::BIGINT AS re_tokens
    FROM documents
)
SELECT 'regex_bpeish' AS tokenizer, re_tokens AS n_tokens, n_bytes,
       round(n_bytes::DOUBLE / re_tokens, 4) AS bytes_per_token FROM s
UNION ALL
SELECT 'whitespace', ws_tokens, n_bytes,
       round(n_bytes::DOUBLE / ws_tokens, 4) FROM s
ORDER BY tokenizer
"""


def tokenizer_eval_bpe_op(spark: SparkSession, sf: str) -> DataFrame:
    """Full three-rung scorecard incl. the corpus-trained 40-merge BPE
    (operators/bpe): rows-only — the trained encode isn't SQL-
    expressible; the merge loop and encoder are golden-tested in
    tests/test_bpe.py and the two untrained rungs are hash-checked via
    `tokenizer_eval`."""
    from wc_vector_indexing_spark.operators.bpe import (
        tokenizer_eval,
        train_or_load_bpe,
    )

    docs = load(spark, "documents", sf)
    merges = train_or_load_bpe(docs, _bpe_artifact_path(sf), num_merges=40, min_pair_count=2)
    return tokenizer_eval(docs, merges).orderBy("tokenizer")


def image_dedup_op(
    spark: SparkSession, sf: str, *, n: int = 128, patterns: int = 32
) -> DataFrame:
    """Perceptual image dedup (operators/multimodal.image_dhash /
    image_near_pairs): documents are rendered into deterministic PGM
    gradient images — doc_ids sharing ``doc_id % 32`` get the same
    gradient at different brightness/resolution, so they are TRUE
    perceptual near-dups with different bytes. The dHash prefix-block
    join must recover exactly those groups — and because the planted
    ground truth is pure doc_id arithmetic, the expected pair set IS
    SQL-expressible: the DuckDB oracle enumerates same-pattern pairs
    over the same lowest-128 doc_ids with Hamming 0 (a uniform
    brightness shift and a nearest-neighbour-exact rescale both
    preserve every dHash gradient comparison, so true near-dups hash
    identically; the hash arithmetic itself is golden-tested in
    test_multimodal.py).

    ``n``/``patterns`` exist for the scaling-curvature bench
    (tools/bench_sf1.py): 10x blobs with 10x the pattern space keeps
    the dup-group size — hence the workload SHAPE — constant while the
    decode + blocked-join volume grows 10x. The registry/oracle always
    use the defaults."""
    from wc_vector_indexing_spark.operators.multimodal import image_near_pairs

    docs = load(spark, "documents", sf).select("doc_id").orderBy("doc_id").limit(n).repartition(max(1, min(32, n // 32)))

    def render(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, kinds, blobs = [], [], []
            for doc_id in pdf["doc_id"]:
                pat = int(doc_id) % patterns
                shift = (int(doc_id) // patterns % 3) * 20
                # high-contrast 8×9 block pattern per pat; rendered at
                # two resolutions whose nearest-neighbour 9×8 thumbs
                # recover the SAME grid — true perceptual duplicates
                # with different bytes
                grid = np.random.RandomState(1000 + pat).randint(0, 2, (8, 9)) * 255
                scale = 2 if int(doc_id) % 2 == 0 else 4
                img = np.clip(
                    np.kron(grid, np.ones((scale, scale), dtype=int)) + shift, 0, 255
                ).astype(np.uint8)
                h, w = img.shape
                blobs.append(b"P5\n%d %d\n255\n" % (w, h) + img.tobytes())
                ids.append(int(doc_id))
                kinds.append("image")
            yield pd.DataFrame({"media_id": ids, "kind": kinds, "content": blobs})

    media = docs.mapInPandas(render, schema="media_id long, kind string, content binary")
    return image_near_pairs(media, max_hamming=4).orderBy("media_a", "media_b")


IMAGE_DEDUP_SQL = r"""
WITH ids AS (
    SELECT doc_id FROM documents ORDER BY doc_id LIMIT 128
)
SELECT a.doc_id AS media_a, b.doc_id AS media_b, 0 AS hamming
FROM ids a JOIN ids b
  ON a.doc_id % 32 = b.doc_id % 32 AND a.doc_id < b.doc_id
ORDER BY media_a, media_b
"""


def image_dedup_progressive_op(spark: SparkSession, sf: str) -> DataFrame:
    """Progressive-JPEG dedup (operators/jpeg SOF2 decode inside the
    perceptual pipeline): doc_ids sharing ``doc_id % 24`` render the
    SAME 16×16 block pattern, encoded as BASELINE JPEG for even
    doc_ids and PROGRESSIVE JPEG (spectral selection + successive
    approximation scans) for odd ones. Successive approximation at
    depth 1 reconstructs coefficients exactly, so both encodings
    decode to identical pixels and the dHash join must report every
    same-pattern pair at Hamming 0 — driver-validating the SOF2
    decoder end-to-end. Planted truth ⇒ DuckDB oracle enumerates
    same-pattern pairs over the lowest-96 doc_ids."""
    from wc_vector_indexing_spark.operators.multimodal import image_near_pairs

    docs = load(spark, "documents", sf).select("doc_id").orderBy("doc_id").limit(96).repartition(3)

    def render(batches):
        import numpy as np
        import pandas as pd

        from wc_vector_indexing_spark.operators.jpeg import (
            encode_baseline,
            encode_progressive,
        )

        for pdf in batches:
            ids, kinds, blobs = [], [], []
            for doc_id in pdf["doc_id"]:
                pat = int(doc_id) % 24
                grid = np.random.RandomState(2000 + pat).randint(0, 2, (8, 8)) * 255
                img = np.kron(grid, np.ones((2, 2), dtype=int)).astype(np.uint8)
                enc = encode_baseline if int(doc_id) % 2 == 0 else encode_progressive
                blobs.append(enc(img))
                ids.append(int(doc_id))
                kinds.append("image")
            yield pd.DataFrame({"media_id": ids, "kind": kinds, "content": blobs})

    media = docs.mapInPandas(render, schema="media_id long, kind string, content binary")
    return image_near_pairs(media, max_hamming=4).orderBy("media_a", "media_b")


IMAGE_DEDUP_PROG_SQL = r"""
WITH ids AS (
    SELECT doc_id FROM documents ORDER BY doc_id LIMIT 96
)
SELECT a.doc_id AS media_a, b.doc_id AS media_b, 0 AS hamming
FROM ids a JOIN ids b
  ON a.doc_id % 24 = b.doc_id % 24 AND a.doc_id < b.doc_id
ORDER BY media_a, media_b
"""


def image_dedup_arith_op(spark: SparkSession, sf: str) -> DataFrame:
    """Arithmetic-JPEG dedup (operators/jpeg_arith SOF9 decode inside
    the perceptual pipeline): doc_ids sharing ``doc_id % 24`` render
    the SAME 16×16 block pattern, encoded as BASELINE Huffman, SOF9
    SEQUENTIAL-ARITHMETIC, or SOF10 PROGRESSIVE-ARITHMETIC JPEG by
    ``doc_id % 3``. All three share the unit-quant coefficient truth,
    so they decode to identical pixels and the dHash join must report
    every same-pattern pair at Hamming 0 — driver-validating both QM
    decoder paths end-to-end.
    Planted truth ⇒ DuckDB oracle enumerates same-pattern pairs over
    the lowest-96 doc_ids."""
    from wc_vector_indexing_spark.operators.multimodal import image_near_pairs

    docs = load(spark, "documents", sf).select("doc_id").orderBy("doc_id").limit(96).repartition(3)

    def render(batches):
        import numpy as np
        import pandas as pd

        from wc_vector_indexing_spark.operators.jpeg import encode_baseline
        from wc_vector_indexing_spark.operators.jpeg_arith import (
            encode_arith,
            encode_progressive_arith,
        )

        encoders = [encode_baseline, encode_arith, encode_progressive_arith]
        for pdf in batches:
            ids, kinds, blobs = [], [], []
            for doc_id in pdf["doc_id"]:
                pat = int(doc_id) % 24
                grid = np.random.RandomState(2000 + pat).randint(0, 2, (8, 8)) * 255
                img = np.kron(grid, np.ones((2, 2), dtype=int)).astype(np.uint8)
                enc = encoders[int(doc_id) % 3]
                blobs.append(enc(img))
                ids.append(int(doc_id))
                kinds.append("image")
            yield pd.DataFrame({"media_id": ids, "kind": kinds, "content": blobs})

    media = docs.mapInPandas(render, schema="media_id long, kind string, content binary")
    return image_near_pairs(media, max_hamming=4).orderBy("media_a", "media_b")


def audio_dedup_op(
    spark: SparkSession,
    sf: str,
    *,
    n: int = 96,
    patterns: int = 24,
    enumerate_pairs: bool = False,
) -> DataFrame:
    """Perceptual audio dedup (operators/audio.audio_near_pairs):
    documents are rendered into deterministic two-tone WAV clips —
    doc_ids sharing ``doc_id % 24`` get the SAME tone pair (placed at
    distinct log-band centers, so every pattern has a unique band
    signature) at a different per-copy gain, i.e. true re-leveled
    re-encodes with different bytes. The Haitsma-Kalker band-comparison
    fingerprint cancels gain, so the Hamming join must recover exactly
    the same-pattern groups at distance 0 — pure doc_id arithmetic,
    hence the DuckDB oracle. The fingerprint math itself is
    golden-tested in test_audio.py.

    ``n``/``patterns``/``enumerate_pairs`` serve the scaling-curvature
    bench (tools/bench_sf1.py). The fingerprint filterbank has 17 fixed
    bands, so at most C(17,2)=136 tone-pair patterns carry distinct
    band signatures; ``enumerate_pairs=True`` indexes unordered band
    pairs lexicographically, letting the bench compare n=96/p=12
    against n=960/p=120 at a CONSTANT dup-group size of 8 — 10x decode
    + FFT + join volume with the workload shape held fixed. The
    registry/oracle always use the default legacy formula."""
    import numpy as np

    from wc_vector_indexing_spark.operators.audio import audio_near_pairs

    docs = load(spark, "documents", sf).select("doc_id").orderBy("doc_id").limit(n).repartition(max(1, min(32, n // 32)))
    edges = np.geomspace(300.0, 4000.0, 18)
    centers = np.sqrt(edges[:-1] * edges[1:])
    band_pairs = [(i, j) for i in range(17) for j in range(i + 1, 17)]
    if enumerate_pairs and patterns > len(band_pairs):
        raise ValueError(f"at most {len(band_pairs)} distinct tone-pair patterns")

    def render(batches):
        import io
        import wave

        import pandas as pd

        rate = 8000
        t = np.arange(2000) / rate  # 0.25 s
        ids, kinds, blobs = [], [], []
        for pdf in batches:
            for doc_id in pdf["doc_id"]:
                pat = int(doc_id) % patterns
                if enumerate_pairs:
                    b1, b2 = band_pairs[pat]
                else:
                    b1, b2 = pat % 8, 8 + (3 * pat) % 7  # unique band pair
                gain = 0.15 + (int(doc_id) // patterns % 4) * 0.2
                x = gain * (
                    0.5 * np.sin(2 * np.pi * centers[b1] * t)
                    + 0.35 * np.sin(2 * np.pi * centers[b2] * t)
                )
                pcm = np.clip(x * 32767.0, -32768, 32767).astype("<i2")
                buf = io.BytesIO()
                with wave.open(buf, "wb") as wf:
                    wf.setnchannels(1)
                    wf.setsampwidth(2)
                    wf.setframerate(rate)
                    wf.writeframes(pcm.tobytes())
                ids.append(int(doc_id))
                kinds.append("audio")
                blobs.append(buf.getvalue())
            yield pd.DataFrame({"media_id": ids, "kind": kinds, "content": blobs})
            ids, kinds, blobs = [], [], []

    media = docs.mapInPandas(render, schema="media_id long, kind string, content binary")
    return audio_near_pairs(media, max_hamming=4).orderBy("media_a", "media_b")


AUDIO_DEDUP_SQL = r"""
WITH ids AS (
    SELECT doc_id FROM documents ORDER BY doc_id LIMIT 96
)
SELECT a.doc_id AS media_a, b.doc_id AS media_b, 0 AS hamming
FROM ids a JOIN ids b
  ON a.doc_id % 24 = b.doc_id % 24 AND a.doc_id < b.doc_id
ORDER BY media_a, media_b
"""


def video_dedup_op(
    spark: SparkSession, sf: str, *, n: int = 48, patterns: int = 12
) -> DataFrame:
    """Re-mux video dedup (operators/video.py): documents are rendered
    into MJPEG-AVI clips — doc_ids sharing ``doc_id % 12`` carry the
    SAME three frames but are muxed at a different fps (different
    container bytes, byte-identical frame payloads: the re-encoded-
    upload case). The frame-sequence signature join must recover
    exactly the same-pattern groups; pure doc_id arithmetic ⇒ DuckDB
    oracle. RIFF walk, JPEG decode, and dHash are golden-tested in
    test_video.py / test_jpeg.py.

    ``n``/``patterns`` serve the scaling-curvature bench
    (tools/bench_sf1.py) — scale both 10x and the dup-group size (and
    so the workload shape) stays constant while decode volume grows
    10x. The registry/oracle always use the defaults."""
    import numpy as np

    from wc_vector_indexing_spark.operators.jpeg import encode_baseline
    from wc_vector_indexing_spark.operators.video import (
        video_near_pairs,
        write_mjpeg_avi,
    )

    docs = load(spark, "documents", sf).select("doc_id").orderBy("doc_id").limit(n).repartition(max(1, min(32, n // 32)))

    def render(batches):
        import pandas as pd

        for pdf in batches:
            ids, kinds, blobs = [], [], []
            for doc_id in pdf["doc_id"]:
                pat = int(doc_id) % patterns
                frames = []
                for fno in range(3):
                    g = np.random.RandomState(5000 + pat * 8 + fno)
                    grid = g.permutation(72).reshape(8, 9) * 3
                    frames.append(
                        np.kron(grid, np.ones((2, 8))).astype(np.uint8)[:16, :24]
                    )
                fps = 5 + (int(doc_id) // patterns % 4) * 5  # container-only change
                avi = write_mjpeg_avi(
                    [encode_baseline(f) for f in frames], 24, 16, fps=fps
                )
                ids.append(int(doc_id))
                kinds.append("video")
                blobs.append(avi)
            yield pd.DataFrame({"media_id": ids, "kind": kinds, "content": blobs})

    media = docs.mapInPandas(render, schema="media_id long, kind string, content binary")
    return video_near_pairs(media).orderBy("media_a", "media_b")


VIDEO_DEDUP_SQL = r"""
WITH ids AS (
    SELECT doc_id FROM documents ORDER BY doc_id LIMIT 48
)
SELECT a.doc_id AS media_a, b.doc_id AS media_b
FROM ids a JOIN ids b
  ON a.doc_id % 12 = b.doc_id % 12 AND a.doc_id < b.doc_id
ORDER BY media_a, media_b
"""


def media_format_census_op(spark: SparkSession, sf: str) -> DataFrame:
    """Crawl-side media triage (operators/bmp_gif.sniff_format): every
    document renders into real bytes of a format chosen by doc_id
    arithmetic — JPEG (the package encoder), PGM, PCM WAV, MJPEG-AVI,
    MP3 (operators/mp3.to_mp3_bytes — r8, the dominant real crawl
    audio format), ADTS AAC, H.264 Annex B and an ISOBMFF MP4 skeleton
    (operators/aac.py, h264.py, mp4.py — late r8), or un-sniffable
    junk — and the census counts what the magic-byte router sees.
    Planted truth ⇒ DuckDB oracle; one zero-shuffle Arrow render+sniff
    pass + a 9-group count agg."""
    import io
    import wave

    import numpy as np

    from wc_vector_indexing_spark.operators.aac import to_adts_bytes
    from wc_vector_indexing_spark.operators.bmp_gif import sniff_format
    from wc_vector_indexing_spark.operators.h264 import to_annexb_bytes
    from wc_vector_indexing_spark.operators.jpeg import encode_baseline
    from wc_vector_indexing_spark.operators.mp3 import to_mp3_bytes
    from wc_vector_indexing_spark.operators.mp4 import to_mp4_bytes
    from wc_vector_indexing_spark.operators.video import write_mjpeg_avi

    docs = load(spark, "documents", sf).select("doc_id")

    def render(batches):
        import pandas as pd

        img = (np.arange(64, dtype=np.uint8).reshape(8, 8) * 3) % 256
        jpeg = encode_baseline(img)
        pgm = b"P5\n8 8\n255\n" + img.tobytes()
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(2)
            wf.setframerate(8000)
            wf.writeframes(b"\x00\x00" * 64)
        wav = buf.getvalue()
        avi = write_mjpeg_avi([jpeg], 8, 8)
        mp3 = to_mp3_bytes(4, 128, 44100, id3_comment=b"census fixture")
        aac = to_adts_bytes(4, 64, sfi=4, channels=2, profile=1)
        h264 = to_annexb_bytes(8, 6, 3)
        mp4 = to_mp4_bytes(2000, 1000, 64, 48)
        variants = [jpeg, pgm, wav, avi, mp3, aac, h264, mp4, b"\x00junkbytes"]
        for pdf in batches:
            fmts = [
                sniff_format(variants[int(d) % 9]) for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "format": fmts})

    return (
        docs.mapInPandas(render, schema="doc_id long, format string")
        .groupBy("format")
        .agg(F.count("*").alias("n"))
        .orderBy("format")
    )


MEDIA_CENSUS_SQL = r"""
SELECT CASE doc_id % 9
         WHEN 0 THEN 'jpeg' WHEN 1 THEN 'pgm' WHEN 2 THEN 'wav'
         WHEN 3 THEN 'avi' WHEN 4 THEN 'mp3' WHEN 5 THEN 'aac'
         WHEN 6 THEN 'h264' WHEN 7 THEN 'mp4' ELSE 'unknown' END AS format,
       count(*) AS n
FROM documents
GROUP BY 1
ORDER BY format
"""


def corrupt_media_quarantine_op(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end corrupt-media quarantine (the r10 verdict's
    interior-corruption theme made driver-gated): a mixed clean/corrupt
    media corpus flows through the real decode path
    (multimodal.extract_features with StdlibCodec, on_error='mark') and
    every corrupt member must come out as a MARKED row — never a
    failed task — with PNG corruption specifically DETECTED by the
    chunk-CRC check rather than decoded into silently wrong pixels.

    Planted fixture over the lowest-96 doc_ids, slot = doc_id % 6:
      0 clean baseline JPEG   3 JPEG truncated to 60% (mid-scan)
      1 clean PNG             4 PNG with one IDAT byte flipped
      2 clean PCM WAV           (stored CRC now mismatches)
      5 WAV chopped to 25 bytes (header gone)

    The gated answer groups by (fmt, outcome) where fmt is sniffed
    from the CONTENT magic bytes (pure codegen hex prefixes, not the
    plant echoed back) and outcome folds the quarantine contract:
    decoded / crc_detected (decode_error mentions the PNG CRC
    mismatch) / quarantined. Planted truth ⇒ closed-form DuckDB
    oracle. Scale shape: one Arrow render pass + one Arrow decode
    pass + a 6-group count agg — zero corpus shuffles before the
    final tiny aggregate; exactly how a 100 TB crawl would audit its
    decode front door."""
    from wc_vector_indexing_spark.operators.multimodal import (
        StdlibCodec,
        extract_features,
    )

    docs = (load(spark, "documents", sf).select("doc_id")
            .orderBy("doc_id").limit(96).repartition(3))

    def render(batches):
        import io
        import struct
        import wave
        import zlib

        import numpy as np
        import pandas as pd

        from wc_vector_indexing_spark.operators.jpeg import encode_baseline

        def png_bytes(img):
            h, w = img.shape

            def chunk(t, d):
                return (struct.pack(">I", len(d)) + t + d
                        + struct.pack(">I", zlib.crc32(t + d)))

            ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
            raw = b"".join(b"\x00" + img[y].tobytes() for y in range(h))
            return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                    + chunk(b"IDAT", zlib.compress(raw))
                    + chunk(b"IEND", b""))

        def wav_bytes(seed):
            t = np.arange(400)
            pcm = (np.sin(2 * np.pi * (220 + 10 * seed) * t / 8000)
                   * 12000).astype("<i2")
            buf = io.BytesIO()
            with wave.open(buf, "wb") as wf:
                wf.setnchannels(1)
                wf.setsampwidth(2)
                wf.setframerate(8000)
                wf.writeframes(pcm.tobytes())
            return buf.getvalue()

        for pdf in batches:
            ids, blobs = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                slot, pat = d % 6, d % 17
                yy, xx = np.mgrid[0:16, 0:16]
                img = ((yy * (3 + pat) + xx * (5 + pat)) % 256).astype(
                    np.uint8)
                if slot == 0:
                    blob = encode_baseline(img)
                elif slot == 1:
                    blob = png_bytes(img)
                elif slot == 2:
                    blob = wav_bytes(pat)
                elif slot == 3:
                    j = encode_baseline(img)
                    blob = j[: int(len(j) * 0.6)]
                elif slot == 4:
                    p = bytearray(png_bytes(img))
                    p[p.find(b"IDAT") + 8] ^= 0x80
                    blob = bytes(p)
                else:
                    blob = wav_bytes(pat)[:25]
                ids.append(d)
                blobs.append(blob)
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    media = docs.mapInPandas(
        render, schema="media_id long, content binary")
    # fmt from the bytes themselves (magic sniff as codegen hex
    # prefixes); kind routes the codec the same way a crawl pipeline
    # would — by container, not by any planted column
    media = media.withColumn(
        "fmt",
        F.when(F.hex(F.substring("content", 1, 2)) == "FFD8", "jpeg")
        .when(F.hex(F.substring("content", 1, 4)) == "89504E47", "png")
        .when(F.hex(F.substring("content", 1, 4)) == "52494646", "wav")
        .otherwise("unknown"),
    ).withColumn(
        "kind", F.when(F.col("fmt") == "wav", "audio").otherwise("image")
    )
    feats = extract_features(media, codec=StdlibCodec(), on_error="mark")
    outcome = (
        F.when(F.col("decode_error").isNull(), "decoded")
        .when(F.col("decode_error").contains("CRC mismatch"),
              "crc_detected")
        .otherwise("quarantined")
    )
    return (
        feats.groupBy("fmt", outcome.alias("outcome"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("fmt", "outcome")
    )


CORRUPT_MEDIA_QUARANTINE_SQL = r"""
WITH ids AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 96),
cls AS (
    SELECT CASE doc_id % 6
             WHEN 0 THEN 'jpeg' WHEN 3 THEN 'jpeg'
             WHEN 1 THEN 'png'  WHEN 4 THEN 'png'
             ELSE 'wav' END AS fmt,
           CASE WHEN doc_id % 6 < 3 THEN 'decoded'
                WHEN doc_id % 6 = 4 THEN 'crc_detected'
                ELSE 'quarantined' END AS outcome
    FROM ids)
SELECT fmt, outcome, count(*) AS n_docs
FROM cls GROUP BY 1, 2
ORDER BY fmt, outcome
"""


def aac_adts_census_op(
    spark: SparkSession, sf: str, *, _audit: bool = False
) -> DataFrame:
    """ADTS AAC header census (operators/aac.parse_adts_headers):
    every document renders into a structurally valid ADTS stream whose
    frame count, sampling-frequency index, channel config and profile
    derive from doc_id by arithmetic (every fourth stream carries CRC
    headers the walk must account for), and the parsed metadata comes
    back out. duration_us is exact integer arithmetic over the public
    sample-rate table ⇒ the DuckDB oracle reproduces it bit-for-bit.
    One zero-shuffle Arrow render+parse pass (the mp3_frame_census
    pattern)."""
    from wc_vector_indexing_spark.operators.aac import (
        parse_adts_headers,
        to_adts_bytes,
    )

    docs = load(spark, "documents", sf).select("doc_id")

    def render(batches):
        import pandas as pd

        cols = ["doc_id", "n_frames", "duration_us", "sample_rate",
                "channels", "profile"]
        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = int(d)
                data = to_adts_bytes(
                    n_frames=4 + d % 17,
                    payload_len=40 + d % 100,
                    sfi=d % 12,
                    channels=1 + d % 6,
                    profile=d % 4,
                    crc=d % 4 == 3,
                )
                meta = parse_adts_headers(data)
                out.append({"doc_id": d, **{k: meta[k] for k in cols[1:]}})
            yield pd.DataFrame(out, columns=cols)

    return _ckpt_sorted(docs.mapInPandas(
        render,
        schema="doc_id long, n_frames long, duration_us long, "
               "sample_rate long, channels long, profile string",
    ), "doc_id", audit=_audit)


AAC_CENSUS_SQL = r"""
WITH t AS (
    SELECT doc_id,
           4 + doc_id % 17 AS n_frames,
           CASE doc_id % 12
             WHEN 0 THEN 96000 WHEN 1 THEN 88200 WHEN 2 THEN 64000
             WHEN 3 THEN 48000 WHEN 4 THEN 44100 WHEN 5 THEN 32000
             WHEN 6 THEN 24000 WHEN 7 THEN 22050 WHEN 8 THEN 16000
             WHEN 9 THEN 12000 WHEN 10 THEN 11025 ELSE 8000
           END AS sample_rate,
           1 + doc_id % 6 AS channels,
           CASE doc_id % 4
             WHEN 0 THEN 'main' WHEN 1 THEN 'lc' WHEN 2 THEN 'ssr'
             ELSE 'ltp' END AS profile
    FROM documents
)
SELECT doc_id, n_frames,
       (n_frames * 1024 * 1000000) // sample_rate AS duration_us,
       sample_rate::BIGINT AS sample_rate,
       channels::BIGINT AS channels,
       profile
FROM t
ORDER BY doc_id
"""


def flac_streaminfo_census_op(spark: SparkSession, sf: str) -> DataFrame:
    """FLAC STREAMINFO triage (operators/flac.parse_flac_streaminfo):
    every document renders into a valid fLaC header whose bit-packed
    rate/channels/depth/total-samples derive from doc_id arithmetic
    (every second file inserts a VORBIS_COMMENT block the walk must
    step over; every fifth plants total_samples=0, the spec's
    'unknown', which must surface as NULL duration). Exact integer µs
    ⇒ DuckDB oracle. One zero-shuffle Arrow render+parse pass."""
    from wc_vector_indexing_spark.operators.flac import (
        parse_flac_streaminfo,
        to_flac_bytes,
    )

    docs = load(spark, "documents", sf).select("doc_id")
    rates = [8000, 16000, 22050, 24000, 32000, 44100, 48000, 96000]

    def render(batches):
        import pandas as pd

        cols = ["doc_id", "sample_rate", "channels", "bits_per_sample",
                "total_samples", "duration_us"]
        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = int(d)
                data = to_flac_bytes(
                    sample_rate=rates[d % 8],
                    channels=1 + d % 8,
                    bits_per_sample=8 + (d % 3) * 8,
                    total_samples=0 if d % 5 == 4 else 1000 + (d * 31) % 10_000_000,
                    with_vorbis_comment=d % 2 == 0,
                )
                meta = parse_flac_streaminfo(data)
                out.append({"doc_id": d, **{k: meta[k] for k in cols[1:]}})
            yield pd.DataFrame(out, columns=cols)

    return docs.mapInPandas(
        render,
        schema="doc_id long, sample_rate long, channels long, "
               "bits_per_sample long, total_samples long, duration_us long",
    ).orderBy("doc_id")


FLAC_CENSUS_SQL = r"""
WITH t AS (
    SELECT doc_id,
           CASE doc_id % 8
             WHEN 0 THEN 8000 WHEN 1 THEN 16000 WHEN 2 THEN 22050
             WHEN 3 THEN 24000 WHEN 4 THEN 32000 WHEN 5 THEN 44100
             WHEN 6 THEN 48000 ELSE 96000 END AS sample_rate,
           1 + doc_id % 8 AS channels,
           8 + (doc_id % 3) * 8 AS bits_per_sample,
           CASE WHEN doc_id % 5 = 4 THEN 0
                ELSE 1000 + (doc_id * 31) % 10000000 END AS total_samples
    FROM documents
)
SELECT doc_id, sample_rate::BIGINT AS sample_rate, channels::BIGINT AS channels,
       bits_per_sample::BIGINT AS bits_per_sample,
       total_samples::BIGINT AS total_samples,
       CASE WHEN total_samples = 0 THEN NULL
            ELSE (total_samples * 1000000) // sample_rate END AS duration_us
FROM t
ORDER BY doc_id
"""


def webp_dims_census_op(spark: SparkSession, sf: str) -> DataFrame:
    """WebP triage (operators/webp.parse_webp): every document renders
    into a valid RIFF/WEBP envelope — lossy VP8 key-frame tag, VP8L
    packed 14-bit fields, or VP8X 24-bit canvas, chosen by doc_id
    arithmetic — and the dimension/feature read comes back out.
    Planted truth ⇒ DuckDB oracle. One zero-shuffle Arrow
    render+parse pass."""
    from wc_vector_indexing_spark.operators.webp import parse_webp, to_webp_bytes

    docs = load(spark, "documents", sf).select("doc_id")
    variants = ["vp8", "vp8l", "vp8x"]

    def render(batches):
        import pandas as pd

        cols = ["doc_id", "variant", "width", "height", "lossless",
                "has_alpha", "animated"]
        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = int(d)
                v = variants[d % 3]
                data = to_webp_bytes(
                    v,
                    width=1 + (d * 13) % (100000 if v == "vp8x" else 16383),
                    height=1 + (d * 29) % (50000 if v == "vp8x" else 16383),
                    has_alpha=d % 2 == 1,
                    animated=d % 5 == 0,
                )
                meta = parse_webp(data)
                out.append({"doc_id": d, **{k: meta[k] for k in cols[1:]}})
            yield pd.DataFrame(out, columns=cols)

    return docs.mapInPandas(
        render,
        schema="doc_id long, variant string, width long, height long, "
               "lossless boolean, has_alpha boolean, animated boolean",
    ).orderBy("doc_id")


WEBP_CENSUS_SQL = r"""
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'vp8' WHEN 1 THEN 'vp8l' ELSE 'vp8x' END AS variant,
       1 + (doc_id * 13) % (CASE WHEN doc_id % 3 = 2 THEN 100000 ELSE 16383 END) AS width,
       1 + (doc_id * 29) % (CASE WHEN doc_id % 3 = 2 THEN 50000 ELSE 16383 END) AS height,
       doc_id % 3 = 1 AS lossless,
       -- vp8 never carries alpha; vp8l/vp8x honor the planted bit
       doc_id % 3 != 0 AND doc_id % 2 = 1 AS has_alpha,
       -- only vp8x carries animation
       doc_id % 3 = 2 AND doc_id % 5 = 0 AS animated
FROM documents
ORDER BY doc_id
"""


def zstd_decode_roundtrip_op(spark: SparkSession, sf: str) -> DataFrame:
    """Full RFC 8878 zstd decode (operators/zstd_decode): the
    lowest-60 docs' raw text is compressed by libzstd (pyarrow — an
    implementation the decoder shares nothing with) at a
    doc_id-cycled compression level, then decoded back by the
    pure-Python FSE/Huffman/sequence machinery inside one Arrow
    pass. The oracle is the text itself — byte-exact decode IS the
    value match, which end-to-end pins the predefined FSE
    distributions and code tables against libzstd's output."""
    from wc_vector_indexing_spark.operators.zstd_decode import (
        zstd_decompress,
    )

    docs = (
        load(spark, "documents", sf).select("doc_id", "text")
        .orderBy("doc_id").limit(60).repartition(8)
    )

    def roundtrip(batches):
        import pandas as pd
        import pyarrow as pa

        levels = [1, 3, 9, 19]
        for pdf in batches:
            out = []
            for d, t in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                raw = (t or "").encode("utf-8")
                codec = pa.Codec("zstd", compression_level=levels[d % 4])
                comp = bytes(codec.compress(raw))
                dec = zstd_decompress(comp)
                out.append({"doc_id": d,
                            "text": dec.decode("utf-8"),
                            "n_raw": len(raw)})
            yield pd.DataFrame(out, columns=["doc_id", "text", "n_raw"])

    return docs.mapInPandas(
        roundtrip, schema="doc_id long, text string, n_raw long",
    ).orderBy("doc_id")


ZSTD_DECODE_SQL = r"""
SELECT doc_id,
       coalesce(text, '') AS text,
       strlen(coalesce(text, ''))::BIGINT AS n_raw
FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 60)
ORDER BY doc_id
"""


def zstd_jsonl_corpus_op(spark: SparkSession, sf: str) -> DataFrame:
    """.zst JSONL corpus source (sources/zstd_text.read_zstd_jsonl):
    the lowest-48 docs become FOUR zstd-compressed JSONL shards
    (this Spark has no native-Hadoop zstd codec, so the pure-Python
    decoder is the only way to read them at all); one decode per
    shard per task, then get_json_object field extraction JVM-side.
    When the zstd CLI is present the shards are DICTIONARY-compressed
    with a CLI-trained dictionary (the Common Crawl CDX shard shape)
    and read through ``dict_path`` — the §5 decode path rides the
    driver gate, not only pytest; otherwise plain libzstd shards.
    Direct value match over (doc_id, text) — raw text, newlines and
    all, through the JSON escape/unescape round trip."""
    import hashlib
    import json as _json
    import os
    import shutil as _shutil
    import subprocess as _sp
    import tempfile

    import pyarrow as _pa

    from wc_vector_indexing_spark.sources.zstd_text import read_zstd_jsonl

    rows = (
        load(spark, "documents", sf).select("doc_id", "text")
        .orderBy("doc_id").limit(48).collect()
    )
    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_zstjsonl2_{key}")
    done = os.path.join(out, "_DONE")
    dict_file = os.path.join(out, "shards.dict")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        shards: list[list[str]] = [[], [], [], []]
        for rnk, r in enumerate(rows):
            shards[rnk % 4].append(_json.dumps(
                {"doc_id": int(r.doc_id), "text": r.text or ""},
                sort_keys=True))
        cli = _shutil.which("zstd")
        if cli is not None:
            # train on the individual JSONL lines (one sample per
            # file, the CLI's contract), then dict-compress each shard
            sdir = os.path.join(out, "_samples")
            os.makedirs(sdir, exist_ok=True)
            samples = []
            for i, lines in enumerate(shards):
                for j, ln in enumerate(lines):
                    p = os.path.join(sdir, f"s{i}_{j}.txt")
                    with open(p, "w", encoding="utf-8") as f:
                        f.write(ln)
                    samples.append(p)
            _sp.run([cli, "--train", *samples, "-o", dict_file,
                     "--maxdict=16384"], check=True, capture_output=True)
        for i, lines in enumerate(shards):
            blob = ("\n".join(lines) + "\n").encode("utf-8")
            shard_path = os.path.join(out, f"shard-{i}.jsonl.zst")
            if cli is not None:
                raw_path = os.path.join(out, f"shard-{i}.jsonl")
                with open(raw_path, "wb") as f:
                    f.write(blob)
                _sp.run([cli, "-q", "-f", "-D", dict_file, raw_path,
                         "-o", shard_path], check=True,
                        capture_output=True)
                os.unlink(raw_path)
            else:
                comp = bytes(_pa.Codec("zstd", compression_level=3)
                             .compress(blob))
                with open(shard_path, "wb") as f:
                    f.write(comp)
        with open(done, "w") as f:
            f.write("ok")
    docs = read_zstd_jsonl(
        spark, os.path.join(out, "shard-*.jsonl.zst"),
        {"doc_id": "long", "text": "string"},
        dict_path=dict_file if os.path.exists(dict_file) else None,
    )
    return docs.select("doc_id", "text").orderBy("doc_id")


ZSTD_JSONL_SQL = r"""
SELECT doc_id, coalesce(text, '') AS text
FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 48)
ORDER BY doc_id
"""


def aiff_au_census_op(spark: SparkSession, sf: str) -> DataFrame:
    """AIFF/AIFC + Sun AU triage (operators/aiff_au): even docs render
    a FORM/AIFF (every 5th an AIFC with a ulaw fourcc) whose COMM
    carries the 80-bit extended-float sample rate; odd docs render an
    AU header (every 7th with the streaming unknown-size sentinel →
    NULL frames/duration). Planted truth ⇒ DuckDB oracle incl. the
    integer duration arithmetic. One zero-shuffle Arrow render+parse
    pass."""
    from wc_vector_indexing_spark.operators.aiff_au import (
        parse_aiff,
        parse_au,
        to_aiff_bytes,
        to_au_bytes,
    )

    docs = load(spark, "documents", sf).select("doc_id")
    rates = [8000, 11025, 16000, 22050, 44100, 48000]
    encs = ["ulaw8", "pcm8", "pcm16", "pcm24", "pcm32",
            "float32", "float64", "alaw8"]

    def render(batches):
        import pandas as pd

        cols = ["doc_id", "fmt", "codec", "channels", "bits",
                "sample_rate", "n_frames", "duration_ms"]
        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = int(d)
                k = d // 2
                if d % 2 == 0:
                    comp = "ulaw" if k % 5 == 0 else None
                    data = to_aiff_bytes(
                        channels=1 + k % 3,
                        sample_frames=1000 + (k * 37) % 9000,
                        bits=[8, 16, 24, 32][k % 4],
                        sample_rate=rates[k % 6],
                        compression=comp,
                    )
                    m = parse_aiff(data)
                    out.append({
                        "doc_id": d, "fmt": m["variant"],
                        "codec": m["compression"],
                        "channels": m["channels"], "bits": m["bits"],
                        "sample_rate": m["sample_rate"],
                        "n_frames": m["sample_frames"],
                        "duration_ms": m["duration_ms"],
                    })
                else:
                    data = to_au_bytes(encs[k % 8], rates[k % 6],
                                       1 + k % 3, 500 + (k * 23) % 4000)
                    if k % 7 == 0:  # streaming sentinel
                        b = bytearray(data)
                        b[8:12] = b"\xff\xff\xff\xff"
                        data = bytes(b)
                    m = parse_au(data)
                    out.append({
                        "doc_id": d, "fmt": "au", "codec": m["encoding"],
                        "channels": m["channels"], "bits": m["bits"],
                        "sample_rate": m["sample_rate"],
                        "n_frames": m["n_frames"],
                        "duration_ms": m["duration_ms"],
                    })
            yield pd.DataFrame(out, columns=cols)

    return docs.mapInPandas(
        render,
        schema="doc_id long, fmt string, codec string, channels long, "
               "bits long, sample_rate long, n_frames long, duration_ms long",
    ).orderBy("doc_id")


AIFF_AU_CENSUS_SQL = r"""
WITH t AS (
    SELECT doc_id, doc_id // 2 AS k FROM documents
), aiff AS (
    SELECT doc_id,
           CASE WHEN k % 5 = 0 THEN 'aifc' ELSE 'aiff' END AS fmt,
           CASE WHEN k % 5 = 0 THEN 'ulaw' ELSE 'NONE' END AS codec,
           1 + k % 3 AS channels,
           CASE k % 4 WHEN 0 THEN 8 WHEN 1 THEN 16 WHEN 2 THEN 24
                ELSE 32 END AS bits,
           CASE k % 6 WHEN 0 THEN 8000 WHEN 1 THEN 11025 WHEN 2 THEN 16000
                WHEN 3 THEN 22050 WHEN 4 THEN 44100 ELSE 48000
           END AS sample_rate,
           1000 + (k * 37) % 9000 AS n_frames
    FROM t WHERE doc_id % 2 = 0
), au AS (
    SELECT doc_id, 'au' AS fmt,
           CASE k % 8 WHEN 0 THEN 'ulaw8' WHEN 1 THEN 'pcm8'
                WHEN 2 THEN 'pcm16' WHEN 3 THEN 'pcm24' WHEN 4 THEN 'pcm32'
                WHEN 5 THEN 'float32' WHEN 6 THEN 'float64'
                ELSE 'alaw8' END AS codec,
           1 + k % 3 AS channels,
           CASE k % 8 WHEN 2 THEN 16 WHEN 3 THEN 24 WHEN 4 THEN 32
                WHEN 5 THEN 32 WHEN 6 THEN 64 ELSE 8 END AS bits,
           CASE k % 6 WHEN 0 THEN 8000 WHEN 1 THEN 11025 WHEN 2 THEN 16000
                WHEN 3 THEN 22050 WHEN 4 THEN 44100 ELSE 48000
           END AS sample_rate,
           CASE WHEN k % 7 = 0 THEN NULL
                ELSE 500 + (k * 23) % 4000 END AS n_frames
    FROM t WHERE doc_id % 2 = 1
)
SELECT doc_id, fmt, codec, channels, bits, sample_rate, n_frames,
       (n_frames * 1000) // sample_rate AS duration_ms
FROM (SELECT * FROM aiff UNION ALL SELECT * FROM au)
ORDER BY doc_id
"""


def tiff_ifd_census_op(
    spark: SparkSession, sf: str, *, _audit: bool = False
) -> DataFrame:
    """TIFF triage (operators/tiff.parse_tiff): every document renders
    into a valid TIFF — byte order, dimensions, bits/compression/
    photometric/orientation/samples tags, and a 1-3 page IFD chain,
    all chosen by doc_id arithmetic — and the header walk reads them
    back WITHOUT touching strip data. Planted truth ⇒ DuckDB oracle.
    One zero-shuffle Arrow render+parse pass."""
    from wc_vector_indexing_spark.operators.tiff import (
        parse_tiff,
        to_tiff_bytes,
    )

    docs = load(spark, "documents", sf).select("doc_id")

    def render(batches):
        import pandas as pd

        cols = ["doc_id", "byte_order", "width", "height",
                "bits_per_sample", "compression", "photometric",
                "orientation", "samples_per_pixel", "n_ifds"]
        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = int(d)
                data = to_tiff_bytes(
                    width=1 + (d * 7) % 5000,
                    height=1 + (d * 11) % 4000,
                    bits_per_sample=[1, 8, 16][d % 3],
                    compression=1 + (d * 3) % 7,
                    photometric=d % 4,
                    orientation=1 + d % 8,
                    samples_per_pixel=1 + d % 4,
                    byte_order="II" if d % 2 == 0 else "MM",
                    n_pages=1 + d % 3,
                )
                meta = parse_tiff(data)
                out.append({"doc_id": d, **{k: meta[k] for k in cols[1:]}})
            yield pd.DataFrame(out, columns=cols)

    return _ckpt_sorted(docs.mapInPandas(
        render,
        schema="doc_id long, byte_order string, width long, height long, "
               "bits_per_sample long, compression long, photometric long, "
               "orientation long, samples_per_pixel long, n_ifds long",
    ), "doc_id", audit=_audit)


TIFF_CENSUS_SQL = r"""
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
       1 + (doc_id * 7) % 5000 AS width,
       1 + (doc_id * 11) % 4000 AS height,
       CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 8 ELSE 16 END AS bits_per_sample,
       1 + (doc_id * 3) % 7 AS compression,
       doc_id % 4 AS photometric,
       1 + doc_id % 8 AS orientation,
       1 + doc_id % 4 AS samples_per_pixel,
       1 + doc_id % 3 AS n_ifds
FROM documents
ORDER BY doc_id
"""


def exif_metadata_census_op(spark: SparkSession, sf: str) -> DataFrame:
    """JPEG/Exif camera-metadata triage (operators/tiff.parse_exif):
    three of every four documents render into a JPEG carrying an APP1
    Exif segment (orientation / make / model in IFD0,
    DateTimeOriginal in the spec's Exif sub-IFD, offsets relative to
    the embedded TIFF header); every fourth is a bare SOI+EOI JPEG —
    the absent-segment path comes back as has_exif=false with NULL
    fields, never an error. Planted truth ⇒ DuckDB oracle. One
    zero-shuffle Arrow render+parse pass."""
    from wc_vector_indexing_spark.operators.tiff import (
        parse_exif,
        to_jpeg_exif_bytes,
    )

    docs = load(spark, "documents", sf).select("doc_id")

    def render(batches):
        import pandas as pd

        cols = ["doc_id", "has_exif", "orientation", "make", "model",
                "datetime_original"]
        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = int(d)
                if d % 4 == 3:
                    data = b"\xff\xd8\xff\xd9"
                else:
                    data = to_jpeg_exif_bytes(
                        orientation=1 + d % 8,
                        make=f"Cam{d % 5}",
                        model=f"M{d % 3}",
                        datetime_original=f"2024:01:{1 + d % 28:02d}"
                                          " 00:00:00",
                    )
                meta = parse_exif(data)
                out.append({"doc_id": d, **{k: meta[k] for k in cols[1:]}})
            yield pd.DataFrame(out, columns=cols)

    return docs.mapInPandas(
        render,
        schema="doc_id long, has_exif boolean, orientation long, "
               "make string, model string, datetime_original string",
    ).orderBy("doc_id")


EXIF_CENSUS_SQL = r"""
SELECT doc_id,
       doc_id % 4 != 3 AS has_exif,
       CASE WHEN doc_id % 4 = 3 THEN NULL ELSE 1 + doc_id % 8 END AS orientation,
       CASE WHEN doc_id % 4 = 3 THEN NULL ELSE 'Cam' || (doc_id % 5) END AS make,
       CASE WHEN doc_id % 4 = 3 THEN NULL ELSE 'M' || (doc_id % 3) END AS model,
       CASE WHEN doc_id % 4 = 3 THEN NULL
            ELSE '2024:01:' || lpad((1 + doc_id % 28)::VARCHAR, 2, '0')
                 || ' 00:00:00' END AS datetime_original
FROM documents
ORDER BY doc_id
"""


def ogg_page_census_op(spark: SparkSession, sf: str) -> DataFrame:
    """Ogg/Opus/Vorbis triage (operators/ogg.parse_ogg): every document
    renders into a valid Ogg page chain — BOS identification packet
    (OpusHead or Vorbis id header chosen by doc_id arithmetic) +
    audio pages whose final granule position encodes the planted
    duration. Opus durations subtract pre-skip and tick at 48 kHz
    regardless of input rate (RFC 7845 §4); Vorbis ticks at the stream
    rate — both exact integer µs ⇒ DuckDB oracle. One zero-shuffle
    Arrow render+parse pass."""
    from wc_vector_indexing_spark.operators.ogg import parse_ogg, to_ogg_bytes

    docs = load(spark, "documents", sf).select("doc_id")

    def render(batches):
        import pandas as pd

        cols = ["doc_id", "codec", "n_pages", "channels", "sample_rate",
                "duration_us"]
        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = int(d)
                vorbis = d % 3 == 1
                data = to_ogg_bytes(
                    codec="vorbis" if vorbis else "opus",
                    channels=1 + d % 2,
                    sample_rate=(44100 if d % 2 == 0 else 22050) if vorbis else 48000,
                    final_granule=(d * 53) % 441000 if vorbis
                    else 312 + (d * 97) % 480000,
                    n_audio_pages=2 + d % 5,
                )
                meta = parse_ogg(data)
                out.append({"doc_id": d, **{k: meta[k] for k in cols[1:]}})
            yield pd.DataFrame(out, columns=cols)

    return docs.mapInPandas(
        render,
        schema="doc_id long, codec string, n_pages long, channels long, "
               "sample_rate long, duration_us long",
    ).orderBy("doc_id")


OGG_CENSUS_SQL = r"""
WITH t AS (
    SELECT doc_id, doc_id % 3 = 1 AS vorbis,
           1 + doc_id % 2 AS channels,
           2 + doc_id % 5 AS n_audio_pages
    FROM documents
)
SELECT doc_id,
       CASE WHEN vorbis THEN 'vorbis' ELSE 'opus' END AS codec,
       1 + n_audio_pages AS n_pages,
       channels::BIGINT AS channels,
       CASE WHEN vorbis THEN (CASE WHEN doc_id % 2 = 0 THEN 44100 ELSE 22050 END)
            ELSE 48000 END::BIGINT AS sample_rate,
       CASE WHEN vorbis
            THEN ((doc_id * 53) % 441000) * 1000000
                 // (CASE WHEN doc_id % 2 = 0 THEN 44100 ELSE 22050 END)
            ELSE ((doc_id * 97) % 480000) * 1000000 // 48000
       END AS duration_us
FROM t
ORDER BY doc_id
"""


def mp4_box_census_op(spark: SparkSession, sf: str) -> DataFrame:
    """MP4/ISOBMFF container triage (operators/mp4.parse_mp4): every
    document renders into a structurally valid box skeleton — ftyp +
    moov with mvhd (v0 or the 64-bit v1 layout), one trak per codec
    with 16.16 fixed-point tkhd dimensions and stsd fourccs — whose
    parameters derive from doc_id arithmetic, and the walk reports
    duration/tracks/codecs/resolution. duration_us is two integer
    floors (ms→ticks→µs) the DuckDB oracle reproduces exactly. One
    zero-shuffle Arrow render+parse pass."""
    from wc_vector_indexing_spark.operators.mp4 import parse_mp4, to_mp4_bytes

    docs = load(spark, "documents", sf).select("doc_id")
    codec_sets = [
        ("avc1", "mp4a"), ("hev1", "mp4a"), ("avc1",), ("mp4a",),
        ("av01", "opus"),
    ]
    timescales = [1000, 600, 90000, 48000]

    def render(batches):
        import pandas as pd

        cols = ["doc_id", "duration_us", "n_tracks", "codecs", "width", "height"]
        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = int(d)
                video = d % 3 != 2
                data = to_mp4_bytes(
                    duration_ms=1000 + (d * 7) % 600000,
                    timescale=timescales[d % 4],
                    width=16 * (10 + d % 100) if video else 0,
                    height=16 * (6 + d % 50) if video else 0,
                    codecs=codec_sets[d % 5],
                    version1=d % 7 == 0,
                )
                meta = parse_mp4(data)
                out.append({"doc_id": d, **{k: meta[k] for k in cols[1:]}})
            yield pd.DataFrame(out, columns=cols)

    return docs.mapInPandas(
        render,
        schema="doc_id long, duration_us long, n_tracks long, "
               "codecs string, width long, height long",
    ).orderBy("doc_id")


MP4_CENSUS_SQL = r"""
WITH t AS (
    SELECT doc_id,
           1000 + (doc_id * 7) % 600000 AS dur_ms,
           CASE doc_id % 4 WHEN 0 THEN 1000 WHEN 1 THEN 600
                           WHEN 2 THEN 90000 ELSE 48000 END AS ts,
           doc_id % 3 != 2 AS video
    FROM documents
)
SELECT doc_id,
       ((dur_ms * ts) // 1000) * 1000000 // ts AS duration_us,
       CASE doc_id % 5 WHEN 2 THEN 1 WHEN 3 THEN 1 ELSE 2 END AS n_tracks,
       CASE doc_id % 5
         WHEN 0 THEN 'avc1,mp4a' WHEN 1 THEN 'hev1,mp4a'
         WHEN 2 THEN 'avc1' WHEN 3 THEN 'mp4a' ELSE 'av01,opus'
       END AS codecs,
       CASE WHEN video THEN 16 * (10 + doc_id % 100) END AS width,
       CASE WHEN video THEN 16 * (6 + doc_id % 50) END AS height
FROM t
ORDER BY doc_id
"""


def h264_sps_census_op(
    spark: SparkSession, sf: str, *, _audit: bool = False
) -> DataFrame:
    """H.264 NAL/SPS triage census (operators/h264.parse_annexb): every
    document renders into a structurally valid Annex B stream — real
    Exp-Golomb SPS (width/height/slice-count/profile from doc_id
    arithmetic; every third stream uses High profile with its
    chroma/bit-depth branch, every second crops the right/bottom edge
    so the CropUnit arithmetic is exercised) — and the parsed
    resolution comes back out. Planted truth ⇒ DuckDB oracle. One
    zero-shuffle Arrow render+parse pass."""
    from wc_vector_indexing_spark.operators.h264 import (
        parse_annexb,
        to_annexb_bytes,
    )

    docs = load(spark, "documents", sf).select("doc_id")

    def render(batches):
        import pandas as pd

        cols = ["doc_id", "n_nals", "n_slices", "width", "height",
                "profile_idc", "level_idc"]
        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = int(d)
                data = to_annexb_bytes(
                    width_mbs=4 + d % 60,
                    height_mbs=3 + d % 40,
                    n_slices=2 + d % 9,
                    profile_idc=100 if d % 3 == 0 else 66,
                    level_idc=30 + (d % 3) * 10,
                    crop_right=(d % 2) * (1 + d % 4),
                    crop_bottom=(d % 2) * (1 + d % 3),
                )
                meta = parse_annexb(data)
                out.append({"doc_id": d, **{k: meta[k] for k in cols[1:]}})
            yield pd.DataFrame(out, columns=cols)

    return _ckpt_sorted(docs.mapInPandas(
        render,
        schema="doc_id long, n_nals long, n_slices long, width long, "
               "height long, profile_idc long, level_idc long",
    ), "doc_id", audit=_audit)


H264_CENSUS_SQL = r"""
SELECT doc_id,
       (2 + doc_id % 9) + 2 AS n_nals,
       2 + doc_id % 9 AS n_slices,
       (4 + doc_id % 60) * 16 - 2 * ((doc_id % 2) * (1 + doc_id % 4)) AS width,
       (3 + doc_id % 40) * 16 - 2 * ((doc_id % 2) * (1 + doc_id % 3)) AS height,
       CASE WHEN doc_id % 3 = 0 THEN 100 ELSE 66 END AS profile_idc,
       30 + (doc_id % 3) * 10 AS level_idc
FROM documents
ORDER BY doc_id
"""


def mp3_frame_census_op(spark: SparkSession, sf: str) -> DataFrame:
    """MP3 frame-header census (operators/mp3.parse_mp3_headers): every
    document renders into a structurally-valid MPEG-1 Layer III stream
    whose frame count and bitrate derive from doc_id by arithmetic
    (every third file carries an ID3v2 prologue the walk must skip),
    and the parsed duration/bitrate come back out. duration_us is exact
    integer arithmetic, so the DuckDB oracle reproduces it bit-for-bit.
    One zero-shuffle Arrow render+parse pass."""
    from wc_vector_indexing_spark.operators.mp3 import (
        parse_mp3_headers,
        to_mp3_bytes,
    )

    docs = load(spark, "documents", sf).select("doc_id")
    kbps_table = [32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320]

    def render(batches):
        import pandas as pd

        out = []
        for pdf in batches:
            for d in pdf["doc_id"]:
                d = int(d)
                nf = 5 + d % 20
                kbps = kbps_table[d % 14]
                data = to_mp3_bytes(
                    nf, kbps, 44100,
                    id3_comment=(b"planted %d" % d) if d % 3 == 0 else None,
                )
                meta = parse_mp3_headers(data)
                out.append(
                    {
                        "doc_id": d,
                        "n_frames": meta["n_frames"],
                        "duration_us": meta["duration_us"],
                        "avg_bitrate_kbps": meta["avg_bitrate_kbps"],
                        "sample_rate": meta["sample_rate"],
                    }
                )
            yield pd.DataFrame(
                out,
                columns=["doc_id", "n_frames", "duration_us",
                         "avg_bitrate_kbps", "sample_rate"],
            )
            out = []

    return docs.mapInPandas(
        render,
        schema="doc_id long, n_frames long, duration_us long, "
               "avg_bitrate_kbps long, sample_rate long",
    ).orderBy("doc_id")


MP3_CENSUS_SQL = r"""
WITH t AS (
    SELECT doc_id,
           5 + doc_id % 20 AS n_frames,
           CASE doc_id % 14
             WHEN 0 THEN 32 WHEN 1 THEN 40 WHEN 2 THEN 48 WHEN 3 THEN 56
             WHEN 4 THEN 64 WHEN 5 THEN 80 WHEN 6 THEN 96 WHEN 7 THEN 112
             WHEN 8 THEN 128 WHEN 9 THEN 160 WHEN 10 THEN 192
             WHEN 11 THEN 224 WHEN 12 THEN 256 ELSE 320
           END AS avg_bitrate_kbps
    FROM documents
)
SELECT doc_id, n_frames,
       (n_frames * 1152 * 1000000) // 44100 AS duration_us,
       avg_bitrate_kbps::BIGINT AS avg_bitrate_kbps,
       44100::BIGINT AS sample_rate
FROM t
ORDER BY doc_id
"""


def mp3_pcm_census_op(spark: SparkSession, sf: str, *, n: int = 48) -> DataFrame:
    """MP3 full-decode census (operators/mp3_decode): each document
    renders a doc_id-derived sine (rate, frame count, channel layout,
    frequency and MS-stereo flag all pure arithmetic), encodes it into
    a spec-legal Layer III stream with the mutual-inverse encoder, runs
    the COMPLETE decode pipeline (side info, bit reservoir, Huffman,
    requantize, IMDCT, polyphase synthesis) and reports structural
    truth plus the dominant frequency recovered from the decoded PCM by
    projection onto the planted grid — content-level proof the decode
    is real, yet still exact doc_id arithmetic for the DuckDB oracle.
    The encoder's Huffman table and quantizer depth CYCLE per doc_id
    across the enabled Table B.7 set (1, 2, 5, 9, 12 and the 16-23
    linbits group at max_ix up to 28), so the fixture exercises every
    enabled big-value code path — multi-level requantization, sign
    grammar, linbits escapes — through the full decode, not just the
    |ix| <= 1 table-1 subset. None of the reported columns depend on
    the table choice, so the oracle stays pure arithmetic. ~60 ms of
    Python DSP per row: repartitioned before the map per the
    ms-per-row rule (SCALE.md)."""
    import numpy as np

    docs = (load(spark, "documents", sf).select("doc_id")
            .orderBy("doc_id").limit(n).repartition(max(1, min(32, n // 4))))

    def render(batches):
        import pandas as pd

        from wc_vector_indexing_spark.operators.mp3_decode import (
            decode_mp3,
            encode_mp3,
        )

        rates = [32000, 44100, 48000]
        out = []
        for pdf in batches:
            for d in pdf["doc_id"]:
                d = int(d)
                rate = rates[d % 3]
                n_frames = 2 + d % 3
                freq = 400.0 * (1 + d % 20)
                nch = 1 + d % 2
                gain = 0.3 + 0.1 * (d // 3 % 3)
                t = np.arange(n_frames * 1152)
                x = gain * np.sin(2 * np.pi * freq * t / rate)
                pcm = np.clip(x * 32767, -32768, 32767).astype(np.int16)
                if nch == 2:
                    pcm = np.stack([pcm, pcm], axis=1)
                tbl, mi = [(1, 1), (2, 2), (5, 3), (9, 5),
                           (12, 7), (16, 16), (20, 28), (23, 20)][d % 8]
                blob = encode_mp3(
                    pcm, rate,
                    bitrate_kbps=160 if nch == 1 else 320,
                    use_ms=(nch == 2 and d % 4 == 1),
                    table=tbl, max_ix=mi,
                )
                dec, r2 = decode_mp3(blob)
                mono = dec.astype(np.float64).mean(axis=1)[1152:]
                tt = np.arange(len(mono)) / r2
                grid = 400.0 * (1 + np.arange(20))
                power = [abs(np.dot(mono, np.exp(-2j * np.pi * f * tt)))
                         for f in grid]
                out.append({
                    "doc_id": d,
                    "sample_rate": r2,
                    "n_channels": dec.shape[1],
                    "n_samples": dec.shape[0],
                    "duration_us": dec.shape[0] * 1_000_000 // r2,
                    "detected_hz": int(grid[int(np.argmax(power))]),
                })
            yield pd.DataFrame(
                out, columns=["doc_id", "sample_rate", "n_channels",
                              "n_samples", "duration_us", "detected_hz"])
            out = []

    return docs.mapInPandas(
        render,
        schema="doc_id long, sample_rate long, n_channels long, "
               "n_samples long, duration_us long, detected_hz long",
    ).orderBy("doc_id")


MP3_PCM_CENSUS_SQL = r"""
WITH t AS (
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 32000 WHEN 1 THEN 44100
                ELSE 48000 END AS sample_rate,
           2 + doc_id % 3 AS n_frames,
           1 + doc_id % 2 AS n_channels,
           400 * (1 + doc_id % 20) AS detected_hz
    FROM documents ORDER BY doc_id LIMIT 48
)
SELECT doc_id, sample_rate::BIGINT AS sample_rate,
       n_channels::BIGINT AS n_channels,
       (n_frames * 1152)::BIGINT AS n_samples,
       (n_frames * 1152 * 1000000) // sample_rate AS duration_us,
       detected_hz::BIGINT AS detected_hz
FROM t
ORDER BY doc_id
"""


def audio_dedup_mp3_op(
    spark: SparkSession, sf: str, *, n: int = 48, hot_pattern: bool = False
) -> DataFrame:
    """MP3-content audio dedup: the audio_dedup_fp planting idea
    (doc_ids sharing ``doc_id % 8`` carry the SAME two-tone pattern at
    different per-copy gains — 8 groups here, vs audio_dedup_fp's
    % 12, so each group is big enough to survive the n=48 cap) but the
    clips travel as REAL MPEG-1
    Layer III streams from the mutual-inverse encoder — the dominant
    crawl audio format flowing through the same decode_audio seam and
    Haitsma-Kalker fingerprint join as WAV. Codec quantization moves
    same-pattern fingerprints 0-3 bits apart (measured over the full
    48-clip fixture; cross-pattern >= 13), so a Hamming-6 join recovers
    exactly the planted groups with >= 3 bits of margin on either side
    — pure doc_id arithmetic, hence the DuckDB oracle. The hamming
    column is codec-dependent and is projected away."""
    import numpy as np

    from wc_vector_indexing_spark.operators.audio import audio_near_pairs

    docs = (load(spark, "documents", sf).select("doc_id")
            .orderBy("doc_id").limit(n).repartition(max(1, min(32, n // 4))))
    rate = 32000
    edges = np.geomspace(300.0, rate / 2.0, 18)
    centers = np.sqrt(edges[:-1] * edges[1:])

    def render(batches):
        import pandas as pd

        from wc_vector_indexing_spark.operators.mp3_decode import encode_mp3

        t = np.arange(int(0.3 * rate)) / rate
        ids, kinds, blobs = [], [], []
        for pdf in batches:
            for doc_id in pdf["doc_id"]:
                # hot_pattern: skew-suite knob — every clip carries the
                # SAME pattern, so one Hamming block holds the whole
                # corpus and output is quadratic in n (output-
                # proportional by construction). Registry/oracle
                # always use False.
                pat = 0 if hot_pattern else int(doc_id) % 8
                b1, b2 = pat, 8 + (3 * pat) % 7
                gain = 0.15 + (int(doc_id) // 8 % 6) * 0.13
                x = gain * (0.5 * np.sin(2 * np.pi * centers[b1] * t)
                            + 0.35 * np.sin(2 * np.pi * centers[b2] * t))
                pcm = np.clip(x * 32767.0, -32768, 32767).astype(np.int16)
                ids.append(int(doc_id))
                kinds.append("audio")
                # quantizer depth/table CYCLE per gain group — copies of
                # one pattern travel through DIFFERENT enabled B.7
                # tables (16/20/23, linbits escapes at max_ix > 15) and
                # the fingerprint join still recovers the groups:
                # measured within <= 3 / cross >= 13, same margins as
                # the single-table encode
                tbl, mi = [(16, 12), (16, 16), (20, 24),
                           (23, 18)][int(doc_id) // 8 % 4]
                blobs.append(encode_mp3(pcm, rate, bitrate_kbps=160,
                                        table=tbl, max_ix=mi))
            yield pd.DataFrame({"media_id": ids, "kind": kinds,
                                "content": blobs})
            ids, kinds, blobs = [], [], []

    media = docs.mapInPandas(
        render, schema="media_id long, kind string, content binary")
    # n_bands=4: pigeonhole-complete for the measured <=3-bit codec
    # wobble (a 1-band prefix block could miss a pair whose differing
    # bits land in the top 16 bits)
    return (audio_near_pairs(media, max_hamming=6, n_bands=4)
            .select("media_a", "media_b").orderBy("media_a", "media_b"))


AUDIO_DEDUP_MP3_SQL = r"""
WITH ids AS (
    SELECT doc_id FROM documents ORDER BY doc_id LIMIT 48
)
SELECT a.doc_id AS media_a, b.doc_id AS media_b
FROM ids a JOIN ids b
  ON a.doc_id % 8 = b.doc_id % 8 AND a.doc_id < b.doc_id
ORDER BY media_a, media_b
"""


def mp3_lsf_census_op(spark: SparkSession, sf: str, *, n: int = 48) -> DataFrame:
    """MPEG-2/2.5 LSF full-decode census — the low-sample-rate
    voice/podcast form of mp3_pcm_census: each document renders a
    doc_id-derived tone, encodes it as a REAL one-granule-per-frame
    LSF stream (sample rate cycles all six LSF rates incl. the
    MPEG-2.5 8 kHz table, Huffman table/quantizer depth cycle the
    enabled B.7 set) and runs the complete LSF decode (8-bit
    reservoir, 9-bit mixed-radix scalefac_compress, LSF scalefactor
    partitions, IMDCT, synthesis). Reported truth — sample rate,
    channel count, 576-sample granule arithmetic, dominant frequency
    recovered from the decoded PCM by planted-grid projection — is
    pure doc_id arithmetic for the DuckDB oracle. ~40 ms Python DSP
    per row: repartitioned before the map (ms-per-row rule)."""
    import numpy as np

    docs = (load(spark, "documents", sf).select("doc_id")
            .orderBy("doc_id").limit(n).repartition(max(1, min(32, n // 4))))

    def render(batches):
        import pandas as pd

        from wc_vector_indexing_spark.operators.mp3_decode import (
            decode_mp3,
            encode_mp3,
        )

        rates = [22050, 24000, 16000, 11025, 12000, 8000]
        out = []
        for pdf in batches:
            for d in pdf["doc_id"]:
                d = int(d)
                rate = rates[d % 6]
                n_frames = 3 + d % 3
                freq = 250.0 * (1 + d % 12)
                nch = 1 + d % 2
                gain = 0.3 + 0.1 * (d // 3 % 3)
                t = np.arange(n_frames * 576)
                x = gain * np.sin(2 * np.pi * freq * t / rate)
                pcm = np.clip(x * 32767, -32768, 32767).astype(np.int16)
                if nch == 2:
                    pcm = np.stack([pcm, pcm], axis=1)
                tbl, mi = [(1, 1), (2, 2), (9, 5), (16, 16),
                           (20, 24), (23, 16)][d % 6]
                blob = encode_mp3(
                    pcm, rate,
                    bitrate_kbps=64 if nch == 1 else 144,
                    use_ms=(nch == 2 and d % 4 == 1),
                    table=tbl, max_ix=mi,
                )
                dec, r2 = decode_mp3(blob)
                mono = dec.astype(np.float64).mean(axis=1)[576:]
                tt = np.arange(len(mono)) / r2
                grid = 250.0 * (1 + np.arange(12))
                power = [abs(np.dot(mono, np.exp(-2j * np.pi * f * tt)))
                         for f in grid]
                out.append({
                    "doc_id": d,
                    "sample_rate": r2,
                    "n_channels": dec.shape[1],
                    "n_samples": dec.shape[0],
                    "duration_us": dec.shape[0] * 1_000_000 // r2,
                    "detected_hz": int(grid[int(np.argmax(power))]),
                })
            yield pd.DataFrame(
                out, columns=["doc_id", "sample_rate", "n_channels",
                              "n_samples", "duration_us", "detected_hz"])
            out = []

    return docs.mapInPandas(
        render,
        schema="doc_id long, sample_rate long, n_channels long, "
               "n_samples long, duration_us long, detected_hz long",
    ).orderBy("doc_id")


MP3_LSF_CENSUS_SQL = r"""
WITH t AS (
    SELECT doc_id,
           CASE doc_id % 6 WHEN 0 THEN 22050 WHEN 1 THEN 24000
                WHEN 2 THEN 16000 WHEN 3 THEN 11025 WHEN 4 THEN 12000
                ELSE 8000 END AS sample_rate,
           3 + doc_id % 3 AS n_frames,
           1 + doc_id % 2 AS n_channels,
           250 * (1 + doc_id % 12) AS detected_hz
    FROM documents ORDER BY doc_id LIMIT 48
)
SELECT doc_id, sample_rate::BIGINT AS sample_rate,
       n_channels::BIGINT AS n_channels,
       (n_frames * 576)::BIGINT AS n_samples,
       (n_frames * 576 * 1000000) // sample_rate AS duration_us,
       detected_hz::BIGINT AS detected_hz
FROM t
ORDER BY doc_id
"""


def jpeg_lossless_census_op(
    spark: SparkSession, sf: str, *, _audit: bool = False
) -> DataFrame:
    """Lossless JPEG (SOF3, T.81 Annex H) census: every document
    renders a doc_id-derived gradient image (dimensions, precision and
    predictor all arithmetic — every fifth doc is 16-bit), encodes it
    as a real SOF3 stream (operators/jpeg_lossless) and decodes it
    back through the jpeg.py router. The reported pixel_sum is the sum
    of the PLANTED pattern — decode must be bit-exact for it to match
    the DuckDB oracle's analytic replay (cross-join range sum). All
    seven predictors cycle through the corpus. One zero-shuffle Arrow
    render+decode pass, spread across cores first (~ms per row)."""
    docs = load(spark, "documents", sf).select("doc_id").repartition(32)

    def render(batches):
        import numpy as np
        import pandas as pd

        from wc_vector_indexing_spark.operators.jpeg import decode_jpeg
        from wc_vector_indexing_spark.operators.jpeg_lossless import (
            to_lossless_jpeg_bytes,
        )

        cols = ["doc_id", "width", "height", "precision", "predictor",
                "pixel_sum"]
        out = []
        for pdf in batches:
            for d in pdf["doc_id"]:
                d = int(d)
                h, w = 8 + d % 9, 8 + d % 7
                wide = d % 5 == 0
                i_idx, j_idx = np.indices((h, w))
                if wide:
                    img = ((i_idx * w + j_idx * 7 + d * 11) % 65536
                           ).astype(np.uint16)
                else:
                    img = ((i_idx * w + j_idx * 3 + d) % 256).astype(np.uint8)
                pred = 1 + d % 7
                dec = decode_jpeg(to_lossless_jpeg_bytes(img, predictor=pred))
                out.append({
                    "doc_id": d, "width": w, "height": h,
                    "precision": 16 if wide else 8, "predictor": pred,
                    "pixel_sum": int(dec.astype(np.int64).sum()),
                })
            yield pd.DataFrame(out, columns=cols)
            out = []

    return _ckpt_sorted(docs.mapInPandas(
        render,
        schema="doc_id long, width long, height long, precision long, "
               "predictor long, pixel_sum long",
    ), "doc_id", audit=_audit)


JPEG_LOSSLESS_CENSUS_SQL = r"""
WITH dims AS (
    SELECT doc_id, 8 + doc_id % 9 AS h, 8 + doc_id % 7 AS w,
           doc_id % 5 = 0 AS wide
    FROM documents
),
px AS (
    SELECT d.doc_id, d.h, d.w, d.wide,
           CASE WHEN d.wide
                THEN (i.range * d.w + j.range * 7 + d.doc_id * 11) % 65536
                ELSE (i.range * d.w + j.range * 3 + d.doc_id) % 256
           END AS v
    FROM dims d
    CROSS JOIN range(17) i CROSS JOIN range(15) j
    WHERE i.range < d.h AND j.range < d.w
)
SELECT doc_id, MIN(w)::BIGINT AS width, MIN(h)::BIGINT AS height,
       (CASE WHEN MIN(wide) THEN 16 ELSE 8 END)::BIGINT AS precision,
       (1 + doc_id % 7)::BIGINT AS predictor,
       SUM(v)::BIGINT AS pixel_sum
FROM px
GROUP BY doc_id
ORDER BY doc_id
"""


def parquet_footer_census_op(
    spark: SparkSession, sf: str, *, mega_rows: int = 0, _audit: bool = False
) -> DataFrame:
    """Parquet footer triage (operators/parquet_meta.parse_parquet_footer):
    every document renders into a REAL parquet file written by pyarrow —
    the independent writer half — with doc_id-derived row count, leaf
    schema width, row-group size and codec, and the pure-Python Thrift
    compact-protocol footer parse reads the layout back out. num_rows /
    n_row_groups / first_rg_rows are exact integer arithmetic, so the
    DuckDB oracle reproduces them bit-for-bit; the writer tool string
    is pinned to pyarrow's created_by prefix. One zero-shuffle Arrow
    render+parse pass."""
    from wc_vector_indexing_spark.operators.parquet_meta import (
        parse_parquet_footer,
        to_parquet_bytes,
    )

    # pyarrow write_table is ~ms per file: spread the render across
    # the executor cores (the source is one small parquet partition)
    docs = load(spark, "documents", sf).select("doc_id").repartition(32)
    codecs = ["uncompressed", "snappy", "gzip", "zstd"]

    def render(batches):
        import pandas as pd

        cols = ["doc_id", "num_rows", "n_row_groups", "n_leaf_columns",
                "first_rg_rows", "codec", "writer_tool"]
        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = int(d)
                # mega_rows: skew-suite knob — doc 0 becomes one file
                # with a huge footer (single-row straggler for the
                # Thrift parse). Registry/oracle always use 0.
                n_rows = (mega_rows if (mega_rows and d == 0)
                          else 1 + (d * 7) % 40)
                rg = 1 + (d % 3) * 8  # 1, 9, 17 → multi-group layouts
                data = to_parquet_bytes(
                    n_rows, 1 + d % 4, codec=codecs[d % 4], row_group_size=rg
                )
                meta = parse_parquet_footer(data)
                out.append({
                    "doc_id": d,
                    "num_rows": meta["num_rows"],
                    "n_row_groups": meta["n_row_groups"],
                    "n_leaf_columns": meta["n_leaf_columns"],
                    "first_rg_rows": meta["first_rg_rows"],
                    "codec": meta["codec"],
                    "writer_tool": meta["writer"].split(" ")[0],
                })
            yield pd.DataFrame(out, columns=cols)

    return _ckpt_sorted(docs.mapInPandas(
        render,
        schema="doc_id long, num_rows long, n_row_groups long, "
               "n_leaf_columns long, first_rg_rows long, codec string, "
               "writer_tool string",
    ), "doc_id", audit=_audit)


PARQUET_CENSUS_SQL = r"""
WITH t AS (
    SELECT doc_id,
           1 + (doc_id * 7) % 40 AS num_rows,
           1 + (doc_id % 3) * 8 AS rg
    FROM documents
)
SELECT doc_id, num_rows,
       (num_rows + rg - 1) // rg AS n_row_groups,
       1 + doc_id % 4 AS n_leaf_columns,
       LEAST(num_rows, rg) AS first_rg_rows,
       CASE doc_id % 4 WHEN 0 THEN 'uncompressed' WHEN 1 THEN 'snappy'
            WHEN 2 THEN 'gzip' ELSE 'zstd' END AS codec,
       'parquet-cpp-arrow' AS writer_tool
FROM t
ORDER BY doc_id
"""


def parquet_column_stats_op(spark: SparkSession, sf: str) -> DataFrame:
    """Parquet per-row-group column statistics
    (operators/parquet_meta.parquet_column_stats): the lowest-60 docs
    each become a REAL pyarrow-written 2-column file with
    doc_id-derived row count and a fixed row-group size of 6, and the
    pure-Python Thrift parse reads back every column chunk's
    num_values / null_count / min / max — the footer bounds that
    file-skipping (predicate pushdown's row-group pruning) consults
    at 100 TB before scheduling any I/O. Deterministic values ⇒ the
    DuckDB oracle reproduces every bound by row-group arithmetic."""
    from wc_vector_indexing_spark.operators.parquet_meta import (
        parquet_column_stats,
        to_parquet_bytes,
    )

    docs = (
        load(spark, "documents", sf).select("doc_id")
        .orderBy("doc_id").limit(60).repartition(8)
    )

    def render(batches):
        import pandas as pd

        cols = ["doc_id", "rg", "column_name", "num_values",
                "null_count", "min_v", "max_v"]
        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = int(d)
                n_rows = 10 + d % 13
                data = to_parquet_bytes(n_rows, 2, codec="snappy",
                                        row_group_size=6)
                for s in parquet_column_stats(data):
                    out.append({
                        "doc_id": d, "rg": s["rg"],
                        "column_name": s["column"],
                        "num_values": s["num_values"],
                        "null_count": s["null_count"],
                        "min_v": s["min_v"], "max_v": s["max_v"],
                    })
            yield pd.DataFrame(out, columns=cols)

    return docs.mapInPandas(
        render,
        schema="doc_id long, rg int, column_name string, num_values long, "
               "null_count long, min_v long, max_v long",
    ).orderBy("doc_id", "rg", "column_name")


PARQUET_STATS_SQL = r"""
WITH ids AS (
    SELECT doc_id, 10 + doc_id % 13 AS n
    FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 60)
), rgs AS (
    SELECT doc_id, n, UNNEST(range((n + 5) // 6)) AS rg FROM ids
), cells AS (
    SELECT doc_id, n, rg, UNNEST(range(2)) AS j FROM rgs
)
SELECT doc_id,
       rg::INT AS rg,
       'c' || j AS column_name,
       (LEAST(n, rg * 6 + 6) - rg * 6)::BIGINT AS num_values,
       0::BIGINT AS null_count,
       (rg * 6 * (j + 1))::BIGINT AS min_v,
       ((LEAST(n, rg * 6 + 6) - 1) * (j + 1))::BIGINT AS max_v
FROM cells
ORDER BY doc_id, rg, column_name
"""


def sitemap_urls_op(spark: SparkSession, sf: str) -> DataFrame:
    """Sitemap source (sources/feeds.parse_sitemap, sitemaps.org
    protocol): every document renders into a sitemap — a <urlset> with
    per-URL lastmod/changefreq/priority planted by arithmetic (each
    field cycling through present/absent), every seventh doc a
    <sitemapindex> whose members carry loc+lastmod only — and the
    parsed discovery rows come back out. Planted values ⇒ DuckDB
    oracle (UNNEST(range) replay). One zero-shuffle Arrow render+parse
    pass."""
    from wc_vector_indexing_spark.sources.feeds import (
        parse_sitemap,
        to_sitemap,
    )

    docs = load(spark, "documents", sf).select("doc_id")
    freqs = ["daily", "weekly", "monthly", None]

    def render(batches):
        import pandas as pd

        cols = ["doc_id", "kind", "entry_index", "loc", "lastmod_ts",
                "changefreq", "priority"]
        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = int(d)
                index = d % 7 == 0
                if index:
                    entries = [
                        {"loc": f"https://s{d}.example/sitemap{j}.xml",
                         "lastmod_ts": 1704067200 + (d % 30) * 86400 + j * 3600}
                        for j in range(1 + d % 3)
                    ]
                else:
                    entries = [
                        {
                            "loc": f"https://s{d}.example/page/{j}",
                            "lastmod_ts": (
                                1704067200 + (d % 30) * 86400 + j * 3600
                                if (d + j) % 3 != 2 else None
                            ),
                            "changefreq": freqs[(d + j) % 4],
                            "priority": (
                                ((d + j) % 10) / 10.0
                                if (d + j) % 5 != 4 else None
                            ),
                        }
                        for j in range(1 + d % 3)
                    ]
                sm = parse_sitemap(to_sitemap(entries, index=index))
                for j, e in enumerate(sm["entries"]):
                    out.append({
                        "doc_id": d, "kind": sm["kind"], "entry_index": j,
                        **e,
                    })
            yield pd.DataFrame(out, columns=cols)

    return docs.mapInPandas(
        render,
        schema="doc_id long, kind string, entry_index long, loc string, "
               "lastmod_ts long, changefreq string, priority double",
    ).orderBy("doc_id", "entry_index")


SITEMAP_SQL = r"""
WITH t AS (
    SELECT doc_id, UNNEST(range(1 + doc_id % 3)) AS j FROM documents
)
SELECT doc_id,
       CASE WHEN doc_id % 7 = 0 THEN 'index' ELSE 'urlset' END AS kind,
       j AS entry_index,
       CASE WHEN doc_id % 7 = 0
            THEN 'https://s' || doc_id || '.example/sitemap' || j || '.xml'
            ELSE 'https://s' || doc_id || '.example/page/' || j END AS loc,
       CASE WHEN doc_id % 7 = 0 OR (doc_id + j) % 3 != 2
            THEN 1704067200 + (doc_id % 30) * 86400 + j * 3600
            END AS lastmod_ts,
       CASE WHEN doc_id % 7 != 0 THEN
            CASE (doc_id + j) % 4 WHEN 0 THEN 'daily' WHEN 1 THEN 'weekly'
                 WHEN 2 THEN 'monthly' END
            END AS changefreq,
       CASE WHEN doc_id % 7 != 0 AND (doc_id + j) % 5 != 4
            THEN ((doc_id + j) % 10) / 10.0 END AS priority
FROM t
ORDER BY doc_id, entry_index
"""


def feed_entries_op(
    spark: SparkSession, sf: str, *, mega_entries: int = 0
) -> DataFrame:
    """RSS/Atom feed source (sources/feeds.py): every document renders
    into a discovery feed — RSS 2.0 for even doc_ids (RFC 2822 dates),
    Atom for odd ones (RFC 3339 dates, a self link the parser must
    skip in favor of rel=alternate) — and the per-entry rows come back
    out. Planted strings + epoch arithmetic ⇒ DuckDB oracle
    (UNNEST(range) replay). One zero-shuffle Arrow render+parse
    pass."""
    from wc_vector_indexing_spark.sources.feeds import (
        parse_feed,
        to_atom,
        to_rss,
    )

    docs = load(spark, "documents", sf).select("doc_id")

    def render(batches):
        import pandas as pd

        cols = ["doc_id", "dialect", "feed_title", "entry_index", "title",
                "link", "published_ts", "summary"]
        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = int(d)
                # mega_entries: skew-suite knob — doc 0 becomes one
                # giant feed (straggler). Registry/oracle always use 0.
                n_e = mega_entries if (mega_entries and d == 0) else 1 + d % 3
                entries = [
                    {
                        "title": f"Entry {j} of feed {d}",
                        "link": f"https://feed{d % 20}.example/{d}/{j}",
                        "published_ts": 1704067200 + (d % 30) * 86400 + j * 60,
                        "summary": f"Summary {d}-{j}",
                    }
                    for j in range(n_e)
                ]
                writer = to_rss if d % 2 == 0 else to_atom
                feed = parse_feed(writer(f"Feed {d}", entries))
                for j, e in enumerate(feed["entries"]):
                    out.append({
                        "doc_id": d,
                        "dialect": feed["dialect"],
                        "feed_title": feed["feed_title"],
                        "entry_index": j,
                        **e,
                    })
            yield pd.DataFrame(out, columns=cols)

    return docs.mapInPandas(
        render,
        schema="doc_id long, dialect string, feed_title string, "
               "entry_index long, title string, link string, "
               "published_ts long, summary string",
    ).orderBy("doc_id", "entry_index")


FEED_ENTRIES_SQL = r"""
WITH t AS (
    SELECT doc_id, UNNEST(range(1 + doc_id % 3)) AS j FROM documents
)
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'rss' ELSE 'atom' END AS dialect,
       'Feed ' || doc_id AS feed_title,
       j AS entry_index,
       'Entry ' || j || ' of feed ' || doc_id AS title,
       'https://feed' || doc_id % 20 || '.example/' || doc_id || '/' || j AS link,
       1704067200 + (doc_id % 30) * 86400 + j * 60 AS published_ts,
       'Summary ' || doc_id || '-' || j AS summary
FROM t
ORDER BY doc_id, entry_index
"""


def video_dedup_requant_op(
    spark: SparkSession, sf: str, *, n: int = 48, patterns: int = 12
) -> DataFrame:
    """Quality-re-encode video dedup (operators/video.
    video_requant_pairs): doc_ids sharing ``doc_id % 12`` carry the
    SAME three base frames, but every copy is re-quantized — a
    deterministic per-copy ±4-level pixel noise before the JPEG encode,
    the re-compressed-upload case that moves each frame's dHash 1-2
    bits and blinds the exact sequence-signature join. The per-position
    banded Hamming-4 join must recover exactly the planted groups
    (measured margins: within-pattern <= 2 bits, cross-pattern >= 20)
    — pure doc_id arithmetic, hence the DuckDB oracle."""
    import numpy as np

    from wc_vector_indexing_spark.operators.jpeg import encode_baseline
    from wc_vector_indexing_spark.operators.video import (
        video_requant_pairs,
        write_mjpeg_avi,
    )

    docs = (load(spark, "documents", sf).select("doc_id")
            .orderBy("doc_id").limit(n).repartition(max(1, min(32, n // 4))))

    def render(batches):
        import pandas as pd

        for pdf in batches:
            ids, kinds, blobs = [], [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                pat = d % patterns
                copy = d // patterns
                frames = []
                for fno in range(3):
                    g = np.random.RandomState(7000 + pat * 8 + fno)
                    base = np.kron(
                        (g.permutation(96).reshape(8, 12) * 2.6),
                        np.ones((2, 2)))
                    nz = np.random.RandomState(900 + 100 * pat + 10 * copy + fno)
                    img = np.clip(
                        base + nz.randint(-4, 5, base.shape), 0, 255
                    ).astype(np.uint8)
                    frames.append(img)
                avi = write_mjpeg_avi(
                    [encode_baseline(f) for f in frames], 24, 16, fps=10)
                ids.append(d)
                kinds.append("video")
                blobs.append(avi)
            yield pd.DataFrame({"media_id": ids, "kind": kinds,
                                "content": blobs})

    media = docs.mapInPandas(
        render, schema="media_id long, kind string, content binary")
    return (video_requant_pairs(media, max_frame_hamming=4)
            .orderBy("media_a", "media_b"))


VIDEO_REQUANT_SQL = r"""
WITH ids AS (
    SELECT doc_id FROM documents ORDER BY doc_id LIMIT 48
)
SELECT a.doc_id AS media_a, b.doc_id AS media_b
FROM ids a JOIN ids b
  ON a.doc_id % 12 = b.doc_id % 12 AND a.doc_id < b.doc_id
ORDER BY media_a, media_b
"""


def code_detect_op(spark: SparkSession, sf: str) -> DataFrame:
    """Code-vs-prose routing signal (operators/textstats.code_detect):
    integer-only codegen features + conservative threshold flag over
    one scan of the documents table — the oracle replays the regex
    counts and the flag arithmetic directly in SQL."""
    from wc_vector_indexing_spark.operators.textstats import code_detect

    return code_detect(load(spark, "documents", sf)).orderBy("doc_id")


CODE_DETECT_SQL = r"""
SELECT doc_id,
       (length(text) - length(regexp_replace(text, '[{}\[\]();=<>]', '', 'g')))::BIGINT AS symbol_count,
       len(string_split(text, chr(10)))::BIGINT AS n_lines,
       len(regexp_extract_all(text, '(?m)^(?:    |\t)'))::BIGINT AS indent_lines,
       len(regexp_extract_all(text, '(?m);[ \t]*$'))::BIGINT AS semi_lines,
       len(regexp_extract_all(text, '\b(?:def|class|return|import|function|const|var|void|int|elif|lambda|public|static)\b'))::BIGINT AS kw_hits,
       (
         ((length(text) - length(regexp_replace(text, '[{}\[\]();=<>]', '', 'g'))) * 25 >= length(text)
          AND len(regexp_extract_all(text, '\b(?:def|class|return|import|function|const|var|void|int|elif|lambda|public|static)\b')) >= 2)
         OR (len(regexp_extract_all(text, '(?m);[ \t]*$')) * 3 >= len(string_split(text, chr(10)))
             AND len(string_split(text, chr(10))) >= 4)
       ) AS is_code
FROM documents
ORDER BY doc_id
"""


def heavy_hitters_op(spark: SparkSession, sf: str) -> DataFrame:
    """Exact corpus heavy hitters via two-pass Misra-Gries
    (operators/profile.heavy_hitters): pass A ships only slots x
    partitions candidate rows (never the vocabulary), pass B counts
    the broadcast candidates exactly — so the result is EXACT and the
    DuckDB oracle is a plain uncapped GROUP BY with the same ceil
    threshold and integer-ppm arithmetic. The 100 TB story is the
    shuffle bound; the correctness story is the MG superset guarantee
    (any token above N/(slots+1) survives the merge)."""
    from wc_vector_indexing_spark.operators.profile import heavy_hitters

    return heavy_hitters(load(spark, "documents", sf), "text",
                         min_share=0.002)


HEAVY_HITTERS_SQL = r"""
WITH t AS (
    SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS token
    FROM documents
), tt AS (
    SELECT token FROM t WHERE length(token) > 0
), tot AS (
    SELECT count(*) AS n FROM tt
)
SELECT token, count(*)::BIGINT AS cnt,
       (count(*) * 1000000) // (SELECT n FROM tot) AS ppm
FROM tt GROUP BY token
HAVING count(*) >= ceil((SELECT n FROM tot) * 0.002)
ORDER BY cnt DESC, token
"""


def _warc_cdx_fixture_recs(d: int, hot_digest: bool = False) -> list[dict]:
    """The planted-archive record list BOTH warc_cdx_index and
    warc_revisit_resolve render (one source of truth — their two SQL
    oracles assume the same framing): 1 + d%3 records with fixed-width
    fields; slot j==2 (3-record files only) is a revisit of record 0.
    ``hot_digest`` makes every body identical (skew knob)."""
    recs: list[dict] = []
    for j in range(1 + d % 3):
        if j == 2:  # revisit of record 0 (archive dedup)
            if hot_digest:
                body = b"<p>shared-boilerplate-body</p>"
            else:
                body = f"<p>rec-{d:05d}-000-payloadbody</p>".encode()
            dig = base64.b32encode(
                hashlib.sha1(body).digest()).decode("ascii")
            recs.append({
                "url": f"https://w{d:05d}.example/p000",
                "warc_date": f"2024-01-01T00:00:{(d + j) % 60:02d}Z",
                "record_id": f"<urn:uuid:{d:05d}-{j:03d}>",
                "revisit": True,
                "refers_to": f"<urn:uuid:{d:05d}-000>",
                "payload_digest": dig,
            })
            continue
        if hot_digest:
            html = "<p>shared-boilerplate-body</p>"
        else:
            html = f"<p>rec-{d:05d}-{j:03d}-payloadbody</p>"
        recs.append({
            "url": f"https://w{d:05d}.example/p{j:03d}",
            "html": html,
            "warc_date": f"2024-01-01T00:00:{(d + j) % 60:02d}Z",
            "record_id": f"<urn:uuid:{d:05d}-{j:03d}>",
        })
    return recs


def warc_cdx_index_op(
    spark: SparkSession, sf: str, *, _audit: bool = False
) -> DataFrame:
    """CDX index generation (sources/warc.warc_cdx_index — the
    random-access side door every web archive ships next to its
    WARCs): every document renders into a real WARC file of 1-3
    records with FIXED-WIDTH planted fields, so each record occupies a
    constant width (315-byte responses, 460-byte revisits) after the
    constant 95-byte warcinfo prologue and the byte offset/length the
    index reports are pure arithmetic for the DuckDB oracle (if the
    WARC writer's framing ever changes, this parity check is the
    tripwire). Every THIRD-record slot (doc_id % 3 == 2) is a REVISIT
    of that file's first record — the archive-side dedup convention —
    so the index's record_type/refers_to semantics are oracle-checked:
    the revisit row points at record 0's WARC-Record-ID and carries
    mime 'warc/revisit'. SURT url keys, 14-digit timestamps, mime and
    status are planted strings; the sha1-b32 payload digest is not
    SQL-expressible and is projected away here (pinned against hashlib
    in test_html_warc.py, including the revisit row carrying record
    0's digest). One zero-shuffle Arrow render+index pass."""
    from wc_vector_indexing_spark.sources.warc import (
        to_warc_bytes,
        warc_cdx_index,
    )

    docs = load(spark, "documents", sf).select("doc_id").repartition(32)

    def render(batches):
        import pandas as pd

        for pdf in batches:
            paths, blobs = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                paths.append(f"mem://doc{d}.warc")
                blobs.append(to_warc_bytes(_warc_cdx_fixture_recs(d)))
            yield pd.DataFrame({"warc_path": paths, "content": blobs})

    raw = docs.mapInPandas(render, schema="warc_path string, content binary")
    idx = warc_cdx_index(raw)
    return _ckpt_sorted(
        idx.select(
            F.regexp_extract("warc_path", r"doc(\d+)\.warc", 1)
            .cast("long").alias("doc_id"),
            ((F.col("offset") - 95) / 315).cast("long").alias("rec_index"),
            "urlkey", "ts14", "url", "mime", "status", "offset", "length",
            "record_type", "refers_to",
        ),
        "doc_id", "rec_index",
        audit=_audit,
    )


WARC_CDX_SQL = r"""
WITH t AS (
    SELECT doc_id, UNNEST(range(1 + doc_id % 3)) AS j FROM documents
),
r AS (
    SELECT doc_id, j,
           CASE WHEN j = 2 THEN 0 ELSE j END AS uj,
           j = 2 AS is_rev
    FROM t
)
SELECT doc_id, j AS rec_index,
       'example,w' || printf('%05d', doc_id) || ')/p'
           || lpad(uj::VARCHAR, 3, '0') AS urlkey,
       '202401010000' || lpad(((doc_id + j) % 60)::VARCHAR, 2, '0') AS ts14,
       'https://w' || printf('%05d', doc_id) || '.example/p'
           || lpad(uj::VARCHAR, 3, '0') AS url,
       CASE WHEN is_rev THEN 'warc/revisit' ELSE 'text/html' END AS mime,
       200::INT AS status,
       (95 + j * 315)::BIGINT AS offset,
       (CASE WHEN is_rev THEN 460 ELSE 315 END)::BIGINT AS length,
       CASE WHEN is_rev THEN 'revisit' ELSE 'response' END AS record_type,
       CASE WHEN is_rev THEN '<urn:uuid:' || printf('%05d', doc_id)
            || '-000>' END AS refers_to
FROM r
ORDER BY doc_id, rec_index
"""


def warc_revisit_resolve_op(
    spark: SparkSession, sf: str, *, hot_digest: bool = False
) -> DataFrame:
    """Replayer-side revisit resolution (sources/warc.resolve_revisits)
    over the warc_cdx_index fixture: every 3-record file's revisit row
    (doc_id % 3 == 2) must resolve — by digest + as-of timestamp, the
    CDX-lookup rule — to its file's FIRST response record at offset 95
    / length 315. The fixture's second-granularity timestamps wrap mod
    60, so docs with doc_id % 60 in {58, 59} plant revisits
    timestamped BEFORE their original: the as-of rule must leave those
    UNRESOLVED (null offsets), which the oracle states in closed form.
    Equi-join on digest + one as-of window; no all-pairs.

    ``hot_digest``: skew-suite knob — EVERY record in the corpus
    carries the same body, so the whole archive collapses onto one
    digest (the boilerplate empty-page case at archive scale): the
    response side rides the max_digest_candidates newest-N cap and the
    as-of window ranks N candidates per revisit instead of ~1.
    Registry/oracle always use False."""
    # rebuild the same planted archive the CDX entry indexes
    from wc_vector_indexing_spark.sources.warc import (
        resolve_revisits,
        to_warc_bytes,
        warc_cdx_index,
    )

    docs = load(spark, "documents", sf).select("doc_id").repartition(32)

    def render(batches):
        import pandas as pd

        for pdf in batches:
            paths, blobs = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                recs = _warc_cdx_fixture_recs(d, hot_digest)
                if not any(r.get("revisit") for r in recs):
                    continue  # only 3-record files carry a revisit
                paths.append(f"mem://doc{d}.warc")
                blobs.append(to_warc_bytes(recs))
            yield pd.DataFrame({"warc_path": paths, "content": blobs})

    raw = docs.mapInPandas(render, schema="warc_path string, content binary")
    res = resolve_revisits(warc_cdx_index(raw))
    return (
        res.select(
            F.regexp_extract("revisit_warc_path", r"doc(\d+)\.warc", 1)
            .cast("long").alias("doc_id"),
            "urlkey", "url", "revisit_ts14", "refers_to", "resolved",
            F.regexp_extract(F.coalesce("orig_warc_path", F.lit("")),
                             r"doc(\d+)\.warc", 1).alias("orig_doc"),
            "orig_ts14", "orig_offset", "orig_length",
        )
        .withColumn("orig_doc", F.when(F.col("orig_doc") != "",
                                       F.col("orig_doc").cast("long")))
        .orderBy("doc_id")
    )


WARC_REVISIT_RESOLVE_SQL = r"""
WITH t AS (
    SELECT doc_id FROM documents WHERE doc_id % 3 = 2
),
r AS (
    SELECT doc_id,
           doc_id % 60 <= (doc_id + 2) % 60 AS ok
    FROM t
)
SELECT doc_id,
       'example,w' || printf('%05d', doc_id) || ')/p000' AS urlkey,
       'https://w' || printf('%05d', doc_id) || '.example/p000' AS url,
       '202401010000' || lpad(((doc_id + 2) % 60)::VARCHAR, 2, '0')
           AS revisit_ts14,
       '<urn:uuid:' || printf('%05d', doc_id) || '-000>' AS refers_to,
       ok AS resolved,
       CASE WHEN ok THEN doc_id END AS orig_doc,
       CASE WHEN ok THEN '202401010000'
            || lpad((doc_id % 60)::VARCHAR, 2, '0') END AS orig_ts14,
       CASE WHEN ok THEN 95::BIGINT END AS orig_offset,
       CASE WHEN ok THEN 315::BIGINT END AS orig_length
FROM r
ORDER BY doc_id
"""


def warc_dedup_write_op(spark: SparkSession, sf: str) -> DataFrame:
    """Archive-writer dedup decisions (sources/warc.plan_archive_dedup
    — the WRITER half of the revisit convention): a planted crawl
    batch where bodies repeat across documents (digest class =
    doc_id % 40) meets a prior index holding every third digest class.
    Prior-known digests must make EVERY carrier a revisit of the prior
    capture; fresh digests elect the batch's earliest capture (ts14,
    url tiebreak — the timestamps cycle doc_id % 60, so the winner is
    NOT simply the lowest doc_id) as the response and point the rest
    at it. Pure Catalyst both sides; the DuckDB oracle replays the
    same window + join verbatim."""
    from wc_vector_indexing_spark.sources.warc import plan_archive_dedup

    docs = load(spark, "documents", sf).select("doc_id")
    batch = docs.select(
        F.format_string("https://b.example/d%05d", F.col("doc_id"))
        .alias("url"),
        F.format_string("202406010000%02d", F.col("doc_id") % 60)
        .alias("ts14"),
        F.format_string("DIG%03d", F.col("doc_id") % 40).alias("digest"),
        (F.lit(100) + F.col("doc_id") % 40).cast("long").alias("length"),
    )
    prior = (
        spark.range(40).filter(F.col("id") % 3 == 0)
        .select(
            F.format_string("DIG%03d", F.col("id")).alias("digest"),
            F.format_string("https://prior.example/k%03d", F.col("id"))
            .alias("url"),
            F.format_string("202401010000%02d", F.col("id") % 60)
            .alias("ts14"),
        )
    )
    out = plan_archive_dedup(batch, prior)
    return (
        out.select(
            F.regexp_extract("url", r"/d(\d+)$", 1).cast("long")
            .alias("doc_id"),
            "digest", "length", "record_type", "refers_source",
            "refers_url", "refers_ts14", "bytes_saved",
        )
        .orderBy("doc_id")
    )


WARC_DEDUP_WRITE_SQL = r"""
WITH batch AS (
    SELECT doc_id,
           'https://b.example/d' || printf('%05d', doc_id) AS url,
           '202406010000' || lpad((doc_id % 60)::VARCHAR, 2, '0') AS ts14,
           'DIG' || lpad((doc_id % 40)::VARCHAR, 3, '0') AS digest,
           (100 + doc_id % 40)::BIGINT AS length
    FROM documents
),
prior AS (
    SELECT 'DIG' || lpad(k::VARCHAR, 3, '0') AS digest,
           'https://prior.example/k' || lpad(k::VARCHAR, 3, '0') AS p_url,
           '202401010000' || lpad((k % 60)::VARCHAR, 2, '0') AS p_ts
    FROM (SELECT UNNEST(range(40)) AS k) WHERE k % 3 = 0
),
ranked AS (
    SELECT b.*,
           row_number() OVER (PARTITION BY b.digest
                              ORDER BY b.ts14, b.url) AS rn,
           first_value(b.url) OVER (PARTITION BY b.digest
                                    ORDER BY b.ts14, b.url) AS first_url,
           first_value(b.ts14) OVER (PARTITION BY b.digest
                                     ORDER BY b.ts14, b.url) AS first_ts,
           p.p_url, p.p_ts
    FROM batch b LEFT JOIN prior p USING (digest)
)
SELECT doc_id, digest, length,
       CASE WHEN p_url IS NOT NULL OR rn > 1
            THEN 'revisit' ELSE 'response' END AS record_type,
       CASE WHEN p_url IS NOT NULL THEN 'prior'
            WHEN rn > 1 THEN 'batch' END AS refers_source,
       CASE WHEN p_url IS NOT NULL THEN p_url
            WHEN rn > 1 THEN first_url END AS refers_url,
       CASE WHEN p_url IS NOT NULL THEN p_ts
            WHEN rn > 1 THEN first_ts END AS refers_ts14,
       CASE WHEN p_url IS NOT NULL OR rn > 1
            THEN length ELSE 0 END AS bytes_saved
FROM ranked
ORDER BY doc_id
"""


def cdx_snapshot_diff_op(spark: SparkSession, sf: str) -> DataFrame:
    """Crawl-over-crawl churn (sources/warc.cdx_snapshot_diff) over two
    planted CDX snapshots: the OLD crawl covers doc_id % 5 != 0 (and
    carries a STALE extra capture for every sixth urlkey, so the
    latest-capture max_by is doing real work — if it ever picked the
    stale row those urlkeys would flip to 'changed' and the oracle
    would trip), the NEW crawl covers
    doc_id % 7 != 3 with the digest moved for doc_id % 4 == 1.
    Closed-form statuses: new / gone / changed / unchanged by pure
    doc_id arithmetic. Everything JVM-side."""
    from wc_vector_indexing_spark.sources.warc import cdx_snapshot_diff

    docs = load(spark, "documents", sf).select("doc_id")
    base = docs.select(
        "doc_id",
        F.format_string("example,u)/p%05d", F.col("doc_id")).alias("urlkey"),
    )
    old_rows = base.filter(F.col("doc_id") % 5 != 0).select(
        "urlkey",
        F.format_string("DA%05d", F.col("doc_id")).alias("digest_sha1_b32"),
        F.format_string("20240101%02d0000", F.col("doc_id") % 24)
        .alias("ts14"),
        (F.col("doc_id") * 100).cast("long").alias("offset"),
    )
    stale = base.filter(
        (F.col("doc_id") % 5 != 0) & (F.col("doc_id") % 6 == 0)
    ).select(
        "urlkey",
        F.format_string("STALE%05d", F.col("doc_id"))
        .alias("digest_sha1_b32"),
        F.lit("20231201000000").alias("ts14"),
        (F.col("doc_id") * 100 + 1).cast("long").alias("offset"),
    )
    new_rows = base.filter(F.col("doc_id") % 7 != 3).select(
        "urlkey",
        F.when(F.col("doc_id") % 4 == 1,
               F.format_string("DB%05d", F.col("doc_id")))
        .otherwise(F.format_string("DA%05d", F.col("doc_id")))
        .alias("digest_sha1_b32"),
        F.format_string("20240601%02d0000", F.col("doc_id") % 24)
        .alias("ts14"),
        (F.col("doc_id") * 100).cast("long").alias("offset"),
    )
    return (
        cdx_snapshot_diff(old_rows.unionByName(stale), new_rows)
        .orderBy("urlkey")
    )


CDX_SNAPSHOT_DIFF_SQL = r"""
WITH d AS (
    SELECT doc_id,
           'example,u)/p' || printf('%05d', doc_id) AS urlkey,
           doc_id % 5 <> 0 AS in_old,
           doc_id % 7 <> 3 AS in_new,
           doc_id % 4 = 1 AS moved
    FROM documents
)
SELECT urlkey,
       CASE WHEN NOT in_old THEN 'new'
            WHEN NOT in_new THEN 'gone'
            WHEN moved THEN 'changed' ELSE 'unchanged' END AS status,
       CASE WHEN in_old
            THEN 'DA' || printf('%05d', doc_id) END AS old_digest,
       CASE WHEN in_new THEN
            CASE WHEN moved THEN 'DB' ELSE 'DA' END
            || printf('%05d', doc_id) END AS new_digest,
       CASE WHEN in_old THEN '20240101'
            || lpad((doc_id % 24)::VARCHAR, 2, '0') || '0000'
            END AS old_ts,
       CASE WHEN in_new THEN '20240601'
            || lpad((doc_id % 24)::VARCHAR, 2, '0') || '0000'
            END AS new_ts
FROM d
WHERE in_old OR in_new
ORDER BY urlkey
"""


_CRAWL_TOPICS = [
    ("ocean", "tide", "reef", "coral"), ("desert", "dune", "sand", "cactus"),
    ("forest", "pine", "moss", "fern"), ("glacier", "ice", "snow", "ridge"),
    ("meadow", "grass", "clover", "bee"), ("canyon", "rock", "cliff", "river"),
]
# near-dup tail appended to one anchor article per even group: +4 new
# 4-gram shingles on ~33 → Jaccard ≈ 0.85 ≥ the 0.5 curation threshold
_CRAWL_ND_SUFFIX = " Additional trailing words appended here now."
# digit-heavy plant: quality 0.43 < 0.5 → low_quality audit branch
_CRAWL_LQ_PREFIX = "000 111 222 333 444 555 666 777 888 999 000 111 222 333 "
# de-stopword plant: quality 0.67 ≥ 0.5 but predicted_lang='de' →
# wrong_language audit branch
_CRAWL_DE_PREFIX = ("der die und das ist ein eine zu den von der die und "
                    "das ist ein eine zu den von seite ")


def _crawl_article_parts(g: int) -> tuple[str, str]:
    """(prefix, suffix) around the doc_id for group ``g``'s anchor
    article — the ONE definition both the WARC fixture renderer and
    the DuckDB oracle's CASE arms are generated from, so the planted
    truth cannot drift between engines. Group-specific topic words sit
    within every 4 tokens, pushing cross-group shingle Jaccard to ~0.2
    (below the 0.5 near-dup threshold): without them every anchor
    article would near-dup-cluster with every other."""
    a, b, c, e = _CRAWL_TOPICS[g]
    return (
        f"the {a} {b} is part of the {c} {e} survey and it is clear "
        f"that the {a} {e} record of page ",
        f" can be used for the {b} {c} study tasks in it for training runs.",
    )


def _crawl_page(text: str, alt_chrome: bool = False) -> str:
    """Wrap an article in link-dense nav/footer chrome the extractor
    must strip (same block shapes html_main_text pins). ``alt_chrome``
    adds one nav link — different bytes (different payload digest),
    identical extracted text: the duplicate class only TEXT-level exact
    dedup can catch after archive-level digest dedup misses it."""
    extra = " <a href='/b'>Blog</a>" if alt_chrome else ""
    return (
        "<html><body><nav><a href='/'>Home</a> <a href='/a'>About</a> "
        f"<a href='/c'>Contact</a>{extra}</nav><p>{text}</p>"
        "<footer><a href='/p'>Privacy</a> <a href='/t'>Terms</a>"
        "</footer></body></html>"
    )


def _crawl_fixture_recs(g: int, ids: list[int]) -> list[dict]:
    """Group ``g``'s six WARC records — one planted instance of every
    duplicate/reject class the crawl→training-set chain must handle:

      slot 0  anchor response (good English article, survives)
      slot 1  same EXTRACTED TEXT as slot 0 under different chrome →
              different digest, caught only by exact text dedup
      slot 2  true REVISIT record of slot 0 (same payload digest,
              later ts, WARC-Refers-To pointer) → resolve_revisits
      slot 3  byte-identical duplicate RESPONSE at another URL →
              plan_archive_dedup writer decision drops it
      slot 4  German article → wrong_language audit branch
      slot 5  even g: near-dup of the anchor (minhash); odd g:
              digit-heavy low-quality page
    """
    import base64
    import hashlib

    d = ids[6 * g: 6 * g + 6]
    pre, suf = _crawl_article_parts(g)
    anchor_html = _crawl_page(f"{pre}{d[0]}{suf}")
    digest = base64.b32encode(
        hashlib.sha1(anchor_html.encode()).digest()).decode("ascii")

    def ts(slot: int) -> str:
        return f"2024-01-01T00:00:{6 * g + slot:02d}Z"

    def rec(slot: int, url_d: int, html: str) -> dict:
        return {"url": f"https://crawl.example/{url_d}", "html": html,
                "warc_date": ts(slot),
                "record_id": f"<urn:uuid:rec{6 * g + slot}>"}

    tail = (
        _crawl_page(f"{pre}{d[0]}{suf}{_CRAWL_ND_SUFFIX}")
        if g % 2 == 0
        else _crawl_page(f"{_CRAWL_LQ_PREFIX}{d[5]}")
    )
    return [
        rec(0, d[0], anchor_html),
        rec(1, d[1], _crawl_page(f"{pre}{d[0]}{suf}", alt_chrome=True)),
        {"url": f"https://crawl.example/{d[0]}", "revisit": True,
         "warc_date": ts(2), "record_id": f"<urn:uuid:rec{6 * g + 2}>",
         "refers_to": f"<urn:uuid:rec{6 * g}>", "payload_digest": digest},
        rec(3, d[3], anchor_html),
        rec(4, d[4], _crawl_page(f"{_CRAWL_DE_PREFIX}{d[4]}")),
        rec(5, d[5], tail),
    ]


def crawl_to_training_set_op(spark: SparkSession, sf: str) -> DataFrame:
    """THE crawl front door end to end, one lazy program (the r10
    verdict's top task): raw WARC bytes → CDX index (revisit rows
    included) → resolve_revisits (as-of digest resolution) →
    plan_archive_dedup (writer response-vs-revisit decisions) →
    main-text extraction (html_extract) → curation (quality → language
    → exact + near dedup) → content-addressed train/val/test split →
    packed per-split summary with capture provenance. Every stage is
    an existing green operator; this entry is where cross-operator
    schema/contract drift would hide (reference analogue: the full
    Job_Index_Product::handle composition, class-indexer.php:284-477,
    restated for a crawl corpus).

    Fixture: six planted WARC files (6 records each, see
    _crawl_fixture_recs) covering every duplicate class — archive-level
    byte dups, revisit pointers, chrome-variant text dups, minhash
    near-dups — plus language and quality rejects. Planted truth ⇒ the
    DuckDB oracle reconstructs the post-archive page relation by slot
    arithmetic and replays curation/split with the SAME shared CTE
    chain the curation_pipeline oracle uses; n_captures folds revisit
    resolution and writer decisions into the gated answer (3 captures
    per anchor digest, 1 elsewhere).

    Scale shape: the CDX build is one Arrow pass over file bytes; its
    three consumers share one persisted build (at 100 TB the CDX is a
    written artifact between stages). Dedup joins key on digest/url —
    group sizes are duplicate-cluster sizes, never all-pairs; the
    summary is a bounded 9-row collect."""
    out, caches = _crawl_training_program(spark, sf)
    rows = out.collect()  # eager bounded summary: release caches after
    for c in caches:
        c.unpersist()
    return spark.createDataFrame(
        rows, "split string, n_docs long, n_captures long, avg_tokens double")


def _crawl_training_program(
    spark: SparkSession, sf: str,
) -> tuple[DataFrame, tuple]:
    """crawl_to_training_set's LAZY composition (pre-collect) plus the
    persisted handles to release — also the plan-audit surface
    (QuerySpec.audit_fn), so PLANS.md shows the real shuffle/python
    shape instead of the driver-built summary frame."""
    from wc_vector_indexing_spark.operators.curation import (
        CurationConfig,
        curate,
    )
    from wc_vector_indexing_spark.operators.html_extract import (
        extract_documents,
    )
    from wc_vector_indexing_spark.operators.sampling import hash_split
    from wc_vector_indexing_spark.operators.textstats import token_count
    from wc_vector_indexing_spark.sources.warc import (
        parse_warc,
        plan_archive_dedup,
        resolve_revisits,
        to_warc_bytes,
        warc_cdx_index,
    )

    ids = [
        int(r[0])
        for r in load(spark, "documents", sf)
        .select("doc_id").orderBy("doc_id").limit(36).collect()
    ]

    def render(batches):
        import pandas as pd

        for pdf in batches:
            paths, blobs = [], []
            for g in pdf["g"]:
                paths.append(f"mem://crawl{int(g)}.warc")
                blobs.append(
                    to_warc_bytes(_crawl_fixture_recs(int(g), ids),
                                  version="1.1"))
            yield pd.DataFrame({"warc_path": paths, "content": blobs})

    gdf = spark.createDataFrame([(g,) for g in range(6)], "g int").repartition(6)
    raw = gdf.mapInPandas(render, schema="warc_path string, content binary")
    cdx = warc_cdx_index(raw).persist()
    resolved = resolve_revisits(cdx)
    responses = cdx.filter(F.col("record_type") == "response").select(
        "url", "ts14", F.col("digest_sha1_b32").alias("digest"), "length")
    decisions = plan_archive_dedup(responses)
    rev_n = (resolved.filter(F.col("resolved"))
             .groupBy("digest").agg(F.count(F.lit(1)).alias("n_rev")))
    dup_n = (decisions.filter(F.col("record_type") == "revisit")
             .groupBy("digest").agg(F.count(F.lit(1)).alias("n_dup")))
    # captures-per-kept-page: the response itself + revisit records that
    # resolve to its digest + byte-dup responses the writer demoted
    caps = (decisions.filter(F.col("record_type") == "response")
            .select("url", "digest")
            .join(rev_n, "digest", "left").join(dup_n, "digest", "left")
            .select(
                "url",
                (F.lit(1) + F.coalesce("n_rev", F.lit(0))
                 + F.coalesce("n_dup", F.lit(0))).alias("n_captures")))
    # inner join = the keep-set filter AND the provenance attach in one
    # (caps carries exactly the first-capture urls); broadcast — the
    # decision table is archive-index-sized, not corpus-sized
    pages = parse_warc(raw).join(F.broadcast(caps), "url")
    docs = extract_documents(
        pages.select(
            F.regexp_extract("url", r"/(\d+)$", 1).cast("long").alias("doc_id"),
            "n_captures", "html")
    ).select("doc_id", "n_captures", "text")
    result = curate(docs, CurationConfig(
        min_quality=0.5, languages=("en",), minhash_token_hash="md5"))
    split_summary = (
        hash_split(result.curated, "doc_id")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_captures").alias("n_captures"),
             F.round(F.avg(token_count(F.col("text"))), 2).alias("avg_tokens")))
    dropped = (result.audit.groupBy("reject_reason")
               .agg(F.count(F.lit(1)).alias("n_docs"))
               .select(F.concat(F.lit("dropped_"),
                                "reject_reason").alias("split"),
                       "n_docs"))
    arch = (decisions.filter(F.col("record_type") == "revisit")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .select(F.lit("dropped_archive_dup").alias("split"), "n_docs"))
    out = split_summary.unionByName(
        dropped.unionByName(arch).filter(F.col("n_docs") > 0)
        .select("split", "n_docs",
                F.lit(None).cast("long").alias("n_captures"),
                F.lit(None).cast("double").alias("avg_tokens"))
    ).orderBy("split")
    return out, (result, cdx)


def _crawl_to_training_sql() -> str:
    """crawl_to_training_set's oracle: rebuild the post-archive-dedup
    page relation from slot arithmetic (slots 2/3 are the revisit
    pointer and the writer-demoted byte dup — planted truth says they
    never reach extraction), replay curation with the SAME shared CTE
    chain as the curation_pipeline oracle, then split + summarize with
    per-anchor capture counts."""
    arms_pre = " ".join(
        f"WHEN {g} THEN '{_crawl_article_parts(g)[0]}'" for g in range(6))
    arms_suf = " ".join(
        f"WHEN {g} THEN '{_crawl_article_parts(g)[1]}'" for g in range(6))
    return rf"""
WITH RECURSIVE ids AS (
    SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS rnk
    FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 36)
), slots AS (
    SELECT doc_id, (rnk % 6)::INT AS slot, (rnk // 6)::INT AS g FROM ids
), anchors AS (
    SELECT g, doc_id AS d0 FROM slots WHERE slot = 0
), art AS (
    SELECT s.doc_id, s.slot, s.g,
           CASE s.g {arms_pre} END || a.d0 ||
           CASE s.g {arms_suf} END AS anchor_text
    FROM slots s JOIN anchors a USING (g)
), pages AS (
    SELECT doc_id,
           CASE WHEN slot IN (0, 1) THEN anchor_text
                WHEN slot = 5 AND g % 2 = 0
                     THEN anchor_text || '{_CRAWL_ND_SUFFIX}'
                WHEN slot = 5 THEN '{_CRAWL_LQ_PREFIX}' || doc_id
                ELSE '{_CRAWL_DE_PREFIX}' || doc_id END AS text
    FROM art WHERE slot IN (0, 1, 4, 5)
), {_curation_ctes('pages')},
curated AS (
    SELECT s2.doc_id, s2.text FROM s2
    LEFT JOIN near_dropped nd ON s2.doc_id = nd.doc_id
    WHERE nd.doc_id IS NULL
), caps AS (
    SELECT doc_id, CASE WHEN slot = 0 THEN 3 ELSE 1 END AS n_captures
    FROM slots
), sp AS (
    SELECT c.doc_id, c.text, k.n_captures,
           (('0x' || substr(sha256(c.doc_id::VARCHAR), 1, 8))::UBIGINT
            % 10000)::INT AS bucket
    FROM curated c JOIN caps k USING (doc_id)
), split_rows AS (
    SELECT CASE WHEN bucket < 8000 THEN 'train'
                WHEN bucket < 9000 THEN 'val' ELSE 'test' END AS split,
           count(*) AS n_docs, sum(n_captures) AS n_captures,
           round(avg(len(regexp_split_to_array(lower(trim(text)), '\s+'))),
                 2) AS avg_tokens
    FROM sp GROUP BY 1
), dropped AS (
    SELECT 'dropped_low_quality' AS split, count(*) AS n_docs FROM low_q
    UNION ALL SELECT 'dropped_wrong_language', count(*) FROM wrong_lang
    UNION ALL SELECT 'dropped_exact_duplicate', count(*) FROM exact_dropped
    UNION ALL SELECT 'dropped_near_duplicate', count(*) FROM near_dropped
    UNION ALL SELECT 'dropped_archive_dup',
                     (SELECT count(*) FROM slots WHERE slot = 3)
)
SELECT split, n_docs::BIGINT AS n_docs,
       n_captures::BIGINT AS n_captures, avg_tokens
FROM (
    SELECT split, n_docs, n_captures, avg_tokens FROM split_rows
    UNION ALL
    SELECT split, n_docs, NULL, NULL FROM dropped WHERE n_docs > 0
)
ORDER BY split
"""


def wiki_to_training_set_op(spark: SparkSession, sf: str) -> DataFrame:
    """The wiki front door end to end, one lazy program (mirrors
    crawl_to_training_set for the dump-sourced corpus): multistream
    dump bytes → slice-parallel bz2 walk + wikitext extraction
    (sources/wikixml.read_wiki_pages) → redirect/namespace gate →
    DECONTAMINATION against the crawl corpus (wiki text is the classic
    dedup/decontamination source: an anti-join on whitespace-normalized
    content digests against the documents table) → curation (quality →
    language → exact + md5-minhash near dedup) → content-addressed
    train/val/test split → packed per-split summary.

    Fixture: the lowest-36 docs become one 9-stream dump (4 pages per
    bz2 stream), six 6-page blocks sharing the crawl fixture's topic
    templates: slot 0 anchor article (heading + nowiki body), slot 1
    a DIFFERENT wikitext (infobox variant) extracting to the identical
    text — the markup-level exact-dup class, slot 2 the near-dup tail,
    slot 3 the digit low-quality plant, slot 4 the contamination plant
    (verbatim normalized documents.text — caught by the crawl digest
    join, never reaching curation), slot 5 a redirect. Planted truth ⇒
    the DuckDB oracle rebuilds the page relation by slot arithmetic,
    replays the digest join against documents, and reuses the shared
    curation CTE chain.

    Scale shape: extraction is the slice-parallel Arrow walk; the
    decontamination join keys on content DIGEST — both sides large in
    production, so it is a plain shuffled hash join (no broadcast),
    with map-side distinct on the crawl side; dedup group sizes are
    duplicate-cluster sizes; the summary is a bounded ≤9-row collect."""
    out_df, caches = _wiki_training_program(spark, sf)
    rows_out = out_df.collect()  # eager bounded summary: release caches
    for c in caches:
        c.unpersist()
    return spark.createDataFrame(
        rows_out, "split string, n_docs long, avg_tokens double")


def _wiki_training_program(
    spark: SparkSession, sf: str,
) -> tuple[DataFrame, tuple]:
    """wiki_to_training_set's LAZY composition (pre-collect) plus the
    persisted handles to release — also the plan-audit surface."""
    import hashlib
    import os
    import tempfile

    from wc_vector_indexing_spark.operators.curation import (
        CurationConfig,
        curate,
    )
    from wc_vector_indexing_spark.operators.sampling import hash_split
    from wc_vector_indexing_spark.operators.textstats import token_count
    from wc_vector_indexing_spark.sources.wikixml import (
        read_wiki_pages,
        to_wiki_multistream,
    )

    rows = _markup_fixture_rows(spark, sf)[:36]
    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_wikitrain_{key}")
    done = os.path.join(out, "_DONE")
    dump_path = os.path.join(out, "pages-multistream.xml.bz2")
    index_path = os.path.join(out, "pages-multistream-index.txt")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        pages = []
        for rnk, (doc_id, t) in enumerate(rows):
            g, slot = rnk // 6, rnk % 6
            d0 = rows[g * 6][0]
            pre, suf = _crawl_article_parts(g)
            article = f"{pre}{d0}{suf}"
            if slot == 5:
                pages.append({
                    "title": f"Doc {doc_id}", "ns": 0, "page_id": doc_id,
                    "redirect": f"Doc {d0}",
                    "text": f"#REDIRECT [[Doc {d0}]]",
                })
                continue
            if slot in (0, 1):
                body = f"== Doc {d0} ==\n<nowiki>{article}</nowiki>"
                if slot == 1:  # different bytes, identical extraction
                    body = "{{Infobox|planted}}\n" + body
            elif slot == 2:
                body = (f"== Doc {d0} ==\n"
                        f"<nowiki>{article}{_CRAWL_ND_SUFFIX}</nowiki>")
            elif slot == 3:
                body = f"<nowiki>{_CRAWL_LQ_PREFIX}{doc_id}</nowiki>"
            else:  # slot 4: verbatim crawl text — the contamination plant
                body = f"<nowiki>{t}</nowiki>"
            pages.append({
                "title": f"Doc {doc_id}", "ns": 0, "page_id": doc_id,
                "text": body,
            })
        dump, index = to_wiki_multistream(pages, pages_per_stream=4)
        with open(dump_path, "wb") as f:
            f.write(dump)
        with open(index_path, "w", encoding="utf-8") as f:
            f.write(index)
        with open(done, "w") as f:
            f.write("ok")

    # THREE branches of the final union consume the parsed-page frame
    # (redirect count, contamination count via wdocs, the curation
    # chain via clean) — without a stage boundary each re-runs the
    # slice-parallel bz2 decode python pass inside the one collect
    # (measured r14: the final action carried 3 × ~1s decode jobs).
    # Persisting the parsed pages is the classic "write the extracted
    # corpus between stages" boundary every real dump pipeline has.
    wiki = read_wiki_pages(spark, dump_path, index_path).persist()
    redirects = (
        wiki.filter(F.col("is_redirect"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(F.lit("dropped_redirect").alias("split"), "n_docs"))
    articles = wiki.filter((F.col("ns") == 0) & ~F.col("is_redirect"))

    def norm_digest(c):
        return F.md5(F.trim(F.regexp_replace(c, r"\s+", " ")))

    crawl_digests = (
        load(spark, "documents", sf)
        .select(norm_digest(F.coalesce(F.col("text"), F.lit("")))
                .alias("digest"))
        .distinct())
    wdocs = articles.select(
        F.col("page_id").alias("doc_id"), "text",
    ).withColumn("digest", norm_digest(F.col("text")))
    contaminated = (
        wdocs.join(crawl_digests, "digest", "left_semi")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(F.lit("dropped_crawl_duplicate").alias("split"), "n_docs"))
    clean = wdocs.join(crawl_digests, "digest", "left_anti").drop("digest")

    result = curate(clean, CurationConfig(
        min_quality=0.5, languages=("en",), minhash_token_hash="md5"))
    split_summary = (
        hash_split(result.curated, "doc_id")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.round(F.avg(token_count(F.col("text"))), 2)
             .alias("avg_tokens")))
    dropped = (result.audit.groupBy("reject_reason")
               .agg(F.count(F.lit(1)).alias("n_docs"))
               .select(F.concat(F.lit("dropped_"),
                                "reject_reason").alias("split"),
                       "n_docs"))
    out_df = split_summary.unionByName(
        dropped.unionByName(redirects).unionByName(contaminated)
        .filter(F.col("n_docs") > 0)
        .select("split", "n_docs",
                F.lit(None).cast("double").alias("avg_tokens"))
    ).orderBy("split")
    return out_df, (result, wiki)


def _wiki_to_training_sql() -> str:
    """wiki_to_training_set's oracle: rebuild the extracted page
    relation by slot arithmetic (slot 5 never parses as an article;
    slot 4 is verbatim normalized crawl text), replay the
    decontamination digest join against documents, then the shared
    curation CTE chain + split/summary arithmetic."""
    arms_pre = " ".join(
        f"WHEN {g} THEN '{_crawl_article_parts(g)[0]}'" for g in range(6))
    arms_suf = " ".join(
        f"WHEN {g} THEN '{_crawl_article_parts(g)[1]}'" for g in range(6))
    return rf"""
WITH RECURSIVE ids AS (
    SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS rnk,
           trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')) AS t
    FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 36)
), slots AS (
    SELECT doc_id, t, (rnk % 6)::INT AS slot, (rnk // 6)::INT AS g FROM ids
), anchors AS (
    SELECT g, doc_id AS d0 FROM slots WHERE slot = 0
), art AS (
    SELECT s.doc_id, s.slot, s.t, a.d0,
           CASE s.g {arms_pre} END || a.d0 ||
           CASE s.g {arms_suf} END AS anchor_text
    FROM slots s JOIN anchors a USING (g)
), wiki AS (
    SELECT doc_id,
           CASE WHEN slot IN (0, 1)
                     THEN 'Doc ' || d0 || chr(10) || anchor_text
                WHEN slot = 2
                     THEN 'Doc ' || d0 || chr(10) || anchor_text
                          || '{_CRAWL_ND_SUFFIX}'
                WHEN slot = 3 THEN '{_CRAWL_LQ_PREFIX}' || doc_id
                ELSE t END AS text
    FROM art WHERE slot < 5
), crawl_dig AS (
    SELECT DISTINCT
           md5(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')))
               AS digest
    FROM documents
), contaminated AS (
    SELECT doc_id FROM wiki
    WHERE md5(trim(regexp_replace(text, '\s+', ' ', 'g')))
          IN (SELECT digest FROM crawl_dig)
), wrem AS (
    SELECT w.doc_id, w.text FROM wiki w
    LEFT JOIN contaminated c USING (doc_id)
    WHERE c.doc_id IS NULL
), {_curation_ctes('wrem')},
curated AS (
    SELECT s2.doc_id, s2.text FROM s2
    LEFT JOIN near_dropped nd ON s2.doc_id = nd.doc_id
    WHERE nd.doc_id IS NULL
), sp AS (
    SELECT text,
           (('0x' || substr(sha256(doc_id::VARCHAR), 1, 8))::UBIGINT
            % 10000)::INT AS bucket
    FROM curated
), split_rows AS (
    SELECT CASE WHEN bucket < 8000 THEN 'train'
                WHEN bucket < 9000 THEN 'val' ELSE 'test' END AS split,
           count(*) AS n_docs,
           round(avg(len(regexp_split_to_array(lower(trim(text)), '\s+'))),
                 2) AS avg_tokens
    FROM sp GROUP BY 1
), dropped AS (
    SELECT 'dropped_redirect' AS split,
           (SELECT count(*) FROM slots WHERE slot = 5) AS n_docs
    UNION ALL SELECT 'dropped_crawl_duplicate',
                     (SELECT count(*) FROM contaminated)
    UNION ALL SELECT 'dropped_low_quality', count(*) FROM low_q
    UNION ALL SELECT 'dropped_wrong_language', count(*) FROM wrong_lang
    UNION ALL SELECT 'dropped_exact_duplicate', count(*) FROM exact_dropped
    UNION ALL SELECT 'dropped_near_duplicate', count(*) FROM near_dropped
)
SELECT split, n_docs::BIGINT AS n_docs, avg_tokens
FROM (
    SELECT split, n_docs, avg_tokens FROM split_rows
    UNION ALL
    SELECT split, n_docs, NULL FROM dropped WHERE n_docs > 0
)
ORDER BY split
"""


def feed_discovery_op(
    spark: SparkSession, sf: str, *, n: int = 200, mega_entries: int = 0
) -> DataFrame:
    """The crawl-DISCOVERY front door as an oracle-backed entry: the
    batch form of streaming/incremental.feed_discovery_stream (the
    stream ≡ batch equivalence is pinned by the checkpoint-restart
    convergence test in tests/test_streaming.py) over a planted drop
    directory — RSS for even doc_ids, Atom for odd, a sitemap every
    ninth, a malformed-XML poison file every thirteenth (quarantined as
    an error row; excluded here, its path is pytest-pinned). URLs
    deliberately collide across feeds (page index arithmetic mod 150)
    so the URL-frontier dedup does real work, and every announcer of a
    URL carries the same title/timestamp derived FROM the URL — which
    makes the surviving row deterministic and the whole frontier pure
    doc_id arithmetic for the DuckDB oracle. Fixture planting is a
    bounded driver write (<= 200 small XML files)."""
    import os
    import tempfile

    from wc_vector_indexing_spark.sources.feeds import (
        to_atom,
        to_rss,
        to_sitemap,
    )
    from wc_vector_indexing_spark.streaming.incremental import (
        feed_discovery_stream,
    )

    ids = [int(r.doc_id) for r in
           load(spark, "documents", sf).select("doc_id")
           .orderBy("doc_id").limit(n).collect()]
    tmpdir = tempfile.mkdtemp(prefix="wcvi_feed_disc_")
    mega_doc = next((i for i in ids if i % 13 != 12 and i % 9 != 0), None)
    for d in ids:
        if d % 13 == 12:
            xml = "<rss><channel><unclosed"  # poison: must quarantine
        elif d % 9 == 0:
            xml = to_sitemap([
                {"loc": f"https://static.example/s{(d + j * 29) % 80}",
                 "lastmod_ts": 1704153600 + ((d + j * 29) % 80) * 3600}
                for j in range(4)
            ])
        else:
            # mega_entries: skew-suite knob — the first feed announces
            # thousands of (mostly colliding) URLs, hammering the
            # frontier dedup's hot keys. Registry/oracle always use 0.
            n_e = (mega_entries if (mega_entries and d == mega_doc)
                   else 2 + d % 3)
            entries = [
                {"title": f"Page {(d * 7 + j * 13) % 150}",
                 "link": f"https://pages.example/p{(d * 7 + j * 13) % 150}",
                 "published_ts": 1704067200 + ((d * 7 + j * 13) % 150) * 60,
                 "summary": None}
                for j in range(n_e)
            ]
            writer = to_rss if d % 2 == 0 else to_atom
            xml = writer(f"Feed {d}", entries)
        with open(os.path.join(tmpdir, f"feed{d}.xml"), "w") as fh:
            fh.write(xml)
    out = feed_discovery_stream(spark, tmpdir, streaming=False)
    return (out.filter(F.col("error").isNull())
            .select("url", "title",
                    F.col("event_ts").cast("long").alias("published_ts"))
            .orderBy("url"))


FEED_DISCOVERY_SQL = r"""
WITH ids AS (
    SELECT doc_id AS d FROM documents ORDER BY doc_id LIMIT 200
),
pages AS (
    SELECT DISTINCT (d * 7 + j * 13) % 150 AS p
    FROM ids CROSS JOIN range(5) AS t(j)
    WHERE d % 13 <> 12 AND d % 9 <> 0 AND j < 2 + d % 3
),
statics AS (
    SELECT DISTINCT (d + j * 29) % 80 AS q
    FROM ids CROSS JOIN range(4) AS t(j)
    WHERE d % 13 <> 12 AND d % 9 = 0
)
SELECT url, title, published_ts FROM (
    SELECT 'https://pages.example/p' || p AS url,
           'Page ' || p AS title,
           1704067200 + p * 60 AS published_ts
    FROM pages
    UNION ALL
    SELECT 'https://static.example/s' || q AS url,
           NULL AS title,
           1704153600 + q * 3600 AS published_ts
    FROM statics
)
ORDER BY url
"""


def mbox_corpus_text_op(
    spark: SparkSession, sf: str, *, mega_msgs: int = 0, _audit: bool = False
) -> DataFrame:
    """mbox/MIME email source (sources/mbox.py): every document
    renders into a mailing-list mbox of 1–3 messages whose transfer
    encoding rotates 7bit → base64 → quoted-printable (non-ASCII
    bodies on the encoded paths, RFC 2047 subjects throughout, a
    multipart/alternative HTML twin on every fourth message), and the
    parsed per-message rows come back out. Planted strings + epoch
    arithmetic ⇒ DuckDB oracle (UNNEST(range) replay).

    Shape (r9): the per-FILE work is a render (fixture-only) plus the
    JVM-side framing split in sources/mbox.mbox_messages; the
    per-MESSAGE MIME parse runs over exploded-and-repartitioned rows —
    a mega-mailbox (``mega_msgs`` skew knob, doc 0) distributes across
    cores instead of becoming one Arrow straggler. Registry/oracle
    always use mega_msgs=0."""
    from wc_vector_indexing_spark.sources.mbox import mbox_messages, to_mbox

    docs = load(spark, "documents", sf).select("doc_id").repartition(32)

    def render(batches):
        import email.utils

        import pandas as pd

        for pdf in batches:
            ids, texts = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                msgs = []
                n_msgs = mega_msgs if (mega_msgs and d == 0) else 1 + d % 3
                for j in range(n_msgs):
                    seven_bit = j % 3 == 0
                    msgs.append({
                        "subject": f"Sübject {d}-{j}",
                        "sender": f"user{d % 50}@list.example",
                        "date": email.utils.formatdate(
                            1704067200 + (d % 24) * 3600 + j * 60, usegmt=True
                        ),
                        "body": (
                            f"Message {j} of doc {d}\n" if seven_bit
                            else f"Messäge {j} of döc {d}\n"
                        ),
                        "encoding": ["7bit", "base64", "qp"][j % 3],
                        "html_alt": (d + j) % 4 == 0,
                    })
                ids.append(d)
                texts.append(to_mbox(msgs))
            yield pd.DataFrame({"doc_id": ids, "mbox_text": texts})

    rendered = docs.mapInPandas(
        render, schema="doc_id long, mbox_text string")
    return _ckpt_sorted(
        mbox_messages(rendered), "doc_id", "msg_index", audit=_audit)


MBOX_CORPUS_SQL = r"""
WITH t AS (
    SELECT doc_id, UNNEST(range(1 + doc_id % 3)) AS j FROM documents
)
SELECT doc_id,
       j AS msg_index,
       'Sübject ' || doc_id || '-' || j AS subject,
       'user' || doc_id % 50 || '@list.example' AS sender,
       1704067200 + (doc_id % 24) * 3600 + j * 60 AS date_ts,
       CASE WHEN j % 3 = 0 THEN 'Message ' || j || ' of doc ' || doc_id || chr(10)
            ELSE 'Messäge ' || j || ' of döc ' || doc_id || chr(10) END AS body,
       CASE WHEN (doc_id + j) % 4 = 0 THEN 2 ELSE 1 END AS n_parts
FROM t
ORDER BY doc_id, msg_index
"""


def jsonld_extract_op(spark: SparkSession, sf: str) -> DataFrame:
    """schema.org JSON-LD extraction (the metadata block crawl
    pipelines mine for article provenance): every document renders
    into an HTML page whose <script type="application/ld+json"> block
    plants an Article object by doc_id arithmetic (every fifth page
    carries no block — NULLs must surface, not errors), and the
    extraction is PURE Catalyst: one regexp_extract for the script
    body + get_json_object field reads, zero Python, zero shuffle
    before the oracle ordering."""
    d = F.col("doc_id")
    payload = F.concat(
        F.lit('{"@type": "Article", "headline": "Doc '), d.cast("string"),
        F.lit(' headline", "author": {"name": "Author '),
        (d % 13).cast("string"),
        F.lit('"}, "wordCount": '), (100 + (d * 11) % 900).cast("string"),
        F.lit(', "datePublished": "2024-'),
        F.lpad((1 + d % 12).cast("string"), 2, "0"),
        F.lit("-"), F.lpad((1 + d % 28).cast("string"), 2, "0"),
        F.lit('"}'),
    )
    html = F.concat(
        F.lit("<html><head><title>t</title>"),
        F.when(
            d % 5 != 4,
            F.concat(
                F.lit('<script type="application/ld+json">'),
                payload, F.lit("</script>"),
            ),
        ).otherwise(F.lit("")),
        F.lit("</head><body><p>body "), d.cast("string"),
        F.lit("</p></body></html>"),
    )
    docs = load(spark, "documents", sf).select("doc_id", html.alias("html"))
    block = F.regexp_extract(
        F.col("html"),
        r'<script type="application/ld\+json">(.*?)</script>',
        1,
    )
    blk = F.when(block != "", block)
    return docs.select(
        "doc_id",
        F.get_json_object(blk, "$['@type']").alias("jsonld_type"),
        F.get_json_object(blk, "$.headline").alias("headline"),
        F.get_json_object(blk, "$.author.name").alias("author"),
        F.get_json_object(blk, "$.datePublished").alias("date_published"),
        F.get_json_object(blk, "$.wordCount").cast("long").alias("word_count"),
    ).orderBy("doc_id")


JSONLD_SQL = r"""
SELECT doc_id,
       CASE WHEN doc_id % 5 != 4 THEN 'Article' END AS jsonld_type,
       CASE WHEN doc_id % 5 != 4
            THEN 'Doc ' || doc_id || ' headline' END AS headline,
       CASE WHEN doc_id % 5 != 4
            THEN 'Author ' || doc_id % 13 END AS author,
       CASE WHEN doc_id % 5 != 4
            THEN '2024-' || lpad((1 + doc_id % 12)::VARCHAR, 2, '0')
                 || '-' || lpad((1 + doc_id % 28)::VARCHAR, 2, '0')
            END AS date_published,
       CASE WHEN doc_id % 5 != 4
            THEN 100 + (doc_id * 11) % 900 END AS word_count
FROM documents
ORDER BY doc_id
"""


def subtitle_cues_op(spark: SparkSession, sf: str) -> DataFrame:
    """Subtitle-track extraction (operators/subtitles.py): every
    document renders into a subtitle sidecar — SubRip for even
    doc_ids, WebVTT with a NOTE comment block and cue settings for odd
    ones — whose cue timings/text derive from doc_id arithmetic, and
    the parsed transcript table (one row per cue) comes back out.
    Exact integer milliseconds ⇒ DuckDB oracle (UNNEST(range(n))
    replays the cue fan-out). One zero-shuffle Arrow render+parse
    pass."""
    from wc_vector_indexing_spark.operators.subtitles import (
        parse_subtitles,
        to_srt,
        to_vtt,
    )

    docs = load(spark, "documents", sf).select("doc_id")

    def render(batches):
        import pandas as pd

        cols = ["doc_id", "cue", "start_ms", "end_ms", "text"]
        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = int(d)
                cues = [
                    (
                        j * 2000 + (d % 7) * 10,
                        j * 2000 + (d % 7) * 10 + 500 + (d % 9) * 100,
                        f"Cue {j} of doc {d}",
                    )
                    for j in range(1 + d % 4)
                ]
                text = to_srt(cues) if d % 2 == 0 else to_vtt(cues, with_note=True)
                for c in parse_subtitles(text):
                    out.append({"doc_id": d, **c})
            yield pd.DataFrame(out, columns=cols)

    return docs.mapInPandas(
        render,
        schema="doc_id long, cue long, start_ms long, end_ms long, text string",
    ).orderBy("doc_id", "cue")


SUBTITLE_CUES_SQL = r"""
WITH t AS (
    SELECT doc_id, UNNEST(range(1 + doc_id % 4)) AS j FROM documents
)
SELECT doc_id,
       j + 1 AS cue,
       j * 2000 + (doc_id % 7) * 10 AS start_ms,
       j * 2000 + (doc_id % 7) * 10 + 500 + (doc_id % 9) * 100 AS end_ms,
       'Cue ' || j || ' of doc ' || doc_id AS text
FROM t
ORDER BY doc_id, cue
"""


def robots_txt_gate_op(
    spark: SparkSession, sf: str, *, hot_domain: bool = False
) -> DataFrame:
    """robots.txt crawl gate (operators/robots.py, RFC 9309): every
    document gets a synthetic (domain, path); each domain plants a
    robots.txt TEXT body — a badbot group the '*' parse must skip,
    a Disallow directory + longer Allow re-grant, a wildcard-anchored
    '/*.html$' rule on r=1 domains, and NO '*' group at all on r=2
    domains — and the distributed gate (dim-side Arrow parse →
    broadcast rules join → JVM-side LIKE match → longest-match/
    allow-wins window) decides every URL. The oracle replays the rule
    arithmetic directly in SQL. Pages side never leaves codegen until
    the single winner window.

    ``hot_domain=True`` is the skew-suite knob (tools/skew_bench.py):
    ~80% of pages collapse onto ONE domain — a single rule-set matching
    most of the corpus. The gate is broadcast-join + per-doc window, so
    this should be flat; the knob keeps that measured. Registry/oracle
    always use the default."""
    from wc_vector_indexing_spark.operators.robots import (
        parse_rules,
        robots_gate,
    )

    d = F.col("doc_id")
    s = F.substring(F.col("source"), 4, 10).cast("int")
    domain = F.concat(F.col("source"), (d % 3).cast("string"), F.lit(".com"))
    s_col, r_col = s, d % 3
    if hot_domain:
        hot = d % 10 < 8
        domain = F.when(hot, F.lit("mega.example.com")).otherwise(domain)
        s_col = F.when(hot, F.lit(7)).otherwise(s)
        r_col = F.when(hot, F.lit(1)).otherwise(d % 3)
    pages = (
        load(spark, "documents", sf)
        .select(
            "doc_id",
            domain.alias("domain"),
            F.concat(
                F.lit("/docs/v"), (d % 5).cast("string"),
                F.lit("/item"), (d % 97).cast("string"),
                F.when(d % 2 == 0, F.lit("/")).otherwise(F.lit(".html")),
            ).alias("path"),
            s_col.alias("s"),
            r_col.alias("r"),
        )
    )
    sv = (F.col("s") % 5).cast("string")
    iv = ((F.col("s") * 7) % 97).cast("string")
    badbot = F.lit("User-agent: badbot\nDisallow: /\n\n")
    star = F.concat(
        F.lit("# planted rules\nUser-agent: *\nDisallow: /docs/v"), sv,
        F.lit("/\nAllow: /docs/v"), sv, F.lit("/item"), iv, F.lit("/\n"),
        F.when(F.col("r") == 1, F.lit("Disallow: /*.html$\n"))
        .otherwise(F.lit("")),
    )
    robots_dim = (
        pages.select("domain", "s", "r").distinct()
        .select(
            "domain",
            F.when(F.col("r") == 2, badbot)
            .otherwise(F.concat(badbot, star)).alias("robots_txt"),
        )
    )
    gated = robots_gate(
        pages.select("doc_id", "domain", "path"), parse_rules(robots_dim)
    )
    return gated.select(
        "doc_id", "domain", "path", "allowed", "matched_pattern"
    ).orderBy("doc_id")


ROBOTS_GATE_SQL = r"""
WITH t AS (
    SELECT doc_id,
           CAST(substr(source, 4) AS INT) AS s,
           doc_id % 3 AS r,
           source || (doc_id % 3) || '.com' AS domain,
           '/docs/v' || (doc_id % 5) || '/item' || (doc_id % 97) ||
             CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '.html' END AS path
    FROM documents
), rules AS (
    SELECT *,
           '/docs/v' || (s % 5) || '/' AS p1,
           '/docs/v' || (s % 5) || '/item' || ((s * 7) % 97) || '/' AS p2
    FROM t
)
SELECT doc_id, domain, path,
       CASE WHEN r = 2 THEN TRUE
            WHEN path LIKE p2 || '%' THEN TRUE
            WHEN path LIKE p1 || '%' THEN FALSE
            WHEN r = 1 AND path LIKE '/%.html' THEN FALSE
            ELSE TRUE END AS allowed,
       CASE WHEN r = 2 THEN NULL
            WHEN path LIKE p2 || '%' THEN p2
            WHEN path LIKE p1 || '%' THEN p1
            WHEN r = 1 AND path LIKE '/%.html' THEN '/*.html$'
            END AS matched_pattern
FROM rules
ORDER BY doc_id
"""


def id3_text_census_op(spark: SparkSession, sf: str) -> DataFrame:
    """ID3v2 tag-text census (operators/mp3.parse_id3v2_text): every
    document renders into an MP3 whose leading ID3v2.4 tag plants
    TIT2/TPE1/TALB text frames by doc_id arithmetic (every third file
    omits the album frame, every fifth carries no tag at all — the
    walk must return empties, not fail), and the decoded tag text
    comes back out next to the frame-walk duration. Planted strings ⇒
    DuckDB oracle. One zero-shuffle Arrow render+parse pass."""
    from wc_vector_indexing_spark.operators.mp3 import (
        parse_id3v2_text,
        parse_mp3_headers,
        to_mp3_bytes,
    )

    docs = load(spark, "documents", sf).select("doc_id")

    def render(batches):
        import pandas as pd

        cols = ["doc_id", "title", "artist", "album", "n_frames"]
        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = int(d)
                tags = None
                if d % 5 != 4:
                    tags = {
                        "TIT2": f"Title {(d * 7) % 1000}",
                        "TPE1": f"Artist {d % 97}",
                    }
                    if d % 3 != 0:
                        tags["TALB"] = f"Album {d % 12}"
                data = to_mp3_bytes(3 + d % 5, 128, 44100, id3_text=tags)
                text = parse_id3v2_text(data)
                hdr = parse_mp3_headers(data)
                out.append({
                    "doc_id": d,
                    "title": text.get("TIT2"),
                    "artist": text.get("TPE1"),
                    "album": text.get("TALB"),
                    "n_frames": hdr["n_frames"],
                })
            yield pd.DataFrame(out, columns=cols)

    return docs.mapInPandas(
        render,
        schema="doc_id long, title string, artist string, album string, "
               "n_frames long",
    ).orderBy("doc_id")


ID3_CENSUS_SQL = r"""
SELECT doc_id,
       CASE WHEN doc_id % 5 != 4
            THEN 'Title ' || (doc_id * 7) % 1000 END AS title,
       CASE WHEN doc_id % 5 != 4
            THEN 'Artist ' || doc_id % 97 END AS artist,
       CASE WHEN doc_id % 5 != 4 AND doc_id % 3 != 0
            THEN 'Album ' || doc_id % 12 END AS album,
       3 + doc_id % 5 AS n_frames
FROM documents
ORDER BY doc_id
"""


def compressed_frame_census_op(spark: SparkSession, sf: str) -> DataFrame:
    """Gzip/zstd container triage (operators/compressed.py): even
    doc_ids render into spec-complete single-member gzip files (RFC
    1952 — planted mtime/FNAME/FTEXT, real deflate body, ISIZE
    trailer), odd doc_ids into RFC 8878 zstd frames built from Raw
    blocks (FCS width varies with the planted length, dictionary-id and
    checksum flags planted by arithmetic), and the header/block-walk
    reads come back out. All planted integers ⇒ DuckDB oracle. One
    zero-shuffle Arrow render+parse pass."""
    from wc_vector_indexing_spark.operators.compressed import (
        parse_gzip_member,
        parse_zstd_frame,
        to_gzip_bytes,
        to_zstd_frame_bytes,
    )

    docs = load(spark, "documents", sf).select("doc_id")

    def render(batches):
        import pandas as pd

        cols = ["doc_id", "container", "content_size", "n_blocks", "fname",
                "mtime", "dict_id", "ftext", "has_checksum"]
        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = int(d)
                n = 10 + (d * 13) % 500
                if d % 2 == 0:
                    data = to_gzip_bytes(
                        bytes(n),
                        mtime=1_600_000_000 + d * 37,
                        fname=f"doc{d}.txt" if d % 4 == 0 else None,
                        ftext=d % 4 == 2,
                    )
                    g = parse_gzip_member(data)
                    out.append({
                        "doc_id": d, "container": "gzip",
                        "content_size": g["isize"], "n_blocks": None,
                        "fname": g["fname"], "mtime": g["mtime"],
                        "dict_id": None, "ftext": g["ftext"],
                        "has_checksum": None,
                    })
                else:
                    block = 32 + (d % 4) * 32
                    data = to_zstd_frame_bytes(
                        bytes(n),
                        block_size=block,
                        single_segment=d % 7 == 0 and n <= 255,
                        dict_id=d + 1 if d % 5 == 0 else None,
                        checksum=d % 3 == 0,
                    )
                    z = parse_zstd_frame(data)
                    out.append({
                        "doc_id": d, "container": "zstd",
                        "content_size": z["content_size"],
                        "n_blocks": z["n_blocks"], "fname": None,
                        "mtime": None, "dict_id": z["dict_id"],
                        "ftext": None, "has_checksum": z["has_checksum"],
                    })
            yield pd.DataFrame(out, columns=cols)

    return docs.mapInPandas(
        render,
        schema="doc_id long, container string, content_size long, "
               "n_blocks long, fname string, mtime long, dict_id long, "
               "ftext boolean, has_checksum boolean",
    ).orderBy("doc_id")


COMPRESSED_CENSUS_SQL = r"""
WITH t AS (
    SELECT doc_id,
           10 + (doc_id * 13) % 500 AS n,
           32 + (doc_id % 4) * 32 AS block
    FROM documents
)
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'gzip' ELSE 'zstd' END AS container,
       n AS content_size,
       CASE WHEN doc_id % 2 = 1
            THEN GREATEST(1, (n + block - 1) // block) END AS n_blocks,
       CASE WHEN doc_id % 4 = 0
            THEN 'doc' || doc_id || '.txt' END AS fname,
       CASE WHEN doc_id % 2 = 0
            THEN 1600000000 + doc_id * 37 END AS mtime,
       CASE WHEN doc_id % 2 = 1 AND doc_id % 5 = 0
            THEN doc_id + 1 END AS dict_id,
       CASE WHEN doc_id % 2 = 0 THEN doc_id % 4 = 2 END AS ftext,
       CASE WHEN doc_id % 2 = 1 THEN doc_id % 3 = 0 END AS has_checksum
FROM t
ORDER BY doc_id
"""


def mmr_rerank_op(spark: SparkSession, sf: str) -> DataFrame:
    """MMR diversified rerank (operators/retrieval.mmr_rerank): exact
    cosine top-50 candidate fetch (TakeOrderedAndProject) then the
    driver-side greedy relevance-vs-redundancy selection. The greedy
    loop IS SQL-expressible after all — MMR_SQL mirrors it as a DuckDB
    recursive CTE (one argmax row per step via ORDER BY + LIMIT 1 in
    the recursive term), so this entry is hash-verified, not
    rows-only. Selection properties additionally pinned by
    tests/test_graph_hybrid.py."""
    from wc_vector_indexing_spark.operators.retrieval import mmr_rerank

    emb = load(spark, "embeddings", sf)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 1).select("embedding").head()[0]]
    return mmr_rerank(emb, qv, k=10, fetch=50, lam=0.7)


MMR_SQL = r"""
WITH RECURSIVE
qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 1),
cand AS (
  SELECT vec_id, embedding, rel, row_number() OVER (ORDER BY rel DESC, vec_id) AS pos0
  FROM (
    SELECT e.vec_id, e.embedding,
           list_cosine_similarity(e.embedding::DOUBLE[], q.q::DOUBLE[]) AS rel
    FROM embeddings e, qv q
  )
  ORDER BY rel DESC, vec_id
  LIMIT 50
),
sel(step, vec_id, rel, mmr, picked) AS (
  (SELECT 1, vec_id, rel, 0.7 * rel, [vec_id] FROM cand ORDER BY rel DESC, pos0 LIMIT 1)
  UNION ALL
  (SELECT s.step + 1, c.vec_id, c.rel,
          0.7 * c.rel - 0.3 * (
              SELECT max(list_cosine_similarity(c.embedding::DOUBLE[], p.embedding::DOUBLE[]))
              FROM cand p WHERE list_contains(s.picked, p.vec_id)),
          list_append(s.picked, c.vec_id)
   FROM sel s, cand c
   WHERE s.step < 10 AND NOT list_contains(s.picked, c.vec_id)
   ORDER BY 0.7 * c.rel - 0.3 * (
              SELECT max(list_cosine_similarity(c.embedding::DOUBLE[], p.embedding::DOUBLE[]))
              FROM cand p WHERE list_contains(s.picked, p.vec_id)) DESC, c.pos0
   LIMIT 1)
)
SELECT vec_id, step AS position, round(rel, 4) AS relevance, round(mmr, 4) AS mmr
FROM sel ORDER BY position
"""


def soft_dedup_weights_op(spark: SparkSession, sf: str) -> DataFrame:
    """Soft dedup (operators/dedup.soft_dedup_weights): per-doc sampling
    weight dup_count^-1 from one content-hash window — the downweight-
    don't-drop treatment whose log_weight composes with DSIR selection."""
    from wc_vector_indexing_spark.operators.dedup import soft_dedup_weights

    return soft_dedup_weights(load(spark, "documents", sf)).orderBy("doc_id")


SOFT_DEDUP_SQL = """
WITH c AS (
    SELECT doc_id, count(*) OVER (PARTITION BY sha256(text)) AS dup_count
    FROM documents
)
SELECT doc_id, dup_count,
       round(pow(dup_count, -1.0), 6) AS weight,
       round(-1.0 * ln(dup_count), 6) + 0.0 AS log_weight
FROM c ORDER BY doc_id
"""


def mixing_recipe_op(spark: SparkSession, sf: str) -> DataFrame:
    """Mixture planning (operators/mixing.mixing_recipe): per-source
    fraction-or-repeat-factor from a token budget — the solve step
    whose output source_mix/temperature_sample then execute."""
    from wc_vector_indexing_spark.operators.mixing import mixing_recipe

    return mixing_recipe(
        load(spark, "documents", sf), MIX_WEIGHTS, budget_tokens=500_000
    )


def _mixing_recipe_sql() -> str:
    vals = ", ".join(f"('{s}', {w!r}::DOUBLE)" for s, w in MIX_WEIGHTS.items())
    return f"""
WITH w(source, w_s) AS (VALUES {vals}),
c AS (
    SELECT d.source, count(*) AS n_docs,
           sum(len(regexp_split_to_array(lower(trim(text)), '\\s+')))::BIGINT AS n_tokens
    FROM documents d GROUP BY d.source
)
SELECT c.source, n_docs, n_tokens,
       round(w.w_s * 500000.0, 2) AS target_tokens,
       round(least(1.0, w.w_s * 500000.0 / n_tokens), 6) AS fraction,
       round(greatest(1.0, w.w_s * 500000.0 / n_tokens), 6) AS repeat_factor
FROM c JOIN w USING (source)
ORDER BY source
"""


def audio_overlap_partial_op(spark: SparkSession, sf: str) -> DataFrame:
    """Partial-copy audio detection (operators/audio.audio_overlap_pairs):
    documents are rendered into clips that are contiguous window-aligned
    EXCERPTS of a per-pattern master recording — doc_ids sharing
    ``doc_id % 6`` excerpt the same master at start ``(doc_id//6) % 4``
    for ``3 + (doc_id//24) % 4`` half-second windows. Every master
    window is a unique two-tone pattern (injective ``(pat, w) → band
    pair``), so the shared-distinct-fingerprint count between two clips
    IS their interval intersection and the overlap ratio is pure doc_id
    arithmetic ⇒ DuckDB oracle (the excerpt-of-a-longer-recording case
    the whole-clip fingerprint can't see; sub-threshold pairs exist, so
    the ``min_overlap`` filter is exercised). Window fingerprint math
    is golden-tested in test_audio.py."""
    import numpy as np

    from wc_vector_indexing_spark.operators.audio import audio_overlap_pairs

    docs = load(spark, "documents", sf).select("doc_id").orderBy("doc_id").limit(36)
    edges = np.geomspace(300.0, 4000.0, 18)
    centers = np.sqrt(edges[:-1] * edges[1:])

    def render(batches):
        import io
        import wave

        import pandas as pd

        rate = 8000
        win = 4000  # 0.5 s — audio_overlap_pairs' window_seconds=0.5
        t = np.arange(win) / rate
        for pdf in batches:
            ids, kinds, blobs = [], [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                pat, start = d % 6, (d // 6) % 4
                length = 3 + (d // 24) % 4
                segs = []
                for w in range(start, start + length):
                    k = pat * 9 + w  # injective (pat, w) → (b1, b2): k < 54 < lcm(8,9)
                    b1, b2 = k % 8, 8 + k % 9
                    x = 0.4 * (
                        0.5 * np.sin(2 * np.pi * centers[b1] * t)
                        + 0.35 * np.sin(2 * np.pi * centers[b2] * t)
                    )
                    segs.append(np.clip(x * 32767.0, -32768, 32767).astype("<i2"))
                buf = io.BytesIO()
                with wave.open(buf, "wb") as wf:
                    wf.setnchannels(1)
                    wf.setsampwidth(2)
                    wf.setframerate(rate)
                    wf.writeframes(np.concatenate(segs).tobytes())
                ids.append(d)
                kinds.append("audio")
                blobs.append(buf.getvalue())
            yield pd.DataFrame({"media_id": ids, "kind": kinds, "content": blobs})

    media = docs.mapInPandas(render, schema="media_id long, kind string, content binary")
    return audio_overlap_pairs(media, window_seconds=0.5, min_overlap=0.5).orderBy(
        "media_a", "media_b"
    )


AUDIO_OVERLAP_SQL = r"""
WITH ids AS (
    SELECT doc_id FROM documents ORDER BY doc_id LIMIT 36
),
clips AS (
    SELECT doc_id,
           doc_id % 6 AS pat,
           (doc_id // 6) % 4 AS s,
           3 + (doc_id // 24) % 4 AS len
    FROM ids
)
SELECT media_a, media_b, shared_windows, overlap
FROM (
    SELECT a.doc_id AS media_a, b.doc_id AS media_b,
           (least(a.s + a.len, b.s + b.len) - greatest(a.s, b.s))::BIGINT
               AS shared_windows,
           round((least(a.s + a.len, b.s + b.len) - greatest(a.s, b.s))::DOUBLE
                 / least(a.len, b.len), 4) AS overlap
    FROM clips a JOIN clips b
      ON a.pat = b.pat AND a.doc_id < b.doc_id
)
WHERE shared_windows > 0 AND overlap >= 0.5
ORDER BY media_a, media_b
"""


def hamming_4band_pairs_op(spark: SparkSession, sf: str) -> DataFrame:
    """Pigeonhole-complete banded Hamming join
    (operators/multimodal.hamming64_near_pairs, ``n_bands=4``): planted
    64-bit fingerprints — ``doc_id % 16`` groups share a golden-ratio-
    spread base hash (min cross-group Hamming 19), each member XORs one
    variant bit at position {none, 63, 47, 31} by ``(doc_id div 16) %
    4``. Every same-group pair is within Hamming 2 but pairs involving
    the bit-63 variant differ INSIDE the top-16-bit prefix, so the
    prefix-blocked form (n_bands=1) provably misses them while the
    4-band form must find all (any pair within Hamming 3 shares a full
    16-bit band). Pure doc_id arithmetic ⇒ DuckDB oracle. Zero Python:
    the fingerprint column is a literal-map lookup + XOR."""
    from wc_vector_indexing_spark.operators.multimodal import hamming64_near_pairs

    const = 0x9E3779B97F4A7C15

    def signed(v: int) -> int:
        v &= (1 << 64) - 1
        return v - (1 << 64) if v >= (1 << 63) else v

    base_map = F.create_map(
        *[F.lit(x) for g in range(16) for x in (g, signed(g * const))]
    )
    flip_map = F.create_map(
        *[
            F.lit(x)
            for v, flip in enumerate([0, 1 << 63, 1 << 47, 1 << 31])
            for x in (v, signed(flip))
        ]
    )
    fps = (
        load(spark, "documents", sf)
        .select("doc_id")
        .orderBy("doc_id")
        .limit(64)
        .select(
            F.col("doc_id").alias("media_id"),
            base_map[F.col("doc_id") % 16]
            .bitwiseXOR(flip_map[F.expr("doc_id div 16") % 4])
            .alias("fp"),
        )
    )
    return hamming64_near_pairs(
        fps, max_hamming=3, id_col="media_id", hash_col="fp", n_bands=4
    ).orderBy("media_a", "media_b")


HAMMING_4BAND_SQL = r"""
WITH ids AS (
    SELECT doc_id FROM documents ORDER BY doc_id LIMIT 64
),
tagged AS (
    SELECT doc_id, doc_id % 16 AS grp, (doc_id // 16) % 4 AS variant
    FROM ids
)
SELECT a.doc_id AS media_a, b.doc_id AS media_b,
       (CASE WHEN a.variant = b.variant THEN 0
             WHEN a.variant = 0 OR b.variant = 0 THEN 1
             ELSE 2 END)::INT AS hamming
FROM tagged a JOIN tagged b
  ON a.grp = b.grp AND a.doc_id < b.doc_id
ORDER BY media_a, media_b
"""


def archive_member_census_op(spark: SparkSession, sf: str) -> DataFrame:
    """Archive-source census (sources/archives.read_archive_members):
    the lowest-60 doc_ids are packed into real tar.gz + zip shards
    (member ``doc_{id}.{ext}``, ext by ``doc_id % 3``, body exactly
    ``10 + doc_id % 50`` bytes, shard by ``doc_id % 2``) written once
    per sf under /tmp, then read back through the binaryFile-based
    source and censused per extension — member counts, distinct
    archives, byte totals. Planted sizes ⇒ DuckDB oracle; validates
    tarfile/zipfile round-trip + member-row explosion + agg."""
    import hashlib
    import io
    import os
    import tarfile
    import tempfile
    import zipfile

    from wc_vector_indexing_spark.sources.archives import read_archive_members

    ids = [
        int(r[0])
        for r in load(spark, "documents", sf)
        .select("doc_id")
        .orderBy("doc_id")
        .limit(60)
        .collect()
    ]
    exts = ["txt", "json", "bin"]
    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_archives_{key}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        members = [
            (f"doc_{d}.{exts[d % 3]}", b"x" * (10 + d % 50), d % 2) for d in ids
        ]
        with tarfile.open(os.path.join(out, "shard0.tar.gz"), "w:gz") as tf:
            for name, body, shard in members:
                if shard == 0:
                    info = tarfile.TarInfo(name)
                    info.size = len(body)
                    tf.addfile(info, io.BytesIO(body))
        with zipfile.ZipFile(os.path.join(out, "shard1.zip"), "w") as zf:
            for name, body, shard in members:
                if shard == 1:
                    zf.writestr(name, body)
        with open(done, "w") as f:
            f.write("ok")
    rows = read_archive_members(spark, os.path.join(out, "shard*"))
    return (
        rows.groupBy(F.regexp_extract("member", r"\.([a-z]+)$", 1).alias("ext"))
        .agg(
            F.count("*").alias("n_members"),
            F.countDistinct("archive").alias("n_archives"),
            F.sum("size").alias("total_bytes"),
        )
        .orderBy("ext")
    )


ARCHIVE_CENSUS_SQL = r"""
WITH ids AS (
    SELECT doc_id FROM documents ORDER BY doc_id LIMIT 60
)
SELECT CASE doc_id % 3 WHEN 0 THEN 'txt' WHEN 1 THEN 'json' ELSE 'bin' END AS ext,
       count(*) AS n_members,
       count(DISTINCT doc_id % 2) AS n_archives,
       sum(10 + doc_id % 50)::BIGINT AS total_bytes
FROM ids
GROUP BY 1
ORDER BY ext
"""


def tfrecord_roundtrip_op(spark: SparkSession, sf: str) -> DataFrame:
    """TFRecord source census (sources/tfrecord.py): the lowest-64
    doc_ids' REAL text rides through the full stack — tf.train.Example
    protobuf encode, masked-CRC32C framing, shard files (shard =
    doc_id % 4, records in doc_id order), then back through the
    binaryFile-based distributed reader — and is censused per shard:
    record counts, id/char/float sums, max record index. Shard id is
    taken from the FILE PATH, not the payload, so the oracle match
    proves records landed in (and were read from) the right shards;
    char sums prove the utf-8 text roundtrips exactly; the float sum
    (doc_id * 0.5 — exactly representable in float32) exercises the
    packed FloatList wire path. Reference behavior analogue: the bulk
    export/import surface (logs.php:137 CSV export re-expressed for
    the training-data interchange format)."""
    import hashlib
    import os
    import tempfile

    from wc_vector_indexing_spark.sources.tfrecord import (
        read_tfrecords,
        to_tfrecord_bytes,
    )

    rows = (
        load(spark, "documents", sf)
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(64)
        .collect()
    )
    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_tfrecord_{key}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        for s in range(4):
            recs = [
                {
                    "doc_id": ("int64", [int(r.doc_id)]),
                    "text": ("bytes", [r.text or ""]),
                    "f": ("float", [int(r.doc_id) * 0.5]),
                }
                for r in rows
                if int(r.doc_id) % 4 == s
            ]
            with open(os.path.join(out, f"part-{s}.tfrecord"), "wb") as fh:
                fh.write(to_tfrecord_bytes(recs))
        with open(done, "w") as f:
            f.write("ok")
    back = read_tfrecords(
        spark,
        os.path.join(out, "part-*.tfrecord"),
        {"doc_id": "int64", "text": "string", "f": "float"},
    )
    return (
        back.groupBy(
            F.regexp_extract("tfrecord_path", r"part-(\d)", 1)
            .cast("int")
            .alias("shard")
        )
        .agg(
            F.count("*").alias("n_records"),
            F.sum("doc_id").alias("sum_doc_id"),
            F.sum(F.length("text")).alias("sum_chars"),
            F.sum(F.col("f").cast("double")).alias("sum_f"),
            F.max("record_index").alias("max_index"),
        )
        .orderBy("shard")
    )


TFRECORD_SQL = r"""
WITH ids AS (
    SELECT doc_id, coalesce(text, '') AS text
    FROM documents ORDER BY doc_id LIMIT 64
)
SELECT (doc_id % 4)::INT AS shard,
       count(*) AS n_records,
       sum(doc_id)::BIGINT AS sum_doc_id,
       sum(length(text))::BIGINT AS sum_chars,
       sum(doc_id * 0.5)::DOUBLE AS sum_f,
       (count(*) - 1)::BIGINT AS max_index
FROM ids
GROUP BY 1
ORDER BY shard
"""


def tfrecord_export_roundtrip_op(spark: SparkSession, sf: str) -> DataFrame:
    """DISTRIBUTED TFRecord sink under the gate (sources/tfrecord.
    write_tfrecords): the lowest-80 docs repartition over 4 tasks,
    each task streams its own shard (no driver funnel), then the
    shards read back through the distributed reader and reconcile
    against the source relation — counts, id/char sums, and the
    manifest's own totals. The fixture entry (tfrecord_roundtrip)
    pins the wire format with driver-written bytes; THIS entry pins
    the executor-side writer path. Output is global (shard assignment
    is Spark's), so the oracle is the source-table aggregate."""
    import hashlib
    import os
    import tempfile

    from wc_vector_indexing_spark.sources.tfrecord import (
        read_tfrecords,
        write_tfrecords,
    )

    docs = (
        load(spark, "documents", sf)
        .select("doc_id", F.coalesce("text", F.lit("")).alias("text"))
        .orderBy("doc_id")
        .limit(80)
    )
    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_tfr_export_{key}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        manifest = write_tfrecords(docs.repartition(4), out)
        manifest.count()
        with open(done, "w") as f:
            f.write("ok")
    back = read_tfrecords(
        spark, os.path.join(out, "part-*.tfrecord"),
        {"doc_id": "int64", "text": "string"},
    )
    return back.agg(
        F.count("*").alias("n_records"),
        F.sum("doc_id").alias("sum_doc_id"),
        F.sum(F.length("text")).alias("sum_chars"),
        F.countDistinct("tfrecord_path").alias("n_shards"),
    )


TFRECORD_EXPORT_SQL = r"""
WITH ids AS (
    SELECT doc_id, coalesce(text, '') AS text
    FROM documents ORDER BY doc_id LIMIT 80
)
SELECT count(*) AS n_records,
       sum(doc_id)::BIGINT AS sum_doc_id,
       sum(length(text))::BIGINT AS sum_chars,
       4::BIGINT AS n_shards
FROM ids
"""


def arrow_ipc_census_op(spark: SparkSession, sf: str) -> DataFrame:
    """Arrow IPC source census (sources/arrow_ipc.py): the lowest-64
    doc_ids' REAL text rides through the columnar interchange stack —
    shard = doc_id % 4, each shard written in a DIFFERENT (encoding,
    compression) combination (file/none, file/zstd, stream/none,
    file/lz4) and in 7-row record batches — then back through the
    binaryFile-based distributed reader. Shard id comes from the FILE
    PATH, so the oracle match proves rows landed in (and were read
    from) the right shards; char sums prove utf-8 text roundtrips;
    sum over the array<long> column exercises the nested list path;
    max(batch_index) pins the record-batch chunking. Reference
    behavior analogue: the bulk export/import surface (logs.php:137
    CSV export re-expressed for the Arrow interchange format)."""
    import hashlib
    import os
    import tempfile

    from wc_vector_indexing_spark.sources.arrow_ipc import (
        read_arrow_ipc,
        to_arrow_ipc_bytes,
    )

    rows = (
        load(spark, "documents", sf)
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(64)
        .collect()
    )
    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_arrow_{key}")
    done = os.path.join(out, "_DONE")
    types = {"doc_id": "long", "text": "string", "f": "double",
             "toks": "array<long>"}
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        variants = [("file", None), ("file", "zstd"),
                    ("stream", None), ("file", "lz4")]
        for s, (fmt, comp) in enumerate(variants):
            mine = [r for r in rows if int(r.doc_id) % 4 == s]
            cols = {
                "doc_id": [int(r.doc_id) for r in mine],
                "text": [r.text or "" for r in mine],
                "f": [int(r.doc_id) * 0.25 for r in mine],
                "toks": [[int(r.doc_id), int(r.doc_id) * 2] for r in mine],
            }
            with open(os.path.join(out, f"part-{s}.arrow"), "wb") as fh:
                fh.write(to_arrow_ipc_bytes(
                    cols, types, fmt=fmt, compression=comp,
                    max_rows_per_batch=7))
        with open(done, "w") as f:
            f.write("ok")
    back = read_arrow_ipc(spark, os.path.join(out, "part-*.arrow"), types)
    return (
        back.groupBy(
            F.regexp_extract("arrow_path", r"part-(\d)", 1)
            .cast("int")
            .alias("shard")
        )
        .agg(
            F.count("*").alias("n_records"),
            F.sum("doc_id").alias("sum_doc_id"),
            F.sum(F.length("text")).alias("sum_chars"),
            F.sum("f").alias("sum_f"),
            F.sum(
                F.aggregate("toks", F.lit(0).cast("long"), lambda a, x: a + x)
            ).alias("sum_toks"),
            F.max("batch_index").cast("long").alias("max_batch"),
        )
        .orderBy("shard")
    )


ARROW_IPC_CENSUS_SQL = r"""
WITH ids AS (
    SELECT doc_id, coalesce(text, '') AS text
    FROM documents ORDER BY doc_id LIMIT 64
)
SELECT (doc_id % 4)::INT AS shard,
       count(*) AS n_records,
       sum(doc_id)::BIGINT AS sum_doc_id,
       sum(length(text))::BIGINT AS sum_chars,
       sum(doc_id * 0.25)::DOUBLE AS sum_f,
       sum(doc_id * 3)::BIGINT AS sum_toks,
       CAST(floor((count(*) - 1) / 7.0) AS BIGINT) AS max_batch
FROM ids
GROUP BY 1
ORDER BY shard
"""


def safetensors_export_roundtrip_op(spark: SparkSession, sf: str) -> DataFrame:
    """DISTRIBUTED safetensors sink+source under the gate (sources/
    safetensors.py): the embeddings table repartitions over 4 tasks,
    each writes its own (ids I64, vectors F32[n,64]) shard, then the
    shards read back through the binaryFile+Arrow parse pass and must
    reproduce every (vec_id, embedding) row. float32 is bit-preserved
    through the format (pinned bit-exactly by test_safetensors.py);
    under the DRIVER gate each vector folds to a scalar checksum —
    sum over elements of floor(float64(x) * 1e6) — because the
    driver's result hasher cannot hash array columns (the r12 gate
    err). The fold is exact and order-free on both sides: float32 →
    float64 is lossless, the multiply is ONE ieee754 double op, floor
    is exact, and the int64 sum is associative."""
    import hashlib
    import os
    import shutil
    import tempfile

    from wc_vector_indexing_spark.sources.safetensors import (
        read_safetensors_vectors,
        write_safetensors_vectors,
    )

    emb = load(spark, "embeddings", sf).select("vec_id", "embedding")
    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_safetensors_{key}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        # shards are uuid-suffixed: a crashed previous write would leave
        # stale part files a retry ADDS to — clear before re-writing
        if os.path.isdir(out):
            shutil.rmtree(out)
        write_safetensors_vectors(emb.repartition(4), out)
        with open(done, "w") as f:
            f.write("ok")
    back = read_safetensors_vectors(
        spark, os.path.join(out, "part-*.safetensors"))
    checksum = F.aggregate(
        "embedding",
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.floor(x.cast("double") * F.lit(1000000.0)).cast("long"),
    )
    return back.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        checksum.alias("vec_checksum"),
    ).orderBy("vec_id")


SAFETENSORS_EXPORT_SQL = r"""
SELECT vec_id,
       len(embedding)::INT AS dim,
       CAST(list_sum(list_transform(embedding,
            e -> CAST(floor(CAST(e AS DOUBLE) * 1000000.0) AS BIGINT)))
            AS BIGINT) AS vec_checksum
FROM embeddings
ORDER BY vec_id
"""


def safetensors_bf16_roundtrip_op(spark: SparkSession, sf: str) -> DataFrame:
    """BF16 interchange under the gate (sources/safetensors.py
    f32_to_bf16_bits / bf16_bits_to_f32): planted vectors built ONLY
    from bfloat16-exact values (small integers, quarters, 1.5-steps —
    each needs ≤8 significand bits) write as BF16 shards (2-byte
    elements, the dominant dtype of real HF checkpoints), read back
    through the bits<<16 widening, and must reproduce the plant
    VALUE-EXACTLY — for bf16-exact inputs the RNE encode is the
    identity, so the oracle is the closed-form plant itself. Scalar
    checksum fold (driver-hasher contract: no array columns in the
    gate window). RNE rounding of non-exact values is pinned by
    test_safetensors.py, not here."""
    import hashlib
    import os
    import shutil
    import tempfile

    from wc_vector_indexing_spark.sources.safetensors import (
        read_safetensors_vectors,
        write_safetensors_vectors,
    )

    planted = load(spark, "embeddings", sf).select(
        "vec_id",
        F.array(
            (F.col("vec_id") % 13 - 6).cast("float"),
            ((F.col("vec_id") % 7) * F.lit(0.25)).cast("float"),
            F.lit(-0.5).cast("float"),
            ((F.col("vec_id") % 5) * F.lit(1.5)).cast("float"),
        ).alias("embedding"),
    )
    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_st_bf16_{key}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        if os.path.isdir(out):
            shutil.rmtree(out)
        write_safetensors_vectors(
            planted.repartition(4), out, vec_dtype="BF16")
        with open(done, "w") as f:
            f.write("ok")
    back = read_safetensors_vectors(
        spark, os.path.join(out, "part-*.safetensors"))
    checksum = F.aggregate(
        "embedding",
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.floor(x.cast("double") * F.lit(1000000.0)).cast("long"),
    )
    return back.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        checksum.alias("vec_checksum"),
    ).orderBy("vec_id")


def safetensors_tensor_census_op(spark: SparkSession, sf: str) -> DataFrame:
    """Checkpoint-inventory census (sources/safetensors.
    read_safetensors_index): a planted model directory — six writer
    shards each holding an F32 weight, an I64 id table, and a BF16
    quantized copy, plus one HAND-BUILT shard of F8_E4M3/F8_E5M2
    tensors (bytes laid out from the spec, no writer involved) — reads
    back HEADERS ONLY and must reproduce every (tensor, dtype, shape,
    n_params, n_bytes) row closed-form. Pins the metadata pass a model
    consumer runs before deciding what to load, across every itemsize
    class (8/4/2/1 bytes)."""
    import hashlib
    import os
    import shutil
    import struct as _struct
    import tempfile

    import numpy as np

    from wc_vector_indexing_spark.sources.safetensors import (
        read_safetensors_index,
        to_safetensors_bytes,
    )

    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_st_census_{key}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        if os.path.isdir(out):
            shutil.rmtree(out)
        os.makedirs(out)
        for k in range(6):
            blob = to_safetensors_bytes(
                {
                    "ids": np.arange(k + 3, dtype="<i8"),
                    "q": np.arange(4 * (k + 1), dtype="<f4"),
                    "w": np.zeros((k + 1, 8), dtype="<f4"),
                },
                dtype_overrides={"q": "BF16"},
            )
            with open(os.path.join(out, f"shard{k}.safetensors"),
                      "wb") as f:
                f.write(blob)
        import json as _json

        hdr = {
            "a_e4m3": {"dtype": "F8_E4M3", "shape": [32],
                       "data_offsets": [0, 32]},
            "b_e5m2": {"dtype": "F8_E5M2", "shape": [4, 4],
                       "data_offsets": [32, 48]},
        }
        hj = _json.dumps(hdr, separators=(",", ":")).encode()
        with open(os.path.join(out, "shard6.safetensors"), "wb") as f:
            f.write(_struct.pack("<Q", len(hj)) + hj + bytes(48))
        with open(done, "w") as f:
            f.write("ok")
    idx = read_safetensors_index(
        spark, os.path.join(out, "*.safetensors"))
    return idx.select(
        F.regexp_extract("shard", r"shard(\d+)\.safetensors", 1)
        .cast("int").alias("shard_no"),
        "tensor", "dtype", "shape", "n_params", "n_bytes",
    ).orderBy("shard_no", "tensor")


SAFETENSORS_CENSUS_SQL = r"""
WITH ks AS (SELECT k::INT AS k FROM range(0, 6) t(k)),
rows_ AS (
    SELECT k AS shard_no, 'ids' AS tensor, 'I64' AS dtype,
           '[' || (k + 3) || ']' AS shape,
           (k + 3)::BIGINT AS n_params, ((k + 3) * 8)::BIGINT AS n_bytes
    FROM ks
    UNION ALL
    SELECT k, 'q', 'BF16', '[' || (4 * (k + 1)) || ']',
           (4 * (k + 1))::BIGINT, (4 * (k + 1) * 2)::BIGINT
    FROM ks
    UNION ALL
    SELECT k, 'w', 'F32', '[' || (k + 1) || ',8]',
           ((k + 1) * 8)::BIGINT, ((k + 1) * 8 * 4)::BIGINT
    FROM ks
    UNION ALL
    SELECT 6, 'a_e4m3', 'F8_E4M3', '[32]', 32::BIGINT, 32::BIGINT
    UNION ALL
    SELECT 6, 'b_e5m2', 'F8_E5M2', '[4,4]', 16::BIGINT, 16::BIGINT
)
SELECT shard_no::INT AS shard_no, tensor, dtype, shape,
       n_params, n_bytes
FROM rows_
ORDER BY shard_no, tensor
"""


def checkpoint_completeness_op(spark: SparkSession, sf: str) -> DataFrame:
    """Sharded-checkpoint completeness audit (sources/safetensors.
    checkpoint_completeness): a planted model directory — 4 shards of
    8 tensors each plus the HF-convention index JSON whose weight_map
    plants one misplaced mapping per shard (tensor t_{k}_7 mapped to
    shard (k+1)%4), one missing tensor (mapped to a shard that does
    not exist), and one unindexed tensor per shard (t_{k}_0 omitted
    from the map) — audited with the broadcast full-outer join over
    the headers-only inventory. Closed-form oracle."""
    import hashlib
    import json as _json
    import os
    import shutil
    import tempfile

    import numpy as np

    from wc_vector_indexing_spark.sources.safetensors import (
        checkpoint_completeness,
        to_safetensors_bytes,
    )

    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_st_ckpt_{key}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        if os.path.isdir(out):
            shutil.rmtree(out)
        os.makedirs(out)
        wmap: dict[str, str] = {}
        for k in range(4):
            shard = f"model-{k:05d}.safetensors"
            tensors = {
                f"t_{k}_{j}": np.zeros(j + 1, dtype="<f4")
                for j in range(8)
            }
            with open(os.path.join(out, shard), "wb") as f:
                f.write(to_safetensors_bytes(tensors))
            for j in range(1, 8):
                if j == 7:  # planted misplacement
                    wmap[f"t_{k}_7"] = \
                        f"model-{(k + 1) % 4:05d}.safetensors"
                else:
                    wmap[f"t_{k}_{j}"] = shard
        wmap["t_gone"] = "model-99999.safetensors"  # planted missing
        with open(os.path.join(out, "model.safetensors.index.json"),
                  "w") as f:
            _json.dump({"weight_map": wmap}, f)
        with open(done, "w") as f:
            f.write("ok")
    return checkpoint_completeness(spark, out).select(
        "tensor", "mapped_shard", "found_shard", "status")


CHECKPOINT_COMPLETENESS_SQL = r"""
WITH ks AS (SELECT k::INT AS k FROM range(0, 4) t(k)),
js AS (SELECT j::INT AS j FROM range(0, 8) t(j)),
rows_ AS (
    SELECT 't_' || k || '_' || j AS tensor,
           CASE WHEN j = 0 THEN NULL
                WHEN j = 7 THEN 'model-' || format('{:05d}', (k + 1) % 4)
                     || '.safetensors'
                ELSE 'model-' || format('{:05d}', k) || '.safetensors'
           END AS mapped_shard,
           'model-' || format('{:05d}', k) || '.safetensors'
               AS found_shard,
           CASE WHEN j = 0 THEN 'unindexed'
                WHEN j = 7 THEN 'misplaced'
                ELSE 'ok' END AS status
    FROM ks, js
    UNION ALL
    SELECT 't_gone', 'model-99999.safetensors', NULL, 'missing'
)
SELECT tensor, mapped_shard, found_shard, status
FROM rows_
ORDER BY tensor
"""


SAFETENSORS_BF16_SQL = r"""
SELECT vec_id,
       4::INT AS dim,
       (CAST(floor(((vec_id % 13) - 6.0) * 1000000.0) AS BIGINT)
        + CAST(floor((vec_id % 7) * 0.25 * 1000000.0) AS BIGINT)
        + CAST(floor(-0.5 * 1000000.0) AS BIGINT)
        + CAST(floor((vec_id % 5) * 1.5 * 1000000.0) AS BIGINT))
           AS vec_checksum
FROM embeddings
ORDER BY vec_id
"""


def gguf_tensor_census_op(spark: SparkSession, sf: str) -> DataFrame:
    """GGUF checkpoint-inventory census (sources/gguf.read_gguf_index):
    a planted model directory — four writer shards each holding an F32
    weight, a Q8_0 and a Q4_0 quantized tensor, a BF16 copy, and an
    I64 id table, plus one HAND-BUILT shard carrying a Q6_K tensor
    (bytes laid out from the spec with no writer involved; Q6_K is a
    census-only type — its 210-byte/256-element block size is known
    from the public ggml table but decode is a refused seam) — reads
    back HEADERS ONLY and must reproduce every (tensor, ggml_type,
    shape, n_params, n_bytes) row closed-form. Pins the llama.cpp-side
    model inventory pass across float, integer, and block-quant size
    classes without touching a single tensor byte."""
    import hashlib
    import os
    import shutil
    import struct as _struct
    import tempfile

    import numpy as np

    from wc_vector_indexing_spark.sources.gguf import (
        read_gguf_index,
        to_gguf_bytes,
    )

    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_gguf_census_{key}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        if os.path.isdir(out):
            shutil.rmtree(out)
        os.makedirs(out)
        for k in range(4):
            blob = to_gguf_bytes(
                {"general.architecture": "census", "shard_no": k},
                [
                    ("w", np.zeros((k + 1, 8), dtype=np.float32), "F32"),
                    ("q8", np.zeros((2, 32 * (k + 1)),
                                    dtype=np.float32), "Q8_0"),
                    ("q4", np.zeros(32 * (k + 2),
                                    dtype=np.float32), "Q4_0"),
                    ("bf", np.zeros(16 * (k + 1),
                                    dtype=np.float32), "BF16"),
                    ("ids", np.arange(k + 3, dtype=np.int64), "I64"),
                ])
            with open(os.path.join(out, f"shard{k}.gguf"), "wb") as f:
                f.write(blob)
        # hand-built shard 4: one Q6_K tensor, header bytes laid out
        # straight from the spec (magic | v3 | counts | kv | info)
        hdr = bytearray()
        hdr += b"GGUF" + _struct.pack("<I", 3)
        hdr += _struct.pack("<Q", 1) + _struct.pack("<Q", 1)
        key_b = b"general.alignment"
        hdr += _struct.pack("<Q", len(key_b)) + key_b
        hdr += _struct.pack("<I", 4) + _struct.pack("<I", 32)  # UINT32 32
        name_b = b"kq"
        hdr += _struct.pack("<Q", len(name_b)) + name_b
        hdr += _struct.pack("<I", 1) + _struct.pack("<Q", 256)  # ne=[256]
        hdr += _struct.pack("<I", 14) + _struct.pack("<Q", 0)  # Q6_K @ 0
        base = (len(hdr) + 31) // 32 * 32
        hdr += b"\x00" * (base - len(hdr)) + b"\x00" * 210
        with open(os.path.join(out, "shard4.gguf"), "wb") as f:
            f.write(bytes(hdr))
        with open(done, "w") as f:
            f.write("ok")
    idx = read_gguf_index(spark, os.path.join(out, "*.gguf"))
    return idx.select(
        F.regexp_extract("shard", r"shard(\d+)\.gguf", 1)
        .cast("int").alias("shard_no"),
        "tensor", "ggml_type", "shape", "n_params", "n_bytes",
    ).orderBy("shard_no", "tensor")


GGUF_CENSUS_SQL = r"""
WITH ks AS (SELECT k::INT AS k FROM range(0, 4) t(k)),
rows_ AS (
    SELECT k AS shard_no, 'w' AS tensor, 'F32' AS ggml_type,
           '[' || (k + 1) || ',8]' AS shape,
           ((k + 1) * 8)::BIGINT AS n_params,
           ((k + 1) * 8 * 4)::BIGINT AS n_bytes
    FROM ks
    UNION ALL
    SELECT k, 'q8', 'Q8_0', '[2,' || (32 * (k + 1)) || ']',
           (64 * (k + 1))::BIGINT, (2 * (k + 1) * 34)::BIGINT
    FROM ks
    UNION ALL
    SELECT k, 'q4', 'Q4_0', '[' || (32 * (k + 2)) || ']',
           (32 * (k + 2))::BIGINT, ((k + 2) * 18)::BIGINT
    FROM ks
    UNION ALL
    SELECT k, 'bf', 'BF16', '[' || (16 * (k + 1)) || ']',
           (16 * (k + 1))::BIGINT, (16 * (k + 1) * 2)::BIGINT
    FROM ks
    UNION ALL
    SELECT k, 'ids', 'I64', '[' || (k + 3) || ']',
           (k + 3)::BIGINT, ((k + 3) * 8)::BIGINT
    FROM ks
    UNION ALL
    SELECT 4, 'kq', 'Q6_K', '[256]', 256::BIGINT, 210::BIGINT
)
SELECT shard_no::INT AS shard_no, tensor, ggml_type, shape,
       n_params, n_bytes
FROM rows_
ORDER BY shard_no, tensor
"""


def gguf_export_roundtrip_op(spark: SparkSession, sf: str) -> DataFrame:
    """DISTRIBUTED GGUF sink+source under the gate (sources/gguf.py):
    the embeddings table repartitions over 4 tasks, each task writes
    its own GGUF shard (every vector a ``vec.<id>`` F32 tensor with
    spec-aligned offsets), then the shards read back through the
    binaryFile+Arrow header walk and must reproduce every (vec_id,
    embedding) row. Same scalar-checksum fold as the safetensors
    twin (driver-hasher contract: no array columns in the gate
    window); float32 is bit-preserved through the format. Q8_0/Q4_0
    quantized export is pinned by test_gguf.py (fp16 block scales are
    not SQL-expressible)."""
    import hashlib
    import os
    import shutil
    import tempfile

    from wc_vector_indexing_spark.sources.gguf import (
        read_gguf_vectors,
        write_gguf_vectors,
    )

    emb = load(spark, "embeddings", sf).select("vec_id", "embedding")
    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_gguf_export_{key}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        if os.path.isdir(out):
            shutil.rmtree(out)
        write_gguf_vectors(emb.repartition(4), out)
        with open(done, "w") as f:
            f.write("ok")
    back = read_gguf_vectors(spark, os.path.join(out, "part-*.gguf"))
    checksum = F.aggregate(
        "embedding",
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.floor(x.cast("double") * F.lit(1000000.0)).cast("long"),
    )
    return back.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        checksum.alias("vec_checksum"),
    ).orderBy("vec_id")


# same closed form as the safetensors twin: the fold is format-blind
GGUF_EXPORT_SQL = SAFETENSORS_EXPORT_SQL


def zipnum_prefix_lookup_op(spark: SparkSession, sf: str) -> DataFrame:
    """ZipNum cluster prefix lookup (sources/cdx.py): the documents
    table plants a 7-host capture index — urlkey
    ``example,host<doc_id%7>)/doc/<doc_id>``, ts14
    ``2024<doc_id padded>``, WARC locator fields derived closed-form —
    written through the DISTRIBUTED ZipNum writer (range-partitioned
    global sort, gzip-member blocks of 40 lines, cluster.idx emitted
    at 1/40 the row count), then host3's captures come back through
    the BLOCK-PRUNED lookup: the cluster.idx range scan selects only
    the blocks whose key span intersects the prefix, only those gzip
    members are ranged-read (the Common Crawl cc-index consumption
    path — index bytes touched are O(answer), not O(index); pruning
    ratio asserted in test_cdx.py), and the exact prefix filter
    applies to the decoded lines. Closed-form oracle over documents."""
    import hashlib
    import os
    import shutil
    import tempfile

    from wc_vector_indexing_spark.sources.cdx import (
        write_zipnum,
        zipnum_lookup,
    )

    docs = load(spark, "documents", sf).select("doc_id").orderBy(
        "doc_id").limit(500)
    captures = docs.select(
        F.format_string("example,host%d)/doc/%04d",
                        (F.col("doc_id") % 7).cast("int"),
                        F.col("doc_id").cast("int")).alias("urlkey"),
        F.format_string("2024%010d",
                        F.col("doc_id").cast("int")).alias("ts14"),
        F.to_json(F.struct(
            F.format_string("https://host%d.example/doc/%04d",
                            (F.col("doc_id") % 7).cast("int"),
                            F.col("doc_id").cast("int")).alias("url"),
            F.lit("text/html").alias("mime"),
            F.lit(200).alias("status"),
            F.format_string("sha1:%04d",
                            F.col("doc_id").cast("int")).alias("digest"),
            F.lit("crawl-00.warc.gz").alias("filename"),
            (F.col("doc_id") * 1000).cast("long").alias("offset"),
            F.lit(999).cast("long").alias("length"),
        )).alias("fields_json"),
    )
    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_zipnum_{key}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        if os.path.isdir(out):
            shutil.rmtree(out)
        write_zipnum(captures, out, lines_per_block=40, n_shards=4)
        with open(done, "w") as f:
            f.write("ok")
    return (
        zipnum_lookup(spark, out, "example,host3)/")
        .select("urlkey", "ts14", "url", "mime", "status", "digest",
                "warc_filename", "warc_offset", "warc_length")
        .orderBy("urlkey", "ts14")
    )


ZIPNUM_LOOKUP_SQL = r"""
WITH ids AS (
    SELECT doc_id FROM documents ORDER BY doc_id LIMIT 500
)
SELECT 'example,host3)/doc/' || format('{:04d}', doc_id) AS urlkey,
       '2024' || format('{:010d}', doc_id) AS ts14,
       'https://host3.example/doc/' || format('{:04d}', doc_id) AS url,
       'text/html' AS mime,
       200::INT AS status,
       'sha1:' || format('{:04d}', doc_id) AS digest,
       'crawl-00.warc.gz' AS warc_filename,
       (doc_id * 1000)::BIGINT AS warc_offset,
       999::BIGINT AS warc_length
FROM ids
WHERE doc_id % 7 = 3
ORDER BY urlkey, ts14
"""


def checkpoint_param_drift_op(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-format checkpoint drift audit (sources/safetensors.
    checkpoint_drift): version 1 of a planted fp-exact vector set
    writes as SAFETENSORS shards, version 2 — with one removal class
    (id%17), one perturbation class (id%10: element 2 moves -0.5 →
    +0.75, an exact 1.25 delta), one reshape class (id%23, truncated
    to 3 dims), and five added ids — writes as GGUF shards, then the
    two checkpoint directories diff through the format-blind
    (id, vector) contract: full-outer join + JVM-side zip_with/
    aggregate delta fold, statuses added/removed/reshaped/changed/
    unchanged with exact l2/max-abs deltas. All planted values are
    float32-exact so every delta is closed-form; the diff plan has
    ONE shuffle (the join) and no Python. Precedence inside version
    2: removal > perturbation > reshape."""
    import hashlib
    import os
    import shutil
    import tempfile

    from wc_vector_indexing_spark.sources.gguf import (
        read_gguf_vectors,
        write_gguf_vectors,
    )
    from wc_vector_indexing_spark.sources.safetensors import (
        checkpoint_drift,
        read_safetensors_vectors,
        write_safetensors_vectors,
    )

    ids = load(spark, "embeddings", sf).select("vec_id")
    base_vec = F.array(
        (F.col("vec_id") % 13 - 6).cast("float"),
        ((F.col("vec_id") % 7) * F.lit(0.25)).cast("float"),
        F.lit(-0.5).cast("float"),
        ((F.col("vec_id") % 5) * F.lit(1.5)).cast("float"),
    )
    pert_vec = F.array(
        (F.col("vec_id") % 13 - 6).cast("float"),
        ((F.col("vec_id") % 7) * F.lit(0.25)).cast("float"),
        F.lit(0.75).cast("float"),
        ((F.col("vec_id") % 5) * F.lit(1.5)).cast("float"),
    )
    v1 = ids.select("vec_id", base_vec.alias("embedding"))
    kept = ids.filter(F.col("vec_id") % 17 != 0)
    v2_body = kept.select(
        "vec_id",
        F.when(F.col("vec_id") % 10 == 0, pert_vec)
        .when(F.col("vec_id") % 23 == 0, F.slice(base_vec, 1, 3))
        .otherwise(base_vec).alias("embedding"),
    )
    # added rows: the 5 lowest ids NEGATED (-(id+1) is never a real
    # vec_id at any scale factor, so no collision with version-1 ids)
    added = ids.orderBy("vec_id").limit(5).select(
        (-(F.col("vec_id") + 1)).alias("vec_id"),
        base_vec.alias("embedding"))
    v2 = v2_body.unionByName(added)
    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out_a = os.path.join(tempfile.gettempdir(), f"wcvi_drift_a_{key}")
    out_b = os.path.join(tempfile.gettempdir(), f"wcvi_drift_b_{key}")
    done = os.path.join(out_b, "_DONE")
    if not os.path.exists(done):
        for d in (out_a, out_b):
            if os.path.isdir(d):
                shutil.rmtree(d)
        write_safetensors_vectors(v1.repartition(4), out_a)
        write_gguf_vectors(v2.repartition(4), out_b)
        with open(done, "w") as f:
            f.write("ok")
    a = read_safetensors_vectors(
        spark, os.path.join(out_a, "part-*.safetensors"))
    b = read_gguf_vectors(spark, os.path.join(out_b, "part-*.gguf"))
    return checkpoint_drift(a, b).orderBy("id")


CHECKPOINT_DRIFT_SQL = r"""
WITH statuses AS (
    SELECT vec_id,
           CASE WHEN vec_id % 17 = 0 THEN 'removed'
                WHEN vec_id % 10 = 0 THEN 'changed'
                WHEN vec_id % 23 = 0 THEN 'reshaped'
                ELSE 'unchanged' END AS status
    FROM embeddings
),
body AS (
    SELECT vec_id AS id, status,
           4::INT AS dim_a,
           CASE WHEN status = 'removed' THEN NULL
                WHEN status = 'reshaped' THEN 3
                ELSE 4 END::INT AS dim_b,
           CASE WHEN status = 'changed' THEN 1.25
                WHEN status = 'unchanged' THEN 0.0
                ELSE NULL END::DOUBLE AS l2_delta,
           CASE WHEN status = 'changed' THEN 1.25
                WHEN status = 'unchanged' THEN 0.0
                ELSE NULL END::DOUBLE AS max_abs_delta
    FROM statuses
),
added AS (
    SELECT -(vec_id + 1) AS id, 'added' AS status,
           NULL::INT AS dim_a, 4::INT AS dim_b,
           NULL::DOUBLE AS l2_delta, NULL::DOUBLE AS max_abs_delta
    FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 5)
)
SELECT id, status, dim_a, dim_b, l2_delta, max_abs_delta
FROM (SELECT * FROM body UNION ALL SELECT * FROM added)
ORDER BY id
"""


def cdx_random_access_fetch_op(spark: SparkSession, sf: str) -> DataFrame:
    """CDX → ranged record fetch (sources/warc.fetch_warc_records —
    the replay leg closing the index loop): the lowest-120 docs plant
    REAL on-disk member-per-record ``.warc.gz`` files (1-3 response
    records each, Common Crawl's layout), ``warc_cdx_index`` reports
    each record's COMPRESSED byte range, and every locator then
    fetches back through seek + single-member gunzip — no archive
    scan, bytes read O(records requested) — recovering each planted
    page byte-exactly. Closed-form oracle over documents; the
    corrupt-neighbor isolation and plain-offset paths are pinned in
    test_html_warc.py."""
    import hashlib
    import os
    import shutil
    import tempfile

    from wc_vector_indexing_spark.sources.warc import (
        fetch_warc_records,
        to_warc_gz_bytes,
        warc_cdx_index,
    )

    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_cdxfetch_{key}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        if os.path.isdir(out):
            shutil.rmtree(out)
        os.makedirs(out)
        ids = [int(r[0]) for r in load(spark, "documents", sf)
               .select("doc_id").orderBy("doc_id").limit(120).collect()]
        for d in ids:
            recs = [
                {"url": f"https://w{d:05d}.example/p{j}",
                 "html": f"<html><body>doc {d:04d} rec {j} "
                         f"{'x' * (d % 7)}</body></html>"}
                for j in range(1 + d % 3)
            ]
            with open(os.path.join(out, f"doc{d}.warc.gz"), "wb") as f:
                f.write(to_warc_gz_bytes(recs, member_per_record=True))
        with open(done, "w") as f:
            f.write("ok")
    raw = spark.read.format("binaryFile").load(
        os.path.join(out, "*.warc.gz")).selectExpr(
        "path as warc_path", "content")
    idx = warc_cdx_index(raw)
    fetched = fetch_warc_records(idx)
    return fetched.select(
        F.regexp_extract("warc_path", r"doc(\d+)\.warc\.gz", 1)
        .cast("long").alias("doc_id"),
        F.regexp_extract("url", r"/p(\d+)$", 1).cast("int").alias("rec"),
        "http_status", "content_type", "html",
    ).orderBy("doc_id", "rec")


CDX_FETCH_SQL = r"""
WITH ids AS (
    SELECT doc_id FROM documents ORDER BY doc_id LIMIT 120
),
t AS (
    SELECT doc_id, UNNEST(range(1 + doc_id % 3)) AS j FROM ids
)
SELECT doc_id, j::INT AS rec,
       200::INT AS http_status,
       'text/html; charset=utf-8' AS content_type,
       '<html><body>doc ' || format('{:04d}', doc_id) || ' rec ' || j
           || ' ' || repeat('x', doc_id % 7) || '</body></html>' AS html
FROM t
ORDER BY doc_id, rec
"""


def archive_point_replay_op(spark: SparkSession, sf: str) -> DataFrame:
    """Index → ranged fetch → text, one lazy program (the point-query
    story for a 100 TB archive: URL subset in, curated text out,
    archive bytes touched O(records requested)): over the
    cdx_random_access_fetch fixture's on-disk member-per-record
    ``.warc.gz`` files, the CDX index pass locates every record, the
    locator set is PRUNED to one host-id class (doc_id % 5 == 2 via
    the indexed urlkey — the filter runs on index rows, before any
    archive byte is read), only those members fetch + gunzip, and the
    recovered pages strip to plain text with a token count — the same
    P2 transform the corpus pipeline applies. Closed-form oracle."""
    from wc_vector_indexing_spark.functions.text import plain
    from wc_vector_indexing_spark.sources.warc import (
        fetch_warc_records,
        warc_cdx_index,
    )

    # reuse the fetch entry's planted archive directory (same _DONE
    # guard; build it if this entry runs first)
    import hashlib
    import os
    import tempfile

    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_cdxfetch_{key}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        cdx_random_access_fetch_op(spark, sf)  # builds + validates
    raw = spark.read.format("binaryFile").load(
        os.path.join(out, "*.warc.gz")).selectExpr(
        "path as warc_path", "content")
    idx = warc_cdx_index(raw)
    doc_id = F.regexp_extract(
        "warc_path", r"doc(\d+)\.warc\.gz", 1).cast("long")
    wanted = idx.filter((doc_id % 5) == 2)
    fetched = fetch_warc_records(wanted)
    text = plain("html")
    return fetched.select(
        F.regexp_extract("warc_path", r"doc(\d+)\.warc\.gz", 1)
        .cast("long").alias("doc_id"),
        F.regexp_extract("url", r"/p(\d+)$", 1).cast("int").alias("rec"),
        text.alias("text"),
        F.size(F.split(text, " ")).alias("n_tokens"),
    ).orderBy("doc_id", "rec")


ARCHIVE_REPLAY_SQL = r"""
WITH ids AS (
    SELECT doc_id FROM documents ORDER BY doc_id LIMIT 120
),
t AS (
    SELECT doc_id, UNNEST(range(1 + doc_id % 3)) AS j FROM ids
    WHERE doc_id % 5 = 2
)
SELECT doc_id, j::INT AS rec,
       trim('doc ' || format('{:04d}', doc_id) || ' rec ' || j
            || ' ' || repeat('x', doc_id % 7)) AS text,
       (CASE WHEN doc_id % 7 = 0 THEN 4 ELSE 5 END)::INT AS n_tokens
FROM t
ORDER BY doc_id, rec
"""


def gguf_tokenizer_encode_op(spark: SparkSession, sf: str) -> DataFrame:
    """Model-vocabulary token budgeting (sources/gguf.
    read_gguf_tokenizer → operators/unigram_lm.unigram_encode_col):
    a planted GGUF shard embeds a unigram tokenizer in its metadata
    (the llama.cpp ``tokenizer.ggml.tokens``/``scores`` convention —
    single chars a-z at -4.0 plus the piece 'th' at -1.0, engineered
    so Viterbi's optimum is closed-form: every 'th' inside an
    all-alpha word merges, any word containing an OOV character falls
    back to per-character pieces with OOV chars as '<unk>'), the
    vocabulary loads driver-side from the header PREFIX only, and the
    documents text encodes with the MODEL'S OWN vocab — the token
    count a real context-budget pass needs, not a whitespace proxy.
    Closed-form oracle replays the same per-word rule in SQL."""
    import hashlib
    import os
    import tempfile

    import numpy as np

    from wc_vector_indexing_spark.operators.unigram_lm import (
        unigram_encode_col,
    )
    from wc_vector_indexing_spark.sources.gguf import (
        read_gguf_tokenizer,
        to_gguf_bytes,
    )

    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    shard = os.path.join(
        tempfile.gettempdir(), f"wcvi_gguf_tok_{key}.gguf")
    if not os.path.exists(shard):
        vocab = [chr(c) for c in range(ord("a"), ord("z") + 1)] + ["th"]
        scores = [-4.0] * 26 + [-1.0]
        blob = to_gguf_bytes(
            {"tokenizer.ggml.model": "unigram",
             "tokenizer.ggml.tokens": vocab,
             "tokenizer.ggml.scores": scores},
            [("tok.embd", np.zeros(32, dtype=np.float32), "F32")])
        tmp = shard + ".tmp"
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, shard)
    logp = read_gguf_tokenizer(shard)
    docs = load(spark, "documents", sf).select("doc_id", "text") \
        .orderBy("doc_id").limit(200)
    pieces = unigram_encode_col(logp, "text", max_piece_len=4)
    return docs.select(
        "doc_id",
        F.size(pieces).alias("n_pieces"),
        F.size(F.filter(pieces, lambda p: p == "<unk>")).alias("n_unk"),
    ).orderBy("doc_id")


GGUF_TOKENIZER_SQL = r"""
WITH ids AS (
    SELECT doc_id, lower(coalesce(text, '')) AS t
    FROM documents ORDER BY doc_id LIMIT 200
),
words AS (
    SELECT doc_id, w
    FROM ids, UNNEST(string_split_regex(t, '\s+')) AS u(w)
    WHERE w <> ''
),
per AS (
    SELECT doc_id,
           CASE WHEN regexp_matches(w, '^[a-z]+$')
                THEN length(w)
                     - (length(w) - length(replace(w, 'th', ''))) / 2
                ELSE length(w) END AS pieces,
           CASE WHEN regexp_matches(w, '^[a-z]+$') THEN 0
                ELSE length(w)
                     - length(regexp_replace(w, '[^a-z]', '', 'g'))
           END AS unk
    FROM words
)
SELECT i.doc_id,
       coalesce(sum(p.pieces), 0)::INT AS n_pieces,
       coalesce(sum(p.unk), 0)::INT AS n_unk
FROM ids i LEFT JOIN per p ON i.doc_id = p.doc_id
GROUP BY i.doc_id
ORDER BY i.doc_id
"""


def arrow_ipc_export_roundtrip_op(spark: SparkSession, sf: str) -> DataFrame:
    """DISTRIBUTED Arrow IPC sink under the gate (sources/arrow_ipc.
    write_arrow_ipc): the lowest-80 docs repartition over 4 tasks,
    each task writes its own zstd-compressed IPC-file shard (no
    driver funnel), then the shards read back through the distributed
    reader and reconcile against the source relation. The fixture
    entry (arrow_ipc_census) pins the wire format with driver-written
    bytes; THIS entry pins the executor-side writer path incl. the
    nullable-long Int64 route (text is left nullable on purpose)."""
    import hashlib
    import os
    import tempfile

    from wc_vector_indexing_spark.sources.arrow_ipc import (
        read_arrow_ipc,
        write_arrow_ipc,
    )

    docs = (
        load(spark, "documents", sf)
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(80)
    )
    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_arrow_export_{key}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        manifest = write_arrow_ipc(docs.repartition(4), out)
        manifest.count()
        with open(done, "w") as f:
            f.write("ok")
    back = read_arrow_ipc(
        spark, os.path.join(out, "part-*.arrow"),
        {"doc_id": "long", "text": "string"},
    )
    return back.agg(
        F.count("*").alias("n_records"),
        F.sum("doc_id").alias("sum_doc_id"),
        F.sum(F.length(F.coalesce("text", F.lit("")))).alias("sum_chars"),
        F.countDistinct("arrow_path").alias("n_shards"),
    )


ARROW_IPC_EXPORT_SQL = r"""
WITH ids AS (
    SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 80
)
SELECT count(*) AS n_records,
       sum(doc_id)::BIGINT AS sum_doc_id,
       sum(length(coalesce(text, '')))::BIGINT AS sum_chars,
       4::BIGINT AS n_shards
FROM ids
"""


def webdataset_export_roundtrip_op(spark: SparkSession, sf: str) -> DataFrame:
    """DISTRIBUTED WebDataset sink under the gate (sources/archives.
    write_webdataset): the lowest-60 docs become samples (txt part =
    the real utf-8 text, cls part = 1-byte label), repartition over 3
    tasks each streaming its own tar shard, then read back through
    read_archive_members + webdataset_samples and reconciled against
    the source relation. Pins the executor-side tar writer the pytest
    roundtrip covers, inside the driver hash gate."""
    import hashlib
    import os
    import tempfile

    from wc_vector_indexing_spark.sources.archives import (
        read_archive_members,
        webdataset_samples,
        write_webdataset,
    )

    docs = (
        load(spark, "documents", sf)
        .select("doc_id", F.coalesce("text", F.lit("")).alias("text"))
        .orderBy("doc_id")
        .limit(60)
    )
    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_wds_export_{key}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        samples = docs.select(
            F.concat(F.lit("doc_"), F.col("doc_id")).alias("key"),
            F.map_from_arrays(
                F.array(F.lit("txt"), F.lit("cls")),
                F.array(
                    F.encode("text", "utf-8"),
                    F.encode((F.col("doc_id") % 7).cast("string"), "utf-8"),
                ),
            ).alias("parts"),
        )
        write_webdataset(samples.repartition(3), out)
        with open(done, "w") as f:
            f.write("ok")
    back = webdataset_samples(
        read_archive_members(spark, os.path.join(out, "shard-*.tar"))
    )
    return back.select(
        F.regexp_extract("key", r"doc_(\d+)", 1).cast("long").alias("doc_id"),
        "n_parts",
        "total_bytes",
    ).agg(
        F.count("*").alias("n_samples"),
        F.sum("doc_id").alias("sum_doc_id"),
        F.sum("n_parts").alias("sum_parts"),
        F.sum("total_bytes").alias("sum_bytes"),
    )


WEBDATASET_EXPORT_SQL = r"""
WITH ids AS (
    SELECT doc_id, coalesce(text, '') AS text
    FROM documents ORDER BY doc_id LIMIT 60
)
SELECT count(*) AS n_samples,
       sum(doc_id)::BIGINT AS sum_doc_id,
       (2 * count(*))::BIGINT AS sum_parts,
       sum(strlen(text) + 1)::BIGINT AS sum_bytes
FROM ids
"""


def avro_export_roundtrip_op(spark: SparkSession, sf: str) -> DataFrame:
    """DISTRIBUTED Avro sink under the gate (sources/avro.write_avro):
    the lowest-60 docs (nullable lang union null when doc_id % 5 = 0,
    2-vector double embedding) repartition over 3 tasks each writing
    its own deflate container with the schema derived via schema_for,
    read back through the distributed reader and reconciled against
    the source relation — union nulls, array sums, utf-8 char sums."""
    import hashlib
    import os
    import tempfile

    from wc_vector_indexing_spark.sources.avro import (
        read_avro,
        schema_for,
        write_avro,
    )

    docs = (
        load(spark, "documents", sf)
        .select(
            "doc_id",
            F.coalesce("text", F.lit("")).alias("text"),
            F.when(
                F.col("doc_id") % 5 != 0,
                F.concat(F.lit("l"), (F.col("doc_id") % 3).cast("string")),
            ).alias("lang"),
            F.array(
                F.col("doc_id") * 0.25, F.col("doc_id") * 0.125
            ).alias("emb"),
        )
        .orderBy("doc_id")
        .limit(60)
    )
    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_avro_export_{key}")
    done = os.path.join(out, "_DONE")
    schema = schema_for(docs)
    if not os.path.exists(done):
        write_avro(docs.repartition(3), out)
        with open(done, "w") as f:
            f.write("ok")
    back = read_avro(spark, os.path.join(out, "part-*.avro"), schema)
    return back.agg(
        F.count("*").alias("n_records"),
        F.sum("doc_id").alias("sum_doc_id"),
        F.sum(F.length("text")).alias("sum_chars"),
        F.sum(F.col("lang").isNull().cast("long")).alias("n_lang_null"),
        F.sum(F.element_at("emb", 1)).alias("sum_emb0"),
    )


AVRO_EXPORT_SQL = r"""
WITH ids AS (
    SELECT doc_id, coalesce(text, '') AS text
    FROM documents ORDER BY doc_id LIMIT 60
)
SELECT count(*) AS n_records,
       sum(doc_id)::BIGINT AS sum_doc_id,
       sum(length(text))::BIGINT AS sum_chars,
       sum(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_lang_null,
       sum(doc_id * 0.25)::DOUBLE AS sum_emb0
FROM ids
"""


def webdataset_samples_op(spark: SparkSession, sf: str) -> DataFrame:
    """WebDataset sample grouping (sources/archives.webdataset_samples):
    the lowest-48 doc_ids become ``doc_{id}.txt`` (the REAL utf-8 text
    bytes) + ``doc_{id}.cls`` (1-byte label) + — for every third id —
    ``doc_{id}.json`` members across 2 tar shards (shard = doc_id % 2),
    then read back through the archive source and grouped into samples.
    Census per shard: samples, complete samples (all 3 parts), part and
    byte totals. Byte totals are tar-member sizes, so the oracle match
    proves the utf-8 text bytes and the key/part split both survive the
    tar → member-explosion → groupBy path. Reference behavior analogue:
    the media-library attachment grouping (attachment post + its sized
    renditions assembled per parent, class-indexer.php product+children
    assembly) re-expressed for the public WebDataset shard convention."""
    import hashlib
    import io
    import os
    import tarfile
    import tempfile

    from wc_vector_indexing_spark.sources.archives import (
        read_archive_members,
        webdataset_samples,
    )

    rows = (
        load(spark, "documents", sf)
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(48)
        .collect()
    )
    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_wds_{key}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        tars = [
            tarfile.open(os.path.join(out, f"wds{s}.tar"), "w")
            for s in range(2)
        ]
        try:
            for r in rows:
                d = int(r.doc_id)
                tf = tars[d % 2]
                parts = {
                    f"doc_{d}.txt": (r.text or "").encode("utf-8"),
                    f"doc_{d}.cls": str(d % 7).encode(),
                }
                if d % 3 == 0:
                    parts[f"doc_{d}.json"] = b'{"id":' + str(d).encode() + b"}"
                for name, body in parts.items():
                    info = tarfile.TarInfo(name)
                    info.size = len(body)
                    tf.addfile(info, io.BytesIO(body))
        finally:
            for tf in tars:
                tf.close()
        with open(done, "w") as f:
            f.write("ok")
    wd = webdataset_samples(
        read_archive_members(spark, os.path.join(out, "wds*.tar"))
    )
    return (
        wd.groupBy(
            F.regexp_extract("archive", r"wds(\d)", 1).cast("int").alias("shard")
        )
        .agg(
            F.count("*").alias("n_samples"),
            F.sum((F.col("n_parts") == 3).cast("long")).alias("n_complete"),
            F.sum("n_parts").alias("sum_parts"),
            F.sum("total_bytes").alias("sum_bytes"),
        )
        .orderBy("shard")
    )


WEBDATASET_SQL = r"""
WITH ids AS (
    SELECT doc_id, coalesce(text, '') AS text
    FROM documents ORDER BY doc_id LIMIT 48
)
SELECT (doc_id % 2)::INT AS shard,
       count(*) AS n_samples,
       sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_complete,
       sum(2 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)::BIGINT AS sum_parts,
       sum(strlen(text) + 1
           + CASE WHEN doc_id % 3 = 0
                  THEN 7 + length(doc_id::VARCHAR) ELSE 0 END
       )::BIGINT AS sum_bytes
FROM ids
GROUP BY 1
ORDER BY shard
"""


def avro_corpus_census_op(spark: SparkSession, sf: str) -> DataFrame:
    """Avro container source census (sources/avro.py): the lowest-64
    doc_ids' real text plus a nullable language union, a double score,
    and a 2-vector embedding array ride through the full container
    stack — binary encoding, deflate (even shards) and null (odd
    shards) codecs, sync-marked blocks — into 4 shards (shard =
    doc_id % 4), then back through the binaryFile-based distributed
    reader. Census per shard: counts, id/char sums, union-null counts,
    emb[0] sum. The char sum proves utf-8 strings roundtrip the
    zigzag-varint length framing; the null count proves union branch
    indices decode; the emb sum proves counted array segments decode.
    Reference behavior analogue: the bulk import surface (CSV/event
    ingest at logs.php scale) for the Kafka/Hive interchange format."""
    import hashlib
    import os
    import tempfile

    from wc_vector_indexing_spark.sources.avro import read_avro, to_avro_bytes

    schema = {
        "type": "record",
        "name": "doc",
        "fields": [
            {"name": "doc_id", "type": "long"},
            {"name": "text", "type": "string"},
            {"name": "lang", "type": ["null", "string"]},
            {"name": "emb", "type": {"type": "array", "items": "double"}},
        ],
    }
    rows = (
        load(spark, "documents", sf)
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(64)
        .collect()
    )
    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_avro_{key}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        for s in range(4):
            recs = [
                {
                    "doc_id": int(r.doc_id),
                    "text": r.text or "",
                    "lang": None if int(r.doc_id) % 5 == 0
                    else f"l{int(r.doc_id) % 3}",
                    "emb": [int(r.doc_id) * 0.25, int(r.doc_id) * 0.125],
                }
                for r in rows
                if int(r.doc_id) % 4 == s
            ]
            with open(os.path.join(out, f"shard-{s}.avro"), "wb") as fh:
                fh.write(to_avro_bytes(
                    schema, recs,
                    codec="deflate" if s % 2 == 0 else "null"))
        with open(done, "w") as f:
            f.write("ok")
    back = read_avro(spark, os.path.join(out, "shard-*.avro"), schema)
    return (
        back.groupBy(
            F.regexp_extract("avro_path", r"shard-(\d)", 1)
            .cast("int")
            .alias("shard")
        )
        .agg(
            F.count("*").alias("n_records"),
            F.sum("doc_id").alias("sum_doc_id"),
            F.sum(F.length("text")).alias("sum_chars"),
            F.sum(F.col("lang").isNull().cast("long")).alias("n_lang_null"),
            F.sum(F.element_at("emb", 1)).alias("sum_emb0"),
        )
        .orderBy("shard")
    )


AVRO_CENSUS_SQL = r"""
WITH ids AS (
    SELECT doc_id, coalesce(text, '') AS text
    FROM documents ORDER BY doc_id LIMIT 64
)
SELECT (doc_id % 4)::INT AS shard,
       count(*) AS n_records,
       sum(doc_id)::BIGINT AS sum_doc_id,
       sum(length(text))::BIGINT AS sum_chars,
       sum(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_lang_null,
       sum(doc_id * 0.25)::DOUBLE AS sum_emb0
FROM ids
GROUP BY 1
ORDER BY shard
"""


def unigram_seed_census_op(spark: SparkSession, sf: str) -> DataFrame:
    """Unigram-LM tokenizer seeding (operators/unigram_lm.
    seed_candidates) — the DISTRIBUTED half of SentencePiece-style
    training: word frequencies (bpe.word_counts, top-512) exploded
    into every substring of length 1..4, scored frequency×length,
    top-256 candidates. This is the stage whose cost scales with the
    corpus (the EM loop after it runs over the bounded table), so it
    is the stage the oracle pins: DuckDB replays the
    split/count/cap/explode/score chain exactly. Reference behavior
    analogue: the keyword/token surface feeding document assembly
    (class-indexer.php)."""
    from wc_vector_indexing_spark.operators.bpe import word_counts
    from wc_vector_indexing_spark.operators.unigram_lm import seed_candidates

    docs = load(spark, "documents", sf).select("text")
    wc = word_counts(docs, max_words=512)
    return (
        seed_candidates(wc, max_piece_len=4, seed_size=256)
        .select("piece", "score", "n_occurrences")
        .orderBy(F.desc("score"), F.asc("piece"))
    )


UNIGRAM_SEED_SQL = r"""
WITH words AS (
    SELECT word, count(*) AS n
    FROM (
        SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        FROM documents
    )
    WHERE word <> ''
    GROUP BY word
    ORDER BY n DESC, word ASC
    LIMIT 512
),
lens AS (
    SELECT word, n,
           unnest(generate_series(1, least(length(word), 4))) AS l
    FROM words
),
subs AS (
    SELECT word, n, l,
           unnest(generate_series(1, length(word) - l + 1)) AS s
    FROM lens
),
pieces AS (
    SELECT substr(word, s::INT, l::INT) AS piece, n FROM subs
)
SELECT piece,
       sum(n * length(piece))::BIGINT AS score,
       sum(n)::BIGINT AS n_occurrences
FROM pieces
GROUP BY piece
ORDER BY score DESC, piece ASC
LIMIT 256
"""


def unigram_tokenizer_op(spark: SparkSession, sf: str) -> DataFrame:
    """Trained unigram-LM tokenizer (operators/unigram_lm.
    train_unigram): distributed word counts + distributed candidate
    seeding, then the driver-local EM/prune loop (bounded by
    construction — like bpe_merges, the iterative fit is genuinely
    non-SQL, so this entry is rows-only; the distributed seeding
    stage is oracle-pinned by unigram_seed_census and the
    EM/Viterbi math is property-pinned against brute force in
    test_unigram_lm.py). Returns the final vocabulary as
    (rank, piece, logp) with logp rounded for cross-host stability."""
    from wc_vector_indexing_spark.operators.unigram_lm import train_unigram

    docs = load(spark, "documents", sf).select("text")
    logp = train_unigram(
        docs, vocab_size=160, max_words=512,
        max_piece_len=4, seed_size=256,
    )
    ranked = sorted(logp.items(), key=lambda kv: (-kv[1], kv[0]))
    return spark.createDataFrame(
        [(i + 1, p, round(v, 6)) for i, (p, v) in enumerate(ranked)],
        "rank int, piece string, logp double",
    ).orderBy("rank")


def pdf_corpus_text_op(spark: SparkSession, sf: str) -> DataFrame:
    """PDF-source extraction (sources/pdf.read_pdf_corpus): the
    lowest-40 doc_ids become 10 four-page PDFs (page text is two lines
    derived from doc_id by arithmetic; odd-numbered PDFs FlateDecode
    their content streams, even ones stay raw, and every third writes
    its text through a Type0/Identity-H font with a /ToUnicode CMap —
    all paths must extract identically) written once per sf under
    /tmp, then read back through the binaryFile-based source. r8:
    PDFs 1/3/7 are additionally ENCRYPTED (RC4-128, AES-128 /AESV2 —
    on the CID member, so decrypt-then-CMap composes — and RC4-40,
    empty user password; sources/pdf_crypt.py), with identical
    extracted text, so standard-security-handler decryption sits
    inside the driver hash gate. Planted text ⇒ DuckDB oracle
    reconstructs every row; validates writer/extractor inversion,
    page-tree order, Flate + raw streams, CID text decode, decryption,
    and the per-page row explosion."""
    import hashlib
    import os
    import tempfile

    from wc_vector_indexing_spark.sources.pdf import read_pdf_corpus, to_pdf_bytes
    from wc_vector_indexing_spark.sources.pdf_crypt import encrypt_pdf_bytes

    ids = [
        int(r[0])
        for r in load(spark, "documents", sf)
        .select("doc_id")
        .orderBy("doc_id")
        .limit(40)
        .collect()
    ]
    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_pdfsv3_{key}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        enc_modes = {1: "rc4-128", 3: "aesv2", 7: "rc4-40"}
        for k in range(0, len(ids), 4):
            pages = [
                f"Planted PDF page for document {d}.\n"
                f"Second line (checked) for {d}."
                for d in ids[k : k + 4]
            ]
            data = to_pdf_bytes(
                pages,
                compress=bool((k // 4) % 2),
                cid=(k // 4) % 3 == 0,
            )
            mode = enc_modes.get(k // 4)
            if mode is not None:
                data = encrypt_pdf_bytes(data, mode)
            with open(os.path.join(out, f"pdf_{k // 4}.pdf"), "wb") as f:
                f.write(data)
        with open(done, "w") as f:
            f.write("ok")
    rows = read_pdf_corpus(spark, os.path.join(out, "*.pdf"))
    return rows.select(
        F.regexp_extract("pdf_path", r"pdf_(\d+)\.pdf", 1)
        .cast("int")
        .alias("pdf_no"),
        "page_no",
        "text",
        "n_chars",
    ).orderBy("pdf_no", "page_no")


PDF_CORPUS_SQL = r"""
WITH ids AS (
    SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS rnk
    FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 40)
)
SELECT (rnk // 4)::INT AS pdf_no,
       (rnk % 4)::INT AS page_no,
       'Planted PDF page for document ' || doc_id || '.' || chr(10) ||
       'Second line (checked) for ' || doc_id || '.' AS text,
       length('Planted PDF page for document ' || doc_id || '.' || chr(10) ||
              'Second line (checked) for ' || doc_id || '.')::INT AS n_chars
FROM ids
ORDER BY pdf_no, page_no
"""


def warc_corpus_text_op(spark: SparkSession, sf: str) -> DataFrame:
    """Byte-true WARC ingestion (sources/warc.py, r8): the lowest-24
    doc_ids become one WARC/1.1 file of planted HTTP responses cycling
    three transport shapes — plain UTF-8, windows-1251 body with the
    charset declared in Content-Type (bytes are invalid UTF-8, so only
    the declared-charset fallback recovers them), and UTF-8 with
    Transfer-Encoding: chunked (hex-framed chunks the reader must
    de-chunk). Planted text ⇒ the DuckDB oracle reconstructs every row
    from doc_id arithmetic; a hash gate over the Content-Length record
    walk, HTTP envelope split, chunked decode, and the charset
    cascade."""
    import hashlib
    import os
    import tempfile

    from wc_vector_indexing_spark.sources.warc import read_warc, to_warc_bytes

    ids = [
        int(r[0])
        for r in load(spark, "documents", sf)
        .select("doc_id")
        .orderBy("doc_id")
        .limit(24)
        .collect()
    ]
    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_warc_{key}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        recs = []
        for rnk, d in enumerate(ids):
            if rnk % 3 == 1:
                recs.append({
                    "url": f"https://crawl.example/{rnk}",
                    "html": f"<p>Страница {d} — планированная кириллица.</p>",
                    "charset": "cp1251",
                    "content_type": "text/html; charset=windows-1251",
                })
            elif rnk % 3 == 2:
                recs.append({
                    "url": f"https://crawl.example/{rnk}",
                    "html": (
                        f"<p>Chunked transfer page for document {d}. "
                        "Filler text long enough to span several "
                        "hex-framed chunks of the response body.</p>"
                    ),
                    "chunked": True,
                })
            else:
                recs.append({
                    "url": f"https://crawl.example/{rnk}",
                    "html": f"<p>Plain utf-8 page for document {d}.</p>",
                })
        with open(os.path.join(out, "crawl.warc"), "wb") as f:
            f.write(to_warc_bytes(recs, version="1.1"))
        with open(done, "w") as f:
            f.write("ok")
    rows = read_warc(spark, os.path.join(out, "crawl.warc"))
    return rows.select(
        F.regexp_extract("url", r"/(\d+)$", 1).cast("int").alias("page_no"),
        "html",
        "http_status",
        F.length("html").cast("int").alias("n_chars"),
    ).orderBy("page_no")


WARC_CORPUS_SQL = r"""
WITH ids AS (
    SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS rnk
    FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 24)
), pages AS (
    SELECT rnk::INT AS page_no,
           CASE rnk % 3
             WHEN 1 THEN '<p>Страница ' || doc_id || ' — планированная кириллица.</p>'
             WHEN 2 THEN '<p>Chunked transfer page for document ' || doc_id ||
                         '. Filler text long enough to span several hex-framed chunks of the response body.</p>'
             ELSE '<p>Plain utf-8 page for document ' || doc_id || '.</p>'
           END AS html
    FROM ids
)
SELECT page_no, html, 200 AS http_status, length(html)::INT AS n_chars
FROM pages
ORDER BY page_no
"""


def wordpiece_pair_scores_op(spark: SparkSession, sf: str) -> DataFrame:
    """WordPiece first-iteration pair-likelihood table
    (operators/wordpiece.pair_scores): word counts over the lowest-64
    docs (the SAME distributed aggregation BPE training uses), then
    the ``count(ab)·10^9 div (count(a)·count(b))`` integer score in
    pure Catalyst — transform/zip_with/explode, two bounded aggs,
    broadcast joins. The oracle replays the whole chain: whitespace
    tokenize, ##-prefixed symbol split by position, pair/symbol
    counting, exact integer division, top-20 ordering."""
    from wc_vector_indexing_spark.operators.bpe import word_counts
    from wc_vector_indexing_spark.operators.wordpiece import pair_scores

    docs = (
        load(spark, "documents", sf)
        .orderBy("doc_id").limit(64).select("text")
    )
    return pair_scores(word_counts(docs), top_k=20)


WORDPIECE_PAIRS_SQL = r"""
WITH docs64 AS (
    SELECT text FROM documents ORDER BY doc_id LIMIT 64
), toks AS (
    SELECT UNNEST(regexp_split_to_array(trim(lower(coalesce(text, ''))),
                                        '\s+')) AS word
    FROM docs64
), words AS (
    SELECT word, count(*)::BIGINT AS n FROM toks WHERE word <> ''
    GROUP BY word
), positions AS (
    SELECT word, n, UNNEST(range(1, length(word) + 1)) AS i FROM words
), sym_counts AS (
    SELECT CASE WHEN i = 1 THEN substr(word, 1, 1)
                ELSE '##' || substr(word, i::INT, 1) END AS sym,
           sum(n)::BIGINT AS sym_n
    FROM positions GROUP BY sym
), pairs AS (
    SELECT CASE WHEN i = 1 THEN substr(word, 1, 1)
                ELSE '##' || substr(word, i::INT, 1) END AS a,
           '##' || substr(word, (i + 1)::INT, 1) AS b,
           sum(n)::BIGINT AS pair_n
    FROM positions WHERE i < length(word) GROUP BY a, b
)
SELECT a, b, pair_n,
       (pair_n * 1000000000) // (an.sym_n * bn.sym_n) AS score_ppb
FROM pairs
JOIN sym_counts an ON an.sym = pairs.a
JOIN sym_counts bn ON bn.sym = pairs.b
ORDER BY score_ppb DESC, a, b
LIMIT 20
"""


def wordpiece_vocab_op(spark: SparkSession, sf: str) -> DataFrame:
    """Trained WordPiece vocabulary (operators/wordpiece): the full
    trainer — distributed word counts + driver-local likelihood merge
    loop with integer-exact argmax — over the lowest-64 docs;
    (token_id, token) in vocab order (alphabet first, merges after).
    Rows-only by nature (the iterative merge loop, like bpe_merges /
    unigram_tokenizer); the argmax rule itself is golden-pinned in
    tests/test_wordpiece.py."""
    from wc_vector_indexing_spark.operators.wordpiece import train_wordpiece

    docs = (
        load(spark, "documents", sf)
        .orderBy("doc_id").limit(64).select("text")
    )
    vocab = train_wordpiece(docs, vocab_size=160)
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(vocab)], "token_id int, token string"
    )


def warc_wat_links_op(spark: SparkSession, sf: str) -> DataFrame:
    """WAT metadata generation (sources/wat.py): the lowest-24 docs
    become one WARC of planted pages carrying a <title>, a
    description <meta>, and two <a> links (one absolute with nested
    markup inside the anchor text, one relative) — then the WAT pass
    harvests head metadata + the outgoing-link list in ONE Arrow
    parse, the JSON envelope is asserted parseable JVM-side, and the
    link list explodes to graph edges. Direct value match over
    (page_no, title, meta_description, link_no, href, anchor_text).
    Reference behavior analogue: the SEO-meta projection
    (class-indexer.php meta_description) lifted to the archive
    sidecar the link graph consumes."""
    import hashlib
    import os
    import tempfile

    from wc_vector_indexing_spark.sources.warc import read_warc, to_warc_bytes
    from wc_vector_indexing_spark.sources.wat import warc_metadata

    ids = [
        int(r[0])
        for r in load(spark, "documents", sf)
        .select("doc_id").orderBy("doc_id").limit(24).collect()
    ]
    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_wat_{key}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        recs = []
        for rnk, d in enumerate(ids):
            recs.append({
                "url": f"https://crawl.example/{rnk}",
                "html": (
                    f"<html><head><title>Doc {d}</title>"
                    f'<meta name="description" content="About document {d}.">'
                    "</head><body>"
                    f'<a href="https://crawl.example/{(rnk + 1) % 24}">'
                    f"next <b>page</b> {d}</a> "
                    f'<a href="/rel/{d}">rel link {d}</a>'
                    "</body></html>"
                ),
            })
        with open(os.path.join(out, "crawl.warc"), "wb") as f:
            f.write(to_warc_bytes(recs, version="1.1"))
        with open(done, "w") as f:
            f.write("ok")
    meta = warc_metadata(read_warc(spark, os.path.join(out, "crawl.warc")))
    return (
        meta.select(
            F.regexp_extract("url", r"/(\d+)$", 1).cast("int")
            .alias("page_no"),
            "title",
            F.element_at("metas", 1)["content"].alias("meta_description"),
            F.posexplode("links").alias("link_no", "link"),
        )
        .select(
            "page_no", "title", "meta_description",
            F.col("link_no").cast("int").alias("link_no"),
            F.col("link.url").alias("href"),
            F.col("link.text").alias("anchor_text"),
        )
        .orderBy("page_no", "link_no")
    )


WARC_WAT_SQL = r"""
WITH ids AS (
    SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS rnk
    FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 24)
)
SELECT rnk::INT AS page_no,
       'Doc ' || doc_id AS title,
       'About document ' || doc_id || '.' AS meta_description,
       link_no::INT AS link_no,
       CASE WHEN link_no = 0
            THEN 'https://crawl.example/' || ((rnk + 1) % 24)
            ELSE '/rel/' || doc_id END AS href,
       CASE WHEN link_no = 0
            THEN 'next page ' || doc_id
            ELSE 'rel link ' || doc_id END AS anchor_text
FROM ids CROSS JOIN (SELECT unnest(range(2)) AS link_no)
ORDER BY page_no, link_no
"""


def _linkgraph_fixture(spark: SparkSession, sf: str) -> str:
    """24 planted pages across three hosts (h0/h1/h2.example), each
    carrying an absolute link to the NEXT host's landing page (anchor
    text varies by page half, planting an argmax tie), a root-relative
    self link, and a mailto: link the resolver must drop. Returns the
    WARC path."""
    import hashlib
    import os
    import tempfile

    from wc_vector_indexing_spark.sources.warc import to_warc_bytes

    n_ids = (
        load(spark, "documents", sf).select("doc_id")
        .orderBy("doc_id").limit(24).count()
    )
    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_linkgraph_{key}")
    done = os.path.join(out, "_DONE")
    warc_path = os.path.join(out, "crawl.warc")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        recs = []
        for rnk in range(n_ids):
            i, j = rnk % 3, (rnk + 1) % 3
            word = "to" if rnk < 12 else "goto"
            recs.append({
                "url": f"https://h{i}.example/page/{rnk}",
                "html": (
                    "<html><body>"
                    f'<a href="https://h{j}.example/">{word} {j}</a>'
                    f'<a href="/self/{rnk}">self {rnk}</a>'
                    '<a href="mailto:x@example.com">mail</a>'
                    "</body></html>"
                ),
            })
        with open(warc_path, "wb") as f:
            f.write(to_warc_bytes(recs, version="1.1"))
        with open(done, "w") as f:
            f.write("ok")
    return warc_path


def host_link_graph_op(spark: SparkSession, sf: str) -> DataFrame:
    """Host-level link graph (sources/wat.host_link_graph): the planted
    3-host crawl's WAT link explode → (src_host, dst_host) hash agg —
    absolute links cross hosts, root-relative links resolve to
    self-edges, mailto: drops. The shuffle key is host pairs (bounded
    vocabulary), never pages. Planted truth ⇒ closed-form oracle."""
    from wc_vector_indexing_spark.sources.warc import read_warc
    from wc_vector_indexing_spark.sources.wat import host_link_graph

    warc_path = _linkgraph_fixture(spark, sf)
    return (
        host_link_graph(read_warc(spark, warc_path))
        .orderBy("src_host", "dst_host")
    )


HOST_LINK_GRAPH_SQL = r"""
WITH ids AS (
    SELECT row_number() OVER (ORDER BY doc_id) - 1 AS rnk
    FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 24)
),
per_host AS (
    SELECT rnk % 3 AS i, count(*)::BIGINT AS n FROM ids GROUP BY rnk % 3
)
SELECT src_host, dst_host, n_links, n_src_pages
FROM (
    SELECT 'h' || i || '.example' AS src_host,
           'h' || ((i + 1) % 3) || '.example' AS dst_host,
           n AS n_links, n AS n_src_pages
    FROM per_host
    UNION ALL
    SELECT 'h' || i || '.example', 'h' || i || '.example', n, n
    FROM per_host
)
ORDER BY src_host, dst_host
"""


def host_pagerank_op(spark: SparkSession, sf: str) -> DataFrame:
    """Domain ranking as a composition: raw WARC bytes → WAT link
    harvest → host-level edge aggregate (sources/wat.host_link_graph)
    → 5 rounds of weighted PageRank (operators/graph.pagerank) — the
    crawl-frontier prioritization signal, built entirely from
    already-green operators. The planted crawl is ASYMMETRIC (every
    even page adds an extra link to h0) so the fixpoint is
    non-uniform and every iteration moves mass. Oracle: closed-form
    host edges + the same 5 rounds as chained CTEs (the
    event_pagerank replay pattern over the WAT-derived graph)."""
    from wc_vector_indexing_spark.operators.graph import pagerank
    from wc_vector_indexing_spark.sources.warc import read_warc
    from wc_vector_indexing_spark.sources.wat import host_link_graph

    g = host_link_graph(read_warc(spark, _hostpr_fixture(spark, sf)))
    return (
        pagerank(g, iterations=5, damping=0.85,
                 src="src_host", dst="dst_host", weight="n_links")
        .orderBy("node")
    )


def _hostpr_fixture(spark: SparkSession, sf: str) -> str:
    """The asymmetric 3-host planted crawl host_pagerank and
    host_trustrank share (every even page adds a hub edge to h0)."""
    import hashlib
    import os
    import tempfile

    from wc_vector_indexing_spark.sources.warc import to_warc_bytes

    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_hostpr_{key}")
    done = os.path.join(out, "_DONE")
    warc_path = os.path.join(out, "crawl.warc")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        recs = []
        for rnk in range(24):
            i, j = rnk % 3, (rnk + 1) % 3
            links = f'<a href="https://h{j}.example/">next</a>'
            if rnk % 2 == 0:
                links += '<a href="https://h0.example/">hub</a>'
            recs.append({
                "url": f"https://h{i}.example/page/{rnk}",
                "html": f"<html><body>{links}</body></html>",
            })
        with open(warc_path, "wb") as f:
            f.write(to_warc_bytes(recs, version="1.1"))
        with open(done, "w") as f:
            f.write("ok")
    return warc_path


def host_trustrank_op(spark: SparkSession, sf: str) -> DataFrame:
    """TrustRank over the planted host graph (operators/graph.pagerank
    ``seeds`` — Gyöngyi et al. 2004, public literature): the teleport
    vector concentrates on the hand-curated seed host h0.example, so
    trust flows h0 → h1 → h2 and decays with link distance instead of
    renormalizing uniformly — the spam-demotion sibling of
    host_pagerank, same WAT-derived graph, same chained-CTE oracle
    with a seed-masked base term."""
    from wc_vector_indexing_spark.operators.graph import pagerank
    from wc_vector_indexing_spark.sources.warc import read_warc
    from wc_vector_indexing_spark.sources.wat import host_link_graph

    g = host_link_graph(read_warc(spark, _hostpr_fixture(spark, sf)))
    return (
        pagerank(g, iterations=5, damping=0.85,
                 src="src_host", dst="dst_host", weight="n_links",
                 seeds=["h0.example"])
        .orderBy("node")
    )


def _host_trustrank_sql(iterations: int = 5, d: float = 0.85) -> str:
    base = (f"(1 - {d}) * (CASE WHEN nodes.node = 'h0.example' "
            f"THEN 1.0 ELSE 0.0 END)")
    rounds, prev = _pagerank_rounds(iterations, d, base_sql=base)
    return (
        """
WITH edges(src, dst, w) AS (
    VALUES ('h0.example', 'h1.example', 8.0),
           ('h0.example', 'h0.example', 4.0),
           ('h1.example', 'h2.example', 8.0),
           ('h1.example', 'h0.example', 4.0),
           ('h2.example', 'h0.example', 12.0)
),
outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
en AS (SELECT e.src, e.dst, e.w / o.ow AS wn FROM edges e JOIN outw o USING (src)),
nodes AS (
    SELECT DISTINCT node FROM (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
),
nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
r0 AS (
    SELECT node,
           CASE WHEN node = 'h0.example' THEN 1.0 ELSE 0.0 END AS rank
    FROM nodes
),
"""
        + rounds
        + f"\nSELECT node, round(rank, 6) AS rank FROM {prev} ORDER BY node"
    )


def _pagerank_rounds(iterations: int = 5, d: float = 0.85,
                     base_sql: str | None = None) -> tuple[str, str]:
    """(rounds CTE text, final relation name): the chained-CTE replay
    of operators/graph.pagerank — expects CTEs ``en(src, dst, wn)``,
    ``nodes(node)``, ``nn(n)``, ``r0(node, rank)`` in scope.
    ``base_sql`` overrides the teleport term (default: the uniform
    ``(1-d)/N``); the TrustRank replay passes the seed-masked form."""
    if base_sql is None:
        base_sql = f"(1 - {d}) / nn.n"
    prev = "r0"
    rounds = []
    for i in range(1, iterations + 1):
        rounds.append(
            f"it{i} AS (\n"
            f"    SELECT nodes.node,"
            f" {base_sql} + {d} * coalesce(c.s, 0) AS rank\n"
            f"    FROM nodes CROSS JOIN nn\n"
            f"    LEFT JOIN (SELECT en.dst AS node,"
            f" sum({prev}.rank * en.wn) AS s\n"
            f"               FROM {prev} JOIN en ON {prev}.node = en.src"
            f" GROUP BY en.dst) c\n"
            f"    USING (node))"
        )
        prev = f"it{i}"
    return ",\n".join(rounds), prev


def _host_pagerank_sql(iterations: int = 5, d: float = 0.85) -> str:
    rounds, prev = _pagerank_rounds(iterations, d)
    return (
        """
WITH edges(src, dst, w) AS (
    VALUES ('h0.example', 'h1.example', 8.0),
           ('h0.example', 'h0.example', 4.0),
           ('h1.example', 'h2.example', 8.0),
           ('h1.example', 'h0.example', 4.0),
           ('h2.example', 'h0.example', 12.0)
),
outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
en AS (SELECT e.src, e.dst, e.w / o.ow AS wn FROM edges e JOIN outw o USING (src)),
nodes AS (
    SELECT DISTINCT node FROM (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
),
nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
"""
        + rounds
        + f"\nSELECT node, round(rank, 6) AS rank FROM {prev} ORDER BY node"
    )


def anchor_text_index_op(spark: SparkSession, sf: str) -> DataFrame:
    """Anchor-text retrieval signal (sources/wat.anchor_text_index):
    per resolved target, incoming-reference count + most frequent
    anchor text over the same planted crawl — the landing pages
    receive a deliberate 4-vs-4 anchor tie ('to j' vs 'goto j') so
    the lexicographic argmax tie-break is driver-validated, and the
    self links pin the n_refs=1 tail. Planted truth ⇒ closed-form
    oracle."""
    from wc_vector_indexing_spark.sources.warc import read_warc
    from wc_vector_indexing_spark.sources.wat import anchor_text_index

    warc_path = _linkgraph_fixture(spark, sf)
    return (
        anchor_text_index(read_warc(spark, warc_path))
        .orderBy("target")
    )


ANCHOR_TEXT_SQL = r"""
WITH ids AS (
    SELECT row_number() OVER (ORDER BY doc_id) - 1 AS rnk
    FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 24)
),
cross_links AS (
    SELECT (rnk + 1) % 3 AS j,
           (CASE WHEN rnk < 12 THEN 'to ' ELSE 'goto ' END)
               || ((rnk + 1) % 3) AS anchor
    FROM ids
),
anchor_counts AS (
    SELECT j, anchor, count(*) AS c FROM cross_links GROUP BY j, anchor
),
ranked AS (
    SELECT j, anchor,
           sum(c) OVER (PARTITION BY j) AS tot,
           row_number() OVER (PARTITION BY j ORDER BY c DESC, anchor) AS rn
    FROM anchor_counts
)
SELECT target, n_refs, top_anchor
FROM (
    SELECT 'https://h' || j || '.example/' AS target,
           tot::BIGINT AS n_refs, anchor AS top_anchor
    FROM ranked WHERE rn = 1
    UNION ALL
    SELECT 'https://h' || (rnk % 3) || '.example/self/' || rnk,
           1::BIGINT, 'self ' || rnk
    FROM ids
)
ORDER BY target
"""


def curation_with_host_prior_op(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet/RefinedWeb-style host-prior curation (operators/curation.py
    ``host_prior`` param): link-graph PageRank plus the host_reputation
    blocklist gate/re-weight documents BEFORE the per-document gates —
    the reason the WAT link-graph operators exist. Composition: a
    planted crawl (one page per document host; hosts = the documents
    table's bounded source vocabulary in lexicographic order; edge rule
    i → (i+1)%n plus an even-i hub edge to host 0) → real WARC read →
    WAT link harvest → host_link_graph → 5-round weighted PageRank →
    per-host rank; host_reputation over the boilerplate-planted corpus
    (same plant as the host_reputation entry) → blocked hosts. Both
    signals land in ONE bounded prior table that curate() broadcasts:
    blocked hosts drop wholesale (reason ``blocked_host``) before any
    per-row scoring, rank re-weights quality 0.8–1.2x ahead of the
    min_quality gate, then language gate + exact + md5-minhash near
    dedup run exactly as in curation_pipeline. Oracle: data-derived
    host count (the r11 ADVICE lesson — no hard-coded fixture sizes),
    chained-CTE PageRank replay, reputation aggregate, and the shared
    curation CTEs with the multiplier column.

    Reference analogue: the priority-ordered candidate union J7
    (class-scheduler.php:143-154), restated as quality priority."""
    from wc_vector_indexing_spark.operators.curation import (
        CurationConfig,
        curate,
        curation_report,
    )

    planted, prior = _host_prior_inputs(spark, sf)
    result = curate(
        planted,
        CurationConfig(
            min_quality=0.5, languages=("en",), minhash_token_hash="md5"
        ),
        host_prior=prior,
    )
    report = curation_report(planted, result.audit)  # eager
    result.unpersist()
    return report


def _host_prior_inputs(
    spark: SparkSession, sf: str,
) -> tuple[DataFrame, DataFrame]:
    """(planted corpus, host prior table) for curation_with_host_prior:
    the planted crawl fixture → WAT link graph → PageRank rank, joined
    with the host_reputation blocklist over the boilerplate plant."""
    import hashlib
    import os
    import tempfile

    from wc_vector_indexing_spark.operators.graph import pagerank
    from wc_vector_indexing_spark.operators.reputation import host_reputation
    from wc_vector_indexing_spark.sources.warc import read_warc, to_warc_bytes
    from wc_vector_indexing_spark.sources.wat import host_link_graph

    docs = load(spark, "documents", sf)
    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_hostprior_{key}")
    done = os.path.join(out, "_DONE")
    warc_path = os.path.join(out, "crawl.warc")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        # the host vocabulary is bounded (20 sources at every sf) — a
        # driver collect here is the same class as broadcast-dim
        # loading, and it is only needed to WRITE the fixture, so it
        # runs once per sf dir, not once per query invocation
        hosts = sorted(
            r[0] for r in docs.select("source").distinct().collect()
        )
        n = len(hosts)
        recs = []
        for i, h in enumerate(hosts):
            links = f'<a href="https://{hosts[(i + 1) % n]}.example/">next</a>'
            if i % 2 == 0:
                links += f'<a href="https://{hosts[0]}.example/">hub</a>'
            recs.append({
                "url": f"https://{h}.example/page/{i}",
                "html": f"<html><body>{links}</body></html>",
            })
        with open(warc_path, "wb") as f:
            f.write(to_warc_bytes(recs, version="1.1"))
        with open(done, "w") as f:
            f.write("ok")
    g = host_link_graph(read_warc(spark, warc_path))
    rank = (
        pagerank(g, iterations=5, damping=0.85,
                 src="src_host", dst="dst_host", weight="n_links")
        .select(
            F.expr("replace(node, '.example', '')").alias("host"),
            F.col("rank").alias("host_rank"),
        )
    )
    host_num = F.regexp_extract("source", r"(\d+)", 1).cast("int")
    boiler = F.concat(
        F.lit("subscribe to our newsletter and accept all cookies on "),
        F.col("source"),
    )
    planted = docs.withColumn(
        "text",
        F.when((F.col("doc_id") % 5 == 4) & (host_num % 2 == 0), boiler)
        .otherwise(F.col("text")),
    )
    rep = host_reputation(planted).select("host", "blocked")
    prior = rank.join(rep, "host", "outer")
    return planted, prior


def _curation_host_prior_audit(spark: SparkSession, sf: str) -> DataFrame:
    """curation_with_host_prior's plan-audit surface: the lazy
    audit-chain aggregate over the host-prior-gated curation."""
    from wc_vector_indexing_spark.operators.curation import (
        CurationConfig,
        curate,
    )

    planted, prior = _host_prior_inputs(spark, sf)
    result = curate(
        planted,
        CurationConfig(
            min_quality=0.5, languages=("en",), minhash_token_hash="md5"
        ),
        host_prior=prior,
    )
    return result.audit.groupBy("reject_reason").agg(
        F.count(F.lit(1)).alias("n"))


def _curation_host_prior_sql(iterations: int = 5, d: float = 0.85) -> str:
    """curation_with_host_prior's oracle: data-derived hosts + edge
    replay → chained-CTE PageRank → reputation blocklist → host-gated,
    rank-re-weighted curation CTEs → the audit report arithmetic."""
    rounds, prev = _pagerank_rounds(iterations, d)
    q_raw = (
        "round(least(1.0, len(regexp_split_to_array(lower(trim(text)), '\\s+')) / 100.0) * 0.4 "
        "+ (1.0 - length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / length(text)) * 0.3 "
        "+ (1.0 - least(1.0, length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE / length(text) * 5.0)) * 0.3, 4)"
    )
    return f"""
WITH RECURSIVE hosts AS (
    SELECT host, row_number() OVER (ORDER BY host) - 1 AS i,
           count(*) OVER () AS cnt
    FROM (SELECT DISTINCT source AS host FROM documents)
),
eraw AS (
    SELECT h.host || '.example' AS src, t.host || '.example' AS dst
    FROM hosts h JOIN hosts t ON t.i = (h.i + 1) % h.cnt
    UNION ALL
    SELECT h.host || '.example', z.host || '.example'
    FROM hosts h JOIN hosts z ON z.i = 0 AND h.i % 2 = 0
),
hedges AS (SELECT src, dst, count(*)::DOUBLE AS w FROM eraw GROUP BY src, dst),
outw AS (SELECT src, sum(w) AS ow FROM hedges GROUP BY src),
en AS (SELECT e.src, e.dst, e.w / o.ow AS wn FROM hedges e JOIN outw o USING (src)),
nodes AS (
    SELECT DISTINCT node FROM (SELECT src AS node FROM hedges UNION ALL SELECT dst FROM hedges)
),
nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
{rounds},
rank_tbl AS (
    SELECT replace(node, '.example', '') AS host, round(rank, 6) AS rank
    FROM {prev}
),
planted AS (
    SELECT doc_id, source,
           CASE WHEN doc_id % 5 = 4
                 AND regexp_extract(source, '([0-9]+)', 1)::INT % 2 = 0
                THEN 'subscribe to our newsletter and accept all cookies on '
                     || source
                ELSE text END AS text
    FROM documents
),
repq AS (SELECT source, md5(text) AS digest, {q_raw} AS q FROM planted),
rep AS (
    SELECT source AS host,
           count(digest) AS n_text_pages,
           count(DISTINCT digest) AS n_unique,
           round(avg(q), 3) AS avg_quality
    FROM repq GROUP BY source
),
blocked AS (
    SELECT host FROM rep
    WHERE coalesce(round(1 - n_unique::DOUBLE / nullif(n_text_pages, 0), 4) > 0.15,
                   false)
       OR coalesce(avg_quality < 0.45, false)
),
mx AS (SELECT max(rank) AS m FROM rank_tbl),
pre AS (
    SELECT p.doc_id, p.text,
           0.8 + 0.4 * coalesce(r.rank / mx.m, 0.5) AS mult
    FROM planted p CROSS JOIN mx
    LEFT JOIN rank_tbl r ON p.source = r.host
    WHERE p.source NOT IN (SELECT host FROM blocked)
),
{_curation_ctes('pre', mult_col='mult')},
audit AS (
    SELECT 'blocked_host' AS reject_reason,
           (SELECT count(*) FROM planted
            WHERE source IN (SELECT host FROM blocked)) AS n
    UNION ALL SELECT 'low_quality', count(*) FROM low_q
    UNION ALL SELECT 'wrong_language', count(*) FROM wrong_lang
    UNION ALL SELECT 'exact_duplicate', count(*) FROM exact_dropped
    UNION ALL SELECT 'near_duplicate', count(*) FROM near_dropped
)
SELECT reject_reason, n::BIGINT AS n FROM (
    SELECT reject_reason, n FROM audit WHERE n > 0
    UNION ALL
    SELECT 'kept',
           (SELECT count(*) FROM documents) - (SELECT sum(n) FROM audit)
)
ORDER BY reject_reason
"""


def frontier_schedule_op(spark: SparkSession, sf: str) -> DataFrame:
    """Polite crawl-frontier scheduling (operators/frontier.py): every
    document becomes a frontier URL on its source host; even-numbered
    hosts carry a planted robots crawl-delay, odd hosts ride the 1.0 s
    default; priority = n_chars (ties broken by url). One window
    shuffle on host; the politeness table broadcasts; fetcher
    assignment is the engine-portable md5-prefix hash, so the whole
    schedule — slots, spacing, fleet affinity — replays in DuckDB.
    Reference analogue: the scheduler's priority-ordered per-site queue
    (class-scheduler.php), restated for a polite fetch fleet."""
    from wc_vector_indexing_spark.operators.frontier import (
        schedule_frontier,
    )

    docs = load(spark, "documents", sf)
    host_num = F.regexp_extract("source", r"(\d+)", 1).cast("int")
    frontier = docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example/p/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.col("source").alias("host"),
        F.col("n_chars").cast("double").alias("priority"),
    )
    politeness = (
        docs.select(F.col("source").alias("host"), host_num.alias("hn"))
        .distinct()
        .filter(F.col("hn") % 2 == 0)
        .select("host",
                ((F.col("hn") % 5 + 1) * 0.5).alias("crawl_delay_s"))
    )
    return (
        schedule_frontier(frontier, politeness, n_fetchers=8)
        .orderBy("host", "slot")
    )


FRONTIER_SCHEDULE_SQL = r"""
WITH f AS (
    SELECT 'https://' || source || '.example/p/' || doc_id AS url,
           source AS host, n_chars::DOUBLE AS priority
    FROM documents
), pol AS (
    SELECT host,
           (regexp_extract(host, '([0-9]+)', 1)::INT % 5 + 1) * 0.5 AS delay
    FROM (SELECT DISTINCT source AS host FROM documents)
    WHERE regexp_extract(host, '([0-9]+)', 1)::INT % 2 = 0
), ranked AS (
    SELECT url, host,
           (row_number() OVER (PARTITION BY host
                               ORDER BY priority DESC, url) - 1)::INT
               AS slot
    FROM f
)
SELECT r.url, r.host, r.slot,
       round(r.slot * coalesce(p.delay, 1.0), 3)::DOUBLE
           AS scheduled_offset_s,
       (('0x' || substr(md5(r.host), 1, 8))::BIGINT % 8)::INT AS fetcher
FROM ranked r LEFT JOIN pol p USING (host)
ORDER BY host, slot
"""


_RECRAWL_NOW = 1700000000.0 + 30 * 86400


def recrawl_priority_op(spark: SparkSession, sf: str) -> DataFrame:
    """Change-rate refresh priority (operators/frontier.
    recrawl_priority): every document becomes a URL with 1 + doc_id%4
    planted captures 12 h apart; doc_id%3 routes the change pattern —
    every capture (0), never (1), once at the third capture (2) — so
    the estimator sees all three change regimes plus the
    single-capture no-evidence tail. now is an explicit epoch literal
    (schedules must replay deterministically). One window shuffle +
    one same-key aggregate; closed-form oracle."""
    from wc_vector_indexing_spark.operators.frontier import (
        recrawl_priority,
    )

    docs = load(spark, "documents", sf)
    k = F.explode(
        F.sequence(F.lit(0), (F.col("doc_id") % 4).cast("int"))).alias("k")
    caps = docs.select("doc_id", k).select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"),
        (F.lit(1700000000.0) + (F.col("doc_id") % 7) * 3600
         + F.col("k") * 43200).alias("ts"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("D"), F.col("doc_id").cast("string"),
                        F.lit("-"), F.col("k").cast("string")))
        .when(F.col("doc_id") % 3 == 1,
              F.concat(F.lit("D"), F.col("doc_id").cast("string")))
        .otherwise(
            F.concat(F.lit("D"), F.col("doc_id").cast("string"),
                     F.lit("-"),
                     F.floor(F.col("k") / 2).cast("string")))
        .alias("digest"),
    )
    return recrawl_priority(caps, now_ts=_RECRAWL_NOW).orderBy("url")


RECRAWL_PRIORITY_SQL = rf"""
WITH caps AS (
    SELECT 'u' || doc_id AS url,
           1700000000.0 + (doc_id % 7) * 3600 + k * 43200 AS ts,
           CASE WHEN doc_id % 3 = 0 THEN 'D' || doc_id || '-' || k
                WHEN doc_id % 3 = 1 THEN 'D' || doc_id
                ELSE 'D' || doc_id || '-' || (k // 2) END AS digest
    FROM documents, unnest(range(0, doc_id % 4 + 1)) AS t(k)
), obs AS (
    SELECT url, ts, digest,
           (digest <> lag(digest)
                OVER (PARTITION BY url ORDER BY ts, digest))::INT
               AS changed
    FROM caps
), per_url AS (
    SELECT url, count(*) AS n_obs,
           coalesce(sum(changed), 0) AS n_changes,
           max(ts) - min(ts) AS span_s,
           max(ts) AS last_ts
    FROM obs GROUP BY url
)
SELECT url, n_obs, n_changes::BIGINT AS n_changes,
       round(CASE WHEN span_s > 0
                  THEN n_changes / (span_s / 86400.0) END, 6)
           ::DOUBLE AS change_rate,
       round(greatest({_RECRAWL_NOW} - last_ts, 0.0), 3)
           ::DOUBLE AS staleness_s,
       round(coalesce(
           CASE WHEN span_s > 0
                THEN n_changes / (span_s / 86400.0) END
           * (greatest({_RECRAWL_NOW} - last_ts, 0.0) / 86400.0), 0.0), 6)
           ::DOUBLE AS priority
FROM per_url
ORDER BY url
"""


def crawl_ops_pipeline_op(spark: SparkSession, sf: str) -> DataFrame:
    """Crawl OPERATIONS end to end, one lazy program over green
    operators (the ops-side sibling of crawl_to_training_set's
    data-prep composition): planted per-host robots.txt → RFC 9309
    rule parse + gate (every doc_id%7==3 URL sits under the disallowed
    /private/ prefix) + Crawl-delay extraction (even-numbered hosts
    declare one; odd hosts ride the 1.0 s default) → change-rate
    re-crawl priority from planted capture history (the recrawl_
    priority regimes, keyed on the composed URL) → polite host-affine
    schedule. The full schedule is the result — every row crosses
    FOUR operator contracts (robots gate column names, priority join
    key, politeness broadcast, window slotting), which is where
    cross-operator drift would hide. Everything is arithmetic on
    doc_id, so the DuckDB oracle replays the whole program."""
    from wc_vector_indexing_spark.operators.frontier import (
        recrawl_priority,
        schedule_frontier,
    )
    from wc_vector_indexing_spark.operators.robots import (
        parse_delays,
        parse_rules,
        robots_gate,
    )

    docs = load(spark, "documents", sf)
    host_num = F.regexp_extract("source", r"(\d+)", 1).cast("int")
    path = F.when(F.col("doc_id") % 7 == 3,
                  F.concat(F.lit("/private/p"),
                           F.col("doc_id").cast("string"))) \
        .otherwise(F.concat(F.lit("/p/"), F.col("doc_id").cast("string")))
    pages = docs.select(
        "doc_id",
        F.col("source").alias("domain"),
        path.alias("path"),
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example"),
                 path).alias("url"),
    )
    robots_df = (
        docs.select(F.col("source").alias("domain"),
                    host_num.alias("hn")).distinct()
        .select(
            "domain",
            F.concat(
                F.lit("User-agent: *\nDisallow: /private/\n"),
                F.when(
                    F.col("hn") % 2 == 0,
                    F.concat(F.lit("Crawl-delay: "),
                             ((F.col("hn") % 5 + 1) * 0.5).cast("string"),
                             F.lit("\n")),
                ).otherwise(F.lit("")),
            ).alias("robots_txt"),
        )
    )
    rules = parse_rules(robots_df)
    allowed = robots_gate(pages, rules).filter(F.col("allowed"))
    # capture history on the composed URL — same regimes as
    # recrawl_priority's own entry
    k = F.explode(
        F.sequence(F.lit(0), (F.col("doc_id") % 4).cast("int"))).alias("k")
    caps = pages.select("doc_id", "url", k).select(
        "url",
        (F.lit(1700000000.0) + (F.col("doc_id") % 7) * 3600
         + F.col("k") * 43200).alias("ts"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("D"), F.col("doc_id").cast("string"),
                        F.lit("-"), F.col("k").cast("string")))
        .when(F.col("doc_id") % 3 == 1,
              F.concat(F.lit("D"), F.col("doc_id").cast("string")))
        .otherwise(
            F.concat(F.lit("D"), F.col("doc_id").cast("string"),
                     F.lit("-"),
                     F.floor(F.col("k") / 2).cast("string")))
        .alias("digest"),
    )
    pri = recrawl_priority(caps, now_ts=_RECRAWL_NOW).select(
        "url", "priority")
    frontier = allowed.join(pri, "url").select(
        "url", F.col("domain").alias("host"), "priority")
    politeness = parse_delays(robots_df)
    return (
        schedule_frontier(frontier, politeness, n_fetchers=8)
        .orderBy("host", "slot")
    )


CRAWL_OPS_SQL = rf"""
WITH pages AS (
    SELECT doc_id, source AS host,
           regexp_extract(source, '([0-9]+)', 1)::INT AS hn,
           'https://' || source || '.example' ||
           CASE WHEN doc_id % 7 = 3 THEN '/private/p' || doc_id
                ELSE '/p/' || doc_id END AS url,
           doc_id % 7 = 3 AS blocked
    FROM documents
), caps AS (
    SELECT p.url,
           1700000000.0 + (p.doc_id % 7) * 3600 + k * 43200 AS ts,
           CASE WHEN p.doc_id % 3 = 0 THEN 'D' || p.doc_id || '-' || k
                WHEN p.doc_id % 3 = 1 THEN 'D' || p.doc_id
                ELSE 'D' || p.doc_id || '-' || (k // 2) END AS digest
    FROM pages p, unnest(range(0, p.doc_id % 4 + 1)) AS t(k)
), obs AS (
    SELECT url, ts, digest,
           (digest <> lag(digest)
                OVER (PARTITION BY url ORDER BY ts, digest))::INT
               AS changed
    FROM caps
), pri AS (
    SELECT url,
           coalesce(
               CASE WHEN max(ts) - min(ts) > 0
                    THEN coalesce(sum(changed), 0)
                         / ((max(ts) - min(ts)) / 86400.0) END
               * (greatest({_RECRAWL_NOW} - max(ts), 0.0) / 86400.0), 0.0) AS priority
    FROM obs GROUP BY url
), frontier AS (
    SELECT p.url, p.host, p.hn, round(pri.priority, 6) AS priority
    FROM pages p JOIN pri USING (url)
    WHERE NOT p.blocked
), ranked AS (
    SELECT url, host, hn,
           (row_number() OVER (PARTITION BY host
                               ORDER BY priority DESC, url) - 1)::INT
               AS slot
    FROM frontier
)
SELECT url, host, slot,
       round(slot * CASE WHEN hn % 2 = 0 THEN (hn % 5 + 1) * 0.5
                         ELSE 1.0 END, 3)::DOUBLE AS scheduled_offset_s,
       (('0x' || substr(md5(host), 1, 8))::BIGINT % 8)::INT AS fetcher
FROM ranked
ORDER BY host, slot
"""


def mirror_hosts_op(spark: SparkSession, sf: str) -> DataFrame:
    """Mirror-site clusters (operators/mirrors.py): the plant gives
    each host pair (2g, 2g+1) an identical per-page content set —
    perfect mirrors — except groups g%3==2, whose odd host diverges on
    every even page (Jaccard ≈ 0.32 < 0.6 → correctly NOT mirrors);
    page 0 of every host is a global boilerplate footer whose digest
    sits on all hosts and must be excluded by the hosts-per-digest cap
    (8) while still counting toward set sizes. Pairing self-joins on
    digest (group sizes = hosts-per-digest, never all-pairs); the
    DuckDB oracle replays plant → digest sets → capped pair evidence →
    Jaccard gate → recursive-CTE components."""
    from wc_vector_indexing_spark.operators.mirrors import (
        mirror_host_clusters,
    )

    docs = load(spark, "documents", sf)
    hn = (F.col("doc_id") % 20).cast("int")
    pg = F.floor(F.col("doc_id") / 20).cast("int")
    g = F.floor(hn / 2).cast("int")
    base = F.concat(F.lit("mirror body "), g.cast("string"),
                    F.lit(" page "), pg.cast("string"))
    planted = docs.select(
        "doc_id", "source",
        F.when(pg == 0, F.lit("global boilerplate footer"))
        .when((hn % 2 == 1) & (g % 3 == 2) & (pg % 2 == 0),
              F.concat(base, F.lit(" x"), hn.cast("string")))
        .otherwise(base)
        .alias("text"),
    )
    return (
        mirror_host_clusters(planted, min_jaccard=0.6,
                             max_hosts_per_digest=8)
        .orderBy("host")
    )


def _mirror_curation_inputs(
    spark: SparkSession, sf: str,
) -> tuple[DataFrame, DataFrame]:
    """(planted corpus, mirror clusters) for curation_with_mirrors:
    host-pair groups g = (doc_id%20)//2 with g%3==0 carry text
    depending only on (g, page) — the two hosts of each such pair are
    PERFECT mirrors (src0/src1, src6/src7, src12/src13, src18/src19);
    every other host keeps its real document text so the downstream
    gates have realistic work. Detection runs on the same corpus being
    curated (the real composition shape)."""
    from wc_vector_indexing_spark.operators.mirrors import (
        mirror_host_clusters,
    )

    docs = load(spark, "documents", sf)
    hn = (F.col("doc_id") % 20).cast("int")
    g = F.floor(hn / 2).cast("int")
    pg = F.floor(F.col("doc_id") / 20).cast("int")
    planted = docs.select(
        "doc_id", "source",
        F.when(
            g % 3 == 0,
            F.concat(F.lit("mirrored body for group "), g.cast("string"),
                     F.lit(" page "), pg.cast("string")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    clusters = mirror_host_clusters(
        planted, host_col="source", min_jaccard=0.6,
        max_hosts_per_digest=8)
    return planted, clusters


def curation_with_mirrors_op(spark: SparkSession, sf: str) -> DataFrame:
    """RefinedWeb-style mirror-aware curation (operators/curation.py
    ``mirror_clusters`` param consuming operators/mirrors.py): detect
    mirrored HOSTS on the corpus itself, drop every page of each
    non-canonical mirror wholesale (reason ``mirror_host``, one
    broadcast anti-join) BEFORE content dedup ever sees them, then run
    the standard gate chain (quality, language, exact, md5-minhash
    near dedup). The frontier-level win: a mirrored host's pages never
    reach the shuffling dedup stages at all. Oracle replays plant →
    digest-set Jaccard → recursive-CTE components → host gate → the
    shared curation CTEs → audit arithmetic."""
    from wc_vector_indexing_spark.operators.curation import (
        CurationConfig,
        curate,
        curation_report,
    )

    planted, clusters = _mirror_curation_inputs(spark, sf)
    result = curate(
        planted,
        CurationConfig(
            min_quality=0.5, languages=("en",), minhash_token_hash="md5"
        ),
        mirror_clusters=clusters,
    )
    report = curation_report(planted, result.audit)  # eager
    result.unpersist()
    return report


def _curation_mirrors_audit(spark: SparkSession, sf: str) -> DataFrame:
    """curation_with_mirrors' plan-audit surface: the lazy audit-chain
    aggregate over the mirror-gated curation."""
    from wc_vector_indexing_spark.operators.curation import (
        CurationConfig,
        curate,
    )

    planted, clusters = _mirror_curation_inputs(spark, sf)
    result = curate(
        planted,
        CurationConfig(
            min_quality=0.5, languages=("en",), minhash_token_hash="md5"
        ),
        mirror_clusters=clusters,
    )
    return result.audit.groupBy("reject_reason").agg(
        F.count(F.lit(1)).alias("n"))


def _curation_mirrors_sql() -> str:
    """curation_with_mirrors' oracle: the mirror_hosts detection CTEs
    over the blended plant, the non-canonical host gate, then the
    shared curation CTE chain and the report arithmetic."""
    return f"""
WITH RECURSIVE planted AS (
    SELECT doc_id, source,
           CASE WHEN ((doc_id % 20) // 2) % 3 = 0
                THEN 'mirrored body for group ' || ((doc_id % 20) // 2)
                     || ' page ' || (doc_id // 20)
                ELSE text END AS text
    FROM documents
),
digests AS (SELECT DISTINCT source AS host, md5(text) AS d FROM planted),
hsizes AS (SELECT host, count(*) AS n FROM digests GROUP BY host),
usable AS (SELECT d FROM digests GROUP BY d HAVING count(*) BETWEEN 2 AND 8),
dd AS (SELECT dg.host, dg.d FROM digests dg JOIN usable u USING (d)),
mpairs AS (
    SELECT a.host AS host_a, b.host AS host_b, count(*) AS shared
    FROM dd a JOIN dd b ON a.d = b.d AND a.host < b.host
    GROUP BY 1, 2
), medges AS (
    SELECT host_a, host_b
    FROM mpairs
    JOIN hsizes sa ON sa.host = mpairs.host_a
    JOIN hsizes sb ON sb.host = mpairs.host_b
    WHERE shared::DOUBLE / (sa.n + sb.n - shared) >= 0.6
), me AS (
    SELECT host_a AS src, host_b AS dst FROM medges
    UNION
    SELECT host_b, host_a FROM medges
), mreach(node, r) AS (
    SELECT src, src FROM me
    UNION
    SELECT me.src, mreach.r FROM me JOIN mreach ON me.dst = mreach.node
), mdropped AS (
    SELECT node AS host FROM mreach GROUP BY node
    HAVING node <> min(r)
),
pre AS (
    SELECT doc_id, text FROM planted
    WHERE source NOT IN (SELECT host FROM mdropped)
),
{_curation_ctes('pre')},
audit AS (
    SELECT 'mirror_host' AS reject_reason,
           (SELECT count(*) FROM planted
            WHERE source IN (SELECT host FROM mdropped)) AS n
    UNION ALL SELECT 'low_quality', count(*) FROM low_q
    UNION ALL SELECT 'wrong_language', count(*) FROM wrong_lang
    UNION ALL SELECT 'exact_duplicate', count(*) FROM exact_dropped
    UNION ALL SELECT 'near_duplicate', count(*) FROM near_dropped
)
SELECT reject_reason, n::BIGINT AS n FROM (
    SELECT reject_reason, n FROM audit WHERE n > 0
    UNION ALL
    SELECT 'kept',
           (SELECT count(*) FROM documents) - (SELECT sum(n) FROM audit)
)
ORDER BY reject_reason
"""


MIRROR_HOSTS_SQL = r"""
WITH RECURSIVE planted AS (
    SELECT source AS host, (doc_id % 20)::INT AS hn,
           (doc_id // 20)::INT AS pg
    FROM documents
), pt AS (
    SELECT host,
           CASE WHEN pg = 0 THEN 'global boilerplate footer'
                WHEN hn % 2 = 1 AND (hn // 2) % 3 = 2 AND pg % 2 = 0
                     THEN 'mirror body ' || (hn // 2) || ' page ' || pg
                          || ' x' || hn
                ELSE 'mirror body ' || (hn // 2) || ' page ' || pg
           END AS text
    FROM planted
), digests AS (SELECT DISTINCT host, md5(text) AS d FROM pt),
sizes AS (SELECT host, count(*) AS n FROM digests GROUP BY host),
usable AS (SELECT d FROM digests GROUP BY d HAVING count(*) BETWEEN 2 AND 8),
dd AS (SELECT dg.host, dg.d FROM digests dg JOIN usable u USING (d)),
pairs AS (
    SELECT a.host AS host_a, b.host AS host_b, count(*) AS shared
    FROM dd a JOIN dd b ON a.d = b.d AND a.host < b.host
    GROUP BY 1, 2
), medges AS (
    SELECT host_a, host_b
    FROM pairs
    JOIN sizes sa ON sa.host = pairs.host_a
    JOIN sizes sb ON sb.host = pairs.host_b
    WHERE shared::DOUBLE / (sa.n + sb.n - shared) >= 0.6
), e AS (
    SELECT host_a AS src, host_b AS dst FROM medges
    UNION
    SELECT host_b, host_a FROM medges
), reach(node, r) AS (
    SELECT src, src FROM e
    UNION
    SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.node
)
SELECT node AS host, min(r) AS cluster_host
FROM reach GROUP BY node
ORDER BY host
"""


def wiki_dump_diff_op(spark: SparkSession, sf: str) -> DataFrame:
    """Dump-over-dump page churn (sources/wikixml.wiki_dump_diff): two
    planted multistream dump versions — v2 drops every 5th page
    (gone), edits every 5th+1's wikitext (changed), renames every
    5th+2's title (changed: a digest-equal page whose title moved must
    NOT read as unchanged), keeps the rest byte-identical (unchanged),
    and adds four brand-new pages (new). Both sides go through the
    real slice-parallel readers; ONE full-outer join on page_id.
    Closed-form oracle."""
    import hashlib
    import os
    import tempfile

    from wc_vector_indexing_spark.sources.wikixml import (
        read_wiki_dump,
        to_wiki_multistream,
        wiki_dump_diff,
    )

    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_wikidiff_{key}")
    done = os.path.join(out, "_DONE")
    paths = {v: (os.path.join(out, f"{v}.xml.bz2"),
                 os.path.join(out, f"{v}-index.txt"))
             for v in ("v1", "v2")}
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        v1, v2 = [], []
        for rnk in range(24):
            page = {"title": f"Doc {rnk}", "ns": 0, "page_id": 100 + rnk,
                    "text": f"Stable body {rnk}."}
            v1.append(page)
            slot = rnk % 5
            if slot == 0:
                continue  # gone in v2
            p2 = dict(page)
            if slot == 1:
                p2["text"] = f"Edited body {rnk}."
            elif slot == 2:
                p2["title"] = f"Doc {rnk} moved"
            v2.append(p2)
        for k in range(4):
            v2.append({"title": f"New {k}", "ns": 0, "page_id": 1000 + k,
                       "text": f"Fresh page {k}."})
        for v, pages in (("v1", v1), ("v2", v2)):
            dump, index = to_wiki_multistream(pages, pages_per_stream=4)
            with open(paths[v][0], "wb") as f:
                f.write(dump)
            with open(paths[v][1], "w", encoding="utf-8") as f:
                f.write(index)
        with open(done, "w") as f:
            f.write("ok")
    old = read_wiki_dump(spark, *paths["v1"])
    new = read_wiki_dump(spark, *paths["v2"])
    return wiki_dump_diff(old, new).orderBy("page_id")


def wiki_link_graph_op(spark: SparkSession, sf: str) -> DataFrame:
    """Wiki article link graph (sources/wikixml.wiki_link_edges): 24
    planted pages each carry a plain link, a piped link written with
    an UNDERSCORED lowercase target (the canonicalization path —
    underscores → spaces, first char uppercased), a section-fragment
    link (fragment dropped), plus a Category: and a commented-out
    link that must NOT edge. Runs through the real multistream
    reader. Direct value match over (src_title, link_no, dst_title).
    The wiki analogue of warc_wat_links."""
    import hashlib
    import os
    import tempfile

    from wc_vector_indexing_spark.sources.wikixml import (
        read_wiki_dump,
        to_wiki_multistream,
        wiki_link_edges,
    )

    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_wikigraph_{key}")
    done = os.path.join(out, "_DONE")
    dump_path = os.path.join(out, "dump.xml.bz2")
    index_path = os.path.join(out, "index.txt")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        pages = []
        for rnk in range(24):
            text = (
                f"See [[Doc {(rnk + 1) % 24}]] and "
                f"[[doc_{(rnk + 2) % 24}|the piped one]] and "
                f"[[Doc {(rnk + 3) % 24}#History|section]]. "
                "[[Category:Planted]] <!-- [[Doc 99]] -->"
            )
            pages.append({"title": f"Doc {rnk}", "ns": 0,
                          "page_id": 100 + rnk, "text": text})
        dump, index = to_wiki_multistream(pages, pages_per_stream=4)
        with open(dump_path, "wb") as f:
            f.write(dump)
        with open(index_path, "w", encoding="utf-8") as f:
            f.write(index)
        with open(done, "w") as f:
            f.write("ok")
    return (
        wiki_link_edges(read_wiki_dump(spark, dump_path, index_path))
        .orderBy("src_title", "link_no")
    )


WIKI_LINK_GRAPH_SQL = r"""
WITH ids AS (SELECT UNNEST(range(24)) AS rnk)
SELECT 'Doc ' || rnk AS src_title,
       link_no,
       'Doc ' || ((rnk + 1 + link_no) % 24) AS dst_title
FROM ids CROSS JOIN (SELECT UNNEST(range(3)) AS link_no)
ORDER BY src_title, link_no
"""


WIKI_DUMP_DIFF_SQL = r"""
WITH ids AS (SELECT UNNEST(range(24)) AS rnk)
SELECT page_id, title, status
FROM (
    SELECT 100 + rnk AS page_id,
           CASE WHEN rnk % 5 = 2 THEN 'Doc ' || rnk || ' moved'
                ELSE 'Doc ' || rnk END AS title,
           CASE rnk % 5 WHEN 0 THEN 'gone' WHEN 1 THEN 'changed'
                WHEN 2 THEN 'changed' ELSE 'unchanged' END AS status
    FROM ids
    UNION ALL
    SELECT 1000 + k, 'New ' || k, 'new'
    FROM (SELECT UNNEST(range(4)) AS k)
)
ORDER BY page_id
"""


def _markup_fixture_rows(spark: SparkSession, sf: str, n: int = 48):
    """Lowest-``n`` docs with text sanitized to single-spaced trimmed
    form, so the markup extractors are exact identity on the planted
    payload (whitespace normalization is theirs to do otherwise)."""
    import re as _re

    rows = (
        load(spark, "documents", sf)
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(n)
        .collect()
    )
    return [(int(r.doc_id), _re.sub(r"\s+", " ", r.text or "").strip())
            for r in rows]


def markdown_corpus_text_op(spark: SparkSession, sf: str) -> DataFrame:
    """Markdown-source extraction (sources/markup.read_markdown_corpus):
    the lowest-48 docs each become one ``.md`` file — ATX heading,
    the REAL text inside a fenced code block (fence content is kept
    verbatim by contract, so the oracle can replay the plant exactly),
    and a trailing link whose URL must be stripped to its text. Direct
    per-document value match. Reference behavior analogue: plain()
    HTML→text (class-indexer.php document assembly) for the markdown
    corpus family."""
    import hashlib
    import os
    import tempfile

    from wc_vector_indexing_spark.sources.markup import read_markdown_corpus

    rows = _markup_fixture_rows(spark, sf)
    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_md_{key}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        for doc_id, t in rows:
            md = (f"# Doc {doc_id}\n\n```text\n{t}\n```\n\n"
                  f"[tail](https://example.com/{doc_id})\n")
            with open(os.path.join(out, f"doc-{doc_id:06d}.md"), "w",
                      encoding="utf-8") as fh:
                fh.write(md)
        with open(done, "w") as f:
            f.write("ok")
    docs = read_markdown_corpus(spark, os.path.join(out, "doc-*.md"))
    return (
        docs.select(
            F.regexp_extract("path", r"doc-(\d+)\.md", 1)
            .cast("long").alias("doc_id"),
            "text",
        )
        .orderBy("doc_id")
    )


MARKDOWN_CORPUS_SQL = r"""
WITH ids AS (
    SELECT doc_id,
           trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')) AS t
    FROM documents ORDER BY doc_id LIMIT 48
)
SELECT doc_id,
       'Doc ' || doc_id || chr(10) || chr(10)
       || CASE WHEN length(t) > 0 THEN t || chr(10) || chr(10) ELSE '' END
       || 'tail' AS text
FROM ids
ORDER BY doc_id
"""


def latex_corpus_text_op(spark: SparkSession, sf: str) -> DataFrame:
    """LaTeX-source extraction (sources/markup.read_latex_corpus): the
    lowest-48 docs each become one ``.tex`` document — preamble (which
    must be DROPPED), a sectioning command whose argument must be
    unwrapped, and the REAL text inside a verbatim environment (kept
    verbatim by contract — so the oracle can replay the plant
    exactly). Direct per-document value match."""
    import hashlib
    import os
    import tempfile

    from wc_vector_indexing_spark.sources.markup import read_latex_corpus

    rows = _markup_fixture_rows(spark, sf)
    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_tex_{key}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        for doc_id, t in rows:
            tex = (
                "\\documentclass{article}\n\\usepackage{amsmath}\n"
                "\\begin{document}\n"
                f"\\section{{Doc {doc_id}}}\n"
                f"\\begin{{verbatim}}\n{t}\n\\end{{verbatim}}\n"
                "\\end{document}\n"
            )
            with open(os.path.join(out, f"doc-{doc_id:06d}.tex"), "w",
                      encoding="utf-8") as fh:
                fh.write(tex)
        with open(done, "w") as f:
            f.write("ok")
    docs = read_latex_corpus(spark, os.path.join(out, "doc-*.tex"))
    return (
        docs.select(
            F.regexp_extract("path", r"doc-(\d+)\.tex", 1)
            .cast("long").alias("doc_id"),
            "text",
        )
        .orderBy("doc_id")
    )


LATEX_CORPUS_SQL = r"""
WITH ids AS (
    SELECT doc_id,
           trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')) AS t
    FROM documents ORDER BY doc_id LIMIT 48
)
SELECT doc_id,
       'Doc ' || doc_id
       || CASE WHEN length(t) > 0 THEN chr(10) || chr(10) || t ELSE '' END
       AS text
FROM ids
ORDER BY doc_id
"""


def ipynb_corpus_cells_op(spark: SparkSession, sf: str) -> DataFrame:
    """Notebook-source extraction (sources/markup.read_ipynb_corpus):
    the lowest-48 docs each become one nbformat-4 notebook with a
    markdown heading cell (de-markup'd on read), a code cell (kept
    verbatim), and a raw cell carrying the REAL text (kept verbatim) —
    one output row per cell in notebook order. Direct value match over
    (doc_id, cell_index, cell_type, text)."""
    import hashlib
    import os
    import tempfile

    from wc_vector_indexing_spark.sources.markup import (
        read_ipynb_corpus,
        to_ipynb_bytes,
    )

    rows = _markup_fixture_rows(spark, sf)
    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_ipynb_{key}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        for doc_id, t in rows:
            nb = to_ipynb_bytes([
                ("markdown", f"# Doc {doc_id}"),
                ("code", f"print({doc_id})"),
                ("raw", t),
            ])
            with open(os.path.join(out, f"doc-{doc_id:06d}.ipynb"),
                      "wb") as fh:
                fh.write(nb)
        with open(done, "w") as f:
            f.write("ok")
    cells = read_ipynb_corpus(spark, os.path.join(out, "doc-*.ipynb"))
    return (
        cells.select(
            F.regexp_extract("path", r"doc-(\d+)\.ipynb", 1)
            .cast("long").alias("doc_id"),
            "cell_index", "cell_type", "text",
        )
        .orderBy("doc_id", "cell_index")
    )


IPYNB_CORPUS_SQL = r"""
WITH ids AS (
    SELECT doc_id,
           trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')) AS t
    FROM documents ORDER BY doc_id LIMIT 48
)
SELECT doc_id, cell_index, cell_type, text
FROM (
    SELECT doc_id, 0 AS cell_index, 'markdown' AS cell_type,
           'Doc ' || doc_id AS text FROM ids
    UNION ALL
    SELECT doc_id, 1, 'code', 'print(' || doc_id || ')' FROM ids
    UNION ALL
    SELECT doc_id, 2, 'raw', t FROM ids
)
ORDER BY doc_id, cell_index
"""


def wikipedia_corpus_text_op(
    spark: SparkSession, sf: str, *, _audit: bool = False
) -> DataFrame:
    """Wikipedia dump extraction (sources/wikixml.read_wiki_pages): the
    lowest-48 docs become ONE pages-articles-multistream dump (4 pages
    per bz2 stream → 12 page streams, so the slice-parallel offset walk
    is driver-validated, not just the parse) plus its offset index.
    Every 6th page is a redirect; the rest carry a heading (unwrapped),
    an infobox template (dropped), the REAL text inside ``<nowiki>``
    (verbatim by contract — the oracle's exact-replay channel), and a
    piped see-also link (reduced to its label). Direct value match over
    (page_id, title, ns, is_redirect, text). Reference behavior
    analogue: plain() HTML→text (class-indexer.php document assembly)
    for the wiki-dump corpus family."""
    import hashlib
    import os
    import tempfile

    from wc_vector_indexing_spark.sources.wikixml import (
        read_wiki_pages,
        to_wiki_multistream,
    )

    rows = _markup_fixture_rows(spark, sf)
    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_wiki_{key}")
    done = os.path.join(out, "_DONE")
    dump_path = os.path.join(out, "pages-multistream.xml.bz2")
    index_path = os.path.join(out, "pages-multistream-index.txt")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        pages = []
        for rnk, (doc_id, t) in enumerate(rows):
            if rnk % 6 == 5:
                pages.append({
                    "title": f"Doc {doc_id}", "ns": 0, "page_id": doc_id,
                    "redirect": "Doc 0", "text": "#REDIRECT [[Doc 0]]",
                })
            else:
                pages.append({
                    "title": f"Doc {doc_id}", "ns": 0, "page_id": doc_id,
                    "text": (f"== Doc {doc_id} ==\n{{{{Infobox|planted}}}}\n"
                             f"<nowiki>{t}</nowiki>\n[[Doc 0|see also]]"),
                })
        dump, index = to_wiki_multistream(pages, pages_per_stream=4)
        with open(dump_path, "wb") as f:
            f.write(dump)
        with open(index_path, "w", encoding="utf-8") as f:
            f.write(index)
        with open(done, "w") as f:
            f.write("ok")
    return _ckpt_sorted(
        read_wiki_pages(spark, dump_path, index_path)
        .select("page_id", "title", "ns", "is_redirect", "text"),
        "page_id",
        audit=_audit,
    )


WIKIPEDIA_CORPUS_SQL = r"""
WITH ids AS (
    SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS rnk,
           trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')) AS t
    FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 48)
)
SELECT doc_id AS page_id,
       'Doc ' || doc_id AS title,
       0::INT AS ns,
       (rnk % 6 = 5) AS is_redirect,
       CASE WHEN rnk % 6 = 5 THEN 'REDIRECT Doc 0'
            ELSE 'Doc ' || doc_id || chr(10) || t || chr(10) || 'see also'
       END AS text
FROM ids
ORDER BY page_id
"""


def docx_corpus_text_op(spark: SparkSession, sf: str) -> DataFrame:
    """DOCX-source extraction (sources/office.read_docx_corpus): the
    lowest-30 doc_ids each become one DOCX whose two paragraphs derive
    from doc_id by arithmetic — paragraph two carries embedded tabs, so
    the w:tab run path is driver-validated too. Written once per sf
    under /tmp, read back through the binaryFile source; planted text
    ⇒ DuckDB oracle reconstructs every row (writer/extractor inversion,
    paragraph join, tab runs, char accounting)."""
    import hashlib
    import os
    import tempfile

    from wc_vector_indexing_spark.sources.office import (
        read_docx_corpus,
        to_docx_bytes,
    )

    ids = [
        int(r[0])
        for r in load(spark, "documents", sf)
        .select("doc_id")
        .orderBy("doc_id")
        .limit(30)
        .collect()
    ]
    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_docx_{key}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        for d in ids:
            paras = [
                f"Planted DOCX paragraph for document {d}.",
                f"Tab\tseparated\tcheck {d}.",
            ]
            with open(os.path.join(out, f"doc_{d}.docx"), "wb") as f:
                f.write(to_docx_bytes(paras))
        with open(done, "w") as f:
            f.write("ok")
    rows = read_docx_corpus(spark, os.path.join(out, "*.docx"))
    return rows.select(
        F.regexp_extract("doc_path", r"doc_(\d+)\.docx", 1)
        .cast("long")
        .alias("doc_id"),
        "text",
        "n_paragraphs",
        "n_chars",
    ).orderBy("doc_id")


DOCX_CORPUS_SQL = r"""
WITH ids AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 30)
SELECT doc_id,
       'Planted DOCX paragraph for document ' || doc_id || '.' || chr(10) ||
       'Tab' || chr(9) || 'separated' || chr(9) || 'check ' || doc_id || '.'
           AS text,
       2 AS n_paragraphs,
       length('Planted DOCX paragraph for document ' || doc_id || '.' ||
              chr(10) || 'Tab' || chr(9) || 'separated' || chr(9) ||
              'check ' || doc_id || '.')::INT AS n_chars
FROM ids
ORDER BY doc_id
"""


def epub_corpus_text_op(spark: SparkSession, sf: str) -> DataFrame:
    """EPUB-source extraction (sources/office.read_epub_corpus): the
    lowest-24 doc_ids become 6 four-chapter EPUBs (chapter text derives
    from doc_id by arithmetic). The reader must return chapters in
    SPINE order, not zip order — the writer emits spine entries in
    chapter order, so the (epub_no, chapter_no) grid is the planted
    truth and the DuckDB oracle reconstructs every row."""
    import hashlib
    import os
    import tempfile

    from wc_vector_indexing_spark.sources.office import (
        read_epub_corpus,
        to_epub_bytes,
    )

    ids = [
        int(r[0])
        for r in load(spark, "documents", sf)
        .select("doc_id")
        .orderBy("doc_id")
        .limit(24)
        .collect()
    ]
    key = hashlib.sha256(os.path.realpath(sf).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wcvi_epub_{key}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        for k in range(0, len(ids), 4):
            chapters = [
                f"Planted EPUB chapter for document {d}. Spine order check {d}."
                for d in ids[k : k + 4]
            ]
            with open(os.path.join(out, f"book_{k // 4}.epub"), "wb") as f:
                f.write(to_epub_bytes(chapters, title=f"book {k // 4}"))
        with open(done, "w") as f:
            f.write("ok")
    rows = read_epub_corpus(spark, os.path.join(out, "*.epub"))
    return rows.select(
        F.regexp_extract("epub_path", r"book_(\d+)\.epub", 1)
        .cast("int")
        .alias("epub_no"),
        "chapter_no",
        "text",
        "n_chars",
    ).orderBy("epub_no", "chapter_no")


EPUB_CORPUS_SQL = r"""
WITH ids AS (
    SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS rnk
    FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 24)
)
SELECT (rnk // 4)::INT AS epub_no,
       (rnk % 4)::INT AS chapter_no,
       'Planted EPUB chapter for document ' || doc_id ||
       '. Spine order check ' || doc_id || '.' AS text,
       length('Planted EPUB chapter for document ' || doc_id ||
              '. Spine order check ' || doc_id || '.')::INT AS n_chars
FROM ids
ORDER BY epub_no, chapter_no
"""


REGISTRY: dict[str, QuerySpec] = {
    # --- driver-gate tier: the first 50 oracle-backed entries are the
    # --- ones the per-round correctness gate records; ordered to cover
    # --- every operator category (TPC-H core, scans/joins, dedup family,
    # --- text quality, training-data pipeline). Everything after the
    # --- cutoff is equally oracle-backed and verified each round by
    # --- tools/parity_check.py over ALL entries.

    "q1_pricing_summary": QuerySpec(q1_pricing_summary, Q1_SQL, "TPC-H Q1 wide aggregation"),
    "q3_shipping_priority": QuerySpec(q3_shipping_priority, Q3_SQL, "3-way join + agg + top-10"),
    "s3_never_synced": QuerySpec(s3_never_synced, S3_SQL, "anti-join initial-sync scan"),
    # newest oracle-backed entries sit INSIDE the gated window (round-4
    # advisor rule: fresh operators get driver-gate visibility; the
    # long-stable j8/a1/k2 rows moved below the cutoff in exchange)
    "bm25_search": QuerySpec(bm25_search_op, BM25_SQL, "BM25 lexical top-10 retrieval"),
    "bm25_anchor_search": QuerySpec(
        bm25_anchor_search_op, BM25_ANCHOR_SQL,
        "anchor-boosted retrieval: per-zone BM25 (body + incoming "
        "anchor text) with weighted zone combination"
    ),
    "retrieval_eval": QuerySpec(
        retrieval_eval_op, RETRIEVAL_EVAL_SQL,
        "TREC-style retrieval quality metrics: recall@k / MRR / nDCG "
        "per query over planted results and graded qrels"
    ),
    # r9 window rotation: the two MP3 full-decode entries (never
    # driver-recorded) promoted; ogg_page_census + webp_dims_census
    # (both recorded r8) demoted to the tail in exchange.
    "mp3_pcm_census": QuerySpec(
        mp3_pcm_census_op, MP3_PCM_CENSUS_SQL,
        "MPEG-1 Layer III full decode to PCM: structural + dominant-frequency census (planted-truth oracle)"
    ),
    "audio_dedup_mp3": QuerySpec(
        audio_dedup_mp3_op, AUDIO_DEDUP_MP3_SQL,
        "fingerprint dedup over real Layer III streams through the decode seam (planted-truth oracle)"
    ),
    # r10 window rotation: mp3_lsf_census (new, never driver-recorded)
    # promoted; importance_weights (recorded r9) slides below the
    # 50-entry cutoff in exchange.
    "mp3_lsf_census": QuerySpec(
        mp3_lsf_census_op, MP3_LSF_CENSUS_SQL,
        "MPEG-2/2.5 LSF Layer III full decode at all six low rates (planted-truth oracle)"
    ),
    # r13 window rotation: event_pagerank (recorded r8-r12) demoted
    # below the cutoff in exchange for checkpoint_completeness; the
    # graph family stays in-window via host_pagerank/host_trustrank.
    # r9 window rotation: feed_discovery (never driver-recorded, the
    # crawl front door upgraded from streaming-only to oracle-backed)
    # promoted; flac_streaminfo_census (recorded r8) demoted in
    # exchange.
    # r8 window rotation: dedup_embedding_lsh (upgraded rows-only→oracle
    # via embedded planes, never driver-recorded) promoted;
    # psl_registrable_domain (recorded) demoted to the tail in exchange.
    "dedup_embedding_lsh": QuerySpec(
        dedup_embedding_lsh,
        _dedup_embedding_lsh_sql(),
        "auto-LSH-blocked cosine pairs (embedded-planes oracle)",
    ),
    # round 7: the seven event-family oracle-backed entries below had
    # never been driver-recorded (they sat below the cutoff since their
    # round-2/3 introduction) — promoted into the window per the
    # never-recorded-subset invariant, now enforced MECHANICALLY by
    # tests/test_plans.py::test_gate_window_contains_never_recorded
    # (r6-validated hard_negatives/token_fertility/corpus_drift/
    # embedding_outliers/unicode_normalize/training_triplets/
    # ccnet_buckets/corpus_diff/lexical_diversity/url_features rotated
    # below in exchange)
    # r8 window rotation: chunk_documents (upgraded rows-only→oracle via
    # the recursive-CTE regime replay, never driver-recorded) promoted;
    # doc_fingerprint (recorded r7) demoted to the tail in exchange.
    # late-r8 window rotation: the two new media-census entries (never
    # driver-recorded) promoted; events_json + quantiles_by_type
    # (recorded r7) demoted to the tail in exchange.
    # r9 window rotation: warc_cdx_index (never driver-recorded, the
    # web-archive random-access index) promoted; aac_adts_census
    # (recorded r8) demoted to the tail in exchange.
    # r10 window rotation: warc_revisit_resolve (new, never
    # driver-recorded) promoted; gopher_quality (recorded r9) slides
    # below the 50-entry cutoff in exchange.
    "warc_revisit_resolve": QuerySpec(
        warc_revisit_resolve_op, WARC_REVISIT_RESOLVE_SQL,
        "as-of digest resolution of CDX revisit rows incl. planted time-wrap negatives (planted-truth oracle)"
    ),
    # r13 window rotation (session 2): archive_point_replay (new, never
    # driver-recorded — index → pruned ranged fetch → plain text, the
    # point-query composition) promoted; chunk_documents (recorded
    # r8-r12) slides below the 50-entry cutoff in exchange.
    "archive_point_replay": QuerySpec(
        archive_point_replay_op, ARCHIVE_REPLAY_SQL,
        "point-query replay: CDX index rows pruned BEFORE any archive "
        "byte is read, ranged fetch, P2 plain-text strip + token "
        "count (closed-form oracle)"
    ),
    # r13 window rotation (session 2): gguf_tokenizer_encode (new,
    # never driver-recorded — token budgeting with the model's own
    # embedded vocabulary) promoted; warc_cdx_index (recorded r9-r12;
    # the CDX family stays in-window via cdx_random_access_fetch +
    # archive_point_replay) slides below the cutoff in exchange.
    "gguf_tokenizer_encode": QuerySpec(
        gguf_tokenizer_encode_op, GGUF_TOKENIZER_SQL,
        "embedded-tokenizer extraction from GGUF metadata + unigram "
        "Viterbi encode of the corpus with the model's own vocab "
        "(closed-form oracle)"
    ),
    # r10 window rotation: warc_dedup_write (new, never driver-recorded)
    # promoted; subtitle_cues (recorded r9) slides below the 50-entry
    # cutoff in exchange (c4_line_filter stays: the curation-family
    # anchor rule needs one of c4/gopher/importance in the window).
    # r10 window rotation: cdx_snapshot_diff (new, never driver-recorded)
    # promoted; jsonld_extract (recorded r9) slides below the cutoff in
    # exchange.
    # r13 window rotation (session 2): cdx_random_access_fetch (new,
    # never driver-recorded — the ranged record fetch closing the CDX
    # loop) promoted; cdx_snapshot_diff (recorded r10-r12) slides
    # below the 50-entry cutoff in exchange.
    "cdx_random_access_fetch": QuerySpec(
        cdx_random_access_fetch_op, CDX_FETCH_SQL,
        "CDX locator → seek + single-member gunzip record fetch over "
        "member-per-record .warc.gz (closed-form oracle)"
    ),
    # r11 window rotation: crawl_to_training_set (new, never
    # driver-recorded — the end-to-end crawl composition the r10
    # verdict ranked #1) promoted; parquet_footer_census (recorded
    # r8 + r10) slides below the 50-entry cutoff in exchange.
    "crawl_to_training_set": QuerySpec(
        crawl_to_training_set_op, _crawl_to_training_sql(),
        "raw WARC bytes → CDX/revisit-resolve/writer-dedup → main text → curate → split summary, one lazy program (planted-truth oracle)",
        audit_fn=lambda spark, sf: _crawl_training_program(spark, sf)[0],
    ),
    "wiki_to_training_set": QuerySpec(
        wiki_to_training_set_op, _wiki_to_training_sql(),
        "multistream dump bytes → slice-parallel extract → crawl "
        "decontamination anti-join → curate → split summary, one lazy "
        "program (planted-truth oracle)",
        audit_fn=lambda spark, sf: _wiki_training_program(spark, sf)[0],
    ),
    # r11 window rotation: lang_id_ngram (new, never driver-recorded —
    # the 14-language/7-script crawl router the r10 verdict ranked #4)
    # promoted; compressed_frame_census (recorded r8 + r10) slides
    # below the 50-entry cutoff in exchange.
    "lang_id_ngram": QuerySpec(
        lang_id_ngram_op, _lang_id_ngram_sql(),
        "char-n-gram language ID: script gate + Latin marker profiles, 14 langs / 7 scripts (planted-truth oracle)"
    ),
    "session_window_events": QuerySpec(
        session_window_events, SESSION_WINDOW_SQL, "native session_window gap sessions"
    ),
    # r9 window rotation: video_dedup_requant (never driver-recorded,
    # the quality-re-encode case the exact signature join misses)
    # promoted; mp4_box_census (recorded r8) demoted to the tail.
    "video_dedup_requant": QuerySpec(
        video_dedup_requant_op, VIDEO_REQUANT_SQL,
        "quality-re-encode video dedup via per-position banded Hamming join (planted-truth oracle)"
    ),
    # round 7: new oracle-backed entries (never recorded ⇒ in-window)
    # (code_detect and heavy_hitters, recorded through r10, moved
    # below the cutoff in the session-3 Arrow IPC rotation)
    # r11 window rotation (session 2): the three new interchange-format
    # sources (never driver-recorded) promoted — TFRecord, WebDataset,
    # Avro; mp3_frame_census (recorded r5-r10), feed_entries and
    # sitemap_urls (both recorded r8-r10) slide below the cutoff in
    # exchange (media family keeps the mp3 full-decode entries +
    # image/audio/video dedup; sources family keeps warc_corpus_text,
    # mbox_corpus_text and archive_member_census in-window).
    "tfrecord_roundtrip": QuerySpec(
        tfrecord_roundtrip_op, TFRECORD_SQL,
        "TFRecord sink/source: tf.train.Example + masked-CRC32C framing "
        "roundtrip census (planted-truth oracle)"
    ),
    # r11 window rotation (session 2, cont.): tfrecord_export_roundtrip
    # (new, never driver-recorded — the executor-side distributed
    # writer path) promoted; warc_corpus_text (recorded r8-r10) slides
    # below the cutoff in exchange.
    "tfrecord_export_roundtrip": QuerySpec(
        tfrecord_export_roundtrip_op, TFRECORD_EXPORT_SQL,
        "distributed TFRecord write (one shard per task) read back and "
        "reconciled against the source relation"
    ),
    "webdataset_samples": QuerySpec(
        webdataset_samples_op, WEBDATASET_SQL,
        "WebDataset tar-shard sample grouping census (planted-truth oracle)"
    ),
    # r11 window rotation (session 2, cont.): the two remaining
    # distributed-writer paths gated — webdataset_export_roundtrip +
    # avro_export_roundtrip (never driver-recorded); jpeg_lossless_census
    # and audio_overlap_partial (both recorded r9-r10) slide below the
    # cutoff in exchange (media family keeps image_dedup_dhash/
    # image_dedup_arith/audio_dedup_fp/video_dedup_remux plus the mp3
    # decode entries in-window).
    "webdataset_export_roundtrip": QuerySpec(
        webdataset_export_roundtrip_op, WEBDATASET_EXPORT_SQL,
        "distributed WebDataset tar write (one shard per task) read back "
        "and reconciled against the source relation"
    ),
    # r13 window rotation (session 2): checkpoint_param_drift (new,
    # never driver-recorded — the cross-format safetensors→GGUF
    # checkpoint diff audit) promoted; avro_export_roundtrip (recorded
    # r11-r12; the avro family stays in-window via avro_corpus_census)
    # slides below the 50-entry cutoff in exchange.
    "checkpoint_param_drift": QuerySpec(
        checkpoint_param_drift_op, CHECKPOINT_DRIFT_SQL,
        "cross-format checkpoint drift: safetensors v1 vs GGUF v2 "
        "full-outer diff with exact planted deltas (added/removed/"
        "reshaped/changed/unchanged; closed-form oracle)"
    ),
    "avro_corpus_census": QuerySpec(
        avro_corpus_census_op, AVRO_CENSUS_SQL,
        "Avro object-container source: zigzag/union/array decode census "
        "(planted-truth oracle)"
    ),
    # r11 window rotation (session 2, cont.): unigram_seed_census (new,
    # never driver-recorded — the distributed half of unigram-LM
    # tokenizer training) promoted; mbox_corpus_text (recorded r8-r10)
    # slides below the cutoff in exchange.
    "unigram_seed_census": QuerySpec(
        unigram_seed_census_op, UNIGRAM_SEED_SQL,
        "unigram-LM tokenizer candidate seeding: word-count cap + "
        "substring explode + frequency-length scoring (replayed-chain oracle)"
    ),
    # r11 window rotation (session 4): wordpiece_pair_scores (new,
    # never driver-recorded — the distributed likelihood-score half of
    # WordPiece training, integer-exact) promoted; dedup_survivors
    # (recorded r8-r10) slides below the cutoff in exchange (dedup
    # family keeps minhash/incremental/jaccard/clusters in-window).
    "wordpiece_pair_scores": QuerySpec(
        wordpiece_pair_scores_op, WORDPIECE_PAIRS_SQL,
        "WordPiece pair-likelihood table: ##-symbol split + integer "
        "score div, full-chain replayed oracle"
    ),
    # r11 window rotation (session 3): the Arrow IPC (Feather V2)
    # interchange pair (new, never driver-recorded) promoted —
    # arrow_ipc_census pins the wire format across both encodings and
    # three compressions, arrow_ipc_export_roundtrip pins the
    # executor-side one-shard-per-task writer; heavy_hitters (recorded
    # r9-r10) and code_detect (recorded r6-r10) slide below the cutoff
    # in exchange (text-profile family keeps c4_line_filter +
    # gopher_quality in-window).
    "arrow_ipc_census": QuerySpec(
        arrow_ipc_census_op, ARROW_IPC_CENSUS_SQL,
        "Arrow IPC source: file+stream encodings, zstd/lz4/none "
        "compression, batch chunking census (planted-truth oracle)"
    ),
    "arrow_ipc_export_roundtrip": QuerySpec(
        arrow_ipc_export_roundtrip_op, ARROW_IPC_EXPORT_SQL,
        "distributed Arrow IPC write (one zstd shard per task) read "
        "back and reconciled against the source relation"
    ),
    # r11 window rotation (session 3, cont.): the markup source family
    # (new, never driver-recorded) promoted — markdown, LaTeX, and
    # Jupyter-notebook text extraction, each a direct per-document
    # value match over planted-truth fixtures; robots_txt_gate
    # (recorded r7-r10), knn_lsh_top10 (recorded r8-r10) and
    # fuzzy_self_join (recorded r5-r10) slide below the cutoff in
    # exchange (dedup family keeps minhash/survivors/incremental +
    # the ngram entries in-window; retrieval keeps bm25/mmr).
    "markdown_corpus_text": QuerySpec(
        markdown_corpus_text_op, MARKDOWN_CORPUS_SQL,
        "Markdown-source text extraction: headings/links/emphasis "
        "stripped, fences verbatim (planted-truth oracle)"
    ),
    "latex_corpus_text": QuerySpec(
        latex_corpus_text_op, LATEX_CORPUS_SQL,
        "LaTeX-source text extraction: preamble dropped, sections "
        "unwrapped, verbatim kept (planted-truth oracle)"
    ),
    "ipynb_corpus_cells": QuerySpec(
        ipynb_corpus_cells_op, IPYNB_CORPUS_SQL,
        "Jupyter-notebook cell extraction: markdown de-markup'd, "
        "code/raw verbatim, notebook order (planted-truth oracle)"
    ),
    # session-3 r8 window rotation: image_dedup_arith (never
    # driver-recorded, SOF9 QM decode) promoted; pdf_corpus_text
    # (recorded r7) demoted to the tail in exchange.
    # session-3 r8 window rotation: compressed_frame_census (never
    # driver-recorded) promoted; docx_corpus_text (recorded r7) demoted
    # to the tail in exchange.
    # session-3 r8 window rotation: parquet_footer_census (never
    # driver-recorded) promoted; epub_corpus_text (recorded r7) demoted
    # to the tail in exchange.
    # session-3 r8 window rotation: subtitle_cues (never
    # driver-recorded) promoted; image_dedup_progressive (recorded r7)
    # demoted to the tail in exchange.
    # r11 window rotation (amended): the original exchange demoted
    # c4_line_filter for corrupt_media_quarantine, which left the
    # curation family unrepresented in the gate window
    # (test_driver_gate_category_coverage). c4_line_filter returns;
    # wet_roundtrip (recorded r8-r10; the sources family keeps
    # warc_corpus_text, mbox_corpus_text, feed_entries, sitemap_urls
    # and archive_member_census in-window) moves below the cutoff
    # instead.
    "c4_line_filter": QuerySpec(
        c4_line_filter_op, C4_SQL, "C4 line-level cleaning stats"
    ),
    "dedup_ngram_jaccard": QuerySpec(dedup_ngram_jaccard, NGRAM_JACCARD_SQL, "n-gram jaccard pairs"),
    "dedup_clusters": QuerySpec(dedup_clusters, DEDUP_CLUSTERS_SQL, "near-dup connected components"),
    # r11 window rotation (session 4): warc_wat_links (new, never
    # driver-recorded — WAT metadata sidecar + link-graph edges over
    # real WARC bytes) promoted; dedup_ngram_containment (recorded
    # r8-r10) slides below the 50-entry cutoff in exchange.
    "warc_wat_links": QuerySpec(
        warc_wat_links_op, WARC_WAT_SQL,
        "WAT metadata generation: title/meta/link harvest + exploded "
        "link-graph edges over real WARCs (planted-truth oracle)"
    ),
    # r11 window rotation (session 4): parquet_column_stats (new,
    # never driver-recorded — the footer min/max bounds file skipping
    # consults) promoted; dedup_minhash_lsh (recorded r8-r10) slides
    # below the 50-entry cutoff in exchange (dedup family keeps
    # jaccard/clusters/exact + the embedding-LSH entry in-window).
    "parquet_column_stats": QuerySpec(
        parquet_column_stats_op, PARQUET_STATS_SQL,
        "per-row-group parquet column min/max/null stats from the "
        "footer (real pyarrow writer, closed-form oracle)"
    ),
    # r11 window rotation (session 4): host_link_graph +
    # anchor_text_index (new, never driver-recorded — the WAT-derived
    # host graph and anchor-text retrieval signal) promoted;
    # training_data_pipeline (recorded r8-r10) and dedup_incremental
    # (recorded r8-r10) slide below the 50-entry cutoff in exchange.
    "host_link_graph": QuerySpec(
        host_link_graph_op, HOST_LINK_GRAPH_SQL,
        "host-level link graph from WAT links: cross-host + self edges, "
        "mailto dropped (planted-truth oracle)"
    ),
    "anchor_text_index": QuerySpec(
        anchor_text_index_op, ANCHOR_TEXT_SQL,
        "per-target anchor-text argmax with tie-break + ref counts "
        "(planted-truth oracle)"
    ),
    # r11 window rotation (session 4): wiki_link_graph (new, never
    # driver-recorded — article-graph edges with MediaWiki title
    # canonicalization) promoted; warc_dedup_write (recorded r10;
    # the archive family keeps cdx/revisit/wat entries in-window)
    # slides below the cutoff in exchange.
    # r11 window rotation (session 4): wiki_dump_diff (new, never
    # driver-recorded — dump-over-dump churn through the slice-parallel
    # readers) promoted; c4_line_filter stays per the category pin, so
    # j7_priority_union (recorded r8-r10) slides below the cutoff in
    # exchange.
    # r11 window rotation (session 4): host_pagerank (new, never
    # driver-recorded — WARC → WAT → host graph → PageRank, one lazy
    # composition of green operators) promoted; audio_dedup_fp
    # (recorded r8-r10; media family keeps image_dedup_dhash and the
    # censuses in-window) slides below the cutoff in exchange.
    "host_pagerank": QuerySpec(
        host_pagerank_op, _host_pagerank_sql(),
        "crawl-frontier domain ranking: WAT host graph through 5 "
        "PageRank rounds (chained-CTE replay oracle)"
    ),
    "host_trustrank": QuerySpec(
        host_trustrank_op, _host_trustrank_sql(),
        "seed-personalized TrustRank over the WAT host graph (trust "
        "flows out of curated seeds and decays with link distance)"
    ),
    "curation_with_host_prior": QuerySpec(
        curation_with_host_prior_op, _curation_host_prior_sql(),
        "CCNet-style host prior: WAT PageRank + reputation blocklist "
        "gate/re-weight documents before the per-document gates",
        audit_fn=_curation_host_prior_audit,
    ),
    # r13 window rotation (session 2): gguf_tensor_census +
    # gguf_export_roundtrip (new, never driver-recorded — the
    # llama.cpp-side checkpoint container joining the safetensors
    # interchange family) promoted; recrawl_priority +
    # crawl_ops_pipeline (both recorded r12) slide below the 50-entry
    # cutoff in exchange.
    "gguf_tensor_census": QuerySpec(
        gguf_tensor_census_op, GGUF_CENSUS_SQL,
        "headers-only GGUF tensor inventory over writer + hand-built "
        "shards incl. block-quant (Q8_0/Q4_0/Q6_K) sizes from the "
        "public ggml table (closed-form oracle)"
    ),
    "gguf_export_roundtrip": QuerySpec(
        gguf_export_roundtrip_op, GGUF_EXPORT_SQL,
        "distributed GGUF embedding export + header-walk read-back, "
        "value-exact against the embeddings table (scalar checksum "
        "fold — driver-hasher contract)"
    ),
    # r13 window rotation (session 2): zipnum_prefix_lookup (new, never
    # driver-recorded — the ZipNum cluster.idx block-pruned CDX(J)
    # consumption path, the read side of warc_cdx_index) promoted;
    # frontier_schedule (recorded r12) slides below the 50-entry
    # cutoff in exchange.
    "zipnum_prefix_lookup": QuerySpec(
        zipnum_prefix_lookup_op, ZIPNUM_LOOKUP_SQL,
        "ZipNum CDX(J) prefix lookup: cluster.idx range-pruned block "
        "fetch over the distributed sorted-shard writer (closed-form "
        "oracle)"
    ),
    # r13 window rotation: mirror_hosts (recorded r12) demoted below
    # the cutoff in exchange for safetensors_tensor_census; the mirror
    # family stays in-window via curation_with_mirrors.
    # r11 window rotation (session 4): wikipedia_corpus_text (new, never
    # driver-recorded — the multistream wiki-dump source with
    # slice-parallel bz2 offset walk + wikitext extraction) promoted;
    # window_dedup (recorded r8-r10) slides below the 50-entry cutoff
    # in exchange.
    "safetensors_export_roundtrip": QuerySpec(
        safetensors_export_roundtrip_op, SAFETENSORS_EXPORT_SQL,
        "distributed safetensors embedding-matrix export + read-back, "
        "value-exact against the embeddings table (scalar checksum "
        "fold — driver-hasher contract)"
    ),
    # r13 window rotation: safetensors_bf16_roundtrip (new, never
    # driver-recorded — the BF16 checkpoint-interchange path) promoted;
    # the tail entry at the old #50 (image_dedup_dhash, recorded
    # r8-r12) slides below the cutoff in exchange.
    "safetensors_bf16_roundtrip": QuerySpec(
        safetensors_bf16_roundtrip_op, SAFETENSORS_BF16_SQL,
        "BF16 safetensors shard write + bits<<16 read-back over "
        "bf16-exact planted vectors (closed-form oracle)"
    ),
    # r13 window rotation: curation_with_mirrors (new, never
    # driver-recorded — mirror detection composed into the curation
    # gate chain per the r12 verdict's #5) promoted; archive_member_
    # census (recorded r8-r12) slides below the cutoff in exchange.
    "curation_with_mirrors": QuerySpec(
        curation_with_mirrors_op, _curation_mirrors_sql(),
        "mirror-host clusters gate the curation chain wholesale "
        "(reason mirror_host) before content dedup (replayed oracle)",
        audit_fn=_curation_mirrors_audit,
    ),
    # r13 window rotation: safetensors_tensor_census (new, never
    # driver-recorded — the headers-only checkpoint inventory across
    # all four itemsize classes incl. hand-built FP8 shards) promoted;
    # the next recorded tail entry slides below the cutoff in exchange.
    "safetensors_tensor_census": QuerySpec(
        safetensors_tensor_census_op, SAFETENSORS_CENSUS_SQL,
        "headers-only checkpoint tensor inventory over writer + "
        "hand-built BF16/FP8 shards (closed-form oracle)"
    ),
    # r13 window rotation: checkpoint_completeness (new, never
    # driver-recorded — the HF index-vs-shards audit) promoted; the
    # next recorded tail entry slides below the cutoff in exchange.
    "checkpoint_completeness": QuerySpec(
        checkpoint_completeness_op, CHECKPOINT_COMPLETENESS_SQL,
        "sharded-checkpoint index audit: ok/missing/misplaced/"
        "unindexed via broadcast full-outer join (closed-form oracle)"
    ),
    # demoted r13 session 2 (all recorded) — see the gguf/zipnum/drift/
    # fetch/replay rotations above
    "chunk_documents": QuerySpec(
        chunk_documents_op,
        CHUNK_DOCUMENTS_SQL,
        "deterministic chunker (recursive-CTE regime oracle)",
    ),
    "warc_cdx_index": QuerySpec(
        warc_cdx_index_op, WARC_CDX_SQL,
        "CDX(J) index generation: SURT keys + byte offsets over real WARCs (planted-truth oracle)",
        audit_fn=_audit_variant(warc_cdx_index_op),
    ),
    "cdx_snapshot_diff": QuerySpec(
        cdx_snapshot_diff_op, CDX_SNAPSHOT_DIFF_SQL,
        "crawl-over-crawl churn: new/gone/changed/unchanged per urlkey from two CDX snapshots"
    ),
    "avro_export_roundtrip": QuerySpec(
        avro_export_roundtrip_op, AVRO_EXPORT_SQL,
        "distributed Avro container write (schema derived, one container "
        "per task) read back and reconciled against the source relation"
    ),
    "frontier_schedule": QuerySpec(
        frontier_schedule_op, FRONTIER_SCHEDULE_SQL,
        "polite crawl-frontier scheduling: per-host priority slots x "
        "robots crawl-delay, host-affine fetcher assignment"
    ),
    "recrawl_priority": QuerySpec(
        recrawl_priority_op, RECRAWL_PRIORITY_SQL,
        "change-rate refresh priority from capture history (expected "
        "missed changes; feeds frontier scheduling)"
    ),
    "crawl_ops_pipeline": QuerySpec(
        crawl_ops_pipeline_op, CRAWL_OPS_SQL,
        "crawl ops end to end: robots parse+gate + Crawl-delay -> "
        "change-rate priority -> polite host-affine schedule, one "
        "lazy program"
    ),
    "event_pagerank": QuerySpec(
        event_pagerank_op, PAGERANK_SQL, "transition-graph weighted PageRank (5 rounds)"
    ),
    "mirror_hosts": QuerySpec(
        mirror_hosts_op, MIRROR_HOSTS_SQL,
        "mirror-site clusters: digest-set Jaccard over host pairs "
        "(boilerplate-capped evidence) + connected components"
    ),
    "archive_member_census": QuerySpec(
        archive_member_census_op, ARCHIVE_CENSUS_SQL,
        "tar/zip archive-source member census (planted-truth oracle)"
    ),
    "image_dedup_dhash": QuerySpec(
        image_dedup_op, IMAGE_DEDUP_SQL,
        "perceptual dHash image near-dup pairs (planted-truth oracle)"
    ),
    "wiki_link_graph": QuerySpec(
        wiki_link_graph_op, WIKI_LINK_GRAPH_SQL,
        "wiki article link graph: canonicalized targets, fragments "
        "dropped, category/comment links excluded (closed-form oracle)"
    ),
    "wiki_dump_diff": QuerySpec(
        wiki_dump_diff_op, WIKI_DUMP_DIFF_SQL,
        "wiki dump version diff: new/gone/changed/unchanged incl. the "
        "title-moved case (closed-form oracle)"
    ),
    "wikipedia_corpus_text": QuerySpec(
        wikipedia_corpus_text_op, WIKIPEDIA_CORPUS_SQL,
        "MediaWiki multistream dump: slice-parallel bz2 walk + wikitext "
        "→ text with redirect flags (planted-truth oracle)",
        audit_fn=_audit_variant(wikipedia_corpus_text_op),
    ),
    # r11 window rotation (session 4): zstd_jsonl_corpus (new, never
    # driver-recorded — the .zst JSONL front door the decoder exists
    # for) promoted; feed_discovery (recorded r9-r10) slides below the
    # cutoff in exchange.
    "zstd_jsonl_corpus": QuerySpec(
        zstd_jsonl_corpus_op, ZSTD_JSONL_SQL,
        ".zst JSONL shards through the pure-Python decoder + JVM-side "
        "JSON extraction (raw-text identity oracle)"
    ),
    # r11 window rotation (session 4): zstd_decode_roundtrip (new,
    # never driver-recorded — the full RFC 8878 entropy decode against
    # the independent libzstd writer) promoted; image_dedup_arith
    # (recorded r8-r10; the perceptual family keeps image_dedup_dhash
    # in-window per the category pin) slides below the cutoff.
    "zstd_decode_roundtrip": QuerySpec(
        zstd_decode_roundtrip_op, ZSTD_DECODE_SQL,
        "pure-Python RFC 8878 zstd decode of libzstd output at 4 "
        "levels (byte-exact text oracle)"
    ),
    # r11 window rotation (session 4): aiff_au_census (new, never
    # driver-recorded — the AIFF extended-float + AU header reads)
    # promoted; mmr_rerank_top10 (recorded r8-r10; retrieval family
    # keeps bm25_search in-window) slides below the cutoff in exchange.
    "aiff_au_census": QuerySpec(
        aiff_au_census_op, AIFF_AU_CENSUS_SQL,
        "AIFF/AIFC + Sun AU triage incl. 80-bit extended rate and the "
        "AU unknown-size sentinel (planted-truth oracle)"
    ),
    # r11 window rotation (session 4): tiff_ifd_census +
    # exif_metadata_census (new, never driver-recorded — the TIFF IFD
    # walk and the JPEG/APP1 Exif camera-metadata read) promoted;
    # exact_substring_removal (recorded r8-r10) and curation_pipeline
    # (recorded r5-r10) slide below the 50-entry cutoff in exchange.
    "tiff_ifd_census": QuerySpec(
        tiff_ifd_census_op, TIFF_CENSUS_SQL,
        "TIFF IFD-chain triage: both byte orders, offset heap, "
        "multi-page counts (planted-truth oracle)",
        audit_fn=_audit_variant(tiff_ifd_census_op),
    ),
    "exif_metadata_census": QuerySpec(
        exif_metadata_census_op, EXIF_CENSUS_SQL,
        "JPEG/Exif APP1 camera metadata incl. the absent-segment path "
        "(planted-truth oracle)"
    ),
    # r11 window rotation: host_reputation (new, never driver-recorded —
    # the domain-blocklist aggregate stage) promoted; quality_classifier
    # (recorded r8-r10) slides below the 50-entry cutoff in exchange.
    "host_reputation": QuerySpec(
        host_reputation_op, HOST_REPUTATION_SQL,
        "per-host page/dup-rate/quality aggregates + block decision "
        "(planted boilerplate oracle)"
    ),
    # r11 window rotation: corrupt_media_quarantine (new, never
    # driver-recorded — end-to-end decode-front-door quarantine with
    # PNG chunk-CRC detection) promoted; c4_line_filter (recorded
    # r5-r10) slides below the 50-entry cutoff in exchange.
    "corrupt_media_quarantine": QuerySpec(
        corrupt_media_quarantine_op, CORRUPT_MEDIA_QUARANTINE_SQL,
        "mixed clean/corrupt media through the marked decode path: "
        "decoded / crc_detected / quarantined counts (planted-truth oracle)"
    ),
    # demoted in the session-3 Arrow IPC rotation (both recorded
    # through r10; parity_check still verifies them every round)
    "code_detect": QuerySpec(
        code_detect_op, CODE_DETECT_SQL,
        "code-vs-prose routing features + flag, integer-only codegen (direct SQL oracle)"
    ),
    "heavy_hitters": QuerySpec(
        heavy_hitters_op, HEAVY_HITTERS_SQL,
        "exact heavy hitters via two-pass Misra-Gries (uncapped GROUP BY oracle)"
    ),
    # demoted in the session-3 markup-source rotation (all recorded
    # through r10; parity_check still verifies them every round)
    "robots_txt_gate": QuerySpec(
        robots_txt_gate_op, ROBOTS_GATE_SQL,
        "RFC 9309 robots.txt parse + longest-match crawl gate (planted-truth oracle)"
    ),
    "fuzzy_self_join": QuerySpec(
        fuzzy_join_op, FUZZY_JOIN_SQL, "edit-distance self-join (symmetric-delete blocked)"
    ),
    "knn_lsh_top10": QuerySpec(
        knn_lsh_op, _knn_lsh_sql(), "LSH-bucketed ANN (embedded-planes oracle)"
    ),
    "subtitle_cues": QuerySpec(
        subtitle_cues_op, SUBTITLE_CUES_SQL,
        "SRT/WebVTT subtitle-cue extraction (planted-truth oracle)"
    ),
    "jsonld_extract": QuerySpec(
        jsonld_extract_op, JSONLD_SQL,
        "schema.org JSON-LD metadata extraction, pure Catalyst (planted-truth oracle)"
    ),
    "gopher_quality": QuerySpec(
        gopher_quality_op, GOPHER_SQL, "Gopher document-rule filter"
    ),
    "importance_weights": QuerySpec(
        importance_weights_op, IMPORTANCE_SQL, "DSIR hashed-unigram importance weights"
    ),
    # r11 window rotation: demoted here (recorded r8 + r10) in exchange
    # for lang_id_ngram above.
    "compressed_frame_census": QuerySpec(
        compressed_frame_census_op, COMPRESSED_CENSUS_SQL,
        "gzip member + zstd frame/block-walk triage (planted-truth oracle)"
    ),
    # r11 window rotation: demoted here (recorded r8 + r10) in exchange
    # for crawl_to_training_set above.
    "parquet_footer_census": QuerySpec(
        parquet_footer_census_op, PARQUET_CENSUS_SQL,
        "Thrift-compact parquet footer triage vs real pyarrow files (planted-truth oracle)",
        audit_fn=_audit_variant(parquet_footer_census_op),
    ),
    # r11 window rotation: demoted here (recorded r8-r10) in the
    # amended exchange that keeps c4_line_filter (the curation-family
    # anchor) inside the gate window.
    "wet_roundtrip": QuerySpec(
        wet_roundtrip_op, WET_ROUNDTRIP_SQL,
        "WET shard export + framed read-back census (planted-truth oracle)"
    ),
    # r11 window rotation: demoted here (recorded r8-r10, upgraded
    # rows-only→oracle in r8) in exchange for host_reputation above.
    "quality_classifier": QuerySpec(
        quality_classifier_op,
        _quality_classifier_sql(),
        "fasttext-style hashed-bigram quality model (planted-fit oracle)",
    ),
    # r11 window rotation (session 2): demoted here (all recorded
    # r8-r10 or earlier) in exchange for the three interchange-format
    # sources above.
    "feed_entries": QuerySpec(
        feed_entries_op, FEED_ENTRIES_SQL,
        "RSS 2.0 / Atom feed-entry source (planted-truth oracle)"
    ),
    "sitemap_urls": QuerySpec(
        sitemap_urls_op, SITEMAP_SQL,
        "sitemaps.org urlset/sitemapindex discovery source (planted-truth oracle)"
    ),
    "mp3_frame_census": QuerySpec(
        mp3_frame_census_op, MP3_CENSUS_SQL,
        "MP3 frame-header walk: duration/bitrate census (planted-truth oracle)"
    ),
    # r11 window rotation (session 2, cont.): demoted (recorded r9-r10)
    # in exchange for webdataset_export_roundtrip + avro_export_roundtrip
    # above.
    "jpeg_lossless_census": QuerySpec(
        jpeg_lossless_census_op, JPEG_LOSSLESS_CENSUS_SQL,
        "SOF3 lossless-JPEG exact decode census, all 7 predictors (planted-truth oracle)",
        audit_fn=_audit_variant(jpeg_lossless_census_op),
    ),
    "audio_overlap_partial": QuerySpec(
        audio_overlap_partial_op, AUDIO_OVERLAP_SQL,
        "windowed-fingerprint partial-copy audio overlap (planted-truth oracle)"
    ),
    # r11 window rotation (session 2, cont.): demoted (recorded r8-r10)
    # in exchange for tfrecord_export_roundtrip above.
    "warc_corpus_text": QuerySpec(
        warc_corpus_text_op, WARC_CORPUS_SQL,
        "byte-true WARC source: charset cascade + chunked decode (planted-truth oracle)"
    ),
    # r11 window rotation (session 2, cont.): demoted (recorded r8-r10)
    # in exchange for unigram_seed_census above.
    "mbox_corpus_text": QuerySpec(
        mbox_corpus_text_op, MBOX_CORPUS_SQL,
        "mbox/MIME email source: per-message text + headers (planted-truth oracle)",
        audit_fn=_audit_variant(mbox_corpus_text_op),
    ),
    # --- below the 50-entry driver gate window (all recorded green in
    # r1-r7; demoted in r8 to make room for the upgraded/new entries) ---
    # r11 session-4 demotions (recorded r8-r10), in exchange for
    # wikipedia_corpus_text / warc_wat_links above:
    "window_dedup": QuerySpec(
        window_dedup_op, WINDOW_DEDUP_SQL, "exact-substring 8-token window screen"
    ),
    "dedup_ngram_containment": QuerySpec(
        dedup_ngram_containment, NGRAM_CONTAINMENT_SQL, "asymmetric containment near-dup pairs"
    ),
    "dedup_survivors": QuerySpec(
        dedup_survivors_op, DEDUP_SURVIVORS_SQL,
        "minhash -> components -> keep-min survivors per source (md5-mode oracle)"
    ),
    "warc_dedup_write": QuerySpec(
        warc_dedup_write_op, WARC_DEDUP_WRITE_SQL,
        "archive-writer response-vs-revisit decisions vs a prior index (window+join SQL mirror)"
    ),
    "feed_discovery": QuerySpec(
        feed_discovery_op, FEED_DISCOVERY_SQL,
        "URL-frontier feed/sitemap discovery with cross-feed dedup (planted-truth oracle)"
    ),
    "image_dedup_arith": QuerySpec(
        image_dedup_arith_op, IMAGE_DEDUP_PROG_SQL,
        "SOF9 arithmetic-JPEG (QM-coder) decode inside dHash dedup (planted-truth oracle)"
    ),
    "audio_dedup_fp": QuerySpec(
        audio_dedup_op, AUDIO_DEDUP_SQL,
        "perceptual audio near-dup pairs (planted-truth oracle)"
    ),
    "mmr_rerank_top10": QuerySpec(
        mmr_rerank_op, MMR_SQL, "MMR diversified rerank (recursive-CTE oracle)"
    ),
    # r11 session-4 demotion (recorded; media family keeps
    # image_dedup_dhash + audio_dedup_fp in-window):
    "video_dedup_remux": QuerySpec(
        video_dedup_op, VIDEO_DEDUP_SQL,
        "re-mux video dedup via frame-sequence signatures"
    ),
    "j7_priority_union": QuerySpec(j7_priority_union, J7_SQL, "priority union dedupe"),
    "q7_nation_volume": QuerySpec(r2.q7_nation_volume, r2.Q7_SQL, "bilateral volume by year"),
    "dedup_minhash_lsh": QuerySpec(
        dedup_minhash_op, MINHASH_LSH_SQL,
        "minhash+LSH near-dup pairs (md5 mode, full-pipeline SQL oracle)"
    ),
    "dedup_incremental": QuerySpec(
        dedup_incremental_op, DEDUP_INCREMENTAL_SQL,
        "batch-vs-store signature dedup (md5-mode oracle, planted store)"
    ),
    "training_data_pipeline": QuerySpec(
        training_data_pipeline_op, _training_pipeline_sql(),
        "curate -> DSIR gate -> split, end to end (full-composition SQL oracle)",
        audit_fn=_training_pipeline_audit,
    ),
    "curation_pipeline": QuerySpec(
        curation_pipeline_op, _curation_sql(),
        "end-to-end curation audit (md5 minhash, full-pipeline SQL oracle)",
        audit_fn=_curation_pipeline_audit,
    ),
    "exact_substring_removal": QuerySpec(
        exact_substring_removal_op, EXACT_SUBSTR_SQL, "ExactSubstr duplicated-span removal"
    ),
    "temperature_mix": QuerySpec(
        temperature_mix_op, TEMPERATURE_SQL, "alpha-temperature language rebalancing"
    ),
    "domain_cap": QuerySpec(
        domain_cap_op, DOMAIN_CAP_SQL, "per-domain diversity cap (C4 rule)"
    ),
    "purchase_attribution": QuerySpec(
        purchase_attribution_op, PURCHASE_ATTRIBUTION_SQL,
        "stream-stream interval-join attribution (batch twin)"
    ),
    "funnel_stages": QuerySpec(
        funnel_stages_op, FUNNEL_SQL, "session funnel: ordered-subsequence stages"
    ),
    "token_length_dist": QuerySpec(
        token_length_dist, TOKEN_LENGTH_SQL, "per-source token-length percentiles"
    ),
    "encode_tokens": QuerySpec(
        encode_tokens_op, ENCODE_TOKENS_SQL, "vocab-id sequence encoding (OOV=-1)"
    ),
    "packed_sequences": QuerySpec(
        packed_sequences_op, PACKED_SEQ_SQL, "packed model-input sequences + order checksum"
    ),
    "bloom_decontamination": QuerySpec(
        bloom_decontamination_op, BLOOM_DECONTAM_SQL, "Bloom-filter decontamination"
    ),
    "importance_resample": QuerySpec(
        importance_resample_op, IMPORTANCE_RESAMPLE_SQL, "Gumbel top-k importance resampling"
    ),
    "stratified_sample_counts": QuerySpec(
        stratified_sample_counts, STRATIFIED_SQL, "per-source hash downsampling"
    ),
    "soft_dedup_weights": QuerySpec(
        soft_dedup_weights_op, SOFT_DEDUP_SQL, "soft dedup: downweight duplicate clusters"
    ),
    "corpus_health": QuerySpec(
        corpus_health, CORPUS_HEALTH_SQL, "per-source quality/dup-rate dashboard"
    ),
    # ---- below the 50-entry driver-gate cutoff: equally verified each
    # ---- round by tools/parity_check.py (oracle-backed) or pytest
    # ---- goldens (rows-only); rows-only entries live ONLY below here.
    # round 7 rotations: all ten driver-hash-validated in r6 (several
    # also in r5), demoted to admit the never-recorded event family +
    # the three new planted-truth entries into the gate window
    "hard_negatives": QuerySpec(
        hard_negatives_op, HARD_NEGATIVES_SQL, "label-masked hard-negative mining"
    ),
    "token_fertility": QuerySpec(
        token_fertility_op, TOKEN_FERTILITY_SQL, "per-language chars-per-token fertility"
    ),
    "corpus_drift": QuerySpec(
        corpus_drift_op, CORPUS_DRIFT_SQL, "per-source unigram KL drift"
    ),
    "embedding_outliers": QuerySpec(
        embedding_outliers_op, EMBEDDING_OUTLIERS_SQL, "centroid-distance outlier scan"
    ),
    "unicode_normalize": QuerySpec(
        unicode_normalize_op, UNICODE_SQL, "NFC + zero-width/control hygiene pass"
    ),
    "training_triplets": QuerySpec(
        training_triplets_op, TRAINING_TRIPLETS_SQL,
        "contrastive (anchor, positive, hard-negative) triplets"
    ),
    "ccnet_buckets": QuerySpec(
        ccnet_buckets_op, CCNET_SQL, "CCNet perplexity head/middle/tail terciles"
    ),
    "corpus_diff": QuerySpec(
        corpus_diff_op, CORPUS_DIFF_SQL, "snapshot version diff (added/removed/changed)"
    ),
    "lexical_diversity": QuerySpec(
        lexical_diversity_op, LEXDIV_SQL, "TTR / entropy / hapax in-row diversity signals"
    ),
    "url_features": QuerySpec(
        url_features_op, URL_SQL, "URL canonicalization + registrable domain"
    ),
    "epoch_order": QuerySpec(
        epoch_order_op, EPOCH_ORDER_SQL, "deterministic epoch shuffle / training order"
    ),
    "readability": QuerySpec(
        readability_op, READABILITY_SQL, "Flesch reading-ease scoring"
    ),
    "topic_tagging": QuerySpec(
        topic_tagging_op, _topic_sql(), "seeded-lexicon topic assignment"
    ),
    "percentile_quality": QuerySpec(
        percentile_quality_op,
        PERCENTILE_QUALITY_SQL,
        "per-language percentile quality gate (CCNet-style)",
    ),
    "blocklist_gate": QuerySpec(
        blocklist_gate_op, BLOCKLIST_SQL, "C4 page-level blocklist rule"
    ),
    "bigram_logprob": QuerySpec(
        bigram_logprob_op, BIGRAM_SQL, "interpolated bigram LM scoring"
    ),
    "collocations_pmi": QuerySpec(
        collocations_op, COLLOCATIONS_SQL, "PMI collocation mining (top-20 pairs)"
    ),
    "value_histogram": QuerySpec(
        value_histogram_op, HISTOGRAM_SQL, "equi-width histogram (shared arithmetic)"
    ),
    "ivf_recall_curve": QuerySpec(
        ivf_recall_curve_op, None, "IVF nprobe recall frontier (rows-only)"
    ),
    "tokenizer_eval_bpe": QuerySpec(
        tokenizer_eval_bpe_op, None,
        "scorecard incl. corpus-trained BPE rung (rows-only)"
    ),
    "rollup_timeseries": QuerySpec(rollup_timeseries, ROLLUP_TS_SQL, "multi-resolution time rollup"),
    # t9 driver-validated r1-r4 (4 straight rounds); rotated below in r5 —
    # temporal gate coverage continues via overlapping_sessions +
    # funnel_stages (never-recorded, in-window)
    "t9_windowed_events": QuerySpec(t9_windowed_events, T9_SQL, "tumbling window agg"),
    # data_profile driver-validated r4; rotated below in r5 to admit the
    # never-recorded soft_dedup_weights into the gate window
    "data_profile": QuerySpec(data_profile, PROFILE_SQL, "one-pass per-column profile"),
    # knn_join driver-validated r1-r4; rotated below in r5 to admit the
    # newly-oracle-backed mmr_rerank_top10 into the gate window
    "knn_join_top3": QuerySpec(knn_join_top3, KNN_JOIN_SQL, "all-pairs kNN join"),
    # q5 / s4 / dedup_exact: driver-validated r1-r4, rotated below the
    # cutoff in round 5 so the never-recorded entries (percentile gate,
    # blocklist rule, epoch order, token_length_dist, encode/packed) all
    # get gate visibility; parity_check + the required past-gate pytest
    # step still verify them every run
    "q5_region_volume": QuerySpec(q5_region_volume, Q5_SQL, "star join through dims"),
    "s4_modified_since": QuerySpec(s4_modified_since, S4_SQL, "staleness left-join scan"),
    "dedup_exact": QuerySpec(dedup_exact, DEDUP_EXACT_SQL, "exact hash dedup"),
    # driver-validated in round 4; rotated below the cutoff to make gate
    # room for the round-5 entries (hybrid RRF, PageRank, semantic
    # decontamination) — still parity-checked every round like the rest
    "asof_click_attribution": QuerySpec(asof_click_attribution, ASOF_SQL, "as-of join"),
    "data_mixing": QuerySpec(data_mixing_op, _mix_sql(), "source-mixture reweighting"),
    "sequence_packing": QuerySpec(
        sequence_packing_op, PACKING_SQL, "token-budget sequence packing"
    ),
    "q2_min_cost_supplier": QuerySpec(r2.q2_min_cost_supplier, r2.Q2_SQL, "correlated-min supplier pick"),
    "q21_waiting_suppliers": QuerySpec(r2.q21_waiting_suppliers, r2.Q21_SQL, "EXISTS/NOT-EXISTS self-join"),
    "train_test_split": QuerySpec(train_test_split_counts, SPLIT_SQL, "content-addressed splits"),
    "sessionize_events": QuerySpec(sessionize_events, SESSIONIZE_SQL, "gap sessionization"),
    "q8_market_share": QuerySpec(r2.q8_market_share, r2.Q8_SQL, "conditional-sum market share"),
    "q9_product_profit": QuerySpec(r2.q9_product_profit, r2.Q9_SQL, "profit by nation/year"),
    "q11_important_parts": QuerySpec(r2.q11_important_parts, r2.Q11_SQL, "HAVING vs scalar total"),
    "tfidf_keywords": QuerySpec(tfidf_keywords_op, TFIDF_SQL, "per-doc top-5 TF-IDF terms"),
    "unigram_logprob": QuerySpec(
        unigram_logprob_op, UNIGRAM_SQL, "unigram-LM perplexity quality score"
    ),
    "winnow_fingerprint": QuerySpec(
        winnow_fingerprint_op, WINNOW_SQL, "winnowing (MOSS) k-gram fingerprints"
    ),
    # --- beyond the 50-entry driver gate (still parity-checked locally).
    # --- Battle-tested entries live here: gated green in earlier rounds
    # --- (TPC-H q4/q6/q10/q12/q14/q18 r1-r4, vocab_topk r2-r4), demoted
    # --- to make gate room for newer, less-proven oracle queries.
    "j8_parent_expansion": QuerySpec(j8_parent_expansion, J8_SQL, "parent expansion dedupe"),
    "a1_variation_rollup": QuerySpec(a1_variation_rollup, A1_SQL, "capped rollup aggregation"),
    "k2_topk_per_group": QuerySpec(k2_topk_per_group, K2_SQL, "per-group top-K window"),
    "q4_priority_exists": QuerySpec(q4_priority_exists, Q4_SQL, "EXISTS semi-join"),
    "q6_forecast_revenue": QuerySpec(q6_forecast_revenue, Q6_SQL, "pushdown filter + agg"),
    "q10_returned_revenue": QuerySpec(q10_returned_revenue, Q10_SQL, "4-way join top-20"),
    "q12_priority_class": QuerySpec(q12_priority_class, Q12_SQL, "conditional CASE agg"),
    "q14_promo_ratio": QuerySpec(q14_promo_ratio, Q14_SQL, "conditional ratio"),
    "q18_large_orders": QuerySpec(q18_large_orders, Q18_SQL, "HAVING subquery join-back"),
    "vocab_topk": QuerySpec(vocab_topk_op, VOCAB_SQL, "corpus vocabulary heavy hitters"),
    "s5_error_scan": QuerySpec(s5_error_scan, S5_SQL, "distinct error scan"),
    "line_dedup": QuerySpec(line_dedup_op, LINE_DEDUP_SQL, "C4-style corpus line dedup"),
    "pii_scrub": QuerySpec(pii_scrub_op, _pii_sql(), "PII detect + redact"),
    "repetition_signals": QuerySpec(
        repetition_signals_op, REPETITION_SQL, "Gopher repetition quality signals"
    ),
    "knn_exact_top10": QuerySpec(knn_exact_top10, KNN_SQL, "exact cosine kNN"),
    "decontamination": QuerySpec(
        decontamination_op, CONTAM_SQL, "eval-set n-gram decontamination"
    ),
    "lang_id_stopwords": QuerySpec(lang_id_stopwords, _lang_sql(), "stopword lang-id"),
    "textstats_quality": QuerySpec(textstats_quality, QUALITY_SQL, "quality scoring"),
    "dedup_simhash": QuerySpec(dedup_simhash_op, SIMHASH_SQL, "simhash fingerprints"),
    "dedup_embedding_cosine": QuerySpec(dedup_embedding_cosine, EMB_COSINE_SQL, "cosine near-dup pairs"),
    "quality_pass_rate": QuerySpec(quality_pass_rate, QUALITY_PASS_SQL, "per-lang quality gating"),
    "quality_quantile_filter": QuerySpec(
        quality_quantile_filter, QUANTILE_FILTER_SQL, "corpus-p10 quality gate"
    ),
    "q13_order_distribution": QuerySpec(r2.q13_order_distribution, r2.Q13_SQL, "outer-join count histogram"),
    "q15_top_supplier": QuerySpec(r2.q15_top_supplier, r2.Q15_SQL, "scalar-max subquery"),
    "q16_supplier_part_counts": QuerySpec(r2.q16_supplier_part_counts, r2.Q16_SQL, "NOT-IN + count distinct"),
    "q17_small_qty_revenue": QuerySpec(r2.q17_small_qty_revenue, r2.Q17_SQL, "correlated-avg tail revenue"),
    "q19_disjunctive_revenue": QuerySpec(r2.q19_disjunctive_revenue, r2.Q19_SQL, "OR-of-ANDs pushdown"),
    "q20_excess_suppliers": QuerySpec(r2.q20_excess_suppliers, r2.Q20_SQL, "nested semi-joins"),
    "q22_idle_customers": QuerySpec(r2.q22_idle_customers, r2.Q22_SQL, "anti-join + scalar avg"),
    "cube_order_stats": QuerySpec(cube_order_stats, CUBE_SQL, "CUBE lattice agg"),
    "s10_logs_page": QuerySpec(s10_logs_page, S10_SQL, "log page query"),
    "k3_pagination": QuerySpec(k3_pagination, K3_SQL, "offset/limit pagination"),
    "a4_status_counts": QuerySpec(a4_status_counts, A4_SQL, "status/backlog metrics"),
    "p2_plain_text": QuerySpec(p2_plain_text, P2_SQL, "html strip + ws collapse"),
    "p13_money_format": QuerySpec(p13_money_format, P13_SQL, "two-decimal money render"),
    "p14_masking": QuerySpec(p14_masking, P14_SQL, "secret masking projection"),
    "h_doc_sha": QuerySpec(h_doc_sha, H_SQL, "sha256 fingerprint"),
    "h3_chunk_sha": QuerySpec(h3_chunk_sha, H3_SQL, "chunk fingerprint chain"),
    "pivot_order_status": QuerySpec(pivot_order_status, PIVOT_SQL, "pivoted status counts"),
    # --- rows-only (non-SQL-expressible) ---
    # rows-only (non-SQL-expressible)
    "doc_fingerprint": QuerySpec(
        doc_fingerprint_op, FINGERPRINT_SQL, "rolling-hash fingerprint"
    ),
    "psl_registrable_domain": QuerySpec(
        psl_registrable_domain_op, PSL_REGISTRABLE_SQL,
        "Public-Suffix-List eTLD+1 across all rule classes"
    ),
    "mixing_recipe": QuerySpec(
        mixing_recipe_op, _mixing_recipe_sql(), "token-budget mixture recipe solver"
    ),
    "ivf_search_top10": QuerySpec(ivf_search_op, None, "IVF coarse-quantizer ANN"),
    "ivf_drift_report": QuerySpec(
        ivf_drift_report_op, None, "IVF quantizer staleness / retrain signal"
    ),
    "pq_search_top10": QuerySpec(pq_search_op, None, "product-quantized ADC search"),
    "sq8_search_top10": QuerySpec(sq8_search_op, None, "SQ8 scalar-quantized search (4x)"),
    "ivfpq_search_top10": QuerySpec(
        ivfpq_search_op, None, "IVF-PQ pruned compressed search"
    ),
    "semdedup_embeddings": QuerySpec(
        semdedup_op, None, "SemDeDup cluster-then-prune semantic dedup"
    ),
    "multimodal_features": QuerySpec(
        multimodal_features_op, None, "netpbm/WAV render -> real decode -> feature stats"
    ),
    "bpe_merges": QuerySpec(
        bpe_merges_op, None, "distributed-count + local-loop BPE tokenizer training"
    ),
    "wordpiece_vocab": QuerySpec(
        wordpiece_vocab_op, None,
        "WordPiece tokenizer training (likelihood merge loop over the "
        "bounded count table; scoring stage oracle-pinned by "
        "wordpiece_pair_scores)"
    ),
    "unigram_tokenizer": QuerySpec(
        unigram_tokenizer_op, None,
        "SentencePiece-style unigram-LM tokenizer training (EM + prune "
        "over the bounded count table; seeding stage oracle-pinned by "
        "unigram_seed_census)"
    ),
    "compression_ratio": QuerySpec(
        compression_ratio_op, None, "zlib deflate-ratio quality signal"
    ),
    "pca_projection": QuerySpec(
        pca_projection_op, None, "exact one-pass PCA embedding reduction"
    ),
    "sketch_profile": QuerySpec(
        sketch_profile_op, None, "HLL++/quantile-sketch profiling (100 TB swap-in)"
    ),
    "script_mix": QuerySpec(
        script_mix_op, SCRIPT_MIX_SQL, "unicode-script ratios + dominant script"
    ),
    "events_json": QuerySpec(events_json_op, EVENTS_JSON_SQL, "JSON props extraction + agg"),
    "quantiles_by_type": QuerySpec(
        quantiles_by_type, QUANTILES_SQL, "exact interpolated value quantiles"
    ),
    "range_join_clicks": QuerySpec(
        range_join_clicks, RANGE_JOIN_SQL, "bin-bucketed time-range join"
    ),
    "tokenizer_eval": QuerySpec(
        tokenizer_eval_op, TOKENIZER_EVAL_SQL,
        "tokenizer bytes-per-token scorecard (untrained rungs)"
    ),
    "hybrid_search_rrf": QuerySpec(
        hybrid_search_rrf_op, HYBRID_RRF_SQL, "BM25+vector reciprocal-rank fusion"
    ),
    # r9 rotation: recorded r8, demoted from the window in exchange for
    # the two MP3 full-decode entries
    "ogg_page_census": QuerySpec(
        ogg_page_census_op, OGG_CENSUS_SQL,
        "Ogg page walk + Opus/Vorbis id headers: codec/duration census (planted-truth oracle)"
    ),
    "webp_dims_census": QuerySpec(
        webp_dims_census_op, WEBP_CENSUS_SQL,
        "WebP VP8/VP8L/VP8X dimension-feature census (planted-truth oracle)"
    ),
    "flac_streaminfo_census": QuerySpec(
        flac_streaminfo_census_op, FLAC_CENSUS_SQL,
        "FLAC STREAMINFO bit-unpack: rate/depth/duration census (planted-truth oracle)"
    ),
    "moving_average_events": QuerySpec(
        moving_average_events, MOVING_AVG_SQL, "trailing time-RANGE window average"
    ),
    "aac_adts_census": QuerySpec(
        aac_adts_census_op, AAC_CENSUS_SQL,
        "ADTS AAC header walk: duration/profile census (planted-truth oracle)",
        audit_fn=_audit_variant(aac_adts_census_op),
    ),
    "id3_text_census": QuerySpec(
        id3_text_census_op, ID3_CENSUS_SQL,
        "ID3v2 TIT2/TPE1/TALB tag-text census (planted-truth oracle)"
    ),
    "h264_sps_census": QuerySpec(
        h264_sps_census_op, H264_CENSUS_SQL,
        "H.264 NAL walk + Exp-Golomb SPS resolution census (planted-truth oracle)",
        audit_fn=_audit_variant(h264_sps_census_op),
    ),
    "mp4_box_census": QuerySpec(
        mp4_box_census_op, MP4_CENSUS_SQL,
        "ISOBMFF box walk: duration/tracks/codecs census (planted-truth oracle)"
    ),
    "semantic_decontamination": QuerySpec(
        semantic_decontamination_op, SEMANTIC_DECONTAM_SQL,
        "embedding-space eval decontamination"
    ),
    # session-3 r8 demotions (recorded r7, rotated out of the window)
    "epub_corpus_text": QuerySpec(
        epub_corpus_text_op, EPUB_CORPUS_SQL,
        "EPUB source: spine-order chapter extraction (planted-truth oracle)"
    ),
    "docx_corpus_text": QuerySpec(
        docx_corpus_text_op, DOCX_CORPUS_SQL,
        "DOCX source: paragraph/tab-run extraction (planted-truth oracle)"
    ),
    "hamming_4band_pairs": QuerySpec(
        hamming_4band_pairs_op, HAMMING_4BAND_SQL,
        "pigeonhole-complete 4-band Hamming join (planted-truth oracle)"
    ),
    "events_anomaly": QuerySpec(events_anomaly, ANOMALY_SQL, "per-type z-score outliers"),
    "image_dedup_progressive": QuerySpec(
        image_dedup_progressive_op, IMAGE_DEDUP_PROG_SQL,
        "progressive-JPEG (SOF2) decode inside dHash dedup (planted-truth oracle)"
    ),
    "media_format_census": QuerySpec(
        media_format_census_op, MEDIA_CENSUS_SQL,
        "magic-byte format triage census (planted-truth oracle)"
    ),
    "matryoshka_recall": QuerySpec(
        matryoshka_recall_op, MATRYOSHKA_SQL, "truncated-dim retrieval recall eval"
    ),
    "html_main_text": QuerySpec(
        html_main_text_op, HTML_MAIN_TEXT_SQL,
        "WARC-front-door HTML boilerplate removal (jusText-family)"
    ),
    "overlapping_sessions": QuerySpec(
        overlapping_sessions_op, OVERLAP_SESSIONS_SQL,
        "interval-overlap join over gap sessions"
    ),

    "pdf_corpus_text": QuerySpec(
        pdf_corpus_text_op, PDF_CORPUS_SQL,
        "PDF source: per-page text extraction (planted-truth oracle)"
    ),
}
