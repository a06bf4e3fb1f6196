"""Driver contract for the spark-graft builder (PySpark target).

Each query is a SURVEY.md §2 operator family expressed over the driver's
TPC-H-ish star schema (TESTDATA.md/FIXTURES.md mapping: match→orders,
participant_stats→lineitem, timeline_event→events, summoner→customer,
dims→region/nation/part/supplier).

There is one registry, ``name -> (query_fn, oracle)``: ``_REGISTRY`` below
merges this module's entries with each ``plans`` module's ``REGISTRY``, so
every query is registered once, beside its oracle. The oracle is the
DuckDB-equivalent ANSI SQL, or for a fixture-backed query (``fight_merge``,
``history_row``) a zero-argument function that refreshes the parquet
fixture and returns the SQL that reads it. Three views read the registry:
``queries()`` (the query functions), ``oracle_sql()`` (every oracle as SQL)
and ``_ORACLES`` (the SQL-text oracles only, no fixture built).

Determinism notes (the driver hash-compares values):
- money/quantity aggregates run in DECIMAL(18,2) arithmetic (exact, order
  insensitive) and cast to double only at the end — double summation order
  would otherwise produce last-ulp diffs vs DuckDB;
- every ranking has a total tie-break order;
- timestamps are emitted as epoch milliseconds (bigint) to avoid
  timestamp-type representation mismatches between engines.
"""

from __future__ import annotations

import math
import traceback
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lol_data_collection_system_spark.operators import (
    aggregates as agg_ops,
    filters as filter_ops,
    joins as join_ops,
    setops as set_ops,
    topk as topk_ops,
    windows as window_ops,
)
from lol_data_collection_system_spark.plans import (
    classifier_queries,
    corpus_pipeline,
    corpus_queries,
    domain_queries,
    history_queries,
    linkage_queries,
    pipeline_queries,
    selection_queries,
)
from lol_data_collection_system_spark.sources import load_table
from lol_data_collection_system_spark.streaming import rollup

SF0001 = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _dec(c: str):  # decimal(18,2) view of a money column
    return agg_ops.dec(c)


# ---------------------------------------------------------------------------
# §2.4 A6 — multi-stat grouped aggregation (the ~70-column means analogue).
# Reference: utils.py:846-847,931-937 folds per-stat sums in Python loops.
# ---------------------------------------------------------------------------
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(18,2)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(_dec("l_extendedprice") * (one - _dec("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
           AS sum_disc_price,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# §2.4 A1/A2 + §2.3 J1/J2 — grouped counts pivoted by category over broadcast
# dim joins. Reference: monitor/views/gathering.py:30-64.
# ---------------------------------------------------------------------------
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def q_region_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = _t(spark, sf_dir, "region")
    joined = (
        join_ops.broadcast_dim_join(orders, cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
    )
    return agg_ops.grouped_pivot_count(joined, "r_name", "o_orderpriority", PRIORITIES)


ORACLE_REGION_PRIORITY_PIVOT = """
SELECT r_name,
       COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS "1-URGENT",
       COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS "2-HIGH",
       COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS "3-MEDIUM",
       COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS "4-NOT SPECIFIED",
       COUNT(*) FILTER (o_orderpriority = '5-LOW') AS "5-LOW"
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


# §2.4 A3 / §2.7 X6 — count distinct per group (monitor/views/gathering.py:29)
def q_customers_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.countDistinct("c_custkey").alias("n_customers"))
    )


ORACLE_CUSTOMERS_PER_REGION = """
SELECT r_name, COUNT(DISTINCT c_custkey) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


# §2.4 A4/A7/A16 — global + conditional tallies in one pass
# (utils.py:990-1098; proto_data_gathering.py:214-218)
def q_order_status_tallies(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    out = agg_ops.conditional_tallies(
        orders,
        [],
        n_fulfilled=F.col("o_orderstatus") == "F",
        n_open=F.col("o_orderstatus") == "O",
        n_partial=F.col("o_orderstatus") == "P",
        n_urgent=F.col("o_orderpriority") == "1-URGENT",
    )
    return out.select(
        "n_fulfilled",
        "n_open",
        "n_partial",
        "n_urgent",
        "total",
        (F.col("n_urgent").cast("double") / F.col("total")).alias("urgent_pct"),
    )


ORACLE_ORDER_STATUS_TALLIES = """
SELECT COUNT(*) FILTER (o_orderstatus = 'F') AS n_fulfilled,
       COUNT(*) FILTER (o_orderstatus = 'O') AS n_open,
       COUNT(*) FILTER (o_orderstatus = 'P') AS n_partial,
       COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS n_urgent,
       COUNT(*) AS total,
       CAST(COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS DOUBLE) / COUNT(*) AS urgent_pct
FROM orders
"""


# §2.4 A5 — two-level mean (avg of per-group avgs); tier averaging
# (enumerations.py:26-32 at utils.py:89-94). Inner mean exact via decimal
# sum/count; outer mean rounded to absorb double-sum order.
def q_acctbal_mean_of_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey).join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    )
    inner = joined.groupBy("r_name", "n_name").agg(
        (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("nation_avg")
    )
    return inner.groupBy("r_name").agg(
        F.round(F.avg("nation_avg"), 4).alias("avg_of_nation_avgs"),
        F.count(F.lit(1)).alias("n_nations"),
    )


ORACLE_ACCTBAL_MEAN_OF_MEANS = """
WITH inner_m AS (
  SELECT r_name, n_name,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS nation_avg
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY r_name, n_name)
SELECT r_name, ROUND(AVG(nation_avg), 4) AS avg_of_nation_avgs, COUNT(*) AS n_nations
FROM inner_m GROUP BY r_name
"""


# §2.2 P3 — disjunctive contains filter
# (find_recurrent_delta_across_n_games.py:85-90)
def q_promo_parts_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    pred = filter_ops.disjunctive_contains(F.col("p_type"), ["PROMO", "ECONOMY"])
    return part.filter(pred).groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_parts"))


ORACLE_PROMO_PARTS_BY_BRAND = """
SELECT p_brand, COUNT(*) AS n_parts FROM part
WHERE p_type LIKE '%PROMO%' OR p_type LIKE '%ECONOMY%'
GROUP BY p_brand
"""


# §2.2 P2/P5 — computed boolean flag projection + null-style predicates
# (periodical_data_repair.py:47-74)
def q_order_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        (F.col("o_orderpriority") == "1-URGENT").alias("is_urgent"),
        (F.col("o_totalprice") > 150000.0).alias("is_high_value"),
        (F.col("o_orderstatus") == "F").alias("is_fulfilled"),
    ).filter(F.col("is_urgent") | F.col("is_high_value"))


ORACLE_ORDER_FLAGS = """
SELECT o_orderkey,
       o_orderpriority = '1-URGENT' AS is_urgent,
       o_totalprice > 150000.0 AS is_high_value,
       o_orderstatus = 'F' AS is_fulfilled
FROM orders
WHERE o_orderpriority = '1-URGENT' OR o_totalprice > 150000.0
"""


# §2.2 P9 — prefix normalize + group (utils.py:16-23 semver major.minor)
def q_type_prefix_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return part.groupBy(
        F.substring_index("p_type", " ", 1).alias("type_prefix")
    ).agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(_dec("p_retailprice")).cast("double").alias("sum_price"),
    )


ORACLE_TYPE_PREFIX_COUNTS = """
SELECT split_part(p_type, ' ', 1) AS type_prefix, COUNT(*) AS n_parts,
       CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM part GROUP BY 1
"""


# §2.2 P10 — composite-key point lookup (utils.py:864)
def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return filter_ops.composite_key_lookup(li, l_orderkey=1).select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"
    )


ORACLE_POINT_LOOKUP = """
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
FROM lineitem WHERE l_orderkey = 1
"""


# §2.6 O4 + §2.4 A9 — top-k per group (utils.py:354,861 lookback caps)
def q_top3_lineitems_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return topk_ops.topk_per_group(
        li,
        ["l_suppkey"],
        [F.col("l_extendedprice").desc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc()],
        3,
    ).select("l_suppkey", "rank_in_group", "l_orderkey", "l_linenumber", "l_extendedprice")


ORACLE_TOP3_LINEITEMS_PER_SUPPLIER = """
SELECT l_suppkey, rank_in_group, l_orderkey, l_linenumber, l_extendedprice
FROM (
  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
         ROW_NUMBER() OVER (PARTITION BY l_suppkey
                            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
           AS rank_in_group
  FROM lineitem)
WHERE rank_in_group <= 3
"""


# §2.4 A9 — argmax per group (utils.py:451-459 jungler/support selection)
def q_richest_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    return agg_ops.argmax_per_group(
        joined,
        ["n_name"],
        [F.col("c_acctbal").desc(), F.col("c_custkey").asc()],
        ["c_custkey", "c_acctbal"],
    )


ORACLE_RICHEST_CUSTOMER_PER_NATION = """
SELECT n_name, c_custkey, c_acctbal FROM (
  SELECT n_name, c_custkey, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey) AS rn
  FROM customer JOIN nation ON c_nationkey = n_nationkey)
WHERE rn = 1
"""


# §2.5/A11 — trailing window means (find_recurrent_delta:171-195 delta2/3/4)
def q_trailing_order_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    order_cols = [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()]
    w3 = Window.partitionBy("o_custkey").orderBy(*order_cols).rowsBetween(-2, 0)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        (
            F.sum(_dec("o_totalprice")).over(w3).cast("double")
            / F.count(F.lit(1)).over(w3)
        ).alias("trailing3_avg_price"),
    )


ORACLE_TRAILING_ORDER_AVG = """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
         / COUNT(*) OVER w AS trailing3_avg_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


# §2.4 A14 — cumulative conditional sum (utils.py:499-513 effective gold)
def q_cumulative_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    signed = F.when(F.col("event_type") == "error", -_dec("value")).otherwise(_dec("value"))
    out = window_ops.cumulative_sum(
        events,
        ["user_id"],
        [F.col("ts").asc(), F.col("event_id").asc()],
        signed,
        "cum_value",
    )
    return out.select("user_id", "event_id", F.col("cum_value").cast("double").alias("cum_value"))


ORACLE_CUMULATIVE_USER_VALUE = """
SELECT user_id, event_id,
       CAST(SUM(CASE WHEN event_type = 'error'
                     THEN -CAST(value AS DECIMAL(18,2))
                     ELSE CAST(value AS DECIMAL(18,2)) END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_value
FROM events
"""


# §2.4 A12 — streaks via gaps-and-islands (utils.py:939-956)
def q_max_error_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    islands = window_ops.streak_islands(
        events,
        ["user_id"],
        [F.col("ts").asc(), F.col("event_id").asc()],
        F.col("event_type"),
    )
    return (
        islands.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.max("streak_len").alias("max_error_streak"))
    )


ORACLE_MAX_ERROR_STREAK = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN LAG(event_type) OVER w IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
islands AS (
  SELECT user_id, event_type,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
  FROM flagged)
SELECT user_id, MAX(streak_len) AS max_error_streak FROM (
  SELECT user_id, event_type, island_id, COUNT(*) AS streak_len
  FROM islands GROUP BY user_id, event_type, island_id)
WHERE event_type = 'error' GROUP BY user_id
"""


# §2.4 A15 — sliding-window count per key (mysql_requesthistory_checking.py:46-100)
def q_sliding_rate_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    out = window_ops.sliding_count(events, ["user_id"], "ts", 60_000, "n_last_60s")
    return out.select("event_id", "user_id", "n_last_60s")


ORACLE_SLIDING_RATE_COUNT = """
SELECT event_id, user_id,
       COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
                      RANGE BETWEEN 60000 PRECEDING AND CURRENT ROW) AS n_last_60s
FROM events
"""


# §2.3 J8 — interval self-join ±15 s (utils.py:538-577 fight enrichment)
def q_events_near_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    joined = join_ops.interval_self_join(
        events,
        key_cols=["user_id"],
        ts_col="ts",
        lower_ms=-15_000,
        upper_ms=15_000,
        left_filter=F.col("event_type") == "error",
    )
    return joined.groupBy(F.col("event_id").alias("error_event_id")).agg(
        F.count(F.lit(1)).alias("n_nearby")
    )


ORACLE_EVENTS_NEAR_ERRORS = """
SELECT a.event_id AS error_event_id, COUNT(*) AS n_nearby
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND epoch_ms(b.ts) BETWEEN epoch_ms(a.ts) - 15000 AND epoch_ms(a.ts) + 15000
WHERE a.event_type = 'error'
GROUP BY a.event_id
"""


# §2.3 J10 — as-of join (utils.py:405-416 tier-at-match-time)
def q_purchase_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_event_id")
    )
    out = join_ops.asof_join(
        purchases, clicks, ["user_id"], "ts", ["click_event_id"], suffix=""
    )
    # -1 sentinel for "no prior click": keeps the column BIGINT in both
    # engines (a NULL-bearing int64 silently becomes float64 in pandas,
    # so 3248 vs 3248.0 would hash-mismatch on every NON-null row too).
    return out.select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        F.coalesce(F.col("click_event_id"), F.lit(-1).cast("long")).alias(
            "last_click_event_id"
        ),
    )


ORACLE_PURCHASE_LAST_CLICK = """
SELECT p.event_id AS purchase_event_id, p.user_id,
       COALESCE(c.event_id, -1) AS last_click_event_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def q_purchase_last_click_banded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The skew-capped as-of variant under the SAME oracle as the plain
    form: on tie-free data `asof_join_banded` must reproduce
    `asof_join` exactly (pinned locally in test_plans; this row pins it
    cross-engine against DuckDB's ASOF JOIN — the per-column carry
    semantics that round 4 fixed)."""
    events = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_event_id")
    )
    out = join_ops.asof_join_banded(
        purchases,
        clicks,
        ["user_id"],
        "ts",
        ["click_event_id"],
        bucket_ms=3_600_000,
        suffix="",
    )
    return out.select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        F.coalesce(F.col("click_event_id"), F.lit(-1).cast("long")).alias(
            "last_click_event_id"
        ),
    )


def q_revenue_by_order_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lineitem-orders equi-join run through `salted_skew_join`
    under a plain-SQL oracle: salting is a physical redistribution only
    (the salt routes rows across reducers, never changes matches), so
    the unsalted join SQL must hash-match exactly — the cross-engine pin
    on the manual hot-key fallback for paths AQE skew splitting cannot
    see."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_extendedprice"), F.col("l_discount")
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = join_ops.salted_skew_join(li, orders, "l_orderkey", n_salts=8)
    one = F.lit(1).cast("decimal(18,2)")
    return joined.groupBy("o_orderpriority").agg(
        F.sum(_dec("l_extendedprice") * (one - _dec("l_discount")))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


ORACLE_REVENUE_BY_ORDER_SALTED = """
SELECT o_orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


# §2.3 J12 / §2.7 X1 — left-anti novelty (utils.py:28-29)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return join_ops.left_anti_novelty(cust, orders, "c_custkey").select(
        "c_custkey", "c_name"
    )


ORACLE_CUSTOMERS_WITHOUT_ORDERS = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


# §2.7 X2/X3 + §2.3 J11 — sorted set signatures (utils.py:1074-1083)
def q_returnflag_set_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    sigs = li.groupBy("l_orderkey").agg(
        set_ops.sorted_set_signature("l_returnflag").alias("flag_set")
    )
    return sigs.groupBy("flag_set").agg(F.count(F.lit(1)).alias("n_orders"))


ORACLE_RETURNFLAG_SET_SIGNATURE = """
SELECT flag_set, COUNT(*) AS n_orders FROM (
  SELECT l_orderkey,
         array_to_string(list_sort(list(DISTINCT l_returnflag)), ',') AS flag_set
  FROM lineitem GROUP BY l_orderkey)
GROUP BY flag_set
"""


# §2.1 S6 / §2.2 P11 — guarded JSON extraction (utils.py:763-845,866)
def q_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    k = F.coalesce(
        F.get_json_object(F.col("props"), "$.k").cast("bigint"), F.lit(0)
    )
    return events.groupBy("event_type").agg(
        F.sum(k).alias("k_sum"),
        F.count(F.lit(1)).alias("k_cnt"),
        (F.sum(k).cast("double") / F.count(F.lit(1))).alias("k_avg"),
    )


ORACLE_JSON_PROPS_STATS = """
SELECT event_type,
       CAST(SUM(COALESCE(CAST(json_extract_string(props, '$.k') AS BIGINT), 0)) AS BIGINT) AS k_sum,
       COUNT(*) AS k_cnt,
       CAST(SUM(COALESCE(CAST(json_extract_string(props, '$.k') AS BIGINT), 0)) AS DOUBLE)
         / COUNT(*) AS k_avg
FROM events GROUP BY event_type
"""


# §2.5 tumbling windows — minutely frames (utils.py:441-448) at hour grain
def q_hourly_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return events.groupBy(
        F.unix_millis(F.date_trunc("hour", F.col("ts"))).alias("hour_ms"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n_events"))


ORACLE_HOURLY_EVENT_COUNTS = """
SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type, COUNT(*) AS n_events
FROM events GROUP BY 1, 2
"""


#: incremental-rollup cutoff: epoch ms of 2024-01-16 00:00:00 UTC —
#: splits the events table roughly in half so both the base and the
#: delta sides are non-trivial.
ROLLUP_CUTOFF_MS = 1_705_363_200_000


def q_incremental_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance (the continuous-
    aggregate / hypertable-rollup pattern): the hourly rollup is NOT
    recomputed from scratch — a pre-aggregated BASE (events before the
    cutoff, standing in for yesterday's materialization) merges with the
    DELTA's partial aggregate by re-aggregating the algebraic states
    (count→sum, sum→sum, max→max, min over decimal). The oracle is the
    FULL recompute over all events, so the hash gate proves the merge is
    lossless — the property that lets a 100 TB rollup pay only
    O(delta + touched groups) per refresh instead of a full scan. States,
    merge and finalization are `streaming.rollup`'s, so the gate
    certifies the definitions the hourly stream store uses.
    """
    events = _t(spark, sf_dir, "events")
    cut = F.col("ts") < F.timestamp_millis(F.lit(ROLLUP_CUTOFF_MS))
    base = rollup.hourly_partial(events.filter(cut))
    delta = rollup.hourly_partial(events.filter(~cut))
    merged = (
        base.unionByName(delta)
        .groupBy(*rollup.HOURLY_KEYS)
        .agg(
            *[
                rollup.MERGE_FNS[kind](c).alias(c)
                for c, kind in rollup.HOURLY_MERGE.items()
            ]
        )
    )
    return rollup.finalize_hourly(merged)


ORACLE_INCREMENTAL_HOURLY_ROLLUP = """
SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms,
       event_type,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
            AS DOUBLE) AS sum_value,
       CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS max_value,
       MIN(event_id) AS first_event
FROM events GROUP BY 1, 2
"""


# §2.9 T3/T4 — idempotent latest-wins upsert as a batch dedup
# (active_data_gathering.py:67-124 two-phase upsert)
def q_latest_event_per_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return agg_ops.argmax_per_group(
        events,
        ["user_id", "event_type"],
        [F.col("ts").desc(), F.col("event_id").desc()],
        ["event_id", "value"],
    )


ORACLE_LATEST_EVENT_PER_USER_TYPE = """
SELECT user_id, event_type, event_id, value FROM (
  SELECT user_id, event_type, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events)
WHERE rn = 1
"""


# Data-profiling audit (operators/aggregates.py profile_columns)
PROFILE_COLS = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]


def q_orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return agg_ops.profile_columns(orders, PROFILE_COLS)


def _profile_oracle() -> str:
    selects = [
        f"""SELECT '{c}' AS "column", COUNT(*) AS n_rows,
       COUNT(*) - COUNT({c}) AS n_nulls,
       round(CAST(COUNT(*) - COUNT({c}) AS DOUBLE) / COUNT(*), 6)
         AS null_frac,
       COUNT(DISTINCT {c}) AS n_distinct
FROM orders"""
        for c in PROFILE_COLS
    ]
    return "\nUNION ALL\n".join(selects)


# Per-group robust outlier audit (median/MAD; uses the exact percentile
# machinery): which sources emit length outliers.
MAD_K = 3.0


def q_doc_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, n_outliers, outlier_frac): docs whose length
    sits more than MAD_K robust deviations from their source's median.
    Two grouped percentile passes (median, then MAD on the residuals)
    joined back — robust to the outliers it hunts, unlike mean/stddev."""
    docs = _t(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").cast("double").alias("_x")
    )
    med = docs.groupBy("source").agg(
        F.expr("percentile(_x, 0.5D)").alias("_med")
    )
    resid = docs.join(F.broadcast(med), "source").withColumn(
        "_r", F.abs(F.col("_x") - F.col("_med"))
    )
    mad = resid.groupBy("source").agg(
        F.expr("percentile(_r, 0.5D)").alias("_mad")
    )
    flagged = resid.join(F.broadcast(mad), "source").select(
        "source",
        (
            (F.col("_mad") > 0)
            & (F.col("_r") > F.lit(MAD_K) * F.col("_mad"))
        )
        .cast("long")
        .alias("_o"),
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_o").alias("n_outliers"),
        F.round(
            F.sum("_o").cast("double") / F.count(F.lit(1)), 6
        ).alias("outlier_frac"),
    )


ORACLE_DOC_LENGTH_OUTLIERS = f"""
WITH x AS (SELECT source, CAST(n_chars AS DOUBLE) AS x FROM documents),
med AS (SELECT source, quantile_cont(x, 0.5) AS med FROM x GROUP BY source),
resid AS (SELECT x.source, abs(x.x - med.med) AS r
          FROM x JOIN med USING (source)),
mad AS (SELECT source, quantile_cont(r, 0.5) AS mad FROM resid GROUP BY source),
flags AS (
  SELECT r.source,
         CASE WHEN m.mad > 0 AND r.r > {MAD_K!r} * m.mad
              THEN 1 ELSE 0 END AS o
  FROM resid r JOIN mad m USING (source))
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(o) AS BIGINT) AS n_outliers,
       round(CAST(SUM(o) AS DOUBLE) / COUNT(*), 6) AS outlier_frac
FROM flags GROUP BY source
"""


# Association mining over event types (operators/funnels.py)
def q_event_pair_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lol_data_collection_system_spark.operators import funnels

    events = _t(spark, sf_dir, "events")
    return funnels.pair_affinity(events)


ORACLE_EVENT_PAIR_AFFINITY = """
WITH sets AS (SELECT DISTINCT user_id AS u, event_type AS e FROM events),
nu AS (SELECT COUNT(DISTINCT u) AS n FROM sets),
singles AS (SELECT e, COUNT(*) AS c FROM sets GROUP BY e),
pairs AS (
  SELECT a.e AS type_a, b.e AS type_b, COUNT(*) AS n_users_both
  FROM sets a JOIN sets b ON a.u = b.u AND a.e < b.e
  GROUP BY 1, 2)
SELECT type_a, type_b, n_users_both,
       round(CAST(n_users_both AS DOUBLE) / n, 6) AS support,
       round(CAST(n_users_both AS DOUBLE) / sa.c, 6) AS confidence_a_to_b,
       round((CAST(n_users_both AS DOUBLE) * n) / (sa.c * sb.c), 6) AS lift
FROM pairs
JOIN singles sa ON sa.e = type_a
JOIN singles sb ON sb.e = type_b, nu
"""


# TPC-H Q3 analog (shipping-priority top-k): segment filter → dim join →
# date-bracketed revenue agg → TakeOrderedAndProject. The benchmark's
# pushdown/top-k shape; money stays DECIMAL(18,2) until the end.
Q3_SEGMENT = "BUILDING"
Q3_DATE = "1995-03-15"


def q_top_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == Q3_SEGMENT
    ).select("c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(Q3_DATE).cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(Q3_DATE).cast("timestamp")
    )
    one = F.lit(1).cast("decimal(18,2)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(_dec("l_extendedprice") * (one - _dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .select(
            "l_orderkey",
            F.unix_millis(F.col("o_orderdate")).alias("o_orderdate_ms"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


ORACLE_TOP_UNSHIPPED_ORDERS = f"""
SELECT l_orderkey, epoch_ms(o_orderdate) AS o_orderdate_ms,
       o_orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = '{Q3_SEGMENT}'
  AND o_orderdate < TIMESTAMP '{Q3_DATE}'
  AND l_shipdate > TIMESTAMP '{Q3_DATE}'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# TPC-H Q18 analog (large-volume customers): HAVING over an exact
# decimal per-order quantity sum, semi-joined back through the dims.
Q18_MIN_QTY = 250


def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("_q"))
        .filter(F.col("_q") > Q18_MIN_QTY)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.unix_millis(F.col("o_orderdate")).alias("o_orderdate_ms"),
            F.col("_q").cast("double").alias("total_qty"),
        )
    )


ORACLE_LARGE_VOLUME_CUSTOMERS = f"""
WITH big AS (
  SELECT l_orderkey,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS q
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > {Q18_MIN_QTY})
SELECT c_custkey, c_name, o_orderkey,
       epoch_ms(o_orderdate) AS o_orderdate_ms,
       CAST(q AS DOUBLE) AS total_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


# Shuffle-skew diagnostic (the measurement behind the salting/capping
# levers: operators/aggregates.py key_skew_profile)
def q_user_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return agg_ops.key_skew_profile(events, "user_id", top_n=10)


ORACLE_USER_KEY_SKEW = """
WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key, COUNT(*) AS n_rows
           FROM events GROUP BY 1),
t AS (SELECT SUM(n_rows) AS tot FROM c),
top AS (SELECT key, n_rows FROM c ORDER BY n_rows DESC, key LIMIT 10)
SELECT CAST(row_number() OVER (ORDER BY n_rows DESC, key) AS BIGINT) AS rank,
       key, n_rows,
       round(CAST(n_rows AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share
FROM top, t
"""


# Declarative data-quality constraint suite (Deequ-style, SURVEY §2.11;
# operators/validation.constraint_report): every declared constraint —
# row predicates, uniqueness keys, referential targets — evaluated in
# ONE pass (one Expand shuffle for the multi-distinct, broadcast-marker
# FK joins, no per-constraint jobs). The constraint set deliberately
# mixes passing and failing checks so both report paths are hash-gated:
# the synthetic orders table has 'P'-status rows (in_set fails), many
# orders per customer (o_custkey uniqueness fails by design — it
# demonstrates the excess-rows metric), and a clean o_custkey→customer
# FK (passes with n_checked = the non-null reference count).
def q_orders_constraint_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from lol_data_collection_system_spark.operators.validation import (
        constraint_report,
    )

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return constraint_report(
        orders,
        row_checks=[
            ("orderkey_not_null", F.col("o_orderkey").isNull()),
            ("totalprice_positive", F.col("o_totalprice") <= 0),
            ("totalprice_min_5000", F.col("o_totalprice") < 5000),
            (
                "status_in_set",
                ~F.col("o_orderstatus").isin("O", "F"),
            ),
        ],
        unique=[
            ("orderkey_unique", ["o_orderkey"]),
            ("custkey_unique", ["o_custkey"]),
        ],
        fks=[
            ("custkey_fk_customer", "o_custkey", customer, "c_custkey"),
        ],
    )


ORACLE_ORDERS_CONSTRAINT_REPORT = """
WITH n AS (SELECT COUNT(*) AS n_rows FROM orders)
SELECT 'orderkey_not_null' AS constraint, n_rows AS n_checked,
       CAST(COALESCE(SUM(CASE WHEN o_orderkey IS NULL THEN 1 END), 0)
            AS BIGINT) AS n_violations,
       COALESCE(SUM(CASE WHEN o_orderkey IS NULL THEN 1 END), 0) = 0
         AS passed
FROM orders, n GROUP BY n_rows
UNION ALL
SELECT 'totalprice_positive', n_rows,
       CAST(COALESCE(SUM(CASE WHEN o_totalprice <= 0 THEN 1 END), 0)
            AS BIGINT),
       COALESCE(SUM(CASE WHEN o_totalprice <= 0 THEN 1 END), 0) = 0
FROM orders, n GROUP BY n_rows
UNION ALL
SELECT 'totalprice_min_5000', n_rows,
       CAST(COALESCE(SUM(CASE WHEN o_totalprice < 5000 THEN 1 END), 0)
            AS BIGINT),
       COALESCE(SUM(CASE WHEN o_totalprice < 5000 THEN 1 END), 0) = 0
FROM orders, n GROUP BY n_rows
UNION ALL
SELECT 'status_in_set', n_rows,
       CAST(COALESCE(SUM(CASE WHEN o_orderstatus NOT IN ('O','F')
                          THEN 1 END), 0) AS BIGINT),
       COALESCE(SUM(CASE WHEN o_orderstatus NOT IN ('O','F') THEN 1 END),
                0) = 0
FROM orders, n GROUP BY n_rows
UNION ALL
SELECT 'orderkey_unique', n_rows,
       CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT),
       COUNT(*) - COUNT(DISTINCT o_orderkey) = 0
FROM orders, n GROUP BY n_rows
UNION ALL
SELECT 'custkey_unique', n_rows,
       CAST(COUNT(*) - COUNT(DISTINCT o_custkey) AS BIGINT),
       COUNT(*) - COUNT(DISTINCT o_custkey) = 0
FROM orders, n GROUP BY n_rows
UNION ALL
SELECT 'custkey_fk_customer',
       CAST(COUNT(o_custkey) AS BIGINT),
       CAST(COALESCE(SUM(CASE WHEN o_custkey IS NOT NULL
                            AND o_custkey NOT IN
                                (SELECT c_custkey FROM customer
                                 WHERE c_custkey IS NOT NULL)
                          THEN 1 END), 0) AS BIGINT),
       COALESCE(SUM(CASE WHEN o_custkey IS NOT NULL
                       AND o_custkey NOT IN
                           (SELECT c_custkey FROM customer
                            WHERE c_custkey IS NOT NULL)
                     THEN 1 END), 0) = 0
FROM orders
"""


# k-anonymity risk profile (Sweeney 2002, SURVEY §2.11;
# operators/validation.k_anonymity_profile): re-identification risk of
# the (nation, segment, acctbal-kilobucket) quasi-identifier set on the
# customer dim — one keyed shuffle for group sizes, one global fold for
# all ks at once. Double math only through FLOOR on an IEEE double
# (identical in both engines); the share is rounded at 6 dp.
def q_customer_k_anonymity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from lol_data_collection_system_spark.operators.validation import (
        k_anonymity_profile,
    )

    customer = _t(spark, sf_dir, "customer")
    return k_anonymity_profile(
        customer,
        [
            F.col("c_nationkey"),
            F.col("c_mktsegment"),
            F.floor(F.col("c_acctbal") / F.lit(1000.0))
            .cast("bigint")
            .alias("acctbal_kb"),
        ],
        ks=(2, 5, 10, 25),
    )


def q_customer_l_diversity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distinct l-diversity of the market segment (the sensitive
    attribute) w.r.t. the (nation, acctbal-bucket) quasi-identifier
    set — the audit k-anonymity cannot make: a quasi group can be
    large yet homogeneous in the sensitive column (round 9, the
    governance family's homogeneity-attack read)."""
    from lol_data_collection_system_spark.operators.validation import (
        l_diversity_profile,
    )

    customer = _t(spark, sf_dir, "customer")
    return l_diversity_profile(
        customer,
        [
            F.col("c_nationkey"),
            F.floor(F.col("c_acctbal") / F.lit(1000.0))
            .cast("bigint")
            .alias("acctbal_kb"),
        ],
        "c_mktsegment",
        ls=(2, 3, 5),
    )


def q_customer_t_closeness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """t-closeness of the market segment w.r.t. the (nation,
    acctbal-bucket) quasi set (round 9) — the skewness-attack audit
    l-diversity cannot make: a group can be diverse yet distributed
    very differently from the table. Equal-distance EMD == total
    variation; all comparisons run on exact integers (micros)."""
    from lol_data_collection_system_spark.operators.validation import (
        t_closeness_profile,
    )

    customer = _t(spark, sf_dir, "customer")
    return t_closeness_profile(
        customer,
        [
            F.col("c_nationkey"),
            F.floor(F.col("c_acctbal") / F.lit(1000.0))
            .cast("bigint")
            .alias("acctbal_kb"),
        ],
        "c_mktsegment",
        ts=(0.2, 0.35, 0.5),
    )


ORACLE_CUSTOMER_T_CLOSENESS = """
WITH cell AS (
  SELECT c_nationkey,
         CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS acctbal_kb,
         c_mktsegment AS s, COUNT(*) AS gs
  FROM customer GROUP BY 1, 2, 3),
ghist AS (SELECT s, SUM(gs) AS Gs FROM cell GROUP BY 1),
tot AS (SELECT SUM(gs) AS G FROM cell),
gsz AS (SELECT c_nationkey, acctbal_kb, SUM(gs) AS g
        FROM cell GROUP BY 1, 2),
folded AS (
  SELECT z.c_nationkey, z.acctbal_kb, z.g,
         SUM(ABS(CAST(c.gs AS HUGEINT) * t.G
                 - CAST(gl.Gs AS HUGEINT) * z.g)
             - CAST(gl.Gs AS HUGEINT) * z.g)
           + CAST(MAX(t.G) AS HUGEINT) * z.g AS num,
         2 * CAST(z.g AS HUGEINT) * MAX(t.G) AS den
  FROM cell c
  JOIN ghist gl ON c.s IS NOT DISTINCT FROM gl.s
  JOIN gsz z ON z.c_nationkey = c.c_nationkey
            AND z.acctbal_kb = c.acctbal_kb
  CROSS JOIN tot t
  GROUP BY 1, 2, 3),
ts(t_micros, tval) AS (VALUES (200000, 0.2), (350000, 0.35),
                              (500000, 0.5))
SELECT CAST(tval AS DOUBLE) AS t,
       CAST(SUM(g) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(COALESCE(SUM(CASE WHEN num * 1000000 > t_micros * den
                          THEN 1 END), 0) AS BIGINT) AS groups_above,
       CAST(COALESCE(SUM(CASE WHEN num * 1000000 > t_micros * den
                          THEN g END), 0) AS BIGINT) AS rows_above,
       round(CAST(COALESCE(SUM(CASE WHEN num * 1000000 > t_micros * den
                            THEN g END), 0) AS DOUBLE) / SUM(g), 6)
         AS risk_share
FROM ts, folded GROUP BY t_micros, tval
"""


ORACLE_CUSTOMER_L_DIVERSITY = """
WITH sizes AS (
  SELECT c_nationkey,
         CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS acctbal_kb,
         COUNT(*) AS g,
         COUNT(DISTINCT c_mktsegment)
           + MAX(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS d
  FROM customer GROUP BY 1, 2),
ls(l) AS (VALUES (2), (3), (5))
SELECT CAST(l AS INT) AS l,
       CAST(SUM(g) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(COALESCE(SUM(CASE WHEN d < l THEN 1 END), 0) AS BIGINT)
         AS groups_below,
       CAST(COALESCE(SUM(CASE WHEN d < l THEN g END), 0) AS BIGINT)
         AS rows_below,
       round(CAST(COALESCE(SUM(CASE WHEN d < l THEN g END), 0) AS DOUBLE)
             / SUM(g), 6) AS risk_share
FROM ls, sizes GROUP BY l
"""


ORACLE_CUSTOMER_K_ANONYMITY = """
WITH sizes AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS acctbal_kb,
         COUNT(*) AS g
  FROM customer GROUP BY 1, 2, 3),
ks(k) AS (VALUES (2), (5), (10), (25))
SELECT CAST(k AS INT) AS k,
       CAST(SUM(g) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(COALESCE(SUM(CASE WHEN g < k THEN 1 END), 0) AS BIGINT)
         AS groups_below,
       CAST(COALESCE(SUM(CASE WHEN g < k THEN g END), 0) AS BIGINT)
         AS rows_below,
       round(CAST(COALESCE(SUM(CASE WHEN g < k THEN g END), 0) AS DOUBLE)
             / SUM(g), 6) AS risk_share
FROM ks, sizes GROUP BY k
"""


# Exact per-group percentiles: Spark `percentile` and DuckDB
# `quantile_cont` share the p·(n−1) linear-interpolation definition, so
# a 6-dp round absorbs only last-ulp float noise.
def q_order_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    pct = F.expr("percentile(o_totalprice, array(0.5D, 0.9D, 0.99D))")
    agg = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"), pct.alias("_p")
    )
    return agg.select(
        "o_orderpriority",
        "n_orders",
        F.round(F.col("_p")[0], 6).alias("p50"),
        F.round(F.col("_p")[1], 6).alias("p90"),
        F.round(F.col("_p")[2], 6).alias("p99"),
    )


ORACLE_ORDER_PRICE_PERCENTILES = """
SELECT o_orderpriority, COUNT(*) AS n_orders,
       round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5), 6) AS p50,
       round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.9), 6) AS p90,
       round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.99), 6) AS p99
FROM orders GROUP BY o_orderpriority
"""


# ROLLUP subtotals (multi-level aggregation surface): NULL group labels
# from the rollup are coalesced to 'ALL' so both engines emit identical
# subtotal rows without relying on grouping-id bit conventions.
def q_order_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias(
                "priority"
            ),
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            "n_orders",
        )
    )


ORACLE_ORDER_ROLLUP_COUNTS = """
SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
       COALESCE(o_orderstatus, 'ALL') AS status,
       COUNT(*) AS n_orders
FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
"""


def q_order_cube_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE completion of the multi-level agg surface (ROLLUP above):
    all four grouping combinations of (priority, status) in ONE Expand
    pass — counts + exact decimal revenue, NULL cells labeled 'ALL'."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("revenue"),
        )
        .select(
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias(
                "priority"
            ),
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            "n_orders",
            "revenue",
        )
    )


ORACLE_ORDER_CUBE_TOTALS = """
SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
       COALESCE(o_orderstatus, 'ALL') AS status,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""


# Event-sequence analytics (operators/funnels.py): the general forms of
# the reference's stage-count monitor (monitor/views/gathering.py:25-71)
FUNNEL_STEPS = ["view", "click", "purchase"]
FUNNEL_WITHIN_S = 86_400  # each step within 24 h of the previous


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order first-occurrence conversion funnel
    view→click→purchase, each step within 24 h of the previous:
    (step, event_type, n_users, conversion)."""
    from lol_data_collection_system_spark.operators import funnels

    events = _t(spark, sf_dir, "events")
    return funnels.funnel(events, FUNNEL_STEPS, FUNNEL_WITHIN_S)


def _funnel_oracle() -> str:
    within_us = FUNNEL_WITHIN_S * 1_000_000
    s1, s2, s3 = FUNNEL_STEPS
    return f"""
WITH ev AS (SELECT user_id AS u, event_type AS e, epoch_us(ts) AS t
            FROM events),
f1 AS (SELECT u, MIN(t) AS prev FROM ev WHERE e = '{s1}' GROUP BY u),
f2 AS (SELECT ev.u, MIN(t) AS prev
       FROM ev JOIN f1 USING (u)
       WHERE e = '{s2}' AND t > f1.prev AND t <= f1.prev + {within_us}
       GROUP BY ev.u),
f3 AS (SELECT ev.u, MIN(t) AS prev
       FROM ev JOIN f2 USING (u)
       WHERE e = '{s3}' AND t > f2.prev AND t <= f2.prev + {within_us}
       GROUP BY ev.u),
counts AS (
  SELECT CAST(1 AS BIGINT) AS step, '{s1}' AS event_type,
         COUNT(*) AS n_users FROM f1
  UNION ALL
  SELECT CAST(2 AS BIGINT), '{s2}', COUNT(*) FROM f2
  UNION ALL
  SELECT CAST(3 AS BIGINT), '{s3}', COUNT(*) FROM f3),
base AS (SELECT COUNT(*) AS n1 FROM f1)
SELECT step, event_type, n_users,
       CASE WHEN n1 > 0
            THEN round(CAST(n_users AS DOUBLE) / n1, 6)
            ELSE 0.0 END AS conversion
FROM counts, base
"""


def q_conversion_latency_quartiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-to-convert distribution for the standard funnel: exact
    p25/p50/p75/p90 of seconds from first view to the completing
    purchase (same strict-order fold as `event_funnel`, carrying the
    step-1 time through; `funnels.conversion_latency`). One row."""
    from lol_data_collection_system_spark.operators import funnels

    events = _t(spark, sf_dir, "events")
    lat = funnels.conversion_latency(events, FUNNEL_STEPS, FUNNEL_WITHIN_S)
    pct = F.expr("percentile(latency_s, array(0.25, 0.5, 0.75, 0.9))")
    return lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.element_at(pct, 1), 6).alias("p25_s"),
        F.round(F.element_at(pct, 2), 6).alias("p50_s"),
        F.round(F.element_at(pct, 3), 6).alias("p75_s"),
        F.round(F.element_at(pct, 4), 6).alias("p90_s"),
    )


def _latency_oracle() -> str:
    within_us = FUNNEL_WITHIN_S * 1_000_000
    s1, s2, s3 = FUNNEL_STEPS
    return f"""
WITH ev AS (SELECT user_id AS u, event_type AS e, epoch_us(ts) AS t
            FROM events),
f1 AS (SELECT u, MIN(t) AS prev, MIN(t) AS t0 FROM ev WHERE e = '{s1}'
       GROUP BY u),
f2 AS (SELECT ev.u, f1.t0, MIN(t) AS prev
       FROM ev JOIN f1 USING (u)
       WHERE e = '{s2}' AND t > f1.prev AND t <= f1.prev + {within_us}
       GROUP BY ev.u, f1.t0),
f3 AS (SELECT ev.u, f2.t0, MIN(t) AS prev
       FROM ev JOIN f2 USING (u)
       WHERE e = '{s3}' AND t > f2.prev AND t <= f2.prev + {within_us}
       GROUP BY ev.u, f2.t0),
lat AS (SELECT round((prev - t0) / 1000000.0, 6) AS latency_s FROM f3)
SELECT count(*) AS n_converted,
       round(quantile_cont(latency_s, 0.25), 6) AS p25_s,
       round(quantile_cont(latency_s, 0.5), 6) AS p50_s,
       round(quantile_cont(latency_s, 0.75), 6) AS p75_s,
       round(quantile_cont(latency_s, 0.9), 6) AS p90_s
FROM lat
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention triangle: users bucketed by first-seen day, distinct
    actives per week offset: (cohort_day_ms, week_offset, n_users,
    retention)."""
    from lol_data_collection_system_spark.operators import funnels

    events = _t(spark, sf_dir, "events")
    return funnels.cohort_retention(events)


ORACLE_COHORT_RETENTION = """
WITH ev AS (SELECT user_id AS u,
                   epoch_ms(date_trunc('day', ts)) AS d
            FROM events),
cohort AS (SELECT u, MIN(d) AS c FROM ev GROUP BY u),
joined AS (
  SELECT ev.u, c,
         CAST(floor((d - c) / 604800000.0) AS BIGINT) AS w
  FROM ev JOIN cohort USING (u)),
cell AS (SELECT c, w, COUNT(DISTINCT u) AS n_users
         FROM joined GROUP BY c, w),
sz AS (SELECT c, COUNT(*) AS s FROM cohort GROUP BY c)
SELECT c AS cohort_day_ms, w AS week_offset, n_users,
       round(CAST(n_users AS DOUBLE) / s, 6) AS retention
FROM cell JOIN sz USING (c)
"""


def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next_type | current_type) with counts — the
    order-SENSITIVE complement of `event_pair_affinity`'s co-occurrence
    view (lag window per user; ms+event_id total order so both engines
    walk identical sequences). Per-state totals come from a tiny
    states×states aggregate self-join, never a window over the counts."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_millis("ts"), F.col("event_id")
    )
    pairs = (
        events.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    totals = pairs.groupBy("prev_type").agg(
        F.sum("n_transitions").alias("n_from")
    )
    return pairs.join(F.broadcast(totals), "prev_type").select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double") / F.col("n_from"), 6
        ).alias("prob"),
    )


ORACLE_EVENT_TRANSITION_MATRIX = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (
           PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
         ) AS prev_type
  FROM events),
pairs AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n_transitions
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2),
totals AS (
  SELECT prev_type, sum(n_transitions) AS n_from FROM pairs GROUP BY 1)
SELECT p.prev_type, p.next_type,
       CAST(p.n_transitions AS BIGINT) AS n_transitions,
       round(CAST(p.n_transitions AS DOUBLE) / n_from, 6) AS prob
FROM pairs p JOIN totals USING (prev_type)
"""


def q_event_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type linear trend of event `value` over time (slope per hour,
    intercept, r²) — closed-form OLS from exact decimal moments in ONE
    map-combined pass (`aggregates.linreg_by_group`). x is the integer
    hour index since the corpus start (centered so the moment products
    stay small and exact — raw epoch hours squared would throw away the
    sub-unit digits of the x moments)."""
    events = _t(spark, sf_dir, "events")
    hour_idx = F.expr("unix_millis(ts) DIV 3600000")
    mn = events.select(F.min(hour_idx).alias("mn"))
    base = events.crossJoin(F.broadcast(mn)).select(
        "event_type",
        (hour_idx - F.col("mn")).cast("double").alias("x"),
        F.col("value").alias("y"),
    )
    return agg_ops.linreg_by_group(
        base, ["event_type"], F.col("x"), F.col("y")
    )


ORACLE_EVENT_VALUE_TREND = """
WITH base AS (
  SELECT event_type,
         CAST(epoch_ms(ts) // 3600000
              - (SELECT min(epoch_ms(ts) // 3600000) FROM events)
              AS DOUBLE) AS x,
         value AS y
  FROM events),
snapped AS (
  SELECT event_type,
         CAST(x AS DECIMAL(18,6)) AS xd,
         CAST(y AS DECIMAL(18,6)) AS yd
  FROM base),
m AS (
  SELECT event_type,
         count(*) AS n,
         sum(xd) AS sx, sum(yd) AS sy,
         sum(xd * yd) AS sxy,
         sum(xd * xd) AS sxx,
         sum(yd * yd) AS syy
  FROM snapped GROUP BY event_type),
d AS (
  SELECT event_type, n,
         CAST(n AS DOUBLE) AS nd,
         CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
         CAST(sxy AS DOUBLE) AS sxy, CAST(sxx AS DOUBLE) AS sxx,
         CAST(syy AS DOUBLE) AS syy
  FROM m)
SELECT event_type, n,
       round(CASE WHEN nd * sxx - sx * sx <> 0
                  THEN (nd * sxy - sx * sy) / (nd * sxx - sx * sx) END, 6)
         AS slope,
       round(CASE WHEN nd * sxx - sx * sx <> 0
                  THEN (sy - ((nd * sxy - sx * sy) / (nd * sxx - sx * sx))
                        * sx) / nd END, 6) AS intercept,
       round(CASE WHEN nd * sxx - sx * sx <> 0 AND nd * syy - sy * sy <> 0
                  THEN ((nd * sxy - sx * sy) * (nd * sxy - sx * sy))
                       / ((nd * sxx - sx * sx) * (nd * syy - sy * sy)) END, 6)
         AS r2
FROM d
"""


PATH_GAP_MIN = 30
PATH_TOPK = 15
PATH_MAX_STEPS = 8


def q_top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey mining: the 15 most common session paths, where a
    path is the ordered event-type sequence of one session (30-minute
    inactivity gap), truncated to its first 8 steps. The path string is
    assembled per session with an ordered window collect (bounded by
    session length), paths count via one hash agg, and the head is
    TakeOrderedAndProject — the corpus never sorts globally."""
    events = _t(spark, sf_dir, "events")
    sess = window_ops.sessionize(events, ["user_id"], "ts", PATH_GAP_MIN * 60_000)
    w = (
        Window.partitionBy("user_id", "session_id")
        .orderBy(F.unix_millis("ts"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    per_session = (
        sess.withColumn("path_arr", F.collect_list("event_type").over(w))
        .groupBy("user_id", "session_id")
        .agg(
            F.concat_ws(
                ">", F.slice(F.first("path_arr"), 1, PATH_MAX_STEPS)
            ).alias("path")
        )
    )
    return (
        per_session.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path"))
        .limit(PATH_TOPK)
    )


ORACLE_TOP_SESSION_PATHS = f"""
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         epoch_ms(ts) AS ms,
         lag(epoch_ms(ts)) OVER (
           PARTITION BY user_id ORDER BY ts) AS prev_ms
  FROM events),
flagged AS (
  SELECT user_id, event_type, ms, event_id,
         CASE WHEN prev_ms IS NULL
                   OR ms - prev_ms > {PATH_GAP_MIN * 60_000} THEN 1
              ELSE 0 END AS new_sess
  FROM ordered),
sess AS (
  SELECT user_id, event_type, ms, event_id,
         sum(new_sess) OVER (
           PARTITION BY user_id ORDER BY ms, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged),
paths AS (
  SELECT user_id, session_id,
         array_to_string(
           list(event_type ORDER BY ms, event_id)[1:{PATH_MAX_STEPS}],
           '>') AS path
  FROM sess GROUP BY user_id, session_id)
SELECT path, count(*) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path LIMIT {PATH_TOPK}
"""


CORR_COLS = ["l_discount", "l_extendedprice", "l_quantity", "l_tax"]


def q_lineitem_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix of the four lineitem
    numeric measures in one moment pass
    (`aggregates.correlation_matrix`) — the feature-engineering /
    stats-collection staple, decimal-exact."""
    li = _t(spark, sf_dir, "lineitem")
    # widen before the moment pass: the single aggregate does 15
    # decimal-product sums per row, heavy enough that a narrow scan
    # (one task on a single-row-group file) dominates the query; the
    # probe-based widen is a no-op at production scale where scans are
    # already wide (r11 §class A/B: this query -0.67 s, the rest of the
    # scan-agg class neutral-to-negative, so the widen stays here only)
    from lol_data_collection_system_spark.operators.similarity import (
        widen_partitions,
    )

    return agg_ops.correlation_matrix(
        widen_partitions(li, "l_orderkey"), CORR_COLS
    )


def _corr_oracle() -> str:
    cols = sorted(CORR_COLS)
    # DECIMAL(19,6), not 18: DuckDB stores <=18-digit decimals in int64
    # and overflows their products instead of widening — precision 19
    # promotes to HUGEINT storage, giving the exact (38,12) products
    # that mirror Spark's decimal(18,6)x(18,6)->(37,12). Same rationals,
    # same sums.
    snap = {c: f"CAST(CAST({c} AS DOUBLE) AS DECIMAL(19,6))" for c in cols}
    sums = ["count(*) AS n"]
    for c in cols:
        sums.append(f"sum({snap[c]}) AS s_{c}")
        sums.append(f"sum({snap[c]} * {snap[c]}) AS ss_{c}")
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    for a, b in pairs:
        sums.append(f"sum({snap[a]} * {snap[b]}) AS sp_{a}_{b}")
    sel = []
    for a, b in pairs:
        cov = (
            f"(CAST(n AS DOUBLE) * CAST(sp_{a}_{b} AS DOUBLE)"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
        )
        va = (
            f"(CAST(n AS DOUBLE) * CAST(ss_{a} AS DOUBLE)"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
        )
        vb = (
            f"(CAST(n AS DOUBLE) * CAST(ss_{b} AS DOUBLE)"
            f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
        )
        sel.append(
            f"SELECT '{a}' AS col_a, '{b}' AS col_b, n,\n"
            f"       CASE WHEN {va} <> 0 AND {vb} <> 0 THEN\n"
            f"         round({cov} / sqrt({va} * {vb}), 6) END AS corr\n"
            f"FROM m"
        )
    return (
        "WITH m AS (\n  SELECT "
        + ",\n         ".join(sums)
        + "\n  FROM lineitem)\n"
        + "\nUNION ALL ".join(sel)
    )


ORACLE_LINEITEM_CORRELATIONS = _corr_oracle()


EQD_BUCKETS = 8


def q_price_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-frequency) histogram of lineitem prices: 8
    buckets split at exact octile cutoffs — the selectivity-estimation
    staple (equi-WIDTH histograms hide skew; equi-depth is what a
    query optimizer's stats store). Cutoffs come from ONE exact
    `percentile` aggregate (1-row broadcast); bucket assignment is a
    codegen comparison chain against the cutoff array — the corpus
    never sorts. Counts are exact; bounds reported per bucket."""
    li = _t(spark, sf_dir, "lineitem")
    ps = [i / EQD_BUCKETS for i in range(1, EQD_BUCKETS)]
    # exact_percentiles replaces the Percentile aggregate: on this
    # ~1-distinct-per-row column the aggregate's single-reducer map merge
    # dominated the query (3.2 s of 3.8); the rewrite counts in a
    # parallel hash-agg and scans only distinct values once,
    # bit-identical cuts (r11 optimization).
    cuts = agg_ops.exact_percentiles(li, "l_extendedprice", ps)
    bucket = F.lit(0)
    for i in range(len(ps)):
        bucket = bucket + F.when(
            F.col("l_extendedprice") > F.element_at("cuts", i + 1), 1
        ).otherwise(0)
    return (
        li.crossJoin(F.broadcast(cuts))
        .select(bucket.alias("bucket"), "l_extendedprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("l_extendedprice"), 2).alias("lo"),
            F.round(F.max("l_extendedprice"), 2).alias("hi"),
        )
    )


def _equidepth_oracle() -> str:
    ps = [i / EQD_BUCKETS for i in range(1, EQD_BUCKETS)]
    cases = " + ".join(
        f"CASE WHEN l_extendedprice > cuts[{i + 1}] THEN 1 ELSE 0 END"
        for i in range(len(ps))
    )
    return f"""
WITH c AS (
  SELECT quantile_cont(l_extendedprice,
                       [{', '.join(repr(p) for p in ps)}]) AS cuts
  FROM lineitem)
SELECT ({cases}) AS bucket,
       count(*) AS n_rows,
       round(min(l_extendedprice), 2) AS lo,
       round(max(l_extendedprice), 2) AS hi
FROM lineitem CROSS JOIN c
GROUP BY 1
"""


ORACLE_PRICE_EQUIDEPTH_HISTOGRAM = _equidepth_oracle()


GAP_MOD = 4  # every 4th hour bucket is dropped -> a real gap to repair


def q_gap_filled_value_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap repair: hourly mean event value per type with
    every {GAP_MOD}th bucket deterministically dropped (the in-plan
    damage trick), then densified and LINEARLY INTERPOLATED between
    known neighbors (`windows.gap_fill_interpolate`). Edge gaps stay
    NULL; `filled` flags buckets whose value was actually interpolated
    (edge buckets that stay NULL are filled=false)."""
    events = _t(spark, sf_dir, "events")
    hour_idx = F.expr("unix_millis(ts) DIV 3600000")
    hourly = (
        events.filter(hour_idx % GAP_MOD != 0)
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("b"))
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_value")
        )
    )
    return window_ops.gap_fill_interpolate(
        hourly, ["event_type"], "b", "mean_value"
    )


ORACLE_GAP_FILLED_VALUE_SERIES = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS b,
         round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
               / count(*), 6) AS v
  FROM events
  WHERE (epoch_ms(ts) // 3600000) % {GAP_MOD} != 0
  GROUP BY 1, 2),
bounds AS (SELECT min(b) AS mn, max(b) AS mx FROM hourly),
keys AS (SELECT DISTINCT event_type FROM hourly),
grid AS (
  SELECT k.event_type, unnest(generate_series(o.mn, o.mx, INTERVAL 1 HOUR))
           AS b
  FROM keys k CROSS JOIN bounds o),
dense AS (
  SELECT grid.event_type, grid.b, hourly.v
  FROM grid LEFT JOIN hourly
    ON grid.event_type = hourly.event_type AND grid.b = hourly.b),
w AS (
  SELECT event_type, epoch_ms(b) AS ms, v,
         last_value(v IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         last_value(CASE WHEN v IS NOT NULL THEN epoch_ms(b) END
                    IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
         first_value(v IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY b
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN v IS NOT NULL THEN epoch_ms(b) END
                     IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY b
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
  FROM dense)
SELECT event_type, ms AS bucket_ms,
       CASE WHEN v IS NOT NULL THEN v
            WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
              pv + (nv - pv)
                 * (CAST(ms - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
       END AS mean_value,
       (v IS NULL AND pv IS NOT NULL AND nv IS NOT NULL) AS filled
FROM w
"""


SCD2_T0 = 1_000
SCD2_T1 = 2_000


def q_customer_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension history end-to-end: bootstrap the customer
    dimension at T0, then fold in a key-derived second snapshot at T1
    (every 13th key vanished, every 7th changed balance, every 11th
    key re-registered under a new id) — closes/opens validity intervals
    per `sources/snapshot.scd2_apply`. Both engines derive the same
    snapshots, so the full history table is hash-gated."""
    from lol_data_collection_system_spark.sources.snapshot import (
        scd2_apply,
        scd2_init,
    )

    cust = _t(spark, sf_dir, "customer")
    keys = ["c_custkey"]
    tracked = ["c_acctbal", "c_mktsegment"]
    snap1 = cust.select(*keys, *tracked)
    hist0 = scd2_init(snap1, keys, tracked, SCD2_T0)
    survivors = cust.filter(F.col("c_custkey") % 13 != 0).select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + F.lit(10.0)
        )
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
        "c_mktsegment",
    )
    newcomers = cust.filter(F.col("c_custkey") % 11 == 0).select(
        (F.col("c_custkey") + F.lit(1_000_000)).alias("c_custkey"),
        F.lit(0.0).alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
    )
    snap2 = survivors.unionByName(newcomers)
    return scd2_apply(hist0, snap2, keys, tracked, SCD2_T1)


ORACLE_CUSTOMER_SCD2_HISTORY = f"""
WITH snap2 AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 10.0
              ELSE c_acctbal END AS c_acctbal,
         c_mktsegment
  FROM customer WHERE c_custkey % 13 != 0
  UNION ALL
  SELECT c_custkey + 1000000, 0.0, 'NEW'
  FROM customer WHERE c_custkey % 11 = 0),
j AS (
  SELECT coalesce(h.c_custkey, s.c_custkey) AS c_custkey,
         h.c_acctbal AS h_bal, h.c_mktsegment AS h_seg,
         s.c_acctbal AS s_bal, s.c_mktsegment AS s_seg,
         h.c_custkey IS NOT NULL AS in_hist,
         s.c_custkey IS NOT NULL AS in_snap,
         NOT (h.c_acctbal IS NOT DISTINCT FROM s.c_acctbal
              AND h.c_mktsegment IS NOT DISTINCT FROM s.c_mktsegment)
           AS changed
  FROM customer h FULL OUTER JOIN snap2 s USING (c_custkey))
SELECT c_custkey, h_bal AS c_acctbal, h_seg AS c_mktsegment,
       CAST({SCD2_T0} AS BIGINT) AS valid_from_ms,
       CAST(NULL AS BIGINT) AS valid_to_ms
FROM j WHERE in_hist AND in_snap AND NOT changed
UNION ALL
SELECT c_custkey, h_bal, h_seg,
       CAST({SCD2_T0} AS BIGINT), CAST({SCD2_T1} AS BIGINT)
FROM j WHERE in_hist AND (NOT in_snap OR changed)
UNION ALL
SELECT c_custkey, s_bal, s_seg,
       CAST({SCD2_T1} AS BIGINT), CAST(NULL AS BIGINT)
FROM j WHERE in_snap AND (NOT in_hist OR changed)
"""


def q_orders_scd2_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time fact enrichment against the SCD2 dimension — the
    canonical warehouse composition the SCD2 history exists FOR: each
    order joins the customer VERSION valid at its (synthesized,
    closed-form) event time. Plan shape: plain EQUI-join on the customer
    key with the validity interval as a join-side filter — versions per
    key are few and intervals partition time, so this is one keyed
    shuffle, never a range/nested-loop join. Orphaned facts (event after
    the key's last interval closed) keep their row with NULL dims."""
    hist = q_customer_scd2_history(spark, sf_dir)
    orders = _t(spark, sf_dir, "orders")
    facts = orders.select(
        "o_orderkey",
        "o_custkey",
        (F.lit(1000) + (F.col("o_orderkey") % 3) * 750)
        .cast("bigint")
        .alias("event_ms"),
    )
    cond = (
        (facts["o_custkey"] == hist["c_custkey"])
        & (hist["valid_from_ms"] <= facts["event_ms"])
        & (
            hist["valid_to_ms"].isNull()
            | (facts["event_ms"] < hist["valid_to_ms"])
        )
    )
    return facts.join(hist, cond, "left").select(
        "o_orderkey",
        "event_ms",
        F.col("c_acctbal").alias("acctbal_at"),
        F.col("c_mktsegment").alias("mktsegment_at"),
    )


ORACLE_ORDERS_SCD2_ENRICHED = f"""
WITH hist AS ({ORACLE_CUSTOMER_SCD2_HISTORY}),
facts AS (
  SELECT o_orderkey, o_custkey,
         CAST(1000 + (o_orderkey % 3) * 750 AS BIGINT) AS event_ms
  FROM orders)
SELECT f.o_orderkey, f.event_ms,
       h.c_acctbal AS acctbal_at,
       h.c_mktsegment AS mktsegment_at
FROM facts f LEFT JOIN hist h
  ON h.c_custkey = f.o_custkey
 AND h.valid_from_ms <= f.event_ms
 AND (h.valid_to_ms IS NULL OR f.event_ms < h.valid_to_ms)
"""


def q_basket_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dispersion index (variance/mean) of order basket sizes — the
    overdispersion check against the Poisson null (index ≈ 1 means
    Poisson-like arrivals; ≫ 1 means clumping). Per-order counts from
    one keyed aggregate, exact integer moments over the ORDER frame,
    one closed-form row."""
    li = _t(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("sz")
    )
    m = per_order.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("sz").alias("_s"),
        F.sum(F.col("sz") * F.col("sz")).alias("_ss"),
    )
    n = F.col("n_orders").cast("double")
    mean = F.col("_s").cast("double") / n
    var = (F.col("_ss").cast("double") - n * mean * mean) / (n - F.lit(1.0))
    return m.select(
        "n_orders",
        F.round(mean, 6).alias("mean_items"),
        F.round(var, 6).alias("var_items"),
        F.round(var / mean, 6).alias("dispersion_index"),
    )


ORACLE_BASKET_DISPERSION = """
WITH per_order AS (
  SELECT l_orderkey, count(*) AS sz FROM lineitem GROUP BY 1),
m AS (
  SELECT count(*) AS n_orders, sum(sz) AS s, sum(sz * sz) AS ss
  FROM per_order)
SELECT n_orders,
       round(CAST(s AS DOUBLE) / CAST(n_orders AS DOUBLE), 6) AS mean_items,
       round((CAST(ss AS DOUBLE)
              - CAST(n_orders AS DOUBLE)
                * (CAST(s AS DOUBLE) / CAST(n_orders AS DOUBLE))
                * (CAST(s AS DOUBLE) / CAST(n_orders AS DOUBLE)))
             / (CAST(n_orders AS DOUBLE) - 1.0), 6) AS var_items,
       round(((CAST(ss AS DOUBLE)
               - CAST(n_orders AS DOUBLE)
                 * (CAST(s AS DOUBLE) / CAST(n_orders AS DOUBLE))
                 * (CAST(s AS DOUBLE) / CAST(n_orders AS DOUBLE)))
              / (CAST(n_orders AS DOUBLE) - 1.0))
             / (CAST(s AS DOUBLE) / CAST(n_orders AS DOUBLE)), 6)
         AS dispersion_index
FROM m
"""


HILL_K = 100


def q_price_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the price distribution's tail index — the
    heavy-tail diagnostic (α < 2 means variance-infinite territory
    where means and CIs mislead; read this BEFORE trusting
    mean-based stats on a skewed measure). α = k / Σ ln(x₍ᵢ₎/x₍ₖ₊₁₎)
    over the k largest values: TakeOrderedAndProject gets the k+1 top
    order statistics, the k+1-th broadcasts as the 1-row pivot, and
    the ln terms are 6-dp-rounded decimal sums (the repo's ln
    contract). One row."""
    li = _t(spark, sf_dir, "lineitem")
    top = (
        li.select(
            F.col("l_extendedprice").alias("x"),
            "l_orderkey",
            "l_linenumber",
        )
        .orderBy(
            F.col("x").desc(), F.col("l_orderkey"), F.col("l_linenumber")
        )
        .limit(HILL_K + 1)
    )
    w = Window.orderBy(
        F.col("x").desc(), F.col("l_orderkey"), F.col("l_linenumber")
    )
    ranked = top.withColumn("rk", F.row_number().over(w))
    pivot = ranked.filter(F.col("rk") == HILL_K + 1).select(
        F.col("x").alias("xk1")
    )
    terms = (
        ranked.filter(F.col("rk") <= HILL_K)
        .crossJoin(F.broadcast(pivot))
        .select(
            F.round(F.log(F.col("x") / F.col("xk1")), 6)
            .cast("decimal(18,6)")
            .alias("term")
        )
    )
    return terms.agg(
        F.lit(HILL_K).cast("bigint").alias("k"),
        F.round(
            F.lit(float(HILL_K)) / F.sum("term").cast("double"), 6
        ).alias("hill_alpha"),
    )


ORACLE_PRICE_TAIL_INDEX = f"""
WITH top AS (
  SELECT l_extendedprice AS x, l_orderkey, l_linenumber
  FROM lineitem
  ORDER BY x DESC, l_orderkey, l_linenumber
  LIMIT {HILL_K + 1}),
ranked AS (
  SELECT x, ROW_NUMBER() OVER (
    ORDER BY x DESC, l_orderkey, l_linenumber) AS rk
  FROM top),
pvt AS (SELECT x AS xk1 FROM ranked WHERE rk = {HILL_K + 1}),
terms AS (
  SELECT CAST(round(ln(x / xk1), 6) AS DECIMAL(18,6)) AS term
  FROM ranked CROSS JOIN pvt WHERE rk <= {HILL_K})
SELECT CAST({HILL_K} AS BIGINT) AS k,
       round(CAST({float(HILL_K)!r} AS DOUBLE)
             / CAST(sum(term) AS DOUBLE), 6) AS hill_alpha
FROM terms
"""


def q_repeat_order_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier time-to-second-order: per customer the days from
    first to second order (single-order customers right-censored at the
    corpus horizon), folded through `funnels.km_survival` — 'how long
    until a customer comes back', censoring handled properly instead of
    dropping one-timers."""
    from lol_data_collection_system_spark.operators import funnels

    orders = _t(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    firsts = orders.groupBy("o_custkey").agg(F.min(d).alias("f1"))
    seconds = (
        orders.join(firsts, "o_custkey")
        .filter(d > F.col("f1"))
        .groupBy("o_custkey")
        .agg(F.min(d).alias("f2"))
    )
    mx = orders.agg(F.max(d).alias("mxd"))
    durations = (
        firsts.join(seconds, "o_custkey", "left")
        .crossJoin(F.broadcast(mx))
        .select(
            F.when(
                F.col("f2").isNotNull(), F.datediff("f2", "f1")
            )
            .otherwise(F.datediff("mxd", "f1"))
            .cast("bigint")
            .alias("t"),
            F.col("f2").isNotNull().alias("observed"),
        )
    )
    return funnels.km_survival(durations)


ORACLE_REPEAT_ORDER_SURVIVAL = """
WITH firsts AS (
  SELECT o_custkey, min(CAST(o_orderdate AS DATE)) AS f1
  FROM orders GROUP BY 1),
seconds AS (
  SELECT o.o_custkey, min(CAST(o_orderdate AS DATE)) AS f2
  FROM orders o JOIN firsts USING (o_custkey)
  WHERE CAST(o_orderdate AS DATE) > f1
  GROUP BY 1),
mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS mxd FROM orders),
durations AS (
  SELECT CAST(CASE WHEN f2 IS NOT NULL
                   THEN date_diff('day', f1, f2)
                   ELSE date_diff('day', f1, mxd) END AS BIGINT) AS t,
         f2 IS NOT NULL AS observed
  FROM firsts LEFT JOIN seconds USING (o_custkey) CROSS JOIN mx),
per_t AS (
  SELECT t,
         CAST(sum(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT) AS d,
         count(*) AS leave
  FROM durations GROUP BY t),
risk AS (
  SELECT t, d,
         sum(leave) OVER (ORDER BY t DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_at_risk
  FROM per_t),
surv AS (
  SELECT t, d, n_at_risk,
         list_reduce(
           list_prepend(CAST(1.0 AS DOUBLE),
             list(1.0 - CAST(d AS DOUBLE) / CAST(n_at_risk AS DOUBLE))
               OVER (ORDER BY t ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
           (acc, x) -> acc * x) AS s
  FROM risk)
SELECT t, CAST(n_at_risk AS BIGINT) AS n_at_risk, d AS n_events,
       round(s, 6) AS survival
FROM surv WHERE d > 0
"""


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (the marketing-analytics classic): per customer
    Recency (days since last order), Frequency (orders), Monetary
    (total spend) → tercile scores 1-3 per dimension from exact global
    percentile cutoffs (broadcast 1-row; assignment is a codegen
    comparison chain — the customer frame never sorts) → one row per
    (r, f, m) cell with customer count and mean spend."""
    orders = _t(spark, sf_dir, "orders")
    mx = orders.agg(F.max("o_orderdate").alias("mxd"))
    per_cust = (
        orders.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("f"),
            F.sum(_dec("o_totalprice")).alias("m"),
            F.max("o_orderdate").alias("_last"),
            F.first("mxd").alias("_mxd"),
        )
        .select(
            "o_custkey",
            F.datediff(F.to_date("_mxd"), F.to_date("_last"))
            .cast("double")
            .alias("r"),
            F.col("f").cast("double").alias("f"),
            F.col("m").cast("double").alias("m"),
        )
    )
    cuts = per_cust.agg(
        F.expr("percentile(r, array(0.3333333333333333, 0.6666666666666666))").alias("rc"),
        F.expr("percentile(f, array(0.3333333333333333, 0.6666666666666666))").alias("fc"),
        F.expr("percentile(m, array(0.3333333333333333, 0.6666666666666666))").alias("mc"),
    )

    def score(v: str, c: str, invert: bool) -> "F.Column":
        s = (
            F.lit(1)
            + F.when(F.col(v) > F.element_at(F.col(c), 1), 1).otherwise(0)
            + F.when(F.col(v) > F.element_at(F.col(c), 2), 1).otherwise(0)
        )
        # recency: LOW days = best -> invert so 3 is always "best"
        return (F.lit(4) - s) if invert else s

    scored = per_cust.crossJoin(F.broadcast(cuts)).select(
        score("r", "rc", True).alias("r_score"),
        score("f", "fc", False).alias("f_score"),
        score("m", "mc", False).alias("m_score"),
        "m",
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(
            F.sum(F.col("m").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_spend"),
    )


ORACLE_RFM_SEGMENTS = """
WITH mx AS (SELECT max(o_orderdate) AS mxd FROM orders),
per_cust AS (
  SELECT o_custkey,
         CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
                        CAST(any_value(mxd) AS DATE)) AS DOUBLE) AS r,
         CAST(count(*) AS DOUBLE) AS f,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS m
  FROM orders CROSS JOIN mx
  GROUP BY o_custkey),
cuts AS (
  SELECT quantile_cont(r, [0.3333333333333333, 0.6666666666666666]) AS rc,
         quantile_cont(f, [0.3333333333333333, 0.6666666666666666]) AS fc,
         quantile_cont(m, [0.3333333333333333, 0.6666666666666666]) AS mc
  FROM per_cust),
scored AS (
  SELECT 4 - (1 + CASE WHEN r > rc[1] THEN 1 ELSE 0 END
                + CASE WHEN r > rc[2] THEN 1 ELSE 0 END) AS r_score,
         1 + CASE WHEN f > fc[1] THEN 1 ELSE 0 END
           + CASE WHEN f > fc[2] THEN 1 ELSE 0 END AS f_score,
         1 + CASE WHEN m > mc[1] THEN 1 ELSE 0 END
           + CASE WHEN m > mc[2] THEN 1 ELSE 0 END AS m_score,
         m
  FROM per_cust CROSS JOIN cuts)
SELECT r_score, f_score, m_score,
       count(*) AS n_customers,
       round(CAST(sum(CAST(m AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6)
         AS mean_spend
FROM scored GROUP BY 1, 2, 3
"""


def q_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: customers bucketed by first-order QUARTER,
    cumulative revenue per customer tracked by quarter offset — the
    'how fast does a cohort pay back' view. Cumulative sum runs over
    the (cohort × offset) frame (a handful of cells), never rows."""
    orders = _t(spark, sf_dir, "orders")
    q = F.date_trunc("quarter", "o_orderdate")
    first_q = orders.groupBy("o_custkey").agg(
        F.min(q).alias("cohort_q")
    )
    joined = orders.join(first_q, "o_custkey").select(
        "o_custkey",
        "cohort_q",
        F.months_between(q, F.col("cohort_q")).cast("int").alias("_mo"),
        _dec("o_totalprice").alias("_rev"),
    )
    cells = joined.groupBy(
        "cohort_q", (F.col("_mo") / 3).cast("int").alias("q_offset")
    ).agg(F.sum("_rev").alias("rev"))
    sizes = first_q.groupBy("cohort_q").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    w = (
        Window.partitionBy("cohort_q")
        .orderBy("q_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cells.join(F.broadcast(sizes), "cohort_q")
        .select(
            F.unix_millis("cohort_q").alias("cohort_ms"),
            "q_offset",
            "cohort_size",
            F.round(
                F.sum("rev").over(w).cast("double")
                / F.col("cohort_size").cast("double"),
                6,
            ).alias("cum_ltv_per_customer"),
        )
    )


ORACLE_COHORT_LTV_CURVE = """
WITH fq AS (
  SELECT o_custkey, min(date_trunc('quarter', o_orderdate)) AS cohort_q
  FROM orders GROUP BY 1),
cells AS (
  SELECT cohort_q,
         CAST(CAST(datediff('month', cohort_q,
                  date_trunc('quarter', o_orderdate)) AS INT) / 3 AS INT)
           AS q_offset,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders JOIN fq USING (o_custkey)
  GROUP BY 1, 2),
sizes AS (SELECT cohort_q, count(*) AS cohort_size FROM fq GROUP BY 1)
SELECT epoch_ms(cohort_q) AS cohort_ms, q_offset, cohort_size,
       round(CAST(sum(rev) OVER (PARTITION BY cells.cohort_q
               ORDER BY q_offset
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / CAST(cohort_size AS DOUBLE), 6) AS cum_ltv_per_customer
FROM cells JOIN sizes USING (cohort_q)
"""


def q_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-part revenue — the concentration scalar
    behind the Pareto deciles (0 = equal, →1 = winner-take-all).
    Exact rank formulation G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over
    ascending revenues; the rank window runs over the PART-level
    aggregate; Σ(i·x) is exact decimal (rank as decimal(10,0) keeps
    the product inside the 38-digit cap). One row."""
    li = _t(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(18,2)")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(_dec("l_extendedprice") * (one - _dec("l_discount"))).alias(
            "rev"
        )
    )
    w = Window.orderBy(F.col("rev").asc(), F.col("l_partkey"))
    ranked = per_part.withColumn("i", F.row_number().over(w))
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("rev").alias("_sx"),
        # rev narrowed to (24,4): rank(10,0) x the full-width sum type
        # would pass the 38-digit cap (Spark truncates, DuckDB errors)
        F.sum(
            F.col("i").cast("decimal(10,0)")
            * F.col("rev").cast("decimal(24,4)")
        ).alias("_six"),
    )
    n = F.col("n_parts").cast("double")
    gini = (
        F.lit(2.0)
        * F.col("_six").cast("double")
        / (n * F.col("_sx").cast("double"))
        - (n + F.lit(1.0)) / n
    )
    return agg.select(
        "n_parts",
        F.round(F.col("_sx").cast("double"), 2).alias("total_revenue"),
        F.round(gini, 6).alias("gini"),
    )


ORACLE_REVENUE_GINI = """
WITH per_part AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
           AS rev
  FROM lineitem GROUP BY 1),
ranked AS (
  SELECT rev, ROW_NUMBER() OVER (ORDER BY rev ASC, l_partkey) AS i
  FROM per_part),
agg AS (
  SELECT count(*) AS n_parts, sum(rev) AS sx,
         sum(CAST(i AS DECIMAL(10,0)) * CAST(rev AS DECIMAL(24,4))) AS six
  FROM ranked)
SELECT n_parts,
       round(CAST(sx AS DOUBLE), 2) AS total_revenue,
       round(2.0 * CAST(six AS DOUBLE)
             / (CAST(n_parts AS DOUBLE) * CAST(sx AS DOUBLE))
             - (CAST(n_parts AS DOUBLE) + 1.0) / CAST(n_parts AS DOUBLE),
             6) AS gini
FROM agg
"""


ACF_LAGS = (1, 24)


def q_volume_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 and lag-24 autocorrelation of the hourly event volume per
    type — the cycle detector (a strong lag-24 ACF means daily
    seasonality; pair with `seasonal_adjusted_anomalies`). Pearson over
    (cntₜ, cntₜ₋ₖ) pairs from a lag window on the densified hourly
    grid, moments decimal-exact per (type, lag)."""
    events = _t(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("b")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("b")
    pairs = None
    for lag in ACF_LAGS:
        p = hourly.select(
            "event_type",
            F.lit(lag).cast("int").alias("lag"),
            F.col("cnt").cast("decimal(18,0)").alias("x"),
            F.lag("cnt", lag).over(w).cast("decimal(18,0)").alias("y"),
        ).filter(F.col("y").isNotNull())
        pairs = p if pairs is None else pairs.unionByName(p)
    m = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    num = n * sxy - sx * sy
    den = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return m.select(
        "event_type",
        "lag",
        "n",
        F.round(F.when(den != 0, num / den), 6).alias("acf"),
    )


ORACLE_VOLUME_AUTOCORRELATION = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS b, count(*) AS cnt
  FROM events GROUP BY 1, 2),
lagged AS (
  {" UNION ALL ".join(
    f'''SELECT event_type, CAST({lag} AS INT) AS lag,
       CAST(cnt AS DECIMAL(19,0)) AS x,
       CAST(lag(cnt, {lag}) OVER (PARTITION BY event_type ORDER BY b)
            AS DECIMAL(19,0)) AS y
    FROM hourly'''
    for lag in ACF_LAGS
  )}),
m AS (
  SELECT event_type, lag, count(*) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         sum(x * x) AS sxx, sum(y * y) AS syy
  FROM lagged WHERE y IS NOT NULL GROUP BY 1, 2)
SELECT event_type, lag, n,
       round(CASE WHEN sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                       <> 0
                  THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                              * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             END, 6) AS acf
FROM m
"""


SEASONAL_TOPK = 20


def q_seasonal_adjusted_anomalies(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonality-AWARE spike detection: hourly counts per type
    compared to that type's (weekday, hour-of-day) seasonal baseline —
    the residual view that doesn't flag every Monday 9am as an anomaly
    the way a trailing-window EWMA does. Baseline = exact per-cell
    mean; top-20 buckets by |residual| (integer count minus one-division
    mean, round 6); TakeOrderedAndProject."""
    events = _t(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type",
        F.date_trunc("hour", "ts").alias("b"),
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    baseline = hourly.groupBy("event_type", "dow", "hod").agg(
        F.sum("cnt").alias("s"), F.count(F.lit(1)).alias("m")
    )
    joined = hourly.join(
        F.broadcast(baseline), ["event_type", "dow", "hod"]
    ).select(
        "event_type",
        F.unix_millis("b").alias("bucket_ms"),
        "cnt",
        F.round(
            F.col("s").cast("double") / F.col("m").cast("double"), 6
        ).alias("seasonal_mean"),
        F.round(
            F.col("cnt").cast("double")
            - F.col("s").cast("double") / F.col("m").cast("double"),
            6,
        ).alias("residual"),
    )
    return joined.orderBy(
        F.abs(F.col("residual")).desc(), "event_type", "bucket_ms"
    ).limit(SEASONAL_TOPK)


ORACLE_SEASONAL_ADJUSTED_ANOMALIES = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS b,
         CAST(dayofweek(ts) AS INT) AS dow,
         CAST(extract(hour FROM ts) AS INT) AS hod,
         count(*) AS cnt
  FROM events GROUP BY 1, 2, 3, 4),
baseline AS (
  SELECT event_type, dow, hod, sum(cnt) AS s, count(*) AS m
  FROM hourly GROUP BY 1, 2, 3)
SELECT h.event_type, epoch_ms(h.b) AS bucket_ms, h.cnt,
       round(CAST(s AS DOUBLE) / CAST(m AS DOUBLE), 6) AS seasonal_mean,
       round(CAST(h.cnt AS DOUBLE) - CAST(s AS DOUBLE) / CAST(m AS DOUBLE),
             6) AS residual
FROM hourly h JOIN baseline USING (event_type, dow, hod)
ORDER BY abs(round(CAST(h.cnt AS DOUBLE)
                   - CAST(s AS DOUBLE) / CAST(m AS DOUBLE), 6)) DESC,
         h.event_type, bucket_ms
LIMIT {SEASONAL_TOPK}
"""


def q_priority_status_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² independence cross-tab (priority × status): observed cell
    counts vs the independence expectation row·col/n, per-cell χ²
    terms — 'does order priority actually influence status?'. All
    counts exact; expectations are single-division doubles."""
    orders = _t(spark, sf_dir, "orders")
    cells = orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    rows = cells.groupBy("o_orderpriority").agg(
        F.sum("n_obs").alias("row_n")
    )
    colz = cells.groupBy("o_orderstatus").agg(F.sum("n_obs").alias("col_n"))
    tot = cells.agg(F.sum("n_obs").alias("n"))
    exp = (
        F.col("row_n").cast("double")
        * F.col("col_n").cast("double")
        / F.col("n").cast("double")
    )
    chi2 = (F.col("n_obs").cast("double") - exp) * (
        F.col("n_obs").cast("double") - exp
    ) / exp
    return (
        cells.join(F.broadcast(rows), "o_orderpriority")
        .join(F.broadcast(colz), "o_orderstatus")
        .crossJoin(F.broadcast(tot))
        .select(
            "o_orderpriority",
            "o_orderstatus",
            "n_obs",
            F.round(exp, 6).alias("n_expected"),
            F.round(chi2, 6).alias("chi2_term"),
        )
    )


ORACLE_PRIORITY_STATUS_CHI2 = """
WITH cells AS (
  SELECT o_orderpriority, o_orderstatus, count(*) AS n_obs
  FROM orders GROUP BY 1, 2),
r AS (SELECT o_orderpriority, sum(n_obs) AS row_n FROM cells GROUP BY 1),
c AS (SELECT o_orderstatus, sum(n_obs) AS col_n FROM cells GROUP BY 1),
t AS (SELECT sum(n_obs) AS n FROM cells)
SELECT cells.o_orderpriority, cells.o_orderstatus, n_obs,
       round(CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
             / CAST(n AS DOUBLE), 6) AS n_expected,
       round((CAST(n_obs AS DOUBLE)
              - CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
                / CAST(n AS DOUBLE))
             * (CAST(n_obs AS DOUBLE)
                - CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
                  / CAST(n AS DOUBLE))
             / (CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
                / CAST(n AS DOUBLE)), 6) AS chi2_term
FROM cells JOIN r USING (o_orderpriority)
JOIN c USING (o_orderstatus) CROSS JOIN t
"""


AB_GROUP_A = "purchase"
AB_GROUP_B = "click"


def q_ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t-test on event `value` between two event
    types — the A/B-comparison statistic, from the same exact decimal
    moment discipline as `linreg_by_group`: per-group n/Σx/Σx² in ONE
    map-combined pass, then the t statistic and Welch–Satterthwaite
    degrees of freedom as a fixed double-op sequence. One row."""
    events = _t(spark, sf_dir, "events")
    vd = F.col("value").cast("double").cast("decimal(18,6)")
    m = (
        events.filter(F.col("event_type").isin(AB_GROUP_A, AB_GROUP_B))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(vd).alias("s"),
            F.sum(vd * vd).alias("ss"),
        )
    )
    a = m.filter(F.col("event_type") == AB_GROUP_A).select(
        F.col("n").alias("na"), F.col("s").alias("sa"), F.col("ss").alias("ssa")
    )
    b = m.filter(F.col("event_type") == AB_GROUP_B).select(
        F.col("n").alias("nb"), F.col("s").alias("sb"), F.col("ss").alias("ssb")
    )
    j = a.crossJoin(F.broadcast(b))
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    ma = F.col("sa").cast("double") / na
    mb = F.col("sb").cast("double") / nb
    va = (F.col("ssa").cast("double") - na * ma * ma) / (na - F.lit(1.0))
    vb = (F.col("ssb").cast("double") - nb * mb * mb) / (nb - F.lit(1.0))
    se2 = va / na + vb / nb
    t_stat = (ma - mb) / F.sqrt(se2)
    df_ws = (se2 * se2) / (
        (va / na) * (va / na) / (na - F.lit(1.0))
        + (vb / nb) * (vb / nb) / (nb - F.lit(1.0))
    )
    return j.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round(ma - mb, 6).alias("mean_diff"),
        F.round(t_stat, 6).alias("t_stat"),
        F.round(df_ws, 6).alias("welch_df"),
    )


ORACLE_AB_TEST_WELCH = f"""
WITH m AS (
  SELECT event_type, count(*) AS n,
         sum(CAST(CAST(value AS DOUBLE) AS DECIMAL(19,6))) AS s,
         sum(CAST(CAST(value AS DOUBLE) AS DECIMAL(19,6))
             * CAST(CAST(value AS DOUBLE) AS DECIMAL(19,6))) AS ss
  FROM events WHERE event_type IN ('{AB_GROUP_A}', '{AB_GROUP_B}')
  GROUP BY 1),
a AS (SELECT n AS na, s AS sa, ss AS ssa FROM m
      WHERE event_type = '{AB_GROUP_A}'),
b AS (SELECT n AS nb, s AS sb, ss AS ssb FROM m
      WHERE event_type = '{AB_GROUP_B}'),
d AS (
  SELECT na, nb,
         CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd,
         CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
         CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
         CAST(ssa AS DOUBLE) AS ssa, CAST(ssb AS DOUBLE) AS ssb
  FROM a CROSS JOIN b),
v AS (
  SELECT na, nb, nad, nbd, ma, mb,
         (ssa - nad * ma * ma) / (nad - 1.0) AS va,
         (ssb - nbd * mb * mb) / (nbd - 1.0) AS vb
  FROM d)
SELECT na AS n_a, nb AS n_b,
       round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
       round(ma - mb, 6) AS mean_diff,
       round((ma - mb) / sqrt(va / nad + vb / nbd), 6) AS t_stat,
       round(((va / nad + vb / nbd) * (va / nad + vb / nbd))
             / ((va / nad) * (va / nad) / (nad - 1.0)
                + (vb / nbd) * (vb / nbd) / (nbd - 1.0)), 6) AS welch_df
FROM v
"""


BENFORD_EXPECTED = {d: math.log10(1 + 1 / d) for d in range(1, 10)}


def q_benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law forensic audit of prices: observed first-digit
    distribution of the integer cents (an INTEGER's string is
    engine-identical; a double's rendering is not) vs the Benford
    expectation, with per-digit contribution to the χ² statistic —
    fabricated or capped financial data fails this audit."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(_dec("l_extendedprice") * 100).cast("bigint")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    obs = li.groupBy(digit.alias("digit")).agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    total = obs.agg(F.sum("n_obs").alias("n_total"))
    exp_frac = F.lit(None).cast("double")
    for d in range(9, 0, -1):
        exp_frac = F.when(
            F.col("digit") == d, F.lit(BENFORD_EXPECTED[d])
        ).otherwise(exp_frac)
    n_exp = F.col("n_total").cast("double") * exp_frac
    chi2 = (F.col("n_obs").cast("double") - n_exp) * (
        F.col("n_obs").cast("double") - n_exp
    ) / n_exp
    return obs.crossJoin(F.broadcast(total)).select(
        "digit",
        "n_obs",
        F.round(
            F.col("n_obs").cast("double") / F.col("n_total").cast("double"),
            6,
        ).alias("obs_frac"),
        F.round(exp_frac, 6).alias("benford_frac"),
        F.round(chi2, 6).alias("chi2_term"),
    )


def _benford_oracle() -> str:
    # CAST to DOUBLE: DuckDB types bare decimal literals as DECIMAL
    # (exact), while Spark's F.lit is a double — the pagerank oracle's
    # documented trap, hit again here
    exp_cases = " ".join(
        f"WHEN digit = {d} THEN CAST({BENFORD_EXPECTED[d]!r} AS DOUBLE)"
        for d in range(1, 10)
    )
    return f"""
WITH obs AS (
  SELECT CAST(substring(CAST(CAST(round(
           CAST(l_extendedprice AS DECIMAL(18,2)) * 100)
           AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
         count(*) AS n_obs
  FROM lineitem GROUP BY 1),
t AS (SELECT sum(n_obs) AS n_total FROM obs)
SELECT digit, n_obs,
       round(CAST(n_obs AS DOUBLE) / CAST(n_total AS DOUBLE), 6)
         AS obs_frac,
       round(CASE {exp_cases} END, 6) AS benford_frac,
       round((CAST(n_obs AS DOUBLE)
              - CAST(n_total AS DOUBLE) * (CASE {exp_cases} END))
             * (CAST(n_obs AS DOUBLE)
                - CAST(n_total AS DOUBLE) * (CASE {exp_cases} END))
             / (CAST(n_total AS DOUBLE) * (CASE {exp_cases} END)), 6)
         AS chi2_term
FROM obs CROSS JOIN t
"""


BOOT_B = 16


def q_revenue_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Poisson bootstrap: 95% CI for the mean lineitem
    price from ``BOOT_B`` (=16) seeded-hash resamples
    (`sampling.bootstrap_mean_ci`) — uncertainty quantification as one
    deterministic, oracle-gateable plan."""
    from lol_data_collection_system_spark.operators import (
        sampling as sampling_ops,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        F.concat_ws("#", "l_orderkey", "l_linenumber").alias("rid"),
        "l_extendedprice",
    )
    return sampling_ops.bootstrap_mean_ci(
        li, "rid", "l_extendedprice", BOOT_B
    )


def _bootstrap_oracle() -> str:
    from lol_data_collection_system_spark.operators.sampling import (
        POISSON1_CDF,
    )

    n_digests = (BOOT_B + 6) // 7
    digests = ",\n         ".join(
        "CAST(('0x' || substr(md5('boot' || '|' || '"
        + str(d)
        + "' || '|' || rid), 1, 15)) AS BIGINT) AS h"
        + str(d)
        for d in range(n_digests)
    )
    harr = "[" + ", ".join(f"h{d}" for d in range(n_digests)) + "]"
    w_cases = " ".join(
        f"WHEN u <= {thr!r} THEN {k}" for k, thr in enumerate(POISSON1_CDF)
    )
    w_sql = f"(CASE {w_cases} ELSE {len(POISSON1_CDF)} END)"
    return f"""
WITH base AS (
  SELECT CAST(CAST(l_extendedprice AS DOUBLE) AS DECIMAL(19,6)) AS v,
         {digests}
  FROM (SELECT l_extendedprice,
               CAST(l_orderkey AS VARCHAR) || '#'
                 || CAST(l_linenumber AS VARCHAR) AS rid
        FROM lineitem)),
ex AS (
  SELECT v, {harr} AS hs, b
  FROM base, unnest(generate_series(0, {BOOT_B - 1})) t(b)),
drawn AS (
  SELECT b, v, {w_sql} AS w
  FROM (SELECT b, v,
               CAST(((hs[CAST(b // 7 AS INT) + 1] >> ((b % 7) * 8)) & 255)
                    AS DOUBLE) / 256.0 AS u
        FROM ex)),
reps AS (
  SELECT b,
         CAST(sum(v * CAST(w AS DECIMAL(2,0))) AS DOUBLE)
           / CAST(sum(w) AS DOUBLE) AS rep_mean
  FROM drawn GROUP BY b),
stats AS (
  SELECT count(*) AS n_rows,
         round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS mean
  FROM base),
ci AS (
  SELECT round(quantile_cont(rep_mean, 0.025), 6) AS ci_low,
         round(quantile_cont(rep_mean, 0.975), 6) AS ci_high,
         count(*) AS n_replicates
  FROM reps)
SELECT n_rows, mean, ci_low, ci_high, n_replicates
FROM stats CROSS JOIN ci
"""


def q_join_cardinality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight profile of the orders⋈lineitem equi-join: exact
    output cardinality from per-key COUNT joins (never the data), the
    heaviest key's contribution, and its share — the number the
    salting / broadcast decision reads before paying for the shuffle
    (`joins.join_cardinality_profile`)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return join_ops.join_cardinality_profile(
        orders, li, "o_orderkey", "l_orderkey"
    )


ORACLE_JOIN_CARDINALITY_PROFILE = """
WITH ca AS (SELECT o_orderkey AS k, count(*) AS na FROM orders GROUP BY 1),
cb AS (SELECT l_orderkey AS k, count(*) AS nb FROM lineitem GROUP BY 1),
pk AS (SELECT ca.k, na * nb AS contrib FROM ca JOIN cb ON ca.k = cb.k),
agg AS (
  SELECT CAST(sum(contrib) AS BIGINT) AS est_rows,
         count(*) AS n_matching_keys,
         max(struct_pack(contrib := contrib,
                         key := CAST(k AS VARCHAR))) AS best
  FROM pk)
SELECT est_rows, n_matching_keys,
       struct_extract(best, 'key') AS max_key,
       CAST(struct_extract(best, 'contrib') AS BIGINT) AS max_key_rows,
       round(CAST(struct_extract(best, 'contrib') AS DOUBLE)
             / CAST(est_rows AS DOUBLE), 6) AS skew_share
FROM agg
"""


def q_revenue_pareto_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/Pareto analysis: parts ranked by revenue, bucketed into
    rank deciles, each decile's share of total revenue — 'do 20% of
    parts carry 80% of revenue?'. The rank window runs over the
    PART-level aggregate (parts-bounded, never lineitems); revenue is
    exact decimal; shares are single divisions by a broadcast total."""
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount")))
        .alias("rev")
    )
    w = Window.orderBy(F.col("rev").desc(), F.col("l_partkey"))
    ranked = per_part.withColumn("rank", F.row_number().over(w))
    totals = per_part.agg(
        F.sum("rev").alias("total_rev"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    decile = F.least(
        (F.lit(10) * (F.col("rank") - 1) / F.col("n_parts")).cast("int"),
        F.lit(9),
    )
    return (
        ranked.crossJoin(F.broadcast(totals))
        .groupBy(decile.alias("decile"))
        .agg(
            F.count(F.lit(1)).alias("n_parts_in_decile"),
            F.round(
                F.sum("rev").cast("double")
                / F.first("total_rev").cast("double"),
                6,
            ).alias("revenue_share"),
        )
    )


ORACLE_REVENUE_PARETO_DECILES = """
WITH per_part AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
           AS rev
  FROM lineitem GROUP BY 1),
ranked AS (
  SELECT l_partkey, rev,
         ROW_NUMBER() OVER (ORDER BY rev DESC, l_partkey) AS rank
  FROM per_part),
t AS (SELECT sum(rev) AS total_rev, count(*) AS n_parts FROM per_part)
SELECT least(CAST(floor(10 * (rank - 1) / n_parts) AS INT), 9) AS decile,
       count(*) AS n_parts_in_decile,
       round(CAST(sum(rev) AS DOUBLE) / CAST(any_value(total_rev) AS DOUBLE),
             6) AS revenue_share
FROM ranked CROSS JOIN t
GROUP BY 1
"""


def q_ship_latency_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment SLA: per order priority, exact p50/p90 of days from
    order date to the order's LAST ship date (one order-keyed max, then
    grouped exact percentiles — the operational-latency dashboard)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    per_order = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            "o_orderpriority",
            (
                F.datediff(
                    F.to_date("last_ship"), F.to_date("o_orderdate")
                )
            ).cast("double").alias("days"),
        )
    )
    pct = F.expr("percentile(days, array(0.5, 0.9))")
    return per_order.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.element_at(pct, 1), 6).alias("p50_days"),
        F.round(F.element_at(pct, 2), 6).alias("p90_days"),
    )


ORACLE_SHIP_LATENCY_BY_PRIORITY = """
WITH per_order AS (
  SELECT o_orderpriority,
         CAST(date_diff('day', CAST(o_orderdate AS DATE),
                        CAST(max(l_shipdate) AS DATE)) AS DOUBLE) AS days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_orderkey, o_orderpriority, o_orderdate)
SELECT o_orderpriority,
       count(*) AS n_orders,
       round(quantile_cont(days, 0.5), 6) AS p50_days,
       round(quantile_cont(days, 0.9), 6) AS p90_days
FROM per_order GROUP BY 1
"""


def q_discount_quantity_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand 'elasticity' read: OLS slope of quantity on discount —
    `aggregates.linreg_by_group` reused over a broadcast-joined
    dimension (the operator is input-agnostic: one moment pass per
    group regardless of the grouping column's origin)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return agg_ops.linreg_by_group(
        joined, ["p_brand"], F.col("l_discount"), F.col("l_quantity")
    )


ORACLE_DISCOUNT_QUANTITY_TREND = """
WITH snapped AS (
  SELECT p_brand,
         CAST(CAST(l_discount AS DOUBLE) AS DECIMAL(19,6)) AS xd,
         CAST(CAST(l_quantity AS DOUBLE) AS DECIMAL(19,6)) AS yd
  FROM lineitem JOIN part ON l_partkey = p_partkey),
m AS (
  SELECT p_brand, count(*) AS n,
         sum(xd) AS sx, sum(yd) AS sy, sum(xd * yd) AS sxy,
         sum(xd * xd) AS sxx, sum(yd * yd) AS syy
  FROM snapped GROUP BY 1),
d AS (
  SELECT p_brand, n, CAST(n AS DOUBLE) AS nd,
         CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
         CAST(sxy AS DOUBLE) AS sxy, CAST(sxx AS DOUBLE) AS sxx,
         CAST(syy AS DOUBLE) AS syy
  FROM m)
SELECT p_brand, n,
       round(CASE WHEN nd * sxx - sx * sx <> 0
                  THEN (nd * sxy - sx * sy) / (nd * sxx - sx * sx) END, 6)
         AS slope,
       round(CASE WHEN nd * sxx - sx * sx <> 0
                  THEN (sy - ((nd * sxy - sx * sy) / (nd * sxx - sx * sx))
                        * sx) / nd END, 6) AS intercept,
       round(CASE WHEN nd * sxx - sx * sx <> 0 AND nd * syy - sy * sy <> 0
                  THEN ((nd * sxy - sx * sy) * (nd * sxy - sx * sy))
                       / ((nd * sxx - sx * sx) * (nd * syy - sy * sy)) END, 6)
         AS r2
FROM d
"""


COPURCHASE_TOPK = 20


def q_brand_copurchase_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity over ORDERS (the lineitem twin of the
    event-type `event_pair_affinity`): top-20 part-BRAND pairs bought
    together in one order, with support counts and lift. Distinct
    (order, brand) sets first — the dedupe bounds the per-order pair
    space at brands² (25² here), never lineitems²; exact integer
    counts, single double divisions for lift."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # The (order, brand) distinct frame feeds FOUR consumers (order
    # total, per-brand counts, both self-join sides). As written with
    # `.distinct()`, the dedup's own exchange keys (l_orderkey, p_brand)
    # — the self-join then needs a SECOND exchange on l_orderkey, and
    # the two aggregates re-ran scan + join + distinct from scratch
    # (r12 stage metrics: three ~0.9 s stages). Repartitioning by
    # l_orderkey BEFORE the dedup makes ONE exchange serve everything
    # (guide §2.4): hash(l_orderkey) satisfies the dedup's clustered
    # distribution (subset of its keys), the self-join consumes the
    # same partitioning with no further shuffle, and ReuseExchange
    # dedupes the single identical exchange across all consumers — the
    # scan + broadcast join run once. N is pinned to shuffle.partitions
    # (deployment-scaled; an unpinned repartition is AQE-coalesced).
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ob = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .repartition(n_shuffle, F.col("l_orderkey"))
        .dropDuplicates()
    )
    totals = ob.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    brand_n = ob.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_b"))
    a = ob.alias("a")
    b = ob.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("brand_a"),
            F.col("b.p_brand").alias("brand_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_together"))
    )
    na = brand_n.select(
        F.col("p_brand").alias("brand_a"), F.col("n_b").alias("n_a")
    )
    nb = brand_n.select(
        F.col("p_brand").alias("brand_b"), F.col("n_b").alias("n_bb")
    )
    lift = F.round(
        (F.col("n_together").cast("double") * F.col("n_orders").cast("double"))
        / (F.col("n_a") * F.col("n_bb")).cast("double"),
        6,
    )
    return (
        pairs.join(F.broadcast(na), "brand_a")
        .join(F.broadcast(nb), "brand_b")
        .crossJoin(F.broadcast(totals))
        .select("brand_a", "brand_b", "n_together", lift.alias("lift"))
        .orderBy(F.col("n_together").desc(), "brand_a", "brand_b")
        .limit(COPURCHASE_TOPK)
    )


ORACLE_BRAND_COPURCHASE_AFFINITY = f"""
WITH ob AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey),
n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM ob),
bn AS (SELECT p_brand, count(*) AS n_b FROM ob GROUP BY 1),
pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
         count(*) AS n_together
  FROM ob a JOIN ob b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY 1, 2)
SELECT brand_a, brand_b, n_together,
       round((CAST(n_together AS DOUBLE) * CAST(n.n_orders AS DOUBLE))
             / CAST(na.n_b * nb.n_b AS DOUBLE), 6) AS lift
FROM pairs
JOIN bn na ON na.p_brand = brand_a
JOIN bn nb ON nb.p_brand = brand_b
CROSS JOIN n
ORDER BY n_together DESC, brand_a, brand_b LIMIT {COPURCHASE_TOPK}
"""


WILSON_Z2 = 3.8416  # z^2 at 95% (1.96^2) — engine-identical literal


def q_brand_return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand return rate with the WILSON lower bound at 95% — the
    proportion-CI standard for ranking small-sample rates (a brand
    with 2/2 returns must NOT outrank one with 90/100; the plain rate
    says it does, the Wilson bound says otherwise). Exact integer
    counts; the bound is one fixed double-op sequence mirrored in the
    oracle."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    agg = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum((F.col("l_returnflag") == "R").cast("bigint")).alias(
                "n_returned"
            ),
        )
    )
    n = F.col("n_items").cast("double")
    p = F.col("n_returned").cast("double") / n
    z2 = F.lit(WILSON_Z2)
    wilson_low = (
        p
        + z2 / (F.lit(2.0) * n)
        - F.sqrt(z2) * F.sqrt((p * (F.lit(1.0) - p) + z2 / (F.lit(4.0) * n)) / n)
    ) / (F.lit(1.0) + z2 / n)
    return agg.select(
        "p_brand",
        "n_items",
        "n_returned",
        F.round(p, 6).alias("return_rate"),
        F.round(wilson_low, 6).alias("wilson_low"),
    )


ORACLE_BRAND_RETURN_RATES = f"""
WITH agg AS (
  SELECT p_brand,
         count(*) AS n_items,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_returned
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1)
SELECT p_brand, n_items, n_returned,
       round(CAST(n_returned AS DOUBLE) / CAST(n_items AS DOUBLE), 6)
         AS return_rate,
       round((
          (CAST(n_returned AS DOUBLE) / CAST(n_items AS DOUBLE))
          + {WILSON_Z2} / (2.0 * CAST(n_items AS DOUBLE))
          - sqrt({WILSON_Z2})
            * sqrt(((CAST(n_returned AS DOUBLE) / CAST(n_items AS DOUBLE))
                    * (1.0 - CAST(n_returned AS DOUBLE)
                             / CAST(n_items AS DOUBLE))
                    + {WILSON_Z2} / (4.0 * CAST(n_items AS DOUBLE)))
                   / CAST(n_items AS DOUBLE))
        ) / (1.0 + {WILSON_Z2} / CAST(n_items AS DOUBLE)), 6) AS wilson_low
FROM agg
"""


def q_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday × hour activity matrix (the dashboard heatmap): event
    counts per (day-of-week, hour-of-day). Day-of-week is normalized to
    0=Sunday in BOTH engines (Spark dayofweek() is 1-based
    Sunday-first; DuckDB dow() is 0-based Sunday-first)."""
    events = _t(spark, sf_dir, "events")
    return events.groupBy(
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n_events"))


ORACLE_ACTIVITY_HEATMAP = """
SELECT CAST(dayofweek(ts) AS INT) AS dow,
       CAST(extract(hour FROM ts) AS INT) AS hour,
       count(*) AS n_events
FROM events GROUP BY 1, 2
"""


Q5_REGION = "ASIA"
Q5_DATE_FROM = "1996-01-01"
Q5_DATE_TO = "1997-01-01"


def q_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 analog: per-nation revenue from LOCAL supply chains
    (customer and supplier share the nation) inside one region and one
    order-date year. The deepest join pipeline in the suite — two
    fact-fact equi-joins (orders⋈lineitem, lineitem⋈supplier) with
    every dim broadcast and the c_nationkey = s_nationkey locality
    predicate applied at the last join; date bracket pushed to the
    orders scan; DECIMAL revenue."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(Q5_DATE_FROM))
        & (F.col("o_orderdate") < F.lit(Q5_DATE_TO))
    )
    li = _t(spark, sf_dir, "lineitem")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == Q5_REGION)
    one = F.lit(1).cast("decimal(18,2)")
    joined = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    nation.n_regionkey == region.r_regionkey,
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(F.col("s_nationkey") == F.col("c_nationkey"))
    )
    return joined.groupBy("n_name").agg(
        F.sum(_dec("l_extendedprice") * (one - _dec("l_discount")))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


ORACLE_LOCAL_SUPPLIER_REVENUE = f"""
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue,
       COUNT(*) AS n_lineitems
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE r_name = '{Q5_REGION}'
  AND o_orderdate >= TIMESTAMP '{Q5_DATE_FROM}'
  AND o_orderdate < TIMESTAMP '{Q5_DATE_TO}'
  AND s_nationkey = c_nationkey
GROUP BY n_name
"""


def q_user_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: per day, active users split into NEW (first
    ever seen that day) vs RETURNING, plus the running total of
    distinct users ever seen — the standard product-analytics ledger.
    First-seen day is one user-keyed min; the running total is a
    cumulative sum over the per-day new-user counts (a days-sized
    frame), so no distinct-over-window and no day×corpus join."""
    events = _t(spark, sf_dir, "events")
    user_days = events.select(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).distinct()
    first_seen = user_days.groupBy("user_id").agg(F.min("d").alias("fs"))
    per_day = (
        user_days.join(first_seen, "user_id")
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.sum((F.col("d") == F.col("fs")).cast("bigint")).alias(
                "new_users"
            ),
        )
        .withColumn(
            "returning_users", F.col("active_users") - F.col("new_users")
        )
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        F.unix_millis("d").alias("day_ms"),
        "active_users",
        "new_users",
        "returning_users",
        F.sum("new_users").over(w).alias("cumulative_users"),
    )


ORACLE_USER_GROWTH_ACCOUNTING = """
WITH user_days AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events),
first_seen AS (
  SELECT user_id, min(d) AS fs FROM user_days GROUP BY 1),
per_day AS (
  SELECT d,
         count(*) AS active_users,
         CAST(sum(CASE WHEN d = fs THEN 1 ELSE 0 END) AS BIGINT)
           AS new_users
  FROM user_days JOIN first_seen USING (user_id)
  GROUP BY d)
SELECT epoch_ms(d) AS day_ms,
       active_users,
       new_users,
       active_users - new_users AS returning_users,
       CAST(sum(new_users) OVER (ORDER BY d
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cumulative_users
FROM per_day
"""


DAU_WINDOW_DAYS = 7


def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day — the rolling-MAU/DAU
    cardinality classic. Distinct window aggregates don't exist in any
    engine, and the naive self-join is days×corpus; the scalable rewrite
    is CONTRIBUTION EXPLOSION: dedupe to (user, active_day) first (the
    only corpus-sized shuffle, partial-agg'd), explode each such pair
    into the ≤7 later days it keeps the user 'active' for, and
    count-distinct per target day — fan-out is a constant ×window on the
    ALREADY-deduped frame, never on raw events."""
    events = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    user_days = events.select(
        F.col("user_id"), day.alias("d")
    ).distinct()
    bounds = events.select(F.date_trunc("day", F.max("ts")).alias("mx"))
    contrib = (
        user_days.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("d"),
                    F.least(
                        F.col("d")
                        + F.expr(f"interval {DAU_WINDOW_DAYS - 1} days"),
                        F.col("mx"),
                    ),
                    F.expr("interval 1 day"),
                )
            ).alias("target_day"),
        )
    )
    return (
        contrib.groupBy("target_day")
        .agg(F.countDistinct("user_id").alias("active_users"))
        .select(
            F.unix_millis("target_day").alias("day_ms"), "active_users"
        )
    )


ORACLE_ROLLING_ACTIVE_USERS = f"""
WITH user_days AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events),
mx AS (SELECT date_trunc('day', max(ts)) AS mx FROM events),
contrib AS (
  SELECT user_id,
         unnest(generate_series(
           d, least(d + INTERVAL {DAU_WINDOW_DAYS - 1} DAY, mx.mx),
           INTERVAL 1 DAY)) AS target_day
  FROM user_days CROSS JOIN mx)
SELECT epoch_ms(target_day) AS day_ms,
       count(DISTINCT user_id) AS active_users
FROM contrib GROUP BY 1
"""


ROLL_P = 0.95
ROLL_WINDOW = 24


def q_rolling_p95_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling p95 of the hourly event rate per type (trailing 24
    buckets, current inclusive) — the SLA-dashboard shape: exact
    order-statistics over a BOUNDED frame (`array_sort` on ≤24 elements
    per row), never a partition-global sort
    (`windows.rolling_percentile`)."""
    events = _t(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("b")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    out = window_ops.rolling_percentile(
        hourly,
        ["event_type"],
        [F.col("b")],
        F.col("cnt"),
        ROLL_WINDOW,
        ROLL_P,
        alias="p95",
    )
    return out.select(
        "event_type", F.unix_millis("b").alias("bucket_ms"), "cnt", "p95"
    )


ORACLE_ROLLING_P95_RATE = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS b, count(*) AS cnt
  FROM events GROUP BY 1, 2),
win AS (
  SELECT event_type, b, cnt,
         list_sort(list(CAST(cnt AS DOUBLE)) OVER (
           PARTITION BY event_type ORDER BY b
           ROWS BETWEEN {ROLL_WINDOW - 1} PRECEDING AND CURRENT ROW)) AS l
  FROM hourly),
sc AS (
  SELECT event_type, b, cnt, l,
         {ROLL_P} * (len(l) - 1) AS idx,
         CAST(floor({ROLL_P} * (len(l) - 1)) AS INT) AS lo
  FROM win)
SELECT event_type, epoch_ms(b) AS bucket_ms, cnt,
       round(l[lo + 1] * (1.0 - (idx - CAST(lo AS DOUBLE)))
             + l[least(lo + 2, CAST(len(l) AS INT))]
               * (idx - CAST(lo AS DOUBLE)), 6) AS p95
FROM sc
"""


EWMA_TOPK = 20
EWMA_WINDOW = 24


def q_event_rate_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 event-rate spikes: hourly buckets whose count most exceeds
    the α=1/2 EWMA of the previous 24 buckets on a DENSIFIED per-type
    grid (silent hours decay the rate; see
    operators/windows.ewma_anomaly_topk for the integer-exact Horner
    numerator that makes both engines agree bit-for-bit)."""
    events = _t(spark, sf_dir, "events")
    return window_ops.ewma_anomaly_topk(
        events, "event_type", "ts", k=EWMA_TOPK, window=EWMA_WINDOW
    )


ORACLE_EVENT_RATE_ANOMALIES = f"""
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS mn,
         date_trunc('hour', max(ts)) AS mx FROM events),
types AS (SELECT DISTINCT event_type AS g FROM events),
grid AS (
  SELECT t.g, unnest(generate_series(b.mn, b.mx, INTERVAL 1 HOUR)) AS b
  FROM types t CROSS JOIN bounds b),
cnts AS (
  SELECT event_type AS g, date_trunc('hour', ts) AS b, count(*) AS c
  FROM events GROUP BY 1, 2),
dense AS (
  SELECT grid.g, grid.b, CAST(coalesce(cnts.c, 0) AS BIGINT) AS c
  FROM grid LEFT JOIN cnts ON grid.g = cnts.g AND grid.b = cnts.b),
win AS (
  SELECT g, b, c,
         list_reverse(list(c) OVER (
           PARTITION BY g ORDER BY b
           ROWS BETWEEN {EWMA_WINDOW} PRECEDING AND 1 PRECEDING)) AS prev
  FROM dense),
sc AS (
  SELECT g, epoch_ms(b) AS bucket_ms, c,
         CASE WHEN len(prev) = 0 THEN CAST(0 AS BIGINT)
              ELSE list_reduce(list_prepend(CAST(0 AS BIGINT), prev),
                               (acc, x) -> acc * 2 + x) END AS num,
         (CAST(1 AS BIGINT) << len(prev)) - 1 AS den
  FROM win)
SELECT g AS event_type, bucket_ms, c AS cnt,
       round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS decayed_prev,
       round(CAST(c AS DOUBLE) / (CAST(num AS DOUBLE) / CAST(den AS DOUBLE)),
             6) AS ratio
FROM sc WHERE num > 0
ORDER BY ratio DESC, event_type, bucket_ms LIMIT {EWMA_TOPK}
"""


# §2.2 P15 — trailing time-window filter (monitor/views/ratelimit.py:88-95)
def q_last_week_event_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    recent = filter_ops.recent_window_filter(events, "ts", "7 DAYS")
    return recent.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))


ORACLE_LAST_WEEK_EVENT_MIX = """
SELECT event_type, COUNT(*) AS n_events FROM events
WHERE ts >= (SELECT MAX(ts) FROM events) - INTERVAL 7 DAY
GROUP BY event_type
"""


# §2.1 S2 — the pure-SQL surface: spark.sql over registered views
# (periodical_data_repair.py:39-107 is hand-written SQL via pd.read_sql).
def q_sql_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lol_data_collection_system_spark.sources.tables import register_views

    register_views(spark, sf_dir, ["lineitem", "orders", "customer", "nation"])
    return spark.sql(
        """
        SELECT n_name,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                        (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                    AS DOUBLE) AS revenue,
               COUNT(*) AS n_lineitems
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY n_name
        """
    )


ORACLE_SQL_REVENUE_BY_NATION = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
"""


# §2.4 A2 + §2.2 P3 — LIKE-bucket column feeding a pivot: the reference's
# monitoring view buckets matches by tier substring then counts per
# region × bucket (monitor/views/gathering.py:30-64). Bucket from
# disjunctive contains, single-pass pivot.
TYPE_BUCKETS = ["PROMO", "ECONOMY", "STANDARD", "OTHER"]


def q_part_type_bucket_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    bucket = (
        F.when(F.col("p_type").contains("PROMO"), F.lit("PROMO"))
        .when(F.col("p_type").contains("ECONOMY"), F.lit("ECONOMY"))
        .when(F.col("p_type").contains("STANDARD"), F.lit("STANDARD"))
        .otherwise(F.lit("OTHER"))
    )
    out = (
        part.select("p_brand", bucket.alias("bucket"))
        .groupBy("p_brand")
        .pivot("bucket", TYPE_BUCKETS)
        .count()
    )
    return out.na.fill(0, TYPE_BUCKETS)


ORACLE_PART_TYPE_BUCKET_PIVOT = """
WITH bucketed AS (
  SELECT p_brand,
         CASE WHEN p_type LIKE '%PROMO%' THEN 'PROMO'
              WHEN p_type LIKE '%ECONOMY%' THEN 'ECONOMY'
              WHEN p_type LIKE '%STANDARD%' THEN 'STANDARD'
              ELSE 'OTHER' END AS bucket
  FROM part)
SELECT p_brand,
       COUNT(*) FILTER (bucket = 'PROMO') AS "PROMO",
       COUNT(*) FILTER (bucket = 'ECONOMY') AS "ECONOMY",
       COUNT(*) FILTER (bucket = 'STANDARD') AS "STANDARD",
       COUNT(*) FILTER (bucket = 'OTHER') AS "OTHER"
FROM bucketed GROUP BY p_brand
"""


# §2.6 O3 — deterministic pagination (find_recurrent_delta:89-94)
def q_orders_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return topk_ops.paginate(
        orders.select("o_orderkey", "o_totalprice"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        offset=100,
        limit=50,
    )


ORACLE_ORDERS_PAGE = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 50 OFFSET 100
"""


QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, tuple[QueryFn, str | Callable[[], str]]] = {
    "pricing_summary": (q_pricing_summary, ORACLE_PRICING_SUMMARY),
    "region_priority_pivot": (q_region_priority_pivot, ORACLE_REGION_PRIORITY_PIVOT),
    "customers_per_region": (q_customers_per_region, ORACLE_CUSTOMERS_PER_REGION),
    "order_status_tallies": (q_order_status_tallies, ORACLE_ORDER_STATUS_TALLIES),
    "acctbal_mean_of_means": (q_acctbal_mean_of_means, ORACLE_ACCTBAL_MEAN_OF_MEANS),
    "promo_parts_by_brand": (q_promo_parts_by_brand, ORACLE_PROMO_PARTS_BY_BRAND),
    "order_flags": (q_order_flags, ORACLE_ORDER_FLAGS),
    "type_prefix_counts": (q_type_prefix_counts, ORACLE_TYPE_PREFIX_COUNTS),
    "point_lookup": (q_point_lookup, ORACLE_POINT_LOOKUP),
    "top3_lineitems_per_supplier": (
        q_top3_lineitems_per_supplier, ORACLE_TOP3_LINEITEMS_PER_SUPPLIER
    ),
    "richest_customer_per_nation": (
        q_richest_customer_per_nation, ORACLE_RICHEST_CUSTOMER_PER_NATION
    ),
    "trailing_order_avg": (q_trailing_order_avg, ORACLE_TRAILING_ORDER_AVG),
    "cumulative_user_value": (q_cumulative_user_value, ORACLE_CUMULATIVE_USER_VALUE),
    "max_error_streak": (q_max_error_streak, ORACLE_MAX_ERROR_STREAK),
    "sliding_rate_count": (q_sliding_rate_count, ORACLE_SLIDING_RATE_COUNT),
    "events_near_errors": (q_events_near_errors, ORACLE_EVENTS_NEAR_ERRORS),
    "purchase_last_click": (q_purchase_last_click, ORACLE_PURCHASE_LAST_CLICK),
    "purchase_last_click_banded": (
        q_purchase_last_click_banded, ORACLE_PURCHASE_LAST_CLICK
    ),
    "revenue_by_order_salted": (
        q_revenue_by_order_salted, ORACLE_REVENUE_BY_ORDER_SALTED
    ),
    "customers_without_orders": (
        q_customers_without_orders, ORACLE_CUSTOMERS_WITHOUT_ORDERS
    ),
    "returnflag_set_signature": (
        q_returnflag_set_signature, ORACLE_RETURNFLAG_SET_SIGNATURE
    ),
    "json_props_stats": (q_json_props_stats, ORACLE_JSON_PROPS_STATS),
    "hourly_event_counts": (q_hourly_event_counts, ORACLE_HOURLY_EVENT_COUNTS),
    "event_funnel": (q_event_funnel, _funnel_oracle()),
    "cohort_retention": (q_cohort_retention, ORACLE_COHORT_RETENTION),
    "order_price_percentiles": (
        q_order_price_percentiles, ORACLE_ORDER_PRICE_PERCENTILES
    ),
    "order_rollup_counts": (q_order_rollup_counts, ORACLE_ORDER_ROLLUP_COUNTS),
    "order_cube_totals": (q_order_cube_totals, ORACLE_ORDER_CUBE_TOTALS),
    "user_key_skew": (q_user_key_skew, ORACLE_USER_KEY_SKEW),
    "orders_constraint_report": (
        q_orders_constraint_report, ORACLE_ORDERS_CONSTRAINT_REPORT
    ),
    "customer_k_anonymity": (q_customer_k_anonymity, ORACLE_CUSTOMER_K_ANONYMITY),
    "customer_l_diversity": (q_customer_l_diversity, ORACLE_CUSTOMER_L_DIVERSITY),
    "customer_t_closeness": (q_customer_t_closeness, ORACLE_CUSTOMER_T_CLOSENESS),
    "top_unshipped_orders": (q_top_unshipped_orders, ORACLE_TOP_UNSHIPPED_ORDERS),
    "large_volume_customers": (q_large_volume_customers, ORACLE_LARGE_VOLUME_CUSTOMERS),
    "local_supplier_revenue": (q_local_supplier_revenue, ORACLE_LOCAL_SUPPLIER_REVENUE),
    "customer_scd2_history": (q_customer_scd2_history, ORACLE_CUSTOMER_SCD2_HISTORY),
    "orders_scd2_enriched": (q_orders_scd2_enriched, ORACLE_ORDERS_SCD2_ENRICHED),
    "incremental_hourly_rollup": (
        q_incremental_hourly_rollup, ORACLE_INCREMENTAL_HOURLY_ROLLUP
    ),
    "gap_filled_value_series": (
        q_gap_filled_value_series, ORACLE_GAP_FILLED_VALUE_SERIES
    ),
    "price_equidepth_histogram": (
        q_price_equidepth_histogram, ORACLE_PRICE_EQUIDEPTH_HISTOGRAM
    ),
    "lineitem_correlations": (q_lineitem_correlations, ORACLE_LINEITEM_CORRELATIONS),
    "top_session_paths": (q_top_session_paths, ORACLE_TOP_SESSION_PATHS),
    "event_pair_affinity": (q_event_pair_affinity, ORACLE_EVENT_PAIR_AFFINITY),
    "event_rate_anomalies": (q_event_rate_anomalies, ORACLE_EVENT_RATE_ANOMALIES),
    "event_value_trend": (q_event_value_trend, ORACLE_EVENT_VALUE_TREND),
    "event_transition_matrix": (
        q_event_transition_matrix, ORACLE_EVENT_TRANSITION_MATRIX
    ),
    "rolling_p95_rate": (q_rolling_p95_rate, ORACLE_ROLLING_P95_RATE),
    "rolling_active_users": (q_rolling_active_users, ORACLE_ROLLING_ACTIVE_USERS),
    "user_growth_accounting": (q_user_growth_accounting, ORACLE_USER_GROWTH_ACCOUNTING),
    "conversion_latency_quartiles": (q_conversion_latency_quartiles, _latency_oracle()),
    "brand_copurchase_affinity": (
        q_brand_copurchase_affinity, ORACLE_BRAND_COPURCHASE_AFFINITY
    ),
    "brand_return_rates": (q_brand_return_rates, ORACLE_BRAND_RETURN_RATES),
    "activity_heatmap": (q_activity_heatmap, ORACLE_ACTIVITY_HEATMAP),
    "revenue_pareto_deciles": (q_revenue_pareto_deciles, ORACLE_REVENUE_PARETO_DECILES),
    "ship_latency_by_priority": (
        q_ship_latency_by_priority, ORACLE_SHIP_LATENCY_BY_PRIORITY
    ),
    "discount_quantity_trend": (
        q_discount_quantity_trend, ORACLE_DISCOUNT_QUANTITY_TREND
    ),
    "join_cardinality_profile": (
        q_join_cardinality_profile, ORACLE_JOIN_CARDINALITY_PROFILE
    ),
    "revenue_bootstrap_ci": (q_revenue_bootstrap_ci, _bootstrap_oracle()),
    "ab_test_welch": (q_ab_test_welch, ORACLE_AB_TEST_WELCH),
    "benford_price_audit": (q_benford_price_audit, _benford_oracle()),
    "seasonal_adjusted_anomalies": (
        q_seasonal_adjusted_anomalies, ORACLE_SEASONAL_ADJUSTED_ANOMALIES
    ),
    "priority_status_chi2": (q_priority_status_chi2, ORACLE_PRIORITY_STATUS_CHI2),
    "revenue_gini": (q_revenue_gini, ORACLE_REVENUE_GINI),
    "volume_autocorrelation": (q_volume_autocorrelation, ORACLE_VOLUME_AUTOCORRELATION),
    "rfm_segments": (q_rfm_segments, ORACLE_RFM_SEGMENTS),
    "cohort_ltv_curve": (q_cohort_ltv_curve, ORACLE_COHORT_LTV_CURVE),
    "repeat_order_survival": (q_repeat_order_survival, ORACLE_REPEAT_ORDER_SURVIVAL),
    "price_tail_index": (q_price_tail_index, ORACLE_PRICE_TAIL_INDEX),
    "basket_dispersion": (q_basket_dispersion, ORACLE_BASKET_DISPERSION),
    "orders_profile": (q_orders_profile, _profile_oracle()),
    "doc_length_outliers": (q_doc_length_outliers, ORACLE_DOC_LENGTH_OUTLIERS),
    "latest_event_per_user_type": (
        q_latest_event_per_user_type, ORACLE_LATEST_EVENT_PER_USER_TYPE
    ),
    "last_week_event_mix": (q_last_week_event_mix, ORACLE_LAST_WEEK_EVENT_MIX),
    "orders_page": (q_orders_page, ORACLE_ORDERS_PAGE),
    "part_type_bucket_pivot": (q_part_type_bucket_pivot, ORACLE_PART_TYPE_BUCKET_PIVOT),
    "sql_revenue_by_nation": (q_sql_revenue_by_nation, ORACLE_SQL_REVENUE_BY_NATION),
    "history_row": (
        history_queries.q_history_row, history_queries.history_row_oracle
    ),
    **classifier_queries.REGISTRY,
    **corpus_queries.REGISTRY,
    **corpus_pipeline.REGISTRY,
    **domain_queries.REGISTRY,
    **linkage_queries.REGISTRY,
    **pipeline_queries.REGISTRY,
    **selection_queries.REGISTRY,
}

_ORACLES = {n: o for n, (_, o) in _REGISTRY.items() if isinstance(o, str)}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (multi-stat pricing summary) on sf0.001."""
    return q_pricing_summary(spark, SF0001)


def queries() -> dict[str, QueryFn]:
    return {name: q for name, (q, _) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """Every query's oracle as DuckDB SQL, fixture oracles refreshed first.

    A fixture that cannot build (e.g. the test data moved) leaves its
    query out, with the traceback printed: the external driver then checks
    that query by row count only instead of failing every query. That
    fallback is for the driver alone; the parity tests require an oracle
    for every registered query."""
    out = {}
    for name, (_, oracle) in _REGISTRY.items():
        try:
            out[name] = oracle if isinstance(oracle, str) else oracle()
        except Exception:
            traceback.print_exc()
    return out
