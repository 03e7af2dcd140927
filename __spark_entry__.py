"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship funnel; ``queries()`` maps
every implemented operator from SURVEY.md §2 to a (spark, sf_dir) ->
DataFrame callable; ``oracle_sql()`` gives the DuckDB-equivalent SQL.
Both are built from ``REGISTRY`` at the end of this module, one row
per key.

Determinism notes (so value-hashes match the oracle):
- money sums go through DECIMAL casts (exact, partitioning-order
  independent) and are cast back to double at the end;
- averages are exact-sum / count in double, same formula both sides;
- per-row double math uses the identical formula in both engines;
- timestamps in output are formatted as strings (no tz ambiguity).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from openset_spark.functions.text import STOPWORDS, normalize, tokens
from openset_spark.functions.time import epoch_ms, epoch_us
from openset_spark.functions.vector import cosine
from openset_spark.operators.events import (
    event_aggregate,
    matching_rows,
    user_scalar,
)
from openset_spark.operators.funnel import funnel, funnel_user_steps
from openset_spark.operators.histogram import histogram, histogram_by
from openset_spark.operators.paths import top_paths, transition_matrix
from openset_spark.operators.property_counts import (
    property_counts,
    property_counts_by_segment,
)
from openset_spark.operators.retention import retention
from openset_spark.operators.segments import (
    Segment,
    membership,
    segment_counts,
    sequence_membership,
)
from openset_spark.operators.sessionize import (
    session_stats,
    with_session,
    zorder_key,
)
from openset_spark.pipeline.dedup import (
    exact_dedup_clusters,
    jaccard_pairs,
    minhash_candidates,
    simhash_candidates,
)
from openset_spark.pipeline.similarity import (
    brute_force_topk,
    embedding_near_dup,
    ivf_topk,
    lsh_topk,
)
from openset_spark.pipeline.textstats import (
    doc_fingerprint,
    lang_id,
    quality_score,
    text_stats,
    token_counts,
)
from openset_spark.sources.tables import load_table

SESSION_GAP_MS = 30 * 60 * 1000

# SQL fragment: normalized text (lower, collapse whitespace, trim) —
# must match openset_spark.functions.text.normalize.
_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS_SQL = f"string_split({_NORM_SQL}, ' ')"


def _dec(col: str, prec: int = 12, scale: int = 2):
    return F.col(col).cast(f"decimal({prec},{scale})")


# --------------------------------------------------------------------
# 2.6 relational coverage
# --------------------------------------------------------------------
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    qty, price = _dec("l_quantity"), _dec("l_extendedprice")
    disc, tax = _dec("l_discount", 4, 2), _dec("l_tax", 4, 2)
    one = F.lit(1).cast("decimal(3,2)")
    n = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (one - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (one - disc) * (one + tax)).cast("double").alias("sum_charge"),
            (F.sum(qty).cast("double") / n).alias("avg_qty"),
            (F.sum(price).cast("double") / n).alias("avg_price"),
            (F.sum(disc).cast("double") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


_SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    price, disc = _dec("l_extendedprice"), _dec("l_discount", 4, 2)
    one = F.lit(1).cast("decimal(3,2)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        )
        .agg(F.sum(price * (one - disc)).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_SQL_TPCH_Q3 = """
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d')
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    price, disc = _dec("l_extendedprice"), _dec("l_discount", 4, 2)
    one = F.lit(1).cast("decimal(3,2)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(price * (one - disc)).cast("double").alias("revenue"))
    )


_SQL_TPCH_Q5 = """
SELECT n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    price, disc = _dec("l_extendedprice"), _dec("l_discount", 4, 2)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(price * disc).cast("double").alias("revenue"))
    )


_SQL_TPCH_Q6 = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def q_tpch_q7_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): revenue between two nations by ship
    year, in both directions. Dims broadcast; the fact table joins
    hash-keyed — the classic two-role-dimension shape (nation joins
    twice under different roles)."""
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    price, disc = _dec("l_extendedprice"), _dec("l_discount", 4, 2)
    one = F.lit(1).cast("decimal(3,2)")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("s_nkey"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("c_nkey"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(price * (one - disc)).cast("double").alias("revenue"))
    )


_SQL_TPCH_Q7_STYLE = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY 1, 2, 3
"""


def q_tpch_q10_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item revenue): top customers by revenue
    lost to returns in one quarter — fact joins hash-keyed, dims
    broadcast, TakeOrderedAndProject for the top-20."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    price, disc = _dec("l_extendedprice"), _dec("l_discount", 4, 2)
    one = F.lit(1).cast("decimal(3,2)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(price * (one - disc)).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


_SQL_TPCH_Q10_STYLE = """
SELECT c_custkey, c_name, n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q_tpch_q9_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    # profit by nation x order-year for red parts (TPC-H q9 shape,
    # minus partsupp which the testdata doesn't ship)
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("red")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    price, disc = _dec("l_extendedprice"), _dec("l_discount", 4, 2)
    one = F.lit(1).cast("decimal(3,2)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("n_name", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(F.sum(price * (one - disc)).cast("double").alias("profit"))
    )


_SQL_TPCH_Q9_STYLE = """
SELECT n_name, year(o_orderdate::TIMESTAMP) AS o_year,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS profit
FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
"""


def q_tpch_q18_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    # large-volume orders: HAVING on a grouped sum, then rejoin (q18)
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).cast("double").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            _dec("o_totalprice").cast("double").alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("l_orderkey"))
        .limit(20)
    )


_SQL_TPCH_Q18_STYLE = """
WITH big AS (
  SELECT l_orderkey,
    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) > 150
)
SELECT c_name, c_custkey, l_orderkey,
  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS o_totalprice,
  total_qty
FROM big JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, l_orderkey ASC LIMIT 20
"""


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.sum(_dec("o_totalprice")).cast("double").alias("total_spent"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.desc("total_spent"), F.asc("c_custkey"))
        .limit(10)
    )


_SQL_TOP_CUSTOMERS = """
SELECT c_custkey, c_name,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spent,
  COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY total_spent DESC, c_custkey ASC
LIMIT 10
"""


# --------------------------------------------------------------------
# 2.1/2.4 event-query engine
# --------------------------------------------------------------------
def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def q_event_agg_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).withColumn("value", _dec("value", 10, 2))
    out = event_aggregate(
        ev,
        group_by=["event_type"],
        aggs=[("count", "event_id", "events"), ("sum", "value", "total_value")],
    )
    return out.withColumn("total_value", F.col("total_value").cast("double"))


_SQL_EVENT_AGG_BY_TYPE = """
SELECT event_type, COUNT(DISTINCT user_id) AS people, COUNT(event_id) AS events,
  CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS total_value
FROM events GROUP BY event_type
"""


def q_event_agg_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return event_aggregate(
        ev,
        group_by=[F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")],
        aggs=[("count", "event_id", "events")],
    )


_SQL_EVENT_AGG_BY_DAY = """
SELECT strftime(date_trunc('day', ts::TIMESTAMP), '%Y-%m-%d') AS day,
  COUNT(DISTINCT user_id) AS people, COUNT(event_id) AS events
FROM events GROUP BY 1
"""


def q_event_agg_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).withColumn("value", _dec("value", 10, 2))
    out = event_aggregate(
        ev,
        group_by=["event_type", F.dayofweek("ts").cast("long").alias("dow")],
        aggs=[("count", "event_id", "events"), ("sum", "value", "total_value")],
        where=F.col("event_type").isin("purchase", "view", "click"),
    )
    return out.withColumn("total_value", F.col("total_value").cast("double"))


_SQL_EVENT_AGG_TWO_LEVEL = """
SELECT event_type, dayofweek(ts::TIMESTAMP) + 1 AS dow,
  COUNT(DISTINCT user_id) AS people, COUNT(event_id) AS events,
  CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS total_value
FROM events WHERE event_type IN ('purchase','view','click')
GROUP BY 1, 2
"""


def q_event_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # all pivot-tree levels — (type, dow), (type), grand total — in one
    # shuffle via rollup (the reference walks the result tree instead).
    from openset_spark.operators.events import event_aggregate_rollup

    ev = _events(spark, sf_dir)
    return event_aggregate_rollup(
        ev,
        group_by=["event_type", F.dayofweek("ts").cast("long").alias("dow")],
        aggs=[("count", "event_id", "events")],
    )


_SQL_EVENT_AGG_ROLLUP = """
SELECT event_type, dayofweek(ts::TIMESTAMP) + 1 AS dow,
  COUNT(DISTINCT user_id) AS people, COUNT(event_id) AS events
FROM events GROUP BY ROLLUP (event_type, dow)
"""


def q_props_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    k = F.regexp_extract("props", r'"k": (\d+)', 1).cast("int")
    kb = (F.floor(k / 10) * 10).cast("long")
    return ev.groupBy(kb.alias("k_bucket")).agg(
        F.countDistinct("user_id").alias("people"),
        F.count(F.lit(1)).alias("events"),
    )


_SQL_PROPS_JSON_EXTRACT = """
SELECT CAST(FLOOR(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INTEGER) / 10) * 10 AS BIGINT) AS k_bucket,
  COUNT(DISTINCT user_id) AS people, COUNT(*) AS events
FROM events GROUP BY 1
"""


def q_user_purchase_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).withColumn("value", _dec("value", 10, 2))
    out = user_scalar(
        ev,
        aggs=[
            ("count", "event_id", "purchases"),
            ("sum", "value", "purchase_value"),
            ("max", "value", "max_purchase"),
        ],
        where=F.col("event_type") == "purchase",
    )
    return out.withColumn(
        "purchase_value", F.col("purchase_value").cast("double")
    ).withColumn("max_purchase", F.col("max_purchase").cast("double"))


_SQL_USER_PURCHASE_TOTALS = """
SELECT user_id, COUNT(event_id) AS purchases,
  CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS purchase_value,
  CAST(MAX(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS max_purchase
FROM events WHERE event_type = 'purchase' GROUP BY user_id
"""


def q_recent_purchase_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    # OSL `.within(7_days, last_event)` row modifier: purchases within
    # 7 days of the customer's last activity — anchor is a per-user
    # window max (same user_id shuffle the aggregate reuses).
    from openset_spark.functions.time import span
    from openset_spark.operators.segments import within_pred

    ev = _events(spark, sf_dir).withColumn("value", _dec("value", 10, 2))
    w = Window.partitionBy("user_id")
    ev = ev.withColumn("last_ts", F.max("ts").over(w))
    pred = within_pred(
        F.col("event_type") == "purchase",
        F.col("ts"),
        span(7, "days"),
        F.col("last_ts"),
    )
    return (
        ev.filter(pred)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("recent_purchases"),
            F.sum("value").cast("double").alias("recent_value"),
        )
    )


_SQL_RECENT_PURCHASE_TOTALS = """
WITH w AS (
  SELECT user_id, ts, event_type, value,
    MAX(ts) OVER (PARTITION BY user_id) AS last_ts
  FROM events
)
SELECT user_id, COUNT(*) AS recent_purchases,
  CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS recent_value
FROM w
WHERE event_type = 'purchase'
  AND ABS(epoch_us(last_ts::TIMESTAMP) - epoch_us(ts::TIMESTAMP)) / 1000.0 <= 604800000
GROUP BY user_id
"""


def q_events_with_user_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).withColumn("value", _dec("value", 10, 2))
    cust = load_table(spark, sf_dir, "customer")
    joined = ev.join(
        F.broadcast(cust), ev.user_id + 1 == cust.c_custkey
    )
    return joined.groupBy("c_mktsegment").agg(
        F.countDistinct("user_id").alias("people"),
        F.count(F.lit(1)).alias("events"),
        F.sum(F.col("value")).cast("double").alias("total_value"),
    )


_SQL_EVENTS_WITH_USER_DIM = """
SELECT c_mktsegment, COUNT(DISTINCT user_id) AS people, COUNT(*) AS events,
  CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS total_value
FROM events JOIN customer ON user_id + 1 = c_custkey
GROUP BY c_mktsegment
"""


# --------------------------------------------------------------------
# 2.2 sequence / behavioral
# --------------------------------------------------------------------
def q_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    s = with_session(ev, SESSION_GAP_MS)
    return s.groupBy("user_id").agg(F.max("session").alias("n_sessions"))


_SQL_SESSIONS_CTE = """
ordered AS (
  SELECT user_id, event_id, ts::TIMESTAMP AS ts,
    lag(ts::TIMESTAMP) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
flagged AS (
  SELECT user_id, event_id, ts,
    CASE WHEN prev_ts IS NULL OR (epoch(ts) - epoch(prev_ts)) * 1000 > 1800000
      THEN 1 ELSE 0 END AS new_s
  FROM ordered
)
"""

_SQL_SESSION_COUNTS = f"""
WITH {_SQL_SESSIONS_CTE}
SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions FROM flagged GROUP BY user_id
"""


def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    s = with_session(ev, SESSION_GAP_MS)
    per_session = s.groupBy("user_id", "session").agg(
        F.count(F.lit(1)).alias("n_events"),
        (epoch_us(F.max("ts")) - epoch_us(F.min("ts"))).alias("span_us"),
    )
    return per_session.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        (F.sum("n_events").cast("double") / F.count(F.lit(1))).alias("avg_events"),
        (
            F.sum("span_us").cast("double") / F.count(F.lit(1)) / 1_000_000
        ).alias("avg_span_sec"),
    )


_SQL_SESSION_STATS = f"""
WITH {_SQL_SESSIONS_CTE},
sessions AS (
  SELECT user_id, ts,
    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session
  FROM flagged
),
per_session AS (
  SELECT user_id, session, COUNT(*) AS n_events,
    epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS span_us
  FROM sessions GROUP BY user_id, session
)
SELECT COUNT(*) AS n_sessions,
  CAST(SUM(n_events) AS DOUBLE) / COUNT(*) AS avg_events,
  CAST(SUM(span_us) AS DOUBLE) / COUNT(*) / 1000000 AS avg_span_sec
FROM per_session
"""


def q_funnel_within_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    # funnel with the within() time budget: click must land <= 1h
    # after signup, purchase <= 1h after click.
    ev = _events(spark, sf_dir)
    return funnel(
        ev,
        [F.col("event_type") == s for s in ("signup", "click", "purchase")],
        within_ms=3_600_000,
    )


_SQL_FUNNEL_WITHIN_HOUR = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1
    AND (epoch_us(e.ts::TIMESTAMP) - epoch_us(s1.t1::TIMESTAMP)) / 1000 <= 3600000
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
    AND (epoch_us(e.ts::TIMESTAMP) - epoch_us(s2.t2::TIMESTAMP)) / 1000 <= 3600000
  GROUP BY e.user_id
)
SELECT 1 AS step, (SELECT COUNT(*) FROM s1) AS users
UNION ALL SELECT 2, (SELECT COUNT(*) FROM s2)
UNION ALL SELECT 3, (SELECT COUNT(*) FROM s3)
"""


def q_monthly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    out = retention(ev, "month")
    return out.withColumn("cohort", F.date_format("cohort", "yyyy-MM-dd"))


_SQL_MONTHLY_RETENTION = """
WITH base AS (
  SELECT user_id,
    date_trunc('month', ts::TIMESTAMP) AS active_period,
    date_trunc('month', MIN(ts::TIMESTAMP) OVER (PARTITION BY user_id)) AS cohort
  FROM events
)
SELECT strftime(cohort, '%Y-%m-%d') AS cohort,
  CAST(datediff('month', cohort, active_period) AS BIGINT) AS period_n,
  COUNT(DISTINCT user_id) AS people
FROM base GROUP BY cohort, period_n
"""


def q_session_counts_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    # session_time override: 5-minute inactivity gap
    ev = _events(spark, sf_dir)
    s = with_session(ev, 5 * 60 * 1000)
    return s.groupBy("user_id").agg(F.max("session").alias("n_sessions"))


_SQL_SESSION_COUNTS_5MIN = """
WITH ordered AS (
  SELECT user_id, event_id, ts::TIMESTAMP AS ts,
    lag(ts::TIMESTAMP) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
flagged AS (
  SELECT user_id,
    CASE WHEN prev_ts IS NULL OR (epoch(ts) - epoch(prev_ts)) * 1000 > 300000
      THEN 1 ELSE 0 END AS new_s
  FROM ordered
)
SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions FROM flagged GROUP BY user_id
"""


def q_user_event_type_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # set semantics: people per distinct event-type repertoire
    ev = _events(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias(
            "type_set"
        )
    )
    return per_user.groupBy("type_set").agg(
        F.count(F.lit(1)).alias("people")
    )


_SQL_USER_EVENT_TYPE_SETS = """
WITH u AS (
  SELECT user_id,
    array_to_string(list_sort(list(DISTINCT event_type)), ',') AS type_set
  FROM events GROUP BY user_id
)
SELECT type_set, COUNT(*) AS people FROM u GROUP BY type_set
"""


FUNNEL_STEPS = ("signup", "click", "purchase")


def q_funnel_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return funnel(ev, [F.col("event_type") == s for s in FUNNEL_STEPS])


_SQL_FUNNEL = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id
)
SELECT 1 AS step, (SELECT COUNT(*) FROM s1) AS users
UNION ALL SELECT 2, (SELECT COUNT(*) FROM s2)
UNION ALL SELECT 3, (SELECT COUNT(*) FROM s3)
"""


def q_next_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return transition_matrix(ev)


_SQL_NEXT_EVENT = """
WITH stepped AS (
  SELECT user_id, event_type,
    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_event_type
  FROM events
)
SELECT event_type AS from_event, next_event_type AS to_event,
  COUNT(*) AS transitions, COUNT(DISTINCT user_id) AS people
FROM stepped WHERE next_event_type IS NOT NULL
GROUP BY 1, 2
"""


def q_next_session_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # README example 14 (next-basket): carts = sessions, products =
    # event types.
    from openset_spark.operators.paths import next_session_transitions

    ev = _events(spark, sf_dir)
    return next_session_transitions(ev, SESSION_GAP_MS)


_SQL_NEXT_SESSION_TRANSITIONS = f"""
WITH {_SQL_SESSIONS_CTE},
sessions AS (
  SELECT s.user_id, e.event_type, s.session
  FROM (
    SELECT user_id, event_id,
      SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session
    FROM flagged
  ) s JOIN events e ON s.event_id = e.event_id
),
per_session AS (
  SELECT user_id, session, list(DISTINCT event_type) AS types
  FROM sessions GROUP BY user_id, session
),
paired AS (
  SELECT user_id, types,
    lead(types) OVER (PARTITION BY user_id ORDER BY session) AS next_types
  FROM per_session
),
exploded AS (
  SELECT user_id, f.ft AS from_type, t.tt AS to_type
  FROM paired, UNNEST(types) AS f(ft), UNNEST(next_types) AS t(tt)
  WHERE next_types IS NOT NULL
)
SELECT from_type, to_type, COUNT(DISTINCT user_id) AS people,
  COUNT(*) AS pairs
FROM exploded WHERE from_type <> to_type
GROUP BY from_type, to_type
"""


def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    # chains-of-events: most common 3-step opening paths
    ev = _events(spark, sf_dir)
    return top_paths(ev, max_steps=3, n=10)


_SQL_TOP_PATHS = """
WITH ranked AS (
  SELECT user_id, event_type,
    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS n
  FROM events
),
p AS (
  SELECT user_id, string_agg(event_type, '>' ORDER BY n) AS path
  FROM ranked WHERE n <= 3 GROUP BY user_id
)
SELECT path, COUNT(*) AS people FROM p GROUP BY path
ORDER BY people DESC, path ASC LIMIT 10
"""


def q_top_event_types_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    # result shaping: sort + trim per result-tree node -> top-2 event
    # types per day by event count.
    from openset_spark.operators.shaping import top_n_per_group

    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("events"))
    return top_n_per_group(
        daily, ["day"], [F.desc("events"), F.asc("event_type")], n=2
    )


_SQL_TOP_EVENT_TYPES_PER_DAY = """
WITH daily AS (
  SELECT strftime(date_trunc('day', ts::TIMESTAMP), '%Y-%m-%d') AS day,
    event_type, COUNT(*) AS events
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT day, event_type, events,
    row_number() OVER (PARTITION BY day ORDER BY events DESC, event_type ASC) AS rank
  FROM daily
)
SELECT day, event_type, events, rank FROM ranked WHERE rank <= 2
"""


def q_segment_sequence_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ordered-sequence segments: `signup then purchase`, `view then error`
    ev = _events(spark, sf_dir)
    m = sequence_membership(
        ev,
        {
            "signup_then_purchase": [
                F.col("event_type") == "signup",
                F.col("event_type") == "purchase",
            ],
            "view_then_error": [
                F.col("event_type") == "view",
                F.col("event_type") == "error",
            ],
        },
    )
    counts = m.agg(
        F.sum(F.col("signup_then_purchase").cast("long")).alias("signup_then_purchase"),
        F.sum(F.col("view_then_error").cast("long")).alias("view_then_error"),
    )
    return counts.selectExpr(
        "stack(2, 'signup_then_purchase', signup_then_purchase, "
        "'view_then_error', view_then_error) as (segment, people)"
    )


_SQL_SEGMENT_SEQUENCE_COUNTS = """
WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type='signup' GROUP BY user_id),
s2 AS (SELECT e.user_id FROM events e JOIN s1 ON e.user_id = s1.user_id
       WHERE e.event_type='purchase' AND e.ts > s1.t1 GROUP BY e.user_id),
v1 AS (SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type='view' GROUP BY user_id),
v2 AS (SELECT e.user_id FROM events e JOIN v1 ON e.user_id = v1.user_id
       WHERE e.event_type='error' AND e.ts > v1.t1 GROUP BY e.user_id)
SELECT 'signup_then_purchase' AS segment, (SELECT COUNT(*) FROM s2) AS people
UNION ALL SELECT 'view_then_error', (SELECT COUNT(*) FROM v2)
"""


def q_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    out = retention(ev, "week")
    return out.withColumn("cohort", F.date_format("cohort", "yyyy-MM-dd"))


_SQL_WEEKLY_RETENTION = """
WITH base AS (
  SELECT user_id,
    date_trunc('week', ts::TIMESTAMP) AS active_period,
    date_trunc('week', MIN(ts::TIMESTAMP) OVER (PARTITION BY user_id)) AS cohort
  FROM events
)
SELECT strftime(cohort, '%Y-%m-%d') AS cohort,
  CAST((epoch(active_period) - epoch(cohort)) / 604800 AS BIGINT) AS period_n,
  COUNT(DISTINCT user_id) AS people
FROM base GROUP BY cohort, period_n
"""


def q_days_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    steps = funnel_user_steps(
        ev, [F.col("event_type") == "signup", F.col("event_type") == "purchase"]
    )
    return steps.filter(F.col("step_2").isNotNull()).select(
        "user_id",
        F.floor(
            (epoch_us(F.col("step_2")) - epoch_us(F.col("step_1"))) / (86400.0 * 1_000_000)
        ).alias("days"),
    )


_SQL_DAYS_TO_CONVERT = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s1.t1 GROUP BY e.user_id
)
SELECT s1.user_id,
  CAST(FLOOR((epoch_us(s2.t2::TIMESTAMP) - epoch_us(s1.t1::TIMESTAMP)) / (86400.0 * 1000000)) AS BIGINT) AS days
FROM s1 JOIN s2 ON s1.user_id = s2.user_id
"""


def q_event_agg_distinct_stamps(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the reference's stamped-row count method (useStampedRowIds,
    # test/test_count_methods.h): rows sharing a stamp count once.
    ev = _events(spark, sf_dir)
    return event_aggregate(
        ev,
        group_by=["event_type"],
        aggs=[("dcount", "ts", "distinct_stamps"), ("count", "event_id", "events")],
    )


_SQL_EVENT_AGG_DISTINCT_STAMPS = """
SELECT event_type, COUNT(DISTINCT user_id) AS people,
  COUNT(DISTINCT ts) AS distinct_stamps, COUNT(event_id) AS events
FROM events GROUP BY event_type
"""


def q_last_purchase_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    # OSL each_row.reverse().limit(1) where event.is(== 'purchase')
    ev = _events(spark, sf_dir)
    out = matching_rows(
        ev, where=F.col("event_type") == "purchase", limit=1, reverse=True
    )
    return out.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        "value",
    )


_SQL_LAST_PURCHASE_PER_USER = """
WITH ranked AS (
  SELECT user_id, ts, value,
    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE event_type = 'purchase'
)
SELECT user_id, strftime(ts::TIMESTAMP, '%Y-%m-%d %H:%M:%S.%f') AS ts, value
FROM ranked WHERE rn = 1
"""


def q_first_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    # OSL each_row.limit(3): first 3 rows per customer, match index kept
    ev = _events(spark, sf_dir)
    out = matching_rows(ev, limit=3)
    return out.select("user_id", "match_n", "event_type")


_SQL_FIRST_EVENTS_PER_USER = """
WITH ranked AS (
  SELECT user_id, event_type,
    row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS match_n
  FROM events
)
SELECT user_id, match_n, event_type FROM ranked WHERE match_n <= 3
"""


def q_row_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # OSL `<< bucket(row_count, 5)` — people by per-customer event count
    ev = _events(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("row_count"))
    return per_user.groupBy(
        (F.floor(F.col("row_count") / 5) * 5).alias("row_count_bucket")
    ).agg(F.count(F.lit(1)).alias("people"))


_SQL_ROW_COUNT_DISTRIBUTION = """
WITH u AS (SELECT user_id, COUNT(*) AS row_count FROM events GROUP BY user_id)
SELECT CAST(FLOOR(row_count / 5) * 5 AS BIGINT) AS row_count_bucket, COUNT(*) AS people
FROM u GROUP BY 1
"""


def q_purchases_by_quarter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # OSL `<< get_year(stamp), get_quarter(stamp)` pivot
    from openset_spark.functions.time import get_quarter, get_year

    ev = _events(spark, sf_dir).withColumn("value", _dec("value", 10, 2))
    out = event_aggregate(
        ev,
        group_by=[
            get_year(F.col("ts")).cast("long").alias("yr"),
            get_quarter(F.col("ts")).cast("long").alias("qtr"),
        ],
        aggs=[("count", "event_id", "events"), ("sum", "value", "total_value")],
        where=F.col("event_type") == "purchase",
    )
    return out.withColumn("total_value", F.col("total_value").cast("double"))


_SQL_PURCHASES_BY_QUARTER = """
SELECT year(ts::TIMESTAMP) AS yr, quarter(ts::TIMESTAMP) AS qtr,
  COUNT(DISTINCT user_id) AS people, COUNT(event_id) AS events,
  CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS total_value
FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
"""


# --------------------------------------------------------------------
# 2.3 segments
# --------------------------------------------------------------------
def _segments() -> list[Segment]:
    return [
        Segment("purchasers", F.col("event_type") == "purchase"),
        Segment(
            "big_spenders",
            (F.col("event_type") == "purchase") & (F.col("value") > 400),
        ),
        Segment("errorers", F.col("event_type") == "error"),
        Segment(
            "recent_actives",
            F.col("ts") >= F.lit("2024-01-25").cast("timestamp"),
        ),
    ]


_SEG_SQL_PREDS = {
    "purchasers": "event_type = 'purchase'",
    "big_spenders": "event_type = 'purchase' AND value > 400",
    "errorers": "event_type = 'error'",
    "recent_actives": "ts >= TIMESTAMP '2024-01-25'",
}


def q_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return segment_counts(ev, _segments())


def _seg_membership_sql() -> str:
    cols = ",\n    ".join(
        f"MAX(CASE WHEN {pred} THEN 1 ELSE 0 END) = 1 AS {name}"
        for name, pred in _SEG_SQL_PREDS.items()
    )
    return f"SELECT user_id,\n    {cols}\n  FROM events GROUP BY user_id"


_SQL_SEGMENT_COUNTS = f"""
WITH m AS ({_seg_membership_sql()})
SELECT 'purchasers' AS segment, CAST(SUM(CASE WHEN purchasers THEN 1 ELSE 0 END) AS BIGINT) AS people FROM m
UNION ALL SELECT 'big_spenders', CAST(SUM(CASE WHEN big_spenders THEN 1 ELSE 0 END) AS BIGINT) FROM m
UNION ALL SELECT 'errorers', CAST(SUM(CASE WHEN errorers THEN 1 ELSE 0 END) AS BIGINT) FROM m
UNION ALL SELECT 'recent_actives', CAST(SUM(CASE WHEN recent_actives THEN 1 ELSE 0 END) AS BIGINT) FROM m
"""


def q_segment_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    m = membership(ev, _segments())
    combos = {
        "big_and_recent": F.col("big_spenders") & F.col("recent_actives"),
        "big_or_error": F.col("big_spenders") | F.col("errorers"),
        "big_not_error": F.col("big_spenders") & ~F.col("errorers"),
        "not_big": ~F.col("big_spenders"),
    }
    agg = m.agg(
        *[F.sum(expr.cast("long")).alias(name) for name, expr in combos.items()]
    )
    stack = ", ".join(f"'{n}', {n}" for n in combos)
    return agg.selectExpr(f"stack({len(combos)}, {stack}) as (combo, people)")


_SQL_SEGMENT_ALGEBRA = f"""
WITH m AS ({_seg_membership_sql()})
SELECT 'big_and_recent' AS combo, CAST(SUM(CASE WHEN big_spenders AND recent_actives THEN 1 ELSE 0 END) AS BIGINT) AS people FROM m
UNION ALL SELECT 'big_or_error', CAST(SUM(CASE WHEN big_spenders OR errorers THEN 1 ELSE 0 END) AS BIGINT) FROM m
UNION ALL SELECT 'big_not_error', CAST(SUM(CASE WHEN big_spenders AND NOT errorers THEN 1 ELSE 0 END) AS BIGINT) FROM m
UNION ALL SELECT 'not_big', CAST(SUM(CASE WHEN NOT big_spenders THEN 1 ELSE 0 END) AS BIGINT) FROM m
"""


# --------------------------------------------------------------------
def q_textual_user_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    # reference `id_type: textual` + sid= param (docs/rest/README.md:34,
    # 331): the behavioral core is id-type agnostic — sessionize, a
    # 2-step funnel, and segment membership all keyed on a STRING
    # customer id in one query. Same plan shape as the numeric path:
    # the three per-user aggregates share the sid hash partitioning.
    ev = (
        _events(spark, sf_dir)
        .withColumn(
            "sid", F.concat(F.lit("u-"), F.col("user_id").cast("string"))
        )
        .drop("user_id")
    )
    sess = (
        with_session(ev, SESSION_GAP_MS, user_col="sid")
        .groupBy("sid")
        .agg(F.max("session").cast("long").alias("n_sessions"))
    )
    m = membership(
        ev,
        [Segment("is_purchaser", F.col("event_type") == "purchase")],
        user_col="sid",
    )
    f = funnel_user_steps(
        ev,
        [F.col("event_type") == "signup", F.col("event_type") == "purchase"],
        user_col="sid",
    )
    return (
        sess.join(m, "sid")
        .join(f, "sid")
        .select(
            "sid",
            "n_sessions",
            "is_purchaser",
            F.col("step_2").isNotNull().alias("converted"),
        )
    )


_SQL_TEXTUAL_USER_CORE = """
WITH ev AS (
  SELECT 'u-' || CAST(user_id AS VARCHAR) AS sid, event_id, event_type,
    ts::TIMESTAMP AS ts
  FROM events
),
ordered AS (
  SELECT sid, ts,
    lag(ts) OVER (PARTITION BY sid ORDER BY ts, event_id) AS prev_ts
  FROM ev
),
sess AS (
  SELECT sid, CAST(SUM(CASE WHEN prev_ts IS NULL
      OR (epoch(ts) - epoch(prev_ts)) * 1000 > 1800000
    THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
  FROM ordered GROUP BY sid
),
m AS (
  SELECT sid, COALESCE(bool_or(event_type = 'purchase'), FALSE) AS is_purchaser
  FROM ev GROUP BY sid
),
s1 AS (
  SELECT sid, MIN(ts) AS t1 FROM ev WHERE event_type = 'signup' GROUP BY sid
),
s2 AS (
  SELECT e.sid, MIN(e.ts) AS t2 FROM ev e JOIN s1 ON e.sid = s1.sid
  WHERE e.event_type = 'purchase' AND e.ts > s1.t1 GROUP BY e.sid
)
SELECT sess.sid, sess.n_sessions, m.is_purchaser,
  (s2.t2 IS NOT NULL) AS converted
FROM sess JOIN m ON sess.sid = m.sid LEFT JOIN s2 ON sess.sid = s2.sid
"""


# --------------------------------------------------------------------
# OSL front-end — the reference's query LANGUAGE driven end-to-end
# (docs/osl/language_reference.md; parser/compiler in
# openset_spark/osl/)
# --------------------------------------------------------------------
_OSL_EVENT_AGG_SCRIPT = """
select
  count id
  sum price as total_value
end

each_row where event.is(== "purchase")
  << event, get_year(stamp)
end
"""


def q_osl_event_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a verbatim OSL script through parse -> compile -> event_aggregate
    from openset_spark.osl import compile_osl

    ev = _events(spark, sf_dir).withColumn("value", _dec("value", 10, 2))
    q = compile_osl(_OSL_EVENT_AGG_SCRIPT, column_map={"price": "value"})
    out = q.dataframe(ev)
    return out.withColumn("total_value", F.col("total_value").cast("double"))


_SQL_OSL_EVENT_AGG = """
SELECT event_type AS event, CAST(year(ts::TIMESTAMP) AS BIGINT) AS get_year_stamp,
  COUNT(DISTINCT user_id) AS people,
  CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS total_value
FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
"""


_OSL_FUNNEL_SCRIPT = """
select
  count id
end

each_row.limit(1) where event.is(== "signup")
  each_row.continue().next() where event.is(== "purchase")
    << event
  end
end
"""


def q_osl_funnel_continue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # nested each_row.continue().next() (the reference's funnel idiom,
    # test_osl_language.h) through the parser: purchases after the
    # customer's first signup
    from openset_spark.osl import compile_osl

    return compile_osl(_OSL_FUNNEL_SCRIPT).dataframe(_events(spark, sf_dir))


_OSL_SEGMENT_SCRIPT = """
@segment purchasers use_cached=True refresh=5_minutes
if event.ever(== "purchase")
  return(true)
end

@segment engaged z_index=100
if event.ever(any ["click", "view"]) && event.never(== "error")
  return(true)
end

@segment quiet use_cached=True
if event.never(any ["purchase", "click"])
  return(true)
end
"""


def q_osl_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the /counts endpoint's @segment script shape end-to-end
    # (docs/rest/README.md:275-290): parse -> one-shuffle membership
    # -> people counts
    from openset_spark.osl import compile_osl_segments

    segs = compile_osl_segments(_OSL_SEGMENT_SCRIPT)
    return segs.counts(_events(spark, sf_dir))


_SQL_OSL_SEGMENT_COUNTS = """
WITH m AS (
  SELECT user_id,
    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1 AS purchasers,
    MAX(CASE WHEN event_type IN ('click','view') THEN 1 ELSE 0 END) = 1 AS clickview,
    MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) = 1 AS errored,
    MAX(CASE WHEN event_type IN ('purchase','click') THEN 1 ELSE 0 END) = 1 AS buyclick
  FROM events GROUP BY user_id)
SELECT 'purchasers' AS segment, CAST(SUM(CASE WHEN purchasers THEN 1 ELSE 0 END) AS BIGINT) AS people FROM m
UNION ALL SELECT 'engaged', CAST(SUM(CASE WHEN clickview AND NOT errored THEN 1 ELSE 0 END) AS BIGINT) FROM m
UNION ALL SELECT 'quiet', CAST(SUM(CASE WHEN NOT buyclick THEN 1 ELSE 0 END) AS BIGINT) FROM m
"""


_SQL_OSL_FUNNEL = """
WITH a AS (
  SELECT user_id, ts, event_id FROM (
    SELECT user_id, ts::TIMESTAMP AS ts, event_id,
      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events WHERE event_type = 'signup'
  ) t WHERE rn = 1
)
SELECT e.event_type AS event, COUNT(DISTINCT e.user_id) AS people
FROM events e JOIN a ON e.user_id = a.user_id
WHERE e.event_type = 'purchase'
  AND (e.ts::TIMESTAMP > a.ts
       OR (e.ts::TIMESTAMP = a.ts AND e.event_id > a.event_id))
GROUP BY 1
"""


# --------------------------------------------------------------------
# 2.4 property counts & histograms
# --------------------------------------------------------------------
def q_property_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return property_counts(ev, "event_type").withColumnRenamed("value", "prop_value")


_SQL_PROPERTY_COUNTS = """
SELECT event_type AS prop_value, COUNT(DISTINCT user_id) AS people
FROM events WHERE event_type IS NOT NULL GROUP BY event_type
"""


def q_property_counts_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    out = property_counts(ev, "value", bucket=50.0)
    return out.select(F.col("value").cast("double").alias("bucket_lo"), "people")


_SQL_PROPERTY_COUNTS_BUCKETED = """
SELECT CAST(FLOOR(value / 50.0) * 50.0 AS DOUBLE) AS bucket_lo, COUNT(DISTINCT user_id) AS people
FROM events WHERE value IS NOT NULL GROUP BY 1
"""


def q_property_counts_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    m = membership(ev, _segments())
    out = property_counts_by_segment(
        ev, "event_type", m, ["big_spenders", "recent_actives"]
    )
    return out.withColumnRenamed("value", "prop_value")


_SQL_PROPERTY_COUNTS_BY_SEGMENT = f"""
WITH m AS ({_seg_membership_sql()})
SELECT e.event_type AS prop_value,
  COUNT(DISTINCT e.user_id) AS people,
  COUNT(DISTINCT CASE WHEN m.big_spenders THEN e.user_id END) AS big_spenders_people,
  COUNT(DISTINCT CASE WHEN m.recent_actives THEN e.user_id END) AS recent_actives_people
FROM events e LEFT JOIN m ON e.user_id = m.user_id
WHERE e.event_type IS NOT NULL
GROUP BY e.event_type
"""


def q_histogram_weeks_since(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    now = ev.agg(F.max("ts").alias("now_ts"))
    per_user = (
        ev.groupBy("user_id")
        .agg(F.max("ts").alias("last_ts"))
        .crossJoin(F.broadcast(now))
        .select(
            "user_id",
            F.floor(
                (
                    (epoch_us(F.col("now_ts")) - epoch_us(F.col("last_ts"))) / 1_000_000.0
                )
                / 604800
            ).alias("weeks_since"),
        )
    )
    return histogram(per_user, "weeks_since", bucket=1.0, name="weeks_since").select(
        F.col("weeks_since").cast("long").alias("weeks_since"), "people"
    )


_SQL_HISTOGRAM_WEEKS_SINCE = """
WITH nowt AS (SELECT MAX(ts) AS now_ts FROM events),
u AS (SELECT user_id, MAX(ts) AS last_ts FROM events GROUP BY user_id),
h AS (
  SELECT CAST(FLOOR(((epoch_us(now_ts::TIMESTAMP) - epoch_us(last_ts::TIMESTAMP)) / 1000000.0) / 604800) AS BIGINT) AS weeks_since,
    COUNT(DISTINCT user_id) AS people
  FROM u, nowt GROUP BY 1
),
bounds AS (
  SELECT unnest(generate_series((SELECT MIN(weeks_since) FROM h),
                                (SELECT MAX(weeks_since) FROM h))) AS weeks_since
)
SELECT bounds.weeks_since, COALESCE(h.people, 0) AS people
FROM bounds LEFT JOIN h USING (weeks_since)
"""


def q_property_counts_rx(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the property endpoint's rx=/sub= value filters: only values
    # matching the regex are counted.
    ev = _events(spark, sf_dir)
    out = property_counts(
        ev, "event_type", value_filter=F.col("event_type").rlike("^(p|c)")
    )
    return out.withColumnRenamed("value", "prop_value")


_SQL_PROPERTY_COUNTS_RX = """
SELECT event_type AS prop_value, COUNT(DISTINCT user_id) AS people
FROM events
WHERE event_type IS NOT NULL AND regexp_matches(event_type, '^(p|c)')
GROUP BY event_type
"""


def q_property_counts_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the property endpoint's between=/and= numeric filter (half-open
    # [lo, hi) per docs/rest/README.md:311) + bucket= + trim= result
    # shaping, driven through the engine facade so the endpoint wiring
    # itself is under the oracle gate.
    from openset_spark.engine import OpenSetEngine

    eng = OpenSetEngine(spark, sf_dir)
    out = eng.property_counts(
        "value", bucket=25.0, between=(100.0, 300.0), order="desc", trim=6
    )
    return out.select(F.col("value").cast("double").alias("bucket_lo"), "people")


_SQL_PROPERTY_COUNTS_BETWEEN = """
SELECT CAST(FLOOR(value / 25.0) * 25.0 AS DOUBLE) AS bucket_lo,
  COUNT(DISTINCT user_id) AS people
FROM events WHERE value >= 100.0 AND value < 300.0
GROUP BY 1 ORDER BY people DESC, bucket_lo ASC LIMIT 6
"""


def q_histogram_spend_clipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    # histogram endpoint min=/max=: per-user purchase spend, bucket=100,
    # zero-filled from 0, values >= 1000 collapsed into the 1000 bucket.
    ev = _events(spark, sf_dir).withColumn("value", _dec("value", 10, 2))
    per_user = user_scalar(
        ev,
        aggs=[("sum", "value", "spend")],
        where=F.col("event_type") == "purchase",
    ).select("user_id", F.col("spend").cast("double").alias("spend"))
    out = histogram(
        per_user, "spend", bucket=100.0, min_value=0.0, max_value=1000.0,
        name="spend_bucket",
    )
    return out.select(
        F.col("spend_bucket").cast("double").alias("spend_bucket"), "people"
    )


_SQL_HISTOGRAM_SPEND_CLIPPED = """
WITH u AS (
  SELECT user_id, CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS spend
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
b AS (
  SELECT user_id, FLOOR(LEAST(spend, 1000.0) / 100.0) * 100.0 AS bkt FROM u
),
h AS (SELECT bkt, COUNT(DISTINCT user_id) AS people FROM b GROUP BY bkt),
-- min=0/max=1000 force the fill range: the reference always re-injects
-- the max bucket, so 0..1000 is emitted even if no one hit the clip
bounds AS (SELECT unnest(generate_series(0, 1000, 100)) AS bkt)
SELECT CAST(bounds.bkt AS DOUBLE) AS spend_bucket, COALESCE(h.people, 0) AS people
FROM bounds LEFT JOIN h ON bounds.bkt = h.bkt
"""


def q_histogram_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    # foreach-histogram: one histogram of per-user event counts per
    # event_type value (src/oloop_histogram.cpp foreach mode).
    ev = _events(spark, sf_dir)
    per_user = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    out = histogram_by(per_user, "n", "event_type", bucket=5.0, name="n_bucket")
    return out.select(
        "event_type", F.col("n_bucket").cast("long").alias("n_bucket"), "people"
    )


_SQL_HISTOGRAM_BY_TYPE = """
WITH u AS (
  SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2
),
h AS (
  SELECT event_type, CAST(FLOOR(n / 5.0) * 5.0 AS BIGINT) AS n_bucket,
    COUNT(DISTINCT user_id) AS people
  FROM u GROUP BY 1, 2
),
-- per-group interior fill: each event_type's own observed min..max
bounds AS (
  SELECT event_type, unnest(generate_series(lo, hi, 5)) AS n_bucket
  FROM (SELECT event_type, MIN(n_bucket) AS lo, MAX(n_bucket) AS hi
        FROM h GROUP BY 1)
)
SELECT bounds.event_type, bounds.n_bucket, COALESCE(h.people, 0) AS people
FROM bounds LEFT JOIN h USING (event_type, n_bucket)
"""


def q_session_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # distribution summary of session lengths (events per session)
    from openset_spark.operators.histogram import quantiles
    from openset_spark.operators.sessionize import session_stats

    ev = _events(spark, sf_dir)
    per_session = session_stats(ev, SESSION_GAP_MS).select(
        F.col("n_events").cast("double").alias("n_events")
    )
    out = quantiles(per_session, "n_events", [0.5, 0.9, 0.99])
    return out.select(
        F.round("q50", 4).alias("q50"),
        F.round("q90", 4).alias("q90"),
        F.round("q99", 4).alias("q99"),
    )


_SQL_SESSION_LENGTH_QUANTILES = f"""
WITH {_SQL_SESSIONS_CTE},
sessions AS (
  SELECT user_id, ts,
    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session
  FROM flagged
),
per_session AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_events
  FROM sessions GROUP BY user_id, session
)
SELECT ROUND(quantile_cont(n_events, 0.5), 4) AS q50,
  ROUND(quantile_cont(n_events, 0.9), 4) AS q90,
  ROUND(quantile_cont(n_events, 0.99), 4) AS q99
FROM per_session
"""


def q_customer_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openset_spark.operators.customer import customer_timeline

    ev = _events(spark, sf_dir)
    out = customer_timeline(ev, 7)
    return out.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


_SQL_CUSTOMER_TIMELINE = """
SELECT event_id, strftime(ts::TIMESTAMP, '%Y-%m-%d %H:%M:%S.%f') AS ts,
  user_id, event_type, value, props
FROM events WHERE user_id = 7 ORDER BY ts, event_id
"""


# --------------------------------------------------------------------
# 2.8 pipeline: dedup / similarity / text
# --------------------------------------------------------------------
def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_clusters(_docs(spark, sf_dir))


def q_dedup_exact_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the drop pass: surviving doc ids after exact dedup
    from openset_spark.pipeline.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir)).select("doc_id")


_SQL_DEDUP_EXACT_KEEP = f"""
WITH c AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5({_NORM_SQL})
)
SELECT doc_id FROM c
"""


_SQL_DEDUP_EXACT = f"""
SELECT md5({_NORM_SQL}) AS text_hash, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_doc_id
FROM documents GROUP BY 1
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = jaccard_pairs(_docs(spark, sf_dir), threshold=0.6)
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


_SQL_DEDUP_NGRAM_JACCARD = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
),
d AS (SELECT DISTINCT doc_id, tok FROM tok),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM d GROUP BY doc_id),
c AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
  FROM d a JOIN d b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
  ROUND(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 4) AS jaccard
FROM c JOIN sz sa ON c.id_a = sa.doc_id JOIN sz sb ON c.id_b = sb.doc_id
WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.6
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH with its containment oracle IN the result (closes
    the r1-r4 ``no_oracle`` row): exact token-set Jaccard pairs at
    >= 0.9 (explode+join on shared tokens — no cross product) inner-
    joined to the LSH candidate set. With 64 hashes / 16 bands the
    per-pair candidate probability at J=0.9 is 1-(1-0.9^4)^16 ~
    0.99998, and containment is exact on this corpus (measured: all
    32191 sf0.001 / 30328 sf0.01 pairs at J>=0.8 are candidates), so
    the join equals the exact pair set — which DuckDB reproduces. A
    missed candidate drops a row -> the driver's row/hash gate fails.
    ``minhash_candidates`` is the production path; the exact-Jaccard
    side is verification-only (bench.py times the production path
    alone, unchanged from r4)."""
    docs = _docs(spark, sf_dir)
    exact = jaccard_pairs(docs, threshold=0.9, shingle_n=1)
    cands = minhash_candidates(docs, shingle_n=1)
    return exact.join(cands, ["id_a", "id_b"], "inner").select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    )


_SQL_DEDUP_MINHASH = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
),
d AS (SELECT DISTINCT doc_id, tok FROM tok),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM d GROUP BY doc_id),
c AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
  FROM d a JOIN d b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
  ROUND(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 4) AS jaccard
FROM c JOIN sz sa ON c.id_a = sa.doc_id JOIN sz sb ON c.id_b = sb.doc_id
WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.9
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash with its containment oracle IN the result: ground truth
    = pairs whose token-FREQUENCY cosine >= 0.99 (the similarity
    simhash estimates — hamming ~ 64*theta/pi, so cosine 0.99 gives
    E[hamming] ~ 2.9), candidates = the 8-bit-block join (pigeonhole:
    hamming <= 7 guarantees a shared block). Containment measured
    exact at sf0.001/sf0.01 (21/21 pairs each), so the join equals
    the exact cosine pair set, reproducible in SQL. All integer
    dot/norm inputs -> cosine is bit-identical across engines."""
    docs = _docs(spark, sf_dir)
    tok = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    norms = tok.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nrm")
    )
    a, b = tok.alias("a"), tok.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.sum(F.col("a.c") * F.col("b.c")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("id_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("id_b"), F.col("nrm").alias("nb"))
    exact = (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("dot") / (F.col("na") * F.col("nb"))).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.99)
    )
    cands = simhash_candidates(docs, blocks=8)
    return exact.join(cands, ["id_a", "id_b"], "inner").select(
        "id_a", "id_b", F.round("cos_sim", 4).alias("cos_sim")
    )


_SQL_DEDUP_SIMHASH = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
),
tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2),
nrm AS (SELECT doc_id, SQRT(SUM(c * c)) AS nrm FROM tc GROUP BY 1),
d AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.c * b.c) AS dot
  FROM tc a JOIN tc b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
  ROUND(CAST(dot AS DOUBLE) / (na.nrm * nb.nrm), 4) AS cos_sim
FROM d JOIN nrm na ON d.id_a = na.doc_id JOIN nrm nb ON d.id_b = nb.doc_id
WHERE CAST(dot AS DOUBLE) / (na.nrm * nb.nrm) >= 0.99
"""


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    out = embedding_near_dup(embs, threshold=0.3, block_col="label", dim=64)
    return out.select("id_a", "id_b", F.round("cos_sim", 4).alias("cos_sim"))


_SQL_DEDUP_EMBEDDING = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos_sim
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.3
"""


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = embs.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk(embs, queries, k=10)
    return out.select(
        "query_id", "vec_id", F.round("cos_sim", 4).alias("cos_sim"), "rank"
    )


_SQL_ANN_TOPK = """
WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 50),
scored AS (
  SELECT q.query_id, c.vec_id,
    list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS cos_sim
  FROM embeddings c CROSS JOIN q
),
ranked AS (
  SELECT query_id, vec_id, cos_sim,
    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, ROUND(cos_sim, 4) AS cos_sim, rank
FROM ranked WHERE rank <= 10
"""


def _ann_queries(spark: SparkSession, sf_dir: str):
    embs = _embs(spark, sf_dir).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = embs.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return embs, queries


def _ann_recall_frame(ann: DataFrame, exact: DataFrame, floor: float) -> DataFrame:
    """Per-query recall of ``ann`` vs the exact ``exact`` top-k,
    asserted against ``floor`` IN the result: (query_id, k,
    recall_ok). A recall drop flips recall_ok to false -> the
    driver's value-hash gate goes red (VERDICT r4 ask #2)."""
    hits = exact.select("query_id", "vec_id").join(
        ann.select("query_id", "vec_id").withColumn("_hit", F.lit(1)),
        ["query_id", "vec_id"],
        "left",
    )
    return hits.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("k"),
        (
            F.coalesce(F.sum("_hit"), F.lit(0)) / F.count(F.lit(1)) >= floor
        ).alias("recall_ok"),
    )


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN with its recall oracle IN PLAN (closes the r1-r4
    ``no_oracle`` row): exact brute-force top-10 (broadcast-nested-
    loop, the gated oracle path) left-joined to the LSH top-10;
    per-query recall asserted >= 0.5. The test embeddings are
    near-uniform (no planted neighbor structure), so this config is
    multi-probe-heavy (3 planes x 12 tables — measured per-query min
    recall 0.7 sf0.001 / 0.8 sf0.01, avg 0.94); the scale config and
    its 10.7x-over-brute-force timing live in ann_bench.py on the
    200k corpus, and bench.py times that path unchanged from r4."""
    embs, queries = _ann_queries(spark, sf_dir)
    ann = lsh_topk(embs, queries, dim=64, k=10, n_planes=3, n_tables=12)
    exact = brute_force_topk(embs, queries, k=10)
    return _ann_recall_frame(ann, exact, floor=0.5)


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with its recall oracle in plan: probe 12 of 16 lists
    (recall-sized for the structureless test vectors — measured
    per-query min recall 0.6, avg 0.89/0.91), per-query recall
    asserted >= 0.3 against the brute-force exact top-10. The scale
    config (nprobe=4, 11.6x over brute force at 200k) is timed in
    ann_bench.py / bench.py unchanged from r4."""
    embs, queries = _ann_queries(spark, sf_dir)
    ann = ivf_topk(embs, queries, k=10, n_lists=16, nprobe=12)
    exact = brute_force_topk(embs, queries, k=10)
    return _ann_recall_frame(ann, exact, floor=0.3)


_SQL_ANN_RECALL_OK = """
SELECT vec_id AS query_id, CAST(10 AS BIGINT) AS k, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 50
"""


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jegou et al. 2011 / FAISS IndexPQ)
    with its recall oracle in plan: M=8 x ksub=16 codebooks (1-round
    Lloyd), ADC shortlist 192, exact cosine re-rank to top-10,
    per-query recall asserted >= 0.3 vs brute force (measured min
    0.6 sf0.01 / 0.7 sf0.001, avg 0.92+ — the test embeddings are
    near-random; the clustered-corpus behavior and the 16x-fewer-
    bytes scan story are in ann_bench.py's pq_sec/pq_recall on the
    200k corpus). NEW r8."""
    from openset_spark.pipeline.pq import pq_topk

    embs, queries = _ann_queries(spark, sf_dir)
    ann = pq_topk(
        embs, queries, k=10, m=8, ksub=16, shortlist=192, refine_iters=1
    )
    exact = brute_force_topk(embs, queries, k=10)
    return _ann_recall_frame(ann, exact, floor=0.3)


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (duplicate-token
    fraction + top-2-gram character coverage) — the structural
    pretraining filters; see pipeline/textstats.py::repetition_signals
    (tie-break and threshold semantics documented there, mirrored in
    the oracle). NEW r6."""
    from openset_spark.pipeline.textstats import repetition_signals

    return repetition_signals(_docs(spark, sf_dir))


_SQL_REPETITION_SIGNALS = f"""
WITH tok AS (
  SELECT doc_id, {_TOKS_SQL} AS ts, LENGTH({_NORM_SQL}) AS n_chars
  FROM documents
),
base AS (
  SELECT doc_id, ts, n_chars, len(ts) AS n_tokens,
         len(list_distinct(ts)) AS n_distinct
  FROM tok WHERE len(ts) >= 2
),
bg AS (
  SELECT doc_id, ts[i] || ' ' || ts[i+1] AS bigram
  FROM base, UNNEST(generate_series(1, len(ts)-1)) AS s(i)
),
cnt AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2),
top AS (
  SELECT doc_id, bigram, c,
    row_number() OVER (
      PARTITION BY doc_id ORDER BY c DESC, bigram DESC
    ) AS rn
  FROM cnt
)
SELECT b.doc_id, b.n_tokens,
  ROUND(1.0 - b.n_distinct * 1.0 / b.n_tokens, 4) AS dup_token_ratio,
  t.bigram AS top_bigram,
  t.c AS top_bigram_count,
  ROUND(t.c * LENGTH(t.bigram) * 1.0 / b.n_chars, 4) AS top_bigram_char_frac,
  ((1.0 - b.n_distinct * 1.0 / b.n_tokens) > 0.5
   OR (t.c * LENGTH(t.bigram) * 1.0 / b.n_chars) > 0.2) AS flagged
FROM base b JOIN top t ON b.doc_id = t.doc_id AND t.rn = 1
"""


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 App. C n-gram-overlap shape):
    documents with doc_id % 50 == 0 play the held-out eval benchmark;
    every other document reports its 5-gram overlap against that
    set's broadcast n-gram table. NEW r6 —
    pipeline/decontam.py::ngram_overlap."""
    from openset_spark.pipeline.decontam import ngram_overlap

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    rest = docs.filter(F.col("doc_id") % 50 != 0)
    return ngram_overlap(rest, bench, n=5)


_SQL_CONTAMINATION_CHECK = f"""
WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents),
g AS (
  SELECT doc_id, array_to_string(ts[i:i+4], ' ') AS ng
  FROM tok, UNNEST(generate_series(1, len(ts)-4)) AS s(i)
  WHERE len(ts) >= 5
),
bench AS (SELECT DISTINCT ng FROM g WHERE doc_id % 50 = 0),
rest AS (SELECT doc_id, ng FROM g WHERE doc_id % 50 <> 0),
agg AS (
  SELECT r.doc_id, COUNT(*) AS n_ngrams, COUNT(b.ng) AS n_hits
  FROM rest r LEFT JOIN bench b USING (ng) GROUP BY 1
)
SELECT doc_id, n_ngrams, n_hits,
  ROUND(n_hits * 1.0 / n_ngrams, 4) AS overlap_frac,
  n_hits > 0 AS contaminated
FROM agg
"""


def q_substring_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-duplication candidates (Lee et al. 2022 shape):
    doc pairs sharing any exact 20-token run, weighted by shared
    distinct windows — the suffix-style dedup's production-safe
    decomposition (join on window hash; fan-out bounded by true
    duplication). pipeline/dedup.py::substring_dup_pairs. NEW r6."""
    from openset_spark.pipeline.dedup import substring_dup_pairs

    return substring_dup_pairs(_docs(spark, sf_dir), window_tokens=20)


_SQL_SUBSTRING_DUP_PAIRS = f"""
WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents),
w AS (
  SELECT DISTINCT doc_id, array_to_string(ts[i:i+19], ' ') AS win
  FROM tok, UNNEST(generate_series(1, len(ts)-19)) AS s(i)
),
-- boilerplate guard mirrored from the Spark side: window runs shared
-- by more than max_window_df=50 docs are discarded before pairing
keep AS (
  SELECT doc_id, win FROM w
  QUALIFY COUNT(*) OVER (PARTITION BY win) <= 50
),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared_windows
  FROM keep a JOIN keep b ON a.win = b.win AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_shared_windows FROM p
"""


def q_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection (the data-mixing primitive):
    best-quality documents whose running token total stays within the
    budget, in (quality DESC, doc_id ASC) order. The Spark side
    computes the global prefix sum DISTRIBUTED (range partitions +
    per-partition windows + broadcast offsets —
    pipeline/sampling.py::token_budget_select); the oracle is the
    naive single-window cumsum, so equality proves the distributed
    decomposition exact. NEW r6."""
    from openset_spark.pipeline.sampling import token_budget_select
    from openset_spark.pipeline.textstats import quality_score

    scored = quality_score(_docs(spark, sf_dir))
    out = token_budget_select(scored, budget=10_000)
    return out.select("doc_id", "n_tokens", "quality", "cum_tokens")


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text_stats(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        F.round("avg_token_len", 4).alias("avg_token_len"),
        F.round("punct_ratio", 4).alias("punct_ratio"),
        F.round("digit_ratio", 4).alias("digit_ratio"),
    )


_SQL_TEXT_STATS = f"""
SELECT doc_id,
  length(text) AS n_chars,
  len({_TOKS_SQL}) AS n_tokens,
  ROUND(CAST(length(replace({_NORM_SQL}, ' ', '')) AS DOUBLE) / len({_TOKS_SQL}), 4) AS avg_token_len,
  ROUND(CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE) / length(text), 4) AS punct_ratio,
  ROUND(CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text), 4) AS digit_ratio
FROM documents
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_counts(_docs(spark, sf_dir))


_SQL_TOKEN_COUNTS = f"""
SELECT doc_id, len({_TOKS_SQL}) AS ws_tokens,
  len(regexp_extract_all(text, '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s'']+|\\s+')) AS bpe_tokens
FROM documents
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(_docs(spark, sf_dir))


def _stop_list_sql(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"


_SQL_QUALITY_SCORE = f"""
WITH t AS (
  SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents
),
s AS (
  SELECT doc_id, text, len(toks) AS n_tokens,
    CAST(len(list_filter(toks, x -> list_contains({_stop_list_sql('en')}, x))) AS DOUBLE) / len(toks) AS stop_ratio,
    CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / length(text) AS alpha_ratio
  FROM t
)
SELECT doc_id, n_tokens, ROUND(stop_ratio, 4) AS stop_ratio,
  ROUND(LEAST(stop_ratio * 5, 1.0) * 0.4 + alpha_ratio * 0.4
        + (CASE WHEN n_tokens >= 20 AND n_tokens <= 10000 THEN 1.0 ELSE 0.5 END) * 0.2, 4) AS quality
FROM s
"""

# the oracle for token_budget_select: the NAIVE single-window cumsum
# over the same quality scores — equality proves the distributed
# prefix-sum decomposition exact
_SQL_TOKEN_BUDGET_SELECT = f"""
WITH q AS ({_SQL_QUALITY_SCORE}),
c AS (
  SELECT doc_id, n_tokens, quality,
    CAST(SUM(n_tokens) OVER (
      ORDER BY quality DESC, doc_id ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS BIGINT) AS cum_tokens
  FROM q
)
SELECT doc_id, n_tokens, quality, cum_tokens
FROM c WHERE cum_tokens <= 10000
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(_docs(spark, sf_dir))


def _lang_id_sql() -> str:
    hits = ",\n    ".join(
        f"len(list_filter(toks, x -> list_contains({_stop_list_sql(lang)}, x))) AS hits_{lang}"
        for lang in STOPWORDS
    )
    langs = list(STOPWORDS)
    best = "GREATEST(" + ", ".join(f"hits_{lang}" for lang in langs) + ")"
    guess = "CASE " + " ".join(
        f"WHEN hits_{lang} = {best} THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
s AS (SELECT doc_id,
    {hits}
  FROM t)
SELECT doc_id, {', '.join('hits_' + lang for lang in langs)},
  CASE WHEN {best} > 0 THEN {guess} ELSE 'unknown' END AS lang_guess
FROM s
"""


def q_clean_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openset_spark.pipeline.cleaning import clean_documents

    return clean_documents(_docs(spark, sf_dir)).select("doc_id", "clean_text")


# same pattern set as pipeline/cleaning.py, RE2 syntax (no \b — use
# explicit non-digit guards since testdata text is space-separated)
_SQL_CLEAN_DOCUMENTS = r"""
SELECT doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(
        trim(regexp_replace(regexp_replace(text, '<[^>]+>', ' ', 'g'), '\s+', ' ', 'g')),
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
    '\+?[0-9][0-9()\-. ]{7,}[0-9]', '<PHONE>', 'g') AS clean_text
FROM documents
"""


def q_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openset_spark.pipeline.cleaning import top_ngrams

    return top_ngrams(_docs(spark, sf_dir), n=2, k=20)


_SQL_TOP_BIGRAMS = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS t FROM documents
),
grams AS (
  SELECT doc_id,
    CASE WHEN len(t) <= 2 THEN [array_to_string(t, ' ')]
         ELSE [array_to_string(t[i+1:i+2], ' ') for i in range(0, len(t) - 1)]
    END AS gs
  FROM toks
),
g AS (SELECT doc_id, unnest(gs) AS ngram FROM grams)
SELECT ngram, COUNT(*) AS occurrences, COUNT(DISTINCT doc_id) AS docs
FROM g GROUP BY ngram
ORDER BY occurrences DESC, ngram ASC LIMIT 20
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_fingerprint(_docs(spark, sf_dir)).select("doc_id", "fingerprint_md5")


_SQL_DOC_FINGERPRINT = f"""
SELECT doc_id, md5({_NORM_SQL}) AS fingerprint_md5 FROM documents
"""


# --------------------------------------------------------------------
# r7 pipeline additions: dup clusters, sequence packing, mixture
# --------------------------------------------------------------------
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the exact n-gram-Jaccard pair set:
    (doc_id, cluster_id = min id in component). Spark side is
    iterative min-label propagation (pipeline/dedup.py::dup_clusters);
    the oracle is a recursive-CTE transitive closure — equality
    proves the iteration converged to true components. NEW r7."""
    from openset_spark.pipeline.dedup import dup_clusters

    pairs = jaccard_pairs(_docs(spark, sf_dir), threshold=0.6)
    return dup_clusters(pairs)


_SQL_DEDUP_CLUSTERS = """
WITH RECURSIVE p AS ({P}),
e AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
reach(a, b) AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
)
SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a
""".replace("{P}", _SQL_DEDUP_NGRAM_JACCARD)


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-atomic near-dup resolution keeping the HIGHEST-QUALITY
    doc per duplicate family (tie -> lower id) instead of min-id —
    components from the same exact-Jaccard pair set as
    dedup_clusters, keeper via one window over (cluster). Oracle =
    recursive-CTE closure + identical quality CTE + the same window.
    NEW r8."""
    from openset_spark.pipeline.dedup import dedup_keep_best
    from openset_spark.pipeline.textstats import quality_score

    docs = _docs(spark, sf_dir)
    return dedup_keep_best(
        quality_score(docs).select("doc_id", "quality"),
        jaccard_pairs(docs, threshold=0.6),
    )


_SQL_DEDUP_KEEP_BEST = """
WITH RECURSIVE p AS ({P}),
e AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
reach(a, b) AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
),
cl AS (
  SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a
),
q AS ({Q}),
j AS (
  SELECT q.doc_id, COALESCE(cl.cluster_id, q.doc_id) AS cluster_id,
         q.quality
  FROM q LEFT JOIN cl ON q.doc_id = cl.doc_id
)
SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id, quality,
  (row_number() OVER (
     PARTITION BY cluster_id ORDER BY quality DESC, doc_id ASC
   ) = 1) AS keep
FROM j
""".replace("{P}", _SQL_DEDUP_NGRAM_JACCARD).replace(
    "{Q}", _SQL_QUALITY_SCORE
)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing plan at L=512 over the corpus token
    stream in doc_id order: one row per (sequence, document piece)
    with offsets. Spark computes the global start offsets with the
    distributed prefix sum; the oracle is the naive single-window
    cumsum + generate_series explosion. NEW r7."""
    from openset_spark.pipeline.packing import pack_sequences
    from openset_spark.pipeline.textstats import quality_score

    scored = quality_score(_docs(spark, sf_dir))
    return pack_sequences(scored.select("doc_id", "n_tokens"), seq_len=512)


_SQL_PACK_SEQUENCES = """
WITH q AS ({Q}),
t AS (
  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n,
    CAST(SUM(n_tokens) OVER (
      ORDER BY doc_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) - n_tokens AS BIGINT) AS s
  FROM q WHERE n_tokens > 0
),
p AS (
  SELECT doc_id, n, s, u.seq_id
  FROM t, UNNEST(generate_series(s // 512, (s + n - 1) // 512)) AS u(seq_id)
)
SELECT seq_id, doc_id,
  GREATEST(s - seq_id * 512, 0) AS seq_offset,
  GREATEST(seq_id * 512 - s, 0) AS doc_offset,
  LEAST(s + n, (seq_id + 1) * 512) - GREATEST(s, seq_id * 512)
    AS piece_tokens
FROM p
""".replace("{Q}", _SQL_QUALITY_SCORE)


def q_mixture_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-weighted mix: per detected language, best-quality docs
    until that language's token budget (en: 8000, unknown: 1500).
    Spark side uses the GROUPED distributed prefix sum (a dominant
    domain spreads over range partitions); oracle is the naive
    per-domain window cumsum. NEW r7."""
    from openset_spark.pipeline.sampling import mixture_select
    from openset_spark.pipeline.textstats import lang_id, quality_columns

    docs = _docs(spark, sf_dir)
    # ONE scan computes quality + language together (extra_cols
    # fusion) — the join-of-two-derived-frames form costs a second
    # scan plus a shuffle for nothing
    q = quality_columns()
    fused = lang_id(
        docs, extra_cols={"n_tokens": q["n_tokens"], "quality": q["quality"]}
    ).select("doc_id", "n_tokens", "quality", F.col("lang_guess").alias("lang"))
    out = mixture_select(fused, {"en": 8000, "unknown": 1500}, "lang")
    return out.select("doc_id", "lang", "n_tokens", "cum_tokens")


_SQL_MIXTURE_SELECT = """
WITH q AS ({Q}),
l AS ({L}),
j AS (
  SELECT q.doc_id, q.n_tokens, q.quality, l.lang_guess AS lang
  FROM q JOIN l ON q.doc_id = l.doc_id
  WHERE l.lang_guess IN ('en', 'unknown')
),
c AS (
  SELECT doc_id, lang, n_tokens,
    CAST(SUM(n_tokens) OVER (
      PARTITION BY lang ORDER BY quality DESC, doc_id ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS BIGINT) AS cum_tokens
  FROM j
)
SELECT doc_id, lang, n_tokens, cum_tokens FROM c
WHERE cum_tokens <= CASE lang WHEN 'en' THEN 8000 ELSE 1500 END
""".replace("{Q}", _SQL_QUALITY_SCORE).replace("{L}", _lang_id_sql())


def q_title_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage: document 'titles' (first 24 normalized
    chars) within Levenshtein distance 1 — exact deletion-neighborhood
    candidates + levenshtein re-rank, never an all-pairs join. Oracle
    = DuckDB's naive quadratic levenshtein self-join (exact at this
    SF). NEW r11."""
    from openset_spark.functions.text import normalize
    from openset_spark.pipeline.dedup import edit1_pairs

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.substring(normalize(F.col("text")), 1, 24).alias("title")
    )
    return edit1_pairs(docs, "title", max_len=24)


_SQL_TITLE_TYPO_PAIRS = f"""
WITH t AS (
  SELECT doc_id, substr({_NORM_SQL}, 1, 24) AS title FROM documents
  WHERE length(substr({_NORM_SQL}, 1, 24)) > 0
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  CAST(levenshtein(a.title, b.title) AS INTEGER) AS dist
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE levenshtein(a.title, b.title) <= 1
"""


def q_approx_users_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic engine-portable HLL: approximate distinct users
    per day. Spark's DataSketches HIP estimator is order-dependent
    (same corpus, three different answers under reordering — measured
    in pipeline/hll.py's docstring); this sketch is register-exact:
    portable md5-prefix hash, max-rho registers, closed-form
    estimate — DuckDB replays the WHOLE sketch bit for bit.
    NEW r11."""
    from openset_spark.pipeline.hll import approx_distinct

    ev = _events(spark, sf_dir).withColumn(
        "day", F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    )
    return approx_distinct(ev, "user_id", ("day",))


_SQL_APPROX_USERS_PER_DAY = """
WITH h AS (
  SELECT strftime(date_trunc('day', ts::TIMESTAMP), '%Y-%m-%d') AS day,
    CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
      AS UBIGINT) AS BIGINT) AS hv
  FROM events WHERE user_id IS NOT NULL
),
r AS (
  SELECT day, CAST(hv % 1024 AS INTEGER) AS reg,
    CAST(CASE WHEN hv // 1024 > 0 THEN 51 - length(bin(hv // 1024))
         ELSE 51 END AS INTEGER) AS rho
  FROM h
),
regs AS (SELECT day, reg, MAX(rho) AS rho FROM r GROUP BY 1, 2),
agg AS (
  SELECT day, SUM(power(2.0, -rho)) AS z_hit, COUNT(*) AS n_hit
  FROM regs GROUP BY 1
)
SELECT day,
  ROUND(CASE WHEN (0.7213 / (1.0 + 1.079 / 1024)) * 1024 * 1024
               / (z_hit + (1024 - n_hit)) <= 2.5 * 1024
             AND 1024 - n_hit > 0
    THEN 1024.0 * ln(1024.0 / (1024 - n_hit))
    ELSE (0.7213 / (1.0 + 1.079 / 1024)) * 1024 * 1024
         / (z_hit + (1024 - n_hit)) END, 4) AS approx_distinct
FROM agg
"""


def q_rollup_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unique users per day AND per hour from ONE register shuffle —
    the continuous-aggregate distinct query exact dcount cannot fold
    (a user active in two hours is one user that day). GROUPING SETS
    over (bucket-prefix, reg) + the closed-form portable-HLL
    estimate; DuckDB replays the whole thing, grouping sets included.
    NEW r11."""
    from openset_spark.pipeline.hll import time_rollup_distinct

    ev = _events(spark, sf_dir)
    out = time_rollup_distinct(ev, ("day", "hour"))
    return out.select(
        "granularity",
        F.date_format("bucket_day", "yyyy-MM-dd HH:mm:ss").alias(
            "bucket_day"
        ),
        F.date_format("bucket_hour", "yyyy-MM-dd HH:mm:ss").alias(
            "bucket_hour"
        ),
        "approx_distinct",
    )


_SQL_ROLLUP_UNIQUE_USERS = """
WITH h AS (
  SELECT date_trunc('day', ts::TIMESTAMP) AS bday,
    date_trunc('hour', ts::TIMESTAMP) AS bhour,
    CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
      AS UBIGINT) AS BIGINT) AS hv
  FROM events WHERE user_id IS NOT NULL
),
o AS (
  SELECT bday, bhour, CAST(hv % 1024 AS INTEGER) AS reg,
    CAST(CASE WHEN hv // 1024 > 0 THEN 51 - length(bin(hv // 1024))
         ELSE 51 END AS INTEGER) AS rho
  FROM h
),
regs AS (
  SELECT CASE WHEN GROUPING(bhour) = 1 THEN 'day' ELSE 'hour' END
      AS granularity,
    bday, bhour, reg, MAX(rho) AS rho
  FROM o GROUP BY GROUPING SETS ((bday, reg), (bday, bhour, reg))
),
agg AS (
  SELECT granularity, bday, bhour,
    SUM(power(2.0, -rho)) AS z_hit, COUNT(*) AS n_hit
  FROM regs GROUP BY 1, 2, 3
)
SELECT granularity,
  strftime(bday, '%Y-%m-%d %H:%M:%S') AS bucket_day,
  strftime(bhour, '%Y-%m-%d %H:%M:%S') AS bucket_hour,
  ROUND(CASE WHEN (0.7213 / (1.0 + 1.079 / 1024)) * 1024 * 1024
               / (z_hit + (1024 - n_hit)) <= 2.5 * 1024
             AND 1024 - n_hit > 0
    THEN 1024.0 * ln(1024.0 / (1024 - n_hit))
    ELSE (0.7213 / (1.0 + 1.079 / 1024)) * 1024 * 1024
         / (z_hit + (1024 - n_hit)) END, 4) AS approx_distinct
FROM agg
"""


def q_segment_overlap_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate segment-overlap people count (|viewers ∩ buyers|)
    by inclusion-exclusion over three deterministic portable-HLL
    estimates — the at-scale form of exact segment algebra. The
    oracle replays all three sketches and the same arithmetic.
    NEW r11."""
    from openset_spark.pipeline.hll import (
        hll_intersect_estimate,
        hll_partials,
    )

    ev = _events(spark, sf_dir)
    a = hll_partials(
        ev.filter(F.col("event_type") == "view"), "user_id"
    )
    b = hll_partials(
        ev.filter(F.col("event_type") == "purchase"), "user_id"
    )
    # r15: inclusion-exclusion references each <=1024-row register
    # table twice; materialize so the md5 event pass runs once per
    # side (was 4 event scans in one plan).
    return hll_intersect_estimate(a.localCheckpoint(), b.localCheckpoint())


_SQL_SEGMENT_OVERLAP_APPROX = """
WITH o AS (
  SELECT event_type,
    CAST(CAST(CAST(concat('0x',
      substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS UBIGINT)
      AS BIGINT) % 1024 AS INTEGER) AS reg,
    CAST(CASE WHEN CAST(CAST(concat('0x',
        substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS UBIGINT)
        AS BIGINT) // 1024 > 0
      THEN 51 - length(bin(CAST(CAST(concat('0x',
        substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS UBIGINT)
        AS BIGINT) // 1024))
      ELSE 51 END AS INTEGER) AS rho
  FROM events
  WHERE user_id IS NOT NULL AND event_type IN ('view', 'purchase')
),
ra AS (SELECT reg, MAX(rho) AS rho FROM o WHERE event_type = 'view'
       GROUP BY 1),
rb AS (SELECT reg, MAX(rho) AS rho FROM o WHERE event_type = 'purchase'
       GROUP BY 1),
ru AS (
  SELECT reg, MAX(rho) AS rho
  FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb) GROUP BY 1
),
est AS (
  SELECT 'a' AS s, SUM(power(2.0, -rho)) AS z, COUNT(*) AS n FROM ra
  UNION ALL
  SELECT 'b', SUM(power(2.0, -rho)), COUNT(*) FROM rb
  UNION ALL
  SELECT 'u', SUM(power(2.0, -rho)), COUNT(*) FROM ru
),
e AS (
  SELECT s,
    ROUND(CASE WHEN (0.7213 / (1.0 + 1.079 / 1024)) * 1024 * 1024
                 / (z + (1024 - n)) <= 2.5 * 1024 AND 1024 - n > 0
      THEN 1024.0 * ln(1024.0 / (1024 - n))
      ELSE (0.7213 / (1.0 + 1.079 / 1024)) * 1024 * 1024
           / (z + (1024 - n)) END, 4) AS v
  FROM est
)
SELECT ROUND(greatest(
    (SELECT v FROM e WHERE s = 'a') + (SELECT v FROM e WHERE s = 'b')
    - (SELECT v FROM e WHERE s = 'u'), 0.0), 4) AS approx_distinct
"""


def q_cms_token_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters: tokens covering >= 0.2% of all token
    occurrences, with their integer-exact CMS estimates. The sketch
    shuffles a CONSTANT (depth x width counter rows per task) no
    matter the corpus size — the at-scale form of GROUP BY token —
    and its one-sided error means no true heavy hitter is ever
    missed. Portable md5 hash family: DuckDB replays the WHOLE grid
    and every min-over-depth estimate bit for bit. The relative
    threshold is integer math (est * 500 >= N). NEW r11."""
    from openset_spark.functions.text import tokens
    from openset_spark.pipeline.cms import cms_estimate, cms_partials

    toks = (
        _docs(spark, sf_dir)
        .select(F.explode(tokens(F.col("text"))).alias("tok"))
        .filter(F.length("tok") > 0)
    )
    # r15: the grid is bounded (4 x 2048 counter rows) — materialize
    # it, and read the total occurrence count off depth row 0 (every
    # depth row counts each instance exactly once, so sum(cnt WHERE
    # d=0) IS count(*) of the token stream). 3 explode passes -> 2
    # (the candidate-token distinct still needs the strings).
    sk = cms_partials(toks, "tok", (), depth=4, width=2048).localCheckpoint()
    cands = toks.select("tok").distinct()
    est = cms_estimate(sk, cands, "tok", (), 4, 2048)
    total = sk.filter(F.col("d") == 0).agg(
        F.sum("cnt").alias("_n")
    )
    return (
        est.crossJoin(F.broadcast(total))
        .filter(F.col("est") * 500 >= F.col("_n"))
        .select("tok", "est")
        .orderBy(F.desc("est"), F.asc("tok"))
    )


_SQL_CMS_TOKEN_HITTERS = f"""
WITH t AS (
  SELECT tok FROM (
    SELECT unnest({_TOKS_SQL}) AS tok FROM documents
  ) WHERE length(tok) > 0
),
-- row d buckets on the d-th base-2048 digit of ONE 60-bit md5 prefix
ds AS (SELECT * FROM (VALUES (0, 1::BIGINT), (1, 2048::BIGINT),
  (2, 4194304::BIGINT), (3, 8589934592::BIGINT)) v(d, wp)),
h AS (
  SELECT tok, CAST(CAST(concat('0x', substr(md5(tok), 1, 15))
    AS UBIGINT) AS BIGINT) AS hv
  FROM t
),
grid AS (
  SELECT d, CAST((hv // wp) % 2048 AS INTEGER) AS bucket,
    COUNT(*)::BIGINT AS cnt
  FROM h, ds GROUP BY 1, 2
),
ch AS (
  SELECT tok, CAST(CAST(concat('0x', substr(md5(tok), 1, 15))
    AS UBIGINT) AS BIGINT) AS hv
  FROM (SELECT DISTINCT tok FROM t)
),
pb AS (
  SELECT tok, d, CAST((hv // wp) % 2048 AS INTEGER) AS bucket
  FROM ch, ds
),
est AS (
  SELECT pb.tok AS tok, MIN(COALESCE(grid.cnt, 0)) AS est
  FROM pb LEFT JOIN grid USING (d, bucket) GROUP BY 1
),
total AS (SELECT COUNT(*)::BIGINT AS n FROM t)
SELECT tok, est FROM est, total WHERE est * 500 >= n
ORDER BY est DESC, tok ASC
"""


def q_bloom_semijoin_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned semijoin: lineitems of URGENT orders, aggregated
    per returnflag. The bloom bitmap (xxhash64 fast family,
    bit_or-folded 32-bit words; the bitmap itself is internal — the
    ORACLE sees only the exact result) built over the small side is
    broadcast as a pure-codegen scan filter on the PROBE side, so
    non-member rows never reach any exchange — the at-scale shuffle
    saver — and the final exact semijoin removes the eps false
    positives: results are EXACTLY the plain semijoin, which is the
    oracle. NEW r11."""
    from openset_spark.pipeline.bloom import bloom_semijoin

    li = load_table(spark, sf_dir, "lineitem")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    sj = bloom_semijoin(li, urgent, on="l_orderkey", build_col="o_orderkey")
    return (
        sj.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


_SQL_BLOOM_SEMIJOIN_URGENT = """
SELECT l_returnflag, COUNT(*) AS n_items,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q_doc_length_quantiles_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped p50/p90/p99 of document length from the log-linear
    quantile sketch (pipeline/hdrhist.py) — bounded state (<= 64*32
    buckets per source regardless of corpus size), fold-exact
    partials, and PURE INTEGER bucketing (octave via binary-string
    length + linear sub-bucket), so DuckDB replays the sketch AND
    the quantile walk bit for bit — the determinism
    percentile_approx's partitioning-dependent Greenwald-Khanna can
    never offer. NEW r11."""
    from openset_spark.pipeline.hdrhist import approx_quantiles

    docs = _docs(spark, sf_dir)
    return approx_quantiles(
        docs, "n_chars", (0.5, 0.9, 0.99), ("source",)
    ).orderBy("source", "q")


_SQL_DOC_LENGTH_QUANTILES_SKETCH = """
WITH b AS (
  SELECT source, CASE WHEN n_chars = 0 THEN -1
    ELSE (length(bin(CAST(n_chars AS BIGINT))) - 1) * 32
      + (n_chars - CAST(power(2, length(bin(CAST(n_chars AS BIGINT))) - 1)
          AS BIGINT)) * 32
        // CAST(power(2, length(bin(CAST(n_chars AS BIGINT))) - 1) AS BIGINT)
  END AS bucket
  FROM documents WHERE n_chars IS NOT NULL
),
sk AS (SELECT source, bucket, COUNT(*)::BIGINT AS cnt FROM b GROUP BY 1, 2),
cum AS (
  SELECT source, bucket,
    SUM(cnt) OVER (PARTITION BY source ORDER BY bucket) AS c,
    SUM(cnt) OVER (PARTITION BY source) AS n
  FROM sk
),
qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q),
hit AS (
  SELECT source, q, MIN(bucket) AS bk
  FROM cum, qs WHERE c >= CEIL(q * n) GROUP BY 1, 2
),
dec AS (
  SELECT source, q, bk,
    CAST(power(2, bk // 32) AS BIGINT)
      + (bk % 32) * CAST(power(2, bk // 32) AS BIGINT) // 32 AS lo,
    CAST(power(2, bk // 32) AS BIGINT)
      + ((bk % 32) + 1) * CAST(power(2, bk // 32) AS BIGINT) // 32 AS hi
  FROM hit
)
SELECT source, q,
  CASE WHEN bk = -1 THEN 0
       ELSE (lo + GREATEST(hi, lo + 1) - 1) // 2 END AS est
FROM dec
ORDER BY source, q
"""


def q_segment_jaccard_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap (viewers vs buyers) as DIRECT KMV
    estimates: Jaccard + intersection read off the joint
    k-minimum-values sample (Beyer et al. 2007) — the sketch whose
    accuracy survives small overlaps of large sets, where HLL
    inclusion-exclusion compounds three errors. The sketch is an
    order statistic of portable md5 hashes, so DuckDB replays BOTH
    sketches, the union threshold, and both estimates bit for bit.
    NEW r11."""
    from openset_spark.pipeline.kmv import kmv_jaccard, kmv_partials

    ev = _events(spark, sf_dir)
    a = kmv_partials(
        ev.filter(F.col("event_type") == "view"), "user_id"
    )
    b = kmv_partials(
        ev.filter(F.col("event_type") == "purchase"), "user_id"
    )
    # r15: the joint estimator references each <=512-row sketch
    # several times; materialize so the event scan runs once per
    # side (the kmv module's documented posture).
    return kmv_jaccard(a.localCheckpoint(), b.localCheckpoint())


_SQL_SEGMENT_JACCARD_KMV = """
WITH ha AS (
  SELECT DISTINCT CAST(CAST(concat('0x', substr(md5(CAST(user_id AS
    VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT) AS hv
  FROM events WHERE event_type = 'view' AND user_id IS NOT NULL
),
a AS (SELECT hv FROM ha ORDER BY hv LIMIT 512),
hb AS (
  SELECT DISTINCT CAST(CAST(concat('0x', substr(md5(CAST(user_id AS
    VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT) AS hv
  FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
),
b AS (SELECT hv FROM hb ORDER BY hv LIMIT 512),
uni AS (
  SELECT DISTINCT hv FROM (SELECT hv FROM a UNION ALL SELECT hv FROM b)
  ORDER BY hv LIMIT 512
),
th AS (SELECT MAX(hv) AS theta, COUNT(*)::BIGINT AS ku FROM uni),
du AS (
  SELECT ROUND(CASE WHEN ku < 512 THEN CAST(ku AS DOUBLE)
    ELSE 511.0 * 1152921504606846976.0 / theta END, 4) AS du
  FROM th
),
c AS (
  SELECT COUNT(*)::BIGINT AS c
  FROM a JOIN b USING (hv), th WHERE hv <= th.theta
)
SELECT ROUND(c / ku, 4) AS jaccard,
  CAST(ROUND(CAST(c / ku AS DECIMAL(12,10)) * CAST(du AS DECIMAL(20,4)), 4)
    AS DOUBLE) AS approx_intersection
FROM c, th, du
"""


def q_segment_difference_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience difference (viewers who never bought) as a DIRECT
    KMV estimate: |A \\ B| ~ (c_only/ku) * est(A ∪ B) off the joint
    k-minimum-values sample — the "new users this period" estimator.
    Closes the r12 ADVICE note: kmv_difference's exact-DECIMAL
    product now has its own driver/oracle surface, so the fixed
    ROUND-tie contract is locked cross-engine like its jaccard
    sibling. NEW r13."""
    from openset_spark.pipeline.kmv import kmv_difference, kmv_partials

    ev = _events(spark, sf_dir)
    a = kmv_partials(
        ev.filter(F.col("event_type") == "view"), "user_id"
    )
    b = kmv_partials(
        ev.filter(F.col("event_type") == "purchase"), "user_id"
    )
    # r15: same bounded-sketch materialization as segment_jaccard_kmv
    return kmv_difference(a.localCheckpoint(), b.localCheckpoint())


_SQL_SEGMENT_DIFFERENCE_KMV = """
WITH ha AS (
  SELECT DISTINCT CAST(CAST(concat('0x', substr(md5(CAST(user_id AS
    VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT) AS hv
  FROM events WHERE event_type = 'view' AND user_id IS NOT NULL
),
a AS (SELECT hv FROM ha ORDER BY hv LIMIT 512),
hb AS (
  SELECT DISTINCT CAST(CAST(concat('0x', substr(md5(CAST(user_id AS
    VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT) AS hv
  FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
),
b AS (SELECT hv FROM hb ORDER BY hv LIMIT 512),
uni AS (
  SELECT DISTINCT hv FROM (SELECT hv FROM a UNION ALL SELECT hv FROM b)
  ORDER BY hv LIMIT 512
),
th AS (SELECT MAX(hv) AS theta, COUNT(*)::BIGINT AS ku FROM uni),
du AS (
  SELECT ROUND(CASE WHEN ku < 512 THEN CAST(ku AS DOUBLE)
    ELSE 511.0 * 1152921504606846976.0 / theta END, 4) AS du
  FROM th
),
c AS (
  SELECT COUNT(*)::BIGINT AS c
  FROM (SELECT hv FROM a ANTI JOIN b USING (hv)), th
  WHERE hv <= th.theta
)
SELECT
  CAST(ROUND(CAST(c / ku AS DECIMAL(12,10)) * CAST(du AS DECIMAL(20,4)), 4)
    AS DOUBLE) AS approx_difference
FROM c, th, du
"""


def q_rollup_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p95 of event value (integer cents) per day AND per hour
    from ONE finest-grain bucket shuffle — the continuous-aggregate
    percentile a raw percentile can never fold (a day's median is
    not a function of its hours' medians). HDR buckets compose by
    sum, so the grouping-sets Expand runs over the bounded bucket
    table, never the event scan (plan-asserted); DuckDB replays the
    integer bucketing, both level walks, and the midpoint decode
    bit for bit. NEW r11."""
    from openset_spark.pipeline.hdrhist import time_rollup_quantiles

    ev = _events(spark, sf_dir).withColumn(
        "cents", F.floor(F.col("value") * 100 + 0.5).cast("long")
    )
    out = time_rollup_quantiles(
        ev, ("day", "hour"), col="cents", qs=(0.5, 0.95)
    )
    fmt = "yyyy-MM-dd HH:mm:ss"
    return out.select(
        "granularity",
        F.date_format("bucket_day", fmt).alias("bucket_day"),
        F.date_format("bucket_hour", fmt).alias("bucket_hour"),
        "q",
        "est",
    ).orderBy("granularity", "bucket_day", "bucket_hour", "q")


_SQL_ROLLUP_VALUE_QUANTILES = """
WITH base AS (
  SELECT date_trunc('day', ts::TIMESTAMP) AS bd,
    date_trunc('hour', ts::TIMESTAMP) AS bh,
    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
b AS (
  SELECT bd, bh, CASE WHEN cents = 0 THEN -1
    ELSE (length(bin(cents)) - 1) * 32
      + (cents - CAST(power(2, length(bin(cents)) - 1) AS BIGINT)) * 32
        // CAST(power(2, length(bin(cents)) - 1) AS BIGINT)
  END AS bucket FROM base
),
sk_h AS (SELECT bd, bh, bucket, COUNT(*)::BIGINT AS cnt FROM b GROUP BY 1, 2, 3),
sk_d AS (SELECT bd, bucket, SUM(cnt) AS cnt FROM sk_h GROUP BY 1, 2),
qs AS (SELECT unnest([0.5, 0.95]) AS q),
cum_h AS (
  SELECT bd, bh, bucket,
    SUM(cnt) OVER (PARTITION BY bd, bh ORDER BY bucket) AS c,
    SUM(cnt) OVER (PARTITION BY bd, bh) AS n
  FROM sk_h
),
cum_d AS (
  SELECT bd, bucket,
    SUM(cnt) OVER (PARTITION BY bd ORDER BY bucket) AS c,
    SUM(cnt) OVER (PARTITION BY bd) AS n
  FROM sk_d
),
hits AS (
  SELECT 'hour' AS granularity, bd, bh, q, MIN(bucket) AS bk
  FROM cum_h, qs WHERE c >= CEIL(q * n) GROUP BY 1, 2, 3, 4
  UNION ALL
  SELECT 'day' AS granularity, bd, NULL AS bh, q, MIN(bucket) AS bk
  FROM cum_d, qs WHERE c >= CEIL(q * n) GROUP BY 1, 2, 3, 4
),
dec AS (
  SELECT granularity, bd, bh, q, bk,
    CAST(power(2, bk // 32) AS BIGINT)
      + (bk % 32) * CAST(power(2, bk // 32) AS BIGINT) // 32 AS lo,
    CAST(power(2, bk // 32) AS BIGINT)
      + ((bk % 32) + 1) * CAST(power(2, bk // 32) AS BIGINT) // 32 AS hi
  FROM hits
)
SELECT granularity,
  strftime(bd, '%Y-%m-%d %H:%M:%S') AS bucket_day,
  strftime(bh, '%Y-%m-%d %H:%M:%S') AS bucket_hour,
  q,
  CASE WHEN bk = -1 THEN 0
       ELSE (lo + GREATEST(hi, lo + 1) - 1) // 2 END AS est
FROM dec
ORDER BY granularity, bucket_day, bucket_hour, q
"""


def q_sliding_value_p95_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h p50/p95 of event value (integer cents)
    re-evaluated EVERY HOUR from stored per-hour HDR bucket counts —
    the sliding percentile an exact sort can never maintain and
    percentile_approx can never replay. HDR buckets compose by SUM,
    so the range-framed window fold over the dense hour spine equals
    a from-scratch sketch of each trailing window (test-asserted in
    tests/test_hdr.py); DuckDB replays spine, frame, rank walk and
    midpoint decode bit for bit. The hll sliding_users_24h twin
    (VERDICT r11 ask #8). NEW r12."""
    from openset_spark.pipeline.hdrhist import hdr_sliding_quantiles

    ev = _events(spark, sf_dir).withColumn(
        "cents", F.floor(F.col("value") * 100 + 0.5).cast("long")
    )
    out = hdr_sliding_quantiles(
        ev, "cents", "ts", "hour", 24, qs=(0.5, 0.95)
    )
    return out.select(
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "q",
        "est",
    ).orderBy("bucket", "q")


_SQL_SLIDING_VALUE_P95_24H = """
WITH base AS (
  SELECT date_trunc('hour', ts::TIMESTAMP) AS tb,
    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
),
b AS (
  SELECT tb, CASE WHEN cents = 0 THEN -1
    ELSE (length(bin(cents)) - 1) * 32
      + (cents - CAST(power(2, length(bin(cents)) - 1) AS BIGINT)) * 32
        // CAST(power(2, length(bin(cents)) - 1) AS BIGINT)
  END AS bucket FROM base
),
parts AS (SELECT tb, bucket, COUNT(*)::BIGINT AS cnt FROM b GROUP BY 1, 2),
spine AS (
  SELECT unnest(generate_series((SELECT MIN(tb) FROM parts),
                                (SELECT MAX(tb) FROM parts),
                                INTERVAL 1 HOUR)) AS tb
),
bks AS (SELECT DISTINCT bucket FROM parts),
dense AS (
  SELECT spine.tb, bks.bucket, parts.cnt
  FROM spine CROSS JOIN bks
  LEFT JOIN parts ON parts.tb = spine.tb AND parts.bucket = bks.bucket
),
rolled AS (
  SELECT tb, bucket,
    SUM(cnt) OVER (PARTITION BY bucket
      ORDER BY CAST(epoch(tb) AS BIGINT) // 3600
      RANGE BETWEEN 23 PRECEDING AND CURRENT ROW) AS cnt
  FROM dense
),
f AS (SELECT * FROM rolled WHERE cnt IS NOT NULL),
qs AS (SELECT unnest([0.5, 0.95]) AS q),
cum AS (
  SELECT tb, bucket,
    SUM(cnt) OVER (PARTITION BY tb ORDER BY bucket) AS c,
    SUM(cnt) OVER (PARTITION BY tb) AS n
  FROM f
),
hits AS (
  SELECT tb, q, MIN(bucket) AS bk
  FROM cum, qs WHERE c >= CEIL(q * n) GROUP BY 1, 2
),
dec AS (
  SELECT tb, q, bk,
    CAST(power(2, bk // 32) AS BIGINT)
      + (bk % 32) * CAST(power(2, bk // 32) AS BIGINT) // 32 AS lo,
    CAST(power(2, bk // 32) AS BIGINT)
      + ((bk % 32) + 1) * CAST(power(2, bk // 32) AS BIGINT) // 32 AS hi
  FROM hits
)
SELECT strftime(tb, '%Y-%m-%d %H:%M:%S') AS bucket, q,
  CASE WHEN bk = -1 THEN 0
       ELSE (lo + GREATEST(hi, lo + 1) - 1) // 2 END AS est
FROM dec
ORDER BY bucket, q
"""


def q_sliding_user_rates_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h event counts for a watched user set re-evaluated
    EVERY HOUR from stored per-hour CMS grids — the live rate/abuse
    monitor, and the third sliding sketch (HLL distincts, HDR
    quantiles, CMS frequencies: grids compose by sum, so the
    trailing fold re-reads only the probe set's own grid cells,
    never raw rows; dense spine, so a watched user silent all hour
    still emits). est is an exact integer function of the grids —
    DuckDB replays hash, digit split, spine, frame and min-over-depth
    bit for bit. NEW r12."""
    from openset_spark.pipeline.cms import cms_sliding_estimate

    ev = _events(spark, sf_dir)
    probes = (
        ev.select("user_id").filter(F.col("user_id") % 7 == 0).distinct()
    )
    out = cms_sliding_estimate(ev, "user_id", probes, "ts", "hour", 24)
    return out.select(
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "user_id",
        "est",
    ).orderBy("bucket", "user_id")


_SQL_SLIDING_USER_RATES_24H = """
WITH ds AS (SELECT * FROM (VALUES (0, 1::BIGINT), (1, 2048::BIGINT),
  (2, 4194304::BIGINT), (3, 8589934592::BIGINT)) v(d, wp)),
base AS (
  SELECT date_trunc('hour', ts::TIMESTAMP) AS tb,
    CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
      AS UBIGINT) AS BIGINT) AS hv
  FROM events WHERE user_id IS NOT NULL
),
grid AS (
  SELECT tb, d, CAST((hv // wp) % 2048 AS INTEGER) AS bucket,
    COUNT(*)::BIGINT AS cnt
  FROM base, ds GROUP BY 1, 2, 3
),
probes AS (
  SELECT DISTINCT user_id FROM events
  WHERE user_id IS NOT NULL AND user_id % 7 = 0
),
pb AS (
  SELECT user_id, d,
    CAST((CAST(CAST(concat('0x',
        substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
      AS UBIGINT) AS BIGINT) // wp) % 2048 AS INTEGER) AS bucket
  FROM probes, ds
),
cells AS (SELECT DISTINCT d, bucket FROM pb),
spine AS (
  SELECT unnest(generate_series((SELECT MIN(tb) FROM grid),
                                (SELECT MAX(tb) FROM grid),
                                INTERVAL 1 HOUR)) AS tb
),
dense AS (
  SELECT spine.tb, cells.d, cells.bucket, grid.cnt
  FROM spine CROSS JOIN cells
  LEFT JOIN grid ON grid.tb = spine.tb AND grid.d = cells.d
                AND grid.bucket = cells.bucket
),
rolled AS (
  SELECT tb, d, bucket,
    SUM(cnt) OVER (PARTITION BY d, bucket
      ORDER BY CAST(epoch(tb) AS BIGINT) // 3600
      RANGE BETWEEN 23 PRECEDING AND CURRENT ROW) AS cnt
  FROM dense
)
SELECT strftime(rolled.tb, '%Y-%m-%d %H:%M:%S') AS bucket,
  pb.user_id AS user_id,
  -- window SUM(BIGINT) is DECIMAL(38,0) in DuckDB -> pandas float64;
  -- pin the integer contract explicitly
  CAST(MIN(COALESCE(rolled.cnt, 0)) AS BIGINT) AS est
FROM rolled JOIN pb ON pb.d = rolled.d AND pb.bucket = rolled.bucket
GROUP BY 1, 2
ORDER BY bucket, user_id
"""


def q_sliding_segment_jaccard_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h audience overlap (viewers vs buyers) re-evaluated
    EVERY HOUR from stored per-hour KMV sketches — the fourth sliding
    sketch: min order statistics compose (every window-k-min hash is
    inside its own hour's k-min), so the trailing sketches fold from
    the bounded per-hour sketch table and the grouped joint-sample
    estimator runs per slide point. DuckDB replays sketches, fan-out,
    re-rank and estimator bit for bit. NEW r12."""
    from openset_spark.pipeline.kmv import kmv_sliding_jaccard

    ev = _events(spark, sf_dir)
    out = kmv_sliding_jaccard(
        ev,
        "user_id",
        F.col("event_type") == "view",
        F.col("event_type") == "purchase",
        "ts",
        "hour",
        24,
        k=64,
    )
    return out.select(
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "jaccard",
        "approx_intersection",
    ).orderBy("bucket")


_SQL_SLIDING_SEGMENT_JACCARD_24H = """
WITH pre AS (
  SELECT date_trunc('hour', ts::TIMESTAMP) AS tb, event_type,
    CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
      AS UBIGINT) AS BIGINT) AS hv
  FROM events WHERE user_id IS NOT NULL
),
obs AS (
  SELECT DISTINCT tb, 'a' AS side, hv FROM pre WHERE event_type = 'view'
  UNION ALL
  SELECT DISTINCT tb, 'b' AS side, hv FROM pre WHERE event_type = 'purchase'
),
parts AS (
  SELECT tb, side, hv FROM (
    SELECT tb, side, hv,
      DENSE_RANK() OVER (PARTITION BY tb, side ORDER BY hv) AS r
    FROM obs
  ) WHERE r <= 64
),
hi AS (SELECT MAX(tb) AS hi FROM parts),
served AS (
  SELECT side, hv,
    unnest(generate_series(tb,
      LEAST(tb + INTERVAL 23 HOUR, (SELECT hi FROM hi)),
      INTERVAL 1 HOUR)) AS bucket
  FROM parts
),
wa AS (
  SELECT bucket, hv FROM (
    SELECT bucket, hv, DENSE_RANK() OVER (PARTITION BY bucket ORDER BY hv) AS r
    FROM (SELECT DISTINCT bucket, hv FROM served WHERE side = 'a')
  ) WHERE r <= 64
),
wb AS (
  SELECT bucket, hv FROM (
    SELECT bucket, hv, DENSE_RANK() OVER (PARTITION BY bucket ORDER BY hv) AS r
    FROM (SELECT DISTINCT bucket, hv FROM served WHERE side = 'b')
  ) WHERE r <= 64
),
uni AS (
  SELECT bucket, hv FROM (
    SELECT bucket, hv, DENSE_RANK() OVER (PARTITION BY bucket ORDER BY hv) AS r
    FROM (SELECT DISTINCT bucket, hv FROM
          (SELECT * FROM wa UNION ALL SELECT * FROM wb))
  ) WHERE r <= 64
),
th AS (SELECT bucket, MAX(hv) AS theta, COUNT(*)::BIGINT AS ku
       FROM uni GROUP BY 1),
du AS (
  SELECT bucket, ROUND(CASE WHEN ku < 64 THEN CAST(ku AS DOUBLE)
    ELSE 63.0 * 1152921504606846976.0 / theta END, 4) AS du
  FROM th
),
joint AS (
  SELECT wa.bucket AS bucket, COUNT(*)::BIGINT AS c
  FROM wa JOIN wb ON wb.bucket = wa.bucket AND wb.hv = wa.hv
  JOIN th ON th.bucket = wa.bucket
  WHERE wa.hv <= th.theta
  GROUP BY 1
)
SELECT strftime(th.bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
  ROUND(COALESCE(joint.c, 0) / th.ku, 4) AS jaccard,
  -- exact-decimal product (kmv_jaccard_by float contract): a
  -- double x double ROUND tie diverges between engines
  CAST(ROUND(CAST(COALESCE(joint.c, 0) / th.ku AS DECIMAL(12,10))
             * CAST(du.du AS DECIMAL(20,4)), 4) AS DOUBLE)
    AS approx_intersection
FROM th
LEFT JOIN joint ON joint.bucket = th.bucket
JOIN du ON du.bucket = th.bucket
ORDER BY bucket
"""


def q_rollup_user_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watched-user event counts per day AND per hour from ONE
    finest-grain CMS grid shuffle — the continuous-aggregate
    frequency query, completing the rollup symmetry
    (rollup_unique_users counts distincts, rollup_value_quantiles
    walks percentiles, this reads per-item counts). Grids compose by
    sum, so the grouping-sets Expand runs over the bounded grid
    table, never the event scan (plan-asserted); est is an exact
    integer and >= the level's exact count per user (one-sided law
    at every level). DuckDB replays hash, digit split, both level
    grids and the min-over-depth bit for bit. NEW r12."""
    from openset_spark.pipeline.cms import cms_time_rollup_estimate

    ev = _events(spark, sf_dir)
    probes = (
        ev.select("user_id").filter(F.col("user_id") % 7 == 0).distinct()
    )
    out = cms_time_rollup_estimate(ev, "user_id", probes, ("day", "hour"))
    fmt = "yyyy-MM-dd HH:mm:ss"
    return out.select(
        "granularity",
        F.date_format("bucket_day", fmt).alias("bucket_day"),
        F.date_format("bucket_hour", fmt).alias("bucket_hour"),
        "user_id",
        "est",
    ).orderBy("granularity", "bucket_day", "bucket_hour", "user_id")


_SQL_ROLLUP_USER_RATES = """
WITH ds AS (SELECT * FROM (VALUES (0, 1::BIGINT), (1, 2048::BIGINT),
  (2, 4194304::BIGINT), (3, 8589934592::BIGINT)) v(d, wp)),
base AS (
  SELECT date_trunc('day', ts::TIMESTAMP) AS bd,
    date_trunc('hour', ts::TIMESTAMP) AS bh,
    CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
      AS UBIGINT) AS BIGINT) AS hv
  FROM events WHERE user_id IS NOT NULL
),
grid_h AS (
  SELECT bd, bh, d, CAST((hv // wp) % 2048 AS INTEGER) AS bucket,
    COUNT(*)::BIGINT AS cnt
  FROM base, ds GROUP BY 1, 2, 3, 4
),
grid_d AS (
  SELECT bd, d, bucket, CAST(SUM(cnt) AS BIGINT) AS cnt
  FROM grid_h GROUP BY 1, 2, 3
),
probes AS (
  SELECT DISTINCT user_id FROM events
  WHERE user_id IS NOT NULL AND user_id % 7 = 0
),
pb AS (
  SELECT user_id, d,
    CAST((CAST(CAST(concat('0x',
        substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
      AS UBIGINT) AS BIGINT) // wp) % 2048 AS INTEGER) AS bucket
  FROM probes, ds
),
est_h AS (
  SELECT 'hour' AS granularity, lk.bd, lk.bh, pb.user_id,
    CAST(MIN(COALESCE(g.cnt, 0)) AS BIGINT) AS est
  FROM (SELECT DISTINCT bd, bh FROM grid_h) lk
  CROSS JOIN pb
  LEFT JOIN grid_h g ON g.bd = lk.bd AND g.bh = lk.bh
                    AND g.d = pb.d AND g.bucket = pb.bucket
  GROUP BY 1, 2, 3, 4
),
est_d AS (
  SELECT 'day' AS granularity, lk.bd, NULL::TIMESTAMP AS bh, pb.user_id,
    CAST(MIN(COALESCE(g.cnt, 0)) AS BIGINT) AS est
  FROM (SELECT DISTINCT bd FROM grid_d) lk
  CROSS JOIN pb
  LEFT JOIN grid_d g ON g.bd = lk.bd
                    AND g.d = pb.d AND g.bucket = pb.bucket
  GROUP BY 1, 2, 3, 4
)
SELECT granularity,
  strftime(bd, '%Y-%m-%d %H:%M:%S') AS bucket_day,
  strftime(bh, '%Y-%m-%d %H:%M:%S') AS bucket_hour,
  user_id, est
FROM (SELECT * FROM est_h UNION ALL SELECT * FROM est_d)
ORDER BY granularity, bucket_day, bucket_hour, user_id
"""


def q_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary overlap between EVERY pair of sources (the corpus
    heterogeneity heatmap) from per-source KMV sketches: k smallest
    distinct token hashes per source, all-pairs joint-sample
    Jaccard + intersection — every intermediate bounded by
    n_pairs x k rows, the raw vocabularies never touched. The
    sketches are order statistics of portable md5 hashes, so DuckDB
    replays every pair's sketch, threshold, and both estimates bit
    for bit. NEW r11."""
    from openset_spark.functions.text import tokens
    from openset_spark.pipeline.kmv import (
        kmv_overlap_matrix,
        kmv_partials,
    )

    toks = (
        _docs(spark, sf_dir)
        .select("source", F.explode(tokens(F.col("text"))).alias("tok"))
        .filter(F.length("tok") > 0)
    )
    # r15: the overlap matrix references the sketch frame ~10x and
    # AQE does not reuse exchanges across plan branches — without the
    # cut each reference re-ran the explode+md5 corpus pass (22
    # document scans in one plan, plans/r15/). The sketch is bounded
    # (<= |sources| * 512 rows): exactly the "materialize it first"
    # posture the kmv module documents.
    sk = kmv_partials(toks, "tok", ("source",), 512).localCheckpoint()
    return kmv_overlap_matrix(sk, "source", 512).orderBy(
        "key_a", "key_b"
    )


_SQL_SOURCE_VOCAB_OVERLAP = f"""
WITH t AS (
  SELECT DISTINCT source, tok FROM (
    SELECT source, unnest({_TOKS_SQL}) AS tok FROM documents
  ) WHERE length(tok) > 0
),
h AS (
  SELECT DISTINCT source, CAST(CAST(concat('0x', substr(md5(tok), 1, 15))
    AS UBIGINT) AS BIGINT) AS hv
  FROM t
),
sk AS (
  SELECT source, hv FROM (
    SELECT source, hv,
      DENSE_RANK() OVER (PARTITION BY source ORDER BY hv) AS r
    FROM h
  ) WHERE r <= 512
),
names AS (SELECT DISTINCT source FROM documents),
pairs AS (
  SELECT a.source AS key_a, b.source AS key_b
  FROM names a, names b WHERE a.source < b.source
),
urows AS (
  SELECT key_a, key_b, hv FROM pairs JOIN sk ON sk.source = pairs.key_a
  UNION
  SELECT key_a, key_b, hv FROM pairs JOIN sk ON sk.source = pairs.key_b
),
u AS (
  SELECT key_a, key_b, hv FROM (
    SELECT key_a, key_b, hv,
      DENSE_RANK() OVER (PARTITION BY key_a, key_b ORDER BY hv) AS r
    FROM urows
  ) WHERE r <= 512
),
th AS (
  SELECT key_a, key_b, MAX(hv) AS theta, COUNT(*)::BIGINT AS ku
  FROM u GROUP BY 1, 2
),
du AS (
  SELECT key_a, key_b,
    ROUND(CASE WHEN ku < 512 THEN CAST(ku AS DOUBLE)
      ELSE 511.0 * 1152921504606846976.0 / theta END, 4) AS du
  FROM th
),
joint AS (
  SELECT th.key_a, th.key_b, COUNT(*)::BIGINT AS c
  FROM th
  JOIN sk sa ON sa.source = th.key_a
  JOIN sk sb ON sb.source = th.key_b AND sb.hv = sa.hv
  WHERE sa.hv <= th.theta
  GROUP BY 1, 2
)
SELECT th.key_a, th.key_b,
  ROUND(COALESCE(c, 0) / ku, 4) AS jaccard,
  CAST(ROUND(CAST(COALESCE(c, 0) / ku AS DECIMAL(12,10))
             * CAST(du AS DECIMAL(20,4)), 4) AS DOUBLE)
    AS approx_intersection
FROM th
LEFT JOIN joint ON joint.key_a = th.key_a AND joint.key_b = th.key_b
JOIN du ON du.key_a = th.key_a AND du.key_b = th.key_b
ORDER BY th.key_a, th.key_b
"""


def q_sliding_users_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h distinct users re-evaluated EVERY HOUR from
    stored per-hour HLL registers — the sliding continuous
    aggregate exact dcount can never maintain. Registers compose by
    max, so the range-framed window fold equals a from-scratch
    sketch of each trailing window (test-asserted in
    tests/test_hll.py) and DuckDB replays spine, window frame and
    closed-form estimate bit for bit. NEW r11."""
    from openset_spark.pipeline.hll import hll_sliding_distinct

    ev = _events(spark, sf_dir)
    out = hll_sliding_distinct(ev, "user_id", "ts", "hour", 24)
    return out.select(
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "approx_distinct",
    ).orderBy("bucket")


_SQL_SLIDING_USERS_24H = """
WITH pre AS (
  SELECT date_trunc('hour', ts::TIMESTAMP) AS b,
    CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
      AS UBIGINT) AS BIGINT) AS hv
  FROM events WHERE user_id IS NOT NULL
),
r AS (
  SELECT b, CAST(hv % 1024 AS INTEGER) AS reg,
    CAST(CASE WHEN hv // 1024 > 0 THEN 51 - length(bin(hv // 1024))
         ELSE 51 END AS INTEGER) AS rho
  FROM pre
),
parts AS (SELECT b, reg, MAX(rho) AS rho FROM r GROUP BY 1, 2),
spine AS (
  SELECT unnest(generate_series((SELECT MIN(b) FROM parts),
                                (SELECT MAX(b) FROM parts),
                                INTERVAL 1 HOUR)) AS b
),
regs AS (SELECT DISTINCT reg FROM parts),
dense AS (
  SELECT spine.b, regs.reg, parts.rho
  FROM spine CROSS JOIN regs
  LEFT JOIN parts ON parts.b = spine.b AND parts.reg = regs.reg
),
rolled AS (
  SELECT b AS bucket, reg,
    MAX(rho) OVER (PARTITION BY reg
      ORDER BY CAST(epoch(b) AS BIGINT) // 3600
      RANGE BETWEEN 23 PRECEDING AND CURRENT ROW) AS rho
  FROM dense
),
agg AS (
  SELECT bucket, SUM(power(2.0, -rho)) AS z_hit, COUNT(*) AS n_hit
  FROM rolled WHERE rho IS NOT NULL GROUP BY 1
)
SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
  ROUND(CASE WHEN (0.7213 / (1.0 + 1.079 / 1024)) * 1024 * 1024
               / (z_hit + (1024 - n_hit)) <= 2.5 * 1024
             AND 1024 - n_hit > 0
    THEN 1024.0 * ln(1024.0 / (1024 - n_hit))
    ELSE (0.7213 / (1.0 + 1.079 / 1024)) * 1024 * 1024
         / (z_hit + (1024 - n_hit)) END, 4) AS approx_distinct
FROM agg
ORDER BY bucket
"""


def q_source_quality_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-cap curation: keep each source's 8 best documents by
    (n_chars DESC, doc_id ASC) — rank via the GROUPED distributed
    prefix sum, so a monster domain spreads over range partitions
    instead of pinning one window partition. Oracle = per-source
    QUALIFY row_number. NEW r11."""
    from openset_spark.pipeline.sampling import group_cap

    docs = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    out = group_cap(
        docs, ["source"], [F.desc("n_chars"), F.asc("doc_id")], 8
    )
    return out.select("doc_id", "source", "n_chars")


_SQL_SOURCE_QUALITY_CAP = """
SELECT doc_id, source, n_chars
FROM documents
QUALIFY row_number() OVER (
  PARTITION BY source ORDER BY n_chars DESC, doc_id ASC
) <= 8
"""


def q_nb_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-vs-crawl NB quality classifier (the CCNet/DCLM
    fastText-filter shape as pure relational algebra): train binary
    multinomial NB on sources src0-src3 (the "reference" shards) vs
    the rest, score every doc as the log-odds token sum. Training =
    ONE labeled token-count aggregate (r16; the classes are
    complementary filters of the scored frame); scoring = one explode
    + broadcast join + per-doc sum; weights are ln() of integer count
    ratios so
    DuckDB replays them bit-for-bit (lm_perplexity precedent);
    score ships ROUND(,4). NEW r11."""
    from openset_spark.pipeline.classify import nb_quality_scores

    docs = _docs(spark, sf_dir)
    ref = F.col("source").isin("src0", "src1", "src2", "src3")
    # labeled form: pos/neg are complementary filters of `docs`, so
    # training is ONE corpus scan instead of two (r16)
    return nb_quality_scores(docs, pos_label=ref)


_SQL_NB_QUALITY_SCORES = f"""
WITH tok AS (
  SELECT doc_id, source, t.t AS token
  FROM (SELECT doc_id, source, {{toks}} AS ts FROM documents) d,
       UNNEST(d.ts) AS t(t)
  WHERE t.t <> ''
),
cp AS (
  SELECT token, COUNT(*) AS c FROM tok
  WHERE source IN ('src0', 'src1', 'src2', 'src3') GROUP BY 1
),
cn AS (
  SELECT token, COUNT(*) AS c FROM tok
  WHERE source NOT IN ('src0', 'src1', 'src2', 'src3') GROUP BY 1
),
j AS (
  SELECT COALESCE(cp.token, cn.token) AS token,
    COALESCE(cp.c, 0) AS c_pos, COALESCE(cn.c, 0) AS c_neg
  FROM cp FULL JOIN cn ON cp.token = cn.token
),
tot AS (SELECT SUM(c_pos) AS np, SUM(c_neg) AS nn, COUNT(*) AS v FROM j),
w AS (
  SELECT token,
    ln((c_pos + 1) / CAST(np + v AS DOUBLE))
      - ln((c_neg + 1) / CAST(nn + v AS DOUBLE)) AS weight
  FROM j, tot
),
scored AS (
  SELECT tok.doc_id,
    COALESCE(w.weight,
      ln(CAST(nn + v AS DOUBLE)) - ln(CAST(np + v AS DOUBLE))) AS wt
  FROM tok LEFT JOIN w ON tok.token = w.token, tot
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
  ROUND(SUM(wt), 4) AS score
FROM scored GROUP BY doc_id
""".replace("{toks}", _TOKS_SQL)


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter: a Laplace-smoothed bigram model
    trained on the doc_id%5==0 shard scores the rest of the corpus
    (per-doc mean log-prob). Pure relational algebra — two count
    aggregates, two joins (pipeline/lm.py); the oracle replays the
    identical model in SQL. perplexity=exp(-avg) rides on the
    operator but stays out of the driver frame (libm exp is the one
    non-bit-portable step). NEW r7."""
    from openset_spark.pipeline.lm import lm_perplexity

    docs = _docs(spark, sf_dir)
    train = docs.filter(F.col("doc_id") % 5 == 0)
    rest = docs.filter(F.col("doc_id") % 5 != 0)
    return lm_perplexity(rest, train).select("doc_id", "n_bigrams", "avg_logp")


_SQL_LM_PERPLEXITY = f"""
WITH tr AS (SELECT {_TOKS_SQL} AS ts FROM documents WHERE doc_id % 5 = 0),
trb AS (
  SELECT ts[i] AS w1, ts[i + 1] AS w2, COUNT(*) AS c12
  FROM tr, UNNEST(generate_series(1, len(ts) - 1)) AS s(i)
  GROUP BY 1, 2
),
tru AS (
  SELECT w1, COUNT(*) AS c1
  FROM (SELECT unnest(ts) AS w1 FROM tr) GROUP BY 1
),
v AS (
  SELECT COUNT(DISTINCT w) AS v FROM (SELECT unnest(ts) AS w FROM tr)
),
db AS (
  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
  FROM (
    SELECT doc_id, {_TOKS_SQL} AS ts FROM documents WHERE doc_id % 5 <> 0
  ), UNNEST(generate_series(1, len(ts) - 1)) AS s(i)
),
sc AS (
  SELECT d.doc_id,
    ln((COALESCE(b.c12, 0) + 1) / (COALESCE(u.c1, 0) + v.v)) AS logp
  FROM db d
  LEFT JOIN trb b ON d.w1 = b.w1 AND d.w2 = b.w2
  LEFT JOIN tru u ON d.w1 = u.w1, v
)
SELECT doc_id, COUNT(*) AS n_bigrams, ROUND(AVG(logp), 4) AS avg_logp
FROM sc GROUP BY doc_id
"""


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023 shape): the
    doc_id%7==0 shard plays the target corpus; every other document
    scores sum log(p_target/p_raw) over its hashed unigram+bigram
    buckets (k=256, Laplace smoothed). The bucket hash is md5-prefix
    based so DuckDB reproduces it bit-for-bit. NEW r7."""
    from openset_spark.pipeline.dsir import importance_weights

    docs = _docs(spark, sf_dir)
    target = docs.filter(F.col("doc_id") % 7 == 0)
    rest = docs.filter(F.col("doc_id") % 7 != 0)
    return importance_weights(rest, target, k=256)


_SQL_DSIR_WEIGHTS = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents),
g AS (
  SELECT doc_id, unnest(ts) AS g FROM t
  UNION ALL
  SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS g
  FROM t, UNNEST(generate_series(1, len(ts) - 1)) AS s(i)
),
b AS (
  SELECT doc_id,
    CAST(CAST(concat('0x', substr(md5(g), 1, 8)) AS UBIGINT) % 256
         AS BIGINT) AS bucket
  FROM g
),
p AS (SELECT bucket, COUNT(*) AS pc FROM b WHERE doc_id % 7 = 0 GROUP BY 1),
q AS (SELECT bucket, COUNT(*) AS qc FROM b WHERE doc_id % 7 <> 0 GROUP BY 1),
pt AS (SELECT SUM(pc) AS ptot FROM p),
qt AS (SELECT SUM(qc) AS qtot FROM q),
d AS (SELECT * FROM b WHERE doc_id % 7 <> 0),
sc AS (
  SELECT d.doc_id,
    ln((COALESCE(p.pc, 0) + 1) / (pt.ptot + 256))
    - ln((COALESCE(q.qc, 0) + 1) / (qt.qtot + 256)) AS lr
  FROM d LEFT JOIN p USING (bucket) LEFT JOIN q USING (bucket), pt, qt
)
SELECT doc_id, COUNT(*) AS n_grams, ROUND(SUM(lr), 4) AS log_weight
FROM sc GROUP BY doc_id
"""


# --------------------------------------------------------------------
# retention maintenance as driver-verifiable queries (Grid::cull,
# /root/reference/src/grid.cpp:698-749; settings src/table.h:122-124)
# --------------------------------------------------------------------
def q_retention_cull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL-only cull (event_ttl = 10 days, now = max stamp) summarized
    per event_type — exercises the production `retention_filter` TTL
    path, whose comparison reaches the scan as a pushed filter."""
    from openset_spark.sources.tables import retention_filter

    ev = _events(spark, sf_dir)
    now_ms = ev.agg(F.unix_millis(F.max("ts"))).first()[0]
    kept = retention_filter(ev, now_ms, ttl_ms=10 * 86_400_000, event_max=None)
    return kept.groupBy("event_type").agg(
        F.count("event_id").alias("events"),
        F.countDistinct("user_id").alias("people"),
        F.max(F.unix_micros("ts")).alias("last_us"),
    )


_SQL_RETENTION_CULL = """
WITH b AS (
  SELECT (epoch_us(MAX(ts)) // 1000 - 10 * 86400000) * 1000 AS cutoff_us
  FROM events
)
SELECT event_type,
       COUNT(event_id) AS events,
       COUNT(DISTINCT user_id) AS people,
       MAX(epoch_us(ts)) AS last_us
FROM events, b
WHERE epoch_us(ts) >= b.cutoff_us
GROUP BY event_type
"""


def q_retention_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """event_max-only cull (keep the newest 70 rows per person, ts
    then event_id tie-break) summarized as a kept-rows-per-user
    distribution — exercises the production bounded-window cap path."""
    from openset_spark.sources.tables import retention_filter

    ev = _events(spark, sf_dir)
    kept = retention_filter(ev, 0, ttl_ms=None, event_max=70)
    per_user = kept.groupBy("user_id").agg(F.count("event_id").alias("kept"))
    return per_user.groupBy("kept").agg(F.count("user_id").alias("users"))


_SQL_RETENTION_CAP = """
WITH r AS (
  SELECT user_id,
         ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC
         ) AS rn
  FROM events
), k AS (
  SELECT user_id, COUNT(*) AS kept FROM r WHERE rn <= 70 GROUP BY user_id
)
SELECT kept, COUNT(*) AS users FROM k GROUP BY kept
"""


# --------------------------------------------------------------------
# driver contract
# --------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the signup→click→purchase funnel on sf0.001."""
    return q_funnel_signup_purchase(spark, "/root/testdata/sf0.001")


def q_osl_histogram_weeks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the histogram endpoint's documented script, verbatim
    # (docs/rest/README.md:355): weeks since last event per customer.
    # `now` is pinned to max(ts) so the result is deterministic.
    from openset_spark.osl import compile_osl_histogram

    ev = _events(spark, sf_dir)
    now_ms = ev.agg(epoch_ms(F.max("ts"))).first()[0]
    h = compile_osl_histogram("return( to_weeks(now - last_stamp) )")
    return h.histogram(ev, bucket=1.0, name="weeks_since", now_ms=now_ms).select(
        F.col("weeks_since").cast("long").alias("weeks_since"), "people"
    )


_SQL_OSL_HISTOGRAM_WEEKS = """
WITH nowt AS (SELECT MAX(ts) AS now_ts FROM events),
u AS (SELECT user_id, MAX(ts) AS last_ts FROM events GROUP BY user_id),
h AS (
  SELECT CAST(FLOOR((epoch_ms(now_ts::TIMESTAMP) - epoch_ms(last_ts::TIMESTAMP)) / 604800000.0) AS BIGINT) AS weeks_since,
    COUNT(DISTINCT user_id) AS people
  FROM u, nowt GROUP BY 1
),
bounds AS (
  SELECT unnest(generate_series((SELECT MIN(weeks_since) FROM h),
                                (SELECT MAX(weeks_since) FROM h))) AS weeks_since
)
SELECT bounds.weeks_since, COALESCE(h.people, 0) AS people
FROM bounds LEFT JOIN h USING (weeks_since)
"""


def q_osl_script_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OSL imperative half as a query: a script variable becomes a
    per-user accumulator (ref test/test_osl_language.h "each_row with
    limit" pattern; docs/osl/language_reference.md:118-180 variables).
    ScriptRunner.frame() is the aggregate-only lowering — ONE
    groupBy(user_id) plan, no driver collect."""
    from openset_spark.osl.lang import ScriptRunner

    ev = _events(spark, sf_dir)
    runner = ScriptRunner(
        """
        min_price = 100
        counter = 0

        each_row where event == "purchase" && value > min_price
          counter = counter + 1
        end

        debug(counter)
        """,
        column_map={"event": "event_type"},
    )
    return runner.frame(ev, names=["big_purchases"])


_SQL_OSL_SCRIPT_COUNTER = """
SELECT user_id,
       COUNT(CASE WHEN event_type = 'purchase' AND value > 100 THEN 1 END)
         AS big_purchases
FROM events
GROUP BY user_id
"""


def q_osl_customer_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-property write-back as a query: the language-reference
    aggregate-assignment form (docs/osl/language_reference.md:102-117)
    lowered to one conditional aggregate per written property in a
    single groupBy(user_id)."""
    from openset_spark.osl.lang import ScriptRunner

    ev = _events(spark, sf_dir).withColumn("value", _dec("value", 10, 2))
    r = ScriptRunner(
        """
        total_purchase_value = sum(value) where event.is(== "purchase")
        n_purchases = count() where event.is(== "purchase")
        """,
        column_map={"event": "event_type"},
    )
    return r.customer_updates(ev).select(
        "user_id",
        F.col("total_purchase_value").cast("double").alias("total_purchase_value"),
        "n_purchases",
    )


_SQL_OSL_CUSTOMER_WRITE = """
SELECT user_id,
  CAST(SUM(CAST(value AS DECIMAL(10,2)))
       FILTER (WHERE event_type = 'purchase') AS DOUBLE)
    AS total_purchase_value,
  COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases
FROM events GROUP BY user_id
"""


def q_osl_return_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """return(expr) inside an each_row scan: per-user FIRST-MATCH
    value (language_reference.md:380-391), lowered to a min-of-
    (order, value) struct aggregate — no window, one groupBy."""
    from openset_spark.osl.lang import ScriptRunner

    ev = _events(spark, sf_dir).withColumn("value", _dec("value", 10, 2))
    r = ScriptRunner(
        """
        each_row where event.is(== "purchase")
          return(value)
        end
        """,
        column_map={"event": "event_type"},
    )
    return r.result_frame(ev, name="first_purchase_value").withColumn(
        "first_purchase_value", F.col("first_purchase_value").cast("double")
    )


_SQL_OSL_RETURN_FIRST = """
SELECT user_id,
  CAST(ARG_MIN(CAST(value AS DECIMAL(10,2)), event_id)
       FILTER (WHERE event_type = 'purchase') AS DOUBLE)
    AS first_purchase_value
FROM events GROUP BY user_id
"""


def q_osl_agg_options(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The select-block aggregator options end-to-end: `with <key>`
    (alternate distinct key) and `all` (nonDistinct row count),
    pivoted by a time expression — all-integer aggregates so the
    oracle compare is exact."""
    from openset_spark.osl import compile_osl

    script = """
    select
      count id as people
      count id with event_type as n_types
      count id all as visits
    end

    each_row where value > 50
        << get_year(event_time)
    end
    """
    return compile_osl(script).dataframe(_events(spark, sf_dir))


_SQL_OSL_AGG_OPTIONS = """
SELECT CAST(EXTRACT(year FROM ts) AS BIGINT) AS get_year_event_time,
       COUNT(DISTINCT user_id) AS people,
       COUNT(DISTINCT event_type) AS n_types,
       COUNT(*) AS visits
FROM events WHERE value > 50 GROUP BY 1
"""


def q_zorder_first_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference z-order tie-break as a driver query (test/test_zorder.h;
    VERDICT r4 ask #4): rows sharing a stamp order by their position in
    the table's declared event priority list, then row id. The test
    events table has no duplicate (user, ts) stamps, so the stamp is
    coarsened to the event DAY — within each (user, day) stamp the
    declared priority (signup > purchase > error > click > view), NOT
    arrival order, picks the first row. Uses the same ``zorder_key``
    every per-user window in operators/ builds on."""
    order = ["signup", "purchase", "error", "click", "view"]
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id", F.to_date("ts")).orderBy(
        zorder_key(F.col("event_type"), order), F.col("event_id")
    )
    return (
        ev.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            F.to_date("ts").cast("string").alias("day"),
            F.col("event_type").alias("first_event"),
            "event_id",
        )
    )


_SQL_ZORDER_FIRST_ROWS = """
WITH r AS (
  SELECT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
    event_type, event_id,
    row_number() OVER (
      PARTITION BY user_id, CAST(ts AS DATE)
      ORDER BY CASE event_type
        WHEN 'signup' THEN 0 WHEN 'purchase' THEN 1 WHEN 'error' THEN 2
        WHEN 'click' THEN 3 WHEN 'view' THEN 4 ELSE 5 END,
        event_id
    ) AS rn
  FROM events
)
SELECT user_id, day, event_type AS first_event, event_id
FROM r WHERE rn = 1
"""


# --------------------------------------------------------------------
# IR scoring + winnowing fingerprints (NEW r7 late): corpus-selection
# primitives for a pretraining pipeline — TF-IDF keywords, BM25
# query-relevance retrieval, MOSS winnowing (pipeline/ir.py,
# pipeline/winnow.py). All ranked on ROUNDED scores with integer /
# lexical tie-breaks so DuckDB reproduces the ordering exactly.
# --------------------------------------------------------------------
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document: the cheap keyword / topic
    proxy. One token shuffle; the vocabulary-sized df table and the
    1-row doc count are broadcast; top-k is a per-doc window."""
    from openset_spark.pipeline.ir import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir), k=5)


_SQL_TFIDF_TOP_TERMS = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents),
tf AS (
  SELECT doc_id, w AS term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(ts) AS w FROM t) GROUP BY 1, 2
),
dfk AS (SELECT term, COUNT(*) AS dfc FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM t),
s AS (
  SELECT tf.doc_id, tf.term, CAST(tf.tf AS BIGINT) AS tf,
    ROUND(tf.tf * ln(n.n_docs * 1.0 / dfk.dfc), 4) AS score
  FROM tf JOIN dfk USING (term), n
),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rn
  FROM s
)
SELECT doc_id, term, tf, score, CAST(rn AS BIGINT) AS rank
FROM r WHERE rn <= 5
"""


_BM25_QUERY = ["spark", "window", "merge", "customer"]


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 for a fixed bag-of-words query — targeted corpus
    selection ("retrieve the most query-relevant shard"). Global
    top-n is sort+limit (TakeOrderedAndProject), never a
    single-partition window."""
    from openset_spark.pipeline.ir import bm25_search

    return bm25_search(_docs(spark, sf_dir), _BM25_QUERY, top_n=20)


_SQL_BM25_SEARCH = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents),
dl AS (SELECT doc_id, len(ts) AS dl FROM t),
sc0 AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, w AS term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(ts) AS w FROM t) GROUP BY 1, 2
),
hits AS (
  SELECT * FROM tf WHERE term IN ('spark', 'window', 'merge', 'customer')
),
dfk AS (SELECT term, COUNT(*) AS dfc FROM hits GROUP BY 1),
pt AS (
  SELECT h.doc_id,
    ln(1.0 + (s.n_docs - d.dfc + 0.5) / (d.dfc + 0.5)) AS idf,
    h.tf * 2.2 / (h.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl)) AS tfn
  FROM hits h JOIN dfk d USING (term) JOIN dl l USING (doc_id), sc0 s
),
sc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit_terms,
    ROUND(SUM(idf * tfn), 4) AS score
  FROM pt GROUP BY doc_id
),
r AS (
  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn
  FROM sc
)
SELECT doc_id, n_hit_terms, score, CAST(rn AS BIGINT) AS rank
FROM r WHERE rn <= 20
"""


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed (k=4, w=5) fingerprint sets — guaranteed-coverage
    positional fingerprints at ~2/(w+1) density (Schleimer et al.
    2003). md5-prefix hashes + integer rightmost-min encoding keep
    every selected (pos, hash) engine-portable."""
    from openset_spark.pipeline.winnow import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir), k=4, w=5)


_WINNOW_CAP = 1 << 20
_SQL_WINNOW_FINGERPRINTS = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents),
g AS (
  SELECT doc_id, i AS pos, len(ts) - 3 AS ng,
    ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] AS gram
  FROM t, UNNEST(generate_series(1, len(ts) - 3)) AS s(i)
  WHERE len(ts) >= 8
),
c AS (
  SELECT doc_id, pos, ng,
    CAST(CAST(concat('0x', substr(md5(gram), 1, 8)) AS UBIGINT) AS BIGINT)
      * {_WINNOW_CAP} + ({_WINNOW_CAP - 1} - pos) AS comb
  FROM g
),
m AS (
  SELECT doc_id, pos, ng,
    MIN(comb) OVER (PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS sel
  FROM c
)
SELECT DISTINCT doc_id,
  CAST({_WINNOW_CAP - 1} - (sel % {_WINNOW_CAP}) AS BIGINT) AS kpos,
  CAST(sel // {_WINNOW_CAP} AS BIGINT) AS khash
FROM m WHERE pos <= ng - 4
"""


def q_winnow_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS match report: pairs sharing >= 2 winnowed fingerprints.
    The hash-df cap (<= 50 docs) rides the pairing shuffle — the same
    boilerplate-quadratic guard as substring_dup_pairs."""
    from openset_spark.pipeline.winnow import winnow_matches

    return winnow_matches(_docs(spark, sf_dir), k=4, w=5)


_SQL_WINNOW_MATCHES = f"""
WITH fp AS ({_SQL_WINNOW_FINGERPRINTS}),
f AS (SELECT DISTINCT doc_id, khash FROM fp),
capped AS (
  SELECT doc_id, khash FROM f
  QUALIFY COUNT(*) OVER (PARTITION BY khash) <= 50
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS shared
FROM capped a JOIN capped b
  ON a.khash = b.khash AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING COUNT(*) >= 2
"""


# --------------------------------------------------------------------
# r8 additions: quality signals (entropy/readability/vocab growth),
# containment near-dup, centroid training, portable stratified sample
# --------------------------------------------------------------------
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon entropy over normalized chars (bits/char),
    rounded to 4 — the gibberish/low-diversity quality filter. NEW
    r8."""
    from openset_spark.pipeline.textstats import char_entropy

    return char_entropy(_docs(spark, sf_dir))


_SQL_CHAR_ENTROPY = f"""
WITH base AS (SELECT doc_id, {_NORM_SQL} AS nm FROM documents),
ch AS (
  SELECT doc_id, substring(nm, i, 1) AS ch
  FROM base, UNNEST(generate_series(1, length(nm))) AS s(i)
),
cnt AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY 1, 2)
SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chars,
  ROUND(log2(SUM(c)) - SUM(c * log2(c)) / SUM(c), 4) AS entropy_bits
FROM cnt GROUP BY doc_id
"""


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid-style grade from vowel-group syllable counts,
    sentence count floored at 1 (word-soup corpora). NEW r8."""
    from openset_spark.pipeline.textstats import readability

    return readability(_docs(spark, sf_dir))


_SQL_READABILITY = f"""
WITH base AS (
  SELECT doc_id,
    CAST(len({_TOKS_SQL}) AS BIGINT) AS n_words,
    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
      AS n_syllables,
    CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
      AS n_sentences
  FROM documents
)
SELECT doc_id, n_words, n_syllables, n_sentences,
  FLOOR(
    (2 * (39 * n_words * n_words + 1180 * n_syllables * n_sentences
          - 1559 * n_words * n_sentences)
     + n_words * n_sentences)
    / (2 * n_words * n_sentences)
  ) / 100.0 AS fk_grade
FROM base WHERE n_words > 0
"""


def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary: total tokens, corpus-wide distinct
    tokens, type-token ratio (Heaps-law corpus-card stat). NEW r8."""
    from openset_spark.pipeline.textstats import vocab_growth

    return vocab_growth(_docs(spark, sf_dir), group_col="source")


_SQL_VOCAB_GROWTH = f"""
WITH tok AS (
  SELECT source, unnest({_TOKS_SQL}) AS tok FROM documents
)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS total_tokens,
  CAST(COUNT(DISTINCT tok) AS BIGINT) AS distinct_tokens,
  ROUND(COUNT(DISTINCT tok) / COUNT(*), 6) AS type_token_ratio
FROM tok GROUP BY source
"""


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise mean embedding per label (long form: label, dim,
    centroid) — the k-means/IVF training aggregate. NEW r8."""
    from openset_spark.pipeline.similarity import embedding_centroids

    return embedding_centroids(_embs(spark, sf_dir), group_col="label")


_SQL_EMBEDDING_CENTROIDS = """
SELECT label, CAST(i - 1 AS BIGINT) AS dim,
  ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 4) + 0.0 AS centroid
FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS s(i)
GROUP BY 1, 2
"""


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: shingle-set containment >= 0.8 over
    5-gram sets with document-frequency cap 50 (Broder's
    resemblance-vs-containment distinction — the pair Jaccard/minhash
    misses). NEW r8."""
    from openset_spark.pipeline.dedup import containment_pairs

    return containment_pairs(_docs(spark, sf_dir), n=5, threshold=0.8)


_SQL_CONTAINMENT_PAIRS = f"""
WITH base AS (
  SELECT doc_id, {_TOKS_SQL} AS ts FROM documents
  WHERE len({_TOKS_SQL}) >= 5
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(ts[i:i+4], ' ') AS g
  FROM base, UNNEST(generate_series(1, len(ts) - 4)) AS s(i)
),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
capped AS (
  SELECT doc_id, g FROM sh
  QUALIFY COUNT(*) OVER (PARTITION BY g) <= 50
),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
    CAST(COUNT(*) AS BIGINT) AS shared
  FROM capped a JOIN capped b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, shared,
  ROUND(shared / LEAST(x.sz, y.sz), 6) AS containment
FROM shared
JOIN sz x ON x.doc_id = shared.id_a
JOIN sz y ON y.doc_id = shared.id_b
WHERE shared / LEAST(x.sz, y.sz) >= 0.8
"""


def q_sample_per_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-3-per-(lang,source) deterministic sample by portable
    md5 hash order — count-exact, engine-verifiable row-for-row
    (unlike Bernoulli sampleBy). NEW r8."""
    from openset_spark.pipeline.sampling import sample_per_stratum

    return sample_per_stratum(
        _docs(spark, sf_dir), ["lang", "source"], k=3
    )


_SQL_SAMPLE_PER_STRATUM = """
SELECT doc_id, text, lang, source, n_chars FROM documents
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY lang, source
  ORDER BY
    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
         AS UBIGINT),
    doc_id
) <= 3
"""


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-level 5-gram Jaccard — the cross-source
    redundancy matrix a corpus card reports before per-doc dedup.
    Pair fan-out bounded by the source count, a catalog constant.
    NEW r8."""
    from openset_spark.pipeline.corpus_stats import source_ngram_overlap

    return source_ngram_overlap(_docs(spark, sf_dir), n=5)


_SQL_SOURCE_OVERLAP = f"""
WITH base AS (
  SELECT source, {_TOKS_SQL} AS ts FROM documents
  WHERE len({_TOKS_SQL}) >= 5
),
sh AS (
  SELECT DISTINCT source, array_to_string(ts[i:i+4], ' ') AS g
  FROM base, UNNEST(generate_series(1, len(ts) - 4)) AS s(i)
),
sz AS (SELECT source, COUNT(*) AS sz FROM sh GROUP BY 1),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b,
    CAST(COUNT(*) AS BIGINT) AS shared
  FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, shared,
  ROUND(shared / (x.sz + y.sz - shared), 6) AS jaccard
FROM shared
JOIN sz x ON x.source = shared.source_a
JOIN sz y ON y.source = shared.source_b
"""


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 PMI word bigrams (collocation mining) with c12 >= 5;
    ranked on the rounded PMI with a (w1, w2) tie-break. NEW r8."""
    from openset_spark.pipeline.corpus_stats import collocations

    return collocations(_docs(spark, sf_dir), min_count=5, k=20)


_SQL_COLLOCATIONS = f"""
WITH t AS (
  SELECT {_TOKS_SQL} AS ts FROM documents WHERE len({_TOKS_SQL}) >= 2
),
big AS (
  SELECT ts[i] AS w1, ts[i + 1] AS w2, COUNT(*) AS c12
  FROM t, UNNEST(generate_series(1, len(ts) - 1)) AS s(i)
  GROUP BY 1, 2
),
cl AS (SELECT w1, SUM(c12) AS cl FROM big GROUP BY 1),
cr AS (SELECT w2, SUM(c12) AS cr FROM big GROUP BY 1),
n AS (SELECT SUM(c12) AS n FROM big),
scored AS (
  SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
    ROUND(
      ln((CAST(c12 AS DOUBLE) * n.n) / (CAST(cl.cl AS DOUBLE) * cr.cr)),
      4
    ) AS pmi
  FROM big JOIN cl USING (w1) JOIN cr USING (w2) CROSS JOIN n
  WHERE c12 >= 5
)
SELECT w1, w2, c12, pmi,
  CAST(ROW_NUMBER() OVER (ORDER BY pmi DESC, w1, w2) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= 20
"""


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf power-law fit: OLS of ln(count) on ln(rank)
    over each source's top-100 word frequencies — the
    distribution-shape screen (natural text ~ -1; templated or
    spammy sources flatten toward 0) a corpus card reports per
    crawl. Deterministic rank tie-break on the word; closed-form
    OLS on AVG aggregates replayed term-for-term by the oracle.
    NEW r8."""
    from openset_spark.pipeline.corpus_stats import zipf_fit

    return zipf_fit(_docs(spark, sf_dir), top_r=100)


_SQL_ZIPF_FIT = f"""
WITH cnt AS (
  SELECT source, w, COUNT(*) AS c FROM (
    SELECT source, unnest({_TOKS_SQL}) AS w FROM documents
  ) GROUP BY 1, 2
),
ranked AS (
  SELECT source, ln(CAST(r AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
  FROM (
    SELECT source, c,
      ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, w ASC) AS r
    FROM cnt
  ) WHERE r <= 100
),
agg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_ranks,
    AVG(x) AS ax, AVG(y) AS ay, AVG(x * y) AS axy, AVG(x * x) AS axx
  FROM ranked GROUP BY 1
)
SELECT source, n_ranks,
  ROUND(CASE WHEN axx - ax * ax > 0
        THEN (axy - ax * ay) / (axx - ax * ax) END, 4) AS slope,
  ROUND(ay - (CASE WHEN axx - ax * ax > 0
        THEN (axy - ax * ay) / (axx - ax * ax) END) * ax, 4) AS intercept
FROM agg
"""


def q_kneser_ney_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (the KenLM/CCNet
    smoothing family, vs lm_perplexity's Laplace): continuation
    counts, absolute discount D=0.75, add-one-smoothed continuation
    floor — all closed-form aggregates the oracle replays exactly.
    Same train shard as lm_perplexity (doc_id%5==0) scoring the
    rest. NEW r8."""
    from openset_spark.pipeline.lm import kneser_ney_score

    docs = _docs(spark, sf_dir)
    train = docs.filter(F.col("doc_id") % 5 == 0)
    rest = docs.filter(F.col("doc_id") % 5 != 0)
    return kneser_ney_score(rest, train)


_SQL_KNESER_NEY = f"""
WITH tr AS (SELECT {_TOKS_SQL} AS ts FROM documents WHERE doc_id % 5 = 0),
trb AS (
  SELECT ts[i] AS w1, ts[i + 1] AS w2, COUNT(*) AS c12
  FROM tr, UNNEST(generate_series(1, len(ts) - 1)) AS s(i)
  GROUP BY 1, 2
),
ctx AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1fw FROM trb GROUP BY 1),
cont AS (SELECT w2, COUNT(*) AS n1bw FROM trb GROUP BY 1),
tot AS (SELECT COUNT(*) AS n1all, COUNT(DISTINCT w2) AS v FROM trb),
db AS (
  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
  FROM (
    SELECT doc_id, {_TOKS_SQL} AS ts FROM documents WHERE doc_id % 5 <> 0
  ), UNNEST(generate_series(1, len(ts) - 1)) AS s(i)
),
sc AS (
  SELECT d.doc_id,
    ln(CASE WHEN x.c1 IS NOT NULL THEN
        (GREATEST(COALESCE(b.c12, 0) - 0.75, 0.0)
         + 0.75 * x.n1fw
           * ((COALESCE(n.n1bw, 0) + 1) / (t.n1all + t.v))) / x.c1
      ELSE (COALESCE(n.n1bw, 0) + 1) / (t.n1all + t.v) END) AS logp
  FROM db d
  LEFT JOIN trb b ON d.w1 = b.w1 AND d.w2 = b.w2
  LEFT JOIN ctx x ON d.w1 = x.w1
  LEFT JOIN cont n ON d.w2 = n.w2, tot t
)
SELECT doc_id, COUNT(*) AS n_bigrams, ROUND(AVG(logp), 4) AS avg_logp_kn
FROM sc GROUP BY doc_id
"""


def q_dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-span exposure (Lee et al.'s removal-pass
    statistic): fraction of each doc's distinct 20-token runs that
    occur in >= 2 docs. No pair fan-out anywhere — cross-doc
    evidence is one document-frequency aggregate joined back.
    NEW r8."""
    from openset_spark.pipeline.dedup import dup_span_fraction

    return dup_span_fraction(_docs(spark, sf_dir), window_tokens=20)


_SQL_DUP_SPAN_FRACTION = f"""
WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents),
w AS (
  SELECT DISTINCT doc_id, array_to_string(ts[i:i+19], ' ') AS win
  FROM tok, UNNEST(generate_series(1, len(ts) - 19)) AS s(i)
),
hdf AS (SELECT win, COUNT(*) AS df FROM w GROUP BY 1)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dup_windows,
  ROUND(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) / COUNT(*), 6)
    AS dup_frac
FROM w JOIN hdf USING (win) GROUP BY doc_id
"""


_TAG_LEXICON = {
    "execution": ["scan", "filter", "sort", "merge", "join", "agg"],
    "storage": ["table", "row", "column", "key", "value", "part"],
    "streaming": ["stream", "window", "batch"],
    "sizing": ["big", "small", "fast", "slow"],
}


def q_keyword_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Taxonomy keyword tagging (FlashText / domain-routing shape):
    broadcast lexicon join + per-doc aggregate; every doc surfaces
    (empty tags via the left spine join). Topics string-joined for
    the driver frame (the user_event_type_sets pattern). NEW r8."""
    from openset_spark.pipeline.textstats import keyword_tags

    out = keyword_tags(_docs(spark, sf_dir), _TAG_LEXICON)
    return out.select(
        "doc_id",
        F.array_join("topics", ",").alias("topics"),
        "n_hit_words",
    )


def _tag_lexicon_values() -> str:
    rows = sorted(
        (w, t) for t, ws in _TAG_LEXICON.items() for w in ws
    )
    return ", ".join(f"('{w}', '{t}')" for w, t in rows)


_SQL_KEYWORD_TAGS = f"""
WITH lex(word, topic) AS (VALUES {_tag_lexicon_values()}),
tok AS (
  SELECT DISTINCT doc_id, unnest({_TOKS_SQL}) AS word FROM documents
),
hits AS (
  SELECT doc_id,
    array_to_string(list_sort(list(DISTINCT topic)), ',') AS topics,
    CAST(COUNT(DISTINCT word) AS BIGINT) AS n_hit_words
  FROM tok JOIN lex USING (word) GROUP BY 1
)
SELECT d.doc_id, COALESCE(h.topics, '') AS topics,
  COALESCE(h.n_hit_words, CAST(0 AS BIGINT)) AS n_hit_words
FROM (SELECT doc_id FROM documents) d LEFT JOIN hits h USING (doc_id)
"""


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/val/test split (the Lee et al. leakage
    guard): every near-duplicate family — components of the exact
    Jaccard pair graph — draws ONE portable-hash split from its
    cluster id, so no family straddles train and eval. The oracle
    replays components via the recursive-CTE closure + the identical
    md5 bucket. NEW r8."""
    from openset_spark.pipeline.sampling import leakage_safe_split

    docs = _docs(spark, sf_dir)
    pairs = jaccard_pairs(docs, threshold=0.6)
    return leakage_safe_split(docs, pairs)


_SQL_LEAKAGE_SAFE_SPLIT = """
WITH RECURSIVE p AS ({P}),
e AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
reach(a, b) AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
),
comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
         FROM reach GROUP BY a),
lab AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM (SELECT doc_id FROM documents) d LEFT JOIN comp c USING (doc_id)
),
b AS (
  SELECT doc_id, cluster_id,
    CAST(CAST(concat('0x', substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8))
         AS UBIGINT) % 1000 AS BIGINT) AS bucket
  FROM lab
)
SELECT doc_id, cluster_id,
  CASE WHEN bucket < 900 THEN 'train'
       WHEN bucket < 950 THEN 'val'
       ELSE 'test' END AS split
FROM b
""".replace("{P}", _SQL_DEDUP_NGRAM_JACCARD)


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher rule-set (Rae et al. 2021 App. A1.1) as one fused
    pass: word-count/mean-length bands, symbol ratio, alpha-word
    fraction, required-stopword count + combined keep flag — the
    filter family every published pretraining pipeline applies
    first. Comparisons on raw rationals (exact IEEE), reported
    ratios rounded. NEW r8."""
    from openset_spark.pipeline.textstats import gopher_quality_flags

    return gopher_quality_flags(_docs(spark, sf_dir))


_SQL_GOPHER_QUALITY = f"""
WITH t AS (SELECT doc_id, text, {_TOKS_SQL} AS ts FROM documents),
m AS (
  SELECT doc_id,
    len(ts) AS n_words,
    length(array_to_string(ts, '')) AS sum_len,
    length(text) - length(replace(text, '#', '')) AS n_hash,
    (length(text) - length(replace(text, '...', ''))) / 3 AS n_ell,
    len(list_filter(ts, w -> regexp_matches(w, '[a-z]'))) AS n_alpha,
    len(list_distinct(list_intersect(list_distinct(ts),
        ['the','be','to','of','and','that','have','with']))) AS n_req
  FROM t
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
  ROUND(sum_len / n_words, 4) AS mean_word_len,
  ROUND((n_hash + n_ell) / n_words, 4) AS symbol_ratio,
  ROUND(n_alpha / n_words, 4) AS alpha_word_frac,
  CAST(n_req AS BIGINT) AS n_req_stopwords,
  (n_words BETWEEN 50 AND 100000)
    AND (sum_len / n_words BETWEEN 3 AND 10)
    AND ((n_hash + n_ell) / n_words < 0.1)
    AND (n_alpha / n_words > 0.8)
    AND (n_req >= 2) AS keep
FROM m
"""


def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc lexical-diversity profile (TTR + hapax fraction):
    the repetitiveness screen a corpus card reports next to the
    Gopher flags. Ratios are exact integer basis points (integer
    division) — no float ROUND, no engine-boundary risk. NEW r8."""
    from openset_spark.pipeline.textstats import lexical_diversity

    return lexical_diversity(_docs(spark, sf_dir))


_SQL_LEXICAL_DIVERSITY = f"""
WITH t AS (SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents),
per AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY 1, 2)
SELECT doc_id,
  CAST(SUM(c) AS BIGINT) AS n_tokens,
  CAST(COUNT(*) AS BIGINT) AS n_types,
  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
  CAST(10000 * COUNT(*) // SUM(c) AS BIGINT) AS ttr_x10k,
  CAST(10000 * SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) // COUNT(*)
       AS BIGINT) AS hapax_x10k
FROM per GROUP BY doc_id
"""


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate vs the corpus's own top-20 token
    vocabulary — the coverage screen before committing a tokenizer
    vocab size. Vocabulary cut is (count DESC, token ASC)
    deterministic; the top-V is a TakeOrdered whose result
    broadcasts. NEW r8."""
    from openset_spark.pipeline.corpus_stats import oov_rate

    return oov_rate(_docs(spark, sf_dir), vocab_size=20)


_SQL_OOV_RATE = f"""
WITH t AS (SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents),
v AS (
  SELECT tok FROM (SELECT tok, COUNT(*) AS c FROM t GROUP BY tok)
  QUALIFY row_number() OVER (ORDER BY c DESC, tok ASC) <= 20
),
j AS (
  SELECT t.doc_id, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
  FROM t LEFT JOIN v ON t.tok = v.tok
)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_tokens,
  CAST(SUM(oov) AS BIGINT) AS n_oov,
  CAST(10000 * SUM(oov) // COUNT(*) AS BIGINT) AS oov_x10k
FROM j GROUP BY doc_id
"""


def q_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (window 32, stride 16) with per-chunk
    content hashes — the RAG / retrieval-index preparation shape;
    pure explode, zero shuffle. NEW r8."""
    from openset_spark.pipeline.packing import chunk_windows

    return chunk_windows(_docs(spark, sf_dir), window=32, stride=16)


_SQL_CHUNK_WINDOWS = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents
           WHERE trim(text) <> '' AND len({_TOKS_SQL}) > 0)
SELECT doc_id,
  CAST(len(ts) AS BIGINT) AS n_tokens,
  CAST(i AS BIGINT) AS chunk_id,
  CAST(i * 16 AS BIGINT) AS start_tok,
  CAST(LEAST(32, len(ts) - i * 16) AS BIGINT) AS chunk_len,
  md5(array_to_string(ts[i * 16 + 1 : i * 16 + 32], ' ')) AS chunk_hash
FROM t, UNNEST(generate_series(0, CAST((len(ts) - 1) // 16 AS BIGINT)))
     AS s(i)
"""


def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection closed end-to-end: Gumbel-top-k importance
    RESAMPLING (sample ∝ exp(log_weight)) of the 100 most
    target-like docs, Gumbel draws from each doc's own md5 uniform
    (deterministic per (doc, seed) — reproducible on any cluster at
    any partitioning). Same target shard (doc_id%7==0) and k=256
    buckets as dsir_weights. NEW r8."""
    from openset_spark.pipeline.dsir import dsir_select

    docs = _docs(spark, sf_dir)
    return dsir_select(
        docs.filter(F.col("doc_id") % 7 != 0),
        docs.filter(F.col("doc_id") % 7 == 0),
        n=100,
        k=256,
        gumbel_seed=7,
    )


_SQL_DSIR_RESAMPLE = """
WITH w AS ({W}),
g AS (
  SELECT doc_id, n_grams, log_weight,
    log_weight + (-ln(-ln(
      CAST(CAST(concat('0x',
        substr(md5(concat(CAST(doc_id AS VARCHAR), '_7')), 1, 8))
        AS UBIGINT) AS DOUBLE) / 4294967296.0
    ))) AS _key
  FROM w
)
SELECT doc_id, n_grams, log_weight FROM g
QUALIFY row_number() OVER (ORDER BY _key DESC, doc_id ASC) <= 100
""".replace("{W}", _SQL_DSIR_WEIGHTS)


def q_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment / covariance matrix of the embedding corpus —
    the PCA/whitening prep aggregate. Long-form upper triangle,
    exact-product double sums rounded at 4 (see
    pipeline/similarity.py::embedding_gram for the determinism
    argument). NEW r8."""
    from openset_spark.pipeline.similarity import embedding_gram

    return embedding_gram(_embs(spark, sf_dir))


_SQL_EMBEDDING_GRAM = """
WITH x AS (
  SELECT i, j, CAST(embedding[i] AS DOUBLE) AS xd,
         CAST(embedding[j] AS DOUBLE) AS yd
  FROM embeddings,
    UNNEST(generate_series(1, len(embedding))) AS s(i),
    UNNEST(generate_series(i, len(embedding))) AS t(j)
)
SELECT CAST(i - 1 AS BIGINT) AS i, CAST(j - 1 AS BIGINT) AS j,
  CAST(COUNT(*) AS BIGINT) AS n,
  ROUND(SUM(xd * yd), 4) + 0.0 AS sum_xy,
  ROUND((SUM(xd * yd) - SUM(xd) * SUM(yd) / COUNT(*)) / COUNT(*), 4)
    + 0.0 AS cov_xy
FROM x GROUP BY 1, 2
"""


def q_remove_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lee et al. 2022 REMOVAL pass (dup_span_fraction annotates
    it; this executes it): rewrite every document with cross-doc
    duplicated 20-token spans cut out. Value-checked by the portable
    md5 of the surviving token stream. NEW r9."""
    from openset_spark.pipeline.dedup import remove_dup_spans

    return remove_dup_spans(_docs(spark, sf_dir), window_tokens=20)


_SQL_REMOVE_DUP_SPANS = f"""
WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents),
pw AS (
  SELECT doc_id, i AS s, array_to_string(ts[i:i+19], ' ') AS win
  FROM tok, UNNEST(generate_series(1, len(ts) - 19)) AS st(i)
),
dup AS (
  SELECT win FROM (SELECT DISTINCT doc_id, win FROM pw)
  GROUP BY win HAVING COUNT(*) >= 2
),
cov AS (
  SELECT DISTINCT pw.doc_id, pw.s + j AS p
  FROM pw JOIN dup USING (win),
       UNNEST(generate_series(0, 19)) AS u(j)
),
tp AS (
  SELECT doc_id, i AS p, ts[i] AS tok
  FROM tok, UNNEST(generate_series(1, len(ts))) AS st(i)
),
kept AS (
  SELECT tp.doc_id, tp.p, tp.tok
  FROM tp LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.p = cov.p
  WHERE cov.p IS NULL
),
ka AS (
  SELECT doc_id, COUNT(*) AS n_kept,
    md5(string_agg(tok, ' ' ORDER BY p)) AS kept_md5
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens,
  CAST(len(t.ts) - COALESCE(ka.n_kept, 0) AS BIGINT) AS n_removed,
  COALESCE(ka.kept_md5, md5('')) AS kept_md5
FROM tok t LEFT JOIN ka USING (doc_id)
"""


def q_nearest_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document nearest-duplicate report: best exact-Jaccard
    match among substring-dup candidates (docs sharing a 20-token
    run — the SQL-reproducible candidate set; production passes
    MinHash candidates through pairs=). Ranking key jac_ppm =
    integer floor division, engine-exact. NEW r9."""
    from openset_spark.pipeline.dedup import nearest_dup, substring_dup_pairs

    docs = _docs(spark, sf_dir)
    return nearest_dup(docs, pairs=substring_dup_pairs(docs))


_SQL_NEAREST_DUP = f"""
WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents),
w AS (
  SELECT DISTINCT doc_id, array_to_string(ts[i:i+19], ' ') AS win
  FROM tok, UNNEST(generate_series(1, len(ts)-19)) AS st(i)
),
keep AS (
  SELECT doc_id, win FROM w
  QUALIFY COUNT(*) OVER (PARTITION BY win) <= 50
),
p AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM keep a JOIN keep b ON a.win = b.win AND a.doc_id < b.doc_id
),
sym AS (
  SELECT id_a AS a, id_b AS b FROM p
  UNION ALL SELECT id_b, id_a FROM p
),
tok2 AS (SELECT DISTINCT doc_id, unnest(ts) AS tk FROM tok),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok2 GROUP BY 1),
ix AS (
  SELECT s.a, s.b, COUNT(*) AS inter
  FROM sym s
  JOIN tok2 x ON x.doc_id = s.a
  JOIN tok2 y ON y.doc_id = s.b AND y.tk = x.tk
  GROUP BY 1, 2
),
sc AS (
  SELECT a, b, inter, na.n + nb.n - inter AS union_
  FROM ix JOIN sizes na ON na.doc_id = a JOIN sizes nb ON nb.doc_id = b
)
SELECT a AS doc_id, b AS nn_id,
  CAST(inter AS BIGINT) AS inter,
  CAST(union_ AS BIGINT) AS union_,
  CAST((inter * 1000000) // union_ AS BIGINT) AS jac_ppm
FROM sc
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY a ORDER BY (inter * 1000000) // union_ DESC, b
) = 1
"""


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail stratification: bigram-LM scores (the
    lm_perplexity model, doc_id%5==0 train shard) split into 3 NTILE
    buckets ranked by the cross-engine-stable ROUND(avg_logp, 4)
    with doc_id tie-break. NEW r9."""
    from openset_spark.pipeline.lm import perplexity_buckets

    docs = _docs(spark, sf_dir)
    return perplexity_buckets(
        docs.filter(F.col("doc_id") % 5 != 0),
        docs.filter(F.col("doc_id") % 5 == 0),
    )


_SQL_PERPLEXITY_BUCKETS = f"""
WITH tr AS (SELECT {_TOKS_SQL} AS ts FROM documents WHERE doc_id % 5 = 0),
trb AS (
  SELECT ts[i] AS w1, ts[i + 1] AS w2, COUNT(*) AS c12
  FROM tr, UNNEST(generate_series(1, len(ts) - 1)) AS s(i)
  GROUP BY 1, 2
),
tru AS (
  SELECT w1, COUNT(*) AS c1
  FROM (SELECT unnest(ts) AS w1 FROM tr) GROUP BY 1
),
v AS (
  SELECT COUNT(DISTINCT w) AS v FROM (SELECT unnest(ts) AS w FROM tr)
),
db AS (
  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
  FROM (
    SELECT doc_id, {_TOKS_SQL} AS ts FROM documents WHERE doc_id % 5 <> 0
  ), UNNEST(generate_series(1, len(ts) - 1)) AS s(i)
),
sc AS (
  SELECT d.doc_id,
    ln((COALESCE(b.c12, 0) + 1) / (COALESCE(u.c1, 0) + v.v)) AS logp
  FROM db d
  LEFT JOIN trb b ON d.w1 = b.w1 AND d.w2 = b.w2
  LEFT JOIN tru u ON d.w1 = u.w1, v
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_bigrams, ROUND(AVG(logp), 4) AS avg_logp
  FROM sc GROUP BY doc_id
)
SELECT doc_id, n_bigrams, avg_logp,
  CASE NTILE(3) OVER (ORDER BY avg_logp DESC, doc_id)
    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM agg
"""


def q_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-side coverage (eval-integrity report, the inverse
    of contamination_check): per benchmark doc (doc_id%50==0), how
    many of its distinct 5-grams the training corpus contains.
    coverage_ppm = integer floor division, engine-exact. NEW r9."""
    from openset_spark.pipeline.decontam import ngram_coverage

    docs = _docs(spark, sf_dir)
    return ngram_coverage(
        docs.filter(F.col("doc_id") % 50 != 0),
        docs.filter(F.col("doc_id") % 50 == 0),
        n=5,
    )


_SQL_NGRAM_COVERAGE = f"""
WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents),
g AS (
  SELECT doc_id, array_to_string(ts[i:i+4], ' ') AS ng
  FROM tok, UNNEST(generate_series(1, len(ts)-4)) AS s(i)
  WHERE len(ts) >= 5
),
corpus AS (SELECT DISTINCT ng FROM g WHERE doc_id % 50 <> 0),
bench AS (SELECT DISTINCT doc_id, ng FROM g WHERE doc_id % 50 = 0),
agg AS (
  SELECT b.doc_id, COUNT(*) AS n_grams, COUNT(c.ng) AS n_covered
  FROM bench b LEFT JOIN corpus c USING (ng) GROUP BY 1
)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
  CAST(n_covered AS BIGINT) AS n_covered,
  CAST((n_covered * 1000000) // n_grams AS BIGINT) AS coverage_ppm
FROM agg
"""


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix vs the gold `lang` column — the
    classifier-audit frame; gold labels ride lang_id's extra_cols
    fusion hook (one scan, no join back). NEW r9."""
    from openset_spark.pipeline.textstats import lang_confusion

    return lang_confusion(_docs(spark, sf_dir))


def _lang_confusion_sql() -> str:
    hits = ",\n    ".join(
        f"len(list_filter(toks, x -> list_contains({_stop_list_sql(lang)}, x)))"
        f" AS hits_{lang}"
        for lang in STOPWORDS
    )
    langs = list(STOPWORDS)
    best = "GREATEST(" + ", ".join(f"hits_{lang}" for lang in langs) + ")"
    guess = "CASE " + " ".join(
        f"WHEN hits_{lang} = {best} THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
WITH t AS (SELECT doc_id, lang, {_TOKS_SQL} AS toks FROM documents),
s AS (SELECT doc_id, lang,
    {hits}
  FROM t),
g AS (
  SELECT lang,
    CASE WHEN {best} > 0 THEN {guess} ELSE 'unknown' END AS lang_guess
  FROM s
)
SELECT lang, lang_guess, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM g GROUP BY 1, 2
"""


def q_lang_id_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-class language ID: multiclass multinomial NB over
    char-3-grams, trained on the labeled doc_id%5==0 shard, scoring
    the whole corpus (per-language log-likelihood sums + argmax).
    Pure relational: one gram-count aggregate, one broadcast
    weight-frame join, one per-doc sum — the nb_quality_scores shape
    generalized to multiclass (VERDICT r12 ask #2; the stopword
    lang_id stays as the cheap prefilter). NEW r13."""
    from openset_spark.pipeline.classify import nb_lang_scores

    docs = _docs(spark, sf_dir)
    seed = docs.filter(F.col("doc_id") % 5 == 0)
    return nb_lang_scores(docs, seed)


_NB_LANGS = ["de", "en", "es", "fr", "zh"]


def _lang_id_nb_sql() -> str:
    scores = ",\n    ".join(
        f"MAX(CASE WHEN l = '{l}' THEN s END) AS score_{l}"
        for l in _NB_LANGS
    )
    best = "GREATEST(" + ", ".join(f"score_{l}" for l in _NB_LANGS) + ")"
    guess = "CASE " + " ".join(
        f"WHEN score_{l} = {best} THEN '{l}'" for l in _NB_LANGS
    ) + " END"
    return f"""
WITH nd AS (SELECT doc_id, lang, {_NORM_SQL} AS nt FROM documents),
g AS (
  SELECT doc_id, lang, substring(nt, i, 3) AS gram
  FROM nd, UNNEST(generate_series(1, greatest(len(nt) - 2, 1))) AS s(i)
  WHERE substring(nt, i, 3) <> ''
),
cnt AS (
  SELECT lang AS l, gram, COUNT(*) AS c FROM g
  WHERE doc_id % 5 = 0 GROUP BY 1, 2
),
tot AS (SELECT l, SUM(c) AS nl FROM cnt GROUP BY 1),
v AS (SELECT COUNT(DISTINCT gram) AS v FROM cnt),
w AS (
  SELECT gram, l, ln((c + 1) / CAST(nl + v AS DOUBLE)) AS wt
  FROM cnt JOIN tot USING (l), v
),
sc AS (
  SELECT g.doc_id, t.l, COUNT(*) AS n,
    ROUND(SUM(COALESCE(w.wt,
      -ln(CAST(t.nl + (SELECT v FROM v) AS DOUBLE)))), 4) AS s
  FROM g CROSS JOIN tot t
  LEFT JOIN w ON w.gram = g.gram AND w.l = t.l
  GROUP BY g.doc_id, t.l
),
wide AS (
  SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_grams,
    {scores}
  FROM sc GROUP BY doc_id
)
SELECT doc_id, n_grams,
  {", ".join(f"score_{l}" for l in _NB_LANGS)},
  {guess} AS lang_nb
FROM wide
"""


def q_lang_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the NB language guess vs the gold `lang`
    column — the audit that, run beside lang_confusion's stopword
    matrix, says what the char-n-gram upgrade buys. NEW r13."""
    from openset_spark.pipeline.classify import nb_lang_confusion

    docs = _docs(spark, sf_dir)
    seed = docs.filter(F.col("doc_id") % 5 == 0)
    return nb_lang_confusion(docs, seed)


def _lang_nb_confusion_sql() -> str:
    inner = _lang_id_nb_sql()
    return f"""
WITH scored AS ({inner})
SELECT d.lang, scored.lang_nb, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM scored JOIN documents d USING (doc_id)
GROUP BY 1, 2
"""


_LANG_MIX_BUDGETS = {
    "en": 40000, "de": 15000, "es": 15000, "fr": 15000, "zh": 15000,
}


def q_lang_mixture_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-LANGUAGE token budgets on NB-ROUTED languages — the
    downstream consumer the r12 verdict said keys on the language
    signal: within each NB-guessed language keep the docs the
    classifier is MOST CONFIDENT about (winning score desc, id asc)
    until that language's gram budget. Self-contained: the
    confidence and the gram count both come off the one scored
    frame; the running totals use the grouped distributed prefix
    sum (the 80%-English partition never serializes). NEW r13."""
    from openset_spark.pipeline.classify import nb_lang_scores
    from openset_spark.pipeline.sampling import mixture_select

    docs = _docs(spark, sf_dir)
    seed = docs.filter(F.col("doc_id") % 5 == 0)
    scored = nb_lang_scores(docs, seed)
    conf = F.greatest(
        *[F.col(f"score_{l}") for l in _NB_LANGS]
    ).alias("conf")
    base = scored.select("doc_id", "n_grams", conf, "lang_nb")
    return mixture_select(
        base,
        _LANG_MIX_BUDGETS,
        domain_col="lang_nb",
        score_col="conf",
        token_col="n_grams",
    ).select("doc_id", "lang_nb", "conf", "n_grams", "cum_tokens")


def _lang_mixture_select_sql() -> str:
    inner = _lang_id_nb_sql()
    langs = ", ".join(f"'{l}'" for l in _LANG_MIX_BUDGETS)
    case = " ".join(
        f"WHEN '{l}' THEN {b}" for l, b in _LANG_MIX_BUDGETS.items()
    )
    best = ", ".join(f"score_{l}" for l in _NB_LANGS)
    return f"""
WITH scored AS ({inner}),
conf AS (
  SELECT doc_id, n_grams, GREATEST({best}) AS conf, lang_nb
  FROM scored WHERE lang_nb IN ({langs})
),
c AS (
  SELECT doc_id, lang_nb, conf, n_grams,
    CAST(SUM(n_grams) OVER (
      PARTITION BY lang_nb ORDER BY conf DESC, doc_id ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS BIGINT) AS cum_tokens
  FROM conf
)
SELECT doc_id, lang_nb, conf, n_grams, cum_tokens FROM c
WHERE cum_tokens <= CASE lang_nb {case} END
"""


def q_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance-level duplication matrix: candidate duplicate PAIR
    counts per (source, source) combination, over the capped
    substring-dup candidates — which feeds copy from which. NEW r9."""
    from openset_spark.pipeline.dedup import cross_source_dups

    return cross_source_dups(_docs(spark, sf_dir))


_SQL_CROSS_SOURCE_DUPS = f"""
WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents),
w AS (
  SELECT DISTINCT doc_id, array_to_string(ts[i:i+19], ' ') AS win
  FROM tok, UNNEST(generate_series(1, len(ts)-19)) AS st(i)
),
keep AS (
  SELECT doc_id, win FROM w
  QUALIFY COUNT(*) OVER (PARTITION BY win) <= 50
),
p AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM keep a JOIN keep b ON a.win = b.win AND a.doc_id < b.doc_id
),
s AS (SELECT doc_id, source FROM documents)
SELECT LEAST(sa.source, sb.source) AS source_a,
  GREATEST(sa.source, sb.source) AS source_b,
  CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM p
JOIN s sa ON sa.doc_id = p.id_a
JOIN s sb ON sb.doc_id = p.id_b
GROUP BY 1, 2
"""


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc first-occurrence attribution of distinct 3-grams —
    the crawl-schedule marginal-value report. Novelty ratio as exact
    integer basis points. NEW r9 (second session)."""
    from openset_spark.pipeline.corpus_stats import ngram_novelty

    return ngram_novelty(_docs(spark, sf_dir), n=3)


_SQL_NGRAM_NOVELTY = f"""
WITH tok AS (
  SELECT doc_id, {_TOKS_SQL} AS ts FROM documents
  WHERE len({_TOKS_SQL}) >= 3
),
dg AS (
  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS g
  FROM tok, UNNEST(generate_series(1, len(ts) - 2)) AS s(i)
),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM dg GROUP BY 1
),
novel AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_novel FROM (
    SELECT g, MIN(doc_id) AS doc_id FROM dg GROUP BY 1
  ) GROUP BY 1
)
SELECT p.doc_id, p.n_grams,
  CAST(COALESCE(n.n_novel, 0) AS BIGINT) AS n_novel,
  CAST(10000 * COALESCE(n.n_novel, 0) // p.n_grams AS BIGINT)
    AS novelty_x10k
FROM per_doc p LEFT JOIN novel n ON n.doc_id = p.doc_id
"""


def q_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative rule-attrition funnel over the 4-rule integer-exact
    cleaning cascade: which rule is eating the corpus. NEW r9
    (second session)."""
    from openset_spark.pipeline.corpus_stats import quality_funnel

    return quality_funnel(_docs(spark, sf_dir))


_SQL_QUALITY_FUNNEL = f"""
WITH tc AS (
  SELECT doc_id, tok, COUNT(*) AS c FROM (
    SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
  ) GROUP BY 1, 2
),
pd AS (
  SELECT doc_id, SUM(c) AS n, COUNT(*) AS nd, MAX(c) AS top,
         SUM(length(tok) * c) AS ln FROM tc GROUP BY 1
),
fl AS (
  SELECT (n BETWEEN 20 AND 90) AS b1,
         (ln >= 4 * n AND ln <= 6 * n) AS b2,
         (nd * 2 >= n) AS b3,
         (top * 8 <= n) AS b4
  FROM pd
),
a AS (
  -- stage-1 entrants = every corpus doc (zero-token docs produce no
  -- token rows but still enter and fail rule 1) — mirrors the Spark
  -- totals crossJoin
  SELECT (SELECT COUNT(*) FROM documents) AS n0,
    COALESCE(SUM(CASE WHEN b1 THEN 1 ELSE 0 END), 0) AS n1,
    COALESCE(SUM(CASE WHEN b1 AND b2 THEN 1 ELSE 0 END), 0) AS n2,
    COALESCE(SUM(CASE WHEN b1 AND b2 AND b3 THEN 1 ELSE 0 END), 0) AS n3,
    COALESCE(SUM(CASE WHEN b1 AND b2 AND b3 AND b4 THEN 1 ELSE 0 END), 0)
      AS n4
  FROM fl
)
SELECT CAST(s.stage AS BIGINT) AS stage, s.rule,
  CAST(CASE s.stage WHEN 1 THEN n0 WHEN 2 THEN n1 WHEN 3 THEN n2
       ELSE n3 END AS BIGINT) AS n_in,
  CAST(CASE s.stage WHEN 1 THEN n1 WHEN 2 THEN n2 WHEN 3 THEN n3
       ELSE n4 END AS BIGINT) AS n_pass
FROM a, (VALUES (1, 'n_tokens_band'), (2, 'mean_word_len'),
         (3, 'dup_fraction'), (4, 'top_token_share')) AS s(stage, rule)
"""


def q_cooccur_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 PMI of unordered word pairs within a ±3-token window —
    the skip-gram association table. NEW r9 (second session)."""
    from openset_spark.pipeline.corpus_stats import cooccur_pmi

    return cooccur_pmi(_docs(spark, sf_dir), window=3, min_count=5, k=20)


_SQL_COOCCUR_PMI = f"""
WITH t AS (
  SELECT {_TOKS_SQL} AS ts FROM documents WHERE len({_TOKS_SQL}) >= 2
),
pr AS (
  SELECT LEAST(ts[i], ts[j]) AS a, GREATEST(ts[i], ts[j]) AS b,
         COUNT(*) AS c_ab
  FROM t, UNNEST(generate_series(1, len(ts) - 1)) AS s(i),
       UNNEST(generate_series(i + 1, least(i + 3, len(ts)))) AS s2(j)
  GROUP BY 1, 2
),
m AS (
  SELECT w, SUM(c_ab) AS m FROM (
    SELECT a AS w, c_ab FROM pr UNION ALL SELECT b AS w, c_ab FROM pr
  ) GROUP BY 1
),
n AS (SELECT SUM(c_ab) AS n FROM pr),
scored AS (
  SELECT a, b, CAST(c_ab AS BIGINT) AS c_ab,
    ROUND(
      ln((CAST(c_ab AS DOUBLE) * n.n) / (CAST(ma.m AS DOUBLE) * mb.m)),
      4
    ) AS pmi
  FROM pr JOIN m ma ON ma.w = pr.a JOIN m mb ON mb.w = pr.b CROSS JOIN n
  WHERE c_ab >= 5
)
SELECT a, b, c_ab, pmi,
  CAST(ROW_NUMBER() OVER (ORDER BY pmi DESC, a, b) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= 20
"""


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writer-side shard manifest: docs concatenated in id order, cut
    into ~2048-token shards (doc-atomic); one row per shard. NEW r9
    (second session)."""
    from openset_spark.functions.text import token_count
    from openset_spark.pipeline.packing import shard_manifest

    docs = _docs(spark, sf_dir).select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    return shard_manifest(docs, budget=2048)


_SQL_SHARD_MANIFEST = f"""
WITH tok AS (
  SELECT doc_id, len({_TOKS_SQL}) AS n_tokens FROM documents
  WHERE len({_TOKS_SQL}) > 0
),
c AS (
  SELECT doc_id, n_tokens,
    SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM tok
)
SELECT CAST((cum - 1) // 2048 AS BIGINT) AS shard_id,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM c GROUP BY 1
"""


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded epoch shuffle + batch assignment (the
    data-loader contract): rank by portable md5(seed:id) via the
    distributed prefix-sum, batch = rank div B. NEW r9 (second
    session)."""
    from openset_spark.pipeline.packing import epoch_shuffle

    return epoch_shuffle(
        _docs(spark, sf_dir).select("doc_id"), seed=7, batch_size=32
    )


_SQL_EPOCH_SHUFFLE = """
WITH keyed AS (
  SELECT doc_id, md5('7:' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents
)
SELECT doc_id,
  CAST(ROW_NUMBER() OVER (ORDER BY k, doc_id) AS BIGINT) AS rank,
  CAST((ROW_NUMBER() OVER (ORDER BY k, doc_id) - 1) // 32 AS BIGINT)
    AS batch_id
FROM keyed
"""


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 farthest vectors from their label centroid (squared
    euclidean to the ROUNDED centroid, sequential fold) — the
    embedding outlier screen. NEW r9 (second session)."""
    from openset_spark.pipeline.similarity import embedding_outliers

    return embedding_outliers(_embs(spark, sf_dir), k=5)


_SQL_EMBEDDING_OUTLIERS = """
WITH cent AS (
  SELECT label, i AS dim,
    ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 4) + 0.0 AS c
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS s(i)
  GROUP BY 1, 2
),
carr AS (SELECT label, list(c ORDER BY dim) AS c FROM cent GROUP BY 1),
scored AS (
  SELECT e.label, e.vec_id,
    ROUND(list_sum(list_transform(generate_series(1, len(e.embedding)),
      i -> (CAST(e.embedding[i] AS DOUBLE) - c[i])
           * (CAST(e.embedding[i] AS DOUBLE) - c[i]))), 4) + 0.0 AS d2
  FROM embeddings e JOIN carr USING (label)
)
SELECT label, vec_id, d2,
  CAST(ROW_NUMBER() OVER (PARTITION BY label ORDER BY d2 DESC, vec_id)
       AS BIGINT) AS rank
FROM scored
QUALIFY rank <= 5
"""


def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset-card header: doc/token totals, source & lang
    cardinalities, exact unique-text count, duplicate remainder,
    mean tokens per doc in centitokens — all integer-exact. NEW r9
    (second session)."""
    from openset_spark.pipeline.corpus_stats import dataset_card

    return dataset_card(_docs(spark, sf_dir))


_SQL_DATASET_CARD = f"""
WITH base AS (
  SELECT doc_id, source, lang,
    len({_TOKS_SQL}) AS n_toks,
    md5(array_to_string({_TOKS_SQL}, ' ')) AS th
  FROM documents
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
  CAST(COUNT(DISTINCT th) AS BIGINT) AS n_unique_texts,
  CAST(COUNT(*) - COUNT(DISTINCT th) AS BIGINT) AS dup_docs,
  CAST(100 * SUM(n_toks) // COUNT(*) AS BIGINT) AS mean_tokens_x100
FROM base
"""


def q_dup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 PageRank centrality over the capped substring-dup
    candidate graph — the canonical-doc / boilerplate-hub ranking.
    5 power iterations, d=0.85, scores rounded to 6. NEW r9
    (second session)."""
    from openset_spark.pipeline.dedup import dup_pagerank

    return dup_pagerank(_docs(spark, sf_dir), iters=5, k=10)


def _dup_pagerank_sql(iters: int = 5) -> str:
    """Unrolled power iteration (no aggregate-in-recursive-CTE
    dependence): pr0..pr{iters} CTEs, each one join-aggregate over
    the symmetric edge list, mirroring the Spark loop term for
    term (teleport and damping applied in the same IEEE order)."""
    head = f"""
WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents),
w AS (
  SELECT DISTINCT doc_id, array_to_string(ts[i:i+19], ' ') AS win
  FROM tok, UNNEST(generate_series(1, len(ts)-19)) AS st(i)
),
keep AS (
  SELECT doc_id, win FROM w
  QUALIFY COUNT(*) OVER (PARTITION BY win) <= 50
),
p AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM keep a JOIN keep b ON a.win = b.win AND a.doc_id < b.doc_id
),
e AS (
  SELECT id_a AS src, id_b AS dst FROM p
  UNION ALL SELECT id_b, id_a FROM p
),
deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
n AS (SELECT COUNT(*) AS n FROM deg),
pr0 AS (SELECT src AS doc_id, 1.0 / n.n AS pr FROM deg CROSS JOIN n)"""
    its = []
    for i in range(1, iters + 1):
        its.append(f""",
pr{i} AS (
  SELECT e.dst AS doc_id,
    (1.0 - 0.85) / n.n + 0.85 * SUM(p.pr / d.deg) AS pr
  FROM e JOIN pr{i - 1} p ON p.doc_id = e.src
  JOIN deg d ON d.src = e.src CROSS JOIN n
  GROUP BY e.dst, n.n
)""")
    tail = f"""
SELECT doc_id, ROUND(pr, 6) AS pr,
  CAST(ROW_NUMBER() OVER (ORDER BY ROUND(pr, 6) DESC, doc_id)
       AS BIGINT) AS rank
FROM pr{iters}
QUALIFY rank <= 10
"""
    return head + "".join(its) + tail


# --------------------------------------------------------------------
# r9 third-session ops: embedding kNN quality, mixture temperature,
# boilerplate affixes
# --------------------------------------------------------------------
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining over the embedding table:
    nearest same-label vs nearest different-label neighbour per query,
    with the (portable, exact-double-difference) margin. NEW r9."""
    from openset_spark.pipeline.similarity import hard_negatives

    embs = _embs(spark, sf_dir).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = embs.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("query_id"), "label", "embedding"
    )
    return hard_negatives(embs, queries)


_SQL_HARD_NEGATIVES = """
WITH q AS (
  SELECT vec_id AS query_id, label AS qlabel, embedding AS qe
  FROM embeddings WHERE vec_id < 100
),
scored AS (
  SELECT q.query_id, q.qlabel, c.vec_id, c.label,
    list_cosine_similarity(c.embedding::DOUBLE[], q.qe::DOUBLE[]) AS cos_sim
  FROM embeddings c CROSS JOIN q WHERE c.vec_id <> q.query_id
),
best AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id, (label = qlabel)
    ORDER BY cos_sim DESC, vec_id ASC) AS rn
  FROM scored
)
SELECT query_id,
  MAX(CASE WHEN label = qlabel THEN vec_id END) AS pos_id,
  ROUND(MAX(CASE WHEN label = qlabel THEN cos_sim END), 4) AS pos_sim,
  MAX(CASE WHEN label <> qlabel THEN vec_id END) AS neg_id,
  ROUND(MAX(CASE WHEN label <> qlabel THEN cos_sim END), 4) AS neg_sim,
  ROUND(MAX(CASE WHEN label = qlabel THEN cos_sim END)
      - MAX(CASE WHEN label <> qlabel THEN cos_sim END), 4) AS margin
FROM best WHERE rn = 1 GROUP BY query_id
"""


def q_knn_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality screen: per-label average fraction of the 10
    nearest neighbours sharing the query's label, integer ppm. NEW
    r9."""
    from openset_spark.pipeline.similarity import knn_label_agreement

    embs = _embs(spark, sf_dir).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = embs.filter(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("query_id"), "label", "embedding"
    )
    return knn_label_agreement(embs, queries, k=10)


_SQL_KNN_AGREEMENT = """
WITH q AS (
  SELECT vec_id AS query_id, label AS qlabel, embedding AS qe
  FROM embeddings WHERE vec_id < 200
),
scored AS (
  SELECT q.query_id, q.qlabel, c.vec_id, c.label,
    list_cosine_similarity(c.embedding::DOUBLE[], q.qe::DOUBLE[]) AS cos_sim
  FROM embeddings c CROSS JOIN q WHERE c.vec_id <> q.query_id
),
topk AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rn
  FROM scored
),
per_q AS (
  SELECT query_id, qlabel,
    SUM(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS m
  FROM topk WHERE rn <= 10 GROUP BY 1, 2
)
SELECT qlabel AS label, CAST(COUNT(*) AS BIGINT) AS n_queries,
  CAST(SUM(m) * 1000000 // (10 * COUNT(*)) AS BIGINT) AS match_ppm
FROM per_q GROUP BY 1
"""


def q_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XLM/mT5 mixture-temperature sampling weights per source at
    alpha=0.5 (sqrt — the IEEE-correctly-rounded power, so the float
    ratios are engine-portable). NEW r9."""
    from openset_spark.pipeline.sampling import temperature_weights

    return temperature_weights(_docs(spark, sf_dir))


_SQL_TEMPERATURE_WEIGHTS = f"""
WITH per AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(len({_TOKS_SQL})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
),
tot AS (SELECT SUM(n_tokens) AS total, MAX(n_tokens) AS mx FROM per)
SELECT source, n_docs, n_tokens,
  CAST(n_tokens * 1000000 // total AS BIGINT) AS p_ppm,
  ROUND(sqrt(CAST(n_tokens AS DOUBLE)) / sqrt(CAST(mx AS DOUBLE)), 6)
    AS w_rel,
  ROUND(sqrt(CAST(mx AS DOUBLE)) / sqrt(CAST(n_tokens AS DOUBLE)), 6)
    AS boost
FROM per CROSS JOIN tot
"""


def q_boilerplate_affixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate header/footer detection: modal k-token prefix and
    suffix per source with its document share (exact-LCP when n_top ==
    n_docs). NEW r9."""
    from openset_spark.pipeline.cleaning import boilerplate_affixes

    return boilerplate_affixes(_docs(spark, sf_dir), ks=(1, 2, 4))


_SQL_BOILERPLATE_AFFIXES = f"""
WITH toks AS (SELECT source, {_TOKS_SQL} AS ts FROM documents),
meta AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
         FROM toks GROUP BY 1),
affixes AS (
  SELECT source, k,
    array_to_string(ts[1:k], ' ') AS prefix,
    array_to_string(ts[greatest(len(ts) - k + 1, 1):len(ts)], ' ')
      AS suffix
  FROM toks, UNNEST([1, 2, 4]) AS s(k)
),
long AS (
  SELECT source, k, 'prefix' AS side, prefix AS affix FROM affixes
  UNION ALL
  SELECT source, k, 'suffix' AS side, suffix AS affix FROM affixes
),
counted AS (
  SELECT source, side, k, affix, CAST(COUNT(*) AS BIGINT) AS n_top
  FROM long GROUP BY 1, 2, 3, 4
),
top AS (
  SELECT *, row_number() OVER (
    PARTITION BY source, side, k ORDER BY n_top DESC, affix ASC) AS rn
  FROM counted
)
SELECT t.source, t.side, CAST(t.k AS BIGINT) AS k,
  t.affix AS top_affix, t.n_top, m.n_docs
FROM top t JOIN meta m USING (source) WHERE rn = 1
"""


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online drift monitor, batch form: squared distance of every
    vector to its label's PREFIX centroid (prior vec_ids only).
    Running-window prefix sums = the same left fold the streaming twin
    (16th parity surface) keeps in state. NEW r9."""
    from openset_spark.pipeline.similarity import embedding_drift

    return embedding_drift(_embs(spark, sf_dir))


# prefix sums via running-window SUM: both engines stream cumulative
# ROWS UNBOUNDED PRECEDING frames with sequential adds in ORDER BY
# order; the across-dims reduction is list_sum over an ORDER BY dim
# list = the same sequential fold as Spark's aggregate().
_SQL_EMBEDDING_DRIFT = """
WITH ex AS (
  SELECT label, vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS s(i)
),
pr AS (
  SELECT label, vec_id, dim, x,
    SUM(x) OVER (PARTITION BY label, dim ORDER BY vec_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS psum,
    COUNT(x) OVER (PARTITION BY label, dim ORDER BY vec_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pn
  FROM ex
)
SELECT label, vec_id, CAST(MAX(pn) AS BIGINT) AS n_prior,
  ROUND(list_sum(list_transform(
    list((x, psum) ORDER BY dim),
    t -> (t[1] - t[2] / MAX(pn)) * (t[1] - t[2] / MAX(pn))
  )), 4) + 0.0 AS d2
FROM pr WHERE pn > 0 GROUP BY 1, 2
"""


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source log2-bucketed sequence-length histogram (loader
    padding/packing planner). Integer bucketing via binary-string
    length — no float log2 at bucket boundaries. NEW r9."""
    from openset_spark.pipeline.textstats import length_histogram

    return length_histogram(_docs(spark, sf_dir))


_SQL_LENGTH_HISTOGRAM = f"""
WITH base AS (
  -- zero-token docs (normalized text empty) are excluded — split('')
  -- yields [''] on both engines, so the guard is on text, not len
  SELECT source, len({_TOKS_SQL}) AS n FROM documents
  WHERE length({_NORM_SQL}) > 0
)
SELECT source, CAST(length(bin(n)) - 1 AS BIGINT) AS bucket,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n) AS BIGINT) AS sum_tokens,
  CAST(MIN(n) AS BIGINT) AS min_tokens,
  CAST(MAX(n) AS BIGINT) AS max_tokens
FROM base GROUP BY 1, 2
"""


def q_dup_cosine_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal duplicate QA: substring-dup candidate pairs whose
    embeddings disagree (cosine < 0.9) — the rows NOT to collapse
    silently. NEW r9."""
    from openset_spark.pipeline.dedup import dup_cosine_check, substring_dup_pairs

    pairs = substring_dup_pairs(_docs(spark, sf_dir))
    return dup_cosine_check(pairs, _embs(spark, sf_dir))


_SQL_DUP_COSINE_CHECK = """
WITH pairs AS ({SUBSTRING_PAIRS})
SELECT p.id_a, p.id_b,
  ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                               b.embedding::DOUBLE[]), 4) AS cos_sim,
  list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
    < 0.9 AS disagree
FROM pairs p
JOIN embeddings a ON a.vec_id = p.id_a
JOIN embeddings b ON b.vec_id = p.id_b
"""


def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite ANN (FAISS IndexIVFPQ shape: coarse lists +
    residual PQ codes) with its recall oracle in plan: n_lists=16 /
    nprobe=12 (the structureless-test-vector posture of ann_ivf),
    M=8 x ksub=16 residual codebooks, ADC shortlist 192, exact
    re-rank to top-10, per-query recall asserted >= 0.3 vs brute
    force. The clustered-corpus behavior (1.09s / 0.898 recall at
    nprobe=8 — 48.9x over brute, beating flat PQ on both axes) is
    measured in ann_bench.py on the 200k corpus. NEW r9."""
    from openset_spark.pipeline.pq import ivfpq_build, ivfpq_topk

    embs, queries = _ann_queries(spark, sf_dir)
    cents, books, index = ivfpq_build(
        embs, n_lists=16, m=8, ksub=16, coarse_refine=1, pq_refine=1
    )
    ann = ivfpq_topk(
        embs, queries, cents, books, index,
        k=10, nprobe=12, shortlist=192,
    )
    exact = brute_force_topk(embs, queries, k=10)
    return _ann_recall_frame(ann, exact, floor=0.3)


def q_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source total-variation distance from the corpus unigram
    distribution — the distributional-shift screen (exact-integer
    numerator in DECIMAL(38)/HUGEINT, one IEEE division). NEW r9."""
    from openset_spark.pipeline.corpus_stats import source_divergence

    return source_divergence(_docs(spark, sf_dir))


_SQL_SOURCE_DIVERGENCE = f"""
WITH toks AS (
  SELECT source, unnest({_TOKS_SQL}) AS w FROM documents
),
sw AS (SELECT source, w, COUNT(*) AS c_sw FROM toks GROUP BY 1, 2),
wtot AS (SELECT w, COUNT(*) AS c_w FROM toks GROUP BY 1),
stot AS (SELECT source, COUNT(*) AS t_s FROM toks GROUP BY 1),
gtot AS (SELECT COUNT(*) AS t FROM toks),
per AS (
  SELECT s.source,
    SUM(abs(CAST(c_sw AS HUGEINT) * t - CAST(c_w AS HUGEINT) * t_s))
      AS present,
    SUM(CAST(c_w AS HUGEINT)) AS cw_present,
    MAX(t_s) AS t_s, MAX(t) AS t
  FROM sw s JOIN wtot USING (w) JOIN stot USING (source)
  CROSS JOIN gtot
  GROUP BY 1
),
num AS (
  SELECT source, t_s, t,
    present + (CAST(t AS HUGEINT) - cw_present) * t_s AS n
  FROM per
)
SELECT source, CAST(t_s AS BIGINT) AS n_tokens,
  CAST((n * 1000000) // (2 * CAST(t_s AS HUGEINT) * t) AS BIGINT)
    AS tv_ppm,
  ROUND(CAST(n AS DOUBLE) / (2.0 * t_s * t), 6) AS tv
FROM num
"""


def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet line-level dedup as a rewrite: drop lines appearing in
    >= 2 distinct docs (document frequency, not occurrences). The
    testdata has no newlines, so each doc is one line and the pass
    degenerates to exact-text dedup — but the oracle checks the FULL
    REWRITTEN TEXT string per doc, so the split/normalize/frequency/
    reassembly chain is verified end to end. NEW r10."""
    from openset_spark.pipeline.dedup import dedup_lines

    return dedup_lines(_docs(spark, sf_dir))


_SQL_DEDUP_LINES = f"""
WITH base AS (
  SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents
),
lines AS (
  SELECT doc_id, i AS pos, ls[i] AS ln,
    md5(trim(regexp_replace(lower(ls[i]), '\\s+', ' ', 'g'))) AS h,
    length(trim(regexp_replace(lower(ls[i]), '\\s+', ' ', 'g'))) AS nlen
  FROM base, UNNEST(generate_series(1, len(ls))) AS s(i)
),
freq AS (
  SELECT h, COUNT(DISTINCT doc_id) AS n FROM lines GROUP BY h
),
fl AS (
  SELECT l.doc_id, l.pos, l.ln,
    (f.n >= 2 AND l.nlen > 0) AS dropped
  FROM lines l JOIN freq f USING (h)
)
SELECT doc_id,
  COALESCE(string_agg(CASE WHEN NOT dropped THEN ln END, chr(10)
                      ORDER BY pos), '') AS text,
  CAST(COUNT(*) AS BIGINT) AS n_lines,
  CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
FROM fl GROUP BY doc_id
"""


def q_pii_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII audit (URL/email/IPv4/phone regex hits). The
    synthetic corpus carries no PII, so the oracle verifies the
    cross-engine NO-FALSE-POSITIVE property of the shared Java/RE2
    pattern subset on every doc; positive semantics are pinned by
    unit fixtures (tests/test_r9_ops.py). NEW r10."""
    from openset_spark.pipeline.pii import pii_source_report

    return pii_source_report(_docs(spark, sf_dir))


def _pii_report_sql() -> str:
    from openset_spark.pipeline.pii import PII_PATTERNS

    hit = {k: f"len(regexp_extract_all(text, '{p}'))"
           for k, (p, _r) in PII_PATTERNS.items()}
    total = " + ".join(hit.values())
    per = ",\n  ".join(
        f"CAST(SUM({expr}) AS BIGINT) AS n_{k}" for k, expr in hit.items()
    )
    return f"""
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN ({total}) > 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS docs_with_pii,
  {per}
FROM documents GROUP BY source
"""


# Positive-path PII fixture (VERDICT r10 ask #6): the corpus oracle
# above can only prove no-false-positives (testdata is PII-free), so
# this inline frame carries synthetic emails/URLs/IPs/phones —
# including the overlap cases the scrub order exists for — and DuckDB
# replays both the counts AND the scrubbed rewrite cross-engine.
# ASCII only, no apostrophes (keeps the SQL literal trivial).
# HTML main-content fixture: nav menus and footers (pure links),
# cookie banner (short), real paragraphs, a link-heavy paragraph
# right at the density boundary, tag-free prose, nested inline tags
# inside an anchor, and a pure-markup doc (drops out entirely).
_HTML_FIXTURE = [
    (1, "<nav><a href=x>home</a> <a href=y>about</a> <a href=z>shop"
        "</a></nav><p>the quick brown fox jumps over the lazy dog"
        " tonight</p><p>a second real paragraph with enough words to"
        " keep</p><footer><a href=q>terms</a> <a href=w>privacy</a>"
        "</footer>"),
    (2, "<div>we use cookies</div><p>short</p><h1>actual heading"
        " text here</h1><p>body text continues with several more"
        " plain words</p>"),
    (3, "no markup at all just a plain prose document kept whole"),
    (4, "<p>see <a href=a>this <b>bold</b> link</a> plus four plain"
        " words</p><li>menu</li><li>items</li>"),
    (5, "<p><a href=x>one</a> <a href=y>two</a> three four</p>"
        "<p><a href=x>one two three</a> four five</p>"),
    (6, "<table><tr><td>cell</td><td>grid</td></tr></table>"
        "<p>after the table a real sentence of prose appears</p>"),
    (7, "<div><br><p></p></div>"),
]


def q_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jusText-style main-content extraction: block split on
    block-level tags, per-block token + anchor-token counts, keep
    blocks >= 3 tokens with link density <= 0.5 (integer permille),
    reassemble in document order. Inline HTML fixture carrying nav
    menus, cookie banners, link-density boundary cases and nested
    inline tags (the pii_positive precedent; VERDICT r12 ask #3).
    NEW r13."""
    from openset_spark.pipeline.cleaning import extract_main_content

    df = spark.createDataFrame(_HTML_FIXTURE, "doc_id long, text string")
    return extract_main_content(df)


def _main_content_sql(fixture=None) -> str:
    from openset_spark.pipeline.cleaning import (
        ANCHOR_SPAN_RE,
        BLOCK_TAG_RE,
        HTML_TAG_RE,
    )

    values = ",\n    ".join(
        f"({i}, '{t}')" for i, t in (fixture or _HTML_FIXTURE)
    )

    def strip(x: str) -> str:
        return (
            f"trim(regexp_replace(regexp_replace({x}, '{HTML_TAG_RE}',"
            f" ' ', 'g'), '\\s+', ' ', 'g'))"
        )

    return f"""
WITH docs AS (
  SELECT * FROM (VALUES
    {values}
  ) AS t(doc_id, text)
),
b AS (
  SELECT doc_id, i AS block_idx, arr[i] AS raw
  FROM (
    SELECT doc_id, regexp_split_to_array(text, '{BLOCK_TAG_RE}') AS arr
    FROM docs
  ), UNNEST(generate_series(1, len(arr))) AS s(i)
),
st AS (
  SELECT doc_id, block_idx,
    {strip("raw")} AS bt,
    {strip(
        "COALESCE(array_to_string(regexp_extract_all(raw, '"
        + ANCHOR_SPAN_RE
        + "', 1), ' '), '')"
    )} AS at
  FROM b
),
c AS (
  SELECT doc_id, block_idx, bt,
    CASE WHEN bt = '' THEN 0 ELSE len(string_split(bt, ' ')) END AS n_tokens,
    CASE WHEN at = '' THEN 0 ELSE len(string_split(at, ' ')) END AS anchor_tokens
  FROM st
),
k AS (
  SELECT doc_id, block_idx, bt,
    (n_tokens >= 3 AND anchor_tokens * 1000 <= 500 * n_tokens) AS kept
  FROM c WHERE n_tokens > 0
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_blocks,
  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  COALESCE(
    string_agg(CASE WHEN kept THEN bt END, ' ' ORDER BY block_idx),
    '') AS main_text
FROM k GROUP BY doc_id
"""


# Raw-crawl fixture for the FUSED front-end: HTML boilerplate AND
# encoding damage AND PII in the same documents — main-content
# extraction must run first (a mojibake inside a nav menu must NOT
# count), repair second, redaction last.
_CRAWL_FIXTURE = [
    (1, "<nav><a href=x>home</a> <a href=y>about</a></nav>"
        "<p>contact alice@example.org about the CafÃ© menu plans"
        "</p>"),
    (2, "<p>donâ€™t visit https://tracker.example.com/x right now"
        "</p><li>nav</li>"),
    (3, "plain prose with no markup mojibake or identifiers at all"),
    (4, "<p>call +1 415 555 0134 about the naÃ¯ve rÃ©sumÃ© file"
        "</p>"),
    (5, "<div><a href=q>terms CafÃ©</a> <a href=w>privacy</a></div>"),
    (6, "<div><br></div>"),
]


def q_preprocess_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FUSED crawl front-end: main-content extraction + encoding
    repair + PII redaction in one pass (one reassembly shuffle, both
    rewrites riding the same stage — compose.preprocess_crawl). The
    fixture plants boilerplate, mojibake and PII in the SAME docs so
    the oracle locks the stage ORDER: damage inside dropped menus
    never counts, addresses are redacted from the repaired text.
    NEW r13."""
    from openset_spark.pipeline.compose import preprocess_crawl

    df = spark.createDataFrame(_CRAWL_FIXTURE, "doc_id long, text string")
    return preprocess_crawl(df)


def _preprocess_crawl_sql() -> str:
    from openset_spark.pipeline.pii import PII_PATTERNS

    inner = _main_content_sql(_CRAWL_FIXTURE)
    ctes, last, prev = _mojibake_sql_stages(
        "mc2", ["n_blocks", "n_kept"]
    )
    from openset_spark.pipeline.cleaning import MOJIBAKE_CLASSES

    total = " + ".join(f"n_{n}" for n, _ in MOJIBAKE_CLASSES)
    scrub = prev
    for _k, (p, rep) in PII_PATTERNS.items():
        scrub = f"regexp_replace({scrub}, '{p}', '{rep}', 'g')"
    return f"""
WITH mc AS ({inner}),
mc2 AS (
  SELECT doc_id, n_blocks, n_kept, main_text AS t0 FROM mc
),
{ctes}
SELECT doc_id, n_blocks, n_kept,
  CAST({total} AS BIGINT) AS n_mojibake,
  {scrub} AS clean_text
FROM {last}
"""


# Encoding-damage fixture: single-encoded accents, CP1252 smart
# punctuation, a double-encoded apostrophe, NBSP artifacts, clean
# ASCII (no false positive), and a bare Ã that no map entry claims.
_MOJIBAKE_FIXTURE = [
    (1, "CafÃ© crÃ¨me and dÃ©jÃ vu"),
    (2, "donâ€™t say â€œmaybeâ€¦ or use â€” dashes"),
    (3, "itÃ¢â‚¬â„¢s a double-encoded apostrophe"),
    (4, "perfectly clean ascii text stays untouched"),
    (5, "priceÂ 100Â° with Â«guillemetsÂ»"),
    (6, "naÃ¯ve rÃ©sumÃ© from ZÃ¼rich"),
    (7, "a bare ÃŸ stays because no map entry claims it"),
]


def q_mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ftfy-style encoding repair: per-doc counts of UTF-8-read-as-
    CP1252 mojibake by class (double-encoded, punctuation, accents,
    spacing) plus the repaired rewrite — all literal replace/count
    arithmetic, no regex, so both engines agree by construction
    (VERDICT r12 ask #4). NEW r13."""
    from openset_spark.pipeline.cleaning import mojibake_repair

    df = spark.createDataFrame(
        _MOJIBAKE_FIXTURE, "doc_id long, text string"
    )
    return mojibake_repair(df)


def _mojibake_sql_stages(src: str, carry: list[str]) -> tuple[str, str, str]:
    """The progressive per-class repair as spliceable CTE fragments:
    (cte_sql, last_cte_name, last_text_col) reading from CTE ``src``
    which must expose (doc_id, carry..., t0). Generated from the
    same MOJIBAKE_CLASSES tables the operator compiles to, so code
    and oracle cannot drift; shared by the standalone oracle and the
    fused preprocess_crawl oracle."""
    from openset_spark.pipeline.cleaning import MOJIBAKE_CLASSES

    def q(s: str) -> str:
        return s.replace("'", "''")

    ctes, prev = [], "t0"
    names = [name for name, _ in MOJIBAKE_CLASSES]
    for step, (name, pairs) in enumerate(MOJIBAKE_CLASSES):
        cnt = " + ".join(
            f"(len({prev}) - len(replace({prev}, '{q(bad)}', '')))"
            f" // {len(bad)}"
            for bad, _good in pairs
        )
        rep = prev
        for bad, good in pairs:
            rep = f"replace({rep}, '{q(bad)}', '{q(good)}')"
        nxt = f"t{step + 1}"
        cols = ", ".join(carry + [f"n_{n}" for n in names[:step]])
        cols = (cols + ", ") if cols else ""
        ctes.append(
            f"s{step} AS (SELECT doc_id, {cols}"
            f"CAST({cnt} AS BIGINT) AS n_{name}, {rep} AS {nxt}"
            f" FROM {src if step == 0 else f's{step - 1}'})"
        )
        prev = nxt
    return ",\n".join(ctes), f"s{len(names) - 1}", prev


def _mojibake_repair_sql() -> str:
    from openset_spark.pipeline.cleaning import MOJIBAKE_CLASSES

    def q(s: str) -> str:
        return s.replace("'", "''")

    values = ",\n    ".join(
        f"({i}, '{q(t)}')" for i, t in _MOJIBAKE_FIXTURE
    )
    names = [name for name, _ in MOJIBAKE_CLASSES]
    ctes, last, prev = _mojibake_sql_stages("docs", [])
    total = " + ".join(f"n_{n}" for n in names)
    return f"""
WITH docs AS (
  SELECT doc_id, text AS t0 FROM (VALUES
    {values}
  ) AS t(doc_id, text)
),
{ctes}
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  {", ".join(f"n_{n}" for n in names)},
  CAST({total} AS BIGINT) AS n_mojibake,
  ({total}) > 0 AS flagged,
  {prev} AS repaired
FROM {last}
"""


_PII_FIXTURE = [
    (1, "contact alice.smith+labs@example.org for access"),
    (2, "mirror at https://user@10.0.0.1/path?tok=x then nothing"),
    (3, "hosts 192.168.0.1 and 8.8.8.8. done"),
    (4, "call +1 (415) 555-0134 or +44 20-7946-0958 today"),
    (5, "plain text with no identifiers at all"),
    (6, "a@b.io c@d.co and see http://example.com/a_b?q=1 now"),
    (7, "email inside url https://x.com/mail?to=e@f.gg stays a url"),
]


def q_pii_positive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positive PII semantics, cross-engine: per-doc typed counts on
    the raw text plus the scrubbed rewrite in the documented order
    (URL > email > IP > phone) over an inline fixture bearing real
    pattern hits and the overlap cases. NEW r11."""
    from openset_spark.pipeline.pii import pii_counts, scrub_pii

    df = spark.createDataFrame(_PII_FIXTURE, "doc_id long, text string")
    counts = pii_counts(df)
    scrubbed = scrub_pii(df).select(
        F.col("doc_id"), F.col("text").alias("scrubbed")
    )
    return counts.join(scrubbed, "doc_id")


def _pii_positive_sql() -> str:
    from openset_spark.pipeline.pii import PII_PATTERNS

    values = ",\n    ".join(
        f"({i}, '{t}')" for i, t in _PII_FIXTURE
    )
    hit = {k: f"len(regexp_extract_all(text, '{p}'))"
           for k, (p, _r) in PII_PATTERNS.items()}
    total = " + ".join(hit.values())
    per = ",\n  ".join(
        f"CAST({expr} AS BIGINT) AS n_{k}" for k, expr in hit.items()
    )
    scrub = "text"
    for _k, (p, rep) in PII_PATTERNS.items():
        scrub = f"regexp_replace({scrub}, '{p}', '{rep}', 'g')"
    return f"""
WITH docs AS (
  SELECT * FROM (VALUES
    {values}
  ) AS t(doc_id, text)
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  {per},
  CAST({total} AS BIGINT) AS n_pii,
  {scrub} AS scrubbed
FROM docs
"""


def q_mink_prob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-K% probability membership signal (Shi et al. 2023): mean
    of each doc's lowest 20% bigram log-probs under the same
    doc_id%5==0-shard Laplace LM lm_perplexity uses. Selection is an
    integer-exact windowed partial take over (logp, w1, w2)-ordered
    bigram types. NEW r10."""
    from openset_spark.pipeline.lm import mink_prob

    docs = _docs(spark, sf_dir)
    return mink_prob(
        docs.filter(F.col("doc_id") % 5 != 0),
        docs.filter(F.col("doc_id") % 5 == 0),
        k_pct=20,
    )


_SQL_MINK_PROB = f"""
WITH tr AS (SELECT {_TOKS_SQL} AS ts FROM documents WHERE doc_id % 5 = 0),
trb AS (
  SELECT ts[i] AS w1, ts[i + 1] AS w2, COUNT(*) AS c12
  FROM tr, UNNEST(generate_series(1, len(ts) - 1)) AS s(i)
  GROUP BY 1, 2
),
tru AS (
  SELECT w1, COUNT(*) AS c1
  FROM (SELECT unnest(ts) AS w1 FROM tr) GROUP BY 1
),
v AS (
  SELECT COUNT(DISTINCT w) AS v FROM (SELECT unnest(ts) AS w FROM tr)
),
db AS (
  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
  FROM (
    SELECT doc_id, {_TOKS_SQL} AS ts FROM documents WHERE doc_id % 5 <> 0
  ), UNNEST(generate_series(1, len(ts) - 1)) AS s(i)
),
ty AS (
  SELECT d.doc_id, d.w1, d.w2, COUNT(*) AS c,
    MAX(ln((COALESCE(b.c12, 0) + 1) / (COALESCE(u.c1, 0) + v.v))) AS logp
  FROM db d
  LEFT JOIN trb b ON d.w1 = b.w1 AND d.w2 = b.w2
  LEFT JOIN tru u ON d.w1 = u.w1, v
  GROUP BY 1, 2, 3
),
st AS (
  SELECT doc_id, logp, c,
    SUM(c) OVER (PARTITION BY doc_id) AS n,
    COALESCE(SUM(c) OVER (PARTITION BY doc_id ORDER BY logp, w1, w2
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM ty
),
tk AS (
  SELECT doc_id, logp, n,
    GREATEST(1, (n * 20 + 99) // 100) AS nlow,
    GREATEST(0, LEAST(c, GREATEST(1, (n * 20 + 99) // 100) - before))
      AS take
  FROM st
)
SELECT doc_id,
  CAST(MAX(n) AS BIGINT) AS n_bigrams,
  CAST(MAX(nlow) AS BIGINT) AS n_scored,
  ROUND(SUM(logp * take) / MAX(nlow), 4) AS mink_logp
FROM tk GROUP BY doc_id
"""


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two derived corpus versions: old =
    doc_id%7!=0 with an edit token appended on the %5==0 docs, new =
    doc_id%11!=0 — exercising all four statuses (added %7==0&%11!=0,
    removed %11==0&%7!=0, changed %5==0 survivors, unchanged rest)
    through one full-outer hash join. NEW r10."""
    from openset_spark.pipeline.compose import corpus_diff

    docs = _docs(spark, sf_dir)
    old = docs.filter(F.col("doc_id") % 7 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit(" archivednote")),
        ).otherwise(F.col("text")),
    )
    new = docs.filter(F.col("doc_id") % 11 != 0)
    return corpus_diff(old, new)


_SQL_CORPUS_DIFF = f"""
WITH old AS (
  SELECT doc_id,
    CASE WHEN doc_id % 5 = 0 THEN text || ' archivednote' ELSE text END
      AS text
  FROM documents WHERE doc_id % 7 <> 0
),
new AS (SELECT doc_id, text FROM documents WHERE doc_id % 11 <> 0),
oh AS (
  SELECT doc_id,
    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS old_hash
  FROM old
),
nh AS (
  SELECT doc_id,
    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS new_hash
  FROM new
)
SELECT COALESCE(oh.doc_id, nh.doc_id) AS doc_id,
  CASE WHEN old_hash IS NULL THEN 'added'
       WHEN new_hash IS NULL THEN 'removed'
       WHEN old_hash = new_hash THEN 'unchanged'
       ELSE 'changed' END AS status,
  old_hash, new_hash
FROM oh FULL OUTER JOIN nh ON oh.doc_id = nh.doc_id
"""


def q_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN (kdb aj / merge_asof / DuckDB ASOF): every
    non-purchase event picks the user's latest purchase at-or-before
    its timestamp — union + running-window carry (one shuffle, no
    range join), duplicate (user, ts) purchases resolved by
    max-of-struct = MAX(value). Oracle = DuckDB's NATIVE ASOF LEFT
    JOIN. NEW r10."""
    from openset_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    left = ev.filter(F.col("event_type") != "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    out = asof_join(left, right, values=("purchase_value",))
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        F.date_format("ts_asof", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "purchase_ts"
        ),
        F.col("purchase_value_asof").alias("purchase_value"),
    )


_SQL_ASOF_LAST_PURCHASE = """
WITH l AS (
  SELECT event_id, user_id, ts::TIMESTAMP AS ts
  FROM events WHERE event_type <> 'purchase'
),
r AS (
  SELECT user_id, ts::TIMESTAMP AS ts, MAX(value) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT l.event_id, l.user_id,
  strftime(l.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
  strftime(r.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
  r.purchase_value
FROM l ASOF LEFT JOIN r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def q_asof_nearest_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN, direction=nearest (merge_asof's third mode): every
    non-purchase event picks the user's purchase with the smallest
    absolute time gap, ties to the earlier one — still ONE shuffle
    (two running carries over the same key partitioning, integer-
    microsecond gap pick). Oracle = two native DuckDB ASOF joins +
    the same epoch_us CASE. NEW r11."""
    from openset_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    left = ev.filter(F.col("event_type") != "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    out = asof_join(
        left, right, values=("purchase_value",), direction="nearest"
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        F.date_format("ts_asof", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "purchase_ts"
        ),
        F.col("purchase_value_asof").alias("purchase_value"),
    )


_SQL_ASOF_NEAREST_PURCHASE = """
WITH l AS (
  SELECT event_id, user_id, ts::TIMESTAMP AS ts
  FROM events WHERE event_type <> 'purchase'
),
r AS (
  SELECT user_id, ts::TIMESTAMP AS ts, MAX(value) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
),
b AS (
  SELECT l.event_id, r.ts AS bts, r.purchase_value AS bv
  FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
),
f AS (
  SELECT l.event_id, r.ts AS fts, r.purchase_value AS fv
  FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts
)
SELECT l.event_id, l.user_id,
  strftime(l.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
  strftime(CASE WHEN b.bts IS NOT NULL AND (f.fts IS NULL OR
      epoch_us(l.ts) - epoch_us(b.bts) <= epoch_us(f.fts) - epoch_us(l.ts))
    THEN b.bts ELSE f.fts END, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
  CASE WHEN b.bts IS NOT NULL AND (f.fts IS NULL OR
      epoch_us(l.ts) - epoch_us(b.bts) <= epoch_us(f.fts) - epoch_us(l.ts))
    THEN b.bv ELSE f.fv END AS purchase_value
FROM l JOIN b USING (event_id) JOIN f USING (event_id)
"""


def q_overlapping_activity_windows(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INTERVAL x INTERVAL overlap join: each user's view spans
    ([ts, +30min)) x purchase attention windows ([ts-15min, +45min))
    that intersect — emitted exactly once per pair via the
    max-start-anchor-bucket trick (one hash join on (user, bucket),
    no distinct). Oracle = DuckDB's plain overlap-predicate join.
    NEW r11."""
    from openset_spark.operators.asof import interval_overlap_join

    ev = _events(spark, sf_dir)
    left = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end"),
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 15 MINUTES")).alias("valid_from"),
        (F.col("ts") + F.expr("INTERVAL 45 MINUTES")).alias("valid_to"),
    )
    out = interval_overlap_join(left, right, bucket_ms=1_800_000)
    return out.select("view_id", "purchase_id", "user_id")


_SQL_OVERLAPPING_ACTIVITY_WINDOWS = """
WITH l AS (
  SELECT event_id AS view_id, user_id,
    ts::TIMESTAMP AS s, ts::TIMESTAMP + INTERVAL 30 MINUTE AS e
  FROM events WHERE event_type = 'view'
),
r AS (
  SELECT event_id AS purchase_id, user_id,
    ts::TIMESTAMP - INTERVAL 15 MINUTE AS vf,
    ts::TIMESTAMP + INTERVAL 45 MINUTE AS vt
  FROM events WHERE event_type = 'purchase'
)
SELECT l.view_id, r.purchase_id, l.user_id
FROM l JOIN r ON l.user_id = r.user_id AND l.s < r.vt AND r.vf < l.e
"""


def q_events_in_purchase_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE/INTERVAL JOIN: non-purchase events x the 1-hour windows
    opened by the same user's purchases ([purchase_ts, +1h), exclusive
    end; overlapping windows each emit a row). Bucketized hash join —
    never a per-key nested loop. Oracle = DuckDB's plain inequality
    join. NEW r10."""
    from openset_spark.operators.asof import interval_join

    ev = _events(spark, sf_dir)
    left = ev.filter(F.col("event_type") != "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("valid_from"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("valid_to"),
    )
    out = interval_join(left, right, bucket_ms=3_600_000)
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "purchase_ts"
        ),
    )


_SQL_EVENTS_IN_PURCHASE_WINDOW = """
WITH l AS (
  SELECT event_id, user_id, ts::TIMESTAMP AS ts
  FROM events WHERE event_type <> 'purchase'
),
r AS (
  SELECT user_id, ts::TIMESTAMP AS valid_from,
    ts::TIMESTAMP + INTERVAL 1 HOUR AS valid_to
  FROM events WHERE event_type = 'purchase'
)
SELECT l.event_id, l.user_id,
  strftime(l.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
  strftime(r.valid_from, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts
FROM l JOIN r
  ON l.user_id = r.user_id
 AND r.valid_from <= l.ts AND l.ts < r.valid_to
"""


def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: counts + DECIMAL
    value sums per event_type at day AND hour granularity from ONE
    rollup shuffle (levels where the type dim is grouped away are
    filtered out). Buckets emitted as formatted strings. NEW r10."""
    from openset_spark.operators.events import time_rollup

    ev = _events(spark, sf_dir).withColumn("value", _dec("value", 12, 2))
    out = time_rollup(
        ev,
        granularities=("day", "hour"),
        aggs=[("sum", "value", "sum_value")],
    )
    fmt = "yyyy-MM-dd HH:mm:ss"
    return out.select(
        "granularity",
        "event_type",
        F.date_format("bucket_day", fmt).alias("bucket_day"),
        F.date_format("bucket_hour", fmt).alias("bucket_hour"),
        "n",
        F.col("sum_value").cast("double").alias("sum_value"),
    )


_SQL_TIME_ROLLUP = """
WITH base AS (
  SELECT event_type, date_trunc('day', ts::TIMESTAMP) AS bd,
    date_trunc('hour', ts::TIMESTAMP) AS bh,
    CAST(value AS DECIMAL(12,2)) AS value
  FROM events
),
r AS (
  SELECT event_type, bd, bh, COUNT(*) AS n,
    CAST(SUM(value) AS DOUBLE) AS sum_value,
    GROUPING(bd) AS g_bd, GROUPING(bh) AS g_bh
  FROM base GROUP BY event_type, ROLLUP(bd, bh)
)
SELECT CASE WHEN g_bh = 1 THEN 'day' ELSE 'hour' END AS granularity,
  event_type,
  strftime(bd, '%Y-%m-%d %H:%M:%S') AS bucket_day,
  strftime(bh, '%Y-%m-%d %H:%M:%S') AS bucket_hour,
  CAST(n AS BIGINT) AS n, sum_value
FROM r WHERE g_bd = 0
"""


# --------------------------------------------------------------------
# r14 ops: URL curation suite + filter-ensemble agreement
# --------------------------------------------------------------------
# Inline URL fixture (the pii_positive precedent — testdata has no
# URL column): covers case folding, default/non-default ports,
# userinfo, trailing-dot hosts, tracking params, param reordering,
# fragments, multi-part TLDs, single-label hosts, and an
# unparseable row. Docs 1/9 and 6/12 canonize identically (the
# dedup pairs).
_URL_FIXTURE = [
    (1, "HTTP://Example.COM:80/a/b?utm_source=x&b=2&a=1#frag", 5),
    (2, "https://user:pw@www.Example.co.uk./path", 7),
    (3, "https://example.com:8443", 4),
    (4, "ftp://files.example.org:21/pub/data.csv", 2),
    (5, "https://example.com/a?fbclid=abc#sec", 9),
    (6, "https://example.com/a?b=2&a=1", 3),
    (7, "https://a.b.github.io/repo?z=1&y=2", 8),
    (8, "not a url", 1),
    (9, "http://example.com/a/b?a=1&b=2&utm_campaign=spring", 6),
    (10, "http://localhost:9000/health", 2),
    (11, "https://shop.example.co.uk/item?id=42&ref=tw", 4),
    (12, "HTTPS://EXAMPLE.COM/a?b=2&a=1", 11),
]


def _url_frame(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        _URL_FIXTURE, "doc_id long, url string, score long"
    )


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (pipeline/urls.py::parse_urls): parsed
    components + the normalized spelling — the crawl-curation front
    end that runs before URL-level dedup. NEW r14."""
    from openset_spark.pipeline.urls import parse_urls

    return parse_urls(_url_frame(spark)).select(
        "doc_id", "scheme", "host", "port", "path", "query_norm",
        "registered_domain", "norm_url",
    )


def q_url_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup: one keeper per canonical URL (highest score,
    ties to lowest id); unparseable rows all kept by contract.
    NEW r14."""
    from openset_spark.pipeline.urls import url_dedup_keep

    return url_dedup_keep(_url_frame(spark), score_col="score").select(
        "doc_id", "norm_url", "keep"
    )


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registered-domain doc/host/URL counts + exact integer-ppm
    corpus share — the domain-concentration report. NEW r14."""
    from openset_spark.pipeline.urls import domain_stats

    return domain_stats(_url_frame(spark))


def _url_parse_sql(src: str, keep: str, pfx: str = "p") -> str:
    """DuckDB replay of parse_urls as a CTE chain parsing column
    ``url`` of relation ``src`` (``keep`` columns carried through;
    ``pfx`` namespaces the CTEs so two instantiations — e.g. source
    URLs and extracted hrefs — can ride one WITH). Generated from
    the SAME URL_RE / TRACKING_PARAM_RE / DEFAULT_PORTS /
    MULTI_PART_TLDS tables the operator compiles to (the mojibake
    oracle-from-tables precedent — code and oracle cannot drift)."""
    from openset_spark.pipeline.urls import (
        DEFAULT_PORTS,
        MULTI_PART_TLDS,
        TRACKING_PARAM_RE,
        URL_RE,
    )

    dflt = " ".join(
        f"WHEN '{s}' THEN {p}" for s, p in DEFAULT_PORTS.items()
    )
    tlds = ", ".join(f"'{t}'" for t in MULTI_PART_TLDS)
    return f"""
{pfx}0 AS (
  SELECT {keep},
    regexp_extract(url, '{URL_RE}', 1) AS scheme_raw,
    regexp_extract(url, '{URL_RE}', 2) AS auth,
    regexp_extract(url, '{URL_RE}', 3) AS path_raw,
    regexp_extract(url, '{URL_RE}', 4) AS qs
  FROM {src}),
{pfx}1 AS (
  SELECT *, lower(scheme_raw) AS scheme,
    regexp_replace(auth, '^[^@]*@', '') AS hostport
  FROM {pfx}0),
{pfx}2 AS (
  SELECT *,
    regexp_replace(
      lower(regexp_replace(hostport, ':[0-9]+$', '')), '\\.$', ''
    ) AS host,
    regexp_extract(hostport, ':([0-9]+)$', 1) AS port_s
  FROM {pfx}1),
{pfx}3 AS (
  SELECT *,
    CASE WHEN port_s <> '' THEN CAST(port_s AS BIGINT) END AS port0,
    CASE scheme {dflt} ELSE -1 END AS dflt_port,
    CASE WHEN path_raw = '' THEN '/' ELSE path_raw END AS path,
    COALESCE(array_to_string(list_sort(list_filter(
      string_split(COALESCE(qs, ''), '&'),
      x -> x <> '' AND NOT regexp_matches(x, '{TRACKING_PARAM_RE}')
    )), '&'), '') AS query_norm,
    string_split(host, '.') AS labels
  FROM {pfx}2),
{pfx}4 AS (
  SELECT *,
    CASE WHEN port0 IS NOT NULL AND port0 <> dflt_port
         THEN port0 END AS port,
    CASE WHEN len(labels) <= 1 THEN host
         WHEN len(labels) >= 3
              AND (labels[-2] || '.' || labels[-1]) IN ({tlds})
         THEN labels[-3] || '.' || labels[-2] || '.' || labels[-1]
         ELSE labels[-2] || '.' || labels[-1] END AS registered_domain
  FROM {pfx}3),
{pfx} AS (
  SELECT {keep},
    CASE WHEN scheme_raw <> '' THEN scheme END AS scheme,
    CASE WHEN scheme_raw <> '' THEN host END AS host,
    CASE WHEN scheme_raw <> '' THEN port END AS port,
    CASE WHEN scheme_raw <> '' THEN path END AS path,
    CASE WHEN scheme_raw <> '' THEN query_norm END AS query_norm,
    CASE WHEN scheme_raw <> '' THEN registered_domain
         END AS registered_domain,
    CASE WHEN scheme_raw <> '' THEN
      scheme || '://' || host ||
      CASE WHEN port IS NOT NULL
           THEN ':' || CAST(port AS VARCHAR) ELSE '' END ||
      path ||
      CASE WHEN query_norm <> '' THEN '?' || query_norm ELSE '' END
    END AS norm_url
  FROM {pfx}4)
"""


def _url_fixture_cte() -> str:
    values = ",\n    ".join(
        f"({i}, '{u}', {s})" for i, u, s in _URL_FIXTURE
    )
    return f"""raw AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, url,
    CAST(score AS BIGINT) AS score
  FROM (VALUES
    {values}
  ) AS t(doc_id, url, score)),
{_url_parse_sql("raw", "doc_id, score").strip()}"""


def _url_normalize_sql() -> str:
    return f"""
WITH {_url_fixture_cte()}
SELECT doc_id, scheme, host, port, path, query_norm,
  registered_domain, norm_url
FROM p
"""


def _url_dedup_keep_sql() -> str:
    return f"""
WITH {_url_fixture_cte()},
r AS (
  SELECT doc_id, norm_url,
    row_number() OVER (
      PARTITION BY norm_url ORDER BY score DESC NULLS LAST, doc_id ASC
    ) AS rn
  FROM p)
SELECT doc_id, norm_url, (norm_url IS NULL OR rn = 1) AS keep FROM r
"""


def _domain_stats_sql() -> str:
    return f"""
WITH {_url_fixture_cte()},
v AS (SELECT * FROM p WHERE norm_url IS NOT NULL),
per AS (
  SELECT registered_domain, COUNT(*) AS n_docs,
    COUNT(DISTINCT host) AS n_hosts,
    COUNT(DISTINCT norm_url) AS n_urls
  FROM v GROUP BY 1),
t AS (SELECT SUM(n_docs) AS total FROM per)
SELECT registered_domain, CAST(n_docs AS BIGINT) AS n_docs,
  CAST(n_hosts AS BIGINT) AS n_hosts,
  CAST(n_urls AS BIGINT) AS n_urls,
  CAST(n_docs * 1000000 // total AS BIGINT) AS share_ppm
FROM per, t
"""


def q_filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise agreement + integer-exact Cohen's kappa across the
    cheap quality-filter ensemble (gopher keep / NOT repetition
    flagged / char entropy >= 2.0) — the filter-redundancy
    governance table. pipeline/corpus_stats.py::filter_agreement.
    NEW r14."""
    from openset_spark.pipeline.corpus_stats import filter_agreement

    return filter_agreement(_docs(spark, sf_dir))


def _filter_agreement_sql() -> str:
    """Splices the three EXISTING filter oracles as CTEs (the
    preprocess_crawl precedent) and replays the agreement/kappa
    integer arithmetic: pe products in HUGEINT, the signed kappa div
    routed as sign * (abs // den) so DuckDB's flooring `//` matches
    Spark's truncating `div` on worse-than-chance pairs."""
    pair_sql = []
    for a, b in [
        ("entropy", "gopher"),
        ("entropy", "repetition"),
        ("gopher", "repetition"),
    ]:
        pair_sql.append(f"""
  SELECT '{a}' AS filter_a, '{b}' AS filter_b, n,
    bk_{a}_{b} AS n_both_keep, bd_{a}_{b} AS n_both_drop,
    k_{a} AS ka, k_{b} AS kb
  FROM one""")
    pairs = "\n  UNION ALL".join(pair_sql)
    return f"""
WITH g AS (SELECT doc_id, keep FROM ({_SQL_GOPHER_QUALITY}) t),
r AS (SELECT doc_id, NOT flagged AS k
      FROM ({_SQL_REPETITION_SIGNALS}) t),
e AS (SELECT doc_id, entropy_bits >= 2.0 AS k
      FROM ({_SQL_CHAR_ENTROPY}) t),
f AS (
  SELECT g.doc_id, e.k AS k_entropy, g.keep AS k_gopher,
    r.k AS k_repetition
  FROM g JOIN r ON g.doc_id = r.doc_id
  JOIN e ON g.doc_id = e.doc_id),
one AS (
  SELECT COUNT(*) AS n,
    SUM(CASE WHEN k_entropy THEN 1 ELSE 0 END) AS k_entropy,
    SUM(CASE WHEN k_gopher THEN 1 ELSE 0 END) AS k_gopher,
    SUM(CASE WHEN k_repetition THEN 1 ELSE 0 END) AS k_repetition,
    SUM(CASE WHEN k_entropy AND k_gopher THEN 1 ELSE 0 END)
      AS bk_entropy_gopher,
    SUM(CASE WHEN NOT k_entropy AND NOT k_gopher THEN 1 ELSE 0 END)
      AS bd_entropy_gopher,
    SUM(CASE WHEN k_entropy AND k_repetition THEN 1 ELSE 0 END)
      AS bk_entropy_repetition,
    SUM(CASE WHEN NOT k_entropy AND NOT k_repetition
        THEN 1 ELSE 0 END) AS bd_entropy_repetition,
    SUM(CASE WHEN k_gopher AND k_repetition THEN 1 ELSE 0 END)
      AS bk_gopher_repetition,
    SUM(CASE WHEN NOT k_gopher AND NOT k_repetition
        THEN 1 ELSE 0 END) AS bd_gopher_repetition
  FROM f),
long AS ({pairs}),
m AS (
  SELECT *,
    (n_both_keep + n_both_drop) * 1000000 // n AS po_ppm,
    CAST((CAST(ka AS HUGEINT) * kb
          + CAST(n - ka AS HUGEINT) * (n - kb)) * 1000000
         // (CAST(n AS HUGEINT) * n) AS BIGINT) AS pe_ppm
  FROM long)
SELECT filter_a, filter_b, CAST(n AS BIGINT) AS n_docs,
  CAST(n_both_keep AS BIGINT) AS n_both_keep,
  CAST(n_both_drop AS BIGINT) AS n_both_drop,
  CAST(po_ppm AS BIGINT) AS agree_ppm,
  CAST(CASE WHEN pe_ppm < 1000000 THEN
    CASE WHEN po_ppm >= pe_ppm
      THEN (po_ppm - pe_ppm) * 1000000 // (1000000 - pe_ppm)
      ELSE -((pe_ppm - po_ppm) * 1000000 // (1000000 - pe_ppm))
    END END AS BIGINT) AS kappa_ppm
FROM m
"""


# Inline link fixture: absolute links across domains (both quote
# styles, uppercase attr, tracking params, fragments), a relative
# href (dropped by contract), a linkless doc, and a duplicate-target
# anchor pair that canonizes to distinct norm_urls but one domain.
_LINK_FIXTURE = [
    (
        1,
        "https://blog.example.com/post",
        '<a href="https://example.com/a">x</a>'
        " <a href='https://news.site.org/b?utm_source=f'>y</a>"
        ' <a href="/rel">rel</a>',
    ),
    (
        2,
        "https://news.site.org/index",
        '<A HREF="https://blog.example.com/post#sec">back</A>',
    ),
    (3, "https://example.com/", "no links here"),
    (
        4,
        "https://shop.example.co.uk/",
        '<a href="https://example.com/a">1</a>'
        '<a href="https://example.com/b">2</a>'
        '<a href="https://EXAMPLE.com/a">dup</a>',
    ),
    # orphan.net is linked to but crawls no outlinks — the DANGLING
    # node domain_pagerank's mass-redistribution term exists for
    (
        5,
        "https://news.site.org/two",
        '<a href="https://orphan.net/x">o</a>',
    ),
]


def q_domain_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-domain adjacency of the crawl link graph (href
    extraction -> canonical parse -> one (src, dst) aggregate; zero
    joins — src_domain rides the explode).
    pipeline/urls.py::domain_links. NEW r14."""
    from openset_spark.pipeline.urls import domain_links

    df = spark.createDataFrame(
        _LINK_FIXTURE, "doc_id long, url string, text string"
    )
    return domain_links(df)


def _domain_links_sql() -> str:
    from openset_spark.pipeline.urls import HREF_DQ_RE, HREF_SQ_RE

    sq = lambda s: s.replace("'", "''")  # noqa: E731
    values = ",\n    ".join(
        f"({i}, '{sq(u)}', '{sq(t)}')" for i, u, t in _LINK_FIXTURE
    )
    return f"""
WITH raw AS (SELECT * FROM (VALUES
    {values}
  ) AS t(doc_id, url, text)),
{_url_parse_sql("raw", "doc_id, text", "sp").strip()},
src AS (
  SELECT registered_domain AS src_domain, doc_id, text
  FROM sp WHERE registered_domain IS NOT NULL),
ex AS (
  SELECT src_domain, doc_id, u AS url
  FROM src, UNNEST(list_concat(
    regexp_extract_all(text, '{sq(HREF_DQ_RE)}', 1),
    regexp_extract_all(text, '{sq(HREF_SQ_RE)}', 1))) AS t(u)),
{_url_parse_sql("ex", "src_domain, doc_id", "dp").strip()}
SELECT src_domain, registered_domain AS dst_domain,
  CAST(COUNT(*) AS BIGINT) AS n_links,
  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_src_docs
FROM dp WHERE registered_domain IS NOT NULL
GROUP BY src_domain, registered_domain
"""


def q_domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted directed PageRank over the domain link graph with
    dangling-mass redistribution (orphan.net in the fixture is a
    linked-to domain with no outlinks) — the domain-authority
    ranking. pipeline/urls.py::domain_pagerank. NEW r14."""
    from openset_spark.pipeline.urls import domain_links, domain_pagerank

    df = spark.createDataFrame(
        _LINK_FIXTURE, "doc_id long, url string, text string"
    )
    return domain_pagerank(domain_links(df), iters=5, k=10)


def _domain_pagerank_sql(iters: int = 5, damping: float = 0.85) -> str:
    """Replays the power iteration UNROLLED (the dup_pagerank oracle
    shape) on top of the generated domain_links CTEs. Every float
    step mirrors the operator's exact IEEE order — t + d*(s + dm/n),
    contributions as pr * n_links / w — with literals CAST to
    DOUBLE so DuckDB's decimal literals cannot sneak exact-decimal
    arithmetic in; only the FINAL score rounds (6)."""
    el = _domain_links_sql().strip()
    assert el.startswith("WITH ")
    d = f"CAST({damping} AS DOUBLE)"
    its = []
    for i in range(1, iters + 1):
        p = f"pr{i - 1}"
        its.append(f""",
dg{i} AS (
  SELECT COALESCE(SUM(pr), CAST(0 AS DOUBLE)) AS dm FROM {p}
  WHERE d NOT IN (SELECT src_domain FROM outw)),
c{i} AS (
  SELECT e.dst_domain AS d, SUM(p.pr * e.n_links / o.w) AS s
  FROM el e JOIN outw o ON e.src_domain = o.src_domain
  JOIN {p} p ON e.src_domain = p.d
  GROUP BY e.dst_domain),
pr{i} AS (
  SELECT n.d,
    (CAST(1 AS DOUBLE) - {d}) / nn.n
    + {d} * (COALESCE(c.s, CAST(0 AS DOUBLE)) + dg{i}.dm / nn.n) AS pr
  FROM nodes n LEFT JOIN c{i} c ON n.d = c.d, nn, dg{i})""")
    head = el.rsplit("SELECT src_domain", 1)[0].rstrip()
    assert head.endswith(")"), head[-40:]
    return f"""{head},
el AS (
  SELECT src_domain, registered_domain AS dst_domain,
    COUNT(*) AS n_links
  FROM dp WHERE registered_domain IS NOT NULL
  GROUP BY src_domain, registered_domain),
nodes AS (
  SELECT DISTINCT d FROM (
    SELECT src_domain AS d FROM el
    UNION ALL SELECT dst_domain FROM el)),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
outw AS (SELECT src_domain, SUM(n_links) AS w FROM el GROUP BY 1),
pr0 AS (SELECT d, CAST(1 AS DOUBLE) / nn.n AS pr FROM nodes, nn){"".join(its)}
SELECT d AS domain, ROUND(pr, 6) AS pr,
  CAST(ROW_NUMBER() OVER (ORDER BY ROUND(pr, 6) DESC, d)
       AS BIGINT) AS rank
FROM pr{iters}
QUALIFY rank <= 10
"""


# Markdown fixture: fence swallowing a fake heading and link, image
# before link on one line, emphasis/bold/underscore, blockquote,
# hrule, inline HTML, an unterminated fence, and a no-markdown doc.
_MD_FIXTURE = [
    (
        1,
        "# Title\n\nSome *bold* text with a [link](https://e.com/a) "
        "and ![img](pic.png).\n\n```\ncode # not a heading\n"
        "[not a link](x)\n```\n\n> quote\n\n---\n\n"
        "snake_case stays __strong__ <br> end",
    ),
    (2, "plain text no markdown"),
    (3, "``` unterminated fence\n# heading inside"),
    (
        4,
        "## Two ## headings\n### three\n"
        "`inline # code` *em* **bold** ***both***",
    ),
]


def q_markdown_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown -> plain text with sequential rule counts (code
    fences first, images before links — the ordered MD_RULES
    contract). pipeline/cleaning.py::markdown_strip. NEW r14."""
    from openset_spark.pipeline.cleaning import markdown_strip

    df = spark.createDataFrame(_MD_FIXTURE, "doc_id long, text string")
    return markdown_strip(df)


def _markdown_strip_sql() -> str:
    """Generated from the SAME ordered MD_RULES table the operator
    compiles to (the mojibake precedent): one CTE per rule stage so
    sequential counts bind the right intermediate text; Java's $n
    replacement form rewritten to RE2's \\n and DuckDB's explicit
    'g' flag added (Spark replaces globally by default)."""
    from openset_spark.pipeline.cleaning import MD_RULES

    sq = lambda x: x.replace("'", "''")  # noqa: E731
    values = ",\n    ".join(
        f"({i}, '{sq(t)}')" for i, t in _MD_FIXTURE
    )
    ctes = [
        f"""docs AS (SELECT * FROM (VALUES
    {values}
  ) AS t(doc_id, text))""",
        "s0 AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,"
        " text AS t FROM docs)",
    ]
    carried = []
    prev = "s0"
    for i, (name, pat, repl, counted) in enumerate(MD_RULES, 1):
        repl_re2 = repl.replace("$", "\\")
        cols = ["doc_id"] + carried[:]
        if counted:
            cols.append(
                f"CAST(len(regexp_extract_all(t, '{sq(pat)}'))"
                f" AS BIGINT) AS n_{name}"
            )
            carried.append(f"n_{name}")
        cols.append(
            f"regexp_replace(t, '{sq(pat)}', '{sq(repl_re2)}', 'g') AS t"
        )
        ctes.append(f"s{i} AS (SELECT {', '.join(cols)} FROM {prev})")
        prev = f"s{i}"
    counts = ", ".join(carried)
    joined = ",\n".join(ctes)
    return f"""
WITH {joined}
SELECT doc_id, {counts}, TRIM(t) AS plain FROM {prev}
"""


def q_embedding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding sanity audit (null/NaN/dim/zero-vector
    counts, integer-exact) — the ingest gate before any ANN index
    build. pipeline/similarity.py::embedding_health. NEW r14."""
    from openset_spark.pipeline.similarity import embedding_health

    return embedding_health(_embs(spark, sf_dir))


# mode dim derived the same way the operator derives it (most
# frequent non-null size, ties to the smallest); counts-only so the
# clean corpus makes this the cross-engine no-false-positive check
# (positive semantics pinned in tests/test_r14_ops.py)
_SQL_EMBEDDING_HEALTH = """
WITH dims AS (
  SELECT len(embedding) AS d, COUNT(*) AS c FROM embeddings
  WHERE embedding IS NOT NULL GROUP BY 1
),
ed AS (SELECT d FROM dims ORDER BY c DESC, d ASC LIMIT 1),
m AS (
  SELECT label, embedding AS emb,
    embedding IS NULL AS is_null,
    embedding IS NOT NULL AND len(embedding) <> ed.d AS wrong_dim,
    COALESCE(len(list_filter(embedding, x -> isnan(x))) > 0,
             FALSE) AS has_nan,
    COALESCE(len(list_filter(embedding, x -> x IS NULL)) > 0,
             FALSE) AS has_null_elem
  FROM embeddings, ed
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
  CAST(SUM(CASE WHEN is_null THEN 1 ELSE 0 END) AS BIGINT)
    AS n_null_vec,
  CAST(SUM(CASE WHEN wrong_dim THEN 1 ELSE 0 END) AS BIGINT)
    AS n_wrong_dim,
  CAST(SUM(CASE WHEN has_nan THEN 1 ELSE 0 END) AS BIGINT)
    AS n_with_nan,
  CAST(SUM(CASE WHEN has_null_elem THEN 1 ELSE 0 END) AS BIGINT)
    AS n_with_null_elem,
  CAST(SUM(CASE WHEN NOT is_null AND NOT has_nan
      AND NOT has_null_elem
      AND len(list_filter(emb, x -> NOT (x = 0))) = 0
    THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_vec
FROM m
GROUP BY label
"""


# robots.txt fixture: comments, CRLF, an empty Disallow (dropped), a
# multi-UA block (ignored for '*'), and a host whose ONLY group is
# agent-specific (no '*' group -> no rules -> everything allowed).
_ROBOTS_FIXTURE = [
    (
        "example.com",
        "# global rules\n"
        "User-agent: *\n"
        "Disallow: /private/\r\n"
        "Allow: /private/ok\n"
        "Disallow:\n"
        "\n"
        "User-agent: googlebot\n"
        "User-agent: bingbot\n"
        "Disallow: /\n"
        "\n"
        "User-agent: other\n"
        "Disallow: /other/  # trailing comment\n",
    ),
    (
        "bots-only.net",
        "User-agent: googlebot\nDisallow: /\n",
    ),
    # RFC 9309 wildcard rules: '*' spans, trailing '$' anchors, and
    # a 7-vs-7 pattern-length tie (/*.pdf$ vs /docs/*) that must go
    # to Allow
    (
        "wild.example",
        "User-agent: *\n"
        "Disallow: /*.pdf$\n"
        "Allow: /docs/*\n"
        "Disallow: /docs/private*\n",
    ),
]

_ROBOTS_URLS = [
    (1, "https://example.com/public/x"),
    (2, "https://example.com/private/secret"),
    (3, "https://example.com/private/ok/page"),
    (4, "https://example.com/other/y"),
    (5, "https://bots-only.net/anything"),
    (6, "https://no-robots.org/z"),
    (7, "not a url"),
    (8, "https://wild.example/docs/pub/x.html"),
    (9, "https://wild.example/file.pdf"),
    (10, "https://wild.example/file.pdf.html"),
    (11, "https://wild.example/docs/private/f"),
    (12, "https://wild.example/docs/guide.pdf"),
]


def _robots_frames(spark: SparkSession):
    rb = spark.createDataFrame(
        _ROBOTS_FIXTURE, "host string, text string"
    )
    urls = spark.createDataFrame(_ROBOTS_URLS, "doc_id long, url string")
    return rb, urls


def q_robots_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt -> (host, allow, path) rules for agent '*' — the
    windowed section parse (UA runs open blocks, rules bind to the
    most recent block, RFC 9309 most-specific-group).
    pipeline/urls.py::parse_robots. NEW r14."""
    from openset_spark.pipeline.urls import parse_robots

    rb, _ = _robots_frames(spark)
    return parse_robots(rb)


def q_robots_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-URL crawl verdict under the parsed '*' rules —
    longest-match-wins, ties to Allow, no-rule hosts allowed.
    pipeline/urls.py::robots_filter. NEW r14."""
    from openset_spark.pipeline.urls import parse_robots, robots_filter

    rb, urls = _robots_frames(spark)
    return robots_filter(urls, parse_robots(rb))


def _robots_rules_cte() -> str:
    """The DuckDB replay of parse_robots for agent '*': line explode
    (generate_series, the char_entropy shape), the same three
    host-keyed windows (lag run-starts, running block sum, running
    last-ignore-nulls rule binding), and the star-group selection
    (for '*' the most-specific-group rule degenerates to the star
    blocks themselves)."""
    sq = lambda x: x.replace("'", "''")  # noqa: E731
    values = ",\n    ".join(
        f"('{h}', '{sq(t)}')" for h, t in _ROBOTS_FIXTURE
    )
    return f"""
rb AS (SELECT * FROM (VALUES
    {values}
  ) AS t(host, text)),
rl0 AS (SELECT host, string_split(text, chr(10)) AS ls FROM rb),
rl AS (
  SELECT host, i - 1 AS idx,
    trim(regexp_replace(regexp_replace(ls[i], '#.*$', ''),
                        '\\r', '', 'g')) AS line
  FROM rl0, UNNEST(generate_series(1, len(ls))) AS s(i)),
rt AS (
  SELECT host, idx,
    lower(trim(regexp_extract(line, '^([^:]+):', 1))) AS key,
    trim(regexp_extract(line, '^[^:]+:(.*)$', 1)) AS val
  FROM rl
  WHERE lower(trim(regexp_extract(line, '^([^:]+):', 1)))
    IN ('user-agent', 'allow', 'disallow')),
r2 AS (SELECT *, key = 'user-agent' AS is_ua FROM rt),
r3 AS (
  SELECT *, is_ua AND NOT COALESCE(
    lag(is_ua) OVER (PARTITION BY host ORDER BY idx), FALSE
  ) AS run_start FROM r2),
r4 AS (
  SELECT *, SUM(CASE WHEN run_start THEN 1 ELSE 0 END)
    OVER (PARTITION BY host ORDER BY idx) AS blk FROM r3),
r5 AS (
  SELECT *, last_value(CASE WHEN is_ua THEN blk END IGNORE NULLS)
    OVER (PARTITION BY host ORDER BY idx) AS rule_blk FROM r4),
rwanted AS (
  SELECT DISTINCT host, blk AS b FROM r5
  WHERE is_ua AND lower(val) = '*'),
rules AS (
  SELECT r5.host, key = 'allow' AS allow, val AS path
  FROM r5 JOIN rwanted
    ON r5.host = rwanted.host AND r5.rule_blk = rwanted.b
  WHERE NOT is_ua AND val <> '')"""


def _robots_rules_sql() -> str:
    return f"""
WITH {_robots_rules_cte()}
SELECT host, allow, path FROM rules
"""


def _robots_verdicts_sql() -> str:
    from openset_spark.pipeline.urls import ROBOTS_RX_ESCAPE

    sq = lambda x: x.replace("'", "''")  # noqa: E731
    # the wildcard translation chain, generated from the operator's
    # OWN escape table (literal replace(), no regex-in-regex)
    rxchain = (
        "CASE WHEN ends_with(path, '$') "
        "THEN substring(path, 1, length(path) - 1) ELSE path END"
    )
    for ch in ROBOTS_RX_ESCAPE:
        rxchain = f"replace({rxchain}, '{ch}', '\\{ch}')"
    rxchain = f"replace({rxchain}, '*', '.*')"
    values = ",\n    ".join(
        f"({i}, '{sq(u)}')" for i, u in _ROBOTS_URLS
    )
    return f"""
WITH {_robots_rules_cte()},
uraw AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, url FROM (VALUES
    {values}
  ) AS t(doc_id, url)),
{_url_parse_sql("uraw", "doc_id, url", "up").strip()},
uv AS (SELECT * FROM up WHERE norm_url IS NOT NULL),
rules2 AS (
  SELECT host, allow, path,
    (contains(path, '*') OR ends_with(path, '$')) AS wild,
    '^' || {rxchain} ||
    CASE WHEN ends_with(path, '$') THEN '$' ELSE '' END AS rx
  FROM rules),
j AS (
  SELECT uv.*, r.allow AS r_allow, r.path AS r_path,
    COALESCE(r.path IS NOT NULL AND CASE WHEN r.wild
             THEN regexp_matches(uv.path, r.rx)
             ELSE starts_with(uv.path, r.path) END, FALSE) AS hit
  FROM uv LEFT JOIN rules2 r ON uv.host = r.host),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id
    ORDER BY hit DESC, length(r_path) DESC, r_allow DESC
  ) AS rn FROM j)
SELECT doc_id, url, scheme, host, port, path, query_norm,
  registered_domain, norm_url,
  CASE WHEN hit THEN r_allow ELSE TRUE END AS crawl_allowed
FROM ranked WHERE rn = 1
"""


def q_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Unicode script histogram + dominant script over the
    documents corpus (char-class counts via the length-difference
    trick — integer-exact, zero exchanges).
    pipeline/textstats.py::script_profile. NEW r14."""
    from openset_spark.pipeline.textstats import script_profile

    return script_profile(_docs(spark, sf_dir))


def _script_profile_sql() -> str:
    """Generated from the SAME SCRIPT_CLASSES literal ranges and the
    shared explicit whitespace class (Java \\s includes VT, RE2's
    does not)."""
    from openset_spark.pipeline.textstats import (
        SCRIPT_CLASSES,
        SCRIPT_WHITESPACE,
    )

    count_cols = []
    ctes = [
        "t0 AS (SELECT doc_id, regexp_replace(text, "
        f"'[{SCRIPT_WHITESPACE}]', '', 'g') AS t FROM documents)",
        "t1 AS (SELECT doc_id, t, length(t) AS n_chars FROM t0)",
    ]
    prev = "t1"
    for i, (name, cls) in enumerate(SCRIPT_CLASSES, 2):
        ctes.append(
            f"t{i} AS (SELECT *, CAST(n_chars - length("
            f"regexp_replace(t, '[{cls}]', '', 'g')) AS BIGINT)"
            f" AS n_{name} FROM {prev})"
        )
        prev = f"t{i}"
        count_cols.append(f"n_{name}")
    total = " + ".join(count_cols)
    sel = ", ".join(count_cols)
    cases = " ".join(
        f"WHEN n_{name} = best THEN '{name}'"
        for name, _ in SCRIPT_CLASSES
    )
    joined = ",\n".join(ctes)
    return f"""
WITH {joined},
m AS (
  SELECT *, CAST(n_chars - ({total}) AS BIGINT) AS n_other,
    greatest({sel}, CAST(n_chars - ({total}) AS BIGINT)) AS best
  FROM {prev})
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, {sel}, n_other,
  CASE WHEN n_chars = 0 THEN 'none' {cases}
       ELSE 'other' END AS main_script
FROM m
"""


def q_sentence_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-aligned retrieval chunks over the documents corpus
    (budget 32, the shard_manifest assignment law at sentence
    granularity). pipeline/packing.py::sentence_chunks. NEW r14."""
    from openset_spark.pipeline.packing import sentence_chunks

    return sentence_chunks(_docs(spark, sf_dir), budget=32)


_SQL_SENTENCE_CHUNKS = r"""
WITH sl AS (
  SELECT doc_id,
    regexp_extract_all(text, '[^.!?]+[.!?]+|[^.!?]+$') AS ss
  FROM documents
),
se AS (
  SELECT doc_id, i - 1 AS idx, trim(ss[i]) AS sentence
  FROM sl, UNNEST(generate_series(1, len(ss))) AS t(i)
),
sf AS (SELECT * FROM se WHERE sentence <> ''),
tk AS (
  SELECT *, len(list_filter(
    string_split_regex(sentence, '[ \t\n\r\f]+'), x -> x <> ''
  )) AS n_toks FROM sf
),
cm AS (
  SELECT *, SUM(n_toks) OVER (
    PARTITION BY doc_id ORDER BY idx
  ) AS cum FROM tk
),
ck AS (SELECT *, CAST((cum - 1) // 32 AS BIGINT) AS chunk_id FROM cm)
SELECT doc_id, chunk_id,
  CAST(COUNT(*) AS BIGINT) AS n_sentences,
  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
  string_agg(sentence, ' ' ORDER BY idx) AS chunk_text
FROM ck GROUP BY doc_id, chunk_id
"""


def q_lang_script_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-guess x dominant-script audit matrix over the
    documents corpus. pipeline/textstats.py::lang_script_agreement.
    NEW r14."""
    from openset_spark.pipeline.textstats import lang_script_agreement

    return lang_script_agreement(_docs(spark, sf_dir))


def _lang_script_agreement_sql() -> str:
    return f"""
WITH lg AS (SELECT doc_id, lang_guess FROM ({_lang_id_sql()}) t),
sp AS (SELECT doc_id, main_script FROM ({_script_profile_sql()}) t)
SELECT lg.lang_guess, sp.main_script,
  CAST(COUNT(*) AS BIGINT) AS n_docs
FROM lg JOIN sp ON lg.doc_id = sp.doc_id
GROUP BY lg.lang_guess, sp.main_script
"""


def q_decayed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-decayed activity counters at a pinned
    evaluation time (half-life 7 days) — the feature-store recency
    aggregate. operators/events.py::decayed_counts. NEW r14."""
    import datetime as dt

    from openset_spark.operators.events import decayed_counts
    from openset_spark.sources.tables import load_table

    return decayed_counts(
        load_table(spark, sf_dir, "events"),
        at=dt.datetime(2024, 1, 31),
        half_life_days=7.0,
    )


def _decayed_counts_sql() -> str:
    import math

    lam = math.log(2.0) / 7.0
    # lam inlined via repr so DuckDB parses the IDENTICAL double the
    # Spark literal carries (a plain decimal literal would re-round)
    return f"""
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
  ROUND(SUM(exp(-{lam!r} *
    ((epoch_us(TIMESTAMP '2024-01-31 00:00:00')
      - epoch_us(ts::TIMESTAMP)) / 86400000000.0))), 4)
    AS decayed_events,
  ROUND(SUM(exp(-{lam!r} *
    ((epoch_us(TIMESTAMP '2024-01-31 00:00:00')
      - epoch_us(ts::TIMESTAMP)) / 86400000000.0)) * value), 4)
    AS decayed_value
FROM events
WHERE ts::TIMESTAMP <= TIMESTAMP '2024-01-31 00:00:00'
GROUP BY user_id
"""


# --------------------------------------------------------------------
# query registry
# --------------------------------------------------------------------
class Query(NamedTuple):
    """One registered query key: the builder the driver runs, the
    DuckDB SQL its result must equal, and the operator family it can
    represent in the driver window (None: no family)."""

    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    sql: str
    family: str | None


# The external driver verifies only the first _DRIVER_WINDOW keys of
# queries(), so row order is the window. tools/plan_window.py plans
# the next window from the CORRECTNESS_r*.json ledger and
# tools/apply_window.py reorders the rows; COVERAGE.md is the ledger.
_DRIVER_WINDOW = 50

REGISTRY: tuple[Query, ...] = (
    Query("lang_id_nb", q_lang_id_nb, _lang_id_nb_sql(), None),
    Query("lang_nb_confusion", q_lang_nb_confusion, _lang_nb_confusion_sql(), None),
    Query("main_content", q_main_content, _main_content_sql(), None),
    Query("mojibake_repair", q_mojibake_repair, _mojibake_repair_sql(), None),
    Query("preprocess_crawl", q_preprocess_crawl, _preprocess_crawl_sql(), None),
    Query("segment_difference_kmv", q_segment_difference_kmv,
          _SQL_SEGMENT_DIFFERENCE_KMV, None),
    Query("lang_mixture_select", q_lang_mixture_select, _lang_mixture_select_sql(),
          None),
    Query("monthly_retention", q_monthly_retention, _SQL_MONTHLY_RETENTION,
          "retention"),
    Query("osl_customer_write", q_osl_customer_write, _SQL_OSL_CUSTOMER_WRITE,
          "osl_imperative"),
    Query("user_event_type_sets", q_user_event_type_sets, _SQL_USER_EVENT_TYPE_SETS,
          "props_sets"),
    Query("dedup_exact_keep", q_dedup_exact_keep, _SQL_DEDUP_EXACT_KEEP, "dedup_exact"),
    Query("sample_per_stratum", q_sample_per_stratum, _SQL_SAMPLE_PER_STRATUM,
          "sampling"),
    Query("retention_cull", q_retention_cull, _SQL_RETENTION_CULL,
          "retention_maintenance"),
    Query("tfidf_top_terms", q_tfidf_top_terms, _SQL_TFIDF_TOP_TERMS, None),
    Query("winnow_matches", q_winnow_matches, _SQL_WINNOW_MATCHES, None),
    Query("dsir_weights", q_dsir_weights, _SQL_DSIR_WEIGHTS, None),
    Query("ann_lsh", q_ann_lsh, _SQL_ANN_RECALL_OK, "ann"),
    Query("tpch_q5", q_tpch_q5, _SQL_TPCH_Q5, "relational"),
    Query("tpch_q6", q_tpch_q6, _SQL_TPCH_Q6, "relational"),
    Query("tpch_q9_style", q_tpch_q9_style, _SQL_TPCH_Q9_STYLE, "relational"),
    Query("tpch_q18_style", q_tpch_q18_style, _SQL_TPCH_Q18_STYLE, "relational"),
    Query("top_customers", q_top_customers, _SQL_TOP_CUSTOMERS, "relational"),
    Query("event_agg_by_day", q_event_agg_by_day, _SQL_EVENT_AGG_BY_DAY, "event_agg"),
    Query("event_agg_two_level", q_event_agg_two_level, _SQL_EVENT_AGG_TWO_LEVEL,
          "event_agg"),
    Query("event_agg_distinct_stamps", q_event_agg_distinct_stamps,
          _SQL_EVENT_AGG_DISTINCT_STAMPS, "event_agg"),
    Query("last_purchase_per_user", q_last_purchase_per_user,
          _SQL_LAST_PURCHASE_PER_USER, "event_rows"),
    Query("purchases_by_quarter", q_purchases_by_quarter, _SQL_PURCHASES_BY_QUARTER,
          "histogram"),
    Query("session_stats", q_session_stats, _SQL_SESSION_STATS, "sessionize"),
    Query("next_session_transitions", q_next_session_transitions,
          _SQL_NEXT_SESSION_TRANSITIONS, "paths"),
    Query("days_to_convert", q_days_to_convert, _SQL_DAYS_TO_CONVERT, "funnel"),
    Query("osl_histogram_weeks", q_osl_histogram_weeks, _SQL_OSL_HISTOGRAM_WEEKS,
          "osl_declarative"),
    Query("segment_counts", q_segment_counts, _SQL_SEGMENT_COUNTS, "segments"),
    Query("segment_algebra", q_segment_algebra, _SQL_SEGMENT_ALGEBRA, "segments"),
    Query("osl_return_first", q_osl_return_first, _SQL_OSL_RETURN_FIRST,
          "osl_imperative"),
    Query("property_counts", q_property_counts, _SQL_PROPERTY_COUNTS,
          "property_counts"),
    Query("property_counts_rx", q_property_counts_rx, _SQL_PROPERTY_COUNTS_RX,
          "property_counts"),
    Query("customer_timeline", q_customer_timeline, _SQL_CUSTOMER_TIMELINE, "dim_join"),
    Query("dedup_ngram_jaccard", q_dedup_ngram_jaccard, _SQL_DEDUP_NGRAM_JACCARD,
          "dedup_sketch"),
    Query("text_stats", q_text_stats, _SQL_TEXT_STATS, "text"),
    Query("clean_documents", q_clean_documents, _SQL_CLEAN_DOCUMENTS, "text"),
    Query("top_bigrams", q_top_bigrams, _SQL_TOP_BIGRAMS, "text"),
    Query("token_counts", q_token_counts, _SQL_TOKEN_COUNTS, "text"),
    Query("bm25_search", q_bm25_search, _SQL_BM25_SEARCH, None),
    Query("winnow_fingerprints", q_winnow_fingerprints, _SQL_WINNOW_FINGERPRINTS, None),
    Query("source_overlap", q_source_overlap, _SQL_SOURCE_OVERLAP, None),
    Query("collocations", q_collocations, _SQL_COLLOCATIONS, None),
    Query("char_entropy", q_char_entropy, _SQL_CHAR_ENTROPY, "text"),
    Query("readability", q_readability, _SQL_READABILITY, "text"),
    Query("vocab_growth", q_vocab_growth, _SQL_VOCAB_GROWTH, "text"),
    Query("contamination_check", q_contamination_check, _SQL_CONTAMINATION_CHECK,
          "decontam"),
    # ---- end of the driver window (first _DRIVER_WINDOW rows) ----
    Query("containment_pairs", q_containment_pairs, _SQL_CONTAINMENT_PAIRS,
          "dedup_sketch"),
    Query("dedup_lines", q_dedup_lines, _SQL_DEDUP_LINES, None),
    Query("pii_report", q_pii_report, _pii_report_sql(), None),
    Query("mink_prob", q_mink_prob, _SQL_MINK_PROB, None),
    Query("corpus_diff", q_corpus_diff, _SQL_CORPUS_DIFF, None),
    Query("asof_last_purchase", q_asof_last_purchase, _SQL_ASOF_LAST_PURCHASE, None),
    Query("events_in_purchase_window", q_events_in_purchase_window,
          _SQL_EVENTS_IN_PURCHASE_WINDOW, None),
    Query("time_rollup", q_time_rollup, _SQL_TIME_ROLLUP, None),
    Query("property_counts_between", q_property_counts_between,
          _SQL_PROPERTY_COUNTS_BETWEEN, "property_counts"),
    Query("weekly_retention", q_weekly_retention, _SQL_WEEKLY_RETENTION, "retention"),
    Query("props_json_extract", q_props_json_extract, _SQL_PROPS_JSON_EXTRACT,
          "props_sets"),
    Query("dedup_exact", q_dedup_exact, _SQL_DEDUP_EXACT, "dedup_exact"),
    Query("embedding_centroids", q_embedding_centroids, _SQL_EMBEDDING_CENTROIDS,
          "ann"),
    Query("token_budget_select", q_token_budget_select, _SQL_TOKEN_BUDGET_SELECT,
          "sampling"),
    Query("retention_cap", q_retention_cap, _SQL_RETENTION_CAP,
          "retention_maintenance"),
    Query("perplexity_buckets", q_perplexity_buckets, _SQL_PERPLEXITY_BUCKETS, None),
    Query("mixture_select", q_mixture_select, _SQL_MIXTURE_SELECT, None),
    Query("sliding_value_p95_24h", q_sliding_value_p95_24h, _SQL_SLIDING_VALUE_P95_24H,
          None),
    Query("sliding_user_rates_24h", q_sliding_user_rates_24h,
          _SQL_SLIDING_USER_RATES_24H, None),
    Query("sliding_segment_jaccard_24h", q_sliding_segment_jaccard_24h,
          _SQL_SLIDING_SEGMENT_JACCARD_24H, None),
    Query("rollup_user_rates", q_rollup_user_rates, _SQL_ROLLUP_USER_RATES, None),
    Query("ann_pq", q_ann_pq, _SQL_ANN_RECALL_OK, None),
    Query("dedup_keep_best", q_dedup_keep_best, _SQL_DEDUP_KEEP_BEST, None),
    Query("remove_dup_spans", q_remove_dup_spans, _SQL_REMOVE_DUP_SPANS, None),
    Query("nearest_dup", q_nearest_dup, _SQL_NEAREST_DUP, None),
    Query("ngram_coverage", q_ngram_coverage, _SQL_NGRAM_COVERAGE, None),
    Query("lang_confusion", q_lang_confusion, _lang_confusion_sql(), None),
    Query("cross_source_dups", q_cross_source_dups, _SQL_CROSS_SOURCE_DUPS, None),
    Query("ngram_novelty", q_ngram_novelty, _SQL_NGRAM_NOVELTY, None),
    Query("quality_funnel", q_quality_funnel, _SQL_QUALITY_FUNNEL, None),
    Query("cooccur_pmi", q_cooccur_pmi, _SQL_COOCCUR_PMI, None),
    Query("shard_manifest", q_shard_manifest, _SQL_SHARD_MANIFEST, None),
    Query("epoch_shuffle", q_epoch_shuffle, _SQL_EPOCH_SHUFFLE, None),
    Query("embedding_outliers", q_embedding_outliers, _SQL_EMBEDDING_OUTLIERS, None),
    Query("dataset_card", q_dataset_card, _SQL_DATASET_CARD, None),
    Query("dup_pagerank", q_dup_pagerank, _dup_pagerank_sql(), None),
    Query("hard_negatives", q_hard_negatives, _SQL_HARD_NEGATIVES, None),
    Query("knn_agreement", q_knn_agreement, _SQL_KNN_AGREEMENT, None),
    Query("temperature_weights", q_temperature_weights, _SQL_TEMPERATURE_WEIGHTS, None),
    Query("boilerplate_affixes", q_boilerplate_affixes, _SQL_BOILERPLATE_AFFIXES, None),
    Query("embedding_drift", q_embedding_drift, _SQL_EMBEDDING_DRIFT, None),
    Query("length_histogram", q_length_histogram, _SQL_LENGTH_HISTOGRAM, None),
    Query("dup_cosine_check", q_dup_cosine_check,
          _SQL_DUP_COSINE_CHECK.replace("{SUBSTRING_PAIRS}", _SQL_SUBSTRING_DUP_PAIRS),
          None),
    Query("ann_ivfpq", q_ann_ivfpq, _SQL_ANN_RECALL_OK, None),
    Query("source_divergence", q_source_divergence, _SQL_SOURCE_DIVERGENCE, None),
    Query("event_agg_rollup", q_event_agg_rollup, _SQL_EVENT_AGG_ROLLUP, "event_agg"),
    Query("recent_purchase_totals", q_recent_purchase_totals,
          _SQL_RECENT_PURCHASE_TOTALS, "event_agg"),
    Query("histogram_by_type", q_histogram_by_type, _SQL_HISTOGRAM_BY_TYPE,
          "histogram"),
    Query("histogram_weeks_since", q_histogram_weeks_since, _SQL_HISTOGRAM_WEEKS_SINCE,
          "histogram"),
    Query("osl_funnel_continue", q_osl_funnel_continue, _SQL_OSL_FUNNEL,
          "osl_declarative"),
    Query("osl_segment_counts", q_osl_segment_counts, _SQL_OSL_SEGMENT_COUNTS,
          "osl_declarative"),
    Query("dedup_simhash", q_dedup_simhash, _SQL_DEDUP_SIMHASH, "dedup_sketch"),
    Query("dedup_embedding", q_dedup_embedding, _SQL_DEDUP_EMBEDDING, "dedup_sketch"),
    Query("session_counts_5min", q_session_counts_5min, _SQL_SESSION_COUNTS_5MIN,
          "sessionize"),
    Query("top_paths", q_top_paths, _SQL_TOP_PATHS, "paths"),
    Query("doc_fingerprint", q_doc_fingerprint, _SQL_DOC_FINGERPRINT, "text"),
    Query("repetition_signals", q_repetition_signals, _SQL_REPETITION_SIGNALS, "text"),
    Query("user_purchase_totals", q_user_purchase_totals, _SQL_USER_PURCHASE_TOTALS,
          "event_agg"),
    Query("textual_user_core", q_textual_user_core, _SQL_TEXTUAL_USER_CORE, "segments"),
    Query("property_counts_by_segment", q_property_counts_by_segment,
          _SQL_PROPERTY_COUNTS_BY_SEGMENT, "property_counts"),
    Query("osl_agg_options", q_osl_agg_options, _SQL_OSL_AGG_OPTIONS,
          "osl_declarative"),
    Query("session_length_quantiles", q_session_length_quantiles,
          _SQL_SESSION_LENGTH_QUANTILES, "histogram"),
    Query("ann_topk", q_ann_topk, _SQL_ANN_TOPK, "ann"),
    Query("tpch_q3", q_tpch_q3, _SQL_TPCH_Q3, "relational"),
    Query("row_count_distribution", q_row_count_distribution,
          _SQL_ROW_COUNT_DISTRIBUTION, "event_rows"),
    Query("events_with_user_dim", q_events_with_user_dim, _SQL_EVENTS_WITH_USER_DIM,
          "dim_join"),
    Query("funnel_signup_purchase", q_funnel_signup_purchase, _SQL_FUNNEL, "funnel"),
    Query("pii_positive", q_pii_positive, _pii_positive_sql(), None),
    Query("asof_nearest_purchase", q_asof_nearest_purchase, _SQL_ASOF_NEAREST_PURCHASE,
          None),
    Query("overlapping_activity_windows", q_overlapping_activity_windows,
          _SQL_OVERLAPPING_ACTIVITY_WINDOWS, None),
    Query("nb_quality_scores", q_nb_quality_scores, _SQL_NB_QUALITY_SCORES, None),
    Query("source_quality_cap", q_source_quality_cap, _SQL_SOURCE_QUALITY_CAP, None),
    Query("title_typo_pairs", q_title_typo_pairs, _SQL_TITLE_TYPO_PAIRS, None),
    Query("approx_users_per_day", q_approx_users_per_day, _SQL_APPROX_USERS_PER_DAY,
          None),
    Query("rollup_unique_users", q_rollup_unique_users, _SQL_ROLLUP_UNIQUE_USERS, None),
    Query("segment_overlap_approx", q_segment_overlap_approx,
          _SQL_SEGMENT_OVERLAP_APPROX, None),
    Query("cms_token_hitters", q_cms_token_hitters, _SQL_CMS_TOKEN_HITTERS, None),
    Query("bloom_semijoin_urgent", q_bloom_semijoin_urgent, _SQL_BLOOM_SEMIJOIN_URGENT,
          None),
    Query("doc_length_quantiles_sketch", q_doc_length_quantiles_sketch,
          _SQL_DOC_LENGTH_QUANTILES_SKETCH, None),
    Query("segment_jaccard_kmv", q_segment_jaccard_kmv, _SQL_SEGMENT_JACCARD_KMV, None),
    Query("rollup_value_quantiles", q_rollup_value_quantiles,
          _SQL_ROLLUP_VALUE_QUANTILES, None),
    Query("source_vocab_overlap", q_source_vocab_overlap, _SQL_SOURCE_VOCAB_OVERLAP,
          None),
    Query("sliding_users_24h", q_sliding_users_24h, _SQL_SLIDING_USERS_24H, None),
    Query("tpch_q1", q_tpch_q1, _SQL_TPCH_Q1, "relational"),
    Query("tpch_q7_style", q_tpch_q7_style, _SQL_TPCH_Q7_STYLE, "relational"),
    Query("tpch_q10_style", q_tpch_q10_style, _SQL_TPCH_Q10_STYLE, "relational"),
    Query("event_agg_by_type", q_event_agg_by_type, _SQL_EVENT_AGG_BY_TYPE,
          "event_agg"),
    Query("first_events_per_user", q_first_events_per_user, _SQL_FIRST_EVENTS_PER_USER,
          "event_rows"),
    Query("top_event_types_per_day", q_top_event_types_per_day,
          _SQL_TOP_EVENT_TYPES_PER_DAY, None),
    Query("zorder_first_rows", q_zorder_first_rows, _SQL_ZORDER_FIRST_ROWS,
          "event_rows"),
    Query("session_counts", q_session_counts, _SQL_SESSION_COUNTS, "sessionize"),
    Query("funnel_within_hour", q_funnel_within_hour, _SQL_FUNNEL_WITHIN_HOUR,
          "funnel"),
    Query("next_event_transitions", q_next_event_transitions, _SQL_NEXT_EVENT, "paths"),
    Query("segment_sequence_counts", q_segment_sequence_counts,
          _SQL_SEGMENT_SEQUENCE_COUNTS, "segments"),
    Query("osl_event_agg", q_osl_event_agg, _SQL_OSL_EVENT_AGG, "osl_declarative"),
    Query("osl_script_counter", q_osl_script_counter, _SQL_OSL_SCRIPT_COUNTER,
          "osl_imperative"),
    Query("property_counts_bucketed", q_property_counts_bucketed,
          _SQL_PROPERTY_COUNTS_BUCKETED, "property_counts"),
    Query("histogram_spend_clipped", q_histogram_spend_clipped,
          _SQL_HISTOGRAM_SPEND_CLIPPED, "histogram"),
    Query("dedup_minhash", q_dedup_minhash, _SQL_DEDUP_MINHASH, "dedup_sketch"),
    Query("substring_dup_pairs", q_substring_dup_pairs, _SQL_SUBSTRING_DUP_PAIRS,
          "dedup_sketch"),
    Query("dedup_clusters", q_dedup_clusters, _SQL_DEDUP_CLUSTERS, None),
    Query("ann_ivf", q_ann_ivf, _SQL_ANN_RECALL_OK, "ann"),
    Query("lang_id", q_lang_id, _lang_id_sql(), "text"),
    Query("quality_score", q_quality_score, _SQL_QUALITY_SCORE, "text"),
    Query("pack_sequences", q_pack_sequences, _SQL_PACK_SEQUENCES, None),
    Query("lm_perplexity", q_lm_perplexity, _SQL_LM_PERPLEXITY, None),
    Query("zipf_fit", q_zipf_fit, _SQL_ZIPF_FIT, None),
    Query("kneser_ney_score", q_kneser_ney_score, _SQL_KNESER_NEY, None),
    Query("dup_span_fraction", q_dup_span_fraction, _SQL_DUP_SPAN_FRACTION, None),
    Query("keyword_tags", q_keyword_tags, _SQL_KEYWORD_TAGS, None),
    Query("leakage_safe_split", q_leakage_safe_split, _SQL_LEAKAGE_SAFE_SPLIT, None),
    Query("gopher_quality", q_gopher_quality, _SQL_GOPHER_QUALITY, None),
    Query("lexical_diversity", q_lexical_diversity, _SQL_LEXICAL_DIVERSITY, None),
    Query("oov_rate", q_oov_rate, _SQL_OOV_RATE, None),
    Query("chunk_windows", q_chunk_windows, _SQL_CHUNK_WINDOWS, None),
    Query("dsir_resample", q_dsir_resample, _SQL_DSIR_RESAMPLE, None),
    Query("embedding_gram", q_embedding_gram, _SQL_EMBEDDING_GRAM, None),
    Query("url_normalize", q_url_normalize, _url_normalize_sql(), None),
    Query("url_dedup_keep", q_url_dedup_keep, _url_dedup_keep_sql(), None),
    Query("domain_stats", q_domain_stats, _domain_stats_sql(), None),
    Query("filter_agreement", q_filter_agreement, _filter_agreement_sql(), None),
    Query("domain_links", q_domain_links, _domain_links_sql(), None),
    Query("domain_pagerank", q_domain_pagerank, _domain_pagerank_sql(), None),
    Query("markdown_strip", q_markdown_strip, _markdown_strip_sql(), None),
    Query("embedding_health", q_embedding_health, _SQL_EMBEDDING_HEALTH, None),
    Query("robots_rules", q_robots_rules, _robots_rules_sql(), None),
    Query("robots_verdicts", q_robots_verdicts, _robots_verdicts_sql(), None),
    Query("script_profile", q_script_profile, _script_profile_sql(), None),
    Query("sentence_chunks", q_sentence_chunks, _SQL_SENTENCE_CHUNKS, None),
    Query("lang_script_agreement", q_lang_script_agreement,
          _lang_script_agreement_sql(), None),
    Query("decayed_counts", q_decayed_counts, _decayed_counts_sql(), None),
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {q.name: q.builder for q in REGISTRY}


def oracle_sql() -> dict[str, str]:
    return {q.name: q.sql for q in REGISTRY}
