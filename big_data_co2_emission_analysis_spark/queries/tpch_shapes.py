"""Canonical TPC-H query shapes (Q3/Q10/Q18) adapted to the fixture
schema -- the multi-join analytical patterns a reference user would
port: shipping-priority top-k (Q3), returned-item customer ranking
(Q10), large-volume-order semi-aggregation (Q18).  All fixed-point
exact (_exact.py) and DuckDB-oracle-checked.

Scale notes: each query's fact-side join keys are the natural shuffle
keys; dims broadcast (nation) or AQE-convert (customer at small SF);
top-k terminal steps plan as TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._exact import dsum, fx, sql_dsum, sql_fx
from .registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# extendedprice*(1-discount) has <= 4 true decimal digits, so scale-6
# fixed-point quantization of the (identical cross-engine) double
# product is lossless (_exact.py)
_REVENUE_SQL = sql_dsum("l_extendedprice * (1 - l_discount)")


def _revenue() -> F.Column:
    return dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))


# -- Q3: shipping priority -------------------------------------------------
@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           {_REVENUE_SQL} AS revenue,
           STRFTIME(o.o_orderdate, '%Y-%m-%d') AS o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
    tags=("join", "agg", "topk", "tpch"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(_revenue().alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# -- Q10: returned-item customer ranking -----------------------------------
@register(
    "q10_returned_customers",
    oracle=f"""
    SELECT c.c_custkey, n.n_name,
           {_REVENUE_SQL} AS revenue,
           COUNT(*) AS n_returned_items
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
    tags=("join", "agg", "topk", "tpch"),
)
def q10_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "n_name")
        .agg(_revenue().alias("revenue"), F.count("*").alias("n_returned_items"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# -- Q18: large-volume orders ----------------------------------------------
@register(
    "q18_large_orders",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM({sql_fx('l_quantity', 2)}) > 40000
    )
    SELECT c.c_custkey, o.o_orderkey,
           STRFTIME(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o.o_totalprice,
           {sql_dsum('l.l_quantity', scale=2)} AS total_qty
    FROM orders o
    JOIN big ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    """,
    tags=("join", "agg", "semijoin", "tpch"),
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    big = (
        # compare in micro-units (long > 40000) so the predicate stays
        # integer-exact on both engines
        li.groupBy("l_orderkey")
        .agg(F.sum(fx("l_quantity", 2)).alias("__q"))
        .filter(F.col("__q") > 40000)
        .select("l_orderkey")
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(li.select(F.col("l_orderkey").alias("lk"), "l_quantity"), F.col("o_orderkey") == F.col("lk"))
        .groupBy("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum("l_quantity", scale=2).alias("total_qty"))
        .select(
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    )


# -- Q5: local supplier volume --------------------------------------------
@register(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n.n_name,
           {_REVENUE_SQL} AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND c.c_nationkey = s.s_nationkey
    GROUP BY n.n_name
    ORDER BY revenue DESC, n.n_name
    """,
    tags=("join", "agg", "tpch"),
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join where customer and supplier must share
    a nation (the classic join-graph-with-a-cycle query).  The fact
    chain orders->lineitem shuffles on its natural keys once;
    supplier/nation/region broadcast; the c_nationkey = s_nationkey
    residual rides the customer join rather than forming its own
    edge."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select("r_regionkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(_revenue().alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


# -- Q21 shape: suppliers who kept orders waiting ---------------------------
# TPC-H Q21's EXISTS / NOT EXISTS pattern adapted to the fixture schema
# (no l_receiptdate/l_commitdate; "late" := shipped > 75 days after the
# order date).  A waiting supplier is the ONLY late shipper in a
# multi-supplier finished order.
#
# The two correlated subqueries reduce to min/max tests over the order's
# lines.  For a late line by supplier s on order o (s is non-null: it
# joins the supplier dim):
#   EXISTS(l2.l_suppkey <> s)          <=>  min(l_suppkey) < max(l_suppkey)
#   NOT EXISTS(l3.l_suppkey <> s, late) <=>  min(late_supp) = max(late_supp)
# where late_supp = when(late, l_suppkey); s is itself among the
# order's (late) suppliers, so "some other value exists" is exactly
# "the extremes differ".  SQL's `<>` is NULL (false) against a NULL
# supplier and min/max skip NULLs, so a line with a NULL l_suppkey is
# neither an "other supplier" nor an "other late supplier" on either
# side; likewise a NULL l_shipdate makes `late` NULL, i.e. not late.
# So one hash aggregate keyed on l_orderkey answers both predicates,
# with no join back to the fact: the flagged fact (lineitem x finished
# orders) is scanned, joined and shuffled once, and numwait is the
# order's count of non-null late_supp lines summed per waiting
# supplier.  Once the fact join is a sort-merge join (sf1 and up) the
# aggregate reads its order-key partitioning and adds no exchange.  The
# supplier dim broadcasts.
@register(
    "q21_waiting_suppliers",
    oracle="""
    WITH flagged AS (
      SELECT l.l_orderkey, l.l_suppkey,
             (l.l_shipdate > o.o_orderdate + INTERVAL 75 DAY) AS late
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM flagged l1
    JOIN supplier s ON l1.l_suppkey = s.s_suppkey
    WHERE l1.late
      AND EXISTS (SELECT 1 FROM flagged l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM flagged l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.late)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
    tags=("join", "agg", "tpch"),
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import _distinct_agg_partitions

    n = _distinct_agg_partitions(spark, sf_dir)
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    if n is not None:
        # size the fact join's exchanges for the corpus: at the session
        # default the SMJ sort state spilled 9.2 GiB at sf10; partitioning
        # both sides on the order key also lets the per-order aggregate
        # run exchange-free
        orders = orders.repartition(n, "o_orderkey")
        li = li.repartition(n, "l_orderkey")
    late = F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 75)
    late_supp = F.when(late, F.col("l_suppkey"))
    per_order = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(
            F.min("l_suppkey").alias("lo"),
            F.max("l_suppkey").alias("hi"),
            F.min(late_supp).alias("late_lo"),
            F.max(late_supp).alias("late_hi"),
            F.count(late_supp).alias("late_lines"),
        )
        .filter((F.col("lo") < F.col("hi")) & (F.col("late_lo") == F.col("late_hi")))
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_order.join(F.broadcast(supp), F.col("late_lo") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("late_lines").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )
