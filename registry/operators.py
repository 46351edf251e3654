"""TMD operator queries: TPC-H shapes, selection, aggregation, joins,
set operations, windows, time series, missing-value fills and validation."""

from __future__ import annotations

from pyspark.sql import functions as F

from registry import _ckpt_sort, _r4, _r4b, _t, query
from tech_ml_dataset_spark import dtutil as dtu
from tech_ml_dataset_spark.functions import text as txt
from tech_ml_dataset_spark.operators import aggregate as agg
from tech_ml_dataset_spark.operators import join as jn
from tech_ml_dataset_spark.operators import missing as ms
from tech_ml_dataset_spark.operators import reshape as rs
from tech_ml_dataset_spark.operators import selection as sel
from tech_ml_dataset_spark.operators import setops as st
from tech_ml_dataset_spark.operators import timeseries as tss
from tech_ml_dataset_spark.operators import window as win


@query(oracle="""
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice), 4) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_extendedprice), 4) AS avg_price,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """)
def q1_pricing_summary(spark, sf_dir):
    """Filter → group-by-column-agg → sort (reference reductions.clj:517)."""
    li = _t(spark, sf_dir, "lineitem")
    out = agg.group_by_column_agg(
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")),
        ["l_returnflag", "l_linestatus"],
        {
            "sum_qty": ("sum", "l_quantity"),
            "sum_base_price": ("sum", "l_extendedprice"),
            "sum_disc_price": lambda F: F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
            "avg_qty": ("mean", "l_quantity"),
            "avg_price": ("mean", "l_extendedprice"),
            "avg_disc": ("mean", "l_discount"),
            "count_order": ("row-count", None),
        })
    num = ["sum_qty", "sum_base_price", "sum_disc_price", "avg_qty", "avg_price", "avg_disc"]
    out = out.withColumns({c: _r4(F.col(c)) for c in num})
    return st.sort_by(out, "l_returnflag", "l_linestatus")


@query(oracle="""
            SELECT l_orderkey, o_orderdate,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM customer, orders, lineitem
            WHERE c_mktsegment = 'BUILDING'
              AND c_custkey = o_custkey AND l_orderkey = o_orderkey
            GROUP BY l_orderkey, o_orderdate
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """)
def q3_segment_revenue(spark, sf_dir):
    """3-way join + agg + top-k (customer ⋈ orders ⋈ lineitem)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    j = jn.inner_join(orders, cust, ("o_custkey", "c_custkey"), broadcast_right=True)
    j = jn.inner_join(li, j, ("l_orderkey", "o_orderkey"))
    out = agg.group_by_column_agg(
        j, ["l_orderkey", "o_orderdate"],
        {"revenue": lambda F: F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))})
    out = out.withColumn("revenue", _r4(F.col("revenue")))
    return out.orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc()).limit(10)


@query(oracle="""
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
                   count(*) AS n_items
            FROM lineitem, supplier, nation, region
            WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
              AND n_regionkey = r_regionkey AND r_name = 'ASIA'
            GROUP BY n_name
            ORDER BY revenue DESC
        """)
def q5_nation_revenue(spark, sf_dir):
    """Star join through region/nation/supplier dims (broadcast) + agg."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    supplier = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    dims = jn.inner_join(nation, region, ("n_regionkey", "r_regionkey"), broadcast_right=True)
    dims = jn.inner_join(supplier, dims, ("s_nationkey", "n_nationkey"), broadcast_right=True)
    j = jn.inner_join(li, dims, ("l_suppkey", "s_suppkey"), broadcast_right=True)
    out = agg.group_by_column_agg(
        j, "n_name",
        {"revenue": lambda F: F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
         "n_items": ("row-count", None)})
    out = out.withColumn("revenue", _r4(F.col("revenue")))
    return st.sort_by_column(out, "revenue", desc=True)


@query(oracle="""
            SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                   year(l_shipdate) AS l_year,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            WHERE sn.n_name IN ('NATION_1', 'NATION_2')
              AND cn.n_name IN ('NATION_1', 'NATION_2')
              AND sn.n_name <> cn.n_name
            GROUP BY supp_nation, cust_nation, l_year
            ORDER BY supp_nation, cust_nation, l_year
        """)
def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: fact → two independent dim chains (supplier-nation
    and customer-nation, both broadcast), symmetric nation-pair predicate,
    group by (nation, nation, year). Exercises multi-hop join planning:
    the only shuffle is the final 3-key aggregate."""
    nation = _t(spark, sf_dir, "nation")
    pair = F.col("n_name").isin("NATION_1", "NATION_2")
    supp = jn.inner_join(_t(spark, sf_dir, "supplier"),
                         nation.filter(pair).select(
                             "n_nationkey",
                             F.col("n_name").alias("supp_nation")),
                         ("s_nationkey", "n_nationkey"), broadcast_right=True)
    cust = jn.inner_join(_t(spark, sf_dir, "customer"),
                         nation.filter(pair).select(
                             F.col("n_nationkey").alias("cn_key"),
                             F.col("n_name").alias("cust_nation")),
                         ("c_nationkey", "cn_key"), broadcast_right=True)
    orders = jn.inner_join(_t(spark, sf_dir, "orders"), cust,
                           ("o_custkey", "c_custkey"), broadcast_right=True)
    li = _t(spark, sf_dir, "lineitem")
    j = jn.inner_join(li, supp.select("s_suppkey", "supp_nation"),
                      ("l_suppkey", "s_suppkey"), broadcast_right=True)
    j = jn.inner_join(j, orders.select("o_orderkey", "cust_nation"),
                      ("l_orderkey", "o_orderkey"))
    j = j.filter(F.col("supp_nation") != F.col("cust_nation"))
    out = agg.group_by_column_agg(
        j.withColumn("l_year", F.year("l_shipdate")),
        ["supp_nation", "cust_nation", "l_year"],
        {"revenue": lambda F: F.sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))),
         "n_items": ("row-count", None)})
    out = out.withColumn("revenue", _r4(F.col("revenue")))
    return st.sort_by(out, "supp_nation", "cust_nation", "l_year")


@query(oracle="""
            SELECT c_custkey, c_name, n_name,
                   round(c_acctbal, 4) AS c_acctbal,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
            GROUP BY c_custkey, c_name, n_name, c_acctbal
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 20
        """)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: returned-lineitem revenue per customer, top 20.
    One fact-fact shuffle join (lineitem ⋈ orders) with the returnflag
    filter pushed below it; customer+nation dims broadcast onto the
    aggregated (already customer-grained, small) side."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp")))
    j = jn.inner_join(li, orders.select("o_orderkey", "o_custkey"),
                      ("l_orderkey", "o_orderkey"))
    rev = agg.group_by_column_agg(
        j, "o_custkey",
        {"revenue": lambda F: F.sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")))})
    cust = jn.inner_join(_t(spark, sf_dir, "customer"),
                         _t(spark, sf_dir, "nation"),
                         ("c_nationkey", "n_nationkey"), broadcast_right=True)
    out = jn.inner_join(rev, cust.select("c_custkey", "c_name", "n_name",
                                         "c_acctbal"),
                        ("o_custkey", "c_custkey"), broadcast_right=True)
    out = out.select(F.col("o_custkey").alias("c_custkey"), "c_name",
                     "n_name", _r4(F.col("c_acctbal")).alias("c_acctbal"),
                     _r4(F.col("revenue")).alias("revenue"))
    return out.orderBy(F.col("revenue").desc(),
                       F.col("c_custkey").asc()).limit(20)


@query(oracle="""
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders o
            WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
              AND EXISTS (
                    SELECT 1 FROM lineitem l
                    WHERE l.l_orderkey = o.o_orderkey
                      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """)
def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS subquery as a left-semi join (set.clj
    difference analog is the anti side; semi is free in Spark) — orders
    with at least one late lineitem, counted per priority. Synthetic
    lineitem has no commitdate/receiptdate, so 'late' = shipped > 60 days
    after the order date; the date-range filter pushes to the orders scan
    and the semi join never materializes lineitem columns."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
    li = _t(spark, sf_dir, "lineitem")
    late = jn.inner_join(li.select("l_orderkey", "l_shipdate"),
                         orders.select(F.col("o_orderkey").alias("__ok__"),
                                       F.col("o_orderdate").alias("__od__")),
                         ("l_orderkey", "__ok__")) \
             .filter(F.col("l_shipdate") > F.date_add(F.col("__od__"), 60)) \
             .select(F.col("l_orderkey"))
    sel = jn.semi_join(orders, late, ("o_orderkey", "l_orderkey"))
    out = agg.group_by_column_agg(sel, "o_orderpriority",
                                  {"order_count": ("row-count", None)})
    return st.sort_by_column(out, "o_orderpriority")


@query(oracle="""
            SELECT l_returnflag,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY l_returnflag
            ORDER BY l_returnflag
        """)
def q12_shipmode_buckets(spark, sf_dir):
    """TPC-H Q12 shape: conditional CASE aggregation over a fact-fact
    join — high/low-priority counts per return flag. One shuffle join +
    one groupBy; the CASE sums are map-side combined."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")))
    orders = _t(spark, sf_dir, "orders")
    j = jn.inner_join(li.select("l_orderkey", "l_returnflag"),
                      orders.select("o_orderkey", "o_orderpriority"),
                      ("l_orderkey", "o_orderkey"))
    out = agg.group_by_column_agg(
        j, "l_returnflag",
        {"high_line_count": lambda F: F.sum(
            F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
             .otherwise(0)),
         "low_line_count": lambda F: F.sum(
            F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0)
             .otherwise(1))})
    return st.sort_by_column(out, "l_returnflag")


@query(oracle="""
            SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24
        """)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: pure scan + conjunctive filter + one-row aggregate.
    Every predicate (shipdate range, discount band, quantity cap) pushes to
    the parquet scan; only 3 columns are read. The agg is map-side partial
    over the scan — zero shuffled rows beyond 32 partials."""
    li = _t(spark, sf_dir, "lineitem")
    out = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24))
    return agg.aggregate(out, {
        "revenue": lambda F: _r4(F.sum(
            F.col("l_extendedprice") * F.col("l_discount"))),
        "n_items": ("row-count", None)})


@query(oracle="""
            SELECT year(o_orderdate) AS o_year,
                   round(sum(CASE WHEN sn.n_name = 'NATION_3'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                         / sum(l_extendedprice * (1 - l_discount)), 4)
                       AS mkt_share,
                   round(sum(l_extendedprice * (1 - l_discount)), 4)
                       AS total_vol
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            WHERE l_partkey IN (SELECT p_partkey FROM part
                                WHERE p_type = 'PROMO')
              AND o_custkey IN (
                  SELECT c_custkey FROM customer
                  JOIN nation cn ON c_nationkey = cn.n_nationkey
                  JOIN region ON cn.n_regionkey = r_regionkey
                  WHERE r_name = 'ASIA')
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01'
            GROUP BY o_year
            ORDER BY o_year
        """)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: 6-table star — part/supplier/customer/nation/region
    all broadcast onto the two facts; the only big shuffle is
    lineitem ⋈ orders. Market share = conditional sum / total sum per
    order year (CASE aggregation, map-side combined)."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    supp = jn.inner_join(
        _t(spark, sf_dir, "supplier"),
        nation.select("n_nationkey", F.col("n_name").alias("supp_nation")),
        ("s_nationkey", "n_nationkey"), broadcast_right=True)
    cdims = jn.inner_join(nation, region, ("n_regionkey", "r_regionkey"),
                          broadcast_right=True)
    cust = jn.inner_join(
        _t(spark, sf_dir, "customer"),
        cdims.select(F.col("n_nationkey").alias("cn_key")),
        ("c_nationkey", "cn_key"), broadcast_right=True)
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
    orders = jn.semi_join(orders, cust, ("o_custkey", "c_custkey"))
    li = _t(spark, sf_dir, "lineitem")
    li = jn.semi_join(li, part, ("l_partkey", "p_partkey"))
    li = jn.inner_join(li, supp.select("s_suppkey", "supp_nation"),
                       ("l_suppkey", "s_suppkey"), broadcast_right=True)
    j = jn.inner_join(li, orders.select("o_orderkey", "o_orderdate"),
                      ("l_orderkey", "o_orderkey"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    out = agg.group_by_column_agg(
        j.withColumn("o_year", F.year("o_orderdate")), "o_year",
        {"mkt_share": lambda F: F.sum(
            F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0))
            / F.sum(vol),
         "total_vol": lambda F: F.sum(vol)})
    out = out.withColumn("mkt_share", _r4(F.col("mkt_share"))) \
             .withColumn("total_vol", _r4(F.col("total_vol")))
    return st.sort_by_column(out, "o_year")


@query(oracle="""
            SELECT c_count, count(*) AS custdist
            FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
                  FROM customer c
                  LEFT JOIN orders o
                    ON c.c_custkey = o.o_custkey
                   AND o.o_orderpriority <> '1-URGENT'
                  GROUP BY c.c_custkey)
            GROUP BY c_count
            ORDER BY custdist DESC, c_count DESC
        """)
def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: left outer join customer←orders with a join-side
    predicate, per-customer order count (COUNT(col) nulls-as-zero), then a
    second tiny aggregate over the counts. Two shuffles, the second over
    ≤|distinct counts| rows."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT")
    j = jn.left_join(cust.select("c_custkey"),
                     orders.select("o_custkey", "o_orderkey"),
                     ("c_custkey", "o_custkey"))
    per_cust = agg.group_by_column_agg(
        j, "c_custkey", {"c_count": ("count", "o_orderkey")})
    out = agg.group_by_column_agg(
        per_cust, "c_count", {"custdist": ("row-count", None)})
    return out.orderBy(F.col("custdist").desc(), F.col("c_count").desc())


@query(oracle="""
            SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                          THEN l_extendedprice * (1 - l_discount)
                                          ELSE 0 END)
                         / sum(l_extendedprice * (1 - l_discount)), 4)
                       AS promo_revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-03-01'
              AND l_shipdate < TIMESTAMP '1996-09-01'
        """)
def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: fact ⋈ broadcast part dim, promo share as a ratio
    of CASE sums — one broadcast join, one single-row aggregate."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-09-01").cast("timestamp")))
    part = _t(spark, sf_dir, "part")
    j = jn.inner_join(li, part.select("p_partkey", "p_type"),
                      ("l_partkey", "p_partkey"), broadcast_right=True)
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return agg.aggregate(j, {
        "promo_revenue": lambda F: _r4(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(0.0))
            / F.sum(vol))})


@query(oracle="""
            WITH revenue AS (
                SELECT l_suppkey,
                       round(sum(l_extendedprice * (1 - l_discount)) * 10000)
                           / 10000 AS total_revenue
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate < TIMESTAMP '1996-04-01'
                GROUP BY l_suppkey)
            SELECT s_suppkey, s_name, total_revenue
            FROM supplier JOIN revenue ON s_suppkey = l_suppkey
            WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
            ORDER BY s_suppkey
        """)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: per-supplier revenue over a quarter, suppliers at
    the max. The max is a one-row aggregate broadcast back over the
    supplier-grained (already small) revenue table — no second pass over
    lineitem, no window over a single unpartitioned task."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp")))
    rev = agg.group_by_column_agg(
        li, "l_suppkey",
        {"total_revenue": lambda F: F.round(F.sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000)
            / 10000})
    mx = rev.agg(F.max("total_revenue").alias("__mx__"))
    top = rev.join(F.broadcast(mx),
                   rev["total_revenue"] == mx["__mx__"]).drop("__mx__")
    supp = _t(spark, sf_dir, "supplier")
    out = jn.inner_join(supp, top, ("s_suppkey", "l_suppkey"),
                        broadcast_right=True)
    return out.select("s_suppkey", "s_name", "total_revenue") \
              .orderBy("s_suppkey")


@query(oracle="""
            SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly,
                   count(*) AS n_items
            FROM lineitem l
            JOIN part ON l.l_partkey = p_partkey
            WHERE p_brand = 'Brand#3'
              AND l.l_quantity < (
                  SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
                  WHERE l2.l_partkey = l.l_partkey)
        """)
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: correlated scalar subquery (per-part avg quantity)
    decorrelated into an aggregate + self-join. Both sides are first
    restricted to the brand's parts via a broadcast semi join, so the
    per-part avg shuffle is brand-sized, not corpus-sized; the avg table
    (≤|parts|) is broadcast back."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    li = jn.semi_join(_t(spark, sf_dir, "lineitem"), part,
                      ("l_partkey", "p_partkey"))
    avg_qty = agg.group_by_column_agg(
        li, "l_partkey", {"__avg_qty__": ("mean", "l_quantity")})
    avg_qty = avg_qty.select(F.col("l_partkey").alias("__pk__"),
                             "__avg_qty__")
    j = jn.inner_join(li, avg_qty, ("l_partkey", "__pk__"),
                      broadcast_right=True)
    sel_rows = j.filter(F.col("l_quantity") < 0.2 * F.col("__avg_qty__"))
    return agg.aggregate(sel_rows, {
        "avg_yearly": lambda F: _r4(F.sum("l_extendedprice") / 7.0),
        "n_items": ("row-count", None)})


@query(oracle="""
            SELECT c_name, c.c_custkey AS c_custkey, o_orderkey,
                   o_orderdate, round(o_totalprice, 4) AS o_totalprice,
                   round(sq.sum_qty, 4) AS sum_qty
            FROM orders
            JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty
                  FROM lineitem GROUP BY l_orderkey
                  HAVING sum(l_quantity) > 250) sq
              ON o_orderkey = sq.l_orderkey
            JOIN customer c ON o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 100
        """)
def q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: HAVING on a grouped fact (orders with >250 total
    quantity), semi-joined back to orders/customer dims, top 100. The
    group-filter list is order-grained and small → broadcast onto orders."""
    li = _t(spark, sf_dir, "lineitem")
    big = agg.group_by_column_agg(
        li, "l_orderkey", {"sum_qty": ("sum", "l_quantity")}) \
        .filter(F.col("sum_qty") > 250)
    orders = jn.inner_join(_t(spark, sf_dir, "orders"), big,
                           ("o_orderkey", "l_orderkey"),
                           broadcast_right=True)
    cust = _t(spark, sf_dir, "customer")
    out = jn.inner_join(orders, cust.select("c_custkey", "c_name"),
                        ("o_custkey", "c_custkey"), broadcast_right=True)
    out = out.select("c_name", F.col("o_custkey").alias("c_custkey"),
                     "o_orderkey", "o_orderdate",
                     _r4(F.col("o_totalprice")).alias("o_totalprice"),
                     _r4(F.col("sum_qty")).alias("sum_qty"))
    return out.orderBy(F.col("o_totalprice").desc(),
                       F.col("o_orderkey").asc()).limit(100)


@query(oracle="""
            SELECT round(sum(l_extendedprice * (1 - l_discount)), 4)
                       AS revenue,
                   count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 25
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 35
                   AND l_quantity BETWEEN 20 AND 30)
        """)
def q19_disjunctive_predicates(spark, sf_dir):
    """TPC-H Q19 shape: disjunction of (brand × size-band × quantity-band)
    conjuncts across a broadcast part join. Catalyst keeps the whole OR in
    one codegen stage; the common l_quantity bounds push to the scan."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = jn.inner_join(li, part.select("p_partkey", "p_brand", "p_size"),
                      ("l_partkey", "p_partkey"), broadcast_right=True)
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 15))
         & (F.col("l_quantity").between(1, 11)))
        | ((F.col("p_brand") == "Brand#12") & (F.col("p_size").between(1, 25))
           & (F.col("l_quantity").between(10, 20)))
        | ((F.col("p_brand") == "Brand#23") & (F.col("p_size").between(1, 35))
           & (F.col("l_quantity").between(20, 30))))
    return agg.aggregate(j.filter(cond), {
        "revenue": lambda F: _r4(F.sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")))),
        "n_items": ("row-count", None)})


@query(oracle="""
            SELECT c_nationkey, count(*) AS numcust,
                   round(sum(c_acctbal), 4) AS totacctbal
            FROM customer c
            WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                               WHERE c_acctbal > 0)
              AND NOT EXISTS (
                  SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
            GROUP BY c_nationkey
            ORDER BY c_nationkey
        """)
def q22_sales_opportunity(spark, sf_dir):
    """TPC-H Q22 shape: scalar subquery (global avg positive acctbal)
    broadcast as a one-row cross join + anti join against urgent orders
    (synthetic data has no orderless customers, so 'no orders' is adapted
    to 'no 1-URGENT orders'), grouped per nation. The anti join's right
    side is projected to the key column only."""
    cust = _t(spark, sf_dir, "customer")
    avg_bal = cust.filter(F.col("c_acctbal") > 0) \
                  .agg(F.avg("c_acctbal").alias("__avg_bal__"))
    rich = cust.join(F.broadcast(avg_bal)) \
               .filter(F.col("c_acctbal") > F.col("__avg_bal__"))
    urgent = _t(spark, sf_dir, "orders") \
        .filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    sel_c = jn.anti_join(rich, urgent, ("c_custkey", "o_custkey"))
    out = agg.group_by_column_agg(
        sel_c, "c_nationkey",
        {"numcust": ("row-count", None),
         "totacctbal": lambda F: _r4(F.sum("c_acctbal"))})
    return st.sort_by_column(out, "c_nationkey")


@query(oracle="""
            WITH pair AS (
                SELECT l_partkey, p_name, l_suppkey, s_name, s_acctbal,
                       n_name,
                       min(l_extendedprice / l_quantity) AS cost
                FROM lineitem
                JOIN part ON l_partkey = p_partkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
                WHERE r_name = 'EUROPE'
                  AND p_type = 'ECONOMY' AND p_size < 20
                GROUP BY ALL),
            m AS (
                SELECT *, min(cost) OVER (PARTITION BY l_partkey) AS minc
                FROM pair)
            SELECT s_acctbal, s_name, n_name, l_partkey AS p_partkey,
                   p_name, round(cost * 10000) / 10000 AS cost
            FROM m WHERE cost = minc
            ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
            LIMIT 100
        """)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape (correlated min): cheapest EUROPE supplier per part.
    The testdata has no partsupp, so the part-supplier cost relation is
    derived from lineitem (min unit price per pair). The correlated
    min-subquery is a single window over the pair-grained table — one
    extra shuffle on partkey, never a re-scan of lineitem."""
    from pyspark.sql import Window as W
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nation = _t(spark, sf_dir, "nation")
    supplier = _t(spark, sf_dir, "supplier")
    dims = jn.inner_join(nation, region, ("n_regionkey", "r_regionkey"),
                         broadcast_right=True)
    dims = jn.inner_join(supplier, dims, ("s_nationkey", "n_nationkey"),
                         broadcast_right=True)
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "ECONOMY") & (F.col("p_size") < 20))
    li = _t(spark, sf_dir, "lineitem")
    j = jn.inner_join(li, part.select("p_partkey", "p_name"),
                      ("l_partkey", "p_partkey"), broadcast_right=True)
    j = jn.inner_join(j, dims.select("s_suppkey", "s_name", "s_acctbal",
                                     "n_name"),
                      ("l_suppkey", "s_suppkey"), broadcast_right=True)
    pair = agg.group_by_column_agg(
        j, ["l_partkey", "p_name", "l_suppkey", "s_name", "s_acctbal",
            "n_name"],
        {"cost": lambda F: F.min(F.col("l_extendedprice")
                                 / F.col("l_quantity"))})
    w = W.partitionBy("l_partkey")
    pair = pair.withColumn("__minc__", F.min("cost").over(w))
    out = pair.filter(F.col("cost") == F.col("__minc__")) \
              .select("s_acctbal", "s_name", "n_name",
                      F.col("l_partkey").alias("p_partkey"), "p_name",
                      _r4b(F.col("cost")).alias("cost"))
    return out.orderBy(F.col("s_acctbal").desc(), "n_name", "s_name",
                       "p_partkey").limit(100)


@query(oracle="""
            SELECT n_name,
                   year(o_orderdate) AS o_year,
                   round(sum(l_extendedprice * (1 - l_discount)
                             - 0.1 * p_retailprice * l_quantity), 4)
                       AS sum_profit,
                   count(*) AS n_items
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            WHERE p_name LIKE '%red%'
            GROUP BY n_name, o_year
            ORDER BY n_name, o_year DESC
        """)
def q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape: profit per (nation, year) for 'red' parts. No
    partsupp in the testdata, so supply cost is modeled as
    0.1 * p_retailprice * l_quantity. All three dims broadcast; the only
    shuffle is lineitem⋈orders on orderkey plus the final 2-key agg."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    li = _t(spark, sf_dir, "lineitem")
    j = jn.inner_join(li, part.select("p_partkey", "p_retailprice"),
                      ("l_partkey", "p_partkey"), broadcast_right=True)
    supp = jn.inner_join(_t(spark, sf_dir, "supplier"),
                         _t(spark, sf_dir, "nation"),
                         ("s_nationkey", "n_nationkey"),
                         broadcast_right=True)
    j = jn.inner_join(j, supp.select("s_suppkey", "n_name"),
                      ("l_suppkey", "s_suppkey"), broadcast_right=True)
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = jn.inner_join(j, orders, ("l_orderkey", "o_orderkey"))
    profit = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - 0.1 * F.col("p_retailprice") * F.col("l_quantity"))
    out = agg.group_by_column_agg(
        j.withColumn("o_year", F.year("o_orderdate"))
         .withColumn("__p__", profit),
        ["n_name", "o_year"],
        {"sum_profit": lambda F: _r4(F.sum("__p__")),
         "n_items": ("row-count", None)})
    return out.orderBy("n_name", F.col("o_year").desc())


@query(oracle="""
            WITH v AS (
                SELECT l_partkey,
                       sum(l_quantity * p_retailprice) AS value
                FROM lineitem
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
                JOIN part ON l_partkey = p_partkey
                WHERE n_name = 'NATION_7'
                GROUP BY l_partkey)
            SELECT l_partkey AS p_partkey,
                   round(value * 10000) / 10000 AS value
            FROM v
            WHERE value > (SELECT sum(value) * 0.001 FROM v)
            ORDER BY value DESC, p_partkey
        """)
def q11_important_stock(spark, sf_dir):
    """TPC-H Q11 shape: per-part inventory value for one nation's
    suppliers, kept when above a fraction of the total — the scalar
    subquery is a one-row aggregate broadcast back as a cross join
    (no second scan, no single-partition window)."""
    supp = jn.inner_join(
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7"),
        ("s_nationkey", "n_nationkey"), broadcast_right=True)
    li = _t(spark, sf_dir, "lineitem")
    j = jn.inner_join(li, supp.select("s_suppkey"),
                      ("l_suppkey", "s_suppkey"), broadcast_right=True)
    j = jn.inner_join(j, _t(spark, sf_dir, "part")
                      .select("p_partkey", "p_retailprice"),
                      ("l_partkey", "p_partkey"), broadcast_right=True)
    value = agg.group_by_column_agg(
        j, "l_partkey",
        {"value": lambda F: F.sum(F.col("l_quantity")
                                  * F.col("p_retailprice"))})
    total = value.agg((F.sum("value") * 0.001).alias("__thresh__"))
    out = value.join(F.broadcast(total)) \
               .filter(F.col("value") > F.col("__thresh__")) \
               .select(F.col("l_partkey").alias("p_partkey"),
                       _r4b(F.col("value")).alias("value"))
    return out.orderBy(F.col("value").desc(), "p_partkey")


@query(oracle="""
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#1' AND p_size < 16
              AND l_suppkey NOT IN (
                  SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
            GROUP BY p_brand, p_type, p_size
            ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        """)
def q16_supplier_part_count(spark, sf_dir):
    """TPC-H Q16 shape: distinct-supplier count per part attribute bucket,
    excluding flagged suppliers (acctbal < 0 stands in for the comment
    LIKE filter) via a broadcast anti join before the distinct agg."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_size") < 16))
    li = _t(spark, sf_dir, "lineitem")
    j = jn.inner_join(li.select("l_partkey", "l_suppkey"),
                      part.select("p_partkey", "p_brand", "p_type",
                                  "p_size"),
                      ("l_partkey", "p_partkey"), broadcast_right=True)
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0) \
                                       .select("s_suppkey")
    j = jn.anti_join(j, bad, ("l_suppkey", "s_suppkey"))
    out = agg.group_by_column_agg(
        j, ["p_brand", "p_type", "p_size"],
        {"supplier_cnt": ("count-distinct", "l_suppkey")})
    return out.orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type",
                       "p_size")


@query(oracle="""
            WITH pair AS (
                SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate < TIMESTAMP '1997-01-01'
                  AND l_partkey IN (SELECT p_partkey FROM part
                                    WHERE p_name LIKE 'red%')
                GROUP BY l_suppkey, l_partkey),
            excess AS (
                SELECT DISTINCT l_suppkey FROM (
                    SELECT *, sum(qty) OVER (PARTITION BY l_partkey) AS tot
                    FROM pair)
                WHERE qty > 0.3 * tot)
            SELECT s_suppkey, s_name, round(s_acctbal, 4) AS s_acctbal
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
              AND s_suppkey IN (SELECT l_suppkey FROM excess)
            ORDER BY s_name
        """)
def q20_excess_suppliers(spark, sf_dir):
    """TPC-H Q20 shape: suppliers holding an outsized share of a part's
    1996 volume, restricted to EUROPE — a semi-join chain. The
    share-of-part threshold is a window over the (supplier, part)-grained
    aggregate; suppliers flow through one broadcast semi join."""
    from pyspark.sql import Window as W
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")))
    red = _t(spark, sf_dir, "part") \
        .filter(F.col("p_name").startswith("red")).select("p_partkey")
    j = jn.semi_join(li, red, ("l_partkey", "p_partkey"))
    pair = agg.group_by_column_agg(
        j, ["l_suppkey", "l_partkey"],
        {"qty": ("sum", "l_quantity")})
    w = W.partitionBy("l_partkey")
    excess = pair.withColumn("__tot__", F.sum("qty").over(w)) \
                 .filter(F.col("qty") > 0.3 * F.col("__tot__")) \
                 .select("l_suppkey").distinct()
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    dims = jn.inner_join(_t(spark, sf_dir, "nation"), region,
                         ("n_regionkey", "r_regionkey"),
                         broadcast_right=True)
    supp = jn.inner_join(_t(spark, sf_dir, "supplier"), dims,
                         ("s_nationkey", "n_nationkey"),
                         broadcast_right=True)
    out = jn.semi_join(supp, excess, ("s_suppkey", "l_suppkey"))
    return out.select("s_suppkey", "s_name",
                      _r4(F.col("s_acctbal")).alias("s_acctbal")) \
              .orderBy("s_name")


@query(oracle="""
            SELECT s_name, count(*) AS numwait
            FROM lineitem l1
            JOIN orders ON l1.l_orderkey = o_orderkey
            JOIN supplier ON l1.l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE o_orderstatus = 'F'
              AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
              AND n_name IN ('NATION_3', 'NATION_11')
              AND EXISTS (
                  SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (
                  SELECT 1 FROM lineitem l3
                  JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND o3.o_orderstatus = 'F'
                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
            GROUP BY s_name
            ORDER BY numwait DESC, s_name
            LIMIT 20
        """)
def q21_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape: suppliers who alone were late on multi-supplier
    finished orders. 'Late' (no l_commitdate in the testdata) is
    l_shipdate > o_orderdate + 60 days. EXISTS/NOT EXISTS become an
    equi-keyed semi join + anti join with a supplier-inequality residual
    condition — both co-partitioned on orderkey, so the base table is
    shuffled once and reused."""
    orders = _t(spark, sf_dir, "orders") \
        .filter(F.col("o_orderstatus") == "F") \
        .select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    base = jn.inner_join(li, orders, ("l_orderkey", "o_orderkey"))
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 60 DAYS")
    nat = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_11"))
    supp = jn.inner_join(_t(spark, sf_dir, "supplier"), nat,
                         ("s_nationkey", "n_nationkey"),
                         broadcast_right=True)
    l1 = jn.inner_join(base.filter(late), supp.select("s_suppkey", "s_name"),
                       ("l_suppkey", "s_suppkey"), broadcast_right=True)
    # EXISTS side needs no orders join: l2 shares l1's orderkey, so its
    # order is the same F-status order — raw lineitem suffices
    others = li.select(F.col("l_orderkey").alias("__ok__"),
                       F.col("l_suppkey").alias("__sk__"))
    late_others = base.filter(late).select(
        F.col("l_orderkey").alias("__lok__"),
        F.col("l_suppkey").alias("__lsk__"))
    l1 = l1.join(others, (l1["l_orderkey"] == others["__ok__"])
                 & (l1["l_suppkey"] != others["__sk__"]), "leftsemi")
    l1 = l1.join(late_others, (l1["l_orderkey"] == late_others["__lok__"])
                 & (l1["l_suppkey"] != late_others["__lsk__"]), "leftanti")
    out = agg.group_by_column_agg(l1, "s_name",
                                  {"numwait": ("row-count", None)})
    return out.orderBy(F.col("numwait").desc(), "s_name").limit(20)


@query(oracle="""
            WITH s AS (
                SELECT CASE WHEN o_orderkey % 7 = 0
                            THEN '#' || CAST(o_totalprice AS VARCHAR)
                            ELSE CAST(o_totalprice AS VARCHAR) END AS ps
                FROM orders),
            c AS (SELECT ps, TRY_CAST(ps AS DOUBLE) AS d FROM s)
            SELECT count(CASE WHEN d IS NULL AND ps IS NOT NULL
                              THEN 1 END) AS n_failed,
                   count(d) AS n_parsed,
                   round(sum(d), 4) AS sum_parsed
            FROM c
        """)
def cast_failures_orders(spark, sf_dir):
    """column-cast with parse-failure tracking (dataset_api.clj:1026 /
    column_parsers.clj:92-102 ::parse-failure -> missing): corrupt every
    7th price string, try_cast back to double, count failures and sum the
    survivors — the oracle replays it with DuckDB TRY_CAST."""
    from tech_ml_dataset_spark.operators import colmap as cm
    o = _t(spark, sf_dir, "orders").withColumn(
        "price_str",
        F.when(F.col("o_orderkey") % 7 == 0,
               F.concat(F.lit("#"), F.col("o_totalprice").cast("string")))
         .otherwise(F.col("o_totalprice").cast("string")))
    c = cm.column_cast(o, "price_str", "double", failure_col="bad_src")
    return agg.aggregate(c, {
        "n_failed": lambda F: F.count("bad_src"),
        "n_parsed": lambda F: F.count("price_str"),
        "sum_parsed": lambda F: _r4(F.sum("price_str"))})


@query(oracle="""
            WITH o AS (
                SELECT *, row_number() OVER (ORDER BY o_orderkey) - 1 AS rn
                FROM orders)
            SELECT o_orderkey, o_custkey, o_orderstatus,
                   round(o_totalprice, 4) AS o_totalprice
            FROM o WHERE rn IN (0, 1, 7, 50, 99)
            ORDER BY o_orderkey
        """)
def select_rows_orders(spark, sf_dir):
    """select-rows by index collection (base.clj:397) under a total order:
    computed index semi-joined against the broadcast wanted set."""
    o = _t(spark, sf_dir, "orders")
    out = sel.select_rows(o, [0, 1, 7, 50, 99], order_by="o_orderkey")
    return out.select("o_orderkey", "o_custkey", "o_orderstatus",
                      _r4(F.col("o_totalprice")).alias("o_totalprice")) \
              .orderBy("o_orderkey")


@query(oracle="""
            SELECT l_orderkey, round(l_quantity, 4) AS l_quantity,
                   round(l_discount, 4) AS l_discount, l_shipdate
            FROM lineitem
            WHERE l_discount >= 0.05 AND l_quantity < 10
        """)
def filter_project(spark, sf_dir):
    """Projection + predicate — verifies scan pruning/pushdown semantics."""
    li = _t(spark, sf_dir, "lineitem")
    out = sel.filter_rows(
        sel.select_columns(li, ["l_orderkey", "l_quantity", "l_discount", "l_shipdate"]),
        (F.col("l_discount") >= 0.05) & (F.col("l_quantity") < 10))
    return out.withColumn("l_quantity", _r4(F.col("l_quantity"))) \
              .withColumn("l_discount", _r4(F.col("l_discount")))


@query(oracle="""
            SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice
            FROM orders
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 15
        """)
def topk_orders(spark, sf_dir):
    """min-n-by-column / TakeOrderedAndProject (dataset_api.clj:453)."""
    orders = _t(spark, sf_dir, "orders")
    out = orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc()).limit(15)
    return out.select("o_orderkey", "o_custkey", _r4(F.col("o_totalprice")).alias("o_totalprice"))


@query(oracle="""
            SELECT o_orderpriority,
                   count(*) AS n_orders,
                   count(DISTINCT o_custkey) AS n_customers,
                   round(min(o_totalprice), 4) AS min_price,
                   round(max(o_totalprice), 4) AS max_price,
                   round(stddev_samp(o_totalprice), 4) AS stddev_price
            FROM orders
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """)
def group_distinct_stats(spark, sf_dir):
    """count-distinct / min / max / stddev reducers (reductions.clj:202)."""
    orders = _t(spark, sf_dir, "orders")
    out = agg.group_by_column_agg(
        orders, "o_orderpriority",
        {"n_orders": ("row-count", None),
         "n_customers": ("count-distinct", "o_custkey"),
         "min_price": ("min", "o_totalprice"),
         "max_price": ("max", "o_totalprice"),
         "stddev_price": ("stddev", "o_totalprice")})
    for c in ("min_price", "max_price", "stddev_price"):
        out = out.withColumn(c, _r4(F.col(c)))
    return st.sort_by_column(out, "o_orderpriority")


@query(oracle="""
            SELECT l_orderkey, l_linenumber, l_partkey, round(l_quantity, 4) AS l_quantity
            FROM (
                SELECT *, row_number() OVER (PARTITION BY l_orderkey
                                             ORDER BY l_linenumber, l_partkey,
                                                      l_suppkey, l_extendedprice) AS rn
                FROM lineitem
            ) WHERE rn = 1
            ORDER BY l_orderkey
        """)
def unique_by_order(spark, sf_dir):
    """unique-by-column with deterministic survivor (base.clj:778)."""
    li = _t(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is not unique in the synthetic data; the
    # survivor ordering must be total for a deterministic cross-engine result.
    out = st.unique_by_column(li, "l_orderkey",
                              keep_order_by=["l_linenumber", "l_partkey",
                                             "l_suppkey", "l_extendedprice"])
    return out.select("l_orderkey", "l_linenumber", "l_partkey",
                      _r4(F.col("l_quantity")).alias("l_quantity")) \
        .orderBy("l_orderkey")


@query(oracle="""
            SELECT c_custkey, c_name, c_mktsegment
            FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """)
def customers_without_orders(spark, sf_dir):
    """anti-join (reference set/difference analog, set.clj:183)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    out = jn.anti_join(cust, orders, ("c_custkey", "o_custkey"))
    return out.select("c_custkey", "c_name", "c_mktsegment")


@query(oracle="""
            SELECT l_orderkey, l_linenumber, round(l_quantity, 4) AS l_quantity, l_returnflag
            FROM lineitem WHERE l_returnflag = 'R'
            UNION ALL
            SELECT l_orderkey, CAST(l_linenumber AS BIGINT), NULL, l_returnflag
            FROM lineitem WHERE l_returnflag = 'A'
        """)
def concat_slices(spark, sf_dir):
    """concat with widening (base.clj:626-744) — two disjoint slices, one
    with a column dropped (null backfill) and an int column widened."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    a = li.filter(F.col("l_returnflag") == "R")
    b = li.filter(F.col("l_returnflag") == "A") \
          .withColumn("l_linenumber", F.col("l_linenumber").cast("bigint")) \
          .drop("l_quantity")
    out = st.concat(a, b)
    return out.withColumn("l_quantity", _r4(F.col("l_quantity")))


@query(oracle="""
            SELECT l_orderkey, l_returnflag FROM lineitem WHERE l_quantity < 30
            EXCEPT ALL
            SELECT l_orderkey, l_returnflag FROM lineitem WHERE l_quantity < 10
        """)
def lineitem_except(spark, sf_dir):
    """bag difference / EXCEPT ALL (set.clj:183)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    a = li.filter(F.col("l_quantity") < 30)
    b = li.filter(F.col("l_quantity") < 10)
    # NOTE: no output order — see bag_intersect_lineitem.
    return st.difference(a, b)


@query(oracle="""
            SELECT event_id, user_id,
                   round(avg(value) OVER w, 4) AS roll_mean,
                   round(sum(value) OVER w, 4) AS roll_sum
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        """)
def rolling_user_value(spark, sf_dir):
    """Fixed rolling mean/sum, right-aligned 3-row window per user
    (rolling.clj:116-304)."""
    ev = _t(spark, sf_dir, "events")
    out = win.rolling(ev, ["ts", "event_id"],
                      {"roll_mean": ("mean", "value"), "roll_sum": ("sum", "value")},
                      window_size=3, by="user_id", position="left")
    return out.select("event_id", "user_id",
                      _r4(F.col("roll_mean")).alias("roll_mean"),
                      _r4(F.col("roll_sum")).alias("roll_sum"))


@query(oracle="""
            SELECT 'not_null(o_orderkey,o_custkey)' AS rule,
                   CAST(sum(CASE WHEN o_orderkey IS NULL OR o_custkey IS NULL
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
                   sum(CASE WHEN o_orderkey IS NULL OR o_custkey IS NULL
                       THEN 1 ELSE 0 END) = 0 AS passed
            FROM orders
            UNION ALL
            SELECT 'in_range(o_totalprice,0,10000000.0)',
                   CAST(sum(CASE WHEN o_totalprice IS NOT NULL
                                  AND (o_totalprice < 0 OR o_totalprice > 1e7)
                            THEN 1 ELSE 0 END) AS BIGINT),
                   sum(CASE WHEN o_totalprice IS NOT NULL
                             AND (o_totalprice < 0 OR o_totalprice > 1e7)
                       THEN 1 ELSE 0 END) = 0
            FROM orders
            UNION ALL
            SELECT 'one_of(o_orderstatus)',
                   CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
                                  AND o_orderstatus NOT IN ('O','F','P')
                            THEN 1 ELSE 0 END) AS BIGINT),
                   sum(CASE WHEN o_orderstatus IS NOT NULL
                             AND o_orderstatus NOT IN ('O','F','P')
                       THEN 1 ELSE 0 END) = 0
            FROM orders
            UNION ALL
            SELECT 'matches(o_orderpriority)',
                   CAST(sum(CASE WHEN o_orderpriority IS NOT NULL
                                  AND NOT regexp_matches(o_orderpriority, '^[1-5]-')
                            THEN 1 ELSE 0 END) AS BIGINT),
                   sum(CASE WHEN o_orderpriority IS NOT NULL
                             AND NOT regexp_matches(o_orderpriority, '^[1-5]-')
                       THEN 1 ELSE 0 END) = 0
            FROM orders
            UNION ALL
            SELECT 'unique(o_orderkey)',
                   CAST(coalesce(sum(n - 1), 0) AS BIGINT),
                   coalesce(sum(n - 1), 0) = 0
            FROM (SELECT o_orderkey, count(*) AS n FROM orders GROUP BY o_orderkey)
        """)
def validate_orders(spark, sf_dir):
    """Expectation-check report (data-quality gate before a training run):
    row rules fuse into ONE aggregate pass; the uniqueness rule is one
    groupBy — all inside a single returned plan."""
    from tech_ml_dataset_spark.operators import validate as dv
    o = _t(spark, sf_dir, "orders")
    return dv.validate(o, [
        dv.not_null("o_orderkey", "o_custkey"),
        dv.in_range("o_totalprice", 0, 1e7),
        dv.one_of("o_orderstatus", ["O", "F", "P"]),
        dv.matches("o_orderpriority", "^[1-5]-"),
        dv.unique("o_orderkey"),
    ])


@query(oracle="""
            WITH src AS (
                SELECT l_quantity::DOUBLE AS q, l_extendedprice::DOUBLE AS p,
                       l_shipdate < DATE '1998-01-01' AS is_ref
                FROM lineitem
            ), eq AS (
                SELECT list_transform(
                    quantile_cont(q, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
                    x -> round(x, 4)) AS ed
                FROM src WHERE is_ref
            ), ep AS (
                SELECT list_transform(
                    quantile_cont(p, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
                    x -> round(x, 4)) AS ed
                FROM src WHERE is_ref
            ), bq AS (
                SELECT is_ref, len(list_filter(eq.ed, x -> s.q > x)) AS bucket
                FROM src s, eq WHERE s.q IS NOT NULL
            ), bp AS (
                SELECT is_ref, len(list_filter(ep.ed, x -> s.p > x)) AS bucket
                FROM src s, ep WHERE s.p IS NOT NULL
            ), allc AS (
                SELECT 'l_quantity' AS col_name, bucket,
                       sum(CASE WHEN is_ref THEN 1 ELSE 0 END)::DOUBLE AS n_ref,
                       sum(CASE WHEN is_ref THEN 0 ELSE 1 END)::DOUBLE AS n_cur
                FROM bq GROUP BY bucket
                UNION ALL
                SELECT 'l_extendedprice' AS col_name, bucket,
                       sum(CASE WHEN is_ref THEN 1 ELSE 0 END)::DOUBLE,
                       sum(CASE WHEN is_ref THEN 0 ELSE 1 END)::DOUBLE
                FROM bp GROUP BY bucket
            ), tot AS (
                SELECT col_name, sum(n_ref) AS tr, sum(n_cur) AS tc
                FROM allc GROUP BY col_name
            )
            SELECT a.col_name,
                   round(sum((greatest(a.n_cur / t.tc, 1e-6)
                              - greatest(a.n_ref / t.tr, 1e-6))
                             * ln(greatest(a.n_cur / t.tc, 1e-6)
                                  / greatest(a.n_ref / t.tr, 1e-6))) * 1e4)
                       / 1e4 AS psi
            FROM allc a JOIN tot t USING (col_name)
            GROUP BY a.col_name
            ORDER BY col_name
        """)
def psi_drift_lineitem(spark, sf_dir):
    """PSI drift between pre-/post-1998 lineitem shipments: reference-
    quantile buckets (exact interpolated percentiles, edges rounded to 4
    decimals in BOTH engines so interpolation ULP can't flip a bucket
    boundary), per-column stability index."""
    from tech_ml_dataset_spark.operators import validate as dv
    li = _t(spark, sf_dir, "lineitem")
    ref = li.filter(F.col("l_shipdate") < "1998-01-01")
    cur = li.filter(F.col("l_shipdate") >= "1998-01-01")
    out = dv.psi_drift(ref, cur, ["l_quantity", "l_extendedprice"],
                       exact_edges=True, round_edges=4)
    return out.select(F.col("column").alias("col_name"),
                      _r4b(F.col("psi")).alias("psi")).orderBy("col_name")


@query(oracle="""
            WITH src AS (
                SELECT lang, source, doc_id < 250 AS is_ref FROM documents
            ), topl AS (
                SELECT lang AS v FROM (
                    SELECT lang, count(*) AS c FROM src
                    WHERE is_ref AND lang IS NOT NULL
                    GROUP BY lang ORDER BY c DESC, lang ASC LIMIT 10)
            ), tops AS (
                SELECT source AS v FROM (
                    SELECT source, count(*) AS c FROM src
                    WHERE is_ref AND source IS NOT NULL
                    GROUP BY source ORDER BY c DESC, source ASC LIMIT 10)
            ), b AS (
                SELECT 'lang' AS col_name,
                       CASE WHEN lang IN (SELECT v FROM topl) THEN lang
                            ELSE '__other__' END AS bucket, is_ref
                FROM src WHERE lang IS NOT NULL
                UNION ALL
                SELECT 'source',
                       CASE WHEN source IN (SELECT v FROM tops) THEN source
                            ELSE '__other__' END, is_ref
                FROM src WHERE source IS NOT NULL
            ), c AS (
                SELECT col_name, bucket,
                       sum(CASE WHEN is_ref THEN 1 ELSE 0 END)::DOUBLE AS n_ref,
                       sum(CASE WHEN is_ref THEN 0 ELSE 1 END)::DOUBLE AS n_cur
                FROM b GROUP BY col_name, bucket
            ), t AS (
                SELECT col_name, sum(n_ref) AS tr, sum(n_cur) AS tc
                FROM c GROUP BY col_name
            )
            SELECT c.col_name,
                   round(sum((greatest(c.n_cur / t.tc, 1e-6)
                              - greatest(c.n_ref / t.tr, 1e-6))
                             * ln(greatest(c.n_cur / t.tc, 1e-6)
                                  / greatest(c.n_ref / t.tr, 1e-6))) * 1e4)
                       / 1e4 AS psi
            FROM c JOIN t USING (col_name)
            GROUP BY c.col_name
        """)
def psi_drift_categorical_docs(spark, sf_dir):
    """Categorical PSI (language + source mix drift) between the first and
    second half of the corpus: reference top-10 value buckets + __other__,
    derived identically in the oracle."""
    from tech_ml_dataset_spark.operators import validate as dv
    docs = _t(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") < 250)
    cur = docs.filter(F.col("doc_id") >= 250)
    out = dv.psi_drift_categorical(ref, cur, ["lang", "source"], top_k=10)
    return out.select(F.col("column").alias("col_name"),
                      _r4b(F.col("psi")).alias("psi"))


@query(oracle="""
            WITH t AS (
                SELECT doc_id, lang,
                       string_split_regex(lower(trim(text)), '\\s+') AS toks
                FROM documents
            ), base AS (
                SELECT doc_id, lang, len(toks) AS n,
                       CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                           / len(toks) AS mean_len,
                       CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                            AS DOUBLE) / len(toks) AS alpha_frac,
                       len(list_filter(toks, x -> x IN ('the','a','an','and','or',
                                                        'of','to','in','is','it')))
                           AS sw_hits
                FROM t
            ), bg AS (
                SELECT doc_id, g, count(*) AS c
                FROM (SELECT doc_id,
                             unnest([toks[i] || ' ' || toks[i+1]
                                     FOR i IN range(1, len(toks))]) AS g
                      FROM t WHERE len(toks) >= 2)
                GROUP BY doc_id, g
            ), rep AS (
                SELECT doc_id, max(c) AS topc FROM bg GROUP BY doc_id
            ), q AS (
                SELECT b.lang, b.n,
                       (b.n BETWEEN 30 AND 100000)
                       AND (b.mean_len BETWEEN 3.0 AND 10.0)
                       AND (b.alpha_frac >= 0.8) AND (b.sw_hits >= 2)
                       AND ((CASE WHEN b.n <= 1 THEN 0.0
                                  ELSE coalesce(r.topc, 0) * 2.0 / b.n END) <= 0.2)
                           AS quality_pass
                FROM base b LEFT JOIN rep r USING (doc_id)
            )
            SELECT lang, quality_pass, count(*) AS n_docs,
                   CAST(sum(n) AS BIGINT) AS total_tokens,
                   round(avg(n), 4) AS avg_tokens
            FROM q GROUP BY lang, quality_pass
            ORDER BY lang NULLS FIRST, quality_pass NULLS FIRST
        """)
def corpus_composition(spark, sf_dir):
    """Training-mixture composition report: docs and token budget per
    (language, quality bucket) — the summary a data pipeline publishes
    before sampling a training mix. Composes lang column + gopher word
    count + quality_pass in one scan + one groupBy."""
    docs = _t(spark, sf_dir, "documents")
    q = txt.gopher_quality(docs, min_words=30)
    out = agg.group_by_column_agg(
        q.select("lang", "n_words", "quality_pass"),
        ["lang", "quality_pass"],
        {"n_docs": ("row-count", None),
         "total_tokens": ("sum", "n_words"),
         "avg_tokens": ("mean", "n_words")})
    return st.sort_by_column(out.withColumn("avg_tokens", _r4(F.col("avg_tokens"))),
                             "lang").orderBy("lang", "quality_pass")


@query(oracle="""
            WITH b AS (
                SELECT event_id, user_id, ts,
                       CASE WHEN value < 5 THEN NULL ELSE value END AS v,
                       CAST(epoch_us(ts) AS DOUBLE) AS x
                FROM events
            ), w AS (
                SELECT *,
                       last_value(v IGNORE NULLS) OVER wd AS prev_v,
                       first_value(v IGNORE NULLS) OVER wu AS next_v,
                       last_value(CASE WHEN v IS NOT NULL THEN x END IGNORE NULLS)
                           OVER wd AS prev_x,
                       first_value(CASE WHEN v IS NOT NULL THEN x END IGNORE NULLS)
                           OVER wu AS next_x
                FROM b
                WINDOW wd AS (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                       wu AS (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
            )
            SELECT event_id, user_id,
                   round(CASE WHEN v IS NOT NULL THEN v
                              WHEN prev_v IS NULL THEN next_v
                              WHEN next_v IS NULL THEN prev_v
                              WHEN (x - prev_x) <= (next_x - x) THEN prev_v
                              ELSE next_v END, 4) AS value
            FROM w
        """)
def nearest_fill_events(spark, sf_dir):
    """replace-missing :nearest (missing.clj strategy family): fill with
    whichever of prev/next non-null is closer on the ts axis (ties go to
    prev)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts",
        F.when(F.col("value") < 5, None).otherwise(F.col("value")).alias("value"))
    out = ms.replace_missing(ev, "value", "nearest",
                             order_by=["ts", "event_id"], by="user_id")
    # NOTE: deliberately NO output order (winnow_docs-class
    # exception): the final range sort over the applyInPandas fill
    # output measured 1.4-2.0x in one-shot bench conditions (extra
    # sort stage + sampling); the driver hashes a sorted multiset.
    return out.select("event_id", "user_id",
                      _r4(F.col("value")).alias("value"))


@query(oracle="""
            SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                   round(sum(o_totalprice), 4) AS sum_price
            FROM orders
            GROUP BY CUBE (o_orderstatus, o_orderpriority)
            ORDER BY o_orderstatus NULLS FIRST,
                     o_orderpriority NULLS FIRST
        """)
def cube_orders(spark, sf_dir):
    """CUBE grouping sets (parity-plus, SURVEY 2.4): all key subsets in a
    single Expand pass."""
    o = _t(spark, sf_dir, "orders")
    return agg.cube_agg(o, ["o_orderstatus", "o_orderpriority"],
                        {"n": ("row-count", None),
                         "sum_price": lambda F: F.round(F.sum("o_totalprice"), 4)}) \
              .orderBy("o_orderstatus", "o_orderpriority")


@query(oracle="""
            WITH a AS (SELECT o_orderstatus, o_orderpriority FROM orders
                       WHERE o_orderpriority <= '3-MEDIUM'),
                 b AS (SELECT o_orderstatus, o_orderpriority FROM orders
                       WHERE o_orderpriority >= '3-MEDIUM'),
                 ca AS (SELECT o_orderstatus, o_orderpriority, count(*) AS c
                        FROM a GROUP BY ALL),
                 cb AS (SELECT o_orderstatus, o_orderpriority, count(*) AS c
                        FROM b GROUP BY ALL)
            SELECT coalesce(ca.o_orderstatus, cb.o_orderstatus) AS o_orderstatus,
                   coalesce(ca.o_orderpriority, cb.o_orderpriority) AS o_orderpriority,
                   greatest(coalesce(ca.c, 0), coalesce(cb.c, 0)) AS count
            FROM ca FULL OUTER JOIN cb
              ON ca.o_orderstatus = cb.o_orderstatus
             AND ca.o_orderpriority = cb.o_orderpriority
            ORDER BY o_orderstatus, o_orderpriority
        """)
def reduce_union_orders(spark, sf_dir):
    """reduce-union :count (set.clj:118): distinct rows + max multiplicity
    across two slices, one tagged-union shuffle."""
    o = _t(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority")
    a = o.filter(F.col("o_orderpriority") <= "3-MEDIUM")
    b = o.filter(F.col("o_orderpriority") >= "3-MEDIUM")
    return st.reduce_union_counts(a, b) \
        .orderBy("o_orderstatus", "o_orderpriority")


@query(oracle="""
            WITH b AS (
                SELECT event_id, user_id, value,
                       row_number() OVER wo AS rn,
                       sum(value) OVER (wo ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS bs,
                       count(value) OVER (wo ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS bc,
                       first_value(value) OVER (wo ROWS BETWEEN UNBOUNDED PRECEDING
                                                AND UNBOUNDED FOLLOWING) AS fv
                FROM events
                WINDOW wo AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT event_id, user_id,
                   round((bs + greatest(0, 4 - (rn - 1)) * fv)
                         / (bc + greatest(0, 4 - (rn - 1))), 4) AS cl_mean
            FROM b
        """)
def rolling_clamp_user(spark, sf_dir):
    """:clamp edge mode (rolling.clj:130-133 — the reference DEFAULT):
    out-of-range frame positions re-count the partition's boundary value.
    5-row left window mean with clamp padding, per user."""
    ev = _t(spark, sf_dir, "events")
    out = win.rolling(ev, ["ts", "event_id"], {"cl_mean": ("mean", "value")},
                      window_size=5, by="user_id", position="left",
                      edge_mode="clamp")
    return out.select("event_id", "user_id",
                      _r4(F.col("cl_mean")).alias("cl_mean"))


@query(oracle="""
            SELECT l_orderkey, l_linenumber,
                   floor(l_extendedprice * 100) / 100 AS price_c,
                   floor(l_discount * 100) / 100 AS disc_c,
                   floor(l_tax * 100) / 100 AS tax_c
            FROM lineitem
        """)
def columnwise_round_lineitem(spark, sf_dir):
    """update-columnwise (dataset_api.clj:587): one fn over every selected
    column — here floor() over the monetary doubles."""
    from tech_ml_dataset_spark.operators import colmap as cm
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_tax")
    out = cm.update_columnwise(li, ["l_extendedprice", "l_discount", "l_tax"],
                               lambda c: F.floor(c * 100) / 100)
    return out.select("l_orderkey", "l_linenumber",
                      F.col("l_extendedprice").alias("price_c"),
                      F.col("l_discount").alias("disc_c"),
                      F.col("l_tax").alias("tax_c"))


@query(oracle="""
            SELECT event_id, user_id, round(avg(value) OVER w, 4) AS c_mean
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
        """)
def rolling_center_user(spark, sf_dir):
    """Center-aligned fixed window (rolling.clj :relative-window-position
    :center — earlier half before, rest after): 5-row centered mean."""
    ev = _t(spark, sf_dir, "events")
    out = win.rolling(ev, ["ts", "event_id"], {"c_mean": ("mean", "value")},
                      window_size=5, by="user_id", position="center")
    return out.select("event_id", "user_id",
                      _r4(F.col("c_mean")).alias("c_mean"))


@query(oracle="""
            SELECT r.r_name, p.o_orderpriority
            FROM region r CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders) p
            ORDER BY r_name, o_orderpriority
        """)
def cross_region_priority(spark, sf_dir):
    """Explicit cross join (join.py cross): region x distinct order
    priorities — the reference's cross product on small sides."""
    r = _t(spark, sf_dir, "region").select("r_name")
    p = _t(spark, sf_dir, "orders").select("o_orderpriority").distinct()
    return jn.cross_join(r, p).orderBy("r_name", "o_orderpriority")


@query(oracle="""
            SELECT event_id, user_id,
                   round(corr(value, event_id) OVER w, 4) AS corr_value_eid
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        """)
def rolling_corr_user(spark, sf_dir):
    """Multi-column rolling reducer (rolling.clj:102-111,200-216): Pearson
    correlation of (value, event_id) over a 20-row right-aligned window per
    user — Spark's declarative corr aggregate runs directly inside
    WindowExec, exercising the two-column spec form. NaN (constant frame)
    normalized to NULL for engine parity."""
    ev = _t(spark, sf_dir, "events")
    out = win.rolling(ev, ["ts", "event_id"],
                      {"c": ("corr", ["value", "event_id"])},
                      window_size=20, by="user_id", position="left")
    c = F.when(F.isnan(F.col("c")), F.lit(None)).otherwise(F.col("c"))
    # NOTE: deliberately NO output order (winnow_docs-class
    # exception): the final range sort over the applyInPandas fill
    # output measured 1.4-2.0x in one-shot bench conditions (extra
    # sort stage + sampling); the driver hashes a sorted multiset.
    return out.select("event_id", "user_id",
                      _r4(c).alias("corr_value_eid"))


@query(oracle="""
            SELECT l.o_orderkey, l.o_custkey, l.o_orderdate,
                   round(sum(r.o_totalprice), 4) AS sum_3m,
                   count(r.o_orderkey) AS n_3m
            FROM orders l JOIN orders r
              ON r.o_custkey = l.o_custkey
             AND r.o_orderdate <= l.o_orderdate
             AND r.o_orderdate >= l.o_orderdate - INTERVAL 3 MONTH
            GROUP BY l.o_orderkey, l.o_custkey, l.o_orderdate
        """)
def rolling_monthly_orders(spark, sf_dir):
    """Calendar-month variable window (rolling.clj:281-301 datetime units):
    3-month anchored rolling sum/count of order totals per customer.
    Month subtraction clamps to month end (add_months), matching SQL
    date - INTERVAL arithmetic."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    out = win.rolling_range(o, "o_orderdate",
                            {"sum_3m": ("sum", "o_totalprice"),
                             "n_3m": ("count", "o_orderkey")},
                            window_size=3, by="o_custkey", units="months")
    return out.select("o_orderkey", "o_custkey", "o_orderdate",
                      _r4(F.col("sum_3m")).alias("sum_3m"), "n_3m")


@query(oracle="""
            SELECT event_id, user_id,
                   round(sum(value) OVER w, 4) AS cum_sum,
                   count(value) OVER w AS cum_n
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """)
def expanding_user_cumsum(spark, sf_dir):
    """Expanding/cumulative window (rolling.clj:307-314)."""
    ev = _t(spark, sf_dir, "events")
    out = win.expanding(ev, ["ts", "event_id"], {"cum_sum": ("sum", "value"),
                                                 "cum_n": ("count", "value")}, by="user_id")
    return out.select("event_id", "user_id", _r4(F.col("cum_sum")).alias("cum_sum"), "cum_n")


@query(oracle="""
            SELECT event_id, user_id,
                   round(lag(value, 1) OVER w, 4) AS prev_value,
                   lead(event_type, 1) OVER w AS next_type,
                   row_number() OVER w AS rn
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ORDER BY event_id
        """)
def analytic_lag_rank(spark, sf_dir):
    """Parity-plus analytics: lag/lead/rank over user sessions."""
    ev = _t(spark, sf_dir, "events")
    out = win.with_analytic(ev, ["ts", "event_id"],
                            {"prev_value": ("lag", "value", 1),
                             "next_type": ("lead", "event_type", 1),
                             "rn": "row-number"}, by="user_id")
    return out.select("event_id", "user_id",
                      _r4(F.col("prev_value")).alias("prev_value"),
                      "next_type", "rn").orderBy("event_id")


@query(oracle="""
            SELECT event_id, user_id,
                   round(last_value(CASE WHEN value < 5 THEN NULL ELSE value END IGNORE NULLS)
                         OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS value
            FROM events
        """)
def ffill_events(spark, sf_dir):
    """replace-missing :down (missing.clj:242) — nulls synthesized
    deterministically (value<5 → missing), forward-filled per user."""
    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("value", F.when(F.col("value") < 5, None).otherwise(F.col("value")))
    out = ms.replace_missing(ev, "value", "down", order_by=["ts", "event_id"], by="user_id")
    # NOTE: deliberately NO output order (winnow_docs-class
    # exception): the final range sort over the applyInPandas fill
    # output measured 1.4-2.0x in one-shot bench conditions (extra
    # sort stage + sampling); the driver hashes a sorted multiset.
    return out.select("event_id", "user_id",
                      _r4(F.col("value")).alias("value"))


@query(oracle="""
            WITH purchases AS (
                SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
            ), clicks AS (
                SELECT user_id, ts, max(value) AS click_value
                FROM events WHERE event_type = 'click' GROUP BY user_id, ts
            ), matched AS (
                SELECT p.*, (SELECT max(c.ts) FROM clicks c
                             WHERE c.user_id = p.user_id AND c.ts <= p.ts) AS click_ts
                FROM purchases p
            )
            SELECT m.event_id, m.user_id, m.ts, round(m.value, 4) AS value,
                   m.click_ts, round(c.click_value, 4) AS click_value
            FROM matched m
            LEFT JOIN clicks c ON c.user_id = m.user_id AND c.ts = m.click_ts
        """)
def asof_purchase_click(spark, sf_dir):
    """left-join-asof (join.clj:747-799): latest click at-or-before each
    purchase, per user — asof_op '>=' (purchase.ts >= click.ts; ops read
    l OP r per the reference convention)."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase") \
                  .select("event_id", "user_id", "ts", "value")
    clicks = ev.filter(F.col("event_type") == "click") \
               .groupBy("user_id", "ts").agg(F.max("value").alias("click_value"))
    out = jn.left_join_asof(purchases, clicks, "ts", by="user_id", asof_op=">=")
    return out.select("event_id", "user_id", "ts",
                      _r4(F.col("value")).alias("value"),
                      F.col("`right.ts`").alias("click_ts"),
                      _r4(F.col("click_value")).alias("click_value"))


@query(oracle="""
            WITH purchases AS (
                SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
            ), clicks AS (
                SELECT user_id, ts, max(value) AS click_value
                FROM events WHERE event_type = 'click' GROUP BY user_id, ts
            ), cand AS (
                SELECT p.event_id, p.user_id, p.ts,
                       (SELECT max(c.ts) FROM clicks c
                        WHERE c.user_id = p.user_id AND c.ts <= p.ts) AS back_ts,
                       (SELECT min(c.ts) FROM clicks c
                        WHERE c.user_id = p.user_id AND c.ts >= p.ts) AS fwd_ts
                FROM purchases p
            ), pick AS (
                SELECT event_id, user_id, ts,
                       -- tie -> FORWARD click (reference abs-diff law:
                       -- the earlier neighbor wins only when STRICTLY
                       -- closer; r4 flip)
                       CASE WHEN back_ts IS NULL THEN fwd_ts
                            WHEN fwd_ts IS NULL THEN back_ts
                            WHEN epoch_us(ts) - epoch_us(back_ts)
                                 < epoch_us(fwd_ts) - epoch_us(ts)
                            THEN back_ts ELSE fwd_ts END AS click_ts
                FROM cand
            )
            SELECT k.event_id, k.user_id, k.ts, k.click_ts,
                   round(c.click_value, 4) AS click_value
            FROM pick k
            LEFT JOIN clicks c ON c.user_id = k.user_id AND c.ts = k.click_ts
        """)
def asof_nearest_click(spark, sf_dir):
    """left-join-asof :nearest (join.clj:716): the click CLOSEST in time to
    each purchase on either side; an exact-distance tie picks the LATER
    click (reference abs-diff law, join.clj:687-713). Both
    directional passes share one union+window shape, then a per-row
    distance pick (no Python)."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase") \
                  .select("event_id", "user_id", "ts", "value")
    clicks = ev.filter(F.col("event_type") == "click") \
               .groupBy("user_id", "ts").agg(F.max("value").alias("click_value"))
    out = jn.left_join_asof(purchases, clicks, "ts", by="user_id",
                            asof_op="nearest")
    return out.select("event_id", "user_id", "ts",
                      F.col("`right.ts`").alias("click_ts"),
                      _r4(F.col("click_value")).alias("click_value"))


@query(oracle="""
            WITH purchases AS (
                SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
            ), clicks AS (
                SELECT user_id, ts, max(value) AS click_value
                FROM events WHERE event_type = 'click' GROUP BY user_id, ts
            ), matched AS (
                SELECT p.event_id, p.user_id, p.ts,
                       (SELECT min(c.ts) FROM clicks c
                        WHERE c.user_id = p.user_id AND c.ts > p.ts) AS click_ts
                FROM purchases p
            )
            SELECT m.event_id, m.user_id, m.ts, m.click_ts,
                   round(c.click_value, 4) AS click_value
            FROM matched m
            LEFT JOIN clicks c ON c.user_id = m.user_id AND c.ts = m.click_ts
        """)
def asof_strict_click(spark, sf_dir):
    """left-join-asof strict '<' (join.clj:615 asof-lt): the EARLIEST click
    strictly after each purchase (purchase.ts < click.ts) — an
    equal-timestamp click must NOT match (side-order tiebreak inside the
    descending window)."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase") \
                  .select("event_id", "user_id", "ts", "value")
    clicks = ev.filter(F.col("event_type") == "click") \
               .groupBy("user_id", "ts").agg(F.max("value").alias("click_value"))
    out = jn.left_join_asof(purchases, clicks, "ts", by="user_id", asof_op="<")
    return out.select("event_id", "user_id", "ts",
                      F.col("`right.ts`").alias("click_ts"),
                      _r4(F.col("click_value")).alias("click_value"))


@query(oracle="""
            WITH a AS (
                SELECT l_orderkey, l_linenumber,
                       CAST(l_quantity AS INT) AS qty,
                       CAST(l_linenumber AS SMALLINT) AS lineno_w,
                       CAST(l_linenumber AS VARCHAR) AS mixed,
                       CAST(l_shipdate AS DATE) AS when_w,
                       l_returnflag AS only_a,
                       CAST(NULL AS DOUBLE) AS only_b
                FROM lineitem WHERE l_orderkey % 7 = 0
            ), b AS (
                SELECT l_orderkey, l_linenumber,
                       l_quantity AS qty,
                       CAST(l_linenumber AS BIGINT) AS lineno_w,
                       l_linestatus AS mixed,
                       l_shipdate AS when_w,
                       CAST(NULL AS VARCHAR) AS only_a,
                       l_extendedprice AS only_b
                FROM lineitem WHERE l_orderkey % 7 = 3
            ), u AS (
                SELECT l_orderkey, l_linenumber,
                       CAST(qty AS DOUBLE) AS qty,
                       CAST(lineno_w AS BIGINT) AS lineno_w,
                       mixed,
                       CAST(when_w AS TIMESTAMP) AS when_w,
                       only_a, only_b
                FROM (SELECT * FROM a UNION ALL BY NAME SELECT * FROM b)
            )
            SELECT * FROM u ORDER BY l_orderkey, l_linenumber
        """)
def concat_widen_lineitem(spark, sf_dir):
    """concat dtype-widening gauntlet (base.clj:642-655; reference test
    matrix dataset_test.clj:356-423): int+double -> double, smallint+bigint
    -> bigint, int+string -> string, date+timestamp -> timestamp, and
    one-sided columns null-backfilled — all in a single zero-shuffle
    unionByName after widened casts."""
    li = _t(spark, sf_dir, "lineitem")
    a = (li.filter(F.col("l_orderkey") % 7 == 0)
           .select("l_orderkey", "l_linenumber",
                   F.col("l_quantity").cast("int").alias("qty"),
                   F.col("l_linenumber").cast("smallint").alias("lineno_w"),
                   F.col("l_linenumber").alias("mixed"),
                   F.col("l_shipdate").cast("date").alias("when_w"),
                   F.col("l_returnflag").alias("only_a")))
    b = (li.filter(F.col("l_orderkey") % 7 == 3)
           .select("l_orderkey", "l_linenumber",
                   F.col("l_quantity").alias("qty"),
                   F.col("l_linenumber").cast("bigint").alias("lineno_w"),
                   F.col("l_linestatus").alias("mixed"),
                   F.col("l_shipdate").cast("timestamp").alias("when_w"),
                   F.col("l_extendedprice").alias("only_b")))
    return st.concat(a, b).orderBy("l_orderkey", "l_linenumber")


@query(oracle="""
            -- recompute the flattened leaves from the source columns;
            -- malformed rows (doc_id % 7 == 0) are all-NULL (PERMISSIVE)
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0 THEN NULL
                        ELSE lang END AS meta_lang,
                   CASE WHEN doc_id % 7 = 0 THEN NULL
                        ELSE doc_id * doc_id END AS meta_idsq,
                   CASE WHEN doc_id % 7 = 0 THEN NULL
                        ELSE round(doc_id / 7.0, 4) END AS score
            FROM documents WHERE doc_id < 400
            ORDER BY doc_id
        """)
def json_normalize_docs(spark, sf_dir):
    """Nested-JSON flattening (reshape.py json_normalize — the
    pandas.json_normalize analog as ONE JVM-side from_json projection):
    render a nested JSON blob per document, flatten it back with an
    EXPLICIT schema (the production arm — no sampling), and return the
    typed leaf columns under their dotted names. The oracle recomputes
    the leaves from the source columns directly, so any drift in JSON
    rendering, from_json parsing, or the struct-walk naming breaks the
    hash. Every doc_id % 7 == 0 row gets malformed JSON to pin the
    PERMISSIVE all-NULL law in the same hash."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400) \
        .select("doc_id", "lang")
    j = F.when(F.col("doc_id") % 7 == 0, F.lit("not valid json")) \
        .otherwise(F.concat(
            F.lit('{"meta": {"lang": "'), F.col("lang"),
            F.lit('", "idsq": '),
            (F.col("doc_id") * F.col("doc_id")).cast("string"),
            F.lit('}, "score": '),
            F.round(F.col("doc_id") / 7.0, 4).cast("string"),
            F.lit('}')))
    blob = docs.select("doc_id", j.alias("payload"))
    out = rs.json_normalize(
        blob, "payload",
        schema="meta struct<lang:string, idsq:bigint>, score double")
    return out.select("doc_id", F.col("`meta.lang`").alias("meta_lang"),
                      F.col("`meta.idsq`").alias("meta_idsq"),
                      F.col("score")).orderBy("doc_id")


@query(oracle="""
            -- full replay of the exponentiated-sampling law: census,
            -- min(n, floor(total*n^a/sum(n^a)+0.5)) budgets, md5 ranks
            WITH c AS (
                SELECT lang, count(*) AS n FROM documents GROUP BY lang
            ), w AS (
                SELECT lang, n, pow(n, 0.3) AS wt FROM c
            ), tg AS (
                SELECT lang, n,
                       least(n, CAST(floor(300 * wt /
                                (SELECT sum(wt) FROM w) + 0.5) AS BIGINT))
                           AS t
                FROM w
            ), r AS (
                SELECT doc_id, lang,
                       row_number() OVER (
                           PARTITION BY lang
                           ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'),
                                    doc_id) AS rn
                FROM documents
            )
            SELECT r.lang, r.doc_id
            FROM r JOIN tg USING (lang) WHERE r.rn <= tg.t
            ORDER BY lang, doc_id
        """)
def temperature_resample_docs(spark, sf_dir):
    """Language temperature resampling (selection.py temperature_resample
    — the mC4 / XLM-R exponentiated-sampling standard, Conneau 2020
    §3.1): rebalance the documents corpus to ~300 rows at alpha=0.3
    (tail languages up-sampled, head capped), with the engine-portable
    md5 draw. The oracle recomputes the census, the
    min(n, floor(total*n^a/sum(n^a)+0.5)) budgets, and the per-language
    md5 ranks from scratch — census, budget arithmetic, and draw are all
    hash-checked."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    out = sel.temperature_resample(docs, "lang", 300, alpha=0.3,
                                   key_col="doc_id", seed=42)
    return out.select("lang", "doc_id").orderBy("lang", "doc_id")


@query(oracle="""
            WITH gaps AS (
                SELECT user_id, event_id, ts, value,
                       CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                                 OR lag(ts) OVER w IS NULL
                            THEN 1 ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sessions AS (
                SELECT user_id, value,
                       sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS session_seq
                FROM gaps
            )
            SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
                   count(*) AS n_events,
                   round(sum(value), 4) AS session_value
            FROM sessions GROUP BY user_id, session_seq
            ORDER BY user_id, session_seq
        """)
def sessionize_events(spark, sf_dir):
    """Batch sessionization (30-min inactivity gap) via the reusable
    tss.sessionize operator (lag + cumulative sum sharing one window
    sort) — the batch analog of streaming session windows (SURVEY §2.5)."""
    ev = _t(spark, sf_dir, "events")
    sess = tss.sessionize(ev, "ts", gap_seconds=1800, by="user_id",
                          order_tiebreak=["event_id"])
    out = sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        _r4(F.sum("value")).alias("session_value"))
    return out.orderBy("user_id", "session_seq")


@query(oracle="""
            SELECT p.event_id, count(*) AS n_clicks,
                   round(sum(c.value), 4) AS click_value
            FROM events p
            JOIN events c
              ON c.user_id = p.user_id
             AND c.event_type = 'click'
             AND c.ts >= p.ts - INTERVAL 30 MINUTE
             AND c.ts < p.ts
            WHERE p.event_type = 'purchase'
            GROUP BY p.event_id
            ORDER BY p.event_id
        """)
def attribution_range_join(spark, sf_dir):
    """Bucketized interval join (operators/join.py range_join; SURVEY §2.3
    theta-join gap, parity-plus): click-to-purchase attribution — count
    clicks by the same user in the 30 minutes before each purchase. The
    bucket width equals the window, so every interval explodes to ≤ 2
    buckets and the plan is an equi shuffle join, never a nested loop."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
        F.col("value").alias("c_value"))
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts",
        (F.col("ts") - F.expr("INTERVAL 30 MINUTES")).alias("lo"))
    j = jn.range_join(clicks, purch, "c_ts", "lo", "ts",
                      on=[("c_user", "user_id")], bounds="[)",
                      bucket=1_800_000_000.0)
    out = j.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        _r4(F.sum("c_value")).alias("click_value"))
    return out.orderBy("event_id")


@query(oracle="""
            WITH b AS (
                SELECT event_id, user_id, ts, value FROM events
                WHERE value IS NOT NULL
            ), w AS (
                SELECT event_id, user_id,
                       sum(value) OVER fr AS s, min(value) OVER fr AS mn,
                       max(value) OVER fr AS mx, count(*) OVER fr AS n,
                       avg(value) OVER fr AS av
                FROM b
                WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
            )
            SELECT event_id, user_id,
                   round((CASE WHEN n > 2 THEN (s - mn - mx) / (n - 2)
                               ELSE av END) * 10000) / 10000 AS tmean
            FROM w ORDER BY user_id, event_id
        """)
def rolling_trimmed_events(spark, sf_dir):
    """Window-UDF tier driver-checked (window.py rolling_udf; SURVEY §2.8
    window-UDF): 5-row trailing TRIMMED mean (drop one min and one max)
    per user — an arbitrary Python frame reducer whose closed form the
    oracle recomputes as (sum-min-max)/(n-2) over the same SQL window."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull()) \
        .select("event_id", "user_id", "ts", "value")

    def trimmed(s):
        import numpy as np
        return s.apply(lambda fr: (sum(fr) - min(fr) - max(fr)) / (len(fr) - 2)
                       if len(fr) > 2 else float(np.mean(fr)))

    out = win.rolling_udf(ev, ["ts", "event_id"],
                          {"tmean": (trimmed, "value", "double")},
                          window_size=5, by="user_id", position="left")
    return _ckpt_sort(out.select("event_id", "user_id",
                      _r4b(F.col("tmean")).alias("tmean")) \
              , "user_id", "event_id")


@query(oracle="""
            WITH RECURSIVE base AS (
                SELECT user_id, event_id, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn
                FROM events WHERE value IS NOT NULL
            ), rec AS (
                SELECT user_id, event_id, rn, 0.5 * 0.0 + value AS acc
                FROM base WHERE rn = 1
                UNION ALL
                SELECT b.user_id, b.event_id, b.rn, 0.5 * r.acc + b.value
                FROM rec r JOIN base b
                  ON b.user_id = r.user_id AND b.rn = r.rn + 1
            )
            SELECT event_id, user_id, round(acc * 10000) / 10000 AS acc
            FROM rec ORDER BY user_id, event_id
        """)
def induction_events(spark, sf_dir):
    """``induction`` (dataset_api.clj:1402) driver-checked: the per-user
    decaying accumulator acc = 0.5·acc + value over (ts, event_id) order —
    inherently sequential within a group, parallel across groups
    (applyInPandas), replayed by the oracle as a recursive CTE."""
    from tech_ml_dataset_spark.operators import colmap as cm
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull()) \
        .select("event_id", "user_id", "ts", "value")
    out = cm.induction(ev, ["ts", "event_id"], "acc",
                       lambda acc, row: 0.5 * acc + row["value"],
                       init=0.0, by="user_id")
    out = out.select("event_id", "user_id",
                     _r4b(F.col("acc")).alias("acc"))
    return _ckpt_sort(out, "user_id", "event_id")


@query(oracle="""
            WITH a AS (
                SELECT l_orderkey, l_linenumber, round(l_quantity, 4) AS l_quantity
                FROM lineitem WHERE l_orderkey < 2000
            ), b AS (
                SELECT * FROM a WHERE l_linenumber <> 3
                UNION ALL
                SELECT * FROM a WHERE l_linenumber = 1
            ), ca AS (
                SELECT l_orderkey, l_linenumber, l_quantity, count(*) AS c
                FROM a GROUP BY ALL
            ), cb AS (
                SELECT l_orderkey, l_linenumber, l_quantity, count(*) AS c
                FROM b GROUP BY ALL
            )
            SELECT coalesce(ca.l_orderkey, cb.l_orderkey) AS l_orderkey,
                   coalesce(ca.l_linenumber, cb.l_linenumber) AS l_linenumber,
                   coalesce(ca.l_quantity, cb.l_quantity) AS l_quantity,
                   coalesce(ca.c, 0) AS n_left,
                   coalesce(cb.c, 0) AS n_right,
                   coalesce(ca.c, 0) - coalesce(cb.c, 0) AS delta
            FROM ca FULL JOIN cb
              ON ca.l_orderkey = cb.l_orderkey
             AND ca.l_linenumber = cb.l_linenumber
             AND ca.l_quantity = cb.l_quantity
            WHERE coalesce(ca.c, 0) <> coalesce(cb.c, 0)
            ORDER BY l_orderkey, l_linenumber, l_quantity
        """)
def dataset_diff_lineitem(spark, sf_dir):
    """Bag diff (operators/setops.py dataset_diff; validation companion of
    the reference's dataset equality, dataset_test.clj:796-846): one
    tagged-union shuffle yields every row with differing multiplicity and
    the signed delta. Right side drops linenumber-3 rows and duplicates
    linenumber-1 rows, so both directions appear."""
    a = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 2000) \
        .select("l_orderkey", "l_linenumber",
                _r4(F.col("l_quantity")).alias("l_quantity"))
    b = a.filter(F.col("l_linenumber") != 3) \
         .unionByName(a.filter(F.col("l_linenumber") == 1))
    out = st.dataset_diff(a, b)
    return out.orderBy("l_orderkey", "l_linenumber", "l_quantity")


@query(oracle="""
            SELECT event_type, count(*) AS n,
                   round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k,
                   max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
            FROM events
            GROUP BY event_type ORDER BY event_type
        """)
def events_json_extract(spark, sf_dir):
    """JSON prop extraction (scalar-function surface, SURVEY §2.7)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    out = ev.withColumn("prop_k", k).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("prop_k").alias("avg_k"),
        F.max("prop_k").alias("max_k"))
    out = out.withColumn("avg_k", _r4(F.col("avg_k")))
    return st.sort_by_column(out, "event_type")


@query(oracle="""
            SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
            FROM documents
        """)
def unroll_doc_tokens(spark, sf_dir):
    """unroll-column / explode (dataset_api.clj:1204) on tokenized text."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks"))
    out = rs.unroll_column(toks, "toks")
    return out.withColumnRenamed("toks", "token")


@query(oracle="""
            SELECT p_partkey, 'p_size' AS "column", round(CAST(p_size AS DOUBLE), 4) AS value
            FROM part
            UNION ALL
            SELECT p_partkey, 'p_retailprice', round(p_retailprice, 4) FROM part
            ORDER BY p_partkey, "column"
        """)
def melt_part_attrs(spark, sf_dir):
    """columnwise-concat / unpivot (dataset_api.clj:1126)."""
    part = _t(spark, sf_dir, "part")
    p = part.select("p_partkey", F.col("p_size").cast("double").alias("p_size"),
                    "p_retailprice")
    out = rs.columnwise_concat(p, ["p_size", "p_retailprice"])
    return out.withColumn("value", _r4(F.col("value"))) \
              .orderBy("p_partkey", "column")


@query(oracle="""
            SELECT o_orderstatus,
                   round(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END), 4) AS "1-URGENT",
                   round(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice END), 4) AS "2-HIGH",
                   round(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice END), 4) AS "3-MEDIUM",
                   round(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_totalprice END), 4) AS "4-NOT SPECIFIED",
                   round(sum(CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice END), 4) AS "5-LOW"
            FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
        """)
def pivot_status_priority(spark, sf_dir):
    """transpose-by-key / pivot (dataset_api.clj:1472)."""
    orders = _t(spark, sf_dir, "orders")
    vals = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    out = rs.transpose_by_key(orders.select("o_orderstatus", "o_orderpriority",
                                            "o_totalprice"),
                              "o_orderpriority", "o_totalprice",
                              group_by=["o_orderstatus"], values=vals, agg="sum")
    for v in vals:
        out = out.withColumn(v, _r4(F.col(f"`{v}`")))
    return st.sort_by_column(out, "o_orderstatus")


@query(oracle="""
            SELECT l_returnflag,
                   round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
                   round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """)
def corr_quantity_price(spark, sf_dir):
    """correlation (column.clj:92 stats surface) as a single-pass agg."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        _r4(F.corr("l_quantity", "l_extendedprice")).alias("corr_qty_price"),
        _r4(F.covar_samp("l_quantity", "l_extendedprice")).alias("covar_qty_price"),
    ).orderBy("l_returnflag")


@query(oracle="""
            SELECT l_orderkey, l_linenumber, l_partkey,
                   round(l_extendedprice, 4) AS l_extendedprice
            FROM (SELECT *, row_number() OVER (ORDER BY l_orderkey, l_linenumber,
                                               l_partkey, l_extendedprice) - 1 AS rn
                  FROM lineitem)
            WHERE rn % 100 = 0
        """)
def take_nth_lineitem(spark, sf_dir):
    """take-nth positional selection (base.clj:797) under a total order."""
    li = _t(spark, sf_dir, "lineitem")
    out = sel.take_nth(li, 100, order_by=["l_orderkey", "l_linenumber",
                                          "l_partkey", "l_extendedprice"])
    return out.select("l_orderkey", "l_linenumber", "l_partkey",
                      _r4(F.col("l_extendedprice")).alias("l_extendedprice"))


@query(oracle="""
            SELECT event_id, user_id,
                   round(coalesce(
                       first_value(CASE WHEN value < 5 THEN NULL ELSE value END IGNORE NULLS)
                           OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
                       last_value(CASE WHEN value < 5 THEN NULL ELSE value END IGNORE NULLS)
                           OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 4) AS value
            FROM events
        """)
def bfill_updown_events(spark, sf_dir):
    """replace-missing :updown (missing.clj:209-236): backward fill with
    forward-fill fallback for trailing nulls."""
    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("value", F.when(F.col("value") < 5, None).otherwise(F.col("value")))
    out = ms.replace_missing(ev, "value", "updown", order_by=["ts", "event_id"], by="user_id")
    # NOTE: deliberately NO output order (winnow_docs-class
    # exception): the final range sort over the applyInPandas fill
    # output measured 1.4-2.0x in one-shot bench conditions (extra
    # sort stage + sampling); the driver hashes a sorted multiset.
    return out.select("event_id", "user_id",
                      _r4(F.col("value")).alias("value"))


@query(oracle="""
            WITH base AS (
                SELECT event_id, user_id, ts, epoch(ts) AS x,
                       CASE WHEN value < 5 THEN NULL ELSE value END AS v
                FROM events
            ), w AS (
                SELECT *,
                       last_value(v IGNORE NULLS) OVER wd AS prev_v,
                       first_value(v IGNORE NULLS) OVER wu AS next_v,
                       last_value(CASE WHEN v IS NOT NULL THEN x END IGNORE NULLS)
                           OVER wd AS prev_x,
                       first_value(CASE WHEN v IS NOT NULL THEN x END IGNORE NULLS)
                           OVER wu AS next_x
                FROM base
                WINDOW wd AS (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                       wu AS (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
            )
            SELECT event_id, user_id,
                   round(CASE WHEN v IS NOT NULL THEN v
                         ELSE coalesce(prev_v + (next_v - prev_v) *
                                       (CASE WHEN next_x <> prev_x
                                             THEN (x - prev_x) / (next_x - prev_x) END),
                                       prev_v, next_v) END, 4) AS value
            FROM w
        """)
def lerp_events(spark, sf_dir):
    """replace-missing :lerp (missing.clj:77-207): linear interpolation along
    the timestamp axis between neighboring non-missing values, per user."""
    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("value", F.when(F.col("value") < 5, None).otherwise(F.col("value")))
    out = ms.replace_missing(ev, "value", "lerp", order_by=["ts", "event_id"], by="user_id")
    # NOTE: deliberately NO output order (winnow_docs-class
    # exception): the final range sort over the applyInPandas fill
    # output measured 1.4-2.0x in one-shot bench conditions (extra
    # sort stage + sampling); the driver hashes a sorted multiset.
    return out.select("event_id", "user_id",
                      _r4(F.col("value")).alias("value"))


@query(oracle="""
            WITH base AS (
                SELECT event_id, user_id,
                       CASE WHEN event_id % 5 = 2 THEN NULL ELSE ts END AS v,
                       CAST(event_id AS DOUBLE) AS x
                FROM events
            ), w AS (
                SELECT *,
                       last_value(CASE WHEN v IS NOT NULL
                                       THEN CAST(epoch_us(v) AS DOUBLE) END
                                  IGNORE NULLS) OVER wd AS prev_v,
                       first_value(CASE WHEN v IS NOT NULL
                                        THEN CAST(epoch_us(v) AS DOUBLE) END
                                   IGNORE NULLS) OVER wu AS next_v,
                       last_value(CASE WHEN v IS NOT NULL THEN x END
                                  IGNORE NULLS) OVER wd AS prev_x,
                       first_value(CASE WHEN v IS NOT NULL THEN x END
                                   IGNORE NULLS) OVER wu AS next_x
                FROM base
                WINDOW wd AS (PARTITION BY user_id ORDER BY event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                       wu AS (PARTITION BY user_id ORDER BY event_id
                              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
            )
            SELECT event_id, user_id,
                   CASE WHEN v IS NOT NULL THEN v
                        ELSE make_timestamp(CAST(round(
                               coalesce(prev_v + (next_v - prev_v) *
                                        (CASE WHEN next_x <> prev_x
                                              THEN (x - prev_x) / (next_x - prev_x)
                                         END),
                                        prev_v, next_v)) AS BIGINT))
                   END AS ts2
            FROM w
        """)
def ts_lerp_events(spark, sf_dir):
    """replace-missing :lerp on a DATETIME column (reference
    dataset_test.clj:899-908 replace-missing-ldt): the fill target is the
    timestamp itself, interpolated linearly in epoch-micros space along
    the event_id axis, per user — the temporal-arithmetic extension of
    missing.py (value arithmetic in epoch micros, converted back to the
    column's temporal type)."""
    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("ts2", F.when(F.col("event_id") % 5 == 2, None)
                              .otherwise(F.col("ts")))
    out = ms.replace_missing(ev, "ts2", "lerp", order_by=["event_id"],
                             by="user_id")
    # NOTE: deliberately NO output order (winnow_docs-class
    # exception): the final range sort over the applyInPandas fill
    # output measured 1.4-2.0x in one-shot bench conditions (extra
    # sort stage + sampling); the driver hashes a sorted multiset.
    return out.select("event_id", "user_id", "ts2")


@query(oracle="""
            WITH cust AS (
                SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 5000
            ), big AS (
                SELECT o_custkey, count(*) AS n_big,
                       round(sum(o_totalprice), 4) AS sum_big
                FROM orders WHERE o_totalprice > 300000 GROUP BY o_custkey
            )
            SELECT c_custkey, c_name, o_custkey, n_big, sum_big
            FROM cust FULL OUTER JOIN big ON c_custkey = o_custkey
            ORDER BY c_custkey ASC NULLS FIRST, o_custkey ASC NULLS FIRST
        """)
def pd_merge_outer(spark, sf_dir):
    """pd-merge :outer with distinct key names (join.clj:545-575): both
    unmatched sides survive with nulls."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000) \
        .select("c_custkey", "c_name")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000) \
        .groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_big"),
                                  _r4(F.sum("o_totalprice")).alias("sum_big"))
    return jn.pd_merge(cust, big, left_on="c_custkey", right_on="o_custkey",
                       how="outer").orderBy("c_custkey", "o_custkey")


@query(oracle="""
            SELECT event_id, user_id,
                   round(sum(value) OVER w, 4) AS rsum,
                   count(value) OVER w AS rcnt
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                         RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
        """)
def rolling_range_events(spark, sf_dir):
    """Variable (value-range) rolling window (rolling.clj:281-301): per-user
    10-minute trailing sum/count over the event-time axis."""
    ev = _t(spark, sf_dir, "events")
    out = win.rolling_range(ev, "ts", {"rsum": ("sum", "value"),
                                       "rcnt": ("count", "value")},
                            window_size=10, by="user_id", units="minutes")
    # NOTE: deliberately NO output order (winnow_docs-class
    # exception): the final range sort over the applyInPandas fill
    # output measured 1.4-2.0x in one-shot bench conditions (extra
    # sort stage + sampling); the driver hashes a sorted multiset.
    return out.select("event_id", "user_id",
                      _r4(F.col("rsum")).alias("rsum"), "rcnt")


@query(oracle="""
            WITH a AS (SELECT l_orderkey, l_returnflag, count(*) AS ca
                       FROM lineitem WHERE l_quantity < 25 GROUP BY ALL),
                 b AS (SELECT l_orderkey, l_returnflag, count(*) AS cb
                       FROM lineitem WHERE l_quantity < 15 GROUP BY ALL),
                 j AS (SELECT coalesce(a.l_orderkey, b.l_orderkey) AS l_orderkey,
                              coalesce(a.l_returnflag, b.l_returnflag) AS l_returnflag,
                              greatest(coalesce(ca, 0), coalesce(cb, 0)) AS cnt
                       FROM a FULL OUTER JOIN b
                         ON a.l_orderkey = b.l_orderkey
                        AND a.l_returnflag = b.l_returnflag)
            SELECT l_orderkey, l_returnflag
            FROM j, unnest(generate_series(1, cnt))
        """)
def bag_union_lineitem(spark, sf_dir):
    """Bag-semantics union (set.clj:166): multiplicity = max(a, b), not sum."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") < 25).select("l_orderkey", "l_returnflag")
    b = li.filter(F.col("l_quantity") < 15).select("l_orderkey", "l_returnflag")
    # NOTE: no output order — see bag_intersect_lineitem.
    return st.union(a, b)


@query(oracle="""
            SELECT l_orderkey, l_returnflag FROM lineitem WHERE l_quantity < 30
            INTERSECT ALL
            SELECT l_orderkey, l_returnflag FROM lineitem WHERE l_quantity > 15
        """)
def bag_intersect_lineitem(spark, sf_dir):
    """Bag-semantics intersection (set.clj:174) = INTERSECT ALL."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") < 30).select("l_orderkey", "l_returnflag")
    b = li.filter(F.col("l_quantity") > 15).select("l_orderkey", "l_returnflag")
    # NOTE: deliberately NO output order (winnow_docs-style
    # exception): a bag result is unordered by semantics, and both the
    # post-explode orderBy (1.4x: range sampling re-runs the explode)
    # and the pre-explode counts sort (re-runs the agg) cost real
    # bench time. The driver hashes a sorted multiset, so order is
    # immaterial; setops.intersection(order_by=...) exists for users
    # who want determinism and documents the price.
    return st.intersection(a, b)


@query(oracle="""
            SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                   round(sum(o_totalprice), 4) AS sum_price
            FROM orders
            GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
            ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
        """)
def rollup_orders(spark, sf_dir):
    """Grouping-set rollup (parity-plus, SURVEY §2.4): hierarchical
    subtotals in one pass."""
    o = _t(spark, sf_dir, "orders")
    return agg.rollup_agg(o, ["o_orderstatus", "o_orderpriority"],
                          {"n": ("row-count", None),
                           "sum_price": lambda F: F.round(F.sum("o_totalprice"), 4)}) \
        .orderBy("o_orderstatus", "o_orderpriority")


@query(oracle="""
            SELECT o_orderpriority,
                   quantile_disc(o_totalprice, 0.5) AS p50,
                   quantile_disc(o_totalprice, 0.9) AS p90,
                   round(avg(CASE WHEN o_totalprice <= 300000.0 THEN 1.0 ELSE 0.0 END), 4)
                       AS cdf_300k
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
        """)
def quantiles_price(spark, sf_dir):
    """prob-quantile / prob-cdf reducers (reductions.clj:226-247) — sketch
    accuracy pinned high enough to be exact at test scale. Both quantiles
    come from ONE array-quantile sketch (the reference's reducer fusion,
    reductions.clj:345-374: same-column sketches share one accumulator)."""
    o = _t(spark, sf_dir, "orders")
    out = agg.group_by_column_agg(
        o, "o_orderpriority",
        {"pq": ("prob-quantiles", "o_totalprice",
                {"quantiles": [0.5, 0.9], "accuracy": 1000000}),
         "cdf_300k": lambda F: F.round(F.avg(F.when(F.col("o_totalprice") <= 300000.0, 1.0)
                                             .otherwise(0.0)), 4)})
    return out.select("o_orderpriority",
                      F.element_at("pq", 1).alias("p50"),
                      F.element_at("pq", 2).alias("p90"),
                      "cdf_300k").orderBy("o_orderpriority")


@query(oracle="""
            SELECT 'ts' AS col_name, 'timestamp' AS datatype,
                   count(ts) AS n_valid,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS min_s,
                   strftime(make_timestamp(CAST(round(
                       quantile_cont(CAST(epoch_us(ts) AS DOUBLE), 0.5))
                       AS BIGINT)), '%Y-%m-%d %H:%M:%S') AS median_s,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_s
            FROM events
            UNION ALL
            SELECT 'value', 'double', count("value"),
                   CAST(round(min("value"), 4) AS VARCHAR),
                   CAST(round(quantile_cont("value", 0.5), 4) AS VARCHAR),
                   CAST(round(max("value"), 4) AS VARCHAR)
            FROM events
        """)
def descriptive_stats_events_temporal(spark, sf_dir):
    """descriptive-stats over a DATETIME column (reference
    datetime_test.clj stocks-descriptive-stats: temporal min/median/max
    come back AS datetimes, not epoch numbers). Median uses the exact
    interpolated percentile so both engines compute the identical
    two-point interpolation in epoch micros; mean is pinned in pytest
    instead (a float sum over 1e15-scale micros differs across engines at
    the ULP). The report mixes a temporal and a numeric column, so the
    stat columns render as strings (Spark describe() convention)."""
    ev = _t(spark, sf_dir, "events").select("ts", "value")
    out = agg.descriptive_stats(ev, stats=("n-valid", "min", "median", "max"),
                                quantile_accuracy="exact")

    def norm(c, alias):
        # temporal rows truncate to seconds (sub-second print styles and
        # interpolation ULPs differ across engines); numeric rows re-round
        # through double like every other oracle (_r4 law)
        return (F.when(F.col("datatype").startswith("timestamp"),
                       F.substring(F.col(c), 1, 19))
                 .otherwise(F.round(F.col(c).cast("double"), 4)
                             .cast("string"))).alias(alias)

    # events.ts reads as timestamp on tuned sessions and timestamp_ntz on
    # vanilla ones (nanos-footer handling) — normalize the label so the
    # oracle row matches either way
    dt_label = F.when(F.col("datatype").startswith("timestamp"),
                      F.lit("timestamp")).otherwise(F.col("datatype"))
    return out.select(F.col("col-name").alias("col_name"),
                      dt_label.alias("datatype"),
                      F.col("n-valid").alias("n_valid"),
                      norm("min", "min_s"), norm("median", "median_s"),
                      norm("max", "max_s"))


@query(oracle="""
            SELECT 'l_quantity' AS "col-name", 'double' AS datatype,
                   count(l_quantity) AS "n-valid",
                   count(*) - count(l_quantity) AS "n-missing",
                   CAST(min(l_quantity) AS VARCHAR) AS min,
                   round(quantile_cont(l_quantity, 0.25), 4) AS quartile_1,
                   round(avg(l_quantity), 4) AS mean,
                   CAST(NULL AS VARCHAR) AS mode,
                   round(quantile_cont(l_quantity, 0.5), 4) AS median,
                   round(quantile_cont(l_quantity, 0.75), 4) AS quartile_3,
                   CAST(max(l_quantity) AS VARCHAR) AS max,
                   round(stddev_samp(l_quantity), 4) AS stddev,
                   CAST(NULL AS BIGINT) AS n_values
            FROM lineitem
            UNION ALL
            SELECT 'l_extendedprice', 'double', count(l_extendedprice),
                   count(*) - count(l_extendedprice),
                   CAST(min(l_extendedprice) AS VARCHAR),
                   round(quantile_cont(l_extendedprice, 0.25), 4),
                   round(avg(l_extendedprice), 4), NULL,
                   round(quantile_cont(l_extendedprice, 0.5), 4),
                   round(quantile_cont(l_extendedprice, 0.75), 4),
                   CAST(max(l_extendedprice) AS VARCHAR),
                   round(stddev_samp(l_extendedprice), 4), NULL
            FROM lineitem
            UNION ALL
            SELECT 'l_discount', 'double', count(l_discount),
                   count(*) - count(l_discount),
                   CAST(min(l_discount) AS VARCHAR),
                   round(quantile_cont(l_discount, 0.25), 4),
                   round(avg(l_discount), 4), NULL,
                   round(quantile_cont(l_discount, 0.5), 4),
                   round(quantile_cont(l_discount, 0.75), 4),
                   CAST(max(l_discount) AS VARCHAR),
                   round(stddev_samp(l_discount), 4), NULL
            FROM lineitem
            UNION ALL
            SELECT 'l_returnflag', 'string', count(l_returnflag),
                   count(*) - count(l_returnflag),
                   min(l_returnflag), NULL, NULL, mode(l_returnflag),
                   NULL, NULL, max(l_returnflag), NULL,
                   count(DISTINCT l_returnflag)
            FROM lineitem
        """)
def descriptive_stats_lineitem(spark, sf_dir):
    """descriptive-stats (dataset_api.clj:1300-1385), full reference stat
    surface: quartiles/median (exact interpolated percentile for oracle
    parity; percentile_approx is the default 100 TB path), deterministic
    mode + n-values for the categorical column, min/max/mean/stddev.
    skew/first/last/values/histogram are implemented but pinned in pytest
    instead (cross-engine skew estimators and scan-order stats don't
    oracle cleanly)."""
    li = _t(spark, sf_dir, "lineitem")
    out = agg.descriptive_stats(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_returnflag"],
        stats=("n-valid", "n-missing", "min", "quartile-1", "mean", "mode",
               "median", "quartile-3", "max", "stddev", "n-values"),
        quantile_accuracy="exact")
    return out.select("col-name", "datatype", "n-valid", "n-missing", "min",
                      _r4(F.col("quartile-1")).alias("quartile_1"),
                      _r4(F.col("mean")).alias("mean"),
                      "mode",
                      _r4(F.col("median")).alias("median"),
                      _r4(F.col("quartile-3")).alias("quartile_3"),
                      "max",
                      _r4(F.col("stddev")).alias("stddev"),
                      F.col("n-values").alias("n_values"))


@query(oracle="""
            WITH base AS (
                SELECT user_id, ts, value,
                       CAST(epoch_us(ts) AS DOUBLE) AS x,
                       CAST(lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
                            AS DOUBLE) AS nx
                FROM events
            ), tagged AS (
                SELECT *,
                       CASE WHEN nx - x > 3600e6
                            THEN CAST(ceil((nx - x) / 3600e6) AS BIGINT) - 1
                            ELSE 0 END AS n_ins,
                       (nx - x) / (CASE WHEN nx - x > 3600e6
                                        THEN ceil((nx - x) / 3600e6) ELSE 1 END) AS step
                FROM base
            ), inserted AS (
                SELECT user_id,
                       make_timestamp(CAST(floor(x + i * step) AS BIGINT)) AS ts,
                       CAST(NULL AS DOUBLE) AS value
                FROM tagged, unnest(generate_series(1, n_ins)) AS t(i)
                WHERE n_ins > 0
            ), unioned AS (
                SELECT user_id, ts, value FROM base
                UNION ALL SELECT user_id, ts, value FROM inserted
            )
            SELECT user_id, ts,
                   round(last_value(value IGNORE NULLS)
                         OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
                       AS value
            FROM unioned
        """)
def fill_range_events(spark, sf_dir):
    """fill-range-replace (math.clj:160): densify each user's event-time axis
    to max 1-hour spans, forward-filling value into the inserted rows."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    out = tss.fill_range_replace(ev, "ts", 1.0, by="user_id", units="hours",
                                 fill={"value": "down"})
    return out.select("user_id", "ts", _r4(F.col("value")).alias("value"))


def _loess_oracle(n: int = 5000, gs: int = 200, bandwidth: float = 0.3
                  ) -> str:
    """Replays loess_smooth_events: tricube local-linear LOESS with one
    bisquare robustness iteration pair (_loess_fit, iterations=2) on the
    complete event_id < {n} slice. Laws mirrored exactly:

    - grid: numpy linspace — step = (xmax-xmin)/(gs-1), g_i = xmin +
      i*step, LAST point forced to xmax;
    - per grid point: the r = ceil(bandwidth*n) nearest sample points by
      |x-g| (row_number; tie order is irrelevant — a point at the
      selection boundary has d = dmax and tricube weight 0);
    - weighted mean/slope in TWO aggregation passes (xm/ym first, then
      moments around them — the expanded single-pass form cancels
      catastrophically at x ~ 1e15 epoch-micros);
    - residual reweight: np.interp on the uniform grid = direct index
      floor((x-xmin)/step) clamped to [0, gs-2]; s = median |resid|
      (or 1.0 when 0); robust = clip(1-(r/(6s))^2, 0, 1)^2;
    - prediction for every slice row via the same interp on the pass-2
      fit, rounded round(v*1e4)/1e4 on both engines."""
    r = max(2, int(-(-bandwidth * n // 1)))  # ceil
    fit = lambda tag, src: f"""
        , nb{tag} AS (
            SELECT g.i, g.g, p.x, p.y, p.rb, abs(p.x - g.g) AS d,
                   row_number() OVER (PARTITION BY g.i
                                      ORDER BY abs(p.x - g.g), p.x) AS rk
            FROM grid g CROSS JOIN {src} p
        ), sel{tag} AS (
            SELECT *, max(d) OVER (PARTITION BY i) AS dmax0
            FROM (SELECT * FROM nb{tag} WHERE rk <= {r})
        ), wt{tag} AS (
            SELECT i, g, x, y,
                   pow(1 - pow(least(d / (CASE WHEN dmax0 = 0 THEN 1.0
                                              ELSE dmax0 END), 1), 3), 3)
                   * rb AS w
            FROM sel{tag}
        ), m{tag} AS (
            SELECT i, g, sum(w*x)/sum(w) AS xm, sum(w*y)/sum(w) AS ym
            FROM wt{tag} GROUP BY i, g
        ), f{tag} AS (
            SELECT w.i, w.g,
                   m.ym + (CASE WHEN sum(w.w*(w.x-m.xm)*(w.x-m.xm)) > 1e-12
                        THEN sum(w.w*(w.x-m.xm)*(w.y-m.ym))
                             / sum(w.w*(w.x-m.xm)*(w.x-m.xm))
                        ELSE 0.0 END) * (w.g - m.xm) AS f
            FROM wt{tag} w JOIN m{tag} m USING (i)
            GROUP BY w.i, w.g, m.ym, m.xm
        )"""
    interp = lambda ftab, xcol: f"""(
        SELECT f1.f + (f2.f - f1.f)
               * (CASE WHEN g2.g = g1.g THEN 0.0
                       ELSE ({xcol} - g1.g) / (g2.g - g1.g) END)
        FROM gidx gx, grid g1, grid g2, {ftab} f1, {ftab} f2
        WHERE gx.idx = least(greatest(
                  CAST(floor(({xcol} - gx.xmin) / gx.step) AS BIGINT),
                  0), {gs}-2)
          AND g1.i = gx.idx AND g2.i = gx.idx + 1
          AND f1.i = gx.idx AND f2.i = gx.idx + 1
    )"""
    return f"""
        WITH pts AS (
            SELECT event_id, user_id, CAST(epoch_us(ts) AS DOUBLE) AS x,
                   CAST(value AS DOUBLE) AS y
            FROM events WHERE event_id < {n}
        ), fpts0 AS (SELECT x, y FROM pts
                     WHERE x IS NOT NULL AND y IS NOT NULL),
        st AS (SELECT min(x) AS xmin, max(x) AS xmax,
                      (max(x)-min(x))/({gs}-1) AS step FROM fpts0),
        grid AS (
            SELECT i, CASE WHEN i = {gs}-1 THEN st.xmax
                           ELSE st.xmin + i*st.step END AS g
            FROM st, (SELECT unnest(range(0, {gs})) AS i)
        ), gidx AS (SELECT xmin, step, unnest(range(0, {gs}-1)) AS idx
                    FROM st),
        fpts AS (SELECT x, y, 1.0 AS rb FROM fpts0)
        {fit('1', 'fpts')}
        , res AS (
            SELECT x, y, abs(y - {interp('f1', 'x')}) AS rs FROM fpts0
        ), sstat AS (
            SELECT CASE WHEN median(rs) = 0 THEN 1.0 ELSE median(rs) END
                   AS s FROM res
        ), fpts2 AS (
            SELECT x, y, pow(least(greatest(1 - (rs/(6*s))*(rs/(6*s)), 0),
                                   1), 2) AS rb
            FROM res, sstat
        )
        {fit('2', 'fpts2')}
        SELECT event_id, user_id,
               round({interp('f2', 'pts.x')} * 1e4) / 1e4 AS value_loess
        FROM pts
    """


@query(oracle=_loess_oracle())
def loess_smooth_events(spark, sf_dir):
    """interpolate-loess (math.clj:112). ORACLED (previously rows-only):
    on the event_id < 5000 slice the fit uses ALL points
    (n == max_fit_points -> k=1, no hash sampling), so the whole law —
    tricube local-linear fit at each of 200 linspace grid points, bisquare
    robustness reweighting, np.interp prediction — is deterministic and
    DuckDB replays it exactly (see _loess_oracle; neighbor-selection ties
    are harmless because boundary-distance points get tricube weight 0).
    The slice is complete and NULL-free at sf >= 0.01, which the oracle's
    fixed r/grid constants assume."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 5000)
    pts = ev.select("event_id", "user_id", dtu.epoch_micros("ts").alias("x"), "value")
    out = tss.interpolate_loess(pts, "x", "value", bandwidth=0.3)
    return out.select("event_id", "user_id",
                      _r4b(F.col("value-loess")).alias("value_loess"))


@query()
def reservoir_orders(spark, sf_dir):
    """reservoir-dataset (reductions.clj:283) — rows-only: sampled rows are
    seed-dependent, but per-group count is exactly min(k, group size)."""
    o = _t(spark, sf_dir, "orders")
    out = agg.reservoir_sample(o, 3, by="o_orderpriority", seed=42)
    return out.select("o_orderkey", "o_orderpriority")


@query(oracle="""
            SELECT o_orderkey, o_orderpriority FROM (
                SELECT o_orderkey, o_orderpriority,
                       row_number() OVER (
                           PARTITION BY o_orderpriority
                           ORDER BY md5(md5(CAST(o_orderkey AS VARCHAR))
                                        || ':42'),
                                    o_orderkey) AS rn
                FROM orders
            ) WHERE rn <= 3
            ORDER BY o_orderpriority, o_orderkey
        """)
def reservoir_orders_oracle(spark, sf_dir):
    """reservoir-dataset, DETERMINISTIC md5 arm (aggregate.py
    reservoir_sample key_cols= — the same engine-replayable-twin pattern
    the :abb fill used to leave rows-only): per-priority 3-row sample
    drawn by md5(o_orderkey:seed), exactly replayed by the oracle's
    row_number over the identical md5 ordering. Promotes the reservoir
    row_number/TakeOrdered machinery from rows-only to hash-checked;
    the rand(seed) production arm (reference RNG semantics) remains
    rows-only by design (`reservoir_orders`)."""
    o = _t(spark, sf_dir, "orders")
    out = agg.reservoir_sample(o, 3, by="o_orderpriority", seed=42,
                               key_cols=["o_orderkey"])
    return out.select("o_orderkey", "o_orderpriority") \
              .orderBy("o_orderpriority", "o_orderkey")


@query(oracle="""
            SELECT l_orderkey, l_linenumber,
                   round(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                         * 10000) / 10000 AS net
            FROM lineitem
        """)
def row_map_net_price(spark, sf_dir):
    """row-map (dataset_api.clj:885): Python row fn over Arrow batches —
    the UDF surface, oracle-checked against the equivalent arithmetic."""
    from tech_ml_dataset_spark.operators import colmap as cm
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_tax")
    out = cm.row_map(
        li,
        lambda r: {"l_orderkey": r["l_orderkey"],
                   "l_linenumber": r["l_linenumber"],
                   "net": r["l_extendedprice"] * (1 - r["l_discount"]) * (1 + r["l_tax"])},
        schema="l_orderkey bigint, l_linenumber bigint, net double")
    return out.withColumn("net", _r4b(F.col("net")))


@query(oracle="""
            WITH RECURSIVE base AS (
                SELECT event_id, user_id, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn
                FROM events
            ), rec AS (
                SELECT event_id, user_id, rn, 0.3 * value + 0.7 * 0.0 AS s
                FROM base WHERE rn = 1
                UNION ALL
                SELECT b.event_id, b.user_id, b.rn, 0.3 * b.value + 0.7 * r.s
                FROM base b JOIN rec r
                  ON b.user_id = r.user_id AND b.rn = r.rn + 1
            )
            SELECT event_id, user_id, round(s * 10000) / 10000 AS ewma FROM rec
        """)
def ewma_user_value(spark, sf_dir):
    """induction (dataset_api.clj:1402): EWMA recurrence s = 0.3*v + 0.7*s
    per user — sequential within group, parallel across groups; the oracle
    is a recursive CTE doing the identical arithmetic. Uses induction's
    vectorized fast path (pandas ewm, C loop; seed row 0.0 reproduces
    init=0.0 semantics) — the lambda is the reference row-loop form."""
    import pandas as pd

    from tech_ml_dataset_spark.operators import colmap as cm

    def vec_ewma(pdf):
        seeded = pd.concat([pd.Series([0.0]), pdf["value"].astype("float64")],
                           ignore_index=True)
        return seeded.ewm(alpha=0.3, adjust=False).mean().iloc[1:].reset_index(drop=True)

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = cm.induction(ev, ["ts", "event_id"], "ewma",
                       lambda acc, row: 0.3 * row["value"] + 0.7 * acc,
                       init=0.0, by="user_id", vector_fn=vec_ewma)
    return out.select("event_id", "user_id", _r4b(F.col("ewma")).alias("ewma"))


@query(oracle="""
            SELECT p_brand, count(DISTINCT p_type) AS n_types
            FROM part GROUP BY p_brand ORDER BY p_brand
        """)
def distinct_parts_per_brand(spark, sf_dir):
    """Skew-safe two-phase exact count-distinct (dedup-then-count): same
    answer as COUNT(DISTINCT), never assembles a hot key in one task."""
    p = _t(spark, sf_dir, "part")
    return agg.count_distinct_twophase(p, "p_brand", "p_type",
                                       out_col="n_types").orderBy("p_brand")


@query(oracle="""
            SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                   round(sum(o_totalprice), 4) AS sum_price
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                    (o_orderstatus), ())
            ORDER BY o_orderstatus ASC NULLS FIRST,
                     o_orderpriority ASC NULLS FIRST
        """)
def grouping_sets_orders(spark, sf_dir):
    """Explicit GROUPING SETS (aggregate.grouping_sets_agg, parity-plus):
    (status, priority) detail + status subtotal + grand total in ONE
    shuffle (single Expand+HashAggregate, not 3 unioned group-bys)."""
    o = _t(spark, sf_dir, "orders")
    return agg.grouping_sets_agg(
        o, [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
        {"n": ("row-count", None),
         "sum_price": lambda F: F.round(F.sum("o_totalprice"), 4)}) \
        .orderBy("o_orderstatus", "o_orderpriority")


@query(oracle="""
            -- deterministic :abb replay: pool = 4096 observed values
            -- ranked first by md5(event_id ':' 42) (same TakeOrdered law
            -- as Spark), draw = conv(md5(event_id ':' 42)[:8],16,10)
            -- % pool_size (both engines agree on the 8-hex-char int)
            WITH masked AS (
                SELECT event_id, user_id,
                       CASE WHEN value < 5 THEN NULL ELSE value END AS value
                FROM events
            ), pool AS (
                SELECT value, rnk FROM (
                    SELECT value, row_number() OVER (
                               ORDER BY md5(event_id::VARCHAR || ':42'),
                                        event_id) AS rnk
                    FROM masked WHERE value IS NOT NULL) t
                WHERE rnk <= 4096
            ), n AS (SELECT count(*) AS n FROM pool)
            SELECT m.event_id, m.user_id,
                   round(coalesce(m.value, p.value) * 10000) / 10000 AS value
            FROM masked m CROSS JOIN n
            LEFT JOIN pool p
              ON m.value IS NULL
             AND p.rnk = (('0x' || substr(md5(m.event_id::VARCHAR || ':42'),
                                          1, 8))::BIGINT % n.n) + 1
            WHERE coalesce(m.value, p.value) IS NOT NULL
        """)
def abb_fill_events(spark, sf_dir):
    """replace-missing :abb (missing.clj approx bayesian bootstrap) —
    ORACLED via the deterministic ``key_cols`` arm: the donor
    pool is the 4096 observed values ranked first by md5(event_id ':' 42)
    (an engine-portable uniform subsample) and each missing row draws
    pool index conv(md5(event_id ':' 42)[:8], 16) % 4096 — DuckDB replays
    the pool and every draw verbatim. The rand-seeded default arm stays
    covered by pytest (distributional law)."""
    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("value", F.when(F.col("value") < 5, None)
                       .otherwise(F.col("value")))
    out = ms.replace_missing(ev, "value", "abb", seed=42,
                             key_cols="event_id")
    return out.filter(F.col("value").isNotNull()) \
              .select("event_id", "user_id",
                      _r4b(F.col("value")).alias("value"))


@query(oracle="""
            SELECT doc_id, lang FROM (
                SELECT doc_id, lang,
                       row_number() OVER (
                           PARTITION BY lang
                           ORDER BY md5(doc_id::VARCHAR || ':42'), doc_id
                       ) AS rn
                FROM documents) t
            WHERE rn <= 30 ORDER BY doc_id
        """)
def stratified_sample_docs(spark, sf_dir):
    """Exact stratified sample: exactly min(30, stratum size) docs per
    language, selected by the engine-portable md5(key ':' seed) rank —
    the oracle replays the identical ordering, so the sample itself (not
    just its size) is hash-checked."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return sel.sample_stratified_exact(docs, "lang", 30, key_col="doc_id",
                                       seed=42).orderBy("doc_id")


@query(oracle="""
            SELECT c_nationkey, count(*) AS n_orders,
                   round(sum(o_totalprice), 4) AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_nationkey ORDER BY c_nationkey
        """)
def salted_revenue_by_nation(spark, sf_dir):
    """salted_join (skew-resistant fact x dim): identical semantics to the
    plain equi-join — the oracle IS the plain join — with the hot-key
    fan-out structure verified in tests/test_plans.py."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = _t(spark, sf_dir, "orders") \
        .select("o_custkey", "o_totalprice")
    j = jn.salted_join(orders, cust.withColumnRenamed("c_custkey", "o_custkey"),
                       "o_custkey", salt=8)
    out = j.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _r4(F.sum("o_totalprice")).alias("revenue"))
    return out.orderBy("c_nationkey")
