"""Relational coverage (free in Spark, out of reference parity scope,
SURVEY.md sections 2.4/2.5): TPC-H shapes, aggregation, top-k,
rollups, windows, set operations, JSON, sessionization, as-of and
range joins, merges/SCD2, event time series and layout keys.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from bqetl_spark.functions import stats as st
from bqetl_spark.functions import text as tx
from bqetl_spark.operators.asof import asof_join
from bqetl_spark.operators.merge import scd2_intervals, upsert
from bqetl_spark.operators.rangejoin import range_join_point

from bqetl_spark.gates import gate
from bqetl_spark.gates.common import DEC, _TOK, _money, _scratch, _t


_DISC = "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"


@gate(oracle=f"""
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   CAST(SUM({_DISC}) AS DOUBLE) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus""")
def q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    disc_price = _money("l_extendedprice") * (F.lit(1).cast(DEC) - _money("l_discount"))
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(_money("l_quantity")).cast("double").alias("sum_qty"),
                 F.sum(_money("l_extendedprice")).cast("double").alias("sum_base_price"),
                 F.sum(disc_price).cast("double").alias("sum_disc_price"),
                 F.count("*").alias("count_order"))
            .select("l_returnflag", "l_linestatus", "sum_qty",
                    "sum_base_price", "sum_disc_price", "count_order"))


@gate(oracle=f"""
            SELECT o_orderkey, CAST(SUM({_DISC}) AS DOUBLE) AS revenue
            FROM customer
            JOIN orders   ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey
            ORDER BY revenue DESC, o_orderkey ASC
            LIMIT 10""")
def q3_top_revenue(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = _money("l_extendedprice") * (F.lit(1).cast(DEC) - _money("l_discount"))
    return (cust.filter(F.col("c_mktsegment") == "BUILDING")
            .join(orders, F.col("c_custkey") == F.col("o_custkey"))
            .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("o_orderkey")
            .agg(F.sum(rev).cast("double").alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
            .limit(10))


@gate(oracle=f"""
            SELECT r_name, n_name,
                   CAST(SUM({_DISC}) AS DOUBLE) AS revenue,
                   count(*) AS n_lineitems
            FROM customer
            JOIN nation  ON c_nationkey = n_nationkey
            JOIN region  ON n_regionkey = r_regionkey
            JOIN orders  ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            GROUP BY r_name, n_name""")
def q5_region_revenue(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    rev = _money("l_extendedprice") * (F.lit(1).cast(DEC) - _money("l_discount"))
    return (cust
            .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
            .join(orders, F.col("c_custkey") == F.col("o_custkey"))
            .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("r_name", "n_name")
            .agg(F.sum(rev).cast("double").alias("revenue"),
                 F.count("*").alias("n_lineitems")))


@gate(oracle="""
            SELECT l_partkey AS partkey, s_suppkey AS suppkey, s_name,
                   CAST(m.mp AS DOUBLE) AS min_price
            FROM lineitem l
            JOIN (SELECT l_partkey AS pk,
                         MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS mp
                  FROM lineitem GROUP BY 1) m
              ON l.l_partkey = m.pk
             AND CAST(l.l_extendedprice AS DECIMAL(18,2)) = m.mp
            JOIN supplier s ON l.l_suppkey = s.s_suppkey""")
def q_min_price_supplier(spark, sf_dir):
    """TPC-H q2 shape: min-per-group correlated subquery. For every part,
    the supplier(s) shipping it at that part's minimum extended price.
    Spark plan: groupBy-min on the compact (partkey) key, broadcast back —
    Catalyst decorrelates to the same aggregate+join a hand optimizer
    would write; the lineitem fact never shuffles twice."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    # NO broadcast hint on the minima: they are per-partkey (grows with the
    # part table — hundreds of millions of rows at 100 TB). Both sides hash
    # on l_partkey, so the agg output is already co-partitioned with the
    # probe side and the join adds no extra shuffle; AQE may still choose a
    # broadcast at small SF where the minima fit.
    mins = (li.groupBy("l_partkey")
            .agg(F.min(_money("l_extendedprice")).alias("__min_price")))
    return (li.join(mins, "l_partkey")
            .filter(_money("l_extendedprice") == F.col("__min_price"))
            .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
            .select(F.col("l_partkey").alias("partkey"),
                    F.col("s_suppkey").alias("suppkey"), "s_name",
                    F.col("__min_price").cast("double").alias("min_price")))


@gate(oracle="""
            SELECT o_orderpriority, count(*) AS n_orders
            FROM orders o
            WHERE EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o.o_orderkey
                            AND l_shipdate > o.o_orderdate)
            GROUP BY 1""")
def q_priority_late_ship(spark, sf_dir):
    """TPC-H q4 shape: EXISTS semi-join then small-key aggregate — orders
    with at least one lineitem shipped after the order date, counted per
    priority. The semi-join carries only the order key."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = (orders.join(
        li, (F.col("o_orderkey") == F.col("l_orderkey")) &
            (F.col("l_shipdate") > F.col("o_orderdate")), "leftsemi"))
    return (late.groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_orders")))


@gate(oracle=f"""
            SELECT c_custkey, c_name, n_name,
                   CAST(SUM({_DISC}) AS DOUBLE) AS lost_revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
            GROUP BY 1, 2, 3
            ORDER BY lost_revenue DESC, c_custkey ASC
            LIMIT 20""")
def q_returned_revenue_topn(spark, sf_dir):
    """TPC-H q10 shape: revenue lost to returns per customer, top 20.
    Deterministic top-N: ties broken by custkey before the limit."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = _money("l_extendedprice") * (F.lit(1).cast(DEC) - _money("l_discount"))
    return (li.filter(F.col("l_returnflag") == "R")
            .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(cust, F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("c_custkey", "c_name", "n_name")
            .agg(F.sum(rev).cast("double").alias("lost_revenue"))
            .orderBy(F.desc("lost_revenue"), F.asc("c_custkey"))
            .limit(20))


@gate(oracle="""
            SELECT c_custkey, c_name, o_orderkey,
                   o_totalprice AS totalprice,
                   CAST(q.qty AS DOUBLE) AS total_qty
            FROM (SELECT l_orderkey,
                         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
                  FROM lineitem GROUP BY 1
                  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150) q
            JOIN orders   ON o_orderkey = q.l_orderkey
            JOIN customer ON o_custkey = c_custkey""")
def q_big_orders(spark, sf_dir):
    """TPC-H q18 shape: HAVING on a grouped sum — orders whose total
    quantity exceeds the threshold, with the buyer attached."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    qty = (li.groupBy("l_orderkey")
           .agg(F.sum(_money("l_quantity")).alias("__qty"))
           .filter(F.col("__qty") > F.lit(150).cast(DEC)))
    return (orders.join(qty, F.col("o_orderkey") == F.col("l_orderkey"))
            .join(cust, F.col("o_custkey") == F.col("c_custkey"))
            .select("c_custkey", "c_name", "o_orderkey",
                    F.col("o_totalprice").alias("totalprice"),
                    F.col("__qty").cast("double").alias("total_qty")))


@gate(oracle="""
            SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                            CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1997-01-01'
              AND l_discount >= 0.03 AND l_discount <= 0.07
              AND l_quantity < 24""")
def q_forecast_revenue(spark, sf_dir):
    """TPC-H q6 shape: pure scan-filter-aggregate. The whole query is one
    codegen stage over the parquet scan — every predicate reaches
    PushedFilters, only 4 columns are read, no shuffle at all (partial sums
    combine in a single-row final agg)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter((F.col("l_shipdate") >= F.lit("1996-01-01")) &
                      (F.col("l_shipdate") < F.lit("1997-01-01")) &
                      (F.col("l_discount") >= 0.03) &
                      (F.col("l_discount") <= 0.07) &
                      (F.col("l_quantity") < 24))
            .agg(F.sum(_money("l_extendedprice") * _money("l_discount"))
                  .cast("double").alias("revenue")))


@gate(oracle=f"""
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   year(l_shipdate) AS l_year,
                   CAST(SUM({_DISC}) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7') OR
                   (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
              AND l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1998-01-01'
            GROUP BY 1, 2, 3""")
def q_volume_shipping(spark, sf_dir):
    """TPC-H q7 shape: two roles of the same dimension (supplier's nation
    vs customer's nation) with a symmetric pair filter, grouped by year.
    Both nation copies broadcast; the fact tables join on their keys."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    n_supp = nation.select(F.col("n_nationkey").alias("__sn_key"),
                           F.col("n_name").alias("supp_nation"))
    n_cust = nation.select(F.col("n_nationkey").alias("__cn_key"),
                           F.col("n_name").alias("cust_nation"))
    rev = _money("l_extendedprice") * (F.lit(1).cast(DEC) - _money("l_discount"))
    pair = (((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")) |
            ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3")))
    return (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(cust, F.col("o_custkey") == F.col("c_custkey"))
            .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
            .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("__sn_key"))
            .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("__cn_key"))
            .filter(pair &
                    (F.col("l_shipdate") >= F.lit("1996-01-01")) &
                    (F.col("l_shipdate") < F.lit("1998-01-01")))
            .groupBy("supp_nation", "cust_nation",
                     F.year("l_shipdate").cast("long").alias("l_year"))
            .agg(F.sum(rev).cast("double").alias("revenue")))


@gate(oracle=f"""
            SELECT year(o_orderdate) AS o_year,
                   CAST(SUM(CASE WHEN n2.n_name = 'NATION_5'
                                 THEN {_DISC} ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                   / CAST(SUM({_DISC}) AS DOUBLE) AS mkt_share
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region   ON n1.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE p_type = 'ECONOMY' AND r_name = 'EUROPE'
            GROUP BY 1""")
def q_market_share(spark, sf_dir):
    """TPC-H q8 shape: conditional-aggregate ratio (market share of one
    supplier nation inside a region/type slice, per order year). Numerator
    and denominator are exact decimal sums; the ratio divides doubles, so
    both engines do the identical final operation."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    n_cust = nation.select(F.col("n_nationkey").alias("__cn_key"),
                           F.col("n_regionkey").alias("__cn_region"))
    n_supp = nation.select(F.col("n_nationkey").alias("__sn_key"),
                           F.col("n_name").alias("supp_nation"))
    rev = _money("l_extendedprice") * (F.lit(1).cast(DEC) - _money("l_discount"))
    share_rev = F.when(F.col("supp_nation") == "NATION_5", rev).otherwise(F.lit(0).cast(DEC))
    return (li.join(F.broadcast(part.filter(F.col("p_type") == "ECONOMY")),
                    F.col("l_partkey") == F.col("p_partkey"))
            .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(cust, F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("__cn_key"))
            .join(F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
                  F.col("__cn_region") == F.col("r_regionkey"))
            .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
            .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("__sn_key"))
            .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
            .agg((F.sum(share_rev).cast("double") /
                  F.sum(rev).cast("double")).alias("mkt_share")))


@gate(oracle=f"""
            SELECT n_name AS supp_nation, year(o_orderdate) AS o_year,
                   CAST(SUM({_DISC} - CAST(p_retailprice AS DECIMAL(18,2)) *
                                     CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS profit
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%ring%'
            GROUP BY 1, 2""")
def q_product_profit(spark, sf_dir):
    """TPC-H q9 shape: LIKE-filtered part dimension, profit expression over
    a multi-join, grouped by supplier nation and year. (The testdata carries
    no partsupp table, so p_retailprice stands in for ps_supplycost — the
    join/agg shape is q9's.)"""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part")
    nation = _t(spark, sf_dir, "nation")
    profit = (_money("l_extendedprice") * (F.lit(1).cast(DEC) - _money("l_discount"))
              - _money("p_retailprice") * _money("l_quantity"))
    return (li.join(F.broadcast(part.filter(F.col("p_name").like("%ring%"))),
                    F.col("l_partkey") == F.col("p_partkey"))
            .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
            .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
            .groupBy(F.col("n_name").alias("supp_nation"),
                     F.year("o_orderdate").cast("long").alias("o_year"))
            .agg(F.sum(profit).cast("double").alias("profit")))


@gate(oracle="""
            SELECT l_linestatus,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
            GROUP BY 1""")
def q_ship_priority_counts(spark, sf_dir):
    """TPC-H q12 shape: join + conditional counts — lines shipped >60 days
    after their order date, split into high/low priority per line status.
    (No l_shipmode column in the testdata; l_linestatus carries the
    grouping role.)"""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
            .groupBy("l_linestatus")
            .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
                 F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count")))


@gate(oracle=f"""
            WITH per_part AS (
                SELECT l_partkey, SUM({_DISC}) AS v
                FROM lineitem GROUP BY 1)
            SELECT l_partkey AS partkey, CAST(v AS DOUBLE) AS part_value
            FROM per_part
            WHERE CAST(v AS DOUBLE) >
                  (SELECT CAST(SUM(v) AS DOUBLE) FROM per_part) * 0.0007""")
def q_important_parts(spark, sf_dir):
    """TPC-H q11 shape: grouped value vs a fraction-of-global-total scalar.
    The global total is the exact decimal sum of the per-group sums (no
    second scan of the fact table); the one-row total broadcasts into a
    filter, never shuffling the grouped side again."""
    li = _t(spark, sf_dir, "lineitem")
    rev = _money("l_extendedprice") * (F.lit(1).cast(DEC) - _money("l_discount"))
    per_part = li.groupBy("l_partkey").agg(F.sum(rev).alias("__val"))
    total = per_part.agg(F.sum("__val").alias("__total"))
    return (per_part.crossJoin(F.broadcast(total))
            .filter(F.col("__val").cast("double") >
                    F.col("__total").cast("double") * 0.0007)
            .select(F.col("l_partkey").alias("partkey"),
                    F.col("__val").cast("double").alias("part_value")))


@gate(oracle="""
            SELECT c_count, count(*) AS custdist
            FROM (SELECT c_custkey, count(o_orderkey) AS c_count
                  FROM customer
                  LEFT JOIN orders ON c_custkey = o_custkey
                                  AND o_orderpriority <> '4-NOT SPECIFIED'
                  GROUP BY 1)
            GROUP BY 1""")
def q_order_count_histogram(spark, sf_dir):
    """TPC-H q13 shape: left join preserving order-less customers, count
    per customer, then a histogram over the counts (two cascaded
    aggregations; the second one is tiny)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    counts = (cust.join(orders.filter(F.col("o_orderpriority") != "4-NOT SPECIFIED"),
                        F.col("c_custkey") == F.col("o_custkey"), "left")
              .groupBy("c_custkey")
              .agg(F.count("o_orderkey").alias("c_count")))
    return (counts.groupBy("c_count")
            .agg(F.count("*").alias("custdist")))


@gate(oracle=f"""
            SELECT 100.0 * (CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_DISC}
                                          ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                            / CAST(SUM({_DISC}) AS DOUBLE)) AS promo_pct
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-03-01'
              AND l_shipdate <  TIMESTAMP '1996-04-01'""")
def q_promo_revenue(spark, sf_dir):
    """TPC-H q14 shape: conditional-aggregate percentage over one month.
    Exact decimal sums, the percentage computed as 100.0 * (num / den) in
    double on both engines."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = _money("l_extendedprice") * (F.lit(1).cast(DEC) - _money("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast(DEC))
    return (li.filter((F.col("l_shipdate") >= F.lit("1996-03-01")) &
                      (F.col("l_shipdate") < F.lit("1996-04-01")))
            .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
            .agg((F.lit(100.0) * (F.sum(promo).cast("double") /
                                  F.sum(rev).cast("double"))).alias("promo_pct")))


@gate(oracle=f"""
            WITH r AS (SELECT l_suppkey, SUM({_DISC}) AS tr
                       FROM lineitem
                       WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                         AND l_shipdate <  TIMESTAMP '1996-04-01'
                       GROUP BY 1)
            SELECT s_suppkey AS suppkey, s_name, CAST(tr AS DOUBLE) AS total_revenue
            FROM r JOIN supplier ON l_suppkey = s_suppkey
            WHERE tr = (SELECT MAX(tr) FROM r)""")
def q_top_supplier(spark, sf_dir):
    """TPC-H q15 shape: revenue view + scalar-max equality (keeps ties).
    The max compares exact decimals, so tie detection cannot be broken by
    float summation order."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    rev = _money("l_extendedprice") * (F.lit(1).cast(DEC) - _money("l_discount"))
    per_supp = (li.filter((F.col("l_shipdate") >= F.lit("1996-01-01")) &
                          (F.col("l_shipdate") < F.lit("1996-04-01")))
                .groupBy("l_suppkey")
                .agg(F.sum(rev).alias("__rev")))
    best = per_supp.agg(F.max("__rev").alias("__best"))
    return (per_supp.crossJoin(F.broadcast(best))
            .filter(F.col("__rev") == F.col("__best"))
            .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
            .select(F.col("s_suppkey").alias("suppkey"), "s_name",
                    F.col("__rev").cast("double").alias("total_revenue")))


@gate(oracle="""
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
              AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
              AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                    WHERE s_acctbal < 0)
            GROUP BY 1, 2, 3""")
def q_supplier_cnt_by_attrs(spark, sf_dir):
    """TPC-H q16 shape: distinct-supplier count per part attributes with a
    NOT-IN exclusion subquery. Distinct (partkey, suppkey) pairs from
    lineitem stand in for partsupp (no partsupp table in the testdata);
    negative account balance stands in for the complaints filter."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    excl = supp.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    return (pairs.join(F.broadcast(excl),
                       F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
            .join(F.broadcast(part.filter(
                (F.col("p_brand") != "Brand#1") & (F.col("p_type") != "PROMO") &
                F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))),
                F.col("l_partkey") == F.col("p_partkey"))
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


@gate(oracle="""
            WITH a AS (SELECT l_partkey AS pk,
                              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                              / COUNT(*) AS avg_qty
                       FROM lineitem GROUP BY 1)
            SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   / 7.0 AS avg_yearly
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN a    ON l_partkey = a.pk
            WHERE p_brand = 'Brand#2' AND l_quantity < 0.2 * avg_qty""")
def q_small_qty_revenue(spark, sf_dir):
    """TPC-H q17 shape: correlated per-part average decorrelated into an
    aggregate + co-partitioned join (same strategy Catalyst's decorrelation
    produces). Average = exact decimal sum / count, divided in double on
    both engines."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    avgs = (li.groupBy(F.col("l_partkey").alias("__pk"))
            .agg((F.sum(_money("l_quantity")).cast("double") /
                  F.count("*")).alias("__avg")))
    return (li.join(F.broadcast(part.filter(F.col("p_brand") == "Brand#2")),
                    F.col("l_partkey") == F.col("p_partkey"))
            .join(avgs, F.col("l_partkey") == F.col("__pk"))
            .filter(F.col("l_quantity") < F.lit(0.2) * F.col("__avg"))
            .agg((F.sum(_money("l_extendedprice")).cast("double") /
                  F.lit(7.0)).alias("avg_yearly")))


@gate(oracle=f"""
            SELECT CAST(SUM({_DISC}) AS DOUBLE) AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11
                   AND p_size BETWEEN 1 AND 5)
               OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20
                   AND p_size BETWEEN 1 AND 10)
               OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30
                   AND p_size BETWEEN 1 AND 15)""")
def q_disjunctive_revenue(spark, sf_dir):
    """TPC-H q19 shape: OR of bracketed (brand, quantity, size) predicates
    across the join — Catalyst keeps the partkey equi-join and pushes the
    residual disjunction as a join filter."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = _money("l_extendedprice") * (F.lit(1).cast(DEC) - _money("l_discount"))
    cond = (((F.col("p_brand") == "Brand#12") &
             F.col("l_quantity").between(1, 11) & F.col("p_size").between(1, 5)) |
            ((F.col("p_brand") == "Brand#23") &
             F.col("l_quantity").between(10, 20) & F.col("p_size").between(1, 10)) |
            ((F.col("p_brand") == "Brand#34") &
             F.col("l_quantity").between(20, 30) & F.col("p_size").between(1, 15)))
    return (li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
            .filter(cond)
            .agg(F.sum(rev).cast("double").alias("revenue")))


@gate(oracle="""
            SELECT s_suppkey AS suppkey, s_name
            FROM supplier
            WHERE s_suppkey IN (
                SELECT l_suppkey
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE p_name LIKE 'small%'
                  AND l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate <  TIMESTAMP '1997-01-01'
                GROUP BY 1
                HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300)""")
def q_heavy_suppliers(spark, sf_dir):
    """TPC-H q20 shape: IN-subquery whose inner query is itself an
    aggregate with HAVING — suppliers who moved more than a threshold
    quantity of 'small %' parts in 1996. The candidate set is tiny, so the
    final step is a broadcast semi join against the supplier dim."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    heavy = (li.filter((F.col("l_shipdate") >= F.lit("1996-01-01")) &
                       (F.col("l_shipdate") < F.lit("1997-01-01")))
             .join(F.broadcast(part.filter(F.col("p_name").like("small%"))),
                   F.col("l_partkey") == F.col("p_partkey"))
             .groupBy("l_suppkey")
             .agg(F.sum(_money("l_quantity")).alias("__qty"))
             .filter(F.col("__qty") > F.lit(300).cast(DEC)))
    return (supp.join(heavy, F.col("s_suppkey") == F.col("l_suppkey"), "leftsemi")
            .select(F.col("s_suppkey").alias("suppkey"), "s_name"))


@gate(oracle="""
            WITH li1 AS (SELECT l_orderkey, l_suppkey,
                                (l_shipdate > o_orderdate + INTERVAL 90 DAY) AS late
                         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                         WHERE o_orderstatus = 'F')
            SELECT s_name, count(*) AS numwait
            FROM li1 t JOIN supplier ON t.l_suppkey = s_suppkey
            WHERE t.late
              AND EXISTS (SELECT 1 FROM li1 u
                          WHERE u.l_orderkey = t.l_orderkey
                            AND u.l_suppkey <> t.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM li1 v
                              WHERE v.l_orderkey = t.l_orderkey
                                AND v.l_suppkey <> t.l_suppkey AND v.late)
            GROUP BY 1""")
def q_waiting_suppliers(spark, sf_dir):
    """TPC-H q21 shape: the sole-blame detector — suppliers whose lineitem
    shipped >90 days after the order date, in finished multi-supplier
    orders where NO other supplier shipped late. One exists (another
    supplier in the order) and one not-exists (another LATE supplier),
    both as orderkey-equi semi/anti joins with a suppkey inequality
    residual. (l_shipdate vs o_orderdate stands in for receipt/commit
    dates absent from the testdata.)"""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    li1 = (li.join(orders.filter(F.col("o_orderstatus") == "F"),
                   F.col("l_orderkey") == F.col("o_orderkey"))
           .select("l_orderkey", "l_suppkey",
                   (F.col("l_shipdate") >
                    F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("__late")))
    late = li1.filter(F.col("__late"))
    others = li1.select(F.col("l_orderkey").alias("__k2"),
                        F.col("l_suppkey").alias("__s2"))
    late_others = late.select(F.col("l_orderkey").alias("__k3"),
                              F.col("l_suppkey").alias("__s3"))
    blamed = (late
              .join(others, (F.col("l_orderkey") == F.col("__k2")) &
                            (F.col("l_suppkey") != F.col("__s2")), "leftsemi")
              .join(late_others, (F.col("l_orderkey") == F.col("__k3")) &
                                 (F.col("l_suppkey") != F.col("__s3")), "leftanti"))
    return (blamed.join(F.broadcast(supp),
                        F.col("l_suppkey") == F.col("s_suppkey"))
            .groupBy("s_name")
            .agg(F.count("*").alias("numwait")))


@gate(oracle="""
            SELECT c_nationkey, count(*) AS numcust,
                   CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
            FROM customer c
            WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
              AND c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                                      / COUNT(*)
                               FROM customer WHERE c_acctbal > 0)
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c.c_custkey
                                AND o_totalprice > 400000)
            GROUP BY 1""")
def q_idle_customers(spark, sf_dir):
    """TPC-H q22 shape: global-average scalar + anti join — customers above
    the positive-balance average with no large order (the testdata gives
    every customer ~10 orders, so the classic no-order-at-all predicate is
    vacuous; anti-joining against orders>400k keeps the NOT-EXISTS shape
    non-trivial), grouped by nation as the country-code analog. The one-row
    average broadcasts; the anti join carries only custkeys."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    avg_bal = (cust.filter(F.col("c_acctbal") > 0)
               .agg((F.sum(_money("c_acctbal")).cast("double") /
                     F.count("*")).alias("__avg")))
    return (cust.filter(F.col("c_nationkey").isin(1, 3, 5, 7, 9, 11, 13))
            .crossJoin(F.broadcast(avg_bal))
            .filter(F.col("c_acctbal") > F.col("__avg"))
            .join(orders.filter(F.col("o_totalprice") > 400000),
                  F.col("c_custkey") == F.col("o_custkey"), "left_anti")
            .groupBy("c_nationkey")
            .agg(F.count("*").alias("numcust"),
                 F.sum(_money("c_acctbal")).cast("double").alias("totacctbal")))


@gate(oracle="""
            SELECT o_custkey, o_orderkey,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                     PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS DOUBLE) AS running_total,
                   row_number() OVER (
                     PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ) AS order_seq
            FROM orders""")
def q_window_running_total(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey")
         .orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return orders.select(
        "o_custkey", "o_orderkey",
        F.sum(_money("o_totalprice")).over(w).cast("double").alias("running_total"),
        F.row_number().over(
            Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        ).alias("order_seq"))


@gate(oracle="""
            SELECT o_custkey, o_orderkey,
                   lag(o_totalprice, 1) OVER w AS prev_price,
                   lead(o_totalprice, 1) OVER w AS next_price,
                   CAST(ntile(4) OVER w AS INT) AS quartile,
                   percent_rank() OVER w AS pct_rank,
                   cume_dist() OVER w AS cume
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey)""")
def q_window_suite(spark, sf_dir):
    """Analytic window breadth in one pass: lag/lead, ntile, percent_rank,
    cume_dist over each customer's order history — one partition read, all
    five functions share the same sort (Catalyst collapses them into a
    single Window node). Order key (o_orderdate, o_orderkey) is unique, so
    every function is deterministic."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey", "o_orderkey",
        F.lag("o_totalprice", 1).over(w).alias("prev_price"),
        F.lead("o_totalprice", 1).over(w).alias("next_price"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"))


@gate(oracle="""
            SELECT l_returnflag,
                   quantile_cont(l_quantity, 0.25) AS p25,
                   quantile_cont(l_quantity, 0.5)  AS p50,
                   quantile_cont(l_quantity, 0.75) AS p75
            FROM lineitem GROUP BY 1""")
def q_quantity_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (p25/p50/p75) per return flag —
    Spark's exact `percentile` and DuckDB's `quantile_cont` share the
    (1-f)*lo + f*hi interpolation on sorted doubles, so the results are
    bit-identical."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.expr("percentile(l_quantity, 0.25)").alias("p25"),
                 F.expr("percentile(l_quantity, 0.5)").alias("p50"),
                 F.expr("percentile(l_quantity, 0.75)").alias("p75")))


@gate(oracle=f"""
            SELECT doc_id,
                   len({_TOK}) AS n_tokens,
                   len(list_distinct({_TOK})) AS n_distinct,
                   list_sort({_TOK})[1] AS first_sorted,
                   list_contains({_TOK}, 'spark') AS has_spark,
                   len(list_filter({_TOK}, t -> length(t) > 4)) AS n_long_tokens
            FROM documents""")
def q_array_suite(spark, sf_dir):
    """Array/higher-order-function breadth over document tokens: size,
    distinct, sort, membership, lambda filter — Spark array_* / Catalyst
    lambdas vs DuckDB list_* agree element-for-element."""
    docs = _t(spark, sf_dir, "documents")
    toks = tx.tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.element_at(F.sort_array(toks), 1).alias("first_sorted"),
        F.array_contains(toks, "spark").alias("has_spark"),
        F.size(F.filter(toks, lambda t: F.length(t) > 4))
         .cast("long").alias("n_long_tokens"))


@gate(oracle="""
            SELECT c_custkey,
                   upper(c_name) AS up,
                   lower(c_name) AS lo,
                   lpad(c_mktsegment, 12, '.') AS padded,
                   substring(c_name, 1, 8) AS prefix,
                   regexp_replace(c_name, 'Customer#0*', 'C') AS short_id,
                   reverse(c_mktsegment) AS rev_seg,
                   length(c_name) AS name_len
            FROM customer""")
def q_string_suite(spark, sf_dir):
    """String scalar-function breadth over customer names: case mapping,
    padding, substring, replace, reversal, length — the normalization
    toolkit, all single codegen stage, identical semantics both engines."""
    cust = _t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.upper("c_name").alias("up"),
        F.lower("c_name").alias("lo"),
        F.lpad("c_mktsegment", 12, ".").alias("padded"),
        F.substring("c_name", 1, 8).alias("prefix"),
        F.regexp_replace(F.col("c_name"), "Customer#0*", "C").alias("short_id"),
        F.reverse(F.col("c_mktsegment")).alias("rev_seg"),
        F.length("c_name").cast("long").alias("name_len"))


@gate(oracle="""
            SELECT event_id,
                   year(ts) AS y, quarter(ts) AS q, month(ts) AS m,
                   day(ts) AS d, hour(ts) AS h,
                   CAST(epoch(date_trunc('week', ts)) AS BIGINT)
                     AS week_start_epoch
            FROM events""")
def q_events_calendar(spark, sf_dir):
    """Date-part extraction suite over the event stream: year/quarter/
    month/day/hour plus the Monday-truncated week start as an epoch —
    the calendar-derivation pass an ingest pipeline runs once at landing
    (each a codegen-stage expression; both engines agree on ISO week
    truncation)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.year("ts").cast("long").alias("y"),
        F.quarter("ts").cast("long").alias("q"),
        F.month("ts").cast("long").alias("m"),
        F.dayofmonth("ts").cast("long").alias("d"),
        F.hour("ts").cast("long").alias("h"),
        F.unix_timestamp(F.date_trunc("week", "ts")).alias("week_start_epoch"))


@gate(oracle="""
            SELECT c_mktsegment,
                   count(*) FILTER (WHERE c_acctbal > 0) AS n_positive,
                   bool_and(c_acctbal > -1000) AS all_above_floor,
                   bool_or(c_acctbal > 9900) AS any_near_cap,
                   CAST(SUM(CASE WHEN c_acctbal > 0
                                 THEN CAST(c_acctbal AS DECIMAL(18,2))
                                 ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                     AS positive_balance
            FROM customer GROUP BY 1""")
def q_conditional_aggs(spark, sf_dir):
    """Filtered/boolean aggregate suite per segment: count_if, bool_and,
    bool_or, and a conditional decimal sum — the FILTER-clause family in
    one partial-aggregating pass."""
    cust = _t(spark, sf_dir, "customer")
    pos_bal = F.when(F.col("c_acctbal") > 0,
                     _money("c_acctbal")).otherwise(F.lit(0).cast(DEC))
    return (cust.groupBy("c_mktsegment")
            .agg(F.expr("count_if(c_acctbal > 0)").alias("n_positive"),
                 F.expr("bool_and(c_acctbal > -1000)").alias("all_above_floor"),
                 F.expr("bool_or(c_acctbal > 9900)").alias("any_near_cap"),
                 F.sum(pos_bal).cast("double").alias("positive_balance")))


@gate(oracle="SELECT DISTINCT c_mktsegment FROM customer")
def q_distinct_segments(spark, sf_dir):
    return (_t(spark, sf_dir, "customer")
            .select("c_mktsegment").distinct())


@gate(oracle="""
            SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS hour_epoch,
                   event_type,
                   count(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2""")
def q_events_hourly(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(
                F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_epoch"),
                "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum(_money("value")).cast("double").alias("sum_value")))


# incremental aggregate maintenance: the maintained table must equal
# the full recompute over (base - deletes) UNION inserts; DECIMAL sums
# are exact on both engines, cast to double only at output
@gate(oracle="""
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events
        WHERE event_id % 5 = 0
           OR (event_id % 5 != 0 AND event_id % 9 != 0)
        GROUP BY user_id
        HAVING count(*) > 0""")
def q_incremental_agg(spark, sf_dir):
    """Incremental aggregate maintenance (operators.incremental.
    incremental_agg): the stored per-user (count, decimal sum) aggregate
    over the base slice (event_id % 5 != 0) is folded with a CDC
    changelog — inserts (the % 5 == 0 rows) and deletes (base rows with
    % 9 == 0) — WITHOUT rescanning the base. Exact BIGINT/DECIMAL
    arithmetic makes the maintained table bit-identical to the oracle's
    full recompute over (base − deletes) ∪ inserts."""
    from bqetl_spark.operators.incremental import incremental_agg

    ev = _t(spark, sf_dir, "events")
    base_rows = ev.filter(F.col("event_id") % 5 != 0)
    base = (base_rows.groupBy("user_id")
            .agg(F.count("*").alias("n_rows"),
                 F.sum(F.col("value").cast("decimal(18,2)"))
                 .alias("sum_value")))
    inserts = (ev.filter(F.col("event_id") % 5 == 0)
               .withColumn("op", F.lit("I")))
    deletes = (base_rows.filter(F.col("event_id") % 9 == 0)
               .withColumn("op", F.lit("D")))
    out = incremental_agg(base, inserts.unionByName(deletes),
                          keys=["user_id"],
                          sum_specs={"sum_value": "value"},
                          count_col="n_rows")
    return out.select("user_id", "n_rows",
                      F.col("sum_value").cast("double").alias("sum_value"))


# longest strictly-increasing run: gaps-and-islands replay of the
# applyInPandas loop (brk=1 unless value > lag(value); NULL breaks and
# counts as its own singleton run, three-valued logic on both sides)
@gate(oracle="""
        WITH s AS (
            SELECT user_id, value,
                   row_number() OVER w AS rn,
                   CASE WHEN value > lag(value) OVER w THEN 0 ELSE 1 END
                     AS brk
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        g AS (
            SELECT user_id, rn,
                   SUM(brk) OVER (PARTITION BY user_id ORDER BY rn) AS grp
            FROM s),
        runs AS (
            SELECT user_id, grp, count(*) AS len
            FROM g GROUP BY user_id, grp)
        SELECT user_id, CAST(max(len) AS BIGINT) AS longest_run,
               CAST(sum(len) AS BIGINT) AS n_events
        FROM runs GROUP BY user_id""")
def q_increasing_runs(spark, sf_dir):
    """Longest strictly-increasing value run per user in (ts, event_id)
    order (operators.timeseries.longest_increasing_run). r7: the default
    is the pure-Catalyst gaps-and-islands window plan — the SAME
    formulation the oracle runs — after the r6 verdict measured the
    grouped-applyInPandas path at 26x DuckDB. The imperative variant
    survives as longest_increasing_run_grouped_map (the grouped-map API
    exemplar), pinned equal to this default and the oracle by
    tests/test_timeseries.py."""
    from bqetl_spark.operators.timeseries import longest_increasing_run

    ev = _t(spark, sf_dir, "events")
    return longest_increasing_run(ev)


@gate(oracle="""
            SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events
            WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50""")
def q_events_json(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.select("event_id",
                      F.get_json_object("props", "$.k").cast("long").alias("k"))
            .filter(F.col("k") > 50))


@gate(oracle="""
            WITH g AS (
              SELECT user_id,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
            SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions, count(*) AS n_events
            FROM g GROUP BY user_id""")
def q_sessionize(spark, sf_dir):
    """Sessionization: a 30-minute inactivity gap starts a new session."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond epochs: unix_timestamp truncates to seconds, which would
    # disagree with the oracle's fractional-second gaps at the boundary
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    marked = ev.withColumn(
        "new_sess",
        F.when(gap.isNull() | (gap > 1800 * 1_000_000), F.lit(1)).otherwise(F.lit(0)))
    return (marked.groupBy("user_id")
            .agg(F.sum("new_sess").cast("long").alias("n_sessions"),
                 F.count("*").alias("n_events")))


# native session windows: same islands rule as `sessionize` (break
# strictly on gap exceeded — verified boundary semantics: events
# exactly 1800s apart merge), grouped to (start, last+gap) spans
_SESSION_WINDOW_ORACLE = """
            WITH e AS (
              SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
              FROM events
            ), m AS (
              SELECT user_id, us,
                     CASE WHEN lag(us) OVER w IS NULL
                               OR us - lag(us) OVER w > 1800000000
                          THEN 1 ELSE 0 END AS brk
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
            ), g AS (
              SELECT user_id, us,
                     SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                                    ROWS UNBOUNDED PRECEDING) AS sid
              FROM m)
            SELECT user_id,
                   min(us) AS sess_start_us,
                   max(us) + 1800000000 AS sess_end_us,
                   count(*) AS n_events
            FROM g GROUP BY user_id, sid"""


@gate(oracle=_SESSION_WINDOW_ORACLE)
def q_session_window(spark, sf_dir):
    """Native session windows (F.session_window, 30-minute gap): Spark's
    built-in gap-merge operator — the streaming-capable sibling of the
    lag-island sessionization in q_sessionize. Verified boundary
    semantics: events exactly gap-apart MERGE (break strictly on
    gap-exceeded), end = last event + gap; the oracle reproduces that
    islands rule in SQL. Epoch-microsecond outputs keep the comparison
    integer-exact."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
            .agg(F.count("*").alias("n_events"))
            .select("user_id",
                    F.unix_micros(F.col("session_window.start"))
                    .alias("sess_start_us"),
                    F.unix_micros(F.col("session_window.end"))
                    .alias("sess_end_us"),
                    "n_events"))


@gate(oracle="SELECT o_orderkey, " + " + ".join(
            f"((({col} % 65536) >> {b}) & 1) * {1 << (b * 2 + i)}"
            for b in range(16)
            for i, col in enumerate(("o_custkey", "o_orderkey"))
        ) + " AS zkey FROM orders")
def q_zorder_key(spark, sf_dir):
    """Z-order (Morton) layout key in the gate: bit-interleave of
    (o_custkey, o_orderkey) low 16 bits — the sort key write_zordered
    lays files out by (operators/layout.py). Pure integer shifts/masks,
    reproduced exactly in the SQL oracle."""
    from bqetl_spark.operators.layout import zorder_key

    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        zorder_key([F.pmod(F.col("o_custkey"), F.lit(1 << 16)),
                    F.pmod(F.col("o_orderkey"), F.lit(1 << 16))])
        .alias("zkey"))


# Hilbert key: the xy2d walk as a linear CTE chain (one
# reference per level — no inlining blowup); xor() is native.
# Each level computes xn/yn/dn in an inner select and re-aliases
# them outside (ADVICE r10): reusing x/y as output aliases made
# the rotated expressions depend on DuckDB preferring source
# columns over lateral column aliases — correct on the pinned
# engine but fragile if alias-resolution precedence changes
@gate(oracle="""
            WITH h0 AS (
                SELECT o_orderkey, o_custkey % 256 AS x,
                       o_orderkey % 256 AS y, CAST(0 AS BIGINT) AS d
                FROM orders)"""
            + "".join(f""",
            h{i} AS (
                SELECT o_orderkey, xn AS x, yn AS y, dn AS d FROM (
                    SELECT o_orderkey,
                           CASE WHEN (y & {1 << (8 - i)}) = 0
                                THEN (CASE WHEN (x & {1 << (8 - i)}) != 0
                                           THEN 255 - y ELSE y END)
                                ELSE x END AS xn,
                           CASE WHEN (y & {1 << (8 - i)}) = 0
                                THEN (CASE WHEN (x & {1 << (8 - i)}) != 0
                                           THEN 255 - x ELSE x END)
                                ELSE y END AS yn,
                           d + {(1 << (8 - i)) ** 2} * xor(
                               CASE WHEN (x & {1 << (8 - i)}) != 0
                                    THEN 3 ELSE 0 END,
                               CASE WHEN (y & {1 << (8 - i)}) != 0
                                    THEN 1 ELSE 0 END) AS dn
                    FROM h{i - 1}) s{i})""" for i in range(1, 9))
            + """
            SELECT o_orderkey, CAST(d AS BIGINT) AS hkey FROM h8""")
def q_hilbert_key(spark, sf_dir):
    """Hilbert-curve layout key (operators.layout.hilbert_key, r10):
    xy2d over (o_custkey, o_orderkey) low 8 bits as a RUNTIME
    F.aggregate fold (a macro-unrolled column would grow the expression
    tree ~5× per level), the locality-preserving sibling of zorder_key
    — consecutive keys are always grid neighbors, so range-partitioned
    files carry strictly tighter two-dimensional min/max boxes. Pure
    integer walk, replayed by the oracle as a linear CTE chain."""
    from bqetl_spark.operators.layout import hilbert_key

    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        hilbert_key(F.pmod(F.col("o_custkey"), F.lit(256)),
                    F.pmod(F.col("o_orderkey"), F.lit(256)),
                    bits=8).alias("hkey"))


# per-event session ordinals: cumulative breaks under the same
# (ts, event_id)-ordered islands rule
@gate(oracle="""
            WITH m AS (
              SELECT event_id, user_id,
                     epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR epoch_us(CAST(ts AS TIMESTAMP))
                                  - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP))
                                  > 1800000000
                          THEN 1 ELSE 0 END AS brk
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
            SELECT event_id, user_id, ts_us,
                   CAST(SUM(brk) OVER (PARTITION BY user_id
                                       ORDER BY ts_us, event_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
                     AS session_id
            FROM m""")
def q_session_labels(spark, sf_dir):
    """Per-EVENT session labels (the join-key downstream feature pipelines
    need): cumulative-break islands give each event its user-local
    session ordinal — same 30-min gap rule as q_sessionize/q_session_window
    but emitting the event→session assignment rather than aggregates."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    brk = F.when(gap.isNull() | (gap > 1800 * 1_000_000),
                 F.lit(1)).otherwise(F.lit(0))
    return (ev.withColumn("__b", brk)
            .withColumn("session_id",
                        F.sum("__b").over(
                            w.rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)).cast("long"))
            .select("event_id", "user_id",
                    F.unix_micros("ts").alias("ts_us"), "session_id"))


# event-time RANGE frame: trailing 30 minutes inclusive
@gate(oracle="""
            SELECT event_id, user_id,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                   count(*) OVER w AS n_last_30m,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
                     AS value_last_30m
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
                         RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)""")
def q_rolling_window(spark, sf_dir):
    """Event-time RANGE-frame window: per event, the user's activity count
    and value sum over the trailing 30 minutes (rangeBetween on epoch
    micros — the time-based frame, vs the ROWS frames elsewhere in the
    suite). Range frames include all peers, so ties need no ordering
    tiebreak; the decimal sum keeps the comparison exact."""
    ev = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy(F.unix_micros("ts"))
         .rangeBetween(-1800 * 1_000_000, 0))
    return (ev.select("event_id", "user_id",
                      F.unix_micros("ts").alias("ts_us"),
                      F.count("*").over(w).alias("n_last_30m"),
                      F.sum(F.col("value").cast("decimal(18,2)")).over(w)
                      .cast("double").alias("value_last_30m")))


@gate(oracle="""
            WITH p AS (
              SELECT user_id, ts, max(event_id) AS purchase_id,
                     max(value) AS purchase_value
              FROM events WHERE event_type = 'purchase'
              GROUP BY user_id, ts)
            SELECT e.event_id, p.purchase_id, p.purchase_value
            FROM events e
            ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.ts""")
def q_asof_purchase(spark, sf_dir):
    """As-of join: each event annotated with the user's most recent purchase
    at or before it (operators/asof.py; oracle = DuckDB ASOF JOIN)."""
    ev = _t(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 # deterministic right side: unique per (user_id, ts)
                 .groupBy("user_id", "ts")
                 .agg(F.max("event_id").alias("purchase_id"),
                      F.max("value").alias("purchase_value")))
    out = asof_join(ev.select("event_id", "user_id", "ts"), purchases,
                    on="ts", by="user_id",
                    right_cols=["purchase_id", "purchase_value"], suffix="")
    return out.select("event_id", "purchase_id", "purchase_value")


@gate(oracle="""
            WITH p AS (
              SELECT user_id, ts, max(event_id) AS purchase_id
              FROM events WHERE event_type = 'purchase'
              GROUP BY user_id, ts)
            SELECT e.event_id,
                   CASE WHEN b.purchase_id IS NOT NULL AND (f.purchase_id IS NULL
                             OR (epoch_us(e.ts) - epoch_us(b.ts))
                                <= (epoch_us(f.ts) - epoch_us(e.ts)))
                        THEN b.purchase_id ELSE f.purchase_id END AS purchase_id
            FROM events e
            ASOF LEFT JOIN p b ON e.user_id = b.user_id AND e.ts >= b.ts
            ASOF LEFT JOIN p f ON e.user_id = f.user_id AND e.ts <= f.ts""")
def q_asof_nearest(spark, sf_dir):
    """Nearest-direction as-of join (ties to backward): each event with the
    temporally closest purchase of the same user. The oracle runs TWO
    native DuckDB ASOF joins (>= backward, <= forward) and picks the closer
    by epoch-microsecond distance — the same rule the operator applies."""
    ev = _t(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .groupBy("user_id", "ts")
                 .agg(F.max("event_id").alias("purchase_id")))
    out = asof_join(ev.select("event_id", "user_id", "ts"), purchases,
                    on="ts", by="user_id", right_cols=["purchase_id"],
                    suffix="", direction="nearest")
    return out.select("event_id", "purchase_id")


@gate(oracle="""
            SELECT p_partkey, p_name FROM part
            WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)""")
def q_parts_never_ordered(spark, sf_dir):
    """Anti join: parts with no lineitem referencing them."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    return (part.join(li, part["p_partkey"] == li["l_partkey"], "left_anti")
            .select("p_partkey", "p_name"))


@gate(oracle="""
            SELECT s_suppkey, s_name FROM supplier
            WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)""")
def q_suppliers_with_sales(spark, sf_dir):
    """Semi join: suppliers that appear in at least one lineitem."""
    sup = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    return (sup.join(li, sup["s_suppkey"] == li["l_suppkey"], "left_semi")
            .select("s_suppkey", "s_name"))


@gate(oracle="""
            SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
            EXCEPT
            SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000""")
def q_except_segments(spark, sf_dir):
    """Set op: BUILDING customers EXCEPT big spenders (set semantics)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING") \
                   .select(F.col("c_custkey").alias("custkey"))
    big = orders.filter(F.col("o_totalprice") > 300000) \
                .select(F.col("o_custkey").alias("custkey"))
    return building.exceptAll(big.distinct()).distinct()


@gate(oracle="""
            SELECT r_name, n_name,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                   count(*) AS n_orders
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            JOIN orders ON c_custkey = o_custkey
            GROUP BY ROLLUP (r_name, n_name)""")
def q_rollup_revenue(spark, sf_dir):
    """ROLLUP (region, nation): subtotal rows carry NULL group keys."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = (cust
              .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
              .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
              .join(orders, F.col("c_custkey") == F.col("o_custkey")))
    return (joined.rollup("r_name", "n_name")
            .agg(F.sum(_money("o_totalprice")).cast("double").alias("revenue"),
                 F.count("*").alias("n_orders")))


@gate(oracle="""
            SELECT o_orderstatus, o_orderpriority,
                   CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
                   count(*) AS n
            FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""")
def q_rollup_grouping_id(spark, sf_dir):
    """ROLLUP with grouping_id disambiguating subtotal rows from real NULL
    group keys (bitmask semantics shared with the SQL standard)."""
    orders = _t(spark, sf_dir, "orders")
    return (orders.rollup("o_orderstatus", "o_orderpriority")
            .agg(F.grouping_id().alias("gid"),
                 F.count("*").alias("n"))
            .select("o_orderstatus", "o_orderpriority", "gid", "n"))


@gate(oracle="""
            SELECT o_orderstatus, o_orderpriority,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                   CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                    (o_orderstatus, o_orderpriority))""")
def q_grouping_sets_revenue(spark, sf_dir):
    """Explicit GROUPING SETS (the general form rollup/cube specialize):
    revenue by status, by priority, and by the pair — one pass, partial
    aggregation per set, no union-of-three-scans. The DataFrame API only
    exposes rollup/cube, so this goes through spark.sql."""
    orders = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__gs_orders")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               grouping_id(o_orderstatus, o_orderpriority) AS gid
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority))""")


@gate(oracle="""
            SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
              FROM orders)
            WHERE rk <= 3""")
def q_top_orders_per_customer(spark, sf_dir):
    """Top-k per group: each customer's 3 largest orders."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"),
                                                F.asc("o_orderkey"))
    return (orders.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3)
            .select("o_custkey", "o_orderkey", "o_totalprice", "rk"))


@gate(oracle="""
            SELECT l_returnflag,
                   quantile_cont(l_quantity, 0.5) AS median_qty,
                   count(*) AS n
            FROM lineitem GROUP BY l_returnflag""")
def q_median_quantity(spark, sf_dir):
    """Exact interpolated median per group (percentile ≙ quantile_cont)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.percentile("l_quantity", 0.5).alias("median_qty"),
                 F.count("*").alias("n")))


@gate(oracle="""
            SELECT p_brand, count(DISTINCT l_suppkey) AS n_suppliers,
                   count(*) AS n_lineitems
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand""")
def q_distinct_suppliers_per_brand(spark, sf_dir):
    """Exact COUNT(DISTINCT) through a join."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    return (li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
            .groupBy("p_brand")
            .agg(F.countDistinct("l_suppkey").alias("n_suppliers"),
                 F.count("*").alias("n_lineitems")))


@gate(oracle="""
            WITH bands AS (
              SELECT n_nationkey AS band_id,
                     CAST(n_nationkey AS DOUBLE) * 20000.0 AS lo,
                     CAST(n_nationkey AS DOUBLE) * 20000.0 + 30000.0 AS hi
              FROM nation)
            SELECT band_id, count(*) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS band_total
            FROM orders JOIN bands
              ON o_totalprice >= lo AND o_totalprice <= hi
            GROUP BY band_id""")
def q_range_join_bands(spark, sf_dir):
    """Bucketized range join (operators/rangejoin.py): orders binned into
    overlapping price bands derived from nation keys; oracle = plain
    non-equi join in DuckDB."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    nation = _t(spark, sf_dir, "nation")
    bands = nation.select(
        F.col("n_nationkey").alias("band_id"),
        (F.col("n_nationkey").cast("double") * 20000.0).alias("lo"),
        (F.col("n_nationkey").cast("double") * 20000.0 + 30000.0).alias("hi"))
    joined = range_join_point(orders, bands, point="o_totalprice",
                              lo="lo", hi="hi", bucket_width=10000)
    return (joined.groupBy("band_id")
            .agg(F.count("*").alias("n_orders"),
                 F.sum(_money("o_totalprice")).cast("double").alias("band_total")))


@gate(oracle="""
            SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value
            FROM part
            UNION ALL
            SELECT p_partkey, 'p_retailprice', CAST(p_retailprice AS DOUBLE)
            FROM part""")
def q_unpivot_part_metrics(spark, sf_dir):
    """Unpivot (wide→long): part's numeric attributes as (metric, value)
    rows."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
    ).unpivot("p_partkey", ["p_size", "p_retailprice"], "metric", "value")


@gate(oracle="""
            WITH a AS (
              SELECT o_custkey AS ck,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       / count(*) AS avg_price
              FROM orders GROUP BY o_custkey)
            SELECT o_orderkey, o_custkey, o_totalprice
            FROM orders JOIN a ON o_custkey = ck
            WHERE o_totalprice > avg_price""")
def q_orders_above_customer_avg(spark, sf_dir):
    """Correlated-subquery semantics: orders above their own customer's
    average order value (decorrelated to a join against a grouped
    aggregate — the plan Spark/Catalyst produces for the subquery form)."""
    orders = _t(spark, sf_dir, "orders")
    avgs = (orders.groupBy(F.col("o_custkey").alias("ck"))
            .agg((F.sum(_money("o_totalprice")).cast("double")
                  / F.count("*")).alias("avg_price")))
    return (orders.join(avgs, F.col("o_custkey") == F.col("ck"))
            .filter(F.col("o_totalprice") > F.col("avg_price"))
            .select("o_orderkey", "o_custkey", "o_totalprice"))


@gate(oracle="""
            SELECT c_mktsegment, count(*) AS n,
                   round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))
                              * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
                         - (CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*))
                           * (CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)),
                         4) AS variance
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment""")
def q_customer_variance(spark, sf_dir):
    """Exact population variance per segment via decimal sums:
    var = sumsq/n − (sum/n)² — order-independent (no streaming-variance
    float drift), reproducible on any partitioning."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    p = _money("o_totalprice")
    joined = orders.join(F.broadcast(cust),
                         F.col("o_custkey") == F.col("c_custkey"))
    agg = (joined.groupBy("c_mktsegment")
           .agg(F.sum(p).cast("double").alias("s"),
                F.sum(p * p).cast("double").alias("sq"),
                F.count("*").alias("n")))
    var = F.col("sq") / F.col("n") - (F.col("s") / F.col("n")) * (F.col("s") / F.col("n"))
    return agg.select("c_mktsegment", "n", F.round(var, 4).alias("variance"))


@gate(oracle="""
            SELECT c_custkey,
                   CASE WHEN c_acctbal > 7500 THEN 'VIP' ELSE c_mktsegment END
                     AS c_mktsegment
            FROM customer""")
def q_upsert_customers(spark, sf_dir):
    """MERGE-style upsert (operators/merge.py): a derived changeset marks
    high-balance customers as segment 'VIP'; unmatched rows pass through."""
    cust = _t(spark, sf_dir, "customer")
    changes = (cust.filter(F.col("c_acctbal") > 7500)
               .withColumn("c_mktsegment", F.lit("VIP")))
    merged = upsert(cust, changes, "c_custkey")
    return merged.select("c_custkey", "c_mktsegment")


@gate(oracle="""
            SELECT user_id, event_type, event_id,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS valid_from_us,
                   epoch_us(CAST(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                            AS TIMESTAMP)) AS valid_to_us
            FROM events""")
def q_scd2_intervals(spark, sf_dir):
    """SCD2 validity intervals from the event log (per user, per event
    type change): valid_from/valid_to as epoch micros, open-ended last."""
    ev = _t(spark, sf_dir, "events")
    iv = scd2_intervals(ev.select("user_id", "ts", "event_type", "event_id"),
                        key="user_id", time_col="ts",
                        attr_cols=["event_type", "event_id"],
                        tiebreak_cols=["event_id"])
    return iv.select(
        "user_id", "event_type", "event_id",
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.unix_micros("valid_to").alias("valid_to_us"))


# point-in-time join: SCD2 intervals from the purchase log, each click
# matched to the version containing its timestamp (left join)
@gate(oracle="""
        WITH p AS (
          SELECT user_id, ts, event_id, value FROM events
          WHERE event_type = 'purchase'
        ), dim AS (
          SELECT user_id, event_id AS purchase_id, value, ts AS vf,
                 lead(ts) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS vt
          FROM p
        ), c AS (
          SELECT event_id AS click_id, user_id, ts FROM events
          WHERE event_type = 'click')
        SELECT c.click_id, c.user_id,
               epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_ts_us,
               dim.purchase_id, dim.value AS purchase_value
        FROM c LEFT JOIN dim
          ON c.user_id = dim.user_id AND c.ts >= dim.vf
             AND (dim.vt IS NULL OR c.ts < dim.vt)""")
def q_point_in_time(spark, sf_dir):
    """Point-in-time-correct enrichment (operators.merge.point_in_time_join
    over scd2_intervals): every click joined to the purchase-version of
    its user valid AT the click's timestamp — the leakage-safe dimension
    lookup. Left join: clicks before the user's first purchase keep NULLs.
    Equi join on the key, interval test as residual (no range blowup)."""
    from bqetl_spark.operators.merge import point_in_time_join

    ev = _t(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("user_id", "ts", "event_id", "value"))
    dim = scd2_intervals(purchases, key="user_id", time_col="ts",
                         attr_cols=["event_id", "value"],
                         tiebreak_cols=["event_id"])
    clicks = (ev.filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"), "user_id", "ts"))
    j = point_in_time_join(clicks, dim.withColumnRenamed("event_id",
                                                         "purchase_id"),
                           "user_id", "ts")
    return j.select("click_id", "user_id",
                    F.unix_micros("ts").alias("click_ts_us"),
                    "purchase_id",
                    F.col("value").alias("purchase_value"))


# changelog compaction: latest row per user by (ts, event_id) desc
@gate(oracle="""
        SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               event_id, event_type, value
        FROM (SELECT user_id, ts, event_id, event_type, value,
                     row_number() OVER (PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
              FROM events)
        WHERE rn = 1""")
def q_compact_changelog(spark, sf_dir):
    """CDC compaction (operators.merge.compact_changelog): the event log
    compacted to each user's latest event (ties by event_id desc) — the
    append-stream → current-snapshot step before serving. Oracle = the
    same total-ordered window rule in SQL."""
    from bqetl_spark.operators.merge import compact_changelog

    ev = _t(spark, sf_dir, "events")
    out = compact_changelog(
        ev.select("user_id", "ts", "event_id", "event_type", "value"),
        key="user_id", ts_col="ts", tiebreak_cols=["event_id"])
    return out.select("user_id", F.unix_micros("ts").alias("ts_us"),
                      "event_id", "event_type", "value")


@gate(oracle="""
            SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
            FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""")
def q_cube_status_priority(spark, sf_dir):
    """CUBE over (status, priority) — all four grouping-set combinations."""
    orders = _t(spark, sf_dir, "orders")
    return (orders.cube("o_orderstatus", "o_orderpriority")
            .agg(F.count("*").alias("n"),
                 F.sum(_money("o_totalprice")).cast("double").alias("total")))


@gate(oracle="""
            SELECT CAST(epoch(time_bucket(INTERVAL 15 MINUTES, CAST(ts AS TIMESTAMP))) AS BIGINT)
                     AS bucket_epoch,
                   event_type, count(*) AS n_events
            FROM events GROUP BY 1, 2""")
def q_tumbling_window(spark, sf_dir):
    """F.window tumbling 15-minute aggregation over the event stream
    (batch form; the streaming module runs the same shape incrementally)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"))
            .select(F.unix_timestamp(F.col("w.start")).alias("bucket_epoch"),
                    "event_type", "n_events"))


@gate(oracle="""
            WITH u AS (
              SELECT o_custkey, o_totalprice FROM orders WHERE o_orderpriority = '1-URGENT'
              UNION ALL
              SELECT o_custkey, o_totalprice FROM orders WHERE o_totalprice > 400000)
            SELECT o_custkey, count(*) AS n,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
            FROM u GROUP BY o_custkey""")
def q_union_high_value(spark, sf_dir):
    """UNION ALL of two differently-filtered projections, re-aggregated."""
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT") \
              .select("o_custkey", "o_totalprice")
    b = orders.filter(F.col("o_totalprice") > 400000) \
              .select("o_custkey", "o_totalprice")
    return (a.unionAll(b).groupBy("o_custkey")
            .agg(F.count("*").alias("n"),
                 F.sum(_money("o_totalprice")).cast("double").alias("total")))


@gate(oracle="""
            SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
            INTERSECT
            SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'""")
def q_intersect_customers(spark, sf_dir):
    """INTERSECT: customers appearing in both filtered sets."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    a = cust.filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("custkey"))
    b = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey"))
    return a.intersect(b)


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@gate(oracle="""
            SELECT user_id,
                   count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
                   count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
                   count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
                   count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
                   count(CASE WHEN event_type = 'view' THEN 1 END) AS view
            FROM events GROUP BY user_id""")
def q_pivot_event_counts(spark, sf_dir):
    """Pivot: one column per event type, zero-filled."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("user_id")
            .pivot("event_type", EVENT_TYPES)
            .count()
            .na.fill(0, EVENT_TYPES))


# frequent subsequences: pairs from per-(key,type) min/max order
# statistics; triples witness the middle occurrence via a range
# join on positions + DISTINCT (oracle-side only; Spark uses a
# map-side array exists)
@gate(oracle="""
        WITH pos AS MATERIALIZED (
            SELECT user_id AS k, event_type AS t,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS p
            FROM events),
        st AS MATERIALIZED (
            SELECT k, t, min(p) AS mn, max(p) AS mx
            FROM pos GROUP BY k, t),
        pairs AS (
            SELECT a.t || '>' || b.t AS pattern,
                   CAST(2 AS BIGINT) AS plen,
                   CAST(count(*) AS BIGINT) AS support
            FROM st a JOIN st b ON a.k = b.k
            WHERE a.mn < b.mx
            GROUP BY 1),
        tri AS (
            SELECT DISTINCT a.k, a.t AS ta, pb.t AS tb, c.t AS tc
            FROM st a
            JOIN st c ON a.k = c.k
            JOIN pos pb ON pb.k = a.k AND pb.p > a.mn AND pb.p < c.mx),
        triples AS (
            SELECT ta || '>' || tb || '>' || tc AS pattern,
                   CAST(3 AS BIGINT) AS plen,
                   CAST(count(*) AS BIGINT) AS support
            FROM tri GROUP BY 1)
        SELECT * FROM pairs WHERE support >= 5
        UNION ALL
        SELECT * FROM triples WHERE support >= 5""")
def q_frequent_seqs(spark, sf_dir):
    """Sequential-pattern mining (operators.timeseries.
    frequent_subsequences, r10): support counts for every length-2/3
    ordered type pattern occurring as a gapped SUBSEQUENCE of a user's
    event stream — the mining complement to event_pattern's known-
    pattern matching. Containment by order statistics (first-a <
    last-b; a middle-b between them via a map-side array exists — no
    range join on the Spark side); per-user state from one window
    pass. Oracle replays pairs from min/max and triples via a
    positions range join + DISTINCT."""
    from bqetl_spark.operators.timeseries import frequent_subsequences

    ev = _t(spark, sf_dir, "events")
    return frequent_subsequences(ev, min_support=5)


# basket lift: guarded sample space (basket size in [2,20]) defines
# N, the item frequencies AND the pairs; pure integer ppm in HUGEINT
@gate(oracle="""
        WITH bi AS (
            SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
            FROM lineitem),
        sz AS (
            SELECT bk FROM bi GROUP BY bk
            HAVING count(*) BETWEEN 2 AND 20),
        gb AS (SELECT bi.bk, bi.it FROM bi JOIN sz USING (bk)),
        nb AS (SELECT count(DISTINCT bk) AS n FROM gb),
        freq AS (SELECT it, count(*) AS n FROM gb GROUP BY it),
        pairs AS (
            SELECT x.it AS a, y.it AS b, count(*) AS n_pair
            FROM gb x JOIN gb y ON x.bk = y.bk AND x.it < y.it
            GROUP BY x.it, y.it
            HAVING count(*) >= 2)
        SELECT p.a AS item_a, p.b AS item_b,
               CAST(p.n_pair AS BIGINT) AS n_pair,
               CAST((p.n_pair::HUGEINT * nb.n * 1000000)
                    // (fa.n::HUGEINT * fb.n) AS BIGINT) AS lift_ppm
        FROM pairs p
        JOIN freq fa ON p.a = fa.it
        JOIN freq fb ON p.b = fb.it
        CROSS JOIN nb""")
def q_basket_lift(spark, sf_dir):
    """Market-basket association rules (functions.stats.basket_lift,
    r10): lift(a,b) = P(ab)/(P(a)·P(b)) over the parts co-purchased on
    an order, exact integer ppm (n_ab·N·10⁶ div n_a·n_b — no float
    anywhere). Pair expansion is map-only over sorted per-order arrays
    (the copurchase_edges shape) with the [2,20] basket-size guard;
    support ≥ 2 orders. The oracle replays the guarded sample space,
    frequencies and HUGEINT lift bit-for-bit."""
    lineitem = _t(spark, sf_dir, "lineitem")
    li = lineitem.select(F.col("l_orderkey").alias("ok"),
                         F.col("l_partkey").cast("long").alias("pk"))
    return st.basket_lift(li, "ok", "pk", min_baskets=2)


@gate(oracle="""
        SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_price
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderstatus""")
def q_salted_join(spark, sf_dir):
    """Skew-salted join in the gate (operators.skew.salted_join): lineitem
    ⋈ orders with 8-way key scattering, aggregated per orderstatus. The
    salt changes only the physical distribution — the oracle is the plain
    equi-join aggregate, so the hash-match proves distribution-invariance
    (the property BENCH_SKEW measures the speed of: 113.8s naive vs 20.1s
    salted on a 60%-hot-key join)."""
    from bqetl_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    j = salted_join(li, orders.select("o_orderkey", "o_orderstatus"),
                    "l_orderkey", "o_orderkey", salt=8)
    return (j.groupBy("o_orderstatus")
            .agg(F.count("*").alias("n_items"),
                 F.sum(_money("l_extendedprice")).cast("double")
                 .alias("total_price")))


# adaptive variant: the oracle is the same plain equi join — the
# Misra-Gries detection + selective scatter must be invisible in values
@gate(oracle="""
        SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_qty
        FROM (SELECT CASE WHEN l_orderkey % 10 < 6 THEN 0
                     ELSE l_orderkey % 25 END AS k, l_quantity
              FROM lineitem) s
        JOIN nation ON s.k = n_nationkey
        GROUP BY n_name""")
def q_salted_join_auto(spark, sf_dir):
    """Frequency-ADAPTIVE skew join in the gate: a synthetic 60%-hot key
    (l_orderkey%10<6 → key 0) joined to nation. salted_join(salt=None)
    detects the hot key with a Misra-Gries pass and scatters only it; the
    oracle is the plain equi-join aggregate, so the hash-match proves the
    adaptive scatter is distribution-invariant end-to-end (detection →
    per-key factor → selective replication → shuffle-hash join)."""
    from bqetl_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem")
    skewed = li.select(
        F.when(F.col("l_orderkey") % 10 < 6, F.lit(0))
         .otherwise(F.col("l_orderkey") % 25).alias("k"),
        "l_quantity")
    nation = _t(spark, sf_dir, "nation")
    j = salted_join(skewed, nation.select("n_nationkey", "n_name"),
                    "k", "n_nationkey", salt=None)
    return (j.groupBy("n_name")
            .agg(F.count("*").alias("n_items"),
                 F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                 .cast("double").alias("total_qty")))


# epoch seconds via epoch_us // 1000000 — FLOOR division, matching
# Spark's unix_timestamp. CAST(date_part('epoch', ...)) ROUNDS in
# DuckDB, which disagrees on ~half the sub-second timestamps and only
# passed because no pair sat exactly on a window boundary at this SF.
@gate(oracle="""
        WITH c AS (
            SELECT user_id, event_id AS click_id,
                   CAST(epoch_us(ts) // 1000000 AS BIGINT) AS lo,
                   CAST(epoch_us(ts) // 1000000 AS BIGINT) + 1800 AS hi
            FROM events WHERE event_type = 'click'
        ), p AS (
            SELECT user_id, event_id AS purchase_id,
                   CAST(epoch_us(ts) // 1000000 AS BIGINT) AS lo,
                   CAST(epoch_us(ts) // 1000000 AS BIGINT) + 900 AS hi
            FROM events WHERE event_type = 'purchase'
        )
        SELECT c.user_id, c.click_id, p.purchase_id
        FROM c JOIN p ON c.user_id = p.user_id
                     AND c.lo <= p.hi AND p.lo <= c.hi""")
def q_interval_overlap(spark, sf_dir):
    """Interval-overlap join (operators.rangejoin.interval_overlap_join):
    per-user click activity windows [ts, ts+30m] against purchase windows
    [ts, ts+15m]. Bucketized on both sides — the only shuffle is the
    (user, bucket) equi-join; the oracle is the plain inequality join."""
    from bqetl_spark.operators.rangejoin import interval_overlap_join

    ev = _t(spark, sf_dir, "events")
    es = F.unix_timestamp("ts")
    clicks = (ev.filter(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      es.alias("c_lo"), (es + 1800).alias("c_hi")))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user"),
                         F.col("event_id").alias("purchase_id"),
                         es.alias("p_lo"), (es + 900).alias("p_hi")))
    out = interval_overlap_join(clicks, purchases, "c_lo", "c_hi",
                                "p_lo", "p_hi", bucket_width=900,
                                equi_keys=[("c_user", "p_user")])
    return out.select(F.col("c_user").alias("user_id"),
                      "click_id", "purchase_id")


@gate(oracle="""
        WITH old AS (
            SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        ), new AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 7 = 0
                        THEN o_totalprice + 10.0
                        ELSE o_totalprice END AS o_totalprice,
                   o_orderstatus
            FROM orders WHERE o_orderkey % 11 <> 0
            UNION ALL
            SELECT o_orderkey + 10000000000, o_totalprice, o_orderstatus
            FROM orders WHERE o_orderkey % 1000 = 3
        ), diff AS (
            SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
                   CASE WHEN o.o_orderkey IS NULL THEN 'added'
                        WHEN n.o_orderkey IS NULL THEN 'removed'
                        WHEN o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
                         AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
                        THEN 'unchanged' ELSE 'changed' END AS status,
                   COALESCE(CAST(n.o_totalprice AS DECIMAL(18,2)), 0)
                   - COALESCE(CAST(o.o_totalprice AS DECIMAL(18,2)), 0) AS pd
            FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
        )
        SELECT status, CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(pd) AS DOUBLE) AS price_delta
        FROM diff GROUP BY status""")
def q_snapshot_reconcile(spark, sf_dir):
    """Snapshot diff (operators.merge.reconcile): full-outer join two
    versions of orders and classify added/removed/changed/unchanged.
    The 'new' snapshot is derived deterministically: keys ≡ 0 (mod 11)
    deleted, keys ≡ 0 (mod 7) repriced +10.00 (exact in doubles — a *1.1
    round hits engine-specific tie-breaking), plus a shifted-key copy of
    keys ≡ 3 (mod 1000) as inserts — so the oracle rebuilds it in SQL.
    Returns per-status counts (row-local classification; the diff costs
    exactly one key-shuffle full-outer join at any scale)."""
    from bqetl_spark.operators.merge import reconcile

    orders = _t(spark, sf_dir, "orders")
    old = orders.select("o_orderkey", "o_totalprice", "o_orderstatus")
    repriced = (orders.filter(F.col("o_orderkey") % 11 != 0)
                .select("o_orderkey",
                        F.when(F.col("o_orderkey") % 7 == 0,
                               F.col("o_totalprice") + F.lit(10.0))
                        .otherwise(F.col("o_totalprice"))
                        .alias("o_totalprice"),
                        "o_orderstatus"))
    inserts = (orders.filter(F.col("o_orderkey") % 1000 == 3)
               .select((F.col("o_orderkey") + F.lit(10_000_000_000))
                       .alias("o_orderkey"),
                       "o_totalprice", "o_orderstatus"))
    new = repriced.unionByName(inserts)
    diff = reconcile(old, new, "o_orderkey")
    return (diff.groupBy("status")
            .agg(F.count("*").alias("n_keys"),
                 F.sum(F.coalesce(_money("new_o_totalprice"), F.lit(0).cast(DEC))
                       - F.coalesce(_money("old_o_totalprice"), F.lit(0).cast(DEC)))
                 .cast("double").alias("price_delta")))


# transition matrix: lag over the deterministic (ts, event_id) order
@gate(oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev
            FROM events)
        SELECT prev AS from_type, event_type AS to_type,
               CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE prev IS NOT NULL
        GROUP BY 1, 2""")
def q_event_transitions(spark, sf_dir):
    """First-order transition matrix over each user's time-ordered event
    stream: (from_type, to_type, n) — the Markov-chain view behind
    next-action prediction and anomaly scoring. One window (lag over
    user/ts/event_id — the deterministic total order every session query
    here uses) + one hash aggregation."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (ev.withColumn("prev", F.lag("event_type").over(w))
            .filter(F.col("prev").isNotNull())
            .groupBy(F.col("prev").alias("from_type"),
                     F.col("event_type").alias("to_type"))
            .agg(F.count("*").alias("n")))


# ordered funnel: chained min-timestamp frontiers, strict > per stage
@gate(oracle="""
        WITH c1 AS (
            SELECT user_id, min(epoch_us(CAST(ts AS TIMESTAMP))) AS t1
            FROM events WHERE event_type = 'click' GROUP BY user_id),
        c2 AS (
            SELECT e.user_id, min(epoch_us(CAST(e.ts AS TIMESTAMP))) AS t2
            FROM events e JOIN c1 ON e.user_id = c1.user_id
            WHERE e.event_type = 'view'
              AND epoch_us(CAST(e.ts AS TIMESTAMP)) > c1.t1
            GROUP BY e.user_id),
        c3 AS (
            SELECT e.user_id, min(epoch_us(CAST(e.ts AS TIMESTAMP))) AS t3
            FROM events e JOIN c2 ON e.user_id = c2.user_id
            WHERE e.event_type = 'purchase'
              AND epoch_us(CAST(e.ts AS TIMESTAMP)) > c2.t2
            GROUP BY e.user_id)
        SELECT '1_click' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM c1
        UNION ALL
        SELECT '2_view_after_click', CAST(count(*) AS BIGINT) FROM c2
        UNION ALL
        SELECT '3_purchase_after_view', CAST(count(*) AS BIGINT) FROM c3""")
def q_funnel_stages(spark, sf_dir):
    """Ordered-funnel analysis (click → view → purchase, strictly
    increasing event times per user): how many users reach each stage.
    The canonical product-analytics sequential-pattern query — expressed
    as three chained min-timestamp aggregations (each stage joins the
    per-user frontier of the previous one; no window over raw events, no
    explode). Microsecond epochs keep stage boundaries exact."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    c1 = (ev.filter(F.col("event_type") == "click")
          .groupBy("user_id").agg(F.min(us).alias("t1")))
    c2 = (ev.filter(F.col("event_type") == "view")
          .select("user_id", us.alias("u"))
          .join(c1, "user_id").filter(F.col("u") > F.col("t1"))
          .groupBy("user_id").agg(F.min("u").alias("t2")))
    c3 = (ev.filter(F.col("event_type") == "purchase")
          .select("user_id", us.alias("u"))
          .join(c2, "user_id").filter(F.col("u") > F.col("t2"))
          .groupBy("user_id").agg(F.min("u").alias("t3")))
    def stage(df, name):
        return df.agg(F.count("*").alias("n_users")) \
                 .select(F.lit(name).alias("stage"), "n_users")

    return (stage(c1, "1_click")
            .unionByName(stage(c2, "2_view_after_click"))
            .unionByName(stage(c3, "3_purchase_after_view")))


# retention triangle: integer week arithmetic (epoch div 604800)
@gate(oracle="""
        WITH act AS (
            SELECT DISTINCT user_id,
                   CAST(epoch(CAST(ts AS TIMESTAMP)) AS BIGINT) // 604800 AS wk
            FROM events),
        coh AS (SELECT user_id, min(wk) AS cohort_wk FROM act GROUP BY user_id)
        SELECT coh.cohort_wk AS cohort_week,
               act.wk - coh.cohort_wk AS week_offset,
               CAST(count(*) AS BIGINT) AS n_users
        FROM act JOIN coh ON act.user_id = coh.user_id
        WHERE act.wk - coh.cohort_wk <= 4
        GROUP BY 1, 2""")
def q_retention_cohorts(spark, sf_dir):
    """Weekly retention triangle: users grouped by their FIRST active
    week (cohort), counted in each later week they return. Pure integer
    week arithmetic (epoch-seconds div 604800), so the classic cohort
    table is exactly oracle-able. Output (cohort_week, week_offset,
    n_users) for offsets 0..4."""
    ev = _t(spark, sf_dir, "events")
    wk = F.expr("unix_timestamp(ts) div 604800")
    act = ev.select("user_id", wk.alias("wk")).distinct()
    coh = act.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (act.join(coh, "user_id")
            .withColumn("week_offset", F.col("wk") - F.col("cohort_wk"))
            .filter(F.col("week_offset") <= 4)
            .groupBy(F.col("cohort_wk").alias("cohort_week"), "week_offset")
            .agg(F.count("*").alias("n_users")))


# the SQL front door runs the SAME text on both engines
@gate(oracle="""
        SELECT n_name,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name""")
def q_sql_frontdoor(spark, sf_dir):
    """Raw-SQL surface gate (bqetl_spark.sql): the same revenue-by-nation
    join+agg a DataFrame query would build, written as ANSI SQL against
    the registered star views — Catalyst lowers both surfaces to the same
    plan, and the oracle is literally the same SQL on DuckDB."""
    from bqetl_spark import sql as sq

    return sq.sql(spark, sf_dir, """
        SELECT n_name,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name""")


# gap fill: generate_series hour calendar per type, left join counts,
# zero-fill — epochs are UTC hour floors (engine convention)
@gate(oracle="""
        WITH bounds AS (
            SELECT CAST(epoch(date_trunc('hour', min(CAST(ts AS TIMESTAMP)))) AS BIGINT) AS a,
                   CAST(epoch(date_trunc('hour', max(CAST(ts AS TIMESTAMP)))) AS BIGINT) AS b
            FROM events),
        grid AS (
            SELECT unnest(generate_series(a, b, 3600)) AS hour_epoch, t.event_type
            FROM bounds, (SELECT DISTINCT event_type FROM events) t),
        cts AS (
            SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS hour_epoch,
                   event_type, count(*) AS n
            FROM events GROUP BY 1, 2)
        SELECT g.hour_epoch, g.event_type,
               CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events
        FROM grid g LEFT JOIN cts c
          ON g.hour_epoch = c.hour_epoch AND g.event_type = c.event_type""")
def q_events_gapfill(spark, sf_dir):
    """Zero-filled hourly counts per event type over the observed span
    (operators.timeseries.dense_hourly_counts) — the gap-filling
    resample; empty buckets read as 0, not as absent rows. Calendar via
    map-side explode(sequence); counts broadcast into the grid join."""
    from bqetl_spark.operators.timeseries import dense_hourly_counts

    return dense_hourly_counts(_t(spark, sf_dir, "events"))


# multi-touch attribution: user equi-join + micro-epoch range
# filter, count/rank windows, integer-ppm credit CASE (div on
# positive operands = // on DuckDB)
@gate(oracle="""
        WITH conv AS (
          SELECT user_id AS k, event_id AS conv_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS ct
          FROM events WHERE event_type = 'purchase'),
        touch AS (
          SELECT user_id AS k, event_id AS touch_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS tt
          FROM events WHERE event_type = 'click'),
        pairs AS (
          SELECT c.conv_id, t.touch_id, t.tt
          FROM conv c JOIN touch t ON c.k = t.k
          WHERE t.tt < c.ct AND t.tt >= c.ct - 3600000000),
        ranked AS (
          SELECT conv_id, touch_id,
                 count(*) OVER (PARTITION BY conv_id) AS n,
                 row_number() OVER (PARTITION BY conv_id
                                    ORDER BY tt, touch_id) AS r
          FROM pairs)
        SELECT conv_id, touch_id, CAST(n AS BIGINT) AS n_touches,
               CAST(CASE WHEN n = 1 THEN 1000000
                         WHEN n = 2 THEN 500000
                         WHEN r = 1 THEN 400000
                         WHEN r = n THEN 400000
                         ELSE 200000 // (n - 2) END AS BIGINT)
                 AS credit_ppm
        FROM ranked""")
def q_attribution(spark, sf_dir):
    """U-shaped multi-touch attribution (operators.timeseries.
    attribution_multitouch, r7) — the position-based generalization of
    the last-touch as-of join (asof_purchase): each purchase splits
    integer-ppm credit over the user's clicks in the trailing hour
    (1 -> 100%; 2 -> 50/50; n>=3 -> 40/40 endpoints + 20 div (n-2) per
    middle, floor dust documented). One equi-join on the user key with
    the range predicate as a filter — not a BNLJ — plus two windows
    per conversion over the deterministic (ts, event_id) order."""
    from bqetl_spark.operators.timeseries import attribution_multitouch

    ev = _t(spark, sf_dir, "events")
    return attribution_multitouch(ev, window_sec=3600)


# CEP pattern count: string_agg over the same (ts, event_id) total
# order, regex count via regexp_extract_all length (RE2 leftmost
# non-overlapping == Java regex for literal/quantifier patterns)
@gate(oracle="""
        WITH coded AS (
          SELECT user_id, ts, event_id,
                 CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                      WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                      WHEN 'error' THEN 'e' ELSE 'x' END AS cd
          FROM events),
        s AS (SELECT user_id, count(*) AS n_events,
                     string_agg(cd, '' ORDER BY ts, event_id) AS seq
              FROM coded GROUP BY user_id)
        SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
               CAST(len(regexp_extract_all(seq, 'vc*p')) AS BIGINT)
                 AS n_matches
        FROM s""")
def q_event_pattern(spark, sf_dir):
    """CEP sequence-pattern counting (operators.timeseries.
    event_pattern_match, r7) — the MATCH_RECOGNIZE shape Spark SQL
    lacks: each user's time-ordered stream becomes a single-char-coded
    string (deterministic (ts, event_id) order via array_sort) and the
    regex 'vc*p' (a view, any clicks, then a purchase) is counted per
    user with non-overlapping leftmost semantics — identical in Java
    regex and RE2 for literal/quantifier patterns. One shuffle; per-key
    state bounded by the key's event count."""
    from bqetl_spark.operators.timeseries import event_pattern_match

    ev = _t(spark, sf_dir, "events")
    alpha = {"view": "v", "click": "c", "purchase": "p",
             "signup": "s", "error": "e"}
    return event_pattern_match(ev, "vc*p", alpha)


# event_multi_pattern (r8): same coded stream, one row per
# leftmost non-overlapping match per named pattern; start_pos =
# 1 + len(segments[1..i]) + len(matches[1..i-1]) over the
# extract_all/split pair (identical Java/RE2 semantics for these
# patterns; empty-matching and capturing-group patterns rejected
# by the operator)
@gate(oracle="""
        WITH coded AS (
          SELECT user_id, ts, event_id,
                 CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                      WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                      WHEN 'error' THEN 'e' ELSE 'x' END AS cd
          FROM events),
        s AS (SELECT user_id, string_agg(cd, '' ORDER BY ts, event_id) AS seq
              FROM coded GROUP BY user_id),
        pats AS (SELECT * FROM (VALUES ('browse', 'v{3,}'),
                                       ('conversion', 'vc*p'),
                                       ('error_burst', 'ee+'))
                 p(pattern, pat)),
        m AS (SELECT user_id, pattern,
                     regexp_extract_all(seq, pat) AS ms,
                     str_split_regex(seq, pat) AS segs
              FROM s, pats),
        e AS (SELECT user_id, pattern, ms, segs, i
              FROM m, LATERAL (SELECT unnest(generate_series(1, len(ms)))
                               AS i) g)
        SELECT user_id, pattern, CAST(i AS BIGINT) AS match_no,
               CAST(1
                 + coalesce(list_sum(list_transform(segs[1:i],
                                                    x -> length(x))), 0)
                 + coalesce(list_sum(list_transform(ms[1:i-1],
                                                    x -> length(x))), 0)
                 AS INT) AS start_pos,
               CAST(length(ms[i]) AS INT) AS match_len
        FROM e""")
def q_event_multi_pattern(spark, sf_dir):
    """MATCH_RECOGNIZE one-row-per-match over multiple named patterns
    (operators.timeseries.event_pattern_extract, r8): each user's
    time-ordered coded stream is matched against three patterns
    (browse 'v{3,}', conversion 'vc*p', error_burst 'ee+'), emitting
    (user, pattern, MATCH_NUMBER, start_pos, match_len) per
    non-overlapping leftmost match — positions derived from the
    regexp_extract_all / regex-split pair with pure array arithmetic,
    bit-identical across Java regex and RE2 for these
    literal/class/quantifier patterns. ONE shuffle builds each key's
    string once, shared by all patterns; the pattern relation is a
    plan literal."""
    from bqetl_spark.operators.timeseries import event_pattern_extract

    ev = _t(spark, sf_dir, "events")
    alpha = {"view": "v", "click": "c", "purchase": "p",
             "signup": "s", "error": "e"}
    pats = {"browse": "v{3,}", "conversion": "vc*p",
            "error_burst": "ee+"}
    return event_pattern_extract(ev, pats, alpha)


# bucketed join: the oracle joins the plain parquet — the gate's
# value is that Spark's side went through write-bucketed tables
@gate(oracle=f"""
        SELECT o_orderkey, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(SUM({_DISC}) AS DOUBLE) AS revenue
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderkey, o_orderpriority""")
def q_bucketed_join(spark, sf_dir):
    """Bucketed co-located join (sources.bucketed.write_bucketed, r7
    gate for the r5 writer): both fact tables written
    bucketBy(8, key).sortBy(key) into a catalog database at a
    deterministic scratch location, then joined and aggregated off the
    bucketed layout — the amortize-one-shuffle-forever trade that wins
    the 100 TB denormalization (Exchange-free plan pinned in
    tests/test_bucketed.py; the driver gate certifies the write →
    catalog → read → join path end-to-end under a vanilla session).
    Result hash-matches the plain parquet join."""
    from bqetl_spark.sources.bucketed import write_bucketed

    # wipe: a FRESH session's in-memory catalog doesn't know these
    # tables, so stale table dirs from a previous session would trip
    # saveAsTable's LOCATION_ALREADY_EXISTS; start clean every run
    loc = _scratch("bktwh", sf_dir, wipe=True)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bqetl_bkt LOCATION '{loc}'")
    write_bucketed(_t(spark, sf_dir, "orders"),
                   "bqetl_bkt.orders_b", "o_orderkey", 8)
    write_bucketed(_t(spark, sf_dir, "lineitem"),
                   "bqetl_bkt.lineitem_b", "l_orderkey", 8)
    ob = spark.table("bqetl_bkt.orders_b")
    lb = spark.table("bqetl_bkt.lineitem_b")
    rev = _money("l_extendedprice") * (F.lit(1).cast(DEC)
                                       - _money("l_discount"))
    return (ob.join(lb, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("o_orderkey", "o_orderpriority")
            .agg(F.count("*").cast("long").alias("n_items"),
                 F.sum(rev).cast("double").alias("revenue")))
