"""Second TPC-H-shaped pack (SURVEY §2.2-2.4 EXT): correlated EXISTS /
NOT EXISTS subqueries, conditional aggregation, OR-of-bands predicates, and
HAVING-gated fact self-aggregation — adapted to the fixture schema (no
partsupp / l_shipmode / c_phone columns, so q4/q12/q22 shapes are re-targeted
onto the columns that exist; see FIXTURES.md).

Determinism rules follow queries/relational.py: money sums via DECIMAL(15,2)
casts, AVG as CAST(SUM(decimal) AS DOUBLE)/COUNT, discount band compares on
round(x*100) ints, explicit tie-breaks under every LIMIT.

Scale notes (100 TB): every query here is a fact-table scan with pushed-down
date/flag predicates feeding a partial hash aggregate; the correlated
EXISTS/NOT EXISTS forms plan as semi/anti hash joins shuffled on the
correlation key (o_orderkey / c_custkey), which AQE can convert to broadcast
when the filtered side is small.  Nothing materializes an unbounded
intermediate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from binaryvectordb_spark.queries import register
from binaryvectordb_spark.sources.tables import load_table


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


_DEC = "CAST(l_extendedprice AS DECIMAL(15,2)) * " \
       "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))"


def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: orders in a half-year window that have at least one lineitem
    shipped after the order date (the fixture's stand-in for
    l_commitdate < l_receiptdate), counted per priority.  The correlated
    EXISTS is a LEFT SEMI join on o_orderkey with the ship-after-order
    predicate folded into the join condition."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01"))
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (o.join(li, (o.o_orderkey == li.l_orderkey)
                   & (li.l_shipdate > o.o_orderdate), "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("order_count")))


register("tpch_q4_order_priority", tpch_q4_order_priority, oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
""")


def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6: single-pass filtered scan -> one-row aggregate.  All three
    predicates push into the Parquet scan; the discount band compares on
    round(l_discount*100) so both engines band identically."""
    li = _t(spark, sf_dir, "lineitem")
    pct = F.round(F.col("l_discount") * 100).cast("int")
    # Precision-tier factoring (NOTES.md decimal tiers): sum the p<=8 price
    # on the compact-long decimal path per discount value (3 groups), then
    # apply the exact constant d to each sub-sum — bit-identical to the
    # per-row decimal product by distributivity.
    inner = (li.where((F.col("l_shipdate") >= "1996-01-01")
                      & (F.col("l_shipdate") < "1997-01-01")
                      & pct.between(5, 7)
                      & (F.col("l_quantity") < 24))
             .groupBy(F.col("l_discount").cast("decimal(4,2)").alias("d"))
             .agg(F.sum(F.col("l_extendedprice").cast("decimal(8,2)"))
                  .alias("s_price"),
                  F.count("*").alias("n")))
    return inner.agg(
        F.sum(F.col("s_price") * F.col("d")).cast("double").alias("revenue"),
        F.coalesce(F.sum("n"), F.lit(0).cast("long")).alias("n_items"))


register("tpch_q6_forecast_revenue", tpch_q6_forecast_revenue, oracle="""
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2)) *
               CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND CAST(round(l_discount * 100) AS INTEGER) BETWEEN 5 AND 7
  AND l_quantity < 24
""")


def tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: shipping volume between every ordered pair of (supplier
    nation, customer nation), by ship year.  nation is broadcast twice under
    different aliases; the lineitem->orders join is the only big shuffle."""
    n1 = F.broadcast(_t(spark, sf_dir, "nation")
                     .select(F.col("n_nationkey").alias("sn_key"),
                             F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(_t(spark, sf_dir, "nation")
                     .select(F.col("n_nationkey").alias("cn_key"),
                             F.col("n_name").alias("cust_nation")))
    s = F.broadcast(_t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"))
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = (_t(spark, sf_dir, "lineitem")
          .where((F.col("l_shipdate") >= "1996-01-01")
                 & (F.col("l_shipdate") < "1998-01-01")))
    return (li.join(s, li.l_suppkey == s.s_suppkey)
            .join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(n1, F.col("s_nationkey") == F.col("sn_key"))
            .join(n2, F.col("c_nationkey") == F.col("cn_key"))
            .where(F.col("supp_nation") < F.col("cust_nation"))
            .groupBy("supp_nation", "cust_nation",
                     F.year("l_shipdate").alias("l_year"))
            .agg(F.sum(F.expr(_DEC)).cast("double").alias("revenue"),
                 F.count("*").alias("n_items")))


register("tpch_q7_nation_volume", tpch_q7_nation_volume, oracle=f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       CAST(sum({_DEC}) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND n1.n_name < n2.n_name
GROUP BY 1, 2, 3
""")


def tpch_q12_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape (no l_shipmode column -> grouped by l_linestatus):
    conditional counts of high- vs low-priority orders among shipped lines."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = (_t(spark, sf_dir, "lineitem")
          .where((F.col("l_shipdate") >= "1996-01-01")
                 & (F.col("l_shipdate") < "1997-01-01")
                 & (F.col("l_returnflag") == "N"))
          .select("l_orderkey", "l_linestatus"))
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_linestatus")
            .agg(F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
                 F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count")))


register("tpch_q12_priority_by_status", tpch_q12_priority_by_status, oracle="""
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
         AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
         AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_returnflag = 'N'
GROUP BY l_linestatus
""")


def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14: promo-type revenue share over one month.  part is broadcast; the
    ratio divides two identically-computed doubles so it hashes stably."""
    p = F.broadcast(_t(spark, sf_dir, "part").select("p_partkey", "p_type"))
    li = (_t(spark, sf_dir, "lineitem")
          .where((F.col("l_shipdate") >= "1996-03-01")
                 & (F.col("l_shipdate") < "1996-04-01")))
    rev = F.expr(_DEC)
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(15,2)"))
    return (li.join(p, li.l_partkey == p.p_partkey)
            .agg((F.sum(promo).cast("double") * 100.0
                  / F.sum(rev).cast("double")).alias("promo_revenue_pct"),
                 F.count("*").alias("n_items")))


register("tpch_q14_promo_revenue", tpch_q14_promo_revenue, oracle=f"""
SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN {_DEC}
                     ELSE CAST(0 AS DECIMAL(15,2)) END) AS DOUBLE) * 100.0
       / CAST(sum({_DEC}) AS DOUBLE) AS promo_revenue_pct,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01'
""")


def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18: orders whose total quantity exceeds 200, with customer attached.
    The HAVING-gated aggregate runs FIRST (map-side partial sums shrink the
    shuffle), and only qualifying orderkeys join back to orders/customer."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum(F.col("l_quantity").cast("decimal(15,2)"))
                .cast("double").alias("sum_qty"))
           .where(F.col("sum_qty") > 200))
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                           "o_orderdate", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (big.join(o, big.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                    "o_totalprice", "sum_qty"))


register("tpch_q18_large_orders", tpch_q18_large_orders, oracle="""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE)
             AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING CAST(sum(CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE) > 200) big
JOIN orders ON big.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
""")


def tpch_q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19: revenue under an OR of three (brand, size-band, quantity-band)
    conjunctions.  The disjunction sits in the join condition's residual
    filter after the broadcast hash join on partkey."""
    p = F.broadcast(_t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size"))
    li = _t(spark, sf_dir, "lineitem")
    band = (((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
             & F.col("l_quantity").between(1, 11))
            | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25)
               & F.col("l_quantity").between(10, 20))
            | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 50)
               & F.col("l_quantity").between(20, 30)))
    return (li.join(p, li.l_partkey == p.p_partkey)
            .where(band)
            .agg(F.sum(F.expr(_DEC)).cast("double").alias("revenue"),
                 F.count("*").alias("n_items")))


register("tpch_q19_discounted_revenue", tpch_q19_discounted_revenue, oracle=f"""
SELECT CAST(sum({_DEC}) AS DOUBLE) AS revenue, count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 50 AND l_quantity BETWEEN 20 AND 30)
""")


def tpch_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape (no c_phone -> grouped by nation): customers with
    above-positive-average balance and NO orders since 2000-01-01.  Scalar
    subquery (global avg) broadcasts as a 1-row cross join; the correlated
    NOT EXISTS is a LEFT ANTI join against recent orders."""
    c = _t(spark, sf_dir, "customer")
    n = F.broadcast(_t(spark, sf_dir, "nation")
                    .select("n_nationkey", "n_name"))
    pos = c.where(F.col("c_acctbal") > 0)
    avg_bal = (pos.agg((F.sum(F.col("c_acctbal").cast("decimal(15,2)"))
                        .cast("double") / F.count("*")).alias("avg_bal")))
    recent = (_t(spark, sf_dir, "orders")
              .where(F.col("o_orderdate") >= "2000-01-01")
              .select("o_custkey"))
    return (c.crossJoin(F.broadcast(avg_bal))
            .where(F.col("c_acctbal") > F.col("avg_bal"))
            .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
            .join(n, c.c_nationkey == n.n_nationkey)
            .groupBy("n_name")
            .agg(F.count("*").alias("numcust"),
                 F.sum(F.col("c_acctbal").cast("decimal(15,2)"))
                 .cast("double").alias("totacctbal")))


register("tpch_q22_idle_customers", tpch_q22_idle_customers, oracle="""
SELECT n_name, count(*) AS numcust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(15,2))) AS DOUBLE) AS totacctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(15,2))) AS DOUBLE)
                          / count(*)
                   FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY n_name
""")


def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15: supplier(s) whose 3-month revenue equals the maximum — the
    aggregate-then-compare-to-scalar-max shape.  The per-supplier revenue
    aggregates FIRST (tiny result), so the max and the equality filter run
    on #suppliers rows, never on lineitem."""
    li = (_t(spark, sf_dir, "lineitem")
          .where((F.col("l_shipdate") >= "1996-01-01")
                 & (F.col("l_shipdate") < "1996-04-01")))
    rev = (li.groupBy("l_suppkey")
           .agg(F.sum(F.expr(_DEC)).cast("double").alias("total_revenue")))
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = F.broadcast(_t(spark, sf_dir, "supplier").select("s_suppkey", "s_name"))
    return (rev.crossJoin(F.broadcast(mx))
            .where(F.col("total_revenue") == F.col("mx"))
            .join(s, rev.l_suppkey == s.s_suppkey)
            .select("s_suppkey", "s_name", "total_revenue"))


register("tpch_q15_top_supplier", tpch_q15_top_supplier, oracle=f"""
WITH rev AS (
  SELECT l_suppkey, CAST(sum({_DEC}) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
""")


def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17: revenue from lineitems whose quantity is below 20% of their
    part's average quantity — the correlated per-group scalar-aggregate
    shape, decorrelated into an aggregate + broadcast equi-join (the avg
    table is #parts rows)."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity",
                                              "l_extendedprice")
    avg_q = (li.groupBy("l_partkey")
             .agg((F.sum(F.col("l_quantity").cast("decimal(15,2)"))
                   .cast("double") / F.count("*")).alias("avg_qty")))
    p = F.broadcast(_t(spark, sf_dir, "part")
                    .where(F.col("p_brand") == "Brand#3")
                    .select("p_partkey"))
    return (li.join(p, li.l_partkey == p.p_partkey)
            .join(F.broadcast(avg_q), "l_partkey")
            .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
            .agg((F.sum(F.col("l_extendedprice").cast("decimal(15,2)"))
                  .cast("double") / 7.0).alias("avg_yearly"),
                 F.count("*").alias("n_items")))


register("tpch_q17_small_quantity_revenue", tpch_q17_small_quantity_revenue,
         oracle="""
WITH avg_q AS (
  SELECT l_partkey,
         CAST(sum(CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE) / count(*)
           AS avg_qty
  FROM lineitem GROUP BY l_partkey)
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) / 7.0
         AS avg_yearly,
       count(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN avg_q USING (l_partkey)
WHERE p_brand = 'Brand#3' AND l_quantity < 0.2 * avg_qty
""")


def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape: revenue from orders where the supplier and the customer
    share a nation, per nation within one region/year window.  All four
    dimension joins broadcast; the only big shuffle is lineitem->orders.
    The supplier-nation == customer-nation equality is the defining Q5
    twist (local supply chains)."""
    r = F.broadcast(_t(spark, sf_dir, "region")
                    .where(F.col("r_name") == "ASIA").select("r_regionkey"))
    n = F.broadcast(_t(spark, sf_dir, "nation")
                    .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
                    .select("n_nationkey", "n_name"))
    s = F.broadcast(_t(spark, sf_dir, "supplier")
                    .select("s_suppkey", "s_nationkey"))
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = (_t(spark, sf_dir, "orders")
         .where((F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1997-01-01"))
         .select("o_orderkey", "o_custkey"))
    li = _t(spark, sf_dir, "lineitem")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(s, li.l_suppkey == s.s_suppkey)
            .where(F.col("c_nationkey") == F.col("s_nationkey"))
            .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
            .groupBy("n_name")
            .agg(F.sum(F.expr(_DEC)).cast("double").alias("revenue"),
                 F.count("*").alias("n_items")))


register("tpch_q5_local_supplier_volume", tpch_q5_local_supplier_volume,
         oracle=f"""
SELECT n_name, CAST(sum({_DEC}) AS DOUBLE) AS revenue, count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND c_nationkey = s_nationkey
GROUP BY n_name
""")


def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: a target nation's share of PROMO-part revenue inside one
    region, by order year.  The share is conditional-sum / total-sum —
    both sums DECIMAL, the single division the only float op.  part is
    filtered then broadcast; so are supplier/nation/region."""
    p = F.broadcast(_t(spark, sf_dir, "part")
                    .where(F.col("p_type") == "PROMO")
                    .select("p_partkey"))
    r = F.broadcast(_t(spark, sf_dir, "region")
                    .where(F.col("r_name") == "EUROPE").select("r_regionkey"))
    cn = F.broadcast(_t(spark, sf_dir, "nation")
                     .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
                     .select(F.col("n_nationkey").alias("cn_key")))
    sn = F.broadcast(_t(spark, sf_dir, "nation")
                     .select(F.col("n_nationkey").alias("sn_key"),
                             F.col("n_name").alias("supp_nation")))
    s = F.broadcast(_t(spark, sf_dir, "supplier")
                    .select("s_suppkey", "s_nationkey"))
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                           "o_orderdate")
    li = _t(spark, sf_dir, "lineitem")
    vol = (li.join(p, li.l_partkey == p.p_partkey)
           .join(o, li.l_orderkey == o.o_orderkey)
           .join(c, o.o_custkey == c.c_custkey)
           .join(cn, F.col("c_nationkey") == F.col("cn_key"))
           .join(s, li.l_suppkey == s.s_suppkey)
           .join(sn, F.col("s_nationkey") == F.col("sn_key")))
    dec = F.expr(_DEC)
    return (vol.groupBy(F.year("o_orderdate").alias("o_year"))
            .agg(F.sum(F.when(F.col("supp_nation") == "GERMANY", dec)
                       .otherwise(F.lit(0).cast("decimal(15,2)")))
                 .alias("nat_rev_dec"),
                 F.sum(dec).alias("tot_rev_dec"))
            .select("o_year",
                    (F.col("nat_rev_dec").cast("double")
                     / F.col("tot_rev_dec").cast("double"))
                    .alias("mkt_share"),
                    F.col("tot_rev_dec").cast("double").alias("total_rev")))


register("tpch_q8_market_share", tpch_q8_market_share, oracle=f"""
SELECT year(o_orderdate) AS o_year,
       CAST(sum(CASE WHEN n2.n_name = 'GERMANY' THEN {_DEC}
                     ELSE CAST(0 AS DECIMAL(15,2)) END) AS DOUBLE)
         / CAST(sum({_DEC}) AS DOUBLE) AS mkt_share,
       CAST(sum({_DEC}) AS DOUBLE) AS total_rev
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE p_type = 'PROMO' AND r_name = 'EUROPE'
GROUP BY o_year
""")


def tpch_q13_customer_order_distribution(spark: SparkSession,
                                         sf_dir: str) -> DataFrame:
    """Q13 shape: the distribution of per-customer order counts, INCLUDING
    zero-order customers (the left join is the point of the query).  The
    filtered orders side aggregates to <=1 row/customer before the join;
    at scale both sides hash-partition on c_custkey."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = (_t(spark, sf_dir, "orders")
         .where(F.col("o_orderpriority") != "1-URGENT")
         .groupBy("o_custkey").agg(F.count("*").alias("c_count")))
    per_cust = (c.join(o, c.c_custkey == o.o_custkey, "left")
                .select(F.coalesce("c_count", F.lit(0)).alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count("*").alias("custdist")))


register("tpch_q13_customer_order_distribution",
         tpch_q13_customer_order_distribution, oracle="""
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey)
SELECT c_count, count(*) AS custdist
FROM per_cust GROUP BY c_count
""")


def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape (product-type profit by nation and year): the widest join
    tree in the TPC-H head — lineitem x part x supplier x orders x nation
    — with a pushed-down LIKE on the part dim and a two-key grouped
    money aggregate.  The fixture has no partsupp, so ps_supplycost is
    re-targeted as a retail-price cost proxy (profit = discounted
    revenue - 0.10 * p_retailprice * l_quantity), preserving the shape:
    a decimal-exact amount built from THREE tables' columns.

    Scale: part/supplier/nation are broadcast dims (part is filtered by
    the LIKE before the join); the only shuffles are the
    lineitem-orders orderkey join and the final (nation, year) partial
    hash aggregate.  Money stays DECIMAL end-to-end, cast to double
    once at the output boundary."""
    li = _t(spark, sf_dir, "lineitem")
    p = (_t(spark, sf_dir, "part")
         .where(F.col("p_name").like("%widget%")))
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    amount = F.expr(
        "CAST(l_extendedprice AS DECIMAL(15,2)) * "
        "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) - "
        "CAST(0.10 AS DECIMAL(3,2)) * CAST(p_retailprice AS DECIMAL(15,2))"
        " * CAST(l_quantity AS DECIMAL(15,2))")
    return (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
            .join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .select(F.col("n_name").alias("nation"),
                    F.year("o_orderdate").alias("o_year"),
                    amount.alias("amount"))
            .groupBy("nation", "o_year")
            .agg(F.sum("amount").cast("double").alias("sum_profit")))


register("tpch_q9_product_profit", tpch_q9_product_profit, oracle="""
SELECT n_name AS nation,
       EXTRACT(YEAR FROM o_orderdate) AS o_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2)) *
                (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
                - CAST(0.10 AS DECIMAL(3,2)) *
                  CAST(p_retailprice AS DECIMAL(15,2)) *
                  CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE)
         AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, EXTRACT(YEAR FROM o_orderdate)
""")


def tpch_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape (suppliers who kept orders waiting): the double-
    correlated EXISTS / NOT EXISTS on fact self-joins — the heaviest
    subquery structure in TPC-H.  The fixture has no l_receiptdate /
    l_commitdate, so "late" is re-targeted to l_shipdate more than 30
    days after o_orderdate, preserving the structure exactly: for each
    LATE line of a finished ('F') order, the order must involve ANOTHER
    supplier (EXISTS -> left-semi self-join) and NO other supplier may
    be late on it (NOT EXISTS -> left-anti self-join against the late
    subset).

    Scale: the late flag is computed once on the lineitem-orders join
    (orderkey-shuffled); both correlations are hash semi/anti joins
    co-partitioned on l_orderkey — the self-join never expands beyond
    the order's own lines, and the final per-supplier count is a
    broadcast-sized aggregate."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    o = (_t(spark, sf_dir, "orders")
         .where(F.col("o_orderstatus") == "F")
         .select("o_orderkey", "o_orderdate"))
    s = _t(spark, sf_dir, "supplier")
    lo = (li.join(o, li.l_orderkey == o.o_orderkey)
          .withColumn("late", F.col("l_shipdate") >
                      F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")))
    l1 = (lo.where(F.col("late"))
          .select("l_orderkey", "l_suppkey"))
    l2 = li.select(F.col("l_orderkey").alias("k2"),
                   F.col("l_suppkey").alias("s2"))
    l3 = (lo.where(F.col("late"))
          .select(F.col("l_orderkey").alias("k3"),
                  F.col("l_suppkey").alias("s3")))
    waiting = (l1.join(l2, (l1.l_orderkey == l2.k2) &
                       (l1.l_suppkey != l2.s2), "left_semi")
               .join(l3, (l1.l_orderkey == l3.k3) &
                     (l1.l_suppkey != l3.s3), "left_anti"))
    return (waiting.join(F.broadcast(s),
                         waiting.l_suppkey == s.s_suppkey)
            .groupBy("s_name")
            .agg(F.count("*").cast("bigint").alias("numwait")))


register("tpch_q21_waiting_supplier", tpch_q21_waiting_supplier, oracle="""
WITH lo AS (
  SELECT l_orderkey, l_suppkey,
         l_shipdate > o_orderdate + INTERVAL 30 DAY AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'),
l1 AS (SELECT l_orderkey, l_suppkey FROM lo WHERE late)
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM l1 JOIN supplier ON l_suppkey = s_suppkey
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lo l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
GROUP BY s_name
""")


def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape (minimum-cost supplier): the CORRELATED SCALAR MIN
    subquery — for each qualifying part, the supplier(s) in a region
    whose offer cost equals the minimum over ALL of that region's
    offers for the part.  The fixture has no partsupp, so the
    supplier-part offer relation is re-targeted to lineitem history
    (one offer per distinct (l_partkey, l_suppkey), cost = the cheapest
    extended price that pair ever shipped at — min() is fold-order-
    insensitive, so doubles stay exact), preserving the decorrelation
    pattern exactly: the oracle keeps the correlated `cost = (SELECT
    min(cost) ... WHERE partkey = outer.partkey)` form; the Spark plan
    is the classic decorrelation — a per-part min aggregate joined back
    on (partkey, cost).

    Scale: supplier x nation x region is a broadcast dim pipeline (the
    region filter prunes before the fact join); the offers aggregate
    and the min-cost aggregate shuffle on the same l_partkey-led keys;
    the filtered part dim is broadcast into the final join."""
    li = _t(spark, sf_dir, "lineitem")
    eligible = (_t(spark, sf_dir, "supplier")
                .join(F.broadcast(_t(spark, sf_dir, "nation")),
                      F.col("s_nationkey") == F.col("n_nationkey"))
                .join(F.broadcast(_t(spark, sf_dir, "region")
                                  .where(F.col("r_name") == "EUROPE")),
                      F.col("n_regionkey") == F.col("r_regionkey"))
                .select("s_suppkey", "s_acctbal", "s_name", "n_name"))
    offers = (li.groupBy(F.col("l_partkey").alias("partkey"),
                         F.col("l_suppkey").alias("suppkey"))
              .agg(F.min("l_extendedprice").alias("cost")))
    ro = offers.join(F.broadcast(eligible),
                     offers.suppkey == F.col("s_suppkey"))
    # r16: the decorrelated form consumed `ro` twice — the per-part min
    # aggregate and the probe side — and Spark has no subtree reuse across
    # different shuffle keys, so the ENTIRE lineitem aggregate + dim
    # broadcast pipeline executed twice and met itself in a SortMergeJoin
    # on (partkey, cost) (the r16 before-plan: nodes 1-22 duplicated at
    # 25-45).  min() OVER (PARTITION BY partkey)
    # is the same per-part minimum with the same cost = min filter —
    # identical rows (oracle-verified) — from ONE derivation and one
    # exchange on partkey; the after-plan has a single lineitem scan.
    w = Window.partitionBy("partkey")
    keep = (ro.withColumn("min_cost", F.min("cost").over(w))
            .where(F.col("cost") == F.col("min_cost")))
    p = (_t(spark, sf_dir, "part")
         .where((F.col("p_size") == 15) & (F.col("p_type") == "PROMO")))
    return (keep
            .join(F.broadcast(p), F.col("partkey") == F.col("p_partkey"))
            .select("s_acctbal", "s_name", "n_name", "p_partkey",
                    "p_name", F.col("cost").alias("supplycost")))


register("tpch_q2_min_cost_supplier", tpch_q2_min_cost_supplier, oracle="""
WITH offers AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         min(l_extendedprice) AS cost
  FROM lineitem GROUP BY 1, 2),
eligible AS (
  SELECT s_suppkey, s_acctbal, s_name, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'),
ro AS (
  SELECT o.partkey, o.suppkey, o.cost, e.s_acctbal, e.s_name, e.n_name
  FROM offers o JOIN eligible e ON o.suppkey = e.s_suppkey)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
       cost AS supplycost
FROM ro JOIN part ON ro.partkey = p_partkey
WHERE p_size = 15 AND p_type = 'PROMO'
  AND cost = (SELECT min(cost) FROM ro r2 WHERE r2.partkey = ro.partkey)
""")


def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape (important stock): grouped HAVING against a SCALAR
    SUBQUERY over the same relation — per-part value of one nation's
    supply vs a fraction of that nation's TOTAL value.  Re-target (no
    partsupp): value = sum of extended price over lines shipped by the
    nation's suppliers (DECIMAL-exact fold; the fraction comparison
    runs on doubles derived from the exact sums, so both engines decide
    ties identically).

    Scale: the nation's supplier set is a broadcast semi-side; the only
    shuffles are the per-part partial hash aggregate and the single-row
    grand total, which re-enters as a broadcast (crossJoin of a 1-row
    frame) — the scalar subquery never forces a second scan-shuffle of
    the fact."""
    li = _t(spark, sf_dir, "lineitem")
    supp = (_t(spark, sf_dir, "supplier")
            .join(F.broadcast(_t(spark, sf_dir, "nation")
                              .where(F.col("n_name") == "NATION_3")),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey"))
    val = F.sum(F.col("l_extendedprice").cast("decimal(15,2)"))
    per_part = (li.join(F.broadcast(supp),
                        li.l_suppkey == F.col("s_suppkey"))
                .groupBy("l_partkey")
                .agg(val.alias("value_dec")))
    total = per_part.agg(
        F.sum("value_dec").cast("double").alias("total"))
    return (per_part.crossJoin(F.broadcast(total))
            .where(F.col("value_dec").cast("double")
                   > F.col("total") * F.lit(0.001))
            .select(F.col("l_partkey").alias("ps_partkey"),
                    F.col("value_dec").cast("double").alias("value")))


register("tpch_q11_important_stock", tpch_q11_important_stock, oracle="""
SELECT l_partkey AS ps_partkey,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) AS value
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_3'
GROUP BY l_partkey
HAVING CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) > (
  SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) * 0.001
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3')
""")


def tpch_q16_supplier_part_counts(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Q16 shape (parts/supplier relationship): NOT IN subquery +
    COUNT(DISTINCT) over a de-duplicated pair relation.  Re-targets
    (no partsupp / s_comment): the pair relation is the distinct
    (l_partkey, l_suppkey) history, and the excluded-supplier set is
    s_acctbal < 0 (the complaints proxy).

    Scale: NOT IN over a non-null key compiles to a BROADCAST anti
    join (the excluded set is dim-sized); the part dim is broadcast
    with its brand/type/size predicates pushed into the scan; the only
    shuffles are the pair dedup and the final count-distinct hash
    aggregate — both keyed on l_partkey-led keys."""
    li = _t(spark, sf_dir, "lineitem")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    p = (_t(spark, sf_dir, "part")
         .where((F.col("p_brand") != "Brand#45")
                & ~F.col("p_type").like("MEDIUM%")
                & F.col("p_size").isin(1, 4, 9, 14, 23, 36, 45, 49)))
    bad = (_t(spark, sf_dir, "supplier")
           .where(F.col("s_acctbal") < 0).select("s_suppkey"))
    return (pairs.join(F.broadcast(p),
                       pairs.l_partkey == p.p_partkey)
            .join(F.broadcast(bad),
                  pairs.l_suppkey == F.col("s_suppkey"), "left_anti")
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").cast("bigint")
                 .alias("supplier_cnt")))


register("tpch_q16_supplier_part_counts", tpch_q16_supplier_part_counts,
         oracle="""
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#45'
  AND p_type NOT LIKE 'MEDIUM%'
  AND p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
""")


def tpch_q20_hot_part_suppliers(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Q20 shape (potential part promotion): the NESTED SEMI — suppliers
    whose key is IN a set derived from an aggregate-HAVING over pairs
    whose part is IN a name-filtered part set.  Re-target (no
    partsupp.availqty): a (part, supplier) pair is "hot" when more than
    half its all-time shipped quantity went out in 1996 (DECIMAL-exact
    conditional sums; the 0.5 comparison runs on doubles derived from
    them).

    Scale: the name-filtered part set broadcasts into the fact scan as
    a semi join; the pair aggregate is the only fact shuffle; the
    final supplier membership is a broadcast LEFT SEMI against the
    hot-pair supplier keys — no correlated re-scan, no nested loop."""
    li = _t(spark, sf_dir, "lineitem")
    pk = (_t(spark, sf_dir, "part")
          .where(F.col("p_name").like("%red%")).select("p_partkey"))
    qty = F.col("l_quantity").cast("decimal(15,2)")
    in_1996 = ((F.col("l_shipdate") >= F.lit("1996-01-01")
                .cast("timestamp"))
               & (F.col("l_shipdate") < F.lit("1997-01-01")
                  .cast("timestamp")))
    hot = (li.join(F.broadcast(pk),
                   li.l_partkey == F.col("p_partkey"), "left_semi")
           .groupBy("l_partkey", "l_suppkey")
           .agg(F.sum(F.when(in_1996, qty)
                      .otherwise(F.lit(0).cast("decimal(15,2)")))
                .cast("double").alias("q_1996"),
                F.sum(qty).cast("double").alias("q_total"))
           .where(F.col("q_1996") > F.lit(0.5) * F.col("q_total"))
           .select("l_suppkey"))
    s = (_t(spark, sf_dir, "supplier")
         .join(F.broadcast(_t(spark, sf_dir, "nation")
                           .where(F.col("n_name")
                                  .isin("NATION_3", "NATION_4"))),
               F.col("s_nationkey") == F.col("n_nationkey")))
    return (s.join(F.broadcast(hot),
                   s.s_suppkey == hot.l_suppkey, "left_semi")
            .select("s_name", "n_name"))


register("tpch_q20_hot_part_suppliers", tpch_q20_hot_part_suppliers,
         oracle="""
WITH hot AS (
  SELECT l_suppkey
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part
                      WHERE p_name LIKE '%red%')
  GROUP BY l_partkey, l_suppkey
  HAVING CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
                        AND l_shipdate < TIMESTAMP '1997-01-01'
                       THEN CAST(l_quantity AS DECIMAL(15,2))
                       ELSE CAST(0 AS DECIMAL(15,2)) END) AS DOUBLE)
         > 0.5 * CAST(SUM(CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE))
SELECT s_name, n_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name IN ('NATION_3', 'NATION_4')
  AND s_suppkey IN (SELECT l_suppkey FROM hot)
""")
