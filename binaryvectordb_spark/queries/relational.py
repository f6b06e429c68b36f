"""Relational operator surface (SURVEY §2.2-2.8, all EXT): filters, joins,
aggregations, windows, set ops over the TPC-H-ish fixtures.

Cross-engine determinism rules used throughout (so the driver's value-hash
matches bit-for-bit):
- SUMs over double measures go through DECIMAL casts (exact, order-independent
  in both engines); the final value is CAST AS DOUBLE.  All money columns in
  the fixtures are 2-decimal, so DECIMAL(15,2) casts lose nothing.
- AVG is always CAST(SUM(decimal) AS DOUBLE) / COUNT — never engine avg()
  (Spark returns decimal, DuckDB returns double; division of identical
  doubles is deterministic).
- Every LIMIT query pins total order with explicit tie-breaks.
- No libm-divergent functions (ln/exp/pow) in oracled queries; sqrt is
  IEEE-exact and safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from binaryvectordb_spark.queries import register
from binaryvectordb_spark.sources.tables import load_table


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# §2.2 projections / filters / predicates
# ---------------------------------------------------------------------------

def filter_range_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range + equality predicates; Catalyst pushes all of them into the
    Parquet scan (PushedFilters) and prunes to 4 columns (ReadSchema)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.where((F.col("l_shipdate") >= "1996-01-01")
                     & (F.col("l_shipdate") < "1997-01-01")
                     & (F.col("l_quantity") < 10)
                     & (F.col("l_returnflag") == "N"))
            .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"))


register("filter_range_pushdown", filter_range_pushdown, oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_quantity < 10 AND l_returnflag = 'N'
""")


def filter_in_like_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return (c.where(F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")
                    & F.col("c_name").like("%1%")
                    & F.col("c_acctbal").isNotNull()
                    & F.col("c_acctbal").between(0, 5000))
            .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal"))


register("filter_in_like_null", filter_in_like_null, oracle="""
SELECT c_custkey, c_name, c_mktsegment, c_acctbal
FROM customer
WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE') AND c_name LIKE '%1%'
  AND c_acctbal IS NOT NULL AND c_acctbal BETWEEN 0 AND 5000
""")


def distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("lang", "source").distinct()


register("distinct_pairs", distinct_pairs,
         oracle="SELECT DISTINCT lang, source FROM documents")


def case_when_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    bucket = (F.when(F.col("c_acctbal") < 0, "negative")
              .when(F.col("c_acctbal") < 3000, "low")
              .when(F.col("c_acctbal") < 7000, "mid")
              .otherwise("high"))
    return (c.select(bucket.alias("bucket"))
            .groupBy("bucket").agg(F.count("*").alias("n")))


register("case_when_buckets", case_when_buckets, oracle="""
SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
            WHEN c_acctbal < 3000 THEN 'low'
            WHEN c_acctbal < 7000 THEN 'mid'
            ELSE 'high' END AS bucket, count(*) AS n
FROM customer GROUP BY 1
""")


# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------

def join_multiway_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5-style 5-way join; dims are broadcast (region/nation/customer are
    tiny at any scale relative to lineitem), fact-fact join shuffles on the
    orderkey only after the date filter prunes orders."""
    r = F.broadcast(_t(spark, sf_dir, "region"))
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01"))
    li = _t(spark, sf_dir, "lineitem")
    rev = F.expr("CAST(l_extendedprice AS DECIMAL(15,2)) * "
                 "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(n, c.c_nationkey == n.n_nationkey)
            .join(r, n.n_regionkey == r.r_regionkey)
            .groupBy("r_name")
            .agg(F.sum(rev).cast("double").alias("revenue"),
                 F.count("*").alias("n_items")))


register("join_multiway_revenue", join_multiway_revenue, oracle="""
SELECT r_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2)) *
                (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
         AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY r_name
""")


def join_semi_customers_with_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    ev = _t(spark, sf_dir, "events").where(F.col("event_type") == "error")
    return (c.join(ev, c.c_custkey == ev.user_id, "left_semi")
            .select("c_custkey", "c_name"))


register("join_semi_customers_with_errors", join_semi_customers_with_errors,
         oracle="""
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM events
              WHERE user_id = c_custkey AND event_type = 'error')
""")


def join_anti_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (delete-side of the reference's upsert, :100-101).  Scoped to
    1995 orders so the result is non-empty at every fixture scale."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1996-01-01"))
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
            .select("c_custkey", "c_name", "c_acctbal"))


register("join_anti_customers_no_orders", join_anti_customers_no_orders,
         oracle="""
SELECT c_custkey, c_name, c_acctbal FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '1995-01-01'
                  AND o_orderdate < TIMESTAMP '1996-01-01')
""")


def join_outer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "left")
            .groupBy("c_custkey")
            .agg(F.count("o_orderkey").alias("n_orders"),
                 F.coalesce(
                     F.sum(F.col("o_totalprice").cast("decimal(15,2)")),
                     F.lit(0)).cast("double").alias("total_spend")))


register("join_outer_order_counts", join_outer_order_counts, oracle="""
SELECT c_custkey, count(o_orderkey) AS n_orders,
       CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(15,2))), 0) AS DOUBLE)
         AS total_spend
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
""")


def join_range_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range join: events banded by value — BroadcastNestedLoopJoin
    with a 3-row broadcast side (SURVEY §2.3 range join)."""
    ev = _t(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [("low", 0.0, 50.0), ("mid", 50.0, 200.0), ("high", 200.0, 1e9)],
        "band: string, lo: double, hi: double")
    return (ev.join(F.broadcast(bands),
                    (ev.value >= bands.lo) & (ev.value < bands.hi))
            .groupBy("band")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("value").cast("decimal(15,2)"))
                 .cast("double").alias("sum_value")))


register("join_range_value_bands", join_range_value_bands, oracle="""
WITH bands(band, lo, hi) AS (VALUES ('low', 0.0, 50.0), ('mid', 50.0, 200.0),
                                    ('high', 200.0, 1e9))
SELECT band, count(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(15,2))) AS DOUBLE) AS sum_value
FROM events JOIN bands ON value >= lo AND value < hi
GROUP BY band
""")


def join_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the latest click of the same user at or
    before the purchase (SURVEY §2.3 as-of).  Left-outer: purchases with no
    prior click keep NULLs.  Implemented join+rank; at scale this becomes a
    range-partitioned merge — the window shuffle is on purchase event_id."""
    ev = _t(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id"),
        F.col("ts").alias("purchase_ts"))
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"))
    j = p.join(c, (p.user_id == c.c_user) & (c.click_ts <= p.purchase_ts), "left")
    w = Window.partitionBy("purchase_id").orderBy(
        F.desc_nulls_last("click_ts"), F.desc_nulls_last("click_id"))
    return (j.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
            .select("purchase_id", "user_id", "click_id",
                    (F.unix_micros("purchase_ts") - F.unix_micros("click_ts"))
                    .alias("gap_us")))


register("join_asof_purchase_click", join_asof_purchase_click, oracle="""
WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
           FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id AS c_user, event_id AS click_id, ts AS click_ts
      FROM events WHERE event_type = 'click'),
j AS (SELECT p.*, c.click_id, c.click_ts,
             row_number() OVER (PARTITION BY purchase_id
                                ORDER BY click_ts DESC NULLS LAST,
                                         click_id DESC NULLS LAST) AS rn
      FROM p LEFT JOIN c ON p.user_id = c.c_user AND c.click_ts <= p.purchase_ts)
SELECT purchase_id, user_id, click_id,
       epoch_us(purchase_ts) - epoch_us(click_ts) AS gap_us
FROM j WHERE rn = 1
""")


# ---------------------------------------------------------------------------
# §2.4 aggregations
# ---------------------------------------------------------------------------

_REV = ("CAST(l_extendedprice AS DECIMAL(15,2)) * "
        "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))")
_CHG = _REV + " * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))"


def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical partial-agg + final-agg grouped rollup.

    Precision-tier rewrite (NOTES.md decimal tiers): Spark's decimal SUM
    stays on the compact-long path only while the buffer precision is <= 18
    (input p <= 8), so every per-row accumulation here uses p <= 8 inputs.
    The discounted/taxed product terms — whose per-row decimal products
    would force the slow >18-precision path — are factored through an exact
    two-stage aggregation: group additionally by (discount, tax), sum raw
    price on the fast path, then apply the constant (1-d)(1+t) per
    sub-group and fold the ~O(|flags|*|d|*|t|) sub-rows (a few hundred at
    any SF).  Decimal +/* are exact, so distributing the constant over the
    sub-group sums is bit-identical to the per-row product the oracle
    computes.  Scale safety: the finer key also shrinks per-group magnitude
    ~100x, so the decimal(18,2) fast buffer holds to SF100k with >100x
    headroom.  Whole pipeline is still hash-agg with map-side combine; the
    extra final agg folds a few hundred rows."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= "2001-09-01")
    d = F.col("l_discount").cast("decimal(4,2)")
    t = F.col("l_tax").cast("decimal(4,2)")
    inner = (li.groupBy("l_returnflag", "l_linestatus",
                        d.alias("d"), t.alias("t"))
             .agg(F.sum(F.col("l_quantity").cast("decimal(8,2)")).alias("s_qty"),
                  F.sum(F.col("l_extendedprice").cast("decimal(8,2)")).alias("s_price"),
                  F.sum(d).alias("s_disc"),
                  F.count("*").alias("n")))
    one = F.lit(1).cast("decimal(3,2)")
    rev_c = one - F.col("d")
    chg_c = rev_c * (one + F.col("t"))
    return (inner.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("s_qty").cast("double").alias("sum_qty"),
        F.sum("s_price").cast("double").alias("sum_base_price"),
        F.sum(F.col("s_price") * rev_c).cast("double").alias("sum_disc_price"),
        F.sum(F.col("s_price") * chg_c).cast("double").alias("sum_charge"),
        (F.sum("s_qty").cast("double") / F.sum("n")).alias("avg_qty"),
        (F.sum("s_disc").cast("double") / F.sum("n")).alias("avg_disc"),
        F.sum("n").alias("count_order")))


register("agg_pricing_summary", agg_pricing_summary, oracle=f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM({_REV}) AS DOUBLE) AS sum_disc_price,
       CAST(SUM({_CHG}) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE) / count(*) AS avg_qty,
       CAST(SUM(CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) / count(*) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
GROUP BY l_returnflag, l_linestatus
""")


def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (o.groupBy("o_orderstatus")
            .agg(F.countDistinct("o_custkey").alias("n_custs"),
                 F.countDistinct("o_orderpriority").alias("n_prios"),
                 F.count("*").alias("n_orders")))


register("agg_count_distinct", agg_count_distinct, oracle="""
SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_custs,
       count(DISTINCT o_orderpriority) AS n_prios, count(*) AS n_orders
FROM orders GROUP BY o_orderstatus
""")


def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ sketch, made oracle-checkable by an INVARIANT: the sketch
    algorithm differs from DuckDB's approx so the estimate itself can't be
    hashed, but |approx − exact| / exact < 0.05 is deterministic for a
    given fixture (rsd pinned at 0.01 → 5σ margin), and the exact count IS
    hashable.  The sketch still runs — the boolean is computed from it.

    The two aggregates are computed SEPARATELY and joined as 1×1-row
    frames: mixing a distinct agg with the sketch triggers the
    single-distinct two-level rewrite, whose stage-1 grouping by
    l_partkey materializes the partial HLL++ buffer (rsd=0.01 → 1,639
    words ≈ 13 KB) PER GROUP and ships it through the Exchange —
    gigabytes of aggregation state at scale for a sketch whose whole
    point is one small mergeable buffer per partition (plan evidence, the
    r16 before-plan: its stage-1 HashAggregate Results is 1,640 columns
    wide).  Split, each agg is its natural
    one-pass shape; values are identical by construction (the exact count
    is exact, and the HLL++ estimate is a deterministic function of the
    inserted value set — register max-merge is insertion-order
    independent).  Measured r16: 7.7 → 3.2 s sf0.1 interleaved."""
    li = _t(spark, sf_dir, "lineitem")
    approx = li.agg(
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx"))
    exact = li.agg(F.count_distinct("l_partkey").alias("exact_parts"))
    agg = exact.crossJoin(approx)
    return agg.select(
        "exact_parts",
        (F.abs(F.col("approx") - F.col("exact_parts"))
         / F.col("exact_parts") < 0.05).alias("approx_within_5pct"))


register("agg_approx_count_distinct", agg_approx_count_distinct, oracle="""
SELECT count(DISTINCT l_partkey) AS exact_parts, TRUE AS approx_within_5pct
FROM lineitem
""")


def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL-style quantile sketch (percentile_approx, accuracy 10000 → rank
    error 1e-4), oracle-checked by the invariant pattern: the sketch picks
    a real data value whose RANK is within ε of the target, so for this
    price distribution |approx − exact| / exact < 0.02 is deterministic
    with a fat margin; the exact interpolated median IS hashable
    (Spark percentile() ≡ DuckDB quantile_cont(), same interpolation).
    The sketch is the 100 TB path — one pass, mergeable partials, no sort."""
    o = _t(spark, sf_dir, "orders")
    agg = o.agg(
        F.expr("percentile_approx(o_totalprice, 0.5, 10000)").alias("approx"),
        F.expr("percentile(o_totalprice, 0.5)").alias("exact_median"))
    return agg.select(
        "exact_median",
        (F.abs(F.col("approx") - F.col("exact_median"))
         / F.col("exact_median") < 0.02).alias("approx_within_2pct"))


register("agg_approx_percentile", agg_approx_percentile, oracle="""
SELECT quantile_cont(o_totalprice, 0.5) AS exact_median,
       TRUE AS approx_within_2pct
FROM orders
""")


def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return (c.groupBy("c_nationkey").agg(F.count("*").alias("n_customers"))
            .where(F.col("n_customers") >= 5))


register("agg_having", agg_having, oracle="""
SELECT c_nationkey, count(*) AS n_customers FROM customer
GROUP BY c_nationkey HAVING count(*) >= 5
""")


def agg_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region"))
    j = (c.join(n, c.c_nationkey == n.n_nationkey)
         .join(r, n.n_regionkey == r.r_regionkey))
    return (j.rollup("r_name", "n_name")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("c_acctbal").cast("decimal(15,2)"))
                 .cast("double").alias("sum_bal"))
            .select(F.coalesce("r_name", F.lit("ALL")).alias("region"),
                    F.coalesce("n_name", F.lit("ALL")).alias("nation"),
                    "n", "sum_bal"))


register("agg_rollup_region_nation", agg_rollup_region_nation, oracle="""
SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation,
       count(*) AS n,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(15,2))) AS DOUBLE) AS sum_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""")


def agg_cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # r16: pre-aggregate by the two base columns BEFORE the cube.  A bare
    # cube plans Expand(x4) UNDER the partial aggregate, so 600k scan rows
    # become 2.4M aggregate inputs; count/sum are decomposable, so cube
    # over the ~6-row base aggregate (sum of exact decimal partials,
    # count -> sum of counts) is value-identical (oracle-verified) and the
    # Expand touches 6 rows instead of 600k.  At 100 TB the Expand factor
    # multiplies the full scan — this rewrite keeps it off the big table.
    base = (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.count("*").alias("_n"),
                 F.sum(F.col("l_quantity").cast("decimal(15,2)"))
                 .alias("_sq")))
    return (base.cube("l_returnflag", "l_linestatus")
            .agg(F.sum("_n").alias("n"),
                 F.sum("_sq").cast("double").alias("sum_qty"))
            .select(F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
                    F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
                    "n", "sum_qty"))


register("agg_cube_flag_status", agg_cube_flag_status, oracle="""
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       count(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
""")


def agg_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot = grouped conditional aggregation (what both engines compile a
    PIVOT into; oracle states it explicitly)."""
    o = _t(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(15,2)")
    return (o.groupBy("o_orderpriority")
            .pivot("o_orderstatus", ["F", "O", "P"])
            .agg(F.sum(dec).cast("double"))
            .withColumnsRenamed({"F": "total_f", "O": "total_o", "P": "total_p"}))


register("agg_pivot_status", agg_pivot_status, oracle="""
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN o_orderstatus = 'F'
                     THEN CAST(o_totalprice AS DECIMAL(15,2)) END) AS DOUBLE) AS total_f,
       CAST(SUM(CASE WHEN o_orderstatus = 'O'
                     THEN CAST(o_totalprice AS DECIMAL(15,2)) END) AS DOUBLE) AS total_o,
       CAST(SUM(CASE WHEN o_orderstatus = 'P'
                     THEN CAST(o_totalprice AS DECIMAL(15,2)) END) AS DOUBLE) AS total_p
FROM orders GROUP BY o_orderpriority
""")


def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    avg = o.agg((F.sum(F.col("o_totalprice").cast("decimal(15,2)")).cast("double")
                 / F.count("*")).alias("avg_price"))
    return (o.join(F.broadcast(avg))
            .where(F.col("o_totalprice") > F.col("avg_price"))
            .select("o_orderkey", "o_totalprice"))


register("scalar_subquery_above_avg", scalar_subquery_above_avg, oracle="""
SELECT o_orderkey, o_totalprice FROM orders
WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE)
                             / count(*) FROM orders)
""")


# ---------------------------------------------------------------------------
# §2.8 window functions
# ---------------------------------------------------------------------------

def window_topk_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (o.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 3)
            .select("o_custkey", "o_orderkey", "o_totalprice", "rk"))


register("window_topk_per_customer", window_topk_per_customer, oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders) WHERE rk <= 3
""")


def window_rank_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return o.select(
        "o_orderkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rk"),
        F.dense_rank().over(w).alias("drk"),
        F.ntile(4).over(w).alias("quartile"))


register("window_rank_variants", window_rank_variants, oracle="""
SELECT o_orderkey,
       row_number() OVER w AS rn, rank() OVER w AS rk,
       dense_rank() OVER w AS drk, ntile(4) OVER w AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice DESC, o_orderkey ASC)
""")


def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id", "user_id",
        (F.col("value") - F.lag("value").over(w)).alias("delta_value"),
        F.lead("event_type").over(w).alias("next_type"))


register("window_lag_lead", window_lag_lead, oracle="""
SELECT event_id, user_id,
       value - lag(value) OVER w AS delta_value,
       lead(event_type) OVER w AS next_type
FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""")


def window_moving_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS-frame moving aggregate; decimal inside the frame so the sliding
    sum is exact in both engines (double frames use incremental subtraction
    in some engines — not reproducible)."""
    ev = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-3, 0))
    return ev.select(
        "event_id",
        F.sum(F.col("value").cast("decimal(15,2)")).over(w)
        .cast("double").alias("moving_sum"),
        F.count("*").over(w).alias("frame_n"))


register("window_moving_sum", window_moving_sum, oracle="""
SELECT event_id,
       CAST(SUM(CAST(value AS DECIMAL(15,2))) OVER w AS DOUBLE) AS moving_sum,
       count(*) OVER w AS frame_n
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
""")


def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, 0))
    return o.select(
        "o_orderkey", "o_custkey",
        F.sum(F.col("o_totalprice").cast("decimal(15,2)")).over(w)
        .cast("double").alias("running_spend"))


register("window_running_total", window_running_total, oracle="""
SELECT o_orderkey, o_custkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) OVER
            (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_spend
FROM orders
""")


# ---------------------------------------------------------------------------
# §2.6 set operations
# ---------------------------------------------------------------------------

def set_ops_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    a = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.where(F.col("c_acctbal") > 5000).select("c_custkey")
    return (a.intersect(b).withColumn("op", F.lit("intersect"))
            .unionByName(a.subtract(b)
                         .withColumn("op", F.lit("except")))
            .unionByName(a.union(b).distinct()
                         .withColumn("op", F.lit("union"))))


register("set_ops_segments", set_ops_segments, oracle="""
WITH a AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
     b AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
SELECT c_custkey, 'intersect' AS op FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
UNION ALL
SELECT c_custkey, 'except' AS op FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
UNION ALL
SELECT c_custkey, 'union' AS op FROM (SELECT * FROM a UNION SELECT * FROM b)
""")


def union_by_name_parties(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"), F.col("s_acctbal").alias("acctbal"),
        F.lit("supplier").alias("kind"))
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name"), F.col("c_acctbal").alias("acctbal"),
        F.lit("customer").alias("kind"))
    return s.unionByName(c)


register("union_by_name_parties", union_by_name_parties, oracle="""
SELECT s_name AS name, s_acctbal AS acctbal, 'supplier' AS kind FROM supplier
UNION ALL
SELECT c_name AS name, c_acctbal AS acctbal, 'customer' AS kind FROM customer
""")


def join_full_outer_nation_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two grouped aggregates (customer vs supplier
    presence per nation) — nations with only one side keep NULL-side counts
    as 0."""
    c = (_t(spark, sf_dir, "customer").groupBy("c_nationkey")
         .agg(F.count("*").alias("n_customers"))
         .select(F.col("c_nationkey").alias("ck"), "n_customers"))
    s = (_t(spark, sf_dir, "supplier").groupBy("s_nationkey")
         .agg(F.count("*").alias("n_suppliers"))
         .select(F.col("s_nationkey").alias("sk"), "n_suppliers"))
    return (c.join(s, c.ck == s.sk, "full_outer")
            .select(F.coalesce("ck", "sk").alias("nationkey"),
                    F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
                    F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers")))


register("join_full_outer_nation_profile", join_full_outer_nation_profile,
         oracle="""
WITH c AS (SELECT c_nationkey AS ck, count(*) AS n_customers
           FROM customer GROUP BY 1),
s AS (SELECT s_nationkey AS sk, count(*) AS n_suppliers
      FROM supplier GROUP BY 1)
SELECT COALESCE(ck, sk) AS nationkey,
       COALESCE(n_customers, 0) AS n_customers,
       COALESCE(n_suppliers, 0) AS n_suppliers
FROM c FULL OUTER JOIN s ON ck = sk
""")


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((returnflag), (linestatus)) — neither rollup
    nor cube; the two one-dimensional marginals in one pass."""
    li = _t(spark, sf_dir, "lineitem")
    # r16: same pre-aggregate rewrite as agg_cube_flag_status — Expand
    # runs over the ~6-row (rf, ls) base aggregate, not the 600k scan
    base = (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.count("*").alias("_n"),
                 F.sum(F.col("l_extendedprice").cast("decimal(15,2)"))
                 .alias("_sp")))
    gs = base.groupingSets([["l_returnflag"], ["l_linestatus"]],
                           "l_returnflag", "l_linestatus")
    return (gs.agg(F.sum("_n").alias("n"),
                   F.sum("_sp").cast("double").alias("sum_price"))
            .select(F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
                    F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
                    "n", "sum_price"))


register("agg_grouping_sets", agg_grouping_sets, oracle="""
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       count(*) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) AS sum_price
FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
""")


def window_distribution_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist — rank-arithmetic doubles, deterministic."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return o.select(
        "o_orderkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"))


register("window_distribution_funcs", window_distribution_funcs, oracle="""
SELECT o_orderkey,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus
             ORDER BY o_totalprice DESC, o_orderkey ASC)
""")


def unpivot_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide -> long) on a per-nation aggregate of customer/supplier
    balances; oracle states the UNION ALL expansion both engines compile
    UNPIVOT into."""
    c = (_t(spark, sf_dir, "customer").groupBy("c_nationkey")
         .agg(F.sum(F.col("c_acctbal").cast("decimal(15,2)"))
              .cast("double").alias("customer_bal"))
         .select(F.col("c_nationkey").alias("nationkey"), "customer_bal"))
    s = (_t(spark, sf_dir, "supplier").groupBy("s_nationkey")
         .agg(F.sum(F.col("s_acctbal").cast("decimal(15,2)"))
              .cast("double").alias("supplier_bal"))
         .select(F.col("s_nationkey").alias("nationkey"), "supplier_bal"))
    wide = c.join(s, "nationkey", "full_outer")
    return wide.unpivot("nationkey", ["customer_bal", "supplier_bal"],
                        "party", "balance")


register("unpivot_acctbal", unpivot_acctbal, oracle="""
WITH c AS (SELECT c_nationkey AS nationkey,
                  CAST(SUM(CAST(c_acctbal AS DECIMAL(15,2))) AS DOUBLE)
                    AS customer_bal
           FROM customer GROUP BY 1),
s AS (SELECT s_nationkey AS nationkey,
             CAST(SUM(CAST(s_acctbal AS DECIMAL(15,2))) AS DOUBLE)
               AS supplier_bal
      FROM supplier GROUP BY 1),
wide AS (SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
                customer_bal, supplier_bal
         FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey)
SELECT nationkey, 'customer_bal' AS party, customer_bal AS balance FROM wide
UNION ALL
SELECT nationkey, 'supplier_bal' AS party, supplier_bal AS balance FROM wide
""")


def join_right_outer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER: all customers kept from the right side, order fields
    NULL where no 1995 order exists."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1996-01-01"))
    c = _t(spark, sf_dir, "customer")
    return (o.join(c, o.o_custkey == c.c_custkey, "right")
            .select("c_custkey", "o_orderkey", "o_totalprice"))


register("join_right_outer_orders", join_right_outer_orders, oracle="""
SELECT c_custkey, o_orderkey, o_totalprice
FROM (SELECT * FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate < TIMESTAMP '1996-01-01') o
RIGHT JOIN customer ON o_custkey = c_custkey
""")


def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles — Spark percentile() and DuckDB
    quantile_cont() use the same linear interpolation on the sorted values
    (verified bit-exact on this data)."""
    o = _t(spark, sf_dir, "orders")
    return (o.groupBy("o_orderstatus")
            .agg(F.expr("percentile(o_totalprice, 0.5)").alias("median_price"),
                 F.expr("percentile(o_totalprice, 0.9)").alias("p90_price"),
                 F.min("o_totalprice").alias("min_price"),
                 F.max("o_totalprice").alias("max_price")))


register("agg_percentiles", agg_percentiles, oracle="""
SELECT o_orderstatus,
       quantile_cont(o_totalprice, 0.5) AS median_price,
       quantile_cont(o_totalprice, 0.9) AS p90_price,
       min(o_totalprice) AS min_price,
       max(o_totalprice) AS max_price
FROM orders GROUP BY o_orderstatus
""")


def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shape: segment filter, 3-way join, revenue agg, top-10 by revenue
    with date tie-break — the canonical join+agg+topk OLAP pattern."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1998-01-01")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > "1998-01-01")
    rev = F.expr("CAST(l_extendedprice AS DECIMAL(15,2)) * "
                 "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg(F.sum(rev).cast("double").alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc("o_orderdate"),
                     F.asc("l_orderkey"))
            .limit(10))


register("tpch_q3_shipping_priority", tpch_q3_shipping_priority, oracle="""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2)) *
                (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
LIMIT 10
""")


def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: returned-flag revenue per customer joined to nation,
    top-20 losers."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01"))
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    rev = F.expr("CAST(l_extendedprice AS DECIMAL(15,2)) * "
                 "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(n, c.c_nationkey == n.n_nationkey)
            .groupBy("c_custkey", "c_name", "n_name")
            .agg(F.sum(rev).cast("double").alias("revenue"),
                 F.count("*").alias("n_items"))
            .orderBy(F.desc("revenue"), F.asc("c_custkey"))
            .limit(20))


register("tpch_q10_returned_items", tpch_q10_returned_items, oracle="""
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2)) *
                (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
            AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
""")


def orderby_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pagination: page 3 of orders by (totalprice desc, orderkey) —
    LIMIT+OFFSET with a pinned total order."""
    o = _t(spark, sf_dir, "orders")
    return (o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .select("o_orderkey", "o_totalprice")
            .offset(40).limit(20))


register("orderby_limit_offset", orderby_limit_offset, oracle="""
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 20 OFFSET 40
""")


def agg_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-collecting aggregates, sorted so the array value is deterministic
    under any partitioning (bare collect_set order is not)."""
    o = _t(spark, sf_dir, "orders")
    # the set is rendered as a joined string: the driver's value-hash cannot
    # hash ARRAY cells (unhashable python lists), and the join loses nothing
    # since o_orderstatus values never contain the delimiter
    return (o.groupBy("o_orderpriority")
            .agg(F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",")
                 .alias("statuses"),
                 F.size(F.collect_set("o_orderstatus"))
                 .alias("n_statuses")))


register("agg_collect_set", agg_collect_set, oracle="""
SELECT o_orderpriority,
       array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
       CAST(length(list(DISTINCT o_orderstatus)) AS INTEGER) AS n_statuses
FROM orders GROUP BY o_orderpriority
""")


def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value over a full-partition frame (explicit frame:
    last_value's default frame ends at CURRENT ROW, a classic gotcha)."""
    o = _t(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey")
         .orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    return o.select(
        "o_orderkey", "o_custkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("last_order"))


register("window_first_last", window_first_last, oracle="""
SELECT o_orderkey, o_custkey,
       first_value(o_orderkey) OVER w AS first_order,
       last_value(o_orderkey) OVER w AS last_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""")
