"""TPC-H decision-support suite, adapted to the driver's reduced schema.

The r1–r4 rounds covered Q1/Q3/Q5/Q13/Q18/Q22 shapes (analytics.py,
relational.py). This module completes the full 22-query suite — the
corpus has no ``partsupp`` table and lineitem lacks ``l_shipmode``/
``l_commitdate``/``l_receiptdate``, so Q2/Q9/Q11/Q12/Q16/Q17/Q20/Q21 are
re-anchored on columns that exist (each docstring states exactly how the
predicate moved; the join/aggregate/subquery SHAPE is what is preserved).
Every query keeps the *plan shape* that matters at 100 TB:

- dims (region, nation, supplier, part, filtered customer) broadcast;
  the only exchanges are fact⋈fact co-partitions and final aggregations;
- scalar subqueries become ONE-row broadcast packs (never driver collects);
- global top-k compiles to TakeOrderedAndProject;
- date/brand/type predicates push into the parquet scan.

Reference parity: the reference engine has no analytics surface
(sync.go:56-176); this is the §2.B warehouse-breadth inventory exercising
the relational core at the classic decision-support shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloud_data_sync_spark.registry import register
from cloud_data_sync_spark.tables import load_table, shuffle_hash


def _ts(s: str):
    return F.lit(s).cast("timestamp")


@register(
    "q_tpch_priority",
    oracle="""
SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o.o_orderpriority
""",
    doc=(
        "TPC-H Q4 order-priority checking: quarter-windowed orders that "
        "have at least one returned line (EXISTS → left-semi join; the "
        "original's commitdate<receiptdate predicate has no column here, "
        "so the existence test is re-anchored on l_returnflag='R'). The "
        "semi join is the ONLY exchange pair — the lineitem side is "
        "projected to orderkey-only before the shuffle so the exchange "
        "carries 8 bytes/row; the priority rollup is 5 groups."
    ),
)
def q_tpch_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-07-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1997-10-01 00:00:00"))
    )
    returned = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "q_tpch_forecast",
    oracle="""
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24.0
""",
    doc=(
        "TPC-H Q6 forecast-revenue change: pure filtered scan-aggregate. "
        "All four predicates (two date bounds, discount band, quantity "
        "cap) push into the parquet scan; the partial sums combine "
        "map-side and ONE row reaches the final aggregate — zero "
        "data-bearing exchanges at any scale."
    ),
)
def q_tpch_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1998-01-01 00:00:00"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24.0)
    )
    return li.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue")
    )


@register(
    "q_tpch_nationtrade",
    oracle="""
SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l.l_shipdate) AS l_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume
  FROM supplier s
  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
) shipping
GROUP BY supp_nation, cust_nation, l_year
""",
    doc=(
        "TPC-H Q7 volume shipping between two nations: lineitem⋈orders is "
        "the ONLY fact co-partition; supplier+nation and customer+nation "
        "pre-join into two nation-filtered broadcast packs (supplier is a "
        "true dim; customer is filtered to 2/25 nations before broadcast). "
        "The OR-of-pairs predicate lands after both dims attach, on "
        "broadcast-joined columns — map-side, no extra exchange. Year "
        "extraction is cast to BIGINT to match the oracle engine."
    ),
)
def q_tpch_nationtrade(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1998-01-01 00:00:00"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .withColumn("l_year", F.year("l_shipdate").cast("long"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "q_tpch_mktshare",
    oracle="""
SELECT o_year,
       round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
             / sum(volume), 6) AS mkt_share
FROM (
  SELECT year(o.o_orderdate) AS o_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume,
         n2.n_name AS nation
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
  JOIN region r ON n1.n_regionkey = r.r_regionkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
  WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
) all_nations
GROUP BY o_year
""",
    doc=(
        "TPC-H Q8 national market share: NATION_3's share of ECONOMY-part "
        "volume sold into ASIA customers, per order year. The share is a "
        "conditional-sum ratio computed INSIDE the year groups (no scalar "
        "join needed). part/supplier+nation/customer+nation+region all "
        "broadcast (customer is region-filtered first); lineitem⋈orders "
        "is the only co-partition exchange."
    ),
)
def q_tpch_mktshare(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region), nation.n_regionkey == region.r_regionkey
                ).select("n_nationkey")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # r12: the static planner BROADCAST the 1.5M-row orders fact (sf1
    # plan dump, the q_tpch_volume estimate class). Gated: 0.478 -> 0.399 s
    # at sf0.1 (min of 15).
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(
            shuffle_hash(orders),
            li.l_orderkey == orders.o_orderkey,
        )
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .withColumn("o_year", F.year("o_orderdate").cast("long"))
        .withColumn("volume", volume)
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("nation") == "NATION_3", F.col("volume")).otherwise(0.0)
                )
                / F.sum("volume"),
                6,
            ).alias("mkt_share")
        )
    )


@register(
    "q_tpch_profit",
    oracle="""
SELECT nation, o_year, round(sum(amount), 2) AS sum_profit
FROM (
  SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
         l.l_extendedprice * (1 - l.l_discount)
           - 0.6 * p.p_retailprice * l.l_quantity AS amount
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE p.p_name LIKE '%red%'
) profit
GROUP BY nation, o_year
""",
    doc=(
        "TPC-H Q9 product-type profit: per supplier-nation, per order "
        "year, profit on '%red%' parts. The corpus has no partsupp, so "
        "ps_supplycost is re-anchored as 0.6×p_retailprice — identical "
        "expression on both engines, same join DAG as the original. "
        "part('%red%') and supplier+nation broadcast; lineitem⋈orders is "
        "the only exchange pair; the LIKE pushes into the part scan."
    ),
)
def q_tpch_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    )
    # r12: the static planner broadcast the orders fact (the q_tpch_volume
    # estimate class). Gated: 0.422 -> 0.345 s at sf0.1 (min of 15).
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(
            shuffle_hash(orders),
            li.l_orderkey == orders.o_orderkey,
        )
        .withColumn("o_year", F.year("o_orderdate").cast("long"))
        .withColumn("amount", amount)
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount"), 2).alias("sum_profit"))
    )


@register(
    "q_tpch_returns",
    oracle="""
SELECT c.c_custkey, c.c_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       c.c_acctbal, n.n_name
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    doc=(
        "TPC-H Q10 returned-item reporting: top-20 customers by lost "
        "revenue on returned lines in one quarter. Aggregation runs on "
        "custkey BEFORE the customer attributes attach, so the wide "
        "customer row joins the ≤|custkey| aggregate, not the fact "
        "stream; customer+nation broadcast; the global top-20 compiles "
        "to TakeOrderedAndProject (per-partition heap, no full sort)."
    ),
)
def q_tpch_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-07-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1997-10-01 00:00:00"))
    ).select("o_orderkey", "o_custkey")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cust = load_table(spark, sf_dir, "customer").join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    )
    per_cust = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    return (
        per_cust.join(F.broadcast(cust), per_cust.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q_tpch_promo",
    oracle="""
SELECT round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS promo_revenue
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
""",
    doc=(
        "TPC-H Q14 promotion effect: PROMO-part share of one month's "
        "revenue (the corpus's p_type is the class token itself, so the "
        "original LIKE 'PROMO%%' is equality here). part broadcasts as a "
        "(partkey, is-promo) pack; the month window pushes into the "
        "lineitem scan; the conditional-sum ratio folds map-side into "
        "ONE output row — no scalar join, no second pass."
    ),
)
def q_tpch_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-09-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1997-10-01 00:00:00"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("promo_revenue")
        )
    )


@register(
    "q_tpch_topsupplier",
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
""",
    doc=(
        "TPC-H Q15 top supplier: quarter revenue per supplier, keep the "
        "max (ties kept, as the original requires). The scalar max is a "
        "ONE-row broadcast pack cross-joined into the filter (the "
        "declarative form of the original's scalar subquery — no driver "
        "collect); the revenue aggregate's single suppkey shuffle is the "
        "only data-bearing exchange; supplier attributes broadcast onto "
        "the ≤|suppkey| aggregate. Revenue is rounded to cents BEFORE "
        "the max comparison so the tie set is engine-portable."
    ),
)
def q_tpch_topsupplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    revenue = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= _ts("1997-01-01 00:00:00"))
            & (F.col("l_shipdate") < _ts("1997-04-01 00:00:00"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    best = revenue.agg(F.max("total_revenue").alias("best_revenue"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.crossJoin(F.broadcast(best))
        .filter(F.col("total_revenue") == F.col("best_revenue"))
        .join(F.broadcast(supp), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q_tpch_partsuppliers",
    oracle="""
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM part p
JOIN lineitem l ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#5'
  AND p.p_size IN (1, 14, 23, 45)
GROUP BY p.p_brand, p.p_type, p.p_size
""",
    doc=(
        "TPC-H Q16 parts/supplier relationship count: distinct suppliers "
        "able to supply each (brand, type, size) class. The corpus has no "
        "partsupp, so the part↔supplier relation is derived from observed "
        "lineitem shipments — same grouped COUNT(DISTINCT) shape. The "
        "size/brand predicates push into the part scan and the filtered "
        "part dim broadcasts; the distinct expands inside the single "
        "group-key exchange (two-phase partial distinct), never a "
        "self-join."
    ),
)
def q_tpch_partsuppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_brand") != "Brand#5") & F.col("p_size").isin(1, 14, 23, 45))
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q_tpch_smallqty",
    oracle="""
SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#3'
  AND l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                      FROM lineitem l2
                      WHERE l2.l_partkey = p.p_partkey)
""",
    doc=(
        "TPC-H Q17 small-quantity-order revenue: lines of one brand "
        "shipping less than half the part's average quantity (the "
        "original's 0.2× on a skewed qty distribution is re-tuned to "
        "0.5× for this corpus's uniform 1..50 quantities; p_container "
        "does not exist so the class is brand-only). The correlated "
        "scalar subquery becomes a per-part average computed on the SAME "
        "partkey exchange the brand probe uses, joined back as a "
        "broadcast (≤|brand parts| rows) — two scans, one shuffle, no "
        "recompute per row."
    ),
)
def q_tpch_smallqty(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#3")
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    brand_lines = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    thresholds = (
        brand_lines.groupBy("l_partkey")
        .agg((F.lit(0.5) * F.avg("l_quantity")).alias("qty_threshold"))
        .withColumnRenamed("l_partkey", "t_partkey")
    )
    return (
        brand_lines.join(
            F.broadcast(thresholds), F.col("l_partkey") == F.col("t_partkey")
        )
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@register(
    "q_tpch_brackets",
    oracle="""
SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#4' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)
""",
    doc=(
        "TPC-H Q19 discounted revenue: disjunction of three "
        "(brand, size, quantity) brackets spanning both join sides "
        "(Brand#34 does not exist in this corpus's 25-brand vocabulary; "
        "Brand#4 stands in). The part side pre-filters to the UNION of "
        "the three brand/size envelopes (a derived pushdown Catalyst "
        "cannot infer from the raw OR), broadcasts, and the full mixed "
        "OR evaluates map-side after the join — one broadcast join, zero "
        "shuffles before the 1-row aggregate."
    ),
)
def q_tpch_brackets(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = (
        load_table(spark, sf_dir, "part")
        .filter(
            ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5))
            | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10))
            | ((F.col("p_brand") == "Brand#4") & F.col("p_size").between(1, 15))
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    bracket = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#4") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(bracket)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "q_tpch_priorityclass",
    oracle="""
SELECT l.l_returnflag,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l.l_returnflag
""",
    doc=(
        "TPC-H Q12 shipping-mode priority split: per line class, how many "
        "lines belong to critical- vs normal-priority orders (l_shipmode "
        "does not exist in this corpus; l_returnflag is the line-side "
        "class and the original's receipt-window predicate re-anchors on "
        "the l_shipdate year). One orders⋈lineitem co-partition exchange; "
        "the priority CASE folds into map-side partial sums — the "
        "aggregate ships 3 groups, not rows."
    ),
)
def q_tpch_priorityclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1998-01-01 00:00:00"))
    ).select("l_orderkey", "l_returnflag")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q_tpch_minsupplier",
    oracle="""
WITH eligible AS (
  SELECT DISTINCT l.l_partkey AS partkey, l.l_suppkey AS suppkey FROM lineitem l
),
sup AS (
  SELECT s.s_suppkey, s.s_name, s.s_acctbal
  FROM supplier s
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
),
parts AS (SELECT p_partkey, p_name FROM part WHERE p_size = 15),
cand AS (
  SELECT p.p_partkey, p.p_name, s.s_name, s.s_acctbal,
         min(s.s_acctbal) OVER (PARTITION BY p.p_partkey) AS min_bal
  FROM eligible e
  JOIN parts p ON e.partkey = p.p_partkey
  JOIN sup s ON e.suppkey = s.s_suppkey
)
SELECT p_partkey, p_name, s_name, s_acctbal
FROM cand WHERE s_acctbal = min_bal
""",
    doc=(
        "TPC-H Q2 min-cost supplier: per size-15 part, the EU supplier "
        "observed shipping it with the lowest account balance (the "
        "corpus has no partsupp, so ps_supplycost re-anchors on "
        "s_acctbal and the part↔supplier relation derives from "
        "lineitem shipments; ties kept, as Q2 keeps min-cost ties). "
        "The correlated min becomes a window on the partkey partition "
        "of the already-joined candidate set — same exchange, no "
        "second pass. The broadcast p_size filter attaches BEFORE the "
        "(part, supp) distinct so only matching fact rows reach the "
        "exchange, and that single p_partkey-keyed exchange serves the "
        "distinct AND the window; parts and EU suppliers broadcast."
    ),
)
def q_tpch_minsupplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The p_size=15 broadcast filter attaches BEFORE the (part, supp)
    # distinct: only ~2% of fact rows survive it, so the distinct's
    # exchange shrinks ~50x (r11; was: distinct over the full fact
    # stream, then the dim join). Repartitioning by p_partkey lets that
    # ONE exchange also serve the min-balance window (hash(p_partkey)
    # satisfies both the distinct's and the window's clustering), so the
    # window's second exchange disappears. Same result set: p_partkey is
    # unique in part, p_name is determined by it, and the inner join
    # drops NULL/non-size-15 part keys on either side of the distinct.
    eligible = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("partkey"),
        F.col("l_suppkey").alias("suppkey"),
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    sup = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region), nation.n_regionkey == region.r_regionkey
                ).select("n_nationkey")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal")
    )
    parts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") == 15)
        .select("p_partkey", "p_name")
    )
    from pyspark.sql.window import Window

    pairs = (
        eligible.join(F.broadcast(parts), eligible.partkey == parts.p_partkey)
        .select("p_partkey", "p_name", "suppkey")
        .repartition("p_partkey")
        .distinct()
    )
    cand = pairs.join(
        F.broadcast(sup), pairs.suppkey == sup.s_suppkey
    ).withColumn(
        "min_bal", F.min("s_acctbal").over(Window.partitionBy("p_partkey"))
    )
    return cand.filter(F.col("s_acctbal") == F.col("min_bal")).select(
        "p_partkey", "p_name", "s_name", "s_acctbal"
    )


@register(
    "q_tpch_importance",
    oracle="""
WITH val AS (
  SELECT l.l_partkey AS partkey,
         sum(l.l_quantity * p.p_retailprice) AS value
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE n.n_name = 'NATION_5'
  GROUP BY l.l_partkey
),
tot AS (SELECT sum(value) AS total, count(*) AS n_parts FROM val)
SELECT v.partkey, round(v.value, 2) AS value
FROM val v CROSS JOIN tot t
WHERE v.value > 2.0 * t.total / t.n_parts
""",
    doc=(
        "TPC-H Q11 important stock: per-part shipped value from one "
        "nation's suppliers, keeping parts above 2× the mean part value "
        "(the original's fixed 0.0001 fraction is calibrated to TPC-H's "
        "part count; a fixed fraction goes vacuous as parts grow with "
        "sf, so the threshold is expressed scale-free — value = "
        "quantity × retail price; the corpus has no partsupp "
        "availqty/supplycost). The HAVING-"
        "against-global-sum becomes a ONE-row total pack cross-joined "
        "into the filter (whitelisted scalar pattern); the per-part "
        "agg is the only data-bearing exchange — supplier+nation and "
        "part both broadcast."
    ),
)
def q_tpch_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    sup = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    val = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(F.col("l_quantity") * F.col("p_retailprice")).alias("value"))
    )
    tot = val.agg(F.sum("value").alias("total"), F.count("*").alias("n_parts"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("value") > F.lit(2.0) * F.col("total") / F.col("n_parts"))
        .select("partkey", F.round("value", 2).alias("value"))
    )


@register(
    "q_tpch_excess",
    oracle="""
WITH redparts AS (SELECT p_partkey FROM part WHERE p_name LIKE '%red%'),
pairs AS (
  SELECT l.l_suppkey AS suppkey, l.l_partkey AS partkey,
         sum(CASE WHEN l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                   AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
                  THEN l.l_quantity ELSE 0 END) AS qty_1997,
         sum(l.l_quantity) AS qty_total
  FROM lineitem l JOIN redparts rp ON l.l_partkey = rp.p_partkey
  GROUP BY l.l_suppkey, l.l_partkey
),
qual AS (SELECT DISTINCT suppkey FROM pairs
         WHERE qty_1997 > 0.5 * qty_total AND qty_total >= 80.0)
SELECT s.s_suppkey, s.s_name
FROM supplier s JOIN qual q ON s.s_suppkey = q.suppkey
""",
    doc=(
        "TPC-H Q20 excess-supply shape: suppliers having some '%red%' "
        "part whose 1997 shipped quantity exceeds half that "
        "(supplier, part) pair's all-time quantity, on pairs with "
        "material volume (>= 80 units — the original also carries a "
        "volume term via ps_availqty; without the floor every "
        "single-line 1997 pair qualifies vacuously). The original "
        "compares ps_availqty against half a year's shipments; with "
        "no partsupp the one-year-vs-total concentration keeps the "
        "conditional-sum + HAVING + supplier semi-join chain. "
        "Quantities are integral doubles and 0.5× is exact in binary, "
        "so the boundary is engine-portable. One (supp, part) "
        "exchange; the qualifying-supplier set is distinct ids only; "
        "red parts broadcast."
    ),
)
def q_tpch_excess(spark: SparkSession, sf_dir: str) -> DataFrame:
    red = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem")
    in_1997 = (F.col("l_shipdate") >= _ts("1997-01-01 00:00:00")) & (
        F.col("l_shipdate") < _ts("1998-01-01 00:00:00")
    )
    pairs = (
        li.join(F.broadcast(red), li.l_partkey == red.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(in_1997, F.col("l_quantity")).otherwise(0.0)).alias(
                "qty_1997"
            ),
            F.sum("l_quantity").alias("qty_total"),
        )
    )
    qual = (
        pairs.filter(
            (F.col("qty_1997") > 0.5 * F.col("qty_total"))
            & (F.col("qty_total") >= 80.0)
        )
        .select(F.col("l_suppkey").alias("suppkey"))
        .distinct()
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return sup.join(qual, sup.s_suppkey == qual.suppkey).select("s_suppkey", "s_name")


@register(
    "q_tpch_waiting",
    oracle="""
WITH flags AS (
  SELECT l_orderkey AS orderkey, l_suppkey AS suppkey,
         max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS has_r
  FROM lineitem GROUP BY l_orderkey, l_suppkey
),
per_order AS (
  SELECT orderkey, suppkey, has_r,
         count(*) OVER (PARTITION BY orderkey) AS n_supp,
         sum(has_r) OVER (PARTITION BY orderkey) AS n_r_supp
  FROM flags
)
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM per_order p JOIN supplier s ON p.suppkey = s.s_suppkey
WHERE p.has_r = 1 AND p.n_supp > 1 AND p.n_r_supp = 1
GROUP BY s.s_name
ORDER BY numwait DESC, s_name
LIMIT 10
""",
    doc=(
        "TPC-H Q21 waiting-supplier shape: suppliers who were the ONLY "
        "supplier with a returned line in a multi-supplier order, "
        "counted and top-10'd (the original's commit/receipt-date "
        "lateness has no columns here; l_returnflag='R' is the fault "
        "flag — the exists/not-exists pair over sibling lines is the "
        "shape being kept, expressed as per-order window counts over "
        "the (order, supplier) flag aggregate instead of two "
        "correlated self-joins of the fact table). ONE orderkey-keyed "
        "fact exchange serves both the (order, supp) aggregate and the "
        "per-order window (id+flag-narrow); supplier broadcasts; the "
        "top-10 compiles to TakeOrderedAndProject."
    ),
)
def q_tpch_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    # ONE exchange serves both the (order, supp) aggregate and the
    # per-order window: hash(orderkey) satisfies the aggregate's
    # ClusteredDistribution([orderkey, suppkey]) (subset rule) and the
    # window's ClusteredDistribution([orderkey]), so repartitioning by
    # orderkey FIRST removes the second fact-sized exchange the
    # agg-then-window shape otherwise pays (r11; was: hash(orderkey,
    # suppkey) for the agg + hash(orderkey) for the window). The R-flag
    # CASE is projected before the shuffle so the exchange carries
    # (long, long, int), not the returnflag string.
    flags = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("orderkey"),
            F.col("l_suppkey").alias("suppkey"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("r_flag"),
        )
        .repartition("orderkey")
        .groupBy("orderkey", "suppkey")
        .agg(F.max("r_flag").alias("has_r"))
    )
    w = Window.partitionBy("orderkey")
    per_order = flags.withColumn("n_supp", F.count("*").over(w)).withColumn(
        "n_r_supp", F.sum("has_r").over(w)
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_order.filter(
            (F.col("has_r") == 1) & (F.col("n_supp") > 1) & (F.col("n_r_supp") == 1)
        )
        .join(F.broadcast(sup), F.col("suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )
