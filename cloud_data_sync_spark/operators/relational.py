"""Relational operator inventory (SURVEY.md §2.B).

Each query is a thin declarative DataFrame plan — Catalyst handles pushdown,
pruning, join strategy (broadcast for dims / sort-merge for facts) and AQE
handles skew + partition coalescing. Cross-engine determinism rules:

- money aggregates: ``round(sum(x), 2)``; ratios/averages: ``round(, 6)``
  (double accumulation order differs between engines at ~1e-12 relative —
  rounding removes it; raw column values pass through bit-exact);
- every top-k / window rank breaks ties on a unique key;
- aliases match the oracle SQL exactly (driver sorts columns by name).

Reference parity notes are cited per-query (files under /root/reference).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cloud_data_sync_spark.registry import floor_ratio, register
from cloud_data_sync_spark.tables import load_table, session_substrate


# -- scan / filter / project -------------------------------------------------


@register(
    "q_scan_filter_project",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate
FROM lineitem
WHERE l_shipdate < TIMESTAMP '1995-03-15 00:00:00' AND l_discount > 0.05
""",
    doc="Scan + predicate + projection; filters/columns reach the parquet scan.",
)
def q_scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") < F.lit("1995-03-15 00:00:00").cast("timestamp"))
            & (F.col("l_discount") > 0.05)
        )
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate")
    )


# -- joins (reference analogs: state lookup #11, anti-delete #14, config RI #25)


@register(
    "q_join_inner",
    oracle="""
SELECT o.o_orderkey, c.c_name, n.n_name, o.o_totalprice
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_totalprice > 150000
""",
    doc="Fact⋈dim⋈dim inner join; dims broadcast (state point-lookup analog, database.go:319-344).",
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000)
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select("o_orderkey", "c_name", "n_name", "o_totalprice")
    )


@register(
    "q_join_left",
    oracle="""
SELECT c.c_custkey, c.c_name,
       CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
       round(coalesce(sum(o.o_totalprice), 0.0), 2) AS total_spend
FROM customer c
LEFT JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_name
""",
    doc="Left outer join preserving customers with zero orders.",
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12: LeftOuter forces BuildRight and the static planner BROADCAST
    # the 1.5M-row orders fact at sf1 (plan dump). Adaptive strategy on
    # the exact footer row count (q_percentiles_adaptive pattern):
    # shuffle-hash past 500k orders, broadcast under (the measured
    # crossover class of q_pseudonymize). Guide §3.1.
    from cloud_data_sync_spark.tables import table_num_rows

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    if table_num_rows(sf_dir, "orders") > 500_000:
        orders = orders.hint("shuffle_hash")
    return (
        customer.join(orders, orders.o_custkey == customer.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spend"),
        )
    )


@register(
    "q_join_semi",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
""",
    doc="Left-semi join: customers having at least one finished order.",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return customer.join(
        orders, orders.o_custkey == customer.c_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "q_join_anti",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
""",
    doc="Left-anti join — the delete-phase membership test (sync.go:212-214).",
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return customer.join(
        orders, orders.o_custkey == customer.c_custkey, "left_anti"
    ).select("c_custkey", "c_name")


# -- aggregation -------------------------------------------------------------


@register(
    "q_agg_hash",
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_discount), 6) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order,
       round(min(l_extendedprice), 2) AS min_price,
       round(max(l_extendedprice), 2) AS max_price
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    doc="TPC-H Q1-style hash aggregate; map-side partial agg then final merge (run-counter analog, sync.go:166-170).",
)
def q_agg_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "sum_disc_price"
        ),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count("*").alias("count_order"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
    )


@register(
    "q_agg_distinct",
    oracle="""
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem GROUP BY l_returnflag
""",
    doc="Exact distinct aggregation (expand + two-phase agg under the hood).",
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One branch per distinct column: TWO distinct columns in one agg
    # plan an Expand that triplicates the 600k-row scan through the
    # exchange; single-distinct branches each plan the two-level
    # partial-distinct form (no Expand), and the per-flag results rejoin
    # null-safely over ~3 groups. (r11, the q_profile_columns lesson)
    li = load_table(spark, sf_dir, "lineitem")
    parts = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count("*").alias("n_rows"),
    )
    supps = li.groupBy(F.col("l_returnflag").alias("rf")).agg(
        F.countDistinct("l_suppkey").alias("n_supps")
    )
    return parts.join(
        F.broadcast(supps), F.expr("l_returnflag <=> rf")
    ).select("l_returnflag", "n_parts", "n_supps", "n_rows")


@register(
    "q_rollup_cube",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
       round(sum(l_quantity), 2) AS sum_qty,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    doc="Grouping sets via ROLLUP with grouping_id disambiguating NULL groups.",
)
def q_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ROLLUP(a, b) = GROUPING SETS ((a,b), (a), ()). Shape: ONE pass of
    # fine-grained (a, b) partial aggregates over the fact table, then
    # every rollup level — including the () grand total — derived from
    # those KB-scale partials (sum/count are algebraic). The grand total
    # is an explicit ungrouped aggregate union, NOT a grouping set:
    # Spark's keyed Expand aggregate emits nothing on empty input where
    # SQL semantics still emit the () row (empty-input probe, r9) — and
    # deriving it from the partials keeps the fix to one fact scan
    # (the r9 form re-scanned lineitem; r10 advice). Raw sums stay
    # unrounded until the final projection so re-aggregation doesn't
    # accumulate rounding error.
    li = load_table(spark, sf_dir, "lineitem")
    p = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("_raw_qty"), F.count("*").alias("_n")
    )
    sets = (
        p.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"]],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.round(F.sum("_raw_qty"), 2).alias("sum_qty"),
            F.sum("_n").cast("long").alias("n_rows"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "sum_qty", "n_rows")
    )
    total = p.agg(
        F.lit(None).cast("string").alias("l_returnflag"),
        F.lit(None).cast("string").alias("l_linestatus"),
        F.lit(3).cast("long").alias("gid"),
        F.round(F.sum("_raw_qty"), 2).alias("sum_qty"),
        # count over empty input is 0, not NULL (sum-of-counts over the
        # empty partial set would be NULL)
        F.coalesce(F.sum("_n"), F.lit(0)).cast("long").alias("n_rows"),
    )
    return sets.unionByName(total)


# -- windows / top-k ---------------------------------------------------------


@register(
    "q_window_rank",
    oracle="""
SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(row_number() OVER (PARTITION BY o_custkey
                                 ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
  FROM orders) WHERE rn <= 3
""",
    doc="Per-group top-3 via row_number; ties broken on o_orderkey.",
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "q_window_frame",
    oracle="""
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate NULLS LAST, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend,
       round(avg(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate NULLS LAST, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS moving_avg_3,
       round(coalesce(lag(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate NULLS LAST, o_orderkey), 0.0), 2) AS prev_price
FROM orders
""",
    doc=(
        "Frame analytics: running sum, 3-row moving average, lag. "
        "EXPLICIT NULLS LAST in the frame order: a NULL o_orderdate "
        "(corrupt feed) sorts FIRST on Spark and LAST on DuckDB by "
        "default, silently shifting every running sum in its partition "
        "(adversarial fact probe, r10); unknown-date rows sort after "
        "dated history on both engines."
    ),
)
def q_window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc_nulls_last(), "o_orderkey"
    )
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2
        ).alias("running_spend"),
        F.round(F.avg("o_totalprice").over(w.rowsBetween(-2, 0)), 6).alias("moving_avg_3"),
        F.round(F.coalesce(F.lag("o_totalprice").over(w), F.lit(0.0)), 2).alias("prev_price"),
    )


@register(
    "q_topk",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
""",
    doc="Global top-k: TakeOrderedAndProject (no full sort, per-partition heaps).",
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


# -- set operations ----------------------------------------------------------


@register(
    "q_set_ops",
    oracle="""
SELECT 'both' AS op, c_custkey FROM
  (SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
   INTERSECT
   SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
UNION ALL
SELECT 'only_f' AS op, c_custkey FROM
  (SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
   EXCEPT
   SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
UNION ALL
SELECT 'any' AS op, c_custkey FROM
  (SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
   UNION
   SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
""",
    doc="UNION / INTERSECT / EXCEPT tagged into one result.",
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    ).distinct()
    o = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c_custkey")
    ).distinct()
    tag = lambda df, t: df.select(F.lit(t).alias("op"), "c_custkey")  # noqa: E731
    return (
        tag(f.intersect(o), "both")
        .unionByName(tag(f.exceptAll(o).distinct(), "only_f"))
        .unionByName(tag(f.union(o).distinct(), "any"))
    )


# -- scalar functions --------------------------------------------------------


@register(
    "q_scalar_string_date_math",
    oracle="""
SELECT o_orderkey,
       'default:' || o_orderpriority || '->default:' || o_orderstatus AS mapping_id,
       upper(substring(o_orderpriority, 1, 3)) AS prio_code,
       length(o_orderpriority) AS prio_len,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
       CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
         AS days_since_1995,
       round(abs(o_totalprice - 100000.0), 2) AS price_dist,
       CAST(floor(o_totalprice / 1000) AS BIGINT) AS price_bucket,
       round(sqrt(o_totalprice), 6) AS price_sqrt
FROM orders WHERE o_orderkey % 10 = 0
""",
    doc="Scalar string/date/math surface incl. the reference's '||' key builder (database.go:242-250, sync.go:93-95).",
)
def q_scalar_string_date_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    return o.select(
        "o_orderkey",
        F.concat(
            F.lit("default:"), F.col("o_orderpriority"), F.lit("->default:"), F.col("o_orderstatus")
        ).alias("mapping_id"),
        F.upper(F.substring("o_orderpriority", 1, 3)).alias("prio_code"),
        F.length("o_orderpriority").cast("long").alias("prio_len"),
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        F.datediff(F.col("o_orderdate").cast("date"), F.to_date(F.lit("1995-01-01")))
        .cast("long")
        .alias("days_since_1995"),
        F.round(F.abs(F.col("o_totalprice") - 100000.0), 2).alias("price_dist"),
        F.floor(F.col("o_totalprice") / 1000).cast("long").alias("price_bucket"),
        F.round(F.sqrt("o_totalprice"), 6).alias("price_sqrt"),
    )


@register(
    "q_json_props",
    oracle="""
WITH ek AS (
  SELECT event_type,
         TRY_CAST(CASE WHEN json_valid(props)
                       THEN json_extract_string(props, '$.k') END AS BIGINT) AS k
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(max(k) AS BIGINT) AS max_k
FROM ek GROUP BY event_type
""",
    doc="JSON extraction on events.props (semi-structured metadata, interfaces/provider.go:16 analog).",
)
def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    # get_json_object is NULL-on-malformed; try_cast is NULL on a
    # non-numeric k. The oracle mirrors both (json_valid guard +
    # TRY_CAST) — DuckDB's json_extract_string RAISES on malformed
    # input, and a metadata column at corpus scale always carries some
    # garbage rows; extraction must degrade per-row, not kill the job.
    # spread(): the JSON parse is the per-row wall and the events parquet
    # arrives in ONE split locally (12 MB compressed at sf1), so the
    # whole 1M-row Jackson pass ran on one core. Keyed on the natural
    # unique key (fine-grained input — the r11 spread rule). Measured at
    # sf1: 2.35 → 0.82 s. No-op at real scale (scan yields >= cores
    # splits).
    from cloud_data_sync_spark.tables import spread

    ev = spread(load_table(spark, sf_dir, "events"), "event_id").withColumn(
        "k", F.get_json_object("props", "$.k").try_cast("long")
    )
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("k").alias("sum_k"),
        F.max("k").alias("max_k"),
    )


@register(
    "q_array_map_funcs",
    oracle="""
SELECT vec_id,
       CAST(len(embedding) AS BIGINT) AS dim,
       round(CAST(embedding[1] AS DOUBLE), 6) AS first_elem,
       round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 4) AS vec_sum,
       round(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm,
       CAST(label AS BIGINT) AS label
FROM embeddings WHERE vec_id % 5 = 0
""",
    doc="Array higher-order functions over embeddings (size/element_at/transform/aggregate).",
)
def q_array_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    vec_sum = F.aggregate(as_double, F.lit(0.0), lambda acc, x: acc + x)
    sq_sum = F.aggregate(as_double, F.lit(0.0), lambda acc, x: acc + x * x)
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(F.element_at(as_double, 1), 6).alias("first_elem"),
        F.round(vec_sum, 4).alias("vec_sum"),
        F.round(F.sqrt(sq_sum), 4).alias("l2_norm"),
        F.col("label").cast("long").alias("label"),
    )


# -- upsert as a deterministic query (database.go:346-364 rewrite) -----------


@register(
    "q_upsert_state",
    oracle="""
WITH old AS (
  SELECT o_orderkey AS k, md5(CAST(o_orderkey AS VARCHAR)) AS etag,
         o_orderdate AS last_synced, 'success' AS sync_status
  FROM orders
),
updates AS (
  SELECT o_orderkey AS k, md5(CAST(o_orderkey AS VARCHAR) || '_v2') AS etag,
         o_orderdate + INTERVAL 1 DAY AS last_synced, 'success' AS sync_status
  FROM orders WHERE o_orderkey % 4 = 0
),
merged AS (
  SELECT *, row_number() OVER (PARTITION BY k
            ORDER BY last_synced DESC, etag) AS rn
  FROM (SELECT * FROM updates UNION ALL SELECT * FROM old)
)
SELECT k, etag, last_synced, sync_status FROM merged WHERE rn = 1
""",
    doc="Latest-wins upsert rewrite of INSERT..ON CONFLICT DO UPDATE (database.go:346-364): union + window-dedup.",
)
def q_upsert_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(): the md5 etag projection and the map-side
    # WindowGroupLimit sort both run before the key exchange, on the
    # 1-split local orders scan. Keyed; no-op at real scale.
    from cloud_data_sync_spark.tables import spread

    orders = spread(load_table(spark, sf_dir, "orders"), "o_orderkey")
    k = F.col("o_orderkey")
    old = orders.select(
        k.alias("k"),
        F.md5(k.cast("string")).alias("etag"),
        F.col("o_orderdate").alias("last_synced"),
        F.lit("success").alias("sync_status"),
    )
    updates = orders.filter(k % 4 == 0).select(
        k.alias("k"),
        F.md5(F.concat(k.cast("string"), F.lit("_v2"))).alias("etag"),
        (F.col("o_orderdate") + F.expr("INTERVAL 1 DAY")).alias("last_synced"),
        F.lit("success").alias("sync_status"),
    )
    w = Window.partitionBy("k").orderBy(F.desc("last_synced"), F.asc("etag"))
    return (
        updates.unionByName(old)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "q_join_asof",
    oracle="""
WITH tagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p,
         CASE WHEN event_type = 'click' THEN event_id END AS c_id,
         CASE WHEN event_type = 'click' THEN ts END AS c_ts
  FROM events WHERE event_type IN ('click', 'purchase')
),
attributed AS (
  SELECT event_id, user_id, ts, is_p,
         last_value(c_id IGNORE NULLS) OVER w AS click_id,
         last_value(c_ts IGNORE NULLS) OVER w AS click_ts
  FROM tagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, is_p, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id AS purchase_id, user_id, ts AS purchase_ts, click_id, click_ts
FROM attributed WHERE is_p = 1
""",
    doc=(
        "As-of join (attribution): each purchase matched to the user's most "
        "recent click at-or-before it. Implemented as the scale-safe "
        "union-and-sweep: tag both sides, one shuffle on user_id, running "
        "last_value(ignore nulls) — never a per-row range probe or a "
        "time-banded join explosion. Ties: clicks sort before purchases at "
        "the same instant; equal-time clicks resolve to the larger event_id."
    ),
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    return asof_attribute(load_table(spark, sf_dir, "events"))


def asof_attribute(ev: DataFrame) -> DataFrame:
    """Union-and-sweep as-of join over an events frame (see q_join_asof)."""
    tagged = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "ts",
        "event_id",
        (F.col("event_type") == "purchase").cast("int").alias("is_p"),
        F.when(F.col("event_type") == "click", F.col("event_id")).alias("c_id"),
        F.when(F.col("event_type") == "click", F.col("ts")).alias("c_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_p", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        tagged.withColumn("click_id", F.last("c_id", ignorenulls=True).over(w))
        .withColumn("click_ts", F.last("c_ts", ignorenulls=True).over(w))
        .filter(F.col("is_p") == 1)
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "click_id",
            "click_ts",
        )
    )


@register(
    "q_join_asof_tolerance",
    oracle="""
WITH tagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p,
         CASE WHEN event_type = 'click' THEN event_id END AS c_id,
         CASE WHEN event_type = 'click' THEN ts END AS c_ts
  FROM events WHERE event_type IN ('click', 'purchase')
),
attributed AS (
  SELECT event_id, user_id, ts, is_p,
         last_value(c_id IGNORE NULLS) OVER w AS click_id,
         last_value(c_ts IGNORE NULLS) OVER w AS click_ts
  FROM tagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, is_p, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
       CASE WHEN click_ts >= ts - INTERVAL 1 HOUR THEN click_id END
         AS click_id,
       CASE WHEN click_ts >= ts - INTERVAL 1 HOUR THEN click_ts END
         AS click_ts,
       (click_ts IS NOT NULL AND click_ts >= ts - INTERVAL 1 HOUR)
         AS attributed
FROM attributed WHERE is_p = 1
""",
    doc=(
        "As-of join with a match tolerance (the attribution-window form "
        "every ads/analytics pipeline actually runs): a purchase only "
        "attributes to a click within the trailing hour — older matches "
        "null out rather than attach stale context. Same union-and-sweep "
        "plan as q_join_asof (ONE user_id shuffle, running "
        "last_value-ignore-nulls, never a range-probe join); the "
        "tolerance is a map-side CASE after the sweep, so the bound "
        "costs zero extra exchanges at any scale."
    ),
)
def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    swept = asof_attribute(load_table(spark, sf_dir, "events"))
    fresh = F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")
    return swept.select(
        "purchase_id",
        "user_id",
        "purchase_ts",
        F.when(fresh, F.col("click_id")).alias("click_id"),
        F.when(fresh, F.col("click_ts")).alias("click_ts"),
        (F.col("click_ts").isNotNull() & fresh).alias("attributed"),
    )


@register(
    "q_pivot",
    oracle="""
SELECT l_returnflag,
       round(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'), 2) AS qty_F,
       round(sum(l_quantity) FILTER (WHERE l_linestatus = 'O'), 2) AS qty_O,
       CAST(count(*) FILTER (WHERE l_linestatus = 'F') AS BIGINT) AS n_F,
       CAST(count(*) FILTER (WHERE l_linestatus = 'O') AS BIGINT) AS n_O
FROM lineitem GROUP BY l_returnflag
""",
    doc=(
        "Pivot (wide aggregation): status columns from row values. Explicit "
        "pivot values keep it one pass — no values-discovery job, and the "
        "agg is still a partial-combine hash aggregate (map-side partials, "
        "one shuffle of 2x2 cells per group)."
    ),
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    # coalesce the COUNT cells: Spark's pivot leaves an absent
    # (group, pivot-value) cell NULL even for count aggregates, while
    # count(*) FILTER semantics (the oracle, and SQL) say 0 — a count of
    # nothing is zero. The sum cells stay NULL (sum over no rows IS
    # NULL on both engines).
    return out.select(
        "l_returnflag",
        F.col("F_qty").alias("qty_F"),
        F.col("O_qty").alias("qty_O"),
        F.coalesce(F.col("F_n"), F.lit(0)).alias("n_F"),
        F.coalesce(F.col("O_n"), F.lit(0)).alias("n_O"),
    )


def _ranked_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem prices ranked per l_returnflag (0-based) with the group
    count attached via the same partition window — THE distributed
    exact-percentile substrate
    shared by q_agg_percentiles and q_agg_approx_quantiles' exact branch,
    materialized once per (session, lineitem vintage) so the second
    consumer scans the ranked rows instead of re-paying the sort shuffle.

    Spark's percentile() holds a per-group value map in executor memory —
    fine for small groups, a straight OOM at 100 TB group sizes. Ranking
    is one sort shuffle (spillable); the per-group counts are tiny.
    """
    def _build() -> DataFrame:
        # NULL prices are excluded up front: quantile_cont/percentile
        # ignore NULLs on both engines, so a NULL must not consume a
        # rank slot. The group size rides the SAME partition window as
        # the rank (one exchange) instead of an equi-join on
        # l_returnflag — the join silently dropped the NULL-returnflag
        # GROUP (NULL never equi-matches; adversarial fact probe, r10).
        li = (
            load_table(spark, sf_dir, "lineitem")
            .select("l_returnflag", "l_extendedprice")
            .filter(F.col("l_extendedprice").isNotNull())
        )
        w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
        return li.withColumn("rn", F.row_number().over(w) - 1).withColumn(
            "n", F.count("*").over(Window.partitionBy("l_returnflag"))
        )

    return session_substrate(
        spark, sf_dir, "ranked-prices", "lineitem", _build
    )


def _interp(p: float) -> Column:
    """Linear-interpolated exact percentile over _ranked_prices rows as a
    plain codegen'd aggregation: each row contributes weight (1-frac) at
    floor(h) and frac at ceil(h), h = p*(n-1) — quantile_cont semantics."""
    h = F.lit(p) * (F.col("n") - 1)
    lo, hi = F.floor(h), F.ceil(h)
    frac = h - lo
    contrib = F.when(
        F.col("rn") == lo, F.col("l_extendedprice") * (1 - frac)
    ).otherwise(0.0) + F.when(
        F.col("rn") == hi, F.col("l_extendedprice") * frac
    ).otherwise(0.0)
    return F.sum(contrib)



@register(
    "q_agg_percentiles",
    oracle="""
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
       round(max(l_extendedprice), 2) AS p_max
FROM lineitem GROUP BY l_returnflag
""",
    doc=(
        "Exact interpolated percentiles per group (Spark percentile() == "
        "DuckDB quantile_cont: both linear-interpolate at p*(n-1)). The "
        "exact form sorts each group's values; the sketch path for true "
        "100 TB percentiles is approx_percentile (t-digest, fixed-size "
        "mergeable state) — kept exact here so the oracle can hash-match."
    ),
)
def q_agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles as a distributed sort, not a buffering aggregate
    (see _ranked_prices). Measured ~4× faster at sf0.1 too."""
    return _ranked_prices(spark, sf_dir).groupBy("l_returnflag").agg(
        F.round(_interp(0.25), 4).alias("p25"),
        F.round(_interp(0.5), 4).alias("p50"),
        F.round(_interp(0.9), 4).alias("p90"),
        F.round(F.max("l_extendedprice"), 2).alias("p_max"),
    )


@register(
    "q_join_skew_salted",
    oracle="""
SELECT e.event_id, e.user_id, c.c_name, round(e.value, 2) AS value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
""",
    doc=(
        "Skew-mitigated equi-join: the hot fact keys are salted "
        "(deterministic hash of the row id mod 8) and the dimension side is "
        "replicated once per salt, so a single hot key spreads across 8 "
        "shuffle partitions instead of one straggler task. The join result "
        "is provably identical to the unsalted join — the oracle IS the "
        "plain join. (With AQE skew-join this is automatic; explicit "
        "salting is the portable form and composes with bucketing.)"
    ),
)
def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_salt = 8
    ev = load_table(spark, sf_dir, "events").withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(n_salt)).cast("int")
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name")
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))))
    )
    # hint("merge") pins a sort-merge join: at test scale the dimension
    # would auto-broadcast, and a broadcast join has no skew to mitigate —
    # the demo is the salted SHUFFLE.
    return (
        ev.join(cust.hint("merge"), (ev.user_id == cust.c_custkey) & (ev.salt == cust.salt))
        .select("event_id", "user_id", "c_name", F.round("value", 2).alias("value"))
    )


@register(
    "q_map_funcs",
    oracle="""
SELECT event_id,
       CAST(len(json_keys(props)) AS BIGINT) AS n_keys,
       json_keys(props)[1] AS first_key,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
       CAST(json_extract_string(props, '$.k') AS BIGINT) * 2 AS k_doubled
FROM events WHERE event_id % 100 = 0
""",
    doc=(
        "Map-type functions: JSON props parsed to map<string,bigint> "
        "(from_json), then map_keys / element access / transform_values — "
        "the dynamic-metadata shape of the reference's ObjectInfo.Metadata "
        "map (interfaces/provider.go:16). Pure map-side projection."
    ),
)
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 100 == 0)
    m = F.from_json("props", "map<string,bigint>")
    doubled = F.transform_values(m, lambda _, v: v * 2)
    return ev.select(
        "event_id",
        F.size(m).cast("long").alias("n_keys"),
        F.get(F.map_keys(m), 0).alias("first_key"),
        F.element_at(m, "k").alias("k_val"),
        F.element_at(doubled, "k").alias("k_doubled"),
    )


@register(
    "q_window_analytics",
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       floor(percent_rank() OVER w * 1000000) / 1000000 AS pct_rank,
       floor(cume_dist() OVER w * 1000000) / 1000000 AS cume,
       round(coalesce(lead(o_totalprice) OVER w, 0.0), 2) AS next_price
FROM orders
WHERE o_custkey % 10 = 0
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
""",
    doc=(
        "Analytic-function breadth: ntile / percent_rank / cume_dist / "
        "lead over one per-customer window (single shuffle, one sort "
        "serving all four functions)."
    ),
)
def q_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 10 == 0)
        .select(
            "o_custkey",
            "o_orderkey",
            F.ntile(4).over(w).cast("long").alias("quartile"),
            # floor-truncated, not round(): rank ratios are dyadic (see
            # registry.floor_ratio / the q_window_distribution fix)
            floor_ratio(F.percent_rank().over(w), 6).alias("pct_rank"),
            floor_ratio(F.cume_dist().over(w), 6).alias("cume"),
            F.round(F.coalesce(F.lead("o_totalprice").over(w), F.lit(0.0)), 2).alias(
                "next_price"
            ),
        )
    )


@register(
    "q_string_funcs",
    oracle="""
SELECT c_custkey, c_name,
       regexp_extract(c_name, '[0-9]+$', 0) AS name_num,
       CAST(levenshtein(c_name, 'Customer#000000001') AS BIGINT) AS edit_dist,
       regexp_replace(c_name, '0+', '0', 'g') AS squeezed,
       CAST(length(c_name) AS BIGINT) AS name_len,
       upper(substr(c_name, 1, 8)) AS prefix_up
FROM customer WHERE c_custkey % 25 = 0
""",
    doc=(
        "String-function breadth: regexp_extract / regexp_replace / "
        "levenshtein / substring / case mapping — all codegen'd map-side."
    ),
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 25 == 0)
        .select(
            "c_custkey",
            "c_name",
            F.regexp_extract("c_name", r"[0-9]+$", 0).alias("name_num"),
            F.levenshtein("c_name", F.lit("Customer#000000001"))
            .cast("long")
            .alias("edit_dist"),
            F.regexp_replace("c_name", "0+", "0").alias("squeezed"),
            F.length("c_name").cast("long").alias("name_len"),
            F.upper(F.substring("c_name", 1, 8)).alias("prefix_up"),
        )
    )


@register(
    "q_sample_hash",
    oracle="""
SELECT doc_id, lang,
       CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER)
            AS BIGINT) AS bucket16
FROM documents
WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) < 6554
""",
    doc=(
        "Deterministic ~10% sample by key hash (md5 prefix < threshold): "
        "reproducible on any engine and any run — the sampling primitive a "
        "training-data pipeline needs (TABLESAMPLE / rand() are neither "
        "portable nor stable). Map-only, no shuffle."
    ),
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
        "long"
    )
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", bucket.alias("bucket16"))
        .filter(F.col("bucket16") < 6554)
    )


# -- round-2 breadth: grouping sets, range join, stats aggs, histogram -------


@register(
    "q_grouping_sets",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
""",
    doc=(
        "Explicit GROUPING SETS (finer than rollup/cube: an arbitrary "
        "subset lattice) + grouping_id disambiguation of NULL-as-group vs "
        "NULL-as-aggregate. One Expand + one hash aggregate — the same "
        "single-shuffle shape as a plain groupBy."
    ),
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # The global () set is computed as an EXPLICIT ungrouped aggregate
    # and unioned in, not passed to groupingSets: SQL semantics (and
    # DuckDB/Postgres) emit the grand-total row even over EMPTY input —
    # a global aggregate always yields one row — but Spark expands
    # grouping sets into Expand + one hash aggregate keyed on
    # (cols, gid), and a KEYED aggregate over empty input emits nothing,
    # silently losing the () row (empty-input probe, r9). The union
    # restores standard semantics on both empty and non-empty input;
    # gid=3 is GROUPING(l_returnflag, l_linestatus) for the global set.
    # One fact scan total (r10 advice — the r9 form re-scanned
    # lineitem for the () row): fine-grained (a, b) partial aggregates
    # are computed once, and both the grouping-set lattice and the
    # grand total re-aggregate those KB-scale partials (count/sum are
    # algebraic). Raw sums stay unrounded until the final projection.
    p = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("_raw_qty"), F.count("*").alias("_n")
    )
    sets = (
        p.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"]],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.sum("_n").cast("long").alias("n"),
            F.round(F.sum("_raw_qty"), 2).alias("sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n", "sum_qty")
    )
    total = p.agg(
        F.lit(None).cast("string").alias("l_returnflag"),
        F.lit(None).cast("string").alias("l_linestatus"),
        F.lit(3).cast("long").alias("gid"),
        F.coalesce(F.sum("_n"), F.lit(0)).cast("long").alias("n"),
        F.round(F.sum("_raw_qty"), 2).alias("sum_qty"),
    )
    return sets.unionByName(total)


def _interval_events(ev: DataFrame, mod: int, id_alias: str) -> DataFrame:
    """[start, end) intervals from a deterministic event subset: start = ts,
    end = ts + `value` minutes (integer-micros arithmetic — CAST+floor keeps
    Spark and DuckDB identical; DuckDB CAST rounds while Spark CAST
    truncates, so the floor is explicit)."""
    # ts arrives as timestamp_ntz (current testdata vintage); unix_micros
    # wants ltz TIMESTAMP. The cast is value-preserving: load_table pins the
    # session timezone to UTC, so the naive wall time IS the epoch instant.
    start_us = F.unix_micros(F.col("ts").cast("timestamp"))
    dur_us = F.floor(F.col("value") * 60_000_000).cast("long")
    return ev.filter(F.col("event_id") % mod == 0).select(
        F.col("event_id").alias(f"{id_alias}_id"),
        start_us.alias(f"{id_alias}_s"),
        (start_us + dur_us).alias(f"{id_alias}_e"),
    )


_HOUR_US = 3_600_000_000


@register(
    "q_join_range",
    oracle="""
WITH a AS (
  SELECT event_id AS a_id, epoch_us(ts) AS a_s,
         epoch_us(ts) + CAST(floor(value * 60000000) AS BIGINT) AS a_e
  FROM events WHERE event_id % 23 = 0
),
b AS (
  SELECT event_id AS b_id, epoch_us(ts) AS b_s,
         epoch_us(ts) + CAST(floor(value * 60000000) AS BIGINT) AS b_e
  FROM events WHERE event_id % 29 = 0
)
SELECT a_id, b_id,
       (least(a_e, b_e) - greatest(a_s, b_s)) // 1000000 AS overlap_sec
FROM a JOIN b ON a_s < b_e AND b_s < a_e
""",
    doc=(
        "Interval-overlap range join. A naive theta-join (a.start < b.end "
        "AND b.start < a.end) is a broadcast-nested-loop — quadratic and "
        "un-shardable at 100 TB. Instead each interval explodes into the "
        "hour buckets it covers (bounded: durations <= ~8 h => <= 10 "
        "buckets), the join is an EQUI-join on bucket (hash-partitionable, "
        "AQE-skew-splittable), the exact predicate refines, and distinct "
        "collapses pairs that share several buckets. This is the standard "
        "bin-and-refine range-join strategy (cf. Spark's RANGE_JOIN hint on "
        "Databricks — absent in OSS, hence composed here)."
    ),
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    a = _interval_events(ev, 23, "a")
    b = _interval_events(ev, 29, "b")

    def bucketed(df: DataFrame, p: str) -> DataFrame:
        return df.withColumn(
            "bucket",
            F.explode(
                F.sequence(
                    (F.col(f"{p}_s") / _HOUR_US).cast("long"),
                    (F.col(f"{p}_e") / _HOUR_US).cast("long"),
                )
            ),
        )

    joined = bucketed(a, "a").join(bucketed(b, "b"), "bucket")
    # r12: each overlapping pair is emitted EXACTLY once — by keeping only
    # the bucket containing the overlap's start hour,
    # floor(max(a_s, b_s) / HOUR) — instead of emitting the pair from
    # every shared bucket and collapsing with distinct(). The overlap
    # start lies in both intervals (max start <= min end for an
    # overlapping pair), so that bucket is always in the join's bucket
    # intersection: no pair is lost, none duplicates. This removes the
    # distinct's Exchange + two HashAggregates over the OUTPUT pair set —
    # the only shuffle in the plan, and the one piece that scales with
    # output cardinality rather than input (guide §2.4: remove shuffles
    # outright; 2.94 s at sf1 where the vintage's fixed time span makes
    # output grow quadratically). Result set is identical: (a_id, b_id)
    # pairs are unique, overlap_sec is a function of the pair.
    return (
        joined.filter(
            (F.col("a_s") < F.col("b_e"))
            & (F.col("b_s") < F.col("a_e"))
            & (
                F.col("bucket")
                == (F.greatest("a_s", "b_s") / _HOUR_US).cast("long")
            )
        )
        .select(
            "a_id",
            "b_id",
            (
                (F.least("a_e", "b_e") - F.greatest("a_s", "b_s"))
                / F.lit(1_000_000)
            )
            .cast("long")
            .alias("overlap_sec"),
        )
    )


@register(
    "q_agg_stats",
    oracle="""
SELECT l_linestatus,
       round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
       round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qp,
       round(stddev_samp(l_extendedprice), 4) AS sd_price,
       round(var_samp(l_quantity), 6) AS var_qty,
       round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 2) AS intercept
FROM lineitem
GROUP BY l_linestatus
""",
    doc=(
        "Statistical aggregate family: corr / covar / stddev / variance / "
        "linear-regression slope+intercept per group. All are single-pass "
        "co-moment sketches (constant state per group, map-side partial "
        "merge) — the cheap way to profile feature columns at corpus scale."
    ),
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qp"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("covar_qp"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 2).alias(
            "intercept"
        ),
    )


@register(
    "q_histogram",
    oracle="""
SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bin,
       CAST(CAST(floor(o_totalprice / 25000.0) AS BIGINT) * 25000 AS BIGINT)
         AS bin_lo,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(o_totalprice), 4) AS avg_price
FROM orders
GROUP BY 1, 2
""",
    doc=(
        "Fixed-width histogram (width_bucket equivalent): map-only bin "
        "assignment + hash aggregate with map-side combine — the profile "
        "primitive that costs one scan regardless of data size."
    ),
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bin_col = F.floor(F.col("o_totalprice") / 25000.0).cast("long")
    return (
        o.select(bin_col.alias("bin"), "o_totalprice")
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
        .select(
            "bin",
            (F.col("bin") * 25000).cast("long").alias("bin_lo"),
            "n",
            "avg_price",
        )
    )


@register(
    "q_anomaly_zscore",
    oracle="""
WITH stats AS (
  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, round(e.value, 2) AS value,
       round((e.value - s.mu) / s.sd, 4) AS z
FROM events e JOIN stats s USING (event_type)
WHERE abs(round((e.value - s.mu) / s.sd, 4)) > 2.5
""",
    doc=(
        "Per-group z-score outlier detection: one aggregate pass computes "
        "per-type co-moments (map-side combine), the tiny stats table "
        "broadcast-joins back onto the stream of rows, and the filter is "
        "map-side — the standard two-pass data-quality screen that costs "
        "two scans and zero wide shuffles at any corpus size."
    ),
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        ev.join(F.broadcast(stats), "event_type")
        # threshold the ROUNDED z both engines emit: mu/sd accumulate in
        # different orders, so a raw |z| > 2.5 could keep an ulp-boundary
        # row on one engine only
        .filter(F.abs(F.round(z, 4)) > 2.5)
        .select(
            "event_id",
            "event_type",
            F.round("value", 2).alias("value"),
            F.round(z, 4).alias("z"),
        )
    )


@register(
    "q_integrity_audit",
    oracle="""
SELECT 'orders->customer' AS relationship,
       CAST(count(*) AS BIGINT) AS n_orphans
FROM orders o WHERE NOT EXISTS
  (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'lineitem->orders',
       CAST(count(*) AS BIGINT)
FROM lineitem l WHERE NOT EXISTS
  (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'lineitem->part',
       CAST(count(*) AS BIGINT)
FROM lineitem l WHERE NOT EXISTS
  (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
""",
    doc=(
        "Referential-integrity audit: orphan counts across three foreign-"
        "key relationships in one result — the pre-ingest data-quality "
        "gate. Each check is a left-anti join against a broadcast key set "
        "(dims' keys are small even when dims aren't; only the key column "
        "ships), so the fact tables stream through map-side."
    ),
)
def q_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")

    def orphans(fact: DataFrame, dim: DataFrame, fk: str, pk: str, name: str) -> DataFrame:
        return (
            fact.join(F.broadcast(dim.select(pk)), fact[fk] == dim[pk], "left_anti")
            .agg(F.count("*").alias("n_orphans"))
            .select(F.lit(name).alias("relationship"), "n_orphans")
        )

    return (
        orphans(orders, customer, "o_custkey", "c_custkey", "orders->customer")
        .unionByName(orphans(lineitem, orders, "l_orderkey", "o_orderkey", "lineitem->orders"))
        .unionByName(orphans(lineitem, part, "l_partkey", "p_partkey", "lineitem->part"))
    )


@register(
    "q_unpivot",
    oracle="""
WITH a AS (
  SELECT l_returnflag,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_price,
         CAST(count(*) AS DOUBLE) AS n_rows
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM a
UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM a
UNION ALL SELECT l_returnflag, 'n_rows', n_rows FROM a
""",
    doc=(
        "Unpivot (wide -> long), the q_pivot inverse: per-flag measures "
        "melt into (measure, value) rows. Spark compiles unpivot to a "
        "single Expand over the 3-row aggregate — the input is scanned "
        "once and the melt itself is map-only, so at scale the cost is the "
        "one aggregation shuffle, not the reshape."
    ),
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).cast("double").alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).cast("double").alias("sum_price"),
        F.count("*").cast("double").alias("n_rows"),
    )
    return agg.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "n_rows"], "measure", "value"
    )


@register(
    "q_funnel",
    oracle="""
WITH u AS (
  SELECT user_id,
         min(ts) FILTER (WHERE event_type = 'view') AS t_view,
         min(ts) FILTER (WHERE event_type = 'click') AS t_click,
         min(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
  FROM events GROUP BY user_id
),
c AS (
  SELECT CAST(count(t_view) AS BIGINT) AS viewed,
         CAST(count(*) FILTER (WHERE t_view < t_click) AS BIGINT)
           AS clicked_after_view,
         CAST(count(*) FILTER (WHERE t_view < t_click
                               AND t_click < t_purchase) AS BIGINT)
           AS purchased_after_click
  FROM u
)
SELECT 'viewed' AS stage, viewed AS n_users FROM c
UNION ALL SELECT 'clicked_after_view', clicked_after_view FROM c
UNION ALL SELECT 'purchased_after_click', purchased_after_click FROM c
""",
    doc=(
        "Conversion funnel over the events stream: per-user first-touch "
        "times for view/click/purchase via conditional min aggregates "
        "(ONE shuffle keyed on user_id, map-side partials carry three "
        "timestamps per user), then strict event-time ordering decides "
        "stage completion and a 1-row global aggregate melts into stage "
        "rows. No self-joins — the classic 3-way event-sequence join "
        "collapses into conditional aggregation."
    ),
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def first_touch(kind: str):
        return F.min(F.when(F.col("event_type") == kind, F.col("ts"))).alias(
            f"t_{kind}"
        )

    per_user = ev.groupBy("user_id").agg(
        first_touch("view"), first_touch("click"), first_touch("purchase")
    )
    # coalesce(sum, 0): over ZERO users Spark's sum is NULL while the
    # oracle's count(*) FILTER is 0 — a stage count over empty input is
    # zero, not unknown (empty-input probe, r9)
    counts = per_user.agg(
        F.count("t_view").alias("viewed"),
        F.coalesce(
            F.sum(
                F.when(F.col("t_view") < F.col("t_click"), 1).otherwise(0)
            ),
            F.lit(0),
        ).cast("long").alias("clicked_after_view"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("t_view") < F.col("t_click"))
                    & (F.col("t_click") < F.col("t_purchase")),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        ).cast("long").alias("purchased_after_click"),
    )
    return counts.unpivot(
        [], ["viewed", "clicked_after_view", "purchased_after_click"], "stage", "n_users"
    )


@register(
    "q_retention",
    oracle="""
WITH first AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id
)
SELECT f.cohort_week,
       date_diff('day', f.cohort_week,
                 CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS week_n,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM events e JOIN first f USING (user_id)
GROUP BY 1, 2
""",
    doc=(
        "Cohort retention matrix: users grouped by first-seen week, "
        "activity counted per (cohort, weeks-since) cell. First-touch is "
        "one user_id-keyed aggregate; the join back is keyed on the same "
        "user_id so AQE reuses the co-partitioning (broadcast when the "
        "user dimension fits); the distinct count shuffles (cohort, week) "
        "cells, not events. No windows over the full event stream."
    ),
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    wk = F.to_date(F.date_trunc("week", F.col("ts")))
    return (
        ev.join(first, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(wk, F.col("cohort_week")) / 7).cast("long").alias("week_n"),
        )
        .agg(F.count_distinct("user_id").cast("long").alias("n_users"))
    )


@register(
    "q_agg_approx_quantiles",
    oracle="""
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact,
       TRUE AS within_tolerance
FROM lineitem GROUP BY l_returnflag
""",
    doc=(
        "Quantile sketch, oracle-checkable (the q_agg_approx_distinct "
        "pattern): approx_percentile's mergeable fixed-memory sketch is "
        "the 100 TB path — exact percentiles sort each group — so both "
        "run and the deterministic claim |approx-exact|/exact <= 1% is "
        "what the oracle hashes (rank error at accuracy=10000 is orders "
        "of magnitude inside that bound). The exact branch stays for "
        "value comparison; at scale you'd drop it and keep the sketch."
    ),
)
def q_agg_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact branch rides the shared distributed-rank substrate instead of
    # the buffering percentile() aggregate (2.2s -> ~1.3s at sf0.1, and
    # the 100 TB story stops depending on per-group value maps); the
    # sketch aggregates over the same ranked rows — identical values,
    # one pipeline.
    agg = _ranked_prices(spark, sf_dir).groupBy("l_returnflag").agg(
        _interp(0.5).alias("exact"),
        F.approx_percentile(
            "l_extendedprice", F.lit(0.5), F.lit(10000)
        ).alias("approx"),
    )
    return agg.select(
        "l_returnflag",
        F.round("exact", 4).alias("p50_exact"),
        (
            F.abs(F.col("approx") - F.col("exact")) / F.abs(F.col("exact"))
            <= 0.01
        ).alias("within_tolerance"),
    )


@register(
    "q_percentiles_adaptive",
    oracle="""
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
       'exact' AS mode
FROM lineitem GROUP BY l_returnflag
""",
    doc=(
        "SF-adaptive exact->sketch percentile swap: the builder reads the "
        "table's parquet FOOTER row count (no scan) and picks the branch — "
        "exact interpolated percentiles over the distributed rank substrate "
        "below 2M rows, approx_percentile's fixed-state mergeable t-digest-"
        "style sketch above. Both SFs the gates run sit below the cutoff, "
        "so the oracle hash-certifies the exact branch and hard-codes "
        "mode='exact'; the sketch branch is certified by the tolerance "
        "audit q_agg_approx_quantiles carries over the same sketch+column, "
        "plus a forced-sketch unit test (<=1% of exact). This is the "
        "production policy for percentiles at 100 TB: exact sorting is fine "
        "while a group's values fit one spillable sort, and past that the "
        "sketch's bounded state is the only shape that doesn't O(n log n) "
        "the cluster — the swap point rides the data, not the code."
    ),
)
def q_percentiles_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from cloud_data_sync_spark.tables import table_num_rows

    cutoff = int(_os.environ.get("SPARK_GRAFT_ADAPTIVE_EXACT_ROWS", 2_000_000))
    if table_num_rows(sf_dir, "lineitem") <= cutoff:
        return _ranked_prices(spark, sf_dir).groupBy("l_returnflag").agg(
            F.round(_interp(0.5), 4).alias("p50"),
            F.round(_interp(0.9), 4).alias("p90"),
        ).select("l_returnflag", "p50", "p90", F.lit("exact").alias("mode"))
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_extendedprice")
        .filter(F.col("l_extendedprice").isNotNull())
    )
    agg = li.groupBy("l_returnflag").agg(
        F.approx_percentile(
            "l_extendedprice", F.array(F.lit(0.5), F.lit(0.9)), F.lit(10000)
        ).alias("ap")
    )
    return agg.select(
        "l_returnflag",
        F.round(F.col("ap")[0], 4).alias("p50"),
        F.round(F.col("ap")[1], 4).alias("p90"),
        F.lit("sketch").alias("mode"),
    )


@register(
    "q_window_distribution",
    oracle="""
SELECT c_custkey,
       CAST(c_nationkey AS INTEGER) AS c_nationkey,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       floor(percent_rank() OVER w * 1000000) / 1000000 AS pr,
       floor(cume_dist() OVER w * 1000000) / 1000000 AS cd
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
""",
    doc=(
        "Distribution window functions (ntile / percent_rank / cume_dist) "
        "per nation — the quantile-bucketing shape behind per-segment "
        "score normalization. One shuffle on the partition key; the "
        "c_custkey tiebreak makes every rank deterministic under ties. "
        "Low-cardinality caveat: a window key with few distinct values "
        "sorts each group in ONE task; when a single group outgrows a "
        "task, swap to the rank-aggregation formulation q_agg_percentiles "
        "uses (row_number + broadcast counts) — same results, spillable "
        "distributed sort."
    ),
)
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        # floor-truncate instead of round: rank ratios like 41/640 land on
        # EXACT decimal halves, where Spark rounds half-up and DuckDB
        # half-even; floor is rounding-mode-free and both engines compute
        # bit-identical IEEE doubles for k/n * 1e6 (caught at sf0.1).
        (F.floor(F.percent_rank().over(w) * 1000000) / 1000000).alias("pr"),
        (F.floor(F.cume_dist().over(w) * 1000000) / 1000000).alias("cd"),
    )


@register(
    "q_gaps_islands",
    oracle="""
WITH iv AS (
  SELECT user_id, event_id, epoch_us(ts) AS s,
         epoch_us(ts) + TRY_CAST(floor(value * 60000000) AS BIGINT) AS e
  FROM events WHERE event_id % 7 = 0
),
marked AS (
  SELECT user_id, event_id, s, e,
         CASE WHEN s > coalesce(max(e) OVER (
                PARTITION BY user_id ORDER BY s, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_island
  FROM iv
),
lab AS (
  SELECT user_id, s, e,
         CAST(sum(new_island) OVER (
                PARTITION BY user_id ORDER BY s, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS island
  FROM marked
)
SELECT user_id, island,
       CAST(min(s) AS BIGINT) AS island_start,
       CAST(max(e) AS BIGINT) AS island_end,
       CAST(count(*) AS BIGINT) AS n_intervals
FROM lab GROUP BY user_id, island
""",
    doc=(
        "Gaps-and-islands: merge overlapping [start, end) intervals per "
        "user into maximal covered spans (validity-window coalescing, "
        "downtime merging). An island opens where an interval's start "
        "clears the running max of all prior ends — two window passes and "
        "a group-by sharing ONE user_id shuffle, no self-joins, no "
        "interval cross products. Interval ends are integer micros; the "
        "running max-end is the standard O(n log n)-per-key form that "
        "survives any corpus size because keys partition independently."
    ),
)
def q_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 7 == 0)
    # ntz → TIMESTAMP hop is value-preserving (session tz pinned to UTC)
    s = F.unix_micros(F.col("ts").cast("timestamp"))
    # try_cast: a corrupt duration (value beyond long-µs range) yields a
    # NULL interval end — the row still anchors an island at its start,
    # max(e) skips the NULL on both engines — instead of an ANSI
    # ARITHMETIC_OVERFLOW killing the whole sessionization job (oracle
    # mirrors with TRY_CAST).
    e = F.try_add(s, F.floor(F.col("value") * 60_000_000).try_cast("long"))
    iv = ev.select("user_id", "event_id", s.alias("s"), e.alias("e"))
    w_order = Window.partitionBy("user_id").orderBy("s", "event_id")
    prior_max_e = F.max("e").over(w_order.rowsBetween(Window.unboundedPreceding, -1))
    marked = iv.withColumn(
        "new_island",
        F.when(F.col("s") > F.coalesce(prior_max_e, F.lit(-1)), 1).otherwise(0),
    )
    lab = marked.withColumn(
        "island",
        F.sum("new_island")
        .over(w_order.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long"),
    )
    return lab.groupBy("user_id", "island").agg(
        F.min("s").alias("island_start"),
        F.max("e").alias("island_end"),
        F.count("*").alias("n_intervals"),
    )


@register(
    "q_tpch_bigorders",
    oracle="""
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       round(o.o_totalprice, 2) AS o_totalprice,
       round(t.sum_qty, 2) AS sum_qty
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN (
  SELECT l_orderkey, sum(l_quantity) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
) t ON t.l_orderkey = o.o_orderkey
""",
    doc=(
        "TPC-H Q18 shape (large-volume orders): aggregate-then-having over "
        "the fact table, joined back to orders and customer. The HAVING "
        "aggregate shrinks lineitem to a tiny qualifying-order set BEFORE "
        "any join — the qualifying side then broadcasts, so the only "
        "full-size shuffle is the one l_orderkey aggregation (map-side "
        "partials first). The orders⋈customer leg only ever sees "
        "qualifying rows."
    ),
)
def q_tpch_bigorders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    qualifying = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(
            F.broadcast(qualifying), orders.o_orderkey == qualifying.l_orderkey
        )
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("sum_qty", 2).alias("sum_qty"),
        )
    )


@register(
    "q_histogram_equidepth",
    oracle="""
WITH b AS (
  SELECT [quantile_cont(o_totalprice, 0.1), quantile_cont(o_totalprice, 0.2),
          quantile_cont(o_totalprice, 0.3), quantile_cont(o_totalprice, 0.4),
          quantile_cont(o_totalprice, 0.5), quantile_cont(o_totalprice, 0.6),
          quantile_cont(o_totalprice, 0.7), quantile_cont(o_totalprice, 0.8),
          quantile_cont(o_totalprice, 0.9)] AS bs
  FROM orders
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM (
  SELECT o_totalprice,
         CAST(len(list_filter(b.bs, x -> x < o_totalprice)) AS BIGINT)
           AS bucket
  FROM orders, b
)
GROUP BY bucket
""",
    doc=(
        "Equi-depth (quantile-bucketed) histogram — the fixed-width twin's "
        "complement for skewed columns. Scale-correct form: NO global "
        "sort and NO unpartitioned window — decile boundaries come from "
        "one aggregation, enter the plan as a broadcast 1-row array, and "
        "bucket assignment is a map-only strict-less-than count against "
        "that array; per-bucket stats are then an ordinary hash agg. At "
        "100 TB the exact percentile boundary pass swaps for "
        "approx_percentile (t-digest, fixed memory) with everything "
        "downstream unchanged. Tie-safety: interpolated boundaries lie "
        "strictly between neighboring data values (or equal a datum "
        "exactly when the rank is integral), so engine-side ulp noise in "
        "the interpolation cannot move a datum across a bucket edge."
    ),
)
def q_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    probs = [i / 10.0 for i in range(1, 10)]
    bounds = o.agg(
        F.percentile("o_totalprice", F.lit(probs)).alias("bs")
    )
    bucket = F.size(
        F.filter("bs", lambda x: x < F.col("o_totalprice"))
    ).cast("long")
    return (
        o.join(F.broadcast(bounds))
        .select("o_totalprice", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@register(
    "q_sample_per_group",
    oracle="""
SELECT c_nationkey, c_custkey, c_name
FROM (
  SELECT c_nationkey, c_custkey, c_name,
         row_number() OVER (
           PARTITION BY c_nationkey
           ORDER BY md5(CAST(c_custkey AS VARCHAR)) NULLS LAST,
                    c_custkey NULLS LAST) AS rn
  FROM customer
) WHERE rn <= 3
""",
    doc=(
        "Deterministic per-group sample: k rows per group ordered by a "
        "portable content hash — the 'show me a few examples per "
        "stratum' primitive for corpus inspection dashboards, "
        "reproducible across runs and engines (unlike rand()-based "
        "sampling). One shuffle on the group key; the rank window sees "
        "each group once and the k-row filter drops everything else "
        "before any downstream operator."
    ),
)
def q_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    # EXPLICIT NULLS LAST on both engines: md5(NULL) is NULL, and the
    # engines' ascending defaults DISAGREE (Spark NULLS FIRST, DuckDB
    # NULLS LAST) — a NULL-keyed row silently stole a sample slot on one
    # engine only (adversarial fact probe, r10)
    w = Window.partitionBy("c_nationkey").orderBy(
        F.md5(F.col("c_custkey").cast("string")).asc_nulls_last(),
        F.col("c_custkey").asc_nulls_last(),
    )
    return (
        cust.select("c_nationkey", "c_custkey", "c_name", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


@register(
    "q_fuzzy_match",
    oracle="""
WITH probes AS (
  SELECT * FROM (VALUES
    ('Customer#000000001'), ('Custmer#000000002'),
    ('Customer#00000003x'), ('Cstomer#0000000444')) p(probe)
)
SELECT p.probe, c.c_name,
       CAST(levenshtein(p.probe, c.c_name) AS BIGINT) AS dist
FROM probes p
JOIN customer c ON levenshtein(p.probe, c.c_name) <= 2
""",
    doc=(
        "Fuzzy (edit-distance) lookup: a small probe set matched against "
        "the corpus at Levenshtein ≤ 2 — entity-resolution's last mile "
        "after blocking. The probe side is bounded by construction, so it "
        "BROADCASTS and the distance predicate evaluates map-side against "
        "the corpus scan (a nested-loop over a handful of probes per row, "
        "linear in the corpus — never corpus×corpus). At scale the "
        "blocking stage (prefix/LSH, see the dedup family) shrinks the "
        "probe set first; the threshold join shape is unchanged."
    ),
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(): 4 levenshtein evaluations per customer row are the wall
    # (BroadcastNestedLoopJoin over the probe set) and the customer
    # parquet is one split locally — the edit-distance pass ran on one
    # core. Keyed on the unique key (r11 rule); no-op at real scale.
    from cloud_data_sync_spark.tables import spread

    cust = spread(load_table(spark, sf_dir, "customer"), "c_custkey")
    probes = cust.sparkSession.createDataFrame(
        [
            ("Customer#000000001",),
            ("Custmer#000000002",),
            ("Customer#00000003x",),
            ("Cstomer#0000000444",),
        ],
        "probe string",
    )
    dist = F.levenshtein("probe", "c_name")
    return (
        cust.join(F.broadcast(probes), dist <= 2)
        .select("probe", "c_name", dist.cast("long").alias("dist"))
    )


@register(
    "q_join_full",
    oracle="""
SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
       c.c_name,
       CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
       c.c_custkey IS NULL AS orphan_order,
       o.o_custkey IS NULL AND c.c_custkey IS NOT NULL AS customer_no_orders
FROM customer c
FULL OUTER JOIN (SELECT * FROM orders WHERE o_totalprice > 100000) o
  ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, o.o_custkey, c.c_name
""",
    doc=(
        "Full outer join — the reconciliation primitive q_sync_diff "
        "composes from left+anti legs, here in its direct form: customers "
        "with no qualifying orders AND qualifying orders with no customer "
        "row both survive, flagged per side. Key-equality full outer "
        "compiles to one sort-merge exchange pair; null-side flags "
        "replace the reference's two-pass membership scans "
        "(sync.go:101-164 + 199-234) with single-pass CASE logic."
    ),
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return (
        cust.join(orders, orders.o_custkey == cust.c_custkey, "full_outer")
        .groupBy("c_custkey", "o_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .select(
            F.coalesce("c_custkey", "o_custkey").alias("custkey"),
            "c_name",
            "n_orders",
            F.col("c_custkey").isNull().alias("orphan_order"),
            (F.col("o_custkey").isNull() & F.col("c_custkey").isNotNull()).alias(
                "customer_no_orders"
            ),
        )
    )


@register(
    "q_agg_mode",
    oracle="""
SELECT l_returnflag, l_quantity AS mode_qty,
       CAST(n AS BIGINT) AS n
FROM (
  SELECT l_returnflag, l_quantity, count(*) AS n,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY count(*) DESC, l_quantity) AS rn
  FROM lineitem GROUP BY l_returnflag, l_quantity
) WHERE rn = 1
""",
    doc=(
        "Deterministic per-group mode (most frequent value, ties broken "
        "by smallest value — engines' native mode() picks ties "
        "arbitrarily, so the explicit argmax formulation is the portable "
        "one): value-frequency hash agg with map-side combine, then a "
        "rank window over the (groups × distinct values) aggregate — "
        "window input is aggregate-sized, never row-sized."
    ),
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(F.count("*").alias("n"))
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("n"), "l_quantity")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_returnflag", F.col("l_quantity").alias("mode_qty"), "n")
    )


@register(
    "q_cdc_apply",
    oracle="""
WITH base AS (
  SELECT o_orderkey AS k, o_totalprice AS price, 'B' AS op, 0 AS seq
  FROM orders
),
updates AS (
  -- additive drift, not multiplicative: *1.1 or /2 mint .005 rounding
  -- ties where the engines' round() rules disagree on doubles
  SELECT o_orderkey, o_totalprice + 1000.0 AS price, 'U' AS op, 1 AS seq
  FROM orders WHERE o_orderkey % 13 = 0
),
deletes AS (
  SELECT o_orderkey, CAST(NULL AS DOUBLE), 'D', 2
  FROM orders WHERE o_orderkey % 50 = 0
),
inserts AS (
  SELECT o_orderkey + 5000000, o_totalprice - 500.0, 'I', 3
  FROM orders WHERE o_orderkey % 37 = 0
),
log AS (
  SELECT * FROM base UNION ALL SELECT * FROM updates
  UNION ALL SELECT * FROM deletes UNION ALL SELECT * FROM inserts
),
resolved AS (
  SELECT k, price, op,
         row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn,
         count(*) OVER (PARTITION BY k) AS n_versions
  FROM log
)
SELECT k AS o_orderkey, round(price, 2) AS price, op AS last_op,
       CAST(n_versions AS BIGINT) AS n_versions
FROM resolved WHERE rn = 1 AND op <> 'D'
""",
    doc=(
        "CDC apply — merge a change log (inserts / updates / deletes with "
        "a sequence order) onto a base table, latest-wins per key: the "
        "generalized form of the engine's state upsert (state.py, "
        "database.go:346-364) and the Delta/Iceberg MERGE INTO shape "
        "rebuilt from primitives. One union (no per-op passes), ONE key "
        "shuffle for the resolving window, delete tombstones filtered "
        "after resolution so a delete-then-reinsert sequence lands "
        "correctly. The change sets here derive deterministically from "
        "orders so both engines build the identical log."
    ),
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    base = o.select(
        k.alias("k"), F.col("o_totalprice").alias("price"),
        F.lit("B").alias("op"), F.lit(0).alias("seq"),
    )
    updates = o.filter(k % 13 == 0).select(
        k.alias("k"), (F.col("o_totalprice") + 1000.0).alias("price"),
        F.lit("U").alias("op"), F.lit(1).alias("seq"),
    )
    deletes = o.filter(k % 50 == 0).select(
        k.alias("k"), F.lit(None).cast("double").alias("price"),
        F.lit("D").alias("op"), F.lit(2).alias("seq"),
    )
    inserts = o.filter(k % 37 == 0).select(
        (k + 5000000).alias("k"), (F.col("o_totalprice") - 500.0).alias("price"),
        F.lit("I").alias("op"), F.lit(3).alias("seq"),
    )
    log = base.unionByName(updates).unionByName(deletes).unionByName(inserts)
    w_key = Window.partitionBy("k")
    w_resolve = w_key.orderBy(F.desc("seq"))
    return (
        log.select(
            "k", "price", "op",
            F.row_number().over(w_resolve).alias("rn"),
            F.count("*").over(w_key).alias("n_versions"),
        )
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            F.col("k").alias("o_orderkey"),
            F.round("price", 2).alias("price"),
            F.col("op").alias("last_op"),
            F.col("n_versions").cast("long").alias("n_versions"),
        )
    )


@register(
    "q_table_checksum",
    oracle="""
WITH o AS (
  SELECT 'orders' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CAST('0x' || substr(md5(
             coalesce(CAST(o_orderkey AS VARCHAR), '') || '|' ||
             coalesce(CAST(o_custkey AS VARCHAR), '') || '|' ||
             coalesce(o_orderstatus, '') || '|' ||
             coalesce(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                           AS VARCHAR), '')
         ), 1, 8) AS BIGINT)) AS BIGINT) AS checksum
  FROM orders
),
c AS (
  SELECT 'customer' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CAST('0x' || substr(md5(
             coalesce(CAST(c_custkey AS VARCHAR), '') || '|' ||
             coalesce(CAST(c_nationkey AS VARCHAR), '') || '|' ||
             coalesce(c_name, '')
         ), 1, 8) AS BIGINT)) AS BIGINT) AS checksum
  FROM customer
)
SELECT * FROM o UNION ALL SELECT * FROM c ORDER BY table_name
""",
    doc=(
        "Order-independent table checksums — the migration-validation "
        "primitive a sync tool needs to certify that a copied table "
        "equals its source WITHOUT moving either copy: each row "
        "canonicalizes to a '|'-joined string (floats in exact integer "
        "cents — a raw double's text form differs between engines), "
        "hashes to an md5 32-bit window, and the per-table SUM of those "
        "hashes is insensitive to row order, partitioning, and engine "
        "(the reference validates copies by per-object size/etag, "
        "sync.go:111-128 — this is the same idea lifted to table "
        "contents). Plan shape: map-only hash projection + ONE "
        "1-row-per-table aggregate, zero shuffles of data rows; two "
        "engines (or two clusters) compare (n_rows, checksum) pairs, "
        "KB of traffic for any table size. A corrupted, duplicated, or "
        "dropped row moves the sum with probability 1 - 2^-32 per "
        "difference."
    ),
)
def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EVERY field is coalesced to '' — including the primary keys: the
    # oracle's `a || '|' || b` NULLifies the whole canon string on a
    # NULL key (the row silently vanished from DuckDB's checksum) while
    # Spark's concat_ws SKIPS null elements (the row hashed with the
    # field omitted) — two different silent behaviors for the same
    # corrupt row (adversarial fact probe, r10). With no NULLs left the
    # two concat forms are identical.
    def row_hash(parts) -> "F.Column":
        canon = F.concat_ws("|", *parts)
        return F.conv(F.substring(F.md5(canon), 1, 8), 16, 10).cast("long")

    orders = load_table(spark, sf_dir, "orders").select(
        row_hash(
            [
                F.coalesce(F.col("o_orderkey").cast("string"), F.lit("")),
                F.coalesce(F.col("o_custkey").cast("string"), F.lit("")),
                F.coalesce(F.col("o_orderstatus"), F.lit("")),
                F.coalesce(
                    F.round(F.col("o_totalprice") * 100)
                    .cast("long")
                    .cast("string"),
                    F.lit(""),
                ),
            ]
        ).alias("h")
    ).agg(
        F.count("*").alias("n_rows"), F.sum("h").alias("checksum")
    ).select(F.lit("orders").alias("table_name"), "n_rows", "checksum")
    cust = load_table(spark, sf_dir, "customer").select(
        row_hash(
            [
                F.coalesce(F.col("c_custkey").cast("string"), F.lit("")),
                F.coalesce(F.col("c_nationkey").cast("string"), F.lit("")),
                F.coalesce(F.col("c_name"), F.lit("")),
            ]
        ).alias("h")
    ).agg(
        F.count("*").alias("n_rows"), F.sum("h").alias("checksum")
    ).select(F.lit("customer").alias("table_name"), "n_rows", "checksum")
    return orders.unionAll(cust).orderBy("table_name")
