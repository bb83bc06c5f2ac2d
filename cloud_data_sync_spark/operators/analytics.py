"""Warehouse-analytics showcase queries (SURVEY.md §2.B breadth).

TPC-H-shaped plans over the driver's TPC-H-ish tables plus a time-series
resample/gap-fill operator. These exist to pin the *plan shapes* a 100 TB
deployment lives or dies by:

- ``q_tpch_pricing``: full-scan partial-agg → 6-group final agg. The map-side
  combine means shuffle bytes are O(groups × partitions), not O(rows).
- ``q_tpch_shipping``: fact⋈fact join (orders⋈lineitem, both filtered) with a
  broadcast customer dim and a global top-10 via TakeOrderedAndProject — no
  full sort at any scale.
- ``q_tpch_volume``: the classic 6-table snowflake chain; every dim side is
  broadcast so the only shuffle is the orders⋈lineitem co-partition.
- ``q_resample_gapfill``: hypertable-style resample — per-key dense time grid
  via sequence+explode (executor-side, no driver loop) with forward-fill via
  ``last(ignorenulls)`` over a bounded window.

Reference parity: the reference engine has no analytics surface (it is a
sync tool — sync.go:56-176); these queries are the driver-mandated §2.B
extension inventory exercising the same relational core the sync plan uses
(joins, aggregation, windows) at warehouse shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cloud_data_sync_spark.registry import floor_ratio, register
from cloud_data_sync_spark.tables import load_table, materialize, spread


@register(
    "q_tpch_pricing",
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    doc=(
        "TPC-H Q1 pricing summary: single-pass scan with map-side partial "
        "aggregation into 6 groups — shuffle is O(groups), not O(rows)."
    ),
)
def q_tpch_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-02 00:00:00").cast("timestamp")
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc), 2).alias("sum_disc_price"),
        F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@register(
    "q_tpch_shipping",
    oracle="""
SELECT l.l_orderkey,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""",
    doc=(
        "TPC-H Q3 shipping priority: filtered fact⋈fact (orders⋈lineitem) "
        "with broadcast customer-segment dim; global top-10 compiles to "
        "TakeOrderedAndProject (per-partition heap, never a full sort)."
    ),
)
def q_tpch_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    # r12: same class as q_tpch_volume — the static estimate made the
    # planner BROADCAST the lineitem branch (BuildRight over the fact
    # scan in the sf1 plan dump). Pin the fact⋈fact join to SHUFFLE_HASH
    # (the orderkey exchange the doc always described); AQE still
    # upgrades to broadcast at runtime from real sizes when the filtered
    # side genuinely fits.
    return (
        li.join(
            orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .hint("shuffle_hash"),
            li.l_orderkey == orders.o_orderkey,
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "q_tpch_volume",
    oracle="""
SELECT n.n_name, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n.n_name
""",
    doc=(
        "TPC-H Q5 local-supplier volume: 6-table snowflake. All four dims "
        "(customer, supplier, nation, region) broadcast; the only real "
        "shuffle is orders⋈lineitem on orderkey. Region filter prunes the "
        "nation/supplier broadcast before it ships."
    ),
)
def q_tpch_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    # r12: the planner BROADCAST THE 6 M-ROW FACT TABLE — `orders.join(li)`
    # makes the orders⋈customer subtree the stream side because the
    # static size ESTIMATE of a join output exceeds lineitem's pruned
    # scan estimate, and lineitem sat under the 64 MB threshold (sf1 plan
    # dump: BroadcastExchange over the full lineitem scan, a ~200 MB
    # hashed relation rebuilt per invocation; 4.17 s at sf1, and the
    # exact wrong side at 100 TB). Static join-order flips don't fix it
    # (the estimate still favors the fact side), so the fact join is
    # pinned to SHUFFLE_HASH: both sides exchange on orderkey — the
    # plan the docstring always claimed — and AQE may still upgrade to a
    # broadcast join at runtime from REAL sizes (estimate-robust in both
    # directions; guide §3.1 "check which one you got / check the build
    # side").
    return (
        li.join(
            orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .hint("shuffle_hash"),
            li.l_orderkey == orders.o_orderkey,
        )
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@register(
    "q_resample_gapfill",
    oracle="""
WITH ev AS (
  SELECT user_id, time_bucket(INTERVAL '6 hours', ts) AS bucket, value
  FROM events WHERE user_id % 10 = 0
),
spans AS (
  SELECT user_id, min(bucket) AS lo, max(bucket) AS hi FROM ev GROUP BY user_id
),
grid AS (
  SELECT s.user_id, g.bucket
  FROM spans s, LATERAL unnest(generate_series(s.lo, s.hi, INTERVAL '6 hours')) AS g(bucket)
),
agg AS (
  SELECT user_id, bucket, round(sum(value), 2) AS bucket_value,
         CAST(count(*) AS BIGINT) AS n_events
  FROM ev GROUP BY user_id, bucket
)
SELECT g.user_id, g.bucket,
       coalesce(a.bucket_value, 0.0) AS bucket_value,
       coalesce(a.n_events, 0) AS n_events,
       last_value(a.bucket_value IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS filled_value
FROM grid g LEFT JOIN agg a ON g.user_id = a.user_id AND g.bucket = a.bucket
""",
    doc=(
        "Hypertable resample + gap-fill: 6-hour buckets per user over each "
        "user's own span, dense grid generated executor-side via "
        "sequence+explode (no driver loop), missing buckets forward-filled "
        "with last(ignorenulls). The grid build and the fill share the "
        "user_id partitioning, so the left join is co-partitioned."
    ),
)
def q_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    step = 6 * 3600  # seconds per bucket
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 10 == 0)
        .select(
            "user_id",
            # double cast: timestamp_ntz won't cast straight to long; via
            # TIMESTAMP it's epoch seconds (session tz pinned UTC → exact)
            F.timestamp_seconds(
                (F.col("ts").cast("timestamp").cast("long") / step).cast("long")
                * step
            ).alias("bucket"),
            "value",
        )
    )
    agg = ev.groupBy("user_id", "bucket").agg(
        F.round(F.sum("value"), 2).alias("bucket_value"),
        F.count("*").alias("n_events"),
    )
    # Dense grid: one sequence() per user expanded on the executors.
    grid = (
        ev.groupBy("user_id")
        .agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
        .select(
            "user_id",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 6 HOURS"))
            ).alias("bucket"),
        )
    )
    joined = grid.join(agg, ["user_id", "bucket"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "user_id",
        "bucket",
        F.coalesce("bucket_value", F.lit(0.0)).alias("bucket_value"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.last("bucket_value", ignorenulls=True).over(w).alias("filled_value"),
    )


# SCD2 CTE chain shared by q_scd2 and q_temporal_join: produces relation
# ``scd2(user_id, seg_id, event_type, valid_from, valid_to, is_current,
# n_events)``.
_SCD2_SQL = """
ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
flagged AS (
  SELECT user_id, event_type, ts,
         CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END AS chg,
         event_id
  FROM ordered
),
seg AS (
  SELECT user_id, event_type, ts,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
  FROM flagged
),
grouped AS (
  SELECT user_id, CAST(seg_id AS BIGINT) AS seg_id, min(event_type) AS event_type,
         min(ts) AS valid_from, CAST(count(*) AS BIGINT) AS n_events
  FROM seg GROUP BY user_id, seg_id
),
scd2 AS (
  SELECT user_id, seg_id, event_type, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id ORDER BY seg_id) AS valid_to,
         CAST(lead(valid_from) OVER (PARTITION BY user_id ORDER BY seg_id) IS NULL
              AS BOOLEAN) AS is_current,
         n_events
  FROM grouped
)
"""


@register(
    "q_scd2",
    oracle=f"WITH {_SCD2_SQL} SELECT * FROM scd2",
    doc=(
        "Slowly-changing-dimension type-2 history build: collapse each "
        "user's event_type stream into contiguous validity segments "
        "[valid_from, valid_to) with an is_current flag — the standard "
        "warehouse CDC-merge shape. Change detection (lag), segment "
        "numbering (running sum) and the valid_to stitch (lead) all share "
        "one user_id partitioning, so the whole history builds in a single "
        "shuffle."
    ),
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scd2_segments(load_table(spark, sf_dir, "events"))


def scd2_segments(ev: DataFrame) -> DataFrame:
    """Collapse (user_id, ts, event_id, event_type) into SCD2 validity rows."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    flagged = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0).alias("chg"),
    )
    seg = flagged.withColumn(
        "seg_id",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"),
    )
    grouped = seg.groupBy("user_id", "seg_id").agg(
        F.min("event_type").alias("event_type"),
        F.min("ts").alias("valid_from"),
        F.count("*").alias("n_events"),
    )
    w_seg = Window.partitionBy("user_id").orderBy("seg_id")
    valid_to = F.lead("valid_from").over(w_seg)
    return grouped.select(
        "user_id",
        "seg_id",
        "event_type",
        "valid_from",
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
        "n_events",
    )


# Column profiling: (column, stat-exprs) pairs evaluated in ONE aggregate
# pass. min/max are computed on the native type and only then rendered to
# strings, so timestamp/decimal ordering stays semantic. count(distinct) on
# several columns expands the scan (Spark plans an Expand ×N) — exact
# profiling is inherently per-column; at 100 TB swap in
# approx_count_distinct, exact here so the oracle can hash-match.
_PROFILE_COLS = (
    ("o_orderkey", "o_orderkey"),
    ("o_custkey", "o_custkey"),
    ("o_orderstatus", "o_orderstatus"),
    ("o_orderdate", "o_orderdate"),
    ("o_orderpriority", "o_orderpriority"),
    ("o_totalprice", "CAST(round(o_totalprice, 2) AS DECIMAL(18,2))"),
)


@register(
    "q_profile_columns",
    oracle="""
WITH a AS (
  SELECT
"""
    + ",\n".join(
        f"""    CAST(count(*) - count({expr}) AS BIGINT) AS {name}_nn,
    CAST(count(DISTINCT {expr}) AS BIGINT) AS {name}_nd,
    CAST(min({expr}) AS VARCHAR) AS {name}_min,
    CAST(max({expr}) AS VARCHAR) AS {name}_max"""
        for name, expr in _PROFILE_COLS
    )
    + """
  FROM orders
)
"""
    + "\nUNION ALL\n".join(
        f"SELECT '{name}' AS col_name, {name}_nn AS n_null, {name}_nd AS n_distinct,"
        f" {name}_min AS min_s, {name}_max AS max_s FROM a"
        for name, _ in _PROFILE_COLS
    ),
    doc=(
        "Column profiler over orders: per-column null count, exact distinct "
        "count, min/max (computed on the native type, rendered as strings). "
        "One column-pruned branch per column: groupBy(value) hash-aggregates "
        "the scan (codegen'd, partial-combined), then the stats reduce over "
        "the distinct set. The multi-count(distinct)-in-one-agg formulation "
        "was 3× slower: string min/max buffers force a SortAggregate over "
        "the 6×-Expanded scan with 30 FILTERed buffers per row."
    ),
)
def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    parts = []
    for name, expr in _PROFILE_COLS:
        d = (
            orders.selectExpr(f"{expr} AS v")
            .groupBy("v")
            .agg(F.expr("count(*) AS cnt"))
        )
        stats = d.agg(
            F.expr(
                "CAST(coalesce(sum(CASE WHEN v IS NULL THEN cnt END), 0)"
                " AS BIGINT) AS n_null"
            ),
            F.expr("count(CASE WHEN v IS NOT NULL THEN 1 END) AS n_distinct"),
            F.expr("CAST(min(v) AS STRING) AS min_s"),
            F.expr("CAST(max(v) AS STRING) AS max_s"),
        )
        parts.append(stats.selectExpr(f"'{name}' AS col_name", "*"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "q_window_time_range",
    oracle="""
SELECT o_custkey, o_orderkey, o_orderdate,
       round(sum(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate
         RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW), 2) AS spend_30d,
       CAST(count(*) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate
         RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW) AS BIGINT)
         AS n_orders_30d
FROM orders
""",
    doc=(
        "Calendar-interval rolling window: per-customer trailing-30-day "
        "spend and order count via RANGE BETWEEN INTERVAL frames over the "
        "order timestamp — the hypertable rolling-aggregate shape. RANGE "
        "frames are peer-inclusive, so tied order dates are deterministic "
        "without a tiebreak column."
    ),
)
def q_window_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    frame = (
        "OVER (PARTITION BY o_custkey ORDER BY o_orderdate "
        "RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)"
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.expr(f"round(sum(o_totalprice) {frame}, 2)").alias("spend_30d"),
        F.expr(f"cast(count(*) {frame} as bigint)").alias("n_orders_30d"),
    )


@register(
    "q_temporal_join",
    oracle=f"""
WITH {_SCD2_SQL}
SELECT e.event_id, e.user_id, e.ts, s.seg_id, s.event_type AS segment_type,
       s.is_current AS in_current_segment
FROM events e
JOIN scd2 s
  ON e.user_id = s.user_id
 AND e.ts >= s.valid_from
 AND (s.valid_to IS NULL OR e.ts < s.valid_to)
""",
    doc=(
        "Temporal (validity-window) join: enrich each event with the SCD2 "
        "segment active at its timestamp — the fact-to-versioned-dimension "
        "lookup every warehouse needs. The join key is user_id equality "
        "(hash-partitionable); the [valid_from, valid_to) predicate is a "
        "post-join filter over each user's handful of segments, so the plan "
        "stays an equi-join, never a theta join."
    ),
)
def q_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    seg = scd2_segments(ev).select(
        F.col("user_id").alias("s_user_id"),
        "seg_id",
        F.col("event_type").alias("segment_type"),
        "valid_from",
        "valid_to",
        F.col("is_current").alias("in_current_segment"),
    )
    return (
        ev.join(
            seg,
            (ev.user_id == seg.s_user_id)
            & (ev.ts >= seg.valid_from)
            & (seg.valid_to.isNull() | (ev.ts < seg.valid_to)),
        )
        .select("event_id", "user_id", "ts", "seg_id", "segment_type", "in_current_segment")
    )


@register(
    "q_anomaly_mad",
    oracle="""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
),
mad AS (
  SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
  FROM events e JOIN med m USING (event_type)
  GROUP BY e.event_type
)
SELECT e.event_type,
       round(m.med, 6) AS med,
       round(d.mad, 6) AS mad,
       CAST(count(*) FILTER (WHERE abs(e.value - m.med) > 3 * d.mad) AS BIGINT)
         AS n_outliers,
       CAST(count(*) AS BIGINT) AS n
FROM events e
JOIN med m USING (event_type)
JOIN mad d USING (event_type)
GROUP BY e.event_type, m.med, d.mad
""",
    doc=(
        "Robust outlier screen: median absolute deviation per event_type "
        "(the z-score's robust twin — a handful of extreme rows can't drag "
        "the threshold the way they drag a mean/stddev). Two aggregate "
        "passes, each broadcast-joined back; exact percentile here so the "
        "oracle hash-matches — at 100 TB swap approx_percentile, which "
        "turns each pass into a fixed-memory mergeable sketch."
    ),
)
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(): the exact-percentile partial buffers collect every value
    # map-side, and the events parquet is one split locally — both
    # median passes built their buffers on one core. Keyed; no-op at
    # real scale.
    from cloud_data_sync_spark.tables import spread

    ev = spread(load_table(spark, sf_dir, "events"), "event_id")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type")
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(abs(value - med), 0.5)").alias("mad")
    )
    flagged = dev.join(F.broadcast(mad), "event_type")
    outlier = F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad")
    return flagged.groupBy("event_type").agg(
        F.round(F.first("med"), 6).alias("med"),
        F.round(F.first("mad"), 6).alias("mad"),
        F.count(F.when(outlier, 1)).alias("n_outliers"),
        F.count("*").alias("n"),
    )


@register(
    "q_skew_report",
    oracle="""
WITH counts AS (
  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS cnt FROM lineitem GROUP BY l_suppkey
),
tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total, count(*) AS n_keys FROM counts)
SELECT c.l_suppkey, c.cnt,
       floor(c.cnt / t.total * 1000000) / 1000000 AS share,
       floor(c.cnt * t.n_keys / t.total * 10000) / 10000 AS x_mean
FROM counts c CROSS JOIN tot t
ORDER BY c.cnt DESC, c.l_suppkey
LIMIT 10
""",
    doc=(
        "Skew diagnosis: the heaviest join/shuffle keys with their share of "
        "all rows and their multiple of the mean key load — the report you "
        "run BEFORE choosing salting factors or AQE skew thresholds "
        "(q_join_skew_salted is the treatment; this is the diagnosis). "
        "Per-key counts partial-combine; the corpus total is a ONE-row "
        "cross join (the q_tfidf scalar pattern) and the top-10 is a heap "
        "merge, so nothing global ever sorts."
    ),
)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("cnt"))
    )
    tot = counts.agg(
        F.sum("cnt").cast("double").alias("total"), F.count("*").alias("n_keys")
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "l_suppkey",
            "cnt",
            floor_ratio(F.col("cnt") / F.col("total"), 6).alias("share"),
            floor_ratio(
                F.col("cnt") * F.col("n_keys") / F.col("total"), 4
            ).alias("x_mean"),
        )
        .orderBy(F.desc("cnt"), "l_suppkey")
        .limit(10)
    )


@register(
    "q_event_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
trans AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
)
SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
       floor(CAST(n AS DOUBLE)
             / sum(n) OVER (PARTITION BY prev_type) * 1000000) / 1000000 AS p
FROM trans
""",
    doc=(
        "First-order Markov transition matrix over per-user event "
        "sequences: lag() pairs each event with its predecessor inside "
        "ONE user_id sort shuffle, transitions hash-aggregate with "
        "map-side combine, and row-normalization is a window over the "
        "event_type² matrix (≤ states², constant in corpus size). The "
        "per-user sequencing never leaves its partition — the shape "
        "session-flow and next-event-prediction features are built from."
    ),
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w_seq).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").alias("n")
    )
    w_norm = Window.partitionBy("prev_type")
    return trans.select(
        "prev_type",
        "next_type",
        "n",
        floor_ratio(F.col("n").cast("double") / F.sum("n").over(w_norm), 6).alias(
            "p"
        ),
    )


@register(
    "q_tpch_custdist",
    oracle="""
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
) per_cust
GROUP BY c_count
""",
    doc=(
        "TPC-H Q13 shape: order-count-per-customer distribution, keeping "
        "zero-order customers via the left join (the filter lives in the "
        "join condition, NOT a WHERE — a WHERE would silently drop them). "
        "The per-customer aggregate runs on the join's own custkey "
        "partitioning (exchange reuse: join and groupBy share the key, "
        "ONE fact shuffle), and the distribution aggregate shuffles only "
        "|distinct counts| rows. Reference analog: the run-report "
        "histogram family (per-mapping counters, sync.go:166-170) "
        "generalized to a full distribution."
    ),
)
def q_tpch_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    per_cust = (
        customer.join(
            orders,
            (orders.o_custkey == customer.c_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "q_tpch_dormant",
    oracle="""
WITH avg_bal AS (
  SELECT avg(c_acctbal) AS a FROM customer WHERE c_acctbal > 0.0
)
SELECT n.n_name,
       CAST(count(*) AS BIGINT) AS numcust,
       round(sum(c.c_acctbal), 2) AS totacctbal
FROM customer c
CROSS JOIN avg_bal
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE c.c_acctbal > avg_bal.a
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY n.n_name
""",
    doc=(
        "TPC-H Q22 shape: customers with above-average positive balance "
        "and no urgent orders, rolled up per nation (this corpus's orders "
        "cover every custkey, so plain no-orders would be vacuously "
        "empty — the urgent-subset anti keeps Q22's exact plan shape "
        "with a non-degenerate answer). The global average is a ONE-row "
        "scalar pack (broadcast cross join — the declarative alternative "
        "to collecting the scalar into a literal); the membership test "
        "is a left-anti join (the delete-phase shape, sync.go:212-214); "
        "nation broadcasts. One fact-side shuffle (the anti join on "
        "custkey); the rollup is 25 groups."
    ),
)
def q_tpch_dormant(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    nation = load_table(spark, sf_dir, "nation")
    avg_bal = customer.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("a")
    )
    return (
        customer.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@register(
    "q_event_paths",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type,
         lag(event_type, 1) OVER w AS prev1,
         lag(event_type, 2) OVER w AS prev2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT prev2 || '>' || prev1 || '>' || event_type AS path,
       CAST(count(*) AS BIGINT) AS n
FROM ordered
WHERE prev2 IS NOT NULL
GROUP BY path
ORDER BY n DESC, path
LIMIT 10
""",
    doc=(
        "Sequential path mining: top-10 most-travelled 3-step event "
        "paths across user journeys (the flow-analysis complement to "
        "q_event_transitions' first-order matrix — 3-grams expose the "
        "paths a Markov assumption factors away). ONE user_id exchange "
        "drives the ordering window (lag ×2 share a single frame; ties "
        "broken by event_id so the path set is deterministic); the "
        "path aggregate shuffles |event_types|³ groups at most, and "
        "the top-10 compiles to TakeOrderedAndProject."
    ),
)
def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "event_type",
        F.lag("event_type", 1).over(w).alias("prev1"),
        F.lag("event_type", 2).over(w).alias("prev2"),
    )
    return (
        ordered.filter(F.col("prev2").isNotNull())
        .select(
            F.concat_ws(">", "prev2", "prev1", "event_type").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(10)
    )


@register(
    "q_winsorize",
    oracle="""
WITH b AS (
  SELECT event_type,
         round(quantile_cont(value, 0.01), 6) AS lo,
         round(quantile_cont(value, 0.99), 6) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN e.value < b.lo THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clip_lo,
       CAST(sum(CASE WHEN e.value > b.hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clip_hi,
       min(b.lo) AS p01,
       max(b.hi) AS p99,
       round(avg(e.value), 4) AS mean_raw,
       round(avg(least(greatest(e.value, b.lo), b.hi)), 4) AS mean_winsor
FROM events e JOIN b USING (event_type)
GROUP BY e.event_type
""",
    doc=(
        "Winsorized robust scaling: per-event-type p01/p99 clipping of "
        "the value column with a before/after report — the standard "
        "feature-prep step that stops metric outliers (bot bursts, "
        "sentinel values) from dominating downstream aggregates and "
        "model features. The clip boundaries come from one per-group "
        "percentile aggregation (exact here; approx_percentile's "
        "t-digest is the drop-in at 100 TB with the identical plan "
        "shape) and join back as a broadcast group-keyed dim (an "
        "event-type-bounded pack — a BroadcastHashJoin, not a scalar "
        "cross join); clipping is map-only least/greatest. Boundaries "
        "are rounded to 6 dp on BOTH engines before comparison so "
        "interpolation-formula ulp noise cannot flip a row's clip flag "
        "(the q_perplexity_buckets contract)."
    ),
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    b = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.01)), 6).alias("lo"),
        F.round(F.percentile("value", F.lit(0.99)), 6).alias("hi"),
    )
    j = ev.join(F.broadcast(b), "event_type")
    clipped = F.least(F.greatest("value", F.col("lo")), F.col("hi"))
    return j.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum((F.col("value") < F.col("lo")).cast("long")).alias("n_clip_lo"),
        F.sum((F.col("value") > F.col("hi")).cast("long")).alias("n_clip_hi"),
        F.min("lo").alias("p01"),
        F.max("hi").alias("p99"),
        F.round(F.avg("value"), 4).alias("mean_raw"),
        F.round(F.avg(clipped), 4).alias("mean_winsor"),
    )


@register(
    "q_ab_welch",
    oracle="""
WITH s AS (
  SELECT
    CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS n_a,
    CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS n_b,
    avg(CASE WHEN event_type = 'click' THEN value END) AS m_a,
    avg(CASE WHEN event_type = 'view' THEN value END) AS m_b,
    var_samp(CASE WHEN event_type = 'click' THEN value END) AS v_a,
    var_samp(CASE WHEN event_type = 'view' THEN value END) AS v_b
  FROM events WHERE event_type IN ('click', 'view')
)
SELECT n_a, n_b,
       round(m_a, 4) AS mean_treat,
       round(m_b, 4) AS mean_ctrl,
       round(m_a - m_b, 4) AS mean_diff,
       round((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b), 3) AS t_stat,
       round(pow(v_a / n_a + v_b / n_b, 2)
             / (pow(v_a / n_a, 2) / (n_a - 1)
                + pow(v_b / n_b, 2) / (n_b - 1)), 1) AS df_welch,
       CAST(abs(round((m_a - m_b)
                / sqrt(v_a / n_a + v_b / n_b), 3)) > 1.96
            AS BIGINT) AS significant
FROM s
""",
    doc=(
        "Experiment readout: Welch's unequal-variance t-test between a "
        "treatment and control metric stream ('click' vs 'view' value "
        "here; in production the arms arrive as an assignment column) — "
        "the decision statistic an A/B pipeline computes over raw event "
        "logs. ONE conditional aggregation with the arm filter pushed "
        "to the scan: count/mean/var_samp for both arms ride the same "
        "single-pass partial aggregates (no per-arm scan, no join, no "
        "1-row cross pack — the t/df arithmetic is a projection over "
        "the one-row aggregate). Welch-Satterthwaite df included. The "
        "significance flag compares the ROUNDED t-statistic on both "
        "engines, so variance ulp noise (different partial-merge orders) "
        "cannot flip the decision; an UNDEFINED test (an arm with <2 "
        "observations has NULL sample variance) yields a NULL flag on "
        "both engines — not 0, which would be a 'not significant' claim "
        "the data cannot support."
    ),
)
def q_ab_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    is_t = F.col("event_type") == "click"
    s = ev.agg(
        F.count(F.when(is_t, 1)).alias("n_a"),
        F.count(F.when(~is_t, 1)).alias("n_b"),
        F.avg(F.when(is_t, F.col("value"))).alias("m_a"),
        F.avg(F.when(~is_t, F.col("value"))).alias("m_b"),
        F.var_samp(F.when(is_t, F.col("value"))).alias("v_a"),
        F.var_samp(F.when(~is_t, F.col("value"))).alias("v_b"),
    )
    se2 = F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b")
    t = F.round((F.col("m_a") - F.col("m_b")) / F.sqrt(se2), 3)
    df_w = F.round(
        F.pow(se2, 2)
        / (
            F.pow(F.col("v_a") / F.col("n_a"), 2) / (F.col("n_a") - 1)
            + F.pow(F.col("v_b") / F.col("n_b"), 2) / (F.col("n_b") - 1)
        ),
        1,
    )
    return s.select(
        "n_a",
        "n_b",
        F.round("m_a", 4).alias("mean_treat"),
        F.round("m_b", 4).alias("mean_ctrl"),
        F.round(F.col("m_a") - F.col("m_b"), 4).alias("mean_diff"),
        t.alias("t_stat"),
        df_w.alias("df_welch"),
        (F.abs(t) > 1.96).cast("long").alias("significant"),
    )


# Deterministic bootstrap: R resamples, each row's multiplicity in
# resample r drawn from a Poisson(1) surrogate keyed on md5 — the hash
# plays the RNG so both engines (and any two cluster runs) draw the
# IDENTICAL resamples. One md5 yields 32 hex chars = SIXTEEN independent
# 8-bit uniforms, so 32 resamples cost 2 hashes per row (not 32), and
# the multiplicities feed 32 (sum(w·x), sum(w)) aggregate pairs computed
# in ONE pass over the scan — no ×R row explosion ever materializes
# (the exploded form measured 17 s at sf0.1: 19.2M md5s squeezed into
# the scan's 3 input partitions; the 16-bit-draw form needed 4 hashes +
# 16 hex parses per row and measured ~2x this one). Cumulative
# Poisson(1) thresholds quantized to the 8-bit lattice: P(0)=1/e,
# P(<=1)=2/e, etc — the quantized pmf still has E[w] = 1.0000 exactly
# (94+94+2*47+3*16+4*5 = 256), and the <=4e-3 per-category error is
# statistically invisible next to the R=32 resampling noise itself.
_BOOT_R = 32
_POIS = (0.3678794411714423, 0.7357588823428846, 0.9196986029286058,
         0.9810118431238462)
_POIS8 = tuple(int(p * 256) for p in _POIS)  # integer thresholds


def _boot_oracle() -> str:
    """DuckDB twin of the hash-windowed bootstrap, generated so the
    per-resample expressions stay literally identical to the Spark
    side's (chunk c = (r-1)//8 picks the md5, window j = (r-1)%8 picks
    the 4-hex-char slice)."""
    t0, t1, t2, t3 = _POIS8
    ws, sums = [], []
    # one 32-bit hex parse yields FOUR 8-bit draws (shift + %256) — the
    # string→int conversion is the hot cost of the map stage on both
    # engines, so each parse is milked for as many draws as it holds
    us = [
        f"CAST('0x' || substr(h{c}, {1 + 8 * p}, 8) AS BIGINT) AS u{c}_{p}"
        for c in range(2)
        for p in range(4)
    ]
    for r in range(1, _BOOT_R + 1):
        c, q = divmod(r - 1, 16)
        p, b = divmod(q, 4)
        v = (
            f"(u{c}_{p} >> 24)"
            if b == 0
            else f"((u{c}_{p} >> {24 - 8 * b}) % 256)"
        )
        ws.append(
            f"CASE WHEN NOT valid THEN 0 "
            f"WHEN {v} < {t0} THEN 0 WHEN {v} < {t1} THEN 1 "
            f"WHEN {v} < {t2} THEN 2 WHEN {v} < {t3} THEN 3 ELSE 4 END AS w{r}"
        )
        sums.append(f"sum(w{r} * x) AS s{r}, CAST(sum(w{r}) AS DOUBLE) AS c{r}")
    means = [f"(s{r} / c{r})" for r in range(1, _BOOT_R + 1)]
    mbar = "(" + " + ".join(means) + f") / {_BOOT_R}.0"
    ss = " + ".join(f"({m} - mbar) * ({m} - mbar)" for m in means)
    return f"""
WITH base AS (
  SELECT coalesce(CAST(l_orderkey AS VARCHAR), '') || '-'
           || coalesce(CAST(l_linenumber AS VARCHAR), '') AS k,
         l_extendedprice AS x,
         (abs(l_extendedprice) <= 1000000000) AS valid
  FROM lineitem WHERE l_extendedprice IS NOT NULL
),
hashed AS (
  SELECT x, valid,
         {', '.join(f"md5(k || '#{c}') AS h{c}" for c in range(2))}
  FROM base
),
parsed AS (SELECT x, valid, {', '.join(us)} FROM hashed),
weighted AS (SELECT x, valid, {', '.join(ws)} FROM parsed),
agg AS (
  SELECT CAST(sum(CASE WHEN valid THEN 1 ELSE 0 END) AS BIGINT) AS n_rows,
         CAST(count(CASE WHEN NOT valid THEN 1 END) AS BIGINT)
           AS n_dropped_invalid,
         avg(CASE WHEN valid THEN x END) AS mu, {', '.join(sums)}
  FROM weighted
),
stats AS (SELECT *, {mbar} AS mbar FROM agg),
bs AS (SELECT n_rows, n_dropped_invalid, mu,
              sqrt(({ss}) / {_BOOT_R - 1}.0) AS boot_sd
       FROM stats)
SELECT n_rows, n_dropped_invalid, CAST({_BOOT_R} AS BIGINT) AS n_resamples,
       floor(mu * 10000) / 10000 AS point_est,
       floor(boot_sd * 10000) / 10000 AS boot_sd,
       floor((mu - 1.96 * boot_sd) * 10000) / 10000 AS ci_lo,
       floor((mu + 1.96 * boot_sd) * 10000) / 10000 AS ci_hi
FROM bs
"""


@register(
    "q_bootstrap_ci",
    oracle=_boot_oracle(),
    doc=(
        "Bootstrap confidence interval for a corpus mean with a "
        "DETERMINISTIC resampler: each row's multiplicity in each of the "
        "{r} resamples is a Poisson(1) draw read off an md5 of the row "
        "key — 2 hashes per row yield 32 independent 8-bit uniforms "
        "(16 per digest), so the resamples are identical across "
        "engines, runs, and cluster topologies — the reproducibility "
        "property rand()-based bootstrap loses the moment a task "
        "retries. Plan shape: entirely map-side — the {r} multiplicities "
        "are per-row projections feeding {r} (sum(w·x), sum(w)) "
        "aggregate pairs computed in ONE pass over the scan (no ×R row "
        "expansion; the exploded alternative measured 17 s at sf0.1), "
        "then the resample means, their spread, and the normal-"
        "approximation CI (±1.96·sd) reduce on the single partial-agg "
        "row. The CI avoids rank-selection on engine-ulp-divergent "
        "doubles. This is the error-bar primitive for any corpus "
        "statistic a dataset card reports."
    ).format(r=_BOOT_R),
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    t0, t1, t2, t3 = _POIS8
    # spread(): the per-row hash/conv pipeline is CPU-bound and the local
    # parquet arrives in 3 splits — hash-spread on the natural line key
    # to cores (no-op at real scale where the scan already yields >=
    # cores splits). Keyed, not round-robin: the keyless form pays a
    # local sort of its input before the exchange (sortBeforeRepartition)
    # — measured 0.97s vs 0.58s for this exchange at sf0.1 (r11).
    li = spread(
        load_table(spark, sf_dir, "lineitem").filter(
            F.col("l_extendedprice").isNotNull()
        ),
        "l_orderkey",
        "l_linenumber",
    ).selectExpr(
        # both key parts coalesced: the oracle's `a || '-' || b` NULLifies
        # the key on a NULL l_orderkey while concat_ws SKIPS null elements
        # — the same corrupt row drew different resample weights on each
        # engine (adversarial fact probe, r10)
        "concat_ws('-', coalesce(CAST(l_orderkey AS STRING), ''),"
        " coalesce(CAST(l_linenumber AS STRING), '')) AS k",
        "l_extendedprice AS x",
        # validity bound (the q_decay_leaderboard class): one corrupt
        # +-1e12 price makes every resample sum a catastrophic-
        # cancellation race between engine partial orders; invalid rows
        # draw weight 0 (contributing an EXACT 0.0) and are counted in
        # n_dropped_invalid instead of silently skewing the CI
        "(abs(l_extendedprice) <= 1000000000.0D) AS valid",
    )
    # The wide stages are built as generated SQL TEXT (selectExpr /
    # F.expr), not per-operator Column calls: the Column form issued
    # ~1000 py4j round trips per invocation (32 CASE chains + 66 aggs +
    # the CI fold) and cost ~2 s of DRIVER-side plan construction every
    # time the query ran — as much as executing it. Text parses in a
    # handful of JVM calls; the resolved plan is identical.
    hashed = li.selectExpr(
        "x", "valid", *[f"md5(concat(k, '#{c}')) AS h{c}" for c in range(2)]
    )
    # weights land in their own PROJECTION (mirroring the oracle's
    # `weighted` CTE) so the hash/conv/CASE work runs inside whole-stage
    # codegen; folding them into the 64 aggregate expressions instead
    # pushed the HashAggregate past the codegen field limit and the
    # whole row-level pipeline fell back to interpreted mode (~10 s at
    # sf0.1 vs ~1 s in this shape).
    # one 32-bit hex parse per FOUR 8-bit draws (shift + %256) — conv()
    # string parsing is the hot cost of the map stage, so each parse is
    # milked for as many draws as it holds (8 parses serve 32 resamples)
    parsed = hashed.selectExpr(
        "x",
        "valid",
        *[
            f"CAST(conv(substring(h{c}, {1 + 8 * p}, 8), 16, 10) AS BIGINT)"
            f" AS u{c}_{p}"
            for c in range(2)
            for p in range(4)
        ],
    )
    wexprs = []
    for r in range(1, _BOOT_R + 1):
        c, q = divmod(r - 1, 16)
        p, b = divmod(q, 4)
        v = (
            f"shiftright(u{c}_{p}, 24)"
            if b == 0
            else f"(shiftright(u{c}_{p}, {24 - 8 * b}) % 256)"
        )
        wexprs.append(
            f"CASE WHEN NOT valid THEN 0"
            f" WHEN {v} < {t0} THEN 0 WHEN {v} < {t1} THEN 1"
            f" WHEN {v} < {t2} THEN 2 WHEN {v} < {t3} THEN 3 ELSE 4 END"
            f" AS w{r}"
        )
    weighted = parsed.selectExpr("x", "valid", *wexprs)
    aggs = [
        F.expr("CAST(sum(CASE WHEN valid THEN 1 ELSE 0 END) AS BIGINT)"
               " AS n_rows"),
        F.expr("CAST(count(CASE WHEN NOT valid THEN 1 END) AS BIGINT)"
               " AS n_dropped_invalid"),
        F.expr("avg(CASE WHEN valid THEN x END) AS mu"),
    ]
    for r in range(1, _BOOT_R + 1):
        aggs.append(F.expr(f"sum(w{r} * x) AS s{r}"))
        aggs.append(F.expr(f"CAST(sum(w{r}) AS DOUBLE) AS c{r}"))
    agg = weighted.agg(*aggs)
    # left-assoc " + ".join mirrors the oracle literally, so both
    # engines sum the 32 means in the same order. try_divide: a tiny
    # input can draw an all-zero Poisson weight column (c{r} = 0) — a
    # job-killing ANSI error on plain '/' while the oracle's DuckDB /0
    # is NULL; when c{r} > 0 try_divide is the identical double divide,
    # so the summation order argument is unchanged.
    means = [f"try_divide(s{r}, c{r})" for r in range(1, _BOOT_R + 1)]
    mbar = "(" + " + ".join(means) + f") / {float(_BOOT_R)!r}"
    stats = agg.selectExpr("*", f"({mbar}) AS mbar")
    ss = " + ".join(f"({m} - mbar) * ({m} - mbar)" for m in means)
    bs = stats.selectExpr(
        "*", f"sqrt(({ss}) / {float(_BOOT_R - 1)!r}) AS boot_sd_raw"
    )
    return bs.selectExpr(
        "n_rows",
        "n_dropped_invalid",
        f"CAST({_BOOT_R} AS BIGINT) AS n_resamples",
        "floor(mu * 10000) / 10000 AS point_est",
        "floor(boot_sd_raw * 10000) / 10000 AS boot_sd",
        "floor((mu - 1.96 * boot_sd_raw) * 10000) / 10000 AS ci_lo",
        "floor((mu + 1.96 * boot_sd_raw) * 10000) / 10000 AS ci_hi",
    )


# PSI binning: fixed-width value bins (width 20, clamped to [0, 9]) and
# +0.5 additive smoothing so empty bins cannot produce ln(0). Fixed bins
# keep the op map-only; production swaps in stored training-time bin
# edges with the identical plan.
_PSI_BINS = 10
_PSI_WIDTH = 20.0


@register(
    "q_psi_drift",
    oracle=f"""
WITH binned AS (
  SELECT event_type,
         CAST(least(greatest(floor(value / {_PSI_WIDTH}), 0),
                    {_PSI_BINS - 1}) AS BIGINT) AS bin
  FROM events
),
counts AS (
  SELECT event_type, bin, CAST(count(*) AS BIGINT) AS c
  FROM binned GROUP BY event_type, bin
),
grid AS (
  SELECT e.event_type, b.bin, coalesce(c.c, 0) AS c
  FROM (SELECT DISTINCT event_type FROM counts) e
  CROSS JOIN range(0, {_PSI_BINS}) b(bin)
  LEFT JOIN counts c ON c.event_type = e.event_type AND c.bin = b.bin
),
tot AS (
  SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM grid
  GROUP BY event_type
),
probs AS (
  SELECT g.event_type, g.bin,
         (g.c + 0.5) / (t.n + {_PSI_BINS} * 0.5) AS p
  FROM grid g JOIN tot t USING (event_type)
),
base AS (SELECT bin, p AS q FROM probs WHERE event_type = 'view')
SELECT p.event_type,
       CAST(max(t.n) AS BIGINT) AS n_events,
       round(sum((p.p - b.q) * ln(p.p / b.q)), 6) AS psi
FROM probs p
JOIN base b USING (bin)
JOIN tot t ON t.event_type = p.event_type
WHERE p.event_type <> 'view'
GROUP BY p.event_type
""",
    doc=(
        "Population-stability-index drift monitor: per-segment PSI of "
        "the value distribution against a reference segment ('view' "
        "here; in production the reference is the training-time "
        "snapshot) — the standard gate that decides whether a feature "
        "has drifted enough to block a model refresh (PSI > 0.2 rule "
        "of thumb). Binning is a map-only fixed-width expression (bin "
        "edges are plan constants — stored training edges in "
        "production), counts are ONE hash agg onto a segments x 10-bin "
        "bounded set, and the dense bin grid + reference join touch "
        "only that bounded aggregate. +0.5 additive smoothing keeps "
        "empty bins finite on both engines. PSI terms are ratios of "
        "exact integers passed through identical ln/mul arithmetic; "
        "the 10-term sum rounds at 6 dp (irrational ln values — not "
        "the dyadic-halves shape)."
    ),
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    bin_col = (
        F.least(
            F.greatest(F.floor(F.col("value") / _PSI_WIDTH), F.lit(0)),
            F.lit(_PSI_BINS - 1),
        )
        .cast("long")
        .alias("bin")
    )
    counts = (
        ev.select("event_type", bin_col)
        .groupBy("event_type", "bin")
        .agg(F.count("*").alias("c"))
    )
    # dense (segment × bin) grid via explode of a literal bin sequence —
    # map-only Generate over the tiny distinct-segment set, no join
    grid = (
        counts.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"), F.lit(_PSI_BINS - 1).cast("long")
                )
            ).alias("bin"),
        )
        .join(counts, ["event_type", "bin"], "left")
        .select("event_type", "bin", F.coalesce("c", F.lit(0)).alias("c"))
    )
    tot = grid.groupBy("event_type").agg(F.sum("c").alias("n"))
    probs = grid.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "bin",
        "n",
        ((F.col("c") + 0.5) / (F.col("n") + _PSI_BINS * 0.5)).alias("p"),
    )
    base = (
        probs.filter(F.col("event_type") == "view")
        .select("bin", F.col("p").alias("q"))
    )
    return (
        probs.filter(F.col("event_type") != "view")
        .join(F.broadcast(base), "bin")
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n_events"),
            F.round(
                F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))),
                6,
            ).alias("psi"),
        )
    )


@register(
    "q_attribution",
    oracle="""
WITH touched AS (
  SELECT event_id, user_id, ts, event_type, value,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_type,
         last_value(CASE WHEN event_type <> 'purchase' THEN ts END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_ts
  FROM events
)
SELECT CASE WHEN touch_type IS NOT NULL
             AND touch_ts >= ts - INTERVAL 7 DAY
            THEN touch_type ELSE '(none)' END AS touch_type,
       CAST(count(*) AS BIGINT) AS n_purchases,
       round(sum(value), 2) AS attributed_value
FROM touched
WHERE event_type = 'purchase'
GROUP BY 1
""",
    doc=(
        "Last-touch marketing attribution: each purchase credits the most "
        "recent preceding non-purchase event by the same user, but only "
        "within a 7-day attribution window — stale or missing touches "
        "fall into '(none)'. ONE user_id exchange drives both IGNORE-NULLS "
        "lookback windows (same partition, same frame — one sort), the "
        "attribution CASE is map-side, and the final rollup is a bounded "
        "hash agg (|event types|+1 groups). The windowed-lookback shape "
        "scales because per-user history sorts inside one spillable task "
        "partition; no self-join against the touch candidates ever forms "
        "(the naive formulation joins purchases to all prior events and "
        "re-filters — O(events²) per hot user)."
    ),
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    non_purchase = F.col("event_type") != "purchase"
    touched = ev.select(
        "event_type",
        "ts",
        "value",
        F.last(F.when(non_purchase, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.last(F.when(non_purchase, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("touch_ts"),
    )
    fresh = F.col("touch_type").isNotNull() & (
        F.col("touch_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS")
    )
    return (
        touched.filter(F.col("event_type") == "purchase")
        .select(
            F.when(fresh, F.col("touch_type")).otherwise(F.lit("(none)")).alias(
                "touch_type"
            ),
            "value",
        )
        .groupBy("touch_type")
        .agg(
            F.count("*").alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("attributed_value"),
        )
    )


# EWMA smoothing constant: alpha = 0.5 is deliberately DYADIC — every weight
# (1-alpha)^j = 2^-j scales a double's exponent exactly (no mantissa change),
# so the 8-term numerator/denominator sums are bit-identical between engines
# as long as both fold left-to-right, which a fixed `a + b + ...` expression
# tree guarantees on both. A non-dyadic alpha would reintroduce the
# round()-divergence class the registry docstring bans.
_EWMA_LAGS = 8


@register(
    "q_ewma_smooth",
    oracle="""
WITH lagged AS (
  SELECT event_id, user_id, value,
         {lags}
  FROM events
)
SELECT event_id, user_id,
       floor((({num}) / ({den})) * 1000000) / 1000000 AS ewma
FROM lagged
""".format(
        lags=",\n         ".join(
            ["value AS v0"]
            + [
                "lag(value, {j}) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
                " AS v{j}".format(j=j)
                for j in range(1, _EWMA_LAGS)
            ]
        ),
        # current value mirrored with the SAME coalesce/CASE guards as the
        # lag terms (and as the Spark fold): a NULL current value must
        # renormalize over the remaining window on BOTH engines, not
        # NULL-propagate on one side only (r4 review finding)
        num=" + ".join(
            "coalesce(v{j} * {w!r}, 0.0)".format(j=j, w=0.5 ** j)
            for j in range(_EWMA_LAGS)
        ),
        den=" + ".join(
            "CASE WHEN v{j} IS NOT NULL THEN {w!r} ELSE 0.0 END".format(
                j=j, w=0.5 ** j
            )
            for j in range(_EWMA_LAGS)
        ),
    ),
    doc=(
        "Exponentially-weighted moving average per user (alpha=0.5, last 8 "
        "events, truncated-and-renormalized): the time-series smoothing "
        "primitive behind anomaly baselines and rate monitors. EWMA's "
        "recursive definition looks sequential, but a truncated closed "
        "form (weights 2^-j over a fixed lag window) turns it into 8 lag() "
        "columns on ONE user_id exchange — fully parallel, no iteration, "
        "no state. The fixed window is principled, not a shortcut: 2^-8 "
        "< 0.4% residual weight. At 100 TB the per-user sort spills; "
        "nothing else changes."
    ),
)
def q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lags = [F.col("value")] + [
        F.lag("value", j).over(w) for j in range(1, _EWMA_LAGS)
    ]
    num = F.lit(0.0)
    den = F.lit(0.0)
    for j, v in enumerate(lags):
        wj = F.lit(0.5 ** j)
        num = num + F.coalesce(v * wj, F.lit(0.0))
        den = den + F.when(v.isNotNull(), wj).otherwise(F.lit(0.0))
    # try_divide: a row whose value AND all lags are NULL has zero total
    # weight — its EWMA is NULL (DuckDB 0/0 is NULL), not a job-killing
    # ANSI DIVIDE_BY_ZERO.
    return ev.select(
        "event_id", "user_id", floor_ratio(F.try_divide(num, den), 6).alias("ewma")
    )


# Shared daily-events substrate: the (event_type, day) aggregate with
# both the row count and the value sum feeds the whole daily-series
# family (q_seasonal_forecast, q_acf, q_cusum_changepoint,
# q_metric_corr). Each previously re-ran the corpus hash agg; the
# substrate materializes it once per (session, input vintage) —
# types × days rows, KB at any corpus size. plan= on each consumer
# keeps the audit pinned to the builder pipeline (the plan that
# executes at scale, where the substrate is a written rollup table).
def _daily_events_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
    )


def daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cloud_data_sync_spark.tables import session_substrate

    return session_substrate(
        spark,
        sf_dir,
        "analytics.daily_events",
        "events",
        lambda: _daily_events_build(spark, sf_dir),
    )


_SEASON_LAG_DAYS = 7


@register(
    "q_seasonal_forecast",
    oracle=f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, sum(value) AS v
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
scored AS (
  SELECT a.event_type, a.d, a.v, p.v AS pred
  FROM daily a
  JOIN daily p ON p.event_type = a.event_type
              AND p.d = a.d - INTERVAL {_SEASON_LAG_DAYS} DAY
  WHERE a.v <> 0
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       floor(avg(abs(v - pred) / abs(v)) * 1000000) / 1000000 AS mape,
       floor(avg((pred - v) / v) * 1000000) / 1000000 AS bias
FROM scored GROUP BY event_type ORDER BY event_type
""",
    doc=(
        "Seasonal-naive forecast backtest: predict each (event_type, "
        "day)'s total as the value {lag} days earlier and report MAPE "
        "and signed bias per type — the baseline every production "
        "forecasting pipeline must beat, and the cheapest drift alarm "
        "for a metrics warehouse. The lag is a calendar self-JOIN on "
        "(type, day-{lag}), not lag({lag}) over a row window — row "
        "offsets silently misalign when days are missing. Plan shape: "
        "ONE corpus hash agg to (type, day) cells — the shared "
        "daily-events substrate — then the self-join and the readout "
        "agg run on the aggregate-sized daily table (types x days "
        "rows — KB at any corpus size)."
    ).format(lag=_SEASON_LAG_DAYS),
    plan=lambda spark, sf_dir: _seasonal_forecast_report(
        _daily_events_build(spark, sf_dir)
    ),
)
def q_seasonal_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _seasonal_forecast_report(daily_events(spark, sf_dir))


def _seasonal_forecast_report(daily_nv: DataFrame) -> DataFrame:
    daily = daily_nv.select("event_type", "d", "v")
    a = daily.alias("a")
    p = daily.alias("p")
    scored = a.join(
        p,
        (F.col("p.event_type") == F.col("a.event_type"))
        & (F.col("p.d") == F.date_sub(F.col("a.d"), _SEASON_LAG_DAYS)),
    ).filter(F.col("a.v") != 0)
    return (
        scored.groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.count("*").alias("n_days"),
            floor_ratio(
                F.avg(F.abs(F.col("a.v") - F.col("p.v")) / F.abs(F.col("a.v"))),
                6,
            ).alias("mape"),
            floor_ratio(
                F.avg((F.col("p.v") - F.col("a.v")) / F.col("a.v")), 6
            ).alias("bias"),
        )
        .orderBy("event_type")
    )


_CUPED_SPLIT_DAY = 15  # pre-period covariate: days 1..15; metric: 16+


@register(
    "q_ab_cuped",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 2 AS arm,
         coalesce(sum(CASE WHEN day(ts) <= {_CUPED_SPLIT_DAY}
                           THEN value END), 0) AS x,
         coalesce(sum(CASE WHEN day(ts) > {_CUPED_SPLIT_DAY}
                           THEN value END), 0) AS y
  FROM events GROUP BY user_id
),
cell AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
  FROM per_user GROUP BY arm
),
pool AS (
  SELECT sum(CASE WHEN arm = 1 THEN n ELSE 0 END) AS n1,
         sum(CASE WHEN arm = 0 THEN n ELSE 0 END) AS n0,
         sum(CASE WHEN arm = 1 THEN sx ELSE 0 END) AS sx1,
         sum(CASE WHEN arm = 0 THEN sx ELSE 0 END) AS sx0,
         sum(CASE WHEN arm = 1 THEN sy ELSE 0 END) AS sy1,
         sum(CASE WHEN arm = 0 THEN sy ELSE 0 END) AS sy0,
         sum(n) AS n, sum(sx) AS sx, sum(sy) AS sy,
         sum(sxx) AS sxx, sum(sxy) AS sxy, sum(syy) AS syy
  FROM cell
),
fit AS (
  SELECT *, (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta FROM pool
)
SELECT CAST(n1 AS BIGINT) AS n_treat, CAST(n0 AS BIGINT) AS n_ctrl,
       floor((sy1 / n1 - sy0 / n0) * 10000) / 10000 AS diff_raw,
       floor(((sy1 / n1 - theta * (sx1 / n1))
              - (sy0 / n0 - theta * (sx0 / n0))) * 10000) / 10000
         AS diff_cuped,
       floor(theta * 10000) / 10000 AS theta,
       floor((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)) * 10000) / 10000
         AS var_reduction
FROM fit
""",
    doc=(
        "CUPED variance-reduced experiment readout (the industry-"
        "standard companion to q_ab_welch): each user's pre-period value "
        f"sum (days 1..{_CUPED_SPLIT_DAY}) is the covariate, the "
        "post-period sum is the metric, arms are md5-keyed on user_id "
        "(deterministic across engines/retries — the assignment "
        "property rand() splits lose), theta = cov(x,y)/var(x) pooled, "
        "adjusted metric y - theta*(x - mean(x)). var_reduction = "
        "corr(x,y)^2 is exactly the variance CUPED removes. Plan shape: "
        "ONE user-key hash agg over the event stream (the only shuffle "
        "that touches facts), a 2-row arm rollup, and the closed-form "
        "readout on one row — at 100 TB this is a single co-partition "
        "pass however many users exist."
    ),
)
def q_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the moment pipeline is generated SQL TEXT (the q_bootstrap_ci
    # lesson): the Column form issued ~100 py4j calls of driver-side
    # plan build per invocation; the parsed plan is identical
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.expr(
            f"coalesce(sum(CASE WHEN day(ts) <= {_CUPED_SPLIT_DAY}"
            " THEN value END), 0.0D) AS x"
        ),
        F.expr(
            f"coalesce(sum(CASE WHEN day(ts) > {_CUPED_SPLIT_DAY}"
            " THEN value END), 0.0D) AS y"
        ),
    ).selectExpr(
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), 16, 10)"
        " AS BIGINT) % 2 AS arm",
        "x",
        "y",
    )
    cell = per_user.groupBy("arm").agg(
        F.expr("count(*) AS n"),
        F.expr("sum(x) AS sx"),
        F.expr("sum(y) AS sy"),
        F.expr("sum(x * x) AS sxx"),
        F.expr("sum(x * y) AS sxy"),
        F.expr("sum(y * y) AS syy"),
    )
    pool = cell.agg(
        *[
            F.expr(
                f"sum(CASE WHEN arm = {a} THEN {c} ELSE 0.0D END) AS {c}{a}"
            )
            for c in ("n", "sx", "sy")
            for a in (1, 0)
        ],
        *[
            F.expr(f"sum({c}) AS {c}")
            for c in ("n", "sx", "sy", "sxx", "sxy", "syy")
        ],
    )
    # try_divide on every data-dependent denominator: an empty arm
    # (n1/n0 = 0) or a zero-variance covariate makes these 0/0 — a
    # job-killing ANSI error on vanilla Spark 4, NULL natively on
    # DuckDB, so NULL is the cross-engine answer (adversarial suite)
    fit = pool.selectExpr(
        "*",
        "try_divide(n * sxy - sx * sy, n * sxx - sx * sx) AS theta",
    )
    return fit.selectExpr(
        "CAST(n1 AS BIGINT) AS n_treat",
        "CAST(n0 AS BIGINT) AS n_ctrl",
        "floor((try_divide(sy1, n1) - try_divide(sy0, n0)) * 10000)"
        " / 10000 AS diff_raw",
        "floor(((try_divide(sy1, n1) - theta * try_divide(sx1, n1))"
        " - (try_divide(sy0, n0) - theta * try_divide(sx0, n0)))"
        " * 10000) / 10000 AS diff_cuped",
        "floor(theta * 10000) / 10000 AS theta",
        "floor(try_divide((n * sxy - sx * sy) * (n * sxy - sx * sy),"
        " (n * sxx - sx * sx) * (n * syy - sy * sy)) * 10000) / 10000"
        " AS var_reduction",
    )


_RFM_P1, _RFM_P2 = 1.0 / 3.0, 2.0 / 3.0
_RFM_EPOCH = "1990-01-01"


@register(
    "q_rfm_segments",
    oracle=f"""
WITH cust AS (
  SELECT o_custkey,
         max(date_diff('day', DATE '{_RFM_EPOCH}', CAST(o_orderdate AS DATE)))
           AS r,
         CAST(count(*) AS BIGINT) AS f,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS m
  FROM orders GROUP BY o_custkey
),
cut AS (
  SELECT quantile_cont(r, [{_RFM_P1!r}, {_RFM_P2!r}]) AS rc,
         quantile_cont(f, [{_RFM_P1!r}, {_RFM_P2!r}]) AS fc,
         quantile_cont(m, [{_RFM_P1!r}, {_RFM_P2!r}]) AS mc
  FROM cust
),
scored AS (
  SELECT (CASE WHEN r <= rc[1] THEN 1 WHEN r <= rc[2] THEN 2 ELSE 3 END) * 100
       + (CASE WHEN f <= fc[1] THEN 1 WHEN f <= fc[2] THEN 2 ELSE 3 END) * 10
       + (CASE WHEN m <= mc[1] THEN 1 WHEN m <= mc[2] THEN 2 ELSE 3 END)
           AS segment,
         m
  FROM cust CROSS JOIN cut
)
SELECT CAST(segment AS BIGINT) AS segment,
       CAST(count(*) AS BIGINT) AS n_customers,
       floor(CAST(sum(m) AS DOUBLE) / count(*)) / 100 AS avg_monetary
FROM scored GROUP BY segment ORDER BY segment
""",
    doc=(
        "RFM (recency/frequency/monetary) customer segmentation — the "
        "standard CRM rollup — with the scale-correct scoring plan: "
        "tertile cutoffs come from ONE exact-percentile aggregate over "
        "the per-customer table (a 1-row broadcast pack, the same exact-"
        "interpolation contract q_agg_percentiles pins cross-engine) and "
        "score assignment is a map-side CASE — NOT a global ntile(), "
        "which would single-partition-sort the customer table (the "
        "anti-pattern the plan audit forbids). Recency is integer days "
        "since a fixed epoch and monetary sums in EXACT integer cents "
        "(per-row round, then BIGINT sums), so all three metrics, the "
        "percentile cutoffs, and the segment averages are order-"
        "independent — a double avg() floored at the cent grid flipped "
        "between engines at sf0.001. "
        "Plan: customer hash agg (the only fact shuffle) -> 1-row "
        "cutoff pack -> map-side scoring -> <=27-group rollup."
    ),
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max(
                F.datediff(
                    F.col("o_orderdate").cast("date"), F.lit(_RFM_EPOCH).cast("date")
                )
            ).alias("r"),
            F.count("*").alias("f"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("m"),
        )
    )
    cut = cust.agg(
        F.expr(f"percentile(r, array({_RFM_P1!r}, {_RFM_P2!r}))").alias("rc"),
        F.expr(f"percentile(f, array({_RFM_P1!r}, {_RFM_P2!r}))").alias("fc"),
        F.expr(f"percentile(m, array({_RFM_P1!r}, {_RFM_P2!r}))").alias("mc"),
    )

    def score(v: str, c: str):
        return (
            F.when(F.col(v) <= F.col(c).getItem(0), 1)
            .when(F.col(v) <= F.col(c).getItem(1), 2)
            .otherwise(3)
        )

    scored = cust.crossJoin(F.broadcast(cut)).select(
        (score("r", "rc") * 100 + score("f", "fc") * 10 + score("m", "mc"))
        .cast("long")
        .alias("segment"),
        "m",
    )
    return (
        scored.groupBy("segment")
        .agg(
            F.count("*").alias("n_customers"),
            (
                F.floor(F.sum("m").cast("double") / F.count("*")) / 100
            ).alias("avg_monetary"),
        )
        .orderBy("segment")
    )


@register(
    "q_benford_audit",
    oracle="""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
              1, 1) AS BIGINT) AS digit
  FROM orders WHERE o_totalprice >= 1
),
counts AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY digit
),
tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM counts)
SELECT digit, n,
       floor(n / total * 1000000) / 1000000 AS obs_share,
       floor(log10(1 + 1.0 / digit) * 1000000) / 1000000 AS benford_share,
       floor((n - total * log10(1 + 1.0 / digit))
             * (n - total * log10(1 + 1.0 / digit))
             / (total * log10(1 + 1.0 / digit)) * 10000) / 10000 AS chi2_term
FROM counts CROSS JOIN tot
ORDER BY digit
""",
    doc=(
        "Benford first-digit audit over order totals — the classic "
        "anomaly screen for fabricated or unit-mangled monetary data "
        "(natural multiplicative amounts follow P(d) = log10(1+1/d); "
        "uniform synthetic data, like this fixture, flunks it loudly — "
        "that IS the demonstration). The first digit comes from the "
        "BIGINT's decimal string, never floor(log10(x)) arithmetic, "
        "which misclassifies exact powers of ten when log10 lands one "
        "ulp under the integer. Plan shape: map-side digit projection, "
        "one <=9-group hash agg, a 1-row total pack, and the chi-square "
        "contribution computed per digit row — one corpus scan, "
        "constant-size everything after."
    ),
)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    digits = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") >= 1)
        .select(
            F.substring(
                F.floor("o_totalprice").cast("long").cast("string"), 1, 1
            )
            .cast("long")
            .alias("digit")
        )
    )
    counts = digits.groupBy("digit").agg(F.count("*").alias("n"))
    tot = counts.agg(F.sum("n").cast("double").alias("total"))
    exp_share = F.log10(1 + 1.0 / F.col("digit"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            floor_ratio(F.col("n") / F.col("total"), 6).alias("obs_share"),
            floor_ratio(exp_share, 6).alias("benford_share"),
            floor_ratio(
                (F.col("n") - F.col("total") * exp_share)
                * (F.col("n") - F.col("total") * exp_share)
                / (F.col("total") * exp_share),
                4,
            ).alias("chi2_term"),
        )
        .orderBy("digit")
    )


_ACF_MAX_LAG = 7


@register(
    "q_acf",
    oracle=f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
stats AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS tot,
         sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx
  FROM daily GROUP BY event_type
),
pairs AS (
  SELECT a.event_type, CAST(a.d - p.d AS BIGINT) AS lag,
         CAST(count(*) AS BIGINT) AS n_pairs,
         sum(CAST(a.x AS DECIMAL(19,0)) * CAST(p.x AS DECIMAL(19,0))) AS spp,
         CAST(sum(a.x) AS BIGINT) AS sa, CAST(sum(p.x) AS BIGINT) AS sp
  FROM daily a
  JOIN daily p ON p.event_type = a.event_type
              AND p.d >= a.d - INTERVAL {_ACF_MAX_LAG} DAY
              AND p.d < a.d
  GROUP BY a.event_type, a.d - p.d
)
SELECT s.event_type AS event_type, lag, n_pairs,
       floor((CAST(spp AS DOUBLE) - (CAST(tot AS DOUBLE) / n) * sa
                  - (CAST(tot AS DOUBLE) / n) * sp
                  + n_pairs * ((CAST(tot AS DOUBLE) / n)
                               * (CAST(tot AS DOUBLE) / n)))
             / (CAST(sxx AS DOUBLE) - n * ((CAST(tot AS DOUBLE) / n)
                           * (CAST(tot AS DOUBLE) / n)))
             * 1000000) / 1000000 AS acf
FROM pairs p JOIN stats s ON s.event_type = p.event_type
ORDER BY event_type, lag
""",
    doc=(
        "Autocorrelation function of the daily event-count series per "
        "type, lags 1..{k}: the time-series diagnostic that decides "
        "whether a metric needs seasonal adjustment (q_seasonal_forecast) "
        "or is white noise. The estimator is the standard lag-k sample "
        "autocorrelation, computed CROSS-ENGINE-EXACTLY: daily counts are "
        "integers, so every aggregate the formula consumes (sum xt*xt-k, "
        "sum x, sum x^2, pair counts) is an exact integer — the squared/"
        "product moments accumulate in DECIMAL(38,0) so they stay exact "
        "even where sum(x*x) would overflow int64 (daily counts beyond "
        "~3e9 at 100 TB; Spark non-ANSI would wrap silently while DuckDB "
        "promotes, breaking parity asymmetrically) — order-independent "
        "under any shuffle/merge schedule, and the only float arithmetic "
        "is one closed-form scalar per (type, lag), written "
        "token-for-token identically in both engines. Lags come "
        "from ONE calendar-bounded self-join on the (type, day) AGGREGATE "
        "(k joins would rescan; lag(k) row windows misalign on missing "
        "days), so after the single corpus-sized hash agg — the shared "
        "daily-events substrate — everything is "
        "KB-scale: types x days rows, types x {k} out. At 100 TB the only "
        "change is the daily agg's shuffle volume — O(types x days x "
        "partitions) partials, never rows."
    ).format(k=_ACF_MAX_LAG),
    plan=lambda spark, sf_dir: _acf_report(_daily_events_build(spark, sf_dir)),
)
def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _acf_report(daily_events(spark, sf_dir))


def _acf_report(daily_nv: DataFrame) -> DataFrame:
    daily = daily_nv.select("event_type", "d", F.col("n").alias("x"))
    stats = daily.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("tot"),
        F.sum(
            F.col("x").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)")
        ).alias("sxx"),
    )
    a, p = daily.alias("a"), daily.alias("p")
    pairs = (
        a.join(
            p,
            (F.col("p.event_type") == F.col("a.event_type"))
            & (F.col("p.d") >= F.date_sub(F.col("a.d"), _ACF_MAX_LAG))
            & (F.col("p.d") < F.col("a.d")),
        )
        .groupBy(
            F.col("a.event_type").alias("event_type"),
            F.datediff(F.col("a.d"), F.col("p.d")).cast("long").alias("lag"),
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(
                F.col("a.x").cast("decimal(19,0)")
                * F.col("p.x").cast("decimal(19,0)")
            ).alias("spp"),
            F.sum("a.x").alias("sa"),
            F.sum("p.x").alias("sp"),
        )
    )
    # mu and mu2 are written as the same token sequence as the oracle so
    # the scalar IEEE ops run in the same order on both engines; every
    # aggregate input is an exact integer, so this closed form is the ONLY
    # float arithmetic in the query
    mu = F.col("tot").cast("double") / F.col("n")
    mu2 = mu * mu
    return (
        pairs.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            "lag",
            "n_pairs",
            floor_ratio(
                (
                    F.col("spp").cast("double")
                    - mu * F.col("sa")
                    - mu * F.col("sp")
                    + F.col("n_pairs") * mu2
                )
                / (F.col("sxx").cast("double") - F.col("n") * mu2),
                6,
            ).alias("acf"),
        )
        .orderBy("event_type", "lag")
    )


@register(
    "q_cusum_changepoint",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
walked AS (
  SELECT event_type, d, x,
         sum(x) OVER (PARTITION BY event_type ORDER BY d
                      ROWS UNBOUNDED PRECEDING) AS cum,
         row_number() OVER (PARTITION BY event_type ORDER BY d) AS idx,
         CAST(sum(x) OVER (PARTITION BY event_type) AS DOUBLE)
           / count(*) OVER (PARTITION BY event_type) AS mu,
         count(*) OVER (PARTITION BY event_type) AS n_days
  FROM daily
),
scored AS (
  SELECT event_type, d, n_days, cum - idx * mu AS s,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY abs(cum - idx * mu) DESC, d) AS rk
  FROM walked
)
SELECT event_type, CAST(n_days AS BIGINT) AS n_days, d AS change_day,
       floor(abs(s) * 1000000) / 1000000 AS max_dev,
       CAST(CASE WHEN s > 0 THEN 1 WHEN s < 0 THEN -1 ELSE 0 END
            AS BIGINT) AS direction
FROM scored WHERE rk = 1 ORDER BY event_type
""",
    doc=(
        "CUSUM change-point detection on the daily event-count series per "
        "type: the cumulative sum of deviations from the series mean "
        "peaks AT the change point (Page's classic offline CUSUM), so the "
        "argmax day, its deviation magnitude, and the drift direction are "
        "the alarm a metrics warehouse raises when a deploy shifts a "
        "rate. Cross-engine exact by construction: daily counts and their "
        "running sums are BIGINTs, the mean is one division, and "
        "S_t = cum_t - t*mu is a two-op scalar — both engines walk "
        "identical IEEE doubles, and the argmax tie-breaks on the "
        "earliest day. Plan shape: ONE corpus hash agg to (type, day) "
        "cells, then two windows and the argmax rank all ride a single "
        "types-partitioned exchange of the KB-scale daily table. At "
        "100 TB only the first agg sees the corpus; a streaming variant "
        "is the same arithmetic over q_stream_running_totals state."
    ),
    plan=lambda spark, sf_dir: _cusum_report(
        _daily_events_build(spark, sf_dir)
    ),
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cusum_report(daily_events(spark, sf_dir))


def _cusum_report(daily_nv: DataFrame) -> DataFrame:
    daily = daily_nv.select("event_type", "d", F.col("n").alias("x"))
    by_day = Window.partitionBy("event_type").orderBy("d")
    whole = Window.partitionBy("event_type")
    walked = daily.select(
        "event_type",
        "d",
        F.sum("x").over(by_day.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.row_number().over(by_day).alias("idx"),
        (F.sum("x").over(whole).cast("double") / F.count("*").over(whole)).alias("mu"),
        F.count("*").over(whole).alias("n_days"),
    )
    s = F.col("cum") - F.col("idx") * F.col("mu")
    scored = walked.select(
        "event_type",
        "d",
        "n_days",
        s.alias("s"),
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy(F.abs(s).desc(), "d"))
        .alias("rk"),
    )
    return (
        scored.filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("n_days").cast("long").alias("n_days"),
            F.col("d").alias("change_day"),
            floor_ratio(F.abs(F.col("s")), 6).alias("max_dev"),
            F.when(F.col("s") > 0, 1)
            .when(F.col("s") < 0, -1)
            .otherwise(0)
            .cast("long")
            .alias("direction"),
        )
        .orderBy("event_type")
    )


# Kolmogorov-Smirnov critical coefficient for alpha=0.05 (two-sample)
_KS_COEF = 1.358


@register(
    "q_ks_drift",
    oracle=f"""
WITH marked AS (
  SELECT event_type, value,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 2 AS arm
  FROM events
),
cells AS (
  SELECT event_type, value,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0
  FROM marked GROUP BY event_type, value
),
walked AS (
  SELECT event_type, value,
         sum(c1) OVER (PARTITION BY event_type ORDER BY value
                       ROWS UNBOUNDED PRECEDING) AS cum1,
         sum(c0) OVER (PARTITION BY event_type ORDER BY value
                       ROWS UNBOUNDED PRECEDING) AS cum0,
         sum(c1) OVER (PARTITION BY event_type) AS n1,
         sum(c0) OVER (PARTITION BY event_type) AS n0
  FROM cells
),
scored AS (
  SELECT event_type, value, n1, n0,
         abs(CAST(cum1 AS DOUBLE) / n1 - CAST(cum0 AS DOUBLE) / n0) AS diff,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY abs(CAST(cum1 AS DOUBLE) / n1
                        - CAST(cum0 AS DOUBLE) / n0) DESC, value) AS rk
  FROM walked
)
SELECT event_type, CAST(n1 AS BIGINT) AS n_a, CAST(n0 AS BIGINT) AS n_b,
       floor(diff * 1000000) / 1000000 AS ks_stat,
       floor(value * 1000000) / 1000000 AS ks_at_value,
       CAST(diff > {_KS_COEF} * sqrt((n1 + n0) / (CAST(n1 AS DOUBLE) * n0))
            AS BIGINT) AS drift_flag
FROM scored WHERE rk = 1 ORDER BY event_type
""",
    doc=(
        "Two-sample Kolmogorov-Smirnov drift test per event type: split "
        "users into two deterministic md5 arms (the q_ab_cuped keying) "
        "and report the max CDF gap, where it occurs, and an alpha=0.05 "
        "flag ({c}*sqrt((n1+n2)/(n1*n2))). KS is the nonparametric "
        "complement to q_psi_drift: no binning choices, sensitive to any "
        "distributional change, the standard gate before trusting an A/B "
        "metric or a retrained-model feature. Exactness: per-(type, "
        "value) arm counts and their running sums are BIGINTs, so the "
        "empirical CDFs are exact-int/exact-int divisions and both "
        "engines compare identical doubles; the argmax tie-breaks on the "
        "smallest value. Plan shape: ONE corpus hash agg to (type, "
        "distinct value) cells, then the CDF walk is windows over that "
        "aggregate on a single types-partitioned exchange. At 100 TB a "
        "high-cardinality metric quantizes values to a fixed grid first "
        "(same plan, bounded cells); the per-type window sort spills, "
        "nothing else changes."
    ).format(c=_KS_COEF),
)
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    marked = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        (
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long")
            % 2
        ).alias("arm"),
    )
    cells = marked.groupBy("event_type", "value").agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("c0"),
    )
    by_val = Window.partitionBy("event_type").orderBy("value")
    whole = Window.partitionBy("event_type")
    walked = cells.select(
        "event_type",
        "value",
        F.sum("c1").over(by_val.rowsBetween(Window.unboundedPreceding, 0)).alias("cum1"),
        F.sum("c0").over(by_val.rowsBetween(Window.unboundedPreceding, 0)).alias("cum0"),
        F.sum("c1").over(whole).alias("n1"),
        F.sum("c0").over(whole).alias("n0"),
    )
    # try_divide: a one-sided split (every user hashed into one arm —
    # guaranteed when few users survive the degenerate-events filter)
    # zeroes n1 or n0; plain '/' is a job-killing ANSI error while
    # DuckDB's double /0 is NULL — NULL KS stat and NULL flag on both
    diff = F.abs(
        F.try_divide(F.col("cum1").cast("double"), F.col("n1"))
        - F.try_divide(F.col("cum0").cast("double"), F.col("n0"))
    )
    scored = walked.select(
        "event_type",
        "value",
        "n1",
        "n0",
        diff.alias("diff"),
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy(diff.desc(), "value"))
        .alias("rk"),
    )
    crit = F.lit(_KS_COEF) * F.sqrt(
        F.try_divide(
            F.col("n1") + F.col("n0"),
            F.col("n1").cast("double") * F.col("n0"),
        )
    )
    return (
        scored.filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("n1").cast("long").alias("n_a"),
            F.col("n0").cast("long").alias("n_b"),
            floor_ratio(F.col("diff"), 6).alias("ks_stat"),
            floor_ratio(F.col("value"), 6).alias("ks_at_value"),
            (F.col("diff") > crit).cast("long").alias("drift_flag"),
        )
        .orderBy("event_type")
    )


@register(
    "q_expectations",
    oracle="""
WITH base AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(o_custkey) AS BIGINT) AS n_cust,
         CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
         CAST(sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_pos,
         CAST(sum(CASE WHEN o_orderstatus IN ('O', 'F', 'P')
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_status,
         CAST(sum(CASE WHEN o_orderdate >= DATE '1992-01-01'
                        AND o_orderdate < DATE '1999-01-01'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_dates
  FROM orders
),
orphans AS (
  SELECT CAST(count(*) AS BIGINT) AS n_orphan
  FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM customer c
                    WHERE c.c_custkey = o.o_custkey)
),
checks AS (
  SELECT 'completeness_custkey' AS check_name,
         CAST(n_cust AS DOUBLE) / n AS metric,
         CAST(0.99 AS DOUBLE) AS threshold FROM base
  UNION ALL
  SELECT 'uniqueness_orderkey', CAST(n_keys AS DOUBLE) / n,
         CAST(1.0 AS DOUBLE) FROM base
  UNION ALL
  SELECT 'positive_totalprice', CAST(n_pos AS DOUBLE) / n,
         CAST(1.0 AS DOUBLE) FROM base
  UNION ALL
  SELECT 'accepted_status_values', CAST(n_status AS DOUBLE) / n,
         CAST(1.0 AS DOUBLE)
  FROM base
  UNION ALL
  SELECT 'orderdate_in_range', CAST(n_dates AS DOUBLE) / n,
         CAST(1.0 AS DOUBLE) FROM base
  UNION ALL
  SELECT 'referential_custkey',
         1.0 - CAST(n_orphan AS DOUBLE) / (SELECT n FROM base),
         CAST(1.0 AS DOUBLE)
  FROM orphans
)
SELECT check_name, floor(metric * 1000000) / 1000000 AS metric, threshold,
       CAST(metric >= threshold AS BIGINT) AS passed
FROM checks ORDER BY check_name
""",
    doc=(
        "Deequ-style data-quality expectations suite over the orders "
        "table: completeness, key uniqueness, value positivity, an "
        "accepted-values domain check, a date-range check, and FK "
        "referential integrity — each emitting (metric, threshold, "
        "passed), the contract gate a pipeline evaluates before "
        "publishing a table version. Plan shape: ONE scan computes every "
        "row-local check as conditional aggregates (map-side combined; "
        "the exact-uniqueness count is the only expression that shuffles "
        "values, and it shuffles keys, not rows), plus one broadcast "
        "anti-join count for the FK check — then the suite is a "
        "6-row literal melt of the 1-row aggregate. Metrics are "
        "exact-integer ratios, so both engines compare identical "
        "doubles against the thresholds. At 100 TB add checks by adding "
        "aggregate columns — the pass count stays one scan."
    ),
)
def q_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    base = o.agg(
        F.count("*").alias("n"),
        F.count("o_custkey").alias("n_cust"),
        F.countDistinct("o_orderkey").alias("n_keys"),
        F.sum((F.col("o_totalprice") > 0).cast("long")).alias("n_pos"),
        F.sum(
            F.col("o_orderstatus").isin("O", "F", "P").cast("long")
        ).alias("n_status"),
        F.sum(
            (
                (F.col("o_orderdate") >= F.lit("1992-01-01").cast("date"))
                & (F.col("o_orderdate") < F.lit("1999-01-01").cast("date"))
            ).cast("long")
        ).alias("n_dates"),
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orphans = (
        o.join(
            F.broadcast(cust),
            o["o_custkey"] == cust["c_custkey"],
            "left_anti",
        )
        .agg(F.count("*").alias("n_orphan"))
    )
    packed = base.crossJoin(F.broadcast(orphans))
    # try_divide: an EMPTY orders table (n = 0) must yield NULL metrics
    # and NULL pass flags — an expectations suite over no rows has no
    # evidence either way; plain '/' is an ANSI job-killer while
    # DuckDB's double /0 is NULL natively (empty-input probe, r9)
    checks = packed.selectExpr(
        """stack(6,
           'completeness_custkey', try_divide(CAST(n_cust AS DOUBLE), n), 0.99D,
           'uniqueness_orderkey', try_divide(CAST(n_keys AS DOUBLE), n), 1.0D,
           'positive_totalprice', try_divide(CAST(n_pos AS DOUBLE), n), 1.0D,
           'accepted_status_values', try_divide(CAST(n_status AS DOUBLE), n), 1.0D,
           'orderdate_in_range', try_divide(CAST(n_dates AS DOUBLE), n), 1.0D,
           'referential_custkey', 1.0D - try_divide(CAST(n_orphan AS DOUBLE), n), 1.0D
        ) AS (check_name, metric, threshold)"""
    )
    return checks.select(
        "check_name",
        floor_ratio(F.col("metric"), 6).alias("metric"),
        "threshold",
        (F.col("metric") >= F.col("threshold")).cast("long").alias("passed"),
    ).orderBy("check_name")


_LATE_BUCKET_S = (60, 600)


@register(
    "q_late_events",
    oracle=f"""
WITH seq AS (
  SELECT event_type, epoch_us(ts) AS tus,
         max(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY event_id
                                 ROWS UNBOUNDED PRECEDING) AS frontier
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN frontier > tus THEN 1 ELSE 0 END) AS BIGINT)
         AS ooo_count,
       floor(CAST(sum(CASE WHEN frontier > tus THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) * 1000000) / 1000000 AS ooo_frac,
       floor(CAST(max(frontier - tus) AS DOUBLE) / 1000000 * 1000000)
         / 1000000 AS max_lateness_s,
       CAST(sum(CASE WHEN frontier - tus > {_LATE_BUCKET_S[0]} * 1000000
                     THEN 1 ELSE 0 END) AS BIGINT) AS late_over_1m,
       CAST(sum(CASE WHEN frontier - tus > {_LATE_BUCKET_S[1]} * 1000000
                     THEN 1 ELSE 0 END) AS BIGINT) AS late_over_10m
FROM seq GROUP BY event_type ORDER BY event_type
""",
    doc=(
        "Watermark-lateness audit: treating event_id as the ingestion "
        "sequence, walk each type's arrival stream, track the event-time "
        "frontier (running max ts), and measure how far behind it each "
        "event arrives — out-of-order fraction, worst lateness, and "
        "counts beyond 1-minute/10-minute thresholds. This is THE "
        "statistic that tunes `withWatermark` for every streaming query "
        "in the engine (q_stream_*): a watermark below the observed "
        "lateness tail silently drops data, one far above it bloats "
        "state. Exactness: epoch-microsecond timestamps and their "
        "running max are BIGINTs end-to-end; the only doubles are the "
        "final ratio and the seconds rescale. Plan shape: ONE "
        "types-partitioned window walk (the sort spills at scale), then "
        "a types-bounded hash agg. At 100 TB the arrival proxy becomes "
        "the ingestion log's offset column — same plan."
    ),
)
def q_late_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
        F.max(F.unix_micros(F.col("ts").cast("timestamp")))
        .over(
            Window.partitionBy("event_type")
            .orderBy("event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("frontier"),
    )
    late = F.col("frontier") - F.col("tus")
    return (
        seq.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum((late > 0).cast("long")).alias("ooo_count"),
            floor_ratio(
                F.sum((late > 0).cast("long")).cast("double") / F.count("*"),
                6,
            ).alias("ooo_frac"),
            floor_ratio(F.max(late).cast("double") / 1000000, 6).alias(
                "max_lateness_s"
            ),
            F.sum(
                (late > _LATE_BUCKET_S[0] * 1000000).cast("long")
            ).alias("late_over_1m"),
            F.sum(
                (late > _LATE_BUCKET_S[1] * 1000000).cast("long")
            ).alias("late_over_10m"),
        )
        .orderBy("event_type")
    )


# z quantiles for the standard alpha=0.05 (two-sided) / 80%-power design
_Z_ALPHA = 1.96
_Z_BETA = 0.8416
_POWER_TARGET_LIFT = 0.01  # detect a 1% relative lift


@register(
    "q_power_analysis",
    oracle=f"""
WITH marked AS (
  SELECT value,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 2 AS arm,
         (abs(value) <= 1000000000 OR value IS NULL) AS valid
  FROM events
),
s AS (
  SELECT
    CAST(count(CASE WHEN arm = 1 AND valid THEN 1 END) AS BIGINT) AS n_a,
    CAST(count(CASE WHEN arm = 0 AND valid THEN 1 END) AS BIGINT) AS n_b,
    avg(CASE WHEN arm = 0 AND valid THEN value END) AS m_ctrl,
    var_samp(CASE WHEN arm = 1 AND valid THEN value END) AS v_a,
    var_samp(CASE WHEN arm = 0 AND valid THEN value END) AS v_b,
    CAST(count(CASE WHEN NOT valid THEN 1 END) AS BIGINT)
      AS n_dropped_invalid
  FROM marked
)
SELECT n_a, n_b, n_dropped_invalid,
       round(m_ctrl, 4) AS mean_ctrl,
       round(({_Z_ALPHA} + {_Z_BETA}) * sqrt(v_a / n_a + v_b / n_b), 4)
         AS mde_abs,
       round(({_Z_ALPHA} + {_Z_BETA}) * sqrt(v_a / n_a + v_b / n_b)
             / m_ctrl, 6) AS mde_rel,
       round(({_Z_ALPHA} + {_Z_BETA}) * ({_Z_ALPHA} + {_Z_BETA})
             * (v_a + v_b)
             / (({_POWER_TARGET_LIFT} * m_ctrl)
                * ({_POWER_TARGET_LIFT} * m_ctrl)), 2)
         AS n_per_arm_for_1pct
FROM s
""",
    doc=(
        "Experiment power analysis: the minimum detectable effect of the "
        "CURRENT traffic split (alpha=0.05 two-sided, 80% power) and the "
        "per-arm sample size a {lift:.0%} relative lift would require — "
        "the pre-registration readout every experimentation platform "
        "computes before an A/B launches, completing the q_ab_welch / "
        "q_ab_cuped experiment stack. Arms are the same deterministic "
        "md5(user_id) keying as q_ab_cuped. Plan shape: ONE conditional "
        "aggregation (both arms' count/mean/var ride the same single-"
        "pass partials — no per-arm scan, no join); the MDE/sample-size "
        "arithmetic is a projection over the one-row aggregate. Outputs "
        "are rounded to coarse grids on both engines so variance ulp "
        "noise (partial-merge order) cannot flip a reported digit; the "
        "required-n is reported on the same grid rather than ceil()ed, "
        "because ceil amplifies one ulp into an off-by-one integer. "
        "Values breaching the |value| <= 1e9 validity bound are "
        "excluded from the moments but counted in n_dropped_invalid "
        "(same single-pass aggregate), so a readout over censored "
        "data is visibly censored."
    ).format(lift=_POWER_TARGET_LIFT),
)
def q_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    # validity bound |value| <= 1e9 (mirrored in the oracle; NULL values
    # stay — they count toward n but not the variance): one corrupt
    # 1e12 observation inflates the variance estimate ~1e23 and the
    # recommended sample size to ~1e27 — a nonsense readout whose huge-
    # magnitude arithmetic also exposes cross-engine var_samp ulp
    # (different partial-merge orders). The q_decay_leaderboard bound.
    # The bound is a VALIDITY MARK, not a silent filter (r10 advice):
    # the same single-pass aggregate counts the excluded rows and the
    # readout carries n_dropped_invalid, so a power analysis over
    # heavily-censored data no longer looks identical to a clean one.
    marked = load_table(spark, sf_dir, "events").select(
        "value",
        (
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long")
            % 2
        ).alias("arm"),
        ((F.abs("value") <= 1_000_000_000) | F.col("value").isNull()).alias(
            "valid"
        ),
    )
    is_t = F.col("arm") == 1
    ok = F.col("valid")
    s = marked.agg(
        F.count(F.when(is_t & ok, 1)).alias("n_a"),
        F.count(F.when(~is_t & ok, 1)).alias("n_b"),
        F.avg(F.when(~is_t & ok, F.col("value"))).alias("m_ctrl"),
        F.var_samp(F.when(is_t & ok, F.col("value"))).alias("v_a"),
        F.var_samp(F.when(~is_t & ok, F.col("value"))).alias("v_b"),
        F.count(F.when(~ok, 1)).alias("n_dropped_invalid"),
    )
    z = _Z_ALPHA + _Z_BETA
    mde = z * F.sqrt(F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b"))
    target = _POWER_TARGET_LIFT * F.col("m_ctrl")
    return s.select(
        "n_a",
        "n_b",
        "n_dropped_invalid",
        F.round("m_ctrl", 4).alias("mean_ctrl"),
        F.round(mde, 4).alias("mde_abs"),
        F.round(mde / F.col("m_ctrl"), 6).alias("mde_rel"),
        F.round(
            z * z * (F.col("v_a") + F.col("v_b")) / (target * target), 2
        ).alias("n_per_arm_for_1pct"),
    )


@register(
    "q_metric_corr",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_days,
         sum(CAST(a.x AS DECIMAL(19,0)) * CAST(b.x AS DECIMAL(19,0))) AS sxy,
         CAST(sum(a.x) AS BIGINT) AS sx, CAST(sum(b.x) AS BIGINT) AS sy,
         sum(CAST(a.x AS DECIMAL(19,0)) * CAST(a.x AS DECIMAL(19,0))) AS sxx,
         sum(CAST(b.x AS DECIMAL(19,0)) * CAST(b.x AS DECIMAL(19,0))) AS syy
  FROM daily a
  JOIN daily b ON b.d = a.d AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT type_a, type_b, n_days,
       floor((n_days * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
             / sqrt((n_days * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                    * (n_days * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy))
             * 1000000) / 1000000 AS corr
FROM pairs ORDER BY type_a, type_b
""",
    doc=(
        "Cross-metric correlation matrix: Pearson correlation between "
        "every pair of event types' daily count series — the cross-"
        "series sibling of q_acf, and the screen an observability stack "
        "runs to find which metrics move together (a deploy that shifts "
        "'error' and 'purchase' together tells a different story than "
        "one that shifts 'error' alone). Cross-engine exact: daily "
        "counts are integers, the per-pair co-moments (n, sum xy, sum x, "
        "sum x^2) are exact BIGINTs, and the correlation is one closed-"
        "form scalar per pair written identically in both engines. Plan "
        "shape: ONE corpus hash agg to (type, day) cells — the shared "
        "daily-events substrate — a same-day "
        "self-join on the KB-scale aggregate (types^2-bounded output), "
        "one more bounded agg. At 100 TB only the first agg touches the "
        "corpus."
    ),
    plan=lambda spark, sf_dir: _metric_corr_report(
        _daily_events_build(spark, sf_dir)
    ),
)
def q_metric_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _metric_corr_report(daily_events(spark, sf_dir))


def _metric_corr_report(daily_nv: DataFrame) -> DataFrame:
    daily = daily_nv.select("event_type", "d", F.col("n").alias("x"))
    a, b = daily.alias("a"), daily.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.d") == F.col("a.d"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(
            F.count("*").alias("n_days"),
            F.sum(
                F.col("a.x").cast("decimal(19,0)")
                * F.col("b.x").cast("decimal(19,0)")
            ).alias("sxy"),
            F.sum("a.x").alias("sx"),
            F.sum("b.x").alias("sy"),
            F.sum(
                F.col("a.x").cast("decimal(19,0)")
                * F.col("a.x").cast("decimal(19,0)")
            ).alias("sxx"),
            F.sum(
                F.col("b.x").cast("decimal(19,0)")
                * F.col("b.x").cast("decimal(19,0)")
            ).alias("syy"),
        )
    )
    num = F.col("n_days") * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy")
    den = F.sqrt(
        (
            F.col("n_days") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx")
        )
        * (
            F.col("n_days") * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy")
        )
    )
    return pairs.select(
        "type_a",
        "type_b",
        "n_days",
        # try_divide: a zero-variance series (den = 0 — a single shared
        # day, or a constant daily count) has undefined correlation;
        # ANSI '/' kills the job, DuckDB's double /0 is NULL natively
        floor_ratio(F.try_divide(num, den), 6).alias("corr"),
    ).orderBy("type_a", "type_b")


@register(
    "q_cohort_ltv",
    oracle="""
WITH first AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id
),
sizes AS (
  SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_users
  FROM first GROUP BY cohort_week
),
cells AS (
  SELECT f.cohort_week,
         date_diff('day', f.cohort_week,
                   CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS week_n,
         sum(e.value) AS v
  FROM events e JOIN first f USING (user_id)
  GROUP BY 1, 2
)
SELECT c.cohort_week, CAST(c.week_n AS BIGINT) AS week_n, s.cohort_users,
       floor(sum(c.v) OVER (PARTITION BY c.cohort_week ORDER BY c.week_n
                            ROWS UNBOUNDED PRECEDING)
             / s.cohort_users * 10000) / 10000 AS ltv_per_user
FROM cells c JOIN sizes s USING (cohort_week)
ORDER BY cohort_week, week_n
""",
    doc=(
        "Cohort LTV curves: cumulative value per user by (first-seen "
        "week, weeks since) — the revenue-side sibling of q_retention's "
        "activity matrix, and the curve every growth team projects "
        "forward to price acquisition. Plan shape: first-touch is one "
        "user_id-keyed aggregate; the join back reuses the same user "
        "co-partition (broadcast when the user dim fits); the value "
        "aggregate shuffles (cohort, week) cells, not events; and the "
        "cumulative window runs over the KB-scale cell table (weeks per "
        "cohort), partitioned by cohort — no window ever sees the event "
        "stream. The running sum is a fixed-order fold over identical "
        "cell values, so both engines walk the same doubles."
    ),
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    sizes = first.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_users")
    )
    wk = F.to_date(F.date_trunc("week", F.col("ts")))
    cells = (
        ev.join(first, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(wk, F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_n"),
        )
        .agg(F.sum("value").alias("v"))
    )
    cum = F.sum("v").over(
        Window.partitionBy("cohort_week")
        .orderBy("week_n")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cells.join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_n",
            "cohort_users",
            floor_ratio(cum / F.col("cohort_users"), 4).alias("ltv_per_user"),
        )
        .orderBy("cohort_week", "week_n")
    )


_FUNNEL_FROM = "signup"
_FUNNEL_TO = "purchase"


@register(
    "q_funnel_time",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = '{_FUNNEL_FROM}'
                  THEN epoch_us(ts) END) AS s,
         min(CASE WHEN event_type = '{_FUNNEL_TO}'
                  THEN epoch_us(ts) END) AS p
  FROM events WHERE event_type IN ('{_FUNNEL_FROM}', '{_FUNNEL_TO}')
  GROUP BY user_id
)
SELECT CAST(count(s) AS BIGINT) AS n_entered,
       CAST(count(CASE WHEN p > s THEN 1 END) AS BIGINT) AS n_converted,
       floor(CAST(count(CASE WHEN p > s THEN 1 END) AS DOUBLE)
             / count(s) * 1000000) / 1000000 AS conv_rate,
       round(quantile_cont(CASE WHEN p > s THEN p - s END, 0.5)
             / 3600000000.0, 4) AS p50_hours,
       round(quantile_cont(CASE WHEN p > s THEN p - s END, 0.9)
             / 3600000000.0, 4) AS p90_hours,
       round(avg(CASE WHEN p > s THEN p - s END) / 3600000000.0, 4)
         AS mean_hours
FROM per_user
""",
    doc=(
        "Funnel time-to-convert: latency from each user's first "
        "'{a}' to their first subsequent '{b}' — conversion rate plus "
        "p50/p90/mean lag in hours, the metric that separates a slow "
        "funnel from a leaky one (q_funnel counts WHO converts; this "
        "measures HOW LONG conversion takes). Plan shape: ONE user-"
        "keyed conditional aggregate collapses the event stream to "
        "(first-{a}, first-{b}) epoch-microsecond pairs — exact BIGINTs "
        "— then the readout is a single aggregate over the users-scale "
        "set; the exact percentile swaps for approx_percentile's "
        "mergeable sketch at 100 TB with the identical plan (the "
        "q_agg_approx_quantiles pattern). Percentiles are rounded to "
        "4 dp AFTER the hours rescale so interpolation ulp noise "
        "cannot flip a digit."
    ).format(a=_FUNNEL_FROM, b=_FUNNEL_TO),
)
def q_funnel_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_FUNNEL_FROM, _FUNNEL_TO)
    )
    tus = F.unix_micros(F.col("ts").cast("timestamp"))
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == _FUNNEL_FROM, tus)).alias("s"),
        F.min(F.when(F.col("event_type") == _FUNNEL_TO, tus)).alias("p"),
    )
    lag = F.when(F.col("p") > F.col("s"), F.col("p") - F.col("s"))
    hours = 3600000000.0
    return per_user.agg(
        F.count("s").alias("n_entered"),
        F.count(lag).alias("n_converted"),
        # try_divide: zero funnel entries (count(s) = 0) is an ANSI
        # job-killer on plain '/'; DuckDB's double /0 is NULL natively
        floor_ratio(
            F.try_divide(F.count(lag).cast("double"), F.count("s")), 6
        ).alias("conv_rate"),
        F.round(F.percentile(lag, F.lit(0.5)) / hours, 4).alias("p50_hours"),
        F.round(F.percentile(lag, F.lit(0.9)) / hours, 4).alias("p90_hours"),
        F.round(F.avg(lag) / hours, 4).alias("mean_hours"),
    )


# chi-square critical value, alpha=0.05, df=1
_SRM_CRIT = 3.841


@register(
    "q_srm_check",
    oracle=f"""
WITH marked AS (
  SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 2 AS arm
  FROM (SELECT DISTINCT user_id FROM events)
),
s AS (
  SELECT CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM marked
)
SELECT n_a, n_b,
       floor(CAST(n_a AS DOUBLE) / (n_a + n_b) * 1000000) / 1000000
         AS split_frac,
       floor(((n_a - (n_a + n_b) / 2.0) * (n_a - (n_a + n_b) / 2.0)
               / ((n_a + n_b) / 2.0)
             + (n_b - (n_a + n_b) / 2.0) * (n_b - (n_a + n_b) / 2.0)
               / ((n_a + n_b) / 2.0)) * 1000000) / 1000000 AS chi2,
       CAST(((n_a - (n_a + n_b) / 2.0) * (n_a - (n_a + n_b) / 2.0)
               / ((n_a + n_b) / 2.0)
             + (n_b - (n_a + n_b) / 2.0) * (n_b - (n_a + n_b) / 2.0)
               / ((n_a + n_b) / 2.0)) > {_SRM_CRIT} AS BIGINT) AS srm_flag
FROM s
""",
    doc=(
        "Sample-ratio-mismatch (SRM) guardrail: chi-square test of the "
        "md5 arm split against the designed 50/50 over distinct users — "
        "the FIRST check every experimentation platform runs, because a "
        "skewed split invalidates q_ab_welch/q_ab_cuped/q_power_analysis "
        "no matter how significant their readouts look. Counting "
        "DISTINCT users (not events) is the point: per-event counts "
        "inherit activity skew and false-alarm. Plan shape: one "
        "user-distinct aggregate (keys-only shuffle) -> 1-row chi-square "
        "projection; exact integer counts make both engines' doubles "
        "identical. At 100 TB the distinct pre-aggregates map-side."
    ),
)
def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    marked = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .selectExpr(
            "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8),"
            " 16, 10) AS BIGINT) % 2 AS arm"
        )
    )
    s = marked.agg(
        F.expr("CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_a"),
        F.expr("CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b"),
    )
    # 2.0D, not 2.0: Spark SQL parses a bare decimal literal as
    # DECIMAL(2,1) and the whole chi-square would propagate as decimal
    # (DuckDB's 2.0 is a double) — the D suffix keeps both engines in
    # IEEE doubles end to end
    chi2 = (
        "((n_a - (n_a + n_b) / 2.0D) * (n_a - (n_a + n_b) / 2.0D)"
        " / ((n_a + n_b) / 2.0D)"
        " + (n_b - (n_a + n_b) / 2.0D) * (n_b - (n_a + n_b) / 2.0D)"
        " / ((n_a + n_b) / 2.0D))"
    )
    return s.selectExpr(
        "n_a",
        "n_b",
        "floor(CAST(n_a AS DOUBLE) / (n_a + n_b) * 1000000) / 1000000"
        " AS split_frac",
        f"floor({chi2} * 1000000) / 1000000 AS chi2",
        f"CAST({chi2} > {_SRM_CRIT} AS BIGINT) AS srm_flag",
    )


_MK_ITERS = 3


def _mk_iter_sql(i: int) -> str:
    prev = f"pi{i - 1}"
    return f"""
pi{i} AS (
  SELECT norm.next_type AS state, sum({prev}.pr * norm.p) AS pr
  FROM norm JOIN {prev} ON {prev}.state = norm.prev_type
  GROUP BY norm.next_type
)"""


@register(
    "q_markov_stationary",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
trans AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
),
norm AS (
  SELECT prev_type, next_type,
         CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type) AS p
  FROM trans
),
states AS (
  SELECT prev_type AS state FROM norm
  UNION
  SELECT next_type FROM norm
),
pi0 AS (
  SELECT state, 1.0 / (SELECT count(*) FROM states) AS pr FROM states
)"""
    + "".join("," + _mk_iter_sql(i) for i in range(1, _MK_ITERS + 1))
    + f"""
SELECT s.state, round(coalesce(pi{_MK_ITERS}.pr, 0.0), 6) AS stationary
FROM states s LEFT JOIN pi{_MK_ITERS} ON pi{_MK_ITERS}.state = s.state
ORDER BY s.state
""",
    doc=(
        "Stationary distribution of the event-type Markov chain ({k} "
        "power-iteration steps from uniform over the q_event_transitions "
        "matrix): the long-run share of time a user journey spends in "
        "each state — the summary that turns the transition matrix into "
        "a ranking of where sessions actually settle. Plan shape: the "
        "corpus pays ONE user-sequencing shuffle to build the "
        "states²-bounded transition aggregate (the q_event_transitions "
        "plan); every iteration is then a broadcast join + hash agg over "
        "≤ states² rows — the q_pagerank iterative-join shape at "
        "constant size. Like q_pagerank, per-state sums of ≤ states "
        "doubles round to 6 dp only at the output boundary."
    ).format(k=_MK_ITERS),
)
def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    seq = ev.select(
        "event_type",
        F.lag("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev_type"),
    )
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )
    # the normalized transition matrix is types x types rows (~25), but its
    # lineage is the corpus-scale per-user lag window: every power-iteration
    # round below references it, and lazily each reference re-runs the
    # window (different downstream projections defeat ReuseExchange) —
    # materialize the tiny matrix once and iterate over the checkpoint
    norm = materialize(
        trans.select(
            "prev_type",
            "next_type",
            (
                F.col("n").cast("double")
                / F.sum("n").over(Window.partitionBy("prev_type"))
            ).alias("p"),
        ),
        eager=False,
    )
    states = (
        norm.select(F.col("prev_type").alias("state"))
        .union(norm.select("next_type"))
        .distinct()
    )
    s_cnt = states.agg(F.count("*").alias("s"))
    pi = states.crossJoin(F.broadcast(s_cnt)).select(
        "state", (F.lit(1.0) / F.col("s")).alias("pr")
    )
    for _ in range(_MK_ITERS):
        pi = (
            norm.join(
                F.broadcast(pi), pi["state"] == norm["prev_type"]
            )
            .groupBy(F.col("next_type").alias("state"))
            .agg(F.sum(F.col("pr") * F.col("p")).alias("pr"))
        )
    return (
        states.join(F.broadcast(pi.withColumnRenamed("pr", "pr_f")), "state", "left")
        .select(
            "state",
            F.round(F.coalesce("pr_f", F.lit(0.0)), 6).alias("stationary"),
        )
        .orderBy("state")
    )


# Shared ranked-spend substrate: per-customer exact-cent spend with its
# GLOBAL rank, computed in the distributed two-phase form (see the
# q_spend_gini doc), consumed by the Gini coefficient and the Lorenz
# curve. plan= on each consumer pins the audit to this builder.
def _ranked_spend_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("x")
        )
    )
    # phase 1: ascending range partitions; pid is captured in the
    # range-partitioned stage, before the per-pid window's hash exchange
    ranged = cust.repartitionByRange(F.col("x"), F.col("o_custkey")).select(
        "o_custkey", "x", F.spark_partition_id().alias("pid")
    )
    loc = ranged.withColumn(
        "r_loc",
        F.row_number().over(
            Window.partitionBy("pid").orderBy("x", "o_custkey")
        ),
    )
    # phase 2: prefix offsets — one row per shuffle partition (config-
    # bounded), so the global running-sum window is safe here
    sizes = loc.groupBy("pid").agg(F.count("*").alias("cnt"))
    offs = sizes.select(
        "pid",
        (
            F.sum("cnt").over(
                Window.orderBy("pid").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            )
            - F.col("cnt")
        ).alias("off"),
    )
    tot = cust.agg(
        F.count("*").alias("n"), F.sum("x").alias("sx")
    )
    return (
        loc.join(F.broadcast(offs), "pid")
        .crossJoin(F.broadcast(tot))
        .selectExpr("x", "off + r_loc AS i", "n", "sx")
    )


def ranked_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cloud_data_sync_spark.tables import session_substrate

    return session_substrate(
        spark,
        sf_dir,
        "analytics.ranked_spend",
        "orders",
        lambda: _ranked_spend_build(spark, sf_dir),
    )


@register(
    "q_spend_gini",
    oracle="""
WITH cust AS (
  SELECT o_custkey, sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS x
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS i FROM cust
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx
  FROM cust
),
agg AS (
  SELECT sum(CAST(i AS HUGEINT) * x) AS six,
         sum(CASE WHEN i > (SELECT n - n // 10 FROM tot)
                  THEN x ELSE 0 END) AS topx
  FROM ranked
)
SELECT t.n AS n_customers, t.sx AS total_cents,
       floor((2.0D * CAST(a.six AS DOUBLE)
              - (CAST(t.n AS DOUBLE) + 1) * CAST(t.sx AS DOUBLE))
             / (CAST(t.n AS DOUBLE) * CAST(t.sx AS DOUBLE))
             * 1000000) / 1000000 AS gini,
       floor(CAST(a.topx AS DOUBLE) / t.sx * 1000000) / 1000000
         AS top_decile_share
FROM tot t CROSS JOIN agg a
""".replace("2.0D", "2.0"),
    doc=(
        "Gini coefficient of customer spend concentration plus the "
        "top-decile spend share — the inequality statistics a dataset "
        "card reports for source/contributor concentration (a corpus "
        "where 10% of sources carry 90% of mass needs different "
        "sampling than a flat one). Cross-engine EXACT: spend is "
        "integer cents, the rank-weighted sum runs in DECIMAL(38,0)/"
        "HUGEINT (order-independent under any merge schedule), and "
        "gini = (2*sum(i*x) - (n+1)*sum(x)) / (n*sum(x)) is one "
        "closed-form scalar on identical integers. The ranking is the "
        "SCALE-CORRECT distributed form, not a global window: "
        "repartitionByRange on (spend, custkey) gives ascending "
        "partitions, local ranks come from per-partition windows, and "
        "global rank = local rank + the prefix offset of earlier "
        "partitions — the offset table is one row per shuffle "
        "partition (cluster config, not data, cardinality), so its "
        "running-sum window and the 1-row totals pack are both "
        "bounded. Partition boundaries affect only locality: the "
        "(spend, custkey) order is strict-total, so ranks — and the "
        "statistic — are identical however the sampler splits ranges. "
        "The ranked table is a shared substrate; the Lorenz curve "
        "(q_lorenz_curve) rides the same ranking."
    ),
    plan=lambda spark, sf_dir: _spend_gini_report(
        _ranked_spend_build(spark, sf_dir)
    ),
)
def q_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spend_gini_report(ranked_spend(spark, sf_dir))


def _spend_gini_report(ranked: DataFrame) -> DataFrame:
    # coalesce(max(n), 0): over an EMPTY ranked table max() is NULL
    # while the oracle's count-derived n is 0 — zero customers, not an
    # unknown number of them (empty-input probe, r9)
    agg = ranked.agg(
        F.expr("coalesce(max(n), 0) AS n"),
        F.expr("max(sx) AS sx"),
        F.expr("sum(CAST(i AS DECIMAL(38, 0)) * x) AS six"),
        F.expr("sum(CASE WHEN i > n - n div 10 THEN x ELSE 0 END) AS topx"),
    )
    return agg.selectExpr(
        "CAST(n AS BIGINT) AS n_customers",
        "CAST(sx AS BIGINT) AS total_cents",
        "floor((2.0D * CAST(six AS DOUBLE)"
        " - (CAST(n AS DOUBLE) + 1) * CAST(sx AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))"
        " * 1000000) / 1000000 AS gini",
        "floor(CAST(topx AS DOUBLE) / sx * 1000000) / 1000000"
        " AS top_decile_share",
    )


@register(
    "q_lorenz_curve",
    oracle="""
WITH cust AS (
  SELECT o_custkey, sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS x
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS i,
         count(*) OVER () AS n, sum(x) OVER () AS sx
  FROM cust
),
cells AS (
  SELECT CAST((i * 10 - 1) // n + 1 AS BIGINT) AS decile,
         CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(x) AS BIGINT) AS spend_cents
  FROM ranked GROUP BY (i * 10 - 1) // n + 1
)
SELECT decile, n_customers, spend_cents,
       floor(CAST(sum(spend_cents) OVER (ORDER BY decile
                                         ROWS UNBOUNDED PRECEDING)
                  AS DOUBLE)
             / (SELECT CAST(max(sx) AS DOUBLE) FROM ranked)
             * 1000000) / 1000000 AS cum_spend_share
FROM cells ORDER BY decile
""",
    doc=(
        "Lorenz curve of customer spend: cumulative spend share held by "
        "the bottom d/10 of customers for each decile d — the curve "
        "behind q_spend_gini's scalar (Gini = 1 - 2 x area under this "
        "curve), and the picture a dataset card shows next to the "
        "concentration number. Rides the SAME shared ranked-spend "
        "substrate (distributed two-phase ranking, exact integer "
        "cents), so the curve costs two bounded aggregates on top of "
        "the ranking: decile assignment is pure integer arithmetic "
        "((i*10 - 1) div n + 1 — never a percent_rank float boundary), "
        "the decile rollup is a <=10-group hash agg, and the cumulative "
        "window runs over <=10 rows. Every input to the final division "
        "is an exact BIGINT, so both engines floor identical doubles."
    ),
    plan=lambda spark, sf_dir: _lorenz_report(
        _ranked_spend_build(spark, sf_dir)
    ),
)
def q_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lorenz_report(ranked_spend(spark, sf_dir))


def _lorenz_report(ranked: DataFrame) -> DataFrame:
    cells = (
        ranked.selectExpr(
            "CAST((i * 10 - 1) div n + 1 AS BIGINT) AS decile", "x", "sx"
        )
        .groupBy("decile")
        .agg(
            F.expr("CAST(count(*) AS BIGINT) AS n_customers"),
            F.expr("CAST(sum(x) AS BIGINT) AS spend_cents"),
            F.expr("max(sx) AS sx"),
        )
    )
    cum = F.sum("spend_cents").over(
        Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cells.select(
            "decile",
            "n_customers",
            "spend_cents",
            floor_ratio(cum.cast("double") / F.col("sx"), 6).alias(
                "cum_spend_share"
            ),
        )
        .orderBy("decile")
    )


# decay anchor: the day after the fixture's last event; in production
# this is the job's run date. Ages are whole weeks back from it.
_DECAY_ANCHOR = "2024-02-01"
_DECAY_MAX_WEEKS = 4
_DECAY_TOPK = 10


@register(
    "q_decay_leaderboard",
    oracle=f"""
WITH scored AS (
  SELECT CASE WHEN json_valid(props)
              THEN CAST(json_extract(props, '$.k') AS BIGINT) END AS item_k,
         value,
         CASE WHEN abs(value) <= 1000000000 THEN
           CAST(round(value * 1000000) AS BIGINT)
             * (1 << ({_DECAY_MAX_WEEKS} - least(greatest(
                    CAST(date_diff('day', CAST(ts AS DATE),
                         DATE '{_DECAY_ANCHOR}') AS BIGINT) // 7, 0),
                  {_DECAY_MAX_WEEKS}))) END AS w_micro
  FROM events WHERE props IS NOT NULL
),
g AS (
  SELECT item_k,
         CAST(count(w_micro) AS BIGINT) AS n_events,
         CAST(sum(w_micro) AS BIGINT) AS decayed_micro,
         count(CASE WHEN value IS NOT NULL
                     AND abs(value) > 1000000000 THEN 1 END) AS nd
  FROM scored GROUP BY item_k
),
pack AS (
  SELECT CAST(coalesce(sum(nd), 0) AS BIGINT) AS n_dropped_invalid FROM g
)
SELECT item_k, n_events, decayed_micro, n_dropped_invalid
FROM g, pack
WHERE n_events >= 1
ORDER BY decayed_micro DESC, item_k NULLS LAST
LIMIT {_DECAY_TOPK}
""",
    doc=(
        "Time-decayed trending leaderboard: top-{k} items by "
        "exponentially-decayed value (half-life one week, {w}-week "
        "horizon) — the 'what's hot NOW' ranking every feed/monitoring "
        "surface computes, where last week's burst counts half of "
        "today's. Cross-engine EXACT by construction: values quantize "
        "to integer micro-units and the decay multiplies by 2^(horizon "
        "- age) — a POSITIVE power-of-two INTEGER weight (1..16), so "
        "the score is an exact BIGINT sum, order-independent under any "
        "merge schedule (the float form 2^-age would make the total "
        "sum-order-dependent). Plan shape: map-only JSON extract + "
        "weight projection, ONE items-bounded hash agg (map-side "
        "combined), TakeOrderedAndProject top-k — no sort of the "
        "aggregate, no shuffle beyond the agg. Ages clamp to [0, "
        "horizon] on BOTH engines — events dated after the anchor "
        "(late or clock-skewed arrivals once the anchor is a run "
        "date) get full weight instead of tripping the engines' "
        "different negative-division conventions (Spark div "
        "truncates toward zero, DuckDB // floors). At 100 TB the "
        "anchor comes from the run date and nothing else changes. "
        "Events breaching the |value| <= 1e9 validity bound are "
        "excluded from scores but COUNTED: the board carries "
        "n_dropped_invalid (a 1-row pack re-aggregated from the items-"
        "bounded groups — no second fact scan), so heavy censoring is "
        "visible in the readout instead of silent."
    ).format(k=_DECAY_TOPK, w=_DECAY_MAX_WEEKS),
)
def q_decay_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # validity bound |value| <= 1e9 (mirrored in the oracle): the exact
    # integer-micro path multiplies by a 2^4 weight, so a corrupt
    # magnitude (1e12 observed in the adversarial events) overflows the
    # BIGINT — a job-killing ANSI ARITHMETIC_OVERFLOW. A billion units
    # in ONE event is corrupt by contract for a leaderboard (it would
    # also dominate the ranking, which is worse than dropping it).
    # The bound is a guarded CASE, not a silent filter (r10 advice):
    # excluded rows are counted per item group in the SAME hash
    # aggregate, and the board carries the global n_dropped_invalid —
    # derived from the items-bounded groups (the grand-total-from-
    # partials shape, one events scan), so a leaderboard over
    # heavily-censored data is visibly censored.
    # spread(): the JSON parse + exact-micro CASE is the per-row wall and
    # the events parquet arrives in ONE split locally, serializing the
    # scoring pass on one core. Keyed on the natural unique key; no-op at
    # real scale. Row-count-adaptive (the q_percentiles_adaptive footer
    # pattern): the aggregate here feeds two consumers, so the spread
    # exchange materializes twice at small SFs and measured 1.23× WORSE
    # at sf0.1 while winning 0.52× at sf1 — spread only past ~500k
    # events (exact footer count, re-decided per vintage).
    from cloud_data_sync_spark.tables import spread, table_num_rows

    ev0 = load_table(spark, sf_dir, "events").filter(
        F.col("props").isNotNull()
    )
    if table_num_rows(sf_dir, "events") > 500_000:
        ev0 = spread(ev0, "event_id")
    scored = (
        ev0
        .selectExpr(
            "CAST(get_json_object(props, '$.k') AS BIGINT) AS item_k",
            "value",
            "CASE WHEN abs(value) <= 1000000000.0D THEN"
            " CAST(round(value * 1000000) AS BIGINT)"
            f" * shiftleft(1, {_DECAY_MAX_WEEKS} - least(greatest("
            f"CAST(datediff(DATE '{_DECAY_ANCHOR}', CAST(ts AS DATE))"
            f" AS BIGINT) div 7, 0), {_DECAY_MAX_WEEKS})) END AS w_micro",
        )
    )
    g = scored.groupBy("item_k").agg(
        F.expr("CAST(count(w_micro) AS BIGINT) AS n_events"),
        F.expr("CAST(sum(w_micro) AS BIGINT) AS decayed_micro"),
        F.expr(
            "count(CASE WHEN value IS NOT NULL"
            " AND abs(value) > 1000000000.0D THEN 1 END) AS _nd"
        ),
    )
    pack = g.agg(
        F.coalesce(F.sum("_nd"), F.lit(0))
        .cast("long")
        .alias("n_dropped_invalid")
    )
    return (
        g.filter(F.col("n_events") >= 1)
        .select("item_k", "n_events", "decayed_micro")
        .crossJoin(F.broadcast(pack))
        .orderBy(F.desc("decayed_micro"), F.col("item_k").asc_nulls_last())
        .limit(_DECAY_TOPK)
    )


@register(
    "q_seasonality_strength",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
dow AS (
  SELECT event_type, d, x, dayofweek(d) AS w FROM daily
),
prof AS (
  SELECT event_type, w, CAST(count(*) AS BIGINT) AS nw,
         CAST(sum(x) AS BIGINT) AS sw,
         sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sww
  FROM dow GROUP BY event_type, w
),
stats AS (
  SELECT event_type,
         CAST(sum(nw) AS BIGINT) AS n, CAST(sum(sw) AS BIGINT) AS s,
         CAST(sum(sww) AS DECIMAL(38,0)) AS ss,
         sum(CAST(sw AS DOUBLE) * sw / nw) AS s_within
  FROM prof GROUP BY event_type
)
SELECT event_type, n AS n_days,
       floor((s_within - CAST(s AS DOUBLE) * s / n)
             / (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
             * 1000000) / 1000000 AS seasonal_r2
FROM stats ORDER BY event_type
""",
    doc=(
        "Weekly-seasonality strength per event type: the fraction of "
        "the daily-count variance explained by the day-of-week profile "
        "(the one-way-ANOVA R² = between-group SS / total SS over "
        "weekday groups) — the statistic that decides whether "
        "q_seasonal_forecast's day-7 lag is the right baseline for a "
        "series or a flat mean would do. Exactness: daily counts and "
        "the per-weekday sums are exact BIGINTs and the squared moments "
        "exact DECIMAL(38,0)s — immune to int64 overflow at extreme "
        "daily counts (integer moments ride the shared daily-events "
        "substrate); "
        "sum(sw²/nw) adds ≤7 engine-identical doubles in the same "
        "grouped-sum shape both engines share, and the R² is one "
        "closed-form scalar per type. Plan: substrate → ≤types×7 hash "
        "agg → types-bounded stats — after the one corpus agg, "
        "everything is KB-scale."
    ),
    plan=lambda spark, sf_dir: _seasonality_report(
        _daily_events_build(spark, sf_dir)
    ),
)
def q_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _seasonality_report(daily_events(spark, sf_dir))


def _seasonality_report(daily_nv: DataFrame) -> DataFrame:
    dow = daily_nv.selectExpr(
        "event_type", "n AS x", "dayofweek(d) AS w"
    )
    prof = dow.groupBy("event_type", "w").agg(
        F.expr("CAST(count(*) AS BIGINT) AS nw"),
        F.expr("CAST(sum(x) AS BIGINT) AS sw"),
        F.expr(
            "sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sww"
        ),
    )
    stats = prof.groupBy("event_type").agg(
        F.expr("CAST(sum(nw) AS BIGINT) AS n"),
        F.expr("CAST(sum(sw) AS BIGINT) AS s"),
        F.expr("CAST(sum(sww) AS DECIMAL(38,0)) AS ss"),
        F.expr("sum(CAST(sw AS DOUBLE) * sw / nw) AS s_within"),
    )
    return stats.selectExpr(
        "event_type",
        "n AS n_days",
        # try_divide: a zero-variance daily series (every day's count
        # identical — one observed day suffices) zeroes the total sum of
        # squares; ANSI '/' is a job-killer, DuckDB's double /0 is NULL
        "floor(try_divide(s_within - CAST(s AS DOUBLE) * s / n,"
        " CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n)"
        " * 1000000) / 1000000 AS seasonal_r2",
    ).orderBy("event_type")


@register(
    "q_ols_regression",
    oracle="""
WITH feat AS (
  SELECT event_type,
         CAST(hour(ts) AS BIGINT) AS x1,
         CAST(isodow(ts) AS BIGINT) AS x2,
         CAST(round(value * 1000000) AS BIGINT) AS vm
  FROM events
),
mom AS (
  SELECT event_type,
         CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(x1) AS HUGEINT) AS s1, CAST(sum(x2) AS HUGEINT) AS s2,
         CAST(sum(vm) AS HUGEINT) AS sy,
         CAST(sum(x1 * x1) AS HUGEINT) AS s11,
         CAST(sum(x2 * x2) AS HUGEINT) AS s22,
         CAST(sum(x1 * x2) AS HUGEINT) AS s12,
         CAST(sum(x1 * vm) AS HUGEINT) AS s1y,
         CAST(sum(x2 * vm) AS HUGEINT) AS s2y,
         CAST(sum(CAST(vm AS HUGEINT) * vm) AS HUGEINT) AS syy
  FROM feat GROUP BY event_type
),
cen AS (
  SELECT event_type, n, s1, s2, sy,
         n * s11 - s1 * s1 AS c11,
         n * s22 - s2 * s2 AS c22,
         n * s12 - s1 * s2 AS c12,
         n * s1y - s1 * sy AS c1y,
         n * s2y - s2 * sy AS c2y,
         n * syy - sy * sy AS cyy
  FROM mom
),
beta AS (
  SELECT event_type, n, s1, s2, sy, c1y, c2y, cyy,
         CAST(c1y * c22 - c2y * c12 AS DOUBLE)
           / CAST(c11 * c22 - c12 * c12 AS DOUBLE) AS b1m,
         CAST(c2y * c11 - c1y * c12 AS DOUBLE)
           / CAST(c11 * c22 - c12 * c12 AS DOUBLE) AS b2m
  FROM cen
)
SELECT event_type, CAST(n AS BIGINT) AS n_events,
       floor((CAST(sy AS DOUBLE) - b1m * s1 - b2m * s2)
             / n / 1000000 * 1000000) / 1000000 AS intercept,
       floor(b1m / 1000000 * 1000000000) / 1000000000 AS beta_hour,
       floor(b2m / 1000000 * 1000000000) / 1000000000 AS beta_isodow,
       floor((b1m * c1y + b2m * c2y) / CAST(cyy AS DOUBLE)
             * 1000000) / 1000000 AS r2
FROM beta ORDER BY event_type
""",
    doc=(
        "Two-regressor OLS via closed-form normal equations: per event "
        "type, regress value on hour-of-day and ISO weekday (Mon=1..7 on "
        "BOTH engines: Spark weekday()+1 == DuckDB isodow(); plain "
        "dayofweek() disagrees on the Sunday origin and would silently "
        "shift the regressor) — the 'does this metric follow a "
        "time-of-day/weekday trend' screen that complements "
        "q_seasonality_strength's ANOVA with directional coefficients. "
        "CROSS-ENGINE EXACT inputs: values quantize to integer "
        "micro-units, so every moment (n, sums, co-moments, sum vm²) is "
        "an exact integer whose per-row product AND accumulator run in "
        "DECIMAL (Spark) / HUGEINT (DuckDB) — the DECIMAL cast sits on an "
        "operand INSIDE each sum, never outside it, because "
        "CAST(sum(bigint*bigint) AS DECIMAL) still wraps in int64 before "
        "the cast — order-independent under any merge schedule, immune "
        "to the int64 products that overflow at 100 TB (n x s1y alone "
        "passes 2^63 at ~1e5 rows x 1e14) — and the centered Cramer "
        "solve is token-identical closed-form scalar math from those "
        "exact integers (identical doubles out, floored at 1e-6/1e-9). "
        "Plan: ONE map-side-combined hash agg over the corpus to "
        "types x 10 moments, then per-type scalar algebra — the exact "
        "shape any 100 TB regression fit takes (moments, never rows)."
    ),
)
def q_ols_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(): the 10 DECIMAL(38) moment accumulators run on BigDecimal
    # per row — the per-row wall — and the events parquet is one split
    # locally, so the whole moment pass ran on one core (2.2 s at sf1).
    # Keyed on the natural unique key (r11 rule); no-op at real scale.
    from cloud_data_sync_spark.tables import spread

    feat = spread(
        load_table(spark, sf_dir, "events"), "event_id"
    ).selectExpr(
        "event_type",
        "CAST(hour(ts) AS BIGINT) AS x1",
        "CAST(weekday(ts) + 1 AS BIGINT) AS x2",
        "CAST(round(value * 1000000) AS BIGINT) AS vm",
    )
    # Accumulate in DECIMAL *inside* the sum, not after it: sum(x1 * vm)
    # would run the per-row product AND the accumulator in BIGINT and wrap
    # silently in non-ANSI Spark (n x s1y passes 2^63 at ~1e5 rows x 1e14
    # micro-units) while DuckDB's sum(BIGINT) promotes to HUGEINT and stays
    # exact — the asymmetric-overflow trap (r6 advice). The first operand's
    # DECIMAL(19,0) widens the product to DECIMAL(38,0) before any row is
    # added; the outer cast only normalizes the plain sums' DECIMAL(29,0)
    # to one type for the centered algebra below.
    d = "CAST({v} AS DECIMAL(38,0))"
    dl = "CAST({v} AS DECIMAL(19,0))"
    x1d, x2d, vmd = (dl.format(v=v) for v in ("x1", "x2", "vm"))
    mom = feat.groupBy("event_type").agg(
        F.expr(d.format(v="count(*)") + " AS n"),
        F.expr(d.format(v=f"sum({x1d})") + " AS s1"),
        F.expr(d.format(v=f"sum({x2d})") + " AS s2"),
        F.expr(d.format(v=f"sum({vmd})") + " AS sy"),
        F.expr(d.format(v=f"sum({x1d} * x1)") + " AS s11"),
        F.expr(d.format(v=f"sum({x2d} * x2)") + " AS s22"),
        F.expr(d.format(v=f"sum({x1d} * x2)") + " AS s12"),
        F.expr(d.format(v=f"sum({x1d} * vm)") + " AS s1y"),
        F.expr(d.format(v=f"sum({x2d} * vm)") + " AS s2y"),
        F.expr(d.format(v=f"sum({vmd} * vm)") + " AS syy"),
    )
    cen = mom.selectExpr(
        "event_type",
        "n",
        "s1",
        "s2",
        "sy",
        "n * s11 - s1 * s1 AS c11",
        "n * s22 - s2 * s2 AS c22",
        "n * s12 - s1 * s2 AS c12",
        "n * s1y - s1 * sy AS c1y",
        "n * s2y - s2 * sy AS c2y",
        "n * syy - sy * sy AS cyy",
    )
    beta = cen.selectExpr(
        "event_type",
        "n",
        "s1",
        "s2",
        "sy",
        "c1y",
        "c2y",
        "cyy",
        # try_divide: a singular normal matrix (all of a type's events in
        # ONE hour/isodow cell — guaranteed with a handful of degenerate
        # events) zeroes the determinant; ANSI '/' kills the job,
        # DuckDB's double /0 is NULL natively — NULL betas on both
        "try_divide(CAST(c1y * c22 - c2y * c12 AS DOUBLE),"
        " CAST(c11 * c22 - c12 * c12 AS DOUBLE)) AS b1m",
        "try_divide(CAST(c2y * c11 - c1y * c12 AS DOUBLE),"
        " CAST(c11 * c22 - c12 * c12 AS DOUBLE)) AS b2m",
    )
    return beta.selectExpr(
        "event_type",
        "CAST(n AS BIGINT) AS n_events",
        "floor(try_divide(CAST(sy AS DOUBLE) - b1m * s1 - b2m * s2, n)"
        " / 1000000 * 1000000) / 1000000 AS intercept",
        "floor(b1m / 1000000 * 1000000000) / 1000000000 AS beta_hour",
        "floor(b2m / 1000000 * 1000000000) / 1000000000 AS beta_isodow",
        "floor(try_divide(b1m * c1y + b2m * c2y, CAST(cyy AS DOUBLE))"
        " * 1000000) / 1000000 AS r2",
    ).orderBy("event_type")


# -- round-17 additions: mutual-information feature ranking, survival ---------

# Feature definitions for the MI ranking: (name, DuckDB expression).
# The Spark side builds the identical expressions via F.expr so the two
# engines cannot diverge on bucketing.
_MI_FEATURES = (
    ("source", "source"),
    ("nchars_b500", "CAST(CAST(floor(n_chars / 500.0) AS BIGINT) AS STRING)"),
    ("nchars_b100", "CAST(CAST(floor(n_chars / 100.0) AS BIGINT) AS STRING)"),
)


@register(
    "q_mutual_info",
    oracle=f"""
WITH cells AS (
  {" UNION ALL ".join(
      f"SELECT '{name}' AS feature, {expr} AS fval, lang,"
      " count(*) AS c FROM documents GROUP BY fval, lang"
      for name, expr in _MI_FEATURES
  )}
),
marg AS (
  SELECT feature, fval, lang, c,
         sum(c) OVER (PARTITION BY feature) AS n,
         sum(c) OVER (PARTITION BY feature, fval) AS cx,
         sum(c) OVER (PARTITION BY feature, lang) AS cy
  FROM cells
)
SELECT feature,
       CAST(count(*) AS BIGINT) AS n_cells,
       floor(sum(-(CAST(cy AS DOUBLE) / n) * ln(CAST(cy AS DOUBLE) / n)
                 * c / cy) * 1000000) / 1000000 AS h_label,
       floor(sum(-(CAST(cx AS DOUBLE) / n) * ln(CAST(cx AS DOUBLE) / n)
                 * c / cx) * 1000000) / 1000000 AS h_feat,
       floor(sum((CAST(c AS DOUBLE) / n)
                 * ln(CAST(c AS DOUBLE) * n / (CAST(cx AS DOUBLE) * cy)))
             * 1000000) / 1000000 AS mi
FROM marg
GROUP BY feature
""",
    doc=(
        "Mutual-information feature ranking — which document metadata "
        "predicts the language label (the stratification question a "
        "corpus pipeline answers before sampling): per candidate "
        "feature, H(label), H(feature) and I(label; feature), all from "
        "ONE (feature, value, label) contingency aggregate. One explode "
        "fans each doc into its 3 feature assignments, one map-side-"
        "combinable hash aggregate builds the cell frame (bounded by "
        "feature-domain x label-domain, never row count), and the "
        "marginals are windows over that tiny frame. Entropy terms are "
        "weighted per-cell (sum of (cy/n)ln(cy/n) * c/cy restates the "
        "label marginal exactly) so the whole readout is one pass over "
        "cells with no second join. Floored at 1e-6 on both engines."
    ),
)
def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cells = (
        docs.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(name).alias("feature"),
                            F.expr(expr).alias("fval"),
                        )
                        for name, expr in _MI_FEATURES
                    ]
                )
            ).alias("p"),
            "lang",
        )
        .groupBy("p.feature", "p.fval", "lang")
        .agg(F.count("*").alias("c"))
    )
    n = F.sum("c").over(Window.partitionBy("feature"))
    cx = F.sum("c").over(Window.partitionBy("feature", "fval"))
    cy = F.sum("c").over(Window.partitionBy("feature", "lang"))
    marg = cells.select(
        "feature",
        "c",
        n.alias("n"),
        cx.alias("cx"),
        cy.alias("cy"),
    )
    d = lambda col: F.col(col).cast("double")  # noqa: E731
    return marg.groupBy("feature").agg(
        F.count("*").alias("n_cells"),
        floor_ratio(
            F.sum(
                -(d("cy") / d("n"))
                * F.log(d("cy") / d("n"))
                * d("c")
                / d("cy")
            ),
            6,
        ).alias("h_label"),
        floor_ratio(
            F.sum(
                -(d("cx") / d("n"))
                * F.log(d("cx") / d("n"))
                * d("c")
                / d("cx")
            ),
            6,
        ).alias("h_feat"),
        floor_ratio(
            F.sum(
                (d("c") / d("n"))
                * F.log(d("c") * d("n") / (d("cx") * d("cy")))
            ),
            6,
        ).alias("mi"),
    )


# Churn horizon for the survival analysis: a user whose last event is
# more than this far before the corpus frontier is labeled churned (the
# standard last-seen heuristic; 1 day against ~0.75-day mean inter-event gaps); active users are right-censored at the
# frontier.
_KM_HORIZON_US = 1 * 86_400_000_000


@register(
    "q_survival_km",
    oracle=f"""
WITH per_user AS (
  SELECT user_id, min(epoch_us(ts)) AS f, max(epoch_us(ts)) AS l
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY user_id
),
tmax AS (SELECT max(l) AS t FROM per_user),
durs AS (
  SELECT CASE WHEN l < t - {_KM_HORIZON_US} THEN 1 ELSE 0 END AS churned,
         CAST(floor((CASE WHEN l < t - {_KM_HORIZON_US} THEN l ELSE t END - f)
              / 3600000000.0) AS BIGINT) AS dur_hours
  FROM per_user, tmax
),
daily AS (
  SELECT dur_hours, sum(churned) AS d, sum(1 - churned) AS cens
  FROM durs GROUP BY dur_hours
),
risked AS (
  SELECT dur_hours, d, cens,
         (SELECT count(*) FROM durs)
           - coalesce(sum(d + cens) OVER (ORDER BY dur_hours
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_risk
  FROM daily
),
km AS (
  SELECT dur_hours, d, cens, n_risk,
         max(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
           OVER (ORDER BY dur_hours ROWS UNBOUNDED PRECEDING) AS dead_end,
         sum(CASE WHEN d > 0 AND d < n_risk
                  THEN ln(1.0 - d / CAST(n_risk AS DOUBLE)) ELSE 0.0 END)
           OVER (ORDER BY dur_hours ROWS UNBOUNDED PRECEDING) AS logs
  FROM risked
)
SELECT CAST(dur_hours AS BIGINT) AS t_hours,
       CAST(n_risk AS BIGINT) AS n_at_risk,
       CAST(d AS BIGINT) AS d_churned,
       CAST(cens AS BIGINT) AS c_censored,
       CASE WHEN dead_end = 1 THEN 0.0
            ELSE floor((exp(logs) - 0.000000001) * 1000000) / 1000000
            END AS surv
FROM km WHERE d > 0
""",
    doc=(
        "Kaplan-Meier survival over user lifetimes — the retention "
        "curve with CORRECT censoring (plain retention treats every "
        "still-active user as churned-at-last-event; KM right-censors "
        "them at the corpus frontier): per churn-time step, the risk "
        "set, churn/censor counts, and the product-limit survival "
        "estimate S(t) = prod(1 - d/n), computed as exp of a running "
        "log-sum with an explicit absorbing-zero flag (no ln(0) on "
        "either engine). One (user) hash aggregate does all row-scale "
        "work; the KM recursion runs on the per-hour rollup, whose "
        "cardinality is the observation window in hours — a bounded "
        "domain, which is what makes the unpartitioned running window "
        "admissible (same class as q_lorenz_curve's decile window)."
    ),
)
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    tus = F.unix_micros(F.col("ts").cast("timestamp"))
    per_user = ev.groupBy("user_id").agg(
        F.min(tus).alias("f"), F.max(tus).alias("l")
    )
    tmax = per_user.agg(F.max("l").alias("t"))
    churned = F.col("l") < F.col("t") - F.lit(_KM_HORIZON_US)
    end = F.when(churned, F.col("l")).otherwise(F.col("t"))
    durs = per_user.join(F.broadcast(tmax)).select(
        F.when(churned, 1).otherwise(0).alias("churned"),
        F.floor((end - F.col("f")) / 3_600_000_000.0)
        .cast("long")
        .alias("dur_hours"),
    )
    daily = durs.groupBy("dur_hours").agg(
        F.sum("churned").alias("d"),
        F.sum(F.lit(1) - F.col("churned")).alias("cens"),
    )
    n_users = durs.agg(F.count("*").alias("n_users"))
    w_prev = (
        Window.orderBy("dur_hours")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = Window.orderBy("dur_hours").rowsBetween(
        Window.unboundedPreceding, 0
    )
    with_n = daily.join(F.broadcast(n_users))
    n_risk = F.col("n_users") - F.coalesce(
        F.sum(F.col("d") + F.col("cens")).over(w_prev), F.lit(0)
    )
    risked = with_n.select(
        "dur_hours", "d", "cens", n_risk.alias("n_risk")
    )
    km = risked.select(
        "dur_hours",
        "d",
        "cens",
        "n_risk",
        F.max(F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0))
        .over(w_cum)
        .alias("dead_end"),
        F.sum(
            F.when(
                (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
                F.log(
                    F.lit(1.0)
                    - F.col("d") / F.col("n_risk").cast("double")
                ),
            ).otherwise(0.0)
        )
        .over(w_cum)
        .alias("logs"),
    )
    return km.filter(F.col("d") > 0).select(
        F.col("dur_hours").cast("long").alias("t_hours"),
        F.col("n_risk").cast("long").alias("n_at_risk"),
        F.col("d").cast("long").alias("d_churned"),
        F.col("cens").cast("long").alias("c_censored"),
        # epsilon-shifted floor: the product-limit estimate is an exact
        # rational that can land exactly ON a 1e-6 boundary (147/150 =
        # 0.98 did, at sf0.01), where the two engines' exp(sum(ln(...)))
        # round-trips straddle the floor. Shifting by 1e-9 — far above
        # either engine's ulp error, far below any KM step — pins both
        # to the same cell. Same shift verbatim in the oracle.
        F.when(F.col("dead_end") == 1, F.lit(0.0))
        .otherwise(
            F.floor((F.exp("logs") - F.lit(1e-9)) * 1_000_000) / 1_000_000
        )
        .alias("surv"),
    )


# Strict-order funnel stages, matched by FIRST qualifying timestamp:
# each stage must happen strictly after the user's matched previous
# stage (q_funnel counts users who did both in any order window;
# q_funnel_time measures the A->B gap; this is the k-stage ordered
# variant every product-analytics engine ships as windowFunnel).
_FUNNEL_STAGES = ("view", "click", "purchase")


@register(
    "q_funnel_steps",
    oracle=f"""
WITH s1 AS (
  SELECT user_id, min(epoch_us(ts)) AS t
  FROM events
  WHERE event_type = '{_FUNNEL_STAGES[0]}' AND user_id IS NOT NULL
  GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = '{_FUNNEL_STAGES[1]}' AND epoch_us(e.ts) > s1.t
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = '{_FUNNEL_STAGES[2]}' AND epoch_us(e.ts) > s2.t
  GROUP BY e.user_id
),
counts AS (
  SELECT 1 AS step, '{_FUNNEL_STAGES[0]}' AS stage,
         (SELECT count(*) FROM s1) AS n
  UNION ALL SELECT 2, '{_FUNNEL_STAGES[1]}', (SELECT count(*) FROM s2)
  UNION ALL SELECT 3, '{_FUNNEL_STAGES[2]}', (SELECT count(*) FROM s3)
)
SELECT CAST(step AS BIGINT) AS step, stage,
       CAST(n AS BIGINT) AS n_reached,
       floor(n / CAST((SELECT n FROM counts WHERE step = 1) AS DOUBLE)
             * 1000000) / 1000000 AS frac_of_start,
       floor(n / CAST((SELECT max(CASE WHEN c2.step = counts.step - 1
                                       THEN c2.n END) FROM counts c2)
                      AS DOUBLE) * 1000000) / 1000000 AS frac_of_prev
FROM counts
""",
    doc=(
        "Strict-order k-stage funnel (view -> click -> purchase), each "
        "stage matched by the FIRST timestamp strictly after the user's "
        "matched previous stage — the windowFunnel/sequenceMatch shape "
        "product-analytics engines ship, which q_funnel (order-free "
        "pair) and q_funnel_time (A->B gap) do not cover: a user who "
        "clicks before ever viewing does NOT advance. One filtered "
        "(user) aggregate per stage, chained by broadcast-joinable "
        "per-user frames (each at most user-cardinality, shrinking per "
        "stage); no correlated subquery and no row-scale second pass. "
        "frac_of_prev for step 1 is NULL by construction (no previous "
        "stage), emitted as such on both engines."
    ),
)
def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    tus = F.unix_micros(F.col("ts").cast("timestamp"))

    def stage(
        etype: str, prev: DataFrame | None
    ) -> DataFrame:
        e = ev.filter(F.col("event_type") == etype).select(
            "user_id", tus.alias("tu")
        )
        if prev is not None:
            p = prev.select(
                F.col("user_id").alias("pu"), F.col("t").alias("pt")
            )
            e = e.join(
                F.broadcast(p), e.user_id == F.col("pu")
            ).filter(F.col("tu") > F.col("pt"))
        return e.groupBy("user_id").agg(F.min("tu").alias("t"))

    s1 = stage(_FUNNEL_STAGES[0], None)
    s2 = stage(_FUNNEL_STAGES[1], s1)
    s3 = stage(_FUNNEL_STAGES[2], s2)
    rows = [
        s.agg(
            F.lit(i + 1).cast("long").alias("step"),
            F.lit(name).alias("stage"),
            F.count("*").alias("n_reached"),
        )
        for i, (name, s) in enumerate(
            zip(_FUNNEL_STAGES, (s1, s2, s3))
        )
    ]
    from functools import reduce as _reduce

    counts = _reduce(DataFrame.unionByName, rows)
    start = counts.filter(F.col("step") == 1).select(
        F.col("n_reached").alias("n_start")
    )
    prev = counts.select(
        (F.col("step") + 1).alias("pstep"),
        F.col("n_reached").alias("n_prev"),
    )
    return (
        counts.crossJoin(F.broadcast(start))
        .join(F.broadcast(prev), F.col("step") == F.col("pstep"), "left")
        .select(
            "step",
            "stage",
            "n_reached",
            floor_ratio(
                F.try_divide(
                    F.col("n_reached").cast("double"),
                    F.col("n_start").cast("double"),
                ),
                6,
            ).alias("frac_of_start"),
            floor_ratio(
                F.try_divide(
                    F.col("n_reached").cast("double"),
                    F.col("n_prev").cast("double"),
                ),
                6,
            ).alias("frac_of_prev"),
        )
    )


@register(
    "q_attribution_linear",
    oracle="""
WITH touches AS (
  SELECT user_id, event_type, epoch_us(ts) AS tt
  FROM events
  WHERE event_type <> 'purchase' AND user_id IS NOT NULL
),
purchases AS (
  SELECT event_id, user_id, epoch_us(ts) AS pt,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
  WHERE event_type = 'purchase' AND user_id IS NOT NULL
        AND value IS NOT NULL
),
credits AS (
  SELECT p.event_id, p.cents, t.event_type,
         count(*) OVER (PARTITION BY p.event_id) AS cnt
  FROM purchases p JOIN touches t
    ON p.user_id = t.user_id
   AND t.tt < p.pt AND t.tt >= p.pt - 604800000000
),
split AS (
  SELECT event_type,
         (cents * 1000000) // cnt AS ucents
  FROM credits
)
SELECT event_type AS touch_type,
       CAST(count(*) AS BIGINT) AS n_credits,
       floor(sum(ucents) / 100000000.0 * 10000) / 10000
         AS attributed_value
FROM split GROUP BY event_type
""",
    doc=(
        "Linear (equal-credit) multi-touch attribution — the "
        "complement of q_attribution's last-touch: each purchase "
        "splits its value EQUALLY across every touch by the same user "
        "in the preceding 7 days. The credit explosion is inherently a "
        "per-user interval join (purchases x their window's touches), "
        "so the join is user-keyed equi + time-range predicate — "
        "per-user pair volume is bounded by user activity, never "
        "corpus-wide, the q_join_range discipline. Money splits in "
        "EXACT integer micro-cents ((cents * 1e6) // n_touches, the "
        "q_rfm_segments integer-cents pattern): equal-credit shares of "
        "2-decimal values are decimal-lattice numbers where float "
        "re-association flips floor cells, and integer division is "
        "associative where double division is not."
    ),
)
def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    tus = F.unix_micros(F.col("ts").cast("timestamp"))
    touches = ev.filter(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("tu"),
        F.col("event_type").alias("touch_type"),
        tus.alias("tt"),
    )
    purchases = ev.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        "event_id",
        "user_id",
        tus.alias("pt"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    credits = purchases.join(
        touches,
        (F.col("user_id") == F.col("tu"))
        & (F.col("tt") < F.col("pt"))
        & (F.col("tt") >= F.col("pt") - F.lit(604_800_000_000)),
    ).select(
        "event_id",
        "cents",
        "touch_type",
        F.count("*").over(Window.partitionBy("event_id")).alias("cnt"),
    )
    split = credits.select(
        "touch_type",
        F.expr("(cents * 1000000) div cnt").alias("ucents"),
    )
    return split.groupBy("touch_type").agg(
        F.count("*").alias("n_credits"),
        (
            F.floor(F.sum("ucents") / 100_000_000.0 * 10_000) / 10_000
        ).alias("attributed_value"),
    )


@register(
    "q_hdr_percentiles",
    oracle="""
WITH pos AS (
  SELECT event_type, value FROM events WHERE value > 0
),
bucketed AS (
  SELECT event_type,
         CAST(floor(ln(value) / ln(2) + 0.000000001) AS BIGINT) AS b
  FROM pos
),
hist AS (
  SELECT event_type, b, count(*) AS c FROM bucketed GROUP BY event_type, b
),
cum AS (
  SELECT event_type, b, c,
         sum(c) OVER (PARTITION BY event_type ORDER BY b
                      ROWS UNBOUNDED PRECEDING) AS cc,
         sum(c) OVER (PARTITION BY event_type) AS n
  FROM hist
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n_pos,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(max(c) AS BIGINT) AS max_bucket,
       power(2.0, min(CASE WHEN cc >= 0.50 * n THEN b END) + 1) AS p50_ub,
       power(2.0, min(CASE WHEN cc >= 0.95 * n THEN b END) + 1) AS p95_ub,
       power(2.0, min(CASE WHEN cc >= 0.99 * n THEN b END) + 1) AS p99_ub
FROM cum GROUP BY event_type
""",
    doc=(
        "Mergeable log2-bucket percentile histogram (the HdrHistogram/"
        "DDSketch idea): per event_type, counts per power-of-two value "
        "bucket and the bucket upper bounds that cover p50/p95/p99 — "
        "bounded relative error by construction (factor-2 buckets; "
        "production uses finer log bases, same algebra). Why it is THE "
        "percentile at 100 TB: bucket counts are INTEGERS and ADD — "
        "mergeable across partitions, hours and clusters with no "
        "resort, where exact percentiles need a global rank pass "
        "(q_agg_percentiles) and GK sketches (q_agg_approx_quantiles) "
        "merge lossily. One hash aggregate over events; the cumulative "
        "window runs on the per-type bucket rollup (<=64 buckets per "
        "type). The ln/ln(2) bucket index is epsilon-shifted before "
        "floor: dollar values hit EXACT powers of two (64.00) where "
        "the engines' ln round-trips straddle the integer boundary — "
        "the q_survival_km lattice trap, same fix."
    ),
)
def q_hdr_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    pos = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    b = F.floor(
        F.log(F.col("value")) / F.log(F.lit(2.0)) + F.lit(1e-9)
    ).cast("long")
    hist = pos.groupBy("event_type", b.alias("b")).agg(
        F.count("*").alias("c")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "b",
        "c",
        F.sum("c").over(w_cum).alias("cc"),
        F.sum("c").over(w_all).alias("n"),
    )
    ub = lambda q: F.pow(  # noqa: E731
        F.lit(2.0),
        F.min(
            F.when(F.col("cc") >= q * F.col("n"), F.col("b"))
        )
        + 1,
    )
    return cum.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_pos"),
        F.count("*").alias("n_buckets"),
        F.max("c").cast("long").alias("max_bucket"),
        ub(0.50).alias("p50_ub"),
        ub(0.95).alias("p95_ub"),
        ub(0.99).alias("p99_ub"),
    )


@register(
    "q_theil_sen",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, sum(value) AS v
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
idx AS (
  SELECT event_type, d, v,
         date_diff('day', (SELECT min(d) FROM daily), d) AS t
  FROM daily
),
slopes AS (
  SELECT a.event_type, (b.v - a.v) / (b.t - a.t) AS slope
  FROM idx a JOIN idx b
    ON a.event_type = b.event_type AND a.t < b.t
),
med AS (
  SELECT event_type, count(*) AS n_pairs,
         quantile_cont(slope, 0.5) AS ts_slope
  FROM slopes GROUP BY event_type
),
icepts AS (
  SELECT i.event_type, i.v - m.ts_slope * i.t AS icept
  FROM idx i JOIN med m ON i.event_type = m.event_type
)
SELECT i.event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(max(m.n_pairs) AS BIGINT) AS n_pairs,
       floor(max(m.ts_slope) * 1000000) / 1000000 AS ts_slope,
       floor(quantile_cont(i.icept, 0.5) * 1000000) / 1000000
         AS ts_intercept
FROM icepts i JOIN med m ON i.event_type = m.event_type
GROUP BY i.event_type
""",
    doc=(
        "Theil-Sen robust trend per event_type — the median of all "
        "pairwise day-slopes plus the median intercept: resistant to "
        "the outlier days that drag q_ols_regression's least-squares "
        "fit (50% breakdown point vs 0%). The pairwise stage is the "
        "textbook scale trap AVOIDED structurally: slopes are computed "
        "on the per-(type, day) rollup substrate — a frame bounded by "
        "the observation window (~30 rows/type -> ~435 pairs/type), "
        "never on events — so the quadratic lives where quadratic is "
        "free and the row-scale work stays one hash aggregate. The "
        "exact median runs per type over that bounded pair frame."
    ),
    plan=lambda spark, sf_dir: _theil_sen_pipeline(
        spark, sf_dir, _daily_events_build(spark, sf_dir)
    ),
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _theil_sen_pipeline(spark, sf_dir, daily_events(spark, sf_dir))


def _theil_sen_pipeline(
    spark: SparkSession, sf_dir: str, daily: DataFrame
) -> DataFrame:
    d0 = daily.agg(F.min("d").alias("d0"))
    idx = daily.crossJoin(F.broadcast(d0)).select(
        "event_type",
        "v",
        F.datediff(F.col("d"), F.col("d0")).cast("long").alias("t"),
    )
    a, b = idx.alias("a"), idx.alias("b")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.t") < F.col("b.t")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.v") - F.col("a.v"))
            / (F.col("b.t") - F.col("a.t")).cast("double")
        ).alias("slope"),
    )
    med = slopes.groupBy("event_type").agg(
        F.count("*").alias("n_pairs"),
        F.expr("percentile(slope, 0.5D)").alias("ts_slope"),
    )
    icepts = idx.join(F.broadcast(med), "event_type").select(
        "event_type",
        "n_pairs",
        "ts_slope",
        (F.col("v") - F.col("ts_slope") * F.col("t")).alias("icept"),
    )
    return icepts.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.max("n_pairs").cast("long").alias("n_pairs"),
        (F.floor(F.max("ts_slope") * 1_000_000) / 1_000_000).alias(
            "ts_slope"
        ),
        (
            F.floor(F.expr("percentile(icept, 0.5D)") * 1_000_000)
            / 1_000_000
        ).alias("ts_intercept"),
    )


@register(
    "q_anomaly_seasonal",
    oracle="""
WITH base AS (
  SELECT event_type, hour(ts) AS h, value
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
),
prof AS (
  SELECT event_type, h, avg(value) AS mu, stddev_samp(value) AS sd,
         count(*) AS n
  FROM base GROUP BY event_type, h
),
flagged AS (
  SELECT b.event_type,
         CASE WHEN p.sd > 0 AND abs(b.value - p.mu) > 3 * p.sd
              THEN 1 ELSE 0 END AS hit,
         CASE WHEN p.sd > 0 THEN abs(b.value - p.mu) / p.sd END AS z
  FROM base b JOIN prof p
    ON b.event_type IS NOT DISTINCT FROM p.event_type AND b.h = p.h
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(hit) AS BIGINT) AS n_flagged,
       floor(sum(hit) / CAST(count(*) AS DOUBLE) * 1000000) / 1000000
         AS flag_frac,
       floor(max(z) * 10000) / 10000 AS max_z
FROM flagged GROUP BY event_type
""",
    doc=(
        "Seasonally-adjusted anomaly detection — the production form "
        "of q_anomaly_zscore: values score against their OWN "
        "(event_type, hour-of-day) profile, so a nightly-low metric is "
        "not 'anomalous' every night and a spike at 3am is not hidden "
        "by the daily mean (conditioning on the seasonal stratum is "
        "what monitors actually deploy). Two passes over events: one "
        "(type, hour) moment aggregate (24 x types rows, broadcast "
        "back) and one scoring pass with the per-type rollup — no "
        "window over row-scale data, profile join is broadcast. "
        "NULL-safe type equality keeps NULL event_type rows scored."
    ),
)
def q_anomaly_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select(
            "event_type", F.hour("ts").alias("h"), "value"
        )
    )
    prof = base.groupBy("event_type", "h").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sd"),
    )
    b, p = base.alias("b"), prof.alias("p")
    joined = b.join(
        F.broadcast(p),
        F.col("b.event_type").eqNullSafe(F.col("p.event_type"))
        & (F.col("b.h") == F.col("p.h")),
    )
    hit = F.when(
        (F.col("sd") > 0)
        & (F.abs(F.col("value") - F.col("mu")) > 3 * F.col("sd")),
        1,
    ).otherwise(0)
    z = F.when(
        F.col("sd") > 0, F.abs(F.col("value") - F.col("mu")) / F.col("sd")
    )
    return (
        joined.select(
            F.col("b.event_type").alias("event_type"),
            hit.alias("hit"),
            z.alias("z"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("hit").cast("long").alias("n_flagged"),
            floor_ratio(
                F.sum("hit") / F.count("*").cast("double"), 6
            ).alias("flag_frac"),
            (F.floor(F.max("z") * 10_000) / 10_000).alias("max_z"),
        )
    )


@register(
    "q_user_stickiness",
    oracle="""
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
dau AS (SELECT d, count(*) AS dau FROM du GROUP BY d),
wau AS (
  SELECT CAST(date_trunc('week', d) AS DATE) AS wk,
         count(DISTINCT user_id) AS wau
  FROM du GROUP BY wk
)
SELECT w.wk,
       CAST(w.wau AS BIGINT) AS wau,
       CAST(count(*) AS BIGINT) AS n_days,
       floor(avg(CAST(a.dau AS DOUBLE)) * 10000) / 10000 AS avg_dau,
       floor(avg(CAST(a.dau AS DOUBLE)) / w.wau * 1000000) / 1000000
         AS stickiness
FROM dau a JOIN wau w ON CAST(date_trunc('week', a.d) AS DATE) = w.wk
GROUP BY w.wk, w.wau
""",
    doc=(
        "DAU/WAU stickiness per week — the engagement ratio every "
        "growth team tracks (how much of the weekly audience shows up "
        "daily). One (day, user) distinct reduction feeds BOTH "
        "frequencies: daily actives as a count over it, weekly "
        "actives as a distinct over it — the expensive distinct runs "
        "once at day-user grain and everything above is bounded by "
        "the calendar. avg(DAU)/WAU == 1/7 of the textbook "
        "sum(DAU)/WAU form, chosen because it stays comparable for "
        "partial boundary weeks."
    ),
)
def q_user_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    du = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(F.col("ts").cast("date").alias("d"), "user_id")
        .distinct()
    )
    dau = du.groupBy("d").agg(F.count("*").alias("dau"))
    wk = F.date_trunc("week", F.col("d")).cast("date").alias("wk")
    wau = du.select(wk, "user_id").groupBy("wk").agg(
        F.countDistinct("user_id").alias("wau")
    )
    return (
        dau.select(wk, "dau")
        .join(F.broadcast(wau), "wk")
        .groupBy("wk", "wau")
        .agg(
            F.count("*").alias("n_days"),
            (
                F.floor(F.avg(F.col("dau").cast("double")) * 10_000)
                / 10_000
            ).alias("avg_dau"),
            floor_ratio(
                F.avg(F.col("dau").cast("double")) / F.col("wau"), 6
            ).alias("stickiness"),
        )
        .select(
            "wk",
            F.col("wau").cast("long").alias("wau"),
            "n_days",
            "avg_dau",
            "stickiness",
        )
    )
