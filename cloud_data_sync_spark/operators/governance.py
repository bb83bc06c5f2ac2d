"""Data-governance operators: privacy audits, deletion propagation,
and coordination-free coherent sampling.

A 100 TB lake is governed, not just queried. Three primitives every
platform team schedules:

- **k-anonymity / l-diversity audit** (``q_k_anonymity``): before a
  table is shared, measure how identifiable its quasi-identifier
  combinations are. The expensive part at scale is NOT the math — it is
  one hash aggregate over the quasi-identifier tuple (map-side
  combinable; the equivalence-class frame that leaves the shuffle is
  bounded by the QI domain, here nation x segment, never by row count).
- **deletion propagation plan** (``q_forget_plan``): a
  right-to-be-forgotten batch must know the blast radius BEFORE it
  rewrites files — how many rows per table cascade from the victim key
  set. Each fact table is measured in ONE scan via a null-producing
  left join against the (small) key set and a conditional count: no
  second count(*) pass, no row materialization. The victim set
  broadcasts; the orders->lineitem hop is a key-projection join that
  AQE plans by actual size at scale.
- **coherent sampling** (``q_sample_coherent``): dev/staging slices of
  a petabyte lake must preserve referential integrity WITHOUT
  cross-table coordination. Filtering every table by the SAME
  deterministic hash of the JOIN KEY it carries commutes with the join
  (hash(k) < t on both sides of an equi-join samples the join itself),
  so each table is sampled map-only, independently, on different days
  or different clusters — and the audit that proves it (orphan count
  via anti-join) is emitted, not asserted.

All hashes are the engine's portable md5-prefix idiom (see
``q_sample_hash``) so the DuckDB oracles reproduce them bit-for-bit;
at deployment the same plans run on xxhash64 for speed — the contract
is "deterministic hash of the join key", not a specific digest.

Reference parity note: the reference engine (cloud-data-sync) manages
object lifecycles but has no row-level governance surface; these
operators extend the engine along SURVEY.md's training-data-pipeline
axis (driver mandate), reusing the sync/state substrates' portable-hash
discipline.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cloud_data_sync_spark.registry import floor_ratio, register
from cloud_data_sync_spark.tables import load_table, shuffle_hash

# k thresholds audited (one output row per k). Production policies pick
# one k per sharing tier; the audit is threshold-generic.
K_THRESHOLDS = (2, 5, 10, 25)

# ~5% victim set / ~10% sample: 16-bit md5-prefix buckets, same idiom as
# q_sample_hash (65536 buckets).
FORGET_BUCKET_LT = 3277
SAMPLE_BUCKET_LT = 6554


def bucket16(col: Column) -> Column:
    """Portable 16-bit hash bucket of a key column: first 4 hex chars of
    md5(key-as-string) as an integer in [0, 65536). Identical on DuckDB
    as ``CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 4) AS INTEGER)``."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 4), 16, 10).cast(
        "long"
    )


def _bucket16_sql(col: str) -> str:
    return f"CAST('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 4) AS INTEGER)"


@register(
    "q_k_anonymity",
    oracle=f"""
WITH classes AS (
  SELECT c_nationkey, c_mktsegment,
         count(*) AS cls_n,
         count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) AS l_div
  FROM customer
  GROUP BY c_nationkey, c_mktsegment
),
ks AS (SELECT unnest([{", ".join(str(k) for k in K_THRESHOLDS)}]) AS k)
SELECT CAST(k AS BIGINT) AS k,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(cls_n) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN cls_n < k THEN 1 ELSE 0 END) AS BIGINT)
         AS classes_below_k,
       CAST(sum(CASE WHEN cls_n < k THEN cls_n ELSE 0 END) AS BIGINT)
         AS rows_below_k,
       floor(sum(CASE WHEN cls_n < k THEN cls_n ELSE 0 END)
             / CAST(sum(cls_n) AS DOUBLE) * 1000000) / 1000000
         AS risk_frac,
       CAST(min(l_div) AS BIGINT) AS min_l
FROM classes, ks
GROUP BY k
""",
    doc=(
        "k-anonymity / l-diversity audit over the customer "
        "quasi-identifiers (nation, market segment) with acctbal-bucket "
        "as the sensitive attribute: per k threshold, how many "
        "equivalence classes (and rows) fall below k, the at-risk row "
        "fraction, and the worst-class l-diversity. ONE hash aggregate "
        "over the QI tuple does all the work (map-side combinable; the "
        "class frame leaving the shuffle is bounded by the QI domain, "
        "not row count) — the k-threshold expansion is a constant-size "
        "explode over that tiny frame. The audit a platform runs before "
        "any table share; re-identification risk is a first-class "
        "pipeline metric at 100 TB, not a one-off notebook."
    ),
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    sens = F.floor(F.col("c_acctbal") / 1000.0).cast("long")
    classes = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count("*").alias("cls_n"),
            F.countDistinct(sens).alias("l_div"),
        )
    )
    ks = F.explode(F.array(*[F.lit(k) for k in K_THRESHOLDS])).alias("k")
    below = F.col("cls_n") < F.col("k")
    rows_below = F.sum(F.when(below, F.col("cls_n")).otherwise(0))
    return (
        classes.select("cls_n", "l_div", ks)
        .groupBy(F.col("k").cast("long").alias("k"))
        .agg(
            F.count("*").alias("n_classes"),
            F.sum("cls_n").cast("long").alias("n_rows"),
            F.sum(F.when(below, 1).otherwise(0))
            .cast("long")
            .alias("classes_below_k"),
            rows_below.cast("long").alias("rows_below_k"),
            floor_ratio(
                F.try_divide(
                    rows_below.cast("double"), F.sum("cls_n").cast("double")
                ),
                6,
            ).alias("risk_frac"),
            F.min("l_div").cast("long").alias("min_l"),
        )
    )


def _affected_one_scan(
    fact: DataFrame, fact_key: Column, keys: DataFrame, key_col: str, tbl: str
) -> DataFrame:
    """One-scan affected/total counts: left-join ``fact`` to the marked
    key set and count hits conditionally — no second count(*) pass over
    a fact table that is the whole point of not scanning twice at
    100 TB."""
    marked = keys.withColumn("_hit", F.lit(1))
    joined = fact.join(
        F.broadcast(marked), fact_key == F.col(key_col), "left"
    )
    # outer coalesce: an EMPTY fact table makes sum() NULL where the
    # oracle's count(*) subquery says 0 — a blast radius over nothing
    # is zero rows, not unknown (empty-input probe, r9)
    return joined.agg(
        F.lit(tbl).alias("tbl"),
        F.coalesce(F.sum(F.coalesce(F.col("_hit"), F.lit(0))), F.lit(0))
        .cast("long")
        .alias("n_affected"),
        F.count("*").alias("n_total"),
    )


@register(
    "q_forget_plan",
    oracle=f"""
WITH victims AS (
  SELECT c_custkey FROM customer
  WHERE {_bucket16_sql("c_custkey")} < {FORGET_BUCKET_LT}
),
o_aff AS (
  SELECT o_orderkey FROM orders
  WHERE o_custkey IN (SELECT c_custkey FROM victims)
),
counts AS (
  SELECT 'customer' AS tbl,
         (SELECT count(*) FROM victims) AS n_affected,
         (SELECT count(*) FROM customer) AS n_total
  UNION ALL
  SELECT 'orders',
         (SELECT count(*) FROM o_aff),
         (SELECT count(*) FROM orders)
  UNION ALL
  SELECT 'lineitem',
         (SELECT count(*) FROM lineitem
          WHERE l_orderkey IN (SELECT o_orderkey FROM o_aff)),
         (SELECT count(*) FROM lineitem)
)
SELECT tbl,
       CAST(n_affected AS BIGINT) AS n_affected,
       CAST(n_total AS BIGINT) AS n_total,
       floor(n_affected / CAST(n_total AS DOUBLE) * 1000000) / 1000000
         AS affected_frac
FROM counts
""",
    doc=(
        "Deletion-propagation (right-to-be-forgotten) planner: given a "
        "deterministic ~5% victim key set, the cascade blast radius per "
        "table — customer rows, their orders, those orders' lineitems — "
        "as affected/total counts and fractions. Each fact table is "
        "measured in ONE scan (left join against the marked key set + "
        "conditional count; no separate count(*) pass), the victim set "
        "broadcasts, and the orders->lineitem hop joins only projected "
        "keys. This is the sizing pass a forget batch runs BEFORE "
        "rewriting files: at 100 TB the rewrite is priced per affected "
        "file, and this plan prices it from key sets alone."
    ),
)
def q_forget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    victims = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey")
        .filter(bucket16(F.col("c_custkey")) < FORGET_BUCKET_LT)
    )
    orders = load_table(spark, sf_dir, "orders")
    o_aff = orders.join(
        F.broadcast(victims), orders.o_custkey == victims.c_custkey, "left_semi"
    ).select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem")
    parts = [
        _affected_one_scan(
            load_table(spark, sf_dir, "customer").select(
                F.col("c_custkey").alias("k")
            ),
            F.col("k"),
            victims,
            "c_custkey",
            "customer",
        ),
        _affected_one_scan(
            orders.select("o_custkey"),
            F.col("o_custkey"),
            victims,
            "c_custkey",
            "orders",
        ),
        _affected_one_scan(
            li.select("l_orderkey"),
            F.col("l_orderkey"),
            o_aff,
            "o_orderkey",
            "lineitem",
        ),
    ]
    out = reduce(DataFrame.unionByName, parts)
    return out.select(
        "tbl",
        "n_affected",
        "n_total",
        floor_ratio(
            F.try_divide(
                F.col("n_affected").cast("double"),
                F.col("n_total").cast("double"),
            ),
            6,
        ).alias("affected_frac"),
    )


@register(
    "q_sample_coherent",
    oracle=f"""
WITH c_s AS (
  SELECT c_custkey FROM customer
  WHERE {_bucket16_sql("c_custkey")} < {SAMPLE_BUCKET_LT}
),
o_s AS (
  SELECT o_orderkey, o_custkey FROM orders
  WHERE {_bucket16_sql("o_custkey")} < {SAMPLE_BUCKET_LT}
),
stats AS (
  SELECT 'customer' AS tbl,
         (SELECT count(*) FROM c_s) AS n_sampled,
         (SELECT count(*) FROM customer) AS n_total,
         0 AS orphans
  UNION ALL
  SELECT 'orders',
         (SELECT count(*) FROM o_s),
         (SELECT count(*) FROM orders),
         (SELECT count(*) FROM o_s
          WHERE o_custkey NOT IN (SELECT c_custkey FROM c_s))
)
SELECT tbl,
       CAST(n_sampled AS BIGINT) AS n_sampled,
       CAST(n_total AS BIGINT) AS n_total,
       floor(n_sampled / CAST(n_total AS DOUBLE) * 1000000) / 1000000
         AS samp_frac,
       CAST(orphans AS BIGINT) AS orphans
FROM stats
""",
    doc=(
        "Coordination-free coherent sampling: customer and orders are "
        "each filtered MAP-ONLY by the same deterministic hash of the "
        "JOIN KEY they carry (hash(custkey) < t), which commutes with "
        "the equi-join — the join of the samples IS a sample of the "
        "join, so a dev-slice of a petabyte lake preserves referential "
        "integrity with zero cross-table coordination (tables sampled "
        "on different days/clusters still line up). The invariant is "
        "EMITTED, not asserted: orphans = sampled orders whose custkey "
        "escaped the customer sample, counted via anti-join semantics "
        "and oracle-checked to 0. Per-table sampled/total counts and "
        "realized fractions round out the audit."
    ),
)
def q_sample_coherent(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = SAMPLE_BUCKET_LT
    c_s = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey")
        .filter(bucket16(F.col("c_custkey")) < t)
    )
    orders = load_table(spark, sf_dir, "orders")
    o_s = orders.select("o_orderkey", "o_custkey").filter(
        bucket16(F.col("o_custkey")) < t
    )
    orphans = (
        o_s.join(F.broadcast(c_s), o_s.o_custkey == c_s.c_custkey, "left_anti")
        .agg(F.count("*").alias("orphans"))
    )
    # coalesce(sum, 0): over an EMPTY table Spark's sum is NULL where
    # the oracle's count(*) subquery says 0 (empty-input probe, r9)
    c_row = (
        load_table(spark, sf_dir, "customer")
        .agg(
            F.lit("customer").alias("tbl"),
            F.coalesce(
                F.sum(
                    F.when(bucket16(F.col("c_custkey")) < t, 1).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_sampled"),
            F.count("*").alias("n_total"),
        )
        .withColumn("orphans", F.lit(0).cast("long"))
    )
    o_row = (
        orders.agg(
            F.lit("orders").alias("tbl"),
            F.coalesce(
                F.sum(
                    F.when(bucket16(F.col("o_custkey")) < t, 1).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_sampled"),
            F.count("*").alias("n_total"),
        )
        .crossJoin(F.broadcast(orphans))
        .select("tbl", "n_sampled", "n_total", F.col("orphans").cast("long"))
    )
    return c_row.unionByName(o_row).select(
        "tbl",
        "n_sampled",
        "n_total",
        floor_ratio(
            F.try_divide(
                F.col("n_sampled").cast("double"),
                F.col("n_total").cast("double"),
            ),
            6,
        ).alias("samp_frac"),
        "orphans",
    )


# Pseudonym: first 16 hex chars of md5(key) — 64 bits, collision odds
# ~n²/2^65 (negligible at any corpus size, and AUDITED below rather
# than assumed).
def pseudonym(col: Column) -> Column:
    return F.substring(F.md5(col.cast("string")), 1, 16)


@register(
    "q_pseudonymize",
    oracle="""
WITH c_p AS (
  SELECT substr(md5(CAST(c_custkey AS VARCHAR)), 1, 16) AS pid,
         c_custkey, c_mktsegment
  FROM customer
),
o_p AS (
  SELECT substr(md5(CAST(o_custkey AS VARCHAR)), 1, 16) AS pid, o_orderkey
  FROM orders
)
SELECT c_mktsegment,
       CAST(count(DISTINCT c_p.c_custkey) AS BIGINT) AS n_raw_keys,
       CAST(count(DISTINCT c_p.pid) AS BIGINT) AS n_pseudonyms,
       CAST(count(DISTINCT c_p.c_custkey) - count(DISTINCT c_p.pid)
            AS BIGINT) AS collisions,
       CAST(count(o_p.o_orderkey) AS BIGINT) AS n_orders_joined
FROM c_p LEFT JOIN o_p ON c_p.pid = o_p.pid
GROUP BY c_mktsegment
""",
    doc=(
        "Consistent pseudonymization — the de-identification primitive "
        "that KEEPS analytics working: the same deterministic one-way "
        "token replaces the customer key in every table it appears in, "
        "so joins, group-bys and funnels run on pseudonyms exactly as "
        "they ran on raw keys, with no shared lookup table to secure "
        "(the token function is the coordination, the coherent-sampling "
        "insight applied to privacy). The audit is emitted per segment: "
        "distinct raw keys vs distinct pseudonyms (collisions = 0 at "
        "64 bits — counted, not assumed) and the per-segment order "
        "count recovered by joining ON PSEUDONYMS ONLY. Map-only "
        "tokenization on each table; one aggregate-side join."
    ),
)
def q_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    c_p = load_table(spark, sf_dir, "customer").select(
        pseudonym(F.col("c_custkey")).alias("pid"),
        "c_custkey",
        "c_mktsegment",
    )
    o_p = load_table(spark, sf_dir, "orders").select(
        pseudonym(F.col("o_custkey")).alias("opid"), "o_orderkey"
    )
    # The key-audit distincts are per-CUSTOMER facts: computing them on
    # the joined frame made the two-distinct-column aggregate Expand 3x
    # the 150k-row join output; computed on the 15k-row customer side
    # they Expand 3x of 15k instead, and the order-count branch
    # aggregates the join with no distincts at all. countDistinct over
    # the left-joined frame equals countDistinct over c_p (a left join
    # keeps every customer >= once and dedup collapses the fanout), so
    # the split is result-identical; the two per-segment aggregates
    # rejoin null-safely (a NULL segment is a legitimate group). (r11)
    audit = c_p.groupBy("c_mktsegment").agg(
        F.countDistinct("c_custkey").alias("n_raw_keys"),
        F.countDistinct("pid").alias("n_pseudonyms"),
        (F.countDistinct("c_custkey") - F.countDistinct("pid"))
        .cast("long")
        .alias("collisions"),
    )
    # r12: LeftOuter forces the build side RIGHT, and the static planner
    # BROADCAST the fact-side pseudonym table (1.5 M md5 tokens at sf1 —
    # a ~50 MB string-keyed relation rebuilt per run; the sf1 plan dump
    # shows BroadcastHashJoin LeftOuter BuildRight over the orders
    # branch). Guide §3.1.
    orders_joined = (
        c_p.join(shuffle_hash(o_p), c_p.pid == o_p.opid, "left")
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(F.count("o_orderkey").alias("n_orders_joined"))
    )
    return audit.join(
        F.broadcast(orders_joined),
        F.expr("c_mktsegment <=> seg"),
    ).select(
        "c_mktsegment", "n_raw_keys", "n_pseudonyms", "collisions",
        "n_orders_joined",
    )


@register(
    "q_dp_sensitivity",
    oracle="""
WITH per_user AS (
  SELECT event_type, user_id, count(*) AS n_rows,
         sum(CAST(abs(value) AS DECIMAL(18,2))) AS abs_dec
  FROM events WHERE user_id IS NOT NULL
  GROUP BY event_type, user_id
),
stats AS (
  SELECT event_type,
         count(*) AS n_users,
         max(n_rows) AS max_user_rows,
         CAST(max(abs_dec) AS DOUBLE) AS max_abs,
         CAST(sum(abs_dec) AS DOUBLE) / count(*) AS mean_abs
  FROM per_user GROUP BY event_type
)
SELECT s.event_type,
       CAST(s.n_users AS BIGINT) AS n_users,
       CAST(s.max_user_rows AS BIGINT) AS max_user_rows,
       floor(s.max_abs * 1000000) / 1000000 AS max_user_abs_sum,
       floor(s.mean_abs * 1000000) / 1000000 AS mean_user_abs_sum,
       CAST(sum(CASE WHEN CAST(p.abs_dec AS DOUBLE) > 2 * s.mean_abs
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_over_2x_mean,
       floor(sum(CASE WHEN CAST(p.abs_dec AS DOUBLE) > 2 * s.mean_abs
                      THEN CAST(p.abs_dec AS DOUBLE) - 2 * s.mean_abs
                      ELSE 0 END)
             / CASE WHEN sum(CAST(p.abs_dec AS DOUBLE)) = 0 THEN NULL
                    ELSE CAST(sum(p.abs_dec) AS DOUBLE) END * 1000000)
         / 1000000 AS clip_loss_frac
FROM per_user p JOIN stats s ON p.event_type IS NOT DISTINCT FROM s.event_type
GROUP BY s.event_type, s.n_users, s.max_user_rows, s.max_abs, s.mean_abs
""",
    doc=(
        "Differential-privacy sensitivity audit — the numbers a DP "
        "release needs BEFORE noise is calibrated: per event_type, the "
        "max per-user row contribution (L-infinity of counts), the max "
        "and mean per-user |value| mass, and — for the standard "
        "clip-at-2x-mean bound — how many users exceed the clip and "
        "what fraction of total mass clipping discards (the bias side "
        "of the bias/noise trade; sensitivity after clipping IS the "
        "clip). Unbounded user contribution is the reason naive "
        "aggregates cannot be privatized at any scale: noise must "
        "cover the WORST user, and this audit finds them with one "
        "(type, user) aggregate plus one group-frame join — no row-"
        "scale second pass. NULL-safe type equality keeps NULL "
        "event_type rows audited rather than dropped."
    ),
)
def q_dp_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .groupBy("event_type", "user_id")
        .agg(
            F.count("*").alias("n_rows"),
            # DECIMAL accumulation: per-user and cross-user sums are
            # exact and order-free, so every downstream double op is
            # bit-identical on both engines (the q_ols_regression
            # discipline; a double sum re-associated across partitions
            # landed mean_abs exactly ON a 1e-6 floor boundary)
            F.sum(F.abs(F.col("value")).cast("decimal(18,2)")).alias(
                "abs_dec"
            ),
        )
    )
    stats = per_user.groupBy("event_type").agg(
        F.count("*").alias("n_users"),
        F.max("n_rows").alias("max_user_rows"),
        F.max("abs_dec").cast("double").alias("max_abs"),
        (F.sum("abs_dec").cast("double") / F.count("*")).alias("mean_abs"),
    )
    p, s = per_user.alias("p"), stats.alias("s")
    abs_d = F.col("p.abs_dec").cast("double")
    over = abs_d > 2 * F.col("s.mean_abs")
    return (
        p.join(
            F.broadcast(s),
            F.col("p.event_type").eqNullSafe(F.col("s.event_type")),
        )
        .groupBy(
            F.col("s.event_type").alias("event_type"),
            "s.n_users",
            "s.max_user_rows",
            "s.max_abs",
            "s.mean_abs",
        )
        .agg(
            F.sum(F.when(over, 1).otherwise(0))
            .cast("long")
            .alias("n_over_2x_mean"),
            floor_ratio(
                F.try_divide(
                    F.sum(
                        F.when(
                            over,
                            abs_d - 2 * F.col("s.mean_abs"),
                        ).otherwise(0.0)
                    ),
                    F.when(
                        F.sum(abs_d) == 0, F.lit(None).cast("double")
                    ).otherwise(F.sum("p.abs_dec").cast("double")),
                ),
                6,
            ).alias("clip_loss_frac"),
        )
        .select(
            "event_type",
            F.col("n_users").cast("long").alias("n_users"),
            F.col("max_user_rows").cast("long").alias("max_user_rows"),
            (F.floor(F.col("max_abs") * 1_000_000) / 1_000_000).alias(
                "max_user_abs_sum"
            ),
            (F.floor(F.col("mean_abs") * 1_000_000) / 1_000_000).alias(
                "mean_user_abs_sum"
            ),
            "n_over_2x_mean",
            "clip_loss_frac",
        )
    )
