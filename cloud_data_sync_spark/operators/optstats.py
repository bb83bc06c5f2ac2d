"""Optimizer statistics: histogram-based join-cardinality estimation.

The statistic that decides whether a 100 TB shuffle is survivable is the
JOIN CARDINALITY — and the classic pipeline-killer is the self-equi-join
blow-up: |R ⋈_k R| = Σ_k c_k² (the second frequency moment, F2). A
cost-based planner never computes that exactly; it keeps a coarse
bucket histogram per join column (count + distinct per bucket) and
estimates Σ c² ≈ Σ_b c_b²/d_b under uniformity-within-bucket — the
System-R formula every warehouse descends from. ``q_join_card_est``
computes BOTH on the engine itself — the exact moment from per-key
counts, the estimate from a 64-bucket portable-hash histogram — and
emits the relative error plus the max-key skew contribution, per
audited join column.

Why it scales: ONE explode over the fact table fans each row into its
(join_column, key) pairs, ONE map-side-combinable hash aggregate
produces the per-key count frame (the standard distinct-key reduction —
output is keyed by DISTINCT key values, not rows), and everything
downstream aggregates frames bounded by key/bucket cardinality. The
histogram side never sees rows at all once the count frame exists,
which is exactly why planners can afford to maintain it per partition
write.

Determinism: per-bucket estimates are floored to BIGINT before the
cross-bucket sum, so no floating-point sum-order can diverge between
Spark and the DuckDB oracle (integer sums are associative; a double
Σ c_b²/d_b is not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloud_data_sync_spark.operators.governance import bucket16, _bucket16_sql
from cloud_data_sync_spark.registry import floor_ratio, register
from cloud_data_sync_spark.tables import load_table

# Audited join columns of the fact table (name, column).
JOIN_COLS = ("l_partkey", "l_suppkey", "l_orderkey")

# Histogram resolution: 64 equi-hash buckets of the 16-bit portable
# bucket space. Production planners keep 64-256 buckets per column.
N_HIST_BUCKETS = 64


@register(
    "q_join_card_est",
    oracle=f"""
WITH pairs AS (
  {" UNION ALL ".join(
      f"SELECT '{c}' AS kn, CAST({c} AS BIGINT) AS kv FROM lineitem"
      for c in JOIN_COLS
  )}
),
keycnt AS (
  SELECT kn, kv, count(*) AS c FROM pairs GROUP BY kn, kv
),
exact AS (
  SELECT kn,
         sum(c) AS n_rows,
         count(*) AS n_keys,
         sum(c * c) AS f2_exact,
         max(c) AS max_key_rows,
         max(c * c) AS max_key_f2
  FROM keycnt GROUP BY kn
),
hist AS (
  SELECT kn, {_bucket16_sql("kv")} % {N_HIST_BUCKETS} AS b,
         sum(c) AS cb, count(*) AS db
  FROM keycnt GROUP BY kn, b
),
est AS (
  SELECT kn,
         sum(CAST(floor(CAST(cb AS DOUBLE) * cb / db) AS BIGINT)) AS f2_est
  FROM hist GROUP BY kn
)
SELECT e.kn AS join_col,
       CAST(e.n_rows AS BIGINT) AS n_rows,
       CAST(e.n_keys AS BIGINT) AS n_keys,
       CAST(e.f2_exact AS BIGINT) AS f2_exact,
       CAST(s.f2_est AS BIGINT) AS f2_est,
       floor(abs(s.f2_est - e.f2_exact) / CAST(e.f2_exact AS DOUBLE)
             * 1000000) / 1000000 AS rel_err,
       CAST(e.max_key_rows AS BIGINT) AS max_key_rows,
       floor(e.max_key_f2 / CAST(e.f2_exact AS DOUBLE) * 1000000) / 1000000
         AS skew_frac
FROM exact e JOIN est s ON e.kn = s.kn
""",
    doc=(
        "Join-cardinality estimation audit — the cost-model statistic "
        "that predicts shuffle blow-ups: per audited lineitem join "
        "column, the EXACT self-equi-join size Σc² (second frequency "
        "moment, from per-key counts) vs the 64-bucket histogram "
        "ESTIMATE Σ c_b²/d_b (the System-R uniformity-within-bucket "
        "formula a planner actually keeps), the relative error between "
        "them, and the max-key skew contribution that flags salting "
        "candidates. One explode + one map-side-combinable (col, key) "
        "hash aggregate; everything after the count frame is bounded by "
        "key/bucket cardinality, never row count. Per-bucket estimates "
        "floor to BIGINT before the cross-bucket sum so no double "
        "sum-order can diverge between engines."
    ),
)
def q_join_card_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No spread(): on 4 cores the lineitem scan already yields 4 splits
    # at sf1, so spread is a no-op there, and at sf0.1 (3 splits) its
    # exchange made the key slower: median of 8 alternating runs per side
    # (each the min of 5 walls) 1.22 s with it vs 1.14 s without, 4-vCPU
    # VM.
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("kn"),
                        F.col(c).cast("long").alias("kv"),
                    )
                    for c in JOIN_COLS
                ]
            )
        ).alias("p")
    ).select("p.kn", "p.kv")
    keycnt = pairs.groupBy("kn", "kv").agg(F.count("*").alias("c"))
    # r11: exact and est both reduce off ONE (col, bucket) frame — the
    # exact moments are integer sums/maxes, so folding them bucket-wise
    # first is exact (sum of per-bucket sum(c²) = Σc²; max of per-bucket
    # max = global max). The old shape aggregated keycnt twice (the
    # exact branch straight to kn, the hist branch via buckets); fused,
    # the per-key frame is consumed once and everything downstream is
    # bounded by col × bucket cardinality.
    hist = keycnt.groupBy(
        "kn", (bucket16(F.col("kv")) % N_HIST_BUCKETS).alias("b")
    ).agg(
        F.sum("c").alias("cb"),
        F.count("*").alias("db"),
        F.sum(F.col("c") * F.col("c")).alias("f2b"),
        F.max("c").alias("mxc"),
        F.max(F.col("c") * F.col("c")).alias("mxf2"),
    )
    exact = hist.groupBy("kn").agg(
        F.sum("cb").cast("long").alias("n_rows"),
        F.sum("db").alias("n_keys"),
        F.sum("f2b").cast("long").alias("f2_exact"),
        F.max("mxc").cast("long").alias("max_key_rows"),
        F.max("mxf2").cast("long").alias("max_key_f2"),
    )
    est = hist.groupBy("kn").agg(
        F.sum(
            F.floor(F.col("cb").cast("double") * F.col("cb") / F.col("db"))
        )
        .cast("long")
        .alias("f2_est")
    )
    out = exact.join(F.broadcast(est), "kn")
    return out.select(
        F.col("kn").alias("join_col"),
        "n_rows",
        "n_keys",
        "f2_exact",
        "f2_est",
        floor_ratio(
            F.abs(F.col("f2_est") - F.col("f2_exact"))
            / F.col("f2_exact").cast("double"),
            6,
        ).alias("rel_err"),
        "max_key_rows",
        floor_ratio(
            F.col("max_key_f2") / F.col("f2_exact").cast("double"), 6
        ).alias("skew_frac"),
    )
