"""Sync reconciliation as a declarative Spark plan.

The reference's per-mapping pipeline (``/root/reference/internal/sync/sync.go:56-176``)
lists source and target buckets, point-looks-up each source object in a SQLite
state table (``database.go:319-344``), classifies it via the change predicate
(``sync.go:111-128``: skip iff stored LastModified == src AND stored ETag == src
AND sync_status == 'success'), copies what changed, and finally deletes every
target object missing from the source (``sync.go:199-234``).

Here that whole loop is ONE logical plan:

    src ⟕ state  → CASE classify (copy|skip)       [left join + when]
    tgt ▷ src    → delete                           [left-anti join]
    union all    → action plan

At 100 TB scale the classification never touches object payloads — it joins
*listings* (metadata only). The copy stage downstream reads bytes only for
rows where ``action='copy'`` (see ``executor.py``). Joins are key-equality on
``(mapping_id, object_name)``; the state table is partitioned by
``mapping_id`` so partition pruning keeps each mapping's diff local. Each
join's build side is a shuffled hash table past ``tables.shuffle_hash``'s
row cutoff and left to the planner below it; a driver-built listing has
no input files, so it is never hinted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloud_data_sync_spark.registry import register
from cloud_data_sync_spark.tables import load_table, session_substrate, shuffle_hash

MAPPING_ID = "demo:src-bucket->demo:tgt-bucket"

ACTION_COPY = "copy"
ACTION_SKIP = "skip"
ACTION_DELETE = "delete"

STATUS_SUCCESS = "success"
STATUS_FAILED_GET = "failed_get"
STATUS_FAILED_UPLOAD = "failed_upload"


def sync_diff(src: DataFrame, tgt: DataFrame, state: DataFrame) -> DataFrame:
    """Classify every object into copy | skip | delete.

    ``src``/``tgt`` are catalog listings with columns
    ``(mapping_id, object_name, size, etag, last_modified)``;
    ``state`` carries ``(mapping_id, object_name, etag, last_modified,
    sync_status)``. Mirrors sync.go:101-128 (copy/skip) + sync.go:199-234
    (delete). The reason column is diagnostic, ordered by the same predicate
    priority the reference short-circuits in.
    """
    keys = ["mapping_id", "object_name"]
    st = state.select(
        *keys,
        F.col("etag").alias("st_etag"),
        F.col("last_modified").alias("st_last_modified"),
        F.col("sync_status").alias("st_sync_status"),
        # row-presence marker: 'no state row' must be tested on a column
        # that is NEVER null in a real row — sync_status is nullable in
        # STATE_SCHEMA, so using it as the proxy would misclassify a
        # present-but-null-status row as 'new' (and diverge from the
        # oracle's st.object_name IS NULL test)
        F.lit(True).alias("_st_present"),
    )

    # Null-safe comparisons: a state row with NULL etag/last_modified must
    # classify as changed (the reference resyncs such objects, sync.go:111-114);
    # plain != yields NULL, falls through every when(), and would mis-land on
    # 'unchanged' → skip. (The status check deliberately keeps plain-!=
    # fall-through semantics: the oracle's `st.sync_status <> 'success'`
    # behaves identically on NULL.)
    reason = (
        F.when(F.col("_st_present").isNull(), F.lit("new"))
        .when(~F.col("st_etag").eqNullSafe(F.col("etag")), F.lit("etag_changed"))
        .when(
            ~F.col("st_last_modified").eqNullSafe(F.col("last_modified")),
            F.lit("mtime_changed"),
        )
        .when(F.col("st_sync_status") != F.lit(STATUS_SUCCESS), F.lit("status_retry"))
        .otherwise(F.lit("unchanged"))
    )
    # Object metadata rides the plan when the catalogs carry it (real
    # listings do; the synthetic oracle catalogs don't) — the copy stage
    # re-applies content_type + user metadata on the uploaded object, the
    # reference's UploadObject(..., contentType) + ObjectInfo.Metadata
    # contract (gcp/client.go:107-138; interfaces/provider.go:16).
    carried = [c for c in ("content_type", "metadata") if c in src.columns]
    upserts = (
        src.join(shuffle_hash(st), on=keys, how="left")
        .withColumn("reason", reason)
        .select(
            *keys,
            F.when(F.col("reason") == "unchanged", F.lit(ACTION_SKIP))
            .otherwise(F.lit(ACTION_COPY))
            .alias("action"),
            "reason",
            "size",
            "etag",
            "last_modified",
            *carried,
        )
    )
    deletes = tgt.join(shuffle_hash(src), on=keys, how="left_anti").select(
        *keys,
        F.lit(ACTION_DELETE).alias("action"),
        F.lit("removed_from_source").alias("reason"),
        "size",
        "etag",
        "last_modified",
        *[c for c in carried if c in tgt.columns],
    )
    return upserts.unionByName(deletes, allowMissingColumns=True)


def sync_counts(plan: DataFrame) -> DataFrame:
    """Per-mapping run report — the reference's counters (sync.go:97-99,166-170)."""
    return (
        plan.groupBy("mapping_id", "action")
        .agg(F.count("*").alias("n_objects"), F.sum("size").alias("total_bytes"))
        .orderBy("mapping_id", "action")
    )


# --------------------------------------------------------------------------
# Synthetic catalogs: deterministic object listings derived from `orders` so
# the reconciliation is oracle-checkable in DuckDB on the same parquet.
# --------------------------------------------------------------------------


def _base_listing(orders: DataFrame) -> DataFrame:
    # Measured and rejected (r12): spread(orders, "o_orderkey") before
    # the md5/object-name projection — 0.78× at sf1 (the catalog hashes
    # are split-bound locally) but 1.6-2.1× WORSE at sf0.1 across two
    # idle windows (the extra exchange + stage waves swamp the 150k-row
    # hash work). The listing scan splits fine at real scale.
    k = F.col("o_orderkey")
    return orders.select(
        k.alias("k"),
        F.lit(MAPPING_ID).alias("mapping_id"),
        F.concat(F.lit("obj_"), k.cast("string")).alias("object_name"),
        F.floor(F.col("o_totalprice")).cast("long").alias("size"),
        F.md5(k.cast("string")).alias("etag"),
        F.col("o_orderdate").alias("last_modified"),
    )


def synthetic_catalogs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(src, tgt, state) listings with deterministic drift:

    - source is missing every 50th object (deleted upstream)
    - target is missing every 3rd-ish object (never copied / behind)
    - state covers 4/5 of objects; every 7th has a stale etag, every 13th a
      drifted mtime, every 11th a failed_upload status (retry per sync.go:114)
    """
    base = _base_listing(load_table(spark, sf_dir, "orders"))
    k = F.col("k")
    src = base.filter(k % 50 != 0).drop("k")
    tgt = base.filter(k % 3 != 1).drop("k")
    state = (
        base.filter(k % 5 != 4)
        .select(
            "mapping_id",
            "object_name",
            F.when(k % 7 == 0, F.md5(F.concat(k.cast("string"), F.lit("_stale"))))
            .otherwise(F.col("etag"))
            .alias("etag"),
            F.when(k % 13 == 0, F.col("last_modified") + F.expr("INTERVAL 1 HOUR"))
            .otherwise(F.col("last_modified"))
            .alias("last_modified"),
            F.when(k % 11 == 0, F.lit(STATUS_FAILED_UPLOAD))
            .otherwise(F.lit(STATUS_SUCCESS))
            .alias("sync_status"),
        )
    )
    return src, tgt, state


_ORACLE_CTES = f"""
WITH base AS (
  SELECT o_orderkey AS k,
         '{MAPPING_ID}' AS mapping_id,
         'obj_' || CAST(o_orderkey AS VARCHAR) AS object_name,
         CAST(floor(o_totalprice) AS BIGINT) AS size,
         md5(CAST(o_orderkey AS VARCHAR)) AS etag,
         o_orderdate AS last_modified
  FROM orders
),
src AS (SELECT * EXCLUDE (k) FROM base WHERE k % 50 <> 0),
tgt AS (SELECT * EXCLUDE (k) FROM base WHERE k % 3 <> 1),
state AS (
  SELECT mapping_id, object_name,
         CASE WHEN k % 7 = 0 THEN md5(CAST(k AS VARCHAR) || '_stale') ELSE etag END AS etag,
         CASE WHEN k % 13 = 0 THEN last_modified + INTERVAL 1 HOUR ELSE last_modified END AS last_modified,
         CASE WHEN k % 11 = 0 THEN '{STATUS_FAILED_UPLOAD}' ELSE '{STATUS_SUCCESS}' END AS sync_status
  FROM base WHERE k % 5 <> 4
),
plan AS (
  SELECT s.mapping_id, s.object_name,
         CASE WHEN st.object_name IS NULL OR st.etag IS DISTINCT FROM s.etag
                   OR st.last_modified IS DISTINCT FROM s.last_modified
                   OR st.sync_status <> '{STATUS_SUCCESS}'
              THEN '{ACTION_COPY}' ELSE '{ACTION_SKIP}' END AS action,
         CASE WHEN st.object_name IS NULL THEN 'new'
              WHEN st.etag IS DISTINCT FROM s.etag THEN 'etag_changed'
              WHEN st.last_modified IS DISTINCT FROM s.last_modified THEN 'mtime_changed'
              WHEN st.sync_status <> '{STATUS_SUCCESS}' THEN 'status_retry'
              ELSE 'unchanged' END AS reason,
         s.size, s.etag, s.last_modified
  FROM src s
  LEFT JOIN state st
    ON st.mapping_id = s.mapping_id AND st.object_name = s.object_name
  UNION ALL
  SELECT t.mapping_id, t.object_name, '{ACTION_DELETE}', 'removed_from_source',
         t.size, t.etag, t.last_modified
  FROM tgt t
  WHERE NOT EXISTS (
    SELECT 1 FROM src s
    WHERE s.mapping_id = t.mapping_id AND s.object_name = t.object_name
  )
)
"""


# Session-scoped materialization of the tick-1 reconciliation plan: the
# flagship diff and its run report read the SAME plan (the reference
# computes the counters while executing the plan, sync.go:97-99 — one
# pass, not two), so sharing one lazily-checkpointed copy mirrors the
# reference's single-pass semantics. Listing-sized rows, never payloads.
def _synthetic_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_substrate(
        spark,
        sf_dir,
        "sync.plan",
        "orders",
        lambda: sync_diff(*synthetic_catalogs(spark, sf_dir)),
    )


@register(
    "q_sync_diff",
    oracle=_ORACLE_CTES + "SELECT * FROM plan",
    doc="Flagship: full reconciliation diff (copy|skip|delete) — sync.go:56-234 as one plan.",
    plan=lambda spark, sf_dir: sync_diff(*synthetic_catalogs(spark, sf_dir)),
)
def q_sync_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _synthetic_plan(spark, sf_dir)


@register(
    "q_sync_counts",
    oracle=_ORACLE_CTES
    + """
SELECT mapping_id, action,
       CAST(count(*) AS BIGINT) AS n_objects,
       CAST(sum(size) AS BIGINT) AS total_bytes
FROM plan GROUP BY mapping_id, action ORDER BY mapping_id, action""",
    doc="Run report: per-action object counts + bytes — sync.go:97-99,166-170.",
)
def q_sync_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sync_counts(_synthetic_plan(spark, sf_dir))


@register(
    "q_sync_incremental",
    oracle=_ORACLE_CTES.rstrip()
    + f""",
state2 AS (
  -- state after tick 1: every source object recorded at its source
  -- etag/mtime with status success (copies succeeded, skips were already
  -- there); delete-phase rows fall out because state2 derives from src
  SELECT mapping_id, object_name, etag, last_modified,
         '{STATUS_SUCCESS}' AS sync_status
  FROM src
),
src2 AS (
  -- tick 2 source: every 90th object deleted upstream, every 17th
  -- rewritten (fresh etag)
  SELECT mapping_id, object_name, size,
         CASE WHEN k % 17 = 0
              THEN md5(CAST(k AS VARCHAR) || '_v2') ELSE etag END AS etag,
         last_modified
  FROM base WHERE k % 50 <> 0 AND k % 90 <> 0
),
tgt2 AS (SELECT * EXCLUDE (k) FROM base WHERE k % 50 <> 0),
plan2 AS (
  SELECT s.mapping_id, s.object_name,
         CASE WHEN st.object_name IS NULL OR st.etag IS DISTINCT FROM s.etag
                   OR st.last_modified IS DISTINCT FROM s.last_modified
                   OR st.sync_status <> '{STATUS_SUCCESS}'
              THEN '{ACTION_COPY}' ELSE '{ACTION_SKIP}' END AS action,
         CASE WHEN st.object_name IS NULL THEN 'new'
              WHEN st.etag IS DISTINCT FROM s.etag THEN 'etag_changed'
              WHEN st.last_modified IS DISTINCT FROM s.last_modified THEN 'mtime_changed'
              WHEN st.sync_status <> '{STATUS_SUCCESS}' THEN 'status_retry'
              ELSE 'unchanged' END AS reason
  FROM src2 s
  LEFT JOIN state2 st
    ON st.mapping_id = s.mapping_id AND st.object_name = s.object_name
  UNION ALL
  SELECT t.mapping_id, t.object_name, '{ACTION_DELETE}', 'removed_from_source'
  FROM tgt2 t
  WHERE NOT EXISTS (
    SELECT 1 FROM src2 s
    WHERE s.mapping_id = t.mapping_id AND s.object_name = t.object_name
  )
)
SELECT mapping_id, action, reason, CAST(count(*) AS BIGINT) AS n_objects
FROM plan2 GROUP BY mapping_id, action, reason
""",
    doc=(
        "Incremental second tick — the property the reference's whole "
        "design rests on (state table ⇒ each 300s re-list re-copies only "
        "what changed, main.go:85-115): after tick 1 completes, the state "
        "reflects every source object at success, so tick 2's diff against "
        "a drifted source (every 17th object rewritten upstream, every "
        "90th deleted) classifies ONLY the drift — everything else lands "
        "on skip/unchanged. Both ticks and the intervening state upsert "
        "are composed into one declarative plan; the diff cost is listing-"
        "sized, never corpus-sized, which is why the cadence survives any "
        "object count."
    ),
)
def q_sync_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _base_listing(load_table(spark, sf_dir, "orders"))
    k = F.col("k")
    # tick-1 source = the same filter synthetic_catalogs applies; derived
    # from the ONE base frame here rather than calling synthetic_catalogs,
    # which would load and project the orders table a second time
    src = base.filter(k % 50 != 0).drop("k")
    state2 = src.select(
        "mapping_id",
        "object_name",
        "etag",
        "last_modified",
        F.lit(STATUS_SUCCESS).alias("sync_status"),
    )
    src2 = base.filter((k % 50 != 0) & (k % 90 != 0)).select(
        "mapping_id",
        "object_name",
        "size",
        F.when(k % 17 == 0, F.md5(F.concat(k.cast("string"), F.lit("_v2"))))
        .otherwise(F.col("etag"))
        .alias("etag"),
        "last_modified",
    )
    tgt2 = base.filter(k % 50 != 0).drop("k")
    return (
        sync_diff(src2, tgt2, state2)
        .groupBy("mapping_id", "action", "reason")
        .agg(F.count("*").alias("n_objects"))
    )
