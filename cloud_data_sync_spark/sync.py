"""Sync reconciliation as a declarative Spark plan.

The reference's per-mapping pipeline (``/root/reference/internal/sync/sync.go:56-176``)
lists source and target buckets, point-looks-up each source object in a SQLite
state table (``database.go:319-344``), classifies it via the change predicate
(``sync.go:111-128``: skip iff stored LastModified == src AND stored ETag == src
AND sync_status == 'success'), copies what changed, and finally deletes every
target object missing from the source (``sync.go:199-234``).

Two plans share that change predicate (``_reason``):

``reconcile`` — the sync runner's tick, one keyed pass like the reference's
one loop: the three listings are tagged by side, hashed once on
``(mapping_id, object_name)`` and grouped, so each key's source, target and
stored state meet in one row that classifies as copy | skip | delete | keep
and carries the stored state row along.

``sync_diff`` — the registered ``q_sync_*`` queries' join form:

    src ⟕ state  → CASE classify (copy|skip)       [left join + when]
    tgt ▷ src    → delete                           [left-anti join]
    union all    → action plan

On ``q_sync_incremental``'s shape the join form measured faster than the
keyed pass (sf0.01 and sf0.1), so the queries keep it.

At 100 TB scale the classification never touches object payloads — it works on
*listings* (metadata only). The copy stage downstream reads bytes only for
rows where ``action='copy'`` (see ``executor.py``). The state table is
partitioned by ``mapping_id`` so partition pruning keeps each mapping's
diff local. Each of ``sync_diff``'s join build sides is a shuffled hash
table past ``tables.shuffle_hash``'s row cutoff and left to the planner
below it; a driver-built listing has no input files, so it is never hinted.
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
# a stored state row whose object neither bucket lists: the row is kept
ACTION_KEEP = "keep"

STATUS_SUCCESS = "success"
STATUS_FAILED_GET = "failed_get"
STATUS_FAILED_UPLOAD = "failed_upload"

KEYS = ["mapping_id", "object_name"]

# The object columns a listing carries besides its keys. The copy stage
# re-applies content_type + user metadata on the uploaded object, the
# reference's UploadObject(..., contentType) + ObjectInfo.Metadata
# contract (gcp/client.go:107-138; interfaces/provider.go:16).
OBJECT_COLUMNS = ("size", "etag", "last_modified", "content_type", "metadata")


def _reason(absent: str, stored: str) -> str:
    """The change predicate (sync.go:111-128) as a SQL CASE giving the
    diagnostic reason, in the priority order the reference short-circuits
    in: ``new`` where ``absent`` holds (no state row), else the first of
    ``etag_changed``, ``mtime_changed`` and ``status_retry`` that holds,
    else ``unchanged``, which alone means skip. ``stored`` prefixes the
    state row's columns; ``etag`` and ``last_modified`` are the source's.

    Null-safe comparisons: a state row with NULL etag/last_modified must
    classify as changed (the reference resyncs such objects,
    sync.go:111-114); plain != yields NULL, falls through every WHEN, and
    would mis-land on 'unchanged' → skip. (The status check deliberately
    keeps plain-!= fall-through semantics: the oracle's `st.sync_status <>
    'success'` behaves identically on NULL.)"""
    return (
        f"CASE WHEN {absent} THEN 'new' "
        f"WHEN NOT ({stored}etag <=> etag) THEN 'etag_changed' "
        f"WHEN NOT ({stored}last_modified <=> last_modified) THEN 'mtime_changed' "
        f"WHEN {stored}sync_status != '{STATUS_SUCCESS}' THEN 'status_retry' "
        "ELSE 'unchanged' END"
    )


def reconcile(src: DataFrame, tgt: DataFrame, state: DataFrame) -> DataFrame:
    """One row per key of ``src``, ``tgt`` and ``state``, from one keyed
    pass: each side is tagged as a struct, the three are unioned, hashed
    once on ``(mapping_id, object_name)`` and grouped, so the plan holds
    one exchange and its output is already hash-partitioned by key.

    ``action`` is copy or skip where the source lists the object (the
    change predicate, ``reason`` as in ``sync_diff``), delete where only
    the target does (``removed_from_source``), and keep where only a state
    row names the key (``state_only``). The object columns (those of
    ``OBJECT_COLUMNS`` the source carries, which the target must carry
    too) come from the source, else from the target. ``state`` is the
    stored row's non-key columns as one struct, NULL where the key has no
    state row, so the next state is a projection of the executed rows.

    Written as SQL text: each Column call is a py4j round trip, and this
    plan is rebuilt every tick."""
    obj_cols = [c for c in OBJECT_COLUMNS if c in src.columns]
    state_cols = [c for c in state.columns if c not in KEYS]
    sides = ("src", "tgt", "state")
    tagged = [
        df.selectExpr(*KEYS, f"struct({', '.join(cols)}) AS {side}")
        for df, cols, side in zip((src, tgt, state), (obj_cols, obj_cols, state_cols), sides)
    ]
    keyed = (
        tagged[0]
        .unionByName(tagged[1], allowMissingColumns=True)
        .unionByName(tagged[2], allowMissingColumns=True)
        .repartition(*KEYS)
        .groupBy(*KEYS)
        .agg(*[F.expr(f"first({s}, true) AS {s}") for s in sides])
    )
    return (
        keyed.selectExpr(
            *KEYS, "src", "tgt", "state", *[f"coalesce(src, tgt).{c} AS {c}" for c in obj_cols]
        )
        .selectExpr(
            *KEYS,
            f"""CASE WHEN src IS NOT NULL THEN {_reason("state IS NULL", "state.")}
                     WHEN tgt IS NOT NULL THEN 'removed_from_source'
                     ELSE 'state_only' END AS reason""",
            *obj_cols,
            "state",
        )
        .selectExpr(
            *KEYS,
            f"""CASE reason WHEN 'unchanged' THEN '{ACTION_SKIP}'
                            WHEN 'removed_from_source' THEN '{ACTION_DELETE}'
                            WHEN 'state_only' THEN '{ACTION_KEEP}'
                            ELSE '{ACTION_COPY}' END AS action""",
            "reason",
            *obj_cols,
            "state",
        )
    )


def sync_diff(src: DataFrame, tgt: DataFrame, state: DataFrame) -> DataFrame:
    """Classify every object into copy | skip | delete, as joins.

    ``src``/``tgt`` are catalog listings with columns
    ``(mapping_id, object_name, size, etag, last_modified)``;
    ``state`` carries ``(mapping_id, object_name, etag, last_modified,
    sync_status)``. Mirrors sync.go:101-128 (copy/skip) + sync.go:199-234
    (delete). The reason column is diagnostic (``_reason``).
    """
    st = state.select(
        *KEYS,
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

    reason = F.expr(_reason("_st_present IS NULL", "st_"))
    # Object metadata rides the plan when the catalogs carry it (real
    # listings do; the synthetic oracle catalogs don't).
    carried = [c for c in ("content_type", "metadata") if c in src.columns]
    upserts = (
        src.join(shuffle_hash(st), on=KEYS, how="left")
        .withColumn("reason", reason)
        .select(
            *KEYS,
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
    deletes = tgt.join(shuffle_hash(src), on=KEYS, how="left_anti").select(
        *KEYS,
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
