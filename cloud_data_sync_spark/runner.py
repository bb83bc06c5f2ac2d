"""Sync orchestration: SyncAll / SyncBuckets / continuous mode — the
reference's main loop (sync.go:32-53, main.go:74-115) on Spark.

Per mapping (SyncBuckets, sync.go:56-176):
  1. list source + target (metadata-only catalog DataFrames)
  2. diff against the state partition → action plan (one declarative join)
  3. execute copies/deletes on executors (streamed, continue-on-error)
  4. upsert result rows into the state table; drop state rows for deletes
  5. return the per-action report (the reference's logged counters)

Unlike the reference — sequential over mappings AND objects (sync.go:33,
101; parallelism is on its roadmap, README.md:345-347) — every per-object
step here is cluster-parallel for free, and per-mapping plans are
independent jobs.

Continuous mode ≙ main.go:85-115's ticker: repeated one-shot runs. The
state table *is* the checkpoint, so each tick is incremental; a stop-file
takes the role of SIGTERM (main.go:108-113).
"""

from __future__ import annotations

import json
import logging
import os
import re
import signal
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloud_data_sync_spark import state as state_mod
from cloud_data_sync_spark.config import BucketMapping, Config
from cloud_data_sync_spark.executor import (
    STATUS_SUCCESS,
    execute_plan,
)
from cloud_data_sync_spark.sources.listing import (
    ensure_bucket_exists,
    list_objects,
    provider_conf,
)
from cloud_data_sync_spark.tables import materialize
from cloud_data_sync_spark.sync import (
    ACTION_COPY,
    ACTION_DELETE,
    ACTION_SKIP,
    sync_diff,
)


# Structured logging: one JSON record per mapping/run — the reference's
# contextual slog output (main.go:27-28, sync.go:34-39). Handlers/level are
# the host application's choice; records carry the fields in `extra` AND as
# a pre-rendered JSON message so any handler prints something parseable.
log = logging.getLogger("cloud_data_sync_spark")


def _log_event(level: int, event: str, **fields: object) -> None:
    payload = {"event": event, **fields}
    log.log(level, json.dumps(payload, default=str), extra={"sync": payload})


@dataclass
class SyncReport:
    mapping_id: str
    counts: dict[str, int]

    @property
    def synced(self) -> int:
        return self.counts.get("copy_success", 0)

    @property
    def errors(self) -> int:
        return sum(v for k, v in self.counts.items() if k.endswith("_failed"))


def _provider(cfg: Config, provider_id: str) -> dict:
    for p in cfg.providers:
        if p.get("id") == provider_id:
            return p
    return {}


def _bucket_root(cfg: Config, provider_id: str, bucket: str) -> str:
    """Resolve a (provider, bucket) pair to a URI root with the scheme the
    provider type implies (factory.go:24-77 collapses to this lookup):

    - aws/minio → ``s3a://bucket`` (the endpoint — a custom S3 API host —
      is Hadoop conf, applied by ``provider_conf``, NOT part of the URI);
    - gcs → ``gs://bucket``; azure → ``abfss://container@account...``;
    - a path-like endpoint (``file:/...`` or a bare filesystem path, the
      test fixture form) keeps mapping to ``endpoint/bucket``.

    Falling back to the bare bucket name would resolve it RELATIVE to the
    default FS working directory — an almost-certainly-absent path whose
    empty listing the empty-source guard below would then have to catch."""
    p = _provider(cfg, provider_id)
    ptype = p.get("type")
    for key in ("minioConfig", "awsConfig", "gcsConfig", "azureConfig"):
        endpoint = (p.get(key) or {}).get("endpoint")
        if (
            endpoint
            and not endpoint.startswith(("http://", "https://"))
            # a bare host:port endpoint (the native MinIO SDK form —
            # scheme-less, SSL is a flag) is an S3 API host, NOT a
            # filesystem path: routing it here would build
            # 'minio.local:9000/bucket', which Hadoop parses as scheme
            # 'minio.local' and fails on. It flows to provider_conf as
            # the s3a endpoint instead; only path-like endpoints (the
            # file-fixture form) belong in this branch.
            and not re.fullmatch(r"[A-Za-z0-9.-]+:\d+", endpoint)
        ):
            return f"{endpoint.rstrip('/')}/{bucket}"
    if ptype in ("aws", "minio"):
        return f"s3a://{bucket}"
    if ptype == "gcs":
        return f"gs://{bucket}"
    if ptype == "azure":
        account = (p.get("azureConfig") or {}).get("accountName")
        if account:
            return f"abfss://{bucket}@{account}.dfs.core.windows.net/"
    return bucket


def count_actions(results: DataFrame) -> dict[str, int]:
    """Fold per-(action, status) rows into the report counters: ``skip``
    rows count as ``skip``, every other action as ``<action>_success`` or
    ``<action>_failed``.

    Accumulate, don't comprehend: failed_get and failed_upload both map to
    copy_failed and must SUM, not overwrite each other.
    """
    counts: dict[str, int] = {}
    for r in results.groupBy("action", "status").agg(F.count("*").alias("n")).collect():
        ok = "success" if r["status"] == STATUS_SUCCESS else "failed"
        key = r["action"] if r["action"] == ACTION_SKIP else f"{r['action']}_{ok}"
        counts[key] = counts.get(key, 0) + r["n"]
    return counts


def sync_buckets(
    spark: SparkSession,
    cfg: Config,
    mapping: BucketMapping,
    state_path: str,
    *,
    allow_empty_source: bool = False,
) -> SyncReport:
    mid = mapping.mapping_id
    src_root = _bucket_root(cfg, mapping.source_provider_id, mapping.source_bucket)
    tgt_root = _bucket_root(cfg, mapping.target_provider_id, mapping.target_bucket)

    # 0. apply both providers' credentials/endpoints onto the Hadoop conf —
    # without this the s3a/abfss roots built above cannot authenticate
    # (the reference's factory.NewFactory client construction, collapsed
    # to session configuration). Bucket-scoped: s3a settings land on
    # fs.s3a.bucket.<bucket>.*, so an aws→minio mapping (both s3-scheme)
    # keeps both endpoint/credential sets live instead of the target's
    # global keys clobbering the source's.
    provider_conf(
        spark, _provider(cfg, mapping.source_provider_id), mapping.source_bucket
    )
    provider_conf(
        spark, _provider(cfg, mapping.target_provider_id), mapping.target_bucket
    )

    # 1. catalogs (metadata only — no payload reads); a missing root (first
    # run, target not created yet) lists as empty, any other listing
    # failure propagates
    src = list_objects(spark, src_root, mid)
    tgt = list_objects(spark, tgt_root, mid)

    # SAFETY GATE: an empty SOURCE combined with a non-empty target/state
    # turns the whole plan into deletes. A typo'd bucket URI, an unmounted
    # volume, or a transient lister bug must not wipe the target — the
    # reference has the same blast radius and no guard (sync.go:199-234);
    # we refuse instead. A genuinely emptied source is actioned by
    # explicitly passing allow_empty_source=True.
    if not allow_empty_source and src.isEmpty() and not tgt.isEmpty():
        raise RuntimeError(
            f"mapping {mid}: source listing at {src_root!r} is EMPTY but "
            f"the target is not — refusing the all-delete plan. Pass "
            f"allow_empty_source=True if the source was genuinely emptied."
        )

    # ensure target root exists (EnsureBucketExists, sync.go:88-91) —
    # Hadoop FS path, so cloud schemes work, not just file:
    ensure_bucket_exists(spark, tgt_root)

    # 2. diff against this mapping's state partition (pruned scan).
    # localCheckpoint() freezes plan/results: the state parquet at
    # ``state_path`` is overwritten below, and a lazy plan would silently
    # recompute the diff against the NEW state (read-overwrite hazard).
    full_state = state_mod.load_state(spark, state_path)
    st = state_mod.state_for_mapping(full_state, mid)
    plan = materialize(sync_diff(src, tgt, st), eager=True)

    # 3. execute (copies + deletes), one status row per object —
    # side_effecting: the copy/delete work happens INSIDE this frame's
    # computation, so under --checkpoint-dir it must NOT go through
    # df.checkpoint() (whose second checkpoint-write job would re-run
    # every copy and delete); materialize routes it write-then-read
    # instead, which runs the side effects exactly once (r6 advice)
    results = materialize(
        execute_plan(plan, src_root, tgt_root),
        eager=True,
        side_effecting=True,
        tag=f"results-{mid}",
    )

    # 4. state maintenance: upsert copy results, remove deleted keys
    copy_rows = results.filter(F.col("action") == ACTION_COPY).select(
        "mapping_id",
        "object_name",
        "size",
        "last_modified",
        "etag",
        "content_type",
        "metadata",
        "last_synced",
        F.col("status").alias("sync_status"),
    )
    deleted_keys = results.filter(
        (F.col("action") == ACTION_DELETE) & (F.col("status") == STATUS_SUCCESS)
    )
    # Merge into THIS mapping's slice only (every results row carries this
    # mapping_id): the upsert window shuffles one partition's rows, and
    # dynamic partition overwrite below rewrites only this mapping_id
    # partition. Merging into full_state instead would shuffle and rewrite
    # EVERY mapping's partition per synced mapping — O(M^2) work per
    # sync_all tick and a torn-write window on untouched partitions.
    # checkpoint the merged state BEFORE overwriting the path it reads from
    new_slice = state_mod.delete_keys(
        state_mod.upsert(st, copy_rows), deleted_keys
    )
    new_slice = materialize(new_slice, eager=True)

    # 5. report (the counters the reference logs, sync.go:166-170, 231-233):
    # the plan's skip rows, which the executor never sees, and the results
    # in one aggregation
    skips = plan.filter(F.col("action") == ACTION_SKIP).select("action")
    counts = count_actions(
        results.select("action", "status").unionByName(skips, allowMissingColumns=True)
    )

    if new_slice.isEmpty():
        # dynamic overwrite cannot clear a partition with no rows in the
        # write; if this mapping's state just emptied, remove its stale
        # files so the deleted rows don't resurrect on the next load
        state_mod.clear_mapping_partition(spark, state_path, mid)
    else:
        state_mod.save_state(new_slice, state_path)
    _log_event(logging.INFO, "mapping_synced", mapping_id=mid, counts=counts)
    return SyncReport(mapping_id=mid, counts=counts)


def sync_all(
    spark: SparkSession,
    cfg: Config,
    state_path: str,
    *,
    allow_empty_source: bool = False,
) -> list[SyncReport]:
    """FOREACH mapping, continue-on-error (sync.go:32-53)."""
    reports = []
    for mapping in cfg.mappings:
        try:
            reports.append(
                sync_buckets(
                    spark,
                    cfg,
                    mapping,
                    state_path,
                    allow_empty_source=allow_empty_source,
                )
            )
        except Exception as e:  # noqa: BLE001 - per-mapping isolation
            reports.append(
                SyncReport(mapping_id=mapping.mapping_id, counts={"mapping_failed": 1})
            )
            _log_event(
                logging.ERROR,
                "mapping_failed",
                mapping_id=mapping.mapping_id,
                error=str(e),
            )
    return reports


def run_continuous(
    spark: SparkSession,
    cfg: Config,
    state_path: str,
    interval_sec: int = 300,
    max_ticks: int | None = None,
    stop_file: str | None = None,
    *,
    allow_empty_source: bool = False,
) -> list[list[SyncReport]]:
    """main.go:85-115: initial run + fixed-interval re-runs until stopped.

    Graceful shutdown matches the reference (main.go:71-72, 108-113): SIGINT /
    SIGTERM finish the in-flight run and exit cleanly between ticks. Handlers
    install only on the main thread (signal.signal raises elsewhere) and are
    restored on exit; a stop-file works from any context.
    """
    stop_requested = False

    def _request_stop(signum: int, frame: object) -> None:
        nonlocal stop_requested
        stop_requested = True
        _log_event(logging.INFO, "shutdown_requested", signum=signum)

    previous: dict[int, object] = {}
    try:
        for sig in (signal.SIGINT, signal.SIGTERM):
            previous[sig] = signal.signal(sig, _request_stop)
    except ValueError:  # not the main thread — stop-file still works
        previous = {}

    try:
        if max_ticks is not None and max_ticks <= 0:
            # 0 means "no runs": the initial sync is tick 1, so it must
            # not execute — a caller probing scheduling wiring would
            # otherwise get real copies/deletes and a state rewrite
            return []
        all_reports = [
            sync_all(spark, cfg, state_path, allow_empty_source=allow_empty_source)
        ]
        ticks = 1
        while (
            (max_ticks is None or ticks < max_ticks)
            and not stop_requested
            and not (stop_file and os.path.exists(stop_file))
        ):
            # sleep in sub-second slices so a signal OR the stop-file ends
            # the wait promptly — in non-main-thread contexts (where signal
            # handlers can't install) the stop-file is the ONLY shutdown
            # path, so it must be polled inside the wait, not once per
            # interval
            deadline = time.monotonic() + interval_sec
            while (
                time.monotonic() < deadline
                and not stop_requested
                and not (stop_file and os.path.exists(stop_file))
            ):
                time.sleep(min(0.2, max(0.0, deadline - time.monotonic())))
            if stop_requested or (stop_file and os.path.exists(stop_file)):
                break
            all_reports.append(
                sync_all(spark, cfg, state_path, allow_empty_source=allow_empty_source)
            )
            ticks += 1
        return all_reports
    finally:
        for sig, handler in previous.items():
            signal.signal(sig, handler)
