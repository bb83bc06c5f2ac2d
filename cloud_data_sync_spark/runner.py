"""Sync orchestration: SyncAll / SyncBuckets / continuous mode — the
reference's main loop (sync.go:32-53, main.go:74-115) on Spark.

Before anything runs, each mapping's two roots resolve to absolute OS
paths (``_bucket_root``); a mapping whose provider has no local endpoint
fails there and reads or writes nothing.

Per mapping (its own phase; a failure fails that mapping alone):
  1. list source + target as catalog rows on the driver (metadata only,
     ``listing.list_rows``), refuse an empty source over a non-empty
     target, create the target root; no Spark action runs

Per batch of mappings (SyncBuckets, sync.go:56-176, for all of them at
once; a failure fails the whole batch):
  2. reconcile one driver-built relation per side (every mapping's rows)
     with the batch's state partitions in one keyed pass
     (``sync.reconcile``): one row per key, classified as copy, skip,
     delete or keep, carrying its stored state row
  3. execute copies/deletes on executors (streamed, continue-on-error),
     each row under its own mapping's roots, and write the batch's next
     state projected from those rows (``next_state``) in the same job:
     the state write is the copies' commit, as the reference commits each
     state row inside its copy loop (sync.go:130-163); then clear the
     partition of a mapping left with no rows
  4. return each mapping's report (the reference's logged counters),
     observed on the rows while step 3 writes them (``observe_report``),
     as the reference counts inside its loop

A warm tick runs 2 Spark jobs whatever the batch's size: the keyed
shuffle's map stage and the state write.

Unlike the reference — sequential over mappings AND objects (sync.go:33,
101; parallelism is on its roadmap, README.md:345-347) — every per-object
step here is cluster-parallel, and mappings whose roots are disjoint from
each other's targets share one Spark pipeline per tick (``_batches``
states the batching rule), so the tick's fixed Spark cost does not grow
with the number of mappings. ``sync_buckets`` is the same pipeline over
a batch of one.

Continuous mode ≙ main.go:85-115's ticker: repeated one-shot runs. The
state table *is* the checkpoint, so each tick is incremental; a stop-file
takes the role of SIGTERM (main.go:108-113).
"""
from __future__ import annotations

import json
import logging
import os
import signal
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from cloud_data_sync_spark import state as state_mod
from cloud_data_sync_spark.config import BucketMapping, Config
from cloud_data_sync_spark.executor import STATUS_SUCCESS, execute_plan
from cloud_data_sync_spark.sources.listing import (
    CATALOG_SCHEMA,
    list_objects,  # noqa: F401 - runner.list_objects is a perfbench --trace 1 span
    list_rows,
    local_root,
)
from cloud_data_sync_spark.tables import (
    local_frame,
    materialize,  # noqa: F401 - runner.materialize is a perfbench --trace 1 span
    sql_str,
)
from cloud_data_sync_spark.sync import (
    ACTION_COPY,
    ACTION_DELETE,
    ACTION_SKIP,
    reconcile,
    sync_diff,  # noqa: F401 - runner.sync_diff is a perfbench --trace 1 span
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


def _bucket_root(cfg: Config, provider_id: str, bucket: str) -> str:
    """The absolute OS path of ``bucket`` on provider ``provider_id``
    (factory.go:24-77 collapses to this lookup): the provider's endpoint,
    a bare path or a ``file:`` URI (``listing.local_root``), plus
    ``/bucket``, made absolute here on the driver, since the Python
    workers that copy run in another working directory.

    Any other provider raises ``ValueError``: an id not in
    ``cfg.providers``, an ``http(s)://`` or ``host:port`` endpoint, or no
    endpoint at all. The executor does local file I/O only, so such a
    mapping could never copy."""
    p = next((p for p in cfg.providers if p.get("id") == provider_id), {})
    for key in ("minioConfig", "awsConfig", "gcsConfig", "azureConfig"):
        endpoint = (p.get(key) or {}).get("endpoint")
        try:
            local = local_root(endpoint) if endpoint else None
        except ValueError:  # a file: URI naming a host
            continue
        if local is not None:
            return os.path.abspath(f"{local.rstrip('/')}/{bucket}")
    kind = f"type {p.get('type')!r}" if p else "absent from providers"
    raise ValueError(
        f"provider {provider_id!r} ({kind}) has no local endpoint for bucket "
        f"{bucket!r}: the executor does local file I/O only, so an endpoint "
        "must be a plain path or a file: URI"
    )


# the count of a mapping's rows that stay in its next state: the runner
# takes it out of the report to learn which partitions it must clear
STATE_ROW = "state"

# the executed rows ``next_state`` keeps, as SQL text over ``execute_plan``'s
# output: every copy row (the upsert) and every row that carries a stored
# state row, except a successful delete
_COPIED = f"action = '{ACTION_COPY}'"
_DELETED = f"action = '{ACTION_DELETE}' AND status = '{STATUS_SUCCESS}'"
STATE_ROW_SQL = f"{_COPIED} OR (state IS NOT NULL AND NOT ({_DELETED}))"

# each report counter (the reference's, sync.go:166-170, 231-233) and the
# STATE_ROW count, as a predicate over one executed row. A status other
# than success, NULL included, is a failure; keep rows count in none
_OK = f"status <=> '{STATUS_SUCCESS}'"
_OUTCOMES = {
    ACTION_SKIP: f"action = '{ACTION_SKIP}'",
    f"{ACTION_COPY}_success": f"{_COPIED} AND {_OK}",
    f"{ACTION_COPY}_failed": f"{_COPIED} AND NOT ({_OK})",
    f"{ACTION_DELETE}_success": f"action = '{ACTION_DELETE}' AND {_OK}",
    f"{ACTION_DELETE}_failed": f"action = '{ACTION_DELETE}' AND NOT ({_OK})",
    STATE_ROW: STATE_ROW_SQL,
}


def observe_report(
    results: DataFrame, mapping_ids: list[str]
) -> tuple[DataFrame, Callable[[], dict[str, dict[str, int]]]]:
    """``results`` (an executed plan) with each mapping's report counters
    and ``STATE_ROW`` count observed on its rows, plus a function that
    reads them once an action has run the returned frame: one
    ``count_if`` per mapping and ``_OUTCOMES`` key, gathered by the job
    that computes the rows instead of an aggregation after it. Zero
    counts are left out, so each mapping's dict is what ``count_actions``
    gives for its non-keep rows plus one ``STATE_ROW`` row per row of
    ``next_state(results)``."""
    obs = Observation()
    keys = [(mid, key) for mid in mapping_ids for key in _OUTCOMES]
    # one array of counts: each Column is a py4j round trip
    counts_sql = ", ".join(
        f"count_if(mapping_id = {sql_str(mid)} AND ({_OUTCOMES[key]}))"
        for mid, key in keys
    )
    observed = results.observe(obs, F.expr(f"array({counts_sql}) AS counts"))

    def report() -> dict[str, dict[str, int]]:
        counts: dict[str, dict[str, int]] = {mid: {} for mid in mapping_ids}
        for (mid, key), n in zip(keys, obs.get["counts"]):
            if n:
                counts[mid][key] = n
        return counts

    return observed, report


def count_actions(results: DataFrame) -> dict[str, dict[str, int]]:
    """Fold per-(mapping_id, action, status) rows into each mapping's
    report counters: ``skip`` and ``STATE_ROW`` rows count under their
    action, every other action as ``<action>_success`` or
    ``<action>_failed``. The reference that ``observe_report`` is tested
    against; the runner no longer calls it.

    Accumulate, don't comprehend: failed_get and failed_upload both map to
    copy_failed and must SUM, not overwrite each other.
    """
    counts: dict[str, dict[str, int]] = {}
    for r in (
        results.groupBy("mapping_id", "action", "status")
        .agg(F.count("*").alias("n"))
        .collect()
    ):
        action = r["action"]
        ok = "success" if r["status"] == STATUS_SUCCESS else "failed"
        key = action if action in (ACTION_SKIP, STATE_ROW) else f"{action}_{ok}"
        mine = counts.setdefault(r["mapping_id"], {})
        mine[key] = mine.get(key, 0) + r["n"]
    return counts


@dataclass
class _Listed:
    """A mapping that passed its own phase: its roots and the catalog rows
    of both (``listing.list_rows``)."""

    mapping_id: str
    src_root: str
    tgt_root: str
    src: list[tuple]
    tgt: list[tuple]


def _roots(cfg: Config, mapping: BucketMapping) -> tuple[str, str]:
    return (
        _bucket_root(cfg, mapping.source_provider_id, mapping.source_bucket),
        _bucket_root(cfg, mapping.target_provider_id, mapping.target_bucket),
    )


def _list_mapping(
    mid: str, src_root: str, tgt_root: str, allow_empty_source: bool
) -> _Listed:
    """The per-mapping phase, over roots ``_bucket_root`` resolved:
    everything up to the diff that can fail for one mapping alone. It
    runs no Spark action."""
    # 1. catalog rows (metadata only — no payload reads); a missing root
    # (first run, target not created yet) lists as empty, any other
    # listing failure propagates
    src = list_rows(src_root, mid)
    tgt = list_rows(tgt_root, mid)

    # SAFETY GATE: an empty SOURCE combined with a non-empty target/state
    # turns the whole plan into deletes. A typo'd bucket URI, an unmounted
    # volume, or a transient lister bug must not wipe the target — the
    # reference has the same blast radius and no guard (sync.go:199-234);
    # we refuse instead. A genuinely emptied source is actioned by
    # explicitly passing allow_empty_source=True.
    if not allow_empty_source and not src and tgt:
        raise RuntimeError(
            f"mapping {mid}: source listing at {src_root!r} is EMPTY but "
            f"the target is not — refusing the all-delete plan. Pass "
            f"allow_empty_source=True if the source was genuinely emptied."
        )

    # ensure target root exists (EnsureBucketExists, sync.go:88-91)
    os.makedirs(tgt_root, exist_ok=True)
    return _Listed(mid, src_root, tgt_root, src, tgt)


def next_state(results: DataFrame) -> DataFrame:
    """A batch's state rows after its tick, projected from the executed
    plan (``execute_plan`` over ``reconcile``): a copy row becomes the
    result row with its ``status`` as ``sync_status`` (the upsert,
    database.go:346-364), a successful delete leaves no row (sync.go:226-229),
    and any other row keeps the stored row it carries, if it has one.
    ``state.delete_keys(state.upsert(st, copy rows), deleted keys)`` is
    the same merge written as two anti-joins. SQL text, like
    ``sync.reconcile``: each Column call is a py4j round trip."""
    return results.where(STATE_ROW_SQL).selectExpr(
        *[
            c
            if c in state_mod.KEYS
            else f"IF({_COPIED}, {'status' if c == 'sync_status' else c}, state.{c}) AS {c}"
            for c in state_mod.STATE_SCHEMA.fieldNames()
        ]
    )


def _sync_batch(
    spark: SparkSession, batch: list[_Listed], state_path: str
) -> list[SyncReport]:
    """The shared phase: one keyed pass, one copy stage and one state write
    for mappings none of which reads or writes what another writes
    (``_batches``); one report per mapping, in batch order."""
    mids = [m.mapping_id for m in batch]
    # one driver-built relation per side for the whole batch
    src = local_frame(spark, [r for m in batch for r in m.src], CATALOG_SCHEMA)
    tgt = local_frame(spark, [r for m in batch for r in m.tgt], CATALOG_SCHEMA)

    # 2-3. reconcile the listings with the batch's state partitions (pruned
    # scan), execute the copies and deletes, one row per key, observing the
    # report on those rows (4.), and write the next state projected from
    # them. The write is the tick's one action, so it runs every copy and
    # delete exactly once and commits their state rows. It may overwrite
    # the partitions it reads: the state scan feeds the keyed shuffle's map
    # stage, which ends before the write's tasks start, and the dynamic
    # partition overwrite replaces only the batch's partitions, at commit.
    st = state_mod.state_for_mappings(state_mod.load_state(spark, state_path), mids)
    executed, report = observe_report(
        execute_plan(
            reconcile(src, tgt, st),
            {m.mapping_id: (m.src_root, m.tgt_root) for m in batch},
        ),
        mids,
    )
    state_mod.save_state(next_state(executed), state_path)

    # 4. report (the counters the reference logs) and the new state's rows
    # per mapping, observed by the write. A mapping with no state row left
    # is one whose partition the write cannot clear: dynamic overwrite
    # leaves a partition with no rows in the write as it was, so remove its
    # stale files or the deleted rows resurrect on the next load
    counts = report()
    for mid in mids:
        if not counts[mid].pop(STATE_ROW, 0):
            state_mod.clear_mapping_partition(spark, state_path, mid)
    reports = [SyncReport(mapping_id=mid, counts=counts[mid]) for mid in mids]
    for r in reports:
        _log_event(logging.INFO, "mapping_synced", mapping_id=r.mapping_id, counts=r.counts)
    return reports


def sync_buckets(
    spark: SparkSession,
    cfg: Config,
    mapping: BucketMapping,
    state_path: str,
    *,
    allow_empty_source: bool = False,
) -> SyncReport:
    """Sync one mapping (SyncBuckets, sync.go:56-176): ``sync_all``'s
    pipeline over a batch of one. Any failure raises, a root with no local
    endpoint first (``_bucket_root``)."""
    roots = _roots(cfg, mapping)
    listed = _list_mapping(mapping.mapping_id, *roots, allow_empty_source)
    return _sync_batch(spark, [listed], state_path)[0]


def _overlaps(a: str, b: str) -> bool:
    """OS path ``a`` equals, contains or lies under OS path ``b``."""
    return a == b or a.startswith(b.rstrip("/") + "/") or b.startswith(a.rstrip("/") + "/")


def _batches(roots: dict[int, tuple[str, str]]) -> list[list[int]]:
    """The keys of ``roots`` (each mapping's resolved ``(source, target)``
    roots, in config order), cut into batches that one pipeline can sync
    as if they ran in order: a mapping starts a new batch when one of its
    roots overlaps a target root already in the batch, or its target root
    overlaps any root already in it. A batch's mappings then neither read
    nor write what another of them writes. Chained (s→t, t→u) and
    overlapping mappings land in separate batches, and so does a repeated
    mapping."""
    batches: list[list[int]] = []
    srcs: list[str] = []
    tgts: list[str] = []
    for key, (src, tgt) in roots.items():
        if (
            not batches
            or any(_overlaps(r, t) for r in (src, tgt) for t in tgts)
            or any(_overlaps(tgt, r) for r in srcs)
        ):
            batches.append([])
            srcs, tgts = [], []
        batches[-1].append(key)
        srcs.append(src)
        tgts.append(tgt)
    return batches


def _failed(mapping_id: str, e: Exception) -> SyncReport:
    _log_event(logging.ERROR, "mapping_failed", mapping_id=mapping_id, error=str(e))
    return SyncReport(mapping_id=mapping_id, counts={"mapping_failed": 1})


def sync_all(
    spark: SparkSession,
    cfg: Config,
    state_path: str,
    *,
    allow_empty_source: bool = False,
) -> list[SyncReport]:
    """FOREACH mapping, continue-on-error (sync.go:32-53), one pipeline
    per batch of ``_batches``; a batch lists only after the one before it
    has run.

    Every mapping's roots resolve first (``_bucket_root``): a mapping that
    names no local endpoint fails before anything is listed or created,
    and takes no part in batching. A failure in a mapping's
    own phase (listing, the empty-source guard, creating its target)
    fails that mapping alone; a failure in the shared phase (reading or
    writing the state table) fails every mapping that reached it.
    Reports come in config order."""
    done: dict[int, SyncReport] = {}
    roots: dict[int, tuple[str, str]] = {}
    for i, mapping in enumerate(cfg.mappings):
        try:
            roots[i] = _roots(cfg, mapping)
        except ValueError as e:
            done[i] = _failed(mapping.mapping_id, e)
    for batch in _batches(roots):
        listed: dict[int, _Listed] = {}
        for i in batch:
            mid = cfg.mappings[i].mapping_id
            try:
                listed[i] = _list_mapping(mid, *roots[i], allow_empty_source)
            except Exception as e:  # noqa: BLE001 - per-mapping isolation
                done[i] = _failed(mid, e)
        if listed:
            try:
                synced = _sync_batch(spark, list(listed.values()), state_path)
            except Exception as e:  # noqa: BLE001 - per-batch isolation
                synced = [_failed(m.mapping_id, e) for m in listed.values()]
            done.update(zip(listed, synced))
    return [done[i] for i in range(len(cfg.mappings))]


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
