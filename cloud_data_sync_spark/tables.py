"""Loaders for the driver-generated test tables (TESTDATA.md).

``load_tables`` returns the ten tables as DataFrames and registers each as a
temp view so both the DataFrame and ``spark.sql`` surfaces can run against
them. Reads are plain parquet scans — Catalyst handles predicate pushdown /
column pruning for every downstream query.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# The session store: every derived object the package reuses inside one
# Spark session (scan plans, prepared query plans, materialized substrates,
# drained stream families, model parameter packs) is one entry here, keyed
# (applicationId, realpath(sf_dir), tag, input vintage). applicationId is
# unique per SparkContext (id() can be reused after GC); the vintage makes
# an in-session rewrite of an input miss instead of serving stale rows.
_SESSION_STORE: dict[tuple, object] = {}


def _session_key(spark: SparkSession) -> str:
    try:
        return spark.sparkContext.applicationId
    except Exception:  # noqa: BLE001 - stopped/odd sessions: no caching
        return f"id-{id(spark)}"


def input_vintage(sf_dir: str, names: tuple[str, ...]) -> tuple:
    """Per-name vintages of ``sf_dir`` in ONE scandir: for each name, the
    sorted ``(filename, size, mtime_ns)`` of every file matching
    ``<name>*.parquet``. The glob is the streaming file source's
    pathGlobFilter convention, so split-file fixtures (events_000.parquet,
    ...) get a real, change-sensitive vintage where a single-file stat of
    <name>.parquet would return a constant (). A missing dir gives () for
    every name."""
    import fnmatch

    base = sf_dir.replace("file://", "").replace("file:", "")
    found: dict[str, list] = {n: [] for n in names}
    try:
        with os.scandir(base) as it:
            for e in it:
                if not e.name.endswith(".parquet"):
                    continue
                for n, files in found.items():
                    if fnmatch.fnmatchcase(e.name, f"{n}*.parquet"):
                        st = e.stat()
                        files.append((e.name, st.st_size, st.st_mtime_ns))
    except OSError:
        pass
    return tuple(tuple(sorted(found[n])) for n in names)


def session_cached(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    inputs: str | tuple[str, ...],
    build,
):
    """``build()``'s value (never None), built at most once per (session,
    sf_dir, tag, vintage of ``inputs``).

    ``inputs`` must name EVERY table ``build`` reads (a single string is
    accepted for the one-input case): a key over a subset would serve
    values that are stale with respect to the unlisted inputs. ``tag``
    names the value and must be unique across the package, since every
    caller shares this one store.

    On a miss, the superseded vintage of the same (session, sf_dir, tag)
    is evicted, dropping the last driver-side reference so the
    ContextCleaner can release what it pinned, and so is every entry of
    another applicationId: classic PySpark runs one SparkContext per
    process, so those belong to stopped sessions. A session whose
    applicationId is unreadable builds and stores nothing.
    """
    try:
        app = spark.sparkContext.applicationId
    except Exception:  # noqa: BLE001 - stopped/odd session: don't cache
        return build()
    if isinstance(inputs, str):
        inputs = (inputs,)
    base = (app, os.path.realpath(sf_dir), tag)
    key = base + (input_vintage(sf_dir, inputs),)
    hit = _SESSION_STORE.get(key)
    if hit is not None:
        return hit
    for k in [k for k in _SESSION_STORE if k[0] != app or k[:3] == base]:
        del _SESSION_STORE[k]
    value = _SESSION_STORE[key] = build()
    return value


def table_num_rows(sf_dir: str, name: str) -> int:
    """Row count from parquet FOOTERS over ``<name>*.parquet`` — one
    metadata read per file, no data scan. This is the input to
    sf-adaptive plan choices (q_percentiles_adaptive): the decision is
    re-made exactly when the prepared-plan cache's vintage key changes,
    so a rewritten table re-decides instead of serving a stale branch.
    Missing dir/files count as 0 (the degenerate gates' empty vintages
    take the small-data branch, which handles empty inputs)."""
    import fnmatch

    import pyarrow.parquet as _pq

    base = sf_dir.replace("file://", "").replace("file:", "")
    total = 0
    try:
        with os.scandir(base) as it:
            for e in it:
                if fnmatch.fnmatchcase(e.name, f"{name}*.parquet"):
                    try:
                        total += _pq.ParquetFile(e.path).metadata.num_rows
                    except Exception:  # noqa: BLE001 - unreadable: treat as 0
                        pass
    except OSError:
        return 0
    return total


# spark conf key: when set to a path, every lineage-truncation site in the
# package (iterative label propagation, session substrates, the sync runner's
# per-tick plans) uses a RELIABLE checkpoint rooted there instead of
# localCheckpoint. localCheckpoint pins blocks on executors — fine on
# local[*] and fastest there, but on a real cluster a lost executor silently
# kills every lineage-truncated frame it hosted (SCALE.md §"What we would
# change first"). The flag is the single switch a cluster deployment flips.
CHECKPOINT_DIR_CONF = "spark.cloud_data_sync.checkpoint_dir"

# sessions (by applicationId) whose JVM checkpoint dir we already pointed at
# a given path — setCheckpointDir is cheap but touches the filesystem, so
# re-pin only when the configured path changes mid-session.
_CKDIR_SET: dict[str, str] = {}

# side-effecting materializations under the reliable-checkpoint flag are
# write-then-read parquet dirs; each (app, tag) keeps exactly ONE live
# generation — the previous dir is deleted as soon as its successor is
# durably written, so the continuous sync loop's storage is bounded at
# one superseded generation per tag instead of growing per tick.
_EFFECT_DIRS: dict[tuple[str, str], str] = {}
_EFFECT_SEQ: dict[tuple[str, str], int] = {}


def _delete_dir(spark: SparkSession, uri: str) -> None:
    """Recursive delete through the Hadoop FileSystem API (works for
    hdfs:/s3a:/gs:/abfss: roots, not just local paths); best-effort —
    a failed cleanup must never fail the sync tick that triggered it."""
    try:
        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        path = jvm.org.apache.hadoop.fs.Path(uri)
        path.getFileSystem(hconf).delete(path, True)
    except Exception:  # noqa: BLE001
        pass


def materialize(
    df: DataFrame, *, eager: bool, side_effecting: bool = False, tag: str = ""
) -> DataFrame:
    """Truncate ``df``'s lineage: localCheckpoint by default, a reliable
    ``df.checkpoint()`` when ``spark.cloud_data_sync.checkpoint_dir`` is set.

    Every package call site that previously called ``localCheckpoint``
    routes through here, so cluster portability is one conf flag rather
    than a code edit per site. Semantics are identical either way — both
    materialize the rows (eagerly or on first action) and cut the plan —
    only the durability/storage of the materialized blocks differs:
    executor block manager (fast, lost with the executor) vs the
    checkpoint filesystem (HDFS/S3 on a cluster; survives executor loss,
    required for long iterative chains where recomputing a lost block
    would replay the whole lineage that was just truncated away).

    ``side_effecting=True`` declares that computing ``df`` performs
    externally-visible work (the sync runner's copy/delete frames) that
    must run EXACTLY once. ``df.checkpoint()`` cannot honor that: Spark's
    reliable checkpoint runs the action's job first and then a SECOND job
    over the same unpersisted RDD to write the checkpoint files, so every
    copy and delete would execute twice per tick (r6 advice). Those
    frames instead go through write-then-read parquet under the
    checkpoint root — the write is the ONE job that runs the side
    effects, and the returned frame is a durable file scan. ``tag`` keys
    the superseded-generation cleanup and must be stable per logical
    frame (e.g. ``"results-<mapping_id>"``). The localCheckpoint path is
    already exactly-once (one eager job; blocks pinned, never recomputed
    while they exist) and is unchanged.

    Storage hygiene for the non-side-effecting ``df.checkpoint`` path:
    sessions built by ``get_spark()``/the CLI set
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (static
    conf, session.py), so iterative loops' superseded round checkpoints
    are deleted by the ContextCleaner once their frames are GC'd instead
    of accumulating for the app's lifetime; externally-built cluster
    sessions should set the same conf at submit time.
    """
    spark = df.sparkSession
    try:
        ckdir = spark.conf.get(CHECKPOINT_DIR_CONF, None)
    except Exception:  # noqa: BLE001 - conf unreadable on stopped sessions
        ckdir = None
    if not ckdir:
        return df.localCheckpoint(eager=eager)
    app = _session_key(spark)
    if side_effecting:
        key = (app, tag or "untagged")
        seq = _EFFECT_SEQ.get(key, 0) + 1
        _EFFECT_SEQ[key] = seq
        out = f"{ckdir.rstrip('/')}/effects/{app}/{key[1]}-{seq:06d}"
        df.write.mode("overwrite").parquet(out)
        result = spark.read.parquet(out)
        prev = _EFFECT_DIRS.get(key)
        if prev and prev != out:
            _delete_dir(spark, prev)
        _EFFECT_DIRS[key] = out
        return result
    if _CKDIR_SET.get(app) != ckdir:
        spark.sparkContext.setCheckpointDir(ckdir)
        _CKDIR_SET[app] = ckdir
    return df.checkpoint(eager=eager)


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: StructType
) -> DataFrame:
    """DataFrame over driver-built ``rows`` (tuples in ``schema``'s field
    order) that never runs a Python task.

    ``spark.createDataFrame(list, schema)`` plans as a ``LogicalRDD`` over
    ``parallelize`` plus a Python identity map, with no size statistics:
    every job that reads it launches Python workers again. Handing Spark an
    Arrow table instead gives a JVM ``LocalRelation`` with exact sizes
    below ``spark.sql.execution.arrow.localRelationThreshold``, and above
    it an RDD of Arrow batches decoded in JVM executors. Values must be
    what ``pyarrow.array`` accepts for each field's Arrow type: timestamps
    as timezone-aware datetimes or epoch microseconds, maps as dicts.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def session_substrate(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    inputs: str | tuple[str, ...],
    build,
) -> DataFrame:
    """Session-scoped materialization of a deterministic intermediate.

    Several query families recompute an identical heavy intermediate (the
    dedup family's per-doc shingle-hash + MinHash signature table; the
    embedding family's blocked candidate-cosine pair set). Those
    intermediates are pure functions of immutable parquet inputs, so
    sharing ONE lazily-materialized copy per (session, input vintage)
    is a materialized common subexpression — the session-scoped analogue of
    the signature/pair table a production pipeline at 100 TB writes once
    and scans from many consumers — not a semantics change. Keying,
    eviction and the ``inputs`` contract are :func:`session_cached`'s.

    ``materialize(eager=False)`` (localCheckpoint, or a reliable
    checkpoint under ``spark.cloud_data_sync.checkpoint_dir``) computes
    on first consumer action and pins the partitions; later consumers
    scan the checkpoint instead of re-running tokenize/hash/sign
    pipelines.
    """
    return session_cached(
        spark, sf_dir, tag, inputs, lambda: materialize(build(), eager=False)
    )


def _scan_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read via nanosAsLong — truncate ns → µs exactly as
        # DuckDB does when casting to its µs-precision TIMESTAMP. Integer
        # division, not float: ns-since-epoch exceeds 2^53.
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan of one test table, kept in the session store: building a scan
    DataFrame costs a driver round trip for footer schema inference, and
    queries re-load the same tables constantly."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    # External harnesses hand us vanilla SparkSessions that never went through
    # get_spark(), so the two confs correctness depends on are (re)pinned here
    # at read time — both are runtime-settable, and the re-pin runs on EVERY
    # call, store hit included (a harness that flips session timeZone between
    # calls would otherwise render cached ltz timestamps in the wrong zone):
    # - nanosAsLong: older testdata vintages carried TIMESTAMP(NANOS) in
    #   events.parquet, which Spark rejects outright without it (read as
    #   bigint, normalized in _scan_table). Current testdata is
    #   TIMESTAMP(MICROS), read natively as timestamp_ntz — the conf is then
    #   a harmless no-op and the bigint branch stays dormant;
    # - session timeZone: collected timestamps render in session tz, and the
    #   DuckDB oracle compares against naive-UTC wall times.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return session_cached(
        spark, sf_dir, f"scan:{name}", name,
        lambda: _scan_table(spark, sf_dir, name),
    )


def load_tables(
    spark: SparkSession, sf_dir: str, register_views: bool = True
) -> dict[str, DataFrame]:
    out: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        df = load_table(spark, sf_dir, name)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out


# spread decision cache: keyed by (session, (file, size) pairs) so the
# packing arithmetic happens once per table vintage per session, and a
# rewritten file (same path, new size) misses the cache instead of reusing
# a stale estimate. File-less frames never enter the cache.
_SPREAD_CACHE: dict[tuple, int] = {}


_BYTE_SUFFIX = {
    "": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30, "t": 1 << 40, "tb": 1 << 40,
    "p": 1 << 50, "pb": 1 << 50,
}


def _parse_bytes(s: str, default: int) -> int:
    """Spark size confs round-trip with a unit suffix ('128m', '4194304b');
    parse both forms. Unparseable -> default (conservative, never raises in
    a query-build path)."""
    s = (s or "").strip().lower()
    i = len(s)
    while i > 0 and not s[i - 1].isdigit():
        i -= 1
    num, suffix = s[:i], s[i:]
    if not num or suffix not in _BYTE_SUFFIX:
        # unknown unit = unparseable: fall back to the documented default
        # rather than silently treating the number as raw bytes
        return default
    try:
        return int(num) * _BYTE_SUFFIX[suffix]
    except ValueError:
        return default


def _estimated_scan_splits(df: DataFrame) -> int:
    """Estimate how many file splits Spark's scan will produce, using the
    same packing rule as ``FilePartition.maxSplitBytes`` — without forcing
    the plan through RDD conversion (``df.rdd`` triggers full physical
    planning + codegen on the driver for every uncached call)."""
    spark = df.sparkSession
    files = df.inputFiles()
    if not files:
        # File-less frames (localCheckpoint'ed, in-memory relations) have no
        # listing to estimate from, and they must NOT share a cache entry on
        # the empty key — a checkpointed frame is already materialized, so
        # its RDD partition count is available without the physical-planning
        # cost the listing path exists to avoid.
        return df.rdd.getNumPartitions()
    from urllib.parse import unquote

    local = []
    for f in files:
        # inputFiles() returns percent-encoded URIs; decode so paths with
        # spaces/special chars stat correctly instead of contributing 0
        if f.startswith("file:"):
            local.append(unquote(f[len("file:"):]))
        elif "://" not in f:
            local.append(unquote(f))
        else:
            # non-local FS: can't stat cheaply; assume the scan already
            # parallelizes (real clusters list >= cores splits)
            return 1 << 30
    sizes = []
    for p in local:
        try:
            sizes.append(os.path.getsize(p))
        except OSError:
            sizes.append(0)
    total = sum(sizes)
    open_cost = _parse_bytes(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304"), 4 << 20
    )
    max_part = _parse_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", str(128 << 20)), 128 << 20
    )
    cores = spark.sparkContext.defaultParallelism
    # sizes AND the confs/parallelism the estimate depends on participate
    # in the key: files rewritten in-session at the same path, or an
    # in-session maxPartitionBytes/openCostInBytes tune, must not reuse a
    # stale split estimate (a wrong skip leaves cores idle on the very
    # per-row pipelines spread() exists to parallelize)
    key = (
        _session_key(spark),
        tuple(sorted(zip(local, sizes))),
        open_cost,
        max_part,
        cores,
    )
    cached = _SPREAD_CACHE.get(key)
    if cached is not None:
        return cached
    bytes_per_core = (total + open_cost * len(local)) / max(cores, 1)
    max_split = min(max_part, max(open_cost, int(bytes_per_core)))
    splits = 0
    for sz in sizes:
        splits += max(1, -(-sz // max(max_split, 1)))
    splits = max(splits, 1)
    _SPREAD_CACHE[key] = splits
    return splits


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition up to the cluster's parallelism when the input arrives
    in fewer splits than there are cores — keyed by ``cols`` when given,
    round-robin otherwise.

    Pure per-row pipelines (shingle/md5/signature, hyperplane buckets) are
    bounded by input split count; a small local table is one parquet file
    (1-4 splits), leaving most cores idle (measured 6.4s -> 1.7s on the
    minhash signature stage at sf0.1). At real scale the scan already
    yields >= cores splits and this is a no-op — no shuffle is added.

    Pass the row's natural unique key ONLY when the input is fine-grained
    (many rows per core): a keyless round-robin repartition first pays a
    LOCAL SORT of its input (sortBeforeRepartition, on by default since
    SPARK-23207 so retried tasks reproduce the same row-to-partition
    assignment), while hash partitioning on a deterministic key needs no
    such sort and is retry-safe for free — measured r11 on the 600k-row
    q_bootstrap_ci exchange: 0.97s round-robin vs 0.58s keyed. But for a
    COARSE table (the 5k-doc corpus feeding CPU-heavy per-row pipelines)
    the multinomial spread of a hash leaves ~10-20% partition imbalance
    where round-robin is exactly even, and the measured A/B regressed
    7-17% (q_dedup_simhash/suffix/langid, r11) — those sites stay
    keyless; the tiny local sort of a 5k-row input is the cheaper side.

    The split count comes from the file listing (cached per session), not
    ``df.rdd.getNumPartitions()`` — the RDD probe forced physical planning
    per query build (r3 verdict finding).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if _estimated_scan_splits(df) < target:
        if cols:
            from pyspark.sql import functions as F

            return df.repartition(target, *[F.col(c) for c in cols])
        return df.repartition(target)
    return df
