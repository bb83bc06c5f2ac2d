"""Sync-state table: the Spark-native replacement for the reference's SQLite
``file_metadata`` table (database.go:144-157 DDL, 346-364 upsert).

Layout: Parquet partitioned by ``mapping_id``. That single choice replaces
the reference's composite index (database.go:156-157) — partition pruning
makes per-mapping scans free — and with
``spark.sql.sources.partitionOverwriteMode=dynamic`` an upsert rewrites only
the partitions it touches, giving batch-level atomicity per mapping.

Upsert semantics (INSERT .. ON CONFLICT(mapping_id, object_name) DO UPDATE):
the stored rows an update does not name, plus every update row. At 100 TB
the anti-join shuffles only the state table (a metadata table: ~100
bytes/object), never payloads. The sync runner does not call ``upsert`` or
``delete_keys``: its tick projects the next state from the executed plan,
which carries each key's stored row (``runner.next_state``). They stay as
the reference merge that projection is tested against.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from cloud_data_sync_spark.tables import hadoop_fs, local_frame

STATE_SCHEMA = StructType(
    [
        StructField("mapping_id", StringType(), False),
        StructField("object_name", StringType(), False),
        StructField("size", LongType(), True),
        StructField("last_modified", TimestampType(), True),
        StructField("etag", StringType(), True),
        StructField("content_type", StringType(), True),
        # ObjectInfo.Metadata carried through the copy (interfaces/
        # provider.go:16) — recorded per state row so a re-listing of the
        # target can be reconciled against what was uploaded.
        StructField("metadata", MapType(StringType(), StringType()), True),
        StructField("last_synced", TimestampType(), True),
        StructField("sync_status", StringType(), True),
    ]
)

KEYS = ["mapping_id", "object_name"]

# Schema-version marker: the promised replacement for the reference's
# transactional migration runner (database.go:45-313). Parquet handles
# additive evolution; the marker catches everything else — a state table
# written by an incompatible engine version fails loudly instead of being
# silently misread. Underscore-prefixed, so Spark's parquet reader ignores it.
# NOTE: the per-object `metadata` map (r4) did NOT bump this. It is a
# nullable additive column and load_state reads with an explicit schema, so
# v1 tables read back with metadata=null — exactly the additive-evolution
# path this comment promises. Bumping would have bricked every existing
# deployment (only recovery: delete state and re-copy the whole bucket)
# for a change the reader already tolerates. Bump ONLY for reinterpreted
# or removed columns / changed key semantics.
STATE_VERSION = 1
_VERSION_FILE = "_state_version.json"


class StateVersionError(RuntimeError):
    """State table on disk was written by an incompatible schema version."""


def _read_marker(spark: SparkSession, path: str) -> str | None:
    """Marker text, or None when cleanly absent (pre-versioning / new path).

    I/O goes through the Hadoop FileSystem API so the same one-file
    protocol works on any scheme the sync machinery writes to (file:,
    s3a://, gs://, abfss://). A marker that EXISTS but cannot be read
    raises: treating it as absent would silently pass the version gate on
    exactly the table it exists to protect.
    """
    fs, jpath = hadoop_fs(spark, path.rstrip("/") + "/" + _VERSION_FILE)
    if not fs.exists(jpath):
        return None

    def _read(handle) -> str:
        stream = handle.open(jpath)
        try:
            # InputStream.readAllBytes (Java 9+) → py4j returns Python bytes
            return bytes(stream.readAllBytes()).decode("utf-8")
        finally:
            stream.close()

    try:
        return _read(fs)
    except Exception:  # noqa: BLE001
        # External writers (an operator's editor, an older engine) update
        # the marker without refreshing ChecksumFileSystem's .crc sibling;
        # the gate must still see actual content, so retry unverified — on
        # a PRIVATE FileSystem instance: setVerifyChecksum on the shared
        # JVM-cached one would silently disable checksum verification for
        # every concurrent reader of this scheme during the window.
        sc = spark.sparkContext
        fs2 = sc._jvm.org.apache.hadoop.fs.FileSystem.newInstance(
            jpath.toUri(), sc._jsc.hadoopConfiguration()
        )
        try:
            fs2.setVerifyChecksum(False)
            return _read(fs2)
        finally:
            fs2.close()


def check_state_version(spark: SparkSession, path: str) -> None:
    """Raise StateVersionError if the on-disk marker mismatches.

    A missing marker (pre-versioning table or brand-new path) is accepted —
    the next save stamps it.
    """
    text = _read_marker(spark, path)
    if text is None:
        return
    try:
        marker = json.loads(text)
    except ValueError as exc:
        # a marker that EXISTS but does not parse is a torn write or
        # corruption — silently passing here would bypass the exact
        # misread this gate exists to prevent
        raise StateVersionError(
            f"state version marker at {path} is unreadable: {exc}"
        ) from exc
    if not isinstance(marker, dict):
        # valid JSON that is not an object (bare number/list) is equally
        # corrupt; keep the documented StateVersionError contract
        raise StateVersionError(
            f"state version marker at {path} is not a JSON object: {text[:80]!r}"
        )
    if marker.get("version") != STATE_VERSION:
        raise StateVersionError(
            f"state table at {path} has version {marker.get('version')}, "
            f"engine expects {STATE_VERSION}; run a migration before syncing"
        )


def _write_state_version(spark: SparkSession, path: str) -> None:
    payload = json.dumps(
        {"version": STATE_VERSION, "columns": STATE_SCHEMA.fieldNames()}
    )
    fs, jpath = hadoop_fs(spark, path.rstrip("/") + "/" + _VERSION_FILE)
    out = fs.create(jpath, True)
    try:
        out.write(payload.encode("utf-8"))
    finally:
        out.close()


def empty_state(spark: SparkSession) -> DataFrame:
    return local_frame(spark, [], STATE_SCHEMA)


def state_exists(spark: SparkSession, path: str) -> bool:
    """tableExists-style catalog introspection (the reference checks its
    SQLite table before reading, database.go:319-344); Hadoop-FS probe so it
    works for cloud paths too."""
    fs, jpath = hadoop_fs(spark, path)
    return bool(fs.exists(jpath))


def load_state(spark: SparkSession, path: str) -> DataFrame:
    """Load the state table, or an empty frame if it doesn't exist yet.

    ONLY a cleanly-absent path reads as empty. An existing-but-unreadable
    table (transient I/O, auth, corrupt footer) must RAISE: swallowing it
    would classify every source object as 'new' and re-copy the bucket —
    the same first-run-vs-failure distinction ``list_rows`` enforces.
    """
    check_state_version(spark, path)
    if not state_exists(spark, path):
        return empty_state(spark)
    return spark.read.schema(STATE_SCHEMA).parquet(path)


def upsert(existing: DataFrame, updates: DataFrame) -> DataFrame:
    """INSERT .. ON CONFLICT(mapping_id, object_name) DO UPDATE
    (database.go:346-364): every update row replaces the stored row with
    its key, whatever either row's ``last_synced`` says, so a stored row
    stamped ahead of this host's clock cannot outlive a fresh copy."""
    cols = STATE_SCHEMA.fieldNames()
    return (
        existing.select(*cols)
        .join(updates.select(*KEYS), on=KEYS, how="left_anti")
        .unionByName(updates.select(*cols))
    )


def delete_keys(state: DataFrame, gone: DataFrame) -> DataFrame:
    """DELETE FROM file_metadata WHERE key IN gone — as an anti-join
    (database.go:405-415 ≙ sync.go:226-229 delete phase)."""
    return state.join(gone.select(*KEYS), on=KEYS, how="left_anti")


def save_state(state: DataFrame, path: str) -> None:
    """Rewrite touched mapping_id partitions only (dynamic overwrite).

    The overwrite mode is pinned PER WRITE: relying on the session-level
    ``spark.sql.sources.partitionOverwriteMode`` would make this call
    destructive under a vanilla session (static overwrite drops every
    partition absent from the write — i.e. all other mappings' state
    whenever a caller saves one mapping's slice).

    No ``repartition("mapping_id")`` before the write: it would be an
    exchange job of its own, and over the sync runner's observed rows
    (``runner.observe_report``) an empty input, observed then filtered
    then repartitioned, makes ``Observation.get`` fail
    (``PythonSQLUtils.toPyRow: assertion failed``) after the write. A
    partition is written as one file per input partition holding its
    rows."""
    (
        state.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("mapping_id")
        .parquet(path)
    )
    _write_state_version(state.sparkSession, path)


def clear_mapping_partition(spark: SparkSession, path: str, mapping_id: str) -> None:
    """Remove a mapping's partition directory outright.

    Dynamic partition overwrite only rewrites partitions PRESENT in the
    write; a mapping whose state became empty contributes no rows, so its
    old files would survive the save and resurrect deleted state rows on
    the next load. Callers invoke this for every mapping whose new
    state holds zero rows.
    """
    from urllib.parse import unquote

    fs, root = hadoop_fs(spark, path.rstrip("/"))
    if not fs.exists(root):
        return
    # Partition directory names are Spark-escaped (%-hex for ':', '=', …),
    # so the raw mapping_id cannot be joined into a path — list and
    # unescape instead (the escaping is percent-encoding, which unquote
    # reverses exactly).
    prefix = "mapping_id="
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if name.startswith(prefix) and unquote(name[len(prefix):]) == mapping_id:
            fs.delete(status.getPath(), True)


def state_for_mappings(state: DataFrame, mapping_ids: list[str]) -> DataFrame:
    """Partition-pruned scan of a batch of mappings
    (ListFileMetadataByMapping, database.go:366-403)."""
    return state.filter(F.col("mapping_id").isin(mapping_ids))
