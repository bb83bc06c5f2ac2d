"""Copy/delete execution: the reference's per-object streaming copy loop
(sync.go:130-163) and delete phase (sync.go:199-234), distributed.

The action plan (``sync.reconcile``) is a DataFrame; ``mapInArrow`` hands
each partition's Arrow batches to a Python worker that copies/deletes its
objects and emits one status row per object — the reference's
continue-on-error counters (sync.go:137,155,161) become a *result
DataFrame* from which the runner projects the next state and counts the
report. Only the copy and delete rows reach the per-row loop (selected
with ``pyarrow.compute``); skip and keep rows go back as Arrow columns.

Scale notes:
- Payloads stream chunk-by-chunk (``shutil.copyfileobj``) — the reference's
  v0.2.0 fix (CHANGELOG.md:18-23), and never the ``io.ReadAll`` buffering
  its AWS/Azure clients still do (aws/client.go:174-186). Memory per task is
  one 1 MiB chunk regardless of object size; no 2 GB binaryFile ceiling.
- A latent reference bug is deliberately NOT replicated: ``defer
  reader.Close()`` inside its object loop (sync.go:142) leaks all readers
  until function exit; here each file handle closes per object.
- The Python stage reads ``reconcile``'s keyed shuffle directly: its rows
  are already hashed by key, and AQE sizes the stage's tasks from that
  shuffle. Per-object failures never fail the task (try/except per row).
- One stage serves a batch of mappings: each row resolves its source and
  target roots from its ``mapping_id``.
- I/O is local: every root must be a plain path or ``file:`` URI, which
  the workers open with OS calls. ``execute_plan`` refuses any other
  scheme (s3a, gs, abfss, ...) before running anything
  (``listing.os_path``); ``runner.sync_all`` only ever passes absolute
  OS paths.
"""

from __future__ import annotations

import mimetypes
import os
import shutil
from collections.abc import Iterator, Mapping
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType, _parse_datatype_string

from cloud_data_sync_spark.sources.listing import os_path
from cloud_data_sync_spark.sync import (
    ACTION_COPY,
    ACTION_DELETE,
    STATUS_FAILED_GET,
    STATUS_FAILED_UPLOAD,
    STATUS_SUCCESS,
)
from cloud_data_sync_spark.tables import arrow_schema

RESULT_SCHEMA = (
    "mapping_id string, object_name string, action string, status string, "
    "error string, size long, last_modified timestamp, etag string, "
    "content_type string, metadata map<string,string>, last_synced timestamp"
)

CHUNK = 1024 * 1024

# The status vocabulary lives in sync.py (sync_diff's retry predicate
# compares against the same literals these rows are written with — one
# definition, no drift). Delete-phase status is executor-only.
STATUS_FAILED_DELETE = "failed_delete"


def _copy_one(src_path: str, dst_path: str) -> tuple[str, str | None]:
    """Stream one object; distinguishes read vs write failure exactly as the
    reference's status machine does (sync.go:137 failed_get / :155
    failed_upload)."""
    try:
        fin = open(src_path, "rb")
    except OSError as e:
        return STATUS_FAILED_GET, str(e)
    # fin closes on EVERY write-side path: makedirs sits inside the
    # with-block so a failure there (read-only mount, ENOSPC) cannot leak
    # the descriptor — a task grinding through thousands of rows against a
    # broken target would otherwise hit EMFILE and poison healthy copies
    try:
        with fin:
            os.makedirs(os.path.dirname(dst_path), exist_ok=True)
            with open(dst_path, "wb") as fout:
                shutil.copyfileobj(fin, fout, CHUNK)
    except OSError as e:
        return STATUS_FAILED_UPLOAD, str(e)
    return STATUS_SUCCESS, None


def _apply_object_meta(
    dst_path: str, content_type: str | None, metadata: dict[str, str]
) -> None:
    """Re-apply content type + user metadata on the uploaded object — the
    reference's UploadObject(..., contentType) and ObjectInfo.Metadata
    carry-through (gcp/client.go:107-138; interfaces/provider.go:16). On a
    local target the durable form is ``user.*`` xattrs (the same ones
    ``listing.object_meta_local`` reads back, so list→copy→list round-trips);
    best-effort — filesystems without xattr support keep the payload copy."""
    from cloud_data_sync_spark.sources.listing import CONTENT_TYPE_XATTR

    # Clear whatever user.* attrs a previous copy left: an overwrite reuses
    # the inode (open 'wb' truncates in place), so without this a key
    # REMOVED on the source would survive on the target and the next
    # list→reconcile pass would see phantom metadata the state row (which
    # records the new, smaller map) disagrees with.
    try:
        for existing in os.listxattr(dst_path):
            if existing.startswith("user."):
                try:
                    os.removexattr(dst_path, existing)
                except OSError:
                    pass
    except OSError:
        pass
    # Content type first: it is the attribute the reference's upload
    # signature carries explicitly (gcp/client.go:107), so a partial
    # failure mid-list must not drop it.
    items = [(CONTENT_TYPE_XATTR, content_type)] if content_type else []
    items += [(f"user.{k}", v) for k, v in metadata.items()]
    for name, val in items:
        try:
            os.setxattr(dst_path, name, str(val).encode("utf-8"))
        except OSError:
            # per-attr best effort: one oversized value (E2BIG) must not
            # abort the remaining attrs; unsupported filesystems
            # (ENOTSUP on every call) degrade to payload-only copies
            continue


def _delete_one(dst_path: str) -> tuple[str, str | None]:
    """Delete one target object; absent object counts as success (the
    Azure 404-tolerance, azure/client.go:168-170)."""
    try:
        os.remove(dst_path)
        return STATUS_SUCCESS, None
    except FileNotFoundError:
        return STATUS_SUCCESS, None
    except OSError as e:
        return STATUS_FAILED_DELETE, str(e)


def execute_plan(plan: DataFrame, roots: Mapping[str, tuple[str, str]]) -> DataFrame:
    """Run the copy and delete rows of ``plan``; returns every plan row,
    each copy and delete row with its outcome.

    ``roots`` maps each ``mapping_id`` of the plan to its ``(source root,
    target root)``; every row copies and deletes under its own mapping's
    roots, so one stage serves a batch of mappings. Every root goes
    through ``listing.os_path`` before anything runs, so a root of any
    other scheme raises here instead of reaching ``os.remove``: there a
    missing object counts as deleted (the 404 tolerance), which would
    drop the state row of an object that survives.

    The output holds ``RESULT_SCHEMA``'s columns, then the plan's other
    columns (``reconcile``'s ``reason`` and ``state``) as they came in.
    A copy or delete row gets its ``status``, ``error``, ``content_type``,
    ``metadata`` and ``last_synced`` here; every other row (skip, keep)
    passes through with those that the plan lacks left NULL.

    Lazy like any DataFrame, and computing it copies and deletes: run
    one action over it, and only one. The sync runner's is the state
    write (``state.save_state`` of ``runner.next_state`` over it), with
    the report observed on the same rows (``runner.observe_report``)."""
    paths = {mid: (os_path(src), os_path(tgt)) for mid, (src, tgt) in roots.items()}

    # built on the driver: parsing a DDL string needs the JVM
    result = _parse_datatype_string(RESULT_SCHEMA)
    out_type = StructType(
        result.fields + [f for f in plan.schema.fields if f.name not in result.names]
    )
    out_schema = arrow_schema(out_type)
    acted = pa.array([ACTION_COPY, ACTION_DELETE])

    def _act(batch: pa.RecordBatch) -> dict[str, list]:
        """The columns this loop writes for the copy and delete rows of
        ``batch``."""
        made: dict[str, list] = {
            "status": [],
            "error": [],
            "content_type": [],
            "metadata": [],
            "last_synced": [],
        }
        for row in batch.to_pylist():
            name = row["object_name"]
            src_local, tgt_local = paths[row["mapping_id"]]
            content_type = None
            metadata: dict[str, str] = {}
            if row["action"] == ACTION_COPY:
                dst = os.path.join(tgt_local, name)
                status, err = _copy_one(os.path.join(src_local, name), dst)
                # Content type: prefer the source catalog's (xattr/cloud
                # HEAD), fall back to extension sniffing — the reference
                # stores ContentType per object (database.go:144-157)
                # and re-uploads with it (gcp/client.go:107-138).
                content_type = row.get("content_type") or mimetypes.guess_type(name)[0]
                # an Arrow map arrives as a list of (key, value) pairs
                metadata = dict(row.get("metadata") or ())
                if status == STATUS_SUCCESS:
                    _apply_object_meta(dst, content_type, metadata)
            else:
                status, err = _delete_one(os.path.join(tgt_local, name))
            made["status"].append(status)
            made["error"].append(err)
            made["content_type"].append(content_type)
            made["metadata"].append(metadata)
            made["last_synced"].append(datetime.now(timezone.utc))
        return made

    def _out(batch: pa.RecordBatch, made: dict[str, list]) -> pa.RecordBatch:
        return pa.RecordBatch.from_arrays(
            [
                pa.array(made[f.name], f.type)
                if f.name in made
                else batch.column(f.name).cast(f.type)
                if f.name in batch.schema.names
                else pa.nulls(batch.num_rows, f.type)
                for f in out_schema
            ],
            schema=out_schema,
        )

    def _run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            act = pc.is_in(batch.column("action"), value_set=acted)
            work = batch.filter(act)
            if work.num_rows:
                yield _out(work, _act(work))
            rest = batch.filter(pc.invert(act))
            if rest.num_rows:
                yield _out(rest, {})

    return plan.mapInArrow(_run, schema=out_type)
