"""Object-catalog sources: listings as DataFrames.

The reference's four provider clients (gcp/aws/azure/minio ``ListObjects``)
collapse into one OS directory walk: every object root is local, a bare
path or a ``file:`` URI (``local_root``), and objects are listed, read and
written with OS calls. ``os_path`` refuses any other scheme (``s3a://``,
``gs://``, ``abfss://``, ...); no Hadoop FileSystem is opened here.

One lister: ``list_rows``, driver-side and metadata only — it never
reads payloads. Like the reference's in-memory ``map[string]*ObjectInfo``
per bucket, the listing is held on the driver as rows, and every listed
object (dot- and underscore-prefixed names included) is diffed, copied
and deleted. ``list_objects`` is the same rows as a DataFrame; the sync
runner instead builds one frame per side from a whole batch's rows.

Catalog schema matches interfaces/provider.go:9-17 (ObjectInfo).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from cloud_data_sync_spark.tables import local_frame

CATALOG_SCHEMA = StructType(
    [
        StructField("mapping_id", StringType(), False),
        StructField("object_name", StringType(), False),
        StructField("bucket", StringType(), True),
        StructField("size", LongType(), True),
        StructField("last_modified", TimestampType(), True),
        StructField("etag", StringType(), True),
        StructField("content_type", StringType(), True),
        # ObjectInfo.Metadata map[string]string (interfaces/provider.go:16).
        # Read from the object's user.* xattrs (object_meta_local).
        StructField("metadata", MapType(StringType(), StringType()), True),
    ]
)


CONTENT_TYPE_XATTR = "user.content-type"


def object_meta_local(path: str) -> tuple[str | None, dict[str, str]]:
    """(content_type, user-metadata) of a local object, from ``user.*``
    filesystem xattrs — the local-FS analog of ObjectInfo.Metadata /
    ContentType (interfaces/provider.go:14-16). ``user.content-type`` maps
    to the content type; every other ``user.*`` attr becomes a metadata
    entry (keys without the prefix, like cloud user-metadata keys).
    Filesystems without xattr support yield (None, {})."""
    try:
        names = os.listxattr(path)
    except OSError:
        return None, {}
    ct: str | None = None
    md: dict[str, str] = {}
    for nm in names:
        if not nm.startswith("user."):
            continue
        try:
            val = os.getxattr(path, nm).decode("utf-8", "replace")
        except OSError:
            continue
        if nm == CONTENT_TYPE_XATTR:
            ct = val
        else:
            md[nm[len("user.") :]] = val
    return ct, md


def local_root(uri: str) -> str | None:
    """The OS path of a local root, or None for any other scheme.

    Local means a bare path or a ``file:`` URI (``file:///abs`` or
    ``file:/abs``). The scheme is whatever precedes a ``:`` that comes
    before the first ``/``, which is how Hadoop's ``Path`` splits it. The
    path is taken literally, as Hadoop does: ``%`` sequences are not
    decoded and ``?``/``#`` are ordinary characters. Trailing slashes are
    dropped. A ``file:`` URI naming a host raises: no OS path reaches
    another host's files."""
    head, colon, rest = uri.partition(":")
    if colon and "/" not in head:
        if head.lower() != "file":
            return None
        if rest.startswith("//"):
            host, _, path = rest[2:].partition("/")
            if host:
                raise ValueError(
                    f"file: URI {uri!r} names host {host!r}; a local root "
                    "is file:///abs/path or file:/abs/path"
                )
            rest = "/" + path
        uri = rest
    return uri.rstrip("/") or uri[:1]


def os_path(uri: str) -> str:
    """The OS path of the local root ``uri`` (``local_root``); a root of
    any other scheme raises ``ValueError``: objects are listed, copied and
    deleted with local file I/O only."""
    local = local_root(uri)
    if local is None:
        raise ValueError(
            f"{uri!r} is a {uri.partition(':')[0]!r}-scheme root: objects "
            "are read and written with local file I/O only, so a root must "
            "be a plain path or a file: URI"
        )
    return local


def _raise(err: OSError) -> None:
    raise err


def list_rows(root_uri: str, mapping_id: str = "") -> list[tuple]:
    """Catalog rows (``CATALOG_SCHEMA`` order, metadata only) of the local
    root ``root_uri``: one ``os.walk`` of ``os_path(root_uri)`` that
    follows directory symlinks (as Hadoop's local listing does), one
    ``os.stat`` per object and the xattr read of ``object_meta_local``.
    No payload is read — GetObject's N+1 HeadObject anti-pattern in
    aws/client.go:95-116 has no analog here.

    A missing root lists as empty (first run). A root that is a file, or
    a directory that cannot be read, raises: skipping it would list its
    objects as gone and plan deletes for them on the target. An object
    that vanishes between the walk and its stat (a racing delete, a
    dangling symlink) is left out, as Hadoop's ``listStatus`` does."""
    root = os_path(root_uri)
    try:
        if not stat.S_ISDIR(os.stat(root).st_mode):
            # refused before os.walk's bare NotADirectoryError, with a
            # message that names the configuration error
            raise ValueError(
                f"{root!r} is a file, so its object is not under the "
                "mapping root — the root must be a directory/prefix, not a "
                "file; check the bucket/endpoint configuration"
            )
    except FileNotFoundError:
        return []  # first run: the root does not exist yet
    prefix = len(root) + (not root.endswith("/"))
    rows = []
    for dirpath, _, filenames in os.walk(root, onerror=_raise, followlinks=True):
        for fname in filenames:
            p = os.path.join(dirpath, fname)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            ct, md = object_meta_local(p)
            mtime_ms = st.st_mtime_ns // 1_000_000
            rows.append(
                (
                    mapping_id,
                    p[prefix:],
                    root_uri,
                    st.st_size,
                    mtime_ms * 1000,  # epoch micros
                    f"{st.st_size}-{mtime_ms}",  # etag proxy
                    ct,
                    md,
                )
            )
    return rows


def list_objects(
    spark: SparkSession, root_uri: str, mapping_id: str = ""
) -> DataFrame:
    """``list_rows(root_uri, mapping_id)`` as a catalog DataFrame: an Arrow
    local relation (``tables.local_frame``), so no Python task reads
    it."""
    return local_frame(spark, list_rows(root_uri, mapping_id), CATALOG_SCHEMA)
