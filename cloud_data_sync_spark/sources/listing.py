"""Object-catalog sources: listings as DataFrames.

The reference's four provider clients (gcp/aws/azure/minio ``ListObjects``)
collapse into URI schemes. A local root (a bare path or a ``file:`` URI,
see ``local_root``) is listed with one OS directory walk; every other
scheme (``s3a://``, ``gs://``, ``abfss://``) goes through its Hadoop
FileSystem connector, whose credentials/endpoints are *configuration*
(``spark.hadoop.fs.*``), not code (storage/factory.go:24-77 becomes
``provider_conf`` below).

One lister: ``list_objects``, driver-side and metadata only — it never
reads payloads. Like the reference's in-memory ``map[string]*ObjectInfo``
per bucket, the listing is held on the driver, and every listed object
(dot- and underscore-prefixed names included) is diffed, copied and
deleted.

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

from cloud_data_sync_spark.tables import hadoop_fs, local_frame

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
        # Local roots read it from user.* xattrs; Hadoop FileSystem listings
        # don't surface user metadata, so other schemes carry an empty map.
        StructField("metadata", MapType(StringType(), StringType()), True),
    ]
)


def provider_conf(
    spark: SparkSession, provider: dict, bucket: str | None = None
) -> None:
    """Map a reference-style provider config onto Hadoop FS settings.

    E.g. a minio provider (config.go:55-60) becomes per-bucket s3a endpoint
    configuration; GCS/Azure analogous. No client objects — connectors are
    session-level conf.

    Pass ``bucket`` whenever the mapping names one: s3a settings then land
    on ``fs.s3a.bucket.<bucket>.*``, so a mapping whose source AND target
    are both s3-scheme providers (aws → minio, the reference's headline
    flow) keeps two distinct endpoint/credential sets live at once —
    global ``fs.s3a.*`` keys would have the second ``provider_conf`` call
    clobber the first's. Azure keys are account-scoped by construction;
    the GCS keyfile is global (one service account per session — a
    documented narrowing vs the reference's per-client credentials)."""
    ptype = provider.get("type")
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    if ptype in ("aws", "minio"):
        cfg = provider.get("minioConfig") or provider.get("awsConfig") or {}
        prefix = f"fs.s3a.bucket.{bucket}." if bucket else "fs.s3a."
        if cfg.get("endpoint"):
            conf.set(prefix + "endpoint", cfg["endpoint"])
        if cfg.get("accessKey"):
            conf.set(prefix + "access.key", cfg["accessKey"])
        if cfg.get("secretKey"):
            conf.set(prefix + "secret.key", cfg["secretKey"])
        conf.set(prefix + "path.style.access", "true")
    elif ptype == "azure":
        cfg = provider.get("azureConfig") or {}
        if cfg.get("accountName") and cfg.get("accountKey"):
            conf.set(
                f"fs.azure.account.key.{cfg['accountName']}.blob.core.windows.net",
                cfg["accountKey"],
            )
            conf.set(
                f"fs.azure.account.key.{cfg['accountName']}.dfs.core.windows.net",
                cfg["accountKey"],
            )
    elif ptype == "gcs":
        cfg = provider.get("gcsConfig") or {}
        if cfg.get("credentialsFile"):
            conf.set("google.cloud.auth.service.account.enable", "true")
            conf.set(
                "google.cloud.auth.service.account.json.keyfile",
                cfg["credentialsFile"],
            )
    # nothing to do for file:


def ensure_bucket_exists(spark: SparkSession, root_uri: str) -> bool:
    """Create-if-absent for a bucket/prefix root (EnsureBucketExists,
    sync.go:88-91). Goes through the Hadoop FileSystem API: on file: it
    creates the directory; on object stores mkdirs creates a PREFIX inside
    an existing bucket — creating the bucket/container itself is an
    SDK-level operation with no FileSystem analog, so a genuinely missing
    bucket surfaces as a clear error naming that gap rather than the
    store's raw NoSuchBucket. Returns True if it had to create."""
    fs, path = hadoop_fs(spark, root_uri)
    if fs.exists(path):
        return False
    try:
        fs.mkdirs(path)
    except Exception as e:  # noqa: BLE001 - py4j raises JavaError wrappers
        scheme = path.toUri().getScheme()
        if scheme not in (None, "file"):
            raise RuntimeError(
                f"cannot create {root_uri!r}: the {scheme} FileSystem can "
                "create prefixes inside an existing bucket but not the "
                "bucket itself (the reference's SDK CreateBucket has no "
                "Hadoop-FS analog) — create the bucket out-of-band, then "
                "re-run"
            ) from e
        raise
    return True


def path_exists(spark: SparkSession, uri: str) -> bool:
    """Existence probe through Hadoop FS (the reference's tableExists-style
    introspection, database.go:319-344 point lookups / catalog checks)."""
    fs, path = hadoop_fs(spark, uri)
    return bool(fs.exists(path))


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


def _raise(err: OSError) -> None:
    raise err


def _walk_rows(root: str, root_uri: str, mapping_id: str) -> list[tuple]:
    """Catalog rows of the local directory ``root``: one ``os.walk`` that
    follows directory symlinks (as Hadoop's local listing does), one
    ``os.stat`` per object and the xattr read of ``object_meta_local``.

    A directory that cannot be read raises: skipping it would list its
    objects as gone and plan deletes for them on the target. An object
    that vanishes between the walk and its stat (a racing delete, a
    dangling symlink) is left out, as Hadoop's ``listStatus`` does."""
    try:
        if not stat.S_ISDIR(os.stat(root).st_mode):
            # the same refusal the Hadoop branch makes, before os.walk's
            # bare NotADirectoryError: the root names a configuration error
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
    """Recursive listing of ``root_uri`` → catalog DataFrame (metadata only).

    A local root (``local_root``) is one OS directory walk
    (``_walk_rows``): no JVM call per object, and the per-object content
    type + user metadata come from xattrs (``object_meta_local``). Any
    other scheme streams a driver-side Hadoop ``FileSystem.listFiles``
    remote-iterator, which carries the ``provider_conf`` credentials and
    lists an object store with flat recursive LISTs; cloud-SDK listers
    would surface the provider's object metadata through the same two
    columns. Neither reads payloads — GetObject's N+1 HeadObject
    anti-pattern in aws/client.go:95-116 has no analog here. A missing
    root lists as empty. The rows become an Arrow local relation
    (``tables.local_frame``), so no Python task reads them."""
    local = local_root(root_uri)
    if local is not None:
        return local_frame(
            spark, _walk_rows(local, root_uri, mapping_id), CATALOG_SCHEMA
        )
    fs, path = hadoop_fs(spark, root_uri)
    rows = []
    if fs.exists(path):
        it = fs.listFiles(path, True)
        root = path.toUri().getPath().rstrip("/")
        while it.hasNext():
            st = it.next()
            p = st.getPath().toUri().getPath()
            if not p.startswith(root + "/"):
                # Without this guard a root that resolves to a FILE (or a
                # listing that escapes the root) would emit the absolute
                # path as object_name; downstream os.path.join DISCARDS
                # the target root for absolute names, making src == dst —
                # the copy truncates the source to 0 bytes and the delete
                # phase removes arbitrary paths. Refuse loudly instead.
                raise ValueError(
                    f"listed path {p!r} is not under the mapping root "
                    f"{root!r} — the root must be a directory/prefix, not "
                    "a file; check the bucket/endpoint configuration"
                )
            name = p[len(root) + 1 :]
            # each FileStatus getter is a py4j round trip: read each once
            size, mtime_ms = st.getLen(), st.getModificationTime()
            rows.append(
                (
                    mapping_id,
                    name,
                    root_uri,
                    size,
                    mtime_ms * 1000,  # epoch micros
                    f"{size}-{mtime_ms}",  # etag proxy
                    None,
                    {},
                )
            )
    return local_frame(spark, rows, CATALOG_SCHEMA)
