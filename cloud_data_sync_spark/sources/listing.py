"""Object-catalog sources: listings as DataFrames.

The reference's four provider clients (gcp/aws/azure/minio ``ListObjects``)
collapse into URI schemes handled by Hadoop FileSystem connectors — the
same code lists ``file:``, ``s3a://``, ``gs://``, ``abfss://`` buckets;
credentials/endpoints are *configuration* (``spark.hadoop.fs.*``), not code
(storage/factory.go:24-77 becomes ``provider_conf`` below).

One lister: ``list_objects``, a driver-side Hadoop ``FileSystem.listFiles``
(recursive remote-iterator) → DataFrame. Metadata only — never reads
payloads. Like the reference's in-memory ``map[string]*ObjectInfo`` per
bucket, the listing is held on the driver, and every listed object
(dot- and underscore-prefixed names included) is diffed, copied and deleted.

Catalog schema matches interfaces/provider.go:9-17 (ObjectInfo).
"""

from __future__ import annotations

import os

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
        # Hadoop FileSystem listings don't surface user metadata — cloud-SDK
        # listers populate it; file:/Hadoop paths carry an empty map.
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


def list_objects(
    spark: SparkSession, root_uri: str, mapping_id: str = ""
) -> DataFrame:
    """Recursive listing of ``root_uri`` → catalog DataFrame (metadata only).

    Driver-side Hadoop FileSystem remote-iterator (streams entries; no
    payload reads — GetObject's N+1 HeadObject anti-pattern in
    aws/client.go:95-116 has no analog here). For local (file:) roots the
    per-object content type + user metadata come from xattrs (see
    ``object_meta_local``); cloud-SDK listers surface the provider's
    object metadata through the same two columns. The rows become an Arrow
    local relation (``tables.local_frame``), so no Python task reads them."""
    fs, path = hadoop_fs(spark, root_uri)
    rows = []
    if fs.exists(path):
        scheme = path.toUri().getScheme()
        is_local = scheme in (None, "file")
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
            ct, md = object_meta_local(p) if is_local else (None, {})
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
                    ct,
                    md,
                )
            )
    return local_frame(spark, rows, CATALOG_SCHEMA)
