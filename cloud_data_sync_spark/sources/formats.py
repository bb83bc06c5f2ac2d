"""Tabular source/sink formats: parquet, ORC, CSV, JSON, XML (+
partitioned layouts).

The reference moves opaque byte streams between object stores
(sync.go:134-152) — it has no tabular formats at all. This engine's
tabular surface is Spark's DataSource V2 readers/writers behind one
thin API, so every sink is also a source and schema round-trips are
testable. Scale rules:

- **Parquet/ORC are the scale formats**: columnar, predicate + projection
  pushdown, splittable compression. CSV/JSON/XML exist for interchange;
  all are schema-on-read here (explicit schema, never inferSchema on a
  100 TB path — inference is a full extra scan). XML is Spark 4's
  built-in StAX source (one row element per record, ``rowTag``).
- **Partitioned layouts** (``partitionBy``) turn equality filters on the
  partition columns into directory pruning — the read never lists, let
  alone scans, non-matching partitions (PartitionFilters in the scan node).
- **Writer parallelism** is the DataFrame's partitioning: one file per
  task per output partition. Repartition by the layout columns before a
  partitioned write or every task writes into every partition directory
  (the small-files explosion).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloud_data_sync_spark.tables import hadoop_fs

FORMATS = ("parquet", "orc", "csv", "json", "xml")


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {FORMATS}")
    if partition_by:
        # co-locate rows of each output partition into one task so the
        # layout produces one file per partition value, not tasks×values
        df = df.repartition(*[F.col(c) for c in partition_by])
    writer = df.write.format(fmt).mode(mode)
    if fmt == "csv":
        writer = writer.option("header", "true")
    if fmt == "xml":
        writer = writer.option("rootTag", "rows").option("rowTag", "row")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: str | None = None,
) -> DataFrame:
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {FORMATS}")
    reader = spark.read.format(fmt)
    if fmt == "xml":
        reader = reader.option("rowTag", "row")
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt in ("csv", "json", "xml"):
        raise ValueError(
            f"{fmt} requires an explicit schema: inference costs a full "
            "extra scan and infers types from whatever sample it sees"
        )
    if fmt == "csv":
        reader = reader.option("header", "true")
    return reader.load(path)


def compact_table(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    fmt: str = "parquet",
    schema: str | None = None,
) -> int:
    """Small-files compaction: rewrite ``src_path`` into ``dst_path`` with
    file counts sized to ``target_file_bytes``; returns the output file
    count.

    Streaming sinks and per-batch appends (e.g. the q_stream_upsert log)
    accumulate many small files; at 100 TB that means listing storms,
    footer-read overhead per file, and under-filled row groups that gut
    columnar compression + min/max skipping. Compaction is the standing
    maintenance job every table format schedules (Delta OPTIMIZE /
    Iceberg rewrite_data_files); this is the engine-level primitive.

    Sizing reads the SOURCE byte size from the filesystem (no data scan)
    and uses coalesce(), which folds existing splits together WITHOUT a
    shuffle — a compaction that shuffles 100 TB to avoid re-listing it
    has negated its own purpose. Writes to a fresh directory: the swap
    (rename or catalog pointer flip) stays with the caller, keeping the
    rewrite atomic-or-absent.
    """
    fs, jpath = hadoop_fs(spark, src_path)
    total_bytes = fs.getContentSummary(jpath).getLength()
    n_files = max(1, -(-total_bytes // target_file_bytes))  # ceil div
    # Partition-layout detection: a source written with partitionBy has
    # key=value child directories; reading it folds the keys back in as
    # data columns, and writing FLAT would silently replace a
    # directory-pruned layout with a full-scan one after the caller's
    # swap — the exact 100 TB property compaction must preserve. Re-apply
    # partitionBy on the detected keys instead.
    part_keys = []
    for child in fs.listStatus(jpath):
        name = child.getPath().getName()
        if child.isDirectory() and "=" in name and not name.startswith("_"):
            key = name.split("=", 1)[0]
            if key not in part_keys:
                part_keys.append(key)
    # schema passes through for csv/json (read_table requires it there —
    # without the parameter, half the FORMATS could never be compacted)
    df = read_table(spark, src_path, fmt=fmt, schema=schema)
    if part_keys:
        # Per-partition-value sizing, still from the LISTING (no data
        # scan): repartitioning by key alone lands ALL rows of a
        # partition value in one task — one output file per key=value
        # directory regardless of target size, i.e. compaction would
        # recreate oversized files for large partitions (r4 advice). A
        # same-key SALT expression splits each first-level value into
        # ceil(dir_bytes / target) tasks instead; small values keep salt
        # modulus 1 and still fold to a single file.
        val_bytes: dict[str, int] = {}
        for child in fs.listStatus(jpath):
            name = child.getPath().getName()
            if child.isDirectory() and "=" in name and not name.startswith("_"):
                v = name.split("=", 1)[1]
                b = fs.getContentSummary(child.getPath()).getLength()
                val_bytes[v] = val_bytes.get(v, 0) + b
        splits = {
            v: max(1, -(-b // target_file_bytes)) for v, b in val_bytes.items()
        }
        if any(n > 1 for n in splits.values()):
            # directory names carry Hive's string rendering of the value;
            # unlisted/escaped values fall back to modulus 1 (one file —
            # the pre-salt behavior, never a crash)
            per_value = F.create_map(
                *[F.lit(x) for kv in splits.items() for x in kv]
            )
            modulus = F.coalesce(
                per_value[F.col(part_keys[0]).cast("string")], F.lit(1)
            )
            salt = F.pmod(
                F.xxhash64(*[F.col(c) for c in df.columns]), modulus
            )
        else:
            salt = F.lit(0)
        # repartitionByRange, not hash repartition: a hash partitioner can
        # land two salts of the SAME value in one task, which the dynamic
        # partition writer merges back into one oversized file (observed:
        # 3 salts → 2 files). Under range partitioning same-value salt
        # groups are adjacent and equal-weight, so a boundary-sampling
        # error only SPLITS a group across tasks (two smaller files —
        # harmless) or merges groups of different values (two files in
        # two directories — also harmless).
        n_tasks = max(sum(splits.values()) if splits else n_files, 1)
        writer = (
            df.repartitionByRange(n_tasks, *part_keys, salt)
            .write.format(fmt)
            .mode("error")
            .partitionBy(*part_keys)
        )
    else:
        writer = df.coalesce(n_files).write.format(fmt).mode("error")
    if fmt == "csv":
        # mirror write_table's option: a headerless compacted output would
        # lose its first data row to the header-consuming reader
        writer = writer.option("header", "true")
    if fmt == "xml":
        # mirror write_table's row/root tags (the XML writer requires
        # rowTag; matching tags keep compacted output readable by the
        # same read_table call as the original)
        writer = writer.option("rootTag", "rows").option("rowTag", "row")
    writer.save(dst_path)
    # the DESTINATION's own filesystem: reusing the source-scheme fs
    # throws "Wrong FS" when src and dst live on different schemes.
    # Recursive walk: a partitioned output nests data files under
    # key=value directories, which a top-level listStatus would miss.
    dst_fs, dst = hadoop_fs(spark, dst_path)
    n_out = 0
    it = dst_fs.listFiles(dst, True)
    while it.hasNext():
        f = it.next()
        if f.isFile() and not f.getPath().getName().startswith("_"):
            n_out += 1
    return n_out
