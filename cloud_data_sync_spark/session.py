"""SparkSession factory tuned for the engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM), but every
default here is chosen for a multi-executor cluster at ~100 TB scale:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  dynamic join-strategy switching replace hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` is only the *pre-AQE upper bound*; AQE
  coalesces down using ``advisoryPartitionSizeInBytes``.
- Dynamic partition overwrite so state-table upserts rewrite only the
  partitions they touch (SURVEY.md §7 item 4).
- Arrow enabled for the (rare) Pandas-UDF paths.
- Python workers start from ``worker_daemon`` (Spark's archives read once
  per daemon, not per task), with this package on their ``PYTHONPATH``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # parallelismFirst=true (Spark's default): coalesce only down to
    # minPartitionSize (1m), not the 64m advisory. Measured A/B at sf0.1:
    # false collapses every fact-sized shuffle (~15 MB) to ONE reducer and
    # serializes the CPU-bound final aggregate/window sort behind it
    # (q_tpch_waiting 1.50s -> 1.05s with true; 14-query sample -14%).
    # Micro-shuffles still coalesce to 1 task either way, and at 100 TB
    # partitions sit far above the advisory so the setting is moot there —
    # the advisory continues to size skew-join splits.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Let the planner pick shuffled-hash over sort-merge when its size
    # conditions hold (it stays guarded: SHJ is only chosen when the
    # build side fits the per-partition hash-map bound, and sort-merge
    # remains the fallback). Removes both sort passes from every
    # non-broadcast equi-join. Measured r11 A/B over the 12 keys whose
    # plans carried SortMergeJoin: total 0.86x (q_join_full 0.73,
    # q_sim_range 0.79, q_pagerank 0.82), worst key 1.02. At 100 TB the
    # same guard applies per partition, and AQE's skew-join splitting
    # covers SHJ since Spark 3.2.
    "spark.sql.join.preferSortMergeJoin": "false",
    # r12, the r11 SHJ evidence gap closed with artifacts + a measured
    # negative: the static SHJ guard rides size ESTIMATES, and a
    # stats-less scan (localCheckpoint substrates report
    # defaultSizeInBytes) can never pass it — the committed EXECUTED
    # plans (plans/r12/executed_sf0.1) show q_sim_range/q_pagerank still
    # running SortMergeJoin at runtime while q_join_full really runs
    # ShuffledHashJoin. The r11 A/B's claimed wins on the two SMJ keys
    # were window noise. The AQE escape hatch
    # (spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold=64m,
    # runtime sizes instead of estimates) was measured and REJECTED:
    # q_pagerank 1.81×, q_sim_range 1.33×, q_split_assign 1.26× at
    # sf0.1; 0.89/1.01/1.13 at sf1 — converting small sorted partitions
    # to per-partition hash builds loses. Failure-mode note for 100 TB:
    # SHJ's build side cannot spill; the planner guard
    # (canBuildLocalHashMap: estimated size < autoBroadcastJoinThreshold
    # × shuffle partitions, AND 3× smaller than the other side) degrades
    # oversized or stats-less builds to sort-merge rather than OOM —
    # the stats-less substrate case above is that degradation working.
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.sql.session.timeZone": "UTC",
    # Older testdata vintages carried TIMESTAMP(NANOS) in events.parquet,
    # which Spark refuses by default; current vintage is TIMESTAMP(MICROS)
    # (reads natively as timestamp_ntz) and the conf is then a no-op.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
    # The generated-class cache defaults to 100 entries; a session that
    # serves the whole query registry (~200 keys) compiles several codegen units
    # per query and thrashes it, so every re-execution pays Janino
    # compilation again (measured: the same query runs 10-30% slower
    # inside a full registry sweep than isolated). Static conf — applied
    # at session creation; sized to hold the registry's working set.
    "spark.sql.codegen.cache.maxEntries": "4000",
    # Reliable checkpoints (the spark.cloud_data_sync.checkpoint_dir flag)
    # are otherwise never deleted: the ContextCleaner only removes a GC'd
    # RDD's checkpoint files when this is set, so iterative label
    # propagation in a long-running session would grow the HDFS/S3 checkpoint
    # root unboundedly (r6 advice). Static conf — read at SparkContext
    # creation, so it lives here rather than in materialize(); no-op when
    # the flag is unset (localCheckpoint blocks are cleaner-managed
    # already). Cluster submits that build their own session must set it
    # alongside the flag (documented at tables.materialize).
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # Whole-stage codegen for wide operators (the 32-resample bootstrap
    # projection+aggregate, 60+-buffer aggs) emits methods past HotSpot's
    # 8 KB bytecode JIT ceiling; the JVM then runs them in its BYTECODE
    # INTERPRETER — silently (no Spark-side fallback or warning), 10-50x
    # slower. -XX:-DontCompileHugeMethods lifts the ceiling. Measured r11
    # A/B over a 28-key basket at sf0.1: 0.85x total, q_bootstrap_ci
    # 0.36x, no regression beyond noise. Applies at JVM LAUNCH, so it
    # lives in the session defaults; local mode puts executors in the
    # driver JVM, and cluster submits get the executor twin below.
    "spark.driver.extraJavaOptions": "-XX:-DontCompileHugeMethods",
    "spark.executor.extraJavaOptions": "-XX:-DontCompileHugeMethods",
    # PySpark's daemon with Spark's own archives read once per daemon, not
    # once per task (worker_daemon.py): a one-partition Python map job took
    # 174 ms (median) before and 93 ms after on a 4-core box, against
    # 43-48 ms for the same job with no Python step. get_spark puts this
    # package on the workers' path.
    "spark.python.daemon.module": "cloud_data_sync_spark.worker_daemon",
}


# the directory holding this package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return f"local[{cpus}]" if cpus else "local[*]"


def get_spark(
    app_name: str = "cloud-data-sync-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    builder = SparkSession.builder.appName(app_name).master(master or default_master())
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions
        if shuffle_partitions is not None
        else int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    # Python workers start in the JVM's working directory, with the
    # PYTHONPATH the JVM was launched with plus Spark's own archives. They
    # import this package wherever the driver runs from only if its root
    # is on that PYTHONPATH: the daemon module above and the sync
    # executor's functions (pickled by reference) both live in it. Read
    # once, when getOrCreate launches the JVM.
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_ROOT not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([_PACKAGE_ROOT, *paths])
    return builder.getOrCreate()
