"""Per-tick Spark jobs, stages, tasks, wall and state files of a sync run
over perfbench's fixture buckets, plus a digest of what each tick leaves.

    python3 plans/sync-write/probe_tick.py TREE WORK --counts 64,4 --ticks 8
        [--seed 7] [--checkpoint-dir DIR]

TREE is the root of a checkout (its package and ``perfbench/fixtures.py``
are imported); WORK is an empty directory for the buckets and the state
table. The run is an initial sync and then ``--ticks`` ticks of
``fixtures.apply_drift``. Prints one JSON line per tick: the Spark jobs
without a job group that started during ``runner.sync_all``, their stages
and tasks (a skipped stage completes none), the tick's wall, the state
table's parquet files (in all and per partition), and a sha256 over the
reports, the target tree (bytes per object), its ``user.*`` xattrs and
the state rows without ``last_synced``.
Two trees that sync alike print the same digests.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time


def tree_digest(spark, state_mod, reports, tgt: str, state: str) -> str:
    h = hashlib.sha256()
    h.update(json.dumps([[r.mapping_id, sorted(r.counts.items())] for r in reports]).encode())
    for dirpath, _, files in sorted(os.walk(tgt)):
        for fn in sorted(files):
            p = os.path.join(dirpath, fn)
            with open(p, "rb") as f:
                h.update(os.path.relpath(p, tgt).encode() + hashlib.sha256(f.read()).digest())
            for a in sorted(x for x in os.listxattr(p) if x.startswith("user.")):
                h.update(a.encode() + os.getxattr(p, a))
    rows = sorted(
        json.dumps(
            [r["mapping_id"], r["object_name"], r["size"], r["etag"], str(r["last_modified"]),
             r["content_type"], sorted((r["metadata"] or {}).items()), r["sync_status"]]
        )
        for r in state_mod.load_state(spark, state).collect()
    )
    h.update("\n".join(rows).encode())
    return h.hexdigest()


def state_files(state: str) -> dict[str, int]:
    out: dict[str, int] = {}
    for dirpath, _, files in os.walk(state):
        n = sum(fn.endswith(".parquet") for fn in files)
        if n:
            out[os.path.basename(dirpath)] = n
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("tree")
    ap.add_argument("work")
    ap.add_argument("--counts", default="64,4")
    ap.add_argument("--ticks", type=int, default=8)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--checkpoint-dir", default=None)
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    sys.path[:0] = [args.tree, os.path.join(args.tree, "perfbench")]
    import fixtures

    from cloud_data_sync_spark import runner
    from cloud_data_sync_spark import state as state_mod
    from cloud_data_sync_spark.config import BucketMapping, Config
    from cloud_data_sync_spark.session import get_spark
    from cloud_data_sync_spark.tables import CHECKPOINT_DIR_CONF

    work = os.path.abspath(args.work)
    src, tgt, state = (os.path.join(work, d) for d in ("src", "tgt", "state"))
    counts = [int(c) for c in args.counts.split(",")]
    buckets = fixtures.build_buckets(src, counts, args.seed)
    spark = get_spark("probe-tick", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    if args.checkpoint_dir:
        spark.conf.set(CHECKPOINT_DIR_CONF, args.checkpoint_dir)
    cfg = Config(
        providers=[
            {"id": "src", "type": "minio", "minioConfig": {"endpoint": f"file://{src}"}},
            {"id": "tgt", "type": "minio", "minioConfig": {"endpoint": f"file://{tgt}"}},
        ],
        mappings=[BucketMapping("src", b.name, "tgt", b.name) for b in buckets],
    )
    tracker = spark.sparkContext.statusTracker()
    for tick in range(args.ticks + 1):
        if tick:
            fixtures.apply_drift(src, buckets, args.seed, tick)
        before = set(tracker.getJobIdsForGroup(None))
        t0 = time.perf_counter()
        reports = runner.sync_all(spark, cfg, f"file://{state}")
        wall = time.perf_counter() - t0
        jobs = sorted(set(tracker.getJobIdsForGroup(None)) - before)
        stages = [
            (sid, tracker.getStageInfo(sid))
            for j in jobs
            for sid in tracker.getJobInfo(j).stageIds
        ]
        print(json.dumps({
            "tick": tick,
            "wall_s": round(wall, 3),
            "jobs": len(jobs),
            "stages": len(stages),
            # [tasks, completed tasks]: a stage a job skipped completes none
            "stage_tasks": [[s.numTasks, s.numCompletedTasks] if s else None for _, s in stages],
            "reports": [r.counts for r in reports],
            "state_files": sum(state_files(state).values()),
            "state_files_by_partition": state_files(state),
            "digest": tree_digest(spark, state_mod, reports, tgt, state),
        }), flush=True)
    if args.checkpoint_dir:
        written = [os.path.join(d, f) for d, _, fs in os.walk(args.checkpoint_dir) for f in fs]
        print(json.dumps({"checkpoint_dir_files": len(written)}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
