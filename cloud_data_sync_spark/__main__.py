"""CLI — flag-for-flag parity with the reference binary.

Reference surface (cmd/cloud-data-sync/main.go:20-115):
``-config`` (path, default config.json), ``-once`` (single sync then
exit), ``-interval N`` (seconds between continuous runs, default 300),
``-generate-config`` (write a starter config and exit). Same flags here,
GNU-style; the SQLite path in the config becomes the state-table
directory (Parquet, partitioned by mapping_id).

    python -m cloud_data_sync_spark --config config.json --once
    python -m cloud_data_sync_spark --generate-config
    python -m cloud_data_sync_spark --interval 300
"""

from __future__ import annotations

import argparse
import sys

from cloud_data_sync_spark.config import load_config, save_default_config
from cloud_data_sync_spark.runner import run_continuous, sync_all
from cloud_data_sync_spark.session import get_spark


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="cloud-data-sync-spark",
        description="Unidirectional object sync on Spark (reference-parity CLI).",
    )
    p.add_argument("--config", default="config.json", help="JSON config path")
    p.add_argument("--once", action="store_true", help="run one sync pass and exit")
    p.add_argument(
        "--interval", type=int, default=300, help="seconds between continuous runs"
    )
    p.add_argument(
        "--generate-config",
        action="store_true",
        help="write a starter config to --config and exit",
    )
    p.add_argument(
        "--allow-empty-source",
        action="store_true",
        help="permit a sync whose SOURCE lists empty while the target has "
        "objects (the implied plan deletes everything on the target; "
        "without this flag such a mapping fails instead)",
    )
    p.add_argument(
        "--state-path",
        default=None,
        help="state-table directory (default: <config.database_path>.parquet)",
    )
    p.add_argument(
        "--checkpoint-dir",
        default=None,
        help="reliable-checkpoint root (HDFS/S3 path on a cluster): routes "
        "every lineage-truncation point through df.checkpoint() there "
        "instead of executor-local localCheckpoint, so executor loss "
        "cannot kill a truncated plan mid-run (sets "
        "spark.cloud_data_sync.checkpoint_dir)",
    )
    args = p.parse_args(argv)

    if args.generate_config:
        save_default_config(args.config)
        print(f"wrote default config to {args.config}")
        return 0

    cfg = load_config(args.config)
    state_path = args.state_path or f"{cfg.database_path}.parquet"
    from pyspark.sql import SparkSession

    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark("cloud-data-sync")
    if args.checkpoint_dir:
        from cloud_data_sync_spark.tables import CHECKPOINT_DIR_CONF

        spark.conf.set(CHECKPOINT_DIR_CONF, args.checkpoint_dir)
    try:
        if args.once:
            reports = sync_all(
                spark, cfg, state_path, allow_empty_source=args.allow_empty_source
            )
        else:
            reports = [
                r
                for tick in run_continuous(
                    spark,
                    cfg,
                    state_path,
                    interval_sec=args.interval,
                    allow_empty_source=args.allow_empty_source,
                )
                for r in tick
            ]
        for r in reports:
            print(f"{r.mapping_id}: {r.counts}")
        return 1 if any(r.errors for r in reports) else 0
    finally:
        # embedded callers (tests, notebooks) keep their session
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
