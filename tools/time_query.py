"""Time one or more registered queries at a given sf dir (default sf0.1),
min-of-N wall like bench.py, without the full bench sweep.

    python tools/time_query.py q_dedup_prefix_filter [q_other ...] [--sf DIR] [--n N]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cloud_data_sync_spark.registry import all_queries  # noqa: E402
from cloud_data_sync_spark.session import get_spark  # noqa: E402


def main() -> None:
    argv = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    n = 3
    names = []
    i = 0
    while i < len(argv):
        if argv[i] == "--sf":
            sf_dir = argv[i + 1]
            i += 2
        elif argv[i] == "--n":
            n = int(argv[i + 1])
            i += 2
        else:
            names.append(argv[i])
            i += 1

    qs = all_queries()
    unknown = [n for n in names if n not in qs]
    if not names or unknown or n < 1:
        if unknown:
            print(f"unknown query name(s): {unknown}", file=sys.stderr)
        if not names:
            print("no query names given", file=sys.stderr)
        if n < 1:
            print(f"--n must be >= 1, got {n}", file=sys.stderr)
        raise SystemExit(2)

    spark = get_spark("time_query")
    spark.sparkContext.setLogLevel("ERROR")
    from cloud_data_sync_spark.tables import load_tables

    for df in load_tables(spark, sf_dir, register_views=False).values():
        df.count()
    warm = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    for name in names:
        spec = qs[name]
        if os.path.isdir(warm):
            spec.fn(spark, warm).write.format("noop").mode("overwrite").save()
        best = None
        for _ in range(n):
            t0 = time.perf_counter()
            spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            print(f"  {name}: {dt:.3f}s")
        print(f"{name}: min {best:.3f}s over {n}")


if __name__ == "__main__":
    main()
