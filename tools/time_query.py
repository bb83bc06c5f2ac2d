"""Time one or more registered queries at a given sf dir (default sf0.1),
without the full bench sweep: N calls per key after one warm call at the
sibling sf0.001 dir, printing the first call's wall and the min over the
later calls.

    python tools/time_query.py q_dedup_prefix_filter [q_other ...] [--sf DIR] [--n N]

The two figures differ in kind for keys that read a session substrate:
q_sync_diff and q_sync_counts read the session-cached diff, so only their
first call at a dir builds it and every later call times a cache read.
An A/B of such a key compares the first calls (one process per call set),
never the later min.
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
        walls = []
        for _ in range(n):
            t0 = time.perf_counter()
            spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
            print(f"  {name}: {walls[-1]:.3f}s")
        later = f", later min {min(walls[1:]):.3f}s over {n - 1}" if n > 1 else ""
        print(f"{name}: first {walls[0]:.3f}s{later}")


if __name__ == "__main__":
    main()
