"""Streaming scaling sweep: time each q_stream_* key's FULL DRAIN at two
event scales, with a fresh session (subprocess) per measurement.

    python tools/stream_scale.py [key ...]            # default: all q_stream_*
        [--sfs sf0.1=/root/testdata/sf0.1,sf1=/root/repo/.scale/sf1]
        [--out /root/repo/.scale/stream_sweep.json]

Why not tools/scale_sweep.py: drained results are served from the
per-(session, events-vintage) FAMILY cache after the first invocation, so
warm-pass timing measures a cached-table read. The honest wall for a
stream operator is the drain itself — first invocation, cold session —
which this tool isolates by running every (key, sf) in its own
subprocess. The wall therefore includes session startup's first-query
overhead plus the key's whole family drain (families drain together by
design — one pass over the source serves all members), so compare a
key ACROSS SFs, not keys against each other.

Exponent: log10(wall_hi/wall_lo) per decade, same convention as
scale_sweep.py. Streaming state/shuffle work rides event count; the
expectation recorded in SCALE.md is ~linear or below (floors deflate).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import sys, time, json
sys.path.insert(0, sys.argv[3])
from cloud_data_sync_spark.session import get_spark
from cloud_data_sync_spark.registry import all_queries
key, sf_dir = sys.argv[1], sys.argv[2]
spark = get_spark("stream-scale")
# pay generic first-query session overhead on a trivial action so the
# measured wall is the drain, not JVM/py4j warmup
spark.range(1).collect()
t0 = time.monotonic()
all_queries()[key].fn(spark, sf_dir).collect()
print("WALL_JSON " + json.dumps({"wall": time.monotonic() - t0}))
"""

DEFAULT_SFS = "sf0.1=/root/testdata/sf0.1,sf1=/root/repo/.scale/sf1"


def _sf_value(name: str) -> float:
    return float(name.removeprefix("sf"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="*")
    ap.add_argument("--sfs", default=DEFAULT_SFS)
    ap.add_argument("--out", default="/root/repo/.scale/stream_sweep.json")
    a = ap.parse_args()

    sys.path.insert(0, ROOT)
    from cloud_data_sync_spark.registry import all_queries

    keys = a.keys or sorted(k for k in all_queries() if k.startswith("q_stream"))
    sfs = []
    for part in a.sfs.split(","):
        name, _, sf_dir = part.partition("=")
        sfs.append((name, sf_dir))

    out: dict[str, dict] = {}
    for key in keys:
        row: dict[str, object] = {}
        for sf_name, sf_dir in sfs:
            p = subprocess.run(
                [sys.executable, "-c", CHILD, key, sf_dir, ROOT],
                capture_output=True,
                text=True,
                timeout=1800,
            )
            wall = None
            for line in p.stdout.splitlines():
                if line.startswith("WALL_JSON "):
                    wall = json.loads(line[len("WALL_JSON "):])["wall"]
            if p.returncode != 0 or wall is None:
                tail = (p.stderr or p.stdout).strip().splitlines()[-1:]
                row[f"{sf_name}_err"] = (tail[0] if tail else "no output")[:200]
                break
            row[sf_name] = round(wall, 3)
        if all(f"{n}_err" not in row for n, _ in sfs):
            for (lo, _), (hi, _) in zip(sfs, sfs[1:]):
                decades = math.log10(_sf_value(hi) / _sf_value(lo))
                wl, wh = row[lo], row[hi]
                e = (
                    round(math.log10(wh / wl) / decades, 3)
                    if wl and wh and wl > 0 and wh > 0
                    else None
                )
                row[f"exp_{lo}_{hi}"] = e
        print(f"{key:28s} {row}", flush=True)
        out[key] = row
    with open(a.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"wrote {a.out}")


if __name__ == "__main__":
    main()
