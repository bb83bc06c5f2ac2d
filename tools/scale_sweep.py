"""Empirical scaling sweep: run registry keys at several data scales
(sf0.01 / sf0.1 / self-generated sf1 and sf10, 10x apart by construction)
and record per-key scaling exponents — wall ∝ rows^alpha, so
alpha = log10(wall_hi / wall_lo) per decade step.

    python tools/gen_scale_vintage.py                      # mints .scale/sf1
    python tools/gen_scale_vintage.py --replicas 100 --out /root/repo/.scale/sf10
    python tools/scale_sweep.py [key ... | ALL]            # default: heavy set
        [--sfs sf0.01=/root/testdata/sf0.01,...]           # SF points
        [--n 3] [--out /root/repo/.scale/sweep.json]

Methodology notes (the exponents are only as honest as these):
- Each (key, sf) is timed like bench.py times it: build + collect, on a
  warmed session; N passes, min of passes 2..N taken — pass 1 pays plan
  build (prepared-plan cache miss), so the min over the rest is the
  EXECUTION wall, which is what scales with data. Pass-1 walls ride
  along in the artifact as build+exec for reference.
- The sf0.01 -> sf0.1 step is floor-dominated (scheduling/launch ~0.1 s
  dwarfs tiny data), so the HEADLINE exponent is the largest-SF step;
  all steps ride in the artifact.
- Exponent ~1.0 = linear, <1 = sublinear (floor or logarithmic terms),
  >1.2 = superlinear — investigate (SCALE.md records the adjudication).
- ALL mode skips q_stream_* keys: their drains are served from the
  per-(session, events-vintage) family cache after the first invocation,
  so passes 2..N measure a cached-table read, not the drain — a fresh
  session per pass would be needed for an honest stream exponent.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cloud_data_sync_spark import tables  # noqa: E402
from cloud_data_sync_spark.registry import all_queries  # noqa: E402
from cloud_data_sync_spark.session import get_spark  # noqa: E402

HEAVY = [
    # top-15 by BENCH_FULL.json wall at sf0.1
    "q_bootstrap_ci",
    "q_langid_chargram",
    "q_corpus_dsir",
    "q_dedup_winnow",
    "q_split_assign",
    "q_heaps_law",
    "q_join_card_est",
    "q_kmeans",
    "q_logreg_auc",
    "q_term_pmi",
    "q_tfidf",
    "q_tpch_waiting",
    "q_dedup_substring",
    "q_dedup_span_scrub",
    "q_histogram_equidepth",
    # family-critical 100 TB claims (banded LSH, suffix exchange, ANN)
    "q_dedup_minhash_sweep",
    "q_dedup_suffix_groups",
    "q_dedup_simhash",
    "q_sim_ivf_sweep",
    "q_sim_range",
]

DEFAULT_SFS = (
    "sf0.01=/root/testdata/sf0.01,"
    "sf0.1=/root/testdata/sf0.1,"
    "sf1=/root/repo/.scale/sf1"
)


def _sf_value(name: str) -> float:
    return float(name.removeprefix("sf"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="*", help="key names, or ALL for full registry")
    ap.add_argument("--sfs", default=DEFAULT_SFS)
    ap.add_argument("--n", type=int, default=3)
    ap.add_argument("--out", default="/root/repo/.scale/sweep.json")
    a = ap.parse_args()

    sfs = []
    for part in a.sfs.split(","):
        name, _, sf_dir = part.partition("=")
        sfs.append((name, sf_dir))
    qs = all_queries()
    if a.keys == ["ALL"]:
        keys = sorted(k for k in qs if not k.startswith("q_stream_"))
        skipped = sorted(k for k in qs if k.startswith("q_stream_"))
        print(f"ALL: {len(keys)} keys ({len(skipped)} q_stream_* skipped: "
              "family-cached drains, see module docstring)")
    else:
        keys = a.keys or HEAVY

    # One session sweeps SEVERAL sf_dirs, and session substrates pin one
    # checkpoint per (session, sf_dir, vintage): with localCheckpoint
    # those all share executor storage and the default 8g heap OOM'd
    # holding sf1's + sf10's ranked substrates at once. The reliable
    # disk checkpoint (the documented cluster switch) bounds memory.
    spark = get_spark(
        "scale-sweep",
        extra_conf={
            "spark.cloud_data_sync.checkpoint_dir": "/tmp/cds_scale_ckpt"
        },
    )
    out: dict[str, dict] = {}
    for key in keys:
        spec = qs[key]
        row: dict[str, object] = {}
        ok = True
        for sf_name, sf_dir in sfs:
            walls = []
            try:
                for i in range(a.n):
                    t0 = time.monotonic()
                    spec.fn(spark, sf_dir).collect()
                    walls.append(time.monotonic() - t0)
            except Exception as exc:  # noqa: BLE001 - record, keep sweeping
                row[f"{sf_name}_err"] = str(exc).splitlines()[0][:200]
                ok = False
                break
            # pass 1 pays plan build (cache miss); min over the rest is
            # the execution wall that scales with data
            row[sf_name] = round(min(walls[1:]) if len(walls) > 1 else walls[0], 4)
            row[f"{sf_name}_first"] = round(walls[0], 4)
        line = f"{key:28s}"
        if ok:
            for (lo, _), (hi, _) in zip(sfs, sfs[1:]):
                decades = math.log10(_sf_value(hi) / _sf_value(lo))
                wl, wh = row[lo], row[hi]
                e = (
                    round(math.log10(wh / wl) / decades, 3)
                    if wl and wl > 0 and wh and wh > 0
                    else None
                )
                row[f"exp_{lo}_{hi}"] = e
            for sf_name, _ in sfs:
                line += f" {row[sf_name]:8.3f}"
            top_lo, top_hi = sfs[-2][0], sfs[-1][0]
            e_top = row.get(f"exp_{top_lo}_{top_hi}")
            flag = " <== SUPERLINEAR" if e_top and e_top > 1.2 else ""
            line += f"  exp({top_lo}->{top_hi})={e_top}{flag}"
        else:
            line += "  ERR " + str(row)
        print(line, flush=True)
        out[key] = row
        # keep the prepared plans in the session store bounded across the
        # sweep; scans and substrates stay for the keys that share them
        store = tables._SESSION_STORE
        for k in [k for k in store if k[2].startswith("query:")]:
            del store[k]
    with open(a.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"wrote {a.out}")


if __name__ == "__main__":
    main()
