"""Dump the formatted physical plan of registered queries to files.

    python tools/dump_plans.py --out plans/r11/open [--sf DIR] [--executed] [key ...]

Default: every registered key (streaming drains excluded unless named —
their first invocation runs the drain to build the family result, which
is expensive and stateful; the batch-twin plan is what the files are
for). One file per key: <out>/<key>.txt, containing explain("formatted"),
and <out>/digests.json mapping each key to ``plan_digest`` of its plan
text. Two dumps of the same tree in fresh processes give the same
digests, so a digest diff shows which keys' plans a change moved.

``--executed`` runs each query into the noop sink FIRST and dumps the
plan after the action: with AQE the dump then shows the FINAL adaptive
plan (``AdaptiveSparkPlan isFinalPlan=true``) including runtime join
rewrites and AQEShuffleRead coalescing — the evidence `explain` before
execution cannot provide (r11 verdict item 3: static after-plans left
the claimed SMJ→SHJ conversions unverifiable).

Used by the optimization rounds to commit before/after plan evidence
(plans/r11/<key>_before.txt / _after.txt are copies of these dumps).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cloud_data_sync_spark.registry import all_queries  # noqa: E402
from cloud_data_sync_spark.session import get_spark  # noqa: E402


def plan_digest(txt: str) -> str:
    """sha256 of a plan text with its per-session counters normalised:
    expression ids (``#123``), exchange ``plan_id``s and the suffix of
    higher-order-function lambda variables (``x_321``) count up with
    build order, and the catalog layout tables (``bkt_*``, ``ann_*``)
    carry a 10-hex tag derived from the application id."""
    for var in set(re.findall(r"lambda (\w+_\d+)#", txt)):
        txt = re.sub(rf"\b{var}\b", var.rsplit("_", 1)[0] + "_", txt)
    txt = re.sub(r"#\d+", "#", txt)
    txt = re.sub(r"plan_id=\d+", "plan_id=", txt)
    txt = re.sub(r"_[0-9a-f]{10}\b", "_<tag>", txt)
    return hashlib.sha256(txt.encode()).hexdigest()


def main() -> None:
    argv = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    out_dir = "plans/r11/open"
    executed = False
    names: list[str] = []
    i = 0
    while i < len(argv):
        if argv[i] == "--sf":
            sf_dir = argv[i + 1]
            i += 2
        elif argv[i] == "--out":
            out_dir = argv[i + 1]
            i += 2
        elif argv[i] == "--executed":
            executed = True
            i += 1
        else:
            names.append(argv[i])
            i += 1

    qs = all_queries()
    if not names:
        names = [n for n in sorted(qs) if not n.startswith("q_stream_")]
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown query name(s): {unknown}", file=sys.stderr)
        raise SystemExit(2)

    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    n_err = 0
    digests: dict[str, str] = {}
    for name in names:
        spec = qs[name]
        fn = spec.plan_fn or spec.fn
        try:
            df = fn(spark, sf_dir)
            if executed:
                # run THIS DataFrame's own QueryExecution (a noop write
                # would execute a separate write-command QueryExecution
                # and leave this one unexecuted / isFinalPlan=false);
                # JVM-side RDD count moves no rows to Python
                df._jdf.queryExecution().executedPlan().execute().count()
            txt = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            txt = f"ERROR: {exc}\n"
            n_err += 1
        with open(os.path.join(out_dir, f"{name}.txt"), "w", encoding="utf-8") as f:
            f.write(txt)
        digests[name] = plan_digest(txt)
        print(f"wrote {name}", file=sys.stderr)
    with open(os.path.join(out_dir, "digests.json"), "w", encoding="utf-8") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
    print(f"{len(names)} plans -> {out_dir} ({n_err} errors)")


if __name__ == "__main__":
    main()
