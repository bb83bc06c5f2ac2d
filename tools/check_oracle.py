"""Local replica of the driver's correctness gate.

Runs every registered query on Spark and its oracle on DuckDB at a given
sf dir, then compares row-count, sorted column names, and an
order-insensitive value hash. Use while iterating:

    python tools/check_oracle.py [--vanilla] [sf_dir] [query_name ...]

``--vanilla`` runs through a bare ``SparkSession.builder.getOrCreate()`` with
zero engine conf — replicating the driver's harness, which never calls
``get_spark()``. CI runs this mode so builder-local green predicts driver
green (round-1 lesson: 7 queries died only under the vanilla session).

Exit code 1 if any query mismatches.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from cloud_data_sync_spark.registry import all_queries  # noqa: E402
from cloud_data_sync_spark.session import get_spark  # noqa: E402
from cloud_data_sync_spark.tables import TABLE_NAMES, table_path  # noqa: E402


def _canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon_rows(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[str]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted("|".join(_canon_cell(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out


def driver_canon_error(cols: list[str], rows: list[tuple]) -> str | None:
    """Replicate the DRIVER's canonicalization path, not our friendlier one.

    The driver sorts result rows with ``pandas.DataFrame.sort_values`` over
    every column before hashing; list/dict cells crash it with
    ``TypeError: unhashable type`` (CORRECTNESS_r04: q_feature_hash ERR
    while this tool was green, because ``_canon_cell`` serializes lists
    itself). Running the exact pandas path here restores the invariant
    that local green implies driver green. Returns the error string, or
    None when the driver can canonicalize the result."""
    import pandas as pd

    try:
        pdf = pd.DataFrame(rows, columns=cols)
        pdf.sort_values(by=sorted(cols))
        return None
    except Exception as e:  # noqa: BLE001 - any crash = driver incompat
        return f"{type(e).__name__}: {e}"


def value_hash(lines: list[str]) -> str:
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    argv = list(sys.argv[1:])
    vanilla = "--vanilla" in argv
    if vanilla:
        argv.remove("--vanilla")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    specs = all_queries()
    if only:
        unknown = only - set(specs)
        if unknown:
            # a typo'd filter must not produce a false-green '0/0 match'
            print(f"ERROR: unknown query name(s): {sorted(unknown)}")
            return 2
        specs = {k: v for k, v in specs.items() if k in only}

    if vanilla:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        spark = get_spark("oracle-check")
    def fresh_oracle_con():
        # An in-memory duckdb has NO temp_directory, so spilling is
        # disabled and any larger-than-memory oracle intermediate is a
        # hard OOM — at the self-generated sf1 vintage several dedup
        # oracles (readable reference SQL, not scale-designed) exceed
        # the buffer limit, and their unspillable operators OOM even
        # with a spill dir. Configure spilling anyway (helps the
        # spillable ones), and let the caller REBUILD the connection
        # after any oracle error: a saturated buffer pool otherwise
        # fails every later allocation, poisoning the rest of the gate
        # (observed: 1 genuine OOM -> 194 cascade failures at sf1).
        c = duckdb.connect()
        c.execute("SET temp_directory='/tmp/duckdb_oracle_spill'")
        c.execute("SET memory_limit='48GB'")
        c.execute("SET preserve_insertion_order=false")
        for t in TABLE_NAMES:
            c.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{table_path(sf_dir, t)}')"
            )
        return c

    con = fresh_oracle_con()

    failures = 0
    for name, spec in sorted(specs.items()):
        try:
            sdf = spec.fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = list(sdf.columns)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        # structural guard: registered outputs are scalar columns ONLY —
        # array/map/struct cells crash the driver's pandas canonicalizer
        complex_cols = [
            f.name
            for f in sdf.schema.fields
            if f.dataType.typeName() in ("array", "map", "struct")
        ]
        if complex_cols:
            print(
                f"FAIL  {name}: non-scalar output column(s) {complex_cols} "
                "(driver canonicalizer cannot hash array/map/struct cells)"
            )
            failures += 1
            continue
        canon_err = driver_canon_error(scols, srows)
        if canon_err:
            print(f"FAIL  {name}: driver-canonicalizer incompat: {canon_err}")
            failures += 1
            continue
        if spec.oracle is None:
            print(f"ok*   {name}: rows-only (no oracle) rows={len(srows)}")
            if len(srows) == 0:
                print(f"WARN  {name}: zero rows")
            continue
        try:
            orel = con.execute(spec.oracle)
            ocols = [d[0] for d in orel.description]
            orows = orel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            try:
                con.close()
            except Exception:  # noqa: BLE001
                pass
            con = fresh_oracle_con()
            continue

        sc, slines = canon_rows(scols, srows)
        oc, olines = canon_rows(ocols, orows)
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} vs {len(orows)}")
        if sc != oc:
            problems.append(f"cols {sc} vs {oc}")
        if not problems and value_hash(slines) != value_hash(olines):
            problems.append("value-hash mismatch")
            for a, b in list(zip(slines, olines))[:2000]:
                if a != b:
                    problems.append(f"  first diff:\n    spark:  {a}\n    duckdb: {b}")
                    break
        if problems:
            failures += 1
            print(f"FAIL  {name}: " + "; ".join(problems[:1]))
            for p in problems[1:]:
                print(p)
        else:
            print(f"ok    {name}: rows={len(srows)}")
    print(f"\n{len(specs) - failures}/{len(specs)} queries match")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
