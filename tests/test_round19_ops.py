"""Round-11 (driver) fixes: target-encode decimal numerator, watermarked
as-of cursor eviction, glob-aware vintages, and the bounded prepared-plan
cache. Each test pins one item from the r10 VERDICT/ADVICE."""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

from cloud_data_sync_spark.registry import all_queries

from tests.conftest import SF_DIR


def test_target_encode_survives_near_bound_mass(spark, tmp_path):
    """r10 ADVICE (medium): with BIGINT math, ~9.2e5 valid rows at the
    |y| <= 1e9 bound in ONE category push (S - s) * 100 past 2^63 — an
    ANSI ARITHMETIC_OVERFLOW job-kill while DuckDB's HUGEINT succeeds.
    The decimal(38,0) numerator must carry it; both engines then floor
    the same exact integer."""
    n = 1_000_000  # 1e6 rows x 1e11 cents -> (S-s)*100 ~ 1e19 > 2^63
    d = tmp_path / "near_bound"
    d.mkdir()
    pd.DataFrame(
        {
            "o_orderkey": range(n),
            "o_custkey": [1] * n,
            "o_orderstatus": ["O"] * n,
            "o_totalprice": [1.0e9] * n,
            "o_orderdate": pd.to_datetime(["2024-01-01"] * n),
            "o_orderpriority": ["1-URGENT"] * n,
        }
    ).to_parquet(d / "orders.parquet", index=False)

    spec = all_queries()["q_target_encode"]
    out = spec.fn(spark, str(d)).toPandas()
    # all-equal targets: every fold's LOFO mean is exactly 1e9
    assert (out["encoded"] == 1.0e9).all(), out
    assert int(out["n_rows"].sum()) == n

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet('{d}/orders.parquet')"
    )
    odf = con.execute(spec.oracle).df()
    con.close()
    pd.testing.assert_frame_equal(
        out.reset_index(drop=True).astype({"encoded": float}),
        odf.reset_index(drop=True).astype({"encoded": float}),
        check_dtype=False,
    )


def _write_events(path, rows):
    df = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    df["ts"] = pd.to_datetime(df["ts"]).astype("datetime64[us]")
    df.to_parquet(path, index=False)


def test_asof_evict_drops_idle_cursor(spark, tmp_path):
    """r10 verdict item 3: once the watermark passes click_ts + tolerance,
    an idle user's as-of cursor must be REMOVED from the state store
    (EventTimeTimeout), and a post-eviction purchase attributes to NULL —
    exactly what the tolerance CASE would have produced, so eviction is
    result-neutral."""
    from cloud_data_sync_spark.streaming.runner import read_events_stream
    from cloud_data_sync_spark.streaming.stateful import asof_join_stream_evict

    sf = tmp_path / "evict"
    sf.mkdir()
    t = pd.Timestamp
    # batch 1: user 10 clicks at 10:00 then goes idle; user 20 clicks at
    # 14:00 (advances the watermark past 10's 11:00 tolerance horizon)
    _write_events(
        sf / "events_000.parquet",
        [
            (1, t("2024-01-01 10:00:00"), 10, "click", 1.0, "{}"),
            (2, t("2024-01-01 14:00:00"), 20, "click", 1.0, "{}"),
        ],
    )
    # batch 2: only user 20 has data -> user 10's group gets the
    # timeout-only invocation (timeouts fire only for groups WITHOUT
    # data in the trigger) and its cursor is removed
    _write_events(
        sf / "events_001.parquet",
        [(3, t("2024-01-01 14:30:00"), 20, "purchase", 9.0, "{}")],
    )
    # batch 3: user 10 purchases post-eviction -> NULL attribution
    _write_events(
        sf / "events_002.parquet",
        [(4, t("2024-01-01 16:00:00"), 10, "purchase", 9.0, "{}")],
    )
    m0 = (sf / "events_000.parquet").stat().st_mtime
    os.utime(sf / "events_001.parquet", (m0 + 10, m0 + 10))
    os.utime(sf / "events_002.parquet", (m0 + 20, m0 + 20))

    res = asof_join_stream_evict(
        read_events_stream(spark, str(sf), max_files_per_trigger=1)
    )
    q = (
        res.writeStream.format("memory")
        .queryName("t_asof_evict_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    state_rows = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in q.recentProgress
        if p.get("stateOperators") and p["stateOperators"][0]["numRowsTotal"] is not None
    ]
    out = {r.purchase_id: r for r in spark.sql(
        "SELECT * FROM t_asof_evict_state"
    ).collect()}

    # user 20's purchase attributes to its click across batches
    assert out[3].click_id == 2
    # user 10's post-eviction purchase: cursor gone -> NULL attribution
    assert out[4].click_id is None
    # observed sequence [2, 1, 1, 0]: both cursors after batch 1; user
    # 10's evicted in batch 2 (watermark 14:00 passed 10:00 + 1h while
    # only user 20 had data); user 20's evicted in the terminal no-data
    # batch once the watermark passed ITS horizon. The store genuinely
    # shrinks — the O(active users) claim, measured.
    assert state_rows, "no state metrics in progress"
    assert state_rows[0] == 2, state_rows
    assert state_rows[1] == 1, state_rows
    assert state_rows[-1] <= 1, state_rows


def test_stream_asof_tolerance_across_batches(spark, tmp_path):
    """r10 verdict item 5: pin the two-file time-split fixture for the
    TOLERANCE variant the way q_stream_asof_join has it — a purchase in
    batch 2 must see the batch-1 click via the state cursor, and the
    tolerance CASE must then null out exactly the stale (> 1 h) pairing
    while keeping the fresh one."""
    from pyspark.sql import functions as F

    from cloud_data_sync_spark.streaming.runner import (
        read_events_stream,
        run_available_now,
    )
    from cloud_data_sync_spark.streaming.stateful import (
        _ASOF_TOL_US,
        asof_join_stream,
        keep_first,
    )

    t = pd.Timestamp
    sf = tmp_path / "asoftol"
    sf.mkdir()
    # batch 1: user 10 clicks at 10:00; user 20 clicks at 10:30
    _write_events(
        sf / "events_000.parquet",
        [
            (1, t("2024-01-01 10:00:00"), 10, "click", 1.0, "{}"),
            (2, t("2024-01-01 10:30:00"), 20, "click", 1.0, "{}"),
        ],
    )
    # batch 2: user 10 purchases 2 h after its click (STALE, > 1 h tol);
    # user 20 purchases 45 min after its click (fresh)
    _write_events(
        sf / "events_001.parquet",
        [
            (3, t("2024-01-01 12:00:00"), 10, "purchase", 9.0, "{}"),
            (4, t("2024-01-01 11:15:00"), 20, "purchase", 9.0, "{}"),
        ],
    )
    m0 = (sf / "events_000.parquet").stat().st_mtime
    os.utime(sf / "events_001.parquet", (m0 + 10, m0 + 10))

    out = run_available_now(
        asof_join_stream(
            read_events_stream(spark, str(sf), max_files_per_trigger=1)
        ),
        "t_asof_tol_xbatch",
        output_mode="update",
        drain_partitions=4,
        no_data_batch=False,
    )
    # the registered query's exact post-processing (keep_first sweep +
    # tolerance CASE), applied to the cross-batch drain
    swept = keep_first(out, ["purchase_id"], ["user_id"])
    fresh = F.col("click_ts_us") >= F.col("purchase_ts_us") - _ASOF_TOL_US
    rows = {
        r.purchase_id: r
        for r in swept.select(
            "purchase_id",
            F.when(fresh, F.col("click_id")).alias("click_id"),
            (F.col("click_ts_us").isNotNull() & fresh).alias("attributed"),
        ).collect()
    }
    assert set(rows) == {3, 4}
    # user 10: cursor crossed the batch boundary (state worked) but the
    # 2 h gap exceeds the 1 h tolerance -> NULLed, not attributed
    assert rows[3].click_id is None and not rows[3].attributed
    # user 20: cross-batch AND fresh -> attributed to click 2
    assert rows[4].click_id == 2 and rows[4].attributed


def test_prepared_cache_bounded_on_rewrite(spark, tmp_path):
    """r10 verdict item 2: rewriting a table in-session must EVICT the
    superseded (app, sf_dir, name) entry on the next miss — one live
    entry per name, not one per rewrite."""
    import shutil

    from cloud_data_sync_spark import tables
    from cloud_data_sync_spark.tables import TABLE_NAMES, table_path

    d = str(tmp_path / "sfcopy")
    os.mkdir(d)
    for name in TABLE_NAMES:
        shutil.copyfile(table_path(SF_DIR, name), table_path(d, name))

    spec = all_queries()["q_agg_stats"]

    def entries():
        return [
            k
            for k in tables._SESSION_STORE
            if k[1] == os.path.realpath(d) and k[2] == "query:q_agg_stats"
        ]

    spec.fn(spark, d).collect()
    assert len(entries()) == 1
    for _ in range(2):  # two in-session rewrites
        t = table_path(d, "lineitem")
        os.utime(t, (os.path.getmtime(t) + 5, os.path.getmtime(t) + 5))
        spec.fn(spark, d).collect()
        assert len(entries()) == 1, entries()


def test_events_vintage_covers_split_files(tmp_path):
    """r10 ADVICE: a dir using the split-file convention
    (events_000.parquet, ...) must produce a real, change-sensitive
    vintage — not the constant () a single-file stat of events.parquet
    returns."""
    from cloud_data_sync_spark.tables import TABLE_NAMES, input_vintage

    def events_vintage():
        return input_vintage(str(d), ("events",))[0]

    d = tmp_path / "split"
    d.mkdir()
    _write_events(
        d / "events_000.parquet",
        [(1, pd.Timestamp("2024-01-01"), 1, "click", 1.0, "{}")],
    )
    v0 = events_vintage()
    assert v0 != () and v0[0][0] == "events_000.parquet"
    # adding a split file MUST change the vintage
    _write_events(
        d / "events_001.parquet",
        [(2, pd.Timestamp("2024-01-02"), 1, "click", 1.0, "{}")],
    )
    v1 = events_vintage()
    assert v1 != v0 and len(v1) == 2
    # rewriting one in place MUST change it too
    os.utime(d / "events_001.parquet", (1, 1))
    assert events_vintage() != v1
    # the all-tables vintage (the prepared-plan key) agrees with the
    # per-table one
    allv = input_vintage(str(d), TABLE_NAMES)
    assert allv[TABLE_NAMES.index("events")] == events_vintage()


def test_bench_inline_line_carries_extras():
    """r10 verdict item 4 + ADVICE: the one-line artifact self-describes
    its value semantics and any debug subset."""
    import json

    import bench

    line = bench.build_inline_line(
        {"q_a": 1.0, "q_b": 2.0},
        3.0,
        0.1,
        extras={
            "value_semantics": "sum of per-query min-of-sweeps walls",
            "min_sweep_total": 3.2,
            "bench_only": ["q_a", "q_b"],
        },
    )
    d = json.loads(line)
    assert d["value_semantics"] == "sum of per-query min-of-sweeps walls"
    assert d["min_sweep_total"] == 3.2
    assert d["bench_only"] == ["q_a", "q_b"]
