"""Structured Streaming: the streaming tumbling-window result must equal the
batch twin (q_stream_tumbling), and session windows must run under a
watermark. Plus the continuous sync loop (ticker ≙ main.go:85-115)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cloud_data_sync_spark.streaming.runner import (
    read_events_stream,
    run_available_now,
    stream_windowed_counts,
)
from cloud_data_sync_spark.streaming.windows import q_stream_tumbling

SF_DIR = "/root/testdata/sf0.001"


def _events_frontier(spark, sf_dir):
    """max(ts) - 10 min: the final watermark an availableNow drain reaches."""
    import datetime as dt

    from cloud_data_sync_spark.tables import load_table

    mx = load_table(spark, sf_dir, "events").agg(F.max("ts")).first()[0]
    return mx - dt.timedelta(minutes=10)


def test_streaming_tumbling_matches_batch(spark, tmp_path):
    """q_stream_tumbling (append mode, pane rollup) must equal a direct
    complete-mode drain restricted to the emission frontier: windows with
    end <= (max ts - delay) emit, younger windows stay pending."""
    spark.conf.set("spark.sql.streaming.checkpointLocation", str(tmp_path / "ckpt"))
    events = read_events_stream(spark, SF_DIR)
    assert events.isStreaming
    result = run_available_now(
        stream_windowed_counts(events, "tumbling"), "t_tumbling"
    )
    frontier = _events_frontier(spark, SF_DIR)
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in result.collect()
        if r["window_end"] <= frontier
    }
    held = [r for r in result.collect() if r["window_end"] > frontier]
    batch = q_stream_tumbling(spark, SF_DIR)
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in batch.collect()
    }
    assert got == want
    assert len(want) > 0
    # the tail exists on this data — append mode genuinely held it back
    assert held, "fixture should leave at least one unfinalized window"


def test_streaming_session_windows_run(spark, tmp_path):
    spark.conf.set("spark.sql.streaming.checkpointLocation", str(tmp_path / "ckpt2"))
    events = read_events_stream(spark, SF_DIR)
    result = run_available_now(
        stream_windowed_counts(events, "session"), "t_session", output_mode="append"
    )
    rows = result.collect()
    # append emits sessions finalized below the watermark — with a 30-day
    # event span and 10-minute watermark nearly all sessions finalize
    assert len(rows) > 0
    assert all(r["window_end"] > r["window_start"] for r in rows)


def test_continuous_sync_ticks(spark, tmp_path):
    from cloud_data_sync_spark.config import BucketMapping, Config
    from cloud_data_sync_spark.runner import run_continuous

    src = tmp_path / "src" / "b"
    src.mkdir(parents=True)
    (src / "x.bin").write_bytes(b"payload")
    cfg = Config(
        providers=[
            {"id": "s", "type": "minio", "minioConfig": {"endpoint": str(tmp_path / "src")}},
            {"id": "t", "type": "minio", "minioConfig": {"endpoint": str(tmp_path / "tgt")}},
        ],
        mappings=[BucketMapping("s", "b", "t", "b")],
    )
    reports = run_continuous(
        spark, cfg, str(tmp_path / "state"), interval_sec=0, max_ticks=2
    )
    assert len(reports) == 2
    assert reports[0][0].counts.get("copy_success") == 1
    assert reports[1][0].counts.get("skip") == 1  # second tick incremental


def test_stream_join_time_bound_and_direction(spark, tmp_path):
    from datetime import datetime

    from cloud_data_sync_spark.streaming.windows import q_stream_join

    def us(h, m=0):
        return int(datetime(2024, 1, 1, h, m).timestamp() * 1_000_000)

    rows = [
        # click 10:00 precedes purchase 10:30 → match, gap 1800s
        (1, us(10), 7, "click", 0.0, "{}"),
        (2, us(10, 30), 7, "purchase", 5.0, "{}"),
        # click AFTER the purchase → excluded
        (3, us(11), 7, "click", 0.0, "{}"),
        # click more than 6h before purchase → excluded
        (4, us(1), 8, "click", 0.0, "{}"),
        (5, us(10), 8, "purchase", 5.0, "{}"),
    ]
    import pyarrow as pa
    import pyarrow.parquet as pq

    # single FILE named events.parquet (the stream source globs on the
    # file name, as in the driver's testdata layout)
    cols = list(zip(*rows))
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(cols[0], pa.int64()),
                # naive TIMESTAMP(MICROS), matching the driver's testdata layout
                "ts": pa.array(cols[1], pa.int64()).cast(pa.timestamp("us")),
                "user_id": pa.array(cols[2], pa.int64()),
                "event_type": pa.array(cols[3], pa.string()),
                "value": pa.array(cols[4], pa.float64()),
                "props": pa.array(cols[5], pa.string()),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    out = {(r.purchase_id, r.click_id): r.gap_sec for r in q_stream_join(spark, str(tmp_path)).collect()}
    assert out == {(2, 1): 1800}


def test_streaming_sliding_matches_batch_twin(spark, tmp_path):
    from cloud_data_sync_spark.streaming.windows import q_stream_sliding

    spark.conf.set("spark.sql.streaming.checkpointLocation", str(tmp_path / "ckpt3"))
    events = read_events_stream(spark, SF_DIR)
    result = run_available_now(
        stream_windowed_counts(events, "sliding"), "t_sliding"
    )
    # the streaming mode also keys by event_type; the batch twin keys by
    # window only — roll the stream result up for comparison (per-type
    # 2dp rounding => small tolerance on the summed totals)
    frontier = _events_frontier(spark, SF_DIR)
    got_n, got_tot = {}, {}
    for r in result.collect():
        if r["window_end"] > frontier:  # append mode holds the tail back
            continue
        got_n[r["window_start"]] = got_n.get(r["window_start"], 0) + r["n_events"]
        got_tot[r["window_start"]] = got_tot.get(r["window_start"], 0.0) + r["total_value"]
    want = {r["window_start"]: r for r in q_stream_sliding(spark, SF_DIR).collect()}
    assert set(got_n) == set(want) and len(want) > 0
    for w, row in want.items():
        assert got_n[w] == row["n_events"]
        assert abs(got_tot[w] - row["total_value"]) < 0.05


def test_stream_dedup_keys_matches_batch_distinct(spark, tmp_path):
    from cloud_data_sync_spark.streaming.stateful import q_stream_dedup_keys
    from cloud_data_sync_spark.tables import load_table

    spark.conf.set("spark.sql.streaming.checkpointLocation", str(tmp_path / "ckpt"))
    got = {
        (r.user_id, r.event_type)
        for r in q_stream_dedup_keys(spark, SF_DIR).collect()
    }
    want = {
        (r.user_id, r.event_type)
        for r in load_table(spark, SF_DIR, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert got == want and len(want) > 0


def test_stream_upsert_latest_wins_across_batches(spark):
    from cloud_data_sync_spark.streaming.enrich import q_stream_upsert
    from cloud_data_sync_spark.tables import load_table

    out = {r.user_id: r for r in q_stream_upsert(spark, SF_DIR).collect()}
    ev = load_table(spark, SF_DIR, "events")
    # batch truth: latest (ts, event_id) row per user
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    want = {
        r.user_id: r
        for r in ev.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }
    assert set(out) == set(want)
    for uid, row in want.items():
        assert out[uid].event_id == row.event_id


def test_stream_enrich_is_streaming_and_matches_batch(spark):
    from cloud_data_sync_spark.streaming.enrich import q_stream_enrich
    from cloud_data_sync_spark.tables import load_table

    got = {
        (r.tier, r.event_type): (r.n_events, float(r.total_value))
        for r in q_stream_enrich(spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    dim = ev.groupBy("user_id").agg(
        F.least(F.floor(F.sum("value") / 500).cast("bigint"), F.lit(4)).alias("tier")
    )
    want = {
        (r.tier, r.event_type): (r.n_events, float(r.total_value))
        for r in ev.join(dim, "user_id")
        .groupBy("tier", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


class _FakeMapState:
    """Dict-backed stand-in for pyspark's MapState (tuple keys/values)."""

    def __init__(self):
        self.d = {}

    def getValue(self, key):
        return self.d.get(key)

    def updateValue(self, key, value):
        self.d[key] = value


class _FakeHandle:
    def __init__(self):
        self.map_state = _FakeMapState()

    def getMapState(self, name, user_key_schema, value_schema, ttlDurationMs=None):
        return self.map_state


def test_tws_processor_accumulates_across_batches():
    """PerTypeTotals is pure pandas logic — verify MapState accumulation
    without the (protobuf-gated) state server."""
    import pandas as pd

    from cloud_data_sync_spark.streaming.tws import PerTypeTotals

    p = PerTypeTotals()
    p.init(_FakeHandle())
    b1 = pd.DataFrame({"event_type": ["a", "a", "b"], "value": [1.0, 2.0, 3.0]})
    (out1,) = list(p.handleInputRows((7,), iter([b1]), None))
    got1 = {
        r.event_type: (r.n_events, r.total_value) for r in out1.itertuples()
    }
    assert got1 == {"a": (2, 3.0), "b": (1, 3.0)}
    # second micro-batch accumulates onto existing sub-keys, adds a new one
    b2 = pd.DataFrame({"event_type": ["a", "c"], "value": [4.0, 5.0]})
    (out2,) = list(p.handleInputRows((7,), iter([b2]), None))
    got2 = {
        r.event_type: (r.n_events, r.total_value) for r in out2.itertuples()
    }
    assert got2 == {"a": (3, 7.0), "c": (1, 5.0)}
    # untouched sub-key 'b' is not re-emitted but stays in state
    assert p._per_type.getValue(("b",)) == (1, 3.0)
    # empty batch emits nothing
    assert list(p.handleInputRows((7,), iter([pd.DataFrame({"event_type": [], "value": []})]), None)) == []


def test_tws_registration_matches_environment_gate():
    from cloud_data_sync_spark.registry import all_queries
    from cloud_data_sync_spark.streaming import tws

    assert ("q_stream_map_state" in all_queries()) == tws.tws_supported()


def test_session_gap_uses_microsecond_precision(spark, tmp_path):
    """A 1800.5s gap must START a new session: seconds-truncated epoch math
    measured it as 1800 and merged what the oracle's INTERVAL comparison
    splits (latent until a dataset has a gap inside (1800s, 1801s])."""
    import datetime as dt

    import pandas as pd

    from cloud_data_sync_spark.streaming.windows import q_session_lag_gap

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0, 200000)
    rows = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": [
                t0,
                t0 + dt.timedelta(seconds=1800, microseconds=500000),  # 1800.5s
                t0 + dt.timedelta(seconds=1800 + 1799),  # same session as #2
            ],
            "user_id": [7, 7, 7],
            "event_type": ["click"] * 3,
            "value": [1.0, 2.0, 3.0],
            "props": ["{}"] * 3,
        }
    )
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    rows.to_parquet(sf_dir / "events.parquet", index=False)
    sessions = q_session_lag_gap(spark, str(sf_dir)).collect()
    assert len(sessions) == 2, f"1800.5s gap must split sessions, got {sessions}"
    by_start = sorted(sessions, key=lambda r: r.session_start)
    assert by_start[0].n_events == 1
    assert by_start[1].n_events == 2


def test_drain_twice_with_session_checkpoint_root(spark, tmp_path):
    """A session-level spark.sql.streaming.checkpointLocation must not make
    a second drain of the same query name restore the first drain's
    checkpoint and silently return an empty table (run_available_now passes
    an explicit per-call checkpoint)."""
    from cloud_data_sync_spark.streaming.runner import (
        read_events_stream,
        run_available_now,
    )

    prev = spark.conf.get("spark.sql.streaming.checkpointLocation", None)
    spark.conf.set(
        "spark.sql.streaming.checkpointLocation", str(tmp_path / "ckpt_root")
    )
    try:
        ev = read_events_stream(spark, SF_DIR).select("user_id", "event_type")
        first = run_available_now(
            ev.dropDuplicates(["user_id", "event_type"]),
            "t_ckpt_reuse_probe",
            output_mode="append",
        ).count()
        ev2 = read_events_stream(spark, SF_DIR).select("user_id", "event_type")
        second = run_available_now(
            ev2.dropDuplicates(["user_id", "event_type"]),
            "t_ckpt_reuse_probe",
            output_mode="append",
        ).count()
        assert first > 0
        assert second == first
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.checkpointLocation")
        else:
            spark.conf.set("spark.sql.streaming.checkpointLocation", prev)


def test_stream_left_join_nulls_respect_watermark_frontier(spark):
    """Null-matched rows appear ONLY for purchases the joint watermark has
    finalized; repeated drains are identical (replay-determinism)."""
    from cloud_data_sync_spark.registry import all_queries
    from cloud_data_sync_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    fn = all_queries()["q_stream_left_join"].fn
    rows1 = sorted(
        (r.purchase_id, r.click_id) for r in fn(spark, sf).collect()
    )
    rows2 = sorted(
        (r.purchase_id, r.click_id) for r in fn(spark, sf).collect()
    )
    assert rows1 == rows2
    ev = load_table(spark, sf, "events").collect()
    wm = min(
        max(r.ts for r in ev if r.event_type == "click"),
        max(r.ts for r in ev if r.event_type == "purchase"),
    )
    pts = {r.event_id: r.ts for r in ev if r.event_type == "purchase"}
    nulled = [p for p, c in rows1 if c is None]
    assert nulled, "expected some unmatched purchases"
    for p in nulled:
        assert (wm - pts[p]).total_seconds() >= 600
    # matched rows emit regardless of the frontier: at least one pair
    assert any(c is not None for _, c in rows1)


def test_left_join_terminal_batch_is_load_bearing(spark):
    """The availableNow terminal no-data batch IS the left-outer null
    flush: with it disabled the drain loses every unmatched-left row.
    Pins the join family's no_data_batch=True (runner doc): an
    'optimization' that opts the left join out of the terminal batch
    silently drops every null row."""
    from pyspark.sql import functions as F

    from cloud_data_sync_spark.streaming import windows as W
    from cloud_data_sync_spark.streaming.runner import run_available_now

    sf = "/root/testdata/sf0.001"
    full = run_available_now(
        W._build_click_purchase_join(spark, sf, hours=1, how="left_outer"),
        "t_lj_guard_full",
        output_mode="append",
        drain_partitions=2,
        no_data_batch=True,
    )
    n_full = full.count()
    n_nulls = full.filter(F.col("click_id").isNull()).count()
    assert n_nulls > 0, "fixture must produce unmatched purchases"

    cut = run_available_now(
        W._build_click_purchase_join(spark, sf, hours=1, how="left_outer"),
        "t_lj_guard_cut",
        output_mode="append",
        drain_partitions=2,
        no_data_batch=False,
    )
    n_cut = cut.count()
    n_cut_nulls = cut.filter(F.col("click_id").isNull()).count()
    assert n_cut_nulls == 0
    assert n_cut == n_full - n_nulls


def _write_events(tmp_path, rows, name="sf"):
    """Single-FILE events.parquet (the stream source's pathGlobFilter
    matches leaf file names, so a directory-shaped table reads as zero
    files — empty drain, silent)."""
    import pandas as pd

    sf_dir = tmp_path / name
    sf_dir.mkdir()
    pdf = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": [r[1] for r in rows],
            "user_id": [r[2] for r in rows],
            "event_type": ["click"] * len(rows),
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    )
    # the stream reader's fixed schema requires TIMESTAMP(MICROS); pandas
    # defaults to ns, which _assert_micros_vintage rejects loudly
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(sf_dir / "events.parquet", index=False)
    return str(sf_dir)


def test_time_window_emission_is_nonstrict_at_frontier(spark, tmp_path):
    """BOUNDARY FIXTURE (r6 verdict item 1): a time window whose end EQUALS
    the final watermark (max ts - 10 min) IS emitted — Spark's append-mode
    eviction predicate for time windows is window_end <= watermark,
    NON-strict. The oracles encode `<=`; this pins it against drift."""
    import datetime as dt

    from cloud_data_sync_spark.streaming.windows import q_stream_tumbling

    t = dt.datetime(2024, 1, 1, 10, 0, 0)
    sf = _write_events(
        tmp_path,
        [
            (1, t + dt.timedelta(minutes=15), 1),
            (2, t + dt.timedelta(minutes=45), 1),
            # max ts 11:10:00 -> frontier 11:00:00 == [10:00,11:00) end
            (3, t + dt.timedelta(minutes=70), 2),
        ],
    )
    rows = q_stream_tumbling(spark, sf).collect()
    starts = {r.window_start for r in rows}
    assert starts == {t}, f"end==frontier window must emit, got {rows}"
    assert rows[0].n_events == 2  # the 11:00-12:00 window stays pending


def test_session_window_emission_is_nonstrict_at_frontier(spark, tmp_path):
    """BOUNDARY FIXTURE: a session whose end EQUALS the frontier EMITS —
    session-window eviction shares time windows' NON-strict predicate
    (end <= watermark). This fixture DISPROVED r6's strict-'<' oracle
    claim (the boundary needs an exact 40-minute last-event-to-max-ts
    gap, which seeded data never produced); the oracle now encodes <=.
    A session ending past the frontier stays pending."""
    import datetime as dt

    from cloud_data_sync_spark.streaming.windows import q_stream_session_native

    t = dt.datetime(2024, 1, 1, 10, 0, 0)
    # user 7's session: [10:00, 10:30); user 9's event sets the watermark
    sf_eq = _write_events(
        tmp_path,
        [(1, t, 7), (2, t + dt.timedelta(minutes=40), 9)],  # frontier 10:30:00
        name="eq",
    )
    rows_eq = q_stream_session_native(spark, sf_eq).collect()
    assert [(r.user_id, r.n_events) for r in rows_eq] == [(7, 1)], (
        f"session_end == frontier must EMIT (non-strict predicate): {rows_eq}"
    )
    # frontier 10:29:59 < user 7's session end 10:30 -> everything pending
    sf_lt = _write_events(
        tmp_path,
        [(1, t, 7), (2, t + dt.timedelta(minutes=39, seconds=59), 9)],
        name="lt",
    )
    assert q_stream_session_native(spark, sf_lt).collect() == []


def test_group_drain_restores_confs_when_member_fails(spark, tmp_path):
    """A failing member must not leak the group's conf overrides
    (shuffle partitions / noDataMicroBatches) into the session, and
    sibling queries must not be left running."""
    import pytest

    from cloud_data_sync_spark.streaming.runner import (
        read_events_stream,
        run_available_now_group,
    )

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_ndb = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    good = read_events_stream(spark, SF_DIR).select("user_id", "event_type") \
        .dropDuplicates(["user_id", "event_type"])
    # complete mode on a non-aggregated stream is rejected at start()
    bad = read_events_stream(spark, SF_DIR).select("user_id")
    with pytest.raises(Exception):
        run_available_now_group(
            [(good, "t_grp_good", "append"), (bad, "t_grp_bad", "complete")],
            drain_partitions=4,
            no_data_batch=False,
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev_parts
    assert (
        spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
        == prev_ndb
    )
    assert not any(q.isActive for q in spark.streams.active)


def test_drained_family_caches_and_evicts_on_vintage_change(spark, tmp_path):
    """One concurrent pass per (session, events vintage): a second call is
    a cache hit (no new drain), and a rewritten events file misses the
    cache and evicts the superseded entry."""
    import datetime as dt

    from cloud_data_sync_spark.streaming import runner as R

    t = dt.datetime(2024, 1, 1, 10, 0, 0)
    sf = _write_events(tmp_path, [(1, t, 7), (2, t + dt.timedelta(hours=2), 9)])

    calls = []

    def build():
        calls.append(1)
        return (
            R.read_events_stream(spark, sf)
            .select("user_id", "event_type")
            .dropDuplicates(["user_id", "event_type"])
        )

    members = {"probe": (build, "append")}
    r1, _ = R.drained_family(spark, sf, "famtest", members)
    r2, _ = R.drained_family(spark, sf, "famtest", members)
    assert len(calls) == 1  # second call served from cache, no rebuild
    assert r1["probe"].count() == 2
    # rewrite events (new vintage) -> rebuild, superseded entry evicted
    import os
    import time

    time.sleep(0.01)
    os.utime(os.path.join(sf, "events.parquet"))
    r3, _ = R.drained_family(spark, sf, "famtest", members)
    assert len(calls) == 2
    from cloud_data_sync_spark.tables import _SESSION_STORE

    root = os.path.realpath(sf)
    keys = [k for k in _SESSION_STORE if k[1] == root and k[2] == "famtest"]
    assert len(keys) == 1, "superseded vintage entry must be evicted"


def test_degenerate_stream_yields_empty_not_raise(spark, tmp_path):
    """r7 ADVICE: an events file whose every ts is NULL never advances the
    watermark (the drain's telemetry carries only the 1970 sentinel), and
    the pane rollups must return EMPTY — matching the DuckDB oracles,
    whose frontier (max(ts) - delay) is NULL and filters every row — not
    raise. The NULL-frontier literal makes both engines agree."""
    import pandas as pd

    from cloud_data_sync_spark.streaming.windows import (
        q_stream_sliding,
        q_stream_tumbling,
    )

    sf_dir = tmp_path / "degenerate"
    sf_dir.mkdir()
    pdf = pd.DataFrame(
        {
            "event_id": [1],
            "ts": [pd.NaT],
            "user_id": [7],
            "event_type": ["click"],
            "value": [1.0],
            "props": ["{}"],
        }
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(sf_dir / "events.parquet", index=False)
    assert q_stream_tumbling(spark, str(sf_dir)).collect() == []
    assert q_stream_sliding(spark, str(sf_dir)).collect() == []


def test_family_eviction_drops_stale_sink_views(spark, tmp_path):
    """r7 ADVICE: a superseded family drain must not leave its memory-sink
    temp views behind — otherwise each vintage rewrite pins another full
    result set in driver memory for the session's life. After an
    in-session rewrite exactly one sink view exists, holding the
    rewritten drain's rows."""
    import datetime as dt
    import time

    import pandas as pd

    from cloud_data_sync_spark.streaming import runner as R

    t = dt.datetime(2024, 1, 1, 10, 0, 0)
    sf = _write_events(tmp_path, [(1, t, 7), (2, t + dt.timedelta(hours=2), 9)])

    def build():
        return (
            R.read_events_stream(spark, sf)
            .select("user_id", "event_type")
            .dropDuplicates(["user_id", "event_type"])
        )

    def probe_views():
        return [
            v.name
            for v in spark.catalog.listTables()
            if v.isTemporary and v.name.startswith("t_evictview_probe_")
        ]

    members = {"probe": (build, "append")}
    R.drained_family(spark, sf, "evictview", members)
    assert len(probe_views()) == 1
    time.sleep(0.01)
    # rewrite in place with a third user: a new vintage, new rows
    pdf = pd.read_parquet(os.path.join(sf, "events.parquet"))
    pdf = pd.concat([pdf, pdf.iloc[[0]].assign(event_id=3, user_id=11)])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(os.path.join(sf, "events.parquet"), index=False)
    out, _ = R.drained_family(spark, sf, "evictview", members)
    views = probe_views()
    assert len(views) == 1, f"stale memory-sink views survive: {views}"
    rows = sorted(tuple(r) for r in spark.table(views[0]).collect())
    assert rows == [(7, "click"), (9, "click"), (11, "click")]
    assert sorted(tuple(r) for r in out["probe"].collect()) == rows


def test_streaming_minhash_matches_batch_incremental(spark):
    """The streaming ingest and the batch incremental pass must agree
    row-for-row: same LSH candidates, same best-match argmax, same
    verdicts — the oracle-equivalence claim, checked directly."""
    from cloud_data_sync_spark.operators.dedup import (
        q_dedup_minhash_incremental,
    )
    from cloud_data_sync_spark.streaming.crawl import q_stream_minhash_dedup

    got = sorted(map(tuple, q_stream_minhash_dedup(spark, SF_DIR).collect()))
    want = sorted(
        map(tuple, q_dedup_minhash_incremental(spark, SF_DIR).collect())
    )
    assert got == want


def test_streaming_minhash_probes_state_across_batches(spark, tmp_path):
    """CROSS-BATCH state: with maxFilesPerTrigger=1 and two document
    files, a near-dup arriving in batch 2 must match an index document
    that arrived in batch 1 — only bucket STATE can connect them. The
    pair set must equal the single-batch (and batch-engine) result."""
    import pandas as pd

    from cloud_data_sync_spark.streaming.crawl import (
        read_documents_stream,
        streaming_candidate_pairs,
    )
    from cloud_data_sync_spark.streaming.runner import run_available_now

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    older = pd.DataFrame(
        {
            "doc_id": [1],
            "text": [text],
            "lang": ["en"],
            "source": ["a"],
            "n_chars": [len(text)],
        }
    )
    newer_text = text + " lambda"
    newer = pd.DataFrame(
        {
            "doc_id": [2_000_001],
            "text": [newer_text],
            "lang": ["en"],
            "source": ["b"],
            "n_chars": [len(newer_text)],
        }
    )
    sf = tmp_path / "crawl"
    sf.mkdir()
    older.to_parquet(sf / "documents_000.parquet", index=False)
    newer.to_parquet(sf / "documents_001.parquet", index=False)
    # file source orders batches by modification time: make it explicit
    t0 = (sf / "documents_000.parquet").stat().st_mtime
    os.utime(sf / "documents_001.parquet", (t0 + 10, t0 + 10))

    pairs = streaming_candidate_pairs(
        read_documents_stream(spark, str(sf), max_files_per_trigger=1)
        .select("doc_id", "text")
    )
    out = run_available_now(
        pairs,
        "t_crawl_xbatch",
        output_mode="update",
        drain_partitions=4,
        no_data_batch=False,
    )
    rows = {(r.doc_a, r.doc_b): r.est for r in out.collect()}
    assert (1, 2_000_001) in rows, (
        "batch-2 document must LSH-match the batch-1 index member via "
        f"bucket state; got {rows}"
    )
    # 10 shared trigram shingles of 11; most minhash lanes agree
    assert rows[(1, 2_000_001)] >= 0.5


def test_stream_asof_attributes_across_batches(spark, tmp_path):
    """CROSS-BATCH as-of state: with maxFilesPerTrigger=1 and two
    time-ordered event files, a purchase arriving in batch 2 must
    attribute to a click that arrived in batch 1 — only the (click_id,
    click_ts) group-state cursor can connect them — while a later
    in-batch click must win over the state cursor for the second
    purchase (the in-batch sweep)."""
    import datetime as dt

    import pandas as pd

    from cloud_data_sync_spark.streaming.runner import run_available_now
    from cloud_data_sync_spark.streaming.stateful import asof_join_stream

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def _t(m):
        return t0 + dt.timedelta(minutes=m)

    older = pd.DataFrame(
        {
            "event_id": [1, 2],
            "ts": [_t(0), _t(5)],
            "user_id": [10, 10],
            "event_type": ["click", "click"],
            "value": [1.0, 1.0],
            "props": ["{}"] * 2,
        }
    )
    newer = pd.DataFrame(
        {
            "event_id": [3, 4, 5],
            "ts": [_t(10), _t(12), _t(15)],
            "user_id": [10, 10, 10],
            "event_type": ["purchase", "click", "purchase"],
            "value": [9.0, 1.0, 9.0],
            "props": ["{}"] * 3,
        }
    )
    sf = tmp_path / "asof"
    sf.mkdir()
    # the fixed stream schema requires TIMESTAMP(MICROS); pandas defaults
    # to ns precision, which the vectorized reader refuses to convert
    older["ts"] = older["ts"].astype("datetime64[us]")
    newer["ts"] = newer["ts"].astype("datetime64[us]")
    older.to_parquet(sf / "events_000.parquet", index=False)
    newer.to_parquet(sf / "events_001.parquet", index=False)
    # file source orders batches by modification time: make it explicit
    m0 = (sf / "events_000.parquet").stat().st_mtime
    os.utime(sf / "events_001.parquet", (m0 + 10, m0 + 10))

    out = run_available_now(
        asof_join_stream(
            read_events_stream(spark, str(sf), max_files_per_trigger=1)
        ),
        "t_asof_xbatch",
        output_mode="update",
        drain_partitions=4,
        no_data_batch=False,
    )
    rows = {r.purchase_id: r for r in out.collect()}
    assert set(rows) == {3, 5}
    # purchase 3 (batch 2) → click 2 from BATCH 1, via group state
    assert rows[3].click_id == 2
    assert rows[3].click_ts_us == int(_t(5).timestamp() * 1_000_000)
    # purchase 5 → click 4 from its own batch (in-batch sweep beats state)
    assert rows[5].click_id == 4
