"""End-to-end local sync — the Spark twin of the reference's
sync_test.go:78-127 (one object copied, bytes compared, state row asserted)
extended with re-run idempotency, change detection, and the delete phase."""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from cloud_data_sync_spark import state as state_mod
from cloud_data_sync_spark.config import BucketMapping, Config
from cloud_data_sync_spark.runner import sync_all, sync_buckets


def _make_env(root, endpoint=str):
    """Source and target buckets under ``root``; ``endpoint`` renders each
    provider's endpoint directory (a bare path by default)."""
    src = root / "src" / "bucket-a"
    tgt = root / "tgt" / "bucket-b"
    src.mkdir(parents=True)
    (src / "a.txt").write_bytes(b"hello world")
    (src / "nested" / "b.txt").parent.mkdir()
    (src / "nested" / "b.txt").write_bytes(b"nested content")
    cfg = Config(
        providers=[
            {"id": "s", "type": "minio", "minioConfig": {"endpoint": endpoint(root / "src")}},
            {"id": "t", "type": "minio", "minioConfig": {"endpoint": endpoint(root / "tgt")}},
        ],
        mappings=[
            BucketMapping(
                source_provider_id="s",
                source_bucket="bucket-a",
                target_provider_id="t",
                target_bucket="bucket-b",
            )
        ],
    )
    return cfg, src, tgt, str(root / "state")


@pytest.fixture()
def env(tmp_path):
    return _make_env(tmp_path)


def test_first_sync_copies_everything(spark, env):
    cfg, src, tgt, state_path = env
    reports = sync_all(spark, cfg, state_path)
    assert len(reports) == 1
    assert reports[0].counts.get("copy_success") == 2
    assert (tgt / "a.txt").read_bytes() == b"hello world"
    assert (tgt / "nested" / "b.txt").read_bytes() == b"nested content"
    st = {r["object_name"]: r for r in state_mod.load_state(spark, state_path).collect()}
    assert st["a.txt"]["sync_status"] == "success"
    assert st["a.txt"]["mapping_id"] == "s:bucket-a->t:bucket-b"
    assert st["a.txt"]["size"] == 11
    assert len(st) == 2


def test_second_sync_skips_unchanged(spark, env):
    cfg, src, tgt, state_path = env
    sync_all(spark, cfg, state_path)
    r2 = sync_all(spark, cfg, state_path)[0]
    assert r2.counts.get("skip") == 2
    assert "copy_success" not in r2.counts


def test_changed_object_resynced(spark, env):
    cfg, src, tgt, state_path = env
    sync_all(spark, cfg, state_path)
    (src / "a.txt").write_bytes(b"changed content!")
    r2 = sync_all(spark, cfg, state_path)[0]
    assert r2.counts.get("copy_success") == 1
    assert r2.counts.get("skip") == 1
    assert (tgt / "a.txt").read_bytes() == b"changed content!"


def test_delete_phase_removes_vanished_objects(spark, env):
    cfg, src, tgt, state_path = env
    sync_all(spark, cfg, state_path)
    os.remove(src / "a.txt")
    r2 = sync_all(spark, cfg, state_path)[0]
    assert r2.counts.get("delete_success") == 1
    assert not (tgt / "a.txt").exists()
    st = {r["object_name"] for r in state_mod.load_state(spark, state_path).collect()}
    assert st == {"nested/b.txt"}


def test_source_read_failure_recorded(spark, env, tmp_path):
    cfg, src, tgt, state_path = env
    sync_all(spark, cfg, state_path)
    # make the source unreadable after listing: swap file for a directory
    os.remove(src / "a.txt")
    (src / "a.txt").mkdir()  # listing skips dirs; state row remains + tgt keeps file
    r2 = sync_all(spark, cfg, state_path)[0]
    # a.txt no longer listed as a file → delete phase removes it from target
    assert not (tgt / "a.txt").is_file()
    assert r2.counts.get("delete_success") == 1


def test_ensure_bucket_and_existence_probes(spark, tmp_path):
    """Existence introspection through Hadoop FS (database.go tableExists
    analog); target creation is covered by
    test_first_sync_of_empty_source_creates_target_root."""
    root = tmp_path / "new-bucket"
    assert not state_mod.state_exists(spark, str(root))
    root.mkdir()
    assert state_mod.state_exists(spark, str(root))
    assert state_mod.state_exists(spark, f"file://{root}")
    assert not state_mod.state_exists(spark, str(tmp_path / "no-state"))


def test_first_sync_of_empty_source_creates_target_root(spark, env):
    """EnsureBucketExists (sync.go:88-91): a first sync over an existing but
    empty source creates the absent target root and copies nothing."""
    cfg, src, tgt, state_path = env
    for p in sorted(src.rglob("*"), reverse=True):
        p.rmdir() if p.is_dir() else p.unlink()
    assert not tgt.exists()
    reports = sync_all(spark, cfg, state_path)
    assert reports[0].counts == {}
    assert tgt.is_dir() and _tree(tgt) == {}


def test_empty_mapping_beside_stored_state_reports_nothing(spark, env, tmp_path):
    """A mapping whose buckets are empty, synced alone over a state table
    that holds another mapping's rows, reports no counts: its pruned state
    scan is empty only at run time, and the report observed on the
    materialization still completes."""
    cfg, src, tgt, state_path = env
    sync_all(spark, cfg, state_path)
    (tmp_path / "src" / "empty").mkdir()
    empty = BucketMapping("s", "empty", "t", "empty")
    assert sync_buckets(spark, cfg, empty, state_path).counts == {}
    assert (tmp_path / "tgt" / "empty").is_dir()
    held = {r["mapping_id"] for r in state_mod.load_state(spark, state_path).collect()}
    assert held == {cfg.mappings[0].mapping_id}


def test_content_type_recorded_for_copies(spark, env):
    """database.go:144-157 stores ContentType; copied rows get extension-
    sniffed types, delete rows stay null."""
    cfg, src, tgt, state_path = env
    sync_all(spark, cfg, state_path)
    st = {r["object_name"]: r for r in state_mod.load_state(spark, state_path).collect()}
    assert st["a.txt"]["content_type"] == "text/plain"
    assert st["nested/b.txt"]["content_type"] == "text/plain"


def test_count_actions_accumulates_failure_variants(spark):
    """failed_get and failed_upload both fold into copy_failed — they must
    sum, not overwrite (the reference's counters, sync.go:166-170)."""
    from cloud_data_sync_spark.runner import count_actions

    results = spark.createDataFrame(
        [
            ("m", "o1", "copy", "failed_get"),
            ("m", "o2", "copy", "failed_upload"),
            ("m", "o3", "copy", "success"),
            ("m", "o4", "delete", "failed_delete"),
            ("m", "o5", "skip", None),
        ],
        "mapping_id string, object_name string, action string, status string",
    )
    assert count_actions(results) == {
        "m": {
            "copy_failed": 2,
            "copy_success": 1,
            "delete_failed": 1,
            "skip": 1,
        }
    }


def test_state_version_mismatch_detected(spark, env):
    """A version bump between runs fails loudly (the migration-runner
    replacement, database.go:45-313 → marker file)."""
    import json

    cfg, src, tgt, state_path = env
    sync_all(spark, cfg, state_path)
    marker = os.path.join(state_path, "_state_version.json")
    assert json.load(open(marker))["version"] == state_mod.STATE_VERSION
    with open(marker, "w") as f:
        json.dump({"version": state_mod.STATE_VERSION + 99}, f)
    with pytest.raises(state_mod.StateVersionError):
        state_mod.load_state(spark, state_path)


def test_structured_log_records(spark, env, caplog):
    """Per-mapping JSON log records — parity with the reference's slog
    output (main.go:27-28, sync.go:34-39)."""
    import json
    import logging

    cfg, src, tgt, state_path = env
    with caplog.at_level(logging.INFO, logger="cloud_data_sync_spark"):
        sync_all(spark, cfg, state_path)
    synced = [r for r in caplog.records if json.loads(r.message)["event"] == "mapping_synced"]
    assert len(synced) == 1
    payload = json.loads(synced[0].message)
    assert payload["mapping_id"] == "s:bucket-a->t:bucket-b"
    assert payload["counts"]["copy_success"] == 2


def test_sigterm_stops_continuous_mode(spark, env):
    """SIGTERM between ticks exits cleanly (main.go:71-72, 108-113)."""
    import signal
    import threading
    import time as time_mod

    from cloud_data_sync_spark.runner import run_continuous

    cfg, src, tgt, state_path = env
    pid = os.getpid()
    before = signal.getsignal(signal.SIGTERM)
    threading.Timer(1.0, lambda: os.kill(pid, signal.SIGTERM)).start()
    t0 = time_mod.monotonic()
    reports = run_continuous(spark, cfg, state_path, interval_sec=60, max_ticks=None)
    assert len(reports) == 1  # first run finished, no second tick
    assert time_mod.monotonic() - t0 < 30  # did not sleep out the interval
    # the EXACT pre-call handler is restored (not the leaked closure)
    assert signal.getsignal(signal.SIGTERM) is before


def test_mapping_failure_isolated(spark, env, tmp_path, monkeypatch):
    """A mapping whose source provider is absent fails by itself; it does
    not sync from a directory named after its bucket in the working
    directory."""
    cfg, src, tgt, state_path = env
    cwd = tmp_path / "cwd"
    (cwd / "nope").mkdir(parents=True)
    (cwd / "nope" / "leak.txt").write_bytes(b"leak")
    monkeypatch.chdir(cwd)
    cfg.mappings.insert(
        0,
        BucketMapping(
            source_provider_id="missing",
            source_bucket="nope",
            target_provider_id="t",
            target_bucket="bucket-b",
        ),
    )
    reports = sync_all(spark, cfg, state_path)
    assert len(reports) == 2  # continue-on-error (sync.go:43-47)
    assert reports[0].counts == {"mapping_failed": 1}
    assert reports[1].counts.get("copy_success") == 2
    assert "leak.txt" not in _tree(tgt)
    assert sorted(r[1] for r in _state_rows(spark, state_path)) == ["a.txt", "nested/b.txt"]


def test_corrupt_state_version_marker_raises(spark, tmp_path):
    import pytest as _pytest

    from cloud_data_sync_spark.state import (
        _VERSION_FILE,
        StateVersionError,
        check_state_version,
    )

    state_dir = tmp_path / "state.parquet"
    state_dir.mkdir()
    # cleanly absent marker: accepted
    check_state_version(spark, str(state_dir))
    # torn/corrupt marker: must fail loudly, not silently bypass the gate
    with open(state_dir / _VERSION_FILE, "w") as f:
        f.write('{"version": 1')  # truncated JSON
    with _pytest.raises(StateVersionError):
        check_state_version(spark, str(state_dir))


def test_listing_keeps_regex_metachar_roots(spark, tmp_path):
    from cloud_data_sync_spark.sources.listing import list_objects

    root = tmp_path / "archive (2024)" / "bucket+a"
    root.mkdir(parents=True)
    (root / "obj.bin").write_bytes(b"x")
    (root / "sub").mkdir()
    (root / "sub" / "deep.bin").write_bytes(b"y")
    rows = {
        r.object_name
        for r in list_objects(spark, f"file://{root}", "m").collect()
    }
    assert rows == {"obj.bin", "sub/deep.bin"}


def test_metadata_and_content_type_survive_copy(spark, env):
    """The reference carries ObjectInfo.Metadata + ContentType onto the
    uploaded object (interfaces/provider.go:16; gcp/client.go:107-138).
    Local analog: user.* xattrs. Assert list -> plan -> copy -> re-list
    round-trips them, and the state row records both."""
    cfg, src, tgt, state_path = env
    import os as _os

    try:
        _os.setxattr(src / "a.txt", "user.content-type", b"text/x-custom")
        _os.setxattr(src / "a.txt", "user.cache-control", b"max-age=60")
    except OSError:
        pytest.skip("filesystem has no user-xattr support")

    from cloud_data_sync_spark.sources.listing import list_objects, object_meta_local

    listed = {
        r["object_name"]: r
        for r in list_objects(spark, str(src), "m").collect()
    }
    assert listed["a.txt"]["content_type"] == "text/x-custom"
    assert listed["a.txt"]["metadata"] == {"cache-control": "max-age=60"}

    sync_all(spark, cfg, state_path)

    # target object carries the metadata (re-listable, durable)
    ct, md = object_meta_local(str(tgt / "a.txt"))
    assert ct == "text/x-custom"
    assert md == {"cache-control": "max-age=60"}
    # state row records what was uploaded
    st = {r["object_name"]: r for r in state_mod.load_state(spark, state_path).collect()}
    assert st["a.txt"]["content_type"] == "text/x-custom"
    assert st["a.txt"]["metadata"] == {"cache-control": "max-age=60"}
    # object without explicit metadata falls back to extension sniffing
    assert st["nested/b.txt"]["content_type"] == "text/plain"
    assert st["nested/b.txt"]["metadata"] in ({}, None)


def test_removed_source_metadata_clears_from_target(spark, env):
    """Overwrites reuse the target inode, so a metadata key REMOVED on the
    source must be actively cleared from the target — otherwise a stale
    xattr survives the re-copy and disagrees with the state row."""
    cfg, src, tgt, state_path = env
    import os as _os

    try:
        _os.setxattr(src / "a.txt", "user.content-type", b"text/x-custom")
        _os.setxattr(src / "a.txt", "user.cache-control", b"max-age=60")
    except OSError:
        pytest.skip("filesystem has no user-xattr support")

    from cloud_data_sync_spark.sources.listing import object_meta_local

    sync_all(spark, cfg, state_path)
    ct, md = object_meta_local(str(tgt / "a.txt"))
    assert md == {"cache-control": "max-age=60"}

    # drop the metadata key on the source, change content so it re-copies
    _os.removexattr(src / "a.txt", "user.cache-control")
    (src / "a.txt").write_text("changed payload")
    _os.setxattr(src / "a.txt", "user.content-type", b"text/x-custom")
    sync_all(spark, cfg, state_path)

    ct, md = object_meta_local(str(tgt / "a.txt"))
    assert ct == "text/x-custom"
    assert md == {}, f"stale metadata survived the overwrite: {md}"


def test_empty_source_with_nonempty_target_refuses_mass_delete(spark, env):
    """A typo'd or unmounted source lists empty; the plan would then delete
    every target object. The guard refuses unless explicitly overridden."""
    import shutil as _shutil

    cfg, src, tgt, state_path = env
    sync_all(spark, cfg, state_path)
    assert (tgt / "a.txt").exists()

    _shutil.rmtree(src)
    src.mkdir(parents=True)
    # guarded call: the refusal itself raises, the mapping fails, the
    # target is untouched
    with pytest.raises(RuntimeError, match="refusing the all-delete plan"):
        sync_buckets(spark, cfg, cfg.mappings[0], state_path)
    reports = sync_all(spark, cfg, state_path)
    assert reports[0].counts.get("mapping_failed") == 1
    assert (tgt / "a.txt").exists()
    # explicit override: the emptied source is actioned
    reports = sync_all(spark, cfg, state_path, allow_empty_source=True)
    assert reports[0].counts.get("delete_success", 0) >= 2
    assert not (tgt / "a.txt").exists()


def test_allow_empty_source_is_keyword_only(spark, env):
    """A positional True must not reach the mass-delete guard's override."""
    cfg, src, tgt, state_path = env
    with pytest.raises(TypeError):
        sync_all(spark, cfg, state_path, True)
    with pytest.raises(TypeError):
        sync_buckets(spark, cfg, cfg.mappings[0], state_path, True)
    assert not tgt.exists()


def test_emptied_mapping_state_partition_is_cleared(spark, env):
    """Dynamic overwrite cannot clear a no-rows partition; the runner must
    delete it so removed state rows don't resurrect on the next load."""
    import shutil as _shutil

    cfg, src, tgt, state_path = env
    sync_all(spark, cfg, state_path)
    mid = cfg.mappings[0].mapping_id
    assert (
        state_mod.load_state(spark, state_path)
        .filter(f"mapping_id = '{mid}'")
        .count()
        > 0
    )

    _shutil.rmtree(src)
    src.mkdir(parents=True)
    sync_all(spark, cfg, state_path, allow_empty_source=True)
    remaining = state_mod.load_state(spark, state_path).filter(
        f"mapping_id = '{mid}'"
    )
    assert remaining.count() == 0, "deleted state rows resurrected"


def test_load_state_raises_on_unreadable_table(spark, tmp_path):
    """Absent path -> empty state; present-but-corrupt table must RAISE,
    not silently classify the whole corpus as 'new'."""
    import pytest as _pytest

    state_path = str(tmp_path / "state")
    assert state_mod.load_state(spark, state_path).count() == 0

    import os as _os

    _os.makedirs(f"{state_path}/mapping_id=m", exist_ok=True)
    with open(f"{state_path}/mapping_id=m/part-corrupt.parquet", "wb") as f:
        f.write(b"this is not parquet")
    with _pytest.raises(Exception):
        state_mod.load_state(spark, state_path).collect()


def _analyzed(df):
    return df._jdf.queryExecution().analyzed()


def _set_xattrs(src):
    try:
        os.setxattr(src / "a.txt", "user.content-type", b"text/x-custom")
        os.setxattr(src / "a.txt", "user.cache-control", b"max-age=60")
    except OSError:
        pytest.skip("filesystem has no user-xattr support")


def test_driver_built_frames_are_local_relations(spark, env):
    """Driver listings, the empty state and the missing-root catalog plan as
    JVM LocalRelations: a job that reads them launches no Python task."""
    from cloud_data_sync_spark.sources.listing import list_objects

    cfg, src, tgt, state_path = env
    _set_xattrs(src)
    # symlinks are followed, as Hadoop's local listing follows them
    elsewhere = src.parent / "elsewhere"
    elsewhere.mkdir()
    (elsewhere / "o.txt").write_bytes(b"outside")
    (src / "linkdir").symlink_to(elsewhere)
    (src / "linkfile").symlink_to(elsewhere / "o.txt")
    # a dangling link is left out, as Hadoop's listStatus leaves it out
    (src / "dangling").symlink_to(elsewhere / "gone")
    listed = list_objects(spark, str(src), "m")
    empty = list_objects(spark, str(tgt), "m")  # root does not exist yet
    for df in (listed, empty, state_mod.empty_state(spark)):
        plan = _analyzed(df).toString()
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan

    expected = [
        ("mapping_id", "string"),
        ("object_name", "string"),
        ("bucket", "string"),
        ("size", "bigint"),
        ("last_modified", "timestamp"),
        ("etag", "string"),
        ("content_type", "string"),
        ("metadata", "map<string,string>"),
    ]
    assert listed.dtypes == expected
    assert empty.dtypes == expected and empty.isEmpty()

    ms = F.unix_millis("last_modified").alias("ms")
    rows = {r["object_name"]: r for r in listed.select("*", ms).collect()}
    assert set(rows) == {"a.txt", "nested/b.txt", "linkdir/o.txt", "linkfile"}
    a = rows["a.txt"]
    assert (a["mapping_id"], a["bucket"], a["size"]) == ("m", str(src), 11)
    assert a["ms"] == os.stat(src / "a.txt").st_mtime_ns // 1_000_000
    assert a["etag"] == f"11-{a['ms']}"
    assert a["content_type"] == "text/x-custom"
    assert a["metadata"] == {"cache-control": "max-age=60"}
    b = rows["nested/b.txt"]
    assert (b["content_type"], b["metadata"]) == (None, {})
    assert rows["linkdir/o.txt"]["size"] == rows["linkfile"]["size"] == 7


# .b.crc: Hadoop's ChecksumFileSystem hides .*.crc names from its listings
HIDDEN = (".hidden", "_under", "nested/.x", ".b.crc")


def test_hidden_names_round_trip(spark, env):
    """Dot- and underscore-prefixed objects are listed like any other (the
    reference lists every object, interfaces/provider.go:27): copied, then
    skipped, then deleted once the source drops them; a.txt's xattrs
    survive every tick."""
    from cloud_data_sync_spark.sources.listing import object_meta_local

    cfg, src, tgt, state_path = env
    _set_xattrs(src)
    for name in HIDDEN:
        (src / name).write_bytes(name.encode())

    def tick():
        counts = sync_all(spark, cfg, state_path)[0].counts
        assert object_meta_local(str(tgt / "a.txt")) == (
            "text/x-custom",
            {"cache-control": "max-age=60"},
        )
        state = state_mod.load_state(spark, state_path).collect()
        return counts, {r["object_name"] for r in state}

    everything = {"a.txt", "nested/b.txt", *HIDDEN}
    assert tick() == ({"copy_success": 6}, everything)
    for name in HIDDEN:
        assert (tgt / name).read_bytes() == name.encode()
    assert tick() == ({"skip": 6}, everything)
    for name in HIDDEN:
        os.remove(src / name)
    assert tick() == ({"delete_success": 4, "skip": 2}, {"a.txt", "nested/b.txt"})
    for name in HIDDEN:
        assert not (tgt / name).exists()


def _three_ticks(spark, env):
    """First sync, then a tick after one rewrite, one delete and one add,
    then an idle tick: the three reports' counts."""
    cfg, src, tgt, state_path = env
    counts = [sync_all(spark, cfg, state_path)[0].counts]
    (src / "a.txt").write_bytes(b"changed content!")
    os.remove(src / "nested" / "b.txt")
    (src / "c.txt").write_bytes(b"new")
    counts.append(sync_all(spark, cfg, state_path)[0].counts)
    counts.append(sync_all(spark, cfg, state_path)[0].counts)
    return counts


def test_listing_above_local_relation_threshold(spark, tmp_path):
    """Past spark.sql.execution.arrow.localRelationThreshold a listing is an
    RDD of Arrow batches decoded in JVM executors, a branch no benchmark
    workload reaches. It lists the same rows, its lineage holds no
    PythonRDD, and sync ticks over it report what they report below the
    threshold."""
    from cloud_data_sync_spark.sources.listing import list_objects

    below, above = _make_env(tmp_path / "below"), _make_env(tmp_path / "above")
    for e in (below, above):
        _set_xattrs(e[1])
    rows = sorted(list_objects(spark, str(above[1]), "m").collect())
    expected = _three_ticks(spark, below)

    key = "spark.sql.execution.arrow.localRelationThreshold"
    previous = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        listed = list_objects(spark, str(above[1]), "m")
        plan = _analyzed(listed)
        assert plan.getClass().getSimpleName() == "LogicalRDD"
        assert "PythonRDD" not in plan.rdd().toDebugString()
        assert sorted(listed.collect()) == rows
        got = _three_ticks(spark, above)
    finally:
        spark.conf.set(key, previous)
    assert got == expected == [
        {"copy_success": 2},
        {"copy_success": 2, "delete_success": 1},
        {"skip": 2},
    ]


def _tree(root):
    return {
        str(p.relative_to(root)): p.read_bytes()
        for p in root.rglob("*")
        if p.is_file()
    }


def test_file_uri_endpoints_sync_like_bare_paths(spark, tmp_path):
    """``file:/abs`` and ``file:///abs`` endpoints are local roots for the
    lister and the executor alike: three ticks report what the bare-path
    endpoints report and leave the same target tree."""
    bare = _make_env(tmp_path / "bare")
    expected = _three_ticks(spark, bare)
    for i, form in enumerate(("file:{}", "file://{}")):
        env = _make_env(tmp_path / f"uri{i}", form.format)
        assert _three_ticks(spark, env) == expected == [
            {"copy_success": 2},
            {"copy_success": 2, "delete_success": 1},
            {"skip": 2},
        ]
        src, tgt = env[1], env[2]
        assert _tree(tgt) == _tree(src) == {
            "a.txt": b"changed content!",
            "c.txt": b"new",
        }


def test_forced_large_diff_syncs_like_default(spark, tmp_path, monkeypatch):
    """With every input counted past the shuffle-hash cutoff, three ticks
    report what the default branch reports and leave the same target
    tree."""
    from cloud_data_sync_spark import tables

    default = _make_env(tmp_path / "default")
    expected = _three_ticks(spark, default)
    monkeypatch.setattr(tables, "input_rows", lambda df: 10**9)
    env = _make_env(tmp_path / "large")
    assert _three_ticks(spark, env) == expected
    assert _tree(env[2]) == _tree(default[2]) == _tree(env[1])


def test_state_row_of_an_object_gone_from_both_buckets_is_kept(spark, env):
    """An object removed by hand from both buckets after it synced is
    neither copied nor deleted: its state row survives the next tick and
    no report counts it."""
    cfg, src, tgt, state_path = env
    sync_all(spark, cfg, state_path)
    before = _state_rows(spark, state_path)
    (src / "a.txt").unlink()
    (tgt / "a.txt").unlink()
    reports = sync_all(spark, cfg, state_path)
    assert reports[0].counts == {"skip": 1}
    assert _state_rows(spark, state_path) == before
    assert {r[1] for r in before} == {"a.txt", "nested/b.txt"}


def test_state_stamped_ahead_does_not_pin_a_stale_row(spark, env):
    """A stored row whose last_synced lies ahead of this host's clock (clock
    skew, a state table moved from another host) is replaced by the next
    copy of its object, so the object is copied once and then skipped."""
    from datetime import datetime

    cfg, src, tgt, state_path = env
    sync_all(spark, cfg, state_path)
    rows = [
        {**r.asDict(), "last_synced": datetime(2100, 1, 1)}
        for r in state_mod.load_state(spark, state_path).collect()
    ]
    state_mod.save_state(
        spark.createDataFrame(rows, state_mod.STATE_SCHEMA), state_path
    )
    (src / "a.txt").write_bytes(b"changed content!")
    counts = [sync_all(spark, cfg, state_path)[0].counts for _ in range(3)]
    assert counts == [{"copy_success": 1, "skip": 1}, {"skip": 2}, {"skip": 2}]
    assert (tgt / "a.txt").read_bytes() == b"changed content!"


def test_unreadable_directory_fails_the_mapping(spark, env, monkeypatch):
    """A source directory that cannot be read fails the listing instead of
    listing its objects as gone: the mapping fails and the target keeps
    every object. chmod cannot deny root, so scandir is made to refuse."""
    from cloud_data_sync_spark.sources.listing import list_objects

    cfg, src, tgt, state_path = env
    sync_all(spark, cfg, state_path)
    before = _tree(tgt)
    assert before == _tree(src)
    scandir = os.scandir

    def refusing(path="."):
        if os.fspath(path) == str(src / "nested"):
            raise PermissionError(13, "Permission denied", os.fspath(path))
        return scandir(path)

    monkeypatch.setattr(os, "scandir", refusing)
    with pytest.raises(PermissionError):
        list_objects(spark, str(src), "m")
    reports = sync_all(spark, cfg, state_path)
    assert reports[0].counts == {"mapping_failed": 1}
    assert _tree(tgt) == before


@pytest.mark.parametrize(
    "uri, path",
    [
        ("/data/bkt", "/data/bkt"),
        ("/data/bkt/", "/data/bkt"),
        ("rel/bkt", "rel/bkt"),
        ("/data/a:b", "/data/a:b"),
        ("file:///data/bkt", "/data/bkt"),
        ("file:/data/bkt/", "/data/bkt"),
        ("file:///data/a%20b?c#d", "/data/a%20b?c#d"),
        ("file:///", "/"),
        ("s3a://bkt/x", None),
        ("gs://bkt", None),
        ("abfss://c@acct.dfs.core.windows.net/", None),
        ("minio.local:9000/bkt", None),
    ],
)
def test_local_root(uri, path):
    from cloud_data_sync_spark.sources.listing import local_root

    assert local_root(uri) == path


def test_local_root_refuses_file_uri_with_host():
    from cloud_data_sync_spark.sources.listing import local_root

    with pytest.raises(ValueError, match="names host"):
        local_root("file://nas/data/bkt")


# -- batches: every disjoint mapping of a tick goes through one pipeline -----

MTIME = 1_700_000_000


def _put(path, data, tick, xattr=None):
    """Write ``data`` at ``path`` with a fixed mtime, so two trees built by
    the same calls list the same etags."""
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_bytes(data)
    os.utime(path, (MTIME + tick, MTIME + tick))
    if xattr:
        try:
            os.setxattr(path, "user.content-type", xattr.encode())
            os.setxattr(path, "user.owner", b"batch")
        except OSError:
            pass  # no user-xattr support: payload-only trees still compare


def _multi_env(root, n=3):
    """``n`` disjoint mappings ``s:bucket-i -> t:bucket-i`` over source
    buckets of three objects each."""
    for i in range(n):
        bucket = root / "src" / f"bucket-{i}"
        _put(bucket / "a.txt", f"a{i}".encode(), 0, xattr="text/x-a")
        _put(bucket / "nested" / "b.txt", f"b{i}".encode(), 0)
        _put(bucket / "c.bin", bytes(i + 1), 0)
    cfg = Config(
        providers=[
            {"id": "s", "type": "minio", "minioConfig": {"endpoint": str(root / "src")}},
            {"id": "t", "type": "minio", "minioConfig": {"endpoint": str(root / "tgt")}},
        ],
        mappings=[
            BucketMapping("s", f"bucket-{i}", "t", f"bucket-{i}") for i in range(n)
        ],
    )
    return cfg, root / "src", root / "tgt", str(root / "state")


def _drift(src, tick):
    """Tick ``tick``'s edits: every bucket gets a rewrite, a delete and an
    add; on tick 2 bucket-1's source empties instead, and tick 3 refills
    it."""
    for bucket in sorted(src.iterdir()):
        if tick == 2 and bucket.name == "bucket-1":
            for p in [p for p in bucket.rglob("*") if p.is_file()]:
                p.unlink()
            continue
        _put(bucket / "a.txt", f"{bucket.name} tick {tick}".encode(), tick, xattr="text/x-new")
        victims = sorted(p for p in bucket.rglob("*") if p.is_file() and p.name != "a.txt")
        if victims:
            victims[0].unlink()
        _put(bucket / f"add-{tick}.txt", f"added {tick}".encode(), tick)


def _xattrs(root):
    out = {}
    for p in sorted(root.rglob("*")):
        if p.is_file():
            names = [a for a in os.listxattr(p) if a.startswith("user.")]
            out[str(p.relative_to(root))] = {a: os.getxattr(p, a) for a in names}
    return out


def _state_rows(spark, state_path):
    return sorted(
        (r["mapping_id"], r["object_name"], r["size"], r["etag"], r["last_modified"],
         r["content_type"], sorted((r["metadata"] or {}).items()), r["sync_status"])
        for r in state_mod.load_state(spark, state_path).collect()
    )


def test_batched_tick_matches_sequential_mappings(spark, tmp_path):
    """Three disjoint mappings synced by one sync_all tick give what the
    same mappings give synced one by one with sync_buckets: the reports,
    target trees, user.* xattrs and state rows, over a first sync and
    three drifting ticks. On tick 2 one mapping's source empties under
    allow_empty_source: its partition is cleared, the others keep rows."""
    batched = _multi_env(tmp_path / "batched")
    sequential = _multi_env(tmp_path / "sequential")
    for tick in range(4):
        if tick:
            _drift(batched[1], tick)
            _drift(sequential[1], tick)
        cfg, _, tgt, state_path = batched
        got = sync_all(spark, cfg, state_path, allow_empty_source=True)
        cfg_s, _, tgt_s, state_s = sequential
        want = [
            sync_buckets(spark, cfg_s, m, state_s, allow_empty_source=True)
            for m in cfg_s.mappings
        ]
        assert got == want
        assert all(r.counts and "mapping_failed" not in r.counts for r in got)
        assert _tree(tgt) == _tree(tgt_s) == _tree(batched[1])
        assert _xattrs(tgt) == _xattrs(tgt_s)
        rows = _state_rows(spark, state_path)
        assert rows == _state_rows(spark, state_s)
        emptied = {"s:bucket-1->t:bucket-1"} if tick == 2 else set()
        assert {r[0] for r in rows} == {m.mapping_id for m in cfg.mappings} - emptied
        if emptied:
            assert got[1].counts == {"delete_success": 3}
            assert _tree(tgt / "bucket-1") == {}


def test_chained_mappings_reach_the_end_in_one_tick(spark, tmp_path):
    """s→t then t→u: the second mapping lists t after the first has
    copied into it, so one tick carries every object from s to u."""
    cfg, src, tgt, state_path = _make_env(tmp_path)
    cfg.providers.append(
        {"id": "u", "type": "minio", "minioConfig": {"endpoint": str(tmp_path / "u")}}
    )
    cfg.mappings.append(BucketMapping("t", "bucket-b", "u", "bucket-c"))
    reports = sync_all(spark, cfg, state_path)
    assert [r.counts for r in reports] == [{"copy_success": 2}, {"copy_success": 2}]
    assert _tree(tmp_path / "u" / "bucket-c") == _tree(tgt) == _tree(src)


def test_quote_and_backslash_in_bucket_names_sync(spark, tmp_path):
    r"""Mapping ids holding ``'`` and ``\`` reach the report's SQL as
    literals of themselves: over a first sync and two drifting ticks, a
    batch of such a mapping and a plain one reports every mapping's own
    counts, and the state holds one success row per source object."""
    names = ["it's\\b", "plain"]
    for name in names:
        bucket = tmp_path / "src" / name
        _put(bucket / "a.txt", b"a", 0, xattr="text/x-a")
        _put(bucket / "nested" / "b.txt", b"b", 0)
        _put(bucket / "c.bin", b"c", 0)
    cfg = Config(
        providers=[
            {"id": "s", "type": "minio", "minioConfig": {"endpoint": str(tmp_path / "src")}},
            {"id": "t", "type": "minio", "minioConfig": {"endpoint": str(tmp_path / "tgt")}},
        ],
        mappings=[BucketMapping("s", name, "t", f"\\'{name}") for name in names],
    )
    state_path = str(tmp_path / "state")
    want = [
        {"copy_success": 3},
        {"copy_success": 2, "delete_success": 1, "skip": 1},
        {"copy_success": 2, "delete_success": 1, "skip": 1},
    ]
    for tick in range(3):
        if tick:
            _drift(tmp_path / "src", tick)
        reports = sync_all(spark, cfg, state_path)
        assert [r.counts for r in reports] == [want[tick]] * 2
        rows = {(r[0], r[1], r[-1]) for r in _state_rows(spark, state_path)}
        assert rows == {
            (m.mapping_id, name, "success")
            for m in cfg.mappings
            for name in _tree(tmp_path / "src" / m.source_bucket)
        }
        for m in cfg.mappings:
            assert _tree(tmp_path / "tgt" / m.target_bucket) == _tree(
                tmp_path / "src" / m.source_bucket
            )


def test_non_local_mapping_fails_alone(spark, tmp_path):
    """A mapping with an s3a:// root fails by itself; the mappings before
    and after it in the config sync, and nothing of it is copied."""
    cfg, src, tgt, state_path = _multi_env(tmp_path)
    cfg.providers.append({"id": "cloud", "type": "aws", "awsConfig": {}})
    cfg.mappings.insert(1, BucketMapping("s", "bucket-1", "cloud", "far"))
    reports = sync_all(spark, cfg, state_path)
    assert [r.counts for r in reports] == [
        {"copy_success": 3},
        {"mapping_failed": 1},
        {"copy_success": 3},
        {"copy_success": 3},
    ]
    assert sorted(p.name for p in tgt.iterdir()) == ["bucket-0", "bucket-1", "bucket-2"]
    held = {r[0] for r in _state_rows(spark, state_path)}
    assert held == {f"s:bucket-{i}->t:bucket-{i}" for i in range(3)}


def test_unresolvable_mappings_fail_before_any_work(spark, tmp_path, monkeypatch):
    """An azure provider without accountName, a minio provider with an
    http endpoint and an absent provider id each fail alone, between
    mappings that sync: none of their roots is listed and none of their
    targets is created."""
    from cloud_data_sync_spark import runner

    cfg, src, tgt, state_path = _multi_env(tmp_path)
    monkeypatch.chdir(tmp_path)
    cfg.providers += [
        {"id": "az", "type": "azure", "azureConfig": {"accountKey": "k"}},
        {"id": "mn", "type": "minio", "minioConfig": {"endpoint": "http://h:9000"}},
    ]
    cfg.mappings[1:1] = [
        BucketMapping("az", "bucket-1", "t", "az-far"),
        BucketMapping("s", "bucket-1", "mn", "mn-far"),
        BucketMapping("ghost", "bucket-1", "t", "ghost-far"),
    ]
    listed = []
    list_rows = runner.list_rows
    monkeypatch.setattr(
        runner,
        "list_rows",
        lambda root, mid: listed.append(mid) or list_rows(root, mid),
    )
    reports = sync_all(spark, cfg, state_path)
    assert [r.counts for r in reports] == [
        {"copy_success": 3},
        {"mapping_failed": 1},
        {"mapping_failed": 1},
        {"mapping_failed": 1},
        {"copy_success": 3},
        {"copy_success": 3},
    ]
    syncing = [cfg.mappings[i].mapping_id for i in (0, 4, 5)]
    assert sorted(listed) == sorted(syncing * 2)
    assert sorted(p.name for p in tgt.iterdir()) == ["bucket-0", "bucket-1", "bucket-2"]
    assert sorted(p.name for p in tmp_path.iterdir()) == ["src", "state", "tgt"]


def test_relative_endpoint_syncs_from_the_driver_cwd(spark, tmp_path, monkeypatch):
    """A relative endpoint names a directory under the driver's working
    directory, for the listing and for the workers that copy alike."""
    cwd = tmp_path / "cwd"
    src = cwd / "rel" / "bucket-a"
    _put(src / "a.txt", b"a", 0)
    _put(src / "nested" / "b.txt", b"b", 0)
    monkeypatch.chdir(cwd)
    cfg = Config(
        providers=[{"id": "p", "type": "minio", "minioConfig": {"endpoint": "rel"}}],
        mappings=[BucketMapping("p", "bucket-a", "p", "bucket-b")],
    )
    reports = sync_all(spark, cfg, str(tmp_path / "state"))
    assert reports[0].counts == {"copy_success": 2}
    assert _tree(cwd / "rel" / "bucket-b") == _tree(src)


@pytest.mark.parametrize(
    "pairs, batches",
    [
        # disjoint: one batch
        ([("a", "x"), ("b", "y"), ("c", "z")], [[0, 1, 2]]),
        # the sources may overlap each other
        ([("a", "x"), ("a", "y")], [[0, 1]]),
        # chained: the second reads what the first writes
        ([("a", "x"), ("x", "y")], [[0], [1]]),
        # the second writes what the first reads
        ([("a", "x"), ("b", "a")], [[0], [1]]),
        # repeated mapping, and a target under another's target
        ([("a", "x"), ("a", "x")], [[0], [1]]),
        ([("a", "x"), ("b", "x/sub"), ("c", "z")], [[0], [1, 2]]),
        # a source that contains another's target
        ([("a", "x/sub"), ("x", "y")], [[0], [1]]),
        # a shared name prefix is not containment
        ([("a", "x"), ("b", "xy"), ("xz", "c")], [[0, 1, 2]]),
    ],
)
def test_batching_rule(tmp_path, pairs, batches):
    from cloud_data_sync_spark.runner import _batches, _roots

    cfg = Config(
        providers=[{"id": "p", "type": "minio", "minioConfig": {"endpoint": str(tmp_path)}}],
        mappings=[BucketMapping("p", s, "p", t) for s, t in pairs],
    )
    assert _batches({i: _roots(cfg, m) for i, m in enumerate(cfg.mappings)}) == batches


@pytest.mark.parametrize("checkpoint_dir", [False, True], ids=["local", "checkpoint-dir"])
def test_tick_job_count_does_not_grow_with_mappings(spark, tmp_path, checkpoint_dir):
    """A warm tick of three disjoint mappings runs as many Spark jobs as a
    warm tick of one of them, at most two: the keyed shuffle's map stage
    and the state write, which runs the copies and observes the report on
    the way. Under a reliable-checkpoint root the tick runs the same jobs
    and writes nothing under that root: no frame of the tick is
    checkpointed, so no copy can run twice."""
    from cloud_data_sync_spark.tables import CHECKPOINT_DIR_CONF

    cfg, src, tgt, state_path = _multi_env(tmp_path / "buckets")
    one = Config(providers=cfg.providers, mappings=cfg.mappings[:1])
    tracker = spark.sparkContext.statusTracker()
    ck = tmp_path / "ck"
    if checkpoint_dir:
        spark.conf.set(CHECKPOINT_DIR_CONF, str(ck))
    try:
        sync_all(spark, cfg, state_path)

        def jobs(c, tick):
            _drift(src, tick)
            before = set(tracker.getJobIdsForGroup(None))
            reports = sync_all(spark, c, state_path)
            assert all("copy_success" in r.counts for r in reports)
            return len(set(tracker.getJobIdsForGroup(None)) - before)

        counts = [jobs(one, 1), jobs(cfg, 3), jobs(one, 4), jobs(cfg, 5)]
    finally:
        spark.conf.unset(CHECKPOINT_DIR_CONF)
    assert 0 < counts[0] <= 2 and len(set(counts)) == 1, counts
    assert not ck.exists() or not any(ck.rglob("*"))
    assert _tree(tgt) == _tree(src)


def _partition_files(state_path):
    """Each state file under a ``mapping_id=`` directory, with its size
    and mtime: a rewritten partition gets new file names."""
    root = Path(state_path)
    return {
        str(p.relative_to(root)): (p.stat().st_size, p.stat().st_mtime_ns)
        for p in root.glob("mapping_id=*/*")
        if p.is_file()
    }


def test_all_empty_batch_writes_no_rows_then_syncs(spark, tmp_path):
    """A tick over a batch whose sources, targets and state are all empty
    writes zero rows: on a fresh state path it leaves a table that loads
    as empty, and beside another mapping's partition it leaves that
    partition's files as they were. A tick after the sources fill copies
    every object and still touches no other partition."""
    cfg, src, tgt, state_path = _multi_env(tmp_path)
    other = Config(providers=cfg.providers, mappings=cfg.mappings[:1])
    batch = Config(providers=cfg.providers, mappings=cfg.mappings[1:])
    filled = {m.source_bucket: _tree(src / m.source_bucket) for m in batch.mappings}
    for bucket in filled:
        shutil.rmtree(src / bucket)
        (src / bucket).mkdir()

    assert [r.counts for r in sync_all(spark, batch, state_path)] == [{}, {}]
    assert _partition_files(state_path) == {}
    assert state_mod.load_state(spark, state_path).count() == 0

    assert sync_all(spark, other, state_path)[0].counts == {"copy_success": 3}
    kept = _partition_files(state_path)
    assert kept
    assert [r.counts for r in sync_all(spark, batch, state_path)] == [{}, {}]
    assert _partition_files(state_path) == kept

    for bucket, tree in filled.items():
        for name, data in tree.items():
            _put(src / bucket / name, data, 1)
    reports = sync_all(spark, batch, state_path)
    assert [r.counts for r in reports] == [{"copy_success": 3}] * 2
    assert _tree(tgt) == _tree(src)
    assert {k: v for k, v in _partition_files(state_path).items() if k in kept} == kept
    rows = {(r[0], r[1], r[-1]) for r in _state_rows(spark, state_path)}
    assert rows == {
        (m.mapping_id, name, "success")
        for m in cfg.mappings
        for name in _tree(src / m.source_bucket)
    }


def test_failed_state_write_converges_next_tick(spark, tmp_path, monkeypatch):
    """The state write is the tick's commit: when its tasks fail after the
    copies ran, the batch's mappings report ``mapping_failed`` and the
    stored state is the one from before the tick. One tick without the
    fault then converges: the target tree equals the source tree, and the
    state holds one success row per source object. The failed tick's
    deletes ran too, and their stored rows stay: a stored row of an
    object gone from both buckets is kept (``reconcile``'s keep rule), so
    this test does not claim the state holds no other row."""
    from cloud_data_sync_spark import runner

    cfg, src, tgt, state_path = _multi_env(tmp_path)
    sync_all(spark, cfg, state_path)
    stored = _state_rows(spark, state_path)
    _drift(src, 1)

    next_state = runner.next_state
    monkeypatch.setattr(
        runner,
        "next_state",
        lambda results: next_state(
            results.where(
                "action <> 'copy' OR raise_error(concat('injected: ', object_name)) IS NULL"
            )
        ),
    )
    reports = sync_all(spark, cfg, state_path)
    assert [r.counts for r in reports] == [{"mapping_failed": 1}] * 3
    assert _state_rows(spark, state_path) == stored
    assert any(p.name.startswith("add-1") for p in tgt.rglob("*")), "no copy ran"

    monkeypatch.setattr(runner, "next_state", next_state)
    reports = sync_all(spark, cfg, state_path)
    assert all(r.counts and "mapping_failed" not in r.counts for r in reports)
    assert _tree(tgt) == _tree(src)
    rows = _state_rows(spark, state_path)
    held = {(r[0], r[1]): r[-1] for r in rows}
    assert len(held) == len(rows)
    for m in cfg.mappings:
        for name in _tree(src / m.source_bucket):
            assert held[m.mapping_id, name] == "success", (m.mapping_id, name)
