"""State-table upsert/delete semantics (database_test.go analog) and the
config validation table (config_test.go:9-98 analog)."""

from __future__ import annotations

from datetime import datetime

import pytest

from cloud_data_sync_spark import state as state_mod
from cloud_data_sync_spark.config import (
    BucketMapping,
    Config,
    ConfigError,
    load_config,
    save_default_config,
    validate_config,
)

T1 = datetime(2024, 1, 1)
T2 = datetime(2024, 1, 2)


def _state(spark, rows):
    return spark.createDataFrame(
        [
            ("m1", name, 1, T1, etag, None, {}, synced, status)
            for name, etag, synced, status in rows
        ],
        state_mod.STATE_SCHEMA,
    )


def test_upsert_latest_wins(spark):
    old = _state(spark, [("a", "e1", T1, "success"), ("b", "e2", T1, "success")])
    new = _state(spark, [("a", "e9", T2, "success"), ("c", "e3", T2, "failed_get")])
    out = {r["object_name"]: r for r in state_mod.upsert(old, new).collect()}
    assert out["a"]["etag"] == "e9"
    assert out["b"]["etag"] == "e2"
    assert out["c"]["sync_status"] == "failed_get"
    assert len(out) == 3


def test_upsert_tie_prefers_update(spark):
    old = _state(spark, [("a", "old", T1, "success")])
    new = _state(spark, [("a", "new", T1, "success")])  # same last_synced
    out = state_mod.upsert(old, new).collect()
    assert len(out) == 1
    assert out[0]["etag"] == "new"


def test_delete_keys(spark):
    st = _state(spark, [("a", "e1", T1, "success"), ("b", "e2", T1, "success")])
    gone = _state(spark, [("a", "e1", T1, "success")])
    left = state_mod.delete_keys(st, gone).collect()
    assert [r["object_name"] for r in left] == ["b"]


def test_state_roundtrip(spark, tmp_path):
    path = str(tmp_path / "state")
    st = _state(spark, [("a", "e1", T1, "success")])
    state_mod.save_state(st, path)
    back = state_mod.load_state(spark, path).collect()
    assert len(back) == 1 and back[0]["etag"] == "e1"


def test_load_missing_state_is_empty(spark, tmp_path):
    assert state_mod.load_state(spark, str(tmp_path / "nope")).count() == 0


# -- config validation table (config_test.go cases) --------------------------

_P = {"id": "p1", "type": "minio", "minioConfig": {"endpoint": "file:///x"}}
_M = BucketMapping("p1", "a", "p1", "b")


def test_valid_config_passes():
    validate_config(Config(providers=[_P], mappings=[_M]))


@pytest.mark.parametrize(
    "cfg, msg",
    [
        (Config(providers=[], mappings=[_M]), "no providers"),
        (Config(providers=[_P, dict(_P)], mappings=[_M]), "duplicate provider ID"),
        (
            Config(providers=[{"id": "p1", "type": "minio"}], mappings=[_M]),
            "missing minioConfig",
        ),
        (
            Config(providers=[{"id": "p1", "type": "alien", "minioConfig": {}}], mappings=[_M]),
            "unknown provider type",
        ),
        (Config(providers=[_P], mappings=[]), "no mappings"),
        (
            Config(providers=[_P], mappings=[BucketMapping("ghost", "a", "p1", "b")]),
            "unknown source provider",
        ),
        (
            Config(providers=[_P], mappings=[BucketMapping("p1", "a", "ghost", "b")]),
            "unknown target provider",
        ),
    ],
)
def test_invalid_configs_rejected(cfg, msg):
    with pytest.raises(ConfigError, match=msg):
        validate_config(cfg)


def test_mapping_id_format():
    assert _M.mapping_id == "p1:a->p1:b"  # sync.go:93-95


def test_default_config_roundtrip(tmp_path):
    p = str(tmp_path / "cfg.json")
    save_default_config(p)
    cfg = load_config(p)
    assert cfg.database_path == "data.db"
    assert cfg.mappings[0].mapping_id == "local-src:bucket-a->local-tgt:bucket-b"


def test_list_objects_refuses_file_root(spark, tmp_path):
    """A mapping root that resolves to a FILE must refuse loudly: the old
    fall-through emitted the absolute path as object_name, and the copy
    phase's os.path.join would then truncate the SOURCE file to 0 bytes
    (review finding, reproduced before the fix)."""
    import pytest

    from cloud_data_sync_spark.sources.listing import list_objects

    f = tmp_path / "a.txt"
    f.write_text("precious data")
    with pytest.raises(Exception, match="not under the mapping root"):
        list_objects(spark, f"file://{f}", "m1").collect()
    assert f.read_text() == "precious data"


def test_read_marker_raises_on_unreadable_not_missing(spark, tmp_path):
    """An EXISTING but unreadable version marker must not be treated as
    cleanly absent — that would silently pass the version gate."""
    import os

    import pytest
    from py4j.protocol import Py4JJavaError

    from cloud_data_sync_spark.state import _VERSION_FILE, _read_marker

    state_dir = tmp_path / "state"
    state_dir.mkdir()
    assert _read_marker(spark, str(state_dir)) is None  # genuinely absent → None
    marker = state_dir / _VERSION_FILE
    marker.mkdir()  # exists, but no stream opens on a directory
    with pytest.raises(Py4JJavaError):
        _read_marker(spark, str(state_dir))
    marker.rmdir()
    with open(marker, "w", encoding="utf-8") as fh:
        fh.write("v1")
    os.chmod(marker, 0)
    try:
        if os.geteuid() == 0:  # root ignores mode bits; can't simulate EACCES
            assert _read_marker(spark, str(state_dir)) == "v1"
        else:
            with pytest.raises(Py4JJavaError):
                _read_marker(spark, str(state_dir))
    finally:
        os.chmod(marker, 0o644)


def test_config_shape_errors_raise_config_error(tmp_path):
    """Valid-JSON-wrong-shape configs surface as ConfigError diagnostics,
    never raw AttributeError/TypeError tracebacks."""
    import json

    import pytest

    from cloud_data_sync_spark.config import ConfigError, load_config

    cases = [
        {"providers": ["p1"], "mappings": []},
        {"providers": [{"id": "a", "type": "minio", "minioConfig": {}}],
         "mappings": [None]},
        {"providers": {}, "mappings": []},
        [],
    ]
    for i, raw in enumerate(cases):
        p = tmp_path / f"cfg{i}.json"
        p.write_text(json.dumps(raw))
        with pytest.raises(ConfigError):
            load_config(str(p))
