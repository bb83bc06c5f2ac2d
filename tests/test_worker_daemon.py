"""The Python worker daemon (``cloud_data_sync_spark.worker_daemon``): the
archives on its start-up ``sys.path`` are read once, not once per task."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from cloud_data_sync_spark import worker_daemon


def _zip(path, *names):
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(name, "")
    return str(path)


def test_hooked_archives_keep_their_directories(tmp_path, monkeypatch):
    kept = _zip(tmp_path / "kept.zip", "pkg/__init__.py", "pkg/sub/__init__.py")
    other = _zip(tmp_path / "other.zip", "mod.py")
    hook = worker_daemon.archive_hook([kept])
    importers = {p: hook(p) for p in (kept, f"{kept}/pkg", f"{kept}/pkg/sub")}
    assert {type(i) for i in importers.values()} == {worker_daemon.KeptZipImporter}
    for path in (other, str(tmp_path), f"{kept}x", f"{kept}x/pkg"):
        with pytest.raises(ImportError):
            hook(path)

    plain = zipimport.zipimporter(other)
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda a: reads.append(a) or read(a))
    for path, importer in [*importers.items(), (other, plain)]:
        monkeypatch.setitem(sys.path_importer_cache, path, importer)
    importlib.invalidate_caches()
    assert other in reads and kept not in reads


def test_install_routes_archive_imports_through_the_hook(tmp_path, monkeypatch):
    kept = _zip(tmp_path / "kept.zip", "kept_daemon_probe/__init__.py")
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.setattr(sys, "path", [kept, *sys.path])
    sys.path_importer_cache[kept] = zipimport.zipimporter(kept)
    worker_daemon.install([kept, str(tmp_path)])
    assert kept not in sys.path_importer_cache
    importlib.import_module("kept_daemon_probe")
    monkeypatch.delitem(sys.modules, "kept_daemon_probe")
    assert type(sys.path_importer_cache[kept]) is worker_daemon.KeptZipImporter


def _importers(batches):
    import pyarrow as pa

    for _ in batches:
        pass
    kinds = [type(i).__name__ for i in sys.path_importer_cache.values()]
    yield pa.RecordBatch.from_pydict(
        {
            "plain": [kinds.count("zipimporter")],
            "kept": [kinds.count("KeptZipImporter")],
        }
    )


def test_spark_workers_keep_archive_directories(spark):
    """A Python task of a ``get_spark`` session imports pyspark through
    kept importers only."""
    df = spark.range(1, numPartitions=1).mapInArrow(_importers, "plain long, kept long")
    (r,) = df.collect()
    assert (r["plain"], r["kept"] > 0) == (0, True)


_OUTSIDE = """
import json, os, sys
sys.path.insert(0, sys.argv[1])
from cloud_data_sync_spark.config import BucketMapping, Config
from cloud_data_sync_spark.runner import sync_all
from cloud_data_sync_spark.session import get_spark

spark = get_spark("outside", master="local[1]")
os.makedirs("src/b")
with open("src/b/a.txt", "w") as f:
    f.write("a")
cfg = Config(
    providers=[{"id": "p", "type": "minio", "minioConfig": {"endpoint": "src"}}],
    mappings=[BucketMapping("p", "b", "p", "c")],
)
mapped = spark.sparkContext.parallelize([1], 1).map(lambda x: x + 1).collect()
print(json.dumps([mapped, sync_all(spark, cfg, "state")[0].counts]))
"""


def test_workers_import_the_package_from_any_driver_cwd(tmp_path):
    """A driver that puts the checkout on ``sys.path`` itself and runs from
    another directory, with no PYTHONPATH, still starts Python workers,
    and the sync executor's workers import the package."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", _OUTSIDE, str(Path(__file__).resolve().parents[1])],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert json.loads(out.stdout.splitlines()[-1]) == [[2], {"copy_success": 1}]
