"""PySpark's Python worker daemon, with archive directories kept across
tasks. Sessions from ``session.get_spark`` run it as
``spark.python.daemon.module``.

Each task's worker calls ``importlib.invalidate_caches()`` when it starts
(``pyspark.worker_util.setup_spark_files``). On Python 3.11 that makes
every ``zipimport.zipimporter`` in ``sys.path_importer_cache`` read its
whole archive directory again, one importer per archive and per package
imported from it: the daemon's ``sys.path`` starts with Spark's
``pyspark.zip``, the py4j zip and the spark-core jar, so a one-partition
Python task spent 116-216 ms doing so (4-core box; cProfile counted 16
importers re-reading 26,672 entries per task).

Those archives are Spark's own install and do not change while the
daemon lives. So before ``pyspark.daemon.manager()`` forks any worker, a
path hook at the front of ``sys.path_hooks`` hands every archive on the
start-up ``sys.path``, and every package path inside one, an importer
whose ``invalidate_caches`` keeps the directory it has read; importers
already cached for those paths are dropped, so imports made from here on
go through the hook. Workers still import pyspark from the same archives.
Any other path, such as a zip that ``addPyFile`` ships later, gets the
standard importers and their normal invalidation.
"""

from __future__ import annotations

import os
import sys
import zipimport
from collections.abc import Callable, Iterable


class KeptZipImporter(zipimport.zipimporter):
    """A ``zipimporter`` whose archive directory, once read, stays."""

    def invalidate_caches(self) -> None:
        pass


def _inside(path: str, archives: tuple[str, ...]) -> bool:
    return any(path == a or path.startswith(a + os.sep) for a in archives)


def archive_hook(archives: Iterable[str]) -> Callable[[str], KeptZipImporter]:
    """A ``sys.path_hooks`` entry: a ``KeptZipImporter`` for each of
    ``archives`` (file paths) and each path inside one; ``ImportError``,
    which passes the path on to the next hook, for any other path."""
    kept = tuple(archives)

    def hook(path: str) -> KeptZipImporter:
        if _inside(path, kept):
            return KeptZipImporter(path)
        raise ImportError(f"not a kept archive: {path}")

    return hook


def install(paths: Iterable[str]) -> None:
    """Route the archive files among ``paths``, and the paths inside
    them, through ``archive_hook``."""
    kept = tuple(p for p in paths if os.path.isfile(p))
    sys.path_hooks.insert(0, archive_hook(kept))
    for path in [p for p in sys.path_importer_cache if _inside(p, kept)]:
        del sys.path_importer_cache[path]


if __name__ == "__main__":
    install(sys.path)
    from pyspark import daemon

    daemon.manager()
