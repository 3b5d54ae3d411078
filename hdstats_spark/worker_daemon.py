"""Spark's Python worker daemon without zip importers on ``sys.path``.

``session.get_spark`` names this module as ``spark.python.daemon.module``, so
Spark starts it in place of ``pyspark.daemon`` and every Python worker is
forked from it.  The worker ``PYTHONPATH`` Spark builds starts with
``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the spark-core jar.
Each task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on Python 3.11 every
``zipimporter`` in ``sys.path_importer_cache`` then re-reads its archive's
central directory: 16 archives, 125–240 ms per task on a 4-core VM.

When ``pyspark`` and ``py4j`` both resolve from a directory on what is left
(an installed pyspark), the daemon drops the non-directory ``sys.path``
entries and their importers before it imports pyspark, so the forked workers
hold no ``zipimporter``.  Otherwise ``sys.path`` stays as Spark gave it.

This module and the ``hdstats_spark`` package ``__init__`` must not import
pyspark: anything imported before the path is cut comes from the zips.
"""

from __future__ import annotations

import os
import sys
from importlib.machinery import PathFinder

_REQUIRED = ("pyspark", "py4j")


def zip_free_path(path: list[str]) -> list[str]:
    """``path`` without its non-directory entries, if every module in
    ``_REQUIRED`` still resolves from one of the remaining directories;
    otherwise ``path`` itself."""
    dirs = [p for p in path if os.path.isdir(p or os.curdir)]
    if len(dirs) == len(path):
        return path
    if all(getattr(PathFinder.find_spec(m, dirs), "origin", None) for m in _REQUIRED):
        return dirs
    return path


def main() -> None:
    kept = zip_free_path(sys.path)
    if kept is not sys.path:
        for entry in set(sys.path).difference(kept):
            sys.path_importer_cache.pop(entry, None)
        sys.path[:] = kept
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
