"""Session-scoped registry of shared query intermediates.

Several queries read the same intermediate (a base-table reader, the
hourly bucket tier, the gap-filled dense tier).  Rebuilding it as a new
DataFrame per query costs driver-side planning even when Spark's
CacheManager then finds the plan already cached, so the registry builds
each one ONCE per live session and hands back the same DataFrame.

* An entry is keyed by name plus parameters, e.g. ``("dense", sf_dir)``,
  and held weakly per ``SparkSession``: a stopped session's entries die
  with it.
* Memoized and cached state assumes immutable inputs, and the registry
  checks that: each entry records the size and ``mtime_ns`` of every file
  under its input paths, and a lookup that finds them changed unpersists
  the entry and rebuilds it over a fresh reader.  The CacheManager matches
  plans by path, so a stale entry left cached would keep serving the old
  files' rows.
"""

from __future__ import annotations

import os
import threading
import weakref
from typing import Callable, Hashable, Sequence

from pyspark.sql import DataFrame, SparkSession

_entries: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()
# re-entrant: a build looks up the intermediates it reads from
_lock = threading.RLock()


def _fingerprint(paths: Sequence[str]) -> tuple:
    """(path, size, mtime_ns) of every file under ``paths``, sorted."""
    out = []
    for root in paths:
        if os.path.isfile(root):
            files = [root]
        else:
            files = [os.path.join(d, f) for d, _, names in os.walk(root) for f in names]
        for f in files:
            try:
                st = os.stat(f)
            except FileNotFoundError:
                continue  # removed between listing and stat
            out.append((f, st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def _lookup(spark: SparkSession, key: Hashable, paths: Sequence[str], build) -> DataFrame:
    fp = _fingerprint(paths)
    with _lock:
        per_session = _entries.get(spark)
        if per_session is None:
            per_session = _entries[spark] = {}
        hit = per_session.get(key)
        if hit is not None:
            if hit[0] == fp:
                return hit[1]
            if hit[1].is_cached:
                # unpersist BEFORE rebuilding: the rebuilt plan canonicalizes
                # to the stale one, so caching first would re-find the old
                # blocks
                hit[1].unpersist()
        df = build()
        per_session[key] = (fp, df)
        return df


def table(spark: SparkSession, path: str) -> DataFrame:
    """Lazy parquet reader of ``path``: an UNEXECUTED plan (every action
    still scans the files) that saves the ~30 ms of driver-side listing
    and footer schema inference each ``spark.read.parquet`` costs."""
    return _lookup(spark, ("table", path), [path], lambda: spark.read.parquet(path))


def cached(
    spark: SparkSession, key: Hashable, paths: Sequence[str], build: Callable[[], DataFrame]
) -> DataFrame:
    """``build().cache()`` for the current state of ``paths``; the blocks
    fill on the first action, as with ``.cache()``."""
    return _lookup(spark, key, paths, lambda: build().cache())
