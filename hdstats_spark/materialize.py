"""Session-scoped registry of shared query intermediates: the one cache
of ``hdstats_spark``.

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
  plans by path and is shared by every session of one SparkContext, so a
  stale plan left cached would keep serving the old files' rows to any
  session.  The registry therefore also keeps one process-wide last-seen
  fingerprint per path, and a lookup in ANY session that finds it changed
  refreshes the path (``spark.catalog.refreshByPath``), which drops the
  blocks of every cached plan over it, whoever cached it.
* Operators that cache their own intermediate (the dedup shingle,
  signature and fingerprint tables, the decontamination dirty set, the
  winnowing fingerprints) hold ONE entry per name, ``("plan", name)``,
  through :func:`cached_plan`.  A call with the same plan by
  ``DataFrame.sameSemantics`` returns the warm entry; any other call
  unpersists it and caches the new plan, so each name pins at most one
  table's blocks.  Such an entry over a registry-read table follows that
  table's rewrites through the refresh above.  It records no fingerprint
  of its own: ``df.inputFiles()`` lists no file under a cached relation, so
  once the entry is cached its plan reports no inputs.
"""

from __future__ import annotations

import os
import threading
import weakref
from typing import Callable, Hashable, Sequence

from pyspark.sql import DataFrame, SparkSession

_entries: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()
# path -> the fingerprint the last lookup of it saw, in any session
_seen: dict[str, tuple] = {}
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


def _lookup(
    spark: SparkSession, key: Hashable, paths: Sequence[str], build, same=None
) -> DataFrame:
    """The entry under ``key``, rebuilt unless its files are unchanged and,
    when ``same`` is given, ``same(entry)`` holds."""
    fps = {path: _fingerprint([path]) for path in paths}
    fp = tuple(fps.values())
    with _lock:
        for path, pfp in fps.items():
            if _seen.get(path, pfp) != pfp:
                # drop the blocks of every plan cached over these files —
                # another session's entry, a cached_plan entry, a plan built
                # on an entry: the CacheManager matches them all by path
                spark.catalog.refreshByPath(path)
            _seen[path] = pfp
        per_session = _entries.get(spark)
        if per_session is None:
            per_session = _entries[spark] = {}
        hit = per_session.get(key)
        if hit is not None:
            if hit[0] == fp and (same is None or same(hit[1])):
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


def cached_plan(name: str, df: DataFrame) -> DataFrame:
    """``df.cache()`` held as the one entry under ``name`` in ``df``'s
    session; a repeat call with the same plan returns the warm entry.  A
    caller that keeps the returned DataFrame across a later call under the
    same name with another plan recomputes it uncached: slower, not wrong.
    An input read outside :func:`table` is not checked: after rewriting it,
    call ``spark.catalog.refreshByPath``, as for any Spark cache."""
    return _lookup(df.sparkSession, ("plan", name), (), df.cache, df.sameSemantics)
