"""Focused tests for the round-7 second-pass optimization internals:

* the fused MOR delete-class scan (one reader + one anti join per key
  set) must be row-for-row identical to the exact per-class loop it
  replaced, and must refuse (fall back) when per-file attribution is
  infeasible;
* kmeans_codebook's footer-bounded count skip must produce a
  bit-identical codebook;
* _parquet_col_max must equal the Spark aggregate it replaces, and
  refuse non-integer columns;
* the session registry of shared query intermediates must build each one
  once, keep the cross-query sharing, and rebuild when its input files
  change;
* the same-plan cache retention must reuse identical plans, distinguish
  different ones, and fall back safely when a plan cannot be compared.
"""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def _mk_mor_table(spark, tmp_path):
    """Partitioned table with two pending-delete commits using DIFFERENT
    key-column sets, so the scan plan has several delete-equivalence
    classes and more than one anti-join group."""
    from hdstats_spark.icelite import IceliteTable

    rows = [
        (i, f"p{i % 3}", i % 7, float(i))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "id long, pt string, k2 long, v double")
    t = IceliteTable(str(tmp_path / "fused"))
    t.overwrite_partitions(df, "pt", cluster="bypart")
    up = df.filter(F.col("id") % 4 == 0).withColumn("v", -F.col("v"))
    t.upsert(up, key_cols=["id"], partition_col="pt", cluster="bypart")
    t.delete_by_keys(
        spark.createDataFrame([(2,), (5,)], "k2 long"), key_cols=["k2"]
    )
    return t


def _collect_sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_fused_scan_equals_per_class_loop(spark, tmp_path):
    from hdstats_spark.icelite import IceliteTable

    t = _mk_mor_table(spark, tmp_path)
    snap, classes, dentries, _ = t._plan_scan(None, None, None, None)
    assert len(classes) > 1, "scenario must produce multiple classes"
    keysets = {tuple(dentries[p]["keys"]) for key in classes for p in key}
    assert len(keysets) > 1, "scenario must produce multiple key-column sets"

    fused = t._fused_delete_scan(spark, snap, classes, dentries)
    assert fused is not None, "attribution must be feasible here"

    # exact per-class ground truth: force the fused path off and read
    orig = IceliteTable._fused_delete_scan
    try:
        IceliteTable._fused_delete_scan = lambda self, *a, **kw: None
        loop_rows = _collect_sorted(t.read(spark))
    finally:
        IceliteTable._fused_delete_scan = orig
    assert _collect_sorted(fused) == loop_rows
    assert _collect_sorted(t.read(spark)) == loop_rows

    # read_with_partition: fused _partition attribution vs the slow loop
    rwp = t.read_with_partition(spark)
    slow = t._read_with_partition_slow(spark, None, None)
    assert _collect_sorted(rwp) == _collect_sorted(slow)


def test_fused_scan_refuses_infeasible_attribution(spark, tmp_path):
    t = _mk_mor_table(spark, tmp_path)
    snap, classes, dentries, _ = t._plan_scan(None, None, None, None)
    # >64 files in one reader
    many = {(): [f"d/p{i}.parquet" for i in range(65)]}
    assert t._fused_delete_scan(spark, snap, many, {}) is None
    # tail-2 collision across partitions
    coll = {(): ["a/dup.parquet"], ("x",): ["b/../a/dup.parquet"]}
    assert t._fused_delete_scan(spark, snap, coll, {"x": {"keys": ["id"]}}) is None


def test_codebook_n_upper_bit_identical(spark):
    from hdstats_spark.operators.simsearch import kmeans_codebook

    rng = np.random.default_rng(3)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(50)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    C_counted = kmeans_codebook(e, 4, sample=200)
    C_hinted = kmeans_codebook(e, 4, sample=200, n_upper=50)
    assert np.array_equal(C_counted, C_hinted)


def test_parquet_col_max_matches_scan(spark, tmp_path):
    from hdstats_spark.driver_queries import _parquet_col_max

    p = str(tmp_path / "stats.parquet")
    spark.range(0, 1000).withColumn("x", F.col("id") * 3 - 17).write.parquet(p)
    assert _parquet_col_max(p, "x") == spark.read.parquet(p).agg(F.max("x")).collect()[0][0]
    assert _parquet_col_max(p, "nope") is None
    # exact stats are an integer-only property: doubles and strings refuse
    q = str(tmp_path / "mixed.parquet")
    spark.range(0, 50).select(
        (F.col("id") * 0.5).alias("d"), F.col("id").cast("string").alias("s")
    ).write.parquet(q)
    assert _parquet_col_max(q, "d") is None
    assert _parquet_col_max(q, "s") is None


def _write_events(path, n_users, seed):
    """A small events table of the test tables' schema: ``n_users`` users with
    20 events each over three days."""
    import datetime

    import pandas as pd

    rng = np.random.default_rng(seed)
    n = 20 * n_users
    ts = datetime.datetime(2024, 1, 1) + pd.to_timedelta(
        np.sort(rng.uniform(0, 72 * 3600, n)), unit="s"
    )
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.permutation(np.repeat(np.arange(n_users), 20)),
            "event_type": rng.choice(
                ["click", "view", "purchase", "signup", "error"], n
            ),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": "{}",
        }
    )
    pdf.to_parquet(path)


def test_registry_builds_dense_tier_once(spark, tmp_path, monkeypatch):
    from hdstats_spark import driver_queries as dq
    from hdstats_spark.operators import gapfill

    _write_events(tmp_path / "events.parquet", 6, seed=1)
    sf = str(tmp_path)
    builds = []
    real = gapfill.completion
    monkeypatch.setattr(
        gapfill, "completion", lambda *a, **kw: builds.append(1) or real(*a, **kw)
    )
    first = dq.q_dtw_area(spark, sf).collect()
    second = dq.q_dtw_area(spark, sf).collect()
    assert len(builds) == 1  # the dense tier was planned once, then reused
    assert sorted(first) == sorted(second) and len(first) == 6
    assert dq._dense_event_series(spark, sf)[0] is dq._dense_event_series(spark, sf)[0]
    assert dq._t(spark, sf, "events") is dq._t(spark, sf, "events")


def test_registry_builds_once_under_concurrent_lookups(spark, tmp_path):
    import threading

    from hdstats_spark import materialize

    path = str(tmp_path / "t.parquet")
    spark.range(5).write.parquet(path)
    builds, got = [], []

    def build():
        builds.append(1)
        return spark.read.parquet(path)

    def worker():
        for _ in range(20):
            got.append(materialize.cached(spark, ("__conc", path), [path], build))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1 and len(got) == 16 * 20
    assert all(df is got[0] for df in got)
    got[0].unpersist()


def _cache_builders(df, columns):
    """Identities of the cache buffers behind every InMemoryRelation of
    ``df``'s plan whose columns are exactly ``columns``."""
    jvm = df.sparkSession._jvm
    leaves = df._jdf.queryExecution().withCachedData().collectLeaves()
    out = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "InMemoryRelation":
            continue
        if list(leaf.schema().fieldNames()) == list(columns):
            out.append(jvm.System.identityHashCode(leaf.cacheBuilder()))
    return out


def test_registry_shares_prepared_composite_input(spark, tmp_path):
    from hdstats_spark import driver_queries as dq

    _write_events(tmp_path / "events.parquet", 6, seed=2)
    sf = str(tmp_path)
    cols = ["conv_id", *dq.EVENT_CHANNELS]
    gm = _cache_builders(dq.q_geomedian_mads(spark, sf), cols)
    sym = _cache_builders(dq.q_symmetry(spark, sf), cols)
    assert len(gm) == 1 and gm == sym  # one shared prepared relation


def test_registry_rebuilds_when_input_rewritten(spark, tmp_path):
    from hdstats_spark import driver_queries as dq

    path = tmp_path / "events.parquet"
    sf = str(tmp_path)
    _write_events(path, 45, seed=3)
    assert dq.q_geomedian_mads(spark, sf).count() == 45
    assert dq.q_rollup_1h_cascade(spark, sf).select("user_id").distinct().count() == 45
    _write_events(path, 10, seed=4)  # same path, new contents
    assert dq.q_geomedian_mads(spark, sf).count() == 10
    assert dq.q_symmetry(spark, sf).count() == 10
    assert dq.q_rollup_1h_cascade(spark, sf).select("user_id").distinct().count() == 10
    assert dq.q_rollup_1m(spark, sf).select("user_id").distinct().count() == 10


def test_swap_cache_keeps_identical_plan_only(spark):
    from hdstats_spark.operators.dedup import _swap_cache

    base = spark.range(100).withColumn("y", F.col("id") % 10)
    first = _swap_cache("__test_swap", base)
    again = _swap_cache("__test_swap", spark.range(100).withColumn("y", F.col("id") % 10))
    assert again is first  # same plan: warm cache retained
    other = _swap_cache("__test_swap", spark.range(101).withColumn("y", F.col("id") % 10))
    assert other is not first  # different plan: swapped as before
    other.unpersist()


class _OpaquePlan:
    """A cached predecessor whose plan cannot be read: ``_jdf`` raises, as
    it would if the private PySpark API changed shape."""

    def __init__(self, df):
        self.sparkSession = df.sparkSession
        self._df = df
        self.unpersisted = False

    @property
    def _jdf(self):
        raise AttributeError("plan unavailable")

    def unpersist(self):
        self.unpersisted = True
        return self._df.unpersist()


def test_swap_cache_falls_back_when_plan_not_comparable(spark):
    from hdstats_spark.operators import dedup

    key = "__test_swap_opaque"
    prev = _OpaquePlan(dedup._swap_cache(key, spark.range(10)))
    dedup._live_caches[key] = prev
    out = dedup._swap_cache(key, spark.range(7).withColumn("y", F.col("id") * 2))
    assert prev.unpersisted  # predecessor released, not kept
    assert out.is_cached and dedup._live_caches[key] is out
    assert sorted(tuple(r) for r in out.collect()) == [(i, 2 * i) for i in range(7)]
    out.unpersist()
