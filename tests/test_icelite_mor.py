"""icelite merge-on-read: equality-delete upsert / delete-by-keys semantics.

Iceberg v2's sequence-number rule, emulated: an equality-delete key file
committed at seq D masks exactly the matching rows of data files born at
fseq < D.  Upsert = append data files + per-partition key files in ONE
commit (O(batch) cost, no rewrite); compaction materializes the backlog and
restores the zero-join read fast path.  The reference has no storage layer
at all (inputs are in-memory arrays, reference tests/test_pcm.py:10) — this
is the engine's own claimed Iceberg-semantics surface.
"""

import os

import pytest

from hdstats_spark.icelite import IceliteTable

SCHEMA = "k int, v string, day string"


def _mk(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _by_key(t, spark, **kw):
    """{k: sorted list of v} from a read."""
    out = {}
    for r in t.read(spark, **kw).collect():
        out.setdefault(r.k, []).append(r.v)
    return {k: sorted(vs) for k, vs in out.items()}


def test_upsert_latest_wins(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "m1"))
    base = _mk(
        spark, [(i, f"v0-{i}", "d1" if i < 5 else "d2") for i in range(10)]
    )
    t.append(base, partition_col="day")
    assert t.snapshot().fmt == 2  # plain table: pre-MOR metadata unchanged
    up = _mk(spark, [(3, "v1-3", "d1"), (7, "v1-7", "d2"), (99, "v1-99", "d2")])
    t.upsert(up, key_cols=["k"], partition_col="day")
    assert t.snapshot().fmt == 3
    got = _by_key(t, spark)
    assert len(got) == 11 and all(len(v) == 1 for v in got.values())
    assert got[3] == ["v1-3"] and got[7] == ["v1-7"] and got[99] == ["v1-99"]
    assert got[0] == ["v0-0"]
    # manifest rows stay PHYSICAL (upper bound) until compaction
    assert t.rows() == 13
    pend = t.pending_deletes()
    assert pend == {"d1": {"files": 1, "rows": 1}, "d2": {"files": 1, "rows": 2}}


def test_upsert_chain_append_and_time_travel(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "m2"))
    s1 = t.append(_mk(spark, [(1, "a", "d1"), (2, "x", "d1")]), partition_col="day")
    s2 = t.upsert(_mk(spark, [(1, "b", "d1")]), key_cols=["k"], partition_col="day")
    s3 = t.upsert(_mk(spark, [(1, "c", "d1")]), key_cols=["k"], partition_col="day")
    # plain append AFTER the upserts: born past every delete seq -> NOT masked
    t.append(_mk(spark, [(1, "d", "d1")]), partition_col="day")
    assert _by_key(t, spark) == {1: ["c", "d"], 2: ["x"]}
    # time travel sees each snapshot's own world
    assert _by_key(t, spark, snapshot_id=s1.snapshot_id) == {1: ["a"], 2: ["x"]}
    assert _by_key(t, spark, snapshot_id=s2.snapshot_id) == {1: ["b"], 2: ["x"]}
    assert _by_key(t, spark, snapshot_id=s3.snapshot_id) == {1: ["c"], 2: ["x"]}


def test_upsert_replay_idempotent(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "m3"))
    t.append(_mk(spark, [(i, "v0", "d1") for i in range(6)]), partition_col="day")
    up = _mk(spark, [(2, "v1", "d1"), (4, "v1", "d1")])
    t.upsert(up, key_cols=["k"], partition_col="day")
    first = _by_key(t, spark)
    t.upsert(up, key_cols=["k"], partition_col="day")  # at-least-once replay
    assert _by_key(t, spark) == first == {
        **{i: ["v0"] for i in (0, 1, 3, 5)},
        2: ["v1"],
        4: ["v1"],
    }


def test_delete_by_keys_scoped_and_global(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "m4"))
    rows = [(i, "v", "d1" if i < 5 else "d2") for i in range(10)]
    rows += [(42, "both", "d1"), (42, "both", "d2")]
    pre = t.append(_mk(spark, rows), partition_col="day")
    # global purge (no partition col in keys_df): key 42 vanishes everywhere
    assert t.delete_by_keys(
        spark.createDataFrame([(42,)], "k int"), key_cols=["k"]
    ) is not None
    got = _by_key(t, spark)
    assert 42 not in got and len(got) == 10
    # partition-scoped: drop k=1 in d1 only (k=6 stays in d2)
    t.delete_by_keys(
        spark.createDataFrame([(1, "d1"), (6, "d1")], "k int, day string"),
        key_cols=["k"],
    )
    got = _by_key(t, spark)
    assert 1 not in got and 6 in got
    # metadata-only: physical rows unchanged, time travel intact
    assert t.rows() == 12
    assert 42 in _by_key(t, spark, snapshot_id=pre.snapshot_id)


def test_compact_materializes_deletes(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "m5"))
    t.append(
        _mk(spark, [(i, "v0", "d1" if i < 5 else "d2") for i in range(10)]),
        partition_col="day",
    )
    t.upsert(
        _mk(spark, [(0, "v1", "d1"), (1, "v1", "d1"), (7, "v1", "d2")]),
        key_cols=["k"],
        partition_col="day",
    )
    before = _by_key(t, spark)
    snap = t.compact_partition(spark, "day", "d1")
    assert snap is not None
    assert _by_key(t, spark) == before
    # d1's backlog is materialized, d2's remains
    assert set(t.pending_deletes()) == {"d2"}
    assert "deletes" not in snap.partitions["d1"]
    t.compact_partition(spark, "day", "d2")
    assert t.pending_deletes() == {}
    # rows() is exact again and the fast path has zero delete joins
    assert t.rows() == 10
    t.read(spark)
    assert t.last_scan["delete_files"] == 0
    # GC: pre-compaction data AND delete key files become unreferenced
    n_parquet = lambda: sum(
        len([f for f in fs if f.endswith(".parquet")])
        for _, _, fs in os.walk(t.data_dir)
    )
    before_gc = n_parquet()
    gone = t.expire_snapshots(keep_last=1)
    assert gone["files_removed"] > 0 and n_parquet() < before_gc
    assert _by_key(t, spark) == before
    assert not any(
        "deletes-" in root and fs
        for root, _, fs in os.walk(t.data_dir)
    ), "delete key files must be GC'd once no snapshot references them"


def test_read_where_skips_files_under_pending_deletes(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "m6"))
    t.append(
        _mk(spark, [(i, "lo", "d1") for i in range(5)]),
        partition_col="day",
        cluster="bypart",
    )
    t.append(
        _mk(spark, [(i, "hi", "d1") for i in range(100, 105)]),
        partition_col="day",
        cluster="bypart",
    )
    t.upsert(
        _mk(spark, [(2, "lo2", "d1"), (102, "hi2", "d1")]),
        key_cols=["k"],
        partition_col="day",
        cluster="bypart",
    )
    got = {
        r.k: r.v
        for r in t.read(spark, where={"k": ("between", 0, 4)}).collect()
    }
    assert got == {0: "lo", 1: "lo", 2: "lo2", 3: "lo", 4: "lo"}
    # the hi file (k in 100..104) is provably disjoint -> skipped even
    # though the equality-delete machinery is active
    assert t.last_scan["files_read"] == 2
    assert t.last_scan["files_considered"] == 3


def test_upsert_unpartitioned_and_schema_evolution(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "m8"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    t.upsert(spark.createDataFrame([(2, "b2")], "k int, v string"), key_cols=["k"])
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got == {1: "a", 2: "b2"}
    # upsert with a NEW column evolves the schema; old rows NULL-backfill
    t.upsert(
        spark.createDataFrame([(3, "c", 7)], "k int, v string, extra int"),
        key_cols=["k"],
    )
    rows = {r.k: (r.v, r.extra) for r in t.read(spark).collect()}
    assert rows == {1: ("a", None), 2: ("b2", None), 3: ("c", 7)}


def test_upsert_rejects_partition_only_key(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "m9"))
    df = _mk(spark, [(1, "a", "d1")])
    with pytest.raises(ValueError):
        t.upsert(df, key_cols=["day"], partition_col="day")
