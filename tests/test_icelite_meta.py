"""icelite rollback, direct writes and the partition-spec guard.

Rollback (Iceberg's ``rollback_to_snapshot``) commits a NEW head whose
resolved manifest is exactly the target's — a ``reset`` delta, so
partitions added after the target cease to exist (replace-mode folding
would leave them behind), while history stays time-travelable until
expire_snapshots ages it out.  The reference has no storage layer at all
(inputs are in-memory arrays, reference tests/test_pcm.py:10) — this
guards the engine's own claimed Iceberg-semantics surface.
"""

import os

import pytest

from hdstats_spark.icelite import IceliteTable

SCHEMA = "k int, v string, day string"


def _mk(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _vals(t, spark, **kw):
    return sorted((r.k, r.v) for r in t.read(spark, **kw).collect())


# ---------------------------------------------------------------- rollback


def test_rollback_restores_state_and_preserves_history(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "rb1"))
    s1 = t.append(_mk(spark, [(1, "a", "d1"), (2, "b", "d1")]), partition_col="day")
    s2 = t.append(_mk(spark, [(3, "c", "d2")]), partition_col="day")
    s3 = t.append(_mk(spark, [(4, "d", "d3")]), partition_col="day")
    want_s2 = _vals(t, spark, snapshot_id=s2.snapshot_id)

    rb = t.rollback_to(s2.snapshot_id)
    assert rb.operation == "rollback" and rb.seq == s3.seq + 1
    assert rb.parent_id == s3.snapshot_id  # new commit, not a pointer move
    assert _vals(t, spark) == want_s2
    # reset semantics: the partition added AFTER the target is gone
    assert t.committed_partitions() == {"d1", "d2"}
    # history preserved: the pre-rollback head is still time-travelable
    assert _vals(t, spark, snapshot_id=s3.snapshot_id) == want_s2 + [(4, "d")]
    # lineage records both ends of the rollback
    assert rb.lineage == {
        "rollback_to": s2.snapshot_id,
        "rollback_from": s3.snapshot_id,
    }
    # writes continue on top of the rolled-back state
    t.append(_mk(spark, [(5, "e", "d1")]), partition_col="day")
    assert _vals(t, spark) == want_s2 + [(5, "e")]


def test_rollback_undoes_overwrite(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "rb2"))
    s1 = t.append(_mk(spark, [(1, "old", "d1")]), partition_col="day")
    t.overwrite_partitions(_mk(spark, [(1, "new", "d1")]), "day")
    assert _vals(t, spark) == [(1, "new")]
    t.rollback_to(s1.snapshot_id)
    assert _vals(t, spark) == [(1, "old")]


def test_rollback_noop_and_missing_target(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "rb3"))
    s1 = t.append(_mk(spark, [(1, "a", "d1")]), partition_col="day")
    assert t.rollback_to(s1.snapshot_id).snapshot_id == s1.snapshot_id
    assert t.snapshot().seq == s1.seq  # no empty commit
    with pytest.raises(FileNotFoundError):
        t.rollback_to("deadbeefdeadbeef")


def test_rollback_by_timestamp(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "rb4"))
    s1 = t.append(_mk(spark, [(1, "a", "d1")]), partition_col="day")
    ts = t.snapshot(s1.snapshot_id).committed_at
    t.append(_mk(spark, [(2, "b", "d1")]), partition_col="day")
    t.rollback_to(as_of=ts)
    assert _vals(t, spark) == [(1, "a")]


def test_rollback_restores_pending_mor_deletes(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "rb5"))
    t.append(_mk(spark, [(1, "a", "d1"), (2, "b", "d1")]), partition_col="day")
    s2 = t.upsert(_mk(spark, [(1, "a2", "d1")]), key_cols=["k"], partition_col="day")
    want = _vals(t, spark)  # {1: a2, 2: b} with the delete still pending
    t.append(_mk(spark, [(3, "c", "d1")]), partition_col="day")
    t.rollback_to(s2.snapshot_id)
    assert _vals(t, spark) == want
    # pending equality deletes restored verbatim (fseq rule intact)
    assert t.pending_deletes() == {"d1": {"files": 1, "rows": 1}}
    # a post-rollback re-insert of the masked key is born past the delete
    # seq, so it is NOT masked
    t.append(_mk(spark, [(1, "a3", "d1")]), partition_col="day")
    assert _vals(t, spark) == [(1, "a2"), (1, "a3"), (2, "b")]


def test_rollback_is_replace_class_for_incremental(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "rb6"))
    s1 = t.append(_mk(spark, [(1, "a", "d1")]), partition_col="day")
    t.append(_mk(spark, [(2, "b", "d1")]), partition_col="day")
    t.rollback_to(s1.snapshot_id)
    t.append(_mk(spark, [(3, "c", "d1")]), partition_col="day")
    with pytest.raises(ValueError, match="replaced data files"):
        t.appended_between(s1.seq)
    _, adds = t.appended_between(s1.seq, on_replace="skip")
    # skip mode: the rolled-back append and the rollback are passed over;
    # only the post-rollback append surfaces (its files are the live ones)
    assert [a["seq"] for a in adds] == [2, 4]


def test_expire_after_rollback_gcs_rolled_back_files(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "rb7"))
    s1 = t.append(_mk(spark, [(1, "a", "d1")]), partition_col="day")
    s2 = t.append(_mk(spark, [(2, "b", "d2")]), partition_col="day")
    t.rollback_to(s1.snapshot_id)
    want = _vals(t, spark)
    # filter by PARTITION KEY, not a substring of the path: part-file names
    # carry a random uuid that can itself contain "d2" (seen in the wild:
    # ".../day=d1/part-00004-38693607-77d2-..."), which made this test flaky
    # by over-counting `gone` while the GC itself was correct
    gone = [
        f
        for part, m in s2.partitions.items()
        if part == "d2"
        for f in m["files"]
    ]
    res = t.expire_snapshots(keep_last=1)
    assert res["snapshots_removed"] == 2  # s1 and s2; the rollback head stays
    assert res["files_removed"] == len(gone) and gone
    for f in gone:
        assert not os.path.exists(os.path.join(t.root, f))
    assert _vals(t, spark) == want  # survivor re-checkpointed, still readable


# ---------------------------------------------------------- direct writes


def test_append_direct_equals_bypart(spark, tmp_path):
    """cluster='direct' (per-task Arrow writes, no Spark commit protocol)
    must be content-identical to the partitionBy path, with fmt-2 stats."""
    import json as _json

    a = IceliteTable(str(tmp_path / "da"))
    b = IceliteTable(str(tmp_path / "db"))
    df = spark.range(0, 5000).selectExpr(
        "cast(id as int) k", "concat('v', id % 7) v", "concat('d', id % 3) day"
    )
    a.append(df, partition_col="day", cluster="direct")
    b.append(df, partition_col="day", cluster="bypart")
    assert _vals(a, spark) == _vals(b, spark)
    assert a.committed_partitions() == b.committed_partitions()
    sa = a.snapshot()
    st = sa.partitions["d0"]["stats"][0]
    assert "__cols__" in st and "k" in st  # fmt-2 stats recorded
    # stats drive file skipping exactly like every other write mode
    a.read(spark, where={"k": ("=", 1)})
    assert a.last_scan["files_read"] <= a.last_scan["files_considered"]
    # MOR interop: a direct append into a partition with pending deletes is
    # born PAST the delete seq (not masked)
    a.upsert(
        spark.createDataFrame([(1, "u", "d1")], SCHEMA),
        key_cols=["k"],
        partition_col="day",
        cluster="bypart",
    )
    a.append(
        spark.createDataFrame([(1, "fresh", "d1")], SCHEMA),
        partition_col="day",
        cluster="direct",
    )
    vals = dict()
    for k, v in _vals(a, spark):
        vals.setdefault(k, []).append(v)
    assert sorted(vals[1]) == ["fresh", "u"]


def test_append_direct_unpartitioned(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "du"))
    t.append(_mk(spark, [(1, "a", "d1"), (2, "b", "d2")]), cluster="direct")
    assert t.committed_partitions() == {"__all__"}
    assert _vals(t, spark) == [(1, "a"), (2, "b")]


def test_partition_spec_mismatch_guard(spark, tmp_path):
    """Writes that would mix partition key spaces fail BEFORE any file
    lands: a different partition column, a partitioned write into an
    unpartitioned table, and an unpartitioned write into a partitioned
    table are all rejected."""
    t = IceliteTable(str(tmp_path / "psg"))
    t.append(_mk(spark, [(1, "a", "d1")]), partition_col="day")
    with pytest.raises(ValueError, match="mix"):
        t.append(_mk(spark, [(2, "b", "d1")]), partition_col="v")
    with pytest.raises(ValueError, match="mix"):
        t.append(_mk(spark, [(2, "b", "d1")]))
    with pytest.raises(ValueError, match="mix"):
        t.overwrite_partitions(_mk(spark, [(2, "b", "d1")]), "k")
    # same column keeps working
    t.append(_mk(spark, [(2, "b", "d2")]), partition_col="day")
    assert _vals(t, spark) == [(1, "a"), (2, "b")]
    u = IceliteTable(str(tmp_path / "psg2"))
    u.append(_mk(spark, [(1, "a", "d1")]))  # unpartitioned
    with pytest.raises(ValueError, match="mix"):
        u.append(_mk(spark, [(2, "b", "d1")]), partition_col="day")
    u.append(_mk(spark, [(2, "b", "d2")]))
    assert _vals(u, spark) == [(1, "a"), (2, "b")]
