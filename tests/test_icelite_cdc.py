"""icelite changelog scan (changes_between) — CDC semantics.

The icelite analogue of Iceberg's changelog scan / Delta's Change Data
Feed.  The load-bearing property is REPLAY EQUIVALENCE: for any snapshot
pair, the from-state plus the changelog's inserts minus its deletes must
equal the to-state as a multiset — checked here across appends, MOR
upserts, key deletes, overwrites and compaction.  The reference has no
storage layer (inputs are in-memory arrays, reference
tests/test_pcm.py:10); this guards the engine's own claimed
Iceberg-semantics surface.
"""

from collections import Counter

import pytest

from hdstats_spark.icelite import IceliteTable

SCHEMA = "k int, v string, day string"


def _mk(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _state(t, spark, sid=None):
    return Counter((r.k, r.v) for r in t.read(spark, snapshot_id=sid).collect())


def _changes(t, spark, frm=None, to=None):
    return t.changes_between(spark, frm, to).collect()


def _replay(t, spark, frm=None, to=None):
    """from-state + inserts - deletes must equal to-state (multisets)."""
    got = Counter() if frm is None else _state(t, spark, frm)
    for r in _changes(t, spark, frm, to):
        if r._change_type == "insert":
            got[(r.k, r.v)] += 1
        else:
            got[(r.k, r.v)] -= 1
    want = _state(t, spark, to)
    assert +got == want, (dict(got), dict(want))


def test_append_only_changelog(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "cdc1"))
    s1 = t.append(_mk(spark, [(1, "a", "d1")]), partition_col="day")
    s2 = t.append(_mk(spark, [(2, "b", "d2")]), partition_col="day")
    rows = _changes(t, spark)
    assert all(r._change_type == "insert" for r in rows)
    assert sorted((r.k, r._partition, r._commit_seq, r._commit_snapshot_id) for r in rows) == [
        (1, "d1", s1.seq, s1.snapshot_id),
        (2, "d2", s2.seq, s2.snapshot_id),
    ]
    # half-open range (from s1]: only the second commit
    assert [(r.k, r._change_type) for r in _changes(t, spark, s1.snapshot_id)] == [
        (2, "insert")
    ]
    _replay(t, spark)
    _replay(t, spark, s1.snapshot_id)


def test_upsert_emits_delete_plus_insert(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "cdc2"))
    s1 = t.append(_mk(spark, [(1, "a", "d1"), (2, "b", "d1")]), partition_col="day")
    s2 = t.upsert(_mk(spark, [(1, "a2", "d1")]), key_cols=["k"], partition_col="day")
    rows = _changes(t, spark, s1.snapshot_id)
    got = sorted((r._change_type, r.k, r.v) for r in rows)
    assert got == [("delete", 1, "a"), ("insert", 1, "a2")]
    assert all(r._commit_seq == s2.seq for r in rows)
    _replay(t, spark, s1.snapshot_id)
    _replay(t, spark)  # full history: 2 inserts + the churn pair
    # a second upsert of the SAME key deletes the a2 version, not a again
    t.upsert(_mk(spark, [(1, "a3", "d1")]), key_cols=["k"], partition_col="day")
    rows = _changes(t, spark, s2.snapshot_id)
    assert sorted((r._change_type, r.v) for r in rows) == [
        ("delete", "a2"),
        ("insert", "a3"),
    ]
    _replay(t, spark, s1.snapshot_id)


def test_delete_by_keys_changelog(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "cdc3"))
    s1 = t.append(
        _mk(spark, [(1, "a", "d1"), (2, "b", "d1"), (3, "c", "d2")]),
        partition_col="day",
    )
    t.delete_by_keys(spark.createDataFrame([(1,), (3,)], "k int"), key_cols=["k"])
    rows = _changes(t, spark, s1.snapshot_id)
    assert sorted((r._change_type, r.k, r._partition) for r in rows) == [
        ("delete", 1, "d1"),
        ("delete", 3, "d2"),
    ]
    _replay(t, spark, s1.snapshot_id)


def test_compaction_is_silent(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "cdc4"))
    t.append(_mk(spark, [(1, "a", "d1")]), partition_col="day")
    s1 = t.upsert(_mk(spark, [(1, "a2", "d1")]), key_cols=["k"], partition_col="day")
    assert t.compact_partition(spark, "day", "d1") is not None
    s3 = t.append(_mk(spark, [(2, "b", "d1")]), partition_col="day")
    rows = _changes(t, spark, s1.snapshot_id)
    # the compaction (which materialized the pending delete) emits nothing;
    # only the post-compaction append surfaces
    assert [(r._change_type, r.k, r._commit_seq) for r in rows] == [
        ("insert", 2, s3.seq)
    ]
    _replay(t, spark, s1.snapshot_id)
    _replay(t, spark)  # full range across the compaction still replays


def test_overwrite_changelog_diff(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "cdc5"))
    s1 = t.append(
        _mk(spark, [(1, "a", "d1"), (2, "b", "d2")]), partition_col="day"
    )
    t.overwrite_partitions(_mk(spark, [(1, "a2", "d1")]), "day")
    rows = _changes(t, spark, s1.snapshot_id)
    got = sorted((r._change_type, r.k, r.v, r._partition) for r in rows)
    # only the overwritten partition diffs; d2 untouched
    assert got == [("delete", 1, "a", "d1"), ("insert", 1, "a2", "d1")]
    _replay(t, spark, s1.snapshot_id)


def test_cow_delete_changelog(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "cdc6"))
    s1 = t.append(
        _mk(spark, [(1, "a", "d1"), (2, "b", "d1"), (3, "c", "d1")]),
        partition_col="day",
    )
    # copy-on-write delete of k<=2: rewrite d1 with its surviving row
    t.overwrite_partitions(_mk(spark, [(3, "c", "d1")]), "day")
    rows = _changes(t, spark, s1.snapshot_id)
    # the survivor is rewritten unchanged, so it emits no change rows
    assert sorted((r._change_type, r.k) for r in rows) == [
        ("delete", 1),
        ("delete", 2),
    ]
    _replay(t, spark, s1.snapshot_id)


def test_changelog_across_schema_evolution(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "cdc8"))
    t.append(_mk(spark, [(1, "a", "d1")]), partition_col="day")
    t.append(
        spark.createDataFrame([(2, "b", 7, "d1")], "k int, v string, extra int, day string"),
        partition_col="day",
    )
    rows = {r.k: r for r in _changes(t, spark)}
    # pre-evolution commit NULL-backfills the evolved column
    assert rows[1].extra is None and rows[2].extra == 7
    _replay(t, spark)


def test_empty_range_and_expired_range(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "cdc9"))
    s1 = t.append(_mk(spark, [(1, "a", "d1")]), partition_col="day")
    df = t.changes_between(spark, s1.snapshot_id, s1.snapshot_id)
    assert df.count() == 0
    assert set(IceliteTable.CDC_COLS) <= set(df.columns)
    s2 = t.append(_mk(spark, [(2, "b", "d1")]), partition_col="day")
    t.append(_mk(spark, [(3, "c", "d1")]), partition_col="day")
    t.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="expired"):
        t.changes_between(spark, s1.snapshot_id)


def test_changelog_replay_over_random_commit_sequences(spark, tmp_path):
    """Randomized (seeded) histories over every commit kind: for each
    prefix checkpoint, from-state + changelog must replay to head-state.
    This is the changelog's whole contract under composition — interleaved
    MOR deletes, overwrites and compactions included."""
    import random

    for seed in (7, 23):
        rng = random.Random(seed)
        t = IceliteTable(str(tmp_path / f"rand{seed}"))
        t.append(
            _mk(spark, [(k, f"v{k}", f"d{k % 3}") for k in range(12)]),
            partition_col="day",
        )
        checkpoints = [t.snapshot().snapshot_id]
        next_k = 100
        for step in range(8):
            op = rng.choice(["append", "upsert", "delete_keys", "overwrite",
                             "compact"])
            if op == "append":
                rows = [(next_k + i, f"a{step}", f"d{(next_k + i) % 3}") for i in range(3)]
                next_k += 3
                t.append(_mk(spark, rows), partition_col="day")
            elif op == "upsert":
                live = [r.k for r in t.read(spark).select("k").collect()]
                if not live:
                    continue
                pick = rng.sample(live, min(3, len(live)))
                t.upsert(
                    _mk(spark, [(k, f"u{step}", f"d{k % 3}") for k in pick]),
                    key_cols=["k"],
                    partition_col="day",
                )
            elif op == "delete_keys":
                live = [r.k for r in t.read(spark).select("k").collect()]
                if not live:
                    continue
                pick = rng.sample(live, min(2, len(live)))
                t.delete_by_keys(
                    spark.createDataFrame([(k,) for k in pick], "k int"),
                    key_cols=["k"],
                )
            elif op == "overwrite":
                part = rng.choice(["d0", "d1", "d2"])
                rows = [(next_k, f"o{step}", part)]
                next_k += 1
                t.overwrite_partitions(_mk(spark, rows), "day")
            elif op == "compact":
                parts = sorted(t.committed_partitions())
                if parts:
                    t.compact_partition(spark, "day", rng.choice(parts))
            checkpoints.append(t.snapshot().snapshot_id)
        # replay from several prefix points (incl. table birth)
        for frm in [None, checkpoints[0], checkpoints[len(checkpoints) // 2]]:
            _replay(t, spark, frm)
