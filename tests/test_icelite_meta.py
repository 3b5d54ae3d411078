"""icelite's partition-spec guard: a write that would mix partition key
spaces fails before any file lands.  The reference has no storage layer at
all (inputs are in-memory arrays, reference tests/test_pcm.py:10) — this
guards the engine's own claimed Iceberg-semantics surface.
"""

import pytest

from hdstats_spark.icelite import IceliteTable

SCHEMA = "k int, v string, day string"


def _mk(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _vals(t, spark):
    return sorted((r.k, r.v) for r in t.read(spark).collect())


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
