"""Full training-data lakehouse lifecycle in one flow — the icelite storage
capabilities composed end-to-end:

APPEND a corpus drop → QC it (Gopher repetition filter over the
changelog's inserts of the drop) → MOR key delete quarantines the flagged
docs → CDC changelog materializes a downstream table → COMPACT
materializes the delete backlog → EXPIRE — and every intermediate
contract (physical vs logical rows, replay equivalence, time travel
until expiry) holds at each step.  Individually each feature has its own
suite; this guards their COMPOSITION.
"""

import pytest
from pyspark.sql import functions as F

from hdstats_spark.icelite import IceliteTable
from hdstats_spark.operators.textstats import repetition_stats


_SENTENCE = (
    "the quick brown fox jumps over a lazy dog while seven wizards "
    "brew black quartz potions and judge my vow with sixty distinct tokens"
)


def _docs(spark, lo, hi, words=_SENTENCE):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(words + " doc"), F.col("id").cast("string")).alias("text"),
        F.concat(F.lit("d"), (F.col("id") % 2).cast("string")).alias("day"),
    )


def test_append_qc_delete_cdc_compact_expire(spark, tmp_path):
    corpus = IceliteTable(str(tmp_path / "corpus"))
    derived = IceliteTable(str(tmp_path / "derived"))

    # bootstrap corpus + initial derived materialization point
    corpus.append(_docs(spark, 0, 40), partition_col="day")
    base = corpus.snapshot()

    # ---- append: a new drop lands; 5 junk docs ride along
    junk = spark.range(1000, 1005).select(
        F.col("id").alias("doc_id"),
        F.lit("spam spam spam spam spam spam spam spam").alias("text"),
        F.lit("d0").alias("day"),
    )
    corpus.append(_docs(spark, 40, 80).unionByName(junk), partition_col="day")
    assert corpus.rows() == 85

    # ---- QC: Gopher repetition filter over the drop alone finds the junk
    drop = (
        corpus.changes_between(spark, base.snapshot_id)
        .filter(F.col("_change_type") == "insert")
        .select("doc_id", "text")
    )
    assert drop.count() == 45
    qc = repetition_stats(drop)
    bad = [r.doc_id for r in qc.filter(F.col("keep") == 0).collect()]
    assert sorted(bad) == [1000, 1001, 1002, 1003, 1004]
    # quarantine the flagged docs with a MOR key delete
    corpus.delete_by_keys(
        spark.createDataFrame([(i,) for i in bad], "doc_id long"),
        key_cols=["doc_id"],
    )
    assert corpus.rows() == 85  # physical: junk masked at read, not rewritten
    assert corpus.read(spark).count() == 80  # logical
    backlog = corpus.pending_deletes()
    assert "d0" in backlog  # the keys carry no day: every partition gets one

    # ---- CDC: materialize the changes since `base` into the derived table
    # the partition column lives in manifest keys: CDC surfaces it as
    # _partition; plain reads re-derive it for the downstream write
    ch = corpus.changes_between(spark, base.snapshot_id)
    ins = ch.filter(F.col("_change_type") == "insert").select(
        "doc_id", "text", F.col("_partition").alias("day")
    )
    dels = ch.filter(F.col("_change_type") == "delete").select("doc_id")
    day = F.concat(F.lit("d"), (F.col("doc_id") % 2).cast("string"))
    derived.append(
        corpus.read(spark, snapshot_id=base.snapshot_id).withColumn("day", day),
        partition_col="day",
    )
    derived.append(
        ins.join(dels, "doc_id", "left_anti"), partition_col="day"
    )  # net-apply: inserts minus deleted-in-range
    got = sorted(r.doc_id for r in derived.read(spark).collect())
    want = sorted(r.doc_id for r in corpus.read(spark).collect())
    assert got == want == list(range(80))

    # ---- compact: rewriting each partition with a backlog materializes it
    for value in sorted(backlog):
        assert corpus.compact_partition(spark, "day", value) is not None
    assert corpus.pending_deletes() == {}
    assert corpus.rows() == 80  # junk physically gone
    assert corpus.read(spark).count() == 80

    # ---- expire: history is time-travelable until expiry GCs it
    corpus.append(_docs(spark, 80, 90), partition_col="day")
    assert corpus.read(spark, snapshot_id=base.snapshot_id).count() == 40
    n_snaps = len(corpus.snapshots())
    assert n_snaps == 4 + len(backlog)  # 3 appends, 1 delete, the compactions
    res = corpus.expire_snapshots(keep_last=1)
    assert res["snapshots_removed"] == n_snaps - 1 and res["files_removed"] > 0
    with pytest.raises(FileNotFoundError):
        corpus.read(spark, snapshot_id=base.snapshot_id)
    assert corpus.read(spark).count() == 90
    assert sorted(r.doc_id for r in corpus.read(spark).collect()) == list(range(90))
