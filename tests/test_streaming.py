"""Streaming 1m tier: streamed buckets ≡ batch rollup for on-time data;
late-beyond-watermark turns are dropped from the append stream."""

import glob
import os
import time

import pandas as pd
from pyspark.sql import functions as F

from hdstats_spark.operators.channels import channelize
from hdstats_spark.operators.rollup import rollup_raw
from hdstats_spark.schema import CHANNELS
from hdstats_spark.streaming.stream import stream_transcripts_from_dir, streaming_rollup_1m


def test_streaming_equals_batch(spark, transcripts, tmp_path):
    src = str(tmp_path / "arrivals")
    ckpt = str(tmp_path / "ckpt")
    # arrange arrivals in event-time order (files = micro-batches)
    ordered = transcripts.orderBy("ts")
    ordered.coalesce(4).write.mode("overwrite").parquet(src)
    # FileStreamSource processes files in MODIFICATION-TIME order, but the 4
    # part files are written in parallel with nondeterministic mtimes; a file
    # processed out of event-time order would have all rows dropped as late
    # under watermark '0 seconds'.  Pin strictly increasing mtimes in
    # part-index (= event-time) order.
    parts = sorted(glob.glob(os.path.join(src, "part-*.parquet")))
    base = time.time()
    for i, p in enumerate(parts):
        os.utime(p, (base + i, base + i))

    q = (
        streaming_rollup_1m(stream_transcripts_from_dir(spark, src), watermark="0 seconds")
        .writeStream.format("memory")
        .queryName("t1m_stream")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        deadline = time.time() + 180
        while time.time() < deadline:
            q.processAllAvailable()
            if not q.status["isDataAvailable"]:
                break
    finally:
        q.stop()

    got = spark.table("t1m_stream").toPandas()
    expect = rollup_raw(channelize(transcripts), "1m").toPandas()
    # append mode only emits windows whose watermark has passed; with
    # watermark 0s everything before the max event time is final
    max_ts = transcripts.agg(F.max("ts")).collect()[0][0]
    expect = expect[expect.bucket + pd.Timedelta(minutes=1) <= max_ts]
    got = got[got.bucket + pd.Timedelta(minutes=1) <= max_ts]

    a = got.sort_values(["conv_id", "bucket"]).reset_index(drop=True)
    b = expect.sort_values(["conv_id", "bucket"]).reset_index(drop=True)
    b = b[a.columns]
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_streaming_to_icelite_commits(spark, transcripts, tmp_path):
    """foreachBatch → icelite: streamed finalized buckets land as per-micro-
    batch snapshot commits with lineage, and equal the batch rollup."""
    from hdstats_spark.icelite import IceliteTable
    from hdstats_spark.streaming.stream import run_stream_to_icelite

    src = str(tmp_path / "arrivals_ice")
    ckpt = str(tmp_path / "ckpt_ice")
    root = str(tmp_path / "tier_1m_stream")
    transcripts.orderBy("ts").coalesce(4).write.mode("overwrite").parquet(src)
    parts = sorted(glob.glob(os.path.join(src, "part-*.parquet")))
    base = time.time()
    for i, p in enumerate(parts):
        os.utime(p, (base + i, base + i))

    q = run_stream_to_icelite(
        spark, src, ckpt, root, watermark="0 seconds", compact_every=2
    )
    try:
        deadline = time.time() + 180
        while time.time() < deadline:
            q.processAllAvailable()
            if not q.status["isDataAvailable"]:
                break
    finally:
        q.stop()

    tbl = IceliteTable(root)
    snaps = tbl.snapshots()
    assert snaps and all(
        "micro_batch" in s.lineage or s.operation == "compact" for s in snaps
    )
    # in-sink maintenance ran and bounds the per-partition file count to
    # what accumulated SINCE the last compaction (≤ compact_every appends ×
    # ≤ parallelism files each + the 1 compacted file), independent of the
    # total number of micro-batches — the property that prevents the
    # tiny-file storm at 10⁵ commits
    assert any(s.operation == "compact" for s in snaps)
    cap = 2 * spark.sparkContext.defaultParallelism + 1
    for m in tbl.snapshot().partitions.values():
        assert len(m["files"]) <= cap, m
    got = tbl.read(spark).drop("day").toPandas()
    expect = rollup_raw(channelize(transcripts), "1m").toPandas()
    max_ts = transcripts.agg(F.max("ts")).collect()[0][0]
    expect = expect[expect.bucket + pd.Timedelta(minutes=1) <= max_ts]
    got = got[got.bucket + pd.Timedelta(minutes=1) <= max_ts]
    a = got.sort_values(["conv_id", "bucket"]).reset_index(drop=True)
    b = expect.sort_values(["conv_id", "bucket"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a[sorted(a.columns)], b[sorted(b.columns)], check_dtype=False)


def test_streaming_cascade_to_icelite(spark, transcripts, tmp_path):
    """cascade=True keeps the 1h/1d tables continuously current: after the
    stream drains, both coarse tables equal the batch cascade over exactly
    the 1m rows the stream committed (idempotent overwrite-by-day re-rolls
    absorb multi-touch days and replays)."""
    from hdstats_spark.icelite import IceliteTable
    from hdstats_spark.operators.rollup import rollup_cascade
    from hdstats_spark.streaming.stream import run_stream_to_icelite

    src = str(tmp_path / "arrivals_casc")
    ckpt = str(tmp_path / "ckpt_casc")
    root = str(tmp_path / "tier_1m_casc")
    transcripts.orderBy("ts").coalesce(3).write.mode("overwrite").parquet(src)
    parts = sorted(glob.glob(os.path.join(src, "part-*.parquet")))
    base = time.time()
    for i, p in enumerate(parts):
        os.utime(p, (base + i, base + i))

    q = run_stream_to_icelite(
        spark, src, ckpt, root, watermark="0 seconds", cascade=True
    )
    try:
        deadline = time.time() + 180
        while time.time() < deadline:
            q.processAllAvailable()
            if not q.status["isDataAvailable"]:
                break
    finally:
        q.stop()

    m1 = IceliteTable(root).read(spark).drop("day")
    for tier, tier_root in (("1h", root + "_1h"), ("1d", root + "_1d")):
        got = (
            IceliteTable(tier_root).read(spark).drop("day")
            .orderBy("conv_id", "bucket").toPandas()
        )
        finer = m1 if tier == "1h" else rollup_cascade(m1, "1h")
        expect = (
            rollup_cascade(finer, tier).orderBy("conv_id", "bucket").toPandas()
        )
        expect = expect[got.columns]
        pd.testing.assert_frame_equal(got, expect, check_dtype=False)
    # every cascade commit is an idempotent overwrite with day lineage
    for tier_root in (root + "_1h", root + "_1d"):
        snaps = IceliteTable(tier_root).snapshots()
        assert snaps and all(s.operation == "overwrite" for s in snaps)
        assert all("days" in s.lineage for s in snaps)


def test_icelite_sink_replay_is_idempotent(spark, transcripts, tmp_path):
    """foreachBatch replay semantics, driven directly through the sink
    factory: re-invoking the sink with an already-committed batch_id must
    NOT duplicate 1m rows, and the cascade re-roll must leave the coarse
    tables equal to the batch cascade (the crash-between-commit-and-
    checkpoint window)."""
    from hdstats_spark.icelite import IceliteTable
    from hdstats_spark.operators.rollup import rollup_cascade
    from hdstats_spark.streaming.stream import icelite_sink

    root = str(tmp_path / "replay_1m")
    tbl = IceliteTable(root)
    casc = {"1h": IceliteTable(root + "_1h"), "1d": IceliteTable(root + "_1d")}
    sink = icelite_sink(spark, tbl, "src", casc, compact_every=None)

    tier = rollup_raw(channelize(transcripts), "1m")
    first_ids = [f"c{i:08d}" for i in range(10)]  # gen_transcripts pads to 8
    batches = [
        tier.filter(F.col("conv_id").isin(first_ids)),
        tier.filter(~F.col("conv_id").isin(first_ids)),
    ]
    assert batches[0].count() > 0 and batches[1].count() > 0  # both real
    sink(batches[0], 0)
    sink(batches[1], 1)
    rows_before = tbl.rows()
    snaps_before = len(tbl.snapshots())
    sink(batches[1], 1)  # the replay: same batch, same id
    assert tbl.rows() == rows_before, "replay duplicated 1m rows"
    assert len(tbl.snapshots()) == snaps_before, "replay added a 1m commit"

    m1 = tbl.read(spark).drop("day")
    assert m1.count() == tier.count()
    for tier_name, t in (("1h", casc["1h"]), ("1d", casc["1d"])):
        got = t.read(spark).drop("day").orderBy("conv_id", "bucket").toPandas()
        finer = m1 if tier_name == "1h" else rollup_cascade(m1, "1h")
        expect = rollup_cascade(finer, tier_name).orderBy("conv_id", "bucket").toPandas()
        pd.testing.assert_frame_equal(got, expect[got.columns], check_dtype=False)


def test_icelite_sink_streaming_composite(spark, transcripts, tmp_path):
    """composite=True keeps the FLAGSHIP aggregate streaming-fresh: after
    two micro-batches plus a replay of the second (the crash-between-
    commit-and-checkpoint window), the _gm table equals the batch composite
    (same geomedian_mads_flat kernel, same tier config) over exactly the
    committed 1m rows — the geometric median has no mergeable partial
    state, so the online form is the idempotent bucket re-roll."""
    from hdstats_spark.icelite import IceliteTable
    from hdstats_spark.operators.series import geomedian_mads_flat
    from hdstats_spark.schema import CHANNELS
    from hdstats_spark.streaming.stream import icelite_sink

    root = str(tmp_path / "comp_1m")
    tbl = IceliteTable(root)
    comp = IceliteTable(root + "_gm")
    sink = icelite_sink(spark, tbl, "src", None, None, comp, comp_buckets=4)

    tier = rollup_raw(channelize(transcripts), "1m")
    first_ids = [f"c{i:08d}" for i in range(10)]
    batches = [
        tier.filter(F.col("conv_id").isin(first_ids)),
        tier.filter(~F.col("conv_id").isin(first_ids)),
    ]
    assert batches[0].count() > 0 and batches[1].count() > 0
    sink(batches[0], 0)
    sink(batches[1], 1)
    rows_before = tbl.rows()
    sink(batches[1], 1)  # replay: 1m append skipped, composite self-repairs
    assert tbl.rows() == rows_before == tier.count()

    got = comp.read(spark).orderBy("conv_id").toPandas().reset_index(drop=True)
    expect = (
        geomedian_mads_flat(tbl.read(spark).drop("day"), CHANNELS, maxiters=20)
        .orderBy("conv_id").toPandas().reset_index(drop=True)
    )
    assert len(got) == len(expect) > 0
    pd.testing.assert_frame_equal(got, expect[got.columns], check_dtype=False)
    # every composite commit is an idempotent overwrite with bucket lineage
    snaps = comp.snapshots()
    assert snaps and all(
        s.operation == "overwrite" and "buckets" in s.lineage for s in snaps
    )


def test_streaming_composite_live_stream(spark, transcripts, tmp_path):
    """composite=True through a REAL running stream (not just the sink
    factory): after the stream drains, the _gm table equals the batch
    composite over exactly the 1m rows the stream committed — the flagship
    aggregate is streaming-fresh end-to-end."""
    from hdstats_spark.icelite import IceliteTable
    from hdstats_spark.operators.series import geomedian_mads_flat
    from hdstats_spark.schema import CHANNELS
    from hdstats_spark.streaming.stream import run_stream_to_icelite

    src = str(tmp_path / "arrivals_comp")
    ckpt = str(tmp_path / "ckpt_comp")
    root = str(tmp_path / "tier_1m_comp")
    transcripts.orderBy("ts").coalesce(2).write.mode("overwrite").parquet(src)
    parts = sorted(glob.glob(os.path.join(src, "part-*.parquet")))
    base = time.time()
    for i, p in enumerate(parts):
        os.utime(p, (base + i, base + i))

    q = run_stream_to_icelite(
        spark, src, ckpt, root, watermark="0 seconds",
        composite=True, composite_buckets=4,
    )
    try:
        deadline = time.time() + 180
        while time.time() < deadline:
            q.processAllAvailable()
            if not q.status["isDataAvailable"]:
                break
    finally:
        q.stop()

    m1 = IceliteTable(root).read(spark).drop("day")
    got = (
        IceliteTable(root + "_gm").read(spark)
        .orderBy("conv_id").toPandas().reset_index(drop=True)
    )
    expect = (
        geomedian_mads_flat(m1, CHANNELS, maxiters=20)
        .orderBy("conv_id").toPandas().reset_index(drop=True)
    )
    assert len(got) == len(expect) > 0
    pd.testing.assert_frame_equal(got, expect[got.columns], check_dtype=False)


def test_icelite_sink_cascade_composite_compaction_together(spark, transcripts, tmp_path):
    """All three sink features at once (cascade + composite + compact_every)
    across several micro-batches: the derived tables must equal their batch
    twins AND the maintenance pass (1m compaction, cascade+composite
    snapshot expiry) must not clobber or double-apply anything."""
    from hdstats_spark.icelite import IceliteTable
    from hdstats_spark.operators.rollup import rollup_cascade
    from hdstats_spark.operators.series import geomedian_mads_flat
    from hdstats_spark.schema import CHANNELS
    from hdstats_spark.streaming.stream import icelite_sink

    root = str(tmp_path / "all_1m")
    tbl = IceliteTable(root)
    casc = {"1h": IceliteTable(root + "_1h"), "1d": IceliteTable(root + "_1d")}
    comp = IceliteTable(root + "_gm")
    sink = icelite_sink(spark, tbl, "src", casc, 2, comp, comp_buckets=4)

    tier = rollup_raw(channelize(transcripts), "1m")
    ids = sorted(r["conv_id"] for r in tier.select("conv_id").distinct().collect())
    quarters = [ids[i::4] for i in range(4)]
    for b, q in enumerate(quarters):
        sink(tier.filter(F.col("conv_id").isin(q)), b)
    sink(tier.filter(F.col("conv_id").isin(quarters[3])), 3)  # replay last

    m1 = tbl.read(spark).drop("day")
    assert m1.count() == tier.count()
    for tier_name, t in (("1h", casc["1h"]), ("1d", casc["1d"])):
        got = t.read(spark).drop("day").orderBy("conv_id", "bucket").toPandas()
        finer = m1 if tier_name == "1h" else rollup_cascade(m1, "1h")
        expect = rollup_cascade(finer, tier_name).orderBy("conv_id", "bucket").toPandas()
        pd.testing.assert_frame_equal(
            got.reset_index(drop=True),
            expect[got.columns].reset_index(drop=True),
            check_dtype=False,
        )
    got = comp.read(spark).orderBy("conv_id").toPandas().reset_index(drop=True)
    expect = (
        geomedian_mads_flat(m1, CHANNELS, maxiters=20)
        .orderBy("conv_id").toPandas().reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, expect[got.columns], check_dtype=False)
    # maintenance really ran: the last expiry (after the 4th commit) left
    # <=4 snapshots and the replay adds at most one more overwrite; the 1m
    # chain still resolves after compaction commits
    for t in (*casc.values(), comp):
        assert len(t.snapshots()) <= 5
    assert tbl.rows() == tier.count()


def test_composite_reroll_prunes_to_touched_bucket_files(spark, transcripts, tmp_path):
    """r6: composite-mode appends are CLUSTERED on the gmb bucket key and
    the re-roll reads via where={'gmb': in touched}, so fmt-2 file stats
    prune the scan to the touched buckets' files — a micro-batch touching
    one bucket must read strictly fewer 1m files than the table holds,
    while the composite stays ≡ batch."""
    from hdstats_spark.icelite import IceliteTable
    from hdstats_spark.operators.series import geomedian_mads_flat
    from hdstats_spark.schema import CHANNELS
    from hdstats_spark.streaming.stream import icelite_sink

    B = 4
    root = str(tmp_path / "prune_1m")
    tbl = IceliteTable(root)
    comp = IceliteTable(root + "_gm")
    sink = icelite_sink(spark, tbl, "src", None, None, comp, comp_buckets=B)

    tier = rollup_raw(channelize(transcripts), "1m").cache()
    bcol = F.pmod(F.xxhash64("conv_id"), F.lit(B))
    # batch 0: every bucket; batch 1: conversations of ONE bucket only
    sink(tier, 0)
    one_bucket = tier.filter(bcol == 2)
    assert one_bucket.count() > 0
    sink(one_bucket, 1)
    scan = tbl.last_scan  # recorded by the re-roll's where= read
    assert scan["files_read"] < scan["files_considered"], scan
    # files are pure in gmb, so the touched-bucket read is ~1/B of the table
    assert scan["files_read"] <= scan["files_considered"] // 2
    got = comp.read(spark).orderBy("conv_id").toPandas().reset_index(drop=True)
    expect = (
        geomedian_mads_flat(tbl.read(spark).drop("day"), CHANNELS, maxiters=20)
        .orderBy("conv_id").toPandas().reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, expect[got.columns], check_dtype=False)
    tier.unpersist()


def test_streaming_repetition_stats_equals_batch(spark, tmp_path):
    """repetition_stats(method='maponly') is stateless per row, so it drops
    into readStream unchanged (the docstring's claim) — streamed metrics
    must equal the batch operator row-for-row across micro-batches."""
    import glob
    import os
    import time

    from hdstats_spark.operators.textstats import repetition_stats

    src = str(tmp_path / "docs_src")
    rows_a = [(1, "a b a b a b c d e f g h i j"), (2, "one two three four five six")]
    rows_b = [(3, "x x x x x x x x"), (4, "the quick brown fox jumps over dogs")]
    spark.createDataFrame(rows_a, ["doc_id", "text"]).coalesce(1).write.parquet(src)
    base = time.time()
    for p in glob.glob(os.path.join(src, "part-*.parquet")):
        os.utime(p, (base - 100, base - 100))
    spark.createDataFrame(rows_b, ["doc_id", "text"]).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = repetition_stats(stream)  # maponly default: no agg, no watermark
    q = (
        out.writeStream.format("memory")
        .queryName("rep_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "rep_ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            q.processAllAvailable()
            if not q.status["isDataAvailable"]:
                break
    finally:
        q.stop()

    batch = repetition_stats(spark.read.parquet(src))
    got = sorted(tuple(r) for r in spark.table("rep_stream").collect())
    want = sorted(tuple(r) for r in batch.collect())
    assert got == want and len(got) == 4
