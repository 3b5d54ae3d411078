"""Streaming 1m tier: transcripts stream → watermarked tumbling-window
continuous aggregate, committed to icelite per micro-batch.

The batch engine treats late turns by re-rolling day partitions
(TierPipeline.reroll_days); this surface handles them online instead:
`withWatermark(ts, …)` bounds state, a 1-minute tumbling `window()` produces
the same channel sums as rollup_raw, and the sink is append-mode so each
bucket is emitted exactly once when its watermark passes.
``run_stream_to_icelite`` drives it into a foreachBatch sink
(``icelite_sink``) that makes each micro-batch an icelite append commit and
can keep the 1h/1d tiers and the geomedian composite current.

The aggregation expressions are shared with the batch path (same semantics,
one definition — rollup channels), so streamed buckets equal batch buckets
for on-time data (tested in tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.channels import channelize
from ..schema import TRANSCRIPT_SCHEMA


def stream_transcripts_from_dir(spark: SparkSession, path: str, max_files: int = 1) -> DataFrame:
    """File-based transcript stream (each new parquet file = one micro-batch
    of arriving turns)."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def streaming_rollup_1m(transcripts_stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Watermarked 1-minute tumbling rollup with the batch tier's channels."""
    ch = channelize(transcripts_stream)
    agg = (
        ch.withWatermark("ts", watermark)
        .groupBy(F.col("conv_id"), F.window("ts", "1 minute").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("turn_rate"),
            F.sum(F.when(F.col("role") == "user", F.col("tokens")).otherwise(0)).alias("tokens_user"),
            F.sum(F.when(F.col("role") == "assistant", F.col("tokens")).otherwise(0)).alias("tokens_assistant"),
            F.sum(F.when(F.col("role") == "tool", F.col("tokens")).otherwise(0)).alias("tokens_tool"),
            F.sum(F.when(F.col("role") == "user", F.col("chars")).otherwise(0)).alias("chars_user"),
            F.sum(F.when(F.col("role") == "assistant", F.col("chars")).otherwise(0)).alias("chars_assistant"),
            F.sum(F.when(F.col("role") == "tool", F.col("chars")).otherwise(0)).alias("chars_tool"),
            F.sum("is_tool_call").alias("tool_calls"),
        )
    )
    return agg.select("conv_id", F.col("w.start").alias("bucket"), *[c for c in agg.columns if c not in ("conv_id", "w")])


def run_stream_to_icelite(
    spark: SparkSession, src_dir: str, checkpoint: str, table_root: str,
    watermark: str = "10 minutes", compact_every: int | None = None,
    cascade: bool = False, composite: bool = False, composite_buckets: int = 16,
):
    """Production sink shape: each micro-batch of finalized 1m buckets is an
    icelite APPEND commit carrying the micro-batch id as lineage — the
    streaming half of the checkpoint/lineage contract (exactly-once up to
    foreachBatch reprocessing; the batch engine's reroll path reconciles
    replays, and appends within one stream are idempotent per restart
    because the streaming checkpoint gates batch ids).

    ``compact_every=N`` folds table maintenance into the sink: after every
    N commits, partitions that have accumulated more files than commits/2
    are rewritten via compact_partition (conflict-skipping, so a concurrent
    batch writer is never clobbered) — without this, one file lands per
    micro-batch per day-partition and scan parallelism degrades into a
    tiny-file storm over ~10⁵ micro-batches.

    ``cascade=True`` keeps the COARSER tiers continuously current too: after
    each 1m append, the day partitions the micro-batch touched are re-rolled
    from the 1m table into sibling ``<table_root>_1h`` / ``<table_root>_1d``
    tables via idempotent overwrite-by-partition.  This is deliberately NOT
    a chain of streaming aggregations (Spark restricts chained stateful
    aggs in append mode, and a second watermark would double the coarse
    tiers' latency); it is the batch reroll primitive applied per
    micro-batch, so a late 1m bucket automatically repairs its day's 1h/1d
    partitions on the next touch.  Replay safety: a foreachBatch replay
    (crash between the 1m commit and the streaming checkpoint) is detected
    by the micro_batch lineage of the recent 1m commits — the duplicate 1m
    APPEND is skipped, and the cascade re-roll simply re-runs (it reads the
    committed 1m table, so it is idempotent by construction).  Cost per
    micro-batch is bounded by the touched days' partitions (manifest-pruned
    reads; the 1d roll reads the just-committed 1h partitions rather than
    re-aggregating 1m).  With ``compact_every`` set, the cascade tables'
    superseded snapshots/files are expired on the same cadence (they are
    derived state — deep time travel lives in the 1m table).

    ``composite=True`` keeps the FLAGSHIP aggregate — the per-conversation
    geometric-median + MAD composite (geomedian_mads_flat, the same kernel
    and tier config as the batch pipeline's with_composite) — continuously
    current in a sibling ``<table_root>_gm`` table.  The geometric median is
    not a decomposable aggregate (no partial state can be merged), so the
    online form is a per-micro-batch RE-ROLL of the touched conversations
    from their full committed 1m history: conversations are hash-bucketed
    into ``composite_buckets`` partitions (pmod(xxhash64(conv_id), B)), the
    micro-batch's touched buckets are recomputed whole and committed via
    idempotent overwrite-by-partition — replays and late buckets self-repair
    exactly like the relational cascade.  Cost per micro-batch is the
    touched buckets' full 1m history (inherent to the kernel's semantics —
    each re-rolled series needs all its rows); at scale the 1m table would
    additionally be clustered by the same bucket key so the re-roll scan
    prunes to touched buckets instead of filtering a full scan."""
    from ..icelite import IceliteTable

    tbl = IceliteTable(table_root)
    casc = (
        {"1h": IceliteTable(table_root + "_1h"), "1d": IceliteTable(table_root + "_1d")}
        if cascade
        else None
    )
    comp = IceliteTable(table_root + "_gm") if composite else None
    out = streaming_rollup_1m(stream_transcripts_from_dir(spark, src_dir), watermark)
    sink = icelite_sink(spark, tbl, src_dir, casc, compact_every, comp, composite_buckets)
    return (
        out.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .start()
    )


def icelite_sink(spark, tbl, src_dir, casc, compact_every, comp=None, comp_buckets=16):
    """Build the foreachBatch sink (factory, so replay semantics are
    directly testable outside a running stream)."""
    from ..operators.rollup import rollup_cascade
    from ..operators.series import geomedian_mads_flat
    from ..schema import CHANNELS

    commits = {"n": 0}

    def already_committed(batch_id: int) -> bool:
        """foreachBatch replays only the last unacknowledged batch.  Walk the
        commit chain newest-first until a commit carries replay evidence:
        an append's ``micro_batch`` decides definitively (appends land in
        batch order), and a compact commit's ``after_batch`` ≥ batch_id also
        proves the append committed (compaction only runs after the append
        it trails).  No fixed walk depth: a maintenance round can land one
        compact commit per touched day-partition (a wide backfill lands
        many), and a fixed-8 walk buried the append under them — every 1m
        append carries micro_batch, so the walk is bounded by the
        maintenance commits since the last append in practice; lineage-only
        loads (``_load_raw``) keep each step O(1), no manifest resolution."""
        sid = tbl.current_snapshot_id()
        for _ in range(10_000):  # defensive bound: a foreign chain with no
            if sid is None:  # lineage at all terminates via parent walk
                return False
            s = tbl._load_raw(sid)
            mb = s.lineage.get("micro_batch")
            if mb is not None:
                return int(mb) >= batch_id
            ab = s.lineage.get("after_batch")
            if ab is not None and int(ab) >= batch_id:
                return True
            sid = s.parent_id
        return False

    bcol = F.pmod(F.xxhash64("conv_id"), F.lit(comp_buckets))

    def sink(batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        day = F.date_format("bucket", "yyyy-MM-dd")
        if not already_committed(int(batch_id)):
            if comp is not None:
                # composite mode: persist the bucket key and CLUSTER the
                # write on it (repartition by gmb, then write as-is) — every
                # data file then spans exactly one bucket, so fmt-2 file
                # stats make the re-roll's read(where gmb IN touched) skip
                # the untouched buckets' files instead of full-scanning the
                # table and filtering (the at-scale clustering the sink
                # docstring promises, now real)
                write_df = (
                    batch_df.withColumn("gmb", bcol)
                    .withColumn("day", day)
                    # RANGE partitioning: disjoint per-file gmb ranges (hash
                    # would collide distinct buckets into shared files and
                    # blunt the min/max skipping)
                    .repartitionByRange(comp_buckets, "gmb")
                )
                cluster = "asis"
            else:
                write_df, cluster = batch_df.withColumn("day", day), "roundrobin"
            snap = tbl.append(
                write_df,
                "day",
                cluster=cluster,
                lineage={"micro_batch": int(batch_id), "source": src_dir},
            )
            # the appended partitions ARE the touched days — no second
            # evaluation of the micro-batch just to rediscover them
            days = sorted(snap.delta["parts"].keys())
        elif casc is not None or comp is not None:
            # replayed batch: the 1m rows are already committed; the
            # idempotent re-rolls below repair the derived tiers.  Touched
            # days are re-derived from the micro-batch only when the
            # cascade needs them (the composite collects its own buckets —
            # evaluating the batch here too would be a wasted Spark job)
            days = (
                [r["day"] for r in batch_df.select(day.alias("day")).distinct().collect()]
                if casc is not None
                else None
            )
        else:
            return
        if casc is not None:
            m1 = tbl.read(spark, partitions=days).drop("day")
            casc["1h"].overwrite_partitions(
                rollup_cascade(m1, "1h").withColumn("day", day), "day", cluster="bypart",
                lineage={"micro_batch": int(batch_id), "from": "1m", "days": days},
            )
            # roll 1d from the just-committed 1h partitions: re-running the
            # lazy 1h plan would scan + aggregate the 1m files a second time
            h1 = casc["1h"].read(spark, partitions=days).drop("day")
            casc["1d"].overwrite_partitions(
                rollup_cascade(h1, "1d").withColumn("day", day), "day", cluster="bypart",
                lineage={"micro_batch": int(batch_id), "from": "1h", "days": days},
            )
        if comp is not None:
            # flagship composite re-roll: the geometric median has no
            # mergeable partial state, so touched conversations are
            # recomputed from their FULL committed 1m history, whole hash
            # buckets at a time (idempotent overwrite-by-partition — replays
            # and late buckets self-repair like the relational cascade).
            # The 1m files are clustered on gmb at write time (above), so
            # the where= pushdown prunes the scan to the touched buckets'
            # FILES via fmt-2 stats — O(touched/total) of the table read,
            # not a full scan with a residual filter
            touched = sorted(
                r["gmb"]
                for r in batch_df.select(bcol.alias("gmb")).distinct().collect()
            )
            part = tbl.read(spark, where={"gmb": ("in", touched)}).drop("day")
            comp_df = geomedian_mads_flat(part, CHANNELS, maxiters=20).withColumn(
                "gmb", bcol
            )
            comp.overwrite_partitions(
                comp_df, "gmb", cluster="bypart",
                lineage={"micro_batch": int(batch_id), "from": "1m",
                         "buckets": [int(b) for b in touched]},
            )
        commits["n"] += 1
        if compact_every and commits["n"] % compact_every == 0:
            snap = tbl.snapshot()
            for value, m in snap.partitions.items():
                if len(m["files"]) > max(2, compact_every // 2):
                    # composite mode compacts INTO the bucket clustering
                    # (one file per gmb bucket) so the re-roll's file
                    # skipping survives maintenance; plain mode keeps the
                    # single-file coalesce
                    tbl.compact_partition(
                        spark, "day", value,
                        target_files=comp_buckets if comp is not None else 1,
                        cluster_col="gmb" if comp is not None else None,
                        lineage={"compacted": value, "after_batch": int(batch_id)},
                    )
            # cascade/composite tables are derived state: per-micro-batch
            # overwrite commits would otherwise grow metadata + superseded
            # files without bound over ~10^5 batches
            for c in list(casc.values()) if casc is not None else []:
                c.expire_snapshots(keep_last=4)
            if comp is not None:
                comp.expire_snapshots(keep_last=4)

    return sink
