"""Gap-fill: dense per-series bucket grids + `completion` semantics.

Engine analogue of the reference's ``completion`` gap-fill
(/root/reference/hdstats/tsslow.py:10-26): forward-fill each series along
time, then fill residual *leading* holes with the per-series mean of the
forward-filled series.  Expressed entirely with built-in window functions —
``last(ignorenulls)`` over an unbounded-preceding frame is the running-max
index gather of the reference, and a partition-wide ``avg`` of the filled
column is its nanmean backfill — so the whole operator stays in the JVM.

Scale note: both windows partition by ``conv_id`` only, so a single shuffle
on the series key serves densify + fill + every downstream per-series kernel
(co-partitioned reuse, SURVEY.md §3.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..schema import CHANNELS, TIERS

_UNIT_SECONDS = {"minute": 60, "hour": 3600, "day": 86400}


def densify(tier_df: DataFrame, tier: str = "1m", channels=CHANNELS) -> DataFrame:
    """Expand each conversation to a dense bucket grid between its own first
    and last bucket; missing buckets carry NULL channels.  Adds ``t``, the
    0-based bucket index — the engine's time-axis index (reference stacks
    align series by array position, SURVEY.md §1.2)."""
    step = _UNIT_SECONDS[TIERS[tier]]
    bounds = tier_df.groupBy("conv_id").agg(
        F.min("bucket").alias("b0"), F.max("bucket").alias("b1")
    )
    grid = bounds.select(
        "conv_id",
        F.explode(
            F.sequence("b0", "b1", F.expr(f"INTERVAL {step} SECONDS"))
        ).alias("bucket"),
        "b0",
    ).select(
        "conv_id",
        "bucket",
        ((F.unix_timestamp("bucket") - F.unix_timestamp("b0")) / step)
        .cast("int")
        .alias("t"),
    )
    return grid.join(tier_df, ["conv_id", "bucket"], "left")


def completion(dense_df: DataFrame, channels=CHANNELS) -> DataFrame:
    """Reference ``completion``: forward-fill, then mean-backfill leading
    holes.  NULL ↔ NaN at the Arrow boundary."""
    w_ffill = (
        Window.partitionBy("conv_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("conv_id")
    out = dense_df.select(
        *[c for c in dense_df.columns if c not in channels],
        *[F.last(F.col(c), ignorenulls=True).over(w_ffill).alias(c) for c in channels],
    )
    return out.select(
        *[c for c in out.columns if c not in channels],
        *[F.coalesce(F.col(c), F.avg(c).over(w_all)).alias(c) for c in channels],
    )

