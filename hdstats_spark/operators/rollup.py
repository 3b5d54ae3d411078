"""Tier rollups: raw → 1m → 1h → 1d continuous aggregates.

Engine analogue of the reference's time-axis reductions: each tier is one
hash-aggregate ``groupBy(conv_id, date_trunc(unit, ts))`` whose channels are
all algebraic (counts and sums), so

  * Catalyst plans them as partial (map-side) + final aggregation — hot
    conversations never concentrate pre-aggregation rows on one reducer;
  * coarser tiers re-aggregate from the next finer tier (sums of sums), which
    is how a 10^12-turn backfill avoids rescanning raw data;
  * means/rates are derived at query time from the sums, never stored.

The rollup→re-rollup identity (1h from 1m ≡ 1h from raw) is the engine's
composability invariant, tested in tests/test_rollup.py and against the
DuckDB oracle via __spark_entry__.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import CHANNELS, TIERS


def _sum_channel(role: str, measure: str):
    return F.sum(F.when(F.col("role") == role, F.col(measure)).otherwise(F.lit(0)))


def rollup_raw(channelized: DataFrame, tier: str = "1m") -> DataFrame:
    """Aggregate per-turn rows into (conv_id, bucket) channel sums."""
    unit = TIERS[tier]
    return channelized.groupBy(
        "conv_id", F.date_trunc(unit, F.col("ts")).alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("turn_rate"),
        _sum_channel("user", "tokens").alias("tokens_user"),
        _sum_channel("assistant", "tokens").alias("tokens_assistant"),
        _sum_channel("tool", "tokens").alias("tokens_tool"),
        _sum_channel("user", "chars").alias("chars_user"),
        _sum_channel("assistant", "chars").alias("chars_assistant"),
        _sum_channel("tool", "chars").alias("chars_tool"),
        F.sum("is_tool_call").alias("tool_calls"),
    )


def rollup_cascade(finer: DataFrame, tier: str) -> DataFrame:
    """Re-aggregate a finer tier into a coarser one — all channels are sums,
    so the cascade is exact (no raw rescan needed)."""
    unit = TIERS[tier]
    aggs = [F.sum(c).alias(c) for c in CHANNELS]
    return finer.groupBy(
        "conv_id", F.date_trunc(unit, F.col("bucket")).alias("bucket")
    ).agg(*aggs)
