"""Tier-table block compression: long-format tier rows ⇄ multi-series
compressed blocks.

A block row holds the series of one Arrow batch: their conv_ids and
lengths, one delta-of-delta-encoded blob of bucket timestamps, and one
Gorilla-XOR-encoded blob per channel.  Encode is one mapInArrow pass over
key-partitioned, key-sorted rows; decode is one mapInPandas pass.  The codec
work is vectorized NumPy (gorilla.py): no Python loop over series or data
points on encode, one loop over blocks on decode.

The codec is on no write path: TierPipeline writes plain parquet, and only
the ``compression_roundtrip`` query leaf runs it.  On the sf0.1 1m tier the
blocks take 2.50 MB against 0.92 MB for parquet+zstd (ROADMAP.md).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.series import key_change_mask
from ..schema import CHANNELS
from .gorilla import (
    decode_dod_timestamps,
    decode_xor_floats,
    encode_dod_timestamps,
    encode_xor_floats,
)

# ts_blob format header: 2-byte magic + 1-byte version.  Version 2 = epoch
# MICROSECONDS (version 1 — epoch seconds — was never given a header; the
# r3 seconds→µs switch would otherwise be a silent on-disk break, decoding
# old blobs to timestamps 10^6× too small with no error).  An unversioned
# blob starts with its u32-LE element count, so misreading one as versioned
# would require a block of ≥ 0x025447·2^24 ≈ 39M points with an exact
# 3-byte match — rejected explicitly instead of decoded wrong.
_TS_MAGIC = b"\xd7T"
_TS_VER_US = 2


def _ts_encode_us(ts_us: np.ndarray) -> bytes:
    return _TS_MAGIC + bytes([_TS_VER_US]) + encode_dod_timestamps(ts_us)


def _ts_decode_us(blob: bytes) -> np.ndarray:
    b = bytes(blob)
    if b[:2] != _TS_MAGIC:
        raise ValueError(
            "unversioned ts_blob (pre-µs epoch-seconds format): re-encode "
            "with compress_tier_flat — refusing to decode as microseconds"
        )
    if b[2] != _TS_VER_US:
        raise ValueError(f"unsupported ts_blob version {b[2]}")
    return decode_dod_timestamps(b[3:])


def compress_tier_flat(
    tier_df: DataFrame,
    channels: Sequence[str] = CHANNELS,
    key_col: str = "conv_id",
    order_col: str = "bucket",
) -> DataFrame:
    """FLAT tier rows → multi-series block rows, with ZERO per-series Python.

    No collect_list shuffle and no encode call per series: rows are
    hash-partitioned on the series key and Tungsten-sorted by
    (key, bucket); each Arrow batch becomes ONE block:
    the whole batch's values are encoded in a single vectorized pass per
    channel (the XOR / delta-of-delta chains simply run across series
    boundaries — the boundary element falls back to the wide descriptor,
    which is lossless), and per-series extents are recorded as
    (conv_ids, ns) arrays so decode can re-split.  A series that spans two
    Arrow batches lands in two blocks; decode concatenates naturally since
    the long format is order-insensitive per (conv_id, bucket).
    """
    chans = list(channels)
    schema = (
        "conv_ids array<string>, ns array<int>, ts_blob binary, "
        + ", ".join(f"{c}_blob binary" for c in chans)
    )
    sc = tier_df.sparkSession.sparkContext
    par = sc.defaultParallelism
    prepared = (
        tier_df.select(
            key_col,
            # microsecond epoch (unix_micros) — lossless for sub-second
            # buckets and timezone-unambiguous on both sides
            F.unix_micros(F.col(order_col)).alias("_ts_us"),
            *[F.col(c).cast("float").cast("double").alias(c) for c in chans],
        )
        .repartition(par, key_col)
        .sortWithinPartitions(key_col, "_ts_us")
    )

    def gen(batches):
        import pyarrow as pa

        for rb in batches:
            if rb.num_rows == 0:
                continue
            names = rb.schema.names
            ids = rb.column(names.index(key_col))
            ts = rb.column(names.index("_ts_us")).to_numpy().astype(np.int64)
            # exact boundaries from the key values themselves (Arrow C++
            # compare) — a hash proxy could fuse two colliding adjacent series
            bounds = np.nonzero(key_change_mask(ids))[0] + 1
            starts = np.concatenate(([0], bounds))
            ns = np.diff(np.concatenate((starts, [rb.num_rows]))).astype(np.int32)
            out = {
                "conv_ids": pa.array([ids.take(pa.array(starts)).to_pylist()]),
                "ns": pa.array([ns]),
                "ts_blob": pa.array([_ts_encode_us(ts)], type=pa.binary()),
            }
            for c in chans:
                v = rb.column(names.index(c)).to_numpy(zero_copy_only=False)
                out[f"{c}_blob"] = pa.array([encode_xor_floats(v)], type=pa.binary())
            yield pa.RecordBatch.from_pydict(out)

    return prepared.mapInArrow(gen, schema)


def decompress_tier_flat(
    blocks_df: DataFrame, channels: Sequence[str] = CHANNELS
) -> DataFrame:
    """Multi-series block rows → long tier rows; one decode pass per block,
    re-split by the stored (conv_ids, ns) extents (vectorized repeat)."""
    chans = list(channels)
    schema = "conv_id string, bucket timestamp, " + ", ".join(f"{c} double" for c in chans)

    def gen(batches):
        for pdf in batches:
            for i in range(len(pdf)):
                ts = _ts_decode_us(pdf["ts_blob"].iloc[i])
                out = {
                    "conv_id": np.repeat(
                        np.asarray(pdf["conv_ids"].iloc[i], dtype=object),
                        np.asarray(pdf["ns"].iloc[i], dtype=np.int64),
                    ),
                    # utc=True: tz-aware datetimes are unambiguous through
                    # Arrow regardless of spark.sql.session.timeZone
                    "bucket": pd.to_datetime(ts, unit="us", utc=True),
                }
                for c in chans:
                    out[c] = decode_xor_floats(pdf[f"{c}_blob"].iloc[i])
                yield pd.DataFrame(out)

    return blocks_df.mapInPandas(gen, schema)
