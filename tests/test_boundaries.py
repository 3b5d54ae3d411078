"""Group-boundary hardening for the flat mapInArrow paths.

Round-2 verdict item: the flat paths used to detect series boundaries by
comparing xxhash64(conv_id) of adjacent rows — two *different* adjacent keys
with colliding hashes would be silently fused into one series (~3% chance of
one collision somewhere at 10^9 series).  The fix compares the key values
themselves (Arrow C++ bytewise compare); these tests pin that behaviour.
"""

import datetime

import numpy as np
import numpy.testing as npt
import pyarrow as pa
import pytest

from hdstats_spark.operators.series import key_change_mask
from hdstats_spark.schema import CHANNELS


def test_key_change_mask_exact():
    ids = pa.array(["a", "a", "ab", "ab", "ab", "b"])
    npt.assert_array_equal(
        key_change_mask(ids), [False, True, False, False, True]
    )


def test_key_change_mask_one_byte_diff():
    # equal-length keys differing in a single byte — the case a truncated or
    # colliding hash proxy would miss
    ids = pa.array(["conv_0001", "conv_0001", "conv_0002", "conv_0003"])
    npt.assert_array_equal(key_change_mask(ids), [False, True, True])


def test_key_change_mask_degenerate():
    assert key_change_mask(pa.array([], type=pa.string())).size == 0
    assert key_change_mask(pa.array(["x"])).size == 0
    npt.assert_array_equal(key_change_mask(pa.array(["x", "x"])), [False])


def test_key_change_mask_on_slices():
    ids = pa.array(["p", "q", "q", "r"]).slice(1)  # non-zero offset array
    npt.assert_array_equal(key_change_mask(ids), [False, True])


def test_no_hash_proxy_in_flat_paths():
    """Regression: boundary detection must read the key column, not a hash."""
    import inspect

    from hdstats_spark.compression import tiercodec
    from hdstats_spark.operators import series

    for fn in (series.geomedian_mads_prepared, tiercodec.compress_tier_flat):
        src = inspect.getsource(fn)
        assert "xxhash64" not in src, f"{fn.__name__} still hashes the key"
        assert "key_change_mask" in src


def _tiny_tier(spark, keys_and_lens):
    """Flat tier rows: each (key, n) becomes n minute buckets with
    deterministic per-key channel values."""
    rows = []
    t0 = datetime.datetime(2025, 1, 1)
    for k, n in keys_and_lens:
        base = float(sum(k.encode()) % 97)
        for i in range(n):
            rows.append(
                (k, t0 + datetime.timedelta(minutes=i))
                + tuple(base + j + 0.25 * i for j in range(len(CHANNELS)))
            )
    return spark.createDataFrame(rows, ["conv_id", "bucket", *CHANNELS])


@pytest.fixture(scope="module")
def adjacent_keys_tier(spark):
    # sorted-adjacent, equal-length, near-identical keys (plus a long tail so
    # multiple series land in one Arrow batch / partition)
    keys = [("conv_aaa", 7), ("conv_aab", 5), ("conv_aac", 9), ("zz_tail", 4)]
    df = _tiny_tier(spark, keys).cache()
    df.count()
    return df


def test_flat_geomedian_splits_adjacent_keys(adjacent_keys_tier):
    from hdstats_spark.operators.series import geomedian_mads_flat

    out = geomedian_mads_flat(adjacent_keys_tier, CHANNELS).toPandas()
    assert sorted(out.conv_id) == ["conv_aaa", "conv_aab", "conv_aac", "zz_tail"]
    ns = out.set_index("conv_id")["n"]
    assert ns["conv_aaa"] == 7 and ns["conv_aab"] == 5 and ns["conv_aac"] == 9


def test_flat_codec_splits_adjacent_keys(adjacent_keys_tier):
    from hdstats_spark.compression.tiercodec import (
        compress_tier_flat,
        decompress_tier_flat,
    )

    orig = adjacent_keys_tier.toPandas().sort_values(["conv_id", "bucket"])
    rt = (
        decompress_tier_flat(compress_tier_flat(adjacent_keys_tier, CHANNELS), CHANNELS)
        .toPandas()
        .sort_values(["conv_id", "bucket"])
    )
    assert list(rt.conv_id) == list(orig.conv_id)
    assert list(rt.bucket.dt.tz_localize(None)) == list(orig.bucket)
    for c in CHANNELS:
        npt.assert_allclose(
            rt[c].to_numpy(np.float64),
            orig[c].to_numpy(np.float32).astype(np.float64),
            rtol=0,
            atol=0,
        )


def test_flat_codec_subsecond_timestamps(spark):
    """Microsecond-epoch encoding round-trips sub-second buckets losslessly
    (the old seconds-based path truncated them)."""
    from hdstats_spark.compression.tiercodec import (
        compress_tier_flat,
        decompress_tier_flat,
    )

    t0 = datetime.datetime(2025, 1, 1)
    rows = [
        ("c1", t0 + datetime.timedelta(microseconds=250_000 * i))
        + tuple(float(i + j) for j in range(len(CHANNELS)))
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, ["conv_id", "bucket", *CHANNELS])
    rt = (
        decompress_tier_flat(compress_tier_flat(df, CHANNELS), CHANNELS)
        .toPandas()
        .sort_values("bucket")
    )
    got = rt.bucket.dt.tz_localize(None).tolist()
    want = [r[1] for r in rows]
    assert got == want


def test_session_concurrency_fanout_guard(spark, tmp_path):
    """The interval-explode fan-out is bounded by session length; a
    pathological always-active session beyond max_session_hours must raise
    LOUDLY (executor-side, non-prunable) instead of silently exploding or
    truncating, while in-bound sessions are unaffected."""
    import pandas as pd
    from pyspark.errors import SparkRuntimeException

    from hdstats_spark.driver_queries import q_session_concurrency

    base = datetime.datetime(2024, 1, 1)
    rows = []
    # user 1: one event every 20 min for 10 days -> ONE 240h session
    for i in range(10 * 24 * 3):
        rows.append((i, base + datetime.timedelta(minutes=20 * i), 1, "c", 1.0, "{}"))
    # user 2: two short sessions
    rows.append((90000, base, 2, "c", 1.0, "{}"))
    rows.append((90001, base + datetime.timedelta(hours=5), 2, "c", 1.0, "{}"))
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(tmp_path / "events.parquet")

    with pytest.raises(SparkRuntimeException, match="longer than 168h"):
        q_session_concurrency(spark, str(tmp_path)).collect()
    # raising the bound admits the long session and counts stay exact
    got = q_session_concurrency(spark, str(tmp_path), max_session_hours=400)
    m = {(r.user_id, r.session_idx): r.n_concurrent for r in got.collect()}
    assert m[(1, 1)] == 10 * 24 * 3 + 2  # user 1's 720 events + both of user 2's
