"""Batched kernels ≡ per-pixel oracle, including NaN-padding neutrality."""

import numpy as np
import numpy.testing as npt
import pytest

import hdstats_oracle as hdo
from hdstats_oracle.geomedian import _nangeomedian_axis_one
from hdstats_spark.kernels_np import mads_batch, nangeomedian_batch, pad_stack


def _random_series(rng, p=8, nmin=3, nmax=60, count=40):
    out = []
    for _ in range(count):
        n = int(rng.integers(nmin, nmax))
        s = (0.2 + 0.1 * rng.standard_normal((p, n))).astype(np.float32)
        if rng.random() < 0.3:  # sprinkle NaN observations
            holes = rng.integers(0, n, size=max(1, n // 5))
            s[:, holes] = np.nan
        out.append(s)
    return out


def test_batch_equals_serial_unpadded():
    rng = np.random.default_rng(0)
    series = [s for s in _random_series(rng, count=30)]
    X, lens = pad_stack(series)
    got = nangeomedian_batch(X, lengths=lens)
    for i, s in enumerate(series):
        expect = _nangeomedian_axis_one(s)
        npt.assert_array_equal(got[i], expect)  # bit-identical


def test_padding_is_neutral():
    rng = np.random.default_rng(1)
    s = (0.5 + 0.1 * rng.standard_normal((8, 20))).astype(np.float32)
    X1, l1 = pad_stack([s])
    X2, l2 = pad_stack([s, s[:, :5]])  # forces padding of the 5-col series
    a = nangeomedian_batch(X1, lengths=l1)[0]
    b = nangeomedian_batch(X2, lengths=l2)[0]
    npt.assert_array_equal(a, b)


def test_constant_series_stall():
    """All-anchor (constant) series must return the constant, not oscillate —
    the padded-stall regression (geomedian.pyx:353 nzeros==n semantics)."""
    const = np.full((8, 6), 3.5, dtype=np.float32)
    longer = np.random.default_rng(2).normal(0.5, 0.1, (8, 30)).astype(np.float32)
    X, lens = pad_stack([const, longer])
    got = nangeomedian_batch(X, lengths=lens)
    npt.assert_array_equal(got[0], np.full(8, 3.5, np.float32))
    npt.assert_array_equal(got[1], _nangeomedian_axis_one(longer))


def test_mads_batch_equals_oracle():
    rng = np.random.default_rng(3)
    series = _random_series(rng, count=20)
    X, lens = pad_stack(series)
    gm = nangeomedian_batch(X, lengths=lens)
    mads = mads_batch(X, gm)
    for i, s in enumerate(series):
        s4 = s[None, None, :, :]
        g3 = gm[i][None, None, :]
        npt.assert_allclose(mads["emad"][i], hdo.emad_pcm(s4, g3)[0, 0], rtol=1e-4, atol=1e-4)
        npt.assert_allclose(mads["smad"][i], hdo.smad_pcm(s4, g3)[0, 0], rtol=1e-4, atol=1e-4)
        npt.assert_allclose(mads["bcmad"][i], hdo.bcmad_pcm(s4, g3)[0, 0], rtol=1e-4, atol=1e-4)


def test_dtw_batch_equals_serial():
    """Wavefront DTW ≡ serial DP, full and banded, incl the reference
    golden pair."""
    from hdstats_spark.kernels_np import dtw_dist_batch
    from tests.fixtures import DTW_X, DTW_Y

    rng = np.random.default_rng(7)
    n = 24
    ref = rng.normal(0.5, 0.2, n)
    X = rng.normal(0.5, 0.2, (12, n))
    got = dtw_dist_batch(X, ref)
    got_b = dtw_dist_batch(X, ref, window=4)
    for g in range(12):
        exact = hdo.dtw_dist(ref.reshape(-1, 1), X[g].reshape(-1, 1))
        npt.assert_array_equal(got[g], np.float32(exact))
        banded = hdo.local_dtw(ref.reshape(-1, 1), X[g].reshape(-1, 1), 4)[0]
        npt.assert_array_equal(got_b[g], np.float32(banded))
    # reference golden: dist(x, y) = 0.2 (tests/test_dtw.py:8-44)
    d = dtw_dist_batch(DTW_Y.ravel()[None, :], DTW_X.ravel())
    npt.assert_almost_equal(d[0], 0.2)
    # mixed lengths exercise the short-series fallback
    lens = np.array([n, n - 5])
    X2 = np.stack([X[0], np.pad(X[1][: n - 5], (0, 5))])
    got2 = dtw_dist_batch(X2, ref, lengths=lens)
    exact_short = hdo.dtw_dist(ref[: n - 5].reshape(-1, 1), X[1][: n - 5].reshape(-1, 1))
    npt.assert_array_equal(got2[1], np.float32(exact_short))


def test_dtw_rolling_equals_full_fill():
    """The O(G·n)-memory rolling-diagonal distance kernel is bit-identical
    to the full (G, n+1, n+1) fill at EVERY window width 0..n and None."""
    from hdstats_spark.kernels_np import _dtw_dist_rolling, _dtw_fill_batch

    rng = np.random.default_rng(23)
    for n in (1, 2, 7, 33):
        ref = rng.normal(0.5, 0.2, n).astype(np.float32)
        X = rng.normal(0.5, 0.2, (9, n)).astype(np.float32)
        for w in [None] + list(range(0, n + 2)):
            full = _dtw_fill_batch(X, ref, w)[:, n, n] / np.float32(2 * n)
            roll = _dtw_dist_rolling(X, ref, w)
            npt.assert_array_equal(roll, full)


def test_dtw_band_storage_equals_full():
    """Band-compact DP storage (2w+3 columns/row) yields bit-identical
    distances AND paths to the full bordered tensor at every window width —
    including the widths where dtw_path_batch falls back to full storage."""
    from hdstats_spark import kernels_np
    from hdstats_spark.kernels_np import dtw_path_batch

    rng = np.random.default_rng(31)
    n, G = 29, 11
    ref = rng.normal(0.5, 0.2, n).astype(np.float32)
    X = rng.normal(0.5, 0.2, (G, n)).astype(np.float32)
    for w in range(0, n + 1):
        got = dtw_path_batch(X, ref, window=w)
        # force the full-tensor path by disabling the band branch
        full_D = kernels_np._dtw_fill_batch(X, ref, w)
        band_B = kernels_np._dtw_fill_band(X, ref, w)
        # every in-band cell agrees between the two layouts
        for i in range(n + 1):
            lo, hi = max(0, i - w), min(n, i + w)
            jj = np.arange(lo, hi + 1)
            npt.assert_array_equal(band_B[:, i, jj - i + w + 1], full_D[:, i, jj])
        # and the public API agrees with a wide-window (full-storage) rerun
        # only when the band truly covers the grid; otherwise check vs serial
        dist, plens, ii, jj2 = got
        npt.assert_array_equal(dist, full_D[:, n, n] / np.float32(2 * n))


def test_dtw_path_batch_equals_optimalpath():
    """Lockstep vectorized backtrack ≡ the serial greedy optimalpath —
    bit-equal paths AND distances, full and banded (incl window=0), on the
    reference golden pair and a random batch."""
    from hdstats_spark.kernels_np import dtw_path_batch
    from tests.fixtures import DTW_X, DTW_Y

    # reference golden (tests/test_dtw.py): dist 0.2 + exact path
    d, plens, ii, jj = dtw_path_batch(
        DTW_Y.ravel()[None, :].astype(np.float32), DTW_X.ravel().astype(np.float32)
    )
    ds, _D, ps = hdo.dtw(DTW_X, DTW_Y)
    npt.assert_almost_equal(d[0], 0.2)
    npt.assert_array_equal(ii[: plens[0]], ps[0])
    npt.assert_array_equal(jj[: plens[0]], ps[1])

    rng = np.random.default_rng(11)
    n, G = 31, 17
    ref = rng.normal(0.5, 0.2, n).astype(np.float32)
    X = rng.normal(0.5, 0.2, (G, n)).astype(np.float32)
    for w in (None, 0, 3, 8):
        dist, plens, ii, jj = dtw_path_batch(X, ref, window=w)
        off = 0
        for g in range(G):
            a = ref.astype(np.float64).reshape(-1, 1)
            b = X[g].astype(np.float64).reshape(-1, 1)
            ds, _D, ps = hdo.dtw(a, b) if w is None else hdo.local_dtw(a, b, w)
            L = int(plens[g])
            npt.assert_array_equal(dist[g], np.float32(ds))
            npt.assert_array_equal(ii[off : off + L], ps[0])
            npt.assert_array_equal(jj[off : off + L], ps[1])
            off += L
    # MIXED LENGTHS on one padded grid: distances read at each series' own
    # corner, backtracks start at its own (L-1, L-1) — bit-equal to the
    # serial kernels on the unpadded prefixes (incl. banded storage, w=0)
    lens = np.array([n, n - 5, n - 1, 7, 1], dtype=np.int64)
    Xm = np.zeros((len(lens), n), dtype=np.float32)
    for g, L in enumerate(lens):
        Xm[g, :L] = rng.normal(0.5, 0.2, int(L)).astype(np.float32)
    for w in (None, 0, 3, 8):
        dist, plens, ii, jj = dtw_path_batch(Xm, ref, window=w, lengths=lens)
        off = 0
        for g, L in enumerate(lens):
            a = ref[: int(L)].astype(np.float64).reshape(-1, 1)
            b = Xm[g, : int(L)].astype(np.float64).reshape(-1, 1)
            ds, _D, ps = hdo.dtw(a, b) if w is None else hdo.local_dtw(a, b, w)
            P = int(plens[g])
            npt.assert_array_equal(dist[g], np.float32(ds))
            npt.assert_array_equal(ii[off : off + P], ps[0])
            npt.assert_array_equal(jj[off : off + P], ps[1])
            off += P


def test_fourier_batch_equals_oracle():
    rng = np.random.default_rng(8)
    X = rng.normal(0.5, 0.2, (20, 40)).astype(np.float32)
    from hdstats_spark.kernels_np import fourier_batch

    got = fourier_batch(X, n=3, step=5)
    stack = X[:, None, :]  # (y, x=1, n) reference layout
    o_mean = hdo.fourier_mean(stack, n=3, step=5)
    o_std = hdo.fourier_std(stack, n=3, step=5)
    o_med = hdo.fourier_median(stack, n=3, step=5)
    for k in range(3):
        npt.assert_allclose(got[f"fmean_{k}"], o_mean[:, 0, k], rtol=1e-4, atol=1e-4)
        npt.assert_allclose(got[f"fstd_{k}"], o_std[:, 0, k], rtol=1e-4, atol=1e-4)
        npt.assert_allclose(got[f"fmedian_{k}"], o_med[:, 0, k], rtol=1e-4, atol=1e-4)


def test_discordance_batch_equals_oracle():
    rng = np.random.default_rng(9)
    X = rng.normal(0.5, 0.2, (16, 36)).astype(np.float32)
    from hdstats_spark.kernels_np import discordance_batch

    stack = X[:, None, :]
    expect = hdo.discordance(stack, n=5)[:, 0]
    # reproduce the reference's area low-pass (|ifft|) exactly as q_discordance does
    curve = stack.mean(axis=(0, 1)).astype(np.float32)
    Y = np.fft.fft(curve)
    Y[5:] = 0.0
    area_lp = np.abs(np.fft.ifft(Y)).astype(np.float32)
    got = discordance_batch(X, area_lp, n=5)
    npt.assert_allclose(got, expect, rtol=1e-3, atol=1e-4)


def test_batch_handles_many_series():
    """Capacity sanity: 300 mixed-length series in one call, results equal
    serial on a sample.  (Throughput comparisons live in BENCH/: the batched
    win shows on long oscillating series, not short random ones.)"""
    rng = np.random.default_rng(4)
    series = _random_series(rng, count=300, nmin=20, nmax=120)
    X, lens = pad_stack(series)
    got = nangeomedian_batch(X, lengths=lens)
    for i in (0, 150, 299):
        npt.assert_array_equal(got[i], _nangeomedian_axis_one(series[i]))


def _step_series(rng, n, types=5):
    """Piecewise-constant hourly event channels, as a gap-filled event tier
    holds them: per-type counts, the 2-dp value sum and max, the event
    count.  Integer channels like these often lock Weiszfeld into a float32
    cycle instead of meeting eps."""
    cuts = np.sort(rng.choice(np.arange(1, n), size=rng.integers(3, 12), replace=False))
    X = np.empty((types + 3, n), np.float32)
    for a, b in zip(np.r_[0, cuts], np.r_[cuts, n]):
        m = 1 + rng.poisson(0.4)
        v = np.round(rng.exponential(50.0, m), 2)
        X[:types, a:b] = np.bincount(rng.integers(0, types, m), minlength=types)[:, None]
        X[types:, a:b] = np.array([v.sum(), v.max(), m], np.float32)[:, None]
    return X


def _period(s, start=180, span=36):
    """Least period of the serial iterates y_start … y_{start+span-1}, read
    off the oracle's output at each maxiters (1: converged), or None."""
    ys = [hdo.nangeomedian(s, maxiters=m).tobytes() for m in range(start, start + span)]
    return next(
        (P for P in range(1, span // 2 + 1) if ys[P:] == ys[: span - P]), None
    )


def test_cycle_exit_matches_serial():
    """Four series cycle with periods 3, 4, 5 and 18, from iterations 49–178;
    the others converge at different steps, so the active set shrinks while
    the cycles run.  The cycle exit must emit the very iterate the serial
    loop holds when maxiters runs out, for either parity of maxiters and for
    a maxiters that ends a few steps after two of the cycles are found.
    Equal lengths: no padding, so every sum runs in the serial order."""
    rng = np.random.default_rng(6)
    series = [_step_series(rng, 120) for _ in range(12)]
    assert sorted(P for P in map(_period, series) if P > 1) == [3, 4, 5, 18]
    X, lens = pad_stack(series)
    for maxiters in (1000, 999, 61):
        got = nangeomedian_batch(X, maxiters=maxiters, lengths=lens)
        for i, s in enumerate(series):
            npt.assert_array_equal(got[i], hdo.nangeomedian(s, maxiters=maxiters))
