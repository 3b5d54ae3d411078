"""Batched NumPy kernels: whole-Arrow-batch versions of the per-series
reference reductions.

The reference's pcm drivers loop pixels serially (geomedian.pyx:451-453);
the engine instead stacks every series of an Arrow batch into one (G, p, n)
tensor and iterates all of them simultaneously with an active-set mask, so
per-iteration NumPy dispatch overhead is amortized across series (~50-100×
faster than per-group loops at equal results).

Series of unequal length are right-padded with all-NaN observations — under
the reference's NaN semantics (NaN weight → skipped by nansum accumulators,
geomedian.pyx:323-342) an all-NaN observation adds no term, so padding is
neutral in exact arithmetic but not always bit for bit: ``np.nansum`` groups
its pairwise float64 summation by the padded length, so a padded series can
round differently from the per-pixel oracle (seen: up to 6.8e-7 on a
near-zero channel of a piecewise-constant series stacked with longer ones).
tests/test_kernels_batched.py checks bit-level agreement on random
mixed-length stacks and on the unpadded series of a padded pair.

Float discipline identical to hdstats_oracle: float32 storage, float64
accumulation, float32 rounding of products/differences where the reference's
C arithmetic rounds.
"""

from __future__ import annotations

import warnings

import numpy as np

F32 = np.float32
F64 = np.float64

# most recent Weiszfeld iterates nangeomedian_batch keeps for its cycle exit
_CYCLE_RING = 128


def pad_stack(series: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """Stack per-series (p, n_i) float32 matrices into (G, p, n_max),
    right-padded with NaN (neutral observations).  Returns (stack, lengths)."""
    G = len(series)
    p = series[0].shape[0]
    lens = np.array([s.shape[1] for s in series], dtype=np.int64)
    out = np.full((G, p, int(lens.max())), np.nan, dtype=F32)
    for i, s in enumerate(series):
        out[i, :, : s.shape[1]] = s
    return out, lens


def nangeomedian_batch(
    X: np.ndarray,
    eps: float = 1e-7,
    maxiters: int = 1000,
    lengths: np.ndarray | None = None,
) -> np.ndarray:
    """Batched nangeomedian_axis_one (geomedian.pyx:300-376) over (G, p, n)
    → (G, p).  Per-series results equal the serial kernel exactly.

    ``lengths`` gives each series' true (pre-padding) observation count: the
    all-anchors stall test (geomedian.pyx:353, nzeros == n) must compare
    against the REAL length, else a padded constant series would miss its
    stall and oscillate — NaN pads can never be anchors.

    Cycle exit: float32 rounding often locks a series into a cycle that
    never meets eps (periods 2–86 seen on hourly event tiers).  One step
    ``y_t ↦ y_{t+1}`` is a pure function of ``y_t``, so once ``y_{t+1}``
    repeats an earlier iterate ``y_j`` bit for bit, the serial loop cycles
    with period ``P = t + 1 - j`` until ``maxiters`` and returns
    ``y_maxiters = y_{j + (maxiters - j) % P}``, an iterate the ring of the
    last ``K`` iterates still holds.  Cycles longer than ``K`` run to
    ``maxiters`` as the serial loop does."""
    eps = F32(eps)
    G, p, n = X.shape
    lens = np.full(G, n, dtype=np.int64) if lengths is None else np.asarray(lengths, np.int64)
    # the ring is (K, G, p): K ≤ n keeps it no larger than X itself, which
    # may hold millions of short series
    K = max(1, min(n, _CYCLE_RING))
    with warnings.catch_warnings(), np.errstate(all="ignore"):
        warnings.simplefilter("ignore", RuntimeWarning)
        Y = np.nanmean(X, axis=2).astype(F32, copy=False)  # (G, p)
        out = Y.copy()
        active = np.arange(G)
        Xa = X
        y = Y
        ring = np.empty((K, G, p), dtype=F32)  # iterate t at slot t % K
        for it in range(maxiters):
            ring[it % K] = y
            diff = Xa - y[:, :, None]  # f32
            # one f64 cast, passed twice: the duplicated astype allocated a
            # second (G, p, n) float64 tensor per iteration (identical
            # values — einsum sees the same operand either way)
            d64 = diff.astype(F64)
            D = np.sqrt(np.einsum("gpn,gpn->gn", d64, d64)).astype(F32)
            far = np.abs(D) > 0.0
            Dinv = np.where(far, (1.0 / D.astype(F64)).astype(F32), F32(np.nan))
            Dinvs = np.nansum(Dinv, axis=1, dtype=F64).astype(F32)  # (g,)
            W = Dinv / Dinvs[:, None]
            prod = W[:, None, :] * Xa
            T = np.nansum(prod.astype(F64), axis=2).astype(F32)  # (g, p)
            nzeros = np.count_nonzero(~np.isnan(D) & (np.abs(D) == 0.0), axis=1)
            # Vardi-Zhang anchor step (geomedian.pyx:351-364)
            R = (T - y) * Dinvs[:, None]
            r = np.sqrt(np.sum((R * R).astype(F64), axis=1)).astype(F32)
            rinv = np.where(r > 0.0, nzeros.astype(F32) / r, F32(0.0))
            a = np.maximum(F32(0.0), F32(1.0) - rinv)[:, None]
            b = np.minimum(F32(1.0), rinv)[:, None]
            y1 = np.where(
                (nzeros == 0)[:, None], T, a * T + b * y
            )
            stalled = nzeros == lens  # all (real) observations are anchors
            y1 = np.where(stalled[:, None], y, y1)
            dd = (y - y1).astype(F64)
            dist = np.sqrt(np.einsum("gp,gp->g", dd, dd)).astype(F32)
            done = (dist < eps) | stalled  # NaN dist → keep iterating
            out[active] = y1
            # bitwise compare: NaN iterates repeat too, and ±0 differ
            h = min(it + 1, K)
            seen = (ring[:h].view(np.uint32) == y1.view(np.uint32)[None]).all(axis=2)
            cyc = ~done & seen.any(axis=0)
            if cyc.any():
                rows = np.nonzero(cyc)[0]
                slot = seen[:, rows].argmax(axis=0)  # some j ≤ it with y_j = y_{it+1}
                j = it - (it - slot) % K
                e = j + (maxiters - j) % (it + 1 - j)
                out[active[rows]] = ring[e % K, rows]
                done |= cyc
            if done.all():
                break
            keep = ~done
            active = active[keep]
            Xa = Xa[keep]
            y = y1[keep]
            lens = lens[keep]
            ring = ring[:, keep]
        return out


def _dtw_fill_batch(X: np.ndarray, ref: np.ndarray, window: int | None) -> np.ndarray:
    """Anti-diagonal wavefront fill of the ∞-bordered DP tensor for every
    series at once (G, n+1, n+1) — the shared core of dtw_dist_batch and
    dtw_path_batch.  Bit-identical to the serial _fill_dp (hdstats_oracle
    dtw.py / reference dtw.pyx:35-53,101-104): float64 cost + float32 store.
    """
    G, n = X.shape
    r = c = n
    # memory: D is G·(n+1)² float32 — callers chunk G (~2 MB/series at n=720)
    D = np.full((G, r + 1, c + 1), np.inf, dtype=F32)
    D[:, 0, 0] = 0.0
    Xd = X.astype(F64)
    rd = ref.astype(F64)
    for d in range(2, r + c + 1):
        i0 = max(1, d - c)
        i1 = min(r, d - 1)
        if window is not None:
            # |i - j| ≤ w with j = d - i ⇔ (d-w)/2 ≤ i ≤ (d+w)/2 — bound the
            # row range analytically instead of materializing the full
            # diagonal and masking (a ~n/(2w+1)× saving for narrow bands)
            i0 = max(i0, (d - window + 1) // 2)
            i1 = min(i1, (d + window) // 2)
        if i0 > i1:
            continue
        ii = np.arange(i0, i1 + 1)
        jj = d - ii
        # cost(i-1, j-1) = |ref[i-1] - X[:, j-1]| (reference plays the row role,
        # matching area_warp's dtw_dist(areats, series) argument order)
        cst = np.abs(rd[ii - 1][None, :] - Xd[:, jj - 1])
        prev = np.minimum(
            np.minimum(D[:, ii - 1, jj], D[:, ii, jj - 1]), D[:, ii - 1, jj - 1]
        )
        D[:, ii, jj] = (cst + prev).astype(F32)
    return D


def _dtw_fill_band(X: np.ndarray, ref: np.ndarray, w: int) -> np.ndarray:
    """Band-compact wavefront fill: the DP value of bordered cell (i, j) is
    stored at B[:, i, j - i + w + 1], so each row keeps only its 2w+1 in-band
    cells plus one ∞ guard column per side — (G, n+1, 2w+3) memory instead of
    (G, n+1, n+1), an ~n/(2w+3)× saving for narrow bands.  Same float64 cost
    + float32 store op order as _dtw_fill_batch, so values are bit-identical.

    Anti-diagonal d maps to band column t = d - 2i + w + 1 (a stride-(-2)
    diagonal of B); predecessors (i-1,j), (i,j-1), (i-1,j-1) live at
    t+1 / t-1 / t in rows i-1 / i / i-1.  In-band cells have t ∈ [1, 2w+1],
    so predecessor reads stay inside [0, 2w+2] and hit the ∞ guards exactly
    where the bordered tensor would hold ∞."""
    G, n = X.shape
    r = c = n
    Xd = X.astype(F64)
    rd = ref.astype(F64)
    B = np.full((G, r + 1, 2 * w + 3), np.inf, dtype=F32)
    B[:, 0, w + 1] = 0.0  # bordered (0, 0)
    for d in range(2, r + c + 1):
        i0 = max(1, d - c, (d - w + 1) // 2)
        i1 = min(r, d - 1, (d + w) // 2)
        if i0 > i1:
            continue
        ii = np.arange(i0, i1 + 1)
        jj = d - ii
        tt = jj - ii + w + 1
        cst = np.abs(rd[ii - 1][None, :] - Xd[:, jj - 1])
        prev = np.minimum(
            np.minimum(B[:, ii - 1, tt + 1], B[:, ii, tt - 1]), B[:, ii - 1, tt]
        )
        B[:, ii, tt] = (cst + prev).astype(F32)
    return B


def dtw_path_batch(
    X: np.ndarray,
    ref: np.ndarray,
    window: int | None = None,
    lengths: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Batched banded DTW of every series X[g] (G, n) to ``ref`` (n,) WITH the
    optimal warp path — the batched analogue of the reference's full ``dtw``
    output (dtw.pyx:89-121).

    The DP fill is the shared wavefront (_dtw_fill_batch); the backtrack runs
    all series in LOCKSTEP: one step per Python iteration moves every
    still-active series one cell, applying exactly optimalpath's float32 tie
    rules (diagonal preferred, then the i-decrement), so paths are bit-equal
    to the serial greedy backtrack.  Python-level work is O(max path length)
    iterations, not O(G · path length).

    ``lengths`` lets mixed-length series share the padded grid: each series'
    distance is read at its own corner (L, L) and its backtrack starts at
    inner (L−1, L−1) — the DP region ≤ (L, L) never sees pad values (see
    _dtw_dist_rolling), so distances AND paths are bit-equal to unpadded
    per-length fills.

    Returns ``(dist (G,) f32, path_len (G,) i64, ii (total,) i32,
    jj (total,) i32)`` with the per-series paths concatenated in series order,
    each in FORWARD order (step 0 first) and 0-based inner coordinates — the
    exact rows of optimalpath(D).T.
    """
    G, n = X.shape
    r = c = n
    lens = np.full(G, n, dtype=np.int64) if lengths is None else np.asarray(lengths, np.int64)
    # narrow bands use the compact storage (guards included it is 2w+3 wide);
    # full/wide windows fall back to the bordered tensor
    banded = window is not None and 2 * window + 3 < c + 1
    if banded:
        w1 = window + 1
        D = _dtw_fill_band(X, ref, window)
        # corner (L, L) of each series in band coords: row L, t = w+1
        dist = (D[np.arange(G), lens, w1] / (2 * lens).astype(F32)).astype(F32)
    else:
        D = _dtw_fill_batch(X, ref, window)
        dist = (D[np.arange(G), lens, lens] / (2 * lens).astype(F32)).astype(F32)

    max_steps = r + c - 1  # a path visits at most r+c-1 cells
    I = np.empty((G, max_steps), dtype=np.int32)
    J = np.empty((G, max_steps), dtype=np.int32)
    i = lens - 1
    j = lens - 1
    I[:, 0] = i
    J[:, 0] = j
    steps = np.ones(G, dtype=np.int64)
    active = np.nonzero((i > 0) | (j > 0))[0]
    while active.size:
        ia, ja = i[active], j[active]
        # bordered-coord predecessors of inner cell (ia, ja) — same indexing
        # as optimalpath: diag=D[i,j], up=D[i,j+1], left=D[i+1,j]; path cells
        # are in-band, so band-layout reads stay inside the guard columns
        if banded:
            diag = D[active, ia, ja - ia + w1]
            up = D[active, ia, ja - ia + w1 + 1]
            left = D[active, ia + 1, ja - ia + w1 - 1]
        else:
            diag = D[active, ia, ja]
            up = D[active, ia, ja + 1]
            left = D[active, ia + 1, ja]
        take_diag = (diag <= up) & (diag <= left)
        take_up = ~take_diag & (up <= left) & (up <= diag)
        di = take_diag | take_up
        dj = take_diag | ~(take_diag | take_up)
        i[active] -= di
        j[active] -= dj
        I[active, steps[active]] = i[active]
        J[active, steps[active]] = j[active]
        steps[active] += 1
        active = active[(i[active] > 0) | (j[active] > 0)]

    # flatten backwards-walked rows into forward-order concatenated paths
    total = int(steps.sum())
    starts = np.cumsum(steps) - steps
    row = np.repeat(np.arange(G), steps)
    pos = np.arange(total, dtype=np.int64) - np.repeat(starts, steps)
    col = np.repeat(steps, steps) - 1 - pos  # reverse within each series
    return dist, steps, I[row, col], J[row, col]


def _dtw_dist_rolling(
    X: np.ndarray,
    ref: np.ndarray,
    window: int | None,
    lengths: np.ndarray | None = None,
) -> np.ndarray:
    """Distance-only DP over THREE ROLLING DIAGONALS — O(G·n) memory instead
    of the full (G, n+1, n+1) tensor (400 MB for ONE series at n=10⁴), same
    float32 op order as _dtw_fill_batch so results stay bit-identical.

    Buffer invariant: before diagonal d writes rows [i0, i1] of its buffer,
    it inf-fills [i0-1, i1+1]; diagonals d+1/d+2 only read rows inside that
    strip (i0 is non-decreasing and i1 grows by ≤1 per d), so stale values
    from the buffer's previous life (diagonal d-3) are never read.

    ``lengths`` lets series of DIFFERENT true lengths share one padded grid:
    the DP value at corner (L, L) depends only on cells (i ≤ L, j ≤ L),
    whose costs read only x[:L] and ref[:L] — pad values never reach them —
    so each series' distance is captured when the wavefront crosses its own
    corner diagonal d = 2L, bit-identical to an unpadded (L, L) fill.  This
    is what makes one kernel call per Arrow batch possible when every
    conversation has its own length (per-length-class batching degenerated
    to G=1-2 stacks on real data)."""
    G, n = X.shape
    r = c = n
    lens = np.full(G, n, dtype=np.int64) if lengths is None else np.asarray(lengths, np.int64)
    w = r + c if window is None else int(window)
    Xd = X.astype(F64)
    rd = ref.astype(F64)
    out = np.empty(G, dtype=F32)
    buf = [np.full((G, r + 1), np.inf, dtype=F32) for _ in range(3)]
    buf[0][:, 0] = 0.0  # D[0,0]; d=1 cells (0,1),(1,0) stay +inf in buf[1]
    for d in range(2, r + c + 1):
        cur = buf[d % 3]
        prev1 = buf[(d - 1) % 3]
        prev2 = buf[(d - 2) % 3]
        i0 = max(1, d - c, (d - w + 1) // 2)
        i1 = min(r, d - 1, (d + w) // 2)
        lo = max(0, i0 - 1)
        hi = min(r, i1 + 1)
        cur[:, lo : hi + 1] = np.inf
        if i0 > i1:
            continue
        ii = np.arange(i0, i1 + 1)
        jj = d - ii
        cst = np.abs(rd[ii - 1][None, :] - Xd[:, jj - 1])
        prev = np.minimum(
            np.minimum(prev1[:, ii - 1], prev1[:, ii]), prev2[:, ii - 1]
        )
        cur[:, i0 : i1 + 1] = (cst + prev).astype(F32)
        # series whose corner (L, L) sits on this diagonal are done
        hit = np.nonzero(2 * lens == d)[0]
        if hit.size:
            out[hit] = cur[hit, lens[hit]]
    return out / (2 * lens).astype(F32)


def dtw_dist_batch(
    X: np.ndarray,
    ref: np.ndarray,
    window: int | None = None,
    lengths: np.ndarray | None = None,
) -> np.ndarray:
    """Batched DTW distance of every series X[g] (G, n) to a reference series
    (n,), normalized by r+c (dtw.pyx:69-86 / banded :35-53).

    The DP fills anti-diagonal wavefronts across ALL series at once: each
    cell is cost + min of its three predecessors, stored float32 exactly as
    the serial kernel, so results are bit-identical (verified in
    tests/test_kernels_batched.py) while the Python-level loop is O(r+c)
    instead of O(r·c) per series.

    ``lengths`` restricts each series (and the reference) to its true prefix
    length — mixed-length series share one padded wavefront and each
    distance is captured at its own corner diagonal (see _dtw_dist_rolling),
    bit-identical to an unpadded per-length fill.
    """
    return _dtw_dist_rolling(X, ref, window, lengths).astype(F32)


def fourier_batch(X: np.ndarray, n: int = 3, step: int = 5) -> dict[str, np.ndarray]:
    """Batched fourier_mean/std/median bands (ts.pyx:159-192) over (G, L)
    float32 series of EQUAL length → 3n (G,) float32 vectors.

    One FFT over the whole stack replaces G per-series FFTs; band slicing,
    mean/std/median all reduce along axis 1.  Numerically identical to the
    per-series path (same complex128 FFT, same float64 band stats, float32
    cast at the end)."""
    mag = np.abs(np.fft.fft(X, axis=1))
    L = X.shape[1]
    out: dict[str, np.ndarray] = {}
    G = X.shape[0]
    for k in range(n):
        sl = mag[:, 1 + k * step : (k + 1) * step + 1]
        if sl.shape[1]:
            out[f"fmean_{k}"] = sl.mean(axis=1).astype(F32)
            out[f"fstd_{k}"] = sl.std(axis=1).astype(F32)
            out[f"fmedian_{k}"] = np.median(sl, axis=1).astype(F32)
        else:  # band entirely beyond the series length (L <= 1 + k*step)
            nanv = np.full(G, np.nan, dtype=F32)
            out[f"fmean_{k}"] = nanv
            out[f"fstd_{k}"] = nanv
            out[f"fmedian_{k}"] = nanv
    return out


def discordance_batch(X: np.ndarray, area_lp: np.ndarray, n: int = 10) -> np.ndarray:
    """Batched discordance (ts.pyx:140-156) over (G, L) float32 equal-length
    series vs the precomputed |ifft|-low-passed area curve → (G,) float32.
    Per-series low-pass uses Re(ifft) — the reference's asymmetry."""
    Yp = np.fft.fft(X, axis=1)
    Yp[:, n:] = 0.0
    x_lp = np.real(np.fft.ifft(Yp, axis=1)).astype(F32)
    resid = x_lp - area_lp[: X.shape[1]][None, :]
    return resid.mean(axis=1).astype(F32)


def mads_batch(X: np.ndarray, gm: np.ndarray) -> dict[str, np.ndarray]:
    """Batched emad/smad/bcmad (geomad.pyx:200-350) over (G, p, n) with
    composites (G, p) → three (G,) float32 vectors."""
    with warnings.catch_warnings(), np.errstate(all="ignore"):
        warnings.simplefilter("ignore", RuntimeWarning)
        g3 = gm[:, :, None]
        d = (X - g3).astype(F64)
        emad = np.nanmedian(np.sqrt(np.einsum("gpn,gpn->gn", d, d)).astype(F32), axis=1)
        numer = np.einsum("gpn->gn", (X * g3).astype(F64))
        norma = np.einsum("gpn->gn", (X * X).astype(F64))
        normb = np.einsum("gp->g", (gm * gm).astype(F64))
        cd = (1.0 - numer / (np.sqrt(norma) * np.sqrt(normb)[:, None])).astype(F32)
        smad = np.nanmedian(cd, axis=1)
        ad = np.abs(d).sum(axis=1)  # d is already (X - g3) in f64
        asum = np.abs((X + g3).astype(F64)).sum(axis=1)
        bcmad = np.nanmedian((ad / asum).astype(F32), axis=1)
    return {"emad": emad.astype(F32), "smad": smad.astype(F32), "bcmad": bcmad.astype(F32)}
