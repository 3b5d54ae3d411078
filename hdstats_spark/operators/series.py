"""Series-table primitive + batched kernel aggregates, one Spark path per
hdstats kernel.

The geomedian+MAD composite (``geomedian_mads_flat``) streams FLAT tier rows,
hash-partitioned by the series key and sorted within partitions, through
``mapInArrow``.  The length-semantic kernels (Fourier, discordance, DTW
distance and warp path, CWT peaks, axis-0 gm) run as ``mapInPandas`` over
``series_table`` rows: ONE row per conversation, the stable-ordered channel
matrix as arrays, built with a single JVM-side shuffle (groupBy +
sort_array(collect_list)).  Either way all series of an Arrow batch are
stacked into one padded tensor and reduced simultaneously (kernels_np),
which amortizes the Python-dispatch and iteration overhead across series
(~50×+ over per-group applyInPandas on many-small-series workloads) while
keeping results identical.

Skew note: one row per series bounds group size at the hot-conversation
length (10^4 buckets ≈ 320 KB — far under Arrow limits); padded-tensor blowup
from mixing one hot series with many short ones in a batch is bounded by
length-sorted chunking (_chunks_by_cells) and, for DTW, by row chunks under
_DTW_BUDGET_BYTES.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels_np import (
    discordance_batch,
    dtw_dist_batch,
    dtw_path_batch,
    fourier_batch,
    mads_batch,
    nangeomedian_batch,
)
from ..schema import CHANNELS

_CELL_BUDGET = 16_000_000  # f32 cells per padded tensor chunk (~64 MB)
_DTW_BUDGET_BYTES = 64_000_000  # working set per DTW kernel call


def key_change_mask(ids) -> np.ndarray:
    """Exact adjacent-inequality mask over a sorted Arrow key column.

    ``mask[i]`` is True iff ``ids[i+1] != ids[i]`` — computed with Arrow's
    vectorized C++ bytewise compare of the array against its own 1-shifted
    slice.  This replaces the earlier xxhash64 proxy: a 64-bit hash of the key
    can collide between two *different* adjacent keys and silently fuse two
    series into one (birthday bound ~3% somewhere at 10^9 series); comparing
    the key bytes themselves cannot.
    """
    import pyarrow.compute as pc

    n = len(ids)
    if n <= 1:
        return np.zeros(0, dtype=bool)
    return pc.not_equal(ids.slice(1), ids.slice(0, n - 1)).to_numpy(
        zero_copy_only=False
    ).astype(bool)


def series_table(
    tier_df: DataFrame,
    channels: Sequence[str] = CHANNELS,
    order_col: str = "bucket",
    key_col: str = "conv_id",
) -> DataFrame:
    """One row per series: (conv_id, n, buckets array, one float array per
    channel), stably ordered by the bucket timestamp."""
    struct = F.struct(
        F.col(order_col).alias("_o"), *[F.col(c).cast("float").alias(c) for c in channels]
    )
    agg = tier_df.groupBy(key_col).agg(F.sort_array(F.collect_list(struct)).alias("_s"))
    return agg.select(
        key_col,
        F.size("_s").alias("n"),
        F.col("_s._o").alias("buckets"),
        *[F.col(f"_s.{c}").alias(c) for c in channels],
    )


def _chunks_by_cells(lens: np.ndarray, p: int, budget: int = _CELL_BUDGET):
    """Yield index arrays sorted by series length such that each chunk's
    padded tensor stays under the cell budget."""
    order = np.argsort(lens, kind="mergesort")
    start = 0
    while start < len(order):
        end = start + 1
        nmax = lens[order[start]]
        while end < len(order):
            cand = max(nmax, lens[order[end]])
            if (end - start + 1) * p * cand > budget:
                break
            nmax = cand
            end += 1
        yield order[start:end]
        start = end


def geomedian_axis0(
    series_df: DataFrame,
    channels: Sequence[str] = CHANNELS,
    eps: float = 1e-7,
    maxiters: int = 1000,
    key_col: str = "conv_id",
) -> DataFrame:
    """Geometric median along AXIS 0 (reference geomedian.pyx:379-395,
    axis=0): the per-series (p, n) channel matrix is transposed, so the p
    channel rows become the observations and the gm is a LENGTH-n vector —
    one value per time position, returned as an array column
    (conv_id, n, gm array<float>).

    Padding is NOT neutral in the dimension axis (a NaN pad makes every
    observation unclean), so series are stacked by exact length
    (_equal_length_stacks-style) and each length class runs one batched
    Weiszfeld with the axes swapped: tensor (G_L, L, p), observations = p."""
    chans = list(channels)
    sc = series_df.sparkSession.sparkContext
    series_df = series_df.repartition(sc.defaultParallelism)

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            lens = pdf["n"].to_numpy().astype(np.int64)
            ids = pdf[key_col].to_numpy()
            for L in np.unique(lens):
                idx = np.nonzero(lens == L)[0]
                Li = int(L)
                # (G_L, L, p): time positions are the dimensions, channels
                # the observations — the oracle's axis-0 transpose
                X = np.empty((len(idx), Li, len(chans)), dtype=np.float32)
                for j, c in enumerate(chans):
                    col = pdf[c].to_numpy()[idx]
                    X[:, :, j] = np.stack(
                        [np.asarray(v[:Li], dtype=np.float32) for v in col]
                    )
                gm = nangeomedian_batch(X, eps, maxiters)
                yield pd.DataFrame(
                    {
                        key_col: ids[idx],
                        "n": np.full(len(idx), Li, dtype=np.int32),
                        "gm": list(gm),
                    }
                )

    return series_df.mapInPandas(gen, f"{key_col} string, n int, gm array<float>")


def number_peaks_agg(
    series_df: DataFrame,
    value_col: str,
    n: int = 10,
    key_col: str = "conv_id",
) -> DataFrame:
    """CWT ridge-line peak count per series (ts.pyx:222-228); the ridge
    linkage is inherently sequential per series, so this is a per-series
    NumPy call inside mapInPandas spread round-robin across cores."""
    sc = series_df.sparkSession.sparkContext
    series_df = series_df.repartition(sc.defaultParallelism)

    def gen(batches):
        from hdstats_oracle.peaks import find_peaks_cwt

        widths = np.arange(1, n + 1)
        for pdf in batches:
            counts = [
                len(find_peaks_cwt(np.asarray(v[: int(ln)], dtype=np.float64), widths))
                for v, ln in zip(pdf[value_col], pdf["n"])
            ]
            # int8 to match the reference's output dtype (ts.pyx:223) — the
            # reference's C assignment wraps >127 counts, so mirror that
            # with an explicit astype (np.asarray(dtype=int8) raises on
            # overflow under numpy >= 2)
            yield pd.DataFrame(
                {
                    key_col: pdf[key_col],
                    "n_peaks": np.asarray(counts, dtype=np.int64).astype(np.int8),
                }
            )

    return series_df.mapInPandas(gen, f"{key_col} string, n_peaks tinyint")


def _padded_stack(pdf: pd.DataFrame, value_col: str, key_col: str, dtype=np.float32):
    """(ids, X (G, n_max) zero-padded, lens) — the batch shape for kernels
    whose semantics depend only on each series' true prefix (DTW corner
    capture): one padded grid per Arrow batch regardless of how many
    distinct lengths the batch holds.  Contrast _equal_length_stacks, needed
    where the transform length is semantic (FFT).  ``dtype`` preserves each
    caller's float discipline (dtw_path_batched feeds float32,
    dtw_area_batched raw float64)."""
    lens = pdf["n"].to_numpy(dtype=np.int64)
    vals = pdf[value_col].to_numpy()
    ids = pdf[key_col].to_numpy()
    X = np.zeros((len(lens), int(lens.max())), dtype=dtype)
    for g, v in enumerate(vals):
        X[g, : lens[g]] = np.asarray(v[: lens[g]], dtype=dtype)
    return ids, X, lens


def _equal_length_stacks(pdf: pd.DataFrame, value_col: str, key_col: str):
    """Yield (ids, X) with X a (G_L, L) float32 stack per distinct series
    length — the padding-free batch shape for FFT-style kernels where the
    transform length is semantic (an FFT of a padded series is a DIFFERENT
    FFT, so unlike the Weiszfeld/MAD path NaN-padding is not neutral here)."""
    lens = pdf["n"].to_numpy()
    vals = pdf[value_col].to_numpy()
    ids = pdf[key_col].to_numpy()
    for L in np.unique(lens):
        idx = np.nonzero(lens == L)[0]
        X = np.concatenate(
            [np.asarray(vals[i][: int(L)], dtype=np.float32) for i in idx]
        ).reshape(len(idx), int(L))
        yield ids[idx], X


def fourier_features_batched(
    series_df: DataFrame,
    value_col: str,
    n: int = 3,
    step: int = 5,
    key_col: str = "conv_id",
) -> DataFrame:
    """fourier_mean/std/median bands (ts.pyx:159-192) for every series in one
    mapInPandas pass — replaces the per-group applyInPandas dispatch with one
    batched FFT per (Arrow batch × length class)."""
    cols = [f"{stat}_{k}" for stat in ("fmean", "fstd", "fmedian") for k in range(n)]
    schema = f"{key_col} string, " + ", ".join(f"{c} float" for c in cols)
    # no forced repartition: the batched FFT is light per series (one
    # vectorized transform per length class), so AQE's size-based
    # coalescing of the series table IS the right task sizing — the
    # round-robin widening that the Weiszfeld/DTW/CWT kernels need cost
    # more in per-task Python overhead than this kernel's whole compute

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for ids, X in _equal_length_stacks(pdf, value_col, key_col):
                out = fourier_batch(X, n, step)
                yield pd.DataFrame({key_col: ids, **{c: out[c] for c in cols}})

    return series_df.mapInPandas(gen, schema)


def discordance_batched(
    series_df: DataFrame,
    value_col: str,
    area_lp: np.ndarray,
    n: int = 10,
    key_col: str = "conv_id",
) -> DataFrame:
    """Reference discordance (ts.pyx:140-156), phase 2: per-series FFT
    low-pass residual vs the broadcast |ifft| area curve, batched by length
    class (phase 1 — the tiny area-mean aggregate — stays a driver-side
    collect of O(max series length) rows, see driver_queries.q_discordance)."""
    sc = series_df.sparkSession.sparkContext
    bcurve = sc.broadcast(np.asarray(area_lp, dtype=np.float32))
    # no forced repartition — same reasoning as fourier_features_batched:
    # the per-series work is one FFT round-trip, lighter than the task
    # overhead a 32-way widening adds

    def gen(batches):
        curve = bcurve.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for ids, X in _equal_length_stacks(pdf, value_col, key_col):
                yield pd.DataFrame(
                    {key_col: ids, "discordance": discordance_batch(X, curve, n)}
                )

    return series_df.mapInPandas(gen, f"{key_col} string, discordance float")


def geomedian_mads_flat(
    tier_df: DataFrame,
    channels: Sequence[str] = CHANNELS,
    eps: float = 1e-7,
    maxiters: int = 1000,
    with_mads: bool = True,
    key_col: str = "conv_id",
    order_col: str = "bucket",
) -> DataFrame:
    """Flagship composite over FLAT tier rows — the many-tiny-series fast
    path (composite tier at 10^6-10^9 conversations):
    ``geomedian_mads_prepared(prepare_flat(tier_df, ...), ...)``.

    ``series_table`` (collect_list of structs) costs ~20 JVM core-seconds per
    million rows in object churn; this variant instead hash-partitions by the
    series key, sorts within partitions (Tungsten binary sort), and streams
    flat Arrow batches into Python.  Group boundaries come from an exact
    Arrow-vectorized compare of adjacent key values (``key_change_mask`` — no
    hash proxy, so colliding keys can never fuse two series); groups split
    across Arrow batch boundaries are stitched by carrying the trailing
    partial group — batches of one partition arrive in order in a single
    mapInArrow iterator, and hash partitioning keeps each series in exactly
    one partition.
    """
    prepared = prepare_flat(tier_df, channels, key_col, order_col)
    return geomedian_mads_prepared(prepared, channels, eps, maxiters, with_mads, key_col)


def prepare_flat(
    tier_df: DataFrame,
    channels: Sequence[str] = CHANNELS,
    key_col: str = "conv_id",
    order_col: str = "bucket",
) -> DataFrame:
    """The flat composite's input: ``key_col`` + float channels,
    hash-partitioned by the series key and sorted within partitions by
    (key, order) — the expensive prefix of ``geomedian_mads_flat``, which
    a caller may cache to share between several composites."""
    chans = list(channels)
    par = tier_df.sparkSession.sparkContext.defaultParallelism
    return (
        tier_df.select(
            key_col,
            order_col,
            *[F.col(c).cast("float").alias(c) for c in chans],
        )
        .repartition(par, key_col)
        .sortWithinPartitions(key_col, order_col)
        # the order column exists only to establish the within-partition
        # sort; projecting it away preserves ordering and saves shipping
        # 8 bytes/row through the Arrow boundary (~80 MB at 10M rows)
        .select(key_col, *chans)
    )


def geomedian_mads_prepared(
    prepared: DataFrame,
    channels: Sequence[str] = CHANNELS,
    eps: float = 1e-7,
    maxiters: int = 1000,
    with_mads: bool = True,
    key_col: str = "conv_id",
) -> DataFrame:
    """The flat composite's kernel over ``prepare_flat``'s output (see
    ``geomedian_mads_flat``)."""
    import pyarrow as pa

    chans = list(channels)
    fields = [f"{key_col} string", "n int"] + [f"gm_{c} float" for c in chans]
    if with_mads:
        fields += ["emad float", "smad float", "bcmad float"]
    schema = ", ".join(fields)

    def gen(batches):
        carry = None  # trailing partial group: dict of arrays

        def process(ids, neq, cols):
            """Complete groups only: caller guarantees the last group ends.
            ``neq`` is key_change_mask(ids) (len(ids)-1 adjacent compares)."""
            bounds = np.nonzero(neq)[0] + 1
            starts = np.concatenate(([0], bounds))
            lens_all = np.diff(np.concatenate((starts, [len(ids)])))
            first_idx = starts
            out_batches = []
            for idx in _chunks_by_cells(lens_all, len(chans)):
                lens = lens_all[idx]
                G = len(idx)
                nmax = int(lens.max())
                total = int(lens.sum())
                starts_pad = np.cumsum(lens) - lens
                row_idx = np.repeat(np.arange(G), lens)
                pos_idx = np.arange(total, dtype=np.int64) - np.repeat(starts_pad, lens)
                src = np.repeat(first_idx[idx], lens) + pos_idx
                X = np.full((G, len(chans), nmax), np.nan, dtype=np.float32)
                for j, c in enumerate(chans):
                    X[:, j, :][row_idx, pos_idx] = cols[j][src]
                gm = nangeomedian_batch(X, eps, maxiters, lengths=lens)
                out = {
                    key_col: ids.take(pa.array(first_idx[idx])),
                    "n": pa.array(lens.astype(np.int32)),
                }
                for j, c in enumerate(chans):
                    out[f"gm_{c}"] = pa.array(gm[:, j])
                if with_mads:
                    for k, v in mads_batch(X, gm).items():
                        out[k] = pa.array(v)
                out_batches.append(pa.RecordBatch.from_pydict(out))
            return out_batches

        for rb in batches:
            if rb.num_rows == 0:
                continue
            names = rb.schema.names
            ids = rb.column(names.index(key_col))
            cols = [
                rb.column(names.index(c)).to_numpy(zero_copy_only=False) for c in chans
            ]
            if carry is not None:
                ids = pa.concat_arrays([carry["ids"], ids])
                cols = [np.concatenate((cv, c)) for cv, c in zip(carry["cols"], cols)]
            neq = key_change_mask(ids)
            # split off the trailing group (it may continue in the next batch)
            changes = np.nonzero(neq)[0]
            tail_start = int(changes[-1]) + 1 if changes.size else 0
            carry = {
                "ids": ids.slice(tail_start),
                "cols": [c[tail_start:] for c in cols],
            }
            if tail_start > 0:
                yield from process(
                    ids.slice(0, tail_start),
                    neq[: tail_start - 1],
                    [c[:tail_start] for c in cols],
                )
        if carry is not None and len(carry["cols"][0]):
            yield from process(
                carry["ids"], key_change_mask(carry["ids"]), carry["cols"]
            )

    return prepared.mapInArrow(gen, schema)


def dtw_area_batched(
    series_df: DataFrame,
    value_col: str,
    ref: np.ndarray,
    window: int | None = None,
    key_col: str = "conv_id",
    l1_mode: bool = False,
) -> DataFrame:
    """DTW distance of every series to a broadcast reference curve, batched
    by exact series length so the wavefront kernel runs padding-free.

    ``l1_mode=True`` reproduces the reference's area_warp_similarity
    literally — each series enters DTW as ONE n-dimensional point, collapsing
    to L1/2 (ts.pyx:254); False runs the real (optionally Sakoe-Chiba banded)
    DTW, the engine's extension."""
    refd = np.asarray(ref, dtype=np.float64)
    sc = series_df.sparkSession.sparkContext
    bref = sc.broadcast(refd)
    series_df = series_df.repartition(sc.defaultParallelism)

    def gen(batches):
        rv = bref.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if l1_mode:
                # L1/2 needs the exact prefix per length (cheap O(G·L) sums)
                vals = pdf[value_col].to_numpy()
                lens = pdf["n"].to_numpy()
                ids = pdf[key_col].to_numpy()
                out_ids, out_d = [], []
                for L in np.unique(lens):
                    idx = np.nonzero(lens == L)[0]
                    X = np.stack([np.asarray(vals[i][: int(L)], dtype=np.float64) for i in idx])
                    d = (np.abs(rv[: int(L)][None, :] - X).sum(axis=1) / 2.0).astype(np.float32)
                    out_ids.append(ids[idx])
                    out_d.append(d)
                yield pd.DataFrame(
                    {key_col: np.concatenate(out_ids), "dtw_dist": np.concatenate(out_d)}
                )
                continue
            # one padded wavefront per chunk: mixed lengths share the grid
            # and each distance is captured at its own corner (bit-identical
            # — see _dtw_dist_rolling), so per-length fragmentation (real
            # data gives G=1-2 per distinct length) costs nothing.  Budget:
            # 3 f32 diagonals + the f64 cast ≈ 20 bytes per cell per series.
            ids, X, lens = _padded_stack(pdf, value_col, key_col, dtype=np.float64)
            n_max = X.shape[1]
            step = max(1, _DTW_BUDGET_BYTES // (20 * (n_max + 1)))
            parts = [
                dtw_dist_batch(
                    X[s : s + step], rv[:n_max], window, lengths=lens[s : s + step]
                )
                for s in range(0, len(ids), step)
            ]
            yield pd.DataFrame({key_col: ids, "dtw_dist": np.concatenate(parts)})

    return series_df.mapInPandas(gen, f"{key_col} string, dtw_dist float")


def dtw_path_batched(
    series_df: DataFrame,
    value_col: str,
    ref: np.ndarray,
    window: int | None = None,
    key_col: str = "conv_id",
) -> DataFrame:
    """Banded DTW of every series to a broadcast reference curve WITH its
    optimal warp path (dtw.pyx:89-121), one output row per path cell:
    (key, n, step, i, j, dtw_dist) — step 0 first, 0-based inner
    coordinates, the series' normalized distance on each of its rows.

    Series and reference enter the kernel as float32.  Mixed lengths share
    one zero-padded grid and each series is read at its own (L, L) corner
    (kernels_np.dtw_path_batch), so distances and paths are bit-equal to
    per-length fills — and to any split of the batch into row chunks, which
    keep each call's working set under _DTW_BUDGET_BYTES."""
    sc = series_df.sparkSession.sparkContext
    bref = sc.broadcast(np.asarray(ref, dtype=np.float32))
    series_df = series_df.repartition(sc.defaultParallelism)

    def gen(batches):
        rv = bref.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids, X, lens = _padded_stack(pdf, value_col, key_col)
            n_max = X.shape[1]
            # per series: the f32 DP band (or the full grid when the band is
            # as wide), the f64 copy of the series and the I/J path buffers
            width = n_max + 1 if window is None else min(2 * window + 3, n_max + 1)
            per_series = 4 * (n_max + 1) * width + 8 * n_max + 8 * (2 * n_max - 1)
            chunk = max(1, _DTW_BUDGET_BYTES // per_series)
            for lo in range(0, len(ids), chunk):
                part = slice(lo, lo + chunk)
                dist, plens, ii, jj = dtw_path_batch(
                    X[part], rv[:n_max], window, lengths=lens[part]
                )
                pos = np.arange(int(plens.sum()), dtype=np.int64)
                starts = np.cumsum(plens) - plens
                yield pd.DataFrame(
                    {
                        key_col: np.repeat(ids[part], plens),
                        "n": np.repeat(lens[part], plens).astype(np.int32),
                        "step": (pos - np.repeat(starts, plens)).astype(np.int32),
                        "i": ii,
                        "j": jj,
                        "dtw_dist": np.repeat(dist, plens),
                    }
                )

    return series_df.mapInPandas(
        gen, f"{key_col} string, n int, step int, i int, j int, dtw_dist float"
    )
