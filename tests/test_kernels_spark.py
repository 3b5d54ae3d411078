"""Spark kernels vs the NumPy oracle at the reference's own tolerances
(rtol=1e-4, atol=1e-4 — the reference's tests/test_pcm.py:22).  Every
kernel test runs the engine's production Spark path and compares it with
hdstats_oracle; none compares two Spark paths with each other."""

import numpy as np
import numpy.testing as npt
import pytest
from pyspark.sql import functions as F

import hdstats_oracle as hdo
from hdstats_spark.operators.channels import channelize
from hdstats_spark.operators.features import change_features, complexity, symmetry_agg
from hdstats_spark.operators.gapfill import completion, densify
from hdstats_spark.operators.rollup import rollup_raw
from hdstats_spark.operators.series import (
    discordance_batched,
    dtw_area_batched,
    dtw_path_batched,
    fourier_features_batched,
    geomedian_axis0,
    geomedian_mads_flat,
    series_table,
)
from hdstats_spark.schema import CHANNELS


@pytest.fixture(scope="module")
def dense(spark, transcripts):
    tier = rollup_raw(channelize(transcripts), "1m")
    d = completion(densify(tier, "1m")).cache()
    d.count()
    return d


def _series_matrices(dense_pdf, channels=CHANNELS):
    """conv_id → (p, n) float32 matrix, ordered by bucket."""
    out = {}
    for cid, g in dense_pdf.groupby("conv_id"):
        g = g.sort_values("bucket")
        out[cid] = g[list(channels)].to_numpy(dtype=np.float32, na_value=np.nan).T
    return out


def _gm_only(tier_df):
    """The gm composite as symmetry_agg reads it (q_symmetry's pass)."""
    return geomedian_mads_flat(tier_df, CHANNELS, with_mads=False).drop("n")


def test_completion_leaves_no_nulls(dense):
    for c in CHANNELS:
        assert dense.filter(f"{c} IS NULL").count() == 0


def test_completion_matches_oracle(spark, transcripts, dense):
    """Spark window-function gap-fill ≡ reference completion on every series."""
    sparse = densify(rollup_raw(channelize(transcripts), "1m"), "1m").toPandas()
    filled = dense.toPandas()
    for cid, g in list(sparse.groupby("conv_id"))[:30]:
        g = g.sort_values("bucket")
        raw = g[["turn_rate"]].to_numpy(dtype=np.float32, na_value=np.nan).T
        expect = hdo.completion(raw[None, :, :])[0, 0]  # (1,1,n) per reference
        got = (
            filled[filled.conv_id == cid]
            .sort_values("bucket")["turn_rate"]
            .to_numpy(dtype=np.float32)
        )
        npt.assert_allclose(got, expect, rtol=1e-5, atol=1e-5)


def test_geomedian_matches_oracle(dense):
    """geomedian_mads_flat (the tier_batch / q_geomedian_mads path) ≡ oracle
    nangeomedian; the completed series are NaN-free, so also ≡ the plain
    Weiszfeld geomedian."""
    gm = geomedian_mads_flat(dense, CHANNELS).toPandas().set_index("conv_id")
    mats = _series_matrices(dense.toPandas())
    for cid, X in list(mats.items())[:25]:
        if X.shape[1] < 3:
            continue
        assert not np.isnan(X).any()
        got = gm.loc[cid, [f"gm_{c}" for c in CHANNELS]].to_numpy(dtype=np.float32)
        npt.assert_allclose(got, hdo.nangeomedian(X), rtol=1e-4, atol=1e-4)
        npt.assert_allclose(got, hdo.geomedian(X), rtol=1e-4, atol=1e-4)


def _assert_gm_mads_match_oracle(out, mats, channels=CHANNELS):
    """One composite output row per series (n, gm_*, emad/smad/bcmad) ≡ the
    oracle nangeomedian and the oracle MADs against the emitted gm."""
    assert sorted(out.index) == sorted(mats)
    for cid, X in mats.items():
        g = out.loc[cid, [f"gm_{c}" for c in channels]].to_numpy(dtype=np.float32)
        assert out.loc[cid, "n"] == X.shape[1]
        npt.assert_allclose(g, hdo.nangeomedian(X), rtol=1e-4, atol=1e-4)
        X4 = X[None, None, :, :]
        g3 = g[None, None, :]
        for k, mad in (("emad", hdo.emad_pcm), ("smad", hdo.smad_pcm), ("bcmad", hdo.bcmad_pcm)):
            npt.assert_allclose(out.loc[cid, k], mad(X4, g3)[0, 0], rtol=1e-4, atol=1e-4)


def test_mads_match_oracle(dense):
    """geomedian_mads_flat — the engine's only composite path — vs the oracle
    gm and MAD trio for every series: over all channels (the tier_batch /
    q_geomedian_mads shape, including series split across Arrow batches) and
    over one channel (p=1, the q_geomedian_1d / q_mads_fixed_p1 shape)."""
    pdf = dense.toPandas()
    for channels in (CHANNELS, ["turn_rate"]):
        out = geomedian_mads_flat(dense, channels).toPandas().set_index("conv_id")
        _assert_gm_mads_match_oracle(out, _series_matrices(pdf, channels), channels)


def test_change_features_match_oracle(dense):
    feats = (
        change_features(dense, "turn_rate").toPandas().set_index("conv_id")
    )
    comp = complexity(dense, "turn_rate").toPandas().set_index("conv_id")
    mats = _series_matrices(dense.toPandas(), ["turn_rate"])
    for cid, X in list(mats.items())[:20]:
        x = X[0][None, None, :].astype(np.float32)  # (1,1,n)
        if x.shape[-1] < 3:
            continue
        npt.assert_allclose(
            feats.loc[cid, "mean_change"], hdo.mean_change(x)[0, 0], rtol=1e-4, atol=1e-4
        )
        npt.assert_allclose(
            feats.loc[cid, "median_change"], hdo.median_change(x)[0, 0], rtol=1e-4, atol=1e-4
        )
        npt.assert_allclose(
            feats.loc[cid, "mean_abs_change"], hdo.mean_abs_change(x)[0, 0], rtol=1e-4, atol=1e-4
        )
        npt.assert_allclose(
            feats.loc[cid, "mean_central_diff"],
            hdo.mean_central_diff(x)[0, 0],
            rtol=1e-4,
            atol=1e-4,
        )
        with np.errstate(all="ignore"):
            expect_c = hdo.complexity(x.astype(np.float64))[0, 0]
        got_c = comp.loc[cid, "complexity"]
        if np.isnan(expect_c):
            assert got_c is None or np.isnan(got_c)
        else:
            npt.assert_allclose(got_c, expect_c, rtol=1e-3, atol=1e-4)


def test_fourier_matches_oracle(dense):
    st = series_table(dense, ["turn_rate"])
    ff = (
        fourier_features_batched(st, "turn_rate", n=2, step=3)
        .toPandas()
        .set_index("conv_id")
    )
    mats = _series_matrices(dense.toPandas(), ["turn_rate"])
    for cid, X in list(mats.items())[:15]:
        x = X[0][None, None, :]
        if x.shape[-1] < 8:
            continue
        npt.assert_allclose(
            ff.loc[cid, ["fmean_0", "fmean_1"]].to_numpy(np.float32),
            hdo.fourier_mean(x, n=2, step=3)[0, 0],
            rtol=1e-4,
            atol=1e-3,
        )
        npt.assert_allclose(
            ff.loc[cid, ["fstd_0", "fstd_1"]].to_numpy(np.float32),
            hdo.fourier_std(x, n=2, step=3)[0, 0],
            rtol=1e-4,
            atol=1e-3,
        )
        npt.assert_allclose(
            ff.loc[cid, ["fmedian_0", "fmedian_1"]].to_numpy(np.float32),
            hdo.fourier_median(x, n=2, step=3)[0, 0],
            rtol=1e-4,
            atol=1e-3,
        )


def test_wiener_smooth_matches_oracle(spark, dense):
    """Spark window-function Wiener ≡ reference smooth per series.
    The reference pools noise over the whole stacked array; restrict to
    equal-length series so the oracle can stack them identically."""
    from hdstats_spark.operators.smooth import wiener_smooth

    pdf = dense.toPandas()
    lens = pdf.groupby("conv_id").size()
    keep = lens[lens == lens.mode()[0]].index
    sub = dense.filter(dense.conv_id.isin(list(keep)))
    got = (
        wiener_smooth(sub, "turn_rate", k=3)
        .orderBy("conv_id", "bucket")
        .toPandas()
    )
    sp = pdf[pdf.conv_id.isin(keep)]
    mats = _series_matrices(sp, ["turn_rate"])
    cids = sorted(mats)
    stack = np.stack([mats[c][0] for c in cids])[:, None, :].astype(np.float64)
    expect = hdo.smooth(stack, 3)[:, 0, :]
    got_m = got.pivot(index="conv_id", columns="bucket", values="turn_rate_smooth")
    for i, cid in enumerate(cids):
        g = got_m.loc[cid].dropna().to_numpy()
        npt.assert_allclose(g, expect[i], rtol=1e-4, atol=1e-4)


def test_symmetry_zero_for_constant(spark):
    rows = [
        ("a", i, 2.0, 4.0, 6.0, 8.0, 1.0, 1.0, 1.0, 1.0) for i in range(6)
    ]
    df = spark.createDataFrame(rows, ["conv_id", "bucket", *CHANNELS])
    s = symmetry_agg(df, _gm_only(df), CHANNELS).collect()[0]["symmetry"]
    assert abs(s) < 1e-5


def test_symmetry_matches_oracle(dense):
    """Full engine≡oracle parity for symmetry (ts.pyx:231-243): Spark's
    avg+gm-join expression vs hdstats_oracle.ts.symmetry per series, at the
    reference tolerances."""
    got = (
        symmetry_agg(dense, _gm_only(dense), CHANNELS)
        .toPandas()
        .set_index("conv_id")["symmetry"]
    )
    mats = _series_matrices(dense.toPandas())
    for cid, M in mats.items():
        expect = hdo.symmetry(M[None, None, :, :])[0, 0]
        npt.assert_allclose(got[cid], expect, rtol=1e-4, atol=1e-4)


def test_number_peaks_spark_matches_oracle(dense):
    """Spark wrapper (number_peaks_agg over series_table) ≡ the oracle CWT
    ridge-line count per series — exact integer equality."""
    from hdstats_spark.operators.series import number_peaks_agg

    st = series_table(dense, ["turn_rate"])
    got = (
        number_peaks_agg(st, "turn_rate", n=10)
        .toPandas()
        .set_index("conv_id")["n_peaks"]
    )
    mats = _series_matrices(dense.toPandas(), ["turn_rate"])
    assert len(got) == len(mats)
    for cid, M in mats.items():
        expect = hdo.number_peaks(M[None, :, :], n=10)[0, 0]
        assert got[cid] == expect, cid


def test_geomedian_axis0_matches_oracle(dense):
    """Engine axis-0 surface (geomedian.pyx:379-395): per-series length-n gm
    vector ≡ oracle nangeomedian(M, axis=0) — the axis0 ≡ axis1-of-transpose
    identity at the Spark level."""
    st = series_table(dense, CHANNELS)
    out = (
        geomedian_axis0(st, CHANNELS)
        .toPandas()
        .set_index("conv_id")
    )
    mats = _series_matrices(dense.toPandas())
    assert len(out) == len(mats)
    for cid, M in list(mats.items())[:40]:
        expect = hdo.nangeomedian(M, axis=0)
        got = np.asarray(out.loc[cid, "gm"], dtype=np.float32)
        assert out.loc[cid, "n"] == M.shape[1]
        npt.assert_allclose(got, expect, rtol=1e-4, atol=1e-4)
        # the identity itself: axis0(M) == axis1(Mᵀ)
        npt.assert_allclose(
            got, hdo.nangeomedian(M.T, axis=1), rtol=1e-4, atol=1e-4
        )


def test_discordance_and_dtw(dense):
    """discordance_batched and dtw_area_batched (area-warp L1 mode and the
    banded-DTW mode q_dtw_area runs) vs the oracle per series."""
    # align on the bucket index; restrict to equal-length series for an exact
    # oracle comparison (the reference's stacks share one time axis)
    pdf = dense.toPandas()
    lens = pdf.groupby("conv_id").size()
    nmode = lens.mode()[0]
    keep = lens[lens == nmode].index
    sub = dense.filter(dense.conv_id.isin([str(k) for k in keep]))
    area = sub.groupBy("t").agg(
        F.avg(F.col("turn_rate").cast("float")).alias("mean"),
        F.expr("percentile(cast(turn_rate as double), 0.5)").alias("median"),
    ).orderBy("t").toPandas()
    # phase 1 of discordance: |ifft| low-pass of the area-mean curve
    Y = np.fft.fft(area["mean"].to_numpy(dtype=np.float32))
    Y[3:] = 0.0
    area_lp = np.abs(np.fft.ifft(Y)).astype(np.float32)
    ref = area["median"].to_numpy(dtype=np.float64)

    st = series_table(sub, ["turn_rate"])
    disc = discordance_batched(st, "turn_rate", area_lp, n=3).toPandas().set_index("conv_id")
    warp = dtw_area_batched(st, "turn_rate", ref, l1_mode=True).toPandas().set_index("conv_id")

    sp = pdf[pdf.conv_id.isin(keep)]
    mats = _series_matrices(sp, ["turn_rate"])
    cids = sorted(mats)
    stack = np.stack([mats[c][0] for c in cids])[:, None, :]  # (Y,1,n)
    o_disc = hdo.discordance(stack.astype(np.float32), n=3)[:, 0]
    o_warp = hdo.area_warp_similarity(stack.astype(np.float32))[:, 0]
    got_disc = disc.loc[cids, "discordance"].to_numpy(np.float32)
    got_warp = warp.loc[cids, "dtw_dist"].to_numpy(np.float32)
    npt.assert_allclose(got_disc, o_disc, rtol=1e-3, atol=1e-3)
    npt.assert_allclose(got_warp, o_warp, rtol=1e-3, atol=1e-3)
    # window=8 is q_dtw_area's band; the fixture's equal-length series are
    # shorter than that, so window=0 (q_dtw_diag's diagonal band) is the case
    # where the band binds
    for window in (8, 0):
        band = dtw_area_batched(st, "turn_rate", ref, window=window).toPandas()
        got_band = band.set_index("conv_id").loc[cids, "dtw_dist"].to_numpy(np.float32)
        o_band = [
            hdo.local_dtw(ref.reshape(-1, 1), stack[i, 0].reshape(-1, 1), window)[0]
            for i in range(len(cids))
        ]
        npt.assert_allclose(got_band, np.float32(o_band), rtol=1e-4, atol=1e-4)


def test_dtw_path_matches_oracle(dense):
    """dtw_path_batched (q_dtw_path / q_dtw_diag_path's operator) vs the
    oracle's banded DTW per series: distance at 1e-4, warp path (i, j) rows
    exactly.  Equal-length series first, then every series of the fixture
    (short conversations and the hot one, so Arrow batches mix lengths on
    one padded grid).  window=8 is q_dtw_path's band, window=0
    q_dtw_diag_path's."""
    pdf = dense.toPandas()
    lens = pdf.groupby("conv_id").size()
    keep = lens[lens == lens.mode()[0]].index
    sub = dense.filter(dense.conv_id.isin([str(k) for k in keep]))
    for frame in (sub, dense):
        ref = (
            frame.groupBy("t")
            .agg(F.expr("percentile(cast(turn_rate as double), 0.5)").alias("median"))
            .orderBy("t")
            .toPandas()["median"]
            .to_numpy(dtype=np.float64)
        )
        # the operator runs the reference curve in float32
        ref32 = ref.astype(np.float32).astype(np.float64)
        mats = _series_matrices(frame.toPandas(), ["turn_rate"])
        st = series_table(frame, ["turn_rate"])
        for window in (8, 0):
            got = dtw_path_batched(st, "turn_rate", ref, window=window).toPandas()
            assert sorted(got["conv_id"].unique()) == sorted(mats)
            for cid, g in got.groupby("conv_id"):
                g = g.sort_values("step")
                x = mats[cid][0].astype(np.float64)
                L = len(x)
                dist, _D, path = hdo.local_dtw(
                    ref32[:L].reshape(-1, 1), x.reshape(-1, 1), window
                )
                assert (g["n"] == L).all()
                npt.assert_array_equal(g["step"], np.arange(path.shape[1]))
                npt.assert_allclose(g["dtw_dist"], np.float32(dist), rtol=1e-4, atol=1e-4)
                npt.assert_array_equal(g["i"], path[0])
                npt.assert_array_equal(g["j"], path[1])
