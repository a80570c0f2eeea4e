"""Numpy-parity tests for the driver-side calibration solvers:
landmarks -> coefficients -> (where applicable) compiled Column expr."""

from __future__ import annotations

import numpy as np
import pytest

from mpes_spark.analysis.peaks import peakdetect1d, peaksearch
from mpes_spark.calibrate import (
    EnergyCalibrator,
    calibrate_energy_poly,
    calibrate_k,
    dtw_path,
    fit_energy_tof,
    generate_dfield,
    normspec,
    poly_energy_axis,
    tof2ev_model,
    tps_coeffs,
    tps_eval,
)


# -- energy: poly lstsq ----------------------------------------------------

def test_calibrate_energy_poly_recovers_known_coeffs():
    a_true = np.array([2e-9, -1e-6, 0.05])
    pos = np.array([300.0, 350.0, 400.0, 450.0, 500.0])
    # vals differ from the poly by a shared constant -> differencing
    # must recover a exactly
    vals = poly_energy_axis(a_true, 17.3, pos)
    cal = calibrate_energy_poly(pos, vals, order=3, refid=0, Eref=vals[0])
    np.testing.assert_allclose(cal["coeffs"], a_true, rtol=1e-8)
    # Eref pinning: calibrated energy at the reference landmark == Eref
    e_ref = poly_energy_axis(cal["coeffs"], cal["E0"], pos[0])
    np.testing.assert_allclose(e_ref, vals[0], rtol=1e-10)


def test_calibrate_energy_poly_overdetermined_noise():
    rng = np.random.default_rng(3)
    a_true = np.array([1e-9, -2e-6, 0.08])
    pos = np.linspace(250, 600, 12)
    vals = poly_energy_axis(a_true, -3.0, pos) + rng.normal(0, 1e-5, pos.size)
    cal = calibrate_energy_poly(pos, vals, order=3)
    np.testing.assert_allclose(cal["coeffs"], a_true, rtol=5e-2)
    # the fitted law reproduces the observations far better than the
    # coefficient-wise tolerance suggests (correlated coeff errors)
    recon = poly_energy_axis(cal["coeffs"], -3.0, pos)
    np.testing.assert_allclose(recon, vals, atol=1e-3)


# -- energy: nonlinear drift-model fit ------------------------------------

def test_fit_energy_tof_recovers_model():
    # t0 must respect the solver's pole bound t0 < min(pos)*binwidth*2
    d_t, t0_t, e0_t = 1.2, 3e-8, -0.5
    pos = np.linspace(6000, 9000, 8)
    vals = tof2ev_model(d_t, t0_t, e0_t, pos)
    fit = fit_energy_tof(pos, vals, d_init=1.0, t0_init=2e-8, E0_init=0.0)
    recon = tof2ev_model(fit["d"], fit["t0"], fit["E0"], pos)
    np.testing.assert_allclose(recon, vals, rtol=1e-3)
    assert fit["d"] == pytest.approx(d_t, rel=1e-3)
    assert fit["t0"] == pytest.approx(t0_t, rel=1e-3)


# -- momentum --------------------------------------------------------------

def test_calibrate_k_equiscale():
    cal = calibrate_k((128, 128), pxla=(80.0, 64.0), pxlb=(64.0, 64.0),
                      k_ab=1.0, equiscale=True)
    fr, fc = cal["coeffs"]
    assert fr == fc == pytest.approx(1.0 / 16.0)
    k_row, _ = cal["axes"]
    assert k_row[64] == pytest.approx(0.0)


def test_calibrate_k_per_axis():
    cal = calibrate_k(
        (100, 100), pxla=(70.0, 80.0), pxlb=(50.0, 40.0),
        kcoorda=(0.4, 1.2), kcoordb=(0.0, 0.0),
    )
    fr, fc = cal["coeffs"]
    assert fr == pytest.approx(0.4 / 20.0)
    assert fc == pytest.approx(1.2 / 40.0)


# -- TPS -------------------------------------------------------------------

def test_tps_interpolates_landmarks_exactly():
    rng = np.random.default_rng(11)
    src = rng.uniform(0, 100, (9, 2))
    dst = src + rng.normal(0, 3.0, src.shape)
    co = tps_coeffs(src, dst)
    gx, gy = tps_eval(co, src, src[:, 0], src[:, 1])
    np.testing.assert_allclose(gx, dst[:, 0], atol=1e-6)
    np.testing.assert_allclose(gy, dst[:, 1], atol=1e-6)


def test_tps_affine_map_is_exact_everywhere():
    """A pure affine displacement must be reproduced with ~zero warp
    energy at arbitrary evaluation points."""
    src = np.array([[0.0, 0.0], [10.0, 0.0], [0.0, 10.0], [10.0, 10.0], [5.0, 3.0]])
    A = np.array([[1.1, 0.2], [-0.1, 0.9]])
    b = np.array([2.0, -1.0])
    dst = src @ A.T + b
    co = tps_coeffs(src, dst)
    pts = np.array([[3.3, 7.7], [8.1, 1.2]])
    gx, gy = tps_eval(co, src, pts[:, 0], pts[:, 1])
    expect = pts @ A.T + b
    np.testing.assert_allclose(np.c_[gx, gy], expect, atol=1e-8)


def test_tps_expr_matches_numpy_eval(spark):
    """The Spark Column compiled from solved coefficients equals the
    numpy evaluation — the solve -> compile -> execute path."""
    from pyspark.sql import functions as F

    from mpes_spark.transforms.corrections import tps_expr

    rng = np.random.default_rng(5)
    src = rng.uniform(0, 50, (6, 2))
    dst = src + rng.normal(0, 1.0, src.shape)
    co = tps_coeffs(src, dst)
    pts = rng.uniform(0, 50, (40, 2))
    df = spark.createDataFrame(
        [(float(px), float(py)) for px, py in pts], "X double, Y double"
    )
    got = (
        df.select(
            tps_expr("X", "Y", co, src, which=0).alias("gx"),
            tps_expr("X", "Y", co, src, which=1).alias("gy"),
            F.col("X"),
        )
        .orderBy("X")
        .collect()
    )
    order = np.argsort(pts[:, 0])
    ex, ey = tps_eval(co, src, pts[order, 0], pts[order, 1])
    np.testing.assert_allclose([r.gx for r in got], ex, rtol=1e-10)
    np.testing.assert_allclose([r.gy for r in got], ey, rtol=1e-10)


# -- inverse deformation field --------------------------------------------

def test_double_literal_is_the_same_double_in_spark_duckdb_and_numpy(spark):
    """A 17-significant-digit coefficient rendered by ``dlit`` parses to
    the identical double in Spark and DuckDB (typed DOUBLE in both, not
    DECIMAL), so the energy polynomial built from it evaluates
    bit-identically in Spark (``F.expr``), DuckDB and numpy."""
    import duckdb
    from pyspark.sql import functions as F

    from mpes_spark.sqltext import dlit
    from mpes_spark.transforms.energy import tof2ev_poly_expr, tof2ev_poly_sql

    a = [-2.0000000000000004e-10, -1.3049333333333333e-03]
    e0, t = 91.66, 68123.456789012345
    want = (np.float64(a[0]) * t + a[1]) * t + e0
    row = (
        spark.createDataFrame([(t,)], "t double")
        .select(
            tof2ev_poly_expr(a, e0).alias("E"),
            F.expr(f"{dlit(a[1])}").alias("c"),
            F.expr(f"typeof({dlit(a[1])})").alias("ty"),
        )
        .collect()[0]
    )
    con = duckdb.connect()
    try:
        e_duck, c_duck, ty_duck = con.execute(
            f"SELECT {tof2ev_poly_sql(a, e0)}, {dlit(a[1])}, typeof({dlit(a[1])}) "
            f"FROM (SELECT {dlit(t)} AS t)"
        ).fetchone()
    finally:
        con.close()
    assert (row.ty, ty_duck) == ("double", "DOUBLE")
    assert np.float64(row.c).tobytes() == np.float64(c_duck).tobytes() == np.float64(a[1]).tobytes()
    assert np.float64(row.E).tobytes() == np.float64(e_duck).tobytes() == want.tobytes()


def test_generate_dfield_inverts_shift():
    """Forward field = identity + constant shift -> inverse must be
    identity - shift (away from the NaN boundary)."""
    n = 64
    ii, jj = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    rdef = ii + 5.0
    cdef = jj - 3.0
    df = generate_dfield(rdef, cdef, out_shape=(n, n))
    interior = np.s_[20:40, 10:30]
    np.testing.assert_allclose(df[0][interior], (ii - 5.0)[interior], atol=0.51)
    np.testing.assert_allclose(df[1][interior], (jj + 3.0)[interior], atol=0.51)
    # cells farther than fill_iters from the warped footprint stay NaN
    # (the shift pushes the footprint 5 rows down; rows 0-2 are >2 away)
    assert np.isnan(df[0][:2, :]).all()


# -- peaks / DTW -----------------------------------------------------------

def _gauss(x, mu, sig):
    return np.exp(-((x - mu) ** 2) / (2 * sig**2))


def test_peakdetect1d_finds_gaussian_peaks():
    x = np.linspace(0, 100, 2001)
    y = _gauss(x, 30, 2) + 0.6 * _gauss(x, 70, 3)
    maxs, _ = peakdetect1d(y, x, lookahead=40, delta=0.05)
    assert len(maxs) == 2
    np.testing.assert_allclose(maxs[:, 0], [30, 70], atol=0.2)


def test_dtw_path_shifted_signal():
    x = np.linspace(0, 10, 200)
    a = _gauss(x, 4, 0.5)
    b = _gauss(x, 5, 0.5)
    path = np.asarray(dtw_path(a, b))
    ia = np.argmin(np.abs(path[:, 0] - np.argmax(a)))
    # the path maps a's peak close to b's peak
    assert abs(path[ia, 1] - np.argmax(b)) <= 3


def test_energy_calibrator_end_to_end():
    """Synthetic bias scan: traces are shifted copies of one peak whose
    position follows a known poly energy law; the workflow must
    recover coefficients that map landmark tof -> bias."""
    a_true = np.array([3e-9, -2e-6, 0.04])
    tof = np.linspace(200, 800, 1201)
    biases = np.array([10.0, 12.0, 14.0, 16.0, 18.0])
    # invert the (monotone) energy law per bias to place the peak
    peak_tofs = []
    for b in biases:
        e = poly_energy_axis(a_true, 0.0, tof)
        peak_tofs.append(tof[np.argmin(np.abs(e - b))])
    traces = np.array([2.0 * _gauss(tof, pt, 6.0) for pt in peak_tofs])

    cal = (
        EnergyCalibrator(biases, traces, tof)
        .normalize()
        .add_features((peak_tofs[0] - 25, peak_tofs[0] + 25), refid=0)
        .feature_extract(pkwindow=5)
        .calibrate(order=3, refid=0, Eref=biases[0])
    )
    landmarks = np.array(peak_tofs)
    recon = poly_energy_axis(cal["coeffs"], cal["E0"], landmarks)
    np.testing.assert_allclose(recon, biases, atol=0.05)


def test_normspec():
    out = normspec(np.array([0.0, 2.0, 4.0]), np.array([1.0, 1.0, 1.0]))
    np.testing.assert_allclose(out[0], [0, 0.5, 1.0])
    np.testing.assert_allclose(out[1], [1, 1, 1])
