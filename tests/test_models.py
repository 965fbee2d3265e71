"""M1 GWR and M2 GP structural checks (SURVEY §5: rows-only oracles —
shape, determinism, finiteness, statistical sanity; not value parity),
plus parity of the batched kernels against the per-point / per-zone
loops they replaced, which are kept here as references."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lswms_forage_etl_spark.models.gp import (
    HORIZON_DAYS,
    _forecast_bucket,
    gp_forecast,
    gp_posterior_mean,
)
from lswms_forage_etl_spark.models.gwr import _wls_predict, gwr_fit_score
from lswms_forage_etl_spark.operators.hindcast import (
    MAX_REFITS,
    _hindcast_bucket,
    hindcast_tall,
    lag_matrix,
    tail_k_per_group,
)


def _series(spark, zones=3, n=24, with_nulls=True):
    rows = []
    for z in range(zones):
        for i in range(n):
            d = dt.date(2023, 1, 1) + dt.timedelta(days=16 * i)
            v = None if (with_nulls and i % 11 == 5) else \
                float(1.0 + 0.5 * np.sin(i / 3) + 0.05 * z)
            rows.append((f"Z{z}", d, v))
    return spark.createDataFrame(rows, "zone_id string, date date, biomass double")


def test_gp_forecast_shape_and_determinism(spark):
    out1 = gp_forecast(_series(spark)).orderBy("zone_id", "horizon_days")
    rows1 = out1.collect()
    # exactly 4 rows per zone: last in-sample + 3 horizons
    assert len(rows1) == 3 * 4
    per_zone = {}
    for r in rows1:
        per_zone.setdefault(r["zone_id"], []).append(r["horizon_days"])
        assert r["mean"] is not None and np.isfinite(r["mean"])
    assert all(sorted(h) == [0, 16, 32, 48] for h in per_zone.values())
    rows2 = gp_forecast(_series(spark)).orderBy("zone_id", "horizon_days").collect()
    assert [r["mean"] for r in rows1] == [r["mean"] for r in rows2]


def test_gp_posterior_interpolates():
    # at observed points with tiny noise the posterior ~ the data
    x = np.arange(0, 160, 16.0)
    y = np.sin(x / 60.0)
    m = gp_posterior_mean(x, y, x)
    assert np.max(np.abs(m - y)) < 0.05


def test_hindcast_tall_and_lag_matrix(spark):
    tall = hindcast_tall(_series(spark, zones=2, n=12, with_nulls=False))
    rows = tall.collect()
    # per zone: n=12 -> start=6, refits=min(100, 12-6)=6 -> 6*4 rows
    assert len(rows) == 2 * 6 * 4
    wide = lag_matrix(tall)
    assert set(wide.columns) == {
        "zone_id", "date", "lag_0_day", "lag_16_day", "lag_32_day", "lag_48_day"}
    # a mid-series date reached by all four horizons has all lags populated
    full = wide.where(
        F.col("lag_0_day").isNotNull() & F.col("lag_16_day").isNotNull()
        & F.col("lag_32_day").isNotNull() & F.col("lag_48_day").isNotNull())
    assert full.count() > 0


def test_tail_k(spark):
    df = _series(spark, zones=2, n=10, with_nulls=False)
    out = tail_k_per_group(df, k=4)
    assert out.count() == 8
    last = out.groupBy("zone_id").agg(F.max("date").alias("m")).collect()
    exp = dt.date(2023, 1, 1) + dt.timedelta(days=16 * 9)
    assert all(r["m"] == exp for r in last)


def test_gwr_recovers_linear_signal(spark):
    # ndvi = 0.3*sm + 0.1*preci + small spatial term -> distributed scoring
    # should track the signal closely everywhere
    rng = np.random.RandomState(0)
    n = 800
    lon = rng.uniform(36, 49, n)
    lat = rng.uniform(0, 15, n)
    sm = rng.uniform(0, 1, n)
    preci = rng.uniform(0, 1, n)
    ndvi = 0.3 * sm + 0.1 * preci + 0.01 * np.sin(lon) + rng.normal(0, 0.005, n)
    df = spark.createDataFrame(
        [tuple(map(float, t)) for t in zip(lon, lat, sm, preci, ndvi)],
        "lon double, lat double, sm double, preci double, ndvi double")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    scored = gwr_fit_score(df, bandwidth=60)
    # VERDICT r1: calibration is ONE collect (hash-ordered top-k), not
    # count + sample + collect
    assert len(tracker.getJobIdsForGroup(None)) - before <= 2
    out = scored.withColumn(
        "err", F.abs(F.col("pred") - F.col("ndvi")))
    rmse = out.agg(F.sqrt(F.avg(F.col("err") ** 2))).collect()[0][0]
    assert rmse < 0.05


# ---------------------------------------------------------------------------
# Reference kernels: the per-chunk hypot/einsum GWR and the one-zone-at-a-
# time GP forecast and hindcast that the batched kernels replaced.
# ---------------------------------------------------------------------------

def _ref_weights(d, bw_k):
    h = np.partition(d, min(bw_k, d.shape[-1] - 1), axis=-1)[
        ..., min(bw_k, d.shape[-1] - 1)]
    h = np.maximum(h, 1e-9)
    return np.exp(-0.5 * (d / h[..., None]) ** 2)


def _ref_wls_predict(coords_cal, x_cal, y_cal, coords_pred, x_pred, bw_k):
    n = len(coords_cal)
    m = len(coords_pred)
    xt = np.hstack([np.ones((n, 1)), x_cal])
    xp = np.hstack([np.ones((m, 1)), x_pred])
    out = np.empty(m)
    chunk = max(8, int(2_000_000 / max(n, 1)))
    for lo in range(0, m, chunk):
        hi = min(lo + chunk, m)
        cp = coords_pred[lo:hi]
        d = np.hypot(coords_cal[None, :, 0] - cp[:, 0, None],
                     coords_cal[None, :, 1] - cp[:, 1, None])
        w = _ref_weights(d, bw_k)
        xw = xt[None, :, :] * w[:, :, None]
        a = np.einsum("cnp,nq->cpq", xw, xt)
        b = np.einsum("cnp,n->cp", xw, y_cal)
        try:
            beta = np.linalg.solve(a, b[..., None])[..., 0]
        except np.linalg.LinAlgError:
            beta = np.stack([np.linalg.lstsq(a[i], b[i], rcond=None)[0]
                             for i in range(len(a))])
        out[lo:hi] = np.einsum("cp,cp->c", xp[lo:hi], beta)
    return out


def _ref_forecast_group(pdf):
    pdf = pdf.dropna(subset=["biomass"]).sort_values("date")
    if len(pdf) < 2:
        return pd.DataFrame(columns=["zone_id", "date", "horizon_days", "mean"])
    dates = pd.to_datetime(pdf["date"])
    t0 = dates.iloc[0]
    x = (dates - t0).dt.days.to_numpy(dtype=float)
    y = pdf["biomass"].to_numpy(dtype=float)
    x_star = np.array([x[-1]] + [x[-1] + h for h in HORIZON_DAYS])
    mean = gp_posterior_mean(x, y, x_star)
    return pd.DataFrame({
        "zone_id": pdf["zone_id"].iloc[0],
        "date": [(t0 + pd.Timedelta(days=int(d))).date() for d in x_star],
        "horizon_days": [0, *HORIZON_DAYS],
        "mean": np.round(mean, 4),
    })


def _ref_hindcast_group(pdf):
    cols = ["zone_id", "date", "horizon_days", "value"]
    pdf = pdf.dropna(subset=["biomass"]).sort_values("date")
    n = len(pdf)
    if n < 4:
        return pd.DataFrame(columns=cols)
    dates = pd.to_datetime(pdf["date"])
    x = (dates - dates.iloc[0]).dt.days.to_numpy(float)
    y = pdf["biomass"].to_numpy(float)
    start = n // 2
    rows = []
    zone = pdf["zone_id"].iloc[0]
    for cut in range(start, start + min(MAX_REFITS, n - start)):
        xs = np.array([x[cut - 1] + h for h in (0, *HORIZON_DAYS)])
        mean = gp_posterior_mean(x[:cut], y[:cut], xs)
        for h, m in zip((0, *HORIZON_DAYS), mean):
            rows.append((zone, (dates.iloc[0] + pd.Timedelta(
                days=int(x[cut - 1] + h))).date(), int(h), float(m)))
    return pd.DataFrame(rows, columns=cols)


def _gwr_case(n_pts, seed=3):
    """The pipeline's calibration shape: one row per point per period, so
    every coordinate appears twice with different features/targets."""
    rng = np.random.RandomState(seed)
    pts = np.round(np.c_[rng.uniform(36, 49, n_pts),
                         rng.uniform(0, 15, n_pts)], 3)
    coords = np.vstack([pts, pts])
    x = rng.uniform(0, 1, (2 * n_pts, 2))
    y = 0.3 * x[:, 0] + 0.1 * x[:, 1] + rng.normal(0, 0.01, 2 * n_pts)
    return coords, x, y


@pytest.mark.parametrize("n_pts,bw_k", [
    (3000, 60),          # several prediction chunks
    (40, 79),            # bw_k >= n - 1 (n = 80): h is the farthest point
    (40, 200),
])
def test_gwr_kernel_matches_reference(n_pts, bw_k):
    coords, x, y = _gwr_case(n_pts)
    rng = np.random.RandomState(5)
    idx = rng.choice(len(coords), size=min(len(coords), 600), replace=False)
    cp = np.vstack([coords[idx], np.c_[rng.uniform(36, 49, 50),
                                       rng.uniform(0, 15, 50)]])
    xp = np.vstack([x[idx], rng.uniform(0, 1, (50, 2))])
    want = _ref_wls_predict(coords, x, y, cp, xp, bw_k)
    got = _wls_predict(coords, x, y, cp, xp, bw_k)
    np.testing.assert_allclose(got, want, rtol=1e-10, atol=0)


def test_gwr_kernel_singular_system_takes_lstsq_fallback(monkeypatch):
    # all-zero features (an all-null feature zero-filled) make every normal
    # matrix singular: the batched solve raises and lstsq answers per row
    coords, x, y = _gwr_case(200)
    x = np.zeros_like(x)
    want = _ref_wls_predict(coords, x, y, coords[:50], x[:50], 30)
    calls = []
    lstsq = np.linalg.lstsq
    monkeypatch.setattr(np.linalg, "lstsq",
                        lambda *a, **k: calls.append(1) or lstsq(*a, **k))
    got = _wls_predict(coords, x, y, coords[:50], x[:50], 30)
    assert len(calls) == 50
    np.testing.assert_allclose(got, want, rtol=1e-10, atol=0)


def _zone_frame():
    """Zones with nulls, lengths 2/13/24, start dates shifted by a few
    days, and zones below the forecast (n<2) and hindcast (n<4) minimums."""
    rows = []
    specs = [  # (zone, n, start shift in days, null positions)
        ("A", 24, 0, ()), ("B", 24, 5, ()), ("C", 24, 0, (3, 17)),
        ("D", 13, 0, ()), ("E", 13, 9, (12,)), ("F", 2, 0, ()),
        ("G", 3, 2, ()), ("H", 1, 0, ()), ("I", 5, 0, (0, 1, 2, 3)),
        ("J", 24, 11, (3, 17)),
    ]
    for z, (zone, n, shift, nulls) in enumerate(specs):
        start = dt.date(2023, 1, 1) + dt.timedelta(days=shift)
        for i in range(n):
            v = None if i in nulls else float(
                0.4 + 0.3 * np.sin(i / 3 + z) + 0.01 * z)
            rows.append((zone, start + dt.timedelta(days=16 * i), v))
    return pd.DataFrame(rows, columns=["zone_id", "date", "biomass"])


def _by_key(pdf, value):
    return {(r.zone_id, r.date, int(r.horizon_days)): getattr(r, value)
            for r in pdf.itertuples()}


def _per_zone(fn, pdf):
    parts = [fn(g) for _, g in pdf.groupby("zone_id")]
    return pd.concat([p for p in parts if len(p)], ignore_index=True)


def test_gp_forecast_panels_match_per_zone_reference():
    pdf = _zone_frame()
    want = _by_key(_per_zone(_ref_forecast_group, pdf), "mean")
    got = _by_key(_forecast_bucket(pdf), "mean")
    assert len(want) == 4 * 8            # H and I are below n<2
    assert got == want
    # the bucket a zone hashes into must not change its rows
    assert _by_key(_per_zone(_forecast_bucket, pdf), "mean") == got


def test_hindcast_panels_match_per_zone_reference():
    pdf = _zone_frame()
    want = _by_key(_per_zone(_ref_hindcast_group, pdf), "value")
    got = _by_key(_hindcast_bucket(pdf), "value")
    assert set(got) == set(want)
    assert not {k[0] for k in want} & {"F", "G", "H", "I"}
    np.testing.assert_allclose([got[k] for k in want], list(want.values()),
                               rtol=0, atol=1e-12)
    alone = _by_key(_per_zone(_hindcast_bucket, pdf), "value")
    assert set(alone) == set(got)
    np.testing.assert_allclose([alone[k] for k in got], list(got.values()),
                               rtol=0, atol=1e-12)


def test_bucketed_spark_models_match_reference(spark):
    pdf = _zone_frame()
    df = spark.createDataFrame(
        pdf.astype(object).where(pdf.notna(), None),
        "zone_id string, date date, biomass double")
    fc = gp_forecast(df).toPandas()
    assert _by_key(fc, "mean") == _by_key(
        _per_zone(_ref_forecast_group, pdf), "mean")
    tall = hindcast_tall(df).toPandas()
    want = _by_key(_per_zone(_ref_hindcast_group, pdf), "value")
    got = _by_key(tall, "value")
    assert set(got) == set(want)
    np.testing.assert_allclose([got[k] for k in want], list(want.values()),
                               rtol=0, atol=1e-12)
