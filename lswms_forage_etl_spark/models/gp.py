"""M2 — Gaussian-process time-series forecast, per zone.

Reference (GaussianProcesses.py:12-54): pyro GPRegression with an RBF kernel
(lengthscale 60, variance 0.5), noise 0.01, mean-centered y, 10 SVI/Adam
steps, predictions at X ∪ {max+16, max+32, max+48} days.

Engine form: an EXACT GP posterior mean with the same kernel/noise
hyperparameters, computed in closed form with numpy (pyro is not a public
dependency of this engine; 10 SVI steps barely move the reference's
hyperparameters, so the fixed-hyperparameter exact posterior is the cleaner,
deterministic statistical equivalent — rows-only oracle per SURVEY §5).
MEASURED deviation vs an SVI-drift replay (10 Adam steps on the exact lml,
which is what SVI does for an exact GPR) on the reference's own 151-zone
woredas.csv series: hyperparameters drift ~10%, posterior means differ by
0.0155 mean / 0.018 max at the last in-sample point (biomass scale 0.434),
growing to 0.16 max at the +48-day extrapolation horizon — see
tests/test_model_parity.py.

Distribution: each zone is an independent GP, but zones are not Spark
groups. `map_zone_buckets` hashes zone_id into defaultParallelism buckets
and calls one pandas function per bucket; inside it `zone_panels` stacks
the zones that share a day-offset vector (the forage dataflow gives every
zone the same raster dates) into one panel, whose kernel matrix is built
and solved once for all of its zones as right-hand sides. A bucket is a
few numpy solves however many zones it holds, so the per-group cost of a
pandas call is paid per bucket, not per zone.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from lswms_forage_etl_spark.schemas import FORECAST

RBF_LENGTHSCALE = 60.0
RBF_VARIANCE = 0.5
NOISE = 0.01
HORIZON_DAYS = (16, 32, 48)
LEADS = (0, *HORIZON_DAYS)  # the anchor point, then the forecast horizons


def _rbf(a: np.ndarray, b: np.ndarray,
         ls: float = RBF_LENGTHSCALE, var: float = RBF_VARIANCE) -> np.ndarray:
    d = a[:, None] - b[None, :]
    return var * np.exp(-0.5 * (d / ls) ** 2)


def gp_posterior_mean(x: np.ndarray, y: np.ndarray, x_star: np.ndarray,
                      noise: float = NOISE) -> np.ndarray:
    """Exact GP regression posterior mean with mean-centered y
    (reference GaussianProcesses.py:28,52 re-adds the mean).

    `y` is (n,) or (n, k): k series observed at the same `x` share one
    kernel matrix and one solve, each centered on its own mean; the result
    is (len(x_star),) or (len(x_star), k)."""
    mu = np.mean(y, axis=0)
    k = _rbf(x, x) + noise * np.eye(len(x))
    alpha = np.linalg.solve(k, y - mu)
    return _rbf(x_star, x) @ alpha + mu


def zone_panels(pdf: pd.DataFrame, min_len: int
                ) -> Iterator[tuple[np.ndarray, np.ndarray, np.ndarray,
                                    np.ndarray]]:
    """Split a bucket's (zone_id, date, biomass) rows into panels.

    Null biomass is dropped and each zone's series is sorted by date; its
    x is the day offset from the zone's first date (C4 days-since-start).
    Zones with fewer than `min_len` points are skipped. Zones with the same
    x share a panel. Yields (x, zones, t0, y): x (n,), zones (k,), each
    zone's first date t0 (k,) as datetime64[D], and y (n, k)."""
    pdf = pdf.dropna(subset=["biomass"]).sort_values(["zone_id", "date"])
    zone = pdf["zone_id"].to_numpy()
    day = pd.to_datetime(pdf["date"]).to_numpy().astype("datetime64[D]")
    val = pdf["biomass"].to_numpy(dtype=float)
    starts = np.flatnonzero(np.r_[True, zone[1:] != zone[:-1]])
    panels: dict[bytes, tuple[np.ndarray, list, list, list]] = {}
    for lo, hi in zip(starts, np.r_[starts[1:], len(zone)]):
        if hi - lo < min_len:
            continue
        x = (day[lo:hi] - day[lo]).astype(float)
        _, zones, t0, ys = panels.setdefault(x.tobytes(), (x, [], [], []))
        zones.append(zone[lo])
        t0.append(day[lo])
        ys.append(val[lo:hi])
    for x, zones, t0, ys in panels.values():
        yield (x, np.array(zones, dtype=object), np.array(t0),
               np.stack(ys, axis=1))


def panel_rows(zones: np.ndarray, t0: np.ndarray, x_star: np.ndarray,
               value: np.ndarray) -> pd.DataFrame:
    """(zone_id, date, horizon_days, value) rows for one panel's
    predictions `value`, (len(LEADS), k), made at the day offsets
    x_star = x_end + LEADS."""
    return pd.DataFrame({
        "zone_id": np.repeat(zones, len(LEADS)),
        "date": (t0[:, None] + x_star.astype(int)[None, :]
                 ).ravel().astype(object),
        "horizon_days": np.tile(LEADS, len(zones)),
        "value": value.T.ravel(),
    })


def _forecast_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
    """Each zone's series -> 4 rows: last in-sample point + 3 horizons
    (reference BiomassForecast.py:78 keeps the tail-4)."""
    out = []
    for x, zones, t0, y in zone_panels(pdf, min_len=2):
        x_star = x[-1] + np.array(LEADS, dtype=float)
        mean = gp_posterior_mean(x, y, x_star)
        # S15 rounds to 4 dp (BiomassForecast.py:121)
        out.append(panel_rows(zones, t0, x_star, np.round(mean, 4))
                   .rename(columns={"value": "mean"}))
    if not out:
        return pd.DataFrame(columns=FORECAST.fieldNames())
    return pd.concat(out, ignore_index=True)


def map_zone_buckets(zone_series: DataFrame,
                     fn: Callable[[pd.DataFrame], pd.DataFrame],
                     schema: StructType) -> DataFrame:
    """F6 null-filter, then one `fn` call per bucket of zones: zone_id is
    hashed into defaultParallelism buckets, one per core."""
    n = zone_series.sparkSession.sparkContext.defaultParallelism
    return (zone_series.where(F.col("biomass").isNotNull())
            .groupBy(F.pmod(F.xxhash64("zone_id"), F.lit(n)))
            .applyInPandas(fn, schema=schema))


def gp_forecast(zone_series: DataFrame) -> DataFrame:
    """F6 null-filter -> per-zone GP -> FORECAST rows."""
    return map_zone_buckets(zone_series, _forecast_bucket, FORECAST)
