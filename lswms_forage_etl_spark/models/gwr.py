"""M1 — Geographically Weighted Regression, fit-small / score-distributed.

Reference (gwr_model.py:68-103): mgwr `Sel_BW(...).search()` (golden-section
over AICc) picks an adaptive bandwidth, then `GWR(coords, y, X, bw,
fixed=False, kernel='gaussian')` fits and predicts at ALL input points (the
calibration holdout mask is degenerate — it selects 0 points, :77).

GWR is local by construction: each prediction is a kernel-weighted WLS over
the calibration set, with an adaptive gaussian kernel whose scale is the
distance to the bw-th nearest calibration neighbor. The engine therefore:

  1. collects the calibration set to the driver (19k x 4 doubles ≈ 600 KB;
     at 100 TB the calibration set is a bounded SAMPLE — `df.sample` or
     per-tile stratified sample — never the full data),
  2. broadcasts it,
  3. scores with `mapInPandas`: each Arrow batch solves its own WLS systems
     vectorized in numpy — embarrassingly parallel over the full table.
     Per chunk of prediction rows the kernel weights come from squared
     distances computed in place, every normal-equation entry from one
     GEMM against the calibration set's [vec(x xᵀ), x·y] matrix, and the
     small (p x p) systems from one batched solve.

Bandwidth selection is a golden-section search over leave-one-out CV RMSE
(mgwr optimizes AICc; same shape — bit-exact parity with mgwr's iterative
search is impractical and not attempted, SURVEY §7 risks). MEASURED parity
on the reference's own combined.csv vs its committed mgwr predictions
(results.csv, all 19,125 points): corr 0.99892, rmse 0.00258, and
fit-vs-actual-NDVI RMSE within 0.0002 of mgwr's (0.03357 vs 0.03338) —
see tests/test_model_parity.py. Rows-only oracle.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType


def _wls_predict(coords_cal: np.ndarray, x_cal: np.ndarray, y_cal: np.ndarray,
                 coords_pred: np.ndarray, x_pred: np.ndarray,
                 bw_k: int) -> np.ndarray:
    """Batched weighted least squares (gaussian GWR) with an adaptive
    kernel whose scale h is the distance to the bw_k-th nearest
    calibration point.

    Every normal-equation entry is a kernel-weighted sum over the
    calibration rows of one column of G = [vec(x xᵀ), x·y], so a chunk of
    prediction rows gets all of them from one GEMM, w @ G. The chunk's
    squared distances are turned into weights in place; h² is read from
    d² (the order statistic is the same), so no square root is taken.
    Chunk size bounds the two (chunk x n_cal) buffers to ~2 MB each, so
    the passes over them stay in cache."""
    n, p = len(coords_cal), x_cal.shape[1] + 1
    m = len(coords_pred)
    xt = np.hstack([np.ones((n, 1)), x_cal])                # intercept
    xp = np.hstack([np.ones((m, 1)), x_pred])
    g = np.hstack([(xt[:, :, None] * xt[:, None, :]).reshape(n, p * p),
                   xt * y_cal[:, None]])                    # (n, p²+p)
    k = min(bw_k, n - 1)
    out = np.empty(m)
    chunk = max(8, 250_000 // max(n, 1))
    buf_w = np.empty((min(chunk, m), n))
    buf_t = np.empty_like(buf_w)
    for lo in range(0, m, chunk):
        hi = min(lo + chunk, m)
        c = hi - lo
        w, t = buf_w[:c], buf_t[:c]
        np.subtract(coords_cal[None, :, 0], coords_pred[lo:hi, 0, None], out=w)
        np.multiply(w, w, out=w)
        np.subtract(coords_cal[None, :, 1], coords_pred[lo:hi, 1, None], out=t)
        np.multiply(t, t, out=t)
        w += t                                              # (c, n) d²
        np.copyto(t, w)
        t.partition(k, axis=1)
        h2 = np.maximum(t[:, k], 1e-18)
        w *= (-0.5 / h2)[:, None]
        np.exp(w, out=w)                                    # (c, n) weights
        s = w @ g                                           # (c, p²+p)
        a = s[:, :p * p].reshape(c, p, p)
        b = s[:, p * p:]
        try:
            beta = np.linalg.solve(a, b[..., None])[..., 0]
        except np.linalg.LinAlgError:                            # rare: fall
            beta = np.stack([np.linalg.lstsq(a[i], b[i], rcond=None)[0]
                             for i in range(c)])                 # back per row
        out[lo:hi] = np.einsum("cp,cp->c", xp[lo:hi], beta)
    return out


def select_bandwidth(coords: np.ndarray, x: np.ndarray, y: np.ndarray,
                     lo: int = 16, hi: int | None = None,
                     max_eval_points: int = 500, seed: int = 7) -> int:
    """Golden-section search over adaptive-NN bandwidth minimizing holdout
    CV RMSE on a bounded evaluation subsample excluded from the fit set
    (driver-side, O(seconds))."""
    hi = hi or max(lo + 1, len(coords) - 1)
    rng = np.random.RandomState(seed)
    n = len(coords)
    idx = rng.choice(n, size=min(max_eval_points, max(1, n // 2)),
                     replace=False)
    # true holdout: the evaluation points are EXCLUDED from the fit set —
    # otherwise each prediction includes itself at distance 0 (kernel
    # weight 1), biasing the search toward tiny bandwidths
    mask = np.ones(n, dtype=bool)
    mask[idx] = False

    def score(k: int) -> float:
        k = int(round(k))
        pred = _wls_predict(coords[mask], x[mask], y[mask],
                            coords[idx], x[idx], k)
        return float(np.sqrt(np.mean((pred - y[idx]) ** 2)))

    phi = (math.sqrt(5) - 1) / 2
    a, b = float(lo), float(hi)
    c, d = b - phi * (b - a), a + phi * (b - a)
    fc, fd = score(c), score(d)
    for _ in range(12):
        if b - a < 2:
            break
        if fc < fd:
            b, d, fd = d, c, fc
            c = b - phi * (b - a)
            fc = score(c)
        else:
            a, c, fc = c, d, fd
            d = a + phi * (b - a)
            fd = score(d)
    return int(round((a + b) / 2))


def gwr_fit_score(df: DataFrame,
                  feature_cols: list[str] = ("sm", "preci"),
                  target_col: str = "ndvi",
                  coord_cols: tuple[str, str] = ("lon", "lat"),
                  bandwidth: int | None = None,
                  max_calibration_rows: int = 50_000,
                  seed: int = 7) -> DataFrame:
    """Fit on a collected (bounded) calibration set, score distributed.

    Adds a `pred` column. NaNs in features are zero-filled first
    (reference gwr_model.py:40 `data.replace(np.nan, 0)`).
    """
    feature_cols = list(feature_cols)
    clean = df.fillna(0, subset=feature_cols + [target_col])
    # bounded calibration set in ONE job: hash-ordered top-k
    # (TakeOrderedAndProject — per-partition heaps, no full sort, no
    # count() pre-scan; VERDICT r1). The hash order is a deterministic
    # uniform draw, so the cap is an unbiased sample.
    cal_cols = [*coord_cols, *feature_cols, target_col]
    pdf = (clean.select(*cal_cols)
           .orderBy(F.xxhash64(*cal_cols, F.lit(seed)))
           .limit(max_calibration_rows)
           .toPandas())
    coords = pdf[list(coord_cols)].to_numpy(float)
    x_cal = pdf[feature_cols].to_numpy(float)
    y_cal = pdf[target_col].to_numpy(float)
    bw = bandwidth or select_bandwidth(coords, x_cal, y_cal)

    spark = df.sparkSession
    b_cal = spark.sparkContext.broadcast((coords, x_cal, y_cal, bw))
    # copy — StructType.add mutates in place, corrupting clean's cached schema
    out_schema = StructType(
        list(clean.schema.fields) + [StructField("pred", DoubleType(), True)])
    cols = clean.columns

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        coords_c, xc, yc, bw_k = b_cal.value
        for pdf_b in batches:
            cp = pdf_b[list(coord_cols)].to_numpy(float)
            xp = pdf_b[feature_cols].to_numpy(float)
            pdf_b = pdf_b.copy()
            pdf_b["pred"] = _wls_predict(coords_c, xc, yc, cp, xp, bw_k)
            yield pdf_b[cols + ["pred"]]

    return clean.mapInPandas(score, schema=out_schema)
