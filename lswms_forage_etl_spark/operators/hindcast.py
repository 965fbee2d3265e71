"""W2/W3/W4 — expanding-window hindcasts and the lag matrix.

Reference (BiomassHindcasts.py:42-77): per zone, for cut-points from the
halfway index (capped at min(100, n/2) refits, :43), fit the GP on rows
[:cut] and predict 4 horizons; horizon h is stored diagonally at row cut+h,
column h — yielding the '0/16/32/48 day lag time' matrix (:67-69, 91-94).

Engine form: the zone buckets and panels of `models.gp` (one pandas call
per bucket of zones; zones with the same day offsets share a panel) emit
TALL rows (zone_id, date, horizon_days, value); the diagonal positional
write becomes a keyed pivot — fragile index arithmetic replaced by (zone,
date, horizon) keys (SURVEY §2.4 J5). The refit loop runs per panel, not
per zone: each cut is one solve with the panel's zones as right-hand
sides (the same cut-point semantics, no cross-zone state).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType, DoubleType, IntegerType, StringType, StructField, StructType,
)

from lswms_forage_etl_spark.models.gp import (
    HORIZON_DAYS, LEADS, gp_posterior_mean, map_zone_buckets, panel_rows,
    zone_panels,
)

HINDCAST_SCHEMA = StructType([
    StructField("zone_id", StringType(), False),
    StructField("date", DateType(), False),
    StructField("horizon_days", IntegerType(), False),
    StructField("value", DoubleType(), True),
])

MAX_REFITS = 100  # reference cap min(100, n/2) at BiomassHindcasts.py:43


def _hindcast_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
    out = []
    for x, zones, t0, y in zone_panels(pdf, min_len=4):
        n = len(x)
        start = n // 2                   # halfway index (:38-39)
        for cut in range(start, start + min(MAX_REFITS, n - start)):
            xs = x[cut - 1] + np.array(LEADS, dtype=float)
            mean = gp_posterior_mean(x[:cut], y[:cut], xs)
            out.append(panel_rows(zones, t0, xs, mean))
    if not out:
        return pd.DataFrame(columns=HINDCAST_SCHEMA.fieldNames())
    return pd.concat(out, ignore_index=True)


def hindcast_tall(zone_series: DataFrame) -> DataFrame:
    """W2 — tall (zone_id, date, horizon_days, value) hindcast rows."""
    return map_zone_buckets(zone_series, _hindcast_bucket, HINDCAST_SCHEMA)


def lag_matrix(tall: DataFrame) -> DataFrame:
    """W3 — pivot horizons into the '0/16/32/48 day lag time' wide columns,
    keyed on (zone_id, date) instead of array position."""
    return (tall.groupBy("zone_id", "date")
            .pivot("horizon_days", [0, *HORIZON_DAYS])
            .agg(F.first("value"))
            .select("zone_id", "date",
                    *[F.col(str(h)).alias(f"lag_{h}_day")
                      for h in (0, *HORIZON_DAYS)]))


def tail_k_per_group(df: DataFrame, k: int = 4,
                     group_col: str = "zone_id",
                     order_col: str = "date") -> DataFrame:
    """W4 — last k rows per group (BiomassForecast.py:78 tail-4)."""
    w = Window.partitionBy(group_col).orderBy(F.col(order_col).desc())
    return (df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k).drop("_rn"))
