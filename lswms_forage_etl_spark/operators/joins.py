"""J1/J2/J3 — the reference's join surface, Spark-first.

J1  inner equi-join of the per-variable point tables on (lon, lat, date)
    (reference `mergeDataframes`, data_extraction_v2.py:380-381, applied at
    :525-528). Float-key caveat: the reference relies on `round(x, 3)`
    applied to both sides (:342, :355) to make float equality stable — the
    engine rounds explicitly *before* joining (or joins on int point ids).

J2/J3  nearest-neighbor raster sampling (xarray `.sel(method='nearest')` per
    point at :327-345; GEE `sampleRegions` at :365-370). On the reference's
    regular grid this is EXACTLY a snap-to-grid equi-join — compute each
    point's (row, col) with the C22 affine and hash-join on the int pair.
    No KNN machinery, no skew (grid keys are uniform), broadcast when the
    point side is small.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lswms_forage_etl_spark.functions.grid import snap_cell


def round_keys(df: DataFrame, cols: list[str], ndigits: int = 3) -> DataFrame:
    for c in cols:
        df = df.withColumn(c, F.round(F.col(c), ndigits))
    return df


def merge_point_tables(dfs: list[DataFrame],
                       keys: list[str] = ("lon", "lat", "date"),
                       round_ndigits: int | None = 3) -> DataFrame:
    """J1 — chained inner equi-join of per-variable tables on rounded keys."""
    keys = list(keys)
    if round_ndigits is not None:
        float_keys = [k for k in keys if k not in ("date",)]
        dfs = [round_keys(d, float_keys, round_ndigits) for d in dfs]
    return reduce(lambda a, b: a.join(b, keys, "inner"), dfs)


def sample_raster_at_points(points: DataFrame, raster_cells: DataFrame,
                            value_cols: list[str] | None = None) -> DataFrame:
    """J2/J3 — snap points to the grid and equi-join against the long-format
    raster table on (row, col[, date]).

    points: (lon, lat[, ...]); raster_cells: (date, row, col, value...).
    Every point gets every raster date's sample (the reference samples each
    composite image at all 19k points). The ~19k-row point side broadcasts;
    the raster side — the 100 TB side at scale — is never shuffled.
    """
    snapped = snap_cell(points)
    value_cols = value_cols or [
        c for c in raster_cells.columns if c not in ("date", "row", "col")]
    return raster_cells.join(F.broadcast(snapped), ["row", "col"],
                             "inner").select(
        *[c for c in snapped.columns if c not in ("row", "col")],
        "date", *value_cols,
    )
