"""M3 — point-set rasterization as pure relational algebra.

Reference (rasterize.py:79-91): triple Python loop over (year, month, day)
uniques, `rasterio.features.rasterize` burning point values onto the 260x300
grid, fill=0, then `x <= 0 -> -99999`, one GeoTIFF per date.

Engine form — no UDF:
  1. snap points to (row, col) (C22),
  2. one hash agg per (date, row, col) to resolve collisions,
  3. `<=0 -> nodata` on the populated cells only.

The raster stays sparse: at 100 TB you never materialize empty cells. The
dense nodata-filled grid exists only in the GeoTIFF sink
(`sources/sinks.geotiff_export`). The per-date loop becomes a single
`partitionBy('date')` write; F8's O(Y*M*D) subset scan disappears into one
shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lswms_forage_etl_spark.functions.grid import snap_cell
from lswms_forage_etl_spark.schemas import RASTER_NODATA


def rasterize_points(points: DataFrame, value_col: str = "biom",
                     nodata: float = RASTER_NODATA) -> DataFrame:
    """points: (lon, lat, date, value_col) -> populated raster cells
    (date, row, col, value).

    Reference semantics preserved: `round(abs(value), 2)` burn value
    (rasterize.py:47-48), collisions resolved by mean, `<=0 -> nodata`
    (:85-86); the fill of empty cells happens in the GeoTIFF sink.
    """
    return (
        snap_cell(points)
        .withColumn("_v", F.round(F.abs(F.col(value_col)), 2))
        .groupBy("date", "row", "col")
        .agg(F.avg("_v").alias("value"))
        .withColumn("value", F.when(F.col("value") <= 0, F.lit(nodata))
                    .otherwise(F.col("value")))
    )


def write_raster_partitions(cells: DataFrame, path: str) -> None:
    """S11 engine-native sink: parquet partitioned by date — each partition
    is one 'raster'; partition pruning replaces per-file globbing."""
    cells.write.mode("overwrite").partitionBy("date").parquet(path)


def manifest(cells: DataFrame) -> DataFrame:
    """S17 — one filename per new raster date (rasterize.py:67-77)."""
    return cells.select("date").distinct().select(
        F.concat(F.lit("biomass_"), F.date_format("date", "yyyyMMdd"),
                 F.lit(".tif")).alias("filename"))
