"""Explicit StructType contracts for the engine's inter-stage tables.

The reference passes data between stages through implicit column-name
conventions in CSV/HDF5 files (SURVEY §1.3/§1.4; e.g. the rename at
reference data_extraction_v2.py:529-530 and the HDF5 `Column_Names` attr at
BiomassAggregate.py:356). Here every hand-off point is a declared schema and
`spark.read` enforces it — no inference, no positional renames.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# --- AOI / grid constants (reference rasterize.py:63, aoi.geojson) ----------
GRID_ORIGIN_LON = 36.0
GRID_ORIGIN_LAT = 15.0
GRID_CELL_DEG = 0.05
GRID_N_COLS = 260
GRID_N_ROWS = 300
AOI_LON_MIN, AOI_LON_MAX = 36.0, 49.0
AOI_LAT_MIN, AOI_LAT_MAX = 0.0, 15.0
RASTER_NODATA = -99999.0
# Sentinel nodata set normalized to NULL on ingest (BiomassAggregate.py:136-148)
NODATA_SENTINELS = (-99999.0, -9999.0, -8888.0, -32768.0)
NODATA_FLOOR = -1.0e3  # values below this are also treated as nodata

# --- Point-observation tables (abstraction A, §1.1) -------------------------
# ndvi.csv / sm.csv / preci.csv shapes (data_extraction_v2.py:519-521)
POINT_SAMPLE = StructType([
    StructField("lon", DoubleType(), False),
    StructField("lat", DoubleType(), False),
    StructField("date", DateType(), False),
    StructField("value", DoubleType(), True),
])

# combined.csv: lon,lat,date,ndvi,sm,preci (data_extraction_v2.py:529-531)
COMBINED = StructType([
    StructField("lon", DoubleType(), False),
    StructField("lat", DoubleType(), False),
    StructField("date", DateType(), False),
    StructField("ndvi", DoubleType(), True),
    StructField("sm", DoubleType(), True),
    StructField("preci", DoubleType(), True),
])

# results.csv: idx,lon,lat,date,ndvi,sm,preci,pred,biom (gwr_model.py:103-107)
RESULTS = StructType(COMBINED.fields + [
    StructField("pred", DoubleType(), True),
    StructField("biom", DoubleType(), True),
])

# --- Raster as a long-format tile table (abstraction B, §1.1) ---------------
RASTER_CELLS = StructType([
    StructField("date", DateType(), False),
    StructField("row", IntegerType(), False),
    StructField("col", IntegerType(), False),
    StructField("value", DoubleType(), True),
])

# --- Zone coverage (engine form of the woreda shapefile, FIXTURES.md §7) ----
ZONE_COVERAGE = StructType([
    StructField("zone_id", StringType(), False),
    StructField("row", IntegerType(), False),
    StructField("col", IntegerType(), False),
    StructField("coverage", StringType(), False),  # 'strict' | 'all_touched'
])

ZONE_CENTROIDS = StructType([
    StructField("zone_id", StringType(), False),
    StructField("centroid_row", IntegerType(), False),
    StructField("centroid_col", IntegerType(), False),
])

# --- Zone x date series (abstraction D; woredas.csv Dataset,Date,Biomass) ---
ZONE_SERIES = StructType([
    StructField("zone_id", StringType(), False),
    StructField("date", DateType(), False),
    StructField("biomass", DoubleType(), True),
])

# --- Composite periods (W1, data_extraction_v2.py:85-106) -------------------
PERIODS = StructType([
    StructField("period_id", IntegerType(), False),
    StructField("start", DateType(), False),
    StructField("end", DateType(), False),
])

# --- Forecast output (GaussianProcesses.py:22 — last + 3 horizons) ----------
FORECAST = StructType([
    StructField("zone_id", StringType(), False),
    StructField("date", DateType(), False),
    StructField("horizon_days", IntegerType(), False),
    StructField("mean", DoubleType(), True),
])

# --- LLM-data-pipeline tables (driver testdata) -----------------------------
DOCUMENTS = StructType([
    StructField("doc_id", LongType(), False),
    StructField("text", StringType(), True),
    StructField("lang", StringType(), True),
    StructField("source", StringType(), True),
    StructField("n_chars", LongType(), True),
])

EMBEDDINGS = StructType([
    StructField("vec_id", LongType(), False),
    StructField("embedding", ArrayType(FloatType()), True),
    StructField("label", IntegerType(), True),
])
