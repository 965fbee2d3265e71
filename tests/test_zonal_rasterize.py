"""J4/A3/M4 zonal cascade and M3 rasterize against hand-computed goldens
(FIXTURES.md §5/§7/§8 shapes)."""

from __future__ import annotations

import datetime as dt
import os

from lswms_forage_etl_spark.functions.cleansing import mask_sentinels
from lswms_forage_etl_spark.operators.rasterize import (
    manifest,
    rasterize_points,
)
from lswms_forage_etl_spark.operators.zonal import zonal_stats, zone_series

D1 = dt.date(2024, 1, 16)


def _cells(spark):
    # 4x4 grid, one date; sentinel at (0,1); nodata-null at (3,3)
    rows = []
    for r in range(4):
        for c in range(4):
            v = float(r * 4 + c)
            if (r, c) == (0, 1):
                v = -99999.0
            if (r, c) == (3, 3):
                v = -9999.0
            rows.append((D1, r, c, v))
    df = spark.createDataFrame(rows, "date date, row int, col int, value double")
    return df.withColumn("value", mask_sentinels("value"))


def _coverage(spark):
    # zone A: strict cells (0,0),(0,1); all_touched adds (1,0)
    # zone B: strict empty; all_touched (2,2)
    # zone C: nothing covered (falls back to centroid)
    rows = [("A", 0, 0, "strict"), ("A", 0, 1, "strict"),
            ("A", 1, 0, "all_touched"),
            ("B", 2, 2, "all_touched")]
    return spark.createDataFrame(
        rows, "zone_id string, row int, col int, coverage string")


def _centroids(spark):
    return spark.createDataFrame(
        [("C", 3, 3)], "zone_id string, centroid_row int, centroid_col int")


def test_zonal_cascade(spark):
    out = zonal_stats(_cells(spark), _coverage(spark), _centroids(spark))
    got = {r["zone_id"]: r for r in out.collect()}
    # A: strict cells (0,0)=0 and (0,1)=NULL(sentinel) -> mean of {0} = 0
    assert got["A"]["biomass_mean"] == 0.0
    assert got["A"]["pixel_count"] == 1
    assert not got["A"]["retried_all_touched"]
    # B: strict empty -> all_touched (2,2)=10
    assert got["B"]["biomass_mean"] == 10.0
    assert got["B"]["retried_all_touched"] and not got["B"]["used_fallback"]
    # C: no coverage at all -> centroid (3,3) is NULL -> 3x3 ring mean
    ring = [10.0, 11.0, 14.0]  # (2,2),(2,3),(3,2); (3,3) null
    assert got["C"]["used_fallback"]
    assert abs(got["C"]["biomass_mean"] - sum(ring) / 3) < 1e-9


def test_zonal_single_scan_plan(spark, tmp_path):
    # VERDICT r1 #1: the cascade must scan the cells table exactly once —
    # every tier is a conditional aggregate over one broadcast join, not a
    # per-tier join/scan. Assert on the physical plan of a parquet source.
    path = str(tmp_path / "cells")
    _cells(spark).write.mode("overwrite").parquet(path)
    cells = spark.read.parquet(path)
    plan = zonal_stats(cells, _coverage(spark), _centroids(spark)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "BroadcastHashJoin" in plan


def test_zone_series_nan_to_zero(spark):
    # a zone whose every covered cell is nodata -> biomass 0.0 at the sink
    cells = spark.createDataFrame(
        [(D1, 0, 0, None)], "date date, row int, col int, value double")
    cov = spark.createDataFrame([("Z", 0, 0, "strict")],
                                "zone_id string, row int, col int, coverage string")
    out = zone_series(cells, cov).collect()
    assert out[0]["biomass"] == 0.0


def test_zonal_mean_independent_of_summation_order(spark):
    # a 32-cell zone of 2-dp values whose exact mean, 4.7015625, sits on a
    # 6-dp half boundary: a double sum in ascending order lands on one
    # side of it and in descending order on the other. The zone mean must
    # not depend on the order in which a task reads the cells.
    import functools
    import operator
    import random
    from fractions import Fraction

    rng = random.Random(4)
    vals = sorted(round(rng.uniform(0.5, 9.5), 2) for _ in range(32))
    asc = functools.reduce(operator.add, vals, 0.0)
    desc = functools.reduce(operator.add, vals[::-1], 0.0)
    assert asc != desc                      # the order matters in double
    cov = spark.createDataFrame(
        [("Z", 0, c, "strict") for c in range(32)],
        "zone_id string, row int, col int, coverage string")
    means = []
    for ordered in (vals, vals[::-1]):
        cells = spark.createDataFrame(
            [(D1, 0, c, v) for c, v in enumerate(ordered)],
            "date date, row int, col int, value double").coalesce(1)
        means.append(zonal_stats(cells, cov).collect()[0]["biomass_mean"])
    assert means[0] == means[1]
    assert means[0] == float(sum(map(Fraction, map(str, vals))) / 32)


def test_rasterize_dense_fill(spark, tmp_path):
    # the reference's dense raster (fill 0, then <= 0 -> -99999) is the
    # grid geotiff_export writes from the sparse rasterize_points cells
    import numpy as np

    from lswms_forage_etl_spark.sources.geotiff import read_geotiff
    from lswms_forage_etl_spark.sources.sinks import geotiff_export

    pts = spark.createDataFrame(
        [(36.02, 14.98, D1, 1.234), (36.02, 14.98, D1, 2.346),  # same cell
         (36.07, 14.98, D1, -0.5),                               # abs -> 0.5
         (36.12, 14.98, D1, 0.0)],                               # 0 -> nodata
        "lon double, lat double, date date, biom double")
    out = str(tmp_path / "tifs")
    geotiff_export(rasterize_points(pts), out).collect()
    arr, _, nd = read_geotiff(os.path.join(out, "biomass_20240116.tif"))
    assert arr.shape == (300, 260)   # full frame for the single date
    # collision resolved by mean of round(abs(v), 2), stored as float32
    assert arr[0, 0] == np.float32((1.23 + 2.35) / 2)
    assert arr[0, 1] == np.float32(0.5)
    # fill is exactly the reference sentinel (the reader masks it to NaN)
    assert nd == -99999.0
    assert np.isnan(arr[0, 2])
    assert np.isnan(arr).sum() == 300 * 260 - 2


def test_rasterize_sparse_and_manifest(spark):
    pts = spark.createDataFrame(
        [(36.02, 14.98, D1, 1.0), (36.02, 14.98, dt.date(2024, 2, 1), 0.0)],
        "lon double, lat double, date date, biom double")
    sparse = rasterize_points(pts)
    got = {(r["date"]): r["value"] for r in sparse.collect()}
    assert got[D1] == 1.0
    assert got[dt.date(2024, 2, 1)] == -99999.0  # <=0 -> nodata
    names = {r["filename"] for r in manifest(pts).collect()}
    assert names == {"biomass_20240116.tif", "biomass_20240201.tif"}
