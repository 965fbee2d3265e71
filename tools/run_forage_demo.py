"""Run the full forage pipeline at the reference's observed scale
(BASELINE.md: 19k grid points, 78k raster cells/date, 151 zones) on
synthetic observations, and report per-stage wall times.

The reference runs this workload as ~5 sequential single-threaded scripts;
this driver executes the same dataflow as a handful of Spark jobs.

Usage:
  python tools/run_forage_demo.py [n_days]     synthetic reference-scale run
  python tools/run_forage_demo.py --real       REAL-data parity run: reads the
      reference's own shapefile + production GeoTIFFs with the engine's
      native parsers, runs zonal -> hindcast -> forecast, and prints the
      match rate against the production woredas.csv
"""

from __future__ import annotations

import datetime as dt
import math
import os
import sys
import time

# the checkout this file lives in, for the driver and the Python workers
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

import numpy as np
from pyspark.sql import functions as F

from lswms_forage_etl_spark import get_spark, schemas
from lswms_forage_etl_spark.plans import forage_pipeline
from lswms_forage_etl_spark.sources.geometry import zone_coverage_from_wkt


def synth_inputs(spark, n_days: int):
    """Reference-scale synthetic observations: daily values on the full
    260x300 grid for three variables, 19k sample points, 151 square
    zones tiling the AOI."""
    start = dt.date(2024, 1, 1)
    dates = spark.createDataFrame(
        [(start + dt.timedelta(days=d),) for d in range(n_days)], "date date")
    grid = (spark.range(schemas.GRID_N_ROWS).toDF("row").crossJoin(
        spark.range(schemas.GRID_N_COLS).toDF("col"))
        .select(F.col("row").cast("int"), F.col("col").cast("int")))
    base = dates.crossJoin(grid)

    def obs(seed: int, scale: float):
        v = (F.pmod(F.xxhash64("row", "col", "date", F.lit(seed)),
                    F.lit(1000)).cast("double") / 1000.0 * scale)
        return base.select("date", "row", "col", v.alias("value"))

    rng = np.random.RandomState(7)
    n_pts = 19129
    pts = spark.createDataFrame(
        [(float(round(36.0 + rng.uniform(0, 13), 3)),
          float(round(0.0 + rng.uniform(0, 15), 3))) for _ in range(n_pts)],
        "lon double, lat double")

    # 151 square zones tiling the grid
    zones = []
    n_side = int(math.ceil(math.sqrt(151)))
    dlon, dlat = 13.0 / n_side, 15.0 / n_side
    for i in range(151):
        r, c = divmod(i, n_side)
        lo, la = 36.0 + c * dlon, 15.0 - r * dlat
        zones.append((f"ET{i:04d}",
                      f"POLYGON (({lo} {la}, {lo+dlon} {la}, {lo+dlon} "
                      f"{la-dlat}, {lo} {la-dlat}, {lo} {la}))"))
    coverage, centroids = zone_coverage_from_wkt(spark, zones)
    return {
        "ndvi_cells": obs(1, 1.0), "sm_cells": obs(2, 0.6),
        "preci_cells": obs(3, 20.0), "points": pts,
        "coverage": coverage, "centroids": centroids,
    }, start


def run_real():
    """Zonal -> hindcast -> forecast on the reference's actual inputs."""
    import csv

    from lswms_forage_etl_spark.operators.hindcast import (
        hindcast_tall, lag_matrix)
    from lswms_forage_etl_spark.models.gp import gp_forecast
    from lswms_forage_etl_spark.operators.zonal import zone_series
    from lswms_forage_etl_spark.sources.geotiff import geotiff_to_cells
    from lswms_forage_etl_spark.sources.shapefile import read_shapefile_zones

    shp = "/root/reference/src/inputs/Shapefiles/woredas.shp"
    tif_dir = "/root/reference/src/data/layers/biomass_et"
    ref_csv = "/root/reference/src/outputs/Databases/woredas.csv"
    spark = get_spark("forage-real")
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    zones = read_shapefile_zones(shp, shp[:-4] + ".dbf")
    coverage, centroids = zone_coverage_from_wkt(spark, zones)
    dates = ("20220101", "20220117", "20220218")
    cells = geotiff_to_cells(
        spark, [f"{tif_dir}/biomass_{d}.tif" for d in dates])
    zs = zone_series(cells, coverage, centroids).persist()
    n_series = zs.count()
    print(f"zonal series: {n_series} rows (151 zones x 3 dates) "
          f"[{time.time()-t0:.1f}s]")

    import numpy as np
    got = {(r["zone_id"], r["date"].strftime("%Y%m%d")): r["biomass"]
           for r in zs.collect()}
    with open(ref_csv) as fh:
        want = {(r["Dataset"], r["Date"]): float(r["Biomass"])
                for r in csv.DictReader(fh) if r["Date"] in dates}
    rel = np.array([abs(got[k] - w) / max(abs(w), 1e-9)
                    for k, w in want.items()])
    print(f"parity vs production woredas.csv: {len(want)} pairs, "
          f"p95 rel err {np.percentile(rel, 95):.2e}, "
          f"within 1%: {(rel < 0.01).mean():.1%}")

    t0 = time.time()
    hind = lag_matrix(hindcast_tall(zs))
    fc = gp_forecast(zs)
    print(f"hindcast rows: {hind.count()} (3-date series are below the "
          f"refit minimum), forecast rows: {fc.count()} "
          f"(151 zones x last+3 horizons) [{time.time()-t0:.1f}s]")


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "--real":
        run_real()
        return
    n_days = int(sys.argv[1]) if len(sys.argv) > 1 else 48
    spark = get_spark("forage-demo")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    ctx, start = synth_inputs(spark, n_days)
    print(f"inputs built: {time.time()-t0:.1f}s "
          f"(zones={ctx['coverage'].select('zone_id').distinct().count()})")

    pipe = forage_pipeline(start, start + dt.timedelta(days=n_days),
                           gwr_bandwidth=60)
    t0 = time.time()
    out = pipe.run(spark, ctx)
    marks = {}
    for name in ("combined", "results", "zone_series", "hindcast_wide",
                 "forecast"):
        if name not in out:
            # the pipeline's F7 empty-guard cascade skips downstream
            # stages when an input produces no rows (e.g. < 16 days
            # cannot complete a composite period) — report, don't crash
            marks[name] = 0.0
            continue
        # the noop sink computes every column; count() may prune the
        # unused ones out of the plan
        t1 = time.time()
        out[name].write.format("noop").mode("overwrite").save()
        marks[name] = round(time.time() - t1, 1)
    total = round(time.time() - t0, 1)
    for name, secs in marks.items():
        shown = (f"{out[name].count():>9,} rows" if name in out
                 else "skipped (empty-guard)")
        print(f"  {name:12s} {shown}  (+{secs}s)")
    print(f"pipeline total: {total}s for {n_days} days "
          f"({[r.status for r in pipe.results]})")


if __name__ == "__main__":
    main()
