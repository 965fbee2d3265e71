"""E1 — the pipeline orchestrator, Spark-first.

Reference (master_script.py:4-22): five scripts run as subprocesses,
communicating only via files; a failed stage is detected downstream by
empty-file checks (F7, funcs.py:13-17), and failures trigger an SMTP
notification (S18, send_notification.py). The per-stage files are the
tables in SURVEY §1.4.

Engine form: stages are pure ``ctx -> ctx-updates`` functions over named
DataFrames. The "plan" stays lazy — a stage adds transformations, and
materialization happens only at declared checkpoints/sinks, so Catalyst
optimizes across stage boundaries (the reference pays a full
serialize/parse cycle per boundary). The reference's failure semantics are
preserved as first-class orchestrator features:

  * empty-guard (F7): a stage declares `requires`; if any required input
    is empty the stage is SKIPPED and so is everything downstream of its
    outputs — the "truncate downstream outputs" behavior without the
    sentinel files.
  * notify-on-failure (S18): an `on_failure` callback receives
    (stage_name, exception) — the SMTP mail becomes an injectable hook.

`requires` checks use `df.isEmpty()` — a LIMIT-1 job, not a count."""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from lswms_forage_etl_spark.functions.cleansing import (
    biomass_calibration,
    conditional_zero_jitter,
)
from lswms_forage_etl_spark.models.gp import gp_forecast
from lswms_forage_etl_spark.models.gwr import gwr_fit_score
from lswms_forage_etl_spark.operators.composite import (
    mean_composite,
    sum_composite,
)
from lswms_forage_etl_spark.operators.hindcast import hindcast_tall, lag_matrix
from lswms_forage_etl_spark.operators.joins import (
    merge_point_tables,
    sample_raster_at_points,
)
from lswms_forage_etl_spark.operators.periods import periods_df
from lswms_forage_etl_spark.operators.rasterize import manifest, rasterize_points
from lswms_forage_etl_spark.operators.zonal import zone_series

from pyspark.sql import functions as F

from lswms_forage_etl_spark.lifecycle import track


@dataclass
class Stage:
    name: str
    fn: Callable[[SparkSession, dict], dict]
    requires: tuple[str, ...] = ()


@dataclass
class StageResult:
    name: str
    status: str          # 'ok' | 'skipped' | 'failed'
    reason: str = ""


@dataclass
class Pipeline:
    stages: list[Stage]
    on_failure: Callable[[str, Exception], None] | None = None
    results: list[StageResult] = field(default_factory=list)

    def run(self, spark: SparkSession, ctx: dict) -> dict:
        """Execute stages in order over a shared name->DataFrame context.

        A stage whose `requires` are missing or empty is skipped; its
        outputs never enter ctx, so downstream stages requiring them skip
        too (the F7 cascade). A raised exception, from the stage or from
        the emptiness probe of its inputs, fails that stage, triggers
        `on_failure` then re-raises — the orchestrator never swallows
        errors."""
        self.results = []
        for st in self.stages:
            try:
                missing = [r for r in st.requires
                           if r not in ctx or ctx[r].isEmpty()]
                if missing:
                    self.results.append(StageResult(
                        st.name, "skipped",
                        f"empty/missing inputs: {missing}"))
                    continue
                updates = st.fn(spark, ctx)
            except Exception as exc:
                self.results.append(StageResult(st.name, "failed", str(exc)))
                if self.on_failure is not None:
                    self.on_failure(st.name, exc)
                raise
            ctx.update(updates or {})
            self.results.append(StageResult(st.name, "ok"))
        return ctx


# --------------------------------------------------------------------------
# The reference pipeline (E2 extraction + E3 aggregation/forecast),
# composed from the engine's operators. Inputs are the raw observation
# tables; outputs are every §1.4 hand-off table.
# --------------------------------------------------------------------------

def forage_pipeline(series_start: dt.date, current_date: dt.date,
                    gwr_bandwidth: int | None = 60) -> Pipeline:
    """Build the full reference dataflow as a Pipeline.

    Expected ctx inputs:
      ndvi_cells, sm_cells, preci_cells : RASTER_CELLS-shaped observation
          tables (date, row, col, value) at daily/near-daily cadence
      points       : (lon, lat) grid points table
      coverage     : ZONE_COVERAGE
      centroids    : ZONE_CENTROIDS (optional — may be absent)

    Produces ctx outputs: periods, combined, results, raster_cells,
    manifest, zone_series, hindcast_wide, forecast.
    """

    def st_periods(spark, ctx):
        return {"periods": periods_df(spark, series_start, current_date)}

    def st_extract(spark, ctx):
        periods = ctx["periods"]
        per_var = {}
        for name, agg in (("ndvi", "mean"), ("sm", "mean"), ("preci", "sum")):
            comp = (mean_composite if agg == "mean" else sum_composite)(
                ctx[f"{name}_cells"], periods)
            sampled = sample_raster_at_points(ctx["points"], comp)
            out_col = f"value_{agg}"
            per_var[name] = sampled.select(
                "lon", "lat", "date", F.col(out_col).alias(name))
        combined = merge_point_tables(
            [per_var["ndvi"], per_var["sm"], per_var["preci"]])
        combined = conditional_zero_jitter(
            combined, "preci", ["lon", "lat", "date"])
        # stage hand-off tables are materialization points (the reference
        # writes each to CSV/HDF5, §1.4): persist so downstream stages —
        # and multiple consumers of ctx — never recompute the upstream
        # (GWR scoring in particular must run once, not per consumer).
        # At real scale these become parquet/Delta stage tables.
        return {"combined": track(combined.persist())}

    def st_gwr(spark, ctx):
        scored = gwr_fit_score(ctx["combined"], bandwidth=gwr_bandwidth)
        return {"results": track(scored.withColumn(
            "biom", biomass_calibration("pred")).persist())}

    def st_rasterize(spark, ctx):
        cells = rasterize_points(ctx["results"])
        return {"raster_cells": cells, "manifest": manifest(cells)}

    def st_zonal(spark, ctx):
        cells = ctx["raster_cells"].withColumn(
            "value", F.when(F.col("value") <= -1000.0, None)
            .otherwise(F.col("value")))
        return {"zone_series": track(zone_series(
            cells, ctx["coverage"], ctx.get("centroids")).persist())}

    def st_hindcast(spark, ctx):
        tall = hindcast_tall(ctx["zone_series"])
        return {"hindcast_wide": lag_matrix(tall)}

    def st_forecast(spark, ctx):
        return {"forecast": gp_forecast(ctx["zone_series"])}

    return Pipeline(stages=[
        Stage("periods", st_periods),
        Stage("extract", st_extract,
              requires=("ndvi_cells", "sm_cells", "preci_cells", "points")),
        Stage("gwr", st_gwr, requires=("combined",)),
        Stage("rasterize", st_rasterize, requires=("results",)),
        Stage("zonal", st_zonal, requires=("raster_cells", "coverage")),
        Stage("hindcast", st_hindcast, requires=("zone_series",)),
        Stage("forecast", st_forecast, requires=("zone_series",)),
    ])
