"""E1 orchestrator (empty-guard cascade, failure hook) + the full forage
pipeline end-to-end on a synthetic fixture + §2.10 incremental streaming."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from lswms_forage_etl_spark import schemas
from lswms_forage_etl_spark.plans import Pipeline, Stage, forage_pipeline
from lswms_forage_etl_spark.streaming import (
    complete_periods_only,
    incremental_composite_run,
    stream_windowed_counts,
)
from lswms_forage_etl_spark.operators.periods import periods_df


def test_pipeline_empty_guard_cascade(spark):
    calls = []
    p = Pipeline(stages=[
        Stage("a", lambda s, c: calls.append("a") or
              {"x": s.createDataFrame([], "i int")}),
        Stage("b", lambda s, c: calls.append("b") or {"y": c["x"]},
              requires=("x",)),                     # x empty -> skip
        Stage("c", lambda s, c: calls.append("c") or {},
              requires=("y",)),                     # y missing -> skip
    ])
    p.run(spark, {})
    assert calls == ["a"]
    assert [r.status for r in p.results] == ["ok", "skipped", "skipped"]


def test_pipeline_failure_hook(spark):
    seen = {}

    def boom(s, c):
        raise ValueError("stage exploded")

    p = Pipeline(stages=[Stage("bad", boom)],
                 on_failure=lambda name, exc: seen.update({name: str(exc)}))
    with pytest.raises(ValueError):
        p.run(spark, {})
    assert seen == {"bad": "stage exploded"}
    assert p.results[0].status == "failed"


def test_pipeline_failure_hook_covers_requires_probe(spark):
    """The emptiness probe of a required input runs inside the stage that
    requires it: a probe that raises fails that stage and reaches the
    hook. A failing filter is used because a failing projection is
    pruned out of the LIMIT-1 probe and never runs."""
    seen = {}
    p = Pipeline(stages=[
        Stage("a", lambda s, c: {
            "x": s.range(3).where("raise_error('boom') IS NULL")}),
        Stage("b", lambda s, c: {}, requires=("x",)),
    ], on_failure=lambda name, exc: seen.update({name: str(exc)}))
    with pytest.raises(Exception, match="boom"):
        p.run(spark, {})
    assert list(seen) == ["b"] and "boom" in seen["b"]
    assert [(r.name, r.status) for r in p.results] == [
        ("a", "ok"), ("b", "failed")]

def _obs_cells(spark, value_base, n_days=40, n_cells=25):
    rows = []
    for d in range(n_days):
        date = dt.date(2024, 1, 1) + dt.timedelta(days=d)
        for i in range(n_cells):
            r, c = i // 5, i % 5
            rows.append((date, r, c, float(value_base + 0.01 * i + 0.001 * d)))
    return spark.createDataFrame(rows, schemas.RASTER_CELLS)


def test_forage_pipeline_end_to_end(spark):
    # 25 grid cells, 40 days -> 2 complete 16-day periods; 2 zones
    pts = [(36.0 + 0.05 * c + 0.02, 15.0 - 0.05 * r - 0.02)
           for r in range(5) for c in range(5)]
    ctx = {
        "ndvi_cells": _obs_cells(spark, 0.3),
        "sm_cells": _obs_cells(spark, 0.2),
        "preci_cells": _obs_cells(spark, 1.0),
        "points": spark.createDataFrame(pts, "lon double, lat double"),
        "coverage": spark.createDataFrame(
            [("Z1", r, c, "strict") for r in range(5) for c in range(3)]
            + [("Z2", r, c, "strict") for r in range(5) for c in range(3, 5)],
            schemas.ZONE_COVERAGE),
    }
    # current = Feb 2: periods Jan1-16 and Jan17-Feb1 are complete; the
    # third (ends Feb 17) is dropped by the completeness rule
    pipe = forage_pipeline(dt.date(2024, 1, 1), dt.date(2024, 2, 2))
    out = pipe.run(spark, ctx)
    assert all(r.status == "ok" for r in pipe.results), pipe.results

    combined = out["combined"]
    assert set(combined.columns) == {"lon", "lat", "date", "ndvi", "sm", "preci"}
    n_dates = combined.select("date").distinct().count()
    assert n_dates == 2           # two complete periods
    assert combined.count() == 2 * 25

    res = out["results"]
    assert "pred" in res.columns and "biom" in res.columns
    zs = out["zone_series"].collect()
    assert {r["zone_id"] for r in zs} == {"Z1", "Z2"}
    assert len(zs) == 2 * 2       # 2 zones x 2 dates
    fc = out["forecast"].collect()
    assert len(fc) == 2 * 4       # last + 3 horizons per zone
    man = {r["filename"] for r in out["manifest"].collect()}
    assert len(man) == 2 and all(f.startswith("biomass_") for f in man)


def test_complete_periods_gate(spark):
    periods = periods_df(spark, dt.date(2024, 1, 1), dt.date(2024, 3, 1))
    gated = complete_periods_only(periods, dt.date(2024, 2, 3), latency_days=2)
    ends = [r["end"] for r in gated.collect()]
    assert ends and max(ends) <= dt.date(2024, 2, 1)


def test_incremental_availablenow_resume(spark, tmp_path):
    src = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    out: list[int] = []

    cells1 = spark.createDataFrame(
        [(dt.date(2024, 1, 1), 0, 0, 1.0)], schemas.RASTER_CELLS)
    cells1.write.mode("append").parquet(src)

    def batch_fn(df, batch_id):
        out.append(df.count())

    incremental_composite_run(spark, src, ckpt, batch_fn)
    assert sum(out) == 1
    # new file lands -> re-run processes ONLY the new rows (checkpoint state)
    cells2 = spark.createDataFrame(
        [(dt.date(2024, 1, 2), 0, 1, 2.0), (dt.date(2024, 1, 3), 1, 1, 3.0)],
        schemas.RASTER_CELLS)
    cells2.write.mode("append").parquet(src)
    out.clear()
    incremental_composite_run(spark, src, ckpt, batch_fn)
    assert sum(out) == 2
    # nothing new -> empty-microbatch no-op
    out.clear()
    incremental_composite_run(spark, src, ckpt, batch_fn)
    assert sum(out) == 0


def test_stream_windowed_counts(spark, tmp_path):
    src = str(tmp_path / "ev")
    rows = [(dt.datetime(2024, 1, 1, h, 30), "click", float(h)) for h in range(4)]
    spark.createDataFrame(rows, "ts timestamp, event_type string, value double") \
        .write.parquet(src)
    stream = (spark.readStream
              .schema("ts timestamp, event_type string, value double")
              .parquet(src))
    agg = stream_windowed_counts(stream, window_duration="1 hour")
    # complete mode for the one-shot test harness (append mode only emits a
    # window in the batch AFTER the watermark passes it; availableNow over a
    # static directory is a single batch). Production uses append.
    q = (agg.writeStream.format("memory").queryName("wincounts")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.sql("SELECT * FROM wincounts ORDER BY window_start").collect()
    assert len(got) == 4
    assert all(r["n"] == 1 and r["event_type"] == "click" for r in got)
    starts = [r["window_start"] for r in got]
    assert starts[0].minute == 0  # hour-aligned tumbling windows
