"""The one query-timing harness behind bench.py and the tools/ CLIs.

Importing this module makes the checkout it lives in the one that runs:
its root goes first on `sys.path` for the driver and first on
`PYTHONPATH` for the Python workers, which inherit the environment when
the JVM starts. So import it before the first Spark session, and a tool
run from a copy of another commit measures that commit on both sides.

  warm         start the Arrow worker pool, then run each query once at
               WARM_SF (failures ignored)
  run_once     release what earlier runs staged, then time the query's
               build and its noop write apart
  best_of      the fastest of n run_once records
  count_rows   the query's row count, off the clock
  run_with_ui  run_once plus the jobs and executed stages it added, read
               from the local Spark UI REST API at ui_base(spark)

A query function is `fn(spark, sf_dir) -> DataFrame`, as in
`__spark_entry__.queries()`. A failing run gives a record with an
`error` key instead of raising, so one broken query never stops a tool.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

# the smallest testdata scale: enough to compile every plan's codegen
# and JIT its hot paths without paying for the data
WARM_SF = "/root/testdata/sf0.001"


def _noop(df) -> None:
    """Run df to completion without keeping its rows."""
    df.write.format("noop").mode("overwrite").save()


def release(spark) -> None:
    """Free every table earlier runs staged: tracked handles first (they
    cover localCheckpoint storage, which clearCache cannot free), then
    clearCache as the backstop."""
    from lswms_forage_etl_spark import lifecycle

    lifecycle.release_tracked()
    spark.catalog.clearCache()


def warm(spark, qs: dict, names) -> None:
    """Untimed warm-up: spawn the Python/Arrow worker pool, then run each
    named query once at WARM_SF so measured runs see steady-state
    codegen and JIT, not one-time compilation."""
    _noop(spark.range(64).repartition(32).mapInPandas(
        lambda it: it, schema="id long"))
    for name in names:
        try:
            _noop(qs[name](spark, WARM_SF))
        except Exception:  # noqa: BLE001 - warm-up is best-effort
            pass


def run_once(spark, fn, sf_dir: str) -> dict:
    """One measured run: release, then build fn's DataFrame (construct_s:
    py4j plan building plus any staging jobs and driver collects it
    issues) and noop-write it (action_s). wall_s is their sum. A failure
    gives {"error": "<Type>: <first line>", "wall_s": time to failure}."""
    release(spark)
    t0 = time.perf_counter()
    try:
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        _noop(df)
    except Exception as exc:  # noqa: BLE001 - isolate per query
        msg = str(exc).split("\n", 1)[0][:200]
        return {"error": f"{type(exc).__name__}: {msg}",
                "wall_s": time.perf_counter() - t0}
    t2 = time.perf_counter()
    construct, action = t1 - t0, t2 - t1
    return {"wall_s": construct + action, "construct_s": construct,
            "action_s": action}


def best_of(spark, fn, sf_dir: str, n: int) -> dict:
    """The fastest of n run_once records, with every wall sorted under
    "walls"; the first error record if any run fails."""
    runs = []
    for _ in range(n):
        rec = run_once(spark, fn, sf_dir)
        if "error" in rec:
            return rec
        runs.append(rec)
    runs.sort(key=lambda r: r["wall_s"])
    return {**runs[0], "walls": [r["wall_s"] for r in runs]}


def count_rows(spark, fn, sf_dir: str) -> int:
    """Row count of one more build of fn, off the clock."""
    release(spark)
    return fn(spark, sf_dir).count()


def ui_base(spark) -> str | None:
    """REST root of this application on the local Spark UI, or None when
    the session was started without the UI."""
    sc = spark.sparkContext
    if not sc.uiWebUrl:
        return None
    port = sc.uiWebUrl.rsplit(":", 1)[-1]
    return f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"


def _api(base: str, path: str) -> list:
    with urllib.request.urlopen(f"{base}{path}", timeout=10) as r:
        return json.loads(r.read())


def run_with_ui(spark, base: str, fn,
                sf_dir: str) -> tuple[dict, list, list]:
    """run_once, plus the jobs and the executed stages (in id order) the
    UI at `base` saw added by it. SKIPPED stages are left out: they run
    no task, and how many of them a broadcast's future job lists varies
    from run to run."""
    # release before the snapshot: a count still in flight from an
    # earlier run must land before it, not inside this run's diff
    release(spark)
    jobs0 = {j["jobId"] for j in _api(base, "/jobs")}
    stages0 = {s["stageId"] for s in _api(base, "/stages")}
    rec = run_once(spark, fn, sf_dir)
    jobs = [j for j in _api(base, "/jobs") if j["jobId"] not in jobs0]
    stages = [s for s in _api(base, "/stages")
              if s["stageId"] not in stages0 and s["status"] != "SKIPPED"]
    return rec, jobs, sorted(stages, key=lambda s: s["stageId"])
