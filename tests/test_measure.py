"""tools/measure.py, the timing harness behind bench.py and the tools/
CLIs: release between runs, failure isolation, the construct/action
split, and bench.py's named-query mode end to end."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT / "tools"))

import measure  # noqa: E402

from lswms_forage_etl_spark import lifecycle  # noqa: E402

SF = "/root/testdata/sf0.001"


def test_table_staged_by_one_run_is_released_before_the_next_build(spark):
    seen = []

    def stages_a_table(spark, sf_dir):
        seen.append(lifecycle.persistent_rdd_ids(spark))
        df = lifecycle.track(spark.range(100).persist())
        df.count()
        return df

    measure.run_once(spark, stages_a_table, None)
    assert lifecycle.persistent_rdd_ids(spark) > seen[0]  # run 1's table
    measure.run_once(spark, stages_a_table, None)
    assert seen[1] == seen[0] == set()
    measure.release(spark)


def test_failing_query_gives_an_error_record_and_the_next_still_runs(spark):
    def fails_to_build(spark, sf_dir):
        raise ValueError("boom\nsecond line")

    def fails_in_action(spark, sf_dir):
        return spark.range(3).selectExpr("raise_error('kaboom') AS x")

    def works(spark, sf_dir):
        return spark.range(10)

    recs = [measure.run_once(spark, fn, None)
            for fn in (fails_to_build, fails_in_action, works)]
    assert recs[0]["error"] == "ValueError: boom"
    assert "kaboom" in recs[1]["error"]
    assert "error" not in recs[2] and recs[2]["action_s"] > 0
    assert measure.best_of(spark, fails_to_build, None, 3)["error"] == \
        "ValueError: boom"


def test_construct_and_action_split_the_wall_with_no_extra_planning(spark):
    class Spy:
        """A DataFrame that records every attribute the harness reads."""

        def __init__(self, df):
            self._df = df
            self.read = []

        def __getattr__(self, name):
            self.read.append(name)
            return getattr(self._df, name)

    spies = []

    def slow_to_build(spark, sf_dir):
        time.sleep(0.2)
        spies.append(Spy(spark.range(1000).selectExpr("sum(id) AS s")))
        return spies[-1]

    t0 = time.perf_counter()
    rec = measure.best_of(spark, slow_to_build, None, 2)
    outer = time.perf_counter() - t0
    assert rec["construct_s"] + rec["action_s"] == rec["wall_s"]
    assert rec["construct_s"] >= 0.2 and rec["action_s"] > 0
    assert rec["walls"] == sorted(rec["walls"]) and rec["walls"][0] == \
        rec["wall_s"]
    assert sum(rec["walls"]) <= outer
    # the timed run only writes: no explain, executedPlan or count
    assert [s.read for s in spies] == [["write"], ["write"]]


def test_run_with_ui_reports_only_the_stages_that_ran(monkeypatch):
    """A SKIPPED stage (zero tasks, e.g. one a broadcast's future job
    lists but never runs) is not in run_with_ui's stage list."""
    ran = []
    jobs = {False: [{"jobId": 0}], True: [{"jobId": 0}, {"jobId": 1}]}
    stages = {False: [{"stageId": 0, "status": "COMPLETE"}],
              True: [{"stageId": 0, "status": "COMPLETE"},
                     {"stageId": 3, "status": "COMPLETE"},
                     {"stageId": 1, "status": "SKIPPED"},
                     {"stageId": 2, "status": "COMPLETE"}]}
    monkeypatch.setattr(measure, "_api", lambda base, path: (
        jobs if path == "/jobs" else stages)[bool(ran)])
    monkeypatch.setattr(measure, "release", lambda spark: None)
    monkeypatch.setattr(measure, "run_once",
                        lambda spark, fn, sf: ran.append(1) or {"wall_s": 1})
    rec, new_jobs, new_stages = measure.run_with_ui(None, "base", None, None)
    assert rec == {"wall_s": 1}
    assert [j["jobId"] for j in new_jobs] == [1]
    assert [s["stageId"] for s in new_stages] == [2, 3]

@pytest.mark.skipif(not os.path.isdir(SF), reason=f"{SF} not present")
def test_bench_named_mode_prints_full_and_tail_lines():
    env = {**os.environ, "SPARK_GRAFT_SF_DIR": SF, "SPARK_GRAFT_CPUS": "2",
           "SPARK_GRAFT_DRIVER_MEM": "1g"}
    p = subprocess.run([sys.executable, "bench.py", "agg_pricing_summary"],
                       cwd=ROOT, env=env, capture_output=True, text=True,
                       timeout=600)
    assert p.returncode == 0, p.stderr[-2000:]
    recs = [json.loads(ln) for ln in p.stdout.splitlines()
            if ln.startswith("{")]
    full, tail = recs[0], recs[-1]
    assert set(full["queries"]) == {"agg_pricing_summary"}
    spread = full["spread"]["agg_pricing_summary"]
    assert spread["min"] == full["queries"]["agg_pricing_summary"]
    assert abs(spread["construct_s"] + spread["action_s"]
               - spread["min"]) < 0.005
    assert {"cores", "commit", "source", "calib_s"} <= set(full["host"])
    assert tail["compact"] is True
    for k in ("metric", "value", "unit", "sf"):
        assert tail[k] == full[k]
    assert tail["queries"] == {"agg_pricing_summary":
                               round(full["queries"]["agg_pricing_summary"],
                                     1)}


def test_bench_rejects_unknown_names_before_starting_spark():
    p = subprocess.run([sys.executable, "bench.py", "agg_pricing_summary",
                        "no_such_query"], cwd=ROOT, capture_output=True,
                       text=True, timeout=120)
    assert p.returncode != 0
    assert "unknown queries: ['no_such_query']" in p.stderr
