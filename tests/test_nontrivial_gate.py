"""The structural non-triviality gate (VERDICT r10 item 3).

Round 10's first `join_asof_forward` returned ZERO rows (orders are
1992-98, events 2024 — a forward as-of matched nothing) yet hash-passed
the oracle gate, because both engines agree on the empty result. The
gate now fails any graded query whose Spark side returns 0 rows unless
the query is on `check_oracle.EMPTY_OK` with a written justification.

These tests drive `tools/check_oracle.main()` against a stub entry
module to prove: red on an empty graded result, green when the same
query returns rows, and green again when the empty query is explicitly
allowlisted.
"""

from __future__ import annotations

import importlib.util
import sys
import tempfile
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]


def _load_check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle_under_test", REPO / "tools" / "check_oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class _StubEntry:
    """Minimal stand-in for __spark_entry__ with one controllable query."""

    TABLES = ["region"]

    def __init__(self, empty: bool):
        self.empty = empty

    def queries(self):
        def q(spark, sf_dir):
            df = spark.read.parquet(f"{sf_dir}/region.parquet")
            if self.empty:
                df = df.where("r_regionkey < 0")
            return df.selectExpr("r_regionkey", "r_name")
        return {"stub_query": q}

    def oracle_sql(self):
        pred = "WHERE r_regionkey < 0" if self.empty else ""
        return {"stub_query":
                f"SELECT r_regionkey, r_name FROM region {pred}"}


@pytest.fixture()
def gate(monkeypatch, spark, tmp_path):
    co = _load_check_oracle()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))  # JVM log

    def run(entry, argv_extra=(), empty_ok=None):
        monkeypatch.setitem(sys.modules, "__spark_entry__", entry)
        monkeypatch.setattr(
            sys, "argv",
            ["check_oracle.py", "/root/testdata/sf0.001", *argv_extra])
        monkeypatch.setattr(co, "EMPTY_OK", empty_ok or {})
        return co.main()

    return run


def test_empty_graded_query_fails(gate, capsys):
    rc = gate(_StubEntry(empty=True))
    out = capsys.readouterr().out
    assert rc == 1
    assert "trivially empty" in out


def test_nonempty_graded_query_passes(gate, capsys):
    rc = gate(_StubEntry(empty=False))
    out = capsys.readouterr().out
    assert rc == 0
    assert "PASS  stub_query" in out


def test_allowlisted_empty_query_passes(gate, capsys):
    rc = gate(_StubEntry(empty=True),
              empty_ok={"stub_query": "intentionally empty for this test"})
    out = capsys.readouterr().out
    assert rc == 0
    assert "PASS  stub_query: 0 rows" in out


class _LeakyLazyEntry(_StubEntry):
    """A query that leaves an uncovered stage_lazy link, then a good
    one: the lifecycle failure must fail only its own query."""

    def __init__(self):
        super().__init__(empty=False)

    def queries(self):
        from lswms_forage_etl_spark import lifecycle

        def bad(spark, sf_dir):
            df = spark.read.parquet(f"{sf_dir}/region.parquet")
            return lifecycle.stage_lazy(
                df.selectExpr("r_regionkey", "r_name"))
        return {"uncovered_lazy": bad, **super().queries()}

    def oracle_sql(self):
        return {"uncovered_lazy": "SELECT r_regionkey, r_name FROM region",
                **super().oracle_sql()}


def test_lifecycle_failure_fails_one_query_and_gate_continues(
        gate, capsys, spark):
    from lswms_forage_etl_spark import lifecycle

    rc = gate(_LeakyLazyEntry())
    out = capsys.readouterr().out
    assert rc == 1
    assert ("FAIL  uncovered_lazy: stage_lazy link(s) never covered"
            in out)
    assert "PASS  stub_query" in out
    assert "1 pass, 1 fail" in out
    lifecycle.assert_no_cached_rdds(spark, context="gate-continue-test")


class _LoggingEntry(_StubEntry):
    """A correct query that writes one line to fd 2 while it runs — the
    stream the JVM's log4j output shares."""

    def __init__(self, line: str):
        super().__init__(empty=False)
        self.line = line

    def queries(self):
        import os
        good = super().queries()["stub_query"]

        def q(spark, sf_dir):
            os.write(2, self.line.encode() + b"\n")
            return good(spark, sf_dir)
        return {"stub_query": q}


def test_scheduler_error_line_fails_a_correct_query(gate, capsys):
    rc = gate(_LoggingEntry(
        "26/10/20 01:02:03 ERROR DAGScheduler: Failed to update "
        "accumulator 4521 (org.apache.spark.sql.execution.metric."
        "SQLMetric) for task 7"))
    out = capsys.readouterr().out
    assert rc == 1
    assert "FAIL  stub_query: 1 scheduler ERROR line(s)" in out
    assert "0 pass, 1 fail" in out


def test_scheduler_warn_line_does_not_fail(gate, capsys):
    rc = gate(_LoggingEntry(
        "26/10/20 01:02:03 WARN DAGScheduler: Broadcasting large task "
        "binary with size 1100.0 KiB"))
    out = capsys.readouterr().out
    assert rc == 0
    assert "PASS  stub_query" in out
