"""The @query registry: one declaration per query.

The pinned values in query_registry_pin.json were taken from the
registry as it stood before the declarations replaced the hand-kept
lists: the driver's graded first-50 window in order, every name, a
sha256 of every oracle string, the bench headline set and the rows-only
set. No Spark session starts here; importing the modules builds no plan.
"""

from __future__ import annotations

import ast
import hashlib
import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import __spark_entry__ as entry  # noqa: E402
import bench  # noqa: E402

PIN = json.loads((REPO / "tests" / "query_registry_pin.json").read_text())


def test_graded_window_is_pinned_in_order():
    assert list(entry.queries())[:50] == PIN["first_50"]
    assert [d.name for d in entry.declared() if d.graded] == PIN["first_50"]


def test_registry_names_are_pinned():
    names = [d.name for d in entry.declared()]
    assert len(names) == len(set(names)) == len(PIN["names"])
    assert sorted(entry.queries()) == PIN["names"]


def test_oracle_strings_are_pinned():
    got = {k: hashlib.sha256(v.encode()).hexdigest()
           for k, v in entry.oracle_sql().items()}
    assert got == PIN["oracle_sha256"]


def test_headline_and_rows_only_sets_are_pinned():
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))
    assert sorted(bench.HEADLINE) == PIN["headline"]
    assert sorted(d.name for d in entry.declared()
                  if d.rows_only) == PIN["rows_only"]


def test_every_query_without_rows_only_has_an_oracle():
    """A query declared without an oracle fails here instead of quietly
    becoming rows-only; a rows-only one must really have none."""
    rows_only = {d.name for d in entry.declared() if d.rows_only}
    assert set(entry.oracle_sql()) == set(entry.queries()) - rows_only


def test_each_query_function_has_one_query_line():
    tree = ast.parse((REPO / "__spark_entry__.py").read_text())
    fns = [n for n in tree.body
           if isinstance(n, ast.FunctionDef) and n.name.startswith("q_")]
    assert len(fns) == len(PIN["names"])
    bad = [n.name for n in fns
           if [ast.unparse(d).split("(")[0] for d in n.decorator_list]
           != ["query"]]
    assert not bad, f"q_ functions without exactly one @query: {bad}"
