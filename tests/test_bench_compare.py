"""tools/bench_compare.py compares like with like: two records on the
same core count are diffed as before; a record without a host fingerprint,
or a pair on different core counts, exits 2 without a verdict. It reads
bench.py's raw stdout, whose record line is followed by driver-tail
lines."""

from __future__ import annotations

import importlib.util
import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def _bench_compare():
    spec = importlib.util.spec_from_file_location(
        "bench_compare_mod", REPO / "tools" / "bench_compare.py")
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def _record(tmp_path, name, q_min, q_max, host):
    rec = {"queries": {"q": q_min},
           "spread": {"q": {"min": q_min, "max": q_max}}}
    if host is not None:
        rec["host"] = host
    path = tmp_path / name
    path.write_text(json.dumps(rec))
    return str(path)


def _run(monkeypatch, old, new):
    monkeypatch.setattr(sys, "argv", ["bench_compare.py", old, new])
    try:
        _bench_compare().main()
    except SystemExit as e:
        return e.code
    return 0


def test_matching_cores_compare_as_before(tmp_path, monkeypatch, capsys):
    host = {"cores": 4, "calib_s": 0.2}
    old = _record(tmp_path, "old.json", 1.0, 1.1, host)
    assert _run(monkeypatch, old,
                _record(tmp_path, "same.json", 1.0, 1.2, host)) == 0
    assert "| q | 1.0..1.1 | 1.0..1.2 | noise |" in capsys.readouterr().out
    assert _run(monkeypatch, old,
                _record(tmp_path, "slow.json", 2.0, 2.1, host)) == 1
    assert "REGRESSED: q" in capsys.readouterr().out


def test_different_core_counts_exit_2(tmp_path, monkeypatch, capsys):
    old = _record(tmp_path, "old.json", 1.0, 1.1, {"cores": 32})
    new = _record(tmp_path, "new.json", 3.0, 3.1, {"cores": 4})
    assert _run(monkeypatch, old, new) == 2
    out = capsys.readouterr().out
    assert "32" in out and "4" in out and "REGRESSED" not in out


def test_record_without_host_is_history(tmp_path, monkeypatch, capsys):
    old = _record(tmp_path, "old.json", 1.0, 1.1, None)
    new = _record(tmp_path, "new.json", 3.0, 3.1, {"cores": 4})
    assert _run(monkeypatch, old, new) == 2
    out = capsys.readouterr().out
    assert "history, not a baseline" in out and "REGRESSED" not in out


def test_raw_bench_output_with_driver_tail_lines(tmp_path, monkeypatch):
    host = {"cores": 4, "calib_s": 0.2}
    old = _record(tmp_path, "old.json", 1.0, 1.1, host)
    new = tmp_path / "raw.json"
    tail = {"metric": "headline_queries_total", "value": 1.0,
            "unit": "sec", "queries": {"q": 1.0}, "sf": 0.1,
            "compact": True}       # bench.driver_tail_lines' shape
    new.write_text(Path(old).read_text() + "\n" + json.dumps(tail) + "\n")
    assert _run(monkeypatch, old, str(new)) == 0
