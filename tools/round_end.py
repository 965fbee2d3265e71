"""The round-end verification ritual, as ONE command (VERDICT r8 item 4
— rounds 7 and 8 skipped parts of it by hand and shipped a red suite /
lost artifacts):

    python tools/round_end.py [round_number] [--runs N]

Runs, in order, capturing everything under ROUND_END.md:
  0. registry-count assertion: the counts documented in CLAUDE.md and
     README.md must equal len(queries()) / len(oracle_sql()) derived
     from __spark_entry__.py — stale hand-written totals fail the
     ritual (VERDICT r9 item 1).
  1. python tools/check_oracle.py /root/testdata/sf0.01   (full gate)
  2. python -m pytest tests/ -q                            (full suite)
  3. SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python bench.py, N times
     (--runs, default 1) -> writes BENCH_LOCAL.json with the per-query
     best as `queries` and, when N > 1, the per-query min/median/max
     envelope as `spread` — the multi-run contention-flare handling is
     now reproducible tool output, not a hand edit (ADVICE r9).
  4. python tools/arrow_fetch_sweep.py
  5. python tools/bench_compare.py <previous BENCH_LOCAL> <new>
     (regression gate, ±20% band around the old min..max spread)

Exit code is non-zero if ANY step fails, so it can gate a commit.
The previous BENCH_LOCAL.json is kept at BENCH_LOCAL.prev.json for the
comparison and for the judge.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(cmd: list[str], env: dict | None = None) -> tuple[int, str]:
    e = dict(os.environ)
    if env:
        e.update(env)
    p = subprocess.run(cmd, cwd=REPO, env=e, text=True,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    return p.returncode, p.stdout


def tail(text: str, n: int = 15) -> str:
    lines = [ln for ln in text.splitlines()
             if not ln.startswith(("[Stage", "\r")) and ln.strip()]
    return "\n".join(lines[-n:])


def registry_counts() -> tuple[int, int, int]:
    """(total, oracle-checked, rows-only) derived from the entry module
    — the single source of truth the documented counts must match."""
    import importlib.util
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    spec = importlib.util.spec_from_file_location(
        "__spark_entry_counts__", os.path.join(REPO, "__spark_entry__.py"))
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    n_total = len(m.queries())
    n_oracle = len(m.oracle_sql())
    return n_total, n_oracle, n_total - n_oracle


def check_documented_counts() -> list[str]:
    """Return a list of human-readable mismatches (empty = clean)."""
    n_total, n_oracle, n_rows_only = registry_counts()
    problems: list[str] = []
    expectations = [
        ("CLAUDE.md",
         f"{n_oracle} PASS / {n_rows_only} rows-only of {n_total} expected"),
        ("CLAUDE.md", f"{n_rows_only} of {n_total} queries"),
        ("README.md", f"the other {n_oracle} queries (of {n_total})"),
    ]
    for fname, needle in expectations:
        with open(os.path.join(REPO, fname)) as f:
            if needle not in f.read():
                problems.append(f"{fname}: expected literal '{needle}' "
                                f"(registry: {n_total} total, {n_oracle} "
                                f"oracle, {n_rows_only} rows-only)")
    return problems


def parse_regressed(compare_out: str) -> list[str]:
    """Query names from bench_compare's `REGRESSED: a, b` line."""
    for ln in compare_out.splitlines():
        if ln.startswith("REGRESSED:"):
            return [q.strip() for q in ln.split(":", 1)[1].split(",")
                    if q.strip()]
    return []


def adjudication_gaps(regressed: list[str],
                      adjudication_text: str) -> list[str]:
    """REGRESSED queries with no row in the adjudication table
    (VERDICT r14 nit #1: round 14's hand-written table silently
    covered 5 of 9 flags while claiming all were re-measured — the
    ritual must refuse that). A query is covered when it appears as
    the first cell of a markdown table row in ADJUDICATIONS.md."""
    covered: set[str] = set()
    for ln in adjudication_text.splitlines():
        s = ln.strip()
        if s.startswith("|"):
            cells = [c.strip().strip("`") for c in s.strip("|").split("|")]
            if cells:
                covered.add(cells[0])
    return [q for q in regressed if q not in covered]


def main() -> None:
    args = [a for a in sys.argv[1:]]
    runs = 1
    if "--runs" in args:
        i = args.index("--runs")
        runs = int(args[i + 1])
        del args[i:i + 2]
    rnd = args[0] if args else "?"
    report: list[str] = [f"# Round-end verification (round {rnd})",
                         f"_{time.strftime('%Y-%m-%d %H:%M:%S')}_", ""]
    failures: list[str] = []

    print("== registry-count assertion ...", flush=True)
    problems = check_documented_counts()
    n_total, n_oracle, n_rows_only = registry_counts()
    if problems:
        failures.append("registry counts")
        report += ["## registry-count assertion — FAIL", ""]
        report += [f"- {p}" for p in problems] + [""]
        print("   FAIL: " + "; ".join(problems))
    else:
        report += [f"## registry-count assertion — PASS "
                   f"({n_total} queries = {n_oracle} oracle-checked "
                   f"+ {n_rows_only} rows-only; CLAUDE.md/README agree)",
                   ""]
        print(f"   PASS ({n_total} = {n_oracle} + {n_rows_only})")

    steps: list[tuple[str, list[str], dict | None]] = [
        ("oracle gate (sf0.01)",
         [sys.executable, "tools/check_oracle.py", "/root/testdata/sf0.01"],
         None),
        ("pytest (full suite)",
         [sys.executable, "-m", "pytest", "tests/", "-q"], None),
        ("arrow fetch sweep",
         [sys.executable, "tools/arrow_fetch_sweep.py"], None),
        # VERDICT r10 item 8: the runtime-metrics snapshot went stale
        # twice; --sync runs only registry queries missing from it and
        # fails on count mismatch, so staleness now fails the ritual.
        ("metrics snapshot sync (METRICS_sf001.jsonl)",
         [sys.executable, "tools/runtime_metrics.py", "--sync"], None),
    ]
    for title, cmd, env in steps:
        print(f"== {title} ...", flush=True)
        rc, outp = run(cmd, env)
        status = "PASS" if rc == 0 else f"FAIL (exit {rc})"
        if rc != 0:
            failures.append(title)
        report += [f"## {title} — {status}", "```", tail(outp), "```", ""]
        print(f"   {status}")

    bench_runs: list[dict] = []
    for i in range(runs):
        print(f"== bench (sf0.1) run {i + 1}/{runs} ...", flush=True)
        rc, outp = run([sys.executable, "bench.py"],
                       {"SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.1"})
        # bench.py now prints TWO parseable lines (VERDICT r10 item 7):
        # the full record (with the per-query spread envelope) and then a
        # compact driver-tail-safe line marked "compact": true. Prefer
        # the full one; fall back to whatever parses.
        cands = [ln for ln in outp.splitlines()
                 if ln.startswith('{"metric"')]
        line = next((ln for ln in cands if '"spread"' in ln),
                    cands[-1] if cands else None)
        if rc != 0 or line is None:
            failures.append(f"bench run {i + 1}")
            report += [f"## bench run {i + 1} — FAIL", "```", tail(outp),
                       "```", ""]
            print("   FAIL")
        else:
            parsed = json.loads(line)
            bench_runs.append(parsed)
            print(f"   PASS ({parsed['value']} s)")

    if bench_runs:
        qnames = bench_runs[0]["queries"].keys()
        best = {q: min(r["queries"][q] for r in bench_runs) for q in qnames}
        merged = dict(bench_runs[0])
        merged["queries"] = best
        merged["value"] = round(sum(best.values()), 3)
        if len(bench_runs) > 1:
            merged["spread"] = {
                q: {"min": min(r["queries"][q] for r in bench_runs),
                    "median": round(statistics.median(
                        r["queries"][q] for r in bench_runs), 3),
                    "max": max(r["queries"][q] for r in bench_runs)}
                for q in qnames}
            merged["merged_runs"] = len(bench_runs)
            merged["note"] = (
                f"per-query envelope over {len(bench_runs)} same-code "
                f"runs ({time.strftime('%Y-%m-%d')}); min = best "
                "observed, min..max = regression band (tool-generated "
                "by round_end.py --runs)")
        prev = os.path.join(REPO, "BENCH_LOCAL.json")
        prev_copy = os.path.join(REPO, "BENCH_LOCAL.prev.json")
        had_prev = os.path.exists(prev)
        if had_prev:
            shutil.copy(prev, prev_copy)
        with open(prev, "w") as f:
            f.write(json.dumps(merged) + "\n")
        per_run = ", ".join(f"{r['value']}" for r in bench_runs)
        report += [f"## bench — PASS (Σbest {merged['value']} s over "
                   f"{len(best)} queries at sf{merged['sf']}; "
                   f"{len(bench_runs)} run(s): {per_run} s)", ""]
        if had_prev:
            print("== bench_compare vs previous ...", flush=True)
            rc, outp = run([sys.executable, "tools/bench_compare.py",
                            prev_copy, prev])
            if rc == 0:
                status = "no regressions"
            elif rc == 2:
                status = outp.strip()
            else:
                # Regressions require a COMPLETE adjudication: every
                # flagged query must have a row in ADJUDICATIONS.md
                # (old-tree worktree A/B on the same box, same method).
                # Full coverage -> the table is embedded here and the
                # ritual passes; ANY gap -> hard fail. The ROUND_END
                # claim is now tool-generated, never hand-asserted.
                regressed = parse_regressed(outp)
                adj_path = os.path.join(REPO, "ADJUDICATIONS.md")
                adj_text = ""
                if os.path.exists(adj_path):
                    with open(adj_path) as f:
                        adj_text = f.read()
                gaps = adjudication_gaps(regressed, adj_text)
                if gaps:
                    status = (f"REGRESSIONS — UNADJUDICATED: "
                              f"{', '.join(gaps)}")
                    failures.append(
                        "bench_compare (adjudication missing: "
                        + ", ".join(gaps) + ")")
                else:
                    status = (f"REGRESSIONS, all {len(regressed)} "
                              "adjudicated (ADJUDICATIONS.md)")
                    report += ["## adjudications (verbatim from "
                               "ADJUDICATIONS.md)", "", adj_text, ""]
            report += [f"## bench_compare — {status}", "", outp, ""]
            print(f"   {status}")

    report += ["## verdict",
               ("ALL GREEN" if not failures
                else "FAILED: " + ", ".join(failures)), ""]
    with open(os.path.join(REPO, "ROUND_END.md"), "w") as f:
        f.write("\n".join(report))
    print(f"\nwrote ROUND_END.md — "
          f"{'ALL GREEN' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
