"""Benchmark harness: runs the headline queries (or the registry queries
named on the command line) at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "spread": {name: {min, median, max, construct_s,
action_s}}, "sf": ..., "host": {...}}, then the compact driver-tail
line(s).

Usage: python bench.py [query ...]

Each query is timed best-of-3 by tools/measure.py: warmed once at the
smallest sf, its staged tables released before every run, its DataFrame
build (construct_s) and noop-sink action (action_s) timed apart, so the
wall covers the whole plan, not just planning. "host" is perfbench's
fingerprint plus the wall of its fixed calibration job (calib_s).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "tools"))

import measure  # noqa: E402  (first: puts this checkout on both paths)

import __spark_entry__ as entrymod  # noqa: E402
from lswms_forage_etl_spark import get_spark  # noqa: E402
from perfbench.run import calibrate, fingerprint  # noqa: E402

# Headline set (@query(headline=True)): one per operator family, weighted
# toward shuffle/join/agg heavy paths that dominate at scale.
HEADLINE = [d.name for d in entrymod.declared() if d.headline]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    qs = entrymod.queries()
    names = sys.argv[1:] or HEADLINE
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warmup (not counted): the md5-heavy dedup plan alone costs ~8s of
    # first-run codegen, so measured numbers are steady-state only after
    # one pass of every query at the smallest sf.
    measure.warm(spark, qs, names)
    host = {**fingerprint(), "calib_s": round(calibrate(spark), 3)}

    # Failure isolation: one broken query must never abort the whole bench
    # (round-2 lesson — a partial bench beats no bench). Errors are recorded
    # as string entries and excluded from the total.
    timings: dict[str, object] = {}
    spreads: dict[str, dict[str, float]] = {}
    errors = 0
    for name in names:
        # best-of-3 (was best-of-2 through round 3): identical code
        # measured 13.9s-18.4s across runs on this host — ambient
        # noise, not the engine; min-of-3 converges much tighter
        rec = measure.best_of(spark, qs[name], sf_dir, 3)
        if "error" in rec:
            errors += 1
            timings[name] = f"ERROR: {rec['error']}"
            continue
        runs = rec["walls"]
        timings[name] = round(runs[0], 3)
        # per-query spread (VERDICT r4 item 7): min is the headline
        # number; median and max make round-over-round regressions
        # decidable without re-running (a +30% min inside last round's
        # min..max band is noise; outside it is real). The best run's
        # split says whether its wall went to building the query or to
        # the action.
        spreads[name] = {
            "min": round(runs[0], 3),
            "median": round(runs[len(runs) // 2], 3),
            "max": round(runs[-1], 3),
            "construct_s": round(rec["construct_s"], 3),
            "action_s": round(rec["action_s"], 3),
        }

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    total = round(sum(v for v in timings.values()
                      if isinstance(v, (int, float))), 3)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread": spreads,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "host": host,
    }
    if errors:
        out["errors"] = errors
    print(json.dumps(out))

    # Self-sufficient driver record (VERDICT r10 item 7, repaired per
    # VERDICT r15 item 1): the driver captures only the final ~2000
    # chars of output, which truncates the full JSON above (spreads
    # make it ~6 KB) into an unparseable fragment. Print compact
    # per-query lines LAST so the captured tail always ends with
    # complete parseable JSON carrying REAL query names and seconds —
    # the round-11 degrade to {"n": count} blinded the driver's whole
    # PERF comparison once the registry passed ~75 queries.
    # round_end.py prefers the full line above (it carries the spread
    # envelope); these exist for the driver's own artifact.
    for line in driver_tail_lines(timings, total, out["sf"], errors):
        print(line)


def driver_tail_lines(timings: dict[str, object], total: float,
                      sf: object, errors: int = 0,
                      budget: int = 1900) -> list[str]:
    """Compact driver-tail JSON line(s): per-query mins at 1-decimal
    precision, no spread. One line when it fits the tail budget;
    otherwise the map is split across two lines — a
    {"metric": "headline_part", "part": 1, ...} line first, then the
    FINAL line holding the second half of the map plus the total
    (metric/value/unit/queries/sf contract unchanged). Each emitted
    line stays under the budget so the driver's ~2000-char tail always
    ends with at least one complete parseable line of real per-query
    seconds (VERDICT r15 item 1)."""
    compact_qs = {k: (round(v, 1) if isinstance(v, (int, float))
                      else "ERROR")
                  for k, v in timings.items()}

    def final_line(qs: dict[str, object], part: int | None) -> str:
        rec: dict[str, object] = {
            "metric": "headline_queries_total",
            "value": total,
            "unit": "sec",
            "queries": qs,
            "sf": sf,
            "compact": True,
        }
        if part is not None:
            rec["part"] = part
            rec["of"] = part
        if errors:
            rec["errors"] = errors
        return json.dumps(rec, separators=(",", ":"))

    one = final_line(compact_qs, None)
    if len(one) < budget:
        return [one]
    # Only the FINAL line is guaranteed to sit fully inside the
    # driver's captured tail — pack as many queries into it as the
    # budget allows (smallest split index whose suffix fits), spilling
    # the remainder to the part-1 line.
    names = list(compact_qs)
    lo, hi = 0, len(names)
    while lo < hi:
        mid = (lo + hi) // 2
        if len(final_line({k: compact_qs[k] for k in names[mid:]},
                          2)) < budget:
            hi = mid
        else:
            lo = mid + 1
    split = lo
    part2 = final_line({k: compact_qs[k] for k in names[split:]}, 2)
    part1 = json.dumps({
        "metric": "headline_part",
        "part": 1,
        "of": 2,
        "queries": {k: compact_qs[k] for k in names[:split]},
        "sf": sf,
    }, separators=(",", ":"))
    # Backstop (ADVICE r11: never crash on line length): if the part-1
    # spill itself exceeds the budget the registry has ~tripled —
    # degrade that line to a count rather than emit an uncapturable one.
    if len(part1) >= budget:
        part1 = json.dumps({"metric": "headline_part", "part": 1, "of": 2,
                            "queries": {"n": split}, "sf": sf},
                           separators=(",", ":"))
    return [part1, part2]


if __name__ == "__main__":
    main()
