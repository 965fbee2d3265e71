"""Per-query bench regression gate (VERDICT r5 item 9): diff two bench
JSON outputs and flag real movers.

A query REGRESSED when its new min exceeds the old spread's max plus a
noise band (host noise is ~±20%, CLAUDE.md) — i.e. even the new best
run is slower than the old worst run with margin. IMPROVED is the
mirror image. Everything else is noise.

Usage: python tools/bench_compare.py OLD.json NEW.json [--band 0.2]
Exit code 1 if any query regressed (usable as a gate). Exit code 2 if the
two records cannot be compared: one has no "host" fingerprint (it is
history, not a baseline), or their core counts differ.

The driver's BENCH_r{N}.json wraps the bench line under a truncated
"tail" field; this reads either the raw bench.py output or a file whose
"tail" contains the JSON line suffix — pass the raw line when you have
it (bench.py prints it on stdout).
"""

from __future__ import annotations

import json
import sys


def load(path: str) -> dict:
    # bench.py prints the full record first, then its compact
    # driver-tail lines: read only the first JSON value.
    with open(path) as f:
        d, _ = json.JSONDecoder().raw_decode(f.read().lstrip())
    if "queries" in d:
        return d
    # driver BENCH_r{N}.json: the raw line survives truncated in "tail".
    # The spread dict is a suffix of the line, so it parses whole.
    tail = d.get("tail", "")
    i = tail.find('"spread"')
    if i >= 0:
        start = tail.index("{", i)
        depth, end = 0, start
        for j, ch in enumerate(tail[start:], start):
            depth += ch == "{"
            depth -= ch == "}"
            if depth == 0:
                end = j + 1
                break
        return {"spread": json.loads(tail[start:end])}
    raise SystemExit(
        f"{path}: no 'queries' or recoverable 'tail.spread' — pass "
        f"bench.py's raw JSON line")


def comparable(old: dict, new: dict, paths: list[str]) -> str | None:
    """Why OLD and NEW cannot be compared, or None if they can."""
    for rec, path in zip((old, new), paths):
        if "host" not in rec:
            return (f"{path} has no host fingerprint: it is history, not "
                    f"a baseline")
    cores = [rec["host"].get("cores") for rec in (old, new)]
    if None not in cores and cores[0] != cores[1]:
        return (f"core counts differ: {paths[0]} ran on {cores[0]}, "
                f"{paths[1]} on {cores[1]}")
    return None


def main() -> None:
    band = 0.2
    argv, args, skip = sys.argv[1:], [], False
    for i, a in enumerate(argv):
        if skip:
            skip = False
            continue
        if a.startswith("--band"):
            if "=" in a:
                band = float(a.split("=", 1)[1])
            else:
                band = float(argv[i + 1])
                skip = True     # consume the value, not a file path
        else:
            args.append(a)
    old, new = load(args[0]), load(args[1])
    why = comparable(old, new, args[:2])
    if why:
        print(f"not comparable: {why}")
        sys.exit(2)
    os_, ns = old.get("spread", {}), new.get("spread", {})
    regressed = []
    print(f"| query | old min..max | new min..max | verdict |")
    print(f"|---|---|---|---|")
    for name, sp in ns.items():
        if name not in os_:
            print(f"| {name} | (new) | {sp['min']}..{sp['max']} | new |")
            continue
        o = os_[name]
        lo, hi = o["min"], o["max"]
        verdict = "noise"
        if sp["min"] > hi * (1 + band):
            verdict = "REGRESSED"
            regressed.append(name)
        elif sp["max"] < lo * (1 - band):
            verdict = "improved"
        print(f"| {name} | {lo}..{hi} | {sp['min']}..{sp['max']} "
              f"| {verdict} |")
    gone = sorted(set(os_) - set(ns))
    for name in gone:
        print(f"| {name} | {os_[name]['min']}..{os_[name]['max']} "
              f"| (dropped) | dropped |")
    if regressed:
        print(f"\nREGRESSED: {', '.join(regressed)}")
        sys.exit(1)


if __name__ == "__main__":
    main()
