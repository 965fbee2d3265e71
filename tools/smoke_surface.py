"""Full-surface smoke: run EVERY queries() entry (the LIVE registry —
the tool enumerates `entrymod.queries()`, so the count tracks the
registry automatically; 179 as of round 13) to completion against a
directory (default /root/scale100x) — the zero-failure-at-100x claim
SCALE.md records per round (round 10: 138/138 in 1488 s; round 11:
142/142 in 702 s, plus the adversarial-skew slices, VERDICT r10
item 1). Prints OK/FAIL per query and a DONE summary (queries ok,
sum of their walls); exit code = number of failures.

Usage: python tools/smoke_surface.py [sf_dir] [--out walls.jsonl]
  --out appends one JSON line per query: {"dir", "query", "wall_s"}
  (FAILed queries get "error" instead of wall) so slice-vs-baseline
  ratios are scriptable.
"""

from __future__ import annotations

import json
import sys

import measure


def main() -> int:
    import __spark_entry__ as em
    from lswms_forage_etl_spark import get_spark

    args = sys.argv[1:]
    out_path = None
    if "--out" in args:
        i = args.index("--out")
        out_path = args[i + 1]
        del args[i:i + 2]
    sf_dir = args[0] if args else "/root/scale100x"
    outf = open(out_path, "a") if out_path else None
    spark = get_spark("smoke-surface", extra_conf={
        "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024)})
    spark.sparkContext.setLogLevel("ERROR")
    qs = em.queries()
    fails = []
    total = 0.0
    for i, (name, fn) in enumerate(qs.items()):
        rec = measure.run_once(spark, fn, sf_dir)
        total += rec["wall_s"]
        if "error" in rec:
            fails.append(name)
            print(f"FAIL {name}: {rec['error']}", flush=True)
            line = {"dir": sf_dir, "query": name, "error": rec["error"]}
        else:
            print(f"OK   {name} [{rec['wall_s']:.1f}s] "
                  f"({i + 1}/{len(qs)})", flush=True)
            line = {"dir": sf_dir, "query": name,
                    "wall_s": round(rec["wall_s"], 2)}
        if outf:
            outf.write(json.dumps(line) + "\n")
            outf.flush()
    print(f"DONE {len(qs) - len(fails)}/{len(qs)} ok in "
          f"{total:.0f}s; fails={fails}", flush=True)
    return len(fails)


if __name__ == "__main__":
    sys.exit(main())
