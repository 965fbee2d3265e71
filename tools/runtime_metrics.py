"""Runtime-truthful per-query execution metrics: RUN each queries()
entry to completion and report what actually executed — jobs, stages,
tasks, input/shuffle bytes — from the Spark UI REST API (the same
numbers the SQL tab shows). Complements tools/explain_audit.py, which
audits the PLAN: a missing materialization point shows up here as
doubled stage/input numbers even if the plan text looks right.

Output: one JSON line per query:
  {"query": ..., "wall_s": ..., "jobs": n, "stages": n, "tasks": n,
   "input_mb": x, "shuffle_write_mb": x}

Usage: python tools/runtime_metrics.py [sf_dir] [query ...]
       python tools/runtime_metrics.py --sync [snapshot.jsonl] [query ...]
       python tools/runtime_metrics.py --sync --all

--sync (VERDICT r10 item 8 — the snapshot went 2 queries stale twice)
keeps METRICS_sf001.jsonl aligned with the live registry: runs the
queries missing from the snapshot PLUS any explicitly named ones
(ADVICE r11: name every query whose plan you changed, or --all to
refresh everything), drops lines for queries no longer registered,
rewrites the file in registry order, and exits non-zero if the final
line count != len(queries()) or any run errored. round_end.py calls
this every round, so the snapshot structurally cannot go stale.
"""

from __future__ import annotations

import json
import os
import sys

import measure

SNAPSHOT_DEFAULT = os.path.join(measure.ROOT, "METRICS_sf001.jsonl")


def main() -> None:
    import __spark_entry__ as entrymod
    from lswms_forage_etl_spark import get_spark

    argv = sys.argv[1:]
    sync_path = None
    forced: set[str] = set()
    if argv and argv[0] == "--sync":
        argv = argv[1:]
        sync_path = SNAPSHOT_DEFAULT
        if argv and (os.sep in argv[0] or argv[0].endswith(".jsonl")):
            sync_path = argv[0]
            argv = argv[1:]
        # ADVICE r11: --sync only reran MISSING queries, so lines for
        # queries whose PLANS changed silently stayed stale. Trailing
        # query names (or --all) force-refresh their snapshot lines.
        forced = set(argv) - {"--all"}
        argv = []

    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    if sync_path is not None:
        registry = list(entrymod.queries().keys())
        existing: dict[str, str] = {}
        if os.path.exists(sync_path):
            with open(sync_path) as f:
                for ln in f:
                    if ln.strip():
                        existing[json.loads(ln)["query"]] = ln.strip()
        if "--all" in sys.argv:
            forced = set(registry)
        unknown = forced - set(registry)
        if unknown:
            print(f"sync: unknown queries {sorted(unknown)}",
                  file=sys.stderr)
            sys.exit(2)
        missing = [q for q in registry if q not in existing]
        dropped = [q for q in existing if q not in set(registry)]
        print(f"sync: registry={len(registry)} snapshot={len(existing)} "
              f"missing={missing} dropped={dropped} "
              f"forced={sorted(forced)}", file=sys.stderr)
        only = set(missing) | forced
        if not only:
            with open(sync_path, "w") as f:
                for q in registry:
                    f.write(existing[q] + "\n")
            print(f"sync: OK ({len(registry)} lines)", file=sys.stderr)
            return
    spark = get_spark("runtime-metrics",
                      extra_conf={"spark.ui.enabled": "true"})
    spark.sparkContext.setLogLevel("ERROR")
    base = measure.ui_base(spark)
    if not base:
        print("Spark UI disabled; cannot read runtime metrics",
              file=sys.stderr)
        sys.exit(1)

    errored = []
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        rec, jobs, stages = measure.run_with_ui(spark, base, fn, sf_dir)
        if "error" in rec:
            print(json.dumps({"query": name, "error": rec["error"]}))
            errored.append(name)
            continue
        line = json.dumps({
            "query": name,
            "wall_s": round(rec["wall_s"], 3),
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
            "input_mb": round(sum(s.get("inputBytes", 0)
                                  for s in stages) / 2**20, 2),
            "shuffle_write_mb": round(sum(s.get("shuffleWriteBytes", 0)
                                          for s in stages) / 2**20, 2),
        })
        print(line, flush=True)
        if sync_path is not None:
            existing[name] = line

    if sync_path is not None:
        registry = list(entrymod.queries().keys())
        still_missing = [q for q in registry if q not in existing]
        with open(sync_path, "w") as f:
            for q in registry:
                if q in existing:
                    f.write(existing[q] + "\n")
        if errored or still_missing:
            print(f"sync: FAIL (errored={errored} "
                  f"missing={still_missing})", file=sys.stderr)
            sys.exit(1)
        print(f"sync: OK ({len(registry)} lines)", file=sys.stderr)


if __name__ == "__main__":
    main()
