"""Per-stage EXECUTED task-count probe for one query: runs the query to
the noop sink with the UI enabled and prints every stage's task count,
name, and input/shuffle bytes — the stage-level complement to
tools/runtime_metrics.py's per-query totals. Built for the r15
optimization round to answer "which stage is under-parallelized"
(e.g. an AQE-coalesced applyInPandas synth stage running compute-dense
work on one core — the round-6 skew lesson, synth-side variant).

Usage: python tools/stage_probe.py <sf_dir> <query> [query ...]
"""

from __future__ import annotations

import sys

import measure


def main() -> None:
    import __spark_entry__ as entrymod
    from lswms_forage_etl_spark import get_spark

    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    spark = get_spark("stage_probe", extra_conf={
        "spark.ui.enabled": "true", "spark.ui.port": "4050"})
    spark.sparkContext.setLogLevel("ERROR")
    base = measure.ui_base(spark)
    qs = entrymod.queries()
    # warm at the smallest sf so codegen/Arrow cold cost doesn't distort
    # the probed runs' walls (task counts unaffected either way)
    measure.warm(spark, qs, names)
    for name in names:
        spark.sparkContext.setJobDescription(f"probe:{name}")
        rec, _, stages = measure.run_with_ui(spark, base, qs[name], sf_dir)
        if "error" in rec:
            print(f"=== {name}: ERROR {rec['error']}")
            continue
        print(f"=== {name}: {len(stages)} stages")
        for s in stages:
            ms = s.get("executorRunTime", 0)
            print(f"  stage {s['stageId']:>4} tasks={s['numCompleteTasks']:>4} "
                  f"runtime_ms={ms:>8} input_mb={s.get('inputBytes', 0)/1e6:8.2f} "
                  f"shuf_r_mb={s.get('shuffleReadBytes', 0)/1e6:7.2f} "
                  f"shuf_w_mb={s.get('shuffleWriteBytes', 0)/1e6:7.2f}  "
                  f"{s['name'][:70]}")


if __name__ == "__main__":
    main()
