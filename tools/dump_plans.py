"""Dump `.explain("formatted")` for named queries to files.

Usage: python tools/dump_plans.py <sf_dir> <out_dir> <suffix> <query ...>
Writes <out_dir>/<query>_<suffix>.txt for each query.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))  # the checkout this file lives in


def main() -> None:
    import __spark_entry__ as entrymod
    from lswms_forage_etl_spark import get_spark, lifecycle

    sf_dir, out_dir, suffix = sys.argv[1:4]
    names = sys.argv[4:]
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    for name in names:
        df = qs[name](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"),
                  "w") as f:
            f.write(txt)
        lifecycle.release_tracked()
        spark.catalog.clearCache()
        print(f"wrote {name}_{suffix}.txt ({len(txt)} chars)")


if __name__ == "__main__":
    main()
