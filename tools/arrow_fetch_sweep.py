"""Driver-fetch-path robustness sweep: compare every oracle under
DuckDB's ARROW fetch (`fetch_arrow_table`) against the Spark result.

Why this exists (round 4): the round-3 driver marked `pack_sequences`
hash-mismatched while the local gate (fetchall) passed it bit-for-bit.
Root cause: DuckDB's windowed sum() returns HUGEINT, which fetchall
canonicalizes like a Python int but an Arrow fetch surfaces as
decimal/float — the only fetch-path-sensitive type that reached any
oracle output. `tools/check_oracle.py` now type-checks oracles
(DESCRIBE, fail on HUGEINT/DECIMAL), and this sweep directly replays
the Arrow path end-to-end as the strongest pre-validation of the
driver's correctness record.

Note: a pandas `.df()` fetch is NOT a faithful driver emulation — it
coerces NULLs in numeric columns to NaN, which canonicalizes as 'nan'
instead of 'NULL' and produces false mismatches (observed on
filter_sentinel_mask / window_lag_lead / window_lag_pivot, all of which
the real driver passes).

Usage: python tools/arrow_fetch_sweep.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))  # the checkout this file lives in


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod
    from lswms_forage_etl_spark import get_spark
    from tools.check_oracle import table_hash

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("arrow-fetch-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in entrymod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    oracles = entrymod.oracle_sql()
    bad = 0
    for name, fn in entrymod.queries().items():
        if name not in oracles:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            spark.catalog.clearCache()
            at = con.execute(oracles[name]).fetch_arrow_table()
            dcols = at.column_names
            drows = (list(zip(*[c.to_pylist() for c in at.columns]))
                     if at.num_rows else [])
            ok = table_hash(scols, srows) == table_hash(dcols, drows)
        except Exception as exc:  # noqa: BLE001 - per-query isolation
            ok = False
            print(f"ERR   {name}: {exc}")
        if not ok:
            bad += 1
            print(f"MISMATCH {name}")
    print(f"arrow-fetch sweep: {bad} mismatches of {len(oracles)}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
