"""Local replica of the driver's correctness gate: run every queries()
entry on Spark AND its oracle_sql() on DuckDB over the same parquet dir,
compare row-count + column names + order-insensitive value-hash.
The JVM's stderr goes to a temp log (its path is printed first); a
query during which Spark's scheduler or executor logs an ERROR line
fails, even when its hash matches.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))  # the checkout this file lives in


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if hasattr(v, "isoformat"):
        s = v.isoformat()
        return s[:10] if len(s) >= 10 and "T" not in s[:10] else s
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


# Engine-fragile DuckDB types: canonicalized differently by fetchall()
# vs Arrow/pandas fetch paths, so a local pass does not guarantee a
# driver pass. DuckDB's windowed sum() yields HUGEINT; sum(DECIMAL)
# widens precision. Oracles must CAST these before output.
_FRAGILE = ("HUGEINT", "UHUGEINT", "DECIMAL")

# Non-triviality gate (VERDICT r10 item 3): a graded query returning
# ZERO rows still hash-passes (both engines agree on empty), which is
# how round 10's first join_asof_forward shipped trivially empty
# (orders are 1992-98, events 2024 — a forward as-of matched nothing).
# Any query returning 0 rows at the gate sf now FAILS unless listed
# here with a reason. Currently no query is allowed to be empty.
EMPTY_OK: dict[str, str] = {
    # name -> one-line justification for a legitimately-empty result
}

_DUCK_FAMILY = {
    "TINYINT": "int", "SMALLINT": "int", "INTEGER": "int", "BIGINT": "int",
    "UTINYINT": "int", "USMALLINT": "int", "UINTEGER": "int",
    "UBIGINT": "int", "HUGEINT": "int", "UHUGEINT": "int",
    "FLOAT": "float", "REAL": "float", "DOUBLE": "float",
    "VARCHAR": "str", "BOOLEAN": "bool", "DATE": "date",
    "TIMESTAMP": "ts", "TIMESTAMP WITH TIME ZONE": "ts", "BLOB": "bin",
}

_SPARK_FAMILY = {
    "tinyint": "int", "smallint": "int", "int": "int", "bigint": "int",
    "float": "float", "double": "float", "string": "str",
    "boolean": "bool", "date": "date", "timestamp": "ts",
    "timestamp_ntz": "ts", "binary": "bin",
}


def _family(mapping, t):
    t = t.upper() if mapping is _DUCK_FAMILY else t.lower()
    if t.upper().startswith("DECIMAL"):
        return "decimal"
    if t.endswith("[]") or t.lower().startswith("array"):
        return "array"
    if t.upper().startswith(("STRUCT", "MAP")):
        return "struct"
    return mapping.get(t, t)


def type_problems(con, sql, spark_dtypes):
    """DESCRIBE the oracle; flag fragile duck types and family
    mismatches vs the Spark schema. Returns a list of problem strings."""
    out = []
    try:
        desc = con.execute(f"DESCRIBE ({sql})").fetchall()
    except Exception as e:  # DESCRIBE unsupported for this statement shape
        return [f"describe-error: {e}"]
    duck = {r[0]: r[1] for r in desc}
    sparkt = dict(spark_dtypes)
    for col, dt in duck.items():
        up = dt.upper()
        if any(up.startswith(f) for f in _FRAGILE):
            out.append(f"fragile duck type {col}:{dt} (add a CAST)")
        elif col in sparkt:
            df, sf = _family(_DUCK_FAMILY, dt), _family(
                _SPARK_FAMILY, sparkt[col])
            if df != sf:
                out.append(
                    f"type family mismatch {col}: duck {dt} vs "
                    f"spark {sparkt[col]}")
    return out


def main():
    import tempfile

    import duckdb
    import __spark_entry__ as entrymod
    from lswms_forage_etl_spark import get_spark
    from lswms_forage_etl_spark import lifecycle
    from perfbench.tracing import scheduler_errors

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # the JVM and its Python workers inherit fd 2: send it to a file
    # before the session starts, so each query's scheduler ERROR lines
    # can be counted (a correct result that logged one still fails)
    fd, jvm_log = tempfile.mkstemp(prefix="check_oracle-", suffix=".log")
    print(f"JVM log: {jvm_log}")
    saved_fd2 = os.dup(2)
    os.dup2(fd, 2)
    os.close(fd)

    def grade(name, fn) -> tuple[str, str]:
        """(PASS|FAIL|ROWS, message) for one query."""
        t0 = time.time()
        err = None
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            sdtypes = sdf.dtypes
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            err = f"spark error: {e}"
        # lifecycle gate (VERDICT r4 item 6): every stage table and
        # tracked persist is released, then NOTHING may still hold
        # cached blocks (clearCache would mask DF-level leaks, and
        # cannot free RDD-level checkpoint blocks at all). The
        # stage_lazy backstop runs BEFORE release clears the registry.
        # A lifecycle failure fails this query only: leftovers are
        # dropped so the next query is graded on its own.
        try:
            lifecycle.assert_no_unresolved_lazy(context=name)
            lifecycle.release_tracked()
            lifecycle.assert_no_cached_rdds(spark, context=name)
        except (AssertionError, TimeoutError) as e:
            err = f"{err}; {e}" if err else str(e)
            lifecycle.release_tracked()
            spark.catalog.clearCache()
            jmap = spark.sparkContext._jsc.getPersistentRDDs()
            for k in list(jmap.keySet().toArray()):
                jmap.get(k).unpersist(False)
        if err:
            return "FAIL", err
        if not srows and name not in EMPTY_OK:
            return "FAIL", (
                "trivially empty (0 spark rows — an empty result "
                "hash-passes vacuously; add to EMPTY_OK with a "
                "justification if genuinely expected)")
        if name not in oracles:
            return "ROWS", (f"{len(srows)} rows (no oracle) "
                            f"[{time.time()-t0:.1f}s]")
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            return "FAIL", f"duckdb error: {e}"
        problems = type_problems(con, oracles[name], sdtypes)
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if not problems:
            hs, hd = table_hash(scols, srows), table_hash(dcols, drows)
            if hs != hd:
                problems.append("value-hash mismatch")
                sset = {tuple(canon(v) for v in r) for r in srows}
                dset = {tuple(canon(v) for v in r) for r in drows}
                so = list(sset - dset)[:3]
                do = list(dset - sset)[:3]
                if so:
                    problems.append(f"spark-only={so}")
                if do:
                    problems.append(f"duck-only={do}")
        if problems:
            return "FAIL", "; ".join(str(p) for p in problems)
        return "PASS", f"{len(srows)} rows [{time.time()-t0:.1f}s]"

    counts = {"PASS": 0, "FAIL": 0, "ROWS": 0}
    try:
        spark = get_spark("oracle-check")
        con = duckdb.connect()
        for t in entrymod.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        oracles = entrymod.oracle_sql()
        for name, fn in entrymod.queries().items():
            if only and name not in only:
                continue
            before = scheduler_errors(jvm_log)
            status, msg = grade(name, fn)
            n_err = scheduler_errors(jvm_log) - before
            if n_err:
                status, msg = "FAIL", (f"{n_err} scheduler ERROR line(s) "
                                       f"(graded {status}: {msg})")
            print(f"{status:<5} {name}: {msg}")
            counts[status] += 1
    finally:
        os.dup2(saved_fd2, 2)
        os.close(saved_fd2)
    print(f"\n{counts['PASS']} pass, {counts['FAIL']} fail, "
          f"{counts['ROWS']} rows-only")
    return 1 if counts["FAIL"] else 0


if __name__ == "__main__":
    sys.exit(main())
