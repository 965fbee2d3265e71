"""F5/F10/C1/C10/C11/C18 — masking, jitter, and domain arithmetic.

All pure expressions; the seeded-jitter operator uses a *hash-derived*
uniform variate instead of `rand(seed)` so the result is deterministic,
engine-independent, and reproducible per-row under repartitioning (Spark's
`rand` is per-partition-seeded, so its values change with the partitioning —
unacceptable for an engine whose partitioning is chosen by AQE at runtime).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lswms_forage_etl_spark.schemas import NODATA_FLOOR, NODATA_SENTINELS


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def mask_sentinels(col: Column | str,
                   sentinels: tuple = NODATA_SENTINELS,
                   floor: float = NODATA_FLOOR) -> Column:
    """F5 — sentinel nodata set + `< -1e3` guard -> NULL
    (reference BiomassAggregate.py:136-148)."""
    c = _c(col)
    return F.when(c.isin(*sentinels) | (c < F.lit(floor)), F.lit(None)).otherwise(c)


def normalized_difference(nir: Column | str, red: Column | str) -> Column:
    """C1 — NDVI `(M7-M5)/(M7+M5)` (data_extraction_v2.py:138-140)."""
    n, r = _c(nir), _c(red)
    return (n - r) / (n + r)


def biomass_calibration(pred: Column | str) -> Column:
    """C10 — `biom = (6480.2*pred - 958.6)/1000` (gwr_model.py:105),
    kg/m^2 -> t/ha."""
    return (F.lit(6480.2) * _c(pred) - F.lit(958.6)) / F.lit(1000.0)


def portable_round(col: Column | str, digits: int) -> Column:
    """Engine-portable rounding: floor(x*10^d + 0.5)/10^d.

    Spark's `round` goes through BigDecimal.valueOf (shortest decimal repr,
    HALF_UP) while DuckDB rounds the binary double directly — on half-
    boundary representations they disagree in the last digit. This formula
    evaluates identically on any IEEE-754 engine, so oracle value-hashes
    match bit-for-bit."""
    c = _c(col)
    s = float(10 ** digits)
    return F.floor(c * F.lit(s) + F.lit(0.5)) / F.lit(s)


def hash_uniform(*cols: Column | str, seed: int = 0) -> Column:
    """Deterministic per-row uniform(0,1) derived from a 64-bit hash of the
    key columns. Stable under repartitioning, identical on re-run."""
    h = F.xxhash64(*[_c(c) for c in cols], F.lit(seed))
    # map to [0,1): use the low 31 bits to stay positive
    return (F.pmod(h, F.lit(2147483647)).cast("double") / F.lit(2147483647.0))


def conditional_zero_jitter(df: DataFrame, value_col: str, key_cols: list,
                            nonzero_threshold_pct: float = 4.0,
                            jitter_fraction: float = 0.10,
                            seed: int = 0) -> DataFrame:
    """F10 — if the nonzero fraction of `value_col` is below the threshold,
    add uniform(0.001, 0.01) jitter to a deterministic ~10% subset of the
    zero rows (reference gwr_model.py:42-59, seeded there by row count).

    The global precheck stays IN the plan (VERDICT r3): the one-row
    aggregate (map-side combinable, column-pruned to `value_col` only) is
    broadcast back and gates the rewrite as a plain column predicate — no
    eager driver collect()/job at call time, and the caller's
    cache/stage-table decisions apply to the whole pipeline uniformly.
    An empty input aggregates to NULL pct -> no jitter (same as before).
    """
    v = F.col(value_col)
    pct_df = df.select(
        (F.avg((v != 0).cast("double")) * 100.0).alias("_nz_pct"))
    u_pick = hash_uniform(*key_cols, seed=seed)
    u_mag = hash_uniform(*key_cols, seed=seed + 1)
    jitter = F.lit(0.001) + u_mag * F.lit(0.009)
    low = F.col("_nz_pct").isNotNull() & \
        (F.col("_nz_pct") < F.lit(nonzero_threshold_pct))
    return (df.crossJoin(F.broadcast(pct_df))
            .withColumn(
                value_col,
                F.when(low & (v == 0) & (u_pick < F.lit(jitter_fraction)),
                       v + jitter).otherwise(v))
            .drop("_nz_pct"))
