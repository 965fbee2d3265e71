"""J4/A3/M4 — zonal statistics with the reference's fallback cascade.

Reference (BiomassAggregate.py:189-311): per raster date, per zone polygon,
`zonal_stats(..., stats=['mean','count'])`; if the strict rasterization
covers 0 cells retry with `all_touched=True` (:236-248); if still empty
sample the centroid pixel (:251-271), and if that pixel is nodata average
its 3x3 neighborhood (:260-267). O(dates x zones) Python loop, one raster
read per date.

Engine form: polygon geometry is decomposed ONCE into a zone->cell coverage
table (zone_id, row, col, coverage in {'strict','all_touched'}) plus a
centroid table (FIXTURES.md §7). The whole cascade is then ONE broadcast
hash join + ONE shuffled aggregation: every coverage tier (strict,
all-touched, centroid pixel, centroid 3x3 ring) is folded into a single
tier-flagged coverage table, each joined cell row contributes to every
tier it belongs to via conditional aggregates, and the cascade itself is a
coalesce across the tier columns of the same groupBy output.

The coverage side (~151 zones x <=78k cells) broadcasts; the raster-cell
side — the scale dimension — is scanned exactly once, with partition
pruning on date, and the single agg is map-side combinable. At 100 TB of
cells this is 4x less scan IO than aggregating each tier separately.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_TIERS = ("strict", "touched", "c0", "c3")

# Zone means are summed exactly, in decimal with 12 places, and divided
# once. A double sum follows the shuffle-read order, and a 32-cell zone of
# 2-dp values has a mean of k/3200, which can sit on a 6-dp half boundary:
# its rounded value flipped between runs.
_EXACT = "decimal(28,12)"


def _tier_flagged_coverage(coverage: DataFrame,
                           centroids: DataFrame | None,
                           neighborhood: int) -> DataFrame:
    """One row per (zone_id, row, col) with a boolean per cascade tier.

    Built on the small (broadcastable) side only — the cells table is not
    touched here. A cell can sit in several tiers at once (every strict
    cell is also all-touched; the centroid pixel is inside its own ring).
    """
    false2 = [F.lit(False).alias("c0"), F.lit(False).alias("c3")]
    base = coverage.select(
        "zone_id", "row", "col",
        (F.col("coverage") == "strict").alias("strict"),
        F.lit(True).alias("touched"), *false2)

    if centroids is not None:
        # 3x3 neighborhood around each centroid, built once on the tiny
        # side (W6): explode the (dr, dc) offsets driver-side — 9 rows/zone.
        n = neighborhood
        offsets = F.expr(
            f"flatten(transform(sequence({-n},{n}), dr -> "
            f"transform(sequence({-n},{n}), dc -> struct(dr, dc))))")
        cent = (
            centroids.withColumn("o", F.explode(offsets))
            .select("zone_id",
                    (F.col("centroid_row") + F.col("o.dr")).alias("row"),
                    (F.col("centroid_col") + F.col("o.dc")).alias("col"),
                    F.lit(False).alias("strict"),
                    F.lit(False).alias("touched"),
                    ((F.col("o.dr") == 0) & (F.col("o.dc") == 0)).alias("c0"),
                    F.lit(True).alias("c3"))
        )
        base = base.unionByName(cent)

    return base.groupBy("zone_id", "row", "col").agg(
        *[F.max(t).alias(t) for t in _TIERS])


def zonal_stats(cells: DataFrame, coverage: DataFrame,
                centroids: DataFrame | None = None,
                value_col: str = "value",
                neighborhood: int = 1) -> DataFrame:
    """Full M4 cascade in a single scan of `cells`. cells: (date,row,col,
    value) with sentinels already NULLed (F5). coverage: ZONE_COVERAGE.
    centroids: ZONE_CENTROIDS.

    Returns (zone_id, date, biomass_mean, pixel_count, used_fallback,
    retried_all_touched) — the used_* flags reproduce the reference's
    diagnostics columns (BiomassAggregate.py:285-298).
    """
    cov = _tier_flagged_coverage(coverage, centroids, neighborhood)
    j = cells.join(F.broadcast(cov), ["row", "col"], "inner")

    v = F.col(value_col).cast(_EXACT)
    aggs = []
    for t in _TIERS:
        cond = F.when(F.col(t), v)
        aggs.append(F.avg(cond).alias(f"mean_{t}"))
        aggs.append(F.count(cond).alias(f"count_{t}"))
    out = j.groupBy("zone_id", "date").agg(*aggs)

    return out.select(
        "zone_id", "date",
        F.coalesce(
            F.when(F.col("count_strict") > 0, F.col("mean_strict")),
            F.when(F.col("count_touched") > 0, F.col("mean_touched")),
            F.when(F.col("count_c0") > 0, F.col("mean_c0")),
            F.when(F.col("count_c3") > 0, F.col("mean_c3")),
        ).cast("double").alias("biomass_mean"),
        F.col("count_strict").alias("pixel_count"),
        (F.col("count_strict") == 0).alias("retried_all_touched"),
        ((F.col("count_strict") == 0)
         & (F.col("count_touched") == 0)).alias("used_fallback"),
    )


def zone_series(cells: DataFrame, coverage: DataFrame,
                centroids: DataFrame | None = None,
                value_col: str = "value") -> DataFrame:
    """The minimum end-to-end slice (SURVEY §7.3): the `woredas.csv` table
    (Dataset, Date, Biomass) with the sink-side NaN->0 fill
    (BiomassAggregate.py:325)."""
    return zonal_stats(cells, coverage, centroids, value_col).select(
        "zone_id", "date",
        F.coalesce(F.col("biomass_mean"), F.lit(0.0)).alias("biomass"),
    )
