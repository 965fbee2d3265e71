"""Seeded input generators for the benchmark workloads.

Everything the program reads is made here from the run's seed: the same
seed gives a byte-identical document table and value-identical Spark
frames. The documents mirror the repo's sf0.1 test corpus (5,000 bag-of-
words documents over 20 sources); the forage inputs mirror the reference
dataflow (daily observations on the 260x300 grid, grid sample points,
151 zones).
"""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS, N_SOURCES = 5_000, 20
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15),
         ("de", 0.14))


def write_documents(seed: int, path: str) -> None:
    """Bag-of-words documents over a 30-word vocabulary, with 8 exact
    copies and 250 near-duplicates (a copy plus one marker word), written
    as parquet (doc_id, text, lang, source, n_chars)."""
    rng = np.random.default_rng(seed)
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab),
                                         rng.integers(10, 101))])
             for _ in range(N_DOCS)]
    ids = rng.permutation(N_DOCS)
    for i in ids[:250]:
        texts[i] = texts[int(rng.integers(0, N_DOCS))] + " dup"
    for i in ids[250:258]:
        texts[i] = texts[int(rng.integers(0, N_DOCS))]
    names, probs = zip(*LANGS)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(names, N_DOCS, p=probs), pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(N_DOCS)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path)


# ---------------------------------------------------------------- forage

FORAGE_START = dt.date(2024, 1, 1)


def forage_inputs(spark, seed: int, n_points: int, n_days: int,
                  n_zones: int = 151) -> dict:
    """The forage pipeline's ctx inputs: daily ndvi/sm/preci observations
    on the full grid (generated lazily from a seeded hash, so a pass reads
    them like a scan), `n_points` seeded sample points in the AOI and
    `n_zones` square zones tiling it."""
    from pyspark.sql import functions as F

    from lswms_forage_etl_spark import schemas
    from lswms_forage_etl_spark.lifecycle import local_df
    from lswms_forage_etl_spark.sources.geometry import zone_coverage_from_wkt

    dates = local_df(spark, [(FORAGE_START + dt.timedelta(days=d),)
                             for d in range(n_days)], "date date")
    grid = (spark.range(schemas.GRID_N_ROWS).toDF("row")
            .crossJoin(spark.range(schemas.GRID_N_COLS).toDF("col"))
            .select(F.col("row").cast("int"), F.col("col").cast("int")))
    cells = dates.crossJoin(grid)

    def obs(var: int, scale: float):
        h = F.xxhash64("row", "col", "date", F.lit(seed * 8 + var))
        v = F.pmod(h, F.lit(1000)).cast("double") / 1000.0 * scale
        return cells.select("date", "row", "col", v.alias("value"))

    rng = np.random.default_rng(seed)
    pts = np.round(np.column_stack([rng.uniform(36.0, 49.0, n_points),
                                    rng.uniform(0.0, 15.0, n_points)]), 3)
    points = local_df(spark, [tuple(map(float, p)) for p in pts],
                      "lon double, lat double")

    side = int(math.ceil(math.sqrt(n_zones)))
    dlon, dlat = 13.0 / side, 15.0 / side
    zones = []
    for i in range(n_zones):
        r, c = divmod(i, side)
        lo, la = 36.0 + c * dlon, 15.0 - r * dlat
        zones.append((f"ET{i:04d}",
                      f"POLYGON (({lo} {la}, {lo + dlon} {la}, "
                      f"{lo + dlon} {la - dlat}, {lo} {la - dlat}, "
                      f"{lo} {la}))"))
    coverage, centroids = zone_coverage_from_wkt(spark, zones)
    return {"ndvi_cells": obs(1, 1.0), "sm_cells": obs(2, 0.6),
            "preci_cells": obs(3, 20.0), "points": points,
            "coverage": coverage, "centroids": centroids}
