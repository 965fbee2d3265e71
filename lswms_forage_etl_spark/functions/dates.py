"""C2/C3/C5-C7 — date codecs and arithmetic.

The reference's dominant date encoding is int yyyymmdd (produced at reference
data_extraction_v2.py:110-114, parsed back at BiomassHindcasts.py:31-32,
rasterize.py:49, BiomassAggregate.py:376-379). The engine uses DateType
internally and these codecs only at legacy-compatible edges.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def date_to_yyyymmdd(col: Column | str) -> Column:
    """C2 — DateType -> int yyyymmdd (`addDate` band semantics)."""
    return F.date_format(_c(col), "yyyyMMdd").cast("int")


def yyyymmdd_to_date(col: Column | str) -> Column:
    """C3 — int/str yyyymmdd -> DateType."""
    return F.to_date(_c(col).cast("string"), "yyyyMMdd")


def raster_filename(date_col: Column | str, prefix: str = "biomass_",
                    ext: str = ".tif") -> Column:
    """C15 — `biomass_{y}{m:02d}{d:02d}.tif` (rasterize.py:87)."""
    return F.concat(F.lit(prefix), F.date_format(_c(date_col), "yyyyMMdd"),
                    F.lit(ext))
