"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry names one operator family from SURVEY.md §2,
expressed over the driver's TPC-H-ish testdata tables so that the paired
``oracle_sql()`` string reproduces it exactly in DuckDB (row-count + schema
+ order-insensitive value-hash).

Float discipline: every computed double is either (a) summed via scaled
BIGINT arithmetic (exact, order-independent) or (b) rounded identically on
both sides, so hashes match bit-for-bit across engines.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lswms_forage_etl_spark.functions.cleansing import (
    biomass_calibration,
    mask_sentinels,
    normalized_difference,
    portable_round,
)
from lswms_forage_etl_spark.functions.dates import (
    date_to_yyyymmdd,
    raster_filename,
    yyyymmdd_to_date,
)
from lswms_forage_etl_spark.functions.grid import (
    cell_to_lat,
    cell_to_lon,
    lat_to_row,
    lon_to_col,
)
from lswms_forage_etl_spark.functions import text as T
from lswms_forage_etl_spark.lifecycle import stage_table, track
from lswms_forage_etl_spark.operators.dedup import (
    MINHASH_PRIME,
    duplicate_clusters,
    exact_dedup,
    minhash_coeffs,
    minhash_signatures,
    lsh_candidate_pairs,
    ngram_jaccard,
    shingle_table,
    simhash,
    simhash_near_dups,
)
from lswms_forage_etl_spark.operators.multimodal import (
    byte_histogram,
    frame_index,
    media_stats,
    synth_media,
)
from lswms_forage_etl_spark.operators.periods import (
    assign_period,
    composite_periods,
)
from lswms_forage_etl_spark.operators.packing import (
    chunk_documents,
    pack_sequences,
    token_budget_sample,
)
from lswms_forage_etl_spark.operators.sessions import sessionize
from lswms_forage_etl_spark.operators.skew import salted_agg_count
from lswms_forage_etl_spark.operators.similarity import (
    brute_force_topk,
    cosine,
    embedding_near_dups,
    hyperplanes,
    ivf_topk,
    lsh_topk,
)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


_T_CACHE: dict = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table reader with session-scoped metadata caching: re-reading the
    same parquet path re-lists files and re-infers the schema (~0.15s per
    call — a fixed driver-side tax per query instance). A catalog-backed
    engine caches table metadata; this is the spark.read equivalent. The
    cached object is a lazy DataFrame — no data is cached, and a new
    SparkSession invalidates the entry."""
    key = (sf_dir, name)
    hit = _T_CACHE.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    _T_CACHE[key] = (spark, df)
    return df


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-adaptive events reader. Current testdata writes ``ts`` as a
    plain parquet timestamp[us]; older generations carried TIMESTAMP(NANOS),
    which Spark's reader only accepts as long via the ``nanosAsLong`` legacy
    conf. Inspect the resolved dtype and only reconstruct a timestamp when
    the legacy long encoding appears."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = df.schema["ts"].dataType.typeName()
    if ts_type in ("long", "bigint"):
        df = df.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
    return df


def _pr(expr: str, digits: int) -> str:
    """SQL twin of portable_round() (functions/cleansing.py)."""
    s = 10 ** digits
    return f"floor(({expr}) * {s} + 0.5) / {s}.0"


def scaled_mean(c, digits: int, out_digits: int = 4):
    """Order-independent mean: quantize each value to 10^-digits as BIGINT,
    sum exactly, divide once — no float sum-order nondeterminism — then
    portable-round the single division result."""
    s = 10 ** digits
    total = F.sum(F.floor(c * F.lit(float(s)) + F.lit(0.5)).cast("long"))
    return portable_round(total / F.lit(float(s)) / F.count(c), out_digits)


def _sm(expr: str, digits: int, out_digits: int = 4) -> str:
    """SQL twin of scaled_mean()."""
    s = 10 ** digits
    inner = (f"sum(CAST(floor(({expr}) * {s} + 0.5) AS BIGINT)) / {s}.0 "
             f"/ count({expr})")
    return _pr(inner, out_digits)


# --- flagship -----------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: TPC-H-Q1-shaped pricing summary (A1/A3-class aggregation
    with C-series scalar arithmetic) on sf0.001."""
    return q_agg_pricing_summary(spark, "/root/testdata/sf0.001")


# =============================================================================
# Query implementations. Each fn: (spark, sf_dir) -> DataFrame.
# Naming: q_<family>_<name>; registry and oracle key = <family>_<name>.
# =============================================================================

class Declaration(NamedTuple):
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    graded: bool
    headline: bool
    rows_only: bool


# filled once, at import, by @query in definition order; read-only after
_DECLARED: list[Declaration] = []


def query(*, graded: bool = False, headline: bool = False,
          rows_only: bool = False):
    """Register q_<name> as registry query <name>.

    graded: in the driver's graded window, the first 50 entries of
    queries(). headline: timed by a bare `bench.py`. rows_only: has no
    oracle_sql() entry, so the gate checks its rows only."""
    def register(fn):
        _DECLARED.append(Declaration(fn.__name__.removeprefix("q_"), fn,
                                     graded, headline, rows_only))
        return fn
    return register


# --- scans / filters / projections (S1, F1-F3) -------------------------------

@query(graded=True)
def q_scan_pushdown_filter(spark, sf):
    """S1/F1/F3 — date-range + predicate filter with column pruning; both
    filters reach the parquet scan (PushedFilters)."""
    li = _t(spark, sf, "lineitem")
    return (li.where((F.col("l_shipdate") >= "1996-01-01")
                     & (F.col("l_shipdate") < "1997-01-01")
                     & (F.col("l_discount").between(0.05, 0.07)))
            .select("l_orderkey", "l_partkey", "l_quantity"))


@query(graded=True)
def q_filter_bitmask(spark, sf):
    """F4 — bitmask cloud-filter semantics: (k & 3) >= 2 AND
    ((k >> 2) & 3) <= 1 (reference data_extraction_v2.py:143-158)."""
    li = _t(spark, sf, "lineitem")
    return (li.where((F.col("l_orderkey").bitwiseAND(3) >= 2)
                     & (F.shiftright(F.col("l_orderkey"), 2).bitwiseAND(3) <= 1))
            .select("l_orderkey", "l_linenumber", "l_quantity"))


@query(graded=True)
def q_filter_sentinel_mask(spark, sf):
    """F5 — sentinel-nodata set -> NULL (BiomassAggregate.py:136-148):
    synthesize sentinels from events.value deterministically, then mask."""
    ev = _events(spark, sf)
    v = F.when(F.col("event_id") % 97 == 0, F.lit(-99999.0)) \
         .when(F.col("event_id") % 89 == 0, F.lit(-9999.0)) \
         .when(F.col("event_id") % 83 == 0, F.lit(-5000.0)) \
         .otherwise(F.col("value"))
    return ev.select(
        "event_id",
        portable_round(mask_sentinels(v), 4).alias("masked_value"))


@query(graded=True)
def q_filter_zero_jitter(spark, sf):
    """F10 — conditional zero-jitter (gwr_model.py:42-59) with a
    hash-derived deterministic uniform instead of rand(seed): engines agree
    bit-for-bit. Jitter applied to ~10% of zero rows."""
    ev = _events(spark, sf)
    z = ev.withColumn("v", F.when(F.col("value") < 2.0, F.lit(0.0))
                      .otherwise(F.col("value")))
    u_pick = (F.pmod(F.pmod(F.col("event_id"), F.lit(1000))
                     * 2654435761, F.lit(1000))
              .cast("double") / 1000.0)
    u_mag = (F.pmod(F.col("event_id") * 40503, F.lit(1000))
             .cast("double") / 1000.0)
    jit = F.lit(0.001) + u_mag * F.lit(0.009)
    return z.select(
        "event_id",
        portable_round(F.when((F.col("v") == 0) & (u_pick < 0.1),
                      F.col("v") + jit).otherwise(F.col("v")), 6)
        .alias("jittered"))


# --- scalar functions (C1-C22) -----------------------------------------------

@query(graded=True)
def q_scalar_ndvi_calibration(spark, sf):
    """C1/C10 — normalized difference + linear biomass calibration."""
    li = _t(spark, sf, "lineitem")
    nd = normalized_difference(F.col("l_extendedprice"),
                               F.col("l_extendedprice") * F.col("l_discount"))
    return li.select(
        "l_orderkey", "l_linenumber",
        portable_round(nd, 6).alias("ndvi"),
        portable_round(biomass_calibration(F.col("l_discount")), 6).alias("biom"))


@query(graded=True)
def q_scalar_date_codec(spark, sf):
    """C2/C3/C7 — date <-> int yyyymmdd round-trip + component extraction."""
    o = _t(spark, sf, "orders")
    d = F.col("o_orderdate").cast("date")
    enc = date_to_yyyymmdd(d)
    return o.select(
        "o_orderkey", enc.alias("date_i"),
        yyyymmdd_to_date(enc).alias("date_rt"),
        F.year(d).alias("yr"), F.month(d).alias("mo"),
        F.dayofmonth(d).alias("dom"))


@query(graded=True)
def q_scalar_grid_snap(spark, sf):
    """C22 — the affine pixel<->coord transform on synthetic lon/lat derived
    from keys; round-trips through (row, col) to cell centers."""
    c = _t(spark, sf, "customer")
    lon = F.lit(36.0) + F.pmod(F.col("c_custkey") * 7, F.lit(2600)) / 200.0
    lat = F.lit(0.0) + F.pmod(F.col("c_custkey") * 13, F.lit(3000)) / 200.0
    df = c.select("c_custkey", lon.alias("lon"), lat.alias("lat"))
    return df.select(
        "c_custkey",
        lon_to_col("lon").alias("col"), lat_to_row("lat").alias("row"),
        portable_round(cell_to_lon(lon_to_col("lon")), 4).alias("cell_lon"),
        portable_round(cell_to_lat(lat_to_row("lat")), 4).alias("cell_lat"))


@query()
def q_scalar_strings(spark, sf):
    """C13/C14/C15 — regex date-extract from filenames, string cleanup,
    filename formatting."""
    o = _t(spark, sf, "orders")
    d = F.col("o_orderdate").cast("date")
    fname = raster_filename(d)
    return o.select(
        "o_orderkey", fname.alias("filename"),
        F.regexp_extract(fname, r"(\d{8})", 1).alias("date_str"),
        F.regexp_replace(F.col("o_orderpriority"), "-", "_").alias("prio_clean"))


@query()
def q_scalar_round_abs(spark, sf):
    """C8/C9 — round/abs chains (rasterize.py:47-48 round(abs(biom),2))."""
    li = _t(spark, sf, "lineitem")
    signed = F.col("l_extendedprice") * (F.lit(1.0) - F.lit(2.0) * F.col("l_discount")) - 50000.0
    return li.select("l_orderkey", "l_linenumber",
                     portable_round(F.abs(signed), 2).alias("round_abs"))


@query(graded=True)
def q_scalar_json(spark, sf):
    """C21 — JSON parse of events.props + re-serialize (from_json/to_json)."""
    ev = _events(spark, sf)
    parsed = F.from_json(F.col("props"), "k INT")
    # NULL k -> NULL round-trip (to_json would emit '{}', diverging from
    # the oracle's NULL-propagating string concat)
    rt = F.when(parsed["k"].isNotNull(),
                F.to_json(F.struct(parsed["k"].alias("k"))))
    return ev.select("event_id", parsed["k"].alias("k"),
                     rt.alias("json_rt"))


# --- joins (J1-J5) -----------------------------------------------------------

@query(graded=True, headline=True)
def q_join_merge_inner(spark, sf):
    """J1 — chained inner equi-join (ndvi ⋈ sm ⋈ preci shape):
    lineitem ⋈ orders ⋈ customer with projection; join keys exact ints
    (the engine's answer to the reference's rounded-float keys)."""
    li, o, c = (_t(spark, sf, t) for t in ("lineitem", "orders", "customer"))
    return (li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .join(c, o["o_custkey"] == c["c_custkey"])
            .select("l_orderkey", "l_linenumber", "c_custkey",
                    portable_round(F.col("l_extendedprice"), 2).alias("price"),
                    F.col("o_orderstatus").alias("status")))


@query(graded=True)
def q_join_snap_grid(spark, sf):
    """J2/J3 — snap-to-grid nearest-sample join: synthetic points (from
    customer) equi-joined to a synthetic raster (from part) on the snapped
    (row, col) — the engine's exact form of xarray `.sel(nearest)`."""
    c = _t(spark, sf, "customer")
    p = _t(spark, sf, "part")
    pts = c.select(
        "c_custkey",
        (F.lit(36.0) + F.pmod(F.col("c_custkey") * 7, F.lit(2600)) / 200.0).alias("lon"),
        (F.lit(0.0) + F.pmod(F.col("c_custkey") * 13, F.lit(3000)) / 200.0).alias("lat"))
    cells = p.select(
        F.pmod(F.col("p_partkey") * 3, F.lit(260)).cast("int").alias("col"),
        F.pmod(F.col("p_partkey") * 11, F.lit(300)).cast("int").alias("row"),
        portable_round(F.col("p_retailprice") / 1000.0, 4).alias("cell_value"))
    cells = cells.groupBy("row", "col").agg(
        scaled_mean(F.col("cell_value"), 4).alias("cell_value"))
    snapped = pts.withColumn("col", lon_to_col("lon")).withColumn(
        "row", lat_to_row("lat"))
    return (snapped.join(cells, ["row", "col"], "inner")
            .select("c_custkey", "row", "col", "cell_value"))


@query(graded=True)
def q_join_semi_anti(spark, sf):
    """Semi/anti joins (§2.4 'exposed for free'): customers with orders
    above 300k (semi) tagged against those without (anti), via a union."""
    c, o = _t(spark, sf, "customer"), _t(spark, sf, "orders")
    big = o.where(F.col("o_totalprice") > 300000)
    semi = c.join(big, c["c_custkey"] == big["o_custkey"], "left_semi") \
        .select("c_custkey").withColumn("has_big_order", F.lit(True))
    anti = c.join(big, c["c_custkey"] == big["o_custkey"], "left_anti") \
        .select("c_custkey").withColumn("has_big_order", F.lit(False))
    return semi.unionByName(anti)


@query(graded=True, headline=True)
def q_join_zonal_broadcast(spark, sf):
    """J4/A3 — zonal mean+count: fact rows mapped to zones through a small
    broadcast dimension (nation as the 'zone coverage' table)."""
    li, s, n = (_t(spark, sf, t) for t in ("lineitem", "supplier", "nation"))
    dim = F.broadcast(s.join(F.broadcast(n),
                             s["s_nationkey"] == n["n_nationkey"])
                      .select("s_suppkey", "n_name"))
    j = li.join(dim, li["l_suppkey"] == dim["s_suppkey"])
    return (j.groupBy(F.col("n_name").alias("zone_id"))
            .agg((F.sum((F.col("l_quantity") * 100).cast("long")) / 100.0)
                 .alias("qty_sum"),
                 F.count(F.lit(1)).alias("cell_count")))


@query(graded=True, headline=True)
def q_join_asof_nearest(spark, sf):
    """As-of join (J2's general temporal form): each event matched to the
    latest order at-or-before its timestamp within the same key bucket.

    Implemented as the scalable UNION-MERGE as-of: tag both sides, sort by
    (bucket, date, side) once, and carry the latest order forward with
    last_value(ignoreNulls) — one shuffle, linear in rows. (The naive
    range-join + row_number form materializes |events| x |dates| rows —
    ~240M at sf0.1 — and collapses at scale.)"""
    o = _t(spark, sf, "orders")
    ev = _events(spark, sf)
    ob = (o.select(F.pmod(F.col("o_custkey"), F.lit(20)).alias("bucket"),
                   F.col("o_orderdate").cast("date").alias("odate"))
          .groupBy("bucket", "odate").agg(F.count(F.lit(1)).alias("n_orders"))
          .select("bucket", F.col("odate").alias("d"), F.lit(0).alias("side"),
                  F.lit(None).cast("long").alias("event_id"), "odate", "n_orders"))
    eb = ev.select(F.pmod(F.col("user_id"), F.lit(20)).alias("bucket"),
                   F.col("ts").cast("date").alias("d"), F.lit(1).alias("side"),
                   "event_id", F.lit(None).cast("date").alias("odate"),
                   F.lit(None).cast("long").alias("n_orders"))
    merged = ob.unionByName(eb)
    w = (Window.partitionBy("bucket").orderBy("d", "side")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (merged.select(
        "event_id", F.col("d").alias("edate"),
        F.last("odate", ignorenulls=True).over(w).alias("odate"),
        F.last("n_orders", ignorenulls=True).over(w).alias("n_orders"),
        "side")
        .where((F.col("side") == 1) & F.col("odate").isNotNull())
        .select("event_id", "edate", "odate", "n_orders"))


@query()
def q_join_asof_forward(spark, sf):
    """FORWARD as-of join — the directional complement of
    join_asof_nearest (the at-or-BEFORE form): each view event matched
    to the EARLIEST same-user purchase at-or-after it ("time to next
    conversion" semantics). Same scalable union-merge shape, scanned
    DESCENDING: one sort by (user, ts desc) carries the
    earliest-later purchase backward with last(ignoreNulls) — one
    shuffle, linear, never an |views| x |purchases| range join. Ties:
    a same-instant purchase qualifies; equal-ts purchases resolve to
    the smallest event_id (event_id desc in the descending scan)."""
    ev = _events(spark, sf)
    pb = (ev.where(F.col("event_type") == "purchase")
          .select("user_id", "ts", F.lit(0).alias("side"),
                  F.col("event_id").alias("purchase_id"),
                  F.lit(None).cast("long").alias("view_id")))
    vb = (ev.where(F.col("event_type") == "view")
          .select("user_id", "ts", F.lit(1).alias("side"),
                  F.lit(None).cast("long").alias("purchase_id"),
                  F.col("event_id").alias("view_id")))
    merged = pb.unionByName(vb)
    w = (Window.partitionBy("user_id")
         .orderBy(F.col("ts").desc(), F.col("side").asc(),
                  F.col("purchase_id").desc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (merged.select(
        "user_id", "view_id", F.col("ts").alias("view_ts"),
        F.last("purchase_id", ignorenulls=True).over(w)
        .alias("next_purchase_id"),
        F.last(F.when(F.col("purchase_id").isNotNull(), F.col("ts")),
               ignorenulls=True).over(w).alias("purchase_ts"),
        "side")
        .where((F.col("side") == 1)
               & F.col("next_purchase_id").isNotNull())
        .select("user_id", "view_id", "view_ts",
                "next_purchase_id", "purchase_ts"))


@query(graded=True, headline=True)
def q_join_range_bucketed(spark, sf):
    """Generic non-uniform range join at scale: lineitem prices binned into
    irregular bands via a broadcast HASH join on a coarse block key (bands
    expanded to overlapped blocks driver-side) + residual between-filter —
    the same pattern assign_period uses, applied to a numeric interval
    dimension. No BroadcastNestedLoopJoin."""
    li = _t(spark, sf, "lineitem")
    # finite band ends (domain ceiling well above TPC-H's ~105k max) so the
    # block expansion covers every band exactly — no silent truncation
    bands = [(0, "low", 0.0, 20000.0), (1, "mid", 20000.0, 45000.0),
             (2, "high", 45000.0, 80000.0), (3, "lux", 80000.0, 200000.0)]
    block_w = 10000.0
    expanded = []
    for bid, name, lo, hi in bands:
        b0, b1 = int(lo // block_w), int(hi // block_w)
        for b in range(b0, b1 + 1):
            expanded.append((b, bid, name, lo, hi))
    from lswms_forage_etl_spark.lifecycle import local_df
    exp_df = local_df(
        spark, expanded,
        "blk long, band_id int, band string, lo double, hi double")
    j = (li.withColumn("blk", F.floor(F.col("l_extendedprice") / block_w)
                       .cast("long"))
         .join(F.broadcast(exp_df), "blk")
         .where((F.col("l_extendedprice") >= F.col("lo"))
                & (F.col("l_extendedprice") < F.col("hi"))))
    return (j.groupBy("band")
            .agg(F.count(F.lit(1)).alias("n"),
                 (F.sum((F.col("l_quantity") * 100).cast("long")) / 100.0)
                 .alias("qty_sum")))


# --- aggregations (A1-A8) ----------------------------------------------------

@query(graded=True, headline=True)
def q_agg_pricing_summary(spark, sf):
    """TPC-H-Q1-shaped flagship: grouped multi-aggregate with scalar
    arithmetic; sums exact via scaled-bigint; avgs rounded."""
    li = _t(spark, sf, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.where(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                (F.sum((F.col("l_quantity") * 100).cast("long")) / 100.0).alias("sum_qty"),
                (F.sum(F.floor(disc_price * 100 + 0.5).cast("long")) / 100.0).alias("sum_disc_price"),
                scaled_mean(F.col("l_quantity"), 2, 4).alias("avg_qty"),
                scaled_mean(F.col("l_discount"), 4, 6).alias("avg_disc"),
                F.count(F.lit(1)).alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


@query(graded=True, headline=True)
def q_agg_temporal_mean_composite(spark, sf):
    """A1 — 16-day mean composite over events keyed by user bucket,
    stamped with the period-end date (W1 periods via broadcast range
    join — year-reset walk generated driver-side)."""
    ev = _events(spark, sf)
    periods = composite_periods(dt.date(2024, 1, 3), dt.date(2024, 12, 31))
    e = ev.select(F.pmod(F.col("user_id"), F.lit(100)).alias("cell"),
                  F.col("ts").cast("date").alias("d"), "value")
    j = assign_period(e, periods, date_col="d")
    return (j.groupBy("cell", F.col("end").alias("date"))
            .agg(scaled_mean(F.col("value"), 6, 4).alias("value_mean"),
                 F.count(F.lit(1)).alias("n_obs")))


@query(graded=True)
def q_agg_temporal_sum_composite(spark, sf):
    """A2 — 16-day sum composite (precipitation_sum shape), null-skipping
    sum via scaled-bigint for exactness."""
    ev = _events(spark, sf)
    periods = composite_periods(dt.date(2024, 1, 3), dt.date(2024, 12, 31))
    v = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value"))
    e = ev.select(F.pmod(F.col("user_id"), F.lit(100)).alias("cell"),
                  F.col("ts").cast("date").alias("d"), v.alias("v"))
    j = assign_period(e, periods, date_col="d")
    return (j.groupBy("cell", F.col("end").alias("date"))
            .agg((F.coalesce(
                F.sum(F.floor(F.col("v") * 10000 + 0.5).cast("long")),
                F.lit(0).cast("long")) / 10000.0)
                 .alias("value_sum")))


@query(graded=True)
def q_agg_conditional_fraction(spark, sf):
    """A4 — global conditional fraction: % of lineitems with zero tax
    (gwr_model.py:44-46 nonzero-% precheck shape)."""
    li = _t(spark, sf, "lineitem")
    return li.agg(
        portable_round(F.avg((F.col("l_tax") == 0).cast("double")) * 100, 4)
        .alias("pct_zero_tax"),
        F.count(F.lit(1)).alias("n_rows"))


@query(graded=True)
def q_agg_max_resume_date(spark, sf):
    """A5 — resume-point derivation: max processed date from a filename
    column (regex date extract then max; data_extraction_v2.py:407-425)."""
    o = _t(spark, sf, "orders")
    fname = raster_filename(F.col("o_orderdate").cast("date"))
    return o.select(fname.alias("f")).select(
        yyyymmdd_to_date(F.regexp_extract("f", r"(\d{8})", 1)).alias("d")
    ).agg(F.max("d").alias("max_date"),
          F.date_add(F.max("d"), 1).alias("next_start"))


@query(graded=True)
def q_agg_distinct_dates(spark, sf):
    """A8 — distinct date driver (rasterize.py:80-82 loop keys)."""
    li = _t(spark, sf, "lineitem")
    return (li.select(F.col("l_shipdate").cast("date").alias("ship_date"))
            .distinct())


@query(graded=True)
def q_agg_rollup(spark, sf):
    """Grouping-sets surface (§2.5 'Spark provides natively'): rollup over
    (returnflag, linestatus) with exact scaled sums."""
    li = _t(spark, sf, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg((F.sum((F.col("l_quantity") * 100).cast("long")) / 100.0)
                 .alias("sum_qty"),
                 F.count(F.lit(1)).alias("n"))
            .select(F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
                    F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
                    "sum_qty", "n"))


@query(graded=True)
def q_agg_salted_count(spark, sf):
    """Skew-safe two-phase count: lineitem grouped by a deliberately
    skewed key (suppkey floor-div — few giant groups) via salt -> partial
    -> final. The oracle is the PLAIN group-by count: the salted plan must
    be semantically identical."""
    li = _t(spark, sf, "lineitem")
    keyed = li.select((F.col("l_suppkey") % 7).alias("skey"),
                      "l_orderkey", "l_linenumber")
    return salted_agg_count(keyed, "skey", num_salts=8)


# --- windows (W1-W6) ---------------------------------------------------------

@query(graded=True)
def q_window_composite_periods(spark, sf):
    """W1 — the year-reset 16-day period table itself (golden oracle for
    get_composite_periods, data_extraction_v2.py:85-106). sf-independent."""
    periods = composite_periods(dt.date(2023, 12, 1), dt.date(2024, 3, 1))
    from lswms_forage_etl_spark.lifecycle import local_df
    return local_df(spark,
                    [(p, s, e) for p, s, e in periods],
                    "period_id INT, start DATE, end DATE")


@query()
def q_window_lag_lead(spark, sf):
    """W3 — lag/lead over per-customer order sequences (the hindcast lag
    matrix's window primitive)."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey", "o_orderkey",
        portable_round(F.lag("o_totalprice", 1).over(w), 2).alias("prev_price"),
        portable_round(F.lead("o_totalprice", 1).over(w), 2).alias("next_price"),
        F.datediff(F.col("o_orderdate"),
                   F.lag("o_orderdate", 1).over(w)).alias("days_since_prev"))


@query(graded=True, headline=True)
def q_window_tail_k(spark, sf):
    """W4 — tail-k per group: last 4 orders per customer
    (BiomassForecast.py:78 tail-4 shape). Deterministic tie-break."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
    return (o.withColumn("rn", F.row_number().over(w)).where("rn <= 4")
            .select("o_custkey", "o_orderkey", "rn"))


@query(graded=True, headline=True)
def q_window_expanding_mean(spark, sf):
    """W2's relational core — expanding (cumulative) mean per group ordered
    by date: the hindcast cut-point state expressed as a running window."""
    o = _t(spark, sf, "orders")
    w = (Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    total = F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")).over(w)
    cnt = F.count(F.lit(1)).over(w)
    return o.select("o_custkey", "o_orderkey",
                    portable_round(total / 100.0 / cnt, 4).alias("expanding_avg"))


@query()
def q_window_days_since_start(spark, sf):
    """C4 — days since series start per group (BiomassHindcasts.py:57)."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey")
    return o.select(
        "o_custkey", "o_orderkey",
        F.datediff(F.col("o_orderdate"),
                   F.min(F.col("o_orderdate")).over(w)).alias("t_days"))


@query(graded=True)
def q_window_neighborhood_mean(spark, sf):
    """W6 — 3x3 neighborhood mean on a synthetic grid via offset-explode +
    self-join-free aggregation (the centroid-fallback primitive)."""
    p = _t(spark, sf, "part")
    cells = (p.select(
        F.pmod(F.col("p_partkey") * 3, F.lit(40)).cast("int").alias("col"),
        F.pmod(F.col("p_partkey") * 11, F.lit(40)).cast("int").alias("row"),
        F.col("p_retailprice").alias("v"))
        .groupBy("row", "col").agg(scaled_mean(F.col("v"), 2, 4).alias("v")))
    off = F.expr("flatten(transform(sequence(-1,1), dr -> "
                 "transform(sequence(-1,1), dc -> struct(dr, dc))))")
    spread = (cells.withColumn("o", F.explode(off))
              .select((F.col("row") + F.col("o.dr")).alias("row"),
                      (F.col("col") + F.col("o.dc")).alias("col"), "v"))
    return (spread.groupBy("row", "col")
            .agg(scaled_mean(F.col("v"), 4, 4).alias("nbr_mean"),
                 F.count(F.lit(1)).alias("nbr_n"))
            .join(cells.select("row", "col"), ["row", "col"], "left_semi"))


@query(graded=True, headline=True)
def q_window_sessionize(spark, sf):
    """Gap-based sessionization (30-min inactivity splits) + per-session
    rollup — one shuffle on user_id, two window passes."""
    ev = _events(spark, sf)
    s = sessionize(ev, gap_minutes=30, order_cols=("event_id",))
    return (s.groupBy("user_id", "session_idx")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("event_id").alias("first_event"),
                 (F.sum(F.floor(F.col("value") * 10000 + 0.5).cast("long"))
                  / 10000.0).alias("value_sum")))


@query(graded=True)
def q_window_sliding_mean(spark, sf):
    """Sliding (hopping) window aggregate: 4-day windows every 2 days over
    events. Each row explodes into exactly width/hop = 2 window starts —
    bounded fan-out computed map-side (the streaming twin is
    `window(ts, '4 days', '2 days')`)."""
    ev = _events(spark, sf)
    hop_d, width_hops = 2, 2  # 4-day window, 2-day hop
    d = F.col("ts").cast("date")
    hop_idx = F.floor(F.datediff(d, F.lit("2024-01-01")) / hop_d)
    starts = F.transform(
        F.sequence(F.lit(0), F.lit(width_hops - 1)),
        lambda k: F.date_add(F.lit("2024-01-01"),
                             ((hop_idx - k) * hop_d).cast("int")))
    e = ev.select(d.alias("d"), "value",
                  F.explode(starts).alias("window_start"))
    e = e.where(F.col("d") < F.date_add(F.col("window_start"),
                                        hop_d * width_hops))
    return (e.groupBy("window_start")
            .agg(F.count(F.lit(1)).alias("n"),
                 scaled_mean(F.col("value"), 6, 4).alias("value_mean")))


@query()
def q_agg_percentile(spark, sf):
    """Exact interpolated percentiles per group (sort-based, so fully
    deterministic and engine-portable, unlike floating aggregation)."""
    li = _t(spark, sf, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(portable_round(F.expr("percentile(l_extendedprice, 0.5)"), 4)
                 .alias("p50"),
                 portable_round(F.expr("percentile(l_extendedprice, 0.9)"), 4)
                 .alias("p90"),
                 F.count(F.lit(1)).alias("n")))


@query()
def q_agg_corr_exact(spark, sf):
    """Pearson correlation from exact scaled-BIGINT moments: sums of x, y,
    x^2, y^2, xy quantized to integers commute across partitions, so the
    distributed result is bit-stable under any partitioning/AQE re-plan —
    the numerically-robust form of corr() at 1000 executors."""
    li = _t(spark, sf, "lineitem")
    s = 100  # 2-dp quantization of both variables
    x = F.floor(F.col("l_quantity") * s + 0.5).cast("long")
    y = F.floor(F.col("l_discount") * 10000 + 0.5).cast("long")
    agg = li.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"), F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"), F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    cov = n * F.col("sxy") - sx * sy
    varx = n * F.col("sxx") - sx * sx
    vary = n * F.col("syy") - sy * sy
    return agg.select(
        "l_linestatus", "n",
        portable_round(cov / F.sqrt(varx.cast("double") * vary.cast("double")), 6)
        .alias("corr_qty_disc"))


@query()
def q_agg_cube(spark, sf):
    """CUBE grouping sets over (returnflag, tax-class) with exact scaled
    sums — §2.5's 'Spark provides natively' surface."""
    li = _t(spark, sf, "lineitem")
    cls = F.when(F.col("l_tax") == 0, "notax").otherwise("taxed")
    return (li.withColumn("ship_class", cls)
            .cube("l_returnflag", "ship_class")
            .agg(F.count(F.lit(1)).alias("n"),
                 (F.sum((F.col("l_quantity") * 100).cast("long")) / 100.0)
                 .alias("qty_sum"))
            .select(F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
                    F.coalesce("ship_class", F.lit("ALL")).alias("sc"),
                    "n", "qty_sum"))


# --- set ops / top-k (U1, §2.8) ----------------------------------------------

@query(graded=True)
def q_set_union_except(spark, sf):
    """U1 + except: union of two event slices minus an excluded slice."""
    ev = _events(spark, sf)
    a = ev.where(F.col("event_type") == "click").select("event_id")
    b = ev.where(F.col("event_type") == "purchase").select("event_id")
    c = ev.where(F.col("value") > 95).select("event_id")
    return a.unionByName(b).exceptAll(c)


@query(graded=True, headline=True)
def q_topk_global(spark, sf):
    """Global top-k with deterministic tie-break — per-partition top-k +
    driver merge, no full sort."""
    o = _t(spark, sf, "orders")
    return (o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
            .limit(25)
            .select("o_orderkey", portable_round(F.col("o_totalprice"), 2).alias("price")))


# --- text analysis -----------------------------------------------------------

@query(graded=True, headline=True)
def q_text_stats(spark, sf):
    """Token count, BPE-ish piece count, punct ratio, quality score —
    all scan-side expressions over documents."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        F.length("text").alias("n_chars_check"),
        portable_round(T.punct_ratio("text"), 4).alias("punct_ratio"),
        T.quality_score("text").alias("quality"))


@query(graded=True)
def q_text_lang_id(spark, sf):
    """Language-ID heuristic (stopword markers over {en,es,fr,de})."""
    d = _t(spark, sf, "documents")
    return d.select("doc_id", "lang", T.lang_id("text").alias("lang_pred"))


@query()
def q_text_tokens(spark, sf):
    """BPE-ish piece count (portable match-all regex) + per-language
    stopword ratio over distinct tokens."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        T.bpe_ish_token_count("text").alias("n_pieces"),
        portable_round(T.stopword_ratio("text", "en"), 6).alias("stop_ratio_en"))


@query()
def q_window_lag_pivot(spark, sf):
    """W3 — the hindcast lag-matrix shape: tall (key, date, horizon, value)
    rows pivoted to lag_{0,16,32,48}_day columns keyed on (key, date)
    (BiomassHindcasts.py:91-94 without the positional writes)."""
    o = _t(spark, sf, "orders")
    tall = (o.select(F.pmod(F.col("o_custkey"), F.lit(50)).alias("zone"),
                     F.col("o_orderdate").cast("date").alias("date"),
                     (F.pmod(F.col("o_orderkey"), F.lit(4)) * 16)
                     .cast("int").alias("horizon"),
                     F.col("o_totalprice"))
            .groupBy("zone", "date", "horizon")
            .agg(portable_round(F.min("o_totalprice"), 2).alias("v")))
    return (tall.groupBy("zone", "date")
            .pivot("horizon", [0, 16, 32, 48])
            .agg(F.first("v"))
            .select("zone", "date",
                    *[F.col(str(h)).alias(f"lag_{h}_day")
                      for h in (0, 16, 32, 48)]))


@query()
def q_text_fingerprint(spark, sf):
    """Document fingerprint: md5 over normalized text (exact-dedup key)."""
    d = _t(spark, sf, "documents")
    return d.select("doc_id", T.fingerprint("text").alias("fp"))


@query()
def q_text_pii_scrub(spark, sf):
    """PII redaction pass: emails / SSNs / phones / IPv4s -> typed
    placeholders. The synthetic corpus carries no PII, so the query splices
    a deterministic doc_id-derived specimen of each category into every
    document first — the oracle builds the identical augmented text, so the
    scrub itself (not a no-op) is what hash-matches. Counts are measured
    pre-redaction; red_fp fingerprints the scrubbed text."""
    d = _t(spark, sf, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" u"), F.col("doc_id").cast("string"), F.lit("@ex.com"),
        F.lit(" ip 10.0."), (F.col("doc_id") % 256).cast("string"),
        F.lit("."), (F.col("doc_id") % 100).cast("string"),
        F.lit(" call 555-123-4567 ssn 987-65-4320"))
    return d.select(
        "doc_id",
        T.pii_count(aug, "email").alias("n_email"),
        T.pii_count(aug, "ssn").alias("n_ssn"),
        T.pii_count(aug, "phone").alias("n_phone"),
        T.pii_count(aug, "ip").alias("n_ip"),
        F.md5(T.redact_pii(aug)).alias("red_fp"))


@query()
def q_text_repeated_ngrams(spark, sf):
    """Gopher-style repetition signal: fraction of word 2-grams / 3-grams
    that repeat an earlier gram in the same document. Scan-side array
    expressions — no shuffle at any corpus size."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        portable_round(T.dup_ngram_frac("text", 2), 6).alias("dup2_frac"),
        portable_round(T.dup_ngram_frac("text", 3), 6).alias("dup3_frac"))


# --- dedup -------------------------------------------------------------------

@query(graded=True, headline=True)
def q_dedup_exact(spark, sf):
    """Exact dedup: min doc_id + dup_count per content fingerprint."""
    return exact_dedup(_t(spark, sf, "documents"))


@query(graded=True)
def q_dedup_minhash_sig(spark, sf):
    """MinHash signatures (16 hashes over word 3-shingles, md5-portable);
    projected to first/last hash for a stable wide-row check."""
    sigs = minhash_signatures(_t(spark, sf, "documents"), num_hashes=16)
    return sigs.select("doc_id",
                       F.col("minhash")[0].alias("mh_0"),
                       F.col("minhash")[7].alias("mh_7"),
                       F.col("minhash")[15].alias("mh_15"))


@query(graded=True, headline=True)
def q_dedup_lsh_pairs(spark, sf):
    """MinHash-LSH candidate pairs (4 bands x 4 rows) verified with exact
    n-gram jaccard >= 0.5. Shingles and signatures are persisted
    materialization points — without them Catalyst inlines the shingle
    expression into every hash branch and join side (60x slowdown)."""
    docs = _t(spark, sf, "documents")
    sh = stage_table(shingle_table(docs))
    sigs = minhash_signatures(docs, num_hashes=16, shingles=sh)
    pairs = lsh_candidate_pairs(sigs, bands=4, num_hashes=16)
    return ngram_jaccard(docs, pairs, shingles=sh).where(
        F.col("jaccard") >= 0.5)


@query(headline=True)
def q_text_clean_pipeline(spark, sf):
    """The C4-style cleaning pass in one plan: quality-score gate +
    language identified (not 'und') + exact-dedup keep-min-id — the
    composition a real corpus build runs nightly. Scan-side expressions
    plus ONE window shuffle on the fingerprint."""
    from pyspark.sql import Window
    d = _t(spark, sf, "documents")
    scored = d.select(
        "doc_id",
        T.quality_score("text").alias("quality"),
        T.lang_id("text").alias("lang_pred"),
        T.fingerprint("text").alias("fp"))
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (scored.withColumn("_rn", F.row_number().over(w))
            .where((F.col("_rn") == 1) & (F.col("quality") >= 0.8)
                   & (F.col("lang_pred") != "und"))
            .select("doc_id", "lang_pred", "quality"))


@query(graded=True, headline=True)
def q_dedup_clusters(spark, sf):
    """Duplicate clusters: the LSH near-dup pairs (jaccard >= 0.5) resolved
    into connected components by iterative min-label propagation ->
    (doc_id, canonical rep_id, cluster_size). The oracle replays the
    closure with a recursive CTE — same fixpoint, different algorithm."""
    docs = _t(spark, sf, "documents")
    sh = stage_table(shingle_table(docs))
    sigs = minhash_signatures(docs, num_hashes=16, shingles=sh)
    pairs = lsh_candidate_pairs(sigs, bands=4, num_hashes=16)
    dups = ngram_jaccard(docs, pairs, shingles=sh).where(
        F.col("jaccard") >= 0.5)
    return duplicate_clusters(dups)


@query(graded=True)
def q_dedup_ngram_jaccard(spark, sf):
    """Exact word-3-gram jaccard for a deterministic candidate pair set
    (doc_id vs doc_id+7, plus doc_id vs doc_id+100) — the LSH verify stage
    in isolation, over a non-trivial pair list."""
    docs = _t(spark, sf, "documents")
    ids = docs.select("doc_id")
    pairs = (ids.select(F.col("doc_id").alias("id_a"),
                        (F.col("doc_id") + 7).alias("id_b"))
             .unionByName(ids.select(F.col("doc_id").alias("id_a"),
                                     (F.col("doc_id") + 100).alias("id_b")))
             .join(ids.select(F.col("doc_id").alias("id_b")), "id_b")
             .select("id_a", "id_b"))
    sh = stage_table(shingle_table(docs))
    return ngram_jaccard(docs, pairs, shingles=sh)


@query()
def q_dedup_minhash_estimate(spark, sf):
    """The MinHash ESTIMATOR against its ground truth: for a
    deterministic pair set (doc vs doc+7), the fraction of agreeing
    signature components (E[est] = jaccard, the Broder guarantee)
    alongside the exact shingle jaccard — the accuracy-vs-cost check a
    pipeline runs before trusting signatures at 100 TB, where exact
    verification of every pair is unaffordable. Shingles and
    signatures read once from the cached shingle table; four
    broadcast-eligible joins by id."""
    from lswms_forage_etl_spark.operators.dedup import jaccard_expr
    docs = _t(spark, sf, "documents")
    ids = docs.select("doc_id")
    pairs = (ids.select(F.col("doc_id").alias("id_a"),
                        (F.col("doc_id") + 7).alias("id_b"))
             .join(ids.select(F.col("doc_id").alias("id_b")), "id_b")
             .select("id_a", "id_b"))
    # ONE staged table carries both shingles and the signature, so the
    # minhash fold runs once and the pair expansion is TWO joins (the
    # oracle's own m-CTE shape; a separate sigs table re-ran the fold
    # per join side — round-6 review catch)
    sh = stage_table(shingle_table(docs))
    tbl = stage_table(sh.join(
        minhash_signatures(docs, num_hashes=16, shingles=sh), "doc_id"))
    joined = (pairs
              .join(tbl.toDF("id_a", "sh_a", "mh_a"), "id_a")
              .join(tbl.toDF("id_b", "sh_b", "mh_b"), "id_b"))
    matches = F.size(F.filter(
        F.zip_with("mh_a", "mh_b", lambda x, y: x == y), lambda v: v))
    return joined.select(
        "id_a", "id_b",
        portable_round(matches / F.lit(16.0), 6).alias("est_jaccard"),
        jaccard_expr("sh_a", "sh_b").alias("jaccard"))


@query(graded=True, headline=True)
def q_dedup_simhash(spark, sf):
    """SimHash near-dup pairs: portable md5-derived 64-bit signatures (one
    hash per token, all 64 bit-votes in a single fold), 4x16-bit banded
    candidate join, exact hamming verify <= 3 — the radius the 4-chunk
    pigeonhole banding is recall-complete for (ADVICE r1). Oracle-checked:
    DuckDB recomputes the identical signatures from the md5 hex."""
    docs = _t(spark, sf, "documents")
    sigs = simhash(docs)
    return simhash_near_dups(sigs, max_hamming=3)


@query(graded=True, headline=True)
def q_dedup_embedding(spark, sf):
    """Embedding-cosine near-dup pairs: banded multi-table hyperplane LSH
    (4 independent tables — recall ~0.89 at s=0.95 vs ~0.43 for one
    table), candidate dedup, exact cosine verify >= 0.3. No O(n^2) cross
    join; no single fixed bucketing (VERDICT r1 weak item).

    Plane count is SCALE-ADAPTIVE (VERDICT r10 item 2): derived from the
    corpus row count by the exact-integer re-index rule
    `adaptive_num_planes` (~log2(n/2), clamped [6,16]) — 8 at the gate
    sf (unchanged hashes), 10 at sf0.1, 16 at 100x, so the graded
    instance no longer saturates at scale (594 s pinned vs 78-101 s
    re-indexed in the round-10 smoke). The count is a 1-row driver
    aggregate (parquet metadata count); the oracle SQL computes the SAME
    integer from COUNT(*) via length(bin(...)), boundary-tested in
    tests/test_dedup_similarity.py."""
    from lswms_forage_etl_spark.operators.similarity import (
        adaptive_num_planes)
    emb = _t(spark, sf, "embeddings")
    planes = adaptive_num_planes(emb.count())
    return embedding_near_dups(emb, threshold=0.3, num_bands=4,
                               num_planes=planes)


@query(graded=True, headline=True)
def q_text_contamination(spark, sf):
    """Train/eval contamination sweep: sources split by parity into
    train/eval, LSH candidates crossing the split, directional n-gram
    containment of the EVAL doc inside the train doc >= 0.2 — catches
    near-verbatim inclusion that symmetric jaccard under-scores."""
    docs = _t(spark, sf, "documents")
    # The split column RIDES the persisted shingle table, so the two
    # shingle joins also deliver split_a/split_b — r3's shape joined a
    # separate parity table 3 more times (6 joins -> 3, VERDICT r3 item 6).
    par = docs.select(
        "doc_id",
        (F.expr("substring(source, 4)").cast("int") % 2).alias("split"))
    # sync: this stage subtree carries a join, and the interleaved A/B
    # measured the async count losing its stats race here (median 1.40 s
    # sync vs 1.52 s async at sf0.1) — the only stage_table site pinned
    sh = stage_table(shingle_table(docs).join(par, "doc_id"), sync=True)
    sigs = minhash_signatures(docs, num_hashes=16, shingles=sh)
    pairs = lsh_candidate_pairs(sigs, bands=4, num_hashes=16)
    out = (pairs
           .join(sh.toDF("id_a", "sh_a", "split_a"), "id_a")
           .join(sh.toDF("id_b", "sh_b", "split_b"), "id_b")
           .where(F.col("split_a") != F.col("split_b")))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    na = F.size("sh_a").cast("double")
    nb = F.size("sh_b").cast("double")
    # containment of the EVAL doc's shingles inside the train doc
    containment = F.when(
        F.col("split_a") == 0,
        F.when(nb > 0, inter / nb).otherwise(0.0)).otherwise(
        F.when(na > 0, inter / na).otherwise(0.0))
    j = out.select("id_a", "id_b",
                   portable_round(containment, 6).alias("containment"))
    return j.where(F.col("containment") >= 0.2)


@query(graded=True)
def q_sample_stratified(spark, sf):
    """Deterministic stratified downsample: halve the dominant language,
    quarter 'de', keep the tail — decisions are md5(key) threshold
    compares, so retries/oracles reproduce the exact sample (no rand())."""
    from lswms_forage_etl_spark.operators.sampling import stratified_sample
    docs = _t(spark, sf, "documents").select("doc_id", "lang", "source")
    return stratified_sample(docs, "lang", {"en": 0.5, "de": 0.25},
                             key_col="doc_id", default_rate=1.0)


@query(graded=True, headline=True)
def q_sample_group_cap(spark, sf):
    """Deterministic reservoir: at most 12 docs per source, picked by hash
    order — the skew-safe way to cap a dominant domain at 100 TB."""
    from lswms_forage_etl_spark.operators.sampling import group_cap
    docs = _t(spark, sf, "documents").select("doc_id", "source")
    return group_cap(docs, ["source"], k=12, key_col="doc_id")


# --- corpus build: packing / budgets / chunking / representatives ------------

@query(graded=True)
def q_sample_token_budget(spark, sf):
    """Per-language token budgets ('so many en tokens, so many de'),
    filled in deterministic hash order; each stratum budget splits across
    4 shards so the window partition for a dominant language stays
    bounded at web scale."""
    d = _t(spark, sf, "documents").select(
        "doc_id", "lang", T.bpe_ish_token_count("text").alias("n_tok"))
    out = token_budget_sample(d, "lang", "n_tok",
                              budgets={"en": 20000, "de": 8000},
                              key_col="doc_id", default_budget=4000,
                              n_shards=4)
    return out.select("doc_id", "lang", "shard", "n_tokens")


@query(graded=True, headline=True)
def q_pack_sequences(spark, sf):
    """Concat-and-split sequence packing: documents land in 4 hash-shard
    streams, each cut into 256-token packs. Pure integer window math —
    the layout is reproducible on any engine, and the only shuffle is the
    per-shard window (n_shards parallel linear scans, never a global
    sort)."""
    d = _t(spark, sf, "documents").select(
        "doc_id", T.bpe_ish_token_count("text").alias("n_tok"))
    return pack_sequences(d, "n_tok", budget=256, key_col="doc_id",
                          n_shards=4)


@query()
def q_pack_manifest(spark, sf):
    """Per-shard manifest of the packing layout — what a training
    launcher reads to size workers. The shard count is DATA-SIZED
    (rows_per_shard=1280, ~512 packs of 256 tokens per stream at the
    corpus's ~100-token docs, derived in-plan from a count-only 1-row
    aggregate Catalyst prunes the tokenizer out of): a constant
    n_shards capped the packing window at 4 parallel scans and made the
    100x ladder wall pure serialization, 19x (VERDICT r6 item 3) —
    data-sizing grows parallelism with the corpus the way a per-worker
    packer's worker count does. Manifest columns: docs, PHYSICAL packs
    (max(pack_id + packs_spanned), counting packs a long document
    spills through), and token totals per shard."""
    from lswms_forage_etl_spark.operators.dedup import _spread
    from lswms_forage_etl_spark.operators.packing import shard_manifest
    # _spread: the regex tokenizer is the whole 100x wall (7-8 s of the
    # 8.5 s ladder point) and a ~58 MB single-table scan arrives as ~4
    # splits — spread the raw text so the tokenize stage uses every core
    d = _spread(_t(spark, sf, "documents").select("doc_id", "text")) \
        .select("doc_id", T.bpe_ish_token_count("text").alias("n_tok"))
    packed = pack_sequences(d, "n_tok", budget=256, key_col="doc_id",
                            rows_per_shard=1280)
    return shard_manifest(packed)


@query(graded=True)
def q_text_chunks(spark, sf):
    """Context-window chunking: 64-token windows every 48 tokens, one row
    per chunk with a chunk fingerprint — map-side explode, no shuffle."""
    d = _t(spark, sf, "documents")
    return chunk_documents(d, "text", "doc_id", size=64, stride=48)


@query()
def q_dedup_representatives(spark, sf):
    """Cluster-representative selection: resolve LSH near-dup clusters,
    then keep the best document per cluster — highest quality score, ties
    to the smallest doc_id (NOT simply the min id: dedup pipelines keep
    the best copy, which the rep_id label doesn't know). Emits every
    clustered doc with its keeper and a keep flag."""
    docs = _t(spark, sf, "documents")
    sh = stage_table(shingle_table(docs))
    sigs = minhash_signatures(docs, num_hashes=16, shingles=sh)
    pairs = lsh_candidate_pairs(sigs, bands=4, num_hashes=16)
    dups = ngram_jaccard(docs, pairs, shingles=sh).where(
        F.col("jaccard") >= 0.5)
    clusters = duplicate_clusters(dups)
    q = docs.select("doc_id", T.quality_score("text").alias("quality"))
    w = Window.partitionBy("rep_id").orderBy(
        F.col("quality").desc(), F.col("doc_id"))
    return (clusters.join(q, "doc_id")
            .withColumn("keeper_id", F.first("doc_id").over(
                w.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)))
            .select("doc_id", "rep_id", "cluster_size", "keeper_id",
                    (F.col("doc_id") == F.col("keeper_id")).alias("keep")))


@query()
def q_corpus_stats(spark, sf):
    """Corpus report card: ROLLUP(lang, source) totals — docs, BPE-ish
    tokens, scaled-integer mean quality, distinct fingerprints. The
    nightly sanity dashboard for a corpus build; one shuffle, partials
    combine map-side."""
    d = _t(spark, sf, "documents").select(
        "lang", "source",
        T.bpe_ish_token_count("text").alias("n_tok"),
        T.quality_score("text").alias("quality"),
        T.fingerprint("text").alias("fp"))
    return (d.rollup("lang", "source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tok").alias("total_tokens"),
                 scaled_mean(F.col("quality"), 6).alias("mean_quality"),
                 F.countDistinct("fp").alias("n_uniq")))


@query(headline=True)
def q_ann_quantize(spark, sf):
    """Symmetric int8 embedding quantization: per-vector scale =
    max|x|/127, q_i = round(x_i/scale) — the 4x storage cut before an
    ANN index ships to object storage. Outputs are order-independent
    exact checks (int sum of codes, max |reconstruction error|) so the
    oracle matches bit-for-bit. Scan-side higher-order functions; zero
    shuffle, zero Python.

    `scale` is BOUND to a column before the lambdas use it (round-11
    A/B at 100x: 24.4 s -> 0.7 s, 35x): an outer expression referenced
    inside a HOF lambda re-evaluates PER ELEMENT (the round-5
    interpreted-lambda lesson), so the inline form recomputed the
    array_max subtree dim times per row — O(dim^2). Values identical,
    verified row-for-row in the A/B."""
    emb = _t(spark, sf, "embeddings")
    b = emb.select(
        "vec_id",
        F.transform(F.col("embedding"),
                    lambda x: x.cast("double")).alias("v"))
    b = b.select(
        "vec_id", "v",
        (F.array_max(F.transform("v", F.abs)) / F.lit(127.0))
        .alias("scale"))
    q = F.transform("v", lambda x: F.when(
        F.col("scale") == F.lit(0.0), F.lit(0).cast("long")).otherwise(
        F.greatest(F.lit(-127).cast("long"),
                   F.least(F.lit(127).cast("long"),
                           F.floor(x / F.col("scale") + F.lit(0.5))))))
    b = b.select("vec_id", "v", "scale", q.alias("q"))
    err = F.zip_with("v", "q",
                     lambda x, c: F.abs(x - c.cast("double")
                                        * F.col("scale")))
    return b.select(
        "vec_id",
        portable_round(F.col("scale"), 9).alias("qscale"),
        F.aggregate("q", F.lit(0).cast("long"),
                    lambda a, x: a + x).alias("qsum"),
        portable_round(F.array_max(err), 9).alias("qmax_err"))


# --- model operators (M1/M2 — rows-only: iterative numeric fits are not
# SQL-expressible; SURVEY §5 prescribes shape/determinism checks) ------------

def _zone_series_from_orders(spark, sf, zones=50, tail=24):
    """Synthetic ZONE_SERIES: per (custkey%zones) take the last `tail`
    orders by date and treat avg price as 'biomass'."""
    o = _t(spark, sf, "orders")
    z = (o.groupBy(F.pmod(F.col("o_custkey"), F.lit(zones)).alias("zk"),
                   F.col("o_orderdate").cast("date").alias("date"))
         .agg(F.avg(F.col("o_totalprice") / 100000.0).alias("biomass")))
    w = Window.partitionBy("zk").orderBy(F.col("date").desc())
    return (z.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= tail)
            .select(F.concat(F.lit("Z"), F.col("zk")).alias("zone_id"),
                    "date", "biomass"))


@query(rows_only=True)
def q_model_gp_forecast(spark, sf):
    """M2 — per-zone Gaussian-process forecast (one applyInPandas call
    per bucket of zones): last in-sample point + 16/32/48-day horizons
    per zone. Deterministic
    (exact posterior mean, no SVI seed sensitivity)."""
    from lswms_forage_etl_spark.models.gp import gp_forecast
    return gp_forecast(_zone_series_from_orders(spark, sf))


@query(rows_only=True)
def q_model_hindcast_lag(spark, sf):
    """W2/W3 — expanding-window GP refits per zone (one applyInPandas
    call per bucket of zones) pivoted into the lag matrix."""
    from lswms_forage_etl_spark.operators.hindcast import (
        hindcast_tall, lag_matrix)
    series = _zone_series_from_orders(spark, sf, zones=20, tail=16)
    return lag_matrix(hindcast_tall(series))


@query(rows_only=True)
def q_model_gwr_score(spark, sf):
    """M1 — GWR fit-small/score-distributed (mapInPandas): synthetic
    spatial regression over customer-derived coordinates."""
    from lswms_forage_etl_spark.models.gwr import gwr_fit_score
    c = _t(spark, sf, "customer")
    lon = F.lit(36.0) + F.pmod(F.col("c_custkey") * 7, F.lit(2600)) / 200.0
    lat = F.lit(0.0) + F.pmod(F.col("c_custkey") * 13, F.lit(3000)) / 200.0
    sm = F.pmod(F.col("c_custkey") * 31, F.lit(1000)) / 1000.0
    preci = F.pmod(F.col("c_custkey") * 17, F.lit(1000)) / 1000.0
    df = c.select("c_custkey", lon.alias("lon"), lat.alias("lat"),
                  sm.alias("sm"), preci.alias("preci"),
                  (F.lit(0.3) * sm + F.lit(0.1) * preci).alias("ndvi"))
    scored = gwr_fit_score(df, bandwidth=60)
    return scored.select("c_custkey", portable_round(F.col("pred"), 4).alias("pred"))


# --- multimodal --------------------------------------------------------------

@query()
def q_mm_frame_sample(spark, sf):
    """Video frame-sampling plan: every 10th frame index per video, via
    explode(sequence()) — pure JVM expressions."""
    return frame_index(synth_media(_t(spark, sf, "documents")), every_n=10)


@query()
def q_scalar_zorder(spark, sf):
    """Z-order (Morton) layout key: bit-interleave two join/filter
    dimensions into one linear clustering key (functions/layout.py) —
    the data-layout primitive behind two-dimensional file pruning
    (`zorder_layout` wraps it with repartitionByRange + in-partition
    sort for OPTIMIZE-ZORDER-style writes)."""
    from lswms_forage_etl_spark.functions.layout import zorder_key
    li = _t(spark, sf, "lineitem")
    x = (F.col("l_partkey") % 1024).cast("long")
    y = (F.col("l_suppkey") % 1024).cast("long")
    return li.select(
        "l_orderkey", "l_linenumber",
        x.alias("zx"), y.alias("zy"),
        zorder_key(x, y, bits=10).alias("zkey"))


@query()
def q_text_gopher(spark, sf):
    """Gopher-style quality gate (Rae et al. 2021): word-count band,
    mean-word-length band, symbol-to-word ratio cap, minimum distinct
    stopword hits — per-rule int verdicts + conjunction, all scan-side
    JVM expressions (functions/text.py::gopher_rules)."""
    d = _t(spark, sf, "documents")
    g = T.gopher_rules("text")
    return (d.select("doc_id", g.alias("g"))
            .select("doc_id",
                    F.col("g.n_words").alias("n_words"),
                    portable_round(F.col("g.mean_word_len"), 4)
                    .alias("mean_word_len"),
                    F.col("g.stop_hits").alias("stop_hits"),
                    F.col("g.words_ok").alias("words_ok"),
                    F.col("g.mwl_ok").alias("mwl_ok"),
                    F.col("g.sym_ok").alias("sym_ok"),
                    F.col("g.stop_ok").alias("stop_ok"),
                    F.col("g.keep").alias("keep")))


@query()
def q_dedup_chunks(spark, sf):
    """Sub-document chunk-level dedup statistic (RefinedWeb/FineWeb
    line-dedup shape): non-overlapping 32-token chunks, md5 fingerprints,
    per-doc fraction of chunks shared with any other document
    (operators/dedup.py::chunk_dedup_stats)."""
    from lswms_forage_etl_spark.operators.dedup import chunk_dedup_stats
    return chunk_dedup_stats(_t(spark, sf, "documents"), size=32)


# --- embeddings / similarity -------------------------------------------------

def _query_vec(spark, sf) -> list[float]:
    row = (_t(spark, sf, "embeddings").where(F.col("vec_id") == 0)
           .select("embedding").first())
    return [float(x) for x in row["embedding"]]


@query(graded=True, headline=True)
def q_ann_bruteforce_topk(spark, sf):
    """Brute-force cosine top-10 against vec_id=0's embedding — JVM-side
    zip_with/aggregate dot products, deterministic tie-break."""
    emb = _t(spark, sf, "embeddings")
    return brute_force_topk(emb, _query_vec(spark, sf), k=10)


@query()
def q_ann_pairwise_label_sim(spark, sf):
    """Pairwise cosine within a bounded slice (vec_id < 50 — candidate
    verification shape): id pair + rounded cosine."""
    emb = _t(spark, sf, "embeddings").where(F.col("vec_id") < 50)
    a = emb.select(F.col("vec_id").alias("id_a"),
                   F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"),
                   F.col("embedding").alias("vb"))
    va = F.transform(F.col("va"), lambda x: x.cast("double"))
    vb = F.transform(F.col("vb"), lambda x: x.cast("double"))
    return (a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    portable_round(cosine(va, vb), 6).alias("cosine_sim"))
            .where(F.col("cosine_sim") > 0.2))


@query(graded=True)
def q_ann_lsh_topk(spark, sf):
    """LSH-bucketed ANN top-10: random-hyperplane signatures; only vectors
    whose bucket is within hamming distance 1 of the query's bucket are
    scored — the scale path where the bucket is a partition column and the
    probe becomes a partition-pruned scan."""
    emb = _t(spark, sf, "embeddings")
    return lsh_topk(emb, _query_vec(spark, sf), k=10)


@query(graded=True, headline=True)
def q_ann_ivf_topk(spark, sf):
    """IVF ANN top-10: 16 deterministic coarse centroids, vectors assigned
    to nearest list once (pre-materializable), query probes 4 lists."""
    emb = _t(spark, sf, "embeddings")
    return ivf_topk(emb, _query_vec(spark, sf), k=10,
                    num_centroids=16, probes=4)


@query(headline=True)
def q_ann_topk_join(spark, sf):
    """Batched retrieval: top-3 corpus neighbors for each of the 8 query
    vectors (vec_id < 8) in one plan — broadcast queries, map-side
    scoring, per-query window top-k."""
    from lswms_forage_etl_spark.operators.similarity import topk_join
    emb = _t(spark, sf, "embeddings")
    return topk_join(emb.where(F.col("vec_id") < 8), emb, k=3)


@query()
def q_ann_topk_join_lsh(spark, sf):
    """Bucketed batched retrieval — the large-|Q| scale path for
    ann_topk_join: hyperplane buckets on both sides, multiprobe (hamming
    <= 1) equi-join on the bucket key, exact cosine re-rank, per-query
    top-3 (operators/similarity.py::topk_join_lsh)."""
    from lswms_forage_etl_spark.operators.similarity import topk_join_lsh
    emb = _t(spark, sf, "embeddings")
    return topk_join_lsh(emb.where(F.col("vec_id") < 8), emb, k=3)


@query()
def q_ann_label_centroids(spark, sf):
    """Per-label class centroids: distributed element-wise vector mean
    with exact scaled-integer sums (order-independent under partial
    aggregation), projected to 3 stable dimensions."""
    from lswms_forage_etl_spark.operators.similarity import label_centroids
    emb = _t(spark, sf, "embeddings")
    c = label_centroids(emb)
    return c.select("label",
                    F.col("centroid")[0].alias("c0"),
                    F.col("centroid")[7].alias("c7"),
                    F.col("centroid")[63].alias("c63"))


@query()
def q_ann_embedding_norms(spark, sf):
    """Vector norms + dims — the similarity layer's scan-side stats."""
    emb = _t(spark, sf, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(F.transform(v, lambda x: x * x),
                              F.lit(0.0), lambda a, x: a + x))
    return emb.select("vec_id", "label",
                      F.size("embedding").alias("dim"),
                      portable_round(norm, 4).alias("l2_norm"))


@query()
def q_corpus_order(spark, sf):
    """Epoch-seeded deterministic training order: every document gets a
    (shard, pos_in_shard) dataloader address from a reproducible hash
    shuffle (epoch 1). One per-shard window — n_shards linear scans,
    never a global sort."""
    from lswms_forage_etl_spark.operators.packing import training_order
    docs = _t(spark, sf, "documents")
    return training_order(docs, "doc_id", n_shards=8, seed=0, epoch=1)


@query(headline=True)
def q_dedup_semantic(spark, sf):
    """SemDeDup-style semantic dedup: coarse IVF clustering, then flag
    members redundant with their cluster's lowest-id representative
    (cosine >= 0.5). No within-cluster pairwise join — O(n·C) assign +
    O(n) verify, skew-immune (contrast dedup_embedding's pair listing)."""
    from lswms_forage_etl_spark.operators.similarity import semantic_dedup
    emb = _t(spark, sf, "embeddings")
    return semantic_dedup(emb, threshold=0.5, num_centroids=16)


@query(headline=True)
def q_dedup_substrings(spark, sf):
    """Maximal duplicated-substring spans (Lee et al. 2022 exact-substring
    dedup, re-expressed as overlapping 4-token window fingerprints + a
    gaps-and-islands merge — no suffix array, no global sort). One
    uniform-key aggregation decides duplication; boilerplate shared by
    millions of docs is one aggregate row, never a pairwise bucket."""
    from lswms_forage_etl_spark.operators.dedup import duplicate_spans
    docs = _t(spark, sf, "documents")
    return duplicate_spans(docs, window=4)


@query(headline=True)
def q_dedup_remove_spans(spark, sf):
    """Exact-substring dedup APPLIED (Lee et al. 2022, both halves):
    duplicate_spans detects maximal duplicated 4-token-window runs,
    remove_spans strips those token ranges and reconstructs the text.
    Emitted only for docs that lost tokens — the rewrite delta a corpus
    build writes back. The strip is a scan-side positional filter; the
    only added shuffle is the per-doc span aggregation."""
    from lswms_forage_etl_spark.operators.dedup import (
        duplicate_spans, remove_spans)
    docs = _t(spark, sf, "documents")
    spans = duplicate_spans(docs, window=4)
    return remove_spans(docs, spans).where(F.col("n_removed") > 0)


@query()
def q_ann_pq_codes(spark, sf):
    """Product-quantization encode: 64-dim float32 vectors (256 bytes)
    -> 8x4-bit codes packed in one long (4 bytes, 64x compression — the
    memory-bound ANN scale path). Codebooks are the deterministic
    hash-order seed vectors sliced per subspace; distances are exact
    scaled-integer L2 sums, so codes are partition-invariant and
    engine-portable."""
    from lswms_forage_etl_spark.operators.similarity import (
        pq_codebook, pq_encode)
    emb = _t(spark, sf, "embeddings")
    return pq_encode(emb, pq_codebook(emb))


@query(headline=True)
def q_ann_pq_topk(spark, sf):
    """PQ asymmetric-distance top-10: the query's m x ks distance table
    is computed driver-side; the scan touches only 4-byte codes (literal
    element_at lookups), never a float vector. Approximate by
    construction — ann_bruteforce_topk is the exact reference."""
    from lswms_forage_etl_spark.operators.similarity import pq_adc_topk
    emb = _t(spark, sf, "embeddings")
    return pq_adc_topk(emb, _query_vec(spark, sf), k=10)


@query(headline=True)
def q_ann_lsh_hamming(spark, sf):
    """Hamming-rank ANN top-10 (round 14, VERDICT r13 next #3): a
    192-plane hyperplane signature packed into 3 int64 words (one
    Arrow pass), candidates = the 50 smallest exact signature hamming
    distances (bit_count over the packed words — the scan reads 24
    bytes/vector, never a float), exact cosine re-rank of the bounded
    shortlist. Measured recall@10 = 1.0 on the near-random testdata
    where fixed-radius bucketed LSH (ann_lsh_topk, hamming<=1)
    measures 0.2 — candidates are k-bounded by construction instead
    of bucket-occupancy-dependent (SCALE.md round-14 grid)."""
    from lswms_forage_etl_spark.operators.similarity import (
        lsh_hamming_topk)
    emb = _t(spark, sf, "embeddings")
    return lsh_hamming_topk(emb, _query_vec(spark, sf), k=10,
                            num_planes=192, rerank_mult=5)


@query(headline=True)
def q_ann_pq_rerank(spark, sf):
    """PQ ADC shortlist + exact re-rank (round 14, VERDICT r13 next
    #3 — the FAISS practice): ADC over the DISTRIBUTED-trained
    codebook keeps the 80 best codes (8x k), then only those 80 float
    vectors are re-scored exactly (broadcast join). Lifts recall@10
    from 0.3 (raw trained ADC) to 1.0 while the scan stays code-only
    — the shortlist size is a constant, not corpus-proportional."""
    from concurrent.futures import ThreadPoolExecutor
    from lswms_forage_etl_spark.operators.similarity import (
        pq_adc_topk, pq_train_codebook_dist)
    emb = _t(spark, sf, "embeddings")
    # r16 (guide §2.6): the query-vector job is independent of the
    # 3-job codebook-training chain — overlap them; same jobs, same
    # deterministic results, one fewer serialized driver round-trip
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_qv = pool.submit(_query_vec, spark, sf)
        cb = pq_train_codebook_dist(emb, iters=2, dim=64)
        qv = f_qv.result()
    return pq_adc_topk(emb, qv, k=10, codebook=cb, rerank_mult=8)


@query(headline=True)
def q_ann_ivfpq_topk(spark, sf):
    """IVF-PQ COMPOSED index (round 15, VERDICT r14 next #3): coarse
    inverted lists (deterministic seed centroids, portable-rounded
    cosine argmax) prune to the query's 4 nearest lists, PQ ADC over
    the seed codebook ranks the probed candidates touching only their
    4-byte codes, and the 80-id shortlist re-ranks exactly (broadcast
    join). Every stage reuses a graded primitive's convention, so the
    whole composition hash-grades; the materialized form
    (ivfpq_build_index/probe) scans only probed-list code partitions
    — plan-tested partition pruning like ivf_topk. The codebook is
    the DISTRIBUTED-trained one (2 oracle-replayed Lloyd iterations
    per subspace, the pq_rerank convention — seed-codebook ADC left
    one true neighbor below the shortlist: recall@10 0.9 seed vs 1.0
    trained, measured via ann_recall_at_k, where ivfpq is now a
    row)."""
    from concurrent.futures import ThreadPoolExecutor
    from lswms_forage_etl_spark.lifecycle import await_staged
    from lswms_forage_etl_spark.operators.similarity import (
        ivf_probe_lists, ivfpq_topk, pq_train_codebook_dist)
    emb = _t(spark, sf, "embeddings")
    # r16 (guide §2.6 / VERDICT r15 item 5 — the one flat 8c/32c
    # scaling suspect): the serialized chain was qv job → 3 codebook
    # jobs → cents collect → action, and the re-rank join re-ran the
    # full-corpus assignment pass (now staged via ivf_probe_lists).
    # The chains {qv → probed lists} and {codebook training} are
    # independent — run them on driver threads so the pre-work wall is
    # the longest chain, not the sum. Deterministic either way.
    with ThreadPoolExecutor(max_workers=3) as pool:
        f_qv = pool.submit(_query_vec, spark, sf)
        f_cb = pool.submit(pq_train_codebook_dist, emb, iters=2, dim=64)
        f_lists = pool.submit(
            lambda: ivf_probe_lists(emb, f_qv.result(), 16, 4))
        qv, cb, lists = f_qv.result(), f_cb.result(), f_lists.result()
    out = ivfpq_topk(emb, qv, k=10, probes=4, rerank_mult=8,
                     codebook=cb, lists=lists)
    await_staged(lists)   # as in ann_recall_at_k: no cold-cache consumers
    return out


@query()
def q_ann_pq_trained(spark, sf):
    """PQ codes from the DISTRIBUTED-trained codebook (2 full-corpus
    Lloyd iterations per subspace, pq_train_codebook_dist): every
    training step is engine-portable — scaled-int subspace distances,
    exact integer codeword sums, portable-rounded means — so the DuckDB
    oracle replays the entire training AND the final encode bit-for-bit
    (round 5 had to grade the seed codebook because its trainer was
    numpy-only)."""
    from lswms_forage_etl_spark.operators.similarity import (
        pq_encode, pq_train_codebook_dist)
    emb = _t(spark, sf, "embeddings")
    cb = pq_train_codebook_dist(emb, iters=2, dim=64)
    return pq_encode(emb, cb)


@query()
def q_corpus_cluster_balance(spark, sf):
    """Diversity-balanced selection (the SemDeDup/DoReMi-family shape):
    cluster the embedding space with the distributed k-means trainer,
    then keep at most 30 vectors PER CLUSTER by deterministic hash
    order — dominant modes are capped, rare modes survive whole. Pure
    composition of graded operators: kmeans_train + l2_assign +
    group_cap; one window shuffle beyond the assignment."""
    from lswms_forage_etl_spark.operators.sampling import group_cap
    from lswms_forage_etl_spark.operators.similarity import (
        kmeans_train, l2_assign)
    emb = _t(spark, sf, "embeddings")
    cents = kmeans_train(emb, k=8, iters=2, dim=64)
    asg = l2_assign(emb, cents).select("vec_id", "cent_id", "l2_scaled")
    return group_cap(asg, ["cent_id"], k=30, key_col="vec_id")


@query(headline=True)
def q_kmeans_assign(spark, sf):
    """Distributed k-means (k=8, 2 full Lloyd iterations) + final
    assignment: every pass scans the whole corpus — Arrow scaled-int L2
    assignment, per-(cluster, dim) exact integer-sum centroid update
    (only k x dim rows ever reach the driver). Fixed iterations +
    portable arithmetic at every step make the run bit-reproducible:
    the oracle replays both iterations in SQL."""
    from lswms_forage_etl_spark.operators.similarity import (
        kmeans_train, l2_assign)
    emb = _t(spark, sf, "embeddings")
    cents = kmeans_train(emb, k=8, iters=2, dim=64)
    return l2_assign(emb, cents).select("vec_id", "cent_id", "l2_scaled")


@query(headline=True)
def q_text_rarity(spark, sf):
    """Rare-token-density quality signal (TF-IDF-shaped, log-free): per
    document, the mean over token occurrences of the scaled inverse
    document frequency (1e6 * N // df — EXACT integer arithmetic, so
    partial aggregation order and engines cannot disagree; one float
    division at the end, portable-rounded). The vocab join carries no
    broadcast hint — web-scale distinct-token tables are NOT
    catalog-scale, so AQE picks broadcast vs shuffle from real sizes
    (ADVICE r5). High scores = rare vocabulary; boilerplate scores
    low."""
    from lswms_forage_etl_spark.operators.dedup import _spread
    docs = _t(spark, sf, "documents")
    toks = F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                    lambda t: t != "")
    # _spread: the tokenize+explode is the whole 100x wall over the
    # few-partition source (round-11 A/B at 100x: 33.7 s un-spread vs
    # 7.3 s spread). Checkpoint-staging occ was ALSO tried and LOST
    # (38.7 s): materializing the exploded token table costs more than
    # running the cheap tokenizer once per consumer.
    occ = _spread(docs).select("doc_id", F.explode(toks).alias("token"))
    vocab = (occ.groupBy("doc_id", "token").agg(F.lit(1).alias("_"))
             .groupBy("token").agg(F.count(F.lit(1)).alias("df")))
    # ONE lazy plan (VERDICT r5 item 7): the corpus size rides a 1-row
    # aggregate cross join (BNLJ with a 1-row broadcast side) instead of
    # an eager first() at query CONSTRUCTION — no extra scan job, and
    # the plan is self-contained. The vocab join carries NO broadcast
    # hint (ADVICE r5): web-scale distinct tokens are not catalog-scale,
    # so AQE picks broadcast vs shuffle from real sizes.
    nd = docs.agg(F.count(F.lit(1)).alias("_nd"))
    scored = (occ.join(vocab, "token").crossJoin(nd)
              .select("doc_id",
                      F.expr("(cast(1000000 as bigint) * _nd) div df")
                      .alias("_idf")))
    # decimal(38,0) accumulation: the per-doc sum of 1e6*N-scaled terms
    # approaches int64 overflow at billions of docs under ANSI (ADVICE
    # r5); the exact decimal sum is cast to double only at the final
    # division — matching the oracle's CAST(sum(idf) AS DOUBLE).
    return (scored.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
                 F.sum(F.col("_idf").cast("decimal(38,0)")).alias("_s"))
            .select("doc_id", "n_tokens",
                    portable_round(F.col("_s").cast("double")
                           / (F.col("n_tokens") * F.lit(1_000_000.0)), 6)
                    .alias("rarity")))


@query()
def q_sample_global_k(spark, sf):
    """Deterministic GLOBAL reservoir: exactly k=200 documents chosen by
    md5-hash order (ties by id) — Spark's orderBy+limit is a
    per-partition partial top-k + driver merge (TakeOrdered), never a
    full sort; the sample is a pure function of the keys, so retries,
    repartitionings and engines agree on the exact member set (contrast
    df.sample(), which is none of those). Complements group_cap (per-
    group reservoir) and hash_sample (rate-based, inexact count)."""
    from lswms_forage_etl_spark.operators.sampling import sample_u32
    docs = _t(spark, sf, "documents").select("doc_id", "lang", "source")
    return (docs.withColumn("_u", sample_u32("doc_id"))
            .orderBy("_u", "doc_id").limit(200)
            .select("doc_id", "lang", "source"))


@query(headline=True)
def q_sample_weighted_k(spark, sf):
    """Weight-proportional sampling WITHOUT replacement (Efraimidis-
    Spirakis exponential keys): k=100 documents weighted by n_chars —
    e = -ln(u)/w over the deterministic hash-uniform u, k smallest keys
    win. One scan-side expression + TakeOrdered; the sample is a pure
    function of the keys, so engines/retries/partitionings agree on
    the exact member set. ekey is emitted milli-scaled (keys are
    ~1e-5) so the 6-dp portable rounding keeps signal."""
    from lswms_forage_etl_spark.operators.sampling import weighted_sample_k
    docs = _t(spark, sf, "documents").select("doc_id", "n_chars")
    out = weighted_sample_k(docs, 100, "n_chars", "doc_id")
    return out.select(
        "doc_id", "n_chars",
        portable_round(F.col("_ekey") * F.lit(1000.0), 6).alias("ekey_milli"))


REBALANCE_TARGETS = {"en": 0.4, "de": 0.15, "fr": 0.15, "es": 0.15,
                     "zh": 0.15}


@query(headline=True)
def q_sample_rebalance(spark, sf):
    """Rebalance the corpus to a target language mix (40 % en, 15 %
    each other) by DERIVED per-group keep-rates — downsample-only,
    largest achievable corpus, hash-thresholded membership
    (operators/sampling.rebalance_to_target). The kept SET is a pure
    function of the counts and keys, so the oracle replays membership
    row-for-row; group counts and the binding min stay in-plan (no
    collect at any number of groups)."""
    from lswms_forage_etl_spark.operators.sampling import (
        rebalance_to_target)
    docs = _t(spark, sf, "documents").select("doc_id", "lang")
    return rebalance_to_target(docs, "lang", REBALANCE_TARGETS,
                               "doc_id").select("doc_id", "lang")


def _rebalance_sql(targets: dict[str, float]) -> str:
    """sample_rebalance oracle — same targets dict, same float ops."""
    case = "CASE lang " + " ".join(
        f"WHEN '{g}' THEN {t!r}" for g, t in targets.items()) + " END"
    return f"""
        WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS ng
                   FROM documents GROUP BY lang),
        t AS (SELECT lang, ng, CAST({case} AS DOUBLE) AS tg FROM c
              WHERE {case} IS NOT NULL AND {case} > 0),
        s AS (SELECT min(ng / tg) AS scale FROM t),
        r AS (SELECT lang,
                CAST(floor(LEAST(1.0, scale * tg / ng)
                           * 4294967296.0) AS BIGINT) AS thr
              FROM t, s)
        SELECT doc_id, lang FROM documents JOIN r USING (lang)
        WHERE ('0x' || substr(md5('0|' || CAST(doc_id AS VARCHAR)),
                              1, 8))::BIGINT < thr
    """


BM25_QUERY_TERMS = ("vector", "stream", "window")


@query(headline=True)
def q_text_bm25_topk(spark, sf):
    """Okapi BM25 top-20 retrieval for a literal term query — the
    sparse-lexical complement to the ANN family (hard-negative mining,
    contamination triage, dataset search). Scoring follows the repo's
    exact-integer convention (operators/retrieval.py): 1e6-scaled
    integer idf (text_rarity's div), per-term contributions floored
    into int64, EXACT integer sum — ordering and the k-cut are integer
    comparisons, so engines cannot disagree; one display division at
    the end."""
    from lswms_forage_etl_spark.operators.retrieval import bm25_topk
    out = bm25_topk(_t(spark, sf, "documents"),
                    list(BM25_QUERY_TERMS), k=20)
    return out.select(
        "doc_id", "score12",
        portable_round(F.col("score12").cast("double") / F.lit(1e12), 6)
        .alias("bm25"))


@query(headline=True)
def q_sketch_hll_distinct(spark, sf):
    """From-scratch HyperLogLog distinct sketch per language (operators/
    sketches.py) next to the exact count: the register table, the exact
    int64 harmonic-sum (hll_sum48), the zero-register count, and the
    raw estimate are ALL bit-identical between engines — the sketch
    itself is oracle-checked, not just the estimate (Spark's own
    approx_count_distinct is engine-private HLL++ and can't be). Error
    at m=256 is the documented 1.04/sqrt(m) ~ 6.5 %."""
    from lswms_forage_etl_spark.operators.sketches import hll_distinct
    docs = _t(spark, sf, "documents")
    keyed = docs.select("lang", T.fingerprint("text").alias("fp"))
    out = hll_distinct(keyed, "fp", ["lang"], p=8)
    exact = keyed.groupBy("lang").agg(
        F.countDistinct("fp").alias("n_exact"))
    return (out.join(exact, "lang")
            .select("lang", "n_exact", "n_zero_regs", "hll_sum48",
                    portable_round(F.col("hll_est"), 4).alias("hll_est")))


def _hll_sql(p: int = 8) -> str:
    """sketch_hll_distinct oracle: replays hash -> bucket/rho ->
    register max -> exact integer harmonic sum -> one float division,
    with the alpha constant computed by the same Python expression as
    the operator."""
    m = 1 << p
    rem_bits = 32 - p
    mask = (1 << rem_bits) - 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    num = alpha * m * m * float(1 << 48)
    return rf"""
        WITH k AS (SELECT lang,
                     md5(lower(regexp_replace(trim(text), '\s+', ' ',
                                              'g'))) AS fp
                   FROM documents),
        h AS (SELECT lang, fp,
                ('0x' || substr(md5('0|' || fp), 1, 8))::BIGINT AS h32
              FROM k),
        r AS (SELECT lang, CAST(h32 // {mask + 1} AS INT) AS bucket,
                max(CASE WHEN (h32 % {mask + 1}) = 0 THEN {rem_bits + 1}
                     ELSE {rem_bits + 1} - length(bin(h32 % {mask + 1}))
                     END) AS reg
              FROM h GROUP BY lang, bucket),
        tpl AS (SELECT lang, bucket
                FROM (SELECT DISTINCT lang FROM k),
                     (SELECT CAST(unnest(range(0, {m})) AS INT)
                        AS bucket)),
        f AS (SELECT tpl.lang, COALESCE(r.reg, 0) AS reg
              FROM tpl LEFT JOIN r
                ON tpl.lang = r.lang AND tpl.bucket = r.bucket),
        s AS (SELECT lang,
                CAST(sum(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_zero_regs,
                CAST(sum(CAST(1 AS BIGINT) << (48 - reg)) AS BIGINT)
                  AS hll_sum48
              FROM f GROUP BY lang),
        x AS (SELECT lang, CAST(count(DISTINCT fp) AS BIGINT) AS n_exact
              FROM k GROUP BY lang)
        SELECT s.lang, n_exact, n_zero_regs, hll_sum48,
               {_pr(f"{num!r} / CAST(hll_sum48 AS DOUBLE)", 4)} AS hll_est
        FROM s JOIN x ON s.lang = x.lang
    """


@query(headline=True)
def q_text_bm25_join(spark, sf):
    """Batched BM25 retrieval — the inverted-index join shape for a
    whole QUERY TABLE (operators/retrieval.bm25_join): odd-parity
    sources are the query set, even-parity sources the corpus; each
    query's distinct tokens join the corpus posting list on the
    uniform term key and the top-5 corpus docs per query survive a
    per-query window. Same exact-integer scoring as text_bm25_topk,
    so the ranking and k-cut are engine-deterministic."""
    from lswms_forage_etl_spark.operators.retrieval import bm25_join
    docs = _t(spark, sf, "documents")
    par = F.expr("substring(source, 4)").cast("int") % 2
    corpus = docs.where(par == 0)
    queries = docs.where(par == 1) \
        .select(F.col("doc_id").alias("query_id"), "text")
    out = bm25_join(queries, corpus, k=5)
    return out.select(
        "query_id", "doc_id", "rank", "score12",
        portable_round(F.col("score12").cast("double") / F.lit(1e12), 6)
        .alias("bm25"))


def _bm25_join_sql(k: int = 5, k1: float = 1.2, b: float = 0.75,
                   champions: int = 32) -> str:
    """text_bm25_join oracle — same literal computation as the Spark
    operator (k1+1 through identical float repr), including the
    champion-list pruning (per-term top-c postings by tf desc, doc_id;
    df stays the TRUE pre-pruning document frequency)."""
    kk1 = float(k1) + 1.0
    contrib = (
        f"CAST(floor(CAST((1000000 * n) // df AS DOUBLE)"
        f" * (CAST(tf AS DOUBLE) * {kk1!r})"
        f" / (CAST(tf AS DOUBLE) + {float(k1)!r} * ({1.0 - float(b)!r}"
        f" + {float(b)!r} * (CAST(dl AS DOUBLE)"
        f" / (CAST(sum_dl AS DOUBLE) / CAST(n AS DOUBLE)))))"
        f" * 1000000.0) AS BIGINT)")
    return rf"""
        WITH d AS (SELECT doc_id, CAST(substring(source, 4) AS INT) % 2
                     AS par,
                     list_filter(string_split_regex(trim(lower(text)),
                                                    '\s+'),
                                 x -> x <> '') AS toks
                   FROM documents),
        cl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks
               FROM d WHERE par = 0),
        tfp AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
                FROM (SELECT doc_id, dl, unnest(toks) AS term FROM cl)
                GROUP BY doc_id, dl, term),
        dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                  FROM tfp GROUP BY term),
        ch AS (SELECT doc_id, dl, term, tf FROM
                 (SELECT *, row_number() OVER (PARTITION BY term
                          ORDER BY tf DESC, doc_id) AS rn FROM tfp)
               WHERE rn <= {champions}),
        s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(dl) AS BIGINT) AS sum_dl FROM cl),
        qt AS (SELECT doc_id AS query_id, unnest(list_distinct(toks))
                 AS term
               FROM d WHERE par = 1),
        c AS (SELECT query_id, doc_id, {contrib} AS c12
              FROM qt JOIN ch USING (term) JOIN dfreq USING (term), s),
        a AS (SELECT query_id, doc_id, CAST(sum(c12) AS BIGINT)
                AS score12
              FROM c GROUP BY query_id, doc_id),
        r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY score12 DESC, doc_id) AS rank FROM a)
        SELECT query_id, doc_id, CAST(rank AS INT) AS rank, score12,
               {_pr("CAST(score12 AS DOUBLE) / 1000000000000.0", 6)} AS bm25
        FROM r WHERE rank <= {k}
    """


@query(headline=True)
def q_sketch_kmv_jaccard(spark, sf):
    """Cross-language shingle-set similarity via k-minimum-values
    sketches (operators/sketches.py): per language, the KMV sketch
    (k=256) of its distinct word-3-shingle set; per language pair,
    the bottom-k Jaccard estimate NEXT TO the exact Jaccard — the
    set-similarity question HLL cannot answer. Sketch rows, the
    union's k-cut, and both ratios are engine-deterministic, so the
    oracle replays the whole estimator. The staged shingle table
    carries the 60-bit KMV hash instead of the string (r15, guide
    §2.3 narrower types / §1.2 one pass): the hash applies right
    after the string distinct inside the SAME staged build —
    previously a separate full pass over the staged strings re-hashed
    them for the sketch (7.5 executor-seconds at sf0.1) — so the
    per-lang counts, sketch window, and exact-intersection self-join
    all key on fixed-width int64 instead of ~30-byte strings.
    (Hashing BEFORE the distinct was tried and rejected: it md5s
    every occurrence instead of the distinct set — measured 1.85 →
    2.35 s, strictly worse.) The oracle applies the identical
    convention (its cnt/ix CTEs read the post-distinct hash table h),
    so both engines agree row-for-row; within-lang 60-bit collisions
    are the sketch's own negligible-collision contract, now shared by
    the exact column on BOTH engines."""
    from pyspark.sql import Window
    from lswms_forage_etl_spark.functions.text import ngram_array
    from lswms_forage_etl_spark.operators.dedup import _spread
    from lswms_forage_etl_spark.operators.sketches import (
        kmv_jaccard_pairs)
    docs = _t(spark, sf, "documents")
    toks = F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                    lambda t: t != "")
    h60 = F.conv(F.substring(
        F.md5(F.concat(F.lit("0|"), F.col("sh"))), 1, 15),
        16, 10).cast("long")
    sh = stage_table(_spread(docs).select(
        "lang", F.explode(ngram_array(toks, 3)).alias("sh")).distinct()
        .select("lang", h60.alias("kmv_hash")).distinct())
    # bottom-k window == kmv_sketch over the pre-hashed distinct table
    wk = Window.partitionBy("lang").orderBy("kmv_hash")
    sk = (sh.withColumn("kmv_rank", F.row_number().over(wk))
          .where(F.col("kmv_rank") <= 256))
    est = kmv_jaccard_pairs(sk, "lang") \
        .select(F.col("ga").alias("lang_a"), F.col("gb").alias("lang_b"),
                "m_size", "n_shared", "kmv_jaccard")
    na = sh.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = sh.toDF("la", "sh")
    b = sh.toDF("lb", "sh")
    # exact intersection keyed on the int64 hash (twin convention in
    # the oracle's ix CTE)
    inter = (a.join(b, "sh").where(F.col("la") < F.col("lb"))
             .groupBy("la", "lb")
             .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
             .select(F.col("la").alias("lang_a"),
                     F.col("lb").alias("lang_b"), "n_inter"))
    ni = F.coalesce(F.col("n_inter"), F.lit(0)).cast("long")
    return (est.join(inter, ["lang_a", "lang_b"], "left")
            .join(na.select(F.col("lang").alias("lang_a"),
                            F.col("n").alias("n_a")), "lang_a")
            .join(na.select(F.col("lang").alias("lang_b"),
                            F.col("n").alias("n_b")), "lang_b")
            .select("lang_a", "lang_b", "n_a", "n_b",
                    ni.alias("n_inter"),
                    portable_round(ni.cast("double")
                           / (F.col("n_a") + F.col("n_b") - ni)
                           .cast("double"), 6).alias("jaccard_exact"),
                    "m_size", "n_shared",
                    portable_round(F.col("kmv_jaccard"), 6)
                    .alias("kmv_jaccard")))


def _kmv_sql(k: int = 256) -> str:
    """sketch_kmv_jaccard oracle: same 60-bit hashes, same per-group
    bottom-k, same union k-cut and ratios."""
    return rf"""
        WITH t AS (SELECT lang,
                     list_filter(string_split_regex(trim(lower(text)),
                                                    '\s+'),
                                 x -> x <> '') AS toks
                   FROM documents),
        sh AS (SELECT DISTINCT lang,
                 array_to_string(toks[CAST(i + 1 AS INT)
                                      :CAST(i + 3 AS INT)], ' ') AS sh
               FROM t, (SELECT unnest(range(0, len(toks) - 2)) AS i)
               WHERE len(toks) >= 3),
        h AS (SELECT DISTINCT lang,
                ('0x' || substr(md5('0|' || sh), 1, 15))::BIGINT
                  AS kmv_hash
              FROM sh),
        kmv AS (SELECT lang, kmv_hash FROM
                  (SELECT lang, kmv_hash, row_number() OVER
                     (PARTITION BY lang ORDER BY kmv_hash) AS rk
                   FROM h)
                WHERE rk <= {k}),
        pairs AS (SELECT a.lang AS lang_a, b.lang AS lang_b
                  FROM (SELECT DISTINCT lang FROM kmv) a,
                       (SELECT DISTINCT lang FROM kmv) b
                  WHERE a.lang < b.lang),
        u AS (SELECT lang_a, lang_b, kmv_hash,
                     max(ina) AS ina, max(inb) AS inb
              FROM (SELECT p.lang_a, p.lang_b, s.kmv_hash,
                           1 AS ina, 0 AS inb
                    FROM pairs p JOIN kmv s ON s.lang = p.lang_a
                    UNION ALL
                    SELECT p.lang_a, p.lang_b, s.kmv_hash, 0, 1
                    FROM pairs p JOIN kmv s ON s.lang = p.lang_b)
              GROUP BY lang_a, lang_b, kmv_hash),
        m AS (SELECT * FROM
                (SELECT *, row_number() OVER (PARTITION BY lang_a,
                         lang_b ORDER BY kmv_hash) AS rk FROM u)
              WHERE rk <= {k}),
        e AS (SELECT lang_a, lang_b,
                     CAST(count(*) AS BIGINT) AS m_size,
                     CAST(sum(ina * inb) AS BIGINT) AS n_shared
              FROM m GROUP BY lang_a, lang_b),
        cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
                FROM h GROUP BY lang),
        ix AS (SELECT a.lang AS lang_a, b.lang AS lang_b,
                      CAST(count(*) AS BIGINT) AS n_inter
               FROM h a JOIN h b
                 ON a.kmv_hash = b.kmv_hash AND a.lang < b.lang
               GROUP BY a.lang, b.lang)
        SELECT e.lang_a, e.lang_b, ca.n AS n_a, cb.n AS n_b,
               CAST(COALESCE(ix.n_inter, 0) AS BIGINT) AS n_inter,
               {_pr("CAST(COALESCE(ix.n_inter, 0) AS DOUBLE) / "
                    "CAST(ca.n + cb.n - COALESCE(ix.n_inter, 0) "
                    "AS DOUBLE)", 6)} AS jaccard_exact,
               m_size, n_shared,
               {_pr("CAST(n_shared AS DOUBLE) / CAST(m_size AS DOUBLE)",
                    6)} AS kmv_jaccard
        FROM e
        JOIN cnt ca ON ca.lang = e.lang_a
        JOIN cnt cb ON cb.lang = e.lang_b
        LEFT JOIN ix ON ix.lang_a = e.lang_a AND ix.lang_b = e.lang_b
    """


@query(headline=True)
def q_sketch_cms_counts(spark, sf):
    """Count-Min Sketch frequency estimation (operators/sketches.py):
    build the d=4 x w=1024 integer sketch over token occurrences, then
    point-query it for the top-20 true tokens — (token, true_count,
    cms_estimate), estimate >= truth by construction. Both the sketch
    CELLS and the estimates are engine-deterministic, so the oracle
    replays the whole structure. Two corpus scans (sketch build +
    exact top-k for the comparison column); the sketch itself is d*w
    rows and broadcasts into the probe at any corpus size."""
    from lswms_forage_etl_spark.operators.dedup import _spread
    from lswms_forage_etl_spark.operators.sketches import (
        cms_lookup, cms_table)
    docs = _spread(_t(spark, sf, "documents"))
    occ = docs.select(F.explode(T.tokens("text")).alias("token"))
    top = (occ.groupBy("token")
           .agg(F.count(F.lit(1)).cast("long").alias("true_count"))
           .orderBy(F.col("true_count").desc(), "token").limit(20))
    est = cms_lookup(cms_table(occ, "token"), top.select("token"),
                     "token")
    return top.join(est, "token").select("token", "true_count",
                                         "cms_estimate")


def _cms_sql(d: int = 4, w: int = 1024) -> str:
    """sketch_cms_counts oracle: same md5 cells, same min-over-rows."""
    def cells(src: str) -> str:
        items = ", ".join(
            f"{{'r': {i}, 'c': ('0x' || substr(md5('{i}|' || token), 1, 8))"
            f"::BIGINT % {w}}}" for i in range(d))
        return (f"SELECT token, u.r AS r, u.c AS c FROM "
                f"(SELECT token, unnest([{items}]) AS u FROM {src})")
    return rf"""
        WITH t AS (SELECT unnest(list_filter(
                     string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '')) AS token
                   FROM documents),
        cell AS ({cells('t')}),
        cms AS (SELECT r, c, CAST(count(*) AS BIGINT) AS n
                FROM cell GROUP BY r, c),
        top AS (SELECT token, CAST(count(*) AS BIGINT) AS true_count
                FROM t GROUP BY token
                ORDER BY true_count DESC, token LIMIT 20),
        probe AS ({cells('top')}),
        e AS (SELECT token,
                CAST(min(COALESCE(n, 0)) AS BIGINT) AS cms_estimate
              FROM probe LEFT JOIN cms USING (r, c) GROUP BY token)
        SELECT top.token, true_count, cms_estimate
        FROM top JOIN e USING (token)
    """


def _bm25_sql(terms, k: int = 20, k1: float = 1.2, b: float = 0.75) -> str:
    """text_bm25_topk oracle, generated from the SAME constants/literal
    computation as operators/retrieval.bm25_topk (k1+1 etc. go through
    identical float repr, so both engines parse the same double)."""
    kk1 = float(k1) + 1.0
    tf_cols = ", ".join(
        f"CAST(len(list_filter(toks, x -> x = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(terms))
    dfs = ", ".join(
        f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS df{i}"
        for i in range(len(terms)))
    contribs = " + ".join(
        f"(CASE WHEN tf{i} > 0 THEN CAST(floor("
        f"CAST((1000000 * n) // df{i} AS DOUBLE)"
        f" * (CAST(tf{i} AS DOUBLE) * {kk1!r})"
        f" / (CAST(tf{i} AS DOUBLE) + {float(k1)!r} * ({1.0 - float(b)!r}"
        f" + {float(b)!r} * (CAST(dl AS DOUBLE)"
        f" / (CAST(sum_dl AS DOUBLE) / CAST(n AS DOUBLE)))))"
        f" * 1000000.0) AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(len(terms)))
    return rf"""
        WITH t AS (SELECT doc_id,
                     list_filter(string_split_regex(trim(lower(text)),
                                                    '\s+'),
                                 x -> x <> '') AS toks
                   FROM documents),
        d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, {tf_cols}
              FROM t),
        s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(dl) AS BIGINT) AS sum_dl, {dfs}
              FROM d),
        c AS (SELECT doc_id, {contribs} AS score12 FROM d, s)
        SELECT doc_id, score12,
               {_pr("CAST(score12 AS DOUBLE) / 1000000000000.0", 6)} AS bm25
        FROM c WHERE score12 > 0
        ORDER BY score12 DESC, doc_id
        LIMIT {k}
    """


@query(graded=True, headline=True)
def q_mm_byte_histogram(spark, sf):
    """Arrow-batched featurizer over binary payloads (mapInPandas) —
    projected to 3 stable histogram bins. Oracle-checked: DuckDB replays
    the byte histogram by hex-decoding the payload blob (2 hex chars per
    byte) with portable 9-dp rounding on both sides."""
    h = byte_histogram(synth_media(_t(spark, sf, "documents")), bins=16)
    return h.select("media_id",
                    F.col("features")[0].alias("bin_0"),
                    F.col("features")[7].alias("bin_7"),
                    F.col("features")[15].alias("bin_15"))


@query(graded=True)
def q_mm_metadata(spark, sf):
    """Multimodal scan-side stats: opaque binary payload + typed metadata
    struct, projected without touching the payload bytes (column pruning
    keeps the 100 TB payload column out of this scan entirely)."""
    return media_stats(synth_media(_t(spark, sf, "documents")))


@query()
def q_mm_patches(spark, sf):
    """ViT-style patch tiling: payload bytes as a 32-wide row-major
    image, 8x8 patches, per-patch byte count + mean intensity — one row
    per (image, patch), the shape a vision pre-processor feeds to
    embedding. Arrow mapInPandas; byte-exact DuckDB oracle."""
    from lswms_forage_etl_spark.operators.multimodal import (
        patch_grid, synth_media)
    return patch_grid(synth_media(_t(spark, sf, "documents")),
                      width=32, patch=8)


@query()
def q_mm_decode_ppm(spark, sf):
    """REAL image decode end-to-end: each document becomes a valid
    binary PPM (P6) via pure JVM expressions (header + first w*h*3 text
    bytes as the raster), then the Arrow stage runs an actual
    pure-numpy netpbm decode — header parsed, dimensions read from the
    stream, exact integer pixel sum / one float division. The oracle
    replays the raster arithmetic byte-for-byte from the source text
    (hex-decode), so a header-parsing bug or off-by-one in the raster
    offset hash-mismatches. Closes VERDICT r6 'decode kernels are
    stubs': this path has no fake, no metadata echo."""
    from lswms_forage_etl_spark.operators.multimodal import (
        decode_media, synth_ppm_media)
    out = decode_media(synth_ppm_media(_t(spark, sf, "documents")))
    return out.select(
        "media_id", "decoded_width", "decoded_height",
        portable_round(F.col("mean_intensity"), 9).alias("mean_intensity"))


@query(headline=True)
def q_mm_decode_png(spark, sf):
    """REAL compressed-format decode end-to-end: each document's first
    w*9 text bytes become the raster of a spec-conformant PNG (zlib
    deflate; even ids 3-row RGB, odd ids 9-row greyscale; scanline
    filter doc_id % 5, so None/Sub/Up/Average/Paeth ALL run), then the
    Arrow stage inflates, unfilters, and parses the header for real.
    The oracle replays the raster arithmetic from the source text
    bytes (hex-decode), so any defect across deflate -> inflate ->
    unfilter -> header parse hash-mismatches. Closes the PNG half of
    the VERDICT r9 decode seam; JPEG decodes for real too since round
    12 (`q_mm_decode_jpeg`)."""
    from lswms_forage_etl_spark.operators.multimodal import (
        decode_media, synth_png_media)
    out = decode_media(synth_png_media(_t(spark, sf, "documents")))
    return out.select(
        "media_id", "decoded_width", "decoded_height",
        portable_round(F.col("mean_intensity"), 9).alias("mean_intensity"))


@query(headline=True)
def q_mm_decode_jpeg(spark, sf):
    """REAL lossy-format decode end-to-end (VERDICT r11 missing #2):
    each document's first 2*nb text bytes (evened: & 0xFE) become the
    constant 8x8 block values of a (16, 8*nb) greyscale baseline JPEG
    built by the twin encoder (Annex-K tables, quality 50), then the
    Arrow stage runs the REAL baseline decoder — marker walk, DHT
    canonical codes, DC-diff/EOB Huffman decode, dequant, IDCT, clip.
    Constant even-valued blocks at quality 50 decode exactly lossless
    (DC step 16 = 2 pixel levels; only DC is nonzero), so the oracle
    replays the decoded raster from the same text bytes with zero
    float boundaries — any defect across encode -> entropy -> IDCT
    hash-mismatches. Progressive/arithmetic remain documented raises;
    RGB, 4:2:0, restart markers, and padding are pinned by pytest
    (lossy paths can't hash against SQL)."""
    from lswms_forage_etl_spark.operators.multimodal import (
        decode_media, synth_jpeg_media)
    out = decode_media(synth_jpeg_media(_t(spark, sf, "documents")))
    return out.select(
        "media_id", "decoded_width", "decoded_height",
        portable_round(F.col("mean_intensity"), 9).alias("mean_intensity"))


@query(headline=True)
def q_mm_decode_wav(spark, sf):
    """REAL audio decode end-to-end: each document's first
    frames*channels*(bits/8) text bytes become the PCM data of a
    spec-conformant WAV (8-bit unsigned / 16-bit signed LE by id
    parity, mono/stereo, varying rates — built by the twin encoder),
    then the Arrow stage walks the RIFF chunk list and parses the fmt
    chunk for real. The oracle replays the sample arithmetic from the
    same text bytes (hex-decode, signed 16-bit reconstruction), so a
    chunk-walk, fmt-parse, or byte-order bug hash-mismatches. Closes
    the audio half of the decode seam (VERDICT r10 missing #3);
    24-bit/float32/extensible land in `q_mm_decode_wav_ext`."""
    from lswms_forage_etl_spark.operators.multimodal import (
        decode_audio, synth_wav_media)
    out = decode_audio(synth_wav_media(_t(spark, sf, "documents")))
    return out.select(
        "media_id", "sample_rate", "n_channels", "bits_per_sample",
        "n_frames", portable_round(F.col("mean_amp"), 9).alias("mean_amp"))


@query()
def q_mm_decode_wav_ext(spark, sf):
    """Extended audio decode (VERDICT r11 missing #4): even docs land
    as 24-bit signed-LE integer PCM, odd docs as IEEE-float32 PCM
    (text bytes reinterpreted as little-endian float32 — normal finite
    floats for ASCII input), every 5th wrapped in
    WAVE_FORMAT_EXTENSIBLE so the GUID unwrap runs in the gate. The
    Arrow stage runs the real extended `_parse_wav`; the amplitude
    stat is the repo's scaled-integer convention — amp_q = int64 sum
    of floor(clip(v, ±1e6) * 1e6 + 0.5) — so float samples stay
    hash-portable: the oracle reconstructs each float32 exactly from
    its sign/exponent/mantissa bytes (float32 is exact in float64) and
    replays the identical float64 clip/scale/floor."""
    from lswms_forage_etl_spark.operators.multimodal import (
        decode_audio_ext, synth_wav_ext_media)
    return decode_audio_ext(
        synth_wav_ext_media(_t(spark, sf, "documents")))


@query()
def q_mm_decode_wav_law(spark, sf):
    """G.711 companded audio decode: even docs mu-law, odd docs A-law
    (format codes 7/6) — the telephony corpus transport forms. Text
    bytes are the code bytes; the Arrow stage expands them through the
    canonical integer G.711 tables and the oracle replays the same
    expansion formulas per byte (pure BIGINT arithmetic end to end:
    the linear values are < 1e6 so the scaled-amp convention is exact
    integer on both engines)."""
    from lswms_forage_etl_spark.operators.multimodal import (
        decode_audio_ext, synth_wav_law_media)
    return decode_audio_ext(
        synth_wav_law_media(_t(spark, sf, "documents")))


@query(headline=True)
def q_mm_decode_wav_adpcm(spark, sf):
    """IMA/DVI ADPCM WAV decode (round 13 — closes the last audio
    honest raise): text bytes map to int16 samples, compress through
    the REAL IMA encoder (4-bit nibbles, step/index tables), and the
    Arrow stage runs the real block decoder. The oracle replays the
    WHOLE codec as one recursive integer state machine — decoded
    sample k equals the encoder predictor after step k by
    construction, so encode+decode pin each other with zero float
    boundaries. Same scaled-amp output convention as the other WAV
    decodes."""
    from lswms_forage_etl_spark.operators.multimodal import (
        decode_audio_ext, synth_wav_adpcm_media)
    return decode_audio_ext(
        synth_wav_adpcm_media(_t(spark, sf, "documents")))


@query()
def q_mm_audio_energy(spark, sf):
    """Audio feature extraction over REAL decoded WAV payloads:
    non-overlapping 16-frame windows, exact int64 sum-of-squares energy
    per window (all channels), float64 RMS + silence flag — the
    VAD-style primitive after mm_decode_wav's parse. One Arrow pass, no
    shuffle; the oracle replays the windowed square-sums from the same
    text bytes, so a frame/window indexing or channel-interleave bug
    hash-mismatches."""
    from lswms_forage_etl_spark.operators.multimodal import (
        audio_energy, synth_wav_media)
    out = audio_energy(synth_wav_media(_t(spark, sf, "documents")))
    return out.select("media_id", "win_idx", "n_samples", "ssq",
                      portable_round(F.col("rms"), 9).alias("rms"),
                      "is_silence")


@query(headline=True)
def q_dedup_incremental(spark, sf):
    """Incremental (nightly-batch) dedup: sources src15+ are the new
    batch, src0-14 the existing corpus; each new doc is LSH-probed
    against the existing index only (never new-vs-new) and reports its
    best existing match with jaccard >= 0.5. The existing side's
    shingle/signature/band tables are the persistent corpus index."""
    from lswms_forage_etl_spark.operators.dedup import incremental_dedup
    docs = _t(spark, sf, "documents")
    return incremental_dedup(
        docs, F.expr("cast(substring(source, 4) as int) >= 15"))


# Gram-key width for text_eval_overlap, in md5 hex chars (4 bits each).
# 16 (64 bits) halves the staged bytes and join shuffle vs full md5 and
# is collision-safe at bench scales: with n distinct grams, expected
# colliding PAIRS ~ n^2 / 2^65 — ~1e-2 at the 100x slice's 5.6e8 grams.
# At a true 100 TB corpus (~1e12 grams) that birthday term reaches
# ~2.7e4 false gram matches; set 32 (full 128-bit md5) there — the
# oracle derives from the same constant, so both engines move together
# (VERDICT r8 item 7).
EVAL_OVERLAP_KEY_HEX = 16


@query()
def q_text_eval_overlap(spark, sf, key_hex_chars: int | None = None):
    """The canonical n-gram decontamination recipe (GPT-3 appendix /
    Llama): flag every TRAIN document sharing ANY 8-token n-gram with
    the eval split (sources split by parity; 8 rather than 13 because
    the synthetic docs are short). Differs from containment: a single
    shared n-gram flags, no ratio. One uniform-key fingerprint SEMI
    join against the staged gram table — eval n-grams are CORPUS-scale
    at 100 TB, so the join shuffles on the uniform gram key and the
    planner sees the cached table's real size, never a parquet
    underestimate; per flagged doc the count of distinct shared
    n-grams is reported for triage.

    Round-7 slope work (VERDICT r6 item 4): the gram key is the md5
    TRUNCATED to 16 hex chars (64 bits — collision odds over the 100x
    slice's 560M grams ~1e-2 for a single off-by-one count, and the
    oracle truncates identically so the engines cannot diverge), which
    halves the staged bytes and the join shuffle; the eval side rides
    a LEFT SEMI join instead of distinct+inner — same rows, one less
    exchange. 100x wall 15.2 s -> ~11 s, sf0.1 1.42 -> ~0.8 s."""
    from lswms_forage_etl_spark.functions.text import ngram_array
    from lswms_forage_etl_spark.operators.dedup import _spread
    kh = key_hex_chars or EVAL_OVERLAP_KEY_HEX
    docs = _t(spark, sf, "documents")
    toks = F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                    lambda t: t != "")
    split = (F.expr("substring(source, 4)").cast("int") % 2).alias("split")
    # _spread: the gram/md5 build is expression-heavy over unsplittable
    # single-row-group parquet. stage_table: the gram table feeds BOTH
    # split sides — unpersisted, each side re-tokenizes everything, and
    # the exploded side's parquet-size estimate is the round-5
    # stats-blind-broadcast hazard (eval grams are corpus-scale at
    # 100 TB, not catalog-scale; the eager cache gives the join planner
    # the real size).
    grams = stage_table(_spread(docs).select(
        "doc_id", split,
        F.explode(F.array_distinct(
            F.transform(ngram_array(toks, 8),
                        lambda g: F.substring(F.md5(g), 1, kh))))
        .alias("gfp")))
    ev = grams.where(F.col("split") == 1).select("gfp")
    return (grams.where(F.col("split") == 0)
            .join(ev, "gfp", "semi")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_shared_ngrams")))


def _eval_overlap_sql(key_hex_chars: int) -> str:
    """text_eval_overlap oracle, parameterized on the gram-key width so
    it tracks `EVAL_OVERLAP_KEY_HEX` (and so tests can pin Spark/DuckDB
    parity at the widened 32-char setting too)."""
    return rf"""
        WITH t AS (
          SELECT doc_id,
                 CAST(substring(source, 4) AS INT) % 2 AS split,
                 list_filter(string_split_regex(trim(lower(text)), '\s+'),
                             x -> x <> '') AS toks
          FROM documents),
        g AS (
          SELECT doc_id, split, unnest(list_distinct(
                 CASE WHEN len(toks) >= 8 THEN
                   list_transform(range(0, len(toks) - 7),
                     i -> substring(md5(array_to_string(
                            toks[CAST(i + 1 AS INT):CAST(i + 8 AS INT)],
                            ' ')), 1, {key_hex_chars}))
                 ELSE [] END)) AS gfp
          FROM t),
        ev AS (SELECT DISTINCT gfp FROM g WHERE split = 1)
        SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_shared_ngrams
        FROM g JOIN ev USING (gfp)
        WHERE g.split = 0
        GROUP BY g.doc_id
    """


@query(headline=True)
def q_dedup_bloom_probe(spark, sf):
    """Bloom-prefiltered incremental exact dedup: sources src15+ are the
    new batch; the existing corpus's fingerprint Bloom table (codegen
    bit_or aggregation, ~1000x smaller than the fp index) prunes the
    batch before the exact fingerprint join. The filter is a pure
    pruning layer — no false negatives, false positives removed by the
    verify — so the output equals the plain join and the oracle is
    plain SQL. Graded as the FULL probe report (emit_all: one row per
    new-batch doc, nullable id_existing + is_dup) — the hits-only form
    was trivially empty at the gate sf (sf0.01 has zero exact-dup
    texts; caught by the round-11 non-triviality gate)."""
    from lswms_forage_etl_spark.operators.dedup import (
        bloom_incremental_dedup)
    docs = _t(spark, sf, "documents")
    return bloom_incremental_dedup(
        docs, F.expr("cast(substring(source, 4) as int) >= 15"),
        emit_all=True)


@query()
def q_sample_split(spark, sf):
    """Deterministic train/val/test split (90/5/5): each doc's md5 u32
    falls into cumulative-fraction buckets — an exact pure function of
    the key, so assignments survive retries, repartitioning, engine
    swaps and corpus growth (docs keep their split as data arrives).
    Scan-side CASE expression; no shuffle, no sampling pass."""
    from lswms_forage_etl_spark.operators.sampling import assign_splits
    docs = _t(spark, sf, "documents").select("doc_id", "lang")
    return assign_splits(
        docs, {"train": 0.9, "val": 0.05, "test": 0.05})


@query()
def q_corpus_mix(spark, sf):
    """Pile/Dolma-style source reweighting: deterministic up/down-sampling
    to hit per-language mix weights (en 1.5x, de 2.25x, fr 0.5x, rest
    1x). E[copies] = weight exactly; md5-threshold decisions make the
    copy set reproducible across engines, retries and partitionings."""
    from lswms_forage_etl_spark.operators.sampling import corpus_mix
    docs = _t(spark, sf, "documents").select("doc_id", "lang", "source")
    return corpus_mix(docs, "lang", {"en": 1.5, "de": 2.25, "fr": 0.5},
                      "doc_id")


@query()
def q_corpus_vocab(spark, sf):
    """Corpus vocabulary report: top-100 tokens by document frequency
    (ties broken by token). Two-phase aggregation is the skew story: the
    first shuffle keys on (doc_id, token) — uniform even when one token
    appears in every document — and the second combines map-side, so
    'the' never concentrates on one reducer as a count-distinct would."""
    docs = _t(spark, sf, "documents")
    toks = F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                    lambda t: t != "")
    per_doc = (docs.select("doc_id", F.explode(toks).alias("token"))
               .groupBy("doc_id", "token")
               .agg(F.count(F.lit(1)).alias("_nl")))
    return (per_doc.groupBy("token")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("_nl").cast("long").alias("n_occurrences"))
            .orderBy(F.desc("n_docs"), F.asc("token"))
            .limit(100))


@query(headline=True)
def q_events_funnel(spark, sf):
    """Ordered conversion funnel (view -> click -> purchase): each step
    is reached only STRICTLY AFTER the previous step's reach time.
    Every stage filters events to one type BEFORE joining (pushdown),
    joins shuffle on the uniform user key, and reach tables shrink
    monotonically — no full-stream window, no collect. Conversion is
    exact-integer ppm (BIGINT div), no float contract."""
    from lswms_forage_etl_spark.operators.funnels import funnel_summary
    return funnel_summary(_events(spark, sf),
                          ["view", "click", "purchase"])


@query()
def q_events_retention(spark, sf):
    """Weekly cohort retention matrix: cohort = ISO week of each user's
    first event; one row per (cohort_week, week_offset) with distinct
    active users and exact-ppm retention vs the cohort size (broadcast
    join — cohort count is bounded by the calendar, not by users)."""
    from lswms_forage_etl_spark.operators.funnels import cohort_retention
    return cohort_retention(_events(spark, sf))


@query()
def q_agg_pivot_events(spark, sf):
    """Daily event-type pivot with an EXPLICIT value list — the implicit
    form runs a distinct scan over the corpus first to discover pivot
    columns; declaring them keeps this one groupBy at any scale."""
    from lswms_forage_etl_spark.operators.funnels import pivot_event_counts
    return pivot_event_counts(
        _events(spark, sf),
        ["click", "error", "purchase", "signup", "view"])


@query()
def q_agg_unpivot(spark, sf):
    """UNPIVOT (melt) — the inverse of agg_pivot_events: the wide daily
    per-type count table back to (day, event_type, n_events) rows via
    one stack() projection. Zero extra shuffle beyond the pivot's
    groupBy; lossless (zero counts kept), so pivot∘unpivot
    round-trips."""
    from lswms_forage_etl_spark.operators.funnels import (
        pivot_event_counts, unpivot_counts)
    types = ["click", "error", "purchase", "signup", "view"]
    return unpivot_counts(
        pivot_event_counts(_events(spark, sf), types), "day", types)


@query(headline=True)
def q_events_markov(spark, sf):
    """First-order Markov transition matrix over per-user event
    streams: one lag window on the uniform user key + one bounded
    (|types|^2) aggregation; row-normalized transition probabilities
    in exact ppm. The user-journey summary next to funnels (fixed
    path) and association rules (order-free sessions)."""
    from lswms_forage_etl_spark.operators.funnels import (
        markov_transitions)
    return markov_transitions(_events(spark, sf))


@query(headline=True)
def q_text_source_divergence(spark, sf):
    """Distribution-shift monitor: per source, the total-variation
    distance between the source's token distribution and the corpus
    distribution in exact parts-per-billion — the domain-mix drift
    gate a training pipeline runs per ingest batch. Absent-token mass
    folds into one corpus constant (no |groups| x |vocab| grid); both
    distributions ppb-quantized by BIGINT floor division so the oracle
    replays every integer."""
    from lswms_forage_etl_spark.operators.quality import (
        source_divergence)
    return source_divergence(_t(spark, sf, "documents"))


@query(headline=True)
def q_text_textrank(spark, sf):
    """TextRank keyword ranking: 10 fixed-point iterations of damped
    PageRank over the adjacent-token co-occurrence graph, vocab-capped
    at 24 nodes. All arithmetic is BIGINT (quantized transition probs,
    exact integer sums), so the iterative result is bit-stable under
    any partitioning and the oracle replays the identical recurrence as
    10 unrolled CTEs. Corpus-scale work = two single-shuffle
    aggregations; the iterations run on the persisted <=V^2 transition
    table, independent of corpus size."""
    from lswms_forage_etl_spark.operators.graphrank import textrank_tokens
    return textrank_tokens(_t(spark, sf, "documents"),
                           vocab_size=24, iterations=10)


@query(headline=True)
def q_text_phrase_search(spark, sf):
    """Exact phrase query ('hash join') via positional-posting
    intersection: postings filtered to the phrase terms inside the
    tokenize scan (one corpus pass, persisted), then one semi join per
    additional term on the uniform (doc, pos) key. Returns matching
    docs with occurrence counts and the first 0-based token position."""
    from lswms_forage_etl_spark.operators.retrieval import phrase_search
    return phrase_search(_t(spark, sf, "documents"), ["hash", "join"])


@query(headline=True)
def q_text_collocations(spark, sf):
    """Collocation detection: ordered adjacent bigrams scored by the
    exact-integer Dice coefficient (ppm). The bigram tail is pruned by
    min count BEFORE the unigram joins — at corpus scale the tail IS
    the bigram table; the token-key joins are the documented AQE
    skew-split site."""
    from lswms_forage_etl_spark.operators.graphrank import (
        collocations_dice)
    return collocations_dice(_t(spark, sf, "documents"),
                             min_pair_count=20)


@query()
def q_text_char_diversity(spark, sf):
    """Character-collision (Simpson) index per doc as exact-integer
    ppm — the distribution-based gibberish gate (a 'aaaa...' doc
    collides near 1e6, natural text near 1/alphabet). No log(), no
    float contract; one explode + two-phase aggregation on the uniform
    (doc, char) key."""
    from lswms_forage_etl_spark.operators.graphrank import char_diversity
    return char_diversity(_t(spark, sf, "documents"))


@query(headline=True)
def q_join_multiway_topk(spark, sf):
    """TPC-H Q3-shaped three-table star join: filtered customer
    dimension BROADCAST into orders, the orders-lineitem join shuffling
    on the uniform orderkey, both fact filters pushed to the scans, and
    the final top-10 as TakeOrdered (never a full sort). Revenue is the
    exact scaled-BIGINT sum convention (floor at 1e4, one final
    division)."""
    cust = (_t(spark, sf, "customer")
            .where(F.col("c_mktsegment") == "BUILDING")
            .select("c_custkey"))
    orders = (_t(spark, sf, "orders")
              .where(F.col("o_orderdate").cast("date")
                     < F.lit("1996-06-01"))
              .select("o_orderkey", "o_custkey",
                      F.col("o_orderdate").cast("date")
                      .alias("o_orderdate"), "o_orderpriority"))
    li = (_t(spark, sf, "lineitem")
          .where(F.col("l_shipdate").cast("date") > F.lit("1996-06-01"))
          .select("l_orderkey",
                  F.floor(F.col("l_extendedprice")
                          * (1 - F.col("l_discount")) * 10000 + 0.5)
                  .cast("long").alias("r4")))
    j = (orders.join(F.broadcast(cust),
                     orders.o_custkey == cust.c_custkey)
         .join(li, li.l_orderkey == orders.o_orderkey))
    return (j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg((F.sum("r4") / 10000.0).alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
            .limit(10)
            .select("l_orderkey", "revenue", "o_orderdate",
                    "o_orderpriority"))


@query(headline=True)
def q_sketch_hll_sliding(spark, sf):
    """7-day sliding distinct users via HLL register MERGE: each day
    is sketched once, registers explode to the W window-ends they
    serve and max-merge per (window_end, bucket) — the mergeability
    property that makes sketches the at-scale answer to sliding
    count-distinct (the exact form re-touches every raw row W times).
    Register table, harmonic sum, and estimate all oracle-replayed."""
    from lswms_forage_etl_spark.operators.sketches import (
        hll_sliding_distinct)
    ev = _events(spark, sf)
    out = hll_sliding_distinct(ev, "user_id", F.col("ts"),
                               window_days=7, p=8)
    return out.select("window_end", "n_zero_regs", "hll_sum48",
                      portable_round(F.col("hll_est"), 4).alias("hll_est"))


@query(headline=True)
def q_sketch_quantile_bins(spark, sf):
    """Mergeable fixed-width-bin quantile sketch (the deterministic
    cousin of KLL/t-digest): histogram state merges by sum, the rank
    cut runs over the bounded bin table with exact-ppm integer rank
    arithmetic, and the p50/p90/p99 bin edges hash-match the oracle's
    identical replay. Error bound = one bin width ($100 here)."""
    from lswms_forage_etl_spark.operators.sketches import binned_quantiles
    li = _t(spark, sf, "lineitem")
    return binned_quantiles(li, F.col("l_extendedprice"),
                            ["l_returnflag"],
                            [500000, 900000, 990000], bin_width=100)


@query()
def q_events_anomaly(spark, sf):
    """Trailing-window z-score anomaly flags on daily event counts,
    evaluated with cleared denominators — (m*x-s)^2 > sigma^2 *
    (m*sxx - s^2) — so the flag is pure BIGINT comparison (no sqrt,
    no division, no float contract). The window runs over the daily
    aggregate, never raw events."""
    from lswms_forage_etl_spark.operators.funnels import anomaly_flags
    return anomaly_flags(_events(spark, sf), sigma=2, trailing_days=7)


@query()
def q_join_outer_full(spark, sf):
    """Full-outer join completeness: BUILDING-segment customers vs
    per-customer order counts — rows survive from EITHER side, keys
    coalesced, presence flagged. At scale a full outer cannot
    broadcast (both sides must shuffle); the orderkey agg side is
    pre-aggregated so the join runs on the shrunken key table."""
    cust = (_t(spark, sf, "customer")
            .where(F.col("c_mktsegment") == "BUILDING")
            .select("c_custkey",
                    portable_round(F.col("c_acctbal"), 2).alias("acctbal")))
    oc = (_t(spark, sf, "orders")
          .groupBy(F.col("o_custkey").alias("c_custkey"))
          .agg(F.count(F.lit(1)).alias("n_orders")))
    j = cust.join(oc, "c_custkey", "full_outer")
    return j.select(
        "c_custkey",
        F.col("acctbal").alias("acctbal"),
        F.coalesce(F.col("n_orders"), F.lit(0)).cast("long")
        .alias("n_orders"),
        F.col("acctbal").isNotNull().alias("in_segment"),
        (F.col("n_orders").isNotNull()).alias("has_orders"))


@query()
def q_agg_grouping_sets(spark, sf):
    """Arbitrary GROUPING SETS (beyond rollup/cube): per-returnflag,
    per-linestatus, and grand-total aggregates in ONE pass — Spark
    expands to a single expand+shuffle, not three scans. grouping_id
    disambiguates the null-key rows from genuine NULLs."""
    li = _t(spark, sf, "lineitem")
    li.select("l_returnflag", "l_linestatus", "l_quantity") \
      .createOrReplaceTempView("_gs_li")
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS INT)
                 AS gid,
               count(*) AS n,
               CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS qty100
        FROM _gs_li
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """)


@query()
def q_window_ntile_rank(spark, sf):
    """Ranking-window completeness: ntile quartiles, percent_rank and
    cume_dist per group over a total (tie-broken) order. percent_rank
    = (rank-1)/(n-1) is an exact small-integer ratio — portable-rounded
    on both sides anyway for the hash contract."""
    li = (_t(spark, sf, "lineitem")
          .where(F.col("l_orderkey") % 100 == 0)
          .select("l_orderkey", "l_linenumber", "l_returnflag",
                  "l_extendedprice"))
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("l_extendedprice").asc(), F.col("l_orderkey").asc(),
        F.col("l_linenumber").asc())
    return li.select(
        "l_returnflag", "l_orderkey", "l_linenumber",
        F.ntile(4).over(w).alias("quartile"),
        portable_round(F.percent_rank().over(w), 9).alias("pct_rank"),
        portable_round(F.cume_dist().over(w), 9).alias("cume"))


@query()
def q_join_fuzzy_tokens(spark, sf):
    """Edit-distance-1 typo pairs over the corpus vocabulary — fuzzy
    self-join with LENGTH BLOCKING: levenshtein(a,b) <= 1 requires
    ||a|-|b|| <= 1, so each token joins only its own and adjacent
    length blocks (bounded candidates), and the exact integer distance
    filters inside the block join. levenshtein is the classic DP in
    both engines — deterministic integers, oracle-matched. Runs over
    the part-name vocabulary (the documents vocab has no distance-1
    pairs — this one does: cold/old, red/rod)."""
    parts = _t(spark, sf, "part")
    toks = F.filter(F.split(F.lower(F.trim(F.col("p_name"))), r"\s+"),
                    lambda t: t != "")
    vocab = (parts.select(F.explode(toks).alias("token"))
             .groupBy("token").agg(F.count(F.lit(1)).alias("c")))
    vocab = stage_table(vocab)
    a = vocab.select(F.col("token").alias("tok_a"),
                     F.col("c").alias("ca"),
                     F.length("token").alias("la"))
    # explode each right-side token to the length blocks it can match
    b = (vocab.select(F.col("token").alias("tok_b"),
                      F.col("c").alias("cb"),
                      F.length("token").alias("lb"))
         .select("tok_b", "cb",
                 F.explode(F.array(F.col("lb") - 1, F.col("lb"),
                                   F.col("lb") + 1)).alias("la")))
    j = (a.join(b, "la")
         .where((F.col("tok_a") < F.col("tok_b"))
                & (F.levenshtein("tok_a", "tok_b") <= 1)))
    return j.select("tok_a", "tok_b", "ca", "cb")


@query(headline=True)
def q_quality_audit(spark, sf):
    """Warehouse data-quality audit: FK orphans (left-anti joins on
    natural keys), key uniqueness, domain and null checks — ONE bounded
    metrics row per check. Each check is a single-row aggregate; the
    union is bounded by the checklist, never by the data."""
    from lswms_forage_etl_spark.operators.quality import referential_audit
    tables = {n: _t(spark, sf, n)
              for n in ["orders", "customer", "lineitem", "part",
                        "nation", "documents", "events"]}
    return referential_audit(tables)


@query()
def q_scalar_clip_outliers(spark, sf):
    """Per-group winsorization at sketch quantiles (p1/p99 bin edges
    from the mergeable binned sketch, broadcast back — one row per
    group): the standard robust-scaling pass, fully deterministic
    because the clip edges are bin-quantized integers."""
    from lswms_forage_etl_spark.operators.sketches import winsorize
    li = _t(spark, sf, "lineitem")
    out = winsorize(li.select("l_orderkey", "l_linenumber",
                              "l_returnflag", "l_extendedprice"),
                    "l_extendedprice", ["l_returnflag"],
                    lo_ppm=10000, hi_ppm=990000, bin_width=100)
    return out.select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        portable_round(F.col("l_extendedprice_clipped"), 2)
        .alias("price_clipped"))


@query(headline=True)
def q_events_assoc_rules(spark, sf):
    """Market-basket association rules over 30-min sessions: support /
    confidence / lift for ordered event-type pairs co-present in a
    session, all exact-integer ppm (lift = two-step floor — no float).
    The session item sets are one distinct with bounded per-session
    fan (the type alphabet), so the pair self-join cannot blow up."""
    from lswms_forage_etl_spark.operators.funnels import (
        session_assoc_rules)
    return session_assoc_rules(_events(spark, sf), gap_minutes=30,
                               min_pair_sessions=2)


@query(headline=True)
def q_text_bigram_novelty(spark, sf):
    """Bigram-novelty quality gate (the count-based stand-in for LM
    perplexity filtering): exact-ppm fraction of each doc's bigram
    occurrences whose corpus count <= 25. Doc bigrams and the corpus
    count table join on the uniform (a, b) key; the bigram table is
    persisted once for its two consumers."""
    from lswms_forage_etl_spark.operators.graphrank import bigram_novelty
    return bigram_novelty(_t(spark, sf, "documents"), rare_threshold=25)


@query(headline=True)
def q_graph_triangles(spark, sf):
    """Triangle census + global clustering coefficient of the token
    co-occurrence graph via the ORIENTED-EDGE recipe (edges point
    degree-ascending, so wedge fan is bounded by sqrt(2|E|) per node
    — the standard at-scale triangle join). All counts integer; the
    oracle counts triangles with a direct a<b<c triple join, so an
    orientation bug cannot hide."""
    from lswms_forage_etl_spark.operators.graphrank import (
        token_triangle_stats)
    return token_triangle_stats(_t(spark, sf, "documents"))


@query()
def q_ann_dim_standardize(spark, sf):
    """Per-dimension z-score standardization of the embedding matrix:
    exact int64 moments per dim (quantized components), one IEEE
    sqrt/division at the end — bit-identical across engines, checked
    at 6 dp. One posexplode + a 64-row broadcast of the stats."""
    from lswms_forage_etl_spark.operators.similarity import (
        standardize_dims)
    out = standardize_dims(_t(spark, sf, "embeddings"))
    return out.select("vec_id", "dim", portable_round(F.col("z"), 6).alias("z"))


@query()
def q_events_attribution(spark, sf):
    """Interval attribution join (batch run of the stream-stream
    operator in streaming/joins.py): every purchase attributed to the
    same user's views within the preceding 30 minutes. The identical
    plan runs watermarked stream-stream — state bounded by window +
    watermark (tests/test_streaming_joins.py)."""
    from lswms_forage_etl_spark.streaming.joins import (
        interval_attribution_join)
    ev = _events(spark, sf)
    return interval_attribution_join(
        ev.where(F.col("event_type") == "view"),
        ev.where(F.col("event_type") == "purchase"),
        window_minutes=30)


@query(headline=True)
def q_events_attr_last(spark, sf):
    """LAST-TOUCH attribution — the whale-safe scale path next to the
    pair-level interval join: one merged per-user timeline, a running
    last-impression window scan, output bounded by |conversions|
    (measured on the whale slice: 0.62 s / 39k rows vs the pair
    join's 20.4 s / 1.07M — the pair fan is quadratic per user by
    semantics, this is O(n log n))."""
    from lswms_forage_etl_spark.streaming.joins import (
        last_touch_attribution)
    ev = _events(spark, sf)
    return last_touch_attribution(
        ev.where(F.col("event_type") == "view"),
        ev.where(F.col("event_type") == "purchase"),
        window_minutes=30)


@query(headline=True)
def q_events_attr_topk(spark, sf):
    """BOUNDED pair attribution (VERDICT r11 item 6): each purchase
    gets its up-to-3 most recent in-window views with a recency rank —
    the whale-safe pair form. No interval join: impressions are
    per-user sequence-numbered, each conversion explodes to its last-3
    seq range and equi-joins back on (user_id, seq), so output is
    bounded by 3|conversions| and a whale user's pairs spread across
    partitions on the composite key (measured on the 20%-whale slice:
    within 2x of the uniform baseline where the unbounded pair join
    was 27x over it)."""
    from lswms_forage_etl_spark.streaming.joins import (
        interval_attribution_topk)
    ev = _events(spark, sf)
    return interval_attribution_topk(
        ev.where(F.col("event_type") == "view"),
        ev.where(F.col("event_type") == "purchase"),
        k=3, window_minutes=30)


@query()
def q_events_twap(spark, sf):
    """Per (user, day) TIME-WEIGHTED average value: each observation
    weighted by the whole seconds it stayed current (last one holds to
    midnight). Quantized values x integer second weights, one BIGINT
    division — no float accumulation."""
    from lswms_forage_etl_spark.operators.timeseries import (
        time_weighted_daily)
    return time_weighted_daily(_events(spark, sf))


@query()
def q_events_resample_ffill(spark, sf):
    """Daily-grid resample with forward fill: every user gets a row per
    calendar day (users x sequence explode, never a cross join through
    raw events), carrying the last observed quantized value across
    silent days via a last-ignoring-nulls window."""
    from lswms_forage_etl_spark.operators.timeseries import (
        resample_ffill_daily)
    return resample_ffill_daily(_events(spark, sf),
                                dt.date(2024, 1, 1), dt.date(2024, 1, 30))


@query()
def q_set_bag_ops(spark, sf):
    """Bag-semantics set operations (INTERSECT ALL / EXCEPT ALL):
    multiset part-key overlap between the 1996 and 1997 ship years —
    duplicates survive with min/difference multiplicity, the semantics
    DISTINCT-based set ops lose."""
    li = _t(spark, sf, "lineitem")
    a = (li.where(F.year("l_shipdate") == 1996).select("l_partkey"))
    b = (li.where(F.year("l_shipdate") == 1997).select("l_partkey"))
    return (a.intersectAll(b)
            .select(F.lit("intersect").alias("op"), "l_partkey")
            .unionByName(
                a.exceptAll(b)
                .select(F.lit("except").alias("op"), "l_partkey")))


@query(headline=True)
def q_graph_bfs_hops(spark, sf):
    """BFS hop distance from 'join' over the token co-occurrence
    graph — the iterative-frontier family next to PageRank, checked
    against a DuckDB RECURSIVE CTE (the engine expresses recursion as
    a gated driver walk / distributed frontier loop)."""
    from lswms_forage_etl_spark.operators.graphrank import (
        adjacent_token_pairs, bfs_hops)
    pairs = adjacent_token_pairs(_t(spark, sf, "documents")).distinct()
    return bfs_hops(pairs, "join", max_hops=10)


@query()
def q_events_scd2(spark, sf):
    """SCD type-2 historization: each user's value stream collapsed to
    validity intervals [valid_from, valid_to) at (quantized) value
    changes, open-ended current row flagged — the warehouse upsert-
    history primitive, two windows on one user-key shuffle."""
    from lswms_forage_etl_spark.operators.timeseries import scd2_history
    return scd2_history(_events(spark, sf))


@query(headline=True)
def q_text_tokens_bpe(spark, sf):
    """Subword (BPE-style) token accounting: per-doc greedy
    longest-match subword count over the engine's fixed vocab
    (functions/bpe.py), next to the whitespace word count and their
    ratio — the number that shows why whitespace budgeting mis-sizes
    training data (ratio ~3x on this corpus; divergence pinned by
    tests/test_bpe.py). One Arrow pass, zero shuffles; the oracle
    replays the identical maximal munch with a recursive CTE."""
    from lswms_forage_etl_spark.functions.bpe import subword_count_udf
    from lswms_forage_etl_spark.operators.dedup import _spread
    c = subword_count_udf()
    d = _spread(_t(spark, sf, "documents").select("doc_id", "text"))
    return (d.select("doc_id",
                     T.token_count("text").alias("n_words"),
                     c(F.col("text")).alias("n_bpe"))
            .where(F.col("n_words") > 0)
            .select("doc_id", "n_words", "n_bpe",
                    portable_round(F.col("n_bpe") / F.col("n_words"), 4)
                    .alias("bpe_ratio")))


@query()
def q_sample_token_budget_bpe(spark, sf):
    """Per-language token budgets denominated in SUBWORD tokens — the
    unit training actually buys — instead of whitespace words (same
    deterministic hash-order fill + 4-way shard split as
    sample_token_budget; budgets scaled ~3x for the subword/word
    ratio). Same operator, different accounting column: the point of
    making token counting pluggable."""
    from lswms_forage_etl_spark.functions.bpe import subword_count_udf
    from lswms_forage_etl_spark.operators.dedup import _spread
    c = subword_count_udf()
    d = (_spread(_t(spark, sf, "documents")
                 .select("doc_id", "lang", "text"))
         .select("doc_id", "lang", c(F.col("text")).alias("n_tok")))
    out = token_budget_sample(d, "lang", "n_tok",
                              budgets={"en": 60000, "de": 25000},
                              key_col="doc_id", default_budget=12000,
                              n_shards=4)
    return out.select("doc_id", "lang", "shard",
                      F.col("n_tokens").alias("n_bpe_tokens"))


@query()
def q_pack_sequences_bpe(spark, sf):
    """Sequence packing denominated in SUBWORD tokens: the pack
    boundaries a dataloader actually needs fall at model-token
    positions, not whitespace-word positions (a 256-word pack is ~3x a
    256-subword context window — the mis-sizing VERDICT r10 missing #1
    names). Same pack_sequences operator, 512-subword packs, counts
    from one Arrow munch pass; oracle replays counts via the recursive
    CTE and the window math verbatim."""
    from lswms_forage_etl_spark.functions.bpe import subword_count_udf
    from lswms_forage_etl_spark.operators.dedup import _spread
    c = subword_count_udf()
    d = (_spread(_t(spark, sf, "documents").select("doc_id", "text"))
         .select("doc_id", c(F.col("text")).alias("n_tok")))
    return pack_sequences(d, "n_tok", budget=512, key_col="doc_id",
                          n_shards=4)


@query(headline=True)
def q_corpus_bpe_train(spark, sf):
    """Distributed BPE merge TRAINING: learn the corpus's top-6 merges
    (Sennrich BPE over the distinct-word frequency table) entirely as
    JVM string algebra — each word a '||'-separated symbol string, one
    GREEDY merge step = one non-overlapping left-to-right replace of
    '|a||b|' (the double separator makes adjacent occurrences disjoint,
    so the replace IS the positional greedy merge). No UDF, no collect,
    no driver loop state; the oracle unrolls the same 6 iterations as a
    CTE chain and the two engines (plus a greedy Python reference)
    agree merge-for-merge (tests/test_bpe.py)."""
    from lswms_forage_etl_spark.functions.bpe import bpe_train_merges
    return bpe_train_merges(_t(spark, sf, "documents"), k=6)


@query(headline=True)
def q_corpus_bpe_train_scaled(spark, sf):
    """BPE training at REAL merge counts (VERDICT r11 item 1): the
    distributed per-iteration plan is right for small k but cannot
    chain 30k+ staged Spark jobs, so the scale path collects the
    vocabulary-bound distinct-word frequency table (deterministic
    top-1M cap — the models/gwr.py bounded-sample precedent) and runs
    the Sennrich merge loop driver-side with incremental pair
    bookkeeping (lazy-invalidation heap: O(touched words)/iteration;
    k=1024 over the 100x slice is seconds — SCALE.md round-12 ladder).
    Graded at k=32 against the unrolled 32-iteration CTE oracle: the
    driver loop shares the distributed plan's exact count/tie-break/
    greedy-merge convention, so ANY k-prefix hash-matches; pytest pins
    driver==distributed==oracle==naive-reference agreement."""
    from lswms_forage_etl_spark.functions.bpe import bpe_train_scaled
    return bpe_train_scaled(spark, _t(spark, sf, "documents"), k=32)


@query()
def q_corpus_bpe_encode(spark, sf):
    """BPE ENCODE under learned merges: train k=6 in-plan, then read
    out the final word table (word, n, n_tokens) — what the corpus
    tokenizes to under the learned vocab. Pure JVM string algebra end
    to end (the encode IS the training loop's final state; per-doc
    encoding with a trained-merge list at k>=1024 is the Arrow-batched
    `bpe_encode_count_udf`, pinned by pytest to this same state)."""
    from lswms_forage_etl_spark.functions.bpe import bpe_encoded_words
    return bpe_encoded_words(_t(spark, sf, "documents"), k=6)


LM_TRAIN_SOURCES = ["src0", "src1", "src2", "src3"]
"""Reference slice for the CCNet-style LM filter (the 'Wikipedia'
stand-in): ~20% of the corpus, every language represented."""

DSIR_TARGET_SOURCES = ["src0", "src1"]
"""Target-domain slice for DSIR importance weighting."""


@query(headline=True)
def q_text_perplexity_bucket(spark, sf):
    """CCNet-style perplexity filter (Wenzek et al. 2020): per-language
    bigram LM trained on the LM_TRAIN_SOURCES reference slice, every
    doc scored by average surprisal in EXACT whole-bit log2 units
    (bitlen arithmetic — no float contract), bucketed head/middle/tail
    per language. Counts table vocab^2-bounded and staged once for its
    four consumers; corpus stream joins two bounded broadcast lookups;
    one doc-key shuffle + the per-lang ntile window (at 100 TB the
    bucketing swaps to sketched thresholds; exact rank is the graded
    form)."""
    from lswms_forage_etl_spark.operators.lm import bigram_lm_surprisal
    return bigram_lm_surprisal(_t(spark, sf, "documents"),
                               LM_TRAIN_SOURCES)


@query(headline=True)
def q_text_perplexity_scaled(spark, sf):
    """The 100 TB form of the CCNet bucketing: same exact-integer
    surprisal scores as text_perplexity_bucket, but tertile THRESHOLDS
    come from the mergeable binned-quantile sketch (exact-ppm rank
    cuts over 50000-micro-bit bins) and docs bucket by a broadcast
    threshold compare — no per-language global sort anywhere. Closes
    the scale caveat the exact-ntile form documents."""
    from lswms_forage_etl_spark.operators.lm import (
        bigram_lm_surprisal_scaled)
    return bigram_lm_surprisal_scaled(_t(spark, sf, "documents"),
                                      LM_TRAIN_SOURCES)


@query(headline=True)
def q_text_perplexity_kn(spark, sf):
    """Trigram KNESER-NEY perplexity scoring — the higher-fidelity LM
    filter (CCNet's recipe uses 5-gram KenLM; this is the order-3
    member in the exact whole-bit integer convention): backoff KN with
    integer discount D=1 and TYPE (continuation) counts at the lower
    orders, every score exact int arithmetic. The trigram count table
    is train-slice-bounded and staged once for its five derived
    lookups; the corpus trigram stream left-joins bounded broadcast-
    eligible tables and aggregates per doc — one doc-key shuffle, no
    global sort."""
    from lswms_forage_etl_spark.operators.lm import trigram_kn_surprisal
    return trigram_kn_surprisal(_t(spark, sf, "documents"),
                                LM_TRAIN_SOURCES)


@query(headline=True)
def q_text_perplexity_kn5(spark, sf):
    """5-gram KNESER-NEY perplexity scoring (round 14, VERDICT r13
    next #4) — the order the CCNet recipe actually names (Wenzek et
    al. score with 5-gram KenLM): backoff KN, integer discount D=1,
    TYPE counts at orders 4/3/2/1 each derived from the next order's
    distinct-type table (the standard KN estimation recursion), all
    in exact whole-bit integers. One staged train-slice-bounded c5
    table + nine bounded derived lookups; corpus 5-gram stream
    left-joins them and aggregates per doc — one doc-key shuffle,
    same plan family as text_perplexity_kn."""
    from lswms_forage_etl_spark.operators.lm import fivegram_kn_surprisal
    return fivegram_kn_surprisal(_t(spark, sf, "documents"),
                                 LM_TRAIN_SOURCES)


@query(headline=True)
def q_ann_recall_at_k(spark, sf):
    """ANN RECALL ACCOUNTING (VERDICT r12 missing #4): the number a
    user tuning nprobe/planes actually needs — for each approximate
    method (hyperplane-LSH, IVF nprobe=4, PQ ADC, and the round-14
    shortlist-re-rank methods lsh_hr / pq_rr) the exact-ppm recall@k
    against the ann_bruteforce_topk ground truth, at k = 1/5/10.
    Pure joins + window ranks over already-graded 10-row result
    lists (the global windows run on <=10 rows — bounded by
    construction); recall@k = |approx top-k ∩ true top-k| / k in
    exact integer ppm. The table now shows the baseline -> re-rank
    lift in one place (lsh 0.2 -> lsh_hr 1.0, pq 0.2 -> pq_rr 1.0 at
    k=10 on sf0.01)."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import Window
    from lswms_forage_etl_spark.lifecycle import await_staged, stage_table
    from lswms_forage_etl_spark.operators.similarity import (
        ivf_probe_lists, lsh_hamming_topk, pq_adc_topk,
        pq_train_codebook_dist)
    # r15 optimization (guide §1.2 step 1 — don't compute things
    # twice): the six method sides used to call their q_ann_* wrappers,
    # each of which re-collected the query vector (`_query_vec` .first()
    # job x7) and — for pq_rr/ivfpq — re-ran the SAME 2-iteration
    # distributed codebook training (4 corpus jobs each). The sides now
    # inline the identical operator calls with ONE shared query vector
    # and ONE shared trained codebook; every side's computation (and the
    # graded result) is unchanged — training is deterministic, so cb is
    # bit-identical to what each wrapper derived. 18 jobs -> 11.
    #
    # r16 (guide §2.6 overlap independent jobs / VERDICT r15 item 2):
    # the remaining wall was SERIALIZED driver round-trips — qv job,
    # then the codebook chain (seed collect + 2 Lloyd collects), then
    # cents collect, then the two staging counts, each waiting on the
    # previous for no data reason. The chains {qv → truth staging},
    # {seed → Lloyd×2} and {cents → probe lists staging} are mutually
    # independent, so they now run on driver threads and the pre-work
    # wall is the LONGEST chain (the 3-job codebook training) instead
    # of the sum of all seven round-trips. Each chain's computation is
    # untouched — same jobs, same deterministic results, only submitted
    # concurrently (job descriptions are thread-local; lifecycle.track
    # appends are GIL-atomic).
    emb = _t(spark, sf, "embeddings")

    with ThreadPoolExecutor(max_workers=4) as pool:
        f_qv = pool.submit(_query_vec, spark, sf)
        f_cb = pool.submit(pq_train_codebook_dist, emb, iters=2, dim=64)
        # r15 batch 3: the ivf and ivfpq sides each trained the SAME 16
        # centroids (a collect job) and ran the SAME full-corpus Arrow
        # assignment pass, then filtered to the SAME probes=4 lists.
        # One shared staged `lists` table (ivf_probe_lists) feeds both
        # sides' three consumers (ivf brute-force scan, ivfpq ADC code
        # scan, ivfpq exact re-rank join) — assignments are
        # deterministic, so every side's graded rows are unchanged.
        f_lists = pool.submit(
            lambda: ivf_probe_lists(emb, f_qv.result(), 16, 4))
        # Stage the ground truth once (VERDICT r14 nit #2): the
        # brute-force scan is the expensive subtree here, and staging
        # pins it to one execution (plus real InMemoryRelation stats)
        # instead of letting plan reuse decide per consumer.
        f_truth = pool.submit(
            lambda: stage_table(brute_force_topk(emb, f_qv.result(),
                                                 k=10)))
        qv = f_qv.result()
        cb = f_cb.result()
        lists = f_lists.result()
        truth = f_truth.result()
    wt = Window.orderBy(F.col("cosine_sim").desc(), "vec_id")
    t = truth.select("vec_id", F.row_number().over(wt).alias("t_rk"))
    # r16 fused ranking (guide §2.4 remove shuffles / VERDICT r15
    # item 2): each side used to rank through its OWN global window —
    # six single-partition Exchanges in one plan. The five
    # cosine-ranked sides (every side that ends in the brute-force
    # re-rank contract) now union FIRST and rank through ONE window
    # partitioned by method with the IDENTICAL ordering spec
    # (cosine_sim desc, vec_id) — sides are row-disjoint by the method
    # tag, so per-partition row_number equals each side's old global
    # row_number exactly (no sort-key rewrite, no float tricks; pinned
    # by tests/test_ann_recall_fused.py). The adc-ranked pq side keeps
    # its own window — its ordering column differs.
    wc = Window.partitionBy("method").orderBy(
        F.col("cosine_sim").desc(), "vec_id")
    wp = Window.orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    cos_sides = [
        ("lsh", lsh_topk(emb, qv, k=10)),
        ("ivf", brute_force_topk(lists, qv, k=10)),
        ("lsh_hr", lsh_hamming_topk(emb, qv, k=10, num_planes=192,
                                    rerank_mult=5)),
        ("pq_rr", pq_adc_topk(emb, qv, k=10, codebook=cb,
                              rerank_mult=8)),
        ("ivfpq", pq_adc_topk(lists, qv, k=10, m=8, ks=16, codebook=cb,
                              rerank_mult=8)),
    ]
    cos_u = None
    for name, side in cos_sides:
        tagged = side.select(F.lit(name).alias("method"), "vec_id",
                             "cosine_sim")
        cos_u = tagged if cos_u is None else cos_u.unionByName(tagged)
    approx = (cos_u.select("method", "vec_id",
                           F.row_number().over(wc).alias("a_rk"))
              .unionByName(
                  pq_adc_topk(emb, qv, k=10).select(
                      F.lit("pq").alias("method"), "vec_id",
                      F.row_number().over(wp).alias("a_rk"))))
    # consumers of the staged tables fan out inside one action — make
    # sure their async counts landed so no consumer recomputes a cold
    # cache (they overlapped the codebook chain above, so this is free)
    await_staged(lists)
    await_staged(truth)
    j = (approx.join(t, "vec_id", "left")
         .withColumn("k", F.explode(F.array(
             F.lit(1), F.lit(5), F.lit(10)))))
    hit = F.when((F.col("a_rk") <= F.col("k"))
                 & (F.col("t_rk") <= F.col("k")), 1).otherwise(0)
    return (j.groupBy("method", "k")
            .agg(F.sum(hit).alias("n_hits"))
            .select("method", "k", "n_hits",
                    F.expr("n_hits * 1000000 div k").alias("recall_ppm")))


@query(headline=True)
def q_corpus_unigram_train(spark, sf):
    """Unigram-LM (SentencePiece-style) tokenizer TRAINING (VERDICT
    r12 missing #2) — the prune-down complement to BPE's merge-up:
    over-complete substring seed vocab (singles + top-64 multi-char),
    2 hard-EM rounds (Viterbi E-step under whole-bit integer costs,
    frequency-weighted usage M-step), pruning 12 lowest-usage pieces
    per round; output is the final vocab (piece, n_used, cost_bits)
    from one last E/M pass. Only the word-frequency aggregation is
    corpus-sized (top-1M capped collect — the bpe_train_scaled
    precedent); EM is per-DISTINCT-word and driver-side. The oracle
    replays the ENTIRE pruning sequence: seeded vocab, every Viterbi
    DP step (16-step materialized CTE chain, segmentation carried as
    a string), usage counts, and both prune rounds."""
    from lswms_forage_etl_spark.functions.unigram import (
        unigram_train_scaled)
    return unigram_train_scaled(spark, _t(spark, sf, "documents"),
                                seed_multi=64, rounds=2,
                                prune_per_round=12)


@query(headline=True)
def q_corpus_unigram_encode(spark, sf):
    """Distributed ENCODE under the trained unigram vocab: per-doc
    Viterbi token counts (min-cost segmentation — NOT greedy munch) in
    one Arrow pass with per-batch word memoization; words longer than
    the trainer's 16-char input filter count 1 token/char. (doc_id,
    n_tokens) for EVERY doc — empty docs are 0, so the output is
    non-trivial at any sf. No shuffle: the vocab cost table rides
    inside the UDF (vocabulary-bound)."""
    from lswms_forage_etl_spark.functions.bpe import bpe_word_frequencies
    from lswms_forage_etl_spark.functions.unigram import (
        unigram_encode_count_udf, unigram_train_driver)
    docs = _t(spark, sf, "documents")
    rows, _, t_bits = unigram_train_driver(
        bpe_word_frequencies(docs), seed_multi=64, rounds=2,
        prune_per_round=12)
    cnt = unigram_encode_count_udf(rows, t_bits)
    from lswms_forage_etl_spark.operators.dedup import _spread
    return (_spread(docs).select(
        "doc_id", cnt(F.col("text")).alias("n_tokens")))


@query()
def q_mm_scan_mp4(spark, sf):
    """MP4/ISO-BMFF container scan (VERDICT r12 missing #5): every 8
    documents synthesize one conformant single-track mp4 (ftyp + full
    moov sample-table plumbing + mdat; sources/mp4.py from-scratch twin
    encoder), and the from-scratch box walk emits (archive_id,
    box_path, box_offset, n_bytes) for all 19 boxes, nested paths
    included. The oracle replays every size and offset ARITHMETICALLY
    from per-archive (frame count, payload bytes) using the same
    _FIXED layout constants the encoder is built from. One groupBy
    shuffle (synthesis); the scan is an Arrow pass, no shuffle."""
    from lswms_forage_etl_spark.sources.mp4 import (
        scan_mp4_boxes, synth_mp4_media)
    return scan_mp4_boxes(synth_mp4_media(_t(spark, sf, "documents")))


@query()
def q_mm_mp4_frames(spark, sf):
    """REAL frame sampling from a real container (upgrades the
    synthetic-payload mm_frame_sample): per-sample timing from stts,
    sizes from stsz, payloads sliced by stco/stsc — every 5th frame's
    (frame_idx, dts, cts, duration, n_bytes, md5 fingerprint); no
    ctts in the progressive twin, so cts == dts. Same Arrow scan
    shape; at 100 TB this is the shard-local video decode feed."""
    from lswms_forage_etl_spark.sources.mp4 import (
        scan_mp4_frames, synth_mp4_media)
    return scan_mp4_frames(synth_mp4_media(_t(spark, sf, "documents")),
                           every_n=5)


@query(headline=True)
def q_mm_mp4_fragmented(spark, sf):
    """FRAGMENTED MP4 frame extraction (round 14, VERDICT r13 missing
    #4 — the streaming-delivery layout real crawled video ships in):
    the twin assembles moof/mdat fragments of 3 samples (moov carries
    only empty sample tables + mvex/trex), and the from-scratch
    moof/traf walk reads tfhd defaults, tfdt base decode times, and
    trun per-sample duration/size/SIGNED composition offsets — one
    row per sample with cts = dts + (idx mod 3) * duration by the
    twin's deterministic convention, which is exactly what the
    arithmetic oracle replays from the doc index. Same
    embarrassingly-parallel Arrow scan shape as mm_mp4_frames."""
    from lswms_forage_etl_spark.sources.mp4 import (
        scan_mp4_frames, synth_mp4_frag_media)
    return scan_mp4_frames(
        synth_mp4_frag_media(_t(spark, sf, "documents")))


@query(headline=True)
def q_text_quality_classifier(spark, sf):
    """fastText-style hashed linear quality classifier (Joulin et al.
    2017): unigram + adjacent-bigram features, md5-derived integer
    weights in [-1000, 1000], keep iff the exact integer score > 0.
    ZERO shuffles — weights are computed inline inside aggregate/
    zip_with HOFs, so a 100 TB corpus scores as a pure map over the
    scan (no weight table, no join, no agg)."""
    from lswms_forage_etl_spark.operators.lm import hashed_linear_quality
    return hashed_linear_quality(_t(spark, sf, "documents"))


@query(headline=True)
def q_mm_decode_gif(spark, sf):
    """REAL palette-format decode end-to-end (completes the image
    codec family: netpbm/BMP/PNG/JPEG/GIF): each document's first w*9
    text bytes become the INDEX raster of a spec-conformant GIF87a —
    real variable-width LZW (width growth + CLEAR resets), odd ids
    interlaced so the four-pass reorder runs — then the Arrow stage
    LZW-decodes, de-interlaces, and maps the non-degenerate color
    table (palette[i] = (i, 255-i, i^0x55)) for real. The oracle
    replays the decoded RGB mean from the same text bytes via the
    integer identity sum_rgb(i) = 255 + (i XOR 0x55), so an index-echo
    shortcut or any LZW/interlace defect hash-mismatches."""
    from lswms_forage_etl_spark.operators.multimodal import (
        decode_media, synth_gif_media)
    out = decode_media(synth_gif_media(_t(spark, sf, "documents")))
    return out.select(
        "media_id", "decoded_width", "decoded_height",
        portable_round(F.col("mean_intensity"), 9).alias("mean_intensity"))


@query(headline=True)
def q_mm_decode_webp(spark, sf):
    """REAL lossless-WebP (VP8L) decode end-to-end (closes the last
    image-format honest raise, round 13): each document's first w*9
    text bytes become the green channel of a VP8L image (red =
    byte^0x55, blue = 255-byte) built by the twin encoder with REAL
    canonical Huffman codes (code-length-coded normal form on the
    graded path), then the Arrow stage runs the from-scratch decoder —
    RIFF walk, 5-code Huffman group, canonical code-length machinery,
    per-channel literal decode. Lossless, so the oracle replays
    mean_intensity from the same text bytes via the integer identity
    r+g+b = 255 + (byte XOR 0x55); any Huffman/bit-order defect
    hash-mismatches."""
    from lswms_forage_etl_spark.operators.multimodal import (
        decode_media, synth_webp_media)
    out = decode_media(synth_webp_media(_t(spark, sf, "documents")))
    return out.select(
        "media_id", "decoded_width", "decoded_height",
        portable_round(F.col("mean_intensity"), 9).alias("mean_intensity"))


@query(headline=True)
def q_mm_scan_zip(spark, sf):
    """Archive-container ingest, zip: every 8 documents become ONE
    spec-conformant zip (stdlib-zipfile writer — an INDEPENDENT
    implementation), then the from-scratch reader walks the central
    directory, cross-checks local headers, inflates raw-deflate
    members (odd ids; even stored), and verifies CRC-32 inside the
    Arrow batch loop. The oracle replays member names, sizes, and md5
    content fingerprints straight from the documents table, so any
    defect across encode -> EOCD walk -> inflate -> CRC
    hash-mismatches. One groupBy shuffle to build, shuffle-free scan."""
    from lswms_forage_etl_spark.sources.archive import (
        scan_zip_members, synth_zip_media)
    return scan_zip_members(synth_zip_media(_t(spark, sf, "documents")))


@query(headline=True)
def q_mm_scan_warc(spark, sf):
    """Archive-container ingest, WARC (the Common Crawl convention):
    every 8 documents become one .warc.gz capture (one byte-
    deterministic gzip member per record), then the from-scratch
    reader splits the members with a zlib decompressobj loop, parses
    the WARC/1.0 header blocks, and frames content by Content-Length.
    Same oracle discipline as mm_scan_zip (names/sizes/md5 replayed
    from the source table)."""
    from lswms_forage_etl_spark.sources.archive import (
        scan_warc_records, synth_warc_media)
    return scan_warc_records(synth_warc_media(_t(spark, sf, "documents")))


@query(headline=True)
def q_text_html_extract(spark, sf):
    """HTML -> TEXT EXTRACTION over WARC captures (round 15, VERDICT
    r14 next #1 — the stage every Common Crawl pipeline runs before
    the Gopher/C4/perplexity gates this repo already grades): each
    document rides as a full HTML page (deterministic chrome:
    title/style/script, entity-encoded body, comments, footer links)
    inside a .warc.gz capture; the from-scratch WARC reader surfaces
    the pages and the extraction itself is a pure JVM codegen rule
    chain — script/style subtree strip, comment strip, tag->space,
    fixed-entity decode, whitespace collapse (functions/html.py; rule
    tables shared verbatim with the oracle). Output: per-doc text
    fingerprint + boilerplate ratio (ppm, exact integer). 100 TB
    shape: shuffle-free scan, no Python past the WARC split."""
    from lswms_forage_etl_spark.functions.html import html_extract
    from lswms_forage_etl_spark.sources.archive import (
        scan_warc_html, synth_warc_html)
    pages = scan_warc_html(synth_warc_html(_t(spark, sf, "documents")))
    out = pages.select(
        "doc_id",
        F.length("html").cast("long").alias("n_html"),
        html_extract("html").alias("txt"))
    return out.select(
        "doc_id", "n_html",
        F.length("txt").cast("long").alias("n_text"),
        F.expr("CAST((CAST(length(txt) AS BIGINT) * 1000000) "
               "div n_html AS BIGINT)").alias("text_ratio_ppm"),
        F.md5(F.encode("txt", "UTF-8")).alias("text_fp"))


@query(headline=True)
def q_text_normalize(spark, sf):
    """UNICODE NORMALIZATION + MOJIBAKE REPAIR (round 15, VERDICT r14
    next #5) — the corpus-cleaning pass ahead of dedup/tokenization:
    sloppy-cp1252 double-encoding repair (longest damaged sequence
    first), NFKC-subset folds (fullwidth ASCII block, fi/fl ligatures,
    ideographic space), typographic quote/dash/ellipsis folding, NBSP,
    zero-width/soft-hyphen/control strip. Every rule lives in ONE
    mapping table (functions/normalize.py) that renders both the Spark
    column chain and the DuckDB replay — no library normalizer whose
    tables could drift between engines. The shipped corpus is clean,
    so deterministic damage is injected per doc_id % 5 on BOTH sides
    (class 4 stays clean — the no-op path is graded too). 100 TB
    shape: shuffle-free scan, replace/translate/regexp codegen."""
    from lswms_forage_etl_spark.functions.normalize import (
        dirty_text, normalize_text)
    docs = _t(spark, sf, "documents")
    d = docs.select("doc_id",
                    dirty_text("text", "doc_id").alias("raw"))
    out = d.select("doc_id", "raw",
                   normalize_text("raw").alias("norm"))
    return out.select(
        "doc_id",
        F.length("raw").cast("long").alias("n_raw"),
        F.length("norm").cast("long").alias("n_norm"),
        (F.col("norm") != F.col("raw")).cast("int").alias("changed"),
        F.md5(F.encode("norm", "UTF-8")).alias("norm_fp"))


@query(headline=True)
def q_text_hybrid_rerank(spark, sf):
    """Hybrid retrieval (the two-stage RAG-prep shape): exact-integer
    BM25 top-20 candidates, then a dense rerank by the exact int64
    inner product against a pseudo-relevance-feedback query vector
    (per-dim SUM of the top-3 candidates' 1e4-quantized embeddings —
    summing keeps it integer; cosine is query-scale-invariant and the
    vectors are unit-norm). Everything after the BM25 cut is bounded
    by k: the corpus never re-enters the plan. Ranking ties break
    (rerank8, score12, doc_id) — integer-deterministic."""
    from lswms_forage_etl_spark.operators.retrieval import hybrid_rerank
    return hybrid_rerank(_t(spark, sf, "documents"),
                         _t(spark, sf, "embeddings"),
                         list(BM25_QUERY_TERMS),
                         k_bm25=20, prf=3, k_out=10)


@query(headline=True)
def q_mm_gif_frames(spark, sf):
    """ANIMATED GIF frame-table decode (the video-shaped multimodal
    path): each document's first w*9 text bytes become a three-frame
    full-screen GIF89a animation (per-frame GCE delays 4/5/6 cs, odd
    ids interlaced), then the Arrow stage LZW-decodes every frame,
    reads its delay, and maps the non-degenerate palette. One row per
    (media_id, frame_idx); the oracle replays delays and per-frame RGB
    means from the same text byte ranges. Sub-rectangle/disposal/
    transparency compositing is fully decoded in-kernel (round 12,
    pinned by tests over hand-assembled streams); the graded payloads
    stay full-frame so the oracle byte-replay is unchanged."""
    from lswms_forage_etl_spark.operators.multimodal import (
        gif_frame_table, synth_gif_anim_media)
    out = gif_frame_table(synth_gif_anim_media(_t(spark, sf, "documents")))
    return out.select(
        "media_id", "frame_idx", "delay_cs", "decoded_width",
        "decoded_height",
        portable_round(F.col("mean_intensity"), 9).alias("mean_intensity"))


@query(headline=True)
def q_mm_scan_tar(spark, sf):
    """Archive-container ingest, tar: every 8 documents become ONE
    POSIX ustar tar (stdlib-tarfile writer — independent), then the
    from-scratch reader walks the 512-byte headers (checksum verified
    before anything else decodes), frames block-padded content, and
    stops at the zero-block terminator. Same oracle discipline as
    mm_scan_zip."""
    from lswms_forage_etl_spark.sources.archive import (
        scan_tar_members, synth_tar_media)
    return scan_tar_members(synth_tar_media(_t(spark, sf, "documents")))


@query(headline=True)
def q_mm_scan_targz(spark, sf):
    """Archive-container ingest, .tar.gz (round 14, VERDICT r13
    missing #5 — the common on-disk composite): stdlib tarfile +
    stdlib gzip as INDEPENDENT writers; odd archives are written as
    TWO concatenated gzip members (the pigz/block-parallel shape), so
    the from-scratch reader's gzip MEMBER LOOP (not single-shot
    inflate — that silently truncated multi-member streams) feeds the
    ustar walk. Same member/fingerprint oracle as mm_scan_tar."""
    from lswms_forage_etl_spark.sources.archive import (
        scan_tar_members, synth_targz_media)
    return scan_tar_members(
        synth_targz_media(_t(spark, sf, "documents")))


@query(headline=True)
def q_mm_webp_frames(spark, sf):
    """ANIMATED WebP frame-table decode (round 15, VERDICT r14 next
    #8 — closing the webp.py ANMF gate): each document's first w*9
    text bytes become a three-frame full-canvas VP8X/ANIM/ANMF
    animation whose VP8L sub-frames carry the same channel identity
    as mm_decode_webp (r+g+b = 255 + (byte^0x55)); the Arrow stage
    walks the container, decodes every frame with the full-feature
    VP8L machinery, composites per the ANMF blend/dispose rules, and
    reads the per-frame durations. One row per (media_id, frame_idx);
    the oracle replays durations and per-frame RGB means from the
    same text byte ranges. Sub-rectangle placement, alpha blending
    (exact-integer 'over'), and dispose-to-background are pinned by
    tests over hand-assembled streams (the GIF compositing
    discipline); graded payloads stay full-frame no-blend so the
    oracle byte-replay is exact."""
    from lswms_forage_etl_spark.operators.multimodal import (
        synth_webp_anim_media, webp_frame_table)
    out = webp_frame_table(
        synth_webp_anim_media(_t(spark, sf, "documents")))
    return out.select(
        "media_id", "frame_idx", "duration_ms", "decoded_width",
        "decoded_height",
        portable_round(F.col("mean_intensity"), 9).alias("mean_intensity"))


@query(headline=True)
def q_text_web_pipeline(spark, sf):
    """The COMPOSED Common-Crawl-style cleaning pipeline, graded end
    to end (round 15): documents get deterministic mojibake/unicode
    damage (text_normalize's dirt classes), ride as full HTML pages
    inside .warc.gz captures, and the engine then runs the stages a
    real CC pipeline runs — WARC member walk -> HTML->text extraction
    -> unicode normalization + mojibake repair -> the Gopher quality
    gate — in ONE shuffle-free plan (extraction + normalization +
    gate are a single JVM codegen Project past the Arrow WARC split).
    The oracle chains the same shared rule tables (wrap, extract,
    normalize) into the text_gopher replay and pins the exact cleaned
    text by md5 — a defect in ANY stage or stage boundary flips the
    hash."""
    from lswms_forage_etl_spark.functions.html import html_extract
    from lswms_forage_etl_spark.functions.normalize import (
        dirty_text, normalize_text)
    from lswms_forage_etl_spark.sources.archive import (
        scan_warc_html, synth_warc_html)
    docs = _t(spark, sf, "documents")
    dirty = docs.select(
        "doc_id", dirty_text("text", "doc_id").alias("text"))
    pages = scan_warc_html(synth_warc_html(dirty))
    txt = pages.select(
        "doc_id",
        normalize_text(html_extract("html")).alias("txt"))
    g = T.gopher_rules("txt")
    return (txt.select("doc_id", "txt", g.alias("g"))
            .select("doc_id",
                    F.col("g.n_words").alias("n_words"),
                    portable_round(F.col("g.mean_word_len"), 4)
                    .alias("mean_word_len"),
                    F.col("g.stop_hits").alias("stop_hits"),
                    F.col("g.words_ok").alias("words_ok"),
                    F.col("g.mwl_ok").alias("mwl_ok"),
                    F.col("g.sym_ok").alias("sym_ok"),
                    F.col("g.stop_ok").alias("stop_ok"),
                    F.col("g.keep").alias("keep"),
                    F.md5(F.encode("txt", "UTF-8")).alias("text_fp")))


@query(headline=True)
def q_mm_scan_jsonl(spark, sf):
    """JSONL-shard corpus ingest (round 15) — the `.jsonl.gz` dump
    format every public LLM corpus ships in: stdlib json + gzip as
    INDEPENDENT writers (odd shards = two concatenated gzip members,
    the pigz shape), then the scan inflates members in the one
    unavoidable Arrow pass and does ALL parsing JVM-side —
    split/explode/from_json codegen (json.dumps escapes control
    characters, so the newline framing is unambiguous by
    construction). Oracle is the field identity against the source
    table, so any defect across write -> member loop -> line split ->
    JSON parse hash-mismatches."""
    from lswms_forage_etl_spark.sources.archive import (
        scan_jsonl_docs, synth_jsonl_media)
    return scan_jsonl_docs(synth_jsonl_media(_t(spark, sf, "documents")))


@query(headline=True)
def q_mm_decode_vp8(spark, sf):
    """REAL lossy-WebP (VP8 key frame) decode end-to-end (round 15,
    VERDICT r14 next #4 — the last big real-world format gap): each
    document's first 4 + doc_id % 5 text bytes become the constant
    luma values of a one-MB-row VP8 key frame (twin encoder: 16x16 DC
    prediction, one quantized Y2 DC level per MB at qindex 0, full
    explicit coefficient-probability table, skip flags for zero-
    residual MBs), then the Arrow stage runs the from-scratch RFC
    6386 decoder — bool-coded header walk, mode/token trees with
    entropy contexts, category extras + signs, dequant, inverse WHT +
    inverse DCT, DC intra prediction, clamped reconstruction. The
    constant-MB family decodes EXACTLY (the JPEG constant-block
    discipline), so the oracle replays sum_luma from the same text
    bytes in pure integer arithmetic; chroma_ok pins the all-zero
    chroma path to its implied constant 128. Loop filter is level 0
    (identity by spec); interframes/B_PRED/segmentation raise — with
    no reference codec in this container the bitstream is pinned
    twin-style (the WARC/VP8L precedent), and the RFC's empirical
    default probability tables remain swappable data the graded
    streams never rely on (operators/vp8.py docstring)."""
    from lswms_forage_etl_spark.operators.multimodal import (
        synth_vp8_media, vp8_luma_table)
    return vp8_luma_table(synth_vp8_media(_t(spark, sf, "documents")))


@query(headline=True)
def q_mm_scan_tarbz2(spark, sf):
    """Archive-container ingest, .tar.bz2 (round 15, VERDICT r14 next
    #2): stdlib tarfile + stdlib bz2 as INDEPENDENT writers (odd
    archives = two concatenated bz2 streams, the pbzip2 shape); a
    stream loop over the stdlib C bzip2 decoder (sources/bzip2.py,
    every concatenated stream read, trailing data rejected) feeds the
    ustar walk. Same member/fingerprint oracle as mm_scan_tar."""
    from lswms_forage_etl_spark.sources.archive import (
        scan_tar_members, synth_tarbz2_media)
    return scan_tar_members(
        synth_tarbz2_media(_t(spark, sf, "documents")))


@query(headline=True)
def q_mm_scan_tarxz(spark, sf):
    """Archive-container ingest, .tar.xz (round 15, VERDICT r14 next
    #2): stdlib tarfile + stdlib lzma as INDEPENDENT writers (odd
    archives = two concatenated xz streams with stream padding, the
    second using CHECK_CRC32); a stream loop over the stdlib C xz
    decoder (sources/xz.py: every concatenated stream read, stream
    padding checked, lzma.decompress avoided because it drops the
    streams after padding) feeds the ustar walk. Same
    member/fingerprint oracle as mm_scan_tar."""
    from lswms_forage_etl_spark.sources.archive import (
        scan_tar_members, synth_tarxz_media)
    return scan_tar_members(
        synth_tarxz_media(_t(spark, sf, "documents")))


@query(headline=True)
def q_corpus_dsir_weights(spark, sf):
    """DSIR importance weights (Xie et al. 2023): unigram + bigram
    occurrences hashed into 1024 buckets, target (DSIR_TARGET_SOURCES)
    vs raw bucket distributions from ONE conditional-sum aggregation,
    per-doc weight = sum of whole-bit quantized log(p_t/p_r) over
    feature occurrences. The 1024-row score table broadcasts back onto
    the recomputed feature stream (staging a corpus-sized explode
    loses — round-11 text_rarity lesson); shuffles: bounded bucket key
    + doc key."""
    from lswms_forage_etl_spark.operators.lm import dsir_importance
    return dsir_importance(_t(spark, sf, "documents"),
                           DSIR_TARGET_SOURCES)


@query(headline=True)
def q_events_intervals_merge(spark, sf):
    """Overlapping-interval merge (gaps-and-islands): each event opens
    a (1 + event_id % 7)-hour validity interval; per user the
    overlapping ones collapse to coverage islands — the uptime/
    coverage primitive. One key shuffle, two window passes over the
    same sort, no self-join; bounds are exact epoch-second integers."""
    from lswms_forage_etl_spark.operators.timeseries import (
        merge_intervals)
    ev = _events(spark, sf).select(
        "user_id", "event_id", F.col("ts").alias("start"),
        F.expr("ts + make_dt_interval(0, cast(1 + event_id % 7 as int),"
               " 0, 0)").alias("end"))
    return merge_intervals(ev, order_cols=("event_id",))


@query(headline=True)
def q_events_pattern_match(spark, sf):
    """Row-pattern matching (MATCH_RECOGNIZE-lite): each 30-min
    session's ordered event types become one code string and a regex
    detects 'a view, then a click, then a purchase, with no error
    between' (v[^e]*c[^e]*p). One user-key shuffle; the regex runs on
    session-bounded strings, never across rows. Both engines' RE2-
    compatible subset keeps the oracle bit-exact."""
    from lswms_forage_etl_spark.operators.sessions import (
        session_pattern_match)
    return session_pattern_match(
        _events(spark, sf), r"v[^e]*c[^e]*p",
        {"view": "v", "click": "c", "purchase": "p",
         "error": "e", "signup": "s"})


@query(headline=True)
def q_sketch_cms_heavy(spark, sf):
    """phi-heavy hitters over word tokens via Count-Min (d=4, w=16384,
    phi = 1/30 of total occurrences): 100% recall by the
    no-underestimate property; any collision false positive surfaces
    as an is_heavy=false row rather than silently (the FP path is
    exercised by the w=64 unit test). The phi*N SHARE threshold —
    not an absolute count — is what keeps a fixed-width sketch
    scale-correct: token shares are corpus-size-invariant, so the
    hitter set is stable from sf0.01 through sf0.1 (16/15 tokens)."""
    from lswms_forage_etl_spark.operators.dedup import _spread
    from lswms_forage_etl_spark.operators.sketches import (
        cms_heavy_hitters)
    docs = _spread(_t(spark, sf, "documents"))
    occ = docs.select(F.explode(T.tokens("text")).alias("g"))
    return cms_heavy_hitters(occ, "g", phi=(1, 30))


@query(headline=True)
def q_layout_compact(spark, sf):
    """Small-file compaction planning (OPTIMIZE bin packing): the
    per-shard manifest (one groupBy pass) feeds a contiguous
    cumulative-size bin assignment — order-preserving, so zone-map
    clustering survives the rewrite. The global window is over the
    MANIFEST (one row per shard — Delta-log scale), never row data."""
    from lswms_forage_etl_spark.functions.layout import (
        compact_bins, zonemap_stats)
    ev = _events(spark, sf)
    manifest = zonemap_stats(
        ev, F.floor(F.col("event_id") / F.lit(256)).cast("long"), "ts")
    return compact_bins(manifest.select("shard_id", "n_rows"),
                        target=2000)


@query(headline=True)
def q_corpus_mix_temperature(spark, sf):
    """Temperature-flattened source mix at tau = 1/2 (mBERT/XLM-R/
    GPT-3 style): derived targets sqrt(n_g), keep rate
    sqrt(n_min/n_g) decided by the deterministic u32 hash threshold.
    tau fixed at 1/2 because IEEE sqrt is correctly rounded on every
    engine while pow() is not — the reason an arbitrary-tau version
    would not be oracle-replayable."""
    from lswms_forage_etl_spark.operators.sampling import (
        temperature_rebalance)
    docs = _t(spark, sf, "documents").select("doc_id", "lang")
    return temperature_rebalance(docs, "lang", "doc_id")


@query(headline=True)
def q_ann_pca_power(spark, sf):
    """Dominant PCA eigenvector by 8 power-iteration rounds over the
    EXACT integer covariance table — every round is floor-pinned
    integer/IEEE arithmetic, so the oracle replays all 8 matvec+
    renormalize steps as chained CTEs. Data-sized work = the one
    distributed moments pass; iterations touch only d^2/d-row bounded
    tables."""
    from lswms_forage_etl_spark.operators.similarity import pca_power_top
    return pca_power_top(_t(spark, sf, "embeddings"), iters=8)


@query(headline=True)
def q_ann_covariance(spark, sf):
    """Exact covariance matrix of the embedding table (the moments
    pass behind PCA/whitening): per-partition int64 numpy Gram
    partials merged in one d^2-row groupBy — reduce-side shuffle is
    kilobytes at any corpus size. Numerator n*Sxy - Sx*Sy exact int64;
    one IEEE division chain at the end, portable-rounded. The oracle
    replays the quantized moments with an i<=j self-join."""
    from lswms_forage_etl_spark.operators.similarity import (
        covariance_upper)
    return covariance_upper(_t(spark, sf, "embeddings"))


@query(headline=True)
def q_scan_zonemap_prune(spark, sf):
    """Zone-map data skipping (parquet row-group stats / Delta file
    stats / Snowflake micro-partitions, as a first-class operator):
    events shard on event_id DIV 256 (time-clustered — ids are
    ingest-ordered), ONE groupBy pass builds the per-shard manifest
    (n_rows, min/max ts) AND the audit count of rows matching the
    probe interval [Jan 10, Jan 20). `selected` is the interval-
    overlap skip decision; the zone-map guarantee (pruned shard =>
    n_matched = 0) is oracle-checked row by row. The file-level proof
    (PartitionFilters actually skipping unselected shards) lives in
    tests/test_layout.py::test_zonemap_write_scan_prunes."""
    from lswms_forage_etl_spark.functions.layout import (
        zonemap_selected, zonemap_stats)
    lo, hi = "2024-01-10 00:00:00", "2024-01-20 00:00:00"
    ev = _events(spark, sf)
    pred = ((F.col("ts") >= F.to_timestamp(F.lit(lo)))
            & (F.col("ts") < F.to_timestamp(F.lit(hi))))
    stats = zonemap_stats(
        ev, F.floor(F.col("event_id") / F.lit(256)).cast("long"),
        "ts", predicate=pred)
    return stats.select(
        "shard_id", "n_rows", F.col("min_v").alias("min_ts"),
        F.col("max_v").alias("max_ts"),
        zonemap_selected(F.to_timestamp(F.lit(lo)),
                         F.to_timestamp(F.lit(hi)))
        .alias("selected"),
        "n_matched")


@query(headline=True)
def q_events_cdc_apply(spark, sf):
    """CDC changelog apply (the MERGE INTO primitive): events become a
    change stream on the user key ('error' = delete tombstone, all
    else upsert); per key LATEST-WINS by (ts, event_id), a key whose
    newest record is a tombstone leaves the snapshot, and the same
    single window pass carries per-key audit counters. One shuffle on
    the key — no self-join, no groupBy+join-back."""
    from lswms_forage_etl_spark.operators.timeseries import cdc_apply
    ev = _events(spark, sf).select(
        "user_id", "ts", "event_id", "value",
        F.when(F.col("event_type") == "error", "D")
         .otherwise("U").alias("op"))
    return cdc_apply(ev)


@query(headline=True)
def q_dedup_prefix_filter(spark, sf):
    """EXACT near-dup pairs via PPJoin-style prefix filtering — the
    recall-lossless complement to dedup_lsh_pairs: order each doc's
    shingles by global rarity, self-join only each side's first
    n - ceil(n/2) + 1 rarest shingles (any jaccard>=1/2 pair MUST
    share one), length-filter, then verify exactly. No global rank is
    materialized: rarity ordering lives inside a per-doc window and
    candidates key on the 60-bit md5 int64 shingle hash (strings exist
    only pre-hash) — the prefix holds only rare shingles, so bucket
    fan stays bounded at 100 TB. Measured sf0.01:
    977 candidates of 124,750 possible pairs (128x pruning)."""
    from lswms_forage_etl_spark.operators.dedup import prefix_filter_pairs
    return prefix_filter_pairs(_t(spark, sf, "documents"),
                               threshold=(1, 2))


# =============================================================================

def declared() -> list[Declaration]:
    """Every @query declaration in registry order: the graded ones in
    definition order, then the others in definition order."""
    return sorted(_DECLARED, key=lambda d: not d.graded)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order matters: the driver grades the FIRST 50 entries,
    which are the graded=True declarations. They carry one representative
    of every SURVEY §2 family AND every LLM-pipeline family (dedup,
    embedding/ANN, packing, multimodal, sampling, contamination).
    Near-duplicate in-family variants and the rows-only model fits sit
    past position 50."""
    return {d.name: d.fn for d in declared()}


# =============================================================================
# DuckDB oracles. Keys match queries() minus the rows_only declarations;
# column aliases match exactly.
# =============================================================================

def _periods_values(start: dt.date, cur: dt.date) -> str:
    rows = composite_periods(start, cur)
    vals = ", ".join(
        f"({p}, DATE '{s.isoformat()}', DATE '{e.isoformat()}')"
        for p, s, e in rows)
    return f"(VALUES {vals}) AS periods(period_id, start, \"end\")"


_STOPWORD_SQL = {
    lang: "[" + ", ".join(f"'{w}'" for w in ws) + "]"
    for lang, ws in T.STOPWORDS.items()
}

# DuckDB fragment: distinct lowercase word k-shingles of column t as list
_SHINGLE_FRAG = """
    list_distinct(CASE WHEN len(toks) >= 3 THEN
      list_transform(range(1, len(toks) - 1),
                     i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
      ELSE [] END)
"""


def oracle_sql() -> dict[str, str]:
    periods_2024 = _periods_values(dt.date(2024, 1, 3), dt.date(2024, 12, 31))
    periods_w1 = _periods_values(dt.date(2023, 12, 1), dt.date(2024, 3, 1))

    sql = {}

    sql["scan_pushdown_filter"] = """
        SELECT l_orderkey, l_partkey, l_quantity FROM lineitem
        WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
    """

    sql["filter_bitmask"] = """
        SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        WHERE (l_orderkey & 3) >= 2 AND ((l_orderkey >> 2) & 3) <= 1
    """

    mask_expr = ("CASE WHEN v IN (-99999.0, -9999.0, -8888.0, -32768.0) "
                 "OR v < -1000.0 THEN NULL ELSE v END")
    sql["filter_sentinel_mask"] = f"""
        WITH s AS (
          SELECT event_id,
                 CASE WHEN event_id % 97 = 0 THEN -99999.0
                      WHEN event_id % 89 = 0 THEN -9999.0
                      WHEN event_id % 83 = 0 THEN -5000.0
                      ELSE value END AS v
          FROM events)
        SELECT event_id, {_pr(mask_expr, 4)} AS masked_value
        FROM s
    """

    jit_expr = ("CASE WHEN v = 0 AND u_pick < 0.1 "
                "THEN v + 0.001 + u_mag * 0.009 ELSE v END")
    sql["filter_zero_jitter"] = f"""
        WITH z AS (
          SELECT event_id,
                 CASE WHEN value < 2.0 THEN 0.0 ELSE value END AS v,
                 (CAST((event_id % 1000) * 2654435761 AS BIGINT) % 1000) / 1000.0 AS u_pick,
                 (CAST(event_id * 40503 AS BIGINT) % 1000) / 1000.0 AS u_mag
          FROM events)
        SELECT event_id, {_pr(jit_expr, 6)} AS jittered
        FROM z
    """

    ndvi_expr = ("(l_extendedprice - l_extendedprice * l_discount) "
                 "/ (l_extendedprice + l_extendedprice * l_discount)")
    sql["scalar_ndvi_calibration"] = f"""
        SELECT l_orderkey, l_linenumber,
               {_pr(ndvi_expr, 6)} AS ndvi,
               {_pr("(6480.2 * l_discount - 958.6) / 1000.0", 6)} AS biom
        FROM lineitem
    """

    sql["scalar_date_codec"] = """
        SELECT o_orderkey,
               CAST(strftime(CAST(o_orderdate AS DATE), '%Y%m%d') AS INT) AS date_i,
               CAST(strptime(CAST(CAST(strftime(CAST(o_orderdate AS DATE), '%Y%m%d') AS INT) AS VARCHAR), '%Y%m%d') AS DATE) AS date_rt,
               year(o_orderdate) AS yr, month(o_orderdate) AS mo,
               day(o_orderdate) AS dom
        FROM orders
    """

    sql["scalar_grid_snap"] = """
        WITH pts AS (
          SELECT c_custkey,
                 36.0 + (c_custkey * 7 % 2600) / 200.0 AS lon,
                 0.0 + (c_custkey * 13 % 3000) / 200.0 AS lat
          FROM customer)
        SELECT c_custkey,
               CAST(floor((lon - 36.0) / 0.05) AS INT) AS col,
               CAST(floor((15.0 - lat) / 0.05) AS INT) AS row,
               floor((36.0 + (CAST(floor((lon - 36.0) / 0.05) AS INT) + 0.5) * 0.05) * 10000 + 0.5) / 10000.0 AS cell_lon,
               floor((15.0 - (CAST(floor((15.0 - lat) / 0.05) AS INT) + 0.5) * 0.05) * 10000 + 0.5) / 10000.0 AS cell_lat
        FROM pts
    """

    sql["scalar_strings"] = """
        SELECT o_orderkey,
               'biomass_' || strftime(CAST(o_orderdate AS DATE), '%Y%m%d') || '.tif' AS filename,
               regexp_extract('biomass_' || strftime(CAST(o_orderdate AS DATE), '%Y%m%d') || '.tif', '(\\d{8})', 1) AS date_str,
               replace(o_orderpriority, '-', '_') AS prio_clean
        FROM orders
    """

    sql["scalar_round_abs"] = f"""
        SELECT l_orderkey, l_linenumber,
               {_pr("abs(l_extendedprice * (1.0 - 2.0 * l_discount) - 50000.0)", 2)} AS round_abs
        FROM lineitem
    """

    sql["scalar_json"] = """
        SELECT event_id,
               CAST(json_extract(props, '$.k') AS INT) AS k,
               '{"k":' || CAST(json_extract(props, '$.k') AS INT) || '}' AS json_rt
        FROM events
    """

    sql["join_merge_inner"] = """
        SELECT l_orderkey, l_linenumber, c_custkey,
               floor(l_extendedprice * 100 + 0.5) / 100.0 AS price,
               o_orderstatus AS status
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
    """

    sql["join_snap_grid"] = f"""
        WITH pts AS (
          SELECT c_custkey,
                 36.0 + (c_custkey * 7 % 2600) / 200.0 AS lon,
                 0.0 + (c_custkey * 13 % 3000) / 200.0 AS lat
          FROM customer),
        snapped AS (
          SELECT c_custkey,
                 CAST(floor((lon - 36.0) / 0.05) AS INT) AS col,
                 CAST(floor((15.0 - lat) / 0.05) AS INT) AS row
          FROM pts),
        cells AS (
          SELECT CAST(p_partkey * 3 % 260 AS INT) AS col,
                 CAST(p_partkey * 11 % 300 AS INT) AS row,
                 {_pr("p_retailprice / 1000.0", 4)} AS cell_value
          FROM part),
        cells2 AS (
          SELECT row, col, {_sm("cell_value", 4, 4)} AS cell_value
          FROM cells GROUP BY row, col)
        SELECT c_custkey, s.row AS row, s.col AS col, cell_value
        FROM snapped s JOIN cells2 c ON s.row = c.row AND s.col = c.col
    """

    sql["join_semi_anti"] = """
        SELECT c_custkey, TRUE AS has_big_order FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
        UNION ALL
        SELECT c_custkey, FALSE AS has_big_order FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
    """

    sql["join_zonal_broadcast"] = """
        SELECT n_name AS zone_id,
               sum(CAST(l_quantity * 100 AS BIGINT)) / 100.0 AS qty_sum,
               count(*) AS cell_count
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name
    """

    sql["join_asof_nearest"] = """
        WITH ob AS (
          SELECT o_custkey % 20 AS bucket, CAST(o_orderdate AS DATE) AS odate,
                 count(*) AS n_orders
          FROM orders GROUP BY 1, 2),
        eb AS (
          SELECT event_id, user_id % 20 AS bucket, CAST(ts AS DATE) AS edate
          FROM events),
        j AS (
          SELECT event_id, edate, odate, n_orders,
                 row_number() OVER (PARTITION BY event_id
                                    ORDER BY odate DESC) AS rn
          FROM eb JOIN ob USING (bucket) WHERE odate <= edate)
        SELECT event_id, edate, odate, n_orders FROM j WHERE rn = 1
    """

    sql["join_asof_forward"] = """
        WITH p AS (SELECT user_id, ts, event_id FROM events
                   WHERE event_type = 'purchase'),
        v AS (SELECT user_id, ts, event_id FROM events
              WHERE event_type = 'view'),
        j AS (
          SELECT v.user_id, v.event_id AS view_id, v.ts AS view_ts,
                 p.event_id AS next_purchase_id, p.ts AS purchase_ts,
                 row_number() OVER (PARTITION BY v.event_id
                   ORDER BY p.ts ASC, p.event_id ASC) AS rn
          FROM v JOIN p ON p.user_id = v.user_id AND p.ts >= v.ts)
        SELECT user_id, view_id, view_ts, next_purchase_id, purchase_ts
        FROM j WHERE rn = 1
    """

    sql["agg_pricing_summary"] = f"""
        SELECT l_returnflag, l_linestatus,
               sum(CAST(l_quantity * 100 AS BIGINT)) / 100.0 AS sum_qty,
               sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) / 100.0 AS sum_disc_price,
               {_sm("l_quantity", 2, 4)} AS avg_qty,
               {_sm("l_discount", 4, 6)} AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= DATE '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """

    sql["agg_temporal_mean_composite"] = f"""
        SELECT user_id % 100 AS cell, "end" AS date,
               {_sm("value", 6, 4)} AS value_mean,
               count(*) AS n_obs
        FROM events JOIN {periods_2024}
          ON CAST(ts AS DATE) BETWEEN start AND "end"
        GROUP BY 1, 2
    """

    sql["agg_temporal_sum_composite"] = f"""
        SELECT user_id % 100 AS cell, "end" AS date,
               coalesce(sum(CAST(floor((CASE WHEN event_type = 'error' THEN NULL
                                    ELSE value END) * 10000 + 0.5) AS BIGINT)),
                        0) / 10000.0 AS value_sum
        FROM events JOIN {periods_2024}
          ON CAST(ts AS DATE) BETWEEN start AND "end"
        GROUP BY 1, 2
    """

    sql["agg_conditional_fraction"] = """
        SELECT floor(avg(CASE WHEN l_tax = 0 THEN 1.0 ELSE 0.0 END) * 100 * 10000 + 0.5) / 10000.0 AS pct_zero_tax,
               count(*) AS n_rows
        FROM lineitem
    """

    sql["agg_max_resume_date"] = """
        WITH d AS (
          SELECT CAST(strptime(regexp_extract(
                   'biomass_' || strftime(CAST(o_orderdate AS DATE), '%Y%m%d') || '.tif',
                   '(\\d{8})', 1), '%Y%m%d') AS DATE) AS d
          FROM orders)
        SELECT max(d) AS max_date,
               CAST(max(d) + INTERVAL 1 DAY AS DATE) AS next_start FROM d
    """

    sql["agg_distinct_dates"] = """
        SELECT DISTINCT CAST(l_shipdate AS DATE) AS ship_date FROM lineitem
    """

    sql["agg_rollup"] = """
        SELECT coalesce(l_returnflag, 'ALL') AS rf,
               coalesce(l_linestatus, 'ALL') AS ls,
               sum(CAST(l_quantity * 100 AS BIGINT)) / 100.0 AS sum_qty,
               count(*) AS n
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """

    sql["window_composite_periods"] = f"""
        SELECT period_id, start, "end" FROM {periods_w1}
    """

    sql["window_lag_lead"] = """
        SELECT o_custkey, o_orderkey,
               floor(lag(o_totalprice, 1) OVER w * 100 + 0.5) / 100.0 AS prev_price,
               floor(lead(o_totalprice, 1) OVER w * 100 + 0.5) / 100.0 AS next_price,
               datediff('day', lag(CAST(o_orderdate AS DATE), 1) OVER w,
                        CAST(o_orderdate AS DATE)) AS days_since_prev
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """

    sql["window_tail_k"] = """
        SELECT o_custkey, o_orderkey, rn FROM (
          SELECT o_custkey, o_orderkey,
                 CAST(row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate DESC, o_orderkey DESC) AS INT) AS rn
          FROM orders) WHERE rn <= 4
    """

    exp_avg = ("sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) OVER w"
               " / 100.0 / (count(*) OVER w)")
    sql["window_expanding_mean"] = f"""
        SELECT o_custkey, o_orderkey,
               {_pr(exp_avg, 4)} AS expanding_avg
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """

    sql["window_days_since_start"] = """
        SELECT o_custkey, o_orderkey,
               datediff('day', min(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey),
                        CAST(o_orderdate AS DATE)) AS t_days
        FROM orders
    """

    sql["window_neighborhood_mean"] = f"""
        WITH cells AS (
          SELECT CAST(p_partkey * 3 % 40 AS INT) AS col,
                 CAST(p_partkey * 11 % 40 AS INT) AS row,
                 {_sm("p_retailprice", 2, 4)} AS v
          FROM part GROUP BY 1, 2),
        spread AS (
          SELECT c.row + dr AS row, c.col + dc AS col, v
          FROM cells c, (SELECT unnest([-1,0,1]) AS dr) a,
                        (SELECT unnest([-1,0,1]) AS dc) b),
        agg AS (
          SELECT row, col, {_sm("v", 4, 4)} AS nbr_mean, count(*) AS nbr_n
          FROM spread GROUP BY row, col)
        SELECT a.row, a.col, nbr_mean, nbr_n
        FROM agg a WHERE EXISTS (SELECT 1 FROM cells c
                                 WHERE c.row = a.row AND c.col = a.col)
    """

    sql["window_sliding_mean"] = f"""
        WITH e AS (
          SELECT CAST(ts AS DATE) AS d, value,
                 CAST(floor(datediff('day', DATE '2024-01-01',
                                     CAST(ts AS DATE)) / 2) AS BIGINT) AS hi
          FROM events),
        x AS (
          SELECT d, value,
                 DATE '2024-01-01' + CAST((hi - k) * 2 AS INT) AS window_start
          FROM e, (SELECT unnest([0, 1]) AS k))
        SELECT window_start, count(*) AS n,
               {_sm("value", 6, 4)} AS value_mean
        FROM x WHERE d < window_start + 4
        GROUP BY 1
    """

    sql["window_sessionize"] = """
        WITH s AS (
          SELECT user_id, event_id, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                      OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
                      THEN 1 ELSE 0 END AS ns,
                 ts
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        s2 AS (
          SELECT user_id, event_id, value,
                 CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS INT) AS session_idx
          FROM s)
        SELECT user_id, session_idx, count(*) AS n_events,
               min(event_id) AS first_event,
               sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) / 10000.0
                 AS value_sum
        FROM s2 GROUP BY 1, 2
    """

    sql["join_range_bucketed"] = """
        WITH bands(band, lo, hi) AS (VALUES
          ('low', 0.0, 20000.0), ('mid', 20000.0, 45000.0),
          ('high', 45000.0, 80000.0), ('lux', 80000.0, 200000.0))
        SELECT band, count(*) AS n,
               sum(CAST(l_quantity * 100 AS BIGINT)) / 100.0 AS qty_sum
        FROM lineitem JOIN bands
          ON l_extendedprice >= lo AND l_extendedprice < hi
        GROUP BY band
    """

    sql["agg_percentile"] = f"""
        SELECT l_returnflag,
               {_pr("quantile_cont(l_extendedprice, 0.5)", 4)} AS p50,
               {_pr("quantile_cont(l_extendedprice, 0.9)", 4)} AS p90,
               count(*) AS n
        FROM lineitem GROUP BY l_returnflag
    """

    sql["agg_corr_exact"] = f"""
        WITH m AS (
          SELECT l_linestatus, count(*) AS n,
                 sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS sx,
                 sum(CAST(floor(l_discount * 10000 + 0.5) AS BIGINT)) AS sy,
                 sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)
                     * CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS sxx,
                 sum(CAST(floor(l_discount * 10000 + 0.5) AS BIGINT)
                     * CAST(floor(l_discount * 10000 + 0.5) AS BIGINT)) AS syy,
                 sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)
                     * CAST(floor(l_discount * 10000 + 0.5) AS BIGINT)) AS sxy
          FROM lineitem GROUP BY l_linestatus)
        SELECT l_linestatus, n,
               {_pr("(n * sxy - sx * sy) / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))", 6)}
                 AS corr_qty_disc
        FROM m
    """

    sql["agg_salted_count"] = """
        SELECT l_suppkey % 7 AS skey, count(*) AS count
        FROM lineitem GROUP BY 1
    """

    sql["agg_cube"] = """
        SELECT coalesce(l_returnflag, 'ALL') AS rf,
               coalesce(ship_class, 'ALL') AS sc,
               count(*) AS n,
               sum(CAST(l_quantity * 100 AS BIGINT)) / 100.0 AS qty_sum
        FROM (SELECT l_returnflag,
                     CASE WHEN l_tax = 0 THEN 'notax' ELSE 'taxed' END
                       AS ship_class,
                     l_quantity
              FROM lineitem)
        GROUP BY CUBE (l_returnflag, ship_class)
    """

    sql["set_union_except"] = """
        SELECT event_id FROM (
          SELECT event_id FROM events WHERE event_type = 'click'
          UNION ALL
          SELECT event_id FROM events WHERE event_type = 'purchase')
        EXCEPT ALL
        SELECT event_id FROM events WHERE value > 95
    """

    sql["topk_global"] = """
        SELECT o_orderkey, floor(o_totalprice * 100 + 0.5) / 100.0 AS price FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
    """

    sql["text_stats"] = """
        WITH t AS (
          SELECT doc_id, text,
                 list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> x <> '') AS toks
          FROM documents)
        SELECT doc_id,
               CAST(len(toks) AS INT) AS n_tokens,
               CAST(length(text) AS INT) AS n_chars_check,
               floor((length(text) - length(regexp_replace(text, '[^\\p{L}\\p{N}\\s]', '', 'g')))
                     / greatest(length(text), 1) * 10000 + 0.5) / 10000.0 AS punct_ratio,
               floor(((CASE WHEN length(text) BETWEEN 50 AND 10000 THEN 1.0 ELSE 0.3 END)
                    + (CASE WHEN (length(text) - length(regexp_replace(text, '[^\\p{L}\\p{N}\\s]', '', 'g')))
                            / greatest(length(text), 1) < 0.2 THEN 1.0 ELSE 0.4 END)
                    + (CASE WHEN length(text) / greatest(len(toks), 1.0) BETWEEN 2.5 AND 12
                            THEN 1.0 ELSE 0.5 END)) / 3.0 * 10000 + 0.5) / 10000.0 AS quality
        FROM t
    """

    lang_cases = []
    for lang in ("en", "es", "fr", "de"):
        lang_cases.append(
            f"len(list_intersect(toks, {_STOPWORD_SQL[lang]})) AS hits_{lang}")
    sql["text_lang_id"] = f"""
        WITH t AS (
          SELECT doc_id, lang,
                 list_distinct(list_transform(
                   list_filter(string_split_regex(trim(text), '\\s+'),
                               x -> x <> ''), x -> lower(x))) AS toks
          FROM documents),
        h AS (
          SELECT doc_id, lang, {', '.join(lang_cases)} FROM t)
        SELECT doc_id, lang,
               CASE WHEN greatest(hits_en, hits_es, hits_fr, hits_de) = 0 THEN 'und'
                    WHEN hits_en = greatest(hits_en, hits_es, hits_fr, hits_de) THEN 'en'
                    WHEN hits_es = greatest(hits_en, hits_es, hits_fr, hits_de) THEN 'es'
                    WHEN hits_fr = greatest(hits_en, hits_es, hits_fr, hits_de) THEN 'fr'
                    ELSE 'de' END AS lang_pred
        FROM h
    """

    sql["text_tokens"] = f"""
        WITH t AS (
          SELECT doc_id, text,
                 list_distinct(list_transform(
                   list_filter(string_split_regex(trim(text), '\\s+'),
                               x -> x <> ''), x -> lower(x))) AS toks
          FROM documents)
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                    '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_pieces,
               {_pr("CAST(len(list_intersect(toks, " + _STOPWORD_SQL['en']
                    + ")) AS DOUBLE) / greatest(len(toks), 1)", 6)}
                 AS stop_ratio_en
        FROM t
    """

    lag_cols = ", ".join(
        f"min(CASE WHEN horizon = {h} THEN v END) AS lag_{h}_day"
        for h in (0, 16, 32, 48))
    sql["window_lag_pivot"] = f"""
        WITH tall AS (
          SELECT o_custkey % 50 AS zone, CAST(o_orderdate AS DATE) AS date,
                 CAST((o_orderkey % 4) * 16 AS INT) AS horizon,
                 floor(min(o_totalprice) * 100 + 0.5) / 100.0 AS v
          FROM orders GROUP BY 1, 2, 3)
        SELECT zone, date, {lag_cols}
        FROM tall GROUP BY zone, date
    """

    sql["text_fingerprint"] = """
        SELECT doc_id,
               md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
        FROM documents
    """

    # PII scrub: the same RE2-class pattern strings drive both engines
    # (DuckDB regexp_replace needs the 'g' flag to match Spark's
    # replace-all). The augmented text is rebuilt identically in SQL.
    _pii = {name: pat for name, pat, _ in T.PII_PATTERNS}
    _aug = ("text || ' u' || doc_id || '@ex.com ip 10.0.' || (doc_id % 256)"
            " || '.' || (doc_id % 100) || ' call 555-123-4567 ssn "
            "987-65-4320'")
    _red = "aug"
    for _n, _p, _r in T.PII_PATTERNS:
        _red = f"regexp_replace({_red}, '{_p}', '{_r}', 'g')"
    sql["text_pii_scrub"] = f"""
        WITH t AS (SELECT doc_id, {_aug} AS aug FROM documents)
        SELECT doc_id,
               CAST(len(regexp_extract_all(aug, '{_pii["email"]}')) AS INT)
                 AS n_email,
               CAST(len(regexp_extract_all(aug, '{_pii["ssn"]}')) AS INT)
                 AS n_ssn,
               CAST(len(regexp_extract_all(aug, '{_pii["phone"]}')) AS INT)
                 AS n_phone,
               CAST(len(regexp_extract_all(aug, '{_pii["ip"]}')) AS INT)
                 AS n_ip,
               md5({_red}) AS red_fp
        FROM t
    """

    sql["text_repeated_ngrams"] = f"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> x <> '') AS toks
          FROM documents),
        g AS (
          SELECT doc_id,
                 list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                                i -> toks[i] || ' ' || toks[i + 1]) AS g2,
                 list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                                i -> toks[i] || ' ' || toks[i + 1] || ' '
                                     || toks[i + 2]) AS g3
          FROM t)
        SELECT doc_id,
               {_pr("(len(g2) - len(list_distinct(g2)))"
                    " / greatest(len(g2), 1)", 6)} AS dup2_frac,
               {_pr("(len(g3) - len(list_distinct(g3)))"
                    " / greatest(len(g3), 1)", 6)} AS dup3_frac
        FROM g
    """

    sql["dedup_exact"] = """
        SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
               min(doc_id) AS doc_id, count(*) AS dup_count
        FROM documents GROUP BY 1
    """

    # minhash: one md5-derived 32-bit base per shingle, affine rehash per
    # hash index — mirrors dedup._minhash_sig (coeffs from the same
    # generator; empty shingle set -> MINHASH_PRIME sentinel)
    _coeffs = minhash_coeffs(16)
    _mh = ("coalesce(list_min(list_transform(xs, "
           "x -> ({a} * x + {b}) % " + str(MINHASH_PRIME) + ")), "
           + str(MINHASH_PRIME) + ")")
    _xs = ("list_transform(sh, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT)")
    sql["dedup_minhash_sig"] = f"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                             x -> x <> '') AS toks
          FROM documents),
        s AS (
          SELECT doc_id, {_SHINGLE_FRAG} AS sh FROM t),
        x AS (SELECT doc_id, {_xs} AS xs FROM s)
        SELECT doc_id,
               {_mh.format(a=_coeffs[0][0], b=_coeffs[0][1])} AS mh_0,
               {_mh.format(a=_coeffs[7][0], b=_coeffs[7][1])} AS mh_7,
               {_mh.format(a=_coeffs[15][0], b=_coeffs[15][1])} AS mh_15
        FROM x
    """

    # LSH pairs: replicate band hashing in SQL (BIGINT minhash values
    # implicitly cast to VARCHAR by concat_ws, same as the Spark cast)
    band_hash = ("md5(concat_ws('|', mh[{lo}], mh[{a}], mh[{b}], mh[{c}]))")
    mh_list = ", ".join(
        _mh.format(a=a, b=b) for a, b in _coeffs)
    bands_sql = ", ".join(
        band_hash.format(lo=4 * b + 1, a=4 * b + 2, b=4 * b + 3, c=4 * b + 4)
        for b in range(4))
    _lsh_ctes = f"""t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                             x -> x <> '') AS toks
          FROM documents),
        s AS (SELECT doc_id, {_SHINGLE_FRAG} AS sh FROM t),
        m AS (SELECT doc_id, sh, [{mh_list}] AS mh
              FROM (SELECT doc_id, sh, {_xs} AS xs FROM s)),
        b AS (
          SELECT doc_id, sh, unnest([{bands_sql}]) AS band_hash,
                 unnest([0, 1, 2, 3]) AS band_id
          FROM m),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
          FROM b a JOIN b b2 USING (band_id, band_hash)
          WHERE a.doc_id < b2.doc_id),
        v AS (
          SELECT id_a, id_b,
                 {_pr('''CASE WHEN len(list_distinct(sa.sh || sb.sh)) > 0
                       THEN CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                            / len(list_distinct(sa.sh || sb.sh))
                       ELSE 0.0 END''', 6)} AS jaccard
          FROM cand JOIN s sa ON sa.doc_id = id_a
                    JOIN s sb ON sb.doc_id = id_b)"""

    sql["dedup_lsh_pairs"] = f"""
        WITH {_lsh_ctes}
        SELECT id_a, id_b, jaccard FROM v WHERE jaccard >= 0.5
    """

    # incremental dedup: same LSH machinery, candidates restricted to
    # new (src15+) x existing (src0-14); best existing match per new doc
    sql["dedup_incremental"] = f"""
        WITH t AS (
          SELECT doc_id,
                 CAST(substr(source, 4) AS INT) >= 15 AS is_new,
                 list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                             x -> x <> '') AS toks
          FROM documents),
        s AS (SELECT doc_id, is_new, {_SHINGLE_FRAG} AS sh FROM t),
        m AS (SELECT doc_id, is_new, sh, [{mh_list}] AS mh
              FROM (SELECT doc_id, is_new, sh, {_xs} AS xs FROM s)),
        b AS (
          SELECT doc_id, is_new, unnest([{bands_sql}]) AS band_hash,
                 unnest([0, 1, 2, 3]) AS band_id
          FROM m),
        cand AS (
          SELECT DISTINCT n.doc_id AS id_new, o.doc_id AS id_existing
          FROM b n JOIN b o USING (band_id, band_hash)
          WHERE n.is_new AND NOT o.is_new),
        v AS (
          SELECT id_new, id_existing,
                 {_pr('''CASE WHEN len(list_distinct(sa.sh || sb.sh)) > 0
                       THEN CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                            / len(list_distinct(sa.sh || sb.sh))
                       ELSE 0.0 END''', 6)} AS jaccard
          FROM cand JOIN s sa ON sa.doc_id = id_new
                    JOIN s sb ON sb.doc_id = id_existing),
        r AS (
          SELECT id_new, id_existing, jaccard,
                 row_number() OVER (PARTITION BY id_new
                                    ORDER BY jaccard DESC, id_existing)
                   AS rk
          FROM v WHERE jaccard >= 0.5)
        SELECT id_new, id_existing, jaccard FROM r WHERE rk = 1
    """

    # deterministic sampling: md5-derived u32 thresholds / hash-order caps
    _u32 = ("('0x' || substr(md5('0|' || CAST(doc_id AS VARCHAR)), 1, 8))"
            "::BIGINT")
    _th = {k: int(r * (1 << 32))
           for k, r in (("en", 0.5), ("de", 0.25), ("_", 1.0))}
    sql["sample_stratified"] = f"""
        SELECT doc_id, lang, source FROM documents
        WHERE {_u32} < CASE lang WHEN 'en' THEN {_th['en']}
                                 WHEN 'de' THEN {_th['de']}
                                 ELSE {_th['_']} END
    """
    sql["sample_group_cap"] = f"""
        SELECT doc_id, source FROM (
          SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY {_u32}, doc_id) AS rn
          FROM documents)
        WHERE rn <= 12
    """

    # corpus build: packing / budgets / chunking (same md5-u32 stream
    # order as the sampling oracles; all-integer window math)
    _bpe = ("CAST(len(regexp_extract_all(text, "
            "'[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)")
    sql["pack_sequences"] = f"""
        WITH d AS (
          SELECT doc_id, {_bpe} AS n_tokens, {_u32} AS u
          FROM documents),
        s AS (SELECT doc_id, n_tokens, u, CAST(u % 4 AS INT) AS shard
              FROM d),
        c AS (
          SELECT doc_id, shard, n_tokens,
                 sum(n_tokens) OVER (PARTITION BY shard ORDER BY u, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens AS st
          FROM s)
        SELECT doc_id, shard,
               CAST(floor(st / 256.0) AS BIGINT) AS pack_id,
               CAST(st % 256 AS BIGINT) AS pack_offset,
               n_tokens,
               CAST(floor((st + greatest(n_tokens, 1) - 1) / 256.0)
                    - floor(st / 256.0) + 1 AS INT) AS packs_spanned
        FROM c
    """

    sql["pack_manifest"] = f"""
        WITH d AS (
          SELECT doc_id, {_bpe} AS n_tokens, {_u32} AS u
          FROM documents),
        ns AS (SELECT greatest(CAST(1 AS BIGINT),
                 (count(*) + 1279) // 1280) AS _ns FROM documents),
        s AS (SELECT doc_id, n_tokens, u, CAST(u % _ns AS INT) AS shard
              FROM d CROSS JOIN ns),
        c AS (
          SELECT doc_id, shard, n_tokens,
                 sum(n_tokens) OVER (PARTITION BY shard ORDER BY u, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens AS st
          FROM s),
        p AS (
          SELECT doc_id, shard, n_tokens,
                 CAST(floor(st / 256.0) AS BIGINT) AS pack_id,
                 CAST(floor((st + greatest(n_tokens, 1) - 1) / 256.0)
                      - floor(st / 256.0) + 1 AS INT) AS packs_spanned
          FROM c)
        SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(max(pack_id + packs_spanned) AS BIGINT) AS n_packs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        FROM p GROUP BY shard
    """

    sql["sample_token_budget"] = f"""
        WITH d AS (
          SELECT doc_id, lang, {_bpe} AS n_tokens, {_u32} AS u
          FROM documents),
        s AS (SELECT doc_id, lang, n_tokens, u, CAST(u % 4 AS INT) AS shard
              FROM d),
        c AS (
          SELECT doc_id, lang, shard, n_tokens,
                 sum(n_tokens) OVER (PARTITION BY lang, shard
                   ORDER BY u, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM s)
        SELECT doc_id, lang, shard, n_tokens FROM c
        WHERE cum <= CASE lang WHEN 'en' THEN {20000 // 4}
                               WHEN 'de' THEN {8000 // 4}
                               ELSE {4000 // 4} END
    """

    # subword (BPE-style) accounting twins: the recursive CTE replays
    # the engine's greedy longest-match munch (functions/bpe.py) token
    # by token, so counts — and everything denominated in them — hash-
    # match exactly.
    from lswms_forage_etl_spark.functions.bpe import subword_count_cte
    sql["text_tokens_bpe"] = f"""
        WITH RECURSIVE {subword_count_cte()}
        SELECT w.doc_id, w.n_words, c.n_bpe,
               {_pr('CAST(c.n_bpe AS DOUBLE) / w.n_words', 4)} AS bpe_ratio
        FROM bpe_words w JOIN bpe_counts c USING (doc_id)
    """

    from lswms_forage_etl_spark.functions.bpe import (bpe_encoded_sql,
                                                      bpe_train_sql)
    sql["corpus_bpe_train"] = bpe_train_sql(k=6)
    # the driver-side scaled trainer shares the exact convention, so the
    # unrolled CTE chain grades its k=32 prefix directly
    sql["corpus_bpe_train_scaled"] = bpe_train_sql(k=32)
    sql["corpus_bpe_encode"] = bpe_encoded_sql(k=6)

    sql["pack_sequences_bpe"] = f"""
        WITH RECURSIVE {subword_count_cte()},
        d AS (
          SELECT doc_id,
                 CAST(coalesce(c.n_bpe, 0) AS BIGINT) AS n_tokens,
                 {_u32} AS u
          FROM documents LEFT JOIN bpe_counts c USING (doc_id)),
        s AS (SELECT doc_id, n_tokens, u, CAST(u % 4 AS INT) AS shard
              FROM d),
        cw AS (
          SELECT doc_id, shard, n_tokens,
                 sum(n_tokens) OVER (PARTITION BY shard ORDER BY u, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens AS st
          FROM s)
        SELECT doc_id, shard,
               CAST(floor(st / 512.0) AS BIGINT) AS pack_id,
               CAST(st % 512 AS BIGINT) AS pack_offset,
               n_tokens,
               CAST(floor((st + greatest(n_tokens, 1) - 1) / 512.0)
                    - floor(st / 512.0) + 1 AS INT) AS packs_spanned
        FROM cw
    """

    sql["sample_token_budget_bpe"] = f"""
        WITH RECURSIVE {subword_count_cte()},
        d AS (
          SELECT doc_id, lang,
                 CAST(coalesce(c.n_bpe, 0) AS BIGINT) AS n_bpe_tokens,
                 {_u32} AS u
          FROM documents LEFT JOIN bpe_counts c USING (doc_id)),
        s AS (SELECT doc_id, lang, n_bpe_tokens, u,
                     CAST(u % 4 AS INT) AS shard
              FROM d),
        cum AS (
          SELECT doc_id, lang, shard, n_bpe_tokens,
                 sum(n_bpe_tokens) OVER (PARTITION BY lang, shard
                   ORDER BY u, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
          FROM s)
        SELECT doc_id, lang, shard, n_bpe_tokens FROM cum
        WHERE c <= CASE lang WHEN 'en' THEN {60000 // 4}
                             WHEN 'de' THEN {25000 // 4}
                             ELSE {12000 // 4} END
    """

    sql["text_chunks"] = """
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> x <> '') AS toks
          FROM documents),
        c AS (
          SELECT doc_id, toks, unnest(range(0, len(toks), 48)) AS cs
          FROM t WHERE len(toks) > 0)
        SELECT doc_id,
               CAST(cs // 48 AS INT) AS chunk_idx,
               CAST(cs AS INT) AS chunk_start,
               CAST(len(toks[CAST(cs + 1 AS INT):CAST(cs + 64 AS INT)])
                    AS INT) AS n_chunk_tokens,
               md5(array_to_string(
                 toks[CAST(cs + 1 AS INT):CAST(cs + 64 AS INT)], ' '))
                 AS chunk_fp
        FROM c
    """

    # quality-score fragment shared by the corpus oracles (the same
    # formula text_clean_pipeline inlines; kept textually identical)
    _quality = (
        "floor(((CASE WHEN length(text) BETWEEN 50 AND 10000 THEN 1.0 ELSE 0.3 END)"
        " + (CASE WHEN (length(text) - length(regexp_replace(text,"
        " '[^\\p{L}\\p{N}\\s]', '', 'g'))) / greatest(length(text), 1) < 0.2"
        " THEN 1.0 ELSE 0.4 END)"
        " + (CASE WHEN length(text) / greatest(len(list_filter("
        "string_split_regex(trim(text), '\\s+'), x -> x <> '')), 1.0)"
        " BETWEEN 2.5 AND 12 THEN 1.0 ELSE 0.5 END)) / 3.0 * 10000 + 0.5)"
        " / 10000.0")

    sql["corpus_stats"] = f"""
        WITH d AS (
          SELECT lang, source, {_bpe} AS n_tok, {_quality} AS quality,
                 md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
                   AS fp
          FROM documents)
        SELECT lang, source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS total_tokens,
               {_sm("quality", 6)} AS mean_quality,
               CAST(count(DISTINCT fp) AS BIGINT) AS n_uniq
        FROM d GROUP BY ROLLUP(lang, source)
    """

    # C4-style cleaning pass: quality gate + lang-id + exact-dedup keep-min
    sql["text_clean_pipeline"] = f"""
        WITH t AS (
          SELECT doc_id, text,
                 md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
                 list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> x <> '') AS rawtoks,
                 list_distinct(list_transform(
                   list_filter(string_split_regex(trim(text), '\\s+'),
                               x -> x <> ''), x -> lower(x))) AS toks
          FROM documents),
        h AS (SELECT doc_id, fp, text, rawtoks,
                     {', '.join(lang_cases)} FROM t),
        sc AS (
          SELECT doc_id, fp,
                 floor(((CASE WHEN length(text) BETWEEN 50 AND 10000 THEN 1.0 ELSE 0.3 END)
                      + (CASE WHEN (length(text) - length(regexp_replace(text, '[^\\p{{L}}\\p{{N}}\\s]', '', 'g')))
                              / greatest(length(text), 1) < 0.2 THEN 1.0 ELSE 0.4 END)
                      + (CASE WHEN length(text) / greatest(len(rawtoks), 1.0) BETWEEN 2.5 AND 12
                              THEN 1.0 ELSE 0.5 END)) / 3.0 * 10000 + 0.5) / 10000.0 AS quality,
                 CASE WHEN greatest(hits_en, hits_es, hits_fr, hits_de) = 0 THEN 'und'
                      WHEN hits_en = greatest(hits_en, hits_es, hits_fr, hits_de) THEN 'en'
                      WHEN hits_es = greatest(hits_en, hits_es, hits_fr, hits_de) THEN 'es'
                      WHEN hits_fr = greatest(hits_en, hits_es, hits_fr, hits_de) THEN 'fr'
                      ELSE 'de' END AS lang_pred
          FROM h),
        r AS (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
              FROM sc)
        SELECT doc_id, lang_pred, quality FROM r
        WHERE rn = 1 AND quality >= 0.8 AND lang_pred <> 'und'
    """

    # train/eval contamination: candidates crossing the parity split,
    # directional containment of the eval doc's shingles in the train doc
    _cont = ("CASE WHEN len({den}.sh) > 0 THEN "
             "CAST(len(list_intersect(sa2.sh, sb.sh)) AS DOUBLE)"
             " / len({den}.sh) ELSE 0.0 END")
    sql["text_contamination"] = f"""
        WITH {_lsh_ctes},
        par AS (SELECT doc_id, CAST(substr(source, 4) AS INT) % 2 AS split
                FROM documents),
        cr AS (SELECT c.id_a, c.id_b, pa.split AS sa
               FROM cand c JOIN par pa ON pa.doc_id = c.id_a
                           JOIN par pb ON pb.doc_id = c.id_b
               WHERE pa.split <> pb.split),
        ct AS (SELECT cr.id_a, cr.id_b,
                      CASE WHEN cr.sa = 0
                           THEN {_pr(_cont.format(den='sb'), 6)}
                           ELSE {_pr(_cont.format(den='sa2'), 6)}
                      END AS containment
               FROM cr JOIN s sa2 ON sa2.doc_id = cr.id_a
                       JOIN s sb ON sb.doc_id = cr.id_b)
        SELECT id_a, id_b, containment FROM ct WHERE containment >= 0.2
    """

    # connected components over the verified near-dup pairs: transitive
    # closure by recursive CTE (oracle-side only — the engine uses
    # iterative min-label propagation, which is the scale shape)
    sql["dedup_clusters"] = f"""
        WITH RECURSIVE {_lsh_ctes},
        p AS (SELECT id_a, id_b FROM v WHERE jaccard >= 0.5),
        e AS (SELECT id_a AS src, id_b AS dst FROM p
              UNION SELECT id_b, id_a FROM p),
        reach(id, r) AS (
          SELECT src, src FROM e
          UNION
          SELECT e2.src, reach.r FROM e e2 JOIN reach ON e2.dst = reach.id),
        lbl AS (SELECT id AS doc_id, min(r) AS rep_id FROM reach GROUP BY 1)
        SELECT doc_id, rep_id,
               count(*) OVER (PARTITION BY rep_id) AS cluster_size
        FROM lbl
    """

    # cluster-representative selection: same closure, then keep the
    # highest-quality member (ties -> min doc_id) per component
    sql["dedup_representatives"] = f"""
        WITH RECURSIVE {_lsh_ctes},
        p AS (SELECT id_a, id_b FROM v WHERE jaccard >= 0.5),
        e AS (SELECT id_a AS src, id_b AS dst FROM p
              UNION SELECT id_b, id_a FROM p),
        reach(id, r) AS (
          SELECT src, src FROM e
          UNION
          SELECT e2.src, reach.r FROM e e2 JOIN reach ON e2.dst = reach.id),
        lbl AS (SELECT id AS doc_id, min(r) AS rep_id FROM reach GROUP BY 1),
        cl AS (SELECT doc_id, rep_id,
                      count(*) OVER (PARTITION BY rep_id) AS cluster_size
               FROM lbl),
        q AS (SELECT doc_id, {_quality} AS quality FROM documents),
        k AS (SELECT cl.doc_id, cl.rep_id, cl.cluster_size,
                     first_value(cl.doc_id) OVER (
                       PARTITION BY cl.rep_id
                       ORDER BY q.quality DESC, cl.doc_id) AS keeper_id
              FROM cl JOIN q ON q.doc_id = cl.doc_id)
        SELECT doc_id, rep_id, cluster_size, keeper_id,
               doc_id = keeper_id AS keep
        FROM k
    """

    # SimHash: replay the md5-derived 64-bit signature bit-for-bit. Bit b
    # of the big-endian 16-hex-char hash lives in hex digit 16-(b//4)
    # (1-based), bit b%4 of that digit's value; DuckDB rejects 1<<63 on
    # BIGINT so bit 63 contributes the min-long literal instead.
    sql["dedup_simhash"] = """
        WITH d AS (
          SELECT doc_id,
                 list_distinct(list_filter(
                   string_split_regex(lower(trim(text)), '\\s+'),
                   x -> x <> '')) AS toks
          FROM documents),
        h AS (SELECT doc_id, substr(md5(unnest(toks)), 1, 16) AS hx FROM d),
        b AS (
          SELECT doc_id, bb.b AS bit,
                 CASE WHEN ((strpos('0123456789abcdef',
                                    substr(hx, 16 - CAST(bb.b // 4 AS INT), 1)) - 1)
                            >> (bb.b % 4)) & 1 = 1
                      THEN 1 ELSE -1 END AS vote
          FROM h CROSS JOIN (SELECT unnest(range(0, 64)) AS b) bb),
        v AS (SELECT doc_id, bit, sum(vote) AS votes FROM b GROUP BY 1, 2),
        s0 AS (
          SELECT doc_id,
                 CAST(sum(CASE WHEN votes > 0 THEN
                        CASE WHEN bit = 63 THEN -9223372036854775808
                             ELSE (1::BIGINT << CAST(bit AS INT)) END
                      ELSE 0 END) AS BIGINT) AS simhash
          FROM v GROUP BY 1),
        sigs AS (SELECT d.doc_id, coalesce(s0.simhash, 0) AS simhash
                 FROM d LEFT JOIN s0 USING (doc_id)),
        c AS (
          SELECT doc_id, simhash, cc.i AS chunk_id,
                 (simhash >> CAST(16 * cc.i AS INT)) & 65535 AS chunk
          FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS i) cc),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
                          a.simhash AS sa, b2.simhash AS sb
          FROM c a JOIN c b2
            ON a.chunk_id = b2.chunk_id AND a.chunk = b2.chunk
           AND a.doc_id < b2.doc_id)
        SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
        FROM cand WHERE bit_count(xor(sa, sb)) <= 3
    """

    sql["dedup_ngram_jaccard"] = f"""
        WITH t AS (
          SELECT doc_id, source,
                 list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                             x -> x <> '') AS toks
          FROM documents),
        s AS (SELECT doc_id, source, {_SHINGLE_FRAG} AS sh FROM t),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sh_a, b.sh AS sh_b
          FROM s a JOIN s b ON b.doc_id = a.doc_id + 7
          UNION ALL
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sh_a, b.sh AS sh_b
          FROM s a JOIN s b ON b.doc_id = a.doc_id + 100)
        SELECT id_a, id_b,
               {_pr('''CASE WHEN len(list_distinct(sh_a || sh_b)) > 0
                     THEN CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
                          / len(list_distinct(sh_a || sh_b))
                     ELSE 0.0 END''', 6)} AS jaccard
        FROM pairs
    """

    # estimator vs truth: all 16 affine minhash components as a literal
    # list, agreement fraction vs the exact shingle jaccard
    _mh_list = f"[{mh_list}]"   # reuse the existing 16-component join
    sql["dedup_minhash_estimate"] = f"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                             x -> x <> '') AS toks
          FROM documents),
        s AS (SELECT doc_id, {_SHINGLE_FRAG} AS sh FROM t),
        x AS (SELECT doc_id, sh, {_xs} AS xs FROM s),
        m AS (SELECT doc_id, sh, {_mh_list} AS mh FROM x),
        p AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.mh AS mh_a, b.mh AS mh_b, a.sh AS sh_a, b.sh AS sh_b
          FROM m a JOIN m b ON b.doc_id = a.doc_id + 7)
        SELECT id_a, id_b,
               {_pr('''len(list_filter(range(1, 17),
                         i -> mh_a[CAST(i AS INT)] = mh_b[CAST(i AS INT)]))
                       / 16.0''', 6)} AS est_jaccard,
               {_pr('''CASE WHEN len(list_distinct(sh_a || sh_b)) > 0
                     THEN CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
                          / len(list_distinct(sh_a || sh_b))
                     ELSE 0.0 END''', 6)} AS jaccard
        FROM p
    """

    # dedup_simhash: xxhash64 is Spark-native (no DuckDB equivalent) ->
    # rows-only check (omitted here intentionally).

    sql["ann_embedding_norms"] = f"""
        SELECT vec_id, label,
               CAST(len(embedding) AS INT) AS dim,
               {_pr("sqrt(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * x), 'sum'))", 4)} AS l2_norm
        FROM embeddings
    """

    # int8 symmetric quantization: per-vector scale, exact integer code
    # sum, max reconstruction error (both order-independent checks)
    sql["ann_quantize"] = f"""
        WITH v AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
          FROM embeddings),
        m AS (
          SELECT vec_id, xs,
                 list_max(list_transform(xs, x -> abs(x))) / 127.0 AS sc
          FROM v),
        q AS (
          SELECT vec_id, xs, sc,
                 list_transform(xs, x -> CASE WHEN sc = 0 THEN 0
                   ELSE greatest(-127, least(127,
                        CAST(floor(x / sc + 0.5) AS BIGINT))) END) AS qs
          FROM m)
        SELECT vec_id,
               {_pr("sc", 9)} AS qscale,
               CAST(list_aggregate(qs, 'sum') AS BIGINT) AS qsum,
               {_pr("list_max(list_transform(range(1, len(xs) + 1), "
                    "i -> abs(xs[i] - qs[i] * sc)))", 9)} AS qmax_err
        FROM q
    """

    bf_cos = ("list_dot_product("
              "list_transform(e.embedding, x -> CAST(x AS DOUBLE)), "
              "list_transform(q.qv, x -> CAST(x AS DOUBLE))) "
              "/ (sqrt(list_aggregate(list_transform(e.embedding, "
              "x -> CAST(x AS DOUBLE) * x), 'sum')) "
              "* sqrt(list_aggregate(list_transform(q.qv, "
              "x -> CAST(x AS DOUBLE) * x), 'sum')))")
    sql["ann_bruteforce_topk"] = f"""
        WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        scored AS (
          SELECT vec_id, {_pr(bf_cos, 6)} AS cosine_sim
          FROM embeddings e, q)
        SELECT vec_id, cosine_sim FROM scored
        ORDER BY cosine_sim DESC, vec_id LIMIT 10
    """

    pair_cos = ("list_dot_product(a.v, b.v) "
                "/ (sqrt(list_aggregate(list_transform(a.v, x -> x * x), 'sum')) "
                "* sqrt(list_aggregate(list_transform(b.v, x -> x * x), 'sum')))")
    sql["ann_pairwise_label_sim"] = f"""
        WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings WHERE vec_id < 50),
        p AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 {_pr(pair_cos, 6)} AS cosine_sim
          FROM e a JOIN e b ON a.vec_id < b.vec_id)
        SELECT id_a, id_b, cosine_sim FROM p WHERE cosine_sim > 0.2
    """

    # --- hyperplane-LSH / IVF oracles: plane/centroid logic replayed in SQL
    def _cos(a: str, b: str) -> str:
        return (f"list_dot_product({a}, {b}) / "
                f"(sqrt(list_aggregate(list_transform({a}, x -> x * x), 'sum'))"
                f" * sqrt(list_aggregate(list_transform({b}, x -> x * x), 'sum')))")

    def _sig(v: str, seed: int = 1234) -> str:
        # scaled-integer dot (similarity.DOT_SCALE): each product floored
        # to an int64 at 1e12 resolution, summed exactly — sign is
        # evaluation-order-independent, matching the Spark expression form
        terms = []
        for i, plane in enumerate(hyperplanes(8, 64, seed)):
            lits = ", ".join(repr(float(c)) for c in plane)
            terms.append(
                f"CASE WHEN list_sum(list_transform(range(1, 65), i -> "
                f"CAST(floor({v}[i] * ([{lits}])[i] * 1e12 + 0.5) "
                f"AS BIGINT))) >= 0 THEN {1 << i} ELSE 0 END")
        return "(" + " + ".join(terms) + ")"

    sql["ann_lsh_topk"] = f"""
        WITH e AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        b AS (SELECT vec_id, v, {_sig('v')} AS bucket FROM e),
        qb AS (SELECT {_sig('qv')} AS qbucket FROM q),
        cand AS (SELECT vec_id, v FROM b, qb
                 WHERE bit_count(xor(CAST(bucket AS BIGINT),
                                     CAST(qbucket AS BIGINT))) <= 1),
        scored AS (SELECT vec_id, {_pr(_cos('v', 'qv'), 6)} AS cosine_sim
                   FROM cand, q)
        SELECT vec_id, cosine_sim FROM scored
        ORDER BY cosine_sim DESC, vec_id LIMIT 10
    """

    # hamming-rank LSH: the 192-plane table rides as a VALUES list (one
    # 64-float list literal per plane); bits replayed with the same
    # scaled-integer dot, shortlist = top-50 by (hamming, vec_id),
    # exact cosine re-rank. Wrong-length/NULL vectors must force bit 0
    # explicitly (len(v) = 64 guard): DuckDB list_sum SKIPS NULL
    # elements, so an unguarded partial dot would diverge from the
    # UDF's forced all-zero signature for dirty rows
    # (similarity.py:213; ADVICE r14-medium).
    _hr_planes = hyperplanes(192, 64, 1234)
    _hr_vals = ",\n          ".join(
        "(" + str(p) + ", [" + ", ".join(repr(float(c)) for c in row)
        + "])" for p, row in enumerate(_hr_planes))
    _hr_bit = ("CASE WHEN len({v}) = 64 AND "
               "list_sum(list_transform(range(1, 65), i -> "
               "CAST(floor({v}[i] * pl.cs[i] * 1e12 + 0.5) AS BIGINT)))"
               " >= 0 THEN 1 ELSE 0 END")
    sql["ann_lsh_hamming"] = f"""
        WITH pl(p, cs) AS (VALUES
          {_hr_vals}),
        e AS (SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
        q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        qb AS MATERIALIZED (
          SELECT pl.p, {_hr_bit.format(v='q.qv')} AS b
          FROM q CROSS JOIN pl),
        sb AS (SELECT e.vec_id, pl.p, {_hr_bit.format(v='e.v')} AS b
               FROM e CROSS JOIN pl),
        ham AS (SELECT vec_id,
                       sum(CASE WHEN sb.b <> qb.b THEN 1 ELSE 0 END) AS hd
                FROM sb JOIN qb USING (p) GROUP BY vec_id),
        short AS (SELECT vec_id FROM ham ORDER BY hd, vec_id LIMIT 50),
        scored AS (SELECT e.vec_id, {_pr(_cos('e.v', 'q.qv'), 6)}
                     AS cosine_sim
                   FROM e JOIN short USING (vec_id), q)
        SELECT vec_id, cosine_sim FROM scored
        ORDER BY cosine_sim DESC, vec_id LIMIT 10
    """

    sql["ann_ivf_topk"] = f"""
        WITH e AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        cents AS (
          SELECT (row_number() OVER (
                    ORDER BY ((vec_id % 1000003) * 2654435761) % 1000003, vec_id)) - 1
                   AS cent_id, v AS cv
          FROM e ORDER BY ((vec_id % 1000003) * 2654435761) % 1000003, vec_id LIMIT 16),
        sims AS (SELECT e.vec_id, e.v, c.cent_id,
                        {_pr(_cos('e.v', 'c.cv'), 9)} AS sim
                 FROM e CROSS JOIN cents c),
        asg AS (SELECT vec_id, v, cent_id FROM (
                  SELECT *, row_number() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, cent_id) AS rn FROM sims)
                WHERE rn = 1),
        probe AS (SELECT cent_id FROM (
                    SELECT c.cent_id, {_pr(_cos('q.qv', 'c.cv'), 9)} AS sim
                    FROM cents c, q)
                  ORDER BY sim DESC, cent_id LIMIT 4),
        scored AS (SELECT a.vec_id, {_pr(_cos('a.v', 'q.qv'), 6)} AS cosine_sim
                   FROM asg a, q
                   WHERE a.cent_id IN (SELECT cent_id FROM probe))
        SELECT vec_id, cosine_sim FROM scored
        ORDER BY cosine_sim DESC, vec_id LIMIT 10
    """

    # per-label centroids: exact scaled-integer per-dimension sums
    sql["ann_label_centroids"] = """
        WITH e AS (SELECT label,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        x AS (SELECT label, j, v[j + 1] AS x
              FROM e, (SELECT unnest(range(0, 64)) AS j)
              WHERE j IN (0, 7, 63)),
        a AS (SELECT label, j,
                     sum(CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS sx,
                     count(*) AS n
              FROM x GROUP BY 1, 2),
        c AS (SELECT label, j,
                     floor(sx / 1000000.0 / n * 1000000 + 0.5) / 1000000.0 AS c
              FROM a)
        SELECT label,
               max(CASE WHEN j = 0 THEN c END) AS c0,
               max(CASE WHEN j = 7 THEN c END) AS c7,
               max(CASE WHEN j = 63 THEN c END) AS c63
        FROM c GROUP BY label
    """

    sql["ann_topk_join"] = f"""
        WITH e AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
        sc AS (SELECT q.query_id, e.vec_id,
                      {_pr(_cos('e.v', 'q.qv'), 6)} AS cosine_sim
               FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine_sim DESC, vec_id) AS rk FROM sc)
        SELECT query_id, vec_id, cosine_sim FROM r WHERE rk <= 3
    """

    sql["ann_topk_join_lsh"] = f"""
        WITH e AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
        cb AS (SELECT vec_id, v, {_sig('v')} AS bucket FROM e),
        qb AS (SELECT query_id, qv, {_sig('qv')} AS qbucket FROM q),
        cand AS (SELECT query_id, vec_id, v, qv FROM cb, qb
                 WHERE bit_count(xor(CAST(bucket AS BIGINT),
                                     CAST(qbucket AS BIGINT))) <= 1
                   AND vec_id <> query_id),
        sc AS (SELECT query_id, vec_id,
                      {_pr(_cos('v', 'qv'), 6)} AS cosine_sim
               FROM cand),
        r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine_sim DESC, vec_id) AS rk FROM sc)
        SELECT query_id, vec_id, cosine_sim FROM r WHERE rk <= 3
    """

    sql["corpus_order"] = """
        WITH o AS (
          SELECT doc_id,
                 ('0x' || substr(md5('7919|' || CAST(doc_id AS VARCHAR)),
                                 1, 8))::BIGINT AS order_key
          FROM documents)
        SELECT doc_id,
               CAST(order_key % 8 AS INT) AS shard,
               order_key,
               row_number() OVER (PARTITION BY order_key % 8
                                  ORDER BY order_key, doc_id) - 1
                 AS pos_in_shard
        FROM o
    """

    sql["dedup_semantic"] = f"""
        WITH e AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        cents AS (
          SELECT (row_number() OVER (
                    ORDER BY ((vec_id % 1000003) * 2654435761) % 1000003, vec_id)) - 1
                   AS cent_id, v AS cv
          FROM e ORDER BY ((vec_id % 1000003) * 2654435761) % 1000003, vec_id LIMIT 16),
        sims AS (SELECT e.vec_id, e.v, c.cent_id,
                        {_pr(_cos('e.v', 'c.cv'), 9)} AS sim
                 FROM e CROSS JOIN cents c),
        asg AS (SELECT vec_id, v, cent_id FROM (
                  SELECT *, row_number() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, cent_id) AS rn FROM sims)
                WHERE rn = 1),
        reps AS (SELECT cent_id, min(vec_id) AS rep_id FROM asg GROUP BY 1),
        rv AS (SELECT r.cent_id, r.rep_id, a.v AS rvv
               FROM reps r JOIN asg a ON a.vec_id = r.rep_id),
        o AS (SELECT a.vec_id, a.cent_id, rv.rep_id,
                     CASE WHEN a.vec_id = rv.rep_id THEN CAST(1.0 AS DOUBLE)
                          ELSE {_pr(_cos('a.v', 'rv.rvv'), 6)} END
                       AS rep_cosine
              FROM asg a JOIN rv ON a.cent_id = rv.cent_id)
        SELECT vec_id, cent_id, rep_id, rep_cosine,
               (vec_id <> rep_id AND rep_cosine >= 0.5) AS is_semantic_dup
        FROM o
    """

    kind_expr = "(['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1]"
    sql["mm_metadata"] = f"""
        WITH m AS (
          SELECT doc_id AS media_id, {kind_expr} AS kind,
                 octet_length(encode(text)) AS n_bytes,
                 length(text) AS n
          FROM documents)
        SELECT media_id, kind, n_bytes,
               (n * 7) % 1920 + 16 AS width,
               (n * 13) % 1080 + 16 AS height,
               coalesce(CASE WHEN kind = 'video' THEN n % 240 + 1
                             ELSE 0 END, 0) AS frames,
               CASE WHEN kind = 'audio' THEN 16000 ELSE 0 END AS sample_rate
        FROM m
    """

    sql["mm_frame_sample"] = f"""
        WITH v AS (
          SELECT doc_id AS media_id,
                 length(text) % 240 + 1 AS frames
          FROM documents WHERE {kind_expr} = 'video'),
        x AS (
          SELECT media_id, frames, unnest(range(0, frames)) AS frame_idx
          FROM v)
        SELECT media_id, frames, frame_idx FROM x WHERE frame_idx % 10 = 0
    """

    # byte histogram: hex-decode the payload blob (2 hex chars per byte),
    # bin = byte // 16, portable 9-dp rounding mirrors the numpy side
    sql["mm_byte_histogram"] = """
        WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx,
                          octet_length(encode(text)) AS n
                   FROM documents),
        b AS (SELECT media_id,
                     ('0x' || substr(hx, 2 * j + 1, 2))::INT // 16 AS bin
              FROM m, (SELECT unnest(range(0, n)) AS j)),
        h AS (SELECT media_id,
                     count(*) FILTER (WHERE bin = 0) AS c0,
                     count(*) FILTER (WHERE bin = 7) AS c7,
                     count(*) FILTER (WHERE bin = 15) AS c15
              FROM b GROUP BY 1)
        SELECT m.media_id,
               coalesce(floor(c0 / m.n * 1e9 + 0.5) / 1e9, 0.0) AS bin_0,
               coalesce(floor(c7 / m.n * 1e9 + 0.5) / 1e9, 0.0) AS bin_7,
               coalesce(floor(c15 / m.n * 1e9 + 0.5) / 1e9, 0.0) AS bin_15
        FROM m LEFT JOIN h USING (media_id)
    """

    # banded multi-table hyperplane LSH: one UNION ALL branch per band,
    # seeds mirror similarity.BAND_SEED_STRIDE. Plane count is derived
    # IN SQL from COUNT(*) with the exact-integer twin of
    # similarity.adaptive_num_planes (length(bin(x)) = integer log2, no
    # float-boundary risk): 16 masked terms per band, term i zeroed when
    # i >= np — valid because hyperplanes(16,...) is prefix-stable (one
    # row-major RandomState fill), so truncation = the Spark UDF's
    # planes=np matrix.
    def _sig_masked(v: str, seed: int) -> str:
        terms = []
        for i, plane in enumerate(hyperplanes(16, 64, seed)):
            lits = ", ".join(repr(float(c)) for c in plane)
            terms.append(
                f"CASE WHEN {i} < pl.np AND "
                f"list_sum(list_transform(range(1, 65), i -> "
                f"CAST(floor({v}[i] * ([{lits}])[i] * 1e12 + 0.5) "
                f"AS BIGINT))) >= 0 THEN {1 << i} ELSE 0 END")
        return "(" + " + ".join(terms) + ")"

    band_sel = "\n          UNION ALL ".join(
        f"SELECT vec_id, {bi} AS band, "
        f"{_sig_masked('v', 1234 + bi * 7919)} AS bucket FROM e, pl"
        for bi in range(4))
    sql["dedup_embedding"] = f"""
        WITH e AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        pl AS (SELECT LEAST(16, GREATEST(6,
                 length(bin(CAST(ceil(count(*) / 2.0) AS BIGINT) - 1))))
                 AS np
               FROM embeddings),
        b AS ({band_sel}),
        cand AS (SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
                 FROM b a JOIN b b2
                   ON a.band = b2.band AND a.bucket = b2.bucket
                  AND a.vec_id < b2.vec_id),
        p AS (SELECT c.id_a, c.id_b,
                     {_pr(_cos('ea.v', 'eb.v'), 6)} AS cosine_sim
              FROM cand c
              JOIN e ea ON ea.vec_id = c.id_a
              JOIN e eb ON eb.vec_id = c.id_b)
        SELECT id_a, id_b, cosine_sim FROM p WHERE cosine_sim >= 0.3
    """

    from lswms_forage_etl_spark.functions.layout import zorder_key_sql
    sql["scalar_zorder"] = f"""
        SELECT l_orderkey, l_linenumber,
               CAST(l_partkey % 1024 AS BIGINT) AS zx,
               CAST(l_suppkey % 1024 AS BIGINT) AS zy,
               {zorder_key_sql('(l_partkey % 1024)', '(l_suppkey % 1024)', 10)}
                 AS zkey
        FROM lineitem
    """

    sql["text_gopher"] = """
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> x <> '') AS toks,
                 len(regexp_extract_all(text, '[#$%&@~]')) AS n_sym
          FROM documents),
        m AS (
          SELECT doc_id,
                 CAST(len(toks) AS INT) AS n_words,
                 CAST(length(array_to_string(toks, '')) AS DOUBLE)
                   / greatest(len(toks), 1) AS mwl,
                 CAST(len(list_intersect(
                   list_transform(toks, x -> lower(x)),
                   ['the','a','and','of','to','in','is','it'])) AS INT)
                   AS stop_hits,
                 CAST(n_sym AS DOUBLE) / greatest(len(toks), 1) AS symr
          FROM t)
        SELECT doc_id, n_words,
               floor(mwl * 10000 + 0.5) / 10000.0 AS mean_word_len,
               stop_hits,
               CAST(n_words BETWEEN 50 AND 100000 AS INT) AS words_ok,
               CAST(mwl >= 3.0 AND mwl <= 10.0 AS INT) AS mwl_ok,
               CAST(symr < 0.1 AS INT) AS sym_ok,
               CAST(stop_hits >= 2 AS INT) AS stop_ok,
               CAST(n_words BETWEEN 50 AND 100000
                    AND mwl >= 3.0 AND mwl <= 10.0
                    AND symr < 0.1 AND stop_hits >= 2 AS INT) AS keep
        FROM m
    """

    sql["dedup_chunks"] = """
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> x <> '') AS toks
          FROM documents),
        c AS (
          SELECT doc_id, toks, unnest(range(0, len(toks), 32)) AS cs
          FROM t WHERE len(toks) > 0),
        ch AS (
          SELECT doc_id,
                 md5(array_to_string(
                   toks[CAST(cs + 1 AS INT):CAST(cs + 32 AS INT)], ' '))
                   AS chunk_fp
          FROM c),
        pc AS (
          SELECT chunk_fp, count(DISTINCT doc_id) AS nd
          FROM ch GROUP BY chunk_fp)
        SELECT ch.doc_id,
               count(*) AS n_chunks,
               CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_shared_chunks,
               floor(CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*) * 10000 + 0.5) / 10000.0 AS dup_chunk_frac
        FROM ch JOIN pc USING (chunk_fp)
        GROUP BY ch.doc_id
    """

    # duplicated-substring spans: overlapping 4-token window fps, windows
    # with corpus count >= 2 are duplicated, consecutive runs merge
    # (gaps-and-islands) into maximal spans — replays duplicate_spans()
    sql["dedup_substrings"] = r"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(lower(text)), '\s+'),
                             x -> x <> '') AS toks
          FROM documents),
        w AS (
          SELECT doc_id,
                 CASE WHEN len(toks) >= 4 THEN
                   list_transform(range(0, len(toks) - 3),
                     i -> ('0x' || substr(md5(array_to_string(
                            toks[CAST(i + 1 AS INT):CAST(i + 4 AS INT)],
                            ' ')), 1, 15))::BIGINT)
                 ELSE [] END AS wins
          FROM t),
        u AS (
          SELECT doc_id, unnest(wins) AS fp,
                 generate_subscripts(wins, 1) - 1 AS wpos
          FROM w),
        df AS (SELECT fp FROM u GROUP BY fp HAVING count(*) >= 2),
        m AS (
          SELECT u.doc_id, u.wpos,
                 u.wpos - row_number() OVER (PARTITION BY u.doc_id
                                             ORDER BY u.wpos) AS run
          FROM u JOIN df USING (fp))
        SELECT doc_id,
               CAST(min(wpos) AS BIGINT) AS span_start,
               CAST(max(wpos) + 3 AS BIGINT) AS span_end,
               CAST(max(wpos) + 3 - min(wpos) + 1 AS BIGINT) AS span_tokens,
               CAST(count(*) AS BIGINT) AS n_windows
        FROM m GROUP BY doc_id, run
    """

    # span application: same span derivation as dedup_substrings, then a
    # positional strip — DuckDB's indexed lambda (x, i) is 1-based where
    # Spark's is 0-based, hence the i - 1. The strip tokenizes the
    # ORIGINAL case (positions are case-independent); spans come from the
    # lowered tokenization, matching duplicate_spans.
    sql["dedup_remove_spans"] = r"""
        WITH tl AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(lower(text)), '\s+'),
                             x -> x <> '') AS ltoks
          FROM documents),
        w AS (
          SELECT doc_id,
                 CASE WHEN len(ltoks) >= 4 THEN
                   list_transform(range(0, len(ltoks) - 3),
                     i -> ('0x' || substr(md5(array_to_string(
                            ltoks[CAST(i + 1 AS INT):CAST(i + 4 AS INT)],
                            ' ')), 1, 15))::BIGINT)
                 ELSE [] END AS wins
          FROM tl),
        u AS (
          SELECT doc_id, unnest(wins) AS fp,
                 generate_subscripts(wins, 1) - 1 AS wpos
          FROM w),
        df AS (SELECT fp FROM u GROUP BY fp HAVING count(*) >= 2),
        m AS (
          SELECT u.doc_id, u.wpos,
                 u.wpos - row_number() OVER (PARTITION BY u.doc_id
                                             ORDER BY u.wpos) AS run
          FROM u JOIN df USING (fp)),
        spans AS (
          SELECT doc_id, min(wpos) AS s, max(wpos) + 3 AS e
          FROM m GROUP BY doc_id, run),
        sp AS (SELECT doc_id, list(struct_pack(s := s, e := e)) AS sps
               FROM spans GROUP BY doc_id),
        t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\s+'),
                             x -> x <> '') AS toks
          FROM documents),
        r AS (
          SELECT t.doc_id, t.toks,
                 list_filter(t.toks, (x, i) ->
                   len(list_filter(sp.sps,
                       v -> v.s <= i - 1 AND i - 1 <= v.e)) = 0) AS kept
          FROM t JOIN sp USING (doc_id))
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(toks) - len(kept) AS BIGINT) AS n_removed,
               coalesce(array_to_string(kept, ' '), '') AS clean_text
        FROM r
        WHERE len(toks) - len(kept) > 0
    """

    # corpus mixing: copies = floor(w) + (u32 < frac(w)*2^32). The integer
    # thresholds below are exact because the demo weights are binary
    # fractions — the Spark side computes them in-plan in DOUBLE, which is
    # bit-identical for .5/.25/.0 fractional parts.
    sql["corpus_mix"] = f"""
        WITH d AS (
          SELECT doc_id, lang, source,
                 CASE lang WHEN 'en' THEN 1 WHEN 'de' THEN 2
                           WHEN 'fr' THEN 0 ELSE 1 END
                 + CASE WHEN {_u32} <
                     CASE lang WHEN 'en' THEN {int(0.5 * (1 << 32))}
                               WHEN 'de' THEN {int(0.25 * (1 << 32))}
                               WHEN 'fr' THEN {int(0.5 * (1 << 32))}
                               ELSE 0 END
                   THEN 1 ELSE 0 END AS nc
          FROM documents)
        SELECT doc_id, lang, source, CAST(c AS INT) AS copy_idx
        FROM d, unnest(range(1, nc + 1)) AS t(c)
        WHERE nc >= 1
    """

    # product quantization: deterministic hash-order seeds as codebooks,
    # exact scaled-integer subspace L2 (floor((x-c)^2 * 1e12) terms,
    # int64 sums — associative, engine-portable), ties to lowest code
    _pq_ctes = """e AS (SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
        seeds AS (
          SELECT (row_number() OVER (
                    ORDER BY ((vec_id % 1000003) * 2654435761) % 1000003, vec_id)) - 1
                   AS code, v AS cv
          FROM e ORDER BY ((vec_id % 1000003) * 2654435761) % 1000003, vec_id LIMIT 16),
        subs AS (SELECT unnest(range(0, 8)) AS s),
        d AS (
          SELECT e.vec_id, subs.s, seeds.code,
                 CAST(list_sum(list_transform(
                   range(CAST(8 * subs.s + 1 AS INT),
                         CAST(8 * subs.s + 9 AS INT)),
                   i -> CAST(floor((e.v[i] - seeds.cv[i])
                                   * (e.v[i] - seeds.cv[i])
                                   * 1000000000000) AS BIGINT)))
                   AS BIGINT) AS dist
          FROM e CROSS JOIN subs CROSS JOIN seeds),
        best AS (
          SELECT vec_id, s, code FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                         ORDER BY dist, code) AS rn
            FROM d) WHERE rn = 1),
        codes AS (
          SELECT vec_id, CAST(sum(code << CAST(4 * s AS INT)) AS BIGINT)
                   AS pq_code
          FROM best GROUP BY vec_id)"""

    sql["ann_pq_codes"] = f"""
        WITH {_pq_ctes}
        SELECT vec_id, pq_code FROM codes
    """

    sql["ann_pq_topk"] = f"""
        WITH {_pq_ctes},
        q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        dq AS (
          SELECT subs.s, seeds.code,
                 CAST(list_sum(list_transform(
                   range(CAST(8 * subs.s + 1 AS INT),
                         CAST(8 * subs.s + 9 AS INT)),
                   i -> CAST(floor((q.qv[i] - seeds.cv[i])
                                   * (q.qv[i] - seeds.cv[i])
                                   * 1000000000000) AS BIGINT)))
                   AS BIGINT) AS dist
          FROM q CROSS JOIN subs CROSS JOIN seeds),
        adc AS (
          SELECT c.vec_id, CAST(sum(dq.dist) AS BIGINT) AS adc_dist
          FROM codes c CROSS JOIN subs
          JOIN dq ON dq.s = subs.s
                 AND dq.code = (c.pq_code >> CAST(4 * subs.s AS INT)) & 15
          GROUP BY c.vec_id)
        SELECT vec_id, adc_dist FROM adc
        ORDER BY adc_dist, vec_id LIMIT 10
    """

    def _km_iter(i: int, prev: str) -> str:
        return f"""
        d{i} AS (
          SELECT e.vec_id, e.v, c.cent_id,
                 CAST(list_sum(list_transform(range(1, 65),
                   j -> CAST(floor((e.v[j] - c.cv[j]) * (e.v[j] - c.cv[j])
                                   * 1000000000000) AS BIGINT)))
                   AS BIGINT) AS dist
          FROM ec e CROSS JOIN {prev} c),
        a{i} AS (SELECT vec_id, v, cent_id FROM (
                   SELECT *, row_number() OVER (PARTITION BY vec_id
                             ORDER BY dist, cent_id) AS rn FROM d{i})
                 WHERE rn = 1),
        s{i} AS (SELECT cent_id, j,
                        sum(CAST(floor(v[j + 1] * 1000000 + 0.5) AS BIGINT))
                          AS sx,
                        count(*) AS n
                 FROM a{i}, (SELECT unnest(range(0, 64)) AS j)
                 GROUP BY 1, 2),
        m{i} AS (SELECT cent_id, j,
                        floor(sx / 1000000.0 / n * 1000000 + 0.5)
                          / 1000000.0 AS c
                 FROM s{i}),
        l{i} AS (SELECT cent_id, list(c ORDER BY j) AS cv
                 FROM m{i} GROUP BY cent_id),
        c{i} AS (SELECT p.cent_id, coalesce(l{i}.cv, p.cv) AS cv
                 FROM {prev} p LEFT JOIN l{i} USING (cent_id))"""

    # cluster-balanced selection: the kmeans_assign replay + a per-
    # cluster hash-order cap (same md5-u32 stream as the sampling
    # oracles, keyed on vec_id)
    _vu32 = ("('0x' || substr(md5('0|' || CAST(vec_id AS VARCHAR)), 1, 8))"
             "::BIGINT")
    sql["corpus_cluster_balance"] = f"""
        WITH e AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE))
                            AS v
                   FROM embeddings),
        ec AS (SELECT * FROM e WHERE len(v) = 64),
        c0 AS (
          SELECT (row_number() OVER (
                    ORDER BY ((vec_id % 1000003) * 2654435761) % 1000003,
                             vec_id)) - 1 AS cent_id, v AS cv
          FROM ec
          ORDER BY ((vec_id % 1000003) * 2654435761) % 1000003, vec_id
          LIMIT 8),
        {_km_iter(1, 'c0')},
        {_km_iter(2, 'c1')},
        ez AS (SELECT vec_id,
                      CASE WHEN len(v) = 64 THEN v ELSE
                        list_transform(range(0, 64), x -> 0.0) END AS v
               FROM e),
        df AS (
          SELECT e.vec_id, c.cent_id,
                 CAST(list_sum(list_transform(range(1, 65),
                   j -> CAST(floor((e.v[j] - c.cv[j]) * (e.v[j] - c.cv[j])
                                   * 1000000000000) AS BIGINT)))
                   AS BIGINT) AS dist
          FROM ez e CROSS JOIN c2 c),
        asg AS (
          SELECT vec_id, CAST(cent_id AS INT) AS cent_id,
                 dist AS l2_scaled
          FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                          ORDER BY dist, cent_id) AS rn FROM df)
          WHERE rn = 1)
        SELECT vec_id, cent_id, l2_scaled FROM (
          SELECT *, row_number() OVER (PARTITION BY cent_id
                    ORDER BY {_vu32}, vec_id) AS crn
          FROM asg)
        WHERE crn <= 30
    """

    # trained-PQ replay: 2 unrolled per-subspace Lloyd iterations. Same
    # portable conventions as kmeans_assign (scaled-int distances,
    # exact integer sums, portable_round means); empty (code, j) cells keep the
    # previous codeword value via the grid LEFT JOIN.
    def _pq_iter(i: int, prev: str) -> str:
        return f"""
        pd{i} AS (
          SELECT e.vec_id, subs.s, c.code,
                 CAST(list_sum(list_transform(
                   range(CAST(8 * subs.s + 1 AS INT),
                         CAST(8 * subs.s + 9 AS INT)),
                   x -> CAST(floor((e.v[x] - c.cv[x]) * (e.v[x] - c.cv[x])
                                   * 1000000000000) AS BIGINT)))
                   AS BIGINT) AS dist
          FROM ec e CROSS JOIN subs CROSS JOIN {prev} c),
        pb{i} AS (SELECT vec_id, s, code FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id, s
                              ORDER BY dist, code) AS rn FROM pd{i})
                  WHERE rn = 1),
        px{i} AS (SELECT e.vec_id, g.j, e.v[g.j + 1] AS x
                  FROM ec e, (SELECT unnest(range(0, 64)) AS j) g),
        ps{i} AS (SELECT b.code, x.j,
                         sum(CAST(floor(x.x * 1000000 + 0.5) AS BIGINT))
                           AS sx,
                         count(*) AS n
                  FROM px{i} x JOIN pb{i} b
                    ON b.vec_id = x.vec_id AND b.s = x.j // 8
                  GROUP BY 1, 2),
        pm{i} AS (SELECT code, j,
                         floor(sx / 1000000.0 / n * 1000000 + 0.5)
                           / 1000000.0 AS c
                  FROM ps{i}),
        pc{i} AS (SELECT p.code,
                         list(coalesce(m.c, p.cv[g.j + 1]) ORDER BY g.j)
                           AS cv
                  FROM {prev} p
                  CROSS JOIN (SELECT unnest(range(0, 64)) AS j) g
                  LEFT JOIN pm{i} m ON m.code = p.code AND m.j = g.j
                  GROUP BY p.code)"""

    # shared trained-codebook chain (2 Lloyd iterations per subspace +
    # final encode) — ann_pq_trained grades the codes; ann_pq_rerank
    # composes ADC + shortlist + exact re-rank on top. pc2 is
    # MATERIALIZED because the rerank oracle references it twice (fd
    # and dq) and DuckDB inlines CTEs by default (round-12 lesson).
    _pq_trained_ctes = f"""e AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE))
                            AS v
                   FROM embeddings),
        ec AS (SELECT * FROM e WHERE len(v) = 64),
        pc0 AS (
          SELECT (row_number() OVER (
                    ORDER BY ((vec_id % 1000003) * 2654435761) % 1000003,
                             vec_id)) - 1 AS code, v AS cv
          FROM ec
          ORDER BY ((vec_id % 1000003) * 2654435761) % 1000003, vec_id
          LIMIT 16),
        subs AS (SELECT unnest(range(0, 8)) AS s),
        {_pq_iter(1, 'pc0')},
        {_pq_iter(2, 'pc1')},
        pc2m AS MATERIALIZED (SELECT * FROM pc2),
        -- final encode over ALL rows with the Spark side's zero-fill
        -- for wrong-length/NULL vectors (ADVICE r6, as in kmeans_assign)
        ez AS (SELECT vec_id,
                      CASE WHEN len(v) = 64 THEN v ELSE
                        list_transform(range(0, 64), x -> 0.0) END AS v
               FROM e),
        fd AS (
          SELECT e.vec_id, subs.s, c.code,
                 CAST(list_sum(list_transform(
                   range(CAST(8 * subs.s + 1 AS INT),
                         CAST(8 * subs.s + 9 AS INT)),
                   x -> CAST(floor((e.v[x] - c.cv[x]) * (e.v[x] - c.cv[x])
                                   * 1000000000000) AS BIGINT)))
                   AS BIGINT) AS dist
          FROM ez e CROSS JOIN subs CROSS JOIN pc2m c),
        fb AS (SELECT vec_id, s, code FROM (
                 SELECT *, row_number() OVER (PARTITION BY vec_id, s
                           ORDER BY dist, code) AS rn FROM fd)
               WHERE rn = 1),
        tcodes AS (
          SELECT vec_id, CAST(sum(code << CAST(4 * s AS INT)) AS BIGINT)
                   AS pq_code
          FROM fb GROUP BY vec_id)"""

    sql["ann_pq_trained"] = f"""
        WITH {_pq_trained_ctes}
        SELECT vec_id, pq_code FROM tcodes
    """

    sql["ann_pq_rerank"] = f"""
        WITH {_pq_trained_ctes},
        q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        dq AS (
          SELECT subs.s, c.code,
                 CAST(list_sum(list_transform(
                   range(CAST(8 * subs.s + 1 AS INT),
                         CAST(8 * subs.s + 9 AS INT)),
                   x -> CAST(floor((q.qv[x] - c.cv[x]) * (q.qv[x] - c.cv[x])
                                   * 1000000000000) AS BIGINT)))
                   AS BIGINT) AS dist
          FROM q CROSS JOIN subs CROSS JOIN pc2m c),
        adc AS (
          SELECT t.vec_id, CAST(sum(dq.dist) AS BIGINT) AS adc_dist
          FROM tcodes t CROSS JOIN subs
          JOIN dq ON dq.s = subs.s
                 AND dq.code = (t.pq_code >> CAST(4 * subs.s AS INT)) & 15
          GROUP BY t.vec_id),
        short AS (SELECT vec_id FROM adc
                  ORDER BY adc_dist, vec_id LIMIT 80),
        scored AS (SELECT e.vec_id, {_pr(_cos('e.v', 'q.qv'), 6)}
                     AS cosine_sim
                   FROM e JOIN short USING (vec_id), q)
        SELECT vec_id, cosine_sim FROM scored
        ORDER BY cosine_sim DESC, vec_id LIMIT 10
    """

    # IVF-PQ composed: the ivf assignment/probe CTEs (ann_ivf_topk
    # convention) gate which codes enter the ADC ranking; shortlist +
    # exact re-rank reuse the pq_rerank convention. Codes come from
    # the SEED codebook (_pq_ctes) — identical to ann_pq_codes.
    sql["ann_ivfpq_topk"] = f"""
        WITH {_pq_trained_ctes},
        q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        cents AS (
          SELECT (row_number() OVER (
                    ORDER BY ((vec_id % 1000003) * 2654435761) % 1000003, vec_id)) - 1
                   AS cent_id, v AS cv
          FROM e ORDER BY ((vec_id % 1000003) * 2654435761) % 1000003, vec_id LIMIT 16),
        csims AS (SELECT e.vec_id, c.cent_id,
                         {_pr(_cos('e.v', 'c.cv'), 9)} AS sim
                  FROM e CROSS JOIN cents c),
        asg AS (SELECT vec_id, cent_id FROM (
                  SELECT *, row_number() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, cent_id) AS rn
                  FROM csims) WHERE rn = 1),
        probe AS (SELECT cent_id FROM (
                    SELECT c.cent_id, {_pr(_cos('q.qv', 'c.cv'), 9)}
                      AS sim
                    FROM cents c, q)
                  ORDER BY sim DESC, cent_id LIMIT 4),
        dq AS (
          SELECT subs.s, cw.code,
                 CAST(list_sum(list_transform(
                   range(CAST(8 * subs.s + 1 AS INT),
                         CAST(8 * subs.s + 9 AS INT)),
                   i -> CAST(floor((q.qv[i] - cw.cv[i])
                                   * (q.qv[i] - cw.cv[i])
                                   * 1000000000000) AS BIGINT)))
                   AS BIGINT) AS dist
          FROM q CROSS JOIN subs CROSS JOIN pc2m cw),
        adc AS (
          SELECT c.vec_id, CAST(sum(dq.dist) AS BIGINT) AS adc_dist
          FROM tcodes c
          JOIN asg USING (vec_id)
          CROSS JOIN subs
          JOIN dq ON dq.s = subs.s
                 AND dq.code = (c.pq_code >> CAST(4 * subs.s AS INT)) & 15
          WHERE asg.cent_id IN (SELECT cent_id FROM probe)
          GROUP BY c.vec_id),
        short AS (SELECT vec_id FROM adc
                  ORDER BY adc_dist, vec_id LIMIT 80),
        scored AS (SELECT e.vec_id, {_pr(_cos('e.v', 'q.qv'), 6)}
                     AS cosine_sim
                   FROM e JOIN short USING (vec_id), q)
        SELECT vec_id, cosine_sim FROM scored
        ORDER BY cosine_sim DESC, vec_id LIMIT 10
    """

    # deterministic split: thresholds accumulate in float EXACTLY as
    # assign_splits does (0.9, then 0.9+0.05) so both engines compare
    # against identical integers
    _sp_t1 = int(0.9 * (1 << 32))
    _sp_t2 = int((0.9 + 0.05) * (1 << 32))
    sql["sample_split"] = f"""
        SELECT doc_id, lang,
               CASE WHEN {_u32} < {_sp_t1} THEN 'train'
                    WHEN {_u32} < {_sp_t2} THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    """

    # n-gram decontamination: any shared 8-gram between a train doc and
    # the eval split flags the train doc (distinct grams per doc on
    # BOTH sides so the count is of distinct shared n-grams); gram-key
    # width comes from the SAME constant as the Spark side
    sql["text_eval_overlap"] = _eval_overlap_sql(EVAL_OVERLAP_KEY_HEX)

    # Bloom-prefiltered incremental dedup: the Bloom stage is pruning
    # only (no false negatives; exact verify removes false positives),
    # so the oracle is the plain fingerprint join
    sql["dedup_bloom_probe"] = """
        WITH f AS (
          SELECT doc_id,
                 md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
                   AS fp,
                 CAST(substring(source, 4) AS INT) >= 15 AS is_new
          FROM documents),
        k AS (SELECT fp, min(doc_id) AS id_existing
              FROM f WHERE NOT is_new GROUP BY fp)
        SELECT f.doc_id AS id_new, k.id_existing, f.fp,
               k.id_existing IS NOT NULL AS is_dup
        FROM f LEFT JOIN k USING (fp) WHERE f.is_new
    """

    # distributed k-means replay: 2 unrolled Lloyd iterations. Every
    # step is the engine's portable convention — scaled-int L2 distances
    # (floor(diff^2 * 1e12), int64 sums), exact integer centroid sums,
    # mean = sx/1e6/n in float64 then portable-rounded — so DuckDB
    # reproduces the trained centroids bit-for-bit; empty clusters keep
    # the previous centroid (LEFT JOIN + coalesce).
    sql["kmeans_assign"] = f"""
        WITH e AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE))
                            AS v
                   FROM embeddings),
        ec AS (SELECT * FROM e WHERE len(v) = 64),
        c0 AS (
          SELECT (row_number() OVER (
                    ORDER BY ((vec_id % 1000003) * 2654435761) % 1000003,
                             vec_id)) - 1 AS cent_id, v AS cv
          FROM ec
          ORDER BY ((vec_id % 1000003) * 2654435761) % 1000003, vec_id
          LIMIT 8),
        {_km_iter(1, 'c0')},
        {_km_iter(2, 'c1')},
        -- final pass over ALL rows: wrong-length/NULL vectors zero-fill
        -- exactly like the Spark side's l2_assign (a bare e.v[j] would
        -- yield NULL distances instead — latent divergence, ADVICE r6)
        ez AS (SELECT vec_id,
                      CASE WHEN len(v) = 64 THEN v ELSE
                        list_transform(range(0, 64), x -> 0.0) END AS v
               FROM e),
        df AS (
          SELECT e.vec_id, c.cent_id,
                 CAST(list_sum(list_transform(range(1, 65),
                   j -> CAST(floor((e.v[j] - c.cv[j]) * (e.v[j] - c.cv[j])
                                   * 1000000000000) AS BIGINT)))
                   AS BIGINT) AS dist
          FROM ez e CROSS JOIN c2 c)
        SELECT vec_id, CAST(cent_id AS INT) AS cent_id,
               dist AS l2_scaled
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                        ORDER BY dist, cent_id) AS rn FROM df)
        WHERE rn = 1
    """

    # deterministic global reservoir: md5-hash order, exact k
    sql["sample_global_k"] = f"""
        SELECT doc_id, lang, source FROM documents
        ORDER BY {_u32}, doc_id LIMIT 200
    """

    # Efraimidis-Spirakis weighted without-replacement sample: the
    # exponential key replays the Spark expression exactly (same
    # hash-uniform u, same -ln(u)/w op order)
    sql["sample_weighted_k"] = f"""
        WITH d AS (SELECT doc_id, n_chars, {_u32} AS u32
                   FROM documents
                   WHERE n_chars IS NOT NULL AND n_chars > 0),
        e AS (SELECT doc_id, n_chars,
                     -ln((CAST(u32 AS DOUBLE) + 0.5) / 4294967296.0)
                       / CAST(n_chars AS DOUBLE) AS ekey
              FROM d)
        SELECT doc_id, n_chars, {_pr("ekey * 1000.0", 6)} AS ekey_milli
        FROM e ORDER BY ekey, doc_id LIMIT 100
    """

    # BM25 top-k: generated from the same constants as the Spark
    # operator (see _bm25_sql / operators/retrieval.py)
    sql["text_bm25_topk"] = _bm25_sql(BM25_QUERY_TERMS)

    # HyperLogLog register-level replay (see _hll_sql /
    # operators/sketches.py)
    sql["sketch_hll_distinct"] = _hll_sql(8)

    # Count-Min cells + min-over-rows replay (see _cms_sql)
    sql["sketch_cms_counts"] = _cms_sql(4, 1024)

    # batched BM25 retrieval (see _bm25_join_sql)
    sql["text_bm25_join"] = _bm25_join_sql(5)

    # derived-rate mix rebalancing (see _rebalance_sql)
    sql["sample_rebalance"] = _rebalance_sql(REBALANCE_TARGETS)

    # KMV bottom-k Jaccard replay (see _kmv_sql)
    sql["sketch_kmv_jaccard"] = _kmv_sql(256)

    # rare-token density: exact integer scaled-IDF (1e6*N // df) per
    # occurrence, one portable-rounded float division at the end
    sql["text_rarity"] = f"""
        WITH t AS (
          SELECT doc_id,
                 unnest(list_filter(
                   string_split_regex(trim(lower(text)), '\\s+'),
                   x -> x <> '')) AS token
          FROM documents),
        v AS (SELECT token, CAST(count(*) AS BIGINT) AS df
              FROM (SELECT DISTINCT doc_id, token FROM t) GROUP BY token),
        n AS (SELECT count(*) AS nd FROM documents),
        s AS (SELECT t.doc_id,
                     (1000000 * n.nd) // v.df AS idf
              FROM t JOIN v USING (token) CROSS JOIN n)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               {_pr("CAST(sum(idf) AS DOUBLE) / (count(*) * 1000000.0)", 6)}
                 AS rarity
        FROM s GROUP BY doc_id
    """

    # patch tiling: payload bytes as a 32-wide row-major image (full
    # rows only), 8x8 patches; avg(byte) = exact int sum / count in
    # float64 on both engines, portable-rounded at 9 dp
    sql["mm_patches"] = f"""
        WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx,
                          octet_length(encode(text)) AS n
                   FROM documents),
        b AS (SELECT media_id,
                     CAST(j // 32 AS INT) AS r, CAST(j % 32 AS INT) AS c,
                     ('0x' || substr(hx, CAST(2 * j + 1 AS INT), 2))::INT
                       AS byte
              FROM m, (SELECT unnest(range(0, n)) AS j)
              WHERE j < (n // 32) * 32)
        SELECT media_id,
               CAST(r // 8 AS INT) AS patch_row,
               CAST(c // 8 AS INT) AS patch_col,
               CAST(count(*) AS BIGINT) AS n_bytes,
               {_pr("avg(byte)", 9)} AS mean_intensity
        FROM b GROUP BY media_id, r // 8, c // 8
    """

    # real PPM decode: the Spark side parses an actual P6 header it
    # built from (doc_id, text); the oracle recomputes width from doc_id
    # and the raster mean from the first w*3*3 UTF-8 bytes directly
    sql["mm_decode_ppm"] = f"""
        WITH m AS (SELECT doc_id AS media_id,
                          CAST(doc_id % 8 + 4 AS INT) AS w,
                          hex(encode(text)) AS hx,
                          octet_length(encode(text)) AS n
                   FROM documents),
        f AS (SELECT * FROM m WHERE n >= w * 9),
        b AS (SELECT media_id, w,
                     ('0x' || substr(hx, CAST(2 * j + 1 AS INT), 2))::INT
                       AS byte
              FROM f, (SELECT unnest(range(0, w * 9)) AS j))
        SELECT media_id, w AS decoded_width,
               CAST(3 AS INT) AS decoded_height,
               {_pr("avg(byte)", 9)} AS mean_intensity
        FROM b GROUP BY media_id, w
    """

    # real PNG decode: the Spark side inflates + unfilters an actual
    # deflate stream it built; the oracle recomputes the raster mean
    # from the first w*9 UTF-8 bytes directly and the decoded height
    # from the id parity (even = 3-row RGB, odd = 9-row greyscale)
    sql["mm_decode_png"] = f"""
        WITH m AS (SELECT doc_id AS media_id,
                          CAST(doc_id % 8 + 4 AS INT) AS w,
                          hex(encode(text)) AS hx,
                          octet_length(encode(text)) AS n
                   FROM documents),
        f AS (SELECT * FROM m WHERE n >= w * 9),
        b AS (SELECT media_id, w,
                     ('0x' || substr(hx, CAST(2 * j + 1 AS INT), 2))::INT
                       AS byte
              FROM f, (SELECT unnest(range(0, w * 9)) AS j))
        SELECT media_id, w AS decoded_width,
               CAST(CASE WHEN media_id % 2 = 0 THEN 3 ELSE 9 END AS INT)
                 AS decoded_height,
               {_pr("avg(byte)", 9)} AS mean_intensity
        FROM b GROUP BY media_id, w
    """

    # real JPEG decode: constant even-valued 8x8 blocks at quality 50
    # round-trip exactly (DC step 16 = pixel granularity 2), so the
    # oracle replays the decoded raster straight from the source text
    # bytes (hex-decode, even-ing). The mean divides the SAME two
    # integers the Arrow stage divides (64*sum / 128*nb) so the IEEE
    # quotients are bit-identical before portable_round.
    sql["mm_decode_jpeg"] = f"""
        WITH m AS (SELECT doc_id AS media_id,
                          CAST(doc_id % 8 + 4 AS INT) AS nb,
                          hex(encode(text)) AS hx,
                          octet_length(encode(text)) AS n
                   FROM documents),
        f AS (SELECT * FROM m WHERE n >= 2 * nb),
        b AS (SELECT media_id, nb,
                     ('0x' || substr(hx, CAST(2 * j + 1 AS INT), 2))::INT
                       AS byte
              FROM f, (SELECT unnest(range(0, 22)) AS j) r
              WHERE j < 2 * nb)
        SELECT media_id, CAST(8 * nb AS INT) AS decoded_width,
               CAST(16 AS INT) AS decoded_height,
               {_pr("CAST(64 * sum(byte - byte % 2) AS DOUBLE)"
                    " / CAST(128 * nb AS DOUBLE)", 9)} AS mean_intensity
        FROM b GROUP BY media_id, nb
    """

    # extended WAV decode: 24-bit signed-LE integers reconstructed from
    # byte triples; float32 reconstructed EXACTLY from sign/exponent/
    # mantissa bytes (pow(2.0, e-127) and 1 + m/2^23 are exact in
    # float64, so the product IS the float32 value — verified across
    # the full ASCII byte space), then the identical float64
    # clip(±1e6) * 1e6, floor(x+0.5) the Arrow stage computes.
    sql["mm_decode_wav_ext"] = """
        WITH m AS (SELECT doc_id AS media_id,
                          CASE WHEN doc_id % 2 = 0 THEN 24 ELSE 32 END
                            AS bits,
                          CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END
                            AS ch,
                          CASE WHEN doc_id % 2 = 0
                               THEN 20 + (doc_id % 6) * 4
                               ELSE 16 + (doc_id % 5) * 4 END AS nf,
                          CAST(8000 * (1 + doc_id % 3) AS INT) AS sr,
                          hex(encode(text)) AS hx,
                          octet_length(encode(text)) AS n
                   FROM documents),
        f AS (SELECT * FROM m WHERE n >= nf * ch * (bits // 8)),
        s24 AS (SELECT media_id, sr, ch, bits, nf,
                       CASE WHEN v >= 8388608 THEN v - 16777216
                            ELSE v END AS samp
                FROM (
                  SELECT media_id, sr, ch, bits, nf,
                         ('0x' || substr(hx, CAST(6 * j + 1 AS INT), 2))::INT
                         + 256 *
                         ('0x' || substr(hx, CAST(6 * j + 3 AS INT), 2))::INT
                         + 65536 *
                         ('0x' || substr(hx, CAST(6 * j + 5 AS INT), 2))::INT
                           AS v
                  FROM f, (SELECT unnest(range(0, 88)) AS j) r
                  WHERE bits = 24 AND j < nf * ch)),
        sf32 AS (SELECT media_id, sr, ch, bits, nf,
                        CASE WHEN e = 0
                             THEN sgn * pow(2.0, -126) * (mant / 8388608.0)
                             ELSE sgn * pow(2.0, e - 127)
                                  * (1.0 + mant / 8388608.0) END AS samp
                 FROM (
                   SELECT media_id, sr, ch, bits, nf,
                          b0 + 256 * b1 + 65536 * (b2 % 128) AS mant,
                          (b3 % 128) * 2 + (b2 // 128) AS e,
                          CASE WHEN b3 >= 128 THEN -1.0 ELSE 1.0 END AS sgn
                   FROM (
                     SELECT media_id, sr, ch, bits, nf,
                            ('0x' || substr(hx, CAST(8 * j + 1 AS INT), 2))::INT AS b0,
                            ('0x' || substr(hx, CAST(8 * j + 3 AS INT), 2))::INT AS b1,
                            ('0x' || substr(hx, CAST(8 * j + 5 AS INT), 2))::INT AS b2,
                            ('0x' || substr(hx, CAST(8 * j + 7 AS INT), 2))::INT AS b3
                     FROM f, (SELECT unnest(range(0, 64)) AS j) r
                     WHERE bits = 32 AND j < nf * ch))),
        allsamp AS (
          SELECT media_id, sr, ch, bits, nf, CAST(samp AS DOUBLE) AS v
          FROM s24
          UNION ALL
          SELECT media_id, sr, ch, bits, nf, samp AS v FROM sf32)
        SELECT media_id, sr AS sample_rate, CAST(ch AS INT) AS n_channels,
               CAST(bits AS INT) AS bits_per_sample,
               CAST(nf AS INT) AS n_frames,
               CAST(sum(CAST(floor(
                 LEAST(1000000.0, GREATEST(-1000000.0, v)) * 1000000.0
                 + 0.5) AS BIGINT)) AS BIGINT) AS amp_q
        FROM allsamp GROUP BY media_id, sr, ch, bits, nf
    """

    # G.711 companded decode: the canonical integer expansion formulas
    # (Sun g711.c ulaw2linear/alaw2linear) replayed per code byte —
    # pure BIGINT arithmetic, linear values < 1e6 so the scaled-amp
    # convention multiplies exactly
    sql["mm_decode_wav_law"] = """
        WITH m AS (SELECT doc_id AS media_id,
                          CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END
                            AS ch,
                          CAST(24 + (doc_id % 8) * 4 AS INT) AS nf,
                          CAST(8000 * (1 + doc_id % 3) AS INT) AS sr,
                          doc_id % 2 = 0 AS is_mu,
                          hex(encode(text)) AS hx,
                          octet_length(encode(text)) AS n
                   FROM documents),
        f AS (SELECT * FROM m WHERE n >= nf * ch),
        b AS (SELECT media_id, sr, ch, nf, is_mu,
                     ('0x' || substr(hx, CAST(2 * j + 1 AS INT), 2))::INT
                       AS byte
              FROM f, (SELECT unnest(range(0, 104)) AS j) r
              WHERE j < nf * ch),
        mu AS (SELECT media_id, sr, ch, nf,
                      CASE WHEN u >= 128 THEN 132 - t ELSE t - 132 END
                        AS v
               FROM (SELECT media_id, sr, ch, nf, u,
                            ((u % 16) * 8 + 132) << ((u // 16) % 8) AS t
                     FROM (SELECT media_id, sr, ch, nf,
                                  255 - byte AS u
                           FROM b WHERE is_mu))),
        al AS (SELECT media_id, sr, ch, nf,
                      CASE WHEN a >= 128 THEN t2 ELSE -t2 END AS v
               FROM (SELECT media_id, sr, ch, nf, a,
                            CASE WHEN (a // 16) % 8 = 0
                                 THEN (a % 16) * 16 + 8
                                 WHEN (a // 16) % 8 = 1
                                 THEN (a % 16) * 16 + 264
                                 ELSE ((a % 16) * 16 + 264)
                                      << ((a // 16) % 8 - 1) END AS t2
                     FROM (SELECT media_id, sr, ch, nf,
                                  xor(byte, 85) AS a
                           FROM b WHERE NOT is_mu))),
        allv AS (SELECT media_id, sr, ch, nf, 8 AS bits, v FROM mu
                 UNION ALL
                 SELECT media_id, sr, ch, nf, 8 AS bits, v FROM al)
        SELECT media_id, sr AS sample_rate, CAST(ch AS INT) AS n_channels,
               CAST(bits AS INT) AS bits_per_sample,
               CAST(nf AS INT) AS n_frames,
               CAST(sum(CAST(v AS BIGINT) * 1000000) AS BIGINT) AS amp_q
        FROM allv GROUP BY media_id, sr, ch, nf, bits
    """

    # IMA ADPCM: the oracle replays the whole codec as one recursive
    # state machine (generator shares the step/index tables with the
    # engine codec)
    from lswms_forage_etl_spark.operators.multimodal import (
        adpcm_oracle_sql)
    sql["mm_decode_wav_adpcm"] = adpcm_oracle_sql()

    # real WAV decode: the Spark side chunk-walks + fmt-parses an actual
    # RIFF stream it built; the oracle recomputes every sample from the
    # source text bytes — 8-bit docs (even ids) read bytes unsigned,
    # 16-bit docs reconstruct signed LE int16 from byte pairs — and the
    # format fields from the same id arithmetic the synth used.
    sql["mm_decode_wav"] = f"""
        WITH m AS (SELECT doc_id AS media_id,
                          CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 16 END
                            AS bits,
                          CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END
                            AS ch,
                          CAST(24 + (doc_id % 8) * 4 AS INT) AS nf,
                          CAST(8000 * (1 + doc_id % 3) AS INT) AS sr,
                          hex(encode(text)) AS hx,
                          octet_length(encode(text)) AS n
                   FROM documents),
        f AS (SELECT * FROM m WHERE n >= nf * ch * (bits // 8)),
        s8 AS (SELECT media_id, sr, ch, bits, nf,
                      ('0x' || substr(hx, CAST(2 * j + 1 AS INT), 2))::INT
                        AS samp
               FROM f, (SELECT unnest(range(0, 104)) AS j) r
               WHERE bits = 8 AND j < nf * ch),
        s16 AS (SELECT media_id, sr, ch, bits, nf,
                       CASE WHEN v >= 32768 THEN v - 65536 ELSE v END
                         AS samp
                FROM (
                  SELECT media_id, sr, ch, bits, nf,
                         ('0x' || substr(hx, CAST(4 * j + 1 AS INT), 2))::INT
                         + 256 *
                         ('0x' || substr(hx, CAST(4 * j + 3 AS INT), 2))::INT
                           AS v
                  FROM f, (SELECT unnest(range(0, 104)) AS j) r
                  WHERE bits = 16 AND j < nf * ch)),
        u AS (SELECT * FROM s8 UNION ALL SELECT * FROM s16)
        SELECT media_id, sr AS sample_rate, ch AS n_channels,
               CAST(bits AS INT) AS bits_per_sample, nf AS n_frames,
               {_pr("avg(samp)", 9)} AS mean_amp
        FROM u GROUP BY media_id, sr, ch, bits, nf
    """

    # windowed audio energy: same byte replay, grouped into 16-frame
    # windows over the interleaved sample index (j // (16*ch)); exact
    # int64 square sums, RMS = one float64 sqrt, silence on the
    # UNROUNDED rms exactly like the Spark side
    _wav_bytes = """
        m AS (SELECT doc_id AS media_id,
                     CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 16 END AS bits,
                     CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS ch,
                     CAST(24 + (doc_id % 8) * 4 AS INT) AS nf,
                     hex(encode(text)) AS hx,
                     octet_length(encode(text)) AS n
              FROM documents),
        f AS (SELECT * FROM m WHERE n >= nf * ch * (bits // 8)),
        s8 AS (SELECT media_id, ch, j,
                      ('0x' || substr(hx, CAST(2 * j + 1 AS INT), 2))::BIGINT
                        AS samp
               FROM f, (SELECT unnest(range(0, 104)) AS j) r
               WHERE bits = 8 AND j < nf * ch),
        s16 AS (SELECT media_id, ch, j,
                       CASE WHEN v >= 32768 THEN v - 65536 ELSE v END
                         AS samp
                FROM (
                  SELECT media_id, ch, j,
                         ('0x' || substr(hx, CAST(4 * j + 1 AS INT), 2))::BIGINT
                         + 256 *
                         ('0x' || substr(hx, CAST(4 * j + 3 AS INT), 2))::BIGINT
                           AS v
                  FROM f, (SELECT unnest(range(0, 104)) AS j) r
                  WHERE bits = 16 AND j < nf * ch)),
        u AS (SELECT * FROM s8 UNION ALL SELECT * FROM s16)
    """
    sql["mm_audio_energy"] = f"""
        WITH {_wav_bytes},
        w AS (SELECT media_id, CAST(j // (16 * ch) AS INT) AS win_idx,
                     samp
              FROM u),
        g AS (SELECT media_id, win_idx,
                     CAST(count(*) AS INT) AS n_samples,
                     CAST(sum(samp * samp) AS BIGINT) AS ssq
              FROM w GROUP BY media_id, win_idx)
        SELECT media_id, win_idx, n_samples, ssq,
               {_pr("sqrt(CAST(ssq AS DOUBLE) / n_samples)", 9)} AS rms,
               sqrt(CAST(ssq AS DOUBLE) / n_samples) < 32.0 AS is_silence
        FROM g
    """

    # vocabulary: two-phase doc-frequency aggregation (sum is HUGEINT in
    # DuckDB -> CAST)
    sql["corpus_vocab"] = r"""
        WITH t AS (
          SELECT doc_id,
                 unnest(list_filter(
                   string_split_regex(trim(lower(text)), '\s+'),
                   x -> x <> '')) AS token
          FROM documents),
        g AS (SELECT doc_id, token, count(*) AS nl
              FROM t GROUP BY doc_id, token)
        SELECT token,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(nl) AS BIGINT) AS n_occurrences
        FROM g GROUP BY token
        ORDER BY n_docs DESC, token
        LIMIT 100
    """

    # ordered funnel: each step's reach time is the earliest event of
    # that type STRICTLY AFTER the previous step; conv is exact-int ppm
    sql["events_funnel"] = """
        WITH r1 AS (SELECT user_id, min(ts) AS t FROM events
                    WHERE event_type = 'view' GROUP BY 1),
        r2 AS (SELECT e.user_id, min(e.ts) AS t
               FROM events e JOIN r1 USING (user_id)
               WHERE e.event_type = 'click' AND e.ts > r1.t GROUP BY 1),
        r3 AS (SELECT e.user_id, min(e.ts) AS t
               FROM events e JOIN r2 USING (user_id)
               WHERE e.event_type = 'purchase' AND e.ts > r2.t GROUP BY 1),
        c AS (SELECT 1 AS step_idx, 'view' AS step, count(*) AS n FROM r1
              UNION ALL SELECT 2, 'click', count(*) FROM r2
              UNION ALL SELECT 3, 'purchase', count(*) FROM r3)
        SELECT step_idx, step, CAST(n AS BIGINT) AS n_users,
               CAST(CASE WHEN lag(n) OVER (ORDER BY step_idx) IS NULL
                          OR lag(n) OVER (ORDER BY step_idx) = 0
                         THEN 1000000
                         ELSE n * 1000000 // lag(n) OVER (ORDER BY step_idx)
                    END AS BIGINT) AS conv_ppm
        FROM c
    """

    sql["events_retention"] = """
        WITH f AS (SELECT user_id,
                          date_trunc('week', min(CAST(ts AS DATE)))
                            AS cohort_week
                   FROM events GROUP BY 1),
        a AS (SELECT DISTINCT user_id,
                     date_trunc('week', CAST(ts AS DATE)) AS week
              FROM events),
        g AS (SELECT cohort_week,
                     CAST(date_diff('day', cohort_week, week) // 7 AS INT)
                       AS week_offset,
                     count(DISTINCT a.user_id) AS n_users
              FROM a JOIN f USING (user_id) GROUP BY 1, 2),
        s AS (SELECT cohort_week, count(*) AS cohort_size
              FROM f GROUP BY 1)
        SELECT CAST(g.cohort_week AS DATE) AS cohort_week, week_offset,
               CAST(n_users AS BIGINT) AS n_users,
               CAST(cohort_size AS BIGINT) AS cohort_size,
               CAST(n_users * 1000000 // cohort_size AS BIGINT)
                 AS retention_ppm
        FROM g JOIN s USING (cohort_week)
    """

    sql["agg_pivot_events"] = """
        SELECT CAST(ts AS DATE) AS day,
               CAST(count(*) FILTER (WHERE event_type = 'click')
                    AS BIGINT) AS click,
               CAST(count(*) FILTER (WHERE event_type = 'error')
                    AS BIGINT) AS error,
               CAST(count(*) FILTER (WHERE event_type = 'purchase')
                    AS BIGINT) AS purchase,
               CAST(count(*) FILTER (WHERE event_type = 'signup')
                    AS BIGINT) AS signup,
               CAST(count(*) FILTER (WHERE event_type = 'view')
                    AS BIGINT) AS view
        FROM events GROUP BY 1
    """

    # UNPIVOT: day x type grid with zeroes kept (the melt is lossless)
    sql["agg_unpivot"] = """
        WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
        ty AS (SELECT unnest(['click', 'error', 'purchase', 'signup',
                              'view']) AS event_type),
        c AS (SELECT CAST(ts AS DATE) AS day, event_type,
                     CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2)
        SELECT d.day, ty.event_type,
               CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events
        FROM d CROSS JOIN ty
        LEFT JOIN c ON c.day = d.day AND c.event_type = ty.event_type
    """

    # Markov transitions: same lag window + ppm row normalization
    sql["events_markov"] = """
        WITH s AS (SELECT user_id, event_type AS dst_type,
                          lag(event_type) OVER
                            (PARTITION BY user_id ORDER BY ts, event_id)
                            AS src_type
                   FROM events),
        c AS (SELECT src_type, dst_type,
                     CAST(count(*) AS BIGINT) AS n_transitions
              FROM s WHERE src_type IS NOT NULL GROUP BY 1, 2),
        t AS (SELECT src_type,
                     CAST(sum(n_transitions) AS BIGINT) AS rt
              FROM c GROUP BY 1)
        SELECT c.src_type, c.dst_type, n_transitions,
               CAST(n_transitions * 1000000 // rt AS BIGINT) AS prob_ppm
        FROM c JOIN t USING (src_type)
    """

    # source-divergence: same ppb quantization, same absent-mass fold
    sql["text_source_divergence"] = r"""
        WITH t AS (SELECT source AS grp,
                     unnest(list_filter(
                       string_split_regex(trim(lower(text)), '\s+'),
                       x -> x <> '')) AS token
                   FROM documents),
        b AS (SELECT grp, token, CAST(count(*) AS BIGINT) AS c_gt
              FROM t GROUP BY 1, 2),
        c AS (SELECT token, CAST(sum(c_gt) AS BIGINT) AS c_t
              FROM b GROUP BY 1),
        ng AS (SELECT grp, CAST(sum(c_gt) AS BIGINT) AS n_g
               FROM b GROUP BY 1),
        nn AS (SELECT CAST(sum(c_t) AS BIGINT) AS n FROM c),
        pt AS (SELECT CAST(sum(c_t * 1000000000 // n) AS BIGINT)
                 AS p_total FROM c, nn),
        d AS (SELECT b.grp, ng.n_g,
                     abs(c_gt * 1000000000 // n_g
                         - c_t * 1000000000 // n)
                       - c_t * 1000000000 // n AS _d
              FROM b JOIN c USING (token) JOIN ng USING (grp), nn)
        SELECT d.grp AS source,
               CAST(max(n_g) AS BIGINT) AS n_tokens,
               CAST((sum(_d) + max(p_total)) // 2 AS BIGINT) AS tv_ppb
        FROM d, pt GROUP BY 1
    """

    # TextRank: the integer PageRank recurrence unrolled as one CTE per
    # iteration — identical BIGINT arithmetic to operators/graphrank.py
    # (S=1e9, Q=1e6, damping 85/100; sum() is HUGEINT in DuckDB -> CAST)
    tr_iters = "".join(
        f""",
        r{k + 1} AS (SELECT tp.dst AS token,
                     CAST(150000000 +
                          (85 * sum(r.r * tp.pq // 1000000)) // 100
                          AS BIGINT) AS r
              FROM tp JOIN r{k} r ON r.token = tp.src GROUP BY 1)"""
        for k in range(10))
    sql["text_textrank"] = rf"""
        WITH t AS (SELECT list_filter(
                     string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS toks
                   FROM documents),
        tok AS (SELECT unnest(toks) AS token FROM t),
        vocab AS (SELECT token FROM tok GROUP BY token
                  ORDER BY count(*) DESC, token LIMIT 24),
        i AS (SELECT toks, unnest(range(1, len(toks))) AS k
              FROM t WHERE len(toks) >= 2),
        pr AS (SELECT toks[k] AS a, toks[k + 1] AS b
               FROM i WHERE toks[k] <> toks[k + 1]),
        e0 AS (SELECT a AS src, b AS dst FROM pr
               UNION ALL SELECT b, a FROM pr),
        ev AS (SELECT src, dst FROM e0
               WHERE src IN (SELECT token FROM vocab)
                 AND dst IN (SELECT token FROM vocab)),
        e AS (SELECT src, dst, count(*) AS w FROM ev GROUP BY 1, 2),
        o AS (SELECT src, CAST(sum(w) AS BIGINT) AS outw
              FROM e GROUP BY 1),
        tp AS (SELECT e.src, e.dst,
                      CAST(e.w * 1000000 // o.outw AS BIGINT) AS pq
               FROM e JOIN o USING (src)),
        r0 AS (SELECT DISTINCT src AS token,
                      CAST(1000000000 AS BIGINT) AS r FROM tp){tr_iters}
        SELECT token, r AS rank_scaled FROM r10
    """

    # phrase search: replay position matching over the token list
    # (Spark positions are 0-based; DuckDB list indices 1-based)
    sql["text_phrase_search"] = r"""
        WITH t AS (SELECT doc_id, list_filter(
                     string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS toks
                   FROM documents),
        m AS (SELECT doc_id,
                     list_filter(range(1, len(toks)),
                                 i -> toks[i] = 'hash'
                                      AND toks[i + 1] = 'join') AS hits
              FROM t)
        SELECT doc_id,
               CAST(len(hits) AS BIGINT) AS n_matches,
               CAST(hits[1] - 1 AS INT) AS first_pos
        FROM m WHERE len(hits) > 0
    """

    # collocations: Dice = 2*f(ab)/(f(a)+f(b)) in exact-integer ppm
    sql["text_collocations"] = r"""
        WITH t AS (SELECT list_filter(
                     string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS toks
                   FROM documents),
        i AS (SELECT toks, unnest(range(1, len(toks))) AS k
              FROM t WHERE len(toks) >= 2),
        bg AS (SELECT toks[k] AS tok_a, toks[k + 1] AS tok_b
               FROM i WHERE toks[k] <> toks[k + 1]),
        cab AS (SELECT tok_a, tok_b, count(*) AS pair_count
                FROM bg GROUP BY 1, 2 HAVING count(*) >= 20),
        u AS (SELECT token, count(*) AS c
              FROM (SELECT unnest(toks) AS token FROM t) GROUP BY 1)
        SELECT tok_a, tok_b, CAST(pair_count AS BIGINT) AS pair_count,
               CAST(2 * pair_count * 1000000 // (ua.c + ub.c) AS BIGINT)
                 AS dice_ppm
        FROM cab JOIN u ua ON ua.token = tok_a
                 JOIN u ub ON ub.token = tok_b
    """

    # Simpson character-collision index, exact-integer ppm
    sql["text_char_diversity"] = """
        WITH c AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
                   FROM documents),
        pc AS (SELECT doc_id, ch, count(*) AS c
               FROM c WHERE ch <> '' GROUP BY 1, 2),
        a AS (SELECT doc_id,
                     CAST(sum(c * (c - 1)) AS BIGINT) AS coll,
                     CAST(sum(c) AS BIGINT) AS n_chars
              FROM pc GROUP BY 1)
        SELECT doc_id, n_chars,
               CASE WHEN n_chars >= 2
                    THEN CAST(coll * 1000000
                              // (n_chars * (n_chars - 1)) AS BIGINT)
               END AS collision_ppm
        FROM a
    """

    # TPC-H Q3 shape adapted to this schema (no shippriority column)
    sql["join_multiway_topk"] = """
        WITH j AS (
          SELECT l.l_orderkey,
                 CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                            * 10000 + 0.5) AS BIGINT) AS r4,
                 CAST(o.o_orderdate AS DATE) AS o_orderdate,
                 o.o_orderpriority
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          WHERE c.c_mktsegment = 'BUILDING'
            AND CAST(o.o_orderdate AS DATE) < DATE '1996-06-01'
            AND CAST(l.l_shipdate AS DATE) > DATE '1996-06-01')
        SELECT l_orderkey,
               CAST(sum(r4) AS BIGINT) / 10000.0 AS revenue,
               o_orderdate, o_orderpriority
        FROM j GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """

    # sliding-window HLL merge: day registers -> window expansion ->
    # max-merge -> same harmonic fold as _hll_sql (p=8, seed=0)
    _m, _rb = 256, 24
    _mask1 = (1 << _rb)
    _alpha = 0.7213 / (1.0 + 1.079 / _m)
    _num = _alpha * _m * _m * float(1 << 48)
    sql["sketch_hll_sliding"] = f"""
        WITH k AS (SELECT CAST(ts AS DATE) AS day, user_id AS k
                   FROM events),
        h AS (SELECT day,
                ('0x' || substr(md5(concat('0|', k)), 1, 8))::BIGINT
                  AS h32
              FROM k),
        r AS (SELECT day, CAST(h32 // {_mask1} AS INT) AS bucket,
                max(CASE WHEN (h32 % {_mask1}) = 0 THEN {_rb + 1}
                     ELSE {_rb + 1} - length(bin(h32 % {_mask1}))
                     END) AS reg
              FROM h GROUP BY 1, 2),
        x AS (SELECT CAST(day + to_days(CAST(j AS INT)) AS DATE) AS window_end, bucket, reg
              FROM r, (SELECT unnest(range(0, 7)) AS j)),
        mg AS (SELECT window_end, bucket, max(reg) AS reg
               FROM x GROUP BY 1, 2),
        tpl AS (SELECT window_end, bucket
                FROM (SELECT DISTINCT window_end FROM mg),
                     (SELECT CAST(unnest(range(0, {_m})) AS INT)
                        AS bucket)),
        f AS (SELECT tpl.window_end, COALESCE(mg.reg, 0) AS reg
              FROM tpl LEFT JOIN mg
                ON tpl.window_end = mg.window_end
               AND tpl.bucket = mg.bucket),
        s AS (SELECT window_end,
                CAST(sum(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_zero_regs,
                CAST(sum(CAST(1 AS BIGINT) << (48 - reg)) AS BIGINT)
                  AS hll_sum48
              FROM f GROUP BY window_end)
        SELECT window_end, n_zero_regs, hll_sum48,
               {_pr(f"{_num!r} / CAST(hll_sum48 AS DOUBLE)", 4)}
                 AS hll_est
        FROM s
    """

    # binned quantile sketch: identical histogram + exact-ppm rank cut
    sql["sketch_quantile_bins"] = """
        WITH sk AS (SELECT l_returnflag,
                           CAST(floor(l_extendedprice / 100.0) AS BIGINT)
                             AS bin,
                           count(*) AS c
                    FROM lineitem GROUP BY 1, 2),
        cum AS (SELECT l_returnflag, bin,
                       CAST(sum(c) OVER (PARTITION BY l_returnflag
                                         ORDER BY bin) AS BIGINT) AS _cum,
                       CAST(sum(c) OVER (PARTITION BY l_returnflag)
                            AS BIGINT) AS _n
                FROM sk)
        SELECT l_returnflag, CAST(max(_n) AS BIGINT) AS n,
               CAST(min(CASE WHEN _cum >= (_n * 500000 + 999999)
                                          // 1000000
                             THEN bin END) * 100 AS BIGINT) AS q500000,
               CAST(min(CASE WHEN _cum >= (_n * 900000 + 999999)
                                          // 1000000
                             THEN bin END) * 100 AS BIGINT) AS q900000,
               CAST(min(CASE WHEN _cum >= (_n * 990000 + 999999)
                                          // 1000000
                             THEN bin END) * 100 AS BIGINT) AS q990000
        FROM cum GROUP BY l_returnflag
    """

    # integer z-score anomaly flags (cleared denominators, no float)
    sql["events_anomaly"] = """
        WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                          count(*) AS n_events
                   FROM events GROUP BY 1, 2),
        w AS (SELECT event_type, day,
                     CAST(n_events AS BIGINT) AS n_events,
                     CAST(sum(n_events) OVER tw AS BIGINT) AS s,
                     CAST(sum(n_events * n_events) OVER tw AS BIGINT)
                       AS sxx,
                     CAST(count(*) OVER tw AS BIGINT) AS m
              FROM d
              WINDOW tw AS (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        SELECT event_type, day, n_events,
               CASE WHEN m = 7 THEN
                 (m * n_events - s) * (m * n_events - s)
                   > 4 * (m * sxx - s * s)
               END AS is_anomaly
        FROM w
    """

    sql["join_outer_full"] = """
        WITH cust AS (SELECT c_custkey,
                             floor(c_acctbal * 100 + 0.5) / 100.0
                               AS acctbal
                      FROM customer WHERE c_mktsegment = 'BUILDING'),
        oc AS (SELECT o_custkey AS c_custkey, count(*) AS n_orders
               FROM orders GROUP BY 1)
        SELECT coalesce(cust.c_custkey, oc.c_custkey) AS c_custkey,
               acctbal,
               CAST(coalesce(n_orders, 0) AS BIGINT) AS n_orders,
               acctbal IS NOT NULL AS in_segment,
               n_orders IS NOT NULL AS has_orders
        FROM cust FULL OUTER JOIN oc USING (c_custkey)
    """

    # DuckDB GROUPING SETS + grouping() bitmask (same bit order)
    sql["agg_grouping_sets"] = """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus)
                    AS INT) AS gid,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS qty100
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """

    sql["window_ntile_rank"] = f"""
        WITH li AS (SELECT l_returnflag, l_orderkey, l_linenumber,
                           l_extendedprice
                    FROM lineitem WHERE l_orderkey % 100 = 0)
        SELECT l_returnflag, l_orderkey, l_linenumber,
               CAST(ntile(4) OVER tw AS INT) AS quartile,
               {_pr("percent_rank() OVER tw", 9)} AS pct_rank,
               {_pr("cume_dist() OVER tw", 9)} AS cume
        FROM li
        WINDOW tw AS (PARTITION BY l_returnflag
                      ORDER BY l_extendedprice, l_orderkey, l_linenumber)
    """

    # fuzzy pairs: semantics-level oracle (plain quadratic over the
    # tiny vocab) — if the Spark side's length blocking ever dropped a
    # candidate, the hash would mismatch
    sql["join_fuzzy_tokens"] = r"""
        WITH v AS (SELECT token, count(*) AS c
                   FROM (SELECT unnest(list_filter(
                           string_split_regex(trim(lower(p_name)), '\s+'),
                           x -> x <> '')) AS token
                         FROM part)
                   GROUP BY 1)
        SELECT a.token AS tok_a, b.token AS tok_b,
               CAST(a.c AS BIGINT) AS ca, CAST(b.c AS BIGINT) AS cb
        FROM v a JOIN v b
          ON a.token < b.token AND levenshtein(a.token, b.token) <= 1
    """

    # warehouse audit: one row per check, anti-join orphan counts
    sql["quality_audit"] = """
        SELECT 'fk_orders_customer' AS check_name,
               CAST((SELECT count(*) FROM orders o WHERE NOT EXISTS
                     (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
                 AS n_violations,
               CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_total
        UNION ALL
        SELECT 'fk_lineitem_orders',
               CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                     (SELECT 1 FROM orders o
                      WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT),
               CAST((SELECT count(*) FROM lineitem) AS BIGINT)
        UNION ALL
        SELECT 'fk_lineitem_part',
               CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                     (SELECT 1 FROM part p
                      WHERE p.p_partkey = l.l_partkey)) AS BIGINT),
               CAST((SELECT count(*) FROM lineitem) AS BIGINT)
        UNION ALL
        SELECT 'fk_customer_nation',
               CAST((SELECT count(*) FROM customer c WHERE NOT EXISTS
                     (SELECT 1 FROM nation n
                      WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT),
               CAST((SELECT count(*) FROM customer) AS BIGINT)
        UNION ALL
        SELECT 'uniq_orderkey',
               CAST((SELECT sum(c - 1) FROM (SELECT count(*) AS c
                     FROM orders GROUP BY o_orderkey)) AS BIGINT),
               CAST((SELECT count(*) FROM orders) AS BIGINT)
        UNION ALL
        SELECT 'uniq_lineitem_key',
               CAST((SELECT sum(c - 1) FROM (SELECT count(*) AS c
                     FROM lineitem
                     GROUP BY l_orderkey, l_linenumber)) AS BIGINT),
               CAST((SELECT count(*) FROM lineitem) AS BIGINT)
        UNION ALL
        SELECT 'domain_discount_0_1',
               CAST((SELECT count(*) FILTER (WHERE NOT
                     (l_discount BETWEEN 0.0 AND 1.0)) FROM lineitem)
                    AS BIGINT),
               CAST((SELECT count(*) FROM lineitem) AS BIGINT)
        UNION ALL
        SELECT 'domain_quantity_pos',
               CAST((SELECT count(*) FILTER (WHERE l_quantity <= 0)
                     FROM lineitem) AS BIGINT),
               CAST((SELECT count(*) FROM lineitem) AS BIGINT)
        UNION ALL
        SELECT 'null_text',
               CAST((SELECT count(*) FILTER (WHERE text IS NULL
                     OR length(text) = 0) FROM documents) AS BIGINT),
               CAST((SELECT count(*) FROM documents) AS BIGINT)
        UNION ALL
        SELECT 'null_user',
               CAST((SELECT count(*) FILTER (WHERE user_id IS NULL)
                     FROM events) AS BIGINT),
               CAST((SELECT count(*) FROM events) AS BIGINT)
    """

    # winsorize: replay the binned sketch at [p1, p99] and clamp
    sql["scalar_clip_outliers"] = f"""
        WITH sk AS (SELECT l_returnflag,
                           CAST(floor(l_extendedprice / 100.0) AS BIGINT)
                             AS bin,
                           count(*) AS c
                    FROM lineitem GROUP BY 1, 2),
        cum AS (SELECT l_returnflag, bin,
                       CAST(sum(c) OVER (PARTITION BY l_returnflag
                                         ORDER BY bin) AS BIGINT) AS _cum,
                       CAST(sum(c) OVER (PARTITION BY l_returnflag)
                            AS BIGINT) AS _n
                FROM sk),
        q AS (SELECT l_returnflag,
                     min(CASE WHEN _cum >= (_n * 10000 + 999999)
                                           // 1000000
                              THEN bin END) * 100 AS qlo,
                     min(CASE WHEN _cum >= (_n * 990000 + 999999)
                                           // 1000000
                              THEN bin END) * 100 AS qhi
              FROM cum GROUP BY 1)
        SELECT l_orderkey, l_linenumber, li.l_returnflag,
               {_pr("CASE WHEN l_extendedprice < qlo THEN CAST(qlo AS DOUBLE) WHEN l_extendedprice > qhi THEN CAST(qhi AS DOUBLE) ELSE l_extendedprice END", 2)}
                 AS price_clipped
        FROM lineitem li JOIN q USING (l_returnflag)
    """

    # association rules: replay gap-sessionization (lag + running sum),
    # then co-presence counts; lift is the same two-step integer floor
    sql["events_assoc_rules"] = """
        WITH l AS (SELECT user_id, event_id, ts, event_type,
                          lag(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS pts
                   FROM events),
        n AS (SELECT *, CASE WHEN pts IS NULL
                              OR date_diff('second', pts, ts) > 1800
                             THEN 1 ELSE 0 END AS ns
              FROM l),
        s AS (SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id
                                           ROWS UNBOUNDED PRECEDING)
                             AS INT) AS session_idx
              FROM n),
        items AS (SELECT DISTINCT user_id, session_idx,
                         event_type AS item FROM s),
        nsess AS (SELECT count(*) AS _N FROM
                  (SELECT DISTINCT user_id, session_idx FROM items)),
        pairs AS (SELECT a.item AS ant, b.item AS cons,
                         count(*) AS n_both
                  FROM items a JOIN items b
                    ON a.user_id = b.user_id
                   AND a.session_idx = b.session_idx
                   AND a.item <> b.item
                  GROUP BY 1, 2 HAVING count(*) >= 2),
        ni AS (SELECT item, count(*) AS n_item FROM items GROUP BY 1)
        SELECT ant, cons, CAST(n_both AS BIGINT) AS n_both,
               CAST((n_both * 1000000) // _N AS BIGINT) AS support_ppm,
               CAST((n_both * 1000000) // na.n_item AS BIGINT)
                 AS confidence_ppm,
               CAST((((n_both * 1000000) // na.n_item) * _N)
                    // nb.n_item AS BIGINT) AS lift_ppm
        FROM pairs
        JOIN ni na ON na.item = ant
        JOIN ni nb ON nb.item = cons
        CROSS JOIN nsess
    """

    sql["text_bigram_novelty"] = r"""
        WITH t AS (SELECT doc_id, list_filter(
                     string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS toks
                   FROM documents),
        i AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS k
              FROM t WHERE len(toks) >= 2),
        bg AS (SELECT doc_id, toks[k] AS a, toks[k + 1] AS b
               FROM i WHERE toks[k] <> toks[k + 1]),
        c AS (SELECT a, b, count(*) AS cb FROM bg GROUP BY 1, 2)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(CASE WHEN cb <= 25 THEN 1 ELSE 0 END)
                    * 1000000 // count(*) AS BIGINT) AS novel_ppm
        FROM bg JOIN c USING (a, b) GROUP BY doc_id
    """

    # triangle census: semantics-level oracle (direct a<b<c triple
    # join) — an orientation bug on the Spark side cannot hide
    sql["graph_triangles"] = r"""
        WITH t AS (SELECT list_filter(
                     string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS toks
                   FROM documents),
        i AS (SELECT toks, unnest(range(1, len(toks))) AS k
              FROM t WHERE len(toks) >= 2),
        pr AS (SELECT toks[k] AS x, toks[k + 1] AS y
               FROM i WHERE toks[k] <> toks[k + 1]),
        e AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
              FROM pr),
        d AS (SELECT node, count(*) AS deg FROM
              (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
              GROUP BY 1),
        tri AS (SELECT count(*) AS n_triangles
                FROM e e1
                JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
                JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b)
        SELECT CAST((SELECT count(*) FROM d) AS BIGINT) AS n_nodes,
               CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
               CAST(n_triangles AS BIGINT) AS n_triangles,
               CAST((SELECT sum(deg * (deg - 1) // 2) FROM d)
                    AS BIGINT) AS n_wedges,
               CAST((3 * n_triangles * 1000000)
                    // (SELECT sum(deg * (deg - 1) // 2) FROM d)
                    AS BIGINT) AS clustering_ppm
        FROM tri
    """

    sql["ann_dim_standardize"] = f"""
        WITH x AS (SELECT vec_id, j - 1 AS dim,
                          CAST(floor(CAST(embedding[j] AS DOUBLE)
                                     * 10000 + 0.5) AS BIGINT) AS xq
                   FROM embeddings,
                        (SELECT unnest(range(1, 65)) AS j)),
        st AS (SELECT dim, count(*) AS n,
                      CAST(sum(xq) AS BIGINT) AS s,
                      CAST(sum(xq * xq) AS BIGINT) AS sxx
               FROM x GROUP BY 1)
        SELECT vec_id, CAST(x.dim AS INT) AS dim,
               {_pr("(xq - CAST(s AS DOUBLE) / n) / sqrt((CAST(sxx AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n)", 6)}
                 AS z
        FROM x JOIN st ON x.dim = st.dim
    """

    sql["events_attribution"] = """
        SELECT i.user_id, i.event_id AS imp_id, i.ts AS imp_ts,
               c.event_id AS conv_id, c.ts AS conv_ts
        FROM events i JOIN events c
          ON i.user_id = c.user_id
         AND i.event_type = 'view' AND c.event_type = 'purchase'
         AND c.ts >= i.ts
         AND c.ts < i.ts + INTERVAL 30 MINUTE
    """

    # last-touch: the most recent in-window view per purchase; rk=1
    # over (ts DESC, event_id DESC) replays the window-scan pick
    sql["events_attr_last"] = """
        WITH i AS (SELECT user_id, ts, event_id FROM events
                   WHERE event_type = 'view'),
        c AS (SELECT user_id, ts, event_id FROM events
              WHERE event_type = 'purchase'),
        j AS (SELECT c.user_id, i.event_id AS imp_id, i.ts AS imp_ts,
                     c.event_id AS conv_id, c.ts AS conv_ts,
                     row_number() OVER (PARTITION BY c.event_id
                       ORDER BY i.ts DESC, i.event_id DESC) AS rk
              FROM c JOIN i ON i.user_id = c.user_id
                AND i.ts <= c.ts
                AND c.ts < i.ts + INTERVAL 30 MINUTE)
        SELECT user_id, imp_id, imp_ts, conv_id, conv_ts
        FROM j WHERE rk = 1
    """

    # bounded top-k pairs: rank the in-window views per purchase by
    # recency ((ts, event_id) DESC — the seq order's mirror) and keep
    # rank <= 3; in-window rows are a prefix of the recency order, so
    # this replays the engine's last-k-then-filter exactly
    sql["events_attr_topk"] = """
        WITH i AS (SELECT user_id, ts, event_id FROM events
                   WHERE event_type = 'view'),
        c AS (SELECT user_id, ts, event_id FROM events
              WHERE event_type = 'purchase'),
        j AS (SELECT c.user_id, i.event_id AS imp_id, i.ts AS imp_ts,
                     c.event_id AS conv_id, c.ts AS conv_ts,
                     row_number() OVER (PARTITION BY c.event_id
                       ORDER BY i.ts DESC, i.event_id DESC) AS rk
              FROM c JOIN i ON i.user_id = c.user_id
                AND i.ts <= c.ts
                AND c.ts < i.ts + INTERVAL 30 MINUTE)
        SELECT user_id, imp_id, imp_ts, conv_id, conv_ts,
               CAST(rk AS INT) AS touch_rank
        FROM j WHERE rk <= 3
    """

    sql["events_twap"] = """
        WITH r AS (SELECT user_id, CAST(ts AS DATE) AS day,
                     CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v4,
                     date_diff('second', ts,
                       coalesce(lead(ts) OVER
                                  (PARTITION BY user_id, CAST(ts AS DATE)
                                   ORDER BY ts, event_id),
                                CAST(CAST(ts AS DATE) + to_days(1)
                                     AS TIMESTAMP))) AS dt_sec
                   FROM events)
        SELECT user_id, day, CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(dt_sec) AS BIGINT) AS sec_covered,
               CAST(sum(v4 * dt_sec) // sum(dt_sec) AS BIGINT) AS twap4
        FROM r GROUP BY 1, 2
    """

    sql["events_resample_ffill"] = """
        WITH lp AS (SELECT user_id, day, v4 FROM (
            SELECT user_id, CAST(ts AS DATE) AS day,
                   CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v4,
                   row_number() OVER (PARTITION BY user_id,
                                      CAST(ts AS DATE)
                                      ORDER BY ts DESC, event_id DESC)
                     AS rn
            FROM events) WHERE rn = 1),
        grid AS (SELECT user_id, CAST(d AS DATE) AS day
                 FROM (SELECT DISTINCT user_id FROM events),
                      (SELECT unnest(generate_series(DATE '2024-01-01',
                        DATE '2024-01-30', INTERVAL 1 DAY)) AS d)),
        j AS (SELECT g.user_id, g.day, lp.v4
              FROM grid g LEFT JOIN lp
                ON lp.user_id = g.user_id AND lp.day = g.day)
        SELECT user_id, day,
               CAST(last_value(v4 IGNORE NULLS) OVER
                    (PARTITION BY user_id ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS v4_filled,
               v4 IS NOT NULL AS observed
        FROM j
    """

    sql["set_bag_ops"] = """
        SELECT 'intersect' AS op, l_partkey FROM (
          SELECT l_partkey FROM lineitem WHERE year(l_shipdate) = 1996
          INTERSECT ALL
          SELECT l_partkey FROM lineitem WHERE year(l_shipdate) = 1997)
        UNION ALL
        SELECT 'except', l_partkey FROM (
          SELECT l_partkey FROM lineitem WHERE year(l_shipdate) = 1996
          EXCEPT ALL
          SELECT l_partkey FROM lineitem WHERE year(l_shipdate) = 1997)
    """

    # BFS distances via a genuine recursive CTE — UNION dedups, min()
    # collapses to the shortest hop
    sql["graph_bfs_hops"] = r"""
        WITH RECURSIVE t AS (SELECT list_filter(
                     string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS toks
                   FROM documents),
        i AS (SELECT toks, unnest(range(1, len(toks))) AS k
              FROM t WHERE len(toks) >= 2),
        pr AS (SELECT toks[k] AS a, toks[k + 1] AS b
               FROM i WHERE toks[k] <> toks[k + 1]),
        e AS (SELECT DISTINCT a AS src, b AS dst FROM pr
              UNION SELECT DISTINCT b, a FROM pr),
        walk(token, dist) AS (
            SELECT 'join', 0
            UNION
            SELECT e.dst, w.dist + 1
            FROM walk w JOIN e ON e.src = w.token
            WHERE w.dist < 10)
        SELECT token, CAST(min(dist) AS INT) AS hops
        FROM walk GROUP BY token
    """

    sql["events_scd2"] = """
        WITH m AS (SELECT user_id, ts AS valid_from, event_id,
                     CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v4,
                     lag(CAST(floor(value * 10000 + 0.5) AS BIGINT))
                       OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS pv4
                   FROM events),
        c AS (SELECT user_id, v4, valid_from, event_id
              FROM m WHERE pv4 IS NULL OR pv4 <> v4)
        SELECT user_id, v4, valid_from,
               lead(valid_from) OVER (PARTITION BY user_id
                                      ORDER BY valid_from, event_id)
                 AS valid_to,
               lead(valid_from) OVER (PARTITION BY user_id
                                      ORDER BY valid_from, event_id)
                 IS NULL AS is_current
        FROM c
    """

    # CCNet-style bigram-LM perplexity scoring: whole-bit log2 via
    # length(bin(n)) on both engines, stupid backoff +4 bits. The `pd`
    # CTE chain is shared by the exact-ntile bucket oracle and the
    # sketched-threshold (scaled) one.
    _lm_train = ", ".join(f"'{s}'" for s in LM_TRAIN_SOURCES)
    _ppl_pd = rf"""
        t AS (SELECT doc_id, lang, source, list_filter(
                     string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS toks
                   FROM documents),
        i AS (SELECT doc_id, lang, source, toks,
                     unnest(range(1, len(toks))) AS k
              FROM t WHERE len(toks) >= 2),
        bg AS (SELECT doc_id, lang, source,
                      toks[k] AS a, toks[k + 1] AS b FROM i),
        c2 AS (SELECT lang, a, b, CAST(count(*) AS BIGINT) AS c2
               FROM bg WHERE source IN ({_lm_train}) GROUP BY 1, 2, 3),
        c1 AS (SELECT lang, a, CAST(sum(c2) AS BIGINT) AS c1
               FROM c2 GROUP BY 1, 2),
        c1u AS (SELECT lang, b, CAST(sum(c2) AS BIGINT) AS c1u
                FROM c2 GROUP BY 1, 2),
        tot AS (SELECT lang, CAST(sum(c2) AS BIGINT) AS t
                FROM c2 GROUP BY 1),
        seen AS (SELECT c2.lang, a, b,
                        length(bin(c1)) - length(bin(c2.c2)) AS s_seen
                 FROM c2 JOIN c1 USING (lang, a)),
        back AS (SELECT c1u.lang, b,
                        length(bin(t)) - length(bin(c1u)) + 4 AS s_back
                 FROM c1u JOIN tot USING (lang)),
        sc AS (SELECT doc_id, bg.lang,
                      coalesce(s_seen, s_back,
                               length(bin(t)) + 4, 5) AS s
               FROM bg
               LEFT JOIN seen ON bg.lang = seen.lang
                 AND bg.a = seen.a AND bg.b = seen.b
               LEFT JOIN back ON bg.lang = back.lang
                 AND bg.b = back.b
               LEFT JOIN tot ON bg.lang = tot.lang),
        pd AS (SELECT doc_id, lang,
                      CAST(count(*) AS BIGINT) AS n_bigrams,
                      CAST(sum(s) * 1000000 // count(*) AS BIGINT)
                        AS surprisal_ppm
               FROM sc GROUP BY 1, 2)"""
    sql["text_perplexity_bucket"] = f"""
        WITH {_ppl_pd}
        SELECT doc_id, lang, n_bigrams, surprisal_ppm,
               CASE ntile(3) OVER (PARTITION BY lang
                                   ORDER BY surprisal_ppm, doc_id)
                 WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                 ELSE 'tail' END AS bucket
        FROM pd
    """

    # sketched-threshold bucketing (the 100 TB form): tertile edges
    # from the binned-quantile sketch (bin width 50000 micro-bits,
    # exact-ppm rank cuts — the sketch_quantile_bins convention), then
    # a threshold-compare assignment. No per-language global sort.
    sql["text_perplexity_scaled"] = f"""
        WITH {_ppl_pd},
        sk AS (SELECT lang,
                      CAST(floor(surprisal_ppm / 50000.0) AS BIGINT)
                        AS bin, count(*) AS c
               FROM pd GROUP BY 1, 2),
        cum AS (SELECT lang, bin,
                       CAST(sum(c) OVER (PARTITION BY lang
                                         ORDER BY bin) AS BIGINT)
                         AS _cum,
                       CAST(sum(c) OVER (PARTITION BY lang)
                            AS BIGINT) AS _n
                FROM sk),
        q AS (SELECT lang,
                     CAST(min(CASE WHEN _cum >= (_n * 333334 + 999999)
                                                // 1000000
                              THEN bin END) * 50000 AS BIGINT) AS t1,
                     CAST(min(CASE WHEN _cum >= (_n * 666667 + 999999)
                                                // 1000000
                              THEN bin END) * 50000 AS BIGINT) AS t2
              FROM cum GROUP BY lang)
        SELECT doc_id, pd.lang, n_bigrams, surprisal_ppm,
               CASE WHEN surprisal_ppm <= t1 THEN 'head'
                    WHEN surprisal_ppm <= t2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM pd JOIN q ON q.lang = pd.lang
    """

    # fastText-style hashed linear classifier: weight(f) =
    # u32(md5('w|'||f)) % 2001 - 1000 summed over every unigram and
    # adjacent-bigram OCCURRENCE — exact integers end to end.
    # trigram Kneser-Ney (backoff form, D=1, whole-bit log2): all
    # lower-order stats are TYPE counts derived from the train trigram
    # type table c3 (rows distinct in (a,b,c) -> plain counts give the
    # continuation counts); scoring CASE mirrors the Spark coalesce
    # chain exactly
    sql["text_perplexity_kn"] = rf"""
        WITH t AS (SELECT doc_id, lang, source, list_filter(
                     string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS toks
                   FROM documents),
        i AS (SELECT doc_id, lang, source, toks,
                     unnest(range(1, len(toks) - 1)) AS k
              FROM t WHERE len(toks) >= 3),
        tg AS (SELECT doc_id, lang, source, toks[k] AS a,
                      toks[k + 1] AS b, toks[k + 2] AS c FROM i),
        c3 AS (SELECT lang, a, b, c, CAST(count(*) AS BIGINT) AS c3
               FROM tg WHERE source IN ({_lm_train})
               GROUP BY 1, 2, 3, 4),
        ctx2 AS (SELECT lang, a, b, CAST(sum(c3) AS BIGINT) AS c12,
                        CAST(count(*) AS BIGINT) AS n3t
                 FROM c3 GROUP BY 1, 2, 3),
        cont2 AS (SELECT lang, b, c,
                         CAST(count(*) AS BIGINT) AS n1p_bc
                  FROM c3 GROUP BY 1, 2, 3),
        mid AS (SELECT lang, b, CAST(count(*) AS BIGINT) AS n1p_b,
                       CAST(count(DISTINCT c) AS BIGINT) AS n2t
                FROM c3 GROUP BY 1, 2),
        cont1 AS (SELECT lang, c, CAST(count(*) AS BIGINT) AS n1p_c
                  FROM cont2 GROUP BY 1, 2),
        tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS nn
                FROM cont2 GROUP BY 1),
        sc AS (SELECT doc_id, tg.lang,
                 (CASE WHEN c3.c3 IS NOT NULL
                   THEN length(bin(c12)) -
                        CASE WHEN c3.c3 - 1 <= 0 THEN 0
                             ELSE length(bin(c3.c3 - 1)) END
                   ELSE coalesce(length(bin(c12)) - length(bin(n3t)), 0)
                    + (CASE WHEN n1p_bc IS NOT NULL
                        THEN length(bin(n1p_b)) -
                             CASE WHEN n1p_bc - 1 <= 0 THEN 0
                                  ELSE length(bin(n1p_bc - 1)) END
                        ELSE coalesce(length(bin(n1p_b))
                                      - length(bin(n2t)), 0)
                         + (CASE WHEN n1p_c IS NOT NULL
                             THEN length(bin(nn)) - length(bin(n1p_c))
                             ELSE coalesce(length(bin(nn)) + 4, 5)
                            END)
                       END)
                  END) AS s
               FROM tg
               LEFT JOIN c3 ON tg.lang = c3.lang AND tg.a = c3.a
                 AND tg.b = c3.b AND tg.c = c3.c
               LEFT JOIN ctx2 ON tg.lang = ctx2.lang
                 AND tg.a = ctx2.a AND tg.b = ctx2.b
               LEFT JOIN cont2 ON tg.lang = cont2.lang
                 AND tg.b = cont2.b AND tg.c = cont2.c
               LEFT JOIN mid ON tg.lang = mid.lang AND tg.b = mid.b
               LEFT JOIN cont1 ON tg.lang = cont1.lang
                 AND tg.c = cont1.c
               LEFT JOIN tot ON tg.lang = tot.lang)
        SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_trigrams,
               CAST(sum(s) * 1000000 // count(*) AS BIGINT)
                 AS surprisal_ppm
        FROM sc GROUP BY 1, 2
    """

    # 5-gram KN: the trigram replay one order up — c5 counts, then
    # each lower order's TYPE table derives from the next order's
    # distinct keys (cont4 -> cont3 -> cont2 -> cont1/tot), bitlen via
    # length(bin(n)) with the <=0 -> 0 guard everywhere a -1 discount
    # can zero a count
    def _bl(expr: str) -> str:
        return (f"CASE WHEN {expr} <= 0 THEN 0 "
                f"ELSE length(bin({expr})) END")

    sql["text_perplexity_kn5"] = rf"""
        WITH t AS (SELECT doc_id, lang, source, list_filter(
                     string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS toks
                   FROM documents),
        i AS (SELECT doc_id, lang, source, toks,
                     unnest(range(1, len(toks) - 3)) AS k
              FROM t WHERE len(toks) >= 5),
        ng AS (SELECT doc_id, lang, source, toks[k] AS a,
                      toks[k + 1] AS b, toks[k + 2] AS c,
                      toks[k + 3] AS d, toks[k + 4] AS e FROM i),
        c5 AS (SELECT lang, a, b, c, d, e,
                      CAST(count(*) AS BIGINT) AS c5
               FROM ng WHERE source IN ({_lm_train})
               GROUP BY 1, 2, 3, 4, 5, 6),
        ctx4 AS (SELECT lang, a, b, c, d,
                        CAST(sum(c5) AS BIGINT) AS c1234,
                        CAST(count(*) AS BIGINT) AS n5t
                 FROM c5 GROUP BY 1, 2, 3, 4, 5),
        cont4 AS (SELECT lang, b, c, d, e,
                         CAST(count(*) AS BIGINT) AS n1p_bcde
                  FROM c5 GROUP BY 1, 2, 3, 4, 5),
        mid4 AS (SELECT lang, b, c, d,
                        CAST(sum(n1p_bcde) AS BIGINT) AS n1p_bcd,
                        CAST(count(*) AS BIGINT) AS n4t
                 FROM cont4 GROUP BY 1, 2, 3, 4),
        cont3 AS (SELECT lang, c, d, e,
                         CAST(count(*) AS BIGINT) AS n1p_cde
                  FROM cont4 GROUP BY 1, 2, 3, 4),
        mid3 AS (SELECT lang, c, d,
                        CAST(sum(n1p_cde) AS BIGINT) AS n1p_cd,
                        CAST(count(*) AS BIGINT) AS n3t
                 FROM cont3 GROUP BY 1, 2, 3),
        cont2 AS (SELECT lang, d, e,
                         CAST(count(*) AS BIGINT) AS n1p_de
                  FROM cont3 GROUP BY 1, 2, 3),
        mid2 AS (SELECT lang, d,
                        CAST(sum(n1p_de) AS BIGINT) AS n1p_d,
                        CAST(count(*) AS BIGINT) AS n2t
                 FROM cont2 GROUP BY 1, 2),
        cont1 AS (SELECT lang, e, CAST(count(*) AS BIGINT) AS n1p_e
                  FROM cont2 GROUP BY 1, 2),
        tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS nn
                FROM cont2 GROUP BY 1),
        sc AS (SELECT doc_id, ng.lang,
                 (CASE WHEN c5.c5 IS NOT NULL
                   THEN length(bin(c1234)) - {_bl('c5.c5 - 1')}
                   ELSE coalesce(length(bin(c1234))
                                 - length(bin(n5t)), 0)
                    + (CASE WHEN n1p_bcde IS NOT NULL
                        THEN length(bin(n1p_bcd))
                             - {_bl('n1p_bcde - 1')}
                        ELSE coalesce(length(bin(n1p_bcd))
                                      - length(bin(n4t)), 0)
                         + (CASE WHEN n1p_cde IS NOT NULL
                             THEN length(bin(n1p_cd))
                                  - {_bl('n1p_cde - 1')}
                             ELSE coalesce(length(bin(n1p_cd))
                                           - length(bin(n3t)), 0)
                              + (CASE WHEN n1p_de IS NOT NULL
                                  THEN length(bin(n1p_d))
                                       - {_bl('n1p_de - 1')}
                                  ELSE coalesce(length(bin(n1p_d))
                                                - length(bin(n2t)), 0)
                                   + (CASE WHEN n1p_e IS NOT NULL
                                       THEN length(bin(nn))
                                            - length(bin(n1p_e))
                                       ELSE coalesce(
                                              length(bin(nn)) + 4, 5)
                                      END)
                                 END)
                            END)
                       END)
                  END) AS s
               FROM ng
               LEFT JOIN c5 ON ng.lang = c5.lang AND ng.a = c5.a
                 AND ng.b = c5.b AND ng.c = c5.c AND ng.d = c5.d
                 AND ng.e = c5.e
               LEFT JOIN ctx4 ON ng.lang = ctx4.lang
                 AND ng.a = ctx4.a AND ng.b = ctx4.b
                 AND ng.c = ctx4.c AND ng.d = ctx4.d
               LEFT JOIN cont4 ON ng.lang = cont4.lang
                 AND ng.b = cont4.b AND ng.c = cont4.c
                 AND ng.d = cont4.d AND ng.e = cont4.e
               LEFT JOIN mid4 ON ng.lang = mid4.lang
                 AND ng.b = mid4.b AND ng.c = mid4.c AND ng.d = mid4.d
               LEFT JOIN cont3 ON ng.lang = cont3.lang
                 AND ng.c = cont3.c AND ng.d = cont3.d
                 AND ng.e = cont3.e
               LEFT JOIN mid3 ON ng.lang = mid3.lang
                 AND ng.c = mid3.c AND ng.d = mid3.d
               LEFT JOIN cont2 ON ng.lang = cont2.lang
                 AND ng.d = cont2.d AND ng.e = cont2.e
               LEFT JOIN mid2 ON ng.lang = mid2.lang AND ng.d = mid2.d
               LEFT JOIN cont1 ON ng.lang = cont1.lang
                 AND ng.e = cont1.e
               LEFT JOIN tot ON ng.lang = tot.lang)
        SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_fivegrams,
               CAST(sum(s) * 1000000 // count(*) AS BIGINT)
                 AS surprisal_ppm
        FROM sc GROUP BY 1, 2
    """

    sql["text_quality_classifier"] = r"""
        WITH t AS (SELECT doc_id, source, list_filter(
                     string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS toks
                   FROM documents),
        f AS (SELECT doc_id, 'u|' || unnest(toks) AS f FROM t
              UNION ALL
              SELECT doc_id, 'b|' || toks[k] || ' ' || toks[k + 1] AS f
              FROM (SELECT doc_id, toks,
                           unnest(range(1, len(toks))) AS k
                    FROM t WHERE len(toks) >= 2)),
        w AS (SELECT doc_id,
                     ('0x' || substr(md5('w|' || f), 1, 8))::BIGINT
                       % 2001 - 1000 AS w
              FROM f),
        s AS (SELECT doc_id, CAST(sum(w) AS BIGINT) AS score_sum
              FROM w GROUP BY 1)
        SELECT t.doc_id, source,
               CAST(len(toks) + greatest(len(toks) - 1, 0) AS BIGINT)
                 AS n_features,
               score_sum,
               CASE WHEN score_sum > 0 THEN 'keep' ELSE 'drop' END
                 AS label
        FROM t JOIN s ON s.doc_id = t.doc_id
    """

    # DSIR importance weights: 1024 md5 buckets, target vs raw counts
    # in one pass, whole-bit quantized log(p_t/p_r) per bucket.
    _dsir_tgt = ", ".join(f"'{s}'" for s in DSIR_TARGET_SOURCES)
    sql["corpus_dsir_weights"] = rf"""
        WITH t AS (SELECT doc_id, source, list_filter(
                     string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS toks
                   FROM documents),
        f0 AS (SELECT doc_id, source, 'u|' || unnest(toks) AS f FROM t
               UNION ALL
               SELECT doc_id, source,
                      'b|' || toks[k] || ' ' || toks[k + 1] AS f
               FROM (SELECT doc_id, source, toks,
                            unnest(range(1, len(toks))) AS k
                     FROM t WHERE len(toks) >= 2)),
        f AS (SELECT doc_id, source,
                     ('0x' || substr(md5('d|' || f), 1, 8))::BIGINT
                       % 1024 AS bucket
              FROM f0),
        c AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cr,
                     CAST(sum(CASE WHEN source IN ({_dsir_tgt})
                              THEN 1 ELSE 0 END) AS BIGINT) AS ct
              FROM f GROUP BY 1),
        s AS (SELECT bucket,
                     (length(bin(ct + 1))
                      - length(bin(CAST(sum(ct) OVER () AS BIGINT))))
                     - (length(bin(cr + 1))
                        - length(bin(CAST(sum(cr) OVER () AS BIGINT))))
                       AS s
              FROM c)
        SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_features,
               CAST(sum(s) AS BIGINT) AS weight_qbits,
               CAST(sum(s) AS BIGINT) > 0 AS selected
        FROM f JOIN s USING (bucket) GROUP BY 1, 2
    """

    # real GIF decode: the palette is lossless and index-based, so the
    # oracle replays the decoded RGB mean straight from the source
    # text bytes via sum_rgb(i) = i + (255-i) + (i^0x55) = 255 + (i^0x55);
    # the mean divides the SAME two integers the Arrow stage divides
    # (255*w*9 + sum_xor over 3*w*9 samples), bit-identical IEEE.
    sql["mm_decode_gif"] = f"""
        WITH m AS (SELECT doc_id AS media_id,
                          CAST(doc_id % 8 + 4 AS INT) AS w,
                          hex(encode(text)) AS hx,
                          octet_length(encode(text)) AS n
                   FROM documents),
        f AS (SELECT * FROM m WHERE n >= w * 9),
        b AS (SELECT media_id, w,
                     ('0x' || substr(hx, CAST(2 * j + 1 AS INT), 2))::INT
                       AS byte
              FROM f, (SELECT unnest(range(0, w * 9)) AS j))
        SELECT media_id, w AS decoded_width,
               CAST(9 AS INT) AS decoded_height,
               {_pr("CAST(255 * w * 9 + sum(xor(byte, 85)) AS DOUBLE)"
                    " / (3 * w * 9)", 9)} AS mean_intensity
        FROM b GROUP BY media_id, w
    """

    # lossless WebP: same integer identity as the GIF oracle — here it
    # pins the per-channel VP8L Huffman decode instead of a palette
    sql["mm_decode_webp"] = f"""
        WITH m AS (SELECT doc_id AS media_id,
                          CAST(doc_id % 8 + 4 AS INT) AS w,
                          hex(encode(text)) AS hx,
                          octet_length(encode(text)) AS n
                   FROM documents),
        f AS (SELECT * FROM m WHERE n >= w * 9),
        b AS (SELECT media_id, w,
                     ('0x' || substr(hx, CAST(2 * j + 1 AS INT), 2))::INT
                       AS byte
              FROM f, (SELECT unnest(range(0, w * 9)) AS j))
        SELECT media_id, w AS decoded_width,
               CAST(9 AS INT) AS decoded_height,
               {_pr("CAST(255 * w * 9 + sum(xor(byte, 85)) AS DOUBLE)"
                    " / (3 * w * 9)", 9)} AS mean_intensity
        FROM b GROUP BY media_id, w
    """

    # archive scans: member names/sizes/md5 fingerprints replayed from
    # the source table (md5 over the VARCHAR's UTF-8 bytes == the Arrow
    # stage's md5 over the decoded member bytes)
    sql["mm_scan_zip"] = """
        SELECT doc_id - (doc_id % 8) AS archive_id,
               'doc-' || doc_id || '.txt' AS member_name,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS content_fp
        FROM documents
    """

    sql["mm_scan_warc"] = """
        SELECT doc_id - (doc_id % 8) AS archive_id,
               'http://corpus/doc/' || doc_id AS member_name,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS content_fp
        FROM documents
    """

    # HTML -> text extraction: the page wrapper and the extraction
    # rule chain are BOTH generated from functions/html.py's shared
    # tables — the oracle rebuilds the exact page string in SQL and
    # replays strip/decode/collapse with regexp_replace(...,'g') +
    # nested replace, so a divergence in either the WARC plumbing or
    # any rule flips the value hash.
    from lswms_forage_etl_spark.functions.html import (
        html_extract_sql, html_wrap_sql)
    sql["text_html_extract"] = f"""
        WITH h AS (SELECT doc_id,
                          {html_wrap_sql('doc_id', 'text')} AS html
                   FROM documents),
        x AS (SELECT doc_id, html,
                     {html_extract_sql('html')} AS txt
              FROM h)
        SELECT doc_id, CAST(length(html) AS BIGINT) AS n_html,
               CAST(length(txt) AS BIGINT) AS n_text,
               CAST(length(txt) * 1000000 // length(html) AS BIGINT)
                 AS text_ratio_ppm,
               md5(txt) AS text_fp
        FROM x
    """

    # composed web pipeline: dirt -> wrap -> extract -> normalize ->
    # gopher, every stage rendered from the same shared rule tables
    # as its standalone oracle, cleaned text pinned by md5
    from lswms_forage_etl_spark.functions.html import (
        html_extract_sql as _hx_sql, html_wrap_sql as _hw_sql)
    from lswms_forage_etl_spark.functions.normalize import (
        dirty_sql as _dirty_sql, normalize_sql as _norm_sql)
    sql["text_web_pipeline"] = f"""
        WITH dd AS (SELECT doc_id,
                           {_dirty_sql('text', 'doc_id')} AS dtext
                    FROM documents),
        h AS (SELECT doc_id, {_hw_sql('doc_id', 'dtext')} AS html
              FROM dd),
        x AS (SELECT doc_id, {_hx_sql('html')} AS txt0 FROM h),
        nz AS (SELECT doc_id, {_norm_sql('txt0')} AS txt FROM x),
        t AS (
          SELECT doc_id, txt,
                 list_filter(string_split_regex(trim(txt), '\\s+'),
                             x -> x <> '') AS toks,
                 len(regexp_extract_all(txt, '[#$%&@~]')) AS n_sym
          FROM nz),
        m AS (
          SELECT doc_id, txt,
                 CAST(len(toks) AS INT) AS n_words,
                 CAST(length(array_to_string(toks, '')) AS DOUBLE)
                   / greatest(len(toks), 1) AS mwl,
                 CAST(len(list_intersect(
                   list_transform(toks, x -> lower(x)),
                   ['the','a','and','of','to','in','is','it'])) AS INT)
                   AS stop_hits,
                 CAST(n_sym AS DOUBLE) / greatest(len(toks), 1) AS symr
          FROM t)
        SELECT doc_id, n_words,
               floor(mwl * 10000 + 0.5) / 10000.0 AS mean_word_len,
               stop_hits,
               CAST(n_words BETWEEN 50 AND 100000 AS INT) AS words_ok,
               CAST(mwl >= 3.0 AND mwl <= 10.0 AS INT) AS mwl_ok,
               CAST(symr < 0.1 AS INT) AS sym_ok,
               CAST(stop_hits >= 2 AS INT) AS stop_ok,
               CAST(n_words BETWEEN 50 AND 100000
                    AND mwl >= 3.0 AND mwl <= 10.0
                    AND symr < 0.1 AND stop_hits >= 2 AS INT) AS keep,
               md5(txt) AS text_fp
        FROM m
    """

    # Unicode normalization: dirt injection AND the full repair/fold/
    # strip chain render from functions/normalize.py's shared tables
    from lswms_forage_etl_spark.functions.normalize import (
        dirty_sql, normalize_sql)
    _dirty = dirty_sql("text", "doc_id")
    sql["text_normalize"] = f"""
        WITH d AS (SELECT doc_id, {_dirty} AS raw FROM documents),
        x AS (SELECT doc_id, raw, {normalize_sql('raw')} AS norm
              FROM d)
        SELECT doc_id, CAST(length(raw) AS BIGINT) AS n_raw,
               CAST(length(norm) AS BIGINT) AS n_norm,
               CAST(norm <> raw AS INT) AS changed,
               md5(norm) AS norm_fp
        FROM x
    """

    sql["mm_scan_targz"] = """
        SELECT doc_id - (doc_id % 8) AS archive_id,
               'doc-' || doc_id || '.txt' AS member_name,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS content_fp
        FROM documents
    """

    # animated WebP: full-canvas no-blend frames, so the composited
    # canvas for frame k IS frame k — the per-frame mean replays the
    # mm_decode_webp channel identity over byte range [k*3w, (k+1)*3w)
    sql["mm_webp_frames"] = f"""
        WITH m AS (SELECT doc_id AS media_id,
                          CAST(doc_id % 8 + 4 AS INT) AS w,
                          hex(encode(text)) AS hx,
                          octet_length(encode(text)) AS n
                   FROM documents),
        f AS (SELECT * FROM m WHERE n >= w * 9),
        b AS (SELECT media_id, w, CAST(j // (3 * w) AS INT) AS k,
                     ('0x' || substr(hx, CAST(2 * j + 1 AS INT), 2))::INT
                       AS byte
              FROM f, (SELECT unnest(range(0, w * 9)) AS j))
        SELECT media_id, k AS frame_idx,
               CAST(40 + 10 * k AS INT) AS duration_ms,
               w AS decoded_width, CAST(3 AS INT) AS decoded_height,
               {_pr("CAST(255 * 3 * w + sum(xor(byte, 85)) AS DOUBLE)"
                    " / (9 * w)", 9)} AS mean_intensity
        FROM b GROUP BY media_id, w, k
    """

    # lossy VP8: the constant-MB family decodes exactly, so the luma
    # sum replays from the text bytes in pure integer arithmetic
    # (v_j = 64 + byte_j % 127, 256 luma pixels per MB); chroma_ok is
    # the literal the all-zero chroma levels imply
    sql["mm_decode_vp8"] = """
        WITH f AS (SELECT doc_id AS media_id,
                          hex(encode(text)) AS hx,
                          CAST(4 + doc_id % 5 AS INT) AS nmb,
                          octet_length(encode(text)) AS n
                   FROM documents),
        b AS (SELECT media_id, nmb,
                     64 + (('0x' || substr(hx, CAST(2 * j + 1 AS INT),
                                           2))::INT % 127) AS v
              FROM f, (SELECT unnest(range(0, 8)) AS j)
              WHERE j < nmb AND n >= nmb)
        SELECT media_id, CAST(16 * nmb AS INT) AS decoded_width,
               CAST(16 AS INT) AS decoded_height,
               CAST(256 * sum(v) AS BIGINT) AS sum_luma,
               CAST(1 AS INT) AS chroma_ok
        FROM b GROUP BY media_id, nmb
    """

    sql["mm_scan_jsonl"] = """
        SELECT doc_id, lang, source,
               CAST(length(text) AS BIGINT) AS n_chars,
               md5(text) AS text_fp
        FROM documents
    """

    sql["mm_scan_tarbz2"] = """
        SELECT doc_id - (doc_id % 8) AS archive_id,
               'doc-' || doc_id || '.txt' AS member_name,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS content_fp
        FROM documents
    """

    sql["mm_scan_tarxz"] = """
        SELECT doc_id - (doc_id % 8) AS archive_id,
               'doc-' || doc_id || '.txt' AS member_name,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS content_fp
        FROM documents
    """

    sql["mm_scan_tar"] = """
        SELECT doc_id - (doc_id % 8) AS archive_id,
               'doc-' || doc_id || '.txt' AS member_name,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS content_fp
        FROM documents
    """

    # hybrid retrieval: the BM25 oracle (nested WITH) feeds a PRF
    # rerank — per-dim sums of the top-3 quantized embeddings, exact
    # int64 inner products, integer-deterministic rank cut
    sql["text_hybrid_rerank"] = f"""
        WITH cand AS (SELECT doc_id, score12 FROM (
            {_bm25_sql(BM25_QUERY_TERMS, k=20)}
        )),
        cv AS (SELECT c.doc_id, c.score12, e.embedding
               FROM cand c JOIN embeddings e ON e.vec_id = c.doc_id),
        top3 AS (SELECT embedding FROM cv
                 ORDER BY score12 DESC, doc_id LIMIT 3),
        q AS (SELECT j - 1 AS dim,
                     CAST(sum(CAST(floor(CAST(embedding[j] AS DOUBLE)
                                         * 10000 + 0.5) AS BIGINT))
                          AS BIGINT) AS q4
              FROM top3, (SELECT unnest(range(1, 65)) AS j)
              GROUP BY 1),
        d AS (SELECT doc_id, score12, j - 1 AS dim,
                     CAST(floor(CAST(embedding[j] AS DOUBLE)
                                * 10000 + 0.5) AS BIGINT) AS v4
              FROM cv, (SELECT unnest(range(1, 65)) AS j)),
        r AS (SELECT doc_id, score12,
                     CAST(sum(v4 * q4) AS BIGINT) AS rerank8
              FROM d JOIN q USING (dim) GROUP BY 1, 2)
        SELECT doc_id, score12, rerank8,
               CAST(rk AS INT) AS rank
        FROM (SELECT *, row_number() OVER (ORDER BY rerank8 DESC,
                                           score12 DESC, doc_id) AS rk
              FROM r)
        WHERE rk <= 10
    """

    # animated GIF frame table: frame k covers text bytes
    # [k*3w, (k+1)*3w); same palette identity as mm_decode_gif, delay
    # = 4 + k from the per-frame Graphic Control Extension
    sql["mm_gif_frames"] = f"""
        WITH m AS (SELECT doc_id AS media_id,
                          CAST(doc_id % 8 + 4 AS INT) AS w,
                          hex(encode(text)) AS hx,
                          octet_length(encode(text)) AS n
                   FROM documents),
        f AS (SELECT * FROM m WHERE n >= w * 9),
        b AS (SELECT media_id, w, CAST(j // (3 * w) AS INT) AS k,
                     ('0x' || substr(hx, CAST(2 * j + 1 AS INT), 2))::INT
                       AS byte
              FROM f, (SELECT unnest(range(0, w * 9)) AS j))
        SELECT media_id, k AS frame_idx,
               CAST(4 + k AS INT) AS delay_cs,
               w AS decoded_width, CAST(3 AS INT) AS decoded_height,
               {_pr("CAST(255 * 3 * w + sum(xor(byte, 85)) AS DOUBLE)"
                    " / (9 * w)", 9)} AS mean_intensity
        FROM b GROUP BY media_id, w, k
    """

    # PPJoin prefix + positional filtering, replayed on the same
    # 60-bit md5 shingle keys: rarity order (dfreq, s64), integer
    # prefix length n - ceil(n/2) + 1, positional bound
    # min(n-pos)+1 >= ceil((na+nb)/3), length filter, exact
    # 2*|intersect| >= |union| verify
    sql["dedup_prefix_filter"] = f"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                             x -> x <> '') AS toks
          FROM documents),
        s AS MATERIALIZED (
          SELECT doc_id,
                 list_transform({_SHINGLE_FRAG},
                     sg -> ('0x' || substr(md5(sg), 1, 15))::BIGINT)
                   AS sh64
          FROM t),
        tok AS (SELECT doc_id, unnest(sh64) AS s64 FROM s),
        dfq AS (SELECT s64, count(*) AS dfq FROM tok GROUP BY 1),
        r AS (SELECT tok.doc_id, tok.s64,
                     count(*) OVER (PARTITION BY tok.doc_id) AS n,
                     row_number() OVER (PARTITION BY tok.doc_id
                                        ORDER BY dfq.dfq, tok.s64) AS pos
              FROM tok JOIN dfq USING (s64)),
        pre AS (SELECT doc_id, s64, n, pos FROM r
                WHERE pos <= n - (1 * n + 1) // 2 + 1),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM pre a JOIN pre b
                   ON a.s64 = b.s64 AND a.doc_id < b.doc_id
                  AND 1 * greatest(a.n, b.n) <= 2 * least(a.n, b.n)
                  AND least(a.n - a.pos, b.n - b.pos) + 1
                      >= (1 * (a.n + b.n) + 2) // 3),
        v AS (SELECT id_a, id_b,
                     len(list_intersect(x.sh64, y.sh64)) AS inter,
                     len(list_distinct(x.sh64 || y.sh64)) AS un
              FROM cand
              JOIN s x ON x.doc_id = cand.id_a
              JOIN s y ON y.doc_id = cand.id_b)
        SELECT id_a, id_b,
               {_pr('''CASE WHEN un > 0
                       THEN CAST(inter AS DOUBLE) / un ELSE 0.0 END''', 6)}
                 AS jaccard
        FROM v WHERE 2 * inter >= 1 * un
    """

    # CDC apply: latest-wins snapshot with tombstones; windowed sum is
    # HUGEINT in DuckDB -> CAST (round-4 gate lesson)
    sql["events_cdc_apply"] = """
        WITH c AS (
          SELECT user_id, ts, event_id, value,
                 CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
          FROM events),
        r AS (
          SELECT user_id, ts, op, event_id,
                 CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v4,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn,
                 count(*) OVER (PARTITION BY user_id) AS n_changes,
                 sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id) AS n_deletes
          FROM c)
        SELECT user_id, ts AS last_ts, event_id AS last_event_id,
               v4 AS last_v4,
               CAST(n_changes AS BIGINT) AS n_changes,
               CAST(n_deletes AS BIGINT) AS n_deletes
        FROM r WHERE rn = 1 AND op <> 'D'
    """

    # zone-map manifest + skip decision; plain sum(int) is HUGEINT in
    # DuckDB -> CAST
    sql["scan_zonemap_prune"] = """
        SELECT event_id // 256 AS shard_id,
               count(*) AS n_rows,
               min(ts) AS min_ts, max(ts) AS max_ts,
               max(ts) >= TIMESTAMP '2024-01-10'
                 AND min(ts) < TIMESTAMP '2024-01-20' AS selected,
               CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-10'
                              AND ts < TIMESTAMP '2024-01-20'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
        FROM events GROUP BY 1
    """

    # exact covariance moments replayed with an i<=j self-join; dims
    # 0-based to match posexplode
    sql["ann_covariance"] = f"""
        WITH x AS (
          SELECT vec_id, CAST(i - 1 AS INT) AS dim,
                 CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                            * 10000 + 0.5) AS BIGINT) AS v
          FROM embeddings, (SELECT unnest(range(1, 65)) AS i) _(i)),
        p AS (SELECT a.dim AS dim_i, b.dim AS dim_j,
                     CAST(sum(a.v * b.v) AS BIGINT) AS sxy
              FROM x a JOIN x b
                ON a.vec_id = b.vec_id AND a.dim <= b.dim
              GROUP BY 1, 2),
        s AS (SELECT dim, CAST(sum(v) AS BIGINT) AS sx,
                     count(*) AS n
              FROM x GROUP BY 1)
        SELECT p.dim_i, p.dim_j, sa.n AS n,
               CAST(sa.n * p.sxy - sa.sx * sb.sx AS BIGINT) AS cov_num,
               {_pr('''CAST(sa.n * p.sxy - sa.sx * sb.sx AS DOUBLE)
                       / (sa.n * (sa.n - 1)) / 100000000.0''', 9)} AS cov
        FROM p
        JOIN s sa ON sa.dim = p.dim_i
        JOIN s sb ON sb.dim = p.dim_j
    """

    # PCA power iteration: the 8 matvec+renormalize rounds replayed as
    # chained CTEs over the quant=1e2 covariance (floor-pinned
    # integer/IEEE steps — identical bits by construction)
    _pca_iters = []
    prev = "u0"
    for t in range(1, 9):
        _pca_iters.append(f"""
        w{t} AS MATERIALIZED (SELECT c20.i AS dim, CAST(sum(c20 * u14) AS BIGINT) AS w
                 FROM c20 JOIN {prev} ON {prev}.dim = c20.j GROUP BY 1),
        u{t} AS MATERIALIZED (SELECT dim,
                        CAST(floor(CAST(w AS DOUBLE)
                                   / (SELECT max(abs(w)) FROM w{t})
                                   * 16384.0) AS BIGINT) AS u14
                 FROM w{t})""")
        prev = f"u{t}"
    sql["ann_pca_power"] = f"""
        WITH x AS MATERIALIZED (
          SELECT vec_id, CAST(i - 1 AS INT) AS dim,
                 CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                            * 100 + 0.5) AS BIGINT) AS v
          FROM embeddings, (SELECT unnest(range(1, 65)) AS i) _(i)),
        p AS MATERIALIZED (SELECT a.dim AS dim_i, b.dim AS dim_j,
                     CAST(sum(a.v * b.v) AS BIGINT) AS sxy
              FROM x a JOIN x b
                ON a.vec_id = b.vec_id AND a.dim <= b.dim
              GROUP BY 1, 2),
        s AS MATERIALIZED (SELECT dim, CAST(sum(v) AS BIGINT) AS sx, count(*) AS n
              FROM x GROUP BY 1),
        cov AS MATERIALIZED (SELECT p.dim_i, p.dim_j,
                       CAST(sa.n * p.sxy - sa.sx * sb.sx AS BIGINT)
                         AS cov_num
                FROM p
                JOIN s sa ON sa.dim = p.dim_i
                JOIN s sb ON sb.dim = p.dim_j),
        c AS MATERIALIZED (SELECT dim_i AS i, dim_j AS j, cov_num FROM cov
              UNION ALL
              SELECT dim_j, dim_i, cov_num FROM cov
              WHERE dim_i <> dim_j),
        c20 AS MATERIALIZED (SELECT i, j,
                       CAST(floor(CAST(cov_num AS DOUBLE)
                                  / (SELECT max(abs(cov_num)) FROM c)
                                  * 1048576.0) AS BIGINT) AS c20
                FROM c),
        u0 AS MATERIALIZED (SELECT DISTINCT i AS dim, CAST(16384 AS BIGINT) AS u14
               FROM c20),{','.join(_pca_iters)}
        SELECT dim, u14,
               {_pr('''u14 / sqrt((SELECT sum(CAST(u14 AS DOUBLE) * u14)
                                   FROM u8))''', 9)} AS loading
        FROM u8
    """

    # gaps-and-islands interval merge: island starts where start >
    # running max end; exact epoch-second integers; windowed sums are
    # HUGEINT in DuckDB -> CAST
    sql["events_intervals_merge"] = """
        WITH iv AS (
          SELECT user_id, event_id,
                 CAST(floor(epoch(ts)) AS BIGINT) AS s,
                 CAST(floor(epoch(ts)) AS BIGINT)
                   + 3600 * (1 + event_id % 7) AS e
          FROM events),
        m AS (
          SELECT user_id, event_id, s, e,
                 CASE WHEN max(e) OVER (PARTITION BY user_id
                        ORDER BY s, e, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) IS NULL
                      OR s > max(e) OVER (PARTITION BY user_id
                        ORDER BY s, e, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING)
                      THEN 1 ELSE 0 END AS nw
          FROM iv),
        g AS (
          SELECT user_id, s, e,
                 CAST(sum(nw) OVER (PARTITION BY user_id
                      ORDER BY s, e, event_id
                      ROWS UNBOUNDED PRECEDING) AS INT) AS island
          FROM m)
        SELECT user_id, island,
               CAST(min(s) AS BIGINT) AS start_s,
               CAST(max(e) AS BIGINT) AS end_s,
               CAST(count(*) AS BIGINT) AS n_merged
        FROM g GROUP BY 1, 2
    """

    # MATCH_RECOGNIZE-lite: same session CTE as window_sessionize,
    # per-session ordered code string, RE2-subset regex on both sides
    sql["events_pattern_match"] = """
        WITH c AS (
          SELECT user_id, ts, event_id,
                 CASE event_type
                   WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                   WHEN 'purchase' THEN 'p' WHEN 'error' THEN 'e'
                   WHEN 'signup' THEN 's' ELSE '?' END AS code
          FROM events),
        s AS (
          SELECT user_id, ts, event_id, code,
                 CASE WHEN lag(ts) OVER w IS NULL
                      OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w))
                         > 1800
                      THEN 1 ELSE 0 END AS ns
          FROM c
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        s2 AS (
          SELECT user_id, code, ts, event_id,
                 CAST(sum(ns) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS INT) AS session_idx
          FROM s),
        g AS (SELECT user_id, session_idx,
                     CAST(count(*) AS BIGINT) AS n_events,
                     string_agg(code, '' ORDER BY ts, event_id) AS seq
              FROM s2 GROUP BY 1, 2)
        SELECT user_id, session_idx, n_events, seq,
               regexp_matches(seq, 'v[^e]*c[^e]*p') AS matched
        FROM g
    """

    # phi-heavy hitters: same md5 cells as _cms_sql at w=16384, exact
    # integer phi*N threshold on both the estimate and the truth flag
    _hh_cells = ", ".join(
        f"{{'r': {i}, 'c': ('0x' || substr(md5('{i}|' || g), 1, 8))"
        f"::BIGINT % 16384}}" for i in range(4))
    sql["sketch_cms_heavy"] = f"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                             x -> x <> '') AS toks
          FROM documents),
        s AS (SELECT unnest(toks) AS g FROM t),
        cell AS (SELECT g, u.r AS r, u.c AS c
                 FROM (SELECT g, unnest([{_hh_cells}]) AS u FROM s)),
        cms AS (SELECT r, c, CAST(count(*) AS BIGINT) AS n
                FROM cell GROUP BY r, c),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM s),
        keys AS (SELECT DISTINCT g FROM s),
        pcell AS (SELECT g, u.r AS r, u.c AS c
                  FROM (SELECT g, unnest([{_hh_cells}]) AS u FROM keys)),
        e AS (SELECT g,
                     CAST(min(coalesce(n, 0)) AS BIGINT) AS cms_estimate
              FROM pcell LEFT JOIN cms USING (r, c) GROUP BY g),
        x AS (SELECT g, CAST(count(*) AS BIGINT) AS exact_n
              FROM s GROUP BY g)
        SELECT e.g, cms_estimate, exact_n,
               exact_n * 30 >= nt * 1 AS is_heavy
        FROM e JOIN x USING (g) CROSS JOIN tot
        WHERE cms_estimate * 30 >= nt * 1
    """

    # compaction bin packing over the shard manifest; windowed sums
    # are HUGEINT in DuckDB -> CAST
    sql["layout_compact"] = """
        WITH m AS (SELECT event_id // 256 AS shard_id,
                          CAST(count(*) AS BIGINT) AS n
                   FROM events GROUP BY 1),
        b AS (SELECT shard_id, n,
                     CAST(floor(coalesce(sum(n) OVER (
                            ORDER BY shard_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0)
                          / 2000.0) AS BIGINT) AS bin_id
              FROM m)
        SELECT shard_id, n, bin_id,
               CAST(sum(n) OVER (PARTITION BY bin_id) AS BIGINT)
                 AS bin_rows,
               CAST(count(*) OVER (PARTITION BY bin_id) AS BIGINT)
                 AS bin_shards
        FROM b
    """

    # tau=1/2 temperature mix: derived sqrt targets, keep rate
    # sqrt(n_min/n_g), same u32 threshold family as sample_rebalance
    sql["corpus_mix_temperature"] = """
        WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS ng
                   FROM documents GROUP BY lang),
        s AS (SELECT min(sqrt(CAST(ng AS DOUBLE))) AS smin FROM c),
        r AS (SELECT lang,
                     CAST(floor(LEAST(1.0,
                                      smin / sqrt(CAST(ng AS DOUBLE)))
                                * 4294967296.0) AS BIGINT) AS thr
              FROM c, s)
        SELECT doc_id, lang FROM documents JOIN r USING (lang)
        WHERE ('0x' || substr(md5('0|' || CAST(doc_id AS VARCHAR)),
                              1, 8))::BIGINT < thr
    """

    # MP4 box walk + frame table: layout arithmetic from the shared
    # _FIXED constants (sources/mp4.py generators)
    from lswms_forage_etl_spark.sources.mp4 import (
        mp4_boxes_sql, mp4_frames_sql)
    sql["mm_scan_mp4"] = mp4_boxes_sql()
    sql["mm_mp4_frames"] = mp4_frames_sql(every_n=5)
    sql["mm_mp4_fragmented"] = mp4_frames_sql(fragmented=True)

    # unigram-LM tokenizer train + encode: the full hard-EM pruning
    # sequence unrolled as a materialized CTE chain (generators in
    # functions/unigram.py share every convention with the driver loop)
    from lswms_forage_etl_spark.functions.unigram import (
        unigram_encode_sql, unigram_train_sql)
    sql["corpus_unigram_train"] = unigram_train_sql(
        seed_multi=64, rounds=2, prune_per_round=12)
    sql["corpus_unigram_encode"] = unigram_encode_sql(
        seed_multi=64, rounds=2, prune_per_round=12)

    # ANN recall@k: composes the four already-defined ANN oracles as
    # subqueries — ground truth and each approximate list are ranked
    # with the same sort keys as their source queries, recall@k is
    # exact integer ppm
    sql["ann_recall_at_k"] = f"""
        WITH truth AS (
          SELECT vec_id, row_number() OVER (
                   ORDER BY cosine_sim DESC, vec_id) AS t_rk
          FROM ({sql["ann_bruteforce_topk"]})),
        lshm AS (
          SELECT vec_id, row_number() OVER (
                   ORDER BY cosine_sim DESC, vec_id) AS a_rk
          FROM ({sql["ann_lsh_topk"]})),
        ivfm AS (
          SELECT vec_id, row_number() OVER (
                   ORDER BY cosine_sim DESC, vec_id) AS a_rk
          FROM ({sql["ann_ivf_topk"]})),
        pqm AS (
          SELECT vec_id, row_number() OVER (
                   ORDER BY adc_dist, vec_id) AS a_rk
          FROM ({sql["ann_pq_topk"]})),
        lshhr AS (
          SELECT vec_id, row_number() OVER (
                   ORDER BY cosine_sim DESC, vec_id) AS a_rk
          FROM ({sql["ann_lsh_hamming"]})),
        pqrr AS (
          SELECT vec_id, row_number() OVER (
                   ORDER BY cosine_sim DESC, vec_id) AS a_rk
          FROM ({sql["ann_pq_rerank"]})),
        ivfpqm AS (
          SELECT vec_id, row_number() OVER (
                   ORDER BY cosine_sim DESC, vec_id) AS a_rk
          FROM ({sql["ann_ivfpq_topk"]})),
        approx AS (
          SELECT 'lsh' AS method, vec_id, a_rk FROM lshm
          UNION ALL SELECT 'ivf', vec_id, a_rk FROM ivfm
          UNION ALL SELECT 'pq', vec_id, a_rk FROM pqm
          UNION ALL SELECT 'lsh_hr', vec_id, a_rk FROM lshhr
          UNION ALL SELECT 'pq_rr', vec_id, a_rk FROM pqrr
          UNION ALL SELECT 'ivfpq', vec_id, a_rk FROM ivfpqm),
        x AS (SELECT method, a_rk, t_rk
              FROM approx LEFT JOIN truth USING (vec_id)),
        ks AS (SELECT unnest([1, 5, 10]) AS k)
        SELECT method, k,
               CAST(sum(CASE WHEN a_rk <= k AND t_rk <= k
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
               CAST(sum(CASE WHEN a_rk <= k AND t_rk <= k
                        THEN 1 ELSE 0 END) * 1000000 // k AS BIGINT)
                 AS recall_ppm
        FROM x CROSS JOIN ks GROUP BY 1, 2
    """

    return sql
