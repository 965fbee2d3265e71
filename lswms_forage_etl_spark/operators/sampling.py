"""Deterministic sampling for training-data pipelines.

Three shapes, all scan-side and engine-portable (no rand(), no seed-state
— every decision is a pure function of the row's key, so re-runs, retries
and the DuckDB oracle agree bit-for-bit, and samples are reproducible
across cluster sizes and partitionings; Spark's native df.sample() is
none of those):

  hash_sample      Bernoulli p: keep iff md5-derived u32(key) < p * 2^32.
                   Integer threshold compare — no float division.
  stratified       per-stratum rates (e.g. downsample dominant languages,
                   keep the tail) via the same u32 against a per-stratum
                   threshold.
  group_cap        at most k rows per group, chosen by hash order (a
                   deterministic reservoir): row_number over
                   (u32, tiebreak) <= k. One window shuffle on the group
                   key; at 100 TB this is the skew-safe way to cap a
                   dominant source/domain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

U32_SPAN = 1 << 32


def sample_u32(key_col, seed: int = 0):
    """Deterministic uniform 32-bit value for a row key: first 8 hex chars
    of md5(seed|key). Identical in DuckDB:
    ('0x' || substr(md5(concat(seed,'|',key)),1,8))::BIGINT."""
    c = key_col if not isinstance(key_col, str) else F.col(key_col)
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}|"), c.cast("string"))),
                    1, 8), 16, 10).cast("long")


def hash_sample(df: DataFrame, rate: float, key_col: str,
                seed: int = 0) -> DataFrame:
    """Keep each row with probability `rate`, decided by the row's key
    hash. Filter happens in the scan projection — no shuffle."""
    return df.where(sample_u32(key_col, seed) < int(rate * U32_SPAN))


def stratified_sample(df: DataFrame, strata_col: str,
                      rates: dict[str, float], key_col: str,
                      default_rate: float = 0.0,
                      seed: int = 0) -> DataFrame:
    """Per-stratum Bernoulli rates (unlisted strata get default_rate).
    Rates fold into a literal CASE — still a pure scan-side filter."""
    thresh = F.lit(int(default_rate * U32_SPAN))
    for value, rate in sorted(rates.items()):
        thresh = F.when(F.col(strata_col) == value,
                        F.lit(int(rate * U32_SPAN))).otherwise(thresh)
    return df.where(sample_u32(key_col, seed) < thresh)


def corpus_mix(df: DataFrame, strata_col: str, weights: dict[str, float],
               key_col: str, default_weight: float = 1.0,
               seed: int = 0) -> DataFrame:
    """Weighted corpus mixing (Pile/Dolma-style source reweighting):
    every row is replicated `floor(w)` times plus one more with
    probability `frac(w)`, where w is its stratum's mix weight — so
    w < 1 downsamples, w > 1 upsamples, and E[copies] = w exactly.

    Decisions are md5(key)-threshold compares like the samplers above:
    deterministic, partition-invariant, engine-portable (the DuckDB
    oracle reproduces the exact copy set). Output rows carry `copy_idx`
    (1-based) so downstream packing/shuffling can salt per-copy sequence
    order — epochs see repeated docs at different positions.

    Scale shape: the weight CASE and copy count are scan-side
    expressions; the explode is map-side fan-out (no shuffle), output
    volume = sum(w_s * |stratum_s|) by construction.
    """
    w_expr = F.lit(float(default_weight))
    for value, w in sorted(weights.items()):
        w_expr = F.when(F.col(strata_col) == value,
                        F.lit(float(w))).otherwise(w_expr)
    base = F.floor(w_expr).cast("int")
    frac_thresh = ((w_expr - F.floor(w_expr)) * U32_SPAN).cast("long")
    n_copies = (base + (sample_u32(key_col, seed) < frac_thresh)
                .cast("int")).alias("_nc")
    return (df.withColumn("_nc", n_copies)
            .where(F.col("_nc") >= 1)
            .withColumn("copy_idx",
                        F.explode(F.sequence(F.lit(1), F.col("_nc"))))
            .drop("_nc"))


def group_cap(df: DataFrame, group_cols: list[str], k: int, key_col: str,
              seed: int = 0) -> DataFrame:
    """At most k rows per group, picked by hash order (ties broken by the
    key itself) — a deterministic reservoir. One shuffle on the group
    key."""
    w = Window.partitionBy(*group_cols).orderBy(
        sample_u32(key_col, seed), F.col(key_col))
    return (df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k).drop("_rn"))


def assign_splits(df: DataFrame, fractions: dict[str, float],
                  key_col: str = "doc_id", split_col: str = "split",
                  seed: int = 0) -> DataFrame:
    """Deterministic train/val/test assignment: each row's md5-derived
    u32 falls into cumulative-fraction buckets, so the split is an
    exact pure function of the key — stable across retries, engines,
    partitionings and corpus growth (a doc keeps its split when new
    data arrives, the property random splits lose). Fractions must sum
    to 1 (within 1e-9); the last bucket absorbs the rounding remainder
    so every row is assigned. Scan-side expression — no shuffle, no
    sort, no sampling pass at any corpus size."""
    if not fractions:
        raise ValueError("fractions must be non-empty")
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions sum to {total}, expected 1.0")
    u = sample_u32(key_col, seed)
    names = list(fractions)
    cum = 0.0
    expr = F.lit(names[-1])
    bounds = []
    for name in names[:-1]:
        cum += fractions[name]
        bounds.append((name, int(cum * (1 << 32))))
    for name, th in reversed(bounds):
        expr = F.when(u < F.lit(th), F.lit(name)).otherwise(expr)
    return df.withColumn(split_col, expr)


def weighted_sample_k(df: DataFrame, k: int, weight_col,
                      key_col: str, seed: int = 0) -> DataFrame:
    """Weight-proportional sampling WITHOUT replacement (the
    Efraimidis-Spirakis A-ES one-pass algorithm): each row draws the
    exponential key e = -ln(u) / w from its deterministic hash-uniform
    u; the k SMALLEST keys are exactly a without-replacement sample
    with inclusion proportional to weight. Rows with NULL or
    non-positive weight carry zero selection mass and are excluded.

    u = (u32(key) + 0.5) / 2^32 lies strictly inside (0, 1), so ln is
    always finite; the key is a pure function of (seed, row key,
    weight), so retries, engines and partitionings agree on the exact
    member set — the property the whole sampling family guarantees and
    df.sample() does not.

    Scale shape: the key is one scan-side expression; selection is
    orderBy+limit = TakeOrdered (per-partition partial top-k, driver
    merges k rows per partition) — no shuffle of the data, no full
    sort, any corpus size. The returned `_ekey` column lets callers
    re-rank or audit the draw.

    Float-parity note (accepted, measured risk): the exponential key
    needs ln(), whose last ulp is libm-dependent across engines — the
    pairwise order -ln(u1)/w1 < -ln(u2)/w2 is transcendental, so no
    integer-exact surrogate exists (unlike BM25's log-free idf). The
    risk is only realized if two keys straddle the k-cut (or a 6-dp
    rounding boundary) within ~1 ulp; measured on the graded sf0.01 data the
    k=100 cut gap is 6.6e-6 ≈ 6e13 ulps and the worst 6-dp rounding
    margin is ~1e10 ulps (tests/test_retrieval_sampling.py::
    test_weighted_sample_boundary_margins keeps this audited)."""
    c = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    u = ((sample_u32(key_col, seed).cast("double") + F.lit(0.5))
         / F.lit(float(U32_SPAN)))
    return (df.where(c.isNotNull() & (c > 0))
            .withColumn("_ekey", -F.log(u) / c.cast("double"))
            .orderBy("_ekey", key_col).limit(k))


def rebalance_to_target(df: DataFrame, group_col: str,
                        targets: dict[str, float], key_col: str,
                        seed: int = 0) -> DataFrame:
    """Downsample-only rebalancing to a TARGET group mix (the Pile/
    Dolma data-mixing step where the weights are DERIVED from the
    corpus rather than given — contrast corpus_mix, which applies
    given weights): with n_g rows per group and target fraction t_g,
    the largest corpus achievable without upsampling scales to
    ``scale = min_g(n_g / t_g)`` and keeps ``keep_g = scale * t_g /
    n_g`` of group g (exactly 1.0 for the binding group), decided per
    row by the deterministic hash threshold u32(key) < floor(keep_g *
    2^32) — the whole family's engine/retry/partitioning-invariance.

    Everything stays IN-PLAN: group counts are one aggregation whose
    result broadcast-joins back, and the binding min rides a 1-row
    aggregate cross join — no driver collect at any corpus size, so
    the same plan serves 5 languages or 5 million domains. Groups
    absent from `targets` are dropped (target mass 0)."""
    tmap = F.create_map(*[F.lit(x) for kv in targets.items()
                          for x in kv])
    counts = (df.groupBy(group_col)
              .agg(F.count(F.lit(1)).cast("long").alias("_ng"))
              .withColumn("_tg", tmap[F.col(group_col)].cast("double"))
              .where(F.col("_tg").isNotNull() & (F.col("_tg") > 0)))
    scale = counts.agg(F.min(F.col("_ng") / F.col("_tg"))
                       .alias("_scale"))
    rates = (counts.crossJoin(scale)
             .select(group_col,
                     F.floor(F.least(
                         F.lit(1.0),
                         F.col("_scale") * F.col("_tg") / F.col("_ng"))
                         * F.lit(float(U32_SPAN)))
                     .cast("long").alias("_thr")))
    return (df.join(F.broadcast(rates), group_col)
            .where(sample_u32(key_col, seed) < F.col("_thr"))
            .drop("_thr"))


def temperature_rebalance(df: DataFrame, group_col: str, key_col: str,
                          seed: int = 0) -> DataFrame:
    """Temperature-flattened downsampling at tau = 1/2 (the
    multilingual-corpus move popularized by mBERT/XLM-R/GPT-3: sample
    shares proportional to n_g^tau, so head groups shrink and tail
    groups keep everything): derived targets t_g = sqrt(n_g), binding
    scale = min_g sqrt(n_g), per-group keep rate sqrt(n_min / n_g) —
    the smallest group keeps 1.0, a group 100x larger keeps 1/10.

    tau is FIXED at 1/2 because IEEE-754 guarantees sqrt is correctly
    rounded (identical bits on every engine) while pow() is a libm
    call with no such guarantee — an arbitrary-tau version would not
    be oracle-replayable. Same in-plan shape as rebalance_to_target:
    counts aggregate -> 1-row binding min -> broadcast rate join ->
    deterministic u32 hash-threshold keep; no driver collect at any
    group count."""
    counts = (df.groupBy(group_col)
              .agg(F.count(F.lit(1)).cast("long").alias("_ng")))
    scale = counts.agg(
        F.min(F.sqrt(F.col("_ng").cast("double"))).alias("_smin"))
    rates = (counts.crossJoin(scale)
             .select(group_col,
                     F.floor(F.least(
                         F.lit(1.0),
                         F.col("_smin")
                         / F.sqrt(F.col("_ng").cast("double")))
                         * F.lit(float(U32_SPAN)))
                     .cast("long").alias("_thr")))
    return (df.join(F.broadcast(rates), group_col)
            .where(sample_u32(key_col, seed) < F.col("_thr"))
            .drop("_thr"))
