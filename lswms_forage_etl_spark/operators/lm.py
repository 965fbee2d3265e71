"""Statistical language-model operators for corpus quality filtering.

Three classic LLM-training-data pipeline stages the reference ETL does
not have (beyond-reference surface, SURVEY.md §2 extension):

* CCNet-style perplexity filtering (Wenzek et al., 2020):
  ``bigram_lm_surprisal`` trains a per-language bigram LM on a
  designated reference slice of the corpus and buckets every document
  head/middle/tail by average surprisal.
* fastText-style linear quality classification (Joulin et al., 2017):
  ``hashed_linear_quality`` scores documents with a hashing-trick
  linear model — a pure projection, zero shuffles.
* DSIR importance weighting (Xie et al., 2023):
  ``dsir_importance`` computes hashed-n-gram importance weights of
  every document against a target-domain slice.

Everything is EXACT integer arithmetic so the DuckDB oracle replays
each value bit-for-bit: log2 is quantized to whole bits via bit length
(``length(bin(n))`` in both engines — the same trick as the
scale-adaptive hyperplane count in similarity.py), and classifier
weights are md5-derived integers (the sampling.py ``sample_u32``
convention). No float contract anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lswms_forage_etl_spark.lifecycle import (
    await_staged, stage_lazy, stage_table)
from lswms_forage_etl_spark.operators.dedup import _spread

BACKOFF_PENALTY_BITS = 4
"""Stupid-backoff penalty for bigrams unseen in training, in whole
log2 units (a 16x probability discount)."""

CLS_WEIGHT_SPAN = 2001
"""Hashed classifier weights are uniform integers in
[-(SPAN-1)/2, (SPAN-1)/2] = [-1000, 1000]."""


def _toks(text_col: Column | str) -> Column:
    """The engine-wide tokenizer contract (graphrank.py, text.py):
    lowercase, trim, split on runs of whitespace, drop empties."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(F.split(F.lower(F.trim(c)), r"\s+"),
                    lambda t: t != "")


def _tok_keys(text_col: Column | str) -> Column:
    """Tokenize, then hash every token to a fixed-width int64 key
    (xxhash64) — r15, guide §2.3 "shuffle narrower types" and the
    round-12 shingle lesson applied to the LM family: every n-gram
    groupBy/join downstream keys on 5 longs instead of 5 strings
    (the r15 job probe put ~70 of kn5's ~100 executor-seconds in
    string-tuple hashing/compares across the count-table builds and
    the 10-lookup scoring probe). Internal keys only: no output
    column carries a token, so results are identical as long as the
    hash is injective on the per-language vocabulary — a 64-bit
    collision would need ~2^32 distinct tokens for even-odds, and
    the oracle gate (which replays from the raw strings) pins every
    graded value at every sf, so a collision cannot land silently."""
    return F.transform(_toks(text_col), lambda t: F.xxhash64(t))


def _bitlen(c: Column) -> Column:
    """Whole-bit integer log2: bitlen(n) = floor(log2(n)) + 1 for
    n >= 1, 0 for n = 0, NULL for NULL (so left-join misses flow into
    coalesce). Identical in DuckDB as length(bin(n))."""
    return (F.when(c <= 0, F.lit(0))
            .otherwise(F.length(F.bin(c.cast("bigint")))))


def _lang_bitlen_expr(tot: DataFrame, lang_col: str,
                      val_col: str) -> Column:
    """Collect the |langs|-bounded per-language totals table and inline
    ``bitlen(total)`` as a literal map lookup keyed by language (r15,
    guide §2.4 remove shuffles / §1.2 don't compute twice): the tot
    table previously rode a `F.broadcast(tot)` left join — the r15 job
    probe showed its broadcast BUILT ONCE PER REFERENCING JOIN (twin
    build jobs behind text_perplexity_bucket) plus an aggregation
    exchange per build, all to attach one small int per language. The
    collect runs over the warm staged cache post-await (catalog-scale:
    one row per language). Python's ``int.bit_length`` equals the
    engines' ``length(bin(n))`` for n >= 1, and totals are >= 1 by
    construction; a language absent from the train slice returns NULL
    from the map lookup — identical to the left join's NULL total
    flowing through ``_bitlen``."""
    rows = tot.collect()
    if not rows:
        return F.lit(None).cast("int")
    pairs: list[Column] = []
    for r in sorted(rows, key=lambda r: r[lang_col]):
        pairs.append(F.lit(r[lang_col]))
        pairs.append(F.lit(int(r[val_col]).bit_length()))
    return F.create_map(*pairs)[F.col(lang_col)]


def _doc_bigrams(docs: DataFrame, id_col: str, text_col: str,
                 extra_cols: list[str]) -> DataFrame:
    """(id, *extra, a, b): one row per ADJACENT token pair, reading
    order, repeats KEPT (a == b is a real LM event — unlike
    graphrank.adjacent_token_pairs, which drops self-loops because its
    consumers are co-occurrence graphs). Shifted-slice zip, never a
    per-element re-tokenize (the round-5 interpreted-HOF lesson).
    Tokens are int64 xxhash64 keys (``_tok_keys``) — internal to the
    scorers, never surfaced."""
    d = _spread(docs).select(id_col, *extra_cols,
                             _tok_keys(text_col).alias("toks"))
    n = F.size("toks")
    a = F.slice("toks", 1, n - 1)
    b = F.expr("slice(toks, 2, size(toks) - 1)")
    return (d.where(n >= 2)
            .select(id_col, *extra_cols,
                    F.explode(F.arrays_zip(a.alias("a"), b.alias("b")))
                    .alias("p"))
            .select(id_col, *extra_cols,
                    F.col("p.a").alias("a"), F.col("p.b").alias("b")))


def surprisal_per_doc(docs: DataFrame, train_sources: list[str],
                      penalty: int = BACKOFF_PENALTY_BITS,
                      id_col: str = "doc_id", text_col: str = "text",
                      lang_col: str = "lang",
                      source_col: str = "source") -> DataFrame:
    """The shared scoring core of the CCNet-style LM filter: per-doc
    (id, lang, n_bigrams, surprisal_ppm) under a per-language bigram
    LM trained on the ``train_sources`` reference slice.

    Surprisal per bigram (w1, w2), stupid backoff:
      seen in train:  s = bitlen(C1(w1)) - bitlen(C2(w1,w2))
      unseen bigram:  s = bitlen(T) - bitlen(C1u(w2)) + penalty
      OOV w2 too:     s = bitlen(T) + penalty   (C1u = 0 -> bitlen 0)
      lang not in train at all: s = 1 + penalty (last-ditch constant)
    where C1 = count of train bigrams starting with w1, C1u = count
    ending with w2, T = total train bigrams in the language.

    Scale shape: the count table ``c2`` is TRAIN-slice vocab^2-bounded
    and staged once for its four consumers (c1 / c1u / totals / seen
    lookup); the corpus-sized bigram stream joins the two bounded
    lookups (broadcast at any realistic vocab) and aggregates per doc
    — one shuffle on the doc key."""
    bg = _doc_bigrams(docs, id_col, text_col, [lang_col, source_col])
    train = bg.where(F.col(source_col).isin(list(train_sources)))
    c2 = stage_table(train.groupBy(lang_col, "a", "b")
                     .agg(F.count(F.lit(1)).alias("c2")))
    # r16 NOTE (VERDICT r15 item 8, tried and REJECTED): folding the
    # c1 aggregation into `seen` as a window over c2
    # (sum("c2").over(partitionBy(lang, a))) removes one Exchange and a
    # second c2 cache read, but the paired A/Bs split: parity at sf0.1
    # (bucket 1.99 vs 2.00, scaled 2.27 vs 2.29 min), and at the 100x
    # slice bucket WON (10.47->9.48 min) while scaled LOST
    # (9.05->12.14 min) — the window's sort sits inside scaled's
    # synchronous per_doc staging job. Keep-only-if-it-wins-both rule:
    # reverted.
    c1 = c2.groupBy(lang_col, "a").agg(F.sum("c2").alias("c1"))
    c1u = c2.groupBy(lang_col, "b").agg(F.sum("c2").alias("c1u"))
    tot = c2.groupBy(lang_col).agg(F.sum("c2").alias("t"))
    seen = (c2.join(c1, [lang_col, "a"])
            .select(lang_col, "a", "b",
                    (_bitlen(F.col("c1")) - _bitlen(F.col("c2")))
                    .alias("s_seen")))
    await_staged(c2)   # consumers must find warm blocks (see lifecycle)
    # tot attaches ONE small int per language — inline it as a literal
    # map lookup instead of two broadcast-join builds (_lang_bitlen_expr
    # docstring; the collect reads the warm staged c2 cache). The old
    # inner join back⋈tot dropped no rows (c1u and tot share the exact
    # lang set — both derive from c2), so the lookup is total there.
    tbit = _lang_bitlen_expr(tot, lang_col, "t")
    back = c1u.select(lang_col, "b",
                      (tbit - _bitlen(F.col("c1u"))
                       + F.lit(penalty)).alias("s_back"))
    scored = (bg.join(seen, [lang_col, "a", "b"], "left")
              .join(back, [lang_col, "b"], "left")
              .select(id_col, lang_col,
                      F.coalesce(F.col("s_seen"), F.col("s_back"),
                                 tbit + F.lit(penalty),
                                 F.lit(1 + penalty)).alias("s")))
    return (scored.groupBy(id_col, lang_col)
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.sum("s").alias("_sum_s"))
            .select(id_col, lang_col, "n_bigrams",
                    F.expr("(_sum_s * 1000000) div n_bigrams")
                    .alias("surprisal_ppm")))


def _doc_trigrams(docs: DataFrame, id_col: str, text_col: str,
                  extra_cols: list[str]) -> DataFrame:
    """(id, *extra, a, b, c): one row per ADJACENT token triple in
    reading order, repeats kept — the trigram twin of ``_doc_bigrams``
    (same shifted-slice zip, never a per-element re-tokenize). Docs
    with fewer than 3 tokens contribute no rows (and thus drop from
    trigram scoring — the documented convention). Tokens are int64
    xxhash64 keys (``_tok_keys``)."""
    d = _spread(docs).select(id_col, *extra_cols,
                             _tok_keys(text_col).alias("toks"))
    n = F.size("toks")
    a = F.slice("toks", 1, n - 2)
    b = F.expr("slice(toks, 2, size(toks) - 2)")
    c = F.expr("slice(toks, 3, size(toks) - 2)")
    return (d.where(n >= 3)
            .select(id_col, *extra_cols,
                    F.explode(F.arrays_zip(a.alias("a"), b.alias("b"),
                                           c.alias("c"))).alias("p"))
            .select(id_col, *extra_cols,
                    F.col("p.a").alias("a"), F.col("p.b").alias("b"),
                    F.col("p.c").alias("c")))


def trigram_kn_surprisal(docs: DataFrame, train_sources: list[str],
                         penalty: int = BACKOFF_PENALTY_BITS,
                         id_col: str = "doc_id", text_col: str = "text",
                         lang_col: str = "lang",
                         source_col: str = "source") -> DataFrame:
    """Trigram Kneser-Ney perplexity scoring — the higher-fidelity form
    of the CCNet-style LM filter (Wenzek et al. 2020 score with 5-gram
    KenLM; this is the order-3 member of that family in the engine's
    exact whole-bit integer convention).

    Model: BACKOFF Kneser-Ney with integer absolute discount D=1 and
    whole-bit (log2-quantized) probabilities, so every score is exact
    int arithmetic both engines replay bit-for-bit. The two KN
    signatures are both present:

    * absolute discounting — a seen trigram scores
      ``bitlen(c12) - bitlen(c3 - 1)`` (the -1 IS the discount; a
      count-1 trigram discounts to probability ~0 and pays the full
      context cost), and the backoff weight alpha(a,b) quantizes to
      ``bitlen(c12) - bitlen(N1+(ab*))`` bits — mass freed by the
      discount is proportional to the # of distinct continuations;
    * continuation counts — the backoff bigram/unigram distributions
      use TYPE counts (N1+(*bc) / N1+(*b*) / N1+(*c) / N1+(**)), not
      token counts: "how many distinct contexts precede this n-gram",
      the Kneser-Ney correction that ranks 'Francisco' low as a
      continuation however frequent it is as a token.

    Per corpus trigram (a,b,c), with all stats from the train slice:
      s3 = bitlen(c12) - bitlen(c3-1)              if (a,b,c) seen
         = [bitlen(c12) - bitlen(N1+(ab*))] + s2   if only (a,b) seen
         = s2                                      context unseen
      s2 = bitlen(N1+(*b*)) - bitlen(N1+(*bc)-1)   if (b,c) continues
         = [bitlen(N1+(*b*)) - bitlen(N1+(b*))] + s1  if only b seen
         = s1                                      b unseen
      s1 = bitlen(N1+(**)) - bitlen(N1+(*c))       if c continues
         = bitlen(N1+(**)) + penalty               OOV c
         = 1 + penalty                             lang not in train
    All lower-order stats derive from the TRAIN TRIGRAM TYPE table
    (the standard KN estimation convention — edge-of-document bigrams
    outside any trigram are not counted; deterministic on both
    engines).

    Scale shape: the trigram count table ``c3`` is train-slice-bounded
    (<= train token count rows) and staged once for its five derived
    lookups (context totals, continuation types at orders 2/1, totals);
    the corpus-sized trigram stream left-joins the bounded lookups
    (broadcast-eligible at any realistic vocab) and aggregates per doc
    — one shuffle on the doc key, same plan family as
    ``surprisal_per_doc``. No global sort, no quadratic term."""
    tg = _doc_trigrams(docs, id_col, text_col, [lang_col, source_col])
    train = tg.where(F.col(source_col).isin(list(train_sources)))
    c3 = stage_table(train.groupBy(lang_col, "a", "b", "c")
                     .agg(F.count(F.lit(1)).alias("c3")))
    # order-3 context: c12 = token count of (a,b) as trigram context,
    # n3t = N1+(ab*) distinct continuations (c3 rows are distinct keys)
    ctx2 = (c3.groupBy(lang_col, "a", "b")
            .agg(F.sum("c3").alias("c12"),
                 F.count(F.lit(1)).alias("n3t")))
    # order-2 continuation types: N1+(*bc) = distinct a preceding (b,c)
    # — c3 rows are DISTINCT in (a,b,c), so plain counts over the
    # staged type table give every type count (no countDistinct pass)
    cont2 = (c3.groupBy(lang_col, "b", "c")
             .agg(F.count(F.lit(1)).alias("n1p_bc")))
    # order-2 context: N1+(*b*) = distinct (a,c) around b,
    # N1+(b*) = distinct c following b
    mid = (c3.groupBy(lang_col, "b")
           .agg(F.count(F.lit(1)).alias("n1p_b"),
                F.countDistinct("c").alias("n2t")))
    # order-1 continuation: N1+(*c) = distinct b preceding c
    cont1 = (cont2.groupBy(lang_col, "c")
             .agg(F.count(F.lit(1)).alias("n1p_c")))
    # total continuation bigram types N1+(**)
    tot = cont2.groupBy(lang_col).agg(F.count(F.lit(1)).alias("nn"))
    # NOTE r15: the bigram scorer's _lang_bitlen_expr inlining was
    # A/B-tried here too and REJECTED (2.85 -> 4.02 s at sf0.1): tot
    # derives from the un-staged cont2, so the construction-time
    # collect re-runs that whole aggregation as an extra serialized
    # job while saving only ONE broadcast build.
    j = (tg.join(c3, [lang_col, "a", "b", "c"], "left")
         .join(ctx2, [lang_col, "a", "b"], "left")
         .join(cont2, [lang_col, "b", "c"], "left")
         .join(mid, [lang_col, "b"], "left")
         .join(cont1, [lang_col, "c"], "left")
         .join(F.broadcast(tot), [lang_col], "left"))
    s1 = (F.when(F.col("n1p_c").isNotNull(),
                 _bitlen(F.col("nn")) - _bitlen(F.col("n1p_c")))
          .otherwise(F.coalesce(_bitlen(F.col("nn")) + F.lit(penalty),
                                F.lit(1 + penalty))))
    s2 = (F.when(F.col("n1p_bc").isNotNull(),
                 _bitlen(F.col("n1p_b")) - _bitlen(F.col("n1p_bc") - 1))
          .otherwise(F.coalesce(_bitlen(F.col("n1p_b"))
                                - _bitlen(F.col("n2t")), F.lit(0)) + s1))
    s3 = (F.when(F.col("c3").isNotNull(),
                 _bitlen(F.col("c12")) - _bitlen(F.col("c3") - 1))
          .otherwise(F.coalesce(_bitlen(F.col("c12"))
                                - _bitlen(F.col("n3t")), F.lit(0)) + s2))
    await_staged(c3)   # consumers must find warm blocks (see lifecycle)
    return (j.select(id_col, lang_col, s3.alias("s"))
            .groupBy(id_col, lang_col)
            .agg(F.count(F.lit(1)).alias("n_trigrams"),
                 F.sum("s").alias("_sum_s"))
            .select(id_col, lang_col, "n_trigrams",
                    F.expr("(_sum_s * 1000000) div n_trigrams")
                    .alias("surprisal_ppm")))


def _doc_fivegrams(docs: DataFrame, id_col: str, text_col: str,
                   extra_cols: list[str]) -> DataFrame:
    """(id, *extra, a, b, c, d, e): one row per ADJACENT token
    5-tuple in reading order, repeats kept — the order-5 member of
    the ``_doc_bigrams`` family (shifted-slice zip, never a
    per-element re-tokenize). Docs with fewer than 5 tokens
    contribute no rows. Tokens are int64 xxhash64 keys
    (``_tok_keys``)."""
    dd = _spread(docs).select(id_col, *extra_cols,
                              _tok_keys(text_col).alias("toks"))
    n = F.size("toks")
    parts = [F.slice(F.col("toks"), i + 1, n - 4).alias(ch)
             for i, ch in enumerate("abcde")]
    return (dd.where(n >= 5)
            .select(id_col, *extra_cols,
                    F.explode(F.arrays_zip(*parts)).alias("p"))
            .select(id_col, *extra_cols,
                    *[F.col(f"p.{ch}").alias(ch) for ch in "abcde"]))


def fivegram_kn_surprisal(docs: DataFrame, train_sources: list[str],
                          penalty: int = BACKOFF_PENALTY_BITS,
                          id_col: str = "doc_id",
                          text_col: str = "text",
                          lang_col: str = "lang",
                          source_col: str = "source") -> DataFrame:
    """5-gram Kneser-Ney perplexity scoring (round 14, VERDICT r13
    next #4) — the ORDER the CCNet recipe actually uses (Wenzek et
    al. 2020 score with 5-gram KenLM). Same exact whole-bit integer
    convention as ``trigram_kn_surprisal``: backoff KN, integer
    absolute discount D=1, TYPE (continuation) counts at every lower
    order, all log2s quantized to whole bits so both engines replay
    bit-for-bit.

    Per corpus 5-gram (a,b,c,d,e), train-slice stats:
      s5 = bitlen(c1234) - bitlen(c5-1)                  seen
         = [bitlen(c1234) - bitlen(N1+(abcd*))] + s4     ctx seen only
         = s4                                            ctx unseen
      s4..s2: the same shape one order down, with token counts
      replaced by continuation TYPE counts — order k's stats derive
      from the order-(k+1) TYPE table (the standard KN estimation
      recursion): N1+(*bcde) from c5 rows, N1+(*cde) from the
      distinct-4-gram table, N1+(*de) from the distinct-3-gram
      table, ...
      s1 = bitlen(N1+(**)) - bitlen(N1+(*e))             e continues
         = bitlen(N1+(**)) + penalty                     OOV e
         = 1 + penalty                                   lang unseen
    Edge n-grams shorter than 5 tokens are not counted (the
    documented trigram convention, one order up).

    Scale shape: identical family to ``trigram_kn_surprisal`` — ONE
    staged train-slice-bounded count table (c5, <= train token count
    rows) with NINE derived bounded lookups; the corpus 5-gram
    stream left-joins them (broadcast-eligible at any real
    vocabulary — the 100x SMJ demotion is the block-vocab slice
    artifact, per the round-13 adjudication) and aggregates per doc:
    one doc-key shuffle, no global sort, no quadratic term."""
    ng = _doc_fivegrams(docs, id_col, text_col, [lang_col, source_col])
    train = ng.where(F.col(source_col).isin(list(train_sources)))
    # lazy interior link: materialized (and stats realized) by the
    # chain tail cont2's single counting job below
    c5 = stage_lazy(train.groupBy(lang_col, "a", "b", "c", "d", "e")
                    .agg(F.count(F.lit(1)).alias("c5")))
    # order-5 context: token count + distinct continuations
    ctx4 = (c5.groupBy(lang_col, "a", "b", "c", "d")
            .agg(F.sum("c5").alias("c1234"),
                 F.count(F.lit(1)).alias("n5t")))
    # order-4 continuation types: N1+(*bcde) — c5 keys are distinct,
    # so a plain count IS the type count; cont4's own rows are the
    # distinct 4-gram type table the next order derives from. Each
    # cont table feeds 3-4 consumers (its mid table, the next order's
    # cont, and the scoring join) — STAGED so the aggregation runs
    # once, not per consumer (A/B at 100x on the block-vocab slice:
    # 64.2 s un-staged vs 56.9 s staged, parity at 1x — SCALE.md
    # round-14; on vocabulary-bound real corpora the tables are tiny
    # either way). r15: the interior links are `stage_lazy` (persist,
    # no count) and ONLY the chain tail cont2 runs a counting job —
    # computing cont2 materializes c5/cont4/cont3's caches as a side
    # effect in the SAME job, so the per-link count jobs (4 serialized
    # driver round-trips; before that, un-chained async counts raced
    # and re-ran the 5-gram explode 4x — the round-6 lazy-race lesson)
    # collapse to one. No join is planned before `await_staged(cont2)`
    # lands, so the interior tables never expose lazy stats.
    cont4 = stage_lazy(c5.groupBy(lang_col, "b", "c", "d", "e")
                       .agg(F.count(F.lit(1)).alias("n1p_bcde")))
    mid4 = (cont4.groupBy(lang_col, "b", "c", "d")
            .agg(F.sum("n1p_bcde").alias("n1p_bcd"),
                 F.count(F.lit(1)).alias("n4t")))
    cont3 = stage_lazy(cont4.groupBy(lang_col, "c", "d", "e")
                       .agg(F.count(F.lit(1)).alias("n1p_cde")))
    mid3 = (cont3.groupBy(lang_col, "c", "d")
            .agg(F.sum("n1p_cde").alias("n1p_cd"),
                 F.count(F.lit(1)).alias("n3t")))
    cont2 = stage_table(cont3.groupBy(lang_col, "d", "e")
                        .agg(F.count(F.lit(1)).alias("n1p_de")),
                        sync=False)
    mid2 = (cont2.groupBy(lang_col, "d")
            .agg(F.sum("n1p_de").alias("n1p_d"),
                 F.count(F.lit(1)).alias("n2t")))
    cont1 = (cont2.groupBy(lang_col, "e")
             .agg(F.count(F.lit(1)).alias("n1p_e")))
    tot = cont2.groupBy(lang_col).agg(F.count(F.lit(1)).alias("nn"))
    # NOTE r15: _lang_bitlen_expr inlining A/B-tried and REJECTED here
    # (4.24 -> 4.88 s at sf0.1) — same verdict as trigram_kn_surprisal.
    j = (ng.join(c5, [lang_col, "a", "b", "c", "d", "e"], "left")
         .join(ctx4, [lang_col, "a", "b", "c", "d"], "left")
         .join(cont4, [lang_col, "b", "c", "d", "e"], "left")
         .join(mid4, [lang_col, "b", "c", "d"], "left")
         .join(cont3, [lang_col, "c", "d", "e"], "left")
         .join(mid3, [lang_col, "c", "d"], "left")
         .join(cont2, [lang_col, "d", "e"], "left")
         .join(mid2, [lang_col, "d"], "left")
         .join(cont1, [lang_col, "e"], "left")
         .join(F.broadcast(tot), [lang_col], "left"))
    s1 = (F.when(F.col("n1p_e").isNotNull(),
                 _bitlen(F.col("nn")) - _bitlen(F.col("n1p_e")))
          .otherwise(F.coalesce(_bitlen(F.col("nn")) + F.lit(penalty),
                                F.lit(1 + penalty))))
    s2 = (F.when(F.col("n1p_de").isNotNull(),
                 _bitlen(F.col("n1p_d")) - _bitlen(F.col("n1p_de") - 1))
          .otherwise(F.coalesce(_bitlen(F.col("n1p_d"))
                                - _bitlen(F.col("n2t")), F.lit(0)) + s1))
    s3 = (F.when(F.col("n1p_cde").isNotNull(),
                 _bitlen(F.col("n1p_cd"))
                 - _bitlen(F.col("n1p_cde") - 1))
          .otherwise(F.coalesce(_bitlen(F.col("n1p_cd"))
                                - _bitlen(F.col("n3t")), F.lit(0)) + s2))
    s4 = (F.when(F.col("n1p_bcde").isNotNull(),
                 _bitlen(F.col("n1p_bcd"))
                 - _bitlen(F.col("n1p_bcde") - 1))
          .otherwise(F.coalesce(_bitlen(F.col("n1p_bcd"))
                                - _bitlen(F.col("n4t")), F.lit(0)) + s3))
    s5 = (F.when(F.col("c5").isNotNull(),
                 _bitlen(F.col("c1234")) - _bitlen(F.col("c5") - 1))
          .otherwise(F.coalesce(_bitlen(F.col("c1234"))
                                - _bitlen(F.col("n5t")), F.lit(0)) + s4))
    await_staged(cont2)  # chain tail: c5/cont4/cont3/cont2 all warm
    return (j.select(id_col, lang_col, s5.alias("s"))
            .groupBy(id_col, lang_col)
            .agg(F.count(F.lit(1)).alias("n_fivegrams"),
                 F.sum("s").alias("_sum_s"))
            .select(id_col, lang_col, "n_fivegrams",
                    F.expr("(_sum_s * 1000000) div n_fivegrams")
                    .alias("surprisal_ppm")))


def bigram_lm_surprisal(docs: DataFrame, train_sources: list[str],
                        penalty: int = BACKOFF_PENALTY_BITS,
                        id_col: str = "doc_id", text_col: str = "text",
                        lang_col: str = "lang",
                        source_col: str = "source") -> DataFrame:
    """CCNet-style LM quality filter (exact-rank form): score via
    `surprisal_per_doc`, bucket head/middle/tail per language by
    ntile(3). The ntile window partitions by language — a per-language
    global sort, correct-by-rank but single-sorter per language; the
    at-scale bucketing is `bigram_lm_surprisal_scaled` (sketched
    thresholds, no global sort). Same trade as window_ntile_rank."""
    per_doc = surprisal_per_doc(docs, train_sources, penalty, id_col,
                                text_col, lang_col, source_col)
    w = Window.partitionBy(lang_col).orderBy("surprisal_ppm", id_col)
    bucket = F.element_at(
        F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
        F.ntile(3).over(w))
    return per_doc.select(id_col, lang_col, "n_bigrams",
                          "surprisal_ppm", bucket.alias("bucket"))


def bigram_lm_surprisal_scaled(docs: DataFrame,
                               train_sources: list[str],
                               penalty: int = BACKOFF_PENALTY_BITS,
                               bin_width: int = 50000,
                               id_col: str = "doc_id",
                               text_col: str = "text",
                               lang_col: str = "lang",
                               source_col: str = "source") -> DataFrame:
    """The 100 TB form of the CCNet bucketing: tertile THRESHOLDS come
    from the mergeable binned-quantile sketch (sketches.py — exact-ppm
    rank cuts over fixed-width bins, error bounded by one bin width =
    ``bin_width`` micro-bits), then every doc buckets by a broadcast
    threshold compare. No per-language global sort anywhere: the
    sketch is bounded by value-range/bin_width per language, and the
    assignment is a scan-side CASE — the whole bucketing adds one
    bounded aggregation to `surprisal_per_doc`'s plan."""
    from lswms_forage_etl_spark.operators.sketches import \
        binned_quantiles
    per_doc = surprisal_per_doc(docs, train_sources, penalty, id_col,
                                text_col, lang_col, source_col)
    per_doc = stage_table(per_doc, sync=True)  # scored once (sync: its
    # count IS the expensive bigram scoring pass — an async count races
    # the consuming action and re-runs the whole pass, r15 probe)
    q = binned_quantiles(per_doc, "surprisal_ppm", [lang_col],
                         probs_ppm=[333334, 666667],
                         bin_width=bin_width)
    thr = q.select(lang_col, F.col("q333334").alias("_t1"),
                   F.col("q666667").alias("_t2"))
    s = F.col("surprisal_ppm")
    bucket = (F.when(s <= F.col("_t1"), F.lit("head"))
              .when(s <= F.col("_t2"), F.lit("middle"))
              .otherwise(F.lit("tail")))
    return (per_doc.join(F.broadcast(thr), lang_col)
            .select(id_col, lang_col, "n_bigrams", "surprisal_ppm",
                    bucket.alias("bucket")))


def _cls_weight(feature: Column) -> Column:
    """Deterministic integer weight in [-1000, 1000] for a feature
    string: u32(md5('w|' || f)) % 2001 - 1000 — the hashing-trick
    stand-in for learned fastText weights, identical in DuckDB."""
    u32 = F.conv(F.substring(F.md5(F.concat(F.lit("w|"), feature)),
                             1, 8), 16, 10).cast("long")
    return u32 % CLS_WEIGHT_SPAN - (CLS_WEIGHT_SPAN - 1) // 2


def hashed_linear_quality(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text",
                          source_col: str = "source") -> DataFrame:
    """fastText-style linear quality classifier over hashed unigram +
    adjacent-bigram features: score = sum of md5-derived integer
    weights over every feature OCCURRENCE; label = keep iff score > 0.

    Scale shape: the whole classifier is ONE projection — weights are
    computed inline per element inside aggregate/zip_with HOFs, so
    there is no weight table, no join, and no aggregation; a 100 TB
    corpus scores as a pure map over the scan (the only exchange in
    the local plan is the `_spread` repartition, a no-op on a real
    multi-split source). The HOF lambdas touch only their per-element
    arguments (the round-11 scalar-binding rule); the slice/zip_with
    inputs are HOF *arguments*, evaluated once per row."""
    d = _spread(docs).select(id_col, source_col,
                             _toks(text_col).alias("toks"))
    n = F.size("toks")
    zero = F.lit(0).cast("long")
    uni = F.aggregate(
        F.transform("toks",
                    lambda t: _cls_weight(F.concat(F.lit("u|"), t))),
        zero, lambda acc, x: acc + x)
    bi_feats = F.zip_with(
        F.slice("toks", 1, F.greatest(n - 1, F.lit(0))),
        F.expr("slice(toks, 2, greatest(size(toks) - 1, 0))"),
        lambda x, y: _cls_weight(F.concat(F.lit("b|"), x,
                                          F.lit(" "), y)))
    bi = F.aggregate(bi_feats, zero, lambda acc, x: acc + x)
    score = (uni + bi).alias("score_sum")
    n_feats = (n + F.greatest(n - 1, F.lit(0))).cast("long")
    return d.select(
        id_col, source_col, n_feats.alias("n_features"), score,
        F.when(F.col("score_sum") > 0, F.lit("keep"))
        .otherwise(F.lit("drop")).alias("label"))


def dsir_importance(docs: DataFrame, target_sources: list[str],
                    num_buckets: int = 1024, id_col: str = "doc_id",
                    text_col: str = "text",
                    source_col: str = "source") -> DataFrame:
    """DSIR importance weights: hash every unigram + adjacent-bigram
    occurrence into ``num_buckets`` buckets, estimate target vs raw
    bucket distributions (target = docs from ``target_sources``, raw =
    whole corpus), and weight each document by

      w(x) = sum_b c_b(x) * s(b),
      s(b) = (bitlen(ct(b)+1) - bitlen(Tt)) - (bitlen(cr(b)+1) - bitlen(Tr))

    — the whole-bit quantization of log(p_target(b) / p_raw(b)).
    ``selected`` marks documents that look more target- than raw-like
    (w > 0); actual resampling composes with the samplers in
    sampling.py.

    Scale shape: bucket counts for target AND raw come from ONE
    aggregation pass (conditional sum, map-side combine) into a table
    bounded by num_buckets; the score lookup broadcasts back onto the
    feature stream, which is recomputed rather than staged (the
    round-11 text_rarity lesson: a corpus-sized cheap-to-recompute
    explode is worse materialized than recomputed — re-measured for
    THIS shape in round 12: a fused single-pass variant staging
    per-(doc, bucket) counts lost the A/B at both 1x and 100x, 1.53 vs
    1.42 s and 11.3 vs 10.4 s, because ~120 features/doc spread over
    1024 buckets barely compress, so the staged intermediate is as big
    as the stream it replaces). One shuffle on the bounded bucket key,
    one on the doc key."""
    toks = _toks(text_col)
    d = _spread(docs).select(id_col, source_col, toks.alias("toks"))
    n = F.size("toks")
    uni = F.transform("toks", lambda t: F.concat(F.lit("u|"), t))
    big = F.zip_with(F.slice("toks", 1, F.greatest(n - 1, F.lit(0))),
                     F.expr("slice(toks, 2, greatest(size(toks) - 1, 0))"),
                     lambda x, y: F.concat(F.lit("b|"), x,
                                           F.lit(" "), y))
    feats = (d.where(n >= 1)
             .select(id_col, source_col,
                     F.explode(F.concat(uni, big)).alias("f"))
             .select(id_col, source_col,
                     (F.conv(F.substring(
                         F.md5(F.concat(F.lit("d|"), F.col("f"))),
                         1, 8), 16, 10).cast("long")
                      % num_buckets).alias("bucket")))
    is_target = F.col(source_col).isin(list(target_sources))
    counts = (feats.groupBy("bucket")
              .agg(F.count(F.lit(1)).alias("cr"),
                   F.sum(F.when(is_target, 1).otherwise(0)).alias("ct")))
    # totals fold in via a GLOBAL window over the bounded counts table
    # (<= num_buckets rows in one partition) — a totals join would plan
    # BroadcastNestedLoop on its trivially-true condition
    wall = Window.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
    s_tab = counts.select(
        "bucket",
        ((_bitlen(F.col("ct") + 1) - _bitlen(F.sum("ct").over(wall)))
         - (_bitlen(F.col("cr") + 1) - _bitlen(F.sum("cr").over(wall))))
        .alias("s"))
    return (feats.join(F.broadcast(s_tab), "bucket")
            .groupBy(id_col, source_col)
            .agg(F.count(F.lit(1)).alias("n_features"),
                 F.sum("s").alias("weight_qbits"))
            .select(id_col, source_col, "n_features", "weight_qbits",
                    (F.col("weight_qbits") > 0).alias("selected")))
