"""Corpus-build pipeline: the LLM-data twin of `forage_pipeline`.

Composes the engine's training-data operators through the same E1
orchestrator (empty-guard cascade, failure hooks, lazy stage hand-offs):

    clean      C4-style gate: quality score + language id + length band
    dedup      exact fingerprint keep-min -> MinHash-LSH near-dup pairs
               -> connected components -> drop non-representatives
    decontam   remove train docs whose shingles contain an eval doc
               (directional containment >= threshold)
    sample     per-source deterministic cap (skew-safe corpus balance)

Each stage's output is a named DataFrame in ctx; at real scale the
hand-offs are parquet/Delta stage tables (the shingle table is THE
expensive artifact — built once, reused by dedup and decontam)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lswms_forage_etl_spark.lifecycle import stage_table, track

from lswms_forage_etl_spark.functions import text as T
from lswms_forage_etl_spark.operators.dedup import (
    duplicate_clusters,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_containment,
    ngram_jaccard,
    shingle_table,
)
from lswms_forage_etl_spark.operators.sampling import group_cap
from lswms_forage_etl_spark.plans.pipeline import Pipeline, Stage


def corpus_pipeline(quality_min: float = 0.8,
                    jaccard_min: float = 0.7,
                    containment_min: float = 0.8,
                    per_source_cap: int = 10_000) -> Pipeline:
    """Expected ctx inputs: docs (doc_id, text, source), eval_docs
    (doc_id, text). Outputs: clean, clusters, deduped, decontaminated,
    corpus.

    Near-dup pairs come from MinHash banding (approximate, recall
    governed by the band S-curve, robust to low-diversity vocabularies),
    run AFTER the exact-fingerprint collapse, so banding sees unique
    texts only."""

    def st_clean(spark, ctx):
        d = ctx["docs"].where(
            (T.quality_score("text") >= quality_min)
            & (T.lang_id("text") != "und"))
        return {"clean": track(d.persist())}

    def st_dedup(spark, ctx):
        d = ctx["clean"]
        # exact pass FIRST (VERDICT r5 item 1): collapse identical texts
        # before anything touches LSH, so a mega exact-dup cluster (m
        # copies of boilerplate) reaches banding as ONE representative
        # and contributes star edges to its keeper — linear in m — never
        # a band bucket. The LSH stage then runs over unique content
        # only; exact edges are unioned into the pair list so connected
        # components still merge exact and near dups into one cluster.
        # fps is self-joined (groupBy side + probe side) — materialize
        # it first or each side re-executes the clean-gate scan +
        # fingerprint md5 (CLAUDE.md round-4 rule)
        fps = stage_table(
            d.select("doc_id", T.fingerprint("text").alias("_fp")))
        exact = stage_table(
            fps.join(fps.groupBy("_fp").agg(F.min("doc_id").alias("_keep")),
                     "_fp")
            .select("doc_id", F.col("_keep").alias("_rep")))
        exact_edges = (exact.where(F.col("doc_id") != F.col("_rep"))
                       .select(F.col("_rep").alias("id_a"),
                               F.col("doc_id").alias("id_b")))
        reps = d.join(exact.where(F.col("doc_id") == F.col("_rep"))
                      .select("doc_id"), "doc_id")
        sh = stage_table(shingle_table(reps))
        sigs = minhash_signatures(reps, num_hashes=16, shingles=sh)
        pairs = lsh_candidate_pairs(sigs, bands=4, num_hashes=16)
        dups = ngram_jaccard(reps, pairs, shingles=sh).where(
            F.col("jaccard") >= jaccard_min)
        clusters = duplicate_clusters(
            dups.select("id_a", "id_b").unionAll(exact_edges))
        # keep representatives: drop every clustered doc that is not its
        # cluster's min id (anti-join — never collects the cluster map)
        losers = clusters.where(F.col("doc_id") != F.col("rep_id")) \
            .select("doc_id")
        return {"shingles": sh, "clusters": clusters,
                "deduped": track(d.join(losers, "doc_id", "left_anti").persist())}

    def st_decontam(spark, ctx):
        train = ctx["deduped"]
        ev = ctx["eval_docs"].select(
            F.col("doc_id").alias("eval_id"), "text")
        esh = stage_table(shingle_table(ev, id_col="eval_id"))
        tsigs = minhash_signatures(train, num_hashes=16,
                                   shingles=ctx["shingles"])
        esigs = minhash_signatures(ev, id_col="eval_id", num_hashes=16,
                                   shingles=esh)
        # cross-corpus LSH: band buckets joined across the two tables.
        # Decontam wants RECALL: 8 bands x 2 rows (collision prob 1-(1-j^2)^8
        # vs dedup's 1-(1-j^4)^4) — a missed dup wastes storage, a missed
        # leak poisons an eval.
        cand = (lsh_candidate_pairs(
            tsigs.unionByName(esigs.withColumnRenamed("eval_id", "doc_id")
                              .withColumn("doc_id", F.col("doc_id") + 10**12)),
            bands=8, num_hashes=16)
            .where((F.col("id_a") < 10**12) & (F.col("id_b") >= 10**12))
            .select("id_a", (F.col("id_b") - 10**12).alias("id_b")))
        sh_all = ctx["shingles"].unionByName(
            esh.withColumnRenamed("eval_id", "doc_id"))
        cont = ngram_containment(None, cand, shingles=sh_all)
        dirty = (cont.where(F.col("containment_b_in_a") >= containment_min)
                 .select(F.col("id_a").alias("doc_id")).distinct())
        return {"decontaminated": train.join(dirty, "doc_id", "left_anti")}

    def st_sample(spark, ctx):
        return {"corpus": group_cap(ctx["decontaminated"], ["source"],
                                    per_source_cap, key_col="doc_id")}

    return Pipeline(stages=[
        Stage("clean", st_clean, requires=("docs",)),
        Stage("dedup", st_dedup, requires=("clean",)),
        Stage("decontam", st_decontam, requires=("deduped", "eval_docs")),
        Stage("sample", st_sample, requires=("decontaminated",)),
    ])
