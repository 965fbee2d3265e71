"""Measure wall-clock scaling of the heaviest dedup/ANN queries across
block-diagonal slices built by tools/make_scale10x.py (VERDICT r4 item
8). Prints a markdown row per (query, dir) for SCALE.md.

Usage: python tools/scale_measure.py [dir ...]
  default dirs: /root/testdata/sf0.1 /root/scale10x

`dedup_embedding` follows the operator's own scale guidance (planes ~
log2(n/target_bucket)): num_planes grows with the corpus so bucket
occupancy stays constant — measuring a fixed 8-plane bucketing at 100x
would measure bucket saturation, not the operator (the docstring's
documented re-index rule).
"""

from __future__ import annotations

import math
import sys

import measure  # first: puts this checkout on both import paths

import __spark_entry__ as entrymod
from lswms_forage_etl_spark import get_spark

QUERIES = [
    "dedup_lsh_pairs",
    "dedup_clusters",
    "dedup_simhash",
    "dedup_embedding",
    "dedup_semantic",
    "dedup_substrings",
    "dedup_incremental",
    "text_contamination",
    "ann_ivf_topk",
    "ann_pq_topk",
    # round-6 operators
    "dedup_remove_spans",
    "dedup_bloom_probe",
    "kmeans_assign",
    "text_eval_overlap",
    "pack_manifest",
    # round-9 operators
    "text_bm25_topk",
    "sample_weighted_k",
    "sketch_hll_distinct",
    "text_bm25_join",
    "sketch_cms_counts",
    "sample_rebalance",
    # round-10 ladder extension (VERDICT r9 item 2): the 27 post-gate
    # queries whose sources the slices scale (documents / embeddings /
    # events — events block-scaled since round 10). Queries over the
    # verbatim TPC-H tables (quantile_bins, quality_audit, join_*,
    # grouping sets, ntile, clip, bag ops) have no slice signal and are
    # covered by the designed-shape argument in SCALE.md instead.
    "sketch_kmv_jaccard",
    "graph_triangles",
    "text_bigram_novelty",
    "text_textrank",
    "graph_bfs_hops",
    "text_collocations",
    "text_char_diversity",
    "text_phrase_search",
    "mm_decode_png",
    "ann_dim_standardize",
    "events_assoc_rules",
    "events_twap",
    "events_resample_ffill",
    "events_funnel",
    "events_retention",
    "events_anomaly",
    "events_attribution",
    "events_scd2",
    "agg_pivot_events",
    "sketch_hll_sliding",
    # round-10 operators
    "events_markov",
    "agg_unpivot",
    "text_source_divergence",
    "events_attr_last",
    "join_asof_forward",
    # forced-distributed iterative paths (driver gate = 0): the
    # textrank vocab cap keeps its graph under the 2M-edge gate at ANY
    # corpus size, so the distributed PageRank loop must be forced to
    # be measured; BFS crosses the gate naturally at 100x but the
    # forced row gives the 1x/10x slope of the frontier loop itself
    "textrank_dist",
    "bfs_dist",
    # round-12 operators: the scaled BPE trainer (VERDICT r11 item 1).
    # The graded k=32 form, plus the k=1024 capability row — the block
    # prefixes are KEPT here (unlike textrank) because prefixed word
    # variants are exactly what grows the vocabulary the driver loop
    # must chew through (31 words at 1x -> 3100 at 100x).
    "corpus_bpe_train_scaled",
    "corpus_bpe_encode",
    "bpe_train_k1024",
    "mm_decode_jpeg",
    # round-12 session-2 operators: G.711 WAV decode + the LM corpus
    # filters (operators/lm.py)
    "mm_decode_wav_law",
    "text_perplexity_bucket",
    "text_quality_classifier",
    "corpus_dsir_weights",
    "mm_decode_gif",
    "mm_scan_zip",
    "mm_scan_warc",
    "mm_scan_tar",
    "mm_gif_frames",
    "text_hybrid_rerank",
    "text_perplexity_scaled",
    # round-12 session-3 operators
    "dedup_prefix_filter",
    "events_cdc_apply",
    "scan_zonemap_prune",
    "ann_covariance",
    "ann_pca_power",
    "layout_compact",
    "corpus_mix_temperature",
    "sketch_cms_heavy",
    "events_pattern_match",
    "events_intervals_merge",
    # round-13 operators: trigram KN, ANN recall accounting, unigram
    # tokenizer (block prefixes KEPT — vocab growth is the load, the
    # bpe precedent), MP4 container scans
    "text_perplexity_kn",
    "ann_recall_at_k",
    "corpus_unigram_train",
    "corpus_unigram_encode",
    "mm_scan_mp4",
    "mm_mp4_frames",
    "mm_decode_webp",
    "mm_decode_wav_adpcm",
    # round-14 operators: shortlist-re-rank ANN (hamming-rank + PQ),
    # 5-gram KN (block prefixes KEPT — n-gram type-table growth is
    # the load), fragmented MP4, tar.gz composite
    "ann_lsh_hamming",
    "ann_pq_rerank",
    "text_perplexity_kn5",
    "mm_mp4_fragmented",
    "mm_scan_targz",
]


def make_textrank_dist(spark, sf_dir):
    """textrank's graph with the driver gate disabled — measures the
    distributed BIGINT PageRank join loop (the at-scale path). Block
    prefixes are stripped first: the slices rename every token per
    block, so the graded query's vocab at 100x is 24 same-word block
    variants that never co-occur (an empty graph — measured rows=0);
    normalizing recovers the sf0.1 graph structure at 100x the edge
    weights, which is what the loop measurement needs."""
    from pyspark.sql import functions as F

    from lswms_forage_etl_spark.operators.graphrank import (
        adjacent_token_pairs, pagerank_int, token_vocab_top)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.regexp_replace("text", r"(^|\s)(?:[rs]\d+x)+", r"$1")
        .alias("text"))
    vocab = [r["token"] for r in token_vocab_top(docs, 24).collect()]
    pairs = adjacent_token_pairs(docs)
    in_vocab = pairs.where(F.col("src").isin(vocab)
                           & F.col("dst").isin(vocab))
    edges = (in_vocab.groupBy("src", "dst")
             .agg(F.count(F.lit(1)).alias("w")))
    return pagerank_int(edges, iterations=10, driver_gate_edges=0)


def make_bfs_dist(spark, sf_dir):
    """BFS with the driver gate disabled — the distributed frontier
    loop (join + anti-join per hop) at every scale."""
    from lswms_forage_etl_spark.operators.graphrank import (
        adjacent_token_pairs, bfs_hops)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = adjacent_token_pairs(docs).distinct()
    return bfs_hops(pairs, "join", max_hops=10, driver_gate_edges=0)


def make_bpe_k1024(spark, sf_dir):
    """bpe_train_scaled at a real merge count: distributed frequency
    build + driver-side Sennrich loop at k=1024 (the loop stops early
    iff the pair space exhausts — at 1x the 31-word vocab does; the
    100x slice's 3100 block-variant words sustain it)."""
    from lswms_forage_etl_spark.functions.bpe import bpe_train_scaled
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bpe_train_scaled(spark, docs, k=1024)


def make_embedding_query(n_vecs: int):
    """dedup_embedding with planes scaled to hold ~80 vectors/bucket."""
    from pyspark.sql import functions as F  # noqa: F401

    from lswms_forage_etl_spark.operators.similarity import \
        embedding_near_dups

    planes = max(8, math.ceil(math.log2(max(n_vecs, 1) / 80)))

    def q(spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return embedding_near_dups(emb, threshold=0.3, num_bands=4,
                                   num_planes=planes)
    return q, planes


def wall_and_rows(spark, fn, sf_dir) -> str:
    """'<best-of-2 wall> | <rows>' table cells, or the error and no rows."""
    rec = measure.best_of(spark, fn, sf_dir, 2)
    if "error" in rec:
        return f"{rec['error']} | "
    return f"{rec['wall_s']:.2f} | {measure.count_rows(spark, fn, sf_dir)}"


def main() -> None:
    args = list(sys.argv[1:])
    only: list[str] | None = None
    if "--queries" in args:
        i = args.index("--queries")
        only = args[i + 1].split(",")
        del args[i:i + 2]
    dirs = args or ["/root/testdata/sf0.1", "/root/scale10x"]
    spark = get_spark("scale-measure", extra_conf={
        # a 500 MB slice file must split to feed 32 cores (the cluster-
        # sizing rule from CLAUDE.md applied to the local harness)
        "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024)})
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    qs["textrank_dist"] = make_textrank_dist
    qs["bfs_dist"] = make_bfs_dist
    qs["bpe_train_k1024"] = make_bpe_k1024
    # --queries may name ANY registry query, not just the default
    # ladder set (round 15: the filter silently produced an empty
    # ladder for new queries — explicit names are taken verbatim)
    if only is not None:
        unknown = [n for n in only if n not in qs]
        if unknown:
            raise SystemExit(f"unknown queries: {', '.join(unknown)}")
        names = only
    else:
        names = list(QUERIES)
    measure.warm(spark, qs, names)
    print("| query | dir | wall s | rows |")
    print("|---|---|---|---|")
    for name in names:
        for d in dirs:
            fn = qs[name]
            label = name
            if name == "dedup_embedding":
                n_vecs = spark.read.parquet(
                    f"{d}/embeddings.parquet").count()
                fn, planes = make_embedding_query(n_vecs)
                label = f"{name}(r={planes})"
            print(f"| {label} | {d} | {wall_and_rows(spark, fn, d)} |",
                  flush=True)


if __name__ == "__main__":
    main()
