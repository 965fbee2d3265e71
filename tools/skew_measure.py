"""Measure the engine on the ADVERSARIAL-SKEW slices built by
tools/make_skew_slice.py (VERDICT r5 item 4). Two signals per slice:

  banding candidates   signature pairs entering LSH verification, under
                       (a) round-5's doc-level banding (reconstructed
                       here) and (b) the shipped distinct-signature
                       banding — the round-6 claim is that (b) stays
                       FLAT as the exact-dup cluster grows while (a) is
                       quadratic in it.
  walls                dedup_lsh_pairs / dedup_clusters / dedup_simhash /
                       corpus_vocab / salted vs plain giant-group count.

Prints markdown rows for SCALE.md.

Usage: python tools/skew_measure.py [dir ...]
  default dirs: /root/testdata/sf0.1 /root/skewslice5 /root/skewslice10
"""

from __future__ import annotations

import sys

import measure  # first: puts this checkout on both import paths

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from lswms_forage_etl_spark import get_spark, lifecycle
from scale_measure import wall_and_rows

WALL_QUERIES = ["dedup_lsh_pairs", "dedup_clusters", "dedup_simhash",
                "corpus_vocab"]


def candidate_counts(spark, sf_dir):
    """(doc-banded candidates, distinct-sig candidates, distinct sigs)."""
    from lswms_forage_etl_spark.lifecycle import stage_table
    from lswms_forage_etl_spark.operators.dedup import (
        _lsh_banding, minhash_signatures, shingle_table)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = stage_table(shingle_table(docs))
    sigs = lifecycle.track(
        minhash_signatures(docs, num_hashes=16, shingles=sh).persist())
    band_arr = F.expr(
        "transform(sequence(0, 3), b -> "
        "md5(concat_ws('|', transform("
        "slice(minhash, b * (size(minhash) div 4) + 1, "
        "size(minhash) div 4), v -> cast(v as string))))) ")
    # (a) round-5 shape: band every DOC row, self-join, count emissions
    # BEFORE the distinct (the volume the old shuffle actually carried)
    exploded = lifecycle.track(sigs.select(
        "doc_id", F.posexplode(band_arr).alias("band_id", "band_hash"))
        .persist())
    a, b = exploded.alias("a"), exploded.alias("b")
    doc_banded = (a.join(b, ["band_id", "band_hash"])
                  .where(F.col("a.doc_id") < F.col("b.doc_id")).count())
    # (b) shipped shape: signature-pair candidates
    base, _banded, pair_fps = _lsh_banding(sigs, "doc_id", 4, band_arr)
    sig_pairs = pair_fps.count()
    n_sigs = base.select("_sfp").distinct().count()
    measure.release(spark)
    return doc_banded, sig_pairs, n_sigs


def giant_group(spark, sf_dir):
    """salted two-phase vs plain groupBy count on the 95%-'en' column:
    '<salted wall> / <plain wall> | <rows>' table cells."""
    from lswms_forage_etl_spark.operators.skew import salted_agg_count

    def salted(spark, d):
        docs = spark.read.parquet(f"{d}/documents.parquet") \
            .select("lang", "doc_id")
        return salted_agg_count(docs, "lang", num_salts=8)

    def plain(spark, d):
        docs = spark.read.parquet(f"{d}/documents.parquet") \
            .select("lang", "doc_id")
        return docs.groupBy("lang").agg(F.count(F.lit(1)).alias("count"))

    recs = [measure.best_of(spark, fn, sf_dir, 2) for fn in (salted, plain)]
    errors = [r["error"] for r in recs if "error" in r]
    if errors:
        return f"{errors[0]} | "
    rows = measure.count_rows(spark, salted, sf_dir)
    assert rows == measure.count_rows(spark, plain, sf_dir)
    return f"{recs[0]['wall_s']:.2f} / {recs[1]['wall_s']:.2f} | {rows}"


def main() -> None:
    dirs = sys.argv[1:] or ["/root/testdata/sf0.1", "/root/skewslice5",
                            "/root/skewslice10"]
    spark = get_spark("skew-measure")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    measure.warm(spark, qs, WALL_QUERIES)
    measure.release(spark)

    print("| dir | doc-banded cand (r5 shape) | sig-pair cand (shipped) "
          "| distinct sigs |")
    print("|---|---|---|---|")
    for d in dirs:
        db, sp_, ns = candidate_counts(spark, d)
        print(f"| {d} | {db} | {sp_} | {ns} |", flush=True)

    print()
    print("| query | dir | wall s | rows |")
    print("|---|---|---|---|")
    for name in WALL_QUERIES:
        for d in dirs:
            print(f"| {name} | {d} | {wall_and_rows(spark, qs[name], d)} |",
                  flush=True)
    for d in dirs:
        print(f"| giant_group salted/plain | {d} | {giant_group(spark, d)} |",
              flush=True)


if __name__ == "__main__":
    main()
