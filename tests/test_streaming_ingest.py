"""End-to-end streaming corpus ingestion: quality gates + stream-static
anti-join against the fingerprint index + in-stream dedup + exactly-once
file-source progress."""

import pandas as pd
import pytest

from lswms_forage_etl_spark import get_spark
from lswms_forage_etl_spark.streaming.ingest import run_ingest_once


@pytest.fixture(scope="module")
def spark():
    return get_spark("test-streaming-ingest")


def _write_docs(spark, path, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
              " n_chars long").coalesce(1) \
        .write.mode("append").parquet(path)


GOOD = "the quick brown fox jumps over the lazy dog again and again"
OTHER = "spark structured streaming handles incremental corpus builds well"
THIRD = "completely different verbiage about window functions and joins"


def test_ingest_gates_dedups_and_resumes(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    idx = str(tmp_path / "fp_index")
    # seed an EXISTING corpus index containing GOOD's fingerprint
    from lswms_forage_etl_spark.functions.text import fingerprint
    from pyspark.sql import functions as F
    spark.createDataFrame([(GOOD,)], "text string") \
        .select(fingerprint("text").alias("fp")) \
        .write.mode("overwrite").parquet(idx)

    # batch 1: known dup (anti-joined), in-batch dup pair (one survives),
    # quality/lang rejects
    _write_docs(spark, inp, [
        (1, GOOD, "en", "src0", len(GOOD)),          # known -> dropped
        (2, OTHER, "en", "src0", len(OTHER)),        # kept
        (3, OTHER, "en", "src1", len(OTHER)),        # in-batch dup
        (4, "tiny", "en", "src0", 4),                # < min_tokens
        (5, THIRD, "xx", "src0", len(THIRD)),        # lang reject
    ])
    run_ingest_once(spark, inp, idx, out, ckpt)
    got = spark.read.parquet(out)
    ids = {r["doc_id"] for r in got.collect()}
    assert ids in ({2}, {3})           # exactly one of the dup pair
    # index now covers OTHER
    n_idx = spark.read.parquet(idx).count()
    assert n_idx == 2

    # batch 2: replay of OTHER must be anti-joined via the refreshed
    # index; THIRD (correct lang now) is new and survives
    _write_docs(spark, inp, [
        (6, OTHER, "en", "src2", len(OTHER)),        # known -> dropped
        (7, THIRD, "en", "src2", len(THIRD)),        # kept
    ])
    run_ingest_once(spark, inp, idx, out, ckpt)
    ids2 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert 7 in ids2 and 6 not in ids2
    assert len(ids2) == 2
    # partitioned layout
    assert got.select("lang").distinct().collect()[0]["lang"] == "en"

    # idempotence: a third run with nothing new ingests nothing
    run_ingest_once(spark, inp, idx, out, ckpt)
    assert spark.read.parquet(out).count() == 2


def test_ingest_batch_frees_its_checkpoint(spark, tmp_path):
    """A landed batch frees the checkpoint it staged its survivors in:
    no RDD holds blocks after run_ingest_once that did not before (a
    long-running stream would otherwise leak one checkpoint per
    batch, out of release_tracked()'s reach)."""
    from lswms_forage_etl_spark.functions.text import fingerprint
    from lswms_forage_etl_spark.lifecycle import persistent_rdd_ids

    inp = str(tmp_path / "in")
    idx = str(tmp_path / "fp_index")
    spark.createDataFrame([(GOOD,)], "text string") \
        .select(fingerprint("text").alias("fp")) \
        .write.mode("overwrite").parquet(idx)
    _write_docs(spark, inp, [(2, OTHER, "en", "src0", len(OTHER))])
    before = persistent_rdd_ids(spark)
    run_ingest_once(spark, inp, idx, str(tmp_path / "corpus"),
                    str(tmp_path / "ckpt"))
    assert spark.read.parquet(str(tmp_path / "corpus")).count() == 1
    assert persistent_rdd_ids(spark) == before


def test_ingest_dedup_state_evicted_after_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark bounds the in-stream state: a
    fingerprint re-arriving AFTER the watermark passed its TTL window is
    no longer deduped by state (at that point the persistent-index
    anti-join owns it — here the index is deliberately left empty so the
    eviction itself is observable)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from lswms_forage_etl_spark.streaming.ingest import ingest_stream

    inp = str(tmp_path / "in")
    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    idx = str(tmp_path / "fp_index")
    spark.createDataFrame([], "fp string").write.parquet(idx)
    schema = ("doc_id long, text string, lang string, source string,"
              " n_chars long, ts timestamp")
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def run(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(inp)
        q = (ingest_stream(spark, inp, idx, dedup_ttl="1 hour",
                           event_time_col="ts", schema=schema)
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return {r["doc_id"] for r in spark.read.parquet(out).collect()}

    # batch 1: GOOD enters state (expiry t0 + 1h)
    assert run([(1, GOOD, "en", "s", len(GOOD), t0)]) == {1}
    # batch 2: same fp while state is live -> deduped; OTHER advances
    # the watermark to t0+3h-1h = t0+2h, past GOOD's expiry
    got2 = run([(2, GOOD, "en", "s", len(GOOD),
                 t0 + dt.timedelta(minutes=30)),
                (3, OTHER, "en", "s", len(OTHER),
                 t0 + dt.timedelta(hours=3))])
    assert got2 == {1, 3}
    # batch 3: GOOD's state was evicted -> it passes in-stream dedup
    got3 = run([(4, GOOD, "en", "s", len(GOOD),
                 t0 + dt.timedelta(hours=4))])
    assert got3 == {1, 3, 4}


LONG = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango")
LONG_MUT = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
            "kilo lima mike november oscar papa quebec romeo sierra zulu")
FRESH = ("binary search trees rotate nodes to stay balanced under "
         "adversarial insertion orders and deletions at every depth")
FRESH_MUT = ("binary search trees rotate nodes to stay balanced under "
             "adversarial insertion orders and deletions at any depth")


def test_ingest_near_dup_dropped_across_batches(spark, tmp_path):
    """VERDICT r6 item 5: with a signature index wired in, a NEAR
    duplicate (exact word-3-shingle jaccard >= 0.5, different
    fingerprint) of an indexed doc is dropped at ingest — including a
    near-dup of a doc ingested by an EARLIER batch of this same loop,
    proving survivors' signatures enter the persistent index."""
    from pyspark.sql import functions as F

    from lswms_forage_etl_spark.functions.text import fingerprint
    from lswms_forage_etl_spark.operators.dedup import (
        minhash_signatures, ngram_jaccard)

    inp = str(tmp_path / "in")
    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    idx = str(tmp_path / "fp_index")
    sidx = str(tmp_path / "sig_index")

    # precondition: the mutations ARE near-dups by the exact measure
    pre = spark.createDataFrame(
        [(1, LONG), (2, LONG_MUT), (3, FRESH), (4, FRESH_MUT)],
        "doc_id long, text string")
    jac = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard(
        pre, spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    ).collect()}
    assert jac[(1, 2)] >= 0.5 and jac[(3, 4)] >= 0.5
    fps = pre.select("doc_id", fingerprint("text").alias("fp")).collect()
    fpm = {r["doc_id"]: r["fp"] for r in fps}
    assert fpm[1] != fpm[2] and fpm[3] != fpm[4]   # exact gate blind

    # seed: corpus index + signature index contain LONG only
    seed = spark.createDataFrame([(100, LONG)], "doc_id long, text string")
    seed.select(fingerprint("text").alias("fp")) \
        .write.mode("overwrite").parquet(idx)
    minhash_signatures(seed).write.mode("overwrite").parquet(sidx)

    # batch 1: LONG_MUT is a near-dup of the INDEXED doc -> dropped;
    # FRESH is genuinely new -> survives
    _write_docs(spark, inp, [
        (11, LONG_MUT, "en", "src0", len(LONG_MUT)),
        (12, FRESH, "en", "src0", len(FRESH)),
    ])
    run_ingest_once(spark, inp, idx, out, ckpt, sig_index_table=sidx)
    ids = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert ids == {12}

    # batch 2 (across batches): FRESH_MUT is a near-dup of batch 1's
    # SURVIVOR -> dropped because the survivor's signature entered the
    # index; a brand-new doc still lands
    _write_docs(spark, inp, [
        (13, FRESH_MUT, "en", "src1", len(FRESH_MUT)),
        (14, THIRD, "en", "src1", len(THIRD)),
    ])
    run_ingest_once(spark, inp, idx, out, ckpt, sig_index_table=sidx)
    ids2 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert ids2 == {12, 14}

    # the signature index now covers seed + both survivors
    assert spark.read.parquet(sidx).count() == 3
    # idempotence: nothing new -> nothing changes
    run_ingest_once(spark, inp, idx, out, ckpt, sig_index_table=sidx)
    assert spark.read.parquet(out).count() == 2


def test_ingest_gate_replay_idempotent(spark, tmp_path):
    """Crash-replay window (VERDICT r8 item 8): foreachBatch replays
    the WHOLE batch when a crash lands after `_gate_and_land` completed
    but before the checkpoint commit. The exact re-gate against the
    (already-appended) fp index must then drop every replayed doc — no
    duplicate corpus rows, no duplicate index rows."""
    from lswms_forage_etl_spark.functions.text import fingerprint
    from lswms_forage_etl_spark.operators.dedup import minhash_signatures
    from lswms_forage_etl_spark.streaming.ingest import _gate_and_land

    out = str(tmp_path / "corpus")
    idx = str(tmp_path / "fp_index")
    sidx = str(tmp_path / "sig_index")
    seed = spark.createDataFrame([(100, LONG)], "doc_id long, text string")
    seed.select(fingerprint("text").alias("fp")).write.parquet(idx)
    minhash_signatures(seed).write.parquet(sidx)

    batch = spark.createDataFrame(
        [(21, FRESH, "en", "s", len(FRESH)),
         (22, THIRD, "en", "s", len(THIRD))],
        "doc_id long, text string, lang string, source string,"
        " n_chars long")
    _gate_and_land(batch, idx, sidx, out)
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got == [21, 22]
    # replay: the exact same batch again (crash before checkpoint commit)
    _gate_and_land(batch, idx, sidx, out)
    assert sorted(r["doc_id"]
                  for r in spark.read.parquet(out).collect()) == [21, 22]
    # index set semantics held through the replay: seed + 2 survivors
    assert spark.read.parquet(idx).count() == 3
    assert spark.read.parquet(sidx).count() == 3


def test_compact_index_and_crash_recovery(spark, tmp_path):
    """The maintenance half of the O(batch) append design: compaction
    merges the per-batch file sets without changing the row set, via
    the checked two-rename swap; a crash between the renames (live
    path gone, .bak present) is healed by recover_index."""
    import glob
    import os

    from lswms_forage_etl_spark.streaming.ingest import (
        compact_index, recover_index)

    idx = str(tmp_path / "fp_index")
    # three append batches -> >= 3 part-file sets
    for b in range(3):
        spark.createDataFrame([(f"fp{b}{i}",) for i in range(4)],
                              "fp string").write.mode("append").parquet(idx)
    before = {r["fp"] for r in spark.read.parquet(idx).collect()}
    assert len(glob.glob(f"{idx}/part-*.parquet")) >= 3
    parts = compact_index(spark, idx, target_bytes=1 << 30)
    assert parts == 1
    assert len(glob.glob(f"{idx}/part-*.parquet")) == 1
    assert {r["fp"] for r in spark.read.parquet(idx).collect()} == before
    assert not os.path.exists(idx + ".bak")   # swap cleaned up

    # crash window: live renamed aside, second rename never happened
    os.rename(idx, idx + ".bak")
    assert recover_index(spark, idx) is True
    assert {r["fp"] for r in spark.read.parquet(idx).collect()} == before
    # normal case: live exists -> recovery is a no-op
    assert recover_index(spark, idx) is False


def test_ingest_bloom_front_equivalent_to_plain(spark, tmp_path):
    """VERDICT r11 item 4: the Bloom-fronted exact gate is a PRUNING
    layer, never a semantics layer — over identical multi-batch inputs
    (cross-batch dups, in-batch dups, rejects) the bloom topology lands
    the identical corpus and fp index as the plain anti-join, the
    filter table exists and covers every indexed fingerprint (no false
    negatives), and a batch of known dups adds nothing."""
    from pyspark.sql import functions as F
    from lswms_forage_etl_spark.functions.text import fingerprint
    from lswms_forage_etl_spark.operators.dedup import bloom_might_contain

    batches = [
        [(1, GOOD, "en", "s", len(GOOD)), (2, OTHER, "en", "s", len(OTHER)),
         (3, OTHER, "en", "t", len(OTHER))],
        [(4, GOOD, "en", "s", len(GOOD)), (5, THIRD, "en", "s", len(THIRD))],
        [(6, OTHER, "en", "s", len(OTHER)),   # all known -> zero survivors
         (7, THIRD, "en", "s", len(THIRD))],
    ]
    results = {}
    for mode in ("plain", "bloom"):
        base = tmp_path / mode
        inp, out = str(base / "in"), str(base / "corpus")
        ckpt, idx = str(base / "ckpt"), str(base / "fp_index")
        bloom = str(base / "bloom") if mode == "bloom" else None
        spark.createDataFrame([(GOOD,)], "text string") \
            .select(fingerprint("text").alias("fp")) \
            .write.mode("overwrite").parquet(idx)
        for rows in batches:
            _write_docs(spark, inp, rows)
            run_ingest_once(spark, inp, idx, out, ckpt,
                            bloom_table=bloom)
        results[mode] = (
            sorted(r["text"] for r in spark.read.parquet(out).collect()),
            sorted(r["fp"] for r in spark.read.parquet(idx).collect()))
    assert results["plain"] == results["bloom"]
    # the maintained filter covers every indexed fp (no false negatives)
    bloom_dir = tmp_path / "bloom" / "bloom"
    ftbl = spark.read.parquet(str(bloom_dir))
    assert ftbl.count() > 0
    fps = spark.read.parquet(str(tmp_path / "bloom" / "fp_index"))
    n_fps = fps.count()
    assert bloom_might_contain(fps, ftbl, "fp").count() == n_fps


def test_ingest_bloom_rebuild_and_swap_recovery(spark, tmp_path):
    """The filter table's rebuild paths: (a) a deleted/absent filter is
    bootstrapped from the live index on the next run (_ensure_bloom)
    and still gates correctly; (b) a crash between the swap renames
    (live missing, .bak present) is healed by recover_index inside
    run_ingest_once."""
    import shutil
    from lswms_forage_etl_spark.functions.text import fingerprint

    inp, out = str(tmp_path / "in"), str(tmp_path / "corpus")
    ckpt, idx = str(tmp_path / "ckpt"), str(tmp_path / "fp_index")
    bloom = str(tmp_path / "bloom")
    spark.createDataFrame([(GOOD,)], "text string") \
        .select(fingerprint("text").alias("fp")) \
        .write.mode("overwrite").parquet(idx)
    _write_docs(spark, inp, [(1, OTHER, "en", "s", len(OTHER))])
    run_ingest_once(spark, inp, idx, out, ckpt, bloom_table=bloom)
    assert spark.read.parquet(out).count() == 1

    # (a) filter lost -> rebuilt from the index; known dups still gate
    shutil.rmtree(bloom)
    _write_docs(spark, inp, [(2, OTHER, "en", "s", len(OTHER)),
                             (3, GOOD, "en", "s", len(GOOD)),
                             (4, THIRD, "en", "s", len(THIRD))])
    run_ingest_once(spark, inp, idx, out, ckpt, bloom_table=bloom)
    texts = sorted(r["text"] for r in spark.read.parquet(out).collect())
    assert texts == sorted([OTHER, THIRD])  # both dups dropped

    # (b) crashed swap: live filter stepped aside, .bak left behind
    shutil.move(bloom, bloom + ".bak")
    _write_docs(spark, inp, [(5, THIRD, "en", "s", len(THIRD)),
                             (6, GOOD + " novel suffix words", "en", "s",
                              len(GOOD) + 19)])
    run_ingest_once(spark, inp, idx, out, ckpt, bloom_table=bloom)
    texts = sorted(r["text"] for r in spark.read.parquet(out).collect())
    assert texts == sorted([OTHER, THIRD, GOOD + " novel suffix words"])


def test_ingest_zonemap_idempotent_on_replay(spark, tmp_path,
                                             monkeypatch):
    """Round 14 (closes the r13 watch-list item): a crash BETWEEN the
    zonemap append and the known_fp append replays the whole batch
    under the SAME batch_id — the manifest rows are batch_id-keyed,
    so the replayed append is skipped and n_rows does NOT
    double-count (the corpus's own duplicate rows remain the
    documented at-least-once window)."""
    from pyspark.sql import functions as F
    import pyspark.sql.readwriter as rw
    from lswms_forage_etl_spark.functions.layout import merged_zonemap
    from lswms_forage_etl_spark.streaming.ingest import _gate_and_land
    out = str(tmp_path / "corpus")
    idx = str(tmp_path / "fp_index")
    zm = str(tmp_path / "zonemap")
    spark.createDataFrame([], "fp string").write.parquet(idx)
    batch = spark.createDataFrame(
        [(i, f"{OTHER} replay unique {i}", "en", "src0")
         for i in range(10)],
        "doc_id long, text string, lang string, source string")

    state = {"crashed": False}
    orig = rw.DataFrameWriter.parquet

    def crash_before_fp_append(self, path, **kw):
        if path == idx and not state["crashed"]:
            state["crashed"] = True
            raise RuntimeError("simulated crash before fp append")
        return orig(self, path, **kw)

    monkeypatch.setattr(rw.DataFrameWriter, "parquet",
                        crash_before_fp_append)
    import pytest
    with pytest.raises(RuntimeError, match="simulated crash"):
        _gate_and_land(batch, idx, None, out, zonemap_table=zm,
                       batch_id=7)
    assert state["crashed"]
    # replay: same batch_id, fp index still empty -> same survivors
    _gate_and_land(batch, idx, None, out, zonemap_table=zm, batch_id=7)
    man = merged_zonemap(spark, zm)
    # exact counts: ONE batch's worth, not two
    assert man.agg(F.sum("n_rows")).first()[0] == 10
    # the corpus itself carries the documented at-least-once dupes
    assert spark.read.parquet(out).count() == 20
    # a later batch with a new id still appends
    batch2 = spark.createDataFrame(
        [(5000 + i, f"{OTHER} later unique {i}", "en", "src0")
         for i in range(5)],
        "doc_id long, text string, lang string, source string")
    _gate_and_land(batch2, idx, None, out, zonemap_table=zm, batch_id=8)
    assert (merged_zonemap(spark, zm)
            .agg(F.sum("n_rows")).first()[0] == 15)


def test_ingest_zonemap_maintained_per_batch(spark, tmp_path):
    """Round 12: with zonemap_table set, every batch appends O(batch)
    per-shard stats rows; the merged manifest equals a fresh build
    over the landed corpus, and an id-range probe prunes shards whose
    ranges miss the interval (skip-safety: pruned shard => 0 hits)."""
    from lswms_forage_etl_spark.functions.layout import (
        merged_zonemap, zonemap_selected, zonemap_stats)
    inp = str(tmp_path / "in")
    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    idx = str(tmp_path / "fp_index")
    zm = str(tmp_path / "zonemap")
    spark.createDataFrame([], "fp string").write.parquet(idx)

    # two batches in disjoint doc_id ranges -> disjoint shard sets
    _write_docs(spark, inp, [
        (i, f"{OTHER} batch one unique {i}", "en", "src0", 40)
        for i in range(10)])
    run_ingest_once(spark, inp, idx, out, ckpt, zonemap_table=zm)
    _write_docs(spark, inp, [
        (5000 + i, f"{OTHER} batch two unique {i}", "en", "src0", 40)
        for i in range(10)])
    run_ingest_once(spark, inp, idx, out, ckpt, zonemap_table=zm)

    corpus = spark.read.parquet(out)
    man = merged_zonemap(spark, zm)
    from pyspark.sql import functions as F
    fresh = zonemap_stats(
        corpus, F.floor(F.col("doc_id") / F.lit(1024)).cast("long"),
        "doc_id")
    assert sorted(man.collect()) == sorted(fresh.collect())
    # probe [0, 1024): only shard 0 selected; scanning it finds all
    # batch-one ids and the pruned shards provably hold none
    sel = {r["shard_id"]
           for r in man.where(zonemap_selected(0, 1024)).collect()}
    assert sel == {0}
    hits = corpus.where(
        (F.floor(F.col("doc_id") / F.lit(1024)).isin(list(sel)))
        & (F.col("doc_id") < 1024))
    assert hits.count() == 10
