"""End-to-end corpus-build pipeline: clean -> dedup -> decontam -> sample,
with planted low-quality docs, a near-dup cluster, and an eval leak."""

from __future__ import annotations

from lswms_forage_etl_spark.plans import corpus_pipeline

GOOD = ("the quick brown fox jumps over the lazy dog and then runs along "
        "the river bank toward the old mill where the miller waits")


def _docs(spark):
    rows = [
        (1, GOOD, "srcA"),
        (2, GOOD + " every single evening", "srcA"),          # near-dup of 1
        (3, "x" * 20, "srcA"),                                 # low quality
        (4, "completely different words about spark engines and their "
            "shuffle behavior when joins repartition the fact tables",
         "srcB"),
        (5, "this training document quotes the held out benchmark answer "
            "which is forty two exactly as the evaluation expects it "
            "to appear in context", "srcB"),                   # leaks eval
        (6, "an innocuous paragraph describing weather patterns over the "
            "highlands with rain expected in the afternoon hours", "srcB"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def _eval(spark):
    return spark.createDataFrame(
        [(100, "quotes the held out benchmark answer which is forty two "
               "exactly as the evaluation expects")],
        "doc_id long, text string")


def test_corpus_pipeline_end_to_end(spark):
    pipe = corpus_pipeline(quality_min=0.8, jaccard_min=0.5,
                           containment_min=0.8, per_source_cap=10)
    ctx = pipe.run(spark, {"docs": _docs(spark), "eval_docs": _eval(spark)})
    assert [r.status for r in pipe.results] == ["ok"] * 4

    clean_ids = {r["doc_id"] for r in ctx["clean"].select("doc_id").collect()}
    assert 3 not in clean_ids                       # quality gate

    dedup_ids = {r["doc_id"] for r in
                 ctx["deduped"].select("doc_id").collect()}
    assert 1 in dedup_ids and 2 not in dedup_ids    # cluster keeps min id

    corpus_ids = {r["doc_id"] for r in
                  ctx["corpus"].select("doc_id").collect()}
    assert 5 not in corpus_ids                      # eval leak removed
    assert {1, 4, 6} <= corpus_ids


def test_corpus_pipeline_empty_guard_cascade(spark):
    pipe = corpus_pipeline()
    empty = _docs(spark).where("doc_id < 0")
    ctx = pipe.run(spark, {"docs": empty, "eval_docs": _eval(spark)})
    assert [r.status for r in pipe.results] == ["skipped"] * 4
    assert "corpus" not in ctx


def test_gopher_rules_verdicts(spark):
    from lswms_forage_etl_spark.functions.text import gopher_rules
    import pyspark.sql.functions as F
    rows = [
        # 60 words, mean length 3.5, stopwords present -> keep
        (1, " ".join(["the", "and", "data", "word"] * 15)),
        (2, "too short doc"),                       # words_ok = 0
        (3, " ".join(["x"] * 60)),                  # mwl 1 -> mwl_ok 0
        (4, " ".join(["wordy"] * 60)),              # no stopwords -> stop_ok 0
        (5, ""),                                    # empty: everything fails
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in
           df.select("doc_id", gopher_rules("text").alias("g"))
             .select("doc_id", "g.*").collect()}
    assert out[1]["keep"] == 1 and out[1]["words_ok"] == 1
    assert out[2]["words_ok"] == 0 and out[2]["keep"] == 0
    assert out[3]["mwl_ok"] == 0
    assert out[4]["stop_ok"] == 0 and out[4]["words_ok"] == 1
    assert out[5]["n_words"] == 0 and out[5]["keep"] == 0


def test_chunk_dedup_stats(spark):
    from lswms_forage_etl_spark.operators.dedup import chunk_dedup_stats
    shared = " ".join(f"s{i}" for i in range(4))     # one shared 4-token chunk
    uniq_a = " ".join(f"a{i}" for i in range(4))
    uniq_b = " ".join(f"b{i}" for i in range(4))
    rows = [
        (1, f"{shared} {uniq_a}"),   # 2 chunks, 1 shared -> frac 0.5
        (2, f"{shared} {uniq_b}"),   # both chunks shared (doc1 + doc3) -> 1.0
        (3, uniq_b),                 # chunk also in doc 2 -> frac 1.0
        (4, "lonely words only"),    # short tail chunk, unique -> frac 0.0
        (5, ""),                     # empty doc: no chunks, no output row
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in chunk_dedup_stats(df, size=4).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1]["n_chunks"] == 2 and out[1]["dup_chunk_frac"] == 0.5
    assert out[2]["dup_chunk_frac"] == 1.0
    assert out[3]["n_chunks"] == 1 and out[3]["dup_chunk_frac"] == 1.0
    assert out[4]["dup_chunk_frac"] == 0.0
