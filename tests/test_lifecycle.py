"""Stage-table lifecycle contract (VERDICT r4 item 6): operators register
every persist()/localCheckpoint via lifecycle.track(), callers release
after their consuming action, and assert_no_cached_rdds catches anything
that slipped through — including RDD-level localCheckpoint storage that
spark.catalog.clearCache() cannot free."""

import pytest
from pyspark.sql import functions as F

from lswms_forage_etl_spark import lifecycle
from lswms_forage_etl_spark.operators.dedup import (
    duplicate_clusters,
    minhash_dedup,
)


def _docs(spark, n=60):
    rows = [(i, f"tok{i % 7} common words here doc {i} " * 3)
            for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_release_after_minhash_dedup_leaves_no_cache(spark):
    lifecycle.release_tracked()
    spark.catalog.clearCache()
    out = minhash_dedup(_docs(spark), threshold=0.5)
    out.write.format("noop").mode("overwrite").save()
    assert lifecycle.persistent_rdd_ids(spark)  # persists were live
    assert lifecycle.release_tracked() > 0
    lifecycle.assert_no_cached_rdds(spark, context="minhash_dedup")


def test_release_frees_cc_checkpoint_storage(spark):
    """duplicate_clusters is checkpoint-backed: DataFrame.unpersist and
    clearCache cannot free its blocks, only the tracked cleanup can —
    and superseded rounds must already be freed inside the loop."""
    lifecycle.release_tracked()
    spark.catalog.clearCache()
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long")
    # the size-gated union-find path frees everything before returning;
    # this test pins the DISTRIBUTED loop's storage lifecycle
    out = duplicate_clusters(pairs, small_graph_edges=0)
    rows = {r["doc_id"]: r["rep_id"] for r in out.collect()}
    assert rows[3] == 1 and rows[23] == 20
    live = lifecycle.persistent_rdd_ids(spark)
    # only the final label table's checkpoint storage may remain live —
    # superseded rounds were freed in-loop (at most a couple of RDD ids,
    # never one per round)
    assert 0 < len(live) <= 2
    spark.catalog.clearCache()          # must NOT free checkpoint blocks
    assert lifecycle.persistent_rdd_ids(spark) == live
    lifecycle.release_tracked()
    lifecycle.assert_no_cached_rdds(spark, context="duplicate_clusters")


def test_untracked_persist_trips_the_gate(spark):
    """A persist that skips track() must fail assert_no_cached_rdds —
    the property that makes the oracle gate a real lifecycle check."""
    lifecycle.release_tracked()
    spark.catalog.clearCache()
    leak = spark.range(100).select(F.col("id") * 2).persist()
    leak.write.format("noop").mode("overwrite").save()
    lifecycle.release_tracked()          # knows nothing about `leak`
    with pytest.raises(AssertionError, match="cached RDDs leaked"):
        lifecycle.assert_no_cached_rdds(spark, context="leak-test")
    leak.unpersist()
    lifecycle.assert_no_cached_rdds(spark, context="leak-test-cleaned")


def test_chained_stage_counts_and_await(spark):
    """Counts staged on one driver thread run in order: a child's count
    starts only after its parent's has landed (so it reads the parent's
    cache instead of re-evaluating its subtree), and await_staged
    blocks until the chain tail's count has landed — consumers of the
    returned frame always find warm blocks."""
    lifecycle.release_tracked()
    spark.catalog.clearCache()
    base = spark.range(2000).select(
        F.col("id"), (F.col("id") % 7).alias("k"))
    parent = lifecycle.stage_table(
        base.groupBy("k").agg(F.count(F.lit(1)).alias("n")), sync=False)
    parent_count = lifecycle._COUNTS[id(parent)]
    child = lifecycle.stage_table(
        parent.groupBy((F.col("k") % 2).alias("p"))
        .agg(F.sum("n").alias("s")), sync=False)
    lifecycle.await_staged(child)
    # the tail's landed count implies its parent's landed first
    assert not parent_count.is_alive()
    # after await, BOTH caches must hold live blocks
    live = lifecycle.persistent_rdd_ids(spark)
    assert len(live) >= 2
    got = {r["p"]: r["s"] for r in child.collect()}
    assert got == {0: 1143, 1: 857}
    lifecycle.release_tracked()
    lifecycle.assert_no_cached_rdds(spark, context="chain-test")
    # await on an unstaged/foreign frame is a no-op
    lifecycle.await_staged(base)


def test_chain_order_waits_for_the_earlier_count(spark):
    """The next count on a driver thread waits for the thread's previous
    count: while an earlier count is blocked, a sync stage_table does
    not start its job."""
    import threading

    lifecycle.release_tracked()
    spark.catalog.clearCache()
    gate = threading.Event()
    blocker = threading.Thread(target=gate.wait, daemon=True)
    blocker.start()
    done = threading.Event()

    def stage_after():
        # the blocked thread stands in for this thread's earlier count
        with lifecycle._LOCK:
            lifecycle._TAIL[threading.current_thread()] = blocker
        lifecycle.stage_table(spark.range(10), sync=True)
        done.set()

    t = threading.Thread(target=stage_after, daemon=True)
    t.start()
    assert not done.wait(1.0)      # held back by the earlier count
    gate.set()
    assert done.wait(60)
    t.join()
    lifecycle.release_tracked()
    lifecycle.assert_no_cached_rdds(spark, context="order-test")


def test_stage_lazy_chain_tail_materializes_parents(spark):
    """r15 batch 6: `stage_lazy` interior links carry no counting job
    of their own — ONE count of the chain tail (a normal stage_table)
    must materialize every lazy parent's cache as a side effect, and
    release_tracked must still free all of them."""
    lifecycle.release_tracked()
    spark.catalog.clearCache()
    base = spark.range(3000).select(
        F.col("id"), (F.col("id") % 11).alias("k"))
    parent = lifecycle.stage_lazy(
        base.groupBy("k").agg(F.count(F.lit(1)).alias("n")))
    mid = lifecycle.stage_lazy(
        parent.groupBy((F.col("k") % 3).alias("m"))
        .agg(F.sum("n").alias("s")))
    tail = lifecycle.stage_table(
        mid.groupBy((F.col("m") % 2).alias("p"))
        .agg(F.sum("s").alias("t")), sync=False)
    lifecycle.await_staged(tail)
    # the tail's single count job must have populated ALL THREE caches
    live = lifecycle.persistent_rdd_ids(spark)
    assert len(live) >= 3
    got = {r["p"]: r["t"] for r in tail.collect()}
    assert got == {0: 1909, 1: 1091}
    # r16 backstop: the tail's landed count COVERED both lazy links,
    # so the misuse assertion passes
    lifecycle.assert_no_unresolved_lazy(context="stage-lazy-test")
    lifecycle.release_tracked()
    lifecycle.assert_no_cached_rdds(spark, context="stage-lazy-test")


def test_uncovered_stage_lazy_trips_the_backstop(spark):
    """r16 (VERDICT r15 item 7): a stage_lazy link with NO downstream
    counted stage_table is exactly the misuse that re-exposes the
    round-5 stats-lie broadcast — assert_no_unresolved_lazy (called by
    the oracle gate after every query) must fail it loudly, and
    release_tracked must clear the pending registry so one offender
    cannot poison later queries."""
    import pytest

    lifecycle.release_tracked()
    spark.catalog.clearCache()
    base = spark.range(100).select((F.col("id") % 5).alias("k"))
    lifecycle.stage_lazy(
        base.groupBy("k").agg(F.count(F.lit(1)).alias("n")))
    with pytest.raises(AssertionError, match="stage_lazy"):
        lifecycle.assert_no_unresolved_lazy(context="backstop-test")
    # the failed assertion cleared the registry; a second call passes
    lifecycle.assert_no_unresolved_lazy(context="backstop-test")
    lifecycle.release_tracked()
    lifecycle.assert_no_cached_rdds(spark, context="backstop-test")


def _on_thread(fn):
    """Run fn on a fresh driver thread and return its result."""
    import threading

    box = []
    t = threading.Thread(target=lambda: box.append(fn()))
    t.start()
    t.join()
    return box[0]


def test_other_threads_count_leaves_lazy_link_pending(spark):
    """A stage_lazy link belongs to the driver thread that staged it:
    a stage_table count landing on ANOTHER thread must not cover it
    (that count never touched the link), so the backstop still fails."""
    lifecycle.release_tracked()
    spark.catalog.clearCache()
    base = spark.range(100).select((F.col("id") % 5).alias("k"))
    lifecycle.stage_lazy(
        base.groupBy("k").agg(F.count(F.lit(1)).alias("n")))
    _on_thread(lambda: lifecycle.stage_table(
        spark.range(50).select((F.col("id") * 3).alias("x")), sync=True))
    with pytest.raises(AssertionError, match="stage_lazy"):
        lifecycle.assert_no_unresolved_lazy(context="thread-test")
    lifecycle.release_tracked()
    lifecycle.assert_no_cached_rdds(spark, context="thread-test")


def _ckpt_rdd_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def test_free_checkpoint_leaves_other_threads_checkpoint_live(spark):
    """Freeing one checkpoint stage table frees exactly its own RDD: a
    second checkpoint, staged on another driver thread, stays live
    until release_tracked()."""
    lifecycle.release_tracked()
    spark.catalog.clearCache()
    mine = lifecycle.stage_table(
        spark.range(500).select((F.col("id") % 9).alias("k")),
        checkpoint=True, sync=True)
    theirs = _on_thread(lambda: lifecycle.stage_table(
        spark.range(700).select((F.col("id") % 4).alias("k")),
        checkpoint=True, sync=True))
    ids = {_ckpt_rdd_id(mine), _ckpt_rdd_id(theirs)}
    assert ids <= lifecycle.persistent_rdd_ids(spark)
    lifecycle.free(mine)
    live = lifecycle.persistent_rdd_ids(spark)
    assert _ckpt_rdd_id(mine) not in live
    assert _ckpt_rdd_id(theirs) in live
    assert theirs.count() == 700
    assert lifecycle.release_tracked() == 1     # `mine` left the window
    lifecycle.assert_no_cached_rdds(spark, context="free-test")


def test_running_count_is_reported_as_timeout(spark, monkeypatch):
    """A count still running after COUNT_TIMEOUT_S is a timeout, not an
    uncovered link: the backstop says so and keeps the pending links,
    which the count may still cover."""
    import threading

    lifecycle.release_tracked()
    spark.catalog.clearCache()
    monkeypatch.setattr(lifecycle, "COUNT_TIMEOUT_S", 0.2)
    lifecycle.stage_lazy(spark.range(10).select(F.col("id") + 1))
    gate = threading.Event()
    stuck = threading.Thread(target=gate.wait, daemon=True)
    stuck.start()
    with lifecycle._LOCK:
        lifecycle._COUNTS[-1] = stuck
    with pytest.raises(TimeoutError,
                       match="count still running after 0.2 s"):
        lifecycle.assert_no_unresolved_lazy(context="timeout-test")
    gate.set()
    stuck.join()
    # the pending link survived the timeout; now it is reported as such
    with pytest.raises(AssertionError, match="never covered"):
        lifecycle.assert_no_unresolved_lazy(context="timeout-test")
    lifecycle.release_tracked()
    lifecycle.assert_no_cached_rdds(spark, context="timeout-test")


def test_registries_hold_under_concurrent_driver_threads(spark):
    """Many driver threads (more than cores) staging and tracking at
    once, with a tiny switch interval: no registration is lost, every
    link lands under its own thread, and one release frees them all."""
    import sys
    import threading

    lifecycle.release_tracked()
    spark.catalog.clearCache()
    n_threads, per = 12, 6

    def work(k):
        for i in range(per):
            lifecycle.stage_lazy(spark.range(k * per + i + 1))
            lifecycle.track(lambda: None)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(k,))
                   for k in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(old)
    with lifecycle._LOCK:
        per_thread = sorted(len(v) for v in
                            lifecycle._LAZY_PENDING.values())
    assert per_thread == [per] * n_threads
    assert lifecycle.release_tracked() == 2 * n_threads * per
    lifecycle.assert_no_cached_rdds(spark, context="stress-test")


def test_local_df_matches_tuple_path(spark):
    """local_df (r15, guide §4): the Arrow/pandas driver-rows path must
    be value- and schema-identical to the plain-tuples createDataFrame
    it replaces — including None handling, dates, and the float-NaN
    fallback (Arrow would map NaN -> null; the helper must detect the
    NaN and take the exact tuple path instead)."""
    import datetime as dt

    cases = [
        ([(1, "a", 2.5), (None, None, None), (3, "c", 0.125)],
         "x long, s string, d double"),
        ([(1, dt.date(2024, 1, 2)), (2, None)], "i int, dte date"),
        ([("tok", 5)], "token string, hops int"),
        ([], "x long, s string"),
        # NaN forces the fallback path; repr-compare pins NaN stays NaN
        ([(1, float("nan")), (2, 0.5)], "i int, d double"),
    ]
    for rows, schema in cases:
        a = spark.createDataFrame(rows, schema)
        b = lifecycle.local_df(spark, rows, schema)
        assert a.schema == b.schema, schema
        assert repr(a.collect()) == repr(b.collect()), schema
