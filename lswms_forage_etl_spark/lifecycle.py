"""Stage tables: the one way to materialize an intermediate, and the
deterministic release of everything materialized.

The forage dataflow hands named tables from stage to stage; in this
engine each hand-off is a stage table. `stage_table(df, checkpoint=,
sync=)` makes one and tracks it. The caller runs its consuming action,
then calls `release_tracked()`, which frees every table tracked since
the previous call (the release window). `free(df)` frees one table
early. `assert_no_cached_rdds(spark)` fails anything that skipped
tracking: the oracle gate calls it after every query.

Which job materializes a stage table (est = Catalyst's size estimate of
the subtree, against `EAGER_STATS_THRESHOLD_BYTES`):

    storage \\ job   sync (blocks)    background count   no job
    --------------  ---------------  -----------------  -------------------
    cache           est >= 8 MiB,    est < 8 MiB,       `stage_lazy` link
                    or sync=True     or sync=False      of a counted chain
    checkpoint      est >= 8 MiB,    (none)             est < 8 MiB,
                    or sync=True                        or sync=False

Why, as measured:

- A cache is always counted. A lazily persisted table reports its
  CHILD plan's estimate to the join planner, and for expression-
  expanded derivations that is far too low: at the 100x slice the
  banded LSH self-join planned a ~2 GB broadcast and aborted (round 5);
  at sf0.1 a 255 KB estimate broadcast a ~50 MB shingle table
  (text_contamination 2.3 s lazy vs 1.1 s counted). After the count
  the planner sees the real size, as with a written parquet table.
- A checkpoint (localCheckpoint) also cuts lineage. Consumers analyze a
  LogicalRDD instead of the subtree (persisted, dedup_clusters spent
  1.6 s and simhash 1.85 s building their queries), and its unknown
  size is never broadcast, so a lazy checkpoint tells no stats lie.
  Its blocks live on its own RDD, which DataFrame.unpersist() and
  clearCache() cannot reach, so it is freed by that RDD's id.
- Sync or not follows the estimate. Below 8 MiB a count runs in the
  background, overlapping the caller's py4j plan construction
  (dedup_lsh_pairs 1.28 s sync vs ~1.0 s async at sf0.1); planning
  reads the stats at the caller's action, after the short count lands,
  and a table big enough to hurt when mis-broadcast has a child
  estimate above the broadcast threshold anyway. From 8 MiB the job
  blocks: it is long, and consumers racing a cold table each re-run its
  subtree (AQE's concurrent stages: 13 parquet re-scans; at 100x
  text_contamination 27.4 s lazy vs 12.5 s eager, text_eval_overlap
  20.9 s async vs 12.0 s sync). A small checkpoint runs no job: at
  sf0.1 that race costs less than a serialized job (lazy ahead by
  ~0.2 s; forcing eager cost the LSH family 50-70 %). The LSH base
  table estimates 255 KB at sf0.1, 2.6 MB at 10x and 30.6 MB at 100x;
  an unknown size (Long.MaxValue) lands on sync.
- Counts are ordered per driver thread: none starts before the counts
  submitted earlier on the same thread have finished. A child staged
  from a parent whose count is still running would otherwise re-run
  the parent's whole subtree (r15: four duplicate ~8 s 5-gram explode
  stages behind text_perplexity_kn5), while the chain still overlaps
  construction (a sync chain cost +0.7 s at sf0.1). Chains on different
  driver threads run side by side.
- `stage_lazy` links (no job) are the interior of a chain whose tail is
  a counted stage_table: one count of the tail caches every link
  (kn5's c5 -> cont4 -> cont3 -> cont2: 4 jobs -> 1). It is safe only
  if the tail's count lands before anything plans against the link and
  no join is planned in between. A link stays pending for its driver
  thread until a later stage_table count on that thread lands, and
  `assert_no_unresolved_lazy` (the oracle gate) fails links left
  pending. That check is post hoc: a join planned against a link
  before the tail's count lands goes unseen. Plain reuse caches that
  need no stats stay `track(df.persist())`.
- `await_staged(df)` blocks until df's background count has landed.
  Call it when the returned plan has many concurrent consumers of the
  table: each consumer of a cold cache recomputes it (r15: ~50 s of
  duplicated executor work behind kn5's ten broadcast builds).

The registries below live in the module, not on DataFrames, because
any derivation (`.where`, `.select`) drops an attachment, which is how
persists leak. Every driver thread shares them; they are read and
written only under `_LOCK`. At 100 TB scale a stage table becomes a
parquet table with a TTL; this module is the local-mode equivalent.
"""

from __future__ import annotations

import threading
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

EAGER_STATS_THRESHOLD_BYTES = 8 << 20
"""Size estimate from which a stage table's job blocks (module doc)."""

COUNT_TIMEOUT_S = 600
"""How long any join on a background count waits."""

_LOCK = threading.Lock()
_TRACKED: list = []                     # freed by the next release
_COUNTS: dict[int, threading.Thread] = {}          # id(table) -> count
_TAIL: dict[threading.Thread, threading.Thread] = {}  # thread -> last count
_LAZY_PENDING: dict[threading.Thread, dict[int, str]] = {}
"""driver thread -> {id(stage_lazy table): plan name} not yet covered."""

H = TypeVar("H")


def track(handle: H) -> H:
    """Register a persisted DataFrame (or a zero-arg cleanup callable)
    for release at the caller's next release_tracked(). Returns the
    handle so persists chain inline:  sig = track(df.persist())."""
    with _LOCK:
        _TRACKED.append(handle)
    return handle


def release_tracked() -> int:
    """Wait for in-flight counts, then free every tracked table and run
    every tracked cleanup, oldest first. Returns the number released.
    Idempotent: freeing a table twice is a no-op."""
    with _LOCK:
        handles, counts = list(_TRACKED), list(_COUNTS.values())
        for reg in (_TRACKED, _COUNTS, _TAIL, _LAZY_PENDING):
            reg.clear()
    for t in counts:
        t.join(COUNT_TIMEOUT_S)
    n = 0
    for h in handles:
        try:
            free(h)
            n += 1
        except Exception:  # noqa: BLE001 — release must never mask results
            pass
    return n


def free(h) -> None:
    """Free one tracked table (or run one cleanup) now instead of at
    release_tracked(): a superseded loop round, a finished batch."""
    with _LOCK:
        _TRACKED[:] = [x for x in _TRACKED if x is not h]
    if not isinstance(h, DataFrame):
        h()
    elif h.is_cached:
        h.unpersist()
    else:  # a checkpoint: free its own RDD
        h._jdf.queryExecution().analyzed().rdd().unpersist(False)


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of RDDs currently holding cached blocks (covers BOTH
    DataFrame-level persist() and RDD-level localCheckpoint storage,
    which `spark.catalog.clearCache()` does NOT touch)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def assert_no_cached_rdds(spark: SparkSession, context: str = "") -> None:
    """Raise if any RDD still holds cached blocks — the gate-side check
    that every operator registered its persists via track()."""
    left = persistent_rdd_ids(spark)
    if left:
        raise AssertionError(
            f"cached RDDs leaked{' after ' + context if context else ''}: "
            f"rdd ids {sorted(left)} — a persist()/localCheckpoint was not "
            f"registered via lifecycle.track()")


def stage_table(df: DataFrame, *, checkpoint: bool = False,
                sync: bool | None = None) -> DataFrame:
    """Materialize `df` as a cache (or a checkpoint) and track it. The
    job follows the module docstring's table; `sync` overrides the
    size estimate."""
    if sync is None:
        est = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        sync = int(est) >= EAGER_STATS_THRESHOLD_BYTES
    me = threading.current_thread()
    with _LOCK:
        prev = _TAIL.get(me)
        covered = list(_LAZY_PENDING.get(me, ()))

    def land(job):
        # after this thread's earlier counts; covers its pending links
        if prev is not None:
            prev.join(COUNT_TIMEOUT_S)
        out = job()
        with _LOCK:
            links = _LAZY_PENDING.get(me, {})
            for k in covered:
                links.pop(k, None)
        return out

    if checkpoint:
        return track(land(lambda: df.localCheckpoint(eager=True)) if sync
                     else df.localCheckpoint(eager=False))
    out = track(df.persist())
    if sync:
        land(out.count)
        return out
    t = threading.Thread(target=land, args=(out.count,), daemon=True)
    with _LOCK:
        _COUNTS[id(out)] = _TAIL[me] = t
    t.start()
    return out


def stage_lazy(df: DataFrame) -> DataFrame:
    """Persist and track with no job: an interior chain link that a
    later stage_table count on this thread must cover (module doc)."""
    out = track(df.persist())
    try:
        desc = df._jdf.queryExecution().logical().nodeName()
    except Exception:  # noqa: BLE001 — description is best-effort
        desc = "?"
    with _LOCK:
        _LAZY_PENDING.setdefault(threading.current_thread(),
                                 {})[id(out)] = desc
    return out


def await_staged(df: DataFrame) -> DataFrame:
    """Block until `df`'s background count has landed (no-op for other
    frames); see the module docstring for when."""
    with _LOCK:
        t = _COUNTS.get(id(df))
    if t is not None:
        t.join(COUNT_TIMEOUT_S)
    return df


def assert_no_unresolved_lazy(context: str = "") -> None:
    """Raise if a stage_lazy link was never covered by a later counted
    stage_table. Waits for in-flight counts first, since one may yet
    cover a link; one still running after COUNT_TIMEOUT_S raises
    TimeoutError and leaves the pending links in place."""
    where = f" after {context}" if context else ""
    with _LOCK:
        counts = list(_COUNTS.values())
    for t in counts:
        t.join(COUNT_TIMEOUT_S)
    if any(t.is_alive() for t in counts):
        raise TimeoutError(
            f"stage_table count still running after {COUNT_TIMEOUT_S} s"
            f"{where}")
    with _LOCK:
        descs = sorted(d for links in _LAZY_PENDING.values()
                       for d in links.values())
        _LAZY_PENDING.clear()
    if descs:
        raise AssertionError(
            f"stage_lazy link(s) never covered by a counted stage_table"
            f"{where}: {descs} — chain a stage_table tail (its count "
            f"materializes the link) or use stage_table directly")


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-local rows -> DataFrame via the Arrow path (guide §4 —
    eliminate the Python boundary). A plain-tuples createDataFrame
    executes as a pickled RDD: every downstream task spawns a Python
    worker just to unpickle its slice (measured r15: 8.1 executor-
    seconds / 0.3-1.3 s wall for a 500-row table under the noop sink);
    feeding the SAME rows through a pandas DataFrame serializes them
    ONCE via Arrow on the driver and executes as a pure JVM scan
    (~0.05 s). Value-identical except float NaN (Arrow maps NaN ->
    null where pickle keeps NaN), so any row containing a float NaN
    falls back to the tuple path; results are otherwise bit-identical
    (pinned by the oracle gate for every converted call site).

    Use for every size-gated driver-computed result (union-find
    clusters, pagerank/BFS driver paths, trainer vocabularies, period
    tables): these are exactly the tables small enough that per-task
    Python worker spawn dominates their execution."""
    rows = list(rows)
    if not rows:
        return spark.createDataFrame(rows, schema)

    def _has_nan(r) -> bool:
        return any(isinstance(v, float) and v != v for v in r)

    try:
        if any(_has_nan(r) for r in rows):
            return spark.createDataFrame(rows, schema)
        import pandas as pd
        ncols = len(rows[0])
        pdf = pd.DataFrame({str(i): pd.Series([r[i] for r in rows],
                                              dtype=object)
                            for i in range(ncols)})
        return spark.createDataFrame(pdf, schema)
    except Exception:
        # semantics over speed: any Arrow/pandas conversion surprise
        # (exotic element type, version drift) degrades to the exact
        # tuple path rather than failing the query
        return spark.createDataFrame(rows, schema)
