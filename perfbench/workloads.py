"""The benchmark workloads. Each one has the same shape:

  setup(spark, seed, work)   make the inputs (counts toward setup_s)
  run_pass(tr, out_dir)      one timed pass, inputs to complete outputs
  check_pass(out, tr)        untimed: (summary, failures) of that pass;
                             the summary must repeat across passes

Only public package entry points are called: plans.forage_pipeline /
corpus_pipeline and their Stage.fns, models.gwr, models.gp,
lifecycle.stage_table / release_tracked and sources.sinks."""

from __future__ import annotations

import datetime as dt
import functools
import importlib.util
import os

import numpy as np
import pyarrow.dataset as pads

from perfbench import inputs


@functools.cache
def _oracle_tools():
    """tools/check_oracle.py of the checkout, loaded by path."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _table_hash(cols, rows, digits: int = 6) -> str:
    """Order-insensitive hash of a result, floats rounded to `digits`."""
    return _oracle_tools().table_hash(cols, [
        tuple(round(v, digits) if isinstance(v, float) else v for v in r)
        for r in rows])


def _read_dir(path: str):
    t = pads.dataset(path, format="parquet", partitioning="hive").to_table()
    cols = t.column_names
    return cols, list(zip(*[t[c].to_pylist() for c in cols]))


def _dir_size(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def _stage_failures(pipe) -> list[str]:
    return [f"stage {r.name}: {r.status} {r.reason}"
            for r in pipe.results if r.status != "ok"]


class ForageReference:
    """The paper's dataflow: periods -> composites -> point snap -> GWR ->
    rasterize -> zonal -> hindcast -> GP forecast, with raster_cells and
    zone_series written through the package's sinks."""

    name = "forage_reference"
    # the reference grid, zones and two complete 16-day composite periods;
    # 6,000 of its 19,129 sample points keep two warm passes and a timed
    # pass inside one run's time budget on 4 cores
    n_points = 6_000
    n_days = 32
    n_zones = 151
    n_periods = 2
    horizons = 4           # last in-sample point + 3 forecast horizons
    ops_per_pass = 7       # pipeline stages
    # the JVM's JIT is still warming over the first two passes (a cold
    # pass takes ~22 s, the next ~13.5 s, later ones ~12 s)
    warm_passes, min_passes = 2, 1

    def setup(self, spark, seed: int, work: str) -> None:
        self.spark = spark
        self.inputs = inputs.forage_inputs(spark, seed, self.n_points,
                                           self.n_days, self.n_zones)

    def run_pass(self, tr, out_dir: str) -> dict:
        from lswms_forage_etl_spark.operators.rasterize import (
            write_raster_partitions)
        from lswms_forage_etl_spark.plans import forage_pipeline
        from lswms_forage_etl_spark.sources.sinks import write_partitioned

        start = inputs.FORAGE_START
        pipe = forage_pipeline(start, start + dt.timedelta(days=self.n_days),
                               gwr_bandwidth=60)

        def score(updates):
            # traced runs only: compute the persisted GWR scores in their
            # own span instead of inside the next stage's isEmpty probe
            with tr.span("models.gwr.score"):
                updates["results"].count()

        tr.wrap_pipeline(pipe, after={"gwr": score})
        with tr.span("query.construct"):
            ctx = pipe.run(self.spark, dict(self.inputs))
        outs = {k: ctx[k] for k in ("raster_cells", "zone_series",
                                    "hindcast_wide", "forecast")}
        with tr.span("catalyst.plan"):
            if tr.enabled:
                for df in outs.values():
                    df._jdf.queryExecution().executedPlan()
        with tr.span("query.action"):
            with tr.span("sinks.write"):
                write_raster_partitions(outs["raster_cells"],
                                        f"{out_dir}/raster_cells")
                write_partitioned(outs["zone_series"],
                                  f"{out_dir}/zone_series")
            with tr.span("models.gp.forecast"):
                forecast = outs["forecast"].collect()
            hindcast = outs["hindcast_wide"].collect()
        return {"pipe": pipe, "dir": out_dir, "forecast": forecast,
                "hindcast": hindcast}

    def check_pass(self, out: dict, tr) -> tuple[str, list[str]]:
        bad = _stage_failures(out["pipe"])
        zcols, zrows = _read_dir(f"{out['dir']}/zone_series")
        rcols, rrows = _read_dir(f"{out['dir']}/raster_cells")
        for sub in ("zone_series", "raster_cells"):
            files, size = _dir_size(f"{out['dir']}/{sub}")
            tr.add("sinks.files_written", files)
            tr.add("sinks.bytes_written", size)
        want = self.n_zones * self.n_periods
        if len(zrows) != want:
            bad.append(f"zone_series has {len(zrows)} rows, want {want}")
        want = self.n_zones * self.horizons
        if len(out["forecast"]) != want:
            bad.append(f"forecast has {len(out['forecast'])} rows, "
                       f"want {want}")
        if not rrows:
            bad.append("raster_cells is empty")
        fc = out["forecast"]
        summary = "/".join([
            _table_hash(zcols, zrows), _table_hash(rcols, rrows),
            _table_hash(fc[0].__fields__ if fc else [],
                        [tuple(r) for r in fc]),
            _table_hash(["n"], [(len(out["hindcast"]),)])])
        return summary, bad


class CorpusBuild:
    """plans/corpus.py over a seeded 5,000-document corpus: clean -> dedup
    -> decontam -> sample. The seed also picks the eval slice whose leaks
    decontam must remove."""

    name = "corpus_build"
    n_eval = 50
    ops_per_pass = 4       # pipeline stages
    # the JIT is still warming over the first two passes (a cold pass takes
    # ~20 s, the next ~8.5 s, later ones ~6.8 s); passes are short chains
    # of small jobs, so a median of three keeps one slow pass out
    warm_passes, min_passes = 2, 3

    def setup(self, spark, seed: int, work: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.spark = spark
        os.makedirs(f"{work}/tables")
        docs_path = f"{work}/tables/documents.parquet"
        inputs.write_documents(seed, docs_path)
        docs = pq.read_table(docs_path, columns=["doc_id", "text"])
        rng = np.random.default_rng(seed + 1)
        picks = sorted(rng.choice(docs.num_rows, self.n_eval, replace=False))
        texts = docs["text"].to_pylist()
        evals = []
        for i in picks:
            # a leak keeps the middle 90 % of a train document: Jaccard
            # ~0.9 against it, where decontam's 8x2 LSH bands miss with
            # probability ~1e-6
            words = texts[i].split()
            cut = len(words) // 20
            evals.append(" ".join(words[cut:len(words) - cut]))
        doc_ids = docs["doc_id"].to_pylist()
        self.leaks = {doc_ids[i] for i in picks}
        eval_path = f"{work}/tables/eval_docs.parquet"
        pq.write_table(pa.table({
            "doc_id": pa.array(range(self.n_eval), pa.int64()),
            "text": pa.array(evals, pa.string())}), eval_path)
        self.docs = spark.read.parquet(docs_path).select(
            "doc_id", "text", "source")
        self.eval_docs = spark.read.parquet(eval_path)

    def run_pass(self, tr, out_dir: str) -> dict:
        from lswms_forage_etl_spark.plans import corpus_pipeline

        pipe = corpus_pipeline(quality_min=0.8, jaccard_min=0.7,
                               containment_min=0.8, per_source_cap=200)
        tr.wrap_pipeline(pipe)
        with tr.span("query.construct"):
            ctx = pipe.run(self.spark, {"docs": self.docs,
                                        "eval_docs": self.eval_docs})
        corpus = ctx["corpus"].select("doc_id", "source")
        with tr.span("catalyst.plan"):
            if tr.enabled:
                corpus._jdf.queryExecution().executedPlan()
        with tr.span("query.action"):
            rows = corpus.collect()
        return {"pipe": pipe, "ctx": ctx, "rows": rows}

    def check_pass(self, out: dict, tr) -> tuple[str, list[str]]:
        bad = _stage_failures(out["pipe"])
        counts = [out["ctx"][k].count() for k in ("clean", "deduped")]
        ids = {r["doc_id"] for r in out["rows"]}
        counts.append(len(ids))
        if not 0 < counts[2] <= counts[1] < counts[0]:
            bad.append(f"stage row counts not shrinking: {counts}")
        leaked = sorted(ids & self.leaks)
        if leaked:
            bad.append(f"eval leaks kept in corpus: {leaked[:5]}")
        summary = ",".join(map(str, counts)) + "/" + _table_hash(
            ["doc_id", "source"], [tuple(r) for r in out["rows"]])
        return summary, bad


WORKLOADS = {w.name: w for w in (ForageReference, CorpusBuild)}
