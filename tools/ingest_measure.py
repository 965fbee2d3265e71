"""Streaming-ingest throughput ladder (VERDICT r10 item 6): the
continuous corpus build (streaming/ingest.py::run_ingest_once) had
correctness tests but no scale rows — the O(batch) index-append claim
was design-argued, not measured. This tool runs the REAL ingest
topology (availableNow foreachBatch: quality gates -> in-stream
watermarked dedup -> exact fp anti-join vs the live index -> optional
banded near-dup signature probe -> survivor + index appends) over the
1x/10x/100x document slices, one run per arriving batch file, and
reports per-batch walls plus corpus/index growth.

Each scale's documents are split into 4 deterministic batches
(doc_id % 4) staged as parquet; batch k is copied into the watched
input dir and ONE run_ingest_once pass processes it (checkpoint reuse
means run k sees only file k — the nightly-batch shape). Batch walls
flat-to-slowly-growing across k = the per-batch cost is O(batch) work
+ an index scan, not O(corpus) rewrites.

Usage: python tools/ingest_measure.py [exact|probe|bloom|both] [scales...]
  bloom = exact gate fronted by the maintained Bloom filter table
  (VERDICT r11 item 4): misses skip the index, candidates reach it via
  a broadcast semi join (index scan, zero index shuffle).
  scales default: 1x 10x 100x  (probe mode defaults to 1x 10x)
Output: one JSON line per (mode, scale, batch).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))  # the checkout this file lives in

SLICES = {
    "1x": "/root/testdata/sf0.1/documents.parquet",
    "10x": "/root/scale10x/documents.parquet",
    "100x": "/root/scale100x/documents.parquet",
}
N_BATCHES = 4


def _dir_bytes(p: str) -> int:
    return sum(f.stat().st_size for f in Path(p).rglob("*") if f.is_file())


def measure(spark, mode: str, scale: str, docs_path: str) -> list[dict]:
    from pyspark.sql import functions as F
    from lswms_forage_etl_spark.functions.text import fingerprint
    from lswms_forage_etl_spark.streaming.ingest import run_ingest_once

    work = tempfile.mkdtemp(prefix=f"ingest_{mode}_{scale}_")
    inp = f"{work}/in"
    out = f"{work}/corpus"
    ckpt = f"{work}/ckpt"
    idx = f"{work}/fp_index"
    sidx = f"{work}/sig_index" if mode == "probe" else None
    bloom = f"{work}/bloom" if mode == "bloom" else None
    Path(inp).mkdir(parents=True)

    docs = spark.read.parquet(docs_path)
    # seed indexes non-empty (the read path requires existing parquet)
    seed = docs.limit(1)
    seed.select(fingerprint("text").alias("fp")) \
        .write.mode("overwrite").parquet(idx)
    if sidx:
        from lswms_forage_etl_spark.operators.dedup import (
            minhash_signatures)
        minhash_signatures(seed.select("doc_id", "text"),
                           num_hashes=16) \
            .write.mode("overwrite").parquet(sidx)

    # stage the 4 batch files (multi-file parquet per batch is fine;
    # copy into the watched dir with batch-unique names)
    staged = []
    for k in range(N_BATCHES):
        bdir = f"{work}/stage_{k}"
        docs.where(F.pmod("doc_id", F.lit(N_BATCHES)) == k) \
            .coalesce(1).write.mode("overwrite").parquet(bdir)
        staged.append(bdir)

    rows = []
    for k, bdir in enumerate(staged):
        for i, f in enumerate(sorted(Path(bdir).glob("*.parquet"))):
            shutil.copy(f, f"{inp}/batch{k}_{i}.parquet")
        t0 = time.time()
        run_ingest_once(spark, inp, idx, out, ckpt,
                        sig_index_table=sidx, bloom_table=bloom)
        wall = time.time() - t0
        rec = {
            "mode": mode, "scale": scale, "batch": k,
            "wall_s": round(wall, 2),
            "corpus_rows": spark.read.parquet(out).count(),
            "index_rows": spark.read.parquet(idx).count(),
            "index_mb": round(_dir_bytes(idx) / 2**20, 2),
        }
        if sidx:
            rec["sig_index_mb"] = round(_dir_bytes(sidx) / 2**20, 2)
        if bloom:
            rec["bloom_mb"] = round(_dir_bytes(bloom) / 2**20, 3)
        rows.append(rec)
        print(json.dumps(rec), flush=True)
    shutil.rmtree(work, ignore_errors=True)
    return rows


def main() -> None:
    from lswms_forage_etl_spark import get_spark
    args = sys.argv[1:]
    mode = args[0] if args and args[0] in ("exact", "probe", "bloom",
                                           "both") \
        else "both"
    scales = [a for a in args[1:] if a in SLICES] or None
    spark = get_spark("ingest-measure")
    spark.sparkContext.setLogLevel("ERROR")
    modes = ["exact", "probe"] if mode == "both" else [mode]
    for m in modes:
        # the probe path runs minhash over every batch; 100x is the
        # documented heavy row — include it only when asked explicitly
        default = ["1x", "10x", "100x"] if m in ("exact", "bloom") \
            else ["1x", "10x"]
        for s in (scales or default):
            measure(spark, m, s, SLICES[s])


if __name__ == "__main__":
    main()
