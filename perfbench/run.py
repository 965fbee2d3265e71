"""Benchmark for the forage-spark package: batch workloads, each run as a
closed loop with one client (a pass starts after the previous one ends) on
one local Spark session with one core per CPU of the box.

One run:

  python3 perfbench/run.py --workload forage_reference --seed 1 \\
      --seconds 10 --trace 0

sets up (session start, seeded inputs, untimed warm passes at the measured
size), then runs timed passes until --seconds have passed and the
workload's minimum pass count is reached, checks every pass's outputs off
the clock, and prints one line per metric and, last, one JSON object:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json. --trace 1
turns on the Spark event log, spans and patched call sites and reports the
per-layer metrics instead; its trace.overhead_s is the traced pass wall
minus the wall of one untraced pass made at the end of the same run.

Steadiness self-check: run every workload N times with seeds 1..N and
report each end-to-end metric's median, quartiles and spread against its
bound (OVER when the spread exceeds it, warn above a third of it):

  python3 perfbench/run.py --steady 10

It exits 1 if any run fails or is incorrect, or any spread is OVER.

Scratch output (Spark local dirs, event log, written outputs, the JVM
log) goes to perfbench/.work/ and is removed after a successful run.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import tracing  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

CORES = len(os.sched_getaffinity(0))
DEADLINE_S = 170


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def fingerprint() -> dict:
    """Host and code identity recorded with every result."""
    import pyspark

    h = hashlib.sha256()
    for d, dirs, names in sorted(os.walk(os.path.join(
            ROOT, "lswms_forage_etl_spark"))):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                with open(os.path.join(d, n), "rb") as fh:
                    h.update(fh.read())
    commit = ""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10).stdout.strip()
    return {"cores": CORES, "pyspark": pyspark.__version__,
            "python": sys.version.split()[0],
            "commit": commit or "none", "source": h.hexdigest()[:12]}


def pin_environment(work: str) -> None:
    """One Spark core and one shuffle partition per CPU, one BLAS thread
    per Python worker, every scratch file inside `work` (no JVM perf-data
    file in /tmp either), and the checkout importable by the Python
    workers."""
    for sub in ("local", "tmp", "events", "out"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
    })
    os.chdir(work)


def start_session(work: str, trace: bool):
    from lswms_forage_etl_spark import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            "-Djava.net.preferIPv4Stack=true -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": os.path.join(work, "events"),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def calibrate(spark) -> float:
    """A fixed Spark job timed before each pass; it moves only with the
    host, so it separates host drift from program change."""
    t0 = time.perf_counter()
    spark.range(0, 20_000_000, numPartitions=CORES).selectExpr(
        "sum(hash(id)) AS h").collect()
    return time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait for all
    of them to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    for pid in tracing.descendants(os.getpid())[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
        except (OSError, ChildProcessError):
            pass


@dataclass
class Pass:
    wall: float             # run + release, seconds
    cpu: float              # process-tree CPU seconds over the same windows
    rss: int                # peak process-tree RSS, bytes
    calib: float            # host.calib_s measured just before the pass
    steal: float            # hypervisor steal over the pass, CPU seconds
    windows: list           # [(start, end)] of the timed parts, epoch s
    summary: str            # output checksum; must repeat across passes


def one_pass(wl, tr, spark, work: str, n: int, rss,
             errors: list) -> Pass:
    """Calibrate, then time one pass: inputs to complete outputs, plus the
    release of its persisted intermediates. Its checks run in between, off
    the clock."""
    from lswms_forage_etl_spark import lifecycle

    calib = calibrate(spark)
    out_dir = os.path.join(work, "out", f"pass{n}")
    steal0 = tracing.host_steal_s()
    rss.reset()
    c0, t0 = tracing.tree_usage()[0], time.time()
    try:
        out = wl.run_pass(tr, out_dir)
    except Exception as exc:  # noqa: BLE001 — a failed pass fails every op
        out, summary = None, f"error {type(exc).__name__}"
        errors.extend([f"pass {n}: {traceback.format_exc()}"]
                      * wl.ops_per_pass)
    t1, c1 = time.time(), tracing.tree_usage()[0]
    if out is not None:
        summary, bad = wl.check_pass(out, tr)
        errors.extend(f"pass {n}: {b}" for b in bad)
    t2, c2 = time.time(), tracing.tree_usage()[0]
    with tr.span("lifecycle.release"):
        lifecycle.release_tracked()
    t3, c3 = time.time(), tracing.tree_usage()[0]
    shutil.rmtree(out_dir, ignore_errors=True)
    return Pass((t1 - t0) + (t3 - t2), (c1 - c0) + (c3 - c2), rss.peak(),
                calib, tracing.host_steal_s() - steal0,
                [(t0, t1), (t2, t3)], summary)


FORAGE_STAGES = ("periods", "extract", "gwr", "rasterize", "zonal",
                 "hindcast", "forecast")
CORPUS_STAGES = ("clean", "dedup", "decontam", "sample")
LAYER_NAMES = [
    "session.start_s", "host.calib_s", "host.steal_s", "trace.overhead_s",
    "query.construct_s", "query.jobs_before_action", "catalyst.plan_s",
    "query.action_s",
    *[f"plans.{s}.{k}" for s in FORAGE_STAGES + CORPUS_STAGES
      for k in ("fn_s", "probe_s", "jobs")],
    "plans.tail_s",
    "models.gwr.fit_s", "models.gwr.score_s", "models.gp.forecast_s",
    "arrow.to_python_bytes", "arrow.from_python_bytes", "arrow.python_rows",
    "arrow.python_run_s",
    "lifecycle.stage_table.calls", "lifecycle.stage_table_s",
    "lifecycle.release_s",
    "sinks.write_s", "sinks.bytes_written", "sinks.files_written",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.failed_tasks",
    "exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.busy_frac",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
    "exec.spill_bytes", "exec.input_bytes",
    "log.scheduler_errors", "peak_rss_mb",
]
# span name -> the metric that sums its seconds
SPAN_SECONDS = {
    "query.construct": "query.construct_s",
    "catalyst.plan": "catalyst.plan_s",
    "query.action": "query.action_s",
    "lifecycle.release": "lifecycle.release_s",
    "sinks.write": "sinks.write_s",
    "models.gwr.fit": "models.gwr.fit_s",
    "models.gwr.score": "models.gwr.score_s",
    "models.gp.forecast": "models.gp.forecast_s",
}


def layer_metrics(tr, passes: list[Pass], log: dict) -> dict:
    """Per-layer numbers of each timed pass, reduced to their median;
    counters of the patched call sites as a per-pass mean."""
    per_pass = []
    for p in passes:
        m = dict.fromkeys(LAYER_NAMES, 0.0)
        for name, t0, t1 in tr.spans:
            if not any(w0 <= t0 <= w1 for w0, w1 in p.windows):
                continue
            if name in SPAN_SECONDS:
                m[SPAN_SECONDS[name]] += t1 - t0
            if name in ("query.construct", "catalyst.plan"):
                m["query.jobs_before_action"] += tracing.jobs_in(log, t0, t1)
            if name == "query.action":
                # the outputs' actions, where the pipeline's lazy tail runs
                m["plans.tail_s"] += t1 - t0
            elif name.startswith("plans."):
                stage, part = name[len("plans."):].rsplit(".", 1)
                m[f"plans.{stage}.{part}_s"] += t1 - t0
                m[f"plans.{stage}.jobs"] += tracing.jobs_in(log, t0, t1)
        m.update(tracing.exec_metrics(log, p.windows, CORES))
        m.update({"host.calib_s": p.calib, "host.steal_s": p.steal,
                  "peak_rss_mb": p.rss / 2 ** 20})
        per_pass.append(m)
    out = {k: statistics.median(m[k] for m in per_pass) for k in LAYER_NAMES}
    out.update({k: v / len(passes) for k, v in tr.counts.items()})
    return out


def install_probes(tr) -> None:
    """Traced runs: time stage_table in every module that imported it by
    name, and the GWR fit where the forage pipeline calls it."""
    from lswms_forage_etl_spark import lifecycle
    from lswms_forage_etl_spark.plans import pipeline

    mods = [m for n, m in sorted(sys.modules.items())
            if m is not None and n.startswith("lswms_forage_etl_spark")]
    tr.patch_bindings([lifecycle] + mods, "stage_table",
                      "lifecycle.stage_table")
    fit = pipeline.gwr_fit_score

    def traced_fit(*a, **kw):
        with tr.span("models.gwr.fit"):
            return fit(*a, **kw)
    pipeline.gwr_fit_score = traced_fit


def measure(args, work: str, say) -> dict:
    """Set up, warm, run the timed window and, traced, one plain pass."""
    t_start = time.perf_counter()
    spark = start_session(work, args.trace)
    try:
        session_s = time.perf_counter() - t_start
        tr = tracing.Tracer(spark, False)
        wl = WORKLOADS[args.workload]()
        t0 = time.perf_counter()
        wl.setup(spark, args.seed, work)
        say(f"session {session_s:.1f}s, inputs "
            f"{time.perf_counter() - t0:.1f}s")
        rss = tracing.RssSampler()
        errors: list = []
        warm = [one_pass(wl, tr, spark, work, -1 - i, rss, errors)
                for i in range(wl.warm_passes)]
        setup_s = time.perf_counter() - t_start
        say(f"setup {setup_s:.1f}s, warm " +
            " ".join(f"{p.wall:.2f}" for p in warm))

        if args.trace:
            tr.enabled = True
            install_probes(tr)
        passes: list[Pass] = []
        t_window = time.perf_counter()
        while (len(passes) < wl.min_passes
               or time.perf_counter() - t_window < args.seconds):
            passes.append(one_pass(wl, tr, spark, work, len(passes), rss,
                                   errors))
            say(f"pass {len(passes) - 1}: wall {passes[-1].wall:.2f}s")
        plain = []
        if args.trace:
            tr.enabled = False
            plain = [one_pass(wl, tr, spark, work, len(passes), rss, errors)]
        rss.close()
        sums = {p.summary for p in warm + passes + plain}
        if len(sums) > 1:
            errors.append(f"outputs differ between passes: {len(sums)} "
                          f"distinct checksums")
    finally:
        stop_session(spark)
    return {"tr": tr, "session_s": session_s, "setup_s": setup_s,
            "passes": passes, "plain": plain, "errors": errors,
            "attempted": wl.ops_per_pass * len(warm + passes + plain)}


def run(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "lswms_forage_etl_spark")):
        print(f"package lswms_forage_etl_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    t_start = time.perf_counter()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)
    host = fingerprint()
    # the JVM and the Python workers inherit fd 2: keep their log in the
    # work dir (log.scheduler_errors reads it) and our progress on stderr
    stderr = os.fdopen(os.dup(2), "w", buffering=1)
    jvm_log = os.path.join(work, "jvm.log")
    os.dup2(os.open(jvm_log, os.O_WRONLY | os.O_CREAT, 0o644), 2)

    def say(msg: str) -> None:
        print(f"[{time.perf_counter() - t_start:6.1f}s] {msg}", file=stderr)
    try:
        r = measure(args, work, say)
    finally:
        os.dup2(stderr.fileno(), 2)
    passes, attempted = r["passes"], r["attempted"]
    failed = min(len(r["errors"]), attempted)
    for e in dict.fromkeys(r["errors"]):
        print(f"error {e}", file=sys.stderr)

    print("host " + json.dumps(host))
    print(f"setup session_s={r['session_s']:.3f} setup_s={r['setup_s']:.3f}")
    for i, p in enumerate(passes):
        print(f"pass {i} wall_s={p.wall:.4f} cpu_s={p.cpu:.3f} "
              f"peak_rss_mb={p.rss / 2**20:.1f} host.calib_s={p.calib:.4f} "
              f"host.steal_s={p.steal:.2f}")
    print(f"error_rate {failed / attempted:.6f}")
    if args.trace:
        events = os.path.join(work, "events")
        log = tracing.read_event_log(
            os.path.join(events, os.listdir(events)[0]))
        metrics = layer_metrics(r["tr"], passes, log)
        metrics["session.start_s"] = r["session_s"]
        metrics["trace.overhead_s"] = (
            statistics.median(p.wall for p in passes) - r["plain"][0].wall)
        metrics["log.scheduler_errors"] = tracing.scheduler_errors(jvm_log)
        declared = spec()["per_layer"]
    else:
        metrics = {
            "wall_s": statistics.median(p.wall for p in passes),
            "cpu_s": statistics.median(p.cpu for p in passes),
            "setup_s": r["setup_s"],
            "success_pct": 100.0 * (attempted - failed) / attempted,
        }
        declared = spec()["end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    for k, v in metrics.items():
        print(f"metric {k} {v:.6g} {units[k]}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))
    return 0


def steady(args) -> int:
    """Run each workload `args.steady` times (seeds args.seed.., workloads
    interleaved) and report median, quartiles and spread per metric."""
    bench = spec()
    names = [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {w: {m: [] for m in bounds} for w in names}
    ok = True
    for seed in range(args.seed, args.seed + args.steady):
        for w in names:
            t0 = time.perf_counter()
            res = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", w,
                 "--seed", str(seed), "--seconds",
                 str(args.seconds or bench["run_seconds"]), "--trace", "0"],
                capture_output=True, text=True, cwd=ROOT, timeout=300)
            lines = res.stdout.strip().splitlines()
            if res.returncode or not lines:
                print(f"{w} seed {seed}: exit {res.returncode}\n"
                      f"{res.stderr[-2000:]}")
                ok = False
                continue
            for ln in lines:
                if ln.startswith(("setup ", "pass ")):
                    print(f"    {ln}")
            out = json.loads(lines[-1])
            ok &= out["correct"]
            for m in bounds:
                values[w][m].append(out["metrics"][m]["value"])
            print(f"{w} seed {seed} run_s={time.perf_counter() - t0:.1f} "
                  f"correct={out['correct']} " + " ".join(
                      f"{m}={v['value']:.4g}"
                      for m, v in out["metrics"].items()), flush=True)
    for w in names:
        for m, bound in bounds.items():
            vs = values[w][m]
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            flag = ("OVER" if spread > bound else
                    "warn" if spread > bound / 3 else "ok")
            ok &= flag != "OVER"
            print(f"{w:18s} {m:12s} median={med:10.4f} q1={q1:10.4f} "
                  f"q3={q3:10.4f} spread={spread:6.3f} bound={bound} {flag}")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0,
                    help="runs per workload for the steadiness check")
    args = ap.parse_args()
    if args.steady:
        return steady(args)
    if not args.workload or args.seconds is None:
        ap.error("--workload and --seconds are required")
    signal.signal(signal.SIGALRM, lambda *_: sys.exit(3))
    signal.alarm(DEADLINE_S)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
