"""Measurement helpers: process-tree CPU/RSS from /proc, spans around the
benchmark's calls into the package, and the Spark event-log and JVM-log
readers behind the per-layer numbers.

Spans live in memory; the event log is read once the session has stopped.
A job belongs to the span whose window holds its submission time, which
also covers jobs that the package submits from its own count threads (they
carry no job group)."""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cpu seconds incl. reaped children, rss bytes)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is state (field 3); utime..cstime are fields 14..17
        cpu = sum(int(x) for x in fields[11:15]) / _TICK
        out[int(name)] = (int(fields[1]), cpu, int(fields[21]) * _PAGE)
    return out


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def descendants(root: int, table: dict | None = None) -> list[int]:
    table = table if table is not None else _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_usage() -> tuple[float, int]:
    """(CPU seconds, RSS bytes) of this process and every live descendant.
    CPU includes reaped children, so the delta over a window counts Python
    workers that exited inside it."""
    table = _proc_table()
    pids = [p for p in descendants(os.getpid(), table) if p in table]
    return (sum(table[p][1] for p in pids), sum(table[p][2] for p in pids))


class RssSampler:
    """Samples the process tree's RSS on a thread; `peak()` returns the
    largest sum seen since the last `reset()`."""

    def __init__(self, every_s: float = 0.1):
        self.every_s = every_s
        self._peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self.every_s):
            self._peak = max(self._peak, tree_usage()[1])

    def reset(self) -> None:
        self._peak = tree_usage()[1]

    def peak(self) -> int:
        return max(self._peak, tree_usage()[1])

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


class Tracer:
    """Records named spans (wall-clock start/end) and counters. Disabled,
    every method is a no-op, so an untraced pass runs the same code."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[tuple[str, float, float]] = []
        self.counts: dict[str, float] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        outer = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.time()))
            sc.setLocalProperty("spark.jobGroup.id", outer)

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0.0) + value

    def wrap_pipeline(self, pipe, after: dict | None = None):
        """Wrap each Stage.fn of `pipe`: `plans.<stage>.fn` spans the
        call, `plans.<stage>.probe` the gap before it, which is where
        Pipeline.run's isEmpty guards compute upstream hand-offs.
        `after[stage](updates)` runs right after the call, outside it."""
        if not self.enabled:
            return pipe
        sc = self.spark.sparkContext
        names = [st.name for st in pipe.stages]
        state = {"t": None}

        def probe_group(i: int) -> None:
            if i < len(names):
                sc.setJobGroup(f"plans.{names[i]}.probe",
                               f"plans.{names[i]}.probe")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

        def wrap(i, stage):
            fn = stage.fn

            def traced(spark, ctx):
                t0 = time.time()
                self.spans.append((f"plans.{stage.name}.probe",
                                   state["t"], t0))
                with self.span(f"plans.{stage.name}.fn"):
                    updates = fn(spark, ctx)
                if after and stage.name in after:
                    after[stage.name](updates)
                state["t"] = time.time()
                probe_group(i + 1)
                return updates
            return traced

        for i, st in enumerate(pipe.stages):
            st.fn = wrap(i, st)
        run = pipe.run

        def traced_run(spark, ctx):
            state["t"] = time.time()
            probe_group(0)
            try:
                return run(spark, ctx)
            finally:
                probe_group(len(names))
        pipe.run = traced_run
        return pipe

    def patch_bindings(self, modules, attr: str, name: str) -> None:
        """Replace `modules[0].<attr>` in every module that bound the same
        function, so `from x import f` consumers are timed too. Each call
        adds `<name>.calls` and `<name>_s`."""
        orig = getattr(modules[0], attr)

        def timed(*a, **kw):
            t0 = time.perf_counter()
            try:
                return orig(*a, **kw)
            finally:
                self.add(f"{name}.calls", 1)
                self.add(f"{name}_s", time.perf_counter() - t0)
        for mod in modules:
            if getattr(mod, attr, None) is orig:
                setattr(mod, attr, timed)


# ------------------------------------------------------------- event log

_PY_NODES = ("InPandas", "Python", "InArrow")


def _plan_python_accums(info: dict, acc: dict) -> None:
    """accumulator id -> (metric kind, metric type) for the Python/Arrow
    nodes of one SQL plan tree."""
    if any(k in info.get("nodeName", "") for k in _PY_NODES):
        for m in info.get("metrics", ()):
            kind = {"data sent to Python workers": "to_python_bytes",
                    "data returned from Python workers": "from_python_bytes",
                    "number of output rows": "python_rows",
                    "time to run Python workers": "python_run_s",
                    }.get(m["name"])
            if kind:
                acc[m["accumulatorId"]] = (kind, m.get("metricType", ""))
    for child in info.get("children", ()):
        _plan_python_accums(child, acc)


def read_event_log(path: str) -> dict:
    """Job submission times and finished tasks from a Spark JSON event
    log, with the Python-node SQL metric updates of each task."""
    jobs, tasks, py_acc = [], [], {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                jobs.append(ev["Submission Time"] / 1000.0)
            elif kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"):
                _plan_python_accums(ev.get("sparkPlanInfo", {}), py_acc)
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics", {})
                task = {
                    "t": info["Finish Time"] / 1000.0,
                    "stage": (ev["Stage ID"], ev["Stage Attempt ID"]),
                    "failed": ev["Task End Reason"]["Reason"] != "Success",
                    "run_s": m.get("Executor Run Time", 0) / 1e3,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "shuffle_write_bytes": m.get(
                        "Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0),
                    "spill_bytes": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                    "input_bytes": m.get("Input Metrics", {}).get(
                        "Bytes Read", 0),
                    "acc": [(a["ID"], a.get("Update", 0))
                            for a in info.get("Accumulables", ())],
                }
                tasks.append(task)
    for t in tasks:
        py = {}
        for acc_id, upd in t.pop("acc"):
            if acc_id in py_acc:
                kind, mtype = py_acc[acc_id]
                v = float(upd or 0)
                if kind == "python_run_s":
                    v /= 1e9 if mtype == "nsTiming" else 1e3
                py[kind] = py.get(kind, 0.0) + v
        t["py"] = py
    return {"jobs": jobs, "tasks": tasks}


def exec_metrics(log: dict, windows: list, cores: int) -> dict:
    """exec.* and arrow.* totals of the jobs submitted and tasks finished
    inside the given (start, end) windows."""
    def inside(t: float) -> bool:
        return any(t0 <= t <= t1 for t0, t1 in windows)

    tasks = [t for t in log["tasks"] if inside(t["t"])]
    out = {"exec.jobs": sum(1 for t in log["jobs"] if inside(t)),
           "exec.stages": len({t["stage"] for t in tasks}),
           "exec.tasks": len(tasks),
           "exec.failed_tasks": sum(t["failed"] for t in tasks)}
    for k in ("run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "input_bytes"):
        out[f"exec.{k}"] = sum(t[k] for t in tasks)
    wall = sum(t1 - t0 for t0, t1 in windows)
    out["exec.busy_frac"] = out["exec.run_s"] / max(1e-9, wall * cores)
    for k in ("to_python_bytes", "from_python_bytes", "python_rows",
              "python_run_s"):
        out[f"arrow.{k}"] = sum(t["py"].get(k, 0.0) for t in tasks)
    return out


def jobs_in(log: dict, t0: float, t1: float) -> int:
    return sum(1 for t in log["jobs"] if t0 <= t <= t1)


_SCHED_ERR = re.compile(
    r"\bERROR\b.*\b(DAGScheduler|TaskSchedulerImpl|TaskSetManager|"
    r"Executor|SparkContext)\b")


def scheduler_errors(log_path: str) -> int:
    """ERROR lines from Spark's scheduler and executor in the JVM log."""
    with open(log_path, errors="replace") as fh:
        return sum(1 for ln in fh if _SCHED_ERR.search(ln))
