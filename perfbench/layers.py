"""Per-layer measurement from outside the program.

Nothing here edits sim_spark. Layer calls are timed by rebinding the
public functions (``io.table``, ``ops.materialize``, ``ops.spread``) in
every loaded sim_spark module; Spark's own job and stage metrics come
from its REST API; CPU time per process comes from ``/proc``.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from collections import defaultdict
from datetime import datetime

CLK_TCK = os.sysconf("SC_CLK_TCK")


WRAPPED = ("io.table", "ops.materialize", "ops.spread")


class Tracer:
    """Spans and call counts for wrapped layer functions.

    A span is ``(name, key, pass_no, start, end, depth)``; spans of one
    query sample share its key and pass number. Wrappers record only
    while ``enabled`` is true, so traced and untraced passes run the same
    code path apart from the bookkeeping.
    """

    def __init__(self) -> None:
        self.enabled = False
        self.key = ""
        self.pass_no = -1
        self.spans: list[tuple[str, str, int, float, float, int]] = []
        self._depth: dict[str, int] = defaultdict(int)

    def span(self, name: str, start: float, end: float, depth: int = 0) -> None:
        if self.enabled:
            self.spans.append((name, self.key, self.pass_no, start, end, depth))

    def wrap(self, name: str, fn):
        tracer = self

        def wrapped(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            depth = tracer._depth[name]
            tracer._depth[name] = depth + 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._depth[name] = depth
                tracer.span(name, t0, time.perf_counter(), depth)

        wrapped.__wrapped__ = fn
        wrapped.__name__ = getattr(fn, "__name__", name)
        wrapped.__doc__ = getattr(fn, "__doc__", None)
        return wrapped

    def install(self) -> None:
        """Rebind the layer functions everywhere sim_spark bound them.

        Query modules bind ``from sim_spark.io import table`` at import
        time, so replacing the module attribute alone would miss them:
        every loaded ``sim_spark`` module global that *is* the original
        function is replaced, and so is the attribute itself for calls
        that import it lazily."""
        import sim_spark.io as io
        import sim_spark.ops.materialize as mat
        import sim_spark.ops.spread as spread

        for name, orig in zip(WRAPPED, (io.table, mat.materialize, spread.spread)):
            wrapper = self.wrap(name, orig)
            for mod_name, mod in list(sys.modules.items()):
                if not mod_name.startswith("sim_spark") or mod is None:
                    continue
                for attr, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, attr, wrapper)

    def layer_totals(self, pass_no: int) -> dict[str, float]:
        """Seconds per span name (outermost calls only) in one pass, and
        call counts of the wrapped layer functions."""
        out: dict[str, float] = defaultdict(float)
        for name in WRAPPED:
            out[f"{name}_calls"] = out[f"{name}_s"] = 0.0
        for name, _key, p, t0, t1, depth in self.spans:
            if p != pass_no:
                continue
            if name in WRAPPED:
                out[f"{name}_calls"] += 1
            if depth == 0:
                out[f"{name}_s"] += t1 - t0
        return out

    def dump(self) -> list[dict]:
        return [
            {"name": n, "key": k, "pass": p, "start": a, "end": b, "depth": d}
            for n, k, p, a, b, d in self.spans
        ]


# --- /proc ---------------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces: split after the closing parenthesis
    head, _, rest = raw.rpartition(")")
    return [head.split("(", 1)[1]] + rest.split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                kids[int(st[2])].append(int(d))
    return kids


def _descendants(pid: int, kids: dict[int, list[int]]) -> list[int]:
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


class Procs:
    """The driver, its JVM and the JVM's Python workers, by pid."""

    def __init__(self) -> None:
        self.driver = os.getpid()

    def tree(self) -> tuple[list[int], list[int]]:
        """(jvm pids, python worker pids) below the driver process."""
        kids = _children()
        jvms, workers = [], []
        for p in _descendants(self.driver, kids):
            st = _stat(p)
            if st and st[0] == "java":
                jvms.append(p)
                workers += [
                    w for w in _descendants(p, kids)
                    if (_stat(w) or [""])[0].startswith("python")
                ]
        return jvms, workers

    @staticmethod
    def _cpu(pid: int, with_children: bool) -> float:
        st = _stat(pid)
        if not st:
            return 0.0
        # fields after comm: state=1 ... utime=12 stime=13 cutime=14 cstime=15
        ticks = int(st[12]) + int(st[13])
        if with_children:
            ticks += int(st[14]) + int(st[15])
        return ticks / CLK_TCK

    def cpu(self) -> dict[str, float]:
        """Cumulative cpu-seconds: driver, JVM, Python workers.

        The driver's own time comes from the process clock, whose
        resolution is finer than /proc's clock ticks. Worker daemons reap
        the workers they fork, so a worker's time moves into its daemon's
        child time when it exits; adding child time for workers keeps the
        total monotonic."""
        jvms, workers = self.tree()
        return {
            "driver": time.process_time(),
            "jvm": sum(self._cpu(p, False) for p in jvms),
            "python_worker": sum(self._cpu(p, True) for p in workers),
        }

    def peak_rss_mb(self) -> dict[str, float]:
        """Peak resident set (VmHWM) in MB of the driver, the JVM and the
        live Python workers, plus the worker count."""
        jvms, workers = self.tree()
        return {
            "driver": _hwm_mb(self.driver),
            "jvm": sum(_hwm_mb(p) for p in jvms),
            "python_worker": sum(_hwm_mb(p) for p in workers),
            "python_workers": len(workers),
        }


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            return next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:")) / 1024.0
    except (OSError, StopIteration):
        return 0.0


def cpu_times() -> tuple[int, int]:
    """(steal ticks, total ticks) from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


# --- Spark REST ----------------------------------------------------------


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def spark_jobs(sc, timeout: float = 20.0) -> tuple[list[dict], dict[int, dict]]:
    """Every job and stage the UI store holds, once the listener has
    caught up (no job still running and the job count stable)."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    end = time.monotonic() + timeout
    prev = -1
    while True:
        jobs = _get(f"{base}/jobs")
        settled = all(j["status"] != "RUNNING" for j in jobs) and len(jobs) == prev
        if settled or time.monotonic() > end:
            break
        prev = len(jobs)
        time.sleep(0.3)
    stages = {s["stageId"]: s for s in _get(f"{base}/stages") if s["status"] != "SKIPPED"}
    for j in jobs:
        j["submit_epoch"] = _epoch(j.get("submissionTime"))
        j["end_epoch"] = _epoch(j.get("completionTime"))
    return jobs, stages


def job_metrics(jobs: list[dict], stages: dict[int, dict], group_prefix: str) -> dict[str, float]:
    """Counts and stage metrics of the jobs whose group starts with
    ``group_prefix``. A stage is counted once, by the job that ran it."""
    mine = [j for j in jobs if (j.get("jobGroup") or "").startswith(group_prefix)]
    ran: set[int] = set()
    out = defaultdict(float)
    out["spark.jobs"] = len(mine)
    for j in mine:
        out["spark.stages_skipped"] += j.get("numSkippedStages", 0)
        ran.update(s for s in j["stageIds"] if s in stages)
    for sid in ran:
        s = stages[sid]
        out["spark.stages"] += 1
        out["spark.tasks"] += s.get("numCompleteTasks", 0)
        out["spark.tasks_failed"] += s.get("numFailedTasks", 0)
        out["spark.exec_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
        out["spark.exec_run_s"] += s.get("executorRunTime", 0) / 1e3
        out["spark.gc_s"] += s.get("jvmGcTime", 0) / 1e3
        out["spark.input_mb"] += s.get("inputBytes", 0) / 1e6
        out["spark.shuffle_read_mb"] += (
            s.get("shuffleLocalBytesRead", 0) + s.get("shuffleRemoteBytesRead", 0)
        ) / 1e6
        out["spark.shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) / 1e6
    return dict(out)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
