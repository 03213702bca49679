#!/usr/bin/env python3
"""sim_spark benchmark: one workload in one process, one query in flight.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 20 --trace 0

Run from the repository root (or any directory: paths are resolved from
this file). The run

1. writes the workload's input tables under ``.perfbench/data`` in the
   checkout, from a fixed data seed (gendata.py), on first use;
2. sets up: starts the SparkSession on ``local[nproc]``, imports the
   query registry and runs two fixed warm-up passes. In the first, every
   key's result is hashed and checked against its DuckDB-oracle pin
   (pins.json, made by pin_oracle.py); the second runs the timed code
   path untimed;
3. runs timed passes over the workload's keys, in an order drawn from
   ``--seed``; their number is ``--seconds`` over the workload's nominal
   pass time, so it is the same on every run. A sample is
   ``fn(spark, sf)`` plus a noop-sink write plus
   ``release_tracked_caches()``, so every sample is cold from parquet. Each pass is bracketed by the calibration job
   (calib.py), and timings are reported in reference-calibrated seconds:
   raw seconds * CALIB_REF / (mean of the pass's two calibration samples);
4. prints one JSON line: the end-to-end metrics with ``--trace 0``, the
   per-layer metrics with ``--trace 1``. The full record (raw and
   calibrated values, every calibration sample, the environment, spans)
   goes to ``.perfbench/runs/``.

With ``--trace 1`` every other pass is traced: layer functions are
wrapped, and jobs are read back from Spark's REST API. The difference
between traced and untraced pass medians is the tracing overhead.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


@dataclass(frozen=True)
class Workload:
    keys: tuple[str, ...]
    scale: float  # input rows as a multiple of the sf0.1 fixture rows
    pass_s: float  # nominal pass time on the reference box; sets the pass count


# Each workload loads one layer and leaves the others idle (see why in
# BENCHMARK.json). Every run pays a JVM start and two warm-up passes, and a
# full benchmark round of the workloads in BENCHMARK.json must fit its
# time limit, so their passes are short; at these input sizes per-query
# cost is mostly fixed (planning, job launch), not data volume.
WORKLOADS = {
    # Short multi-table SQL: io.table, Catalyst planning, scan, exchange;
    # dedup_simhash64_tf carries the open spread/repartition question. Its
    # ~12 s pass does not fit that time limit, so it is not listed in
    # BENCHMARK.json and runs on demand only.
    "relational": Workload(
        keys=(
            "agg_q1_pricing",
            "tpch_q3_shipping",
            "tpch_q7_volume",
            "tpch_q18_large_orders",
            "join_multiway_star",
            "join_inner_shuffle",
            "join_theta_band",
            "win_running_sum",
            "win_topk_per_group",
            "agg_rollup",
            "scan_filter_pushdown",
            "stream_session_30m",
            "dedup_simhash64_tf",
        ),
        scale=0.1,
        pass_s=12.0,
    ),
    # Driver loops: eager rounds through ops.materialize and tracked caches
    # written and read back every round. Their latencies are well apart
    # (~0.4, ~1.3, ~1.8 s), so the pooled median and tail each fall inside
    # one key's samples rather than between two keys'.
    "iterative": Workload(
        keys=(
            "dedup_connected_components",
            "curate_bpe_train_iterative",
            "ml_gbt_residual_stumps",
        ),
        scale=0.1,
        pass_s=3.5,
    ),
    # CPU-bound decode in Python workers behind one documents scan.
    "decode": Workload(
        keys=(
            "multimodal_jpeg_decode",
            "multimodal_jpeg_progressive_decode",
            "multimodal_png_decode",
            "multimodal_webp_vp8l_decode",
            "multimodal_flac_decode",
            "multimodal_flac_stereo_decode",
        ),
        scale=0.1,
        pass_s=4.0,
    ),
}

MIN_PASSES = 2
# query_tail_s is the highest sample with at least this many samples above it
TAIL_BEYOND = 10


def frame_hash(pdf) -> str:
    """Order-insensitive hash of a result frame, as the oracle check
    canonicalizes it (sim_spark.testing.canonicalize)."""
    from sim_spark.testing import canonicalize

    cols, rows = canonicalize(pdf)
    return hashlib.sha256(json.dumps([cols, rows]).encode()).hexdigest()


def declared_metrics(kind: str) -> dict[str, str]:
    """Name -> unit of the ``kind`` metrics BENCHMARK.json declares
    (``end_to_end`` or ``per_layer``): the run prints exactly these and
    keeps everything else in its full record."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def load_pins() -> dict[str, dict]:
    with open(os.path.join(HERE, "pins.json")) as f:
        return json.load(f)["keys"]


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest sample with TAIL_BEYOND samples
    above it; the median when there are too few samples."""
    s = sorted(values)
    i = len(s) - 1 - TAIL_BEYOND
    if i < 0:
        return statistics.median(s), 50.0
    return s[i], 100.0 * (i + 1) / len(s)


def _prepare_env(work: str, trace: bool) -> str:
    """Keep every file the run writes inside the checkout, and make
    sim_spark importable in Python workers whatever the cwd is. Returns
    the run's temporary directory."""
    tmp = os.path.join(work, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [ROOT]
    # as bench.py: executor loss is process death in one local JVM
    os.environ.setdefault("SIM_SPARK_LOCAL_CHECKPOINT", "1")
    confs = [
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        os.environ["SPARK_GRAFT_UI"] = "1"
        confs += ["spark.ui.retainedJobs=1000000", "spark.ui.retainedStages=1000000"]
    else:
        os.environ.pop("SPARK_GRAFT_UI", None)
    os.environ["SPARK_GRAFT_EXTRA_CONFS"] = ";".join(confs)
    return tmp


def _shutdown(spark, procs) -> None:
    """Stop Spark, then end the JVM and wait until it and its Python
    workers have exited."""
    from pyspark import SparkContext

    jvms, workers = procs.tree()
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in [*jvms, *workers]:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sim_spark", "__init__.py")):
        print(f"perfbench: no sim_spark package under {ROOT}", file=sys.stderr)
        return 2
    wl = WORKLOADS[a.workload]
    trace = bool(a.trace)
    printed = declared_metrics("per_layer" if trace else "end_to_end")
    work = os.path.join(ROOT, ".perfbench")
    tmp = _prepare_env(work, trace)

    import gendata
    import layers
    from calib import CALIB_REF, Calibrator

    t = time.perf_counter()
    sf_dir = gendata.ensure(os.path.join(work, "data"), wl.scale)
    data_s = time.perf_counter() - t
    pins = load_pins()
    procs = layers.Procs()
    tracer = layers.Tracer()
    steal0 = layers.cpu_times()
    cpus = len(os.sched_getaffinity(0))

    # --- set-up: session, registry import, two fixed warm-up passes ----
    t_setup = time.perf_counter()
    from sim_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cpus)
    sc = spark.sparkContext
    t_session = time.perf_counter()
    import sim_spark.queries  # noqa: F401
    from sim_spark.registry import QUERIES
    from sim_spark.scratch import release_tracked_caches

    t_import = time.perf_counter()
    if trace:
        tracer.install()
    attempted = failed = 0
    problems: dict[str, str] = {}

    def sample(key: str, group: str) -> dict:
        """One timed query sample: build, noop-sink write, cache release."""
        nonlocal attempted, failed
        attempted += 1
        tracer.key = key
        sc.setJobGroup(group, key)
        s: dict = {"key": key}
        ta = time.perf_counter()
        try:
            df = QUERIES[key](spark, sf_dir)
            tb = time.perf_counter()
            s["write_epoch"] = time.time()
            df.write.mode("overwrite").format("noop").save()
            tc = time.perf_counter()
        except Exception as e:  # a failing query is a counted result, not a crash
            failed += 1
            problems.setdefault(key, f"{group} raised {type(e).__name__}: {e}"[:500])
            s["error"] = True
            return s
        finally:
            t_rel = time.perf_counter()
            release_tracked_caches()
            td = time.perf_counter()
        s.update(raw_s=td - ta, build_s=tb - ta, write_s=tc - tb, release_s=td - t_rel)
        tracer.span("queries.build", ta, tb)
        tracer.span("noop.write", tb, tc)
        tracer.span("scratch.release", t_rel, td)
        return s

    # Warm-up pass 1 checks every key's result against its oracle pin;
    # pass 2 runs the timed code path once more, because one cold pass
    # leaves the JIT far from steady (the first timed pass ran 20-60%
    # slow on iterative without it).
    warmup: dict[str, float] = {}
    for key in wl.keys:
        attempted += 1
        sc.setJobGroup(f"warmup:{key}", key)
        tw = time.perf_counter()
        try:
            got = frame_hash(QUERIES[key](spark, sf_dir).toPandas())
        except Exception as e:  # a failing query is a counted result, not a crash
            got = None
            problems[key] = f"warm-up raised {type(e).__name__}: {e}"[:500]
        finally:
            release_tracked_caches()
        warmup[key] = time.perf_counter() - tw
        want = pins.get(key, {}).get("sha256")
        if got is not None and got != want:
            problems[key] = f"oracle hash mismatch: got {got}, pinned {want}"
        if key in problems:
            failed += 1
    for key in wl.keys:
        sample(key, f"warmup2:{key}")
    t_warm = time.perf_counter()
    setup_raw = t_warm - t_setup

    # --- timed passes, each bracketed by the calibration job ------------
    cal = Calibrator(spark)
    cal.run()  # untimed: warms the calibration job's own code paths
    n_passes = max(MIN_PASSES, round(a.seconds / wl.pass_s))
    rng = random.Random(a.seed)
    passes: list[dict] = []
    calib = [cal.run()]
    for p in range(n_passes):
        traced = trace and p % 2 == 0
        tracer.enabled = traced
        tracer.pass_no = p
        order = list(wl.keys)
        rng.shuffle(order)
        cpu0 = procs.cpu() if trace else None
        st0 = layers.cpu_times()
        e0, t0 = time.time(), time.perf_counter()
        samples = [sample(key, f"p{p}:{key}") for key in order]
        wall = time.perf_counter() - t0
        e1 = time.time()
        st1 = layers.cpu_times()
        cpu1 = procs.cpu() if trace else None
        tracer.enabled = False
        calib.append(cal.run())
        factor = CALIB_REF / ((calib[-2] + calib[-1]) / 2)
        for s in samples:
            if "raw_s" in s:
                s["cal_s"] = s["raw_s"] * factor
        passes.append({
            "pass": p,
            "traced": traced,
            "order": order,
            "raw_s": wall,
            "cal_s": wall * factor,
            "calib_factor": factor,
            "epoch": (e0, e1),
            "steal_share": (st1[0] - st0[0]) / max(1, st1[1] - st0[1]),
            "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0} if trace else None,
            "samples": samples,
        })
    steal1 = layers.cpu_times()
    peak_rss = procs.peak_rss_mb()

    calib_med = statistics.median(calib)
    setup_cal = setup_raw * CALIB_REF / calib_med
    timed = [pp for pp in passes if not pp["traced"]] or passes
    q_cal = [s["cal_s"] for pp in timed for s in pp["samples"] if "cal_s" in s]
    q_raw = [s["raw_s"] for pp in timed for s in pp["samples"] if "raw_s" in s]
    tail_cal, tail_pct = tail(q_cal) if q_cal else (float("nan"), 0.0)
    peak_rss_mb = peak_rss["driver"] + peak_rss["jvm"] + peak_rss["python_worker"]
    end_to_end = {
        "setup_s": setup_cal,
        "pass_s": statistics.median(pp["cal_s"] for pp in timed),
        "query_p50_s": statistics.median(q_cal) if q_cal else float("nan"),
        "query_tail_s": tail_cal,
        "peak_rss_mb": peak_rss_mb,
        "ok_share": (attempted - failed) / attempted,
    }
    raw = {
        "setup_s": setup_raw,
        "pass_s": statistics.median(pp["raw_s"] for pp in timed),
        "query_p50_s": statistics.median(q_raw) if q_raw else None,
        "query_tail_s": tail(q_raw)[0] if q_raw else None,
    }

    setup_phases = {
        "session.start_s": t_session - t_setup,
        "queries.import_s": t_import - t_session,
        "warmup_s": t_warm - t_import,
    }
    per_layer: dict[str, float] = {}
    if trace:
        per_layer = _per_layer(sc, passes, tracer, layers, setup_phases, calib)
        per_layer["peak_rss_mb"] = peak_rss_mb

    spark_version = spark.version
    java_version = sc._jvm.System.getProperty("java.version")
    _shutdown(spark, procs)
    shutil.rmtree(tmp, ignore_errors=True)
    correct = not problems
    record = {
        "workload": a.workload,
        "seed": a.seed,
        "seconds": a.seconds,
        "trace": a.trace,
        "keys": list(wl.keys),
        "scale": wl.scale,
        "n_passes": n_passes,
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "end_to_end": end_to_end,
        "raw": raw,
        "query_tail_percentile": tail_pct,
        "query_samples": len(q_cal),
        "peak_rss_parts_mb": peak_rss,
        "calib_ref": CALIB_REF,
        "calib_samples": calib,
        "calib_parts": cal.parts[1:],
        "per_layer": per_layer,
        "passes": passes,
        "env": {
            "nproc": cpus,
            "loadavg": os.getloadavg(),
            "steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
            "spark_version": spark_version,
            "java_version": java_version,
            "python_version": platform.python_version(),
            "data_dir": os.path.relpath(sf_dir, ROOT),
            "data_prep_s": data_s,
        },
        "warmup_per_key_s": warmup,
        "setup_phases": setup_phases,
        "spans": tracer.dump(),
    }
    out_dir = os.path.join(work, "runs")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1)
    print(f"perfbench: full record in {os.path.relpath(out, os.getcwd())}", file=sys.stderr)

    measured = per_layer if trace else end_to_end
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": measured[k], "unit": u} for k, u in printed.items()},
    }))
    return 0


def _per_layer(sc, passes, tracer, layers, setup, calib) -> dict[str, float]:
    """Per-pass layer metrics, as medians over the traced passes."""
    jobs, stages = layers.spark_jobs(sc)
    rows = []
    for pp in passes:
        if not pp["traced"]:
            continue
        p = pp["pass"]
        m = tracer.layer_totals(p)
        ok = [s for s in pp["samples"] if "raw_s" in s]
        m.update(layers.job_metrics(jobs, stages, f"p{p}:"))
        plan = 0.0
        for s in ok:
            subs = [
                j["submit_epoch"] for j in jobs
                if j.get("jobGroup") == f"p{p}:{s['key']}"
                and j["submit_epoch"] is not None and j["submit_epoch"] >= s["write_epoch"] - 0.001
            ]
            if subs:
                plan += min(subs) - s["write_epoch"]
        m["catalyst.plan_s"] = plan
        e0, e1 = pp["epoch"]
        ivals = [
            (max(e0, j["submit_epoch"]), min(e1, j["end_epoch"] or e1))
            for j in jobs
            if (j.get("jobGroup") or "").startswith(f"p{p}:") and j["submit_epoch"] is not None
        ]
        m["spark.driver_gap_s"] = (e1 - e0) - layers.union_s(ivals)
        for k, v in pp["cpu"].items():
            m[f"{k}.cpu_s"] = v
        m["env.steal_share"] = pp["steal_share"]
        rows.append(m)
    traced = [pp["cal_s"] for pp in passes if pp["traced"]]
    untraced = [pp["cal_s"] for pp in passes if not pp["traced"]]
    out = {name: statistics.median(r.get(name, 0.0) for r in rows) for name in rows[0]}
    out.update(setup)
    out["env.calib_s"] = statistics.median(calib)
    out["trace.pass_s"] = statistics.median(traced)
    out["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
    return out


if __name__ == "__main__":
    sys.exit(main())
