#!/usr/bin/env python
"""Measure single registry keys with the bench protocol (bench.warm_up
and bench.time_key: one warm-up, tracked caches released after it and
after every timed run).

  python tools/measure.py time [--out f.jsonl] [<key> ...]
      time keys (default: bench.HEADLINE), one JSON line per key; with
      --out, append each line to f.jsonl as it completes and skip keys
      already in it (resumable long runs, e.g. an sf1 rehearsal). A key's
      timing depends on the keys run before it in the same session, so
      each line carries "session" (the keys this run times, in order)
      and "position" (the key's index in it)
  python tools/measure.py plans <round> <tag> (<key> ... | --file keys.txt)
      write .explain("formatted") to plans/<round>/<key>_<tag>.txt.
      Iterative keys run their rounds at build time, so the file holds
      the plan of the FINAL frame
  python tools/measure.py timeline <key>
      one warm run, then one cold run with the event log on: every job in
      time order with per-stage ms, tasks and shuffle write/read bytes,
      driver gaps over 80 ms, and the sum of job walls against wall time

Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS,
SPARK_GRAFT_BENCH_RUNS (timed runs per key, default 3).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402
from plan_snapshots import explain_formatted  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
GAP_MS = 80


def cmd_time(keys: list[str], out: str | None) -> None:
    done = set()
    if out and os.path.exists(out):
        with open(out) as f:
            done = {json.loads(line)["key"] for line in f if line.strip()}
    keys = keys or bench.HEADLINE
    todo = [k for k in keys if k not in done]
    if len(todo) < len(keys):
        print(f"skipping {len(keys) - len(todo)} keys already in {out}", file=sys.stderr)
    spark, _ = bench.open_session("sim_spark-measure")
    bench.warm_up(spark, SF_DIR)
    for position, key in enumerate(todo):
        samples = bench.time_key(spark, key, SF_DIR)
        rec = {
            "key": key,
            "median": round(statistics.median(s["wall_s"] for s in samples), 3),
            "samples": [{k: round(v, 4) for k, v in s.items()} for s in samples],
            "position": position,
            "session": todo,
        }
        print(json.dumps(rec), flush=True)
        if out:
            with open(out, "a") as f:
                f.write(json.dumps(rec) + "\n")
    spark.stop()


def cmd_plans(round_: str, tag: str, keys: list[str]) -> None:
    from sim_spark.registry import QUERIES
    from sim_spark.scratch import release_tracked_caches

    spark, _ = bench.open_session("sim_spark-plans")
    out_dir = os.path.join(ROOT, "plans", round_)
    os.makedirs(out_dir, exist_ok=True)
    for key in keys:
        fn = bench.SPECIAL.get(key) or QUERIES[key]
        txt = explain_formatted(fn(spark, SF_DIR))
        path = os.path.join(out_dir, f"{key}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        release_tracked_caches()
        print(f"wrote {path} ({len(txt)} bytes)", flush=True)
    spark.stop()


def _events(evdir: str) -> tuple[dict, dict]:
    """Jobs and completed stages from EVERY event-log segment (a run's
    jobs span rolled files; reading only the newest hides earlier ones)."""
    jobs, stages = {}, {}
    for path in glob.glob(os.path.join(evdir, "**", "*"), recursive=True):
        if not os.path.isfile(path) or "appstatus" in os.path.basename(path):
            continue
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {
                        "t0": e["Submission Time"],
                        "stages": [s["Stage ID"] for s in e["Stage Infos"]],
                    }
                elif ev == "SparkListenerJobEnd":
                    jobs.setdefault(e["Job ID"], {})["t1"] = e["Completion Time"]
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    acc = {a["Name"]: int(a["Value"])
                           for a in si.get("Accumulables", [])
                           if str(a.get("Value")).isdigit()}
                    read = "internal.metrics.shuffle.read."
                    stages[si["Stage ID"]] = {
                        "name": si["Stage Name"].split(" at ")[0],
                        "tasks": si["Number of Tasks"],
                        "ms": si["Completion Time"] - si["Submission Time"],
                        "sh_w": acc.get("internal.metrics.shuffle.write.bytesWritten", 0),
                        "sh_r": acc.get(read + "localBytesRead", 0)
                        + acc.get(read + "remoteBytesRead", 0),
                    }
    return jobs, stages


def cmd_timeline(key: str) -> None:
    from sim_spark.registry import QUERIES
    from sim_spark.scratch import release_tracked_caches

    evdir = tempfile.mkdtemp(prefix="measure_eventlog_")
    os.environ["SPARK_GRAFT_EXTRA_CONFS"] = ";".join(filter(None, [
        os.environ.get("SPARK_GRAFT_EXTRA_CONFS"),
        f"spark.eventLog.enabled=true;spark.eventLog.dir=file://{evdir}"
        ";spark.eventLog.compress=false",
    ]))
    spark, cpus = bench.open_session("sim_spark-timeline")
    fn = bench.SPECIAL.get(key) or QUERIES[key]
    bench._materialize(fn(spark, SF_DIR))  # warm-up
    release_tracked_caches()
    t_start = time.time() * 1000
    t0 = time.perf_counter()
    bench._materialize(fn(spark, SF_DIR))
    wall = time.perf_counter() - t0
    t_end = time.time() * 1000
    release_tracked_caches()
    spark.stop()  # flushes the event log

    jobs, stages = _events(evdir)
    shutil.rmtree(evdir, ignore_errors=True)
    timed = sorted((j["t0"], jid) for jid, j in jobs.items()
                   if "t0" in j and t_start <= j["t0"] <= t_end)
    print(f"=== {key}: cold run wall {wall:.3f}s (cpus={cpus}, {SF_DIR}) ===")
    busy_until, job_sum = t_start, 0.0
    for t, jid in timed:
        j = jobs[jid]
        jw = j.get("t1", t) - t
        job_sum += jw
        gap = t - busy_until
        mark = f"  (+{gap:.0f} ms driver gap)" if gap > GAP_MS else ""
        print(f"{t - t_start:8.0f} ms  job {jid}  {jw:6.0f} ms{mark}")
        for sid in sorted(j["stages"]):
            s = stages.get(sid)
            if s is None:
                print(f"            stage {sid:4d}  skipped")
                continue
            print(f"            stage {sid:4d} {s['ms']:6d} ms {s['tasks']:4d} tasks"
                  f"  shW {s['sh_w']:>10}  shR {s['sh_r']:>10}  {s['name'][:60]}")
        busy_until = max(busy_until, j.get("t1", t))
    print(f"{len(timed)} jobs; sum of job walls {job_sum / 1000:.3f}s vs wall "
          f"{wall:.3f}s (the rest is driver: planning, py4j, Python-local)")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    t = sub.add_parser("time")
    t.add_argument("keys", nargs="*")
    t.add_argument("--out")
    p = sub.add_parser("plans")
    p.add_argument("round")
    p.add_argument("tag")
    p.add_argument("keys", nargs="*")
    p.add_argument("--file")
    sub.add_parser("timeline").add_argument("key")
    a = ap.parse_args()
    if a.cmd == "time":
        cmd_time(a.keys, a.out)
    elif a.cmd == "plans":
        keys = a.keys
        if a.file:
            with open(a.file) as f:
                keys = [ln.strip() for ln in f if ln.strip() and not ln.startswith("#")]
        cmd_plans(a.round, a.tag, keys)
    else:
        cmd_timeline(a.key)


if __name__ == "__main__":
    main()
