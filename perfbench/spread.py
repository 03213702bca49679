#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workloads iterative,decode \\
        --seeds 1-10 --seconds 15 --out perfbench/evidence/set_a.json
    python3 perfbench/spread.py --compare set_a.json set_b.json

For every workload and end-to-end metric it prints the median over the
runs and the spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median. The
raw (uncalibrated) timings from each run's full record are summarized
the same way beside the calibrated ones, so a set of runs shows how much
of the run-to-run drift the calibration removed.

``--compare`` reads two such sets of the same code and prints, per
workload and metric, both medians and how far the second moved from the
first, calibrated and raw side by side.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None}


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """(printed result, full record) of one benchmark run."""
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - t0
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n{p.stderr[-3000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    path = next(
        ln.split("full record in ", 1)[1].strip()
        for ln in reversed(p.stderr.splitlines()) if "full record in " in ln
    )
    with open(os.path.join(ROOT, path)) as f:
        record = json.load(f)
    record["wall_s"] = wall
    return result, record


def compare(path_a: str, path_b: str) -> None:
    with open(path_a) as f:
        a = json.load(f)["workloads"]
    with open(path_b) as f:
        b = json.load(f)["workloads"]
    print("| workload | metric | median A | median B | B vs A | spread A | spread B "
          "| raw median A | raw median B | raw B vs A |")
    print("|---|---|---|---|---|---|---|---|---|---|")
    for wl in a:
        if wl not in b:
            continue
        for k, sa in a[wl]["summary"].items():
            sb = b[wl]["summary"].get(k)
            if sb is None:  # metric not reported by both sets
                continue
            ra, rb = a[wl]["raw_summary"].get(k), b[wl]["raw_summary"].get(k)
            raw = (f"{ra['median']:.4g} | {rb['median']:.4g} | {rb['median'] / ra['median'] - 1:+.1%}"
                   if ra and rb else " |  | ")
            print(f"| {wl} | {k} | {sa['median']:.4g} | {sb['median']:.4g} "
                  f"| {(sb['median'] / sa['median'] - 1) if sa['median'] else 0:+.1%} "
                  f"| {sa['spread']:.3f} | {sb['spread']:.3f} | {raw} |")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--compare", nargs=2, metavar=("SET_A", "SET_B"))
    ap.add_argument("--workloads", default="iterative,decode")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    if a.compare:
        compare(*a.compare)
        return 0
    if not a.out:
        ap.error("--out is required unless --compare is given")
    report: dict = {"seconds": a.seconds, "trace": a.trace, "workloads": {}}
    for wl in a.workloads.split(","):
        runs = []
        for seed in _seeds(a.seeds):
            result, record = run_once(wl, seed, a.seconds, a.trace)
            runs.append({
                "seed": seed,
                "wall_s": record["wall_s"],
                "correct": result["correct"],
                "failed": result["failed"],
                "metrics": {k: v["value"] for k, v in result["metrics"].items()},
                "raw": record["raw"],
                "calib_samples": record["calib_samples"],
                "steal_share": record["env"]["steal_share"],
                "loadavg": record["env"]["loadavg"],
            })
            m = runs[-1]["metrics"]
            print(f"{wl} seed {seed}: wall {record['wall_s']:.1f}s "
                  + " ".join(f"{k}={v:.4g}" for k, v in m.items()), flush=True)
        names = list(runs[0]["metrics"])
        summary = {k: summarize([r["metrics"][k] for r in runs]) for k in names}
        raw_names = [k for k in runs[0]["raw"] if runs[0]["raw"][k] is not None]
        raw = {k: summarize([r["raw"][k] for r in runs]) for k in raw_names}
        report["workloads"][wl] = {"summary": summary, "raw_summary": raw, "runs": runs}
        for k, s in summary.items():
            r = raw.get(k)
            print(f"  {wl} {k}: median {s['median']:.4g} spread {s['spread']:.3f}"
                  + (f" | raw median {r['median']:.4g} spread {r['spread']:.3f}" if r else ""),
                  flush=True)
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
