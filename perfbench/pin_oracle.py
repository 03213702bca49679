#!/usr/bin/env python3
"""Write pins.json: the DuckDB-oracle result hash of every benchmark key.

    python3 perfbench/pin_oracle.py

For each key of each workload, runs the key's oracle SQL
(``sim_spark.registry.ORACLES``) in DuckDB over the workload's generated
tables and stores the hash of the canonicalized result
(``run.frame_hash``). The Spark result is computed too and compared, so a
key whose Spark output already disagrees with its oracle is reported
here, not discovered later as a failing benchmark run. The pins are the
oracle's hashes either way.
"""

from __future__ import annotations

import json
import os
import sys

import gendata
import run


def main() -> int:
    work = os.path.join(run.ROOT, ".perfbench")
    run._prepare_env(work, trace=False)
    from sim_spark.session import get_spark
    import sim_spark.queries  # noqa: F401
    from sim_spark.registry import ORACLES, QUERIES
    from sim_spark.scratch import release_tracked_caches
    from sim_spark.testing import compare_frames, duckdb_connect

    spark = get_spark("perfbench-pins", cpus=len(os.sched_getaffinity(0)))
    pins: dict[str, dict] = {}
    disagree = []
    for name, wl in run.WORKLOADS.items():
        sf_dir = gendata.ensure(os.path.join(work, "data"), wl.scale)
        con = duckdb_connect(sf_dir)
        for key in wl.keys:
            oracle = con.execute(ORACLES[key]).fetchdf()
            got = QUERIES[key](spark, sf_dir).toPandas()
            release_tracked_caches()
            cmp = compare_frames(got, oracle)
            pins[key] = {
                "workload": name,
                "scale": wl.scale,
                "rows": len(oracle),
                "sha256": run.frame_hash(oracle),
            }
            print(f"{key}: {len(oracle)} rows, spark {'matches' if cmp.ok else 'DIFFERS: ' + cmp.detail}")
            if not cmp.ok:
                disagree.append(key)
        con.close()
    spark.stop()
    with open(os.path.join(run.HERE, "pins.json"), "w") as f:
        json.dump(
            {"data_seed": gendata.DATA_SEED, "gen_version": gendata.GEN_VERSION, "keys": pins},
            f, indent=1, sort_keys=True,
        )
        f.write("\n")
    if disagree:
        print("spark differs from the oracle on: " + ", ".join(disagree), file=sys.stderr)
    return 1 if disagree else 0


if __name__ == "__main__":
    sys.exit(main())
