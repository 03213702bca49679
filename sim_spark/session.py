"""SparkSession construction and per-session normalization.

The driver harness passes us an already-built SparkSession; tests and
bench.py build their own via :func:`get_spark`. Either way,
:func:`normalize` pins the runtime confs that query correctness depends
on (UTC session time zone, ANSI SQL semantics) — these are settable at
runtime so we apply them defensively on every query invocation.
"""

from __future__ import annotations

import os
import warnings

from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import SparkSession

# Runtime-settable confs every query depends on (SURVEY.md §2.12).
# CBO confs are deliberately NOT here: stats propagation costs ~15% of
# planning on multi-join queries even with no stats present (measured on
# join_multiway_star), so CBO runs in a dedicated child session scoped
# to the queries that ANALYZE their inputs (ops/cbo.py).
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    # DuckDB semantics for div-by-zero/overflow; 4.x default but pin anyway.
    "spark.sql.ansi.enabled": "true",
}


# Runtime confs a host refused to let normalize() pin: warned about once.
_LOCKED_WARNED: set[str] = set()


def normalize(spark: SparkSession) -> SparkSession:
    """Pin runtime confs on a session we did not build (driver-owned)."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except (PySparkException, Py4JJavaError) as e:
            # The JVM refused (conf locked by the host); queries still
            # avoid depending on it, so go on, but say so once.
            if k not in _LOCKED_WARNED:
                _LOCKED_WARNED.add(k)
                warnings.warn(f"sim_spark could not pin {k}={v}: {e}", stacklevel=2)
    return spark


def get_spark(app: str = "sim_spark", cpus: int | None = None) -> SparkSession:
    """Local-mode session sized for this machine; multi-executor-safe design.

    Shuffle partition count follows core count, not the 200 default — at
    test scale AQE coalesces anyway; at cluster scale the deployer overrides.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The fixtures are single ~10 MB parquet files; the default 4 MB
        # file-open cost estimate caps their scans at ~3 splits, leaving
        # 29 of 32 cores idle on scan-bound aggregates (measured: Q1
        # 1.50 s → 1.32 s with 1 MB). At cluster scale the 128 MB
        # maxPartitionBytes cap dominates and this setting is inert.
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Pair-list keys legitimately return millions of rows at sf1
        # (join_theta_band ~1.1 GiB serialized); the 1g default aborted
        # a collect the 8g driver heap handles fine. Deploy-scale note:
        # a real cluster sizes this with the driver container.
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT", "4g"),
        )
        # UI off by default (port churn in tests); SPARK_GRAFT_UI=1 turns
        # it on for the REST peak-memory probe (tools/peak_memory.py)
        .config(
            "spark.ui.enabled",
            "true" if os.environ.get("SPARK_GRAFT_UI") else "false",
        )
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
    )
    # SPARK_GRAFT_EXTRA_CONFS="k=v;k=v" — session-build-time confs a tool
    # needs (e.g. tools/peak_memory.py sets the executor-metrics polling
    # interval, which cannot be set at runtime)
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "").split(";"):
        if "=" in kv:
            ck, cv = kv.split("=", 1)
            b = b.config(ck.strip(), cv.strip())
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
