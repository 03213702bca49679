"""The calibration job: a fixed Spark job that uses no sim_spark code.

It goes through the same layers as the benchmarked queries — JVM
planning, a hash shuffle, Arrow batches and a Python worker — so the
host slowing those layers down slows it by about the same share. Timed
passes are scaled by ``CALIB_REF / calib`` to reference-calibrated
seconds.

The job runs in its own child session with every SQL conf it depends on
pinned, so a change to the program's session confs cannot change its
plan.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The calibration time, in seconds, pinned from the reference box (4
# cpus, Spark 4.1.2, OpenJDK 17), where the 200 samples of the committed
# evidence runs had a median of 1.056 s. Calibrated seconds = raw seconds *
# CALIB_REF / calibration seconds. Changing it rescales every calibrated
# metric, so it stays fixed.
CALIB_REF = 1.03

PINNED_CONFS = {
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.codegen.wholeStage": "true",
    "spark.sql.ansi.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.execution.pythonUDF.arrow.enabled": "false",
}

AGG_ROWS = 2_000_000
PY_ROWS = 500_000
PARTITIONS = 8


def _identity(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    yield from batches


def session(spark: SparkSession) -> SparkSession:
    """A child session of ``spark`` with the calibration confs pinned."""
    s = spark.newSession()
    for k, v in PINNED_CONFS.items():
        s.conf.set(k, v)
    return s


def frames(s: SparkSession) -> list[DataFrame]:
    """The calibration job's two frames: a range → group-by over a hash
    shuffle, and a ``mapInPandas`` identity through a Python worker."""
    agg = (
        s.range(0, AGG_ROWS, 1, PARTITIONS)
        .groupBy((F.col("id") % 1024).alias("k"))
        .agg(F.sum("id").alias("s"))
    )
    py = s.range(0, PY_ROWS, 1, PARTITIONS).mapInPandas(_identity, "id long")
    return [agg, py]


class Calibrator:
    """Runs the calibration job on an idle context and keeps the time of
    each of its frames for every sample."""

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._session = session(spark)
        self.parts: list[list[float]] = []

    def _wait_idle(self, timeout: float = 30.0) -> None:
        tracker = self._spark.sparkContext.statusTracker()
        end = time.monotonic() + timeout
        while tracker.getActiveJobsIds() and time.monotonic() < end:
            time.sleep(0.02)

    def run(self) -> float:
        """One calibration sample, in seconds; the time of each of its
        frames is recorded in ``parts``."""
        self._wait_idle()
        # start from a collected heap, so garbage the last pass left
        # does not land in this sample
        self._spark.sparkContext._jvm.System.gc()
        parts = []
        for df in frames(self._session):
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            parts.append(time.perf_counter() - t0)
        self.parts.append(parts)
        return sum(parts)
