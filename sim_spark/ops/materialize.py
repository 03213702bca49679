"""Lineage cuts for iterative operators (SCALE.md §8).

Iterative algorithms (connected components, PageRank, k-means) must cut
lineage every round or the plan deepens without bound. One setting picks
how:

- ``SIM_SPARK_CHECKPOINT_DIR`` set: a parquet write + read-back into that
  directory. Point it at durable storage every executor can read
  (HDFS/S3/DBFS); an executor lost after the cut just re-reads the files.
- unset: a local cut — an eager cache (``cache_ok`` callers) or
  ``localCheckpoint()`` onto executor block storage.

There is no third, "durable without a dir" mode. The only directory the
engine could pick by itself is the driver's per-process scratch dir, and
a file there is readable by every task only when every task runs on the
driver's host — a single-host deployment, where losing an executor means
losing the process and durability buys nothing. A driver-local
round-trip was never durable; it only paid a write and a read per round.
"""

from __future__ import annotations

import os
import warnings

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

_MAT_SEQ = 0
_WARNED = False


def _flat_cached(df: DataFrame) -> DataFrame:
    """Rewrap an (eagerly populated) cached ``df`` as a DataFrame whose
    logical plan is the bare ``InMemoryRelation`` leaf.

    ``cache()`` alone leaves the FULL logical plan on the frame — every
    downstream reference re-inlines it, so a K-round loop over cached
    states builds plan trees that grow multiplicatively
    (graph_betweenness_sampled's analyzed plan reached 57 988 lines and
    its wall was catalyst planning, not tasks). ``InMemoryRelation`` is a
    *leaf* node: wrapping it directly makes every consumer's plan
    O(consumer), the analyzer/optimizer never walk the upstream tree
    again, and execution still short-circuits into the populated
    columnar blocks. If the blocks are later evicted or released, the
    relation recomputes from its baked physical plan — same recovery
    story as a plain cache. Falls back to ``df`` unchanged, with one
    ``RuntimeWarning`` per process, when the JVM lookup fails (a Spark
    without ``classic.Dataset``)."""
    try:
        spark = df.sparkSession
        jspark = spark._jsparkSession
        opt = jspark.sharedState().cacheManager().lookupCachedData(df._jdf)
        if not opt.isDefined():
            return df
        imr = opt.get().cachedRepresentation()
        jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(jspark, imr)
        return DataFrame(jdf, spark)
    except (Py4JError, AttributeError) as exc:
        global _WARNED
        if not _WARNED:
            _WARNED = True
            warnings.warn(
                "materialize(): cannot rewrap the cached frame as a flat "
                f"relation ({type(exc).__name__}: {exc}); consumers "
                "re-inline its full plan for this process",
                RuntimeWarning,
                stacklevel=3,
            )
        return df  # the plain cached frame is still correct


def materialize(df: DataFrame, *, cache_ok: bool = False) -> DataFrame:
    """Evaluate ``df`` once and sever its lineage.

    With ``SIM_SPARK_CHECKPOINT_DIR`` set, the cut is a PARQUET write +
    read-back into it (files on durable storage; lineage cut; an executor
    loss re-reads the files). Parquet, not ``df.checkpoint()``: the RDD
    checkpoint serializes InternalRows row-by-row with the JVM
    serializer, parquet gets columnar encoding + compression out and a
    vectorized scan back (sf1 co-purchase edges, 12M rows: ~11 s ->
    ~4 s). ``cache_ok`` is ignored on this path.

    Unset, the cut is local (see the module docstring for why no
    driver-chosen directory is durable):

    - ``cache_ok`` — the caller promises a SHALLOW loop (bounded round
      count) that references each state a bounded number of times:
      ``cache()`` + ``count()`` stands in for the cut, the state
      evaluates exactly once (``localCheckpoint`` pays an extra pass
      over the final stage and a java-serialized block round-trip), and
      the frame is rewrapped as a bare ``InMemoryRelation`` leaf
      (:func:`_flat_cached`) so consumers carry O(1) logical plans. The
      populating ``count()`` always runs: a lazy InMemoryRelation would
      recompute once per concurrent first reader. The cache is tracked,
      so harnesses release it between keys.
    - otherwise ``localCheckpoint()``."""
    base = os.environ.get("SIM_SPARK_CHECKPOINT_DIR")
    if base is None:
        if cache_ok:
            from sim_spark.scratch import track_cache

            track_cache(df)
            df.count()
            return _flat_cached(df)
        return df.localCheckpoint()
    global _MAT_SEQ
    _MAT_SEQ += 1
    path = os.path.join(base, f"mat_{os.getpid()}_{_MAT_SEQ:06d}")
    df.write.mode("overwrite").parquet(path)
    # The files hold exactly df's schema: hand it to the reader rather
    # than paying a schema-inference job per round.
    return df.sparkSession.read.schema(df.schema).parquet(path)
