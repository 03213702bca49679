"""The band-join implementation: a compiled Catalyst rule (SURVEY §4.3).

A band predicate (``lo <= b.x - a.y <= hi``) with no equi key plans as
BroadcastNestedLoopJoin in OSS Spark. SURVEY §4.3 deferred the honest
fix ("needs a compiled Scala rule"); the Spark distribution ships
``scala-compiler-2.13.17.jar`` inside ``$SPARK_HOME/jars``, so the rule
IS buildable here — ext/src/SimSparkExtensions.scala compiles to
ext/simspark-ext.jar (committed, plus ext/build.sh to rebuild) and
provides two optimizer rules, installed into the session's
``spark.experimental.extraOptimizations`` ("User Provided Optimizers"
batch, applied to every subsequent plan: ``spark.sql`` strings and
``DataFrame.join`` alike):

* ``simspark.SqlBandJoinRewrite`` — inner joins whose condition is a
  bounded band over INTEGRAL, TIMESTAMP, DATE, or (r9) DOUBLE/FLOAT/
  DECIMAL attributes with no equi conjunct are replanned as
  bucket-explode + equi-join + exact refine with the ORIGINAL predicate
  (candidate superset — row-identical by construction). Integral,
  timestamp and date axes bucket in long arithmetic through their exact
  epoch mappings (``unix_micros``/``unix_date``): a saturating offset
  add, then integer ``div`` by the band width. (r10) YEAR-MONTH interval
  offsets bucket on the exact month index (year*12+month — add_months
  lands exactly n indexes away, and the index is monotone), which also
  admits TIMESTAMP_NTZ axes (wall-clock month index, tz-free).
  Fractional axes (doubles, floats, decimals of ANY width) bucket via
  double floor-division with a ±1 bucket margin whose ±2^50 bucket-id
  clamp keeps the quotient inside the 53-bit accuracy horizon at any
  magnitude. Joins with an equi conjunct are left to the hash join on
  that key.
* ``simspark.NaiveBandJoinWarning`` — shapes the rewrite does not
  cover (month offsets mixed with nonzero day-time offsets on one
  pair, exotic arithmetic over attributes) log a loud warning and bump
  a counter. Both counters dedupe on the condition's canonicalized
  string under a bounded LRU (the optimizer re-runs extra rules in its
  fixed-point batch and under AQE), so they count distinct join
  conditions, not rule visits.

Platform: classic PySpark only. Installation is additive: the
committed jar (``ext/build.sh``'s artifact, pinned to its source's
sha256 by tests/test_source_pins.py) loads through a child
URLClassLoader of the live JVM (no session restart, no classpath
flags). If the load fails, the call warns once with a
``RuntimeWarning`` and returns False, leaving the session untouched.
Correctness never depends on the rule being installed: the rewrite
preserves semantics, so queries return identical rows either way; only
the PLAN differs (asserted in tests/test_plans.py).

Documented limitation: a month offset mixed with a NONZERO
day-time/day offset on the same attribute pair has no common exact
bucket unit and still plans naively with a WARN.
"""

from __future__ import annotations

import os
import warnings

from py4j.protocol import Py4JError
from pyspark.sql import SparkSession

_EXT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), "ext")
_JAR = os.path.join(_EXT_DIR, "simspark-ext.jar")

# app-id -> (installed?, diagnostics JavaObject or None)
_INSTALLED: dict[str, tuple[bool, object]] = {}


def install_sql_band_extension(spark: SparkSession) -> bool:
    """Install the band-rewrite + warning rules into this session's
    optimizer. Idempotent per session; returns False (leaving the
    session untouched, after one ``RuntimeWarning``) when the jar's
    classes cannot be loaded into the live JVM."""
    app_id = spark.sparkContext.applicationId
    cached = _INSTALLED.get(app_id)
    if cached is not None:
        return cached[0]
    ok = False
    diag = None
    try:
        jvm = spark._jvm
        gw = spark.sparkContext._gateway
        url = jvm.java.io.File(_JAR).toURI().toURL()
        arr = gw.new_array(jvm.java.net.URL, 1)
        arr[0] = url
        # Child loader of the Spark classloader: Rule/LogicalPlan parents
        # resolve from Spark's own jars, our classes from the ext jar.
        loader = jvm.java.net.URLClassLoader(
            arr, jvm.Thread.currentThread().getContextClassLoader()
        )
        install = loader.loadClass("simspark.Install$").getField("MODULE$").get(None)
        install.apply(spark._jsparkSession)
        diag = (
            loader.loadClass("simspark.BandDiagnostics$")
            .getField("MODULE$")
            .get(None)
        )
        ok = True
    except Py4JError as exc:
        warnings.warn(
            f"sqlband: could not install {_JAR} into the session "
            f"({type(exc).__name__}): band joins in SQL strings plan as "
            "nested-loop joins",
            RuntimeWarning,
            stacklevel=2,
        )
    _INSTALLED[app_id] = (ok, diag)
    return ok


def diagnostics(spark: SparkSession) -> dict[str, int] | None:
    """Counters from the installed rules (None if not installed):
    ``rewrites`` = band joins replanned, ``warnings`` = naive non-equi
    joins the rewrite could not cover."""
    cached = _INSTALLED.get(spark.sparkContext.applicationId)
    if not cached or not cached[0]:
        return None
    diag = cached[1]
    return {"rewrites": int(diag.rewrites()), "warnings": int(diag.warnings())}
