"""Table loading for the fixed parquet fixtures (FIXTURES.md).

Every table is checked against its pinned schema (``SCHEMAS``) so a scan
never silently drifts. The check runs once per file: the first load of a
file infers its parquet schema (a Spark job), compares it with the pin and
remembers the inferred schema under the file's identity — absolute path,
modification time in ns, size. Later loads of the same file hand that
schema to the reader, which then submits no job. Rewriting the file
changes its identity, so the next load infers and checks again. Only this
metadata is kept, like a catalog; every query still scans the parquet.
A path that cannot be ``stat``-ed as a regular file (a directory dataset,
a remote URI) is inferred and checked on every load.

At 100 TB the same loaders work unchanged: ``spark.read.parquet`` over a
directory tree gives partition pruning + predicate pushdown + column pruning
for free; nothing here materializes data on the driver.
"""

from __future__ import annotations

import os
import stat

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from sim_spark.session import normalize

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Pinned schemas measured from the fixtures (FIXTURES.md). Parquet physical
# int32→IntegerType, int64→LongType, timestamp→TimestampType.
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


# Session confs that change what parquet schema inference returns; they
# are part of the memo key, so a session that sets them re-infers.
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.caseSensitive",
)

# (file identity, inference confs) -> the schema Spark inferred for the
# file when it was checked, or None for an events file whose
# TIMESTAMP(NANOS) column inference rejects (see _events).
_INFERRED: dict[tuple, T.StructType | None] = {}

# file identity -> COUNT(*). The corpus-count ladder dials (ops/ladders.py)
# re-derive their K at every query build — without the memo each bench
# sample pays a fresh full-table count job (r9 review).
_COUNT_CACHE: dict[tuple, int] = {}


def _file_identity(path: str) -> tuple | None:
    """(absolute path, mtime in ns, size) of a regular file, else None."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (os.path.abspath(path), st.st_mtime_ns, st.st_size)


def _canon(schema: T.StructType) -> str:
    # timestamp vs timestamp_ntz is NOT drift — fixtures ship NTZ and
    # the session pins UTC, so queries normalize it downstream.
    return schema.simpleString().replace("timestamp_ntz", "timestamp")


def _inferred_schema(spark: SparkSession, path: str, name: str) -> T.StructType | None:
    """The parquet schema Spark infers for ``path``, checked against the
    pinned ``SCHEMAS[name]`` — inferred and checked once per file
    identity (module docstring).

    Fails LOUD on fixture drift: a silently retyped column (int32
    doc_id, float32 price) changes every downstream pandas dtype and the
    result hash with no local signal otherwise. ``events`` is
    not checked; its TIMESTAMP(NANOS) layout, which inference rejects,
    returns None."""
    ident = _file_identity(path)
    key = None
    if ident is not None:
        key = (ident, tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS))
        if key in _INFERRED:
            return _INFERRED[key]
    try:
        schema = spark.read.parquet(path).schema
    except AnalysisException as e:
        # Only the TIMESTAMP(NANOS) schema rejection of events falls
        # through to the legacy nanosAsLong path; a missing/corrupt file
        # must fail loud here, not with a misleading error from the
        # legacy branch.
        msg = str(e)
        nanos = "PARQUET_TYPE_ILLEGAL" in msg or "TIMESTAMP(NANOS" in msg
        if name != "events" or not nanos:
            raise
        schema = None
    pinned = SCHEMAS.get(name) if name != "events" else None
    if pinned is not None and _canon(schema) != _canon(pinned):
        raise TypeError(
            f"fixture schema drift for {name!r}: expected "
            f"{pinned.simpleString()}, got {schema.simpleString()}"
        )
    if key is not None:
        _INFERRED[key] = schema
    return schema


def table_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Memoized COUNT(*) of a fixture table — for data-deterministic
    scale dials (ladders), not for query results. The count is a Spark
    job, run once per file identity; a path without one counts on
    every call."""
    ident = _file_identity(f"{sf_dir}/{name}.parquet")
    if ident is not None and ident in _COUNT_CACHE:
        return _COUNT_CACHE[ident]
    n = table(spark, sf_dir, name).count()
    if ident is not None:
        _COUNT_CACHE[ident] = n
    return n


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame (lazy; no driver-side data).

    The file's schema is inferred and checked against the pin on its
    first load and read from the memo afterwards (module docstring), so
    a repeat load submits no Spark job. The reader is given the INFERRED
    schema, not the pin: fixtures carry ``timestamp_ntz`` where the pin
    says ``timestamp``, and reading with the pin would change plans.

    ``events.ts`` has shipped in two physical layouts across fixture
    generations: parquet TIMESTAMP(MICROS) (reads directly) and
    TIMESTAMP(NANOS), which Spark 4.x rejects outright
    (PARQUET_TYPE_ILLEGAL) — for the latter we read it as a nanos long
    (legacy conf) and floor-divide to microseconds, bit-identical to
    DuckDB's own ns→µs truncation on read, so oracle comparisons of raw
    ts agree. Either way the column is normalized to session-TZ
    TimestampType (session TZ pinned UTC) so downstream queries see one
    stable type.
    """
    normalize(spark)
    if name == "events":
        return _events(spark, sf_dir)
    path = f"{sf_dir}/{name}.parquet"
    return spark.read.schema(_inferred_schema(spark, path, name)).parquet(path)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    path = f"{sf_dir}/events.parquet"
    schema = _inferred_schema(spark, path, "events")
    ts_type = schema["ts"].dataType if schema is not None else None
    if isinstance(ts_type, T.TimestampType):
        return spark.read.schema(schema).parquet(path)
    if isinstance(ts_type, T.TimestampNTZType):
        # µs fixtures read as NTZ; session TZ is UTC, so the cast is a
        # pure relabel (identical wall-clock values, oracle-compatible).
        df = spark.read.schema(schema).parquet(path)
        return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    # Legacy TIMESTAMP(NANOS) layout: scope the legacy conf to this one
    # read — the scan relation captures the conf at build time
    # (verified: execution after restore still decodes correctly), so
    # restoring immediately keeps later TIMESTAMP(NANOS) reads in the
    # session loud.
    conf_key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(conf_key, None)  # None: not set in this session
    spark.conf.set(conf_key, "true")
    try:
        # FLOOR division, not `div` (truncate-toward-zero): DuckDB floors
        # its ns->us conversion, so a pre-epoch nanosecond (negative int64)
        # must round down, not toward zero, to stay bit-identical.
        df = spark.read.parquet(path).withColumn(
            "ts",
            F.expr(
                "timestamp_micros(ts div 1000"
                " - CASE WHEN ts % 1000 < 0 THEN 1 ELSE 0 END)"
            ),
        )
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)
    return df


def load(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    """Load several tables at once: ``li, ord = load(spark, d, 'lineitem', 'orders')``."""
    return tuple(table(spark, sf_dir, n) for n in names)


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register temp views for the SQL entry point (SURVEY.md §3.2 EP3).

    ``names=None`` means all tables; an explicit empty list registers
    none (``names or TABLES`` would silently register all ten)."""
    for n in (TABLES if names is None else names):
        table(spark, sf_dir, n).createOrReplaceTempView(n)
