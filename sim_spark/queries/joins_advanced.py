"""As-of and interval joins (SURVEY.md §2.3 hard rows, §4.3 designs).

Both run inside the events table because it is the only fixture with a
shared time axis (orders live in 1995-2001, events in 2024 — a cross-table
temporal join would be vacuously empty).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sim_spark.exprs import ts_str
from sim_spark.io import register_views, table
from sim_spark.ops.asof import asof_join_backward, auto_asof
from sim_spark.ops.sqlband import install_sql_band_extension
from sim_spark.registry import query
from sim_spark.streaming import mounts


@query(
    "join_auto_asof",
    oracle="""
SELECT p.event_id,
       p.user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       (SELECT v.event_id FROM events v
        WHERE v.user_id = p.user_id AND v.event_type = 'view' AND v.ts <= p.ts
        ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) AS prev_view_id
FROM events p
WHERE p.event_type = 'purchase'
""",
)
def join_auto_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`join_asof` driven entirely by the NAIVE predicate: the caller
    writes the eligibility condition they would hand to a plain join —
    ``user_id == v_user_id AND v_ts <= ts`` — and ops.asof.auto_asof
    classifies the conjuncts (one equi key + one non-strict backward
    inequality), then delegates to the union-tag + keyed-window asof
    composite. Same single-shuffle plan as `join_asof` (asserted: no
    BNLJ), same correlated-subquery oracle; the ergonomic win is that
    nobody has to know the composite exists.
    """
    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_event_id"),
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("v_ts"),
    )
    out = auto_asof(
        purchases,
        views,
        on=(F.col("user_id") == F.col("v_user_id"))
        & (F.col("v_ts") <= F.col("ts")),
        right_order="v_event_id",
        payload_cols=["v_event_id"],
    )
    return out.select(
        "event_id",
        "user_id",
        ts_str("ts").alias("purchase_ts"),
        F.col("asof_v_event_id").cast("long").alias("prev_view_id"),
    )


_SQL_BAND_TEXT = """
WITH c AS (
  SELECT c_custkey,
         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c
  FROM customer
)
SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
       CAST(b.bal_c - a.bal_c AS BIGINT) AS diff_cents
FROM c a JOIN c b
  ON b.bal_c >= a.bal_c - 5 AND b.bal_c <= a.bal_c + 5
 AND a.c_custkey < b.c_custkey
ORDER BY cust_a, cust_b
"""


@query("join_sql_band", oracle=_SQL_BAND_TEXT)
def join_sql_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate account balances (|diff| <= 5 cents) written as a
    NAIVE band join inside a spark.sql() STRING. The compiled Catalyst
    rule (ext/src/SimSparkExtensions.scala, installed opportunistically
    via ops.sqlband) replans it as bucket-explode + equi-join + exact
    refine; without the extension the same SQL still returns identical
    rows (the rewrite is a plan property, asserted separately in
    tests/test_plans.py). The integer-cents axis is the documented
    supported domain; DuckDB runs the very same text as the oracle."""
    install_sql_band_extension(spark)
    register_views(spark, sf_dir, ["customer"])
    return spark.sql(_SQL_BAND_TEXT)


_SQL_BAND_TS_TEXT = """
SELECT e.event_id AS error_id, v.event_id AS view_id
FROM events e JOIN events v
  ON e.event_type = 'error' AND v.event_type = 'view'
 AND v.ts <= e.ts
 AND v.ts >= e.ts - INTERVAL 2 MINUTE
ORDER BY error_id, view_id
"""


@query("join_sql_band_ts", oracle=_SQL_BAND_TS_TEXT)
def join_sql_band_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every view within the 2 minutes before an error — any user, so no
    equi key — written as a NAIVE timestamp band inside a spark.sql()
    STRING. Round 8 extends the compiled Catalyst rule
    (ext/src/SimSparkExtensions.scala) from integral axes to TIMESTAMP
    and DATE axes: the analyzer folds ``ts - INTERVAL`` into
    TimestampAddInterval(attr, day-time-literal), whose offset is exact
    epoch MICROSECONDS, so the same long bucket algebra applies after a
    unix_micros mapping. The plan is a bucket equi-join + exact
    refine (asserted BNLJ-free in tests/test_plans.py); DuckDB runs the
    identical SQL text as the oracle. This shrinks the ops/sqlband.py
    fence to double axes only."""
    install_sql_band_extension(spark)
    register_views(spark, sf_dir, ["events"])
    return spark.sql(_SQL_BAND_TS_TEXT)


_SQL_BAND_DEC_TEXT = """
WITH c AS (
  SELECT c_custkey,
         CAST(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
              * CAST(0.01 AS DECIMAL(3,2)) AS DECIMAL(12,2)) AS bal
  FROM customer
)
SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
       CAST((b.bal - a.bal) * 100 AS BIGINT) AS diff_cents
FROM c a JOIN c b
  ON b.bal >= a.bal - 0.05 AND b.bal <= a.bal + 0.05
 AND a.c_custkey < b.c_custkey
ORDER BY cust_a, cust_b
"""


@query("join_sql_band_dec", oracle=_SQL_BAND_DEC_TEXT)
def join_sql_band_dec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate balances (|diff| <= 5 cents) as a NAIVE band join
    over a DECIMAL(12,2) axis inside a spark.sql() STRING — the last
    numeric-axis shape the compiled Catalyst rule did not cover until r9.
    The rule's fractional path buckets both sides with double
    floor-division plus a ±1 bucket margin (an epsilon-tolerant
    algebra — the margin absorbs any ulp disagreement
    between bucket arithmetic and the refine predicate; the exact refine
    restores row-identity), guarded to DECIMALs with <=15 integral
    digits so the double cast is exact. Plan asserted BNLJ-free in
    tests/test_plans.py; DuckDB runs the identical SQL text. The
    decimal axis itself is built EXACTLY (integer cents * 0.01 — never a
    double->decimal cast, whose rounding mode differs between engines).
    This shrinks the ops/sqlband.py fence to year-month intervals and
    wide decimals only."""
    install_sql_band_extension(spark)
    register_views(spark, sf_dir, ["customer"])
    return spark.sql(_SQL_BAND_DEC_TEXT)


_SQL_BAND_YM_TEXT = """
SELECT a.o_orderkey AS anchor_key,
       COUNT(*) AS n_prior,
       CAST(SUM(CAST(floor(b.o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_cents
FROM orders a JOIN orders b
  ON b.o_orderdate >= a.o_orderdate - INTERVAL '1' MONTH
 AND b.o_orderdate <= a.o_orderdate
 AND a.o_orderkey % 5000 = 7
GROUP BY a.o_orderkey
ORDER BY anchor_key
"""


@query("join_sql_band_ym", oracle=_SQL_BAND_YM_TEXT)
def join_sql_band_ym(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order volume in the month before each sampled anchor order — a
    NAIVE year-month-interval band inside a spark.sql() STRING, the last
    band-axis kind the compiled rule did not cover until r10. Month
    offsets are variable-width in microseconds (so the epoch-micros
    machinery can't bucket them) but EXACT in month-index space:
    add_months always lands exactly n indexes away, and year*12+month is
    monotone in the timestamp, so the rule buckets both sides on the
    month index with whole-month offsets — the same integral bucket
    algebra, one more axis mapping (the zero-offset `b <= a` bound is
    month-space-valid too, which completes the band). Plan asserted
    BNLJ-free in tests/test_plans.py; DuckDB runs the identical SQL
    text (both engines clamp month arithmetic to month ends the same
    way). Anchors are sampled by orderkey residue so the anchor count —
    and the output — scales linearly with SF while the band stays a
    bounded two-bucket explode."""
    install_sql_band_extension(spark)
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_SQL_BAND_YM_TEXT)


@query(
    "join_asof",
    oracle="""
SELECT p.event_id,
       p.user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       (SELECT v.event_id FROM events v
        WHERE v.user_id = p.user_id AND v.event_type = 'view' AND v.ts <= p.ts
        ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) AS prev_view_id
FROM events p
WHERE p.event_type = 'purchase'
""",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every purchase, the user's most recent view at-or-before it
    (backward as-of join; NULL when the purchase precedes all views).

    Implemented with ops.asof.asof_join_backward — union-tag + one keyed
    window, never a per-row subquery. Oracle uses the equivalent
    correlated LIMIT 1 subquery (deterministic tie-break on event_id),
    which DuckDB happily decorrelates.
    """
    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join_backward(
        purchases.withColumnRenamed("event_id", "p_event_id"),
        views,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        payload_cols=["event_id"],
        right_order="event_id",
    )
    return out.select(
        F.col("p_event_id").alias("event_id"),
        "user_id",
        ts_str("ts").alias("purchase_ts"),
        F.col("asof_event_id").cast("long").alias("prev_view_id"),
    )


@query(
    "join_range_interval",
    oracle="""
SELECT e.event_id AS error_id,
       p.event_id AS purchase_id,
       epoch_us(p.ts) - epoch_us(e.ts) AS gap_us
FROM events e JOIN events p
  ON p.event_type = 'purchase'
 AND e.event_type = 'error'
 AND p.ts >= e.ts
 AND p.ts < e.ts + INTERVAL 10 MINUTE
""",
)
def join_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All (error, purchase) pairs — any user — where the purchase lands
    within 10 minutes after the error (pure interval join, no equi key).

    Written as the plain join; the compiled band rule (ops.sqlband)
    quantizes both sides into 10-minute buckets and equi-joins on the
    bucket id (left exploded to ≤2 buckets) with the exact range
    predicate as a residual — a hash join, not the BroadcastNestedLoop
    the naive range predicate would otherwise plan.
    """
    install_sql_band_extension(spark)
    ev = table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("ts").alias("e_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    pairs = errors.join(
        purchases,
        (F.col("p_ts") >= F.col("e_ts"))
        & (F.col("p_ts") < F.col("e_ts") + F.expr("INTERVAL 10 MINUTE")),
    )
    return pairs.select(
        "error_id",
        "purchase_id",
        (F.unix_micros(F.col("p_ts").cast("timestamp"))
         - F.unix_micros(F.col("e_ts").cast("timestamp"))).alias("gap_us"),
    )


@query(
    "join_asof_forward",
    oracle="""
SELECT v.event_id,
       v.user_id,
       strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
       (SELECT p.event_id FROM events p
        WHERE p.user_id = v.user_id AND p.event_type = 'purchase'
          AND p.ts >= v.ts
        ORDER BY p.ts ASC, p.event_id ASC LIMIT 1) AS next_purchase_id
FROM events v
WHERE v.event_type = 'view'
""",
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every view, the user's NEXT purchase at-or-after it (forward
    as-of — the time-to-conversion attribution shape; NULL when the
    user never converts). Same union-tag + one keyed window machinery
    as the backward key, scanned in descending time order
    (ops/asof.py direction='forward'); the oracle is the equivalent
    correlated ORDER BY ts ASC LIMIT 1 subquery."""
    ev = table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join_backward(
        views.withColumnRenamed("event_id", "v_event_id"),
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        payload_cols=["event_id"],
        right_order="event_id",
        direction="forward",
    )
    return out.select(
        F.col("v_event_id").alias("event_id"),
        "user_id",
        ts_str("ts").alias("view_ts"),
        F.col("asof_event_id").cast("long").alias("next_purchase_id"),
    )


@query(
    "join_asof_nearest",
    oracle="""
WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS pus
           FROM events WHERE event_type = 'purchase'),
v AS (SELECT user_id, epoch_us(ts) AS vus
      FROM events WHERE event_type = 'view'),
g AS (
  SELECT p.event_id, p.user_id, p.pus,
         (SELECT max(vus) FROM v WHERE v.user_id = p.user_id AND vus <= p.pus) AS bus,
         (SELECT min(vus) FROM v WHERE v.user_id = p.user_id AND vus >= p.pus) AS fus
  FROM p
)
SELECT event_id, user_id,
       CAST(CASE WHEN bus IS NULL AND fus IS NULL THEN NULL
                 WHEN fus IS NULL THEN pus - bus
                 WHEN bus IS NULL THEN fus - pus
                 ELSE least(pus - bus, fus - pus) END AS BIGINT) AS nearest_gap_us,
       CASE WHEN bus IS NULL AND fus IS NULL THEN 'none'
            WHEN fus IS NULL OR (bus IS NOT NULL AND pus - bus <= fus - pus)
              THEN 'backward'
            ELSE 'forward' END AS side
FROM g ORDER BY event_id
""",
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor as-of join, completing the backward/forward
    family: each purchase pairs with its temporally CLOSEST view in
    either direction (ties to backward — the at-or-before event). Built
    from the two directional as-of passes of ops/asof.py (one keyed
    shuffle+sort each); the gap comparison is integer microseconds, so
    the side choice has no float boundary. Returning the GAP rather
    than an event id keeps same-timestamp collisions out of the
    contract entirely."""
    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"),
        "user_id",
        "ts",
        F.unix_micros("ts").alias("pus"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", F.unix_micros("ts").alias("vus")
    )
    b = asof_join_backward(
        purchases,
        views.select("user_id", "ts", "vus", "event_id"),
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        payload_cols=["vus"],
        right_order="event_id",
    ).select(
        F.col("p_event_id"), F.col("asof_vus").cast("long").alias("bus")
    )
    f = asof_join_backward(
        purchases,
        views.select("user_id", "ts", "vus", "event_id"),
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        payload_cols=["vus"],
        right_order="event_id",
        direction="forward",
    ).select(
        F.col("p_event_id").alias("f_event_id"),
        F.col("asof_vus").cast("long").alias("fus"),
    )
    g = (
        purchases.select("p_event_id", "user_id", "pus")
        .join(b, "p_event_id")
        .join(f, purchases.p_event_id == f.f_event_id)
    )
    bgap = F.col("pus") - F.col("bus")
    fgap = F.col("fus") - F.col("pus")
    both_null = F.col("bus").isNull() & F.col("fus").isNull()
    gap = (
        F.when(both_null, F.lit(None).cast("long"))
        .when(F.col("fus").isNull(), bgap)
        .when(F.col("bus").isNull(), fgap)
        .otherwise(F.least(bgap, fgap))
    )
    side = (
        F.when(both_null, "none")
        .when(
            F.col("fus").isNull()
            | (F.col("bus").isNotNull() & (bgap <= fgap)),
            "backward",
        )
        .otherwise("forward")
    )
    return g.select(
        F.col("p_event_id").alias("event_id"),
        "user_id",
        gap.cast("long").alias("nearest_gap_us"),
        side.alias("side"),
    ).orderBy("event_id")


@query(
    "join_auto_band",
    oracle="""
SELECT p.event_id AS p_id, v.event_id AS v_id, p.user_id,
       epoch_us(p.ts) - epoch_us(v.ts) AS lead_us
FROM events p JOIN events v
  ON p.event_type = 'purchase' AND v.event_type = 'view'
 AND p.user_id = v.user_id
 AND v.ts >= p.ts - INTERVAL 1 HOUR
 AND v.ts <= p.ts
""",
)
def join_auto_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The plain purchase⋈view band predicate — equi user key plus two
    timestamp inequalities with an INTERVAL offset — written exactly as
    against any SQL engine. The ``user_id`` equi key makes it a hash
    join with the band as residual, so no band rewrite is needed (adding
    a bucket key measured slower: 0.33 vs 0.24 s at sf0.1). Same code
    and rows as stream_join_purchase_view (shared oracle); plan-asserted
    nested-loop-free in tests/test_plans.py."""
    ev = table(spark, sf_dir, "events")
    return mounts.purchase_view_join(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "view"),
    )


@query(
    "join_pit_feature_store",
    oracle="""
WITH pur AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
fa AS (
  SELECT user_id, CAST(CAST(ts AS DATE) AS TIMESTAMP) + INTERVAL 1 DAY AS fts,
         CAST(COUNT(*) AS BIGINT) AS a_cnt,
         CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS a_spend_centi
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
),
fb AS (
  SELECT user_id, CAST(CAST(ts AS DATE) AS TIMESTAMP) + INTERVAL 1 DAY AS fts,
         CAST(COUNT(*) AS BIGINT) AS b_events
  FROM events GROUP BY 1, 2
)
SELECT p.event_id, a.a_cnt, a.a_spend_centi, b.b_events
FROM pur p
ASOF LEFT JOIN fa a ON p.user_id = a.user_id AND p.ts >= a.fts
ASOF LEFT JOIN fb b ON p.user_id = b.user_id AND p.ts >= b.fts
""",
)
def join_pit_feature_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) feature-store join — the training-data shape
    feature platforms serve: every label event (purchase) is enriched
    with the LATEST snapshot at-or-before its timestamp from TWO feature
    tables, each snapshotted at the NEXT day's midnight so a feature can
    never leak same-day future information into the label.

    Spark shape: two composed backward as-of joins (ops/asof.py
    union-tag + keyed window — one shuffle+sort per feature table, both
    keyed on user_id, never a per-row subquery). The oracle is DuckDB's
    native ASOF LEFT JOIN over identical snapshots, so the key also pins
    our as-of composition against an independent native implementation.
    Feature snapshots are one-per-(user, day) by construction, so the
    tie-break order column is structurally moot here."""
    ev = table(spark, sf_dir, "events")
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    day = F.to_date("ts").alias("day")
    mk_fts = F.col("day").cast("timestamp") + F.expr("INTERVAL 1 DAY")
    dord = F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
    fa = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", day)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("a_cnt"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
            .cast("bigint")
            .alias("a_spend_centi"),
        )
        .select("user_id", mk_fts.alias("fts"), "a_cnt", "a_spend_centi",
                dord.alias("dord"))
    )
    fb = (
        ev.groupBy("user_id", day)
        .agg(F.count(F.lit(1)).cast("bigint").alias("b_events"))
        .select("user_id", mk_fts.alias("fts"), "b_events", dord.alias("dord"))
    )
    s1 = asof_join_backward(
        pur,
        fa,
        key="user_id",
        left_ts="ts",
        right_ts="fts",
        payload_cols=["a_cnt", "a_spend_centi"],
        right_order="dord",
    )
    s2 = asof_join_backward(
        s1,
        fb,
        key="user_id",
        left_ts="ts",
        right_ts="fts",
        payload_cols=["b_events"],
        right_order="dord",
    )
    return s2.select(
        "event_id",
        F.col("asof_a_cnt").cast("long").alias("a_cnt"),
        F.col("asof_a_spend_centi").cast("long").alias("a_spend_centi"),
        F.col("asof_b_events").cast("long").alias("b_events"),
    )
