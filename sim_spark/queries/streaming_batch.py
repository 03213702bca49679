"""Streaming-semantics operators in their batch formulation (SURVEY.md §2.9).

The contract (oracle-checked) side of each operator runs as a time-semantic
batch query; the identical logic is mounted on Structured Streaming in
sim_spark/streaming/mounts.py and proven equal in
tests/test_stream_parity.py. ``stream_stateful_counter`` is the one entry
that runs the real streaming machinery in-query (rows-only check).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from sim_spark.exprs import sql_dsum
from sim_spark.io import table
from sim_spark.ops.minhash import bands_cte_sql, minhash_bands_narrow
from sim_spark.registry import query
from sim_spark.streaming import mounts

_FMT = "%Y-%m-%d %H:%M:%S"


@query(
    "stream_tumbling_1h",
    oracle=f"""
SELECT strftime(date_trunc('hour', ts), '{_FMT}') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS sum_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
""",
)
def stream_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows per event_type (epoch-aligned, so the window
    start ≡ date_trunc('hour')). Batch and stream share mounts.tumbling_1h."""
    return mounts.tumbling_1h(table(spark, sf_dir, "events"))


@query(
    "stream_sliding_1h_15m",
    oracle=f"""
SELECT strftime(make_timestamp((epoch_us(ts) // 900000000) * 900000000
                               - k.k * 900000000), '{_FMT}') AS window_start,
       COUNT(*) AS n_events
FROM events CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k
GROUP BY 1
""",
)
def stream_sliding_1h_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 min — every event lands in exactly 4
    windows; the oracle enumerates them by bucket arithmetic."""
    return mounts.sliding_1h_15m(table(spark, sf_dir, "events"))


@query(
    "stream_session_30m",
    oracle=f"""
WITH g AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
), s AS (
  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM g
)
SELECT user_id,
       strftime(MIN(ts), '{_FMT}') AS session_start,
       strftime(MAX(ts) + INTERVAL 30 MINUTE, '{_FMT}') AS session_end,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS sum_value
FROM s GROUP BY user_id, sess_id
""",
)
def stream_session_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute gap, via Spark's native
    session_window; the oracle is the equivalent gaps-and-islands build
    (new session exactly when the gap is STRICTLY > 30 min — an event
    landing exactly at the gap boundary merges, a session_window
    semantic pinned by the hypothesis property test; session end = last
    event + gap)."""
    return mounts.session_30m(table(spark, sf_dir, "events"))


@query(
    "stream_ohlc_1h",
    oracle=f"""
SELECT strftime(date_trunc('hour', ts), '{_FMT}') AS window_start,
       event_type,
       arg_min(value, concat(strftime(ts, '%Y-%m-%d %H:%M:%S.%f'), '|',
                             lpad(CAST(event_id AS VARCHAR), 12, '0'))) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       arg_max(value, concat(strftime(ts, '%Y-%m-%d %H:%M:%S.%f'), '|',
                             lpad(CAST(event_id AS VARCHAR), 12, '0'))) AS close,
       COUNT(*) AS n_events
FROM events
GROUP BY date_trunc('hour', ts), event_type
""",
)
def stream_ohlc_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC downsampling as a streaming operator (epoch-aligned
    tumbling window + tie-stable min_by/max_by open/close). Batch and
    stream share mounts.ohlc_1h; micro-batched equality is pinned in
    tests/test_stream_parity.py — cross-batch stability of the
    first/last picks is exactly what the sortable composite key
    guarantees."""
    return mounts.ohlc_1h(table(spark, sf_dir, "events"))


@query(
    "stream_dedup_ids",
    oracle=f"""
SELECT event_id,
       strftime(MIN(ts), '{_FMT}') AS first_ts,
       MIN(user_id) AS user_id,
       COUNT(*) AS n_copies
FROM (SELECT * FROM events UNION ALL SELECT * FROM events)
GROUP BY event_id
""",
)
def stream_dedup_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup of a duplicated replay (events ∪all events): keep-first
    by (ts, event_id) via row_number, with the duplicate count carried
    along. Streaming twin: dropDuplicates(['event_id']) + watermark
    (mounts.dedup_ids_stream, parity-tested)."""
    ev = table(spark, sf_dir, "events")
    doubled = ev.unionAll(ev)
    w = W.partitionBy("event_id").orderBy("ts", "user_id")
    return (
        doubled.withColumn("rn", F.row_number().over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(W.partitionBy("event_id")))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
            "user_id",
            "n_copies",
        )
    )


@query(
    "stream_watermark_late",
    oracle=f"""
WITH a AS (
  SELECT *, epoch_us(ts) AS us,
         (event_id * 1103515245 + 12345) % 2147483648 AS arr
  FROM events
), b AS (
  SELECT *, MAX(us) OVER (ORDER BY arr ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) - 600000000 AS wm
  FROM a
), kept AS (
  SELECT * FROM b WHERE wm IS NULL OR us >= wm
)
SELECT strftime(make_timestamp((us // 3600000000) * 3600000000), '{_FMT}')
         AS window_start,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS sum_value
FROM kept GROUP BY 1
""",
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic watermark-semantics simulation: events arrive in a
    pseudo-random (hash of event_id) order; the watermark is the running
    max event time minus 10 minutes; events older than the watermark at
    arrival are dropped before the 1-hour window aggregation.

    This makes late-data semantics ORACLE-checkable (a real streaming run
    is trigger-timing dependent). The real watermark lives in
    mounts.tumbling_with_watermark, whose drop behavior is asserted in
    tests/test_stream_parity.py.

    Scale shape (r12): the running max is a prefix aggregation, so it
    decomposes exactly like a prefix sum — ops/distrank.cum_max_below
    buckets the (unique, LCG-hashed) arrival keys, takes per-bucket
    maxes, prefix-maxes the bounded bucket frame, and finishes with
    bucket-PARTITIONED windows; no single-partition pass over the
    event corpus (the r11 formulation's one sequential window)."""
    from sim_spark.ops.distrank import cum_max_below

    ev = (
        table(spark, sf_dir, "events")
        .withColumn("us", F.unix_micros(F.col("ts").cast("timestamp")))
        .withColumn("arr", (F.col("event_id") * 1103515245 + 12345) % 2147483648)
    )
    ev = cum_max_below(ev, "arr", "us", out="__mx").withColumn(
        "wm", F.col("__mx") - 600_000_000
    )
    kept = ev.filter(F.col("wm").isNull() | (F.col("us") >= F.col("wm")))
    return (
        kept.withColumn("win_us", F.expr("(us div 3600000000) * 3600000000"))
        .groupBy("win_us")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format(F.timestamp_micros(F.col("win_us")), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n_events",
            "sum_value",
        )
    )


@query(
    "stream_join_purchase_view",
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
def stream_join_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase ⋈ preceding-hour views per user — the stream-stream join
    shape (event-time-bounded inner join). Batch formulation here (the
    oracle contract); the identical code runs as a watermarked
    stream-stream join in tests/test_stream_parity.py, where the time
    bound is what lets Spark GC the join state."""
    ev = table(spark, sf_dir, "events")
    return mounts.purchase_view_join(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "view"),
    )


@query(
    "stream_stateful_tws",
    oracle=f"""
SELECT user_id, COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS total_value
FROM events GROUP BY user_id
""",
)
def stream_stateful_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user totals in group state (applyInPandasWithState,
    mounts.stateful_sum) over a single-batch replay. With one
    micro-batch the final emission per user IS the per-user total, so
    this streaming run is exactly oracle-checkable against a plain GROUP
    BY. (Python sums per-user values in arrival order within the single
    batch — same left-to-right order DuckDB's single-threaded SUM over
    ~70 rows/user uses; rounded to 6dp.)"""
    replay = mounts.events_replay_dir(spark, sf_dir)
    stream = mounts.stream_events(spark, replay)
    sink = mounts.run_streaming_to_memory(mounts.stateful_sum(stream), "update")
    return sink.select("user_id", "n_events", "total_value")


@query("stream_stateful_counter")  # rows-only: real streaming artifact
def stream_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming: per-user running event count and max
    inter-event gap via applyInPandasWithState over a file-source replay
    (availableNow). The memory sink accumulates one update per user per
    micro-batch; counts grow monotonically, so max() per user is the final
    state. Batch-equivalent parity is asserted in tests."""
    replay = mounts.events_replay_dir(spark, sf_dir)
    stream = mounts.stream_events(spark, replay)
    updates = mounts.stateful_counter(stream)
    sink = mounts.run_streaming_to_memory(updates, "update")
    return sink.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"), F.max("max_gap_us").alias("max_gap_us")
    )


@query(
    "stream_enrich_static",
    oracle=f"""
SELECT strftime(date_trunc('hour', e.ts), '{_FMT}') AS window_start,
       n.n_name,
       COUNT(*) AS n_events,
       {sql_dsum('e.value')} AS sum_value
FROM events e JOIN nation n ON n.n_nationkey = e.user_id % 25
GROUP BY 1, 2
""",
)
def stream_enrich_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: events joined to the broadcast
    nation dim (deterministic key user_id % 25) with an hourly rollup per
    nation — the dimension-enrichment shape every streaming pipeline
    needs. Batch and stream share mounts.enrich_static_nation; the
    streaming side re-reads the static dim each micro-batch (Spark's
    stream-static join semantics) and is proven batch-equal in
    tests/test_stream_parity.py."""
    return mounts.enrich_static_nation(
        table(spark, sf_dir, "events"), table(spark, sf_dir, "nation")
    )


@query(
    "stream_upsert_partitioned",
    oracle=f"""
SELECT event_type, COUNT(*) AS n_events, {sql_dsum('value')} AS sum_value
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def stream_upsert_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming → lake partition upsert, the serving-table maintenance
    pattern at 100 TB: an update-mode streaming aggregation feeds
    ``foreachBatch``, which rewrites ONLY the partitions present in each
    micro-batch (dynamic partition overwrite) — per-partition upsert on
    a plain parquet lake, no table format required. Because update-mode
    state carries cumulative per-key aggregates, the last write into
    each partition holds the full-history value, so the final lake is
    exactly the batch GROUP BY (the oracle). Two replay files → two
    micro-batches → the second genuinely overwrites partitions the
    first wrote. Decimal-summed values keep the totals order-independent
    across micro-batching."""
    import os

    from sim_spark.exprs import dsum
    from sim_spark.scratch import scratch_dir, sf_tag as scratch_sf_tag

    replay = mounts.events_replay_dir(spark, sf_dir, n_files=2)
    stream = mounts.stream_events(spark, replay, max_files_per_trigger=1)
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value")
    )
    sf_tag = scratch_sf_tag(sf_dir)
    lake = scratch_dir(f"stream_upsert_lake_{sf_tag}")

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").partitionBy("event_type").parquet(lake)

    conf_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf_key, "STATIC")
    spark.conf.set(conf_key, "dynamic")
    try:
        q = (
            agg.writeStream.foreachBatch(upsert)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set(conf_key, prev)
    return (
        spark.read.parquet(lake)
        .select("event_type", "n_events", "sum_value")
        .orderBy("event_type")
    )


@query(
    "stream_restart_exactly_once",
    oracle=f"""
SELECT event_type, COUNT(*) AS n_events, {sql_dsum('value')} AS sum_value
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def stream_restart_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint restart + retried-delivery exactly-once, end to end:

    run 1 streams the first half of events through a bounded dedup
    (dropDuplicatesWithinWatermark) into an idempotent foreachBatch
    parquet sink (streaming/sinks.py: batch-scoped overwrite + commit
    marker) with a checkpoint, then STOPS; the second source file —
    the remaining events PLUS a replayed duplicate slice of file 1, the
    at-least-once source contract — lands and run 2 resumes from the
    same checkpoint. The sink must then hold every event exactly once:
    restart recovery (file 1 not re-read: its ids are NOT in run 2's
    dedup state, which was GC'd by the watermark — the idempotent sink
    and source offset log are what protect it), source-duplicate drops,
    and no double-applied micro-batch. The aggregate over the sink is
    SQL-oracled against the raw events table — any leaked duplicate or
    lost batch breaks the hash.

    At 100 TB: the checkpoint + commit-marker dirs are O(batches)
    metadata on durable storage; state is watermark-bounded; the sink
    write is per-batch-partitioned parquet.
    """
    import os
    import time

    from sim_spark.exprs import dsum
    from sim_spark.scratch import scratch_dir, sf_tag as scratch_sf_tag
    from sim_spark.streaming.sinks import (
        batch_scoped_parquet_writer,
        idempotent_foreach_batch,
    )

    global _RESTART_SEQ
    _RESTART_SEQ += 1
    root = scratch_dir(f"restart_eo_{scratch_sf_tag(sf_dir)}_{_RESTART_SEQ}")
    src, ckpt = os.path.join(root, "src"), os.path.join(root, "ckpt")
    out, commits = os.path.join(root, "out"), os.path.join(root, "commits")

    ev = table(spark, sf_dir, "events")
    mid = ev.agg(F.max("event_id")).collect()[0][0] // 2
    first = ev.filter(F.col("event_id") <= mid)
    rest = ev.filter(F.col("event_id") > mid)
    replayed_dupes = first.orderBy(F.desc("event_id")).limit(50)
    first.coalesce(1).write.parquet(src)

    sink = idempotent_foreach_batch(batch_scoped_parquet_writer(out), commits)

    def run():
        q = (
            mounts.dedup_ids_stream(mounts.stream_events(spark, src))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("restart_exactly_once stream did not drain")

    run()  # run 1: first half only
    time.sleep(1.05)  # distinct mtime for the second source file
    rest.unionByName(replayed_dupes).coalesce(1).write.mode("append").parquet(src)
    run()  # run 2: resumes from the same checkpoint

    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        .orderBy("event_type")
    )


_RESTART_SEQ = 0


@query(
    "stream_dedup_near",
    oracle=f"""
WITH {bands_cte_sql()},
owners AS (
  SELECT band_no, val, MIN(doc_id) AS owner
  FROM bands GROUP BY band_no, val
)
SELECT CAST(b.doc_id AS BIGINT) AS doc_id,
       CAST(MIN(o.owner) AS BIGINT) AS owner,
       MIN(o.owner) < b.doc_id AS is_dup
FROM bands b
JOIN owners o ON b.band_no = o.band_no AND b.val = o.val
GROUP BY b.doc_id
""",
)
def stream_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup ingest gate, batch formulation: a document is a
    near-duplicate if ANY of its 4 MinHash LSH bands was already claimed
    by an earlier (smaller doc_id) document; its ``owner`` is the
    smallest doc_id sharing a band.

    The signature/banding is the zero-shuffle narrow map
    (ops.minhash.minhash_bands_narrow — in-row ``transform``+``array_min``
    instead of explode→groupBy), so the whole pipeline shuffles only
    4 short band rows per doc: one keyed MIN for the ownership registry,
    one join back, one per-doc MIN. The streaming formulation keeps the
    ownership registry as per-band group state
    (mounts.band_first_owner_stream); parity is proven in
    tests/test_stream_parity.py under doc-id-ordered multi-batch replay.
    """
    bands = minhash_bands_narrow(table(spark, sf_dir, "documents"))
    owners = bands.groupBy("band_no", "val").agg(F.min("doc_id").alias("owner"))
    return (
        bands.join(owners, ["band_no", "val"])
        .groupBy("doc_id")
        .agg(F.min("owner").cast("bigint").alias("owner"))
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "owner",
            (F.col("owner") < F.col("doc_id")).alias("is_dup"),
        )
    )


@query(
    "stream_session_timer",
    oracle="""
WITH o AS (
  SELECT user_id, epoch_us(ts) AS t,
         LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_t
  FROM events
), g AS (
  SELECT user_id, t,
         SUM(CASE WHEN prev_t IS NULL OR t - prev_t > 1800000000
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY t ROWS UNBOUNDED PRECEDING)
           AS sid
  FROM o
), sess AS (
  SELECT user_id, sid,
         MIN(t) AS start_us, MAX(t) AS end_us,
         COUNT(*) AS n_events,
         MAX(sid) OVER (PARTITION BY user_id) AS last_sid
  FROM g GROUP BY user_id, sid
)
SELECT user_id, start_us, end_us, CAST(n_events AS BIGINT) AS n_events
FROM sess
WHERE sid < last_sid
   OR end_us + 1800000000 <=
      (SELECT MAX(epoch_us(ts)) FROM events) - 600000000
""",
)
def stream_session_timer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization by EVENT-TIME TIMEOUTS, run on the real streaming
    machinery in-query (3-file doc-ordered replay, maxFilesPerTrigger=1,
    10-minute watermark) — and still fully SQL-oracled, because both
    closure paths are deterministic under time-ordered replay: a session
    is emitted iff a later same-user event breaks the gap (every
    non-last session) OR the final watermark (global max ts − 10 min)
    passes its end + gap (idle-tail sessions, fired by the no-data
    batch's timeout sweep). Runs on applyInPandasWithState with
    EventTimeTimeout; see mounts._session_timer_fn for why the
    ms-granular timeout implies the µs-exact oracle rule.
    """
    replay = mounts.events_replay_dir(spark, sf_dir, n_files=3)
    ev = mounts.stream_events(spark, replay, max_files_per_trigger=1).withWatermark(
        "ts", "10 minutes"
    )
    return mounts.run_streaming_to_memory(mounts.session_timer_stream(ev), "append")


def sessions_closed_from(events: DataFrame) -> DataFrame:
    """Batch window formulation of stream_session_timer's emission rule
    over an arbitrary (user_id, event_id, ts) frame — lets tests build
    modified replays (e.g. a user going idle) and still derive the exact
    expected emissions."""
    o = events.select("user_id", "event_id", F.unix_micros("ts").alias("t"))
    w = W.partitionBy("user_id").orderBy("t", "event_id")
    g = o.withColumn(
        "brk",
        F.when(
            F.lag("t").over(w).isNull()
            | (F.col("t") - F.lag("t").over(w) > 1_800_000_000),
            1,
        ).otherwise(0),
    ).withColumn("sid", F.sum("brk").over(w.rowsBetween(W.unboundedPreceding, 0)))
    sess = g.groupBy("user_id", "sid").agg(
        F.min("t").alias("start_us"),
        F.max("t").alias("end_us"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    last = sess.withColumn(
        "last_sid", F.max("sid").over(W.partitionBy("user_id"))
    )
    max_t = events.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    return last.filter(
        (F.col("sid") < F.col("last_sid"))
        | (F.col("end_us") + 1_800_000_000 <= F.lit(max_t) - 600_000_000)
    ).select("user_id", "start_us", "end_us", "n_events")
