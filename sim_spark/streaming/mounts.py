"""File-source replay machinery + streaming transformations.

Every §2.9 operator has a *batch* formulation (the oracle-checked contract)
and an identical *streaming* formulation mounted here on
``spark.readStream`` over a parquet replay directory. The parity tests
(tests/test_stream_parity.py) replay the same events through both and
assert equality — that is the streaming correctness story DuckDB can't
check directly.

Every stateful operator runs on one API, ``applyInPandasWithState``:
group state per key, plus an event-time timeout where a session must
close on the watermark rather than on another event.

At production scale the replay dir is a Kafka topic / object-store prefix;
nothing below depends on single-machine layout: state is keyed by
user_id / window, so the state store shards with the shuffle.
"""

from __future__ import annotations

import os
import uuid


def _default_await() -> int:
    """Completion guard for availableNow/idle streams. 300 s fits every
    fixture up to sf1 on an idle machine; big-fixture sweeps (sf10) on a
    contended box override via SIM_SPARK_STREAM_AWAIT — the guard's job
    is catching HUNG queries, not capping honest throughput."""
    return int(os.environ.get("SIM_SPARK_STREAM_AWAIT", "300"))


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sim_spark.io import table

_REPLAY_SEQ = 0  # per-call suffix: concurrent replays never share a dir
# Per (fixture, layout) history of minted replay dirs. Each call writes a
# fresh dir (a shared one could be rmtree'd mid-read by an overlapping
# stream); to keep a long-lived session from accumulating one full events
# copy per call, the oldest dirs are reclaimed once more than
# _REPLAY_KEEP exist for a key. CONSTRAINT: at most _REPLAY_KEEP replay
# streams per (fixture, layout) may be open concurrently — the
# (keep+1)-th call deletes the oldest dir, which an unfinished stream
# could still be reading. Current callers open at most two.
_REPLAY_KEEP = 4
_REPLAY_DIRS: dict[tuple[str, int], list[str]] = {}

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

DOCS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def events_replay_dir(spark: SparkSession, sf_dir: str, n_files: int = 1) -> str:
    """Write events (µs timestamps, via io.table's nanos fix) to a fresh
    replay directory as ``n_files`` parquet files — the file-source input.

    For multi-file replays the chunks are written *sequentially* (split on
    event_id, which is time-ordered in the fixtures) with distinct mtimes:
    FileStreamSource orders pending files by modification time, so this
    guarantees micro-batches arrive in event-time order — the premise the
    cross-batch state parity tests rely on.
    """
    return _replay_dir(spark, sf_dir, "events", "event_id", n_files)


def documents_replay_dir(spark: SparkSession, sf_dir: str, n_files: int = 1) -> str:
    """Documents twin of :func:`events_replay_dir` — chunks split on
    doc_id, so micro-batches arrive in doc-id order (the arrival-order
    premise of the streaming ingest-dedup parity tests)."""
    return _replay_dir(spark, sf_dir, "documents", "doc_id", n_files)


def _replay_dir(
    spark: SparkSession, sf_dir: str, tbl: str, id_col: str, n_files: int
) -> str:
    import hashlib
    import time

    from sim_spark.scratch import scratch_dir

    # Managed per-process scratch (atexit-cleaned) instead of a leaked
    # mkdtemp per call; keyed by full sf_dir + table + layout so distinct
    # fixtures never collide, plus a per-call sequence suffix so two
    # overlapping streams on the same fixture in one process each get a
    # private source dir (a shared dir would be rmtree'd mid-read).
    # Older dirs for the same key are reclaimed (see _REPLAY_DIRS).
    import shutil as _shutil

    global _REPLAY_SEQ
    _REPLAY_SEQ += 1
    tag = hashlib.sha1(f"{sf_dir}|{tbl}".encode()).hexdigest()[:8]
    tmp = scratch_dir(f"replay_{tag}_{n_files}_{_REPLAY_SEQ}")
    hist = _REPLAY_DIRS.setdefault((tag, n_files), [])
    hist.append(tmp)
    while len(hist) > _REPLAY_KEEP:
        # The reclaimed dir is the oldest for this (fixture, layout); if a
        # stream opened >_REPLAY_KEEP calls ago is STILL reading it, the
        # rmtree would yank files mid-read. That constraint was previously
        # only a comment — make the hazard loud at the moment it can bite.
        import warnings

        victim = hist.pop(0)
        warnings.warn(
            f"reclaiming oldest replay dir {victim}: more than "
            f"{_REPLAY_KEEP} overlapping replay streams on the same "
            "(fixture, layout) are unsupported — an unfinished stream "
            "still reading this dir will fail",
            RuntimeWarning,
            stacklevel=2,
        )
        _shutil.rmtree(victim, ignore_errors=True)
    ev = table(spark, sf_dir, tbl)
    if n_files <= 1:
        ev.coalesce(1).write.mode("overwrite").parquet(tmp)
        return tmp
    lo, hi = ev.agg(F.min(id_col), F.max(id_col)).collect()[0]
    chunk = (hi - lo + n_files) // n_files
    for i in range(n_files):
        (
            ev.filter(
                (F.col(id_col) >= lo + i * chunk)
                & (F.col(id_col) < lo + (i + 1) * chunk)
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(tmp)
        )
        if i < n_files - 1:
            time.sleep(1.05)  # distinct whole-second mtimes for FileStreamSource
    return tmp


def stream_events(
    spark: SparkSession,
    replay_dir: str,
    max_files_per_trigger: int | None = None,
    schema: T.StructType = EVENTS_STREAM_SCHEMA,
) -> DataFrame:
    """File-source stream over a replay dir with a pinned schema (events by
    default; DOCS_STREAM_SCHEMA for a documents replay)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(replay_dir)


def run_streaming_to_memory(
    out: DataFrame, output_mode: str, await_seconds: int | None = None
) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) into a memory
    sink; return the sink table as a batch DataFrame."""
    if await_seconds is None:
        await_seconds = _default_await()
    name = "sink_" + uuid.uuid4().hex[:12]
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(await_seconds):
        q.stop()
        raise TimeoutError(
            f"streaming query {name} still running after {await_seconds}s — "
            "refusing to return a partially-filled memory sink"
        )
    spark = out.sparkSession
    return spark.table(name)


def run_streaming_until_idle(
    out: DataFrame, output_mode: str, await_seconds: int | None = None
) -> DataFrame:
    """Run a continuous-trigger stream until the source reports idle
    (two consecutive empty triggers with no data available), then stop
    and return the memory-sink table.

    availableNow snapshots only what the source has ALREADY prefetched —
    for a poll-driven custom reader (sources/pyds.py) that is one
    micro-batch, so draining needs a running trigger plus an idle
    detector, the same loop a test harness uses against any poll-based
    connector."""
    import time

    if await_seconds is None:
        await_seconds = _default_await()
    name = "sink_" + uuid.uuid4().hex[:12]
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + await_seconds
    idle_polls = 0
    seen_any = False
    while time.time() < deadline and idle_polls < 3:
        time.sleep(0.3)
        if q.exception() is not None:
            q.stop()
            raise q.exception()
        p = q.lastProgress
        if p is not None and p["numInputRows"] > 0:
            seen_any = True
        s = q.status
        # An exhausted source stops emitting progress entries entirely —
        # idle must be read from status, and only counts once data has
        # flowed (the prefetch race at start otherwise looks idle).
        if seen_any and not s["isDataAvailable"] and not s["isTriggerActive"]:
            idle_polls += 1
        else:
            idle_polls = 0
    q.stop()
    q.awaitTermination(30)
    spark = out.sparkSession
    return spark.table(name)


# ---------------------------------------------------------------------------
# Shared transformations — each takes an events DataFrame (batch OR stream)
# so the two sides of the parity test run literally the same code.
# ---------------------------------------------------------------------------


def tumbling_1h(ev: DataFrame) -> DataFrame:
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_1h_15m(ev: DataFrame) -> DataFrame:
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
        )
    )


def session_30m(ev: DataFrame) -> DataFrame:
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def enrich_static_nation(ev: DataFrame, nation: DataFrame) -> DataFrame:
    """Stream-static enrichment join + windowed rollup: each event maps to
    a nation dim row (deterministic key: user_id % 25) and aggregates per
    (hour, nation). The static side is broadcast — in a real stream the
    dim is re-read per micro-batch, which is exactly Spark's stream-static
    join semantics; state is only the windowed aggregate, the join itself
    is stateless."""
    dim = F.broadcast(
        nation.select(F.col("n_nationkey").cast("long").alias("nk"), "n_name")
    )
    e = ev.withColumn("nk", (F.col("user_id") % 25).cast("long"))
    return (
        e.join(dim, "nk")
        .groupBy(F.window("ts", "1 hour").alias("w"), "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_name",
            "n_events",
            "sum_value",
        )
    )


def ohlc_1h(ev: DataFrame) -> DataFrame:
    """Hourly OHLC bars per event type — the streaming-downsample shape.
    open/close are min_by/max_by on a sortable (ts, event_id) composite
    string, so the winner is tie-stable across micro-batch boundaries
    (the same contract events_ohlc_bars pins in batch)."""
    ord_key = F.concat(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        F.lit("|"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.min_by("value", ord_key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ord_key).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )


def dedup_ids_stream(ev: DataFrame) -> DataFrame:
    """Streaming exact dedup with BOUNDED state: plain
    dropDuplicates(["event_id"]) ignores the watermark for state
    cleanup when the event-time column is not among the dedup keys —
    the id set would grow forever on a production stream.
    dropDuplicatesWithinWatermark exists precisely for this id-only
    case: ids are held only until the watermark passes their event
    time, so state is bounded by the 10-minute window (duplicates
    farther apart than the watermark are the source's replay contract
    to prevent, e.g. Kafka exactly-once)."""
    return ev.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def tumbling_with_watermark(ev: DataFrame) -> DataFrame:
    """Windowed count under a 10-minute watermark (append mode: only
    watermark-closed windows are emitted; later-than-watermark input is
    dropped).

    Observed 4.1 semantics (pinned by tests/test_stream_parity.py): the
    late-record filter in micro-batch N uses the watermark *displayed for
    batch N-1* (one trigger behind), while window eviction/emission uses
    batch N's; and numRowsDroppedByWatermark counts dropped per-window
    partial-agg rows, not raw input rows.
    """
    return (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
        )
    )


def purchase_view_join(purchases: DataFrame, views: DataFrame) -> DataFrame:
    """Stream-stream (or batch-batch: same code) inner join: for every
    purchase, the same user's views in the hour before it. In streaming
    both sides carry watermarks and the event-time bound lets Spark GC
    join state; in batch it's a plain equi-join + range residual."""
    p = purchases.select(
        F.col("event_id").alias("p_id"), F.col("user_id"), F.col("ts").alias("p_ts")
    )
    v = views.select(
        F.col("event_id").alias("v_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    if purchases.isStreaming:
        p = p.withWatermark("p_ts", "10 minutes")
        v = v.withWatermark("v_ts", "1 hour 10 minutes")
    joined = p.join(
        v,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("v_ts") <= F.col("p_ts")),
    )
    return joined.select(
        "p_id",
        "v_id",
        "user_id",
        (F.unix_micros(F.col("p_ts").cast("timestamp"))
         - F.unix_micros(F.col("v_ts").cast("timestamp"))).alias("lead_us"),
    )


# --- arbitrary stateful processing -----------------------------------------

STATEFUL_OUTPUT_SCHEMA = "user_id bigint, n_events bigint, max_gap_us bigint"
STATEFUL_STATE_SCHEMA = "n bigint, max_gap bigint, last_us bigint"


def _stateful_counter_fn(key, pdf_iter, state):
    """Per-user running event count + max inter-event gap via the state
    store. Works across micro-batches: last_us persists in state."""
    import pandas as pd

    if state.exists:
        n, max_gap, last_us = state.get
    else:
        n, max_gap, last_us = 0, 0, None

    frames = [pdf for pdf in pdf_iter]
    if frames:
        pdf = pd.concat(frames).sort_values(["ts", "event_id"])
        us = (pdf["ts"].astype("int64") // 1000).to_numpy()
        # int64 view of datetime64[ns] is nanoseconds → µs via //1000
        for u in us:
            if last_us is not None:
                gap = int(u) - int(last_us)
                if gap > max_gap:
                    max_gap = gap
            last_us = int(u)
            n += 1
    state.update((n, max_gap, last_us if last_us is not None else 0))
    yield __import__("pandas").DataFrame(
        [[key[0], n, max_gap]], columns=["user_id", "n_events", "max_gap_us"]
    )


def stateful_counter(ev: DataFrame) -> DataFrame:
    """applyInPandasWithState mount: emits the running (count, max gap)
    per user every micro-batch; the final emission per user is the total."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return ev.groupBy("user_id").applyInPandasWithState(
        _stateful_counter_fn,
        outputStructType=STATEFUL_OUTPUT_SCHEMA,
        stateStructType=STATEFUL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _sum_fn(key, pdf_iter, state):
    """Per-user running event count and sum of `value` in group state,
    rounded to 6 dp on every update."""
    import pandas as pd

    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdf_iter:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, round(total, 6)))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 6)]}
    )


def stateful_sum(ev: DataFrame) -> DataFrame:
    """Per-user running totals (n_events, total_value) in group state;
    each micro-batch emits the updated totals of the users it touched."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return ev.groupBy("user_id").applyInPandasWithState(
        _sum_fn,
        outputStructType="user_id bigint, n_events bigint, total_value double",
        stateStructType="n bigint, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming ingest-dedup gate (per-band first owner) ---------------------


def _band_owner_fn(key, pdf_iter, state):
    """Keyed by (band_no, val): group state holds the smallest doc_id ever
    seen for the band; every arriving band row is emitted with the band's
    owner at arrival time.

    Under doc-id-ordered replay (documents_replay_dir) the at-arrival
    owner equals the global MIN(doc_id) of the band, which is exactly the
    batch formulation (stream_dedup_near) — the premise the parity test
    asserts. Within one micro-batch the owner is min(state, batch-min),
    so intra-batch arrival order never matters. At cluster scale the
    state store shards on the band key with the shuffle; state size is
    one long per distinct band — the smallest possible near-dup registry.
    """
    import pandas as pd

    ids: list[int] = []
    for pdf in pdf_iter:
        ids.extend(int(x) for x in pdf["doc_id"])
    prev = state.get[0] if state.exists else None
    owner = min(ids) if prev is None else min(prev, min(ids))
    state.update((owner,))
    yield pd.DataFrame(
        {
            "band_no": [int(key[0])] * len(ids),
            "val": [str(key[1])] * len(ids),
            "doc_id": ids,
            "owner": [owner] * len(ids),
        }
    )


_BAND_OWNER_OUT = "band_no int, val string, doc_id bigint, owner bigint"


def band_first_owner_stream(bands: DataFrame) -> DataFrame:
    """Per-band first-owner registry over a stream of band rows
    (doc_id, band_no, val) — the stateful half of streaming near-dup
    dedup. The signature/banding itself is a stateless narrow map
    (ops.minhash.minhash_bands_narrow), so this single keyed stateful op
    is the only state in the pipeline; the per-doc verdict is a
    stateless rollup of its output (MIN(owner) over the doc's bands)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return bands.groupBy("band_no", "val").applyInPandasWithState(
        _band_owner_fn,
        outputStructType=_BAND_OWNER_OUT,
        stateStructType="owner bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- event-time-timeout sessionization --------------------------------------

_SESS_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap
_SESS_OUT = "user_id bigint, start_us bigint, end_us bigint, n_events bigint"


def _session_timer_fn(key, pdf_iter, state):
    """Keyed by user_id: classic gap sessionization driven by an
    EVENT-TIME TIMEOUT — the one streaming shape neither `session_window`
    nor a plain stateful fold covers, because closing an idle session
    requires the watermark, not another event.

    Two ways a session closes, both emitted exactly once:
    - in-stream: a same-user event beyond the gap arrives → the previous
      session is emitted and the timeout is moved;
    - by timeout: the watermark passes session_end + gap with no further
      events → the timed-out call emits it and removes the state.

    The timeout is set at floor((end+gap)/1ms) + 1 ms — strictly after
    the µs-exact expiry — so a firing timeout IMPLIES the µs condition
    `end + gap <= watermark` that the SQL oracle uses; the two rules can
    only disagree when the final watermark lands inside the same
    millisecond as a session boundary (µs-random fixture timestamps make
    that measure-zero). The timeout timestamp is part of the checkpointed
    group state, so it survives a restart together with the open session.
    State is one 3-tuple per OPEN session — the minimum for gap
    sessionization — sharded on user_id with the shuffle.
    """
    import pandas as pd

    def emit(sessions):
        return pd.DataFrame(
            {
                "user_id": [int(key[0])] * len(sessions),
                "start_us": [s[0] for s in sessions],
                "end_us": [s[1] for s in sessions],
                "n_events": [s[2] for s in sessions],
            }
        )

    if state.hasTimedOut:
        start, end, n = state.get
        state.remove()
        yield emit([(start, end, n)])
        return
    ts_us: list[int] = []
    for pdf in pdf_iter:
        ts_us.extend(int(v) // 1000 for v in pdf["ts"].astype("int64"))
    ts_us.sort()
    start, end, n = state.get if state.exists else (None, None, 0)
    closed: list[tuple[int, int, int]] = []
    for t in ts_us:
        if start is None:
            start, end, n = t, t, 1
        elif t > end + _SESS_GAP_US:
            closed.append((start, end, n))
            start, end, n = t, t, 1
        else:
            end, n = t, n + 1
    state.update((start, end, n))
    state.setTimeoutTimestamp((end + _SESS_GAP_US) // 1000 + 1)
    if closed:
        yield emit(closed)


def session_timer_stream(ev: DataFrame) -> DataFrame:
    """Event-time-timeout sessionization over a watermarked event stream
    (applyInPandasWithState with EventTimeTimeout)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return ev.groupBy("user_id").applyInPandasWithState(
        _session_timer_fn,
        outputStructType=_SESS_OUT,
        stateStructType="start_us bigint, end_us bigint, n bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
