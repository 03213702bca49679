"""Structured Streaming ⇄ batch parity (SURVEY.md §5.3.3).

Replays the events fixture through a file source (availableNow) and
asserts the streaming output equals the batch formulation of the same
operator — the correctness check DuckDB can't provide for micro-batched
execution. Also exercises multi-batch state (maxFilesPerTrigger=1) and
watermark late-data drops with a crafted two-batch replay.
"""

from __future__ import annotations

import shutil
import sys
import types

import pytest
from pyspark.sql import functions as F

from sim_spark.io import table
from sim_spark.streaming import mounts
from sim_spark.testing import canonicalize

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def replay(spark):
    d = mounts.events_replay_dir(spark, SF, n_files=3)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _assert_same(batch_df, stream_df, label):
    b = canonicalize(batch_df.toPandas())
    s = canonicalize(stream_df.toPandas())
    assert b[0] == s[0], f"{label}: column mismatch {b[0]} vs {s[0]}"
    assert b[1] == s[1], f"{label}: row values differ (batch={len(b[1])}, stream={len(s[1])})"


@pytest.mark.parametrize(
    "xform",
    [mounts.tumbling_1h, mounts.sliding_1h_15m, mounts.session_30m, mounts.ohlc_1h],
    ids=["tumbling", "sliding", "session", "ohlc"],
)
def test_windowed_aggs_stream_equals_batch(spark, replay, xform):
    batch = xform(table(spark, SF, "events"))
    stream = mounts.run_streaming_to_memory(
        xform(mounts.stream_events(spark, replay)), "complete"
    )
    _assert_same(batch, stream, xform.__name__)


def test_enrich_static_stream_equals_batch(spark, replay):
    """Stream-static join: the static nation dim is re-read per
    micro-batch; the windowed rollup after the join must still equal the
    batch formulation."""
    nation = table(spark, SF, "nation")
    batch = mounts.enrich_static_nation(table(spark, SF, "events"), nation)
    stream = mounts.run_streaming_to_memory(
        mounts.enrich_static_nation(mounts.stream_events(spark, replay), nation),
        "complete",
    )
    _assert_same(batch, stream, "enrich_static_nation")


def test_dedup_stream_drops_duplicates(spark, replay, tmp_path):
    # Duplicate the whole replay into a second set of files → every event
    # id arrives twice; streaming dropDuplicates must emit each id once.
    dup_dir = str(tmp_path / "dup_replay")
    ev = table(spark, SF, "events")
    ev.unionAll(ev).repartition(4).write.mode("overwrite").parquet(dup_dir)
    out = mounts.run_streaming_to_memory(
        mounts.dedup_ids_stream(mounts.stream_events(spark, dup_dir)), "append"
    )
    n_ids = ev.select("event_id").distinct().count()
    got = out.select("event_id").toPandas()["event_id"]
    assert len(got) == n_ids, f"expected {n_ids} unique ids, got {len(got)}"
    assert got.is_unique


def test_stateful_counter_multibatch_equals_batch_windows(spark, replay):
    """State must persist across micro-batches: run with one file per
    trigger (3 batches) and compare final per-user state to the batch
    window-function formulation."""
    from pyspark.sql import Window as W

    stream = mounts.stream_events(spark, replay, max_files_per_trigger=1)
    sink = mounts.run_streaming_to_memory(mounts.stateful_counter(stream), "update")
    got = (
        sink.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("max_gap_us").alias("max_gap_us"))
    )

    ev = table(spark, SF, "events").withColumn("us", F.unix_micros("ts"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    want = (
        ev.withColumn("gap", F.col("us") - F.lag("us").over(w))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.coalesce(F.max("gap"), F.lit(0)).alias("max_gap_us"),
        )
    )
    _assert_same(want, got, "stateful_counter")


def test_stream_stream_join_equals_batch(spark, replay):
    """Watermarked stream-stream join over the replay equals the batch
    formulation of the same event-time-bounded join."""
    ev = table(spark, SF, "events")
    batch = mounts.purchase_view_join(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "view"),
    )
    s = mounts.stream_events(spark, replay)
    stream = mounts.purchase_view_join(
        s.filter(F.col("event_type") == "purchase"),
        s.filter(F.col("event_type") == "view"),
    )
    out = mounts.run_streaming_to_memory(stream, "append")
    _assert_same(batch, out, "purchase_view_join")


def test_checkpoint_resume_exactly_once(spark, tmp_path):
    """Kill-and-resume semantics: run a counting query over file 1 with a
    checkpoint, stop it, add file 2, restart with the SAME checkpoint —
    the resumed query must process ONLY file 2 (no re-count of file 1's
    rows) and the final totals must equal the batch count over both."""
    import time

    from pyspark.sql import functions as F2

    ev = table(spark, SF, "events")
    half1 = ev.filter(F2.col("event_id") % 2 == 0)
    half2 = ev.filter(F2.col("event_id") % 2 == 1)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    half1.coalesce(1).write.parquet(src)

    # foreachBatch sink: the production pattern for aggregations (the
    # parquet file sink is append-only and can't take an updating agg);
    # committed batch ids are not re-executed after a restart.
    seen_batches = []

    def sink(batch_df, batch_id):
        seen_batches.append((batch_id, batch_df.agg(F2.sum("n")).collect()[0][0]))

    def start():
        return (
            mounts.stream_events(spark, src)
            .groupBy("event_type")
            .agg(F2.count(F2.lit(1)).alias("n"))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    q.awaitTermination(300)
    n_after_first = sum(n for _, n in seen_batches if n)
    assert n_after_first == half1.count()

    time.sleep(1.05)
    half2.coalesce(1).write.mode("append").parquet(src)
    q2 = start()
    q2.awaitTermination(300)

    batch_ids = [b for b, _ in seen_batches]
    assert len(batch_ids) == len(set(batch_ids)), f"re-executed batches: {batch_ids}"
    # update-mode agg emits cumulative per-key counts; the last batch's
    # total must equal the full dataset (state restored from checkpoint,
    # file 1 NOT re-read as input).
    assert seen_batches[-1][1] == ev.count(), seen_batches


def test_watermark_drops_late_batch(spark, tmp_path):
    """Three-file replay, one file per trigger:

      batch 0 — the real events (advances the committed watermark);
      batch 1 — a single spacer event at max ts (Spark's late-record
                filter uses the watermark from ONE TRIGGER BEHIND the
                displayed one — verified empirically on 4.1: batch N
                filters with batch N-1's displayed watermark — so the
                spacer batch is what arms the filter for batch 2);
      batch 2 — every event shifted 2 days early: all behind the armed
                watermark → dropped before reaching state.

    Append-mode output must therefore equal the batch windows over only
    the on-time events, restricted to watermark-closed windows; none of
    the shifted copies may surface anywhere."""
    import time

    ev = table(spark, SF, "events")
    max_ts_us = ev.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    spacer = ev.orderBy(F.desc("ts")).limit(1).withColumn(
        "event_id", F.col("event_id") + 500_000
    )
    late = (
        ev.withColumn("ts", F.col("ts") - F.expr("INTERVAL 2 DAYS"))
        .withColumn("event_id", F.col("event_id") + 1_000_000)
    )
    d = str(tmp_path / "late_replay")
    for chunk in (ev, spacer, late):
        chunk.coalesce(1).write.mode("append").parquet(d)
        time.sleep(1.05)  # distinct mtimes → deterministic batch order

    out = mounts.run_streaming_to_memory(
        mounts.tumbling_with_watermark(
            mounts.stream_events(spark, d, max_files_per_trigger=1)
        ),
        "append",
    )

    wm_us = max_ts_us - 600_000_000
    expected = (
        ev.unionAll(spacer)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .filter(F.unix_micros(F.col("w.end").cast("timestamp")) <= F.lit(wm_us))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
        )
    )
    _assert_same(expected, out, "watermark_late")


def test_idempotent_sink_skips_retried_batch(spark, tmp_path):
    """foreachBatch is at-least-once: the SAME batch_id re-executes after
    a crash-before-checkpoint. The idempotent wrapper must make the
    second delivery a no-op, and a retry of an UNcommitted batch must
    overwrite (not duplicate) the partial attempt."""
    from sim_spark.streaming.sinks import (
        batch_scoped_parquet_writer,
        idempotent_foreach_batch,
    )

    out = str(tmp_path / "out")
    commits = str(tmp_path / "commits")
    sink = idempotent_foreach_batch(batch_scoped_parquet_writer(out), commits)

    df = spark.range(100).withColumnRenamed("id", "v")
    sink(df, 0)
    assert spark.read.parquet(out).count() == 100
    # retry of a COMMITTED batch: no effect (marker short-circuits)
    sink(df.union(df), 0)
    assert spark.read.parquet(out).count() == 100
    # uncommitted batch that half-wrote then failed before the marker:
    # simulate by writing data without a marker, then retry normally
    batch_scoped_parquet_writer(out)(df.limit(7), 1)
    sink(df, 1)  # retry overwrites the 7-row partial attempt
    got = spark.read.parquet(out)
    assert got.filter(F.col("batch") == 1).count() == 100
    assert got.count() == 200


def test_idempotent_sink_stream_restart_no_duplicates(spark, tmp_path):
    """End-to-end: dedup stream → idempotent foreachBatch parquet sink,
    stop, append a second source file (with replayed duplicates),
    restart from the same checkpoint. The sink directory must hold each
    event exactly once — across micro-batches, restarts, and the
    source-level duplicates."""
    import time

    ev = table(spark, SF, "events").limit(500)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    commits = str(tmp_path / "commits")
    ev.coalesce(1).write.parquet(src)

    from sim_spark.streaming.sinks import (
        batch_scoped_parquet_writer,
        idempotent_foreach_batch,
    )

    sink = idempotent_foreach_batch(batch_scoped_parquet_writer(out), commits)

    def start():
        return (
            mounts.dedup_ids_stream(mounts.stream_events(spark, src))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    assert q.awaitTermination(300)
    assert spark.read.parquet(out).count() == 500

    # second file: 250 NEW events + 100 replayed duplicates of file 1
    time.sleep(1.05)
    ev2 = table(spark, SF, "events").filter(
        (F.col("event_id") >= 500) & (F.col("event_id") < 750)
    )
    dup = table(spark, SF, "events").limit(100)
    ev2.union(dup).coalesce(1).write.mode("append").parquet(src)
    q2 = start()
    assert q2.awaitTermination(300)

    got = spark.read.parquet(out).drop("batch")
    assert got.count() == 750, "duplicates leaked through restart"
    assert got.select("event_id").distinct().count() == 750


def test_file_sink_exactly_once_after_restart(spark, tmp_path):
    """The parquet FILE sink's _spark_metadata manifest is the
    exactly-once contract for downstream readers: stop a windowed-agg
    append stream, add late-arriving input, resume from the same
    checkpoint into the same sink dir — reading the sink back must equal
    the batch twin over ALL input restricted to watermark-closed windows,
    with no window emitted twice."""
    import time

    ev = table(spark, SF, "events")
    first = ev.filter(F.col("event_id") < 400)
    rest = ev.filter(F.col("event_id") >= 400)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    first.coalesce(1).write.parquet(src)

    def start():
        return (
            mounts.tumbling_with_watermark(mounts.stream_events(spark, src))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    assert q.awaitTermination(300)
    time.sleep(1.05)
    rest.coalesce(1).write.mode("append").parquet(src)
    q2 = start()
    assert q2.awaitTermination(300)

    got = spark.read.parquet(out)
    # every emitted window appears exactly once (append-mode windows are
    # final at emission; a re-executed batch would duplicate them)
    n_windows = got.count()
    assert got.select("window_start").distinct().count() == n_windows
    # emitted (closed) windows carry the full count from BOTH files —
    # batch twin is the SAME transformation (watermark is a no-op in batch)
    batch = mounts.tumbling_with_watermark(ev).select(
        "window_start", F.col("n_events").alias("expect")
    )
    merged = got.join(batch, "window_start")
    assert merged.count() == n_windows
    assert merged.filter(F.col("n_events") != F.col("expect")).count() == 0


def test_stateful_sum_state_restored_after_restart(spark, tmp_path):
    """Kill-and-restart matrix for the per-user running-totals stream
    (mounts.stateful_sum; mirrors the r6 foreachBatch-sink restart test):
    run it over file 1 with a checkpoint, stop, append file 2, restart
    with the SAME checkpoint. The restarted query must
    (a) process only file 2 (its emitted keys = file 2's users — no
    re-read of file 1), and (b) resume from RESTORED group state: every
    user's final (n_events, total_value) equals the two-stage
    replay-exact expectation over both halves."""
    import time

    ev = table(spark, SF, "events")
    half1 = ev.filter(F.col("event_id") % 2 == 0)
    half2 = ev.filter(F.col("event_id") % 2 == 1)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    half1.coalesce(1).write.parquet(src)

    final = {}
    current_run = []

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            final[r["user_id"]] = (r["n_events"], r["total_value"])
            current_run.append(r["user_id"])

    def start():
        stream = mounts.stream_events(spark, src)
        return (
            mounts.stateful_sum(stream)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    q.awaitTermination(300)
    users_run1 = set(current_run)
    assert users_run1 == {r[0] for r in half1.select("user_id").distinct().collect()}

    current_run.clear()
    time.sleep(1.05)
    half2.coalesce(1).write.mode("append").parquet(src)
    q2 = start()
    q2.awaitTermination(300)
    users_run2 = set(current_run)
    # (a) restart processed ONLY the new file: emitted keys = file2 users
    assert users_run2 == {r[0] for r in half2.select("user_id").distinct().collect()}

    # (b) restored state: replicate the state function's per-run rounding
    # exactly (one call per user per run — availableNow
    # over one new file is a single batch)
    h1 = {
        r["user_id"]: (r["n"], float(r["t"]))
        for r in half1.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    h2 = {
        r["user_id"]: (r["n"], float(r["t"]))
        for r in half2.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    want = {}
    for u in set(h1) | set(h2):
        n1, t1 = h1.get(u, (0, 0.0))
        n2, t2 = h2.get(u, (0, 0.0))
        if u in h1 and u in h2:
            want[u] = (n1 + n2, round(round(t1, 6) + t2, 6))
        elif u in h1:
            want[u] = (n1, round(t1, 6))
        else:
            want[u] = (n2, round(t2, 6))
    assert set(final) == set(want)
    for u, (n, t) in want.items():
        fn, ft = final[u]
        assert fn == n, f"user {u}: n_events {fn} != {n}"
        assert abs(ft - t) < 1e-9, f"user {u}: total {ft} != {t}"


def test_band_owner_stream_equals_batch(spark):
    """Streaming near-dup ingest gate: minhash banding as a stateless
    narrow map + per-band first-owner group state, replayed over 3
    doc-id-ordered micro-batches (maxFilesPerTrigger=1 → cross-batch
    state), must yield exactly the batch stream_dedup_near verdicts."""
    from sim_spark.ops.minhash import minhash_bands_narrow
    from sim_spark.queries.streaming_batch import stream_dedup_near

    replay = mounts.documents_replay_dir(spark, SF, n_files=3)
    try:
        out = mounts.band_first_owner_stream(
            minhash_bands_narrow(
                mounts.stream_events(
                    spark,
                    replay,
                    max_files_per_trigger=1,
                    schema=mounts.DOCS_STREAM_SCHEMA,
                )
            )
        )
        sink = mounts.run_streaming_to_memory(out, "append")
        # Per-doc verdict: stateless rollup of the band-owner rows.
        per_doc = (
            sink.groupBy("doc_id")
            .agg(F.min("owner").cast("bigint").alias("owner"))
            .select(
                F.col("doc_id").cast("bigint").alias("doc_id"),
                "owner",
                (F.col("owner") < F.col("doc_id")).alias("is_dup"),
            )
        )
        batch = stream_dedup_near(spark, SF)
        _assert_same(batch, per_doc, "band_first_owner")
        # The stream emits each band row exactly once (append semantics).
        n_bands = minhash_bands_narrow(table(spark, SF, "documents")).count()
        assert sink.count() == n_bands
    finally:
        shutil.rmtree(replay, ignore_errors=True)


def test_session_timer_state_and_timers_survive_restart(spark, tmp_path):
    """Kill-and-restart for the EVENT-TIME TIMEOUT sessionizer
    (applyInPandasWithState with EventTimeTimeout): run the
    session-timer stream over the first (time-ordered) half of events
    with a checkpoint, stop, append the second half, restart from the
    SAME checkpoint. The union of both runs' emissions must equal the
    batch emission rule over the full fixture — which requires (a) open
    sessions restored from group state and correctly EXTENDED or broken
    by run-2 events, and (b) TIMEOUTS restored: idle users with
    no run-2 events at all must still have their tail session fired by
    run-2's higher watermark."""
    import time

    from sim_spark.queries.streaming_batch import sessions_closed_from

    ev = table(spark, SF, "events")
    mid = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    half1 = ev.filter(F.col("event_id") <= mid)
    half2 = ev.filter(F.col("event_id") > mid)
    # A synthetic user whose ONLY event lands 5 min before half 1's max
    # timestamp: its session expiry (end + 30 min) is ABOVE run 1's final
    # watermark (max1 − 10 min), so nothing can emit it in run 1 — in
    # run 2 it has no events, so its emission proves the restart restored
    # the event-time timeout, not just the value state.
    idle_user = 99_999
    max1 = half1.agg(F.max("ts")).collect()[0][0]
    import datetime as _dt

    synth = spark.createDataFrame(
        [
            (
                10_000_000,
                max1 - _dt.timedelta(minutes=5),
                idle_user,
                "view",
                0.0,
                "{}",
            )
        ],
        mounts.EVENTS_STREAM_SCHEMA,
    )
    half1 = half1.unionByName(synth)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    half1.coalesce(1).write.parquet(src)

    rows: list = []
    run_marker: list = []

    def sink(batch_df, batch_id):
        got = batch_df.collect()
        rows.extend(got)
        run_marker.extend(got)

    def run():
        stream = mounts.stream_events(spark, src).withWatermark("ts", "10 minutes")
        q = (
            mounts.session_timer_stream(stream)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)

    run()
    run_marker.clear()
    time.sleep(1.05)
    half2.coalesce(1).write.mode("append").parquet(src)
    run()

    # (b) restored timers: at least one user emitted in run 2 without a
    # single run-2 event — only a checkpoint-restored timeout can do that.
    h2_users = {r[0] for r in half2.select("user_id").distinct().collect()}
    timer_only = {r["user_id"] for r in run_marker} - h2_users
    assert idle_user in timer_only, (
        "no timer-restored emission for the idled user — restart lost the timers"
    )

    got = sorted((r["user_id"], r["start_us"], r["end_us"], r["n_events"]) for r in rows)
    want = sorted(
        tuple(r)
        for r in sessions_closed_from(half1.unionByName(half2))
        .select("user_id", "start_us", "end_us", "n_events")
        .collect()
    )
    assert got == want, f"{len(got)} emitted vs {len(want)} expected"


@pytest.mark.parametrize(
    "build",
    [
        mounts.stateful_sum,
        lambda ev: mounts.band_first_owner_stream(
            ev.select(
                F.col("event_id").alias("doc_id"),
                F.lit(0).alias("band_no"),
                F.col("event_type").alias("val"),
            )
        ),
        lambda ev: mounts.session_timer_stream(ev.withWatermark("ts", "10 minutes")),
    ],
    ids=["stateful_sum", "band_first_owner", "session_timer"],
)
def test_stateful_ops_have_one_plan_whatever_is_installed(
    spark, replay, monkeypatch, build
):
    """Each stateful operator analyzes to one applyInPandasWithState node
    (FlatMapGroupsInPandasWithState) even when google.protobuf is
    importable: no installed package may switch a stateful key onto
    another state API."""
    google, pb, desc = (
        types.ModuleType(n)
        for n in ("google", "google.protobuf", "google.protobuf.descriptor")
    )
    google.protobuf, pb.descriptor = pb, desc
    for m in (google, pb, desc):
        monkeypatch.setitem(sys.modules, m.__name__, m)
    from google.protobuf import descriptor  # noqa: F401

    plan = build(mounts.stream_events(spark, replay))._jdf.queryExecution().analyzed()
    text = plan.toString()
    assert text.count("FlatMapGroupsInPandasWithState") == 1, text
    # Spark 4.1 prints the TWS node as TransformWithStateInPySpark.
    assert "TransformWithState" not in text, text
