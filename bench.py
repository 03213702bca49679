#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].

stdout's FINAL line is a COMPACT JSON summary (≤ ~400 bytes):

  {"metric": ..., "value": <suite sec>, "unit": "sec", "sf": ...,
   "cpus": N, "n_queries": N, "queries": {<5 control keys>: sec},
   "ctrl": {"duck_sec": ..., "spark_sec": ..., "ratio": ...}}

The external driver records only a bounded (~2000-char) tail of stdout;
r11/r12 both landed `parsed: null` because the full per-query map grew
past that window (VERDICT r12 item 1). The FULL record — every
headline query's median, the complete DuckDB sanity column, and (in
the artifact only) each key's raw samples split into build and execute
time — goes to stderr and to the artifact file
$SPARK_GRAFT_BENCH_OUT (default ./BENCH_local_last.json), which each
round is committed as BENCH_r{N}_local.json.

`ctrl` is the same-box DuckDB control (VERDICT r12 item 7; ten keys
since r14 per VERDICT r13 item 8, including one deliberately heavy
iterative key): fixed oracled keys timed in BOTH engines every run, so
any cross-round drift in the box itself is visible inline (a rising
suite value with a flat ratio is environment, not regression).

Rules (BASELINE.md): session startup excluded; per-query value is the
median of 3 runs after one warm-up, tracked caches released after the
warm-up and after every run; results are fully materialized via the
noop sink (no driver collect); DuckDB runs the same oracle SQL as a
sanity column where one exists. :func:`warm_up` and :func:`time_key`
are the one key-timing path: ``tools/measure.py`` times single keys
through them.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "agg_q1_pricing",
    "agg_partial_final",
    "scan_filter_pushdown",
    "join_inner_shuffle",
    "join_multiway_star",
    "join_theta_band",
    "join_asof",
    "join_range_interval",
    "win_running_sum",
    "win_topk_per_group",
    "stream_session_30m",
    "stream_tumbling_1h",
    "dedup_exact_hash",
    "dedup_jaccard_shingles",
    "dedup_simhash",
    "sim_topk_cosine",
    "text_tfidf_manual",
    "text_wordcount",
    "voxel_histogram",
    "ml_kmeans_assign_fixed",
    "tpch_q3_shipping",
    "tpch_q7_volume",
    "subq_lateral_topn",
    "agg_rollup",
    "tpch_q6_forecast",
    "tpch_q18_large_orders",
    "join_bucketed_colocated_write",
    "join_bucketed_colocated_read",
    "dedup_connected_components",
    "multimodal_wav_decode",
    "text_unigram_surprisal",
    "geo_cell_neighbor_join",
    "ts_autocorr",
    "ml_logistic_unrolled",
    "dedup_substring_spans",
    "curate_pipeline_e2e",
    "events_ab_experiment",
    # ANALYZE runs once in the warm-up pass; timed runs measure the
    # CBO-reordered join itself (SURVEY §4.2).
    "join_cbo_reordered_star",
    "text_chunk_sliding",
    "ml_adaboost_stumps",
    "ml_gbt_residual_stumps",
    "graph_betweenness_sampled",
    "dedup_onion_ngram",
    "text_winnowing_fingerprint",
    "stats_bootstrap_ci",
    # r8 additions
    "join_sql_band_ts",
    "dedup_audio_fingerprint",
    # r9 additions
    "join_sql_band_dec",
    "multimodal_png_decode",
    "multimodal_jpeg_decode",
    "multimodal_flac_decode",
    "multimodal_jpeg_color_decode",
    "multimodal_flac_stereo_decode",
    "multimodal_flac_lpc_decode",
    "multimodal_jpeg_progressive_decode",
    "multimodal_flac_wasted_decode",
    "multimodal_png_palette_adam7_decode",
    "multimodal_mp3_header_parse",
    "multimodal_flac_depth_decode",
    "text_bigram_perplexity",
    "dedup_simhash64_tf",
    "curate_bpe_train_iterative",
    "text_fuzzy_levenshtein",
    # r10 additions
    "join_sql_band_ym",
    "dedup_image_dhash_megadup",
    # r11 additions
    "dedup_audio_fingerprint_metricband",
    # r13 additions
    "multimodal_warc_record_parse",
    "multimodal_mp4_box_walk",
    "multimodal_mp3_apic_unsync",
    "multimodal_bz2_multistream_walk",
    # r14 additions
    "multimodal_mediawiki_dump_parse",
    "multimodal_webp_vp8l_decode",
    "multimodal_heif_items_walk",
    "multimodal_jpeg_arith_decode",
    "graph_triangle_doulion",
    "scan_parquet_bloom",
]


def _bucketed_write_leg(spark, sf_dir):
    """Bench-only: the pay-once bucketed-layout write (both sides)."""
    from sim_spark.queries.scale_ops import bucketed_layout

    bucketed_layout(spark, sf_dir)
    return spark.range(1)


def _bucketed_read_leg(spark, sf_dir):
    """Bench-only: the Exchange-free join+agg over the written layout."""
    from sim_spark.queries.scale_ops import bucketed_join_read

    return bucketed_join_read(spark, sf_dir)


# Bench-only split legs (the registry key join_bucketed_colocated runs
# write+read together, which conflated ingest cost with the join read —
# timing them apart is the honest number for each).
SPECIAL = {
    "join_bucketed_colocated_write": _bucketed_write_leg,
    "join_bucketed_colocated_read": _bucketed_read_leg,
}

# Same-box control (VERDICT r12 item 7, widened to ten keys per VERDICT
# r13 item 8): fixed, oracled keys timed in BOTH engines every run, so
# cross-round drift adjudication is self-contained in BENCH_rN.json —
# a rising suite value with a flat ctrl ratio is environment, not
# regression. One key per major plan family: scan, shuffle join, hash
# agg, window, text agg, rollup, theta/band join, codec UDF, banded
# LSH dedup, and ONE deliberately heavy iterative key
# (graph_betweenness_sampled — the suite's most expensive plan) so the
# heavy end of the drift band is measured, not inferred.
CONTROL = [
    "agg_q1_pricing",
    "scan_filter_pushdown",
    "join_inner_shuffle",
    "win_running_sum",
    "text_wordcount",
    "agg_rollup",
    "join_theta_band",
    "multimodal_png_decode",
    "dedup_simhash64_tf",
    "graph_betweenness_sampled",
]


def summary_line(summary: dict) -> str:
    """The compact stdout line, guaranteed parseable and < 1000 chars.

    Never raises after measurements complete (an assert would both
    vanish under ``python -O`` and crash the run it exists to protect
    — ADVICE r13): on overflow it degrades by dropping the inline
    maps, keeping the headline metric the driver greps for."""
    line = json.dumps(summary)
    if len(line) < 1000:
        return line
    slim = {k: v for k, v in summary.items() if k not in ("queries", "ctrl")}
    line = json.dumps(slim)
    if len(line) < 1000:
        return line
    return json.dumps(
        {k: summary[k] for k in ("metric", "value", "unit", "sf")}
    )

# Samples per query (median reported). Overridable for variance studies
# (e.g. SPARK_GRAFT_BENCH_RUNS=5 for the r8 drift adjudication) without
# touching the recorded default protocol.
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))


def open_session(app: str):
    """``(spark, cpus)``: the bench's session on local[$SPARK_GRAFT_CPUS]
    with every registry key loaded.

    Nothing here picks the lineage-cut mode: iterative ops take whatever
    ``ops/materialize.py`` takes for the environment (a local cut unless
    ``SIM_SPARK_CHECKPOINT_DIR`` is set), so the bench times the path
    the driver contract and the oracle drive run."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    from sim_spark.session import get_spark
    import sim_spark.queries  # noqa: F401

    return get_spark(app, cpus=cpus), cpus


def _materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def warm_up(spark, sf_dir: str) -> None:
    """Suite-level JIT warm-up (BASELINE.md already excludes session
    startup): the FIRST query in the loop otherwise pays C2 compilation
    for the shared codegen/shuffle/scan stack. A FIXED warm-up count is
    not enough on a cold process — VARIANCE_r08 item 2 measured the
    flagship ramp 4.09 → 1.17 s over 5 samples, so two untimed runs
    still left the first timed median ~3x its steady floor in driver
    runs. r9: run the flagship plan family until two consecutive
    untimed samples agree within 15% (capped at 8 runs so a genuinely
    noisy box cannot stall the bench); :func:`time_key`'s per-key
    warm-up still covers query-specific code."""
    from sim_spark.registry import QUERIES
    from sim_spark.scratch import release_tracked_caches

    prev = None
    for _ in range(8):
        t0 = time.perf_counter()
        _materialize(QUERIES["agg_q1_pricing"](spark, sf_dir))
        dt = time.perf_counter() - t0
        if prev is not None and max(prev, dt) <= 1.15 * min(prev, dt):
            break
        prev = dt
    release_tracked_caches()


def time_key(spark, key: str, sf_dir: str, runs: int = RUNS) -> list[dict]:
    """One untimed warm-up sample of ``key``, then ``runs`` timed ones,
    each ``{"wall_s", "build_s", "exec_s"}``: ``build_s`` is the query
    function call (including the eager rounds it runs before returning),
    ``exec_s`` the noop write of the frame it returns. Jobs carry the
    job group ``key``.

    Per-RUN release (r15, VERDICT r14 item 1): the old per-QUERY
    release let the untimed warm-up populate every track_cache'd frame
    and the timed runs then read those blocks through the CacheManager —
    cache-heavy keys were timed mostly warm (graph_betweenness_sampled
    measured 6.2 s warm vs 12.5 s cold at the r14 HEAD). Releasing after
    the warm-up AND after every timed run makes each sample a full cold
    computation from the parquet inputs; JIT/code-cache/file-stats
    warm-up is unaffected."""
    from sim_spark.registry import QUERIES
    from sim_spark.scratch import release_tracked_caches

    fn = SPECIAL.get(key) or QUERIES[key]
    sc = spark.sparkContext
    sc.setJobGroup(key, key)
    try:
        _materialize(fn(spark, sf_dir))  # warm-up: JIT, code cache, file stats
        release_tracked_caches()
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            _materialize(df)
            t2 = time.perf_counter()
            release_tracked_caches()
            samples.append({"wall_s": t2 - t0, "build_s": t1 - t0, "exec_s": t2 - t1})
    finally:
        sc._jsc.clearJobGroup()
    return samples


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark, cpus = open_session("sim_spark-bench")
    from sim_spark.registry import ORACLES

    warm_up(spark, sf_dir)
    times: dict[str, float] = {}
    all_samples: dict[str, list[dict]] = {}
    for name in HEADLINE:
        samples = time_key(spark, name, sf_dir)
        all_samples[name] = [
            {k: round(v, 4) for k, v in s.items()} for s in samples
        ]
        times[name] = round(statistics.median(s["wall_s"] for s in samples), 3)

    # DuckDB sanity column (same parquet, oracle SQL) — context, not a
    # gate. SPARK_GRAFT_SKIP_DUCK=1 skips the FULL column (its CC
    # recursive CTE alone runs ~250 s at sf0.1 — pure overhead for
    # variance studies); the 5-key CONTROL is always timed.
    duck: dict[str, float] = {}
    full_duck = os.environ.get("SPARK_GRAFT_SKIP_DUCK") != "1"
    try:
        from sim_spark.testing import duckdb_connect

        con = duckdb_connect(sf_dir)
        for name in HEADLINE if full_duck else CONTROL:
            if name not in ORACLES:
                continue
            t0 = time.perf_counter()
            con.execute(ORACLES[name]).fetchall()
            duck[name] = round(time.perf_counter() - t0, 3)
        con.close()
    except Exception:
        pass  # sanity column is best-effort

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    ctrl_duck = round(sum(duck.get(k, 0.0) for k in CONTROL), 3)
    ctrl_spark = round(sum(times.get(k, 0.0) for k in CONTROL), 3)
    summary = {
        "metric": "headline_suite_wall_clock",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
        "runs_per_query": RUNS,
        "n_queries": len(times),
        # fixed control keys inline (the full map lives in the artifact)
        "queries": {k: times[k] for k in CONTROL if k in times},
        "ctrl": {
            "duck_sec": ctrl_duck,
            "spark_sec": ctrl_spark,
            "ratio": round(ctrl_spark / ctrl_duck, 3) if ctrl_duck else None,
        },
    }
    result = {**summary, "queries": times, "duckdb_sanity": duck}
    # FULL record (every query + sanity column) to stderr and to the
    # artifact file; stdout's FINAL line is ONLY the compact summary.
    # The external driver keeps a ~2000-char tail of stdout — r11/r12
    # both recorded `parsed: null` because the full per-query map
    # outgrew that window (VERDICT r12 item 1).
    print(json.dumps(result), file=sys.stderr)
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_local_last.json"),
    )
    try:
        with open(out_path, "w") as f:
            json.dump({**result, "samples": all_samples}, f, indent=1)
    except OSError:
        pass  # read-only checkout: stderr still has the full record
    print(summary_line(summary))
    spark.stop()




if __name__ == "__main__":
    main()
