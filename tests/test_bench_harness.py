"""Bench-harness guarantees that protect the driver's evidence chain.

The external driver keeps only a bounded tail of stdout and parses the
FINAL line as JSON (BENCH_rN.json "parsed"). r11/r12 lost that field to
an oversized line; r13 fixed it with a compact summary guarded by a
bare assert — which vanishes under ``python -O`` and, when it did fire,
crashed the run AFTER all measurements completed (ADVICE r13). r14
replaces it with summary_line(): always returns a parseable <1000-char
line, degrading gracefully instead of raising.
"""

import json
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _summary(n_queries: int) -> dict:
    return {
        "metric": "headline_suite_wall_clock",
        "value": 12.345,
        "unit": "sec",
        "sf": 0.1,
        "cpus": 32,
        "runs_per_query": 3,
        "n_queries": n_queries,
        "queries": {f"query_name_{i:04d}": 1.2345 for i in range(n_queries)},
        "ctrl": {"duck_sec": 1.0, "spark_sec": 1.3, "ratio": 1.3},
    }


def test_summary_line_normal_shape_is_complete():
    from bench import CONTROL, summary_line

    s = _summary(len(CONTROL))
    line = summary_line(s)
    assert len(line) < 1000
    assert json.loads(line) == s  # nothing dropped at the real size


def test_summary_line_degrades_instead_of_raising():
    from bench import summary_line

    # a pathological 200-key inline map: the old assert would crash
    # here (or silently pass under -O); now the maps are dropped and
    # the headline metric survives
    line = summary_line(_summary(200))
    assert len(line) < 1000
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_suite_wall_clock"
    assert parsed["value"] == 12.345
    assert "queries" not in parsed


def test_control_keys_are_registered_and_oracled():
    """Every control key must be a real registry key WITH an oracle —
    the ctrl ratio is meaningless if DuckDB cannot run the same SQL."""
    import sim_spark.queries  # noqa: F401
    from bench import CONTROL, HEADLINE
    from sim_spark.registry import ORACLES, QUERIES

    assert len(CONTROL) >= 10  # VERDICT r13 item 8
    for k in CONTROL:
        assert k in QUERIES, k
        assert k in ORACLES, k
        assert k in HEADLINE, k  # ctrl keys ride the headline warm-up
    # exactly one deliberately heavy iterative key anchors the band
    assert "graph_betweenness_sampled" in CONTROL


def test_time_key_releases_tracked_caches_after_every_sample(spark, monkeypatch):
    """The per-sample protocol: the warm-up and every timed sample end
    with a release, so no sample reads a cache an earlier run populated;
    each sample splits its wall into build (the query function) and
    execute (the noop write)."""
    import bench
    import sim_spark.queries  # noqa: F401
    import sim_spark.scratch as scratch

    cm = spark._jsparkSession.sharedState().cacheManager()
    real = scratch.release_tracked_caches
    calls = []

    def release():
        tracked = list(scratch._TRACKED_CACHES)
        real()
        alive = [df for df in tracked if cm.lookupCachedData(df._jdf).isDefined()]
        calls.append((len(tracked), len(alive)))

    monkeypatch.setattr(scratch, "release_tracked_caches", release)
    runs = 2
    samples = bench.time_key(
        spark, "text_bigram_perplexity", "/root/testdata/sf0.001", runs
    )
    assert len(samples) == runs
    assert len(calls) == runs + 1  # after the warm-up and after each sample
    assert all(n > 0 and alive == 0 for n, alive in calls), calls
    assert scratch._TRACKED_CACHES == []
    for s in samples:
        assert s["build_s"] > 0 and s["exec_s"] > 0
        assert s["build_s"] + s["exec_s"] <= s["wall_s"] + 1e-9


def test_measure_plans_takes_every_headline_key(spark, monkeypatch, tmp_path):
    """`tools/measure.py plans` resolves a key the way bench.time_key
    does: the bench-only legs of bench.HEADLINE (bench.SPECIAL) are not
    registry keys, and looking them up in the registry alone raised
    KeyError partway through a headline plan diff."""
    import bench

    monkeypatch.syspath_prepend(os.path.join(os.path.dirname(bench.__file__), "tools"))
    import measure

    keys = [k for k in bench.HEADLINE if k in bench.SPECIAL]
    assert keys
    monkeypatch.setattr(bench, "open_session", lambda app: (spark, 1))
    monkeypatch.setattr(spark, "stop", lambda: None)
    monkeypatch.setattr(measure, "ROOT", str(tmp_path))
    monkeypatch.setattr(measure, "SF_DIR", "/root/testdata/sf0.001")
    measure.cmd_plans("t", "x", keys)
    for k in keys:
        assert "Physical Plan" in (tmp_path / "plans" / "t" / f"{k}_x.txt").read_text()


def test_measure_time_records_carry_run_order(monkeypatch, tmp_path, capsys):
    """Each `tools/measure.py time` line names the keys its session
    timed, in order, and the key's index among them, so a reader can
    tell an ordering effect from a code change. A resumed run's session
    is the keys it times, not the ones it skips."""
    import bench

    monkeypatch.syspath_prepend(os.path.join(os.path.dirname(bench.__file__), "tools"))
    import measure

    class _Spark:
        def stop(self):
            pass

    timed = []
    monkeypatch.setattr(bench, "open_session", lambda app: (_Spark(), 1))
    monkeypatch.setattr(bench, "warm_up", lambda spark, sf: None)

    def time_key(spark, key, sf):
        timed.append(key)
        return [{"wall_s": 1.0, "build_s": 0.25, "exec_s": 0.5}]

    monkeypatch.setattr(bench, "time_key", time_key)
    out = tmp_path / "t.jsonl"
    out.write_text(json.dumps({"key": "b"}) + "\n")
    measure.cmd_time(["a", "b", "c"], str(out))
    assert timed == ["a", "c"]
    printed = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    appended = [json.loads(line) for line in out.read_text().splitlines()[1:]]
    assert printed == appended
    assert [(r["key"], r["position"], r["session"]) for r in printed] == [
        ("a", 0, ["a", "c"]), ("c", 1, ["a", "c"])]
