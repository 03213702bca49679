"""ml_adaboost_stumps trains from a (value bin, label) count histogram.

The off-Spark tests replay the SQL oracle literally (64 candidates per
round, one weight per row, the per-row vote) and check that the
histogram trainer returns the same row. The Spark tests pin the rows of
degenerate corpora and run the key on corpora with NULL values, NULL
event types and values on the outer thresholds.
"""

from __future__ import annotations

import os
import random

import pytest

from sim_spark.queries.classify import _ADA_THRS, _ada_train


def _pred(x: float | None, thr: float, pol: int) -> int:
    return pol if x is not None and x <= thr else -pol


def _reference(rows: list[tuple[int, float | None]]) -> list[tuple]:
    """Per-row AdaBoost over (y, x) rows, written as the SQL oracle reads."""
    if not rows:
        return []
    n = len(rows)
    cand = [(thr, pol) for thr in _ADA_THRS for pol in (1, -1)]

    def fit(w: list[int]) -> tuple:
        errs = [
            (sum(wi for (y, x), wi in zip(rows, w) if _pred(x, thr, pol) != y), pol, thr)
            for thr, pol in cand
        ]
        return sorted(errs)[0]  # ORDER BY e, pol, thr LIMIT 1

    e1, pol1, thr1 = fit([1] * n)
    e2, pol2, thr2 = fit([n - e1 if _pred(x, thr1, pol1) != y else e1 for y, x in rows])
    n_correct = 0
    for y, x in rows:
        h1, h2 = _pred(x, thr1, pol1), _pred(x, thr2, pol2)
        if h1 == h2:
            vote = h1
        elif (n - e1) * e2 > 2 * e1 * e1 * (n - e1) - e1 * e2:
            vote = h1
        else:
            vote = h2
        n_correct += vote == y
    return [(thr1, pol1, e1, thr2, pol2, e2, n_correct, n)]


def _cells(rows: list[tuple[int, float | None]]) -> list[tuple[int, int, int]]:
    """The Spark reduce: b = thresholds the value is not <= (32 for NULL)."""
    counts: dict[tuple[int, int], int] = {}
    for y, x in rows:
        b = sum(1 for t in _ADA_THRS if not (x is not None and x <= t))
        counts[(b, y)] = counts.get((b, y), 0) + 1
    return [(b, y, c) for (b, y), c in counts.items()]


def _corpus(rng: random.Random, n: int, kind: str) -> list[tuple[int, float | None]]:
    def value() -> float | None:
        return rng.choice([
            None, 0.25, 15.75, round(rng.uniform(-2, 18), 2),
            round(rng.uniform(0, 500), 2), round(rng.gauss(8, 3), 2),
        ])

    if kind == "separable":  # purchases below 7, views above
        xs = [round(rng.uniform(0, 14), 2) for _ in range(n)]
        return [(1 if x < 7 else -1, x) for x in xs]
    if kind == "one_class":
        y = rng.choice([1, -1])
        return [(y, value()) for _ in range(n)]
    return [(rng.choice([1, -1, -1]), value()) for _ in range(n)]


def test_histogram_trainer_matches_per_row_reference():
    """60 seeded corpora of 1..500 rows: random labels over NULL values,
    values on 0.25 and 15.75, values outside [0.25, 15.75]; separable
    corpora (stump 1 is perfect); one-class corpora."""
    rng = random.Random(20261020)
    for n in (1, 2, 5, 40, 500):
        for kind in ("random", "separable", "one_class"):
            for _ in range(4):
                rows = _corpus(rng, n, kind)
                assert _ada_train(_cells(rows)) == _reference(rows), (n, kind, rows[:8])


def test_ties_take_negative_polarity_then_smallest_threshold():
    """Views valued 5..6: pol +1 below 5 and pol -1 from 6.25 up are all
    perfect, so round 1 ties at e = 0 and ORDER BY (e, pol, thr) takes
    (-1, 6.25). Round 2 weighs every row e1 = 0, so all 64 candidates tie
    and (-1, 0.25) wins; the odds test 0 > 0 fails, stump 2 casts every
    vote, and it predicts +1 on every row."""
    rows = [(-1, 5.0 + 0.1 * i) for i in range(11)]
    fit = _ada_train(_cells(rows))
    assert fit == _reference(rows)
    assert fit == [(6.25, -1, 0, 0.25, -1, 0, 0, 11)]


def test_empty_histogram_has_no_row():
    assert _ada_train([]) == []


_COLS = ["thr1", "pol1", "e1", "thr2", "pol2", "e2", "n_correct", "n_rows"]


def _events_corpus(tmp_path, sf_dir: str, name: str, rows: list[tuple]) -> str:
    """An events.parquet of (event_type, value) rows in the fixture schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pq.read_schema(os.path.join(sf_dir, "events.parquet"))
    n = len(rows)
    cols = {
        "event_id": list(range(n)),
        "ts": [1_704_067_200_000_000 + i for i in range(n)],
        "user_id": [0] * n,
        "event_type": [et for et, _ in rows],
        "value": [v for _, v in rows],
        "props": ["{}"] * n,
    }
    table = pa.table(
        {f.name: pa.array(cols[f.name], pa.int64() if f.name == "ts" else f.type)
         for f in schema}
    ).cast(schema)
    d = tmp_path / name
    d.mkdir()
    pq.write_table(table, d / "events.parquet")
    return str(d)


def _run(spark, sf_dir, tmp_path, name, rows):
    from sim_spark.registry import QUERIES

    df = QUERIES["ml_adaboost_stumps"](spark, _events_corpus(tmp_path, sf_dir, name, rows))
    assert df.columns == _COLS
    return [tuple(r) for r in df.collect()]


# The rows the three-scan plan (two tracked caches, three broadcast cross
# joins) returned on these corpora; the histogram path must keep them.
_PINNED = [
    ("empty", [], []),
    ("all_purchase", [("purchase", 0.5 * (i % 40)) for i in range(50)],
     [(0.25, -1, 2, 15.75, 1, 16, 48, 50)]),
    ("null_event_type",
     [(None if i % 3 == 0 else ("purchase" if i % 5 == 0 else "view"), 0.3 * (i % 60))
      for i in range(90)],
     [(0.25, 1, 14, 14.75, -1, 872, 76, 90)]),
]


@pytest.mark.parametrize("name,rows,want", _PINNED, ids=[p[0] for p in _PINNED])
def test_degenerate_corpus_keeps_the_three_scan_rows(spark, sf_dir, tmp_path, name, rows, want):
    assert _run(spark, sf_dir, tmp_path, name, rows) == want


def test_spark_bins_match_per_row_reference(spark, sf_dir, tmp_path):
    """NULL values land in bin 32 (no threshold admits them), values on
    0.25 and 15.75 at or below their threshold; NULL event types are
    views. Two seeded corpora, each one Spark run."""
    rng = random.Random(7)
    for i in range(2):
        rows = [
            (rng.choice([None, "purchase", "view", "click", "purchase"]),
             rng.choice([None, 0.25, 15.75, 0.24, 15.76, round(rng.uniform(-1, 17), 2)]))
            for _ in range(120)
        ]
        want = _reference([(1 if et == "purchase" else -1, v) for et, v in rows])
        assert _run(spark, sf_dir, tmp_path, f"seeded{i}", rows) == want
