"""ml_gbt_residual_stumps trains from a per-hour histogram.

The off-Spark test replays the old per-row algorithm literally (one
residual per row, 23 candidate sums, the all-pairs cross-multiplied
tournament, per-row SSE) and checks that the histogram trainer returns
the same integers. The Spark test pins the one-row answer of the
degenerate corpora.
"""

from __future__ import annotations

import math
import os
import random

import pytest

from sim_spark.queries.classify import _GBT_THRS, _gbt_train


def _reference(rows: list[tuple[int, int]]) -> tuple | None:
    """Per-row GBT over (x, yc) rows, written as the SQL oracle reads."""
    if not rows:
        return None
    n = len(rows)
    f0m = math.floor(sum(yc for _, yc in rows) * 10.0 / n + 0.5)
    r = [10 * yc - f0m for _, yc in rows]
    out, sses = [n, f0m], [sum(v * v for v in r)]
    for _ in range(2):
        cands = []
        for t in _GBT_THRS:
            left = [v for (x, _), v in zip(rows, r) if x <= t]
            right = [v for (x, _), v in zip(rows, r) if x > t]
            if left and right:
                cands.append((t, len(left), sum(left), len(right), sum(right)))

        def score(c):
            _, nl, sl, nr, sr = c
            return sl * sl * nr + sr * sr * nl, nl * nr

        def beats(d, c):
            (ad, bd), (ac, bc) = score(d), score(c)
            return ad * bc > ac * bd or (ad * bc == ac * bd and d[0] < c[0])

        winners = [c for c in cands if not any(beats(d, c) for d in cands)]
        if not winners:
            return None
        assert len(winners) == 1
        t, nl, sl, nr, sr = winners[0]
        pl = math.floor(sl * 1.0 / nl + 0.5)
        pr = math.floor(sr * 1.0 / nr + 0.5)
        r = [v - (pl if x <= t else pr) for (x, _), v in zip(rows, r)]
        out += [t, nl, pl, pr]
        sses.append(sum(v * v for v in r))
    return (*out, *sses)


def _histogram(rows: list[tuple[int, int]]) -> list[tuple]:
    cells: dict[int, list[int]] = {}
    for x, yc in rows:
        c = cells.setdefault(x, [0, 0, 0])
        c[0] += 1
        c[1] += yc
        c[2] += yc * yc
    return [(x, n, s, q) for x, (n, s, q) in cells.items()]


def _corpus(rng: random.Random, n: int, hours: int, kind: str):
    xs = rng.sample(range(24), hours)
    if kind == "constant":
        return [(rng.choice(xs), 1234) for _ in range(n)]
    if kind == "two_levels":  # residuals vanish after round 1: all ties
        return [(x, 500 if x <= 11 else 900) for x in (rng.choice(xs) for _ in range(n))]
    return [(rng.choice(xs), int(rng.expovariate(1 / 5000))) for _ in range(n)]


def test_histogram_trainer_matches_per_row_reference():
    """48 seeded corpora: 2..400 rows over 1, 2, 3 or 24 hours, with
    random, constant (every score ties at zero) or two-level values."""
    rng = random.Random(20261019)
    for n in (2, 7, 60, 400):
        for hours in (1, 2, 3, 24):
            for kind in ("random", "constant", "two_levels"):
                rows = _corpus(rng, n, hours, kind)
                want = _reference(rows)
                assert _gbt_train(_histogram(rows)) == want, (n, hours, kind)
                if hours == 1:
                    # Every threshold leaves one side empty, in round 1
                    # and round 2 alike (validity depends on counts
                    # only): no model, so the report is one NULL row.
                    assert want is None


def test_tournament_ties_keep_the_smallest_threshold():
    """Hours 3 and 17 only: thresholds 3..16 make the same split, so
    every round is a 14-way tie; round 2 fits zero residuals, a tie of
    all-zero scores. Both crown threshold 3."""
    rows = [(3, 150)] * 10 + [(17, 925)] * 7
    fit = _gbt_train(_histogram(rows))
    assert fit == _reference(rows)
    assert fit[2] == 3 and fit[6] == 3 and fit[7:10] == (10, 0, 0)


def test_leaves_round_half_up():
    """f0 = 0.6 (milli 6): the left leaf's mean residual is -14 / 4 =
    -3.5 milli, which floor(x + 0.5) takes to -3 (round-half-even
    would give -4)."""
    rows = [(3, 0)] * 3 + [(3, 1)] + [(17, 1)] * 3
    fit = _gbt_train(_histogram(rows))
    assert fit == _reference(rows)
    assert fit[1:6] == (6, 3, 4, -3, 4)


def test_empty_histogram_has_no_model():
    assert _gbt_train([]) is None


def _events_corpus(tmp_path, sf_dir: str, hours: list[int]) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pq.read_schema(os.path.join(sf_dir, "events.parquet"))
    t0 = 1_704_067_200_000_000  # 2024-01-01 00:00 UTC, microseconds
    n = len(hours)
    cols = {
        "event_id": list(range(n)),
        "ts": [t0 + h * 3_600_000_000 + i for i, h in enumerate(hours)],
        "user_id": [0] * n,
        "event_type": ["view"] * n,
        "value": [1.25 * (i % 7) for i in range(n)],
        "props": ["{}"] * n,
    }
    table = pa.table(
        {f.name: pa.array(cols[f.name], pa.int64() if f.name == "ts" else f.type)
         for f in schema}
    ).cast(schema)
    d = tmp_path / f"events_{len(set(hours))}h"
    d.mkdir()
    pq.write_table(table, d / "events.parquet")
    return str(d)


@pytest.mark.parametrize("hours", [[], [5] * 40], ids=["empty", "one_hour"])
def test_degenerate_corpus_reports_one_null_row(spark, sf_dir, tmp_path, hours):
    from sim_spark.registry import QUERIES

    rows = QUERIES["ml_gbt_residual_stumps"](
        spark, _events_corpus(tmp_path, sf_dir, hours)
    ).collect()
    assert len(rows) == 1
    assert all(v is None for v in rows[0]), rows
