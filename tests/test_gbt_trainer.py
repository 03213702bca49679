"""ml_gbt_residual_stumps trains from a per-hour histogram.

The off-Spark test replays the old per-row algorithm literally (one
residual per row, NULL for a NULL value, 23 candidate sums, the
all-pairs cross-multiplied tournament, per-row SSE) and checks that the
histogram trainer returns the same integers. The Spark tests pin the
one-row answer of the degenerate corpora and run the key against its
DuckDB oracle on corpora with NULL values.
"""

from __future__ import annotations

import math
import os
import random

import pytest

from sim_spark.queries.classify import _GBT_THRS, _gbt_train


def _sum(vals: list[int | None]) -> int | None:
    """SQL SUM: NULLs skipped, NULL over no value."""
    vals = [v for v in vals if v is not None]
    return sum(vals) if vals else None


def _reference(rows: list[tuple[int, int | None]]) -> tuple | None:
    """Per-row GBT over (x, yc) rows, written as the SQL oracle reads:
    COUNT(*) counts NULL-value rows, SUM skips their NULL residuals."""
    if not rows:
        return None
    n = len(rows)
    total = _sum([yc for _, yc in rows])
    f0m = None if total is None else math.floor(total * 10.0 / n + 0.5)
    r = [None if yc is None or f0m is None else 10 * yc - f0m for _, yc in rows]
    out, sses = [n, f0m], [_sum([v * v for v in r if v is not None])]
    for _ in range(2):
        cands = []
        for t in _GBT_THRS:
            left = [v for (x, _), v in zip(rows, r) if x <= t]
            right = [v for (x, _), v in zip(rows, r) if x > t]
            if left and right:
                # SUM(CASE WHEN x <= t THEN r ELSE 0 END): the other
                # side's zeros make an all-NULL side sum to 0
                sl = sum(v for v in left if v is not None)
                sr = sum(v for v in right if v is not None)
                cands.append((t, len(left), sl, len(right), sr))

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
        r = [None if v is None else v - (pl if x <= t else pr)
             for (x, _), v in zip(rows, r)]
        out += [t, nl, pl, pr]
        sses.append(_sum([v * v for v in r if v is not None]))
    return (*out, *sses)


def _histogram(rows: list[tuple[int, int | None]]) -> list[tuple]:
    """The Spark reduce: per hour rows, values, Σyc and Σyc² (0 when
    the hour has no value)."""
    cells: dict[int, list[int]] = {}
    for x, yc in rows:
        c = cells.setdefault(x, [0, 0, 0, 0])
        c[0] += 1
        if yc is not None:
            c[1] += 1
            c[2] += yc
            c[3] += yc * yc
    return [(x, *c) for x, c in cells.items()]


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


def test_null_values_count_as_rows_but_not_in_sums():
    """60 seeded corpora with NULL values: a NULL share of 10%..90%,
    hours whose every value is NULL, and corpora with no value at all
    (f0 and the SSEs NULL, every candidate sum 0, so both rounds crown
    the smallest valid threshold with 0 leaves)."""
    rng = random.Random(20261020)
    for n in (2, 9, 80, 300):
        for hours in (2, 3, 24):
            for share in (0.1, 0.5, 0.9, "hour", 1.0):
                rows = _corpus(rng, n, hours, "random")
                if share == "hour":
                    null_x = rows[0][0]
                    rows = [(x, None if x == null_x else yc) for x, yc in rows]
                else:
                    rows = [(x, None if rng.random() < share else yc) for x, yc in rows]
                want = _reference(rows)
                assert _gbt_train(_histogram(rows)) == want, (n, hours, share)
    rows = [(3, None)] * 4 + [(8, None)] * 2
    assert _gbt_train(_histogram(rows)) == (
        6, None, 3, 4, 0, 0, 3, 4, 0, 0, None, None, None)


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


def _events_corpus(tmp_path, sf_dir: str, hours: list[int], values=None, name=None) -> str:
    """An events.parquet of rows at ``hours`` (values default to
    1.25 * (i % 7)) in the fixture schema."""
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
        "value": values if values is not None else [1.25 * (i % 7) for i in range(n)],
        "props": ["{}"] * n,
    }
    table = pa.table(
        {f.name: pa.array(cols[f.name], pa.int64() if f.name == "ts" else f.type)
         for f in schema}
    ).cast(schema)
    d = tmp_path / (name or f"events_{len(set(hours))}h")
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


def _null_corpora() -> list[tuple[str, list[int], list]]:
    rng = random.Random(11)
    out = []
    for i in range(3):
        hours = [rng.choice([0, 2, 5, 9, 13, 17, 23]) for _ in range(150)]
        values = [None if rng.random() < 0.3 else round(rng.uniform(-5, 40), 2)
                  for _ in hours]
        if i == 2:  # every value of hour 9 is NULL
            values = [None if h == 9 else v for h, v in zip(hours, values)]
        out.append((f"seeded{i}", hours, values))
    hours = [h % 24 for h in range(48)]
    out.append(("all_null", hours, [None] * 48))
    return out


_NULL_CORPORA = _null_corpora()


@pytest.mark.parametrize("name,hours,values", _NULL_CORPORA, ids=[c[0] for c in _NULL_CORPORA])
def test_null_values_match_the_oracle(spark, sf_dir, tmp_path, name, hours, values):
    """NULL values on seeded corpora, an hour whose every value is NULL,
    and a corpus without a value: the key's row equals its DuckDB
    oracle's (f0 and the MSEs NULL, thresholds 0 and 0.0 leaves for
    the all-NULL corpus)."""
    import duckdb

    from sim_spark.registry import ORACLES, QUERIES
    from sim_spark.testing import compare_frames

    d = _events_corpus(tmp_path, sf_dir, hours, values, name)
    got = QUERIES["ml_gbt_residual_stumps"](spark, d).toPandas()
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet')")
    want = con.execute(ORACLES["ml_gbt_residual_stumps"]).fetchdf()
    res = compare_frames(got, want)
    assert res.ok, f"{res.detail}\n" + "\n".join(res.diffs)
    if name == "all_null":
        row = got.iloc[0]
        assert row["n_rows"] == 48 and row["thr1"] == 0 and row["thr2"] == 0
        assert row["pred_l1"] == 0.0 and row["pred_r2"] == 0.0
        assert got[["f0", "mse0", "mse1", "mse2"]].isna().all(axis=None)
