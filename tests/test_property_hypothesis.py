"""Hypothesis property tests (SURVEY.md §5.3.4): session_window must
equal the gaps-and-islands formulation on arbitrary event sets — the
equivalence the stream_session_30m oracle is built on, pinned under
randomized inputs including duplicate timestamps and single-event users.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window as W
from pyspark.sql import functions as F

GAP_S = 30


def sessions_via_session_window(spark, pdf):
    df = spark.createDataFrame(pdf)
    out = (
        df.groupBy("user_id", F.session_window("ts", f"{GAP_S} seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("w.start").alias("start"), "n")
    )
    return sorted(map(tuple, out.collect()))


def sessions_via_islands(spark, pdf):
    df = spark.createDataFrame(pdf)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    flagged = df.withColumn(
        # STRICT >: session_window merges an event exactly gap seconds
        # after its predecessor (boundary-inclusive) — found by hypothesis.
        "new_sess", F.when(gap > GAP_S * 1_000_000, 1).otherwise(0)
    ).withColumn(
        "sess_id",
        F.sum("new_sess").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    out = flagged.groupBy("user_id", "sess_id").agg(
        F.min("ts").alias("start"), F.count(F.lit(1)).alias("n")
    )
    return sorted(
        (r["user_id"], r["start"], r["n"]) for r in out.collect()
    )


events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # user_id
        st.integers(min_value=0, max_value=300),  # seconds offset (dups allowed)
    ),
    min_size=1,
    max_size=25,
)


@pytest.mark.slow
@given(events=events_strategy)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_session_window_equals_gaps_and_islands(spark, events):
    pdf = pd.DataFrame(
        {
            "event_id": range(len(events)),
            "user_id": [u for u, _ in events],
            "ts": [pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=s) for _, s in events],
        }
    )
    assert sessions_via_session_window(spark, pdf) == sessions_via_islands(spark, pdf)


# --------------------------------------------------------------------------
# Media container roundtrips (round 5): the struct parsers must invert the
# encoders for ALL sizes — including the stride-padding edge cases (widths
# that are/aren't multiples of 4) and odd/even sample counts.
# --------------------------------------------------------------------------


@given(
    samples=st.lists(
        st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=300
    ),
    rate=st.sampled_from([8000, 16000, 22050, 44100]),
)
@settings(max_examples=50, deadline=None)
def test_wav_roundtrip_property(samples, rate):
    import numpy as np

    from sim_spark.ops.multimodal import decode_wav, encode_wav

    arr = np.array(samples, dtype="<i2")
    got_rate, got = decode_wav(encode_wav(arr, rate))
    assert got_rate == rate
    np.testing.assert_array_equal(got, arr)


@given(
    width=st.integers(min_value=1, max_value=17),
    height=st.integers(min_value=1, max_value=9),
    data=st.data(),
)
@settings(max_examples=50, deadline=None)
def test_bmp_roundtrip_property(width, height, data):
    from sim_spark.ops.multimodal import decode_bmp, encode_bmp

    pixels = bytes(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=255),
                min_size=width * height * 3,
                max_size=width * height * 3,
            )
        )
    )
    w, h, out = decode_bmp(encode_bmp(width, height, pixels))
    assert (w, h) == (width, height)
    assert out == pixels


@given(
    width=st.integers(min_value=1, max_value=17),
    height=st.integers(min_value=1, max_value=11),
    data=st.data(),
)
@settings(max_examples=50, deadline=None)
def test_png_roundtrip_property(width, height, data):
    """decode(encode(px)) == px for arbitrary dims/bytes — heights up
    to 11 exercise all five filter predictors (encoder cycles r % 5),
    widths cover the bpp-boundary Sub/Paeth left-neighbor edge."""
    from sim_spark.ops.multimodal import decode_png, encode_png

    pixels = bytes(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=255),
                min_size=width * height * 3,
                max_size=width * height * 3,
            )
        )
    )
    w, h, ch, depth, out = decode_png(encode_png(width, height, pixels))
    assert (w, h, ch, depth) == (width, height, 3, 8)
    assert out.astype("u1").tobytes() == pixels


# ---------------------------------------------------------------------------
# Band rule: randomized band predicates in plain joins must return the
# Python-computed pairs — the rule is a predicate parser, exactly where
# hypothesis finds the edges (boundary-exact values, degenerate bands,
# negative offsets, mixed spellings). An equi conjunct makes the rule
# stand aside.
# ---------------------------------------------------------------------------


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    data=st.data(),
    lo=st.integers(min_value=-20, max_value=20),
    span=st.integers(min_value=0, max_value=25),
    use_eq=st.booleans(),
    strict=st.booleans(),
)
def test_auto_join_band_equals_naive_hypothesis(spark, data, lo, span, use_eq, strict):
    from sim_spark.ops.sqlband import install_sql_band_extension

    assert install_sql_band_extension(spark)
    hi = lo + span
    lvals = data.draw(
        st.lists(st.integers(min_value=-100, max_value=100), min_size=1, max_size=40)
    )
    rvals = data.draw(
        st.lists(st.integers(min_value=-100, max_value=100), min_size=1, max_size=40)
    )
    L = spark.createDataFrame(
        [(i, i % 3, v) for i, v in enumerate(lvals)], "lid long, lg int, lx long"
    )
    R = spark.createDataFrame(
        [(i, i % 3, v) for i, v in enumerate(rvals)], "rid long, rg int, ry long"
    )
    ge = (F.col("ry") > F.col("lx") + (lo - 1)) if strict else (
        F.col("ry") >= F.col("lx") + lo
    )
    le = (F.col("ry") < F.col("lx") + (hi + 1)) if strict else (
        F.col("ry") <= F.col("lx") + hi
    )
    cond = ge & le
    if use_eq:
        cond = (F.col("lg") == F.col("rg")) & cond
    joined = L.join(R, cond)
    rewritten = "__sql_band_bucket" in joined._jdf.queryExecution().optimizedPlan().toString()
    assert rewritten != use_eq, (lo, hi, use_eq, strict)
    got = sorted(map(tuple, joined.select("lid", "rid").collect()))
    want = sorted(
        (i, j)
        for i, x in enumerate(lvals)
        for j, y in enumerate(rvals)
        if lo <= y - x <= hi and (not use_eq or i % 3 == j % 3)
    )
    assert got == want, (lo, hi, use_eq, strict, len(got), len(want))
