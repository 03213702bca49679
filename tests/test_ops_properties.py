"""Property tests for the composite operators (SURVEY.md §5.3.4):
asof_join_backward and the compiled band-join rule must equal their
naive O(n·m) formulations on randomized small inputs.

Band tests check the rule against a Python-computed expectation, never
against an in-session ``L.join(R, cond)``: pytest shares one session, so
once any test installs the rule that "naive" leg is itself rewritten."""

from __future__ import annotations

import random

import pandas as pd
import pytest

from pyspark.sql import functions as F
from sim_spark.ops.asof import asof_join_backward


def _band_rule(spark) -> None:
    from sim_spark.ops.sqlband import install_sql_band_extension

    assert install_sql_band_extension(spark)


def _rewritten(df) -> bool:
    """Did the band rule replan this join? Its bucket column is then in
    the optimized plan."""
    return "__sql_band_bucket" in df._jdf.queryExecution().optimizedPlan().toString()


def _pairs(df) -> list[tuple]:
    return sorted(map(tuple, df.select("lid", "rid").collect()))


def _random_events(rng: random.Random, n: int, n_keys: int) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "event_id": range(n),
            "user_id": [rng.randrange(n_keys) for _ in range(n)],
            # timestamps in microseconds; duplicates on purpose (tie cases)
            "ts_us": [rng.randrange(0, 50) * 1_000_000 for _ in range(n)],
        }
    )


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4])
def test_asof_matches_naive(spark, seed):
    rng = random.Random(seed)
    left = _random_events(rng, 40, 5)
    right = _random_events(rng, 60, 5)
    right["event_id"] += 1000

    ldf = spark.createDataFrame(left).withColumnRenamed("event_id", "l_id")
    rdf = spark.createDataFrame(right)

    got = (
        asof_join_backward(
            ldf.withColumnRenamed("ts_us", "ts"),
            rdf.withColumnRenamed("ts_us", "ts"),
            key="user_id",
            left_ts="ts",
            right_ts="ts",
            payload_cols=["event_id"],
            right_order="event_id",
        )
        .toPandas()
        .set_index("l_id")["asof_event_id"]
        .astype("float64")
        .sort_index()
    )

    def naive(row):
        cand = right[
            (right.user_id == row.user_id) & (right.ts_us <= row.ts_us)
        ].sort_values(["ts_us", "event_id"])
        return float(cand.event_id.iloc[-1]) if len(cand) else float("nan")

    want = left.apply(naive, axis=1)
    want.index = left.event_id
    want = want.sort_index()
    assert list(got.fillna(-1)) == list(want.fillna(-1)), f"seed={seed}"


@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("lower_s,upper_s", [(0, 7), (-3, 3), (5, 9)])
def test_interval_join_matches_naive(spark, seed, lower_s, upper_s):
    """A half-open timestamp window [l + lower, l + upper) as a plain
    join: the band rule must replan it and return the Python-computed
    pairs."""
    _band_rule(spark)
    rng = random.Random(seed)
    left = _random_events(rng, 30, 3).rename(columns={"event_id": "l_id", "ts_us": "l_us"})
    right = _random_events(rng, 30, 3).rename(columns={"event_id": "r_id", "ts_us": "r_us"})
    left["l_ts"] = pd.to_datetime(left.l_us, unit="us")
    right["r_ts"] = pd.to_datetime(right.r_us, unit="us")

    ldf = spark.createDataFrame(left[["l_id", "l_ts"]])
    rdf = spark.createDataFrame(right[["r_id", "r_ts"]])
    lo, hi = lower_s * 1_000_000, upper_s * 1_000_000

    joined = ldf.join(
        rdf,
        (F.col("r_ts") >= F.col("l_ts") + F.expr(f"INTERVAL '{lower_s}' SECOND"))
        & (F.col("r_ts") < F.col("l_ts") + F.expr(f"INTERVAL '{upper_s}' SECOND")),
    )
    assert _rewritten(joined)
    got = sorted(map(tuple, joined.select("l_id", "r_id").collect()))

    want = sorted(
        (int(l.l_id), int(r.r_id))
        for _, l in left.iterrows()
        for _, r in right.iterrows()
        if l.l_us + lo <= r.r_us < l.l_us + hi
    )
    assert got == want, f"seed={seed} window=[{lower_s},{upper_s})"


@pytest.mark.parametrize("how", ["inner", "left"])
def test_salted_join_equals_plain_join(spark, how):
    """Skew-salted join must be row-identical to the plain equi-join —
    including unmatched-left rows under 'left'."""
    from pyspark.sql import functions as F
    from sim_spark.ops.salting import salted_join

    left = spark.range(500).select(
        F.col("id").alias("uid"),
        # heavy skew: 80% of rows share key 7
        F.when(F.col("id") % 5 < 4, 7).otherwise(F.col("id") % 40).alias("k"),
    )
    right = spark.range(30).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("payload")
    )
    plain = sorted(
        map(tuple, left.join(right, "k", how).select("uid", "k", "payload").collect())
    )
    salted = sorted(
        map(
            tuple,
            salted_join(left, right, "k", n_salts=4, how=how, left_unique="uid")
            .select("uid", "k", "payload")
            .collect(),
        )
    )
    assert plain == salted


@pytest.mark.parametrize("seed,t", [(1, 0.8), (2, 0.5), (3, 0.9), (4, 0.7)])
def test_prefix_jaccard_join_equals_naive(spark, seed, t):
    """Prefix-filtered set-similarity join must equal the naive all-pairs
    Jaccard — including pairs EXACTLY at the threshold (this test caught
    a float-precision prefix-length bug dropping a J==t pair)."""
    import random

    from sim_spark.ops.setsim import jaccard_join_prefix

    rnd = random.Random(seed)
    vocab = [f"tok{i}" for i in range(40)]
    rows = []
    for i in range(120):
        n = rnd.randint(0, 12)
        s = list(dict.fromkeys(rnd.sample(vocab, n) if n else []))
        rows.append((i, s))
        if rnd.random() < 0.3 and s:
            s2 = s.copy()
            if rnd.random() < 0.5:
                s2 = s2[:-1] or s2
            rows.append((1000 + i, s2))
    df = spark.createDataFrame(rows, "doc_id long, shingles array<string>")
    got = sorted(map(tuple, jaccard_join_prefix(df, t).collect()))
    data = dict(rows)
    ids = sorted(data)
    want = []
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = set(data[ids[x]]), set(data[ids[y]])
            if not a or not b:
                continue
            j = len(a & b) / len(a | b)
            if j >= t:
                want.append((ids[x], ids[y], round(j, 6)))
    assert got == sorted(want), f"seed={seed} t={t}"


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_blocked_gemm_pairs_match_naive(spark, seed):
    """Block-partitioned GEMM candidate pairs + exact refine must equal
    the naive all-pairs rounded-dot threshold on random unit vectors —
    for every block count (1 block = single GEMM, 8 = fixture default,
    37 > n_rows = degenerate blocks)."""
    import numpy as np
    from pyspark.sql import functions as F

    from sim_spark.ops.cosine_blas import cosine_candidate_pairs, exact_cosine_pairs

    rng = np.random.default_rng(seed)
    mat = rng.normal(size=(60, 8))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    thr = 0.3
    naive = {
        (a, b)
        for a in range(60)
        for b in range(a + 1, 60)
        if round(float(np.dot(mat[a], mat[b])), 6) > thr
    }
    assert naive, "seeded fixture must produce true pairs"
    e = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r["id_a"], r["id_b"]) for r in exact_cosine_pairs(e, thr).collect()
    }
    assert got == naive
    for n_blocks in (1, 8, 37):
        cand = {
            (r["id_a"], r["id_b"])
            for r in cosine_candidate_pairs(e, thr, n_blocks=n_blocks).collect()
        }
        assert naive <= cand, f"n_blocks={n_blocks} dropped true pairs"
        # candidate set is duplicate-free by construction
        rows = cosine_candidate_pairs(e, thr, n_blocks=n_blocks).collect()
        assert len(rows) == len(set((r["id_a"], r["id_b"]) for r in rows))


def test_banded_simhash_join_is_candidate_exact(spark):
    """Pigeonhole property on random 32-bit fingerprints: the 6-band
    equi-join + hamming refine equals the all-pairs formulation."""
    import random as _random

    from pyspark.sql import functions as F

    rng = _random.Random(7)
    base = rng.getrandbits(32)
    fps = [base]
    for _ in range(40):
        # half near-dups (flip <=5 bits of some existing fp), half random
        if rng.random() < 0.5:
            src = rng.choice(fps)
            for _ in range(rng.randrange(0, 6)):
                src ^= 1 << rng.randrange(32)
            fps.append(src)
        else:
            fps.append(rng.getrandbits(32))
    naive = {
        (i, j)
        for i in range(len(fps))
        for j in range(i + 1, len(fps))
        if bin(fps[i] ^ fps[j]).count("1") <= 5
    }
    assert naive, "fixture must contain close pairs"
    fp_df = spark.createDataFrame(
        list(enumerate(fps)), "doc_id long, simhash long"
    )
    bands, off = [], 0
    for i, width in enumerate((6, 6, 5, 5, 5, 5)):
        bands.append(
            F.struct(
                F.lit(i).alias("bno"),
                F.shiftright("simhash", off)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("bval"),
            )
        )
        off += width
    banded = fp_df.select(
        "doc_id", "simhash", F.explode(F.array(*bands)).alias("b")
    ).select("doc_id", "simhash", "b.bno", "b.bval")
    a = banded.select(
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("ha"), "bno", "bval"
    )
    b = banded.select(
        F.col("doc_id").alias("id_b"), F.col("simhash").alias("hb"), "bno", "bval"
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in (
            a.join(b, ["bno", "bval"])
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) <= 5)
            .select("id_a", "id_b")
            .distinct()
            .collect()
        )
    }
    assert got == naive


def test_substring_spans_short_doc_yields_no_spans(spark):
    """sequence(1,0) descends in Spark while DuckDB's generate_series is
    empty — the short-doc guard must produce ZERO spans for docs with
    fewer than 8 words (regression test for the engine-divergence
    hazard; fixtures never exercise it)."""
    from sim_spark.exprs import h48
    from sim_spark.queries.curation_extras import _SPAN_K, span_keys_expr
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(1, "a b c"), (2, " ".join("w%d" % i for i in range(12)))],
        "doc_id long, text string",
    ).select(
        "doc_id",
        F.transform(F.split("text", " "), h48).alias("wh"),
    )
    spans = span_keys_expr()
    rows = {r["doc_id"]: r["n"] for r in
            df.select("doc_id", F.size(spans).alias("n")).collect()}
    assert rows[1] == 0, rows
    assert rows[2] == 12 - _SPAN_K + 1, rows


def test_ngram_builders_survive_short_docs(spark):
    """Sub-n-word docs must yield ZERO n-grams, not an ANSI
    INVALID_ARRAY_INDEX abort (sequence(0, size-n) descends when
    size < n; regression for the guard in ml_llm.sliding_window_expr)."""
    import pyspark.sql.functions as F

    from sim_spark.queries.ml_llm import (
        sliding_window_expr,
        sliding_window_hash_expr,
    )

    df = spark.createDataFrame(
        [(1, "one"), (2, "two words"), (3, "a b c d")], "id long, text string"
    )
    w = F.split("text", " ")
    rows = {
        r["id"]: (r["bi"], r["tri"])
        for r in df.select(
            "id",
            F.size(
                sliding_window_expr(
                    w,
                    2,
                    lambda i: F.concat_ws(
                        " ", F.element_at(w, i + 1), F.element_at(w, i + 2)
                    ),
                )
            ).alias("bi"),
            F.size(
                sliding_window_hash_expr(
                    w,
                    3,
                    lambda i: F.xxhash64(
                        F.element_at(w, i + 1),
                        F.element_at(w, i + 2),
                        F.element_at(w, i + 3),
                    ),
                )
            ).alias("tri"),
        ).collect()
    }
    assert rows == {1: (0, 0), 2: (1, 0), 3: (3, 2)}, rows


def test_feature_scale_zero_sigma_yields_null(spark):
    """A constant-valued group has sigma=0: ANSI division would abort;
    try_divide must yield NULL like the DuckDB oracle."""
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [("a", 5.0), ("a", 5.0), ("b", 1.0), ("b", 3.0)], "g string, value double"
    )
    stats = df.groupBy("g").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    out = df.join(stats, "g").select(
        "g",
        F.round(F.try_divide(F.col("value") - F.col("mu"), F.col("sigma")), 6).alias(
            "z"
        ),
    )
    rows = out.collect()
    assert all(r["z"] is None for r in rows if r["g"] == "a")
    assert all(r["z"] is not None for r in rows if r["g"] == "b")


def test_asof_null_semantics_match_sql_contract(spark):
    """NULL key/ts rows must behave like the correlated subquery: no
    phantom matches from NULL-ts right rows, NULL payloads for NULL-ts
    or NULL-key left rows (regression for the nulls-first/unfiltered
    window ordering)."""
    from sim_spark.ops.asof import asof_join_backward

    left = spark.createDataFrame(
        [(1, 10, "L1"), (1, None, "Lnull"), (None, 10, "Lnullkey")],
        "k long, ts long, lbl string",
    )
    right = spark.createDataFrame(
        [(1, 5, 100), (1, None, 999), (None, 1, 888)], "k long, ts long, rid int"
    )
    out = asof_join_backward(left, right, "k", "ts", "ts", ["rid"], "rid")
    rows = {r["lbl"]: r["asof_rid"] for r in out.collect()}
    assert rows == {"L1": "100", "Lnull": None, "Lnullkey": None}, rows


def test_asof_rejects_fractional_order_column(spark):
    """A double right_order would truncate in the long union leg (1.2 and
    1.9 alias) — the guard must reject it loudly, and still accept ints."""
    import pytest

    left = spark.createDataFrame([(1, 10, "L")], "k long, ts long, lbl string")
    right_f = spark.createDataFrame([(1, 5, 0.5)], "k long, ts long, ord double")
    with pytest.raises(TypeError, match="integral"):
        asof_join_backward(left, right_f, "k", "ts", "ts", ["ord"], "ord")
    right_i = spark.createDataFrame([(1, 5, 7)], "k long, ts long, ord int")
    out = asof_join_backward(left, right_i, "k", "ts", "ts", ["ord"], "ord")
    assert [r["asof_ord"] for r in out.collect()] == ["7"]


def test_tracked_caches_release(spark):
    """track_cache registers; release_tracked_caches unpersists and empties
    the registry (ADVICE r5: no per-sf cache accumulation)."""
    from sim_spark.scratch import release_tracked_caches, track_cache

    df = track_cache(spark.range(10))
    df.count()
    assert df.storageLevel.useMemory
    n = release_tracked_caches()
    assert n >= 1
    assert not df.storageLevel.useMemory
    assert release_tracked_caches() == 0


def test_grouped_exact_sums_matches_dsum_formulation(spark):
    """The two-stage long/decimal sum must be BIT-identical to the direct
    decimal-sum formulation (same per-row cast, same final double), on
    values exercising negatives, many decimals, and repeated groups."""
    import random

    from pyspark.sql import functions as F

    from sim_spark.exprs import dsum
    from sim_spark.ops.exact_sum import grouped_exact_sums

    rng = random.Random(7)
    rows = [
        (rng.choice("abc"), rng.uniform(-1e6, 1e6) * rng.choice([1, 1e-7, 1e5]))
        for _ in range(5000)
    ]
    df = spark.createDataFrame(rows, "g string, x double").repartition(13)
    fast = grouped_exact_sums(df, ["g"], {"sx": F.col("x")}, count_alias="n")
    slow = df.groupBy("g").agg(
        dsum("x").alias("sx"), F.count(F.lit(1)).alias("n")
    )
    a = {r["g"]: (r["sx"], r["n"]) for r in fast.collect()}
    b = {r["g"]: (r["sx"], r["n"]) for r in slow.collect()}
    assert a == b, (a, b)


def test_auto_join_equals_naive_randomized(spark, seed=3):
    """Plain joins with the band rule installed must return the
    Python-computed pairs on randomized timestamp and double bands,
    boundary-exact values included; the rule rewrites the bands without
    an equi key and stands aside for the one with an equi key."""
    import datetime
    import random

    _band_rule(spark)
    rng = random.Random(seed)
    base = datetime.datetime(2024, 3, 1)

    def rows():
        return [
            (i, rng.randrange(4), base + datetime.timedelta(seconds=rng.randrange(7200)),
             float(rng.randrange(200)) / 2)
            for i in range(300)
        ]

    lrows, rrows = rows(), rows()
    L = spark.createDataFrame(lrows, "lid long, lg int, lts timestamp, lv double")
    R = spark.createDataFrame(rrows, "rid long, rg int, rts timestamp, rv double")
    ten_min = datetime.timedelta(minutes=10)
    cases = [
        ((F.col("rts") >= F.col("lts") - F.expr("INTERVAL 10 MINUTE"))
         & (F.col("rts") <= F.col("lts")),
         lambda l, r: l[2] - ten_min <= r[2] <= l[2], True),
        ((F.col("lg") == F.col("rg"))
         & F.col("rv").between(F.col("lv") - 3, F.col("lv") + 3),
         lambda l, r: l[1] == r[1] and l[3] - 3 <= r[3] <= l[3] + 3, False),
        ((F.col("rv") > F.col("lv") - 2) & (F.col("rv") < F.col("lv") + 2),
         lambda l, r: l[3] - 2 < r[3] < l[3] + 2, True),
    ]
    for i, (cond, match, rewrites) in enumerate(cases):
        joined = L.join(R, cond)
        assert _rewritten(joined) == rewrites, f"cond {i}"
        want = sorted((l[0], r[0]) for l in lrows for r in rrows if match(l, r))
        got = _pairs(joined)
        assert got == want and want, f"cond {i}: {len(got)} joined vs {len(want)} expected"


def test_auto_join_falls_back_untouched(spark):
    """Conditions outside the band grammar (scaled attr, OR) and outer
    joins must plan without the rule and keep their rows."""
    _band_rule(spark)
    L = spark.createDataFrame([(1, 2.0)], "a long, x double")
    R = spark.createDataFrame([(1, 3.0)], "b long, y double")
    for cond, want in [
        (F.col("x") * 2 < F.col("y"), []),
        ((F.col("a") == F.col("b")) | (F.col("x") < F.col("y")), [(1, 2.0, 1, 3.0)]),
    ]:
        joined = L.join(R, cond)
        assert not _rewritten(joined)
        assert sorted(map(tuple, joined.collect())) == want
    # outer join is not rewritten (the band rewrite is inner-only)
    band = (F.col("y") >= F.col("x") - 1) & (F.col("y") <= F.col("x") + 1)
    outer = L.join(R, band, "left")
    assert not _rewritten(outer)
    assert sorted(map(tuple, outer.collect())) == [(1, 2.0, 1, 3.0)]


def test_grouped_exact_sums_null_measures_count_nonnull(spark):
    """n_{alias} must be COUNT(expr) (non-null evaluations), not
    COUNT(*) — the SUM/COUNT semantics an average needs when the
    measure column carries NULLs."""
    from sim_spark.ops.exact_sum import grouped_exact_sums

    df = spark.createDataFrame(
        [("a", 1.5), ("a", None), ("a", 2.5), ("b", None)], "g string, x double"
    ).repartition(3)
    out = {r["g"]: r for r in grouped_exact_sums(
        df, ["g"], {"sx": F.col("x")}, count_alias="nrows"
    ).collect()}
    assert out["a"]["sx"] == 4.0 and out["a"]["n_sx"] == 2 and out["a"]["nrows"] == 3
    assert out["b"]["sx"] is None and out["b"]["n_sx"] == 0 and out["b"]["nrows"] == 1


def test_auto_join_date_band(spark):
    """DATE ± int-days bands bucket on unix_date (timezone-free): the
    rule must replan the plain join to a nested-loop-free plan with the
    Python-computed pairs."""
    import datetime

    _band_rule(spark)
    d0 = datetime.date(2024, 1, 1)
    lrows = [(i, d0 + datetime.timedelta(days=3 * i)) for i in range(80)]
    rrows = [(i, d0 + datetime.timedelta(days=5 * i + 1)) for i in range(80)]
    L = spark.createDataFrame(lrows, "lid long, ld date")
    R = spark.createDataFrame(rrows, "rid long, rd date")
    joined = L.join(
        R,
        (F.col("rd") >= F.date_sub(F.col("ld"), 4))
        & (F.col("rd") <= F.date_add(F.col("ld"), 4)),
    )
    four = datetime.timedelta(days=4)
    want = sorted(
        (lid, rid) for lid, ld in lrows for rid, rd in rrows if ld - four <= rd <= ld + four
    )
    assert _rewritten(joined)
    assert _pairs(joined) == want and want
    p = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, p


def test_auto_join_day_offset_on_timestamp_falls_back(spark):
    """date_add/date_sub offsets are DAY counts; on a TIMESTAMP axis they
    truncate to a date, so the bound is no attr ± literal band and the
    rule must stand aside (a day-granular offset read as microseconds
    would shrink the band 86400e6x and drop matches)."""
    import datetime

    _band_rule(spark)
    t0 = datetime.datetime(2024, 1, 1)
    lrows = [(i, t0 + datetime.timedelta(hours=7 * i)) for i in range(60)]
    rrows = [(i, t0 + datetime.timedelta(hours=11 * i + 1)) for i in range(60)]
    L = spark.createDataFrame(lrows, "lid long, lts timestamp")
    R = spark.createDataFrame(rrows, "rid long, rts timestamp")
    joined = L.join(
        R,
        (F.col("rts") >= F.date_sub(F.col("lts"), 4))
        & (F.col("rts") <= F.date_add(F.col("lts"), 4)),
    )

    def midnight(t, days):  # date_add(ts, n) compared back as a timestamp
        return datetime.datetime.combine(t.date() + datetime.timedelta(days=days),
                                         datetime.time())

    want = sorted(
        (lid, rid)
        for lid, lt in lrows
        for rid, rt in rrows
        if midnight(lt, -4) <= rt <= midnight(lt, 4)
    )
    assert not _rewritten(joined)
    assert _pairs(joined) == want and want


@pytest.mark.parametrize("seed", [0, 1])
@pytest.mark.parametrize("direction_op", ["backward", "forward"])
def test_auto_asof_matches_composite_and_naive(spark, seed, direction_op):
    """auto_asof must classify the naive predicate and produce exactly
    the asof composite's output, which in turn matches the per-row
    argmax subquery — both directions, ties included (ts collisions are
    forced by the small value range)."""
    import random

    from sim_spark.ops.asof import asof_join_backward
    from sim_spark.ops.asof import auto_asof

    rng = random.Random(seed)
    L = spark.createDataFrame(
        [(i, rng.randrange(5), rng.randrange(30)) for i in range(80)],
        "lid long, lkey long, lts long",
    )
    R = spark.createDataFrame(
        [(i, rng.randrange(5), rng.randrange(30)) for i in range(120)],
        "rid long, rkey long, rts long",
    )
    if direction_op == "backward":
        cond = (F.col("lkey") == F.col("rkey")) & (F.col("rts") <= F.col("lts"))
    else:
        cond = (F.col("rts") >= F.col("lts")) & (F.col("rkey") == F.col("lkey"))
    got = auto_asof(L, R, cond, right_order="rid", payload_cols=["rid"])
    direct = asof_join_backward(
        L,
        R.withColumnRenamed("rkey", "lkey"),
        key="lkey",
        left_ts="lts",
        right_ts="rts",
        payload_cols=["rid"],
        right_order="rid",
        direction=direction_op,
    )
    g = sorted(map(tuple, got.select("lid", "asof_rid").collect()))
    d = sorted(map(tuple, direct.select("lid", "asof_rid").collect()))
    assert g == d, f"auto vs direct diverge ({direction_op}, seed={seed})"

    rrows = R.collect()
    lrows = L.collect()
    naive = {}
    for lr in lrows:
        if direction_op == "backward":
            cand = [r for r in rrows if r.rkey == lr.lkey and r.rts <= lr.lts]
            best = max(cand, key=lambda r: (r.rts, r.rid)) if cand else None
        else:
            cand = [r for r in rrows if r.rkey == lr.lkey and r.rts >= lr.lts]
            best = min(cand, key=lambda r: (r.rts, r.rid)) if cand else None
        naive[lr.lid] = str(best.rid) if best is not None else None
    assert dict(g) == naive, f"auto vs naive argmax diverge ({direction_op})"


def test_auto_asof_rejects_non_asof_predicates(spark):
    """No silent fallback: strict inequality (tie semantics differ),
    missing equi key, extra unrecognized conjuncts, and shared column
    names must all raise, never guess."""
    from sim_spark.ops.asof import auto_asof

    L = spark.createDataFrame([(1, 1, 5)], "lid long, lkey long, lts long")
    R = spark.createDataFrame([(2, 1, 4)], "rid long, rkey long, rts long")
    bad = [
        (F.col("lkey") == F.col("rkey")) & (F.col("rts") < F.col("lts")),  # strict
        F.col("rts") <= F.col("lts"),  # no equi key
        (F.col("lkey") == F.col("rkey"))
        & (F.col("rts") <= F.col("lts"))
        & (F.col("rts") * 2 <= F.col("lts")),  # unrecognized extra
    ]
    for cond in bad:
        with pytest.raises(ValueError):
            auto_asof(L, R, cond, right_order="rid")
    with pytest.raises(ValueError):
        auto_asof(L, L, (F.col("lkey") == F.col("lkey")), right_order="lid")


def test_sql_band_rule_preserves_rows_randomized(spark):
    """The Catalyst band rewrite must be row-identical to the naive SQL
    join — checked against a Python-computed expectation (the in-session
    naive leg would itself be rewritten), with NULLs, negatives, and
    duplicate axis values in play."""
    import random

    from sim_spark.ops.sqlband import diagnostics, install_sql_band_extension

    assert install_sql_band_extension(spark)

    rng = random.Random(7)
    lrows = [
        (i, rng.randrange(-50, 50) if rng.random() > 0.1 else None)
        for i in range(200)
    ]
    rrows = [
        (i, rng.randrange(-50, 50) if rng.random() > 0.1 else None)
        for i in range(200)
    ]
    spark.createDataFrame(lrows, "lid long, x long").createOrReplaceTempView(
        "sqlband_l"
    )
    spark.createDataFrame(rrows, "rid long, y long").createOrReplaceTempView(
        "sqlband_r"
    )
    before = diagnostics(spark)["rewrites"]
    got = sorted(
        map(
            tuple,
            spark.sql(
                "SELECT lid, rid FROM sqlband_l JOIN sqlband_r "
                "ON y >= x - 7 AND y <= x + 2"
            ).collect(),
        )
    )
    assert diagnostics(spark)["rewrites"] > before, "rule did not fire"
    want = sorted(
        (lid, rid)
        for lid, x in lrows
        for rid, y in rrows
        if x is not None and y is not None and x - 7 <= y <= x + 2
    )
    assert got == want, f"{len(got)} rewritten vs {len(want)} naive"


def test_auto_join_epoch_ns_scale_double_axis(spark):
    """DOUBLE axes at epoch-ns magnitude (~1.6e18) with a narrow band
    push the bucket quotient past the 53-bit float-division accuracy
    horizon; the ±2^50 clamp must co-bucket those rows so the refine
    keeps them (the old ±2^62 clamp left multi-bucket rounding error
    inside the "trusted" range and silently dropped matches — r9
    ADVICE). Mixed magnitudes prove saturated and normal buckets
    coexist. DataFrame spelling; the SQL spelling is
    test_sql_band_rule_huge_double_axis."""
    _band_rule(spark)
    base = 1_600_000_000_000_000_000
    lrows = [(i, float(base + 37 * i)) for i in range(120)]
    lrows += [(200 + i, float(i) * 3) for i in range(40)]  # normal scale
    rrows = [(i, float(base + 37 * i + (i % 5) * 20 - 40)) for i in range(120)]
    rrows += [(200 + i, float(i) * 5) for i in range(40)]
    L = spark.createDataFrame(lrows, "lid long, lv double")
    R = spark.createDataFrame(rrows, "rid long, rv double")
    joined = L.join(
        R, (F.col("rv") >= F.col("lv") - 50.0) & (F.col("rv") <= F.col("lv") + 50.0)
    )
    want = sorted(
        (lid, rid) for lid, lv in lrows for rid, rv in rrows if lv - 50.0 <= rv <= lv + 50.0
    )
    assert _rewritten(joined)
    assert _pairs(joined) == want and want


def test_sql_band_rule_huge_double_axis(spark):
    """The compiled rule's fractional path on epoch-ns-scale DOUBLE axes:
    quotients beyond 2^50 saturate-co-bucket; rows must equal the
    Python-computed naive expectation and the rule must still fire."""
    from sim_spark.ops.sqlband import diagnostics, install_sql_band_extension

    assert install_sql_band_extension(spark)

    base = 1_600_000_000_000_000_000
    lrows = [(i, float(base + 37 * i)) for i in range(100)]
    lrows += [(200 + i, float(i) * 3) for i in range(30)]
    rrows = [(i, float(base + 37 * i + (i % 5) * 20 - 40)) for i in range(100)]
    rrows += [(200 + i, float(i) * 5) for i in range(30)]
    spark.createDataFrame(lrows, "lid long, x double").createOrReplaceTempView(
        "sqlband_hl"
    )
    spark.createDataFrame(rrows, "rid long, y double").createOrReplaceTempView(
        "sqlband_hr"
    )
    before = diagnostics(spark)["rewrites"]
    got = sorted(
        map(
            tuple,
            spark.sql(
                "SELECT lid, rid FROM sqlband_hl JOIN sqlband_hr "
                "ON y >= x - 50.0 AND y <= x + 50.0"
            ).collect(),
        )
    )
    assert diagnostics(spark)["rewrites"] > before, "rule did not fire"
    want = sorted(
        (lid, rid)
        for lid, x in lrows
        for rid, y in rrows
        if x - 50.0 <= y <= x + 50.0
    )
    assert got == want, f"{len(got)} rewritten vs {len(want)} naive"


def test_sql_band_rule_denormal_width_stays_naive(spark):
    """A sub-1e-300 band width in SQL text must NOT replan (the double
    divide hazard above); the naive plan's answer stands."""
    from sim_spark.ops.sqlband import diagnostics, install_sql_band_extension

    assert install_sql_band_extension(spark)

    spark.createDataFrame(
        [(1, -1.0), (2, 0.0), (3, 1.0)], "lid long, x double"
    ).createOrReplaceTempView("sqlband_dl")
    spark.createDataFrame(
        [(1, -1.0), (2, 0.0), (3, 2.0)], "rid long, y double"
    ).createOrReplaceTempView("sqlband_dr")
    before = diagnostics(spark)["rewrites"]
    got = sorted(
        map(
            tuple,
            spark.sql(
                "SELECT lid, rid FROM sqlband_dl JOIN sqlband_dr "
                "ON y >= x - 2.5e-310 AND y <= x + 2.5e-310"
            ).collect(),
        )
    )
    assert diagnostics(spark)["rewrites"] == before, "rule fired on denormal width"
    assert got == [(1, 1), (2, 2)]


def _add_months(t, k: int):
    """Spark's add_months on a date or datetime: the day clamps to the
    target month's end, the time of day is kept."""
    import calendar

    m = t.month - 1 + k
    y, m = t.year + m // 12, m % 12 + 1
    return t.replace(year=y, month=m, day=min(t.day, calendar.monthrange(y, m)[1]))


def test_auto_join_month_interval_band(spark):
    """Year-month-interval bands (r10) bucket on the exact month index
    (year*12+month): DATE and TIMESTAMP axes, MONTH and YEAR units, with
    day-clamping anchors (month-end dates) in play — the plain join must
    be replanned, nested-loop-free, with the Python-computed pairs."""
    import datetime

    _band_rule(spark)
    d0 = datetime.date(2023, 1, 31)  # month-end: add_months clamping hit
    lrows = [(i, d0 + datetime.timedelta(days=13 * i)) for i in range(70)]
    rrows = [(i, d0 + datetime.timedelta(days=8 * i + 2)) for i in range(70)]
    L = spark.createDataFrame(lrows, "lid long, ld date")
    R = spark.createDataFrame(rrows, "rid long, rd date")
    joined = L.join(
        R,
        (F.col("rd") >= F.col("ld") - F.expr("INTERVAL '3' MONTH"))
        & (F.col("rd") <= F.col("ld")),
    )
    want = sorted(
        (lid, rid)
        for lid, ld in lrows
        for rid, rd in rrows
        if _add_months(ld, -3) <= rd <= ld
    )
    assert _rewritten(joined)
    assert _pairs(joined) == want and want
    p = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p

    t0 = datetime.datetime(2022, 2, 28, 23, 59)
    lrows = [(i, t0 + datetime.timedelta(days=40 * i, hours=i)) for i in range(40)]
    rrows = [(i, t0 + datetime.timedelta(days=25 * i + 5, hours=3 * i)) for i in range(40)]
    LT = spark.createDataFrame(lrows, "lid long, lt timestamp")
    RT = spark.createDataFrame(rrows, "rid long, rt timestamp")
    joined = LT.join(
        RT,
        (F.col("rt") >= F.col("lt") - F.expr("INTERVAL '1' YEAR"))
        & (F.col("rt") < F.col("lt")),
    )
    want = sorted(
        (lid, rid)
        for lid, lt in lrows
        for rid, rt in rrows
        if _add_months(lt, -12) <= rt < lt
    )
    assert _rewritten(joined)
    assert _pairs(joined) == want and want


def test_auto_join_month_mixed_daytime_falls_back(spark):
    """A month offset mixed with a NONZERO day-time offset on the same
    pair has no common exact bucket unit — the rule must stand aside
    (never bucket month deltas against micros) and the plain join keeps
    the Python-computed pairs."""
    import datetime

    _band_rule(spark)
    t0 = datetime.datetime(2024, 1, 15)
    lrows = [(i, t0 + datetime.timedelta(days=11 * i)) for i in range(30)]
    rrows = [(i, t0 + datetime.timedelta(days=7 * i + 1)) for i in range(30)]
    L = spark.createDataFrame(lrows, "lid long, lt timestamp")
    R = spark.createDataFrame(rrows, "rid long, rt timestamp")
    joined = L.join(
        R,
        (F.col("rt") >= F.col("lt") - F.expr("INTERVAL '1' MONTH"))
        & (F.col("rt") <= F.col("lt") + F.expr("INTERVAL '1' DAY")),
    )
    day = datetime.timedelta(days=1)
    want = sorted(
        (lid, rid)
        for lid, lt in lrows
        for rid, rt in rrows
        if _add_months(lt, -1) <= rt <= lt + day
    )
    assert not _rewritten(joined)
    assert _pairs(joined) == want and want


def test_auto_join_wide_decimal_axis(spark):
    """DECIMAL axes wider than 15 integral digits (r10 unfence): the
    double cast rounds, but the ±2^50 bucket clamp keeps the quotient
    inside the accuracy horizon, so the ±1 margin covers it — the
    replanned join returns the exact Decimal pairs on 20-integral-digit
    values with fractional cents."""
    from decimal import Decimal

    from pyspark.sql import types as T

    _band_rule(spark)
    sl = T.StructType(
        [T.StructField("lid", T.LongType()), T.StructField("x", T.DecimalType(25, 2))]
    )
    sr = T.StructType(
        [T.StructField("rid", T.LongType()), T.StructField("y", T.DecimalType(25, 2))]
    )
    lrows = [(i, Decimal(10**19 + i * 7) + Decimal("0.25")) for i in range(60)]
    rrows = [(i, Decimal(10**19 + i * 11 + 3) + Decimal("0.50")) for i in range(60)]
    L = spark.createDataFrame(lrows, sl)
    R = spark.createDataFrame(rrows, sr)
    joined = L.join(R, (F.col("y") >= F.col("x") - 20) & (F.col("y") <= F.col("x") + 20))
    want = sorted(
        (lid, rid) for lid, x in lrows for rid, y in rrows if x - 20 <= y <= x + 20
    )
    assert _rewritten(joined)
    assert _pairs(joined) == want and want


_LONG_MAX = (1 << 63) - 1
_LONG_MIN = -(1 << 63)


@pytest.mark.parametrize(
    "case",
    ["ts_high", "ts_low", "long_high", "long_low", "fence", "straddle", "straddle_away"],
)
def test_band_rule_long_path_edges(spark, case):
    """The exact kinds bucket in saturating long arithmetic. At the long
    limits the rule's own `axis + offset` would overflow (an ANSI abort)
    where the naive join, which only evaluates its predicate on the side
    that stays in range, returns rows; a band away from zero with
    offsets near the 2^61 fence and pre-1970 (negative) values around
    bucket 0 must bucket exactly too. Each case must not raise and must
    return the Python-computed pairs."""
    _band_rule(spark)
    k = 2**61
    if case in ("ts_high", "ts_low"):
        edge = (_LONG_MAX - 10) if case == "ts_high" else -(_LONG_MAX - 10)
        sign = -1 if case == "ts_high" else 1
        lvals = [edge + sign * d for d in (0, 3, 7, 4_000_000, 9_000_000, 5 * 10**12)]
        rvals = [edge + sign * d for d in (0, 1, 6, 2_000_000, 8_000_000, 10**9)]
        lvals += [0, -86_400_000_000 * 365]  # 1970 and 1969: ordinary rows
        rvals += [3_000_000, -86_400_000_000 * 365 - 4_000_000]
        five = 5_000_000
        if case == "ts_high":
            # r - 5 s <= l: the naive side never exceeds r; the rule's
            # bucket adds +5 s to l
            sql = ("r_ts - INTERVAL 5 SECONDS <= l_ts AND r_ts >= l_ts")
            match = lambda x, y: x <= y <= x + five  # noqa: E731
        else:
            sql = ("r_ts + INTERVAL 5 SECONDS >= l_ts AND r_ts <= l_ts")
            match = lambda x, y: x - five <= y <= x  # noqa: E731
        L = spark.createDataFrame(list(enumerate(lvals)), "lid long, lx long").selectExpr(
            "lid", "timestamp_micros(lx) AS l_ts")
        R = spark.createDataFrame(list(enumerate(rvals)), "rid long, ry long").selectExpr(
            "rid", "timestamp_micros(ry) AS r_ts")
    else:
        if case == "long_high":
            lvals = [_LONG_MAX - d for d in (0, 2, 5, 9, 40)] + [0, -3]
            rvals = [_LONG_MAX - d for d in (0, 1, 4, 12, 30)] + [2, -8]
            sql = "ry - 5 <= lx AND ry >= lx - 5"
            match = lambda x, y: x - 5 <= y <= x + 5  # noqa: E731
        elif case == "long_low":
            lvals = [_LONG_MIN + d for d in (0, 2, 5, 9, 40)] + [0, -3]
            rvals = [_LONG_MIN + d for d in (0, 1, 4, 12, 30)] + [2, -8]
            sql = "ry + 5 >= lx AND ry <= lx + 5"
            match = lambda x, y: x - 5 <= y <= x + 5  # noqa: E731
        elif case == "fence":
            # a band [2^61 - 10, 2^61] far from zero; l near Long.MAX
            # (no partner exists, but its bucket must not overflow)
            base = _LONG_MAX - k
            lvals = [base - d for d in (0, 3, 10, 25)] + [_LONG_MAX - d for d in (0, 7)]
            lvals += [-k - 5, -7, 0]
            rvals = [base + k - d for d in (0, 4, 9, 11, 40)] + [-8, k - 9, k + 1]
            sql = f"ry - {k} >= lx - 10 AND ry - {k} <= lx"
            match = lambda x, y: k - 10 <= y - x <= k  # noqa: E731
        else:
            # dense pre-/post-zero values: truncating `div` makes bucket
            # 0 twice as wide as the others
            lvals = list(range(-30, 31, 3))
            rvals = list(range(-31, 32, 2))
            lo, hi = (-3, 4) if case == "straddle" else (2, 9)
            sql = f"ry >= lx + {lo} AND ry <= lx + {hi}"
            match = lambda x, y: lo <= y - x <= hi  # noqa: E731
        L = spark.createDataFrame(list(enumerate(lvals)), "lid long, lx long")
        R = spark.createDataFrame(list(enumerate(rvals)), "rid long, ry long")
    joined = L.join(R, F.expr(sql))
    want = sorted(
        (i, j) for i, x in enumerate(lvals) for j, y in enumerate(rvals) if match(x, y)
    )
    assert _rewritten(joined)
    assert _pairs(joined) == want and want



def test_sql_band_rule_month_interval_preserves_rows(spark):
    """The compiled rule's month-index path must be row-identical to the
    Python-computed naive expectation, including add_months day-clamping
    anchors, and must fire (rewrites counter)."""
    import datetime

    from sim_spark.ops.sqlband import diagnostics, install_sql_band_extension

    assert install_sql_band_extension(spark)

    d0 = datetime.date(2024, 1, 15)
    lrows = [(i, d0 + datetime.timedelta(days=11 * i)) for i in range(60)]
    rrows = [(i, d0 + datetime.timedelta(days=7 * i + 3)) for i in range(60)]
    spark.createDataFrame(lrows, "lid long, x date").createOrReplaceTempView(
        "sqlband_ml"
    )
    spark.createDataFrame(rrows, "rid long, y date").createOrReplaceTempView(
        "sqlband_mr"
    )
    before = diagnostics(spark)["rewrites"]
    got = sorted(
        map(
            tuple,
            spark.sql(
                "SELECT lid, rid FROM sqlband_ml JOIN sqlband_mr "
                "ON y >= x - INTERVAL '2' MONTH AND y <= x"
            ).collect(),
        )
    )
    assert diagnostics(spark)["rewrites"] > before, "rule did not fire"

    want = sorted(
        (lid, rid)
        for lid, x in lrows
        for rid, y in rrows
        if _add_months(x, -2) <= y <= x
    )
    assert got == want, f"{len(got)} rewritten vs {len(want)} naive"


def test_candidate_density_guardrail(spark):
    """r12 (r11 verdict task #4): the exact pair generators refuse —
    loudly, up front, with a pointer to the banded twins — when bucket
    density would exceed the candidate budget, instead of OOMing
    mid-job; under the budget they are a no-op returning the exact
    candidate count."""
    import pyspark.sql.functions as F
    import pytest

    from sim_spark.ops.setsim import CandidateDensityError, check_candidate_density

    # 1000 members in ONE bucket -> 499,500 candidates
    dense = spark.range(1000).select(F.lit(7).alias("h"), F.col("id"))
    n = check_candidate_density(
        dense, ["h"], what="t", twins="tw", budget=10_000_000
    )
    assert n == 1000 * 999 // 2
    with pytest.raises(CandidateDensityError) as ei:
        check_candidate_density(dense, ["h"], what="t", twins="banded-tw", budget=1000)
    assert "banded-tw" in str(ei.value) and "499,500" in str(ei.value)
    # empty frame: zero mass, no refusal
    empty = dense.filter("id < 0")
    assert check_candidate_density(empty, ["h"], what="t", twins="tw", budget=1) == 0
    # env override is honored
    import os

    os.environ["SIM_SPARK_EXACT_PAIR_BUDGET"] = "100"
    try:
        with pytest.raises(CandidateDensityError):
            check_candidate_density(dense, ["h"], what="t", twins="tw")
    finally:
        del os.environ["SIM_SPARK_EXACT_PAIR_BUDGET"]


def test_jaccard_prefix_join_unchanged_under_budget(spark):
    """The guardrail must not change the exact output where it admits
    the run (the hash oracle pins this too — belt and braces)."""
    import pyspark.sql.functions as F

    from sim_spark.ops.setsim import jaccard_join_prefix

    rows = [
        (1, ["a", "b", "c", "d", "e"]),
        (2, ["a", "b", "c", "d", "e"]),
        (3, ["a", "b", "c", "d", "f"]),
        (4, ["x", "y", "z", "w", "v"]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, shingles array<string>")
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_join_prefix(df, 0.6).collect()
    }
    assert out[(1, 2)] == 1.0
    assert abs(out[(1, 3)] - 4 / 6) < 1e-5  # output is round(j, 6)
    assert (1, 4) not in out and (2, 4) not in out


def test_materialize_cache_ok_rows_and_partitioning(spark, monkeypatch):
    """r14/r15: cache_ok materialize must (a) return the same rows,
    (b) be eagerly cached so every downstream reference short-circuits
    into an InMemoryTableScan (one evaluation total — the point vs
    localCheckpoint's extra pass), (c) register in the tracked-cache
    pool so the bench releases it between keys, and (d — r15) return a
    FLAT logical plan: a bare InMemoryRelation leaf, so a K-round loop
    over cached states builds O(K) plans instead of the 2^K-inlined
    trees that made graph_betweenness_sampled's wall pure catalyst
    planning (57 988-line analyzed plan, VERDICT r14 item 2)."""
    import pyspark.sql.functions as F

    from sim_spark.ops.materialize import materialize
    from sim_spark import scratch

    monkeypatch.delenv("SIM_SPARK_CHECKPOINT_DIR", raising=False)
    base = spark.range(0, 1000).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v")
    )
    agg = base.groupBy("k").agg(F.sum("v").alias("s"))
    before = len(scratch._TRACKED_CACHES)
    mat = materialize(agg, cache_ok=True)
    assert len(scratch._TRACKED_CACHES) == before + 1  # (c)
    tracked = scratch._TRACKED_CACHES[-1]
    expect = {(r["k"], r["s"]) for r in agg.collect()}
    assert {(r["k"], r["s"]) for r in mat.collect()} == expect  # (a)
    # (b): the cache is populated eagerly and consumers read it
    assert tracked.storageLevel.useMemory
    plan = (
        mat.groupBy("k")
        .agg(F.max("s"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "InMemoryTableScan" in plan
    # (d): the returned frame's LOGICAL plan is the IMR leaf itself —
    # nothing upstream for the analyzer/optimizer to re-walk. (The wrap
    # falls back to the plain cached frame only when its JVM lookup
    # fails; here it must engage.)
    analyzed = mat._jdf.queryExecution().analyzed()
    assert analyzed.getClass().getSimpleName() == "InMemoryRelation"
    assert analyzed.children().size() == 0  # leaf: no logical upstream
    # releasing the TRACKED frame still works (the bench contract)
    tracked.unpersist()
    scratch._TRACKED_CACHES.remove(tracked)
    # after release, the wrapped frame recomputes from the baked plan
    assert {(r["k"], r["s"]) for r in mat.collect()} == expect
    # without cache_ok the dir-unset cut is local too: no parquet relation
    cut = materialize(agg)._jdf.queryExecution().analyzed().toString()
    assert "parquet" not in cut.lower(), cut


def test_flat_cached_degrades_with_one_warning(spark, monkeypatch):
    """When the JVM lookup behind the flat rewrap fails (here: the
    ``classic.Dataset`` class is missing, so py4j hands back a package
    and calling it raises), materialize returns the plain cached frame
    and says so once per process, not once per call."""
    import warnings

    from py4j.protocol import Py4JError

    import sim_spark.ops.materialize as mat
    from sim_spark import scratch

    class _MissingClass:
        def __getattr__(self, name):
            return self

        def __call__(self, *args):
            raise Py4JError("Trying to call a package.")

    monkeypatch.delenv("SIM_SPARK_CHECKPOINT_DIR", raising=False)
    monkeypatch.setattr(mat, "_WARNED", False)
    agg = spark.range(0, 100).groupBy((F.col("id") % 3).alias("k")).agg(
        F.sum("id").alias("s")
    )
    expect = sorted(map(tuple, agg.collect()))
    with monkeypatch.context() as m, warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        m.setattr(spark, "_jvm", _MissingClass())
        outs = [mat.materialize(agg, cache_ok=True) for _ in range(2)]
    ours = [w for w in seen if issubclass(w.category, RuntimeWarning)]
    assert len(ours) == 1, [str(w.message) for w in seen]
    assert "Py4JError" in str(ours[0].message)
    for out in outs:
        assert sorted(map(tuple, out.collect())) == expect
    scratch.release_tracked_caches()


def test_spread_probe_failure_warns_once_and_keeps_layout(spark, monkeypatch):
    """When a JVM call of spread()'s layout probe fails, the frame comes
    back unchanged, with one RuntimeWarning per process, not per call."""
    import warnings

    from py4j.protocol import Py4JError

    import sim_spark.ops.spread as sp

    class _Raising:
        def __getattr__(self, name):
            raise Py4JError(f"probe call {name} failed")

    df = spark.range(0, 100)
    # the healthy probe fans this one-split frame out to the task slots
    assert sp.spread(df) is not df
    monkeypatch.setattr(sp, "_WARNED", False)
    with monkeypatch.context() as m, warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        m.setattr(spark, "_jsparkSession", _Raising())
        outs = [sp.spread(df) for _ in range(2)]
    assert all(out is df for out in outs)
    ours = [w for w in seen if issubclass(w.category, RuntimeWarning)]
    assert len(ours) == 1, [str(w.message) for w in seen]
    assert "Py4JError" in str(ours[0].message)


def test_sql_band_install_failure_warns_and_returns_false(spark, monkeypatch):
    """A jar whose classes cannot be loaded (here: the path names no
    file, so the JVM class load raises) makes the install return False
    with one RuntimeWarning; the per-session memo keeps a second call
    quiet."""
    import warnings

    import sim_spark.ops.sqlband as sb

    monkeypatch.setattr(sb, "_JAR", sb._JAR + ".missing")
    monkeypatch.setattr(sb, "_INSTALLED", {})
    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        results = [sb.install_sql_band_extension(spark) for _ in range(2)]
    assert results == [False, False]
    ours = [w for w in seen if issubclass(w.category, RuntimeWarning)]
    assert len(ours) == 1, [str(w.message) for w in seen]
    assert "Py4JJavaError" in str(ours[0].message)
    assert sb.diagnostics(spark) is None
