"""Relational classifiers / ensemble quality gates over `documents`.

The operators are DataFrame plans — no MLlib, no Python UDFs — so
they inherit partial+final aggregation, AQE, and broadcast decisions
like any other query, and they scale exactly like the aggregations they
are made of. Two exceptions share one path (_fit_in_one_task):
ml_adaboost_stumps and ml_gbt_residual_stumps reduce the corpus to a
histogram of at most 66 cells in Spark and fit their stumps from it in
one Python task.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from sim_spark.io import table
from sim_spark.registry import query

_NB_VOCAB = 200


def _nb_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared NB scoring pipeline → (doc_id, actual, predicted): the
    broadcast-grid plan both `ml_naive_bayes_lang` (confusion matrix)
    and `ml_eval_prf` (P/R/F1) reduce from, so the two keys pin the
    SAME argmax predictions."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("word"))
    vocab = (
        tok.groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
        .orderBy(F.desc("wc"), F.asc("word"))
        .limit(_NB_VOCAB)
        .select("word")
    )
    vtok = tok.join(F.broadcast(vocab), "word")
    cnt_wl = vtok.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("c"))
    tot_l = cnt_wl.groupBy("lang").agg(F.sum("c").alias("tot"))
    vsize = vocab.agg(F.count(F.lit(1)).alias("v"))
    langs = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    n = d.agg(F.count(F.lit(1)).alias("n"))
    grid = (
        vocab.crossJoin(langs.select("lang"))
        .join(cnt_wl, ["lang", "word"], "left")
        .join(tot_l, "lang")
        .crossJoin(vsize)
        .select(
            "lang",
            "word",
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1.0))
                / (F.col("tot") + F.col("v"))
            ).alias("logp"),
        )
    )
    wordscore = (
        vtok.select("doc_id", "word")
        .join(F.broadcast(grid), "word")
        .groupBy("doc_id", "lang")
        .agg(F.sum("logp").alias("ll"))
    )
    base = (
        d.select("doc_id", F.col("lang").alias("actual"))
        .crossJoin(F.broadcast(langs.withColumnRenamed("lang", "cand")))
        .crossJoin(n)
    )
    ws = wordscore.withColumnRenamed("lang", "cand").withColumnRenamed(
        "doc_id", "ws_doc"
    )
    scored = base.join(
        ws, (base["doc_id"] == ws["ws_doc"]) & (base["cand"] == ws["cand"]), "left"
    ).select(
        base["doc_id"],
        "actual",
        base["cand"],
        (
            F.log(F.col("n_docs") * F.lit(1.0) / F.col("n"))
            + F.coalesce(F.col("ll"), F.lit(0.0))
        ).alias("score"),
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("cand"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "actual", F.col("cand").alias("predicted"))
    )


@query(
    "ml_naive_bayes_lang",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, unnest(str_split(text, ' ')) AS word FROM documents
),
vocab AS (
  SELECT word FROM tok GROUP BY word
  ORDER BY count(*) DESC, word ASC LIMIT {_NB_VOCAB}
),
vtok AS (SELECT t.* FROM tok t JOIN vocab v USING (word)),
cnt_wl AS (SELECT lang, word, count(*) AS c FROM vtok GROUP BY lang, word),
tot_l AS (SELECT lang, sum(c) AS tot FROM cnt_wl GROUP BY lang),
vsize AS (SELECT count(*) AS v FROM vocab),
langs AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
n AS (SELECT count(*) AS n FROM documents),
grid AS (
  SELECT l.lang, v.word,
         ln((COALESCE(c.c, 0) + 1.0) / (t.tot + s.v)) AS logp
  FROM (SELECT word FROM vocab) v
  CROSS JOIN (SELECT lang FROM langs) l
  LEFT JOIN cnt_wl c ON c.lang = l.lang AND c.word = v.word
  JOIN tot_l t ON t.lang = l.lang
  CROSS JOIN vsize s
),
wordscore AS (
  SELECT d.doc_id, g.lang, sum(g.logp) AS ll
  FROM (SELECT doc_id, word FROM vtok) d JOIN grid g USING (word)
  GROUP BY d.doc_id, g.lang
),
scored AS (
  SELECT d.doc_id, d.lang AS actual, l.lang AS cand,
         ln(l.n_docs * 1.0 / n.n) + COALESCE(w.ll, 0.0) AS score
  FROM documents d
  CROSS JOIN langs l CROSS JOIN n
  LEFT JOIN wordscore w ON w.doc_id = d.doc_id AND w.lang = l.lang
),
pred AS (
  SELECT doc_id, actual, cand AS predicted,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand ASC) AS rn
  FROM scored
)
SELECT actual, predicted, count(*) AS n_docs
FROM pred WHERE rn = 1 GROUP BY actual, predicted
""",
)
def ml_naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes (Laplace-smoothed, top-200 vocab) trained
    and scored relationally; output is the lang confusion matrix.

    Every model artifact stays distributed: vocabulary selection is a
    bounded top-k aggregate, the (word × lang) log-probability grid is
    vocab×|langs| rows (tiny → Spark broadcasts it into the token join),
    and scoring is one groupBy(doc, lang) sum — linear shuffles only, no
    driver-side model materialization, so the same plan runs at 100 TB.
    Argmax compares raw double scores; margins (driven by integer count
    differences through ln) are astronomically larger than cross-engine
    summation-order drift, and the row_number tie-break is total.
    """
    pred = _nb_predictions(spark, sf_dir)
    return pred.groupBy(
        "actual", F.col("predicted").alias("predicted")
    ).agg(F.count(F.lit(1)).alias("n_docs"))


@query(
    "quality_ensemble_filter",
    oracle="""
WITH sig AS (
  SELECT source,
         CASE WHEN n_chars BETWEEN 100 AND 5000 THEN 1 ELSE 0 END AS len_ok,
         CASE WHEN len(str_split(text, ' ')) >= 20 THEN 1 ELSE 0 END AS words_ok,
         CASE WHEN len(list_filter(str_split(text, ' '),
                                   x -> x = 'a' OR x = 'the')) * 10
              >= len(str_split(text, ' ')) THEN 1 ELSE 0 END AS stop_ok,
         CASE WHEN len(list_distinct(str_split(text, ' '))) * 4
              >= len(str_split(text, ' ')) THEN 1 ELSE 0 END AS div_ok
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(len_ok) AS BIGINT) AS n_len_ok,
       CAST(sum(words_ok) AS BIGINT) AS n_words_ok,
       CAST(sum(stop_ok) AS BIGINT) AS n_stop_ok,
       CAST(sum(div_ok) AS BIGINT) AS n_div_ok,
       CAST(sum(len_ok * words_ok * stop_ok * div_ok) AS BIGINT) AS n_pass
FROM sig GROUP BY source
""",
)
def quality_ensemble_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble document-quality gate (length, word count, stopword
    ratio, lexical diversity) with per-source pass rates — the curation
    step that decides what enters a training mix.

    All four signals are INTEGER comparisons (ratio thresholds cleared
    of division: `stop*10 >= n_words`), so the pass/fail decision is
    bitwise-identical in any engine — no float-boundary flakiness. One
    narrow scan + one hash aggregate; array HOFs keep the token work
    inside codegen, nothing leaves the JVM.
    """
    d = table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    n_words = F.size(ws)
    stop_hits = F.size(F.filter(ws, lambda x: (x == "a") | (x == "the")))
    n_distinct = F.size(F.array_distinct(ws))
    sig = d.select(
        "source",
        F.when(F.col("n_chars").between(100, 5000), 1).otherwise(0).alias("len_ok"),
        F.when(n_words >= 20, 1).otherwise(0).alias("words_ok"),
        F.when(stop_hits * 10 >= n_words, 1).otherwise(0).alias("stop_ok"),
        F.when(n_distinct * 4 >= n_words, 1).otherwise(0).alias("div_ok"),
    )
    return sig.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("len_ok").alias("n_len_ok"),
        F.sum("words_ok").alias("n_words_ok"),
        F.sum("stop_ok").alias("n_stop_ok"),
        F.sum("div_ok").alias("n_div_ok"),
        F.sum(
            F.col("len_ok") * F.col("words_ok") * F.col("stop_ok") * F.col("div_ok")
        ).alias("n_pass"),
    )


# ---------------------------------------------------------------------------
# Fully-oracled unrolled logistic regression
# ---------------------------------------------------------------------------
#
# The driver-loop twin (`ml_logistic_gd`, ml_llm.py) is rows-only: its
# exp/log sigmoid rides each engine's libm, and float gradient sums are
# reduction-order dependent. This key makes full-batch training itself
# hash-oracle-checkable by removing BOTH sources of drift:
#
# - the link is the RATIONAL fast sigmoid s(z) = 0.5 + z/(2(1+|z|)) —
#   add/mul/div/abs only, so identical input doubles give bit-identical
#   outputs in any IEEE-754 engine (no libm involved);
# - each per-row gradient term is quantized to integer NANO-units
#   (floor(t·1e9 + 0.5)) and summed as int64 — exact, associative, and
#   therefore immune to partitioning/reduction order at ANY cluster
#   size. The weight update divides two exact integers once per
#   iteration.
#
# The whole 3-iteration fit is ONE Catalyst plan: the 1-row weight
# relation cross-joins (broadcast) back into the scan each round, so
# unlike the driver-loop twin, not even the model visits the driver.

_LGD_ITERS = 3
_LGD_LR = 1.0
_NANO = 1_000_000_000


_LGD_Z = "(w.w0 * f.x0 + w.w1 * f.x1 + w.w2 * f.x2)"
_LGD_S = f"(0.5 + {_LGD_Z} / (2.0 * (1.0 + abs({_LGD_Z}))))"


def _lgd_cte_prefix() -> list[str]:
    """Shared unrolled-training CTE chain (feat / n / w0..w{ITERS}) —
    the base both `ml_logistic_unrolled` and `ml_calibration_bins`
    oracles build on, so the two keys pin the SAME trained weights."""
    feat = (
        "feat AS (SELECT CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y, "
        "1.0 AS x0, value / 100.0 AS x1, CAST(hour(ts) AS DOUBLE) / 24.0 AS x2 "
        "FROM events)"
    )
    ctes = [feat, "n AS (SELECT count(*) AS n FROM feat)",
            "w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2)"]
    for k in range(1, _LGD_ITERS + 1):
        grads = ", ".join(
            f"max(w.w{j}) - {_LGD_LR} * (CAST(sum(CAST(floor(({_LGD_S} - f.y) * f.x{j} * {_NANO}.0 + 0.5) AS BIGINT)) AS DOUBLE) / ({_NANO}.0 * max(n.n))) AS w{j}"
            for j in range(3)
        )
        ctes.append(f"w{k} AS (SELECT {grads} FROM feat f CROSS JOIN w{k-1} w CROSS JOIN n)")
    return ctes


def _lgd_oracle() -> str:
    z = _LGD_Z
    return (
        "WITH " + ",\n".join(_lgd_cte_prefix()) + f"""
SELECT round(max(w.w0), 6) AS w0, round(max(w.w1), 6) AS w1,
       round(max(w.w2), 6) AS w2,
       CAST(sum(CASE WHEN {z} >= 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_pos,
       CAST(sum(CASE WHEN (CASE WHEN {z} >= 0.0 THEN 1.0 ELSE 0.0 END) = f.y
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(max(n.n) AS BIGINT) AS n_rows
FROM feat f CROSS JOIN w{_LGD_ITERS} w CROSS JOIN n"""
    )




def _lgd_z():
    """w·x with the canonical column names — shared by every consumer of
    the trained weights."""
    return (
        F.col("w0") * F.col("x0")
        + F.col("w1") * F.col("x1")
        + F.col("w2") * F.col("x2")
    )


def _lgd_feat(e: DataFrame) -> DataFrame:
    """The (y, x0, x1, x2) feature map shared by the logistic family —
    the Spark twin of _lgd_cte_prefix()'s feat CTE."""
    return e.select(
        F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0).alias("y"),
        F.lit(1.0).alias("x0"),
        (F.col("value") / 100.0).alias("x1"),
        (F.hour("ts").cast("double") / 24.0).alias("x2"),
    )


def _lgd_train(spark: SparkSession, feat: DataFrame, n: DataFrame) -> DataFrame:
    """The 3-iteration rational-sigmoid fit — ONE Spark implementation
    mirroring _lgd_cte_prefix(), so ml_logistic_unrolled,
    ml_calibration_bins, and ml_roc_auc_exact can never train on
    diverging weights (the whole point of their shared-score contract)."""
    w = spark.range(1).select(
        F.lit(0.0).alias("w0"), F.lit(0.0).alias("w1"), F.lit(0.0).alias("w2")
    )
    for _ in range(_LGD_ITERS):
        z = _lgd_z()
        sgm = 0.5 + z / (2.0 * (1.0 + F.abs(z)))
        joined = feat.crossJoin(F.broadcast(w)).crossJoin(F.broadcast(n))
        w = joined.agg(
            *[
                (
                    F.max(f"w{j}")
                    - _LGD_LR
                    * (
                        F.sum(
                            F.floor(
                                (sgm - F.col("y")) * F.col(f"x{j}") * _NANO + 0.5
                            ).cast("long")
                        ).cast("double")
                        / (float(_NANO) * F.max("n"))
                    )
                ).alias(f"w{j}")
                for j in range(3)
            ]
        )
    return w


@query("ml_logistic_unrolled", oracle=_lgd_oracle())
def ml_logistic_unrolled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unrolled 3-iteration logistic fit, hash-oracled (header comment):
    rational sigmoid + nano-unit integer gradient sums make every
    intermediate bit-identical across engines and cluster sizes; the
    1-row weight relation broadcasts back into the scan per round, so
    training is a single driver-free Catalyst plan."""
    e = table(spark, sf_dir, "events")
    feat = _lgd_feat(e)
    n = feat.agg(F.count(F.lit(1)).alias("n"))
    w = _lgd_train(spark, feat, n)
    z = _lgd_z()
    final = feat.crossJoin(F.broadcast(w)).crossJoin(F.broadcast(n))
    return final.agg(
        F.round(F.max("w0"), 6).alias("w0"),
        F.round(F.max("w1"), 6).alias("w1"),
        F.round(F.max("w2"), 6).alias("w2"),
        F.sum(F.when(z >= 0.0, 1).otherwise(0)).cast("long").alias("n_pred_pos"),
        F.sum(
            F.when(
                F.when(z >= 0.0, 1.0).otherwise(0.0) == F.col("y"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_correct"),
        F.max("n").cast("long").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Decision stump: exact best-split search as ONE conditional-agg scan
# ---------------------------------------------------------------------------

_STUMP_THRESHOLDS = [10, 20, 30, 40, 50, 60, 70, 80, 90]


def _stump_oracle() -> str:
    cols = []
    for t in _STUMP_THRESHOLDS:
        cols.append(
            f"CAST(sum(CASE WHEN value < {t} AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS lp_{t}, "
            f"CAST(sum(CASE WHEN value < {t} AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ln_{t}, "
            f"CAST(sum(CASE WHEN value >= {t} AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS rp_{t}, "
            f"CAST(sum(CASE WHEN value >= {t} AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS rn_{t}"
        )
    unions = " UNION ALL ".join(
        f"SELECT {t} AS threshold, lp_{t} AS n_left_pos, ln_{t} AS n_left_neg, "
        f"rp_{t} AS n_right_pos, rn_{t} AS n_right_neg FROM counts"
        for t in _STUMP_THRESHOLDS
    )
    return f"""
WITH feat AS (
  SELECT value, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
),
counts AS (SELECT {", ".join(cols)} FROM feat),
split AS ({unions}),
scored AS (
  SELECT threshold, n_left_pos, n_left_neg, n_right_pos, n_right_neg,
         round(CASE WHEN n_left_pos + n_left_neg = 0 THEN 0.0
                    ELSE (n_left_pos * n_left_pos + n_left_neg * n_left_neg) * 1.0
                         / (n_left_pos + n_left_neg) END
             + CASE WHEN n_right_pos + n_right_neg = 0 THEN 0.0
                    ELSE (n_right_pos * n_right_pos + n_right_neg * n_right_neg) * 1.0
                         / (n_right_pos + n_right_neg) END, 6) AS purity
  FROM split
)
SELECT threshold, n_left_pos, n_left_neg, n_right_pos, n_right_neg, purity,
       CAST(row_number() OVER (ORDER BY purity DESC, threshold) AS BIGINT) AS rank
FROM scored ORDER BY threshold
"""


@query("ml_decision_stump", oracle=_stump_oracle())
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact decision-stump split search (predict purchase from `value`):
    the 4 class-side counts for all 9 candidate thresholds come from ONE
    conditional-aggregation scan (36 CASE counters — no 9× fanout, no
    second pass), then per-threshold purity Σ_side (pos²+neg²)/n_side is
    a scalar ratio of exact integers, identical in any engine, ranked
    with a threshold tie-break. The plan a 100 TB feature scan wants:
    grow the grid and the scan count stays ONE."""
    e = table(spark, sf_dir, "events")
    feat = e.select(
        "value",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    aggs = []
    for t in _STUMP_THRESHOLDS:
        left = F.col("value") < t
        right = F.col("value") >= t
        pos = F.col("y") == 1
        for name, cond in (
            (f"lp_{t}", left & pos),
            (f"ln_{t}", left & ~pos),
            (f"rp_{t}", right & pos),
            (f"rn_{t}", right & ~pos),
        ):
            aggs.append(
                F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(name)
            )
    counts = feat.agg(*aggs)
    stack = ", ".join(
        f"{t}, lp_{t}, ln_{t}, rp_{t}, rn_{t}" for t in _STUMP_THRESHOLDS
    )
    split = counts.selectExpr(
        f"stack({len(_STUMP_THRESHOLDS)}, {stack}) AS "
        "(threshold, n_left_pos, n_left_neg, n_right_pos, n_right_neg)"
    )
    nl = F.col("n_left_pos") + F.col("n_left_neg")
    nr = F.col("n_right_pos") + F.col("n_right_neg")
    purity = F.round(
        F.when(nl == 0, 0.0).otherwise(
            (
                F.col("n_left_pos") * F.col("n_left_pos")
                + F.col("n_left_neg") * F.col("n_left_neg")
            )
            * F.lit(1.0)
            / nl
        )
        + F.when(nr == 0, 0.0).otherwise(
            (
                F.col("n_right_pos") * F.col("n_right_pos")
                + F.col("n_right_neg") * F.col("n_right_neg")
            )
            * F.lit(1.0)
            / nr
        ),
        6,
    )
    scored = split.withColumn("purity", purity)
    from sim_spark.ops.distrank import bounded_seq_window

    w = bounded_seq_window("threshold", F.desc("purity"), "threshold")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .select(
            F.col("threshold").cast("long").alias("threshold"),
            "n_left_pos",
            "n_left_neg",
            "n_right_pos",
            "n_right_neg",
            "purity",
            "rank",
        )
        .orderBy("threshold")
    )


@query(
    "ml_eval_prf",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, unnest(str_split(text, ' ')) AS word FROM documents
),
vocab AS (
  SELECT word FROM tok GROUP BY word
  ORDER BY count(*) DESC, word ASC LIMIT {_NB_VOCAB}
),
vtok AS (SELECT t.* FROM tok t JOIN vocab v USING (word)),
cnt_wl AS (SELECT lang, word, count(*) AS c FROM vtok GROUP BY lang, word),
tot_l AS (SELECT lang, sum(c) AS tot FROM cnt_wl GROUP BY lang),
vsize AS (SELECT count(*) AS v FROM vocab),
langs AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
n AS (SELECT count(*) AS n FROM documents),
grid AS (
  SELECT l.lang, v.word,
         ln((COALESCE(c.c, 0) + 1.0) / (t.tot + s.v)) AS logp
  FROM (SELECT word FROM vocab) v
  CROSS JOIN (SELECT lang FROM langs) l
  LEFT JOIN cnt_wl c ON c.lang = l.lang AND c.word = v.word
  JOIN tot_l t ON t.lang = l.lang
  CROSS JOIN vsize s
),
wordscore AS (
  SELECT vt.doc_id, g.lang, sum(g.logp) AS ll
  FROM (SELECT doc_id, word FROM vtok) vt JOIN grid g USING (word)
  GROUP BY vt.doc_id, g.lang
),
base AS (
  SELECT d.doc_id, d.lang AS actual, l.lang AS cand,
         ln(l.n_docs * 1.0 / n.n) + COALESCE(w.ll, 0.0) AS score
  FROM documents d
  CROSS JOIN langs l
  CROSS JOIN n
  LEFT JOIN wordscore w ON w.doc_id = d.doc_id AND w.lang = l.lang
),
pred AS (
  SELECT doc_id, actual, cand AS predicted FROM (
    SELECT doc_id, actual, cand,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, cand ASC) AS rn
    FROM base
  ) WHERE rn = 1
),
cls AS (SELECT lang FROM langs),
m AS (
  SELECT c.lang,
         CAST((SELECT count(*) FROM pred p
               WHERE p.predicted = c.lang AND p.actual = c.lang) AS BIGINT) AS tp,
         CAST((SELECT count(*) FROM pred p
               WHERE p.predicted = c.lang AND p.actual <> c.lang) AS BIGINT) AS fp,
         CAST((SELECT count(*) FROM pred p
               WHERE p.predicted <> c.lang AND p.actual = c.lang) AS BIGINT) AS fn
  FROM cls c
)
SELECT lang, tp, fp, fn,
       ROUND(CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp * 1.0 / (tp + fp) END, 6) AS precision,
       ROUND(CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp * 1.0 / (tp + fn) END, 6) AS recall,
       ROUND(CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
                  ELSE 2.0 * tp / (2 * tp + fp + fn) END, 6) AS f1
FROM m ORDER BY lang
""",
)
def ml_eval_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 for the naive-Bayes language
    classifier (`ml_naive_bayes_lang`'s confusion cells reduced to the
    metrics a model card reports): tp/fp/fn are exact integer counts
    from the argmax predictions, the metrics ratios of exact integers —
    the evaluation step is as hash-checkable as the model. One extra
    aggregate over the prediction frame; the broadcast-grid scoring
    plan is unchanged."""
    pred = _nb_predictions(spark, sf_dir)
    cls = table(spark, sf_dir, "documents").select("lang").distinct()
    joined = F.broadcast(cls).crossJoin(pred)
    m = joined.groupBy("lang").agg(
        F.sum(
            F.when(
                (F.col("predicted") == F.col("lang"))
                & (F.col("actual") == F.col("lang")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("tp"),
        F.sum(
            F.when(
                (F.col("predicted") == F.col("lang"))
                & (F.col("actual") != F.col("lang")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("fp"),
        F.sum(
            F.when(
                (F.col("predicted") != F.col("lang"))
                & (F.col("actual") == F.col("lang")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("fn"),
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return m.select(
        "lang",
        "tp",
        "fp",
        "fn",
        F.round(
            F.when(tp + fp == 0, 0.0).otherwise(tp * F.lit(1.0) / (tp + fp)), 6
        ).alias("precision"),
        F.round(
            F.when(tp + fn == 0, 0.0).otherwise(tp * F.lit(1.0) / (tp + fn)), 6
        ).alias("recall"),
        F.round(
            F.when(2 * tp + fp + fn == 0, 0.0).otherwise(
                F.lit(2.0) * tp / (2 * tp + fp + fn)
            ),
            6,
        ).alias("f1"),
    ).orderBy("lang")


@query(
    "ml_calibration_bins",
    oracle=(
        "WITH "
        + ",\n".join(_lgd_cte_prefix())
        + f""",
scored AS (
  SELECT f.y, {_LGD_S} AS p
  FROM feat f CROSS JOIN w{_LGD_ITERS} w
),
binned AS (
  SELECT least(CAST(floor(p * 10.0) AS BIGINT), 9) AS bin,
         y, CAST(floor(p * 1000000000.0 + 0.5) AS BIGINT) AS p_nano
  FROM scored
)
SELECT bin,
       CAST(count(*) AS BIGINT) AS n,
       ROUND(CAST(sum(p_nano) AS BIGINT) / (1000000000.0 * count(*)), 6)
         AS mean_pred,
       ROUND(CAST(sum(CAST(y AS BIGINT)) AS BIGINT) * 1.0 / count(*), 6)
         AS frac_pos
FROM binned GROUP BY bin ORDER BY bin
"""
    ),
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the unrolled logistic model
    (`ml_logistic_unrolled`): scores bucketed into 10 probability bins,
    each reporting mean predicted probability (nano-unit integer sums —
    exact at any parallelism) against the observed positive fraction
    (ratio of exact integers). Calibration is the model-card companion
    to `ml_eval_prf`; the whole evaluation remains one driver-free plan
    on top of the in-plan trained weights."""
    e = table(spark, sf_dir, "events")
    feat = _lgd_feat(e)
    n = feat.agg(F.count(F.lit(1)).alias("n"))
    w = _lgd_train(spark, feat, n)
    z = _lgd_z()
    p = 0.5 + z / (2.0 * (1.0 + F.abs(z)))
    scored = feat.crossJoin(F.broadcast(w)).select("y", p.alias("p"))
    binned = scored.select(
        F.least(F.floor(F.col("p") * 10.0).cast("long"), F.lit(9)).alias("bin"),
        "y",
        F.floor(F.col("p") * 1_000_000_000.0 + 0.5).cast("long").alias("p_nano"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(
                F.sum("p_nano").cast("long")
                / (1_000_000_000.0 * F.count(F.lit(1))),
                6,
            ).alias("mean_pred"),
            F.round(
                F.sum(F.col("y").cast("long")).cast("long")
                * F.lit(1.0)
                / F.count(F.lit(1)),
                6,
            ).alias("frac_pos"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Fully-oracled 2-round boosted decision stumps (integer-exact AdaBoost)
# ---------------------------------------------------------------------------
#
# AdaBoost's exp-reweighting and ln-alphas would put libm between the
# engines; this formulation is the exact-arithmetic equivalent for 2
# rounds, so the whole boosted fit hash-matches:
#
# - Round 1: unit integer weights; stump error = integer count.
# - Round 2 weights: misclassified rows get (n - e1), correct rows e1 —
#   the integer "equalizing" reweight (stump 1's weighted error becomes
#   exactly half the mass, which is precisely what exp(±alpha1) with
#   alpha1 = ln sqrt((n-e1)/e1) achieves), so every weight stays int64.
# - Final vote sign(a1*h1 + a2*h2) with a_k = ln r_k never evaluates a
#   log: when the stumps agree the sign is theirs; when they disagree it
#   is sign(ln r1 - ln r2) = sign(r1 - r2), decided by cross-multiplying
#   the exact integer odds (Python integers in the Spark trainer,
#   decimal(38,0) in the oracle so the products cannot wrap; per-round
#   weighted-error masses stay under ~2n^2).
# - A perfect stump 1 (e1 = 0) would make r1 infinite. Instead every
#   round-2 weight is e1 = 0, all 64 candidates tie at e2 = 0, the
#   tie-break crowns (thr 0.25, pol -1), and the odds test (0 > 0)
#   gives that stump every vote, even where it misses rows stump 1 got
#   right. Deterministic and identical in both engines, not optimal.
#
# Candidate grid: 32 fixed value-thresholds (k*0.5 + 0.25 — offset off
# the fixture's 2-decimal values so x <= thr never ties) x 2 polarities;
# argmin tie-break ORDER BY (e, pol, thr).
#
# Spark shape: a stump sees a row only through the value's bin among
# the sorted thresholds, b = #{thr : NOT x <= thr} in 0..32 (32 for a
# NULL x, which no threshold admits): stump (k, pol) predicts pol
# exactly when b <= k. So both fits, the round-2 weights and the vote
# are sums over the <= 66 (b, y) cells of one count histogram. Corpus
# cost: ONE events scan, a groupBy(b, y) count folded into one row; one
# Python task fits both rounds and the vote from the cells (_ada_train)
# in exact integers — the fold-and-fit path GBT also takes.

_ADA_THRS = [k * 0.5 + 0.25 for k in range(32)]
_ADA_FIT_SCHEMA = (
    "thr1 double, pol1 int, e1 bigint, thr2 double, pol2 int, e2 bigint,"
    " n_correct bigint, n_rows bigint"
)


def _fit_in_one_task(cells: DataFrame, train, schema: str) -> DataFrame:
    """Fold the few integer rows of ``cells`` into ONE row and run
    ``train(cells) -> list of rows`` (``schema``) on them in one
    mapInPandas task. The fold is a global collect_list: a global
    aggregate yields its row even over an empty corpus, where a groupBy
    yields none, so ``train`` always runs; coalesce(1) lets the fold
    reuse the cells' shuffle, so the plan runs as 2 jobs. A NULL cell
    fails the task (int(None)) rather than guess."""
    cols = cells.columns
    names = [f.split()[0] for f in schema.split(", ")]

    def fit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [row for h in pdf["h"]
                    for row in train([tuple(int(c[k]) for k in cols) for c in h])]
            yield pd.DataFrame(rows, columns=names, dtype=object)

    one = cells.coalesce(1).agg(F.collect_list(F.struct(*cols)).alias("h"))
    return one.mapInPandas(fit, schema)


def _ada_pred(x: str, thr: str, pol: str) -> str:
    return f"(CASE WHEN {x} <= {thr} THEN {pol} ELSE -{pol} END)"


def _ada_train(cells: list[tuple]) -> list[tuple]:
    """Both boosting rounds and the vote from the (b, y, count) cells →
    [(thr1, pol1, e1, thr2, pol2, e2, n_correct, n_rows)], or no row for
    an empty corpus (the oracle's GROUP BY over no rows). min() over
    (e, pol, k) is ORDER BY (e, pol, thr) LIMIT 1: thr ascends with k."""
    n = sum(c for _, _, c in cells)
    if n == 0:
        return []

    def h(k: int, pol: int, b: int) -> int:
        return pol if b <= k else -pol

    def best(w: list[int]) -> tuple[int, int, int]:
        return min(
            (sum(c * wc for (b, y, c), wc in zip(cells, w) if h(k, pol, b) != y), pol, k)
            for k in range(len(_ADA_THRS)) for pol in (1, -1)
        )

    e1, pol1, k1 = best([1] * len(cells))
    e2, pol2, k2 = best([n - e1 if h(k1, pol1, b) != y else e1 for b, y, _ in cells])
    # Where the stumps agree either one casts the vote, so every row
    # takes the prediction of the stump that wins the odds test.
    stump1_wins = (n - e1) * e2 > 2 * e1 * e1 * (n - e1) - e1 * e2
    k, pol = (k1, pol1) if stump1_wins else (k2, pol2)
    n_correct = sum(c for b, y, c in cells if h(k, pol, b) == y)
    return [(_ADA_THRS[k1], pol1, e1, _ADA_THRS[k2], pol2, e2, n_correct, n)]


def _ada_oracle() -> str:
    thrs = ", ".join(str(t) for t in _ADA_THRS)
    p = _ada_pred
    return f"""
WITH r AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE -1 END AS y, value AS x
  FROM events
),
nn AS (SELECT COUNT(*) AS n FROM r),
cand AS (
  SELECT t.thr, p.pol
  FROM (SELECT unnest([{thrs}]) AS thr) t,
       (SELECT 1 AS pol UNION ALL SELECT -1) p
),
err1 AS (
  SELECT c.thr, c.pol,
         SUM(CASE WHEN {p('r.x', 'c.thr', 'c.pol')} <> r.y THEN 1 ELSE 0 END) AS e
  FROM r CROSS JOIN cand c GROUP BY c.thr, c.pol
),
b1 AS (SELECT thr, pol, e FROM err1 ORDER BY e, pol, thr LIMIT 1),
w2 AS (
  SELECT r.y, r.x,
         CASE WHEN {p('r.x', 'b.thr', 'b.pol')} <> r.y THEN n.n - b.e ELSE b.e END AS w
  FROM r CROSS JOIN b1 b CROSS JOIN nn n
),
err2 AS (
  SELECT c.thr, c.pol,
         SUM(CASE WHEN {p('r.x', 'c.thr', 'c.pol')} <> r.y THEN r.w ELSE 0 END) AS e
  FROM w2 r CROSS JOIN cand c GROUP BY c.thr, c.pol
),
b2 AS (SELECT thr, pol, e FROM err2 ORDER BY e, pol, thr LIMIT 1)
SELECT b1.thr AS thr1, b1.pol AS pol1, CAST(b1.e AS BIGINT) AS e1,
       b2.thr AS thr2, b2.pol AS pol2, CAST(b2.e AS BIGINT) AS e2,
       CAST(SUM(CASE WHEN (CASE
           WHEN {p('r.x', 'b1.thr', 'b1.pol')} = {p('r.x', 'b2.thr', 'b2.pol')}
             THEN {p('r.x', 'b1.thr', 'b1.pol')}
           WHEN CAST(n.n - b1.e AS DECIMAL(38,0)) * b2.e
                > 2 * CAST(b1.e AS DECIMAL(38,0)) * b1.e * (n.n - b1.e)
                  - CAST(b1.e AS DECIMAL(38,0)) * b2.e
             THEN {p('r.x', 'b1.thr', 'b1.pol')}
           ELSE {p('r.x', 'b2.thr', 'b2.pol')} END) = r.y
         THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(MAX(n.n) AS BIGINT) AS n_rows
FROM r CROSS JOIN b1 CROSS JOIN b2 CROSS JOIN nn n
GROUP BY b1.thr, b1.pol, b1.e, b2.thr, b2.pol, b2.e
"""


@query("ml_adaboost_stumps", oracle=_ada_oracle())
def ml_adaboost_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two boosting rounds of decision stumps over events.value, exact in
    integer arithmetic end to end (header comment) — model selection,
    reweighting, and the combined vote all hash-match the SQL oracle.
    Spark shape: one events scan reduced to (b, y) counts, b the value's
    bin among the 32 thresholds; one mapInPandas task fits both rounds
    and the vote from the <= 66 cells (_ada_train). No cache, nothing
    collected."""
    # {t}D literals keep the DOUBLE thresholds (SQL `0.25` is DECIMAL).
    thrs = ", ".join(f"{t}D" for t in _ADA_THRS)
    cells = table(spark, sf_dir, "events").selectExpr(
        f"size(filter(array({thrs}), t -> NOT coalesce(value <= t, false))) AS b",
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE -1 END AS y",
    ).groupBy("b", "y").count()
    return _fit_in_one_task(cells, _ada_train, _ADA_FIT_SCHEMA)


# ---------------------------------------------------------------------------
# Fully-oracled 2-round gradient-boosted REGRESSION stumps
# ---------------------------------------------------------------------------
#
# The squared-loss companion to ml_adaboost_stumps: f0 = global mean,
# then two rounds of SSE-optimal stumps on the residuals, every
# selection decision exact:
#
# - Residuals are milli-unit integers (y is 2-decimal; f0 and the leaf
#   predictions are floor(x + 0.5) milli-quantized rationals, so the
#   quantization rule — not float noise — defines the algorithm, and
#   both engines replay it bit-identically).
# - The SSE-optimal stump maximizes sumL^2/nL + sumR^2/nR. Candidate
#   scores are RATIONALS a/b (a = sumL^2*nR + sumR^2*nL, b = nL*nR);
#   rather than divide, candidates meet in a 23x23 cross-multiplied
#   TOURNAMENT (a_d*b_c > a_c*b_d, exact: Python integers in the Spark
#   trainer, 128-bit HUGEINT in DuckDB) and the winner is the candidate
#   no rival beats — argmax over exact rationals with a
#   smallest-threshold tie-break.
# - Bounds (the oracle's): |r| <= ~5.6e5 milli, so a <= 2*(n*5.6e5)^2*n
#   and the HUGEINT product a*b stays under 1e38 through n ~ 2e5 rows.
#   Beyond that, drop to centi-unit residuals (same plan, one fewer
#   digit) — the bound is a unit choice, not a structural limit.
# - Feature x = hour(ts) (integer 0..23), thresholds t in {0..22} on
#   x <= t: integer-vs-integer comparisons can never tie-break on a
#   float boundary.
#
# Spark shape: every residual the model sees has the form 10*yc - c(x),
# where c(x), the running prediction, is constant per hour. So a round's
# candidate sums and every SSE are sums over a per-hour histogram of
# n_x = rows, m_x = rows with a value, s_x = Σ yc and q_x = Σ yc^2:
#   nl_t = Σ_{x<=t} n_x,   sl_t = Σ_{x<=t} (10*s_x - m_x*c(x)),
#   Σ r^2 = Σ_x (100*q_x - 20*c(x)*s_x + m_x*c(x)^2).
# A NULL value has a NULL residual: it counts in the oracle's COUNT(*)
# (so in nl, f0's denominator and the MSE's) but in no SUM.
# Corpus cost: ONE events scan, a groupBy(hour) reduce folded into one
# row of <= 24 cells; one Python task fits both rounds from the cells
# (_gbt_train) in exact integers — AdaBoost's path, _fit_in_one_task.
# The two-stage "histogram" reduce of SURVEY.md §2.

_GBT_THRS = list(range(23))
_GBT_FIT_SCHEMA = (
    "n long, f0m long, thr1 int, nl1 long, pl1 long, pr1 long, thr2 int,"
    " nl2 long, pl2 long, pr2 long, sse0 decimal(38,0),"
    " sse1 decimal(38,0), sse2 decimal(38,0)"
)


def _gbt_stump(hist: list[tuple], c: list[int]) -> tuple | None:
    """SSE-optimal stump on the residuals 10*yc - c(x) of the sorted
    histogram ``hist`` [(x, n, m, s, q)], ``c`` the prediction per cell →
    (t, nl, pl, pr), or None when no threshold leaves both sides
    non-empty. Cross-multiplied exact comparisons in threshold order:
    a candidate wins only by a strictly higher score, so ties keep the
    smallest threshold, the tournament's rule. The leaves are the same
    IEEE double operations Spark runs: floor(sl * 1.0 / nl + 0.5)."""
    nt = sum(n for _, n, _, _, _ in hist)
    st = sum(10 * s - m * cx for (_, _, m, s, _), cx in zip(hist, c))
    best = None
    nl = sl = i = 0
    for t in _GBT_THRS:
        while i < len(hist) and hist[i][0] <= t:
            _, n, m, s, _ = hist[i]
            nl += n
            sl += 10 * s - m * c[i]
            i += 1
        nr, sr = nt - nl, st - sl
        if nl == 0 or nr == 0:
            continue
        a, b = sl * sl * nr + sr * sr * nl, nl * nr
        if best is None or a * best[1] > best[0] * b:
            best = (a, b, t, nl, sl, nr, sr)
    if best is None:
        return None
    _, _, t, nl, sl, nr, sr = best
    return t, nl, math.floor(sl * 1.0 / nl + 0.5), math.floor(sr * 1.0 / nr + 0.5)


def _gbt_train(hist: list[tuple]) -> tuple | None:
    """Both boosting rounds from the per-hour histogram [(x, n, m, s,
    q)] → (n, f0m, thr1, nl1, pl1, pr1, thr2, nl2, pl2, pr2, sse0, sse1,
    sse2) in milli units, or None when the corpus is empty or a round
    has no valid split (the report is then one all-NULL row, as when a
    winner frame is empty). Without a single value f0m and the SSEs are
    None (the oracle's SUM over no row) and every candidate sum is 0,
    which c = 0 reproduces. hour(ts) is never NULL in the fixtures; a
    NULL hour cell fails the task rather than guess."""
    hist = sorted(hist)
    nt = sum(n for _, n, _, _, _ in hist)
    if nt == 0:
        return None
    valued = any(m for _, _, m, _, _ in hist)
    f0m = None
    if valued:
        f0m = math.floor(sum(s for _, _, _, s, _ in hist) * 10.0 / nt + 0.5)

    def sse(c: list[int]) -> int | None:
        if not valued:
            return None
        return sum(100 * q - 20 * cx * s + m * cx * cx
                   for (_, _, m, s, q), cx in zip(hist, c))

    c = [f0m or 0] * len(hist)
    model, sses = [nt, f0m], [sse(c)]
    for _ in range(2):
        win = _gbt_stump(hist, c)
        if win is None:
            return None
        t, _, pl, pr = win
        c = [cx + (pl if x <= t else pr) for (x, *_), cx in zip(hist, c)]
        model += win
        sses.append(sse(c))
    return (*model, *sses)


def _gbt_cand_sql(src: str, rcol: str) -> str:
    """Candidate conditional sums over ``src`` — ONE corpus reduce,
    referenced from both tournament legs via its CTE name."""
    thrs = ", ".join(str(t) for t in _GBT_THRS)
    return f"""
    SELECT t.t,
           CAST(SUM(CASE WHEN x <= t.t THEN 1 ELSE 0 END) AS BIGINT) AS nl,
           CAST(SUM(CASE WHEN x <= t.t THEN {rcol} ELSE 0 END) AS BIGINT) AS sl,
           CAST(SUM(CASE WHEN x > t.t THEN 1 ELSE 0 END) AS BIGINT) AS nr,
           CAST(SUM(CASE WHEN x > t.t THEN {rcol} ELSE 0 END) AS BIGINT) AS sr
    FROM {src} CROSS JOIN (SELECT unnest([{thrs}]) AS t) t
    GROUP BY t.t HAVING SUM(CASE WHEN x <= t.t THEN 1 ELSE 0 END) > 0
                    AND SUM(CASE WHEN x > t.t THEN 1 ELSE 0 END) > 0
"""


def _gbt_tourney_sql(cand: str) -> str:
    """Exact-rational tournament over the named candidate CTE; yields
    1 row. No positive-score guard: when every candidate scores zero
    (degenerate constant corpus) the cross-multiplied comparison ties
    everywhere and the d.t < c.t tie-break still crowns exactly one
    winner — the same rule the Spark side applies."""
    return f"""
  SELECT c.t, c.nl, c.sl, c.nr, c.sr FROM {cand} c JOIN {cand} d ON TRUE
  GROUP BY c.t, c.nl, c.sl, c.nr, c.sr
  HAVING SUM(CASE
    WHEN (CAST(d.sl AS HUGEINT)*d.sl*d.nr + CAST(d.sr AS HUGEINT)*d.sr*d.nl)
           * (c.nl * c.nr)
         > (CAST(c.sl AS HUGEINT)*c.sl*c.nr + CAST(c.sr AS HUGEINT)*c.sr*c.nl)
           * (d.nl * d.nr)
         OR ((CAST(d.sl AS HUGEINT)*d.sl*d.nr + CAST(d.sr AS HUGEINT)*d.sr*d.nl)
               * (c.nl * c.nr)
             = (CAST(c.sl AS HUGEINT)*c.sl*c.nr + CAST(c.sr AS HUGEINT)*c.sr*c.nl)
               * (d.nl * d.nr)
             AND d.t < c.t)
    THEN 1 ELSE 0 END) = 0
"""


def _gbt_oracle() -> str:
    return f"""
WITH base AS (
  SELECT CAST(hour(ts) AS INTEGER) AS x,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS yc
  FROM events
),
g0 AS (
  SELECT CAST(floor(SUM(yc) * 10.0 / COUNT(*) + 0.5) AS BIGINT) AS f0m,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM base
),
r1 AS (SELECT b.x, b.yc * 10 - g.f0m AS r, g.f0m, g.n FROM base b CROSS JOIN g0 g),
c1 AS ({_gbt_cand_sql('r1', 'r')}),
w1 AS ({_gbt_tourney_sql('c1')}),
p1 AS (
  SELECT t AS thr1, nl AS nl1,
         CAST(floor(sl * 1.0 / nl + 0.5) AS BIGINT) AS pl1,
         CAST(floor(sr * 1.0 / nr + 0.5) AS BIGINT) AS pr1
  FROM w1
),
r2 AS (
  SELECT r1.x, r1.r - CASE WHEN r1.x <= p.thr1 THEN p.pl1 ELSE p.pr1 END AS r2,
         r1.r, r1.f0m, r1.n, p.thr1, p.nl1, p.pl1, p.pr1
  FROM r1 CROSS JOIN p1 p
),
c2 AS ({_gbt_cand_sql('r2', 'r2')}),
w2 AS ({_gbt_tourney_sql('c2')}),
p2 AS (
  SELECT t AS thr2, nl AS nl2,
         CAST(floor(sl * 1.0 / nl + 0.5) AS BIGINT) AS pl2,
         CAST(floor(sr * 1.0 / nr + 0.5) AS BIGINT) AS pr2
  FROM w2
)
SELECT MAX(r2.n) AS n_rows,
       ROUND(MAX(r2.f0m) / 1000.0, 6) AS f0,
       MAX(r2.thr1) AS thr1, MAX(r2.nl1) AS n_l1,
       ROUND(MAX(r2.pl1) / 1000.0, 6) AS pred_l1,
       ROUND(MAX(r2.pr1) / 1000.0, 6) AS pred_r1,
       MAX(p.thr2) AS thr2, MAX(p.nl2) AS n_l2,
       ROUND(MAX(p.pl2) / 1000.0, 6) AS pred_l2,
       ROUND(MAX(p.pr2) / 1000.0, 6) AS pred_r2,
       ROUND(CAST(SUM(CAST(r2.r AS HUGEINT) * r2.r) AS DOUBLE)
             / (1000000.0 * MAX(r2.n)), 6) AS mse0,
       ROUND(CAST(SUM(CAST(r2.r2 AS HUGEINT) * r2.r2) AS DOUBLE)
             / (1000000.0 * MAX(r2.n)), 6) AS mse1,
       ROUND(CAST(SUM(CAST(r2.r2 - CASE WHEN r2.x <= p.thr2 THEN p.pl2 ELSE p.pr2 END AS HUGEINT)
                      * (r2.r2 - CASE WHEN r2.x <= p.thr2 THEN p.pl2 ELSE p.pr2 END))
                  AS DOUBLE)
             / (1000000.0 * MAX(r2.n)), 6) AS mse2
FROM r2 CROSS JOIN p2 p
"""


@query("ml_gbt_residual_stumps", oracle=_gbt_oracle())
def ml_gbt_residual_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two gradient-boosting rounds of SSE-optimal regression stumps
    (value ~ hour-of-day), exact end to end — quantized-rational leaf
    values and a cross-multiplied exact tournament for stump selection
    (block comment above). Reports the fitted model plus the monotone
    mse0 > mse1 > mse2 training trace. Spark shape: one events scan
    reduced to a per-hour histogram (rows, values, Σyc, Σyc² as
    DECIMAL(38,0), the sums 0 for an hour without a value);
    one mapInPandas task trains both rounds from the <= 24 cells
    (_gbt_train, through _fit_in_one_task), and a corpus without a model
    reports one all-NULL row; the milli-unit rescale and the MSE
    division stay in Spark SQL. No cache, nothing collected."""
    e = table(spark, sf_dir, "events")
    hist = (
        e.select(
            F.hour("ts").cast("int").alias("x"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("yc"),
        )
        .groupBy("x")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("yc").alias("m"),
            F.coalesce(F.sum("yc"), F.lit(0)).alias("s"),
            F.coalesce(
                F.sum(F.col("yc").cast("decimal(38,0)") * F.col("yc")), F.lit(0)
            ).alias("q"),
        )
    )
    # 1000.0D / 1000000.0D: SQL `1000.0` parses as DECIMAL; the D suffix
    # keeps the DOUBLE arithmetic of the Column API (long / 1000.0).
    milli = lambda c: f"ROUND({c} / 1000.0D, 6)"  # noqa: E731
    mse = lambda c: f"ROUND(CAST({c} AS DOUBLE) / (1000000.0D * n), 6)"  # noqa: E731
    fit = _fit_in_one_task(hist, lambda h: [_gbt_train(h) or (None,) * 13], _GBT_FIT_SCHEMA)
    return fit.selectExpr(
        "n AS n_rows",
        f"{milli('f0m')} AS f0",
        "thr1",
        "nl1 AS n_l1",
        f"{milli('pl1')} AS pred_l1",
        f"{milli('pr1')} AS pred_r1",
        "thr2",
        "nl2 AS n_l2",
        f"{milli('pl2')} AS pred_l2",
        f"{milli('pr2')} AS pred_r2",
        f"{mse('sse0')} AS mse0",
        f"{mse('sse1')} AS mse1",
        f"{mse('sse2')} AS mse2",
    )


# ---------------------------------------------------------------------------
# Fully-oracled unrolled linear SVM (hinge subgradient, L2)
# ---------------------------------------------------------------------------
#
# Same exactness recipe as ml_logistic_unrolled, with one advantage: the
# hinge "link" needs NO libm at all — the subgradient is a comparison
# (y·z < 1) gating -y·x_j, so the only float surface is add/mul on
# identical per-row doubles, and every gradient term quantizes to nano
# int64 before the sum. Three full-batch iterations, lr = 0.5,
# λ = 0.01 L2 (applied as the exact scalar (1 - lr·λ) weight decay).

_SVM_ITERS = 3
_SVM_LR = 0.5
_SVM_LAM = 0.01


def _svm_oracle() -> str:
    z = "(w.w0 * f.x0 + w.w1 * f.x1 + w.w2 * f.x2)"
    feat = (
        "feat AS (SELECT CASE WHEN event_type = 'purchase' THEN 1.0 ELSE -1.0 END AS y, "
        "1.0 AS x0, value / 100.0 AS x1, CAST(hour(ts) AS DOUBLE) / 24.0 AS x2 "
        "FROM events)"
    )
    ctes = [feat, "n AS (SELECT count(*) AS n FROM feat)",
            "w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2)"]
    for k in range(1, _SVM_ITERS + 1):
        upds = ", ".join(
            f"max(w.w{j}) * (1.0 - {_SVM_LR} * {_SVM_LAM}) - {_SVM_LR} * "
            f"(CAST(sum(CAST(floor((CASE WHEN f.y * {z} < 1.0 THEN -f.y * f.x{j} "
            f"ELSE 0.0 END) * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) "
            f"/ (1000000000.0 * max(n.n))) AS w{j}"
            for j in range(3)
        )
        ctes.append(
            f"w{k} AS (SELECT {upds} FROM feat f CROSS JOIN w{k-1} w CROSS JOIN n)"
        )
    w = f"w{_SVM_ITERS}"
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT ROUND(max(w.w0), 6) AS w0, ROUND(max(w.w1), 6) AS w1,
       ROUND(max(w.w2), 6) AS w2,
       CAST(sum(CASE WHEN f.y * {z} < 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_sv,
       ROUND(sum(CASE WHEN f.y * {z} > 0.0 THEN 1 ELSE 0 END) * 1.0
             / max(n.n), 6) AS accuracy,
       ROUND(CAST(sum(CAST(floor(GREATEST(0.0, 1.0 - f.y * {z})
                                 * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
             / (1000000000.0 * max(n.n)), 6) AS hinge_loss
FROM feat f CROSS JOIN {w} w CROSS JOIN n
"""
    )


@query("ml_svm_hinge_unrolled", oracle=_svm_oracle())
def ml_svm_hinge_unrolled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three unrolled full-batch hinge-subgradient iterations of a linear
    SVM (purchase vs rest, same feature map as ml_logistic_unrolled so
    the two linear classifiers are comparable) — weights, support-vector
    count, training accuracy, and the mean hinge loss all hash-match
    (block comment above; no libm anywhere in the fit). One Catalyst
    plan: the 1-row weight relation broadcasts back into each of the 3
    gradient scans + 1 metric scan; nano-quantized int64 gradient sums
    are reduction-order-proof at any parallelism."""
    e = table(spark, sf_dir, "events")
    feat = e.select(
        F.when(F.col("event_type") == "purchase", 1.0).otherwise(-1.0).alias("y"),
        F.lit(1.0).alias("x0"),
        (F.col("value") / 100.0).alias("x1"),
        (F.hour("ts").cast("double") / 24.0).alias("x2"),
    )
    n = feat.agg(F.count(F.lit(1)).alias("n"))
    w = spark.range(1).select(
        F.lit(0.0).alias("w0"), F.lit(0.0).alias("w1"), F.lit(0.0).alias("w2")
    )

    def z_expr():
        return (
            F.col("w0") * F.col("x0")
            + F.col("w1") * F.col("x1")
            + F.col("w2") * F.col("x2")
        )

    for _ in range(_SVM_ITERS):
        m = F.col("y") * z_expr()
        joined = feat.crossJoin(F.broadcast(w)).crossJoin(F.broadcast(n))
        w = joined.agg(
            *[
                (
                    F.max(f"w{j}") * (1.0 - _SVM_LR * _SVM_LAM)
                    - _SVM_LR
                    * (
                        F.sum(
                            F.floor(
                                F.when(m < 1.0, -F.col("y") * F.col(f"x{j}"))
                                .otherwise(0.0)
                                * 1000000000.0
                                + F.lit(0.5)
                            ).cast("long")
                        ).cast("double")
                        / (1000000000.0 * F.max("n"))
                    )
                ).alias(f"w{j}")
                for j in range(3)
            ]
        )
    m = F.col("y") * z_expr()
    return (
        feat.crossJoin(F.broadcast(w))
        .crossJoin(F.broadcast(n))
        .agg(
            F.round(F.max("w0"), 6).alias("w0"),
            F.round(F.max("w1"), 6).alias("w1"),
            F.round(F.max("w2"), 6).alias("w2"),
            F.sum(F.when(m < 1.0, 1).otherwise(0)).cast("bigint").alias("n_sv"),
            F.round(
                F.sum(F.when(m > 0.0, 1).otherwise(0)) * 1.0 / F.max("n"), 6
            ).alias("accuracy"),
            F.round(
                F.sum(
                    F.floor(
                        F.greatest(F.lit(0.0), 1.0 - m) * 1000000000.0 + F.lit(0.5)
                    ).cast("long")
                ).cast("double")
                / (1000000000.0 * F.max("n")),
                6,
            ).alias("hinge_loss"),
        )
    )


def _auc_oracle() -> str:
    z = _LGD_Z
    return (
        "WITH " + ",\n".join(_lgd_cte_prefix()) + f""",
scored AS (
  SELECT f.y, {z} AS s FROM feat f CROSS JOIN w{_LGD_ITERS} w
),
ranked AS (
  SELECT y, s,
         RANK() OVER (ORDER BY s) AS mn,
         COUNT(*) OVER (PARTITION BY s) AS tie
  FROM scored
)
SELECT CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       CAST(SUM(CASE WHEN y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
       ROUND((SUM(CASE WHEN y = 1.0 THEN mn + (tie - 1) / 2.0 ELSE 0 END)
              - SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END)
                * (SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) + 1) / 2.0)
             / (SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END)
                * 1.0 * SUM(CASE WHEN y = 0.0 THEN 1 ELSE 0 END)), 6) AS auc,
       ROUND(2.0 * ((SUM(CASE WHEN y = 1.0 THEN mn + (tie - 1) / 2.0 ELSE 0 END)
              - SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END)
                * (SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) + 1) / 2.0)
             / (SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END)
                * 1.0 * SUM(CASE WHEN y = 0.0 THEN 1 ELSE 0 END))) - 1.0, 6)
         AS gini
FROM ranked
"""
    )


@query("ml_roc_auc_exact", oracle=_auc_oracle())
def ml_roc_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of the shared unrolled-logistic scores via the
    Mann-Whitney identity: AUC = (Σ avg-ranks of positives − n⁺(n⁺+1)/2)
    / (n⁺·n⁻), ties handled by midranks (RANK() + (tiecount−1)/2). The
    scores are the SAME deterministic doubles ml_logistic_unrolled /
    ml_calibration_bins train (shared CTE prefix), so their rank order
    is engine-identical and the AUC hash-matches — the threshold-free
    companion to ml_eval_prf's point metrics.

    Scale shape (r12): no per-row rank. The scored corpus reduces to
    one row per DISTINCT score (tie count + positive count — a
    shuffle-parallel groupBy), ops/distrank.cum_below supplies the
    exclusive preceding-count with bucket-partitioned windows only,
    and the Mann-Whitney rank sum follows from the identity
    midrank(s) = cum_below(s) + (ties(s)+1)/2 — every term a
    half-integer, so the double sum is exact and order-free and the
    oracle (which keeps DuckDB's RANK formulation) still hash-matches.
    No single-partition WindowExec over the feature frame."""
    from sim_spark.ops.distrank import cum_below

    e = table(spark, sf_dir, "events")
    feat = _lgd_feat(e)
    n = feat.agg(F.count(F.lit(1)).alias("n"))
    w = _lgd_train(spark, feat, n)
    scored = feat.crossJoin(F.broadcast(w)).select("y", _lgd_z().alias("s"))
    dist = cum_below(
        scored.groupBy("s").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.when(F.col("y") == 1.0, 1).otherwise(0)).alias("pos_cnt"),
        ),
        "s",
        "cnt",
    )
    pos = F.sum("pos_cnt")
    neg = F.sum(F.col("cnt") - F.col("pos_cnt"))
    rank_sum = F.sum(
        F.col("pos_cnt") * (F.col("cum_below") + (F.col("cnt") + 1) / 2.0)
    )
    auc = (rank_sum - pos * (pos + 1) / 2.0) / (pos * 1.0 * neg)
    return dist.agg(
        pos.cast("bigint").alias("n_pos"),
        neg.cast("bigint").alias("n_neg"),
        F.round(auc, 6).alias("auc"),
        F.round(2.0 * auc - 1.0, 6).alias("gini"),
    )
