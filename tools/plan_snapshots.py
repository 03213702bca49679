#!/usr/bin/env python
"""Generate PLANS.md: formatted physical plans for the headline
operators — the evidence that pushdown/broadcast/partial-agg properties
hold, inspectable without running Spark."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SNAPSHOT = [
    ("scan_filter_pushdown", "predicate reaches PushedFilters; 3-column ReadSchema"),
    ("agg_q1_pricing", "partial+final HashAggregate around one 6-group exchange"),
    ("join_multiway_star", "3 broadcasts; single fact-side shuffle"),
    ("join_theta_band", "(brand, price-bucket) equi join + band refine — r8 sf1 fix, no BNLJ"),
    ("join_asof", "union-tag + single keyed window, no per-row subquery"),
    ("join_range_interval", "bucket explode → shuffled equi-join → residual"),
    ("win_topk_per_group", "WindowGroupLimit pushes rn<=3 into the sort"),
    ("limit_topk", "TakeOrderedAndProject, no global sort"),
    ("dedup_jaccard_shingles", "shuffled-hash candidate join, narrow pair rows"),
    ("sim_topk_cosine", "bounded query broadcast; corpus never shuffles"),
    ("text_pii_redact", "regex scrub is pure codegen; single partial+final agg"),
    ("graph_bfs_layers", "per-round state⋈edges equi-join + min agg, no BNLJ"),
    ("text_unigram_surprisal", "broadcast LM join; associative nano-unit long sum"),
    ("dedup_substring_spans", "int-space span keys; two map-combinable aggregates"),
    ("profile_key_skew", "TakeOrderedAndProject top-10, no global window"),
    ("er_blocking_pairs", "block-key equi-join + levenshtein residual, no BNLJ"),
    ("join_auto_band", "plain band predicate auto-bucketed: equi join + refine, no BNLJ"),
    ("join_cbo_reordered_star", "ANALYZE stats + CBO: fact-first syntax re-sequenced by cost"),
    ("join_auto_asof", "as-of derived from the naive predicate: one shuffle + keyed window"),
    ("join_sql_band", "naive band in spark.sql() TEXT rewritten by the compiled Catalyst rule"),
    ("join_sql_band_ts", "TIMESTAMP band in SQL text: unix_micros bucket equi + refine, no BNLJ"),
    ("ts_dft_power_periods", "literal twiddle-table DFT: one grouped conditional-sum pass"),
    ("dedup_image_dhash", "banded LSH equi-join over dhash bands; bit_count(xor) refine, no BNLJ"),
    ("dedup_audio_fingerprint", "banded equi-join over energy-derivative fingerprint bands, no BNLJ"),
    ("sim_topk_pq_adc", "broadcast nano-int LUT; corpus touched only via 8-byte code rows"),
    ("sim_topk_ivfpq_adc", "IVF cell-equi candidate gate + PQ ADC refine; no corpus scan per query"),
    ("ml_gbt_residual_stumps", "one conditional-sum reduce per fit; 23-row tournament broadcast-side"),
    ("text_winnowing_fingerprint", "narrow gram explode; single doc_id shuffle, no pairwise stage"),
    ("stats_bootstrap_ci", "explode -> resample-keyed partial+final; no corpus index join"),
    ("geo_dbscan_grid", "cell-count density; 3x3 offset-explode equi-adjacency, no distance join"),
    ("join_pit_feature_store", "two composed as-of joins: user-keyed shuffle+sort each, no subqueries"),
    ("events_survival_km", "three user-keyed reduces -> bounded KM table; fold on collected array"),
    # r9
    ("join_sql_band_dec", "DECIMAL band in SQL text: clamped double floor-div bucket equi + refine, no BNLJ"),
    ("join_sql_band_ym", "YEAR-MONTH interval band in SQL text: exact month-index bucket equi + refine, no BNLJ"),
    ("sim_topk_cosine_gemm", "blocked GEMM via side-tagged union into ONE groupBy (r10: cogroup dropped blocks at 24 partitions)"),
    ("dedup_embedding_ann", "per-cell GEMM candidate scoring + exact refine; cell join, never corpus self-join"),
    ("dedup_image_dhash_png", "PNG-decoded dhash through the shared banded-LSH scaffold, no BNLJ"),
    ("dedup_simhash64_tf", "TF-weighted 64-bit simhash; 4x16-bit band equi-join, sparse report"),
    ("text_fuzzy_levenshtein", "id band auto-bucketed (lang alone is a skew key); levenshtein only on band pairs"),
    ("text_bigram_perplexity", "broadcast bigram LM; nano-unit long sum; NTILE only on per-doc scores"),
    ("dedup_semantic_clusters", "ladder-K centroid broadcast; cluster-id shuffle scopes the quadratic stage"),
    # r11
    ("multimodal_jpeg_color_decode", "pure narrow decode chain: two MapInPandas, NO Exchange, no row-wise Python UDF"),
    ("multimodal_flac_decode", "lossless audio decode: two MapInPandas, NO Exchange, no row-wise Python UDF"),
]


def explain_formatted(df) -> str:
    """``df.explain("formatted")`` as a string (the pre-execution plan)."""
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def main() -> None:
    from sim_spark.session import get_spark
    import sim_spark.queries  # noqa: F401
    from sim_spark.registry import QUERIES

    spark = get_spark("plans", cpus=4)
    lines = [
        "# PLANS — physical-plan snapshots (sf0.001, AQE pre-execution)",
        "",
        "Generated by tools/plan_snapshots.py; plan properties are",
        "additionally asserted in tests/test_plans.py so drift fails CI.",
        "",
    ]
    for key, why in SNAPSHOT:
        df = QUERIES[key](spark, "/root/testdata/sf0.001")
        plan = explain_formatted(df)
        # Operator tree + scan detail (ReadSchema/PushedFilters evidence),
        # capped so join-heavy plans don't balloon the file.
        plan_lines = plan.splitlines()
        kept, detail_budget = [], 90
        for ln in plan_lines:
            if len(kept) < detail_budget or "PushedFilters" in ln or "ReadSchema" in ln:
                kept.append(ln[:160])
        if len(kept) < len(plan_lines):
            kept.append(f"... ({len(plan_lines) - len(kept)} detail lines elided)")
        lines += [f"## {key}", "", f"*{why}*", "", "```", *kept, "```", ""]
    out = os.path.join(os.path.dirname(__file__), "..", "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"PLANS.md written ({len(SNAPSHOT)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
