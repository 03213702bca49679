"""Physical-plan audits (SURVEY.md §4.2): the scale properties we
designed for must be visible in the executed plan, not assumed —
pushdown reaching the scan, broadcasts where intended, no nested-loop
joins on the composite operators, partial aggregation everywhere.
"""

from __future__ import annotations

import re

import pytest

import sim_spark.queries  # noqa: F401
from sim_spark.registry import QUERIES

SF = "/root/testdata/sf0.001"


def plan(spark, key: str) -> str:
    # Plan shape must not depend on which tests ran earlier in the
    # session: a materialized track_cache entry from a prior execution
    # of the SAME key substitutes InMemoryRelation fragments and can
    # change the static plan (a cached intermediate shows up as an
    # InMemoryTableScan where the cold plan reads parquet). Release
    # tracked caches so every snapshot is the cold-session plan the
    # spec was written against.
    from sim_spark.scratch import release_tracked_caches

    release_tracked_caches()
    df = QUERIES[key](spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_column_pruning_reaches_parquet(spark):
    p = plan(spark, "scan_pruned_projection")
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m, p
    cols = [c.split(":")[0] for c in m.group(1).split(",")]
    assert sorted(cols) == ["l_orderkey", "l_quantity"], cols


def test_filter_pushdown_reaches_parquet(spark):
    p = plan(spark, "scan_filter_pushdown")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert m and "GreaterThanOrEqual(l_shipdate" in m.group(1), p


def test_broadcast_join_is_broadcast(spark):
    p = plan(spark, "join_inner_broadcast")
    assert "BroadcastHashJoin" in p, p


def test_multiway_star_broadcasts_all_dims(spark):
    p = plan(spark, "join_multiway_star")
    # lineitem ⋈ orders shuffles; customer/nation/region must broadcast.
    assert p.count("BroadcastHashJoin") >= 3, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_partial_final_aggregation(spark):
    p = plan(spark, "agg_partial_final")
    # Both partial (map-side) and final HashAggregate modes present.
    assert len(re.findall(r"HashAggregate", p)) >= 2, p
    assert "Exchange" in p, p


def test_topk_is_take_ordered_not_global_sort(spark):
    p = plan(spark, "limit_topk")
    assert "TakeOrderedAndProject" in p, p


@pytest.mark.parametrize(
    "key",
    ["join_theta_band", "join_range_interval", "join_asof", "join_auto_asof", "dedup_simhash_pairs", "sim_ann_signlsh"],
)
def test_composite_joins_never_nested_loop(spark, key):
    """The §4.3 designs exist precisely to avoid BNLJ/cartesian plans."""
    p = plan(spark, key)
    assert "CartesianProduct" not in p, f"{key}:\n{p}"
    assert "BroadcastNestedLoopJoin" not in p, f"{key}:\n{p}"


def test_semi_anti_join_operators(spark):
    assert re.search(r"(?i)LeftSemi", plan(spark, "join_semi"))
    assert re.search(r"(?i)LeftAnti", plan(spark, "join_anti"))


def test_jaccard_candidate_join_is_hash_not_sort(spark):
    """The shingle fanout join is hinted shuffled-hash: sorting 260k rows
    per side bought nothing (measured 2× slower at sf0.1)."""
    p = plan(spark, "dedup_jaccard_shingles")
    assert "ShuffledHashJoin" in p, p


def test_sort_multi_nulls_order_is_applied(spark):
    """The value-hash is order-insensitive, so pin the actual output order
    here: priorities ascending, NULL statuses first within a priority."""
    rows = QUERIES["sort_multi_nulls"](spark, SF).limit(500).collect()
    pr = [r["o_orderpriority"] for r in rows]
    assert pr == sorted(pr), "primary sort key violated"
    first_pri = [r for r in rows if r["o_orderpriority"] == pr[0]]
    seen_non_null = False
    for r in first_pri:
        if r["status_or_null"] is not None:
            seen_non_null = True
        else:
            assert not seen_non_null, "NULLS FIRST violated"


def test_salted_join_shuffles_on_salt(spark):
    """The skew scatter must actually reach the physical shuffle. At
    fixture scale the dim side broadcasts (fine — salt rides the join
    keys); the salted plan only matters when both sides shuffle, so pin
    the 100 TB shape by disabling auto-broadcast and assert the salt is
    a shuffle partitioning key."""
    p = plan(spark, "join_skew_salted")
    assert re.search(r"Left keys.*__salt", p), p
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        p = plan(spark, "join_skew_salted")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert re.search(r"hashpartitioning\([^)]*__salt", p), p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_weighted_reservoir_is_take_ordered(spark):
    """A-ES top-k must plan as TakeOrderedAndProject (per-partition heap
    + driver k-merge), never a global Sort — the difference between a
    k-row and corpus-row shuffle at 100 TB."""
    p = plan(spark, "sample_weighted_reservoir")
    assert "TakeOrderedAndProject" in p, p


def test_scd2_filter_below_window_shuffle(spark):
    """The custkey predicate must sit BELOW the window's Exchange (the
    query filters pre-window since Catalyst won't push a modulo
    predicate through a Window) — at 100 TB that's a 50x smaller
    shuffle."""
    p = plan(spark, "scd2_validity_ranges")
    ids = {
        name: int(num)
        for name, num in re.findall(r"(Filter|Exchange|Window) \((\d+)\)", p)
    }
    assert {"Filter", "Exchange", "Window"} <= ids.keys(), p
    assert ids["Filter"] < ids["Exchange"] < ids["Window"], p


def test_pattern_funnel_single_shuffle(spark):
    """Ordered listagg per user = exactly one exchange (on user_id)."""
    p = plan(spark, "events_pattern_funnel_regex")
    assert p.count("Exchange") <= 2, p  # hash agg may add a final-merge exchange


def test_markov_transitions_no_extra_shuffle(spark):
    """Transition matrix: lag window + count + tiny normalization window
    — the count shuffle must be on (prev, cur), never on raw events."""
    p = plan(spark, "events_markov_transitions")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_triangle_count_joins_are_hash_not_cartesian(spark):
    """Degree-oriented triangle counting must be equi-joins end to end —
    no CartesianProduct anywhere; the BNLJ allowance is only the final
    1-row count assembly."""
    p = plan(spark, "graph_triangle_count")
    assert "CartesianProduct" not in p, p
    assert len(re.findall(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", p)) >= 2, p


def test_nb_scoring_grid_is_broadcast(spark):
    """The (word x lang) log-prob grid is vocab-bounded — the token-side
    scoring join must broadcast it, never shuffle the token table twice."""
    p = plan(spark, "ml_naive_bayes_lang")
    assert "BroadcastHashJoin" in p, p


def test_zorder_topk_is_take_ordered(spark):
    p = plan(spark, "sort_zorder_morton")
    assert "TakeOrderedAndProject" in p, p


def test_quality_filter_is_single_partial_final_agg(spark):
    """One scan, one partial+final aggregate — no joins, no window."""
    p = plan(spark, "quality_ensemble_filter")
    assert len(re.findall(r"HashAggregate", p)) >= 2, p
    assert not re.search(r"Join", p), p


def test_sql_string_band_join_is_rewritten_to_equi(spark):
    """The compiled Catalyst rule must catch the naive band predicate
    inside a spark.sql() STRING and replan it as a bucket equi-join."""
    from sim_spark.ops.sqlband import diagnostics, install_sql_band_extension

    assert install_sql_band_extension(spark)
    before = diagnostics(spark)["rewrites"]
    p = plan(spark, "join_sql_band")
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", p), p
    assert diagnostics(spark)["rewrites"] > before


def test_sql_string_timestamp_band_join_is_rewritten_to_equi(spark):
    """Round 8: the rule also covers TIMESTAMP axes with INTERVAL-literal
    bounds (exact epoch-micros mapping) — a naive ts band in SQL text
    must plan as a bucket equi-join, not BNLJ."""
    from sim_spark.ops.sqlband import diagnostics, install_sql_band_extension

    assert install_sql_band_extension(spark)
    before = diagnostics(spark)["rewrites"]
    p = plan(spark, "join_sql_band_ts")
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", p), p
    assert diagnostics(spark)["rewrites"] > before


def test_sql_string_decimal_band_join_is_rewritten_to_equi(spark):
    """Round 9: the rule's fractional path covers DECIMAL/DOUBLE axes —
    double floor-division bucketing with a ±1 bucket margin — so a
    naive decimal band in SQL text must plan as a bucket equi-join, not
    BNLJ."""
    from sim_spark.ops.sqlband import diagnostics, install_sql_band_extension

    assert install_sql_band_extension(spark)
    before = diagnostics(spark)["rewrites"]
    p = plan(spark, "join_sql_band_dec")
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", p), p
    assert diagnostics(spark)["rewrites"] > before


def test_sql_string_ym_band_join_is_rewritten_to_equi(spark):
    """Round 10: year-month-interval bands rewrite via the month-index
    (year*12+month) bucket space — a naive `ts BETWEEN ts2 - INTERVAL
    MONTH AND ts2` in SQL text must plan as a bucket equi-join, not
    BNLJ."""
    from sim_spark.ops.sqlband import diagnostics, install_sql_band_extension

    assert install_sql_band_extension(spark)
    before = diagnostics(spark)["rewrites"]
    p = plan(spark, "join_sql_band_ym")
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", p), p
    assert diagnostics(spark)["rewrites"] > before


def test_ivfpq_candidate_gate_is_cell_equi_join(spark):
    """The IVF stage must gate candidates through the equi-join on cell
    id (broadcast probe list x assignment frame) — scoring the whole
    corpus per query, or any cartesian/BNLJ, defeats the inverted file."""
    p = plan(spark, "sim_topk_ivfpq_adc")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_audio_fingerprint_band_join_is_equi_not_cartesian(spark):
    """Audio near-dup candidates must come from the banded equi-join on
    (band_no, band_value) over the energy-derivative fingerprints — an
    all-pairs scan is what the banding exists to avoid at 100 TB."""
    p = plan(spark, "dedup_audio_fingerprint")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", p), p


def test_image_dhash_band_join_is_equi_not_cartesian(spark):
    """Image near-dup candidates must come from the banded equi-join on
    (band_no, band_value) — an all-pairs Hamming scan (cartesian/BNLJ)
    is exactly what the banding exists to avoid at 100 TB."""
    p = plan(spark, "dedup_image_dhash")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    # the band keys actually reach a hash/sort-merge join key list
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", p), p


def test_png_dhash_band_join_is_equi_not_cartesian(spark):
    """The PNG-container dhash dedup shares the banded-LSH scaffold —
    same plan contract as the BMP twin: candidates from the (band_no,
    band_value) equi-join, never an all-pairs scan."""
    p = plan(spark, "dedup_image_dhash_png")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", p), p


def test_simhash64_band_join_is_equi_not_cartesian(spark):
    """The 64-bit TF-weighted simhash dedup must generate candidates
    from the shared banded-LSH equi-join, never an all-pairs scan."""
    p = plan(spark, "dedup_simhash64_tf")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", p), p


def test_minhash_band_join_is_equi_not_cartesian(spark):
    """LSH banding exists to make candidate generation an equi-join on
    (band_no, band_value) — a cartesian/BNLJ here would defeat it."""
    p = plan(spark, "dedup_minhash_exactperm")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


@pytest.mark.parametrize(
    "key", ["graph_bfs_layers", "graph_sssp_weighted", "graph_label_propagation"]
)
def test_traversal_rounds_are_equi_joins(spark, key):
    """Every unrolled traversal round is a state⋈edges equi-join + keyed
    aggregate — a cartesian/BNLJ anywhere means a broken relaxation join."""
    p = plan(spark, key)
    assert "CartesianProduct" not in p, f"{key}:\n{p}"
    assert "BroadcastNestedLoopJoin" not in p, f"{key}:\n{p}"


def test_pii_redact_is_single_partial_final_agg(spark):
    """Injection + regex redaction are pure codegen projections; the only
    shuffle is the final per-source partial+final aggregate."""
    p = plan(spark, "text_pii_redact")
    assert len(re.findall(r"HashAggregate", p)) >= 2, p
    assert not re.search(r"Join", p), p
    # formatted explain lists each node twice (tree + numbered details)
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p


def test_not_in_is_null_aware_anti_join(spark):
    """NOT IN over a nullable probe must plan Spark's null-aware anti
    join (single-column NOT IN → BroadcastHashJoin LeftAnti with the
    null-aware build), not a plain anti join that would return wrong
    rows for NULL probes."""
    p = plan(spark, "subq_not_in_null_aware")
    assert re.search(r"LeftAnti", p), p
    assert "NullAware" in p or re.search(r"if \(.*= 5\)\) null else", p), p


@pytest.mark.parametrize(
    # scalar=True marks queries that attach a 1-row aggregate (Q11's
    # global cutoff, Q22's average balance) via a keyless broadcast —
    # that compiles to exactly one BroadcastNestedLoopJoin whose build
    # side is a single row, which is scale-safe; any OTHER nested loop
    # (or any cartesian) means Catalyst failed to decorrelate.
    ("key", "scalar"),
    [
        ("tpch_q2_min_cost_supplier", False),
        ("tpch_q11_important_parts", True),
        ("tpch_q20_excess_suppliers", False),
        ("tpch_q21_waiting_suppliers", False),
        ("tpch_q22_idle_customers", True),
    ],
)
def test_tpch_completion_no_nested_loop(spark, key, scalar):
    p = plan(spark, key)
    assert "CartesianProduct" not in p, p
    # Count tree nodes, not raw substrings — the formatted explain
    # repeats every operator once in the tree and once in the details.
    n_bnlj = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p))
    assert n_bnlj <= (1 if scalar else 0), p


def test_q21_exists_branches_are_semi_anti(spark):
    p = plan(spark, "tpch_q21_waiting_suppliers")
    assert "LeftSemi" in p, p
    assert "LeftAnti" in p, p


def test_kmeans_unrolled_centroid_joins_are_broadcast(spark):
    # Both assignment passes join the fact against k*dim centroid rows —
    # they must broadcast (k*dim is tiny at any corpus scale), and the
    # argmin is a windowed row_number, never a cartesian.
    p = plan(spark, "ml_kmeans_unrolled")
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "CartesianProduct" not in p, p


def test_welch_ttest_single_partial_final_agg(spark):
    # The whole test reduces in ONE partial+final aggregate: no joins,
    # no window, no extra exchange beyond the single-row reduce.
    p = plan(spark, "stats_welch_ttest")
    assert len(re.findall(r"HashAggregate", p)) >= 2, p
    assert "Join" not in p, p


def test_pmi_count_joins_are_broadcast(spark):
    # Unigram counts and the two scalar totals join back as broadcasts;
    # the only shuffles are the token-keyed counts.
    p = plan(spark, "text_pmi_bigrams")
    assert p.count("BroadcastHashJoin") >= 3, p
    assert "CartesianProduct" not in p, p


def test_gap_fill_interp_single_user_shuffle(spark):
    # Grid build + both ignore-nulls windows partition by user_id; the
    # plan must not introduce a global (unpartitioned) window.
    p = plan(spark, "win_gap_fill_interp")
    assert "CartesianProduct" not in p, p
    assert "windowspecdefinition(user_id" in p, p


def test_geo_cell_join_is_equi_not_cartesian(spark):
    # The 3x3 neighbor-cell fanout must land as a hash equi-join on
    # (cx, cy) — a box-predicate formulation would plan a BNLJ that no
    # cluster survives at planetary point counts.
    p = plan(spark, "geo_cell_neighbor_join")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_bloom_prefilter_bit_set_is_broadcast(spark):
    # The <=256-row bit-position set must broadcast into the fact probe;
    # candidates then verify via semi/anti joins, never a cross product.
    p = plan(spark, "join_bloom_prefilter")
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_decision_stump_is_single_scan(spark):
    # All 36 threshold counters fold into ONE scan + one partial+final
    # aggregate — a per-threshold fanout would show several scans. Count
    # file-index details, not the node label (formatted mode prints the
    # label twice: tree line + details header).
    p = plan(spark, "ml_decision_stump")
    assert p.count("Location: InMemoryFileIndex") == 1, p
    assert len(re.findall(r"HashAggregate", p)) >= 2, p


def test_kcore_round_joins_are_hash(spark):
    # The registered key materializes edges each round (3^K lineage cut),
    # which truncates per-round operators out of the FINAL plan — so
    # audit one peel round's plan shape directly: the degree-filter
    # restriction must land as two hash semi-joins, never a cross
    # product.
    from pyspark.sql import functions as F

    from sim_spark.queries.graph_ops import _copurchase_edges

    e = _copurchase_edges(spark, SF)
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    keep = deg.filter(F.col("deg") >= 3).select("n")
    round1 = e.join(keep.withColumnRenamed("n", "u"), "u", "left_semi").join(
        keep.withColumnRenamed("n", "v"), "v", "left_semi"
    )
    p = round1._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "LeftSemi" in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_logistic_unrolled_weights_are_broadcast(spark):
    # Each unrolled round cross-joins the 1-row weight relation back
    # into the scan — it must enter as a broadcast, keeping training a
    # single driver-free plan.
    p = plan(spark, "ml_logistic_unrolled")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p, p
    assert "CartesianProduct" not in p, p


def test_er_blocking_is_hash_join_not_cartesian(spark):
    """Blocking must turn the self-comparison into an equi-join on the
    block key; a cartesian/BNLJ would be the O(n^2) shape blocking
    exists to avoid."""
    p = plan(spark, "er_blocking_pairs")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_fuzzy_levenshtein_band_is_bucket_equi_join(spark):
    """r9 sf1 sweep fix: the id band must reach the hash-join key — with
    `lang` (a handful of values) as the only equi key, every same-lang
    pair paid a 30x30 Levenshtein (measured 50 s at sf0.1, quadratic
    beyond). The left side enumerates its three partner ids, so the
    join hashes on (lang, id_b)."""
    p = plan(spark, "text_fuzzy_levenshtein")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    # the exploded partner id participates in the join, so explode must
    # appear below it
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", p), p
    assert re.search(r"Right keys \[2\]: \[lang#\d+, id_b#\d+", p), p
    assert "Generate explode" in p or "explode" in p.lower(), p


def test_key_skew_profile_is_take_ordered(spark):
    """Top-10 heavy hitters must come from orderBy+limit
    (TakeOrderedAndProject), not a global row_number window that drags
    every per-key count to one partition."""
    p = plan(spark, "profile_key_skew")
    assert "TakeOrderedAndProject" in p, p


def test_substring_spans_single_explode_two_aggs(spark):
    """The span dedup is one Generate (explode of in-row hashed spans)
    feeding partial+final aggregates — no join, no cartesian."""
    p = plan(spark, "dedup_substring_spans")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert p.count("Generate") >= 1, p
    assert "HashAggregate" in p, p


def test_pipeline_e2e_decontam_joins_are_equi(spark):
    """The funnel's decontam stage must stay semi/anti equi-joins on the
    gram key; bench side bounded -> broadcastable, never nested-loop."""
    p = plan(spark, "curate_pipeline_e2e")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_semantic_dedup_pair_join_is_equi_on_cluster(spark):
    """SemDeDup's quadratic stage must be an equi-join on the cluster id
    (hash/SMJ with the dot-product residual), never a cartesian; the
    only nested-loop joins are the bounded K-row centroid broadcast."""
    p = plan(spark, "dedup_semantic_clusters")
    assert "CartesianProduct" not in p, p
    assert re.search(r"Right keys \[1\]: \[b_cid#\d+", p), p


def test_dsir_topn_is_take_ordered(spark):
    """DSIR's derandomized selection must be orderBy+limit
    (per-partition heaps), not a global window rank."""
    p = plan(spark, "curate_dsir_weights")
    assert "TakeOrderedAndProject" in p, p


def test_cbo_stats_flow_into_optimizer(spark):
    """SURVEY §4.2 'run ANALYZE in bench harness': external catalog
    tables over the fixtures must carry row-count statistics, and the
    star query's cost-mode plan must show them reaching the optimizer
    (rowCount= estimates on the relations). The physical plan must
    broadcast the small dims and contain no nested-loop join."""
    from sim_spark.ops.cbo import analyzed_tables, cbo_star_join, stats_of

    names = analyzed_tables(spark, SF)
    st = stats_of(spark, names["lineitem"])
    assert re.search(r"\d+ rows", st), st

    df = cbo_star_join(spark, SF)
    cost = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("cost")
    )
    assert "rowCount=" in cost, cost[:2000]
    p = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_auto_band_join_is_not_nested_loop(spark):
    """The purchase⋈view band predicate carries a `user_id` equi key, so
    the plain join plans as a hash/SMJ equi join with the band as
    residual — never BNLJ/cartesian."""
    p = plan(spark, "join_auto_band")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p
    ), p


@pytest.mark.parametrize("key", ["stream_join_purchase_view", "join_auto_band"])
def test_band_rule_leaves_equi_joins_alone(spark, key):
    """With the band rule installed, a band join that already has an
    equi conjunct keeps its plain hash join: no bucket column. A build
    of the rule that also bucketed these joins returned the same rows
    but was slower, because `user_id` is already a selective key
    (medians of 6 alternating runs, sf0.1, 4 cpus:
    stream_join_purchase_view 0.33 vs 0.24 s, events_attribution_credit
    0.87 vs 0.66 s)."""
    from sim_spark.ops.sqlband import install_sql_band_extension

    assert install_sql_band_extension(spark)
    p = plan(spark, key)
    assert "__sql_band_bucket" not in p, p
    assert re.search(r"Right keys \[1\]: \[v_user#\d+", p), p


def test_chunking_is_pure_narrow_map(spark):
    """text_chunk_sliding must not shuffle at all: split/sequence/
    explode/slice are all narrow — the property that makes chunking
    100 TB embarrassingly parallel."""
    p = plan(spark, "text_chunk_sliding")
    assert "Exchange" not in p, p
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m, p
    cols = [c.split(":")[0] for c in m.group(1).split(",")]
    assert sorted(cols) == ["doc_id", "text"], cols


def test_attribution_band_join_is_hash_on_user(spark):
    """The touch<->conversion pairing must stay an equi join on user_id
    with the recency band as residual — never BNLJ/cartesian."""
    p = plan(spark, "events_attribution_credit")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "Join" in p, p


def test_stream_dedup_near_signature_is_shuffle_free(spark):
    """The minhash signature/banding must be computable BEFORE the first
    exchange (in-row transform+array_min, no explode->groupBy) — the
    property that lets the same code run as a stateless streaming
    projection. Only the ownership registry, the join-back, and the
    per-doc rollup may exchange."""
    from sim_spark.ops.minhash import minhash_bands_narrow
    from sim_spark.io import table

    bands = minhash_bands_narrow(table(spark, SF, "documents"))
    bp = bands._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Exchange" not in bp, bp
    p = plan(spark, "stream_dedup_near")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_gbt_fit_has_no_corpus_candidate_join(spark):
    """Both GBT stump fits train from ONE per-hour histogram: the plan
    scans events exactly once, reduces it by hour and never joins data
    rows against the 23 candidates (no cartesian or shuffled join). It
    takes no cache either: an InMemoryRelation would mean a tracked
    round-trip between rounds."""
    p = plan(spark, "ml_gbt_residual_stumps")
    assert "CartesianProduct" not in p, p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p
    scans = re.findall(r"Location: \w+ \[[^\]]*/events\.parquet\]", p)
    assert len(scans) == 1, p
    assert "InMemoryRelation" not in p and "InMemoryTableScan" not in p, p


def test_adaboost_fit_has_no_corpus_candidate_join(spark):
    """Both AdaBoost rounds and the vote train from ONE (value bin,
    label) histogram: the plan scans events exactly once and never joins
    data rows against the 64 candidates or a fitted stump. It takes no
    cache either: an InMemoryRelation would mean a tracked round-trip
    between rounds."""
    p = plan(spark, "ml_adaboost_stumps")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p
    scans = re.findall(r"Location: \w+ \[[^\]]*/events\.parquet\]", p)
    assert len(scans) == 1, p
    assert "InMemoryRelation" not in p and "InMemoryTableScan" not in p, p


def test_winnowing_shuffles_on_doc_only(spark):
    """Winnowing is per-document: the gram explode is narrow, the window
    min and the fingerprint rollup both key on doc_id — exactly one
    shuffle, no pairwise stage."""
    p = plan(spark, "text_winnowing_fingerprint")
    assert "Join" not in p, p
    assert "hashpartitioning(doc_id" in p, p


def test_hits_iterations_are_equi_joins(spark):
    """Each HITS iteration must be an equi join of scores onto the edge
    list + a keyed aggregate — no nested loop anywhere in the 4-round
    chain."""
    p = plan(spark, "graph_hits_unrolled")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_bootstrap_is_single_pass_explode(spark):
    """The Poisson bootstrap must be explode -> partial+final aggregate
    keyed by resample id: no join against any index, no corpus shuffle
    before the explode."""
    p = plan(spark, "stats_bootstrap_ci")
    assert "Generate" in p and "explode" in p, p
    assert "partial_sum" in p, p
    # The only nested-loop join allowed is the 200-row x 1-row
    # ranked x point-estimate broadcast cross; the corpus side must
    # reduce through hash aggregates keyed by resample id.
    assert "hashpartitioning(b#" in p, p


def test_assoc_rules_pair_join_is_equi_on_basket(spark):
    """Pair-support generation must equi-join on the basket key (the
    a-priori candidate pattern) — never a cartesian over items."""
    p = plan(spark, "ml_assoc_rules_lift")
    assert "CartesianProduct" not in p, p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p
    ), p


def test_drawdown_is_window_chain_no_self_join(spark):
    """Max drawdown must be the single-pass cumsum -> running-max window
    chain on the daily frame — no day x day self-join."""
    p = plan(spark, "events_max_drawdown")
    assert "CartesianProduct" not in p, p
    assert p.count("Window") >= 2, p


def test_pit_feature_store_has_no_nested_loop(spark):
    """Both composed as-of joins must stay keyed window passes — no
    per-row subquery, no BNLJ against the feature tables."""
    p = plan(spark, "join_pit_feature_store")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, p
    assert "Window" in p, p


def test_survival_km_folds_on_broadcast_array(spark):
    """The KM prefix products must run on the broadcast collected factor
    array (one cross join of the bounded table against a 1-row frame) —
    the corpus side contributes only keyed aggregates."""
    p = plan(spark, "events_survival_km")
    assert "CartesianProduct" not in p, p
    assert "aggregate" in p.lower(), p


def test_megadup_dedup_is_class_groupby_plus_band_equi(spark):
    """The megadup-robust dedup's exact-signature pre-pass must be a
    plain groupBy (linear) and its signature-linkage stage the banded
    equi-join — never an all-pairs scan."""
    p = plan(spark, "dedup_image_dhash_megadup")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", p), p


# --- r11 (r10 verdict task #5): every headline-suite key has at least one
# asserted plan property. Keys with richer dedicated tests above (or in
# tests/test_scale_ops.py for the bucketed legs) are omitted from this
# table; test_every_headline_key_has_a_plan_assertion below is the
# tripwire that a NEW headline key cannot ship without a plan assertion
# somewhere. `bnlj` is the max allowed BroadcastNestedLoopJoin node
# count — nonzero ONLY where the plan attaches a 1-row/model-sized
# aggregate via a keyless broadcast (scale-safe by construction);
# CartesianProduct is forbidden everywhere.
_HEADLINE_SPECS: dict[str, dict] = {
    "agg_q1_pricing": dict(require=["HashAggregate", "PushedFilters: ["]),
    "join_inner_shuffle": dict(
        require=[r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"]
    ),
    "win_running_sum": dict(require=["Window"]),
    "win_topk_per_group": dict(require=["Window"]),
    "stream_session_30m": dict(require=["HashAggregate", "PushedFilters: ["]),
    "stream_tumbling_1h": dict(require=["HashAggregate", "PushedFilters: ["]),
    "dedup_exact_hash": dict(require=["HashAggregate"]),
    "dedup_simhash": dict(require=["HashAggregate"]),
    # 1-row query-vector attach broadcasts keylessly
    "sim_topk_cosine": dict(bnlj=1, require=["Window"]),
    "text_tfidf_manual": dict(require=["HashAggregate", "Window"]),
    "text_wordcount": dict(require=["TakeOrderedAndProject"]),
    "voxel_histogram": dict(require=["HashAggregate", "PushedFilters: ["]),
    # k centroid rows attach keylessly to every vector
    "ml_kmeans_assign_fixed": dict(bnlj=1, require=["Window"]),
    "tpch_q3_shipping": dict(
        require=["TakeOrderedAndProject", "PushedFilters: ["]
    ),
    "tpch_q7_volume": dict(require=["BroadcastHashJoin", "PushedFilters: ["]),
    "subq_lateral_topn": dict(require=["Window"]),
    "agg_rollup": dict(require=["Expand"]),
    "tpch_q6_forecast": dict(require=["PushedFilters: [", "HashAggregate"]),
    "tpch_q18_large_orders": dict(
        require=["TakeOrderedAndProject", "HashAggregate"]
    ),
    "dedup_connected_components": dict(
        require=[r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", "Window"]
    ),
    # decode pipelines: Arrow-batched MapInPandas, no row-wise Python
    # UDF; exactly one round-robin Exchange of the 8-byte id frame
    # BEFORE payload synthesis (single-row-group inputs otherwise
    # serialize the whole decode — see multimodal_real._doc_ids)
    "multimodal_wav_decode": dict(
        # light decodes skip the fan-out Exchange when the scan already
        # splits wide enough (multimodal_real._doc_ids) — only the
        # narrow-map + no-row-wise-Python properties are unconditional
        require=["MapInPandas"],
        forbid=["BatchEvalPython"]
    ),
    "multimodal_png_decode": dict(
        # light decodes skip the fan-out Exchange when the scan already
        # splits wide enough (multimodal_real._doc_ids) — only the
        # narrow-map + no-row-wise-Python properties are unconditional
        require=["MapInPandas"],
        forbid=["BatchEvalPython"]
    ),
    "multimodal_jpeg_decode": dict(
        require=["MapInPandas", "RoundRobinPartitioning"],
        forbid=["BatchEvalPython"]
    ),
    "multimodal_flac_decode": dict(
        require=["MapInPandas", "RoundRobinPartitioning"],
        forbid=["BatchEvalPython"]
    ),
    "multimodal_jpeg_color_decode": dict(
        require=["MapInPandas", "RoundRobinPartitioning"],
        forbid=["BatchEvalPython"]
    ),
    "multimodal_flac_stereo_decode": dict(
        require=["MapInPandas", "RoundRobinPartitioning"],
        forbid=["BatchEvalPython"]
    ),
    "multimodal_flac_lpc_decode": dict(
        require=["MapInPandas", "RoundRobinPartitioning"],
        forbid=["BatchEvalPython"]
    ),
    "multimodal_png_rgba_decode": dict(
        require=["MapInPandas"], forbid=["BatchEvalPython"]
    ),
    "multimodal_jpeg_progressive_decode": dict(
        require=["MapInPandas", "RoundRobinPartitioning"],
        forbid=["BatchEvalPython"],
    ),
    "multimodal_flac_wasted_decode": dict(
        require=["MapInPandas", "RoundRobinPartitioning"],
        forbid=["BatchEvalPython"],
    ),
    "multimodal_png_palette_adam7_decode": dict(
        require=["MapInPandas"], forbid=["BatchEvalPython"]
    ),
    "multimodal_mp3_header_parse": dict(
        require=["MapInPandas"], forbid=["BatchEvalPython"]
    ),
    "multimodal_flac_depth_decode": dict(
        require=["MapInPandas", "RoundRobinPartitioning"],
        forbid=["BatchEvalPython"],
    ),
    # corpus-total 1-row attach
    "text_unigram_surprisal": dict(bnlj=1, require=["HashAggregate"]),
    # one 1-row stats attach per autocorr lag (6 lags)
    "ts_autocorr": dict(bnlj=6, require=["Window"]),
    "events_ab_experiment": dict(require=["HashAggregate"]),
    "join_cbo_reordered_star": dict(require=["BroadcastHashJoin"]),
    # both boosting rounds and the vote fit in one task from a
    # (value bin, label) histogram: no model-row attach, no cache
    "ml_adaboost_stumps": dict(
        require=["MapInPandas"],
        forbid=["InMemoryRelation", "BroadcastNestedLoopJoin"],
    ),
    "graph_betweenness_sampled": dict(
        require=[r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"]
    ),
    # r11 design: window-min over grams — NO join operator of any kind
    "dedup_onion_ngram": dict(
        require=["Window", "HashAggregate"],
        forbid=["SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"],
    ),
    # micro-nat corpus-total attach + r12 ntile_bounds model-scalar
    # attaches (bucket bounds, boundary pairs) — every BNLJ here is a
    # keyless 1-row broadcast, never a data-scale nested loop
    "text_bigram_perplexity": dict(bnlj=4, require=["Window"]),
    # per-round materialize loop: the returned frame's plan is the final
    # round's read -- nothing to require beyond the global forbids
    "curate_bpe_train_iterative": dict(require=[]),
    # r11 metric-banded audio twin: Arrow-batched decode + banded
    # candidate EQUI-join (never all-pairs), like its routed sibling
    "dedup_audio_fingerprint_metricband": dict(
        require=[
            "MapInPandas",
            r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
        ]
    ),
    # r13 container walks: Arrow-batched mapInPandas fan-out, no
    # row-wise Python, no shuffle before the tiny feature frame (light
    # fan-out class: the SIZED repartition elides the Exchange on
    # small fixtures, like multimodal_mp3_header_parse)
    "multimodal_warc_record_parse": dict(
        require=["MapInPandas"], forbid=["BatchEvalPython"]
    ),
    "multimodal_mp4_box_walk": dict(
        require=["MapInPandas"], forbid=["BatchEvalPython"]
    ),
    "multimodal_mp3_apic_unsync": dict(
        require=["MapInPandas"], forbid=["BatchEvalPython"]
    ),
    "multimodal_bz2_multistream_walk": dict(
        require=["MapInPandas"], forbid=["BatchEvalPython"]
    ),
    "multimodal_mediawiki_dump_parse": dict(
        require=["MapInPandas"], forbid=["BatchEvalPython"]
    ),
    "multimodal_webp_vp8l_decode": dict(
        require=["MapInPandas"], forbid=["BatchEvalPython"]
    ),
    "multimodal_heif_items_walk": dict(
        require=["MapInPandas"], forbid=["BatchEvalPython"]
    ),
    # heavy entropy decode: full fan-out like the other JPEG keys
    "multimodal_jpeg_arith_decode": dict(
        require=["MapInPandas", "RoundRobinPartitioning"],
        forbid=["BatchEvalPython"]
    ),
    # the sampled wedge join must stay an equi-join (no cartesian);
    # the only BNLJ is the 1-row count attach
    "graph_triangle_doulion": dict(
        bnlj=2,
        require=[r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
    ),
}


@pytest.mark.parametrize("key", sorted(_HEADLINE_SPECS))
def test_headline_plan_properties(spark, key):
    spec = _HEADLINE_SPECS[key]
    p = plan(spark, key)
    assert "CartesianProduct" not in p, f"{key}:\n{p}"
    n_bnlj = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p))
    assert n_bnlj <= spec.get("bnlj", 0), f"{key}: {n_bnlj} BNLJ nodes\n{p}"
    for marker in spec["require"]:
        assert re.search(marker.replace("[", r"\["), p) or marker in p, (
            f"{key}: missing {marker!r}\n{p}"
        )
    for marker in spec.get("forbid", []):
        assert marker not in p, f"{key}: forbidden {marker!r} present\n{p}"


def test_every_headline_key_has_a_plan_assertion():
    """Tripwire (r10 verdict task #5): a key cannot enter bench.py's
    HEADLINE suite without at least one plan assertion — either a
    _HEADLINE_SPECS row here, a dedicated test in this file, or (for
    the bucketed bench legs) a test in tests/test_scale_ops.py."""
    import os

    from bench import HEADLINE

    here = os.path.dirname(os.path.abspath(__file__))
    src = ""
    for f in ("test_plans.py", "test_scale_ops.py"):
        with open(os.path.join(here, f)) as fh:
            src += fh.read()
    missing = [
        k
        for k in HEADLINE
        if k not in _HEADLINE_SPECS and f'"{k}"' not in src and f"'{k}'" not in src
    ]
    # the two bench-only bucketed legs are asserted through their ops
    # (ops/bucketing) in test_scale_ops: no-Exchange join + bucket pruning
    allowed_indirect = {
        "join_bucketed_colocated_write",
        "join_bucketed_colocated_read",
    }
    assert not set(missing) - allowed_indirect, missing


# --- r12 (r11 verdict task #1): no single-partition WindowExec over an
# unbounded frame, anywhere.
#
# Two layers. (a) Source tripwire: the ONLY module allowed to build a
# window with an empty partition spec is ops/distrank.py (which never
# does — its bounded bucket-offset frames partition by the non-foldable
# constant `col % 1`, so WindowExec's "No Partition Defined" warning
# stays a true alarm). (b) Plan tripwire: for the headline suite plus
# the four keys r11 flagged (and every key this round's sweep touched),
# the physical plan must not contain a Window fed by an
# `Exchange SinglePartition` — the signature of a global sort window.


def _simple_plan(spark, key: str) -> str:
    from sim_spark.scratch import release_tracked_caches

    release_tracked_caches()
    df = QUERIES[key](spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )


def _single_partition_windows(plan_str: str) -> list[str]:
    """Window nodes whose child Exchange is SinglePartition (tree order
    in simple-mode explain is Window -> [Sort] -> Exchange)."""
    hits = []
    lines = plan_str.splitlines()
    for i, ln in enumerate(lines):
        if not re.search(r"\bWindow(GroupLimit)?\b", ln):
            continue
        for j in range(i + 1, min(i + 4, len(lines))):
            if "Exchange SinglePartition" in lines[j]:
                hits.append(ln.strip()[:120])
                break
            if re.search(r"\bWindow\b|Exchange (hash|range)partitioning", lines[j]):
                break
    return hits


_R12_GLOBAL_WINDOW_KEYS = [
    # the four r11 verdict flags
    "ml_roc_auc_exact",
    "events_median_session_length",
    "events_bot_interevent",
    "win_pareto_share",
    # the rest of the r12 sweep (corpus-scale fixes + bounded conversions)
    "ml_als_rank1",
    "tpch_q15_top_supplier",
    "stats_mannwhitney_u",
    "agg_hist_equidepth",
    "agg_gini_coefficient",
    "stats_theil_sen",
    "stream_watermark_late",
    "text_bigram_perplexity",
    "events_rfm_segments",
    "stats_ks_binned",
    "stats_bootstrap_ci",
    "ml_decision_stump",
    "profile_key_skew",
    "curate_dsir_weights",
    "mixture_weights_sqrt",
    "events_path_trigrams",
    "events_cumulative_new_users",
    "events_survival_km",
    "events_max_drawdown",
    "ts_seasonal_hod",
    "ts_linear_forecast",
    "ts_stl_residual_anomalies",
    "ts_cross_correlation",
    "ts_holt_winters",
    "ts_yule_walker_ar2",
    "ts_autocorr",
]


@pytest.mark.parametrize("key", _R12_GLOBAL_WINDOW_KEYS)
def test_no_single_partition_window_swept_keys(spark, key):
    hits = _single_partition_windows(_simple_plan(spark, key))
    assert not hits, f"{key}: single-partition Window nodes: {hits}"


@pytest.mark.parametrize("key", sorted(_HEADLINE_SPECS))
def test_no_single_partition_window_headline(spark, key):
    hits = _single_partition_windows(_simple_plan(spark, key))
    assert not hits, f"{key}: single-partition Window nodes: {hits}"


def test_no_unpartitioned_window_in_source():
    """Registry-wide source tripwire: an empty-partition window spec
    (`W.partitionBy()`, `W.orderBy(...)` used as a window, or a SQL
    `OVER (ORDER BY ...)` with no PARTITION BY) cannot enter the query
    surface. Bounded-by-construction frames must use
    ops/distrank.bounded_seq_window / bounded_total_window, which carry
    a non-empty (non-foldable constant) partition spec; corpus-scale
    frames must use cum_below / global_row_number. DuckDB ORACLE
    strings are exempt (the oracle's scale is not the contract)."""
    import glob
    import os

    root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    offenders = []
    for f in glob.glob(os.path.join(root, "sim_spark", "**", "*.py"), recursive=True):
        if f.endswith("distrank.py"):
            continue
        src = open(f).read()
        for pat in (r"(?:W|Window)\.partitionBy\(\)", r"(?:W|Window)\.orderBy\("):
            for m in re.finditer(pat, src):
                offenders.append(f"{f}:{src[:m.start()].count(chr(10)) + 1}")
        # spark.sql(...) window specs with no PARTITION BY
        for m in re.finditer(r'spark\.sql\(\s*(?:f?"""(.*?)"""|f?"([^"]*)")', src, re.S):
            body = m.group(1) or m.group(2) or ""
            for w in re.finditer(r"OVER\s*\(([^)]*)\)", body, re.I):
                # empty OVER () is a whole-frame window — equally single-partition
                if "PARTITION" not in w.group(1).upper():
                    offenders.append(
                        f"{f}:{src[: m.start()].count(chr(10)) + 1} OVER({w.group(1)[:50]})"
                    )
            if re.search(r"WINDOW\s+\w+\s+AS\s*\(\s*ORDER", body, re.I):
                offenders.append(f"{f}:{src[: m.start()].count(chr(10)) + 1} WINDOW AS(ORDER)")
    assert not offenders, offenders


def test_exactperm_refine_legs_never_broadcast(spark):
    """r13 sf10 finding: Catalyst's post-explode size estimate is a
    gross under-count, so it broadcast the ~50M-row exploded shingle
    refine legs and OOMed the driver build. The legs are now
    shuffle_hash-hinted; pin that no broadcast exchange feeds the
    shingle-keyed joins."""
    p = plan(spark, "dedup_minhash_exactperm")
    assert "ShuffledHashJoin" in p, p
    import re as _re
    # the only tolerated broadcasts are the per-doc `sizes` legs
    # (single bigint key, one row per doc)
    for m in _re.finditer(r"BroadcastExchange[^\n]*\n[^\n]*", p):
        assert "string" not in m.group(0), f"shingle leg broadcast:\n{p}"


def test_parquet_bloom_rowgroup_skip(spark, tmp_path):
    """scan_parquet_bloom's premise, measured for real (r14): with
    shuffled high-cardinality keys, dictionary encoding off and a
    value inside the min/max range, a missing-key equality scan emits
    ZERO scan-node rows from the bloom-filtered file and EVERY row
    from the bloom-less twin — the bloom filter is the only structure
    that can skip those row groups."""
    from pyspark.sql import functions as F

    df = spark.range(0, 200_000).select(
        (
            F.conv(
                F.substring(F.md5(F.col("id").cast("string")), 1, 8), 16, 10
            )
            % 50_000
        )
        .cast("long")
        .alias("k"),
        F.col("id").alias("v"),
    )
    on_dir, off_dir = str(tmp_path / "on"), str(tmp_path / "off")

    def writer():
        # .option() mutates the DataFrameWriter in place, so each file
        # needs a fresh builder or the twin inherits the bloom options
        return (
            df.repartition(4)
            .write.mode("overwrite")
            .option("parquet.block.size", 256 * 1024)
            .option("parquet.enable.dictionary", "false")
        )

    writer().option("parquet.bloom.filter.enabled#k", "true").option(
        "parquet.bloom.filter.expected.ndv#k", "20000"
    ).parquet(on_dir)
    writer().parquet(off_dir)
    present = {
        r.k for r in spark.read.parquet(off_dir).select("k").distinct().collect()
    }
    missing = next(v for v in range(25_000, 50_000) if v not in present)

    def scan_output_rows(path):
        q = spark.read.parquet(path).filter(F.col("k") == missing)
        assert q.count() == 0  # correctness either way
        q.collect()
        node = q._jdf.queryExecution().executedPlan()
        stack = [node]
        while stack:
            n = stack.pop()
            if "FileSourceScan" in n.getClass().getName():
                it = n.metrics().iterator()
                while it.hasNext():
                    kv = it.next()
                    if kv._1() == "numOutputRows":
                        return kv._2().value()
            for i in range(n.children().size()):
                stack.append(n.children().apply(i))
        raise AssertionError("no FileSourceScan node found")

    assert scan_output_rows(on_dir) == 0, "bloom file should skip all groups"
    assert scan_output_rows(off_dir) == 200_000, (
        "bloom-less twin should stream every row through the scan"
    )
    # physical proof, not just the metric: the from-scratch footer walk
    # (ops/parquet_meta.py) shows parquet-mr wrote a bloom_filter_offset
    # on every chunk of the bloom file and none on the twin
    import glob as _glob

    from sim_spark.ops.parquet_meta import parse_parquet_footer

    def bloom_chunks(d):
        offs = []
        for f in _glob.glob(d + "/part-*.parquet"):
            r = parse_parquet_footer(open(f, "rb").read())
            offs += [
                c["bloom_filter_offset"]
                for rg in r["row_groups"]
                for c in rg["columns"]
                if c["path"] == "k"
            ]
        return offs

    on_offs, off_offs = bloom_chunks(on_dir), bloom_chunks(off_dir)
    assert on_offs and all(o is not None for o in on_offs), on_offs
    assert all(o is None for o in off_offs), off_offs
    # and the registry key's plan carries the pushed IN predicate
    p = plan(spark, "scan_parquet_bloom")
    assert "PushedFilters: [In(l_orderkey" in p, p


# Every multimodal_* key synthesizes, decodes and extracts features in ONE
# Arrow-batched mapInPandas (multimodal_real._decode_docs): a second map
# would ship every payload Python -> JVM -> Python before the parse. The
# heavy (entropy-coded) decodes also round-robin the id frame across the
# task slots, since the single-row-group fixture scan is one task.
_DECODE_KEYS = sorted(
    k
    for k, fn in QUERIES.items()
    if k.startswith("multimodal_")
    and fn.__module__ == "sim_spark.queries.multimodal_real"
)
_HEAVY_DECODE_KEYS = {
    "multimodal_flac_decode",
    "multimodal_flac_depth_decode",
    "multimodal_flac_lpc_decode",
    "multimodal_flac_stereo_decode",
    "multimodal_flac_wasted_decode",
    "multimodal_jpeg_arith_decode",
    "multimodal_jpeg_color_decode",
    "multimodal_jpeg_decode",
    "multimodal_jpeg_pixels",
    "multimodal_jpeg_progressive_color_decode",
    "multimodal_jpeg_progressive_decode",
    "multimodal_mediawiki_dump_parse",
    "multimodal_mp3_apic_unsync",
    "multimodal_parquet_footer_walk",
    "multimodal_webp_container_walk",
    "multimodal_webp_vp8l_decode",
}


@pytest.mark.parametrize("key", _DECODE_KEYS)
def test_decode_key_is_one_python_map(spark, key):
    assert len(_DECODE_KEYS) == 37 and _HEAVY_DECODE_KEYS <= set(_DECODE_KEYS)
    p = plan(spark, key)
    n_map = len(re.findall(r"^\(\d+\) MapInPandas$", p, re.M))
    assert n_map == 1, f"{key}: {n_map} MapInPandas nodes\n{p}"
    if key in _HEAVY_DECODE_KEYS:
        assert "RoundRobinPartitioning" in p, f"{key}:\n{p}"
