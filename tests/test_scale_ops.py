"""Physical-property tests for the data-layout operators: the values are
oracle-checked like everything else; THESE tests pin the plan/layout
facts that make the ops worth having at 100 TB."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_bucketed_join_has_no_exchange(spark):
    """Both sides bucketed on the join key with equal bucket counts →
    SortMergeJoin with zero Exchange and zero Sort nodes."""
    from sim_spark.io import table
    from sim_spark.ops.bucketing import bucketed_join

    li = table(spark, SF, "lineitem").select("l_orderkey", "l_extendedprice")
    o = table(spark, SF, "orders").select("o_orderkey", "o_orderstatus")
    j = bucketed_join(spark, li, o, "l_orderkey", "o_orderkey", "t_nx", n_buckets=4)
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan
    # (A Sort may remain: sortBy only eliminates it when each bucket is
    # a single file, which a parallel writer doesn't guarantee. The
    # shuffle — the expensive part — is what bucketing removes.)
    # And the result matches the plain join.
    got = j.count()
    want = li.join(o, li.l_orderkey == o.o_orderkey).count()
    assert got == want


def test_bucketed_scan_respects_bucket_pruning(spark):
    """A point predicate on the bucket key scans only 1 of n buckets
    (SelectedBucketsCount in the scan node)."""
    from sim_spark.io import table
    from sim_spark.ops.bucketing import write_bucketed

    o = table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    t = write_bucketed(spark, o, "t_prune", "o_orderkey", n_buckets=4)
    # autoBucketedScan turns the bucketed layout OFF when no operator
    # needs the distribution — which also forfeits bucket pruning; a
    # deployment doing point lookups on the bucket key disables it.
    key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        plan = (
            t.filter(F.col("o_orderkey") == 7)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set(key, prev)
    assert "SelectedBucketsCount: 1 out of 4" in plan, plan


def test_sorted_range_sink_files_are_disjoint(spark, tmp_path):
    """repartitionByRange + sortWithinPartitions → per-file [min,max]
    l_shipdate spans don't overlap, so footer stats prune whole files."""
    from sim_spark.io import table

    out = str(tmp_path / "ranges")
    (
        table(spark, SF, "lineitem")
        .repartitionByRange(6, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(out)
    )
    ds = pq.ParquetDataset(out)
    spans = []
    for frag in ds.fragments:
        md = frag.metadata
        idx = frag.physical_schema.names.index("l_shipdate")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        spans.append((min(mins), max(maxs)))
    spans.sort()
    assert len(spans) >= 2  # range partitioner actually split
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi <= lo, f"overlapping file ranges: {spans}"


def test_dedup_embedding_cosine_keep_set_invariants(spark):
    """Canonical ids are ≤ their members, canonicals are self-canonical
    (one-hop closure property), and non-dups keep themselves."""
    import sim_spark.queries  # noqa: F401 — populates the registry
    from sim_spark.registry import QUERIES

    df = QUERIES["dedup_embedding_cosine"](spark, SF).cache()
    try:
        assert df.filter(F.col("canonical_id") > F.col("doc_id")).count() == 0
        assert (
            df.filter(~F.col("is_near_dup") & (F.col("canonical_id") != F.col("doc_id"))).count()
            == 0
        )
        n_total = df.count()
        n_distinct = df.select("doc_id").distinct().count()
        assert n_total == n_distinct  # exactly one verdict per vector
    finally:
        df.unpersist()


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """Fact partitioned by ship_year joined to a filtered dim → the fact
    scan's PartitionFilters carries a dynamicpruningexpression (runtime
    partition skip), not a full scan."""
    from sim_spark.io import table

    out = str(tmp_path / "fact")
    li = table(spark, SF, "lineitem")
    (
        li.select(F.year("l_shipdate").cast("bigint").alias("ship_year"), "l_extendedprice")
        .write.mode("overwrite")
        .partitionBy("ship_year")
        .parquet(out)
    )
    fact = spark.read.parquet(out)
    o = table(spark, SF, "orders")
    dim = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select(F.year("o_orderdate").cast("bigint").alias("ship_year"))
        .distinct()
    )
    j = fact.join(F.broadcast(dim), "ship_year").groupBy("ship_year").count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan, plan


def test_runtime_bloom_filter_injection(spark):
    """With runtime bloom filters on, a selective filter on one join
    side injects a bloom_filter_agg + might_contain probe on the other —
    shuffle input shrinks before the exchange. Pins the conf recipe that
    activates it (broadcast disabled: bloom filters target shuffle
    joins; scan-size threshold floored for the small fixture)."""
    from sim_spark.io import table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = table(spark, SF, "lineitem")
        o = table(spark, SF, "orders").filter(F.col("o_totalprice") > 400000)
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
    finally:
        for k, v in prev.items():
            if v is not None:
                spark.conf.set(k, v)


def test_hll_sketch_merge_invariants(spark):
    """Union of per-group sketches must estimate the same as one global
    sketch (mergeability), and within 5% of the exact distinct count."""
    import sim_spark.queries  # noqa: F401
    from sim_spark.registry import QUERIES

    row = QUERIES["sketch_hll_mergeable"](spark, SF).collect()[0]
    assert row["merged_estimate"] == row["direct_estimate"]
    exact = row["exact_global"]
    assert abs(row["merged_estimate"] - exact) / exact < 0.05


def test_cosine_ops_handle_empty_inputs(spark):
    """GEMM helpers must return empty frames, not crash on shape
    mismatch, when the corpus or query side is empty."""
    from sim_spark.io import table
    from sim_spark.ops.cosine_blas import exact_cosine_pairs, exact_topk_cosine

    e = table(spark, SF, "embeddings").filter(F.col("vec_id") < 0)  # empty
    assert exact_cosine_pairs(e, 0.4).count() == 0
    full = table(spark, SF, "embeddings")
    c = full.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("c_emb"))
    q0 = e.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb"))
    assert exact_topk_cosine(c, q0, k=5).count() == 0


def test_connected_components_chain_converges_logarithmically(spark):
    """A 100-node path graph (diameter 99) must converge inside the
    default max_iter=20 budget — pointer jumping makes rounds O(log d);
    plain min-label propagation would need ~99 rounds and warn."""
    import warnings

    from sim_spark.ops.connected_components import connected_components

    n = 100
    nodes = spark.range(n).withColumnRenamed("id", "nid")
    edges = (
        spark.range(n - 1)
        .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # a max_iter warning fails the test
        cc = connected_components(nodes, edges, node_col="nid").collect()
    assert len(cc) == n
    assert {r["component"] for r in cc} == {0}


def test_connected_components_rounds_path_matches_one_task_finish(spark, monkeypatch):
    """With the finish threshold at 0 every graph takes the distributed
    contraction rounds; their labels must equal the whole-graph
    union-find finish, on the 100-node chain and on the dedup key."""
    import warnings

    import sim_spark.ops.connected_components as ccmod
    import sim_spark.queries  # noqa: F401
    from sim_spark.registry import QUERIES

    n = 100
    nodes = spark.range(n).withColumnRenamed("id", "nid")
    edges = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )

    def rows():
        with warnings.catch_warnings():
            warnings.simplefilter("error")  # a max_iter warning fails the test
            chain = ccmod.connected_components(nodes, edges, node_col="nid")
            chain = sorted(map(tuple, chain.collect()))
        key = QUERIES["dedup_connected_components"](spark, "/root/testdata/sf0.01")
        return chain, sorted(map(tuple, key.collect()))

    one_task = rows()
    monkeypatch.setattr(ccmod, "_FINISH_EDGES", 0)
    assert rows() == one_task
    assert len(one_task[0]) == n and {c for _, c in one_task[0]} == {0}


def test_connected_components_is_a_fixpoint(spark):
    """CC labels are stable under one more propagation round (true
    fixpoint), components are min-labeled, and CC refines the one-hop
    dedup: every one-hop (doc, canonical) pair shares a component."""
    import sim_spark.queries  # noqa: F401
    from sim_spark.registry import QUERIES

    cc = QUERIES["dedup_connected_components"](spark, SF).cache()
    onehop = QUERIES["dedup_embedding_cosine"](spark, SF)
    try:
        # min-labeled: the component id is a member of the component
        assert cc.filter(F.col("component_id") > F.col("doc_id")).count() == 0
        members = cc.groupBy("component_id").agg(F.min("doc_id").alias("m"))
        assert members.filter(F.col("component_id") != F.col("m")).count() == 0
        # refinement: one-hop canonical pairs never straddle components
        a = cc.select(F.col("doc_id").alias("d"), F.col("component_id").alias("cd"))
        b = cc.select(
            F.col("doc_id").alias("c"), F.col("component_id").alias("cc_")
        )
        straddle = (
            onehop.filter(F.col("is_near_dup"))
            .join(a, F.col("doc_id") == F.col("d"))
            .join(b, F.col("canonical_id") == F.col("c"))
            .filter(F.col("cd") != F.col("cc_"))
            .count()
        )
        assert straddle == 0
    finally:
        cc.unpersist()


def test_compaction_reduces_file_count(spark):
    """sink_compacted_files: the rebalance rewrite must produce far fewer
    parquet files than the 64-way scattered input while preserving the
    row count (content parity is the key's oracle)."""
    import glob
    import os

    from sim_spark.io import table
    from sim_spark.registry import QUERIES
    from sim_spark.scratch import scratch_dir, sf_tag

    out = QUERIES["sink_compacted_files"](spark, SF)
    n_rows = out.agg(F.sum("n")).collect()[0][0]
    n_in = table(spark, SF, "lineitem").count()
    assert n_rows == n_in
    tag = sf_tag(SF)
    scattered = glob.glob(os.path.join(scratch_dir(f"compact_in_{tag}"), "*.parquet"))
    compacted = glob.glob(os.path.join(scratch_dir(f"compact_out_{tag}"), "*.parquet"))
    assert len(scattered) == 64
    assert 0 < len(compacted) <= 4, len(compacted)


def test_band_recall_floors_sf01(spark):
    """r9 verdict task #3: the banded-LSH saturation-cap recall caveat
    (ops/bandlsh.py docstring) measured against the exact Hamming pair
    set per modality at sf0.1, with regression floors. The numbers (and
    what they decompose into) live in SCALE.md §21:

    * image dhash — uncapped banding is ~complete (99.96%), but the
      fixture's dup classes are far larger than CAP=64, so the cap
      drops saturated-class pairs (capped ~4.6%). That IS the
      documented trade-off: bounded candidates at megadup buckets in
      exchange for intra-megaclass pairs (an exact-signature pre-pass
      recovers the hd=0 fraction at linear cost — see SCALE.md).
    * audio fingerprint — the loss is the BAND SCHEME, not the cap
      (uncapped ~32.5%): the energy nibbles route bucketing but are
      masked OUT of the hd metric, so metric-close pairs can differ in
      every full band value. Capped ~1.3%.
    * simhash64 — sparse by design: capped ~92%, uncapped 100%.

    Floors are set ~20% below measured so genuine regressions (a cap
    change, a band-packing bug) trip while fixture noise does not."""
    from sim_spark.ops.bandlsh import band_recall
    from sim_spark.queries.multimodal_real import (
        bmp_dhash_sig,
        wav_fingerprint_sig,
    )
    from sim_spark.queries.text_extras import simhash64_sig

    sf = "/root/testdata/sf0.1"
    img = band_recall(bmp_dhash_sig(spark, sf), hd_max=4)
    assert img["recall_uncapped"] >= 0.99, img
    assert img["recall"] >= 0.035, img
    aud = band_recall(wav_fingerprint_sig(spark, sf), hd_max=3, hd_mask=255)
    assert aud["recall_uncapped"] >= 0.25, aud
    assert aud["recall"] >= 0.010, aud
    sh = band_recall(simhash64_sig(spark, sf), hd_max=3)
    assert sh["recall_uncapped"] >= 0.99, sh
    assert sh["recall"] >= 0.75, sh


def test_band_mask_dial_restores_pigeonhole_recall(spark):
    """r10 verdict task #8 — the band_mask dial. Signatures whose METRIC
    bits (low 8, hd_mask=255) are near-identical but whose routing
    nibbles (bits 8-15, the entropy-booster position) differ in EVERY
    band share no full-value bucket: the default routed banding misses
    them even UNCAPPED — the measured scheme-limit of SCALE.md §21's
    audio row. Bucketing on the metric bits (band_mask=hd_mask) restores
    the pigeonhole guarantee: hd <= 3 over 4 bands forces one exact band
    match, so uncapped recall is 100% by construction."""
    from sim_spark.ops.bandlsh import band_recall, banded_dedup

    rows = []
    # 20 pairs: docs (2i, 2i+1) metric-identical in 3 bands, 1 metric bit
    # apart in band 0 (hd=1), routing nibbles differ in ALL bands
    for i in range(20):
        base = [(17 * i + 3 * k) % 256 for k in range(4)]
        route_a = [((i + k) % 15 + 1) << 8 for k in range(4)]
        route_b = [((i + k + 7) % 15 + 1) << 8 for k in range(4)]
        if route_a == route_b:  # paranoid: never let routing collide
            route_b = [r + 256 for r in route_b]
        rows.append((2 * i, *[base[k] + route_a[k] for k in range(4)]))
        rows.append(
            (2 * i + 1, *[(base[k] ^ (1 if k == 0 else 0)) + route_b[k]
                          for k in range(4)])
        )
    sig = spark.createDataFrame(
        rows, "doc_id long, b0 long, b1 long, b2 long, b3 long"
    )
    routed = band_recall(sig, hd_max=3, hd_mask=255)
    metric = band_recall(sig, hd_max=3, hd_mask=255, band_mask=255)
    assert routed["n_true"] == 20 and metric["n_true"] == 20
    # scheme-limit: routed buckets miss every pair, capped or not
    assert routed["recall_uncapped"] == 0.0, routed
    # pigeonhole: metric buckets find every pair (no saturation at n=40)
    assert metric["recall"] == 1.0 and metric["recall_uncapped"] == 1.0, metric
    # and the production entry point honors the dial end to end
    got = banded_dedup(sig, hd_max=3, hd_mask=255, band_mask=255)
    assert got.count() == 20
    miss = banded_dedup(sig, hd_max=3, hd_mask=255)
    assert miss.count() == 0


def test_audio_metricband_uncapped_recall_is_complete_sf001(spark):
    """The shipped metric-banded audio key's scheme property on the real
    fixture: band_mask=255 lifts UNCAPPED recall to 100% (pigeonhole),
    vs the routed scheme's measured ~33% — SCALE.md §21 r11 row. Floors
    ~20% under measured, same protocol as the sf0.1 floors test."""
    from sim_spark.ops.bandlsh import band_recall
    from sim_spark.queries.multimodal_real import wav_fingerprint_sig

    sf = "/root/testdata/sf0.01"
    aud = band_recall(
        wav_fingerprint_sig(spark, sf), hd_max=3, hd_mask=255, band_mask=255
    )
    assert aud["recall_uncapped"] >= 0.999, aud
