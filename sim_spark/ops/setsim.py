"""Prefix-filtered exact set-similarity join (SSJoin/PPJoin family,
Chaudhuri et al. ICDE'06; Xiao et al. WWW'08 — public literature).

All-shared-token candidate generation fans out to Σ df(token)² pairs
(33M rows at sf0.1 for the shingle dedup). Prefix filtering: order every
set by one GLOBAL token order (document frequency ascending, id
tie-break), keep each set's first ⌊(1-t)·|s|⌋+1 tokens; any pair with
Jaccard ≥ t MUST collide inside those prefixes (if not, the
intersection is confined to the suffixes, bounding |a∩b| below the
t-required size). Joining prefixes — dominated by RARE tokens by
construction — replaces the full fanout; the exact Jaccard then refines
candidates via in-row array_intersect (JVM-side, no further shuffle).

Same output, same oracle; the candidate stage shrinks ~20-30×.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sim_spark.scratch import track_cache


class CandidateDensityError(ValueError):
    """Raised BEFORE an exact pair generator launches a self-join whose
    bucket density would materialize more candidate pairs than the
    configured budget (default 2e9; override via
    ``SIM_SPARK_EXACT_PAIR_BUDGET``). The r11 sf10 rehearsal measured
    the failure mode this prevents: the shingle prefix buckets of the
    30-word-vocabulary fixture go quadratically dense at sf10 (~13.5B
    candidates) and OOM the executor heap mid-job — a loud, typed,
    up-front refusal with a pointer to the banded/bucketed twins
    (dedup_minhash_lsh, dedup_simhash, dedup_simhash64_tf) is the
    deterministic outcome instead (SCALE.md §24)."""


def check_candidate_density(
    members: DataFrame,
    bucket_cols: list[str],
    *,
    what: str,
    twins: str,
    budget: int | None = None,
) -> int:
    """Exact self-join candidate count Σ c·(c-1)/2 over bucket sizes —
    ONE shuffle-parallel aggregate over the (bucket, member) frame,
    run eagerly before the pair join is launched. Returns the count;
    raises :class:`CandidateDensityError` above budget. The frames
    passed here are already track_cache'd by their callers, so the
    check warms the cache the join needs anyway."""
    if budget is None:
        # Calibrated against the measured heap boundary (SCALE.md §20/§24):
        # dedup_simhash_pairs at sf1 generates 2.30B candidates and peaks
        # at 7.2 GB of the 8 GB executor heap (THIN but green) — the
        # densest run known to survive. Default sits just above it; the
        # sf10 shingle fixture (~13.5B) and sf10 simhash refuse up front.
        budget = int(os.environ.get("SIM_SPARK_EXACT_PAIR_BUDGET", "2500000000"))
    row = (
        members.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.expr("c * (c - 1) div 2")).alias("m"))
        .first()
    )
    mass = int(row["m"] or 0)
    if mass > budget:
        raise CandidateDensityError(
            f"{what}: bucket density would generate {mass:,} exact candidate "
            f"pairs (budget {budget:,}; raise SIM_SPARK_EXACT_PAIR_BUDGET to "
            f"force). This corpus is too dense for the exact ground-truth "
            f"formulation — use the banded twins instead: {twins}."
        )
    return mass


def jaccard_join_prefix(
    sets: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    arr_col: str = "shingles",
    prehashed: bool = False,
) -> DataFrame:
    """``sets``: (id_col, arr_col: array<string> DISTINCT elements) →
    (id_a, id_b, jaccard) with id_a < id_b and jaccard ≥ threshold.

    Exact — prefix filtering only prunes candidates that cannot reach
    the threshold. With ``prehashed=True`` the array column already
    holds distinct 64-bit element hashes (callers that can hash while
    building the sets — e.g. xxhash64 over the shingle word triple —
    skip a corpus-wide string materialization; measured −0.35 s of the
    sf0.1 dedup query)."""
    elems = (
        F.col(arr_col)
        if prehashed
        else F.transform(arr_col, lambda x: F.xxhash64(x))
    )
    # Cached: this (id, hashed-set) frame feeds THREE plan branches
    # (global df counts, prefix extraction, exact refine) — uncached,
    # the upstream tokenize+shingle+hash runs once per branch (measured
    # 3×5 s of the query's cost at sf0.1). One row per document, so the
    # cache is corpus-row-count sized, not fanout sized.
    # The n>0 filter sits ABOVE the cache: placed below, Catalyst pushes
    # it under the projection and the cache-build plan evaluates the full
    # element-hash array TWICE per document (once in the pushed Filter's
    # size(...)>0, once in the Project) — measured 2.93 → 2.61 s on
    # dedup_jaccard_shingles at sf0.1. On the cached frame the filter
    # reads the materialized n column instead.
    hashed = track_cache(
        sets.select(
            F.col(id_col).alias("id"),
            elems.alias("hs"),
            F.size(arr_col).alias("n"),
        )
    ).filter(F.col("n") > 0)

    # Global rarity order: document frequency per token hash, attached
    # with ONE unordered count-over-window partitioned by the hash —
    # the previous groupBy(h) + re-join(h) shape exchanged the exploded
    # corpus twice for the same result (no sort either: the frame is
    # unbounded, so WindowExec only hash-partitions). At billions of
    # docs this is strictly one full shuffle cheaper, and the df side
    # can never OOM an executor the way a forced vocabulary broadcast
    # could.
    exploded = hashed.select("id", "n", F.explode("hs").alias("h")).withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("h"))
    )

    # Per-set prefix under the (df, h) total order. Written as
    # n - ⌈t·n⌉ + 1 with an epsilon guard: the naive ⌊(1-t)·n⌋+1 breaks
    # on float error (⌊(1-0.8)·5⌋ evaluates to ⌊0.99…8⌋ = 0, one short —
    # found by the randomized-equivalence test, which caught an
    # exactly-at-threshold pair being dropped).
    min_overlap = F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9)).cast("int")
    prefix_len = F.col("n") - min_overlap + 1
    prefixes = (
        exploded.groupBy("id", "n")
        .agg(F.sort_array(F.collect_list(F.struct("df", "h"))).alias("ordered"))
        .select(
            "id",
            F.explode(
                F.transform(
                    F.slice("ordered", F.lit(1), prefix_len),
                    lambda s: s.getField("h"),
                )
            ).alias("h"),
        )
    )

    # Cached: both sides of the candidate self-join below are this same
    # frame (alias-only difference defeats exchange reuse), so uncached
    # the df-join + sort-aggregate prefix extraction runs twice. One
    # prefix row per (doc, rare-token) — ~⌊0.2n⌋+1 rows/doc, smaller
    # than the corpus explode. Measured −8% on the query at sf0.1.
    prefixes = track_cache(prefixes)
    mass = check_candidate_density(
        prefixes,
        ["h"],
        what="jaccard_join_prefix",
        twins="dedup_minhash_lsh / dedup_simhash (banded LSH, bounded buckets)",
    )
    a = prefixes.select(F.col("id").alias("id_a"), "h")
    b = prefixes.select(F.col("id").alias("id_b"), "h").hint("shuffle_hash")
    slots = sets.sparkSession.sparkContext.defaultParallelism
    cand = (
        a.join(b, ["h"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # The distinct's output is BYTES-small (853 KB at sf0.1) so AQE
    # coalesces it to one partition — but the refine below is CPU-heavy
    # per row (array_intersect over full shingle sets), which AQE can't
    # see, so the whole refine ran in ONE task (1.4 s of the query's
    # 2.7 s). Round-robin the pair list: 16 bytes a row, and refine cost
    # ∝ candidates at every scale. r15 (VERDICT r14 item 3): the target
    # partition count scales with the MEASURED candidate mass (the
    # density check already computed it) instead of pinning to the slot
    # count — pinning capped refine parallelism on a huge candidate set
    # and forced exactly-slots partitions at any scale; mass-derived
    # sizing (~100k candidate pairs per refine task) fans out further as
    # the pair list grows and still covers every core locally.
    cand = cand.repartition(max(slots, mass // 100_000))

    # Exact refine: the SMALL candidate-pair set joins the corpus keyed
    # on id — a plain shuffle join whose cost scales with the candidates
    # (118k rows at sf0.1), not the corpus. Never force-broadcast the
    # corpus relation: one row per document is fine at sf, impossible at
    # billions of docs; AQE still broadcasts when it measures small.
    # The intersection is computed in-row (elements distinct by contract).
    # Both corpus legs are the SAME frame joined under .alias() — with
    # column-renamed select()s their broadcast plans canonicalized
    # differently and Spark built the identical broadcast twice
    # (~0.45 s each at sf0.1); aliased, the second is a ReusedExchange.
    full = hashed.select("id", "hs", "n")
    fa, fb = full.alias("fa"), full.alias("fb")
    cand_full = cand.join(fa, F.col("id_a") == F.col("fa.id")).join(
        fb, F.col("id_b") == F.col("fb.id")
    )
    inter = F.size(F.array_intersect("fa.hs", "fb.hs"))
    jac = inter / (F.col("fa.n") + F.col("fb.n") - inter)
    return cand_full.filter(jac >= threshold).select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    )
