"""Graph traversal operators over the co-purchase graph (round 5 —
VERDICT r4 "graph depth" gap): BFS hop layers, weighted single-source
shortest paths, and mode-based label propagation.

All three are K-round UNROLLED iterations (K fixed, small), so unlike
open-ended fixpoint algorithms they are SQL-expressible: the DuckDB
oracle replays the identical rounds as chained (non-recursive) CTEs and
every query is hash-checked end-to-end. All arithmetic is integer, so
there is no float-noise surface at all.

Spark shape per round: one equi-join of the state frame onto the edge
list + one keyed aggregate — the relational Bellman-Ford step. The
mirrored edge list has one construction (:func:`_edges_both`), cut once
per query; the state is cut per round (ops/materialize.py, same as
PageRank): each round references the previous state twice (relax leg +
carry leg), so un-cut lineage grows 2^K. At 100 TB the state frame is
one row per node and both the join and the aggregate hash-partition on
the node key.
The full-relaxation form (re-relax every node each round, not just the
frontier) trades redundant work for a fixed per-round plan — the standard
scale formulation, since a frontier filter saves little once the frontier
is a large fraction of the graph and costs an extra distinct per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from sim_spark.io import table
from sim_spark.ops.materialize import materialize
from sim_spark.queries.graph_ops import _EDGES_CTE, _order_baskets
from sim_spark.registry import query

# Undirected graph: mirror the canonical (u < v) edge list both ways.
_E2_CTE = (
    _EDGES_CTE
    + ", e2 AS MATERIALIZED (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v AS src, u AS dst FROM e)"
)

BFS_ROUNDS = 4
SSSP_ROUNDS = 4
LPA_ROUNDS = 3


def _edges_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Materialized once: every round (and both union legs) re-references
    # this frame; un-cut, the pair generation re-executes per reference
    # and the K-round plan grows exponentially (each round's state
    # references the previous state twice: relax + union).
    #
    # The MIRRORED frame is hash-partitioned on src: every consumer loop
    # joins e2.src == state.node, and with an unpartitioned cut each
    # round's AQE plan materialized a fresh full shuffle map stage over
    # the edge frame BEFORE converting the tiny state side to broadcast
    # (measured: two 64-task ~1.4 s stages per round on betweenness).
    # Partitioned once, EnsureRequirements reuses the cached layout for
    # every round's join: one exchange total instead of one per round
    # (guide §2.4). repartition("src") takes the session shuffle
    # parallelism, so the layout is scale-adaptive, and the
    # InMemoryRelation preserves outputPartitioning for consumers. Both
    # directions are emitted IN-ROW by the basket expansion and deduped
    # ON the src layout (hashpartitioning(src) satisfies the
    # (src, dst)-clustered distribution the dedup aggregate needs), so
    # one exchange builds dedup + layout together. Under
    # SIM_SPARK_CHECKPOINT_DIR the cut is a parquet round-trip instead;
    # the read-back carries no layout, and each round's join shuffles.
    both = (
        _order_baskets(spark, sf_dir)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> flatten("
                    "transform(slice(ps, i + 2, size(ps)), "
                    "y -> array(struct(x AS src, y AS dst), "
                    "struct(y AS src, x AS dst))))))"
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
    )
    e2 = both.repartition("src").dropDuplicates(["src", "dst"])
    return materialize(e2, cache_ok=True)


# --------------------------------------------------------------------------
# BFS hop layers
# --------------------------------------------------------------------------


def _bfs_oracle(rounds: int = BFS_ROUNDS) -> str:
    ctes = [
        "src AS (SELECT min(u) AS s FROM e)",
        "d0 AS (SELECT s AS node, 0 AS dist FROM src)",
    ]
    for k in range(1, rounds + 1):
        ctes.append(
            f"""d{k} AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM d{k - 1}
    UNION ALL
    SELECT e2.dst AS node, d{k - 1}.dist + 1 AS dist
    FROM e2 JOIN d{k - 1} ON e2.src = d{k - 1}.node
  ) GROUP BY node)"""
        )
    return (
        _E2_CTE
        + ",\n"
        + ",\n".join(ctes)
        + f"""
SELECT CAST(dist AS BIGINT) AS dist, count(*) AS n_nodes
FROM d{rounds} GROUP BY dist ORDER BY dist"""
    )


@query("graph_bfs_layers", oracle=_bfs_oracle())
def graph_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-distance histogram of a {BFS_ROUNDS}-round BFS from the
    minimum part id. Each round re-relaxes every labeled node (min over
    self and neighbors+1) — the monotone Bellman-Ford step whose K-round
    result is exactly distance ≤ K, independent of execution order."""
    e2 = _edges_both(spark, sf_dir)
    dist = (
        e2.agg(F.min(F.least("src", "dst")).alias("node"))
        .select("node", F.lit(0).alias("dist"))
    )
    for _ in range(BFS_ROUNDS):
        relaxed = e2.join(dist, e2.src == dist.node).select(
            F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        dist = (
            dist.unionAll(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .transform(materialize)
        )
    return (
        dist.groupBy(F.col("dist").cast("long").alias("dist"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("dist")
    )


# --------------------------------------------------------------------------
# Weighted single-source shortest paths (bounded Bellman-Ford)
# --------------------------------------------------------------------------


def _sssp_oracle(rounds: int = SSSP_ROUNDS) -> str:
    ctes = [
        # symmetric deterministic weight: 1 + (u+v) % 5, same both ways
        "ew AS MATERIALIZED (SELECT src, dst, 1 + (src + dst) % 5 AS w FROM e2)",
        "src0 AS (SELECT min(u) AS s FROM e)",
        "s0 AS (SELECT s AS node, 0 AS dist FROM src0)",
    ]
    for k in range(1, rounds + 1):
        ctes.append(
            f"""s{k} AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM s{k - 1}
    UNION ALL
    SELECT ew.dst AS node, s{k - 1}.dist + ew.w AS dist
    FROM ew JOIN s{k - 1} ON ew.src = s{k - 1}.node
  ) GROUP BY node)"""
        )
    return (
        _E2_CTE
        + ",\n"
        + ",\n".join(ctes)
        + f"""
SELECT node, CAST(dist AS BIGINT) AS dist
FROM s{rounds} ORDER BY dist, node LIMIT 25"""
    )


@query("graph_sssp_weighted", oracle=_sssp_oracle())
def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{SSSP_ROUNDS}-round Bellman-Ford from the minimum part id over
    deterministic symmetric integer weights (1 + (u+v) % 5): the 25
    nearest nodes by (distance, id). K bounded rounds give exact
    shortest paths among ≤K-edge walks — the relational relaxation whose
    per-round plan is one join + one min-aggregate."""
    e2 = _edges_both(spark, sf_dir)
    ew = e2.select(
        "src", "dst", (1 + (F.col("src") + F.col("dst")) % 5).alias("w")
    )
    dist = (
        e2.agg(F.min(F.least("src", "dst")).alias("node"))
        .select("node", F.lit(0).alias("dist"))
    )
    for _ in range(SSSP_ROUNDS):
        relaxed = ew.join(dist, ew.src == dist.node).select(
            F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
        )
        dist = (
            dist.unionAll(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .transform(materialize)
        )
    return (
        dist.select("node", F.col("dist").cast("long").alias("dist"))
        .orderBy("dist", "node")
        .limit(25)
    )


# --------------------------------------------------------------------------
# Label propagation (mode of neighbor labels, deterministic tie-break)
# --------------------------------------------------------------------------


def _lpa_cte_chain(rounds: int) -> list[str]:
    """The LPA label CTE chain l0..l{rounds} — shared by the community
    key and the modularity key so both score the SAME labeling."""
    ctes = ["l0 AS (SELECT DISTINCT src AS node, src AS label FROM e2)"]
    for k in range(1, rounds + 1):
        ctes.append(
            f"""l{k} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT e2.dst AS node, l{k - 1}.label, count(*) AS c,
           row_number() OVER (
             PARTITION BY e2.dst
             ORDER BY count(*) DESC, l{k - 1}.label
           ) AS rn
    FROM e2 JOIN l{k - 1} ON e2.src = l{k - 1}.node
    GROUP BY e2.dst, l{k - 1}.label
  ) WHERE rn = 1)"""
        )
    return ctes


def _lpa_oracle(rounds: int = LPA_ROUNDS) -> str:
    return (
        _E2_CTE
        + ",\n"
        + ",\n".join(_lpa_cte_chain(rounds))
        + f"""
SELECT label, count(*) AS n_members
FROM l{rounds} GROUP BY label ORDER BY n_members DESC, label LIMIT 20"""
    )


def _lpa_labels(e2: DataFrame, rounds: int = LPA_ROUNDS):
    """Deterministic LPA labels over the mirrored edge list ``e2`` after
    ``rounds`` synchronous rounds — the Spark twin of _lpa_cte_chain
    (materialized per round)."""
    labels = e2.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(rounds):
        counted = (
            e2.join(labels, e2.src == labels.node)
            .groupBy(F.col("dst").alias("n2"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = W.partitionBy("n2").orderBy(F.desc("c"), F.asc("label"))
        labels = (
            counted.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("n2").alias("node"), "label")
            .transform(materialize)
        )
    return labels


@query("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation, {LPA_ROUNDS} rounds: every node
    adopts the most frequent label among its neighbors, ties broken by
    smallest label — fully deterministic, unlike classic randomized LPA,
    so both engines replay it exactly. Per round: one join + one
    (node, label) count + one per-node top-1 window. Returns the 20
    largest communities."""
    labels = _lpa_labels(_edges_both(spark, sf_dir))
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy(F.desc("n_members"), "label")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# HITS (hubs & authorities), 2 unrolled iterations, integer-exact
# ---------------------------------------------------------------------------
#
# Directed bipartite purchase graph: customer --buys--> part (distinct
# (o_custkey, l_partkey) pairs via orders |><| lineitem). With h0 = 1 the
# first two HITS iterations stay in integer arithmetic end to end:
#   a1(p) = indeg(p)                    (sum of h0 over in-neighbors)
#   h1(c) = SUM a1 over c's parts
#   a2(p) = SUM h1 over p's buyers
#   h2(c) = SUM a2 over c's parts
# Classic HITS normalizes each step; normalization only rescales, and
# rank order after K unnormalized iterations equals the normalized
# order, so reporting raw integer scores keeps the hash exact with no
# float surface. Scores grow ~ (corpus edge density)^K per iteration —
# bigint holds to K=2 far beyond 100 TB fixtures (bound ~ m * max_deg^3).

_HITS_CTE = """
WITH ed AS (
  SELECT DISTINCT o_custkey AS cust, l_partkey AS part
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
a1 AS (SELECT part, COUNT(*) AS s FROM ed GROUP BY part),
h1 AS (SELECT cust, SUM(a1.s) AS s FROM ed JOIN a1 USING (part) GROUP BY cust),
a2 AS (SELECT part, SUM(h1.s) AS s FROM ed JOIN h1 USING (cust) GROUP BY part),
h2 AS (SELECT cust, SUM(a2.s) AS s FROM ed JOIN a2 USING (part) GROUP BY cust)
"""


@query(
    "graph_hits_unrolled",
    oracle=_HITS_CTE
    + """
SELECT side, id, s1, s2 FROM (
  SELECT 'auth' AS side, a1.part AS id,
         CAST(a1.s AS BIGINT) AS s1, CAST(a2.s AS BIGINT) AS s2,
         ROW_NUMBER() OVER (ORDER BY a2.s DESC, a1.part) AS rn
  FROM a1 JOIN a2 USING (part)
  UNION ALL
  SELECT 'hub', h1.cust, CAST(h1.s AS BIGINT), CAST(h2.s AS BIGINT),
         ROW_NUMBER() OVER (ORDER BY h2.s DESC, h1.cust)
  FROM h1 JOIN h2 USING (cust)
) WHERE rn <= 10
""",
)
def graph_hits_unrolled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled HITS iterations over the directed customer->part
    purchase graph (module comment): all-integer mutual reinforcement,
    top-10 authorities and hubs by second-iteration score.

    Spark shape: the distinct edge list is materialized once (it feeds
    four score joins); each iteration is one equi-join + one keyed
    aggregate, both hash-partitioned on the reused node key — the same
    relational-iteration shape as PageRank/BFS above, so the per-round
    plan is fixed and lineage stays flat. The top-10-per-side cut is a
    row_number window over the (tiny) per-node score frames."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    ed = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
        .transform(materialize)
    )
    a1 = ed.groupBy("part").agg(F.count(F.lit(1)).alias("s"))
    h1 = ed.join(a1, "part").groupBy("cust").agg(F.sum("s").alias("s"))
    a2 = ed.join(h1, "cust").groupBy("part").agg(F.sum("s").alias("s"))
    h2 = ed.join(a2, "part").groupBy("cust").agg(F.sum("s").alias("s"))
    auth = (
        a1.withColumnRenamed("s", "s1")
        .join(a2.withColumnRenamed("s", "s2"), "part")
        .select(
            F.lit("auth").alias("side"),
            F.col("part").alias("id"),
            F.col("s1").cast("bigint").alias("s1"),
            F.col("s2").cast("bigint").alias("s2"),
        )
    )
    hub = (
        h1.withColumnRenamed("s", "s1")
        .join(h2.withColumnRenamed("s", "s2"), "cust")
        .select(
            F.lit("hub").alias("side"),
            F.col("cust").alias("id"),
            F.col("s1").cast("bigint").alias("s1"),
            F.col("s2").cast("bigint").alias("s2"),
        )
    )
    w = W.partitionBy("side").orderBy(F.desc("s2"), F.asc("id"))
    return (
        auth.unionAll(hub)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("side", "id", "s1", "s2")
    )


# ---------------------------------------------------------------------------
# Sampled Brandes betweenness (K sources, D-hop truncated), exact
# ---------------------------------------------------------------------------
#
# Brandes' two phases unrolled: forward layered BFS accumulates exact
# integer path counts sigma per (source, node); the backward dependency
# sweep walks layers D-1..1 applying delta(v) = sum over next-layer
# neighbors w of sigma_v/sigma_w * (1 + delta(w)). The only non-integer
# is that ratio — each per-EDGE contribution is nano-quantized
# (floor(sigma_v * (1e9 + dq_w) / sigma_w + 0.5)) before the int64 sum,
# so reduction order can never move the result. K = 4 lexicographically
# smallest nodes as sources, D = 3 hops: the standard sampled/bounded
# estimator pair (Brandes-Pich sampling x k-betweenness truncation) —
# exact betweenness is Theta(nm) and not a 100 TB operation; sampled
# contributions ARE the production estimator, and this key pins their
# semantics exactly.

_BC_SOURCES = 4
_BC_DEPTH = 3


def _bc_oracle() -> str:
    layers = []
    for k in range(1, _BC_DEPTH + 1):
        anti = "\n    ".join(
            f"AND NOT EXISTS (SELECT 1 FROM l{j} x WHERE x.src = p.src AND x.node = ed.dst)"
            for j in range(k)
        )
        layers.append(f"""l{k} AS MATERIALIZED (
  SELECT p.src, ed.dst AS node, CAST(SUM(p.sigma) AS BIGINT) AS sigma
  FROM l{k - 1} p JOIN e2 ed ON ed.src = p.node
  WHERE TRUE
    {anti}
  GROUP BY p.src, ed.dst)""")
    backs = [
        f"d{_BC_DEPTH} AS MATERIALIZED (SELECT src, node, sigma, CAST(0 AS BIGINT) AS dq FROM l{_BC_DEPTH})"
    ]
    for k in range(_BC_DEPTH - 1, 0, -1):
        backs.append(f"""d{k} AS MATERIALIZED (
  SELECT v.src, v.node, v.sigma,
         COALESCE(CAST(SUM(CAST(floor(v.sigma * (1000000000.0 + w.dq)
                                      / w.sigma + 0.5) AS BIGINT)) AS BIGINT),
                  0) AS dq
  FROM l{k} v
  LEFT JOIN e2 ed ON ed.src = v.node
  LEFT JOIN d{k + 1} w ON w.src = v.src AND w.node = ed.dst
  GROUP BY v.src, v.node, v.sigma)""")
    union = "\n    UNION ALL\n    ".join(
        f"SELECT src, node, dq FROM d{k}" for k in range(1, _BC_DEPTH + 1)
    )
    return (
        _E2_CTE
        + f""",
srcs AS (
  SELECT node FROM (SELECT u AS node FROM e UNION SELECT v FROM e)
  GROUP BY node ORDER BY node LIMIT {_BC_SOURCES}
),
l0 AS (SELECT node AS src, node, CAST(1 AS BIGINT) AS sigma FROM srcs),
"""
        + ",\n".join(layers + backs)
        + f"""
SELECT node, CAST(SUM(dq) AS BIGINT) AS dq_total,
       ROUND(SUM(dq) / 1000000000.0, 6) AS bc,
       CAST(COUNT(*) AS BIGINT) AS n_src_reached
FROM ({union})
GROUP BY node ORDER BY SUM(dq) DESC, node LIMIT 15
"""
    )


@query("graph_betweenness_sampled", oracle=_bc_oracle())
def graph_betweenness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-source depth-truncated Brandes betweenness over the co-purchase
    graph (block comment): exact integer sigma forward, nano-quantized
    dependency sweep backward, top-15 by accumulated dependency.

    Spark shape: every layer/dependency state is one equi-join onto the
    materialized mirrored edge list + one keyed aggregate, all keyed by
    (src, node) — the identical relational-iteration plan as BFS/SSSP
    above, twice (forward then backward). States are materialized
    (lineage cut) per round so the 2D-round lineage stays flat; at scale
    the K sources multiply state rows, not plan depth."""
    def _cut(df: DataFrame) -> DataFrame:
        return materialize(df, cache_ok=True)

    e2 = _edges_both(spark, sf_dir)
    ed = e2.select(F.col("src").alias("es"), F.col("dst").alias("edst"))
    srcs = (
        e2.select(F.col("src").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(_BC_SOURCES)
    )
    l0 = srcs.select(
        F.col("node").alias("src"), "node", F.lit(1).cast("long").alias("sigma")
    )
    layers = [l0]
    for rnd in range(_BC_DEPTH):
        prev = layers[-1]
        seen = layers[0].select("src", "node")
        for x in layers[1:]:
            seen = seen.unionAll(x.select("src", "node"))
        nxt = (
            prev.join(ed, prev["node"] == ed["es"])
            .select(prev["src"], F.col("edst").alias("node"), "sigma")
            .join(seen, ["src", "node"], "left_anti")
            .groupBy("src", "node")
            .agg(F.sum("sigma").cast("long").alias("sigma"))
        )
        # The FINAL forward layer is consumed exactly once — as deps[D],
        # which materializes right below. Cutting it here too wrote and
        # re-read the same frame twice (r12: one checkpoint round saved,
        # ~2 s of the sf1 wall).
        if rnd < _BC_DEPTH - 1:
            nxt = _cut(nxt)
        layers.append(nxt)
    deps = {
        _BC_DEPTH: _cut(layers[_BC_DEPTH].withColumn("dq", F.lit(0).cast("long")))
    }
    for k in range(_BC_DEPTH - 1, 0, -1):
        v = layers[k].alias("v")
        w = deps[k + 1].select(
            F.col("src").alias("wsrc"),
            F.col("node").alias("wnode"),
            F.col("sigma").alias("wsigma"),
            F.col("dq").alias("wdq"),
        )
        contrib = F.floor(
            F.col("v.sigma") * (F.lit(1000000000.0) + F.col("wdq")) / F.col("wsigma")
            + F.lit(0.5)
        ).cast("long")
        # every layer node sits on the mirrored edge list by construction
        # (sources are edge endpoints; reached nodes arrived via an edge),
        # so the edge join is INNER (r12) — the dq=0 preservation the old
        # outer join provided is carried entirely by the w-side left join.
        deps[k] = (
            v.join(ed, F.col("v.node") == F.col("es"))
            .join(
                w,
                (F.col("v.src") == F.col("wsrc"))
                & (F.col("edst") == F.col("wnode")),
                "left",
            )
            .groupBy(F.col("v.src").alias("src"), F.col("v.node").alias("node"),
                     F.col("v.sigma").alias("sigma"))
            .agg(F.coalesce(F.sum(contrib), F.lit(0)).cast("long").alias("dq"))
        )
        if k > 1:
            # d1 is consumed exactly once (the bc union) — a cut there
            # would be a pure write-read tax; deeper deps feed both the
            # next sweep and the union, so they are cut.
            deps[k] = _cut(deps[k])
    all_d = deps[1].select("src", "node", "dq")
    for k in range(2, _BC_DEPTH + 1):
        all_d = all_d.unionAll(deps[k].select("src", "node", "dq"))
    return (
        all_d.groupBy("node")
        .agg(
            F.sum("dq").cast("bigint").alias("dq_total"),
            F.round(F.sum("dq") / 1000000000.0, 6).alias("bc"),
            F.count(F.lit(1)).cast("bigint").alias("n_src_reached"),
        )
        .orderBy(F.desc("dq_total"), "node")
        .limit(15)
    )


def _modularity_oracle(rounds: int = LPA_ROUNDS) -> str:
    return (
        _E2_CTE
        + ",\n"
        + ",\n".join(_lpa_cte_chain(rounds))
        + f""",
lab AS (SELECT node, label FROM l{rounds}),
deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM e2 GROUP BY 1),
m2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM e2),
el AS MATERIALIZED (
  -- edge-anchored two-step: label ONE endpoint first. Phrased as one
  -- 3-way join with `la.label = lb.label` in WHERE, the optimizer may
  -- reorder to (la JOIN lb ON label) — a many-to-many label join that
  -- explodes to sum(community²) pairs once LPA converges to giant
  -- communities (measured 65+ GiB temp at sf10, r13 staged sweep).
  SELECT e2.dst, la.label FROM e2 JOIN lab la ON la.node = e2.src
),
intra2 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS mc2
  FROM el JOIN lab lb ON lb.node = el.dst AND lb.label = el.label
),
dc AS (
  SELECT la.label, CAST(SUM(d.d) AS BIGINT) AS dsum
  FROM lab la JOIN deg d ON d.node = la.node GROUP BY la.label
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM dc) AS n_communities,
       m2.m2 // 2 AS n_edges,
       intra2.mc2 // 2 AS intra_edges,
       ROUND(CAST(intra2.mc2 AS DOUBLE) / m2.m2
             - CAST((SELECT SUM(CAST(dsum AS HUGEINT) * dsum) FROM dc) AS DOUBLE)
               / (CAST(m2.m2 AS DOUBLE) * m2.m2), 6) AS modularity
FROM m2 CROSS JOIN intra2
"""
    )


@query("graph_modularity_score", oracle=_modularity_oracle())
def graph_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the LPA communities — the quality score
    that turns `graph_label_propagation`'s output into a measurable
    claim: Q = mc2/m2 − Σ_c d_c²/m2² over the mirrored edge list (both
    quantities integer until the one final expression, so the score
    hash-matches; shared label chain via _lpa_cte_chain/_lpa_labels
    guarantees both keys grade the SAME labeling).

    Spark shape: intra-community edge count is one equi-join of labels
    onto each edge endpoint (node-keyed, the LPA round plan reused);
    degree mass per community is a node-keyed then label-keyed
    aggregate. Everything partial+final; the Σd_c² reduce runs on the
    community frame, which is graph-order-bounded."""
    e2 = _edges_both(spark, sf_dir)
    labels = _lpa_labels(e2)
    la = labels.select(F.col("node").alias("na"), F.col("label").alias("la"))
    lb = labels.select(F.col("node").alias("nb"), F.col("label").alias("lb"))
    m2 = e2.agg(F.count(F.lit(1)).cast("bigint").alias("m2"))
    intra2 = (
        # F.col, not attribute access: `la.na` resolves to the DataFrame's
        # .na (DataFrameNaFunctions) property, not the column.
        e2.join(la, e2.src == F.col("na"))
        .join(lb, e2.dst == F.col("nb"))
        .filter(F.col("la") == F.col("lb"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("mc2"))
    )
    deg = e2.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    dc = (
        labels.join(deg, "node")
        .groupBy("label")
        .agg(F.sum("d").cast("bigint").alias("dsum"))
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    dsq = dc.agg(
        F.sum(dec("dsum") * F.col("dsum")).alias("sum_d2"),
        F.count(F.lit(1)).cast("bigint").alias("n_communities"),
    )
    return (
        m2.crossJoin(intra2)
        .crossJoin(dsq)
        .select(
            "n_communities",
            F.expr("m2 div 2").cast("bigint").alias("n_edges"),
            F.expr("mc2 div 2").cast("bigint").alias("intra_edges"),
            F.round(
                F.col("mc2").cast("double") / F.col("m2")
                - F.col("sum_d2").cast("double")
                / (F.col("m2").cast("double") * F.col("m2")),
                6,
            ).alias("modularity"),
        )
    )
