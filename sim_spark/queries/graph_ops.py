"""Relational graph analytics over a derived co-purchase graph.

Graph = parts as nodes, an undirected edge between two parts iff some
order contains both (the classic co-occurrence projection of the
bipartite order→part relation). Built entirely from `lineitem`, so both
engines derive the identical edge multiset.

Scale notes (100 TB): the pair-generation fanout is bounded by
lines-per-order (TPC-H ≤ 7 → ≤ 21 pairs per order), so the self-join on
`l_orderkey` is a linear-size shuffle, not a quadratic blowup. Triangle
counting uses DEGREE ORIENTATION (each undirected edge directed from its
(degree, id)-smaller endpoint to the larger): the oriented out-degree is
O(sqrt(m)) for any graph, which bounds the wedge join at O(m^1.5) total
work — the MapReduce-standard trick (cf. Suri & Vassilvitskii,
"Counting Triangles and the Curse of the Last Reducer", WWW'11). The
DuckDB oracle runs the naive a<b<c 3-way join instead; the triangle
COUNT is identical, which is exactly what makes this an oracle-checkable
pair of different physical strategies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sim_spark.ops.materialize import materialize

from sim_spark.io import table, table_count
from sim_spark.registry import query

_EDGES_CTE = """
WITH pl AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
e AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
      FROM pl a JOIN pl b ON a.ok = b.ok AND a.p < b.p)
"""


def _order_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_orderkey, sorted distinct part array) — the shared first stage
    of every co-purchase edge derivation."""
    ps = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey"))
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
    )
    # AQE coalesces the basket frame by BYTES (5 MB at sf0.1 → 4
    # partitions), but the stage after it — O(k²) pair expansion +
    # distinct partials — is CPU-bound (measured 770 ms on 4 of 32
    # cores). Round-robin the baskets across the task slots in the
    # small-corpus regime where that starvation can happen at all; at
    # scale the byte-sized partitions already cover every core and the
    # extra Exchange would be a wasted corpus pass, so it is skipped.
    slots = spark.sparkContext.defaultParallelism
    if table_count(spark, sf_dir, "orders") < slots * 50_000:
        ps = ps.repartition(slots)
    return ps


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected edges (u < v) of the co-purchase graph.

    r12: one keyed aggregate, not a self-join — collect_set(partkey)
    per order (map-side partial aggregation absorbs the old DISTINCT's
    extra shuffle), sort in-row, expand the ordered pairs with nested
    array transforms (u < v by construction). Order baskets are small
    and bounded (TPC-H ≤ 7 items), so the in-row expansion is O(k²) on
    single-digit k — the sf1 edge build dropped ~3× vs the ok-keyed
    self-join, which shuffled the (ok, part) frame twice and joined
    6M × 6M on a hot key. Same distinct edge set, same oracle CTE."""
    return (
        _order_baskets(spark, sf_dir)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps)), "
                    "y -> struct(x AS u, y AS v))))"
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
    )


@query(
    "graph_triangle_count",
    oracle=_EDGES_CTE
    + """
SELECT (SELECT count(DISTINCT n) FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)) AS n_nodes,
       (SELECT count(*) FROM e) AS n_edges,
       (SELECT count(*)
        FROM e e1 JOIN e e2 ON e1.v = e2.u
                  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles
""",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count via degree-oriented wedge join (O(m^1.5));
    oracle does the naive ordered 3-way join — same count."""
    # The derived edge list is referenced by degree, orientation, wedge,
    # closing join, and both count legs — checkpoint it once so the
    # pair-generation self-join runs once, not once per reference
    # (measured 16s -> ~4s at sf0.1). Same for the oriented edge set,
    # which the triangle join reads three times.
    e = _copurchase_edges(spark, sf_dir).transform(materialize)
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    # Orient each edge from the (deg, id)-smaller endpoint: a total
    # order, so the oriented graph is a DAG with out-degree O(sqrt(m)).
    ed = (
        e.join(deg.withColumnRenamed("n", "u").withColumnRenamed("deg", "du"), "u")
        .join(deg.withColumnRenamed("n", "v").withColumnRenamed("deg", "dv"), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    ).transform(materialize)
    o1, o2, o3 = o.alias("o1"), o.alias("o2"), o.alias("o3")
    wedges = o1.join(o2, F.col("o1.dst") == F.col("o2.src")).select(
        F.col("o1.src").alias("a"),
        F.col("o1.dst").alias("b"),
        F.col("o2.dst").alias("c"),
    )
    tri = wedges.join(
        o3, (F.col("a") == F.col("o3.src")) & (F.col("c") == F.col("o3.dst"))
    )
    n_nodes = e.select(F.col("u").alias("n")).unionAll(
        e.select(F.col("v").alias("n"))
    ).agg(F.countDistinct("n").alias("n_nodes"))
    return (
        n_nodes.crossJoin(e.agg(F.count("*").alias("n_edges")))
        .crossJoin(tri.agg(F.count("*").alias("n_triangles")))
    )


@query(
    "graph_degree_hist",
    oracle=_EDGES_CTE
    + """
, deg AS (SELECT n, count(*) AS degree
          FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
          GROUP BY n)
SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree ORDER BY degree
""",
)
def graph_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph — two partial+final
    hash aggregations, the plan any 100 TB degree profile wants."""
    # Checkpoint: the union reads the derived edge list twice.
    e = _copurchase_edges(spark, sf_dir).transform(materialize)
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("degree"))
    )
    return (
        deg.groupBy("degree").agg(F.count("*").alias("n_nodes")).orderBy("degree")
    )


# DOULION edge sampling: keep an edge iff its md5 bucket (first hex
# byte, 256 uniform values) falls below _DOULION_KEEP of _DOULION_MOD.
# p = 1/8 exactly over the hash's value space, and 1/p^3 = 512 stays
# integer, so the estimator never leaves BIGINT arithmetic.
_DOULION_MOD = 8
_DOULION_KEEP = 1
_DOULION_INV_P3 = _DOULION_MOD ** 3  # 512


@query(
    "graph_triangle_doulion",
    oracle=_EDGES_CTE
    + """
, s AS MATERIALIZED (
  SELECT u, v FROM e
  WHERE (('0x' || substr(md5(CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)),
          1, 2))::BIGINT % 8) < 1
)
SELECT (SELECT count(*) FROM e) AS n_edges,
       (SELECT count(*) FROM s) AS n_sampled,
       (SELECT count(*)
        FROM s e1 JOIN s e2 ON e1.v = e2.u
                  JOIN s e3 ON e3.u = e1.u AND e3.v = e2.v) AS tri_sampled,
       512 * (SELECT count(*)
              FROM s e1 JOIN s e2 ON e1.v = e2.u
                        JOIN s e3 ON e3.u = e1.u AND e3.v = e2.v)
         AS tri_estimate,
       511 * 512 * (SELECT count(*)
                    FROM s e1 JOIN s e2 ON e1.v = e2.u
                              JOIN s e3 ON e3.u = e1.u AND e3.v = e2.v)
         AS var_bound
""",
)
def graph_triangle_doulion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count by md5-derandomized DOULION edge sampling (r14,
    verdict task 2 — the scale-provable triangle-family member).

    The exact degree-oriented wedge join (graph_triangle_count) is the
    optimal O(m^1.5) shape but its shuffle exceeds single-box scratch
    at sf10 (SCOPE_sf10_r13.md); the production mitigation is DOULION
    (Tsourakakis et al., KDD'09): keep each edge independently with
    probability p, count triangles EXACTLY on the sampled graph, and
    scale by 1/p^3. Derandomized here with the engine-shared md5
    bucket (curation_extras.md5_bucket convention) so both engines
    sample the IDENTICAL edge subset — the sampled count is a plain
    integer both can replay, which is what makes a sampling estimator
    hash-oracle-able at all. p = 1/8 cuts wedge volume by p^2 = 64x
    and triangle work by p^3 = 512x, so the same wedge plan that
    spills at sf10 on the full graph runs in-memory on the sample.

    Columns (all BIGINT, no float leaves the engine):
    ``tri_estimate`` = 512 * tri_sampled, the unbiased DOULION
    estimator; ``var_bound`` = 512 * 511 * tri_sampled, the plug-in
    first-moment variance estimate Var ~= T_hat * (1/p^3 - 1) — the
    error certificate (it omits DOULION's shared-edge covariance
    term, which needs the unknown full count; the docstringed bound
    is the standard practitioners' certificate). The Spark side runs
    the SAME degree-oriented wedge join as the exact key, just on the
    sampled edges (orientation by sampled-graph degree keeps the
    O(m_s^1.5) bound)."""
    e = _copurchase_edges(spark, sf_dir).transform(materialize)
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("u").cast("string"),
                        F.col("v").cast("string"),
                    ).cast("binary")
                ),
                1,
                2,
            ),
            16,
            10,
        ).cast("long")
        % _DOULION_MOD
    )
    # s is a cheap md5-bucket filter over the cached edge frame — its 4
    # readers (deg union x2, sd, count) re-filter the InMemoryTableScan
    # instead of paying another materialization job.
    s = e.where(bucket < _DOULION_KEEP)
    deg = (
        s.select(F.col("u").alias("n"))
        .unionAll(s.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    sd = (
        s.join(deg.withColumnRenamed("n", "u").withColumnRenamed("deg", "du"), "u")
        .join(deg.withColumnRenamed("n", "v").withColumnRenamed("deg", "dv"), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = sd.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    ).transform(materialize)
    o1, o2, o3 = o.alias("o1"), o.alias("o2"), o.alias("o3")
    wedges = o1.join(o2, F.col("o1.dst") == F.col("o2.src")).select(
        F.col("o1.src").alias("a"),
        F.col("o1.dst").alias("b"),
        F.col("o2.dst").alias("c"),
    )
    tri = wedges.join(
        o3, (F.col("a") == F.col("o3.src")) & (F.col("c") == F.col("o3.dst"))
    ).agg(F.count("*").alias("tri_sampled"))
    return (
        e.agg(F.count("*").alias("n_edges"))
        .crossJoin(s.agg(F.count("*").alias("n_sampled")))
        .crossJoin(tri)
        .select(
            "n_edges",
            "n_sampled",
            "tri_sampled",
            (F.col("tri_sampled") * F.lit(_DOULION_INV_P3)).alias(
                "tri_estimate"
            ),
            (
                F.col("tri_sampled")
                * F.lit(_DOULION_INV_P3 * (_DOULION_INV_P3 - 1))
            ).alias("var_bound"),
        )
    )


_KCORE_K = 3
_KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    """Unrolled k-core peeling rounds as chained CTEs (the PageRank/BFS
    promotion trick): each round drops nodes whose degree in the
    SURVIVING subgraph is < k and restricts the edge list to survivors.
    All-integer, so the per-round (n_nodes, n_edges) trace hash-matches."""
    ctes = [_EDGES_CTE.strip().removeprefix("WITH "), "e0 AS MATERIALIZED (SELECT u, v FROM e)"]
    for r in range(1, _KCORE_ROUNDS + 1):
        p = r - 1
        ctes.append(
            f"""d{r} AS MATERIALIZED (SELECT n, count(*) AS deg
  FROM (SELECT u AS n FROM e{p} UNION ALL SELECT v AS n FROM e{p}) GROUP BY n),
k{r} AS MATERIALIZED (SELECT n FROM d{r} WHERE deg >= {_KCORE_K}),
e{r} AS MATERIALIZED (SELECT e.u, e.v FROM e{p} e
  JOIN k{r} a ON e.u = a.n JOIN k{r} b ON e.v = b.n)"""
        )
    rounds_sql = " UNION ALL ".join(
        f"SELECT {r} AS round, (SELECT count(*) FROM k{r}) AS n_nodes, "
        f"(SELECT count(*) FROM e{r}) AS n_edges"
        for r in range(1, _KCORE_ROUNDS + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT CAST(round AS BIGINT) AS round, CAST(n_nodes AS BIGINT) AS n_nodes,"
        f" CAST(n_edges AS BIGINT) AS n_edges FROM ({rounds_sql}) ORDER BY round"
    )


@query("graph_kcore_peel", oracle=_kcore_oracle())
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling (k=3, 3 unrolled rounds) over the
    co-purchase graph: per round, one degree aggregate + two semi-joins
    restrict edges to nodes still holding ≥ k neighbors — the trace
    (survivor nodes, surviving edges per round) is the output. Fixpoint
    k-core is this loop run until stable; the bounded form keeps it
    SQL-oracle-checkable while exercising the identical per-round plan.
    Edges are materialized (lineage cut) each round (ops/materialize.py):
    every round references the previous edge frame THREE times (degree
    count + two endpoint semi-joins), so uncut lineage would grow 3^K."""
    e = _copurchase_edges(spark, sf_dir).transform(materialize)
    out = None
    for r in range(1, _KCORE_ROUNDS + 1):
        deg = (
            e.select(F.col("u").alias("n"))
            .unionAll(e.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count("*").alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= _KCORE_K).select("n")
        e = (
            e.join(keep.withColumnRenamed("n", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("n", "v"), "v", "left_semi")
            .select("u", "v")
            .transform(materialize)
        )
        row = (
            keep.agg(F.count("*").cast("long").alias("n_nodes"))
            .crossJoin(e.agg(F.count("*").cast("long").alias("n_edges")))
            .select(F.lit(r).cast("long").alias("round"), "n_nodes", "n_edges")
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("round")


@query(
    "graph_clustering_global",
    oracle=_EDGES_CTE
    + """
, deg AS (SELECT n, count(*) AS d
          FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY n),
tri AS (
  SELECT count(*) AS t
  FROM e e1 JOIN e e2 ON e1.v = e2.u JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
),
wedge AS (SELECT CAST(sum(d * (d - 1)) AS BIGINT) AS w2 FROM deg)
SELECT CAST(tri.t AS BIGINT) AS n_triangles,
       CAST(wedge.w2 / 2 AS BIGINT) AS n_wedges,
       ROUND(CASE WHEN wedge.w2 = 0 THEN 0.0
                  ELSE 6.0 * tri.t / CAST(wedge.w2 AS DOUBLE) END, 6)
         AS global_clustering
FROM tri, wedge
""",
)
def graph_clustering_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient 3·triangles/wedges over the
    co-purchase graph: triangles from the degree-oriented wedge join
    (same O(m^1.5) plan as graph_triangle_count), wedges Σd(d−1)/2 from
    one degree aggregate — the coefficient is a ratio of exact integers
    evaluated identically in both engines."""
    e = _copurchase_edges(spark, sf_dir).transform(materialize)
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .agg(F.count(F.lit(1)).alias("t"))
    )
    wedge = deg.agg(F.sum(F.col("d") * (F.col("d") - 1)).cast("long").alias("w2"))
    return tri.crossJoin(wedge).select(
        F.col("t").cast("long").alias("n_triangles"),
        F.expr("w2 div 2").cast("long").alias("n_wedges"),
        F.round(
            F.when(F.col("w2") == 0, 0.0).otherwise(
                6.0 * F.col("t") / F.col("w2").cast("double")
            ),
            6,
        ).alias("global_clustering"),
    )


@query(
    "graph_assortativity",
    oracle=_EDGES_CTE
    + """
, deg AS (SELECT n, count(*) AS d
          FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY n),
ends AS (
  SELECT du.d AS x, dv.d AS y
  FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
  UNION ALL
  SELECT dv.d AS x, du.d AS y
  FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
),
s AS (
  SELECT count(*) AS m,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM ends
)
SELECT CAST(m / 2 AS BIGINT) AS n_edges,
       ROUND((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / sqrt((CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
         + 0.0 AS assortativity
FROM s
""",
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman r): Pearson correlation of endpoint
    degrees over the symmetrized edge list — degree join + one moment
    aggregate, all sums exact int64, the final expression identical
    doubles (the stats_spearman_corr discipline on graph structure).
    Positive r = hubs link hubs; `+ 0.0` normalizes signed zero."""
    e = _copurchase_edges(spark, sf_dir).transform(materialize)
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    joined = (
        e.join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
    )
    ends = joined.select(F.col("du").alias("x"), F.col("dv").alias("y")).unionAll(
        joined.select(F.col("dv").alias("x"), F.col("du").alias("y"))
    )
    s = ends.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    md = F.col("m").cast("double")
    num = md * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    d1 = md * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    d2 = md * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    return s.select(
        F.expr("m div 2").cast("long").alias("n_edges"),
        (F.round(num / F.sqrt(d1 * d2), 6) + F.lit(0.0)).alias("assortativity"),
    )
