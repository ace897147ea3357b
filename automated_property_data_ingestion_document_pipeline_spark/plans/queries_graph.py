"""Graph analytics registrations (operators/graph.py): triangle counts
and degree profile over a deterministic entity graph.

The edge list derives from orders with pure integer arithmetic
(customer → customer+1+orderkey%50 — a banded graph dense in
triangles), so the DuckDB oracle rebuilds the identical graph. The
Spark side counts via degree-oriented wedges (hub-safe at scale); the
oracle uses the textbook u<v<w three-way self-join — agreement proves
the orientation rewrite loses/creates nothing.

Connected components (the third leg of the graph layer) is already
covered by operators/dedup.py's hash-min propagation
(`q_dedup_clusters`, `q_neardup_clusters`, `q_name_canonicalize`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from automated_property_data_ingestion_document_pipeline_spark import catalog
from automated_property_data_ingestion_document_pipeline_spark.operators import graph
from automated_property_data_ingestion_document_pipeline_spark.plans.registry import query

_EDGE_SQL = """
    SELECT o_custkey AS a, o_custkey + 1 + (o_orderkey % 50) AS b FROM orders
"""
_CANON_SQL = f"""
    SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
    FROM ({_EDGE_SQL}) WHERE a <> b
"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = catalog.load(spark, sf_dir, "orders")
    return o.select(
        F.col("o_custkey").alias("a"),
        (F.col("o_custkey") + 1 + (F.col("o_orderkey") % 50)).alias("b"),
    )


@query(
    "q_triangle_count",
    oracle=f"""
    WITH ce AS ({_CANON_SQL})
    SELECT LEAST(e1.u, e1.v, e2.v) AS u, COUNT(*) AS n_tri
    FROM ce e1
    JOIN ce e2 ON e1.v = e2.u
    JOIN ce e3 ON e3.u = e1.u AND e3.v = e2.v
    GROUP BY 1
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles per lowest member vertex. Spark plan: orient edges by
    (degree, id) → wedge join with O(sqrt(m)) fan-out → close against
    canonical edges — the formulation that survives hub vertices at
    100 TB, verified here against the brute 3-way self-join oracle."""
    return graph.triangles_per_lowest_vertex(_edges(spark, sf_dir), "a", "b")


@query(
    "q_degree_histogram",
    oracle=f"""
    WITH ce AS ({_CANON_SQL}),
    deg AS (
      SELECT node, COUNT(*) AS degree
      FROM (SELECT u AS node FROM ce UNION ALL SELECT v AS node FROM ce)
      GROUP BY node
    )
    SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY degree
    """,
)
def q_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the entity graph — the skew profile that
    decides when joins need salting. Two cascaded aggregations, both
    with map-side partials."""
    return graph.degree_histogram(
        graph.canonical_edges(_edges(spark, sf_dir), "a", "b")
    )


@query("q_pagerank")  # rows-only: float power iteration (summation order)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (8 damped power iterations) over the entity graph.
    Rows-only by design: ranks are float sums whose partial-aggregation
    order is engine-specific; the invariants (mass conservation, rank
    ordering by degree) are pinned in tests/test_cdc_graph.py."""
    ranks = graph.pagerank(_edges(spark, sf_dir), "a", "b")
    return ranks.select("node", F.round("rank", 4).alias("rank"))


_PR_SCALE = 10**12
_PR_BASE = 3 * _PR_SCALE // 20  # (1 - 0.85) * scale, exact


def _pagerank_oracle_sql() -> str:
    """Unrolled fixed-point power iteration: r_{i+1}(d) = base +
    17 * SUM(r_i(s) // odeg(s)) // 20 over in-edges — every step BIGINT
    floor arithmetic, so DuckDB reproduces Spark bit-for-bit."""
    ctes = [
        f"ce AS ({_CANON_SQL})",
        "be AS (SELECT u AS s, v AS d FROM ce UNION ALL SELECT v, u FROM ce)",
        "outdeg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS odeg FROM be GROUP BY s)",
        "adj AS (SELECT be.s, be.d, o.odeg FROM be JOIN outdeg o ON o.s = be.s)",
        f"r0 AS (SELECT s AS node, CAST({_PR_SCALE} AS BIGINT) AS rank_fp FROM outdeg)",
    ]
    for i in range(8):
        ctes.append(
            f"r{i + 1} AS (SELECT a.d AS node, "
            f"CAST({_PR_BASE} + (17 * SUM(r.rank_fp // a.odeg)) // 20 AS BIGINT)"
            f" AS rank_fp FROM adj a JOIN r{i} r ON r.node = a.s GROUP BY a.d)"
        )
    return (
        "WITH " + ",\n    ".join(ctes) + "\n    SELECT node, rank_fp FROM r8"
    )


@query("q_pagerank_portable", oracle=_pagerank_oracle_sql())
def q_pagerank_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The float q_pagerank's PORTABLE twin — 8 damped power iterations
    in exact fixed-point BIGINT arithmetic (damping as the rational
    17/20, ranks in units of 1e-12), so partial-sum order cannot change
    a bit and the driver value-hashes the full iterative algorithm:
    degree computation, contribution floor-divides, damped update, all
    8 rounds. Same plan as the production float lane (operators/graph.py):
    one checkpointed adjacency list (the only read of ``orders``), a
    join-free first round, then one node-level join of adjacency and
    ranks per round, lineage cut every fourth round. Upgrades the graph
    family's last rows-only algorithm to oracle-backed, the
    q_minhash_portable pattern applied to iteration.
    ``scale`` is EXPLICIT because the static oracle bakes the 1e-12
    unit into the replayed CTE; the operator validates it against the
    2^63 bound and raises typed instead of wrapping (r07 advice)."""
    return graph.pagerank_fixedpoint(_edges(spark, sf_dir), "a", "b", scale=_PR_SCALE)


@query(
    "q_link_prediction",
    oracle=f"""
    WITH ce AS ({_CANON_SQL}),
    und AS (
        SELECT u AS a, v AS b FROM ce
        UNION ALL
        SELECT v AS a, u AS b FROM ce
    ),
    deg AS (
        SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS degree
        FROM und GROUP BY a
    ),
    mids AS (
        SELECT node FROM deg WHERE degree <= 1000
    ),
    wedges AS (
        SELECT e1.b AS mid, LEAST(e1.a, e2.b) AS u, GREATEST(e1.a, e2.b) AS v
        FROM und e1
        JOIN mids m ON m.node = e1.b
        JOIN und e2 ON e2.a = e1.b AND e1.a < e2.b
    ),
    cn AS (
        SELECT u, v, CAST(COUNT(*) AS BIGINT) AS common_neighbors
        FROM wedges GROUP BY u, v
    )
    SELECT cn.u, cn.v, cn.common_neighbors
    FROM cn
    LEFT JOIN ce ON ce.u = cn.u AND ce.v = cn.v
    WHERE ce.u IS NULL AND cn.common_neighbors >= 3
    """,
)
def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction: NON-adjacent pairs sharing ≥3
    neighbors — the baseline recommender score on the entity graph
    (who should be connected but isn't). Wedge join through the middle
    vertex with a degree cap (hub middles ≤1000 — a celebrity middle
    contributes quadratic wedges and near-zero signal; the cap is the
    standard scale valve and is part of the operator's CONTRACT, so
    the oracle applies it identically). Then one anti join removes
    existing edges. Same wedge machinery as triangle counting, open
    instead of closed."""
    e = _edges(spark, sf_dir)
    ce = (
        e.filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .distinct()
    )
    und = ce.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        ce.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = und.groupBy(F.col("a").alias("node")).agg(F.count("*").alias("degree"))
    mids = deg.filter(F.col("degree") <= 1000).select("node")
    e1 = und.join(F.broadcast(mids), und["b"] == mids["node"]).select(
        F.col("a").alias("w_a"), F.col("b").alias("mid")
    )
    e2 = und.select(F.col("a").alias("mid2"), F.col("b").alias("w_b"))
    wedges = (
        e1.join(e2, e1["mid"] == e2["mid2"])
        .filter(F.col("w_a") < F.col("w_b"))
        .select(
            F.least("w_a", "w_b").alias("u"),
            F.greatest("w_a", "w_b").alias("v"),
        )
    )
    cn = wedges.groupBy("u", "v").agg(F.count("*").alias("common_neighbors"))
    return (
        cn.join(ce, ["u", "v"], "left_anti")
        .filter(F.col("common_neighbors") >= 3)
        .select("u", "v", "common_neighbors")
    )


_SP_MAX_HOPS = 3
_SP_SEED_SQL = "SELECT DISTINCT u AS node FROM ce WHERE u % 1000 = 0"


@query(
    "q_shortest_path",
    oracle=f"""
    WITH RECURSIVE ce AS ({_CANON_SQL}),
    und AS (
        SELECT u AS src, v AS dst, 1 + ((u + v) % 9) AS w FROM ce
        UNION ALL
        SELECT v AS src, u AS dst, 1 + ((u + v) % 9) AS w FROM ce
    ),
    seeds AS ({_SP_SEED_SQL}),
    walk AS (
        SELECT node, 0 AS cost, 0 AS hops FROM seeds
        UNION ALL
        SELECT und.dst AS node, walk.cost + und.w AS cost, walk.hops + 1 AS hops
        FROM walk JOIN und ON und.src = walk.node
        WHERE walk.hops < {_SP_MAX_HOPS}
    )
    SELECT node, CAST(MIN(cost) AS BIGINT) AS min_cost
    FROM walk
    GROUP BY node
    """,
)
def q_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bounded weighted shortest path (Bellman-Ford unrolled to
    3 relaxation rounds) from the seed set, integer edge weights
    1+((u+v)%9). The scale-critical step is the per-round MIN-fold:
    best_h(v) = min(best_h-1(u) + w(u,v)) aggregates the frontier per
    node BEFORE the next join, so the frontier stays O(|V|) instead of
    enumerating O(degree^h) walks — the recursive-CTE oracle DOES
    enumerate every walk and MIN-folds once at the end; agreement
    proves the per-round fold loses nothing. Each round is one
    equi-join + one partial-agg shuffle on the node key; the adjacency
    persists across rounds exactly like q_khop."""
    e = _edges(spark, sf_dir)
    ce = (
        e.filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .distinct()
    )
    wexpr = (F.lit(1) + (F.col("u") + F.col("v")) % 9).alias("w")
    und = ce.select(F.col("u").alias("src"), F.col("v").alias("dst"), wexpr).unionAll(
        ce.select(F.col("v").alias("src"), F.col("u").alias("dst"), wexpr)
    )
    und = und.persist()
    seeds = ce.filter(F.col("u") % 1000 == 0).select(F.col("u").alias("node")).distinct()

    best = seeds.select("node", F.lit(0).cast("bigint").alias("cost"))
    frontier = best
    for _ in range(_SP_MAX_HOPS):
        relaxed = (
            frontier.join(und, frontier["node"] == und["src"])
            .select(
                F.col("dst").alias("node"),
                (F.col("cost") + F.col("w")).cast("bigint").alias("cost"),
            )
            .groupBy("node")
            .agg(F.min("cost").alias("cost"))
        )
        best = best.unionAll(relaxed)
        frontier = relaxed
    return best.groupBy("node").agg(F.min("cost").cast("bigint").alias("min_cost"))
