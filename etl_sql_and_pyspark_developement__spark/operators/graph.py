"""Distributed triangle counting — degree-ordered wedge join.

Triangles are the primitive behind clustering coefficients, community
cohesion, and (on a similarity graph) "how redundant is this item's
neighborhood" — the structural complement to PageRank centrality
(operators/hierarchy.pagerank) over the same kNN edges.

The naive plan (edges ⋈ edges on the shared vertex, then close) blows
up on hubs: a degree-d vertex generates d² wedge candidates, so one
celebrity node melts a task. The MapReduce-classic fix (Suri &
Vassilvitskii, WWW'11; Cohen, CiSE'09) is DEGREE ORIENTATION: point
every undirected edge from its (degree, id)-smaller endpoint to the
larger, which turns the graph into a DAG whose max out-degree is
O(√m) REGARDLESS of the original degree distribution — each triangle
then has exactly one "apex" (its smallest vertex in the order) and is
found exactly once, and the wedge fan-out of a hub collapses from d²
to at most m. Both steps are plain equi-join shuffles; nothing is
collected.

Reference scope: the reference's co-watch / network analyses
(pyspark/Social Network Effects on Content Virality.py) stop at
pairwise counts; triangle closure is the 3-way generalization a
recommender's "tight community" signal needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_sql_and_pyspark_developement__spark.session import materialize


def undirect(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge set (a < b, distinct) from a
    directed edge list (src, dst) — one distinct shuffle."""
    return (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle participation and local clustering
    coefficient over a directed edge list.

    Returns (node, degree, n_triangles, clustering_ppm) for every
    vertex, where clustering_ppm = 2e6 · triangles / (deg · (deg−1))
    in truncating integer arithmetic (bit-stable across engines and
    partitionings; deg < 2 → 0).

    Plan: undirect → degree → orient by (degree, id) → wedge
    self-join on the apex → closure semi-join against the undirected
    edge set → explode each triangle to its 3 corners → one
    node-keyed count. Every join is an equi-join; the orientation
    bounds the wedge join's per-key fan-out by O(√m), so no hub can
    concentrate a task.
    """
    # und is consumed FOUR times (degree ×2 via union, orientation,
    # closure) and tris three times (one per corner) — materialize
    # both so the wedge machinery isn't replayed per consumer. Both
    # are edge-scale (≤ n·k rows), far below the wedge intermediate.
    und = materialize(undirect(edges))
    deg = (
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    # Orient a→b iff (deg(a), a) < (deg(b), b): a total order, so the
    # oriented graph is acyclic and each triangle is generated once,
    # at its order-minimal vertex.
    da = deg.select(
        F.col("node").alias("a"), F.col("degree").alias("da")
    )
    db = deg.select(
        F.col("node").alias("b"), F.col("degree").alias("db")
    )
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("lo"), F.col("b").alias("hi")),
            )
            .otherwise(
                F.struct(F.col("b").alias("lo"), F.col("a").alias("hi"))
            )
            .alias("e")
        )
        .select("e.lo", "e.hi")
    )
    # Wedges at apex `lo`: unordered pairs of out-neighbors.
    w1 = oriented.select(F.col("lo").alias("apex"), F.col("hi").alias("u"))
    w2 = oriented.select(F.col("lo").alias("apex"), F.col("hi").alias("v"))
    wedges = w1.join(w2, "apex").filter(F.col("u") < F.col("v"))
    # A wedge closes iff (u, v) is an edge; u < v is already the
    # undirected canonical form, so close against `und` directly.
    tris = materialize(
        wedges.join(
            und,
            (wedges.u == und.a) & (wedges.v == und.b),
        )
        .select("apex", "u", "v")
    )
    corner = (
        tris.select(F.col("apex").alias("node"))
        .union(tris.select(F.col("u").alias("node")))
        .union(tris.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(corner, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.expr(
                "CASE WHEN degree >= 2 THEN "
                "(2000000 * coalesce(n_triangles, 0))"
                " DIV (degree * (degree - 1)) "
                "ELSE 0 END"
            ).alias("clustering_ppm"),
        )
    )


def kcore(edges: DataFrame, k: int = 4, max_rounds: int = 8) -> DataFrame:
    """K-CORE decomposition (fixed k): the maximal subgraph in which
    every vertex keeps degree ≥ k, found by iterative PEELING —
    repeatedly delete vertices of degree < k (deleting a vertex can
    drag its neighbors below k, so the loop runs to a fixpoint). On a
    similarity graph the k-core is the "dense redundancy backbone":
    vertices that stay are embedded in mutually-similar clusters even
    after their weakest members peel away — a stronger cohesion signal
    than raw degree (q68) or closed triangles (q71) alone.

    Returns (node, core_degree): every surviving vertex with its
    degree INSIDE the core subgraph (≥ k by construction).

    Scale: each round is one degree count (union + groupBy) and two
    semi-joins filtering the edge set — all equi-join shuffles, edge-
    scale frames, materialized (truncated) lineage. Rounds are
    bounded by the peel depth (≤ degeneracy ordering depth, small on
    bounded-degree kNN graphs); like resolve_hierarchy, a fixpoint
    not reached in `max_rounds` RAISES rather than returning a
    partially-peeled subgraph. Peeling is monotone (a stable edge set
    is a fixpoint forever), so replaying extra rounds is a no-op —
    what lets a fixed-round SQL unroll mirror the converged answer.
    """
    cur = materialize(undirect(edges))
    n_edges = cur.count()
    # max_rounds bounds PRODUCTIVE peels; the +1 iteration exists so a
    # graph whose last productive peel lands exactly on round
    # max_rounds can still observe the unchanged edge set and return
    # (convergence is only detectable one round after the final peel).
    for _ in range(max_rounds + 1):
        deg = (
            cur.select(F.col("a").alias("node"))
            .union(cur.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("core_degree"))
        )
        alive = deg.filter(F.col("core_degree") >= k).select("node")
        nxt = materialize(
            cur.join(alive.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(alive.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
        )
        n_next = nxt.count()
        if n_next == n_edges:
            return deg.filter(F.col("core_degree") >= k).select(
                "node", "core_degree"
            )
        cur, n_edges = nxt, n_next
    raise RuntimeError(
        f"kcore did not reach a fixpoint in {max_rounds} peel rounds — "
        "raise max_rounds (deep degeneracy ordering); refusing to "
        "return a partially-peeled core."
    )
