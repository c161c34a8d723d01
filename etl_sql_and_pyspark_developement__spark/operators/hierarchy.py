"""Hierarchy resolution — the WITH RECURSIVE capability Spark lacks.

``resolve_hierarchy`` computes, for every node of a parent-pointer
forest, its ROOT and DEPTH via pointer doubling: each round joins the
(node → known-ancestor, distance) frame with itself so every node's
known ancestor jumps to *its ancestor's* known ancestor, doubling the
distance covered. O(log(depth)) driver-side rounds of fully
distributed hash joins — the Spark-native answer to a recursive CTE
(which walks ONE level per recursion step and cannot be expressed in
DataFrame/SQL on Spark ≤ 4.x anyway).

At 10⁹-node hierarchies each round is one equi-join on the node key;
no single task ever holds a chain, and total work is O(n log d)
versus the CTE's O(n · d) row materializations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_sql_and_pyspark_developement__spark.session import materialize


def resolve_hierarchy(
    nodes: DataFrame,
    id_col: str = "node",
    parent_col: str = "parent",
    max_iterations: int = 30,
    validate: bool = True,
) -> DataFrame:
    """(node, root, depth) for every node of a parent-pointer forest.

    A node is a ROOT iff ``parent == node``. The input must be a
    forest (every chain reaches a root; no cycles) — on a cycle the
    loop cannot converge and RAISES after ``max_iterations`` rather
    than returning a partial labeling, mirroring
    dedup.dedup_components' convergence contract.

    Iteration frames are materialized: the self-join doubles lineage
    depth per round, and an unmaterialized loop re-executes the whole
    prefix each round.
    """
    # Pre-validate (opt-out with validate=False for known-good
    # production inputs — it costs one eager distinct + anti-join job
    # over the node set): every parent value must BE a node. A
    # dangling parent would be dropped by the pointer-jump inner join
    # after round 1, after which convergence can "pass" on a frame
    # that is silently missing rows — violating the all-or-raise
    # contract the cycle path already honors.
    if validate:
        dangling = (
            nodes.select(F.col(parent_col).alias("__p"))
            .distinct()
            .join(
                nodes.select(F.col(id_col).alias("__n")),
                F.col("__p") == F.col("__n"),
                "left_anti",
            )
            .limit(1)
            .collect()
        )
        if dangling:
            p = dangling[0]["__p"]
            if p is None:
                raise ValueError(
                    "resolve_hierarchy: NULL parent pointer — this "
                    "operator encodes roots as parent == node, not "
                    "parent IS NULL; map NULL parents to self-pointers "
                    "before calling."
                )
            raise ValueError(
                f"resolve_hierarchy: parent value {p!r} does not appear "
                f"in the {id_col!r} node set — the input is not a "
                "forest (dangling parent pointer); refusing to return "
                "a partially-resolved labeling."
            )
    cur = materialize(
        nodes.select(
            F.col(id_col).alias("node"),
            F.col(parent_col).alias("anc"),
            F.when(F.col(parent_col) == F.col(id_col), F.lit(0))
            .otherwise(F.lit(1))
            .cast("bigint")
            .alias("depth"),
        )
    )
    # Convergence = every known ancestor IS a root. ("Did any pointer
    # move" is NOT a valid test: inside a parent CYCLE the doubled
    # pointers reach a bogus fixpoint — e.g. a 2-cycle lands each node
    # on itself after one round — and a moved-based check would return
    # garbage depths instead of detecting the non-forest input.)
    roots = materialize(
        cur.filter(F.col("depth") == 0).select(F.col("node").alias("__r"))
    )
    for _ in range(max_iterations):
        pending = (
            cur.join(roots, cur.anc == roots.__r, "left_anti")
            .limit(1)
            .count()
        )
        if pending == 0:
            return cur.select("node", F.col("anc").alias("root"), "depth")
        # Every node jumps: anc := anc(anc), depth += depth(anc).
        # Root rows (anc == node, depth 0) are fixpoints.
        hop = cur.select(
            F.col("node").alias("__n"),
            F.col("anc").alias("__a"),
            F.col("depth").alias("__d"),
        )
        cur = materialize(
            cur.join(hop, cur.anc == hop.__n)
            .select(
                "node",
                F.col("__a").alias("anc"),
                (F.col("depth") + F.col("__d")).alias("depth"),
            )
        )
    raise RuntimeError(
        f"resolve_hierarchy did not converge in {max_iterations} "
        "pointer-doubling rounds — either the hierarchy has a cycle "
        "(not a forest) or its depth exceeds 2^max_iterations; "
        "refusing to return a partially-resolved labeling."
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping_ppm: int = 850_000,
    checkpoint_every: int = 4,
) -> DataFrame:
    """PageRank-style centrality over an edge list (src, dst), in
    EXACT integer ppm arithmetic:

        r₀(u)   = 1_000_000
        rᵢ₊₁(u) = (1e6 − d) + (d · Σ_{v→u} (rᵢ(v) DIV outdeg(v))) DIV 1e6

    Every operation is integer (DIV truncates), so partial-aggregation
    order cannot move a single unit — the fixed-iteration result is
    bit-identical across engines and partitionings, which is what lets
    a DuckDB oracle replay it value-for-value (float PageRank sums
    are reduction-order-dependent). Dangling nodes (no out-edges)
    simply contribute nothing — the standard simplification; they
    still RECEIVE rank.

    Scale: each iteration is one src-keyed hash join (ranks onto
    edges) + one dst-keyed partial-agg sum — two shuffles per round,
    no driver-side data. Iteration frames are composed LAZILY and the
    lineage is truncated only every `checkpoint_every` rounds: each
    rank frame feeds exactly one consumer (the next round), so
    nothing is recomputed without checkpoints, and a per-round
    materialization just serializes the loop into eager blocking jobs
    (measured 1.95s vs 1.17s fully lazy for 5 rounds at sf0.1). The
    periodic truncation is what matters at 50+ rounds, where plan
    depth itself becomes the cost. The edge set (with out-degrees) is
    materialized once.
    """
    # The caller's edge list may itself be expensive (a kNN bucket
    # join); it is consumed three times below (node union x2,
    # out-degree join) — materialize it once at entry.
    edges = materialize(edges)
    nodes = materialize(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("__od"))
    ed = materialize(edges.join(outdeg, "src"))
    base = 1_000_000 - damping_ppm
    ranks = nodes.withColumn("r", F.lit(1_000_000).cast("bigint"))
    for i in range(iterations):
        contrib = (
            ed.join(ranks, ed.src == ranks.node)
            .select("dst", F.expr("r DIV __od").alias("__c"))
            .groupBy("dst")
            .agg(F.sum("__c").alias("__s"))
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(
                        f"({damping_ppm} * coalesce(__s, CAST(0 AS BIGINT)))"
                        " DIV 1000000"
                    )
                )
                .cast("bigint")
                .alias("r"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and i < iterations - 1:
            ranks = materialize(ranks)
    return ranks.select("node", F.col("r").alias("rank_ppm"))
