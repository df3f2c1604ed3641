"""Katz centrality — the damped walk-count centrality.

Not in the reference binary set; the third member of the eigenvector
family (with PageRank, pagerank_simple.c, and HITS) on the same persisted
edge layout. Where PageRank normalizes mass by out-degree, Katz counts
ALL incoming walks, geometrically damped by length:

    katz(v) = Σ_{j≥1} α^j · (#walks of length j ending at v) + β

computed by the standard truncated power recurrence (Katz 1953)

    x_0 = β·1
    x_t = β + α · Σ_{u→v} x_{t-1}(u)

so after k rounds x = Σ_{j≤k} α^j (Aᵀ)^j β·1 + β·(partial sums) — a
fixed-round parity kernel, exactly the reference's fixed-10 PageRank
loop shape (pagerank_simple.c:84-101) minus the degree normalization.
α must be < 1/λ_max(A) for the infinite series to converge; the
truncated recurrence is well-defined for any α.

Spark shape: per round ONE edges⋈state join + groupBy(dst) aggregate,
re-densified against the vertex set (isolated / zero-in-degree vertices
hold β). The state is lazily localCheckpointed each round — the
recurrence consumes the previous round exactly once, so lineage
truncation (not eager materialization) is all that's needed — the same
lazy cut as linkgraph.runner.local_checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import Graph


def katz(
    graph: Graph,
    iterations: int = 8,
    alpha: float = 0.01,
    beta: float = 1.0,
) -> DataFrame:
    """(id, katz) over the full vertex set after ``iterations`` rounds of
    x ← β + α·Aᵀx from x₀ = β·1. Multi-edges (if present in the layout)
    count multiply, matching the dense-matrix recurrence."""
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")
    a, b = float(alpha), float(beta)
    edges = graph.edges.select("src", "dst")
    vertices = graph.vertices()
    state = vertices.select("id", F.lit(b).alias("katz"))
    for _ in range(iterations):
        mass = (
            edges.join(state, edges["src"] == state["id"])
            .groupBy(F.col("dst").alias("mid"))
            .agg(F.sum("katz").alias("mass"))
        )
        state = (
            vertices.join(mass, vertices["id"] == mass["mid"], "left")
            .select(
                "id",
                (F.lit(b) + F.lit(a) * F.coalesce("mass", F.lit(0.0))).alias("katz"),
            )
            .localCheckpoint(eager=False)
        )
    return state
