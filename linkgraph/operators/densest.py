"""Densest subgraph — Charikar greedy peel, Bahmani et al. MapReduce form.

Not in the reference binary set; the standard scalable dense-core
extractor (community seeds, spam/link-farm detection on link graphs).
Goal: the vertex set S maximizing density ρ(S) = |E(S)| / |S| over the
undirected simple view. Exact maximization is a flow problem; the greedy
peel (Charikar 2000) is the 2-approximation everyone ships, and the
batched form here (Bahmani, Kumar & Vassilvitskii, VLDB 2012) removes
EVERY vertex of degree ≤ 2(1+ε)ρ(current) per round, giving a
2(1+ε)-approximation in O(log_{1+ε} V) rounds — each round a bulk
Catalyst plan, no sequential vertex-at-a-time dependency.

Round shape: one (count, countDistinct) aggregate over the alive
symmetric edge set (the round's single materializing action — it also
commits the lazy checkpoint), a degree aggregate + survivor filter with
the INTEGER-EXACT peel test

    keep v  ⟺  d(v) · |V_alive| · eps_den  >  (eps_den + eps_num) · |E_sym|

(no float threshold — the oracle reproduces the boundary exactly), then
the same two endpoint semi-joins as k_core. The best round's alive set is
kept by reference (a materialized localCheckpoint) and re-aggregated once
at the end; density comparisons across rounds use IEEE doubles with the
identical expression on both engines (ties → earliest round), so the
DuckDB twin (oracle_sql.densest_sql) matches bit-for-bit. The peel always
removes at least the minimum-degree vertex (min ≤ avg ≤ (1+ε)·avg), so it
terminates at the empty set in ≤ log_{1+ε} V rounds — state is the
shrinking edge set, O(E') per round and monotone.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import Graph
from linkgraph.runner import local_checkpoint


def densest_subgraph(
    graph: Graph,
    eps_num: int = 1,
    eps_den: int = 10,
    max_iterations: int = 300,
    checkpointer: Callable[[DataFrame, int], DataFrame] | None = None,
) -> DataFrame:
    """(id, density) — the vertices of the densest peel level (a
    2(1+ε)-approximate densest subgraph of the UNDIRECTED SIMPLE view,
    ε = eps_num/eps_den), each row carrying the level's density
    |E|/|V| rounded to 6 dp. Deterministic: the peel sequence is a pure
    function of the graph, and the best level is the earliest one
    maximizing the IEEE-double density. Empty graph → empty result."""
    if eps_num < 0 or eps_den <= 0:
        raise ValueError(f"epsilon must be ≥ 0, got {eps_num}/{eps_den}")
    lazy = checkpointer is None
    checkpoint = checkpointer or local_checkpoint
    canon = graph.canonical_undirected_edges()
    sym = canon.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        canon.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    alive = sym.localCheckpoint(eager=False) if lazy else checkpoint(sym, 0)

    best_df: DataFrame | None = None
    best_density = -1.0
    thresh = eps_den + eps_num

    for it in range(1, max_iterations + 1):
        row = alive.agg(
            F.count("*").alias("ns"), F.countDistinct("src").alias("nv")
        ).collect()[0]
        ns, nv = row["ns"], row["nv"]
        if ns == 0:
            break
        # density of THIS level; same double expression as the oracle
        density = float(ns) / (2.0 * float(nv))
        if density > best_density:
            best_density, best_df = density, alive
        deg = alive.groupBy("src").agg(F.count("*").alias("d"))
        # long-typed literals: d·nv·eps_den reaches 10^13+ on big graphs
        keep = deg.filter(
            F.col("d") * F.lit(int(nv) * int(eps_den)).cast("long")
            > F.lit(int(thresh) * int(ns)).cast("long")
        ).select(F.col("src").alias("id"))
        nxt = alive.join(keep, alive["src"] == keep["id"], "left_semi").join(
            keep, F.col("dst") == keep["id"], "left_semi"
        )
        alive = nxt.localCheckpoint(eager=False) if lazy else checkpoint(nxt, it)
    else:
        # the emptiness test lives at loop TOP, so a peel that empties
        # exactly on round max_iterations exhausts the for — re-check
        # before declaring failure (the mis/matching loop-exit lesson)
        if alive.limit(1).count() != 0:
            raise RuntimeError(
                f"densest_subgraph: peel did not reach the empty set in "
                f"{max_iterations} rounds — raise max_iterations"
            )

    if best_df is None:  # edgeless graph
        return (
            graph.vertices()
            .select("id", F.lit(0.0).alias("density"))
            .limit(0)
        )
    return best_df.select("src").distinct().select(
        F.col("src").alias("id"),
        F.round(F.lit(best_density), 6).alias("density"),
    )
