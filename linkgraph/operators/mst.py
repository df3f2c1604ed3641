"""Borůvka minimum spanning forest — the classic O(log V)-round
distributed MST.

Not in the reference binary set; the natural weighted companion to its
WCC kernel (wcc.c's hash-min components tell you WHETHER vertices
connect; Borůvka's forest tells you the CHEAPEST way they connect — the
clustering / network-design primitive on weighted link graphs). Borůvka
1926 is *the* distributed MST algorithm (GHS, MapReduce-MST and
GraphX's variants are all Borůvka-shaped) because every round is two
data-parallel primitives this engine already has: a per-component
argmin (groupBy + min(struct)) and a component contraction (hash-min +
pointer jumping, shared with docs._components_over_pairs).

Determinism (pinned, mirrored by oracle_sql.msf_sql and the Prim twin
in tests/test_mst.py):
- undirected SIMPLE weighted view: canonical a<b pairs, self-loops
  dropped, parallel edges collapsed to their MINIMUM weight;
- edges are totally ordered by (weight, a, b) lexicographic. A total
  order makes the MSF UNIQUE (it equals the MSF under any strictly
  increasing reweighting that breaks ties this way), so both engines —
  and Prim/Kruskal under the same order — produce the identical edge
  set, row for row.
- per round, every component selects its minimum (weight, a, b)
  incident inter-component edge; selected edges join the forest
  (deduplicated — both endpoints' components may pick the same edge)
  and the components they connect merge. Rounds run until no
  inter-component edge remains; component count at least halves per
  round, so ≤ ceil(log2 V) rounds (40 covers 10^12 vertices).

Physical notes (per round): ONE relabel join of the persisted canonical
edges against the V-row component map (edges never move — the small
state streams to them), one map-side-combinable per-component argmin as
``min(struct(weight, a, b))`` — never a window — and one contraction
over the SELECTED edge pairs only (≤ #components rows, a pseudo-forest;
pointer jumping makes its long-chain worst case O(log) inner rounds).
The round's single driver action is the inter-component edge count,
which doubles as the convergence test. The forest accumulator is
lazily checkpointed per round so its union lineage never deepens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import Graph
from linkgraph.runner import local_checkpoint


def minimum_spanning_forest(
    graph: Graph,
    max_rounds: int = 40,
    store=None,
) -> DataFrame:
    """Returns DataFrame(a: long, b: long, weight: double) — the unique
    minimum spanning forest under the (weight, a, b) total order; V − C
    rows (C = number of connected components). ``store`` commits each
    round's component map, for lineage truncation and per-round metrics
    like the other kernels. The forest's merge history is not stored, so
    a relaunch restarts the forest from round 0 — Borůvka's ≤ log V
    rounds make re-running cheap."""
    checkpoint = store.checkpointer if store is not None else local_checkpoint

    e = graph.edges.filter(F.col("src") != F.col("dst"))
    canon = (
        e.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            F.col("weight"),
        )
        .groupBy("a", "b")
        .agg(F.min("weight").alias("weight"))
        .repartition(graph.num_partitions, "a")
        .localCheckpoint(eager=True)
    )

    comp = graph.vertices().select("id", F.col("id").alias("comp"))
    comp = checkpoint(comp, 0)
    forest = None

    def _inter_edges(comp: DataFrame) -> DataFrame:
        la = comp.select(F.col("id").alias("a"), F.col("comp").alias("ca"))
        lb = comp.select(F.col("id").alias("b"), F.col("comp").alias("cb"))
        return (
            canon.join(la, "a")
            .join(lb, "b")
            .filter(F.col("ca") != F.col("cb"))
            .localCheckpoint(eager=False)
        )

    converged = False
    for r in range(1, max_rounds + 1):
        inter = _inter_edges(comp)
        # the round's single driver action: convergence test + materialize
        if inter.count() == 0:
            converged = True
            break
        # each component nominates its min (weight, a, b) incident edge;
        # the struct's trailing ca/cb ride along (weight, a, b) is already
        # unique per edge, so they never influence the argmin
        sel = (
            inter.select(F.col("ca").alias("c"), F.struct("weight", "a", "b", "ca", "cb").alias("e"))
            .unionByName(
                inter.select(F.col("cb").alias("c"), F.struct("weight", "a", "b", "ca", "cb").alias("e"))
            )
            .groupBy("c")
            .agg(F.min("e").alias("e"))
            .select("e.weight", "e.a", "e.b", "e.ca", "e.cb")
            .dropDuplicates(["a", "b"])
            .localCheckpoint(eager=True)
        )
        picked = sel.select("a", "b", "weight")
        forest = picked if forest is None else forest.unionByName(picked)
        forest = forest.localCheckpoint(eager=False)

        # contract: components connected by selected edges merge to their
        # min component id — hash-min + pointer jumping over the selected
        # PAIRS only (a pseudo-forest of ≤ #components rows)
        from linkgraph.docs import _components_over_pairs

        merged = _components_over_pairs(
            sel.select(F.col("ca").alias("doc_a"), F.col("cb").alias("doc_b"))
        ).select(F.col("doc_id").alias("comp"), F.col("cluster_id").alias("new_comp"))
        comp = comp.join(merged, "comp", "left").select(
            "id", F.coalesce("new_comp", F.col("comp")).alias("comp")
        )
        comp = checkpoint(comp, r)
    # a run whose LAST allowed round finishes the contraction is converged
    # even though the loop exhausted — check the final state, don't raise
    # on loop exit alone (the mis/matching for-else pitfall)
    if not converged and _inter_edges(comp).count() != 0:
        raise RuntimeError(
            f"minimum_spanning_forest did not converge in {max_rounds} rounds — "
            f"components at least halve per round, so that needs > 2^{max_rounds} vertices"
        )

    if forest is None:
        return graph.spark.createDataFrame([], "a long, b long, weight double")
    return forest.select("a", "b", "weight")
