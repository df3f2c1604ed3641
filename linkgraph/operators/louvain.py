"""Deterministic synchronous Louvain local-move community detection.

Not in the reference binary set; the modularity-OPTIMIZING counterpart to
label propagation (labelprop.py takes the most frequent neighbor label;
this takes the neighbor community with the largest modularity GAIN —
Blondel et al. 2008's local-moving phase, the community-detection
workhorse on web graphs). The classic algorithm is sequential (vertices
move one at a time); a naive synchronous version oscillates (two adjacent
vertices can swap into each other's community forever — measured on a
planted two-clique graph), and a randomized async schedule is not
oracle-checkable. Both problems are fixed with two pinned rules:

- **Minimum-label rule** (the parallel-Louvain convergence heuristic of
  Halappanavar et al. 2014 / Grappolo): a vertex may only move to a
  community with a SMALLER id than its current one. Each vertex's
  community id then strictly decreases on every move, so no state can
  ever repeat — oscillation is impossible by construction, every vertex
  is active every round, and the min-id vertex of each dense region
  becomes its attractor (the same flood direction labelprop's
  min-tiebreak uses).
- **Integer gain scores** — moving i (degree d_i) into community c with
  Σtot(c) the summed degree of c in the PREVIOUS round's labels and
  k_in(i,c) the count of i's neighbors in c scores

      ΔQ(i→c) ∝ 2m·k_in(i,c) − d_i·(Σtot(c) − d_i·[i∈c])

  (the standard Louvain insert gain with the positive 1/2m² factor
  dropped — argmax unchanged). Everything is int64: NO float
  comparisons, so the Spark plan and the DuckDB oracle rank candidates
  identically, bit for bit. Ties break to the smaller community id; the
  stay option (i's own community) is always a candidate, so an isolated
  or content vertex keeps its label.

Semantics (pinned, mirrored by oracle_sql.louvain_sql and the
pure-Python twin in tests/test_louvain.py):
- undirected SIMPLE view: canonical a<b edges, self-loops and
  multi-edges dropped (the modularity/conductance convention);
- comm[i] = i initially; d_i = simple undirected degree; m = |canon|;
- fixed round count (default 4): per round, every vertex moves to the
  argmax-score community among {its neighbors' communities ∪ its own}
  restricted to ids ≤ its own. A stable state is a fixed point, so a
  larger round budget never changes a converged answer.

Physical notes (per round): one comm-keyed Σtot aggregate, one
edges⋈state join aggregated to (vertex, neighbor-community) k_in counts
— both partial-agg shuffles with map-side combine; the stay option rides
the same aggregate as 0-count union rows; the min-label rule is a
filter BEFORE the Σtot join (prunes candidate rows early); the
per-vertex argmax is ``max(struct(score, -nc))`` — an aggregate, never
a window; m is a 1-row driver action taken ONCE before the loop. State
is (id, comm, d): V rows, checkpointed per round (kernel-loop lineage
rule).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import Graph
from linkgraph.runner import local_checkpoint


def louvain_move(
    graph: Graph,
    rounds: int = 4,
    checkpointer: Callable[[DataFrame, int], DataFrame] | None = None,
    store=None,
) -> DataFrame:
    """Returns DataFrame(id: long, comm: long) after ``rounds``
    synchronous min-label local-move rounds. ``store`` commits each
    round's labels; a relaunch continues from the highest committed round
    (fixed-round algorithm — the iteration index is the whole loop
    state)."""
    checkpoint = store.checkpointer if store is not None else (checkpointer or local_checkpoint)

    canon = graph.canonical_undirected_edges()
    sym = canon.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(canon.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    m = canon.count()  # one driver action, before the loop
    deg = sym.groupBy("src").agg(F.count("*").alias("d"))

    start, resumed = store.resume(rounds) if store is not None else (0, None)
    if resumed is not None:
        state = resumed.select("id", "comm", "d")
    else:
        state = (
            graph.vertices()
            .join(deg.withColumnRenamed("src", "id"), "id", "left")
            .select(
                "id",
                F.col("id").alias("comm"),
                F.coalesce("d", F.lit(0)).cast("long").alias("d"),
            )
        )
        state = checkpoint(state, 0)

    for r in range(start + 1, rounds + 1):
        tot = state.groupBy("comm").agg(F.sum("d").alias("tot"))
        kin = (
            sym.join(
                state.select(F.col("id"), F.col("comm").alias("nc")),
                sym["dst"] == F.col("id"),
            )
            .groupBy("src", "nc")
            .agg(F.count("*").alias("kin"))
        )
        # the stay option always competes: a 0-count row per (i, comm(i))
        # rides the same (src, nc) aggregate — SUM absorbs it when i has
        # neighbors in its own community
        cand = (
            kin.select("src", "nc", "kin")
            .unionByName(
                state.select(
                    F.col("id").alias("src"),
                    F.col("comm").alias("nc"),
                    F.lit(0).cast("long").alias("kin"),
                )
            )
            .groupBy("src", "nc")
            .agg(F.sum("kin").alias("kin"))
        )
        scored = (
            cand.join(
                state.select(
                    F.col("id").alias("src"),
                    F.col("comm").alias("c0"),
                    F.col("d").alias("di"),
                ),
                "src",
            )
            # minimum-label rule: candidates above the current community
            # id are pruned BEFORE the Σtot join
            .filter(F.col("nc") <= F.col("c0"))
            .join(tot, cand["nc"] == tot["comm"])
            .select(
                "src",
                "nc",
                (
                    F.lit(2 * m) * F.col("kin")
                    - F.col("di")
                    * (
                        F.col("tot")
                        - F.when(F.col("nc") == F.col("c0"), F.col("di")).otherwise(
                            F.lit(0)
                        )
                    )
                ).alias("score"),
            )
        )
        # argmax by (score, -nc): max gain, ties to the smaller community
        winner = (
            scored.groupBy("src")
            .agg(F.max(F.struct(F.col("score"), (-F.col("nc")).alias("nn"))).alias("w"))
            .select(F.col("src").alias("id"), (-F.col("w.nn")).alias("comm"))
        )
        state = state.select("id", "d").join(winner, "id").select("id", "comm", "d")
        state = checkpoint(state, r)

    return state.select("id", "comm")
