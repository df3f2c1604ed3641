"""Single-source shortest paths — frontier Bellman-Ford (delta-free).

Reference semantics (/root/reference/sssp_pushpull.c): writeMin relaxation
from the active frontier (sssp_algo, sssp_pushpull.c:39-56), self-loops
skipped (the ``dst_id != n_id`` guard at sssp_pushpull.c:47), iterate until
no distance improves. NOTE the reference's push path hardcodes weight +1
(sssp_pushpull.c:46) while the pull path uses real weights
(sssp_pushpull.c:81) — BOTH are exposed: ``weighted=True`` (default) is
the pull semantics with weights defaulting to the reference's synthetic
``src%10 + dst%10`` (init_all.c:661-667); ``weighted=False`` is the push
semantics (+1 per relaxation). The racy ``writeMin`` becomes
``groupBy(dst).agg(min)``; the improved-rows set is the next frontier
(the reference's worklist re-entry). Direction switching uses the
degree-weighted E/20 rule (sssp_pushpull.c:169-180) — see
linkgraph.operators.direction.

Distances: root = 0; only reached vertices returned. Parent trees are not
reported (nondeterministic in the reference); the validation invariant
dist[parent] ≤ dist (sssp_pushpull.c:57-68) is checked in tests via the
relaxed-edge inequality dist[v] ≤ dist[u] + w(u,v) for all edges from
reached u — the fixpoint property itself.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import Graph
from linkgraph.operators.direction import use_broadcast_frontier
from linkgraph.runner import local_checkpoint


def sssp(
    graph: Graph,
    root: int,
    max_iterations: int = 10_000,
    broadcast_frontier_max: int = 1_000_000,
    return_parents: bool = False,
    weighted: bool = True,
    checkpointer: Callable[[DataFrame, int], DataFrame] | None = None,
    store=None,
) -> DataFrame:
    """Returns DataFrame(id: long, dist: double[, parent: long]), reached
    vertices only. ``return_parents`` adds the shortest-path-tree parent,
    tie-broken by min parent id (the reference tracks parents in the pull
    path, sssp_pushpull.c:87-90, with racy update order; ours is
    deterministic: min over struct(nd, parent)).

    ``weighted=False`` replicates the reference's PUSH-path semantics
    exactly: every relaxation costs +1 (sssp_pushpull.c:46), i.e. hop
    distances computed through the relaxation machinery rather than the
    level machinery — the reference's push and pull paths genuinely
    disagree on this, so both are exposed. ``weighted=True`` (default) is
    the pull-path semantics (real weights, sssp_pushpull.c:81) with
    weights defaulting to the synthetic src%10+dst%10.

    ``store`` commits each round's merged state (which carries old_dist,
    so the improved-rows frontier is reconstructible on relaunch); a store
    holding more rounds than ``max_iterations`` is clamped to the bound."""
    checkpoint = store.checkpointer if store is not None else (checkpointer or local_checkpoint)
    # default path: checkpoint LAZILY — the frontier-stats aggregate is
    # then the single action that materializes the round AND returns the
    # switch statistic (one job/round, not two)
    lazy = store is None and checkpointer is None
    # edges pre-joined with outdeg(dst): the improved set's degree sum
    # rides the relaxation groupBy — no per-round degrees join
    base = graph.edges_with_dst_out_deg()
    if weighted:
        edges = base.select("src", "dst", "weight", "dst_out_deg")
    else:
        # reference push-path parity: every relaxation costs +1 regardless
        # of the stored weight (sssp_pushpull.c:46 hardcodes `+ 1`)
        edges = base.select(
            "src", "dst", F.lit(1.0).alias("weight"), "dst_out_deg"
        )
    edges = edges.filter(F.col("src") != F.col("dst"))  # sssp_pushpull.c:47
    n_edges = graph.num_edges()
    deg = graph.degrees().select("id", "out_deg")

    def frontier_stats(f: DataFrame) -> tuple[int, int]:
        """(rows, out-degree sum) in one aggregate — the degree-weighted
        switch statistic (sssp_pushpull.c:169-180 via buffer.c:272-282).
        On the lazy-checkpoint path this aggregate is ALSO the action that
        materializes the round's merged state (the frontier is a filter of
        it), so the statistic costs no extra job."""
        row = (
            f.join(deg, "id", "left")
            .agg(
                F.count("*").alias("n"),
                F.coalesce(F.sum("out_deg"), F.lit(0)).alias("d"),
            )
            .collect()[0]
        )
        return int(row["n"]), int(row["d"])

    start, loaded = store.resume(max_iterations) if store is not None else (0, None)
    if loaded is not None:
        dist = loaded.select("id", "dist", "parent")
        if "old_dist" in loaded.columns:
            frontier = loaded.filter(
                F.col("old_dist").isNull() | (F.col("dist") < F.col("old_dist"))
            ).select("id", "dist")
        else:
            frontier = loaded.select("id", "dist")
        frontier_size, frontier_degree = frontier_stats(frontier)
        if frontier_size == 0:
            return dist if return_parents else dist.select("id", "dist")
    else:
        dist = graph.spark.createDataFrame(
            [(int(root), 0.0, int(root))], "id long, dist double, parent long"
        )
        dist = checkpoint(dist, 0)
        frontier = dist.select("id", "dist")
        # root's out-degree via a filter on the persisted degree table —
        # a 1-row ⋈ O(V) sort-merge join (AQE off) would cost two full
        # exchanges just to seed the switch statistic
        deg_row = deg.filter(F.col("id") == int(root)).collect()
        frontier_size = 1
        frontier_degree = int(deg_row[0]["out_deg"]) if deg_row else 0

    for it in range(start + 1, max_iterations + 1):
        push = use_broadcast_frontier(
            frontier_size, frontier_degree, n_edges, row_cap=broadcast_frontier_max
        )
        f = F.broadcast(frontier) if push else frontier
        relax = (
            edges.join(f, edges["src"] == f["id"])
            .select(
                F.col("dst"),
                F.struct(
                    (F.col("dist") + F.col("weight")).alias("nd"),
                    F.col("src").alias("p"),
                ).alias("cand"),
                F.col("dst_out_deg"),
            )
            .groupBy("dst")
            .agg(
                F.min("cand").alias("cand"),
                # same value on every edge into dst — picked up for free
                F.min("dst_out_deg").alias("od"),
            )
            .select(
                "dst",
                F.col("cand.nd").alias("nd"),
                F.col("cand.p").alias("np"),
                "od",
            )
        )
        merged = (
            dist.join(relax, dist["id"] == relax["dst"], "full_outer")
            .select(
                F.coalesce(dist["id"], relax["dst"]).alias("id"),
                F.col("dist").alias("old_dist"),
                F.least(
                    F.coalesce(F.col("dist"), F.lit(float("inf"))),
                    F.coalesce(F.col("nd"), F.lit(float("inf"))),
                ).alias("dist"),
                F.when(
                    F.col("nd").isNotNull()
                    & (
                        F.col("dist").isNull()
                        | (F.col("nd") < F.col("dist"))
                    ),
                    F.col("np"),
                )
                .otherwise(F.col("parent"))
                .alias("parent"),
                # an improved row always came through relax, so od is set
                # exactly where the frontier statistic needs it
                F.col("od"),
            )
        )
        merged = merged.localCheckpoint(eager=False) if lazy else checkpoint(merged, it)
        improved = merged.filter(
            F.col("old_dist").isNull() | (F.col("dist") < F.col("old_dist"))
        )
        row = improved.agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum("od"), F.lit(0)).alias("d"),
        ).collect()[0]
        frontier_size, frontier_degree = int(row["n"]), int(row["d"])
        dist = merged.select("id", "dist", "parent")
        if frontier_size == 0:
            break
        frontier = improved.select("id", "dist")

    return dist if return_parents else dist.select("id", "dist")
