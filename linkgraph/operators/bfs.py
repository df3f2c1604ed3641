"""BFS — frontier-driven level traversal with a direction/size heuristic.

Reference semantics (/root/reference/bfs_simple.c): seed root, then per
level claim unvisited out-neighbors of the frontier (bfs_push,
bfs_simple.c:121-134). We report LEVELS (root = 0) rather than the
reference's 1-based dist array (dist[ROOT]=1, bfs_simple.c:247) — a fixed
+1 offset; parent trees are intentionally NOT reported because the
reference's parent choice is CAS-race nondeterministic (bfs_numa.c:257)
while our ``groupBy(dst).agg(min(src))`` parents are deterministic.

Direction switching replicates the reference's degree-weighted rule
(bfs_simple.c:191-197): broadcast the frontier (push) while
``frontier_size + frontier_out_degree <= nb_edges/20``, else shuffle join
(pull/dense pass) — see linkgraph.operators.direction. The out-degree is
JOINED INTO the level's delta before it is checkpointed, and the
checkpoint is LAZY: the per-level (count, sum(out_deg)) aggregate is the
one action that materializes the level AND returns the switch statistic —
one Spark job per level, not a materialize job plus a stats job.

Returned vertices: REACHED ones only (id, dist) — the sparse contract;
unreached vertices are absent rather than carrying the reference's 0
sentinel (bfs_simple.c:49-56 counts dist != 0).

Durable runs commit PER-LEVEL DELTAS (the newly discovered rows), not the
full visited set: checkpoint I/O is O(V) total across the run instead of
O(V · diameter); resume unions committed levels in one multi-path scan
(CheckpointStore.load_upto).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import Graph
from linkgraph.operators.direction import use_broadcast_frontier
from linkgraph.runner import local_checkpoint


def bfs(
    graph: Graph,
    root: int,
    max_iterations: int = 10_000,
    broadcast_frontier_max: int = 1_000_000,
    return_parents: bool = False,
    store=None,
) -> DataFrame:
    """Returns DataFrame(id: long, dist: long[, parent: long]) for vertices
    reachable from ``root`` along DIRECTED edges, dist = hop count
    (root = 0). ``return_parents`` adds the BFS-tree parent — chosen as
    ``min(src)`` among the frontier predecessors, i.e. the reference's
    racy first-CAS-wins parent (bfs_numa.c:257) made deterministic;
    root's parent is itself (the reference marks roots the same way,
    bfs_numa.c:84).

    ``store`` commits each level's DELTA (newly discovered rows); a
    relaunch unions committed levels and continues from the deepest one.
    A store holding more committed levels than ``max_iterations`` is
    clamped: only levels ≤ max_iterations are loaded, so the bound is
    honored across resumes."""
    commit = store.checkpointer if store is not None else local_checkpoint
    # edges pre-joined with outdeg(dst): the next frontier's degree sum
    # falls out of the level's own groupBy — no per-level degrees join
    edges = graph.edges_with_dst_out_deg().select("src", "dst", "dst_out_deg")
    n_edges = graph.num_edges()
    deg = graph.degrees().select("id", "out_deg")

    def delta_stats(delta: DataFrame) -> tuple[int, int]:
        """(rows, out-degree sum) of a delta that CARRIES out_deg — a pure
        aggregate, no join (the enqueue-time degree bookkeeping of
        buffer.c:272-282, batched). In memory this aggregate IS the
        level's materializing action."""
        row = delta.agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum("out_deg"), F.lit(0)).alias("d"),
        ).collect()[0]
        return int(row["n"]), int(row["d"])

    def with_out_deg(df: DataFrame) -> DataFrame:
        return df.join(deg, "id", "left").withColumn(
            "out_deg", F.coalesce("out_deg", F.lit(0))
        )

    start, deepest = store.resume(max_iterations) if store is not None else (0, None)
    if deepest is not None:
        # levels are committed as deltas: visited is their union up to start
        visited = store.load_upto(start)
        if "out_deg" not in visited.columns:  # older store layout
            # normalize the WHOLE loaded set, not just the frontier: the
            # per-level visited.unionByName(nxt) below requires matching
            # columns, and nxt always carries out_deg. Keep parent if the
            # old store had it; synthesize it otherwise.
            cols = ["id", "dist"] + (
                ["parent"] if "parent" in visited.columns else []
            )
            visited = with_out_deg(visited.select(*cols))
            if "parent" not in visited.columns:
                # Recompute REAL parents with one edges⋈visited join rather
                # than fabricating parent=id for every loaded row: v's
                # parent is min(src) among predecessors one level
                # shallower — exactly the deterministic min-parent the live
                # loop computes. Root keeps parent=root (its own row has no
                # dist-1 predecessor, so the coalesce falls back to id —
                # correct only for dist=0; any other orphan would be a
                # corrupt store and surfaces as parent=id=orphan).
                pred = visited.select(
                    F.col("id").alias("src"), F.col("dist").alias("pdist")
                )
                par = (
                    graph.edges.select("src", "dst").join(pred, "src")
                    .join(
                        visited.select("id", "dist"),
                        (F.col("dst") == F.col("id"))
                        & (F.col("pdist") == F.col("dist") - 1),
                    )
                    .groupBy(F.col("dst").alias("pid"))
                    .agg(F.min("src").alias("parent"))
                )
                visited = visited.join(
                    par, visited["id"] == par["pid"], "left"
                ).select(
                    "id",
                    "dist",
                    F.coalesce("parent", "id").alias("parent"),
                    "out_deg",
                )
            visited = visited.select("id", "dist", "parent", "out_deg")
        frontier = visited.filter(F.col("dist") == start)
        frontier_size, frontier_degree = delta_stats(frontier)
        visited_rows = visited.count()
    else:
        # root's out-degree via a filter on the persisted degree table —
        # NOT a join: a 1-row ⋈ O(V) sort-merge join (AQE off) costs two
        # full exchanges just to seed
        deg_row = deg.filter(F.col("id") == int(root)).collect()
        root_deg = int(deg_row[0]["out_deg"]) if deg_row else 0
        seed = graph.spark.createDataFrame(
            [(int(root), 0, int(root), root_deg)],
            "id long, dist long, parent long, out_deg long",
        )
        visited = commit(seed, 0)
        frontier = visited
        frontier_size, frontier_degree = 1, root_deg
        visited_rows = 1

    for level in range(start + 1, max_iterations + 1):
        if frontier_size == 0:
            break
        push = use_broadcast_frontier(
            frontier_size, frontier_degree, n_edges, row_cap=broadcast_frontier_max
        )
        fr = frontier.select("id", "dist")
        f = F.broadcast(fr) if push else fr
        # dist = frontier dist + 1 (all frontier rows share one level, so
        # min just picks it up) rather than a lit(level) constant: a
        # changing literal embeds in the generated code and busts the
        # whole-stage-codegen cache EVERY level — with it derived from
        # data, all push levels share one compiled plan (and all pull
        # levels the other), which is most of a gate-scale level's cost
        # the visited row count is tracked exactly (sum of deltas), so the
        # anti-join side broadcasts while it fits — without the hint a
        # LogicalRDD union has no statistics and Catalyst (AQE off in the
        # kernel loops) falls back to a sort-merge anti-join with full
        # exchanges on BOTH sides, every level
        seen = visited.select("id")
        if visited_rows <= broadcast_frontier_max:
            seen = F.broadcast(seen)
        nxt = (
            edges.join(f, edges["src"] == f["id"])
            .groupBy(F.col("dst").alias("id"))
            .agg(
                F.min("src").alias("parent"),
                # every edge into dst carries the same outdeg(dst) — min
                # is just "pick it up" inside the aggregate already running
                F.min("dst_out_deg").alias("out_deg"),
                (F.min("dist") + F.lit(1)).alias("dist"),
            )
            .join(seen, "id", "left_anti")
            .select("id", "dist", "parent", "out_deg")
        )
        # delta commit: only the newly discovered rows are committed
        nxt = commit(nxt, level)
        frontier_size, frontier_degree = delta_stats(nxt)
        visited_rows += frontier_size
        frontier = nxt
        if frontier_size == 0:
            break
        # visited is a union of ALREADY-CHECKPOINTED deltas — nothing to
        # recompute, so re-checkpointing it per level is pure scheduler
        # latency (BFS is level-latency-bound at any scale). Truncate the
        # growing union plan only every 8 levels; the cut is not a resume
        # point, so it stays in memory even with a durable store.
        visited = visited.unionByName(nxt)
        if level % 8 == 0:
            visited = visited.localCheckpoint(eager=True)

    out = visited if return_parents else visited.select("id", "dist")
    return out.select(*[c for c in out.columns if c != "out_deg"])
