"""Maximal independent set — deterministic Luby rounds on hash priorities.

Not in the reference binary set; the canonical symmetry-breaking kernel of
the parallel-graph literature (Luby 1986), the primitive under distributed
coloring, matching, and scheduling. Classic Luby redraws randomness each
round; here every vertex carries a FIXED engine-neutral priority (the
md5-60 of ``mis:<seed>:<id>`` — the corpus pipeline's hash, docs.py:44),
which makes the parallel algorithm compute exactly the sequential greedy
MIS of the priority order (Blelloch, Fineman & Shun 2012: "greedy is
parallel"), deterministic across engines, runs, and partitionings, and
O(log n) rounds w.h.p. for hash-random orders.

Round shape: one edges⋈alive join aggregated to each vertex's minimum
alive-neighbor (priority, id) pair (map-side combinable), a broadcast-able
left join marking local minima as winners, then two anti-joins retiring
winners and their neighborhoods. State is the shrinking alive set — O(V')
and monotone; the per-round count is the single materializing action
(lazy-checkpoint pattern of kcore/truss). ``max_iterations`` guards the
adversarial long-chain case loudly.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.docs import _md5_60
from linkgraph.graph import Graph
from linkgraph.runner import local_checkpoint


def maximal_independent_set(
    graph: Graph,
    seed: int = 42,
    max_iterations: int = 100,
    checkpointer: Callable[[DataFrame, int], DataFrame] | None = None,
) -> DataFrame:
    """(id, in_mis) over the FULL vertex set: the greedy maximal
    independent set of the UNDIRECTED SIMPLE view of ``graph`` in
    md5-priority order (isolated vertices are always in). Independent
    (no two members adjacent) and maximal (every non-member has a member
    neighbor) — both properties are asserted in tests/test_mis.py."""
    lazy = checkpointer is None
    checkpoint = checkpointer or local_checkpoint
    canon = graph.canonical_undirected_edges()
    sym = canon.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        canon.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    pri = _md5_60(f"concat('mis:{int(seed)}:', CAST(id AS STRING))")
    alive = graph.vertices().select("id", pri.alias("p"))
    alive = alive.localCheckpoint(eager=False) if lazy else checkpoint(alive, 0)
    n_alive = alive.count()
    mis: DataFrame | None = None

    for it in range(1, max_iterations + 1):
        if n_alive == 0:
            break
        nbr = alive.select(F.col("id").alias("dst"), F.col("p").alias("bp"))
        nbr_min = (
            sym.join(nbr, "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.min(F.struct(F.col("bp").alias("p"), F.col("dst").alias("i"))).alias("m"))
        )
        marked = alive.join(nbr_min, "id", "left")
        win = marked.filter(
            F.col("m").isNull()
            | (F.struct(F.col("p"), F.col("id").alias("i")) < F.col("m"))
        ).select("id")
        # the winner set is TINY but fans out into three consumers (mis
        # union + two retirement anti-joins) — materialize it eagerly so
        # the heavy neighbor-min aggregate above runs ONCE per round
        # (the fan-out recompute pitfall: Catalyst re-executes unshared
        # subplans per consumer), leaving the alive-count job pure
        # anti-joins
        win = win.localCheckpoint(eager=True) if lazy else checkpoint(win, it)
        mis = win if mis is None else mis.unionByName(win)
        # retire winners and their whole neighborhoods
        dead_nbrs = sym.join(win, sym["dst"] == win["id"], "left_semi").select("src")
        nxt = (
            alive.join(win, "id", "left_anti")
            .join(dead_nbrs, alive["id"] == dead_nbrs["src"], "left_anti")
        )
        nxt = nxt.localCheckpoint(eager=False) if lazy else checkpoint(nxt, 1000 + it)
        n_alive = nxt.count()  # materializes the round's alive set
        alive = nxt
    else:
        # the loop exhausted its rounds — but if the LAST round emptied the
        # alive set the run converged exactly on the budget, which is success
        if n_alive != 0:
            raise RuntimeError(
                f"maximal_independent_set: did not converge in {max_iterations} "
                f"rounds — raise max_iterations"
            )

    if mis is None:  # zero-vertex graph: nothing ever entered the loop
        return graph.vertices().select("id", F.lit(False).alias("in_mis")).limit(0)
    return (
        graph.vertices()
        .join(mis.select("id", F.lit(True).alias("w")), "id", "left")
        .select("id", F.coalesce(F.col("w"), F.lit(False)).alias("in_mis"))
    )
