"""Maximal matching — deterministic greedy rounds on edge hash priorities.

Not in the reference binary set; with MIS (operators/mis.py) the other
canonical symmetry-breaking kernel (Israeli & Itai 1986) — the primitive
under distributed coarsening (multilevel partitioners pair vertices by a
matching), b-suitor recommendation, and switch scheduling. Each canonical
edge carries a FIXED engine-neutral priority (md5-60 of
``match:<seed>:<a>:<b>``); a round matches every edge that is the
(priority, a, b)-minimum among all edges sharing either endpoint, then
retires the matched vertices. As with the MIS, a fixed order makes the
parallel rounds compute exactly the sequential greedy matching of that
order (Blelloch-Fineman-Shun 2012) — deterministic across engines, runs,
and partitionings, O(log E) rounds w.h.p.

Round shape: the alive edge set exploded to (endpoint, edge) incidence —
2E' rows — aggregated to each vertex's minimum incident edge (map-side
combinable), then two joins marking edges minimal at BOTH endpoints, and
two anti-joins retiring the matched vertices' stars. State is the
shrinking alive set; winners are materialized eagerly (tiny; kills the
fan-out recompute) and the per-round alive count is the convergence
action. ``max_iterations`` guards the adversarial case loudly.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.docs import _md5_60
from linkgraph.graph import Graph
from linkgraph.runner import local_checkpoint


def maximal_matching(
    graph: Graph,
    seed: int = 42,
    max_iterations: int = 100,
    checkpointer: Callable[[DataFrame, int], DataFrame] | None = None,
) -> DataFrame:
    """(a, b) — the greedy maximal matching of the UNDIRECTED SIMPLE view
    of ``graph`` in md5-edge-priority order: a set of vertex-disjoint
    canonical edges such that every unmatched alive edge shares an
    endpoint with a matched one. Deterministic; both properties are
    asserted in tests/test_matching.py."""
    pri = _md5_60(
        f"concat('match:{int(seed)}:', CAST(a AS STRING), ':', CAST(b AS STRING))"
    )
    alive = graph.canonical_undirected_edges().select("a", "b", pri.alias("p"))
    return _greedy_rounds(alive, max_iterations, checkpointer, "maximal_matching")


def maximal_weight_matching(
    graph: Graph,
    max_iterations: int = 100,
    checkpointer: Callable[[DataFrame, int], DataFrame] | None = None,
) -> DataFrame:
    """(a, b, weight) — the LOCALLY-DOMINANT greedy weighted matching
    (Preis 1999 / Manne-Bisseling 2007): identical rounds to
    :func:`maximal_matching`, but the fixed priority order is weight
    DESC with md5-hash tie-breaking — each round matches every alive
    edge that is the heaviest incident edge of BOTH its endpoints.
    Computes exactly the sequential greedy matching of that total
    order, a ½-approximation of the maximum-weight matching;
    deterministic across engines/runs/partitionings. Ties break by
    hash rather than (a, b): lexicographic tie order chains dominance
    along vertex-id order (72 rounds on the sf0.01 gate graph vs 38
    hashed — measured), while a hash order keeps within-level chains
    O(log) (Blelloch-Fineman-Shun 2012). The single-BIGINT key packs
    (18 − w) into the top bits above 56 hash bits, so (p, a, b)
    ordering in the shared round loop is exactly (w DESC, hash, a, b).
    Weights are the reference-parity synthetic ``a%10 + b%10``
    (linkgraph.graph.synthetic_weight — symmetric, so direction-free
    on the canonical a<b view)."""
    h = _md5_60(
        "concat('wmatch:', CAST(a AS STRING), ':', CAST(b AS STRING))"
    )
    w = (F.col("a") % 10 + F.col("b") % 10).cast("long")
    alive = graph.canonical_undirected_edges().select(
        "a",
        "b",
        (F.shiftleft(F.lit(18).cast("long") - w, 56) + F.shiftright(h, 4)).alias("p"),
    )
    out = _greedy_rounds(
        alive, max_iterations, checkpointer, "maximal_weight_matching"
    )
    return out.select(
        "a", "b", (F.col("a") % 10 + F.col("b") % 10).cast("long").alias("weight")
    )


def _greedy_rounds(
    alive: DataFrame,
    max_iterations: int,
    checkpointer: Callable[[DataFrame, int], DataFrame] | None,
    who: str,
) -> DataFrame:
    """Shared deterministic-greedy round loop over an (a, b, p) alive set:
    match every edge that is the (p, a, b)-minimum at both endpoints,
    retire matched stars, repeat to an empty alive set."""
    lazy = checkpointer is None
    checkpoint = checkpointer or local_checkpoint
    alive = alive.localCheckpoint(eager=False) if lazy else checkpoint(alive, 0)
    n_alive = alive.count()
    matched: DataFrame | None = None

    for it in range(1, max_iterations + 1):
        if n_alive == 0:
            break
        inc = alive.select(F.col("a").alias("v"), "p", "a", "b").unionByName(
            alive.select(F.col("b").alias("v"), "p", "a", "b")
        )
        vmin = inc.groupBy("v").agg(F.min(F.struct("p", "a", "b")).alias("m"))
        me = F.struct("p", "a", "b")
        win = (
            alive.join(
                vmin.select(F.col("v").alias("a"), F.col("m").alias("ma")), "a"
            )
            .join(vmin.select(F.col("v").alias("b"), F.col("m").alias("mb")), "b")
            .filter((me == F.col("ma")) & (me == F.col("mb")))
            .select("a", "b")
        )
        win = win.localCheckpoint(eager=True) if lazy else checkpoint(win, it)
        matched = win if matched is None else matched.unionByName(win)
        dead = win.select(F.col("a").alias("v")).unionByName(
            win.select(F.col("b").alias("v"))
        )
        nxt = (
            alive.join(dead, alive["a"] == dead["v"], "left_anti")
            .join(dead, alive["b"] == dead["v"], "left_anti")
        )
        nxt = nxt.localCheckpoint(eager=False) if lazy else checkpoint(nxt, 1000 + it)
        n_alive = nxt.count()  # materializes the round's alive set
        alive = nxt
    else:
        # the loop exhausted its rounds — but if the LAST round emptied the
        # alive set the run converged exactly on the budget, which is success
        if n_alive != 0:
            raise RuntimeError(
                f"{who}: did not converge in {max_iterations} "
                f"rounds — raise max_iterations"
            )

    if matched is None:
        return alive.select("a", "b").limit(0)
    return matched.select("a", "b")
