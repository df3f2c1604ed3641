"""k-core decomposition — iterative peeling to the degeneracy fixpoint.

Not in the reference's kernel set (README.md:6 lists BFS/PR/SSSP/SpMV/WCC);
provided as a link-graph analytics extension in the same DataFrame-fixpoint
style as operators/wcc.py: the k-core of an undirected simple graph is the
maximal subgraph where every vertex has degree ≥ k, computed by repeatedly
deleting vertices of degree < k (Matula & Beck 1983).

Plan shape per round: degree aggregate over the alive edge set (map-side
combined), survivor filter, two semi-joins pruning edges whose either
endpoint died, checkpoint. State is the shrinking edge set — O(E') per
round, monotonically non-increasing; convergence = edge count unchanged
(an exact integer, no fingerprint needed). Round count is bounded by the
peeling depth: O(1) on cores with sharp boundaries, O(V) worst case on a
bare path (each round exposes one new endpoint) — the same worst case
every distributed peeling has; ``max_iterations`` guards it loudly.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import Graph
from linkgraph.runner import local_checkpoint


def k_core(
    graph: Graph,
    k: int = 3,
    max_iterations: int = 200,
    checkpointer: Callable[[DataFrame, int], DataFrame] | None = None,
) -> DataFrame:
    """Vertices of the k-core of the UNDIRECTED SIMPLE view of ``graph``
    (multi-edges and self-loops ignored, per the standard definition):
    DataFrame(id: long, core_deg: long) — the vertex's degree WITHIN the
    k-core (≥ k by construction). Empty result when no k-core exists.
    Deterministic: the k-core is unique (it is the union of all subgraphs
    with min-degree ≥ k), so peel order cannot matter.
    """
    if k < 1:
        raise ValueError(f"k must be ≥ 1, got {k}")
    checkpoint = checkpointer or local_checkpoint
    canon = graph.canonical_undirected_edges()  # (a, b), a < b, deduped
    sym = canon.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        canon.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    alive = checkpoint(sym, 0)
    n_alive = alive.count()

    for it in range(1, max_iterations + 1):
        if n_alive == 0:
            break
        deg = alive.groupBy("src").agg(F.count("*").alias("d"))
        keep = deg.filter(F.col("d") >= k).select(F.col("src").alias("id"))
        nxt = (
            alive.join(keep, alive["src"] == keep["id"], "left_semi")
            .join(keep, F.col("dst") == keep["id"], "left_semi")
        )
        # the count is the round's one job: it materializes the cut AND
        # tests convergence
        nxt = checkpoint(nxt, it)
        n_next = nxt.count()
        if n_next == n_alive:
            break
        alive, n_alive = nxt, n_next
    else:
        raise RuntimeError(
            f"k_core(k={k}): peel did not converge in {max_iterations} "
            f"rounds — a long-chain peeling front; raise max_iterations"
        )

    if n_alive == 0:
        return alive.select(
            F.col("src").alias("id"), F.lit(0).cast("long").alias("core_deg")
        ).limit(0)
    return (
        alive.groupBy(F.col("src").alias("id"))
        .agg(F.count("*").alias("core_deg"))
    )


def coreness(
    graph: Graph,
    max_iterations: int = 100,
) -> DataFrame:
    """Full k-core DECOMPOSITION: DataFrame(id: long, coreness: long) —
    every vertex's core number (the largest k whose k-core contains it)
    over the undirected simple view; isolated vertices get 0.

    Algorithm: iterated neighborhood H-index (Lü, Zhou, Zhang, Stanley,
    Nature Comm. 2016): initialize c = degree; each round replace c(v)
    by the H-index of its neighbors' values (the largest h such that ≥ h
    neighbors have value ≥ h); the sequence is monotone non-increasing
    and converges exactly to coreness. Distributed round = edge⋈state
    join → (vertex, value) HISTOGRAM (map-side-combinable groupBy — the
    hub guard: a 10^6-degree hub contributes at most #distinct-values
    rows past the combiners, not 10^6) → per-vertex cumulative window
    over the few distinct values → H = max over observed values v of
    min(v, count(values ≥ v)) — an identity with the sorted-rank
    definition, since min(h, cum(h)) is maximized at an observed value
    (the first formulation sorted ALL Σdeg neighbor rows per round:
    3.4× slower at the 50M-edge bench). Rounds ≈ graph "h-depth" (small
    for small-world graphs; worst case O(V) on long chains, guarded by
    ``max_iterations``). Unlike sequential peeling, every round is a
    bulk Catalyst plan — no ordered vertex-removal dependency chain.
    """
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    canon = graph.canonical_undirected_edges()
    # partitioned by the JOIN key once and PERSISTED (not checkpointed:
    # a LogicalRDD loses its outputPartitioning, an InMemoryRelation
    # keeps it) — every H-round's edge⋈state join then exchanges only
    # the O(V) state, never the O(E) edge table (measured: the naive
    # per-round sym exchange made big-graph coreness 670 s at 50M edges)
    sym = (
        canon.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(canon.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .repartition(graph.num_partitions, "dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    c = (
        sym.groupBy(F.col("src").alias("id"))
        .agg(F.count("*").alias("c"))
    )
    c = c.localCheckpoint(eager=False)

    w = (
        Window.partitionBy("src")
        .orderBy(F.desc("cval"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for _ in range(max_iterations):
        hist = (
            sym.join(c, sym["dst"] == c["id"])
            .groupBy("src", F.col("c").alias("cval"))
            .agg(F.count("*").alias("cnt"))
        )
        h = (
            hist.withColumn("cum", F.sum("cnt").over(w))
            .select("src", F.least(F.col("cval"), F.col("cum")).alias("m"))
            .groupBy(F.col("src").alias("id"))
            .agg(F.max("m").alias("h"))
        )
        merged = c.join(h, "id").select(
            "id", F.col("c").alias("old"), F.col("h").alias("c")
        )
        # the changed-count is the H-round's one job (see k_core)
        merged = merged.localCheckpoint(eager=False)
        changed = merged.filter(F.col("c") != F.col("old")).count()
        c = merged.select("id", "c")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"coreness: H-index iteration did not converge in "
            f"{max_iterations} rounds — raise max_iterations"
        )

    out = (
        graph.vertices()
        .join(c, "id", "left")
        .select("id", F.coalesce("c", F.lit(0)).cast("long").alias("coreness"))
    )
    sym.unpersist()  # c is checkpointed — the edge cache is no longer needed
    return out


def onion_decomposition(
    graph: Graph,
    max_iterations: int = 400,
) -> DataFrame:
    """Onion decomposition (Hébert-Dufresne, Grochow & Allard, Sci. Rep.
    2016): DataFrame(id, layer, onion_core) — the k-core peel REFINED
    into its peel LAYERS. Round ℓ raises the running threshold to the
    minimum alive degree (so onion_core is exactly the vertex's core
    number — the paper's Theorem 1, cross-checked against
    :func:`coreness` in tests) and removes EVERY vertex at or below it
    as layer ℓ; the layer index localizes a vertex within its shell
    (early = periphery of the shell, late = its dense heart), the
    centre-vs-edge structure coreness alone cannot see.

    Plan shape per round (the :func:`k_core` peel with a scalar
    threshold): degree aggregate over the shrinking alive edge set
    (map-side combined) left-joined onto the alive vertex set (isolated
    vertices peel at degree 0), ONE driver action collecting the 1-row
    (min-degree, alive-count) convergence statistics — the action that
    also materializes the round's lazily-marked checkpoint — then the
    layer split and a two-semi-join edge prune. Per-round state is
    O(V'+E'), monotonically shrinking; removed layers are tiny
    checkpointed slices unioned once at the end. Round count = number
    of onion layers ≤ peeling depth ≤ O(V) worst case (bare path),
    guarded loudly by ``max_iterations``.
    """
    canon = graph.canonical_undirected_edges()
    sym = canon.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        canon.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    alive_e = sym.localCheckpoint(eager=False)
    alive_v = graph.vertices()
    core = 0
    layers: list[DataFrame] = []
    for layer in range(1, max_iterations + 1):
        deg = (
            alive_v.join(
                alive_e.groupBy(F.col("src").alias("id")).agg(
                    F.count("*").alias("d")
                ),
                "id",
                "left",
            )
            .select("id", F.coalesce("d", F.lit(0)).cast("long").alias("d"))
        )
        deg = deg.localCheckpoint(eager=False)
        stats = deg.agg(
            F.min("d").alias("kmin"), F.count("*").alias("n")
        ).collect()[0]
        if stats["n"] == 0:
            break
        core = max(core, int(stats["kmin"]))
        layers.append(
            deg.filter(F.col("d") <= core).select(
                "id",
                F.lit(layer).cast("long").alias("layer"),
                F.lit(core).cast("long").alias("onion_core"),
            )
        )
        alive_v = deg.filter(F.col("d") > core).select("id")
        nxt = alive_e.join(
            alive_v, alive_e["src"] == alive_v["id"], "left_semi"
        ).join(alive_v, F.col("dst") == F.col("id"), "left_semi")
        alive_e = nxt.localCheckpoint(eager=False)
    else:
        raise RuntimeError(
            f"onion_decomposition: peel did not converge in "
            f"{max_iterations} rounds — a long-chain peeling front; "
            f"raise max_iterations"
        )
    if not layers:
        return graph.spark.createDataFrame(
            [], "id long, layer long, onion_core long"
        )
    out = layers[0]
    for df in layers[1:]:
        out = out.unionByName(df)
    return out
