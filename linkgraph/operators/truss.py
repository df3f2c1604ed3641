"""k-truss — iterative support peeling to the cohesion fixpoint.

Not in the reference's kernel set (README.md:6 lists BFS/PR/SSSP/SpMV/WCC);
provided as a link-graph analytics extension: the k-truss of an undirected
simple graph is the maximal subgraph in which every edge participates in
at least k−2 triangles WITHIN the subgraph (Cohen 2008). It is the edge
analog of the k-core (operators/kcore.py) and the standard community-core
extractor one notch stronger than k-core (every k-truss is inside the
(k−1)-core).

Plan shape per peel round: degree-oriented wedge join over the alive edge
set (the triangles.py machinery — orientation bounds the wedge explosion
by arboricity, O(E^1.5) instead of Σdeg²), semi-join closure, a 3-way
edge-credit union aggregated map-side into per-edge support, then a left
join back to the alive set filtering support ≥ k−2. State is the shrinking
canonical edge set — O(E') per round, monotone non-increasing; convergence
is an exact integer count (no fingerprint). The round count is the truss
peeling depth — O(1) on sharp community boundaries, O(E) adversarial worst
case (each round exposes one new under-supported edge), guarded loudly by
``max_iterations``. Checkpoints are LAZY so the convergence count is
the round's single Spark job (the BFS/SSSP pattern, same as k_core).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import Graph
from linkgraph.operators.triangles import _triangle_stream_from_canon


def _edge_support(canon: DataFrame, degree_oriented: bool) -> DataFrame:
    """(a, b, sup) — per-canonical-edge triangle count over the edge set
    ``canon`` (a < b, deduped). Edges in no triangle are ABSENT (the
    caller left-joins and coalesces to 0). Each triangle is enumerated
    exactly once by the adjacency-intersect stream (no wedge shuffle —
    triangles.py:_triangle_stream_from_canon), then credited to its
    three edges; the credit union is map-side combinable. least/greatest
    per pair because degree orientation does not preserve id order."""
    tri = _triangle_stream_from_canon(canon, degree_oriented)  # (u, v, w)
    e1 = tri.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    )
    e2 = tri.select(
        F.least("v", "w").alias("a"), F.greatest("v", "w").alias("b")
    )
    e3 = tri.select(
        F.least("u", "w").alias("a"), F.greatest("u", "w").alias("b")
    )
    return (
        e1.unionByName(e2)
        .unionByName(e3)
        .groupBy("a", "b")
        .agg(F.count("*").alias("sup"))
    )


def k_truss(
    graph: Graph,
    k: int = 4,
    max_iterations: int = 200,
    degree_oriented: bool = True,
    incremental: bool = True,
) -> DataFrame:
    """Edges of the k-truss of the UNDIRECTED SIMPLE view of ``graph``
    (multi-edges and self-loops ignored): DataFrame(a: long, b: long,
    support: long) with a < b and support the edge's triangle count
    WITHIN the truss (≥ k−2 by construction). Empty when no k-truss
    exists. Deterministic — the k-truss is unique (union of all subgraphs
    whose every edge has in-subgraph support ≥ k−2), so peel order cannot
    matter. ``k=2`` returns every canonical edge (support ≥ 0 always).

    ``incremental=True`` (default) runs the
    FULL triangle stream exactly once, at initialization; every peel round
    then only SUBTRACTS the triangles destroyed by that round's peeled
    edges: triangles touching a peeled edge are found by intersecting the
    peeled edge's two endpoint neighborhoods (Σ_{peeled} deg rows, not a
    full O(E^1.5) pass), deduped per triangle, and each SURVIVING edge of
    a destroyed triangle loses exactly 1 — so a triangle with 1/2/3 peeled
    edges decrements its 2/1/0 survivors, keeping the maintained support
    equal to the full recount by induction. One Spark job per round (the
    peeled count materializes the lazily-checkpointed state). The final
    support column falls out of the maintained state — no closing full
    pass either. ``incremental=False`` keeps the recount-every-round
    formulation for A/B (tests assert identical output).
    """
    if k < 2:
        raise ValueError(f"k must be ≥ 2, got {k}")
    canon = graph.canonical_undirected_edges()

    if not incremental:
        alive = canon.localCheckpoint(eager=False)
        n_alive = alive.count()
        for _ in range(max_iterations):
            if n_alive == 0:
                break
            supp = _edge_support(alive, degree_oriented)
            nxt = (
                alive.join(supp, ["a", "b"], "left")
                .filter(F.coalesce(F.col("sup"), F.lit(0)) >= k - 2)
                .select("a", "b")
            )
            nxt = nxt.localCheckpoint(eager=False)
            n_next = nxt.count()
            if n_next == n_alive:
                break
            alive, n_alive = nxt, n_next
        else:
            raise RuntimeError(
                f"k_truss(k={k}): peel did not converge in {max_iterations} "
                f"rounds — a long under-support front; raise max_iterations"
            )
        supp = _edge_support(alive, degree_oriented)
        return alive.join(supp, ["a", "b"], "left").select(
            "a",
            "b",
            F.coalesce(F.col("sup"), F.lit(0)).cast("long").alias("support"),
        )

    # ---- incremental path: one full support pass, then decrements only
    supp0 = _edge_support(canon, degree_oriented)
    sup = canon.join(supp0, ["a", "b"], "left").select(
        "a", "b", F.coalesce(F.col("sup"), F.lit(0)).cast("long").alias("sup")
    )
    sup = sup.localCheckpoint(eager=False)

    for _ in range(max_iterations):
        peeled = sup.filter(F.col("sup") < k - 2).select("a", "b")
        # lazy checkpoint + count: the ONE action of the round — it
        # materializes sup (and peeled) for the three consumers below
        peeled = peeled.localCheckpoint(eager=False)
        n_peeled = peeled.count()
        if n_peeled == 0:
            break
        # triangles of the CURRENT edge set that touch a peeled edge:
        # w in N(a) ∩ N(b) over the full (survivor ∪ peeled) adjacency
        adj_a = sup.select("a", F.col("b").alias("w")).unionByName(
            sup.select(F.col("b").alias("a"), F.col("a").alias("w"))
        )
        adj_b = adj_a.select(F.col("a").alias("b"), "w")
        cand = peeled.join(adj_a, "a").join(adj_b, ["b", "w"])
        # dedup per triangle: a triangle with 2-3 peeled edges is found
        # once per peeled edge but must decrement its survivors once
        tri = cand.select(F.array_sort(F.array("a", "b", "w")).alias("t")).distinct()
        dec = (
            tri.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("t")[0].alias("a"), F.col("t")[1].alias("b")
                        ),
                        F.struct(
                            F.col("t")[0].alias("a"), F.col("t")[2].alias("b")
                        ),
                        F.struct(
                            F.col("t")[1].alias("a"), F.col("t")[2].alias("b")
                        ),
                    )
                ).alias("e")
            )
            .select("e.a", "e.b")
            .join(peeled, ["a", "b"], "left_anti")  # survivors only
            .groupBy("a", "b")
            .agg(F.count("*").alias("d"))
        )
        nxt = (
            sup.filter(F.col("sup") >= k - 2)
            .join(dec, ["a", "b"], "left")
            .select(
                "a",
                "b",
                (F.col("sup") - F.coalesce(F.col("d"), F.lit(0))).alias("sup"),
            )
        )
        sup = nxt.localCheckpoint(eager=False)
    else:
        raise RuntimeError(
            f"k_truss(k={k}): peel did not converge in {max_iterations} "
            f"rounds — a long under-support front; raise max_iterations"
        )

    return sup.select("a", "b", F.col("sup").cast("long").alias("support"))


def trussness(
    graph: Graph,
    max_iterations: int = 100,
    degree_oriented: bool = True,
) -> DataFrame:
    """Full truss DECOMPOSITION: DataFrame(a: long, b: long,
    trussness: long) — every canonical edge's truss number (the largest
    k whose k-truss contains it) over the undirected simple view; edges
    in no triangle get 2 (every edge is trivially in the 2-truss).
    The edge analog of :func:`linkgraph.operators.kcore.coreness`, and
    the same algorithmic idea: a local H-index fixpoint instead of an
    ordered sequential peel (Sariyüce, Seshadhri & Pinar, WWW'18 local
    nucleus decomposition; Lü et al. 2016 for the vertex case).

    Initialize ρ(e) = support(e); each round replace ρ(e) by
    min(ρ(e), H({min(ρ(f), ρ(g)) : (f, g) close a triangle with e})).
    Invariant: ρ(e) ≥ trussness(e)−2 is preserved (the trussness(e)-truss
    gives ≥ trussness(e)−2 triangles whose partner edges all keep values
    ≥ trussness(e)−2), and at the fixpoint every edge set
    {f : ρ(f) ≥ k} has in-set support ≥ k, i.e. is a (k+2)-truss — so
    the monotone, integer-valued sequence converges EXACTLY to
    trussness−2. Unlike the peel there is no ordered removal chain:
    every round is one bulk Catalyst plan.

    Plan shape per round: the canonically-sorted triangle list (built
    ONCE by the adjacency-intersect stream, O(triangles) rows, persisted
    partitioned by its first edge key) joins the O(E') state three times
    (one exchange-free side on the persisted layout, state exchanged —
    never the triangle table rebuilt), emits 3 (edge, partner-min) rows
    per triangle, then the coreness hub-guard histogram: groupBy
    (edge, value) with map-side combine, cumulative window over the few
    distinct values, H = max(min(value, count ≥ value)). Round count is
    the graph's truss "h-depth" (small on community graphs); guarded
    loudly by ``max_iterations``.
    """
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    canon = graph.canonical_undirected_edges()
    tri = (
        _triangle_stream_from_canon(canon, degree_oriented)
        .select(F.array_sort(F.array("u", "v", "w")).alias("t"))
        .select(
            F.col("t")[0].alias("x"),
            F.col("t")[1].alias("y"),
            F.col("t")[2].alias("z"),
        )
        .repartition(graph.num_partitions, "x", "y")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # x < y < z, so the triangle's edges (x,y) (x,z) (y,z) are canonical
    rho = (
        tri.select(F.col("x").alias("a"), F.col("y").alias("b"))
        .unionByName(tri.select(F.col("x").alias("a"), F.col("z").alias("b")))
        .unionByName(tri.select(F.col("y").alias("a"), F.col("z").alias("b")))
        .groupBy("a", "b")
        .agg(F.count("*").alias("rho"))
    )
    rho = rho.localCheckpoint(eager=False)

    w = (
        Window.partitionBy("a", "b")
        .orderBy(F.desc("val"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for _ in range(max_iterations):
        sxy = rho.select(
            F.col("a").alias("x"), F.col("b").alias("y"), F.col("rho").alias("rxy")
        )
        sxz = rho.select(
            F.col("a").alias("x"), F.col("b").alias("z"), F.col("rho").alias("rxz")
        )
        syz = rho.select(
            F.col("a").alias("y"), F.col("b").alias("z"), F.col("rho").alias("ryz")
        )
        j = tri.join(sxy, ["x", "y"]).join(sxz, ["x", "z"]).join(syz, ["y", "z"])
        vals = (
            j.select(
                F.col("x").alias("a"),
                F.col("y").alias("b"),
                F.least("rxz", "ryz").alias("val"),
            )
            .unionByName(
                j.select(
                    F.col("x").alias("a"),
                    F.col("z").alias("b"),
                    F.least("rxy", "ryz").alias("val"),
                )
            )
            .unionByName(
                j.select(
                    F.col("y").alias("a"),
                    F.col("z").alias("b"),
                    F.least("rxy", "rxz").alias("val"),
                )
            )
        )
        hist = vals.groupBy("a", "b", "val").agg(F.count("*").alias("cnt"))
        h = (
            hist.withColumn("cum", F.sum("cnt").over(w))
            .select("a", "b", F.least(F.col("val"), F.col("cum")).alias("m"))
            .groupBy("a", "b")
            .agg(F.max("m").alias("h"))
        )
        merged = rho.join(h, ["a", "b"]).select(
            "a",
            "b",
            F.col("rho").alias("old"),
            F.least(F.col("rho"), F.col("h")).alias("rho"),
        )
        merged = merged.localCheckpoint(eager=False)
        changed = merged.filter(F.col("rho") != F.col("old")).count()
        rho = merged.select("a", "b", "rho")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"trussness: H-index iteration did not converge in "
            f"{max_iterations} rounds — raise max_iterations"
        )

    out = canon.join(rho, ["a", "b"], "left").select(
        "a",
        "b",
        F.coalesce(F.col("rho") + F.lit(2), F.lit(2)).cast("long").alias("trussness"),
    )
    tri.unpersist()
    return out
