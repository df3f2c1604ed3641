"""Weakly connected components — hash-min label propagation to fixpoint.

Reference semantics (/root/reference/wcc.c): components[i] = i
(wcc.c:131-134); propagate via writeMin over edges in BOTH directions
(grid/edge-array variants relax dst←src and src←dst, wcc.c:193-261);
iterate until zero changes (wcc.c:187,196,236). The racy writeMin CAS
(wcc.c:21-27) becomes a deterministic ``groupBy(dst).agg(min)``.

Our formulation keeps the reference's *worklist* optimization
(wcc.c:262-277, newly-lowered vertices re-enter the next worklist): only
vertices whose component changed last round propagate — the frontier
DataFrame shrinks geometrically, so late iterations touch a tiny slice of
the edge table via the frontier semi-join instead of re-streaming all
edges (the reference's edge-array variant re-streams; the worklist variant
is its own optimization and ours).

Round complexity is O(diameter). For 100 TB graphs with long chains, the
large-star/small-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond") gives O(log n) rounds — provided as
``wcc_large_small_star`` below; results are identical (min vertex id per
component) so both share one oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import Graph
from linkgraph.runner import local_checkpoint


def _edge_fingerprint(df: DataFrame) -> tuple:
    """Order-independent multiset fingerprint of a deduped (src, dst) set:
    (count, xor of two independent 64-bit row hashes)."""
    row = (
        df.select(
            F.xxhash64(F.col("src"), F.col("dst"), F.lit(1)).alias("h1"),
            F.xxhash64(F.col("src"), F.col("dst"), F.lit(2)).alias("h2"),
        )
        .agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(h1)").alias("x1"),
            F.expr("bit_xor(h2)").alias("x2"),
        )
        .collect()[0]
    )
    return (row["n"], row["x1"], row["x2"])


def wcc(
    graph: Graph,
    max_iterations: int = 200,
    store=None,
    require_convergence: bool = True,
) -> DataFrame:
    """Connected components of the UNDIRECTED view of ``graph``.

    Returns DataFrame(id: long, comp: long) where ``comp`` is the minimum
    vertex id in the component (deterministic, unlike the reference's
    race-order-dependent intermediate states — the fixpoint agrees).

    ``store`` makes the run resumable: each committed iteration carries
    (id, old_comp, comp), so the worklist frontier (rows where comp
    shrank) is reconstructible from the stored state alone. A store
    holding more rounds than ``max_iterations`` resumes from round
    ``max_iterations``, so the bound is honored across relaunches.
    """
    checkpoint = store.checkpointer if store is not None else local_checkpoint
    sym = graph.symmetrized().edges.select("src", "dst")

    start, loaded = store.resume(max_iterations) if store is not None else (0, None)
    if loaded is not None:
        comp = loaded.select("id", "comp")
        if "old_comp" in loaded.columns:
            frontier = loaded.filter(F.col("comp") < F.col("old_comp")).select("id", "comp")
            if frontier.isEmpty():
                return comp
        else:
            frontier = comp
    else:
        comp = graph.vertices().select("id", F.col("id").alias("comp"))
        comp = checkpoint(comp, 0)
        # frontier: vertices whose component changed last round (worklist)
        frontier = comp

    for it in range(start + 1, max_iterations + 1):
        # scatter: active vertices push their component along out-edges
        upd = (
            sym.join(frontier, sym["src"] == frontier["id"])
            .select(F.col("dst"), F.col("comp").alias("cand"))
            .groupBy("dst")
            .agg(F.min("cand").alias("cand"))
        )
        merged = (
            comp.join(upd, comp["id"] == upd["dst"], "left")
            .select(
                "id",
                F.col("comp").alias("old_comp"),
                F.least(F.col("comp"), F.coalesce(F.col("cand"), F.col("comp"))).alias("comp"),
            )
        )
        merged = checkpoint(merged.select("id", "old_comp", "comp"), it)
        frontier = merged.filter(F.col("comp") < F.col("old_comp")).select("id", "comp")
        comp = merged.select("id", "comp")
        if frontier.isEmpty():
            break
    else:
        if require_convergence:
            raise RuntimeError(
                f"wcc: not converged after {max_iterations} rounds (frontier "
                f"non-empty) — raise max_iterations, or use "
                f"wcc_large_small_star (O(log n) rounds) for high-diameter "
                f"graphs; pass require_convergence=False to accept partial state"
            )

    return comp


def wcc_large_small_star(
    graph: Graph,
    max_iterations: int = 64,
    require_convergence: bool = True,
) -> DataFrame:
    """Large-star/small-star connected components (O(log n) rounds).

    Kiveris et al. 2014. Maintains a parent forest ``(id, comp)``;
    alternating star operations contract it until every vertex points at
    its component minimum. Preferred at scale over hash-min when the graph
    diameter is large; output is identical to :func:`wcc`.

    Raises RuntimeError if the edge set has not reached its star fixpoint
    within ``max_iterations`` — the closing parent extraction is only
    valid at the fixpoint, so falling through silently would return wrong
    components.
    """
    # working edge set, symmetrized & deduped; self-loops are irrelevant
    edges = (
        graph.symmetrized()
        .edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .localCheckpoint(eager=False)
    )
    prev_fp = _edge_fingerprint(edges)

    for it in range(1, max_iterations + 1):
        # large-star: for every neighbor pair via center u, link each
        # strictly-larger neighbor to the min neighbor (incl. u itself)
        min_nbr = (
            edges.groupBy("src")
            .agg(F.min("dst").alias("m"))
            .select("src", F.least("src", "m").alias("m"))
        )
        large = (
            edges.join(min_nbr, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        # small-star: link u and its smaller neighbors to the overall min
        small_base = edges.filter(F.col("dst") <= F.col("src"))
        small_min = (
            small_base.groupBy("src")
            .agg(F.min("dst").alias("m"))
            .select("src", F.least("src", "m").alias("m"))
        )
        small = (
            small_base.join(small_min, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .unionByName(small_min.select(F.col("src"), F.col("m").alias("dst")))
        )
        # dedupe ONCE in canonical (a < b) form, then emit both directions
        # narrowly — the symmetric closure is identical to deduping the
        # directed set and re-deduping after reversal, but costs ONE wide
        # shuffle per round instead of two (measured 255 s → see
        # BASELINE.md big_wcc_lss; the reversal emit is a projection)
        new_canon = (
            large.unionByName(small)
            .filter(F.col("src") != F.col("dst"))
            .select(
                F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
            )
            .dropDuplicates(["a", "b"])
        )
        new_edges = new_canon.select(
            F.col("a").alias("src"), F.col("b").alias("dst")
        ).unionByName(new_canon.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        new_edges = new_edges.localCheckpoint(eager=False)

        # convergence: order-independent fingerprint of the edge set (one
        # cheap aggregate instead of two exceptAll anti-joins per round —
        # those are O(E) shuffles each at 10^12 edges). The edge set is
        # deduped, so (count, xor of two independent 64-bit row hashes)
        # identifies it; xor aggregates cannot overflow under ANSI mode.
        # A fingerprint MATCH is then verified with ONE exceptAll pass on
        # the terminal round only (O(E') once, not per round): equal exact
        # counts ride in the fingerprint, so a one-sided empty difference
        # proves set equality — a ≈2^-128 collision can cost one extra
        # round, never a wrong answer.
        fp = _edge_fingerprint(new_edges)
        if fp == prev_fp and new_edges.exceptAll(edges).isEmpty():
            edges = new_edges
            break
        prev_fp = fp
        edges = new_edges
    else:
        if require_convergence:
            raise RuntimeError(
                f"wcc_large_small_star: star fixpoint not reached after "
                f"{max_iterations} rounds — the parent extraction below is "
                f"only valid at the fixpoint; raise max_iterations"
            )

    # at fixpoint every non-root points at its component min via an edge to it
    parent = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("m"))
        .select(F.col("src").alias("id"), F.least("src", "m").alias("comp"))
    )
    return (
        graph.vertices()
        .join(parent, "id", "left")
        .select("id", F.coalesce("comp", F.col("id")).alias("comp"))
    )


def validate_wcc(graph: Graph, comp: DataFrame) -> dict:
    """The reference's embedded validator (wcc.c:138-182), as DataFrame
    asserts: every edge's endpoints share a component; returns the census
    (component count + max size) the reference prints."""
    e = graph.edges.select("src", "dst")
    c1 = comp.select(F.col("id").alias("src"), F.col("comp").alias("c_src"))
    c2 = comp.select(F.col("id").alias("dst"), F.col("comp").alias("c_dst"))
    violations = (
        e.join(c1, "src").join(c2, "dst").filter(F.col("c_src") != F.col("c_dst")).count()
    )
    census = comp.groupBy("comp").count()
    stats = census.agg(
        F.count("*").alias("n_components"), F.max("count").alias("max_size")
    ).collect()[0]
    return {
        "violations": violations,
        "n_components": stats["n_components"],
        "max_size": stats["max_size"],
    }
