"""Triangle counting via sorted-adjacency intersection.

Not in the reference binary set; named by the north rule as a natural
extension of the reference's sorted-adjacency machinery (the per-list dst
sort of load_mode 3, init_all.c:703-712, exists to make neighborhood
intersection cheap — exactly what triangle counting needs).

Formulation (the standard DataFrame compact-forward algorithm):
1. canonicalize to undirected simple edges (a < b), dropping self-loops
   and multi-edges;
2. orient every edge u → v along a total order and collect each vertex's
   sorted out-neighbor array;
3. per oriented edge u → v, every w in adj[u] ∩ adj[v] closes the
   triangle u-v-w.

Each triangle {x≺y≺z} is produced exactly once (at its edge x → y, with
w = z), so the global count needs no division.

Scale notes: in id order a hub's out-neighbor array grows with its
degree (Σ deg(v)² intersect work). Orienting by DEGREE instead
(low-degree → high-degree) bounds every out-neighbor array by O(√E);
provided as ``degree_oriented=True`` (default) — both orientations count
the same triangles, the degree orientation just bounds the skew, trading
two extra degree-join shuffles for O(E^1.5) total work instead of
Σdeg².
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import Graph


def _oriented_edges(graph: Graph, degree_oriented: bool) -> DataFrame:
    return _oriented_from_canon(graph.canonical_undirected_edges(), degree_oriented)


def _oriented_from_canon(canon: DataFrame, degree_oriented: bool) -> DataFrame:
    """Given a canonical a<b deduped edge set, return its orientation
    (u, v): u precedes v in the chosen total order (id order, or (degree,
    id) order). Canon-level so subgraph passes (operators/truss.py peels
    a shrinking edge set) reuse the same machinery."""
    if not degree_oriented:
        return canon.select(F.col("a").alias("u"), F.col("b").alias("v"))
    # degree in the undirected simple graph
    deg = (
        canon.select(F.col("a").alias("id"))
        .unionByName(canon.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("deg_b"))
    e = canon.join(da, "a").join(db, "b")
    # orient from the (degree, id)-smaller endpoint to the larger
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    return e.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )


def _triangle_stream_from_canon(canon: DataFrame, degree_oriented: bool) -> DataFrame:
    """Each triangle of the canonical edge set exactly once, as
    (u, v, w): oriented edge u→v plus a common oriented out-neighbor w
    of both. The adjacency-intersect ENUMERATOR — explode of
    ``array_intersect(adj[u], adj[v])`` — so the only shuffled rows are
    the E' adjacency build and the |triangles| output rows; the wedge
    set (Σ deg⁺² rows — 76M vs 22M triangles on the dense sf0.1 gate
    graph, measured 24→7 s for per-vertex counts) is never materialized
    or shuffled. Degree orientation bounds each adjacency array by
    O(√E̅), the same argument as triangle_count's."""
    e = _oriented_from_canon(canon, degree_oriented)
    adj = e.groupBy("u").agg(F.sort_array(F.collect_list("v")).alias("nbrs"))
    au = adj.select(F.col("u").alias("_u"), F.col("nbrs").alias("nbrs_u"))
    av = adj.select(F.col("u").alias("_v"), F.col("nbrs").alias("nbrs_v"))
    return (
        e.join(au, e["u"] == au["_u"])
        .join(av, e["v"] == av["_v"])
        .select("u", "v", F.explode(F.array_intersect("nbrs_u", "nbrs_v")).alias("w"))
    )


def triangle_count(graph: Graph, degree_oriented: bool = True) -> DataFrame:
    """Global triangle count; DataFrame with a single row (triangles: long).

    Builds degree-oriented sorted neighbor arrays and counts
    ``size(array_intersect(adj[u], adj[v]))`` per edge — the reference's
    sorted-adjacency intersection (init_all.c:703-712 sorts neighbor lists
    for exactly this). It never materializes the wedge set (O(E·d̄)
    element ops in-operator instead of an O(wedges)-row shuffle — same
    wall time on the dense sf0.1 gate graph as the two-join wedge plan,
    far less shuffle memory, which is what matters at 100 TB).
    """
    oriented = _oriented_edges(graph, degree_oriented)
    # neighbor ids as INT when the vertex space fits: the second
    # adjacency join re-exchanges every edge row still carrying nbrs_u —
    # the operator's one heavy shuffle, O(E·d̄) array bytes — and the
    # count only needs intersection SIZE, so halving the element width
    # halves that exchange (ids < 2³¹ cast losslessly; the join keys
    # stay long)
    nbr = (
        F.col("v").cast("int")
        if graph.num_vertices <= (1 << 31) - 1
        else F.col("v")
    )
    adj = oriented.groupBy("u").agg(F.sort_array(F.collect_list(nbr)).alias("nbrs"))
    au = adj.select(F.col("u").alias("_u"), F.col("nbrs").alias("nbrs_u"))
    av = adj.select(F.col("u").alias("_v"), F.col("nbrs").alias("nbrs_v"))
    per_edge = (
        oriented.join(au, oriented["u"] == au["_u"])
        .join(av, oriented["v"] == av["_v"])
        .select(
            F.size(F.array_intersect("nbrs_u", "nbrs_v")).alias("t")
        )
    )
    return per_edge.agg(F.coalesce(F.sum("t"), F.lit(0)).cast("long").alias("triangles"))


def triangles_per_vertex(graph: Graph, degree_oriented: bool = True) -> DataFrame:
    """(id, triangles) over the full vertex set — each triangle credited to
    all three corners (isolated / triangle-free vertices get 0). Rides
    the adjacency-intersect triangle stream (no wedge shuffle)."""
    tri = _triangle_stream_from_canon(
        graph.canonical_undirected_edges(), degree_oriented
    )
    corners = (
        tri.select(F.col("u").alias("id"))
        .unionByName(tri.select(F.col("v").alias("id")))
        .unionByName(tri.select(F.col("w").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("t"))
    )
    return (
        graph.vertices()
        .join(corners, "id", "left")
        .select("id", F.coalesce("t", F.lit(0)).alias("triangles"))
    )


def rectangle_count(
    graph: Graph, max_center_degree: "int | str | None" = "auto"
) -> DataFrame:
    """Global 4-cycle (rectangle / C4) count; one row (rectangles: long)
    — the next motif after the reference's triangle kernel (quadrilateral
    density drives bipartite-core detection and spam-farm signatures on
    web graphs, Kumar et al. 1999).

    Semantics (pinned, mirrored by oracle_sql.rectangles_sql): over the
    canonical simple undirected view, every 4-cycle u–c₁–w–c₂ is counted
    ONCE. Identity: for co-degree k(u,w) = |N(u) ∩ N(w)|,
    Σ_{u<w} C(k, 2) counts each rectangle exactly twice (once per
    diagonal pair), so rectangles = Σ k·(k−1) / 4 — all-integer.

    Physical: one sym⋈sym wedge self-join keyed on the center (u < w
    halves the output), a map-side-combined (u, w) co-degree aggregate,
    and a 1-row final fold — the clustering-coefficient join shape, NOT
    an O(V²) pair table: only pairs with ≥1 common neighbor exist.
    ``max_center_degree`` bounds the O(Σ d²) wedge fan-out exactly as in
    linkpred (``'auto'`` = p99-degree cap floored at 64 — the DEFAULT;
    ``None`` = exact, the gate's oracle-parity setting)."""
    from linkgraph.operators.linkpred import _resolve_center_cap

    canon = graph.canonical_undirected_edges()
    sym = canon.select(F.col("a").alias("c"), F.col("b").alias("n")).unionByName(
        canon.select(F.col("b").alias("c"), F.col("a").alias("n"))
    )
    deg = sym.groupBy("c").agg(F.count("*").alias("d"))
    cap = _resolve_center_cap(deg, max_center_degree)
    if cap is not None:
        sym = sym.join(deg.filter(F.col("d") <= cap).select("c"), "c")
    left = sym.select("c", F.col("n").alias("u"))
    right = sym.select(F.col("c").alias("c2"), F.col("n").alias("w"))
    codeg = (
        left.join(right, left["c"] == right["c2"])
        .filter(F.col("u") < F.col("w"))
        .groupBy("u", "w")
        .agg(F.count("*").alias("k"))
    )
    return codeg.agg(
        F.coalesce(
            (F.sum(F.col("k") * (F.col("k") - 1)) / 4).cast("long"), F.lit(0)
        ).alias("rectangles")
    )


def triangle_count_estimate(
    graph: Graph, rate: float = 0.25, seed: int = 42, degree_oriented: bool = True
) -> DataFrame:
    """Sampled triangle estimate; one row
    (sampled_triangles: long, estimate: double) — the
    estimate-before-you-compute composition: count triangles on a
    deterministic md5-threshold sample of the CANONICAL edge set (keep
    iff md5_60('tsamp:<seed>:<a>:<b>') < rate·2^60) and scale by 1/p³
    (a triangle survives iff its three canonical edges all survive —
    independent per-edge keeps, so E[sampled] = p³·T exactly; Tsourakakis
    et al.'s DOULION estimator, KDD 2009, with variance ≈ T/p³ for
    triangle-sparse graphs). Sampling CANONICAL pairs — not directed
    rows — is what makes the survival probability exactly p per
    undirected edge regardless of how many directed representatives the
    input multigraph carries.

    Scale: the sampled stream rides the same adjacency-intersect
    enumerator as the exact kernel over an E·p-row edge set — at p=0.1
    that is ~100× fewer wedge element-ops, the point of the composition.
    The estimate is a DOUBLE rounded to 6 dp (count/p³ is generally
    non-integral); both engines compute the identical value because the
    sample itself is engine-neutral."""
    if not 0.0 < rate <= 1.0:
        raise ValueError(f"rate must be in (0, 1], got {rate}")
    t = int(rate * float(1 << 60))
    from linkgraph.docs import _md5_60

    canon = graph.canonical_undirected_edges()
    kept = canon.filter(
        _md5_60(f"concat('tsamp:{seed}:', CAST(a AS STRING), ':', CAST(b AS STRING))")
        < F.lit(t)
    )
    tri = _triangle_stream_from_canon(kept, degree_oriented)
    return tri.agg(
        F.count("*").cast("long").alias("sampled_triangles"),
        F.round(F.count("*") / F.lit(float(rate) ** 3), 6).alias("estimate"),
    )


def edge_embeddedness(graph: Graph, degree_oriented: bool = True) -> DataFrame:
    """(a, b, embeddedness) for EVERY canonical simple edge — the number
    of common neighbors of its endpoints (= triangles through the edge;
    Granovetter's tie-strength / Easley-Kleinberg embeddedness). The
    edge-level sibling of triangles_per_vertex: 0 marks local bridges,
    the weak ties community-detection severs first.

    Rides truss.py's adjacency-intersect support aggregate (no wedge
    shuffle) plus one row-preserving left join so triangle-free edges
    report 0 rather than vanishing."""
    from linkgraph.operators.truss import _edge_support

    canon = graph.canonical_undirected_edges()
    sup = _edge_support(canon, degree_oriented)
    return canon.join(sup, ["a", "b"], "left").select(
        "a", "b", F.coalesce("sup", F.lit(0)).cast("long").alias("embeddedness")
    )


def four_clique_count(graph: Graph, degree_oriented: bool = True) -> DataFrame:
    """Global 4-clique count; DataFrame with a single row (cliques4: long).

    Extends the triangle enumerator one level: orient edges acyclically
    (degree order by default), build sorted out-neighbor arrays, stream
    each triangle (u, v, w) with u≺v≺w via ``array_intersect(adj[u],
    adj[v])``, then count the fourth vertex as
    ``size(array_intersect(common_uv, adj[w]))`` — x ≻ w adjacent to all
    three. Each 4-clique {u≺v≺w≺x} is counted exactly once, at its
    unique orientation-minimal triangle. Same scale argument as
    triangle_count: degree orientation bounds every
    adjacency array by O(√E̅), the per-triangle intersect is in-operator
    (no wedge/triangle shuffle beyond the E' adjacency build and the
    |triangles| stream rows), and hub skew never materializes Σdeg²
    rows. Chiba-Nishizeki clique listing, DataFrame form.
    """
    canon = graph.canonical_undirected_edges()
    e = _oriented_from_canon(canon, degree_oriented)
    adj = e.groupBy("u").agg(F.sort_array(F.collect_list("v")).alias("nbrs"))
    au = adj.select(F.col("u").alias("_u"), F.col("nbrs").alias("nbrs_u"))
    av = adj.select(F.col("u").alias("_v"), F.col("nbrs").alias("nbrs_v"))
    tri = (
        e.join(au, e["u"] == au["_u"])
        .join(av, e["v"] == av["_v"])
        .select(F.array_intersect("nbrs_u", "nbrs_v").alias("common"))
        .filter(F.size("common") > 1)  # need w plus at least one candidate x
        .select(F.explode("common").alias("w"), "common")
    )
    aw = adj.select(F.col("u").alias("w"), F.col("nbrs").alias("nbrs_w"))
    per_tri = tri.join(aw, "w").select(
        F.size(F.array_intersect("common", "nbrs_w")).alias("c")
    )
    return per_tri.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("cliques4")
    )
