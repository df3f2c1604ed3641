"""PageRank as an iterative join-aggregate dataflow.

Reference semantics replicated exactly (required for the 1e-6 parity
oracle; see /root/reference/pagerank_simple.c):

- damping d = 0.85                      (pagerank_simple.c:4)
- init rank = 0.15 for every vertex     (pagerank_simple.c:95 — NOT 1/N)
- per-iteration: rank'[v] = (1-d)/N + d * Σ_{(u,v)∈E_in} rank[u]/outdeg(u)
                                        (pagerank_simple.c:62-84, 119-123)
- NO dangling-mass redistribution       (absent from all pr_algo_* variants)
- parity mode: fixed 10 iterations      (pagerank_simple.c:115)
- convergence mode: iterate until L∞(new-old) < tol (north rule)

Push (pr_algo_push, atomics) and pull (pr_algo_pull) collapse into the SAME
DataFrame plan — ``groupBy(dst).sum()`` — because the shuffle replaces
shared-memory atomics; there is no push/pull distinction to preserve.

Physical plan per iteration (what .explain should show):
- the persisted ``out_normalized_edges`` side is NOT re-shuffled (its
  repartition(src) output partitioning is reused);
- the small rank state is shuffled to the edges (state ≪ edges);
- contributions aggregate with map-side partial sum (Catalyst partial/final
  hash aggregate = the reference's per-thread buffered writeAdd,
  buffer.c:267-297);
- hub-vertex skew on ``dst`` is absorbed by the partial aggregate (each
  input partition pre-sums its share of a hub's mass before the shuffle),
  with AQE skew handling as belt-and-braces.

Lineage control: iterative plans grow unboundedly unless truncated — each
block of ``unroll`` rounds (at most 8) is composed into one plan and cut
via ``checkpointer`` (default: linkgraph.runner.local_checkpoint); a
durable ``store`` commits every round to the checkpoint store instead,
which also provides resume (linkgraph.runner).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import Graph
from linkgraph.runner import local_checkpoint

DAMPING = 0.85
INIT_RANK = 0.15  # pagerank_simple.c:95 — reference inits prev to 0.15, not 1/N


def pagerank(
    graph: Graph,
    iterations: int = 10,
    damping: float = DAMPING,
    init_rank: float = INIT_RANK,
    tol: float | None = None,
    max_iterations: int = 100,
    checkpointer: Callable[[DataFrame, int], DataFrame] | None = None,
    store=None,
    salt: int | None = None,
    unroll: int = 4,
    info: dict | None = None,
    init_state: DataFrame | None = None,
) -> DataFrame:
    """Run PageRank; returns DataFrame(id: long, rank: double).

    ``tol=None`` → parity mode: exactly ``iterations`` rounds (reference's
    fixed-10 loop). ``tol`` set → convergence mode: iterate until
    ``max|new-old| < tol`` or ``max_iterations``.

    ``init_state``: optional (id, rank) DataFrame to WARM-START from —
    the operational pattern for delta-crawl re-ranking at web scale: the
    PageRank fixpoint is unique (the recurrence is a contraction for
    damping < 1), so convergence-mode output is init-independent, but
    starting from yesterday's converged ranks after a small edge delta
    converges in a handful of rounds instead of the cold ~70+. Vertices
    missing from ``init_state`` (newly crawled) start at ``init_rank``;
    rows for vertices no longer in the graph are dropped. Ignored when a
    durable ``store`` already holds committed rounds (the store resume
    wins — it is the same mechanism one crash deeper).

    ``store`` (a linkgraph.runner.CheckpointStore) makes the run durable
    and resumable: iteration k's state is committed before k+1 starts, and
    a relaunch continues from the highest committed iteration.

    ``unroll``: iterations composed into ONE Catalyst plan between
    checkpoints (in-memory runs only; durable ``store`` runs pin unroll=1
    so every iteration is a committed resume point). Per-iteration job
    latency — not compute — dominates small/medium states, so unrolling
    cuts wall time nearly proportionally; the convergence test then fires
    every ``unroll`` iterations against the last checkpointed state. The
    blocked L∞ delta over ``unroll`` steps upper-bounds the final
    consecutive-step delta only when per-coordinate deltas shrink
    monotonically — for a general contraction the block delta can in
    principle undershoot one intermediate step, so convergence is
    guaranteed within a small constant factor of ``tol`` (pass
    ``tol/unroll`` for a provable per-step bound); in the worst case the
    run does at most ``unroll - 1`` extra iterations of work. The depth
    is capped at 8 and does not grow with distance from ``tol``: Catalyst
    analysis cost grows superlinearly with chained join-agg depth, and
    deeper blocks measured slower (sf0.1, to 1e-6: depth 4 ran 13.1 s,
    depth 8 ran 21.7 s, depth 16 did not finish in 9 minutes).

    ``info``: optional dict the run fills with ``iterations`` (rounds
    actually executed) and ``delta`` (last blocked L∞ delta, convergence
    mode) — observability without a custom checkpointer, which would
    opt the run out of the lazy fast path.
    """
    checkpoint = store.checkpointer if store is not None else (checkpointer or local_checkpoint)
    n = graph.num_vertices
    if n == 0:
        raise ValueError("pagerank: graph has no vertices")
    teleport = (1.0 - damping) / n  # adding_constant, pagerank_simple.c:88
    norm_edges = graph.out_normalized_edges()

    total_rounds = iterations if tol is None else max_iterations
    start, resumed = store.resume(total_rounds) if store is not None else (0, None)
    if resumed is not None:
        ranks = resumed.select("id", "rank")
    elif init_state is not None:
        ranks = (
            graph.vertices()
            .join(init_state.select("id", F.col("rank").alias("warm")), "id", "left")
            .select(
                "id", F.coalesce("warm", F.lit(float(init_rank))).alias("rank")
            )
        )
        ranks = checkpoint(ranks, 0)
    else:
        ranks = graph.vertices().select("id", F.lit(float(init_rank)).alias("rank"))
        ranks = checkpoint(ranks, 0)

    def one_round(state: DataFrame) -> DataFrame:
        """One recurrence application: (id, rank[, old_rank]) → same shape.
        Extra columns (old_rank) pass through untouched."""
        scattered = norm_edges.join(state, norm_edges["src"] == state["id"]).select(
            F.col("src"),
            F.col("dst"),
            (F.col("rank") * F.col("inv_out_deg")).alias("contrib"),
        )
        if salt:
            # explicit hub salting (north rule): bound every final-agg
            # group by pre-summing (dst, salt-of-src) — see salting.py
            from linkgraph.operators.salting import salted_sum

            contribs = salted_sum(
                scattered, key="dst", value="contrib", out="mass",
                salt=salt, salt_source="src",
            )
        else:
            contribs = scattered.groupBy("dst").agg(F.sum("contrib").alias("mass"))
        new_rank = (
            F.lit(teleport) + F.lit(damping) * F.coalesce(F.col("mass"), F.lit(0.0))
        ).alias("rank")
        carried = [c for c in state.columns if c not in ("id", "rank")]
        return state.join(contribs, state["id"] == contribs["dst"], "left").select(
            "id", *carried, new_rank
        )

    # durable runs commit every round so each one is a resume point;
    # Catalyst analysis cost grows superlinearly with chained join-agg
    # depth, so in-memory blocks stay at most 8 deep
    step = 1 if store is not None else min(max(1, unroll), 8)
    it = start
    # default path only: durable stores and custom checkpointers keep
    # their own (eager) materialization semantics
    lazy_ok = store is None and checkpointer is None
    while it < total_rounds:
        block = min(step, total_rounds - it)
        if tol is None:
            cur = ranks
            for _ in range(block):
                cur = one_round(cur)
            it += block
            ranks = checkpoint(cur.select("id", "rank"), it)
        else:
            # carry the block-start rank through the checkpoint so the L∞
            # delta is an aggregate over the just-materialized state — no
            # extra join against old state (a second full shuffle at 10^9
            # vertices)
            cur = ranks.select("id", F.col("rank").alias("old_rank"), "rank")
            for _ in range(block):
                cur = one_round(cur)
            it += block
            staged = cur.select("id", "old_rank", "rank")
            if lazy_ok:
                # LAZY: the delta aggregate below is the block's single
                # job — it materializes the checkpoint AND returns the
                # convergence statistic
                staged = staged.localCheckpoint(eager=False)
            else:
                staged = checkpoint(staged, it)
            delta = staged.agg(
                F.max(F.abs(F.col("rank") - F.col("old_rank"))).alias("d")
            ).collect()[0]["d"]
            ranks = staged.select("id", "rank")
            if info is not None:
                info["delta"] = delta
            if delta is not None and delta < tol:
                break

    if info is not None:
        info["iterations"] = it
    return ranks


def personalized_pagerank(
    graph: Graph,
    sources: "list[int]",
    iterations: int = 10,
    damping: float = DAMPING,
    init_mass: float = INIT_RANK,
    checkpointer: Callable[[DataFrame, int], DataFrame] | None = None,
    unroll: int = 4,
) -> DataFrame:
    """Personalized PageRank: teleport mass restricted to ``sources``.

    Recurrence: rank'[v] = base[v] + d · Σ_{(u,v)∈E_in} rank[u]/outdeg(u),
    base[v] = init_mass/|S| for v ∈ S else 0 — the reference recurrence
    (pagerank_simple.c:62-84) with the uniform (1−d)/N teleport replaced
    by a source-restricted vector; init rank = base keeps the reference's
    init-equals-teleport convention (pagerank_simple.c:95), and there is
    deliberately no dangling redistribution, matching global pagerank().
    Not in the reference binary set — the standard link-graph extension
    ("rank relative to these seed repos"); same physical plan as
    pagerank(): persisted normalized adjacency never re-shuffled, state
    shuffled to edges, base column carried through the loop so no per-
    round rejoin against the source set.
    """
    if not sources:
        raise ValueError("personalized_pagerank: sources must be non-empty")
    checkpoint = checkpointer or local_checkpoint
    srcs = sorted({int(s) for s in sources})
    b = float(init_mass) / len(srcs)
    norm_edges = graph.out_normalized_edges()
    state = graph.vertices().select(
        "id",
        F.when(F.col("id").isin(srcs), F.lit(b)).otherwise(F.lit(0.0)).alias("base"),
    )
    state = checkpoint(state.withColumn("rank", F.col("base")), 0)

    def one_round(s: DataFrame) -> DataFrame:
        scattered = norm_edges.join(s, norm_edges["src"] == s["id"]).select(
            F.col("dst"), (F.col("rank") * F.col("inv_out_deg")).alias("contrib")
        )
        contribs = scattered.groupBy("dst").agg(F.sum("contrib").alias("mass"))
        return s.join(contribs, s["id"] == contribs["dst"], "left").select(
            "id",
            "base",
            (
                F.col("base")
                + F.lit(damping) * F.coalesce(F.col("mass"), F.lit(0.0))
            ).alias("rank"),
        )

    step = min(max(1, unroll), 8)
    it = 0
    while it < iterations:
        block = min(step, iterations - it)
        cur = state
        for _ in range(block):
            cur = one_round(cur)
        it += block
        state = checkpoint(cur.select("id", "base", "rank"), it)
    return state.select("id", "rank")


def weighted_pagerank(
    graph: Graph,
    iterations: int = 10,
    damping: float = DAMPING,
    init_rank: float = INIT_RANK,
    checkpointer: Callable[[DataFrame, int], DataFrame] | None = None,
) -> DataFrame:
    """Weight-proportional PageRank: rank flows along each edge in
    proportion to its weight, p(u→v) = w(u,v) / W(u) with W(u) the sum
    of u's out-weights — the recurrence behind weighted link analysis
    (anchor-text-weighted web ranks, co-occurrence-weighted term
    graphs). Same parity-mode conventions as :func:`pagerank`
    (init 0.15, fixed rounds, no dangling redistribution); the
    UNWEIGHTED kernel is the w≡1 special case.

    Division-by-zero is impossible by construction, not by guard: the
    normalized table keeps only rows with W(u) > 0 (weights are
    non-negative, so a W(u)=0 vertex has all-zero out-weights — its
    outflow is exactly 0, the same no-redistribution treatment the
    parity kernel gives dangling vertices). This matters under Spark 4
    ANSI mode, where a 0/0 in a projection can raise plan-dependently
    even when the row is later filtered.

    Physical: identical to the unweighted loop — the weight-normalized
    edge table is built ONCE (two shuffles: the W(u) aggregate + the
    co-partitioned join) and persisted; per round one edges⋈state join
    + map-side-combined mass aggregate + row-preserving teleport join."""
    checkpoint = checkpointer or local_checkpoint
    n = graph.num_vertices
    if n == 0:
        raise ValueError("weighted_pagerank: graph has no vertices")
    teleport = (1.0 - damping) / n
    tot = graph.edges.groupBy("src").agg(F.sum("weight").alias("wsum"))
    norm = (
        graph.edges.join(tot, "src")
        .filter(F.col("wsum") > 0)
        .select("src", "dst", (F.col("weight") / F.col("wsum")).alias("p"))
        .repartition(graph.num_partitions, "src")
        .localCheckpoint(eager=True)
    )
    ranks = graph.vertices().select("id", F.lit(float(init_rank)).alias("rank"))
    ranks = checkpoint(ranks, 0)
    for it in range(1, iterations + 1):
        mass = (
            norm.join(ranks, norm["src"] == ranks["id"])
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("p")).alias("mass"))
        )
        ranks = ranks.select("id").join(mass, ranks["id"] == mass["dst"], "left").select(
            "id",
            (
                F.lit(teleport)
                + F.lit(damping) * F.coalesce(F.col("mass"), F.lit(0.0))
            ).alias("rank"),
        )
        ranks = checkpoint(ranks, it)
    return ranks


def spam_mass(
    graph: Graph,
    trusted: "list[int]",
    iterations: int = 10,
    checkpointer: Callable[[DataFrame, int], DataFrame] | None = None,
) -> DataFrame:
    """Relative spam mass (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2006):
    the fraction of a vertex's PageRank NOT attributable to a trusted
    seed set,

        spam_mass[v] = (PR[v] − TR[v]) / PR[v]

    where TR is the TrustRank vector — the personalized_pagerank run
    whose teleport mass (0.15 total, the same total as global PR's
    N·0.15/N) is concentrated on ``trusted``. High spam_mass ⇒ the
    vertex's rank flows in from outside the trust neighborhood — the
    classic link-spam signal on web/repo link graphs. Not in the
    reference binary set (pagerank_simple.c is its PR recurrence);
    the standard link-graph extension.

    Plan: both power loops share the one persisted normalized adjacency
    (graph.out_normalized_edges is cached on the Graph), so the second
    loop adds no new scan or shuffle layout; the final combine is a
    single id-co-partitioned join. Returns (id, pr, trust, spam_mass)
    rounded at 6 dp — identical IEEE expression order in the DuckDB twin
    (oracle_sql.spam_mass_sql). Seeds may hold MORE rank than their
    global PR (teleport concentration) ⇒ negative spam_mass; kept, not
    clamped, in both engines.
    """
    pr = pagerank(graph, iterations=iterations, checkpointer=checkpointer)
    tr = personalized_pagerank(
        graph, trusted, iterations=iterations, checkpointer=checkpointer
    )
    return (
        pr.select("id", F.col("rank").alias("_pr"))
        .join(tr.select("id", F.col("rank").alias("_tr")), "id")
        .select(
            "id",
            F.round("_pr", 6).alias("pr"),
            F.round("_tr", 6).alias("trust"),
            F.round(
                (F.col("_pr") - F.col("_tr")) / F.col("_pr"), 6
            ).alias("spam_mass"),
        )
    )
