"""Distributed graph coloring — deterministic random-palette rounds.

Not in the reference binary set (README.md:6 lists BFS/PR/SSSP/SpMV/WCC);
the standard parallel symmetry-breaking kernel next to MIS (register
allocation of the graph world: scheduling, frequency assignment, parallel
sparse factorization). Two classic schemes degenerate on a DENSE link
graph (mean degree d̄):
  - Jones–Plassmann colors only priority-local-minima per round →
    ~V/(d̄+1) winners/round → O(d̄·log V) rounds (measured >56 rounds at
    the sf0.01 gate graph, d̄ ≈ 55);
  - speculative first-fit (everyone takes the mex) makes all alive
    vertices draw the SAME color, so conflict resolution again only
    passes priority-local-minima → identical degeneracy (measured: >100
    rounds at the sf0.1 graph, d̄ ≈ 270).
The scheme here is Johansson's random-palette algorithm (Johansson 1999;
Barenboim–Elkin Ch. 10): every uncolored vertex draws the j-th smallest
AVAILABLE color from its palette {0..deg(v)} minus its colored
neighbors' colors, with j a per-(round, vertex) hash — neighbors almost
never collide, a constant fraction of the alive set wins every round,
and convergence is O(log V) rounds INDEPENDENT of density. Every draw is
the md5-60 of ``colorj:<seed>:<round>:<id>`` (docs.py:44 — the corpus
pipeline's hash), so the run is bit-identical across engines, runs, and
partitionings, and the DuckDB twin (oracle_sql.coloring_sql) unrolls the
identical rounds. Palette ⊆ {0..deg(v)} keeps the Δ+1 worst-case bound
of greedy (per-vertex: color(v) ≤ deg(v)) — what it gives up vs
sequential first-fit is palette density, the price of density-proof
round counts.

Round shape (all bulk Catalyst plans, no driver-side data):
  1. nc = DISTINCT colored-neighbor colors ≤ deg(v) per alive vertex
     (one edges⋈colored join), ranked per vertex by a window over ≤ Δ+1
     rows; m = their count → n_avail = deg+1−m ≥ 1, j = hash % n_avail.
  2. the j-th available color by the order-statistic skip formula:
     tentative = j + max{i+1 : cᵢ − i ≤ j} over the ranked used colors
     (the count of available colors below cᵢ is cᵢ − i).
  3. conflicts = alive-alive edges whose endpoints drew the SAME
     tentative color; the (p, id)-GREATER endpoint (p = fixed md5-60 of
     ``color:<seed>:<id>``) retries next round; winners keep the color.
     The alive-alive edge set shrinks by two semi-joins (kcore shape).
The global (p, id)-minimum alive vertex can never lose, so the alive set
shrinks every round; ``max_iterations`` guards the adversarial case
loudly. Validity (no monochromatic edge) and the per-vertex deg+1 bound
are asserted in tests/test_coloring.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from linkgraph.docs import _md5_60
from linkgraph.graph import Graph


def graph_coloring(
    graph: Graph,
    seed: int = 42,
    max_iterations: int = 100,
) -> DataFrame:
    """(id, color) over the FULL vertex set: a proper coloring of the
    UNDIRECTED SIMPLE view of ``graph`` by deterministic random-palette
    rounds (Johansson) with md5-priority conflict resolution. Per vertex
    color(v) ≤ deg(v) (isolated vertices get 0); proper — asserted in
    tests/test_coloring.py."""
    canon = graph.canonical_undirected_edges()
    sym = canon.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        canon.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    # simple undirected degree — the per-vertex palette size − 1; reused
    # every round, materialized once
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg"))
    deg = deg.localCheckpoint(eager=True)

    pri = _md5_60(f"concat('color:{int(seed)}:', CAST(id AS STRING))")
    alive = (
        graph.vertices()
        .select("id", pri.alias("p"))
        .join(deg, "id", "left")
        .select("id", "p", F.coalesce("deg", F.lit(0)).alias("deg"))
    )
    alive = alive.localCheckpoint(eager=False)
    live_e = sym.localCheckpoint(eager=False)
    n_alive = alive.count()
    colored: DataFrame | None = None

    w = Window.partitionBy("id").orderBy("ncolor")
    for it in range(1, max_iterations + 1):
        if n_alive == 0:
            break
        draw = _md5_60(
            f"concat('colorj:{int(seed)}:{it}:', CAST(id AS STRING))"
        )
        if colored is not None:
            # 1. ranked DISTINCT colored-neighbor colors within the palette
            nc = (
                sym.join(
                    alive.select(F.col("id").alias("src"), F.col("deg").alias("d")),
                    "src",
                )
                .join(
                    colored.select(
                        F.col("id").alias("dst"), F.col("color").alias("ncolor")
                    ),
                    "dst",
                )
                .filter(F.col("ncolor") <= F.col("d"))
                .select(F.col("src").alias("id"), "ncolor")
                .distinct()
                .withColumn("rn", F.row_number().over(w) - 1)
            )
            # nc feeds BOTH the palette-size count and the skip formula —
            # materialize once (fan-out recompute pitfall)
            nc = nc.localCheckpoint(eager=True)
            used = nc.groupBy("id").agg(F.count("*").alias("m"))
            tentj = (
                alive.join(used, "id", "left")
                .select(
                    "id",
                    "p",
                    (
                        draw
                        % (F.col("deg") + 1 - F.coalesce(F.col("m"), F.lit(0)))
                    ).alias("j"),
                )
            )
            # 2. order-statistic skip: tentative = j + max{i+1 : cᵢ−i ≤ j}
            shift = (
                nc.join(tentj.select("id", "j"), "id")
                .groupBy("id")
                .agg(
                    F.max(
                        F.when(
                            F.col("ncolor") - F.col("rn") <= F.col("j"),
                            F.col("rn") + 1,
                        )
                    ).alias("s")
                )
            )
            tent = tentj.join(shift, "id", "left").select(
                "id",
                "p",
                (F.col("j") + F.coalesce(F.col("s"), F.lit(0)))
                .cast("int")
                .alias("color"),
            )
        else:
            # first round: nothing colored yet — the draw itself is the color
            tent = alive.select(
                "id", "p", (draw % (F.col("deg") + 1)).cast("int").alias("color")
            )
        # tent fans out into the conflict self-join (both sides) AND the
        # winner/loser splits — materialize once
        tent = tent.localCheckpoint(eager=True)
        # 3. losers: alive-alive edges with equal tentative colors; the
        #    (p, id)-greater endpoint retries next round
        ta = tent.select(
            F.col("id").alias("src"), F.col("p").alias("pa"), F.col("color").alias("ca")
        )
        tb = tent.select(
            F.col("id").alias("dst"), F.col("p").alias("pb"), F.col("color").alias("cb")
        )
        losers = (
            live_e.join(ta, "src")
            .join(tb, "dst")
            .filter(
                (F.col("ca") == F.col("cb"))
                & (
                    (F.col("pb") < F.col("pa"))
                    | ((F.col("pb") == F.col("pa")) & (F.col("dst") < F.col("src")))
                )
            )
            .select(F.col("src").alias("id"))
            .distinct()
        )
        losers = losers.localCheckpoint(eager=True)
        newly = tent.join(losers, "id", "left_anti").select("id", "color")
        colored = newly if colored is None else colored.unionByName(newly)
        # shrink the frontier and its live edge set
        nxt = alive.join(losers, "id", "left_semi")
        nxt = nxt.localCheckpoint(eager=False)
        lid = losers.select(F.col("id"))
        live_e = live_e.join(lid, live_e["src"] == lid["id"], "left_semi").join(
            lid, live_e["dst"] == lid["id"], "left_semi"
        )
        live_e = live_e.localCheckpoint(eager=False)
        n_alive = nxt.count()
        alive = nxt
    else:
        if n_alive != 0:
            raise RuntimeError(
                f"graph_coloring: did not converge in {max_iterations} "
                f"rounds — raise max_iterations"
            )

    if colored is None:  # zero-vertex graph
        return graph.vertices().select("id", F.lit(0).alias("color")).limit(0)
    return (
        graph.vertices()
        .join(colored, "id", "left")
        .select("id", F.coalesce(F.col("color"), F.lit(0)).cast("int").alias("color"))
    )
