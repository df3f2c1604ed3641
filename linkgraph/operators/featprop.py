"""GNN-style k-hop feature propagation — neighbor-mean smoothing of a
vertex feature table over the link graph.

Not in the reference binary set; SpMV's vector-valued generalization
(spmv.py computes y = A·x for a SCALAR x; this computes X ← mean-A·X for
a D-dimensional X — the message-passing primitive behind SGC/LightGCN
"simple graph convolution" and feature smoothing for training-data
curation: propagate document/page embeddings along links so isolated
noisy features get pulled toward their neighborhood).

Semantics (pinned, mirrored by oracle_sql.featprop_sql):
- neighbors = the symmetrized edge MULTISET (each directed edge
  contributes once in each direction, exactly Graph.symmetrized()'s
  doubling — multi-edges weight the mean, matching the reference's
  multi-edge-preserving loader);
- x_0 = the input features cast to double;
- per hop, x_{k+1}[v] = avg of x_k[u] over incoming sym edges (u→v);
  a vertex with NO sym in-neighbors keeps x_k[v] (isolated vertices are
  fixed points, the coalesce convention every kernel here uses).

Physical notes: state is the EXPLODED (id, dim, x) table — V·D rows —
NOT per-vertex arrays. Aggregating neighbor arrays per vertex
(collect_list + element-wise fold) would buffer O(degree·D) per hub in
one task; keying by (dst, dim) instead shards every hub's reduction
across the cluster and keeps the whole hop inside two
whole-stage-codegen shuffles: one edges⋈state join (output E·D rows —
the inherent message volume of mean aggregation, transient and
map-side-combined, never materialized) and the row-preserving keep-own
left join. The edge table itself never explodes and never moves. State
is checkpointed per hop (kernel-loop lineage rule).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import Graph
from linkgraph.runner import local_checkpoint


def feature_propagation(
    graph: Graph,
    features: DataFrame,
    hops: int = 2,
    dims: int | None = None,
    id_col: str = "id",
    vec_col: str = "vec",
    checkpointer: Callable[[DataFrame, int], DataFrame] | None = None,
) -> DataFrame:
    """Returns DataFrame(id: long, dim: int, x: double) — the feature
    table after ``hops`` neighbor-mean rounds. ``features`` holds one row
    per vertex: (id_col: long, vec_col: array<numeric>); vertices absent
    from ``features`` are absent from the output (attach-policy is the
    caller's). ``dims`` truncates to the first D dimensions BEFORE the
    explode, so column pruning reaches the feature scan."""
    checkpoint = checkpointer or local_checkpoint

    vec = F.col(vec_col)
    if dims is not None:
        vec = F.slice(vec, 1, dims)
    state = features.select(
        F.col(id_col).cast("long").alias("id"),
        F.posexplode(vec).alias("dim", "x"),
    ).select("id", "dim", F.col("x").cast("double").alias("x"))
    state = checkpoint(state, 0)

    sym = graph.symmetrized().edges
    for h in range(1, hops + 1):
        pushed = (
            sym.join(state, sym["src"] == state["id"])
            .groupBy(F.col("dst").alias("id"), F.col("dim"))
            .agg(F.avg("x").alias("nx"))
        )
        state = state.join(pushed, ["id", "dim"], "left").select(
            "id", "dim", F.coalesce("nx", F.col("x")).alias("x")
        )
        state = checkpoint(state, h)
    return state
