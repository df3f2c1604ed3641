"""Benchmark harness: headline kernels at two scales.

1. GATE graph (sf-derived, V=2048): correctness-scale numbers, including
   the authoritative metric — edges/sec per PageRank iteration at 1e-6
   convergence (``pr_edges_per_sec_per_iter``).
2. BIG graph (V=2^20, E=50M, Zipf-skewed in-degree hubs, generated
   deterministically in-Spark — VERDICT r01 top-next: measure plans, not
   scheduler latency): every kernel timed with per-kernel edges/sec, so
   the skew/memory claims in SCALING.md are demonstrated, not argued.

Runs at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default 32) and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"pagerank_conv": sec, ..., "big_pagerank10": sec, ...},
     "sf": "...", "big": {...per-kernel edges/sec...}, ...}

Scaling-efficiency evidence (same job at two parallelism levels) is
produced by tools/scaling_bench.py and recorded in BASELINE.md.
Set SPARK_GRAFT_SKIP_BIG=1 to run only the gate section.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from linkgraph.derive import link_graph  # noqa: E402
from linkgraph.graph import Graph  # noqa: E402
from linkgraph.operators import (  # noqa: E402
    adamic_adar,
    betweenness,
    bfs,
    closeness_centrality,
    effective_diameter,
    harmonic_centrality,
    hits,
    k_truss,
    label_propagation,
    local_clustering,
    maximal_independent_set,
    modularity,
    neighborhood_function,
    pagerank,
    random_walks,
    scc,
    skipgram_pairs,
    spmv,
    sssp,
    triangle_count,
    walk_corpus,
    wcc,
)
from linkgraph.session import get_spark  # noqa: E402

BIG_V = 1 << 20
BIG_E = 50_000_000


def big_graph(spark, num_partitions: int) -> Graph:
    """Deterministic synthetic graph with Zipf-ish in-degree hubs:
    src uniform via xxhash64; dst = floor(V·u³) for uniform u, i.e.
    P(dst < x) = (x/V)^(1/3) — vertex 0 receives ~1% of ALL edges
    (≈500k in-edges), the hub profile the grid layouts in the reference
    exist for. No data files: generated from spark.range."""
    u = (
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(1 << 30)).cast("double")
        / float(1 << 30)
    )
    edges = spark.range(BIG_E, numPartitions=num_partitions).select(
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(BIG_V)).alias("src"),
        F.floor(F.lit(float(BIG_V)) * F.pow(u, F.lit(3.0))).cast("long").alias("dst"),
    )
    return Graph.from_edges(
        spark, edges, num_vertices=BIG_V, num_partitions=num_partitions
    )


BIG_DOCS = 200_000
DOC_TOKENS = 200
VOCAB = 50_000

BIG_VECS = 1_000_000
VEC_DIM = 256
VEC_CLUSTERS = 64
N_ANN_QUERIES = 50


def big_embeddings(spark, num_partitions: int):
    """Deterministic clustered synthetic embeddings, generated in-Spark:
    BIG_VECS vectors of dim VEC_DIM in VEC_CLUSTERS clusters — component =
    cluster base (uniform [-1,1] from xxhash64 of (cluster, dim)) + noise
    (uniform [-0.3,0.3] from xxhash64 of (id, dim)), giving within-cluster
    cosine ≈ 0.92 and cross-cluster ≈ 0 — the structure ANN recall is
    measured against."""
    expr = f"""transform(sequence(0, {VEC_DIM - 1}), j -> CAST(
        (pmod(xxhash64(id % {VEC_CLUSTERS}, j, 11), 1048576) / 1048576.0 - 0.5) * 2.0
      + (pmod(xxhash64(id, j, 12), 1048576) / 1048576.0 - 0.5) * 0.6 AS FLOAT))"""
    return spark.range(BIG_VECS, numPartitions=num_partitions).select(
        F.col("id").alias("vec_id"), F.expr(expr).alias("embedding")
    )


def brute_topk_many(emb_df, queries: dict, k: int = 10, metric: str = "cos"):
    """Exact top-k for MANY queries in ONE pass: per Arrow batch a
    single (batch × dim) @ (dim × nq) float64 matmul + per-batch partial
    top-k, then a global per-query top-k — the ground-truth pass recall
    is measured against (100 separate brute scans would be 100 passes).
    metric='cos' ranks by cosine (LSH/IVF ground truth); metric='l2'
    ranks by ascending squared L2 (the PQ/ADC ground truth — PQ
    approximates L2, so cosine truth would misstate its recall)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    qids = sorted(queries)
    Q = np.stack([queries[q] for q in qids]).astype(np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    q_norm2 = np.sum(Q * Q, axis=1)  # (nq,)
    nq = len(qids)
    qid_arr = np.array(qids, dtype=np.int64)

    def part(batches):
        acc_ids = [[] for _ in range(nq)]
        acc_sims = [[] for _ in range(nq)]
        for pdf in batches:
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            if metric == "l2":
                # negated squared L2 so the shared "larger is better"
                # top-k below applies unchanged
                sims = -(
                    np.sum(m * m, axis=1, keepdims=True)
                    - 2.0 * (m @ Q.T)
                    + q_norm2[None, :]
                )
            else:
                norms = np.linalg.norm(m, axis=1, keepdims=True)
                norms[norms == 0.0] = 1.0
                sims = (m / norms) @ Qn.T  # (batch, nq)
            ids = pdf["vec_id"].to_numpy()
            # mask only each query's OWN row in its OWN column — the ANN
            # loops exclude just the query itself, so the ground truth must
            # too (masking ALL query ids everywhere scored a legitimately
            # returned other-query vector as a miss: ADVICE r03)
            # -inf, not -2.0: negated-L2 scores routinely sit below -2
            sims[ids[:, None] == qid_arr[None, :]] = -np.inf
            kk = min(k, sims.shape[0])
            top = np.argpartition(-sims, kk - 1, axis=0)[:kk]  # (kk, nq)
            for qi in range(nq):
                acc_ids[qi].append(ids[top[:, qi]])
                acc_sims[qi].append(sims[top[:, qi], qi])
        rows = []
        for qi in range(nq):
            if acc_ids[qi]:
                cid = np.concatenate(acc_ids[qi])
                cs = np.concatenate(acc_sims[qi])
                best = np.argsort(-cs)[:k]
                rows.extend(
                    (int(qid_arr[qi]), int(cid[i]), float(cs[i])) for i in best
                )
        yield pd.DataFrame(rows, columns=["qid", "vec_id", "sim"])

    res = emb_df.mapInPandas(part, "qid long, vec_id long, sim double")
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        res.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def big_docs(spark, num_partitions: int):
    """Deterministic synthetic corpus, generated in-Spark (no files):
    BIG_DOCS docs × DOC_TOKENS tokens drawn from a VOCAB-token vocabulary
    via xxhash64. Every doc with id % 10 == 3 shares its first
    DOC_TOKENS-10 tokens with doc id-1 (a planted ~95%-token-overlap
    near-dup pair per decade; ids ≡ 2,3 mod 10 are never divisible by 5,
    so the license override below cannot split a planted pair — an
    earlier id%10==1 variant paired WITH license docs and silently
    diluted the planted jaccard to ~0.73), so the minhash/LSH path has
    real work to find. A 'license header' prefix is shared by ALL docs
    with id % 5 == 0 — the boilerplate bucket the size caps exist for."""
    base = F.expr(
        f"CASE WHEN id % 10 = 3 AND pos <= {DOC_TOKENS - 10} THEN id - 1 ELSE id END"
    )
    toks = (
        spark.range(BIG_DOCS, numPartitions=num_partitions)
        .select("id", F.explode(F.sequence(F.lit(1), F.lit(DOC_TOKENS))).alias("pos"))
        .select(
            "id",
            "pos",
            F.when(
                (F.col("id") % 5 == 0) & (F.col("pos") <= 20),
                F.concat(F.lit("lic"), F.col("pos").cast("string")),
            )
            .otherwise(
                F.concat(
                    F.lit("tok"),
                    F.pmod(F.xxhash64(base, F.col("pos")), F.lit(VOCAB)).cast("string"),
                )
            )
            .alias("tok"),
        )
    )
    return (
        toks.groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "tok"))).alias("ps"))
        .select(
            F.col("id").alias("doc_id"),
            F.array_join(F.expr("transform(ps, s -> s.tok)"), " ").alias("text"),
            F.lit("en").alias("lang"),
            F.lit("synth").alias("source"),
            F.lit(0).cast("long").alias("n_chars"),
        )
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    skip_big = os.environ.get("SPARK_GRAFT_SKIP_BIG", "") == "1"
    spark = get_spark(
        app_name="linkgraph-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 16),
        extra_conf={"spark.driver.memory": "48g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Size shuffle partitions to the DATA, per SCALING.md: the gate
    # graph's per-vertex state is 2048 rows — 32 shuffle partitions of 64
    # rows each is pure scheduler thrash (measured: pagerank_conv 22-27 s
    # at P=32 vs 14.5 s at P=8 on the same host). The big sections below
    # restore the core-proportional count before building their tables.
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    t0 = time.monotonic()
    g = link_graph(spark, sf_dir)
    n_edges = g.edges.count()  # forces build + persist
    g.out_normalized_edges().count()  # pre-build the PR adjacency
    g.degrees().count()  # pre-build the degree table
    g.edges_with_dst_out_deg().count()  # pre-build the traversal adjacency
    build_sec = time.monotonic() - t0

    # the kernel loops have static, known-good plans; AQE's per-stage
    # re-planning is pure driver latency there (measured ~12% of PR wall)
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}
    samples_log: dict[str, list[float]] = {}

    def timed(name, fn, repeats: int = 1, stop_over: float = 90.0):
        """Record min-of-``repeats`` back-to-back runs. Gate- and
        docs-scale kernels are scheduler-latency-bound and inflate 2-4×
        under host tenancy (BASELINE.md r2; VERDICT r03 graded two such
        cells weak) — a single sample cannot certify a perf bar, the min
        of 3 can. Queries whose FIRST sample exceeds ``stop_over``
        seconds stay single-sample (bench-minutes budget). The gate/docs
        default is 90 s; the big section passes a higher ceiling because
        its own recorded history shows 2-5× tenancy swings on 60-160 s
        cells (big_ppr10 95.9 s single-draw vs 30.9 s the round before) —
        exactly the cells the 90 s cutoff used to leave unrepeated. All
        samples are reported in ``samples`` for transparency."""
        samples, out = [], None
        for _ in range(repeats):
            t = time.monotonic()
            out = fn()
            s = time.monotonic() - t
            samples.append(round(s, 3))
            if s > stop_over:
                break
        timings[name] = min(samples)
        if len(samples) > 1:
            samples_log[name] = samples
        return out

    # ---------------- gate graph: headline PR-to-convergence + kernels
    # iteration count via the info out-param, so the timed run uses the
    # default in-memory commit
    pr_info: dict = {}
    timed(
        "pagerank_conv",
        lambda: pagerank(g, tol=1e-6, max_iterations=200, info=pr_info).count(),
        repeats=3,
    )
    pr_iters = pr_info["iterations"]
    extras["pr_iterations"] = pr_iters
    extras["pr_edges_per_sec_per_iter"] = round(
        n_edges * pr_iters / timings["pagerank_conv"], 1
    )

    # warm-start A/B (round 5): re-converging FROM the converged state —
    # the delta-crawl re-rank floor (state load + one convergence check)
    warm_base = pagerank(g, tol=1e-6, max_iterations=200).localCheckpoint(
        eager=True
    )
    warm_info: dict = {}
    timed(
        "pagerank_conv_warm",
        lambda: pagerank(
            g, tol=1e-6, max_iterations=200, info=warm_info,
            init_state=warm_base,
        ).count(),
        repeats=3,
    )
    extras["pr_warm_iterations"] = warm_info["iterations"]

    timed("pagerank10", lambda: pagerank(g, iterations=10).count(), repeats=3)
    timed("wcc", lambda: wcc(g).count(), repeats=3)
    timed("labelprop5", lambda: label_propagation(g, iterations=5).count(), repeats=3)
    timed("triangles", lambda: triangle_count(g).collect()[0]["triangles"], repeats=3)
    timed("bfs", lambda: bfs(g, root=0).count(), repeats=3)
    timed("sssp", lambda: sssp(g, root=0).count(), repeats=3)
    timed("spmv", lambda: spmv(g).count(), repeats=3)

    # round-4 extensions — actions AGGREGATE a computed column (a bare
    # count() on a projection lets Catalyst prune the expression tree;
    # the honest-bench rule from the despan round)
    timed(
        "hits5",
        lambda: hits(g, iterations=5).agg(F.sum("auth"), F.sum("hub")).collect(),
        repeats=3,
    )
    timed(
        "harmonic8",
        lambda: harmonic_centrality(g, sources=list(range(8)))
        .agg(F.sum("harmonic"))
        .collect(),
        repeats=3,
    )
    timed(
        "closeness8",
        lambda: closeness_centrality(g, sources=list(range(8)))
        .agg(F.sum("closeness"))
        .collect(),
        repeats=3,
    )
    timed(
        "hyperanf",
        lambda: neighborhood_function(g, max_h=16)[-1],
        repeats=3,
    )
    timed(
        "scc",
        lambda: scc(g).agg(F.sum("scc")).collect(),
        repeats=3,
    )
    timed(
        "walks4",
        lambda: random_walks(g, walk_length=4, walks_per_vertex=2)
        .agg(F.sum("id"))
        .collect(),
        repeats=3,
    )
    timed(
        "clustering_coeff",
        lambda: local_clustering(g).agg(F.sum("lcc")).collect(),
        repeats=3,
    )
    # uncapped explicitly — same configuration as the gate/oracle cell so
    # the number stays comparable across rounds (the API default is now
    # the degree-quantile auto cap)
    timed(
        "adamic_adar",
        lambda: adamic_adar(g, top_k=50, max_center_degree=None).collect(),
        repeats=3,
    )
    timed(
        "betweenness8",
        lambda: betweenness(g, sources=list(range(8)))
        .agg(F.sum("betweenness"))
        .collect(),
        repeats=3,
    )
    from linkgraph.operators import edge_betweenness as _ebc

    timed(
        "edge_betweenness8",
        lambda: _ebc(g, sources=list(range(8)))
        .agg(F.sum("betweenness"))
        .collect(),
        repeats=3,
    )
    timed(
        "mis",
        lambda: maximal_independent_set(g)
        .agg(F.sum(F.col("in_mis").cast("long")))
        .collect(),
        repeats=3,
    )
    timed(
        "modularity",
        lambda: modularity(g, label_propagation(g, iterations=5)).collect(),
        repeats=3,
    )
    timed(
        "skipgrams",
        lambda: skipgram_pairs(
            walk_corpus(random_walks(g, walk_length=4, walks_per_vertex=2))
        )
        .agg(F.sum("n_pairs"))
        .collect(),
        repeats=3,
    )
    # incremental support maintenance (round 5): ONE full triangle pass at
    # init, decrements per peel round; the recount cell is the A/B twin
    # (r04's formulation — a full triangle pass EVERY round + a closing
    # pass) kept as the measured evidence of the improvement
    timed(
        "ktruss4",
        lambda: k_truss(g, k=4).agg(F.sum("support")).collect(),
        repeats=3,
    )
    timed(
        "ktruss4_recount",
        lambda: k_truss(g, k=4, incremental=False)
        .agg(F.sum("support"))
        .collect(),
        repeats=2,
    )
    # round 5: Johansson palette coloring (density-proof round count) and
    # the Charikar/Bahmani densest-subgraph peel
    from linkgraph.operators import densest_subgraph, graph_coloring

    timed(
        "coloring",
        lambda: graph_coloring(g).agg(F.max("color")).collect(),
        repeats=3,
    )
    timed(
        "densest",
        lambda: densest_subgraph(g).count(),
        repeats=3,
    )
    # round 5 (continued): truncated Katz — the PageRank loop shape
    # without the degree normalization
    from linkgraph.operators import katz as _katz

    timed(
        "katz",
        lambda: _katz(g, iterations=8).agg(F.sum("katz")).collect(),
        repeats=3,
    )
    # round 5 (continued): Louvain local-move — labelprop's join-agg round
    # shape plus a comm-keyed Σtot aggregate and the candidate score join
    from linkgraph.operators import louvain_move as _louvain

    timed(
        "louvain",
        lambda: _louvain(g, rounds=4).count(),
        repeats=3,
    )
    # round 5 (continued): C4 motif count at the DEFAULT p99 hub cap (the
    # gate's oracle-parity cell runs uncapped; this is the config a user
    # gets, same convention as the linkpred auto cap)
    from linkgraph.operators.triangles import rectangle_count as _rect

    timed(
        "rectangles",
        lambda: _rect(g).collect(),
        repeats=3,
    )
    # round 5 (continued): Borůvka MSF — per-component argmin + contraction
    from linkgraph.operators import minimum_spanning_forest as _msf

    timed(
        "msf",
        lambda: _msf(g).agg(F.sum("weight")).collect(),
        repeats=3,
    )
    # round 5 (continued): 2-hop feature propagation — vector-valued SpMV
    # over the embeddings table, exploded (id, dim) keying
    from linkgraph.operators import feature_propagation as _fp

    emb_df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    feats_df = (
        g.vertices()
        .join(emb_df, F.col("id") % 500 == F.col("vec_id"))
        .select("id", F.col("embedding").alias("vec"))
    )
    timed(
        "featprop",
        lambda: _fp(g, feats_df, hops=2, dims=8).agg(F.sum("x")).collect(),
        repeats=3,
    )

    # batch events operators on the sf events table (single-shuffle each)
    from linkgraph import events as _ev

    events_df = spark.read.parquet(f"{sf_dir}/events.parquet")
    timed(
        "sessionize",
        lambda: _ev.sessionize(events_df).agg(F.sum("total_value")).collect(),
        repeats=3,
    )
    timed(
        "events_rollup",
        lambda: _ev.rollup(events_df).agg(F.sum("sum_value")).collect(),
        repeats=3,
    )
    timed(
        "transitions",
        lambda: _ev.transitions(events_df).agg(F.sum("n")).collect(),
        repeats=3,
    )
    timed(
        "retention",
        lambda: _ev.retention(events_df, period="day")
        .agg(F.sum("retention"))
        .collect(),
        repeats=3,
    )
    timed(
        "event_anomalies",
        lambda: _ev.anomalies(events_df).agg(F.sum("z")).collect(),
        repeats=3,
    )
    timed(
        "active_users",
        lambda: _ev.active_users(events_df)
        .agg(F.sum("n_active_rolling"))
        .collect(),
        repeats=3,
    )
    timed(
        "props_rollup",
        lambda: _ev.props_rollup(events_df).agg(F.sum("sum_v")).collect(),
        repeats=3,
    )
    # round 5 (final session): brute-force k-NN classification — 50
    # broadcast queries against one candidate scan + the vote tail
    from linkgraph.similarity import knn_classify as _knnc

    emb_full = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    timed(
        "knn_classify50",
        lambda: _knnc(emb_full, query_ids=list(range(50)), k=10)
        .agg(F.sum("votes"))
        .collect(),
        repeats=3,
    )
    # round 5 (final session): PageRank-composition kernels — spam mass
    # (global PR + TrustRank PPR over the one persisted adjacency) and
    # the ACL sweep cut (PPR + one broadcast-joined edge scan)
    from linkgraph.operators.localcluster import ppr_sweep as _sweep
    from linkgraph.operators.pagerank import spam_mass as _spam

    timed(
        "spam_mass",
        lambda: _spam(g, trusted=[0, 1, 2, 3], iterations=10)
        .agg(F.sum("spam_mass"))
        .collect(),
        repeats=3,
    )
    timed(
        "ppr_sweep",
        lambda: _sweep(g, source=0, iterations=10, k=64)
        .agg(F.min("phi"))
        .collect(),
        repeats=3,
    )
    # round 5 (final session): disparity backbone (one shuffle, full gate
    # graph) and SimRank on the 256-vertex induced subgraph — exact
    # all-pairs SimRank is Θ(pairs·deg²)/round so the full graph is its
    # own documented scale-killer; the induced cell matches the gate and
    # oracle configuration
    from linkgraph.graph import Graph as _Graph
    from linkgraph.operators import disparity_backbone as _bb
    from linkgraph.operators import simrank as _sr

    timed(
        "backbone",
        lambda: _bb(g, alpha=0.2).agg(F.sum("alpha_min")).collect(),
        repeats=3,
    )
    sub_g = _Graph.from_edges(
        spark,
        g.edges.filter((F.col("src") < 256) & (F.col("dst") < 256)),
        num_vertices=256,
        persist=False,
    )
    timed(
        "simrank3",
        lambda: _sr(sub_g, iterations=3, decay=0.8, top_k=50)
        .agg(F.sum("sim"))
        .collect(),
        repeats=3,
    )

    def drop_all_cached():
        """Free every cached DataFrame and persistent RDD before the next
        section. The gate kernels leave eager localCheckpoints behind
        (MIS/matching winner sets, BFS strata, peel states) with no
        unpersist hook; their storage memory squeezes the 50M-edge
        sections' execution memory into spills — big_pagerank10 measured
        157 s with the gate section's leftovers resident vs 65 s in a
        fresh session on the same host/hour."""
        spark.catalog.clearCache()
        for _id, jrdd in spark.sparkContext._jsc.getPersistentRDDs().items():
            jrdd.unpersist()

    # ---------------- big graph: every kernel at plan-dominant scale
    big_stats: dict[str, float] = {}
    if not skip_big:
        drop_all_cached()
        # FRESH SparkContext for the big sections: the gate section leaves
        # hundreds of localCheckpoint RDD block registrations, broadcast
        # pieces, and listener state behind; restarting gives the 50M-edge
        # sections a clean BlockManager/memory manager, the same way a
        # real cluster run would give each section its own executors.
        # (Same JVM process in local mode — the heap is reused — so the
        # restart is a hygiene measure, not a heap reset; the tenancy
        # robustness comes from min-of-2 in timed_big below.)
        spark.stop()
        spark = get_spark(
            app_name="linkgraph-bench-big",
            master=f"local[{cpus}]",
            shuffle_partitions=max(cpus, 16),
        )
        spark.sparkContext.setLogLevel("ERROR")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        # big sections: back to core-proportional partitioning
        spark.conf.set("spark.sql.shuffle.partitions", str(max(cpus, 16)))
        tb = time.monotonic()
        bg = big_graph(spark, num_partitions=max(cpus, 16))
        bg.num_edges()  # build + persist
        bg.out_normalized_edges().count()
        bg.degrees().count()
        bg.edges_with_dst_out_deg().count()
        big_stats["build_sec"] = round(time.monotonic() - tb, 3)

        def timed_big(name, fn, rounds: int = 1):
            # min-of-2: the 50M-edge cells are single-digit-minute jobs and
            # the recorded history shows 2-5x single-sample tenancy swings
            # (big_pagerank10: 157/41/74/142 s across r04-r05 full-bench
            # runs vs 28.4 s min-of-3 standalone on a clean host). One
            # repeat halves the odds a contended draw becomes the number
            # of record; the 240 s early-stop (vs the gate's 90 s) exists
            # because the contended draws in this section land at 95-160 s
            # — under a 90 s cutoff exactly those stayed unrepeated and
            # became the number of record (big_ppr10 95.9 s vs 30.9 s,
            # big_triangles 158.7 s vs 54.0 s, session-3 record).
            timed(f"big_{name}", fn, repeats=2, stop_over=240.0)
            big_stats[f"{name}_edges_per_sec"] = round(
                BIG_E * rounds / timings[f"big_{name}"], 1
            )

        from linkgraph.operators.wcc import wcc_large_small_star

        from linkgraph.operators import personalized_pagerank

        timed_big("pagerank10", lambda: pagerank(bg, iterations=10).count(), rounds=10)
        timed_big(
            "ppr10",
            lambda: personalized_pagerank(bg, sources=[0, 1, 2, 3], iterations=10).count(),
            rounds=10,
        )
        timed_big("spmv", lambda: spmv(bg).count())
        timed_big("wcc", lambda: wcc(bg).count())
        timed_big("wcc_lss", lambda: wcc_large_small_star(bg).count())
        timed_big("labelprop5", lambda: label_propagation(bg, iterations=5).count(), rounds=5)
        timed_big("bfs", lambda: bfs(bg, root=0).count())
        timed_big("sssp", lambda: sssp(bg, root=0).count())
        timed_big(
            "triangles",
            lambda: triangle_count(bg).collect()[0]["triangles"],
        )
        # round-4 extensions at plan-dominant scale: HITS ≈ 2x the PR
        # join-agg per round; harmonic = 4 concurrent BFS in one frontier.
        # adamic_adar is deliberately NOT here: on this graph (mean simple
        # degree ~90) even max_center_degree=64 keeps ~10^9 wedges —
        # measured 290 s standalone — and smaller caps keep almost no
        # centers; its scale knob is exercised in test_centrality and its
        # cost model (O(Σ_{d≤cap} d²) wedge rows) documented in linkpred.py
        timed_big(
            "hits5",
            lambda: hits(bg, iterations=5)
            .agg(F.sum("auth"), F.sum("hub"))
            .collect(),
            rounds=10,  # 5 iterations x 2 half-steps over all edges
        )
        timed_big(
            "harmonic4",
            lambda: harmonic_centrality(bg, sources=[0, 1, 2, 3])
            .agg(F.sum("harmonic"))
            .collect(),
        )
        # round-5 final-session operators at plan-dominant scale:
        # disparity backbone (single wide shuffle over 50M edges) and
        # seeded edge betweenness (same forward strata as harmonic4 +
        # the per-stratum backward join)
        from linkgraph.operators import disparity_backbone as _bb_big
        from linkgraph.operators import edge_betweenness as _ebc_big

        timed_big(
            "backbone",
            lambda: _bb_big(bg, alpha=0.2).agg(F.sum("alpha_min")).collect(),
        )
        timed_big(
            "edge_betweenness4",
            lambda: _ebc_big(bg, sources=[0, 1, 2, 3])
            .agg(F.sum("betweenness"))
            .collect(),
        )
        # HyperANF effective diameter at 2^20 vertices: lg_k=8 keeps the
        # sketch state at V x ~256 B ≈ 270 MB; rounds = effective
        # diameter of the Zipf hub graph (single digits), one
        # edges⋈state union-agg shuffle each
        def _big_ed():
            d, curve = effective_diameter(bg, alpha=0.9, max_h=32, lg_config_k=8)
            extras["big_effective_diameter"] = round(d, 2)
            extras["big_hyperanf_rounds"] = len(curve) - 1
        timed_big("hyperanf_ed", _big_ed)  # true round count lands in extras

        # ------------- big corpus: docs operators at plan-dominant scale
        from linkgraph import docs as docmod

        drop_all_cached()  # free the 50M-edge graph's persisted variants
        td = time.monotonic()
        corpus = big_docs(spark, num_partitions=max(cpus, 16))
        corpus = corpus.persist()
        n_docs = corpus.count()
        big_stats["docs_build_sec"] = round(time.monotonic() - td, 3)
        big_stats["docs_n"] = n_docs

        def timed_docs(name, fn, n: int | None = None, repeats: int = 3,
                       stop_over: float = 90.0):
            # min-of-3 like the gate section (see timed); throughput from
            # the min — the number of record is the plan's cost, not a
            # tenancy draw
            timed(f"bigdocs_{name}", fn, repeats=repeats, stop_over=stop_over)
            big_stats[f"docs_{name}_docs_per_sec"] = round(
                (n or n_docs) / timings[f"bigdocs_{name}"], 1
            )

        # the action must CONSUME a computed column: .count() on a pure
        # projection lets Catalyst prune the whole expression tree away
        # (all prior rounds' ~0.15 s "token_stats" timings measured only
        # the persisted corpus's row count — found and fixed r04)
        timed_docs(
            "token_stats",
            lambda: docmod.token_stats(corpus).agg(F.sum("n_bpe_tokens")).collect(),
        )
        timed_docs("exact_dedup", lambda: docmod.exact_dedup(corpus, by_hash=True).count())
        timed_docs(
            "tfidf",
            # sum(tfidf) consumes the computed column (honest-bench rule)
            lambda: docmod.tf_idf_top_terms(corpus, top_k=5)
            .agg(F.sum("tfidf"))
            .collect(),
        )
        timed_docs(
            "lm_score",
            lambda: docmod.lm_cross_entropy(corpus)
            .agg(F.sum("cross_entropy"))
            .collect(),
        )
        timed_docs(
            "pii_scrub",
            lambda: docmod.pii_scrub(corpus)
            .agg(F.sum("n_urls"), F.sum(F.length("clean_text")))
            .collect(),
        )
        timed_docs(
            "chunks",
            lambda: docmod.chunk_documents(corpus, chunk_tokens=128, overlap=16)
            .agg(F.sum("n_tokens"))
            .collect(),
        )
        timed_docs(
            "pack",
            lambda: docmod.pack_windows(corpus, window_tokens=2048, num_buckets=32)
            .agg(F.sum("n_tokens"), F.max("window_id"))
            .collect(),
        )
        timed_docs(
            "repetition_stats",
            # sum of a computed fraction — consumes the aggregate chain
            lambda: docmod.repetition_stats(corpus, n=2)
            .agg(F.sum("dup_ngram_frac"))
            .collect(),
        )
        # paragraph dedup needs paragraph structure: plant the same 3-para
        # header/body/footer fixture the gate uses (the synthetic corpus
        # is single-line), so headers/footers genuinely repeat across
        # ~N/7 / ~N/13 docs and the remove-and-reassemble path is real
        para_corpus = corpus.select(
            "doc_id",
            F.concat(
                F.lit("shared header "),
                (F.col("doc_id") % 7).cast("string"),
                F.lit(".\n\n"),
                F.col("text"),
                F.lit("\n\nshared footer "),
                (F.col("doc_id") % 13).cast("string"),
                F.lit("."),
            ).alias("text"),
        )
        timed_docs(
            "para_dedup",
            lambda: docmod.paragraph_dedup(para_corpus)
            .agg(F.sum("removed_paras"), F.sum(F.length("text")))
            .collect(),
        )
        timed_docs(
            "quantile_buckets",
            # exact global rank by text length — the two-level prefix-sum
            # rank at corpus scale (never a single-partition sort window)
            lambda: docmod.quantile_buckets(
                corpus.select("doc_id", F.length("text").alias("n_chars")),
                score_col="n_chars",
                buckets=10,
            )
            .agg(F.sum("rank"), F.max("bucket"))
            .collect(),
        )
        # round 5 (continued): PMI collocations, DSIR resampling toward
        # the license-doc slice, and 8 rounds of distributed BPE training
        timed_docs(
            "pmi",
            lambda: docmod.pmi_collocations(corpus, min_count=5, top_k=30)
            .agg(F.sum("pmi"))
            .collect(),
        )
        timed_docs(
            "dsir",
            lambda: docmod.dsir_resample(
                corpus, "doc_id % 5 = 0", keep=1000, buckets=4096
            )
            .agg(F.sum("key"))
            .collect(),
        )
        timed_docs(
            "bpe",
            lambda: docmod.bpe_train(corpus, merges=8)
            .agg(F.sum("cnt"))
            .collect(),
        )
        timed_docs(
            "quality_clf",
            lambda: docmod.quality_classifier(
                corpus, "doc_id % 5 = 0", steps=3, buckets=512
            )
            .agg(F.sum("score"))
            .collect(),
        )
        timed_docs(
            "decontaminate",
            # probes = a 1/50 corpus slice standing in for a benchmark set
            lambda: docmod.decontaminate(
                corpus, corpus.filter(F.col("doc_id") % 50 == 0), k=13
            )
            .agg(F.sum(F.col("contaminated").cast("long")))
            .collect(),
        )
        timed_docs(
            "minhash_pairs",
            lambda: docmod.minhash_candidate_pairs(
                corpus, max_bucket_size=1000
            ).count(),
        )
        timed_docs(
            "dedup_clusters",
            lambda: docmod.dedup_clusters(corpus, max_bucket_size=1000).count(),
        )
        timed_docs(
            "fingerprints",
            # char-level explode is ~1.4k rows/doc — run on a 25% slice to
            # keep the bench minutes-bounded; throughput is per sliced doc
            lambda: docmod.fingerprints(
                corpus.filter(F.col("doc_id") % 4 == 0)
            ).count(),
            n=(BIG_DOCS + 3) // 4,
        )
        timed_docs(
            "despan",
            # exact-substring dedup (round 4) on the same 25% slice as
            # fingerprints (same char-explode cost class)
            # sum(n_removed) forces the span index + rewrite (a count()
            # would prune the row-preserving left join + fold entirely)
            lambda: docmod.remove_repeated_spans(
                corpus.filter(F.col("doc_id") % 4 == 0), min_len=50
            )
            .agg(F.sum("n_removed"))
            .collect(),
            n=(BIG_DOCS + 3) // 4,
            # the first draw runs ~2x cold (measured: despan_xx samples
            # 71.1 -> 31.4 -> 28.5 in one run); the 90 s default would
            # leave this ~75 s warm cell single-sampled at its cold draw
            stop_over=250.0,
        )
        timed_docs(
            "despan_xx",
            # production fast path: xxhash64 position hashes (JVM
            # intrinsic) instead of the oracle-neutral md5-60 fragment
            lambda: docmod.remove_repeated_spans(
                corpus.filter(F.col("doc_id") % 4 == 0),
                min_len=50,
                hasher="xxhash64",
            )
            .agg(F.sum("n_removed"))
            .collect(),
            n=(BIG_DOCS + 3) // 4,
        )
        corpus.unpersist()

        # --------- big embeddings: ANN index build + query + recall@10
        # (VERDICT r02 next #2 — the last unmeasured SCALING.md rows)
        import shutil
        import tempfile

        import numpy as np

        from linkgraph.similarity import (
            ann_index_topk,
            ann_index_topk_batch,
            ivf_centroids,
            ivf_index_topk,
            ivf_index_topk_batch,
            semantic_dedup,
            write_ann_index,
            write_ivf_index,
        )

        drop_all_cached()  # free the corpus before the 1M-vector section
        scratch = tempfile.mkdtemp(prefix="linkgraph_ann_bench_")
        try:
            tv = time.monotonic()
            emb = big_embeddings(spark, num_partitions=max(cpus, 16)).persist()
            emb.count()
            big_stats["emb_build_sec"] = round(time.monotonic() - tv, 3)
            big_stats["emb_n"] = BIG_VECS
            big_stats["emb_dim"] = VEC_DIM

            ann_path = f"{scratch}/ann"
            # 8 bits keeps buckets selective (~4k rows each at 1M vecs);
            # 8 OR-bands lift recall@10 to ≥0.9 on the clustered corpus
            # (within-cluster cos ≈ 0.92 → per-band hit ≈ 0.33 → 1-(1-p)^8
            # ≈ 0.96; measured 0.74 at 4 bands in the first r03 run)
            ANN_BITS, ANN_BANDS = 8, 8
            t = time.monotonic()
            write_ann_index(
                emb, ann_path, num_bits=ANN_BITS, dim=VEC_DIM, num_bands=ANN_BANDS
            )
            wall = time.monotonic() - t
            timings["bigann_index_build"] = round(wall, 3)
            big_stats["ann_index_build_vecs_per_sec"] = round(BIG_VECS / wall, 1)

            ivf_path = f"{scratch}/ivf"
            IVF_C, IVF_NPROBE = 64, 8
            t = time.monotonic()
            cents = write_ivf_index(emb, ivf_path, num_centroids=IVF_C)
            wall = time.monotonic() - t
            timings["bigivf_index_build"] = round(wall, 3)
            big_stats["ivf_index_build_vecs_per_sec"] = round(BIG_VECS / wall, 1)

            # evenly spaced sample queries (deterministic)
            stride = BIG_VECS // N_ANN_QUERIES
            qdf = emb.filter(F.col("vec_id") % stride == 0).collect()
            queries = {
                int(r["vec_id"]): np.asarray(r["embedding"], dtype=np.float64)
                for r in qdf
            }

            t = time.monotonic()
            brute = {}
            for r in brute_topk_many(emb, queries, k=10).collect():
                brute.setdefault(r["qid"], []).append(r["vec_id"])
            timings["bigann_brute_pass"] = round(time.monotonic() - t, 3)

            # round-5 final session: k-NN classification at 1M vectors —
            # labels = the planted cluster id (vec_id % VEC_CLUSTERS), so
            # vote accuracy against the query's own cluster is a ground-
            # truth accuracy, not just a wall time
            from linkgraph.similarity import knn_classify as _knnc_big

            t = time.monotonic()
            preds = {
                r["query_id"]: r["pred_label"]
                for r in _knnc_big(
                    emb.select(
                        "vec_id",
                        "embedding",
                        (F.col("vec_id") % VEC_CLUSTERS).cast("int").alias("label"),
                    ),
                    query_ids=sorted(queries),
                    k=10,
                    score="matmul",
                ).collect()
            }
            wall = time.monotonic() - t
            timings["bigknn_classify"] = round(wall, 3)
            big_stats["knn_classify_ms_per_query"] = round(
                1000.0 * wall / len(queries), 1
            )
            big_stats["knn_classify_cluster_accuracy"] = round(
                sum(
                    1.0
                    for q, p in preds.items()
                    if p == q % VEC_CLUSTERS
                )
                / len(preds),
                4,
            )

            t = time.monotonic()
            n_hit = total = 0
            ann_df = spark.read.parquet(ann_path)  # list dirs ONCE
            for qid, qv in queries.items():
                got = [
                    r["vec_id"]
                    for r in ann_index_topk(
                        spark, ann_path, qv, k=10, num_bits=ANN_BITS,
                        num_bands=ANN_BANDS, exclude_vec_id=qid,
                        index_df=ann_df, score="matmul",
                    ).collect()
                ]
                n_hit += len(set(got) & set(brute[qid]))
                total += len(brute[qid])
            wall = time.monotonic() - t
            timings["bigann_queries"] = round(wall, 3)
            big_stats["ann_query_ms"] = round(1000.0 * wall / len(queries), 1)
            big_stats["ann_recall_at_10"] = round(n_hit / total, 4)
            big_stats["ann_config"] = f"bits={ANN_BITS},bands={ANN_BANDS}"

            t = time.monotonic()
            n_hit = total = 0
            ivf_df = spark.read.parquet(ivf_path)  # list dirs ONCE
            for qid, qv in queries.items():
                got = [
                    r["vec_id"]
                    for r in ivf_index_topk(
                        spark, ivf_path, cents, qv, k=10, nprobe=IVF_NPROBE,
                        exclude_vec_id=qid, index_df=ivf_df, score="matmul",
                    ).collect()
                ]
                n_hit += len(set(got) & set(brute[qid]))
                total += len(brute[qid])
            wall = time.monotonic() - t
            timings["bigivf_queries"] = round(wall, 3)
            big_stats["ivf_query_ms"] = round(1000.0 * wall / len(queries), 1)
            big_stats["ivf_recall_at_10"] = round(n_hit / total, 4)
            big_stats["ivf_config"] = f"C={IVF_C},nprobe={IVF_NPROBE}"

            # ---- batch serving (round 4): ALL queries in ONE job — the
            # per-query loops above are scheduler-bound (~1 s/query while
            # the pruned scan touches ~32k rows); the batch operator
            # replaces Q driver-looped jobs with one partition-pruned
            # join (VERDICT r03 'Next round' #3)
            # best-of-2 like the gate section: the batch job is cheap
            # enough to repeat, and a single sample under tenancy
            # misstates the loop-vs-batch ratio by 2×
            walls = []
            for _ in range(2):
                t = time.monotonic()
                n_hit = total = 0
                got_b: dict[int, list[int]] = {}
                for r in ann_index_topk_batch(
                    spark, ann_path, queries, k=10, num_bits=ANN_BITS,
                    num_bands=ANN_BANDS, index_df=ann_df, score="matmul",
                ).collect():
                    got_b.setdefault(r["qid"], []).append(r["vec_id"])
                for qid in queries:
                    n_hit += len(set(got_b.get(qid, [])) & set(brute[qid]))
                    total += len(brute[qid])
                walls.append(round(time.monotonic() - t, 3))
            wall = min(walls)
            samples_log["bigann_queries_batch"] = walls
            timings["bigann_queries_batch"] = round(wall, 3)
            big_stats["ann_batch_query_ms"] = round(1000.0 * wall / len(queries), 1)
            big_stats["ann_batch_recall_at_10"] = round(n_hit / total, 4)
            big_stats["ann_batch_speedup_vs_loop"] = round(
                timings["bigann_queries"] / wall, 1
            )

            walls = []
            for _ in range(2):
                t = time.monotonic()
                n_hit = total = 0
                got_b = {}
                for r in ivf_index_topk_batch(
                    spark, ivf_path, cents, queries, k=10, nprobe=IVF_NPROBE,
                    index_df=ivf_df, score="matmul",
                ).collect():
                    got_b.setdefault(r["qid"], []).append(r["vec_id"])
                for qid in queries:
                    n_hit += len(set(got_b.get(qid, [])) & set(brute[qid]))
                    total += len(brute[qid])
                walls.append(round(time.monotonic() - t, 3))
            wall = min(walls)
            samples_log["bigivf_queries_batch"] = walls
            timings["bigivf_queries_batch"] = round(wall, 3)
            big_stats["ivf_batch_query_ms"] = round(1000.0 * wall / len(queries), 1)
            big_stats["ivf_batch_recall_at_10"] = round(n_hit / total, 4)
            big_stats["ivf_batch_speedup_vs_loop"] = round(
                timings["bigivf_queries"] / wall, 1
            )

            # ---- Lloyd refinement A/B (round 4): one refine iteration at
            # 1M × C=256 with the Arrow-matmul assignment (newly threaded
            # through the loop), plus sql-vs-matmul ASSIGN cost on a 1/32
            # slice — the SQL scorer at full 1M × C=256 would be ~100×
            # the matmul (the module's own per-element figure), so the
            # slice makes the ratio measurable inside the bench budget
            t = time.monotonic()
            ivf_centroids(emb, num_centroids=256, lloyd_iters=1, method="matmul")
            timings["bigivf_lloyd1_matmul"] = round(time.monotonic() - t, 3)

            from linkgraph.similarity import _assign_with_cents, plane_matrix  # noqa: F401

            slice_df = emb.filter(F.col("vec_id") % 32 == 0)
            n_slice = slice_df.count()
            seed_cents = ivf_centroids(emb, num_centroids=256, lloyd_iters=0)
            t = time.monotonic()
            _assign_with_cents(slice_df, seed_cents, "matmul", "vec_id", "embedding").count()
            mm = time.monotonic() - t
            t = time.monotonic()
            _assign_with_cents(slice_df, seed_cents, "sql", "vec_id", "embedding").count()
            sq = time.monotonic() - t
            big_stats["ivf_assign_slice_n"] = n_slice
            big_stats["ivf_assign_matmul_sec"] = round(mm, 3)
            big_stats["ivf_assign_sql_sec"] = round(sq, 3)
            big_stats["ivf_assign_sql_over_matmul"] = round(sq / mm, 1)

            # ---- semantic dedup at 1M × 256 (round 5, VERDICT r04 #4):
            # matmul IVF assignment into C=1024 cells (~1k vectors each on
            # the 64-cluster synthetic corpus) + one BLAS gram matrix per
            # cell + components + keep-list. min_sim=0.95 sits above the
            # within-cluster cosine (~0.92), so surviving pairs are the
            # genuinely near-identical tail, not whole clusters.
            t = time.monotonic()
            sd = semantic_dedup(
                emb,
                num_centroids=1024,
                min_sim=0.95,
                method="matmul",
                pair_method="matmul",
                max_cell_size=100_000,
            )
            n_keep = sd.filter(F.col("keep")).count()
            wall = time.monotonic() - t
            timings["bigsemdedup"] = round(wall, 3)
            big_stats["semdedup_vecs_per_sec"] = round(BIG_VECS / wall, 1)
            big_stats["semdedup_keep"] = n_keep
            big_stats["semdedup_config"] = "C=1024,min_sim=0.95"

            # ---- product quantization at 1M × 256 (round 5): compressed
            # code index (M=16 codes/vector — 256 floats → 16 small ints,
            # 64× smaller) + ALL queries served by one ADC scan of the
            # codes. Ground truth is exact L2 (PQ approximates L2; the
            # cosine truth the LSH/IVF cells use would misstate ADC
            # recall). Two serving modes: pure ADC (deliberately reported
            # — on this iid-uniform-noise corpus quantized distances
            # concentrate and within-cluster ranking is near-arbitrary,
            # a measured worst case, and Lloyd-trained codebooks were
            # A/B'd offline to move it only 0.58→0.62), and ADC + exact
            # re-rank of the top k·R shortlist (Jégou et al. IVFADC+R —
            # the same exact-candidate-scoring discipline as the LSH/IVF
            # cells), which is the configuration of record.
            from linkgraph.similarity import pq_index_topk_batch, write_pq_index

            # R=1600: the shortlist must cover the ~N/64 within-cluster candidate
            # set — this corpus's planted clusters carry i.i.d. noise BELOW the
            # M=16,K=256 quantization resolution, so ADC ranks are informative
            # only down to the cluster, and IVFADC+R (Jegou et al. SV) needs the
            # exact re-rank to sort inside it. Measured recall@10 at 1M x 256:
            # R=200 -> 0.36, R=800 -> 0.836, R=1600 -> 1.000 (162 ms/query).
            PQ_M, PQ_K, PQ_R = 16, 256, 1600
            pq_path = f"{scratch}/pq"
            t = time.monotonic()
            pq_seeds = write_pq_index(
                emb, pq_path, num_subspaces=PQ_M, codes_per_subspace=PQ_K,
                method="matmul",
            )
            wall = time.monotonic() - t
            timings["bigpq_index_build"] = round(wall, 3)
            big_stats["pq_index_build_vecs_per_sec"] = round(BIG_VECS / wall, 1)

            t = time.monotonic()
            brute_l2 = {}
            for r in brute_topk_many(emb, queries, k=10, metric="l2").collect():
                brute_l2.setdefault(r["qid"], []).append(r["vec_id"])
            timings["bigpq_brute_l2_pass"] = round(time.monotonic() - t, 3)

            def pq_recall(**kw):
                n_hit = total = 0
                got_b = {}
                for r in pq_index_topk_batch(
                    spark, pq_path, pq_seeds, queries, k=10,
                    num_subspaces=PQ_M, **kw,
                ).collect():
                    got_b.setdefault(r["query_id"], []).append(r["vec_id"])
                for qid in queries:
                    n_hit += len(set(got_b.get(qid, [])) & set(brute_l2[qid]))
                    total += len(brute_l2[qid])
                return n_hit / total

            t = time.monotonic()
            adc_recall = pq_recall()
            wall = time.monotonic() - t
            timings["bigpq_queries_adc"] = round(wall, 3)
            big_stats["pq_adc_query_ms"] = round(1000.0 * wall / len(queries), 1)
            big_stats["pq_adc_recall_at_10"] = round(adc_recall, 4)

            walls = []
            for _ in range(2):
                t = time.monotonic()
                rr_recall = pq_recall(
                    rerank_embeddings=emb, rerank_factor=PQ_R
                )
                walls.append(round(time.monotonic() - t, 3))
            wall = min(walls)
            samples_log["bigpq_queries_rerank"] = walls
            timings["bigpq_queries_rerank"] = round(wall, 3)
            big_stats["pq_rerank_query_ms"] = round(1000.0 * wall / len(queries), 1)
            big_stats["pq_rerank_recall_at_10"] = round(rr_recall, 4)
            big_stats["pq_config"] = f"M={PQ_M},K={PQ_K},R={PQ_R}"
            emb.unpersist()
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    # FULL record (samples, big-section stats, extras) goes to a sidecar
    # file: the driver captures only the LAST 2000 bytes of stdout and
    # parses the final JSON line out of that window — BENCH_r04's single
    # fat line outgrew the window and the round's numbers of record were
    # lost (`parsed: null`, VERDICT r04 'Next round' #1).
    detail = {
        "metric": "total kernel wall time (gate graph + 50M-edge Zipf graph)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "n_edges": n_edges,
        "n_vertices": g.num_vertices,
        "build_sec": round(build_sec, 3),
        "cpus": cpus,
        "big": {"vertices": BIG_V, "edges": BIG_E, **big_stats},
        # per-query back-to-back samples behind every min-of-3
        # number of record (gate + docs sections)
        "samples": samples_log,
        **extras,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_detail.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)

    # Compact FINAL line: per-query mins for the gate, big-graph and docs
    # sections + the headline throughputs/recalls, guaranteed to fit the
    # driver's 2000-byte tail whole. The 87-cell flat dict outgrew the
    # window, so the sections are nested with their prefixes stripped
    # ("big_pagerank10" → big.pagerank10, "bigdocs_tfidf" → docs.tfidf);
    # ANN per-cell walls live in the sidecar — their numbers of record are
    # the per-query-ms + recall headline stats, which ride the line.
    gate_q, big_q, docs_q = {}, {}, {}
    for k, v in timings.items():
        if k.startswith("bigdocs_"):
            docs_q[k[len("bigdocs_"):]] = round(v, 2)
        elif k.startswith("big"):  # big_* graph cells + bigann/bigivf/bigpq
            if k.startswith("big_"):
                big_q[k[len("big_"):]] = round(v, 2)
            # bigann_/bigivf_/bigpq_/bigsemdedup cells: sidecar only
        else:
            gate_q[k] = round(v, 2)
    compact = {
        "metric": "total kernel wall sec (gate+big+docs+ann)",
        "value": total,
        "unit": "sec",
        "queries": gate_q,
        "big": big_q,
        "docs": docs_q,
        "sf": sf_dir,
        "cpus": cpus,
        "pr_edges_per_sec_per_iter": extras.get("pr_edges_per_sec_per_iter"),
        "big_pr_edges_per_sec": big_stats.get("pagerank10_edges_per_sec"),
        "ann_batch_ms": big_stats.get("ann_batch_query_ms"),
        "ivf_batch_ms": big_stats.get("ivf_batch_query_ms"),
        "pq_rerank_ms": big_stats.get("pq_rerank_query_ms"),
        "ann_batch_recall_at_10": big_stats.get("ann_batch_recall_at_10"),
        "ivf_batch_recall_at_10": big_stats.get("ivf_batch_recall_at_10"),
        "pq_rerank_recall_at_10": big_stats.get("pq_rerank_recall_at_10"),
        "semdedup_sec": timings.get("bigsemdedup"),
        "detail": "bench_detail.json",
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:  # defensive: re-round, then shed docs cells first
        for sec in ("queries", "big", "docs"):
            compact[sec] = {k: round(v, 1) for k, v in compact[sec].items()}
        line = json.dumps(compact, separators=(",", ":"))
        dropped = 0
        keys = list(compact["docs"]) + list(compact["big"])
        while len(line) > 1900 and keys:
            k = keys.pop()
            compact["docs"].pop(k, None) or compact["big"].pop(k, None)
            dropped += 1
            compact["sections_dropped"] = dropped
            line = json.dumps(compact, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
