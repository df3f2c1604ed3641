"""spark-submit entrypoint — the engine's CLI (the reference's random.c
argument surface, S5 in SURVEY.md §2.1, re-expressed).

    spark-submit --py-files linkgraph.zip driver.py \
        --algo pagerank --source /path/to/source_table.parquet \
        --checkpoint-root /data/ckpt --run-id run1 --output /data/out

``--source`` is the source-code table (repo, path, commit, lang, content)
as an Iceberg table name (``cat.db.repos``) or a parquet path; edges are
derived via the Arrow-UDF extractor. ``--edges`` skips extraction and
reads an edge table directly. The graph path reads ``--source``,
``--edges`` and ``--init-ranks`` and writes ``--output`` through
linkgraph.sources, so each accepts either form.
Relaunching with the same --checkpoint-root/--run-id resumes mid-algorithm
from the highest committed iteration.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import SparkSession

from linkgraph.graph import Graph
from linkgraph.ingest import extract_edges
from linkgraph.operators import (
    bfs,
    label_propagation,
    pagerank,
    spmv,
    sssp,
    triangle_count,
    wcc,
)
from linkgraph.runner import CheckpointStore
from linkgraph.sources import load_bucketed_graph, load_table, write_table

ALGOS = (
    "pagerank",
    "wcc",
    "labelprop",
    "triangles",
    "bfs",
    "sssp",
    "spmv",
    "kcore",
    "coreness",
    "onion",
    "landmarks",
    "powerlaw",
    "ktruss",
    "mis",
    "matching",
    "walks",
    "node2vec",
    "coloring",
    "densest",
    "katz",
    "eigcent",
    "salsa",
    "cocitation",
    "coupling",
    "bowtie",
    "louvain",
    "msf",
    "rmat",
    "rectangles",
    "diameter",
    "condensation",
    "dag_layers",
    "community_graph",
    "rich_club",
    "ego_network",
    "spam_mass",
    "ppr_sweep",
    "simrank",
    "backbone",
)
# training-data pipeline stages over a documents table (--docs input)
DOC_ALGOS = (
    "dedup",
    "dedup_clusters",
    "token_stats",
    "vocab_stats",
    "novelty",
    "fingerprints",
    "language_id",
    "minhash_pairs",
    "quality_filter",
    "sample",
    "stratified_sample",
    "despan",
    "para_dedup",
    "quantile_buckets",
    "pii_scrub",
    "tfidf",
    "lm_score",
    "chunks",
    "pack",
    "pmi",
    "dsir",
    "bpe",
    "quality_clf",
)
# event-stream analytics over an events table (--events input)
EVENT_ALGOS = (
    "sessionize", "rollup", "funnel", "retention", "transitions",
    "anomalies", "active_users", "props_rollup",
)
# ANN index builds over an embeddings table (--embeddings input), plus
# batch query serving against a written index (--embeddings = the QUERY
# table, --index = the built index path)
ANN_ALGOS = (
    "ann_index", "ivf_index", "ann_query", "ivf_query", "semantic_dedup",
    "pq_index", "pq_query", "knn_classify",
)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="linkgraph driver")
    p.add_argument(
        "--algo", required=True, choices=ALGOS + DOC_ALGOS + ANN_ALGOS + EVENT_ALGOS
    )
    # not required at parse time: rmat is a pure generator with no input
    # table; every other algo family re-checks its own input in main()
    src = p.add_mutually_exclusive_group(required=False)
    src.add_argument("--source", help="source-code table, Iceberg name or parquet path "
                                      "(repo,path,commit,lang,content)")
    src.add_argument("--edges", help="pre-built edge table, Iceberg name or parquet path "
                                     "(src,dst[,weight])")
    src.add_argument("--bucketed-table",
                     help="catalog table written by save_bucketed_edges: opens the "
                          "graph WITHOUT the build-time repartition (the bucket "
                          "spec provides the co-located layout)")
    p.add_argument("--bucketed-path",
                   help="data location of --bucketed-table, used with "
                        "--num-partitions (= the written bucket count) to "
                        "re-register the table when no persistent metastore "
                        "carries its spec across sessions")
    src.add_argument("--docs", help="documents table path (doc_id,text,...) for doc algos")
    src.add_argument(
        "--embeddings", help="embeddings table path (vec_id,embedding) for ANN index builds"
    )
    src.add_argument(
        "--events", help="events table path (event_id,ts,user_id,event_type,value) for event algos"
    )
    p.add_argument("--max-bucket-size", type=int, default=10_000,
                   help="minhash LSH bucket cap (0 = uncapped)")
    p.add_argument("--num-bits", type=int, default=8, help="LSH bits per band")
    p.add_argument("--num-bands", type=int, default=1, help="LSH OR-amplification bands")
    p.add_argument("--num-centroids", type=int, default=16, help="IVF centroid count")
    p.add_argument("--sample-rate", type=float, default=0.1,
                   help="deterministic hash-sample keep rate for --algo sample; "
                        "the default rate for --algo stratified_sample")
    p.add_argument("--rates", default="",
                   help="per-stratum rates for --algo stratified_sample, "
                        "e.g. 'en=0.5,de=0.25' (strata_col: --strata-col)")
    p.add_argument("--strata-col", default="lang")
    p.add_argument("--top-terms", type=int, default=5, help="terms/doc for --algo tfidf")
    p.add_argument("--score-col", default="n_chars",
                   help="score column for --algo quantile_buckets")
    p.add_argument("--buckets", type=int, default=10,
                   help="quantile count for --algo quantile_buckets")
    p.add_argument("--chunk-tokens", type=int, default=512, help="--algo chunks size")
    p.add_argument("--chunk-overlap", type=int, default=0, help="--algo chunks overlap")
    p.add_argument("--window-tokens", type=int, default=2048, help="--algo pack window")
    p.add_argument("--min-count", type=int, default=5, help="--algo pmi bigram floor")
    p.add_argument("--rmat-scale", type=int, default=20, help="--algo rmat: 2^scale vertices")
    p.add_argument("--rmat-edges", type=int, default=1 << 24, help="--algo rmat: edge count")
    p.add_argument("--rmat-seed", type=int, default=42, help="--algo rmat: draw seed")
    p.add_argument("--target-predicate", default="lang = 'en'",
                   help="--algo dsir target slice (SQL boolean over documents)")
    p.add_argument("--keep", type=int, default=1000, help="--algo dsir kept docs")
    p.add_argument("--dsir-buckets", type=int, default=4096,
                   help="--algo dsir hashed-feature buckets")
    p.add_argument("--merges", type=int, default=8, help="--algo bpe merge rules")
    p.add_argument("--gd-steps", type=int, default=3,
                   help="--algo quality_clf full-batch GD steps")
    p.add_argument("--steps", default="view,click,purchase",
                   help="comma-separated event_type sequence for --algo funnel")
    p.add_argument("--within-seconds", type=int, default=3600,
                   help="per-transition funnel window (0 = unbounded)")
    p.add_argument("--gap-seconds", type=int, default=1800,
                   help="session gap for --algo sessionize")
    p.add_argument("--bucket", default="hour", help="--algo rollup time bucket")
    p.add_argument("--period", default="week",
                   help="--algo retention cohort period (hour/day/week)")
    p.add_argument("--min-span-len", type=int, default=50,
                   help="minimum repeated-span length (chars) for --algo despan")
    p.add_argument("--walk-length", type=int, default=4,
                   help="hops for walks/node2vec and --algo ego_network")
    p.add_argument("--walks-per-vertex", type=int, default=1)
    p.add_argument("--p", type=float, default=2.0, help="node2vec return bias")
    p.add_argument("--q", type=float, default=0.5, help="node2vec in-out bias")
    p.add_argument("--min-sim", type=float, default=0.95,
                   help="cosine threshold for --algo semantic_dedup")
    p.add_argument("--max-cell-size", type=int, default=100_000,
                   help="semantic_dedup IVF cell cap (0 = uncapped)")
    p.add_argument("--index", help="written ANN/IVF index path for *_query algos")
    p.add_argument("--topk", type=int, default=10, help="neighbors per query for *_query algos")
    p.add_argument("--nprobe", type=int, default=2, help="probed cells for --algo ivf_query")
    p.add_argument("--num-subspaces", type=int, default=8,
                   help="PQ subspaces (M) for pq_index/pq_query")
    p.add_argument("--codes-per-subspace", type=int, default=16,
                   help="PQ codebook size (K) for pq_index/pq_query")
    p.add_argument("--rerank-factor", type=int, default=0,
                   help="pq_query: re-rank the ADC top k*R shortlist with "
                        "exact L2 against --rerank-embeddings (0 = pure ADC)")
    p.add_argument("--rerank-embeddings",
                   help="pq_query: full-precision vector table for --rerank-factor")
    p.add_argument("--output", required=True, help="result table path")
    p.add_argument("--checkpoint-root", help="durable per-iteration state root (enables resume)")
    p.add_argument("--run-id", default="run0")
    p.add_argument("--iterations", type=int, default=10)
    p.add_argument("--tol", type=float, default=None, help="PageRank convergence threshold")
    p.add_argument("--root-vertex", type=int, default=0,
                   help="BFS/SSSP root; ppr_sweep seed; ego_network seed")
    p.add_argument("--trusted", default="0,1,2,3",
                   help="--algo spam_mass trusted seed ids (comma-separated)")
    p.add_argument("--sweep-k", type=int, default=64,
                   help="--algo ppr_sweep prefix frame size")
    p.add_argument("--window-buckets", type=int, default=24,
                   help="--algo active_users trailing window size")
    p.add_argument("--anomaly-top-k", type=int, default=20,
                   help="--algo anomalies rows kept by |z|")
    p.add_argument("--init-ranks", default=None,
                   help="--algo pagerank warm-start state (id, rank), Iceberg "
                        "name or parquet path")
    p.add_argument("--props-field", default="k",
                   help="--algo props_rollup JSON property name")
    p.add_argument("--query-ids", default="0",
                   help="--algo knn_classify comma-separated query vec_ids")
    p.add_argument("--k", type=int, default=3, help="k for --algo kcore")
    p.add_argument("--num-partitions", type=int, default=None)
    p.add_argument("--num-vertices", type=int, default=None)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    spark = SparkSession.builder.appName(f"linkgraph-{args.algo}").getOrCreate()

    if args.algo in DOC_ALGOS:
        if not args.docs:
            print("doc algos require --docs", file=sys.stderr)
            return 2
        return _run_doc_algo(spark, args)

    if args.algo in ANN_ALGOS:
        if not args.embeddings:
            print("ANN index builds require --embeddings", file=sys.stderr)
            return 2
        return _run_ann_index(spark, args)

    if args.algo == "rmat":
        from linkgraph.generate import rmat_edges

        t0 = time.monotonic()
        out = rmat_edges(
            spark, scale=args.rmat_scale, n_edges=args.rmat_edges, seed=args.rmat_seed
        )
        out.write.mode("overwrite").parquet(args.output)
        print(
            json.dumps(
                {
                    "algo": "rmat",
                    "scale": args.rmat_scale,
                    "n_edges": args.rmat_edges,
                    "wall_sec": round(time.monotonic() - t0, 3),
                    "output": args.output,
                }
            )
        )
        return 0

    if args.algo in EVENT_ALGOS:
        if not args.events:
            print("event algos require --events", file=sys.stderr)
            return 2
        return _run_event_algo(spark, args)

    if not (args.source or args.edges or args.bucketed_table):
        print(
            f"graph algo {args.algo!r} requires --source, --edges or --bucketed-table "
            f"(--docs is only for {', '.join(DOC_ALGOS)}; "
            f"--embeddings only for {', '.join(ANN_ALGOS)})",
            file=sys.stderr,
        )
        return 2

    if args.bucketed_table:
        g = load_bucketed_graph(
            spark,
            args.bucketed_table,
            num_vertices=args.num_vertices,
            path=args.bucketed_path,
            num_buckets=args.num_partitions,
        )
    else:
        if args.source:
            source = load_table(spark, args.source)
            edges, ids = extract_edges(source, dedupe=True, drop_self=True)
            n = args.num_vertices or ids.count()
        else:
            edges = load_table(spark, args.edges)
            n = args.num_vertices
        g = Graph.from_edges(
            spark, edges, num_vertices=n, num_partitions=args.num_partitions
        )

    store = None
    if args.checkpoint_root:
        store = CheckpointStore(spark, args.checkpoint_root, args.algo, args.run_id)

    t0 = time.monotonic()
    if args.algo == "pagerank":
        # --init-ranks: warm-start from a prior run's (id, rank) table —
        # the delta-crawl re-rank path (fixpoint is init-independent)
        init_state = load_table(spark, args.init_ranks) if args.init_ranks else None
        result = pagerank(
            g, iterations=args.iterations, tol=args.tol, store=store,
            init_state=init_state,
        )
    elif args.algo == "wcc":
        result = wcc(g, store=store)
    elif args.algo == "labelprop":
        result = label_propagation(g, iterations=args.iterations, store=store)
    elif args.algo == "triangles":
        result = triangle_count(g)  # single job — nothing to resume
    elif args.algo == "bfs":
        result = bfs(g, root=args.root_vertex, store=store)
    elif args.algo == "sssp":
        result = sssp(g, root=args.root_vertex, store=store)
    elif args.algo == "kcore":
        from linkgraph.operators import k_core

        result = k_core(g, k=args.k)
    elif args.algo == "coreness":
        from linkgraph.operators import coreness

        result = coreness(g)
    elif args.algo == "onion":
        from linkgraph.operators import onion_decomposition

        result = onion_decomposition(g)
    elif args.algo == "landmarks":
        from linkgraph.operators import landmark_distances

        result = landmark_distances(g, num_landmarks=8, max_depth=16)
    elif args.algo == "ktruss":
        from linkgraph.operators import k_truss

        result = k_truss(g, k=max(args.k, 2))
    elif args.algo == "mis":
        from linkgraph.operators import maximal_independent_set

        result = maximal_independent_set(g)
    elif args.algo == "matching":
        from linkgraph.operators import maximal_matching

        result = maximal_matching(g)
    elif args.algo == "walks":
        from linkgraph.operators import random_walks

        result = random_walks(
            g, walk_length=args.walk_length, walks_per_vertex=args.walks_per_vertex
        )
    elif args.algo == "node2vec":
        from linkgraph.operators import node2vec_walks

        result = node2vec_walks(
            g,
            walk_length=args.walk_length,
            walks_per_vertex=args.walks_per_vertex,
            p=args.p,
            q=args.q,
        )
    elif args.algo == "coloring":
        from linkgraph.operators import graph_coloring

        result = graph_coloring(g)
    elif args.algo == "densest":
        from linkgraph.operators import densest_subgraph

        result = densest_subgraph(g)
    elif args.algo == "katz":
        from linkgraph.operators import katz

        result = katz(g, iterations=args.iterations)
    elif args.algo == "eigcent":
        from linkgraph.operators import eigenvector_centrality

        result = eigenvector_centrality(g, iterations=args.iterations)
    elif args.algo == "salsa":
        from linkgraph.operators import salsa

        result = salsa(g, iterations=args.iterations)
    elif args.algo == "cocitation":
        from linkgraph.operators import cocitation

        result = cocitation(g, top_k=args.k)
    elif args.algo == "coupling":
        from linkgraph.operators import bibliographic_coupling

        result = bibliographic_coupling(g, top_k=args.k)
    elif args.algo == "bowtie":
        from linkgraph.operators import bowtie_census

        result = bowtie_census(g)
    elif args.algo == "louvain":
        from linkgraph.operators import louvain_move

        result = louvain_move(g, rounds=args.iterations, store=store)
    elif args.algo == "msf":
        from linkgraph.operators import minimum_spanning_forest

        result = minimum_spanning_forest(g, store=store)
    elif args.algo == "rectangles":
        from linkgraph.operators.triangles import rectangle_count

        result = rectangle_count(g)
    elif args.algo == "diameter":
        from linkgraph.operators import diameter_lower_bound

        result = diameter_lower_bound(g, root=args.root_vertex)
    elif args.algo == "condensation":
        from linkgraph.operators.scc import condensation

        result = condensation(g)
    elif args.algo == "dag_layers":
        from linkgraph.operators.scc import dag_layers

        result = dag_layers(g)
    elif args.algo == "community_graph":
        from linkgraph.operators import community_graph, label_propagation

        result = community_graph(g, label_propagation(g, iterations=args.iterations))
    elif args.algo == "powerlaw":
        from linkgraph.operators import degree_powerlaw

        result = degree_powerlaw(g)
    elif args.algo == "rich_club":
        from linkgraph.operators import rich_club

        result = rich_club(g, k=args.k)
    elif args.algo == "ego_network":
        from linkgraph.operators import ego_network

        result = ego_network(
            g, seeds=[args.root_vertex], hops=args.walk_length
        )
    elif args.algo == "spam_mass":
        from linkgraph.operators.pagerank import spam_mass

        trusted = [int(s) for s in args.trusted.split(",") if s.strip()]
        result = spam_mass(g, trusted=trusted, iterations=args.iterations)
    elif args.algo == "ppr_sweep":
        from linkgraph.operators.localcluster import ppr_sweep

        result = ppr_sweep(
            g, source=args.root_vertex, iterations=args.iterations,
            k=args.sweep_k,
        )
    elif args.algo == "simrank":
        from linkgraph.operators import simrank

        # production defaults: eps floor + p99-ish hub cap keep the pair
        # state sparse (the exact gate config is oracle-parity only)
        result = simrank(
            g, iterations=args.iterations, top_k=args.sweep_k,
            eps=1e-4, max_out_degree=256,
        )
    elif args.algo == "backbone":
        from linkgraph.operators import disparity_backbone

        result = disparity_backbone(g, alpha=0.05)
    else:
        result = spmv(g)  # single join-agg pass — nothing to resume

    write_table(result, args.output)
    wall = time.monotonic() - t0
    n_edges = g.edges.count()
    print(
        json.dumps(
            {
                "algo": args.algo,
                "run_id": args.run_id,
                "wall_sec": round(wall, 3),
                "n_vertices": g.num_vertices,
                "n_edges": n_edges,
                "output": args.output,
            }
        )
    )
    spark.stop()
    return 0


def _run_doc_algo(spark: SparkSession, args) -> int:
    """Training-data pipeline stages, launchable via the same
    spark-submit surface as the graph kernels. ``dedup_clusters``
    honors --checkpoint-root/--run-id (durable multi-stage resume);
    ``minhash_pairs`` also writes the dropped-buckets audit trail to
    ``<output>_dropped_buckets`` so capped coverage is never silent."""
    from linkgraph import docs as docmod

    documents = spark.read.parquet(args.docs)
    cap = args.max_bucket_size if args.max_bucket_size > 0 else None
    extra: dict = {}
    t0 = time.monotonic()
    if args.algo == "dedup":
        result = docmod.exact_dedup(documents, by_hash=True)
    elif args.algo == "dedup_clusters":
        store = None
        if args.checkpoint_root:
            store = CheckpointStore(
                spark, args.checkpoint_root, args.algo, args.run_id
            )
        result = docmod.dedup_clusters(documents, max_bucket_size=cap, store=store)
    elif args.algo == "minhash_pairs":
        result = docmod.minhash_candidate_pairs(documents, max_bucket_size=cap)
        audit = docmod.minhash_dropped_buckets(documents, max_bucket_size=cap)
        audit_path = args.output.rstrip("/") + "_dropped_buckets"
        audit.write.mode("overwrite").parquet(audit_path)
        extra["dropped_buckets_output"] = audit_path
        extra["dropped_buckets"] = spark.read.parquet(audit_path).count()
    elif args.algo == "token_stats":
        result = docmod.token_stats(documents)
    elif args.algo == "vocab_stats":
        result = docmod.vocab_stats(documents)
    elif args.algo == "novelty":
        result = docmod.ngram_novelty(documents, k=args.k)
    elif args.algo == "quality_filter":
        result = docmod.quality_filter(documents)
    elif args.algo == "sample":
        result = docmod.sample_documents(documents, rate=args.sample_rate)
    elif args.algo == "stratified_sample":
        rates = {}
        for part in filter(None, args.rates.split(",")):
            k, _, v = part.partition("=")
            rates[k.strip()] = float(v)
        result = docmod.stratified_sample(
            documents,
            rates,
            strata_col=args.strata_col,
            default_rate=args.sample_rate,
        )
    elif args.algo == "fingerprints":
        result = docmod.fingerprints(documents)
    elif args.algo == "despan":
        result = docmod.remove_repeated_spans(documents, min_len=args.min_span_len)
    elif args.algo == "para_dedup":
        result = docmod.paragraph_dedup(documents)
    elif args.algo == "quantile_buckets":
        result = docmod.quantile_buckets(
            documents, score_col=args.score_col, buckets=args.buckets
        )
    elif args.algo == "pii_scrub":
        result = docmod.pii_scrub(documents)
    elif args.algo == "tfidf":
        result = docmod.tf_idf_top_terms(documents, top_k=args.top_terms)
    elif args.algo == "lm_score":
        result = docmod.lm_cross_entropy(documents)
    elif args.algo == "chunks":
        result = docmod.chunk_documents(
            documents, chunk_tokens=args.chunk_tokens, overlap=args.chunk_overlap
        )
    elif args.algo == "pack":
        result = docmod.pack_windows(documents, window_tokens=args.window_tokens)
    elif args.algo == "pmi":
        result = docmod.pmi_collocations(
            documents, min_count=args.min_count, top_k=args.top_terms
        )
    elif args.algo == "dsir":
        result = docmod.dsir_resample(
            documents, args.target_predicate, keep=args.keep, buckets=args.dsir_buckets
        )
    elif args.algo == "bpe":
        result = docmod.bpe_train(documents, merges=args.merges)
    elif args.algo == "quality_clf":
        result = docmod.quality_classifier(
            documents,
            args.target_predicate,
            steps=args.gd_steps,
            buckets=args.dsir_buckets,
        )
    else:
        result = docmod.language_id(documents)
    result.write.mode("overwrite").parquet(args.output)
    wall = time.monotonic() - t0
    print(
        json.dumps(
            {
                "algo": args.algo,
                "run_id": args.run_id,
                "wall_sec": round(wall, 3),
                "n_docs": documents.count(),
                "output": args.output,
                **extra,
            }
        )
    )
    spark.stop()
    return 0


def _run_event_algo(spark: SparkSession, args) -> int:
    """Batch event-stream analytics (linkgraph.events) through the same
    spark-submit surface."""
    from linkgraph import events as evmod

    events = spark.read.parquet(args.events)
    t0 = time.monotonic()
    if args.algo == "sessionize":
        result = evmod.sessionize(events, gap_seconds=args.gap_seconds)
    elif args.algo == "rollup":
        result = evmod.rollup(events, bucket=args.bucket)
    elif args.algo == "retention":
        result = evmod.retention(events, period=args.period)
    elif args.algo == "transitions":
        result = evmod.transitions(events)
    elif args.algo == "anomalies":
        result = evmod.anomalies(
            events, bucket=args.bucket, top_k=args.anomaly_top_k
        )
    elif args.algo == "active_users":
        result = evmod.active_users(
            events, bucket=args.bucket, window_buckets=args.window_buckets
        )
    elif args.algo == "props_rollup":
        result = evmod.props_rollup(events, field=args.props_field)
    else:
        steps = [s.strip() for s in args.steps.split(",") if s.strip()]
        within = args.within_seconds if args.within_seconds > 0 else None
        result = evmod.funnel(events, steps=steps, within_seconds=within)
    result.write.mode("overwrite").parquet(args.output)
    wall = time.monotonic() - t0
    print(
        json.dumps(
            {
                "algo": args.algo,
                "run_id": args.run_id,
                "wall_sec": round(wall, 3),
                "n_events": events.count(),
                "output": args.output,
            }
        )
    )
    spark.stop()
    return 0


def _run_ann_index(spark: SparkSession, args) -> int:
    """Persisted ANN index builds ((band,bucket)- or cell-partitioned
    parquet, partition-pruned at query time) through the CLI surface."""
    from linkgraph import similarity

    embeddings = spark.read.parquet(args.embeddings)
    t0 = time.monotonic()
    extra: dict = {}
    if args.algo in ("ann_query", "ivf_query"):
        # batch serving: --embeddings is the QUERY table (bounded — it is
        # collected driver-side to route buckets/probes), --index the
        # written index; all queries answered in ONE partition-pruned job
        if not args.index:
            print(f"{args.algo} requires --index", file=sys.stderr)
            return 2
        queries = {
            int(r["vec_id"]): list(r["embedding"]) for r in embeddings.collect()
        }
        if args.algo == "ann_query":
            result = similarity.ann_index_topk_batch(
                spark, args.index, queries, k=args.topk,
                num_bits=args.num_bits, num_bands=args.num_bands,
            )
        else:
            cents = similarity.read_ivf_centroids(spark, args.index)
            result = similarity.ivf_index_topk_batch(
                spark, args.index, cents, queries, k=args.topk, nprobe=args.nprobe
            )
        result.write.mode("overwrite").parquet(args.output)
        extra["n_queries"] = len(queries)
    elif args.algo == "knn_classify":
        # brute-force majority-vote classification over the labeled
        # embeddings table; --query-ids picks the rows to classify
        qids = [int(q) for q in args.query_ids.split(",") if q.strip()]
        result = similarity.knn_classify(embeddings, query_ids=qids, k=args.topk)
        result.write.mode("overwrite").parquet(args.output)
        extra["n_queries"] = len(qids)
    elif args.algo == "semantic_dedup":
        # embedding-space keep-list; honors --checkpoint-root/--run-id
        # (durable multi-stage resume) and writes the dropped-cells audit
        # beside the result so a capped run is never silently partial
        store = None
        if args.checkpoint_root:
            store = CheckpointStore(
                spark, args.checkpoint_root, args.algo, args.run_id
            )
        cell_cap = args.max_cell_size if args.max_cell_size > 0 else None
        result = similarity.semantic_dedup(
            embeddings,
            num_centroids=args.num_centroids,
            min_sim=args.min_sim,
            method="matmul",
            pair_method="matmul",
            max_cell_size=cell_cap,
            store=store,
        )
        result.write.mode("overwrite").parquet(args.output)
        audit = similarity.semantic_dedup_dropped_cells(
            embeddings,
            num_centroids=args.num_centroids,
            max_cell_size=cell_cap,
            method="matmul",
        )
        audit_path = args.output.rstrip("/") + "_dropped_cells"
        audit.write.mode("overwrite").parquet(audit_path)
        extra["dropped_cells_output"] = audit_path
        extra["dropped_cells"] = spark.read.parquet(audit_path).count()
    elif args.algo == "pq_query":
        # --embeddings = the QUERY table; --index = the code table
        # written by pq_index: all queries answered in ONE scan of the
        # compressed codes (ADC lookup tables broadcast)
        if not args.index:
            print("pq_query requires --index", file=sys.stderr)
            return 2
        queries = {
            int(r["vec_id"]): list(r["embedding"]) for r in embeddings.collect()
        }
        seeds = similarity.read_pq_seeds(spark, args.index)
        rr_kw = {}
        if args.rerank_factor > 0:
            if not args.rerank_embeddings:
                print("--rerank-factor requires --rerank-embeddings",
                      file=sys.stderr)
                return 2
            rr_kw = dict(
                rerank_embeddings=spark.read.parquet(args.rerank_embeddings),
                rerank_factor=args.rerank_factor,
            )
        result = similarity.pq_index_topk_batch(
            spark, args.index, seeds, queries, k=args.topk,
            num_subspaces=args.num_subspaces, **rr_kw,
        )
        result.write.mode("overwrite").parquet(args.output)
        extra["n_queries"] = len(queries)
        extra["rerank_factor"] = args.rerank_factor
    elif args.algo == "pq_index":
        seeds = similarity.write_pq_index(
            embeddings,
            args.output,
            num_subspaces=args.num_subspaces,
            codes_per_subspace=args.codes_per_subspace,
        )
        extra["codebook_rows"] = int(seeds.shape[0])
    elif args.algo == "ann_index":
        similarity.write_ann_index(
            embeddings,
            args.output,
            num_bits=args.num_bits,
            num_bands=args.num_bands,
        )
    else:
        cents = similarity.write_ivf_index(
            embeddings, args.output, num_centroids=args.num_centroids
        )
        extra["num_centroids"] = len(cents)
    wall = time.monotonic() - t0
    print(
        json.dumps(
            {
                "algo": args.algo,
                "run_id": args.run_id,
                "wall_sec": round(wall, 3),
                "n_vectors": embeddings.count(),
                "output": args.output,
                **extra,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
