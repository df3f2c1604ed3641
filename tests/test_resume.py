"""Checkpoint/resume: kill after iteration k, relaunch, identical result
(north rule), plus per-partition lineage metrics and crash-tolerance."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from linkgraph.operators import label_propagation, louvain_move, pagerank, wcc
from linkgraph.runner import CheckpointStore

from tests.conftest import bridge_edges, chain_edges, make_graph, zipf_edges


def _arr(df, col, n):
    out = np.zeros(n)
    for row in df.collect():
        out[row["id"]] = row[col]
    return out


def test_pagerank_resume_identical(spark, tmp_path):
    edges, n = zipf_edges(n=300, m=2000)
    g = make_graph(spark, edges, n)
    root = str(tmp_path / "ckpt")

    # uninterrupted store-backed run (the comparable execution path: float
    # aggregation order depends on the state DataFrame's physical layout,
    # so bit-identity is asserted within the store path, and 1e-12
    # agreement against the in-memory checkpointer path)
    full = CheckpointStore(spark, root, "pagerank", "runFull")
    want = _arr(pagerank(g, iterations=10, store=full), "rank", n)

    # interrupted run: 4 iterations, then "crash", then relaunch to 10
    store = CheckpointStore(spark, root, "pagerank", "runA")
    pagerank(g, iterations=4, store=store)
    assert store.latest_iteration() == 4
    got = _arr(pagerank(g, iterations=10, store=store), "rank", n)

    assert np.array_equal(got, want)  # bit-identical within the store path
    mem = _arr(pagerank(g, iterations=10), "rank", n)
    assert np.allclose(got, mem, atol=1e-12)
    g.unpersist()


def test_resume_skips_completed_iterations(spark, tmp_path):
    edges, n = bridge_edges()
    g = make_graph(spark, edges, n)
    store = CheckpointStore(spark, str(tmp_path / "c2"), "pagerank", "runB")
    pagerank(g, iterations=5, store=store)
    # relaunch asking for the same 5: must return stored state, write nothing new
    before = store.latest_iteration()
    pagerank(g, iterations=5, store=store)
    assert store.latest_iteration() == before == 5
    g.unpersist()


def test_partial_write_is_invisible(spark, tmp_path):
    edges, n = bridge_edges()
    g = make_graph(spark, edges, n)
    root = str(tmp_path / "c3")
    store = CheckpointStore(spark, root, "pagerank", "runC")
    pagerank(g, iterations=3, store=store)
    # simulate a crash mid-write of iteration 4: directory without _SUCCESS
    fake = os.path.join(root, "pagerank", "runC", "iter_00004")
    os.makedirs(fake)
    with open(os.path.join(fake, "part-00000.parquet"), "wb") as f:
        f.write(b"garbage")
    assert store.latest_iteration() == 3  # uncommitted iteration ignored
    got = pagerank(g, iterations=6, store=store)  # resumes at 3, overwrites 4
    want = pagerank(g, iterations=6, unroll=1)
    # cross-checkpointer-path comparison: same math, float order may differ
    assert np.allclose(_arr(got, "rank", n), _arr(want, "rank", n), atol=1e-12)
    g.unpersist()


def test_lineage_metrics(spark, tmp_path):
    edges, n = bridge_edges()
    g = make_graph(spark, edges, n)
    store = CheckpointStore(spark, str(tmp_path / "c4"), "pagerank", "runD")
    pagerank(g, iterations=3, store=store)
    m = store.metrics()
    assert set(m.columns) == {"algo", "run_id", "iteration", "partition_id", "rows", "wall_ms"}
    per_iter = {
        row["iteration"]: row["total"]
        for row in m.groupBy("iteration").agg(F.sum("rows").alias("total")).collect()
    }
    assert set(per_iter) == {0, 1, 2, 3}
    assert all(v == n for v in per_iter.values())  # full vertex set each iter
    assert m.filter(F.col("wall_ms") <= 0).count() == 0
    g.unpersist()


def test_wcc_resume_identical(spark, tmp_path):
    edges, n = zipf_edges(n=300, m=600)  # sparse → several rounds
    g = make_graph(spark, edges, n)
    want = _arr(wcc(g), "comp", n)
    store = CheckpointStore(spark, str(tmp_path / "c5"), "wcc", "runE")
    # "crash" after 2 rounds (require_convergence off: partial state is the point)
    wcc(g, max_iterations=2, store=store, require_convergence=False)
    got = _arr(wcc(g, store=store), "comp", n)
    assert np.array_equal(got, want)
    # resuming a CONVERGED run returns immediately with the same state
    got2 = _arr(wcc(g, store=store), "comp", n)
    assert np.array_equal(got2, want)
    g.unpersist()


def test_bfs_sssp_labelprop_resume(spark, tmp_path):
    from linkgraph.operators import bfs, label_propagation, sssp

    edges, n = zipf_edges(n=300, m=900)
    g = make_graph(spark, edges, n)
    root = int(edges[0, 0])

    want_bfs = {(r["id"], r["dist"]) for r in bfs(g, root).collect()}
    sb = CheckpointStore(spark, str(tmp_path / "b"), "bfs", "r1")
    bfs(g, root, max_iterations=2, store=sb)          # "crash" after level 2
    got_bfs = {(r["id"], r["dist"]) for r in bfs(g, root, store=sb).collect()}
    assert got_bfs == want_bfs

    want_sssp = {(r["id"], r["dist"]) for r in sssp(g, root).collect()}
    ss = CheckpointStore(spark, str(tmp_path / "s"), "sssp", "r1")
    sssp(g, root, max_iterations=2, store=ss)
    got_sssp = {(r["id"], r["dist"]) for r in sssp(g, root, store=ss).collect()}
    assert got_sssp == want_sssp
    # resuming a finished run returns immediately with the same state
    again = {(r["id"], r["dist"]) for r in sssp(g, root, store=ss).collect()}
    assert again == want_sssp

    want_lp = {(r["id"], r["label"]) for r in label_propagation(g, iterations=6).collect()}
    sl = CheckpointStore(spark, str(tmp_path / "l"), "labelprop", "r1")
    label_propagation(g, iterations=2, store=sl)
    got_lp = {
        (r["id"], r["label"])
        for r in label_propagation(g, iterations=6, store=sl).collect()
    }
    assert got_lp == want_lp
    g.unpersist()


# (fixed-round or bounded operator, its round-count argument, state columns)
_CLAMP_RUNS = {
    "pagerank": (lambda g, k, st: pagerank(g, iterations=k, store=st), ("id", "rank")),
    "labelprop": (
        lambda g, k, st: label_propagation(g, iterations=k, store=st),
        ("id", "label"),
    ),
    "louvain": (lambda g, k, st: louvain_move(g, rounds=k, store=st), ("id", "comm")),
    "wcc": (
        lambda g, k, st: wcc(g, max_iterations=k, store=st, require_convergence=False),
        ("id", "comp"),
    ),
}


@pytest.mark.parametrize("algo", sorted(_CLAMP_RUNS))
def test_resume_clamps_to_requested_rounds(spark, tmp_path, algo):
    """A store holding MORE committed rounds than a relaunch asks for
    answers with exactly the requested round's state — not the
    over-iterated one — and commits nothing new."""
    run, cols = _CLAMP_RUNS[algo]
    e, n = chain_edges(16)  # state keeps changing for ~15 rounds
    g = make_graph(spark, e, n)
    store = CheckpointStore(spark, str(tmp_path / algo), algo, "r1")
    run(g, 5, store)
    assert store.latest_iteration() == 5
    committed = store.committed_iterations()
    lineage_rows = store.metrics().count()

    def rows(df):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    got = rows(run(g, 2, store))
    assert got == rows(store.load(2))
    assert got != rows(store.load(5))  # the fixture tells the rounds apart
    assert store.committed_iterations() == committed
    assert store.metrics().count() == lineage_rows
    g.unpersist()


def test_metrics_scoped_and_empty(spark, tmp_path):
    from linkgraph.operators import pagerank

    edges, n = bridge_edges()
    g = make_graph(spark, edges, n)
    root = str(tmp_path / "shared")
    s1 = CheckpointStore(spark, root, "pagerank", "runX")
    s2 = CheckpointStore(spark, root, "pagerank", "runY")
    # before any checkpoint: empty frame, not PATH_NOT_FOUND
    assert s1.metrics().count() == 0
    pagerank(g, iterations=2, store=s1)
    pagerank(g, iterations=3, store=s2)
    # each store sees only its own run's rows
    assert s1.metrics().select("run_id").distinct().collect()[0]["run_id"] == "runX"
    assert s2.metrics().select("run_id").distinct().collect()[0]["run_id"] == "runY"
    g.unpersist()


class _CrashingStore:
    """CheckpointStore wrapper that raises after N successful commits —
    the kill-mid-run harness for multi-stage pipelines."""

    def __init__(self, inner, fail_after: int):
        self._inner = inner
        self._left = fail_after

    def checkpointer(self, df, iteration):
        if self._left <= 0:
            raise RuntimeError("simulated crash")
        self._left -= 1
        return self._inner.checkpointer(df, iteration)

    def __getattr__(self, name):
        return getattr(self._inner, name)


def _chain_docs(spark):
    """3 groups of 4 docs forming near-dup CHAINS (adjacent jaccard >= 0.6,
    ends dissimilar) + 8 singletons: components need transitivity and more
    than one propagation round."""
    rows = []
    for g in range(3):
        toks = [f"g{g}w{j}" for j in range(40)]
        variants = [list(toks)]
        for step in range(1, 4):
            v = list(variants[-1])
            lo = (step - 1) * 5
            for j in range(lo, lo + 4):  # mutate a sliding 4-token window
                v[j] = f"g{g}x{step}{j}"
            variants.append(v)
        for i, v in enumerate(variants):
            rows.append((g * 10 + i, " ".join(v), "en", "s", 0))
    for s in range(8):
        rows.append((100 + s, " ".join(f"solo{s}tok{j}" for j in range(40)), "en", "s", 0))
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_dedup_clusters_resume_identical(spark, tmp_path):
    """North rule for the docs pipeline (VERDICT r02 missing #2): crash
    after the candidate commit, after the verify commit, and mid-component
    rounds — each relaunch skips completed stages and lands the identical
    keep-list."""
    from linkgraph import docs as docmod

    documents = _chain_docs(spark)
    want = sorted(
        (r["doc_id"], r["cluster_id"], r["keep"])
        for r in docmod.dedup_clusters(documents).collect()
    )
    # sanity: chains actually clustered transitively
    assert (0, 0, True) in want and (3, 0, False) in want

    root = str(tmp_path / "dedup_ck")
    for fail_after in (1, 2, 3):
        store = CheckpointStore(spark, root, "dedup_clusters", f"run{fail_after}")
        with pytest.raises(RuntimeError, match="simulated crash"):
            docmod.dedup_clusters(documents, store=_CrashingStore(store, fail_after))
        assert store.latest_iteration() == fail_after - 1
        got = sorted(
            (r["doc_id"], r["cluster_id"], r["keep"])
            for r in docmod.dedup_clusters(documents, store=store).collect()
        )
        assert got == want, f"fail_after={fail_after}"


def test_dedup_clusters_resume_skips_stages(spark, tmp_path):
    """A completed store-backed run, relaunched, reuses stored state (no
    new iterations committed) and returns the same keep-list."""
    from linkgraph import docs as docmod

    documents = _chain_docs(spark)
    store = CheckpointStore(spark, str(tmp_path / "ck2"), "dedup_clusters", "runS")
    first = sorted(
        (r["doc_id"], r["cluster_id"], r["keep"])
        for r in docmod.dedup_clusters(documents, store=store).collect()
    )
    before = store.latest_iteration()
    assert before >= 2  # candidates, verified, >=1 component round
    again = sorted(
        (r["doc_id"], r["cluster_id"], r["keep"])
        for r in docmod.dedup_clusters(documents, store=store).collect()
    )
    assert again == first
    assert store.latest_iteration() == before


def test_bfs_resume_old_store_layout(spark, tmp_path):
    """A store written by the pre-round-3 BFS (deltas WITHOUT out_deg)
    must still resume: the loaded visited set is normalized once, and a
    store that then accumulates NEW-layout levels on top (mixed schemas
    in one run dir) reads back via mergeSchema (ADVICE r03, medium)."""
    from linkgraph.operators import bfs

    edges, n = zipf_edges(n=300, m=900)
    g = make_graph(spark, edges, n)
    root = int(edges[0, 0])
    want = {(r["id"], r["dist"]) for r in bfs(g, root).collect()}

    store = CheckpointStore(spark, str(tmp_path / "old"), "bfs", "r1")
    bfs(g, root, max_iterations=2, store=store)  # "crash" after level 2
    # rewrite every committed level in the PRE-ROUND-3 layout (no out_deg)
    for it in store.committed_iterations():
        path = store._iter_dir(it)
        rows = spark.read.parquet(path).select("id", "dist", "parent").collect()
        spark.createDataFrame(rows, "id long, dist long, parent long").write.mode(
            "overwrite"
        ).parquet(path)

    # first resume: pure old layout; crash again two levels later so the
    # run dir now MIXES old- and new-layout level schemas
    bfs(g, root, max_iterations=4, store=store)
    got = {(r["id"], r["dist"]) for r in bfs(g, root, store=store).collect()}
    assert got == want
    g.unpersist()
