"""The workloads: one repetition each, plus its result checks.

A repetition goes through the engine's public entry points only and sees
only the generated tables. Everything inside :func:`run_rep`'s timer is the
job a user would run; collecting results for the checks, releasing cached
data and the checks themselves happen after the timer stops.

Each call into a layer is one tracer span named after the layer. Lazy
DataFrames are materialised inside the span of the layer that defines them
(a ``count()`` on the persisted result), so their work is attributed to
that layer and not to the first consumer.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from linkgraph.graph import Graph
from linkgraph.ingest import content_hashes, extract_edges, extract_references
from linkgraph.operators import label_propagation, pagerank, triangle_count, wcc
from linkgraph.runner import CheckpointStore
from linkgraph.sources import load_table, write_table


@dataclass
class Ctx:
    spark: object
    tr: object  # tracing.Tracer
    in_dir: str
    manifest: dict
    trace: bool = False

    @property
    def table(self) -> str:
        return os.path.join(self.in_dir, "table")

    @property
    def n(self) -> int:
        return self.manifest["num_vertices"]


@dataclass
class Rep:
    wall: float = 0.0
    pr_s: float = 0.0
    pr_iters: int = 0
    num_edges: int = 0
    resume_s: float = 0.0
    outputs: dict = field(default_factory=dict)  # result name -> parquet dir
    counts: dict = field(default_factory=dict)  # per-layer counts, untimed
    checks: list = field(default_factory=list)  # (name, ok, detail)


# ------------------------------------------------------------ shared steps
def _load(ctx: Ctx, ref: str):
    with ctx.tr.span("sources.load"):
        return load_table(ctx.spark, ref)


def _build(ctx: Ctx, edges, n: int, sym: bool = False) -> Graph:
    with ctx.tr.span("graph.build"):
        g = Graph.from_edges(ctx.spark, edges, num_vertices=n)
        g.num_edges()
    with ctx.tr.span("graph.norm"):
        g.out_normalized_edges().count()
    if sym:
        with ctx.tr.span("graph.sym"):
            g.symmetrized().edges.count()
    return g


def _write(ctx: Ctx, rep: Rep, df, out_dir: str, name: str) -> None:
    path = os.path.join(out_dir, name)
    with ctx.tr.span("sources.write"):
        write_table(df, path)
    rep.outputs[name] = path


# ----------------------------------------------------------- repo_ingest
def _durable_store(ctx: Ctx, root: str, before: list, redone: list) -> CheckpointStore:
    """A CheckpointStore whose calls are recorded as runner spans. A write
    at or below ``before[0]`` (the highest iteration committed before the
    crash) redoes a round and is counted in ``redone``."""
    st = CheckpointStore(ctx.spark, root, "pagerank", "run")
    write = st.checkpointer

    def checkpointer(df, iteration):
        if iteration <= before[0]:
            redone.append(iteration)
        with ctx.tr.span("runner.write"):
            return write(df, iteration)

    st.checkpointer = checkpointer
    st.latest_iteration = ctx.tr.wrap("runner.resume_load", st.latest_iteration)
    st.load = ctx.tr.wrap("runner.resume_load", st.load)
    return st


def repo_ingest(ctx: Ctx, rep: Rep, out_dir: str, release: list):
    """driver.py --source --checkpoint-root: ingest, build, durable PageRank
    that "crashes" (the call returns) after CRASH_AT committed rounds and is
    relaunched against the same store to PARITY_ITERS rounds. Returns the
    untimed collection step."""
    source = _load(ctx, ctx.table)
    with ctx.tr.span("ingest.extract"):
        edges, ids = extract_edges(source, dedupe=True, drop_self=True)
        edges = edges.persist()
        release += [edges.unpersist, ids.unpersist]
        rep.counts["ingest.edges"] = edges.count()
        n = ids.count()
    g = _build(ctx, edges, n)
    release.append(g.unpersist)
    rep.num_edges = g.num_edges()
    root = os.path.join(out_dir, "store")
    before, redone = [-1], []
    store = _durable_store(ctx, root, before, redone)
    with ctx.tr.span("pagerank"):
        pagerank(g, iterations=gen.CRASH_AT, store=store)
    before[0] = gen.CRASH_AT
    t0 = time.perf_counter()
    mark = len(ctx.tr.spans)
    with ctx.tr.span("pagerank"):
        ranks = pagerank(g, iterations=gen.PARITY_ITERS, store=store)
    _write(ctx, rep, ranks, out_dir, "pagerank")
    rep.resume_s = time.perf_counter() - t0
    rep.pr_iters = gen.PARITY_ITERS
    rep.counts["runner.iters_redone"] = len(redone)
    rep.counts["runner.resume_load_s"] = ctx.tr.total("runner.resume_load", since=mark)
    return lambda: _ingest_post(ctx, rep, g, source, store, root)


def _ingest_post(ctx: Ctx, rep: Rep, g: Graph, source, store, root: str) -> None:
    pdf = g.edges.select("src", "dst").toPandas()
    rep.outputs["edges"] = pdf[["src", "dst"]].to_numpy(dtype=np.int64)
    if not ctx.trace:
        return
    rep.counts["ingest.refs"] = extract_references(source).count()
    m = store.metrics().select("iteration", "wall_ms").distinct().collect()
    size = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs)
    rep.counts.update({"runner.write_s": sum(r["wall_ms"] for r in m) / 1000.0,
                       "runner.write_mb": size / (1024.0 * 1024.0),
                       "runner.iters_committed": len(store.committed_iterations()),
                       "runner.lineage_rows": store.metrics().count()})


# ---------------------------------------------------------- hub_converge
def hub_converge(ctx: Ctx, rep: Rep, out_dir: str, release: list):
    """driver.py --edges: PageRank to 1e-6, WCC, label propagation and a
    triangle count over a Zipf hub graph, all in memory."""
    g = _build(ctx, _load(ctx, ctx.table), ctx.n, sym=True)
    release.append(g.unpersist)
    rep.num_edges = g.num_edges()
    info: dict = {}
    with ctx.tr.span("pagerank"):
        ranks = pagerank(g, tol=gen.PR_TOL, max_iterations=gen.PR_MAX_ITERS,
                         unroll=gen.PR_UNROLL, info=info)
    rep.pr_iters = info["iterations"]
    _write(ctx, rep, ranks, out_dir, "pagerank")
    with ctx.tr.span("wcc"):
        comp = wcc(g)
    _write(ctx, rep, comp, out_dir, "wcc")
    with ctx.tr.span("labelprop"):
        labels = label_propagation(g, iterations=gen.LP_ROUNDS)
    _write(ctx, rep, labels, out_dir, "labelprop")
    with ctx.tr.span("graph.canon"):
        g.canonical_undirected_edges().count()
    with ctx.tr.span("triangles"):
        rep.outputs["triangles"] = triangle_count(g).collect()[0]["triangles"]
    return None


RUN = {"repo_ingest": repo_ingest, "hub_converge": hub_converge}


# ------------------------------------------------------------- one rep
def run_rep(ctx: Ctx, workload: str, out_dir: str, expected: dict) -> Rep:
    """Run one timed repetition, then (untimed) collect, release and check.
    Raises whatever the engine raised; the caller counts it as failed."""
    rep = Rep()
    release: list = []
    mark = len(ctx.tr.spans)
    t0 = time.perf_counter()
    try:
        with ctx.tr.span("rep"):
            post = RUN[workload](ctx, rep, out_dir, release)
        rep.wall = time.perf_counter() - t0
        rep.pr_s = ctx.tr.total("pagerank", since=mark)
        if post is not None:
            post()
    finally:
        for fn in release:
            fn()
    rep.checks = check(workload, rep, expected, ctx.n)
    shutil.rmtree(out_dir, ignore_errors=True)
    return rep


# ---------------------------------------------------------------- checks
def _state(path: str, col: str, n: int) -> np.ndarray:
    """Dense array of ``col`` by vertex id; every id in [0, n) exactly once."""
    t = pq.read_table(path, columns=["id", col])
    ids = t.column("id").to_numpy()
    if len(ids) != n or not np.array_equal(np.sort(ids), np.arange(n)):
        raise ValueError(f"{path}: ids are not exactly [0, {n})")
    out = np.empty(n, dtype=t.schema.field(col).type.to_pandas_dtype())
    out[ids] = t.column(col).to_numpy()
    return out


def _compare(name: str, fn) -> tuple[str, bool, str]:
    try:
        ok, detail = fn()
    except (ValueError, KeyError, OSError) as e:
        return name, False, f"{type(e).__name__}: {e}"
    return name, bool(ok), detail


def check(workload: str, rep: Rep, exp: dict, n: int) -> list:
    out = []
    o = rep.outputs

    def pr():
        got = _state(o["pagerank"], "rank", n)
        err = float(np.max(np.abs(got - exp["pagerank"])))
        return np.allclose(got, exp["pagerank"], rtol=0.0, atol=1e-6), f"max_abs_err={err:.3g}"

    out.append(_compare("pagerank_allclose_1e-6", pr))
    if workload == "hub_converge":
        out.append(("pagerank_converged", rep.pr_iters < gen.PR_MAX_ITERS,
                    f"iterations={rep.pr_iters}"))
    if workload == "repo_ingest":
        def edges():
            got = {tuple(r) for r in o["edges"].tolist()}
            want = {tuple(r) for r in exp["edges"].tolist()}
            return got == want and len(o["edges"]) == len(got), \
                f"got={len(o['edges'])} want={len(want)}"
        out.append(_compare("extract_edges_eq_plan", edges))
    for algo, col in (("wcc", "comp"), ("labelprop", "label")):
        if algo in exp:
            def eq(algo=algo, col=col):
                got = _state(o[algo], col, n)
                return np.array_equal(got, exp[algo]), \
                    f"mismatches={int(np.sum(got != exp[algo]))}"
            out.append(_compare(f"{algo}_exact", eq))
    if "triangles" in exp:
        out.append(("triangles_exact", int(o["triangles"]) == int(exp["triangles"]),
                    f"got={o['triangles']} want={int(exp['triangles'])}"))
    return out


def check_content_hashes(ctx: Ctx, exp: dict) -> tuple[str, bool, str]:
    """sha256(content) multiset of the table as the engine reads it equals
    the multiset of the generated contents (untimed, once per run)."""
    rows = content_hashes(load_table(ctx.spark, ctx.table)).collect()
    got = sorted(r["sha256"] for r in rows for _ in range(r["n"]))
    want = exp["content_sha256"].tolist()
    return "content_sha256_multiset", got == want, f"rows={len(got)} want={len(want)}"


def graph_table(ctx: Ctx):
    """(src, dst) table of the workload's graph, for the scaling phase."""
    return load_table(ctx.spark, os.path.join(ctx.in_dir, ctx.manifest["graph_table"])) \
        .select(F.col("src"), F.col("dst"))
