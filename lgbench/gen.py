"""Seeded inputs for the benchmark workloads, cached per seed.

Every input is a pure function of ``(workload, seed)``: NumPy's PCG64
generator drives every choice and pyarrow writes the parquet files in a
fixed layout (file count, row-group size and codec are constants below and
are recorded in the manifest). The expected outputs are computed once per
seed from ``linkgraph.oracles`` and cached beside the inputs, because the
label-propagation and triangle oracles are pure Python.

Cache layout: ``<work>/inputs/<workload>-s<seed>-<key>/`` (``key`` hashes
GEN_VERSION and the workload's sizes) holding
``manifest.json`` (sizes, file layout, planted plan summary), the parquet
input table, the planted edge plan and ``expected/*.npy``. A directory is
published by an atomic rename, so an interrupted generation never leaves a
half-written cache.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from linkgraph import oracles

GEN_VERSION = 3
ROW_GROUP_ROWS = 4096
CODEC = "snappy"

# PageRank to 1e-6 with the engine's default unroll, mirrored by the oracle
PR_TOL = 1e-6
PR_UNROLL = 4
PR_MAX_ITERS = 300
PARITY_ITERS = 10
LP_ROUNDS = 10

SIZES = {
    # repos; files per repo and imported repos per repo are Poisson means
    "repo_ingest": dict(n_repos=5000, mean_files=4.0, mean_deps=2.0, zipf=1.1,
                        filler_blocks=(3, 9), parquet_files=8),
    # vertices, mean out-degree, Zipf exponent of in-degree popularity,
    # planted super-hub share, small separate components, isolated vertices
    "hub_converge": dict(n=8000, mean_out=8.0, zipf=1.1, hub_share=0.25,
                         small_frac=0.05, isolated_frac=0.01, parquet_files=4),
}
# repo_ingest's durable PageRank: rounds committed before the simulated crash
CRASH_AT = 4

LANGS = ("python", "c", "java")
_EXT = {"python": "py", "c": "c", "java": "java"}


def repo_name(i: int) -> str:
    return f"org{i // 10}/repo{i}"


# ------------------------------------------------------------------ graphs
def zipf_graph(rng: np.random.Generator, n: int, mean_out: float, zipf: float,
               hub_share: float, small_frac: float, isolated_frac: float,
               **_) -> np.ndarray:
    """Directed simple graph over [0, n): a Zipf-popularity core with one
    planted super-hub, small separate components (cliques and chains, so
    WCC has many components and triangles exist off the core) and isolated
    vertices at the top of the id range. Returns sorted unique (m, 2)
    int64 edges without self-loops.

    The super-hub is the most popular vertex and imports nothing, like a
    foundational library. Its mass does not flow back into the core, so
    PageRank from the initial 0.15 reaches 1e-6 in the same number of
    rounds for every seed (80 at the default sizes); a hub with out-edges
    makes that count vary between seeds."""
    n_iso = int(n * isolated_frac)
    n_small = int(n * small_frac)
    n_core = n - n_iso - n_small
    perm = rng.permutation(n_core)  # popularity rank -> vertex id
    outdeg = np.minimum(rng.geometric(1.0 / mean_out, n_core), 64)
    pop = 1.0 / np.arange(1, n_core + 1) ** zipf
    src = np.repeat(np.arange(n_core), outdeg)
    dst = perm[rng.choice(n_core, size=src.size, p=pop / pop.sum())]
    importers = rng.choice(n_core, size=int(hub_share * n_core), replace=False)
    parts = [np.stack([src, dst], 1),
             np.stack([importers, np.full(importers.size, perm[0])], 1)]
    v = n_core
    while v < n_core + n_small:
        size = min(int(rng.integers(3, 9)), n_core + n_small - v)
        ids = np.arange(v, v + size)
        if rng.random() < 0.5:  # clique, random orientation
            a, b = np.triu_indices(size, 1)
            flip = rng.random(a.size) < 0.5
            parts.append(np.stack([np.where(flip, ids[b], ids[a]),
                                   np.where(flip, ids[a], ids[b])], 1))
        else:  # chain
            parts.append(np.stack([ids[:-1], ids[1:]], 1))
        v += size
    e = np.unique(np.concatenate(parts).astype(np.int64), axis=0)
    return e[(e[:, 0] != e[:, 1]) & (e[:, 0] != perm[0])]


# ------------------------------------------------------------ source table
def _filler_pool(rng: np.random.Generator, lang: str, n_blocks: int = 64) -> list[str]:
    """Import-free code blocks; none of their lines match an import regex."""
    out = []
    for b in range(n_blocks):
        tag = f"{int(rng.integers(0, 2**32)):08x}"
        k = int(rng.integers(2, 6))
        if lang == "python":
            body = [f"    total_{j} = sum(x * {j} for x in range({b + j}))" for j in range(k)]
            out.append("\n".join([f"def fn_{b}_{tag}(items):",
                                  f'    """Block {b}: {tag}."""', *body,
                                  f"    return total_{k - 1}", ""]))
        elif lang == "java":
            body = [f"  static int f{j}(int x) {{ return x * {j} + {b}; }}" for j in range(k)]
            out.append("\n".join([f"class C{b}_{tag} {{",
                                  f'  static final String TAG = "{tag}";', *body, "}", ""]))
        else:
            body = [f"    acc += v[{j}] * {b};" for j in range(k)]
            out.append("\n".join([f"static int fn_{b}_{tag}(const int *v) {{",
                                  "    int acc = 0;", *body, "    return acc;", "}", ""]))
    return out


def _import_line(lang: str, target: str, mod: int, style: int) -> str:
    org, rep = target.split("/")
    if lang == "python":
        if style:
            return f"from {org}.{rep} import mod_{mod}"
        return f"import {org}.{rep}.mod_{mod}"
    if lang == "java":
        return f"import {org}.{rep}.mod_{mod};"
    return f'#include "{org}/{rep}/src/mod_{mod}.h"'


# stdlib-style imports: found by the extractor, dropped (no such repo) or
# not a repo reference at all; they make ingest.edge_yield < 1
_NOISE = {
    "python": ["import os", "import collections.abc", "from typing import Any"],
    "java": ["import java.util.List;", "import java.io.File;"],
    "c": ["#include <stdio.h>", '#include "util.h"', '#include "core/log.h"'],
}


def source_plan(rng: np.random.Generator, n_repos: int, mean_deps: float,
                zipf: float, **_) -> list[list[int]]:
    """Planted repo-level dependency plan: repo i imports ``deps[i]`` (repo
    indices; may include i itself and indices >= n_repos, an unknown repo).
    Dependencies follow Zipf popularity over a random repo order."""
    perm = rng.permutation(n_repos)
    pop = 1.0 / np.arange(1, n_repos + 1) ** zipf
    k = rng.poisson(mean_deps, n_repos)
    flat = perm[rng.choice(n_repos, size=int(k.sum()), p=pop / pop.sum())]
    deps = np.split(flat, np.cumsum(k)[:-1])
    plan = [sorted(set(d.tolist())) for d in deps]
    for i in rng.choice(n_repos, size=n_repos // 50, replace=False):
        plan[i].append(int(i))  # self import: dropped by drop_self
    for i in rng.choice(n_repos, size=n_repos // 50, replace=False):
        plan[i].append(n_repos + int(i))  # unknown repo: dropped by the id join
    return plan


def source_rows(rng: np.random.Generator, plan: list[list[int]], seed: int,
                mean_files: float, filler_blocks: tuple[int, int], **_) -> dict:
    """Columns of the source table encoding ``plan``: each dependency is
    imported from one or two files of the repo (duplicates are removed by
    extract_edges' dedupe)."""
    pools = {lang: _filler_pool(rng, lang) for lang in LANGS}
    cols: dict[str, list[str]] = {c: [] for c in ("repo", "path", "commit", "lang", "content")}
    for i, deps in enumerate(plan):
        repo = repo_name(i)
        n_files = 1 + int(rng.poisson(mean_files - 1.0))
        langs = [LANGS[int(x)] for x in rng.integers(0, 3, n_files)]
        imports: list[list[int]] = [[] for _ in range(n_files)]
        for d in deps:
            for f in rng.choice(n_files, size=min(n_files, 1 + int(rng.random() < 0.3)),
                                replace=False):
                imports[int(f)].append(d)
        for j in range(n_files):
            lang = langs[j]
            path = f"src/mod_{j}.{_EXT[lang]}"
            head = ("# " if lang == "python" else "// ") + f"{repo}/{path}"
            lines = [head]
            for d in imports[j]:
                lines.append(_import_line(lang, repo_name(d), j, int(rng.integers(0, 2))))
            noise = _NOISE[lang]
            lines.append(noise[int(rng.integers(0, len(noise)))])
            pool = pools[lang]
            nb = int(rng.integers(*filler_blocks))
            lines.extend(pool[int(x)] for x in rng.integers(0, len(pool), nb))
            cols["repo"].append(repo)
            cols["path"].append(path)
            cols["commit"].append(hashlib.sha1(f"{repo}:{path}:{seed}".encode()).hexdigest())
            cols["lang"].append(lang)
            cols["content"].append("\n".join(lines))
    return cols


def planted_edges(plan: list[list[int]]) -> np.ndarray:
    """The edges extract_edges(dedupe=True, drop_self=True) must return, in
    the engine's dense ids (rank of the repo name in sorted order)."""
    n = len(plan)
    order = sorted(range(n), key=repo_name)
    dense = np.empty(n, dtype=np.int64)
    dense[order] = np.arange(n)
    pairs = {(int(dense[i]), int(dense[d])) for i, ds in enumerate(plan)
             for d in ds if d != i and d < n}
    return np.array(sorted(pairs), dtype=np.int64).reshape(-1, 2)


# --------------------------------------------------------------- writing
def _write_parquet(table: pa.Table, out_dir: str, n_files: int) -> list[dict]:
    """Split ``table`` into ``n_files`` contiguous parts; returns the layout."""
    os.makedirs(out_dir)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    layout = []
    for k in range(n_files):
        name = f"part-{k:05d}.parquet"
        path = os.path.join(out_dir, name)
        pq.write_table(table.slice(bounds[k], bounds[k + 1] - bounds[k]), path,
                       compression=CODEC, row_group_size=ROW_GROUP_ROWS)
        layout.append({"file": name, "rows": int(bounds[k + 1] - bounds[k]),
                       "bytes": os.path.getsize(path)})
    return layout


def _edge_table(e: np.ndarray) -> pa.Table:
    return pa.table({"src": pa.array(e[:, 0], pa.int64()),
                     "dst": pa.array(e[:, 1], pa.int64())})


def _build(workload: str, seed: int, out: str) -> dict:
    p = SIZES[workload]
    rng = np.random.default_rng([seed, GEN_VERSION, sorted(SIZES).index(workload)])
    exp: dict[str, np.ndarray] = {}
    if workload == "repo_ingest":
        plan = source_plan(rng, **p)
        cols = source_rows(rng, plan, seed, **p)
        table = pa.table({c: pa.array(v, pa.string()) for c, v in cols.items()})
        layout = _write_parquet(table, os.path.join(out, "table"), p["parquet_files"])
        n = p["n_repos"]
        edges = planted_edges(plan)
        _write_parquet(_edge_table(edges), os.path.join(out, "plan"), 1)
        exp["content_sha256"] = np.array(sorted(
            hashlib.sha256(c.encode()).hexdigest() for c in cols["content"]))
        exp["pagerank"] = oracles.pagerank_oracle(edges, n, iterations=PARITY_ITERS)
        rows = table.num_rows
        content_bytes = int(sum(len(c.encode()) for c in cols["content"]))
        plan_info = {"import_statements": int(sum(len(d) for d in plan)),
                     "self_imports": int(sum(i in d for i, d in enumerate(plan))),
                     "unknown_imports": int(sum(x >= n for d in plan for x in d))}
    else:
        edges = zipf_graph(rng, **p)
        n = p["n"]
        layout = _write_parquet(_edge_table(edges), os.path.join(out, "table"),
                                p["parquet_files"])
        rows, content_bytes = len(edges), 0
        indeg = np.bincount(edges[:, 1], minlength=n)
        plan_info = {"max_in_degree": int(indeg.max()),
                     "hub_in_share": float(indeg.max() / n)}
        exp["wcc"] = oracles.wcc_oracle(edges, n)
        exp["labelprop"] = oracles.label_propagation_oracle(edges, n, LP_ROUNDS)
        exp["pagerank"] = oracles.pagerank_oracle(
            edges, n, tol=PR_TOL, max_iterations=PR_MAX_ITERS, check_every=PR_UNROLL)
        exp["triangles"] = np.array(oracles.triangle_count_oracle(edges, n))
    exp["edges"] = edges
    os.makedirs(os.path.join(out, "expected"))
    for name, arr in exp.items():  # .npy, unlike .npz, holds no timestamp
        np.save(os.path.join(out, "expected", f"{name}.npy"), arr)
    manifest = {"workload": workload, "seed": seed, "gen_version": GEN_VERSION,
                "params": p, "num_vertices": n, "num_edges": int(len(edges)),
                "input_rows": int(rows), "content_bytes": content_bytes,
                "codec": CODEC, "row_group_rows": ROW_GROUP_ROWS,
                "layout": layout, "plan": plan_info,
                # (src, dst) table of the workload's graph in dense ids
                "graph_table": "plan" if workload == "repo_ingest" else "table"}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def inputs(workload: str, seed: int, work: str) -> tuple[str, dict]:
    """Generate (or reuse) the inputs of ``workload`` for ``seed`` under
    ``work``; returns (input directory, manifest)."""
    key = hashlib.sha1(json.dumps([GEN_VERSION, SIZES[workload]]).encode()).hexdigest()[:10]
    final = os.path.join(work, "inputs", f"{workload}-s{seed}-{key}")
    if not os.path.exists(os.path.join(final, "manifest.json")):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        _build(workload, seed, tmp)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    with open(os.path.join(final, "manifest.json")) as f:
        return final, json.load(f)


def expected(in_dir: str) -> dict[str, np.ndarray]:
    d = os.path.join(in_dir, "expected")
    return {f[:-4]: np.load(os.path.join(d, f)) for f in sorted(os.listdir(d))}
