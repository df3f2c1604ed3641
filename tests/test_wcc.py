"""WCC: exact equality vs the fixpoint min-label oracle, plus the
reference's embedded validator invariants (wcc.c:138-182)."""

from __future__ import annotations

import numpy as np
import pytest

from linkgraph.operators import wcc
from linkgraph.operators.wcc import validate_wcc, wcc_large_small_star
from linkgraph.oracles import wcc_oracle

from tests.conftest import SMALL_FIXTURES, chain_edges, make_graph


def _comp_array(df, n):
    out = np.full(n, -1, dtype=np.int64)
    for row in df.collect():
        out[row["id"]] = row["comp"]
    return out


@pytest.mark.parametrize("name", sorted(SMALL_FIXTURES))
def test_wcc_exact(spark, name):
    edges, n = SMALL_FIXTURES[name]()
    g = make_graph(spark, edges, n)
    got = _comp_array(wcc(g), n)
    want = wcc_oracle(edges, n)
    assert np.array_equal(got, want), name
    g.unpersist()


def test_wcc_validator_invariants(spark):
    from tests.conftest import two_cliques_edges

    edges, n = two_cliques_edges()
    g = make_graph(spark, edges, n)
    comp = wcc(g)
    stats = validate_wcc(g, comp)
    assert stats["violations"] == 0
    assert stats["n_components"] == 2
    assert stats["max_size"] == 8
    g.unpersist()


@pytest.mark.parametrize("name", ["chain", "bridge", "empty_vertex", "selfloop_multi"])
def test_wcc_large_small_star_matches(spark, name):
    edges, n = SMALL_FIXTURES[name]()
    g = make_graph(spark, edges, n)
    got = _comp_array(wcc_large_small_star(g), n)
    want = wcc_oracle(edges, n)
    assert np.array_equal(got, want), name
    g.unpersist()


# -------------------------------------------------------------- k-core
def test_kcore_known_graph(spark):
    """K4 plus a pendant path: the 3-core is exactly the K4 (each with
    core_deg 3); the 2-core adds the triangle; pendant vertices never
    survive k>=2."""
    from linkgraph.operators import k_core

    from tests.conftest import make_graph
    import numpy as np

    # K4 on 0-3; triangle on 4-6; path 7-8-9 hanging off vertex 0
    edges = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges += [(4, 5), (5, 6), (4, 6)]
    edges += [(0, 7), (7, 8), (8, 9)]
    g = make_graph(spark, np.array(edges, dtype=np.int64), 10)

    core3 = {(r["id"], r["core_deg"]) for r in k_core(g, k=3).collect()}
    assert core3 == {(0, 3), (1, 3), (2, 3), (3, 3)}

    core2 = {r["id"] for r in k_core(g, k=2).collect()}
    assert core2 == {0, 1, 2, 3, 4, 5, 6}

    # k above the max degree → empty, with the right schema
    empty = k_core(g, k=10)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["id", "core_deg"]
    g.unpersist()


def test_kcore_long_chain_peels_to_fixpoint(spark):
    """A path graph has NO 2-core (peeling eats it one endpoint pair per
    round — the worst-case round count); the loop must reach the empty
    fixpoint, not stop early."""
    from linkgraph.operators import k_core

    from tests.conftest import make_graph
    import numpy as np

    n = 24
    path = np.array([[i, i + 1] for i in range(n - 1)], dtype=np.int64)
    g = make_graph(spark, path, n)
    assert k_core(g, k=2, max_iterations=50).count() == 0
    # a cycle IS its own 2-core (every vertex degree exactly 2)
    cyc = np.array([[i, (i + 1) % n] for i in range(n)], dtype=np.int64)
    g2 = make_graph(spark, cyc, n)
    got = {(r["id"], r["core_deg"]) for r in k_core(g2, k=2).collect()}
    assert got == {(i, 2) for i in range(n)}
    g.unpersist(); g2.unpersist()


def test_coreness_matches_kcore_thresholds(spark):
    """coreness(v) >= k  ⇔  v in k_core(k), for every k up to max — the
    defining relationship between the decomposition and fixed-k cores."""
    from linkgraph.operators import coreness, k_core

    from tests.conftest import make_graph
    import numpy as np

    rng = np.random.RandomState(11)
    n = 120
    edges = np.unique(rng.randint(0, n, size=(900, 2)), axis=0)
    edges = edges[edges[:, 0] != edges[:, 1]]
    g = make_graph(spark, edges, n)
    cn = {r["id"]: r["coreness"] for r in coreness(g).collect()}
    assert len(cn) == n and min(cn.values()) >= 0
    kmax = max(cn.values())
    assert kmax >= 3  # fixture dense enough to be non-trivial
    for k in (1, 2, kmax, kmax + 1):
        want = {v for v, c in cn.items() if c >= k}
        got = {r["id"] for r in k_core(g, k=k).collect()}
        assert got == want, k
    g.unpersist()


def _kcore_run(g, checkpointer):
    from linkgraph.operators import k_core

    return k_core(g, k=2, checkpointer=checkpointer)


def _labelprop_run(g, checkpointer):
    from linkgraph.operators import label_propagation

    return label_propagation(g, iterations=6, checkpointer=checkpointer)


@pytest.mark.parametrize(
    "run", [_kcore_run, _labelprop_run], ids=["k_core", "label_propagation"]
)
def test_kcore_one_job_per_round(spark, run):
    """The in-memory commit adds no job of its own: the round's cut is
    materialized by the action that consumes it (k_core's per-round
    count, or the caller's count for fixed-round label propagation).
    An eager commit adds a dedicated materialize job per round on top."""
    edges, n = chain_edges(40)
    g = make_graph(spark, edges, n)
    # measure the round count with a counting (eager) checkpointer
    rounds = []

    def counting(df, it):
        rounds.append(it)
        return df.localCheckpoint(eager=True)

    run(g, counting).count()
    n_rounds = len(rounds)
    # a chain peels from both ends — many rounds; labelprop runs its 6
    assert n_rounds >= 5

    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()  # noqa: SLF001
    # AQE materializes every shuffle stage as its own job — job counting
    # is only meaningful with it off (the bench kernel loops disable it)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # group names are per case: a group keeps its jobs for the session
        eager, default = f"eager{run.__name__}", f"default{run.__name__}"
        sc.setJobGroup(eager, "eager commit per round + consumer")
        run(g, counting).count()
        sc.setJobGroup(default, "default commit + consumer")
        run(g, None).count()
        bus.waitUntilEmpty()
        eager_ids = sc.statusTracker().getJobIdsForGroup(eager)
        default_ids = sc.statusTracker().getJobIdsForGroup(default)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert len(default_ids) <= len(eager_ids) - n_rounds, (
        len(default_ids), len(eager_ids), n_rounds,
    )
    # at most one action per round plus its broadcast-exchange sub-job
    assert len(default_ids) <= 2 * n_rounds + 4, (len(default_ids), n_rounds)
    g.unpersist()


def test_onion_fixture_layers_and_core_equivalence(spark):
    """K4 + pendant path: layer 1 strips the degree<=1 periphery (9, then
    the chain unravels one per layer at threshold 1), the K4 peels last
    as its own layer at core 3; onion_core must equal coreness everywhere
    (Hébert-Dufresne et al., Theorem 1)."""
    from linkgraph.operators import coreness, onion_decomposition

    from tests.conftest import make_graph
    import numpy as np

    # K4 on 0-3; path 7-8-9 hanging off vertex 0; isolated vertex 10
    edges = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges += [(0, 7), (7, 8), (8, 9)]
    g = make_graph(spark, np.array(edges, dtype=np.int64), 11)
    got = {r["id"]: (r["layer"], r["onion_core"]) for r in
           onion_decomposition(g).collect()}
    assert len(got) == 11
    # isolated vertex and the chain tail peel in layer 1 at core 0/1
    assert got[10] == (1, 0)  # min alive degree is 0 → threshold 0
    # with threshold 0 only the isolated vertex leaves in layer 1;
    # layer 2 raises to 1 and takes the chain tail 9, then 8, then 7
    assert got[9] == (2, 1) and got[8] == (3, 1) and got[7] == (4, 1)
    # vertices 1-3 hit degree 3 once the chain is gone; 0 still has deg 3
    # (chain detached at layer 4) — whole K4 peels together at core 3
    assert {got[v] for v in range(4)} == {(5, 3)}
    core = {r["id"]: r["coreness"] for r in coreness(g).collect()}
    assert {v: oc for v, (_, oc) in got.items()} == core
    g.unpersist()


def test_onion_core_matches_coreness_on_random_graph(spark):
    from linkgraph.operators import coreness, onion_decomposition

    from tests.conftest import make_graph
    import numpy as np

    rng = np.random.RandomState(7)
    n = 150
    edges = np.unique(rng.randint(0, n, size=(1100, 2)), axis=0)
    edges = edges[edges[:, 0] != edges[:, 1]]
    g = make_graph(spark, edges, n)
    onion = {r["id"]: r["onion_core"] for r in onion_decomposition(g).collect()}
    core = {r["id"]: r["coreness"] for r in coreness(g).collect()}
    assert onion == core
    # layers partition the vertex set exactly once
    assert len(onion) == n
    g.unpersist()
