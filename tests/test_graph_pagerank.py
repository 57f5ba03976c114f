"""Property pins for operators.graph.pagerank: fixed points, mass
conservation, ordering, dangling handling, and the rows-only corpus
query that consumes it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from healthcare_research_data_pipeline_project_spark.operators.graph import (
    pagerank,
)
from healthcare_research_data_pipeline_project_spark.queries import QUERIES
from healthcare_research_data_pipeline_project_spark.session import distributed_regime
from tests.conftest import SF_SMOKE

import healthcare_research_data_pipeline_project_spark.queries.datapipe7  # noqa: F401  (registers g_pagerank_centrality)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_cycle_is_uniform_fixed_point(spark):
    # directed 4-cycle: out_deg 1 everywhere, no dangling → rank 1.0
    # is the exact fixed point, hit at round 1
    r = pagerank(_edges(spark, [(0, 1), (1, 2), (2, 3), (3, 0)])).collect()
    assert len(r) == 4
    for row in r:
        assert row["rank"] == pytest.approx(1.0, abs=1e-9)
        assert row["converged"]


def test_mass_conservation_with_dangling(spark):
    # a -> b, b dangling: total mass must stay 2 (dangling mass
    # teleports back), and b (with an in-link) outranks a
    r = {row["node"]: row["rank"] for row in
         pagerank(_edges(spark, [(0, 1)]), tol=1e-8, max_iter=60).collect()}
    assert sum(r.values()) == pytest.approx(2.0, abs=1e-6)
    assert r[1] > r[0]


def test_in_links_raise_rank(spark):
    # leaves 1..4 all point at hub 0; hub points back at leaf 1:
    # hub must dominate, and leaf 1 (the only leaf with an in-link)
    # must outrank leaves 2..4
    e = [(i, 0) for i in range(1, 5)] + [(0, 1)]
    r = {row["node"]: row["rank"] for row in
         pagerank(_edges(spark, e), tol=1e-8, max_iter=80).collect()}
    assert r[0] == max(r.values())
    assert r[1] > r[2] == pytest.approx(r[3], abs=1e-9)
    assert sum(r.values()) == pytest.approx(5.0, abs=1e-5)


def test_unconverged_returns_flag_false(spark):
    # 1 iteration on a graph whose fixed point needs several rounds:
    # ranks come back (approximation) with converged=false
    e = [(i, 0) for i in range(1, 5)] + [(0, 1)]
    rows = pagerank(_edges(spark, e), max_iter=1, tol=1e-12).collect()
    assert rows and all(not row["converged"] for row in rows)


def test_symmetric_clique_components_uniform(spark):
    # two disjoint symmetric triangles: every node out_deg 2, uniform
    # flow → rank exactly 1.0 per node, independent of component
    tri = [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (12, 10)]
    sym = tri + [(b, a) for a, b in tri]
    r = pagerank(_edges(spark, sym)).collect()
    assert len(r) == 6
    for row in r:
        assert row["rank"] == pytest.approx(1.0, abs=1e-9)


def test_distributed_loop_matches_driver_path(spark):
    # force the distributed rounds and pin them against the
    # driver-side fast path on an asymmetric multi-component graph
    e = [(0, 1), (1, 2), (2, 0), (2, 1), (5, 6), (6, 5), (7, 5)]
    edges = _edges(spark, e)
    fast = {
        r["node"]: r["rank"]
        for r in pagerank(edges, tol=1e-10, max_iter=100).collect()
    }
    with distributed_regime():
        dist = {
            r["node"]: r["rank"]
            for r in pagerank(edges, tol=1e-10, max_iter=100).collect()
        }
    assert set(fast) == set(dist)
    for node in fast:
        assert dist[node] == pytest.approx(fast[node], abs=1e-8)


def test_fixed_iteration_batched_loop_matches_driver_path(spark):
    # tol=0 on a dangling-free (symmetric) graph takes the r7 batched
    # path: no per-round scalars, `spill_every` rounds per parquet
    # materialization. Pin it against the driver fast path at the same
    # fixed depth, across spill_every values that do and don't divide
    # max_iter.
    tri = [(0, 1), (1, 2), (2, 0), (0, 2), (2, 1), (1, 0), (3, 4), (4, 3)]
    edges = _edges(spark, tri)
    fast = {
        r["node"]: r["rank"]
        for r in pagerank(edges, tol=0.0, max_iter=7).collect()
    }
    for spill_every in (1, 3, 5):
        with distributed_regime():
            dist = {
                r["node"]: r["rank"]
                for r in pagerank(
                    edges, tol=0.0, max_iter=7, spill_every=spill_every
                ).collect()
            }
        assert set(dist) == set(fast)
        for node in fast:
            assert dist[node] == pytest.approx(fast[node], abs=1e-9)


def test_fixed_iteration_distributed_with_dangling(spark):
    # tol=0 WITH dangling nodes exercises the per-round dangling
    # scalar inside fixed-iteration mode (no L1 job, no batching)
    e = [(0, 1), (1, 2)]  # node 2 dangles
    edges = _edges(spark, e)
    fast = {
        r["node"]: r["rank"]
        for r in pagerank(edges, tol=0.0, max_iter=5).collect()
    }
    with distributed_regime():
        dist = {
            r["node"]: r["rank"]
            for r in pagerank(edges, tol=0.0, max_iter=5).collect()
        }
    assert set(dist) == set(fast)
    for node in fast:
        assert dist[node] == pytest.approx(fast[node], abs=1e-9)


def test_pagerank_centrality_query_runs(spark):
    rows = QUERIES["g_pagerank_centrality"](spark, SF_SMOKE).collect()
    assert rows
    # ≤3 representatives per label, positions well-formed
    by_label: dict[int, list] = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(r["pos"])
    for poss in by_label.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
        assert len(poss) <= 3


# ---------------------------------------------------------------------------
# k-core
# ---------------------------------------------------------------------------
from healthcare_research_data_pipeline_project_spark.operators.graph import (  # noqa: E402
    kcore,
)


def test_kcore_peels_tail_keeps_triangle(spark):
    # triangle 0-1-2 plus a tail 0-3: the 2-core is the triangle,
    # every member at core-degree 2; node 3 peels away
    e = _edges(spark, [(0, 1), (1, 2), (2, 0), (0, 3)])
    got = {r["node"]: r["core_degree"] for r in kcore(e, k=2).collect()}
    assert got == {0: 2, 1: 2, 2: 2}
    # the 3-core of the same graph is empty
    assert kcore(e, k=3).collect() == []


def test_kcore_cascading_peel(spark):
    # a chain 0-1-2-3-4: 2-core empty (peeling cascades end-in)
    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 4)])
    assert kcore(e, k=2).collect() == []
    # 1-core keeps everyone
    got = kcore(e, k=1).collect()
    assert {r["node"] for r in got} == {0, 1, 2, 3, 4}


def test_kcore_distributed_matches_driver(spark):
    # clique of 4 + pendant chain; force the distributed peel and pin
    # it against the in-memory fast path
    clique = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    e = _edges(spark, clique + [(3, 10), (10, 11)])
    fast = {r["node"]: r["core_degree"]
            for r in kcore(e, k=3).collect()}
    with distributed_regime():
        dist = {r["node"]: r["core_degree"]
                for r in kcore(e, k=3).collect()}
    assert fast == dist == {0: 3, 1: 3, 2: 3, 3: 3}


def test_convergence_loop_distributed_with_dangling(spark):
    # tol>0 WITH dangling nodes exercises the r9 observed-metrics
    # round shape: dangling mass + L1 delta both ride the round's
    # write job (round 0's dangling is the node count — no job), so
    # the convergence path runs ONE action per iteration. Pin against
    # the driver fast path.
    e = [(0, 1), (1, 2), (3, 2), (3, 0)]  # node 2 dangles
    edges = _edges(spark, e)
    fast = {
        r["node"]: r["rank"]
        for r in pagerank(edges, tol=1e-10, max_iter=100).collect()
    }
    with distributed_regime():
        dist = {
            r["node"]: r["rank"]
            for r in pagerank(edges, tol=1e-10, max_iter=100).collect()
        }
    assert set(dist) == set(fast)
    for node in fast:
        assert dist[node] == pytest.approx(fast[node], abs=1e-8)


def test_derived_small_graph_threshold():
    # the r11 crossover formula: driver cost (E x rounds) equated with
    # distributed cost (materializations x calibrated edge-iters per
    # materialization), bounded by the driver-memory edge cap
    from healthcare_research_data_pipeline_project_spark.operators.graph import (
        _DRIVER_EDGE_CAP,
        derived_small_graph_threshold,
    )

    # the r10 probe's regime: 12 fixed oracle rounds, spill_every=3 —
    # the derived cut must keep the measured 287k-edge 20x graph on
    # the driver path (its distributed run was 6x slower)
    assert derived_small_graph_threshold(12, 3) > 287_128
    # more rounds per materialization -> distributed amortizes better
    # -> lower threshold; never exceeds the memory cap
    assert derived_small_graph_threshold(12, 1) <= _DRIVER_EDGE_CAP
    assert derived_small_graph_threshold(12, 3) > derived_small_graph_threshold(12, 6)
    # monotone sanity: fewer rounds means driver is cheaper per edge,
    # so the threshold can only grow (until the cap)
    assert derived_small_graph_threshold(6, 3) >= derived_small_graph_threshold(24, 3)
    assert 1 <= derived_small_graph_threshold(1) <= _DRIVER_EDGE_CAP
