"""Structural pins for operators.clustering.kmeans: blob recovery,
inertia monotonicity, nearest-centroid consistency, empty-cluster
handling, and partition invariance of the hash seeding."""

from __future__ import annotations

import pytest

from healthcare_research_data_pipeline_project_spark.operators.clustering import (
    kmeans,
)
from healthcare_research_data_pipeline_project_spark.queries import QUERIES
from healthcare_research_data_pipeline_project_spark.session import distributed_regime
from tests.conftest import SF_SMOKE

import healthcare_research_data_pipeline_project_spark.queries.datapipe7  # noqa: F401


_BLOBS = {
    0: [0.0, 0.0],
    1: [10.0, 10.0],
    2: [-10.0, 10.0],
}


def _blob_df(spark):
    rows = []
    i = 0
    for b, (cx, cy) in _BLOBS.items():
        for dx, dy in [(0, 0), (0.5, 0), (0, 0.5), (-0.5, 0), (0, -0.5)]:
            rows.append((i, [cx + dx, cy + dy], b))
            i += 1
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, blob int"
    )


def test_blob_recovery_and_monotone_inertia(spark):
    df = _blob_df(spark)
    assigned, centroids, history = kmeans(df, k=3, max_iter=8)
    rows = assigned.join(df.select("vec_id", "blob"), "vec_id").collect()
    # each true blob maps to exactly one learned cluster and vice versa
    mapping: dict[int, set] = {}
    for r in rows:
        mapping.setdefault(r["blob"], set()).add(r["cid"])
    assert all(len(cids) == 1 for cids in mapping.values())
    assert len({next(iter(c)) for c in mapping.values()}) == 3
    # Lloyd's inertia never increases
    assert all(b <= a + 1e-9 for a, b in zip(history, history[1:]))
    # every point's recorded dist is the true min over the returned
    # centroids (nearest-centroid consistency)
    vecs = {r["vec_id"]: r for r in rows}
    data = {r["vec_id"]: r["embedding"] for r in df.collect()}
    for vid, r in vecs.items():
        dists = {
            cid: sum((a - b) ** 2 for a, b in zip(data[vid], c))
            for cid, c in centroids.items()
        }
        assert r["dist"] == pytest.approx(min(dists.values()), abs=1e-6)
        assert dists[r["cid"]] == pytest.approx(min(dists.values()), abs=1e-9)


def test_partition_invariant_assignments(spark):
    df = _blob_df(spark)
    a1, _, _ = kmeans(df, k=3, max_iter=8)
    a2, _, _ = kmeans(df.repartition(7), k=3, max_iter=8)
    m1 = {r["vec_id"]: r["cid"] for r in a1.collect()}
    m2 = {r["vec_id"]: r["cid"] for r in a2.collect()}
    assert m1 == m2


def test_fewer_rows_than_k_degrades_cleanly(spark):
    # n < k: only n seeds exist, k degrades to n, every point its own
    # cluster at dist 0 — no crash, no phantom clusters
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [5.0, 5.0]), (2, [9.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    assigned, centroids, _ = kmeans(df, k=5, max_iter=4)
    assert len(centroids) == 3
    rows = assigned.collect()
    assert len({r["cid"] for r in rows}) == 3
    assert all(r["dist"] == pytest.approx(0.0, abs=1e-9) for r in rows)


def test_empty_clusters_keep_previous_centroid(spark):
    # two tight far-apart blobs but k=3: after the first update one
    # centroid must lose all points eventually; the dict stays size 3
    rows = [(i, [0.0 + 0.01 * i, 0.0]) for i in range(4)] + [
        (10 + i, [100.0 + 0.01 * i, 0.0]) for i in range(4)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assigned, centroids, _ = kmeans(df, k=3, max_iter=6)
    assert len(centroids) == 3
    assert assigned.count() == 8


def test_k1_centroid_is_mean(spark):
    df = spark.createDataFrame(
        [(0, [0.0, 4.0]), (1, [2.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    _, centroids, _ = kmeans(df, k=1, max_iter=3)
    assert centroids[0][0] == pytest.approx(1.0)
    assert centroids[0][1] == pytest.approx(2.0)


def test_distributed_loop_matches_driver_training(spark):
    # force the distributed rounds and pin them against the in-memory
    # fast path: same seeds, same blobs, same clusters
    df = _blob_df(spark)
    a1, c1, h1 = kmeans(df, k=3, max_iter=8)
    with distributed_regime():
        a2, c2, h2 = kmeans(df, k=3, max_iter=8)
    m1 = {r["vec_id"]: r["cid"] for r in a1.collect()}
    m2 = {r["vec_id"]: r["cid"] for r in a2.collect()}
    assert m1 == m2
    assert set(c1) == set(c2)
    for cid in c1:
        for x, y in zip(c1[cid], c2[cid]):
            assert y == pytest.approx(x, abs=1e-9)
    assert len(h1) == len(h2)
    for x, y in zip(h1, h2):
        assert y == pytest.approx(x, rel=1e-9)


def test_kmeans_summary_query_runs(spark):
    # r6 invariant-verdict output (the oracled shape): one row whose
    # booleans the DuckDB oracle pins TRUE and whose n_assigned the
    # oracle recomputes as COUNT(*) over the parquet
    rows = QUERIES["ml_kmeans_summary"](spark, SF_SMOKE).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_assigned"] == 500  # every vector assigned
    assert r["n_clusters"] == 8 and r["all_cells_nonempty"]
    assert r["inertia_under_global_ss"]
    assert r["n_iters_in_range"]


def test_semantic_blocks_find_identical_vectors(spark):
    # pair-level pins now live on the shared helper (the corpus entry
    # reports the oracled audit summary since r7): pairs are ordered,
    # above threshold, and deterministic across invocations (hash
    # seeding + fixed rounds)
    from healthcare_research_data_pipeline_project_spark.queries.datapipe7 import (
        semantic_block_pairs,
    )

    pairs, cells, n, k_cells = semantic_block_pairs(spark, SF_SMOKE)
    rows = pairs.collect()
    assert rows  # corpus has same-label near-dups inside cells
    ids = {(r["id_a"], r["id_b"]) for r in rows}
    assert all(a < b for a, b in ids)
    assert all(r["cos_sim"] >= 0.35 for r in rows)
    assert n == 500 and k_cells == 8
    assert cells.count() == n
    again = {
        (r["id_a"], r["id_b"])
        for r in semantic_block_pairs(spark, SF_SMOKE)[0].collect()
    }
    assert again == ids


def test_semantic_blocks_audit_summary(spark):
    # the r7 oracled corpus shape: one row of cross-engine verdicts
    rows = QUERIES["dedup_semantic_blocks"](spark, SF_SMOKE).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_vectors"] == 500 and r["n_assigned"] == 500
    assert r["k_requested"] == 8
    assert r["n_label_pairs"] > 0
    assert r["all_pairs_above_threshold"] and r["label_recall_ok"]


def test_empty_input_raises_cleanly(spark):
    import pytest as _pytest

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with _pytest.raises(ValueError, match="non-empty"):
        kmeans(empty, k=3)
