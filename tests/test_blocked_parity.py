"""Blocked-BLAS vs catalyst parity for the within-block pair scans
(`operators/similarity._blocked_cos_scan` consumers) — the two physical
strategies advertise the SAME output contract, so this file pins it:

- identical pair sets / kNN edges on adversarial near-boundary vectors
  (cosines engineered to land within ~1e-9 of the 4-dp rounding
  midpoint, where an op-order divergence would flip the rounded value);
- NULL-block rows drop in BOTH impls (equi-join semantics);
- one-row blocks emit no rows in BOTH impls;
- zero-norm vectors raise in the blocked impl (explicit policy — the
  catalyst twin would emit NaN and Spark NaN-ordering would rank them
  first, silently);
- oversized blocks raise with ANN routing guidance instead of OOMing.
"""

from __future__ import annotations

import math

import pytest

from healthcare_research_data_pipeline_project_spark.operators import similarity as S


def _unit(theta: float) -> list[float]:
    return [math.cos(theta), math.sin(theta), 0.0, 0.0]


def _boundary_rows():
    """Vectors whose pairwise cosines sit ON or within an ulp of 4-dp
    HALF_UP midpoints: cos against the x-axis anchor is controlled by
    the angle directly, so acos picks the adversarial values."""
    targets = [
        0.35005,            # exact threshold midpoint for 0.35
        0.35005 - 1e-9,     # just below the midpoint
        0.35005 + 1e-9,     # just above
        0.99995,            # near-1 midpoint
        0.00005,            # near-0 midpoint
        -0.00005,           # sign boundary
        0.5,                # representable exact
        0.12345,            # generic
    ]
    rows = [(0, _unit(0.0), 7)]  # anchor along x
    for i, t in enumerate(targets, start=1):
        rows.append((i, _unit(math.acos(t)), 7))
    return rows


def _pairs(df):
    return {
        (r["id_a"], r["id_b"], r["cos_sim"]) for r in df.collect()
    }


def _edges(df):
    return {
        (r["src"], r["dst"], r["rank"], r["cos_sim"]) for r in df.collect()
    }


def test_near_dup_pairs_blocked_matches_catalyst_on_boundaries(spark):
    emb = spark.createDataFrame(
        _boundary_rows(), "vec_id long, embedding array<double>, label int"
    )
    blocked = _pairs(S.embedding_near_dup_pairs(emb, threshold=0.35, impl="blocked"))
    catalyst = _pairs(S.embedding_near_dup_pairs(emb, threshold=0.35, impl="catalyst"))
    assert blocked == catalyst


def test_knn_graph_blocked_matches_catalyst_on_boundaries(spark):
    emb = spark.createDataFrame(
        _boundary_rows(), "vec_id long, embedding array<double>, label int"
    )
    blocked = _edges(S.knn_graph(emb, k=3, impl="blocked"))
    catalyst = _edges(S.knn_graph(emb, k=3, impl="catalyst"))
    assert blocked == catalyst


def test_null_block_rows_drop_in_both_impls(spark):
    # two near-identical vectors share a NULL block: an equi-join on
    # the block key never matches NULL=NULL, so neither impl may pair
    # them; the non-null block still pairs normally
    rows = [
        (1, [1.0, 0.0], None),
        (2, [0.99, 0.14], None),
        (3, [0.0, 1.0], 5),
        (4, [0.1, 0.99], 5),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    for impl in ("blocked", "catalyst"):
        got = _pairs(S.embedding_near_dup_pairs(emb, threshold=0.3, impl=impl))
        ids = {(a, b) for a, b, _ in got}
        assert ids == {(3, 4)}, (impl, got)


def test_singleton_blocks_emit_nothing_in_both_impls(spark):
    # a one-row block has no pair: the blocked scan returns its empty
    # frame there, typed by the output schema for int and long ids
    for idt in ("int", "long"):
        emb = spark.createDataFrame(
            [(1, [1.0, 0.0], 1), (2, [0.9, 0.1], 2), (3, [0.8, 0.3], 2)],
            f"vec_id {idt}, embedding array<double>, label int",
        )
        for impl in ("blocked", "catalyst"):
            pairs = S.embedding_near_dup_pairs(emb, threshold=0.3, impl=impl)
            assert {(a, b) for a, b, _ in _pairs(pairs)} == {(2, 3)}, impl
            edges = _edges(S.knn_graph(emb, k=2, impl=impl))
            assert {(a, b) for a, b, _, _ in edges} == {(2, 3), (3, 2)}, impl
            single = emb.filter("label = 1")
            assert S.knn_graph(single, k=2, impl=impl).collect() == [], impl


def test_zero_norm_vector_raises_in_blocked(spark):
    from pyspark.errors import PySparkException

    emb = spark.createDataFrame(
        [(1, [0.0, 0.0], 1), (2, [1.0, 0.0], 1)],
        "vec_id long, embedding array<double>, label int",
    )
    with pytest.raises(PySparkException, match="zero-norm"):
        S.embedding_near_dup_pairs(emb, impl="blocked").collect()


def test_oversized_block_raises_with_ann_guidance(spark):
    from pyspark.errors import PySparkException

    rows = [(i, [1.0, float(i)], 1) for i in range(10)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    with pytest.raises(PySparkException, match="blocked-scan ceiling"):
        S.embedding_near_dup_pairs(
            emb, impl="blocked", max_block_rows=5
        ).collect()
    with pytest.raises(PySparkException, match="blocked-scan ceiling"):
        S.knn_graph(emb, impl="blocked", max_block_rows=5).collect()


def test_half_up_units_on_exact_midpoints():
    import numpy as np

    # doubles whose SHORTEST decimal is exactly the .5 midpoint round
    # HALF_UP (away from zero) — the class Spark's BigDecimal path and
    # this binary path agree on
    S_arr = np.array([0.00005, -0.00005, 0.12335, 1.0, -1.0])
    units = S._half_up_units(S_arr)
    assert units.tolist() == [1, -1, 1234, 10000, -10000]
