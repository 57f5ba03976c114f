"""Driver/distributed regime parity through the one seam,
`session.driver_rows`: every size split runs by default (driver side
at test scale) and under `distributed_regime()`, and both must return
identical rows, or raise the same `ValueError` on input that breaks
the operator's contract. Splits already pinned by their own forced
tests (graph loops, kmeans training, exact-percentile assembly) are
not repeated here. A guard keeps the capped-fetch idiom inside
`session.py`."""

from __future__ import annotations

import re
import threading
from contextlib import nullcontext
from operator import methodcaller
from pathlib import Path

import pytest

from healthcare_research_data_pipeline_project_spark import queries as Q
from healthcare_research_data_pipeline_project_spark import session
from healthcare_research_data_pipeline_project_spark.caching import unpersist_tracked
from healthcare_research_data_pipeline_project_spark.operators import scale as SC
from healthcare_research_data_pipeline_project_spark.operators.clustering import kmeans
from healthcare_research_data_pipeline_project_spark.operators.graph import (
    decremental_dedup_clusters,
    incremental_dedup_clusters,
)
from healthcare_research_data_pipeline_project_spark.plans.explain import (
    capture_build_actions,
)
from healthcare_research_data_pipeline_project_spark.session import (
    distributed_regime,
    driver_rows,
)
from healthcare_research_data_pipeline_project_spark.tables import load_tables

from .conftest import SF_SMOKE

Q.load_all()

_ASSIGNMENTS = "doc_id long, cluster_id long, cluster_size long, is_keeper int"


def _seasonal_anomaly(spark, monkeypatch):
    return Q.QUERIES["t_seasonal_anomaly"](spark, SF_SMOKE)


def _union_find_fallback(spark, monkeypatch):
    # deleting 41 leaves one survivor pair (40 and 42 share k6), so the
    # forced run sends `collected_union_find` over its cap and into
    # `connected_components`; deleting 2 splits a chain
    stored = spark.createDataFrame(
        [(1, 1, 3, 1), (2, 1, 3, 0), (3, 1, 3, 0), (10, 10, 2, 1),
         (11, 10, 2, 0), (40, 40, 3, 1), (41, 40, 3, 0), (42, 40, 3, 0)],
        _ASSIGNMENTS,
    )
    index = spark.createDataFrame(
        [(1, "k1"), (2, "k1"), (2, "k2"), (3, "k2"), (10, "k3"),
         (11, "k3"), (40, "k6"), (41, "k6"), (42, "k6")],
        "doc_id long, band_key string",
    )
    dels = spark.createDataFrame([(2,), (10,), (41,)], "doc_id long")
    return decremental_dedup_clusters(stored, index, dels)


def _percentiles_broadcast_windows(spark, monkeypatch):
    # no literal when-chains: the driver regime broadcasts its window
    # table, the branch no corpus query reaches at test scale
    monkeypatch.setattr(SC, "_LITERAL_WINDOWS_CAP", 0)
    return SC.exact_percentiles_multi(
        load_tables(spark, SF_SMOKE).lineitem,
        ["l_returnflag"],
        {"p50": ("l_extendedprice", 0.5), "p90": ("l_quantity", 0.9)},
    )


def _orphan_pair_endpoint(spark, monkeypatch):
    # 99 is in neither the stored assignments nor the delta batch
    stored = spark.createDataFrame(
        [(1, 1, 2, 1), (2, 1, 2, 0)], _ASSIGNMENTS
    )
    delta_docs = spark.createDataFrame([(5,)], "doc_id long")
    pairs = spark.createDataFrame([(1, 5), (5, 99)], "id_a long, id_b long")
    return incremental_dedup_clusters(stored, delta_docs, pairs)


def _kmeans_empty(spark, monkeypatch):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    return kmeans(empty, k=2)[0]


#: case -> (build, the error both regimes must raise or None)
CASES = {
    "t_seasonal_anomaly": (_seasonal_anomaly, None),
    "collected_union_find_fallback": (_union_find_fallback, None),
    "percentiles_broadcast_windows": (_percentiles_broadcast_windows, None),
    "incremental_clusters_orphan_endpoint": (
        _orphan_pair_endpoint, "pair endpoint 99 is in neither",
    ),
    "kmeans_empty_input": (_kmeans_empty, "non-empty input"),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_regimes_agree(spark, monkeypatch, case):
    build, error = CASES[case]
    outcomes = []
    for regime in (nullcontext, distributed_regime):
        with regime():
            if error is None:
                rows = build(spark, monkeypatch).collect()
                outcomes.append(sorted(map(repr, rows)))
            else:
                with pytest.raises(ValueError, match=error) as raised:
                    build(spark, monkeypatch)
                outcomes.append(str(raised.value))
        unpersist_tracked()
    assert outcomes[0] == outcomes[1]
    if error is None:
        assert outcomes[0], "an empty result pins nothing"


def test_union_find_fallback_fetches_once(spark, monkeypatch):
    # the driver regime is its one capped collect; over the cap the
    # label loop starts from the persisted edges, with no second fetch
    # (seed write + one write per round)
    actions = []
    for regime in (nullcontext, distributed_regime):
        with regime(), capture_build_actions() as acts:
            _union_find_fallback(spark, monkeypatch)
        unpersist_tracked()
        actions.append([a for a, _p in acts])
    assert actions[0] == ["collect"]
    assert actions[1].count("collect") == 1 and len(actions[1]) < 5, actions


def test_driver_rows_contract(spark):
    three = spark.range(3)
    assert len(driver_rows(three, 3)) == 3
    assert driver_rows(three, 2) is None
    arrow = driver_rows(three, 3, fetch=methodcaller("toArrow"))
    assert arrow.num_rows == 3
    assert driver_rows(three, 2, fetch=methodcaller("toArrow")) is None
    with distributed_regime():
        assert driver_rows(three, 3) is None
        assert driver_rows(spark.range(0), 3) == []
        # a request thread starts from an empty context: a test's
        # forcing never reaches concurrent serving code
        seen = []
        worker = threading.Thread(
            target=lambda: seen.append(driver_rows(three, 3))
        )
        worker.start()
        worker.join()
        assert len(seen[0]) == 3
    assert len(driver_rows(three, 3)) == 3


#: every size split and the number of `driver_rows` calls it owns
_SPLITS = {
    "operators/graph.py": 5,
    "operators/clustering.py": 1,
    "operators/scale.py": 1,
    "queries/datapipe9.py": 1,
}
_CAPPED_FETCH = re.compile(r"\.limit\(\s*[\w.]+\s*\+\s*1\s*\)")


def test_only_driver_rows_makes_capped_fetches():
    pkg = Path(session.__file__).parent
    # alerts.py truncates an e-mail body at max_rows; no regime choice
    allowed = {"session.py", "streaming/alerts.py"}
    fetchers = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if _CAPPED_FETCH.search(p.read_text())
    )
    assert set(fetchers) <= allowed, fetchers
    calls = {
        str(p.relative_to(pkg)): p.read_text().count("driver_rows(")
        for p in pkg.rglob("*.py")
        if p.name != "session.py"
    }
    assert {k: v for k, v in calls.items() if v} == _SPLITS
