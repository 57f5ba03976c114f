"""Pins for the session memo (`session.memo`) and its content rule
(`session.fingerprint`): a memoized value is served only while the
content it was built from is unchanged, a pruned on-disk cache misses
instead of serving a dead relation, and a new Spark application starts
from an empty memo."""

from __future__ import annotations

import os
import shutil
from pathlib import Path
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from healthcare_research_data_pipeline_project_spark import session
from healthcare_research_data_pipeline_project_spark.healthcare import mapping
from healthcare_research_data_pipeline_project_spark.healthcare.dialect import SPARK
from healthcare_research_data_pipeline_project_spark.session import memo
from healthcare_research_data_pipeline_project_spark.tables import (
    SPREAD_TABLES,
    TABLE_NAMES,
    _split_cache_dir,
    table,
    table_path,
)
from tests.conftest import SF_SMOKE


def _stub(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture
def own_memo(monkeypatch):
    """An empty memo for stub applications; the test session's entries
    come back untouched afterwards."""
    monkeypatch.setattr(session, "_memo", {})
    monkeypatch.setattr(session, "_memo_app", None)


@pytest.mark.parametrize("spread", [False, True])
def test_dir_table_rewritten_in_place_reads_fresh(spark, tmp_path, spread):
    part = tmp_path / "orders.parquet" / "part-0.parquet"
    part.parent.mkdir()
    pq.write_table(pa.table({"x": [1, 2, 3]}), part)
    src = str(part.parent)
    nparts = spark.sparkContext.defaultParallelism
    caches = [_split_cache_dir(src, nparts)]
    try:
        first = table(spark, str(tmp_path), "orders", spread=spread)
        assert sorted(r.x for r in first.collect()) == [1, 2, 3]
        # same part-file name: the directory's own stat does not move
        pq.write_table(pa.table({"x": [10, 20, 30, 40, 50]}), part)
        caches.append(_split_cache_dir(src, nparts))
        again = table(spark, str(tmp_path), "orders", spread=spread)
        assert sorted(r.x for r in again.collect()) == [10, 20, 30, 40, 50]
    finally:
        for c in caches:
            shutil.rmtree(c, ignore_errors=True)


def test_pruned_split_cache_misses(spark, tmp_path):
    src = str(tmp_path / "orders.parquet")
    shutil.copy(table_path(SF_SMOKE, "orders"), src)
    n = table(spark, str(tmp_path), "orders").count()
    cache = _split_cache_dir(src, spark.sparkContext.defaultParallelism)
    assert os.path.exists(os.path.join(cache, "_DONE"))
    shutil.rmtree(cache)  # another process's age-gated hygiene
    try:
        assert table(spark, str(tmp_path), "orders").count() == n
    finally:
        shutil.rmtree(cache, ignore_errors=True)


def test_new_application_drops_entries(own_memo):
    old = memo(_stub("app-1"), "kind", "k", object)
    assert memo(_stub("app-1"), "kind", "k", object) is old
    memo(_stub("app-2"), "other", "k", object)
    assert ("kind", "k") not in session._memo
    assert memo(_stub("app-2"), "kind", "k", object) is not old


def test_memo_rebuilds_on_content_change_only(own_memo, tmp_path):
    src = tmp_path / "src.bin"
    src.write_bytes(b"a")
    app = _stub("app-1")
    first = memo(app, "kind", "k", object, [str(src)])
    assert memo(app, "kind", "k", object, [str(src)]) is first
    src.write_bytes(b"bb")
    assert memo(app, "kind", "k", object, [str(src)]) is not first


def test_ensure_warehouse_switch_back_reregisters(spark, tmp_path):
    # B is a copy of A under another path: the registered tables'
    # locations tell which warehouse is being served
    other = tmp_path / "sf"
    other.mkdir()
    for n in TABLE_NAMES:
        shutil.copy(table_path(SF_SMOKE, n), other)
    nparts = spark.sparkContext.defaultParallelism
    leftovers = [mapping._warehouse_cache_dir(str(other))] + [
        _split_cache_dir(table_path(str(other), n), nparts) for n in SPREAD_TABLES
    ]
    names = [n for n, _sql in mapping.mapping_ctes(SPARK)]
    try:
        mapping.ensure_warehouse(spark, SF_SMOKE)
        mapping.ensure_warehouse(spark, str(other))
        mapping.ensure_warehouse(spark, SF_SMOKE)
        served = mapping._warehouse_cache_dir(SF_SMOKE)
        for n in names:
            files = spark.table(n).inputFiles()
            assert files and all(served in f for f in files), n
    finally:
        for d in leftovers:
            shutil.rmtree(d, ignore_errors=True)


def test_application_id_read_only_in_session():
    pkg = Path(session.__file__).parent
    readers = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if p != pkg / "session.py" and "applicationId" in p.read_text()
    )
    assert readers == []
