from __future__ import annotations

import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from healthcare_research_data_pipeline_project_spark.healthcare.mapping import (
    WAREHOUSE_CACHE_ROOT,
)
from healthcare_research_data_pipeline_project_spark.session import get_spark
from healthcare_research_data_pipeline_project_spark.tables import (
    SPLIT_CACHE_ROOT,
    source_id,
)

# CI machines without the driver's /root/testdata synthesize their own
# tables (tools/make_testdata.py) and point here via the env var; both
# SFs fall back to the same generated dir when only one exists
_TD = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = os.path.join(_TD, "sf0.001")
SF_ORACLE = (
    os.path.join(_TD, "sf0.01")
    if os.path.isdir(os.path.join(_TD, "sf0.01"))
    else SF_SMOKE
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="hrdp-spark-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(autouse=True)
def _drop_tmp_path_caches(request):
    """Removes, when a test that uses `tmp_path` ends, every split-cache
    and warehouse-cache entry built from a source below its `tmp_path`
    (entries are named `<source_id>-<key>`): those sources are gone
    after the run, so their entries would never be read or pruned."""
    if "tmp_path" not in request.fixturenames:
        yield
        return
    tmp = request.getfixturevalue("tmp_path")
    yield
    ids = {
        source_id(os.path.join(parent, name))
        for parent, dirs, files in os.walk(tmp)
        for name in dirs + files
    }
    for root in (SPLIT_CACHE_ROOT, WAREHOUSE_CACHE_ROOT):
        for entry in os.listdir(root) if os.path.isdir(root) else ():
            if entry.split("-", 1)[0] in ids:
                shutil.rmtree(os.path.join(root, entry), ignore_errors=True)
