"""Pins for `session.literal_frame`, the one way to turn driver-side
rows into a frame: it returns what `createDataFrame(rows, schema)`
returns, no package module builds a literal any other way, and the
literal plans as a JVM `LocalTableScan` instead of a Python RDD
scan."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal
from pathlib import Path

import pytest
from pyspark.sql import Row

from healthcare_research_data_pipeline_project_spark import queries as Q
from healthcare_research_data_pipeline_project_spark import session
from healthcare_research_data_pipeline_project_spark.session import literal_frame

from .conftest import SF_SMOKE

#: every column type the package's literal sites use, plus null cells,
#: `Row` inputs and zero rows
CASES = {
    "scalars": (
        [(1, 2, 0.5, "a", True), (-(2**40), None, float("inf"), None, None)],
        "l long, i int, d double, s string, b boolean",
    ),
    "date_timestamp": (
        [(dt.date(2024, 2, 29), dt.datetime(2024, 3, 1, 12, 30, 5, 7)),
         (None, None)],
        "d date, ts timestamp",
    ),
    "decimal": ([(Decimal("12.34"),), (None,)], "x decimal(18,2)"),
    "array_double": ([([1.0, -2.5],), ([],), (None,)], "v array<double>"),
    "codebooks": (
        [([[[0.0, 1.0], [2.0, 3.0]], [[4.0, 5.0]]],)],
        "__cb array<array<array<double>>>",
    ),
    "windows": (
        [("k", [(float("-inf"), 1.0), (1.0, 2.5)], None)],
        "g string, w array<struct<lo:double,hi:double>>, m double",
    ),
    "rows": (
        [Row(d=dt.date(2024, 1, 1), dow=1, cents=10),
         Row(d=dt.date(2024, 1, 2), dow=2, cents=None)],
        "d date, dow int, cents long",
    ),
    "empty": ([], "node long, rank double, converged boolean"),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_parity_with_create_data_frame(spark, case):
    rows, schema = CASES[case]
    got = literal_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "Scan ExistingRDD" not in plan, plan


def test_only_literal_frame_builds_frames():
    pkg = Path(session.__file__).parent
    allowed = {"session.py", "sources/readers.py"}
    callers = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if "createDataFrame" in p.read_text()
    )
    assert set(callers) <= allowed, callers


def test_ivf_centroids_plan_as_local_table_scan(spark):
    Q.load_all()
    df = Q.QUERIES["sim_ivf_topk"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "Scan ExistingRDD" not in plan
