"""End-to-end corpus tests: every registered query vs its DuckDB oracle
at sf0.001 (the driver runs the same comparison at sf0.01 —
SURVEY.md §5 'our test strategy' item (1))."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from healthcare_research_data_pipeline_project_spark import queries as Q
from healthcare_research_data_pipeline_project_spark.tables import TABLE_NAMES

from .conftest import SF_SMOKE

Q.load_all()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    yield con
    con.close()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(
            lambda v: "NULL"
            if v is None or (isinstance(v, float) and pd.isna(v))
            else repr(v)
        )
    return df.sort_values(list(df.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", sorted(Q.QUERIES))
def test_query_matches_oracle(name, spark, duck):
    sdf = Q.QUERIES[name](spark, SF_SMOKE).toPandas()
    if name not in Q.ORACLE:
        # rows-only contract: must run and return a stable schema
        assert sdf.columns.tolist()
        return
    odf = duck.execute(Q.ORACLE[name]).fetchdf()
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert len(sdf) == len(odf)
    pd.testing.assert_frame_equal(canon(sdf), canon(odf))


def test_gate_window_leads_the_registry():
    # the driver gate reads the first 50 registered rows, so the sorted
    # registry must open with GATE_PRIORITY in its order, and its first
    # 11 names are the bench.py headline
    Q.load_all()
    assert len(Q.GATE_PRIORITY) == 50
    assert list(Q.QUERIES)[: len(Q.GATE_PRIORITY)] == Q.GATE_PRIORITY
    head = Q.GATE_PRIORITY[:11]
    assert head[0] == "exec_summary"
    assert [n.split("_")[:2] for n in head[1:]] == [
        ["hc", f"q{i}"] for i in range(1, 11)
    ]
