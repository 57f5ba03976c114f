"""Unit tests for reusable operators on tiny in-memory fixtures
(reference's unit-test shape, healthcare-tests.py:207-265 style)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from healthcare_research_data_pipeline_project_spark.functions.helpers import round_div
from healthcare_research_data_pipeline_project_spark.operators import relational as R


def test_band_self_join_pairs(spark):
    df = spark.createDataFrame(
        [
            (1, dt.date(2024, 1, 1)),
            (1, dt.date(2024, 1, 20)),   # within 30d of first
            (1, dt.date(2024, 3, 1)),    # outside
            (2, dt.date(2024, 1, 1)),    # different key
        ],
        "pid long, d date",
    )
    pairs = R.band_self_join(df, "pid", "d", 1, 30)
    got = [(r["a.pid"] if "a.pid" in r else r[0]) for r in pairs.collect()]
    assert pairs.count() == 1


def test_exists_flag(spark):
    left = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    right = spark.createDataFrame([(2,), (2,), (3,)], "k long")
    out = {r["k"]: r["has"] for r in R.exists_flag(left, right, "k", "has").collect()}
    assert out == {1: 0, 2: 1, 3: 1}


def test_latest_per_key_deterministic_ties(spark):
    df = spark.createDataFrame(
        [(1, dt.date(2024, 1, 5), 10), (1, dt.date(2024, 1, 5), 20), (2, dt.date(2024, 2, 1), 30)],
        "k long, d date, id long",
    )
    latest = R.latest_per_key(df, "k", [F.desc("d"), F.desc("id")])
    out = {r["k"]: r["id"] for r in latest.collect()}
    assert out == {1: 20, 2: 30}


def test_topn_per_group(spark):
    df = spark.createDataFrame(
        [(g, i, i * 10) for g in ("a", "b") for i in range(5)], "g string, i long, v long"
    )
    top2 = R.topn_per_group(df, "g", [F.desc("v"), "i"], 2)
    assert top2.count() == 4
    assert {r["v"] for r in top2.collect()} == {40, 30}


def test_bucketize_edges(spark):
    df = spark.createDataFrame([(0,), (49,), (50,), (99,), (100,)], "x long")
    out = df.select(
        "x", R.bucketize(F.col("x"), [50, 100], ["lo", "mid", "hi"]).alias("b")
    )
    got = {r["x"]: r["b"] for r in out.collect()}
    assert got == {0: "lo", 49: "lo", 50: "mid", 99: "mid", 100: "hi"}


def test_round_div_half_up_exact_ties(spark):
    # 189/40 = 4.725 — the shortest-repr-vs-binary rounding trap
    df = spark.createDataFrame([(189, 40), (1, 3), (5, 2)], "n long, d long")
    out = df.select(round_div(F.col("n"), F.col("d"), "r", 2)).collect()
    assert [r["r"] for r in out] == [4.73, 0.33, 2.5]


def test_distribution_pct_sums_to_100(spark):
    df = spark.createDataFrame([("a",)] * 3 + [("b",)] * 1, "s string")
    rows = R.distribution_pct(df, "s").collect()
    assert {r["s"]: r["pct"] for r in rows} == {"a": 75.0, "b": 25.0}


def test_column_quality_nulls(spark):
    df = spark.createDataFrame([(1, None), (2, "x"), (None, "y")], "a string, b string")
    rows = {
        r["column_name"]: (r["null_count"], r["completeness_pct"])
        for r in R.column_quality(df, "t", ["a", "b"]).collect()
    }
    assert rows == {"a": (1, 66.67), "b": (1, 66.67)}


# ---------------------------------------------------------------------------
# events loader: dtype guard across testdata vintages + conf hygiene
# (the driver's testdata has shipped ts as BOTH parquet TIMESTAMP(NANOS)
# and native timestamp[us]; the loader must read either and must leave
# the shared session's conf exactly as it found it — tables.py)
# ---------------------------------------------------------------------------
def test_events_loader_reads_nanos_vintage_and_restores_conf(spark, tmp_path):
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from healthcare_research_data_pipeline_project_spark.tables import table

    sf_dir = tmp_path / "sfnanos"
    sf_dir.mkdir()
    ts = pd.date_range("2024-03-01 12:00:00", periods=6, freq="h")
    t = pa.table(
        {
            "event_id": pa.array(range(6), type=pa.int64()),
            "user_id": pa.array([1, 1, 2, 2, 3, 3], type=pa.int64()),
            "ts": pa.array(ts, type=pa.timestamp("ns")),
        }
    )
    pq.write_table(t, str(sf_dir / "events.parquet"), version="2.6")

    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key, None)
    df = table(spark, str(sf_dir), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = [r["ts"] for r in df.orderBy("event_id").collect()]
    assert got[0] == ts[0].to_pydatetime()
    assert got[-1] == ts[-1].to_pydatetime()
    assert spark.conf.get(key, None) == before  # conf left as found

    # µs vintage loads through the same guard
    sf_dir2 = tmp_path / "sfmicros"
    sf_dir2.mkdir()
    t2 = t.set_column(2, "ts", pa.array(ts, type=pa.timestamp("us")))
    pq.write_table(t2, str(sf_dir2 / "events.parquet"), version="2.6")
    df2 = table(spark, str(sf_dir2), "events")
    assert dict(df2.dtypes)["ts"] == "timestamp"
    assert df2.count() == 6
    assert spark.conf.get(key, None) == before
