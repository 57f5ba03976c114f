"""Warehouse-mapping bound checks, and the facts' bucket count.

The composite-argmax key in hc_q7 packs (lab_time_id, result_id) into
one bigint as time_id * mapping.RESULT_ID_PACK + result_id — order-
preserving only while result_id < RESULT_ID_PACK. These tests assert
that bound against the GENERATED warehouse (not the docstring), so a
future id-scheme change (wider lab_key packing, bigger key offsets)
fails loudly here instead of silently changing which row an argmax
picks (the old ROW_NUMBER form degraded gracefully; the packed form
does not).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from healthcare_research_data_pipeline_project_spark.healthcare.mapping import (
    RESULT_ID_PACK,
    TIME_ID_MAX,
    _bucket_count,
    _fact_buckets,
    _warehouse_cache_dir,
    ensure_warehouse,
)
from healthcare_research_data_pipeline_project_spark.session import (
    default_parallelism,
)

from .conftest import SF_SMOKE


def test_result_id_under_pack_bound(spark):
    ensure_warehouse(spark, SF_SMOKE)
    mx = spark.table("fact_lab_results").agg(
        F.max("result_id").alias("mx"), F.min("result_id").alias("mn")
    ).collect()[0]
    assert mx["mn"] >= 0
    assert mx["mx"] < RESULT_ID_PACK
    # the packed key itself must also fit a signed bigint at the
    # calendar's max time_id
    assert TIME_ID_MAX * RESULT_ID_PACK + mx["mx"] < 2**63


def test_lab_time_id_within_calendar(spark):
    ensure_warehouse(spark, SF_SMOKE)
    r = spark.table("fact_lab_results").agg(
        F.max("lab_time_id").alias("mx"), F.min("lab_time_id").alias("mn")
    ).collect()[0]
    assert 0 <= r["mn"] and r["mx"] <= TIME_ID_MAX


def test_bucket_count_is_cores_until_volume_binds():
    assert _bucket_count(140_000, 1) == 1
    assert _bucket_count(int(13.5 * 2**20), 4) == 4
    # 100 GB of sources in 128 MiB scan splits outnumber 4 cores
    assert _bucket_count(100 * 2**30, 4) == 800


def test_warehouse_entry_follows_core_count(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    three = _warehouse_cache_dir(SF_SMOKE)
    assert _fact_buckets(SF_SMOKE) == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    assert _fact_buckets(SF_SMOKE) == 5
    assert _warehouse_cache_dir(SF_SMOKE) != three
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _warehouse_cache_dir(SF_SMOKE) == three


def test_core_count_falls_back_to_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_parallelism() == len(os.sched_getaffinity(0))
