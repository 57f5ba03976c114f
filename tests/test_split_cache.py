"""Pins for the split-layout cache (`tables._spread`): the driver's
testdata ships one row group per file, so without intervention every
fact scan is one task. The cache relays the file into
`defaultParallelism` files ONCE (rename-committed, content-keyed on
source mtime/size); every subsequent read parallelizes at the scan
with zero per-query exchange. On multi-split warehouse inputs
(>=128 MB) the path short-circuits and never runs."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from healthcare_research_data_pipeline_project_spark.healthcare import mapping
from healthcare_research_data_pipeline_project_spark.tables import (
    _split_cache_dir,
    _spread,
    ensure_cache,
    prune_cache_siblings,
    source_id,
    table,
)
from tests.conftest import SF_SMOKE


def test_split_cache_scan_is_parallel_with_no_exchange(spark):
    li = table(spark, SF_SMOKE, "lineitem")
    assert li.rdd.getNumPartitions() > 1
    # the parallelism comes from the file layout, not a shuffle
    plan = li._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_split_cache_rows_identical_to_source(spark):
    cached = table(spark, SF_SMOKE, "lineitem")
    raw = table(spark, SF_SMOKE, "lineitem", spread=False)
    assert cached.exceptAll(raw).count() == 0
    assert raw.exceptAll(cached).count() == 0


def test_split_cache_commit_marker_and_reuse(spark):
    path = os.path.join(SF_SMOKE, "orders.parquet")
    table(spark, SF_SMOKE, "orders").count()
    cache = _split_cache_dir(path, spark.sparkContext.defaultParallelism)
    assert os.path.exists(os.path.join(cache, "_DONE"))
    before = sorted(os.listdir(cache))
    table(spark, SF_SMOKE, "orders").count()  # hit, not rebuild
    assert sorted(os.listdir(cache)) == before


def test_split_cache_key_tracks_source_and_parallelism(spark):
    path = os.path.join(SF_SMOKE, "orders.parquet")
    a = _split_cache_dir(path, 8)
    b = _split_cache_dir(path, 16)
    c = _split_cache_dir(os.path.join(SF_SMOKE, "lineitem.parquet"), 8)
    assert len({a, b, c}) == 3


def test_split_cache_prunes_stale_siblings_and_orphans(spark, tmp_path):
    # regenerated testdata (new mtime -> new key) must not accumulate
    # full table copies: committing a rebuild prunes committed
    # siblings of the same source ONCE THEY AGE PAST AN HOUR (r10
    # ADVICE: unconditional pruning could delete the cache a
    # concurrent process with a different nparts was actively reading
    # mid-query), and reaps orphaned .building-* staging dirs older
    # than four hours (crash leftovers; a live long build is spared)
    import shutil
    import time

    src = str(tmp_path / "orders.parquet")
    shutil.copy(os.path.join(SF_SMOKE, "orders.parquet"), src)
    nparts = spark.sparkContext.defaultParallelism
    table(spark, str(tmp_path), "orders").count()
    old_cache = _split_cache_dir(src, nparts)
    assert os.path.exists(os.path.join(old_cache, "_DONE"))
    # a crashed build's orphan, stale past the 4 h reap gate
    orphan = f"{old_cache}.building-99999-deadbeef"
    os.makedirs(orphan, exist_ok=True)
    os.utime(orphan, (time.time() - 5 * 3600, time.time() - 5 * 3600))
    # a RECENT orphan (a possibly-live concurrent build) must survive
    live_orphan = f"{old_cache}.building-99998-cafecafe"
    os.makedirs(live_orphan, exist_ok=True)
    # regenerate the source: same bytes, new mtime -> new cache key
    os.utime(src, None)
    table(spark, str(tmp_path), "orders").count()
    new_cache = _split_cache_dir(src, nparts)
    assert new_cache != old_cache
    assert os.path.exists(os.path.join(new_cache, "_DONE"))
    # the old sibling is FRESH (just built) -> age-gated, spared for
    # any concurrent reader
    assert os.path.exists(old_cache), "fresh sibling must survive the gate"
    assert os.path.exists(live_orphan), "recent .building must survive"
    assert not os.path.exists(orphan), "stale .building orphan not reaped"
    # backdate the old sibling past the gate; the next commit of ANY
    # same-source vintage prunes it
    os.utime(old_cache, (time.time() - 7200, time.time() - 7200))
    os.utime(src, None)
    table(spark, str(tmp_path), "orders").count()
    assert not os.path.exists(old_cache), "aged sibling not pruned"


def test_directory_source_over_one_split_passes_through(spark, tmp_path):
    # the size test reads the directory's data bytes, not the size of
    # its inode: a 130 MB part file already splits at the scan
    src = tmp_path / "orders.parquet"
    src.mkdir()
    part = src / "part-0.parquet"
    part.touch()
    os.truncate(part, 130 * 1024 * 1024)  # sparse: no disk blocks
    df = object()  # never read: the passthrough returns it untouched
    assert _spread(spark, df, str(src)) is df
    cache = _split_cache_dir(str(src), spark.sparkContext.defaultParallelism)
    assert not os.path.exists(cache)


def test_prune_cache_siblings_is_age_gated(tmp_path):
    import time

    def entry(name, age_s=0.0):
        d = tmp_path / name
        d.mkdir()
        t = time.time() - age_s
        os.utime(d, (t, t))
        return name

    cache = entry("aaaa0000-current")
    kept = {
        cache,
        entry("aaaa0000-fresh"),  # a concurrent vintage: spared
        entry("bbbb1111-old", 7200),  # another source's cache
        entry("aaaa0000-fresh.building-1-cafecafe", 3 * 3600),  # live build
    }
    entry("aaaa0000-old", 7200)
    entry("aaaa0000-old.building-2-deadbeef", 5 * 3600)
    entry("cccc2222-crashed.building-3-feedface", 5 * 3600)
    prune_cache_siblings(str(tmp_path / cache))
    assert set(os.listdir(tmp_path)) == kept


def test_failed_cache_build_leaves_no_staging_dir(tmp_path):
    def write(tmp):
        os.makedirs(tmp)
        open(os.path.join(tmp, "part-0.parquet"), "w").close()
        raise RuntimeError("build failed part-way")

    cache = str(tmp_path / "aaaa0000-key")
    with pytest.raises(RuntimeError, match="part-way"):
        ensure_cache(cache, write)
    assert os.listdir(tmp_path) == []


def test_warehouse_cache_named_by_data_dir():
    # the split cache's naming rule: sibling SFs never prune each other
    sf_a, sf_b = SF_SMOKE, os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")
    a = os.path.basename(mapping._warehouse_cache_dir(sf_a))
    b = os.path.basename(mapping._warehouse_cache_dir(sf_b))
    assert a.startswith(source_id(sf_a) + "-")
    assert b.startswith(source_id(sf_b) + "-")
    assert source_id(sf_a) != source_id(sf_b)


def test_events_ts_normalized_through_cache(spark):
    ev = table(spark, SF_SMOKE, "events")
    assert ev.schema["ts"].dataType.typeName() == "timestamp"
    assert ev.filter(F.col("ts").isNull()).count() == 0
