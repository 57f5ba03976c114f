"""Untimed priming step, run by `run.py` once per checkout (and again
whenever the package or the benchmark changes).

1. Generates the sf0.1 tables with `tools/make_testdata.py` (fixed seeds)
   and trims documents/embeddings to the reference row counts
   (`common.TRIM_ROWS`).
2. Builds the package's content-keyed caches: the multi-file relayout of
   every table (`tables.table`) and the bucketed warehouse
   (`healthcare.mapping.ensure_warehouse`), whose entry for this data is
   removed first so the build is cold and timed as `mapping.cold_build_s`.
3. Generates and loads the `api_ingest` tables (`workloads.load_api_tables`,
   timed as `api.load_s`); each run reads them and writes its ingest
   versions beside its own temporary files.
4. Stores every query row's DuckDB oracle answer (`oracle.build`).

Usage: python3 perfbench/prime.py   (normally started by run.py)
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import sys
import time

from common import API_DIR, DATA_DIR, PRIME_FILE, ROOT, STATE, TRIM_ROWS, source_fingerprint

sys.path.insert(0, ROOT)


def make_data() -> None:
    if os.path.exists(os.path.join(DATA_DIR, "_DONE")):
        return
    import pyarrow.parquet as pq

    spec = importlib.util.spec_from_file_location(
        "make_testdata", os.path.join(ROOT, "tools", "make_testdata.py")
    )
    mk = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mk)
    tmp = DATA_DIR + ".building"
    shutil.rmtree(tmp, ignore_errors=True)
    mk.build(tmp, 0.1)
    for name, n in TRIM_ROWS.items():
        path = os.path.join(tmp, f"{name}.parquet")
        pq.write_table(pq.read_table(path).slice(0, n), path)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(DATA_DIR, ignore_errors=True)
    os.rename(tmp, DATA_DIR)


def main() -> int:
    t0 = time.monotonic()
    make_data()
    data_s = time.monotonic() - t0

    from healthcare_research_data_pipeline_project_spark import queries as Q
    from healthcare_research_data_pipeline_project_spark import tables
    from healthcare_research_data_pipeline_project_spark.healthcare import mapping
    from healthcare_research_data_pipeline_project_spark.session import get_spark

    import oracle
    from workloads import QUERY_ROWS, load_api_tables

    Q.load_all()
    spark = get_spark(app_name="perfbench-prime")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for name in tables.TABLE_NAMES:
            tables.table(spark, DATA_DIR, name).count()
        # always a cold build, so `mapping.cold_build_s` is comparable;
        # the cache's entries for other data directories are kept
        shutil.rmtree(mapping._warehouse_cache_dir(DATA_DIR), ignore_errors=True)
        t = time.monotonic()
        mapping.ensure_warehouse(spark, DATA_DIR)
        cold_build_s = time.monotonic() - t
        shutil.rmtree(API_DIR, ignore_errors=True)
        t = time.monotonic()
        load_api_tables(spark, API_DIR)
        api_load_s = time.monotonic() - t
    finally:
        spark.stop()

    oracle.build(QUERY_ROWS, dict(Q.ORACLE))
    with open(PRIME_FILE, "w") as f:
        json.dump(
            {
                "fingerprint": source_fingerprint(),
                "data_s": data_s,
                "cold_build_s": cold_build_s,
                "api_load_s": api_load_s,
                "prime_s": time.monotonic() - t0,
            },
            f,
        )
    print(f"primed {STATE} in {time.monotonic() - t0:.1f}s", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
