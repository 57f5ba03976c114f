"""Healthcare star schema derived deterministically from the driver's
TPC-H tables (FIXTURES.md §2-§3 schemas; attribute domains per the
reference DDL, healthcare-sql-analytics.sql:10-139).

Why derive instead of generate: the correctness gate compares Spark
against DuckDB over the *same parquet inputs*, so the warehouse must
be a pure function of those inputs expressible in both dialects. Every
synthesized attribute is `hmod`-derived (md5-based), giving identical
values in both engines at any scale factor.

Entity mapping:
  customer → dim_patient        supplier → dim_provider
  part     → dim_diagnosis      calendar → dim_time (day grain)
  orders   → fact_encounters    lineitem⋈orders → fact_lab_results,
  (VALUES) → dim_medication                       fact_medication_orders
  events   → audit_log (+ user_patient_relationship)

Scale posture: facts inherit the base tables' partitioning; dims stay
dim-sized (constant or slowly growing). `time_id` is days since
1995-01-01, so the reference's integer time_id arithmetic (±30 days —
SURVEY §7.3) is reproduced literally.
"""

from __future__ import annotations

import hashlib
import math
import os

from ..session import default_parallelism, fingerprint, memo
from ..tables import (
    SPLIT_CACHE_ROOT,
    TABLE_NAMES,
    ensure_cache,
    register_views,
    source_id,
    table_path,
)
from .dialect import SPARK as _SPARK_DIALECT
from .dialect import Dialect

#: pinned "today" for the reference's GETDATE()/CURRENT_DATE and its
#: hardcoded analysis year (2024→2000) / age anchor (2025 kept) —
#: SURVEY §7.8.
ANCHOR_DATE = "2001-08-01"
ANALYSIS_YEAR = 2000
AGE_ANCHOR = 2025

EPOCH = "1995-01-01"

#: dim_time covers EPOCH..2001-12-31 → time_id ∈ [0, TIME_ID_MAX].
#: An inner join against dim_time is therefore equivalent to this range
#: filter (the calendar is dense), letting queries skip the join when
#: they only need ordering/filtering on time_id.
TIME_ID_MAX = 2556  # (date(2001,12,31) - date(1995,1,1)).days

#: result_id/order_id are packed as l_orderkey * 8 + l_linenumber
#: (`mapping_ctes` lab_key). Composite-argmax keys pack
#: (lab_time_id, result_id) into ONE bigint as
#: time_id * RESULT_ID_PACK + result_id, which is order-preserving
#: only while result_id < RESULT_ID_PACK — i.e. l_orderkey below
#: ~1.25e11, far past TPC-H sf100k. The bound is ASSERTED against the
#: generated warehouse by tests/test_warehouse_mapping.py (and
#: re-derivable here rather than a magic literal in query text), so
#: an id-scheme change fails loudly instead of silently changing
#: which row an argmax picks.
RESULT_ID_PACK = 10**12

ICD10_CODES = [
    "A41.0", "A41.9", "E11.9", "E11.21", "E11.36", "E11.40", "E11.51",
    "E11.65", "I10", "I25.1", "J44.1", "J44.9", "N18.3", "N18.5",
    "Z94.0", "C50.9", "C34.1", "F32.9", "M54.5", "K21.9",
]

MEDICATIONS = [
    (0, "0.9% saline", "Fluid"),
    (1, "lactated ringers", "Fluid"),
    (2, "vancomycin", "Antibiotic"),
    (3, "piperacillin-tazobactam", "Antibiotic"),
    (4, "ceftriaxone", "Antibiotic"),
    (5, "levofloxacin", "Antibiotic"),
    (6, "meropenem", "Antibiotic"),
    (7, "metformin", "Antidiabetic"),
    (8, "insulin glargine", "Antidiabetic"),
    (9, "lisinopril", "Antihypertensive"),
    (10, "amlodipine", "Antihypertensive"),
    (11, "albuterol", "Bronchodilator"),
    (12, "prednisone", "Corticosteroid"),
    (13, "heparin", "Anticoagulant"),
    (14, "warfarin", "Anticoagulant"),
    (15, "morphine", "Analgesic"),
    (16, "acetaminophen", "Analgesic"),
    (17, "ondansetron", "Antiemetic"),
    (18, "pantoprazole", "PPI"),
    (19, "furosemide", "Diuretic"),
]


def _case_from_mod(mod_expr: str, values: list[str]) -> str:
    """CASE <mod_expr> WHEN 0 THEN v0 ... ELSE v_last END."""
    whens = " ".join(
        f"WHEN {i} THEN '{v}'" for i, v in enumerate(values[:-1])
    )
    return f"CASE {mod_expr} {whens} ELSE '{values[-1]}' END"


def mapping_ctes(d: Dialect) -> list[tuple[str, str]]:
    """Ordered (name, sql) CTE list defining the warehouse in `d`."""
    lab_key = "(l_orderkey * 8 + l_linenumber)"

    dim_patient = f"""
        SELECT c_custkey AS patient_id,
               md5(c_name) AS mrn_hash,
               CAST(1940 + {d.hmod('c_custkey', 'by', 66)} AS INT) AS birth_year,
               CASE WHEN {d.hmod('c_custkey', 'gen', 100)} < 48 THEN 'Male'
                    WHEN {d.hmod('c_custkey', 'gen', 100)} < 96 THEN 'Female'
                    WHEN {d.hmod('c_custkey', 'gen', 100)} < 98 THEN 'Other'
                    ELSE 'Unknown' END AS gender,
               CASE WHEN {d.hmod('c_custkey', 'race', 100)} < 60 THEN 'White'
                    WHEN {d.hmod('c_custkey', 'race', 100)} < 73 THEN 'Black'
                    WHEN {d.hmod('c_custkey', 'race', 100)} < 79 THEN 'Asian'
                    WHEN {d.hmod('c_custkey', 'race', 100)} < 97 THEN 'Hispanic'
                    ELSE 'Other' END AS race
        FROM customer
    """

    dim_provider = f"""
        SELECT s_suppkey AS provider_id,
               {_case_from_mod(d.hmod('s_suppkey', 'spec', 5),
                               ['Internal Medicine', 'Cardiology', 'Oncology',
                                'Emergency', 'Surgery'])} AS specialty,
               ({d.hmod('s_suppkey', 'act', 10)} < 9) AS is_active
        FROM supplier
    """

    icd_case = _case_from_mod(d.hmod("p_partkey", "icd", len(ICD10_CODES)), ICD10_CODES)
    dim_diagnosis = f"""
        SELECT p_partkey AS diagnosis_id,
               icd10_code,
               CASE WHEN icd10_code LIKE 'A%' THEN 'Infectious'
                    WHEN icd10_code LIKE 'E%' THEN 'Endocrine'
                    WHEN icd10_code LIKE 'I%' THEN 'Circulatory'
                    WHEN icd10_code LIKE 'J%' THEN 'Respiratory'
                    WHEN icd10_code LIKE 'N%' THEN 'Renal'
                    WHEN icd10_code LIKE 'C%' THEN 'Neoplasm'
                    ELSE 'Other' END AS category,
               (icd10_code LIKE 'E11%' OR icd10_code LIKE 'I10%'
                OR icd10_code LIKE 'J44%' OR icd10_code LIKE 'N18%') AS is_chronic,
               CAST(1 + {d.hmod('p_partkey', 'sev', 40)} AS INT) AS severity_deci
        FROM (SELECT p_partkey, {icd_case} AS icd10_code FROM part) AS dx_base
    """

    dim_time = f"""
        SELECT {d.datediff_day(f"DATE '{EPOCH}'", 'full_date')} AS time_id,
               full_date,
               year(full_date) AS year,
               quarter(full_date) AS quarter,
               month(full_date) AS month,
               CAST({d.hmod('full_date', 'hr', 24)} AS INT) AS hour
        FROM ({d.date_series(EPOCH, '2001-12-31')}) AS ds
    """

    med_rows = ", ".join(f"({i}, '{n}', '{c}')" for i, n, c in MEDICATIONS)
    dim_medication = f"""
        SELECT * FROM (VALUES {med_rows})
          AS m(medication_id, medication_name, medication_class)
    """

    adm = d.datediff_day(f"DATE '{EPOCH}'", "CAST(o_orderdate AS DATE)")
    los = d.hmod("o_orderkey", "los", 15)
    fact_encounters = f"""
        SELECT o_orderkey AS encounter_id,
               o_custkey AS patient_id,
               {d.hmod('o_orderkey', 'prov', '(SELECT COUNT(*) FROM supplier)')}
                 AS provider_id,
               {adm} AS admission_time_id,
               CASE WHEN {d.hmod('o_orderkey', 'open', 50)} = 0 THEN NULL
                    ELSE {adm} + {los} END AS discharge_time_id,
               CASE WHEN {d.hmod('o_orderkey', 'et', 10)} < 2 THEN 'Inpatient'
                    WHEN {d.hmod('o_orderkey', 'et', 10)} < 8 THEN 'Outpatient'
                    ELSE 'Emergency' END AS encounter_type,
               {d.hmod('o_orderkey', 'dx', '(SELECT COUNT(*) FROM part)')}
                 AS primary_diagnosis_id,
               CASE WHEN {d.hmod('o_orderkey', 'disp', 10)} < 6 THEN 'Home'
                    WHEN {d.hmod('o_orderkey', 'disp', 10)} < 8 THEN 'Admit'
                    WHEN {d.hmod('o_orderkey', 'disp', 10)} < 9 THEN 'Transfer'
                    ELSE 'SNF' END AS discharge_disposition,
               CAST({los} AS INT) AS length_of_stay,
               CAST(CASE WHEN {d.hmod('o_orderkey', 'icu', 5)} = 0
                         THEN 1 + {d.hmod('o_orderkey', 'icud', 4)}
                         ELSE 0 END AS INT) AS icu_days,
               CAST(o_totalprice AS DECIMAL(12,2)) AS total_charges,
               ({d.hmod('o_orderkey', 'readm', 100)} < 15) AS readmission_flag,
               ({d.hmod('o_orderkey', 'mort', 100)} < 5) AS mortality_flag
        FROM orders
    """

    lab_code = _case_from_mod(
        d.hmod(lab_key, "code", 10),
        ["HBA1C", "LACT", "WBC", "TEMP", "HR", "RR",
         "BLOOD_CX1", "URINE_CULTURE", "GLUC", "CREAT"],
    )
    fact_lab_results = f"""
        SELECT {lab_key} AS result_id,
               l_orderkey AS encounter_id,
               o_custkey AS patient_id,
               {d.datediff_day(f"DATE '{EPOCH}'", "CAST(l_shipdate AS DATE)")}
                 AS lab_time_id,
               lab_test_code,
               CASE WHEN lab_test_code = 'HBA1C'
                      THEN 5 + {d.hmod(lab_key, 'val', 60)} / 10.0
                    WHEN lab_test_code = 'TEMP'
                      THEN 36 + {d.hmod(lab_key, 'val', 40)} / 10.0
                    WHEN lab_test_code = 'WBC'
                      THEN CAST(4 + {d.hmod(lab_key, 'val', 15)} AS DOUBLE)
                    WHEN lab_test_code IN ('BLOOD_CX1', 'URINE_CULTURE')
                      THEN CAST({d.hmod(lab_key, 'val', 3)} AS DOUBLE)
                    ELSE CAST({d.hmod(lab_key, 'val', 20)} AS DOUBLE)
               END AS result_value,
               {_case_from_mod(d.hmod(lab_key, 'abn', 10),
                               ['HH', 'H', 'L', 'LL', 'N', 'N', 'N', 'N', 'N', 'N'])}
                 AS abnormal_flag,
               ({d.hmod(lab_key, 'crit', 20)} = 0) AS critical_flag
        FROM (SELECT l_orderkey, l_linenumber, l_shipdate, {lab_code} AS lab_test_code
              FROM lineitem) AS lr_base
        JOIN orders ON l_orderkey = o_orderkey
    """

    fact_medication_orders = f"""
        SELECT {lab_key} AS order_id,
               l_orderkey AS encounter_id,
               o_custkey AS patient_id,
               CAST({d.hmod(lab_key, 'med', 20)} AS BIGINT) AS medication_id,
               {d.datediff_day(f"DATE '{EPOCH}'", "CAST(l_shipdate AS DATE)")}
                 AS order_time_id,
               {d.datediff_day(f"DATE '{EPOCH}'", "CAST(l_shipdate AS DATE)")}
                 + {d.hmod(lab_key, 'st', 3)} AS start_time_id,
               CASE WHEN {d.hmod(lab_key, 'rt', 10)} = 0 THEN 'Central Line'
                    WHEN {d.hmod(lab_key, 'rt', 10)} < 4 THEN 'IV'
                    ELSE 'Oral' END AS route,
               CAST({d.hmod(lab_key, 'dose', 100)} AS INT) AS dose_amount
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    """

    audit_log = f"""
        SELECT event_id AS audit_id,
               'user_' || {d.str_cast('user_id % 20')} AS user_id,
               ts AS access_timestamp,
               {d.hmod('event_id', 'pat', '(SELECT COUNT(*) FROM customer)')}
                 AS patient_id,
               event_type AS access_type
        FROM events
    """

    user_patient_relationship = f"""
        SELECT DISTINCT user_id, patient_id
        FROM audit_log
        WHERE {d.hmod(f"user_id || ':' || {d.str_cast('patient_id')}", 'rel', 3)} > 0
    """

    return [
        ("dim_patient", dim_patient),
        ("dim_provider", dim_provider),
        ("dim_diagnosis", dim_diagnosis),
        ("dim_time", dim_time),
        ("dim_medication", dim_medication),
        ("fact_encounters", fact_encounters),
        ("fact_lab_results", fact_lab_results),
        ("fact_medication_orders", fact_medication_orders),
        ("audit_log", audit_log),
        ("user_patient_relationship", user_patient_relationship),
    ]


def with_clause(d: Dialect, extra_ctes: list[tuple[str, str]]) -> str:
    """One flattened WITH list: warehouse mapping + query CTEs."""
    all_ctes = mapping_ctes(d) + extra_ctes
    body = ",\n".join(f"{name} AS ({sql})" for name, sql in all_ctes)
    return "WITH " + body


def query_with(extra_ctes: list[tuple[str, str]]) -> str:
    """WITH clause for query-local CTEs only (warehouse resolved via
    temp views — see `ensure_warehouse`). Empty string when none."""
    if not extra_ctes:
        return ""
    body = ",\n".join(f"{name} AS ({sql})" for name, sql in extra_ctes)
    return "WITH " + body


WAREHOUSE_CACHE_ROOT = os.path.join(
    os.path.dirname(SPLIT_CACHE_ROOT), ".warehouse_cache"
)


def _warehouse_cache_dir(sf_dir: str) -> str:
    """Content-keyed on-disk location for the materialized warehouse:
    rebuilds automatically whenever the source tables' content
    (`session.fingerprint`) or the mapping SQL changes. The dir name
    leads with a stable id of `sf_dir`, as the split cache's does, so a
    commit prunes only stale vintages of the same data directory
    (`tables.prune_cache_siblings`)."""
    spec = repr([fingerprint(table_path(sf_dir, n)) for n in TABLE_NAMES])
    spec += "\x00".join(
        name + "\x01" + sql for name, sql in mapping_ctes(_SPARK_DIALECT)
    )
    # physical layout is part of the contract: a layout change must
    # invalidate the cache (bucketed files read as unbucketed — or the
    # reverse — would silently mis-plan joins)
    spec += f"\x02buckets={_fact_buckets(sf_dir)}:" + ",".join(
        f"{t}->{k}" for t, k in sorted(BUCKETED_FACTS.items())
    )
    key = hashlib.md5(spec.encode()).hexdigest()[:12]
    return os.path.join(WAREHOUSE_CACHE_ROOT, f"{source_id(sf_dir)}-{key}")


#: facts bucketed on their hot join/group key: every hc_q* CTE
#: aggregates a fact per encounter and joins it back to encounters on
#: encounter_id, so co-bucketing makes those groupBys and join-backs
#: exchange-free (the same co-location a 100 TB warehouse gets from
#: bucketed fact tables). One spec per table — encounter_id wins over
#: patient_id because it keys ~all per-encounter aggregation.
#:
#: All facts share one bucket count (`_fact_buckets`): a bucketed join
#: is exchange-free only between tables of equal bucket counts. The
#: count is one bucket per core, rising with source volume once a
#: bucket would exceed one scan split: every bucketed scan runs one
#: task per bucket, and at interactive sizes the task count, not the
#: bytes, sets the latency.
BUCKETED_FACTS = {
    "fact_encounters": "encounter_id",
    "fact_lab_results": "encounter_id",
    "fact_medication_orders": "encounter_id",
}
#: the base tables every fact is derived from
_FACT_SOURCES = ("orders", "lineitem")
#: Spark's default `spark.sql.files.maxPartitionBytes`, the most one
#: scan task reads; the engine does not change it
_SPLIT_BYTES = 128 * 1024 * 1024


def _bucket_count(source_bytes: int, cores: int) -> int:
    """One bucket per core, or one per scan split of the sources when
    that is more."""
    return max(cores, math.ceil(source_bytes / _SPLIT_BYTES))


def _fact_buckets(sf_dir: str) -> int:
    """The facts' bucket count for `sf_dir`'s sources on this host,
    sized from the data bytes `session.fingerprint` records (the last
    element of its content part, for a file or a directory)."""
    sizes = [fingerprint(table_path(sf_dir, n))[1] for n in _FACT_SOURCES]
    return _bucket_count(
        sum(s[-1] for s in sizes if s), default_parallelism()
    )


def _register_bucketed(
    spark, name: str, location: str, key: str, buckets: int
) -> None:
    """(Re-)register existing bucketed parquet files as a catalog table
    (the in-memory catalog forgets them between sessions; the files and
    their bucket layout persist)."""
    schema_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in spark.read.parquet(location).schema.fields
    )
    spark.catalog.dropTempView(name)  # temp views would shadow the table
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"CREATE TABLE {name} ({schema_ddl}) USING parquet "
        f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {buckets} BUCKETS "
        f"LOCATION '{location}'"
    )


def ensure_warehouse(spark, sf_dir: str) -> None:
    """Materialize the mapped warehouse once, then serve every query
    from it.

    Registration is one memo slot per session: the views name one
    warehouse at a time, so the key is fixed and the sources'
    fingerprints (which hold their absolute paths) decide whether the
    registered warehouse is still `sf_dir`'s. Switching sf_dir, or
    regenerating it in place, re-registers.

    This is the engine's ETL step (the reference's phase-3 warehouse
    load, healthcare-data-pipeline-main.py:606-670): each dim/fact is
    computed from the base tables and written to a parquet warehouse
    (content-keyed, built exactly once per mapping version × source
    content, shared across sessions). Dims register as temp views
    (they broadcast); facts are written BUCKETED by their join key and
    register as catalog tables, so per-encounter aggregation and
    join-back — the shape of every hc_q* query — plans with no
    exchange. The bucket count is one per core
    (`session.default_parallelism`), rising with the sources' volume
    once a bucket would exceed one scan split, and it is shared by all
    facts, because their joins stay bucket-local only between equal
    counts; it is part of the cache key, so another core count builds
    its own entry. At 100 TB the write becomes
    `sources.sinks.write_warehouse` partitioned by date AND bucketed
    the same way — the query texts are unchanged either way.
    """
    memo(
        spark, "warehouse", None, lambda: _register_warehouse(spark, sf_dir),
        [table_path(sf_dir, n) for n in TABLE_NAMES],
    )


def _register_warehouse(spark, sf_dir: str) -> None:
    cache = _warehouse_cache_dir(sf_dir)
    buckets = _fact_buckets(sf_dir)
    ensure_cache(
        cache, lambda tmp: _build_warehouse(spark, sf_dir, tmp, buckets)
    )

    # serve: dims as plain parquet views (no memory cache — a pruned
    # columnar scan is already ~scan-speed); facts as bucketed catalog
    # tables pointing at the shared cache location
    for name, _sql in mapping_ctes(_SPARK_DIALECT):
        loc = os.path.join(cache, name)
        if name in BUCKETED_FACTS:
            _register_bucketed(spark, name, loc, BUCKETED_FACTS[name], buckets)
        else:
            spark.read.parquet(loc).createOrReplaceTempView(name)


def _build_warehouse(spark, sf_dir: str, tmp: str, buckets: int) -> None:
    """One-time ETL: derive every table from the base views and write
    it under `tmp`, the facts in `buckets` buckets."""
    register_views(spark, sf_dir)
    for name, sql in mapping_ctes(_SPARK_DIALECT):
        # each CTE references only base views and earlier warehouse
        # views/tables, both registered by the time it is built
        df = spark.sql(sql)
        loc = os.path.join(tmp, name)
        if name in BUCKETED_FACTS:
            key = BUCKETED_FACTS[name]
            # pre-repartition on the bucket key (same hash family as
            # the bucketizer) so each task writes one bucket file —
            # without it every task emits one file PER bucket
            spark.sql(f"DROP TABLE IF EXISTS __bld_{name}")
            (
                df.repartition(buckets, key)
                .write.mode("overwrite")
                .bucketBy(buckets, key)
                .sortBy(key)
                .option("path", loc)
                .saveAsTable(f"__bld_{name}")
            )
            spark.sql(f"DROP TABLE IF EXISTS __bld_{name}")
            _register_bucketed(spark, name, loc, key, buckets)
        else:
            df.write.mode("overwrite").parquet(loc)
            spark.read.parquet(loc).createOrReplaceTempView(name)
