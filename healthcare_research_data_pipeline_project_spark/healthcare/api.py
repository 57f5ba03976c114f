"""Query-builder API layer — parity with the reference's REST handlers
(`healthcare-api-main.py:236-388`), minus the HTTP scaffolding: each
endpoint's lazily-composed ORM query becomes a lazily-composed
DataFrame builder (identical semantics — both accumulate an unexecuted
plan, J8/P2-P5/P11 in SURVEY §2), and the reference's driver-side
post-aggregation (distribution percentages, rate math,
healthcare-api-main.py:323-331,527-576) moves *into* the plan so only
final small results are collected.

One action per endpoint: every handler here builds its whole response
as one DataFrame plan and runs exactly one driver action on it (a
cached RCA answer runs none). A response with several sections fuses
them in-plan — grouping sets, tagged unions, cross-joined single-row
aggregates — instead of the reference's one round-trip per section,
which on Spark would re-plan and re-scan the same input and pay a job
set-up for every section.

Frames use the raw generator shape (generator.py): patients with
birth_year (post-ETL), encounters with encounter_date/diagnosis_code.
"""

from __future__ import annotations

import datetime as dt
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.helpers import pct, rnd, round_div

SEARCH_LIMIT = 1000  # reference healthcare-api-main.py:268


def search_patients(
    patients: DataFrame,
    encounters: DataFrame | None = None,
    gender: str | None = None,
    race: str | None = None,
    min_age: int | None = None,
    max_age: int | None = None,
    diagnosis_codes: list[str] | None = None,
    current_year: int | None = None,
    limit: int = SEARCH_LIMIT,
) -> DataFrame:
    """Demographic cohort search (reference `:236-268`): conditional
    equality/range filters, a dynamic join applied only when the
    diagnosis filter is present (J8), and a result cap (P11)."""
    year = current_year or dt.date.today().year
    q = patients
    if gender is not None:
        q = q.filter(F.col("gender") == gender)
    if race is not None:
        q = q.filter(F.col("race") == race)
    if min_age is not None:
        q = q.filter(F.col("birth_year") <= year - min_age)
    if max_age is not None:
        q = q.filter(F.col("birth_year") >= year - max_age)
    if diagnosis_codes:
        if encounters is None:
            raise ValueError("diagnosis filter requires the encounters frame")
        dx = (
            encounters.filter(F.col("diagnosis_code").isin(diagnosis_codes))
            .select("patient_id")
            .distinct()
        )
        q = q.join(dx, "patient_id", "left_semi")
    return q.limit(limit)


def search_demographics(cohort: DataFrame) -> dict:
    """The endpoint's response shape: count + in-plan distributions
    (the reference computes these driver-side over collected rows,
    `:527-576`). One grouping-sets aggregate over the cohort yields
    both distributions and the count, so all three come from the same
    limited rows in one collect. grouping_id is 1 for the gender set,
    2 for race and 3 for the grand total — absent on an empty cohort,
    hence the count's default of 0."""
    counts = cohort.groupingSets([["gender"], ["race"], []], "gender", "race").agg(
        F.grouping_id().alias("gid"), F.count(F.lit(1)).alias("cnt")
    )
    total = F.sum("cnt").over(Window.partitionBy("gid"))
    rows = counts.withColumn(
        "pct", round_div(F.col("cnt") * 100, total, "pct")
    ).collect()
    return {
        "count": next((r["cnt"] for r in rows if r["gid"] == 3), 0),
        "demographics": {
            "gender_distribution": {
                r["gender"]: r["pct"] for r in rows if r["gid"] == 1
            },
            "race_distribution": {r["race"]: r["pct"] for r in rows if r["gid"] == 2},
        },
    }


def encounter_metrics(
    encounters: DataFrame,
    start_date: str,
    end_date: str,
    group_by: str = "month",
    encounter_type: str | None = None,
) -> DataFrame:
    """Per-period utilization metrics (reference `:291-340`):
    date_trunc grouping ∈ {day, week, month, quarter}, date-range
    predicate, optional type filter, rate arithmetic in-plan."""
    if group_by not in ("day", "week", "month", "quarter"):
        raise ValueError(f"unsupported group_by {group_by!r}")
    q = encounters.filter(
        F.col("encounter_date").between(start_date, end_date)
    )
    if encounter_type is not None:
        q = q.filter(F.col("encounter_type") == encounter_type)
    return (
        q.groupBy(F.date_trunc(group_by, "encounter_date").alias("period"))
        .agg(
            F.count(F.lit(1)).alias("encounters"),
            rnd(F.avg("length_of_stay"), "average_los"),
            rnd(F.avg("total_charges"), "average_charges"),
            pct(
                F.sum(F.col("readmission_flag").cast("int")),
                F.count(F.lit(1)),
                "readmission_rate",
            ),
        )
        .orderBy("period")
    )


def quality_metrics(
    encounters: DataFrame,
    labs: DataFrame,
    start_date: str,
    end_date: str,
) -> dict:
    """Composite quality snapshot (reference `:342-388`): readmission
    rate, mean LOS, abnormal-lab rate over a reporting window — the
    encounter and lab aggregates are single rows, cross-joined and
    collected once."""
    e = encounters.filter(F.col("encounter_date").between(start_date, end_date))
    row = (
        e.agg(
            F.count(F.lit(1)).alias("n"),
            pct(
                F.sum(F.col("readmission_flag").cast("int")),
                F.count(F.lit(1)),
                "readmission_rate",
            ),
            rnd(F.avg("length_of_stay"), "avg_los"),
        )
        .crossJoin(
            labs.agg(
                pct(
                    F.sum(F.col("abnormal_flag").cast("int")),
                    F.count(F.lit(1)),
                    "abnormal_rate",
                )
            )
        )
        .collect()[0]
    )
    return {
        "period": {"start": start_date, "end": end_date},
        "total_encounters": row["n"],
        "readmission_rate_pct": row["readmission_rate"],
        "average_length_of_stay": row["avg_los"],
        "abnormal_lab_rate_pct": row["abnormal_rate"],
    }


def quality_benchmarks(encounters: DataFrame) -> dict:
    """The /analytics/quality-metrics payload (reference `:342-390`):
    all-time readmission rate and mean LOS as metric cards against the
    reference's fixed benchmarks, from one collected aggregate."""
    row = encounters.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("readmission_flag").cast("int")).alias("readm"),
        F.avg("length_of_stay").alias("avg_los"),
    ).collect()[0]
    rate = round(row["readm"] / row["n"] * 100, 2) if row["n"] else 0.0
    avg_los = round(float(row["avg_los"]), 1) if row["avg_los"] else 0.0
    return {
        "metrics": [
            {
                "metric_name": "30-Day Readmission Rate",
                "value": rate,
                "benchmark": 15.0,
                "status": "Good" if rate < 15.0 else "Needs Improvement",
                "trend": "stable",
                "details": {"total_encounters": row["n"], "readmissions": row["readm"]},
            },
            {
                "metric_name": "Average Length of Stay",
                "value": avg_los,
                "benchmark": 4.5,
                "status": "Good" if avg_los and avg_los < 4.5 else "Needs Improvement",
                "trend": "improving",
                "details": {"unit": "days", "specialty_adjusted": False},
            },
        ]
    }


# ---------------------------------------------------------------------------
# Endpoint-equivalent compositions (reference healthcare-api-main.py
# :391-431 RCA, :470-498 health, :500-545 status): the auth / rate /
# cache / audit decorator stack as explicit function plumbing over the
# same engine-side primitives.
# ---------------------------------------------------------------------------
def run_rca_cached(
    encounters: DataFrame,
    labs: DataFrame,
    token_payload: dict,
    limiter,
    cache,
    analysis_type: str = "readmissions",
    time_period_days: int = 365,
    client_key: str = "default",
) -> list[dict]:
    """The /analytics/rca endpoint flow (reference `:391-431`):
    role check → rate limit → cache probe → analysis → cache store.
    Returns the readmission-factor records; raises
    `InsufficientRoleError` / `RateLimitExceededError` /
    `NotImplementedError` exactly where the endpoint returns
    403 / 429 / 501."""
    from ..sources.sinks import to_records
    from . import rca
    from .security import require_role

    require_role(token_payload, ["researcher", "analyst"])
    limiter.check(f"rate_limit:{client_key}:run_root_cause_analysis")
    key = f"rca:{analysis_type}:{time_period_days}"
    hit = cache.get(key)
    if hit is not None:
        return hit
    if analysis_type != "readmissions":
        raise NotImplementedError(
            f"Analysis type '{analysis_type}' not yet implemented"
        )
    result = to_records(
        rca.readmission_analysis(encounters, labs).orderBy(
            F.desc("readmission_count"), "diagnosis_code"
        ),
        limit=SEARCH_LIMIT,
    )
    cache.put(key, result)
    return result


def health_check(spark) -> dict:
    """The /health probe (reference `:470-498`): execute a trivial
    engine statement; degraded — not raised — on failure."""
    out = {"status": "healthy", "services": {}}
    try:
        spark.sql("SELECT 1").collect()
        out["services"]["engine"] = "healthy"
    except Exception:
        out["services"]["engine"] = "unhealthy"
        out["status"] = "degraded"
    return out


def system_status(
    patients: DataFrame,
    encounters: DataFrame,
    labs: DataFrame,
    token_payload: dict,
    cache=None,
) -> dict:
    """The admin-only /status endpoint (reference `:500-545`): table
    row counts + cache stats. Spark has no row-count metadata to read:
    each count scans its table. The three tagged count-star aggregates
    run as one union, so the scans share one action."""
    from .security import require_role

    require_role(token_payload, ["admin"])
    tables = {
        "total_patients": patients,
        "total_encounters": encounters,
        "total_lab_results": labs,
    }
    counts = reduce(
        DataFrame.unionByName,
        [
            df.agg(F.lit(key).alias("key"), F.count(F.lit(1)).alias("n"))
            for key, df in tables.items()
        ],
    ).collect()
    n = {r["key"]: r["n"] for r in counts}
    return {
        "database": {key: n[key] for key in tables},
        "cache": {"keys": len(cache._store) if cache is not None else 0},
    }
