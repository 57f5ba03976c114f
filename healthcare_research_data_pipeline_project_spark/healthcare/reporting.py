"""Reporting service — parity with the reference's ReportingService
(`healthcare-data-pipeline-main.py:371-489`): executive summary,
demographic distributions, daily-volume stats. Each report is one
DataFrame plan with one collect: the reference's four separate DB
round-trips become four sections cross-joined into a single row."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.helpers import count_if, pct, rnd
from ..operators.relational import bucketize, distribution_pct
from .mapping import AGE_ANCHOR

AGE_BUCKETS = ([18, 31, 46, 61, 76], ["0-17", "18-30", "31-45", "46-60", "61-75", "76+"])


def executive_summary(encounters: DataFrame) -> DataFrame:
    """Counts / LOS / readmission-rate / charges one-pass summary
    (reference `:393-414`)."""
    return encounters.agg(
        F.countDistinct("patient_id").alias("total_patients"),
        F.countDistinct("encounter_id").alias("total_encounters"),
        rnd(F.avg("length_of_stay"), "avg_length_of_stay"),
        pct(
            F.sum(F.col("readmission_flag").cast("int")),
            F.count(F.lit(1)),
            "readmission_rate_pct",
        ),
        rnd(F.avg("total_charges"), "avg_charges"),
    )


def encounters_by_type(encounters: DataFrame) -> DataFrame:
    """Department/type utilization (reference `:418-427`)."""
    return encounters.groupBy("encounter_type").agg(
        F.count(F.lit(1)).alias("encounter_count"),
        rnd(F.avg("length_of_stay"), "avg_los"),
        rnd(F.avg("total_charges"), "avg_charges"),
        count_if(F.col("readmission_flag"), "readmissions"),
    )


def age_distribution(patients: DataFrame, current_year: int = 2025) -> DataFrame:
    """Fixed-range age histogram (healthcare-api-main.py:544-576)."""
    ages = patients.select(
        (F.lit(current_year) - F.col("birth_year")).alias("age")
    )
    bucketed = ages.select(
        bucketize(F.col("age"), list(AGE_BUCKETS[0]), list(AGE_BUCKETS[1])).alias(
            "age_group"
        )
    )
    return distribution_pct(bucketed, "age_group")


def daily_volume_stats(encounters: DataFrame) -> DataFrame:
    """Daily patient volume + variance (reference `:459-478`): day
    truncation, per-day counts, global mean/stddev of the daily
    series."""
    daily = encounters.groupBy(
        F.to_date("encounter_date").alias("day")
    ).agg(F.count(F.lit(1)).alias("daily_encounters"))
    return daily.agg(
        F.count(F.lit(1)).alias("days_observed"),
        rnd(F.avg("daily_encounters"), "avg_daily_volume"),
        rnd(F.stddev("daily_encounters"), "std_daily_volume"),
        F.max("daily_encounters").alias("peak_daily_volume"),
    )


# ---------------------------------------------------------------------------
# Composite report (reference ReportingService.generate_research_report,
# healthcare-data-pipeline-main.py:371-389; type validation from the
# endpoint, healthcare-api-main.py:442-448). Each section is one of the
# plan-builders above, folded to a single-row column; the sections are
# cross-joined and the one resulting row is the only thing collected.
# ---------------------------------------------------------------------------
VALID_REPORT_TYPES = ("monthly", "quarterly", "annual", "executive")

#: reporting window per type, in days (reference hardcodes 1 month for
#: the summary; the window scales with the report horizon here)
_REPORT_WINDOW_DAYS = {
    "monthly": 30,
    "quarterly": 90,
    "annual": 365,
    "executive": 30,
}


def generate_research_report(
    patients: DataFrame,
    encounters: DataFrame,
    report_type: str = "monthly",
) -> dict:
    """Assemble the full research report: executive summary over the
    report window, demographic metrics (gender × race with average
    age), utilization by encounter type, and daily-volume operational
    stats. Unknown types raise ValueError (the endpoint's 400). The
    window anchors on the data's max encounter_date (an in-plan scalar
    subquery) rather than wall-clock GETDATE() so the report is
    deterministic and backfill-safe."""
    if report_type not in VALID_REPORT_TYPES:
        raise ValueError(
            f"Invalid report type. Must be one of: {list(VALID_REPORT_TYPES)}"
        )
    days = _REPORT_WINDOW_DAYS[report_type]
    anchor = encounters.agg(F.max(F.to_date("encounter_date"))).scalar()
    window = encounters.filter(
        F.to_date("encounter_date") >= F.date_sub(anchor, days)
    )
    # accept both patient shapes: raw (birth_date) and post-ETL
    # (birth_year — the reference's dim_patient, :417-424)
    birth_year = (
        F.col("birth_year")
        if "birth_year" in patients.columns
        else F.year("birth_date")
    )
    patient_metrics = patients.groupBy("gender", "race").agg(
        F.countDistinct("patient_id").alias("patient_count"),
        rnd(F.avg(F.lit(AGE_ANCHOR) - birth_year), "avg_age"),
    )
    row = (
        _one_row(executive_summary(window), "executive_summary")
        .crossJoin(_all_rows(patient_metrics, "patient_metrics"))
        .crossJoin(_all_rows(encounters_by_type(window), "utilization"))
        .crossJoin(_one_row(daily_volume_stats(window), "operational_metrics"))
        .collect()[0]
    )
    return {
        "report_type": report_type,
        "window_days": days,
        "executive_summary": row["executive_summary"].asDict(),
        "patient_metrics": sorted(
            (r.asDict() for r in row["patient_metrics"]),
            key=lambda m: (
                -m["patient_count"],
                _nulls_first(m["gender"]),
                _nulls_first(m["race"]),
            ),
        ),
        "utilization": sorted(
            (r.asDict() for r in row["utilization"]),
            key=lambda u: _nulls_first(u["encounter_type"]),
        ),
        "operational_metrics": row["operational_metrics"].asDict(),
    }


def _one_row(df: DataFrame, name: str) -> DataFrame:
    """A single-row aggregate as one struct column `name`."""
    return df.select(F.struct(*df.columns).alias(name))


def _all_rows(df: DataFrame, name: str) -> DataFrame:
    """Every row of a small aggregate as one array-of-structs column
    `name`, in no particular order."""
    return df.agg(F.collect_list(F.struct(*df.columns)).alias(name))


def _nulls_first(v):
    """Sort key placing None first, as Spark's ascending orderBy does."""
    return (v is not None, v)
