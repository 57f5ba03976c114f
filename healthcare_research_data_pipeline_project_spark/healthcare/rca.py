"""Root-cause analysis — parity with the reference's RootCauseAnalyzer
(`healthcare-data-pipeline-main.py:262-362`): readmission-factor query,
z-score anomaly detection, insight generation (top-5 + correlations).

The reference ships one SQL string to the RDBMS and post-processes in
pandas; here the whole analysis is a DataFrame plan and only the final
small summaries are collected."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.relational import band_self_join


def readmission_analysis(encounters: DataFrame, labs: DataFrame) -> DataFrame:
    """Readmission-pair factors per diagnosis (reference `:269-301`):
    30-day pairs (J2 band self-join) + abnormal-lab left join (J3, with
    the predicate inside the join), grouped by diagnosis.

    Expects raw-shape frames (generator.py): encounters with
    encounter_id/patient_id/encounter_date/discharge_date/
    diagnosis_code, labs with encounter_id/abnormal_flag.
    """
    # reference band (healthcare-data-pipeline-main.py:282): the
    # readmission's ADMISSION date within [discharge, discharge + 30d]
    # of the index encounter — inclusive of day 0
    pairs = band_self_join(
        encounters.select("encounter_id", "patient_id", "encounter_date",
                          "discharge_date", "diagnosis_code"),
        key="patient_id",
        date_col="discharge_date",
        right_date_col="encounter_date",
        min_days=0,
        max_days=30,
    )
    # a = index encounter, b = the readmission; key the pair on a
    pair_stats = pairs.select(
        F.col("a.encounter_id").alias("encounter_id"),
        F.col("a.diagnosis_code").alias("diagnosis_code"),
        F.datediff(
            F.to_date("b.encounter_date"), F.to_date("a.discharge_date")
        ).alias("days_to_readmission"),
    )
    abnormal = labs.filter(F.col("abnormal_flag") == True)  # noqa: E712
    lab_counts = abnormal.groupBy("encounter_id").agg(
        F.count(F.lit(1)).alias("abnormal_lab_count")
    )
    enriched = pair_stats.join(lab_counts, "encounter_id", "left").fillna(
        {"abnormal_lab_count": 0}
    )
    return enriched.groupBy("diagnosis_code").agg(
        F.countDistinct("encounter_id").alias("readmission_count"),
        F.round(F.avg("days_to_readmission"), 2).alias("avg_days_to_readmission"),
        F.round(F.avg("abnormal_lab_count"), 2).alias("avg_abnormal_labs"),
    )


#: driver-side exemplar cap: `detect_anomalies` never ships more than
#: this many sample values per column to the driver, no matter how many
#: rows are anomalous (counts stay exact). At 100 TB an anomalous column
#: can hold millions of outliers; the summary must stay O(cap).
EXEMPLAR_CAP = 100


def detect_anomalies(
    df: DataFrame, sigma: float = 2.5, exemplars: int = EXEMPLAR_CAP
) -> dict[str, dict]:
    """Per-numeric-column z-score outliers (reference `:319-338`):
    returns {col: {count, threshold_low, threshold_high, examples}}.

    Two full-scan jobs regardless of column count (one agg pass for all
    (mu, sd, n) triples, one conditional-agg pass for all exact outlier
    counts), plus a short-circuiting `limit(exemplars)` probe per
    anomalous column. Outlier rows stay distributed; driver traffic is
    O(columns × exemplars) no matter how many rows are anomalous."""
    numeric = [
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() in ("integer", "long", "double", "float")
    ]
    if not numeric:
        return {}
    stat_exprs = []
    for c in numeric:
        stat_exprs += [
            F.avg(c).alias(f"{c}__mu"),
            F.stddev(c).alias(f"{c}__sd"),
            F.count(c).alias(f"{c}__n"),
        ]
    stats = df.agg(*stat_exprs).collect()[0]

    live: list[str] = []  # columns with usable stats
    out_exprs = []
    for c in numeric:
        mu, sd, n = stats[f"{c}__mu"], stats[f"{c}__sd"], stats[f"{c}__n"]
        if sd is None or not n:
            continue
        live.append(c)
        is_out = (F.col(c) < mu - sigma * sd) | (F.col(c) > mu + sigma * sd)
        out_exprs.append(
            F.sum(F.when(is_out, 1).otherwise(0)).alias(f"{c}__cnt")
        )
    if not live:
        return {}
    row = df.agg(*out_exprs).collect()[0]

    out: dict[str, dict] = {}
    for c in live:
        cnt = row[f"{c}__cnt"]
        if cnt:
            mu, sd = stats[f"{c}__mu"], stats[f"{c}__sd"]
            is_out = (F.col(c) < mu - sigma * sd) | (F.col(c) > mu + sigma * sd)
            # limit() short-circuits the scan after `exemplars` matches —
            # driver traffic AND executor buffering stay O(cap) no matter
            # how many rows are anomalous; the exact count came from the
            # aggregate pass above
            examples = [
                r[0] for r in df.filter(is_out).select(c).limit(exemplars).collect()
            ]
            out[c] = {
                "count": cnt,
                "threshold_low": round(mu - sigma * sd, 4),
                "threshold_high": round(mu + sigma * sd, 4),
                "examples": examples,
            }
    return out


def generate_insights(analysis: DataFrame, metric_cols: list[str]) -> list[str]:
    """Top-5 + strong-correlation insights (reference `:340-362`)."""
    insights: list[str] = []
    top5 = (
        analysis.orderBy(F.desc("readmission_count"))
        .limit(5)
        .select("diagnosis_code", "readmission_count")
        .collect()
    )
    if top5:
        joined = ", ".join(f"{r[0]} ({r[1]})" for r in top5)
        insights.append(f"Top 5 diagnoses by readmission count: {joined}")
    for i, a in enumerate(metric_cols):
        for b in metric_cols[i + 1:]:
            r = analysis.stat.corr(a, b)
            if r is not None and abs(r) > 0.7:
                insights.append(f"Strong correlation ({r:.2f}) between {a} and {b}")
    return insights
