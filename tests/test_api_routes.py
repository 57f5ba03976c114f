"""The REST routes over small seeded generator tables: every route runs
exactly one driver action per request, and every payload equals the one
recorded below.

The literals were recorded from the per-section implementation of these
routes (one action per response section), on the same tables, so they
pin that the one-plan rewrite changed no byte of any response. Values
are parsed JSON: dates and timestamps appear as the strings the server
sends (`json.dumps(..., default=str)`)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from healthcare_research_data_pipeline_project_spark.healthcare import (
    api,
    etl,
    generator,
    http_api,
    reporting,
)
from healthcare_research_data_pipeline_project_spark.healthcare.security import (
    RateLimiter,
)

ACTIONS = ("collect", "count", "first", "take", "head", "toPandas")
ENCOUNTER_WINDOW = {"start_date": "2024-03-01", "end_date": "2024-08-31"}
SEARCHES = {
    "all": {},
    "female": {"gender": "Female"},
    "aged": {"min_age": 30, "max_age": 50},
    "dx": {"diagnosis_codes": ["I10", "E11.9"], "min_age": 40},
    "near_empty": {"min_age": 84},  # one patient
    "empty": {"gender": "Nobody"},  # count 0, empty distributions
}
REPORT_TYPES = ("monthly", "quarterly", "annual", "executive")


@pytest.fixture(scope="module")
def tables(spark):
    patients = etl.transform_patient_data(generator.generate_patients(spark, 300))
    encounters = generator.generate_encounters(spark, 600, n_patients=300)
    labs = generator.generate_labs(spark, 800, n_encounters=600)
    return patients, encounters, labs


def _app(spark, patients, encounters, labs) -> http_api.HealthcareApi:
    return http_api.HealthcareApi(
        spark,
        patients,
        encounters,
        labs,
        limiter=RateLimiter(max_calls=10**6),
        current_year=2025,
    )


def _call(app, method: str, path: str, body: dict | None = None, role="analyst"):
    """One request through the socket-free dispatcher; the payload as
    the client parses it."""
    token = app.login(
        {"username": f"t_{role}", "password": "password123", "role": role}
    )["access_token"]
    status, payload, _ = app.handle(
        method,
        path,
        {"authorization": f"Bearer {token}"},
        json.dumps(body).encode() if body is not None else b"",
    )
    assert status == 200, (path, payload)
    return json.loads(json.dumps(payload, default=str))


def _search(app, body: dict) -> dict:
    return _call(app, "POST", "/api/v1/patients/search", body)


def _report(app, report_type: str) -> dict:
    return _call(app, "GET", f"/api/v1/reports/generate/{report_type}")


def _encounters(app) -> dict:
    body = {**ENCOUNTER_WINDOW, "group_by": "month"}
    return _call(app, "POST", "/api/v1/analytics/encounters", body)


def _rca(app, period: int) -> dict:
    body = {"analysis_type": "readmissions", "time_period_days": period}
    return _call(app, "POST", "/api/v1/analytics/rca", body)


def _quality(app) -> dict:
    return _call(app, "GET", "/api/v1/analytics/quality-metrics")


def _status(app) -> dict:
    return _call(app, "GET", "/api/v1/status", role="admin")


@pytest.fixture
def actions(spark, monkeypatch):
    """Patch the DataFrame actions with counting wrappers; returns the
    list of outermost action names called (`first` → `head` → `take` →
    `collect` counts once)."""
    cls = type(spark.range(1))
    calls: list[str] = []
    depth = [0]

    def counted(name, fn):
        def wrapper(self, *a, **kw):
            if not depth[0]:
                calls.append(name)
            depth[0] += 1
            try:
                return fn(self, *a, **kw)
            finally:
                depth[0] -= 1

        return wrapper

    for name in ACTIONS:
        monkeypatch.setattr(cls, name, counted(name, getattr(cls, name)))
    return calls


def test_one_driver_action_per_route(spark, tables, actions):
    app = _app(spark, *tables)
    requests = {
        "search/plain": lambda: _search(app, SEARCHES["aged"]),
        "search/dx": lambda: _search(app, SEARCHES["dx"]),
        **{f"report/{t}": (lambda t=t: _report(app, t)) for t in REPORT_TYPES},
        "status": lambda: _status(app),
        "quality": lambda: _quality(app),
        "encounters": lambda: _encounters(app),
        "rca/miss": lambda: _rca(app, 90),
    }
    for route, request in requests.items():
        actions.clear()
        request()
        assert len(actions) == 1, (route, actions)
    actions.clear()
    _rca(app, 90)  # the answer the miss cached
    assert actions == [], ("rca/hit", actions)
    encounters, labs = tables[1], tables[2]
    api.quality_metrics(encounters, labs, "2024-02-01", "2024-06-30")
    assert len(actions) == 1, ("api.quality_metrics", actions)


def test_route_payloads_match_recorded(spark, tables):
    app = _app(spark, *tables)
    patients, encounters, labs = tables
    got = {f"search/{name}": _search(app, body) for name, body in SEARCHES.items()}
    got["encounters"] = _encounters(app)
    got["rca"] = _rca(app, 90)
    got["quality"] = _quality(app)
    got["status"] = _status(app)  # after the RCA request: one cached key
    for name, expected in got.items():
        assert expected == EXPECTED[name], name
    # reports: byte-identical as the server serializes them
    reports = {f"report/{t}": _report(app, t) for t in REPORT_TYPES}
    # no encounters: a null anchor, an empty window, single-row sections
    reports["report/empty"] = reporting.generate_research_report(
        patients, encounters.filter(F.lit(False))
    )
    for name, payload in reports.items():
        assert json.dumps(payload, default=str) == json.dumps(EXPECTED[name]), name
    quality = api.quality_metrics(encounters, labs, "2024-02-01", "2024-06-30")
    assert quality == EXPECTED["api.quality_metrics"]


def test_search_over_limit_cohort(spark, tables):
    """Count and both distributions come from the same SEARCH_LIMIT
    rows of a larger cohort."""
    _, encounters, labs = tables
    many = etl.transform_patient_data(generator.generate_patients(spark, 1500))
    out = _search(_app(spark, many, encounters, labs), {})
    assert out["count"] == api.SEARCH_LIMIT
    for dist in out["demographics"].values():
        assert dist and abs(sum(dist.values()) - 100.0) <= 0.5


def test_report_orders_null_groups_like_order_by(spark):
    """Patient metrics are ordered on the driver; null genders and
    races must land where Spark's orderBy puts them (first)."""
    patients = spark.createDataFrame(
        [
            (1, "Male", None, 1980),
            (2, None, "White", 1970),
            (3, None, None, 1960),
            (4, "Female", "Asian", 1990),
            (5, "Female", "Asian", 1991),
        ],
        "patient_id long, gender string, race string, birth_year int",
    )
    encounters = generator.generate_encounters(spark, 20, n_patients=5)
    got = reporting.generate_research_report(patients, encounters)
    want = (
        patients.groupBy("gender", "race")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "gender", "race")
        .collect()
    )
    assert [(m["gender"], m["race"]) for m in got["patient_metrics"]] == [
        (r["gender"], r["race"]) for r in want
    ]


PATIENT_METRICS = [
    {"gender": "Male", "race": "White", "patient_count": 90, "avg_age": 47.18},
    {"gender": "Female", "race": "White", "patient_count": 84, "avg_age": 51.21},
    {"gender": "Female", "race": "Hispanic", "patient_count": 23, "avg_age": 53.7},
    {"gender": "Male", "race": "Black", "patient_count": 21, "avg_age": 52.52},
    {"gender": "Male", "race": "Hispanic", "patient_count": 20, "avg_age": 53.8},
    {"gender": "Female", "race": "Black", "patient_count": 18, "avg_age": 48.28},
    {"gender": "Male", "race": "Asian", "patient_count": 12, "avg_age": 56.5},
    {"gender": "Female", "race": "Asian", "patient_count": 10, "avg_age": 57.1},
    {"gender": "Male", "race": "Other", "patient_count": 8, "avg_age": 63.63},
    {"gender": "Other", "race": "White", "patient_count": 6, "avg_age": 48.17},
    {"gender": "Female", "race": "Other", "patient_count": 4, "avg_age": 47.25},
    {"gender": "Other", "race": "Black", "patient_count": 2, "avg_age": 61.5},
    {"gender": "Other", "race": "Hispanic", "patient_count": 2, "avg_age": 54.0},
]

EXPECTED = {
    "search/all": {
        "count": 300,
        "demographics": {
            "gender_distribution": {"Other": 3.33, "Female": 46.33, "Male": 50.33},
            "race_distribution": {
                "Black": 13.67,
                "Hispanic": 15.0,
                "Other": 4.0,
                "Asian": 7.33,
                "White": 60.0,
            },
        },
    },
    "search/female": {
        "count": 139,
        "demographics": {
            "gender_distribution": {"Female": 100.0},
            "race_distribution": {
                "Black": 12.95,
                "Hispanic": 16.55,
                "Other": 2.88,
                "Asian": 7.19,
                "White": 60.43,
            },
        },
    },
    "search/aged": {
        "count": 117,
        "demographics": {
            "gender_distribution": {"Other": 3.42, "Female": 48.72, "Male": 47.86},
            "race_distribution": {
                "Hispanic": 15.38,
                "Black": 13.68,
                "Other": 0.85,
                "Asian": 4.27,
                "White": 65.81,
            },
        },
    },
    "search/dx": {
        "count": 127,
        "demographics": {
            "gender_distribution": {"Other": 3.94, "Female": 49.61, "Male": 46.46},
            "race_distribution": {
                "Hispanic": 13.39,
                "Black": 12.6,
                "Other": 3.94,
                "Asian": 7.87,
                "White": 62.2,
            },
        },
    },
    "search/near_empty": {
        "count": 1,
        "demographics": {
            "gender_distribution": {"Female": 100.0},
            "race_distribution": {"White": 100.0},
        },
    },
    "search/empty": {
        "count": 0,
        "demographics": {"gender_distribution": {}, "race_distribution": {}},
    },
    "encounters": {
        "metrics": [
            {
                "period": "2024-03-01T00:00:00",
                "encounters": 44,
                "average_los": 2.89,
                "average_charges": 3837.61,
                "readmission_rate": 20.45,
            },
            {
                "period": "2024-04-01T00:00:00",
                "encounters": 43,
                "average_los": 2.86,
                "average_charges": 3394.51,
                "readmission_rate": 13.95,
            },
            {
                "period": "2024-05-01T00:00:00",
                "encounters": 52,
                "average_los": 3.46,
                "average_charges": 4456.77,
                "readmission_rate": 19.23,
            },
            {
                "period": "2024-06-01T00:00:00",
                "encounters": 49,
                "average_los": 2.76,
                "average_charges": 3836.07,
                "readmission_rate": 22.45,
            },
            {
                "period": "2024-07-01T00:00:00",
                "encounters": 48,
                "average_los": 3.29,
                "average_charges": 4810.94,
                "readmission_rate": 16.67,
            },
            {
                "period": "2024-08-01T00:00:00",
                "encounters": 41,
                "average_los": 3.2,
                "average_charges": 3814.48,
                "readmission_rate": 12.2,
            },
        ],
        "period": {"start": "2024-03-01", "end": "2024-08-31"},
    },
    "rca": {
        "analysis_type": "readmissions",
        "factors": [
            {
                "diagnosis_code": "F32.9",
                "readmission_count": 27,
                "avg_days_to_readmission": 10.43,
                "avg_abnormal_labs": 0.18,
            },
            {
                "diagnosis_code": "N18.3",
                "readmission_count": 22,
                "avg_days_to_readmission": 10.92,
                "avg_abnormal_labs": 0.21,
            },
            {
                "diagnosis_code": "E11.9",
                "readmission_count": 19,
                "avg_days_to_readmission": 11.63,
                "avg_abnormal_labs": 0.16,
            },
            {
                "diagnosis_code": "J44.1",
                "readmission_count": 18,
                "avg_days_to_readmission": 12.26,
                "avg_abnormal_labs": 0.21,
            },
            {
                "diagnosis_code": "I10",
                "readmission_count": 14,
                "avg_days_to_readmission": 9.13,
                "avg_abnormal_labs": 0.47,
            },
        ],
    },
    "quality": {
        "metrics": [
            {
                "metric_name": "30-Day Readmission Rate",
                "value": 16.67,
                "benchmark": 15.0,
                "status": "Needs Improvement",
                "trend": "stable",
                "details": {"total_encounters": 600, "readmissions": 100},
            },
            {
                "metric_name": "Average Length of Stay",
                "value": 3.0,
                "benchmark": 4.5,
                "status": "Good",
                "trend": "improving",
                "details": {"unit": "days", "specialty_adjusted": False},
            },
        ],
    },
    "status": {
        "database": {
            "total_patients": 300,
            "total_encounters": 600,
            "total_lab_results": 800,
        },
        "cache": {"keys": 1},
    },
    "report/monthly": {
        "report_type": "monthly",
        "data": {
            "report_type": "monthly",
            "window_days": 30,
            "executive_summary": {
                "total_patients": 47,
                "total_encounters": 52,
                "avg_length_of_stay": 3.0,
                "readmission_rate_pct": 7.69,
                "avg_charges": 3760.86,
            },
            "patient_metrics": PATIENT_METRICS,
            "utilization": [
                {
                    "encounter_type": "Emergency",
                    "encounter_count": 10,
                    "avg_los": 2.4,
                    "avg_charges": 4322.61,
                    "readmissions": 0,
                },
                {
                    "encounter_type": "Inpatient",
                    "encounter_count": 14,
                    "avg_los": 3.43,
                    "avg_charges": 4144.98,
                    "readmissions": 1,
                },
                {
                    "encounter_type": "Outpatient",
                    "encounter_count": 28,
                    "avg_los": 3.0,
                    "avg_charges": 3368.16,
                    "readmissions": 3,
                },
            ],
            "operational_metrics": {
                "days_observed": 26,
                "avg_daily_volume": 2.0,
                "std_daily_volume": 1.2,
                "peak_daily_volume": 6,
            },
        },
    },
    "report/quarterly": {
        "report_type": "quarterly",
        "data": {
            "report_type": "quarterly",
            "window_days": 90,
            "executive_summary": {
                "total_patients": 123,
                "total_encounters": 160,
                "avg_length_of_stay": 2.93,
                "readmission_rate_pct": 10.0,
                "avg_charges": 3971.05,
            },
            "patient_metrics": PATIENT_METRICS,
            "utilization": [
                {
                    "encounter_type": "Emergency",
                    "encounter_count": 38,
                    "avg_los": 2.84,
                    "avg_charges": 4856.93,
                    "readmissions": 3,
                },
                {
                    "encounter_type": "Inpatient",
                    "encounter_count": 34,
                    "avg_los": 3.15,
                    "avg_charges": 3433.59,
                    "readmissions": 3,
                },
                {
                    "encounter_type": "Outpatient",
                    "encounter_count": 88,
                    "avg_los": 2.88,
                    "avg_charges": 3796.17,
                    "readmissions": 10,
                },
            ],
            "operational_metrics": {
                "days_observed": 75,
                "avg_daily_volume": 2.13,
                "std_daily_volume": 1.13,
                "peak_daily_volume": 6,
            },
        },
    },
    "report/annual": {
        "report_type": "annual",
        "data": {
            "report_type": "annual",
            "window_days": 365,
            "executive_summary": {
                "total_patients": 267,
                "total_encounters": 600,
                "avg_length_of_stay": 3.02,
                "readmission_rate_pct": 16.67,
                "avg_charges": 4085.85,
            },
            "patient_metrics": PATIENT_METRICS,
            "utilization": [
                {
                    "encounter_type": "Emergency",
                    "encounter_count": 118,
                    "avg_los": 2.92,
                    "avg_charges": 3922.54,
                    "readmissions": 21,
                },
                {
                    "encounter_type": "Inpatient",
                    "encounter_count": 125,
                    "avg_los": 3.1,
                    "avg_charges": 4091.17,
                    "readmissions": 23,
                },
                {
                    "encounter_type": "Outpatient",
                    "encounter_count": 357,
                    "avg_los": 3.02,
                    "avg_charges": 4137.97,
                    "readmissions": 56,
                },
            ],
            "operational_metrics": {
                "days_observed": 288,
                "avg_daily_volume": 2.08,
                "std_daily_volume": 1.22,
                "peak_daily_volume": 7,
            },
        },
    },
    "report/executive": {
        "report_type": "executive",
        "data": {
            "report_type": "executive",
            "window_days": 30,
            "executive_summary": {
                "total_patients": 47,
                "total_encounters": 52,
                "avg_length_of_stay": 3.0,
                "readmission_rate_pct": 7.69,
                "avg_charges": 3760.86,
            },
            "patient_metrics": PATIENT_METRICS,
            "utilization": [
                {
                    "encounter_type": "Emergency",
                    "encounter_count": 10,
                    "avg_los": 2.4,
                    "avg_charges": 4322.61,
                    "readmissions": 0,
                },
                {
                    "encounter_type": "Inpatient",
                    "encounter_count": 14,
                    "avg_los": 3.43,
                    "avg_charges": 4144.98,
                    "readmissions": 1,
                },
                {
                    "encounter_type": "Outpatient",
                    "encounter_count": 28,
                    "avg_los": 3.0,
                    "avg_charges": 3368.16,
                    "readmissions": 3,
                },
            ],
            "operational_metrics": {
                "days_observed": 26,
                "avg_daily_volume": 2.0,
                "std_daily_volume": 1.2,
                "peak_daily_volume": 6,
            },
        },
    },
    "report/empty": {
        "report_type": "monthly",
        "window_days": 30,
        "executive_summary": {
            "total_patients": 0,
            "total_encounters": 0,
            "avg_length_of_stay": None,
            "readmission_rate_pct": None,
            "avg_charges": None,
        },
        "patient_metrics": PATIENT_METRICS,
        "utilization": [],
        "operational_metrics": {
            "days_observed": 0,
            "avg_daily_volume": None,
            "std_daily_volume": None,
            "peak_daily_volume": None,
        },
    },
    "api.quality_metrics": {
        "period": {"start": "2024-02-01", "end": "2024-06-30"},
        "total_encounters": 246,
        "readmission_rate_pct": 18.29,
        "average_length_of_stay": 3.04,
        "abnormal_lab_rate_pct": 18.63,
    },
}
