"""The benchmark's workloads. Each is the list of ops of one cycle;
the loop runs whole cycles, each in an order drawn from the seed.

- `queries`: the 11 headline rows over `healthcare.mapping`'s bucketed
  warehouse, which build no driver-side literal frame, plus two
  `operators.similarity` rows that bypass the warehouse and read the
  split-cached embeddings: `sim_ivf_topk`, a ROADMAP direction-1 row
  whose plan scans a driver-built literal frame (the IVF centroids),
  and `sim_bruteforce_topk`, its control from the same family with
  none. Each op is forced with a `noop` write.
- `api_ingest`: the REST API served over loopback HTTP
  (`healthcare.http_api`) from tables loaded through ETL and PII
  masking, with ingest batches merged by `sinks.upsert_by_key` and
  swapped into the app between requests.
"""

from __future__ import annotations

import datetime as dt
import http.client
import json
import os
import random
import shutil

from common import API_DIR, DATA_DIR, dir_bytes, median

HC_ROWS = [
    "exec_summary",
    "hc_q1_readmission_risk",
    "hc_q2_sepsis_bundle",
    "hc_q3_provider_performance",
    "hc_q4_chronic_disease",
    "hc_q5_hai_surveillance",
    "hc_q6_drg_outliers",
    "hc_q7_trial_cohort",
    "hc_q8_ed_throughput",
    "hc_q9_access_audit",
    "hc_q10_data_quality",
]
CORPUS_ROWS = [
    "sim_ivf_topk",
    "sim_bruteforce_topk",
]
QUERY_ROWS = HC_ROWS + CORPUS_ROWS
#: Sorted by run time, the rows fall into bands: four below ~0.6 s
#: (hc_q10, exec_summary, hc_q8, brute force), hc_q6/hc_q3/hc_q9 at
#: ~0.7 s, and six from ~1 s up (hc_q7, hc_q4, hc_q5, IVF, hc_q2,
#: hc_q1). Running the middle three and two of the fastest rows twice
#: per cycle gives 6 samples below the middle band, 6 in it and 6 above
#: it, so the median of the 18 (the mean of the 9th and 10th) lies at
#: the band's centre: it moves to a neighbouring band only if three of
#: the six samples in the band do.
TWICE_PER_CYCLE = [
    "hc_q3_provider_performance",
    "hc_q6_drg_outliers",
    "hc_q9_access_audit",
    "hc_q8_ed_throughput",
    "hc_q10_data_quality",
]

#: `api.<route>.p50_s` metrics; `rca` is the computed answer (a cache
#: miss), `rca_hit` the cached one
API_ROUTES = ("search", "encounters", "rca", "rca_hit", "quality", "report", "status")


class Workload:
    #: the ops of one cycle; an op is `kind` or `kind/variant`
    mix: list[str] = []
    #: typical seconds per cycle on the 4-core reference host; a run
    #: measures the whole number of cycles closest to `--seconds`, so
    #: every run does the same amount of work
    cycle_s = 1.0

    def __init__(self, spark, tracer, seed: int, run_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.run_dir = run_dir

    def cycle(self, rng: random.Random) -> list[str]:
        order = list(self.mix)
        rng.shuffle(order)
        return order

    def kinds(self) -> list[str]:
        return list(dict.fromkeys(op.split("/")[0] for op in self.mix))

    def prepare(self) -> None:
        """Data readiness, timed as part of set-up."""

    def warm(self, kind: str) -> None:
        """One untimed op of `kind`, keeping what `check` needs."""
        self.run(kind, 0)

    def check(self) -> list[str]:
        """Failures found in the warm-up outputs."""
        return []

    def final_check(self) -> tuple[int, list[str]]:
        """Checks made after the timed loop: (ops they attempted,
        failures)."""
        return 0, []

    def run(self, name: str, op: int) -> None:
        """One op (an entry of `mix`); raises on failure."""
        raise NotImplementedError

    def after_op(self, name: str, op: int) -> dict[str, float]:
        """Per-op layer counters, read outside the timed region
        (traced runs only)."""
        return {}

    def layer_metrics(self) -> dict[str, float]:
        return {}

    def close(self) -> None:
        pass


class Queries(Workload):
    """Registered corpus rows, each run as `fn(spark, sf_dir)` and
    forced with a `noop` write."""

    rows = QUERY_ROWS
    cycle_s = 17.0

    def __init__(self, *a):
        super().__init__(*a)
        from healthcare_research_data_pipeline_project_spark import queries as Q
        from healthcare_research_data_pipeline_project_spark.caching import unpersist_tracked

        Q.load_all()
        self.queries, self.oracle_sql = Q.QUERIES, Q.ORACLE
        self.unpersist_tracked = unpersist_tracked
        self.mix = self.rows + TWICE_PER_CYCLE
        self.outputs = {}
        self.last_df = None
        self.persists: list[int] = []
        self.rdd_scans: list[int] = []

    def prepare(self) -> None:
        from healthcare_research_data_pipeline_project_spark.healthcare.mapping import (
            ensure_warehouse,
        )

        with self.tracer.span("mapping.ensure_warehouse", 0):
            ensure_warehouse(self.spark, DATA_DIR)

    def warm(self, kind: str) -> None:
        try:
            self.outputs[kind] = self.queries[kind](self.spark, DATA_DIR).toPandas()
        finally:
            self.unpersist_tracked()

    def check(self) -> list[str]:
        import oracle

        failures = []
        for kind, pdf in self.outputs.items():
            why = oracle.compare(kind, self.oracle_sql[kind], pdf)
            if why:
                failures.append(f"{kind}: {why}")
        self.outputs.clear()
        return failures

    def run(self, name: str, op: int) -> None:
        try:
            with self.tracer.span("query.build", op):
                df = self.queries[name](self.spark, DATA_DIR)
            with self.tracer.span("query.exec", op):
                df.write.format("noop").mode("overwrite").save()
        finally:
            self.persists.append(self.unpersist_tracked())
        self.last_df = df

    def after_op(self, name: str, op: int) -> dict[str, float]:
        self.rdd_scans.append(self.tracer.rdd_scans(self.last_df))
        return self.tracer.counters()

    def layer_metrics(self) -> dict[str, float]:
        return {
            "queries.build_s_p50": median(self.tracer.durations("query.build")),
            "queries.exec_s_p50": median(self.tracer.durations("query.exec")),
            "caching.tracked_persists_per_op": sum(self.persists) / max(1, len(self.persists)),
            "plan.python_rdd_scans_per_op": sum(self.rdd_scans) / max(1, len(self.rdd_scans)),
        }


API_TABLES = ("patients", "encounters", "labs")
N_PATIENTS, N_ENCOUNTERS, N_LABS = 20_000, 100_000, 200_000


def load_api_tables(spark, out_dir: str) -> None:
    """Generate the `api_ingest` tables with `healthcare.generator` and
    load them through `etl.transform_patient_data` (patients),
    `security.mask_pii_columns` and `sinks.write_warehouse` into
    `out_dir/<table>`. Run once per checkout by `prime.py`."""
    from healthcare_research_data_pipeline_project_spark.healthcare import (
        etl,
        generator,
        security,
    )
    from healthcare_research_data_pipeline_project_spark.sources import sinks

    raw = {
        "patients": etl.transform_patient_data(generator.generate_patients(spark, N_PATIENTS)),
        "encounters": generator.generate_encounters(spark, N_ENCOUNTERS, N_PATIENTS),
        "labs": generator.generate_labs(spark, N_LABS, N_ENCOUNTERS),
    }
    for name, df in raw.items():
        sinks.write_warehouse(security.mask_pii_columns(df), os.path.join(out_dir, name))


#: The readmission factors of `rca.readmission_analysis`, written
#: independently for DuckDB: index/readmission pairs of one patient
#: whose admission falls 0-30 days after the index discharge, with the
#: index encounter's abnormal-lab count.
RCA_ORACLE_SQL = """
WITH e AS (
  SELECT encounter_id, patient_id, diagnosis_code,
         CAST(encounter_date AS DATE) AS admitted, CAST(discharge_date AS DATE) AS discharged
  FROM read_parquet('{encounters}/*.parquet')),
pairs AS (
  SELECT a.encounter_id, a.diagnosis_code, b.admitted - a.discharged AS days
  FROM e a JOIN e b ON a.patient_id = b.patient_id
   AND b.admitted >= a.discharged AND b.admitted <= a.discharged + 30),
abnormal AS (
  SELECT encounter_id, count(*) AS n FROM read_parquet('{labs}/*.parquet')
  WHERE abnormal_flag GROUP BY encounter_id)
SELECT p.diagnosis_code, count(DISTINCT p.encounter_id), avg(p.days), avg(coalesce(abnormal.n, 0))
FROM pairs p LEFT JOIN abnormal USING (encounter_id)
GROUP BY p.diagnosis_code
"""


def rca_oracle_mismatch(factors: list[dict], encounters: str, labs: str) -> str | None:
    """None when the served RCA `factors` match the oracle over the
    parquet directories `encounters` and `labs`, else a one-line
    reason. Counts must be equal; the served averages are rounded to
    two places, so each must lie within 0.005 of the exact one."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        want = {
            r[0]: r[1:]
            for r in con.execute(RCA_ORACLE_SQL.format(encounters=encounters, labs=labs)).fetchall()
        }
    finally:
        con.close()
    got = {
        f["diagnosis_code"]: (
            f["readmission_count"], f["avg_days_to_readmission"], f["avg_abnormal_labs"]
        )
        for f in factors
    }
    if set(got) != set(want):
        return f"diagnosis codes {sorted(got)} != oracle {sorted(want)}"
    for code, (n, days, labs_n) in got.items():
        wn, wdays, wlabs = want[code]
        if n != wn or abs(days - wdays) > 0.005 + 1e-9 or abs(labs_n - wlabs) > 0.005 + 1e-9:
            return f"{code}: served {(n, days, labs_n)} != oracle {(wn, wdays, wlabs)}"
    return None


class ApiIngest(Workload):
    """Closed-loop HTTP client against `http_api.serve_background`."""

    BATCH_NEW, BATCH_UPDATES = 1_000, 1_000
    #: Parameter shapes are fixed per cycle and only their values come
    #: from the seed, so every cycle does the same work. Sorted by time,
    #: a cycle's 16 ops are the cached RCA answer and three quality
    #: checks (below 0.2 s), then two status requests and five
    #: encounter metrics (~0.3 s) in places 5-11, then the computed RCA
    #: answer, search, report and ingest (0.7-2 s). The median, the
    #: mean of places 8 and 9, lies at the centre of the ~0.3 s band,
    #: not on a jump between kinds.
    mix = (
        ["search/plain", "search/dx"]
        + ["encounters/day", "encounters/week", "encounters/month"]
        + ["encounters/typed", "encounters/typed"]
        + ["rca/hit", "rca/miss", "quality", "quality", "quality"]
        + ["report", "status", "status", "ingest"]
    )
    #: `rca/hit` asks for this period, whose answer set-up caches, so
    #: it is a cache hit; every `rca/miss` asks for a period not asked
    #: for before in the run (drawn from the seed), so the route
    #: computes its answer. The handler uses the period only in its
    #: cache key, so every miss does the same work.
    RCA_HIT_PERIOD = 90
    cycle_s = 10.0
    EXPECTED_KEYS = {
        "search": {"count", "demographics"},
        "encounters": {"metrics", "period"},
        "rca": {"analysis_type", "factors"},
        "quality": {"metrics"},
        "report": {"report_type", "data"},
        "status": {"database", "cache"},
    }

    def __init__(self, *a):
        super().__init__(*a)
        self.rng = random.Random(self.seed)
        self.miss_periods = [p for p in range(30, 366) if p != self.RCA_HIT_PERIOD]
        random.Random(self.seed).shuffle(self.miss_periods)
        self.rca_cached = None
        self.server = None
        self.batches = 0
        self.max_id = N_ENCOUNTERS
        self.request_jobs: list[tuple[str, float]] = []
        self.batch_bytes: list[tuple[int, int]] = []
        self.table_files = 0

    # -- set-up -----------------------------------------------------------
    def prepare(self) -> None:
        from healthcare_research_data_pipeline_project_spark.healthcare import (
            http_api,
            security,
        )

        spark = self.spark
        with self.tracer.span("api.read", 0):
            frames = {name: spark.read.parquet(self._version_path(name, 0)) for name in API_TABLES}
        self.app = http_api.HealthcareApi(
            spark,
            frames["patients"],
            frames["encounters"],
            frames["labs"],
            # above any run's request count: the default 100 calls per
            # user and route per hour would turn a long run into 429s
            limiter=security.RateLimiter(max_calls=10**9),
            current_year=2025,
        )
        with self.tracer.span("api.serve", 0):
            self.server, _ = http_api.serve_background(self.app)
            self.port = self.server.server_address[1]
            self.tokens = {
                role: self._request("POST", "/api/v1/auth/token", {
                    "username": f"bench_{role}", "password": "benchmark-pass", "role": role,
                })[1]["access_token"]
                for role in ("analyst", "admin")
            }

    def _version_path(self, name: str, v: int) -> str:
        """Version 0 is the primed table, read-only and shared by every
        run; ingest writes versions 1, 2, ... into the run's directory."""
        if v == 0:
            return os.path.join(API_DIR, name)
        return os.path.join(self.run_dir, "warehouse", name, f"v{v:04d}")

    def warm(self, kind: str) -> None:
        """The first op of `kind` in the mix; for RCA also the computed
        answer, after the request that caches the `rca/hit` answer."""
        names = [op for op in dict.fromkeys(self.mix) if op.split("/")[0] == kind]
        for name in names if kind == "rca" else names[:1]:
            self.run(name, 0)

    # -- requests ---------------------------------------------------------
    def _request(self, method: str, path: str, body: dict | None = None, role: str | None = None):
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            headers = {"Content-Type": "application/json"}
            if role:
                headers["Authorization"] = f"Bearer {self.tokens[role]}"
            conn.request(method, path, json.dumps(body) if body is not None else None, headers)
            resp = conn.getresponse()
            return resp.status, json.loads(resp.read())
        finally:
            conn.close()

    def _route_request(self, kind: str, variant: str):
        r = self.rng
        if kind == "search":
            lo = r.randrange(0, 60)
            body = {"min_age": lo, "max_age": lo + r.randrange(10, 50)}
            if variant == "dx":
                body["diagnosis_codes"] = r.sample(["I10", "E11.9", "J44.1", "N18.3", "F32.9"], 2)
            return "POST", "/api/v1/patients/search", body, "analyst"
        if kind == "encounters":
            start = dt.date(2024, 1, 1) + dt.timedelta(days=r.randrange(0, 180))
            end = start + dt.timedelta(days=r.randrange(30, 180))
            body = {"start_date": start.isoformat(), "end_date": end.isoformat(),
                    "group_by": "month" if variant == "typed" else variant}
            if variant == "typed":
                body["encounter_type"] = r.choice(["Inpatient", "Outpatient", "Emergency"])
            return "POST", "/api/v1/analytics/encounters", body, "analyst"
        if kind == "rca":
            period = self.RCA_HIT_PERIOD if variant == "hit" else self.miss_periods.pop()
            body = {"analysis_type": "readmissions", "time_period_days": period}
            return "POST", "/api/v1/analytics/rca", body, "analyst"
        if kind == "quality":
            return "GET", "/api/v1/analytics/quality-metrics", None, "analyst"
        if kind == "report":
            rt = r.choice(["monthly", "quarterly", "annual", "executive"])
            return "GET", f"/api/v1/reports/generate/{rt}", None, "analyst"
        return "GET", "/api/v1/status", None, "admin"

    @staticmethod
    def route(name: str) -> str:
        """The `api.<route>` name of a request op."""
        return "rca_hit" if name == "rca/hit" else name.split("/")[0]

    def run(self, name: str, op: int) -> dict | None:
        """One op; for a request op, returns its checked response body."""
        kind, _, variant = name.partition("/")
        if kind == "ingest":
            with self.tracer.span("ingest.batch", op):
                self._ingest()
            return None
        method, path, body, role = self._route_request(kind, variant)
        with self.tracer.span(f"api.{self.route(name)}", op):
            status, payload = self._request(method, path, body, role)
        if not 200 <= status < 300:
            raise RuntimeError(f"{kind}: HTTP {status} {str(payload)[:200]}")
        missing = self.EXPECTED_KEYS[kind] - set(payload)
        if missing:
            raise RuntimeError(f"{kind}: response lacks {sorted(missing)}")
        if kind == "status":
            want = N_ENCOUNTERS + self.BATCH_NEW * self.batches
            got = payload["database"]["total_encounters"]
            if got != want:
                raise RuntimeError(f"status: {got} encounters, expected {want}")
        if name == "rca/hit":
            # the route caches an answer for an hour whatever is
            # ingested meanwhile; a hit must return exactly that answer
            if self.rca_cached is None:
                self.rca_cached = payload
            elif payload != self.rca_cached:
                raise RuntimeError("rca/hit: answer differs from the cached one")
        return payload

    def final_check(self) -> tuple[int, list[str]]:
        """One more computed RCA answer after the loop, so after the
        last ingest, compared with the DuckDB oracle over the table
        version the app serves now."""
        try:
            payload = self.run("rca/miss", 0)
            why = rca_oracle_mismatch(
                payload["factors"],
                self._version_path("encounters", self.batches),
                self._version_path("labs", 0),
            )
        except Exception as e:
            why = f"{type(e).__name__}: {str(e)[:300]}"
        return 1, [f"rca after ingest: {why}"] if why else []

    # -- ingest -----------------------------------------------------------
    def _batch(self):
        """2,000 seeded encounters: half new keys, half updates of
        existing keys spread evenly over the table."""
        from pyspark.sql import functions as F

        from healthcare_research_data_pipeline_project_spark.healthcare import generator

        salt = self.seed * 100_003 + self.batches
        new = generator.generate_encounters(
            self.spark, self.BATCH_NEW, N_PATIENTS, seed=salt
        ).withColumn("encounter_id", F.col("encounter_id") + self.max_id)
        step = self.max_id // self.BATCH_UPDATES
        first = 1 + random.Random(salt).randrange(step)
        upd = generator.generate_encounters(
            self.spark, self.BATCH_UPDATES, N_PATIENTS, seed=salt + 1
        ).withColumn("encounter_id", (F.col("encounter_id") - 1) * step + first)
        return new.unionByName(upd)

    def _ingest(self) -> None:
        from healthcare_research_data_pipeline_project_spark.healthcare import security
        from healthcare_research_data_pipeline_project_spark.sources import sinks

        incoming = security.mask_pii_columns(self._batch())
        merged = sinks.upsert_by_key(self.app.encounters, incoming, "encounter_id")
        new = self._version_path("encounters", self.batches + 1)
        sinks.write_warehouse(merged, new)
        self.app.encounters = self.spark.read.parquet(new)
        if self.batches:
            shutil.rmtree(self._version_path("encounters", self.batches), ignore_errors=True)
        self.batches += 1
        self.max_id += self.BATCH_NEW
        self._incoming = incoming

    # -- traced counters --------------------------------------------------
    def after_op(self, name: str, op: int) -> dict[str, float]:
        out = self.tracer.counters()
        if name != "ingest":
            self.request_jobs.append((self.route(name), out["jobs"]))
        else:
            table = self._version_path("encounters", self.batches)
            self.table_files = sum(1 for f in os.listdir(table) if f.endswith(".parquet"))
            probe = os.path.join(self.run_dir, "batch_probe")
            self._incoming.write.mode("overwrite").parquet(probe)
            self.batch_bytes.append((dir_bytes(table), dir_bytes(probe)))
            shutil.rmtree(probe, ignore_errors=True)
            self.tracer.mark()
        return out

    def layer_metrics(self) -> dict[str, float]:
        out = {f"api.{r}.p50_s": median(self.tracer.durations(f"api.{r}")) for r in API_ROUTES}
        jobs = [j for _, j in self.request_jobs]
        rca = [j for r, j in self.request_jobs if r in ("rca", "rca_hit")]
        out["api.jobs_per_request"] = sum(jobs) / max(1, len(jobs))
        out["api.rca_cache_hit_ratio"] = sum(1 for j in rca if j == 0) / max(1, len(rca))
        out["ingest.batch_s_p50"] = median(self.tracer.durations("ingest.batch"))
        out["ingest.write_amplification"] = (
            median([w / b for w, b in self.batch_bytes]) if self.batch_bytes else 0.0
        )
        out["ingest.table_files"] = self.table_files
        return out

    def close(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()


WORKLOADS = {"queries": Queries, "api_ingest": ApiIngest}
