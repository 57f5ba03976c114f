"""Thin HTTP adapter binding the api.py handlers to real sockets —
parity with the reference's FastAPI scaffolding
(`healthcare-api-main.py:75-138` middleware + request models,
`:209-545` endpoints) using only the stdlib `http.server`.

Deliberately thin: every endpoint validates its request model
(the reference's pydantic Field/validator constraints re-expressed as
explicit checks, incl. the cross-field `max_age >= min_age` and
`end_date >= start_date` rules), delegates to the EXISTING handler
functions in `api.py` / `reporting.py`, and maps the engine-layer
error taxonomy onto status codes exactly where the reference's
exception handlers do:

    malformed/expired bearer  → 401  (reference `:149-160`)
    InsufficientRoleError     → 403  (`:171-176`)
    RateLimitExceededError    → 429  (`:192-196`)
    NotImplementedError       → 501  (`:425-429`)
    request-model violation   → 422  (FastAPI's validation status)
    unknown route             → 404
    untrusted Host header     → 400  (Starlette TrustedHostMiddleware)
    disallowed CORS preflight → 400  (Starlette CORSMiddleware)

Middleware parity (`healthcare-api-main.py:75-87`): the reference
mounts CORSMiddleware (configurable allow_origins, credentials, all
methods/headers) and TrustedHostMiddleware (configurable
allowed_hosts) — re-expressed here as `allowed_origins` /
`allowed_hosts` constructor knobs with Starlette's semantics: host
patterns support `*` and `*.domain` wildcards and reject with 400
"Invalid host header" (Starlette's status — NOT 403); preflights from
disallowed origins get 400, allowed ones echo the origin (the
credentials-mode behavior) plus requested method/headers; simple
responses carry Access-Control-Allow-Origin only when allowed —
per the CORS model the server never rejects a simple request, the
browser enforces the missing header.

No Spark work happens here — the handlers own the plans; this layer
parses JSON, checks shapes, and serializes dicts. Scale note: the
server is a control-plane convenience (admin/analyst queries over
pre-aggregated results), NOT a data plane — result sizes are bounded
by api.SEARCH_LIMIT upstream.
"""

from __future__ import annotations

import datetime as dt
import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame

from ..sources.sinks import ResultCache, to_records
from . import api
from .security import (
    InsufficientRoleError,
    RateLimiter,
    RateLimitExceededError,
    SecurityManager,
)

_ROLE_RE = re.compile(r"^(researcher|analyst|admin|viewer)$")
_GROUP_RE = re.compile(r"^(day|week|month|quarter)$")
_ANALYSIS_RE = re.compile(r"^(readmissions|infections|mortality|los)$")
_REPORT_TYPES = ("monthly", "quarterly", "annual", "executive")


class RequestValidationError(ValueError):
    """422-equivalent: carries the per-field messages like FastAPI's
    validation response body."""

    def __init__(self, errors: list[str]):
        super().__init__("; ".join(errors))
        self.errors = errors


def _require(cond: bool, errors: list[str], msg: str) -> None:
    if not cond:
        errors.append(msg)


def _parse_date(s, field: str, errors: list[str]):
    try:
        return dt.date.fromisoformat(str(s)[:10])
    except (TypeError, ValueError):
        errors.append(f"{field}: invalid ISO date")
        return None


def validate_token_request(body: dict) -> dict:
    """TokenRequest (reference `:90-94`): username 3-50, password >= 8,
    role in the fixed set."""
    errors: list[str] = []
    username = str(body.get("username") or "")
    password = str(body.get("password") or "")
    role = str(body.get("role") or "")
    _require(3 <= len(username) <= 50, errors, "username: length 3-50")
    _require(len(password) >= 8, errors, "password: min length 8")
    _require(bool(_ROLE_RE.match(role)), errors, "role: must match researcher|analyst|admin|viewer")
    if errors:
        raise RequestValidationError(errors)
    return {"username": username, "password": password, "role": role}


def validate_patient_search(body: dict) -> dict:
    """PatientSearchRequest (reference `:100-112`): ages 0-120 with the
    cross-field max_age >= min_age validator."""
    errors: list[str] = []
    out: dict = {}
    for f in ("min_age", "max_age"):
        v = body.get(f)
        if v is not None:
            _require(isinstance(v, int) and 0 <= v <= 120, errors, f"{f}: int in 0-120")
        out[f] = v if isinstance(v, int) else None
    if (
        out["min_age"] is not None
        and out["max_age"] is not None
        and out["max_age"] < out["min_age"]
    ):
        errors.append("max_age must be greater than min_age")
    dx = body.get("diagnosis_codes")
    if dx is not None and not (
        isinstance(dx, list) and all(isinstance(x, str) for x in dx)
    ):
        errors.append("diagnosis_codes: list of strings")
    if errors:
        raise RequestValidationError(errors)
    out["gender"] = body.get("gender")
    out["race"] = body.get("race")
    out["diagnosis_codes"] = dx
    return out


def validate_encounter_metrics(body: dict, today: dt.date | None = None) -> dict:
    """EncounterMetricsRequest (reference `:114-126`): ISO dates,
    end_date >= start_date, end_date not in the future, group_by enum."""
    errors: list[str] = []
    start = _parse_date(body.get("start_date"), "start_date", errors)
    end = _parse_date(body.get("end_date"), "end_date", errors)
    group_by = str(body.get("group_by") or "month")
    _require(bool(_GROUP_RE.match(group_by)), errors, "group_by: day|week|month|quarter")
    if start and end:
        _require(end >= start, errors, "end_date must be after start_date")
        _require(
            end <= (today or dt.date.today()), errors, "end_date cannot be in the future"
        )
    if errors:
        raise RequestValidationError(errors)
    return {
        "start_date": start.isoformat(),
        "end_date": end.isoformat(),
        "group_by": group_by,
        "encounter_type": body.get("encounter_type"),
    }


def validate_rca_request(body: dict) -> dict:
    """RCARequest (reference `:132-135`): analysis_type enum,
    time_period_days 30-365, min_sample_size >= 10."""
    errors: list[str] = []
    analysis_type = str(body.get("analysis_type") or "")
    period = body.get("time_period_days", 90)
    min_n = body.get("min_sample_size", 30)
    _require(
        bool(_ANALYSIS_RE.match(analysis_type)),
        errors,
        "analysis_type: readmissions|infections|mortality|los",
    )
    _require(isinstance(period, int) and 30 <= period <= 365, errors, "time_period_days: int in 30-365")
    _require(isinstance(min_n, int) and min_n >= 10, errors, "min_sample_size: int >= 10")
    if errors:
        raise RequestValidationError(errors)
    return {
        "analysis_type": analysis_type,
        "time_period_days": period,
        "min_sample_size": min_n,
    }


class HealthcareApi:
    """Route table + request lifecycle, separated from the socket layer
    so `handle()` is directly unit-testable. One instance per serving
    process; the Spark frames are the pre-registered warehouse views."""

    def __init__(
        self,
        spark,
        patients: DataFrame,
        encounters: DataFrame,
        labs: DataFrame,
        security: SecurityManager | None = None,
        limiter: RateLimiter | None = None,
        cache: ResultCache | None = None,
        current_year: int | None = None,
        allowed_origins: list[str] | None = None,
        allowed_hosts: list[str] | None = None,
    ):
        self.allowed_origins = (
            list(allowed_origins) if allowed_origins is not None else ["*"]
        )
        self.allowed_hosts = (
            list(allowed_hosts) if allowed_hosts is not None else ["*"]
        )
        self.spark = spark
        self.patients = patients
        self.encounters = encounters
        self.labs = labs
        self.security = security or SecurityManager()
        self.limiter = limiter or RateLimiter()
        self.cache = cache or ResultCache()
        self.current_year = current_year

    # -- auth ----------------------------------------------------------
    def _authed(self, headers: dict) -> dict:
        auth = headers.get("authorization", "")
        if not auth.lower().startswith("bearer "):
            raise PermissionError("Missing bearer token")
        payload = self.security.verify_token(auth.split(None, 1)[1])
        if payload is None:
            raise PermissionError("Invalid or expired token")
        return payload

    # -- endpoints -----------------------------------------------------
    def login(self, body: dict) -> dict:
        req = validate_token_request(body)
        token = self.security.generate_token(req["username"], req["role"])
        return {
            "access_token": token,
            "token_type": "bearer",
            "expires_in": self.security.ttl_seconds,
        }

    def patients_search(self, headers: dict, body: dict) -> dict:
        user = self._authed(headers)
        self.limiter.check(f"rate_limit:{user['user_id']}:patients_search")
        req = validate_patient_search(body)
        cohort = api.search_patients(
            self.patients,
            self.encounters,
            gender=req["gender"],
            race=req["race"],
            min_age=req["min_age"],
            max_age=req["max_age"],
            diagnosis_codes=req["diagnosis_codes"],
            current_year=self.current_year,
        )
        return api.search_demographics(cohort)

    def analytics_encounters(self, headers: dict, body: dict) -> dict:
        user = self._authed(headers)
        self.limiter.check(f"rate_limit:{user['user_id']}:analytics_encounters")
        req = validate_encounter_metrics(body)
        rows = to_records(
            api.encounter_metrics(
                self.encounters,
                req["start_date"],
                req["end_date"],
                group_by=req["group_by"],
                encounter_type=req["encounter_type"],
            ),
            limit=api.SEARCH_LIMIT,
        )
        for r in rows:  # timestamps → ISO strings for JSON
            r["period"] = r["period"].isoformat()
        return {"metrics": rows, "period": {"start": req["start_date"], "end": req["end_date"]}}

    def analytics_rca(self, headers: dict, body: dict) -> dict:
        user = self._authed(headers)
        req = validate_rca_request(body)
        records = api.run_rca_cached(
            self.encounters,
            self.labs,
            user,
            self.limiter,
            self.cache,
            analysis_type=req["analysis_type"],
            time_period_days=req["time_period_days"],
            client_key=user["user_id"],
        )
        return {"analysis_type": req["analysis_type"], "factors": records}

    def quality_metrics(self, headers: dict) -> dict:
        """GET /api/v1/analytics/quality-metrics (reference `:342-390`):
        role-gated benchmark snapshot, same metric names/benchmarks."""
        from .security import require_role

        user = self._authed(headers)
        require_role(user, ["researcher", "analyst", "admin"])
        return api.quality_benchmarks(self.encounters)

    def generate_report(self, headers: dict, report_type: str) -> tuple[int, dict]:
        """GET /api/v1/reports/generate/{type} (reference `:434-468`):
        invalid type → 400 (the one endpoint with a 400, not 422)."""
        from .security import require_role

        user = self._authed(headers)
        require_role(user, ["researcher", "analyst", "admin"])
        if report_type not in _REPORT_TYPES:
            return 400, {
                "detail": f"Invalid report type. Must be one of: {list(_REPORT_TYPES)}"
            }
        from . import reporting

        data = reporting.generate_research_report(
            self.patients, self.encounters, report_type=report_type
        )
        return 200, {"report_type": report_type, "data": data}

    def admin_status(self, headers: dict) -> dict:
        user = self._authed(headers)
        return api.system_status(
            self.patients, self.encounters, self.labs, user, cache=self.cache
        )

    def health(self) -> dict:
        return api.health_check(self.spark)

    # -- middleware (reference healthcare-api-main.py:75-87) -----------
    def _host_allowed(self, host: str | None) -> bool:
        host = (host or "").split(":")[0].lower()
        for pat in self.allowed_hosts:
            pat = pat.lower()
            if pat == "*" or pat == host:
                return True
            if pat.startswith("*.") and host.endswith(pat[1:]):
                return True
        return False

    def _origin_allowed(self, origin: str) -> bool:
        return "*" in self.allowed_origins or origin in self.allowed_origins

    def _cors_headers(self, headers: dict) -> dict:
        origin = headers.get("origin", "")
        if origin and self._origin_allowed(origin):
            # credentials mode (the reference sets
            # allow_credentials=True): echo the origin — browsers
            # reject the literal '*' together with credentials
            return {
                "Access-Control-Allow-Origin": origin,
                "Access-Control-Allow-Credentials": "true",
            }
        return {}

    # -- dispatch ------------------------------------------------------
    def handle(self, method: str, path: str, headers: dict, body: bytes):
        """(status, payload, response_headers) for one request — the
        socket-free core."""
        if not self._host_allowed(headers.get("host")):
            return 400, {"detail": "Invalid host header"}, {}
        if method == "OPTIONS" and "access-control-request-method" in headers:
            origin = headers.get("origin", "")
            if not (origin and self._origin_allowed(origin)):
                return 400, {"detail": "Disallowed CORS origin"}, {}
            hdrs = self._cors_headers(headers)
            hdrs["Access-Control-Allow-Methods"] = headers[
                "access-control-request-method"
            ]
            req_hdrs = headers.get("access-control-request-headers")
            if req_hdrs:
                hdrs["Access-Control-Allow-Headers"] = req_hdrs
            hdrs["Access-Control-Max-Age"] = "600"
            return 200, {}, hdrs
        status, payload = self._route(method, path, headers, body)
        return status, payload, self._cors_headers(headers)

    def _route(self, method: str, path: str, headers: dict, body: bytes):
        try:
            parsed = json.loads(body) if body else {}
            if not isinstance(parsed, dict):
                raise RequestValidationError(["body: JSON object required"])
        except json.JSONDecodeError:
            return 422, {"detail": ["body: malformed JSON"]}
        try:
            if (method, path) == ("POST", "/api/v1/auth/token"):
                return 200, self.login(parsed)
            if (method, path) == ("POST", "/api/v1/patients/search"):
                return 200, self.patients_search(headers, parsed)
            if (method, path) == ("POST", "/api/v1/analytics/encounters"):
                return 200, self.analytics_encounters(headers, parsed)
            if (method, path) == ("POST", "/api/v1/analytics/rca"):
                return 200, self.analytics_rca(headers, parsed)
            if (method, path) == ("GET", "/api/v1/analytics/quality-metrics"):
                return 200, self.quality_metrics(headers)
            if method == "GET" and path.startswith("/api/v1/reports/generate/"):
                return self.generate_report(
                    headers, path.rsplit("/", 1)[-1]
                )
            if (method, path) == ("GET", "/api/v1/status"):
                return 200, self.admin_status(headers)
            if (method, path) == ("GET", "/health"):
                return 200, self.health()
            return 404, {"detail": f"No route {method} {path}"}
        except RequestValidationError as e:
            return 422, {"detail": e.errors}
        except InsufficientRoleError as e:
            return 403, {"detail": str(e)}
        except RateLimitExceededError as e:
            return 429, {"detail": str(e)}
        except NotImplementedError as e:
            return 501, {"detail": str(e)}
        except PermissionError as e:
            return 401, {"detail": str(e)}


def serve(app: HealthcareApi, host: str = "127.0.0.1", port: int = 0):
    """Bind the route table to a ThreadingHTTPServer. Returns the
    server (already listening; `.server_address` has the bound port).
    Run `serve_forever` on a thread; `shutdown()` to stop."""

    class Handler(BaseHTTPRequestHandler):
        def _dispatch(self, method: str) -> None:
            n = int(self.headers.get("Content-Length") or 0)
            body = self.rfile.read(n) if n else b""
            headers = {k.lower(): v for k, v in self.headers.items()}
            status, payload, extra = app.handle(
                method, self.path, headers, body
            )
            data = json.dumps(payload, default=str).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            for k, v in extra.items():
                self.send_header(k, v)
            self.end_headers()
            self.wfile.write(data)

        def do_GET(self):  # noqa: N802 (stdlib naming)
            self._dispatch("GET")

        def do_POST(self):  # noqa: N802
            self._dispatch("POST")

        def do_OPTIONS(self):  # noqa: N802 (CORS preflight)
            self._dispatch("OPTIONS")

        def log_message(self, *a):  # quiet test runs
            pass

    server = ThreadingHTTPServer((host, port), Handler)
    return server


def serve_background(app: HealthcareApi, host: str = "127.0.0.1", port: int = 0):
    """Start serving on a daemon thread; returns (server, thread)."""
    server = serve(app, host, port)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server, t
