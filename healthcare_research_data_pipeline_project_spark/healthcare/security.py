"""Security column operations — parity with the reference's
SecurityManager (`healthcare-data-pipeline-main.py:40-80`) as
engine-side expressions (never driver-side row loops).

- `hash_pii`: SHA-256 hex, byte-identical to the reference's
  hashlib.sha256 (`:52-54`) so cross-system checks line up.
- `mask_pii_columns`: schema-name-driven masking (`:182-197`) —
  mrn→hash, ssn/phone/email→literal mask.
- `encrypt_column`/`decrypt_column`: AES-GCM via Spark's builtin
  `aes_encrypt`/`aes_decrypt`. The reference uses Fernet
  (AES-128-CBC+HMAC) — not bit-compatible, and both schemes are
  IV-randomized, so the contract is roundtrip equality, never
  ciphertext equality (the reference's own tests agree,
  healthcare-tests.py:76-83; SURVEY §7.6).
- `audit_event`: structured audit record (reference `:72-80`),
  engine-side so audit trails scale with the data.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MASK_LITERAL = "***MASKED***"
#: column-name patterns that force masking (reference `:191`)
MASK_NAME_PATTERN = re.compile(r"ssn|phone|email", re.IGNORECASE)
HASH_NAME_PATTERN = re.compile(r"mrn", re.IGNORECASE)


def hash_pii(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.sha2(c.cast("string"), 256)


def mask_pii_columns(df: DataFrame) -> DataFrame:
    """Mask by schema-name scan: a driver-side decision (column names),
    executor-side execution (expressions)."""
    out = df
    for name in df.columns:
        if HASH_NAME_PATTERN.search(name):
            out = out.withColumn(name, hash_pii(name))
        elif MASK_NAME_PATTERN.search(name):
            out = out.withColumn(
                name, F.when(F.col(name).isNotNull(), F.lit(MASK_LITERAL))
            )
    return out


def encrypt_column(df: DataFrame, col: str, key: str) -> DataFrame:
    """AES-GCM encrypt a string column (key must be 16/24/32 bytes)."""
    return df.withColumn(
        col,
        F.base64(
            F.expr(f"aes_encrypt(cast({col} as binary), '{key}', 'GCM')")
        ),
    )


def decrypt_column(df: DataFrame, col: str, key: str) -> DataFrame:
    return df.withColumn(
        col,
        F.expr(f"aes_decrypt(unbase64({col}), '{key}', 'GCM')").cast("string"),
    )


# ---------------------------------------------------------------------------
# API auth shim — parity with the reference's JWT + RBAC + rate limit
# (`healthcare-api-main.py:149-206`, token impl
# `healthcare-data-pipeline-main.py:56-70`; contract pinned by reference
# tests `healthcare-tests.py:95-112`). The reference depends on PyJWT +
# Redis; neither is in this container, so the JWT is HS256 built from
# stdlib hmac/hashlib (wire-compatible with `jwt.encode(...,
# algorithm='HS256')`) and the rate limiter mirrors Redis
# INCR+EXPIRE fixed-window semantics in-process. Neither touches Spark:
# auth is a driver/API concern, never a per-row plan stage.
# ---------------------------------------------------------------------------
import base64 as _b64
import hashlib as _hashlib
import hmac as _hmac
import json as _json
import threading as _threading
import time as _time


def _b64url(data: bytes) -> str:
    return _b64.urlsafe_b64encode(data).rstrip(b"=").decode()


def _b64url_dec(s: str) -> bytes:
    return _b64.urlsafe_b64decode(s + "=" * (-len(s) % 4))


class SecurityManager:
    """JWT HS256 issue/verify (reference `:56-70`).

    Tokens carry {user_id, role, exp}; `verify_token` returns the
    payload dict, or None for malformed / bad-signature / expired
    tokens — the exact contract of the reference's
    `jwt.decode(..., algorithms=['HS256'])` under InvalidTokenError."""

    def __init__(self, jwt_secret: str = "your-jwt-secret-key",
                 ttl_seconds: int = 24 * 3600):
        self.jwt_secret = jwt_secret
        self.ttl_seconds = ttl_seconds

    def _sign(self, signing_input: bytes) -> bytes:
        return _hmac.new(
            self.jwt_secret.encode(), signing_input, _hashlib.sha256
        ).digest()

    def generate_token(self, user_id: str, role: str) -> str:
        header = {"alg": "HS256", "typ": "JWT"}
        payload = {
            "user_id": user_id,
            "role": role,
            "exp": int(_time.time()) + self.ttl_seconds,
        }
        head = _b64url(_json.dumps(header, separators=(",", ":")).encode())
        body = _b64url(_json.dumps(payload, separators=(",", ":")).encode())
        sig = _b64url(self._sign(f"{head}.{body}".encode()))
        return f"{head}.{body}.{sig}"

    def verify_token(self, token: str) -> dict | None:
        try:
            head, body, sig = token.split(".")
            expected = self._sign(f"{head}.{body}".encode())
            if not _hmac.compare_digest(_b64url_dec(sig), expected):
                return None
            payload = _json.loads(_b64url_dec(body))
            if int(payload.get("exp", 0)) < _time.time():
                return None
            return payload
        except Exception:
            return None


class InsufficientRoleError(PermissionError):
    """403-equivalent (reference `healthcare-api-main.py:171-176`)."""


def require_role(payload: dict, required_roles: list[str]) -> dict:
    """RBAC gate: raise unless the verified token's role is allowed
    (reference `:162-179`). Returns the payload for chaining."""
    role = (payload or {}).get("role", "")
    if role not in required_roles:
        raise InsufficientRoleError(
            f"Insufficient permissions. Required roles: {required_roles}"
        )
    return payload


class RateLimitExceededError(RuntimeError):
    """429-equivalent (reference `:192-196`)."""


class RateLimiter:
    """Fixed-window counter per key — Redis INCR + first-call EXPIRE
    semantics (reference `:181-206`) without the Redis dependency. The
    window starts at the first call and resets `window_seconds` later,
    exactly like an EXPIRE set on count==1. One lock makes each check's
    read-modify-write atomic, as INCR is: the HTTP server runs requests
    on threads."""

    def __init__(self, max_calls: int = 100, window_seconds: int = 3600,
                 clock=_time.monotonic):
        self.max_calls = max_calls
        self.window_seconds = window_seconds
        self._clock = clock
        self._windows: dict[str, tuple[float, int]] = {}  # key → (start, count)
        self._lock = _threading.Lock()

    def check(self, key: str) -> int:
        """Count a call; return the in-window count or raise 429."""
        with self._lock:
            now = self._clock()
            start, count = self._windows.get(key, (now, 0))
            if now - start >= self.window_seconds:
                start, count = now, 0
            count += 1
            self._windows[key] = (start, count)
        if count > self.max_calls:
            raise RateLimitExceededError(
                f"Rate limit exceeded. Max {self.max_calls} calls per "
                f"{self.window_seconds} seconds"
            )
        return count


def audit_event(df: DataFrame, user_id: str, action: str) -> DataFrame:
    """Attach a structured audit record per accessed row (reference
    logs one JSON line per action; at scale the audit trail is itself
    a table)."""
    return df.select(
        F.current_timestamp().alias("access_timestamp"),
        F.lit(user_id).alias("user_id"),
        F.lit(action).alias("action"),
        F.md5(F.to_json(F.struct(*df.columns))).alias("row_digest"),
    )
