"""Expected answers for the query rows, and the comparison against them.

Each row's DuckDB oracle (`queries.ORACLE`) is run once per checkout by
`prime.py` over the benchmark's data and stored in canonical form;
every run compares its Spark results to those files with the same
canonicalisation as `tools/check_correctness.py`.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import json
import os

from common import DATA_DIR, ORACLE_DIR, ROOT


@functools.cache
def _cc():
    """`tools/check_correctness.py`, for its DuckDB views and `canon`."""
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(ROOT, "tools", "check_correctness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _path(name: str, sql: str) -> str:
    key = hashlib.md5(sql.encode()).hexdigest()[:12]
    return os.path.join(ORACLE_DIR, f"{name}-{key}.json")


def _canonical(pdf) -> dict:
    c = _cc().canon(pdf)
    return {"columns": list(c.columns), "rows": c.values.tolist()}


def build(names: list[str], oracle_sql: dict[str, str]) -> None:
    """Run each row's DuckDB oracle over the benchmark data and store
    its canonical answer (skipped when already stored)."""
    os.makedirs(ORACLE_DIR, exist_ok=True)
    con = _cc().duck_con(DATA_DIR)
    try:
        for name in names:
            path = _path(name, oracle_sql[name])
            if os.path.exists(path):
                continue
            answer = _canonical(con.execute(oracle_sql[name]).fetchdf())
            with open(path + ".tmp", "w") as f:
                json.dump(answer, f)
            os.replace(path + ".tmp", path)
    finally:
        con.close()


def compare(name: str, sql: str, pdf) -> str | None:
    """None when the Spark result `pdf` matches the stored oracle answer,
    else a one-line reason."""
    with open(_path(name, sql)) as f:
        want = json.load(f)
    got = _canonical(pdf)
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != oracle {want['columns']}"
    if len(got["rows"]) != len(want["rows"]):
        return f"{len(got['rows'])} rows != oracle {len(want['rows'])}"
    bad = sum(1 for a, b in zip(got["rows"], want["rows"]) if a != b)
    return f"{bad}/{len(want['rows'])} rows differ from oracle" if bad else None
