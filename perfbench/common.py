"""Paths, the pinned run environment and small helpers shared by the
benchmark's launcher (`run.py`), priming step (`prime.py`) and measured
process (`worker.py`).

Everything the benchmark writes lives under `STATE` (`.perfbench/` at
the checkout root, ignored by git) or in the package's own content-keyed
caches (`.warehouse_cache/`, `.split_cache/`), which priming fills.
"""

from __future__ import annotations

import hashlib
import os
import statistics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")
PACKAGE_DIR = os.path.join(ROOT, "healthcare_research_data_pipeline_project_spark")
STATE = os.path.join(ROOT, ".perfbench")
DATA_DIR = os.path.join(STATE, "data", "sf0.1")
ORACLE_DIR = os.path.join(STATE, "oracle")
API_DIR = os.path.join(STATE, "api")
PRIME_FILE = os.path.join(STATE, "prime.json")
TRACE_DIR = os.path.join(STATE, "traces")
RUN_LOG = os.path.join(STATE, "runs.jsonl")

#: Files outside `perfbench/` the benchmark needs from the checkout.
REQUIRED = (
    os.path.join(PACKAGE_DIR, "__init__.py"),
    os.path.join(ROOT, "__spark_entry__.py"),
    os.path.join(ROOT, "tools", "make_testdata.py"),
    os.path.join(ROOT, "tools", "check_correctness.py"),
)

#: The benchmark reads only its checkout, so it generates its sf0.1
#: tables with `tools/make_testdata.py` rather than reading the reference
#: testdata. Counted with pyarrow, the reference sf0.1 tables hold 5,000
#: documents and 2,000 embeddings, and make_testdata's other eight tables
#: already have the reference row counts; make_testdata sizes documents
#: and embeddings at 500,000 x sf, so priming trims them to the reference
#: counts.
TRIM_ROWS = {"documents": 5000, "embeddings": 2000}

DRIVER_MEM = "2g"
HEAP_OPTS = "-Xmn512m -Xms2g"


def missing_files() -> list[str]:
    return [p for p in REQUIRED if not os.path.exists(p)]


def pinned_env(tmp_dir: str) -> dict[str, str]:
    """The environment every Spark process of the benchmark runs in.

    Core count and heap are pinned so runs repeat; the checkout root is
    on PYTHONPATH so Python UDF workers can import the package; hash
    randomisation is fixed; and every temporary file goes to `tmp_dir`,
    which the launcher removes after the run."""
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYTHONPATH=ROOT,
        PYTHONHASHSEED="0",
        TMPDIR=tmp_dir,
        SPARK_LOCAL_DIRS=tmp_dir,
        PYTHONDONTWRITEBYTECODE="1",
    )
    # the JVM writes its perf-data file and java.io.tmpdir under /tmp
    # unless told otherwise; a fixed young generation keeps the heap's
    # resident size from following G1's pause-time sizing, which moves
    # with host load
    env["SPARK_SUBMIT_OPTS"] = " ".join(
        x
        for x in (
            os.environ.get("SPARK_SUBMIT_OPTS", ""),
            f"-Djava.io.tmpdir={tmp_dir}",
            "-XX:-UsePerfData",
            HEAP_OPTS,
        )
        if x
    )
    env.pop("SPARK_MASTER", None)
    return env


def source_fingerprint() -> str:
    """Content hash of every file whose change invalidates priming: the
    package, the entry module, the two tools priming uses, and the
    benchmark itself."""
    h = hashlib.md5()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    paths += [os.path.join(ROOT, "tools", f) for f in ("make_testdata.py", "check_correctness.py")]
    for base in (PACKAGE_DIR, BENCH_DIR):
        for d, _dirs, files in os.walk(base):
            paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def dir_bytes(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
