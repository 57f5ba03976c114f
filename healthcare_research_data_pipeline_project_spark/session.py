"""SparkSession factory and session-scoped state.

The reference delegates all execution to an RDBMS plus pandas
(`healthcare-data-pipeline-main.py:495-505` builds a SQLAlchemy engine);
our engine's equivalent bootstrap is a tuned SparkSession.

Scale posture: these defaults are written for a real cluster and merely
*shrunk* by `shuffle_partitions` for local runs. At 100 TB you would
raise `spark.sql.shuffle.partitions` (or rely on AQE coalescing from a
high initial number), keep AQE skew-join on, and leave broadcast
thresholds to AQE runtime stats.

Session-scoped state lives here too: `memo` (the one store for values
built once per application), `fingerprint` (the one rule for "this
content changed") and `scratch_dir` (the one temp-dir policy). So is
`literal_frame`, the one way to turn driver-side rows into a frame.

`driver_rows` is the one regime seam: every operator that picks
between an exact driver path and a distributed path by input size
makes that choice through its one capped fetch, and tests force the
distributed side of every such split with `distributed_regime()`.
"""

from __future__ import annotations

import atexit
import os
import shutil
import stat
import tempfile
from contextlib import contextmanager
from contextvars import ContextVar
from operator import methodcaller
from typing import Any, Callable, Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_string


def default_parallelism() -> int:
    """`$SPARK_GRAFT_CPUS`, else the cores this process may run on
    (what `nproc` counts)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return int(cpus)
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API (macOS, Windows)
        return os.cpu_count() or 1


def get_spark(
    app_name: str = "healthcare-research-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    - AQE on: runtime partition coalescing, skew-join splitting, and
      dynamic join-strategy switching replace all of the reference's
      hand-tuning (its batch-size/worker env knobs,
      `healthcare-env-example.sh:65-67`).
    - Arrow on: any pandas-UDF path is vectorized.
    - UTC session timezone: date arithmetic hash-matches the DuckDB
      oracle regardless of host timezone.
    """
    cpus = default_parallelism()
    resolved_master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(resolved_master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # respect advisoryPartitionSizeInBytes when coalescing instead of
        # padding reducer count out to defaultParallelism — fewer, fuller
        # reducers; the setting Spark's AQE docs recommend for busy
        # clusters, and it removes per-task scheduling overhead when a
        # shuffle is small relative to the core count
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # with parallelismFirst off, the advisory size is the knob that
        # balances reducer fan-in: 2m keeps compute-heavy aggregations
        # (percentiles, multi-distinct) parallel at local test scale while
        # still collapsing kB-sized shuffles to one task. At warehouse
        # scale raise this back to 64-256m — partition count then comes
        # from data volume, which is the property that transfers.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # InferFiltersFromGenerate synthesizes `size(arr) > 0` ahead of
        # every explode and lets it push below exchanges — when the
        # array is an expensive computed column (shingles, n-grams,
        # LSH bands) the whole expression is then evaluated twice, once
        # of those on the pre-repartition scan task. Measured 7x slowdown
        # on the decontamination query; our generators never feed empty
        # arrays where it matters, so drop the rule engine-wide.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # the generated-class cache defaults to 100 entries; a 176-query
        # workload holds several codegen units per query, so every
        # interleaved pass evicted everything and re-ran Janino per
        # query (measured: a8_percentiles 2.3-2.5 s cold-in-context vs
        # ~1.5 s re-run — the gap is recompilation, not data). 4000
        # entries keeps the whole corpus resident; generated classes
        # are KB-sized, so the ceiling is a few hundred MB of metaspace
        # at worst and irrelevant on a cluster driver
        .config("spark.sql.codegen.cache.maxEntries", "4000")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.maxResultSize", "2g")
        .config("spark.ui.enabled", "false")
    )
    # local mode runs every executor thread inside the driver JVM,
    # whose default heap is 1 GiB — 32 concurrent tasks in 1 GiB is a
    # GC treadmill (measured: the bench corpus's 1.5-2.0 s band is
    # GC-bound at the default). Size the heap like the executor it
    # actually is, but ONLY in local mode and never past what the host
    # can give: in client-mode cluster deploys the driver does no task
    # work and a blanket 24g request can fail JVM launch on a small
    # edge node (the r9 ADVICE finding). Cap at half the host's
    # MemTotal. Only effective if set before JVM launch — harmless
    # afterwards.
    if resolved_master.startswith("local"):
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM", f"{_local_heap_gib()}g"
            ),
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _local_heap_gib(want_gib: int = 24) -> int:
    """min(want, half of host MemTotal), floored at 1 GiB. Reads
    /proc/meminfo (Linux); falls back to a conservative 4 GiB when
    the host's memory is unknowable."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_gib = int(line.split()[1]) // (1024 * 1024)
                    return max(1, min(want_gib, total_gib // 2))
    except OSError:
        pass
    return min(want_gib, 4)


_memo: dict[tuple[str, Any], tuple[tuple | None, Any]] = {}
_memo_app: str | None = None


def memo(
    spark: SparkSession, kind: str, key: Any, build: Callable, paths: Sequence = ()
) -> Any:
    """The session-scoped memo: `build()` once, then serve its value.

    - Key: `(kind, key)`. One entry per key; a rebuild replaces it.
    - Content: the entry also stores `fingerprint` of every path in
      `paths`. A hit returns the stored value only while those
      fingerprints still match; otherwise the value is rebuilt. If a
      path changes while `build()` runs (a source rewritten mid-build,
      or an output the build itself creates), the entry is stored
      already stale and the next call rebuilds: one extra build, never
      a stale hit.
    - Eviction: the first call from a new Spark application drops
      every entry, so session-restarting processes (test suites) hold
      no handles into stopped sessions.

    Memoized values are build-once serving state: lazy relations
    (every action still scans the files), trained artifacts, knobs and
    scratch locations. They cache no query results, and every build is
    deterministic in its sources (content-hash sampling, fixed seeds
    and rounds), so serving an entry equals rebuilding it."""
    global _memo_app
    app = spark.sparkContext.applicationId
    if app != _memo_app:
        _memo.clear()
        _memo_app = app
    fp = tuple(map(fingerprint, paths))
    hit = _memo.get((kind, key))
    if hit is not None and hit[0] == fp:
        return hit[1]
    value = build()
    stale = fp != tuple(map(fingerprint, paths))
    _memo[(kind, key)] = (None if stale else fp, value)
    return value


def fingerprint(path: str) -> tuple:
    """The engine's one rule for "this content changed": the absolute
    path plus `(mtime_ns, size)` for a file; the count, max `mtime_ns`
    and total size of the data files below a directory (recursive;
    files named `_*` or `.*` are metadata by the parquet convention and
    skipped); `None` for a missing path."""
    path = os.path.abspath(path)
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (path, (st.st_mtime_ns, st.st_size))
        data = [
            os.stat(os.path.join(root, f))
            for root, _dirs, files in os.walk(path)
            for f in files
            if not f.startswith(("_", "."))
        ]
    except OSError:  # missing, or a file vanished mid-walk
        return (path, None)
    mtimes = [d.st_mtime_ns for d in data]
    return (path, (len(data), max(mtimes, default=0), sum(d.st_size for d in data)))


def scratch_dir(spark: SparkSession, prefix: str) -> str:
    """A new, unique directory under this application's temp root.
    The root lives in the system tempdir and is removed at interpreter
    exit: index artifacts, IVM views and graph checkpoints are
    session-scoped serving state, not durable data, and a fresh
    directory per build means no rebuild overwrites files a live frame
    still reads."""
    root = memo(spark, "scratch-root", None, _scratch_root)
    return tempfile.mkdtemp(prefix=prefix, dir=root)


def _scratch_root() -> str:
    root = tempfile.mkdtemp(prefix="hrdp_artifacts_")
    atexit.register(shutil.rmtree, root, True)
    return root


def literal_frame(
    spark: SparkSession, rows: Sequence, schema: str | StructType
) -> DataFrame:
    """A frame over driver-side `rows` (tuples, `Row`s or dicts) in
    `schema` (a DDL string or `StructType`), with the same rows and
    schema as `spark.createDataFrame(rows, schema)`.

    The values go through Spark's own `toInternal` conversion into a
    `pyarrow.Table`, which Spark plans as a JVM `LocalTableScan`, so no
    Python worker decodes the rows again on each scan. Callers add no
    `coalesce`: a local scan's tasks run in the JVM and cost little.
    Measured on 4 cores (steady state, seconds): a 90-row
    `(date, int, long)` literal broadcast-joined to a 2M-row range and
    summed takes 0.23-0.28 as Arrow, 0.50-0.62 as a pickled Python RDD
    and 1.24-1.31 as that RDD coalesced to one partition. Every literal
    the corpus builds at sf0.1 has at most 2,405 rows; only the graph
    operators' driver regime (up to `graph._DRIVER_EDGE_CAP` edges) can
    build far larger ones, and no benchmark workload times that side."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema
    if not isinstance(struct, StructType):
        struct = _parse_datatype_string(schema)
    arrow = to_arrow_schema(struct)
    cols = zip(*map(struct.toInternal, rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)


_forced_distributed: ContextVar[bool] = ContextVar(
    "forced_distributed", default=False
)


def driver_rows(
    df: DataFrame, cap: int, fetch: Callable = methodcaller("collect")
) -> Any:
    """The driver/distributed split: `fetch(df.limit(cap + 1))`, returned
    when it holds at most `cap` rows (the driver path's whole input),
    else `None` (take the distributed path; at most `cap + 1` rows ever
    reached the driver, so the probe stays memory-bounded). One action
    both answers the regime question and feeds the driver path, so
    there is no separate count job. `fetch` calls `collect` (a list of
    `Row`s) or `toArrow` (a `pyarrow.Table`) on the limited frame;
    both results have a `len`. (Not the unbound `DataFrame.collect`:
    in PySpark 4 that is the abstract declaration, which returns
    `None`.)

    Inside `distributed_regime()` the cap is 0: only an empty input
    stays on the driver."""
    if _forced_distributed.get():
        cap = 0
    rows = fetch(df.limit(cap + 1))
    return rows if len(rows) <= cap else None


@contextmanager
def distributed_regime() -> Iterator[None]:
    """Test seam: every `driver_rows` call made in this context (this
    thread or task only; it is a `ContextVar`) takes the distributed
    path for any non-empty input."""
    token = _forced_distributed.set(True)
    try:
        yield
    finally:
        _forced_distributed.reset(token)
