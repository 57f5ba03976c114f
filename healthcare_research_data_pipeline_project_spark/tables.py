"""Loaders for the driver's parquet tables (see TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — a TPC-H-ish star schema plus an event stream,
a text corpus, and an embedding table.

Scale posture: `region`/`nation` are constant-size dimensions and are
always broadcast; `supplier`/`part`/`customer` grow with SF, so we
leave their join strategy to AQE (runtime-measured broadcast or
shuffled hash). Fact tables (`orders`, `lineitem`, `events`) are never
broadcast. At warehouse scale the facts would be written partitioned
by date and bucketed by their join key — see `sources/sinks.py`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import fingerprint, memo

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: constant-cardinality dims safe to broadcast at any scale factor
ALWAYS_BROADCAST = {"region", "nation"}

#: tables large enough that downstream per-row work (derived-attribute
#: hashing, shingling, vector math) dominates a scan. The driver's
#: parquet files are written as a single row group, so Spark plans ONE
#: scan task per file regardless of maxPartitionBytes — without
#: intervention, every computation over them runs on one core. These
#: tables are served through a one-time multi-file relayout
#: (`_spread`'s split cache) so scans parallelize at the source with
#: no per-query exchange. On a real warehouse the inputs arrive in
#: many files/row-groups and the relayout never runs.
#: dim-sized tables (customer/part/supplier) stay as-is: their derived-
#: column work is microseconds and any relayout would cost more than
#: it saves.
SPREAD_TABLES = {"orders", "lineitem", "events", "documents", "embeddings"}


def _split_cache_dir(path: str, nparts: int) -> str:
    """Content-keyed location of the multi-file relayout of `path`:
    invalidated by the source's `session.fingerprint` (regenerated or
    rewritten-in-place testdata) and by the split count (different CPU
    budget). The dir name leads with a stable source-path id so stale
    siblings of the SAME source (regenerated testdata, changed CPU
    count) are identifiable and pruned on the next build — without it
    the cache grew a full table copy per vintage forever (r9 ADVICE)."""
    import hashlib

    src = hashlib.md5(os.path.abspath(path).encode()).hexdigest()[:8]
    spec = f"{fingerprint(path)!r}\x00{nparts}"
    key = hashlib.md5(spec.encode()).hexdigest()[:12]
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".split_cache",
    )
    return os.path.join(root, f"{src}-{key}")


def _spread(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    # file smaller than one scan split (spark.sql.files.maxPartitionBytes,
    # 128 MB default) → Spark plans a single scan task. Bigger files get
    # multiple byte-range splits from the scan itself and pass through.
    #
    # The fix is a LAYOUT, not a shuffle: relayout the single-row-group
    # file into `defaultParallelism` files ONCE (rename-committed cache,
    # same protocol as healthcare/mapping.ensure_warehouse), then serve
    # every query from the multi-file copy. Scans parallelize at the
    # source with ZERO per-query exchange — the previous per-query
    # round-robin repartition shuffled the full table through every
    # plan that touched a fact (~0.4 s/query at sf0.1, and an extra
    # exchange in every explain). On a real warehouse inputs arrive in
    # many files/row-groups, `getsize >= 128 MB` short-circuits, and
    # this path never runs — the cache exists only because the driver's
    # testdata ships as one row group per table.
    if os.path.getsize(path) >= 128 * 1024 * 1024:
        return df
    nparts = spark.sparkContext.defaultParallelism
    cache = _split_cache_dir(path, nparts)
    done = os.path.join(cache, "_DONE")
    if not os.path.exists(done):
        import shutil
        import time as _time
        import uuid

        # build into a uniquely-suffixed temp dir (pid alone is not
        # unique within a process: two threads would share it and
        # rmtree races the other's in-flight write — r9 ADVICE);
        # atomic rename is the commit. If a concurrent process won the
        # race, our rename fails onto the existing dir — discard our
        # build and read the winner's (contents are equivalent by
        # construction).
        tmp = f"{cache}.building-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        df.repartition(nparts).write.mode("overwrite").parquet(tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        try:
            os.rename(tmp, cache)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.exists(done):
                raise
        # cache hygiene, best-effort after a successful commit — BOTH
        # branches age-gated (r10 ADVICE: unconditional sibling
        # pruning could delete the cache a CONCURRENT process with a
        # different nparts was actively reading, mid-query):
        # (a) prune committed siblings of the SAME source only when
        #     older than an hour — stale mtime/size/nparts vintages
        #     (regenerated testdata, a changed CPU budget) age past
        #     the gate and go; a freshly-built concurrent vintage is
        #     spared;
        # (b) reap orphaned .building-* staging dirs older than four
        #     hours (a crash between write and rename leaks one; the
        #     r10 1-hour gate could reap a live build that
        #     legitimately runs long, e.g. a 20x probe relayout).
        root, base = os.path.split(cache)
        src_prefix = base.split("-", 1)[0] + "-"
        for d in os.listdir(root):
            full = os.path.join(root, d)
            try:
                age = _time.time() - os.path.getmtime(full)
                if ".building-" in d:
                    if age > 4 * 3600:
                        shutil.rmtree(full, ignore_errors=True)
                elif d.startswith(src_prefix) and full != cache and age > 3600:
                    shutil.rmtree(full, ignore_errors=True)
            except OSError:
                pass
    # `_DONE` is invisible to the reader (files starting with `_` are
    # metadata by parquet convention)
    return spark.read.parquet(cache)


def table_path(sf_dir: str, name: str) -> str:
    """The source file of table `name` under `sf_dir`."""
    return os.path.join(sf_dir, f"{name}.parquet")


def table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = True
) -> DataFrame:
    """Load one table. `spread=False` reads the source file verbatim,
    bypassing the split-layout cache — for consumers that must observe
    the driver's file exactly (layout tests, cache-identity checks).
    The lazy relation is served from `session.memo` (a fresh read
    plans a footer/schema job and a file listing per call),
    fingerprinted on the source and on the relayout's `_DONE` marker."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = table_path(sf_dir, name)
    spread = spread and name in SPREAD_TABLES
    paths = [path]
    if spread:
        cache = _split_cache_dir(path, spark.sparkContext.defaultParallelism)
        paths.append(os.path.join(cache, "_DONE"))
    return memo(
        spark, "table", (path, spread),
        lambda: _load_table(spark, name, spread, path), paths,
    )


def _load_table(
    spark: SparkSession, name: str, spread: bool, path: str
) -> DataFrame:
    if name == "events":
        # events.ts has shipped as both parquet TIMESTAMP(NANOS) (which
        # Spark refuses by default — read nanos as long, truncate to µs
        # like DuckDB/pandas do) and as native timestamp[us] (read
        # as-is). Guard on the dtype Spark actually resolved so either
        # file vintage loads.
        from pyspark.sql.types import LongType

        # set-and-restore: the flag's effect is captured in the schema
        # resolved at read.parquet() time (verified: a later action on
        # the returned frame succeeds with the conf restored), so the
        # shared session's conf is left exactly as found — no global
        # side effect on the driver's vanilla session.
        key = "spark.sql.legacy.parquet.nanosAsLong"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "true")
        try:
            raw = spark.read.parquet(path)
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
        if spread:
            raw = _spread(spark, raw, path)
        if isinstance(raw.schema["ts"].dataType, LongType):
            raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            # native timestamp[us] arrives as TIMESTAMP_NTZ; cast to the
            # session-tz timestamp every consumer (and round-1 output
            # schema) expects — a no-op value-wise under the UTC session.
            raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
        return raw
    df = spark.read.parquet(path)
    return _spread(spark, df, path) if spread else df


class Tables:
    """Lazy per-table accessor: `t.orders` builds the scan plan on
    first touch, so a query only opens the files it actually reads."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        if name not in self._cache:
            self._cache[name] = table(self._spark, self._sf_dir, name)
        return self._cache[name]


def load_tables(spark: SparkSession, sf_dir: str) -> Tables:
    return Tables(spark, sf_dir)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views for `spark.sql` corpora."""
    for n in TABLE_NAMES:
        table(spark, sf_dir, n).createOrReplaceTempView(n)
