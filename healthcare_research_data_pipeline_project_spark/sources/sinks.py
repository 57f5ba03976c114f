"""Sinks — parity with the reference's warehouse load and result
serialization (SURVEY §2.1 S5-S7).

The reference upserts row-by-row through the ORM
(`healthcare-data-pipeline-main.py:606-670` — a driver-side loop that
cannot scale); here upsert is a distributed dedup-by-key merge, and
the warehouse write is partitioned parquet."""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def upsert_by_key(
    existing: DataFrame | None,
    incoming: DataFrame,
    key: str | list[str],
    version_col: Column | None = None,
) -> DataFrame:
    """Last-write-wins merge by primary key (`session.merge` semantics,
    reference `:622,644,659`; SURVEY §7.7).

    Incoming rows beat existing rows; within each side the highest
    `version_col` (default: arbitrary-but-deterministic via a source
    rank) wins. One shuffle on the key — the MERGE INTO plan shape
    without requiring a table format."""
    keys = [key] if isinstance(key, str) else list(key)
    inc = incoming.withColumn("__src", F.lit(1))
    if existing is None:
        unioned = inc
    else:
        unioned = existing.withColumn("__src", F.lit(0)).unionByName(inc)
    order = [F.desc("__src")]
    if version_col is not None:
        order.append(version_col.desc())
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        unioned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def write_warehouse(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Partitioned parquet warehouse write. Partition columns should be
    low-cardinality scan predicates (year/month of the fact date) so
    partition pruning replaces the reference's secondary indexes
    (SURVEY §4)."""
    writer = df.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def to_records(df: DataFrame, limit: int | None = None) -> list[dict]:
    """`results.to_dict('records')` parity (reference `:313`) — bounded
    driver-side materialization; always cap result size."""
    if limit is not None:
        df = df.limit(limit)
    return [r.asDict(recursive=True) for r in df.collect()]


class ResultCache:
    """Param-keyed result cache with TTL — the reference's Redis RCA
    cache (`healthcare-api-main.py:401-419`) without the external
    service: small results are memoized on the driver; DataFrame
    handles are persisted engine-side."""

    def __init__(self, ttl_seconds: float = 3600.0):
        self.ttl = ttl_seconds
        self._store: dict[str, tuple[float, Any]] = {}

    @staticmethod
    def key(**params: Any) -> str:
        return "&".join(f"{k}={params[k]}" for k in sorted(params))

    def get(self, key: str) -> Any | None:
        hit = self._store.get(key)
        if hit is None:
            return None
        ts, value = hit
        if time.monotonic() - ts > self.ttl:
            if isinstance(value, DataFrame):
                value.unpersist()
            # pop, not del: two threads may expire the same key
            self._store.pop(key, None)
            return None
        return value

    def put(self, key: str, value: Any) -> Any:
        if isinstance(value, DataFrame):
            value = value.persist()
        self._store[key] = (time.monotonic(), value)
        return value


def compact_small_files(
    spark,
    src: str,
    dest: str,
    target_bytes: int = 128 << 20,
    sort_cols: list[str] | None = None,
) -> int:
    """Rewrite a parquet directory into ~target_bytes output files.

    The small-files problem is the classic failure mode of streaming /
    per-batch sinks at scale: a 100 TB table written in 10k micro-
    batches ends up with millions of KB-sized files and every scan
    pays per-file open cost. Compaction = read, repartition to
    ceil(bytes / target), rewrite. With `sort_cols` the rewrite uses
    repartitionByRange, giving min/max-clustered files so downstream
    range predicates prune at the footer level (poor man's Z-order).
    Returns the number of output partitions chosen.

    `dest` must differ from `src`: parquet overwrite deletes the target
    before writing, so an in-place compact would delete its own input
    mid-read. Input size comes from `DataFrame.inputFiles()` metadata —
    no `_jsc`/`_jvm` Hadoop internals, so the helper also works where
    the JVM gateway isn't reachable (Spark Connect).
    """
    import math
    import os
    from urllib.parse import urlparse

    def _norm(p: str) -> str:
        parsed = urlparse(p)
        return os.path.abspath(parsed.path) if parsed.scheme in ("", "file") else p

    if _norm(dest) == _norm(src):
        raise ValueError(
            "compact_small_files: dest must differ from src "
            "(overwrite would delete the source mid-read)"
        )

    df = spark.read.parquet(src)
    total = 0
    for f in df.inputFiles():
        parsed = urlparse(f)
        if parsed.scheme in ("", "file"):
            total += os.path.getsize(parsed.path)
        else:
            # remote store: sum footer-reported sizes via a metadata-only
            # scan of the file index (still no JVM internals)
            total = sum(
                r.length
                for r in spark.read.format("binaryFile")
                .load(src)
                .select(F.col("length"))
                .collect()
            )
            break
    n = max(1, math.ceil(total / target_bytes))
    out = (
        df.repartitionByRange(n, *sort_cols) if sort_cols else df.repartition(n)
    )
    out.write.mode("overwrite").parquet(dest)
    return n


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """ORC sink with optional hive-style partitioning (same layout
    doctrine as `write_warehouse`: partition columns are the pruning
    interface for downstream scans)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)
