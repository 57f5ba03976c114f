"""Distributed Lloyd's k-means over an array<float> embedding column.

The coarse quantizer a 100 TB similarity/dedup pipeline trains for its
IVF cells (`operators/similarity.py` uses the corpus's `label` as a
stand-in; this operator is the real thing).

Execution shape per iteration — the same contract Spark MLlib's
KMeans uses:

1. **Assignment is map-side only.** Centroids are k×dim doubles — a
   bounded driver artifact (like the broadcast scalar pattern used
   throughout), inlined as literals into ONE projection:
   `argmin_c Σ(x_i−c_i)²` via `zip_with`+`aggregate`. No join, no
   shuffle, no Python UDF; whole-stage codegen keeps it JVM-side.
2. **The update is a (cid, dim) aggregation.** `posexplode` fans each
   vector to dim rows; the groupBy on (cid, pos) has k·dim groups, so
   the map-side partial aggregation reduces the shuffle to
   ~k·dim·n_partitions rows regardless of data size.
3. **Driver state is k×dim floats + one inertia scalar per round** —
   control flow only, never data.

Determinism: seeding takes the k rows with the smallest
md5-derived hash of the id (content-addressed, partition-invariant —
the `hash_sample` doctrine from operators/scale.py). Float centroid
averages are partition-order dependent in the last ulp (as in every
distributed k-means), so tests pin structural invariants
(inertia monotonicity, nearest-centroid consistency, blob recovery),
not float values.

Reference parity: the reference has no clustering surface; this
extends the similarity family (SURVEY §2 'beyond' ops) the same way
IVF/LSH do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import hash64_expr
from ..session import driver_rows, literal_frame


def _with_assignment(
    df: DataFrame,
    centroids: dict[int, list[float]],
    vec_col: str,
    keep_cols: list[str],
) -> DataFrame:
    """Rows of `df` + (cid, dist) for the nearest centroid (squared L2,
    ties broken by centroid id).

    Centroids travel as DATA — one broadcast single-row frame holding
    an array<array<double>> — not as literals in the expression tree:
    the plan shape is then identical every iteration, so Spark's
    generated-code cache is hit instead of recompiling a k×dim-literal
    projection per round (which dominated wall time: codegen, not
    compute, at small k). Still zero shuffle: broadcast + map-side
    min-of-structs."""
    spark = df.sparkSession
    cids = sorted(centroids)
    crow = literal_frame(
        spark,
        [([centroids[c] for c in cids], cids)],
        "__carr array<array<double>>, __cids array<int>",
    )
    entries = F.transform(
        F.col("__carr"),
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    c,
                    lambda x, y: (x.cast("double") - y)
                    * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("dist"),
            F.get(F.col("__cids"), i).alias("cid"),
        ),
    )
    best = F.array_min(entries)
    return df.crossJoin(F.broadcast(crow)).select(
        *keep_cols,
        best["cid"].alias("cid"),
        best["dist"].alias("dist"),
    )


def assign(
    df: DataFrame,
    centroids: dict[int, list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """One map-side pass labeling every row with its nearest centroid:
    (id_col, cid, dist). This is the serving/apply half of the trained
    quantizer — at 100 TB you train on a hash-sample (see `kmeans`)
    and run THIS over the full corpus."""
    return _with_assignment(df, centroids, vec_col, [id_col])


def _hash_of_id(x) -> int:
    """Driver twin of functions.text.hash64_expr(id, salt='km'):
    first 8 md5 hex chars as an integer."""
    import hashlib

    return int(hashlib.md5(f"{x}#km".encode()).hexdigest()[:8], 16)


def _driver_kmeans(
    rows, k: int, max_iter: int, tol: float
) -> tuple[dict[int, list[float]], list[float]]:
    """Exact in-memory Lloyd's on a collected (id, vec) sample — the
    bounded-training fast path (FAISS trains its coarse quantizer
    in-memory on a sample too). Same seeding rule and stopping rule as
    the distributed loop; vectorized via numpy."""
    import numpy as np

    ids = [r[0] for r in rows]
    x = np.asarray([list(map(float, r[1])) for r in rows], dtype=np.float64)
    order = sorted(range(len(ids)), key=lambda i: (_hash_of_id(ids[i]), ids[i]))
    seeds = order[:k]
    cent = x[seeds].copy()
    history: list[float] = []
    # The (n, k, dim) difference tensor is the memory cliff: with the
    # data-adaptive k = n/640 a 100k-row sample at dim 31 would need
    # ~15 GB. Chunk the distance pass over POINTS so peak extra memory
    # is bounded (~256 MB) while the float op sequence per (point,
    # centroid) — and therefore every label/inertia — is bit-identical
    # to the unchunked form.
    _budget_elems = 32_000_000  # float64s ≈ 256 MB
    for _ in range(max_iter):
        step = max(1, _budget_elems // max(1, len(cent) * x.shape[1]))
        lab = np.empty(len(x), dtype=np.int64)
        mind = np.empty(len(x), dtype=np.float64)
        for s in range(0, len(x), step):
            blk = x[s:s + step]
            # (chunk, k) squared distances; argmin ties -> lowest cid
            d2 = ((blk[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            bl = d2.argmin(axis=1)
            lab[s:s + step] = bl
            mind[s:s + step] = d2[np.arange(len(blk)), bl]
        inertia = float(mind.sum())
        for c in range(len(cent)):  # empty clusters keep their centroid
            m = lab == c
            if m.any():
                cent[c] = x[m].mean(axis=0)
        if history and history[-1] > 0 and (
            history[-1] - inertia
        ) / history[-1] < tol and inertia <= history[-1]:
            history.append(inertia)
            break
        history.append(inertia)
    return {c: [float(v) for v in cent[c]] for c in range(len(cent))}, history


#: input-row ceiling for training on the driver (one bounded collect)
_DRIVER_TRAIN_CAP = 100_000


def kmeans(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    max_iter: int = 10,
    tol: float = 1e-6,
) -> tuple[DataFrame, dict[int, list[float]], list[float]]:
    """Train k-means; returns (assignments, centroids, inertia_history).

    assignments: (id_col, cid, dist) — dist is the squared L2 to the
    assigned centroid. centroids: {cid: [dim floats]}. Stops when
    relative inertia improvement < `tol` or `max_iter` rounds.

    Adaptive training path (the connected_components doctrine): a
    quantizer trains on a bounded sample, so when the input fits under
    `_DRIVER_TRAIN_CAP` rows the Lloyd's loop runs in-memory on the
    driver (numpy, exact, one bounded collect) — N distributed rounds
    of broadcast+aggregate lose to one fetch at that size. Above the
    cap the loop is fully distributed: map-side assignment against
    broadcast centroids, (cid, dim) partial-agg update, driver holds
    only k×dim floats. The returned ASSIGNMENT pass is always
    distributed.

    Empty clusters keep their previous centroid (standard Lloyd's
    degenerate-case handling), so k never shrinks during iteration.
    If the input has fewer than k rows, only len(input) seeds exist
    and k degrades to that count — the one case where the returned
    centroid dict is smaller than requested.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    rows = driver_rows(
        df.select(F.col(id_col), F.col(vec_col)), _DRIVER_TRAIN_CAP
    )
    if rows == []:
        raise ValueError("kmeans requires a non-empty input frame")
    if rows is not None:
        centroids, history = _driver_kmeans(rows, k, max_iter, tol)
        return assign(df, centroids, vec_col, id_col), centroids, history
    base = df.select(F.col(id_col), F.col(vec_col)).persist()
    try:
        # deterministic content-hash seeding: k smallest md5(id) rows.
        # The top-k is a tiny driver fetch; ties cannot happen (hash of
        # distinct ids) but id is the secondary key anyway.
        seed_rows = (
            base.withColumn(
                "__h", F.expr(hash64_expr(f"cast({id_col} as string)", "km"))
            )
            .orderBy("__h", id_col)
            .limit(k)
            .collect()
        )
        centroids = {
            i: [float(x) for x in r[vec_col]]
            for i, r in enumerate(seed_rows)
        }
        history: list[float] = []
        for _ in range(max_iter):
            assigned = _with_assignment(
                base, centroids, vec_col, [id_col, vec_col]
            )
            # one job: per-(cid,pos) sums for the update AND the global
            # inertia, sharing the same scan
            upd = (
                assigned.select(
                    "cid", "dist", F.posexplode(vec_col).alias("pos", "x")
                )
                .groupBy("cid", "pos")
                .agg(
                    F.sum(F.col("x").cast("double")).alias("sx"),
                    F.count(F.lit(1)).alias("n"),
                    F.sum(
                        # dist repeats once per dim; divide back out by
                        # counting it once at pos 0 only
                        F.when(F.col("pos") == 0, F.col("dist")).otherwise(0.0)
                    ).alias("d0"),
                )
                .collect()
            )
            inertia = float(sum(r["d0"] for r in upd))
            new_centroids = dict(centroids)  # empty clusters keep place
            by_cid: dict[int, list] = {}
            for r in upd:
                by_cid.setdefault(r["cid"], []).append(r)
            for c, rows in by_cid.items():
                vec = [0.0] * len(centroids[c])
                for r in rows:
                    vec[r["pos"]] = r["sx"] / r["n"]
                new_centroids[c] = vec
            centroids = new_centroids
            if history and history[-1] > 0 and (
                (history[-1] - inertia) / history[-1] < tol
                and inertia <= history[-1]
            ):
                history.append(inertia)
                break
            history.append(inertia)
        out = assign(df, centroids, vec_col, id_col)
        return out, centroids, history
    finally:
        base.unpersist()
