"""Similarity search over embedding columns (north-star extension).

Embeddings are `array<float>` columns; all math is JVM-side Catalyst
HOFs (`zip_with` + `aggregate`) — Arrow/pandas never enters the hot
path.

Scale posture: every top-k ANN route is one filter → score → rank
pipeline built from the same plain stage functions, so the routes
differ only in how they generate candidates:

- `_queries` / `_corpus` / `_pairs`: the query frame (qid, qe), the
  candidate frame (cid, ce), and their broadcast join with self pairs
  excluded — the query set is small, the corpus stays partitioned.
- `_route(metric=...)`: IVF cell routing. Each query ranks the (tiny,
  broadcast) centroid table by squared L2 ("l2") or cosine-to-
  centroid ("cos"), both rounded to 6 dp with ties on cell id, so the
  probe set is engine-reproducible and a SQL oracle can re-derive it.
- `_cos4` / `_l2`: the scores — cosine rounded to 4 dp, and the
  squared-L2 fold in array order.
- `_adc_scan`: the PQ compressed scan, Σ_j LUT[j][code[j]] over the
  stored m-byte codes, optionally restricted to routed cells.
- `_topk(by=...)` / `_adc_rank`: the `row_number` rank per `by`
  (qid by default), kept to k — also the rank tail of `knn_graph`,
  `knn_graph_ann` (by src) and `tfidf_knn_posting` (by doc_id).
- `_refine`: the exact squared-L2 re-rank of a PQ shortlist
  (IndexRefineFlat).
- `_projections` / `_sign_bits(lo, n)`: the `pr` array of md5-plane
  projections and its sign-bit key over planes lo..lo+n-1 — the LSH
  bucket of `lsh_multiprobe_topk` and the band keys of
  `knn_graph_ann`.
- `_normed` / `_cos_self_join`: the persisted (id, block, v, nrm)
  self-join on block (plus band keys), with the pair predicate and
  the 4-dp `dot / (na·nb)` cosine — the catalyst branches of
  `embedding_near_dup_pairs` and `knn_graph`, and `knn_graph_ann`.

Route compositions:

| route | candidates | score | rank |
|---|---|---|---|
| `brute_force_topk` | `_pairs` (all) | `_cos4` | `_topk` |
| `lsh_topk`, `lsh_multiprobe_topk` | `_pairs` on bucket | `_cos4` | `_topk` |
| `sq8_topk` | `_pairs` (all, reconstructions) | rounded dot | `_topk` |
| `ivf_topk`, `ivf_range_search` | `_route("cos")` ⋈ cell | `_cos4` | `_topk` / τ screen |
| `pq_topk` | `_adc_scan` (all codes) | ADC | `_adc_rank` [+ `_refine`] |
| `ivfpq_topk`, `ann_serve_topk` | `_route("l2")` + `_adc_scan` | ADC | `_adc_rank` [+ `_refine`] |
| `knn_graph_ann` | `_cos_self_join` on block + band key | rounded cosine | `_topk(by="src")` |

`auto_ivf_nprobe` ranks cells with the same `_route` stage the
serving routes use, and the audited corpus rows `sim_pq_topk` /
`sim_ivfpq_topk` (queries/datapipe7.py) build their one candidate
expansion from `_route` and `_adc_scan`. LSH candidates only join
inside a bucket and IVF candidates only inside a probed cell
(equi-joins), which is what replaces the cross product at 100 TB.
"""

from __future__ import annotations

import functools
import logging
import operator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..caching import track_persist
from ..session import literal_frame

_log = logging.getLogger("hrdp.similarity")


def _dot(a: str, b: str) -> F.Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
        f" cast(0.0 as double), (acc, v) -> acc + v)"
    )


# ---------------------------------------------------------------------------
# Pipeline stages shared by the ANN routes (see the module docstring)
# ---------------------------------------------------------------------------
def _l2(a, b) -> F.Column:
    """Squared L2 distance Σ (a_i − b_i)², folded in array order in
    double — the fold the DuckDB oracles mirror with `list_sum`."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _cos(a: str, b: str) -> F.Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _cos4(a: str, b: str) -> F.Column:
    """Cosine rounded HALF_UP to 4 dp before ranking, so both engines
    produce the identical ranking (ties then break on candidate id)."""
    return F.round(_cos(a, b), 4).cast("double")


def _queries(
    emb: DataFrame, query_ids, id_col: str, vec_col: str, *extra
) -> DataFrame:
    return emb.filter(F.col(id_col).isin([int(q) for q in query_ids])).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qe"), *extra
    )


def _corpus(emb: DataFrame, id_col: str, vec_col: str, *extra) -> DataFrame:
    return emb.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("ce"), *extra)


def _pairs(q: DataFrame, c: DataFrame, on: F.Column | None = None) -> DataFrame:
    """Broadcast the (small) query side against the candidate side,
    optionally on an equi-key, never pairing a query with itself."""
    not_self = F.col("cid") != F.col("qid")
    return F.broadcast(q).join(c, not_self if on is None else on & not_self)


def _topk(df: DataFrame, k: int, *order, by: str = "qid") -> DataFrame:
    """Per-`by` top-k by `order` (which must end in a unique tie-break):
    `rank` is the int row_number, kept to k. The filter sits on the bare
    row_number so Spark plans a partial WindowGroupLimit below the
    shuffle."""
    w = Window.partitionBy(by).orderBy(*order)
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("int"))
    )


def _normed(
    emb: DataFrame, id_col: str, block_col: str, vec_col: str, *extra
) -> DataFrame:
    """(id, block, v, nrm, *extra): the `_cos_self_join` input, each
    vector's norm computed once so every pair costs one dot."""
    return emb.select(
        F.col(id_col),
        F.col(block_col).alias("block"),
        F.col(vec_col).alias("v"),
        F.sqrt(_dot(vec_col, vec_col)).alias("nrm"),
        *extra,
    )


def _cos_self_join(
    d: DataFrame, id_col: str, block_col: str, ids, pair, keys=()
) -> DataFrame:
    """Cosine pairs of a `_normed` frame: (ids[0], ids[1], block_col,
    cos_sim). `d` is persisted (both join sides branch from it), the
    sides equi-join on block plus `keys`, `pair(left_id, right_id)`
    keeps the wanted id pairs (`operator.lt`: each unordered pair once;
    `operator.ne`: both directions), and the cosine is one divide of
    the dot by |a|·|b|, rounded HALF_UP to 4 dp — the op order of
    `_blocked_cos_scan` and the SQL oracles."""
    d = track_persist(d)
    on = ("block", *keys)
    a = d.select(
        F.col(id_col).alias(ids[0]), *on,
        F.col("v").alias("va"), F.col("nrm").alias("na"),
    )
    b = d.select(
        F.col(id_col).alias(ids[1]), *[F.col(c).alias(f"{c}_b") for c in on],
        F.col("v").alias("vb"), F.col("nrm").alias("nb"),
    )
    cond = functools.reduce(
        operator.and_,
        [F.col(c) == F.col(f"{c}_b") for c in on]
        + [pair(F.col(ids[0]), F.col(ids[1]))],
    )
    cos = F.round(_dot("va", "vb") / (F.col("na") * F.col("nb")), 4)
    return a.join(b, cond).select(
        *ids, F.col("block").alias(block_col), cos.cast("double").alias("cos_sim")
    )


def _route(
    q: DataFrame, cents: DataFrame, metric: str, nprobe: int | None = None
) -> DataFrame:
    """IVF cell routing: every (query, centroid) pair with `cr`, the
    cell's rank for that query — squared L2 ascending ("l2") or cosine
    to the centroid descending ("cos"; |qe| is constant per query, so
    the centroid norm alone fixes the order). Distances are rounded to
    6 dp before ranking and ties break on cell id: rounding absorbs
    float summation order, so the probe set is engine-reproducible and
    a SQL oracle can re-derive it. With `nprobe`, only the nearest
    `nprobe` cells per query are kept."""
    if metric == "l2":
        key = F.round(_l2("qe", "centroid"), 6).asc()
    else:
        key = F.round(
            _dot("qe", "centroid") / F.sqrt(_dot("centroid", "centroid")), 6
        ).desc()
    w = Window.partitionBy("qid").orderBy(key, "cell")
    ranked = q.join(F.broadcast(cents)).withColumn("cr", F.row_number().over(w))
    return ranked if nprobe is None else ranked.filter(F.col("cr") <= nprobe)


def _adc_scan(
    luts: DataFrame,
    codes: DataFrame,
    id_col: str,
    *extra,
    probe: DataFrame | None = None,
    label_col: str = "label",
    exclude_self: bool = True,
) -> DataFrame:
    """PQ compressed scan: (qid, cid, dist, *extra) with `dist` the ADC
    distance Σ_j LUT[j][code[j]] rounded to 6 dp. Without `probe` every
    code is a candidate (the broadcast LUTs join the codes, self pairs
    excluded); with a routed `probe` (qid, cell) only codes inside each
    query's probed cells are — an equi-join on the cell key."""
    if probe is None:
        cand = F.broadcast(luts).join(codes, F.col(id_col) != F.col("qid"))
    else:
        cand = probe.select("qid", F.col("cell").alias(label_col)).join(
            codes, label_col
        )
        if exclude_self:
            cand = cand.filter(F.col(id_col) != F.col("qid"))
        cand = cand.join(F.broadcast(luts), "qid")
    return cand.select(
        "qid",
        F.col(id_col).alias("cid"),
        F.round(pq_adc_expr(), 6).alias("dist"),
        *extra,
    )


def _adc_rank(scored: DataFrame, n: int) -> DataFrame:
    return _topk(scored, n, "dist", "cid").select("qid", "cid", "dist", "rank")


def _refine(
    shortlist: DataFrame, emb: DataFrame, query_ids, k: int, id_col: str, vec_col: str
) -> DataFrame:
    """Exact re-rank of a per-query PQ shortlist (FAISS's
    IndexRefineFlat): join the full-precision vectors back for just the
    |Q|·R shortlisted rows (broadcast — both sides are tiny by
    construction) and keep the k nearest by exact squared L2. The
    shortlist is persisted first so the compressed scan runs once, not
    again inside the broadcast-exchange job."""
    exact = (
        F.broadcast(track_persist(shortlist).select("qid", "cid"))
        .join(_corpus(emb, id_col, vec_col), "cid")
        .join(F.broadcast(_queries(emb, query_ids, id_col, vec_col)), "qid")
        .select("qid", "cid", F.round(_l2("qe", "ce"), 6).alias("dist"))
    )
    return _adc_rank(exact, k)


def brute_force_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Exact cosine top-k: queries × corpus with per-query top-k.

    Rounds cosine to 4 dp *before* ranking and tie-breaks on candidate
    id, so the result set is deterministic across engines.
    """
    extra = extra_cols or []
    pairs = _pairs(
        _queries(emb, query_ids, id_col, vec_col),
        _corpus(emb, id_col, vec_col, *extra),
    )
    scored = pairs.select("qid", "cid", *extra, _cos4("qe", "ce").alias("cos_sim"))
    return _topk(scored, k, F.desc("cos_sim"), "cid")


def _half_up_units(S, scale: float = 10000.0):
    """HALF_UP rounding to integer 1e-4 units, vectorized — the numpy
    counterpart of Spark's `round(x, 4)` (np.round is half-EVEN, which
    would diverge from both engines exactly at midpoints).

    KNOWN DIVERGENCE CLASS (not a bit-exact twin): Spark rounds via
    BigDecimal.valueOf(double) — the SHORTEST-DECIMAL rendering of the
    double — while this path multiplies by 1e4 in binary; a value whose
    shortest decimal is exactly …X.5e-4 but whose binary product lands
    an ulp above/below the .5 can round differently. Pinned by
    tests/test_blocked_parity.py: exact-midpoint doubles (where the
    shortest decimal IS the .5) agree; the residual risk is confined to
    non-representable near-midpoints reached via different op orders,
    which the single-divide parity in `_blocked_cos_scan` minimizes."""
    import numpy as np

    u = np.floor(np.abs(S) * scale + 0.5)
    return np.where(S < 0, -u, u).astype(np.int64)


def _blocked_cos_scan(
    emb: DataFrame,
    block_col: str,
    id_col: str,
    vec_col: str,
    out_schema: str,
    emit,
    max_block_rows: int = 2_000_000,
) -> DataFrame:
    """Shared machinery for the VECTORIZED within-block pair scans:
    one groupBy(block) shuffle of N input rows (the theoretical
    minimum), then per-block chunked float64 BLAS against the block
    matrix, with `emit(ids, units, row_lo, row_hi, block_val)` turning
    each chunk's integer-1e-4-unit cosine matrix into bounded output
    rows. Columns are pre-sorted by id ascending so column INDEX order
    is id order — tie-breaks become index arithmetic.

    Semantics contract (matches the catalyst equi-join twin and the
    SQL oracles exactly):
    - NULL blocks are dropped BEFORE the groupBy — an equi-join on the
      block key never matches NULL against NULL, so the pandas path
      must not form pairs inside the NULL group either.
    - Cosine is ONE divide of the BLAS dot by the precomputed
      |a|·|b| PRODUCT — the same op order as the catalyst
      `dot / (na * nb)` and the oracle's `dot / (na * nb)`, so the
      divide contributes no extra ulp step. The residual risk is the
      dot itself (BLAS pairwise summation vs the oracle's array-order
      fold), pinned on adversarial near-boundary vectors in
      tests/test_blocked_parity.py.
    - Zero-norm vectors have no defined cosine; the catalyst twin
      emits NaN there (0/0) and Spark's NaN ordering would rank them
      FIRST, silently. This path refuses instead: a zero-norm vector
      raises with the offending block, making the policy explicit at
      the operator boundary.

    Scale shape: the pair work is the same O(sum_b M_b²) flops as the
    equi-join formulation, but ~100× lower constant (BLAS vs per-row
    codegen) and — decisively — the M² pair ROWS never materialize
    into a shuffle: only the bounded emit survives. One task per
    block; a block beyond `max_block_rows` (default 2M vectors ≈ 1 GiB
    of float64 at dim 64 — past single-task memory) raises with
    routing guidance instead of OOMing the executor: such corpora are
    ANN territory (`knn_graph_ann`, IVF cells) by construction, the
    same raise-don't-thrash doctrine as graph.py's driver-path bound.
    """
    import numpy as np
    import pandas as pd

    names = [f.split()[0] for f in out_schema.split(",")]

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(columns=names)
        if n > max_block_rows:
            raise ValueError(
                f"block {pdf[block_col].iloc[0]!r} has {n} rows, over the "
                f"blocked-scan ceiling {max_block_rows}: the M^2 scan no "
                "longer fits one task. Route this corpus through an ANN "
                "candidate path (knn_graph_ann / ivf_topk) or sub-block "
                "the key."
            )
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        V = np.stack(pdf[vec_col].to_numpy()[order]).astype(np.float64)
        nrm = np.sqrt(np.einsum("ij,ij->i", V, V))
        if not np.all(nrm > 0.0):
            bad = ids[nrm == 0.0][:5]
            raise ValueError(
                f"zero-norm embedding(s) {bad.tolist()} in block "
                f"{pdf[block_col].iloc[0]!r}: cosine is undefined. Drop or "
                "re-embed them upstream (catalyst impl would emit NaN and "
                "Spark NaN-ordering would rank them first, silently)."
            )
        block_val = pdf[block_col].iloc[0]
        chunk = max(1, 4_000_000 // n)  # ~4M-cell score tiles
        outs = []
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            # one divide by the precomputed |a|·|b| product — the
            # catalyst/oracle op order (see contract above)
            S = (V[lo:hi] @ V.T) / (nrm[lo:hi, None] * nrm[None, :])
            outs.append(emit(ids, _half_up_units(S), lo, hi, block_val))
        return pd.concat(outs, ignore_index=True)

    return emb.select(id_col, block_col, vec_col).filter(
        F.col(block_col).isNotNull()
    ).groupBy(block_col).applyInPandas(fn, out_schema)


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.35,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "blocked",
    max_block_rows: int = 2_000_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within coarse blocks —
    the IVF layout: `block_col` plays the role of the coarse-quantizer
    cell (here the corpus's cluster label; at scale a trained k-means
    assignment), so candidate pairs form only inside a cell via an
    equi-join, never a global cross product.

    Cosine is computed dot/(|a|·|b|) and rounded HALF_UP to 4 dp
    before thresholding so both engines produce the identical pair
    set.

    Two physical strategies, same output contract:
    - `impl="blocked"` (default): Arrow-batched `applyInPandas` per
      block — chunked float64 BLAS, only the thresholded pairs are
      emitted. One N-row shuffle; the M² candidate rows never exist
      as rows (r8: this removed the measured 11–12× sf1 cliff of the
      join formulation — the cost was the pair-row materialization,
      not the math).
    - `impl="catalyst"`: the pure-JVM equi-join + HOF-dot reference
      formulation (kept for plan tests and as the no-Arrow fallback;
      |a|,|b| precomputed per vector so each pair costs 1 dot).
    """
    if impl == "blocked":
        import pandas as pd

        idt = emb.schema[id_col].dataType.simpleString()
        bdt = emb.schema[block_col].dataType.simpleString()
        schema = (
            f"id_a {idt}, id_b {idt}, {block_col} {bdt}, cos_sim double"
        )

        def emit(ids, units, lo, hi, block_val):
            import numpy as np

            n = units.shape[1]
            cosr = units / 1e4
            # id_a < id_b ⇔ column index > row index (ids ascending)
            upper = np.arange(n)[None, :] > np.arange(lo, hi)[:, None]
            r, c = np.nonzero(upper & (cosr >= threshold))
            return pd.DataFrame(
                {
                    "id_a": ids[lo + r],
                    "id_b": ids[c],
                    block_col: np.repeat(block_val, len(r)),
                    "cos_sim": cosr[r, c],
                }
            )

        return _blocked_cos_scan(
            emb, block_col, id_col, vec_col, schema, emit,
            max_block_rows=max_block_rows,
        )
    pairs = _cos_self_join(
        _normed(emb, id_col, block_col, vec_col), id_col, block_col,
        ("id_a", "id_b"), operator.lt,
    )
    return pairs.filter(F.col("cos_sim") >= threshold)


def knn_graph(
    emb: DataFrame,
    k: int = 5,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "blocked",
    max_block_rows: int = 2_000_000,
) -> DataFrame:
    """Directed k-nearest-neighbor graph within coarse blocks:
    (src, dst, block, cos_sim, rank) with each node keeping its k
    highest-cosine neighbors (deterministic ties: cos DESC, dst).

    This is the BOUNDED-DEGREE alternative to the threshold similarity
    graph: a threshold graph over a near-dup cluster of M docs has
    O(M²) true edges — quadratic in the corpus under fixed-cardinality
    blocks, the r6 scale-probe cliff — while the kNN graph has at most
    N·k edges at any scale, so every DOWNSTREAM analytic (PageRank,
    cores, components, community detection) is linear. It is how
    production similarity-graph pipelines are actually built
    (kNN-graph construction + graph analytics, never threshold
    all-pairs). Candidate generation here is the exact within-block
    ranking; at 100 TB you swap in an ANN route (LSH buckets /
    IVF cells / PQ shortlists from this module) to propose candidates
    and keep the same top-k contract.

    Physical strategies (same output contract; see
    `_blocked_cos_scan`):
    - `impl="blocked"` (default): per-block chunked BLAS ranking; only
      the N·k kept edges ever exist as rows. The per-row top-k is an
      exact integer argpartition on the composite key
      units·n − col_index (cos DESC, then id ASC — columns are
      id-sorted, so index order IS id order), not a full sort.
    - `impl="catalyst"`: pure-JVM pair join + row_number window — the
      reference formulation whose M²-row window shuffle was the
      measured r7 sf1 cliff (13.4×)."""
    if impl == "blocked":
        import pandas as pd

        idt = emb.schema[id_col].dataType.simpleString()
        bdt = emb.schema[block_col].dataType.simpleString()
        schema = (
            f"src {idt}, dst {idt}, {block_col} {bdt},"
            f" cos_sim double, rank int"
        )

        def emit(ids, units, lo, hi, block_val):
            import numpy as np

            m, n = units.shape
            kk = min(k, n - 1)
            cols = np.arange(n, dtype=np.int64)
            key = units * np.int64(n) - cols[None, :]
            # self out of contention; NOT int64.min — the argpartition
            # negates keys and -int64.min overflows back to itself
            key[np.arange(m), np.arange(lo, hi)] = -(2**62)
            idx = np.argpartition(-key, kk - 1, axis=1)[:, :kk]
            sel = np.take_along_axis(key, idx, axis=1)
            ordk = np.argsort(-sel, axis=1, kind="stable")
            idx = np.take_along_axis(idx, ordk, axis=1)
            cosr = np.take_along_axis(units, idx, axis=1) / 1e4
            return pd.DataFrame(
                {
                    "src": np.repeat(ids[lo:hi], kk),
                    "dst": ids[idx].ravel(),
                    block_col: np.repeat(block_val, m * kk),
                    "cos_sim": cosr.ravel(),
                    "rank": np.tile(
                        np.arange(1, kk + 1, dtype=np.int32), m
                    ),
                }
            )

        return _blocked_cos_scan(
            emb, block_col, id_col, vec_col, schema, emit,
            max_block_rows=max_block_rows,
        )
    pairs = _cos_self_join(
        _normed(emb, id_col, block_col, vec_col), id_col, block_col,
        ("src", "dst"), operator.ne,
    )
    return _topk(pairs, k, F.desc("cos_sim"), "dst", by="src")


def knn_graph_ann(
    emb: DataFrame,
    k: int = 5,
    bands: int = 4,
    planes_per_band: int = 3,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate kNN graph with BANDED-LSH candidate generation —
    the 100 TB construction path the exact `knn_graph` docstring
    points at: instead of ranking every within-block pair (quadratic
    in block population — the measured sf1 cost of the exact
    operator), candidates form only through shared (block, band,
    band-hash) buckets (an equi-join), then each node keeps its k
    highest-cosine CANDIDATES. Same output contract as `knn_graph`
    (src, dst, block, cos_sim, rank; ties cos DESC, dst); recall < 1
    by construction — a true neighbor sharing no band bucket is
    missed — with the banded curve P(candidate) = 1-(1-q^r)^b per
    neighbor, measured against the exact graph in
    tests/test_dedup_similarity.py. Nodes whose buckets contain no
    peer emit no edges (the exact operator always emits k edges when
    the block has peers) — the standard ANN-graph degradation.

    Scale shape: each vector emits `bands` bucket keys; bucket
    populations are corpus-sized / 2^planes_per_band per band within
    a block, and the join never forms the block cross product. The
    band keys are `_sign_bits` over the md5-derived planes of
    `_projections` — deterministic across engines and runs.

    MEASURED LIMIT (r7, same corpus shape as the r6 banded
    near-dup-pairs finding): on THIS test corpus the
    ANN route is SLOWER than the exact operator at sf1 (~30 s vs
    ~13 s for 20k vectors) — the default knobs leave band buckets
    concentrated (avg 250/bucket at sf1, cutting candidates only
    2× below all-pairs) while adding a 20M-row distinct shuffle the
    exact path doesn't have (its window is per-src, no pair dedup).
    Use this operator when bucket populations genuinely split —
    heterogeneous corpora, more planes per band at larger N (raise
    `planes_per_band` with log2(block population)) — and verify with
    a bucket-size profile first; when blocks are tight clusters,
    prefer canonicalize-first (`g_pagerank_canonical`'s recipe) and
    the exact bounded-degree ranking."""
    band_keys = "array(" + ", ".join(
        _sign_bits(b * planes_per_band, planes_per_band) for b in range(bands)
    ) + ")"
    d = _normed(
        _projections(emb, vec_col, bands * planes_per_band),
        id_col, block_col, vec_col,
        F.posexplode(F.expr(band_keys)).alias("band", "bh"),
    )
    pairs = _cos_self_join(
        d, id_col, block_col, ("src", "dst"), operator.ne, keys=("band", "bh")
    )
    # a pair found by several bands carries the identical rounded
    # cosine; distinct() collapses it before the top-k window
    return _topk(pairs.distinct(), k, F.desc("cos_sim"), "dst", by="src")


def tfidf_knn_posting(
    docs: DataFrame,
    k: int = 3,
    df_max: int = 50,
    df_max_pct: int = 6,
    champions: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k nearest documents by TF-IDF cosine via an inverted
    (posting-list) index — text similarity WITHOUT embeddings.

    Candidate pairs form only through shared low-df tokens: the df cap
    is `df <= greatest(df_max, df_max_pct% of n_docs)`. The ABSOLUTE
    term is the scale bound — total candidate pairs are at most
    df_max × posting_rows, linear in the corpus for a fixed cap — and
    on a power-law vocabulary it is the binding term at scale. The
    RELATIVE term (sklearn's max_df convention, integer-exact as
    df*100 <= n_docs*pct so both engines compare the same integers) is
    the small/degenerate-corpus knob: on a tiny vocabulary even
    discriminative tokens outgrow any fixed cap as the corpus grows,
    which would silently empty the candidate set. Tokens above the cap
    carry near-zero idf, so the recall cost is small (pinned by
    tests/test_tfidf_knn_recall.py on a Zipf corpus).

    The relative term alone is NOT a scale bound — a token at pct% of
    an N-doc corpus generates O((pct*N)^2) pairs, quadratic in N (the
    r6 sf1 probe hit exactly this: mid-frequency tokens admitted by
    the 6% cap produced ~5e8 candidates). The `champions` cap closes
    it: per token, only the `champions` highest-weight postings
    (Manning's champion-list heuristic, deterministic order: w DESC,
    doc_id) enter the pair join, so total candidates are bounded by
    vocab * champions^2 / 2 — CONSTANT in corpus size, linear only in
    vocabulary. The champion window partitions by token, which is the
    partitioning the pair join needs anyway, so it costs no extra
    exchange.

    Each posting row carries its document's FULL-vocabulary norm² (one
    window over the doc partition), so the cosine denominator needs no
    pair-cardinality join afterwards — at scale the pair frame is the
    largest intermediate, and joining norms onto it twice (the r5
    shape) was the dominant post-join cost.

    Exactness doctrine: idf is rounded ONCE per token to integer
    MILLI-units (round(ln(N/df)·1000) — HALF_UP equals half-away-from-
    zero on the non-negative idf, so both engines agree), weights are
    plain BIGINTs (tf · idf_milli) — dots and norms² accumulate as
    exact integers (order-independent, hash-stable across engines, and
    ~2× cheaper per row than the r8 DECIMAL(12,6) accumulation in the
    pair aggregate, the pipeline's dominant stage); the only float op
    is the final sqrt + divide, rounded to 4 dp. Bound: w ≤ tf·idf_max
    (~1.1e4·ln-range at milli scale) keeps Σw² under 2^63 for
    documents to ~1e5 tokens — the same magnitude contract the
    DECIMAL(12,6) form carried (its w capped at 1e6).
    """
    from ..functions.text import tokens

    # n_docs = COUNT(*) over the corpus (idf denominator = total docs,
    # the sklearn smooth-free convention) — NOT countDistinct over the
    # tokenized frame: a plain count is a column-pruned metadata-cheap
    # scan and, decisively, it frees the token-count frame from being
    # double-consumed, so the whole weight pipeline is one linear chain
    # with a single persist (the posting frame). Dropping that second
    # materialization took the sf0.1 honest time from ~1.9s to ~1.5s.
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    tc = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    # df via a token-partitioned window: one exchange on token computes
    # df in place (a streaming count per token group, never a global
    # sort); the doc-partitioned n2 window then carries the norm onto
    # every posting row
    wv = (
        tc.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("token"))
        )
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "token",
            (
                F.col("tf")
                * F.round(
                    F.log(F.col("n_docs").cast("double") / F.col("df"))
                    * 1000,
                    0,
                ).cast("long")
            )
            .cast("long")
            .alias("w"),
            "df",
            "n_docs",
        )
    )
    # champion rank rides the SAME token partitioning the df window
    # just established (broadcast joins/projections preserve it), so it
    # adds one in-partition sort but NO exchange; the filter itself
    # waits until after the n2 window because norms must cover the
    # full vocabulary
    champ_w = Window.partitionBy("token").orderBy(F.desc("w"), "doc_id")
    wv = wv.withColumn("cr", F.row_number().over(champ_w))
    wv = wv.withColumn(
        "n2", F.sum(F.col("w") * F.col("w")).over(Window.partitionBy("doc_id"))
    )
    posting = track_persist(
        wv.filter(
            (
                F.col("df") * 100
                <= F.greatest(
                    F.lit(100 * df_max), F.col("n_docs") * F.lit(df_max_pct)
                )
            )
            & (F.col("cr") <= champions)
        ).select("doc_id", "token", "w", "n2")
    )
    a = posting.select(
        F.col("doc_id").alias("id_a"),
        "token",
        F.col("w").alias("wa"),
        F.col("n2").alias("n2a"),
    )
    b = posting.select(
        F.col("doc_id").alias("id_b"),
        F.col("token").alias("token_b"),
        F.col("w").alias("wb"),
        F.col("n2").alias("n2b"),
    )
    # n2a/n2b ride as grouping keys — functionally dependent on the id,
    # so group cardinality is unchanged and no norm join is needed
    cosns = (
        a.join(
            b,
            (F.col("token") == F.col("token_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .groupBy("id_a", "id_b", "n2a", "n2b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("dot").cast("double")
                / F.sqrt(
                    F.col("n2a").cast("double") * F.col("n2b").cast("double")
                ),
                4,
            )
            .cast("double")
            .alias("cos_sim"),
        )
    )
    # symmetric expansion via explode, not UNION ALL: a union of two
    # selects over `cosns` would evaluate the pair aggregate twice
    # (exchange reuse saves the shuffle but not the post-shuffle agg);
    # the 2-element explode emits both directions in one pass
    sym = cosns.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("doc_id"),
                    F.col("id_b").alias("nbr_id"),
                ),
                F.struct(
                    F.col("id_b").alias("doc_id"),
                    F.col("id_a").alias("nbr_id"),
                ),
            )
        ).alias("e"),
        "cos_sim",
    ).select("e.doc_id", "e.nbr_id", "cos_sim")
    return _topk(sym, k, F.desc("cos_sim"), "nbr_id", by="doc_id").select(
        "doc_id", "nbr_id", "cos_sim", "rank"
    )


def _plane_component(plane: int, dim_idx: str) -> str:
    """Deterministic pseudo-random hyperplane component in [-1, 1):
    derived from md5(plane:dim) — engine-portable, no RNG state.

    This SQL form is what the DuckDB oracles mirror; the Spark hot
    path uses `_plane_weights` instead (the same numbers folded to
    literals at plan-build time — the r10 fix: evaluating md5 per
    (row, plane, dim) made bucketing hash-bound, measured 6x slower
    than the BLAS-ish fold it should be on a 20k x 64-d corpus)."""
    h = f"cast(conv(substring(md5(concat('{plane}', ':', cast({dim_idx} as string))), 1, 8), 16, 10) as double)"
    return f"({h} / 2147483648.0 - 1.0)"


def _plane_weights(plane: int, dim: int) -> list[float]:
    """Python twin of `_plane_component`, evaluated ONCE per (plane,
    dim) at plan-build time. h / 2^31 - 1.0 is exact in IEEE binary
    (h <= 2^32, the divisor a power of two), so each literal equals
    the runtime md5 expression bit-for-bit — pinned by the unchanged
    md5-computing DuckDB oracles hash-matching these plans, and by
    tests/test_dedup_similarity.py::test_plane_literals_match_sql."""
    import hashlib

    out = []
    for d in range(dim):
        h = int(hashlib.md5(f"{plane}:{d}".encode()).hexdigest()[:8], 16)
        out.append(h / 2147483648.0 - 1.0)
    return out


def _plane_lit(plane: int, dim: int) -> str:
    """SQL array literal of `_plane_weights` (repr round-trips IEEE
    doubles exactly; the `d` suffix keeps Spark from re-parsing as
    decimal)."""
    return (
        "array("
        + ", ".join(f"{w!r}d" for w in _plane_weights(plane, dim))
        + ")"
    )


def _vec_dim(df: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality, read from one row (the column is
    fixed-width by contract — multimodal/embedding tables carry a
    single model's vectors). One limit-1 scan at plan-build time."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None or row["d"] is None:
        raise ValueError(f"cannot derive vector dim: {vec_col} empty")
    return int(row["d"])


def _tuning_sample(
    emb: DataFrame, n_queries: int, corpus_cap: int, id_col: str, *cols
) -> tuple[int, DataFrame, list]:
    """The bounded input of a one-time tuning job: (corpus row count,
    the corpus capped at `corpus_cap` rows by a deterministic id-hash
    stride, `n_queries` hash-spread query ids drawn from that sample)."""
    n = emb.count()
    corpus = emb.select(id_col, *cols)
    if n > corpus_cap:
        stride = -(-n // corpus_cap)
        corpus = corpus.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(stride)) == 0
        )
    qids = [
        r[0]
        for r in corpus.select(id_col)
        .orderBy(F.pmod(F.xxhash64(F.col(id_col)), F.lit(997)), F.col(id_col))
        .limit(n_queries)
        .collect()
    ]
    return n, corpus, qids


def measure_similarity_profile(
    emb: DataFrame,
    k: int = 5,
    n_queries: int = 16,
    corpus_cap: int = 50_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[float, int]:
    """Measure the corpus's k-th-neighbor cosine profile:
    (conservative kth-NN cosine, corpus row count).

    The r9 ANN bench showed why an ASSUMED profile fails: the same
    (planes, nprobe) pair hit recall@5 0.85 at sf1 but 0.525 at sf0.1,
    because the smaller corpus's true neighbors sit at lower cosine
    (diffuse) — the retention model was fed a guess, not the data. So
    measure: a deterministic hash-spread sample of `n_queries` vectors
    is brute-force ranked against the corpus (capped at `corpus_cap`
    rows by a deterministic id-hash stride when larger — subsampling
    the corpus biases the measured kth cosine LOW, i.e. conservative:
    fewer planes, more candidates, recall above target), and the 25th
    percentile of the per-query kth cosines is returned, again the
    conservative side of the distribution.

    Cost: one bounded pass over (id, vec) — n_queries × corpus_cap dot
    products, a one-time tuning job per (session, corpus), the same
    lifecycle as IVF/PQ training. Never rides a hot path.
    """
    n, corpus, qids = _tuning_sample(emb, n_queries, corpus_cap, id_col, vec_col)
    kth = (
        brute_force_topk(corpus, qids, k=k, id_col=id_col, vec_col=vec_col)
        .groupBy("qid")
        .agg(F.min("cos_sim").alias("kth"))
    )
    vals = sorted(r["kth"] for r in kth.collect())
    if not vals:
        return 0.4, n
    idx = max(0, int(0.25 * (len(vals) - 1)))
    return float(vals[idx]), n


def auto_lsh_params(
    n_rows: int,
    target_cos: float = 0.4,
    target_recall: float = 0.85,
    max_bucket: int = 8192,
    max_planes: int = 24,
) -> tuple[int, int]:
    """Data-aware LSH knobs: (num_planes, nprobe).

    The r6 ANN bench showed the fixed 8-plane default retaining ~3% of
    true neighbors on a corpus whose nearest neighbors sit at cosine
    ~0.4 — theory-correct ((1−θ/π)^8) but a product defect as a
    DEFAULT. The right knobs depend on the corpus, so derive them:

    - Retention model: a true neighbor at `target_cos` agrees with the
      query on each plane with q = 1 − θ/π. Probing the query's own
      bucket plus ALL p Hamming-1 neighbors (nprobe = p+1; the
      implementation flips lowest-margin bits first, so real retention
      is ≥ the model) retains ≈ q^p + p·q^(p−1)(1−q). `p_recall` is
      the LARGEST p that keeps this ≥ `target_recall` — maximizing p
      minimizes candidates while honoring the recall contract.
    - Candidate bound: expected bucket size n/2^p must not exceed
      `max_bucket`, so p ≥ ceil(log2(n / max_bucket)). When this bound
      exceeds `p_recall`, ONE hyperplane table cannot deliver the
      recall target at the candidate budget (the regime where
      production stacks switch to IVF/PQ routing — `ivf_topk`,
      `pq_topk` — or band multiple tables); the bound wins and recall
      degrades gracefully rather than the join exploding.

    `target_cos` should come from `measure_similarity_profile` (the r9
    bench proved the assumed-profile default underdelivers on diffuse
    corpora: recall@5 0.525 at sf0.1 vs the 0.85 target) — callers that
    pass `num_planes=None` to the topk routes get that automatically
    via `auto_lsh_params_for`. `target_recall` is a floor the model
    honors whenever the bucket bound allows: retention is monotone
    decreasing in p, so the largest conforming p both meets the floor
    and minimizes candidates.
    """
    import math

    q = 1.0 - math.acos(max(-1.0, min(1.0, target_cos))) / math.pi
    p_recall = 2
    for p in range(2, max_planes + 1):
        keep = q ** p + p * q ** (p - 1) * (1.0 - q)
        if keep >= target_recall:
            p_recall = p
        else:
            break
    p_bound = max(0, math.ceil(math.log2(max(1, n_rows) / max_bucket)))
    planes = max(2, min(max_planes, max(p_recall, p_bound)))
    return planes, planes + 1


def auto_lsh_params_for(
    emb: DataFrame,
    k: int = 5,
    target_recall: float = 0.85,
    max_bucket: int = 8192,
    max_planes: int = 24,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[int, int]:
    """Measured-profile LSH knobs: `measure_similarity_profile` →
    `auto_lsh_params`. This is what `lsh_topk(num_planes=None)` uses;
    cache the result per (session, corpus) at the call site when
    invoking repeatedly (the queries layer does)."""
    target_cos, n = measure_similarity_profile(
        emb, k=k, id_col=id_col, vec_col=vec_col
    )
    return auto_lsh_params(
        n,
        target_cos=target_cos,
        target_recall=target_recall,
        max_bucket=max_bucket,
        max_planes=max_planes,
    )


def auto_ivf_nprobe(
    emb: DataFrame,
    k: int = 5,
    target_recall: float = 0.85,
    n_queries: int = 16,
    corpus_cap: int = 50_000,
    metric: str = "l2",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    tau: float | None = None,
) -> int:
    """Data-derived IVF routing depth: the smallest `nprobe` whose
    MEASURED recall@k meets `target_recall` on this corpus.

    The r10 ANN bench showed why a fixed nprobe is a product defect as
    a default: nprobe=2 served recall@5 0.75 on the clustered sf1
    corpus but 0.25 at sf0.1, where true neighbors sit at cosine ~0.33
    across cell boundaries — IVF recall is CAPPED by routing, and the
    right depth depends on how the corpus's true neighbors distribute
    over cells. So measure it, the `auto_lsh_params_for` discipline
    applied to routing: a deterministic hash-spread sample of
    `n_queries` vectors is exactly ranked against the corpus (capped
    at `corpus_cap` rows by a deterministic id-hash stride — the
    bounded one-time tuning job, same lifecycle as PQ training), each
    query's quality-grade neighbors (true score at least the true
    k-th — the ANN bench's tie-robust recall definition) are counted
    per cell, cells are ranked by the serving routes' own `_route`
    stage, and the returned nprobe is the smallest whose 25th-
    PERCENTILE per-query sample recall reaches the floor. The p25
    (not the mean) is deliberate, the same conservative-side choice
    `measure_similarity_profile` makes: the sample mean overfits 16
    queries (measured: mean-tuned nprobe=8 at sf0.1 served 0.80
    end-to-end on held-out bench queries — routing met its floor
    in-sample but left no cushion for the PQ ADC shortlist's own
    ~0.9 retention downstream; p25-tuned nprobe=9 serves 0.90).
    Worst case returns #cells (probe-all — an honest full scan
    rather than silent quality loss).

    `metric` must match the serving route: "l2" for `ivfpq_topk`
    (squared-L2 ADC + rounded-L2 centroid routing) or "cos" for
    `ivf_topk` (cosine candidates + rounded cosine-to-centroid
    routing). Everything here is bounded: n_queries x corpus_cap exact
    scores, #cells centroid distances, an n_queries x #cells census
    collected to the driver.

    RADIUS mode: pass `tau` to derive the depth for `ivf_range_search`
    instead of a top-k route. A sample query's quality set becomes its
    TRUE in-radius neighbors (4-dp-rounded cosine ≥ τ, exactly the
    serving route's screen) rather than the top-k, the per-query
    denominator is that set's size (vacuously-satisfied queries with
    no in-radius sample neighbors drop out of the census), and the
    returned nprobe is the smallest whose p25 per-query sample RADIUS
    recall meets the floor — so radius serving inherits the same
    data-derived guarantee, measured in its own regime rather than
    through the k-NN proxy. Requires `metric="cos"` (the radius route
    is cosine-only)."""
    if metric not in ("l2", "cos"):
        raise ValueError(f"unknown metric {metric!r}")
    if tau is not None and metric != "cos":
        raise ValueError("radius-mode nprobe derivation is cosine-only")
    _, corpus, qids = _tuning_sample(
        emb, n_queries, corpus_cap, id_col, vec_col, label_col
    )
    q = _queries(emb, qids, id_col, vec_col)
    c = _corpus(corpus, id_col, vec_col, F.col(label_col).alias("cell"))
    if metric == "l2":
        score, order, kth_of = _l2("qe", "ce"), F.col("s").asc(), F.max
    else:
        score, order, kth_of = _cos("qe", "ce"), F.col("s").desc(), F.min
    pairs = track_persist(_pairs(q, c).select("qid", "cid", "cell", score.alias("s")))
    if tau is not None:
        # radius goodness: the serving route screens on the 4-dp
        # ROUNDED cosine, so the census must too
        good = pairs.filter(F.round("s", 4) >= F.lit(float(tau)))
    else:
        kth = _topk(pairs, k, order, "cid").groupBy("qid").agg(
            kth_of("s").alias("kth")
        )
        eps = F.lit(1e-9)
        is_good = (
            (F.col("s") <= F.col("kth") + eps)
            if metric == "l2"
            else (F.col("s") >= F.col("kth") - eps)
        )
        good = pairs.join(F.broadcast(kth), "qid").filter(is_good)
    good = good.groupBy("qid", "cell").agg(F.count(F.lit(1)).alias("ngood"))
    crank = _route(q, label_centroids(emb, label_col, vec_col), metric)
    census = good.join(crank, ["qid", "cell"]).select("qid", "cr", "ngood")
    rows = census.collect()  # <= n_queries x #cells rows
    ncells = max((r["cr"] for r in rows), default=1)
    per_q: dict[int, dict[int, int]] = {}
    for r in rows:
        per_q.setdefault(r["qid"], {})[r["cr"]] = r["ngood"]
    if not per_q:
        return 1

    def recall(d: dict[int, int], nprobe: int) -> float:
        # radius mode: the denominator is that query's TRUE in-radius
        # sample-neighbor count
        den = k if tau is None else sum(d.values())
        return min(den, sum(n for cr, n in d.items() if cr <= nprobe)) / den

    for nprobe in range(1, ncells + 1):
        recalls = sorted(recall(d, nprobe) for d in per_q.values())
        if recalls[max(0, int(0.25 * (len(recalls) - 1)))] >= target_recall:
            return nprobe
    return ncells


def lsh_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    num_planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: exact re-rank restricted to the query's LSH bucket.

    Recall < 1 by construction (bucketing drops some true neighbors);
    tests measure recall against `brute_force_topk`. At scale this
    turns the O(|Q|·|C|) sweep into an equi-join on bucket id.

    The single-bucket route IS `lsh_multiprobe_topk` with nprobe=1 —
    the query probes only its own bucket (identity pinned in
    tests/test_dedup_similarity.py). `num_planes=None` (the default)
    derives the plane count from the corpus via `auto_lsh_params_for`
    (measured kth-NN cosine profile + retention model) and — because a
    recall-honoring single-bucket probe at moderate similarity needs
    Hamming-1 probing — takes the derived nprobe with it.
    """
    return lsh_multiprobe_topk(
        emb, query_ids, k=k, num_planes=num_planes, nprobe=1,
        id_col=id_col, vec_col=vec_col,
    )


def sq8_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar-quantized (int8) brute-force top-k — FAISS's SQ8:
    per-dimension min/max train a linear code, every vector becomes
    1 byte/dim (4x less memory traffic than float32), and scoring
    DEQUANTIZES through the code: score = dot of the reconstructions
    x_hat_i = mn_i + q_i * (mx_i - mn_i)/255.

    Ranking by the RAW integer code dot is a measured quality defect,
    not an optimization: the per-dimension affine offsets make
    sum(q_a * q_c) non-monotone in the true dot — at sf0.1 its top-5
    overlapped the true dot top-5 in 0/5 (r6 ANN bench). FAISS SQ
    scans likewise compute distances on reconstructions, never raw
    codes. Reconstruction is a per-vector Catalyst transform against
    the broadcast min/max row; the float op sequence is identical in
    both engines, and the score is rounded to 4 dp with a cid
    tie-break (the cosine doctrine), so the oracle still value-hashes."""
    e = emb.select(id_col, vec_col)
    per = (
        e.select(F.posexplode(vec_col).alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.min(F.col("x").cast("double")).alias("mn"),
            F.max(F.col("x").cast("double")).alias("mx"),
        )
    )
    bl = per.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mn"))),
            lambda s: s["mn"],
        ).alias("mns"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mx"))),
            lambda s: s["mx"],
        ).alias("mxs"),
    )
    quant = F.transform(
        vec_col,
        lambda x, i: F.when(
            F.get("mxs", i) > F.get("mns", i),
            F.round(
                ((x.cast("double") - F.get("mns", i)) * 255.0)
                / (F.get("mxs", i) - F.get("mns", i)),
                0,
            ),
        )
        .otherwise(0)
        .cast("int"),
    )
    # dequantized reconstruction per vector — one transform against
    # the broadcast bounds, done ONCE per vector (not per pair)
    recon = F.transform(
        quant,
        lambda c, i: F.get("mns", i)
        + c.cast("double") * (F.get("mxs", i) - F.get("mns", i)) / 255.0,
    )
    qz = e.crossJoin(F.broadcast(bl)).select(id_col, recon.alias("xr"))
    pairs = _pairs(_queries(qz, query_ids, id_col, "xr"), _corpus(qz, id_col, "xr"))
    score = F.round(_dot("qe", "ce"), 4).cast("double")
    return _topk(
        pairs.select("qid", "cid", score.alias("score_sq8")),
        k, F.desc("score_sq8"), "cid",
    ).select("qid", "cid", "score_sq8", "rank")


def _proj_expr(vec_col: str, plane: int, dim: int) -> str:
    """v · plane_p as a zip_with fold against a LITERAL weight array:
    the md5 derivation runs at plan-build time, not per row (r10 —
    the per-row md5 form measured 6x slower on 20k x 64-d)."""
    return (
        f"aggregate(zip_with({vec_col}, {_plane_lit(plane, dim)},"
        f" (x, w) -> cast(x as double) * w),"
        f" cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _projections(emb: DataFrame, vec_col: str, n: int) -> DataFrame:
    """`emb` plus `pr`, the array of its projections on the md5 planes
    0..n-1 (`_proj_expr`); the dim is read from the data."""
    dim = _vec_dim(emb, vec_col)
    return emb.withColumn("pr", F.expr(
        "array(" + ", ".join(_proj_expr(vec_col, p, dim) for p in range(n)) + ")"
    ))


def _sign_bits(lo: int, n: int) -> str:
    """SQL bit-string key over `pr[lo]`..`pr[lo + n - 1]`: bit p is
    sign(v · plane_p), so identical vectors share the key and
    cosine-close ones are Hamming-close. The DuckDB twin is
    `queries/datapipe.py::_lsh_bucket_oracle_expr`."""
    return "concat(" + ", ".join(
        f"CASE WHEN pr[{p}] >= 0 THEN '1' ELSE '0' END" for p in range(lo, lo + n)
    ) + ")"


def lsh_multiprobe_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    num_planes: int | None = None,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe LSH ANN: score the query's own bucket PLUS the
    `nprobe-1` Hamming-1 neighbor buckets flipped on its lowest-margin
    bits (smallest |projection| — the bits most likely to differ for a
    true near neighbor). Standard recall booster: probing L buckets
    recovers most of the recall of L independent hash tables at 1/L of
    the index storage. Candidate generation stays an equi-join on
    bucket id — the 100 TB shape is unchanged, only the probe side
    fans out by a factor of `nprobe`.

    `num_planes=None` derives (planes, nprobe) from the corpus via
    `auto_lsh_params_for` — the measured kth-NN cosine profile (the
    caller's `nprobe` is then ignored — the derived pair is a unit).
    """
    if num_planes is None:
        num_planes, nprobe = auto_lsh_params_for(
            emb, k=k, id_col=id_col, vec_col=vec_col
        )
    base = _projections(emb, vec_col, num_planes).withColumn(
        "bkt", F.expr(_sign_bits(0, num_planes))
    )
    # rank each plane by (|proj|, idx); flip the m lowest-margin bits.
    # The rank form avoids an argsort: rank_p = #{q : (|pr[q]|, q) <
    # (|pr[p]|, p)} — deterministic and identical in the DuckDB oracle
    # because both engines fold the projection sum in array order.
    m = nprobe - 1
    flips = []
    for p in range(num_planes):
        rank = (
            f"size(filter(sequence(0, {num_planes - 1}), q -> "
            f"abs(element_at(pr, q + 1)) < abs(element_at(pr, {p + 1})) "
            f"or (abs(element_at(pr, q + 1)) = abs(element_at(pr, {p + 1}))"
            f" and q < {p})))"
        )
        flipped = (
            f"concat(substring(bkt, 1, {p}),"
            f" CASE WHEN substring(bkt, {p + 1}, 1) = '1' THEN '0' ELSE '1' END,"
            f" substring(bkt, {p + 2}, {num_planes - p - 1}))"
        )
        flips.append(f"CASE WHEN {rank} < {m} THEN {flipped} END")
    probes = (
        "filter(concat(array(bkt), array(" + ", ".join(flips) + ")),"
        " x -> x is not null)"
    )
    q = _queries(
        base, query_ids, id_col, vec_col, F.explode(F.expr(probes)).alias("probe")
    )
    c = _corpus(base, id_col, vec_col, F.col("bkt").alias("cb"))
    pairs = _pairs(q, c, F.col("probe") == F.col("cb"))
    scored = pairs.select("qid", "cid", _cos4("qe", "ce").alias("cos_sim"))
    return _topk(scored, k, F.desc("cos_sim"), "cid")


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: trained coarse quantizer + nprobe cell search
# ---------------------------------------------------------------------------
def label_centroids(
    emb: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-cell mean vector, entirely JVM-side: posexplode the vectors,
    average per (cell, dim), re-assemble with a sorted collect. This is
    the 'training' step of an IVF coarse quantizer (here one k-means
    assignment step over existing cells; iterate for full k-means)."""
    per_dim = (
        emb.select(F.col(label_col).alias("cell"), F.posexplode(vec_col))
        .groupBy("cell", "pos")
        .agg(F.avg(F.col("col").cast("double")).alias("mu"))
    )
    return per_dim.groupBy("cell").agg(
        F.expr("transform(array_sort(collect_list(struct(pos, mu))), x -> x.mu)")
        .alias("centroid")
    )


def semdedup_keep(
    emb: DataFrame,
    tau: float,
    cell_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) keep policy over
    cell-bounded semantic duplicate groups: near-duplicate pairs form
    only INSIDE a coarse cell (`embedding_near_dup_pairs` — the
    paper's k-means-cluster candidate bound), connected components
    turn them into duplicate groups, and each group KEEPS exactly the
    member LEAST similar to its cell centroid — the paper's
    diversity-preserving rule (high-centroid-sim members are the
    redundant core; the outlier carries the information). Returns the
    full per-vector assignment: (id, cell, group_id, group_size,
    cent_cos, is_keeper) — `is_keeper=0` rows are what a curation
    pipeline drops.

    Engine-portable selection: the centroid is the per-(cell, dim)
    mean (`label_centroids` — SQL-expressible), and `cent_cos` is
    rounded HALF_UP to 4 dp BEFORE both output and the keeper ordering
    (ties break on id), so float summation-order drift across
    engines/partitionings is absorbed the same way the pair threshold
    and the routed-IVF centroid ranking absorb it.

    Scale shape: candidates are cell-bounded (pass a trained adaptive
    assignment as `cell_col` at production scale — the
    `dedup_semantic_blocks` posture: k ∝ n keeps per-cell pair work
    bounded); the centroid table is ≤ #cells rows and broadcasts onto
    the corpus scan; component edges are the thresholded pair set
    (bounded by construction); group labeling + keeper selection is
    ONE hash exchange on group_id shared by both window functions.
    """
    from .graph import connected_components

    pairs = embedding_near_dup_pairs(
        emb, threshold=tau, block_col=cell_col,
        id_col=id_col, vec_col=vec_col,
    )
    comp = connected_components(pairs, "id_a", "id_b").select(
        F.col("node").alias(id_col), F.col("component").alias("grp")
    )
    cn = label_centroids(emb, cell_col, vec_col).select(
        "cell",
        "centroid",
        F.sqrt(
            F.expr("aggregate(centroid, 0.0D, (a, x) -> a + x * x)")
        ).alias("cnorm"),
    )
    m = (
        emb.select(
            F.col(id_col),
            F.col(cell_col).alias("cell"),
            F.col(vec_col).alias("v"),
        )
        .join(F.broadcast(cn), "cell")
        .select(
            id_col,
            "cell",
            F.round(
                _dot("v", "centroid")
                / (F.sqrt(_dot("v", "v")) * F.col("cnorm")),
                4,
            ).cast("double").alias("cent_cos"),
        )
    )
    # no broadcast hint on comp: its row count is the number of
    # matched nodes — corpus-bounded, not cell-bounded — so AQE picks
    # the strategy from runtime stats instead of a hard-coded hint
    lab = m.join(comp, id_col, "left").select(
        id_col,
        "cell",
        F.coalesce("grp", F.col(id_col)).alias("group_id"),
        "cent_cos",
    )
    w = Window.partitionBy("group_id")
    wk = Window.partitionBy("group_id").orderBy(
        F.asc("cent_cos"), F.asc(id_col)
    )
    return lab.select(
        id_col,
        "cell",
        "group_id",
        F.count(F.lit(1)).over(w).cast("long").alias("group_size"),
        "cent_cos",
        (F.row_number().over(wk) == 1).cast("int").alias("is_keeper"),
    )


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    nprobe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    cents: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN top-k: route each query to its `nprobe` nearest cell
    centroids, score exactly only within those cells.

    `nprobe=None` (the default) derives the routing depth from the
    corpus via `auto_ivf_nprobe` (metric="cos" — this route's
    candidate scoring and centroid ranking are both cosine) against
    its 0.85 recall floor; a fixed nprobe is an explicit routing-cap
    opt-in, not the default.

    Plan shape at scale: the centroid table is tiny (≤ #cells) and
    broadcasts into query routing; the candidate scan is an equi-join
    on cell id — the cross product never forms. Recall is measured in
    tests against `brute_force_topk`."""
    if nprobe is None:
        nprobe = auto_ivf_nprobe(
            emb, k=k, metric="cos",
            id_col=id_col, vec_col=vec_col, label_col=label_col,
        )
    scored = _ivf_candidate_scores(
        emb, query_ids, nprobe, id_col, vec_col, label_col, cents
    )
    return _topk(scored, k, F.desc("cos_sim"), "cid")


def _ivf_candidate_scores(
    emb: DataFrame,
    query_ids: list[int],
    nprobe: int,
    id_col: str,
    vec_col: str,
    label_col: str,
    cents: DataFrame | None = None,
) -> DataFrame:
    """Shared IVF candidate scoring: route each query to its nprobe
    nearest cell centroids (`_route("cos")`), score exact rounded
    cosine ONLY inside those cells via the cell equi-join — the cross
    product never forms. Pass `cents` (a (cell, centroid) frame, e.g.
    a served trained-quantizer literal) to skip re-deriving centroids
    from the corpus per call; omitted, they are computed in-line."""
    if cents is None:
        cents = label_centroids(emb, label_col, vec_col)
    routed = _route(
        _queries(emb, query_ids, id_col, vec_col), cents, "cos", nprobe
    ).select("qid", "qe", "cell")
    c = _corpus(emb, id_col, vec_col, F.col(label_col).alias("cell"))
    pairs = routed.join(c, "cell").filter(F.col("cid") != F.col("qid"))
    return pairs.select("qid", "cid", _cos4("qe", "ce").alias("cos_sim"))


def ivf_range_search(
    emb: DataFrame,
    query_ids: list[int],
    tau: float,
    nprobe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    cents: DataFrame | None = None,
) -> DataFrame:
    """IVF-routed RADIUS search: all candidates with rounded cosine ≥
    `tau` inside the query's nprobe nearest cells — the scale path for
    `sim_range_search`'s exact broadcast scan once the corpus passes
    the brute wall. Same routing/equi-join shape as `ivf_topk`
    (candidates ride the cell join, never a cross product); the τ
    screen applies AFTER the same 4-dp rounding as the exact route,
    so at nprobe = #cells the result EQUALS the brute-force radius
    search (the oracle identity the gate row pins). Partial-probe
    radius recall is measured in tests at the auto-derived depth.

    `nprobe=None` derives the routing depth from the corpus via
    `auto_ivf_nprobe` in RADIUS mode (tau=τ): the smallest depth
    whose p25 per-query sample radius recall — in-radius neighbors
    measured with this exact τ screen, not the k-NN proxy — meets the
    0.85 floor, so radius serving carries the same data-derived
    guarantee as the top-k routes."""
    if nprobe is None:
        nprobe = auto_ivf_nprobe(
            emb, metric="cos", tau=tau,
            id_col=id_col, vec_col=vec_col, label_col=label_col,
        )
    scored = _ivf_candidate_scores(
        emb, query_ids, nprobe, id_col, vec_col, label_col, cents
    )
    return scored.filter(F.col("cos_sim") >= tau).orderBy("qid", "cid")


# ---------------------------------------------------------------------------
# Product quantization (PQ) with asymmetric distance computation —
# the memory-bound end of the ANN spectrum: an m-byte code replaces
# the float vector (64-dim float32 = 256 B -> 8 B at m=8, 32x), and
# query-time distance is m table lookups instead of dim multiplies.
# ---------------------------------------------------------------------------


def train_pq_codebooks(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    ksub: int = 16,
    max_iter: int = 6,
    sample_pct: int = 25,
) -> list[list[list[float]]]:
    """Train per-subspace codebooks: split the vector into `m` equal
    subvectors; run Lloyd's (operators/clustering.py seeding/stopping
    rules, in-memory on a bounded content-hash sample — exactly how
    FAISS trains PQ) with `ksub` centroids per subspace. Returns
    codebooks[j][c] = sub-centroid c of subspace j."""
    from .clustering import _driver_kmeans
    from .scale import hash_sample

    sample = hash_sample(emb, id_col, pct=sample_pct, salt="pq").select(
        F.col(id_col), F.col(vec_col)
    ).collect()
    if not sample:  # degenerate tiny inputs: train on everything
        sample = emb.select(F.col(id_col), F.col(vec_col)).collect()
    if not sample:
        raise ValueError("train_pq_codebooks requires a non-empty frame")
    dim = len(sample[0][1])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books: list[list[list[float]]] = []
    for j in range(m):
        rows = [
            (r[0], [float(x) for x in r[1][j * dsub:(j + 1) * dsub]])
            for r in sample
        ]
        cent, _ = _driver_kmeans(rows, ksub, max_iter, tol=1e-6)
        books.append([cent[c] for c in sorted(cent)])
    return books


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Map-side PQ encoding: (id, code array<int>) where code[j] is the
    nearest sub-centroid of subspace j (squared L2, ties to the lowest
    code). Codebooks travel as one broadcast row (constant plan shape,
    same doctrine as clustering._with_assignment); encoding itself is
    pure Catalyst HOFs — no shuffle, no Python.

    The min-of-(dist, ci)-structs argmin is DELIBERATE: a struct-free
    rewrite — bind the per-subspace distance array in a projection,
    then array_position(d, array_min(d)) — was measured 2.7x SLOWER,
    because CollapseProject re-inlines the bound array into every
    reference, so the m·ksub L2 computation runs once per reference
    instead of once per row. The struct form evaluates each distance
    exactly once."""
    spark = emb.sparkSession
    m, dsub = len(codebooks), len(codebooks[0][0])
    crow = literal_frame(
        spark, [(codebooks,)], "__cb array<array<array<double>>>"
    )
    code = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.array_min(
            F.transform(
                F.get(F.col("__cb"), j),
                lambda c, ci: F.struct(
                    _l2(F.slice(F.col(vec_col), j * dsub + 1, F.lit(dsub)), c)
                    .alias("dist"),
                    ci.alias("ci"),
                ),
            )
        )["ci"].cast("int"),
    )
    return emb.crossJoin(F.broadcast(crow)).select(
        F.col(id_col), code.alias("code")
    )


def pq_query_luts(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    query_ids: list[int],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-query ADC lookup tables: (qid, qv, lut) with
    LUT[j][c] = ||q_sub_j − cb[j][c]||², computed IN-PLAN against one
    broadcast codebook row (the same doctrine as the encoder — no
    driver collect jobs inside the query; the codebooks, a k·m·dsub
    driver artifact from training, are the only literal). `qv` carries
    the full-precision query vector for refine-mode exact re-ranking."""
    return _query_frame_luts(
        emb.filter(F.col(id_col).isin([int(q) for q in query_ids])),
        codebooks,
        id_col,
        vec_col,
    )


def _query_frame_luts(
    qdf: DataFrame,
    codebooks: list[list[list[float]]],
    qid_col: str = "qid",
    vec_col: str = "embedding",
) -> DataFrame:
    """`pq_query_luts` for an ARBITRARY query frame (qid, vector) —
    the serving path, where queries arrive from outside the indexed
    corpus (a request stream) instead of being corpus members
    selected by id. Same in-plan broadcast-codebook HOF expression."""
    spark = qdf.sparkSession
    dsub = len(codebooks[0][0])
    crow = literal_frame(
        spark, [(codebooks,)], "__cb array<array<array<double>>>"
    )
    lut = F.transform(
        F.sequence(F.lit(0), F.lit(len(codebooks) - 1)),
        lambda j: F.transform(
            F.get(F.col("__cb"), j),
            lambda c: _l2(F.slice(F.col(vec_col), j * dsub + 1, F.lit(dsub)), c),
        ),
    )
    return qdf.crossJoin(F.broadcast(crow)).select(
        F.col(qid_col).alias("qid"),
        F.col(vec_col).alias("qv"),
        lut.alias("lut"),
    )


def pq_adc_expr(lut_col: str = "lut", code_col: str = "code"):
    """ADC distance expression: Σ_j LUT[j][code[j]] — m array lookups
    per candidate row, the compressed-scan scoring kernel."""
    return F.aggregate(
        F.transform(
            F.col(code_col),
            lambda cj, j: F.get(F.get(F.col(lut_col), j), cj),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    refine: int | None = None,
    codebooks: list[list[list[float]]] | None = None,
    encoded: DataFrame | None = None,
) -> DataFrame:
    """PQ-approximate top-k by squared L2 via asymmetric distance
    computation: candidates are scored through their m-byte codes; the
    query stays full-precision as a per-query lookup table
    LUT[j][c] = ||q_sub_j − cb[j][c]||² (m·ksub doubles per query — a
    broadcast). approx_dist = Σ_j LUT[j][code[j]], i.e. m array
    lookups per candidate. Output: (qid, cid, dist, rank) — `dist` is
    the ADC approximation, or the exact re-ranked distance when
    `refine` is set.

    `refine=R` enables the standard two-stage pipeline (FAISS's
    IndexRefineFlat): PQ shortlists R candidates per query through the
    compressed scan, then ONE exact-distance pass re-ranks just those
    |Q|·R rows and keeps k. Near-duplicate-heavy corpora need this —
    true-neighbor distance gaps below quantization resolution tie in
    code space, and the refine pass resolves them at full precision
    for candidate-bounded cost.

    Training is deterministic (hash-sampled seeding, fixed rounds), and
    the encoded (id, code) table IS the index (what FAISS persists):
    callers serving many queries train and encode once and pass
    `codebooks` / `encoded`, so the query path scans m-byte codes and
    never re-runs the m·ksub argmin encode over the float corpus.

    At 100 TB the encoded corpus is 32× smaller than the float
    vectors — the scan becomes memory-bandwidth-cheap, which is the
    entire point of PQ; exactness is traded (quantization error), so
    tests pin recall against the brute-force oracle rather than
    equality."""
    if refine is not None and refine < k:
        raise ValueError("refine must be >= k")
    books, encoded = _pq_codes(emb, codebooks, encoded, m, ksub, vec_col, id_col)
    luts = pq_query_luts(emb, books, query_ids, vec_col, id_col).select("qid", "lut")
    short = _adc_rank(_adc_scan(luts, encoded, id_col), refine or k)
    if refine is None:
        return short
    return _refine(short, emb, query_ids, k, id_col, vec_col)


def _pq_codes(emb, codebooks, encoded, m, ksub, vec_col, id_col):
    """The caller's (codebooks, encoded codes), trained / encoded from
    `emb` when not given."""
    if codebooks is None:
        codebooks = train_pq_codebooks(emb, vec_col, id_col, m=m, ksub=ksub)
    if encoded is None:
        encoded = pq_encode(emb, codebooks, vec_col, id_col)
    return codebooks, encoded


def ivfpq_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    nprobe: int | None = None,
    m: int = 8,
    ksub: int = 16,
    refine: int | None = None,
    codebooks: list[list[list[float]]] | None = None,
    encoded: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Composed IVF-PQ ANN (FAISS IndexIVFPQ, by_residual=False): a
    coarse quantizer routes each query to its `nprobe` nearest cell
    centroids, the compressed m-byte-code scan runs ONLY inside those
    cells, and `refine` exact-re-ranks the shortlist — the production
    index shape where routing bounds the scan and PQ bounds the bytes.

    Plan at scale: centroids (≤ #cells rows) broadcast into routing;
    the candidate scan is an equi-join probe(qid, cell) ⋈ codes(cell)
    — corpus work is nprobe/#cells of the PQ scan, and the scan reads
    m-byte codes, not float vectors. Routing distances are rounded to
    6 dp before ranking (ties then break on cell id), so the probe
    set is stable under float summation order — the property the
    audit oracle in queries/datapipe7.py relies on. With every cell
    probed the rows equal `pq_topk`'s on the same codebooks (pinned in
    tests).

    `nprobe=None` (the default) derives the routing depth from the
    corpus via `auto_ivf_nprobe(metric="l2")`; a fixed nprobe is an
    explicit routing-cap opt-in.

    by_residual=False (FAISS's non-residual IVFPQ option) keeps the
    codebooks corpus-global, so the SAME trained PQ index artifact
    serves both `pq_topk` and this route — encoding residuals per
    cell would buy quantization accuracy at the cost of a per-cell
    codebook dependency. Recall is pinned in tests/test_pq.py against
    `brute_force_topk`; cell restriction is pinned structurally."""
    if refine is not None and refine < k:
        raise ValueError("refine must be >= k")
    if nprobe is None:
        nprobe = auto_ivf_nprobe(
            emb, k=k, metric="l2",
            id_col=id_col, vec_col=vec_col, label_col=label_col,
        )
    books, encoded = _pq_codes(emb, codebooks, encoded, m, ksub, vec_col, id_col)
    if label_col not in encoded.columns:
        encoded = encoded.join(
            emb.select(F.col(id_col), F.col(label_col)), id_col
        )
    probe = _route(
        _queries(emb, query_ids, id_col, vec_col),
        label_centroids(emb, label_col, vec_col),
        "l2",
        nprobe,
    )
    luts = pq_query_luts(emb, books, query_ids, vec_col, id_col).select("qid", "lut")
    scored = _adc_scan(luts, encoded, id_col, probe=probe, label_col=label_col)
    short = _adc_rank(scored, refine or k)
    if refine is None:
        return short
    return _refine(short, emb, query_ids, k, id_col, vec_col)


# ---------------------------------------------------------------------------
# ANN index persistence — the cross-session half of the index
# lifecycle (r12). The session memo (session.py::memo) handles
# serve-don't-rebuild of trained artifacts WITHIN a session; these
# two functions make the trained IVF-PQ index a durable artifact a
# fresh session (or another cluster) loads and serves without
# retraining — what FAISS's write_index/read_index does, expressed as
# parquet + one JSON manifest. Commit protocol is the IVM manifest discipline
# (operators/ivm.py): every data file is FULLY written into a
# versioned subdirectory BEFORE one atomic `os.rename` of the tiny
# manifest, so readers never observe a half-written index and a
# re-save over a live index swaps atomically.
# ---------------------------------------------------------------------------
def corpus_fingerprint(df: DataFrame) -> dict:
    """Order-insensitive corpus identity for index-staleness checks:
    row count + bit_xor of xxhash64 over every column of every row —
    one aggregation pass (the index-build path scans the corpus
    anyway), 16 bytes of manifest. Any inserted/deleted/changed row
    flips it; xor makes it partitioning- and order-independent."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(struct(*)))").alias("h"),
    ).collect()[0]
    return {
        "n_rows": int(row["n"]),
        "xor64": int(row["h"]) if row["h"] is not None else 0,
    }


def save_ann_index(
    index_dir: str,
    codebooks: list[list[list[float]]],
    encoded: DataFrame,
    centroid_rows: list[tuple[int, list[float]]],
    nprobe: int,
    meta: dict | None = None,
    corpus: DataFrame | None = None,
    keep_versions: int = 3,
    base_code_dirs: list[str] | None = None,
) -> str:
    """Persist a trained IVF-PQ index: PQ codebooks + the derived
    routing depth + training metadata in a JSON manifest (a few KB —
    m·ksub·dsub floats), the encoded codes and coarse centroids as
    parquet. Returns the committed version id.

    Lifecycle (r13, VERDICT r12 #6): pass `corpus` (the frame the
    index was trained on) to stamp its `corpus_fingerprint` into the
    manifest — `load_ann_index` can then refuse/warn when asked to
    serve against a changed corpus. After the commit, version dirs
    beyond the newest `keep_versions` are garbage-collected (the r12
    form accreted every superseded version forever); the committed
    version is always retained, and K≥2 leaves the previous version
    for readers that resolved the old manifest just before the swap.
    `keep_versions=0` disables GC."""
    import json
    import os
    import shutil as _shutil
    import time as _time

    os.makedirs(index_dir, exist_ok=True)
    # version id: monotonic per save (max existing + 1), not wall
    # clock — replays and clock skew cannot collide. The id is
    # RESERVED by os.mkdir (fails on collision, retry with the next
    # id) BEFORE any data file is written: two concurrent saves that
    # both computed max+1 would otherwise interleave parquet writes
    # into one version dir, voiding the atomic-manifest guarantee
    # that readers never observe a half-written index.
    while True:
        existing = [
            int(d[1:]) for d in os.listdir(index_dir)
            if d.startswith("v") and d[1:].isdigit()
        ]
        vid = f"v{max(existing, default=0) + 1}"
        vdir = os.path.join(index_dir, vid)
        try:
            os.mkdir(vdir)  # reservation: each writer owns its dir
            break
        except FileExistsError:
            continue
    encoded.write.mode("overwrite").parquet(os.path.join(vdir, "codes"))
    spark = encoded.sparkSession
    # one partition: one centroid file per index version
    literal_frame(
        spark, centroid_rows, "cell int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(vdir, "centroids")
    )
    manifest = {
        "version": vid,
        "codebooks": codebooks,
        "nprobe": int(nprobe),
        "meta": dict(meta or {}),
        "saved_unix": int(_time.time()),
        # the code SEGMENTS (index_dir-relative) that together form
        # the served index: a fresh save owns exactly its own codes;
        # `append_to_ann_index` chains the prior segments plus its
        # delta, so appends write delta-sized parquet, never the
        # corpus (the FAISS add_with_ids shape)
        "code_dirs": list(base_code_dirs or []) + [f"{vid}/codes"],
    }
    if corpus is not None:
        manifest["corpus_fingerprint"] = corpus_fingerprint(corpus)
    tmp = os.path.join(index_dir, f".manifest.{vid}.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.rename(tmp, os.path.join(index_dir, "manifest.json"))  # commit
    if keep_versions > 0:
        # GC strictly AFTER the commit: everything older than the
        # newest keep_versions ids goes — EXCEPT versions the new
        # manifest still references as code segments (an appended
        # index serves codes out of its ancestor versions; deleting
        # them would tear the committed view). The just-committed
        # version is the max id so it always survives, and
        # keep_versions >= 2 leaves the previous version for a reader
        # that resolved the old manifest just before the rename.
        referenced = {
            d.split("/", 1)[0] for d in manifest["code_dirs"]
        }
        versions = sorted(
            int(d[1:]) for d in os.listdir(index_dir)
            if d.startswith("v") and d[1:].isdigit()
        )
        for old in versions[:-keep_versions]:
            if f"v{old}" in referenced:
                continue
            _shutil.rmtree(
                os.path.join(index_dir, f"v{old}"), ignore_errors=True
            )
    return vid


def load_ann_index(
    spark,
    index_dir: str,
    corpus: DataFrame | None = None,
    on_stale: str = "raise",
) -> dict:
    """Load the committed index version: returns {codebooks, encoded,
    centroid_rows, nprobe, meta, version}. The manifest names the
    version to read, so a concurrent re-save never tears the view —
    this reader sees either the old index or the new one, fully.

    Staleness guard (r13): pass the SERVING `corpus` to check it
    against the manifest's training-time `corpus_fingerprint` —
    without this an index trained on a different corpus would happily
    serve wrong neighbors. `on_stale`: "raise" (default), "warn"
    (serve anyway, log the mismatch), or "ignore". A manifest saved
    without a fingerprint cannot be checked; that too raises/warns,
    so the knob can't silently no-op."""
    import json
    import os

    if on_stale not in ("raise", "warn", "ignore"):
        raise ValueError(f"on_stale must be raise|warn|ignore, got {on_stale!r}")
    with open(os.path.join(index_dir, "manifest.json")) as f:
        manifest = json.load(f)
    if corpus is not None and on_stale != "ignore":
        want = manifest.get("corpus_fingerprint")
        got = corpus_fingerprint(corpus)
        problem = None
        if want is None:
            problem = "manifest carries no corpus_fingerprint (pre-r13 save)"
        elif want != got:
            problem = f"index trained on {want}, serving corpus is {got}"
        if problem:
            msg = f"stale ANN index at {index_dir}: {problem}"
            if on_stale == "raise":
                raise RuntimeError(msg)
            _log.warning(msg)
    vdir = os.path.join(index_dir, manifest["version"])
    centroid_rows = [
        (int(r["cell"]), [float(x) for x in r["centroid"]])
        for r in spark.read.parquet(
            os.path.join(vdir, "centroids")
        ).collect()
    ]
    # code segments: an appended index serves the union of its
    # ancestors' codes plus its deltas (manifest["code_dirs"]);
    # a pre-segment manifest owns exactly its version's codes
    code_dirs = manifest.get(
        "code_dirs", [f"{manifest['version']}/codes"]
    )
    return {
        "codebooks": manifest["codebooks"],
        "encoded": spark.read.parquet(
            *[os.path.join(index_dir, d) for d in code_dirs]
        ),
        "centroid_rows": centroid_rows,
        "nprobe": int(manifest["nprobe"]),
        "meta": manifest["meta"],
        "version": manifest["version"],
        "code_dirs": list(code_dirs),
    }


def append_to_ann_index(
    spark,
    index_dir: str,
    delta: DataFrame,
    corpus: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    keep_versions: int = 3,
    max_segments: int = 8,
) -> str:
    """Add new vectors to a trained, persisted IVF-PQ index WITHOUT
    retraining — the FAISS `add_with_ids` shape, made delta-
    proportional on disk. The committed index's codebooks and coarse
    centroids are FROZEN: the delta is PQ-encoded against them
    (map-side Catalyst HOFs, no shuffle), assigned to its nearest
    stored coarse centroid when it carries no `label_col` (the apply
    half of the trained quantizer — `clustering.assign`), and written
    as a NEW code segment; the committed manifest then chains the
    ancestor segments plus this delta, so an append writes
    O(|delta|) parquet while readers keep seeing one atomic index
    (`load_ann_index` unions the segments). Ids already present in
    the index are refused — appends are insert-only, like the LSH
    delta rule; a re-encode of an existing id would serve that id
    twice with possibly different codes.

    Accuracy contract: appended vectors are quantized by codebooks
    trained WITHOUT them — exactly FAISS's add-after-train semantics.
    Codebooks drift from the data distribution as the corpus grows;
    the `corpus_fingerprint` staleness guard plus a periodic retrain
    (fresh `save_ann_index`, which restarts the segment chain) is the
    production cadence. `corpus` stamps the post-append serving
    corpus into the manifest so the staleness check keeps working
    across appends.

    Segment compaction: chained segments also chain their version
    dirs out of GC's reach, so without a bound appends would accrete
    versions forever (the small-files/live-forever failure the LSH
    index solves with its watermark compaction). When the chain would
    exceed `max_segments`, this append instead writes ONE folded
    segment (ancestors ∪ delta — an O(corpus) rewrite, amortized
    O(delta) per append at any fixed bound) and restarts the chain,
    after which normal GC reclaims the ancestor versions. Returns
    the committed version id."""
    idx = load_ann_index(spark, index_dir)
    books = idx["codebooks"]
    dcodes = pq_encode(delta, books, vec_col=vec_col, id_col=id_col)
    if label_col in delta.columns:
        dcodes = dcodes.join(
            delta.select(id_col, label_col), id_col
        )
    else:
        from .clustering import assign

        cents = {c: v for c, v in idx["centroid_rows"]}
        dcodes = dcodes.join(
            assign(delta, cents, vec_col=vec_col, id_col=id_col)
            .select(id_col, F.col("cid").alias(label_col)),
            id_col,
        )
    dup = (
        dcodes.join(
            idx["encoded"].select(id_col), id_col, "left_semi"
        )
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"append_to_ann_index: id {dup[0][id_col]} is already in "
            f"the index at {index_dir} — appends are insert-only "
            "(retrain with save_ann_index to re-encode)"
        )
    compacting = len(idx["code_dirs"]) + 1 > max(1, max_segments)
    if compacting:
        dcodes = idx["encoded"].unionByName(dcodes)
    return save_ann_index(
        index_dir,
        books,
        dcodes,
        idx["centroid_rows"],
        idx["nprobe"],
        meta={**idx["meta"], "appended_to": idx["version"]},
        corpus=corpus,
        keep_versions=keep_versions,
        base_code_dirs=None if compacting else idx["code_dirs"],
    )


def ann_serve_topk(
    index: dict,
    queries: DataFrame,
    k: int = 5,
    nprobe: int | None = None,
    exclude_self: bool = True,
    qid_col: str = "qid",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Serve IVF-PQ top-k from a LOADED persisted index
    (`load_ann_index` output) for an ARBITRARY query-vector frame —
    the online half of the index lifecycle, where queries arrive from
    a request stream instead of being members of the indexed corpus.

    The same stages as `ivfpq_topk`'s ADC path (`_route("l2")`,
    `_adc_scan`, `_adc_rank`), so for a query vector that IS a corpus
    member the two paths return identical rows — pinned in tests.
    Scoring is ADC-only: a pure PQ index stores m-byte codes, not
    float vectors, so exact refine is impossible at serve time by
    construction (FAISS needs IndexRefineFlat — i.e. the originals —
    for the same reason); callers wanting refine keep the corpus frame
    and use `ivfpq_topk(refine=...)`. `exclude_self=False` keeps
    candidates whose id equals the query id — external query ids share
    no namespace with corpus ids, so dropping them would silently
    discard true neighbors."""
    encoded = index["encoded"]
    cents = literal_frame(
        encoded.sparkSession,
        index["centroid_rows"],
        "cell int, centroid array<double>",
    )
    q = queries.select(F.col(qid_col).alias("qid"), F.col(vec_col).alias("qe"))
    probe = _route(q, cents, "l2", int(index["nprobe"]) if nprobe is None else nprobe)
    luts = _query_frame_luts(queries, index["codebooks"], qid_col, vec_col)
    scored = _adc_scan(
        luts.select("qid", "lut"), encoded, id_col,
        probe=probe, label_col=label_col, exclude_self=exclude_self,
    )
    return _adc_rank(scored, k)
