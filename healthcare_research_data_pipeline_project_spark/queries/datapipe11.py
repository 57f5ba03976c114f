"""Training-data pipeline corpus, part 11: runtime-filter join
pruning, interval-overlap analytics on the scalable prefix sum,
asymmetric shingle containment, and radius (range) similarity search.

`j12_bloom_prefilter_join`: the engine-level form of runtime
bloom-filter join pushdown. The region→supplier selection builds a
packed Bloom bitmap DISTRIBUTEDLY (one `bit_or` aggregation; only
the m/64-long word list ever reaches the driver — 16 bits/key,
hard-capped with a raise-don't-OOM guard past 16 MB packed), ships
it to the probe as ONE binary plan literal (the r12 fix: per-word
array literals cost a py4j round-trip each and hit an analysis wall
around 2^20 bits; a bytes literal is one array copy, flat to the
cap), the fact scan probes it with pure codegen arithmetic BEFORE
the join shuffle, and the exact broadcast join afterwards removes
the ~0.6% false-positive fringe — so the oracle (the plain join)
must match exactly, which re-proves "no false negatives" end to end
every round.
At 100 TB this is the decisive plan shape: non-matching lineitem rows
die in the scan stage instead of riding the exchange.

`t_max_concurrency`: classic interval-overlap sweep (max concurrent
users) — per-user activity intervals become ±1 deltas and the running
sum rides `operators/scale.prefix_sum`, the two-phase global cumsum
that never plans a SinglePartition window. Ties order (t, start-
before-end, user_id), so touching intervals count as concurrent and
both engines sort identically.

`text_containment_pairs`: asymmetric near-dup containment
|A∩B| / |A| over distinct word-shingle sets — catches quotes and
subset documents that symmetric Jaccard dilutes (a 50-shingle doc
fully embedded in a 500-shingle doc has Jaccard 0.09 but containment
1.0). Blocks on LANGUAGE only — deliberately wider than the Jaccard
family's (lang, source): cross-SOURCE containment (the same passage
syndicated into another corpus slice) is precisely what a containment
screen exists to catch. Same inverted-index shape as
`shingle_jaccard_pairs` (operators/dedup.py): pairs materialize only
for docs sharing a shingle, shuffles keyed on (lang, shingle) /
(id_a, id_b).

`sim_range_search`: radius search — ALL corpus vectors with cosine ≥
τ of each query, the second standard ANN API next to top-k (cohort
similarity serving in the reference, healthcare-api-main.py:236-288,
is a radius screen before ranking). Exact baseline: Q broadcast
against the corpus scan — zero shuffle of the corpus; the bucketed
scale path (IVF cells / LSH bands) is shared with the `sim_*_topk`
family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import track_persist
from ..functions.helpers import DEC, duck_round_div, round_div
from ..functions.text import DUCK_TOKENS, duck_shingles
from ..operators import dedup as D
from ..operators.scale import bloom_prefilter, prefix_sum
from ..operators.similarity import _dot
from ..session import memo
from ..tables import load_tables, table_path
from . import register

_BLOOM_REGION = "EUROPE"


@register(
    "j12_bloom_prefilter_join",
    f"""
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)
                    * (100 - CAST(CAST(l.l_discount AS DECIMAL(18,2)) * 100
                             AS BIGINT)))
                AS BIGINT) AS revenue_e4
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = '{_BLOOM_REGION}'
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
)
def j12_bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by supplier nation within one region, with the fact
    scan Bloom-pruned before the join. Revenue is exact integer
    arithmetic (DECIMAL-cast cents × (100−discount·1e2)) — the
    corpus's determinism doctrine: a raw double→long cast truncates
    in Spark but rounds in DuckDB, so money enters integer space
    through DECIMAL(18,2) on both engines."""
    t = load_tables(spark, sf_dir)
    dims = (
        t.supplier.join(
            t.nation, F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(t.region, F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == _BLOOM_REGION)
        .select("s_suppkey", "n_name")
    )
    dims = track_persist(dims)  # bloom build + exact join both read it
    fact = bloom_prefilter(t.lineitem, "l_suppkey", dims, "s_suppkey")
    return (
        fact.join(
            F.broadcast(dims), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(
                (F.col("l_extendedprice").cast(DEC) * 100).cast("long")
                * (100 - (F.col("l_discount").cast(DEC) * 100).cast("long"))
            )
            .cast("long")
            .alias("revenue_e4"),
        )
        .orderBy("n_name")
    )


@register(
    "t_max_concurrency",
    """
    WITH iv AS (
      SELECT user_id, MIN(ts) AS s, MAX(ts) AS e
      FROM events GROUP BY user_id
    ),
    sw AS (
      SELECT user_id, s AS t, 1 AS delta, 0 AS ord FROM iv
      UNION ALL
      SELECT user_id, e AS t, -1 AS delta, 1 AS ord FROM iv
    ),
    r AS (
      SELECT t, SUM(delta) OVER (ORDER BY t, ord, user_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS run
      FROM sw
    ),
    mx AS (SELECT MAX(run) AS m FROM r)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM iv) AS n_users,
           CAST((SELECT m FROM mx) AS BIGINT) AS max_concurrent,
           MIN(t) AS at_ts
    FROM r WHERE run = (SELECT m FROM mx)
    """,
)
def t_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max concurrently-active users and the first instant it is
    reached. The ±1 sweep's running sum is `prefix_sum` — one range
    exchange + a partition-count-sized offset frame, never the
    SinglePartition window `SUM() OVER (ORDER BY ...)` plans. Starts
    sort before ends at the same instant (ord 0 < 1), so touching
    intervals — and single-event users whose interval is a point —
    count as concurrent, and the (t, ord, user_id) total order makes
    every intermediate running-sum value engine-identical.

    r13 optimization (guide §2.4): the sweep rows come from ONE
    explode over the per-user interval row instead of a self-union
    (which scanned the iv aggregate twice and needed a persist), and
    the three downstream consumers (n_users count, MAX(run), argmin-t
    at the max) collapse into ONE aggregation over the sweep — argmax
    by struct ordering max((run, −unix_micros(t))) is exactly
    "largest run, earliest instant", and n_users = count(r)/2 because
    the sweep emits exactly two rows per user. That removes two
    persists, the broadcast-join argmax pass, and the extra scans:
    8 fewer jobs, 1896→~300 tasks measured at sf0.1."""
    t = load_tables(spark, sf_dir)
    iv = t.events.groupBy("user_id").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    sw = iv.select(
        "user_id",
        F.explode(
            F.array(
                F.struct(
                    F.col("s").alias("t"),
                    F.lit(1).alias("delta"),
                    F.lit(0).alias("ord"),
                ),
                F.struct(
                    F.col("e").alias("t"),
                    F.lit(-1).alias("delta"),
                    F.lit(1).alias("ord"),
                ),
            )
        ).alias("x"),
    ).select("user_id", "x.t", "x.delta", "x.ord")
    r = prefix_sum(sw, ["t", "ord", "user_id"], {"run": "delta"})
    # one pass: max(struct(run, −µs(t))) picks the max run and, within
    # it, the smallest t — bit-identical to the former
    # join-on-max + MIN(t) pair (timestamps are integral micros, so
    # unix_micros/timestamp_micros round-trip exactly)
    agg = r.agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("n_users"),
        F.max(
            F.struct(
                F.col("run").alias("run"),
                (F.lit(0) - F.unix_micros(F.col("t"))).alias("negt"),
            )
        ).alias("mx"),
    )
    return agg.select(
        "n_users",
        F.col("mx.run").cast("long").alias("max_concurrent"),
        F.timestamp_micros(F.lit(0) - F.col("mx.negt")).alias("at_ts"),
    )


_CONT_TAU = 0.10
#: viral-shingle document-frequency cap — bounds per-shingle pair
#: expansion by df_max² at any corpus size; a no-op on this corpus
#: (no shingle anywhere near df 10k), which the oracle equality pins
_CONT_DF_MAX = 10_000
_TOKS = DUCK_TOKENS.format(text="text")


@register(
    "text_containment_pairs",
    f"""
    WITH d AS (
      SELECT doc_id, lang,
             list_distinct({duck_shingles(_TOKS)}) AS sh
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_shared,
           {duck_round_div("len(list_intersect(a.sh, b.sh))",
                           "len(a.sh)", 4)} AS cont_in_a,
           {duck_round_div("len(list_intersect(a.sh, b.sh))",
                           "len(b.sh)", 4)} AS cont_in_b
    FROM d a JOIN d b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) * 10000 >=
          {int(_CONT_TAU * 10000)} * least(len(a.sh), len(b.sh))
    ORDER BY id_a, id_b
    """,
)
def text_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional containment via the capped posting-list index: ONE
    aggregation builds per-(lang, shingle) sorted doc lists over the
    60-bit shingle hash, shared-shingle pairs expand MAP-SIDE from
    each list (every i<j combo — no self-join), and per-pair counts
    give |A∩B|; per-doc distinct sizes join back in and the τ screen
    keeps pairs where EITHER direction's containment clears
    `_CONT_TAU` (equivalently |A∩B| ≥ τ·min(|A|,|B|)). The
    `_CONT_DF_MAX` document-frequency cap bounds per-shingle pair
    work by df_max² at ANY corpus size (the viral-boilerplate
    blowup the Jaccard family's cap exists for — dedup.py doctrine);
    per-doc sizes subtract hot-shingle membership so the result is
    the EXACT containment over the reduced universe — identical to
    uncapped whenever no shingle exceeds the cap, which holds on this
    corpus BY CONTRACT, so the oracle is the plain uncapped SQL and a
    green row pins exactly that no-op equivalence. Hash-space counts
    equal the oracle's string-space counts except on 2^-60 collisions
    (same identity doctrine as `shingle_jaccard_pairs`)."""
    t = load_tables(spark, sf_dir)
    sh60 = (
        "transform(shingles, s -> "
        "cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint))"
    )
    d = (
        D.with_shingles(t.documents, "text")
        .withColumn("sh_set", F.array_distinct(F.expr(sh60)))
        .select("doc_id", "lang", "sh_set")
    )
    d = track_persist(d)  # index side + size lookup branch here
    sizes = d.select("doc_id", F.size("sh_set").alias("sh_n"))
    inv = d.select(
        "doc_id", "lang", F.explode_outer("sh_set").alias("sh")
    )
    posting = inv.groupBy("lang", "sh").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    posting = track_persist(posting)  # pair expansion + hot correction
    hot = posting.filter(F.size("ids") > _CONT_DF_MAX)
    inter = (
        posting.filter(F.size("ids") <= _CONT_DF_MAX)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids) - i - 1), "
                    "y -> struct(x AS id_a, y AS id_b))))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    # sizes over the reduced (capped) universe: doc-bounded correction
    # frame, empty when nothing exceeds the cap
    hot_per_doc = (
        hot.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("__hot_cnt"))
    )
    sizes = sizes.join(hot_per_doc, "doc_id", "left").select(
        "doc_id",
        (F.col("sh_n") - F.coalesce("__hot_cnt", F.lit(0))).alias("sh_n"),
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sh_n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sh_n").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(
            F.col("n_shared") * 10000
            >= int(_CONT_TAU * 10000) * F.least("n_a", "n_b")
        )
        .select(
            "id_a",
            "id_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            round_div(F.col("n_shared"), F.col("n_a"), "cont_in_a", 4),
            round_div(F.col("n_shared"), F.col("n_b"), "cont_in_b", 4),
        )
        .orderBy("id_a", "id_b")
    )


_RANGE_QUERY_IDS = list(range(8))
_RANGE_TAU = 0.30


def _dot_sql(x: str, y: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, len({x})),"
        f" i -> CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE)))"
    )


@register(
    "sim_range_search",
    f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
               WHERE vec_id IN ({", ".join(map(str, _RANGE_QUERY_IDS))})),
    c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings),
    p AS (
      SELECT qid, cid,
             CAST(ROUND({_dot_sql('qe', 'ce')} /
                        (sqrt({_dot_sql('qe', 'qe')}) *
                         sqrt({_dot_sql('ce', 'ce')})), 4) AS DOUBLE)
               AS cos_sim
      FROM q JOIN c ON cid <> qid
    )
    SELECT qid, cid, cos_sim
    FROM p WHERE cos_sim >= {_RANGE_TAU}
    ORDER BY qid, cid
    """,
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact radius search: broadcast the Q query vectors against the
    corpus scan (the corpus never shuffles; work is one pass of Q·dim
    fused multiply-adds per row in whole-stage codegen), round to 4 dp
    BEFORE the τ screen so the kept set is engine-identical. The
    result is every neighbor within the radius — unbounded per query
    by design; serving layers that need a cap compose `LIMIT`/top-k on
    top, and corpora past the brute wall route through the same IVF
    cells the top-k family uses."""
    t = load_tables(spark, sf_dir)
    q = (
        t.embeddings.filter(F.col("vec_id").isin(_RANGE_QUERY_IDS))
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"))
    )
    c = t.embeddings.select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("cid") != F.col("qid"))
        .select(
            "qid",
            "cid",
            F.round(
                _dot("qe", "ce")
                / (F.sqrt(_dot("qe", "qe")) * F.sqrt(_dot("ce", "ce"))),
                4,
            )
            .cast("double")
            .alias("cos_sim"),
        )
    )
    return scored.filter(F.col("cos_sim") >= _RANGE_TAU).orderBy("qid", "cid")


@register(
    "ivm_join_view",
    """
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
             AS revenue_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def ivm_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-view maintenance end to end: orders and customer are each
    split into a base and an (unaligned) insert delta, the view's
    initial build joins the bases, `join_view_delta` produces the
    change set WITHOUT ever recomputing base⋈base, and the maintained
    view (V0 ∪ ΔV) aggregates to segment revenue. The oracle is the
    full recompute over the complete tables — green means the delta
    rule covered every inserted pair exactly once. Money enters
    integer space through DECIMAL(18,2), the corpus's doctrine."""
    from ..operators.ivm import join_view_delta

    t = load_tables(spark, sf_dir)
    o = t.orders.select("o_orderkey", "o_custkey", "o_totalprice")
    c = t.customer.select("c_custkey", "c_mktsegment")
    o_old = o.filter(F.col("o_orderkey") % 7 != 0)
    o_new = o.filter(F.col("o_orderkey") % 7 == 0)
    c_old = c.filter(F.col("c_custkey") % 5 != 0)
    c_new = c.filter(F.col("c_custkey") % 5 == 0)
    on = F.col("o_custkey") == F.col("c_custkey")
    v0 = o_old.join(c_old, on)
    dv = join_view_delta(o_old, o_new, c_old, c_new, on)
    return (
        v0.unionByName(dv)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC) * 100)
            .cast("long")
            .alias("revenue_cents"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "sim_ivf_range_search",
    f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
               WHERE vec_id IN ({", ".join(map(str, _RANGE_QUERY_IDS))})),
    c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings),
    p AS (
      SELECT qid, cid,
             CAST(ROUND({_dot_sql('qe', 'ce')} /
                        (sqrt({_dot_sql('qe', 'qe')}) *
                         sqrt({_dot_sql('ce', 'ce')})), 4) AS DOUBLE)
               AS cos_sim
      FROM q JOIN c ON cid <> qid
    )
    SELECT qid, cid, cos_sim
    FROM p WHERE cos_sim >= {_RANGE_TAU}
    ORDER BY qid, cid
    """,
)
def sim_ivf_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-routed radius search registered at nprobe = probe-all,
    which PROVABLY equals the exact brute-force radius search (every
    cell is scanned, so the candidate set is the full corpus) —
    giving the routing machinery a real value-hash oracle, the same
    identity `sim_ivf_topk` pins for top-k. The partial-probe scale
    setting is oracled by `sim_ivf_range_search_routed` below (r13)
    and pytest-pinned by the radius-recall test at the auto-derived
    depth."""
    from ..operators.similarity import ivf_range_search
    from .datapipe7 import _ivf_centroids_frame

    t = load_tables(spark, sf_dir)
    # centroids served from the per-(session, corpus) trained artifact
    # (r14) instead of re-derived per invocation
    return ivf_range_search(
        t.embeddings,
        _RANGE_QUERY_IDS,
        _RANGE_TAU,
        nprobe=1_000_000,
        cents=_ivf_centroids_frame(spark, sf_dir, t),
    )


# ---------------------------------------------------------------------------
# The DEPLOYED radius scale path as a first-class registry row
# (VERDICT r12 #3): partial-probe IVF radius search at the
# auto-derived τ-regime depth. Unlike the probe-all identity above,
# THIS oracle recomputes the routing itself — the sim_ivfpq_topk
# doctrine transplanted to the cosine/radius regime: cell centroids
# are plain per-(cell, dim) averages DuckDB rebuilds, cells rank by
# ROUND(cos(query, centroid), 6) DESC (rounding absorbs float
# summation order — the serving route rounds identically since r13;
# ties break on cell id), and candidates are screened at the same
# 4-dp-rounded τ inside the derived probe set. The depth literal is
# the FROZEN output of `auto_ivf_nprobe(metric="cos", tau=τ)` at the
# oracle SF (sf0.01: 10 cells, p25 per-query radius recall ≥ 0.85
# first reached at nprobe=9), pinned by
# tests/test_pq.py::test_auto_ivf_radius_frozen_nprobe — a tuner /
# sampler / corpus move surfaces as a gate hash mismatch and a pytest
# failure, never a silent probe-set divergence.
# ---------------------------------------------------------------------------
_RANGE_ROUTED_NPROBE = 9


def _routed_range_oracle() -> str:
    ids = ", ".join(map(str, _RANGE_QUERY_IDS))
    return f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
               WHERE vec_id IN ({ids})),
    xp AS (SELECT label AS cell, unnest(embedding) AS x,
                  unnest(generate_series(1, len(embedding))) AS pos
           FROM embeddings),
    cent AS (SELECT cell, pos, AVG(CAST(x AS DOUBLE)) AS mu
             FROM xp GROUP BY cell, pos),
    cn AS (SELECT cell, sqrt(SUM(mu * mu)) AS cnorm FROM cent
           GROUP BY cell),
    route AS (
      SELECT q.qid, cent.cell,
             SUM(CAST(qe[pos] AS DOUBLE) * mu) AS qdot
      FROM q JOIN cent ON TRUE GROUP BY q.qid, cent.cell
    ),
    rr AS (SELECT r.qid, r.cell,
                  ROW_NUMBER() OVER (
                    PARTITION BY r.qid
                    ORDER BY ROUND(r.qdot / cn.cnorm, 6) DESC, r.cell
                  ) AS cr
           FROM route r JOIN cn USING (cell)),
    probe AS (SELECT qid, cell FROM rr WHERE cr <= {_RANGE_ROUTED_NPROBE}),
    p AS (
      SELECT pr.qid, e.vec_id AS cid,
             CAST(ROUND({_dot_sql('q.qe', 'e.embedding')} /
                        (sqrt({_dot_sql('q.qe', 'q.qe')}) *
                         sqrt({_dot_sql('e.embedding', 'e.embedding')})), 4)
               AS DOUBLE) AS cos_sim
      FROM probe pr
      JOIN q ON q.qid = pr.qid
      JOIN embeddings e ON e.label = pr.cell AND e.vec_id <> pr.qid
    )
    SELECT qid, cid, cos_sim
    FROM p WHERE cos_sim >= {_RANGE_TAU}
    ORDER BY qid, cid
    """


@register("sim_ivf_range_search_routed", _routed_range_oracle())
def sim_ivf_range_search_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import auto_ivf_nprobe, ivf_range_search
    from .datapipe7 import _ivf_centroids_frame

    t = load_tables(spark, sf_dir)
    # depth derived once per (session, corpus) — serve-don't-rebuild,
    # the ivfpq lifecycle; at the oracle SF the derivation lands on
    # _RANGE_ROUTED_NPROBE (frozen in the oracle SQL above). Centroids
    # served from the same trained artifact (r14).
    nprobe = memo(
        spark, "ivf-range-nprobe", sf_dir,
        lambda: auto_ivf_nprobe(t.embeddings, metric="cos", tau=_RANGE_TAU),
        [table_path(sf_dir, "embeddings")],
    )
    return ivf_range_search(
        t.embeddings,
        _RANGE_QUERY_IDS,
        _RANGE_TAU,
        nprobe=nprobe,
        cents=_ivf_centroids_frame(spark, sf_dir, t),
    )


# ---------------------------------------------------------------------------
# SemDeDup keep policy (r13; Abbas et al. 2023, arXiv:2303.09540):
# cell-bounded semantic duplicate groups with the paper's
# diversity-preserving keep — each group keeps exactly the member
# LEAST similar to its cell centroid. The oracle rebuilds the whole
# pipeline in SQL: per-(cell, dim) AVG centroids (the routed-IVF
# doctrine), 4-dp-rounded intra-cell pair threshold, RECURSIVE
# min-label components over those pairs, 4-dp-rounded member-centroid
# cosine, and the keeper ROW_NUMBER with the id tie-break — so the
# keep decision itself is value-hash-pinned across engines. At
# production scale the cell column is a trained adaptive k-means
# assignment (dedup_semantic_blocks posture); the fixed label cells
# here keep the oracle exact.
# ---------------------------------------------------------------------------
_SEMD_TAU = 0.35


def _semdedup_oracle() -> str:
    return f"""
    WITH RECURSIVE
    v AS (SELECT vec_id, label AS cell, embedding,
                 sqrt({_dot_sql('embedding', 'embedding')}) AS vnorm
          FROM embeddings),
    xp AS (SELECT label AS cell, unnest(embedding) AS x,
                  unnest(generate_series(1, len(embedding))) AS pos
           FROM embeddings),
    cent AS (SELECT cell, pos, AVG(CAST(x AS DOUBLE)) AS mu
             FROM xp GROUP BY cell, pos),
    cn AS (SELECT cell, sqrt(SUM(mu * mu)) AS cnorm FROM cent
           GROUP BY cell),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM v a JOIN v b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE CAST(ROUND({_dot_sql('a.embedding', 'b.embedding')} /
                       (a.vnorm * b.vnorm), 4) AS DOUBLE) >= {_SEMD_TAU}
    ),
    e AS (SELECT id_a AS u, id_b AS w FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
    r(node, lab) AS (
      SELECT vec_id, vec_id FROM v
      UNION
      SELECT e.u, r.lab FROM r JOIN e ON r.node = e.w
    ),
    cc AS (SELECT node, MIN(lab) AS grp FROM r GROUP BY node),
    vd AS (SELECT v.vec_id,
                  SUM(CAST(v.embedding[pos] AS DOUBLE) * mu) AS vdot
           FROM v JOIN cent ON cent.cell = v.cell
           GROUP BY v.vec_id),
    m AS (SELECT v.vec_id, v.cell, cc.grp AS group_id,
                 CAST(ROUND(vd.vdot / (v.vnorm * cn.cnorm), 4) AS DOUBLE)
                   AS cent_cos
          FROM v
          JOIN vd ON vd.vec_id = v.vec_id
          JOIN cc ON cc.node = v.vec_id
          JOIN cn ON cn.cell = v.cell),
    sz AS (SELECT group_id, COUNT(*) AS n FROM m GROUP BY group_id),
    k AS (SELECT m.*,
                 ROW_NUMBER() OVER (
                   PARTITION BY group_id
                   ORDER BY cent_cos ASC, vec_id ASC
                 ) AS rn
          FROM m)
    SELECT k.vec_id, k.cell, k.group_id,
           CAST(sz.n AS BIGINT) AS group_size,
           k.cent_cos,
           CAST(CASE WHEN k.rn = 1 THEN 1 ELSE 0 END AS INT) AS is_keeper
    FROM k JOIN sz USING (group_id)
    """


@register("dedup_semdedup_keep", _semdedup_oracle())
def dedup_semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import semdedup_keep

    t = load_tables(spark, sf_dir)
    return semdedup_keep(t.embeddings, tau=_SEMD_TAU)
