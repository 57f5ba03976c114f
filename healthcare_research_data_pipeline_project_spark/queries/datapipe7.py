"""Training-data pipeline corpus, part 7: graph analytics, exact
rank/ACF statistics, Z-order layout auditing, corpus language-model
scoring, and scalar-quantized ANN.

Graph ops (`g_degree_stats`, `g_triangle_count`): degree distribution
of the bipartite part–supplier graph and triangle/clustering metrics
over the thresholded embedding-cosine graph. Triangles are counted by
the classic two-join edge-ordering method (a<b<c, each triangle found
exactly once) — every join an equi-join on (label, node), never a
cross product; at 100 TB the edge list is the already-blocked
near-dup pair set, so join fan-out is bounded by block size.

`t_autocorr`: lag-1..7 autocorrelation of the daily revenue series.
The estimator is computed entirely in scaled integers — deviation
D_t = n·x_t − S (cents) is exact BIGINT, products accumulate in
DECIMAL(38,0)/HUGEINT — so both engines divide the same two exact
integers; the only float op is that final division. No
`SUM() OVER ()` on the fact table: the series is aggregated first
(one shuffle), and every window/join after that runs on the
group-cardinality daily frame.

`stat_mannwhitney_u`: Mann–Whitney U via the value-histogram method —
no global row ranking (the classic rank() implementation is a
single-partition sort at scale). l_quantity has a small discrete
domain, so per-value counts + a cumulative window over the tiny
histogram yield tie-averaged rank sums exactly; everything up to the
final z-score is integer arithmetic in half-rank units.

`ds_zorder_layout`: Morton (Z-order) interleave of two 8-bit bucketed
dimensions (customer × order-day) → 256-cell blocks with per-block
min/max skipping stats, plus the scanned/pruned verdict for a fixed
16×16-tile query box. This is the layout audit behind
Delta/Iceberg-style `OPTIMIZE ZORDER`: at 100 TB you write the fact
`repartitionByRange(zkey)` + sorted, and multi-dimensional predicates
prune ~(box area / tile area) of the files instead of a full scan.

`text_unigram_logprob`: corpus-unigram language-model scoring — the
cheap perplexity proxy used to quality-filter pretraining data. Token
frequencies aggregate from per-(doc,token) counts (one explode, reused
for both the vocab TF and the doc join-back), per-token logprobs are
rounded to integer micro-nats (the decimal-contribution doctrine of
`text_token_entropy`), so per-doc sums are exact. At 100 TB the vocab
join is a broadcast after a min-df cut.

`sim_sq8_topk`: scalar-quantized (int8) brute-force top-k — FAISS's
SQ8 baseline: per-dimension min/max → 0..255 codes, ranking by the
dot of the DEQUANTIZED reconstructions (4× less memory/IO than
float32; r6 fixed the r4-r5 raw-code-dot ranking, which the affine
per-dim offsets make non-monotone in the true dot — 0/5 true-top-5
overlap measured). The quantization bounds are a dim-sized broadcast.

Reference parity: extends the statistics family
(healthcare-data-pipeline-main.py:319-338 detect_anomalies,
healthcare-sql-analytics.sql:545-600 outlier analysis) with the
graph/layout/LM-scoring operators a 100 TB curation pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import track_persist
from ..functions.helpers import (
    duck_round_div,
    duck_sum_cents,
    round_div,
    sum_cents,
)
from ..functions.text import DUCK_TOKENS, tokens
from ..operators import similarity as S
from ..operators.scale import morton16 as _morton16
from ..session import literal_frame, memo, scratch_dir
from ..tables import load_tables, table_path
from . import register

_TOKS = DUCK_TOKENS.format(text="text")

# ---------------------------------------------------------------------------
# Degree distribution of the bipartite part–supplier graph.
# distinct(edge) is one shuffle with map-side partial dedup; the degree
# aggregate shuffles on node id; the distribution aggregate is tiny.
# ---------------------------------------------------------------------------


@register(
    "g_degree_stats",
    """
    WITH e AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    d AS (
      SELECT 'supplier' AS side, s AS node_id, COUNT(*) AS degree
      FROM e GROUP BY s
      UNION ALL
      SELECT 'part' AS side, p AS node_id, COUNT(*) AS degree
      FROM e GROUP BY p
    )
    SELECT side, CAST(degree AS BIGINT) AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM d GROUP BY side, degree
    ORDER BY side, degree
    """,
)
def g_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    e = t.lineitem.select("l_partkey", "l_suppkey").distinct()
    # BOTH degree aggregations in one GROUPING SETS pass: the Expand
    # doubles the deduped edge rows map-side and one shuffle groups
    # both sides at once — replacing the r4 shape (persist + two
    # groupBys + union), which paid a cache materialization plus two
    # separate exchanges over the same edges (~30% faster at sf0.1,
    # one fewer stage barrier at any scale). The grouping flag, not
    # the key value, identifies the side — a supplier id numerically
    # equal to a part id stays two distinct nodes.
    deg = (
        e.groupingSets(
            [["l_suppkey"], ["l_partkey"]], "l_suppkey", "l_partkey"
        )
        .agg(
            F.count(F.lit(1)).alias("degree"),
            F.grouping("l_partkey").alias("gp"),
        )
        .select(
            F.when(F.col("gp") == 1, F.lit("supplier"))
            .otherwise(F.lit("part"))
            .alias("side"),
            F.coalesce("l_suppkey", "l_partkey").alias("node_id"),
            "degree",
        )
    )
    return (
        deg.groupBy("side", "degree")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .select("side", F.col("degree").cast("long").alias("degree"), "n_nodes")
        .orderBy("side", "degree")
    )


# ---------------------------------------------------------------------------
# Triangle count + clustering coefficient per label block of the
# thresholded embedding-cosine graph (edges = the oracled near-dup
# pair set, a<b). Triangles via the ordered two-join; wedges from the
# per-node degree so the clustering coefficient is exact rational
# (round_div). Cosine is rounded to 4 dp before thresholding — the
# same edge set in both engines (dedup_embedding_cosine doctrine).
# ---------------------------------------------------------------------------
_TRI_T = 0.35


def _tri_dot(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, len({a})),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


# Scale note (r6 probe finding, SCALE_PROBE.json): the similarity-
# graph family (g_triangle_count / g_pagerank_centrality /
# g_kcore_dense_region) generates candidate pairs within FIXED-
# cardinality label blocks, so candidates grow quadratically with the
# corpus — the 10x probe measured 43-46x time. Banded hyperplane LSH
# (the band keys `operators/similarity.py::knn_graph_ann` uses) was
# measured as a sub-blocking layer and bought only ~1.3-1.5x at sf1:
# a label block IS a tight cluster, and LSH by construction cannot
# split genuinely-similar vectors into different buckets, so in-block
# bucket populations stay concentrated. The quadratic here is in the
# EDGE SET itself (a threshold graph over a near-dup cluster has
# O(M^2) true edges); the production-scale composition is therefore
# different operators, not a faster pair join: collapse duplicate
# neighborhoods FIRST (dedup_canonical_keep — minhash bands + CC,
# linear), run graph analytics on canonical representatives, and use
# bounded-degree kNN graphs where a similarity graph is still needed.
# These three queries keep the exact oracled threshold-graph
# semantics at test scale and carry this documented ceiling.


def _tri_edges_sql(threshold: float | None = None) -> str:
    cos = (
        f"CAST(ROUND({_tri_dot('a.embedding', 'b.embedding')} /"
        f" (sqrt({_tri_dot('a.embedding', 'a.embedding')}) *"
        f" sqrt({_tri_dot('b.embedding', 'b.embedding')})), 4) AS DOUBLE)"
    )
    t = _TRI_T if threshold is None else threshold
    return f"""
    e AS (
      SELECT a.label, a.vec_id AS a, b.vec_id AS b
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE {cos} >= {t}
    )"""


@register(
    "g_triangle_count",
    f"""
    WITH {_tri_edges_sql()},
    ends AS (
      SELECT label, a AS node FROM e
      UNION ALL SELECT label, b FROM e
    ),
    deg AS (SELECT label, node, COUNT(*) AS d FROM ends GROUP BY label, node),
    base AS (
      SELECT label,
             CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(d) / 2 AS BIGINT) AS n_edges,
             CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges
      FROM deg GROUP BY label
    ),
    tri AS (
      SELECT x.label, COUNT(*) AS n_tri
      FROM e x
      JOIN e y ON y.label = x.label AND y.a = x.b
      JOIN e z ON z.label = x.label AND z.a = x.a AND z.b = y.b
      GROUP BY x.label
    )
    SELECT base.label, n_nodes, n_edges, n_wedges,
           CAST(COALESCE(n_tri, 0) AS BIGINT) AS n_triangles,
           {duck_round_div("3 * COALESCE(n_tri, 0)", "n_wedges", 6)}
             AS clustering_coef
    FROM base LEFT JOIN tri ON tri.label = base.label
    ORDER BY base.label
    """,
)
def g_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    # the pair-cosine frame feeds FOUR consumers (x/y/z triangle sides
    # + the degree pass): persist so the in-block cosine self-join runs
    # once, not four times
    e = S.embedding_near_dup_pairs(t.embeddings, threshold=_TRI_T).select(
        "label", F.col("id_a").alias("a"), F.col("id_b").alias("b")
    )
    e = track_persist(e)
    ends = e.select("label", F.col("a").alias("node")).unionByName(
        e.select("label", F.col("b").alias("node"))
    )
    deg = ends.groupBy("label", "node").agg(F.count(F.lit(1)).alias("d"))
    base = deg.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        (F.sum("d") / 2).cast("long").alias("n_edges"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges"),
    )
    x, y, z = e.alias("x"), e.alias("y"), e.alias("z")
    tri = (
        x.join(
            y,
            (F.col("y.label") == F.col("x.label"))
            & (F.col("y.a") == F.col("x.b")),
        )
        .join(
            z,
            (F.col("z.label") == F.col("x.label"))
            & (F.col("z.a") == F.col("x.a"))
            & (F.col("z.b") == F.col("y.b")),
        )
        .groupBy(F.col("x.label").alias("label"))
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return (
        base.join(tri, "label", "left")
        .select(
            "label",
            "n_nodes",
            "n_edges",
            "n_wedges",
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
            round_div(
                3 * F.coalesce(F.col("n_tri"), F.lit(0)),
                F.col("n_wedges"),
                "clustering_coef",
                6,
            ),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Lag-k autocorrelation of the daily revenue series (k = 1..7), exact
# scaled-integer estimator: D_t = n·x_t − S is BIGINT (cents), products
# accumulate in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB), and
# r_k = Σ D_t·D_{t−k} / Σ D_t² — the n² scaling cancels. One shuffle
# (the daily aggregate); the index/lag joins run on the daily frame.
# ---------------------------------------------------------------------------
_ACF_LAGS = list(range(1, 8))


@register(
    "t_autocorr",
    f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             {duck_sum_cents('o_totalprice')} AS cents
      FROM orders GROUP BY 1
    ),
    tot AS (SELECT COUNT(*) AS n, SUM(cents) AS s FROM daily),
    ser AS (
      SELECT ROW_NUMBER() OVER (ORDER BY d) AS idx,
             CAST(n AS HUGEINT) * cents - CAST(s AS HUGEINT) AS dev, n
      FROM daily, tot
    ),
    den AS (SELECT SUM(dev * dev) AS dd, MAX(n) AS n FROM ser),
    pairs AS (
      SELECT l.lag_k, a.dev * b.dev AS prod
      FROM ser a
      CROSS JOIN (SELECT unnest([{", ".join(map(str, _ACF_LAGS))}]) AS lag_k) l
      JOIN ser b ON b.idx = a.idx - l.lag_k
    ),
    num AS (SELECT lag_k, SUM(prod) AS np, COUNT(*) AS n_pairs
            FROM pairs GROUP BY lag_k)
    SELECT CAST(lag_k AS INT) AS lag_k,
           CAST(den.n AS BIGINT) AS n_days,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(CASE WHEN dd = 0 THEN NULL ELSE
             ROUND(CAST(np AS DOUBLE) / CAST(dd AS DOUBLE), 6) END AS DOUBLE)
             AS acf
    FROM num, den
    ORDER BY lag_k
    """,
)
def t_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    daily = t.orders.groupBy(
        F.to_date("o_orderdate").alias("d")
    ).agg(sum_cents("o_totalprice").alias("cents"))
    tot = daily.agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s"))
    # daily frame is group-cardinality (one row per day): the
    # row_number window is fine at any data scale
    ser = (
        daily.crossJoin(F.broadcast(tot))
        .withColumn("idx", F.row_number().over(Window.orderBy("d")))
        .withColumn(
            # promote to DECIMAL(38,0) BEFORE the multiply, matching the
            # oracle's HUGEINT arithmetic: at the 100 TB envelope
            # n*cents approaches ~2e18, within 4x of int64 wraparound,
            # and non-ANSI Spark would wrap silently if the product
            # were computed in BIGINT first
            "dev",
            F.col("n").cast("decimal(38,0)")
            * F.col("cents").cast("decimal(38,0)")
            - F.col("s").cast("decimal(38,0)"),
        )
        .select("idx", "dev", "n")
    )
    den = ser.agg(
        F.sum(F.col("dev") * F.col("dev")).alias("dd"), F.max("n").alias("n")
    )
    lagged = ser.select("idx", "dev").withColumn(
        "lag_k", F.explode(F.array([F.lit(k) for k in _ACF_LAGS]))
    ).withColumn("pidx", F.col("idx") - F.col("lag_k"))
    prev = ser.select(
        F.col("idx").alias("pidx"), F.col("dev").alias("pdev")
    )
    num = (
        lagged.join(prev, "pidx")
        .groupBy("lag_k")
        .agg(
            F.sum(F.col("dev") * F.col("pdev")).alias("np"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
    )
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            F.col("lag_k").cast("int").alias("lag_k"),
            F.col("n").cast("long").alias("n_days"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.when(
                F.col("dd") != 0,
                F.round(
                    F.col("np").cast("double") / F.col("dd").cast("double"), 6
                ),
            )
            .cast("double")
            .alias("acf"),
        )
        .orderBy("lag_k")
    )


# ---------------------------------------------------------------------------
# Mann–Whitney U (returnflag A vs R on l_quantity) via the
# value-histogram method: per-value counts (one small shuffle), tie-
# averaged rank sums from a cumulative window over the ~50-row
# histogram, z-score with tie correction. Half-rank units keep every
# pre-z quantity integer; U values are emitted in exact halves.
# ---------------------------------------------------------------------------


@register(
    "stat_mannwhitney_u",
    """
    WITH f AS (
      SELECT CAST(l_quantity AS INT) AS q, l_returnflag AS g
      FROM lineitem WHERE l_returnflag IN ('A', 'R')
    ),
    c AS (
      SELECT q,
             SUM(CASE WHEN g = 'A' THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS n2
      FROM f GROUP BY q
    ),
    w AS (
      SELECT q, n1, n2, n1 + n2 AS t,
             COALESCE(SUM(n1 + n2) OVER (ORDER BY q
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      FROM c
    ),
    s AS (
      SELECT CAST(SUM(n1) AS BIGINT) AS n1t,
             CAST(SUM(n2) AS BIGINT) AS n2t,
             CAST(SUM(n1 * (2 * cum + t + 1)) AS BIGINT) AS r1_half,
             CAST(SUM(t * t * t - t) AS BIGINT) AS tie_term
      FROM w
    )
    SELECT n1t AS n1, n2t AS n2,
           CAST((r1_half - n1t * (n1t + 1)) / 2.0 AS DOUBLE) AS u1,
           CAST((2 * n1t * n2t - (r1_half - n1t * (n1t + 1))) / 2.0 AS DOUBLE)
             AS u2,
           CAST(ROUND(
             ((r1_half - n1t * (n1t + 1)) - CAST(n1t AS DOUBLE) * n2t)
             / (2.0 * sqrt(
                 CAST(n1t AS DOUBLE) * n2t / 12.0
                 * ((n1t + n2t + 1)
                    - CAST(tie_term AS DOUBLE)
                      / (CAST(n1t + n2t AS DOUBLE) * (n1t + n2t - 1))))),
             4) AS DOUBLE) AS z_score,
           CAST(ROUND(
             1.0 - (r1_half - n1t * (n1t + 1))
                   / (CAST(n1t AS DOUBLE) * n2t),
             6) AS DOUBLE) AS rank_biserial
    FROM s
    """,
)
def stat_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    f = t.lineitem.filter(F.col("l_returnflag").isin("A", "R")).select(
        F.col("l_quantity").cast("int").alias("q"), F.col("l_returnflag").alias("g")
    )
    c = f.groupBy("q").agg(
        F.sum(F.when(F.col("g") == "A", 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("g") == "R", 1).otherwise(0)).alias("n2"),
    )
    # histogram frame: ~50 rows (the l_quantity domain), so the global
    # cumulative window is a group-cardinality frame, fine at any scale
    wprev = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, -1)
    w = c.withColumn("t", F.col("n1") + F.col("n2")).withColumn(
        "cum", F.coalesce(F.sum(F.col("n1") + F.col("n2")).over(wprev), F.lit(0))
    )
    s = w.agg(
        F.sum("n1").cast("long").alias("n1t"),
        F.sum("n2").cast("long").alias("n2t"),
        F.sum(F.col("n1") * (2 * F.col("cum") + F.col("t") + 1))
        .cast("long")
        .alias("r1_half"),
        # t³ breaches BIGINT once a tie group passes ~2M rows (well
        # inside 100 TB territory): accumulate in DECIMAL(38,0), the
        # HUGEINT twin of DuckDB's automatic promotion
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
            - F.col("t")
        )
        .cast("decimal(38,0)")
        .alias("tie_term"),
    )
    u1_half = F.col("r1_half") - F.col("n1t") * (F.col("n1t") + 1)
    n1d = F.col("n1t").cast("double")
    n2d = F.col("n2t").cast("double")
    nd = (F.col("n1t") + F.col("n2t")).cast("double")
    var = (
        n1d * n2d / 12.0
        * (
            (F.col("n1t") + F.col("n2t") + 1)
            - F.col("tie_term").cast("double") / (nd * (nd - 1))
        )
    )
    return s.select(
        F.col("n1t").alias("n1"),
        F.col("n2t").alias("n2"),
        (u1_half / 2.0).cast("double").alias("u1"),
        ((2 * F.col("n1t") * F.col("n2t") - u1_half) / 2.0)
        .cast("double")
        .alias("u2"),
        F.round((u1_half - n1d * n2d) / (2.0 * F.sqrt(var)), 4)
        .cast("double")
        .alias("z_score"),
        F.round(1.0 - u1_half / (n1d * n2d), 6)
        .cast("double")
        .alias("rank_biserial"),
    )


# ---------------------------------------------------------------------------
# Z-order layout audit: Morton-interleave 8-bit customer/day buckets,
# group the 16-bit key into 256 blocks (each a 16×16 tile by the
# Z-curve's recursive-quadrant property), emit per-block min/max
# skipping stats and the scanned verdict for a fixed quarter-domain
# box. Bucketing is pure integer floor-division off broadcast bounds.
# ---------------------------------------------------------------------------
_ZBOX = (64, 127, 64, 127)  # cust_b lo/hi, day_b lo/hi — one quadrant tile set




def _duck_morton16(a: str, b: str) -> str:
    terms = []
    for i in range(8):
        terms.append(f"(((({a}) >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"(((({b}) >> {i}) & 1) << {2 * i})")
    return " + ".join(terms)


@register(
    "ds_zorder_layout",
    f"""
    WITH bounds AS (
      SELECT MAX(o_custkey) AS maxc,
             MIN(CAST(o_orderdate AS DATE)) AS mind,
             date_diff('day', MIN(CAST(o_orderdate AS DATE)),
                       MAX(CAST(o_orderdate AS DATE))) + 1 AS span
      FROM orders
    ),
    z AS (
      SELECT (o_custkey * 256) // (maxc + 1) AS cust_b,
             (date_diff('day', mind, CAST(o_orderdate AS DATE)) * 256) // span
               AS day_b
      FROM orders, bounds
    ),
    k AS (SELECT cust_b, day_b,
                 ({_duck_morton16('cust_b', 'day_b')}) // 256 AS block_id
          FROM z)
    SELECT CAST(block_id AS INT) AS block_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(cust_b) AS INT) AS cust_min,
           CAST(MAX(cust_b) AS INT) AS cust_max,
           CAST(MIN(day_b) AS INT) AS day_min,
           CAST(MAX(day_b) AS INT) AS day_max,
           NOT (MAX(cust_b) < {_ZBOX[0]} OR MIN(cust_b) > {_ZBOX[1]}
                OR MAX(day_b) < {_ZBOX[2]} OR MIN(day_b) > {_ZBOX[3]})
             AS scanned
    FROM k GROUP BY block_id
    ORDER BY block_id
    """,
)
def ds_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    bounds = t.orders.agg(
        F.max("o_custkey").alias("maxc"),
        F.min(F.to_date("o_orderdate")).alias("mind"),
        (
            F.datediff(
                F.max(F.to_date("o_orderdate")), F.min(F.to_date("o_orderdate"))
            )
            + 1
        ).alias("span"),
    )
    z = t.orders.crossJoin(F.broadcast(bounds)).select(
        F.floor(F.col("o_custkey") * 256 / (F.col("maxc") + 1))
        .cast("int")
        .alias("cust_b"),
        F.floor(
            F.datediff(F.to_date("o_orderdate"), F.col("mind"))
            * 256
            / F.col("span")
        )
        .cast("int")
        .alias("day_b"),
    )
    k = z.withColumn(
        "block_id",
        F.floor(_morton16(F.col("cust_b"), F.col("day_b")) / 256).cast("int"),
    )
    clo, chi, dlo, dhi = _ZBOX
    return (
        k.groupBy("block_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("cust_b").cast("int").alias("cust_min"),
            F.max("cust_b").cast("int").alias("cust_max"),
            F.min("day_b").cast("int").alias("day_min"),
            F.max("day_b").cast("int").alias("day_max"),
        )
        .withColumn(
            "scanned",
            ~(
                (F.col("cust_max") < clo)
                | (F.col("cust_min") > chi)
                | (F.col("day_max") < dlo)
                | (F.col("day_min") > dhi)
            ),
        )
        .orderBy("block_id")
    )


# ---------------------------------------------------------------------------
# Corpus-unigram LM scoring: avg negative log-likelihood per token and
# a perplexity proxy per document. Per-(doc,token) counts are computed
# once and reused for the vocab TF (second-level aggregate) and the
# per-doc join-back, so the corpus is exploded exactly once. Logprobs
# are rounded to integer micro-nats before the per-doc sum (exact,
# order-independent); the avg is an exact integer division.
# ---------------------------------------------------------------------------


@register(
    "text_unigram_logprob",
    f"""
    WITH tok AS (SELECT doc_id, source, unnest({_TOKS}) AS token
                 FROM documents),
    tc AS (SELECT doc_id, source, token, COUNT(*) AS c
           FROM tok GROUP BY doc_id, source, token),
    tf AS (SELECT token, SUM(c) AS cnt FROM tc GROUP BY token),
    tot AS (SELECT SUM(cnt) AS tt FROM tf),
    wv AS (SELECT token,
                  CAST(ROUND((ln(CAST(tt AS DOUBLE)) - ln(CAST(cnt AS DOUBLE)))
                             * 1000000, 0) AS BIGINT) AS nll
           FROM tf, tot),
    d AS (SELECT doc_id, source,
                 CAST(SUM(c) AS BIGINT) AS n_tok,
                 CAST(SUM(c * nll) AS BIGINT) AS snll
          FROM tc JOIN wv USING (token) GROUP BY doc_id, source),
    r AS (SELECT doc_id, source, n_tok,
                 {duck_round_div('snll', 'n_tok * 1000000', 4)}
                   AS avg_nll_nats
          FROM d)
    SELECT doc_id, source, n_tok,
           avg_nll_nats,
           CAST(ROUND(exp(avg_nll_nats), 2) AS DOUBLE) AS ppl_proxy
    FROM r
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    tok = t.documents.select(
        "doc_id", "source", F.explode(tokens(F.col("text"))).alias("token")
    )
    tc = tok.groupBy("doc_id", "source", "token").agg(
        F.count(F.lit(1)).alias("c")
    )
    tf = tc.groupBy("token").agg(F.sum("c").alias("cnt"))
    tot = tf.agg(F.sum("cnt").alias("tt"))
    wv = tf.crossJoin(F.broadcast(tot)).select(
        "token",
        F.round(
            (F.log(F.col("tt").cast("double")) - F.log(F.col("cnt").cast("double")))
            * 1000000,
            0,
        )
        .cast("long")
        .alias("nll"),
    )
    d = (
        tc.join(wv, "token")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("c").cast("long").alias("n_tok"),
            F.sum(F.col("c") * F.col("nll")).cast("long").alias("snll"),
        )
    )
    r = d.select(
        "doc_id",
        "source",
        "n_tok",
        round_div(
            F.col("snll"), F.col("n_tok") * 1000000, "avg_nll_nats", 4
        ),
    )
    return r.select(
        "doc_id",
        "source",
        "n_tok",
        "avg_nll_nats",
        F.round(F.exp("avg_nll_nats"), 2).cast("double").alias("ppl_proxy"),
    )


# ---------------------------------------------------------------------------
# Scalar-quantized (int8) brute-force top-k: per-dim min/max bounds
# (dim-sized broadcast) -> 0..255 codes -> ranking by the dot of the
# DEQUANTIZED reconstructions x_hat_i = mn_i + q_i*(mx_i-mn_i)/255 —
# the FAISS SQ semantics. (r6 fix: ranking by the raw integer code
# dot, the r4-r5 form, is non-monotone in the true dot because of the
# per-dimension affine offsets — its top-5 overlapped the true top-5
# in 0/5 at sf0.1. Codes and reconstructions use structurally
# identical float expressions in both engines; the score rounds to
# 4 dp with a cid tie-break, the cosine doctrine.)
# ---------------------------------------------------------------------------
_SQ_QUERY_IDS = list(range(8))
_SQ_TOPK = 5


@register(
    "sim_sq8_topk",
    f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    dims AS (SELECT unnest(generate_series(1, len(embedding))) AS i, embedding
             FROM e),
    mm AS (SELECT i, MIN(CAST(embedding[i] AS DOUBLE)) AS mn,
                  MAX(CAST(embedding[i] AS DOUBLE)) AS mx
           FROM dims GROUP BY i),
    bl AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
           FROM mm),
    qz AS (
      SELECT vec_id,
             list_transform(generate_series(1, len(embedding)),
               i -> CAST(CASE WHEN mxs[i] > mns[i]
                      THEN ROUND(((CAST(embedding[i] AS DOUBLE) - mns[i])
                                  * 255.0) / (mxs[i] - mns[i]), 0)
                      ELSE 0 END AS INT)) AS q
      FROM e, bl
    ),
    xr AS (
      SELECT vec_id,
             list_transform(generate_series(1, len(q)),
               i -> mns[i] + CAST(q[i] AS DOUBLE) * (mxs[i] - mns[i])
                    / 255.0) AS xr
      FROM qz, bl
    ),
    p AS (
      SELECT a.vec_id AS qid, b.vec_id AS cid,
             CAST(ROUND(list_sum(list_transform(
                    generate_series(1, len(a.xr)),
                    i -> a.xr[i] * b.xr[i])), 4) AS DOUBLE) AS score_sq8
      FROM xr a JOIN xr b ON b.vec_id <> a.vec_id
      WHERE a.vec_id IN ({", ".join(map(str, _SQ_QUERY_IDS))})
    ),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                       ORDER BY score_sq8 DESC, cid) AS rn
          FROM p)
    SELECT qid, cid, score_sq8, CAST(rn AS INT) AS rank
    FROM r WHERE rn <= {_SQ_TOPK}
    """,
)
def sim_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # core op: operators/similarity.py::sq8_topk (shared with
    # tools/ann_bench.py so the quality table and the corpus entry
    # exercise the same code)
    t = load_tables(spark, sf_dir)
    return S.sq8_topk(t.embeddings, _SQ_QUERY_IDS, k=_SQ_TOPK)


# ---------------------------------------------------------------------------
# PageRank centrality over the near-dup similarity graph: the "best
# keeper" selector — within a duplicate neighborhood the most central
# copy (highest similarity-graph PageRank) is the representative to
# retain. Iterative power method (operators/graph.py::pagerank) with
# the same parquet ping-pong lineage cut as connected_components.
# ORACLE-CHECKED (was rows-only through r4): `tol=0.0` pins the loop
# at exactly 12 power iterations — a deterministic computation DuckDB
# reproduces with a fixed-depth RECURSIVE CTE over the identical
# (oracled) near-dup edge set. The symmetric similarity graph has no
# dangling nodes, so the teleport term is the constant (1−d); ranks
# are compared (and ORDERED — both engines rank by the ROUNDED value,
# ties by node id) at 4 dp, coarse enough to absorb float-summation
# order across engines. tests/test_graph_pagerank.py still pins the
# operator-level semantics (uniform-on-cliques, sum conservation,
# in-link ordering, dangling teleport).
# ---------------------------------------------------------------------------
_PR_ITERS = 12
_PR_DAMP = 0.85


def _pagerank_oracle() -> str:
    return f"""
    WITH RECURSIVE {_tri_edges_sql().strip().lstrip()},
    sym AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
    deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
    pr(iter, node, rank) AS (
      SELECT 0, u, CAST(1.0 AS DOUBLE) FROM deg
      UNION ALL
      SELECT pr.iter + 1, sym.v,
             {1.0 - _PR_DAMP} + {_PR_DAMP} * SUM(pr.rank / deg.d)
      FROM pr JOIN sym ON sym.u = pr.node JOIN deg ON deg.u = pr.node
      WHERE pr.iter < {_PR_ITERS}
      GROUP BY pr.iter, sym.v
    ),
    fin AS (SELECT node, rank FROM pr WHERE iter = {_PR_ITERS}),
    lab AS (
      SELECT emb.label, fin.node, ROUND(fin.rank, 4) AS r4
      FROM embeddings emb JOIN fin ON emb.vec_id = fin.node
    ),
    rk AS (
      SELECT label, node, r4,
             ROW_NUMBER() OVER (PARTITION BY label ORDER BY r4 DESC, node)
               AS pos
      FROM lab
    )
    SELECT label, CAST(node AS BIGINT) AS vec_id,
           CAST(r4 AS DOUBLE) AS rank, CAST(pos AS INT) AS pos
    FROM rk WHERE pos <= 3 ORDER BY label, pos
    """


@register("g_pagerank_centrality", _pagerank_oracle())
def g_pagerank_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    t = load_tables(spark, sf_dir)
    e = S.embedding_near_dup_pairs(t.embeddings, threshold=_TRI_T).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    )
    # undirected similarity graph → symmetric directed edges, via a
    # 2-element explode so the all-pairs cosine scan runs ONCE (the
    # union form evaluated it once per branch)
    sym = e.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("a").alias("src"), F.col("b").alias("dst")
                ),
                F.struct(
                    F.col("b").alias("src"), F.col("a").alias("dst")
                ),
            )
        ).alias("ed")
    ).select("ed.src", "ed.dst")
    # tol=0.0: exactly _PR_ITERS iterations, the oracle's fixed depth
    pr = pagerank(sym, damping=_PR_DAMP, max_iter=_PR_ITERS, tol=0.0)
    lab = t.embeddings.select(
        F.col("vec_id").alias("node"), "label"
    )
    return (
        pr.join(lab, "node")
        .withColumn("r4", F.round("rank", 4))
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("label").orderBy(F.desc("r4"), "node")
            ),
        )
        .filter(F.col("pos") <= 3)
        .select(
            "label",
            F.col("node").alias("vec_id"),
            F.col("r4").cast("double").alias("rank"),
            F.col("pos").cast("int").alias("pos"),
        )
        .orderBy("label", "pos")
    )


# ---------------------------------------------------------------------------
# Trained coarse quantizer: distributed Lloyd's k-means over the
# embedding corpus (operators/clustering.py) — the real version of the
# label stand-in the IVF/near-dup blocks use. The trained-float
# iterate itself is not SQL-expressible (float summation order drifts
# centroids across engines), but its RESULT obeys cross-engine
# invariants the oracle pins (r5 verdict #3, same doctrine as the
# a2b tolerance verdicts and the PageRank tol=0 oracle):
#   - every corpus vector is assigned to exactly one cell
#     (n_assigned = the oracle's own COUNT(*) over the parquet)
#   - all 8 cells are non-empty on this blob corpus
#   - total inertia < total sum-of-squares around the GLOBAL mean
#     (a k=8 Lloyd's partition beats the k=1 trivial clustering;
#     SS_total is computed Spark-side from the raw embeddings,
#     independent of the clustering, via SS = sum||x||^2 - ||sum x||^2/n)
# Per-cluster dispersion detail stays pytest-pinned
# (tests/test_clustering.py: blob recovery, inertia monotonicity,
# nearest-centroid consistency, partition invariance).
# ---------------------------------------------------------------------------


@register(
    "ml_kmeans_summary",
    """
    SELECT CAST(8 AS INT) AS n_clusters,
           CAST(COUNT(*) AS BIGINT) AS n_assigned,
           TRUE AS all_cells_nonempty,
           TRUE AS inertia_under_global_ss,
           TRUE AS n_iters_in_range
    FROM embeddings
    """,
)
def ml_kmeans_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import assign, kmeans
    from ..operators.scale import hash_sample

    t = load_tables(spark, sf_dir)
    # FAISS-style quantizer training: Lloyd's on a ~25% content-hash
    # sample (deterministic, replay-safe), then ONE full-corpus
    # assignment pass — iteration cost is sample-sized at any SF
    sample = hash_sample(t.embeddings, "vec_id", pct=25, salt="km")
    _, centroids, history = kmeans(sample, k=8, max_iter=4)
    assigned = assign(t.embeddings, centroids)
    summary = assigned.agg(
        F.countDistinct("cid").alias("n_clusters"),
        F.count(F.lit(1)).cast("long").alias("n_assigned"),
        F.sum("dist").alias("inertia"),
    )
    # SS around the global mean, from the raw embeddings only:
    # SS = sum||x||^2 - sum_d (S_d^2) / n  with S_d = sum of dim d
    dims = t.embeddings.select(
        F.posexplode("embedding").alias("d", "x")
    )
    ss = (
        dims.groupBy("d")
        .agg(
            F.sum(F.col("x") * F.col("x")).alias("sq"),
            F.sum("x").alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .agg(
            (
                F.sum("sq") - F.sum(F.col("s") * F.col("s") / F.col("n"))
            ).alias("global_ss")
        )
    )
    return summary.crossJoin(F.broadcast(ss)).select(
        F.col("n_clusters").cast("int").alias("n_clusters"),
        "n_assigned",
        (F.col("n_clusters") == 8).alias("all_cells_nonempty"),
        (F.col("inertia") < F.col("global_ss")).alias(
            "inertia_under_global_ss"
        ),
        # len(history) is an incidental implementation value, not a
        # cross-engine invariant: kmeans(max_iter=4, tol=1e-6) may
        # early-stop in 2-3 rounds on fast-converging data, so the
        # oracle pins only the RANGE verdict (1..max_iter); the exact
        # trajectory stays pytest-pinned (tests/test_clustering.py).
        F.lit(1 <= len(history) <= 4).alias("n_iters_in_range"),
    )


# ---------------------------------------------------------------------------
# Product-quantized ANN: m-byte codes (32× smaller than the float
# vectors) + asymmetric-distance scoring via per-query lookup tables.
# Codebooks are trained by the sampled in-memory Lloyd's (FAISS's own
# training shape); encoding and scoring are pure Catalyst HOFs over a
# broadcast codebook row. The trained-float shortlist routing is not
# SQL-expressible, but the RESULT obeys cross-engine invariants the
# oracle pins (r6 verdict #6, the k-means doctrine — rows-only
# through r6):
#   - every query returns exactly k neighbors with well-formed ranks
#   - `true_kth_l2`: the exact k-th-best squared-L2 over the corpus,
#     recomputed brute-force on BOTH sides (Spark HOFs vs DuckDB
#     list_sum, identical fold order) — a genuine value equality
#   - `within_slack`: the worst returned neighbor's EXACT distance is
#     within _PQ_SLACK× the true k-th best — the quality contract an
#     ANN route promises, with slack covering quantization error
#     (measured worst ratio on all test SFs ≤ 1.07; see
#     tests/test_pq.py for the recall pins)
# The per-neighbor list itself stays pytest-pinned (tests/test_pq.py).
# ---------------------------------------------------------------------------
_PQ_SLACK = 1.25


def _pq_index(spark: SparkSession, sf_dir: str, t) -> tuple[list, DataFrame]:
    """The trained PQ index (codebooks + encoded codes + flat vectors,
    what FAISS persists), built once per (session, corpus) and shared
    by sim_pq_topk and sim_ivfpq_topk. Returns the codebooks and the
    parquet-backed (vec_id, code, embedding, label, cell) frame."""

    def _build() -> tuple[list, DataFrame]:
        books = S.train_pq_codebooks(t.embeddings, m=16, ksub=32)
        path = scratch_dir(spark, "pq_codes_m16_k32_")
        # the index stores codes AND the flat vectors (FAISS's
        # IndexRefineFlat keeps both: codes for the compressed scan,
        # flat vectors for the refine re-rank) AND the coarse-cell id
        # (the IVF posting-list key sim_ivfpq_topk restricts its scan
        # with) — one scan serves every query path
        # rebalance before the write (guide §6): without it the file
        # count inherits the SOURCE scan's partitioning (32 ~40 KB
        # files at sf0.1) and every steady-state ANN query pays a
        # 32-task stage per artifact scan; the AQE rebalance sizes
        # files by data volume (advisoryPartitionSizeInBytes), so the
        # artifact stays one file at test SFs and grows file count
        # with the corpus.
        (
            S.pq_encode(t.embeddings, books)
            .join(
                t.embeddings.select("vec_id", "embedding", "label"),
                "vec_id",
            )
            .hint("rebalance")
            .write.mode("overwrite")
            .parquet(path)
        )
        # coverage assertion: the audit's true-kth pass reads the
        # INDEX, so a row silently dropped during encode/join would
        # vanish from both the result and the oracle it is audited
        # against (r9 ADVICE). Pin the index to the source corpus
        # row-for-row at build time — one cheap count per (session,
        # corpus).
        idx = spark.read.parquet(path)
        n_idx = idx.count()
        n_src = t.embeddings.count()
        if n_idx != n_src:
            raise RuntimeError(
                f"PQ index dropped rows: {n_idx} indexed vs {n_src} "
                f"source embeddings — true-kth audit would be blind to "
                f"the loss"
            )
        return books, idx

    return memo(
        spark, "pq-index-m16-k32", sf_dir, _build, [table_path(sf_dir, "embeddings")]
    )


def _pq_audit(cand: DataFrame, census: bool = False) -> DataFrame:
    """Fused audit of a refined PQ route — a 10·k ADC shortlist
    exact-re-ranked to k = _SQ_TOPK — over ONE candidate expansion
    `cand` (qid, cid, dist = ADC, l2 = exact, [label]). All rankings
    share the qid partitioning, so they ride one exchange: the ADC
    shortlist (`rn_a`), the exact ranking for the true k-th (`rn_e`),
    and the refine re-rank as a subset-first window (shortlist rows
    order before the rest, so their row_numbers ARE the subset
    ranking). One aggregation per qid then yields the returned-set
    stats and the true k-th: no join, no persist.

    `census=True` (a routed route) also reports the probed cells and
    the candidate count, and takes the k-th at min(k, #candidates).
    Queries without a k-th candidate are dropped."""
    by = Window.partitionBy("qid")
    base = cand.withColumn(
        "rn_a", F.row_number().over(by.orderBy("dist", "cid"))
    ).withColumn("rn_e", F.row_number().over(by.orderBy("l2", "cid")))
    kth_rank, census_cols, census_out = F.lit(_SQ_TOPK), [], []
    if census:
        base = base.withColumn("n_cand", F.count(F.lit(1)).over(by))
        kth_rank = F.least(F.lit(_SQ_TOPK), F.col("n_cand"))
        census_cols = [
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_set("label")),
                    lambda c: c.cast("string"),
                ),
            ).alias("probed_cells"),
            F.max("n_cand").alias("n_cand"),
        ]
        census_out = [
            "probed_cells", F.col("n_cand").cast("long").alias("n_candidates")
        ]
    shortlisted = F.col("rn_a") <= 10 * _SQ_TOPK
    base = base.withColumn(
        "rank",
        F.row_number().over(
            by.orderBy((~shortlisted).cast("int"), F.round("l2", 6), "cid")
        ),
    )
    in_res = shortlisted & (F.col("rank") <= _SQ_TOPK)
    ranks = F.when(in_res, F.col("rank"))
    return (
        base.groupBy("qid")
        .agg(
            *census_cols,
            F.min(F.when(F.col("rn_e") == kth_rank, F.col("l2"))).alias("kth_l2"),
            F.sum(in_res.cast("int")).cast("int").alias("n_returned"),
            # refine re-ranks with exact L2, so the returned distance IS exact
            F.max(F.when(in_res, F.round("l2", 6))).alias("worst_returned_l2"),
            (
                (F.min(ranks) == 1)
                & (F.countDistinct(ranks) == F.sum(in_res.cast("int")))
            ).alias("ranks_wellformed"),
        )
        .filter(F.col("kth_l2").isNotNull())
        .select(
            "qid",
            *census_out,
            "n_returned",
            F.round("kth_l2", 4).cast("double").alias("true_kth_l2"),
            "ranks_wellformed",
            (
                F.col("worst_returned_l2") <= F.col("kth_l2") * _PQ_SLACK + 1e-6
            ).alias("within_slack"),
        )
        .orderBy("qid")
    )


def _pq_l2_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, len({a})),"
        f" i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
        f" * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))))"
    )


@register(
    "sim_pq_topk",
    f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
               WHERE vec_id IN ({", ".join(map(str, _SQ_QUERY_IDS))})),
    p AS (
      SELECT qid, b.vec_id AS cid,
             {_pq_l2_sql('qe', 'b.embedding')} AS l2
      FROM q JOIN embeddings b ON b.vec_id <> qid
    ),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                       ORDER BY l2, cid) AS rn
          FROM p)
    SELECT qid, CAST({_SQ_TOPK} AS INT) AS n_returned,
           CAST(ROUND(l2, 4) AS DOUBLE) AS true_kth_l2,
           TRUE AS ranks_wellformed,
           TRUE AS within_slack
    FROM r WHERE rn = {_SQ_TOPK} ORDER BY qid
    """,
)
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    # m=16 4-dim subspaces × 32 centroids (16× compression) with a
    # refine=10k compressed-scan shortlist exact-re-ranked to k — the
    # IndexRefineFlat shape (near-dup-heavy corpora tie in code space;
    # the full-precision pass resolves them). Measured recall@5 vs
    # exact L2 at sf0.001: 0.93. The INDEX — deterministic codebooks
    # plus the encoded (vec_id, code) table, what FAISS persists — is
    # built once per (session, corpus) and served from the trained-
    # artifact cache afterwards, so what a bench re-run measures is the
    # QUERY path. The same artifact serves sim_ivfpq_topk
    # (by_residual=False keeps the codebooks corpus-global).
    books, idx = _pq_index(spark, sf_dir, t)
    # Fused audit: the ADC shortlist, the refine re-rank AND the
    # brute-force true-kth audit all consume ONE |Q|·N candidate
    # expansion (`_pq_audit`). The exact column is computed per
    # candidate anyway for the audit's independent true-kth, so the
    # fusion adds no work. A production serving path (no audit) scans
    # codes only — that path is `S.pq_topk`, tested in tests/test_pq.py.
    qdf = S.pq_query_luts(t.embeddings, books, _SQ_QUERY_IDS)
    cand = S._adc_scan(qdf, idx, "vec_id", S._l2("qv", "embedding").alias("l2"))
    return _pq_audit(cand)


# ---------------------------------------------------------------------------
# Composed IVF-PQ ANN (FAISS IndexIVFPQ, by_residual=False): coarse
# cell routing bounds the scan, PQ codes bound the bytes, exact refine
# restores precision — the full production index, audited per query.
# Unlike sim_ivf_topk (whose oracle sidesteps routing with nprobe=all)
# and sim_pq_topk (whose oracle is the unrestricted corpus), THIS
# oracle recomputes the ROUTING itself: cell centroids are plain
# per-(cell, dim) averages, so DuckDB rebuilds them, ranks cells by
# ROUND(L2(query, centroid), 6) — rounding absorbs float summation
# order, ties break on cell id — and derives the same probe set, the
# same candidate census, and the exact in-probe k-th distance. The
# audit columns are: the probe set itself (sorted cell list), the
# candidate count, counts/well-formedness of the returned ranks, and
# the slack verdict on the worst returned EXACT distance vs the true
# in-probe k-th. Per-neighbor rows stay pytest-pinned
# (tests/test_pq.py::test_ivfpq_*).
#
# r11: the routing depth is DERIVED per corpus by `auto_ivf_nprobe`
# (the fixed nprobe=2 of r10 served recall@5 0.25 at sf0.1 — routing
# capped on the diffuse profile). The literal below is the FROZEN
# output of the derivation at the oracle SF (sf0.01, 10 cells, p25
# routing recall ≥ 0.85 first reached at nprobe=9), baked into the
# oracle SQL the same way sim_lsh_auto_topk freezes its derived
# (planes, nprobe): if the tuner, the sampler, or the corpus ever
# moves the knob, the gate surfaces it as a hash mismatch (and
# tests/test_pq.py::test_auto_ivf_frozen_nprobe as a pytest failure),
# never a silent recall collapse.
# ---------------------------------------------------------------------------
_IVFPQ_NPROBE = 9


def _ivfpq_oracle() -> str:
    ids = ", ".join(map(str, _SQ_QUERY_IDS))
    return f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
               WHERE vec_id IN ({ids})),
    xp AS (SELECT label AS cell, unnest(embedding) AS x,
                  unnest(generate_series(1, len(embedding))) AS pos
           FROM embeddings),
    cent AS (SELECT cell, pos, AVG(CAST(x AS DOUBLE)) AS mu
             FROM xp GROUP BY cell, pos),
    route AS (
      SELECT q.qid, cent.cell,
             ROUND(SUM((CAST(qe[pos] AS DOUBLE) - mu)
                       * (CAST(qe[pos] AS DOUBLE) - mu)), 6) AS cd
      FROM q JOIN cent ON TRUE GROUP BY q.qid, cent.cell
    ),
    rr AS (SELECT qid, cell,
                  ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY cd, cell) AS cr
           FROM route),
    probe AS (SELECT qid, cell FROM rr WHERE cr <= {_IVFPQ_NPROBE}),
    pc AS (SELECT qid,
                  array_to_string(list_sort(list(cell)), ',')
                    AS probed_cells
           FROM probe GROUP BY qid),
    cand AS (
      SELECT p.qid, e.vec_id AS cid,
             {_pq_l2_sql('q.qe', 'e.embedding')} AS l2
      FROM probe p
      JOIN q ON q.qid = p.qid
      JOIN embeddings e ON e.label = p.cell AND e.vec_id <> p.qid
    ),
    r AS (SELECT qid, cid, l2,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY l2, cid) AS rn,
                 COUNT(*) OVER (PARTITION BY qid) AS n_cand
          FROM cand)
    SELECT r.qid, pc.probed_cells,
           CAST(r.n_cand AS BIGINT) AS n_candidates,
           CAST(LEAST({_SQ_TOPK}, r.n_cand) AS INT) AS n_returned,
           CAST(ROUND(r.l2, 4) AS DOUBLE) AS true_kth_l2,
           TRUE AS ranks_wellformed,
           TRUE AS within_slack
    FROM r JOIN pc ON pc.qid = r.qid
    WHERE r.rn = LEAST({_SQ_TOPK}, r.n_cand)
    ORDER BY r.qid
    """


def _ivf_centroids_frame(spark: SparkSession, sf_dir: str, t) -> DataFrame:
    """The coarse quantizer's centroids as a LITERAL frame, trained
    once per (session, corpus) and re-materialized per invocation —
    the serve-don't-rebuild lifecycle shared by every IVF query path
    (sim_ivfpq_topk, sim_ivf_topk, sim_ivf_range_search[_routed]):
    without it each invocation re-ran label_centroids' posexplode +
    two aggregations over the corpus (r14, guide §2.4)."""
    from ..operators.similarity import label_centroids

    cent_rows = memo(
        spark,
        "ivf-centroids",
        sf_dir,
        lambda: [
            (int(r["cell"]), [float(x) for x in r["centroid"]])
            for r in label_centroids(t.embeddings).collect()
        ],
        [table_path(sf_dir, "embeddings")],
    )
    return literal_frame(spark, cent_rows, "cell int, centroid array<double>")


@register("sim_ivfpq_topk", _ivfpq_oracle())
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    # the SAME trained PQ index artifact as sim_pq_topk (codebooks +
    # encoded codes + flat vectors + cell ids, built once per
    # (session, corpus)): by_residual=False keeps the codebooks
    # corpus-global, so the two routes genuinely share one index — the
    # FAISS deployment shape
    books, idx = _pq_index(spark, sf_dir, t)
    # the coarse quantizer's centroids are trained once per (session,
    # corpus) too (serve-don't-rebuild): ≤#cells rows collected at
    # build, re-materialized as a literal frame per invocation
    cents = _ivf_centroids_frame(spark, sf_dir, t)
    # routing depth: derived once per (session, corpus) — the same
    # serve-don't-rebuild lifecycle as the codebooks/centroids. At the
    # oracle SF the derivation lands on _IVFPQ_NPROBE (frozen above,
    # pinned by test_auto_ivf_frozen_nprobe), keeping the static
    # oracle SQL and the runtime route on the same probe set.
    nprobe = memo(
        spark,
        "ivfpq-nprobe",
        sf_dir,
        lambda: S.auto_ivf_nprobe(t.embeddings, k=_SQ_TOPK, metric="l2"),
        [table_path(sf_dir, "embeddings")],
    )
    q = S._queries(t.embeddings, _SQ_QUERY_IDS, "vec_id", "embedding")
    qdf = S.pq_query_luts(t.embeddings, books, _SQ_QUERY_IDS)
    # ONE candidate expansion restricted to the probed cells serves
    # the ADC shortlist, the refine re-rank, AND the true-kth audit
    cand = S._adc_scan(
        qdf, idx, "vec_id", "label", S._l2("qv", "embedding").alias("l2"),
        probe=S._route(q, cents, "l2", nprobe),
    )
    return _pq_audit(cand, census=True)


# ---------------------------------------------------------------------------
# Near-duplicate pairs inside TRAINED quantizer cells — the composition
# embedding_near_dup_pairs documents ("at scale a trained k-means
# assignment"): train the coarse quantizer on a content-hash sample,
# assign every vector a cell, and pair only within cells. Cell
# boundaries come from float centroids (iterative training), so the
# PAIR SET is deterministic but not SQL-derivable — rows-only through
# r6. The r7 corpus entry reports the AUDIT SUMMARY instead, whose
# columns ARE cross-engine checkable (the k-means doctrine):
#   - n_vectors / n_assigned: the oracle's own COUNT(*) — assignment
#     covers the corpus exactly once
#   - k_requested: the data-adaptive cell-count formula
#     max(8, n // 640), recomputed by the oracle from its COUNT —
#     pins the FAISS-nlist scaling contract itself
#   - n_label_pairs: the label-blocked threshold pair count, an
#     INDEPENDENT pair computation both engines run exactly (the
#     dedup_embedding_cosine edge set) — genuine value equality
#   - all_pairs_above_threshold / label_recall_ok: every emitted
#     cell pair clears the cosine threshold, and the cell blocking
#     recaptures ≥ _SEM_RECALL_FLOOR of the label-blocked pair set.
#     The floor is deliberately low (0.2): at this corpus's weak
#     similarity profile (label pairs sit at cos 0.35–0.6, no planted
#     near-identical vectors — see testdata notes) trained cells and
#     labels are genuinely DIFFERENT blockings, and the measured
#     recapture is 0.28–0.5 across test SFs; true near-dups
#     (cos ≥ 0.9) share a cell by construction (identical distances →
#     identical argmin), which tests pin on hand data. The verdict
#     exists to catch catastrophic regressions (cells collapsing →
#     recapture ~0), not to promise cross-blocking equivalence.
# The pair list itself stays pytest-pinned
# (tests/test_clustering.py::test_semantic_blocks_*).
#
# Scale posture note: the PRODUCTION pipeline here is the adaptive-
# cell pair set (k = max(8, n/640) keeps per-cell pair work bounded —
# the r6 probe measured it 4.7x for 10x data). The AUDIT columns'
# label-blocked reference pair set is fixed-cardinality blocking —
# intentionally the quadratic baseline the trained cells fix — so the
# probe ratio of THIS corpus entry tracks the audit's reference
# computation, not the operator (r7 probe ~12x; the instrumentation,
# not the product, is the quadratic part).
# ---------------------------------------------------------------------------
_SEM_RECALL_FLOOR = 0.2


def semantic_block_pairs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, int, int]:
    """The trained-cell near-dup pair frame (id_a, id_b, cid,
    cos_sim), the (vec_id, cid) assignment frame, and (n_vectors,
    k_cells) — shared by the audit query below and the pytest pins of
    the pair-level semantics."""
    from ..operators.clustering import assign, kmeans
    from ..operators.scale import hash_sample

    t = load_tables(spark, sf_dir)
    # DATA-ADAPTIVE cell count (r6): k grows with the corpus so the
    # per-cell population — and with it the quadratic in-cell pair
    # work — stays bounded (~640 vectors/cell), the FAISS nlist
    # doctrine. A constant k is the fixed-cardinality-block trap the
    # r6 sf1 probe measured at 27.7x for 10x data; unlike hash
    # sub-blocking, trained cells are data-adaptive, so raising k
    # genuinely splits the population (Lloyd's partitions each dense
    # region spatially) while true near-dups still land in one cell
    # (identical/near-identical vectors -> identical/near distances ->
    # same argmin). Boundary pairs are the standard IVF recall
    # tradeoff (production adds soft multi-assignment).
    n = t.embeddings.count()
    k_cells = max(8, n // 640)
    sample = hash_sample(t.embeddings, "vec_id", pct=25, salt="km")
    _, centroids, _ = kmeans(sample, k=k_cells, max_iter=4)
    cells = assign(t.embeddings, centroids).select("vec_id", "cid")
    blocked = t.embeddings.join(cells, "vec_id")
    return (
        S.embedding_near_dup_pairs(
            blocked, threshold=_TRI_T, block_col="cid"
        ),
        cells,
        n,
        k_cells,
    )


@register(
    "dedup_semantic_blocks",
    f"""
    WITH {_tri_edges_sql().strip().lstrip()}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_label_pairs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_vectors,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_assigned,
           (SELECT CAST(GREATEST(8, COUNT(*) // 640) AS INT)
            FROM embeddings) AS k_requested,
           TRUE AS all_pairs_above_threshold,
           TRUE AS label_recall_ok
    FROM e
    """,
)
def dedup_semantic_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import assign, kmeans
    from ..operators.scale import hash_sample

    t = load_tables(spark, sf_dir)
    n = t.embeddings.count()
    k_cells = max(8, n // 640)

    def _train():
        sample = hash_sample(t.embeddings, "vec_id", pct=25, salt="km")
        return kmeans(sample, k=k_cells, max_iter=4)[1]

    centroids = memo(
        spark, f"km-cells-{k_cells}", sf_dir, _train, [table_path(sf_dir, "embeddings")]
    )
    # persist: the assignment is consumed by the coverage count AND
    # (twice) by the recapture join below — one map-side evaluation of
    # the broadcast-centroid argmin, three cache reads
    cells = track_persist(
        assign(t.embeddings, centroids).select("vec_id", "cid")
    )
    n_assigned = cells.count()  # one assignment row per vector
    # ONE label-blocked pair pass (the oracle's exact edge set) plus a
    # broadcast join of the cell ids onto both pair ends: a label pair
    # is recaptured by the cell blocking IFF its ends share a cell —
    # the cell pass would emit exactly those pairs (the cosine already
    # clears the threshold), so this computes the same recapture count
    # as materializing the cell pair set, at half the pair work and
    # without the pair-keyed dedup exchange.
    lbl = S.embedding_near_dup_pairs(t.embeddings, threshold=_TRI_T)
    ca = cells.select(
        F.col("vec_id").alias("id_a"), F.col("cid").alias("cid_a")
    )
    cb2 = cells.select(
        F.col("vec_id").alias("id_b"), F.col("cid").alias("cid_b")
    )
    stats = (
        lbl.join(F.broadcast(ca), "id_a")
        .join(F.broadcast(cb2), "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_label_pairs"),
            F.sum(
                (F.col("cid_a") == F.col("cid_b")).cast("long")
            ).alias("n_recaptured"),
            F.min("cos_sim").alias("min_lbl_cos"),
        )
        .collect()[0]
    )
    n_label_pairs = int(stats["n_label_pairs"] or 0)
    n_recaptured = int(stats["n_recaptured"] or 0)
    min_cos = stats["min_lbl_cos"]
    all_above = bool(min_cos is None or min_cos >= _TRI_T)
    recall_ok = bool(
        n_label_pairs == 0
        or n_recaptured >= _SEM_RECALL_FLOOR * n_label_pairs
    )
    return literal_frame(
        spark,
        [
            (
                n_label_pairs,
                n,
                n_assigned,
                k_cells,
                all_above,
                recall_ok,
            )
        ],
        "n_label_pairs long, n_vectors long, n_assigned long, "
        "k_requested int, all_pairs_above_threshold boolean, "
        "label_recall_ok boolean",
    )


# ---------------------------------------------------------------------------
# Dense near-duplicate regions: the k-core of the thresholded cosine
# graph — nodes that keep ≥ k similar neighbors after cascading
# removal (the template-farm / spam-ring shape; a pair or small chain
# is normal duplication, a surviving core is systematic). The graph
# thresholds at 0.25 — looser than the near-dup pair cut (0.35, which
# on this corpus yields a near-perfect matching: no cycles at all) —
# and k=2 keeps exactly the nodes on similarity cycles. Iterative
# peel (operators/graph.py::kcore, adaptive driver/distributed).
# ORACLE-CHECKED (was rows-only through r4): DuckDB reproduces the
# peel with an edge-set recursive CTE — each round keeps the edges
# whose BOTH endpoints hold degree >= k, with degrees computed by
# window counts over the round's own edge set (one recursive
# reference, standard-SQL-legal). Peeling is idempotent at the
# fixpoint, so a generous fixed depth equals the exact k-core; Spark
# raises if ITS peel hasn't converged within the same bound, so both
# engines certify the same fixpoint. Tests still pin peel semantics
# and the forced-distributed equivalence.
# ---------------------------------------------------------------------------
_KCORE_T = 0.25
_KCORE_K = 2
_KCORE_ROUNDS = 40


def _kcore_oracle() -> str:
    return f"""
    WITH RECURSIVE {_tri_edges_sql(_KCORE_T).strip().lstrip()},
    sym AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
    ealive(iter, u, v) AS (
      SELECT 0, u, v FROM sym
      UNION ALL
      SELECT iter + 1, u, v FROM (
        SELECT iter, u, v,
               COUNT(*) OVER (PARTITION BY u) AS du,
               COUNT(*) OVER (PARTITION BY v) AS dv
        FROM ealive WHERE iter < {_KCORE_ROUNDS}
      ) WHERE du >= {_KCORE_K} AND dv >= {_KCORE_K}
    ),
    core AS (
      SELECT u AS node, COUNT(*) AS core_degree
      FROM ealive WHERE iter = {_KCORE_ROUNDS} GROUP BY u
    )
    SELECT emb.label,
           CAST(COUNT(*) AS BIGINT) AS n_core_nodes,
           CAST(MIN(core.core_degree) AS BIGINT) AS min_core_degree,
           CAST(MAX(core.core_degree) AS BIGINT) AS max_core_degree
    FROM core JOIN embeddings emb ON emb.vec_id = core.node
    GROUP BY emb.label ORDER BY emb.label
    """


@register("g_kcore_dense_region", _kcore_oracle())
def g_kcore_dense_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import kcore

    t = load_tables(spark, sf_dir)
    e = S.embedding_near_dup_pairs(t.embeddings, threshold=_KCORE_T).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    # max_iter aligned with the oracle's fixed recursion depth: if the
    # peel ever needed more rounds, Spark raises rather than letting
    # the two engines certify different fixpoints
    core = kcore(e, k=_KCORE_K, max_iter=_KCORE_ROUNDS)
    lab = t.embeddings.select(F.col("vec_id").alias("node"), "label")
    return (
        core.join(lab, "node")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_core_nodes"),
            F.min("core_degree").cast("long").alias("min_core_degree"),
            F.max("core_degree").cast("long").alias("max_core_degree"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Bounded-degree kNN similarity graph — the SCALABLE graph-construction
# contract the threshold-graph scale note points at: each node keeps
# its k highest-cosine neighbors (deterministic ties cos DESC, dst),
# so the graph has at most N*k edges at ANY corpus size and every
# downstream analytic over it is linear. The summary reports, per
# label: node/edge counts, MUTUAL edges (i and j each in the other's
# top-k — the strong-link criterion kNN-graph pipelines cluster on),
# and the mean kept-neighbor cosine as an exact rational over integer
# 1e-4 cosine units (float AVG would be summation-order-dependent
# across engines).
# ---------------------------------------------------------------------------
_KNNG_K = 5


def _knng_oracle() -> str:
    cos = (
        f"CAST(ROUND({_tri_dot('a.embedding', 'b.embedding')} /"
        f" (sqrt({_tri_dot('a.embedding', 'a.embedding')}) *"
        f" sqrt({_tri_dot('b.embedding', 'b.embedding')})), 4) AS DOUBLE)"
    )
    return f"""
    WITH prs AS (
      SELECT a.label, a.vec_id AS src, b.vec_id AS dst, {cos} AS cos_sim
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id <> b.vec_id
    ),
    g AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY src
                                       ORDER BY cos_sim DESC, dst) AS rn
          FROM prs),
    e AS (SELECT label, src, dst, cos_sim FROM g WHERE rn <= {_KNNG_K}),
    m AS (
      SELECT e1.label, COUNT(*) AS n_mutual
      FROM e e1 JOIN e e2 ON e1.src = e2.dst AND e1.dst = e2.src
      WHERE e1.src < e1.dst
      GROUP BY e1.label
    ),
    base AS (
      SELECT label, COUNT(DISTINCT src) AS n_nodes, COUNT(*) AS n_edges,
             SUM(CAST(ROUND(cos_sim * 10000, 0) AS BIGINT)) AS units
      FROM e GROUP BY label
    )
    SELECT base.label,
           CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_edges AS BIGINT) AS n_edges,
           CAST(COALESCE(n_mutual, 0) AS BIGINT) AS n_mutual,
           {duck_round_div('units', 'n_edges * 10000', 4)} AS avg_cos
    FROM base LEFT JOIN m ON m.label = base.label
    ORDER BY base.label
    """


@register("g_knn_graph", _knng_oracle())
def g_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    g = S.knn_graph(t.embeddings, k=_KNNG_K)
    g = track_persist(g)  # feeds the per-label agg + mutuality agg
    # mutual count WITHOUT a self-join: directed kNN edges are unique,
    # so an unordered pair groups to count 2 exactly when both
    # directions exist (both rows carry the same label — edges stay
    # within a block)
    mut = (
        g.select(
            "label",
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .groupBy("label", "a", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") == 2)
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_mutual"))
    )
    base = g.groupBy("label").agg(
        F.countDistinct("src").cast("long").alias("n_nodes"),
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.sum(
            F.round(F.col("cos_sim") * 10000, 0).cast("long")
        ).alias("units"),
    )
    return (
        base.join(mut, "label", "left")
        .select(
            "label",
            "n_nodes",
            "n_edges",
            F.coalesce("n_mutual", F.lit(0)).cast("long").alias("n_mutual"),
            round_div(
                F.col("units"), F.col("n_edges") * 10000, "avg_cos", 4
            ),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Graph analytics over the BOUNDED-DEGREE kNN graph — the scale-safe
# composition the r6 scale note prescribes (threshold graphs over
# near-dup clusters carry O(M²) true edges; the kNN graph carries at
# most N·k at ANY corpus size, so PageRank/k-core stay linear at
# 100 TB). These are the rows you would actually run at 100×; the
# threshold-graph variants above keep their documented ceiling as the
# exact-semantics references.
#
# g_pagerank_knn: PageRank over the UNION-symmetrized kNN graph
# (W = max(A, Aᵀ), the standard spectral/UMAP symmetrization — an
# edge survives if EITHER endpoint keeps the other in its top-k).
# Symmetric ⇒ no dangling nodes and no zero-in-degree nodes, so the
# fixed-depth recursive-CTE oracle (teleport = 1−d, same shape as
# _pagerank_oracle) keeps every node, and the Spark loop rides the r7
# batched fixed-iteration path (tol=0, zero per-round driver jobs).
#
# g_kcore_knn: k-core of the MUTUAL kNN graph (A ∧ Aᵀ — both
# endpoints keep each other, the strong-link criterion kNN pipelines
# cluster on): surviving nodes hold ≥ k mutual-similarity neighbors
# after cascading removal. Same recursive-peel oracle doctrine as
# _kcore_oracle.
# ---------------------------------------------------------------------------
_KNNPR_K = _KNNG_K  # neighbors per node in the analyzed kNN graph
_KNN_CORE_K = 2


def _knn_edges_sql() -> str:
    """Shared oracle CTEs: the exact within-label kNN edge set
    (identical semantics to _knng_oracle's prs/g/e chain)."""
    cos = (
        f"CAST(ROUND({_tri_dot('a.embedding', 'b.embedding')} /"
        f" (sqrt({_tri_dot('a.embedding', 'a.embedding')}) *"
        f" sqrt({_tri_dot('b.embedding', 'b.embedding')})), 4) AS DOUBLE)"
    )
    return f"""
    prs AS (
      SELECT a.label, a.vec_id AS src, b.vec_id AS dst, {cos} AS cos_sim
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id <> b.vec_id
    ),
    gk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY src
                                        ORDER BY cos_sim DESC, dst) AS rn
           FROM prs),
    e AS (SELECT label, src, dst FROM gk WHERE rn <= {_KNNPR_K})"""


def _pagerank_knn_oracle() -> str:
    return f"""
    WITH RECURSIVE {_knn_edges_sql().strip().lstrip()},
    sym AS (SELECT DISTINCT src AS u, dst AS v FROM
            (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e)),
    deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
    pr(iter, node, rank) AS (
      SELECT 0, u, CAST(1.0 AS DOUBLE) FROM deg
      UNION ALL
      SELECT pr.iter + 1, sym.v,
             {1.0 - _PR_DAMP} + {_PR_DAMP} * SUM(pr.rank / deg.d)
      FROM pr JOIN sym ON sym.u = pr.node JOIN deg ON deg.u = pr.node
      WHERE pr.iter < {_PR_ITERS}
      GROUP BY pr.iter, sym.v
    ),
    fin AS (SELECT node, rank FROM pr WHERE iter = {_PR_ITERS}),
    lab AS (
      SELECT emb.label, fin.node, ROUND(fin.rank, 4) AS r4
      FROM embeddings emb JOIN fin ON emb.vec_id = fin.node
    ),
    rk AS (
      SELECT label, node, r4,
             ROW_NUMBER() OVER (PARTITION BY label ORDER BY r4 DESC, node)
               AS pos
      FROM lab
    )
    SELECT label, CAST(node AS BIGINT) AS vec_id,
           CAST(r4 AS DOUBLE) AS rank, CAST(pos AS INT) AS pos
    FROM rk WHERE pos <= 3 ORDER BY label, pos
    """


@register("g_pagerank_knn", _pagerank_knn_oracle())
def g_pagerank_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    t = load_tables(spark, sf_dir)
    g = S.knn_graph(t.embeddings, k=_KNNPR_K)
    # union-symmetrize via a 2-element explode — ONE pass over the kNN
    # pipeline (a self-union would evaluate the pair join + top-k
    # window twice); distinct collapses mutual pairs seen both ways
    sym = (
        g.select(
            F.explode(
                F.array(
                    F.struct(F.col("src"), F.col("dst")),
                    F.struct(
                        F.col("dst").alias("src"),
                        F.col("src").alias("dst"),
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
    )
    pr = pagerank(sym, damping=_PR_DAMP, max_iter=_PR_ITERS, tol=0.0)
    lab = t.embeddings.select(F.col("vec_id").alias("node"), "label")
    return (
        pr.join(lab, "node")
        .withColumn("r4", F.round("rank", 4))
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("label").orderBy(F.desc("r4"), "node")
            ),
        )
        .filter(F.col("pos") <= 3)
        .select(
            "label",
            F.col("node").alias("vec_id"),
            F.col("r4").cast("double").alias("rank"),
            F.col("pos").cast("int").alias("pos"),
        )
        .orderBy("label", "pos")
    )


def _kcore_knn_oracle() -> str:
    return f"""
    WITH RECURSIVE {_knn_edges_sql().strip().lstrip()},
    mu AS (
      SELECT e1.src AS a, e1.dst AS b
      FROM e e1 JOIN e e2 ON e1.src = e2.dst AND e1.dst = e2.src
      WHERE e1.src < e1.dst
    ),
    sym AS (SELECT a AS u, b AS v FROM mu UNION ALL SELECT b, a FROM mu),
    ealive(iter, u, v) AS (
      SELECT 0, u, v FROM sym
      UNION ALL
      SELECT iter + 1, u, v FROM (
        SELECT iter, u, v,
               COUNT(*) OVER (PARTITION BY u) AS du,
               COUNT(*) OVER (PARTITION BY v) AS dv
        FROM ealive WHERE iter < {_KCORE_ROUNDS}
      ) WHERE du >= {_KNN_CORE_K} AND dv >= {_KNN_CORE_K}
    ),
    core AS (
      SELECT u AS node, COUNT(*) AS core_degree
      FROM ealive WHERE iter = {_KCORE_ROUNDS} GROUP BY u
    )
    SELECT emb.label,
           CAST(COUNT(*) AS BIGINT) AS n_core_nodes,
           CAST(MIN(core.core_degree) AS BIGINT) AS min_core_degree,
           CAST(MAX(core.core_degree) AS BIGINT) AS max_core_degree
    FROM core JOIN embeddings emb ON emb.vec_id = core.node
    GROUP BY emb.label ORDER BY emb.label
    """


@register("g_kcore_knn", _kcore_knn_oracle())
def g_kcore_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import kcore

    t = load_tables(spark, sf_dir)
    g = S.knn_graph(t.embeddings, k=_KNNPR_K).select("src", "dst")
    # mutual edges WITHOUT a self-join: each directed kNN edge is
    # unique, so grouping on the unordered pair counts 2 exactly when
    # both directions exist — one exchange, one pass over g (which
    # then has a single consumer, so no persist either)
    mutual = (
        g.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") == 2)
        .select("src", "dst")
    )
    core = kcore(mutual, k=_KNN_CORE_K, max_iter=_KCORE_ROUNDS)
    lab = t.embeddings.select(F.col("vec_id").alias("node"), "label")
    return (
        core.join(lab, "node")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_core_nodes"),
            F.min("core_degree").cast("long").alias("min_core_degree"),
            F.max("core_degree").cast("long").alias("max_core_degree"),
        )
        .orderBy("label")
    )


def _triangle_knn_oracle() -> str:
    return f"""
    WITH {_knn_edges_sql().strip().lstrip()},
    mu AS (
      SELECT e1.label, e1.src AS a, e1.dst AS b
      FROM e e1 JOIN e e2 ON e1.src = e2.dst AND e1.dst = e2.src
      WHERE e1.src < e1.dst
    ),
    ends AS (
      SELECT label, a AS node FROM mu
      UNION ALL SELECT label, b FROM mu
    ),
    deg AS (SELECT label, node, COUNT(*) AS d FROM ends GROUP BY label, node),
    base AS (
      SELECT label,
             CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(d) / 2 AS BIGINT) AS n_edges,
             CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges
      FROM deg GROUP BY label
    ),
    tri AS (
      SELECT x.label, COUNT(*) AS n_tri
      FROM mu x
      JOIN mu y ON y.label = x.label AND y.a = x.b
      JOIN mu z ON z.label = x.label AND z.a = x.a AND z.b = y.b
      GROUP BY x.label
    )
    SELECT base.label, n_nodes, n_edges, n_wedges,
           CAST(COALESCE(n_tri, 0) AS BIGINT) AS n_triangles,
           {duck_round_div("3 * COALESCE(n_tri, 0)", "n_wedges", 6)}
             AS clustering_coef
    FROM base LEFT JOIN tri ON tri.label = base.label
    ORDER BY base.label
    """


@register("g_triangle_knn", _triangle_knn_oracle())
def g_triangle_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + clustering coefficient per label over the
    MUTUAL kNN graph — the scale-safe twin of `g_triangle_count`
    (whose threshold edge set is quadratic in near-dup cluster size):
    mutual edges are ≤ N·k/2 at any corpus size, so the ordered
    two-join triangle enumeration is degree-bounded. Same output
    contract and exact-rational clustering coefficient."""
    t = load_tables(spark, sf_dir)
    g = S.knn_graph(t.embeddings, k=_KNNPR_K).select("label", "src", "dst")
    # mutual edges via unordered-pair counts (see g_kcore_knn)
    mu = track_persist(
        g.select(
            "label",
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .groupBy("label", "a", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") == 2)
        .select("label", "a", "b")
    )
    ends = mu.select("label", F.col("a").alias("node")).unionByName(
        mu.select("label", F.col("b").alias("node"))
    )
    deg = ends.groupBy("label", "node").agg(F.count(F.lit(1)).alias("d"))
    base = deg.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        (F.sum("d") / 2).cast("long").alias("n_edges"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias(
            "n_wedges"
        ),
    )
    x, y, z = mu.alias("x"), mu.alias("y"), mu.alias("z")
    tri = (
        x.join(
            y,
            (F.col("y.label") == F.col("x.label"))
            & (F.col("y.a") == F.col("x.b")),
        )
        .join(
            z,
            (F.col("z.label") == F.col("x.label"))
            & (F.col("z.a") == F.col("x.a"))
            & (F.col("z.b") == F.col("y.b")),
        )
        .groupBy(F.col("x.label").alias("label"))
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return (
        base.join(tri, "label", "left")
        .select(
            "label",
            "n_nodes",
            "n_edges",
            "n_wedges",
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
            round_div(
                3 * F.coalesce(F.col("n_tri"), F.lit(0)),
                F.col("n_wedges"),
                "clustering_coef",
                6,
            ),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Canonical-dedup-FIRST graph analytics — the full production recipe
# the threshold-graph scale note prescribes (queries/datapipe7.py
# scale note; r6 verdict ask #1 stretch): collapse duplicate
# neighborhoods to canonical representatives (connected components of
# the thresholded near-dup graph, min-id keeper — a LINEAR
# composition), THEN run PageRank over the bounded-degree kNN graph
# of the representatives only. Near-dup clusters contribute one node
# instead of O(M²) edges, and the analytics graph is ≤ N·k edges —
# both quadratic traps removed in one pipeline.
#
# ONE directed in-label all-pairs cosine scan feeds BOTH stages: the
# a<b threshold subset becomes the CC edge set, the rep-restricted
# ranking becomes the kNN graph — the scan never runs twice. Oracle:
# two recursive CTEs (min-label CC fixpoint, fixed-depth PageRank)
# over the identical pair computation.
# ---------------------------------------------------------------------------


def _pagerank_canonical_oracle() -> str:
    cos = (
        f"CAST(ROUND({_tri_dot('a.embedding', 'b.embedding')} /"
        f" (sqrt({_tri_dot('a.embedding', 'a.embedding')}) *"
        f" sqrt({_tri_dot('b.embedding', 'b.embedding')})), 4) AS DOUBLE)"
    )
    return f"""
    WITH RECURSIVE prs AS (
      SELECT a.label, a.vec_id AS src, b.vec_id AS dst, {cos} AS cos_sim
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id <> b.vec_id
    ),
    ecc AS (
      SELECT src AS u, dst AS v FROM prs
      WHERE src < dst AND cos_sim >= {_TRI_T}
      UNION ALL
      SELECT dst, src FROM prs
      WHERE src < dst AND cos_sim >= {_TRI_T}
    ),
    r(node, lab) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT ecc.u, r.lab FROM r JOIN ecc ON r.node = ecc.v
    ),
    cc AS (SELECT node, MIN(lab) AS comp FROM r GROUP BY node),
    reps AS (SELECT node FROM cc WHERE node = comp),
    gk AS (
      SELECT prs.*,
             ROW_NUMBER() OVER (PARTITION BY src
                                ORDER BY cos_sim DESC, dst) AS rn
      FROM prs
      JOIN reps ra ON prs.src = ra.node
      JOIN reps rb ON prs.dst = rb.node
    ),
    e AS (SELECT src, dst FROM gk WHERE rn <= {_KNNPR_K}),
    sym AS (SELECT DISTINCT src AS u, dst AS v FROM
            (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e)),
    deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
    pr(iter, node, rank) AS (
      SELECT 0, u, CAST(1.0 AS DOUBLE) FROM deg
      UNION ALL
      SELECT pr.iter + 1, sym.v,
             {1.0 - _PR_DAMP} + {_PR_DAMP} * SUM(pr.rank / deg.d)
      FROM pr JOIN sym ON sym.u = pr.node JOIN deg ON deg.u = pr.node
      WHERE pr.iter < {_PR_ITERS}
      GROUP BY pr.iter, sym.v
    ),
    fin AS (SELECT node, rank FROM pr WHERE iter = {_PR_ITERS}),
    lab2 AS (
      SELECT emb.label, fin.node, ROUND(fin.rank, 4) AS r4
      FROM embeddings emb JOIN fin ON emb.vec_id = fin.node
    ),
    rk AS (
      SELECT label, node, r4,
             ROW_NUMBER() OVER (PARTITION BY label ORDER BY r4 DESC, node)
               AS pos
      FROM lab2
    )
    SELECT label, CAST(node AS BIGINT) AS vec_id,
           CAST(r4 AS DOUBLE) AS rank, CAST(pos AS INT) AS pos
    FROM rk WHERE pos <= 3 ORDER BY label, pos
    """


def _canonical_reps(non_keepers: DataFrame, embeddings: DataFrame) -> DataFrame:
    """Representatives = embeddings MINUS the parquet non-keeper
    artifact, as a LEFT ANTI join with NO forced broadcast: the
    non-keeper set is duplication-sized (commonly 20-50% of a crawl
    corpus), so an unconditional broadcast hint would exceed the
    broadcast limit and driver heap at 100 TB. AQE sees the artifact's
    file size at plan time and broadcasts exactly when it fits (it
    does at every test SF); when it doesn't, the anti-join degrades to
    a shuffle join instead of failing outright. No id list ever rides
    the driver (plan pinned in tests/test_plans.py — split out so the
    test can assert on the reps frame directly; the downstream
    pagerank's driver fast-path rebuilds the final frame, hiding this
    join from its plan)."""
    non_keepers = non_keepers.withColumnRenamed("node", "vec_id")
    return embeddings.join(non_keepers, "vec_id", "left_anti")


@register("g_pagerank_canonical", _pagerank_canonical_oracle())
def g_pagerank_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import connected_components, pagerank

    t = load_tables(spark, sf_dir)
    # stage 1 — canonicalize: thresholded near-dup pairs → connected
    # components → drop the non-keepers. The non-keeper set never
    # touches the driver as rows: the component sweep WRITES it to a
    # parquet artifact (a parallel distributed write) and stage 2
    # consumes it through a LEFT ANTI join with no forced broadcast —
    # AQE broadcasts when the artifact fits and shuffle-joins when the
    # duplication rate makes it large; either way it is never a driver
    # list / IN-literal (the r8 shape this replaces).
    # the canonical set is deterministic per corpus, so it is computed
    # once per (session, corpus) and served afterwards — the dedup
    # sweep runs once, every downstream analytic consumes its parquet
    # (the serve-don't-rebuild doctrine of the IVM/trained-artifact
    # entries; re-invocations measure the analytics-over-canonical
    # path starting from a file scan).
    # Both stages ride the r8 BLOCKED scans (operators/similarity.py):
    # the pair rows never materialize into a shuffle, and restricting
    # the kNN ranking to representatives is just a pre-scan anti-join
    # on the N-row input (the oracle's reps-join-before-ROW_NUMBER,
    # expressed as a pushdown).
    def _canonicalize() -> DataFrame:
        cc_edges = S.embedding_near_dup_pairs(
            t.embeddings, threshold=_TRI_T
        ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        comp = connected_components(cc_edges, "src", "dst")
        path = scratch_dir(spark, "canonical_nonkeepers_")
        # rebalanced write — NOT coalesce(1): the non-keeper set is
        # duplication-sized; the AQE rebalance keeps the write parallel
        # when the set is large while collapsing the tiny-SF case to
        # one file instead of 32 KB-sized ones (each downstream scan
        # paid a task per file — guide §6)
        (
            comp.filter(F.col("component") != F.col("node"))
            .select("node")
            .hint("rebalance")
            .write.mode("overwrite")
            .parquet(path)
        )
        return spark.read.parquet(path)

    non_keepers = memo(
        spark, "canonical-nonkeepers", sf_dir, _canonicalize,
        [table_path(sf_dir, "embeddings")],
    )
    # stage 2 — bounded-degree kNN ranking restricted to the reps:
    # broadcast anti-join against the artifact (the embeddings side
    # never shuffles; plan pinned in tests/test_plans.py)
    reps = _canonical_reps(non_keepers, t.embeddings)
    e = S.knn_graph(reps, k=_KNNPR_K).select("src", "dst")
    sym = (
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("src"), F.col("dst")),
                    F.struct(
                        F.col("dst").alias("src"),
                        F.col("src").alias("dst"),
                    ),
                )
            ).alias("ed")
        )
        .select("ed.src", "ed.dst")
        .distinct()
    )
    pr = pagerank(sym, damping=_PR_DAMP, max_iter=_PR_ITERS, tol=0.0)
    lab = t.embeddings.select(F.col("vec_id").alias("node"), "label")
    return (
        pr.join(lab, "node")
        .withColumn("r4", F.round("rank", 4))
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("label").orderBy(F.desc("r4"), "node")
            ),
        )
        .filter(F.col("pos") <= 3)
        .select(
            "label",
            F.col("node").alias("vec_id"),
            F.col("r4").cast("double").alias("rank"),
            F.col("pos").cast("int").alias("pos"),
        )
        .orderBy("label", "pos")
    )
