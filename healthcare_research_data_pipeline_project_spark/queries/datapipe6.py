"""Training-data pipeline corpus, part 6: sequence packing, weighted
sampling, change-point detection, and distribution-drift auditing.

Sequence packing (`ds_pack_sequences`): the step between a curated
corpus and a trainer — concatenate documents in a stable order and
chunk the token stream into fixed-budget training sequences. The
manifest reports, per sequence, how many documents start there, how
many tokens they contribute, and how many straddle a chunk boundary
(the rows a loss-masking loader must split). The global running
offset uses `operators.scale.prefix_sum` (range-repartition + tiny
broadcast offsets), never `SUM() OVER ()`'s single-partition exchange
— the one shape that cannot survive 100 TB.

Weighted sampling (`ds_weighted_sample`): weight-proportional Poisson
sampling — include a doc with probability k·w/Σw. The coin is a
deterministic md5-derived integer, so the sample is replay-safe under
task retry and bit-reproducible in DuckDB; the inclusion test is pure
BIGINT arithmetic (no float thresholds to disagree on). This is the
standard scalable "expected-k" weighted sample: one scan + a
broadcast scalar, no sort, no sequential pass (true without-
replacement top-k via Efraimidis–Spirakis would order by -ln(u)/w —
a float rank that is not engine-portable at the last ulp).

Change-point detection (`t_cusum_changepoint`): classic CUSUM
mean-shift scan per event_type over the daily series. The peak
statistic max_k |S_k - (k/n)·S_n| is computed scaled by n — in
integer *cents* (|n·S_k − k·S_n|, exact in both engines) — so the
argmax day is bit-deterministic; no double accumulates anywhere.

Drift audit (`dq_psi_drift`): Population Stability Index between two
deterministic halves of the events stream (event_id parity stands in
for "reference vs current" windows) over fixed value buckets, with
add-one smoothing. The only floats are the final ln() terms, rounded
to 8 dp and summed in integer units so the cross-bucket addition
order cannot change the hash.

Reference parity: extends the anomaly/quality family
(healthcare-data-pipeline-main.py:319-338 detect_anomalies;
healthcare-sql-analytics.sql:700-779 data-quality audit) with the
dataset-curation ops a 100 TB training pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import track_persist
from ..functions.helpers import duck_round_div, round_div, sum_cents
from ..functions.text import DUCK_TOKENS, duck_hash64, hash64_expr, tokens
from ..operators.scale import prefix_sum
from ..session import literal_frame
from ..tables import load_tables
from . import register

_SEQ_LEN = 512  # tokens per packed training sequence
_SAMPLE_K = 100  # expected sample size
_U_MOD = 1_000_000  # coin resolution for the integer Bernoulli test
_PSI_BUCKET_W = 50  # value-bucket width (value spans ~0..500)
_PSI_NB = 10  # bucket count: least(NB-1, value // width)

_DOC_TOKS = DUCK_TOKENS.format(text="text")


# ---------------------------------------------------------------------------
# Concat-and-chunk sequence packing manifest.
#
# Docs are laid out in doc_id order; doc i starts at offset
# cum(i) − tok(i) and lands in sequence floor(start / SEQ_LEN). A doc
# whose last token falls in a later sequence is "split" (crosses ≥1
# boundary). All arithmetic is BIGINT; `div` / `//` agree on
# non-negatives. Scale shape: one range exchange for the prefix sum
# (reused for the partition totals), then a seq_id hash aggregate —
# no single-partition stage anywhere.
# ---------------------------------------------------------------------------
@register(
    "ds_pack_sequences",
    f"""
    WITH d AS (
      SELECT doc_id, len({_DOC_TOKS}) AS tok_cnt FROM documents
    ),
    c AS (
      SELECT doc_id, tok_cnt,
             SUM(tok_cnt) OVER (ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
      FROM d
    )
    SELECT CAST((cum - tok_cnt) // {_SEQ_LEN} AS BIGINT) AS seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tok_cnt) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN tok_cnt > 0
                          AND (cum - 1) // {_SEQ_LEN}
                              > (cum - tok_cnt) // {_SEQ_LEN}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM c GROUP BY seq_id ORDER BY seq_id
    """,
)
def ds_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    d = t.documents.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("tok_cnt")
    )
    c = prefix_sum(d, ["doc_id"], {"cum": "tok_cnt"})
    c = c.withColumn("start", F.col("cum") - F.col("tok_cnt"))
    c = c.withColumn("seq_id", F.expr(f"start div {_SEQ_LEN}"))
    split = (F.col("tok_cnt") > 0) & (
        F.expr(f"(cum - 1) div {_SEQ_LEN}") > F.col("seq_id")
    )
    return (
        c.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("tok_cnt").cast("long").alias("n_tokens"),
            F.sum(split.cast("int")).cast("long").alias("n_split_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("seq_id")
    )


# ---------------------------------------------------------------------------
# Weighted Poisson sample: P(include doc) = k·w / Σw, w = n_chars.
# Deterministic integer coin u ∈ [0, U_MOD); include iff
# u·Σw < k·w·U_MOD — BIGINT-exact on both engines (u < 2^20,
# Σw < 2^33 at any bench SF, k·w·U_MOD < 2^46). The Σw scalar rides a
# broadcast cross join; everything else is map-side.
# ---------------------------------------------------------------------------
@register(
    "ds_weighted_sample",
    f"""
    WITH d AS (
      SELECT doc_id, n_chars AS w,
             {duck_hash64("CAST(doc_id AS VARCHAR)", "wsample")}
               % {_U_MOD} AS u
      FROM documents
    ),
    tot AS (SELECT SUM(w) AS tot_w FROM d)
    SELECT doc_id, CAST(w AS BIGINT) AS w,
           LEAST(1.0, {duck_round_div(f"{_SAMPLE_K} * w", "tot_w", 6)})
             AS incl_p
    FROM d, tot
    WHERE u * tot_w < {_SAMPLE_K} * w * {_U_MOD}
    ORDER BY doc_id
    """,
)
def ds_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    d = t.documents.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("w"),
        (
            F.expr(hash64_expr("cast(doc_id as string)", "wsample"))
            % _U_MOD
        ).alias("u"),
    )
    tot = d.agg(F.sum("w").alias("tot_w"))
    return (
        d.crossJoin(F.broadcast(tot))
        .filter(
            F.col("u") * F.col("tot_w")
            < F.lit(_SAMPLE_K) * F.col("w") * F.lit(_U_MOD)
        )
        .select(
            "doc_id",
            "w",
            F.least(
                F.lit(1.0),
                round_div(
                    F.lit(_SAMPLE_K) * F.col("w"), F.col("tot_w"), "incl_p", 6
                ),
            ).alias("incl_p"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# CUSUM change-point scan, per event_type over the daily value series.
# Statistic per day k: |n·S_k − k·S_n| in integer cents (S in exact
# decimal cents, n/k small ints) — the scaled form of the textbook
# max_k |S_k − (k/n)·S_n|, kept integral so Spark and DuckDB agree
# bit-for-bit and the argmax day is stable (ties break to the
# earliest day). Scale shape: the daily aggregate shuffles once on
# (event_type, day); the windows partition by event_type over
# day-cardinality frames (bounded rows per type), never the raw fact.
# ---------------------------------------------------------------------------
@register(
    "t_cusum_changepoint",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS day_cents
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    c AS (
      SELECT event_type, d, day_cents,
             ROW_NUMBER() OVER w AS k,
             SUM(day_cents) OVER (PARTITION BY event_type ORDER BY d
                                  ROWS UNBOUNDED PRECEDING) AS run,
             SUM(day_cents) OVER (PARTITION BY event_type) AS tot,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY d)
    ),
    s AS (
      SELECT event_type, d, n, k,
             ABS(n * run - k * tot) AS dev,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ABS(n * run - k * tot) DESC, d)
               AS pick
      FROM c
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           strftime(d, '%Y-%m-%d') AS cp_date,
           CAST(k AS BIGINT) AS cp_day_idx,
           CAST(dev AS BIGINT) AS cusum_peak_cents_x_n
    FROM s WHERE pick = 1 ORDER BY event_type
    """,
)
def t_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    daily = t.events.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(sum_cents("value").alias("day_cents"))
    w_ord = Window.partitionBy("event_type").orderBy("d")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy("event_type")
    c = daily.select(
        "event_type",
        "d",
        F.row_number().over(w_ord).alias("k"),
        F.sum("day_cents").over(w_run).alias("run"),
        F.sum("day_cents").over(w_all).alias("tot"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    c = c.withColumn(
        "dev", F.abs(F.col("n") * F.col("run") - F.col("k") * F.col("tot"))
    )
    c = c.withColumn(
        "pick",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(F.desc("dev"), "d")
        ),
    )
    return (
        c.filter(F.col("pick") == 1)
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_days"),
            # string ISO date: engines disagree on date32-vs-timestamp
            # dtype at the comparison layer, never on the value
            F.date_format("d", "yyyy-MM-dd").alias("cp_date"),
            F.col("k").cast("long").alias("cp_day_idx"),
            F.col("dev").cast("long").alias("cusum_peak_cents_x_n"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Population Stability Index between the two event_id-parity cohorts,
# per event_type, over fixed-width value buckets with add-one
# smoothing: PSI = Σ_b (p_b^A − p_b^B)·ln(p_b^A / p_b^B),
# p^X = (cnt_X + 1) / (tot_X + n_buckets_observed).
#
# Engine-portability: each bucket term is rounded to 8 dp and summed
# as an integer number of 1e-8 units, so the cross-bucket double
# addition order (Spark partial aggs vs DuckDB) cannot perturb the
# result; the only residual risk is a 1-ulp ln() disagreement landing
# exactly on a rounding boundary — the same measure-zero class as the
# corpus's stddev/corr rounds. Scale shape: one shuffle on
# (event_type, bucket) with map-side conditional partials, then a
# type-cardinality aggregate; no joins, no windows over the fact.
# ---------------------------------------------------------------------------
@register(
    "dq_psi_drift",
    f"""
    WITH b AS (
      SELECT event_type,
             LEAST({_PSI_NB - 1},
                   CAST(FLOOR(value / {_PSI_BUCKET_W}) AS BIGINT)) AS bucket,
             SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS cnt_a,
             SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS cnt_b
      FROM events GROUP BY 1, 2
    ),
    p AS (
      SELECT event_type, bucket, cnt_a, cnt_b,
             SUM(cnt_a) OVER (PARTITION BY event_type) AS tot_a,
             SUM(cnt_b) OVER (PARTITION BY event_type) AS tot_b,
             COUNT(*) OVER (PARTITION BY event_type) AS nb
      FROM b
    ),
    terms AS (
      SELECT event_type, nb,
             CAST(ROUND(
               ((cnt_a + 1.0) / (tot_a + nb) - (cnt_b + 1.0) / (tot_b + nb))
               * ln(((cnt_a + 1.0) / (tot_a + nb))
                    / ((cnt_b + 1.0) / (tot_b + nb))) * 1e8, 0) AS BIGINT)
               AS term_u
      FROM p
    )
    SELECT event_type,
           CAST(MAX(nb) AS BIGINT) AS n_buckets,
           CAST(ROUND(SUM(term_u) / 1e8, 6) AS DOUBLE) AS psi
    FROM terms GROUP BY event_type ORDER BY event_type
    """,
)
def dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    b = t.events.groupBy(
        "event_type",
        F.least(
            F.lit(_PSI_NB - 1),
            F.floor(F.col("value") / _PSI_BUCKET_W).cast("long"),
        ).alias("bucket"),
    ).agg(
        F.sum((F.col("event_id") % 2 == 0).cast("int")).alias("cnt_a"),
        F.sum((F.col("event_id") % 2 == 1).cast("int")).alias("cnt_b"),
    )
    w = Window.partitionBy("event_type")
    p = b.select(
        "event_type",
        "cnt_a",
        "cnt_b",
        F.sum("cnt_a").over(w).alias("tot_a"),
        F.sum("cnt_b").over(w).alias("tot_b"),
        F.count(F.lit(1)).over(w).alias("nb"),
    )
    pa = (F.col("cnt_a") + 1.0) / (F.col("tot_a") + F.col("nb"))
    pb = (F.col("cnt_b") + 1.0) / (F.col("tot_b") + F.col("nb"))
    terms = p.select(
        "event_type",
        "nb",
        F.round((pa - pb) * F.log(pa / pb) * 1e8, 0)
        .cast("long")
        .alias("term_u"),
    )
    return (
        terms.groupBy("event_type")
        .agg(
            F.max("nb").cast("long").alias("n_buckets"),
            F.round(F.sum("term_u") / 1e8, 6).cast("double").alias("psi"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Canonical-keep dedup summary: MinHash-LSH candidate pairs →
# connected components → keep the min-doc_id representative per
# cluster, reported per source (docs kept/dropped and the char volume
# retained) — the accounting a curation pipeline emits after a dedup
# sweep.
#
# This is the first ORACLE-CHECKED route through the duplicate-cluster
# operator: the LSH pair set is already engine-portable
# (dedup_lsh_pairs), and the component labels are reproduced in DuckDB
# with a RECURSIVE min-label-propagation CTE over the same pairs — so
# the driver's gate pins Spark's pointer-jumping/union-find
# `connected_components` against an independent fixpoint
# implementation, not just a property test. (The recursive CTE is
# oracle-side only: fine at sf0.01; the Spark side stays the O(log d)
# distributed loop.) Scale shape: everything is the dedup_lsh_pairs
# plan plus a label join and a source-cardinality aggregate.
# ---------------------------------------------------------------------------
def _canonical_keep_oracle() -> str:
    from .datapipe import _lsh_pairs_oracle

    lsh = _lsh_pairs_oracle().strip()
    assert lsh.startswith("WITH "), "expected a WITH-form LSH oracle"
    # splice: WITH RECURSIVE <lsh ctes>, pairs AS (<lsh final select>)
    head, final = lsh[len("WITH "):].rsplit("SELECT DISTINCT", 1)
    return f"""
    WITH RECURSIVE {head.rstrip()},
    pairs AS (SELECT DISTINCT {final}),
    e AS (SELECT id_a AS u, id_b AS v FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
    r(node, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.u, r.lab FROM r JOIN e ON r.node = e.v
    ),
    cc AS (SELECT node, MIN(lab) AS cluster_id FROM r GROUP BY node),
    lab AS (
      SELECT doc.doc_id, cc.cluster_id, doc.source, doc.n_chars
      FROM documents doc JOIN cc ON doc.doc_id = cc.node
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_keepers,
           CAST(SUM(CASE WHEN doc_id <> cluster_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN doc_id = cluster_id THEN n_chars ELSE 0 END)
                AS BIGINT) AS kept_chars
    FROM lab GROUP BY source ORDER BY source
    """


@register("dedup_canonical_keep", _canonical_keep_oracle())
def dedup_canonical_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as D
    from ..operators.graph import connected_components
    from .datapipe import _LSH_BANDS, _LSH_HASHES

    t = load_tables(spark, sf_dir)
    pairs = D.lsh_candidate_pairs(
        t.documents, "text", "doc_id", num_hashes=_LSH_HASHES, bands=_LSH_BANDS
    )
    # r14 (guide §2.4/§6): inline dedup_clusters' keeper rule onto ONE
    # documents scan carrying (doc_id, source, n_chars). The r13 shape
    # ran dedup_clusters (docs scanned for the label join) and then
    # joined the result back against a SECOND full documents scan —
    # which the planner satisfied by broadcasting the whole document
    # table. cluster_size was computed and pruned; the keeper bit is
    # doc_id == coalesce(component, doc_id), identical to
    # dedup_clusters' is_keeper.
    comp = connected_components(pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), "component"
    )
    joined = (
        t.documents.select("doc_id", "source", "n_chars")
        .join(comp, "doc_id", "left")
        .select(
            "source",
            "n_chars",
            (
                F.col("doc_id")
                == F.coalesce("component", F.col("doc_id"))
            )
            .cast("int")
            .alias("is_keeper"),
        )
    )
    keep = F.col("is_keeper") == 1
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(keep.cast("int")).cast("long").alias("n_keepers"),
            F.sum((~keep).cast("int")).cast("long").alias("n_dropped"),
            F.sum(F.when(keep, F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("kept_chars"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# DSIR data selection (Xie et al., "Data Selection for Language Models
# via Importance Resampling", NeurIPS 2023): pick the raw-corpus docs
# that look most like a curated TARGET distribution, by importance
# weights in a hashed-bigram feature space, then Gumbel-top-k
# resampling. Everything is the paper's estimator, made engine-exact:
#
#   * features: word bigrams hashed into _DSIR_B buckets (the paper's
#     hashed n-gram space — collisions are part of the estimator);
#   * bucket LMs: Laplace-smoothed unigram models over buckets for
#     the target slice (source IN _DSIR_TARGET) and the full raw
#     corpus; the per-bucket log-likelihood ratio
#     ln p_t(b) − ln p_r(b) is rounded ONCE to integer micro-nats
#     (the text_unigram_logprob doctrine: after that every per-doc
#     sum is exact BIGINT arithmetic, order-independent on both
#     engines);
#   * per-doc log-weight: Σ_b c_doc[b]·λ[b] — c ≤ doc length,
#     |λ| ≤ ~2e7 micro-nats, so the sum stays far inside BIGINT;
#   * sampling WITHOUT replacement via the Gumbel-top-k trick
#     (Vieira 2014): key = logw + g, g = −ln(−ln(u)) with u a
#     deterministic hash-uniform in (0,1) — u = (h + 0.5)/2^20 is
#     dyadic-exact, g rounds to micro-nats, the key is an exact
#     BIGINT sum, ties break on doc_id. Top-k of an integer key is
#     engine-portable with no float-boundary risk.
#
# Scale shape: explode(bigrams) → map-side-combined count to
# (doc, bucket); bucket stats aggregate to ≤ _DSIR_B rows, so λ rides
# a BROADCAST join back onto the (doc, bucket) counts; one more
# groupBy(doc) and a TakeOrderedAndProject(k) — no data-sized sort,
# no window, no cartesian. The docs⋈weights left join is a
# co-partitionable equi-join on doc_id (docs with <2 tokens have no
# bigram rows but stay sample candidates at logw = 0).
# ---------------------------------------------------------------------------
_DSIR_B = 1024  # hashed-feature buckets
_DSIR_K = 50  # sample size (without replacement)
_DSIR_TARGET = ("src0", "src1", "src2", "src3")  # curated target slice
_DSIR_GMOD = 1_048_576  # 2^20: Gumbel coin resolution ((h+0.5)/2^20 is exact)


@register(
    "ds_dsir_sample",
    f"""
    WITH d AS (SELECT doc_id, source, {_DOC_TOKS} AS toks FROM documents),
    bg AS (
      SELECT doc_id, source,
             CASE WHEN len(toks) >= 2
                  THEN list_transform(generate_series(1, len(toks) - 1),
                                      i -> toks[i] || ' ' || toks[i + 1])
                  ELSE [] END AS bigs
      FROM d
    ),
    x AS (SELECT doc_id, source, unnest(bigs) AS bgr FROM bg),
    bc AS (
      SELECT doc_id, source, {duck_hash64('bgr', 'dsirb')} % {_DSIR_B} AS bkt,
             COUNT(*) AS c
      FROM x GROUP BY doc_id, source, {duck_hash64('bgr', 'dsirb')} % {_DSIR_B}
    ),
    bs AS (
      SELECT bkt,
             SUM(CASE WHEN source IN {_DSIR_TARGET} THEN c ELSE 0 END) AS tc,
             SUM(c) AS rc
      FROM bc GROUP BY bkt
    ),
    tot AS (SELECT SUM(tc) AS tt, SUM(rc) AS rt FROM bs),
    lam AS (
      SELECT bkt,
             CAST(ROUND((ln(CAST(tc + 1 AS DOUBLE))
                         - ln(CAST(tt + {_DSIR_B} AS DOUBLE))
                         - ln(CAST(rc + 1 AS DOUBLE))
                         + ln(CAST(rt + {_DSIR_B} AS DOUBLE))) * 1000000, 0)
                  AS BIGINT) AS lam
      FROM bs, tot
    ),
    dw AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
             CAST(SUM(c * lam) AS BIGINT) AS lw
      FROM bc JOIN lam USING (bkt) GROUP BY doc_id
    ),
    s AS (
      SELECT d.doc_id, d.source,
             COALESCE(dw.n_bigrams, 0) AS n_bigrams,
             COALESCE(dw.lw, 0) AS logw_micro,
             {duck_hash64('CAST(d.doc_id AS VARCHAR)', 'dsirg')}
               % {_DSIR_GMOD} AS h
      FROM documents d LEFT JOIN dw ON d.doc_id = dw.doc_id
    ),
    k AS (
      SELECT doc_id, source, n_bigrams, logw_micro,
             logw_micro + CAST(ROUND(
               -ln(-ln((CAST(h AS DOUBLE) + 0.5) / {_DSIR_GMOD}))
               * 1000000, 0) AS BIGINT) AS key_micro
      FROM s
    )
    SELECT doc_id, source, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           {duck_round_div('logw_micro', '1000000', 4)} AS logw_nats,
           CAST(key_micro AS BIGINT) AS key_micro
    FROM k
    ORDER BY key_micro DESC, doc_id
    LIMIT {_DSIR_K}
    """,
)
def ds_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    d = t.documents.select(
        "doc_id", "source", tokens(F.col("text")).alias("toks")
    )
    bg = d.select(
        "doc_id",
        "source",
        F.expr(
            "CASE WHEN size(toks) >= 2 THEN "
            "transform(sequence(1, size(toks) - 1), "
            "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))) "
            "ELSE array() END"
        ).alias("bigs"),
    )
    x = bg.select("doc_id", "source", F.explode("bigs").alias("bgr"))
    # bc (the tokenize → bigram explode → hash → per-(doc, bkt) count)
    # is the expensive subtree and BOTH downstream consumers (bucket
    # LMs and per-doc weights) branch from it; without an explicit
    # materialization the r13 plan evaluated it THREE times (bs for
    # lam, bs for tot, dw) — guide §2.4/§5. Persisted once, the heavy
    # explode runs once and everything else reads the cache.
    bc = track_persist(
        x.select(
            "doc_id",
            "source",
            (F.expr(hash64_expr("bgr", "dsirb")) % _DSIR_B).alias("bkt"),
        )
        .groupBy("doc_id", "source", "bkt")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    is_target = F.col("source").isin(*_DSIR_TARGET)
    # bucket stats are ≤ _DSIR_B rows BY CONSTRUCTION (the groupBy key
    # is a mod-_DSIR_B hash), so the bounded collect + literal-frame
    # assembly removes the tot cross-join (BroadcastNestedLoopJoin)
    # and the second/third traversals of the bucket aggregation. The
    # totals are exact integer sums (order-free); the lam expression
    # itself stays the SAME Catalyst round/log chain over the literal
    # rows, so the micro-nat values are bit-identical to the r13 plan.
    bs_rows = (
        bc.groupBy("bkt")
        .agg(
            F.sum(
                F.when(is_target, F.col("c")).otherwise(F.lit(0))
            ).alias("tc"),
            F.sum("c").alias("rc"),
        )
        .collect()
    )
    tt = sum(r["tc"] for r in bs_rows)
    rt = sum(r["rc"] for r in bs_rows)
    bs_local = literal_frame(
        spark,
        [(int(r["bkt"]), int(r["tc"]), int(r["rc"])) for r in bs_rows],
        "bkt long, tc long, rc long",
    )
    lam = bs_local.select(
        "bkt",
        F.round(
            (
                F.log((F.col("tc") + 1).cast("double"))
                - F.log(F.lit(tt + _DSIR_B).cast("double"))
                - F.log((F.col("rc") + 1).cast("double"))
                + F.log(F.lit(rt + _DSIR_B).cast("double"))
            )
            * 1000000,
            0,
        )
        .cast("long")
        .alias("lam"),
    )
    dw = (
        bc.join(F.broadcast(lam), "bkt")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.sum(F.col("c") * F.col("lam")).cast("long").alias("lw"),
        )
    )
    s = (
        t.documents.select("doc_id", "source")
        .join(dw, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("lw", F.lit(0)).cast("long").alias("logw_micro"),
            (
                F.expr(hash64_expr("cast(doc_id as string)", "dsirg"))
                % _DSIR_GMOD
            ).alias("h"),
        )
    )
    k = s.select(
        "doc_id",
        "source",
        "n_bigrams",
        "logw_micro",
        (
            F.col("logw_micro")
            + F.round(
                -F.log(
                    -F.log((F.col("h").cast("double") + 0.5) / _DSIR_GMOD)
                )
                * 1000000,
                0,
            ).cast("long")
        ).alias("key_micro"),
    )
    return (
        k.orderBy(F.col("key_micro").desc(), "doc_id")
        .limit(_DSIR_K)
        .select(
            "doc_id",
            "source",
            "n_bigrams",
            round_div(F.col("logw_micro"), F.lit(1000000), "logw_nats", 4),
            F.col("key_micro").cast("long").alias("key_micro"),
        )
    )
