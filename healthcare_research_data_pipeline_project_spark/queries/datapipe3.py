"""Training-data pipeline corpus, part 3: corpus-duplicated span
statistics (C4/RefinedWeb-style span dedup accounting), Zipf-law corpus
fit, time-series OHLC resampling, sliding rate-limit windows (the
engine-side twin of the reference API's per-hour rate limiting,
healthcare-api-main.py:237,292,393), a bitwise/boolean aggregate
battery, and a broadcast band-lookup join.

Same doctrine as datapipe/datapipe2: JVM-side Catalyst expressions
only, exact integer/decimal arithmetic wherever a ratio or sum feeds
the oracle hash, and a per-operator scale note describing the plan at
100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.helpers import duck_round_div, round_div
from ..functions.text import (
    DUCK_TOKENS,
    duck_hash64,
    duck_shingles,
    hash64_expr,
    shingles,
    tokens,
)
from ..session import literal_frame
from ..tables import load_tables
from . import register

_TOKS = DUCK_TOKENS.format(text="text")


# ---------------------------------------------------------------------------
# Corpus-duplicated span statistics: for every document, the fraction
# of its (positional) 3-gram spans whose shingle also occurs in >= T
# distinct documents corpus-wide. This is the accounting pass of
# C4-style span dedup — documents dominated by boilerplate spans get
# keep=0. Distinct from text_decontaminate (overlap vs a tiny eval
# split): here the lookup side is the corpus's own shingle vocabulary.
# Plan: explode → shingle-keyed partial-aggregated count(distinct) →
# shuffle join back on shingle → per-doc aggregation. At 100 TB the
# common-shingle table is still orders of magnitude smaller than the
# exploded spans (HAVING >= T prunes the long tail), and you'd insert
# a bloom-filter pre-pass on shingle before the join; the per-doc
# aggregation combines map-side because the explode preserves doc_id
# clustering.
# ---------------------------------------------------------------------------
_SPAN_T = 5          # "common" = appears in >= 5 distinct docs
_SPAN_NUM, _SPAN_DEN = 3, 10  # keep when dup spans <= 30%


@register(
    "text_span_dedup",
    f"""
    WITH d AS (SELECT doc_id, {duck_shingles(_TOKS)} AS sh FROM documents),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM d),
    common AS (
      SELECT s FROM ex GROUP BY s HAVING COUNT(DISTINCT doc_id) >= {_SPAN_T}
    ),
    per AS (
      SELECT ex.doc_id,
             COUNT(*) AS span_cnt,
             SUM(CASE WHEN c.s IS NOT NULL THEN 1 ELSE 0 END) AS dup_cnt
      FROM ex LEFT JOIN common c ON ex.s = c.s
      GROUP BY ex.doc_id
    )
    SELECT doc_id,
           CAST(span_cnt AS BIGINT) AS span_cnt,
           CAST(dup_cnt AS BIGINT) AS dup_span_cnt,
           {duck_round_div('dup_cnt', 'span_cnt', 4)} AS dup_span_frac,
           CAST(CASE WHEN dup_cnt * {_SPAN_DEN} <= span_cnt * {_SPAN_NUM}
                     THEN 1 ELSE 0 END AS INT) AS keep
    FROM per
    """,
)
def text_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import track_persist

    t = load_tables(spark, sf_dir)
    ex = (
        t.documents.withColumn("toks", tokens(F.col("text")))
        .select("doc_id", F.explode(shingles("toks")).alias("s"))
    )
    # r14 (guide §2.3/§2.4): aggregate the exploded spans ONCE to the
    # (doc_id, shingle) grain — the r13 shape traversed the tokenize +
    # shingle explode twice (the common-vocabulary aggregate and the
    # per-doc rollup). From bc, COUNT(DISTINCT doc_id) per shingle is
    # a plain row count (the grain key is unique), per-doc span_cnt is
    # Σc, and dup_cnt is Σc over common shingles — same values, one
    # explode pass, and the persisted frame is (doc, shingle)-grained,
    # smaller than the raw span stream.
    bc = track_persist(
        ex.groupBy("doc_id", "s").agg(F.count(F.lit(1)).alias("c"))
    )
    common = (
        bc.groupBy("s")
        .agg(F.count(F.lit(1)).alias("dc"))
        .filter(F.col("dc") >= _SPAN_T)
        .select("s", F.lit(1).alias("is_common"))
    )
    per = (
        bc.join(common, "s", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("span_cnt"),
            F.sum(
                F.when(F.col("is_common").isNotNull(), F.col("c")).otherwise(
                    F.lit(0)
                )
            ).alias("dup_cnt"),
        )
    )
    return per.select(
        "doc_id",
        F.col("span_cnt").cast("long").alias("span_cnt"),
        F.col("dup_cnt").cast("long").alias("dup_span_cnt"),
        round_div(F.col("dup_cnt"), F.col("span_cnt"), "dup_span_frac", 4),
        (F.col("dup_cnt") * _SPAN_DEN <= F.col("span_cnt") * _SPAN_NUM)
        .cast("int")
        .alias("keep"),
    )


# ---------------------------------------------------------------------------
# EXACT substring-level dedup accounting (the Lee et al. 2022
# "Deduplicating Training Data Makes Language Models Better" ExactSubstr
# operator, re-expressed relationally): find every MAXIMAL run of
# tokens, at least _SUB_K long, whose every _SUB_K-token window occurs
# at least twice corpus-wide (across or within documents), and report
# per document how much of it is such duplicated material. The
# reference paper builds a suffix array; the distributed relational
# equivalent is positional window hashing + a duplicated-window
# semi-join + per-document interval union:
#   1. every token position i emits hash(tokens[i..i+K-1]) — one
#      explode, no shuffle;
#   2. duplicated windows = GROUP BY hash HAVING count >= 2 — map-side
#      partial agg, the shuffle carries (hash, partial count), and at
#      100 TB a bloom filter built from this (small) table pre-prunes
#      the join back;
#   3. join positions to duplicated hashes (the one fact-sized
#      shuffle), then merge overlapping windows per document: two
#      duplicated positions i < j cover contiguous tokens iff
#      j <= i + K, so a LAG gap test + running break-sum assigns
#      island ids — per-doc streaming window, bounded by the doc's
#      window count;
#   4. islands aggregate to maximal spans (start, end = max+K-1) and
#      per-doc totals; docs shorter than K or with no duplicated
#      window keep zero counts via the left join from the corpus.
# The 32-bit md5-derived window hash is what both engines compare
# (byte-identical), so hash collisions cannot split the twins; at
# warehouse scale you would widen to the full md5 (or re-verify
# candidate runs exactly) before REMOVING text — this operator is the
# accounting/marking pass.
# ---------------------------------------------------------------------------
_SUB_K = 20           # minimum duplicated run length, tokens
_SUB_NUM, _SUB_DEN = 2, 10  # keep while duplicated fraction <= 20%


def _substr_dedup_oracle() -> str:
    win = (
        f"list_transform(generate_series(0, len(toks) - {_SUB_K}), i -> "
        f"struct_pack(p := i, h := "
        + duck_hash64(f"array_to_string(toks[i + 1:i + {_SUB_K}], ' ')")
        + "))"
    )
    return f"""
    WITH d0 AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    d AS (SELECT doc_id, toks, len(toks) AS n FROM d0),
    w0 AS (SELECT doc_id, unnest({win}) AS w FROM d WHERE n >= {_SUB_K}),
    w AS (SELECT doc_id, w.p AS p, w.h AS h FROM w0),
    dup AS (SELECT h FROM w GROUP BY h HAVING COUNT(*) >= 2),
    dw AS (SELECT w.doc_id, w.p FROM w JOIN dup USING (h)),
    brk AS (
      SELECT doc_id, p,
             CASE WHEN p - LAG(p) OVER (PARTITION BY doc_id ORDER BY p)
                       > {_SUB_K} THEN 1 ELSE 0 END AS b
      FROM dw
    ),
    isl AS (
      SELECT doc_id, p,
             SUM(b) OVER (PARTITION BY doc_id ORDER BY p
                          ROWS UNBOUNDED PRECEDING) AS island
      FROM brk
    ),
    spans AS (
      SELECT doc_id, island, MIN(p) AS s, MAX(p) + {_SUB_K} - 1 AS e
      FROM isl GROUP BY doc_id, island
    ),
    per AS (
      SELECT doc_id, COUNT(*) AS n_spans,
             SUM(e - s + 1) AS dup_tokens,
             MAX(e - s + 1) AS max_span
      FROM spans GROUP BY doc_id
    )
    SELECT d.doc_id, CAST(d.n AS BIGINT) AS token_cnt,
           CAST(COALESCE(per.n_spans, 0) AS BIGINT) AS n_dup_spans,
           CAST(COALESCE(per.dup_tokens, 0) AS BIGINT) AS dup_token_cnt,
           CAST(COALESCE(per.max_span, 0) AS BIGINT) AS max_span_len,
           {duck_round_div('COALESCE(per.dup_tokens, 0)', 'd.n', 4)}
             AS dup_token_frac,
           CAST(CASE WHEN COALESCE(per.dup_tokens, 0) * {_SUB_DEN}
                          <= d.n * {_SUB_NUM}
                     THEN 1 ELSE 0 END AS INT) AS keep
    FROM d LEFT JOIN per USING (doc_id)
    """


@register("text_substring_dedup", _substr_dedup_oracle())
def text_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    d = t.documents.select(
        "doc_id", tokens(F.col("text")).alias("toks")
    ).withColumn("n", F.size("toks"))
    w = (
        d.filter(F.col("n") >= _SUB_K)
        .select(
            "doc_id",
            F.posexplode(shingles("toks", _SUB_K)).alias("p", "sh"),
        )
        .select("doc_id", "p", F.expr(hash64_expr("sh")).alias("h"))
    )
    dup = (
        w.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("h")
    )
    dw = w.join(dup, "h").select("doc_id", "p")
    ord_w = Window.partitionBy("doc_id").orderBy("p")
    brk = F.when(
        F.col("p") - F.lag("p").over(ord_w) > _SUB_K, F.lit(1)
    ).otherwise(F.lit(0))
    isl = dw.withColumn(
        "island",
        F.sum(brk).over(
            ord_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    spans = isl.groupBy("doc_id", "island").agg(
        F.min("p").alias("s"),
        (F.max("p") + _SUB_K - 1).alias("e"),
    )
    per = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("dup_tokens"),
        F.max(F.col("e") - F.col("s") + 1).alias("max_span"),
    )
    dup_tok = F.coalesce(F.col("dup_tokens"), F.lit(0))
    return d.select("doc_id", "n").join(per, "doc_id", "left").select(
        "doc_id",
        F.col("n").cast("long").alias("token_cnt"),
        F.coalesce(F.col("n_spans"), F.lit(0))
        .cast("long")
        .alias("n_dup_spans"),
        dup_tok.cast("long").alias("dup_token_cnt"),
        F.coalesce(F.col("max_span"), F.lit(0))
        .cast("long")
        .alias("max_span_len"),
        round_div(dup_tok, F.col("n"), "dup_token_frac", 4),
        (dup_tok * _SUB_DEN <= F.col("n") * _SUB_NUM)
        .cast("int")
        .alias("keep"),
    )


# ---------------------------------------------------------------------------
# Zipf-law corpus fit: per-language token frequency table, frequency
# rank, and the least-squares slope/R² of ln(freq) against ln(rank) —
# the standard sanity check that a corpus has a natural-language-like
# frequency distribution (slope ≈ -1 for real text). Composition of
# explode + two-level aggregation + ranking window + regression
# moments. The regression inputs are already aggregated (vocab-sized),
# so the window sort and regr_* run over tiny frames at any corpus
# scale; the only big shuffle is the (lang, token) count.
# ---------------------------------------------------------------------------
@register(
    "text_zipf_fit",
    f"""
    WITH tok AS (SELECT lang, unnest({_TOKS}) AS token FROM documents),
    c AS (SELECT lang, token, COUNT(*) AS cnt FROM tok GROUP BY lang, token),
    r AS (
      SELECT lang, cnt,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY cnt DESC, token) AS rnk
      FROM c
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS vocab_size,
           CAST(SUM(cnt) AS BIGINT) AS token_cnt,
           CAST(ROUND(regr_slope(ln(cnt), ln(rnk)), 4) AS DOUBLE) AS zipf_slope,
           CAST(ROUND(regr_r2(ln(cnt), ln(rnk)), 4) AS DOUBLE) AS zipf_r2
    FROM r
    GROUP BY lang
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    tok = t.documents.select(
        "lang", F.explode(tokens(F.col("text"))).alias("token")
    )
    c = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), "token")
    r = c.withColumn("rnk", F.row_number().over(w))
    ln_cnt, ln_rnk = F.log(F.col("cnt")), F.log(F.col("rnk"))
    return r.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum("cnt").cast("long").alias("token_cnt"),
        F.round(F.regr_slope(ln_cnt, ln_rnk), 4).cast("double")
        .alias("zipf_slope"),
        F.round(F.regr_r2(ln_cnt, ln_rnk), 4).cast("double").alias("zipf_r2"),
    )


# ---------------------------------------------------------------------------
# Time-series resample to 6-hour OHLC bars per event type: open/close
# via positional row_number (deterministic (ts, event_id) tiebreak —
# the reference's idiom would be nondeterministic), high/low via
# min/max, exact micro-unit average. One shuffle on (type, bucket);
# both window orders share the single exchange (same partition keys),
# and the final aggregation collapses in-partition. The bucket key is
# integer epoch arithmetic — at 100 TB it doubles as the write
# partition column, so downstream range scans prune on it.
# ---------------------------------------------------------------------------
_BAR_S = 21_600  # 6 hours


@register(
    "t_resample_ohlc",
    f"""
    WITH ev AS (
      SELECT event_type,
             (epoch_us(ts) // {_BAR_S * 1_000_000}) * {_BAR_S} AS bucket_epoch,
             value, ts, event_id
      FROM events
    ),
    w AS (
      SELECT event_type, bucket_epoch, value,
             ROW_NUMBER() OVER (PARTITION BY event_type, bucket_epoch
                                ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY event_type, bucket_epoch
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM ev
    )
    SELECT event_type,
           CAST(bucket_epoch AS BIGINT) AS bucket_epoch,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(CASE WHEN rn_a = 1 THEN value END) AS DOUBLE) AS open_v,
           CAST(MAX(value) AS DOUBLE) AS high_v,
           CAST(MIN(value) AS DOUBLE) AS low_v,
           CAST(MAX(CASE WHEN rn_d = 1 THEN value END) AS DOUBLE) AS close_v,
           {duck_round_div(
               'CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)',
               'COUNT(*) * 100', 4)} AS avg_v
    FROM w
    GROUP BY event_type, bucket_epoch
    """,
)
def t_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    ev = t.events.select(
        "event_type",
        (F.unix_micros("ts") / F.lit(_BAR_S * 1_000_000))
        .cast("long")  # positive epochs: truncation == floor division
        .__mul__(_BAR_S)
        .alias("bucket_epoch"),
        "value",
        "ts",
        "event_id",
    )
    pk = ["event_type", "bucket_epoch"]
    w_a = Window.partitionBy(*pk).orderBy("ts", "event_id")
    w_d = Window.partitionBy(*pk).orderBy(F.desc("ts"), F.desc("event_id"))
    w = ev.withColumn("rn_a", F.row_number().over(w_a)).withColumn(
        "rn_d", F.row_number().over(w_d)
    )
    g = w.groupBy(*pk).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open_raw"),
        F.max("value").alias("high_raw"),
        F.min("value").alias("low_raw"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close_raw"),
        F.sum(F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    return g.select(
        "event_type",
        F.col("bucket_epoch").cast("long").alias("bucket_epoch"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("open_raw").cast("double").alias("open_v"),
        F.col("high_raw").cast("double").alias("high_v"),
        F.col("low_raw").cast("double").alias("low_v"),
        F.col("close_raw").cast("double").alias("close_v"),
        round_div(F.col("cents"), F.col("n_events") * 100, "avg_v", 4),
    )


# ---------------------------------------------------------------------------
# Sliding rate-limit window: per user, the event count and exact spend
# inside the trailing 1-hour window ending at each event — the
# engine-side form of the reference API's per-hour rate limits
# (healthcare-api-main.py:237,292,393: 100/50/20 calls per 3600 s,
# enforced there with Redis counters). A RANGE frame over microsecond
# epochs: frame membership is defined by the timestamp *value*, so
# equal-timestamp peers aggregate identically in both engines (no tie
# nondeterminism). One shuffle on user_id; in-partition sort + a
# sliding two-pointer frame — linear per partition, no pair explosion,
# unlike a self-join formulation which would square per-user
# cardinality at 100 TB.
# ---------------------------------------------------------------------------
_RL_LIMIT = 10  # flag users bursting > 10 events/hour


@register(
    "t_rate_limit_window",
    f"""
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS cnt_1h,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) OVER w AS BIGINT)
                AS BIGINT) AS spend_cents_1h,
           CAST(CASE WHEN COUNT(*) OVER w > {_RL_LIMIT} THEN 1 ELSE 0 END
                AS INT) AS over_limit
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN {3_600_000_000} PRECEDING AND CURRENT ROW)
    """,
)
def t_rate_limit_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    cnt = F.count(F.lit(1)).over(w)
    return t.events.select(
        "event_id",
        "user_id",
        cnt.cast("long").alias("cnt_1h"),
        F.sum(F.col("value").cast("decimal(18,2)") * 100)
        .over(w)
        .cast("long")
        .alias("spend_cents_1h"),
        (cnt > _RL_LIMIT).cast("int").alias("over_limit"),
    )


# ---------------------------------------------------------------------------
# Bitwise / boolean aggregate battery: bit_and / bit_or / bit_xor over
# a bounded integer projection plus bool_and / bool_or flags — the
# bitmap-index-style aggregates (permission masks, feature flags,
# shard-presence maps). All fully decomposable and order-independent
# (xor included), so Spark computes them with map-side partials and a
# one-row-per-group shuffle at any scale.
# ---------------------------------------------------------------------------
@register(
    "a22_bitwise_bool_agg",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(bit_and(o_custkey % 256) AS BIGINT) AS mask_and,
           CAST(bit_or(o_custkey % 256) AS BIGINT) AS mask_or,
           CAST(bit_xor(o_custkey % 256) AS BIGINT) AS mask_xor,
           CAST(CASE WHEN bool_and(o_totalprice > 5000) THEN 1 ELSE 0 END
                AS INT) AS all_above_5k,
           CAST(CASE WHEN bool_or(o_totalprice > 400000) THEN 1 ELSE 0 END
                AS INT) AS any_above_400k
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def a22_bitwise_bool_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    m = F.col("o_custkey") % 256
    return t.orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.bit_and(m).cast("long").alias("mask_and"),
        F.bit_or(m).cast("long").alias("mask_or"),
        F.bit_xor(m).cast("long").alias("mask_xor"),
        F.bool_and(F.col("o_totalprice") > 5000).cast("int")
        .alias("all_above_5k"),
        F.bool_or(F.col("o_totalprice") > 400000).cast("int")
        .alias("any_above_400k"),
    )


# ---------------------------------------------------------------------------
# Broadcast band-lookup join: classify every order into a price tier
# from a tiny [lo, hi) band table. The correct plan for a
# dimension-band lookup is a broadcast nested-loop join — the build
# side is a handful of rows, so "nested loop" is really "per-row scan
# of a cached 4-row array", and the probe side never shuffles. This is
# the third interval-join flavor in the corpus (t_interval_join =
# keyless bucketized equi-join for *large* interval sides, t_asof_join
# = temporal nearest-predecessor); band lookup is the one you want
# when the interval side is dimension-sized. Bands are half-open and
# exhaustive, so the join is exactly row-preserving.
# ---------------------------------------------------------------------------
_TIERS = [
    ("T1_budget", 0.0, 100_000.0),
    ("T2_mid", 100_000.0, 200_000.0),
    ("T3_high", 200_000.0, 300_000.0),
    ("T4_jumbo", 300_000.0, 1e12),
]


@register(
    "j11_broadcast_band_lookup",
    f"""
    WITH tiers(tier, lo, hi) AS (
      VALUES {", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in _TIERS)}
    )
    SELECT tier,
           CAST(COUNT(*) AS BIGINT) AS order_cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS tier_total,
           {duck_round_div(
               'CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)',
               'COUNT(*) * 100', 2)} AS tier_avg
    FROM orders JOIN tiers ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY tier
    """,
)
def j11_broadcast_band_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    tiers = literal_frame(spark, _TIERS, "tier string, lo double, hi double")
    p = F.col("o_totalprice")
    j = t.orders.join(
        F.broadcast(tiers), (p >= F.col("lo")) & (p < F.col("hi"))
    )
    g = j.groupBy("tier").agg(
        F.count(F.lit(1)).alias("order_cnt"),
        F.sum(p.cast("decimal(18,2)")).alias("total_dec"),
        F.sum(p.cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    return g.select(
        "tier",
        F.col("order_cnt").cast("long").alias("order_cnt"),
        F.col("total_dec").cast("double").alias("tier_total"),
        round_div(F.col("cents"), F.col("order_cnt") * 100, "tier_avg", 2),
    )


# ---------------------------------------------------------------------------
# SCD Type-2 dimension maintenance (operators/scd.py): the reference's
# warehouse load is a Type-1 last-write-wins upsert
# (healthcare-data-pipeline-main.py:606-670); this is the
# history-preserving upgrade. Scenario: customers with negative
# balances are reclassified to a DELINQUENT segment effective
# 2024-06-01 — unchanged customers pass through, changed ones get a
# closed-out row plus a fresh current row. The merge is one broadcast
# full-outer join on the business key + a three-branch union; at
# 100 TB the dimension side stays broadcast-sized.
# ---------------------------------------------------------------------------
_SCD_T0, _SCD_T1 = "2024-01-01", "2024-06-01"


@register(
    "scd2_customer_segments",
    f"""
    WITH upd AS (
      SELECT c_custkey,
             c_mktsegment AS old_seg,
             CASE WHEN c_acctbal < 0 THEN 'DELINQUENT'
                  ELSE c_mktsegment END AS new_seg
      FROM customer
    )
    SELECT c_custkey, old_seg AS segment,
           TIMESTAMP '{_SCD_T0}' AS valid_from,
           CAST(NULL AS TIMESTAMP) AS valid_to,
           CAST(1 AS INT) AS is_current
    FROM upd WHERE old_seg = new_seg
    UNION ALL
    SELECT c_custkey, old_seg,
           TIMESTAMP '{_SCD_T0}', TIMESTAMP '{_SCD_T1}', CAST(0 AS INT)
    FROM upd WHERE old_seg <> new_seg
    UNION ALL
    SELECT c_custkey, new_seg,
           TIMESTAMP '{_SCD_T1}', CAST(NULL AS TIMESTAMP), CAST(1 AS INT)
    FROM upd WHERE old_seg <> new_seg
    """,
)
def scd2_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd import scd2_apply

    t = load_tables(spark, sf_dir)
    dim = t.customer.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit(_SCD_T0).cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = t.customer.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "DELINQUENT")
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
    )
    merged = scd2_apply(dim, updates, "c_custkey", ["segment"], _SCD_T1)
    return merged.select(
        "c_custkey",
        "segment",
        "valid_from",
        "valid_to",
        F.col("is_current").cast("int").alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Ordered funnel analysis: view → click → purchase, each step strictly
# after the user's first occurrence of the previous step.
#
# Shape (r10): a pre-aggregated gating chain. The view stage partial-
# aggregates map-side, so its shuffle carries ~n_users rows, never raw
# view rows — and views dominate real funnels (10x clicks, 100x
# purchases). Clicks and purchases each shuffle RAW exactly once, as
# the probe side of their gating join; that volume is irreducible: the
# gated min (min click ts > t0) has no lossless bounded per-(user,
# type) partial state, because for thresholds just below it EVERY
# distinct click is the answer — the candidate set IS the history. The
# stages form a LINEAR right-outer chain (click probe → per-user frame
# → purchase probe), each frame consumed exactly once, and every join
# and rollup after the three stage shuffles rides the same user_id
# hash partitioning exchange-free.
#
# The r9 window formulation (one shuffle of ALL raw rows + three
# whole-partition windows) was REJECTED on scale review: its single
# exchange moved view+click+purchase rows with zero map-side
# reduction, and UnboundedWindow buffers each user's full event
# history per partition — a hot-user skew hazard. The chain streams
# through sort-merge joins with constant per-group aggregate state
# instead. (The r8 shape — 7 scans / 12 exchanges — stays rejected;
# this one scans events 3x column-pruned + type-filtered, shuffles
# n_users + clicks + purchases.) The time-to-convert average is exact
# integer microsecond arithmetic.
# ---------------------------------------------------------------------------
@register(
    "t_funnel_conversion",
    f"""
    WITH v AS (SELECT user_id, MIN(ts) AS t0 FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS t1
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t0
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t2
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t1
          GROUP BY e.user_id),
    pv AS (SELECT SUM(epoch_us(p.t2) - epoch_us(v.t0)) AS us_sum,
                  COUNT(*) AS n_purchase
           FROM p JOIN v ON p.user_id = v.user_id)
    SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_click,
           CAST(pv.n_purchase AS BIGINT) AS n_purchase,
           {duck_round_div('(SELECT COUNT(*) FROM c) * 100',
                           '(SELECT COUNT(*) FROM v)', 2)} AS click_pct,
           {duck_round_div('pv.n_purchase * 100',
                           '(SELECT COUNT(*) FROM c)', 2)} AS purchase_pct,
           {duck_round_div('pv.us_sum', 'pv.n_purchase * 1000000', 2)}
             AS avg_secs_to_convert
    FROM pv
    """,
)
def t_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    ev = t.events.select("user_id", "event_type", "ts")

    def stage(ev_type: str) -> DataFrame:
        return ev.filter(F.col("event_type") == ev_type).select(
            "user_id", "ts"
        )

    # t0: partial_min shrinks view rows to one per user BEFORE the
    # exchange — the only stage whose raw rows never shuffle
    v = stage("view").groupBy("user_id").agg(F.min("ts").alias("t0"))
    # t1/t2: gating stages as RIGHT-outer probe joins, each consuming
    # the previous stage's frame exactly once (a linear chain — no
    # re-join assembly, so nothing is planned twice). The fact side
    # shuffles raw once onto the user_id partitioning the aggregate
    # side already has; the post-join conditional-min rollup is
    # exchange-free on that partitioning (constant state, streams
    # through SMJ — no per-user buffering, no hot-user skew cliff).
    # Right-outer keeps drop-off users with NULL step times; the
    # carried t0/t1 are per-user constants, recovered with max().
    vc = (
        stage("click")
        .withColumnRenamed("ts", "cts")
        .join(v, "user_id", "right")
        .groupBy("user_id")
        .agg(
            F.max("t0").alias("t0"),
            F.min(
                F.when(F.col("cts") > F.col("t0"), F.col("cts"))
            ).alias("t1"),
        )
    )
    per_user = (
        stage("purchase")
        .withColumnRenamed("ts", "pts")
        .join(vc, "user_id", "right")
        .groupBy("user_id")
        .agg(
            F.max("t0").alias("t0"),
            F.max("t1").alias("t1"),
            F.min(
                F.when(F.col("pts") > F.col("t1"), F.col("pts"))
            ).alias("t2"),
        )
    )
    r = per_user.agg(
        F.count("t0").alias("n_view"),
        F.count("t1").alias("n_click"),
        F.count("t2").alias("n_purchase"),
        F.sum(
            F.when(
                F.col("t2").isNotNull(),
                F.unix_micros("t2") - F.unix_micros("t0"),
            )
        ).alias("us_sum"),
    )
    return r.select(
        F.col("n_view").cast("long").alias("n_view"),
        F.col("n_click").cast("long").alias("n_click"),
        F.col("n_purchase").cast("long").alias("n_purchase"),
        round_div(F.col("n_click") * 100, F.col("n_view"), "click_pct", 2),
        round_div(
            F.col("n_purchase") * 100, F.col("n_click"), "purchase_pct", 2
        ),
        round_div(
            F.col("us_sum"), F.col("n_purchase") * 1_000_000,
            "avg_secs_to_convert", 2,
        ),
    )


# ---------------------------------------------------------------------------
# Blocked fuzzy-name matching: candidate duplicate pairs among distinct
# part names with edit distance <= 4, blocked on the trailing token.
# The blocking key is what makes fuzzy matching survive scale: the
# quadratic levenshtein comparison only runs WITHIN blocks, turning an
# O(n²) all-pairs scan into an equi-join on block plus per-block
# pair enumeration (at 100 TB you'd pick blocks to keep the largest
# block bounded — multiple redundant blockings beat one permissive
# one). The distinct-name projection runs first so the fact-table
# multiplicity never enters the pair space.
# ---------------------------------------------------------------------------
_FUZZ_MAX = 4


@register(
    "dedup_fuzzy_names",
    f"""
    WITH names AS (
      SELECT DISTINCT p_name AS name,
             {DUCK_TOKENS.format(text="p_name")}[-1] AS block
      FROM part
    )
    SELECT a.block AS block, a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS INT) AS edit_dist
    FROM names a JOIN names b ON a.block = b.block AND a.name < b.name
    WHERE levenshtein(a.name, b.name) <= {_FUZZ_MAX}
    """,
)
def dedup_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    names = (
        t.part.select(F.col("p_name").alias("name"))
        .distinct()
        .withColumn("block", F.element_at(tokens(F.col("name")), -1))
    )
    a, b = names.alias("a"), names.alias("b")
    dist = F.levenshtein(F.col("a.name"), F.col("b.name"))
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.name") < F.col("b.name")),
        )
        .filter(dist <= _FUZZ_MAX)
        .select(
            F.col("a.block").alias("block"),
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            dist.cast("int").alias("edit_dist"),
        )
    )


# ---------------------------------------------------------------------------
# Referential-integrity and key-uniqueness audit: orphan-FK counts for
# every fact→dim edge of the star schema plus duplicate-PK counts —
# the constraint checks an RDBMS enforces on write (the reference
# declares FOREIGN KEY / PRIMARY KEY in its DDL,
# healthcare-sql-analytics.sql:67-92) and a lakehouse must audit on
# read. Orphan checks are anti-joins (broadcast when the dim is small;
# AQE decides); uniqueness is count vs count-distinct in one partial-
# aggregated pass per table. Output is one row per constraint, so the
# audit composes into a scheduled data-quality report at any scale.
# ---------------------------------------------------------------------------
@register(
    "dq_referential_audit",
    """
    SELECT 'fk' AS check_type, 'lineitem.l_orderkey->orders' AS constraint_name,
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS violation_cnt
    UNION ALL
    SELECT 'fk', 'orders.o_custkey->customer',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'fk', 'lineitem.l_partkey->part',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM part p
                                   WHERE p.p_partkey = l.l_partkey)) AS BIGINT)
    UNION ALL
    SELECT 'fk', 'lineitem.l_suppkey->supplier',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                   WHERE s.s_suppkey = l.l_suppkey)) AS BIGINT)
    UNION ALL
    SELECT 'pk', 'orders.o_orderkey unique',
           CAST((SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders)
                AS BIGINT)
    UNION ALL
    SELECT 'pk', 'customer.c_custkey unique',
           CAST((SELECT COUNT(*) - COUNT(DISTINCT c_custkey) FROM customer)
                AS BIGINT)
    """,
)
def dq_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r14 restructure (guide §2.4): the r13 shape ran SIX independent
    # single-row subqueries — lineitem scanned 3x (one anti-join per FK
    # edge) and orders 2x. All three lineitem FK checks now ride ONE
    # fact scan with three left joins against DISTINCT dim-key sets
    # (a missed join ⇔ an anti-join survivor, and distinct build sides
    # cannot multiply fact rows, so the conditional counts equal the
    # anti-join counts exactly); orders' FK check and its PK-uniqueness
    # check share one scan the same way. The planner keeps join
    # strategy freedom (no broadcast hints — at warehouse scale the
    # orders key set outgrows a broadcast and AQE picks SMJ, exactly
    # as it did for the anti-joins). stack() replays the six audit
    # rows in the original UNION ALL order from the one assembled row.
    t = load_tables(spark, sf_dir)
    li_cnts = (
        t.lineitem.select("l_orderkey", "l_partkey", "l_suppkey")
        .join(
            t.orders.select(F.col("o_orderkey").alias("__ok")).distinct(),
            F.col("l_orderkey") == F.col("__ok"),
            "left",
        )
        .join(
            t.part.select(F.col("p_partkey").alias("__pk")).distinct(),
            F.col("l_partkey") == F.col("__pk"),
            "left",
        )
        .join(
            t.supplier.select(F.col("s_suppkey").alias("__sk")).distinct(),
            F.col("l_suppkey") == F.col("__sk"),
            "left",
        )
        .agg(
            F.coalesce(
                F.sum(F.col("__ok").isNull().cast("long")), F.lit(0)
            ).alias("v_ord"),
            F.coalesce(
                F.sum(F.col("__pk").isNull().cast("long")), F.lit(0)
            ).alias("v_part"),
            F.coalesce(
                F.sum(F.col("__sk").isNull().cast("long")), F.lit(0)
            ).alias("v_supp"),
        )
    )
    o_cnts = (
        t.orders.select("o_custkey", "o_orderkey")
        .join(
            t.customer.select(F.col("c_custkey").alias("__ck")).distinct(),
            F.col("o_custkey") == F.col("__ck"),
            "left",
        )
        .agg(
            F.coalesce(
                F.sum(F.col("__ck").isNull().cast("long")), F.lit(0)
            ).alias("v_cust"),
            (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias(
                "v_opk"
            ),
        )
    )
    c_cnts = t.customer.agg(
        (F.count(F.lit(1)) - F.countDistinct("c_custkey")).alias("v_cpk")
    )
    return li_cnts.crossJoin(o_cnts).crossJoin(c_cnts).select(
        F.expr(
            "stack(6, "
            "'fk', 'lineitem.l_orderkey->orders', v_ord, "
            "'fk', 'orders.o_custkey->customer', v_cust, "
            "'fk', 'lineitem.l_partkey->part', v_part, "
            "'fk', 'lineitem.l_suppkey->supplier', v_supp, "
            "'pk', 'orders.o_orderkey unique', v_opk, "
            "'pk', 'customer.c_custkey unique', v_cpk) "
            "AS (check_type, constraint_name, violation_cnt)"
        )
    ).select(
        "check_type",
        "constraint_name",
        F.col("violation_cnt").cast("long").alias("violation_cnt"),
    )


# ---------------------------------------------------------------------------
# Deterministic surrogate-key assignment: build a (lang, source)
# dimension with dense surrogate ids from a total order on the
# business key, then attach the key to every document — the dim-build
# primitive behind every star-schema load. NOT
# monotonically_increasing_id(): that is partition-layout-dependent
# and unstable under retries; a rank over the business-key order is
# reproducible on any cluster shape. The ranked dim is tiny (distinct
# combos), so the attach join broadcasts; the only full-data cost is
# one distinct aggregation.
# ---------------------------------------------------------------------------
@register(
    "ds_surrogate_keys",
    """
    WITH dim AS (
      SELECT lang, source,
             ROW_NUMBER() OVER (ORDER BY lang, source) AS sk
      FROM (SELECT DISTINCT lang, source FROM documents)
    )
    SELECT d.doc_id, d.lang, d.source, CAST(dim.sk AS BIGINT) AS sk
    FROM documents d JOIN dim ON d.lang = dim.lang AND d.source = dim.source
    """,
)
def ds_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    dim = (
        t.documents.select("lang", "source")
        .distinct()
        .withColumn(
            "sk", F.row_number().over(Window.orderBy("lang", "source"))
        )
    )
    return t.documents.join(F.broadcast(dim), ["lang", "source"]).select(
        "doc_id", "lang", "source", F.col("sk").cast("long").alias("sk")
    )


# ---------------------------------------------------------------------------
# Exponentially-weighted moving average per user: a RECURSIVE sequence
# statistic (ema_i = α·x_i + (1-α)·ema_{i-1}) that no window frame can
# express — computed as a higher-order fold over the per-user event
# sequence, seeded with the first value. Both engines fold in the same
# deterministic (ts, event_id) order with the same IEEE double ops, so
# the result is bit-identical without any rounding. α = 0.5 is exact
# in binary. Per-user sequences are bounded (sessions, not the
# corpus), so collect_list stays small; at 100 TB with million-event
# keys you'd swap the fold for applyInPandasWithState over time order.
# ---------------------------------------------------------------------------
@register(
    "t_ewma",
    """
    WITH s AS (
      SELECT user_id,
             list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(vals) AS BIGINT) AS n_events,
           CAST(vals[-1] AS DOUBLE) AS last_value,
           CAST(list_reduce(vals, (a, b) -> 0.5 * b + 0.5 * a) AS DOUBLE)
             AS ewma
    FROM s
    """,
)
def t_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    s = t.events.groupBy("user_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "value"))
            ),
            lambda r: r["value"].cast("double"),
        ).alias("vals")
    )
    return s.select(
        "user_id",
        F.size("vals").cast("long").alias("n_events"),
        F.element_at("vals", -1).cast("double").alias("last_value"),
        F.expr(
            "aggregate(slice(vals, 2, size(vals) - 1),"
            " vals[0], (a, b) -> 0.5D * b + 0.5D * a)"
        ).cast("double").alias("ewma"),
    )


# ---------------------------------------------------------------------------
# Sliding character chunking (Catalyst-native twin of the ChunkUDTF in
# functions/udtf_ops.py): fixed-length chunks with overlap via
# sequence + explode + substring — the shard-preparation step before
# tokenization/embedding. Pure map-side fan-out: no shuffle at all,
# output partitioning inherits the scan, and chunk boundaries are
# byte-deterministic. The inclusive-bound sequence spec matches
# DuckDB's generate_series exactly (both ends inclusive, step 90).
# ---------------------------------------------------------------------------
_CHUNK_LEN, _CHUNK_STRIDE = 120, 90


@register(
    "text_chunks",
    f"""
    SELECT doc_id,
           CAST(start AS INT) AS chunk_start,
           substr(text, start + 1, {_CHUNK_LEN}) AS chunk,
           CAST(length(substr(text, start + 1, {_CHUNK_LEN})) AS INT)
             AS chunk_len
    FROM (
      SELECT doc_id, text,
             unnest(generate_series(0, greatest(length(text) - 1, 0),
                                    {_CHUNK_STRIDE})) AS start
      FROM documents
    )
    """,
)
def text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    starts = F.explode(
        F.sequence(
            F.lit(0),
            F.greatest(F.length("text") - 1, F.lit(0)),
            F.lit(_CHUNK_STRIDE),
        )
    )
    return (
        t.documents.select("doc_id", "text", starts.alias("start"))
        .select(
            "doc_id",
            F.col("start").cast("int").alias("chunk_start"),
            F.expr(f"substr(text, start + 1, {_CHUNK_LEN})").alias("chunk"),
            F.length(F.expr(f"substr(text, start + 1, {_CHUNK_LEN})"))
            .cast("int")
            .alias("chunk_len"),
        )
    )


# ---------------------------------------------------------------------------
# Chi-square contingency test: are document language and source
# independent? Observed (lang × source) counts vs expected
# row·col/total, χ² = Σ (o-e)²/e. Cross-engine FP doctrine: each
# cell's contribution is a handful of identical IEEE ops (bit-equal in
# both engines), rounded to 6 dp and cast to DECIMAL *before* the
# final sum — so the sum is exact decimal addition and immune to
# accumulation-order drift between Spark's partial aggregation and
# DuckDB's. The contingency table is (langs × sources)-sized, so
# everything after the first count aggregate is a few hundred rows at
# any corpus scale; the margins attach via broadcast-sized windows.
# ---------------------------------------------------------------------------
@register(
    "a23_chisq_contingency",
    """
    WITH cells AS (
      SELECT lang, source, CAST(COUNT(*) AS DOUBLE) AS o
      FROM documents GROUP BY lang, source
    ),
    m AS (
      SELECT lang, source, o,
             SUM(o) OVER (PARTITION BY lang) AS row_t,
             SUM(o) OVER (PARTITION BY source) AS col_t,
             SUM(o) OVER () AS n
      FROM cells
    ),
    contrib AS (
      SELECT n,
             CAST(ROUND((o - row_t * col_t / n) * (o - row_t * col_t / n)
                        / (row_t * col_t / n), 6) AS DECIMAL(18,6)) AS c
      FROM m
    )
    SELECT CAST(ROUND(CAST(SUM(c) AS DOUBLE), 4) AS DOUBLE) AS chi2,
           CAST((SELECT (COUNT(DISTINCT lang) - 1)
                        * (COUNT(DISTINCT source) - 1) FROM documents)
                AS BIGINT) AS dof,
           CAST(MAX(n) AS BIGINT) AS n
    FROM contrib
    """,
)
def a23_chisq_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cells = t.documents.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("double").alias("o")
    )
    m = (
        cells.withColumn("row_t", F.sum("o").over(Window.partitionBy("lang")))
        .withColumn("col_t", F.sum("o").over(Window.partitionBy("source")))
        .withColumn("n", F.sum("o").over(Window.partitionBy()))
    )
    e = F.col("row_t") * F.col("col_t") / F.col("n")
    contrib = m.select(
        "n",
        F.round((F.col("o") - e) * (F.col("o") - e) / e, 6)
        .cast("decimal(18,6)")
        .alias("c"),
    )
    dof = t.documents.agg(
        ((F.countDistinct("lang") - 1) * (F.countDistinct("source") - 1))
        .cast("long")
        .alias("dof")
    )
    agg = contrib.agg(
        F.round(F.sum("c").cast("double"), 4).cast("double").alias("chi2"),
        F.max("n").cast("long").alias("n"),
    )
    return agg.crossJoin(dof).select("chi2", "dof", "n")


# ---------------------------------------------------------------------------
# Benford first-digit audit: the leading-digit distribution of order
# totals vs Benford's log10(1 + 1/d) expectation — the classic
# anomaly/fraud screen for financial fact tables. One partial-
# aggregated count by digit (9 groups at any scale) + constant
# expected shares; deviations use the exact integer round_div so both
# engines agree bit-for-bit. A synthetic uniform-ish price column
# deviates from Benford wildly — the point of the audit is the
# *measurement*, which the oracle pins exactly.
# ---------------------------------------------------------------------------
@register(
    "dq_benford_audit",
    f"""
    WITH d AS (
      -- floor, not CAST: double->BIGINT rounds-to-nearest in DuckDB
      -- but truncates in Spark; floor is identical in both engines
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    c AS (SELECT digit, COUNT(*) AS cnt FROM d GROUP BY digit),
    tot AS (SELECT SUM(cnt) AS n FROM c)
    SELECT digit,
           CAST(cnt AS BIGINT) AS cnt,
           {duck_round_div('cnt', 'n', 6)} AS observed_frac,
           CAST(ROUND(log10(1.0 + 1.0 / digit), 4) AS DOUBLE) AS benford_frac
    FROM c, tot
    """,
)
def dq_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    d = t.orders.filter(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("cnt"))
    c = c.withColumn("n", F.sum("cnt").over(Window.partitionBy()))
    return c.select(
        "digit",
        F.col("cnt").cast("long").alias("cnt"),
        round_div(F.col("cnt"), F.col("n"), "observed_frac", 6),
        F.round(F.log10(1.0 + 1.0 / F.col("digit")), 4)
        .cast("double")
        .alias("benford_frac"),
    )


# ---------------------------------------------------------------------------
# Per-language token entropy (corpus diversity): H = -Σ p·ln p over
# the token distribution — the curation metric that flags degenerate
# or over-deduplicated corpus slices. Same exactness doctrine as the
# χ² query: per-token contributions are identical IEEE doubles,
# rounded to 8 dp, summed as exact decimals. The (lang, token) count
# is the only corpus-scale shuffle; the entropy sum runs over the
# vocabulary.
# ---------------------------------------------------------------------------
@register(
    "text_token_entropy",
    f"""
    WITH tok AS (SELECT lang, unnest({_TOKS}) AS token FROM documents),
    c AS (SELECT lang, token, COUNT(*) AS cnt FROM tok GROUP BY lang, token),
    m AS (
      SELECT lang, cnt, SUM(cnt) OVER (PARTITION BY lang) AS n
      FROM c
    ),
    contrib AS (
      SELECT lang, n,
             CAST(ROUND(-(CAST(cnt AS DOUBLE) / n)
                        * ln(CAST(cnt AS DOUBLE) / n), 8)
                  AS DECIMAL(18,8)) AS h
      FROM m
    )
    SELECT lang,
           CAST(MAX(n) AS BIGINT) AS token_cnt,
           CAST(COUNT(*) AS BIGINT) AS vocab_size,
           CAST(ROUND(CAST(SUM(h) AS DOUBLE), 4) AS DOUBLE) AS entropy_nats
    FROM contrib
    GROUP BY lang
    """,
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    tok = t.documents.select(
        "lang", F.explode(tokens(F.col("text"))).alias("token")
    )
    c = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("cnt"))
    m = c.withColumn("n", F.sum("cnt").over(Window.partitionBy("lang")))
    p = F.col("cnt").cast("double") / F.col("n")
    contrib = m.select(
        "lang",
        "n",
        F.round(-p * F.log(p), 8).cast("decimal(18,8)").alias("h"),
    )
    return contrib.groupBy("lang").agg(
        F.max("n").cast("long").alias("token_cnt"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.round(F.sum("h").cast("double"), 4).cast("double")
        .alias("entropy_nats"),
    )
