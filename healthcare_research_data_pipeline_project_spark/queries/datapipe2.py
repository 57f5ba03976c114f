"""Training-data pipeline corpus, part 2: corpus n-gram statistics,
repetition-based quality filtering (Gopher-style), benchmark
decontamination, stratified sampling, time-series gap-filling, and
multidimensional/array batteries.

These extend `datapipe.py` with the curation operators an LLM
training-data pipeline runs between raw crawl and tokenized shards.
Everything stays JVM-side (higher-order Catalyst expressions, no
Python UDFs); every ratio uses the exact integer-arithmetic rounding
from `functions.helpers` so the DuckDB oracle matches bit-for-bit.

Scale notes are per-operator: each docstring says what the plan does
at 100 TB (what shuffles, what broadcasts, what would be precomputed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import track_persist
from ..functions.helpers import duck_round_div, round_div
from ..functions.text import DUCK_TOKENS, duck_shingles, shingles, tokens
from ..operators.scale import duck_hash_bucket, hash_bucket, prefix_sum
from ..session import memo, scratch_dir
from ..tables import load_tables, table_path
from . import register

_TOKS = DUCK_TOKENS.format(text="text")

# Bigram builders. Spark `sequence(0, n)` generates a *descending*
# sequence when n < 0, so single-token docs can't use the
# sequence-slice idiom — the (element, index) transform lambda with a
# null-filter sidesteps it. DuckDB's generate_series(1, 0) is empty,
# so the plain form is safe there.
_BIGRAMS_SPARK = (
    "filter(transform({toks}, (t, i) -> CASE WHEN i < size({toks}) - 1"
    " THEN concat(t, ' ', {toks}[i + 1]) END), x -> x IS NOT NULL)"
)
_BIGRAMS_DUCK = (
    "list_transform(generate_series(1, len({toks}) - 1),"
    " i -> {toks}[i] || ' ' || {toks}[i + 1])"
)


def _bigrams(toks_col: str) -> F.Column:
    return F.expr(_BIGRAMS_SPARK.format(toks=toks_col))


# ---------------------------------------------------------------------------
# Corpus n-gram statistics: top-10 bigrams per language.
# 100 TB: explode(bigrams) is the map side; the (lang, bigram) count is
# one partial-aggregated shuffle; the per-lang top-k is a second tiny
# shuffle over already-aggregated rows (card = distinct bigrams). For a
# web-scale vocabulary you'd add a count-min/frequency-floor filter
# between the two aggregations; at corpus scale the exact form is right.
# ---------------------------------------------------------------------------
_TOP_BG = 10


@register(
    "text_ngram_counts",
    f"""
    WITH d AS (SELECT lang, {_TOKS} AS toks FROM documents),
    b AS (SELECT lang, unnest({_BIGRAMS_DUCK.format(toks='toks')}) AS bigram
          FROM d),
    c AS (SELECT lang, bigram, COUNT(*) AS cnt FROM b GROUP BY lang, bigram),
    r AS (SELECT lang, bigram, cnt,
                 ROW_NUMBER() OVER (PARTITION BY lang
                                    ORDER BY cnt DESC, bigram) AS rnk
          FROM c)
    SELECT lang, bigram, CAST(cnt AS BIGINT) AS cnt, CAST(rnk AS INT) AS rnk
    FROM r WHERE rnk <= {_TOP_BG}
    """,
)
def text_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    d = t.documents.withColumn("toks", tokens(F.col("text")))
    b = d.select("lang", F.explode(_bigrams("toks")).alias("bigram"))
    c = b.groupBy("lang", "bigram").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), "bigram")
    return (
        c.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_BG)
        .select("lang", "bigram", F.col("cnt").cast("long").alias("cnt"),
                F.col("rnk").cast("int").alias("rnk"))
    )


# ---------------------------------------------------------------------------
# Repetition-based quality filter (Gopher-rule style): most-frequent-
# token fraction, duplicate-shingle fraction, top-bigram fraction, and
# a keep flag from integer-exact threshold comparisons
# (top_token ≤ 0.2 · tokens, dup shingles ≤ 0.3, top bigram ≤ 0.2).
# All per-row higher-order expressions — a pure map stage, no shuffle;
# at 100 TB this runs scan-speed inside whole-stage codegen and the
# keep flag drives a pushdown-friendly filter on the next stage.
# The per-doc O(distinct·n) frequency scan is bounded by document
# length, not data size.
# ---------------------------------------------------------------------------
def _top_freq_spark(arr: str) -> str:
    return (
        f"array_max(transform(array_distinct({arr}),"
        f" t -> size(filter({arr}, x -> x = t))))"
    )


def _top_freq_duck(arr: str) -> str:
    return (
        f"list_max(list_transform(list_distinct({arr}),"
        f" t -> len(list_filter({arr}, x -> x = t))))"
    )


@register(
    "text_repetition_stats",
    f"""
    WITH d AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(toks) AS token_cnt,
             {_top_freq_duck('toks')} AS top_token_cnt,
             len({duck_shingles('toks')}) AS sh_cnt,
             len(list_distinct({duck_shingles('toks')})) AS sh_distinct,
             {_BIGRAMS_DUCK.format(toks='toks')} AS bg
      FROM d
    ),
    x AS (
      SELECT doc_id, token_cnt, top_token_cnt, sh_cnt, sh_distinct,
             len(bg) AS bg_cnt,
             CASE WHEN len(bg) = 0 THEN 0
                  ELSE {_top_freq_duck('bg')} END AS top_bg_cnt
      FROM m
    )
    SELECT doc_id,
           CAST(token_cnt AS BIGINT) AS token_cnt,
           {duck_round_div('top_token_cnt', 'token_cnt', 4)} AS top_token_frac,
           {duck_round_div('sh_cnt - sh_distinct', 'sh_cnt', 4)}
             AS dup_shingle_frac,
           {duck_round_div('top_bg_cnt', 'bg_cnt', 4)} AS top_bigram_frac,
           CAST(CASE WHEN top_token_cnt * 10 <= token_cnt * 2
                      AND (sh_cnt - sh_distinct) * 10 <= sh_cnt * 3
                      AND top_bg_cnt * 10 <= bg_cnt * 2
                     THEN 1 ELSE 0 END AS INT) AS keep
    FROM x
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    d = (
        t.documents.withColumn("toks", tokens(F.col("text")))
        .withColumn("token_cnt", F.size("toks"))
        .withColumn("top_token_cnt", F.expr(_top_freq_spark("toks")))
        .withColumn("sh", shingles("toks"))
        .withColumn("sh_cnt", F.size("sh"))
        .withColumn("sh_distinct", F.size(F.array_distinct("sh")))
        .withColumn("bg", _bigrams("toks"))
        .withColumn("bg_cnt", F.size("bg"))
        .withColumn(
            "top_bg_cnt",
            F.when(F.col("bg_cnt") == 0, F.lit(0)).otherwise(
                F.expr(_top_freq_spark("bg"))
            ),
        )
    )
    keep = (
        (F.col("top_token_cnt") * 10 <= F.col("token_cnt") * 2)
        & ((F.col("sh_cnt") - F.col("sh_distinct")) * 10 <= F.col("sh_cnt") * 3)
        & (F.col("top_bg_cnt") * 10 <= F.col("bg_cnt") * 2)
    )
    return d.select(
        "doc_id",
        F.col("token_cnt").cast("long").alias("token_cnt"),
        round_div(F.col("top_token_cnt"), F.col("token_cnt"), "top_token_frac", 4),
        round_div(
            F.col("sh_cnt") - F.col("sh_distinct"), F.col("sh_cnt"),
            "dup_shingle_frac", 4,
        ),
        round_div(F.col("top_bg_cnt"), F.col("bg_cnt"), "top_bigram_frac", 4),
        F.when(keep, 1).otherwise(0).cast("int").alias("keep"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination: flag training documents whose shingle sets
# overlap a held-out eval split (doc_id % 97 == 0 — deterministic, so
# both engines pick the identical split). The eval shingle vocabulary
# is tiny relative to the corpus → broadcast to every executor, and the
# per-doc hit count is a map-side join + one aggregation keyed by
# doc_id (pre-partitioned by the explode, combiner-friendly).
# 100 TB: eval sets are MBs while the corpus is TBs, so the broadcast
# never becomes the bottleneck; if the eval vocabulary outgrew memory
# you'd switch the hit-count join to a bloom-filter pre-pass.
# ---------------------------------------------------------------------------
_EVAL_MOD = 97
_CONTAM_NUM, _CONTAM_DEN = 1, 20  # flag when hits/total >= 1/20


@register(
    "text_decontaminate",
    f"""
    WITH d AS (
      SELECT doc_id, list_distinct({duck_shingles(_TOKS)}) AS sh
      FROM documents
    ),
    ev AS (
      SELECT list_distinct(flatten(list(sh))) AS es
      FROM d WHERE doc_id % {_EVAL_MOD} = 0
    ),
    t AS (SELECT doc_id, sh FROM d WHERE doc_id % {_EVAL_MOD} <> 0)
    SELECT t.doc_id,
           CAST(len(sh) AS BIGINT) AS shingle_cnt,
           CAST(len(list_intersect(sh, es)) AS BIGINT) AS contaminated_cnt,
           {duck_round_div('len(list_intersect(sh, es))', 'len(sh)', 4)}
             AS contamination_ratio,
           CAST(CASE WHEN len(list_intersect(sh, es)) * {_CONTAM_DEN}
                          >= len(sh) * {_CONTAM_NUM}
                     THEN 1 ELSE 0 END AS INT) AS is_contaminated
    FROM t, ev
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    d = (
        t.documents.withColumn("toks", tokens(F.col("text")))
        .withColumn("sh", F.array_distinct(shingles("toks")))
    )
    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    eval_sh = (
        d.filter(is_eval)
        .select(F.explode("sh").alias("sh"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    exploded = (
        d.filter(~is_eval)
        .select("doc_id", F.size("sh").alias("shingle_cnt"),
                F.explode("sh").alias("sh"))
        .join(F.broadcast(eval_sh), "sh", "left")
    )
    agg = exploded.groupBy("doc_id", "shingle_cnt").agg(
        F.coalesce(F.sum("hit"), F.lit(0)).alias("hits")
    )
    return agg.select(
        "doc_id",
        F.col("shingle_cnt").cast("long").alias("shingle_cnt"),
        F.col("hits").cast("long").alias("contaminated_cnt"),
        round_div(F.col("hits"), F.col("shingle_cnt"), "contamination_ratio", 4),
        (F.col("hits") * _CONTAM_DEN >= F.col("shingle_cnt") * _CONTAM_NUM)
        .cast("int")
        .alias("is_contaminated"),
    )


# ---------------------------------------------------------------------------
# Stratified deterministic sampling: per-language sampling rates over
# the content-hash bucket (en 40%, de 25%, rest 10%) — the downsample/
# upweight step of corpus mixing. Pure map-side filter: no shuffle, no
# rand() (replay-safe under task retry), identical assignment in every
# engine with md5. At 100 TB the filter is evaluated at scan time.
# ---------------------------------------------------------------------------
_STRAT_SALT = "strat"


@register(
    "ds_stratified_sample",
    f"""
    SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    WHERE {duck_hash_bucket('doc_id', 100, _STRAT_SALT)} <
          CASE lang WHEN 'en' THEN 40 WHEN 'de' THEN 25 ELSE 10 END
    """,
)
def ds_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    rate = (
        F.when(F.col("lang") == "en", 40)
        .when(F.col("lang") == "de", 25)
        .otherwise(10)
    )
    return (
        t.documents.filter(hash_bucket("doc_id", 100, _STRAT_SALT) < rate)
        .select("doc_id", "lang", "source",
                F.col("n_chars").cast("long").alias("n_chars"))
    )


# ---------------------------------------------------------------------------
# Time-series gap-fill + last-observation-carried-forward: regularize
# the event stream onto a dense (event_type × day) calendar spine,
# zero-filling counts and LOCF-filling the daily average value.
# The spine is tiny (types × days) and cross-joined driver-side; the
# daily aggregate is one shuffle; LOCF is a window over the spine
# (rows per partition = #days, bounded). avg is computed in exact
# micro-unit decimals so both engines round identically.
# 100 TB: bounds would come from partition metadata (min/max of the
# date partition column) instead of a scan; the spine stays tiny.
# ---------------------------------------------------------------------------
@register(
    "t_gap_fill",
    """
    WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day, value FROM events),
    daily AS (
      SELECT event_type, day, COUNT(*) AS event_cnt,
             CAST(SUM(CAST(value AS DECIMAL(18,6)) * 1000000) AS BIGINT)
               AS micro_sum
      FROM ev GROUP BY event_type, day
    ),
    bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM ev),
    days AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
               AS day FROM bounds),
    types AS (SELECT DISTINCT event_type FROM ev),
    spine AS (
      SELECT t.event_type, d.day,
             CAST(COALESCE(daily.event_cnt, 0) AS BIGINT) AS event_cnt,
             {avg} AS avg_value
      FROM types t CROSS JOIN days d
      LEFT JOIN daily ON daily.event_type = t.event_type AND daily.day = d.day
    )
    SELECT event_type, CAST(day AS TIMESTAMP) AS day, event_cnt,
           last_value(avg_value IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS avg_value_locf
    FROM spine
    """.format(avg=duck_round_div("micro_sum", "daily.event_cnt * 1000000", 4)),
)
def t_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    ev = t.events.select("event_type", F.to_date("ts").alias("day"), "value")
    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("event_cnt"),
        F.sum(F.col("value").cast("decimal(18,6)") * 1000000)
        .cast("long")
        .alias("micro_sum"),
    )
    bounds = ev.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    days = bounds.select(F.explode(F.sequence("lo", "hi")).alias("day"))
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(days).join(daily, ["event_type", "day"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    avg = round_div(
        F.col("micro_sum"), F.col("event_cnt") * 1000000, "avg_value", 4
    )
    return spine.select(
        "event_type",
        "day",
        F.coalesce(F.col("event_cnt"), F.lit(0)).cast("long").alias("event_cnt"),
        avg,
    ).select(
        "event_type",
        # DATE-typed outputs round-trip differently through pandas in the
        # two engines (datetime.date vs datetime64) — emit timestamps
        F.col("day").cast("timestamp").alias("day"),
        "event_cnt",
        F.last("avg_value", ignorenulls=True).over(w).alias("avg_value_locf"),
    )


# ---------------------------------------------------------------------------
# GROUPING SETS: detail + per-flag subtotal + grand total in one pass
# (complements the ROLLUP/CUBE queries in extended.py). Spark computes
# all sets in a single Expand + one shuffle — cheaper at 100 TB than
# three separate aggregations and a union.
# ---------------------------------------------------------------------------
@register(
    "a19_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def a19_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t.lineitem.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Array-function battery over the embedding column: size / element
# transform + fold (L2 norm) / min-max / sort + slice (top-3 mean) /
# predicate count — the vector-column toolbox every embedding pipeline
# leans on, all whole-stage-codegen expressions (zero shuffle).
# ---------------------------------------------------------------------------
@register(
    "f_array_battery",
    f"""
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS n_dims,
           CAST(ROUND(sqrt(list_sum(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS DOUBLE)
             AS l2_norm,
           CAST(ROUND(CAST(list_max(embedding) AS DOUBLE), 4) AS DOUBLE)
             AS max_val,
           CAST(ROUND(CAST(list_min(embedding) AS DOUBLE), 4) AS DOUBLE)
             AS min_val,
           CAST(ROUND(list_sum(list_transform(
                  list_sort(embedding, 'DESC')[1:3],
                  x -> CAST(x AS DOUBLE))) / 3, 4) AS DOUBLE) AS top3_mean,
           {duck_round_div(
               'len(list_filter(embedding, x -> x > 0))', 'len(embedding)', 4)}
             AS frac_positive
    FROM embeddings
    """,
)
def f_array_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return t.embeddings.select(
        "vec_id",
        F.size("embedding").cast("int").alias("n_dims"),
        F.round(
            F.sqrt(
                F.expr(
                    "aggregate(embedding, 0.0D,"
                    " (a, x) -> a + cast(x as double) * cast(x as double))"
                )
            ),
            4,
        ).cast("double").alias("l2_norm"),
        F.round(F.array_max("embedding").cast("double"), 4)
        .cast("double")
        .alias("max_val"),
        F.round(F.array_min("embedding").cast("double"), 4)
        .cast("double")
        .alias("min_val"),
        F.round(
            F.expr(
                "aggregate(slice(sort_array(embedding, false), 1, 3), 0.0D,"
                " (a, x) -> a + cast(x as double))"
            )
            / 3,
            4,
        ).cast("double").alias("top3_mean"),
        round_div(
            F.size(F.filter(F.col("embedding"), lambda x: x > 0)),
            F.size("embedding"),
            "frac_positive",
            4,
        ),
    )


# ---------------------------------------------------------------------------
# Duplicate clustering: LSH candidate pairs → connected components →
# one cluster id per document (keep the min-id doc per cluster).
# ORACLE-CHECKED (was rows-only through r4): the LSH pair set is
# engine-portable (dedup_lsh_pairs' oracle), and the per-doc component
# labels are reproduced in DuckDB by a RECURSIVE min-label-propagation
# CTE over the same pairs — the same independent-fixpoint splice
# dedup_canonical_keep uses, here pinning the FULL per-document
# (cluster_id, cluster_size, is_keeper) assignment rather than a
# source-level rollup. 100 TB: each label-propagation round is a
# key-partitioned join + combiner aggregation; lineage is truncated
# per round (parquet ping-pong), and near-dup graphs converge in 2-4
# rounds.
# ---------------------------------------------------------------------------
def _dedup_clusters_oracle() -> str:
    from .datapipe import _lsh_pairs_oracle

    lsh = _lsh_pairs_oracle().strip()
    assert lsh.startswith("WITH "), "expected a WITH-form LSH oracle"
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
    cc AS (SELECT node AS doc_id, MIN(lab) AS cluster_id FROM r GROUP BY node),
    sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cc
           GROUP BY cluster_id)
    SELECT cc.doc_id, cc.cluster_id,
           CAST(sz.cluster_size AS BIGINT) AS cluster_size,
           CAST(CASE WHEN cc.doc_id = cc.cluster_id THEN 1 ELSE 0 END AS INT)
             AS is_keeper
    FROM cc JOIN sz USING (cluster_id)
    """


@register("dedup_clusters", _dedup_clusters_oracle())
def dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as D
    from ..operators.graph import dedup_clusters
    from .datapipe import _LSH_BANDS, _LSH_HASHES

    t = load_tables(spark, sf_dir)
    pairs = D.lsh_candidate_pairs(
        t.documents, "text", "doc_id", num_hashes=_LSH_HASHES, bands=_LSH_BANDS
    )
    return dedup_clusters(t.documents, pairs)


# ---------------------------------------------------------------------------
# Incremental cluster maintenance (r13, VERDICT r12 #5): the ~10%
# hash-split delta batch (same split as dedup_incremental_lsh) lands
# on the other ~90%'s STORED cluster assignments. The engine computes
# the delta pairs (Δ⋈old-index ∪ Δ⋈Δ — old⋈old never recomputed) and
# merges them into the stored assignments via a union-find over
# cluster REPRESENTATIVES only — components are never recomputed over
# the full pair history. The oracle is deliberately the full
# recompute: the RECURSIVE min-label-propagation CTE over the
# complete banded self-join pair set of ALL documents — the same
# oracle `dedup_clusters` pins, so hash-equality here proves
# pairs(old∪Δ)=pairs(old)∪Δpairs AND clusters(old∪Δ)=merge(stored,
# Δpairs) end to end.
# ---------------------------------------------------------------------------
def _index_pairs(index: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Candidate pairs from a stored `lsh_banded_index` frame — the
    band_key self-join, identical pair set to `lsh_candidate_pairs`
    (band_key encodes (band_idx, band_hash) uniquely) without
    re-hashing the documents."""
    a = index.alias("a")
    return (
        a.join(
            index.alias("b"),
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def _stored_cluster_state(
    spark: SparkSession, sf_dir: str, kind: str, docs: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """The warehouse state an incremental-maintenance query lands on:
    `docs`' band index and cluster assignments, built ONCE per
    (session, corpus) into on-disk parquet artifacts and read back —
    the serve-don't-rebuild lifecycle the ANN queries use
    (`session.memo`, fingerprinted on the documents table). In
    production these are durable warehouse tables; rebuilding them
    inside every timed run would charge the maintenance query for the
    one-time corpus indexing it exists to avoid. Returns (index,
    stored_assignments) as parquet-backed frames."""
    from .datapipe import _LSH_BANDS, _LSH_HASHES

    def _build():
        from ..operators import dedup as D
        from ..operators.graph import dedup_clusters

        idx_path = scratch_dir(spark, f"{kind}_index_")
        # rebalance both artifact writes (guide §6): the band index is
        # map-only off the spread source scan and would otherwise land
        # as one KB-sized file per scan task, charging every
        # steady-state maintenance call a task per file; AQE sizes the
        # file count by data volume instead.
        D.lsh_banded_index(
            docs, "text", "doc_id", _LSH_HASHES, _LSH_BANDS
        ).hint("rebalance").write.mode("overwrite").parquet(idx_path)
        idx = spark.read.parquet(idx_path)
        asg_path = scratch_dir(spark, f"{kind}_clusters_")
        dedup_clusters(docs, _index_pairs(idx)).hint("rebalance").write.mode(
            "overwrite"
        ).parquet(asg_path)
        return idx, spark.read.parquet(asg_path)

    return memo(
        spark, f"{kind}-cluster-state", sf_dir, _build,
        [table_path(sf_dir, "documents")],
    )


@register("dedup_incremental_clusters", _dedup_clusters_oracle())
def dedup_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as D
    from ..operators.graph import incremental_dedup_clusters
    from ..operators.scale import hash_bucket
    from .datapipe import _ILSH_CUT, _ILSH_SALT, _LSH_BANDS, _LSH_HASHES

    t = load_tables(spark, sf_dir)
    bucket = hash_bucket("doc_id", 1000, _ILSH_SALT)
    old = t.documents.filter(bucket < _ILSH_CUT)
    delta = t.documents.filter(bucket >= _ILSH_CUT)
    # stored state (old split's band index + assignments) comes from
    # the session artifact — the timed steady state is the actual
    # maintenance work: hash Δ, probe the stored index, merge reps
    old_index, stored = _stored_cluster_state(
        spark, sf_dir, "ilsh_old", old
    )
    delta_pairs = D.lsh_pairs_delta(
        None, delta, "text", "doc_id",
        num_hashes=_LSH_HASHES, bands=_LSH_BANDS, old_index=old_index,
    )
    return incremental_dedup_clusters(stored, delta, delta_pairs)


# ---------------------------------------------------------------------------
# Decremental cluster maintenance (r13): a ~8% hash-derived delete
# batch is removed from the full corpus's STORED cluster assignments.
# The engine repairs only the clusters that lost a member — survivors
# of affected clusters get components recomputed from candidate pairs
# re-derived out of the stored band index restricted to survivor ids
# (closed by candidate-edge closure: co-bucketed docs share a
# cluster); untouched clusters pass through verbatim. The oracle is
# again the full recompute: the RECURSIVE min-label-propagation CTE
# over ALL surviving pairs of ALL surviving documents — hash-equality
# proves clusters(corpus \\ del) = repair(stored, index, del) end to
# end, completing the insert (merge-only) + delete (split-capable)
# IVM pair for the dedup assignment table.
# ---------------------------------------------------------------------------
_DDEL_SALT, _DDEL_CUT = "ddel", 80


def _dedup_delete_oracle() -> str:
    from .datapipe import _lsh_pairs_oracle

    lsh = _lsh_pairs_oracle().strip()
    assert lsh.startswith("WITH "), "expected a WITH-form LSH oracle"
    head, final = lsh[len("WITH "):].rsplit("SELECT DISTINCT", 1)
    bucket = duck_hash_bucket("doc_id", 1000, _DDEL_SALT)
    return f"""
    WITH RECURSIVE {head.rstrip()},
    pairs AS (SELECT DISTINCT {final}),
    keep AS (SELECT doc_id FROM documents WHERE {bucket} >= {_DDEL_CUT}),
    kp AS (SELECT id_a, id_b FROM pairs
           WHERE id_a IN (SELECT doc_id FROM keep)
             AND id_b IN (SELECT doc_id FROM keep)),
    e AS (SELECT id_a AS u, id_b AS v FROM kp
          UNION ALL SELECT id_b, id_a FROM kp),
    r(node, lab) AS (
      SELECT doc_id, doc_id FROM keep
      UNION
      SELECT e.u, r.lab FROM r JOIN e ON r.node = e.v
    ),
    cc AS (SELECT node AS doc_id, MIN(lab) AS cluster_id FROM r GROUP BY node),
    sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cc
           GROUP BY cluster_id)
    SELECT cc.doc_id, cc.cluster_id,
           CAST(sz.cluster_size AS BIGINT) AS cluster_size,
           CAST(CASE WHEN cc.doc_id = cc.cluster_id THEN 1 ELSE 0 END AS INT)
             AS is_keeper
    FROM cc JOIN sz USING (cluster_id)
    """


@register("dedup_incremental_delete", _dedup_delete_oracle())
def dedup_incremental_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import decremental_dedup_clusters

    t = load_tables(spark, sf_dir)
    # stored state (full corpus band index + assignments) comes from
    # the session artifact — the timed steady state is the repair:
    # classify against the broadcast delete set, re-component only
    # the affected clusters from the stored index
    index, stored = _stored_cluster_state(
        spark, sf_dir, "ddel_full", t.documents
    )
    dels = t.documents.filter(
        hash_bucket("doc_id", 1000, _DDEL_SALT) < _DDEL_CUT
    ).select("doc_id")
    return decremental_dedup_clusters(stored, index, dels)


# ---------------------------------------------------------------------------
# BPE-ish regex tokenization (SURVEY's "token counting: whitespace + a
# BPE-ish regex"): alternation of alphanumeric runs and single
# non-space symbols — the GPT-2-style pre-tokenizer shape. Pure map
# stage; the pattern uses only RE2/Java-common syntax so both engines
# extract identical matches.
# ---------------------------------------------------------------------------
_BPE_PAT = r"[a-z0-9]+|[^a-z0-9\s]"


@register(
    "text_bpe_tokens",
    f"""
    WITH d AS (
      SELECT doc_id,
             regexp_extract_all(lower(text), '{_BPE_PAT}') AS bpe,
             {_TOKS} AS ws
      FROM documents
    )
    SELECT doc_id,
           CAST(len(bpe) AS BIGINT) AS bpe_token_cnt,
           CAST(len(list_distinct(bpe)) AS BIGINT) AS uniq_bpe_cnt,
           {duck_round_div(
               "list_sum(list_transform(bpe, t -> length(t)))", "len(bpe)", 4)}
             AS avg_bpe_len,
           {duck_round_div("len(bpe)", "len(ws)", 4)} AS subword_ratio
    FROM d
    """,
)
def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    d = t.documents.withColumn(
        # Spark SQL string literals process backslash escapes (DuckDB's
        # don't), so \s must be doubled on this side only
        "bpe",
        F.expr(
            f"regexp_extract_all(lower(text), '{_BPE_PAT.replace(chr(92), chr(92) * 2)}', 0)"
        ),
    ).withColumn("ws", tokens(F.col("text")))
    return d.select(
        "doc_id",
        F.size("bpe").cast("long").alias("bpe_token_cnt"),
        F.size(F.array_distinct("bpe")).cast("long").alias("uniq_bpe_cnt"),
        round_div(
            F.expr("aggregate(bpe, 0, (a, t) -> a + length(t))"),
            F.size("bpe"),
            "avg_bpe_len",
            4,
        ),
        round_div(F.size("bpe"), F.size("ws"), "subword_ratio", 4),
    )


# ---------------------------------------------------------------------------
# Native session windows (gap-based): Spark's session_window operator,
# oracled with the equivalent gaps-and-islands SQL. Semantics note:
# Spark session windows are half-open [start, last_ts + gap), so an
# event exactly `gap` after the previous one starts a NEW session —
# the oracle's new-session predicate is therefore `>=`, not `>`.
# Complements events_sessionize (lag+cumsum form) with the built-in
# operator, which at 100 TB runs as a single shuffle on user_id with
# in-partition sort — same cost shape, less code.
# ---------------------------------------------------------------------------
_SW_GAP_MIN = 30


@register(
    "w9_session_window",
    f"""
    WITH x AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts >= lag(ts) OVER w + INTERVAL {_SW_GAP_MIN} MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    y AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM x
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL {_SW_GAP_MIN} MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS event_cnt
    FROM y
    GROUP BY user_id, sid
    """,
)
def w9_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t.events.groupBy(
            "user_id", F.session_window("ts", f"{_SW_GAP_MIN} minutes")
        )
        .agg(F.count(F.lit(1)).alias("event_cnt"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            F.col("event_cnt").cast("long").alias("event_cnt"),
        )
    )


# ---------------------------------------------------------------------------
# Regression/covariance aggregate battery: least-squares fit of
# extendedprice against quantity per return flag — the moment-based
# aggregates (slope/intercept/R²/covariance/correlation) every
# profiling pipeline wants. All decomposable (sum/sum-of-products
# moments), so Spark computes them with map-side partial aggregation —
# one shuffle of 3 tiny rows per flag at any scale. Rounded at 4 dp:
# the moments are irrational-valued doubles (helpers module doctrine).
# ---------------------------------------------------------------------------
@register(
    "a20_regr_battery",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS DOUBLE)
             AS slope,
           CAST(ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS DOUBLE)
             AS intercept,
           CAST(ROUND(regr_r2(l_extendedprice, l_quantity), 4) AS DOUBLE)
             AS r2,
           CAST(ROUND(covar_samp(l_extendedprice, l_quantity), 4) AS DOUBLE)
             AS cov_s,
           CAST(ROUND(corr(l_extendedprice, l_quantity), 4) AS DOUBLE)
             AS corr_pq
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def a20_regr_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return t.lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.regr_slope(y, x), 4).cast("double").alias("slope"),
        F.round(F.regr_intercept(y, x), 4).cast("double").alias("intercept"),
        F.round(F.regr_r2(y, x), 4).cast("double").alias("r2"),
        F.round(F.covar_samp(y, x), 4).cast("double").alias("cov_s"),
        F.round(F.corr(y, x), 4).cast("double").alias("corr_pq"),
    )


# ---------------------------------------------------------------------------
# Null-safe equi-join (<=> / IS NOT DISTINCT FROM): group stats keyed by
# a *nullable* derived key must pair their NULL groups too — a plain
# equi-join silently drops them (NULL = NULL is NULL). Spark plans
# eqNullSafe as a hash join on a null-safe key, same shuffle shape as a
# normal equi-join at any scale.
# ---------------------------------------------------------------------------
@register(
    "j10_null_safe_join",
    f"""
    WITH a AS (
      SELECT NULLIF(o_orderpriority, '1-URGENT') AS pr,
             COUNT(*) AS total_cnt
      FROM orders GROUP BY 1
    ),
    b AS (
      SELECT NULLIF(o_orderpriority, '1-URGENT') AS pr,
             COUNT(*) AS big_cnt
      FROM orders WHERE o_totalprice > 200000 GROUP BY 1
    )
    SELECT a.pr, CAST(a.total_cnt AS BIGINT) AS total_cnt,
           CAST(COALESCE(b.big_cnt, 0) AS BIGINT) AS big_cnt,
           {duck_round_div('COALESCE(b.big_cnt, 0) * 100', 'a.total_cnt', 2)}
             AS big_pct
    FROM a LEFT JOIN b ON a.pr IS NOT DISTINCT FROM b.pr
    """,
)
def j10_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    pr = F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("pr")
    a = t.orders.groupBy(pr).agg(F.count(F.lit(1)).alias("total_cnt"))
    b = (
        t.orders.filter(F.col("o_totalprice") > 200000)
        .groupBy(pr)
        .agg(F.count(F.lit(1)).alias("big_cnt"))
    )
    j = a.join(b, a["pr"].eqNullSafe(b["pr"]), "left")
    return j.select(
        a["pr"].alias("pr"),
        F.col("total_cnt").cast("long").alias("total_cnt"),
        F.coalesce("big_cnt", F.lit(0)).cast("long").alias("big_cnt"),
        round_div(
            F.coalesce("big_cnt", F.lit(0)) * 100, F.col("total_cnt"),
            "big_pct", 2,
        ),
    )


# ---------------------------------------------------------------------------
# Window-frame value functions: first/last/nth within an explicit
# frame, completing the ranking battery (w7) with the value-positional
# family. Per-customer order history ordered by date: first order
# value, latest order value (running), second order key. One shuffle
# on the partition key; frames evaluate in-partition after sort.
# ---------------------------------------------------------------------------
@register(
    "w10_value_window_battery",
    """
    SELECT o_orderkey, o_custkey,
           CAST(first_value(o_totalprice) OVER w AS DOUBLE) AS first_price,
           CAST(last_value(o_totalprice) OVER
                (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_last_price,
           CAST(nth_value(o_orderkey, 2) OVER w AS BIGINT) AS second_orderkey
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def w10_value_window_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    full = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    running = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t.orders.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_totalprice").over(full).cast("double").alias("first_price"),
        F.last("o_totalprice").over(running).cast("double")
        .alias("running_last_price"),
        F.nth_value("o_orderkey", 2).over(full).cast("long")
        .alias("second_orderkey"),
    )


# ---------------------------------------------------------------------------
# Map-function battery: per-order map of linenumber → quantity built
# with map_from_entries(collect_list(struct(...))), then consumed via
# size / element_at / map_keys. The oracle derives the same scalars
# relationally (map values are checked through lookups, since MapType
# doesn't round-trip comparably through pandas). One shuffle on the
# group key; map construction is post-aggregation, per-group-sized.
# ---------------------------------------------------------------------------
@register(
    "f_map_battery",
    """
    WITH per_line AS (
      SELECT l_orderkey, l_linenumber,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
      FROM lineitem GROUP BY l_orderkey, l_linenumber
    )
    SELECT l_orderkey,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(MAX(CASE WHEN l_linenumber = 1 THEN qty END)
                AS DOUBLE) AS qty_line1,
           array_to_string(list_sort(list(l_linenumber)), ',') AS line_keys
    FROM per_line
    GROUP BY l_orderkey
    """,
)
def f_map_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    # map keys must be unique — aggregate to (order, linenumber) grain
    # first (synthetic lineitem repeats linenumbers within an order).
    # One explicit hash repartition on the order key satisfies BOTH
    # grouping levels (HashPartitioning(ok) clusters (ok, ln) too), so
    # the whole query runs on a single exchange instead of two.
    per_line = (
        t.lineitem.repartition("l_orderkey")
        .groupBy("l_orderkey", "l_linenumber")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"))
    )
    m = F.map_from_entries(F.collect_list(F.struct("l_linenumber", "qty")))
    g = per_line.groupBy("l_orderkey").agg(m.alias("line_map"))
    return g.select(
        "l_orderkey",
        F.size("line_map").cast("long").alias("n_lines"),
        F.element_at("line_map", F.lit(1)).cast("double").alias("qty_line1"),
        F.array_join(
            F.array_sort(F.map_keys("line_map")), ","
        ).alias("line_keys"),
    )


# ---------------------------------------------------------------------------
# Count-Min sketch, built relationally: d salted md5 hash rows × w
# buckets; the sketch is d parallel bucket-count aggregations (one
# posexplode fan-out + one shuffle of d·w counter rows), and a point
# estimate is min_j sketch[j][h_j(q)] — always an overestimate of the
# true count. Heavy-hitter frequency estimation in fixed d·w memory,
# the streaming-safe alternative to exact GROUP BY at web-vocabulary
# cardinalities. Hashes are the engine-portable md5 spec, so the whole
# sketch (not just the estimates) hash-matches the DuckDB oracle.
# ---------------------------------------------------------------------------
_CM_D, _CM_W = 4, 256
_CM_PROBES = list(range(1, 11))


# One md5 per row supplies all d hash functions: the 128-bit digest
# splits into four independent 32-bit words (substrings of the hex),
# so the fan-out costs 1 md5 instead of d — the dominant cost of the
# sketch build at scale.
def _cm_bucket_spark(j: int) -> str:
    return (
        f"(cast(conv(substring(md5(concat(cast(l_partkey as string), '#cm')),"
        f" {1 + 8 * j}, 8), 16, 10) as bigint) % {_CM_W})"
    )


def _cm_bucket_duck(j: int, key: str = "l_partkey") -> str:
    return (
        f"(CAST('0x' || substr(md5(CAST({key} AS VARCHAR) || '#cm'),"
        f" {1 + 8 * j}, 8) AS BIGINT) % {_CM_W})"
    )


@register(
    "a21_countmin_sketch",
    f"""
    WITH fanout AS (
      {" UNION ALL ".join(
          f"SELECT {j} AS j, {_cm_bucket_duck(j)} AS col FROM lineitem"
          for j in range(_CM_D))}
    ),
    sketch AS (
      SELECT j, col, COUNT(*) AS cnt FROM fanout GROUP BY j, col
    ),
    probes AS (
      {" UNION ALL ".join(
          f"SELECT {k} AS probe_key, {j} AS j,"
          f" {_cm_bucket_duck(j, str(k))} AS col"
          for k in _CM_PROBES for j in range(_CM_D))}
    ),
    est AS (
      SELECT probe_key, MIN(cnt) AS est_cnt
      FROM probes JOIN sketch USING (j, col)
      GROUP BY probe_key
    ),
    exact AS (
      SELECT l_partkey AS probe_key, COUNT(*) AS exact_cnt
      FROM lineitem WHERE l_partkey IN ({", ".join(map(str, _CM_PROBES))})
      GROUP BY l_partkey
    )
    SELECT e.probe_key AS probe_key,
           CAST(e.est_cnt AS BIGINT) AS est_cnt,
           CAST(COALESCE(x.exact_cnt, 0) AS BIGINT) AS exact_cnt,
           CAST(e.est_cnt - COALESCE(x.exact_cnt, 0) AS BIGINT) AS overcount
    FROM est e LEFT JOIN exact x ON e.probe_key = x.probe_key
    """,
)
def a21_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    li = t.lineitem
    # r9: pre-aggregate BY KEY before the d-way fan-out — sketch cell
    # counts are additive, so counting per distinct partkey first
    # (one single-column shuffle with map-side combine) and fanning
    # out WEIGHTED rows gives the identical sketch while hashing
    # |keys| values instead of |rows| (6M md5 → 200k at sf1) and
    # exploding d·|keys| rows instead of d·|rows| (24M → 800k).
    keyed = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("kcnt"))
    # materialize the digest as its OWN projection so the d bucket
    # columns are substrings of one computed md5 — structurally one
    # digest per key instead of relying on codegen subexpression
    # elimination across an exploded array constructor
    digested = keyed.select(
        F.md5(F.concat(F.col("l_partkey").cast("string"), F.lit("#cm"))).alias(
            "dig"
        ),
        "kcnt",
    )
    fan = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (
                    F.conv(F.substring("dig", 1 + 8 * j, 8), 16, 10).cast(
                        "bigint"
                    )
                    % _CM_W
                ).alias("col"),
            )
            for j in range(_CM_D)
        ]
    )
    sketch = (
        digested.select(F.explode(fan).alias("e"), "kcnt")
        .select("e.j", "e.col", "kcnt")
        .groupBy("j", "col")
        .agg(F.sum("kcnt").alias("cnt"))
    )
    probe_rows = [
        (k, j, int(__import__("hashlib").md5(f"{k}#cm".encode()).hexdigest()[8 * j:8 * j + 8], 16) % _CM_W)
        for k in _CM_PROBES
        for j in range(_CM_D)
    ]
    probes = spark.createDataFrame(probe_rows, "probe_key long, j int, col long")
    est = (
        probes.join(F.broadcast(sketch), ["j", "col"])
        .groupBy("probe_key")
        .agg(F.min("cnt").alias("est_cnt"))
    )
    exact = (
        li.filter(F.col("l_partkey").isin(_CM_PROBES))
        .groupBy(F.col("l_partkey").alias("probe_key"))
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )
    return est.join(exact, "probe_key", "left").select(
        "probe_key",
        F.col("est_cnt").cast("long").alias("est_cnt"),
        F.coalesce("exact_cnt", F.lit(0)).cast("long").alias("exact_cnt"),
        (F.col("est_cnt") - F.coalesce("exact_cnt", F.lit(0)))
        .cast("long")
        .alias("overcount"),
    )


# ---------------------------------------------------------------------------
# Corpus mixing: drive each source toward a weighted target share of
# the training mix (here: `src1*` sources get 2× the share of the
# rest). Pass 1 computes per-source counts (tiny aggregate); the
# per-source keep-rate is target_share/actual_share capped at 100%
# (undersized sources keep everything, oversized ones are hash-
# downsampled). Pass 2 filters by deterministic content-hash permille.
# The rate table is dimension-sized → broadcast; the filter itself is
# map-side. This is the mixture-weights step of corpus assembly.
# ---------------------------------------------------------------------------
@register(
    "ds_corpus_mix",
    f"""
    WITH counts AS (
      SELECT source, COUNT(*) AS src_cnt,
             CASE WHEN source LIKE 'src1%' THEN 2 ELSE 1 END AS w,
             SUM(COUNT(*)) OVER () AS total_cnt,
             SUM(CASE WHEN source LIKE 'src1%' THEN 2 ELSE 1 END) OVER ()
               AS sum_w
      FROM documents GROUP BY source
    ),
    rates AS (
      SELECT source,
             src_cnt,
             CAST(LEAST(1000, (1000 * w * total_cnt) // (sum_w * src_cnt))
                  AS BIGINT) AS keep_permille
      FROM counts
    )
    SELECT d.doc_id, d.source, r.keep_permille
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE {duck_hash_bucket('d.doc_id', 1000, 'mix')} < r.keep_permille
    """,
)
def ds_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    w_all = Window.partitionBy()
    weight = F.when(F.col("source").like("src1%"), 2).otherwise(1)
    counts = (
        t.documents.groupBy("source")
        .agg(F.count(F.lit(1)).alias("src_cnt"))
        .withColumn("w", weight)
        .withColumn("total_cnt", F.sum("src_cnt").over(w_all))
        .withColumn("sum_w", F.sum("w").over(w_all))
    )
    rates = counts.select(
        "source",
        F.least(
            F.lit(1000).cast("long"),
            F.expr("(1000 * w * total_cnt) div (sum_w * src_cnt)"),
        ).alias("keep_permille"),
    )
    return (
        t.documents.join(F.broadcast(rates), "source")
        .filter(hash_bucket("doc_id", 1000, "mix") < F.col("keep_permille"))
        .select("doc_id", "source", "keep_permille")
    )


# ---------------------------------------------------------------------------
# Sequence-packing length buckets: NTILE token-length quantile buckets
# and the padding waste each bucket pays when padded to its max length
# — the batch-shape accounting every tokenized-shard writer needs.
# NTILE semantics are computed WITHOUT the classic global
# `ntile() OVER (ORDER BY ...)` single-partition sort: a two-phase
# `prefix_sum` exact rank (range exchange + per-partition cumsum +
# broadcast partition offsets) plus the closed-form NTILE bucket
# formula applied map-side — base = N div B, rem = N % B, the first
# `rem` buckets take base+1 rows. Identical output to the window at
# any scale, with the data-sized frame never passing through one task
# (pinned by the no-single-partition plan test).
# ---------------------------------------------------------------------------
_N_BUCKETS = 8


@register(
    "ds_length_buckets",
    f"""
    WITH d AS (
      SELECT doc_id, len({_TOKS}) AS token_cnt FROM documents
    ),
    b AS (
      SELECT doc_id, token_cnt,
             NTILE({_N_BUCKETS}) OVER (ORDER BY token_cnt, doc_id) AS bucket
      FROM d
    )
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS doc_cnt,
           CAST(MIN(token_cnt) AS BIGINT) AS min_len,
           CAST(MAX(token_cnt) AS BIGINT) AS max_len,
           CAST(SUM(token_cnt) AS BIGINT) AS token_sum,
           {duck_round_div(
               '(COUNT(*) * MAX(token_cnt) - SUM(token_cnt)) * 100',
               'COUNT(*) * MAX(token_cnt)', 2)} AS padding_waste_pct
    FROM b
    GROUP BY bucket
    """,
)
def ds_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    d = t.documents.select(
        "doc_id", F.size(tokens(F.col("text"))).alias("token_cnt")
    )
    # exact global rank in (token_cnt, doc_id) order, distributed
    ranked = prefix_sum(d, ["token_cnt", "doc_id"], {"rank": F.lit(1)})
    tot = d.agg(F.count(F.lit(1)).alias("n_total"))
    b = (
        ranked.crossJoin(F.broadcast(tot))
        .withColumn("base", F.expr(f"n_total div {_N_BUCKETS}"))
        .withColumn("rem", F.expr(f"n_total % {_N_BUCKETS}"))
        # NTILE(B) closed form over the exact rank: the first `rem`
        # buckets hold base+1 rows, the rest base. `div` keeps the
        # arithmetic in exact integers; the base=0 branch (N < B)
        # always lands in the WHEN arm, so no division by zero.
        .withColumn(
            "bucket",
            F.expr(
                "CASE WHEN rank <= rem * (base + 1)"
                " THEN (rank + base) div (base + 1)"
                " ELSE rem + (rank - rem * (base + 1) + base - 1) div base"
                " END"
            ),
        )
    )
    g = b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("doc_cnt"),
        F.min("token_cnt").alias("min_len"),
        F.max("token_cnt").alias("max_len"),
        F.sum("token_cnt").alias("token_sum"),
    )
    return g.select(
        F.col("bucket").cast("int").alias("bucket"),
        F.col("doc_cnt").cast("long").alias("doc_cnt"),
        F.col("min_len").cast("long").alias("min_len"),
        F.col("max_len").cast("long").alias("max_len"),
        F.col("token_sum").cast("long").alias("token_sum"),
        round_div(
            (F.col("doc_cnt") * F.col("max_len") - F.col("token_sum")) * 100,
            F.col("doc_cnt") * F.col("max_len"),
            "padding_waste_pct",
            2,
        ),
    )


# ---------------------------------------------------------------------------
# Cross-source contamination matrix: for every pair of corpus sources,
# how many distinct shingles they share and the shingle-set Jaccard —
# the diagnostic a curation pipeline runs before mixing crawls (a hot
# pair means one crawl largely re-scraped the other).
#
# Scale shape: the (source, shingle) DISTINCT projection is the
# inverted index (rows ≤ vocabulary × n_sources); per shingle the
# source set collapses to ONE basket row (collect_set with map-side
# partial agg) and pair expansion happens inside the basket — at most
# C(n_sources, 2) pairs per shingle, map-side, no self-join (the
# basket form measured 1.02 s vs the join form's 1.81 s at sf0.1:
# one shuffle of the index instead of two join legs). Sources are a
# corpus-level constant (dozens), so total pair rows are
# O(vocabulary), linear in the corpus. Per-source shingle counts
# broadcast onto the 190-row pair frame. Nothing here is
# doc-pair-shaped: two sources sharing a million documents cost the
# same as two sharing one. (The DuckDB oracle keeps the equivalent
# equi-join form — set semantics are identical.)
# ---------------------------------------------------------------------------
@register(
    "text_source_overlap",
    f"""
    WITH d AS (
      SELECT DISTINCT source, unnest(list_distinct({duck_shingles(_TOKS)}))
             AS sh
      FROM documents
    ),
    per_src AS (SELECT source, COUNT(*) AS n FROM d GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*) AS shared
      FROM d a JOIN d b ON a.sh = b.sh AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT source_a, source_b,
           CAST(shared AS BIGINT) AS shared_shingles,
           CAST(na.n AS BIGINT) AS n_a,
           CAST(nb.n AS BIGINT) AS n_b,
           {duck_round_div("shared", "na.n + nb.n - shared", 6)} AS jaccard
    FROM inter
    JOIN per_src na ON na.source = source_a
    JOIN per_src nb ON nb.source = source_b
    ORDER BY source_a, source_b
    """,
)
def text_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    d = (
        t.documents.withColumn("toks", tokens(F.col("text")))
        .select(
            "source",
            F.explode(F.array_distinct(shingles("toks"))).alias("sh"),
        )
        .distinct()
    )
    # the inverted index feeds BOTH the per-source sizes and the
    # shingle baskets; persist it so the tokenize+shingle explode and
    # its distinct exchange run once, not per consumer (r14, §2.4)
    d = track_persist(d)
    per_src = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    baskets = d.groupBy("sh").agg(
        F.sort_array(F.collect_set("source")).alias("ss")
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ss, (x, i) ->"
                " transform(slice(ss, i + 2, size(ss) - i - 1),"
                " y -> struct(x AS a, y AS b))))"
            )
        ).alias("p")
    ).select(
        F.col("p.a").alias("source_a"), F.col("p.b").alias("source_b")
    )
    inter = pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("shared")
    )
    na = per_src.withColumnRenamed("source", "source_a").withColumnRenamed("n", "n_a0")
    nb = per_src.withColumnRenamed("source", "source_b").withColumnRenamed("n", "n_b0")
    return (
        inter.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("shared").cast("long").alias("shared_shingles"),
            F.col("n_a0").cast("long").alias("n_a"),
            F.col("n_b0").cast("long").alias("n_b"),
            round_div(
                F.col("shared"),
                F.col("n_a0") + F.col("n_b0") - F.col("shared"),
                "jaccard",
                6,
            ),
        )
        .orderBy("source_a", "source_b")
    )
