"""Training-data pipeline corpus: dedup, text analysis, similarity
search over the `documents` and `embeddings` tables (north-star
extensions beyond the reference's own surface).

Oracle twins are generated from the same specs in `functions.text`, so
hash/tokenization semantics are shared character-for-character.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.helpers import duck_round_div, rnd, round_div
from ..functions.text import (
    DUCK_TOKENS,
    LANG_MARKERS,
    STOPWORDS,
    duck_minhash,
    duck_shingle_hashes,
    duck_shingles,
    duck_simhash_bits,
    minhash_col,
    shingle_hashes,
    simhash_bits_col,
    tokens,
)
from ..operators import dedup as D
from ..operators import similarity as S
from ..session import memo
from ..tables import load_tables, table_path
from . import register

_TOKS = DUCK_TOKENS.format(text="text")


# ---------------------------------------------------------------------------
# Token counting (whitespace tokenizer) + type-token stats
# ---------------------------------------------------------------------------
@register(
    "text_token_stats",
    f"""
    WITH d AS (SELECT doc_id, lang, {_TOKS} AS toks, length(text) AS char_cnt
               FROM documents)
    SELECT doc_id, lang,
           CAST(len(toks) AS BIGINT) AS token_cnt,
           CAST(char_cnt AS BIGINT) AS char_cnt,
           CAST(len(list_distinct(toks)) AS BIGINT) AS uniq_token_cnt,
           {duck_round_div("list_sum(list_transform(toks, t -> length(t)))",
                           "len(toks)")} AS avg_token_len,
           {duck_round_div("len(list_distinct(toks))", "len(toks)", 4)}
             AS type_token_ratio
    FROM d
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    d = t.documents.withColumn("toks", tokens(F.col("text")))
    return d.select(
        "doc_id",
        "lang",
        F.size("toks").cast("long").alias("token_cnt"),
        F.length("text").cast("long").alias("char_cnt"),
        F.size(F.array_distinct("toks")).cast("long").alias("uniq_token_cnt"),
        round_div(
            F.expr("aggregate(toks, 0, (a, t) -> a + length(t))"),
            F.size("toks"),
            "avg_token_len",
        ),
        round_div(
            F.size(F.array_distinct("toks")), F.size("toks"), "type_token_ratio", 4
        ),
    )


# ---------------------------------------------------------------------------
# Quality scoring: length / punctuation / stopword ratios
# ---------------------------------------------------------------------------
_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


@register(
    "text_quality_score",
    f"""
    WITH d AS (
      SELECT doc_id, lang, {_TOKS} AS toks,
             length(text) AS n,
             length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
               AS punct_cnt
      FROM documents
    ),
    m AS (
      SELECT doc_id, lang, n, punct_cnt,
             len(toks) AS token_cnt,
             len(list_filter(toks, t -> list_contains([{_STOP_SQL}], t)))
               AS stop_cnt
      FROM d
    )
    SELECT doc_id, lang,
           CAST(token_cnt AS BIGINT) AS token_cnt,
           {duck_round_div("punct_cnt", "n", 4)} AS punct_ratio,
           {duck_round_div("stop_cnt", "token_cnt", 4)} AS stopword_ratio,
           {duck_round_div(
               "50 * least(token_cnt, 200) * n * token_cnt"
               " + 6000 * (n - punct_cnt) * token_cnt"
               " + 4000 * stop_cnt * n",
               "20000 * n * token_cnt",
               4,
           )} AS quality_score
    FROM m
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    d = (
        t.documents.withColumn("toks", tokens(F.col("text")))
        .withColumn("n", F.length("text"))
        .withColumn(
            "punct_cnt",
            F.length("text")
            - F.length(F.regexp_replace("text", "[^A-Za-z0-9 ]", "")),
        )
        .withColumn("token_cnt", F.size("toks"))
        .withColumn(
            "stop_cnt",
            F.size(F.filter(F.col("toks"), lambda x: F.array_contains(stop_arr, x))),
        )
    )
    # quality score 0.5·len-score + 0.3·(1−punct_ratio) + 0.2·stop_ratio,
    # expressed as one exact integer rational so both engines round
    # identically (see helpers.round_div)
    A = F.least(F.col("token_cnt"), F.lit(200))
    N, P = F.col("n"), F.col("punct_cnt")
    S, T = F.col("stop_cnt"), F.col("token_cnt")
    return d.select(
        "doc_id",
        "lang",
        F.col("token_cnt").cast("long").alias("token_cnt"),
        round_div(P, N, "punct_ratio", 4),
        round_div(S, T, "stopword_ratio", 4),
        round_div(
            F.lit(50) * A * N * T + F.lit(6000) * (N - P) * T + F.lit(4000) * S * N,
            F.lit(20000) * N * T,
            "quality_score",
            4,
        ),
    )


# ---------------------------------------------------------------------------
# Language ID: deterministic marker-word scorer (n-gram heuristic).
# The synthetic corpus shares vocabulary across lang labels, so the
# prediction is not expected to recover the label — correctness is
# "both engines agree on the same deterministic rules".
# ---------------------------------------------------------------------------
def _langid_oracle() -> str:
    hits = ", ".join(
        f"len(list_filter(toks, t -> list_contains(["
        + ", ".join(f"'{w}'" for w in ws)
        + f"], t))) AS hits_{lang}"
        for lang, ws in LANG_MARKERS.items()
    )
    langs = list(LANG_MARKERS)
    case = "CASE "
    for i, lang in enumerate(langs):
        others = [f"hits_{lang} >= hits_{o}" for o in langs[i + 1:]]
        cond = " AND ".join(others) if others else "TRUE"
        case += f"WHEN {cond} THEN '{lang}' "
    case += "END"
    return f"""
    WITH d AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
    h AS (SELECT doc_id, lang, {hits} FROM d)
    SELECT doc_id, lang AS labeled_lang, {case} AS predicted_lang,
           CAST(CASE WHEN {case} = lang THEN 1 ELSE 0 END AS INT) AS is_match
    FROM h
    """


@register("text_langid", _langid_oracle())
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    d = t.documents.withColumn("toks", tokens(F.col("text")))

    def _marker_hits(arr):
        # single-arg lambda factory: F.filter inspects the signature, so
        # a default-arg closure would be passed the element index
        return lambda x: F.array_contains(arr, x)

    for lang, ws in LANG_MARKERS.items():
        arr = F.array(*[F.lit(w) for w in ws])
        d = d.withColumn(
            f"hits_{lang}", F.size(F.filter(F.col("toks"), _marker_hits(arr)))
        )
    langs = list(LANG_MARKERS)
    expr = None
    for i, lang in enumerate(langs):
        cond = F.lit(True)
        for o in langs[i + 1:]:
            cond = cond & (F.col(f"hits_{lang}") >= F.col(f"hits_{o}"))
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    d = d.withColumn("predicted_lang", expr)
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        "predicted_lang",
        (F.col("predicted_lang") == F.col("lang")).cast("int").alias("is_match"),
    )


# ---------------------------------------------------------------------------
# Document fingerprinting: normalized-content and sorted-vocabulary md5
# ---------------------------------------------------------------------------
@register(
    "text_fingerprint",
    f"""
    WITH d AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm,
             {_TOKS} AS toks
      FROM documents
    )
    SELECT doc_id,
           md5(norm) AS content_fp,
           md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS vocab_fp
    FROM d
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    d = t.documents.withColumn("toks", tokens(F.col("text"))).withColumn(
        "norm",
        F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")),
    )
    return d.select(
        "doc_id",
        F.md5("norm").alias("content_fp"),
        F.md5(F.array_join(F.sort_array(F.array_distinct("toks")), " ")).alias(
            "vocab_fp"
        ),
    )


# ---------------------------------------------------------------------------
# Exact dedup: content-hash groups
# ---------------------------------------------------------------------------
@register(
    "dedup_exact",
    """
    SELECT md5(text) AS text_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS dup_count
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return D.exact_dedup_groups(t.documents, "text", "doc_id")


# ---------------------------------------------------------------------------
# MinHash signatures (shingle → salted-hash min), 8 components
# ---------------------------------------------------------------------------
_MH_N = 8


def _minhash_oracle() -> str:
    cols = ",\n           ".join(
        f"CAST({duck_minhash('hs', j)} AS BIGINT) AS mh_{j}" for j in range(_MH_N)
    )
    return f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    s AS (SELECT doc_id, {duck_shingles('toks')} AS sh FROM d),
    h AS (SELECT doc_id, {duck_shingle_hashes('sh')} AS hs FROM s)
    SELECT doc_id,
           {cols}
    FROM h
    """


@register("dedup_minhash_signature", _minhash_oracle())
def dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    base = D.with_shingles(t.documents, "text").withColumn(
        "sh_hashes", shingle_hashes("shingles")
    )
    return base.select(
        "doc_id", *[minhash_col("sh_hashes", j) for j in range(_MH_N)]
    )


# ---------------------------------------------------------------------------
# SimHash signatures (16-bit bit-string)
# ---------------------------------------------------------------------------
@register(
    "dedup_simhash",
    f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
    SELECT doc_id, {duck_simhash_bits('toks')} AS simhash_bits
    FROM d
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    base = D.with_tokens(t.documents, "text")
    return base.select("doc_id", simhash_bits_col("toks").alias("simhash_bits"))


# ---------------------------------------------------------------------------
# N-gram (shingle-set) Jaccard near-dup pairs within (lang, source)
# blocking groups
# ---------------------------------------------------------------------------
ORACLE_NGRAM_JACCARD = f"""
    WITH d AS (
      SELECT doc_id, lang, source,
             list_distinct({duck_shingles(_TOKS)}) AS sh
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           {duck_round_div(
               "len(list_intersect(a.sh, b.sh))",
               "len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))",
               4,
           )} AS jaccard
    FROM d a JOIN d b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) * 100 >=
          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 20
    """


@register("dedup_ngram_jaccard", ORACLE_NGRAM_JACCARD)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return D.shingle_jaccard_pairs(
        t.documents, "text", "doc_id", ["lang", "source"], threshold=0.2
    )


# Same operator through the extreme-scale document-frequency cap
# (df_max drops shingles hotter than the cap from index AND sizes).
# The corpus has no shingle anywhere near df 10k, so capped ≡ uncapped
# here BY CONTRACT — the oracle is therefore the identical SQL, and a
# green row pins exactly that no-op equivalence; the hot-shingle
# behavior itself is pinned by test_df_cap_bounds_hot_shingle_pair_blowup.
@register("dedup_ngram_jaccard_capped", ORACLE_NGRAM_JACCARD)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return D.shingle_jaccard_pairs(
        t.documents,
        "text",
        "doc_id",
        ["lang", "source"],
        threshold=0.2,
        df_max=10_000,
    )


# ---------------------------------------------------------------------------
# MinHash-LSH candidate pairs (bucket-join path) — the scale variant of
# dedup_ngram_jaccard. The band math is md5-derived and engine-portable,
# so the oracle renders the identical banding in DuckDB: 16 minhash
# components → 4 bands of 4 → band-bucket self-join → distinct pairs.
# ---------------------------------------------------------------------------
_LSH_HASHES, _LSH_BANDS = 16, 4


def _lsh_pairs_oracle() -> str:
    rows = _LSH_HASHES // _LSH_BANDS
    mh_cols = ",\n           ".join(
        f"CAST({duck_minhash('hs', j)} AS BIGINT) AS mh_{j}"
        for j in range(_LSH_HASHES)
    )
    band_selects = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, md5(concat_ws(':', "
        + ", ".join(f"mh_{b * rows + r}" for r in range(rows))
        + ")) AS band_hash FROM sig"
        for b in range(_LSH_BANDS)
    )
    return f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    s AS (SELECT doc_id, {duck_shingles('toks')} AS sh FROM d),
    h AS (SELECT doc_id, {duck_shingle_hashes('sh')} AS hs FROM s),
    sig AS (SELECT doc_id, {mh_cols} FROM h),
    banded AS ({band_selects})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
    """


@register("dedup_lsh_pairs", _lsh_pairs_oracle())
def dedup_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return D.lsh_candidate_pairs(
        t.documents, "text", "doc_id", num_hashes=_LSH_HASHES, bands=_LSH_BANDS
    )


# ---------------------------------------------------------------------------
# Incremental LSH dedup (r12): a ~10% hash-split of documents plays
# the nightly ingestion batch against the other ~90%'s stored band
# index. The engine computes ONLY the delta pairs — (Δ ⋈ old index) ∪
# (Δ ⋈ Δ), delta-proportional work, old⋈old never recomputed (the
# join_view_delta rule applied to the banded self-join; candidacy is
# monotone under inserts, deletes refused by contract). The oracle is
# deliberately the OTHER derivation: the FULL banded self-join over
# all documents, restricted to pairs touching Δ — equality proves the
# incremental rule end to end, the same doctrine as ivm_join_view's
# full-recompute oracle.
# ---------------------------------------------------------------------------
_ILSH_SALT, _ILSH_CUT = "ilsh", 900


def _lsh_delta_oracle() -> str:
    from ..operators.scale import duck_hash_bucket

    rows = _LSH_HASHES // _LSH_BANDS
    mh_cols = ",\n           ".join(
        f"CAST({duck_minhash('hs', j)} AS BIGINT) AS mh_{j}"
        for j in range(_LSH_HASHES)
    )
    band_selects = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, md5(concat_ws(':', "
        + ", ".join(f"mh_{b * rows + r}" for r in range(rows))
        + ")) AS band_hash FROM sig"
        for b in range(_LSH_BANDS)
    )
    bucket = duck_hash_bucket("doc_id", 1000, _ILSH_SALT)
    return f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    s AS (SELECT doc_id, {duck_shingles('toks')} AS sh FROM d),
    h AS (SELECT doc_id, {duck_shingle_hashes('sh')} AS hs FROM s),
    sig AS (SELECT doc_id, {mh_cols} FROM h),
    banded AS ({band_selects}),
    delta AS (SELECT doc_id FROM documents WHERE {bucket} >= {_ILSH_CUT})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
    WHERE a.doc_id IN (SELECT doc_id FROM delta)
       OR b.doc_id IN (SELECT doc_id FROM delta)
    """


@register("dedup_incremental_lsh", _lsh_delta_oracle())
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scale import hash_bucket

    t = load_tables(spark, sf_dir)
    bucket = hash_bucket("doc_id", 1000, _ILSH_SALT)
    old = t.documents.filter(bucket < _ILSH_CUT)
    delta = t.documents.filter(bucket >= _ILSH_CUT)
    return D.lsh_pairs_delta(
        old, delta, "text", "doc_id",
        num_hashes=_LSH_HASHES, bands=_LSH_BANDS,
    )


# ---------------------------------------------------------------------------
# Sketch-accuracy audit: for every LSH candidate pair, the MinHash
# ESTIMATE of Jaccard (fraction of agreeing signature components) next
# to the EXACT distinct-shingle Jaccard — the standard calibration
# check before trusting a sketch threshold at scale. Work is
# candidate-bounded (signatures and shingle sets join back to the tiny
# pair set), and every output is an integer rational → hash-exact in
# both engines.
# ---------------------------------------------------------------------------
def _sketch_audit_oracle() -> str:
    rows = _LSH_HASHES // _LSH_BANDS
    mh_cols = ",\n           ".join(
        f"CAST({duck_minhash('hs', j)} AS BIGINT) AS mh_{j}"
        for j in range(_LSH_HASHES)
    )
    band_selects = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, md5(concat_ws(':', "
        + ", ".join(f"mh_{b * rows + r}" for r in range(rows))
        + ")) AS band_hash FROM sig"
        for b in range(_LSH_BANDS)
    )
    match_sum = " + ".join(
        f"CASE WHEN sa.mh_{j} = sb.mh_{j} THEN 1 ELSE 0 END"
        for j in range(_LSH_HASHES)
    )
    return f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    s AS (SELECT doc_id, {duck_shingles('toks')} AS sh FROM d),
    h AS (SELECT doc_id, {duck_shingle_hashes('sh')} AS hs FROM s),
    sig AS (SELECT doc_id, {mh_cols} FROM h),
    banded AS ({band_selects}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ),
    shd AS (SELECT doc_id, list_distinct(sh) AS shs FROM s),
    m AS (
      SELECT p.id_a, p.id_b,
             ({match_sum}) AS mtch,
             len(list_intersect(da.shs, db.shs)) AS inter,
             len(da.shs) + len(db.shs)
               - len(list_intersect(da.shs, db.shs)) AS union_sz
      FROM pairs p
      JOIN sig sa ON sa.doc_id = p.id_a
      JOIN sig sb ON sb.doc_id = p.id_b
      JOIN shd da ON da.doc_id = p.id_a
      JOIN shd db ON db.doc_id = p.id_b
    )
    SELECT id_a, id_b,
           CAST(mtch AS BIGINT) AS est_matches,
           {duck_round_div('mtch', str(_LSH_HASHES), 4)} AS est_jaccard,
           CAST(inter AS BIGINT) AS shingle_inter,
           CAST(union_sz AS BIGINT) AS shingle_union,
           {duck_round_div('inter', 'union_sz', 4)} AS exact_jaccard
    FROM m
    """


@register("dedup_sketch_audit", _sketch_audit_oracle())
def dedup_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import track_persist

    t = load_tables(spark, sf_dir)
    docs = t.documents
    pairs = D.lsh_candidate_pairs(
        docs, "text", "doc_id", num_hashes=_LSH_HASHES, bands=_LSH_BANDS
    )
    # r14 (guide §2.4): ONE persisted per-doc frame carries BOTH the
    # distinct shingle set and every minhash component. The r13 shape
    # built signatures and shingle sets as separate frames and joined
    # each twice (a/b sides), so the tokenize+shingle pipeline ran
    # four more times beyond the banded index build; now it runs once
    # into the cache and the audit is two candidate-bounded joins.
    base = track_persist(
        D.with_shingles(docs, "text")
        .withColumn("hs", shingle_hashes("shingles"))
        .select(
            "doc_id",
            F.array_distinct("shingles").alias("shs"),
            *[minhash_col("hs", j) for j in range(_LSH_HASHES)],
        )
    )
    sa = base.select(
        F.col("doc_id").alias("id_a"),
        F.col("shs").alias("sh_a"),
        *[F.col(f"mh_{j}").alias(f"a_mh_{j}") for j in range(_LSH_HASHES)],
    )
    sb = base.select(
        F.col("doc_id").alias("id_b"),
        F.col("shs").alias("sh_b"),
        *[F.col(f"mh_{j}").alias(f"b_mh_{j}") for j in range(_LSH_HASHES)],
    )
    j = pairs.join(sa, "id_a").join(sb, "id_b")
    mtch = sum(
        (F.col(f"a_mh_{k}") == F.col(f"b_mh_{k}")).cast("int")
        for k in range(_LSH_HASHES)
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union_sz = F.size("sh_a") + F.size("sh_b") - inter
    return j.select(
        "id_a",
        "id_b",
        mtch.cast("long").alias("est_matches"),
        round_div(mtch, F.lit(_LSH_HASHES), "est_jaccard", 4),
        inter.cast("long").alias("shingle_inter"),
        union_sz.cast("long").alias("shingle_union"),
        round_div(inter, union_sz, "exact_jaccard", 4),
    )


# ---------------------------------------------------------------------------
# Brute-force cosine top-k (exact ANN baseline)
# ---------------------------------------------------------------------------
_QUERY_IDS = list(range(8))
_TOPK = 5


def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, len({a})),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


@register(
    "sim_bruteforce_topk",
    f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
               WHERE vec_id IN ({", ".join(map(str, _QUERY_IDS))})),
    c AS (SELECT vec_id AS cid, embedding AS ce, label FROM embeddings),
    p AS (
      SELECT qid, cid, label,
             CAST(ROUND({_dot_sql('qe', 'ce')} /
                        (sqrt({_dot_sql('qe', 'qe')}) * sqrt({_dot_sql('ce', 'ce')})),
                        4) AS DOUBLE) AS cos_sim
      FROM q JOIN c ON cid <> qid
    ),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                       ORDER BY cos_sim DESC, cid) AS rn
          FROM p)
    SELECT qid, cid, label, cos_sim, CAST(rn AS INT) AS rank
    FROM r WHERE rn <= {_TOPK}
    """,
)
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return S.brute_force_topk(
        t.embeddings, _QUERY_IDS, k=_TOPK, extra_cols=["label"]
    ).select("qid", "cid", "label", "cos_sim", "rank")


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (scale path; recall measured in tests vs brute
# force). The hyperplanes are md5-derived (operators/similarity.py
# `_plane_component`), so the oracle reproduces the identical bucket
# bit-strings in DuckDB and the candidate sets match exactly.
# ---------------------------------------------------------------------------
_LSH_PLANES = 8


def _lsh_bucket_oracle_expr(vec: str) -> str:
    """DuckDB twin of `similarity._sign_bits(0, 8)` over the planes of
    `similarity._projections`: bit p = sign(v·plane_p), plane
    component = md5('p:dim')[0:8]/2^31 - 1."""
    bits = []
    for p in range(_LSH_PLANES):
        comp = (
            f"(CAST('0x' || substr(md5('{p}' || ':' || CAST(i - 1 AS VARCHAR)), 1, 8)"
            f" AS BIGINT) / 2147483648.0 - 1.0)"
        )
        proj = (
            f"list_sum(list_transform(generate_series(1, len({vec})),"
            f" i -> CAST({vec}[i] AS DOUBLE) * {comp}))"
        )
        bits.append(f"CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END")
    return " || ".join(bits)


def _lsh_topk_oracle() -> str:
    return f"""
    WITH e AS (
      SELECT vec_id, embedding,
             {_lsh_bucket_oracle_expr('embedding')} AS bkt
      FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, embedding AS qe, bkt AS qb FROM e
          WHERE vec_id IN ({", ".join(map(str, _QUERY_IDS))})),
    p AS (
      SELECT qid, vec_id AS cid,
             CAST(ROUND({_dot_sql('qe', 'embedding')} /
                        (sqrt({_dot_sql('qe', 'qe')}) *
                         sqrt({_dot_sql('embedding', 'embedding')})),
                        4) AS DOUBLE) AS cos_sim
      FROM q JOIN e ON e.bkt = q.qb AND e.vec_id <> q.qid
    ),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                       ORDER BY cos_sim DESC, cid) AS rn
          FROM p)
    SELECT qid, cid, cos_sim, CAST(rn AS INT) AS rank
    FROM r WHERE rn <= {_TOPK}
    """


@register("sim_lsh_topk", _lsh_topk_oracle())
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return S.lsh_topk(t.embeddings, _QUERY_IDS, k=_TOPK, num_planes=_LSH_PLANES)


# ---------------------------------------------------------------------------
# Multi-probe LSH ANN: also score the nprobe-1 Hamming-1 buckets on the
# query's lowest-margin bits — the standard recall booster (one index,
# L probes ≈ L hash tables). All math is md5-derived and fold-order
# deterministic, so the oracle reproduces the identical probe sets.
# ---------------------------------------------------------------------------
_MP_PROBES = 3


def _mp_oracle(P: int = _LSH_PLANES, probes: int = _MP_PROBES) -> str:
    m = probes - 1
    proj_list = "[" + ", ".join(
        f"list_sum(list_transform(generate_series(1, len(embedding)),"
        f" i -> CAST(embedding[i] AS DOUBLE) *"
        f" (CAST('0x' || substr(md5('{p}' || ':' || CAST(i - 1 AS VARCHAR)), 1, 8)"
        f" AS BIGINT) / 2147483648.0 - 1.0)))"
        for p in range(P)
    ) + "]"
    bucket = " || ".join(
        f"CASE WHEN pr[{p + 1}] >= 0 THEN '1' ELSE '0' END" for p in range(P)
    )
    flips = []
    for p in range(P):
        rank = (
            f"len(list_filter(generate_series(0, {P - 1}), q -> "
            f"abs(pr[q + 1]) < abs(pr[{p + 1}]) OR"
            f" (abs(pr[q + 1]) = abs(pr[{p + 1}]) AND q < {p})))"
        )
        flipped = (
            f"substr(bkt, 1, {p}) ||"
            f" (CASE WHEN substr(bkt, {p + 1}, 1) = '1' THEN '0' ELSE '1' END) ||"
            f" substr(bkt, {p + 2}, {P - p - 1})"
        )
        flips.append(f"CASE WHEN {rank} < {m} THEN {flipped} END")
    probes = (
        "list_filter([bkt" + "".join(", " + f for f in flips) + "],"
        " x -> x IS NOT NULL)"
    )
    return f"""
    WITH e0 AS (SELECT vec_id, embedding, {proj_list} AS pr FROM embeddings),
    e AS (SELECT vec_id, embedding, pr, {bucket} AS bkt FROM e0),
    q AS (
      SELECT vec_id AS qid, embedding AS qe, unnest({probes}) AS probe
      FROM e WHERE vec_id IN ({", ".join(map(str, _QUERY_IDS))})
    ),
    p AS (
      SELECT qid, vec_id AS cid,
             CAST(ROUND({_dot_sql('qe', 'embedding')} /
                        (sqrt({_dot_sql('qe', 'qe')}) *
                         sqrt({_dot_sql('embedding', 'embedding')})),
                        4) AS DOUBLE) AS cos_sim
      FROM q JOIN e ON e.bkt = q.probe AND e.vec_id <> q.qid
    ),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                       ORDER BY cos_sim DESC, cid) AS rn
          FROM p)
    SELECT qid, cid, cos_sim, CAST(rn AS INT) AS rank
    FROM r WHERE rn <= {_TOPK}
    """


@register("sim_lsh_multiprobe_topk", _mp_oracle())
def sim_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return S.lsh_multiprobe_topk(
        t.embeddings, _QUERY_IDS, k=_TOPK, num_planes=_LSH_PLANES,
        nprobe=_MP_PROBES,
    )


# ---------------------------------------------------------------------------
# AUTO-TUNED LSH ANN (r7, retuned r10): the engine's default route.
# The r6 ANN bench showed the fixed 8-plane default retaining ~3% of
# true neighbors on this corpus; r7 derived (planes, nprobe) from a
# retention model at an ASSUMED cos-0.4 profile with a 0.5 recall
# target — and the r9 bench showed that underdelivering on diffuse
# corpora (recall@5 0.525 at sf0.1 vs 0.85 at sf1 with the same
# knobs). r10: `auto_lsh_params_for` MEASURES the corpus's kth-NN
# cosine profile (deterministic 16-query brute sample, 25th
# percentile — the same one-time-training lifecycle as IVF/PQ) and
# picks the largest plane count whose Hamming-1 retention stays ≥
# 0.85. The derivation is memoized per (session, corpus) so repeated
# invocations serve the trained knobs. The oracle pins the exact pair
# the measurement derives at the oracle SF — if the formula, the
# profile sampler, or the corpus ever moves the knobs, the gate
# surfaces it as a hash mismatch (and test_auto_lsh_frozen_pair as a
# pytest failure), never a silent recall collapse. Measured recall@5
# at the retuned knobs: ≥ 0.8 at BOTH sf0.1 and sf1 (ANN_BENCH.md).
# ---------------------------------------------------------------------------
# frozen output of auto_lsh_params_for(embeddings) at the oracle SF
# (sf0.01, n=500, measured kth-cos p25 ≈ 0.27 → planes=2, nprobe=3)
_AUTO_PLANES, _AUTO_PROBES = 2, 3


@register("sim_lsh_auto_topk", _mp_oracle(_AUTO_PLANES, _AUTO_PROBES))
def sim_lsh_auto_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    planes, nprobe = memo(
        spark, "auto-lsh", sf_dir,
        lambda: S.auto_lsh_params_for(t.embeddings, k=_TOPK),
        [table_path(sf_dir, "embeddings")],
    )
    return S.lsh_multiprobe_topk(
        t.embeddings, _QUERY_IDS, k=_TOPK, num_planes=planes, nprobe=nprobe
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs, blocked by the corpus's coarse
# cluster label (the IVF cell layout: pairs form only inside a cell).
# Exact within blocks, so fully oracle-checkable.
# ---------------------------------------------------------------------------
_NEAR_DUP_T = 0.35


@register(
    "dedup_embedding_cosine",
    f"""
    WITH e AS (SELECT vec_id, embedding, label FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label,
           CAST(ROUND({_dot_sql('a.embedding', 'b.embedding')} /
                      (sqrt({_dot_sql('a.embedding', 'a.embedding')}) *
                       sqrt({_dot_sql('b.embedding', 'b.embedding')})),
                      4) AS DOUBLE) AS cos_sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE CAST(ROUND({_dot_sql('a.embedding', 'b.embedding')} /
                     (sqrt({_dot_sql('a.embedding', 'a.embedding')}) *
                      sqrt({_dot_sql('b.embedding', 'b.embedding')})),
                     4) AS DOUBLE) >= {_NEAR_DUP_T}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return S.embedding_near_dup_pairs(t.embeddings, threshold=_NEAR_DUP_T)


# ---------------------------------------------------------------------------
# Multimodal plumbing: synthesized binary media → Arrow-batched feature
# extraction (mapInPandas). ORACLE-CHECKED per row (was rows-only
# through r8): every payload is a closed-form byte sequence — PPM =
# ASCII header + sha256 counter-mode raster, WAV = the stdlib wave
# module's fixed 44-byte RIFF header (reproduced byte-for-byte as hex
# literals + two little-endian length fields) + counter-mode PCM, mp4
# stub = digest repeats — so DuckDB rebuilds each payload as a HEX
# STRING and recomputes byte_len and the distinct-byte entropy proxy
# without ever holding a binary. The sha256 feature itself stays
# pytest-pinned (tests/test_pipeline_layer.py): DuckDB's sha256() only
# accepts VARCHAR, which cannot carry arbitrary bytes.
# ---------------------------------------------------------------------------
def _mm_features_oracle(n: int = 64, seed: int = 42) -> str:
    import struct

    def le32(expr: str) -> str:
        return "||".join(
            f"printf('%02x', (({expr}) >> {8 * k}) & 255)" for k in range(4)
        )

    # constant middle of the RIFF header: 'WAVEfmt ' + <IHHIIHH>
    # (fmt size 16, PCM, mono, 8 kHz, 16 kB/s, block 2, 16-bit) + 'data'
    fixed = (
        b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data"
    ).hex()
    chunks = (
        f"unnest(generate_series(0, CAST(ceil(nb / 32.0) AS INT) - 1))"
        f" AS ctr"
    )
    sh_agg = (
        f"string_agg(substr(sha256('{seed}:' || CAST(i AS VARCHAR) || ':'"
        f" || CAST(ctr AS VARCHAR)), 1, 2 * least(32, nb - ctr * 32)),"
        f" '' ORDER BY ctr) AS sh"
    )
    return f"""
    WITH ids AS (SELECT range AS i FROM range(0, {n})),
    img AS (SELECT i, 32 + (i % 16) * 8 AS w, 32 + (i % 12) * 8 AS h,
                   (32 + (i % 16) * 8) * (32 + (i % 12) * 8) * 3 AS nb
            FROM ids WHERE i % 3 = 0),
    imgch AS (SELECT i, w, h, nb, {chunks} FROM img),
    imgst AS (SELECT i, w, h, nb, {sh_agg} FROM imgch GROUP BY i, w, h, nb),
    imgph AS (SELECT i, 'image' AS kind,
                     lower(hex('P6 ' || CAST(w AS VARCHAR) || ' '
                               || CAST(h AS VARCHAR) || ' 255'
                               || chr(10))) || sh AS ph
              FROM imgst),
    aud AS (SELECT i, (2000 + (i % 8) * 250) * 2 AS nb
            FROM ids WHERE i % 3 = 1),
    audch AS (SELECT i, nb, {chunks} FROM aud),
    audst AS (SELECT i, nb, {sh_agg} FROM audch GROUP BY i, nb),
    audph AS (SELECT i, 'audio' AS kind,
                     lower(hex('RIFF')) || {le32('36 + nb')}
                     || '{fixed}' || {le32('nb')} || sh AS ph
              FROM audst),
    vidph AS (SELECT i, 'video' AS kind,
                     repeat(sha256('{seed}:' || CAST(i AS VARCHAR)),
                            4 + i % 8) AS ph
              FROM ids WHERE i % 3 = 2),
    allph AS (SELECT * FROM imgph UNION ALL SELECT * FROM audph
              UNION ALL SELECT * FROM vidph)
    SELECT i AS media_id, kind,
           CAST(length(ph) / 2 AS BIGINT) AS byte_len,
           CAST(length(list_distinct(list_transform(
                  generate_series(1, CAST(length(ph) / 2 AS INT)),
                  k -> substr(ph, 2 * k - 1, 2)))) AS BIGINT)
             AS entropy_proxy
    FROM allph ORDER BY media_id
    """


@register("mm_media_features", _mm_features_oracle())
def mm_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..multimodal import binary_ops as mm

    media = mm.synthesize_media(spark, n=64)
    return mm.extract_features(media).select(
        "media_id", "kind", "byte_len", "entropy_proxy"
    )


# ---------------------------------------------------------------------------
# Multimodal manifest with a FULL DuckDB oracle: the synthesized
# payloads are closed-form functions of media_id (PPM = 9-byte-ish
# header + w*h*3 raster, WAV = 44-byte header + 2 bytes/sample, mp4
# stub = 32-byte digest repeated), so per-kind counts and exact byte
# totals are SQL-computable from `range(64)` without touching the
# binary. This proves the mapInPandas plumbing (row fan-out, payload
# construction, Arrow transfer, feature extraction) end-to-end against
# an independent engine; per-row sha256 values stay pinned by pytest.
# ---------------------------------------------------------------------------
@register(
    "mm_media_manifest",
    """
    WITH m AS (
      SELECT range AS i,
             CASE range % 3 WHEN 0 THEN 'image'
                            WHEN 1 THEN 'audio'
                            ELSE 'video' END AS kind,
             CASE range % 3
               WHEN 0 THEN 9
                    + length(CAST(32 + (range % 16) * 8 AS VARCHAR))
                    + length(CAST(32 + (range % 12) * 8 AS VARCHAR))
                    + (32 + (range % 16) * 8) * (32 + (range % 12) * 8) * 3
               WHEN 1 THEN 44 + (2000 + (range % 8) * 250) * 2
               ELSE 32 * (4 + range % 8)
             END AS byte_len
      FROM range(0, 64))
    SELECT kind,
           CAST(COUNT(*) AS BIGINT) AS n_media,
           CAST(COUNT(*) AS BIGINT) AS distinct_payloads,
           CAST(SUM(byte_len) AS BIGINT) AS total_bytes,
           CAST(MIN(byte_len) AS BIGINT) AS min_bytes,
           CAST(MAX(byte_len) AS BIGINT) AS max_bytes
    FROM m GROUP BY kind ORDER BY kind
    """,
)
def mm_media_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..multimodal import binary_ops as mm

    feats = mm.extract_features(mm.synthesize_media(spark, n=64))
    return (
        feats.groupBy("kind")
        .agg(
            F.count("*").alias("n_media"),
            F.countDistinct("sha256").alias("distinct_payloads"),
            F.sum("byte_len").alias("total_bytes"),
            F.min("byte_len").alias("min_bytes"),
            F.max("byte_len").alias("max_bytes"),
        )
        .orderBy("kind")
    )


# ---------------------------------------------------------------------------
# Real multimodal decode: synthesized PPM/WAV payloads → numpy/stdlib
# decode stats with per-row quarantine (video has no in-container
# codec). ORACLE-CHECKED (was rows-only through r4): the payload
# bytes are a sha256 counter-mode stream (binary_ops._bytes_stream),
# so DuckDB recomputes every decoded statistic WITHOUT touching a
# binary — raster mean from per-chunk hex-byte sums, PCM16 RMS from
# signed little-endian byte pairs, the quarantine error string
# verbatim. Float safety: all sums are exact integers below 2^53
# (byte sums < 2^24, square sums < 2^42), so numpy's pairwise mean
# and SQL's SUM/n division are bit-identical doubles; sqrt is IEEE on
# both engines. This pins the FULL decode path (PPM header parse,
# raster math, WAV frame extraction, int16 sign handling) against an
# independent reimplementation, not just row counts.
# ---------------------------------------------------------------------------
def _mm_decode_oracle(n: int = 64, seed: int = 42) -> str:
    digest_bytes = (
        f"list_transform(generate_series(0, 31), j -> CAST('0x' ||"
        f" substr(sha256('{seed}:' || CAST(i AS VARCHAR) || ':' ||"
        f" CAST(ctr AS VARCHAR)), j*2+1, 2) AS BIGINT))"
    )
    return f"""
    WITH ids AS (SELECT range AS i FROM range(0, {n})),
    img0 AS (SELECT i, 32 + (i % 16) * 8 AS w, 32 + (i % 12) * 8 AS h
             FROM ids WHERE i % 3 = 0),
    imgn AS (SELECT i, w, h, w * h * 3 AS nb FROM img0),
    imgch AS (SELECT i, w, h, nb,
                     unnest(generate_series(0,
                       CAST(ceil(nb / 32.0) AS INT) - 1)) AS ctr
              FROM imgn),
    imgb AS (SELECT i, w, h, nb, ctr, {digest_bytes} AS bs FROM imgch),
    imgs AS (SELECT i, w, h, nb,
                    SUM(list_sum(bs[1 : least(32, nb - ctr * 32)])) AS tot
             FROM imgb GROUP BY i, w, h, nb),
    aud0 AS (SELECT i, 2000 + (i % 8) * 250 AS ns FROM ids WHERE i % 3 = 1),
    audn AS (SELECT i, ns, ns * 2 AS nb FROM aud0),
    audch AS (SELECT i, ns, nb,
                     unnest(generate_series(0,
                       CAST(ceil(nb / 32.0) AS INT) - 1)) AS ctr
              FROM audn),
    audb AS (SELECT i, ns, nb, ctr, {digest_bytes} AS bs FROM audch),
    audp AS (SELECT i, ns,
                    list_transform(
                      generate_series(0,
                        CAST(least(32, nb - ctr * 32) / 2 AS INT) - 1),
                      k -> CASE WHEN bs[2*k+2] >= 128
                                THEN bs[2*k+1] + 256 * bs[2*k+2] - 65536
                                ELSE bs[2*k+1] + 256 * bs[2*k+2] END) AS vals
             FROM audb),
    auds AS (SELECT i, ns,
                    SUM(list_sum(list_transform(vals, v -> v * v))) AS ss
             FROM audp GROUP BY i, ns)
    SELECT i AS media_id, 'image' AS kind,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(tot AS DOUBLE) / nb AS mean_pixel,
           CAST(NULL AS INT) AS sample_rate, CAST(NULL AS INT) AS n_samples,
           CAST(NULL AS DOUBLE) AS rms, CAST(NULL AS VARCHAR) AS decode_error
    FROM imgs
    UNION ALL
    SELECT i, 'audio', NULL, NULL, NULL,
           8000, CAST(ns AS INT), sqrt(CAST(ss AS DOUBLE) / ns), NULL
    FROM auds
    UNION ALL
    SELECT i, 'video', NULL, NULL, NULL, NULL, NULL, NULL,
           'ValueError: no codec for format=''mp4'''
    FROM ids WHERE i % 3 = 2
    """


@register("mm_decode_stats", _mm_decode_oracle())
def mm_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..multimodal import binary_ops as mm

    media = mm.synthesize_media(spark, n=64)
    return mm.decode_media(media)


# ---------------------------------------------------------------------------
# IVF ANN (coarse quantizer: per-cell centroids + nprobe routing),
# registered at nprobe=all — which provably equals the exact brute
# force (every cell is scanned, so the candidate set is the full
# corpus; pinned by tests/test_similarity recall suite), giving the
# IVF machinery a REAL value-hash oracle: the brute-force SQL. The
# partial-probe scale path (nprobe<cells — the setting that makes IVF
# an ANN at 100 TB) stays pytest-pinned by the recall tests; its
# candidate set depends on engine-internal centroid ranking and is
# deliberately not oracled. (r5 verdict #3: this row was rows-only.)
# ---------------------------------------------------------------------------
@register(
    "sim_ivf_topk",
    f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
               WHERE vec_id IN ({", ".join(map(str, _QUERY_IDS))})),
    c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings),
    p AS (
      SELECT qid, cid,
             CAST(ROUND({_dot_sql('qe', 'ce')} /
                        (sqrt({_dot_sql('qe', 'qe')}) * sqrt({_dot_sql('ce', 'ce')})),
                        4) AS DOUBLE) AS cos_sim
      FROM q JOIN c ON cid <> qid
    ),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                       ORDER BY cos_sim DESC, cid) AS rn
          FROM p)
    SELECT qid, cid, cos_sim, CAST(rn AS INT) AS rank
    FROM r WHERE rn <= {_TOPK}
    """,
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .datapipe7 import _ivf_centroids_frame

    t = load_tables(spark, sf_dir)
    # nprobe larger than any cell count = probe-all; centroids served
    # from the per-(session, corpus) trained artifact (r14) instead of
    # re-derived per invocation
    return S.ivf_topk(
        t.embeddings,
        _QUERY_IDS,
        k=_TOPK,
        nprobe=1_000_000,
        cents=_ivf_centroids_frame(spark, sf_dir, t),
    )
