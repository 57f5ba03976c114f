"""Semantic pins for the datapipe7 corpus: graph metrics, exact ACF,
Mann–Whitney U, Z-order layout, unigram LM scoring, and SQ8 ANN.
Hand-computable fixtures via the load_tables stub pattern (DuckDB
equivalence itself is covered by test_corpus_oracle)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from healthcare_research_data_pipeline_project_spark.queries import QUERIES
from healthcare_research_data_pipeline_project_spark.session import distributed_regime
from tests.conftest import SF_SMOKE

import healthcare_research_data_pipeline_project_spark.queries.datapipe7 as d7


def _stub(monkey_tables):
    class _T:
        pass

    for k, v in monkey_tables.items():
        setattr(_T, k, v)
    return _T()


def _with_tables(spark, tables, name):
    orig = d7.load_tables
    d7.load_tables = lambda s, d: _stub(tables)
    try:
        return QUERIES[name](spark, SF_SMOKE).collect()
    finally:
        d7.load_tables = orig


# ---------------------------------------------------------------------------
# g_degree_stats
# ---------------------------------------------------------------------------
def test_degree_stats_hand_case(spark):
    # edges after distinct: p1-s1, p1-s2, p2-s1 → supplier degrees
    # {s1: 2, s2: 1}, part degrees {p1: 2, p2: 1}
    li = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 10), (2, 10)],
        "l_partkey long, l_suppkey long",
    )
    rows = _with_tables(spark, {"lineitem": li}, "g_degree_stats")
    got = {(r["side"], r["degree"]): r["n_nodes"] for r in rows}
    assert got == {
        ("supplier", 2): 1,
        ("supplier", 1): 1,
        ("part", 2): 1,
        ("part", 1): 1,
    }


# ---------------------------------------------------------------------------
# g_triangle_count
# ---------------------------------------------------------------------------
def test_triangle_count_hand_case(spark):
    # v0 = v1 = v2 = [1, 0] form a triangle (cos 1.0); v3 = [0, 1] is
    # orthogonal (cos 0.0 < 0.35, never an edge): 3 nodes, 3 edges,
    # 3 wedges, 1 triangle, clustering coefficient 3·1/3 = 1.
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),
            (1, [1.0, 0.0], 0),
            (2, [1.0, 0.0], 0),
            (3, [0.0, 1.0], 0),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    rows = _with_tables(spark, {"embeddings": emb}, "g_triangle_count")
    assert len(rows) == 1
    r = rows[0]
    assert (r["n_nodes"], r["n_edges"], r["n_wedges"], r["n_triangles"]) == (
        3,
        3,
        3,
        1,
    )
    assert r["clustering_coef"] == 1.0


def test_triangle_count_no_cross_label_edges(spark):
    # identical vectors in different labels never pair
    emb = spark.createDataFrame(
        [(i, [1.0, 0.0], i % 2) for i in range(4)],
        "vec_id long, embedding array<float>, label int",
    )
    rows = _with_tables(spark, {"embeddings": emb}, "g_triangle_count")
    got = {r["label"]: r for r in rows}
    assert set(got) == {0, 1}
    for r in got.values():
        assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (2, 1, 0)


# ---------------------------------------------------------------------------
# t_autocorr
# ---------------------------------------------------------------------------
def test_autocorr_hand_case(spark):
    # daily totals 1, 2, 3 → devs ∝ [-1, 0, 1]:
    # acf(1) = (-1·0 + 0·1) / 2 = 0; acf(2) = (-1·1) / 2 = -0.5
    rows_in = [
        (datetime.datetime(2024, 1, d), float(d)) for d in (1, 2, 3)
    ]
    orders = spark.createDataFrame(
        rows_in, "o_orderdate timestamp, o_totalprice double"
    )
    rows = _with_tables(spark, {"orders": orders}, "t_autocorr")
    got = {r["lag_k"]: r for r in rows}
    # lags without any pairs (k >= 3) drop out
    assert set(got) == {1, 2}
    assert got[1]["acf"] == 0.0
    assert got[2]["acf"] == -0.5
    assert got[1]["n_pairs"] == 2 and got[2]["n_pairs"] == 1
    assert got[1]["n_days"] == 3


def test_autocorr_constant_series_is_null(spark):
    # zero variance → den 0 → NULL acf (not a crash, not ±inf)
    rows_in = [
        (datetime.datetime(2024, 1, d), 5.0) for d in (1, 2, 3, 4)
    ]
    orders = spark.createDataFrame(
        rows_in, "o_orderdate timestamp, o_totalprice double"
    )
    rows = _with_tables(spark, {"orders": orders}, "t_autocorr")
    assert rows and all(r["acf"] is None for r in rows)


# ---------------------------------------------------------------------------
# stat_mannwhitney_u
# ---------------------------------------------------------------------------
def test_mannwhitney_hand_case(spark):
    # A = {1, 2}, R = {3, 4}: ranks 1..4, R1 = 3, U1 = 0, U2 = 4;
    # no ties → var = n1·n2·(n+1)/12 = 20/12; z = -2/sqrt(20/12)
    li = spark.createDataFrame(
        [(1.0, "A"), (2.0, "A"), (3.0, "R"), (4.0, "R"), (9.0, "N")],
        "l_quantity double, l_returnflag string",
    )
    rows = _with_tables(spark, {"lineitem": li}, "stat_mannwhitney_u")
    assert len(rows) == 1
    r = rows[0]
    assert (r["n1"], r["n2"]) == (2, 2)
    assert (r["u1"], r["u2"]) == (0.0, 4.0)
    assert r["z_score"] == -1.5492  # -2/1.29099... rounded 4 dp
    assert r["rank_biserial"] == 1.0


def test_mannwhitney_ties_average_ranks(spark):
    # A = {1, 1}, R = {1, 2}: the three 1s share rank 2;
    # R1 = 4, U1 = 4 - 3 = 1, U2 = 4 - 1 = 3
    li = spark.createDataFrame(
        [(1.0, "A"), (1.0, "A"), (1.0, "R"), (2.0, "R")],
        "l_quantity double, l_returnflag string",
    )
    r = _with_tables(spark, {"lineitem": li}, "stat_mannwhitney_u")[0]
    assert (r["u1"], r["u2"]) == (1.0, 3.0)


# ---------------------------------------------------------------------------
# ds_zorder_layout
# ---------------------------------------------------------------------------
def test_morton_interleave_matches_python(spark):
    # pin the column expression against a pure-Python bit interleave
    def py_morton(a: int, b: int) -> int:
        out = 0
        for i in range(8):
            out |= ((a >> i) & 1) << (2 * i + 1)
            out |= ((b >> i) & 1) << (2 * i)
        return out

    vals = [(0, 0), (255, 255), (170, 85), (1, 2), (200, 13)]
    df = spark.createDataFrame(vals, "a int, b int").withColumn(
        "z", d7._morton16(F.col("a"), F.col("b"))
    )
    got = {(r["a"], r["b"]): r["z"] for r in df.collect()}
    assert got == {(a, b): py_morton(a, b) for a, b in vals}


def test_zorder_blocks_are_16x16_tiles(spark):
    # full 64x64 bucket grid (custkey 0..63 × 64 days, scaled into the
    # 256-bucket domain 4 apart): every populated Morton block must
    # span exactly one aligned 16×16-bucket tile
    rows_in = [
        (c * 4, datetime.datetime(2024, 1, 1) + datetime.timedelta(days=d))
        for c in range(64)
        for d in range(64)
    ]
    orders = spark.createDataFrame(
        [(c, ts) for c, ts in rows_in], "o_custkey long, o_orderdate timestamp"
    )
    rows = _with_tables(spark, {"orders": orders}, "ds_zorder_layout")
    assert rows
    for r in rows:
        assert r["cust_min"] // 16 == r["cust_max"] // 16
        assert r["day_min"] // 16 == r["day_max"] // 16
    # the quarter-domain box [64,127]² touches exactly the 16 tiles
    # inside it — 1/16 of a fully-populated 256-block layout
    n_scanned = sum(1 for r in rows if r["scanned"])
    n_box_tiles = sum(
        1
        for r in rows
        if r["cust_min"] // 16 in (4, 5, 6, 7) and r["day_min"] // 16 in (4, 5, 6, 7)
    )
    assert n_scanned == n_box_tiles


# ---------------------------------------------------------------------------
# text_unigram_logprob
# ---------------------------------------------------------------------------
def test_unigram_logprob_hand_case(spark):
    # corpus: "a a b" + "b" → tf(a) = 2, tf(b) = 2, total 4;
    # every token's nll = ln(4/2) = 0.693147 → avg 0.6931, ppl 2.00
    docs = spark.createDataFrame(
        [(1, "a a b", "s1"), (2, "b", "s2")],
        "doc_id long, text string, source string",
    )
    rows = _with_tables(spark, {"documents": docs}, "text_unigram_logprob")
    got = {r["doc_id"]: r for r in rows}
    assert got[1]["n_tok"] == 3 and got[2]["n_tok"] == 1
    for r in got.values():
        assert r["avg_nll_nats"] == 0.6931
        assert r["ppl_proxy"] == 2.0


def test_unigram_logprob_rare_tokens_score_worse(spark):
    docs = spark.createDataFrame(
        [(1, "the the the the", "s"), (2, "zyzzyva", "s")],
        "doc_id long, text string, source string",
    )
    got = {
        r["doc_id"]: r
        for r in _with_tables(spark, {"documents": docs}, "text_unigram_logprob")
    }
    assert got[2]["avg_nll_nats"] > got[1]["avg_nll_nats"]
    assert got[2]["ppl_proxy"] > got[1]["ppl_proxy"]


# ---------------------------------------------------------------------------
# sim_sq8_topk
# ---------------------------------------------------------------------------
def test_sq8_quantization_and_ranking(spark):
    # dims span [0, 2] -> codes: v0 [0,0], v1 [255,0], v2 [128,128],
    # v3 [0,255]; reconstructions are ~exact here (bounds hit the
    # grid), so the score is the true dot of the dequantized vectors.
    # code 128 reconstructs to 128*2/255 = 1.0039..., so q1*v2 =
    # 2 * 1.0039 = 2.0078
    emb = spark.createDataFrame(
        [
            (0, [0.0, 0.0]),
            (1, [2.0, 0.0]),
            (2, [1.0, 1.0]),
            (3, [0.0, 2.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    rows = _with_tables(spark, {"embeddings": emb}, "sim_sq8_topk")
    got = {(r["qid"], r["rank"]): r for r in rows}
    # q1's nearest by reconstructed dot: v2 (2 * 1.0039 = 2.0078),
    # then ties at 0 broken by cid (v0 before v3)
    assert got[(1, 1)]["cid"] == 2 and got[(1, 1)]["score_sq8"] == 2.0078
    assert got[(1, 2)]["cid"] == 0 and got[(1, 3)]["cid"] == 3
    # q2 scores v1 and v3 equally (1.0039 * 2) — tie broken by cid
    assert got[(2, 1)]["cid"] == 1 and got[(2, 1)]["score_sq8"] == 2.0078
    assert got[(2, 2)]["cid"] == 3 and got[(2, 2)]["score_sq8"] == 2.0078


def test_sq8_ranking_tracks_true_dot_on_offset_data(spark):
    # the r6 defect pin: with a large per-dim offset the RAW code dot
    # ranks by the wrong thing entirely; the reconstructed dot must
    # recover the true-dot ordering. Data: dim0 offset +100, candidates
    # differ only in their true dot with q.
    emb = spark.createDataFrame(
        [
            (0, [101.0, 1.0]),   # query
            (1, [101.0, 1.0]),   # identical -> best
            (2, [100.0, 0.0]),   # smallest
            (3, [100.5, 0.5]),   # middle
        ],
        "vec_id long, embedding array<float>",
    )
    from healthcare_research_data_pipeline_project_spark.operators import (
        similarity as S2,
    )

    rows = S2.sq8_topk(emb, [0], k=3).collect()
    order = [r["cid"] for r in sorted(rows, key=lambda r: r["rank"])]
    assert order == [1, 3, 2]  # true-dot order: v1 > v3 > v2


def test_sq8_runs_on_corpus_and_is_deterministic(spark):
    a = QUERIES["sim_sq8_topk"](spark, SF_SMOKE).collect()
    b = QUERIES["sim_sq8_topk"](spark, SF_SMOKE).collect()
    key = lambda r: (r["qid"], r["rank"])
    assert sorted(a, key=key) == sorted(b, key=key)
    assert len(a) == 8 * 5


# ---------------------------------------------------------------------------
# kNN-graph-backed analytics (r7): scale-safe PageRank / k-core
# ---------------------------------------------------------------------------
def test_pagerank_knn_well_formed_and_deterministic(spark):
    rows = QUERIES["g_pagerank_knn"](spark, SF_SMOKE).collect()
    assert rows
    by_label: dict[int, list] = {}
    for r in rows:
        assert r["rank"] > 0
        by_label.setdefault(r["label"], []).append(r["pos"])
    for poss in by_label.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
        assert len(poss) <= 3
    again = QUERIES["g_pagerank_knn"](spark, SF_SMOKE).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_pagerank_knn_forced_distributed_equivalence(spark):
    # the corpus row rides the driver fast path at test scale; pin it
    # against the batched distributed loop (the 100x path)
    fast = QUERIES["g_pagerank_knn"](spark, SF_SMOKE).collect()
    with distributed_regime():
        dist = QUERIES["g_pagerank_knn"](spark, SF_SMOKE).collect()
    assert sorted(map(tuple, fast)) == sorted(map(tuple, dist))


def test_kcore_knn_forced_distributed_equivalence(spark):
    fast = QUERIES["g_kcore_knn"](spark, SF_SMOKE).collect()
    assert fast  # mutual-kNN cycles exist on the blob corpus
    for r in fast:
        assert r["min_core_degree"] >= 2
    with distributed_regime():
        dist = QUERIES["g_kcore_knn"](spark, SF_SMOKE).collect()
    assert sorted(map(tuple, fast)) == sorted(map(tuple, dist))


def test_pagerank_canonical_ranks_only_keepers(spark):
    # canonical-first composition: no non-keeper (a node whose CC
    # component label differs from its id) may appear in the ranked
    # representatives, and the output shape matches the other
    # pagerank rows
    from healthcare_research_data_pipeline_project_spark.operators import (
        similarity as S,
    )
    from healthcare_research_data_pipeline_project_spark.operators.graph import (
        connected_components,
    )
    from healthcare_research_data_pipeline_project_spark.tables import (
        load_tables,
    )

    rows = QUERIES["g_pagerank_canonical"](spark, SF_SMOKE).collect()
    assert rows
    t = load_tables(spark, SF_SMOKE)
    pairs = S.embedding_near_dup_pairs(t.embeddings, threshold=0.35)
    comp = connected_components(pairs, "id_a", "id_b")
    non_keepers = {
        r["node"] for r in comp.collect() if r["node"] != r["component"]
    }
    assert non_keepers  # the corpus has near-dup pairs at this cut
    assert all(r["vec_id"] not in non_keepers for r in rows)
    by_label: dict[int, list] = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(r["pos"])
    for poss in by_label.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))


def test_triangle_knn_well_formed(spark):
    # mutual-kNN triangles: wedges >= 3*triangles (every triangle has
    # 3 wedges), degrees consistent, deterministic
    rows = QUERIES["g_triangle_knn"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["n_edges"] <= r["n_nodes"] * 5 / 2  # mutual <= N*k/2
        assert r["n_wedges"] >= 3 * r["n_triangles"]
    again = QUERIES["g_triangle_knn"](spark, SF_SMOKE).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
