"""Semantic pins for the datapipe2 corpus: n-gram stats, repetition
quality filter, decontamination, stratified sampling, gap-fill/LOCF,
grouping sets, array battery. Each query is also oracle-checked at
sf0.01 by tools/check_correctness.py — these tests pin hand-computable
cases and structural invariants the hash compare can't explain."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from healthcare_research_data_pipeline_project_spark.queries import (
    QUERIES,
    load_all,
)
from healthcare_research_data_pipeline_project_spark.session import distributed_regime

from .conftest import SF_SMOKE

load_all()


def test_ngram_counts_topk_per_lang(spark):
    rows = QUERIES["text_ngram_counts"](spark, SF_SMOKE).collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 10
        cnts = [r["cnt"] for r in rs]
        assert cnts == sorted(cnts, reverse=True)


def test_repetition_stats_hand_case(spark):
    # "a a a a b" → top token 'a' 4/5; shingles of 3: [a a a, a a a, a a b]
    # → 3 total, 2 distinct → dup 1/3; bigrams [a a, a a, a a, a b] →
    # top bigram 3/4. Heavily repetitive → keep = 0.
    df = spark.createDataFrame([(1, "a a a a b")], "doc_id long, text string")
    from healthcare_research_data_pipeline_project_spark.functions.text import (
        tokens,
        shingles,
    )
    from healthcare_research_data_pipeline_project_spark.queries.datapipe2 import (
        _bigrams,
        _top_freq_spark,
    )

    d = (
        df.withColumn("toks", tokens(F.col("text")))
        .withColumn("top_token_cnt", F.expr(_top_freq_spark("toks")))
        .withColumn("sh", shingles("toks"))
        .withColumn("bg", _bigrams("toks"))
    )
    r = d.select(
        "top_token_cnt",
        F.size("sh").alias("sh_cnt"),
        F.size(F.array_distinct("sh")).alias("sh_distinct"),
        F.size("bg").alias("bg_cnt"),
        F.expr(_top_freq_spark("bg")).alias("top_bg_cnt"),
    ).first()
    assert r["top_token_cnt"] == 4
    assert (r["sh_cnt"], r["sh_distinct"]) == (3, 2)
    assert (r["bg_cnt"], r["top_bg_cnt"]) == (4, 3)


def test_repetition_single_token_doc_survives(spark):
    # 1-token doc: no bigrams — must not error and must not divide by 0
    from healthcare_research_data_pipeline_project_spark.queries.datapipe2 import (
        _bigrams,
    )
    from healthcare_research_data_pipeline_project_spark.functions.text import (
        tokens,
    )

    df = spark.createDataFrame([(1, "solo")], "doc_id long, text string")
    r = (
        df.withColumn("toks", tokens(F.col("text")))
        .select(F.size(_bigrams("toks")).alias("bg_cnt"))
        .first()
    )
    assert r["bg_cnt"] == 0


def test_decontaminate_flags_eval_overlap(spark):
    res = QUERIES["text_decontaminate"](spark, SF_SMOKE).collect()
    assert res, "expected non-eval docs"
    for r in res:
        assert 0 <= r["contaminated_cnt"] <= r["shingle_cnt"]
        expected_flag = int(
            r["contaminated_cnt"] * 20 >= r["shingle_cnt"]
        )
        assert r["is_contaminated"] == expected_flag
        # eval docs themselves never appear
        assert r["doc_id"] % 97 != 0


def test_stratified_sample_is_deterministic_and_stratified(spark):
    a = QUERIES["ds_stratified_sample"](spark, SF_SMOKE)
    b = QUERIES["ds_stratified_sample"](spark, SF_SMOKE)
    ids_a = sorted(r["doc_id"] for r in a.collect())
    ids_b = sorted(r["doc_id"] for r in b.collect())
    assert ids_a == ids_b  # hash-based, replay-stable


def test_gap_fill_dense_spine_and_locf(spark):
    rows = QUERIES["t_gap_fill"](spark, SF_SMOKE).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    n_days = {len(v) for v in by_type.values()}
    assert len(n_days) == 1  # every type covers the identical spine
    for rs in by_type.values():
        rs.sort(key=lambda r: r["day"])
        days = [r["day"].date() for r in rs]
        assert (days[-1] - days[0]).days == len(days) - 1  # dense, no gaps
        # LOCF: avg_value_locf is never null after the first observed day
        seen = False
        for r in rs:
            if r["event_cnt"] > 0:
                seen = True
            if seen:
                assert r["avg_value_locf"] is not None


def test_grouping_sets_totals_consistent(spark):
    rows = QUERIES["a19_grouping_sets"](spark, SF_SMOKE).collect()
    detail = [r for r in rows if r["l_returnflag"] is not None
              and r["l_linestatus"] is not None]
    subtotal = {r["l_returnflag"]: r["cnt"] for r in rows
                if r["l_returnflag"] is not None and r["l_linestatus"] is None}
    grand = [r for r in rows if r["l_returnflag"] is None]
    assert len(grand) == 1
    assert grand[0]["cnt"] == sum(r["cnt"] for r in detail)
    for flag, cnt in subtotal.items():
        assert cnt == sum(r["cnt"] for r in detail if r["l_returnflag"] == flag)


def test_array_battery_matches_python_math(spark):
    row = (
        QUERIES["f_array_battery"](spark, SF_SMOKE)
        .filter(F.col("vec_id") == 0)
        .first()
    )
    from healthcare_research_data_pipeline_project_spark.tables import load_tables

    emb = (
        load_tables(spark, SF_SMOKE)
        .embeddings.filter(F.col("vec_id") == 0)
        .first()["embedding"]
    )
    v = [float(x) for x in emb]
    assert row["n_dims"] == len(v)
    assert abs(row["l2_norm"] - math.sqrt(sum(x * x for x in v))) < 1e-3
    assert abs(row["max_val"] - max(v)) < 1e-3
    top3 = sorted(v, reverse=True)[:3]
    assert abs(row["top3_mean"] - sum(top3) / 3) < 1e-3


def test_connected_components_hand_graph(spark):
    from healthcare_research_data_pipeline_project_spark.operators.graph import (
        connected_components,
    )

    # two components {1,2,3,7} (path) and {5,6}; 9 isolated via self-edge
    edges = spark.createDataFrame(
        [(2, 1), (3, 2), (7, 3), (5, 6), (9, 9)], "id_a long, id_b long"
    )
    expected = {1: 1, 2: 1, 3: 1, 7: 1, 5: 5, 6: 5, 9: 9}
    # default: small-graph driver union-find fast path
    comp = {
        r["node"]: r["component"]
        for r in connected_components(edges, "id_a", "id_b").collect()
    }
    assert comp == expected
    # the distributed label-propagation loop must agree
    with distributed_regime():
        loop = {
            r["node"]: r["component"]
            for r in connected_components(edges, "id_a", "id_b").collect()
        }
    assert loop == expected


def test_dedup_clusters_match_union_find(spark):
    from healthcare_research_data_pipeline_project_spark.operators import dedup as D
    from healthcare_research_data_pipeline_project_spark.tables import load_tables

    docs = load_tables(spark, SF_SMOKE).documents
    pairs = D.lsh_candidate_pairs(docs, "text", "doc_id", 16, 4)
    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in QUERIES["dedup_clusters"](spark, SF_SMOKE).collect()
    }

    # driver-side union-find oracle over the same pairs
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for r in pairs.collect():
        union(r["id_a"], r["id_b"])
    from collections import defaultdict

    groups = defaultdict(set)
    for d in [r["doc_id"] for r in docs.select("doc_id").collect()]:
        groups[find(d)].add(d)
    expected = {}
    for members in groups.values():
        root = min(members)
        for m in members:
            expected[m] = (root, len(members))
    assert got == expected


def test_incremental_clusters_hand_case(spark):
    from healthcare_research_data_pipeline_project_spark.operators.graph import (
        incremental_dedup_clusters,
    )

    # stored state: {1,2,3} rep 1, {10,11} rep 10, {20} and {30}
    # singletons. Delta docs {0, 5, 15}; delta pairs bridge 3-5-11
    # (merging clusters 1 and 10 THROUGH a delta node) and 0-20 (the
    # new id is SMALLER than the old rep, so the merged label must
    # move to 0); 15 pairs with nothing (new singleton); 30 untouched.
    stored = spark.createDataFrame(
        [(1, 1, 3, 1), (2, 1, 3, 0), (3, 1, 3, 0),
         (10, 10, 2, 1), (11, 10, 2, 0), (20, 20, 1, 1), (30, 30, 1, 1)],
        "doc_id long, cluster_id long, cluster_size long, is_keeper int",
    )
    delta_docs = spark.createDataFrame(
        [(0,), (5,), (15,)], "doc_id long"
    )
    delta_pairs = spark.createDataFrame(
        [(3, 5), (5, 11), (0, 20)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_keeper"])
        for r in incremental_dedup_clusters(
            stored, delta_docs, delta_pairs
        ).collect()
    }
    assert got == {
        1: (1, 6, 1), 2: (1, 6, 0), 3: (1, 6, 0),
        10: (1, 6, 0), 11: (1, 6, 0), 5: (1, 6, 0),
        0: (0, 2, 1), 20: (0, 2, 0),
        15: (15, 1, 1), 30: (30, 1, 1),
    }
    # changed_only: exactly the rows a warehouse MERGE would upsert —
    # every member of a touched cluster plus the whole delta batch;
    # the untouched singleton 30 stays out
    changed = {
        r["doc_id"]
        for r in incremental_dedup_clusters(
            stored, delta_docs, delta_pairs, changed_only=True
        ).collect()
    }
    assert changed == {0, 1, 2, 3, 5, 10, 11, 15, 20}


def test_incremental_clusters_over_cap_distributed_fallback(spark):
    # r14 (VERDICT r13 #9): a batch over the driver edge cap must fall
    # back to the distributed rep-level components path and produce the
    # SAME table as the driver union-find — not raise.
    # distributed_regime() forces the fallback on the hand case's
    # 3-pair batch.
    from healthcare_research_data_pipeline_project_spark.operators.graph import (
        incremental_dedup_clusters,
    )

    stored = spark.createDataFrame(
        [(1, 1, 3, 1), (2, 1, 3, 0), (3, 1, 3, 0),
         (10, 10, 2, 1), (11, 10, 2, 0), (20, 20, 1, 1), (30, 30, 1, 1)],
        "doc_id long, cluster_id long, cluster_size long, is_keeper int",
    )
    delta_docs = spark.createDataFrame([(0,), (5,), (15,)], "doc_id long")
    delta_pairs = spark.createDataFrame(
        [(3, 5), (5, 11), (0, 20)], "id_a long, id_b long"
    )
    with distributed_regime():
        got = {
            r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_keeper"])
            for r in incremental_dedup_clusters(
                stored, delta_docs, delta_pairs
            ).collect()
        }
    assert got == {
        1: (1, 6, 1), 2: (1, 6, 0), 3: (1, 6, 0),
        10: (1, 6, 0), 11: (1, 6, 0), 5: (1, 6, 0),
        0: (0, 2, 1), 20: (0, 2, 0),
        15: (15, 1, 1), 30: (30, 1, 1),
    }


def test_incremental_clusters_match_full_recompute(spark):
    # the registry query's delta rule on real corpus data: stored
    # assignments over the old split merged with the delta pairs must
    # equal dedup_clusters over everything (the DuckDB oracle pins
    # the same identity at sf0.01; this pins it at SF_SMOKE with a
    # different split so both regimes stay covered)
    from healthcare_research_data_pipeline_project_spark.operators import (
        dedup as D,
    )
    from healthcare_research_data_pipeline_project_spark.operators.graph import (
        dedup_clusters,
        incremental_dedup_clusters,
    )
    from healthcare_research_data_pipeline_project_spark.tables import (
        load_tables,
    )

    docs = load_tables(spark, SF_SMOKE).documents.select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    stored = dedup_clusters(
        old, D.lsh_candidate_pairs(old, "text", "doc_id")
    )
    dp = D.lsh_pairs_delta(old, delta, "text", "doc_id")
    assert dp.count(), "split produced no delta pairs — pick denser"
    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_keeper"])
        for r in incremental_dedup_clusters(stored, delta, dp).collect()
    }
    want = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_keeper"])
        for r in dedup_clusters(
            docs, D.lsh_candidate_pairs(docs, "text", "doc_id")
        ).collect()
    }
    assert got == want


def test_decremental_clusters_hand_case(spark):
    from healthcare_research_data_pipeline_project_spark.operators.graph import (
        decremental_dedup_clusters,
    )

    # stored state (consistent with the hand index below): chain
    # {1,2,3} via buckets k1(1,2)+k2(2,3), pair {10,11} via k3,
    # singletons {20} (k4) and {30} (k5), triangle {40,41,42} all
    # sharing k6. Delete {2,10,30,41}: deleting 2 SPLITS its chain
    # into singletons {1} and {3}; deleting 10 leaves {11} a
    # singleton whose label must MOVE off the deleted rep; deleting
    # 30 removes a whole cluster; deleting 41 shrinks the triangle
    # but 40-42 still co-bucket, so that cluster survives re-counted;
    # {20} is untouched and must pass through verbatim.
    stored = spark.createDataFrame(
        [(1, 1, 3, 1), (2, 1, 3, 0), (3, 1, 3, 0),
         (10, 10, 2, 1), (11, 10, 2, 0), (20, 20, 1, 1), (30, 30, 1, 1),
         (40, 40, 3, 1), (41, 40, 3, 0), (42, 40, 3, 0)],
        "doc_id long, cluster_id long, cluster_size long, is_keeper int",
    )
    index = spark.createDataFrame(
        [(1, "k1"), (2, "k1"), (2, "k2"), (3, "k2"),
         (10, "k3"), (11, "k3"), (20, "k4"), (30, "k5"),
         (40, "k6"), (41, "k6"), (42, "k6")],
        "doc_id long, band_key string",
    )
    dels = spark.createDataFrame(
        [(2,), (10,), (30,), (41,)], "doc_id long"
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_keeper"])
        for r in decremental_dedup_clusters(stored, index, dels).collect()
    }
    assert got == {
        1: (1, 1, 1), 3: (3, 1, 1), 11: (11, 1, 1),
        20: (20, 1, 1), 40: (40, 2, 1), 42: (40, 2, 0),
    }
    # changed_only: exactly the UPDATE half of the warehouse MERGE —
    # repaired survivors of affected clusters; the untouched {20}
    # stays out (the DELETE half is the delete batch itself)
    changed = {
        r["doc_id"]
        for r in decremental_dedup_clusters(
            stored, index, dels, changed_only=True
        ).collect()
    }
    assert changed == {1, 3, 11, 40, 42}


def test_decremental_clusters_match_full_recompute(spark):
    # the registry query's localized-repair rule on real corpus data:
    # stored assignments minus a delete batch, repaired from the
    # stored band index, must equal dedup_clusters recomputed over
    # the surviving documents (the DuckDB oracle pins the same
    # identity at sf0.01; this pins it at SF_SMOKE with a different
    # delete set so both regimes stay covered)
    from healthcare_research_data_pipeline_project_spark.operators import (
        dedup as D,
    )
    from healthcare_research_data_pipeline_project_spark.operators.graph import (
        decremental_dedup_clusters,
        dedup_clusters,
    )
    from healthcare_research_data_pipeline_project_spark.tables import (
        load_tables,
    )

    docs = load_tables(spark, SF_SMOKE).documents.select("doc_id", "text")
    stored = dedup_clusters(
        docs, D.lsh_candidate_pairs(docs, "text", "doc_id")
    )
    index = D.lsh_banded_index(docs, "text", "doc_id")
    dels = docs.filter(F.col("doc_id") % 6 == 1).select("doc_id")
    assert dels.count(), "delete set is empty — pick a denser modulus"
    remaining = docs.filter(F.col("doc_id") % 6 != 1)
    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_keeper"])
        for r in decremental_dedup_clusters(stored, index, dels).collect()
    }
    want = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_keeper"])
        for r in dedup_clusters(
            remaining, D.lsh_candidate_pairs(remaining, "text", "doc_id")
        ).collect()
    }
    assert got == want


def test_udtf_tokenize_matches_explode_fast_path(spark):
    from healthcare_research_data_pipeline_project_spark.functions.text import tokens
    from healthcare_research_data_pipeline_project_spark.functions.udtf_ops import (
        TokenizeUDTF,
    )

    df = spark.createDataFrame(
        [("the quick brown fox",), ("und der zug",)], "text string"
    )
    spark.udtf.register("tokenize_udtf", TokenizeUDTF)
    df.createOrReplaceTempView("udtf_docs")
    got = [
        (r["pos"], r["token"], r["is_stop"])
        for r in spark.sql(
            "SELECT t.* FROM udtf_docs, LATERAL tokenize_udtf(text) t"
        ).orderBy("token", "pos").collect()
    ]
    fast = (
        df.select(F.posexplode(tokens(F.col("text"))).alias("pos", "token"))
        .orderBy("token", "pos")
        .collect()
    )
    assert [(r["pos"], r["token"]) for r in fast] == [(p, t) for p, t, _ in got]
    assert dict((t, s) for _, t, s in got)["the"] is True
    assert dict((t, s) for _, t, s in got)["quick"] is False


def test_udtf_chunker_covers_document(spark):
    from healthcare_research_data_pipeline_project_spark.functions.udtf_ops import (
        ChunkUDTF,
    )

    text = " ".join(f"w{i}" for i in range(80))
    spark.udtf.register("chunk_udtf", ChunkUDTF)
    spark.createDataFrame([(text,)], "text string").createOrReplaceTempView(
        "udtf_chunk_docs"
    )
    rows = sorted(
        spark.sql(
            "SELECT c.* FROM udtf_chunk_docs, LATERAL chunk_udtf(text) c"
        ).collect(),
        key=lambda r: r["start_pos"],
    )
    # stride 24, window 32 over 80 tokens → starts 0,24,48 (the chunk
    # at 48 reaches the end; a start at 72 would be fully contained)
    assert [r["start_pos"] for r in rows] == [0, 24, 48]
    assert rows[0]["n_tokens"] == 32 and rows[-1]["end_pos"] == 80
    # consecutive chunks overlap by window - stride = 8 tokens
    assert rows[0]["end_pos"] - rows[1]["start_pos"] == 8


def test_countmin_estimates_bound_exact_counts(spark):
    rows = QUERIES["a21_countmin_sketch"](spark, SF_SMOKE).collect()
    assert len(rows) == 10
    for r in rows:
        # CM sketches only ever overestimate
        assert r["est_cnt"] >= r["exact_cnt"]
        assert r["overcount"] == r["est_cnt"] - r["exact_cnt"]


def test_corpus_mix_downsamples_low_weight_sources(spark):
    rows = QUERIES["ds_corpus_mix"](spark, SF_SMOKE).collect()
    rates = {}
    for r in rows:
        rates.setdefault(r["source"], r["keep_permille"])
    hi = [v for s, v in rates.items() if s.startswith("src1")]
    lo = [v for s, v in rates.items() if not s.startswith("src1")]
    assert hi and lo
    # 2x-weighted sources keep at a strictly higher (capped) rate
    assert min(hi) > max(lo)


def test_length_buckets_partition_corpus(spark):
    rows = QUERIES["ds_length_buckets"](spark, SF_SMOKE).collect()
    assert sorted(r["bucket"] for r in rows) == list(range(1, 9))
    for r in rows:
        assert r["min_len"] <= r["max_len"]
        assert 0 <= r["padding_waste_pct"] < 100
    # buckets are ordered by length: max of bucket i <= min of bucket i+1
    rows.sort(key=lambda r: r["bucket"])
    for a, b in zip(rows, rows[1:]):
        assert a["max_len"] <= b["min_len"]


def test_length_buckets_no_corpus_sized_single_partition_window(spark):
    # the NTILE semantics must come from the two-phase prefix_sum rank,
    # never a global `ntile() OVER (ORDER BY ...)`: every window in the
    # plan is partitioned by the range-partition id, and the data-sized
    # frame moves through a range exchange
    from healthcare_research_data_pipeline_project_spark.plans import explain

    p = explain.plan(QUERIES["ds_length_buckets"](spark, SF_SMOKE))
    assert "ntile" not in p.lower()
    assert "rangepartitioning" in p.lower()
    for line in p.splitlines():
        if "windowspecdefinition" in line.lower():
            assert "__pid" in line.lower(), line


def test_source_overlap_matrix_is_pair_bounded(spark):
    # the contamination matrix is source-pair-shaped, never
    # doc-pair-shaped: rows <= C(n_sources, 2), each row a canonical
    # (a < b) pair with an exact Jaccard in (0, 1]
    rows = QUERIES["text_source_overlap"](spark, SF_SMOKE).collect()
    from healthcare_research_data_pipeline_project_spark.tables import (
        load_tables,
    )

    n_src = load_tables(spark, SF_SMOKE).documents.select(
        "source"
    ).distinct().count()
    assert 0 < len(rows) <= n_src * (n_src - 1) // 2
    for r in rows:
        assert r["source_a"] < r["source_b"]
        assert 0 < r["shared_shingles"] <= min(r["n_a"], r["n_b"])
        assert 0.0 < r["jaccard"] <= 1.0
    # exact Jaccard recomputation on one row
    r = rows[0]
    denom = r["n_a"] + r["n_b"] - r["shared_shingles"]
    assert abs(r["jaccard"] - round(r["shared_shingles"] / denom, 6)) < 1e-9
