"""Tests for dedup / similarity operators: structural guarantees and
recall of the scale paths vs their exact baselines."""

from __future__ import annotations

from pyspark.sql import functions as F

from healthcare_research_data_pipeline_project_spark.operators import dedup as D
from healthcare_research_data_pipeline_project_spark.operators import similarity as S
from healthcare_research_data_pipeline_project_spark.tables import load_tables

from .conftest import SF_ORACLE, SF_SMOKE


def test_exact_dedup_finds_planted_duplicate(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world"), (3, "unique text")],
        "doc_id long, text string",
    )
    groups = {r["keep_id"]: r["dup_count"] for r in D.exact_dedup_groups(df, "text", "doc_id").collect()}
    assert groups == {1: 2, 3: 1}


def test_minhash_identical_docs_identical_signatures(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "a completely different document about spark engines")],
        "doc_id long, text string",
    )
    sig = D.minhash_signatures(df, "text", "doc_id", 8).collect()
    by_id = {r["doc_id"]: tuple(r[f"mh_{j}"] for j in range(8)) for r in sig}
    assert by_id[1] == by_id[2]
    assert by_id[1] != by_id[3]


def test_lsh_pairs_catch_near_duplicates(spark):
    base = "spark catalyst optimizer rewrites logical plans into physical plans with codegen"
    df = spark.createDataFrame(
        [(1, base), (2, base + " stages"), (3, "unrelated words entirely here nothing shared at all")],
        "doc_id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"]) for r in D.lsh_candidate_pairs(df, "text", "doc_id", 16, 4).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_lsh_pairs_delta_equals_full_recompute(spark):
    # the incremental-ingestion rule: pairs(old ∪ Δ) must equal
    # pairs(old) ∪ pairs_delta(old, Δ) — candidacy is monotone under
    # inserts, so the delta path may never add or lose a pair
    docs = load_tables(spark, SF_ORACLE).documents.select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 7 != 0)
    delta = docs.filter(F.col("doc_id") % 7 == 0)
    full = {
        (r["id_a"], r["id_b"])
        for r in D.lsh_candidate_pairs(docs, "text", "doc_id").collect()
    }
    old_pairs = {
        (r["id_a"], r["id_b"])
        for r in D.lsh_candidate_pairs(old, "text", "doc_id").collect()
    }
    dp = {
        (r["id_a"], r["id_b"])
        for r in D.lsh_pairs_delta(old, delta, "text", "doc_id").collect()
    }
    assert dp, "split produced no delta pairs — pick a denser split"
    assert old_pairs | dp == full
    assert not (old_pairs & dp), "delta pairs must be NEW pairs only"


def test_lsh_pairs_delta_every_pair_touches_delta(spark):
    # the scale contract: old⋈old is never recomputed, so every
    # returned pair must have at least one endpoint in the delta batch
    docs = load_tables(spark, SF_ORACLE).documents.select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 7 != 0)
    delta = docs.filter(F.col("doc_id") % 7 == 0)
    delta_ids = {r["doc_id"] for r in delta.select("doc_id").collect()}
    for r in D.lsh_pairs_delta(old, delta, "text", "doc_id").collect():
        assert r["id_a"] in delta_ids or r["id_b"] in delta_ids
        assert r["id_a"] < r["id_b"]  # one-shot sweep's orientation


def test_lsh_delta_probe_keeps_bucketed_index_exchange_free(spark):
    # the 100 TB shape the operator's docstring promises: store the
    # band index bucketed on band_hash and the nightly delta probe
    # never shuffles it — only the (tiny) delta side may exchange.
    # Spark satisfies the (band_idx, band_hash) join distribution from
    # the single-key bucket partitioning (subset-key co-partitioning,
    # SPARK-35703), so the stored scan carries no Exchange above it.
    from healthcare_research_data_pipeline_project_spark.operators import (
        scale as SC,
    )
    from healthcare_research_data_pipeline_project_spark.plans import (
        explain as X,
    )

    docs = load_tables(spark, SF_ORACLE).documents.select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 7 != 0)
    delta = docs.filter(F.col("doc_id") % 7 == 0)
    spark.sql("DROP TABLE IF EXISTS b_lsh_index")
    SC.write_bucketed(
        D.lsh_banded_index(old, "text", "doc_id"),
        "b_lsh_index",
        "band_key",
        4,
        sort_cols=["band_key"],
    )
    stored = SC.read_bucketed(spark, "b_lsh_index")
    # the stored-index path must return the exact same delta pairs as
    # the in-line convenience path
    expected = {
        (r["id_a"], r["id_b"])
        for r in D.lsh_pairs_delta(old, delta, "text", "doc_id").collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in D.lsh_pairs_delta(
            None, delta, "text", "doc_id", old_index=stored
        ).collect()
    }
    assert got == expected and got
    # plan pin on the isolated Δ⋈index probe in the shuffle-join
    # regime (broadcast off — with broadcast on the tiny delta
    # broadcasts and the question never arises): exactly ONE Exchange
    # node, the delta side repartitioning to the index's band_key
    # bucket layout; the corpus-sized stored scan is exchange-free
    probe = (
        D.lsh_banded_index(delta, "text", "doc_id")
        .alias("a")
        .join(
            stored.alias("b"),
            F.col("a.band_key") == F.col("b.band_key"),
        )
    )
    old_conf = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = X.plan(probe)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_conf)
    tree = plan.split("(1) ")[0]  # the tree section of formatted mode
    assert tree.count("Exchange") == 1, plan
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan


def test_lsh_ingest_stream_equals_batch_sweep(spark, tmp_path):
    # stream ≡ batch for the continuously-maintained LSH index: feed
    # the corpus as two file drops (one per micro-batch), run the
    # foreachBatch maintainer, and the union of per-batch pair
    # emissions must equal the one-shot lsh_candidate_pairs sweep —
    # then a THIRD drop continues from the checkpoint and emits only
    # the new delta pairs (nothing re-hashed, nothing re-emitted)
    from healthcare_research_data_pipeline_project_spark.streaming.lsh_ingest import (
        read_pairs,
        run_lsh_ingest,
    )

    docs = (
        load_tables(spark, SF_ORACLE)
        .documents.select("doc_id", "lang", "source", "text")
    )
    src = str(tmp_path / "docs")
    idx = str(tmp_path / "index")
    prs = str(tmp_path / "pairs")
    ckp = str(tmp_path / "ckpt")
    part1 = docs.filter(F.col("doc_id") % 3 == 0)
    part2 = docs.filter(F.col("doc_id") % 3 == 1)
    part3 = docs.filter(F.col("doc_id") % 3 == 2)
    part1.coalesce(1).write.parquet(src + "/d1")
    part2.coalesce(1).write.parquet(src + "/d2")
    run_lsh_ingest(spark, src + "/d*/*.parquet", idx, prs, ckp)
    streamed = {
        (r["id_a"], r["id_b"]) for r in read_pairs(spark, prs).collect()
    }
    expected12 = {
        (r["id_a"], r["id_b"])
        for r in D.lsh_candidate_pairs(
            part1.unionByName(part2), "text", "doc_id"
        ).collect()
    }
    assert streamed == expected12 and streamed
    # third drop: checkpoint resume processes ONLY the new file
    part3.coalesce(1).write.parquet(src + "/d3")
    run_lsh_ingest(spark, src + "/d*/*.parquet", idx, prs, ckp)
    streamed_all = {
        (r["id_a"], r["id_b"]) for r in read_pairs(spark, prs).collect()
    }
    expected_all = {
        (r["id_a"], r["id_b"])
        for r in D.lsh_candidate_pairs(docs, "text", "doc_id").collect()
    }
    assert streamed_all == expected_all
    assert streamed_all > streamed  # the new drop added pairs


def test_lsh_ingest_maintains_cluster_snapshot(spark, tmp_path):
    # stream ≡ batch for the maintained CLUSTER state (r13): with
    # clusters_dir set, every micro-batch folds its delta pairs into
    # the stored assignment snapshot via the rep-level union-find —
    # after the backlog drains, the snapshot must equal the one-shot
    # dedup_clusters over everything ingested, and a checkpoint
    # resume over a third drop must converge the same way.
    from healthcare_research_data_pipeline_project_spark.operators.graph import (
        dedup_clusters,
    )
    from healthcare_research_data_pipeline_project_spark.streaming.lsh_ingest import (
        read_clusters,
        run_lsh_ingest,
    )

    docs = (
        load_tables(spark, SF_ORACLE)
        .documents.select("doc_id", "lang", "source", "text")
    )
    src = str(tmp_path / "docs")
    dirs = {
        k: str(tmp_path / k) for k in ("index", "pairs", "ckpt", "clusters")
    }
    part1 = docs.filter(F.col("doc_id") % 3 == 0)
    part2 = docs.filter(F.col("doc_id") % 3 == 1)
    part3 = docs.filter(F.col("doc_id") % 3 == 2)
    part1.coalesce(1).write.parquet(src + "/d1")
    part2.coalesce(1).write.parquet(src + "/d2")

    def snapshot():
        return {
            r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_keeper"])
            for r in read_clusters(spark, dirs["clusters"]).collect()
        }

    def oneshot(frame):
        return {
            r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_keeper"])
            for r in dedup_clusters(
                frame, D.lsh_candidate_pairs(frame, "text", "doc_id")
            ).collect()
        }

    run_lsh_ingest(
        spark, src + "/d*/*.parquet", dirs["index"], dirs["pairs"],
        dirs["ckpt"], clusters_dir=dirs["clusters"],
    )
    assert snapshot() == oneshot(part1.unionByName(part2))
    part3.coalesce(1).write.parquet(src + "/d3")
    run_lsh_ingest(
        spark, src + "/d*/*.parquet", dirs["index"], dirs["pairs"],
        dirs["ckpt"], clusters_dir=dirs["clusters"],
    )
    assert snapshot() == oneshot(docs)


def test_simhash_near_dup_small_hamming(spark):
    base = "spark catalyst optimizer rewrites logical plans into physical plans"
    df = spark.createDataFrame(
        [(1, base), (2, base + " fast"), (3, "zebra yak xylophone walrus vulture")],
        "doc_id long, text string",
    )
    sigs = {r["doc_id"]: r["simhash_bits"] for r in D.simhash_signatures(df, "text", "doc_id").collect()}
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))
    assert ham(sigs[1], sigs[2]) <= ham(sigs[1], sigs[3])


def test_lsh_topk_recall_vs_bruteforce(spark):
    emb = load_tables(spark, SF_SMOKE).embeddings
    qids = list(range(8))
    exact = {
        (r["qid"], r["cid"]) for r in S.brute_force_topk(emb, qids, k=5).collect()
    }
    approx = {(r["qid"], r["cid"]) for r in S.lsh_topk(emb, qids, k=5, num_planes=4).collect()}
    recall = len(exact & approx) / len(exact)
    # ANN trades recall for candidate reduction; with 4 planes the
    # bucket holds ~1/16 of the corpus, recall must still be material
    assert recall >= 0.2, recall


def test_lsh_multiprobe_improves_recall(spark):
    emb = load_tables(spark, SF_SMOKE).embeddings
    qids = list(range(8))
    exact = {
        (r["qid"], r["cid"]) for r in S.brute_force_topk(emb, qids, k=5).collect()
    }
    single = {
        (r["qid"], r["cid"])
        for r in S.lsh_topk(emb, qids, k=5, num_planes=8).collect()
    }
    multi = {
        (r["qid"], r["cid"])
        for r in S.lsh_multiprobe_topk(
            emb, qids, k=5, num_planes=8, nprobe=3
        ).collect()
    }
    r_single = len(exact & single) / len(exact)
    r_multi = len(exact & multi) / len(exact)
    # probing the query's bucket + its 2 lowest-margin Hamming-1
    # neighbors can only widen the candidate set → recall must not drop.
    # (Strict improvement is data-dependent: this synthetic corpus has
    # near-random neighbor structure, so the widened probes may add
    # candidates without adding true top-5 neighbors.)
    assert r_multi >= r_single, (r_multi, r_single)


def test_lsh_multiprobe_probes_superset_of_single(spark):
    # every single-probe candidate pair must also be a multi-probe
    # candidate (the probe list contains the original bucket)
    emb = load_tables(spark, SF_SMOKE).embeddings
    qids = list(range(8))
    single = {
        (r["qid"], r["cid"])
        for r in S.lsh_topk(emb, qids, k=100, num_planes=8).collect()
    }
    multi = {
        (r["qid"], r["cid"])
        for r in S.lsh_multiprobe_topk(
            emb, qids, k=100, num_planes=8, nprobe=3
        ).collect()
    }
    assert single <= multi
    # the 2 extra probes per query must surface additional candidates
    assert len(multi) > len(single), (len(multi), len(single))


def test_lsh_bucket_deterministic(spark):
    emb = load_tables(spark, SF_SMOKE).embeddings.limit(50)

    def buckets():
        b = S._projections(emb, "embedding", 8).select(
            "vec_id", F.expr(S._sign_bits(0, 8)).alias("lsh_bucket")
        )
        return {r["vec_id"]: r["lsh_bucket"] for r in b.collect()}

    b1, b2 = buckets(), buckets()
    assert b1 == b2
    assert all(len(v) == 8 and set(v) <= {"0", "1"} for v in b1.values())


def test_ivf_topk_recall_vs_bruteforce(spark):
    t = load_tables(spark, SF_SMOKE)
    qids = list(range(8))
    exact = {
        (r["qid"], r["cid"])
        for r in S.brute_force_topk(t.embeddings, qids, k=5).collect()
    }
    ivf = {
        (r["qid"], r["cid"])
        for r in S.ivf_topk(t.embeddings, qids, k=5, nprobe=3).collect()
    }
    recall = len(exact & ivf) / len(exact)
    # the synthetic corpus's cells overlap heavily (max pairwise cosine
    # ~0.5), so true neighbors spread across cells almost uniformly —
    # 3/10 cells bounds attainable recall near 0.3. The hard correctness
    # assertion is below: probing every cell must reproduce brute force.
    assert recall >= 0.25, f"IVF recall {recall} too low"
    # nprobe = all cells → exact
    n_cells = t.embeddings.select("label").distinct().count()
    full = {
        (r["qid"], r["cid"])
        for r in S.ivf_topk(t.embeddings, qids, k=5, nprobe=n_cells).collect()
    }
    assert full == exact


def test_centroids_pandas_and_catalyst_agree(spark):
    import math

    from healthcare_research_data_pipeline_project_spark.functions import (
        vectorized as V,
    )

    t = load_tables(spark, SF_SMOKE)
    jvm = {r["cell"]: r["centroid"] for r in S.label_centroids(t.embeddings).collect()}
    py = {
        r["label"]: r["centroid"]
        for r in V.centroid_per_group(t.embeddings, "label").collect()
    }
    assert set(jvm) == set(py)
    for cell in jvm:
        assert all(
            math.isclose(a, b, rel_tol=1e-9) for a, b in zip(jvm[cell], py[cell])
        )


def test_grouped_agg_geomean(spark):
    import math

    from healthcare_research_data_pipeline_project_spark.functions import (
        vectorized as V,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, 2.0), (1, 8.0), (2, 5.0), (2, 0.0)], "g long, v double"
    )
    got = {r["g"]: r["gm"] for r in df.groupBy("g").agg(V.geomean("v").alias("gm")).collect()}
    assert math.isclose(got[1], 4.0)   # sqrt(2*8)
    assert math.isclose(got[2], 5.0)   # zero excluded


def test_sketch_audit_identical_docs_and_bounds(spark):
    from healthcare_research_data_pipeline_project_spark import queries as Q

    Q.load_all()
    QUERIES = Q.QUERIES

    # corpus-level: every audited pair has sane integer rationals
    rows = QUERIES["dedup_sketch_audit"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 <= r["est_matches"] <= 16
        assert abs(r["est_jaccard"] - r["est_matches"] / 16) < 1e-9
        assert 0 <= r["shingle_inter"] <= r["shingle_union"]
        assert 0.0 <= r["exact_jaccard"] <= 1.0

    # identical documents: the sketch must agree on every component and
    # the exact jaccard must be 1
    import healthcare_research_data_pipeline_project_spark.queries.datapipe as dp

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, "en", "s", text), (2, "en", "s", text),
         (3, "en", "s", "totally different words entirely here now ok fine")],
        "doc_id long, lang string, source string, text string",
    )
    orig = dp.load_tables
    dp.load_tables = lambda s, d: type("T", (), {"documents": docs})()
    try:
        audit = {
            (r["id_a"], r["id_b"]): r
            for r in QUERIES["dedup_sketch_audit"](spark, SF_SMOKE).collect()
        }
    finally:
        dp.load_tables = orig
    assert (1, 2) in audit
    assert audit[(1, 2)]["est_matches"] == 16
    assert audit[(1, 2)]["est_jaccard"] == 1.0
    assert audit[(1, 2)]["exact_jaccard"] == 1.0


# ---------------------------------------------------------------------------
# document-frequency cap on the inverted shingle index (the extreme-
# scale guard against viral/boilerplate shingles going quadratic)
# ---------------------------------------------------------------------------
def test_df_cap_noop_when_no_hot_shingles(spark):
    t = load_tables(spark, SF_SMOKE)
    docs = t.documents
    base = D.shingle_jaccard_pairs(
        docs, "text", "doc_id", ["lang", "source"], threshold=0.2
    )
    capped = D.shingle_jaccard_pairs(
        docs, "text", "doc_id", ["lang", "source"], threshold=0.2, df_max=10_000
    )
    key = lambda r: (r["id_a"], r["id_b"], r["jaccard"])
    assert sorted(map(key, base.collect())) == sorted(map(key, capped.collect()))


def test_df_cap_bounds_hot_shingle_pair_blowup(spark):
    # 40 docs share one 6-token boilerplate phrase (4 hot inner
    # shingles at k=3) but are otherwise pairwise-disjoint; two extra
    # docs are genuine duplicates of each other. Uncapped, boilerplate
    # alone materializes all C(40,2) pairs at a tiny threshold; capped,
    # ONLY the genuine duplicate pair survives — the quadratic bucket
    # never forms.
    boiler = "terms of service all rights reserved"
    rows = [
        (i, f"u{i}a u{i}b u{i}c u{i}d {boiler}") for i in range(40)
    ] + [
        (100, "identical duplicated content body here entirely"),
        (101, "identical duplicated content body here entirely"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "lang", F.lit("en")
    )
    kw = dict(
        text_col="text", id_col="doc_id", block_cols=["lang"], threshold=0.01
    )
    uncapped = D.shingle_jaccard_pairs(docs, **kw).count()
    capped_rows = D.shingle_jaccard_pairs(docs, df_max=10, **kw).collect()
    assert uncapped >= 40 * 39 / 2  # boilerplate went quadratic
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in capped_rows] == [
        (100, 101, 1.0)
    ]


def test_semantic_blocks_adaptive_k_still_pairs_planted_dups(spark):
    from healthcare_research_data_pipeline_project_spark.queries.datapipe7 import (
        semantic_block_pairs,
    )

    rows = semantic_block_pairs(spark, SF_SMOKE)[0].collect()
    assert rows
    ids = {(r["id_a"], r["id_b"]) for r in rows}
    assert all(a < b for a, b in ids)


def test_knn_graph_degree_bound_and_mutuality(spark):
    # hand graph in one block: v0 and v1 are near-identical (mutual
    # top-1), v2 is far from both; k=1 keeps exactly one out-edge per
    # node and the only mutual pair is (0, 1)
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0], 0),
            (1, [0.99, 0.1, 0.0], 0),
            (2, [0.0, 0.0, 1.0], 0),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    g = S.knn_graph(emb, k=1).collect()
    out = {r["src"]: (r["dst"], r["rank"]) for r in g}
    assert len(g) == 3 and all(r["rank"] == 1 for r in g)
    assert out[0][0] == 1 and out[1][0] == 0  # mutual strong link
    # corpus: per-node out-degree never exceeds k, ranks are 1..k
    t = load_tables(spark, SF_SMOKE)
    gk = S.knn_graph(t.embeddings, k=3).collect()
    from collections import Counter

    deg = Counter(r["src"] for r in gk)
    assert deg and max(deg.values()) <= 3
    assert all(1 <= r["rank"] <= 3 for r in gk)


def test_auto_lsh_params_model():
    # the retention model honors a RECALL FLOOR (r10 default 0.85):
    # retention q^p + p*q^(p-1)*(1-q) is monotone decreasing in p for
    # q < 1, so the chosen p is the largest meeting the floor — and
    # any smaller p (down to the floor of 2) retains strictly more
    import math

    from healthcare_research_data_pipeline_project_spark.operators.similarity import (
        auto_lsh_params,
    )

    def keep(q, p):
        return q**p + p * q ** (p - 1) * (1 - q)

    for cos in (0.27, 0.4, 0.6, 0.82, 0.9):
        p, np_ = auto_lsh_params(20_000, target_cos=cos)
        assert np_ == p + 1
        q = 1.0 - math.acos(cos) / math.pi
        # the floor holds at the chosen p unless the model bottoms out
        # at the p=2 minimum (very diffuse profile — best effort)
        assert keep(q, p) >= 0.85 or p == 2
        # and p+1 would violate it (p is maximal)
        if p > 2:
            assert keep(q, p + 1) < 0.85
    # bucket bound engages for huge corpora: planes grow, recall
    # degrades gracefully instead of the join exploding
    p_ref, _ = auto_lsh_params(20_000, target_cos=0.9)
    p_big, np_big = auto_lsh_params(100_000_000, target_cos=0.9)
    assert p_big > p_ref and np_big == p_big + 1
    # higher-similarity profiles admit more planes (fewer candidates)
    p_lo, _ = auto_lsh_params(20_000, target_cos=0.3)
    p_hi, _ = auto_lsh_params(20_000, target_cos=0.9)
    assert p_hi > p_lo


def test_plane_literals_match_sql(spark):
    # the plan-time literal plane weights must equal the runtime md5
    # SQL expression bit-for-bit — the DuckDB oracles keep computing
    # the md5 form, so any drift here is a silent bucket divergence
    from healthcare_research_data_pipeline_project_spark.operators.similarity import (
        _plane_component,
        _plane_weights,
    )

    for plane in (0, 3, 7, 23):
        w = _plane_weights(plane, 16)
        sql = ", ".join(
            _plane_component(plane, str(d)) for d in range(16)
        )
        got = spark.sql(f"SELECT array({sql}) AS a").collect()[0]["a"]
        assert got == w, (plane, got, w)


def test_auto_lsh_frozen_pair(spark):
    # the sim_lsh_auto_topk oracle freezes the pair the measured
    # profile derives at the oracle SF — this re-derives it end-to-end
    # (profile sample -> retention model) and pins the frozen
    # constants, so tuner drift surfaces here AND as a gate hash
    # mismatch, never as a silent recall collapse
    from healthcare_research_data_pipeline_project_spark.queries.datapipe import (
        _AUTO_PLANES,
        _AUTO_PROBES,
        _TOPK,
    )

    emb = load_tables(spark, SF_ORACLE).embeddings
    assert S.auto_lsh_params_for(emb, k=_TOPK) == (_AUTO_PLANES, _AUTO_PROBES)


def test_knn_graph_ann_contract_and_recall(spark):
    # the ANN construction path must honor the exact operator's
    # contract (degree bound, deterministic ties, well-formed ranks)
    # and recover a material fraction of the exact kNN edges through
    # banded buckets alone
    emb = load_tables(spark, SF_SMOKE).embeddings
    exact = {
        (r["src"], r["dst"]) for r in S.knn_graph(emb, k=3).collect()
    }
    ann_rows = S.knn_graph_ann(emb, k=3, bands=4, planes_per_band=3).collect()
    by_src: dict[int, list] = {}
    for r in ann_rows:
        by_src.setdefault(r["src"], []).append(r)
    for rows in by_src.values():
        assert len(rows) <= 3
        assert sorted(x["rank"] for x in rows) == list(
            range(1, len(rows) + 1)
        )
    ann = {(r["src"], r["dst"]) for r in ann_rows}
    recall = len(exact & ann) / len(exact)
    # banded curve at these knobs keeps a material share of true
    # neighbors on the cos~0.4 corpus; the point is bounded candidate
    # work, not exactness (measured ~0.4-0.6 here)
    assert recall >= 0.3, recall
    # determinism (md5 planes, fixed tie-breaks)
    again = {
        (r["src"], r["dst"])
        for r in S.knn_graph_ann(
            emb, k=3, bands=4, planes_per_band=3
        ).collect()
    }
    assert again == ann


def test_knn_graph_ann_candidates_are_bucket_bounded(spark):
    # a vector sharing NO band bucket with its true neighbor must not
    # produce that edge — i.e. candidates come only through buckets
    # (hand case: orthogonal vectors land in different buckets with
    # overwhelming probability; identical vectors share every bucket)
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0], 0),
            (1, [1.0, 0.0, 0.0, 0.0], 0),
            (2, [1.0, 1e-4, 0.0, 0.0], 0),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    g = S.knn_graph_ann(emb, k=2).collect()
    pairs = {(r["src"], r["dst"]) for r in g}
    # identical/near-identical vectors share every band bucket
    assert (0, 1) in pairs and (1, 0) in pairs


def test_semdedup_keep_hand_case(spark):
    # cell 0: ids 1,2 identical (cos 1 -> one group; centroid-cos TIE
    # by symmetry -> keeper is the min id), id 3 orthogonal
    # (singleton). cell 1: ids 4,5 at cos 0.8 with UNEQUAL norms, so
    # the centroid leans toward the longer vector and the keep rule
    # picks the LESS-central member (id 4: 1.3/sqrt(2.05)=0.9080 vs
    # id 5: 2.8/(2*sqrt(2.05))=0.9778).
    emb = spark.createDataFrame(
        [
            (1, 0, [1.0, 0.0, 0.0, 0.0]),
            (2, 0, [1.0, 0.0, 0.0, 0.0]),
            (3, 0, [0.0, 1.0, 0.0, 0.0]),
            (4, 1, [0.0, 0.0, 1.0, 0.0]),
            (5, 1, [0.0, 0.0, 1.6, 1.2]),
        ],
        "vec_id long, label int, embedding array<float>",
    )
    got = {
        r["vec_id"]: (
            r["group_id"], r["group_size"], r["cent_cos"], r["is_keeper"]
        )
        for r in S.semdedup_keep(emb, tau=0.5).collect()
    }
    assert got == {
        1: (1, 2, 0.8944, 1),
        2: (1, 2, 0.8944, 0),
        3: (3, 1, 0.4472, 1),
        4: (4, 2, 0.908, 1),
        5: (4, 2, 0.9778, 0),
    }


def test_semdedup_keep_invariants_on_corpus(spark):
    # real-data invariants the oracle's exact pin rides on: one
    # keeper per group, the keeper is the group's (cent_cos, id)
    # argmin, group sizes recount, and every vector is assigned
    emb = load_tables(spark, SF_ORACLE).embeddings
    rows = S.semdedup_keep(emb, tau=0.35).collect()
    n = emb.count()
    assert len(rows) == n
    by_group: dict[int, list] = {}
    for r in rows:
        by_group.setdefault(r["group_id"], []).append(r)
    assert any(len(v) > 1 for v in by_group.values()), (
        "tau produced no multi-member groups — the keep rule is untested"
    )
    for gid, members in by_group.items():
        assert all(m["group_size"] == len(members) for m in members)
        keepers = [m for m in members if m["is_keeper"] == 1]
        assert len(keepers) == 1
        assert min(
            (m["cent_cos"], m["vec_id"]) for m in members
        ) == (keepers[0]["cent_cos"], keepers[0]["vec_id"])


def test_lsh_index_compaction_preserves_pairs(spark, tmp_path):
    # compaction lifecycle (r13): fold the per-batch index subdirs
    # into one band_key-partitioned segment; the effective index must
    # be row-identical, subsequent ingestion must keep emitting the
    # correct delta pairs, and the superseded dirs must be GC'd.
    import os

    from healthcare_research_data_pipeline_project_spark.streaming.lsh_ingest import (
        _committed_ids,
        compact_lsh_index,
        read_index,
        read_pairs,
        run_lsh_ingest,
    )

    docs = (
        load_tables(spark, SF_ORACLE)
        .documents.select("doc_id", "lang", "source", "text")
    )
    src = str(tmp_path / "docs")
    idx = str(tmp_path / "index")
    prs = str(tmp_path / "pairs")
    ckp = str(tmp_path / "ckpt")
    part1 = docs.filter(F.col("doc_id") % 3 == 0)
    part2 = docs.filter(F.col("doc_id") % 3 == 1)
    part3 = docs.filter(F.col("doc_id") % 3 == 2)
    part1.coalesce(1).write.parquet(src + "/d1")
    part2.coalesce(1).write.parquet(src + "/d2")
    run_lsh_ingest(spark, src + "/d*/*.parquet", idx, prs, ckp)

    def idx_rows():
        return sorted(
            (r["doc_id"], r["band_idx"], r["band_hash"], r["band_key"])
            for r in read_index(spark, idx).collect()
        )

    before = idx_rows()
    w = compact_lsh_index(spark, idx, num_files=2)
    assert w >= 0
    assert idx_rows() == before  # compaction is a pure rewrite
    # superseded batch dirs gone; exactly one compact segment remains
    assert _committed_ids(spark, idx, "batch") == []
    assert _committed_ids(spark, idx, "compact") == [w]
    data_files = [
        f for f in os.listdir(os.path.join(idx, f"compact={w}"))
        if f.endswith(".parquet")
    ]
    assert len(data_files) == 2  # num_files honored

    # ingestion continues against the compacted segment: the third
    # drop's pairs close the gap to the one-shot sweep
    part3.coalesce(1).write.parquet(src + "/d3")
    run_lsh_ingest(spark, src + "/d*/*.parquet", idx, prs, ckp)
    streamed = {
        (r["id_a"], r["id_b"]) for r in read_pairs(spark, prs).collect()
    }
    expected = {
        (r["id_a"], r["id_b"])
        for r in D.lsh_candidate_pairs(docs, "text", "doc_id").collect()
    }
    assert streamed == expected and streamed
    # idempotent re-compaction folds the new tail batch in
    w2 = compact_lsh_index(spark, idx)
    assert w2 > w
    assert compact_lsh_index(spark, idx) == w2  # no-op when no tail


def test_lsh_ingest_refuses_batch_below_watermark(spark, tmp_path):
    # a reset checkpoint restarts batch ids at 0; against a compacted
    # index those ids are "already folded" to readers, so ingestion
    # must fail loudly instead of silently skipping documents
    import pytest

    from healthcare_research_data_pipeline_project_spark.streaming.lsh_ingest import (
        compact_lsh_index,
        process_document_batch,
    )

    docs = (
        load_tables(spark, SF_ORACLE)
        .documents.select("doc_id", "lang", "source", "text")
        .limit(30)
    )
    idx = str(tmp_path / "index")
    prs = str(tmp_path / "pairs")
    process_document_batch(spark, docs, 5, idx, prs)
    assert compact_lsh_index(spark, idx) == 5
    with pytest.raises(ValueError, match="below the compaction watermark"):
        process_document_batch(spark, docs, 0, idx, prs)
    # == watermark is the legal replay case and must converge
    process_document_batch(spark, docs, 5, idx, prs)


def test_gc_snapshots_keeps_newest(spark, tmp_path):
    from healthcare_research_data_pipeline_project_spark.streaming.lsh_ingest import (
        _committed_ids,
        gc_snapshots,
        read_clusters,
    )

    snaps = str(tmp_path / "clusters")
    rows = [(1, 1, 2, 1), (2, 1, 2, 0)]
    df = spark.createDataFrame(
        rows, "doc_id long, cluster_id long, cluster_size long, is_keeper int"
    )
    for b in (3, 7, 9, 12):
        df.coalesce(1).write.parquet(f"{snaps}/batch={b}")
    assert gc_snapshots(spark, snaps, keep_last=2) == [3, 7]
    assert _committed_ids(spark, snaps, "batch") == [9, 12]
    got = {r["doc_id"] for r in read_clusters(spark, snaps).collect()}
    assert got == {1, 2}
    # keep_last below 1 still never deletes the serving snapshot
    assert gc_snapshots(spark, snaps, keep_last=0) == [9]
    assert _committed_ids(spark, snaps, "batch") == [12]
