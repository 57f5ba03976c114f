"""Pins for product quantization: codebook shape, encoding
well-formedness and self-consistency, ADC score correctness against a
pure-Python recomputation, and recall@k vs the exact brute-force
ranking on the smoke corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from healthcare_research_data_pipeline_project_spark.operators import (
    similarity as S,
)
from healthcare_research_data_pipeline_project_spark.queries import QUERIES
from healthcare_research_data_pipeline_project_spark.tables import load_tables
from tests.conftest import SF_SMOKE

import healthcare_research_data_pipeline_project_spark.queries.datapipe7  # noqa: F401


@pytest.fixture(scope="module")
def emb(spark):
    return load_tables(spark, SF_SMOKE).embeddings


def test_codebook_shape_and_determinism(spark, emb):
    b1 = S.train_pq_codebooks(emb, m=8, ksub=16)
    b2 = S.train_pq_codebooks(emb, m=8, ksub=16)
    assert len(b1) == 8
    assert all(len(sub) == 16 for sub in b1)
    assert all(len(c) == 8 for sub in b1 for c in sub)  # 64/8 dims
    assert b1 == b2  # hash-sampled + fixed seeding → bit-identical


def test_encoding_is_nearest_subcentroid(spark, emb):
    books = S.train_pq_codebooks(emb, m=8, ksub=16)
    codes = {
        r["vec_id"]: r["code"]
        for r in S.pq_encode(emb, books).collect()
    }
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in emb.collect()}
    assert set(codes) == set(vecs)
    # spot-check a handful against a pure-Python argmin
    for vid in sorted(vecs)[:10]:
        v = vecs[vid]
        for j in range(8):
            sub = v[j * 8:(j + 1) * 8]
            dists = [
                sum((a - b) ** 2 for a, b in zip(sub, c))
                for c in books[j]
            ]
            assert dists[codes[vid][j]] == pytest.approx(
                min(dists), abs=1e-9
            )


def test_adc_scores_match_python(spark, emb):
    # unrefined mode: dist is the raw ADC approximation — recompute it
    # in pure Python from the codes and the LUT definition
    rows = S.pq_topk(emb, list(range(8)), k=5, m=8, ksub=16).collect()
    assert rows and len(rows) == 8 * 5
    books = S.train_pq_codebooks(emb, m=8, ksub=16)
    codes = {r["vec_id"]: r["code"] for r in S.pq_encode(emb, books).collect()}
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in emb.collect()}
    for r in rows[:10]:
        q = vecs[r["qid"]]
        lut = [
            [sum((q[j * 8 + t] - c[t]) ** 2 for t in range(8))
             for c in books[j]]
            for j in range(8)
        ]
        expect = sum(lut[j][codes[r["cid"]][j]] for j in range(8))
        assert r["dist"] == pytest.approx(expect, abs=1e-5)


def _exact_l2_top5(vecs, qid):
    q = vecs[qid]
    exact = sorted(
        (sum((a - b) ** 2 for a, b in zip(q, vecs[c])), c)
        for c in vecs
        if c != qid
    )[:5]
    return {c for _, c in exact}


def test_pq_refine_recall_vs_brute_force(spark, emb):
    # the m=16/ksub=32/refine=50 two-stage pipeline (the registered
    # query's route — the corpus entry reports the oracled audit
    # summary since r7, so the pair-level pins live here): recall@5 vs
    # exact L2 must beat the raw code-space ranking and clear 0.8 on
    # the (deterministic) smoke corpus (measured: 0.93 refined vs
    # 0.125 raw m=8 codes)
    refined = S.pq_topk(
        emb, list(range(8)), k=5, m=16, ksub=32, refine=50
    ).collect()
    raw = S.pq_topk(emb, list(range(8)), k=5, m=8, ksub=16).collect()
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in emb.collect()}
    hits_ref = hits_raw = 0
    for qid in range(8):
        exact_ids = _exact_l2_top5(vecs, qid)
        hits_ref += len(exact_ids & {r["cid"] for r in refined
                                     if r["qid"] == qid})
        hits_raw += len(exact_ids & {r["cid"] for r in raw
                                     if r["qid"] == qid})
    assert hits_ref >= hits_raw
    assert hits_ref / 40 >= 0.8
    # refined distances are exact: rank-1 rows must carry the true
    # minimum over the shortlist (sanity on a couple of queries)
    for r in refined:
        if r["qid"] == 0 and r["rank"] == 1:
            d = sum(
                (a - b) ** 2
                for a, b in zip(vecs[0], vecs[r["cid"]])
            )
            assert r["dist"] == pytest.approx(d, abs=1e-5)


def test_pq_train_empty_input_raises_cleanly(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="non-empty"):
        S.train_pq_codebooks(empty, m=8, ksub=16)


def test_pq_query_audit_summary(spark):
    # the r7 oracled corpus shape: per-query verdict row — exactly k
    # returned, well-formed ranks, worst returned exact distance
    # within slack of the true k-th best
    rows = QUERIES["sim_pq_topk"](spark, SF_SMOKE).collect()
    assert len(rows) == 8
    for r in rows:
        assert r["n_returned"] == 5
        assert r["ranks_wellformed"]
        assert r["within_slack"]
        assert r["true_kth_l2"] > 0


def test_pq_topk_precomputed_index_matches_fresh_encode(spark, emb):
    # the index-reuse contract (r9): callers that persist the encoded
    # (vec_id, code) table — what FAISS persists — and pass it back
    # via `encoded=` must get bit-identical results to a fresh encode,
    # because the codes are deterministic given the codebooks
    books = S.train_pq_codebooks(emb, m=8, ksub=16)
    codes = S.pq_encode(emb, books)
    fresh = S.pq_topk(
        emb, [0, 1, 2], k=5, m=8, ksub=16, codebooks=books
    ).collect()
    reused = S.pq_topk(
        emb, [0, 1, 2], k=5, m=8, ksub=16, codebooks=books,
        encoded=codes,
    ).collect()
    key = lambda r: (r["qid"], r["rank"])
    assert sorted(map(tuple, fresh)) == sorted(map(tuple, reused))
    assert {key(r) for r in fresh} == {
        (q, rk) for q in (0, 1, 2) for rk in range(1, 6)
    }


def test_ivfpq_cell_restriction_and_recall(spark, emb):
    # the composed IVF-PQ route: every returned neighbor must live in
    # one of the query's nprobe routed cells (the structural contract
    # routing promises), and the refined result within those cells
    # must match the exact within-cell top-k (refine covers the full
    # cell population on the smoke corpus, so equality is exact)
    from pyspark.sql import functions as F

    res = S.ivfpq_topk(
        emb, list(range(6)), k=5, nprobe=2, m=16, ksub=32, refine=200
    ).collect()
    vecs = {
        r["vec_id"]: ([float(x) for x in r["embedding"]], r["label"])
        for r in emb.collect()
    }
    # recompute routing: L2 to per-cell mean, rounded like the operator
    import collections

    sums = collections.defaultdict(lambda: None)
    cnts = collections.Counter()
    for v, lab in vecs.values():
        if sums[lab] is None:
            sums[lab] = [0.0] * len(v)
        sums[lab] = [a + b for a, b in zip(sums[lab], v)]
        cnts[lab] += 1
    cents = {
        lab: [x / cnts[lab] for x in s] for lab, s in sums.items()
    }
    for qid in range(6):
        qv, _ = vecs[qid]
        cd = sorted(
            (round(sum((a - b) ** 2 for a, b in zip(qv, c)), 6), lab)
            for lab, c in cents.items()
        )
        probed = {lab for _, lab in cd[:2]}
        mine = [r for r in res if r["qid"] == qid]
        assert mine, qid
        for r in mine:
            assert vecs[r["cid"]][1] in probed, (qid, r["cid"])
        # exact within-probe top-5
        cand = sorted(
            (round(sum((a - b) ** 2 for a, b in zip(qv, vecs[i][0])), 6), i)
            for i in vecs
            if i != qid and vecs[i][1] in probed
        )[:5]
        assert {r["cid"] for r in mine} == {i for _, i in cand}


def test_ivfpq_shares_pq_index_artifact(spark):
    # sim_ivfpq_topk and sim_pq_topk must serve from ONE trained index
    # per (session, corpus) — by_residual=False is what makes the
    # codebooks corpus-global and shareable
    from healthcare_research_data_pipeline_project_spark.session import memo
    from healthcare_research_data_pipeline_project_spark.tables import table_path

    def served(kind):
        def rebuilt():
            raise AssertionError(f"{kind} rebuilt, not served")

        return memo(
            spark, kind, SF_SMOKE, rebuilt, [table_path(SF_SMOKE, "embeddings")]
        )

    QUERIES["sim_pq_topk"](spark, SF_SMOKE).collect()
    before = served("pq-index-m16-k32")
    rows = QUERIES["sim_ivfpq_topk"](spark, SF_SMOKE).collect()
    assert served("pq-index-m16-k32") is before  # reused, not rebuilt
    assert len(rows) == 8
    # the routing depth is derived per corpus (r11) and memoized in
    # the same session memo — every probe list must be exactly that
    # many cells
    derived = served("ivfpq-nprobe")
    for r in rows:
        assert r["ranks_wellformed"] and r["within_slack"]
        assert r["n_candidates"] > 0
        assert len(r["probed_cells"].split(",")) == derived


def test_auto_ivf_radius_frozen_nprobe(spark):
    # sim_ivf_range_search_routed bakes _RANGE_ROUTED_NPROBE into its
    # oracle SQL while the runtime derives the τ-regime depth — pin
    # derivation == frozen literal at the oracle SF (the same
    # discipline as test_auto_ivf_frozen_nprobe for the l2/top-k
    # regime)
    from tests.conftest import SF_ORACLE
    import healthcare_research_data_pipeline_project_spark.queries.datapipe11 as d11

    emb = load_tables(spark, SF_ORACLE).embeddings
    assert (
        S.auto_ivf_nprobe(emb, metric="cos", tau=d11._RANGE_TAU)
        == d11._RANGE_ROUTED_NPROBE
    )


def test_ivf_range_routed_probe_is_cell_bounded(spark):
    # the plan pin VERDICT r12 #3 asks for: the deployed radius route
    # must expand candidates ONLY through the cell equi-join — no
    # cartesian product anywhere, and the corpus-sided scan joins on
    # the cell key (the probe set bounds the scan). The only
    # nested-loop join allowed is the bounded query×centroid routing
    # cross (≤ queries × #cells rows by construction).
    from tests.conftest import SF_ORACLE
    from healthcare_research_data_pipeline_project_spark import queries as Q

    from healthcare_research_data_pipeline_project_spark.plans import (
        explain as X,
    )

    Q.load_all()  # order-independent: registration must not depend
    # on which sibling test imported the defining module first
    df = Q.QUERIES["sim_ivf_range_search_routed"](spark, SF_ORACLE)
    plan = X.plan(df, "simple")
    assert "CartesianProduct" not in plan
    # the candidate expansion is an equi-join on the cell id
    assert "cell" in plan and (
        "hashpartitioning(cell" in plan
        or "[cell" in plan
        or "cell#" in plan
    )
    got = {(r["qid"], r["cid"]) for r in df.collect()}
    assert got, "routed radius search returned nothing at the oracle SF"


def test_auto_ivf_frozen_nprobe(spark):
    # the sim_ivfpq_topk oracle SQL bakes _IVFPQ_NPROBE as a literal
    # while the runtime derives the routing depth from the corpus —
    # this pins derivation == frozen literal at the oracle SF, so a
    # tuner / sampler / corpus change surfaces here (and as a gate
    # hash mismatch), never as a silent probe-set divergence
    from tests.conftest import SF_ORACLE
    import healthcare_research_data_pipeline_project_spark.queries.datapipe7 as d7

    emb = load_tables(spark, SF_ORACLE).embeddings
    assert (
        S.auto_ivf_nprobe(emb, k=5, metric="l2") == d7._IVFPQ_NPROBE
    )


def test_auto_ivf_nprobe_reaches_recall_floor(spark, emb):
    # the tuner's contract: at the derived depth, the measured p25
    # routing recall meets the floor; and probing ALL cells is never
    # derived when a smaller depth already suffices (monotonicity
    # sanity). Verified end-to-end: the derived depth's exact
    # within-probe top-k must contain >= floor of the true top-k's
    # quality grade on the tuning sample by construction, so here we
    # just pin determinism + bounds.
    np1 = S.auto_ivf_nprobe(emb, k=5, metric="l2")
    np2 = S.auto_ivf_nprobe(emb, k=5, metric="l2")
    assert np1 == np2  # deterministic sample -> deterministic knob
    ncells = emb.select("label").distinct().count()
    assert 1 <= np1 <= ncells
    # a stricter floor can only probe deeper
    np_hi = S.auto_ivf_nprobe(emb, k=5, metric="l2", target_recall=0.99)
    assert np_hi >= np1


@pytest.fixture(scope="module")
def pq_books(emb):
    return S.train_pq_codebooks(emb, m=8, ksub=16)


@pytest.mark.parametrize(
    "case",
    ["ivfpq_all_cells", "ivfpq_all_cells_refine", "lsh_nprobe1_p6", "lsh_nprobe1_p9"],
)
def test_route_identities(spark, emb, pq_books, case):
    # routes that are special cases of one another return identical
    # rows, scores and ranks included: IVF-PQ probing every cell IS
    # the unrouted PQ scan (same codebooks, with and without refine),
    # and multiprobe LSH probing only the query's own bucket IS the
    # single-bucket route
    qids = list(range(8))
    if case.startswith("ivfpq"):
        refine = 200 if case.endswith("refine") else None
        ncells = emb.select("label").distinct().count()
        got = S.ivfpq_topk(
            emb, qids, k=5, nprobe=ncells, codebooks=pq_books, refine=refine
        )
        want = S.pq_topk(emb, qids, k=5, codebooks=pq_books, refine=refine)
    else:
        planes = int(case.rsplit("_p", 1)[1])
        got = S.lsh_multiprobe_topk(emb, qids, k=5, num_planes=planes, nprobe=1)
        want = S.lsh_topk(emb, qids, k=5, num_planes=planes)
    got_rows = sorted(tuple(r) for r in got.collect())
    want_rows = sorted(tuple(r) for r in want.collect())
    assert got.columns == want.columns
    assert got_rows and got_rows == want_rows
    if case.startswith("ivfpq"):
        assert len(got_rows) == 5 * len(qids)


def test_ann_index_save_load_roundtrip_serves_identically(
    spark, emb, tmp_path
):
    # cross-session index lifecycle: a saved IVF-PQ index loads in a
    # "fresh" consumer and serves byte-identical top-k to the fresh
    # in-memory artifacts (training is deterministic, so equality is
    # exact); a re-save bumps the version atomically and load() sees
    # the newest committed one
    from healthcare_research_data_pipeline_project_spark.operators.similarity import (
        label_centroids,
        load_ann_index,
        save_ann_index,
    )

    books = S.train_pq_codebooks(emb, m=16, ksub=32)
    encoded = S.pq_encode(emb, books).join(
        emb.select("vec_id", "label"), "vec_id"
    )
    cents = [
        (int(r["cell"]), [float(x) for x in r["centroid"]])
        for r in label_centroids(emb).collect()
    ]
    idx_dir = str(tmp_path / "ann_index")
    v1 = save_ann_index(
        idx_dir, books, encoded, cents, nprobe=2,
        meta={"m": 16, "ksub": 32, "metric": "l2"},
    )
    assert v1 == "v1"
    loaded = load_ann_index(spark, idx_dir)
    assert loaded["version"] == "v1" and loaded["nprobe"] == 2
    assert loaded["codebooks"] == books
    assert sorted(loaded["centroid_rows"]) == sorted(cents)

    qids = list(range(6))
    fresh = {
        (r["qid"], r["rank"]): r["cid"]
        for r in S.ivfpq_topk(
            emb, qids, k=5, nprobe=2, m=16, ksub=32, refine=200,
            codebooks=books,
        ).collect()
    }
    served = {
        (r["qid"], r["rank"]): r["cid"]
        for r in S.ivfpq_topk(
            emb, qids, k=5, nprobe=loaded["nprobe"], m=16, ksub=32,
            refine=200, codebooks=loaded["codebooks"],
            encoded=loaded["encoded"],  # serve the PERSISTED codes
        ).collect()
    }
    assert served == fresh and served

    # atomic re-save: version bumps, manifest points at the new one
    v2 = save_ann_index(
        idx_dir, books, encoded, cents, nprobe=3, meta={}
    )
    assert v2 == "v2"
    assert load_ann_index(spark, idx_dir)["nprobe"] == 3


def test_ann_index_staleness_guard_and_gc(spark, emb, tmp_path):
    # r13 lifecycle (VERDICT r12 #6): the manifest stamps the training
    # corpus fingerprint; load refuses (or warns) when the serving
    # corpus changed, and refuses when an old manifest has no
    # fingerprint to check; superseded version dirs are GC'd down to
    # keep_versions with the committed version always retained
    import os

    from healthcare_research_data_pipeline_project_spark.operators.similarity import (
        label_centroids,
        load_ann_index,
        save_ann_index,
    )

    books = S.train_pq_codebooks(emb, m=16, ksub=32)
    encoded = S.pq_encode(emb, books).join(
        emb.select("vec_id", "label"), "vec_id"
    )
    cents = [
        (int(r["cell"]), [float(x) for x in r["centroid"]])
        for r in label_centroids(emb).collect()
    ]
    idx_dir = str(tmp_path / "ann_index")
    save_ann_index(idx_dir, books, encoded, cents, nprobe=2, corpus=emb)
    # same corpus: loads clean
    assert load_ann_index(spark, idx_dir, corpus=emb)["nprobe"] == 2
    # changed corpus (one row dropped): refusal by default, served
    # with a warning on opt-in, unchecked on ignore
    changed = emb.filter(F.col("vec_id") != 0)
    with pytest.raises(RuntimeError, match="stale ANN index"):
        load_ann_index(spark, idx_dir, corpus=changed)
    assert load_ann_index(
        spark, idx_dir, corpus=changed, on_stale="warn"
    )["nprobe"] == 2
    assert load_ann_index(
        spark, idx_dir, corpus=changed, on_stale="ignore"
    )["nprobe"] == 2
    # a fingerprint-less manifest cannot be checked — that raises too
    # (the knob must not silently no-op)
    legacy_dir = str(tmp_path / "legacy_index")
    save_ann_index(legacy_dir, books, encoded, cents, nprobe=2)
    with pytest.raises(RuntimeError, match="no corpus_fingerprint"):
        load_ann_index(spark, legacy_dir, corpus=emb)
    # GC: after 4 more saves with keep_versions=2 only the newest two
    # version dirs remain and the manifest serves the newest
    for n in (3, 4, 5, 6):
        save_ann_index(
            idx_dir, books, encoded, cents, nprobe=n, corpus=emb,
            keep_versions=2,
        )
    left = sorted(
        d for d in os.listdir(idx_dir)
        if d.startswith("v") and d[1:].isdigit()
    )
    assert left == ["v4", "v5"]
    assert load_ann_index(spark, idx_dir, corpus=emb)["nprobe"] == 6


def test_ann_index_append_serves_union_without_retraining(
    spark, emb, tmp_path
):
    # FAISS add_with_ids semantics (r13): train+save on a base slice,
    # append the remainder — the served index must equal encoding the
    # delta with the FROZEN codebooks and unioning in memory, the
    # append must write a delta-sized segment (not rewrite the
    # corpus), and re-appending an existing id must refuse
    import os

    from healthcare_research_data_pipeline_project_spark.operators.similarity import (
        append_to_ann_index,
        label_centroids,
        load_ann_index,
        save_ann_index,
    )

    base = emb.filter(F.col("vec_id") % 4 != 0)
    delta = emb.filter(F.col("vec_id") % 4 == 0)
    books = S.train_pq_codebooks(base, m=16, ksub=32)
    enc_base = S.pq_encode(base, books).join(
        base.select("vec_id", "label"), "vec_id"
    )
    cents = [
        (int(r["cell"]), [float(x) for x in r["centroid"]])
        for r in label_centroids(base).collect()
    ]
    idx_dir = str(tmp_path / "ann_index")
    save_ann_index(idx_dir, books, enc_base, cents, nprobe=2, corpus=base)

    v2 = append_to_ann_index(spark, idx_dir, delta, corpus=emb)
    assert v2 == "v2"
    loaded = load_ann_index(spark, idx_dir, corpus=emb)
    assert loaded["code_dirs"] == ["v1/codes", "v2/codes"]
    assert loaded["meta"]["appended_to"] == "v1"
    # the delta segment holds ONLY the delta's rows
    n_delta = delta.count()
    assert spark.read.parquet(
        os.path.join(idx_dir, "v2/codes")
    ).count() == n_delta
    assert loaded["encoded"].count() == emb.count()

    # served ranking == frozen-codebook encode-then-union, exactly
    expect_enc = enc_base.unionByName(
        S.pq_encode(delta, books).join(
            delta.select("vec_id", "label"), "vec_id"
        )
    )
    qids = list(range(6))
    want = {
        (r["qid"], r["rank"]): r["cid"]
        for r in S.ivfpq_topk(
            emb, qids, k=5, nprobe=2, m=16, ksub=32, refine=200,
            codebooks=books, encoded=expect_enc,
        ).collect()
    }
    got = {
        (r["qid"], r["rank"]): r["cid"]
        for r in S.ivfpq_topk(
            emb, qids, k=5, nprobe=loaded["nprobe"], m=16, ksub=32,
            refine=200, codebooks=loaded["codebooks"],
            encoded=loaded["encoded"],
        ).collect()
    }
    assert got == want and got

    # insert-only: an id already indexed refuses loudly
    with pytest.raises(ValueError, match="insert-only"):
        append_to_ann_index(spark, idx_dir, delta.limit(1))


def test_ann_index_append_assigns_cells_and_compacts(spark, emb, tmp_path):
    # label-less deltas route to the nearest stored coarse centroid
    # (the trained-quantizer apply path), and a chain longer than
    # max_segments folds into ONE segment so GC can reclaim ancestors
    import os

    from healthcare_research_data_pipeline_project_spark.operators.clustering import (
        assign,
    )
    from healthcare_research_data_pipeline_project_spark.operators.similarity import (
        append_to_ann_index,
        label_centroids,
        load_ann_index,
        save_ann_index,
    )

    base = emb.filter(F.col("vec_id") >= 40)
    books = S.train_pq_codebooks(base, m=16, ksub=32)
    enc_base = S.pq_encode(base, books).join(
        base.select("vec_id", "label"), "vec_id"
    )
    cents = [
        (int(r["cell"]), [float(x) for x in r["centroid"]])
        for r in label_centroids(base).collect()
    ]
    idx_dir = str(tmp_path / "ann_index")
    save_ann_index(idx_dir, books, enc_base, cents, nprobe=2)

    # no label column: cells must equal clustering.assign against the
    # STORED centroids
    delta = emb.filter(F.col("vec_id") < 8).drop("label")
    append_to_ann_index(spark, idx_dir, delta)
    loaded = load_ann_index(spark, idx_dir)
    got_cells = {
        r["vec_id"]: r["label"]
        for r in loaded["encoded"].filter(F.col("vec_id") < 8).collect()
    }
    want_cells = {
        r["vec_id"]: r["cid"]
        for r in assign(delta, dict(cents)).collect()
    }
    assert got_cells == want_cells and got_cells

    # drive the chain past max_segments=3: the breaching append
    # compacts to ONE segment and the chain restarts
    for lo in (8, 16, 24):
        d = emb.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 8)
        )
        append_to_ann_index(
            spark, idx_dir, d, max_segments=3, keep_versions=2
        )
    loaded = load_ann_index(spark, idx_dir)
    # the lo=16 append would have chained segment #4 > max_segments=3,
    # so it compacted into one folded segment (v4) and the chain
    # restarted; lo=24 then chained normally onto it
    assert loaded["code_dirs"] == ["v4/codes", "v5/codes"]
    assert loaded["encoded"].count() == base.count() + 32
    # ancestors reclaimed: the pre-compaction versions v1-v3 are no
    # longer referenced, so GC pruned to the keep_versions=2 window
    vdirs = sorted(
        d for d in os.listdir(idx_dir)
        if d.startswith("v") and d[1:].isdigit()
    )
    assert vdirs == ["v4", "v5"]


def test_ann_serve_topk_matches_ivfpq_for_corpus_queries(
    spark, emb, tmp_path
):
    # the serving path (loaded index + arbitrary query frame) uses the
    # same rounded routing/ADC expressions as ivfpq_topk, so for
    # query vectors that ARE corpus members the two must return
    # identical rows
    from healthcare_research_data_pipeline_project_spark.operators.similarity import (
        ann_serve_topk,
        label_centroids,
        load_ann_index,
        save_ann_index,
    )

    books = S.train_pq_codebooks(emb, m=16, ksub=32)
    encoded = S.pq_encode(emb, books).join(
        emb.select("vec_id", "label"), "vec_id"
    )
    cents = [
        (int(r["cell"]), [float(x) for x in r["centroid"]])
        for r in label_centroids(emb).collect()
    ]
    idx_dir = str(tmp_path / "ann_index")
    save_ann_index(idx_dir, books, encoded, cents, nprobe=2)
    index = load_ann_index(spark, idx_dir)

    qids = list(range(6))
    queries = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    served = {
        (r["qid"], r["rank"]): (r["cid"], r["dist"])
        for r in ann_serve_topk(index, queries, k=5).collect()
    }
    want = {
        (r["qid"], r["rank"]): (r["cid"], r["dist"])
        for r in S.ivfpq_topk(
            emb, qids, k=5, nprobe=2, m=16, ksub=32,
            codebooks=books, encoded=encoded,
        ).collect()
    }
    assert served == want and served
    # external ids share no namespace with corpus ids: with
    # exclude_self=False a candidate whose id merely equals the query
    # id stays in the result set (ADC self-distance is reconstruction
    # error, not 0, so it need not rank first — but it must not be
    # dropped; exclude_self=True must drop exactly it)
    ext = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    with_self = {
        r["cid"]
        for r in ann_serve_topk(
            index, ext, k=500, exclude_self=False
        ).collect()
    }
    without = {
        r["cid"]
        for r in ann_serve_topk(index, ext, k=500).collect()
    }
    # identical probe set on both calls, so the results differ by AT
    # MOST the id-colliding candidate (whether id 0 appears at all
    # depends on whether its arbitrary label cell was routed)
    assert without <= with_self
    assert with_self - without <= {0}


def test_ann_serve_stream_picks_up_index_appends(spark, emb, tmp_path):
    # stream ≡ batch for the ANN server, and the per-batch manifest
    # resolve: an append committed between micro-batches serves in
    # the next batch without a restart
    from healthcare_research_data_pipeline_project_spark.operators.similarity import (
        ann_serve_topk,
        append_to_ann_index,
        label_centroids,
        load_ann_index,
        save_ann_index,
    )
    from healthcare_research_data_pipeline_project_spark.streaming.ann_serve import (
        read_results,
        run_ann_serve,
    )

    base = emb.filter(F.col("vec_id") % 5 != 0)
    books = S.train_pq_codebooks(base, m=16, ksub=32)
    enc = S.pq_encode(base, books).join(
        base.select("vec_id", "label"), "vec_id"
    )
    cents = [
        (int(r["cell"]), [float(x) for x in r["centroid"]])
        for r in label_centroids(base).collect()
    ]
    idx_dir = str(tmp_path / "ann_index")
    save_ann_index(idx_dir, books, enc, cents, nprobe=2)

    src = str(tmp_path / "queries")
    res = str(tmp_path / "results")
    ckp = str(tmp_path / "ckpt")
    mkq = lambda ids: emb.filter(F.col("vec_id").isin(ids)).select(
        (F.col("vec_id") + 1000).alias("qid"), "embedding"
    )
    q1, q2 = [1, 2, 3], [4, 6, 7]
    mkq(q1).coalesce(1).write.parquet(src + "/d1")
    run_ann_serve(spark, src + "/d*/*.parquet", idx_dir, res, ckp, k=3)
    first = {
        (r["qid"], r["rank"]): r["cid"]
        for r in read_results(spark, res).collect()
    }
    want1 = {
        (r["qid"], r["rank"]): r["cid"]
        for r in ann_serve_topk(
            load_ann_index(spark, idx_dir), mkq(q1), k=3,
            exclude_self=False,
        ).collect()
    }
    assert first == want1 and first

    # append the held-out vectors, then serve a second drop: its
    # results must come from the APPENDED index (one-shot equality
    # against the newest committed version proves the pickup)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    append_to_ann_index(spark, idx_dir, delta)
    mkq(q2).coalesce(1).write.parquet(src + "/d2")
    run_ann_serve(spark, src + "/d*/*.parquet", idx_dir, res, ckp, k=3)
    got = {
        (r["qid"], r["rank"]): r["cid"]
        for r in read_results(spark, res).collect()
    }
    want2 = {
        (r["qid"], r["rank"]): r["cid"]
        for r in ann_serve_topk(
            load_ann_index(spark, idx_dir), mkq(q2), k=3,
            exclude_self=False,
        ).collect()
    }
    assert got == {**want1, **want2}
    appended_served = {
        cid for (_, _), cid in got.items()
    } & {int(r["vec_id"]) for r in delta.select("vec_id").collect()}
    assert appended_served  # at least one appended vector is a result
