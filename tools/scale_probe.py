"""One-order-up scale probe for the headline queries.

The bench runs at sf0.1; this tool manufactures a 10x warehouse
(sf1-equivalent) by replicating the sf0.1 TPC-H tables with disjoint
key ranges — copy i shifts every key by i * (max_key + 1), so join
fan-outs, group cardinalities, and distributions scale the way real
data growth would (10x facts, 10x customers/parts/suppliers, the same
calendar) — then times exec_summary + hc_q1..q10 against it and
reports each query's time ratio vs its own sf0.1 run.

A ratio near ~10x (or below, where fixed per-query overhead
amortizes) is linear scaling; a superlinear cliff means some stage is
quadratic or single-partition and must be fixed. Results land in
SCALE_PROBE.json at the repo root (committed per round) and in the
README's snapshot table.

Usage: python tools/scale_probe.py [--copies 10]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from healthcare_research_data_pipeline_project_spark import queries as Q  # noqa: E402
from healthcare_research_data_pipeline_project_spark.session import (  # noqa: E402
    distributed_regime,
    get_spark,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = "/root/testdata/sf0.1"
PROBE_DIR = os.path.join(REPO, ".scale_probe", "sf1")

#: per-table key columns that must stay globally unique across copies
#: (foreign keys shift in lockstep with the parent's primary key)
KEYED = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
}
#: key-offset base per key column, derived from the PRIMARY owner
OWNER = {
    "c_custkey": ("customer", "c_custkey"),
    "o_custkey": ("customer", "c_custkey"),
    "o_orderkey": ("orders", "o_orderkey"),
    "l_orderkey": ("orders", "o_orderkey"),
    "l_partkey": ("part", "p_partkey"),
    "l_suppkey": ("supplier", "s_suppkey"),
    "p_partkey": ("part", "p_partkey"),
    "s_suppkey": ("supplier", "s_suppkey"),
}
COPY_ONLY = ["region", "nation"]

HEADLINE = [
    "exec_summary",
    "hc_q1_readmission_risk",
    "hc_q2_sepsis_bundle",
    "hc_q3_provider_performance",
    "hc_q4_chronic_disease",
    "hc_q5_hai_surveillance",
    "hc_q6_drg_outliers",
    "hc_q7_trial_cohort",
    "hc_q8_ed_throughput",
    "hc_q9_access_audit",
    "hc_q10_data_quality",
]

#: forced-distributed graph-loop probes (r6 verdict ask #2): the
#: corpus queries ride the driver fast path at sf0.1 and the
#: distributed loop at sf1, so their raw ratio conflates the regime
#: change with the true asymptote. Each variant runs its registered
#: query inside `distributed_regime()` so BOTH legs ride the
#: distributed loop — the ratio then measures the loop itself.
DIST_VARIANTS = {
    "g_pagerank_knn_dist": "g_pagerank_knn",
    "g_kcore_knn_dist": "g_kcore_knn",
    "g_pagerank_centrality_dist": "g_pagerank_centrality",
    "g_kcore_dense_region_dist": "g_kcore_dense_region",
}


def _ivf_range_routed(spark, sf_dir):
    """sim_ivf_range_search at its SCALE setting (auto-derived nprobe,
    bounded cell scan) instead of the gate row's probe-all identity —
    the probe-all row is deliberately brute-force (it exists to give
    the routing machinery a value-hash oracle), so its scaling ratio
    measures the exact scan, not the ANN route deployments run."""
    from healthcare_research_data_pipeline_project_spark.operators.similarity import (
        ivf_range_search,
    )
    from healthcare_research_data_pipeline_project_spark.queries.datapipe11 import (
        _RANGE_QUERY_IDS,
        _RANGE_TAU,
    )
    from healthcare_research_data_pipeline_project_spark.tables import (
        load_tables,
    )

    t = load_tables(spark, sf_dir)
    return ivf_range_search(t.embeddings, _RANGE_QUERY_IDS, _RANGE_TAU)


def _resolve_query(name):
    """Corpus query by name, or a forced-variant probe."""
    if name == "sim_ivf_range_search_routed":
        return _ivf_range_routed
    if name in DIST_VARIANTS:
        query = Q.QUERIES[DIST_VARIANTS[name]]

        def forced(spark, sf_dir):
            with distributed_regime():
                return query(spark, sf_dir)

        return forced
    return Q.QUERIES[name]


#: the honest-timing top of the corpus distribution (BENCH r5) — the
#: 100 TB risk surface; none had a measured scaling ratio before r6
SLOW12 = [
    "text_tfidf_knn",
    "sim_pq_topk",
    "g_pagerank_centrality",
    "dedup_simhash_pairs",
    "mb_pair_lift",
    "dedup_canonical_keep",
    "ivm_sketch_distinct",
    "stat_bootstrap_ci",
    "dedup_ngram_jaccard_capped",
    "g_kcore_dense_region",
    "a2c_sketch_rollup",
    "dedup_semantic_blocks",
]


def _perturb_tokens(text_col, doc_id_col, copy_col):
    """Rewrite ~half the tokens with a copy-salted variant so replicas
    are NOT near-duplicates of their source doc (Jaccard ~0.15): naive
    replication would grow every dup cluster to `copies` members and
    inflate in-bucket candidate pairs quadratically — a workload
    change, not a data-scale change. Deterministic md5 coin per
    (token, position, doc, copy); JVM-side HOFs only."""

    def flip(t, i):
        coin = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "#",
                            t,
                            i.cast("string"),
                            doc_id_col.cast("string"),
                            copy_col.cast("string"),
                        )
                    ),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("long")
            % 2
        )
        return F.when(
            coin == 0, F.concat(t, F.lit("v"), copy_col.cast("string"))
        ).otherwise(t)

    return F.array_join(
        F.transform(F.split(text_col, " "), flip), " "
    )


def build_probe_aux(spark, copies: int) -> None:
    """Scale documents / embeddings / events (the LLM-pipeline tables)
    the way real growth would: new ids, mostly-distinct content."""
    dst = f"{PROBE_DIR}/documents.parquet"
    if not os.path.exists(dst):
        df = spark.read.parquet(f"{SRC}/documents.parquet")
        base = int(df.agg(F.max("doc_id")).collect()[0][0]) + 1
        out = (
            df.crossJoin(
                F.broadcast(
                    spark.range(copies).select(F.col("id").alias("__copy"))
                )
            )
            .withColumn(
                "text",
                F.when(F.col("__copy") == 0, F.col("text")).otherwise(
                    _perturb_tokens(
                        F.col("text"), F.col("doc_id"), F.col("__copy")
                    )
                ),
            )
            .withColumn(
                "doc_id",
                (F.col("doc_id") + F.col("__copy") * base).cast("long"),
            )
            .withColumn("n_chars", F.length("text").cast("long"))
            .drop("__copy")
        )
        out.write.mode("overwrite").parquet(dst)
        print(f"# built documents x{copies} (perturbed)", file=sys.stderr)
    dst = f"{PROBE_DIR}/embeddings.parquet"
    if not os.path.exists(dst):
        df = spark.read.parquet(f"{SRC}/embeddings.parquet")
        base = int(df.agg(F.max("vec_id")).collect()[0][0]) + 1
        # deterministic per-(vec, copy, dim) jitter in [-0.1, 0.1):
        # replicas land NEAR their source (same cluster structure) but
        # are not bit-identical (identical vectors would multiply every
        # cosine=1.0 near-dup pair by copies^2)
        jitter = (
            "transform(embedding, (x, i) -> cast(x + "
            "(cast(conv(substring(md5(concat(cast(vec_id as string), '#', "
            "cast(__copy as string), '#', cast(i as string))), 1, 6), 16, 10)"
            " as double) / 16777216.0 - 0.5) * 0.2 as float))"
        )
        out = (
            df.crossJoin(
                F.broadcast(
                    spark.range(copies).select(F.col("id").alias("__copy"))
                )
            )
            .withColumn(
                "embedding",
                F.when(F.col("__copy") == 0, F.col("embedding")).otherwise(
                    F.expr(jitter)
                ),
            )
            .withColumn(
                "vec_id",
                (F.col("vec_id") + F.col("__copy") * base).cast("long"),
            )
            .drop("__copy")
        )
        out.write.mode("overwrite").parquet(dst)
        print(f"# built embeddings x{copies} (jittered)", file=sys.stderr)
    dst = f"{PROBE_DIR}/events.parquet"
    if not os.path.exists(dst):
        df = spark.read.parquet(f"{SRC}/events.parquet")
        base_e = int(df.agg(F.max("event_id")).collect()[0][0]) + 1
        base_u = int(df.agg(F.max("user_id")).collect()[0][0]) + 1
        # 10x events via 10x users (the per-user stream length and the
        # calendar stay fixed — how event volume actually grows)
        out = (
            df.crossJoin(
                F.broadcast(
                    spark.range(copies).select(F.col("id").alias("__copy"))
                )
            )
            .withColumn(
                "event_id",
                (F.col("event_id") + F.col("__copy") * base_e).cast("long"),
            )
            .withColumn(
                "user_id",
                (F.col("user_id") + F.col("__copy") * base_u).cast("long"),
            )
            .drop("__copy")
        )
        out.write.mode("overwrite").parquet(dst)
        print(f"# built events x{copies} (shifted users)", file=sys.stderr)


def build_probe(spark, copies: int) -> None:
    os.makedirs(PROBE_DIR, exist_ok=True)
    bases = {}
    for col, (tbl, pk) in OWNER.items():
        if (tbl, pk) not in bases:
            mx = (
                spark.read.parquet(f"{SRC}/{tbl}.parquet")
                .agg(F.max(pk))
                .collect()[0][0]
            )
            bases[(tbl, pk)] = int(mx) + 1
    for tbl, keys in KEYED.items():
        dst = f"{PROBE_DIR}/{tbl}.parquet"
        if os.path.exists(dst):
            continue
        df = spark.read.parquet(f"{SRC}/{tbl}.parquet")
        copies_df = df.crossJoin(
            F.broadcast(
                spark.range(copies).select(F.col("id").alias("__copy"))
            )
        )
        for k in keys:
            base = bases[OWNER[k]]
            copies_df = copies_df.withColumn(
                k, (F.col(k) + F.col("__copy") * base).cast("long")
            )
        copies_df.drop("__copy").write.mode("overwrite").parquet(dst)
        print(f"# built {tbl} x{copies}", file=sys.stderr)
    for tbl in COPY_ONLY:
        dst = f"{PROBE_DIR}/{tbl}.parquet"
        src = f"{SRC}/{tbl}.parquet"
        if not os.path.exists(dst) and os.path.exists(src):
            spark.read.parquet(src).write.mode("overwrite").parquet(dst)


def main() -> None:
    global PROBE_DIR
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument(
        "--queries",
        default="headline+slow12",
        help="comma list of query names, or 'headline', 'slow12', "
        "'headline+slow12'",
    )
    ap.add_argument(
        "--probe-dir",
        default=None,
        help="where to build/serve the replicated warehouse (default "
        ".scale_probe/sf1); use a separate dir for non-10x copies — "
        "the builders skip tables that already exist",
    )
    ap.add_argument(
        "--out",
        default=None,
        help="merge results into this artifact (default "
        "SCALE_PROBE.json; the 20x point lives in "
        "SCALE_PROBE_20X.json)",
    )
    args = ap.parse_args()
    if args.probe_dir:
        PROBE_DIR = args.probe_dir
    if args.queries == "headline":
        probe_queries = HEADLINE
    elif args.queries == "slow12":
        probe_queries = SLOW12
    elif args.queries == "headline+slow12":
        probe_queries = HEADLINE + SLOW12
    else:
        probe_queries = args.queries.split(",")

    Q.load_all()
    # local-mode JVM heap defaults to 1g — fine for the sf0.1 bench,
    # OOMs in the 10x warehouse build's parquet writers. The probe is
    # its own process, so size the driver (=the whole local executor)
    # for the data it manufactures.
    spark = get_spark(
        app_name="hrdp-spark-scale-probe",
        extra_conf={"spark.driver.memory": "24g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    build_probe(spark, args.copies)
    build_probe_aux(spark, args.copies)

    from healthcare_research_data_pipeline_project_spark.caching import (
        unpersist_tracked,
    )
    from healthcare_research_data_pipeline_project_spark.healthcare.mapping import (
        ensure_warehouse,
    )

    # warehouse build (phase-3 load) excluded from per-query timings,
    # same accounting as bench.py
    t0 = time.time()
    ensure_warehouse(spark, PROBE_DIR)
    ensure_warehouse(spark, SRC)
    print(f"# warehouses ready in {time.time() - t0:.1f}s", file=sys.stderr)

    report = {}
    for name in probe_queries:
        fn = _resolve_query(name)
        times = {}
        for label, sf_dir in (("sf0.1", SRC), ("sf1", PROBE_DIR)):
            best = None
            for _ in range(2):
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
                best = dt if best is None or dt < best else best
                unpersist_tracked()
            times[label] = round(best, 3)
        ratio = round(times["sf1"] / times["sf0.1"], 2)
        report[name] = {**times, "ratio": ratio}
        print(f"# {name}: {times['sf0.1']}s -> {times['sf1']}s ({ratio}x)",
              file=sys.stderr)

    # MERGE into the committed artifact: a partial re-probe (one
    # changed query) must not discard the other rows
    path = os.path.join(REPO, args.out or "SCALE_PROBE.json")
    merged, extra = {}, {}
    if os.path.exists(path):
        with open(path) as f:
            prior = json.load(f)
        merged = prior.get("queries", {})
        extra = {
            k: v
            for k, v in prior.items()
            if k not in ("copies", "probe_rows_lineitem", "queries",
                         "max_ratio")
        }
    merged.update(report)
    out = {
        **extra,
        "copies": args.copies,
        "probe_rows_lineitem": args.copies * 600_000,
        "queries": merged,
        "max_ratio": max(r["ratio"] for r in merged.values()),
    }
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
