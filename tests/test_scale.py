"""Scale-operator tests: salted aggregation decomposability,
deterministic hash sampling/splits, bucketed exchange-free joins,
streaming dedup."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import functions as F

from healthcare_research_data_pipeline_project_spark.functions.helpers import DEC
from healthcare_research_data_pipeline_project_spark.operators import scale as SC
from healthcare_research_data_pipeline_project_spark.plans import explain as X
from healthcare_research_data_pipeline_project_spark.session import distributed_regime
from healthcare_research_data_pipeline_project_spark.streaming import (
    surveillance as sv,
)
from healthcare_research_data_pipeline_project_spark.tables import load_tables
from tests.conftest import SF_SMOKE


# ---------------------------------------------------------------------------
# Salted aggregation ≡ plain groupBy
# ---------------------------------------------------------------------------
def test_salted_agg_matches_plain(spark):
    li = load_tables(spark, SF_SMOKE).lineitem
    salted = {
        r["l_returnflag"]: (r["cnt"], str(r["qty"]), str(r["mn"]), str(r["mx"]))
        for r in SC.salted_agg(
            li,
            ["l_returnflag"],
            {
                "cnt": ("count", None),
                "qty": ("sum", F.col("l_quantity").cast(DEC)),
                "mn": ("min", F.col("l_extendedprice")),
                "mx": ("max", F.col("l_extendedprice")),
            },
            n_salts=8,
            entropy="l_orderkey",
        ).collect()
    }
    plain = {
        r["l_returnflag"]: (r["cnt"], str(r["qty"]), str(r["mn"]), str(r["mx"]))
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("l_quantity").cast(DEC)).alias("qty"),
            F.min("l_extendedprice").alias("mn"),
            F.max("l_extendedprice").alias("mx"),
        )
        .collect()
    }
    assert salted == plain


def test_salted_agg_spreads_partials(spark):
    """The partial phase must actually fan the hot key out over salts."""
    li = load_tables(spark, SF_SMOKE).lineitem
    partial = (
        li.withColumn("__salt", SC.salt_col(8, "l_orderkey"))
        .groupBy("l_returnflag", "__salt")
        .count()
    )
    per_key = (
        partial.groupBy("l_returnflag")
        .agg(F.countDistinct("__salt").alias("n"))
        .collect()
    )
    assert all(r["n"] == 8 for r in per_key)


# ---------------------------------------------------------------------------
# Deterministic sampling / splits
# ---------------------------------------------------------------------------
def test_hash_sample_stable_and_nested(spark):
    docs = load_tables(spark, SF_SMOKE).documents
    s10a = {r["doc_id"] for r in SC.hash_sample(docs, "doc_id", 10).select("doc_id").collect()}
    s10b = {r["doc_id"] for r in SC.hash_sample(docs, "doc_id", 10).select("doc_id").collect()}
    s20 = {r["doc_id"] for r in SC.hash_sample(docs, "doc_id", 20).select("doc_id").collect()}
    assert s10a == s10b            # reproducible
    assert s10a <= s20             # monotone: growing pct only adds rows
    n = docs.count()
    assert 0 < len(s10a) < len(s20) < n


def test_hash_split_covers_and_is_key_consistent(spark):
    docs = load_tables(spark, SF_SMOKE).documents
    split = SC.hash_split(docs, "doc_id", train_pct=80, val_pct=10)
    counts = {r["split"]: r["n"] for r in split.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == docs.count()
    # roughly proportional (hash uniformity at n≈600: generous bounds)
    total = sum(counts.values())
    assert 0.6 < counts["train"] / total < 0.95
    # same key always lands in the same split, even via a different frame
    again = {
        r["doc_id"]: r["split"]
        for r in SC.hash_split(docs.select("doc_id"), "doc_id").collect()
    }
    for r in split.select("doc_id", "split").collect():
        assert again[r["doc_id"]] == r["split"]


# ---------------------------------------------------------------------------
# Bucketed tables: exchange-free co-located join
# ---------------------------------------------------------------------------
@contextmanager
def _conf(spark, key: str, value: str):
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_bucketed_join_has_no_exchange(spark):
    t = load_tables(spark, SF_SMOKE)
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    SC.write_bucketed(t.orders, "b_orders", "o_custkey", 4, sort_cols=["o_custkey"])
    SC.write_bucketed(t.customer, "b_customer", "c_custkey", 4, sort_cols=["c_custkey"])
    with _conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
        bo, bc = SC.read_bucketed(spark, "b_orders"), SC.read_bucketed(spark, "b_customer")
        joined = bo.join(bc, bo.o_custkey == bc.c_custkey).select(
            "o_orderkey", "c_name"
        )
        p = X.plan(joined)
        assert "Exchange" not in p, p
        # sanity: the same join over plain parquet does shuffle both sides
        plain = t.orders.join(
            t.customer, t.orders.o_custkey == t.customer.c_custkey
        ).select("o_orderkey", "c_name")
        assert "Exchange" in X.plan(plain)
        # and the answers agree
        assert joined.count() == plain.count()


# ---------------------------------------------------------------------------
# Streaming dedup (dropDuplicatesWithinWatermark)
# ---------------------------------------------------------------------------
def test_dedup_stream_drops_replays(spark, tmp_path):
    src = str(tmp_path / "dup_events")
    rows = []
    for i in range(30):
        rows.append((i % 10, f"2024-01-01 10:{i % 60:02d}:00", i % 3, "view", 1.0, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    df.coalesce(2).write.parquet(src)

    out = sv.run_available_now(
        sv.dedup_stream(sv.stream_events(spark, src)),
        "t_dedup_stream",
        output_mode="append",
    )
    ids = [r["event_id"] for r in out]
    assert sorted(ids) == list(range(10))  # each replayed id survives once


# ---------------------------------------------------------------------------
# Two-phase prefix sum ≡ single-partition global window
# ---------------------------------------------------------------------------
def test_prefix_sum_matches_naive_window(spark):
    from pyspark.sql import Window

    ords = load_tables(spark, SF_SMOKE).orders.select(
        "o_orderkey", F.lit(1).alias("one"), F.col("o_custkey").alias("v")
    )
    got = {
        r["o_orderkey"]: (r["rn"], r["cv"])
        for r in SC.prefix_sum(
            ords, ["o_orderkey"], {"rn": "one", "cv": "v"}, num_partitions=7
        ).collect()
    }
    w = Window.orderBy("o_orderkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        r["o_orderkey"]: (r["rn"], r["cv"])
        for r in ords.withColumn("rn", F.sum("one").over(w))
        .withColumn("cv", F.sum("v").over(w))
        .collect()
    }
    assert got == want


def test_prefix_sum_avoids_single_partition_exchange(spark):
    ords = load_tables(spark, SF_SMOKE).orders.select(
        "o_orderkey", F.lit(1).alias("one")
    )
    p = X.plan(SC.prefix_sum(ords, ["o_orderkey"], {"rn": "one"}))
    # the data-sized frame must move through a range exchange, and the
    # only SinglePartition stage allowed is the partition-count-sized
    # offsets frame (grouped by __pid, at most num_partitions rows)
    assert "rangepartitioning" in p.lower()
    for line in p.splitlines():
        if "singlepartition" in line.lower():
            assert "__pid" in p.lower()


# ---------------------------------------------------------------------------
# Salted join ≡ plain join; right side really replicates
# ---------------------------------------------------------------------------
def test_salted_join_matches_plain(spark):
    li = load_tables(spark, SF_SMOKE).lineitem.select(
        F.col("l_orderkey").alias("okey"), "l_linenumber", "l_quantity"
    )
    orders = load_tables(spark, SF_SMOKE).orders.select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority"
    )
    salted = SC.salted_join(
        li, orders, "okey", n_salts=4, entropy=F.col("l_linenumber")
    )
    plain = li.join(orders, "okey")
    assert salted.count() == plain.count()
    s = {
        (r["o_orderpriority"], r["cnt"])
        for r in salted.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    p = {
        (r["o_orderpriority"], r["cnt"])
        for r in plain.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert s == p


def test_salted_join_replicates_right_and_rejects_outer(spark):
    import pytest

    left = spark.createDataFrame([(1, 10), (1, 11), (2, 12)], "k int, v int")
    right = spark.createDataFrame([(1, "a"), (3, "c")], "k int, s string")
    out = SC.salted_join(left, right, "k", n_salts=4, entropy=F.col("v"))
    # inner semantics: every left row with a right match appears once
    assert sorted((r["k"], r["v"]) for r in out.collect()) == [(1, 10), (1, 11)]
    # the physical plan replicates the right side via explode
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Generate explode" in plan
    with pytest.raises(ValueError):
        SC.salted_join(left, right, "k", how="full")


def test_left_salted_join_keeps_unmatched_left(spark):
    left = spark.createDataFrame([(1, 10), (9, 90)], "k int, v int")
    right = spark.createDataFrame([(1, "a")], "k int, s string")
    out = SC.salted_join(left, right, "k", n_salts=3, entropy="v", how="left")
    rows = {(r["k"], r["s"]) for r in out.collect()}
    assert rows == {(1, "a"), (9, None)}


def test_write_zordered_tightens_file_stats(spark, tmp_path):
    """The Z-order layout must give each parquet file tight min/max
    footer stats on BOTH dimensions (small bounding boxes → footer
    pruning works), while a hash layout leaves every file spanning
    ~the full domain. Quantified from the actual parquet footers."""
    import pyarrow.parquet as pq
    import glob as _glob

    rows = [(a, b) for a in range(64) for b in range(64)]
    df = spark.createDataFrame(rows, "da int, db int")
    zpath, hpath = str(tmp_path / "z"), str(tmp_path / "h")
    SC.write_zordered(df, zpath, "da", "db", n_files=16)
    df.repartition(16).write.mode("overwrite").parquet(hpath)

    def avg_box_area(path):
        areas = []
        for f in _glob.glob(path + "/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            lo = {"da": 1 << 30, "db": 1 << 30}
            hi = {"da": -1, "db": -1}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    name = col.path_in_schema
                    if name in lo and col.statistics is not None:
                        lo[name] = min(lo[name], col.statistics.min)
                        hi[name] = max(hi[name], col.statistics.max)
            areas.append(
                (hi["da"] - lo["da"] + 1) * (hi["db"] - lo["db"] + 1)
            )
        return sum(areas) / len(areas)

    z_area, h_area = avg_box_area(zpath), avg_box_area(hpath)
    # 16 files over a 64×64 grid: perfect z-ranges are a handful of
    # aligned tiles (~256 cells each); hash files span the whole grid
    assert z_area <= h_area / 8, (z_area, h_area)
    # layout is a reshuffle, never a data change
    assert (
        spark.read.parquet(zpath).count()
        == spark.read.parquet(hpath).count()
        == 64 * 64
    )


def test_exact_percentiles_matches_builtin(spark):
    # the sketch-bracketed refinement percentile must reproduce Spark's
    # exact percentile() aggregate bit-for-bit (same PERCENTILE_CONT
    # interpolation) — including the 0.9 interpolated case and a
    # near-unique double column
    li = load_tables(spark, SF_SMOKE).lineitem
    got = (
        SC.exact_percentiles(
            li, ["l_returnflag"], "l_quantity",
            {"p50": 0.5, "p90": 0.9},
        )
        .orderBy("l_returnflag")
        .collect()
    )
    ref = (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.5)").alias("p50"),
            F.expr("percentile(l_quantity, 0.9)").alias("p90"),
        )
        .orderBy("l_returnflag")
        .collect()
    )
    assert [(r["l_returnflag"], r["p50"], r["p90"]) for r in got] == [
        (r["l_returnflag"], r["p50"], r["p90"]) for r in ref
    ]
    got_d = (
        SC.exact_percentiles(
            li, ["l_returnflag"], "l_extendedprice", {"p50": 0.5}
        )
        .orderBy("l_returnflag")
        .collect()
    )
    ref_d = (
        li.groupBy("l_returnflag")
        .agg(F.expr("percentile(l_extendedprice, 0.5)").alias("p50"))
        .orderBy("l_returnflag")
        .collect()
    )
    assert [(r["l_returnflag"], r["p50"]) for r in got_d] == [
        (r["l_returnflag"], r["p50"]) for r in ref_d
    ]


def test_exact_percentiles_edges(spark):
    # single-row group (n=1 -> r=0, no interpolation), two-row group
    # (p50 interpolates halfway), NULLs excluded like the aggregate
    df = spark.createDataFrame(
        [("a", 10.0), ("b", 1.0), ("b", 2.0), ("b", None)],
        "g string, v double",
    )
    rows = {
        r["g"]: r["p50"]
        for r in SC.exact_percentiles(df, ["g"], "v", {"p50": 0.5}).collect()
    }
    assert rows == {"a": 10.0, "b": 1.5}


def test_exact_percentiles_plan_has_no_percentile_buffer(spark):
    # the whole point: no EXACT-percentile aggregate buffer anywhere
    # in the plan — the value multiset rides distributed rows. The
    # approx_percentile GK sketch (bounded buffer, mergeable) is the
    # one percentile aggregate that IS allowed: it only brackets.
    li = load_tables(spark, SF_SMOKE).lineitem
    df = SC.exact_percentiles(li, ["l_returnflag"], "l_quantity", {"p50": 0.5})
    p = X.plan(df).lower().replace("approx_percentile(", "")
    assert "percentile(" not in p


def test_exact_percentiles_small_group_regime(spark):
    # r10 ADVICE repros: the p±4/accuracy bracket offset is under one
    # rank for groups with n below ~accuracy/4 — n=12 p=0.9 and
    # n=123 p=0.9 used to RAISE on valid data, n=15 p=0.25 silently
    # returned 4.0 where PERCENTILE_CONT says 4.5. Groups with
    # n <= accuracy must refine over the whole group instead.
    import random

    rnd = random.Random(11)
    rows, gid = [], 0
    for n in (10, 11, 12, 15, 23, 50, 99, 123, 200):
        gid += 1
        vals = (
            [float(rnd.randint(0, 50)) for _ in range(n)]
            if gid % 2
            else [rnd.random() * 1000 for _ in range(n)]
        )
        rows += [(f"g{gid}", v) for v in vals]
    df = spark.createDataFrame(rows, "g string, v double")
    for p in (0.1, 0.25, 0.5, 0.75, 0.9):
        ref = {
            r["g"]: r["t"]
            for r in df.groupBy("g")
            .agg(F.expr(f"percentile(v, {p})").alias("t"))
            .collect()
        }
        got = {
            r["g"]: r["x"]
            for r in SC.exact_percentiles(
                df, ["g"], "v", {"x": p}, accuracy=2000
            ).collect()
        }
        assert got == ref, (p, got, ref)


def test_exact_percentiles_bracket_regime_matches_builtin(spark):
    # force the LARGE-n sketch-bracket path (n > accuracy) with a tiny
    # accuracy so the smoke table's ~2k-row groups exceed it; results
    # must still be exact — the GK cushion (3n/accuracy ranks) covers
    # the <=2-rank gap between approx rank and the PERCENTILE_CONT
    # targets whenever n > accuracy
    li = load_tables(spark, SF_SMOKE).lineitem
    got = (
        SC.exact_percentiles(
            li,
            ["l_returnflag"],
            "l_extendedprice",
            {"p25": 0.25, "p50": 0.5, "p90": 0.9},
            accuracy=200,
        )
        .orderBy("l_returnflag")
        .collect()
    )
    ref = (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.25)").alias("p25"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
            F.expr("percentile(l_extendedprice, 0.9)").alias("p90"),
        )
        .orderBy("l_returnflag")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in ref]


def test_exact_percentiles_null_groups_and_empty_input(spark):
    # percentile() emits NULL for all-NULL groups and one NULL row for
    # a global aggregate over empty input — r10 ADVICE: these rows
    # used to vanish from the output entirely
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("nulls", None), ("nulls", None)],
        "g string, v double",
    )
    rows = {
        r["g"]: r["p50"]
        for r in SC.exact_percentiles(df, ["g"], "v", {"p50": 0.5}).collect()
    }
    assert rows == {"a": 2.0, "nulls": None}
    empty = spark.createDataFrame([], "g string, v double")
    out = SC.exact_percentiles(empty, [], "v", {"p50": 0.5}).collect()
    assert len(out) == 1 and out[0]["p50"] is None


def test_leakage_safe_split_never_straddles(spark):
    # near-dup clusters must land whole in one split; singletons key on
    # themselves and spread ~80/10/10
    docs = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id long"
    )
    # chain 0-1-2 is one cluster; 10-11 another; the rest singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "id_a long, id_b long"
    )
    s = SC.leakage_safe_split(docs, pairs)
    rows = s.collect()
    assert len(rows) == 200
    by_doc = {r["doc_id"]: r for r in rows}
    # whole-cluster co-location
    assert (
        by_doc[0]["split"] == by_doc[1]["split"] == by_doc[2]["split"]
    )
    assert by_doc[10]["split"] == by_doc[11]["split"]
    assert by_doc[0]["cluster_id"] == 0 and by_doc[2]["cluster_id"] == 0
    assert by_doc[11]["cluster_id"] == 10
    # all three splits populated on 200 docs; exact straddle audit
    import collections

    per_cluster = collections.defaultdict(set)
    for r in rows:
        per_cluster[r["cluster_id"]].add(r["split"])
    assert all(len(v) == 1 for v in per_cluster.values())
    assert {r["split"] for r in rows} == {"train", "val", "test"}
    # determinism: same inputs, same assignment
    s2 = {r["doc_id"]: r["split"] for r in SC.leakage_safe_split(docs, pairs).collect()}
    assert s2 == {d: r["split"] for d, r in by_doc.items()}


def test_exact_percentiles_driver_assembly_equals_distributed(spark):
    # the two assembly regimes (driver-local literal relations +
    # python finish vs the distributed pivot path) must agree
    # bit-for-bit on the same input
    li = load_tables(spark, SF_SMOKE).lineitem
    specs = {"p25": 0.25, "p50": 0.5, "p90": 0.9}
    small = (
        SC.exact_percentiles(li, ["l_returnflag"], "l_quantity", specs)
        .orderBy("l_returnflag")
        .collect()
    )
    with distributed_regime():
        big = (
            SC.exact_percentiles(li, ["l_returnflag"], "l_quantity", specs)
            .orderBy("l_returnflag")
            .collect()
        )
    assert [tuple(r) for r in small] == [tuple(r) for r in big]


def test_exact_percentiles_null_group_key(spark):
    # percentile() treats a NULL group KEY as a regular group — both
    # assembly regimes must emit its row instead of orphaning it into
    # the miss guard
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), (None, 10.0), (None, 20.0), (None, 30.0)],
        "g string, v double",
    )
    ref = {
        r["g"]: r["p50"]
        for r in df.groupBy("g")
        .agg(F.expr("percentile(v, 0.5)").alias("p50"))
        .collect()
    }
    small = {
        r["g"]: r["p50"]
        for r in SC.exact_percentiles(df, ["g"], "v", {"p50": 0.5}).collect()
    }
    assert small == ref
    with distributed_regime():
        big = {
            r["g"]: r["p50"]
            for r in SC.exact_percentiles(df, ["g"], "v", {"p50": 0.5}).collect()
        }
    assert big == ref


def test_exact_percentiles_nan_group_key(spark):
    # Spark grouping treats NaN = NaN, so a float-NaN group key is one
    # regular group. Python NaN is unequal to itself and hashes by
    # object id (3.10+), so the driver-assembly regime's dicts keyed
    # on COLLECTED tuples would miss across .collect() calls and
    # spuriously raise the bracket-miss guard — the regimes must agree
    # instead (r11 ADVICE). NaN keys are canonicalized via _canon_gk.
    nan = float("nan")
    df = spark.createDataFrame(
        [(1.5, 1.0), (1.5, 3.0), (nan, 10.0), (nan, 20.0), (nan, 30.0)],
        "g double, v double",
    )

    def keyed(rows):
        return {
            ("nan" if r["g"] != r["g"] else r["g"]): r["p50"] for r in rows
        }

    ref = keyed(
        df.groupBy("g")
        .agg(F.expr("percentile(v, 0.5)").alias("p50"))
        .collect()
    )
    small = keyed(
        SC.exact_percentiles(df, ["g"], "v", {"p50": 0.5}).collect()
    )
    assert small == ref
    with distributed_regime():
        big = keyed(
            SC.exact_percentiles(df, ["g"], "v", {"p50": 0.5}).collect()
        )
    assert big == ref
