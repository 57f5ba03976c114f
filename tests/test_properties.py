"""Property-based tests (hypothesis) for the numeric and merge
primitives whose edge cases are easiest to get silently wrong —
coverage the reference's suite lacks entirely (SURVEY §5)."""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from healthcare_research_data_pipeline_project_spark.functions.helpers import round_div
from healthcare_research_data_pipeline_project_spark.operators.relational import (
    band_self_join,
    bucketize,
)
from healthcare_research_data_pipeline_project_spark.session import distributed_regime
from healthcare_research_data_pipeline_project_spark.sources.sinks import upsert_by_key

# one shared tiny frame per case keeps each hypothesis example cheap;
# deadline=None because Spark job latency is not what we're testing
SETTINGS = settings(max_examples=25, deadline=None)


@given(num=st.integers(0, 10**9), den=st.integers(1, 10**6),
       scale=st.integers(0, 4))
@SETTINGS
def test_round_div_matches_decimal_half_up(spark, num, den, scale):
    got = (
        spark.range(1)
        .select(round_div(F.lit(num), F.lit(den), "r", scale))
        .collect()[0]["r"]
    )
    want = float(
        (Decimal(num) / Decimal(den)).quantize(
            Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP
        )
    )
    assert got == want, (num, den, scale, got, want)


@given(num=st.integers(0, 10**18), den=st.integers(1, 10**15),
       scale=st.integers(0, 4))
@SETTINGS
def test_round_div_exact_at_huge_magnitudes(spark, num, den, scale):
    # pins the r4 decimal rewrite: the old long-arithmetic version ran
    # its division in double (drift past 2^53: 0.9622→0.96219999...)
    # and overflowed long past 2^63; DECIMAL(38,0) must stay exact
    # through 2·num·10^scale ~ 2e22
    got = (
        spark.range(1)
        .select(round_div(F.lit(num), F.lit(den), "r", scale))
        .collect()[0]["r"]
    )
    want = float(
        (Decimal(num) / Decimal(den)).quantize(
            Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP
        )
    )
    assert got == want, (num, den, scale, got, want)


@given(st.lists(st.tuples(st.integers(0, 9), st.integers(0, 100)),
                min_size=1, max_size=30))
@SETTINGS
def test_upsert_is_idempotent_and_keyed(spark, rows):
    inc = spark.createDataFrame(
        [(k, v) for k, v in rows], "id long, v long"
    )
    # last-write-wins dedup: one row per key, and applying the same
    # increment twice changes nothing
    once = upsert_by_key(None, inc, "id", version_col=F.col("v"))
    twice = upsert_by_key(once, inc, "id", version_col=F.col("v"))
    got_once = sorted((r["id"], r["v"]) for r in once.collect())
    got_twice = sorted((r["id"], r["v"]) for r in twice.collect())
    keys = {k for k, _ in rows}
    assert len(got_once) == len(keys)
    # version_col=v → max v per key wins regardless of merge order
    want = sorted((k, max(v for kk, v in rows if kk == k)) for k in keys)
    assert got_once == want
    assert got_twice == got_once


@given(st.lists(st.integers(-50, 150), min_size=1, max_size=40))
@SETTINGS
def test_bucketize_total_and_bounds(spark, ages):
    edges, labels = [18, 31, 46, 61, 76], ["0-17", "18-30", "31-45", "46-60", "61-75", "76+"]
    df = spark.createDataFrame([(a,) for a in ages], "age int")
    out = df.select(bucketize(F.col("age"), edges, labels).alias("b")).collect()
    assert len(out) == len(ages)
    assert {r["b"] for r in out} <= set(labels)
    for a, r in zip(ages, out):
        want = labels[sum(a >= e for e in edges)]
        assert r["b"] == want, (a, r["b"], want)


@given(st.lists(
    st.tuples(st.integers(1, 4),            # patient
              st.integers(0, 60),           # discharge day offset
              st.integers(0, 60)),          # next admission day offset
    min_size=2, max_size=12))
@SETTINGS
def test_band_self_join_matches_python_bruteforce(spark, rows):
    import datetime as dt

    base = dt.date(2024, 1, 1)
    recs = [
        (i, p, str(base + dt.timedelta(days=adm)), str(base + dt.timedelta(days=dis)))
        for i, (p, dis, adm) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        recs, "encounter_id long, patient_id long, encounter_date string, discharge_date string"
    )
    got = {
        (r["a"]["encounter_id"], r["b"]["encounter_id"])
        for r in band_self_join(
            df, key="patient_id", date_col="discharge_date",
            right_date_col="encounter_date",
            min_days=0, max_days=30,
        ).select(F.struct("a.*").alias("a"), F.struct("b.*").alias("b")).collect()
    }
    want = set()
    for i, pi, admi, disi in recs:
        for j, pj, admj, disj in recs:
            if pi != pj:
                continue
            d = (dt.date.fromisoformat(admj) - dt.date.fromisoformat(disi)).days
            if 0 <= d <= 30:
                want.add((i, j))
    assert got == want


@given(st.lists(st.tuples(st.integers(0, 15), st.integers(0, 15)),
                min_size=1, max_size=20))
@settings(max_examples=8, deadline=None)
def test_connected_components_paths_agree(spark, edges):
    """The driver union-find fast path and the distributed
    label-propagation loop must produce identical components for any
    edge list."""
    from healthcare_research_data_pipeline_project_spark.operators.graph import (
        connected_components,
    )

    df = spark.createDataFrame(edges, "a long, b long")
    fast = {
        (r["node"], r["component"])
        for r in connected_components(df, "a", "b").collect()
    }
    with distributed_regime():
        loop = {
            (r["node"], r["component"])
            for r in connected_components(df, "a", "b").collect()
        }
    assert fast == loop


@given(st.text(min_size=1, max_size=40), st.text(min_size=1, max_size=20))
@settings(max_examples=50, deadline=None)
def test_jwt_roundtrip_arbitrary_identity(user, role):
    from healthcare_research_data_pipeline_project_spark.healthcare.security import (
        SecurityManager,
    )

    mgr = SecurityManager(jwt_secret="prop-secret")
    payload = mgr.verify_token(mgr.generate_token(user, role))
    assert payload is not None
    assert payload["user_id"] == user and payload["role"] == role


@given(st.lists(st.tuples(st.integers(0, 2), st.floats(0, 100)),
                min_size=1, max_size=60))
@settings(max_examples=50, deadline=None)
def test_rate_limiter_matches_reference_model(calls):
    """RateLimiter must agree with a direct INCR+EXPIRE model for any
    interleaving of keys and monotonic timestamps."""
    from healthcare_research_data_pipeline_project_spark.healthcare.security import (
        RateLimiter,
        RateLimitExceededError,
    )

    seq = sorted(calls, key=lambda kv: kv[1])  # monotonic clock
    now = [0.0]
    rl = RateLimiter(max_calls=3, window_seconds=10, clock=lambda: now[0])
    model: dict[int, tuple[float, int]] = {}
    for key, t in seq:
        now[0] = t
        start, count = model.get(key, (t, 0))
        if t - start >= 10:
            start, count = t, 0
        count += 1
        model[key] = (start, count)
        if count > 3:
            try:
                rl.check(str(key))
                raise AssertionError(f"expected 429 at {key}@{t}")
            except RateLimitExceededError:
                pass
        else:
            assert rl.check(str(key)) == count


@given(
    n=st.integers(1, 60),
    b=st.integers(1, 9),
    seed=st.integers(0, 10**6),
)
@SETTINGS
def test_ntile_closed_form_matches_formula(n, b, seed):
    # the closed-form NTILE bucket ds_length_buckets applies over its
    # prefix_sum exact rank must equal SQL NTILE for every (N, B):
    # base = N div B, rem = N mod B, first `rem` buckets take base+1
    base, rem = divmod(n, b)

    def bucket(rank):
        if rank <= rem * (base + 1):
            return (rank + base) // (base + 1)
        return rem + (rank - rem * (base + 1) + base - 1) // base

    # python reference NTILE (ANSI semantics)
    want = []
    r = 1
    for i in range(1, b + 1):
        size = base + (1 if i <= rem else 0)
        want.extend([i] * size)
    got = [bucket(rank) for rank in range(1, n + 1)]
    assert got == want
    assert len(got) == n


def test_ntile_closed_form_matches_spark_window(spark):
    # one end-to-end pin against Spark's own ntile on an awkward size
    # (N % B != 0, ties in the order key broken by id)
    from healthcare_research_data_pipeline_project_spark.operators.scale import (
        prefix_sum,
    )

    n, b = 37, 8
    df = spark.createDataFrame(
        [(i, (i * 7) % 5) for i in range(n)], "id long, v long"
    )
    ranked = prefix_sum(df, ["v", "id"], {"rank": F.lit(1)}, num_partitions=5)
    base, rem = divmod(n, b)
    got = {
        r["id"]: r["bkt"]
        for r in ranked.selectExpr(
            "id",
            f"CASE WHEN rank <= {rem} * ({base} + 1)"
            f" THEN (rank + {base}) div ({base} + 1)"
            f" ELSE {rem} + (rank - {rem} * ({base} + 1) + {base} - 1)"
            f" div {base} END AS bkt",
        ).collect()
    }
    from pyspark.sql import Window

    want = {
        r["id"]: r["bkt"]
        for r in df.withColumn(
            "bkt", F.ntile(b).over(Window.orderBy("v", "id"))
        ).collect()
    }
    assert got == want


@given(
    keys=st.lists(
        st.integers(-(2**62), 2**62), min_size=1, max_size=60, unique=True
    ),
    probes=st.lists(st.integers(-(2**62), 2**62), max_size=20),
)
@settings(max_examples=15, deadline=None)
def test_bloom_never_false_negative(spark, keys, probes):
    # the property j12's oracle equality relies on: EVERY built key
    # probes positive, for arbitrary 64-bit keys — and non-member
    # probes may only ever ADD rows (false positives), never remove
    from healthcare_research_data_pipeline_project_spark.operators.scale import (
        bloom_might_contain,
        build_bloom,
    )

    dim = spark.createDataFrame([(k,) for k in keys], "k: bigint")
    blob, m = build_bloom(dim, "k")
    univ = spark.createDataFrame(
        [(v,) for v in set(keys) | set(probes)], "k: bigint"
    )
    kept = {
        r["k"]
        for r in univ.withColumn("__b", F.lit(blob))
        .filter(bloom_might_contain("k", "__b", m))
        .collect()
    }
    assert set(keys) <= kept


@given(
    words=st.lists(
        st.integers(-(2**63), 2**63 - 1), min_size=1, max_size=8
    ),
    positions=st.lists(st.integers(0, 511), min_size=1, max_size=16),
)
@settings(max_examples=15, deadline=None)
def test_bloom_byte_probe_bit_exact(spark, words, positions):
    # the r12 binary-literal probe reads bit p as bit (p % 8) of byte
    # (p div 8) of the little-endian packed blob — prove it equals a
    # pure-Python bit lookup on the packed words for ARBITRARY word
    # patterns (especially sign-bit-set words, where an 8-byte conv
    # decode would overflow bigint) and arbitrary positions
    import struct

    from pyspark.sql import functions as SF

    nwords = len(words)
    blob = struct.pack(f"<{nwords}q", *words)
    m = nwords * 64
    pos = sorted({p % m for p in positions})
    df = spark.createDataFrame([(p,) for p in pos], "p: bigint")
    byte = (
        "cast(conv(hex(substring(__bb, cast(p div 8 as int) + 1, 1)),"
        " 16, 10) as int)"
    )
    got = {
        r["p"]: r["bit"]
        for r in df.withColumn("__bb", SF.lit(blob))
        .withColumn(
            "bit",
            SF.expr(f"(({byte}) & shiftleft(1, cast(p % 8 as int))) <> 0"),
        )
        .collect()
    }
    for p in pos:
        w = words[p // 64] & ((1 << 64) - 1)
        assert got[p] == bool((w >> (p % 64)) & 1), (p, words)


_DELTA_BASES = [
    "spark catalyst optimizer rewrites logical plans into physical "
    "plans with whole stage codegen across exchange boundaries",
    "minhash signatures estimate jaccard similarity between shingle "
    "sets by hashing every shingle with an affine family of functions",
    "completely unrelated filler sentence about weather patterns and "
    "migratory birds crossing the continental divide every autumn",
]


@given(
    variants=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 3)),
        min_size=3,
        max_size=10,
    ),
    split_bits=st.lists(st.booleans(), min_size=3, max_size=10),
)
@settings(max_examples=10, deadline=None)
def test_lsh_delta_rule_holds_for_arbitrary_splits(
    spark, variants, split_bits
):
    # the incremental-ingestion identity for ARBITRARY corpora and
    # ARBITRARY old/delta splits: pairs(old ∪ Δ) == pairs(old) ∪
    # pairs_delta(old, Δ), and the delta set never overlaps pairs(old)
    from healthcare_research_data_pipeline_project_spark.operators import (
        dedup as D,
    )

    docs = [
        (i, _DELTA_BASES[b] + (" extra" * suf))
        for i, (b, suf) in enumerate(variants)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    bits = (split_bits * len(docs))[: len(docs)]
    old_ids = [i for i, keep in enumerate(bits) if keep]
    old = df.filter(F.col("doc_id").isin(old_ids) if old_ids else F.lit(False))
    delta = df.filter(
        ~F.col("doc_id").isin(old_ids) if old_ids else F.lit(True)
    )

    def pairs(frame):
        return {
            (r["id_a"], r["id_b"])
            for r in D.lsh_candidate_pairs(
                frame, "text", "doc_id"
            ).collect()
        }

    full = pairs(df)
    old_pairs = pairs(old) if old_ids else set()
    dp = {
        (r["id_a"], r["id_b"])
        for r in D.lsh_pairs_delta(old, delta, "text", "doc_id").collect()
    }
    assert old_pairs | dp == full
    assert not (old_pairs & dp)


@given(
    variants=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 3)),
        min_size=3,
        max_size=10,
    ),
    split_bits=st.lists(st.booleans(), min_size=3, max_size=10),
)
@settings(max_examples=8, deadline=None)
def test_incremental_cluster_rule_holds_for_arbitrary_splits(
    spark, variants, split_bits
):
    # the r13 cluster-maintenance identity for ARBITRARY corpora and
    # splits: merging the delta pairs into the stored assignments via
    # the rep-level union-find equals recomputing dedup_clusters over
    # everything — including the empty-stored and empty-delta edges
    # hypothesis will generate
    from healthcare_research_data_pipeline_project_spark.operators import (
        dedup as D,
    )
    from healthcare_research_data_pipeline_project_spark.operators.graph import (
        dedup_clusters,
        incremental_dedup_clusters,
    )

    docs = [
        (i, _DELTA_BASES[b] + (" extra" * suf))
        for i, (b, suf) in enumerate(variants)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    bits = (split_bits * len(docs))[: len(docs)]
    old_ids = [i for i, keep in enumerate(bits) if keep]
    old = df.filter(F.col("doc_id").isin(old_ids) if old_ids else F.lit(False))
    delta = df.filter(
        ~F.col("doc_id").isin(old_ids) if old_ids else F.lit(True)
    )
    stored = dedup_clusters(old, D.lsh_candidate_pairs(old, "text", "doc_id"))
    dp = D.lsh_pairs_delta(old, delta, "text", "doc_id")
    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_keeper"])
        for r in incremental_dedup_clusters(stored, delta, dp).collect()
    }
    want = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_keeper"])
        for r in dedup_clusters(
            df, D.lsh_candidate_pairs(df, "text", "doc_id")
        ).collect()
    }
    assert got == want


@given(
    variants=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 3)),
        min_size=3,
        max_size=10,
    ),
    del_bits=st.lists(st.booleans(), min_size=3, max_size=10),
)
@settings(max_examples=8, deadline=None)
def test_decremental_cluster_rule_holds_for_arbitrary_deletes(
    spark, variants, del_bits
):
    # the delete-direction twin of the arbitrary-split property:
    # repairing the stored assignments from the stored band index
    # after ANY delete batch equals recomputing dedup_clusters over
    # the survivors — including the everything-deleted and
    # nothing-deleted edges hypothesis will generate
    from healthcare_research_data_pipeline_project_spark.operators import (
        dedup as D,
    )
    from healthcare_research_data_pipeline_project_spark.operators.graph import (
        decremental_dedup_clusters,
        dedup_clusters,
    )

    docs = [
        (i, _DELTA_BASES[b] + (" extra" * suf))
        for i, (b, suf) in enumerate(variants)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    bits = (del_bits * len(docs))[: len(docs)]
    del_ids = [i for i, d in enumerate(bits) if d]
    stored = dedup_clusters(df, D.lsh_candidate_pairs(df, "text", "doc_id"))
    index = D.lsh_banded_index(df, "text", "doc_id")
    dels = df.filter(
        F.col("doc_id").isin(del_ids) if del_ids else F.lit(False)
    ).select("doc_id")
    remaining = df.filter(
        ~F.col("doc_id").isin(del_ids) if del_ids else F.lit(True)
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_keeper"])
        for r in decremental_dedup_clusters(stored, index, dels).collect()
    }
    want = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_keeper"])
        for r in dedup_clusters(
            remaining,
            D.lsh_candidate_pairs(remaining, "text", "doc_id"),
        ).collect()
    }
    assert got == want
