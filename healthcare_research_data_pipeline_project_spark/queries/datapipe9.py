"""Training-data pipeline corpus, part 9: resampling and parametric
inference at scale.

`stat_bootstrap_ci`: the Poissonized bootstrap — the form of the
bootstrap that actually runs on a cluster. Classic resampling draws n
rows WITH replacement per replica (a global shuffle per replica);
instead, each row's multiplicity in replica r is an independent
Poisson(1) draw, which approximates multinomial resampling to O(1/n)
and needs ONE map-side pass: explode R replica ids per row, weight by
the deterministic Poisson count, partially aggregate (replica grouping
has R groups, so the shuffle carries R rows per input partition).
The Poisson draw inverts the exact CDF against a deterministic
integer in [0, 1e6) — one md5-derived base hash per row, remapped per
replica by the minhash-style affine family (r9: R multiply-mods
replaced R md5 calls, the expansion's dominant cost) — pure integer
comparisons, identical in both engines and replay-safe under task
retry (`rand()` is neither). Replica means are exact `round_div`
rationals; the CI uses nearest-rank percentiles over the R replica
means (no interpolation floats).

`stat_ttest_welch`: Welch's unequal-variance t-test between two
cohorts, computed entirely from exact integer aggregates (counts,
cents sums, cents² sums — all BIGINT/HUGEINT-exact) with one terminal
float chain for t and the degrees of freedom. One scan, one tiny
shuffle, like the Mann–Whitney twin (datapipe7) but parametric.

Reference parity: extends the statistical RCA family
(healthcare-data-pipeline-main.py:319-338, SURVEY §2.4 A10-A11) with
the uncertainty quantification a data-driven pipeline report needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import track_persist
from ..functions.helpers import duck_round_div, duck_sum_cents
from ..functions.text import duck_hash64, hash64_expr
from ..session import driver_rows, literal_frame
from ..tables import load_tables
from . import register

# exact Poisson(1) CDF cut points in millionths: P(X<=k) for k=0..5;
# draws beyond 5 (p ~ 6e-4) clamp to 6
_POIS_CUTS = [367879, 735759, 919699, 981012, 996340, 999406]
_N_REPLICAS = 100
_CI_LO_RANK = 3   # ceil(0.025 * 100) nearest-rank
_CI_HI_RANK = 98  # ceil(0.975 * 100)

# Per-replica affine remap of ONE 32-bit base hash per row — the
# minhash coefficient doctrine (functions/text.py): replica r's
# uniform draw is ((A_r·x + B_r) mod P) mod 1e6 with md5-derived
# constants, so the R-fold expansion costs R multiply-mods instead of
# R md5 invocations (md5 was the expansion's dominant cost — measured
# 9.8 s → 4.1 s at sf1 for the whole query). A_r < 2^28 (odd) keeps
# A_r·x + B_r < 2^61: BIGINT-exact in both engines; draws are
# independent across rows (independent base hashes) and
# pairwise-independent across replicas within a row — the standard
# trade the minhash family already documents.
_BOOT_PRIME = 4294967311  # smallest prime > 2^32 (the minhash P)


def _boot_coeffs() -> list[tuple[int, int]]:
    import hashlib

    out = []
    for r in range(_N_REPLICAS):
        a = int(hashlib.md5(f"bootA:{r}".encode()).hexdigest()[:7], 16) | 1
        b = int(hashlib.md5(f"bootB:{r}".encode()).hexdigest()[:8], 16)
        out.append((a, b))
    return out


_BOOT_AS = "array(" + ", ".join(str(a) for a, _ in _boot_coeffs()) + ")"
_BOOT_BS = "array(" + ", ".join(str(b) for _, b in _boot_coeffs()) + ")"
_DUCK_AS = "[" + ", ".join(str(a) for a, _ in _boot_coeffs()) + "]"
_DUCK_BS = "[" + ", ".join(str(b) for _, b in _boot_coeffs()) + "]"


def _pois_case(u: str) -> str:
    """SQL CASE mapping a uniform integer in [0, 1e6) to Poisson(1)."""
    branches = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS_CUTS)
    )
    return f"(CASE {branches} ELSE 6 END)"


@register(
    "stat_bootstrap_ci",
    f"""
    WITH hashed AS (
      SELECT CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)
                                     || '#boot'), 1, 8) AS BIGINT) AS x,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    expanded AS (
      SELECT r.r,
             {_pois_case(
                 f"((({_DUCK_AS})[r.r + 1] * x + ({_DUCK_BS})[r.r + 1])"
                 f" % {_BOOT_PRIME}) % 1000000")} AS w,
             cents
      FROM hashed
      CROSS JOIN (SELECT unnest(generate_series(0, {_N_REPLICAS - 1})) AS r) r
    ),
    reps AS (
      -- a replica whose every Poisson weight drew 0 has no resample
      -- to average (possible only for tiny inputs): drop it in both
      -- engines rather than divide by zero
      SELECT r, CAST(SUM(w) AS BIGINT) AS n_eff,
             CAST(SUM(w * cents) AS BIGINT) AS c_eff
      FROM expanded GROUP BY r
      HAVING SUM(w) > 0
    ),
    means AS (
      SELECT r,
             CAST(((2 * CAST(c_eff AS HUGEINT) * 100 + n_eff)
                   // (2 * CAST(n_eff AS HUGEINT) * 100)) / 100.0
                  AS DOUBLE) AS m,
             ROW_NUMBER() OVER (ORDER BY
               ((2 * CAST(c_eff AS HUGEINT) * 100 + n_eff)
                // (2 * CAST(n_eff AS HUGEINT) * 100)), r) AS rk
      FROM reps
    )
    SELECT CAST({_N_REPLICAS} AS INT) AS n_replicas,
           MAX(CASE WHEN rk = {_CI_LO_RANK} THEN m END) AS ci_lo,
           MAX(CASE WHEN rk = {_CI_HI_RANK} THEN m END) AS ci_hi
    FROM means
    """,
)
def stat_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    # ONE md5 per row (the 32-bit base hash), then the R-fold
    # expansion draws replica r's uniform via the literal-array affine
    # remap — everything after the hash stays inside whole-stage
    # codegen (a deliberate non-HOF form: a transform()-built weight
    # array was measured SLOWER than 100 inline md5s because lambda
    # evaluation is interpreted; the literal element_at arrays + the
    # explode are codegen'd end to end). See _boot_coeffs for the
    # independence trade and the measured 2.4x.
    x = hash64_expr("cast(o_orderkey as string)", "boot")
    u = (
        f"pmod((element_at({_BOOT_AS}, r + 1) * x"
        f" + element_at({_BOOT_BS}, r + 1)) % {_BOOT_PRIME}, 1000000)"
    )
    expanded = (
        t.orders.select(
            F.expr(x).alias("x"),
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .select(
            F.expr(f"explode(sequence(0, {_N_REPLICAS - 1}))").alias("r"),
            "x",
            "cents",
        )
        .select("r", F.expr(_pois_case(u)).alias("w"), "cents")
    )
    reps = (
        expanded.groupBy("r")
        .agg(
            F.sum("w").cast("long").alias("n_eff"),
            F.sum(F.col("w") * F.col("cents")).cast("long").alias("c_eff"),
        )
        # zero-weight replicas (tiny inputs only) have no resample to
        # average: drop them, same rule as the oracle's HAVING
        .filter(F.col("n_eff") > 0)
    )
    # replica mean in dollars at 2 dp, exact integer rounding (the
    # inlined round_div formula, decimal-safe); R rows → the rank
    # window is a group-cardinality frame
    d38 = "decimal(38,0)"
    x = F.col("c_eff").cast(d38) * 200 + F.col("n_eff").cast(d38)
    y = F.col("n_eff").cast(d38) * 200
    q = (x - x % y) / y
    means = reps.select(
        "r", (q / F.lit(100)).cast("double").alias("m"), q.alias("qm")
    ).withColumn("rk", F.row_number().over(Window.orderBy("qm", "r")))
    return means.agg(
        F.lit(_N_REPLICAS).cast("int").alias("n_replicas"),
        F.max(F.when(F.col("rk") == _CI_LO_RANK, F.col("m"))).alias("ci_lo"),
        F.max(F.when(F.col("rk") == _CI_HI_RANK, F.col("m"))).alias("ci_hi"),
    )


@register(
    "stat_ttest_welch",
    """
    WITH g AS (
      SELECT l_returnflag AS flag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS s,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                           AS HUGEINT)
                      * CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                             AS HUGEINT)) AS HUGEINT) AS ss
      FROM lineitem WHERE l_returnflag IN ('A', 'R')
      GROUP BY l_returnflag
    ),
    w AS (
      SELECT
        MAX(CASE WHEN flag = 'A' THEN n END) AS n1,
        MAX(CASE WHEN flag = 'A' THEN s END) AS s1,
        MAX(CASE WHEN flag = 'A' THEN ss END) AS ss1,
        MAX(CASE WHEN flag = 'R' THEN n END) AS n2,
        MAX(CASE WHEN flag = 'R' THEN s END) AS s2,
        MAX(CASE WHEN flag = 'R' THEN ss END) AS ss2
      FROM g
    )
    SELECT n1, n2,
           CAST(ROUND(
             (CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2) / 100.0
               / sqrt(
                   ((CAST(ss1 AS DOUBLE)
                     - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)) / n1 / 10000.0
                   + ((CAST(ss2 AS DOUBLE)
                       - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1)) / n2 / 10000.0
                 ),
             4) AS DOUBLE) AS t_stat,
           CAST(ROUND(
             (CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2) / 100.0,
             2) AS DOUBLE) AS mean_diff
    FROM w
    """,
)
def stat_ttest_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast(
        "long"
    )
    g = (
        t.lineitem.filter(F.col("l_returnflag").isin("A", "R"))
        .select(F.col("l_returnflag").alias("flag"), cents.alias("c"))
        .groupBy("flag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("c").cast("long").alias("s"),
            F.sum(
                F.col("c").cast("decimal(38,0)") * F.col("c")
            ).alias("ss"),
        )
    )
    w = g.agg(
        F.max(F.when(F.col("flag") == "A", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("flag") == "A", F.col("s"))).alias("s1"),
        F.max(F.when(F.col("flag") == "A", F.col("ss"))).alias("ss1"),
        F.max(F.when(F.col("flag") == "R", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("flag") == "R", F.col("s"))).alias("s2"),
        F.max(F.when(F.col("flag") == "R", F.col("ss"))).alias("ss2"),
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    ss1d, ss2d = F.col("ss1").cast("double"), F.col("ss2").cast("double")
    mean_diff_cents = s1d / n1d - s2d / n2d
    v1 = (ss1d - s1d * F.col("s1") / n1d) / (n1d - 1)
    v2 = (ss2d - s2d * F.col("s2") / n2d) / (n2d - 1)
    tstat = (mean_diff_cents / 100.0) / F.sqrt(
        v1 / n1d / 10000.0 + v2 / n2d / 10000.0
    )
    return w.select(
        "n1",
        "n2",
        F.round(tstat, 4).cast("double").alias("t_stat"),
        F.round(mean_diff_cents / 100.0, 2).cast("double").alias("mean_diff"),
    )


# ---------------------------------------------------------------------------
# Declarative expectations report over the orders feed: row-level
# rules compile into ONE scan (SUM(CASE) per rule), uniqueness into a
# key aggregate, referential integrity into a key-distinct left join —
# the generic engine behind the reference's hand-written quality SQL
# (healthcare-sql-analytics.sql:700-779). Every branch of the
# UNION'd report is SQL-expressible, so the whole engine is oracled.
# ---------------------------------------------------------------------------


@register(
    "dq_expectations_orders",
    """
    WITH rowrules AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS v_key_null,
        CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
                       AND NOT (o_totalprice >= 0 AND o_totalprice <= 1000000)
                      THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
        CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
                       AND o_orderstatus NOT IN ('O', 'F', 'P')
                      THEN 1 ELSE 0 END) AS BIGINT) AS v_status,
        CAST(SUM(CASE WHEN o_orderpriority IS NOT NULL
                       AND NOT regexp_matches(o_orderpriority, '^[1-5]-')
                      THEN 1 ELSE 0 END) AS BIGINT) AS v_prio
      FROM orders
    ),
    uniq AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(c - 1) AS BIGINT) AS v
      FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)
    ),
    refr AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN o_custkey IS NOT NULL AND k IS NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS v
      FROM orders LEFT JOIN
           (SELECT DISTINCT c_custkey AS k FROM customer) d
        ON o_custkey = d.k
    )
    SELECT rule, n_rows, n_violations, n_violations = 0 AS pass
    FROM (
      SELECT 'o_orderkey_not_null' AS rule, n AS n_rows,
             v_key_null AS n_violations FROM rowrules
      UNION ALL SELECT 'o_totalprice_in_range', n, v_price FROM rowrules
      UNION ALL SELECT 'o_orderstatus_in_set', n, v_status FROM rowrules
      UNION ALL SELECT 'o_orderpriority_regex', n, v_prio FROM rowrules
      UNION ALL SELECT 'o_orderkey_unique', n, v FROM uniq
      UNION ALL SELECT 'o_custkey_ref_c_custkey', n, v FROM refr
    )
    ORDER BY rule
    """,
)
def dq_expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import expectations as E

    t = load_tables(spark, sf_dir)
    report = (
        E.validate_rows(
            t.orders,
            [
                E.expect_not_null("o_orderkey"),
                E.expect_in_range("o_totalprice", 0, 1_000_000),
                E.expect_in_set("o_orderstatus", ["O", "F", "P"]),
                E.expect_regex("o_orderpriority", r"^[1-5]-"),
            ],
        )
        .unionByName(E.validate_unique(t.orders, ["o_orderkey"]))
        .unionByName(
            E.validate_ref(t.orders, "o_custkey", t.customer, "c_custkey")
        )
    )
    return report.orderBy("rule")


# ---------------------------------------------------------------------------
# Seasonality-adjusted anomaly detection: divide each day's revenue by
# its ISO-weekday seasonal index (the t_seasonal_profile rationals),
# then z-score the adjusted series — so a strong-but-normal Saturday
# stops masking a genuinely anomalous Tuesday. Determinism doctrine:
# the seasonal index and the adjusted values are exact-rational
# roundings (round_div / single float div of exact doubles, re-rounded
# to 2 dp), the adjusted series is then summed as DECIMAL (exact,
# order-free), and only the terminal (x−μ)/σ chain is float. One fact
# shuffle; everything downstream is day-frame sized.
# ---------------------------------------------------------------------------
_SEAS_Z = 2.0
#: distinct-day ceiling for collecting the daily frame (no real
#: calendar reaches it)
_DAY_CAP = 200_000


@register(
    "t_seasonal_anomaly",
    f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             {duck_sum_cents('o_totalprice')} AS cents
      FROM orders GROUP BY 1
    ),
    marked AS (SELECT d, isodow(d) AS dow, cents FROM daily),
    g AS (SELECT CAST(SUM(cents) AS BIGINT) AS gc,
                 CAST(COUNT(*) AS BIGINT) AS gn FROM marked),
    prof AS (
      SELECT dow,
             {duck_round_div("SUM(cents) * (SELECT gn FROM g)",
                             "COUNT(*) * (SELECT gc FROM g)", 4)} AS si
      FROM marked GROUP BY dow
    ),
    adj AS (
      SELECT m.d, m.dow, m.cents,
             CAST(ROUND((m.cents / 100.0) / si, 2) AS DECIMAL(18,2)) AS a
      FROM marked m JOIN prof USING (dow)
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(a) * 100 AS BIGINT) AS sa,
             SUM(CAST(a * 100 AS HUGEINT) * CAST(a * 100 AS HUGEINT)) AS ssa
      FROM adj
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, CAST(dow AS INT) AS dow,
           CAST(cents / 100.0 AS DOUBLE) AS daily_revenue,
           CAST(a AS DOUBLE) AS adjusted,
           CAST(ROUND(
             (CAST(a AS DOUBLE) - CAST(sa AS DOUBLE) / n / 100.0)
             / sqrt((CAST(ssa AS DOUBLE) / n
                     - (CAST(sa AS DOUBLE) / n) * (CAST(sa AS DOUBLE) / n))
                    / 10000.0),
             4) AS DOUBLE) AS z
    FROM adj, stats
    WHERE abs(
            (CAST(a AS DOUBLE) - CAST(sa AS DOUBLE) / n / 100.0)
            / sqrt((CAST(ssa AS DOUBLE) / n
                    - (CAST(sa AS DOUBLE) / n) * (CAST(sa AS DOUBLE) / n))
                   / 10000.0)
          ) >= {_SEAS_Z}
    ORDER BY day
    """,
)
def t_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.helpers import round_div, sum_cents

    t = load_tables(spark, sf_dir)
    daily = t.orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        sum_cents("o_totalprice").alias("cents")
    )
    # the daily frame feeds THREE consumers (global stats, the dow
    # profile, and the join-back) and is CALENDAR-BOUNDED — one row
    # per distinct order date, ≤ a few thousand at ANY corpus size —
    # so it is collected once and re-materialized as a literal frame:
    # every downstream aggregate/join then plans over a
    # LocalTableScan with no fact re-scan and no persisted blocks
    # (the persisted shape ran 22 jobs / ~1250 tasks, almost all on
    # the ≤90-row frame). The collected values are the exact (date,
    # long) rows the persisted frame holds, and every downstream
    # expression is unchanged Catalyst — bit-identical output. Over
    # `_DAY_CAP` the persisted distributed shape remains.
    marked = daily.select(
        "d", (F.weekday("d") + 1).alias("dow"), "cents"
    )
    day_rows = driver_rows(marked, _DAY_CAP)
    if day_rows is None:
        marked = track_persist(marked)
    else:
        marked = literal_frame(spark, day_rows, "d date, dow int, cents long")
    g = marked.agg(
        F.sum("cents").cast("long").alias("gc"),
        F.count(F.lit(1)).cast("long").alias("gn"),
    )
    prof = (
        marked.groupBy("dow")
        .agg(F.count(F.lit(1)).alias("nd"), F.sum("cents").alias("c"))
        .crossJoin(F.broadcast(g))
        .select(
            "dow",
            round_div(
                F.col("c").cast("decimal(38,0)") * F.col("gn"),
                F.col("nd").cast("decimal(38,0)") * F.col("gc"),
                "si",
                4,
            ),
        )
    )
    adj = marked.join(F.broadcast(prof), "dow").select(
        "d",
        "dow",
        "cents",
        F.round((F.col("cents") / 100.0) / F.col("si"), 2)
        .cast("decimal(18,2)")
        .alias("a"),
    )
    a100 = (F.col("a") * 100).cast("decimal(38,0)")
    stats = adj.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum("a") * 100).cast("long").alias("sa"),
        F.sum(a100 * a100).alias("ssa"),
    )
    j = adj.crossJoin(F.broadcast(stats))
    mean = F.col("sa").cast("double") / F.col("n") / 100.0
    var = (
        F.col("ssa").cast("double") / F.col("n")
        - (F.col("sa").cast("double") / F.col("n"))
        * (F.col("sa").cast("double") / F.col("n"))
    ) / 10000.0
    z = (F.col("a").cast("double") - mean) / F.sqrt(var)
    return (
        j.filter(F.abs(z) >= _SEAS_Z)
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("dow").cast("int").alias("dow"),
            (F.col("cents") / 100.0).cast("double").alias("daily_revenue"),
            F.col("a").cast("double").alias("adjusted"),
            F.round(z, 4).cast("double").alias("z"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Privacy re-identification audits — the quantitative side of the
# PII-masking family (healthcare/security.py; reference
# healthcare-etl-security.py surface). k-anonymity: every
# quasi-identifier combination must be shared by ≥ k rows, or the
# row is re-identifiable; the audit reports the violating classes and
# the suppression cost. l-diversity: within each quasi-identifier
# class the sensitive attribute must take ≥ l distinct values, or
# membership alone leaks it. Both are single aggregations over the
# quasi-identifier key (map-side partials; the sensitive-distinct is
# a two-level aggregate) — audit cost is one shuffle at any scale.
# ---------------------------------------------------------------------------
_K_ANON = 5
_L_DIV = 3


@register(
    "dq_k_anonymity",
    f"""
    WITH cls AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS sz
      FROM customer GROUP BY c_nationkey, c_mktsegment
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(CASE WHEN sz < {_K_ANON} THEN 1 ELSE 0 END) AS BIGINT)
             AS violating_classes,
           CAST(SUM(CASE WHEN sz < {_K_ANON} THEN sz ELSE 0 END) AS BIGINT)
             AS rows_to_suppress,
           CAST(MIN(sz) AS BIGINT) AS min_class_size,
           {duck_round_div(
               f"SUM(CASE WHEN sz < {_K_ANON} THEN sz ELSE 0 END) * 100",
               "SUM(sz)", 4)} AS suppression_pct
    FROM cls
    """,
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.helpers import round_div

    t = load_tables(spark, sf_dir)
    cls = t.customer.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("sz")
    )
    viol = F.when(F.col("sz") < _K_ANON, F.col("sz")).otherwise(0)
    return cls.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum((F.col("sz") < _K_ANON).cast("int"))
        .cast("long")
        .alias("violating_classes"),
        F.sum(viol).cast("long").alias("rows_to_suppress"),
        F.min("sz").cast("long").alias("min_class_size"),
        round_div(F.sum(viol) * 100, F.sum("sz"), "suppression_pct", 4),
    )


@register(
    "dq_l_diversity",
    f"""
    WITH joined AS (
      SELECT c.c_nationkey, c.c_mktsegment, o.o_orderpriority AS sensitive
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    cls AS (
      SELECT c_nationkey, c_mktsegment,
             COUNT(*) AS sz,
             COUNT(DISTINCT sensitive) AS n_distinct
      FROM joined GROUP BY c_nationkey, c_mktsegment
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(CASE WHEN n_distinct < {_L_DIV} THEN 1 ELSE 0 END)
                AS BIGINT) AS violating_classes,
           CAST(MIN(n_distinct) AS BIGINT) AS min_diversity,
           CAST(SUM(CASE WHEN n_distinct < {_L_DIV} THEN sz ELSE 0 END)
                AS BIGINT) AS exposed_rows
    FROM cls
    """,
)
def dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    joined = t.orders.join(
        t.customer, F.col("o_custkey") == F.col("c_custkey")
    ).select(
        "c_nationkey", "c_mktsegment", F.col("o_orderpriority").alias("sens")
    )
    cls = joined.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("sz"),
        F.countDistinct("sens").alias("n_distinct"),
    )
    return cls.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum((F.col("n_distinct") < _L_DIV).cast("int"))
        .cast("long")
        .alias("violating_classes"),
        F.min("n_distinct").cast("long").alias("min_diversity"),
        F.sum(
            F.when(F.col("n_distinct") < _L_DIV, F.col("sz")).otherwise(0)
        )
        .cast("long")
        .alias("exposed_rows"),
    )
