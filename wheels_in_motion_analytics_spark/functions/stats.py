"""Hypothesis-testing and robust-outlier statistics as relational plans —
the data-quality / experiment-analysis layer (the chi-square independence
test lives in operators/aggregates.py).

Scale shapes:

* Welch's t runs on per-group POWER SUMS (n, Σx, Σx²) — one
  map-side-combinable aggregate over the fact rows, then all pair math on
  the k-row group relation (k = #segments, sub-linear, broadcast-trivial).
* The KS statistic is computed on the per-distinct-value count relation:
  one groupBy on (value), two running-sum windows, one max — never a
  per-row sort of the raw samples. State is bounded by |distinct values|.
* MAD outliers use exact medians (`percentile`) per group — inherently
  sort-heavy, the documented exact baseline; its mergeable-sketch sibling
  (`percentile_approx_sketch`) is the 100 TB fast path.

Float discipline: sums accumulate in DECIMAL (compat.py); variances/t
statistics are derived from identical doubles via IEEE basic ops and
rounded in isolation; the KS D-statistic is kept as an exact INTEGER
numerator (|ca·n2 − cb·n1|) next to the rounded double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from wheels_in_motion_analytics_spark.registry import register
from wheels_in_motion_analytics_spark.tables import table

# --------------------------------------------------------------------------
# Welch's unequal-variance t-test, all segment pairs
# --------------------------------------------------------------------------


@register(
    "welch_ttest_segments",
    category="stats",
    doc="Welch's t-test of mean c_acctbal between every pair of market "
    "segments: per-group power sums (one map-side-combinable aggregate, "
    "decimal accumulation), then t and Welch–Satterthwaite dof on the "
    "5-row group relation self-joined into 10 pairs. Rounded in isolation.",
    oracle="""
WITH g AS (
  SELECT c_mktsegment AS seg,
         COUNT(*) AS n,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(c_acctbal * c_acctbal AS DECIMAL(24,4))) AS DOUBLE) AS s2
  FROM customer GROUP BY c_mktsegment
),
m AS (
  SELECT seg, n, s1 / n AS mean,
         (s2 - s1 * s1 / n) / (n - 1) AS var
  FROM g
)
SELECT a.seg AS seg_a, b.seg AS seg_b, a.n AS n_a, b.n AS n_b,
       round(a.mean - b.mean, 6) AS mean_diff,
       round((a.mean - b.mean) / sqrt(a.var / a.n + b.var / b.n), 6) AS t_stat,
       round(pow(a.var / a.n + b.var / b.n, 2)
             / (pow(a.var / a.n, 2) / (a.n - 1)
                + pow(b.var / b.n, 2) / (b.n - 1)), 4) AS dof
FROM m a JOIN m b ON a.seg < b.seg
""",
)
def welch_ttest_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("c_acctbal").cast("decimal(18,4)"))
            .cast("double")
            .alias("s1"),
            F.sum((F.col("c_acctbal") * F.col("c_acctbal")).cast("decimal(24,4)"))
            .cast("double")
            .alias("s2"),
        )
    )
    m = g.select(
        "seg",
        "n",
        (F.col("s1") / F.col("n")).alias("mean"),
        ((F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)).alias(
            "var"
        ),
    )
    a = m.select(
        F.col("seg").alias("seg_a"),
        F.col("n").alias("n_a"),
        F.col("mean").alias("mean_a"),
        F.col("var").alias("var_a"),
    )
    b = m.select(
        F.col("seg").alias("seg_b"),
        F.col("n").alias("n_b"),
        F.col("mean").alias("mean_b"),
        F.col("var").alias("var_b"),
    )
    se_a = F.col("var_a") / F.col("n_a")
    se_b = F.col("var_b") / F.col("n_b")
    return (
        a.crossJoin(b)
        .where(F.col("seg_a") < F.col("seg_b"))
        .select(
            "seg_a",
            "seg_b",
            "n_a",
            "n_b",
            F.round(F.col("mean_a") - F.col("mean_b"), 6).alias("mean_diff"),
            F.round(
                (F.col("mean_a") - F.col("mean_b")) / F.sqrt(se_a + se_b), 6
            ).alias("t_stat"),
            F.round(
                F.pow(se_a + se_b, 2)
                / (
                    F.pow(se_a, 2) / (F.col("n_a") - 1)
                    + F.pow(se_b, 2) / (F.col("n_b") - 1)
                ),
                4,
            ).alias("dof"),
        )
    )


# --------------------------------------------------------------------------
# Kolmogorov–Smirnov two-sample test (exact, integer numerator)
# --------------------------------------------------------------------------

KS_SEG_A = "BUILDING"
KS_SEG_B = "MACHINERY"


@register(
    "ks_test_two_sample",
    category="stats",
    doc=f"Exact two-sample KS statistic between c_acctbal of "
    f"'{KS_SEG_A}' and '{KS_SEG_B}' customers. Runs on the per-distinct-"
    "value count relation (groupBy value → two-phase exact prefix sums via "
    "operators/windows.py:global_prefix_sums → max) — no single-task "
    "window even with near-unique values; D is the exact integer numerator "
    "|ca·n2 − cb·n1| alongside the rounded double D = num/(n1·n2).",
    oracle=f"""
WITH s AS (
  SELECT c_acctbal AS v,
         CASE WHEN c_mktsegment = '{KS_SEG_A}' THEN 1 ELSE 0 END AS ia,
         CASE WHEN c_mktsegment = '{KS_SEG_B}' THEN 1 ELSE 0 END AS ib
  FROM customer
  WHERE c_mktsegment IN ('{KS_SEG_A}', '{KS_SEG_B}')
),
pv AS (SELECT v, SUM(ia) AS ca, SUM(ib) AS cb FROM s GROUP BY v),
tot AS (SELECT SUM(ca) AS n1, SUM(cb) AS n2 FROM pv),
run AS (
  SELECT SUM(ca) OVER (ORDER BY v) AS ra,
         SUM(cb) OVER (ORDER BY v) AS rb
  FROM pv
)
SELECT CAST(tot.n1 AS BIGINT) AS n1, CAST(tot.n2 AS BIGINT) AS n2,
       CAST(MAX(abs(ra * tot.n2 - rb * tot.n1)) AS BIGINT) AS d_num,
       round(CAST(MAX(abs(ra * tot.n2 - rb * tot.n1)) AS DOUBLE)
             / (tot.n1 * tot.n2), 6) AS d_stat
FROM run CROSS JOIN tot
GROUP BY tot.n1, tot.n2
""",
)
def ks_test_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (
        table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment").isin(KS_SEG_A, KS_SEG_B))
        .select(
            F.col("c_acctbal").alias("v"),
            F.when(F.col("c_mktsegment") == KS_SEG_A, 1).otherwise(0).alias("ia"),
            F.when(F.col("c_mktsegment") == KS_SEG_B, 1).otherwise(0).alias("ib"),
        )
    )
    pv = s.groupBy("v").agg(F.sum("ia").alias("ca"), F.sum("ib").alias("cb"))
    tot = pv.agg(F.sum("ca").alias("n1"), F.sum("cb").alias("n2"))
    # distinct acctbals are ~99% of row count, so a global running-sum
    # window would be a single-task sort of the whole relation — use the
    # two-phase exact prefix sum instead (operators/windows.py)
    from wheels_in_motion_analytics_spark.operators.windows import global_prefix_sums

    run = global_prefix_sums(pv, ["v"], ["ca", "cb"]).select(
        F.col("ca_cum").alias("ra"), F.col("cb_cum").alias("rb")
    )
    num = F.abs(F.col("ra") * F.col("n2") - F.col("rb") * F.col("n1"))
    return (
        run.crossJoin(F.broadcast(tot))
        .groupBy("n1", "n2")
        .agg(
            F.max(num).alias("d_num"),
            F.round(
                F.max(num).cast("double") / (F.col("n1") * F.col("n2")), 6
            ).alias("d_stat"),
        )
    )


# --------------------------------------------------------------------------
# MAD-based robust outlier audit
# --------------------------------------------------------------------------

MAD_K = 3.0
MAD_SCALE = 1.4826  # consistency constant for normal data


@register(
    "mad_outlier_audit",
    category="stats",
    doc=f"Robust outlier audit per nation: exact median and MAD of "
    f"c_acctbal, rows flagged where |x − med| > {MAD_K}·{MAD_SCALE}·MAD. "
    "Two exact-median passes (the documented sort-heavy exact baseline — "
    "percentile_approx_sketch is the mergeable 100 TB path), then one "
    "broadcast join back to the rows for the flag counts.",
    oracle=f"""
WITH med AS (
  SELECT c_nationkey, CAST(quantile_cont(c_acctbal, 0.5) AS DOUBLE) AS med
  FROM customer GROUP BY c_nationkey
),
mad AS (
  SELECT c.c_nationkey,
         ANY_VALUE(m.med) AS med,
         CAST(quantile_cont(abs(c.c_acctbal - m.med), 0.5) AS DOUBLE) AS mad
  FROM customer c JOIN med m USING (c_nationkey)
  GROUP BY c.c_nationkey
)
SELECT c.c_nationkey AS nationkey,
       COUNT(*) AS n,
       round(ANY_VALUE(d.med), 4) AS med,
       round(ANY_VALUE(d.mad), 4) AS mad,
       COUNT(*) FILTER (
         WHERE abs(c.c_acctbal - d.med) > {MAD_K} * {MAD_SCALE} * d.mad
       ) AS n_outliers
FROM customer c JOIN mad d USING (c_nationkey)
GROUP BY c.c_nationkey
""",
)
def mad_outlier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    med = cust.groupBy("c_nationkey").agg(
        F.expr("percentile(c_acctbal, 0.5)").alias("med")
    )
    mad = (
        cust.join(F.broadcast(med), "c_nationkey")
        .groupBy("c_nationkey")
        .agg(
            F.any_value(F.col("med")).alias("med"),
            F.expr("percentile(abs(c_acctbal - med), 0.5)").alias("mad"),
        )
    )
    thresh = MAD_K * MAD_SCALE * F.col("mad")
    return (
        cust.join(F.broadcast(mad), "c_nationkey")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.any_value(F.col("med")), 4).alias("med"),
            F.round(F.any_value(F.col("mad")), 4).alias("mad"),
            F.count(
                F.when(F.abs(F.col("c_acctbal") - F.col("med")) > thresh, 1)
            ).alias("n_outliers"),
        )
    )


# --------------------------------------------------------------------------
# Population Stability Index (data-drift monitor)
# --------------------------------------------------------------------------

PSI_BUCKETS = 10
PSI_SPLIT = "1997-01-01 00:00:00"  # baseline period < split <= current
PSI_LAPLACE = 1  # add-one smoothing: empty buckets stay finite


@register(
    "psi_price_drift",
    category="stats",
    doc=f"Population Stability Index between two periods' order-price "
    f"distributions ({PSI_BUCKETS} fixed-width buckets, add-one smoothing "
    "for empty cells): per-bucket shares from exact integer counts, "
    "PSI = Σ (p−q)·ln(p/q) with each ln term rounded in isolation (the "
    "one libm call). Emits the per-bucket decomposition plus the total on "
    "every row — the standard production data-drift monitor for both "
    "features and training corpora.",
    oracle=f"""
WITH b AS (
  SELECT CASE WHEN o_orderdate < TIMESTAMP '{PSI_SPLIT}' THEN 'base' ELSE 'cur' END AS period,
         least(CAST(floor(o_totalprice / 60000.0 * {PSI_BUCKETS}) AS INTEGER),
               {PSI_BUCKETS - 1}) AS bucket
  FROM orders
),
counts AS (
  SELECT bucket,
         COUNT(*) FILTER (WHERE period = 'base') + {PSI_LAPLACE} AS nb,
         COUNT(*) FILTER (WHERE period = 'cur') + {PSI_LAPLACE} AS nc
  FROM b GROUP BY bucket
),
tot AS (SELECT SUM(nb) AS tb, SUM(nc) AS tc FROM counts),
terms AS (
  SELECT bucket,
         round((CAST(nb AS DOUBLE) / tb - CAST(nc AS DOUBLE) / tc)
               * round(ln((CAST(nb AS DOUBLE) / tb) / (CAST(nc AS DOUBLE) / tc)), 6),
               6) AS psi_term
  FROM counts CROSS JOIN tot
)
SELECT bucket, psi_term,
       CAST(SUM(CAST(psi_term AS DECIMAL(18,6))) OVER () AS DOUBLE) AS psi_total
FROM terms
""",
)
def psi_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    bucket = F.least(
        F.floor(F.col("o_totalprice") / 60000.0 * PSI_BUCKETS).cast("int"),
        F.lit(PSI_BUCKETS - 1),
    )
    period = F.when(
        F.col("o_orderdate") < F.lit(PSI_SPLIT).cast("timestamp"), "base"
    ).otherwise("cur")
    counts = (
        o.select(period.alias("period"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            (F.count(F.when(F.col("period") == "base", 1)) + PSI_LAPLACE).alias("nb"),
            (F.count(F.when(F.col("period") == "cur", 1)) + PSI_LAPLACE).alias("nc"),
        )
    )
    tot = counts.agg(F.sum("nb").alias("tb"), F.sum("nc").alias("tc"))
    p = F.col("nb").cast("double") / F.col("tb")
    q = F.col("nc").cast("double") / F.col("tc")
    term = F.round((p - q) * F.round(F.log(p / q), 6), 6)
    terms = counts.crossJoin(F.broadcast(tot)).select(
        "bucket", term.alias("psi_term")
    )
    wall = Window.partitionBy()
    return terms.select(
        "bucket",
        "psi_term",
        F.sum(F.col("psi_term").cast("decimal(18,6)"))
        .over(wall)
        .cast("double")
        .alias("psi_total"),
    )


# --------------------------------------------------------------------------
# Winsorization (percentile clipping)
# --------------------------------------------------------------------------

WINSOR_LO = 0.01
WINSOR_HI = 0.99


@register(
    "winsorize_prices",
    category="stats",
    doc=f"Winsorized aggregates: per return flag, l_extendedprice clipped "
    f"at the exact p{int(WINSOR_LO * 100)}/p{int(WINSOR_HI * 100)} "
    "percentiles, then decimal-accumulated mean of raw vs clipped — the "
    "outlier-robust preprocessing step for price-like features. Bounds "
    "rounded in isolation; comparisons happen on the rounded bounds on "
    "both engines. r11 rewrite: the bounds come from per-group "
    "shared-round histogram selection (grouped_percentile_doubles — "
    "bit-identical to the former percentile() aggregate, pinned by "
    "tests/test_operators.py) and attach as literal CASE expressions, so "
    "the percentile counts-map state (partial maps growing with distinct "
    "values per group — a memory hazard at 100 TB) and the bounds "
    "broadcast join are both gone; the clipped aggregate is the only "
    "remaining pass over the rows. Rounding of the bounds stays a Spark "
    "expression (round(lit(raw), 4)) so rounding semantics remain the "
    "engine's own.",
    oracle=f"""
WITH b AS (
  SELECT l_returnflag AS flag,
         round(CAST(quantile_cont(l_extendedprice, {WINSOR_LO}) AS DOUBLE), 4) AS lo,
         round(CAST(quantile_cont(l_extendedprice, {WINSOR_HI}) AS DOUBLE), 4) AS hi
  FROM lineitem GROUP BY 1
)
SELECT b.flag, b.lo, b.hi,
       COUNT(*) AS n,
       COUNT(*) FILTER (WHERE l_extendedprice < b.lo
                           OR l_extendedprice > b.hi) AS n_clipped,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
         AS mean_raw,
       CAST(SUM(CAST(greatest(least(l_extendedprice, b.hi), b.lo)
                     AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS mean_winsor
FROM lineitem l JOIN b ON l.l_returnflag = b.flag
GROUP BY 1, 2, 3
""",
)
def winsorize_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.operators.windows import (
        grouped_percentile_doubles,
    )

    li = table(spark, sf_dir, "lineitem")
    pct = grouped_percentile_doubles(
        li, "l_returnflag", "l_extendedprice", [WINSOR_LO, WINSOR_HI]
    )

    def bound(idx: int):
        # per-group bound as a literal CASE over the bounded flag domain;
        # round() stays a Spark expression (engine rounding semantics)
        expr = None
        for g, vals in sorted(pct.items()):
            branch = F.round(F.lit(vals[idx]), 4)
            expr = (
                F.when(F.col("l_returnflag") == g, branch)
                if expr is None
                else expr.when(F.col("l_returnflag") == g, branch)
            )
        return expr

    withb = li.select(
        F.col("l_returnflag").alias("flag"),
        "l_extendedprice",
        bound(0).alias("lo"),
        bound(1).alias("hi"),
    )
    clipped = F.greatest(F.least(F.col("l_extendedprice"), F.col("hi")), F.col("lo"))
    return (
        withb.groupBy("flag", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(
                F.when(
                    (F.col("l_extendedprice") < F.col("lo"))
                    | (F.col("l_extendedprice") > F.col("hi")),
                    1,
                )
            ).alias("n_clipped"),
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_raw"),
            (
                F.sum(clipped.cast("decimal(18,4)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_winsor"),
        )
    )


# --------------------------------------------------------------------------
# CUPED variance reduction (experiment analytics)
# --------------------------------------------------------------------------

CUPED_SPLIT = "1998-01-01 00:00:00"  # pre-period < split <= post-period


@register(
    "cuped_adjusted_lift",
    category="stats",
    doc="CUPED-adjusted A/B readout: customers assigned to arms by md5 "
    "parity, metric = post-period revenue, covariate = pre-period revenue; "
    "θ = cov(x,y)/var(x) from decimal-accumulated power sums, adjusted "
    "metric y − θ(x − x̄). Emits per-arm raw and adjusted means plus the "
    "variance-reduction fraction — the standard pre-experiment-data "
    "variance shrink. All moments map-side combinable; θ and x̄ are "
    "2-row-broadcast scalars.",
    oracle=f"""
WITH per_cust AS (
  SELECT c.c_custkey,
         ('0x' || substr(md5('arm:' || CAST(c.c_custkey AS VARCHAR)), 1, 15))::BIGINT % 2
           AS arm,
         COALESCE(SUM(CASE WHEN o.o_orderdate < TIMESTAMP '{CUPED_SPLIT}'
                           THEN CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) END), 0)
           AS x_cents,
         COALESCE(SUM(CASE WHEN o.o_orderdate >= TIMESTAMP '{CUPED_SPLIT}'
                           THEN CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) END), 0)
           AS y_cents
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1
),
m AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(x_cents) AS DOUBLE) / 100 / COUNT(*) AS xbar,
         CAST(SUM(y_cents) AS DOUBLE) / 100 / COUNT(*) AS ybar,
         CAST(SUM(x_cents * x_cents) AS DOUBLE) / 10000 AS sxx,
         CAST(SUM(x_cents * y_cents) AS DOUBLE) / 10000 AS sxy,
         CAST(SUM(y_cents * y_cents) AS DOUBLE) / 10000 AS syy
  FROM per_cust
),
theta AS (
  SELECT n, xbar, ybar,
         (sxy / n - xbar * ybar) / (sxx / n - xbar * xbar) AS th,
         (syy / n - ybar * ybar) AS var_y,
         (sxy / n - xbar * ybar) AS cov_xy,
         (sxx / n - xbar * xbar) AS var_x
  FROM m
)
SELECT p.arm,
       COUNT(*) AS n_units,
       round(CAST(SUM(p.y_cents) AS DOUBLE) / 100 / COUNT(*), 6) AS raw_mean,
       round(CAST(SUM(CAST(floor((p.y_cents / 100.0
                 - t.th * (p.x_cents / 100.0 - t.xbar)) * 1000000 + 0.5) AS BIGINT))
             AS DOUBLE) / 1000000 / COUNT(*), 6) AS adjusted_mean,
       round(1 - (t.var_y - t.cov_xy * t.cov_xy / t.var_x) / t.var_y, 6)
         AS variance_reduction
FROM per_cust p CROSS JOIN theta t
GROUP BY p.arm, t.var_y, t.cov_xy, t.var_x
""",
)
def cuped_adjusted_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.functions.similarity import hash_hex

    cust = table(spark, sf_dir, "customer").select("c_custkey")
    orders = table(spark, sf_dir, "orders")
    split = F.lit(CUPED_SPLIT).cast("timestamp")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("o_orderdate") < split, cents)), F.lit(0)
            ).alias("x_cents"),
            F.coalesce(
                F.sum(F.when(F.col("o_orderdate") >= split, cents)), F.lit(0)
            ).alias("y_cents"),
        )
        .withColumn(
            "arm",
            hash_hex(F.concat(F.lit("arm:"), F.col("c_custkey").cast("string")))
            % 2,
        )
    )
    m = per_cust.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("x_cents").cast("double") / 100 / F.count(F.lit(1))).alias("xbar"),
        (F.sum("y_cents").cast("double") / 100 / F.count(F.lit(1))).alias("ybar"),
        # cents products overflow int64 at scale — exact DECIMAL(38,0)
        # accumulation (DuckDB promotes to INT128 natively)
        (
            F.sum(F.col("x_cents").cast("decimal(38,0)") * F.col("x_cents"))
            .cast("double")
            / 10000
        ).alias("sxx"),
        (
            F.sum(F.col("x_cents").cast("decimal(38,0)") * F.col("y_cents"))
            .cast("double")
            / 10000
        ).alias("sxy"),
        (
            F.sum(F.col("y_cents").cast("decimal(38,0)") * F.col("y_cents"))
            .cast("double")
            / 10000
        ).alias("syy"),
    )
    theta = m.select(
        "n",
        "xbar",
        "ybar",
        (
            (F.col("sxy") / F.col("n") - F.col("xbar") * F.col("ybar"))
            / (F.col("sxx") / F.col("n") - F.col("xbar") * F.col("xbar"))
        ).alias("th"),
        (F.col("syy") / F.col("n") - F.col("ybar") * F.col("ybar")).alias("var_y"),
        (F.col("sxy") / F.col("n") - F.col("xbar") * F.col("ybar")).alias("cov_xy"),
        (F.col("sxx") / F.col("n") - F.col("xbar") * F.col("xbar")).alias("var_x"),
    )
    adj_q = F.floor(
        (
            F.col("y_cents") / 100.0
            - F.col("th") * (F.col("x_cents") / 100.0 - F.col("xbar"))
        )
        * 1_000_000
        + F.lit(0.5)
    ).cast("bigint")
    return (
        per_cust.crossJoin(F.broadcast(theta))
        .groupBy("arm", "var_y", "cov_xy", "var_x")
        .agg(
            F.count(F.lit(1)).alias("n_units"),
            F.round(
                F.sum("y_cents").cast("double") / 100 / F.count(F.lit(1)), 6
            ).alias("raw_mean"),
            F.round(
                F.sum(adj_q).cast("double") / 1_000_000 / F.count(F.lit(1)), 6
            ).alias("adjusted_mean"),
        )
        .select(
            "arm",
            "n_units",
            "raw_mean",
            "adjusted_mean",
            F.round(
                1
                - (
                    F.col("var_y")
                    - F.col("cov_xy") * F.col("cov_xy") / F.col("var_x")
                )
                / F.col("var_y"),
                6,
            ).alias("variance_reduction"),
        )
    )


# --------------------------------------------------------------------------
# Mann-Whitney U (rank-sum) two-sample test
# --------------------------------------------------------------------------


@register(
    "mann_whitney_u_prices",
    category="stats",
    doc="Mann-Whitney U rank-sum test, F-status vs O-status order totals — "
    "the nonparametric sibling of welch_ttest_segments. SCALE SHAPE: ranks "
    "are never assigned per row; values aggregate to a distinct-value "
    "relation and cumulative counts come from the TWO-PHASE exact prefix "
    "sum (operators/windows.py:global_prefix_sums — range-partitioned "
    "parallel sort, no single-task window even though prices are nearly "
    "unique). Rank sums are exact (multiples of 1/2 summed well below "
    "2^52), tie correction exact integer math; only the final z pays one "
    "libm sqrt, rounded to 6dp on both engines.",
    oracle="""
WITH s AS (
  SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS g
  FROM orders WHERE o_orderstatus IN ('F', 'O')
),
vals AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS n_tot, CAST(SUM(g) AS BIGINT) AS n1v
  FROM s GROUP BY v
),
cum AS (
  SELECT n_tot, n1v,
         CAST(COALESCE(SUM(n_tot) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before
  FROM vals
),
agg AS (
  SELECT CAST(SUM(n1v) AS BIGINT) AS n1,
         CAST(SUM(n_tot) AS BIGINT) AS n,
         SUM(n1v * (cum_before + (n_tot + 1) / 2.0)) AS r1,
         CAST(SUM(n_tot * n_tot * n_tot - n_tot) AS BIGINT) AS ties
  FROM cum
)
SELECT n1,
       n - n1 AS n2,
       r1 - n1 * (n1 + 1) / 2.0 AS u1,
       round((r1 - n1 * (n1 + 1) / 2.0 - n1 * (n - n1) / 2.0)
             / sqrt(n1 * (n - n1) / 12.0
                    * ((n + 1) - CAST(ties AS DOUBLE) / (n * (n - 1.0)))),
             6) AS z
FROM agg
""",
)
def mann_whitney_u_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus").isin("F", "O"))
        .select(
            F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
            (F.col("o_orderstatus") == "F").cast("int").alias("g"),
        )
    )
    vals = s.groupBy("v").agg(
        F.count(F.lit(1)).alias("n_tot"), F.sum("g").alias("n1v")
    )
    # o_totalprice is nearly unique, so the "distinct-value relation" is
    # row-cardinality: a global window here would serialize the whole
    # relation onto one task. Exclusive prefix = inclusive two-phase
    # prefix sum minus the row's own count.
    from wheels_in_motion_analytics_spark.operators.windows import global_prefix_sums

    cum = global_prefix_sums(vals, ["v"], ["n_tot"]).select(
        "n_tot",
        "n1v",
        (F.col("n_tot_cum") - F.col("n_tot")).alias("cum_before"),
    )
    agg = cum.agg(
        F.sum("n1v").alias("n1"),
        F.sum("n_tot").alias("n"),
        F.sum(
            F.col("n1v") * (F.col("cum_before") + (F.col("n_tot") + 1) / 2.0)
        ).alias("r1"),
        F.sum(
            F.col("n_tot") * F.col("n_tot") * F.col("n_tot") - F.col("n_tot")
        ).alias("ties"),
    )
    n1, n, r1, ties = F.col("n1"), F.col("n"), F.col("r1"), F.col("ties")
    u1 = r1 - n1 * (n1 + 1) / 2.0
    mu = n1 * (n - n1) / 2.0
    sig2 = (
        n1 * (n - n1) / 12.0
        * ((n + 1) - ties.cast("double") / (n * (n - 1.0)))
    )
    return agg.select(
        n1.alias("n1"),
        (n - n1).alias("n2"),
        u1.alias("u1"),
        F.round((u1 - mu) / F.sqrt(sig2), 6).alias("z"),
    )


# --------------------------------------------------------------------------
# Multi-feature OLS via aggregated normal equations (distributed learning
# as ONE mergeable aggregate)
# --------------------------------------------------------------------------


@register(
    "linreg_normal_equations",
    category="stats",
    doc="Multi-feature ordinary least squares fit WITHOUT any iterative "
    "solver or driver-side data: y = extended price (cents) on x1 = "
    "quantity, x2 = discount(%), via the normal equations. The entire "
    "training pass is ONE map-side-combinable aggregate producing the "
    "exact integer moment matrix (n, Σx1, Σx2, Σy, Σx1², Σx1x2, Σx2², "
    "Σx1y, Σx2y, Σy²) on integer grids — at 100 TB this is a single "
    "partial-agg scan, the same shape as count(*). The 3×3 solve is "
    "Cramer's rule over those exact moments as a fixed closed-form "
    "expression (identical IEEE arithmetic on both engines), so "
    "coefficients + R² are fully oracle-checked. The standard trick for "
    "fitting small linear models on cluster-scale data.",
    oracle="""
WITH m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s1,
         CAST(SUM(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS DOUBLE) AS s2,
         CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s11,
         CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS DOUBLE) AS s12,
         CAST(SUM(CAST(floor(l_discount * 100 + 0.5) AS BIGINT) * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS DOUBLE) AS s22,
         CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) AS s1y,
         CAST(SUM(CAST(floor(l_discount * 100 + 0.5) AS BIGINT) * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) AS s2y,
         CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) AS syy
  FROM lineitem
),
solved AS (
  SELECT n, sy, syy,
         (n * (s11 * s22 - s12 * s12)
          - s1 * (s1 * s22 - s12 * s2)
          + s2 * (s1 * s12 - s11 * s2)) AS det,
         (sy * (s11 * s22 - s12 * s12)
          - s1 * (s1y * s22 - s12 * s2y)
          + s2 * (s1y * s12 - s11 * s2y)) AS det0,
         (n * (s1y * s22 - s12 * s2y)
          - sy * (s1 * s22 - s12 * s2)
          + s2 * (s1 * s2y - s1y * s2)) AS det1,
         (n * (s11 * s2y - s1y * s12)
          - s1 * (s1 * s2y - s1y * s2)
          + sy * (s1 * s12 - s11 * s2)) AS det2,
         s1y, s2y, s1, s2
  FROM m
)
SELECT CAST(n AS BIGINT) AS n_rows,
       round(det0 / det, 4) AS beta0,
       round(det1 / det, 4) AS beta1,
       round(det2 / det, 4) AS beta2,
       round(1 - (syy - (det0 / det) * sy - (det1 / det) * s1y - (det2 / det) * s2y)
                 / (syy - sy * sy / n), 6) AS r2
FROM solved
""",
)
def linreg_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    x1 = F.col("l_quantity").cast("bigint")
    x2 = F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("bigint")
    y = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
    # per-row products fit BIGINT, but their SUMS do not (Σy² ≈ 6e19 at
    # sf0.1 already — ANSI mode rightly refuses): accumulate every moment
    # in DECIMAL(38,0), the same power-sum discipline as moment_stats_suite
    def dmoment(expr):
        return F.sum(expr.cast("decimal(38,0)")).cast("double")

    m = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dmoment(x1).alias("s1"),
        dmoment(x2).alias("s2"),
        dmoment(y).alias("sy"),
        dmoment(x1 * x1).alias("s11"),
        dmoment(x1 * x2).alias("s12"),
        dmoment(x2 * x2).alias("s22"),
        dmoment(x1 * y).alias("s1y"),
        dmoment(x2 * y).alias("s2y"),
        dmoment(y * y).alias("syy"),
    )
    c = F.col
    minor0 = c("s11") * c("s22") - c("s12") * c("s12")
    det = (
        c("n") * minor0
        - c("s1") * (c("s1") * c("s22") - c("s12") * c("s2"))
        + c("s2") * (c("s1") * c("s12") - c("s11") * c("s2"))
    )
    det0 = (
        c("sy") * minor0
        - c("s1") * (c("s1y") * c("s22") - c("s12") * c("s2y"))
        + c("s2") * (c("s1y") * c("s12") - c("s11") * c("s2y"))
    )
    det1 = (
        c("n") * (c("s1y") * c("s22") - c("s12") * c("s2y"))
        - c("sy") * (c("s1") * c("s22") - c("s12") * c("s2"))
        + c("s2") * (c("s1") * c("s2y") - c("s1y") * c("s2"))
    )
    det2 = (
        c("n") * (c("s11") * c("s2y") - c("s1y") * c("s12"))
        - c("s1") * (c("s1") * c("s2y") - c("s1y") * c("s2"))
        + c("sy") * (c("s1") * c("s12") - c("s11") * c("s2"))
    )
    b0, b1, b2 = det0 / det, det1 / det, det2 / det
    ss_res = c("syy") - b0 * c("sy") - b1 * c("s1y") - b2 * c("s2y")
    ss_tot = c("syy") - c("sy") * c("sy") / c("n")
    return m.select(
        c("n").cast("bigint").alias("n_rows"),
        F.round(b0, 4).alias("beta0"),
        F.round(b1, 4).alias("beta1"),
        F.round(b2, 4).alias("beta2"),
        F.round(F.lit(1) - ss_res / ss_tot, 6).alias("r2"),
    )


# --------------------------------------------------------------------------
# Entropy / mutual information — column-dependence profiling
# --------------------------------------------------------------------------


@register(
    "column_entropy_mi",
    category="stats",
    doc="Column-dependence profile of (o_orderpriority, o_orderstatus): "
    "Shannon entropies H(X), H(Y), joint H(X,Y) and mutual information "
    "I(X;Y) = H(X)+H(Y)−H(X,Y), all in nats from EXACT integer cell "
    "counts (one groupBy over the pair — the contingency relation is "
    "k₁×k₂ cells regardless of corpus size). Each p·ln(p) term is rounded "
    "in isolation (the one libm call — same discipline as psi_price_drift) "
    "and the k-term sums accumulate in DECIMAL, so the result is "
    "cross-engine exact. The profiling primitive behind feature-redundancy "
    "and leakage audits on training tables.",
    oracle="""
WITH cells AS (
  SELECT o_orderpriority AS x, o_orderstatus AS y, COUNT(*) AS c
  FROM orders GROUP BY 1, 2
),
tot AS (SELECT SUM(c) AS n FROM cells),
hx AS (
  SELECT CAST(SUM(CAST(round(-(CAST(cx AS DOUBLE) / n) * round(ln(CAST(cx AS DOUBLE) / n), 9), 9) AS DECIMAL(18,9))) AS DOUBLE) AS h
  FROM (SELECT x, SUM(c) AS cx FROM cells GROUP BY x) g CROSS JOIN tot
),
hy AS (
  SELECT CAST(SUM(CAST(round(-(CAST(cy AS DOUBLE) / n) * round(ln(CAST(cy AS DOUBLE) / n), 9), 9) AS DECIMAL(18,9))) AS DOUBLE) AS h
  FROM (SELECT y, SUM(c) AS cy FROM cells GROUP BY y) g CROSS JOIN tot
),
hxy AS (
  SELECT CAST(SUM(CAST(round(-(CAST(c AS DOUBLE) / n) * round(ln(CAST(c AS DOUBLE) / n), 9), 9) AS DECIMAL(18,9))) AS DOUBLE) AS h
  FROM cells CROSS JOIN tot
)
SELECT round(hx.h, 6) AS h_x,
       round(hy.h, 6) AS h_y,
       round(hxy.h, 6) AS h_xy,
       round(hx.h + hy.h - hxy.h, 6) AS mutual_information
FROM hx, hy, hxy
""",
)
def column_entropy_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    cells = (
        o.groupBy(F.col("o_orderpriority").alias("x"), F.col("o_orderstatus").alias("y"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()  # three entropy consumers below share the cells
    )
    tot = cells.agg(F.sum("c").alias("n"))

    def entropy(counts: DataFrame, col: str) -> DataFrame:
        p = F.col(col).cast("double") / F.col("n")
        term = F.round(-p * F.round(F.log(p), 9), 9)
        return (
            counts.crossJoin(F.broadcast(tot))
            .select(term.cast("decimal(18,9)").alias("t"))
            .agg(F.sum("t").cast("double").alias("h"))
        )

    hx = entropy(cells.groupBy("x").agg(F.sum("c").alias("cx")), "cx")
    hy = entropy(cells.groupBy("y").agg(F.sum("c").alias("cy")), "cy")
    hxy = entropy(cells, "c")
    return (
        hx.select(F.col("h").alias("h_x"))
        .crossJoin(hy.select(F.col("h").alias("h_y")))
        .crossJoin(hxy.select(F.col("h").alias("h_xy")))
        .select(
            F.round("h_x", 6).alias("h_x"),
            F.round("h_y", 6).alias("h_y"),
            F.round("h_xy", 6).alias("h_xy"),
            F.round(F.col("h_x") + F.col("h_y") - F.col("h_xy"), 6).alias("mutual_information"),
        )
    )


# --------------------------------------------------------------------------
# Exact-integer correlation canonicalization (shared by spearman + ACF)
# --------------------------------------------------------------------------


def with_corr_ppm(df: DataFrame, out: str = "rho_ppm") -> DataFrame:
    """Append ``out`` = parts-per-million correlation derived EXACTLY from
    integer moment columns ``num``/``dxx``/``dyy`` (DECIMAL(38,0)):
    sign(num) * ((2*|num|*1e6 + a*b) DIV (2*a*b)) with a,b the floor
    integer square roots of dxx,dyy. The isqrt comes from a double-sqrt
    candidate corrected by ±2 integer comparisons — exact while the
    operand is < ~1e31 (double sqrt abs error < 1 there; moment operands
    grow ~n^4 so that is far past sf1). No float quotient ever reaches
    the output: every emitted value is a deterministic integer function
    of the input, identical on any engine (r4 verdict item 1; the DuckDB
    mirror of this expression is _CORR_PPM_SQL)."""
    c = F.col

    def corrected(cand, operand):
        return (
            F.when((cand + 2) * (cand + 2) <= operand, cand + 2)
            .when((cand + 1) * (cand + 1) <= operand, cand + 1)
            .when(cand * cand <= operand, cand)
            .when((cand - 1) * (cand - 1) <= operand, cand - 1)
            .otherwise(cand - 2)
        )

    i = df.select(
        "*",
        F.floor(F.sqrt(c("dxx").cast("double"))).cast("decimal(38,0)").alias("__ca"),
        F.floor(F.sqrt(c("dyy").cast("double"))).cast("decimal(38,0)").alias("__cb"),
    ).select(
        "*",
        corrected(c("__ca"), c("dxx")).alias("__a"),
        corrected(c("__cb"), c("dyy")).alias("__b"),
    )
    sign = F.when(c("num") < 0, F.lit(-1)).otherwise(F.lit(1))
    ppm = F.expr(
        "CAST((2 * abs(num) * CAST(1000000 AS DECIMAL(38,0)) + __a * __b) "
        "DIV (2 * __a * __b) AS BIGINT)"
    )
    return i.withColumn(
        out,
        F.when((c("__a") == 0) | (c("__b") == 0), F.lit(None).cast("bigint"))
        .otherwise((sign * ppm).cast("bigint")),
    ).drop("__ca", "__cb", "__a", "__b")


def corr_ppm_sql(num: str, dxx: str, dyy: str) -> str:
    """DuckDB expression mirroring :func:`with_corr_ppm` for moment
    sub-expressions (HUGEINT-compatible column references)."""
    frag = """
CASE WHEN __A__ = 0 OR __B__ = 0 THEN NULL
     ELSE CAST((CASE WHEN {num} < 0 THEN -1 ELSE 1 END)
          * ((2 * abs({num}) * 1000000 + __A__ * __B__)
             // (2 * __A__ * __B__)) AS BIGINT) END"""
    isq = (
        "(CASE WHEN (__C__+2)*(__C__+2) <= {v} THEN __C__+2 "
        "WHEN (__C__+1)*(__C__+1) <= {v} THEN __C__+1 "
        "WHEN __C__*__C__ <= {v} THEN __C__ "
        "WHEN (__C__-1)*(__C__-1) <= {v} THEN __C__-1 "
        "ELSE __C__-2 END)"
    )
    cand = "CAST(floor(sqrt(CAST({v} AS DOUBLE))) AS HUGEINT)"
    a = isq.replace("__C__", cand.format(v=dxx)).format(v=dxx)
    b = isq.replace("__C__", cand.format(v=dyy)).format(v=dyy)
    return frag.format(num=num).replace("__A__", a).replace("__B__", b)


# --------------------------------------------------------------------------
# Spearman rank correlation — ties-aware, exact integer rank arithmetic
# --------------------------------------------------------------------------


@register(
    "spearman_rank_correlation",
    category="stats",
    doc="Spearman rank correlation between line-item quantity and extended "
    "price (cents), ties handled by average ranks — i.e. Pearson on ranks, "
    "the textbook ties-aware form. SCALE SHAPE: ranks are never assigned "
    "by a global per-row window; each variable aggregates to its "
    "distinct-value relation, average ranks come from the TWO-PHASE exact "
    "prefix sum (operators/windows.py:global_prefix_sums), doubled to stay "
    "integer (2*avgrank = 2*prefix + count + 1). The quantity rank table "
    "is bounded (~50 distinct values) so it attaches map-side via a "
    "broadcast join; only the price-rank join shuffles. The correlation "
    "itself is ONE map-side-combinable moment aggregate in DECIMAL(38,0) "
    "(BIGINT rank power sums overflow past ~sf1 — same power-sum "
    "discipline as linreg_normal_equations). HASH-PROOF OUTPUT (r4 "
    "verdict): no float-of-sqrt quotient is hashed. We emit the exact "
    "integer moments (num, dxx, dyy) plus rho_ppm — parts-per-million rho "
    "defined as sign(num)*((2*|num|*1e6 + a*b) DIV (2*a*b)) with a,b the "
    "exact floor-isqrts of dxx,dyy (double-sqrt candidate corrected by "
    "+-2 integer comparisons; exact while dxx,dyy < ~1e31, i.e. well past "
    "sf1). Every emitted value is a deterministic integer function of the "
    "input — identical on any engine, no last-ulp hazard.",
    oracle="""
WITH s AS (
  SELECT CAST(l_quantity AS BIGINT) AS x,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
  FROM lineitem
),
xv AS (SELECT x AS v, CAST(COUNT(*) AS BIGINT) AS cnt FROM s GROUP BY x),
xr AS (
  SELECT v,
         2 * CAST(SUM(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           - cnt + 1 AS r2
  FROM xv
),
yv AS (SELECT y AS v, CAST(COUNT(*) AS BIGINT) AS cnt FROM s GROUP BY y),
yr AS (
  SELECT v,
         2 * CAST(SUM(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           - cnt + 1 AS r2
  FROM yv
),
r AS (
  SELECT xr.r2 AS rx, yr.r2 AS ry
  FROM s JOIN xr ON s.x = xr.v JOIN yr ON s.y = yr.v
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(rx) AS sx, SUM(ry) AS sy,
         SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy, SUM(rx * ry) AS sxy
  FROM r
),
d AS (
  SELECT n, n * sxy - sx * sy AS num,
         n * sxx - sx * sx AS dxx, n * syy - sy * sy AS dyy
  FROM m
),
c AS (
  SELECT d.*,
         CAST(floor(sqrt(CAST(dxx AS DOUBLE))) AS HUGEINT) AS ca,
         CAST(floor(sqrt(CAST(dyy AS DOUBLE))) AS HUGEINT) AS cb
  FROM d
),
i AS (
  SELECT c.*,
         CASE WHEN (ca+2)*(ca+2) <= dxx THEN ca+2
              WHEN (ca+1)*(ca+1) <= dxx THEN ca+1
              WHEN ca*ca <= dxx THEN ca
              WHEN (ca-1)*(ca-1) <= dxx THEN ca-1
              ELSE ca-2 END AS a,
         CASE WHEN (cb+2)*(cb+2) <= dyy THEN cb+2
              WHEN (cb+1)*(cb+1) <= dyy THEN cb+1
              WHEN cb*cb <= dyy THEN cb
              WHEN (cb-1)*(cb-1) <= dyy THEN cb-1
              ELSE cb-2 END AS b
  FROM c
)
SELECT n AS n_rows,
       CAST(num AS VARCHAR) AS num,
       CAST(dxx AS VARCHAR) AS dxx,
       CAST(dyy AS VARCHAR) AS dyy,
       CASE WHEN a = 0 OR b = 0 THEN NULL
            ELSE CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
                 * ((2 * abs(num) * 1000000 + a * b) // (2 * a * b))
                 AS BIGINT) END AS rho_ppm
FROM i
""",
)
def spearman_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.operators.windows import global_prefix_sums

    s = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("y"),
    )

    # r10 restructure (guide §2.3 — aggregate before you shuffle). Every
    # moment is expressible over the distinct-y relation once the x-rank
    # is attached BEFORE the per-y aggregate:
    #   sx  = Σ_y Σ_rows rx            sxx = Σ_y Σ_rows rx²
    #   sy  = Σ_y cnt·ry               syy = Σ_y cnt·ry²
    #   sxy = Σ_y ry · (Σ_rows∈y rx)
    # so the rows never shuffle at all: ONE map-side-combinable groupBy(y)
    # carrying (cnt, Σrx, Σrx²) replaces the old full-row join on the
    # price-rank map + the full-row moment aggregate. Exactness is free:
    # all sums are integer DECIMAL(38,0) accumulation, associative under
    # any regrouping.
    #
    # The x (quantity) domain is bounded by construction (integers 1..50),
    # so its doubled-average-rank map is bounded driver state — the same
    # contract as the quickselect family: collect the 50-row count
    # aggregate, compute 2*avgrank = 2*prefix + cnt + 1 exactly in Python
    # integers, and attach it as a literal MAP lookup (no join, no
    # broadcast build job).
    xrows = s.groupBy("x").agg(F.count(F.lit(1)).alias("cnt")).collect()
    if any(r["x"] is None for r in xrows):
        # fail with a clear message rather than a sorted() TypeError on a
        # None-vs-int comparison (r10 ADVICE fix): the bounded-domain rank
        # map contract assumes a NOT NULL quantity column
        raise ValueError(
            "spearman_rank_correlation: NULL l_quantity in the fact "
            "relation — the bounded x-rank map requires a NOT NULL domain"
        )
    if not xrows:
        raise ValueError(
            "spearman_rank_correlation over an empty relation (an empty "
            "literal map would fail analysis with an opaque error)"
        )
    xcounts = sorted((r["x"], r["cnt"]) for r in xrows)
    entries, prefix = [], 0
    for v, cnt in xcounts:
        entries.append((v, 2 * prefix + cnt + 1))
        prefix += cnt
    rx_map = F.create_map(
        *[
            F.lit(z).cast("bigint")
            for pair in entries
            for z in pair
        ]
    )

    def dec(expr):
        return expr.cast("decimal(38,0)")

    per_y = (
        s.select("y", rx_map[F.col("x")].alias("rx"))
        .groupBy(F.col("y").alias("v"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(dec(F.col("rx"))).alias("srx"),
            F.sum(dec(F.col("rx") * F.col("rx"))).alias("srxx"),
        )
    )
    # distinct prices are ~row-cardinality → two-phase exact prefix sum,
    # never a single-task global window (unchanged from the old shape)
    cum = global_prefix_sums(per_y, ["v"], ["cnt"])
    g = cum.select(
        "cnt",
        "srx",
        "srxx",
        (2 * F.col("cnt_cum") - F.col("cnt") + 1).alias("ry"),
    )
    m = g.agg(
        F.sum("cnt").cast("decimal(38,0)").alias("n"),
        F.sum("srx").alias("sx"),
        F.sum(dec(F.col("cnt")) * dec(F.col("ry"))).alias("sy"),
        F.sum("srxx").alias("sxx"),
        F.sum(dec(F.col("cnt")) * dec(F.col("ry")) * dec(F.col("ry"))).alias("syy"),
        F.sum(F.col("srx") * dec(F.col("ry"))).alias("sxy"),
    )
    c = F.col
    d = m.select(
        c("n"),
        (c("n") * c("sxy") - c("sx") * c("sy")).cast("decimal(38,0)").alias("num"),
        (c("n") * c("sxx") - c("sx") * c("sx")).cast("decimal(38,0)").alias("dxx"),
        (c("n") * c("syy") - c("sy") * c("sy")).cast("decimal(38,0)").alias("dyy"),
    )
    # DECIMAL stays internal (the right accumulator); the HASHED output
    # emits the exact moments as digit STRINGS — the r5 driver hash-failed
    # every DecimalType output column (environmental decimal128
    # canonicalization gap), so no registry query may emit DecimalType.
    return with_corr_ppm(d).select(
        c("n").cast("bigint").alias("n_rows"),
        c("num").cast("string").alias("num"),
        c("dxx").cast("string").alias("dxx"),
        c("dyy").cast("string").alias("dyy"),
        "rho_ppm",
    )


# --------------------------------------------------------------------------
# Pairwise correlation matrix — all pairs from ONE moment aggregate
# --------------------------------------------------------------------------

_CORR_COLS = [
    ("qty", "CAST(l_quantity AS BIGINT)"),
    ("price", "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"),
    ("disc", "CAST(floor(l_discount * 100 + 0.5) AS BIGINT)"),
    ("tax", "CAST(floor(l_tax * 100 + 0.5) AS BIGINT)"),
]
_CORR_PAIRS = [
    (a, b)
    for i, (a, _) in enumerate(_CORR_COLS)
    for (b, _) in _CORR_COLS[i + 1 :]
]


def _corr_matrix_oracle() -> str:
    casts = ",\n         ".join(f"{expr} AS {name}" for name, expr in _CORR_COLS)
    sums = ", ".join(f"SUM({n}) AS s_{n}" for n, _ in _CORR_COLS)
    sqs = ", ".join(f"SUM({n} * {n}) AS q_{n}_{n}" for n, _ in _CORR_COLS)
    crosses = ", ".join(f"SUM({a} * {b}) AS q_{a}_{b}" for a, b in _CORR_PAIRS)
    arms = "\n  UNION ALL\n".join(
        f"  SELECT '{a}_{b}' AS pair, n * q_{a}_{b} - s_{a} * s_{b} AS num,\n"
        f"         n * q_{a}_{a} - s_{a} * s_{a} AS dxx,\n"
        f"         n * q_{b}_{b} - s_{b} * s_{b} AS dyy FROM m"
        for a, b in _CORR_PAIRS
    )
    return f"""
WITH s AS (
  SELECT {casts}
  FROM lineitem
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, {sums}, {sqs}, {crosses}
  FROM s
),
p AS (
{arms}
)
SELECT pair, CAST(num AS VARCHAR) AS num,
       {corr_ppm_sql('num', 'dxx', 'dyy')} AS corr_ppm
FROM p
"""


@register(
    "corr_matrix_metrics",
    category="stats",
    doc="Full pairwise Pearson correlation matrix over four line-item "
    "metrics (quantity, price cents, discount pct, tax pct) — the "
    "feature-correlation pass an ML pipeline runs before training. ONE "
    "map-side-combinable DECIMAL(38,0) moment aggregate produces every "
    "sum/square/cross-product in a single scan (no per-pair passes, no "
    "corr() x 6 rescans); the 6 pair rows unfold from that 1-row relation "
    "and canonicalize through the exact corrected-isqrt ppm path "
    "(with_corr_ppm) — no float quotient is hashed.",
    oracle=None,  # built below from the shared fragments
)
def corr_matrix_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    s = li.select(
        F.col("l_quantity").cast("bigint").alias("qty"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("price"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("bigint").alias("disc"),
        F.floor(F.col("l_tax") * 100 + F.lit(0.5)).cast("bigint").alias("tax"),
    )

    def d38(expr):
        return F.sum(expr.cast("decimal(38,0)"))

    aggs = [F.count(F.lit(1)).cast("decimal(38,0)").alias("n")]
    for name, _ in _CORR_COLS:
        aggs.append(d38(F.col(name)).alias(f"s_{name}"))
        aggs.append(d38(F.col(name) * F.col(name)).alias(f"q_{name}_{name}"))
    for a, b in _CORR_PAIRS:
        aggs.append(d38(F.col(a) * F.col(b)).alias(f"q_{a}_{b}"))
    m = s.agg(*aggs)

    c = F.col
    structs = [
        F.struct(
            F.lit(f"{a}_{b}").alias("pair"),
            (c("n") * c(f"q_{a}_{b}") - c(f"s_{a}") * c(f"s_{b}"))
            .cast("decimal(38,0)")
            .alias("num"),
            (c("n") * c(f"q_{a}_{a}") - c(f"s_{a}") * c(f"s_{a}"))
            .cast("decimal(38,0)")
            .alias("dxx"),
            (c("n") * c(f"q_{b}_{b}") - c(f"s_{b}") * c(f"s_{b}"))
            .cast("decimal(38,0)")
            .alias("dyy"),
        )
        for a, b in _CORR_PAIRS
    ]
    p = m.select(F.explode(F.array(*structs)).alias("x")).select("x.*")
    # num emits as a digit STRING — no DecimalType may reach a hashed
    # output schema (r5 driver decimal128 canonicalization gap).
    return with_corr_ppm(p, out="corr_ppm").select(
        "pair", F.col("num").cast("string").alias("num"), "corr_ppm"
    )


from wheels_in_motion_analytics_spark.registry import REGISTRY as _REGISTRY  # noqa: E402

_REGISTRY["corr_matrix_metrics"].oracle = _corr_matrix_oracle()


# --------------------------------------------------------------------------
# Poisson bootstrap confidence interval — the distributed bootstrap
# --------------------------------------------------------------------------

BOOTSTRAP_B = 32
# floor(P(Poisson(1) <= k) * 2^52) for k = 0..5 — exact integer literals so
# the replica weights are identical arithmetic on both engines; draws past
# the last threshold weight 6 (P ~ 6e-5).
_POIS_CDF_52 = [
    1656781714176974,
    3313563428353948,
    4141954285442435,
    4418084571138597,
    4487117142562638,
    4500923656847446,
]
_BS_SCALE = 2**52


def _bootstrap_oracle() -> str:
    w_terms = " + ".join(
        f"CASE WHEN draw52 >= {t} THEN 1 ELSE 0 END" for t in _POIS_CDF_52
    )
    return f"""
WITH o AS (
  SELECT o_orderkey AS okey,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
j AS (
  SELECT o.okey, o.cents, b.b,
         ('0x' || substr(md5('bs:' || CAST(o.okey AS VARCHAR) || ':'
                              || CAST(b.b AS VARCHAR)), 1, 13))::BIGINT AS draw52
  FROM o CROSS JOIN (SELECT CAST(b AS BIGINT) AS b FROM range(0, {BOOTSTRAP_B}) t(b)) b
),
wj AS (SELECT b, cents, {w_terms} AS w FROM j),
per AS (
  SELECT b, CAST(SUM(w) AS BIGINT) AS n_b,
         CAST(SUM(CAST(w AS BIGINT) * cents) AS BIGINT) AS s_b
  FROM wj GROUP BY b
),
means AS (
  SELECT b, CAST((CAST(s_b AS HUGEINT) * 10000) // n_b AS BIGINT) AS mean_scaled
  FROM per
),
ranked AS (
  SELECT mean_scaled,
         ROW_NUMBER() OVER (ORDER BY mean_scaled, b) AS r
  FROM means
),
ci AS (
  SELECT MAX(CASE WHEN r = 2 THEN mean_scaled END) AS ci_lo_scaled,
         MAX(CASE WHEN r = {BOOTSTRAP_B - 1} THEN mean_scaled END) AS ci_hi_scaled
  FROM ranked
),
pt AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST((CAST(SUM(cents) AS HUGEINT) * 10000) // COUNT(*) AS BIGINT)
           AS point_scaled
  FROM o
)
SELECT pt.n_orders, pt.point_scaled, ci.ci_lo_scaled, ci.ci_hi_scaled,
       CAST({BOOTSTRAP_B} AS BIGINT) AS n_replicas,
       ci.ci_lo_scaled <= pt.point_scaled
         AND pt.point_scaled <= ci.ci_hi_scaled AS ci_contains_point
FROM pt CROSS JOIN ci
"""


@register(
    "bootstrap_ci_revenue_poisson",
    category="stats",
    doc=f"Poisson bootstrap (the distributed bootstrap: every row draws an "
    f"independent Poisson(1) replication weight per replica — no global "
    f"resample pass, one linear scan per batch of replicas) over mean "
    f"order value, B={BOOTSTRAP_B} replicas in ONE map-side-combinable "
    "aggregate. FULLY EXACT: weights come from 52-bit md5 draws compared "
    "against frozen integer CDF thresholds, replica means are scaled "
    "integer floor-divisions, and the CI bounds are order statistics "
    "(ranks 2 and B-1 ~ a 94% interval) over the B-row mean relation — "
    "no floats anywhere. SCALE SHAPE: the replica fan-out is a broadcast "
    "crossJoin of a B-row relation (B*rows partial-agg pairs, map-side "
    "combined to B groups); the window runs on B rows.",
    oracle=None,  # built below
)
def bootstrap_ci_revenue_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.functions.similarity import hash_hex

    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias(
            "cents"
        ),
    )
    rep = spark.range(BOOTSTRAP_B).select(F.col("id").alias("b"))
    # the B-fold fan-out multiplies md5 work; spread the base relation
    # across the cluster BEFORE the fan-out or a single small input split
    # serializes B*rows hash computations onto one task
    fan = o.repartition(spark.sparkContext.defaultParallelism)
    j = fan.crossJoin(F.broadcast(rep)).withColumn(
        "draw52",
        hash_hex(
            F.concat(
                F.lit("bs:"),
                F.col("okey").cast("string"),
                F.lit(":"),
                F.col("b").cast("string"),
            ),
            13,
        ),
    )
    w = None
    for t in _POIS_CDF_52:
        term = (F.col("draw52") >= F.lit(t)).cast("int")
        w = term if w is None else w + term
    per = j.withColumn("w", w).groupBy("b").agg(
        F.sum("w").cast("bigint").alias("n_b"),
        F.sum(F.col("w").cast("bigint") * F.col("cents")).cast("bigint").alias("s_b"),
    )
    means = per.select(
        "b", F.expr("CAST((s_b * CAST(10000 AS BIGINT)) DIV n_b AS BIGINT)").alias("mean_scaled")
    )
    ranked = means.select(
        "mean_scaled",
        F.row_number()
        .over(Window.orderBy("mean_scaled", "b"))
        .alias("r"),
    )
    ci = ranked.agg(
        F.max(F.when(F.col("r") == 2, F.col("mean_scaled"))).alias("ci_lo_scaled"),
        F.max(
            F.when(F.col("r") == BOOTSTRAP_B - 1, F.col("mean_scaled"))
        ).alias("ci_hi_scaled"),
    )
    pt = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.expr(
            "CAST((CAST(SUM(cents) AS DECIMAL(38,0)) * 10000) DIV COUNT(*) AS BIGINT)"
        ).alias("point_scaled"),
    )
    return pt.crossJoin(ci).select(
        "n_orders",
        "point_scaled",
        "ci_lo_scaled",
        "ci_hi_scaled",
        F.lit(BOOTSTRAP_B).cast("bigint").alias("n_replicas"),
        (
            (F.col("ci_lo_scaled") <= F.col("point_scaled"))
            & (F.col("point_scaled") <= F.col("ci_hi_scaled"))
        ).alias("ci_contains_point"),
    )


_REGISTRY["bootstrap_ci_revenue_poisson"].oracle = _bootstrap_oracle()


# --------------------------------------------------------------------------
# Kaplan-Meier survival estimator (product-limit, log-space exact)
# --------------------------------------------------------------------------


@register(
    "kaplan_meier_ship_latency",
    category="stats",
    doc="Kaplan-Meier product-limit estimator of order time-to-first-ship: "
    "subjects = orders (duration = days to first lineitem ship), events = "
    "non-open orders, open orders are right-censored at their duration. "
    "Risk sets and event counts come from ONE duration-grain aggregate "
    "(the duration axis is calendar-bounded — tiny at any corpus size); "
    "the survival curve is emitted as log_survival = Σ round(ln(1 - "
    "d/n), 9) accumulated in DECIMAL(18,9) — the isolated-ln discipline "
    "(column_entropy_mi / psi_price_drift), so the hashed values are "
    "cross-engine exact; rows at/after a full-death time carry NULL "
    "(S = 0 exactly).",
    oracle="""
WITH per AS (
  SELECT o.o_orderkey,
         datediff('day', o.o_orderdate, MIN(l.l_shipdate)) AS dur,
         CASE WHEN o.o_orderstatus <> 'O' THEN 1 ELSE 0 END AS ev
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderstatus
),
grain AS (
  SELECT dur, CAST(SUM(ev) AS BIGINT) AS d,
         CAST(COUNT(*) - SUM(ev) AS BIGINT) AS c,
         COUNT(*) AS m
  FROM per GROUP BY dur
),
risk AS (
  SELECT dur, d, c,
         CAST((SELECT COUNT(*) FROM per)
              - COALESCE(SUM(m) OVER (ORDER BY dur
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS n_risk
  FROM grain
),
terms AS (
  SELECT dur, d, c, n_risk,
         CASE WHEN d = 0 THEN CAST(0 AS DECIMAL(18,9))
              WHEN d < n_risk THEN CAST(round(ln(1 - CAST(d AS DOUBLE) / n_risk), 9) AS DECIMAL(18,9))
              ELSE NULL END AS t,
         CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS dead
  FROM risk
)
SELECT dur AS dur_days, n_risk, d AS d_events, c AS c_censored,
       CASE WHEN MAX(dead) OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) = 1
            THEN NULL
            ELSE round(CAST(SUM(t) OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING)
                            AS DOUBLE), 6) END AS log_survival
FROM terms
""",
)
def kaplan_meier_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderstatus"
    )
    first_ship = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.min("l_shipdate").alias("ship"))
    )
    per = (
        o.join(first_ship, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.datediff(F.col("ship"), F.col("o_orderdate")).alias("dur"),
            (F.col("o_orderstatus") != "O").cast("int").alias("ev"),
        )
    )
    return kaplan_meier_curve(per)


def kaplan_meier_curve(per: DataFrame) -> DataFrame:
    """Reusable KM core over a (dur, ev) subject relation — the registry
    query applies it to order ship latency; property tests drive it with
    arbitrary censored samples."""
    grain = per.groupBy("dur").agg(
        F.sum("ev").cast("bigint").alias("d"),
        (F.count(F.lit(1)) - F.sum("ev")).cast("bigint").alias("c"),
        F.count(F.lit(1)).alias("m"),
    )
    tot = per.agg(F.count(F.lit(1)).alias("n_total"))
    # duration-grain windows: the axis is bounded by the latency calendar
    # (~hundreds of distinct day values), never by row count
    wp = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    wi = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    risk = grain.crossJoin(F.broadcast(tot)).select(
        "dur",
        "d",
        "c",
        (
            F.col("n_total") - F.coalesce(F.sum("m").over(wp), F.lit(0))
        )
        .cast("bigint")
        .alias("n_risk"),
    )
    term = (
        F.when(F.col("d") == 0, F.lit(0).cast("decimal(18,9)"))
        .when(
            F.col("d") < F.col("n_risk"),
            F.round(
                F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk")), 9
            ).cast("decimal(18,9)"),
        )
        .otherwise(F.lit(None).cast("decimal(18,9)"))
    )
    terms = risk.select(
        "dur",
        "d",
        "c",
        "n_risk",
        term.alias("t"),
        (F.col("d") >= F.col("n_risk")).cast("int").alias("dead"),
    )
    return terms.select(
        F.col("dur").alias("dur_days"),
        "n_risk",
        F.col("d").alias("d_events"),
        F.col("c").alias("c_censored"),
        F.when(F.max("dead").over(wi) == 1, F.lit(None).cast("double"))
        .otherwise(F.round(F.sum("t").over(wi).cast("double"), 6))
        .alias("log_survival"),
    )


# ---------------------------------------------------------------------------
# SPRT — Wald's sequential probability ratio test
# ---------------------------------------------------------------------------

# frozen nano-ln constants (H0: p=0.45 vs H1: p=0.55, alpha=beta=0.05) —
# computed ONCE in Python (Decimal half-up of math.log) and embedded as
# integer literals in BOTH engines: the query contains zero libm calls.
SPRT_L1_NANO = 200670695  # ln(p1/p0)
SPRT_L0_NANO = -200670695  # ln((1-p1)/(1-p0))
SPRT_A_NANO = 2944438979  # ln((1-beta)/alpha)  -> accept H1 at/above
SPRT_B_NANO = -2944438979  # ln(beta/(1-alpha)) -> accept H0 at/below


@register(
    "sprt_sequential_test",
    category="stats",
    doc="Wald's SPRT over the order stream in arrival order (orderdate, "
    "orderkey): H0 p=0.45 vs H1 p=0.55 on the fulfilled-order rate, "
    "log-likelihood increments and decision boundaries FROZEN as nano-ln "
    "integer literals (no libm call in the plan — the bootstrap/DP "
    "frozen-constant recipe), cumulative LLR via the TWO-PHASE exact "
    "prefix sum (never a single-task sort), first boundary crossing via "
    "one min(struct) aggregate. Emits the decision, the sample size at "
    "which the test stopped (the whole point of sequential testing — "
    "stop early), and the LLR at crossing and at stream end. The "
    "early-stopping A/B readout beside the fixed-horizon welch/cuped "
    "pair.",
    oracle=f"""
WITH s AS (
  SELECT o_orderkey AS k, o_orderdate AS d,
         CASE WHEN o_orderstatus = 'F'
              THEN CAST({SPRT_L1_NANO} AS BIGINT)
              ELSE CAST({SPRT_L0_NANO} AS BIGINT) END AS llr
  FROM orders
),
c AS (
  SELECT k,
         CAST(SUM(llr) OVER (ORDER BY d, k
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(ROW_NUMBER() OVER (ORDER BY d, k) AS BIGINT) AS rn
  FROM s
),
x AS (
  SELECT rn, cum FROM c
  WHERE cum >= {SPRT_A_NANO} OR cum <= {SPRT_B_NANO}
  ORDER BY rn LIMIT 1
),
fin AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
         CAST(SUM(llr) AS BIGINT) AS final_llr_nano
  FROM s
)
SELECT CASE WHEN x.rn IS NULL THEN 'continue'
            WHEN x.cum >= {SPRT_A_NANO} THEN 'accept_h1'
            ELSE 'accept_h0' END AS decision,
       x.rn AS stopped_at_n,
       x.cum AS llr_at_stop_nano,
       fin.n_total, fin.final_llr_nano
FROM fin LEFT JOIN x ON TRUE
""",
)
def sprt_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.operators.windows import global_prefix_sums

    c = F.col
    s = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderdate").alias("d"),
        F.when(F.col("o_orderstatus") == "F", F.lit(SPRT_L1_NANO))
        .otherwise(F.lit(SPRT_L0_NANO))
        .cast("bigint")
        .alias("llr"),
        F.lit(1).alias("one"),
    )
    pre = global_prefix_sums(s, ["d", "k"], ["llr", "one"])
    crossing = pre.where(
        (c("llr_cum") >= SPRT_A_NANO) | (c("llr_cum") <= SPRT_B_NANO)
    ).agg(
        F.min(
            F.struct(
                c("one_cum").cast("bigint").alias("rn"),
                c("llr_cum").cast("bigint").alias("cum"),
            )
        ).alias("x")
    )
    fin = s.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum("llr").cast("bigint").alias("final_llr_nano"),
    )
    return crossing.crossJoin(fin).select(
        F.when(c("x").isNull(), F.lit("continue"))
        .when(c("x.cum") >= SPRT_A_NANO, F.lit("accept_h1"))
        .otherwise(F.lit("accept_h0"))
        .alias("decision"),
        c("x.rn").alias("stopped_at_n"),
        c("x.cum").alias("llr_at_stop_nano"),
        "n_total",
        "final_llr_nano",
    )


# ---------------------------------------------------------------------------
# Wald–Wolfowitz runs test — nonparametric randomness check
# ---------------------------------------------------------------------------


@register(
    "runs_test_randomness",
    category="stats",
    doc="Wald–Wolfowitz runs test on daily revenue vs its median: days "
    "classify above/below the EXACT lower median (selected by the "
    "distributed histogram selection, rank_values — ties with the median "
    "drop, the standard "
    "treatment), the run count comes from one lag pass over the bounded "
    "day grain, and the normal-approximation verdict |z| > 1.96 is "
    "decided ENTIRELY in integers by cross-multiplication: "
    "(R*N - 2*n1*n2 - N)^2 * (N-1) * 10000 > 38416 * 2*n1*n2 * "
    "(2*n1*n2 - N), accumulated in DECIMAL(38,0). A rejected test means "
    "the series is trending/clustered (seasonality, drift) rather than "
    "random around its median — the sanity check before applying "
    "i.i.d.-assuming methods. No float anywhere.",
    oracle="""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
),
med AS (
  SELECT cents AS m FROM d ORDER BY cents
  LIMIT 1 OFFSET (SELECT (COUNT(*) + 1) // 2 - 1 FROM d)
),
s AS (
  SELECT day, CASE WHEN cents > m THEN 1 ELSE 0 END AS above
  FROM d CROSS JOIN med WHERE cents <> m
),
runs AS (
  SELECT above,
         CASE WHEN lag(above) OVER (ORDER BY day) IS NULL THEN 1
              WHEN lag(above) OVER (ORDER BY day) <> above THEN 1 ELSE 0 END AS startrun
  FROM s
),
agg AS (
  SELECT CAST(SUM(above) AS HUGEINT) AS n1,
         CAST(SUM(1 - above) AS HUGEINT) AS n2,
         CAST(SUM(startrun) AS HUGEINT) AS r
  FROM runs
)
SELECT CAST(n1 AS BIGINT) AS n_above,
       CAST(n2 AS BIGINT) AS n_below,
       CAST(r AS BIGINT) AS n_runs,
       CAST(r * (n1 + n2) - 2 * n1 * n2 - (n1 + n2) AS BIGINT) AS a_scaled,
       (r * (n1 + n2) - 2 * n1 * n2 - (n1 + n2))
         * (r * (n1 + n2) - 2 * n1 * n2 - (n1 + n2))
         * (n1 + n2 - 1) * 10000
         > 38416 * 2 * n1 * n2 * (2 * n1 * n2 - (n1 + n2)) AS reject_randomness
FROM agg
""",
)
def runs_test_randomness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from wheels_in_motion_analytics_spark.operators.windows import rank_values

    c = F.col
    d = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("cents")
        )
        .localCheckpoint()  # selection passes + the runs pass share it
    )
    vals, _n = rank_values(d, "cents", lambda n: [(n + 1) // 2])
    (m,) = vals.values()
    s = d.where(c("cents") != m).select(
        "day", (c("cents") > m).cast("int").alias("above")
    )
    # bounded day-grain window (same exemption as the calendar ops)
    w = W.orderBy("day")
    runs = s.select(
        "above",
        F.when(F.lag("above").over(w).isNull(), F.lit(1))
        .when(F.lag("above").over(w) != c("above"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("startrun"),
    )
    agg = runs.agg(
        F.sum("above").cast("decimal(38,0)").alias("n1"),
        F.sum(1 - c("above")).cast("decimal(38,0)").alias("n2"),
        F.sum("startrun").cast("decimal(38,0)").alias("r"),
    )
    a = "(r * (n1 + n2) - 2 * n1 * n2 - (n1 + n2))"
    return agg.select(
        c("n1").cast("bigint").alias("n_above"),
        c("n2").cast("bigint").alias("n_below"),
        c("r").cast("bigint").alias("n_runs"),
        F.expr(f"CAST({a} AS BIGINT)").alias("a_scaled"),
        F.expr(
            f"{a} * {a} * (n1 + n2 - 1) * 10000"
            " > 38416 * 2 * n1 * n2 * (2 * n1 * n2 - (n1 + n2))"
        ).alias("reject_randomness"),
    )


# ---------------------------------------------------------------------------
# Difference-in-differences — the panel causal estimator
# ---------------------------------------------------------------------------

DID_SPLIT = "1998-01-01"
DID_TREATED_REGION = "EUROPE"


@register(
    "did_estimator_regions",
    category="stats",
    doc=f"Difference-in-differences point estimate: treated = customers in "
    f"{DID_TREATED_REGION}, control = everyone else, periods split at "
    f"{DID_SPLIT}; outcome = mean order value. DiD = (treated_after - "
    "treated_before) - (control_after - control_before) on HALF-UP "
    "MILLI-CENT cell means — each of the four panel cells is one exact "
    "integer division, and the estimate is arithmetic over those four "
    "integers (deterministic on any engine, no float). ONE conditional "
    "aggregate over the star join (region dim broadcast). The canonical "
    "quasi-experimental readout beside the welch/cuped/sprt family.",
    oracle=f"""
WITH j AS (
  SELECT CASE WHEN r.r_name = '{DID_TREATED_REGION}' THEN 1 ELSE 0 END AS treated,
         CASE WHEN o.o_orderdate >= TIMESTAMP '{DID_SPLIT} 00:00:00' THEN 1 ELSE 0 END AS after,
         CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) * 1000 AS milli
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
),
cells AS (
  SELECT treated, after,
         CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(milli) AS HUGEINT) AS s
  FROM j GROUP BY treated, after
),
m AS (
  SELECT treated, after,
         CAST((2 * s + n) // (2 * n) AS BIGINT) AS mean_milli,
         CAST(n AS BIGINT) AS n_rows
  FROM cells
)
SELECT t1.mean_milli AS treated_after_milli,
       t0.mean_milli AS treated_before_milli,
       c1.mean_milli AS control_after_milli,
       c0.mean_milli AS control_before_milli,
       t1.n_rows + t0.n_rows AS n_treated,
       c1.n_rows + c0.n_rows AS n_control,
       (t1.mean_milli - t0.mean_milli) - (c1.mean_milli - c0.mean_milli)
         AS did_milli
FROM (SELECT * FROM m WHERE treated = 1 AND after = 1) t1,
     (SELECT * FROM m WHERE treated = 1 AND after = 0) t0,
     (SELECT * FROM m WHERE treated = 0 AND after = 1) c1,
     (SELECT * FROM m WHERE treated = 0 AND after = 0) c0
""",
)
def did_estimator_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.col("o_orderdate") >= F.lit(f"{DID_SPLIT} 00:00:00").cast("timestamp"))
        .cast("int")
        .alias("after"),
        (F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint") * 1000).alias(
            "milli"
        ),
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    reg = table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    j = (
        o.join(cust, c("o_custkey") == c("c_custkey"))
        .join(F.broadcast(nat), c("c_nationkey") == c("n_nationkey"))
        .join(F.broadcast(reg), c("n_regionkey") == c("r_regionkey"))
        .select(
            (c("r_name") == DID_TREATED_REGION).cast("int").alias("treated"),
            "after",
            "milli",
        )
    )
    cells = j.groupBy("treated", "after").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("milli").cast("decimal(38,0)").alias("s"),
    )
    m = cells.select(
        "treated",
        "after",
        F.expr("CAST((2 * s + n) DIV (2 * n) AS BIGINT)").alias("mean_milli"),
        c("n").cast("bigint").alias("n_rows"),
    )

    def cell(t: int, a: int, prefix: str) -> DataFrame:
        return m.where((c("treated") == t) & (c("after") == a)).select(
            c("mean_milli").alias(f"{prefix}_milli"), c("n_rows").alias(f"{prefix}_n")
        )

    t1, t0 = cell(1, 1, "treated_after"), cell(1, 0, "treated_before")
    c1, c0 = cell(0, 1, "control_after"), cell(0, 0, "control_before")
    return (
        t1.crossJoin(t0)
        .crossJoin(c1)
        .crossJoin(c0)
        .select(
            "treated_after_milli",
            "treated_before_milli",
            "control_after_milli",
            "control_before_milli",
            (c("treated_after_n") + c("treated_before_n")).alias("n_treated"),
            (c("control_after_n") + c("control_before_n")).alias("n_control"),
            (
                (c("treated_after_milli") - c("treated_before_milli"))
                - (c("control_after_milli") - c("control_before_milli"))
            ).alias("did_milli"),
        )
    )


# ---------------------------------------------------------------------------
# Kruskal–Wallis H — k-group rank ANOVA on the two-phase rank machinery
# ---------------------------------------------------------------------------

_KW_GROUPS = ["urgent", "high", "medium", "notspec", "low"]  # priority 1..5


@register(
    "kruskal_wallis_priority",
    category="stats",
    doc="Kruskal–Wallis H test: do order totals differ across the five "
    "order priorities? The k-group generalization of "
    "mann_whitney_u_prices on the SAME scale shape: values aggregate to "
    "the distinct-value relation, exclusive cumulative counts come from "
    "the TWO-PHASE prefix sum (no single-task window over the "
    "nearly-unique prices), and per-group rank sums use exact DOUBLED "
    "average ranks (2*cum_before + t + 1, an integer even under ties). "
    "H is then evaluated ENTIRELY on a deterministic integer micro-grid: "
    "per-group micro mean doubled ranks via half-up DIV, squared "
    "deviations from the exact grand mean doubled rank (N+1), tie "
    "correction as a ppm factor. Every DIV quotient fits BIGINT and "
    "every DECIMAL(38,0) intermediate stays under 38 digits past sf100 "
    "(the round-6 DIV-wrap trap is sized out: mean-rank micro ≤ 2N*1e6, "
    "S ≤ N*(2N*1e6)^2 ≈ 1e36 at sf100). Verdict: H_micro > 9487729 "
    "(chi-square 0.05 critical, df=4) — grid-deterministic on any "
    "engine.",
    oracle="""
WITH s AS (
  SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v,
         CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS g
  FROM orders
),
vals AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS n_tot,
         CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         CAST(SUM(CASE WHEN g = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
         CAST(SUM(CASE WHEN g = 4 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
         CAST(SUM(CASE WHEN g = 5 THEN 1 ELSE 0 END) AS BIGINT) AS c5
  FROM s GROUP BY v
),
cum AS (
  SELECT *, CAST(COALESCE(SUM(n_tot) OVER (ORDER BY v
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
    AS cum_before
  FROM vals
),
agg AS (
  SELECT CAST(SUM(n_tot) AS HUGEINT) AS n,
         CAST(SUM(n_tot * n_tot * n_tot - n_tot) AS HUGEINT) AS t,
         CAST(SUM(c1 * (2 * cum_before + n_tot + 1)) AS HUGEINT) AS r2_1,
         CAST(SUM(c2 * (2 * cum_before + n_tot + 1)) AS HUGEINT) AS r2_2,
         CAST(SUM(c3 * (2 * cum_before + n_tot + 1)) AS HUGEINT) AS r2_3,
         CAST(SUM(c4 * (2 * cum_before + n_tot + 1)) AS HUGEINT) AS r2_4,
         CAST(SUM(c5 * (2 * cum_before + n_tot + 1)) AS HUGEINT) AS r2_5,
         CAST(SUM(c1) AS HUGEINT) AS n_1, CAST(SUM(c2) AS HUGEINT) AS n_2,
         CAST(SUM(c3) AS HUGEINT) AS n_3, CAST(SUM(c4) AS HUGEINT) AS n_4,
         CAST(SUM(c5) AS HUGEINT) AS n_5
  FROM cum
),
dev AS (
  SELECT *,
    (2 * r2_1 * 1000000 + n_1) // (2 * n_1) - (n + 1) * 1000000 AS d1,
    (2 * r2_2 * 1000000 + n_2) // (2 * n_2) - (n + 1) * 1000000 AS d2,
    (2 * r2_3 * 1000000 + n_3) // (2 * n_3) - (n + 1) * 1000000 AS d3,
    (2 * r2_4 * 1000000 + n_4) // (2 * n_4) - (n + 1) * 1000000 AS d4,
    (2 * r2_5 * 1000000 + n_5) // (2 * n_5) - (n + 1) * 1000000 AS d5
  FROM agg
),
h AS (
  SELECT *,
    (3 * (n_1*d1*d1 + n_2*d2*d2 + n_3*d3*d3 + n_4*d4*d4 + n_5*d5*d5))
      // (n * (n + 1) * 1000) AS h0_nano,
    ((n*n*n - n) * 1000000) // ((n*n*n - n) - t) AS tf_ppm
  FROM dev
)
SELECT CAST(n AS BIGINT) AS n_total,
       CAST(t AS BIGINT) AS ties_t,
       CAST(n_1 AS BIGINT) AS n_urgent, CAST(n_2 AS BIGINT) AS n_high,
       CAST(n_3 AS BIGINT) AS n_medium, CAST(n_4 AS BIGINT) AS n_notspec,
       CAST(n_5 AS BIGINT) AS n_low,
       CAST(r2_1 AS BIGINT) AS r2_urgent, CAST(r2_2 AS BIGINT) AS r2_high,
       CAST(r2_3 AS BIGINT) AS r2_medium, CAST(r2_4 AS BIGINT) AS r2_notspec,
       CAST(r2_5 AS BIGINT) AS r2_low,
       CAST((h0_nano * tf_ppm) // 1000000000 AS BIGINT) AS h_micro,
       (h0_nano * tf_ppm) // 1000000000 > 9487729 AS reject_equal_dists
FROM h
""",
)
def kruskal_wallis_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.operators.windows import global_prefix_sums

    c = F.col
    s = table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
        F.substring("o_orderpriority", 1, 1).cast("int").alias("g"),
    )
    vals = s.groupBy("v").agg(
        F.count(F.lit(1)).alias("n_tot"),
        *[
            F.sum((c("g") == i + 1).cast("bigint")).alias(f"c{i + 1}")
            for i in range(5)
        ],
    )
    cum = global_prefix_sums(vals, ["v"], ["n_tot"]).withColumn(
        "cum_before", c("n_tot_cum") - c("n_tot")
    )
    dr = 2 * c("cum_before") + c("n_tot") + 1
    agg = cum.agg(
        F.sum("n_tot").cast("decimal(38,0)").alias("n"),
        F.sum(
            c("n_tot") * c("n_tot") * c("n_tot") - c("n_tot")
        ).cast("decimal(38,0)").alias("t"),
        *[
            F.sum(c(f"c{i + 1}") * dr).cast("decimal(38,0)").alias(f"r2_{i + 1}")
            for i in range(5)
        ],
        *[
            F.sum(f"c{i + 1}").cast("decimal(38,0)").alias(f"n_{i + 1}")
            for i in range(5)
        ],
    )
    # micro mean doubled rank (half-up DIV -> BIGINT quotient, <= 2N*1e6)
    # minus the exact grand mean doubled rank (N+1) in micro.
    dev = agg.select(
        "*",
        *[
            F.expr(
                f"(2 * r2_{i + 1} * 1000000 + n_{i + 1}) DIV (2 * n_{i + 1})"
                " - CAST((n + 1) * 1000000 AS BIGINT)"
            ).alias(f"d{i + 1}")
            for i in range(5)
        ],
    )
    sdev = " + ".join(
        f"n_{i + 1} * CAST(d{i + 1} AS DECIMAL(38,0)) * d{i + 1}"
        for i in range(5)
    )
    h = dev.select(
        "*",
        F.expr(f"(3 * ({sdev})) DIV (n * (n + 1) * 1000)").alias("h0_nano"),
        F.expr("((n*n*n - n) * 1000000) DIV ((n*n*n - n) - t)").alias("tf_ppm"),
    )
    return h.select(
        c("n").cast("bigint").alias("n_total"),
        c("t").cast("bigint").alias("ties_t"),
        *[
            c(f"n_{i + 1}").cast("bigint").alias(f"n_{g}")
            for i, g in enumerate(_KW_GROUPS)
        ],
        *[
            c(f"r2_{i + 1}").cast("bigint").alias(f"r2_{g}")
            for i, g in enumerate(_KW_GROUPS)
        ],
        F.expr(
            "CAST((CAST(h0_nano AS DECIMAL(38,0)) * tf_ppm)"
            " DIV 1000000000 AS BIGINT)"
        ).alias("h_micro"),
        F.expr(
            "(CAST(h0_nano AS DECIMAL(38,0)) * tf_ppm) DIV 1000000000"
            " > 9487729"
        ).alias("reject_equal_dists"),
    )


# ---------------------------------------------------------------------------
# Bivariate Kendall tau-b — concordance between two daily series
# ---------------------------------------------------------------------------


@register(
    "kendall_tau_daily",
    category="stats",
    doc="Bivariate Kendall tau-b between daily order COUNT and daily "
    "revenue — completes the correlation family (Pearson matrix, "
    "Spearman, Mann–Kendall-vs-time) with the concordance coefficient "
    "that handles ties on BOTH variables. SCALE SHAPE: the fact table "
    "aggregates to the CALENDAR-BOUNDED day grain first (<= ~2.4k rows "
    "at any SF), so the pair relation is ~2.9M rows regardless of data "
    "scale — same sanctioned shape as mann_kendall/theil_sen. "
    "Concordant/discordant/tie pair counts are exact BIGINTs from one "
    "aggregate over the ordered-pair join; tau_b = (C-D)/sqrt((n0-Tx)"
    "(n0-Ty)) goes through the shared corrected-isqrt ppm path "
    "(with_corr_ppm) — no float quotient reaches the output.",
    oracle="""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS x,
         SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS y
  FROM orders GROUP BY 1
),
p AS (
  SELECT
    CAST(SUM(CASE WHEN (b.x - a.x) * (b.y - a.y) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS conc,
    CAST(SUM(CASE WHEN (b.x - a.x) * (b.y - a.y) < 0 THEN 1 ELSE 0 END) AS BIGINT) AS disc,
    CAST(SUM(CASE WHEN b.x = a.x THEN 1 ELSE 0 END) AS BIGINT) AS tied_x,
    CAST(SUM(CASE WHEN b.y = a.y THEN 1 ELSE 0 END) AS BIGINT) AS tied_y,
    CAST(COUNT(*) AS BIGINT) AS n0
  FROM d a JOIN d b ON b.day > a.day
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM d),
m AS (
  SELECT n.n_days, p.conc, p.disc, p.tied_x, p.tied_y,
         CAST(p.conc - p.disc AS HUGEINT) AS num,
         CAST(p.n0 - p.tied_x AS HUGEINT) AS dxx,
         CAST(p.n0 - p.tied_y AS HUGEINT) AS dyy
  FROM n CROSS JOIN p
)
SELECT n_days, conc AS concordant, disc AS discordant, tied_x, tied_y,
       {CORR} AS tau_b_ppm
FROM m
""",
)
def kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    d = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("x"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("y"),
        )
        .localCheckpoint()  # reused by the pair join and the day count
    )
    a = d.select(c("day").alias("da"), c("x").alias("xa"), c("y").alias("ya"))
    b = d.select(c("day").alias("db"), c("x").alias("xb"), c("y").alias("yb"))
    p = (
        a.crossJoin(b)
        .where(c("db") > c("da"))
        .agg(
            F.sum(
                ((c("xb") - c("xa")) * (c("yb") - c("ya")) > 0).cast("bigint")
            ).alias("conc"),
            F.sum(
                ((c("xb") - c("xa")) * (c("yb") - c("ya")) < 0).cast("bigint")
            ).alias("disc"),
            F.sum((c("xb") == c("xa")).cast("bigint")).alias("tied_x"),
            F.sum((c("yb") == c("ya")).cast("bigint")).alias("tied_y"),
            F.count(F.lit(1)).cast("bigint").alias("n0"),
        )
    )
    n = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    m = n.crossJoin(p).select(
        "n_days",
        c("conc").alias("concordant"),
        c("disc").alias("discordant"),
        "tied_x",
        "tied_y",
        (c("conc") - c("disc")).cast("decimal(38,0)").alias("num"),
        (c("n0") - c("tied_x")).cast("decimal(38,0)").alias("dxx"),
        (c("n0") - c("tied_y")).cast("decimal(38,0)").alias("dyy"),
    )
    return with_corr_ppm(m, out="tau_b_ppm").select(
        "n_days", "concordant", "discordant", "tied_x", "tied_y", "tau_b_ppm"
    )


from wheels_in_motion_analytics_spark.registry import REGISTRY as _REG_KT  # noqa: E402

_REG_KT["kendall_tau_daily"].oracle = _REG_KT["kendall_tau_daily"].oracle.replace(
    "{CORR}", corr_ppm_sql("num", "dxx", "dyy")
)


# ---------------------------------------------------------------------------
# McNemar's paired test — do two binary classifiers disagree systematically?
# ---------------------------------------------------------------------------


@register(
    "mcnemar_paired_classifiers",
    category="stats",
    doc="McNemar's test on PAIRED binary predictions over the same rows: "
    "classifier A = 'order total above the global mean' (threshold as "
    "exact cross-multiplication cents*n > sum_cents, no float mean), "
    "classifier B = 'order status F'. The 2x2 concordance cells land in "
    "ONE map-side-combinable conditional aggregate after a 1-row "
    "broadcast; the continuity-corrected statistic (|b-c|-1)^2/(b+c) "
    "> 3.8416 is decided ENTIRELY by integer cross-multiplication "
    "((|b-c|-1)^2 * 10000 > 38416 * (b+c)), and chi2_milli is a half-up "
    "integer division — float-free, engine-identical. The paired sibling "
    "of classification_threshold_metrics.",
    oracle="""
WITH src AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS b_pred
  FROM orders
),
g AS (SELECT CAST(SUM(cents) AS HUGEINT) AS s, CAST(COUNT(*) AS HUGEINT) AS n FROM src),
cells AS (
  SELECT
    CAST(COUNT(*) FILTER (WHERE cents * n > s AND b_pred = 1) AS HUGEINT) AS n11,
    CAST(COUNT(*) FILTER (WHERE cents * n > s AND b_pred = 0) AS HUGEINT) AS n10,
    CAST(COUNT(*) FILTER (WHERE cents * n <= s AND b_pred = 1) AS HUGEINT) AS n01,
    CAST(COUNT(*) FILTER (WHERE cents * n <= s AND b_pred = 0) AS HUGEINT) AS n00
  FROM src CROSS JOIN g
)
SELECT CAST(n11 AS BIGINT) AS both_pos,
       CAST(n10 AS BIGINT) AS only_a,
       CAST(n01 AS BIGINT) AS only_b,
       CAST(n00 AS BIGINT) AS both_neg,
       CAST((2000 * (abs(n10 - n01) - 1) * (abs(n10 - n01) - 1) + (n10 + n01))
            // (2 * (n10 + n01)) AS BIGINT) AS chi2_milli,
       (abs(n10 - n01) - 1) * (abs(n10 - n01) - 1) * 10000
         > 38416 * (n10 + n01) AS reject_marginal_homogeneity
FROM cells
""",
)
def mcnemar_paired_classifiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    src = table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        (F.col("o_orderstatus") == "F").cast("int").alias("b_pred"),
    )
    g = src.agg(
        F.sum("cents").cast("decimal(38,0)").alias("s"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
    )
    a_pos = c("cents") * c("n") > c("s")
    cells = src.crossJoin(F.broadcast(g)).agg(
        F.sum((a_pos & (c("b_pred") == 1)).cast("bigint"))
        .cast("decimal(38,0)")
        .alias("n11"),
        F.sum((a_pos & (c("b_pred") == 0)).cast("bigint"))
        .cast("decimal(38,0)")
        .alias("n10"),
        F.sum((~a_pos & (c("b_pred") == 1)).cast("bigint"))
        .cast("decimal(38,0)")
        .alias("n01"),
        F.sum((~a_pos & (c("b_pred") == 0)).cast("bigint"))
        .cast("decimal(38,0)")
        .alias("n00"),
    )
    return cells.select(
        c("n11").cast("bigint").alias("both_pos"),
        c("n10").cast("bigint").alias("only_a"),
        c("n01").cast("bigint").alias("only_b"),
        c("n00").cast("bigint").alias("both_neg"),
        F.expr(
            "CAST((2000 * (abs(n10 - n01) - 1) * (abs(n10 - n01) - 1)"
            " + (n10 + n01)) DIV (2 * (n10 + n01)) AS BIGINT)"
        ).alias("chi2_milli"),
        F.expr(
            "(abs(n10 - n01) - 1) * (abs(n10 - n01) - 1) * 10000"
            " > 38416 * (n10 + n01)"
        ).alias("reject_marginal_homogeneity"),
    )


# ---------------------------------------------------------------------------
# Jonckheere–Terpstra — ordered-alternative trend across the priority groups
# ---------------------------------------------------------------------------


@register(
    "jonckheere_terpstra_trend",
    category="stats",
    doc="Jonckheere–Terpstra test for an ORDERED alternative (do order "
    "totals trend monotonically across priorities 1-URGENT .. 5-LOW?) — "
    "the directional sibling of kruskal_wallis_priority, strictly more "
    "powerful when the alternative is a trend. J = sum of pairwise "
    "Mann-Whitney counts over the 10 ordered group pairs, computed "
    "EXACTLY from the distinct-value relation + per-group TWO-PHASE "
    "prefix sums (doubled counting keeps tie halves integral: "
    "2J = sum_v sum_{j<k} 2*c_k(v)*cumj_before(v) + c_j(v)*c_k(v)). "
    "Null moments are exact integers: D = 4(J - mu) = 2*(2J) - "
    "(N^2 - sum n_i^2); the no-tie variance numerator 72*Var = "
    "N^2(2N+3) - sum n_i^2(2n_i+3) emits as a DIGIT STRING (exceeds "
    "BIGINT past ~sf1 — the decimal lesson), and the 5% verdict is pure "
    "cross-multiplication D^2*9*10000 > 2*38416*var72 sized to stay "
    "inside DECIMAL(38,0) at sf100. Prices are nearly unique so the "
    "no-tie variance is the standard treatment; the statistic itself "
    "handles ties exactly.",
    oracle="""
WITH s AS (
  SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v,
         CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS g
  FROM orders
),
vals AS (
  SELECT v,
         CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         CAST(SUM(CASE WHEN g = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
         CAST(SUM(CASE WHEN g = 4 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
         CAST(SUM(CASE WHEN g = 5 THEN 1 ELSE 0 END) AS BIGINT) AS c5
  FROM s GROUP BY v
),
cum AS (
  SELECT *,
    CAST(COALESCE(SUM(c1) OVER w, 0) AS HUGEINT) AS b1,
    CAST(COALESCE(SUM(c2) OVER w, 0) AS HUGEINT) AS b2,
    CAST(COALESCE(SUM(c3) OVER w, 0) AS HUGEINT) AS b3,
    CAST(COALESCE(SUM(c4) OVER w, 0) AS HUGEINT) AS b4,
    CAST(COALESCE(SUM(c5) OVER w, 0) AS HUGEINT) AS b5
  FROM vals
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
agg AS (
  SELECT
    CAST(SUM(c1) AS HUGEINT) AS n1, CAST(SUM(c2) AS HUGEINT) AS n2,
    CAST(SUM(c3) AS HUGEINT) AS n3, CAST(SUM(c4) AS HUGEINT) AS n4,
    CAST(SUM(c5) AS HUGEINT) AS n5,
    CAST(SUM(
        2*c2*b1 + c1*c2 + 2*c3*b1 + c1*c3 + 2*c4*b1 + c1*c4 + 2*c5*b1 + c1*c5
      + 2*c3*b2 + c2*c3 + 2*c4*b2 + c2*c4 + 2*c5*b2 + c2*c5
      + 2*c4*b3 + c3*c4 + 2*c5*b3 + c3*c5
      + 2*c5*b4 + c4*c5) AS HUGEINT) AS j2
  FROM cum
),
m AS (
  SELECT *, n1 + n2 + n3 + n4 + n5 AS n,
         n1*n1 + n2*n2 + n3*n3 + n4*n4 + n5*n5 AS sq,
         n1*n1*(2*n1+3) + n2*n2*(2*n2+3) + n3*n3*(2*n3+3)
           + n4*n4*(2*n4+3) + n5*n5*(2*n5+3) AS sq3
  FROM agg
),
f AS (
  SELECT n, j2, 2 * j2 - (n * n - sq) AS d,
         n * n * (2 * n + 3) - sq3 AS var72
  FROM m
)
SELECT CAST(n AS BIGINT) AS n_total,
       CAST(j2 AS BIGINT) AS jt_2j,
       CAST(d AS BIGINT) AS d_scaled,
       CAST(var72 AS VARCHAR) AS var72,
       d * d * 90000 > 2 * 38416 * var72 AS trend_significant
FROM f
""",
)
def jonckheere_terpstra_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.operators.windows import global_prefix_sums

    c = F.col
    s = table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
        F.substring("o_orderpriority", 1, 1).cast("int").alias("g"),
    )
    vals = s.groupBy("v").agg(
        *[
            F.sum((c("g") == i + 1).cast("bigint")).alias(f"c{i + 1}")
            for i in range(5)
        ],
    )
    cum = global_prefix_sums(vals, ["v"], [f"c{i + 1}" for i in range(5)])
    for i in range(5):
        cum = cum.withColumn(f"b{i + 1}", c(f"c{i + 1}_cum") - c(f"c{i + 1}"))
    pair_terms = " + ".join(
        f"2*c{k}*CAST(b{j} AS DECIMAL(38,0)) + CAST(c{j} AS DECIMAL(38,0))*c{k}"
        for j in range(1, 6)
        for k in range(j + 1, 6)
    )
    agg = cum.agg(
        *[F.sum(f"c{i + 1}").cast("decimal(38,0)").alias(f"n{i + 1}") for i in range(5)],
        F.expr(f"CAST(SUM({pair_terms}) AS DECIMAL(38,0))").alias("j2"),
    )
    m = agg.select(
        "*",
        F.expr("n1 + n2 + n3 + n4 + n5").alias("n"),
        F.expr("n1*n1 + n2*n2 + n3*n3 + n4*n4 + n5*n5").alias("sq"),
        F.expr(
            "n1*n1*(2*n1+3) + n2*n2*(2*n2+3) + n3*n3*(2*n3+3)"
            " + n4*n4*(2*n4+3) + n5*n5*(2*n5+3)"
        ).alias("sq3"),
    )
    f = m.select(
        "n",
        "j2",
        F.expr("2 * j2 - (n * n - sq)").alias("d"),
        F.expr("n * n * (2 * n + 3) - sq3").alias("var72"),
    )
    return f.select(
        c("n").cast("bigint").alias("n_total"),
        c("j2").cast("bigint").alias("jt_2j"),
        c("d").cast("bigint").alias("d_scaled"),
        c("var72").cast("string").alias("var72"),
        F.expr("d * d * 90000 > 2 * 38416 * var72").alias("trend_significant"),
    )


# ---------------------------------------------------------------------------
# Sample-ratio-mismatch guardrail — the first check of any A/B readout
# ---------------------------------------------------------------------------


@register(
    "ab_srm_check",
    category="stats",
    doc="Sample-ratio-mismatch (SRM) guardrail over the experiment "
    "family's md5 assignment convention: two designs audited in one "
    "pass — the 50/50 parity split ('arm:' || custkey, the cuped "
    "assignment) and a 90/10 holdout split (md5 % 10 == 0). The "
    "chi-square goodness-of-fit against the intended ratio reduces to "
    "pure integers: 50/50: chi2 = (n0-n1)^2/N; 90/10: chi2 = "
    "(10*nB-N)^2/(9N) — both the 5% verdict (cross-multiplied vs "
    "3.8416) and chi2_milli (half-up DIV) are exact deterministic "
    "integers. One conditional aggregate over customers; an SRM hit "
    "means the assignment/logging pipeline is broken and every "
    "downstream lift number is invalid.",
    oracle="""
WITH a AS (
  SELECT ('0x' || substr(md5('arm:' || CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT
           AS h
  FROM customer
),
agg AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(CASE WHEN h % 2 = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS n_even,
         CAST(SUM(CASE WHEN h % 10 = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS n_hold
  FROM a
)
SELECT '50_50' AS design,
       CAST(n_even AS BIGINT) AS n_a,
       CAST(n - n_even AS BIGINT) AS n_b,
       CAST((2000 * (2*n_even - n) * (2*n_even - n) + n) // (2 * n) AS BIGINT)
         AS chi2_milli,
       (2*n_even - n) * (2*n_even - n) * 10000 > 38416 * n AS srm_detected
FROM agg
UNION ALL
SELECT '90_10',
       CAST(n - n_hold AS BIGINT),
       CAST(n_hold AS BIGINT),
       CAST((2000 * (10*n_hold - n) * (10*n_hold - n) + 9 * n) // (2 * 9 * n)
            AS BIGINT),
       (10*n_hold - n) * (10*n_hold - n) * 10000 > 38416 * 9 * n
FROM agg
""",
)
def ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.functions.similarity import hash_hex

    c = F.col
    a = table(spark, sf_dir, "customer").select(
        hash_hex(
            F.concat(F.lit("arm:"), F.col("c_custkey").cast("string")), 15
        ).alias("h")
    )
    agg = a.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum((c("h") % 2 == 0).cast("bigint")).cast("decimal(38,0)").alias("n_even"),
        F.sum((c("h") % 10 == 0).cast("bigint")).cast("decimal(38,0)").alias("n_hold"),
    ).localCheckpoint()  # 1 row, two design arms read it
    d5050 = agg.select(
        F.lit("50_50").alias("design"),
        c("n_even").cast("bigint").alias("n_a"),
        (c("n") - c("n_even")).cast("bigint").alias("n_b"),
        F.expr(
            "CAST((2000 * (2*n_even - n) * (2*n_even - n) + n)"
            " DIV (2 * n) AS BIGINT)"
        ).alias("chi2_milli"),
        F.expr(
            "(2*n_even - n) * (2*n_even - n) * 10000 > 38416 * n"
        ).alias("srm_detected"),
    )
    d9010 = agg.select(
        F.lit("90_10").alias("design"),
        (c("n") - c("n_hold")).cast("bigint").alias("n_a"),
        c("n_hold").cast("bigint").alias("n_b"),
        F.expr(
            "CAST((2000 * (10*n_hold - n) * (10*n_hold - n) + 9 * n)"
            " DIV (2 * 9 * n) AS BIGINT)"
        ).alias("chi2_milli"),
        F.expr(
            "(10*n_hold - n) * (10*n_hold - n) * 10000 > 38416 * 9 * n"
        ).alias("srm_detected"),
    )
    return d5050.unionAll(d9010)


# ---------------------------------------------------------------------------
# Caliper matching — nearest-neighbor covariate matching (PSM shape)
# ---------------------------------------------------------------------------

PSM_TREATED_SEGMENT = "AUTOMOBILE"
PSM_CALIPER_CENTS = 500
_PSM_OFFSET = 100_000  # c_acctbal >= -999.99 -> offset keeps buckets positive


@register(
    "psm_caliper_matching",
    category="stats",
    doc=f"Caliper nearest-neighbor matching (the propensity-score-matching "
    f"shape): treated = {PSM_TREATED_SEGMENT} customers, control = the "
    "rest, covariate = account balance, caliper = "
    f"{PSM_CALIPER_CENTS} cents, 1-NN WITH replacement, deterministic "
    "tiebreak (|gap| asc, control key asc) via min(struct). SCALE "
    "SHAPE: the banded-bucket rewrite — balances bucket into "
    "caliper-sided cells (offset first: negative balances would hit the "
    "Spark-DIV-truncates vs DuckDB-//-floors divergence), treated rows "
    "probe their own + adjacent buckets, so candidate generation is an "
    "equi-join on bucket id (lossless for gap <= cell side), NEVER the "
    "quadratic cross join (that is the oracle's job). Outcome = "
    "customer lifetime revenue cents; ATT emits as sign * half-up "
    "milli-cents on the POSITIVE operand (negative-numerator floor "
    "division is not portable). The matching estimator beside "
    "did/cuped/sprt/srm.",
    oracle=f"""
WITH cust AS (
  SELECT c_custkey AS k,
         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) + {_PSM_OFFSET} AS bal,
         CASE WHEN c_mktsegment = '{PSM_TREATED_SEGMENT}' THEN 1 ELSE 0 END AS treated
  FROM customer
),
rev AS (
  SELECT o_custkey AS k,
         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
pts AS (
  SELECT cust.k, cust.bal, cust.treated, COALESCE(rev.cents, 0) AS outcome
  FROM cust LEFT JOIN rev USING (k)
),
pairs AS (
  SELECT t.k AS tk, t.outcome AS t_out,
         c.k AS ck, c.outcome AS c_out,
         abs(t.bal - c.bal) AS gap
  FROM pts t JOIN pts c
    ON t.treated = 1 AND c.treated = 0
   AND abs(t.bal - c.bal) <= {PSM_CALIPER_CENTS}
),
best AS (
  SELECT tk, MIN(struct_pack(gap := gap, ck := ck)) AS pick
  FROM pairs GROUP BY tk
),
matched AS (
  SELECT p.tk, p.t_out, p.c_out, p.gap
  FROM pairs p JOIN best b
    ON b.tk = p.tk AND p.gap = b.pick.gap AND p.ck = b.pick.ck
),
s AS (
  SELECT CAST((SELECT COUNT(*) FROM pts WHERE treated = 1) AS HUGEINT) AS n_treated,
         CAST((SELECT COUNT(*) FROM pts WHERE treated = 0) AS HUGEINT) AS n_control,
         CAST(COUNT(*) AS HUGEINT) AS n_matched,
         CAST(SUM(t_out - c_out) AS HUGEINT) AS sum_diff,
         CAST(SUM(gap) AS HUGEINT) AS sum_gap
  FROM matched
)
SELECT CAST(n_treated AS BIGINT) AS n_treated,
       CAST(n_control AS BIGINT) AS n_control,
       CAST(n_matched AS BIGINT) AS n_matched,
       CAST(sum_diff AS BIGINT) AS sum_diff_cents,
       CAST((CASE WHEN sum_diff < 0 THEN -1 ELSE 1 END)
            * ((2000 * abs(sum_diff) + n_matched) // (2 * n_matched))
            AS BIGINT) AS att_milli_cents,
       CAST((2000 * sum_gap + n_matched) // (2 * n_matched) AS BIGINT)
         AS mean_gap_milli
FROM s
""",
)
def psm_caliper_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    cust = table(spark, sf_dir, "customer").select(
        c("c_custkey").alias("k"),
        (
            F.floor(c("c_acctbal") * 100 + F.lit(0.5)).cast("bigint")
            + F.lit(_PSM_OFFSET)
        ).alias("bal"),
        (c("c_mktsegment") == PSM_TREATED_SEGMENT).cast("int").alias("treated"),
    )
    rev = (
        table(spark, sf_dir, "orders")
        .groupBy(c("o_custkey").alias("k"))
        .agg(
            F.sum(
                F.floor(c("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("cents")
        )
    )
    pts = cust.join(rev, "k", "left").select(
        "k", "bal", "treated", F.coalesce(c("cents"), F.lit(0)).alias("outcome")
    ).localCheckpoint()  # treated probes, control targets, census all read it
    ctrl = pts.where(c("treated") == 0).select(
        c("k").alias("ck"),
        c("bal").alias("cbal"),
        c("outcome").alias("c_out"),
        F.expr(f"bal DIV {PSM_CALIPER_CENTS}").alias("bucket"),
    )
    toff = pts.where(c("treated") == 1).select(
        c("k").alias("tk"),
        c("bal").alias("tbal"),
        c("outcome").alias("t_out"),
        F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("d"),
    ).select(
        "tk",
        "tbal",
        "t_out",
        (F.expr(f"tbal DIV {PSM_CALIPER_CENTS}") + c("d")).alias("bucket"),
    )
    pairs = (
        toff.join(ctrl, "bucket")
        .where(F.abs(c("tbal") - c("cbal")) <= PSM_CALIPER_CENTS)
        .select(
            "tk",
            "t_out",
            "c_out",
            F.abs(c("tbal") - c("cbal")).alias("gap"),
            "ck",
        )
    )
    best = pairs.groupBy("tk").agg(
        F.min(F.struct("gap", "ck", "c_out", "t_out")).alias("p")
    )
    s = best.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_matched"),
        F.sum(c("p.t_out") - c("p.c_out")).cast("decimal(38,0)").alias("sum_diff"),
        F.sum("p.gap").cast("decimal(38,0)").alias("sum_gap"),
    )
    census = pts.agg(
        F.sum(c("treated")).cast("bigint").alias("n_treated"),
        F.sum(1 - c("treated")).cast("bigint").alias("n_control"),
    )
    return census.crossJoin(s).select(
        "n_treated",
        "n_control",
        c("n_matched").cast("bigint").alias("n_matched"),
        c("sum_diff").cast("bigint").alias("sum_diff_cents"),
        F.expr(
            "CAST((CASE WHEN sum_diff < 0 THEN -1 ELSE 1 END)"
            " * ((2000 * abs(sum_diff) + n_matched) DIV (2 * n_matched))"
            " AS BIGINT)"
        ).alias("att_milli_cents"),
        F.expr(
            "CAST((2000 * sum_gap + n_matched) DIV (2 * n_matched) AS BIGINT)"
        ).alias("mean_gap_milli"),
    )


# ---------------------------------------------------------------------------
# Randomization (permutation) test — distribution-free two-group inference
# ---------------------------------------------------------------------------

PERM_B = 64
PERM_SEGMENT = "AUTOMOBILE"


@register(
    "permutation_test_segment_revenue",
    category="stats",
    doc=f"Fisher-style randomization test: is the {PERM_SEGMENT}-vs-rest "
    "difference in mean customer lifetime revenue explainable by chance "
    f"relabeling? B={PERM_B} pseudo-random re-assignments (md5 parity "
    "per (replica, customer) — deterministic 'coin flips', the "
    "bootstrap's frozen-draw recipe), each replica's mean difference "
    "compared against the observed one ENTIRELY by integer "
    "cross-multiplication of rationals (|s0*n1 - s1*n0| * (nt*nc) vs "
    "|st*nc - sc*nt| * (n0*n1) in DECIMAL(38,0) — sized to fit at "
    "sf100); p = (1 + #extreme)/(B+1) as half-up milli. SCALE SHAPE: "
    "the replica fan-out is ONE crossJoin of a B-row broadcast relation "
    "over the REPARTITIONED customer relation (the bootstrap lesson: "
    "fan-out after a single small split serializes onto one task), all "
    "B replicas aggregate map-side-combinably in one pass. The "
    "observed-difference numerator emits as a digit string.",
    oracle=None,  # built below
)
def permutation_test_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.functions.similarity import hash_hex

    c = F.col
    par = spark.sparkContext.defaultParallelism
    cust = table(spark, sf_dir, "customer").select(
        c("c_custkey").alias("k"),
        (c("c_mktsegment") == PERM_SEGMENT).cast("int").alias("treated"),
    )
    rev = (
        table(spark, sf_dir, "orders")
        .groupBy(c("o_custkey").alias("k"))
        .agg(
            F.sum(
                F.floor(c("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("cents")
        )
    )
    pts = (
        cust.join(rev, "k", "left")
        .select("k", "treated", F.coalesce(c("cents"), F.lit(0)).alias("out"))
        .repartition(par)  # fan-out follows: spread the base relation first
        .localCheckpoint()
    )
    obs = pts.agg(
        F.sum(F.when(c("treated") == 1, c("out"))).cast("decimal(38,0)").alias("st"),
        F.sum(F.when(c("treated") == 1, 1)).cast("decimal(38,0)").alias("nt"),
        F.sum(F.when(c("treated") == 0, c("out"))).cast("decimal(38,0)").alias("sc"),
        F.sum(F.when(c("treated") == 0, 1)).cast("decimal(38,0)").alias("nc"),
    )
    b_rel = spark.range(PERM_B).select(c("id").alias("b"))
    fan = pts.crossJoin(F.broadcast(b_rel)).select(
        "b",
        "out",
        (
            hash_hex(
                F.concat(
                    F.lit("perm:"),
                    c("b").cast("string"),
                    F.lit(":"),
                    c("k").cast("string"),
                ),
                15,
            )
            % 2
        ).alias("arm"),
    )
    per_b = fan.groupBy("b").agg(
        F.sum(F.when(c("arm") == 0, c("out"))).cast("decimal(38,0)").alias("s0"),
        F.sum(F.when(c("arm") == 0, 1)).cast("decimal(38,0)").alias("n0"),
        F.sum(F.when(c("arm") == 1, c("out"))).cast("decimal(38,0)").alias("s1"),
        F.sum(F.when(c("arm") == 1, 1)).cast("decimal(38,0)").alias("n1"),
    )
    ext = per_b.crossJoin(F.broadcast(obs)).agg(
        F.sum(
            F.expr(
                "CAST(abs(s0 * n1 - s1 * n0) * (nt * nc)"
                " >= abs(st * nc - sc * nt) * (n0 * n1) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("n_extreme")
    )
    return obs.crossJoin(ext).select(
        c("nt").cast("bigint").alias("n_treated"),
        c("nc").cast("bigint").alias("n_control"),
        F.expr("CAST(st * nc - sc * nt AS STRING)").alias("obs_diff_num"),
        F.lit(PERM_B).cast("bigint").alias("b_total"),
        "n_extreme",
        F.expr(
            f"CAST((2000 * (1 + n_extreme) + ({PERM_B} + 1))"
            f" DIV (2 * ({PERM_B} + 1)) AS BIGINT)"
        ).alias("p_milli"),
    )


def _perm_oracle() -> str:
    md5 = "('0x' || substr(md5('perm:' || CAST(b AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 15))::BIGINT % 2"
    return f"""
WITH cust AS (
  SELECT c_custkey AS k,
         CASE WHEN c_mktsegment = '{PERM_SEGMENT}' THEN 1 ELSE 0 END AS treated
  FROM customer
),
rev AS (
  SELECT o_custkey AS k,
         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
pts AS (
  SELECT cust.k, cust.treated, COALESCE(rev.cents, 0) AS outv
  FROM cust LEFT JOIN rev USING (k)
),
obs AS (
  SELECT CAST(SUM(CASE WHEN treated = 1 THEN outv END) AS HUGEINT) AS st,
         CAST(SUM(CASE WHEN treated = 1 THEN 1 END) AS HUGEINT) AS nt,
         CAST(SUM(CASE WHEN treated = 0 THEN outv END) AS HUGEINT) AS sc,
         CAST(SUM(CASE WHEN treated = 0 THEN 1 END) AS HUGEINT) AS nc
  FROM pts
),
fan AS (
  SELECT b, outv, {md5} AS arm
  FROM pts CROSS JOIN (SELECT unnest(range({PERM_B})) AS b) bb
),
per_b AS (
  SELECT b,
         CAST(SUM(CASE WHEN arm = 0 THEN outv END) AS HUGEINT) AS s0,
         CAST(SUM(CASE WHEN arm = 0 THEN 1 END) AS HUGEINT) AS n0,
         CAST(SUM(CASE WHEN arm = 1 THEN outv END) AS HUGEINT) AS s1,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 END) AS HUGEINT) AS n1
  FROM fan GROUP BY b
),
ext AS (
  SELECT CAST(SUM(CASE WHEN abs(s0 * n1 - s1 * n0) * (obs.nt * obs.nc)
                        >= abs(obs.st * obs.nc - obs.sc * obs.nt) * (n0 * n1)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
  FROM per_b CROSS JOIN obs
)
SELECT CAST(obs.nt AS BIGINT) AS n_treated,
       CAST(obs.nc AS BIGINT) AS n_control,
       CAST(obs.st * obs.nc - obs.sc * obs.nt AS VARCHAR) AS obs_diff_num,
       CAST({PERM_B} AS BIGINT) AS b_total,
       ext.n_extreme,
       CAST((2000 * (1 + ext.n_extreme) + ({PERM_B} + 1))
            // (2 * ({PERM_B} + 1)) AS BIGINT) AS p_milli
FROM obs CROSS JOIN ext
"""


from wheels_in_motion_analytics_spark.registry import REGISTRY as _REG_PERM  # noqa: E402

_REG_PERM["permutation_test_segment_revenue"].oracle = _perm_oracle()


# ---------------------------------------------------------------------------
# Wilcoxon signed-rank — paired pre/post nonparametric test
# ---------------------------------------------------------------------------


@register(
    "wilcoxon_signed_rank_prepost",
    category="stats",
    doc=f"Wilcoxon signed-rank test on PAIRED customer revenue: x = "
    f"pre-{CUPED_SPLIT[:10]} lifetime cents, y = post-period cents, "
    "d = y - x with zero differences dropped (the standard treatment). "
    "Completes the rank-test family (MW, KW, JT, runs) with the PAIRED "
    "member. |d| ranks use exact DOUBLED average ranks off the "
    "TWO-PHASE prefix sum over the distinct-|d| relation; "
    "W2 = 2*W+ = sum of doubled ranks of positive differences, "
    "D = 2*W2 - n(n+1) = 4(W+ - mu), tie-corrected variance numerator "
    "48*Var = 2n(n+1)(2n+1) - T emitted as a DIGIT STRING (exceeds "
    "BIGINT past ~sf10), and the 5% verdict is pure cross-multiplication "
    "D^2 * 3 * 10000 > 38416 * var48 — sized inside DECIMAL(38,0) at "
    "sf100. No float anywhere.",
    oracle=f"""
WITH per AS (
  SELECT o_custkey,
         SUM(CASE WHEN o_orderdate < TIMESTAMP '{CUPED_SPLIT}'
                  THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) ELSE 0 END) AS x,
         SUM(CASE WHEN o_orderdate >= TIMESTAMP '{CUPED_SPLIT}'
                  THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) ELSE 0 END) AS y
  FROM orders GROUP BY o_custkey
),
d AS (
  SELECT abs(y - x) AS a, CASE WHEN y > x THEN 1 ELSE 0 END AS pos
  FROM per WHERE y <> x
),
vals AS (
  SELECT a, CAST(COUNT(*) AS BIGINT) AS n_tot, CAST(SUM(pos) AS BIGINT) AS n_pos
  FROM d GROUP BY a
),
cum AS (
  SELECT *, CAST(COALESCE(SUM(n_tot) OVER (ORDER BY a
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
  FROM vals
),
agg AS (
  SELECT CAST(SUM(n_tot) AS HUGEINT) AS n,
         CAST(SUM(n_pos * (2 * cb + n_tot + 1)) AS HUGEINT) AS w2,
         CAST(SUM(n_tot * n_tot * n_tot - n_tot) AS HUGEINT) AS t
  FROM cum
),
f AS (
  SELECT n, w2, t,
         2 * w2 - n * (n + 1) AS dd,
         2 * n * (n + 1) * (2 * n + 1) - t AS var48
  FROM agg
)
SELECT CAST(n AS BIGINT) AS n_pairs,
       CAST(w2 AS BIGINT) AS w2_pos,
       CAST(dd AS BIGINT) AS d_scaled,
       CAST(t AS BIGINT) AS ties_t,
       CAST(var48 AS VARCHAR) AS var48,
       dd * dd * 30000 > 38416 * var48 AS reject_symmetry
FROM f
""",
)
def wilcoxon_signed_rank_prepost(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.operators.windows import global_prefix_sums

    c = F.col
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    per = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.when(
                    c("o_orderdate") < F.lit(CUPED_SPLIT).cast("timestamp"), cents
                ).otherwise(F.lit(0))
            ).alias("x"),
            F.sum(
                F.when(
                    c("o_orderdate") >= F.lit(CUPED_SPLIT).cast("timestamp"), cents
                ).otherwise(F.lit(0))
            ).alias("y"),
        )
    )
    d = per.where(c("y") != c("x")).select(
        F.abs(c("y") - c("x")).alias("a"),
        (c("y") > c("x")).cast("bigint").alias("pos"),
    )
    vals = d.groupBy("a").agg(
        F.count(F.lit(1)).alias("n_tot"), F.sum("pos").alias("n_pos")
    )
    cum = global_prefix_sums(vals, ["a"], ["n_tot"]).withColumn(
        "cb", c("n_tot_cum") - c("n_tot")
    )
    agg = cum.agg(
        F.sum("n_tot").cast("decimal(38,0)").alias("n"),
        F.sum(c("n_pos") * (2 * c("cb") + c("n_tot") + 1))
        .cast("decimal(38,0)")
        .alias("w2"),
        F.sum(c("n_tot") * c("n_tot") * c("n_tot") - c("n_tot"))
        .cast("decimal(38,0)")
        .alias("t"),
    )
    f = agg.select(
        "n",
        "w2",
        "t",
        F.expr("2 * w2 - n * (n + 1)").alias("dd"),
        F.expr("2 * n * (n + 1) * (2 * n + 1) - t").alias("var48"),
    )
    return f.select(
        c("n").cast("bigint").alias("n_pairs"),
        c("w2").cast("bigint").alias("w2_pos"),
        c("dd").cast("bigint").alias("d_scaled"),
        c("t").cast("bigint").alias("ties_t"),
        c("var48").cast("string").alias("var48"),
        F.expr("dd * dd * 30000 > 38416 * var48").alias("reject_symmetry"),
    )


# ---------------------------------------------------------------------------
# Friedman test — k treatments ranked within blocks
# ---------------------------------------------------------------------------


@register(
    "friedman_test_priority_months",
    category="stats",
    doc="Friedman test: blocks = order months (calendar-bounded), "
    "treatments = the 5 priorities, measurement = block revenue cents "
    "per treatment, ranked WITHIN each block (doubled average ranks; "
    "the per-block window is 5 rows — bounded-domain exemption, "
    "parallel across blocks). Q = 3*sum(R2_j^2)/(n*k*(k+1)) - "
    "3*n*(k+1) evaluated on the exact milli grid (every quotient "
    "BIGINT-trivial: n = #months <= ~84 at any SF); verdict "
    "q_milli > 9488 (chi-square df=4 at 5%). The repeated-measures "
    "companion to kruskal_wallis (which assumes independent groups).",
    oracle="""
WITH cell AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS blk,
         CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS g,
         SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS v
  FROM orders GROUP BY 1, 2
),
full_blocks AS (
  SELECT blk FROM cell GROUP BY blk HAVING COUNT(*) = 5
),
ranked AS (
  SELECT c.blk, c.g,
         CAST(2 * (SELECT COUNT(*) FROM cell c2
                   WHERE c2.blk = c.blk AND c2.v < c.v)
              + (SELECT COUNT(*) FROM cell c3
                 WHERE c3.blk = c.blk AND c3.v = c.v) + 1 AS BIGINT) AS dr
  FROM cell c JOIN full_blocks USING (blk)
),
rj AS (
  SELECT g, CAST(SUM(dr) AS HUGEINT) AS r2 FROM ranked GROUP BY g
),
n AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM full_blocks),
q AS (
  SELECT n.n,
         (SELECT SUM(r2 * r2) FROM rj) AS s2,
         MAX(CASE WHEN g = 1 THEN r2 END) AS r2_1,
         MAX(CASE WHEN g = 2 THEN r2 END) AS r2_2,
         MAX(CASE WHEN g = 3 THEN r2 END) AS r2_3,
         MAX(CASE WHEN g = 4 THEN r2 END) AS r2_4,
         MAX(CASE WHEN g = 5 THEN r2 END) AS r2_5
  FROM rj CROSS JOIN n GROUP BY n.n
)
SELECT CAST(n AS BIGINT) AS n_blocks,
       CAST(r2_1 AS BIGINT) AS r2_urgent, CAST(r2_2 AS BIGINT) AS r2_high,
       CAST(r2_3 AS BIGINT) AS r2_medium, CAST(r2_4 AS BIGINT) AS r2_notspec,
       CAST(r2_5 AS BIGINT) AS r2_low,
       CAST((2 * 3 * s2 * 1000 + 30 * n) // (2 * 30 * n)
            - 3 * n * 6 * 1000 AS BIGINT) AS q_milli,
       (2 * 3 * s2 * 1000 + 30 * n) // (2 * 30 * n)
         - 3 * n * 6 * 1000 > 9488 AS reject_equal_treatments
FROM q
""",
)
def friedman_test_priority_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    cell = (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.date_trunc("month", c("o_orderdate")).cast("date").alias("blk"),
            F.substring("o_orderpriority", 1, 1).cast("int").alias("g"),
        )
        .agg(
            F.sum(
                F.floor(c("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("v")
        )
        .localCheckpoint()  # ranks + block filter read it
    )
    full_blocks = (
        cell.groupBy("blk").agg(F.count(F.lit(1)).alias("k")).where(c("k") == 5)
    )
    # per-block window over exactly 5 rows (bounded-domain exemption)
    w = Window.partitionBy("blk").orderBy("v")
    ranked = (
        cell.join(full_blocks.select("blk"), "blk")
        .withColumn("rk", F.rank().over(w))
        .withColumn("cnt_eq", F.count(F.lit(1)).over(Window.partitionBy("blk", "v")))
        .select(
            "blk",
            "g",
            (2 * (c("rk") - 1) + c("cnt_eq") + 1).cast("bigint").alias("dr"),
        )
    )
    rj = ranked.groupBy("g").agg(F.sum("dr").cast("decimal(38,0)").alias("r2"))
    n = full_blocks.agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n"))
    q = rj.crossJoin(F.broadcast(n)).agg(
        F.first("n").alias("n"),
        F.sum(c("r2") * c("r2")).cast("decimal(38,0)").alias("s2"),
        *[
            F.max(F.when(c("g") == i + 1, c("r2"))).alias(f"r2_{i + 1}")
            for i in range(5)
        ],
    )
    # Q = 12/(n*k*(k+1)) * sum(R_j^2) - 3n(k+1); with doubled ranks
    # s2 = sum(R2^2) = 4*sum(R^2), so the first term is 3*s2/(30n)
    q_milli = (
        "(2 * 3 * s2 * 1000 + 30 * n) DIV (2 * 30 * n)"
        " - CAST(3 * n * 6 * 1000 AS BIGINT)"
    )
    return q.select(
        c("n").cast("bigint").alias("n_blocks"),
        *[
            c(f"r2_{i + 1}").cast("bigint").alias(f"r2_{g}")
            for i, g in enumerate(_KW_GROUPS)
        ],
        F.expr(f"CAST({q_milli} AS BIGINT)").alias("q_milli"),
        F.expr(f"({q_milli}) > 9488").alias("reject_equal_treatments"),
    )


# ---------------------------------------------------------------------------
# Price elasticity — log-log demand slope per brand
# ---------------------------------------------------------------------------


@register(
    "price_elasticity_loglog",
    category="stats",
    doc="Own-price elasticity of demand per part brand: OLS slope of "
    "ln(quantity) on ln(unit price) over lineitem purchases — the "
    "log-log regression whose slope IS the elasticity. Float "
    "discipline: each row's ln is rounded to 9dp IN ISOLATION (the "
    "psi/welch/zipf green class) and scaled to an exact NANO-integer "
    "grid; all four moments accumulate in DECIMAL(38,0) (map-side "
    "combinable, one scan), and the slope emits as sign-split half-up "
    "milli from the exact integer numerator/denominator — no float "
    "quotient is hashed. Negative elasticity = the demand curve slopes "
    "down; the per-brand panel is broadcast-sized.",
    oracle="""
WITH r AS (
  SELECT p.p_brand AS brand,
         CAST(round(ln(l.l_extendedprice / l.l_quantity), 9) * 1000000000
              AS BIGINT) AS x,
         CAST(round(ln(l.l_quantity), 9) * 1000000000 AS BIGINT) AS y
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
m AS (
  SELECT brand, CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
         CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
  FROM r GROUP BY brand
),
f AS (
  SELECT brand, n,
         n * sxy - sx * sy AS num,
         n * sxx - sx * sx AS den
  FROM m
)
SELECT brand, CAST(n AS BIGINT) AS n,
       CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
            * ((2000 * abs(num) + den) // (2 * den)) AS BIGINT)
         AS elasticity_milli
FROM f
""",
)
def price_elasticity_loglog(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    r = (
        table(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(
                table(spark, sf_dir, "part").select("p_partkey", "p_brand")
            ),
            c("l_partkey") == c("p_partkey"),
        )
        .select(
            c("p_brand").alias("brand"),
            (
                F.round(F.log(c("l_extendedprice") / c("l_quantity")), 9)
                * F.lit(1_000_000_000)
            )
            .cast("bigint")
            .alias("x"),
            (F.round(F.log(c("l_quantity")), 9) * F.lit(1_000_000_000))
            .cast("bigint")
            .alias("y"),
        )
    )
    m = r.groupBy("brand").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(c("x").cast("decimal(38,0)") * c("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(c("x").cast("decimal(38,0)") * c("x")).cast("decimal(38,0)").alias("sxx"),
    )
    f = m.select(
        "brand",
        "n",
        F.expr("n * sxy - sx * sy").alias("num"),
        F.expr("n * sxx - sx * sx").alias("den"),
    )
    return f.select(
        "brand",
        c("n").cast("bigint").alias("n"),
        F.expr(
            "CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)"
            " * ((2000 * abs(num) + den) DIV (2 * den)) AS BIGINT)"
        ).alias("elasticity_milli"),
    )


# ---------------------------------------------------------------------------
# Theil index — decomposable inequality (between + within regions)
# ---------------------------------------------------------------------------


@register(
    "theil_inequality_decomposition",
    category="stats",
    doc="Theil-T inequality of customer lifetime revenue, DECOMPOSED into "
    "between-region and within-region components (the additive "
    "decomposition is why Theil beats Gini for drill-downs). Float "
    "discipline: T = sum (y_i/Y) ln(y_i N / Y) expands to per-row "
    "ln(y_i) + ln(N) - ln(Y), each rounded to 9dp IN ISOLATION and "
    "accumulated as y_i-weighted DECIMAL sums (exact integers on the "
    "nano grid); the final micro values are sign-split half-up "
    "divisions by Y. Same machinery for the between term on the "
    "REGION-aggregate relation (5 rows). Zero-revenue customers drop "
    "(standard: 0*ln(0) = 0). One star-join aggregate + one region "
    "rollup; additivity T ~= T_b + T_w is pinned in tests on the grid "
    "tolerance.",
    oracle="""
WITH per AS (
  SELECT c.c_custkey, r.r_name,
         CAST(SUM(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY c.c_custkey, r.r_name
),
tot AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS nn, CAST(SUM(y) AS HUGEINT) AS yy FROM per
),
t_all AS (
  SELECT CAST(SUM(CAST(y AS HUGEINT) *
           (CAST(round(ln(CAST(y AS DOUBLE)), 9) * 1000000000 AS HUGEINT)
            + CAST(round(ln(CAST(tot.nn AS DOUBLE)), 9) * 1000000000 AS HUGEINT)
            - CAST(round(ln(CAST(tot.yy AS DOUBLE)), 9) * 1000000000 AS HUGEINT)))
         AS HUGEINT) AS s
  FROM per CROSS JOIN tot
),
grp AS (
  SELECT r_name, CAST(COUNT(*) AS HUGEINT) AS ng, CAST(SUM(y) AS HUGEINT) AS yg
  FROM per GROUP BY r_name
),
t_btw AS (
  SELECT CAST(SUM(yg *
           (CAST(round(ln(CAST(yg AS DOUBLE)), 9) * 1000000000 AS HUGEINT)
            - CAST(round(ln(CAST(ng AS DOUBLE)), 9) * 1000000000 AS HUGEINT)
            - CAST(round(ln(CAST(tot.yy AS DOUBLE)), 9) * 1000000000 AS HUGEINT)
            + CAST(round(ln(CAST(tot.nn AS DOUBLE)), 9) * 1000000000 AS HUGEINT)))
         AS HUGEINT) AS s
  FROM grp CROSS JOIN tot
)
SELECT CAST(tot.nn AS BIGINT) AS n_customers,
       CAST((CASE WHEN t_all.s < 0 THEN -1 ELSE 1 END)
            * ((2 * abs(t_all.s) + tot.yy * 1000) // (2 * tot.yy * 1000))
            AS BIGINT) AS theil_total_micro,
       CAST((CASE WHEN t_btw.s < 0 THEN -1 ELSE 1 END)
            * ((2 * abs(t_btw.s) + tot.yy * 1000) // (2 * tot.yy * 1000))
            AS BIGINT) AS theil_between_micro,
       CAST((CASE WHEN t_all.s - t_btw.s < 0 THEN -1 ELSE 1 END)
            * ((2 * abs(t_all.s - t_btw.s) + tot.yy * 1000) // (2 * tot.yy * 1000))
            AS BIGINT) AS theil_within_micro
FROM tot CROSS JOIN t_all CROSS JOIN t_btw
""",
)
def theil_inequality_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col

    def ln9(col):
        return (F.round(F.log(col.cast("double")), 9) * F.lit(1_000_000_000)).cast(
            "decimal(38,0)"
        )

    per = (
        table(spark, sf_dir, "orders")
        .join(
            table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
            c("o_custkey") == c("c_custkey"),
        )
        .join(
            F.broadcast(
                table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
            ),
            c("c_nationkey") == c("n_nationkey"),
        )
        .join(
            F.broadcast(
                table(spark, sf_dir, "region").select("r_regionkey", "r_name")
            ),
            c("n_regionkey") == c("r_regionkey"),
        )
        .groupBy("c_custkey", "r_name")
        .agg(
            F.sum(
                F.floor(c("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("y")
        )
        .localCheckpoint()  # totals, per-row term, group rollup share it
    )
    tot = per.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("nn"),
        F.sum("y").cast("decimal(38,0)").alias("yy"),
    ).localCheckpoint()
    t_all = per.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            c("y").cast("decimal(38,0)")
            * (ln9(c("y")) + ln9(c("nn")) - ln9(c("yy")))
        )
        .cast("decimal(38,0)")
        .alias("s")
    )
    grp = per.groupBy("r_name").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("ng"),
        F.sum("y").cast("decimal(38,0)").alias("yg"),
    )
    t_btw = grp.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            c("yg")
            * (ln9(c("yg")) - ln9(c("ng")) - ln9(c("yy")) + ln9(c("nn")))
        )
        .cast("decimal(38,0)")
        .alias("s")
    )
    out = (
        tot.crossJoin(t_all.withColumnRenamed("s", "sa"))
        .crossJoin(t_btw.withColumnRenamed("s", "sb"))
    )

    def micro(num):
        return F.expr(
            f"CAST((CASE WHEN {num} < 0 THEN -1 ELSE 1 END)"
            f" * ((2 * abs({num}) + yy * 1000) DIV (2 * yy * 1000)) AS BIGINT)"
        )

    return out.select(
        c("nn").cast("bigint").alias("n_customers"),
        micro("sa").alias("theil_total_micro"),
        micro("sb").alias("theil_between_micro"),
        micro("sa - sb").alias("theil_within_micro"),
    )


# ---------------------------------------------------------------------------
# One-way ANOVA — the parametric k-group companion to Kruskal-Wallis
# ---------------------------------------------------------------------------


@register(
    "anova_oneway_segments",
    category="stats",
    doc="One-way ANOVA F across the 5 market segments on account-balance "
    "cents: per-group power sums (n, S, S2) from ONE map-side-"
    "combinable aggregate, then SSB = sum(S_g^2 DIV n_g) - S^2 DIV N "
    "and SSW = sum((n_g*S2_g - S_g^2) DIV n_g) — every division a "
    "deterministic integer floor sized to fit BIGINT at sf100 "
    "(quotients ~ n*mean^2). Emitted: the sums as DIGIT STRINGS (they "
    "exceed BIGINT at scale), F as half-up milli from exact integers, "
    "and the 5% verdict by pure cross-multiplication against the "
    "large-N critical value 2.3719 (df1=4). The parametric companion "
    "to kruskal_wallis_priority.",
    oracle="""
WITH g AS (
  SELECT c_mktsegment AS seg,
         CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS HUGEINT) AS s,
         CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
                  * CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS HUGEINT) AS s2
  FROM customer GROUP BY c_mktsegment
),
m AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS k,
         CAST(SUM(n) AS HUGEINT) AS nn,
         CAST(SUM(s) AS HUGEINT) AS ss,
         CAST(SUM((s * s) // n) AS HUGEINT) AS sqn,
         CAST(SUM((n * s2 - s * s) // n) AS HUGEINT) AS ssw
  FROM g
),
f AS (
  SELECT k, nn, sqn - (ss * ss) // nn AS ssb, ssw FROM m
)
SELECT CAST(k AS BIGINT) AS n_groups,
       CAST(nn AS BIGINT) AS n_total,
       CAST(ssb AS VARCHAR) AS ssb,
       CAST(ssw AS VARCHAR) AS ssw,
       CAST((2000 * ssb * (nn - k) + ssw * (k - 1))
            // (2 * ssw * (k - 1)) AS BIGINT) AS f_milli,
       ssb * (nn - k) * 10000 > 23719 * ssw * (k - 1) AS reject_equal_means
FROM f
""",
)
def anova_oneway_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    cents = F.floor(c("c_acctbal") * 100 + F.lit(0.5)).cast("bigint")
    g = (
        table(spark, sf_dir, "customer")
        .select(c("c_mktsegment").alias("seg"), cents.alias("x"))
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum("x").cast("decimal(38,0)").alias("s"),
            F.sum(c("x").cast("decimal(38,0)") * c("x"))
            .cast("decimal(38,0)")
            .alias("s2"),
        )
    )
    m = g.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("k"),
        F.sum("n").cast("decimal(38,0)").alias("nn"),
        F.sum("s").cast("decimal(38,0)").alias("ss"),
        F.sum(F.expr("CAST((s * s) DIV n AS DECIMAL(38,0))"))
        .cast("decimal(38,0)")
        .alias("sqn"),
        F.sum(F.expr("CAST((n * s2 - s * s) DIV n AS DECIMAL(38,0))"))
        .cast("decimal(38,0)")
        .alias("ssw"),
    )
    f = m.select(
        "k",
        "nn",
        F.expr("sqn - CAST((ss * ss) DIV nn AS DECIMAL(38,0))").alias("ssb"),
        "ssw",
    )
    return f.select(
        c("k").cast("bigint").alias("n_groups"),
        c("nn").cast("bigint").alias("n_total"),
        c("ssb").cast("string").alias("ssb"),
        c("ssw").cast("string").alias("ssw"),
        F.expr(
            "CAST((2000 * ssb * (nn - k) + ssw * (k - 1))"
            " DIV (2 * ssw * (k - 1)) AS BIGINT)"
        ).alias("f_milli"),
        F.expr(
            "ssb * (nn - k) * 10000 > 23719 * ssw * (k - 1)"
        ).alias("reject_equal_means"),
    )


# ---------------------------------------------------------------------------
# Empirical-Bayes shrinkage — stabilized small-sample rates
# ---------------------------------------------------------------------------

EB_PSEUDO_M = 200  # prior strength in pseudo-observations


@register(
    "eb_shrunk_return_rates",
    category="stats",
    doc=f"Empirical-Bayes (beta-binomial) shrinkage of per-brand return "
    "rates: raw rate = returns/lines per brand, shrunk toward the "
    f"GLOBAL rate with prior strength m={EB_PSEUDO_M} pseudo-"
    "observations — shrunk = (s_i*N + m*S) / (N*(n_i + m)) where S/N "
    "is the global rate, kept as ONE exact cross-multiplied half-up "
    "ppm division (fully integer, no float prior). Small brands move "
    "most (the estimator property, pinned in tests: |shrunk - global| "
    "<= |raw - global| with equality only at n >> m). One conditional "
    "groupBy + a 1-row broadcast. The leaderboard-stabilization tool "
    "for any per-key rate at 100 TB.",
    oracle=f"""
WITH g AS (
  SELECT p.p_brand AS brand,
         CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS HUGEINT) AS s
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_brand
),
tot AS (SELECT CAST(SUM(n) AS HUGEINT) AS nn, CAST(SUM(s) AS HUGEINT) AS ss FROM g)
SELECT g.brand,
       CAST(g.n AS BIGINT) AS n_lines,
       CAST(g.s AS BIGINT) AS n_returns,
       CAST((2000000 * g.s + g.n) // (2 * g.n) AS BIGINT) AS raw_rate_ppm,
       CAST((2000000 * (g.s * tot.nn + {EB_PSEUDO_M} * tot.ss)
             + tot.nn * (g.n + {EB_PSEUDO_M}))
            // (2 * tot.nn * (g.n + {EB_PSEUDO_M})) AS BIGINT)
         AS shrunk_rate_ppm,
       CAST((2000000 * tot.ss + tot.nn) // (2 * tot.nn) AS BIGINT)
         AS global_rate_ppm
FROM g CROSS JOIN tot
""",
)
def eb_shrunk_return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    g = (
        table(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(
                table(spark, sf_dir, "part").select("p_partkey", "p_brand")
            ),
            c("l_partkey") == c("p_partkey"),
        )
        .groupBy(c("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum((c("l_returnflag") == "R").cast("bigint"))
            .cast("decimal(38,0)")
            .alias("s"),
        )
    )
    tot = g.agg(
        F.sum("n").cast("decimal(38,0)").alias("nn"),
        F.sum("s").cast("decimal(38,0)").alias("ss"),
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "brand",
        c("n").cast("bigint").alias("n_lines"),
        c("s").cast("bigint").alias("n_returns"),
        F.expr("CAST((2000000 * s + n) DIV (2 * n) AS BIGINT)").alias(
            "raw_rate_ppm"
        ),
        F.expr(
            f"CAST((2000000 * (s * nn + {EB_PSEUDO_M} * ss)"
            f" + nn * (n + {EB_PSEUDO_M}))"
            f" DIV (2 * nn * (n + {EB_PSEUDO_M})) AS BIGINT)"
        ).alias("shrunk_rate_ppm"),
        F.expr("CAST((2000000 * ss + nn) DIV (2 * nn) AS BIGINT)").alias(
            "global_rate_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# Max studentized deviate — which single day is most anomalous?
# ---------------------------------------------------------------------------


@register(
    "max_studentized_deviate_day",
    category="stats",
    doc="Grubbs-style max studentized deviate over daily revenue: G = "
    "max|x - mean| / sd located by one exact-integer argmax "
    "(max(struct(|x*n - S|, -day)) — no rational mean ever "
    "materializes), G emitted in ppm through the shared corrected-isqrt "
    "path (num = maxdev_scaled, denominator sqrt(n*S2 - S^2) via "
    "dyy = 1), and the 3-sigma screening verdict by pure integer "
    "cross-multiplication maxdev^2 > 9*(n*S2 - S^2). The single-point "
    "complement to mad_outlier_audit (which flags sets) and "
    "cusum/binseg (which find level shifts).",
    oracle="""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS x
  FROM orders GROUP BY 1
),
mom AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(x) AS HUGEINT) AS s,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS s2
  FROM d
),
dev AS (
  SELECT d.day, abs(CAST(d.x AS HUGEINT) * mom.n - mom.s) AS ds
  FROM d CROSS JOIN mom
),
top AS (
  SELECT day, ds FROM dev ORDER BY ds DESC, day ASC LIMIT 1
),
m AS (
  SELECT top.day, CAST(mom.n AS BIGINT) AS n_days,
         CAST(top.ds AS HUGEINT) AS num,
         mom.n * mom.s2 - mom.s * mom.s AS dxx,
         CAST(1 AS HUGEINT) AS dyy,
         top.ds * top.ds > 9 * (mom.n * mom.s2 - mom.s * mom.s)
           AS beyond_3_sigma
  FROM top CROSS JOIN mom
)
SELECT day AS flagged_day, n_days, {CORR} AS g_ppm, beyond_3_sigma
FROM m
""",
)
def max_studentized_deviate_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    d = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("x")
        )
        .localCheckpoint()  # moments + the deviation argmax share it
    )
    mom = d.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s"),
        F.sum(c("x").cast("decimal(38,0)") * c("x"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    dev = d.crossJoin(F.broadcast(mom)).select(
        "day",
        F.expr("abs(CAST(x AS DECIMAL(38,0)) * n - s)").alias("ds"),
        "n",
        "s",
        "s2",
    )
    top = dev.orderBy(F.desc("ds"), F.asc("day")).limit(1)
    m = top.select(
        c("day").alias("flagged_day"),
        c("n").cast("bigint").alias("n_days"),
        c("ds").alias("num"),
        F.expr("CAST(n * s2 - s * s AS DECIMAL(38,0))").alias("dxx"),
        F.lit(1).cast("decimal(38,0)").alias("dyy"),
        F.expr("ds * ds > 9 * (n * s2 - s * s)").alias("beyond_3_sigma"),
    )
    return with_corr_ppm(m, out="g_ppm").select(
        "flagged_day", "n_days", "g_ppm", "beyond_3_sigma"
    )


from wheels_in_motion_analytics_spark.registry import REGISTRY as _REG_GR  # noqa: E402

_REG_GR["max_studentized_deviate_day"].oracle = _REG_GR[
    "max_studentized_deviate_day"
].oracle.replace("{CORR}", corr_ppm_sql("num", "dxx", "dyy"))


# ---------------------------------------------------------------------------
# Odds ratio — the 2x2 effect size with a Woolf CI
# ---------------------------------------------------------------------------


@register(
    "odds_ratio_segment_status",
    category="stats",
    doc="Odds ratio of 'order is F-status' for AUTOMOBILE-segment "
    "customers vs the rest (the 2x2 effect-size readout beside "
    "mcnemar/chi-square): OR = (a*d)/(b*c) emitted as one exact "
    "cross-multiplied half-up milli division, and the Woolf 95% CI "
    "bounds exp(ln(OR) +- 1.96*sqrt(1/a+1/b+1/c+1/d)) with the "
    "variance sum kept as the EXACT rational (bcd+acd+abd+abc)/(abcd) "
    "before its single isolated sqrt — every float op is one IEEE "
    "expression over identical exact integers, rounded 6dp (the "
    "mann_whitney class). One conditional star-join aggregate.",
    oracle="""
WITH j AS (
  SELECT CASE WHEN c.c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END AS seg,
         CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
cells AS (
  SELECT
    CAST(COUNT(*) FILTER (WHERE seg = 1 AND pos = 1) AS HUGEINT) AS a,
    CAST(COUNT(*) FILTER (WHERE seg = 1 AND pos = 0) AS HUGEINT) AS b,
    CAST(COUNT(*) FILTER (WHERE seg = 0 AND pos = 1) AS HUGEINT) AS c,
    CAST(COUNT(*) FILTER (WHERE seg = 0 AND pos = 0) AS HUGEINT) AS d
  FROM j
),
f AS (
  SELECT a, b, c, d,
         CAST((2000 * a * d + b * c) // (2 * b * c) AS BIGINT) AS or_milli,
         ln(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
            / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE))) AS lor,
         sqrt(CAST(b*c*d + a*c*d + a*b*d + a*b*c AS DOUBLE)
              / CAST(a AS DOUBLE) / CAST(b AS DOUBLE)
              / CAST(c AS DOUBLE) / CAST(d AS DOUBLE)) AS se
  FROM cells
)
SELECT CAST(a AS BIGINT) AS n_seg_pos, CAST(b AS BIGINT) AS n_seg_neg,
       CAST(c AS BIGINT) AS n_rest_pos, CAST(d AS BIGINT) AS n_rest_neg,
       or_milli,
       round(exp(lor - 1.96 * se), 6) AS ci_low,
       round(exp(lor + 1.96 * se), 6) AS ci_high
FROM f
""",
)
def odds_ratio_segment_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    j = (
        table(spark, sf_dir, "orders")
        .join(
            table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
            c("o_custkey") == c("c_custkey"),
        )
        .select(
            (c("c_mktsegment") == "AUTOMOBILE").cast("int").alias("seg"),
            (c("o_orderstatus") == "F").cast("int").alias("pos"),
        )
    )
    cells = j.agg(
        F.sum(((c("seg") == 1) & (c("pos") == 1)).cast("bigint"))
        .cast("decimal(38,0)")
        .alias("a"),
        F.sum(((c("seg") == 1) & (c("pos") == 0)).cast("bigint"))
        .cast("decimal(38,0)")
        .alias("b"),
        F.sum(((c("seg") == 0) & (c("pos") == 1)).cast("bigint"))
        .cast("decimal(38,0)")
        .alias("cc"),
        F.sum(((c("seg") == 0) & (c("pos") == 0)).cast("bigint"))
        .cast("decimal(38,0)")
        .alias("d"),
    )
    f = cells.select(
        "a",
        "b",
        "cc",
        "d",
        F.expr("CAST((2000 * a * d + b * cc) DIV (2 * b * cc) AS BIGINT)").alias(
            "or_milli"
        ),
        F.log(
            c("a").cast("double")
            * c("d").cast("double")
            / (c("b").cast("double") * c("cc").cast("double"))
        ).alias("lor"),
        F.sqrt(
            F.expr("CAST(b*cc*d + a*cc*d + a*b*d + a*b*cc AS DOUBLE)")
            / c("a").cast("double")
            / c("b").cast("double")
            / c("cc").cast("double")
            / c("d").cast("double")
        ).alias("se"),
    )
    return f.select(
        c("a").cast("bigint").alias("n_seg_pos"),
        c("b").cast("bigint").alias("n_seg_neg"),
        c("cc").cast("bigint").alias("n_rest_pos"),
        c("d").cast("bigint").alias("n_rest_neg"),
        "or_milli",
        F.round(F.exp(c("lor") - 1.96 * c("se")), 6).alias("ci_low"),
        F.round(F.exp(c("lor") + 1.96 * c("se")), 6).alias("ci_high"),
    )


# ---------------------------------------------------------------------------
# Log-rank test — do two groups' survival curves differ?
# ---------------------------------------------------------------------------

LOGRANK_G1 = "1-URGENT"
LOGRANK_G0 = "5-LOW"


@register(
    "logrank_ship_latency_groups",
    category="stats",
    doc=f"Log-rank test comparing time-to-first-ship survival between "
    f"'{LOGRANK_G1}' and '{LOGRANK_G0}' orders (the inferential "
    "companion to kaplan_meier_ship_latency, same duration/censoring "
    "construction). At each duration: exact group risk sets via "
    "duration-grain suffix sums (the axis is calendar-bounded — tiny "
    "at any SF), expected group-1 events e1 = d*n1/n and the "
    "hypergeometric variance EVALUATED ON A DETERMINISTIC MICRO GRID "
    "(half-up DIV per duration, DECIMAL sums), O1 exact. Verdict "
    "chi2 = (O1-E1)^2/V > 3.8416 by pure cross-multiplication "
    "U_micro^2 * 10000 > 38416 * 1e6 * V_micro — no float anywhere.",
    oracle=f"""
WITH per AS (
  SELECT o.o_orderkey,
         CASE WHEN o.o_orderpriority = '{LOGRANK_G1}' THEN 1 ELSE 0 END AS g,
         datediff('day', o.o_orderdate, MIN(l.l_shipdate)) AS dur,
         CASE WHEN o.o_orderstatus <> 'O' THEN 1 ELSE 0 END AS ev
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderpriority IN ('{LOGRANK_G1}', '{LOGRANK_G0}')
  GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderstatus, o.o_orderpriority
),
grain AS (
  SELECT dur,
         CAST(SUM(CASE WHEN g = 1 THEN ev ELSE 0 END) AS HUGEINT) AS d1,
         CAST(SUM(ev) AS HUGEINT) AS d,
         CAST(SUM(g) AS HUGEINT) AS m1,
         CAST(COUNT(*) AS HUGEINT) AS m
  FROM per GROUP BY dur
),
risk AS (
  SELECT dur, d1, d,
         CAST((SELECT SUM(g) FROM per)
              - COALESCE(SUM(m1) OVER (ORDER BY dur
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS HUGEINT) AS n1,
         CAST((SELECT COUNT(*) FROM per)
              - COALESCE(SUM(m) OVER (ORDER BY dur
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS HUGEINT) AS n
  FROM grain
),
terms AS (
  SELECT d1, d, n1, n,
         (2 * d * n1 * 1000000 + n) // (2 * n) AS e1_micro,
         CASE WHEN n > 1 THEN
           (2 * d * n1 * (n - n1) * (n - d) * 1000000 + n * n * (n - 1))
             // (2 * n * n * (n - 1))
         ELSE 0 END AS v_micro
  FROM risk WHERE d > 0
),
agg AS (
  SELECT CAST(SUM(d1) AS HUGEINT) AS o1,
         CAST(SUM(e1_micro) AS HUGEINT) AS e1m,
         CAST(SUM(v_micro) AS HUGEINT) AS vm
  FROM terms
)
SELECT CAST(o1 AS BIGINT) AS observed_g1,
       CAST(e1m AS BIGINT) AS expected_g1_micro,
       CAST(vm AS BIGINT) AS variance_micro,
       CAST((CASE WHEN o1 * 1000000 - e1m < 0 THEN -1 ELSE 1 END)
            * ((2000 * abs(o1 * 1000000 - e1m) * abs(o1 * 1000000 - e1m)
                + 1000000 * vm) // (2 * 1000000 * vm)) AS BIGINT)
         AS chi2_milli,
       abs(o1 * 1000000 - e1m) * abs(o1 * 1000000 - e1m) * 10000
         > 38416000000 * vm AS survival_differs
FROM agg
""",
)
def logrank_ship_latency_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.operators.windows import global_prefix_sums

    c = F.col
    per = (
        table(spark, sf_dir, "orders")
        .where(c("o_orderpriority").isin(LOGRANK_G1, LOGRANK_G0))
        .join(
            table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate"),
            c("o_orderkey") == c("l_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderdate", "o_orderstatus", "o_orderpriority")
        .agg(F.min("l_shipdate").alias("first_ship"))
        .select(
            (c("o_orderpriority") == LOGRANK_G1).cast("bigint").alias("g"),
            F.datediff(c("first_ship"), c("o_orderdate")).alias("dur"),
            (c("o_orderstatus") != "O").cast("bigint").alias("ev"),
        )
    )
    grain = per.groupBy("dur").agg(
        F.sum(F.when(c("g") == 1, c("ev")).otherwise(0)).alias("d1"),
        F.sum("ev").alias("d"),
        F.sum("g").alias("m1"),
        F.count(F.lit(1)).alias("m"),
    )
    cum = global_prefix_sums(grain, ["dur"], ["m1", "m"])
    tot = per.agg(
        F.sum("g").cast("bigint").alias("t1"),
        F.count(F.lit(1)).cast("bigint").alias("tt"),
    )
    risk = cum.crossJoin(F.broadcast(tot)).select(
        "d1",
        "d",
        (c("t1") - (c("m1_cum") - c("m1"))).cast("decimal(38,0)").alias("n1"),
        (c("tt") - (c("m_cum") - c("m"))).cast("decimal(38,0)").alias("n"),
    )
    terms = risk.where(c("d") > 0).select(
        c("d1").cast("decimal(38,0)").alias("d1"),
        F.expr(
            "CAST((2 * CAST(d AS DECIMAL(38,0)) * n1 * 1000000 + n)"
            " DIV (2 * n) AS DECIMAL(38,0))"
        ).alias("e1_micro"),
        F.expr(
            "CASE WHEN n > 1 THEN CAST((2 * CAST(d AS DECIMAL(38,0)) * n1"
            " * (n - n1) * (n - CAST(d AS DECIMAL(38,0))) * 1000000"
            " + n * n * (n - 1)) DIV (2 * n * n * (n - 1))"
            " AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END"
        ).alias("v_micro"),
    )
    agg = terms.agg(
        F.sum("d1").cast("decimal(38,0)").alias("o1"),
        F.sum("e1_micro").cast("decimal(38,0)").alias("e1m"),
        F.sum("v_micro").cast("decimal(38,0)").alias("vm"),
    )
    return agg.select(
        c("o1").cast("bigint").alias("observed_g1"),
        c("e1m").cast("bigint").alias("expected_g1_micro"),
        c("vm").cast("bigint").alias("variance_micro"),
        F.expr(
            "CAST((CASE WHEN o1 * 1000000 - e1m < 0 THEN -1 ELSE 1 END)"
            " * ((2000 * abs(o1 * 1000000 - e1m) * abs(o1 * 1000000 - e1m)"
            " + 1000000 * vm) DIV (2 * 1000000 * vm)) AS BIGINT)"
        ).alias("chi2_milli"),
        F.expr(
            "abs(o1 * 1000000 - e1m) * abs(o1 * 1000000 - e1m) * 10000"
            " > CAST(38416000000 AS DECIMAL(38,0)) * vm"
        ).alias("survival_differs"),
    )


# ---------------------------------------------------------------------------
# Poisson rate-ratio test — did the arrival rate change between periods?
# ---------------------------------------------------------------------------


@register(
    "poisson_rate_ratio_periods",
    category="stats",
    doc="Two-sample Poisson rate comparison of order arrivals, 1996 (366 "
    "exposure days) vs 1997 (365): rate ratio as the exact "
    "cross-multiplied half-up milli (n1*365)/(n2*366), and the "
    "conditional test — under H0 the 1996 share of the N pooled events "
    "is Binomial(N, 366/731) — decided ENTIRELY by integer "
    "cross-multiplication: (n1*731 - N*366)^2 * 10000 > 38416 * N * "
    "366 * 365. One conditional aggregate; the incident/arrival-rate "
    "guardrail beside ab_srm_check (which tests an assignment ratio; "
    "this tests a temporal rate).",
    oracle="""
WITH a AS (
  SELECT CAST(COUNT(*) FILTER (WHERE year(o_orderdate) = 1996) AS HUGEINT) AS n1,
         CAST(COUNT(*) FILTER (WHERE year(o_orderdate) = 1997) AS HUGEINT) AS n2
  FROM orders
),
f AS (SELECT n1, n2, n1 + n2 AS nn FROM a)
SELECT CAST(n1 AS BIGINT) AS n_1996,
       CAST(n2 AS BIGINT) AS n_1997,
       CAST((2000 * n1 * 365 + n2 * 366) // (2 * n2 * 366) AS BIGINT)
         AS rate_ratio_milli,
       (n1 * 731 - nn * 366) * (n1 * 731 - nn * 366) * 10000
         > 38416 * nn * 366 * 365 AS rate_changed
FROM f
""",
)
def poisson_rate_ratio_periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    a = table(spark, sf_dir, "orders").agg(
        F.sum((F.year("o_orderdate") == 1996).cast("bigint"))
        .cast("decimal(38,0)")
        .alias("n1"),
        F.sum((F.year("o_orderdate") == 1997).cast("bigint"))
        .cast("decimal(38,0)")
        .alias("n2"),
    )
    f = a.select("n1", "n2", F.expr("n1 + n2").alias("nn"))
    return f.select(
        c("n1").cast("bigint").alias("n_1996"),
        c("n2").cast("bigint").alias("n_1997"),
        F.expr(
            "CAST((2000 * n1 * 365 + n2 * 366) DIV (2 * n2 * 366) AS BIGINT)"
        ).alias("rate_ratio_milli"),
        F.expr(
            "(n1 * 731 - nn * 366) * (n1 * 731 - nn * 366) * 10000"
            " > CAST(38416 AS DECIMAL(38,0)) * nn * 366 * 365"
        ).alias("rate_changed"),
    )
