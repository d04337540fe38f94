"""Scan-pruning and integrity primitives: a portable Bloom-filter semi-join
and order-independent whole-table fingerprints.

* **Bloom-filter join pruning** is the 100 TB join strategy when the build
  side is too big to broadcast as rows but its *bit set* is tiny: hash the
  build keys into k positions of an m-bit filter (here k=3, m=4096), ship
  the position set (≤ k·|keys| ints, kilobytes) to every probe task, and
  drop probe rows whose positions aren't all present BEFORE the shuffle.
  Spark's own runtime row-level filtering does this opaquely
  (`spark.sql.optimizer.runtime.bloomFilter.enabled`); this operator builds
  the filter declaratively with portable md5 hashing so the false-positive
  behavior itself is oracle-checkable — the emitted audit row counts
  probe-side survivors vs the exact semi-join (no false negatives, a
  quantified false-positive rate).
* **Table fingerprints** are the anti-entropy check between replicas /
  before-and-after migrations: per table, an order-independent checksum =
  exact DECIMAL(38,0) sum of a 60-bit md5 of each row's canonical rendering.
  Any engine, any partitioning, any row order → same checksum. Floats are
  quantized to a cent grid before rendering (double→string rendering differs
  across engines; see NOTES.md), timestamps render via explicit format.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from wheels_in_motion_analytics_spark.functions.similarity import (
    _oracle_hash,
    hash_hex,
)
from wheels_in_motion_analytics_spark.registry import register
from wheels_in_motion_analytics_spark.tables import local_frame, table

# --------------------------------------------------------------------------
# Bloom-filter semi-join pruning audit
# --------------------------------------------------------------------------

BLOOM_M = 4096  # filter size (positions)
BLOOM_K = 3  # hash functions
BLOOM_SEGMENT = "BUILDING"  # build side: customers in this segment


def _bloom_pos(key: Column, salt: int) -> Column:
    return hash_hex(F.concat(F.lit(f"bloom{salt}|"), key.cast("string")), 15) % BLOOM_M


def _oracle_bloom_pos(expr: str, salt: int) -> str:
    salted = f"'bloom{salt}|' || CAST({expr} AS VARCHAR)"
    return f"{_oracle_hash(salted)} % {BLOOM_M}"


@register(
    "bloom_join_prune_audit",
    category="integrity",
    doc=f"Bloom-filter semi-join pruning audit: custkeys of the "
    f"'{BLOOM_SEGMENT}' segment hash into a {BLOOM_M}-position/{BLOOM_K}-hash "
    "filter (portable md5); orders probe the broadcast position set and "
    "survive only if all k positions hit. Emits one audit row — probe size, "
    "bloom survivors, exact semi-join size, false positives — proving zero "
    "false negatives and a quantified FP rate. At 100 TB the position set "
    "stays kilobytes while the build side is unbroadcastable as rows.",
    oracle=f"""
WITH build AS (
  SELECT c_custkey FROM customer WHERE c_mktsegment = '{BLOOM_SEGMENT}'
),
bits AS (
  SELECT DISTINCT pos FROM (
    {" UNION ALL ".join(f"SELECT {_oracle_bloom_pos('c_custkey', i)} AS pos FROM build" for i in range(BLOOM_K))}
  )
),
probe AS (
  SELECT o_orderkey, o_custkey FROM orders
),
hits AS (
  SELECT p.o_orderkey, p.o_custkey, COUNT(*) AS nhit
  FROM (
    {" UNION ALL ".join(f"SELECT o_orderkey, o_custkey, {_oracle_bloom_pos('o_custkey', i)} AS pos FROM probe" for i in range(BLOOM_K))}
  ) p JOIN bits USING (pos)
  GROUP BY 1, 2
),
passed AS (SELECT o_orderkey, o_custkey FROM hits WHERE nhit = {BLOOM_K}),
truth AS (
  SELECT o_orderkey FROM probe SEMI JOIN build ON o_custkey = c_custkey
)
SELECT (SELECT COUNT(*) FROM probe) AS n_probe,
       (SELECT COUNT(*) FROM bits) AS n_bits_set,
       (SELECT COUNT(*) FROM passed) AS n_passed,
       (SELECT COUNT(*) FROM truth) AS n_true,
       (SELECT COUNT(*) FROM passed) - (SELECT COUNT(*) FROM truth)
         AS n_false_positive
""",
)
def bloom_join_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    build = (
        table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == BLOOM_SEGMENT)
        .select("c_custkey")
    )
    # the filter: distinct positions over k salted hashes — ≤ k·|build| ints
    bits = (
        build.select(
            F.explode(
                F.array(*[_bloom_pos(F.col("c_custkey"), i) for i in range(BLOOM_K)])
            ).alias("pos")
        )
        .distinct()
    )
    probe = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    probe_pos = probe.select(
        "o_orderkey",
        "o_custkey",
        F.explode(
            F.array(*[_bloom_pos(F.col("o_custkey"), i) for i in range(BLOOM_K)])
        ).alias("pos"),
    )
    # broadcast the (tiny) bit set to every probe task — map-side pruning,
    # no shuffle of the probe side
    passed = (
        probe_pos.join(F.broadcast(bits), "pos")
        .groupBy("o_orderkey", "o_custkey")
        .agg(F.count(F.lit(1)).alias("nhit"))
        .where(F.col("nhit") == BLOOM_K)
    )
    truth = probe.join(F.broadcast(build), probe.o_custkey == build.c_custkey, "left_semi")
    counts = [
        probe.agg(F.count(F.lit(1)).alias("n_probe")),
        bits.agg(F.count(F.lit(1)).alias("n_bits_set")),
        passed.agg(F.count(F.lit(1)).alias("n_passed")),
        truth.agg(F.count(F.lit(1)).alias("n_true")),
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.crossJoin(c)
    return out.withColumn(
        "n_false_positive", F.col("n_passed") - F.col("n_true")
    )


# --------------------------------------------------------------------------
# Order-independent table fingerprints
# --------------------------------------------------------------------------

# canonical per-table renderings: ints/strings as-is, doubles on a cent
# grid, timestamps via explicit format — engine-portable by construction
_FP_COLS: dict[str, list[str]] = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "CENTS:c_acctbal", "c_mktsegment"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "CENTS:s_acctbal"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "CENTS:p_retailprice"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "CENTS:o_totalprice", "TS:o_orderdate", "o_orderpriority"],
}


def _render_spark(spec: str) -> Column:
    if spec.startswith("CENTS:"):
        c = F.col(spec[6:])
        return F.floor(c * 100 + F.lit(0.5)).cast("bigint").cast("string")
    if spec.startswith("TS:"):
        return F.date_format(F.col(spec[3:]), "yyyy-MM-dd HH:mm:ss")
    return F.col(spec).cast("string")


def _render_oracle(spec: str) -> str:
    if spec.startswith("CENTS:"):
        return f"CAST(CAST(floor({spec[6:]} * 100 + 0.5) AS BIGINT) AS VARCHAR)"
    if spec.startswith("TS:"):
        return f"strftime({spec[3:]}, '%Y-%m-%d %H:%M:%S')"
    return f"CAST({spec} AS VARCHAR)"


def fingerprint_of(df: DataFrame, specs: list[str]) -> DataFrame:
    """(n_rows, checksum) of a DataFrame under the canonical rendering —
    one map-side-combinable aggregate, order/partitioning-independent."""
    # F.concat (NULL-in → NULL-out) mirrors DuckDB `||`; concat_ws would
    # silently skip NULL cells and desynchronize the two renderings
    rendered = [_render_spark(s) for s in specs]
    interleaved: list[Column] = []
    for i, c in enumerate(rendered):
        if i:
            interleaved.append(F.lit("|"))
        interleaved.append(c)
    row_repr = F.concat(*interleaved)
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(hash_hex(row_repr, 15).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("checksum"),
    )


@register(
    "table_fingerprints",
    category="integrity",
    doc="Anti-entropy fingerprints for six tables: per table, row count + "
    "order-independent checksum (exact DECIMAL(38,0) sum of 60-bit md5 of "
    "each row's canonical rendering). The replica-comparison primitive: "
    "one map-side-combinable aggregate per table, no shuffle beyond the "
    "final 1-row combines; any row order / partitioning yields the same "
    "checksum on any engine.",
    oracle=" UNION ALL ".join(
        f"""
SELECT '{t}' AS tbl, COUNT(*) AS n_rows,
       CAST(CAST(SUM(CAST({_oracle_hash(" || '|' || ".join(_render_oracle(s) for s in specs))} AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR) AS checksum
FROM {t}"""
        for t, specs in _FP_COLS.items()
    ),
)
def table_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = []
    for t, specs in _FP_COLS.items():
        parts.append(
            fingerprint_of(table(spark, sf_dir, t), specs).select(
                F.lit(t).alias("tbl"), "n_rows", "checksum"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --------------------------------------------------------------------------
# Column profiling (ANALYZE-style statistics collection)
# --------------------------------------------------------------------------

_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]


@register(
    "profile_orders_columns",
    category="integrity",
    doc="ANALYZE-style column profile of orders: per column, row count, "
    "nulls, exact distinct count, min/max (as canonical strings). One pass "
    "per profiled relation via a single multi-aggregate + an unpivot to "
    "the (column, stat) grain — the optimizer-statistics collection every "
    "warehouse runs; exact NDV here (the sketch variant is "
    "approx_count_distinct).",
    oracle=" UNION ALL ".join(
        f"""
SELECT '{c}' AS col, COUNT(*) AS n_rows,
       COUNT(*) - COUNT({c}) AS n_nulls,
       COUNT(DISTINCT {c}) AS n_distinct,
       CAST(MIN({c}) AS VARCHAR) AS min_v,
       CAST(MAX({c}) AS VARCHAR) AS max_v
FROM orders"""
        for c in _PROFILE_COLS
    ),
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    parts = []
    for c in _PROFILE_COLS:
        parts.append(
            o.agg(
                F.count(F.lit(1)).alias("n_rows"),
                (F.count(F.lit(1)) - F.count(c)).alias("n_nulls"),
                F.countDistinct(c).alias("n_distinct"),
                F.min(c).cast("string").alias("min_v"),
                F.max(c).cast("string").alias("max_v"),
            ).select(F.lit(c).alias("col"), "*")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --------------------------------------------------------------------------
# GDPR erasure audit (right-to-be-forgotten propagation)
# --------------------------------------------------------------------------

ERASE_SAMPLE_MOD = 97  # custkeys with key % 97 == 0 request erasure


@register(
    "gdpr_erasure_audit",
    category="integrity",
    doc="Right-to-be-forgotten propagation: a deterministic erasure set "
    f"(custkey % {ERASE_SAMPLE_MOD} = 0) is deleted from customer and "
    "cascaded through orders; the audit row proves completeness — rows "
    "removed per table, zero surviving references (anti-join both "
    "directions). The erasure set broadcasts; both deletes are map-side "
    "anti-joins, no shuffle of the fact tables.",
    oracle=f"""
WITH erase AS (
  SELECT c_custkey FROM customer WHERE c_custkey % {ERASE_SAMPLE_MOD} = 0
),
c_after AS (
  SELECT * FROM customer ANTI JOIN erase USING (c_custkey)
),
o_after AS (
  SELECT * FROM orders o ANTI JOIN erase e ON o.o_custkey = e.c_custkey
)
SELECT (SELECT COUNT(*) FROM erase) AS n_erased_keys,
       (SELECT COUNT(*) FROM customer) - (SELECT COUNT(*) FROM c_after)
         AS customers_removed,
       (SELECT COUNT(*) FROM orders) - (SELECT COUNT(*) FROM o_after)
         AS orders_removed,
       (SELECT COUNT(*) FROM o_after o SEMI JOIN erase e
         ON o.o_custkey = e.c_custkey) AS surviving_refs
""",
)
def gdpr_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    erase = cust.where(F.col("c_custkey") % ERASE_SAMPLE_MOD == 0).select(
        "c_custkey"
    )
    c_after = cust.join(F.broadcast(erase), "c_custkey", "left_anti")
    o_after = orders.join(
        F.broadcast(erase), orders.o_custkey == erase.c_custkey, "left_anti"
    )
    surviving = o_after.join(
        F.broadcast(erase), o_after.o_custkey == erase.c_custkey, "left_semi"
    )
    parts = [
        erase.agg(F.count(F.lit(1)).alias("n_erased_keys")),
        cust.agg(F.count(F.lit(1)).alias("c_total")),
        c_after.agg(F.count(F.lit(1)).alias("c_after")),
        orders.agg(F.count(F.lit(1)).alias("o_total")),
        o_after.agg(F.count(F.lit(1)).alias("o_after")),
        surviving.agg(F.count(F.lit(1)).alias("surviving_refs")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.crossJoin(p)
    return out.select(
        "n_erased_keys",
        (F.col("c_total") - F.col("c_after")).alias("customers_removed"),
        (F.col("o_total") - F.col("o_after")).alias("orders_removed"),
        "surviving_refs",
    )


# --------------------------------------------------------------------------
# Benford first-digit audit
# --------------------------------------------------------------------------


@register(
    "benford_first_digit_audit",
    category="integrity",
    doc="Benford's-law first-digit audit over order totals — the classic "
    "fabricated-data screen: observed first-significant-digit share next "
    "to the Benford expectation log10(1+1/d) and the absolute deviation. "
    "First digit comes from the DECIMAL(18,2) string rendering (identical "
    "digits on both engines; no float-to-string drift), shares and the "
    "libm log10 are rounded to 6dp before the exact subtraction.",
    oracle="""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1)
              AS INTEGER) AS digit
  FROM orders WHERE o_totalprice >= 1
),
counts AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM counts)
SELECT digit, n,
       round(CAST(n AS DOUBLE) / t, 6) AS pct,
       round(log10(1 + 1.0 / digit), 6) AS benford_pct,
       abs(round(CAST(n AS DOUBLE) / t, 6)
           - round(log10(1 + 1.0 / digit), 6)) AS abs_dev
FROM counts, tot
""",
)
def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") >= 1)
        .select(
            F.substring(
                F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
            )
            .cast("int")
            .alias("digit")
        )
    )
    counts = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = F.sum("n").over(Window.partitionBy())
    pct = F.round(F.col("n").cast("double") / t, 6)
    benford = F.round(F.log10(1 + 1.0 / F.col("digit")), 6)
    return counts.select(
        "digit",
        "n",
        pct.alias("pct"),
        benford.alias("benford_pct"),
        F.abs(pct - benford).alias("abs_dev"),
    )


# --------------------------------------------------------------------------
# Governance: row-level security + column masking view
# --------------------------------------------------------------------------

RLS_REGION = "ASIA"


@register(
    "masked_customer_view",
    category="integrity",
    doc="Governance surface: a masked, row-filtered serving view — "
    f"row-level policy keeps only {RLS_REGION}-region customers (semi-join "
    "through nation⋈region, both broadcast dims); column policies emit a "
    "salted-md5 pseudonym key, mask() over the name (upper→X, lower→x, "
    "digit→n), and the account balance generalized to a 100-unit band "
    "(integer-cents floor — no float banding drift). The Spark mask() "
    "built-in is replicated in the oracle with a regexp chain.",
    oracle=f"""
WITH allowed AS (
  SELECT n.n_nationkey FROM nation n
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE r.r_name = '{RLS_REGION}'
)
SELECT md5('pseudo:' || CAST(c_custkey AS VARCHAR)) AS pseudo_id,
       regexp_replace(regexp_replace(regexp_replace(
         c_name, '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
         AS masked_name,
       CAST(floor(CAST(round(c_acctbal * 100) AS BIGINT) / 10000.0) AS BIGINT)
         * 100 AS acctbal_band,
       c_mktsegment
FROM customer
WHERE c_nationkey IN (SELECT n_nationkey FROM allowed)
""",
)
def masked_customer_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    allowed = (
        table(spark, sf_dir, "nation")
        .join(
            F.broadcast(table(spark, sf_dir, "region")),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .where(F.col("r_name") == RLS_REGION)
        .select("n_nationkey")
    )
    cust = table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    return (
        cust.join(
            F.broadcast(allowed),
            cust.c_nationkey == allowed.n_nationkey,
            "left_semi",
        )
        .select(
            F.md5(F.concat(F.lit("pseudo:"), F.col("c_custkey").cast("string")))
            .alias("pseudo_id"),
            F.mask(F.col("c_name")).alias("masked_name"),
            (F.floor(cents / 10000.0).cast("long") * 100).alias("acctbal_band"),
            "c_mktsegment",
        )
    )


@register(
    "k_anonymity_audit",
    category="integrity",
    doc="k-anonymity audit of the customer table under the quasi-identifier "
    "(nation, market segment, account-balance decile): equivalence-class "
    "sizes from one groupBy, per-class k, the anonymity verdict (k >= 5), "
    "and the share of customers at risk — the re-identification audit run "
    "before releasing a 'de-identified' extract (pairs with "
    "masked_customer_view / pii_redact / gdpr_erasure_audit as the "
    "governance suite). One shuffle on the QI tuple at any scale.",
    oracle="""
WITH qi AS (
  SELECT c_nationkey,
         c_mktsegment,
         least(CAST(floor(c_acctbal / 1200.0) AS INTEGER), 9) AS bal_decile
  FROM customer
),
classes AS (
  SELECT c_nationkey, c_mktsegment, bal_decile, COUNT(*) AS k
  FROM qi GROUP BY 1, 2, 3
),
tot AS (SELECT CAST(SUM(k) AS DOUBLE) AS n FROM classes)
SELECT c_nationkey, c_mktsegment, bal_decile, k,
       k >= 5 AS k_anonymous,
       round(CASE WHEN k < 5 THEN k / n ELSE 0 END, 6) AS at_risk_share
FROM classes CROSS JOIN tot
""",
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    qi = table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.least(F.floor(F.col("c_acctbal") / 1200.0).cast("int"), F.lit(9)).alias(
            "bal_decile"
        ),
    )
    classes = qi.groupBy("c_nationkey", "c_mktsegment", "bal_decile").agg(
        F.count(F.lit(1)).alias("k")
    )
    tot = classes.agg(F.sum("k").cast("double").alias("n"))
    return classes.crossJoin(F.broadcast(tot)).select(
        "c_nationkey",
        "c_mktsegment",
        "bal_decile",
        "k",
        (F.col("k") >= 5).alias("k_anonymous"),
        F.round(
            F.when(F.col("k") < 5, F.col("k") / F.col("n")).otherwise(F.lit(0.0)), 6
        ).alias("at_risk_share"),
    )


@register(
    "observe_dq_single_pass",
    category="integrity",
    doc="Single-pass data-quality counters via df.observe (the Observation "
    "API): row count, null count, key min/max and an exact integer-cents "
    "total ride along a REAL write action as AggregatingAccumulators — at "
    "100 TB this replaces the second audit scan with zero extra I/O (the "
    "metrics are a byproduct of the write, not a re-read). The callable "
    "runs the observed noop write, then surfaces the captured metrics as a "
    "one-row DataFrame; the oracle recomputes them relationally.",
    oracle="""
SELECT COUNT(*) AS n_rows,
       COUNT(*) - COUNT(o_totalprice) AS null_prices,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders
""",
)
def observe_dq_single_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    obs = Observation("orders_dq")
    observed = table(spark, sf_dir, "orders").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").isNull().cast("bigint")).alias("null_prices"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")).alias(
            "total_cents"
        ),
    )
    # one action; the metrics piggyback on it (format=noop: a real
    # distributed pass with no sink I/O — stand-in for the production write)
    observed.write.mode("overwrite").format("noop").save()
    m = obs.get
    return local_frame(
        spark,
        [
            (
                int(m["n_rows"]),
                int(m["null_prices"]),
                int(m["min_key"]),
                int(m["max_key"]),
                int(m["total_cents"]),
            )
        ],
        "n_rows BIGINT, null_prices BIGINT, min_key BIGINT, max_key BIGINT, "
        "total_cents BIGINT",
    )


# --------------------------------------------------------------------------
# Key-skew profile (shuffle-planning diagnostics)
# --------------------------------------------------------------------------


@register(
    "key_skew_profile",
    category="integrity",
    doc="Join/shuffle skew diagnostics over the lineitem supplier key: key "
    "cardinality, hottest key (argmax with min-key tiebreak), hot-key "
    "multiple of the mean (ppm), and the exact Gini coefficient of the "
    "per-key row distribution — the numbers that decide salting / AQE "
    "skew-join thresholds before a big join ships. One map-side-combinable "
    "count per key; the Gini rank runs over the (much smaller) key-count "
    "relation with the two-phase exact global rank, so even a "
    "billion-key profile never funnels through one task. All ratios are "
    "half-up scaled-integer ppm in DECIMAL(38,0) — nothing float is "
    "hashed.",
    oracle="""
WITH counts AS (
  SELECT l_suppkey AS k, CAST(COUNT(*) AS HUGEINT) AS c
  FROM lineitem GROUP BY l_suppkey
),
ranked AS (
  SELECT c, CAST(row_number() OVER (ORDER BY c, k) AS HUGEINT) AS r
  FROM counts
),
tot AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS kk, CAST(SUM(c) AS HUGEINT) AS t,
         CAST(MAX(c) AS HUGEINT) AS mx,
         CAST(SUM(r * c) AS HUGEINT) AS s
  FROM ranked
),
top AS (
  SELECT MIN(k) AS top_key FROM counts WHERE c = (SELECT mx FROM tot)
)
SELECT CAST(kk AS BIGINT) AS n_keys,
       CAST(t AS BIGINT) AS total_rows,
       CAST(mx AS BIGINT) AS max_key_rows,
       top_key,
       CAST((2000000 * mx * kk + t) // (2 * t) AS BIGINT) AS skew_ratio_ppm,
       CAST((2000000 * (2 * s - (kk + 1) * t) + kk * t)
            // (2 * kk * t) AS BIGINT) AS gini_ppm
FROM tot CROSS JOIN top
""",
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.operators.windows import global_row_number

    counts = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_suppkey").alias("k"))
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("c"))
    )
    ranked = global_row_number(counts, [F.asc("c"), F.asc("k")], rn_name="r")
    tot = ranked.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("kk"),
        F.sum("c").cast("decimal(38,0)").alias("t"),
        F.max("c").cast("decimal(38,0)").alias("mx"),
        F.sum(F.col("r").cast("decimal(38,0)") * F.col("c"))
        .cast("decimal(38,0)")
        .alias("s"),
    )
    top = (
        counts.join(F.broadcast(tot.select("mx")), F.col("c") == F.col("mx"))
        .agg(F.min("k").alias("top_key"))
    )
    return (
        tot.crossJoin(F.broadcast(top))
        .select(
            F.col("kk").cast("bigint").alias("n_keys"),
            F.col("t").cast("bigint").alias("total_rows"),
            F.col("mx").cast("bigint").alias("max_key_rows"),
            "top_key",
            F.expr("(2000000 * mx * kk + t) DIV (2 * t)")
            .cast("bigint")
            .alias("skew_ratio_ppm"),
            F.expr(
                "(2000000 * (2 * s - (kk + 1) * t) + kk * t)"
                " DIV (2 * kk * t)"
            )
            .cast("bigint")
            .alias("gini_ppm"),
        )
    )


# --------------------------------------------------------------------------
# l-diversity audit (sensitive-attribute diversity inside QI classes)
# --------------------------------------------------------------------------

L_DIVERSITY_MIN = 3


@register(
    "l_diversity_audit",
    category="integrity",
    doc="l-diversity audit: within each quasi-identifier class (nation, "
    "market segment) the sensitive attribute (account-balance decile) "
    f"must take ≥ {L_DIVERSITY_MIN} distinct values — the follow-up check "
    "k-anonymity alone misses (a class of 50 rows that all share one "
    "sensitive value is still fully disclosive). One groupBy on the QI "
    "tuple with an exact distinct count; distinct-l and class size land "
    "in the same map-side-combinable pass.",
    oracle=f"""
SELECT c_nationkey, c_mktsegment,
       COUNT(*) AS k,
       CAST(COUNT(DISTINCT least(CAST(floor(c_acctbal / 1200.0) AS INTEGER), 9))
            AS BIGINT) AS l_distinct,
       COUNT(DISTINCT least(CAST(floor(c_acctbal / 1200.0) AS INTEGER), 9))
         >= {L_DIVERSITY_MIN} AS l_diverse
FROM customer
GROUP BY 1, 2
""",
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    sens = F.least(F.floor(F.col("c_acctbal") / 1200.0).cast("int"), F.lit(9))
    return (
        table(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.countDistinct(sens).alias("l_distinct"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "k",
            "l_distinct",
            (F.col("l_distinct") >= L_DIVERSITY_MIN).alias("l_diverse"),
        )
    )


# --------------------------------------------------------------------------
# Differentially-private counts via the geometric mechanism
# --------------------------------------------------------------------------

# Frozen 52-bit CDF thresholds for Geometric(1 - e^-0.5): T_g =
# floor(2^52 * (1 - alpha^(g+1))), alpha = e^-0.5 — the two-sided
# geometric (discrete Laplace) mechanism at eps=0.5 for a count query of
# sensitivity 1. Frozen literals keep both engines on the identical draw
# (the bootstrap_ci_revenue_poisson recipe); the tail is truncated at
# g=20 (P ~ 2.8e-5), identically on both sides.
_GEO_CDF_52 = [
    1772028374299899, 2846817913193522, 3498710721270908, 3894103696216006,
    4133921658155197, 4279378604821114, 4367602702642178, 4421113322896140,
    4453569154700408, 4473254611776172, 4485194445043081, 4492436319991317,
    4496828739181228, 4499492876090219, 4501108756807194, 4502088838004477,
    4502683287299638, 4503043839022797, 4503262524697306, 4503395164263735,
    4503475614227465,
]


def _geo_draw_spark(u: str) -> str:
    return " + ".join(
        f"(CASE WHEN {u} >= {t} THEN 1 ELSE 0 END)" for t in _GEO_CDF_52
    )


@register(
    "dp_geometric_noisy_counts",
    category="integrity",
    doc="Differentially-private release of per-segment customer counts via "
    "the geometric mechanism (discrete Laplace, eps=0.5): noise = G1 - G2 "
    "with G ~ Geometric drawn by comparing a 52-bit md5 uniform against "
    "frozen integer CDF thresholds — float-free, engine-portable, "
    "deterministic given the release key. The true count rides along as "
    "the audit column (this is the calibration op, not the release "
    "surface). One map-side-combinable groupBy; noise is O(segments) "
    "post-agg arithmetic.",
    oracle=f"""
WITH seg AS (
  SELECT c_mktsegment AS segment, COUNT(*) AS true_n FROM customer GROUP BY 1
),
u AS (
  SELECT segment, true_n,
         ('0x' || substr(md5('dp1:' || segment), 1, 13))::BIGINT AS u1,
         ('0x' || substr(md5('dp2:' || segment), 1, 13))::BIGINT AS u2
  FROM seg
)
SELECT segment, true_n,
       CAST(({_geo_draw_spark('u1')}) - ({_geo_draw_spark('u2')}) AS BIGINT)
         AS noise,
       CAST(true_n + ({_geo_draw_spark('u1')}) - ({_geo_draw_spark('u2')})
            AS BIGINT) AS noisy_n
FROM u
""",
)
def dp_geometric_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    seg = (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("true_n"))
    )
    u = seg.select(
        "segment",
        "true_n",
        hash_hex(F.concat(F.lit("dp1:"), F.col("segment")), 13).alias("u1"),
        hash_hex(F.concat(F.lit("dp2:"), F.col("segment")), 13).alias("u2"),
    )
    g1 = F.expr(_geo_draw_spark("u1"))
    g2 = F.expr(_geo_draw_spark("u2"))
    return u.select(
        "segment",
        "true_n",
        (g1 - g2).cast("bigint").alias("noise"),
        (F.col("true_n") + g1 - g2).cast("bigint").alias("noisy_n"),
    )


# --------------------------------------------------------------------------
# Rendezvous (HRW) consistent-hashing rebalance audit
# --------------------------------------------------------------------------

HRW_SHARDS_BEFORE = 7


@register(
    "rendezvous_shard_rebalance",
    category="integrity",
    doc=f"Consistent-hashing rebalance audit via rendezvous (HRW) hashing: "
    f"orders assigned to argmax_s md5(key, s) over {HRW_SHARDS_BEFORE} "
    f"shards, then re-assigned over {HRW_SHARDS_BEFORE + 1}. The defining "
    "HRW guarantee is exact and oracle-checked: every moved key moves TO "
    "the new shard (old assignments are disturbed only by the newcomer "
    "winning), and the moved fraction is ~1/(N+1). Per-key work is N+1 "
    "md5 evaluations map-side; the audit is one aggregate.",
    oracle=f"""
WITH k AS (SELECT o_orderkey AS key FROM orders),
scores AS (
  SELECT key, s,
         ('0x' || substr(md5('hrw:' || CAST(key AS VARCHAR) || ':' || CAST(s AS VARCHAR)), 1, 13))::BIGINT AS sc
  FROM k CROSS JOIN (SELECT unnest(range({HRW_SHARDS_BEFORE + 1})) AS s)
),
a AS (
  SELECT key,
         arg_max(s, sc) FILTER (WHERE s < {HRW_SHARDS_BEFORE}) AS shard_before,
         arg_max(s, sc) AS shard_after
  FROM scores GROUP BY key
)
SELECT COUNT(*) AS n_keys,
       COUNT(*) FILTER (WHERE shard_before <> shard_after) AS n_moved,
       COUNT(*) FILTER (WHERE shard_before <> shard_after
                          AND shard_after <> {HRW_SHARDS_BEFORE}) AS n_moved_elsewhere,
       CAST((2000000 * COUNT(*) FILTER (WHERE shard_before <> shard_after)
             + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS moved_ppm
FROM a
""",
)
def rendezvous_shard_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = HRW_SHARDS_BEFORE
    k = table(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("key"))
    shards = F.array(*[F.lit(s) for s in range(n + 1)])
    scores = k.select(
        "key",
        F.explode(shards).alias("s"),
    ).select(
        "key",
        "s",
        hash_hex(
            F.concat(
                F.lit("hrw:"),
                F.col("key").cast("string"),
                F.lit(":"),
                F.col("s").cast("string"),
            ),
            13,
        ).alias("sc"),
    )
    a = scores.groupBy("key").agg(
        F.max_by("s", F.when(F.col("s") < n, F.col("sc"))).alias(
            "shard_before"
        ),
        F.max_by("s", "sc").alias("shard_after"),
    )
    moved = F.when(F.col("shard_before") != F.col("shard_after"), 1).otherwise(0)
    return a.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(moved).cast("bigint").alias("n_moved"),
        F.sum(
            F.when(
                (F.col("shard_before") != F.col("shard_after"))
                & (F.col("shard_after") != n),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_moved_elsewhere"),
        F.expr(
            "CAST((2000000 * sum(CASE WHEN shard_before <> shard_after THEN 1 ELSE 0 END)"
            " + count(*)) DIV (2 * count(*)) AS BIGINT)"
        ).alias("moved_ppm"),
    )


# ---------------------------------------------------------------------------
# t-closeness — the distributional privacy audit (completes k-anon / l-div)
# ---------------------------------------------------------------------------

TCLOSE_BUCKET_W = 5000000  # 50k-dollar cents buckets for the sensitive attr
TCLOSE_BUCKETS = 4
TCLOSE_T_PPM = 200000  # t = 0.2


@register(
    "t_closeness_audit",
    category="privacy",
    doc=f"t-closeness audit (t={TCLOSE_T_PPM / 1e6}): for each quasi-"
    "identifier class (order priority x order year), the Earth Mover's "
    "Distance between the class's distribution of the ORDERED sensitive "
    f"attribute (order value in {TCLOSE_BUCKETS} fixed buckets) and the "
    "global distribution — EMD over an ordered domain is the sum of "
    "|cumulative-share differences| / (V-1). Completes the privacy "
    "family: k_anonymity_audit (class size), l_diversity_audit (distinct "
    "sensitive values), t_closeness (distributional leakage). EXACTNESS: "
    "cumulative shares compare by CROSS-MULTIPLICATION of raw counts "
    "(|cum_g*n_tot - cum_tot*n_g|), summed in DECIMAL(38,0) and emitted "
    "as one half-up emd_ppm — no float quotient. ONE conditional "
    "aggregate per class (the bucket domain is fixed), a broadcast 1-row "
    "totals join.",
    oracle=f"""
WITH s AS (
  SELECT o_orderpriority AS prio,
         CAST(year(o_orderdate) AS BIGINT) AS yr,
         least(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // {TCLOSE_BUCKET_W},
               {TCLOSE_BUCKETS - 1}) AS v
  FROM orders
),
g AS (
  SELECT prio, yr,
         CAST(COUNT(*) AS HUGEINT) AS n_g,
         CAST(SUM(CASE WHEN v <= 0 THEN 1 ELSE 0 END) AS HUGEINT) AS c0,
         CAST(SUM(CASE WHEN v <= 1 THEN 1 ELSE 0 END) AS HUGEINT) AS c1,
         CAST(SUM(CASE WHEN v <= 2 THEN 1 ELSE 0 END) AS HUGEINT) AS c2
  FROM s GROUP BY prio, yr
),
t AS (
  SELECT CAST(SUM(n_g) AS HUGEINT) AS n_t,
         CAST(SUM(c0) AS HUGEINT) AS t0,
         CAST(SUM(c1) AS HUGEINT) AS t1,
         CAST(SUM(c2) AS HUGEINT) AS t2
  FROM g
),
d AS (
  SELECT prio, yr, n_g, n_t,
         abs(c0 * n_t - t0 * n_g) + abs(c1 * n_t - t1 * n_g)
           + abs(c2 * n_t - t2 * n_g) AS dd
  FROM g CROSS JOIN t
)
SELECT prio, yr, CAST(n_g AS BIGINT) AS n_rows,
       CAST((2 * dd * 1000000 + n_g * n_t * {TCLOSE_BUCKETS - 1})
            // (2 * n_g * n_t * {TCLOSE_BUCKETS - 1}) AS BIGINT) AS emd_ppm,
       (2 * dd * 1000000 + n_g * n_t * {TCLOSE_BUCKETS - 1})
            // (2 * n_g * n_t * {TCLOSE_BUCKETS - 1}) <= {TCLOSE_T_PPM} AS t_close_ok
FROM d
""",
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    s = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.least(
            F.expr(
                f"CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) DIV {TCLOSE_BUCKET_W}"
            ),
            F.lit(TCLOSE_BUCKETS - 1).cast("bigint"),
        ).alias("v"),
    )
    g = s.groupBy("prio", "yr").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_g"),
        F.sum((c("v") <= 0).cast("int")).cast("decimal(38,0)").alias("c0"),
        F.sum((c("v") <= 1).cast("int")).cast("decimal(38,0)").alias("c1"),
        F.sum((c("v") <= 2).cast("int")).cast("decimal(38,0)").alias("c2"),
    ).localCheckpoint()  # totals + per-class rows share it
    t = g.agg(
        F.sum("n_g").cast("decimal(38,0)").alias("n_t"),
        F.sum("c0").cast("decimal(38,0)").alias("t0"),
        F.sum("c1").cast("decimal(38,0)").alias("t1"),
        F.sum("c2").cast("decimal(38,0)").alias("t2"),
    )
    dd = (
        F.abs(c("c0") * c("n_t") - c("t0") * c("n_g"))
        + F.abs(c("c1") * c("n_t") - c("t1") * c("n_g"))
        + F.abs(c("c2") * c("n_t") - c("t2") * c("n_g"))
    ).cast("decimal(38,0)")
    emd = F.expr(
        f"CAST((2 * dd * 1000000 + n_g * n_t * {TCLOSE_BUCKETS - 1})"
        f" DIV (2 * n_g * n_t * {TCLOSE_BUCKETS - 1}) AS BIGINT)"
    )
    return (
        g.crossJoin(F.broadcast(t))
        .withColumn("dd", dd)
        .select(
            "prio",
            "yr",
            c("n_g").cast("bigint").alias("n_rows"),
            emd.alias("emd_ppm"),
            (emd <= TCLOSE_T_PPM).alias("t_close_ok"),
        )
    )
