"""Time-series operators: calendar densification + last-observation-carried-
forward (LOCF), and declarative data-quality checks.

Gap filling = generate the dense calendar (sequence/explode — no shuffle),
left-join observations, then one LOCF window per key. The same shape handles
sensor/telemetry downsampling at 100 TB: the dense axis is generated, never
stored.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from wheels_in_motion_analytics_spark.compat import dsum, oracle_dsum
from wheels_in_motion_analytics_spark.registry import register
from wheels_in_motion_analytics_spark.tables import local_frame, table


def gap_fill_locf(
    observed: DataFrame, key: str, date_col: str, value_cols: list[str], calendar: DataFrame
) -> DataFrame:
    """Densify ``observed`` onto ``calendar`` (one row per key × date) and
    carry the last observation forward per key."""
    keys = observed.select(key).distinct()
    dense = keys.crossJoin(calendar)
    joined = dense.join(observed, [key, date_col], "left")
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(date_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.withColumns(
        {c: F.last(F.col(c), ignorenulls=True).over(w) for c in value_cols}
    )


@register(
    "gap_fill_locf_daily",
    category="timeseries",
    doc="Calendar densification + LOCF: daily spend per user over the first "
    "week of 2024-01, missing days carried forward (generated calendar — "
    "the dense axis is never stored).",
    oracle=f"""
WITH cal AS (
  SELECT CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-01-07', INTERVAL 1 DAY)) AS DATE) AS day
),
obs AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         {oracle_dsum('value')} AS day_value
  FROM events
  WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-08 00:00:00'
  GROUP BY 1, 2
),
dense AS (
  SELECT u.user_id, cal.day
  FROM (SELECT DISTINCT user_id FROM obs) u CROSS JOIN cal
)
SELECT d.user_id, d.day,
       last_value(o.day_value IGNORE NULLS)
         OVER (PARTITION BY d.user_id ORDER BY d.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS day_value
FROM dense d LEFT JOIN obs o ON d.user_id = o.user_id AND d.day = o.day
""",
)
def gap_fill_locf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    obs = (
        table(spark, sf_dir, "events")
        .where(
            (F.col("event_type") == "purchase")
            & (F.col("ts") < F.lit("2024-01-08 00:00:00").cast("timestamp_ntz"))
        )
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(dsum("value").alias("day_value"))
    )
    calendar = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-01-07").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    return gap_fill_locf(obs, "user_id", "day", ["day_value"], calendar)


@register(
    "sessionize_events",
    category="timeseries",
    doc="Batch sessionization: per-user event stream split into sessions at "
    ">30 min inactivity gaps (lag + running sum of session-boundary flags — "
    "the classic gaps-and-islands rewrite). One shuffle on user_id serves "
    "both windows AND the final per-session agg; no self-join, no explosion. "
    "Batch twin of the session_window streaming op (streaming/windows.py). "
    "Tiebreak on event_id makes the lag order total, so the result is "
    "engine- and partitioning-independent.",
    oracle=f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   <= INTERVAL 30 MINUTE
              THEN 0 ELSE 1 END AS is_new
  FROM events
),
sess AS (
  SELECT user_id, ts, value,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       {oracle_dsum('value')} AS session_value
FROM sess
GROUP BY user_id, session_seq
""",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts stays TIMESTAMP_NTZ: session_start/session_end surface raw
    # timestamps, and an NTZ->instant cast renders session-TZ-dependent
    # at collect (r10 hostile-session-TZ axis); NTZ lag-diff + interval
    # comparison match the oracle's naive arithmetic under every TZ.
    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w_lag = Window.partitionBy("user_id").orderBy(*order)
    w_run = w_lag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    is_new = F.when(
        F.col("ts") - F.lag("ts").over(w_lag) <= F.expr("INTERVAL 30 MINUTES"),
        F.lit(0),
    ).otherwise(F.lit(1))
    return (
        ev.withColumn("is_new", is_new)
        .withColumn("session_seq", F.sum("is_new").over(w_run))
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("session_value"),
        )
    )


# --- data quality -----------------------------------------------------------

DQ_RULES: list[tuple[str, str]] = [
    # (rule name, SQL predicate that VIOLATES the rule)
    ("qty_positive", "l_quantity <= 0"),
    ("qty_below_cap", "l_quantity > 49"),
    ("discount_in_range", "l_discount < 0 OR l_discount > 1"),
    ("price_positive", "l_extendedprice <= 0"),
    ("tax_in_range", "l_tax < 0 OR l_tax > 0.07"),
    ("shipdate_present", "l_shipdate IS NULL"),
]


@register(
    "dq_violation_counts",
    category="quality",
    doc="Declarative data-quality audit: violation count per rule in one "
    "pass (the null-profile A1 generalized to arbitrary predicates).",
    oracle="""
SELECT {cols}
FROM lineitem
""".format(
        cols=",\n       ".join(
            f"COUNT(*) FILTER (WHERE {pred}) AS {name}" for name, pred in DQ_RULES
        )
    ),
)
def dq_violation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        *[
            F.count(F.when(F.expr(pred), F.lit(1))).alias(name)
            for name, pred in DQ_RULES
        ]
    )


@register(
    "dq_violating_rows",
    category="quality",
    doc="Data-quality quarantine: rows breaking any rule, tagged with the "
    "comma-joined list of failed rules (empty result on clean data is itself "
    "the check). String-typed tag — array cells crash the driver "
    "canonicalizer.",
    oracle="""
SELECT l_orderkey, l_linenumber,
       array_to_string({arr}, ',') AS failed_rules
FROM lineitem
WHERE {any_pred}
""".format(
        arr="list_filter([" + ", ".join(
            f"CASE WHEN {pred} THEN '{name}' END" for name, pred in DQ_RULES
        ) + "], x -> x IS NOT NULL)",
        any_pred=" OR ".join(f"({pred})" for _, pred in DQ_RULES),
    ),
)
def dq_violating_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    failed = F.array_join(
        F.filter(
            F.array(
                *[F.when(F.expr(pred), F.lit(name)) for name, pred in DQ_RULES]
            ),
            lambda x: x.isNotNull(),
        ),
        ",",
    )
    any_pred = " OR ".join(f"({pred})" for _, pred in DQ_RULES)
    return li.where(F.expr(any_pred)).select(
        "l_orderkey", "l_linenumber", failed.alias("failed_rules")
    )


@register(
    "ohlc_resample_5min",
    category="timeseries",
    doc="Downsample the event stream into 5-minute OHLC bars per event "
    "type: open/close via min_by/max_by on a composite (ts, event_id) "
    "sort key (total order — no first()/last() nondeterminism), high/low "
    "as plain min/max, volume decimal-accumulated. One map-side-combinable "
    "aggregate; at 100 TB this is the standard telemetry rollup shape.",
    oracle=f"""
SELECT event_type,
       CAST(date_trunc('hour', ts) AS TIMESTAMP)
         + INTERVAL (CAST(minute(ts) AS INTEGER) // 5 * 5) MINUTE AS bar_ts,
       arg_min(value, date_diff('microsecond', TIMESTAMP '2024-01-01 00:00:00', ts)
                      * 100000 + event_id) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       arg_max(value, date_diff('microsecond', TIMESTAMP '2024-01-01 00:00:00', ts)
                      * 100000 + event_id) AS close,
       COUNT(*) AS n_events,
       {{dsum}} AS volume
FROM events
GROUP BY 1, 2
""".format(dsum="CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)"),
)
def ohlc_resample_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    # Ordering key: wall-clock microseconds from a fixed anchor (tz-free on
    # both engines) scaled, plus event_id as the total-order tiebreak.
    skey = (
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '2024-01-01 00:00:00', ts)"
        )
        * F.lit(100000)
        + F.col("event_id")
    )
    # Bar label: pure wall-clock arithmetic on the NTZ value — no session
    # timezone anywhere in the plan.
    bar = F.date_trunc("hour", F.col("ts")) + F.make_dt_interval(
        mins=F.floor(F.minute("ts") / 5) * 5
    )
    return (
        ev.groupBy(
            "event_type",
            bar.cast("timestamp_ntz").alias("bar_ts"),
        )
        .agg(
            F.min_by("value", skey).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", skey).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("volume"),
        )
    )


@register(
    "funnel_view_click_purchase",
    category="timeseries",
    doc="Sequential funnel: per user, first 'view', first 'click' AFTER "
    "that view, first 'purchase' after that click — stage user counts for "
    "conversion analysis. Three user-keyed conditional-min aggregates "
    "chained by strictly-later joins; every shuffle is on user_id, so the "
    "whole funnel co-partitions at scale.",
    oracle="""
WITH v AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT 'stage1_view' AS stage, COUNT(*) AS n_users FROM v
UNION ALL SELECT 'stage2_click', COUNT(*) FROM c
UNION ALL SELECT 'stage3_purchase', COUNT(*) FROM p
ORDER BY stage
""",
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    def first_after(etype: str, prev: DataFrame | None, t_col: str, out: str) -> DataFrame:
        stage = ev.where(F.col("event_type") == etype)
        if prev is not None:
            stage = stage.join(prev, "user_id").where(F.col("ts") > F.col(t_col))
        return stage.groupBy("user_id").agg(F.min("ts").alias(out))

    v = first_after("view", None, "", "t1")
    c = first_after("click", v, "t1", "t2")
    p = first_after("purchase", c, "t2", "t3")
    out = None
    for stage, df in (
        ("stage1_view", v),
        ("stage2_click", c),
        ("stage3_purchase", p),
    ):
        branch = df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(stage).alias("stage"), "n_users"
        )
        out = branch if out is None else out.unionByName(branch)
    return out.orderBy("stage")


@register(
    "peak_concurrency_sweep",
    category="timeseries",
    doc="Sweep-line peak concurrency: each event opens a 10-minute activity "
    "interval; +1/-1 boundary deltas are unioned and a running sum ordered "
    "by (time, delta, event_id) — closes before opens at the same instant, "
    "half-open intervals — yields concurrency; max per event type. The "
    "interval-overlap aggregation that would explode as a self-join, done "
    "as one sort per key.",
    oracle="""
WITH bounds AS (
  SELECT event_type, ts AS t, 1 AS delta, event_id FROM events
  UNION ALL
  SELECT event_type, ts + INTERVAL 10 MINUTE, -1, event_id FROM events
),
running AS (
  SELECT event_type,
         SUM(delta) OVER (PARTITION BY event_type
                          ORDER BY t, delta, event_id
                          ROWS UNBOUNDED PRECEDING) AS live
  FROM bounds
)
SELECT event_type, CAST(MAX(live) AS BIGINT) AS peak_concurrency
FROM running
GROUP BY event_type
ORDER BY event_type
""",
)
def peak_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("event_type", "ts", "event_id")
    opens = ev.select(
        "event_type", F.col("ts").alias("t"), F.lit(1).alias("delta"), "event_id"
    )
    closes = ev.select(
        "event_type",
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("t"),
        F.lit(-1).alias("delta"),
        "event_id",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t", "delta", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        opens.unionByName(closes)
        .withColumn("live", F.sum("delta").over(w))
        .groupBy("event_type")
        .agg(F.max("live").cast("bigint").alias("peak_concurrency"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Multi-horizon rolling feature windows (feature-store shape)
# ---------------------------------------------------------------------------

ROLL_HORIZONS = (30, 90)  # trailing days, inclusive of the current day


@register(
    "rolling_features_customer",
    category="timeseries",
    doc="Feature-store rolling windows: per (customer, order), trailing "
    f"{ROLL_HORIZONS[0]}- and {ROLL_HORIZONS[1]}-day order counts and "
    "revenue (RANGE frames over an epoch-day axis — value-based frames, so "
    "same-day peers aggregate identically on every engine) plus "
    "days-since-previous-order (lag). One shuffle on the customer key "
    "serves all four windows; revenue accumulates in decimal. The backbone "
    "of churn/recency-frequency-monetary feature pipelines.",
    oracle=f"""
WITH o AS (
  SELECT o_custkey, o_orderkey,
         date_diff('day', TIMESTAMP '1990-01-01 00:00:00', o_orderdate) AS d,
         o_totalprice
  FROM orders
)
SELECT o_custkey, o_orderkey,
       COUNT(*) OVER w30 AS cnt_30d,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w30 AS DOUBLE)
         AS rev_30d,
       COUNT(*) OVER w90 AS cnt_90d,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w90 AS DOUBLE)
         AS rev_90d,
       d - lag(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey)
         AS days_since_prev
FROM o
WINDOW
  w30 AS (PARTITION BY o_custkey ORDER BY d
          RANGE BETWEEN {ROLL_HORIZONS[0] - 1} PRECEDING AND CURRENT ROW),
  w90 AS (PARTITION BY o_custkey ORDER BY d
          RANGE BETWEEN {ROLL_HORIZONS[1] - 1} PRECEDING AND CURRENT ROW)
""",
)
def rolling_features_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate"), F.lit("1990-01-01").cast("timestamp")
        ).alias("d"),
        "o_totalprice",
    )
    w30 = (
        Window.partitionBy("o_custkey")
        .orderBy("d")
        .rangeBetween(-(ROLL_HORIZONS[0] - 1), 0)
    )
    w90 = (
        Window.partitionBy("o_custkey")
        .orderBy("d")
        .rangeBetween(-(ROLL_HORIZONS[1] - 1), 0)
    )
    wlag = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    dec = F.col("o_totalprice").cast("decimal(18,4)")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.count(F.lit(1)).over(w30).alias("cnt_30d"),
        F.sum(dec).over(w30).cast("double").alias("rev_30d"),
        F.count(F.lit(1)).over(w90).alias("cnt_90d"),
        F.sum(dec).over(w90).cast("double").alias("rev_90d"),
        (F.col("d") - F.lag("d").over(wlag)).alias("days_since_prev"),
    )


# ---------------------------------------------------------------------------
# Exponentially-weighted moving average (exact dyadic weights)
# ---------------------------------------------------------------------------

EWMA_LAGS = 16  # truncation horizon; weight 2^-15 ≈ 3e-5 beyond it


@register(
    "revenue_ewma_daily",
    category="timeseries",
    doc="EWMA-smoothed daily revenue per order priority (α = 1/2, "
    f"truncated at {EWMA_LAGS} lags): day-grain aggregate first, then one "
    "lag-window per priority with weights 2^-j. Every term is an integer "
    "number of cents times a power of two — EXACT in IEEE arithmetic, so "
    "the smoothed value is bit-identical on any engine with no decimal "
    "scaffolding. Normalized by the weights actually present (series "
    "heads shorter than the horizon stay unbiased).",
    oracle=f"""
WITH d AS (
  SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
  FROM orders GROUP BY 1, 2
)
SELECT prio, day,
       round((
         {" + ".join(f"COALESCE(lag(cents, {j}) OVER w * {2.0 ** -j:.17g}, 0)" for j in range(EWMA_LAGS))}
       ) / (
         {" + ".join(f"CASE WHEN lag(cents, {j}) OVER w IS NOT NULL THEN {2.0 ** -j:.17g} ELSE 0 END" for j in range(EWMA_LAGS))}
       ) / 100, 4) AS ewma_revenue
FROM d
WINDOW w AS (PARTITION BY prio ORDER BY day)
""",
)
def revenue_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("prio"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("cents")
        )
    )
    w = Window.partitionBy("prio").orderBy("day")
    num = None
    den = None
    for j in range(EWMA_LAGS):
        wt = 2.0 ** -j
        term = F.coalesce(F.lag("cents", j).over(w) * F.lit(wt), F.lit(0.0))
        present = F.when(
            F.lag("cents", j).over(w).isNotNull(), F.lit(wt)
        ).otherwise(F.lit(0.0))
        num = term if num is None else num + term
        den = present if den is None else den + present
    return d.select(
        "prio", "day", F.round(num / den / 100, 4).alias("ewma_revenue")
    )


# ---------------------------------------------------------------------------
# Session path mining
# ---------------------------------------------------------------------------

PATH_TOPK = 15
PATH_MAX_LEN = 8


@register(
    "top_session_paths",
    category="timeseries",
    doc="Path mining: per session (same 30-min gaps-and-islands split as "
    f"sessionize_events), the ordered sequence of the first {PATH_MAX_LEN} "
    "event types joined into a path string; top "
    f"{PATH_TOPK} paths by frequency. Ordering inside a session is made "
    "total by (ts, event_id) and the path is assembled with array_sort "
    "over (seq, type) structs — collect order never matters, so the "
    "operator is partitioning-independent. Top-k via heap, not global sort.",
    oracle=f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   <= INTERVAL 30 MINUTE
              THEN 0 ELSE 1 END AS is_new
  FROM events
),
sess AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM flagged
),
ranked AS (
  SELECT user_id, session_seq, event_type,
         row_number() OVER (PARTITION BY user_id, session_seq ORDER BY seq)
           AS pos
  FROM sess
),
paths AS (
  SELECT user_id, session_seq,
         string_agg(event_type, '>' ORDER BY pos) AS path
  FROM ranked WHERE pos <= {PATH_MAX_LEN}
  GROUP BY user_id, session_seq
)
SELECT path, COUNT(*) AS n_sessions
FROM paths
GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT {PATH_TOPK}
""",
)
def top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        table(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("user_id", "event_id", "ts", "event_type")
    )
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w_lag = Window.partitionBy("user_id").orderBy(*order)
    w_run = w_lag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    is_new = F.when(
        F.col("ts") - F.lag("ts").over(w_lag) <= F.expr("INTERVAL 30 MINUTES"),
        F.lit(0),
    ).otherwise(F.lit(1))
    sess = ev.select(
        "user_id",
        "event_type",
        F.row_number().over(w_lag).alias("seq"),
        F.sum(is_new).over(w_run).alias("session_seq"),
    )
    pos = F.row_number().over(
        Window.partitionBy("user_id", "session_seq").orderBy("seq")
    )
    ranked = sess.withColumn("pos", pos).where(F.col("pos") <= PATH_MAX_LEN)
    # order-independent assembly: collect structs, sort by pos, then join —
    # collect_list order is undefined under parallel aggregation
    paths = (
        ranked.groupBy("user_id", "session_seq")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("event_type")))
                    ),
                    lambda s: s.event_type,
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(PATH_TOPK)
    )


# ---------------------------------------------------------------------------
# Overlapping-interval coalescing (interval union)
# ---------------------------------------------------------------------------

COALESCE_PAD_MIN = 10  # events pad to ±10-minute activity intervals


@register(
    "merge_overlapping_intervals",
    category="timeseries",
    doc="Interval union: each event becomes a ±"
    f"{COALESCE_PAD_MIN}-minute activity interval; overlapping/touching "
    "intervals per user merge into maximal spans (classic coalesce: "
    "running max of interval ends, a new island when the next start "
    "exceeds everything seen — one user-keyed window, no self-join). "
    "Emits per-user span counts and total covered minutes, exact integer "
    "epoch math.",
    oracle=f"""
WITH iv AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) - {COALESCE_PAD_MIN * 60} AS s,
         CAST(floor(epoch(ts)) AS BIGINT) + {COALESCE_PAD_MIN * 60} AS e,
         event_id
  FROM events
),
m AS (
  SELECT user_id, s, e, event_id,
         MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max_e
  FROM iv
),
islands AS (
  SELECT user_id, s, e,
         SUM(CASE WHEN prev_max_e IS NULL OR s > prev_max_e THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY s, event_id
                 ROWS UNBOUNDED PRECEDING) AS island
  FROM m
),
spans AS (
  SELECT user_id, island, MIN(s) AS span_s, MAX(e) AS span_e
  FROM islands GROUP BY 1, 2
)
SELECT user_id,
       COUNT(*) AS n_spans,
       SUM(span_e - span_s) / 60 AS covered_minutes
FROM spans GROUP BY user_id
""",
)
def merge_overlapping_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    pad = COALESCE_PAD_MIN * 60
    iv = (
        table(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select(
            "user_id",
            (F.unix_timestamp("ts") - pad).alias("s"),
            (F.unix_timestamp("ts") + pad).alias("e"),
            "event_id",
        )
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    m = iv.withColumn("prev_max_e", F.max("e").over(w_prev))
    is_new = F.when(
        F.col("prev_max_e").isNull() | (F.col("s") > F.col("prev_max_e")), 1
    ).otherwise(0)
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = m.withColumn("island", F.sum(is_new).over(w_run))
    spans = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("span_s"), F.max("e").alias("span_e")
    )
    return spans.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        (F.sum(F.col("span_e") - F.col("span_s")) / 60).alias("covered_minutes"),
    )


LATE_MOD = 20  # ~5% of events play the late-arrival set


@register(
    "late_data_bar_restatement",
    category="timeseries",
    doc="Late-data restatement: a deterministic md5 slice of events (~5%) "
    "plays the late arrivals, and ONLY the 5-minute OHLC bars containing "
    "at least one late event are restated — emitted with their n_late "
    "count so downstream consumers see exactly which bars changed and "
    "why. Same mergeable min_by/max_by bar aggregate as "
    "ohlc_resample_5min. At 100 TB the affected-bar list joins against "
    "the bar-partitioned table so the rescan prunes to touched "
    "partitions (the dpp_join_pruned_revenue mechanism); the restated "
    "output is identical.",
    oracle=f"""
SELECT event_type,
       CAST(date_trunc('hour', ts) AS TIMESTAMP)
         + INTERVAL (CAST(minute(ts) AS INTEGER) // 5 * 5) MINUTE AS bar_ts,
       arg_min(value, date_diff('microsecond', TIMESTAMP '2024-01-01 00:00:00', ts)
                      * 100000 + event_id) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       arg_max(value, date_diff('microsecond', TIMESTAMP '2024-01-01 00:00:00', ts)
                      * 100000 + event_id) AS close,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN ('0x' || substr(md5('late:' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
                          % {LATE_MOD} = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS volume
FROM events
GROUP BY 1, 2
HAVING SUM(CASE WHEN ('0x' || substr(md5('late:' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
                     % {LATE_MOD} = 0 THEN 1 ELSE 0 END) > 0
""",
)
def late_data_bar_restatement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.functions.similarity import hash_hex

    ev = table(spark, sf_dir, "events")
    skey = (
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '2024-01-01 00:00:00', ts)"
        )
        * F.lit(100000)
        + F.col("event_id")
    )
    bar = F.date_trunc("hour", F.col("ts")) + F.make_dt_interval(
        mins=F.floor(F.minute("ts") / 5) * 5
    )
    is_late = (
        hash_hex(F.concat(F.lit("late:"), F.col("event_id").cast("string")))
        % LATE_MOD
        == 0
    ).cast("int")
    return (
        ev.groupBy("event_type", bar.cast("timestamp_ntz").alias("bar_ts"))
        .agg(
            F.min_by("value", skey).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", skey).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(is_late).cast("bigint").alias("n_late"),
            dsum("value").alias("volume"),
        )
        .where(F.col("n_late") > 0)
    )


# --------------------------------------------------------------------------
# Classical seasonal decomposition (trend + day-of-week seasonality +
# residual) — the time-series profiling primitive, fully relational
# --------------------------------------------------------------------------


@register(
    "seasonal_decompose_daily",
    category="timeseries",
    doc="Classical additive seasonal decomposition of daily order revenue: "
    "trend = centered 7-day moving average (integer RANGE frame over day "
    "numbers — exact BIGINT cent sums / counts, one shuffle), seasonal = "
    "per-day-of-week mean of the detrended series, residual = remainder. "
    "All means are ratios of exact integers or DECIMAL-accumulated 4-dp "
    "terms, so the decomposition is cross-engine exact. The profiling "
    "primitive behind anomaly detection and forecast baselining; at 100 TB "
    "the input to the windows is the DAILY aggregate (≤ a few k rows per "
    "year), never fact rows.",
    oracle="""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS dn,
         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1, 2
),
tr AS (
  SELECT d, dn, cents,
         round(CAST(SUM(cents) OVER w AS DOUBLE) / COUNT(*) OVER w, 4) AS trend
  FROM daily
  WINDOW w AS (ORDER BY dn RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
det AS (
  SELECT d, dn, cents, trend,
         CAST(round(cents - trend, 4) AS DECIMAL(18,4)) AS detr,
         (dayofweek(d) + 1) % 7 AS dow
  FROM tr
),
seas AS (
  SELECT dow,
         round(CAST(SUM(detr) AS DOUBLE) / COUNT(*), 4) AS seasonal
  FROM det GROUP BY dow
)
SELECT det.d AS order_date, cents AS revenue_cents, trend, seasonal,
       round(CAST(detr AS DOUBLE) - seasonal, 4) AS residual
FROM det JOIN seas ON det.dow = seas.dow
""",
)
def seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("cents")
        )
        .withColumn("dn", F.datediff(F.col("d"), F.lit("1995-01-01").cast("date")))
    )
    w = Window.orderBy("dn").rangeBetween(-3, 3)
    tr = daily.select(
        "d",
        "cents",
        F.round(F.sum("cents").over(w).cast("double") / F.count(F.lit(1)).over(w), 4).alias(
            "trend"
        ),
    )
    det = tr.select(
        "d",
        "cents",
        "trend",
        F.round(F.col("cents") - F.col("trend"), 4).cast("decimal(18,4)").alias("detr"),
        F.dayofweek("d").alias("dow"),  # Spark: Sunday=1 ... DuckDB handled in oracle
    ).localCheckpoint()  # seasonal + final join both read this
    seas = det.groupBy("dow").agg(
        F.round(F.sum("detr").cast("double") / F.count(F.lit(1)), 4).alias("seasonal")
    )
    return (
        det.join(F.broadcast(seas), "dow")
        .select(
            F.col("d").alias("order_date"),
            F.col("cents").alias("revenue_cents"),
            "trend",
            "seasonal",
            F.round(F.col("detr").cast("double") - F.col("seasonal"), 4).alias("residual"),
        )
    )


@register(
    "rolling_median_weekly_revenue",
    category="timeseries",
    doc="Exact rolling 7-day median of daily revenue: the RANGE frame "
    "collects ≤7 daily cent values (collect_list over an integer day-number "
    "frame — bounded by the frame, not the corpus), sorted in-row and "
    "median-interpolated on exact integers. The robust-trend counterpart "
    "of seasonal_decompose_daily's moving mean; per-row state is the frame "
    "width, so the window runs on the daily aggregate at any corpus scale.",
    oracle="""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS dn,
         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1, 2
)
SELECT d AS order_date, cents AS revenue_cents,
       round(median(cents) OVER (ORDER BY dn RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 1)
         AS rolling_median_cents
FROM daily
""",
)
def rolling_median_weekly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("cents")
        )
        .withColumn("dn", F.datediff(F.col("d"), F.lit("1995-01-01").cast("date")))
    )
    w = Window.orderBy("dn").rangeBetween(-6, 0)
    frame = F.array_sort(F.collect_list("cents").over(w))
    n = F.size(frame)
    lo = F.element_at(frame, ((n + 1) / 2).cast("int"))
    hi = F.element_at(frame, (n / 2).cast("int") + 1)
    return daily.select(
        F.col("d").alias("order_date"),
        F.col("cents").alias("revenue_cents"),
        F.round((lo + hi) / 2.0, 1).alias("rolling_median_cents"),
    )


@register(
    "session_path_pattern_match",
    category="timeseries",
    doc="Sequence-pattern classification over session paths (the batch "
    "analogue of ClickHouse sequenceMatch / MATCH_RECOGNIZE): events "
    "sessionize at 30-min gaps (same gaps-and-islands rewrite as "
    "sessionize_events), each session's ORDERED event-type path encodes "
    "to a first-letter string (v/c/p/s/e), and paths classify through an "
    "ordered regex cascade — bounce, converted (view..click..purchase in "
    "order), engaged, browse_only, other. SCALE SHAPE: one user-keyed "
    "shuffle serves the windows, the per-session path builds via "
    "sort_array(collect_list(struct(ts,event_id,letter))) — state bounded "
    "by session length — and classification is a JVM regex over the "
    "bounded path string; final rollup is a tiny groupBy. Deterministic: "
    "the struct sort makes the path order total.",
    oracle="""
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   <= INTERVAL 30 MINUTE
              THEN 0 ELSE 1 END AS is_new
  FROM events
),
sess AS (
  SELECT user_id, event_id, ts, event_type,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM flagged
),
paths AS (
  SELECT user_id, session_seq,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS path,
         CAST(COUNT(*) AS BIGINT) AS n_ev
  FROM sess GROUP BY 1, 2
),
classed AS (
  SELECT CASE
           WHEN length(path) = 1 THEN 'bounce'
           WHEN regexp_matches(path, 'v.*c.*p') THEN 'converted'
           WHEN regexp_matches(path, 'c') THEN 'engaged'
           WHEN regexp_matches(path, 'v') THEN 'browse_only'
           ELSE 'other'
         END AS pattern_class,
         n_ev
  FROM paths
)
SELECT pattern_class,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(n_ev) AS BIGINT) AS n_events
FROM classed GROUP BY 1
""",
)
def session_path_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        table(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("user_id", "event_id", "ts", "event_type")
    )
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w_lag = Window.partitionBy("user_id").orderBy(*order)
    w_run = w_lag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    is_new = F.when(
        F.col("ts") - F.lag("ts").over(w_lag) <= F.expr("INTERVAL 30 MINUTES"),
        F.lit(0),
    ).otherwise(F.lit(1))
    sess = ev.withColumn("is_new", is_new).withColumn(
        "session_seq", F.sum("is_new").over(w_run)
    )
    paths = sess.groupBy("user_id", "session_seq").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("ts"),
                            F.col("event_id"),
                            F.substring("event_type", 1, 1).alias("letter"),
                        )
                    )
                ),
                lambda x: x["letter"],
            ),
            "",
        ).alias("path"),
        F.count(F.lit(1)).cast("bigint").alias("n_ev"),
    )
    p = F.col("path")
    cls = (
        F.when(F.length(p) == 1, "bounce")
        .when(p.rlike("v.*c.*p"), "converted")
        .when(p.rlike("c"), "engaged")
        .when(p.rlike("v"), "browse_only")
        .otherwise("other")
    )
    return (
        paths.select(cls.alias("pattern_class"), "n_ev")
        .groupBy("pattern_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum("n_ev").cast("bigint").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# Autocorrelation function + CUSUM changepoint — exact-integer series stats
# ---------------------------------------------------------------------------

ACF_MAX_LAG = 7


@register(
    "acf_daily_revenue",
    category="timeseries",
    doc="Autocorrelation of total daily revenue at calendar lags 1..7 — "
    "the ACF a forecasting pipeline reads before choosing seasonal terms. "
    "Lag pairing is CALENDAR (join on day+k via a 7-row broadcast lag "
    "relation), not positional, so date gaps drop pairs identically on "
    "any engine. One day-grain aggregate does the distributed work; the "
    "paired relation is bounded by day cardinality × 7, and per-lag "
    "Pearson moments are exact DECIMAL(38,0) power sums (cents grid). "
    "Hash-proof output: acf_ppm comes from functions/stats.py:"
    "with_corr_ppm — the corrected-isqrt exact integer canonicalization, "
    "no float quotient (same discipline as spearman_rank_correlation).",
    oracle=None,  # filled below (built from corr_ppm_sql)
)
def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.functions.stats import with_corr_ppm

    d = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("cents")
        )
        .localCheckpoint()  # bounded day-grain relation, reused on both join sides
    )
    lags = spark.range(1, ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = d.crossJoin(F.broadcast(lags)).select(
        "lag",
        F.date_add(F.col("day"), F.col("lag")).alias("tday"),
        F.col("cents").alias("xa"),
    )
    p = a.join(
        d.select(F.col("day").alias("tday"), F.col("cents").alias("xb")), "tday"
    )
    dm = F.col

    def s38(expr):
        return F.sum(expr.cast("decimal(38,0)"))

    m = p.groupBy("lag").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        s38(dm("xa")).alias("sa"),
        s38(dm("xb")).alias("sb"),
        s38(dm("xa") * dm("xa")).alias("saa"),
        s38(dm("xb") * dm("xb")).alias("sbb"),
        s38(dm("xa") * dm("xb")).alias("sab"),
    )
    mm = m.select(
        dm("lag").cast("bigint").alias("lag"),
        dm("n").cast("bigint").alias("n_pairs"),
        (dm("n") * dm("sab") - dm("sa") * dm("sb"))
        .cast("decimal(38,0)")
        .alias("num"),
        (dm("n") * dm("saa") - dm("sa") * dm("sa"))
        .cast("decimal(38,0)")
        .alias("dxx"),
        (dm("n") * dm("sbb") - dm("sb") * dm("sb"))
        .cast("decimal(38,0)")
        .alias("dyy"),
    )
    # num emits as a digit STRING — no DecimalType may reach a hashed
    # output schema (r5 driver decimal128 canonicalization gap).
    return with_corr_ppm(mm, out="acf_ppm").select(
        "lag", "n_pairs", dm("num").cast("string").alias("num"), "acf_ppm"
    )


def _acf_oracle() -> str:
    from wheels_in_motion_analytics_spark.functions.stats import corr_ppm_sql

    return f"""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
),
lags AS (SELECT CAST(lag AS INTEGER) AS lag FROM range(1, {ACF_MAX_LAG + 1}) t(lag)),
p AS (
  SELECT l.lag, a.cents AS xa, b.cents AS xb
  FROM d a CROSS JOIN lags l
  JOIN d b ON b.day = a.day + to_days(l.lag)
),
m AS (
  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(xa) AS sa, SUM(xb) AS sb,
         SUM(xa * xa) AS saa, SUM(xb * xb) AS sbb, SUM(xa * xb) AS sab
  FROM p GROUP BY lag
),
mm AS (
  SELECT lag, n, n * sab - sa * sb AS num,
         n * saa - sa * sa AS dxx, n * sbb - sb * sb AS dyy
  FROM m
)
SELECT CAST(lag AS BIGINT) AS lag, n AS n_pairs,
       CAST(num AS VARCHAR) AS num,
       {corr_ppm_sql('num', 'dxx', 'dyy')} AS acf_ppm
FROM mm
"""


@register(
    "cusum_changepoint_daily",
    category="timeseries",
    doc="CUSUM mean-shift changepoint over total daily revenue: the day k "
    "maximizing |n*P_k - k*S| (the cumulative sum of n-scaled deviations "
    "from the global mean — every term an exact integer, no mean "
    "division). Prefix sums come from the TWO-PHASE exact machinery "
    "(operators/windows.py:global_prefix_sums) so no single-task sort "
    "even if the series grain were row-scale; the argmax is one "
    "max(struct) aggregate with an earliest-day tiebreak. Emits the "
    "changepoint day, the scaled CUSUM statistic, and exact floor mean "
    "cents before/after the break.",
    oracle="""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
),
p AS (
  SELECT day, cents,
         CAST(SUM(cents) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS pc,
         CAST(ROW_NUMBER() OVER (ORDER BY day) AS HUGEINT) AS k
  FROM d
),
t AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(cents) AS HUGEINT) AS s FROM d),
c AS (
  SELECT p.day, t.n, t.s, p.k, p.pc, t.n * p.pc - p.k * t.s AS ck
  FROM p CROSS JOIN t
  WHERE p.k < t.n
)
SELECT CAST(n AS BIGINT) AS n_days,
       CAST(s AS BIGINT) AS total_cents,
       day AS change_day,
       CAST(abs(ck) AS VARCHAR) AS max_abs_cusum,
       CAST(pc // k AS BIGINT) AS mean_before_cents,
       CAST((s - pc) // (n - k) AS BIGINT) AS mean_after_cents
FROM c
ORDER BY abs(ck) DESC, day
LIMIT 1
""",
)
def cusum_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.operators.windows import global_prefix_sums

    d = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("cents")
        )
        .withColumn("one", F.lit(1))
        .localCheckpoint()  # reused by the prefix pass AND the totals agg
    )
    pre = global_prefix_sums(d, ["day"], ["cents", "one"])
    tot = d.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("cents").cast("decimal(38,0)").alias("s"),
    )
    c = F.col
    ck = (
        pre.crossJoin(F.broadcast(tot))
        .where(c("one_cum") < c("n"))
        .select(
            "day",
            "n",
            "s",
            c("one_cum").cast("decimal(38,0)").alias("k"),
            c("cents_cum").cast("decimal(38,0)").alias("pc"),
            (
                c("n") * c("cents_cum").cast("decimal(38,0)")
                - c("one_cum").cast("decimal(38,0)") * c("s")
            )
            .cast("decimal(38,0)")
            .alias("ck"),
        )
    )
    best = ck.agg(
        F.max(
            F.struct(
                F.abs(c("ck")).alias("absck"),
                (-F.datediff(c("day"), F.lit("1970-01-01").cast("date")))
                .cast("long")
                .alias("negday"),
                c("day").alias("day"),
                c("n").alias("n"),
                c("s").alias("s"),
                c("k").alias("k"),
                c("pc").alias("pc"),
            )
        ).alias("b")
    )
    return best.select(
        c("b.n").cast("bigint").alias("n_days"),
        c("b.s").cast("bigint").alias("total_cents"),
        c("b.day").alias("change_day"),
        # digit STRING, not DecimalType — no decimal may reach a hashed
        # output schema (r5 driver decimal128 canonicalization gap); the
        # statistic exceeds BIGINT past ~sf100 so the exact digits ride
        # as a string.
        c("b.absck").cast("string").alias("max_abs_cusum"),
        F.expr("CAST(b.pc DIV b.k AS BIGINT)").alias("mean_before_cents"),
        F.expr("CAST((b.s - b.pc) DIV (b.n - b.k) AS BIGINT)").alias(
            "mean_after_cents"
        ),
    )


# The ACF oracle embeds the shared corr-ppm SQL fragment; build it once at
# import time (register() ran with oracle=None above).
from wheels_in_motion_analytics_spark.registry import REGISTRY as _REGISTRY  # noqa: E402

_REGISTRY["acf_daily_revenue"].oracle = _acf_oracle()


def theil_sen_pairs(d: DataFrame) -> DataFrame:
    """Every pair of days ``da < db`` of a ``(day, cents)`` relation with
    its slope in cents/day, scaled by 2^20 and truncated toward zero.

    The ``CASE`` guards the division on its own: a filter on
    ``slope_scaled`` (a selection round's range) may be pushed into the
    join condition and evaluated before ``db > da``, and on a same-day
    pair ``datediff`` is 0 (``DIVIDE_BY_ZERO`` under ANSI mode).
    """
    a = d.select(F.col("day").alias("da"), F.col("cents").alias("ca"))
    b = d.select(F.col("day").alias("db"), F.col("cents").alias("cb"))
    return (
        a.crossJoin(b)
        .where(F.col("db") > F.col("da"))
        .select(
            "da",
            "db",
            F.expr(
                "CASE WHEN db > da THEN CAST(((cb - ca) * CAST(1048576 AS BIGINT))"
                " DIV datediff(db, da) AS BIGINT) END"
            ).alias("slope_scaled"),
        )
    )


@register(
    "theil_sen_trend_daily",
    category="timeseries",
    doc="Theil–Sen robust trend of total daily revenue: the median of all "
    "pairwise slopes (cents/day, scaled by 2^20 and truncated to an "
    "integer — both engines truncate toward zero, verified) over the "
    "day-grain series. The pair relation is day-cardinality squared — "
    "BOUNDED by the calendar (~2.9M pairs for the 7-year window at ANY "
    "table scale), generated by a crossJoin of the bounded day relation "
    "with itself; the median VALUE comes from distributed selection "
    "(operators/windows.py:rank_values — histogram narrowing, "
    "<=4 counting passes, no sort and no full rank assignment; ~4x "
    "faster here than the two-phase global rank, which pays range "
    "sampling + checkpoint for ranks the median throws away). Emits the "
    "lower-median slope plus the pair count.",
    oracle="""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
),
p AS (
  SELECT a.day AS da, b.day AS db,
         ((b.cents - a.cents) * 1048576) // (b.day - a.day) AS slope_scaled
  FROM d a JOIN d b ON b.day > a.day
),
r AS (
  SELECT slope_scaled,
         ROW_NUMBER() OVER (ORDER BY slope_scaled, da, db) AS rn
  FROM p
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM p)
SELECT n.n_pairs,
       CAST(MAX(CASE WHEN rn = (n_pairs + 1) // 2 THEN slope_scaled END)
            AS BIGINT) AS median_slope_scaled
FROM r CROSS JOIN n
GROUP BY n.n_pairs
""",
)
def theil_sen_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.operators.windows import rank_values

    d = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("cents")
        )
        .localCheckpoint()  # bounded day relation, used on both pair sides
    )
    vals, n_pairs = rank_values(
        theil_sen_pairs(d), "slope_scaled", lambda n: [(n + 1) // 2]
    )
    (median,) = vals.values()
    # scalars are exact products of distributed jobs; surface them as the
    # 1-row result relation
    return local_frame(
        spark, [(n_pairs, median)], "n_pairs bigint, median_slope_scaled bigint"
    )


@register(
    "mann_kendall_trend",
    category="timeseries",
    doc="Mann–Kendall trend test over total daily revenue — the "
    "non-parametric companion to theil_sen_trend_daily, on the same "
    "calendar-bounded pair relation. S = sum of sign(x_j - x_i) over "
    "ordered day pairs (exact integer), ties-corrected variance emitted "
    "as the exact integer 18*Var(S) = n(n-1)(2n+5) - sum t(t-1)(2t+5), "
    "Kendall's tau_b in ppm through the shared corrected-isqrt path "
    "(num=S, dxx=D, dyy=D-T with D = n(n-1)/2 pairs and T = tie pairs — "
    "time has no ties), and the 5%-level verdict by pure integer "
    "cross-multiplication of the continuity-corrected z: "
    "(|S|-1)^2 * 18 * 10^8 > 1.96^2*10^8 * var18 — no sqrt, no float, "
    "identical on any engine.",
    oracle=f"""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
),
s AS (
  SELECT CAST(SUM(CASE WHEN b.cents > a.cents THEN 1
                       WHEN b.cents < a.cents THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
  FROM d a JOIN d b ON b.day > a.day
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM d),
t AS (
  SELECT CAST(COALESCE(SUM(c * (c - 1) * (2 * c + 5)), 0) AS BIGINT) AS tie18,
         CAST(COALESCE(SUM(c * (c - 1)), 0) AS BIGINT) // 2 AS tie_pairs
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY cents) g
),
m AS (
  SELECT n.n_days, s.s_stat,
         n.n_days * (n.n_days - 1) * (2 * n.n_days + 5) - t.tie18 AS var18,
         s.s_stat AS num,
         n.n_days * (n.n_days - 1) // 2 AS dxx,
         n.n_days * (n.n_days - 1) // 2 - t.tie_pairs AS dyy
  FROM n CROSS JOIN s CROSS JOIN t
)
SELECT n_days, s_stat, CAST(var18 AS BIGINT) AS var18,
       {{CORR}} AS tau_ppm,
       CASE WHEN abs(s_stat) <= 1 THEN FALSE
            ELSE CAST((abs(s_stat) - 1) AS HUGEINT) * (abs(s_stat) - 1) * 1800000000
                 > CAST(384160000 AS HUGEINT) * var18 END AS trend_significant
FROM m
""",
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.functions.stats import with_corr_ppm

    d = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("cents")
        )
        .localCheckpoint()  # reused: pairs, tie groups, day count
    )
    a = d.select(F.col("day").alias("da"), F.col("cents").alias("ca"))
    b = d.select(F.col("day").alias("db"), F.col("cents").alias("cb"))
    s = (
        a.crossJoin(b)
        .where(F.col("db") > F.col("da"))
        .agg(
            F.sum(
                F.when(F.col("cb") > F.col("ca"), 1)
                .when(F.col("cb") < F.col("ca"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    n = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    t = (
        d.groupBy("cents")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .agg(
            F.coalesce(
                F.sum(F.col("c") * (F.col("c") - 1) * (2 * F.col("c") + 5)), F.lit(0)
            )
            .cast("bigint")
            .alias("tie18"),
            F.expr(
                "CAST(COALESCE(SUM(c * (c - 1)), 0) DIV 2 AS BIGINT)"
            ).alias("tie_pairs"),
        )
    )
    c = F.col
    m = (
        n.crossJoin(s)
        .crossJoin(t)
        .select(
            "n_days",
            "s_stat",
            (
                c("n_days") * (c("n_days") - 1) * (2 * c("n_days") + 5) - c("tie18")
            )
            .cast("bigint")
            .alias("var18"),
            c("s_stat").cast("decimal(38,0)").alias("num"),
            F.expr(
                "CAST((n_days * (n_days - 1)) DIV 2 AS DECIMAL(38,0))"
            ).alias("dxx"),
            F.expr(
                "CAST((n_days * (n_days - 1)) DIV 2 - tie_pairs AS DECIMAL(38,0))"
            ).alias("dyy"),
        )
    )
    out = with_corr_ppm(m, out="tau_ppm")
    sig = F.when(F.abs(c("s_stat")) <= 1, F.lit(False)).otherwise(
        (F.abs(c("s_stat")) - 1).cast("decimal(38,0)")
        * (F.abs(c("s_stat")) - 1).cast("decimal(38,0)")
        * F.lit(1800000000).cast("decimal(38,0)")
        > F.lit(384160000).cast("decimal(38,0)") * c("var18").cast("decimal(38,0)")
    )
    return out.select(
        "n_days", "s_stat", "var18", "tau_ppm", sig.alias("trend_significant")
    )


# the Mann–Kendall oracle's tau column shares the corrected-isqrt fragment
from wheels_in_motion_analytics_spark.functions.stats import corr_ppm_sql as _corr_sql  # noqa: E402

_REGISTRY["mann_kendall_trend"].oracle = _REGISTRY["mann_kendall_trend"].oracle.replace(
    "{CORR}", _corr_sql("num", "dxx", "dyy")
)


# --- time-weighted average price (TWAP) over irregular event times ----------


@register(
    "twap_daily_by_type",
    category="timeseries",
    doc="TWAP over an IRREGULARLY-sampled series — the quant-desk average "
    "where each observation is weighted by how long it remained the "
    "current value, not by its row count (a burst of quotes in one minute "
    "must not dominate a quiet day). Per (event_type, day): events are "
    "ordered by (ts, event_id) (total order — engine-independent), each "
    "value holds from its timestamp until the next event or midnight, and "
    "TWAP = sum(value*duration)/sum(duration). SCALE SHAPE: the only "
    "shuffle is the (event_type, day) window partition — group-bounded "
    "windows, never a global sort; moments accumulate in DECIMAL(38,0) "
    "(cents x microsecond durations reach ~1e15 per row — BIGINT sums "
    "would overflow near sf1, the linreg power-sum lesson). HASH-PROOF "
    "OUTPUT: value quantized to integer cents, durations in integer "
    "microseconds, TWAP emitted as half-up micro-cents — "
    "(2*num*1e6 + den) DIV (2*den) — a deterministic integer on any "
    "engine; no float quotient is hashed (round-5 oracle rule).",
    oracle="""
WITH e AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
         epoch_us(ts) AS us,
         lead(epoch_us(ts)) OVER (
           PARTITION BY event_type, CAST(ts AS DATE)
           ORDER BY ts, event_id) AS next_us,
         epoch_us(CAST(CAST(ts AS DATE) AS TIMESTAMP) + INTERVAL 1 DAY)
           AS day_end_us
  FROM events
),
d AS (
  SELECT event_type, day, cents,
         coalesce(next_us, day_end_us) - us AS dur_us
  FROM e
),
m AS (
  SELECT event_type, day,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(dur_us) AS BIGINT) AS total_dur_us,
         SUM(CAST(cents AS HUGEINT) * dur_us) AS num,
         CAST(SUM(dur_us) AS HUGEINT) AS den
  FROM d GROUP BY event_type, day
)
SELECT event_type, day, n_events, total_dur_us,
       CAST((2 * num * 1000000 + den) // (2 * den) AS BIGINT) AS twap_ucents
FROM m
""",
)
def twap_daily_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        table(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).alias("cents"),
            F.unix_micros("ts").alias("us"),
            "ts",
            "event_id",
        )
    )
    w = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    day_end_us = F.unix_micros(
        F.date_add(F.col("day"), 1).cast("timestamp")
    )
    dur = F.coalesce(F.lead("us").over(w), day_end_us) - F.col("us")
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    m = (
        ev.withColumn("dur_us", dur)
        .groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("dur_us").alias("total_dur_us"),
            F.sum(dec(F.col("cents")) * F.col("dur_us")).alias("num"),
            F.sum(dec(F.col("dur_us"))).alias("den"),
        )
    )
    return m.select(
        "event_type",
        "day",
        "n_events",
        "total_dur_us",
        F.expr(
            "CAST((2 * num * CAST(1000000 AS DECIMAL(38,0)) + den) "
            "DIV (2 * den) AS BIGINT)"
        ).alias("twap_ucents"),
    )


# --------------------------------------------------------------------------
# Calendar densification + linear interpolation
# --------------------------------------------------------------------------


@register(
    "gap_fill_linear_interpolate",
    category="timeseries",
    doc="Calendar densification + LINEAR interpolation: daily urgent-"
    "finished revenue (cents) over the full order date span, missing days "
    "filled by exact integer linear interpolation between the bracketing "
    "observed days — the numeric sibling of gap_fill_locf_daily. "
    "Interpolated cents = half-up((prev·(next_d−d) + next·(d−prev_d)) / "
    "gap), computed entirely in integers so both engines emit identical "
    "values. The spine is the generated calendar (bounded by the date "
    "span, never by fact rows); the windows run at calendar grain.",
    oracle="""
WITH obs AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
  FROM orders
  WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
  GROUP BY 1
),
mm AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM obs),
cal AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
  FROM mm
),
j AS (SELECT cal.day, obs.cents FROM cal LEFT JOIN obs ON cal.day = obs.day),
br AS (
  SELECT day, cents,
         last_value(cents IGNORE NULLS)
           OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS pc,
         last_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS)
           OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS pd,
         first_value(cents IGNORE NULLS)
           OVER (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nc,
         first_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS)
           OVER (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
  FROM j
)
SELECT day,
       CASE WHEN cents IS NOT NULL THEN cents
            ELSE CAST((2 * (pc * datediff('day', day, nd) + nc * datediff('day', pd, day))
                       + datediff('day', pd, nd))
                      // (2 * datediff('day', pd, nd)) AS BIGINT) END AS cents,
       cents IS NULL AS interpolated
FROM br
""",
)
def gap_fill_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    obs = (
        table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderstatus") == "F")
        )
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            )
            .cast("bigint")
            .alias("cents")
        )
    )
    mm = obs.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    cal = mm.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    j = cal.join(obs, "day", "left")
    # calendar-grain windows: bounded by the date span (a few thousand
    # rows), the same exemption the other daily-grain ops document
    wp = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.orderBy("day").rowsBetween(0, Window.unboundedFollowing)
    known_day = F.when(F.col("cents").isNotNull(), F.col("day"))
    br = j.select(
        "day",
        "cents",
        F.last("cents", ignorenulls=True).over(wp).alias("pc"),
        F.last(known_day, ignorenulls=True).over(wp).alias("pd"),
        F.first("cents", ignorenulls=True).over(wn).alias("nc"),
        F.first(known_day, ignorenulls=True).over(wn).alias("nd"),
    )
    interp = F.expr(
        "CAST((2 * (pc * datediff(nd, day) + nc * datediff(day, pd))"
        " + datediff(nd, pd)) DIV (2 * datediff(nd, pd)) AS BIGINT)"
    )
    return br.select(
        "day",
        F.when(F.col("cents").isNotNull(), F.col("cents"))
        .otherwise(interp)
        .alias("cents"),
        F.col("cents").isNull().alias("interpolated"),
    )


# --------------------------------------------------------------------------
# Seasonal-baseline anomaly days (day-of-week median + MAD threshold)
# --------------------------------------------------------------------------

MAD_SIGMA_X10000 = 44478  # 3 * 1.4826 (normal-consistency factor), x1e4


@register(
    "anomaly_days_seasonal_mad",
    category="timeseries",
    doc="Time-series anomaly detection with a seasonal baseline: daily "
    "revenue vs the DAY-OF-WEEK lower median (seasonality removed), "
    "flagged where |residual| exceeds 3·1.4826·MAD — the robust z-score "
    "rule, entirely in exact integers (the threshold comparison is the "
    "cross-multiplication |resid|·1e4 > 44478·MAD, no float). Medians "
    "are rank-selected per dow partition and the MAD globally — every "
    "window runs at calendar grain (≤ a few thousand rows regardless of "
    "corpus size; the daily aggregate is the only fact-scale pass).",
    oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
dowd AS (SELECT day, cents, dayofweek(day) + 1 AS dow FROM daily),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY dow ORDER BY cents, day) AS rn,
         COUNT(*) OVER (PARTITION BY dow) AS cnt
  FROM dowd
),
med AS (SELECT dow, cents AS dow_median FROM ranked WHERE rn = (cnt + 1) // 2),
resid AS (
  SELECT d.day, d.cents, d.dow, m.dow_median,
         d.cents - m.dow_median AS resid
  FROM dowd d JOIN med m ON d.dow = m.dow
),
rranked AS (
  SELECT abs(resid) AS aresid,
         row_number() OVER (ORDER BY abs(resid), day) AS rn,
         COUNT(*) OVER () AS cnt
  FROM resid
),
mad AS (SELECT aresid AS mad FROM rranked WHERE rn = (cnt + 1) // 2)
SELECT day, cents, CAST(dow AS BIGINT) AS dow,
       dow_median, resid, mad
FROM resid CROSS JOIN mad
WHERE abs(resid) * 10000 > {MAD_SIGMA_X10000} * mad
""",
)
def anomaly_days_seasonal_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            )
            .cast("bigint")
            .alias("cents")
        )
    )
    # NOT checkpointed: the relation is calendar-grain and its upstream is
    # one cheap scan-agg — recomputing twice is cheaper than two eager
    # checkpoint jobs (measured 3.7s -> 2.4s steady at sf0.01)
    dowd = daily.select(
        "day", "cents", F.dayofweek("day").cast("bigint").alias("dow")
    )
    wd = Window.partitionBy("dow").orderBy("cents", "day")
    wc = Window.partitionBy("dow")
    med = (
        dowd.withColumn("rn", F.row_number().over(wd))
        .withColumn("cnt", F.count(F.lit(1)).over(wc))
        .where(F.col("rn") == F.expr("(cnt + 1) DIV 2"))
        .select("dow", F.col("cents").alias("dow_median"))
    )
    resid = dowd.join(F.broadcast(med), "dow").select(
        "day",
        "cents",
        "dow",
        "dow_median",
        (F.col("cents") - F.col("dow_median")).alias("resid"),
    )
    wr = Window.orderBy(F.abs("resid"), "day")
    wcnt = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    mad = (
        resid.withColumn("rn", F.row_number().over(wr))
        .withColumn("cnt", F.count(F.lit(1)).over(wcnt))
        .where(F.col("rn") == F.expr("(cnt + 1) DIV 2"))
        .select(F.abs("resid").alias("mad"))
    )
    return (
        resid.crossJoin(F.broadcast(mad))
        .where(F.abs("resid") * 10000 > MAD_SIGMA_X10000 * F.col("mad"))
        .select("day", "cents", "dow", "dow_median", "resid", "mad")
    )


# ---------------------------------------------------------------------------
# Binary segmentation — the multiple-changepoint extension of CUSUM
# ---------------------------------------------------------------------------


@register(
    "binseg_two_level_changepoints",
    category="timeseries",
    doc="Binary segmentation over daily revenue: the top-level CUSUM "
    "changepoint (cusum_changepoint_daily's statistic) splits the series, "
    "then each child segment is searched again — three changepoints from "
    "TWO levels, the standard multiple-changepoint method. SCALE SHAPE: "
    "the day-grain prefix relation is computed ONCE (two-phase exact "
    "prefix sums) and every segment's statistic derives from it "
    "arithmetically (n_seg*(P_k-P_a) - j*S_seg — no per-segment rescan); "
    "each pick is one max(struct) aggregate. Statistics stay in "
    "DECIMAL(38,0) and emit as digit strings (same contract as the "
    "sibling); segment means are exact floor cents.",
    oracle="""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
),
p AS MATERIALIZED (
  SELECT day, cents,
         CAST(SUM(cents) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS pc,
         CAST(ROW_NUMBER() OVER (ORDER BY day) AS HUGEINT) AS k
  FROM d
),
t AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(cents) AS HUGEINT) AS s FROM d),
full_pick AS MATERIALIZED (
  SELECT p.day, p.k, p.pc, abs(t.n * p.pc - p.k * t.s) AS stat
  FROM p CROSS JOIN t WHERE p.k < t.n
  ORDER BY abs(t.n * p.pc - p.k * t.s) DESC, p.day LIMIT 1
),
seg AS (
  SELECT 'left' AS segment, CAST(0 AS HUGEINT) AS ka, fp.k AS kb,
         CAST(0 AS HUGEINT) AS pa, fp.pc AS pb
  FROM full_pick fp
  UNION ALL
  SELECT 'right', fp.k, t.n, fp.pc, t.s
  FROM full_pick fp CROSS JOIN t
),
child AS (
  SELECT s.segment, p.day,
         abs((s.kb - s.ka) * (p.pc - s.pa) - (p.k - s.ka) * (s.pb - s.pa)) AS stat,
         row_number() OVER (
           PARTITION BY s.segment
           ORDER BY abs((s.kb - s.ka) * (p.pc - s.pa) - (p.k - s.ka) * (s.pb - s.pa)) DESC,
                    p.day
         ) AS rn
  FROM seg s JOIN p ON p.k > s.ka AND p.k < s.kb
)
SELECT 1 AS level, 'full' AS segment, day AS change_day,
       CAST(stat AS VARCHAR) AS max_abs_stat
FROM full_pick
UNION ALL
SELECT 2 AS level, segment, day AS change_day, CAST(stat AS VARCHAR) AS max_abs_stat
FROM child WHERE rn = 1
""",
)
def binseg_two_level_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.operators.windows import global_prefix_sums

    c = F.col
    d = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("cents")
        )
        .withColumn("one", F.lit(1))
        .localCheckpoint()  # prefix pass + totals agg share it
    )
    pre = global_prefix_sums(d, ["day"], ["cents", "one"]).select(
        "day",
        c("cents_cum").cast("decimal(38,0)").alias("pc"),
        c("one_cum").cast("decimal(38,0)").alias("k"),
    ).localCheckpoint()  # full pick + both child picks read it
    tot = d.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("cents").cast("decimal(38,0)").alias("s"),
    )

    def argmax(rel: DataFrame) -> DataFrame:
        """rel: (day, stat DECIMAL) -> 1-row (day, stat) by (stat desc, day)."""
        return rel.agg(
            F.max(
                F.struct(
                    c("stat").alias("stat"),
                    (-F.datediff(c("day"), F.lit("1970-01-01").cast("date")))
                    .cast("long")
                    .alias("negday"),
                    c("day").alias("day"),
                    c("k").alias("k"),
                    c("pc").alias("pc"),
                )
            ).alias("b")
        ).select(
            c("b.day").alias("day"), c("b.stat").alias("stat"),
            c("b.k").alias("k"), c("b.pc").alias("pc"),
        )

    full_cand = pre.crossJoin(F.broadcast(tot)).where(c("k") < c("n")).select(
        "day", "k", "pc",
        F.abs(c("n") * c("pc") - c("k") * c("s")).cast("decimal(38,0)").alias("stat"),
    )
    fp = argmax(full_cand).localCheckpoint()  # defines both child segments
    seg = (
        fp.select(
            F.lit("left").alias("segment"),
            F.lit(0).cast("decimal(38,0)").alias("ka"),
            c("k").alias("kb"),
            F.lit(0).cast("decimal(38,0)").alias("pa"),
            c("pc").alias("pb"),
        )
        .unionByName(
            fp.crossJoin(F.broadcast(tot)).select(
                F.lit("right").alias("segment"),
                c("k").alias("ka"),
                c("n").alias("kb"),
                c("pc").alias("pa"),
                c("s").alias("pb"),
            )
        )
    )
    child_cand = (
        pre.crossJoin(F.broadcast(seg))
        .where((c("k") > c("ka")) & (c("k") < c("kb")))
        .select(
            "segment",
            "day",
            "k",
            "pc",
            F.abs(
                (c("kb") - c("ka")) * (c("pc") - c("pa"))
                - (c("k") - c("ka")) * (c("pb") - c("pa"))
            )
            .cast("decimal(38,0)")
            .alias("stat"),
        )
    )
    wseg = Window.partitionBy("segment")
    child_pick = (
        child_cand.withColumn(
            "best",
            F.max(
                F.struct(
                    c("stat").alias("stat"),
                    (-F.datediff(c("day"), F.lit("1970-01-01").cast("date")))
                    .cast("long")
                    .alias("negday"),
                )
            ).over(wseg),
        )
        .where(
            (c("stat") == c("best.stat"))
            & (
                F.datediff(c("day"), F.lit("1970-01-01").cast("date")).cast("long")
                == -c("best.negday")
            )
        )
        .select("segment", "day", "stat")
    )
    out_full = fp.select(
        F.lit(1).cast("int").alias("level"),
        F.lit("full").alias("segment"),
        c("day").alias("change_day"),
        c("stat").cast("string").alias("max_abs_stat"),
    )
    out_child = child_pick.select(
        F.lit(2).cast("int").alias("level"),
        "segment",
        c("day").alias("change_day"),
        c("stat").cast("string").alias("max_abs_stat"),
    )
    return out_full.unionByName(out_child)


# ---------------------------------------------------------------------------
# MASE — scale-free forecast accuracy vs the seasonal-naive baseline
# ---------------------------------------------------------------------------

MASE_SEASON = 7  # weekly seasonality


@register(
    "mase_seasonal_naive_eval",
    category="timeseries",
    doc=f"MASE evaluation of the seasonal-naive forecaster on daily "
    f"revenue: forecast(d) = revenue(d-{MASE_SEASON}) (calendar lag — "
    "missing days drop pairs identically on both engines), scored "
    "against the one-day naive baseline. MASE = MAE(forecast)/"
    "MAE(baseline) computed WITHOUT any float: the ratio emits as a "
    "half-up ppm of exact integer error sums cross-multiplied with the "
    "pair counts (sum_f * n_b * 1e6 / (n_f * sum_b)). The standard "
    "scale-free forecast metric (Hyndman) beside the EWMA/seasonal "
    "decomposition family. One day-grain aggregate + two self-joins on "
    "the bounded calendar relation.",
    oracle=f"""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
),
f AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n_f,
         CAST(SUM(abs(a.cents - b.cents)) AS HUGEINT) AS sae_f
  FROM d a JOIN d b ON b.day = a.day - {MASE_SEASON}
),
b AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n_b,
         CAST(SUM(abs(a.cents - b.cents)) AS HUGEINT) AS sae_b
  FROM d a JOIN d b ON b.day = a.day - 1
)
SELECT CAST(n_f AS BIGINT) AS n_seasonal_pairs,
       CAST(sae_f AS BIGINT) AS sae_seasonal_cents,
       CAST(n_b AS BIGINT) AS n_naive_pairs,
       CAST(sae_b AS BIGINT) AS sae_naive_cents,
       CAST((2 * sae_f * n_b * 1000000 + n_f * sae_b)
            // (2 * n_f * sae_b) AS BIGINT) AS mase_ppm,
       (2 * sae_f * n_b * 1000000 + n_f * sae_b)
            // (2 * n_f * sae_b) < 1000000 AS beats_naive
FROM f CROSS JOIN b
""",
)
def mase_seasonal_naive_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    d = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("cents")
        )
        .localCheckpoint()  # both lag self-joins read it
    )

    def sae(lag_days: int, n_name: str, s_name: str) -> DataFrame:
        a = d.select("day", c("cents").alias("ca"))
        b = d.select(
            F.date_add(c("day"), lag_days).alias("day"), c("cents").alias("cb")
        )
        return a.join(b, "day").agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias(n_name),
            F.sum(F.abs(c("ca") - c("cb"))).cast("decimal(38,0)").alias(s_name),
        )

    f = sae(MASE_SEASON, "n_f", "sae_f")
    bl = sae(1, "n_b", "sae_b")
    ppm = (
        "CAST((2 * sae_f * n_b * CAST(1000000 AS DECIMAL(38,0)) + n_f * sae_b)"
        " DIV (2 * n_f * sae_b) AS BIGINT)"
    )
    return f.crossJoin(bl).select(
        c("n_f").cast("bigint").alias("n_seasonal_pairs"),
        c("sae_f").cast("bigint").alias("sae_seasonal_cents"),
        c("n_b").cast("bigint").alias("n_naive_pairs"),
        c("sae_b").cast("bigint").alias("sae_naive_cents"),
        F.expr(ppm).alias("mase_ppm"),
        (F.expr(ppm) < 1000000).alias("beats_naive"),
    )


# ---------------------------------------------------------------------------
# Built-in session_window in BATCH mode — the engine-native sessionizer
# ---------------------------------------------------------------------------


@register(
    "session_window_builtin_batch",
    category="timeseries",
    doc="Spark's built-in session_window() running in BATCH mode over the "
    "events table (30-min inactivity gap) — the engine-native twin of "
    "the manual gaps-and-islands rewrite in sessionize_events, proving "
    "the two sessionizers agree end to end. Semantics probed and "
    "pinned: a gap of EXACTLY the timeout still merges (inclusive), "
    "and session end = last event + gap. One shuffle on "
    "(user_id, session); value sums decimal-accumulate. The oracle "
    "replays the inclusive-gap islands and emits MAX(ts) + 30 min as "
    "the window end.",
    oracle=f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   <= INTERVAL 30 MINUTE
              THEN 0 ELSE 1 END AS is_new
  FROM events
),
sess AS (
  SELECT user_id, ts, value,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {oracle_dsum('value')} AS session_value
FROM sess
GROUP BY user_id, session_seq
""",
)
def session_window_builtin_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            dsum("value").alias("session_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


# ---------------------------------------------------------------------------
# Seasonal Mann–Kendall — trend detection robust to annual seasonality
# ---------------------------------------------------------------------------


@register(
    "seasonal_mann_kendall_trend",
    category="timeseries",
    doc="Seasonal Mann–Kendall: the MK statistic computed WITHIN each "
    "month-of-year season over daily revenue (pairs only compare "
    "same-season days, so an annual cycle cannot masquerade as trend), "
    "then S and the ties-corrected variance numerator 18*Var sum across "
    "the 12 seasons — the standard Hirsch-Slack formulation (without "
    "cross-season covariance; seasons are treated independent). All "
    "integers: per-season pair signs, var18 = n(n-1)(2n+5) - sum "
    "t(t-1)(2t+5) per season, and the continuity-corrected 5% verdict "
    "(|S|-1)^2 * 18 * 10^8 > 1.96^2*10^8 * var18 by pure "
    "cross-multiplication. The pair relation stays calendar-bounded "
    "(same-season day pairs only — ~12x smaller than plain MK's).",
    oracle="""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(month(o_orderdate) AS INTEGER) AS season,
         SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
  FROM orders GROUP BY 1, 2
),
s AS (
  SELECT CAST(SUM(CASE WHEN b.cents > a.cents THEN 1
                       WHEN b.cents < a.cents THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
  FROM d a JOIN d b ON b.season = a.season AND b.day > a.day
),
per AS (
  SELECT season, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY season
),
t AS (
  SELECT CAST(COALESCE(SUM(c * (c - 1) * (2 * c + 5)), 0) AS BIGINT) AS tie18
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY season, cents) g
),
v AS (
  SELECT CAST(SUM(n * (n - 1) * (2 * n + 5)) AS BIGINT) AS base18,
         CAST(SUM(n) AS BIGINT) AS n_days
  FROM per
),
m AS (
  SELECT v.n_days, s.s_stat, v.base18 - t.tie18 AS var18
  FROM v CROSS JOIN s CROSS JOIN t
)
SELECT n_days, s_stat, CAST(var18 AS BIGINT) AS var18,
       CASE WHEN abs(s_stat) <= 1 THEN FALSE
            ELSE CAST((abs(s_stat) - 1) AS HUGEINT) * (abs(s_stat) - 1) * 1800000000
                 > CAST(384160000 AS HUGEINT) * var18 END AS trend_significant
FROM m
""",
)
def seasonal_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    d = (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderdate").cast("date").alias("day"),
            F.month("o_orderdate").alias("season"),
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("cents")
        )
        .localCheckpoint()  # pairs, per-season counts, tie groups share it
    )
    a = d.select(
        c("season").alias("sa"), c("day").alias("da"), c("cents").alias("ca")
    )
    b = d.select(
        c("season").alias("sb"), c("day").alias("db"), c("cents").alias("cb")
    )
    s = (
        a.join(b, (c("sb") == c("sa")) & (c("db") > c("da")))
        .agg(
            F.sum(
                F.when(c("cb") > c("ca"), 1)
                .when(c("cb") < c("ca"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    per = d.groupBy("season").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    t = (
        d.groupBy("season", "cents")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cc"))
        .agg(
            F.coalesce(
                F.sum(c("cc") * (c("cc") - 1) * (2 * c("cc") + 5)), F.lit(0)
            )
            .cast("bigint")
            .alias("tie18")
        )
    )
    v = per.agg(
        F.sum(c("n") * (c("n") - 1) * (2 * c("n") + 5))
        .cast("bigint")
        .alias("base18"),
        F.sum("n").cast("bigint").alias("n_days"),
    )
    m = v.crossJoin(s).crossJoin(t).select(
        "n_days", "s_stat", (c("base18") - c("tie18")).alias("var18")
    )
    sig = F.when(F.abs(c("s_stat")) <= 1, F.lit(False)).otherwise(
        (F.abs(c("s_stat")) - 1).cast("decimal(38,0)")
        * (F.abs(c("s_stat")) - 1).cast("decimal(38,0)")
        * F.lit(1800000000).cast("decimal(38,0)")
        > F.lit(384160000).cast("decimal(38,0)") * c("var18").cast("decimal(38,0)")
    )
    return m.select(
        "n_days", "s_stat", "var18", sig.alias("trend_significant")
    )


# ---------------------------------------------------------------------------
# Newsvendor — the quantile stocking policy with an optimality audit
# ---------------------------------------------------------------------------

NV_CU = 4  # underage cost per unit (lost margin)
NV_CO = 1  # overage cost per unit (holding/salvage loss)


@register(
    "newsvendor_stock_level",
    category="timeseries",
    doc=f"Newsvendor stocking policy on daily total demand (lineitem "
    f"quantity): critical ratio cu/(cu+co) = {NV_CU}/{NV_CU + NV_CO} "
    "-> stock q* = smallest q with F(q) >= 0.8, i.e. the "
    "ceil(0.8 n)-th smallest daily demand — selected by the "
    "DISTRIBUTED SELECTION (operators/windows.py:rank_values, "
    "histogram narrowing, never a global sort). Emits exact integer "
    "under/over unit sums, the empirical cost at q*, and an AUDITED "
    "OPTIMALITY verdict: cost(q*-1) >= cost(q*) <= cost(q*+1) computed "
    "exactly — if the policy ever stops being the empirical minimizer "
    "the hash fails loudly. Service level as half-up ppm.",
    oracle=f"""
WITH d AS (
  SELECT CAST(l_shipdate AS DATE) AS day,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS dem
  FROM lineitem GROUP BY 1
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
q AS (
  -- ceil(4n/5) in INTEGER arithmetic: ceil(0.8*n) in float overshoots at
  -- multiples of 5 (0.8 is not dyadic: 0.8*5 = 4.0000000000000002)
  SELECT dem AS stock FROM d ORDER BY dem
  LIMIT 1 OFFSET (SELECT (4 * n + 4) // 5 - 1 FROM n)
),
costs AS (
  SELECT
    CAST(SUM(CASE WHEN dem > q.stock THEN dem - q.stock ELSE 0 END) AS BIGINT) AS under_u,
    CAST(SUM(CASE WHEN dem < q.stock THEN q.stock - dem ELSE 0 END) AS BIGINT) AS over_u,
    CAST(SUM(CASE WHEN dem > q.stock - 1 THEN dem - (q.stock - 1) ELSE 0 END) AS BIGINT) AS under_lo,
    CAST(SUM(CASE WHEN dem < q.stock - 1 THEN (q.stock - 1) - dem ELSE 0 END) AS BIGINT) AS over_lo,
    CAST(SUM(CASE WHEN dem > q.stock + 1 THEN dem - (q.stock + 1) ELSE 0 END) AS BIGINT) AS under_hi,
    CAST(SUM(CASE WHEN dem < q.stock + 1 THEN (q.stock + 1) - dem ELSE 0 END) AS BIGINT) AS over_hi,
    CAST(SUM(CASE WHEN dem <= q.stock THEN 1 ELSE 0 END) AS BIGINT) AS served
  FROM d CROSS JOIN q
)
SELECT n.n AS n_days,
       q.stock,
       CAST((2000000 * c.served + n.n) // (2 * n.n) AS BIGINT) AS service_ppm,
       c.under_u AS under_units, c.over_u AS over_units,
       {NV_CU} * c.under_u + {NV_CO} * c.over_u AS cost_at_q,
       ({NV_CU} * c.under_lo + {NV_CO} * c.over_lo
          >= {NV_CU} * c.under_u + {NV_CO} * c.over_u)
       AND ({NV_CU} * c.under_hi + {NV_CO} * c.over_hi
          >= {NV_CU} * c.under_u + {NV_CO} * c.over_u) AS empirically_optimal
FROM n CROSS JOIN q CROSS JOIN costs c
""",
)
def newsvendor_stock_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.operators.windows import rank_values

    c = F.col
    d = (
        table(spark, sf_dir, "lineitem")
        .groupBy(c("l_shipdate").cast("date").alias("day"))
        .agg(F.sum(c("l_quantity").cast("bigint")).alias("dem"))
        .localCheckpoint()  # selection passes + the cost pass share it
    )
    vals, n_days = rank_values(d, "dem", lambda n: [-(-4 * n // 5)])
    (stock,) = vals.values()
    q = F.lit(stock)
    costs = d.agg(
        F.sum(F.when(c("dem") > q, c("dem") - q).otherwise(0)).alias("under_u"),
        F.sum(F.when(c("dem") < q, q - c("dem")).otherwise(0)).alias("over_u"),
        F.sum(
            F.when(c("dem") > q - 1, c("dem") - (q - 1)).otherwise(0)
        ).alias("under_lo"),
        F.sum(
            F.when(c("dem") < q - 1, (q - 1) - c("dem")).otherwise(0)
        ).alias("over_lo"),
        F.sum(
            F.when(c("dem") > q + 1, c("dem") - (q + 1)).otherwise(0)
        ).alias("under_hi"),
        F.sum(
            F.when(c("dem") < q + 1, (q + 1) - c("dem")).otherwise(0)
        ).alias("over_hi"),
        F.sum((c("dem") <= q).cast("bigint")).alias("served"),
    )
    cost = NV_CU * c("under_u") + NV_CO * c("over_u")
    return costs.select(
        F.lit(n_days).cast("bigint").alias("n_days"),
        F.lit(stock).cast("bigint").alias("stock"),
        F.expr(
            f"CAST((2000000 * served + {n_days}) DIV (2 * {n_days}) AS BIGINT)"
        ).alias("service_ppm"),
        c("under_u").cast("bigint").alias("under_units"),
        c("over_u").cast("bigint").alias("over_units"),
        cost.cast("bigint").alias("cost_at_q"),
        (
            (NV_CU * c("under_lo") + NV_CO * c("over_lo") >= cost)
            & (NV_CU * c("under_hi") + NV_CO * c("over_hi") >= cost)
        ).alias("empirically_optimal"),
    )


# ---------------------------------------------------------------------------
# Hurst exponent — rescaled-range long-memory diagnostic
# ---------------------------------------------------------------------------

HURST_WINDOWS = (16, 32, 64, 128)


@register(
    "hurst_rescaled_range",
    category="timeseries",
    doc="Hurst exponent by classical R/S analysis over daily revenue: for "
    f"each window size m in {HURST_WINDOWS}, the series splits into "
    "full m-day blocks; the block's cumulative-deviation range is kept "
    "EXACT by scaling (dev_k*m = m*cum_k - k*sum, an integer — no "
    "rational mean ever materializes) and R/S = R_scaled/sqrt(m*sum_x2 "
    "- sum^2) is ONE isolated-rounded division+sqrt of exact integers "
    "per block (the mann_whitney float class). Per-m mean R/S "
    "decimal-accumulates (davg class); H = OLS slope of ln(mean RS) on "
    "ln(m) over the 4 points, computed EXACTLY on the 9dp nano grid "
    "with a sign-split half-up milli emission. H≈0.5 = random walk, "
    ">0.5 persistent, <0.5 mean-reverting. Day-grain windows only "
    "(calendar-bounded exemption).",
    oracle="""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS x
  FROM orders GROUP BY 1
),
idx AS (
  SELECT x, row_number() OVER (ORDER BY day) AS i FROM d
),
blk AS (
  SELECT mm.m, (i - 1) // mm.m AS b,
         CAST(row_number() OVER (PARTITION BY mm.m, (i - 1) // mm.m ORDER BY i)
              AS HUGEINT) AS k,
         CAST(x AS HUGEINT) AS x
  FROM idx CROSS JOIN (SELECT unnest([16, 32, 64, 128]) AS m) mm
),
wstat AS (
  SELECT m, b, k, x,
         SUM(x) OVER (PARTITION BY m, b ORDER BY k) AS cum,
         SUM(x) OVER (PARTITION BY m, b) AS sx,
         SUM(x * x) OVER (PARTITION BY m, b) AS sxx,
         COUNT(*) OVER (PARTITION BY m, b) AS cnt
  FROM blk
),
dev AS (
  SELECT m, b, sx, sxx,
         m * cum - k * sx AS ds
  FROM wstat WHERE cnt = m
),
per_block AS (
  SELECT m, b,
         round((greatest(CAST(MAX(ds) AS DOUBLE), 0) - least(CAST(MIN(ds) AS DOUBLE), 0))
               / sqrt(CAST(MAX(m) * MAX(sxx) - MAX(sx) * MAX(sx) AS DOUBLE)), 6) AS rs
  FROM dev GROUP BY m, b
),
per_m AS (
  SELECT m, CAST(COUNT(*) AS BIGINT) AS n_blocks,
         CAST(CAST(SUM(CAST(rs AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS DOUBLE)
           AS mean_rs
  FROM per_block GROUP BY m
),
pts AS (
  SELECT CAST(round(ln(CAST(m AS DOUBLE)), 9) * 1000000000 AS HUGEINT) AS lx,
         CAST(round(ln(mean_rs), 9) * 1000000000 AS HUGEINT) AS ly
  FROM per_m
),
fit AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(lx) AS sx, SUM(ly) AS sy, SUM(lx * ly) AS sxy, SUM(lx * lx) AS sxx
  FROM pts
),
h AS (
  SELECT n * sxy - sx * sy AS num, n * sxx - sx * sx AS den FROM fit
)
SELECT per_m.m, per_m.n_blocks, per_m.mean_rs,
       CAST((CASE WHEN h.num < 0 THEN -1 ELSE 1 END)
            * ((2000 * abs(h.num) + h.den) // (2 * h.den)) AS BIGINT)
         AS hurst_milli
FROM per_m CROSS JOIN h
""",
)
def hurst_rescaled_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    d = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("x")
        )
    )
    # day-grain (calendar-bounded) global window — sanctioned exemption
    idx = d.select(
        "x", F.row_number().over(Window.orderBy("day")).alias("i")
    ).localCheckpoint()  # replicated x4 and re-windowed below
    m_arr = F.explode(F.array(*[F.lit(m) for m in HURST_WINDOWS]))
    blk = idx.select("x", "i", m_arr.alias("m")).select(
        "m",
        F.expr("(i - 1) DIV m").alias("b"),
        "x",
        "i",
    )
    wb = Window.partitionBy("m", "b")
    wk = Window.partitionBy("m", "b").orderBy("i")
    wstat = blk.select(
        "m",
        "b",
        F.row_number().over(wk).cast("bigint").alias("k"),
        "x",
        F.sum(c("x").cast("decimal(38,0)")).over(wk).alias("cum"),
        F.sum(c("x").cast("decimal(38,0)")).over(wb).alias("sx"),
        F.sum((c("x").cast("decimal(38,0)") * c("x"))).over(wb).alias("sxx"),
        F.count(F.lit(1)).over(wb).alias("cnt"),
    )
    dev = wstat.where(c("cnt") == c("m")).select(
        "m",
        "b",
        "sx",
        "sxx",
        F.expr("m * cum - k * sx").alias("ds"),
    )
    per_block = dev.groupBy("m", "b").agg(
        F.round(
            (
                F.greatest(F.max("ds").cast("double"), F.lit(0.0))
                - F.least(F.min("ds").cast("double"), F.lit(0.0))
            )
            / F.sqrt(
                (F.max("m") * F.max("sxx") - F.max("sx") * F.max("sx")).cast(
                    "double"
                )
            ),
            6,
        ).alias("rs")
    )
    per_m = per_block.groupBy("m").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        (
            F.sum(c("rs").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_rs"),
    ).localCheckpoint()  # the fit and the output both read it
    pts = per_m.select(
        (F.round(F.log(c("m").cast("double")), 9) * F.lit(1_000_000_000))
        .cast("decimal(38,0)")
        .alias("lx"),
        (F.round(F.log("mean_rs"), 9) * F.lit(1_000_000_000))
        .cast("decimal(38,0)")
        .alias("ly"),
    )
    fit = pts.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(c("lx") * c("ly")).alias("sxy"),
        F.sum(c("lx") * c("lx")).alias("sxx"),
    )
    h = fit.select(
        F.expr("n * sxy - sx * sy").alias("num"),
        F.expr("n * sxx - sx * sx").alias("den"),
    )
    return per_m.crossJoin(F.broadcast(h)).select(
        "m",
        "n_blocks",
        "mean_rs",
        F.expr(
            "CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)"
            " * ((2000 * abs(num) + den) DIV (2 * den)) AS BIGINT)"
        ).alias("hurst_milli"),
    )


# ---------------------------------------------------------------------------
# VaR / CVaR — tail risk of day-over-day revenue changes
# ---------------------------------------------------------------------------


@register(
    "var_cvar_revenue_changes",
    category="timeseries",
    doc="Historical-simulation VaR(5%) and CVaR on day-over-day revenue "
    "changes: deltas from one calendar-lag pass over the bounded day "
    "grain, VaR = the ceil(0.05 n)-th smallest delta selected by the "
    "DISTRIBUTED QUICKSELECT (integer k = (n+19) DIV 20 — no float "
    "quantile index, the newsvendor lesson), CVaR = exact mean of the "
    "tail at-or-below VaR as sign-split half-up milli-cents. All "
    "integers end to end; the risk-desk readout built on the same "
    "order-statistic primitive as conformal/newsvendor.",
    oracle="""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
),
ch AS (
  SELECT cents - lag(cents) OVER (ORDER BY day) AS delta
  FROM d
),
cc AS (SELECT delta FROM ch WHERE delta IS NOT NULL),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cc),
v AS (
  SELECT delta AS var_cents FROM cc ORDER BY delta
  LIMIT 1 OFFSET (SELECT (n + 19) // 20 - 1 FROM n)
),
tail AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS tn,
         CAST(SUM(delta) AS HUGEINT) AS ts
  FROM cc CROSS JOIN v WHERE delta <= v.var_cents
)
SELECT n.n AS n_changes,
       CAST(v.var_cents AS BIGINT) AS var_cents,
       CAST(tail.tn AS BIGINT) AS n_tail,
       CAST((CASE WHEN tail.ts < 0 THEN -1 ELSE 1 END)
            * ((2000 * abs(tail.ts) + tail.tn) // (2 * tail.tn)) AS BIGINT)
         AS cvar_milli_cents
FROM n CROSS JOIN v CROSS JOIN tail
""",
)
def var_cvar_revenue_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    )
    # bounded day-grain window (calendar exemption)
    ch = (
        d.select(
            (c("cents") - F.lag("cents").over(Window.orderBy("day"))).alias("delta")
        )
        .where(c("delta").isNotNull())
        .localCheckpoint()  # selection passes + the tail pass share it
    )
    vals, n_changes = rank_values(ch, "delta", lambda n: [(n + 19) // 20])
    (var_cents,) = vals.values()
    tail = ch.where(c("delta") <= var_cents).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("tn"),
        F.sum("delta").cast("decimal(38,0)").alias("ts"),
    )
    return tail.select(
        F.lit(n_changes).cast("bigint").alias("n_changes"),
        F.lit(var_cents).cast("bigint").alias("var_cents"),
        c("tn").cast("bigint").alias("n_tail"),
        F.expr(
            "CAST((CASE WHEN ts < 0 THEN -1 ELSE 1 END)"
            " * ((2000 * abs(ts) + tn) DIV (2 * tn)) AS BIGINT)"
        ).alias("cvar_milli_cents"),
    )


# ---------------------------------------------------------------------------
# Gumbel block-maxima fit — extreme-value capacity planning
# ---------------------------------------------------------------------------

# frozen double literals (method-of-moments Gumbel + 100-block return level)
_GUM_SQRT6_PI = 0.7796968012336761  # sqrt(6)/pi
_GUM_EULER = 0.5772156649015329
_GUM_Y100 = 4.600149226776579  # -ln(-ln(1 - 1/100))


@register(
    "gumbel_block_maxima_fit",
    category="timeseries",
    doc="Extreme-value analysis: Gumbel fit (method of moments) on MONTHLY "
    "block maxima of daily revenue — beta = sigma*sqrt(6)/pi, mu = mean "
    "- gamma*beta, and the 100-month return level mu + 4.6001*beta (the "
    "capacity-planning number: revenue exceeded once per ~100 months). "
    "Block maxima come from two calendar-grain aggregates; the moments "
    "(n, S, S2) are EXACT integers, and every emitted double is ONE "
    "fixed IEEE expression tree over those identical integers with "
    "frozen irrational literals (sqrt6/pi, Euler gamma, y100), rounded "
    "4dp in isolation — the mann_whitney float class. The EVT "
    "complement to VaR/CVaR (which is an in-sample quantile; this "
    "extrapolates beyond it).",
    oracle=f"""
WITH d AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mo,
         CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
  FROM orders GROUP BY 1, 2
),
mx AS (SELECT mo, CAST(MAX(cents) AS HUGEINT) AS m FROM d GROUP BY mo),
mom AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(m) AS HUGEINT) AS s,
         CAST(SUM(m * m) AS HUGEINT) AS s2
  FROM mx
),
fit AS (
  SELECT CAST(n AS BIGINT) AS n_blocks,
         CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
         sqrt(CAST(n * s2 - s * s AS DOUBLE)) / CAST(n AS DOUBLE) AS sigma
  FROM mom
)
SELECT n_blocks,
       round(mean - {_GUM_EULER} * (sigma * {_GUM_SQRT6_PI}), 4) AS mu_cents,
       round(sigma * {_GUM_SQRT6_PI}, 4) AS beta_cents,
       round(mean - {_GUM_EULER} * (sigma * {_GUM_SQRT6_PI})
             + {_GUM_Y100} * (sigma * {_GUM_SQRT6_PI}), 4) AS return_level_100_cents
FROM fit
""",
)
def gumbel_block_maxima_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    d = (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.date_trunc("month", c("o_orderdate")).cast("date").alias("mo"),
            c("o_orderdate").cast("date").alias("day"),
        )
        .agg(
            F.sum(
                F.floor(c("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("cents")
        )
    )
    mx = d.groupBy("mo").agg(F.max("cents").cast("decimal(38,0)").alias("m"))
    mom = mx.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("m").cast("decimal(38,0)").alias("s"),
        F.sum(c("m") * c("m")).cast("decimal(38,0)").alias("s2"),
    )
    fit = mom.select(
        c("n").cast("bigint").alias("n_blocks"),
        (c("s").cast("double") / c("n").cast("double")).alias("mean"),
        (
            F.sqrt((c("n") * c("s2") - c("s") * c("s")).cast("double"))
            / c("n").cast("double")
        ).alias("sigma"),
    )
    beta = c("sigma") * F.lit(_GUM_SQRT6_PI)
    mu = c("mean") - F.lit(_GUM_EULER) * beta
    return fit.select(
        "n_blocks",
        F.round(mu, 4).alias("mu_cents"),
        F.round(beta, 4).alias("beta_cents"),
        F.round(mu + F.lit(_GUM_Y100) * beta, 4).alias("return_level_100_cents"),
    )


# ---------------------------------------------------------------------------
# Cross-correlation function — lead/lag structure between two daily series
# ---------------------------------------------------------------------------

CCF_MAX_LAG = 7


@register(
    "ccf_count_revenue_daily",
    category="timeseries",
    doc=f"Cross-correlation function between daily order COUNT and daily "
    f"revenue at calendar lags -{CCF_MAX_LAG}..+{CCF_MAX_LAG}: positive "
    "lags correlate today's count with revenue k days LATER (does "
    "volume lead value?). Per-lag Pearson moments accumulate as exact "
    "integers over the calendar-aligned day pairs (the acf machinery "
    "generalized to two series; the 15-row lag spine broadcasts), and "
    "every coefficient goes through the shared corrected-isqrt ppm "
    "path — no float quotient hashed. Day-grain bounded at any SF.",
    oracle=f"""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS x,
         SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS y
  FROM orders GROUP BY 1
),
lags AS (SELECT unnest(range(-{CCF_MAX_LAG}, {CCF_MAX_LAG} + 1)) AS lag),
pairs AS (
  SELECT l.lag, a.x AS xa, b.y AS yb
  FROM lags l
  JOIN d a ON TRUE
  JOIN d b ON b.day = a.day + CAST(l.lag AS BIGINT) * INTERVAL 1 DAY
),
mom AS (
  SELECT lag, CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(xa) AS HUGEINT) AS sx, CAST(SUM(yb) AS HUGEINT) AS sy,
         CAST(SUM(CAST(xa AS HUGEINT) * yb) AS HUGEINT) AS sxy,
         CAST(SUM(CAST(xa AS HUGEINT) * xa) AS HUGEINT) AS sxx,
         CAST(SUM(CAST(yb AS HUGEINT) * yb) AS HUGEINT) AS syy
  FROM pairs GROUP BY lag
),
m AS (
  SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
         n * sxy - sx * sy AS num,
         n * sxx - sx * sx AS dxx,
         n * syy - sy * sy AS dyy
  FROM mom
)
SELECT lag, n_pairs, {{CORR}} AS ccf_ppm
FROM m
""",
)
def ccf_count_revenue_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.functions.stats import with_corr_ppm

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
        .localCheckpoint()  # both sides of every lag join read it
    )
    lags = spark.range(-CCF_MAX_LAG, CCF_MAX_LAG + 1).select(
        c("id").cast("int").alias("lag")
    )
    a = d.select(c("day").alias("da"), c("x").alias("xa"))
    b = d.select(c("day").alias("db"), c("y").alias("yb"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.expr("db = date_add(da, lag)"))
        .select("lag", "xa", "yb")
    )
    mom = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("xa").cast("decimal(38,0)").alias("sx"),
        F.sum("yb").cast("decimal(38,0)").alias("sy"),
        F.sum(c("xa").cast("decimal(38,0)") * c("yb")).cast("decimal(38,0)").alias("sxy"),
        F.sum(c("xa").cast("decimal(38,0)") * c("xa")).cast("decimal(38,0)").alias("sxx"),
        F.sum(c("yb").cast("decimal(38,0)") * c("yb")).cast("decimal(38,0)").alias("syy"),
    )
    m = mom.select(
        c("lag").cast("bigint").alias("lag"),
        c("n").cast("bigint").alias("n_pairs"),
        F.expr("CAST(n * sxy - sx * sy AS DECIMAL(38,0))").alias("num"),
        F.expr("CAST(n * sxx - sx * sx AS DECIMAL(38,0))").alias("dxx"),
        F.expr("CAST(n * syy - sy * sy AS DECIMAL(38,0))").alias("dyy"),
    )
    return with_corr_ppm(m, out="ccf_ppm").select("lag", "n_pairs", "ccf_ppm")


from wheels_in_motion_analytics_spark.functions.stats import corr_ppm_sql as _ccf_corr  # noqa: E402

_REGISTRY["ccf_count_revenue_daily"].oracle = _REGISTRY[
    "ccf_count_revenue_daily"
].oracle.replace("{CORR}", _ccf_corr("num", "dxx", "dyy"))
