"""Unit tests for the operator library functions (the reusable API surface
behind the registry queries)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pyspark.sql.types as T

from wheels_in_motion_analytics_spark.operators.dedup import dedup_by_key
from wheels_in_motion_analytics_spark.operators.joins import anti_join, asof_join, semi_join
from wheels_in_motion_analytics_spark.operators.aggregates import null_profile
from wheels_in_motion_analytics_spark.operators.projection import (
    cast_columns,
    drop_if_exists,
    rename_columns,
)
from wheels_in_motion_analytics_spark.functions.datetime_dim import build_datetime_dim
from wheels_in_motion_analytics_spark.functions.text import fingerprint
from wheels_in_motion_analytics_spark.sources.manifest import latest_entry, manifest_from_dict


def test_rename_columns_conditional(spark):
    df = spark.createDataFrame([(1, "x")], "`Start Date` string, other string")
    out = rename_columns(df, {"Start Date": "start_date", "Missing Col": "nope"})
    assert out.columns == ["start_date", "other"]


def test_drop_if_exists(spark):
    df = spark.createDataFrame([(1, 2)], "a int, b int")
    out = drop_if_exists(df, ["b", "zzz"])
    assert out.columns == ["a"]


def test_cast_columns(spark):
    df = spark.createDataFrame([("5", "x")], "a string, b string")
    out = cast_columns(df, {"a": "bigint", "zzz": "int"})
    assert dict(out.dtypes)["a"] == "bigint"


def test_anti_semi_join_null_safety(spark):
    """left_anti keeps working when the key set contains NULLs — the NOT IN
    trap (SURVEY.md §4.3)."""
    big = spark.createDataFrame([(1,), (2,), (3,)], "k bigint")
    keys = spark.createDataFrame([(1,), (None,)], "k bigint")
    assert {r.k for r in anti_join(big, keys, ["k"]).collect()} == {2, 3}
    assert {r.k for r in semi_join(big, keys, ["k"]).collect()} == {1}


def test_dedup_by_key_deterministic_winner(spark):
    df = spark.createDataFrame(
        [(1, "b", 10), (1, "a", 20), (2, "c", 5)], "k int, tie string, v int"
    )
    out = dedup_by_key(df, ["k"], [F.col("tie").asc()])
    assert {(r.k, r.tie) for r in out.collect()} == {(1, "a"), (2, "c")}


def test_null_profile_counts(spark):
    df = spark.createDataFrame(
        [(1, None), (None, None), (3, "x")],
        T.StructType([T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())]),
    )
    row = null_profile(df).collect()[0]
    assert row.a == 1 and row.b == 2


def test_asof_join_semantics(spark):
    left = spark.createDataFrame([(1, 10), (1, 3), (2, 7)], "k int, t int")
    right = spark.createDataFrame([(1, 5, "a"), (1, 9, "b"), (2, 8, "c")], "k int, rt int, val string")
    out = asof_join(left, right, on="k", left_ts="t", right_ts="rt", right_cols=["val"])
    got = {(r.k, r.t): r.val for r in out.collect()}
    # t=10 sees rt=9; t=3 sees nothing; t=7 sees nothing (rt=8 is later)
    assert got == {(1, 10): "b", (1, 3): None, (2, 7): None}


def test_build_datetime_dim_week_day_semantics(spark):
    df = spark.createDataFrame([("2024-01-07 13:45:06",)], "ts string").select(
        F.to_timestamp("ts").alias("ts")
    )
    row = build_datetime_dim(df, "ts").collect()[0]
    # 2024-01-07 is a Sunday -> Spark dayofweek == 1
    assert (row.year, row.week_day, row.month, row.day) == (2024, 1, 1, 7)
    assert (row.hour, row.minute, row.second) == (13, 45, 6)


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [("Hello   World",), ("  hello world ",)], "text string"
    ).select(fingerprint(F.col("text")).alias("fp"))
    fps = [r.fp for r in df.collect()]
    assert fps[0] == fps[1]


def test_manifest_latest_entry(spark):
    links = {
        "23Mar2021": "usage-stats/17Mar2021-23Mar2021.csv",
        "30Mar2021": "usage-stats/24Mar2021-30Mar2021.csv",
        "06Apr2021": "usage-stats/31Mar2021-06Apr2021.csv",
    }
    m = manifest_from_dict(spark, links)
    assert m.count() == 3
    import datetime

    row = latest_entry(m, datetime.date(2021, 4, 1)).collect()
    assert len(row) == 1 and row[0].date_key == "30Mar2021"
    assert row[0].filename == "24Mar2021-30Mar2021.csv"


def test_conform_schema(spark):
    import pyspark.sql.types as T

    from wheels_in_motion_analytics_spark.operators.projection import conform_schema

    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    drifted = spark.createDataFrame(
        [("7", "x", "junk")], "`Id Number` string, name string, extra string"
    )
    out = conform_schema(drifted, target, rename_map={"Id Number": "id"})
    assert out.schema == target
    row = out.collect()[0]
    assert (row.id, row.name, row.score) == (7, "x", None)


def test_incremental_ingest_exactly_once_per_file(spark, tmp_path):
    """File-ledger ingestion: second run over the same files yields nothing;
    newly arrived files yield only their rows."""
    from wheels_in_motion_analytics_spark.sources.incremental import (
        commit_ledger,
        ingest_new_files,
    )

    src = tmp_path / "src"
    ledger = str(tmp_path / "ledger")
    spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "f1"))

    batch1 = ingest_new_files(spark, str(src / "*"), ledger)
    assert batch1.count() == 2
    commit_ledger(batch1, ledger)

    assert ingest_new_files(spark, str(src / "*"), ledger).count() == 0  # idempotent

    spark.createDataFrame([(3, "c")], "id int, v string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "f2"))
    batch2 = ingest_new_files(spark, str(src / "*"), ledger)
    assert [r.id for r in batch2.collect()] == [3]


def test_salted_join_spreads_hot_key(spark):
    """Skew remedy evidence: with a 90%-hot key, the salted join's post-
    shuffle partitions each hold only a slice of the hot key, while result
    equality with the plain join is guaranteed by the registry oracle."""
    from wheels_in_motion_analytics_spark.operators.advanced import salted_join

    hot = [(1, i) for i in range(900)] + [(k, i) for k in range(2, 12) for i in range(10)]
    big = spark.createDataFrame(hot, "k int, payload int")
    small = spark.createDataFrame([(k, f"dim{k}") for k in range(1, 12)], "k int, attr string")

    joined = salted_join(big, small, "k", buckets=8, keep_salt=True)
    # the hot key's rows must spread across many salt values — each salt is
    # a distinct join task key, so this IS the skew split (partition ids
    # can't be asserted locally: AQE re-coalesces the tiny test output)
    dist = joined.where(F.col("k") == 1).groupBy("__salt").count().collect()
    assert sum(r["count"] for r in dist) == 900  # no row loss
    assert len(dist) >= 4, f"hot key only hit {len(dist)} salt bucket(s)"
    assert max(r["count"] for r in dist) < 900  # actually split
    # plain-join equality
    plain = big.join(small, "k")
    assert joined.count() == plain.count()


def test_custom_manifest_datasource(spark, tmp_path):
    """Spark 4 Python DataSource API: the manifest JSON served as a
    spark.read.format('manifest') table, partitioned, typed, composable."""
    import json

    from wheels_in_motion_analytics_spark.sources.manifest_datasource import (
        register_manifest_source,
    )

    links = {
        "23Mar2021": "usage-stats/17Mar2021-23Mar2021.csv",
        "30Mar2021": "usage-stats/24Mar2021-30Mar2021.csv",
        "06Apr2021": "usage-stats/31Mar2021-06Apr2021.csv",
    }
    mpath = tmp_path / "links_dictionary.json"
    mpath.write_text(json.dumps(links))

    register_manifest_source(spark)
    df = spark.read.format("manifest").option("path", str(mpath)).load()
    rows = {r.date_key: (r.rel_path, r.filename) for r in df.collect()}
    assert rows == {
        k: (v, v.rsplit("/", 1)[-1]) for k, v in links.items()
    }
    # composes with the relational layer: filter + projection on the source
    assert df.where(F.col("date_key").endswith("Mar2021")).count() == 2


def test_recursive_csv_and_binary_file_sources(spark, tmp_path):
    """S3 recursive CSV lookup and S6 binaryFile source."""
    import json

    from wheels_in_motion_analytics_spark.sources.readers import (
        normalize_json_payload,
        read_binary_files,
        read_csv,
    )

    # nested, non-glob layout -> recursiveFileLookup
    for sub in ("a/x", "b/y/z"):
        d = tmp_path / "csvs" / sub
        d.mkdir(parents=True)
        (d / "part.csv").write_text("id,v\n1,one\n2,two\n")
    df = read_csv(spark, str(tmp_path / "csvs"), recursive=True, infer=True)
    assert df.count() == 4 and set(df.columns) == {"id", "v"}

    # binaryFile source: path/length/content columns, glob filter
    (tmp_path / "blobs").mkdir()
    (tmp_path / "blobs" / "one.bin").write_bytes(b"\x00\x01\x02")
    (tmp_path / "blobs" / "skip.txt").write_text("nope")
    bdf = read_binary_files(spark, str(tmp_path / "blobs"), glob="*.bin")
    rows = bdf.collect()
    assert len(rows) == 1
    assert rows[0].length == 3 and bytes(rows[0].content) == b"\x00\x01\x02"

    # S8 normalization: list-root payload passes through unchanged
    lp = tmp_path / "list_root.json"
    lp.write_text(json.dumps([{"datetime": "2021-03-01", "temp": 5.0}]))
    ldf = normalize_json_payload(spark, str(lp))
    assert ldf.count() == 1 and "temp" in ldf.columns


def test_sessionize_events_gap_semantics(spark):
    from tests.conftest import SF_SMALL
    from wheels_in_motion_analytics_spark.registry import load_all_queries
    from wheels_in_motion_analytics_spark.tables import table

    sess = load_all_queries()["sessionize_events"].fn(spark, SF_SMALL)
    rows = sess.collect()
    ev_n = table(spark, SF_SMALL, "events").count()
    assert sum(r.n_events for r in rows) == ev_n  # partition of the stream
    assert all(r.session_start <= r.session_end for r in rows)
    # per user: sessions are disjoint and separated by > 30 min
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    import datetime as dt

    gap = dt.timedelta(minutes=30)
    for spans in by_user.values():
        spans.sort(key=lambda r: r.session_start)
        for a, b in zip(spans, spans[1:]):
            assert b.session_start - a.session_end > gap


def test_pricing_summary_is_scan_plus_partial_agg(spark):
    from tests.conftest import SF_SMALL
    from wheels_in_motion_analytics_spark.registry import load_all_queries

    df = load_all_queries()["pricing_summary_report"].fn(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # map-side combine: a partial HashAggregate below the exchange
    assert plan.count("HashAggregate") >= 2
    assert "SortMergeJoin" not in plan and "Exchange" in plan


def test_hll_sketch_rollup_tracks_exact_distinct(spark):
    from tests.conftest import SF_SMALL
    from wheels_in_motion_analytics_spark.registry import load_all_queries
    from wheels_in_motion_analytics_spark.tables import table
    import pyspark.sql.functions as F

    rows = load_all_queries()["hll_sketch_rollup"].fn(spark, SF_SMALL).collect()
    audited = {r.order_year: (r.exact_distinct_customers, r.hll_within_5pct) for r in rows}
    exact = {
        r.order_year: r.n
        for r in table(spark, SF_SMALL, "orders")
        .groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    assert {y: e for y, (e, _) in audited.items()} == exact
    # HLL default lgConfigK=12 → ~1.6% relative standard error; the query's
    # own audit column (5% band) must hold for every year
    assert all(ok for _, ok in audited.values()), audited


def test_streak_detection_on_known_sequence(spark):
    import pyspark.sql.functions as F

    from wheels_in_motion_analytics_spark.operators.windows import (
        streak_increasing_orders,  # noqa: F401 — registered fn used via SPECS
    )
    from wheels_in_motion_analytics_spark.registry import REGISTRY

    from tests.conftest import SF_SMALL

    rows = REGISTRY["streak_increasing_orders"].fn(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r.longest_increasing_streak >= 1


def test_weighted_median_is_weight_balanced(spark):
    import pyspark.sql.functions as F

    from wheels_in_motion_analytics_spark.registry import REGISTRY
    from wheels_in_motion_analytics_spark.tables import table as _table

    from tests.conftest import SF_SMALL

    meds = {
        r.flag: r.weighted_median_cents
        for r in REGISTRY["weighted_median_price"].fn(spark, SF_SMALL).collect()
    }
    li = _table(spark, SF_SMALL, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        F.col("l_quantity").cast("bigint").alias("w"),
    )
    for flag, med in meds.items():
        rows = li.where(F.col("l_returnflag") == flag).collect()
        total = sum(r.w for r in rows)
        below = sum(r.w for r in rows if r.cents < med)
        at_or_below = sum(r.w for r in rows if r.cents <= med)
        # defining property of the lower weighted median
        assert below * 2 < total <= at_or_below * 2


def test_fetch_binary_acquires_file_urls_and_captures_failures(spark, tmp_path):
    """S6 fetch half: distributed urllib acquisition — file:// URLs fetched
    byte-exact, bad URLs captured as status rows, nothing raised."""
    from wheels_in_motion_analytics_spark.sources.readers import fetch_binary

    p1 = tmp_path / "a.bin"
    p2 = tmp_path / "b.bin"
    p1.write_bytes(b"payload-one")
    p2.write_bytes(b"\x00\x01\x02binary")
    urls = [p1.as_uri(), p2.as_uri(), "file:///nonexistent/nope.bin"]
    rows = {r.url: r for r in fetch_binary(spark, urls).collect()}
    assert rows[p1.as_uri()].status == "ok"
    assert bytes(rows[p1.as_uri()].content) == b"payload-one"
    assert bytes(rows[p2.as_uri()].content) == b"\x00\x01\x02binary"
    assert rows[p2.as_uri()].n_bytes == 9
    bad = rows["file:///nonexistent/nope.bin"]
    assert bad.status.startswith("error:") and bad.n_bytes == 0


def test_global_row_number_matches_single_partition_window(spark):
    from pyspark.sql import Window
    from wheels_in_motion_analytics_spark.operators.windows import (
        global_ntile,
        global_row_number,
    )

    # values with heavy ties so range-partition boundaries land inside tie
    # runs; unique (k, i) tiebreak makes the order total
    rows = [(v % 7, i) for i, v in enumerate(range(997, 0, -13))]
    df = spark.createDataFrame(rows, "k int, i int")
    got = global_row_number(df, ["k", "i"], partitions=5)
    w = Window.orderBy("k", "i")
    want = df.withColumn("rn", F.row_number().over(w))
    assert sorted(got.collect()) == sorted(want.collect())

    got_t = global_ntile(df, 4, ["k", "i"], partitions=5)
    want_t = df.withColumn("tile", F.ntile(4).over(w))
    assert sorted(got_t.collect()) == sorted(want_t.collect())


def test_global_ntile_uneven_split_semantics(spark):
    # 10 rows into 4 tiles: ntile gives sizes 3,3,2,2 (first N%n get extra)
    from wheels_in_motion_analytics_spark.operators.windows import global_ntile

    df = spark.createDataFrame([(i,) for i in range(10)], "x int")
    out = global_ntile(df, 4, ["x"], partitions=3)
    sizes = {r["tile"]: r["n"] for r in out.groupBy("tile").agg(F.count("*").alias("n")).collect()}
    assert sizes == {1: 3, 2: 3, 3: 2, 4: 2}


def test_global_prefix_sums_matches_global_window(spark):
    from pyspark.sql import Window
    from wheels_in_motion_analytics_spark.operators.windows import global_prefix_sums

    rows = [((i * 37) % 11, i % 5 + 1, (i * 3) % 7) for i in range(300)]
    df = spark.createDataFrame(rows, "k int, a long, b long")
    # ties on k are fine: both the window and the two-phase sum accumulate
    # per distinct key order; group first so the order is total
    g = df.groupBy("k").agg(F.sum("a").alias("a"), F.sum("b").alias("b"))
    got = global_prefix_sums(g, ["k"], ["a", "b"], partitions=4)
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = g.select(
        "k", "a", "b",
        F.sum("a").over(w).alias("a_cum"),
        F.sum("b").over(w).alias("b_cum"),
    )
    key = lambda r: r["k"]
    assert sorted(got.select("k", "a", "b", "a_cum", "b_cum").collect(), key=key) == sorted(
        want.collect(), key=key
    )


def test_custom_manifest_datasource_write_roundtrip(spark, tmp_path):
    """The write half of the custom Python DataSource: distributed task
    writes + driver-side commit merge into one manifest file, then the read
    half serves it back."""
    from wheels_in_motion_analytics_spark.sources.manifest_datasource import (
        register_manifest_source,
    )

    register_manifest_source(spark)
    target = str(tmp_path / "out" / "manifest.json")
    df = spark.createDataFrame(
        [(f"0{i}Jan2024", f"y/m/file_{i}.csv", f"file_{i}.csv") for i in range(10)],
        "date_key string, rel_path string, filename string",
    ).repartition(4)
    df.write.format("manifest").option("path", target).mode("overwrite").save()

    back = (
        spark.read.format("manifest").option("path", target).load().collect()
    )
    assert sorted((r.date_key, r.rel_path) for r in back) == [
        (f"0{i}Jan2024", f"y/m/file_{i}.csv") for i in range(10)
    ]
    # append mode merges with the existing manifest instead of replacing it
    extra = spark.createDataFrame(
        [("31Dec2024", "y/m/extra.csv", "extra.csv")],
        "date_key string, rel_path string, filename string",
    )
    extra.write.format("manifest").option("path", target).mode("append").save()
    n = spark.read.format("manifest").option("path", target).load().count()
    assert n == 11


def test_global_quartiles_match_spark_percentile(spark):
    """Cross-engine-independent check: the rank-selected exact quartiles
    equal Spark's own percentile() (which interpolates the same
    quantile_cont way) on the real table."""
    from wheels_in_motion_analytics_spark.registry import load_all_queries

    sf = "/root/testdata/sf0.001"
    row = load_all_queries()["global_quartiles_exact"].fn(spark, sf).collect()[0]
    got = {k: row[f"p{k}_cents_x4"] / 400.0 for k in (25, 50, 75)}
    want_row = (
        spark.read.parquet(f"{sf}/lineitem.parquet")
        .selectExpr(
            "percentile(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) / 100.0,"
            " array(0.25, 0.5, 0.75)) AS p"
        )
        .collect()[0]
    )
    for i, k in enumerate((25, 50, 75)):
        assert abs(got[k] - want_row["p"][i]) < 1e-6, (k, got[k], want_row["p"][i])


def test_grouped_percentile_doubles_bit_equals_percentile_aggregate(spark):
    """The r11 selection rewrite's contract: grouped_percentile_doubles
    must be BIT-IDENTICAL to Spark's percentile() aggregate on the real
    2dp-decimal columns (percentile_exact / winsorize_prices hash on it).
    Pins both the cents-grid bijection (cents/100.0 reproduces the input
    double exactly) and the op-for-op interpolation arithmetic
    ((higher-position)*lo + (position-lower)*hi)."""
    import struct

    import pyspark.sql.functions as F

    from wheels_in_motion_analytics_spark.operators.windows import (
        grouped_percentile_doubles,
    )
    from wheels_in_motion_analytics_spark.tables import table

    sf = "/root/testdata/sf0.001"
    li = table(spark, sf, "lineitem")
    fracs = [0.01, 0.25, 0.5, 0.9, 0.99]
    got = grouped_percentile_doubles(li, "l_returnflag", "l_extendedprice", fracs)
    want_rows = (
        li.groupBy("l_returnflag")
        .agg(F.expr(f"percentile(l_extendedprice, array({', '.join(map(repr, fracs))}))").alias("p"))
        .collect()
    )
    want = {r["l_returnflag"]: list(r["p"]) for r in want_rows}
    assert set(got) == set(want)
    for g in want:
        for i, p in enumerate(fracs):
            assert struct.pack("d", got[g][i]) == struct.pack("d", want[g][i]), (
                g, p, got[g][i], want[g][i],
            )


def test_grouped_rank_values_keeps_null_group(spark):
    """A NULL group key is a group of its own, as in percentile(): its
    ranks match the sorted-index reference and its percentiles match the
    aggregate's, bit for bit. The ranks are taken over values spread past
    2^62, so the narrowing needs more than one round."""
    import random
    import struct

    from wheels_in_motion_analytics_spark.operators.windows import (
        grouped_percentile_doubles,
        rank_values,
    )
    from wheels_in_motion_analytics_spark.tables import local_frame

    rnd = random.Random(7)
    rows = [
        (rnd.choice(["A", "B", None]), rnd.randrange(-50_000, 50_000))
        for _ in range(3000)
    ] + [(None, None), ("B", None)]
    df = local_frame(spark, rows, "g string, v bigint")

    def want(n):
        return [1, (n + 1) // 2, n]

    spread = df.select("g", (F.col("v") * 2**46).alias("v"))
    got = rank_values(spread, "v", want, group_col="g")
    ref: dict = {}
    for g, v in rows:
        if v is not None:
            ref.setdefault(g, []).append(v * 2**46)
    assert set(got) == {"A", "B", None}
    for g, vals in ref.items():
        vals.sort()
        n = len(vals)
        assert got[g] == ({k: vals[k - 1] for k in want(n)}, n), g

    cents = df.select("g", (F.col("v") / 100.0).alias("price"))
    fracs = [0.1, 0.5, 0.9]
    pct = grouped_percentile_doubles(cents, "g", "price", fracs)
    agg = (
        cents.groupBy("g")
        .agg(F.expr("percentile(price, array(0.1, 0.5, 0.9))").alias("p"))
        .collect()
    )
    assert set(pct) == {r["g"] for r in agg}
    for r in agg:
        for i in range(len(fracs)):
            assert struct.pack("d", pct[r["g"]][i]) == struct.pack("d", r["p"][i]), (
                r["g"], fracs[i],
            )


def test_grouped_rank_values_empty_input(spark):
    """No rows to rank: the grouped form returns {}, the global form raises
    a named ValueError — for an empty relation and for all-NULL values."""
    import pytest

    from wheels_in_motion_analytics_spark.operators.windows import rank_values
    from wheels_in_motion_analytics_spark.tables import local_frame

    empty = local_frame(spark, [], "g string, v bigint")
    only_nulls = local_frame(spark, [("A", None), (None, None)], "g string, v bigint")
    for df in (empty, only_nulls):
        assert rank_values(df, "v", lambda n: [1, n], group_col="g") == {}
        with pytest.raises(ValueError, match="empty relation"):
            rank_values(df, "v", lambda n: [1, n])


def test_group_exact_percentiles_matches_window_rank_form(spark):
    """The r11 selection rewrite == the original group-partitioned window
    rank formulation (exact integers), on the real orders table."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from wheels_in_motion_analytics_spark.registry import load_all_queries
    from wheels_in_motion_analytics_spark.tables import table

    sf = "/root/testdata/sf0.001"
    o = table(spark, sf, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        "o_orderkey",
    )
    w = Window.partitionBy("grp").orderBy("cents", "o_orderkey")
    wn = Window.partitionBy("grp")
    c = o.select(
        "grp",
        "cents",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("n"),
    )
    aggs = []
    for k in (1, 2, 3):
        m = F.lit(k) * (F.col("n") - 1)
        lo = F.floor(m / 4).cast("bigint") + 1
        r = (m % 4).cast("bigint")
        hi = lo + F.when(r > 0, 1).otherwise(0)
        aggs.append(
            (
                F.max(F.when(F.col("rn") == lo, F.col("cents")))
                * (4 - F.max(F.when(F.col("rn") == lo, r)))
                + F.max(F.when(F.col("rn") == hi, F.col("cents")))
                * F.max(F.when(F.col("rn") == hi, r))
            ).cast("bigint").alias(f"p{k * 25}_cents_x4")
        )
    old = sorted(tuple(r) for r in c.groupBy("grp", "n").agg(*aggs).collect())
    new = sorted(
        tuple(r)
        for r in load_all_queries()["group_exact_percentiles"].fn(spark, sf).collect()
    )
    assert old == new


def test_skyline_matches_bruteforce_dominance(spark):
    """The two-phase skyline must equal the O(n^2) dominance definition:
    a part survives iff no other part is <= on price AND >= on size with
    at least one strict inequality."""
    import pyspark.sql.functions as F

    from wheels_in_motion_analytics_spark.registry import load_all_queries
    from wheels_in_motion_analytics_spark.tables import table as _table

    from tests.conftest import SF_SMALL

    got = {
        (r.p_partkey, r.price_cents, r.size)
        for r in load_all_queries()["skyline_pareto_parts"].fn(spark, SF_SMALL).collect()
    }
    pts = [
        (r.p_partkey, int(r.pc), int(r.sz))
        for r in _table(spark, SF_SMALL, "part")
        .select(
            "p_partkey",
            F.floor(F.col("p_retailprice") * 100 + F.lit(0.5)).alias("pc"),
            F.col("p_size").alias("sz"),
        )
        .collect()
    ]
    want = {
        (k, p, s)
        for (k, p, s) in pts
        if not any(
            p2 <= p and s2 >= s and (p2 < p or s2 > s)
            for (k2, p2, s2) in pts
            if k2 != k
        )
    }
    assert got == want and got


def test_asof_forward_tolerance_semantics(spark):
    """Every view row: next_purchase_ts is the MIN same-user purchase ts in
    [ts, ts+2h], or NULL when none exists (direct recompute)."""
    import datetime

    from tests.conftest import SF_SMALL
    from wheels_in_motion_analytics_spark.registry import load_all_queries
    from wheels_in_motion_analytics_spark.tables import table as _table

    rows = (
        load_all_queries()["asof_join_forward_tolerance"]
        .fn(spark, SF_SMALL)
        .collect()
    )
    ev = _table(spark, SF_SMALL, "events").select("event_type", "user_id", "ts").collect()
    purchases: dict[int, list] = {}
    for e in ev:
        if e.event_type == "purchase":
            purchases.setdefault(e.user_id, []).append(e.ts)
    n_views = sum(1 for e in ev if e.event_type == "view")
    assert len(rows) == n_views
    for r in rows[:500]:
        cands = [
            t
            for t in purchases.get(r.user_id, [])
            if r.ts <= t <= r.ts + datetime.timedelta(hours=2)
        ]
        expect = min(cands) if cands else None
        assert r.next_purchase_ts == expect, (r.event_id, expect)
        assert r.converted_2h == (expect is not None)


def test_clamped_balance_identity_matches_sequential_scan(spark):
    """The prefix - min(0, running-min) closed form must equal the direct
    sequential recurrence b_t = max(b_{t-1} + x_t, 0) for every part."""
    from tests.conftest import SF_SMALL
    from wheels_in_motion_analytics_spark.registry import load_all_queries

    rows = (
        load_all_queries()["inventory_balance_clamped"].fn(spark, SF_SMALL).collect()
    )
    by_part: dict[int, list] = {}
    for r in rows:
        by_part.setdefault(r.part, []).append(r)
    assert by_part
    for part, rs in by_part.items():
        rs.sort(key=lambda r: r.day)
        b = 0
        for r in rs:
            b = max(b + r.net, 0)
            assert r.balance == b, (part, r.day)
            assert r.balance >= 0


def test_twap_duration_coverage_and_burst_insensitivity(spark):
    """Per (event_type, day) the hold durations must tile the interval
    [first event, midnight] exactly — no gaps, no overlap — and the TWAP
    must lie within the group's [min, max] cents envelope."""
    import pyspark.sql.functions as F

    from tests.conftest import SF_SMALL
    from wheels_in_motion_analytics_spark.registry import load_all_queries
    from wheels_in_motion_analytics_spark.tables import table

    out = load_all_queries()["twap_daily_by_type"].fn(spark, SF_SMALL)
    ev = (
        table(spark, SF_SMALL, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.unix_micros("ts").alias("us"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).alias("cents"),
        )
    )
    spans = ev.groupBy("event_type", "day").agg(
        F.min("us").alias("first_us"),
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    rows = (
        out.join(spans, ["event_type", "day"])
        .withColumn(
            "day_end_us",
            F.unix_micros(F.date_add(F.col("day"), 1).cast("timestamp")),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert r.n_events == r.n
        assert r.total_dur_us == r.day_end_us - r.first_us
        assert r.lo * 10**6 <= r.twap_ucents <= r.hi * 10**6


def test_anomaly_days_seasonal_mad_recompute(spark):
    """Python re-derivation of the dow-median/MAD rule at sf0.001."""
    import pyspark.sql.functions as F

    from tests.conftest import SF_SMALL
    from wheels_in_motion_analytics_spark.registry import load_all_queries
    from wheels_in_motion_analytics_spark.tables import table

    daily = {
        r.day: r.cents
        for r in table(spark, SF_SMALL, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                   .cast("bigint")).alias("cents"))
        .collect()
    }
    by_dow = {}
    for d, c in daily.items():
        by_dow.setdefault(d.isoweekday() % 7 + 1, []).append((c, d))
    med = {}
    for dow, vals in by_dow.items():
        vals.sort()
        med[dow] = vals[(len(vals) + 1) // 2 - 1][0]
    resid = {
        d: c - med[d.isoweekday() % 7 + 1] for d, c in daily.items()
    }
    ar = sorted((abs(v), d) for d, v in resid.items())
    mad = ar[(len(ar) + 1) // 2 - 1][0]
    want = {
        d: v for d, v in resid.items() if abs(v) * 10000 > 44478 * mad
    }
    got = {
        r.day: r.resid
        for r in load_all_queries()["anomaly_days_seasonal_mad"]
        .fn(spark, SF_SMALL)
        .collect()
    }
    assert got == want
    assert all(r for r in got)  # nonempty at this fixture


def test_graph_node_jaccard_python_recompute(spark):
    """Exact re-derivation of the top-k Jaccard list from the edge set."""
    from collections import defaultdict

    import pyspark.sql.functions as F

    from tests.conftest import SF_SMALL
    from wheels_in_motion_analytics_spark.functions.graph import (
        NODE_SIM_TOPK,
        TRI_MIN_QTY,
        TRI_MIN_SHARED,
    )
    from wheels_in_motion_analytics_spark.registry import load_all_queries
    from wheels_in_motion_analytics_spark.tables import table as tbl

    specs = load_all_queries()
    out = [
        (r["na"], r["nb"], r["n_common"], r["n_union"], r["jaccard_ppm"])
        for r in specs["graph_node_jaccard_similarity"].fn(spark, SF_SMALL).collect()
    ]
    links = (
        tbl(spark, SF_SMALL, "lineitem")
        .where(F.col("l_quantity") >= TRI_MIN_QTY)
        .select("l_partkey", "l_suppkey")
        .distinct()
        .collect()
    )
    by_part = defaultdict(set)
    for r in links:
        by_part[r["l_partkey"]].add(r["l_suppkey"])
    shared = defaultdict(int)
    for s in by_part.values():
        ss = sorted(s)
        for i in range(len(ss)):
            for j in range(i + 1, len(ss)):
                shared[(ss[i], ss[j])] += 1
    adj = defaultdict(set)
    for (a, b), cnt in shared.items():
        if cnt >= TRI_MIN_SHARED:
            adj[a].add(b)
            adj[b].add(a)
    cand = []
    nodes = sorted(adj)
    for a in nodes:
        for b in nodes:
            if a < b:
                common = len(adj[a] & adj[b])
                if common:
                    union = len(adj[a]) + len(adj[b]) - common
                    ppm = (2 * common * 1_000_000 + union) // (2 * union)
                    cand.append((a, b, common, union, ppm))
    cand.sort(key=lambda t: (-t[4], t[0], t[1]))
    assert out == cand[:NODE_SIM_TOPK]


def test_binseg_nested_consistency(spark):
    """The level-2 picks must be the exact CUSUM argmax of their own
    segment's day series (python replay), and the left/right picks must
    bracket the level-1 day."""
    from collections import defaultdict

    import pyspark.sql.functions as F

    from tests.conftest import SF_SMALL
    from wheels_in_motion_analytics_spark.registry import load_all_queries
    from wheels_in_motion_analytics_spark.tables import table as tbl

    out = {
        (r["level"], r["segment"]): r
        for r in load_all_queries()["binseg_two_level_changepoints"]
        .fn(spark, SF_SMALL)
        .collect()
    }
    daily = defaultdict(int)
    for r in (
        tbl(spark, SF_SMALL, "orders")
        .selectExpr(
            "CAST(o_orderdate AS DATE) AS day",
            "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents",
        )
        .collect()
    ):
        daily[r["day"]] += r["cents"]
    days = sorted(daily)

    def pick(lo, hi):  # [lo, hi) indices into days
        seg = days[lo:hi]
        n = len(seg)
        s = sum(daily[d] for d in seg)
        best = None
        pc = 0
        for j, d in enumerate(seg[:-1], 1):
            pc += daily[d]
            stat = abs(n * pc - j * s)
            if best is None or stat > best[0]:
                best = (stat, d)
        return best

    st, d1 = pick(0, len(days))
    assert out[(1, "full")]["change_day"] == d1
    assert out[(1, "full")]["max_abs_stat"] == str(st)
    k1 = days.index(d1) + 1  # global rank of the level-1 pick
    stl, dl = pick(0, k1)
    str_, dr = pick(k1, len(days))
    assert out[(2, "left")]["change_day"] == dl
    assert out[(2, "left")]["max_abs_stat"] == str(stl)
    assert out[(2, "right")]["change_day"] == dr
    assert out[(2, "right")]["max_abs_stat"] == str(str_)
    assert dl < d1 <= dr or dl < d1  # picks bracket the split


def test_mase_python_recompute(spark):
    from collections import defaultdict

    import pyspark.sql.functions as F

    from tests.conftest import SF_SMALL
    from wheels_in_motion_analytics_spark.operators.timeseries import MASE_SEASON
    from wheels_in_motion_analytics_spark.registry import load_all_queries
    from wheels_in_motion_analytics_spark.tables import table as tbl

    row = load_all_queries()["mase_seasonal_naive_eval"].fn(spark, SF_SMALL).collect()[0]
    daily = defaultdict(int)
    for r in (
        tbl(spark, SF_SMALL, "orders")
        .selectExpr(
            "CAST(o_orderdate AS DATE) AS day",
            "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents",
        )
        .collect()
    ):
        daily[r["day"]] += r["cents"]
    import datetime

    def sae(lag):
        n = s = 0
        for d, v in daily.items():
            prev = d - datetime.timedelta(days=lag)
            if prev in daily:
                n += 1
                s += abs(v - daily[prev])
        return n, s

    n_f, sae_f = sae(MASE_SEASON)
    n_b, sae_b = sae(1)
    assert (row["n_seasonal_pairs"], row["sae_seasonal_cents"]) == (n_f, sae_f)
    assert (row["n_naive_pairs"], row["sae_naive_cents"]) == (n_b, sae_b)
    want = (2 * sae_f * n_b * 1_000_000 + n_f * sae_b) // (2 * n_f * sae_b)
    assert row["mase_ppm"] == want
    assert row["beats_naive"] == (want < 1_000_000)


def test_builtin_session_window_agrees_with_manual_sessionizer(spark):
    """The engine-native session_window must produce exactly the manual
    gaps-and-islands sessions (same starts, counts, and values)."""
    from tests.conftest import SF_SMALL
    from wheels_in_motion_analytics_spark.registry import load_all_queries

    SPECS = load_all_queries()
    builtin = {
        (r["user_id"], r["session_start"]): (r["n_events"], round(r["session_value"], 6))
        for r in SPECS["session_window_builtin_batch"].fn(spark, SF_SMALL).collect()
    }
    manual = {
        (r["user_id"], r["session_start"]): (
            r["n_events"],
            round(r["session_value"], 6),
        )
        for r in SPECS["sessionize_events"].fn(spark, SF_SMALL).collect()
    }
    assert builtin == manual
