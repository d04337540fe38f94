"""Real Structured Streaming execution: readStream over a file source →
watermarked windowed aggs / stateful ops → memory sink, compared against the
identical batch-mode formulation (the batch-parity contract of
streaming/windows.py)."""

from __future__ import annotations

import shutil
import uuid

import pytest
import pyspark.sql.functions as F

from tests.conftest import SF_SMALL
from wheels_in_motion_analytics_spark.streaming.stateful import stateful_user_counts
from wheels_in_motion_analytics_spark.streaming.windows import (
    session_agg,
    stream_events,
    tumbling_agg,
)
from wheels_in_motion_analytics_spark.tables import table


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    """Stage the events table as a file-stream source directory (µs
    timestamps, so the stream schema matches the batch loader's output)."""
    d = tmp_path_factory.mktemp("events_stream")
    table(spark, SF_SMALL, "events").coalesce(2).write.mode("overwrite").parquet(str(d / "in"))
    return str(d / "in")


def _run_to_memory(spark, sdf, name: str, mode: str):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_tumbling_window_stream_matches_batch(spark, stream_dir):
    name = f"t_{uuid.uuid4().hex[:8]}"
    out = _run_to_memory(
        spark, stream_events(spark, stream_dir, tumbling_agg), name, "complete"
    )
    got = {tuple(r) for r in out.collect()}
    expected = {tuple(r) for r in tumbling_agg(table(spark, SF_SMALL, "events")).collect()}
    assert got == expected


def test_session_window_stream_matches_batch(spark, stream_dir):
    name = f"s_{uuid.uuid4().hex[:8]}"
    out = _run_to_memory(
        spark, stream_events(spark, stream_dir, session_agg), name, "complete"
    )
    got = {tuple(r) for r in out.collect()}
    expected = {tuple(r) for r in session_agg(table(spark, SF_SMALL, "events")).collect()}
    assert got == expected


def test_streaming_dedup_within_watermark(spark, stream_dir, tmp_path):
    """dropDuplicatesWithinWatermark over a file stream that contains every
    event twice -> each event_id appears exactly once."""
    dup_dir = tmp_path / "dup"
    dup_dir.mkdir()
    shutil.copytree(stream_dir, dup_dir / "a")
    shutil.copytree(stream_dir, dup_dir / "b")
    sdf = stream_events(
        spark,
        str(dup_dir / "*"),
        lambda s: s.select("event_id", "ts", "user_id").dropDuplicatesWithinWatermark(["event_id"]),
    )
    name = f"d_{uuid.uuid4().hex[:8]}"
    out = _run_to_memory(spark, sdf, name, "append")
    n_unique = table(spark, SF_SMALL, "events").select("event_id").distinct().count()
    assert out.count() == n_unique
    assert out.select("event_id").distinct().count() == n_unique


@pytest.mark.slow
def test_stateful_user_counts(spark, stream_dir):
    """applyInPandasWithState running per-user aggregates match the batch
    groupBy at end of stream."""
    stream = (
        spark.readStream.schema(table(spark, SF_SMALL, "events").schema)
        .parquet(stream_dir)
        .select("user_id", "value")
    )
    name = f"u_{uuid.uuid4().hex[:8]}"
    out = _run_to_memory(spark, stateful_user_counts(stream), name, "update")
    # last emitted row per user == final state
    final = (
        out.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .collect()
    )
    expected = {
        r.user_id: r.n
        for r in table(spark, SF_SMALL, "events").groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert {r.user_id: r.n_events for r in final} == expected


def test_foreach_batch_sink_and_rate_source(spark, stream_dir, tmp_path):
    """foreachBatch: micro-batches land as parquet via the batch writer;
    the hook sees every batch. Also smoke the rate source shape."""
    from wheels_in_motion_analytics_spark.streaming.sinks import (
        foreach_batch_parquet_sink,
        rate_stream,
    )

    seen = []
    stream = spark.readStream.schema(table(spark, SF_SMALL, "events").schema).parquet(stream_dir)
    q = foreach_batch_parquet_sink(
        stream.select("event_id", "user_id", "value"),
        path=str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ckpt"),
        batch_hook=lambda df, bid: seen.append((bid, df.count())),
    )
    q.awaitTermination(120)
    total = spark.read.parquet(str(tmp_path / "out")).count()
    assert total == table(spark, SF_SMALL, "events").count()
    assert seen and sum(n for _, n in seen) == total

    rate = rate_stream(spark, rows_per_second=50)
    assert rate.isStreaming
    assert [f.name for f in rate.schema.fields] == ["timestamp", "value"]


@pytest.mark.slow
def test_watermark_append_mode_finalizes_windows_once(spark, tmp_path):
    """Watermark semantics for streaming aggregations (the classic gotcha,
    asserted): the watermark is a STATE-EVICTION bound, not a hard row
    filter. In append mode each window is emitted exactly once, when the
    watermark passes its end; rows arriving late merge into still-live
    windows or surface as separate stale-window emissions — they are never
    silently double-counted into an already-emitted window. Final counts
    therefore match the batch computation."""
    import time

    import pandas as pd
    import pyspark.sql.types as T

    schema = T.StructType(
        [T.StructField("ts", T.TimestampType()), T.StructField("k", T.StringType())]
    )
    src_dir = tmp_path / "late_src"
    src_dir.mkdir()

    def write_file(name, stamps):
        rows = [(pd.Timestamp(s).to_pydatetime(), "e") for s in stamps]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
            str(src_dir / name)
        )

    write_file("a", ["2024-06-01 12:00:00", "2024-06-01 13:00:00"])
    time.sleep(1.1)
    write_file("b", ["2024-06-01 12:10:00", "2024-06-01 12:55:00"])  # late-but-mergeable
    time.sleep(1.1)
    write_file("c", ["2024-06-01 13:30:00"])  # advances watermark, closes 12:30+13:00

    agg = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src_dir / "*"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    name = f"late_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    # exactly-once emission per window
    assert len({r.ws for r in rows}) == len(rows)
    got = {str(r.ws): r.n for r in rows}
    # every window below the final watermark (13:20) emitted with the full
    # count including the late-merged row — no loss, no double-count
    assert got["2024-06-01 12:00:00"] == 2  # 12:00 + late 12:10
    assert got["2024-06-01 12:30:00"] == 1  # 12:55
    # [13:00,13:30) is NOT emitted: its end (13:30) is past the final
    # watermark (13:20), so the window is still open when the stream ends
    assert "2024-06-01 13:00:00" not in got


@pytest.mark.slow
def test_stream_stream_attribution_join_matches_batch(spark, stream_dir):
    """Real stream-stream inner join: two watermarked file streams joined on
    user + a 6h event-time range. Result set equals the batch formulation
    (whose values the registry oracle pins)."""
    from wheels_in_motion_analytics_spark.streaming.joins import (
        attribution_join,
        split_views_purchases,
    )
    from wheels_in_motion_analytics_spark.tables import SCHEMAS

    def watermarked_stream():
        return (
            spark.readStream.schema(SCHEMAS["events"])
            .parquet(stream_dir)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )

    views, _ = split_views_purchases(watermarked_stream())
    _, purchases = split_views_purchases(watermarked_stream())
    joined = attribution_join(
        views.withWatermark("view_ts", "10 minutes"),
        purchases.withWatermark("purchase_ts", "10 minutes"),
    )
    name = f"j_{uuid.uuid4().hex[:8]}"
    out = _run_to_memory(spark, joined, name, "append")
    got = {(r.user_id, r.purchase_id, r.view_id) for r in out.collect()}

    ev = table(spark, SF_SMALL, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    bviews, bpurchases = split_views_purchases(ev)
    expected = {
        (r.user_id, r.purchase_id, r.view_id)
        for r in attribution_join(bviews, bpurchases).collect()
    }
    assert got == expected and expected


def test_stream_static_join_enriches_events(spark, stream_dir):
    """Stream-static join: the event stream enriched against the static
    customer dim (no watermark needed on the static side — it is re-read
    per micro-batch and broadcast when small)."""
    from wheels_in_motion_analytics_spark.streaming.joins import enrich_events_with_segment
    from wheels_in_motion_analytics_spark.tables import SCHEMAS

    static_dim = table(spark, SF_SMALL, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    stream = enrich_events_with_segment(
        spark.readStream.schema(SCHEMAS["events"]).parquet(stream_dir).select("event_id", "user_id"),
        table(spark, SF_SMALL, "customer"),
    )
    name = f"ss_{uuid.uuid4().hex[:8]}"
    out = _run_to_memory(spark, stream, name, "append")
    assert out.count() == table(spark, SF_SMALL, "events").count()
    # every joined segment value agrees with the dim
    seg = {r.user_id: r.c_mktsegment for r in static_dim.collect()}
    for r in out.collect():
        assert r.c_mktsegment == seg.get(r.user_id)


@pytest.mark.slow
def test_ohlc_bars_stream_matches_batch(spark, stream_dir):
    from wheels_in_motion_analytics_spark.streaming.windows import ohlc_agg

    name = f"t_{uuid.uuid4().hex[:8]}"
    out = _run_to_memory(
        spark, stream_events(spark, stream_dir, ohlc_agg), name, "complete"
    )
    got = {tuple(r) for r in out.collect()}
    # batch side through the same instant cast the stream boundary applies
    batch = table(spark, SF_SMALL, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    expected = {tuple(r) for r in ohlc_agg(batch).collect()}
    assert got == expected


@pytest.mark.slow
def test_chained_window_rollup_stream(spark, stream_dir):
    """Two chained stateful operators (5-min bars -> hourly rollup of the
    bar window column) run as ONE streaming query in append mode; every
    hourly row the stream finalizes must equal the batch rollup for that
    (hour, event_type)."""
    from wheels_in_motion_analytics_spark.streaming.windows import bars_then_hourly

    name = f"t_{uuid.uuid4().hex[:8]}"
    out = _run_to_memory(
        spark, stream_events(spark, stream_dir, bars_then_hourly), name, "append"
    )
    got = {tuple(r) for r in out.collect()}
    batch = bars_then_hourly(
        table(spark, SF_SMALL, "events").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
    )
    expected = {tuple(r) for r in batch.collect()}
    # append mode only emits windows closed by the final watermark — the
    # finalized set must be a non-trivial exact subset of batch
    assert got, "stream emitted no finalized hourly windows"
    assert got <= expected


@pytest.mark.slow
def test_stateful_exact_totals_survive_microbatch_splits(spark, stream_dir, tmp_path):
    """The oracle-checked stateful op must give identical final state no
    matter how the input is split into micro-batches: force one file per
    trigger and compare against the single-batch run."""
    from wheels_in_motion_analytics_spark.streaming.stateful import (
        stateful_user_totals_exact,
    )

    src = str(tmp_path / "split_src")
    table(spark, SF_SMALL, "events").select("user_id", "value").where(
        F.col("user_id") < 30
    ).repartition(4).write.mode("overwrite").parquet(src)

    def run(max_files):
        stream = (
            spark.readStream.schema("user_id BIGINT, value DOUBLE")
            .option("maxFilesPerTrigger", max_files)
            .parquet(src)
        )
        name = f"mb_{uuid.uuid4().hex[:8]}"
        q = (
            stateful_user_totals_exact(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = spark.sql(f"SELECT * FROM {name}")
        return {
            r.user_id: (r.n_events, r.sum_cents)
            for r in out.groupBy("user_id")
            .agg(
                F.max("n_events").alias("n_events"),
                F.max("sum_cents").alias("sum_cents"),
            )
            .collect()
        }

    one_batch = run(max_files=4)
    four_batches = run(max_files=1)
    assert one_batch == four_batches
    assert len(one_batch) > 0


@pytest.mark.slow
def test_stream_stream_left_outer_emits_unmatched_after_watermark(
    spark, stream_dir, tmp_path
):
    """LEFT OUTER stream-stream join: unmatched purchases (no prior view)
    are emitted with NULL view columns once the watermark passes — the
    result set must equal the batch left-outer formulation."""
    from wheels_in_motion_analytics_spark.streaming.joins import (
        attribution_left_outer,
        split_views_purchases,
    )
    from wheels_in_motion_analytics_spark.tables import SCHEMAS

    # left-outer emission needs the watermark to PASS the last purchase's
    # horizon; a far-future sentinel view (user -1, joins nothing) advances
    # it so the trailing unmatched purchases flush before the stream ends
    src = str(tmp_path / "lo_src")
    ev_all = table(spark, SF_SMALL, "events")
    ev_all.coalesce(2).write.mode("overwrite").parquet(src)
    # one sentinel per stream side: the join's global watermark is the MIN
    # across both inputs, so views-only advancement would stall eviction
    for etype in ("view", "purchase"):
        sentinel = ev_all.limit(1).select(
            F.lit(999_999_999).cast("long").alias("event_id"),
            (F.col("ts") + F.expr("INTERVAL 30 DAYS")).alias("ts"),
            F.lit(-1).cast("long").alias("user_id"),
            F.lit(etype).alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        sentinel.select([f.name for f in ev_all.schema.fields]).coalesce(
            1
        ).write.mode("append").parquet(src)

    def watermarked_stream():
        return (
            spark.readStream.schema(SCHEMAS["events"])
            .parquet(src)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )

    views, _ = split_views_purchases(watermarked_stream())
    _, purchases = split_views_purchases(watermarked_stream())
    joined = attribution_left_outer(
        views.withWatermark("view_ts", "10 minutes"),
        purchases.withWatermark("purchase_ts", "10 minutes"),
    )
    name = f"lo_{uuid.uuid4().hex[:8]}"
    out = _run_to_memory(spark, joined, name, "append")
    got = {(r.user_id, r.purchase_id, r.view_id) for r in out.collect()}

    ev = table(spark, SF_SMALL, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    bviews, bpurchases = split_views_purchases(ev)
    expected = {
        (r.user_id, r.purchase_id, r.view_id)
        for r in attribution_left_outer(bviews, bpurchases).collect()
    }
    got = {t for t in got if t[0] != -1}
    assert got == expected
    # left-outer semantics actually exercised: some purchases unmatched
    assert any(v is None for (_, _, v) in got)


@pytest.mark.slow
def test_stateful_stream_recovers_state_across_restart(spark, tmp_path):
    """Kill a stateful query mid-input, restart from its checkpoint with
    the remaining files: recovered state must continue the counts, not
    restart them — the exactly-once state contract."""
    from wheels_in_motion_analytics_spark.streaming.stateful import (
        stateful_user_totals_exact,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    base = (
        table(spark, SF_SMALL, "events")
        .select("user_id", "value")
        .where(F.col("user_id") < 20)
    )
    half1 = base.where(F.col("user_id") % 2 == 0)
    half2 = base.where(F.col("user_id") % 2 == 1)
    half1.coalesce(1).write.mode("overwrite").parquet(src)

    emitted: dict[int, tuple[int, int]] = {}

    def run_once():
        stream = spark.readStream.schema("user_id BIGINT, value DOUBLE").parquet(src)

        def sink(df, _bid):
            for r in df.collect():
                cur = emitted.get(r.user_id, (0, 0))
                emitted[r.user_id] = (
                    max(cur[0], r.n_events),
                    max(cur[1], r.sum_cents),
                )

        q = (
            stateful_user_totals_exact(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()  # processes half1, checkpoints state
    # append the second half as new files, then restart from the checkpoint
    half2.coalesce(1).write.mode("append").parquet(src)
    run_once()

    final = emitted
    expected = {
        r.user_id: (r.n, r.cents)
        for r in base.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("cents"),
        )
        .collect()
    }
    assert final == expected


@pytest.mark.slow
def test_stream_upsert_state_independent_of_batch_boundaries(spark):
    from wheels_in_motion_analytics_spark.streaming.sinks import run_stream_upsert

    sf = "/root/testdata/sf0.001"
    split = run_stream_upsert(spark, sf, max_files_per_trigger=1)
    whole = run_stream_upsert(spark, sf, max_files_per_trigger=None)
    key = lambda r: r["order_id"]
    assert sorted(split.collect(), key=key) == sorted(whole.collect(), key=key)
    # 2/3 of keys got the v2 final, the rest stay at the v1 placeholder
    versions = {r["version"] for r in split.collect()}
    assert versions == {1, 2}


@pytest.mark.slow
def test_dedup_within_watermark_drops_cross_batch_duplicates(spark):
    """The real dropDuplicatesWithinWatermark run must emit exactly the
    batch DISTINCT of the slice even though the staged stream contains the
    full slice twice (separate micro-batches) plus an intra-batch duplicate
    half — i.e. cross-micro-batch duplicates are dropped from
    watermark-retained state, and nothing is double-emitted."""
    import pyspark.sql.functions as F

    from tests.conftest import SF_SMALL
    from wheels_in_motion_analytics_spark.registry import load_all_queries
    from wheels_in_motion_analytics_spark.tables import table

    out = load_all_queries()["stream_dedup_within_watermark"].fn(spark, SF_SMALL)
    emitted = [(r.user_id, r.event_type, r.ts, r.cents) for r in out.collect()]
    expected = {
        (r.user_id, r.event_type, r.ts, r.cents)
        for r in (
            table(spark, SF_SMALL, "events")
            .where(F.col("user_id") % 10 == 0)
            .select(
                "user_id",
                "event_type",
                "ts",
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
            )
            .distinct()
            .collect()
        )
    }
    assert len(emitted) == len(set(emitted)), "duplicate rows emitted"
    assert set(emitted) == expected


@pytest.mark.slow
def test_stream_ingest_versioned_commits_match_batch_aggregate(spark):
    """Streaming lakehouse ingest parity: the per-micro-batch versioned
    appends must reconstruct exactly the batch aggregate over the same
    slice, and the commit log must show one version per micro-batch."""
    from wheels_in_motion_analytics_spark.streaming.sinks import (
        _SI_KEY_MOD,
        stream_ingest_versioned_table,
    )
    from wheels_in_motion_analytics_spark.tables import table as tbl

    out = {
        r["event_type"]: r
        for r in stream_ingest_versioned_table(spark, SF_SMALL).collect()
    }
    batch = {
        r["event_type"]: r
        for r in (
            tbl(spark, SF_SMALL, "events")
            .where(F.col("event_id") % _SI_KEY_MOD == 0)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(
                    F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
                ).alias("total_cents"),
            )
        ).collect()
    }
    assert set(out) == set(batch)
    for et, row in out.items():
        assert row["n_events"] == batch[et]["n_events"]
        assert row["total_cents"] == batch[et]["total_cents"]
        assert row["n_versions"] == 3  # one atomic append per micro-batch


def test_fanout_state_fold_is_replay_safe(spark, tmp_path):
    """The fanout's state sink folds each batch id once: replaying a
    foreachBatch id leaves the running totals unchanged."""
    from wheels_in_motion_analytics_spark.sources.versioned import read_version
    from wheels_in_motion_analytics_spark.streaming.sinks import fold_type_totals

    root = str(tmp_path / "state")
    schema = "event_id BIGINT, event_type STRING, cents BIGINT"
    b0 = spark.createDataFrame([(1, "click", 150), (2, "view", 25), (3, "click", 5)], schema)
    b1 = spark.createDataFrame([(4, "view", 10)], schema)

    def totals():
        return sorted(map(tuple, read_version(spark, root).collect()))

    assert fold_type_totals(root, b0, "0")
    assert fold_type_totals(root, b1, "1")
    expected = [("click", 2, 155), ("view", 2, 35)]
    assert totals() == expected
    assert not fold_type_totals(root, b0, "0")
    assert not fold_type_totals(root, b1, "1")
    assert totals() == expected


@pytest.mark.slow
def test_stream_fanout_sinks_agree_and_match_batch(spark):
    from wheels_in_motion_analytics_spark.streaming.sinks import (
        _FO_KEY_MOD,
        stream_fanout_two_sinks,
    )
    from wheels_in_motion_analytics_spark.tables import table as tbl

    out = {r["event_type"]: r for r in stream_fanout_two_sinks(spark, SF_SMALL).collect()}
    batch = {
        r["event_type"]: r
        for r in (
            tbl(spark, SF_SMALL, "events")
            .where(F.col("event_id") % _FO_KEY_MOD == 0)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
                ).alias("c"),
            )
        ).collect()
    }
    assert set(out) == set(batch)
    for et, row in out.items():
        assert row["sinks_agree"]
        assert row["mirror_events"] == row["state_events"] == batch[et]["n"]
        assert row["mirror_cents"] == row["state_cents"] == batch[et]["c"]
