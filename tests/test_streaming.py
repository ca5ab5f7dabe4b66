"""Structured Streaming tests: the incremental windowed aggregation and
the custom stateful sessionizer must agree with their batch oracles,
and a streaming gate's state must run in a child session sized to its
input."""

import os
import shutil
import types

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from scrapelect_spark.streaming import windows
from scrapelect_spark.streaming.windows import (
    GAP_MINUTES,
    hourly_counts_stream,
    run_stream,
    sessionize_stream,
)

SF = "/root/testdata/sf0.001"


def sessionize_batch(events):
    """Batch oracle for the stateful sessionizer (closed sessions only
    comparable; the batch form closes every session)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.lag("ts").over(w)
    marked = events.withColumn(
        "new_session",
        F.when(
            gap.isNull()
            | ((F.unix_timestamp("ts") - F.unix_timestamp(gap)) > GAP_MINUTES * 60),
            1,
        ).otherwise(0),
    )
    sess = marked.withColumn("session_id", F.sum("new_session").over(w))
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).cast("int").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .drop("session_id")
    )


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


@pytest.fixture(scope="module")
def event_parts(events):
    """The events split on event-time tertiles, one trigger file each,
    so availableNow runs 3 incremental triggers in event-time order
    (log-stream shape): the stateful sessionizer assumes ordered arrival
    within its watermark."""
    ts = F.col("ts").cast("double")
    lo, hi = events.select(
        F.percentile(ts, F.array(F.lit(0.34), F.lit(0.67))).alias("q")
    ).first().q
    return [
        events.filter(ts <= lo),
        events.filter((ts > lo) & (ts <= hi)),
        events.filter(ts > hi),
    ]


def test_hourly_counts_stream_matches_batch(spark, events, event_parts):
    stream = run_stream(spark, event_parts, hourly_counts_stream, "complete")
    got = {
        (r.hour, r.event_type): (r.n, round(r.total_value, 4))
        for r in stream.collect()
    }
    batch = events.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("value").cast("decimal(28,8)")).cast("double").alias("tv"),
    )
    want = {
        (r.hour, r.event_type): (r.n, round(r.tv, 4)) for r in batch.collect()
    }
    assert got == want
    assert len(got) > 5


def test_sessionize_stream_matches_batch(spark, events, event_parts):
    """Stateful sessionizer: every session emitted by the stream must
    exist identically in the batch oracle (open sessions at end-of-
    stream may be withheld — subset check + volume sanity)."""
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in run_stream(spark, event_parts, sessionize_stream, "append").collect()
    }
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in sessionize_batch(events).collect()
    }
    assert got, "stream emitted no closed sessions"
    assert got <= want, f"stream emitted sessions absent from batch: {sorted(got - want)[:3]}"
    # most sessions close (only per-user trailing sessions stay open)
    n_users = events.select("user_id").distinct().count()
    assert len(got) >= len(want) - n_users


def test_stream_gate_state_runs_on_scan_partitions(spark, monkeypatch):
    """A streaming gate's stateful stage runs on
    ``scan_partitions(fixture)`` partitions: its state checkpoint holds
    exactly that many, planned in a child session, while the caller's
    session conf stays as it was."""
    key = "spark.sql.shuffle.partitions"
    parent = spark.conf.get(key)
    fixture_rows, stream_confs, state_dirs = [], [], []

    def three(fixture):
        fixture_rows.append(fixture.count())
        return 3

    def hourly(stream):
        stream_confs.append((spark.conf.get(key), stream.sparkSession.conf.get(key)))
        return hourly_counts_stream(stream)

    def rmtree(path, **kw):
        state = os.path.join(path, "_ckpt", "state", "0")
        if os.path.isdir(state):
            state_dirs.append(sorted(p for p in os.listdir(state) if p.isdigit()))
        shutil.rmtree(path, **kw)

    monkeypatch.setattr(windows, "scan_partitions", three)
    monkeypatch.setattr(windows, "hourly_counts_stream", hourly)
    monkeypatch.setattr(
        windows, "shutil", types.SimpleNamespace(move=shutil.move, rmtree=rmtree)
    )
    assert windows.events_hourly_stream(spark, SF).count() > 5
    assert fixture_rows == [spark.read.parquet(f"{SF}/events.parquet").count()]
    assert stream_confs == [(parent, "3")]
    assert state_dirs == [["0", "1", "2"]]
    assert spark.conf.get(key) == parent


def test_extract_over_stream_matches_batch(spark, tmp_path):
    """The extraction operator is stream-native: the same compile-once
    mapInPandas plan runs unchanged under Structured Streaming (a
    micro-batch of pages in → extracted records out), and emits exactly
    the batch answer.  This is the streaming form of the crawl's
    process stage."""
    from scrapelect_spark.operators.extract import extract

    pages_dir = str(tmp_path / "pages")
    rows = [
        (
            f"http://s.test/{i}",
            f'<html><body><h1>t{i}</h1><a href="/l{i}">x</a></body></html>',
        )
        for i in range(200)
    ]
    spark.createDataFrame(rows, ["url", "html"]).write.parquet(pages_dir)

    program = (
        'title: h1 { t: $element | text(); } | take(key: "t");\n'
        'link: a { h: $element | attrs() | take(key: "href"); } | take(key: "h");\n'
    )

    stream_pages = (
        spark.readStream.schema("url string, html string")
        .option("maxFilesPerTrigger", 1)
        .parquet(pages_dir)
    )
    q = (
        extract(stream_pages, program)
        .writeStream.format("memory")
        .queryName("extract_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ex"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(180), "availableNow query did not end"
    finally:
        q.stop()
    got = {
        (r.url, r.result, r.error)
        for r in spark.sql("SELECT * FROM extract_stream").collect()
    }
    want = {
        (r.url, r.result, r.error)
        for r in extract(spark.read.parquet(pages_dir), program).collect()
    }
    assert got == want and len(got) == 200
