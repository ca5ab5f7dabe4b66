"""Structured Streaming tests: the incremental windowed aggregation and
the custom stateful sessionizer must agree with their batch oracles."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    """events parquet split into 3 files so availableNow runs 3
    incremental triggers (maxFilesPerTrigger=1)."""
    d = tmp_path_factory.mktemp("events_stream")
    from scrapelect_spark.session import get_spark

    spark = get_spark(app_name="stream-prep")
    df = spark.read.parquet(f"{SF}/events.parquet")
    # Time-range chunks written as separate files with strictly
    # increasing modification times: the file stream source orders
    # pending files by timestamp, so triggers deliver the stream in
    # event-time order (log-stream shape) — the stateful sessionizer
    # assumes ordered arrival within its watermark.
    import time

    bounds = df.selectExpr(
        "percentile(cast(cast(ts as timestamp) as double), array(0.34, 0.67)) as q"
    ).collect()[0].q
    lo, hi = bounds
    out = d / "events"
    chunks = [
        df.filter(F.col("ts").cast("timestamp").cast("double") <= lo),
        df.filter(
            (F.col("ts").cast("timestamp").cast("double") > lo) & (F.col("ts").cast("timestamp").cast("double") <= hi)
        ),
        df.filter(F.col("ts").cast("timestamp").cast("double") > hi),
    ]
    for i, chunk in enumerate(chunks):
        chunk.coalesce(1).sortWithinPartitions("ts").write.mode(
            "append"
        ).parquet(str(out))
        time.sleep(1.2)
    return str(out)


def test_hourly_counts_stream_matches_batch(spark, events_dir, tmp_path):
    from scrapelect_spark.streaming.windows import events_stream, hourly_counts_stream

    schema = spark.read.parquet(events_dir).schema
    stream = hourly_counts_stream(events_stream(spark, events_dir, schema))
    q = (
        stream.writeStream.format("memory")
        .queryName("hourly_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.hour, r.event_type): (r.n, round(r.total_value, 4))
        for r in spark.sql("SELECT * FROM hourly_stream").collect()
    }
    batch = (
        spark.read.parquet(events_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("value").cast("decimal(28,8)")).cast("double").alias("tv"),
        )
    )
    want = {
        (r.hour, r.event_type): (r.n, round(r.tv, 4)) for r in batch.collect()
    }
    assert got == want
    assert len(got) > 5


def test_sessionize_stream_matches_batch(spark, events_dir, tmp_path):
    """Stateful sessionizer: every session emitted by the stream must
    exist identically in the batch oracle (open sessions at end-of-
    stream may be withheld — subset check + volume sanity)."""
    from scrapelect_spark.streaming.windows import (
        events_stream,
        sessionize_batch,
        sessionize_stream,
    )

    schema = spark.read.parquet(events_dir).schema
    stream = sessionize_stream(events_stream(spark, events_dir, schema))
    q = (
        stream.writeStream.format("memory")
        .queryName("sessions_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(180), "availableNow query did not end"
    finally:
        q.stop()
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.sql("SELECT * FROM sessions_stream").collect()
    }
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in sessionize_batch(
            spark.read.parquet(events_dir).withColumn(
                "ts", F.col("ts").cast("timestamp")
            )
        ).collect()
    }
    assert got, "stream emitted no closed sessions"
    assert got <= want, f"stream emitted sessions absent from batch: {sorted(got - want)[:3]}"
    # most sessions close (only per-user trailing sessions stay open)
    n_users = spark.read.parquet(events_dir).select("user_id").distinct().count()
    assert len(got) >= len(want) - n_users


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
    q.awaitTermination(180)
    got = {
        (r.url, r.result, r.error)
        for r in spark.sql("SELECT * FROM extract_stream").collect()
    }
    want = {
        (r.url, r.result, r.error)
        for r in extract(spark.read.parquet(pages_dir), program).collect()
    }
    assert got == want and len(got) == 200
