"""Structured Streaming operators over the events stream.

Two canonical shapes:

- :func:`hourly_counts_stream` — tumbling 1-hour windowed aggregation
  with a watermark for late data; the streaming twin of the batch
  ``events_hourly_counts`` query (operators/relational.py) — same
  logical plan, incremental execution;
- :func:`sessionize_stream` — custom stateful operator via
  ``applyInPandasWithState``: per-user sessions split on a 30-minute
  inactivity gap (the shape used for per-host crawl-rate state at
  cluster scale).  It is bounded: no state timeout is armed, so an
  ``availableNow`` query ends once its input is read.  A session
  closes only when a later event of the same user arrives, so each
  user's trailing session stays open in state unless something (the
  gate's per-user sentinel event) follows it.

The driver gates and the tests run both through :func:`run_stream`:
an ``availableNow`` query over events written as trigger files, planned
in a child session sized to that input, and checked against the
equivalent batch computation.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.tables import load, scan_partitions, sized_session

DEC = "decimal(28,8)"


def events_stream(
    spark: SparkSession, events_dir: str, schema: StructType
) -> DataFrame:
    """File-source stream over a directory of events parquet files with
    the given ``schema`` (one file per trigger, so multi-file dirs
    exercise incremental batches).  A file source needs its schema up
    front; the caller holds it from the frames it wrote there."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
        # watermarks require TIMESTAMP; the testdata stores
        # TIMESTAMP_NTZ (session tz is pinned to UTC, so this is exact)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )


def hourly_counts_stream(events: DataFrame) -> DataFrame:
    """Tumbling 1h windows per event type; 2h watermark bounds state."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("hour"),
            "event_type",
            "n",
            "total_value",
        )
    )


SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("session_start", TimestampType(), False),
        StructField("session_end", TimestampType(), False),
        StructField("n_events", IntegerType(), False),
        StructField("total_value", DoubleType(), False),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType(), False),
        StructField("end_us", LongType(), False),
        StructField("n", IntegerType(), False),
        StructField("total", DoubleType(), False),
    ]
)

GAP_MINUTES = 30


def _sessionize_fn(
    key: Tuple[int], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Stateful per-user sessionizer: emits closed sessions; keeps the
    open one in GroupState.  No timeout is armed, so an ``availableNow``
    run ends once its input is read; a later event (e.g. a sentinel)
    closes trailing sessions."""
    gap_us = GAP_MINUTES * 60 * 1_000_000
    (user_id,) = key

    rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    ts_us = rows["ts"].astype("datetime64[us]").astype("int64").to_numpy()
    vals = rows["value"].to_numpy()

    if state.exists:
        start_us, end_us, n, total = state.get
    else:
        start_us, end_us, n, total = None, None, 0, 0.0

    out = {k.name: [] for k in SESSION_SCHEMA.fields}
    for t, v in zip(ts_us, vals):
        if start_us is None:
            start_us, end_us, n, total = int(t), int(t), 1, float(v)
        elif t - end_us > gap_us:
            out["user_id"].append(user_id)
            out["session_start"].append(pd.Timestamp(start_us, unit="us"))
            out["session_end"].append(pd.Timestamp(end_us, unit="us"))
            out["n_events"].append(n)
            out["total_value"].append(total)
            start_us, end_us, n, total = int(t), int(t), 1, float(v)
        else:
            end_us, n, total = int(t), n + 1, total + float(v)

    state.update((int(start_us), int(end_us), int(n), float(total)))
    if out["user_id"]:
        yield pd.DataFrame(out)


def sessionize_stream(events: DataFrame) -> DataFrame:
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Driver-gate query: the STREAMING hourly rollup flows through a
# CORRECTNESS row with the same SQL oracle as its batch twin — complete-
# mode output over availableNow triggers equals the batch aggregation,
# so the gate pins incremental execution against DuckDB, not just
# against our own batch code.
# ---------------------------------------------------------------------------

def _write_trigger_files(d: str, parts) -> None:
    """Write one single-file parquet per trigger part into ``d``,
    mtime-ordered (the file source triggers by timestamp, then path).

    The writes are independent jobs over already-defined inputs, so
    they are submitted CONCURRENTLY (guide §2.6: overlap independent
    jobs — each tiny fixture write is dominated by per-job scheduler +
    commit latency, and the sequential r5 loop paid it four times in a
    row).  The mtimes are assigned after every write lands, so the
    trigger order is exactly the sequential loop's."""

    def write_one(k, p):
        sub = os.path.join(d, f"_stage{k}")
        p.coalesce(1).write.mode("overwrite").parquet(sub)
        src = next(f for f in os.listdir(sub) if f.endswith(".parquet"))
        dst = os.path.join(d, f"{k:03d}.parquet")
        shutil.move(os.path.join(sub, src), dst)
        shutil.rmtree(sub, ignore_errors=True)
        return dst

    with ThreadPoolExecutor(max_workers=len(parts)) as pool:
        dsts = list(pool.map(write_one, range(len(parts)), parts))
    now = time.time()
    for k, dst in enumerate(dsts):
        os.utime(dst, (now + k, now + k))


#: an availableNow query over a bounded fixture ends by itself; one
#: still running after this many seconds is stuck, and its gate fails
_STREAM_TIMEOUT_S = 600


def run_stream(spark: SparkSession, parts, build, mode: str) -> DataFrame:
    """Run ``build`` over a file stream of ``parts`` as an availableNow
    query into a memory sink, and return the sink's rows.

    Each frame of ``parts`` becomes one trigger file
    (:func:`_write_trigger_files`), so the query reads it as one
    micro-batch, in order.  ``build`` maps the :func:`events_stream`
    over those files to the query; ``mode`` is its output mode.

    The query plans in :func:`sized_session` of ``spark``, sized by
    :func:`scan_partitions` over the written fixture (guide §2
    scale-adaptive partitioning).  AQE is off inside stateful streaming
    queries, so every trigger otherwise runs a full
    shuffle.partitions-wide stateful stage and commits that many
    state-store instances per micro-batch: fixed overhead for a bounded
    fixture, and a constant that is too small for a production-scale
    stream.  The count is pinned into the checkpoint at the first batch,
    so it is decided here, before ``start()``.  The memory-sink table
    lives in the child session only.

    The sink's rows are localCheckpoint'ed and the temp dir (trigger
    files and checkpoint) removed before this returns: bench runs a
    gate 4×, and leaking a fixture per run grows /tmp unboundedly."""
    schema = parts[0].schema
    d = tempfile.mkdtemp(prefix="events-stream-")
    try:
        _write_trigger_files(d, parts)
        fixture = spark.read.schema(schema).parquet(d)
        child = sized_session(spark, scan_partitions(fixture))
        q = (
            build(events_stream(child, d, schema))
            .writeStream.format("memory")
            .queryName("stream_gate")
            .outputMode(mode)
            .option("checkpointLocation", os.path.join(d, "_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q.awaitTermination(_STREAM_TIMEOUT_S):
                raise TimeoutError(
                    f"availableNow query still running after {_STREAM_TIMEOUT_S} s"
                )
        finally:
            q.stop()
        return child.table("stream_gate").localCheckpoint()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def events_hourly_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run ``hourly_counts_stream`` as a real Structured Streaming query
    (the events split into 3 files → 3 incremental triggers, complete
    mode) and return the final result."""
    batch = load(spark, sf_dir, "events")
    parts = [batch.filter(F.pmod("event_id", F.lit(3)) == k) for k in range(3)]
    return run_stream(spark, parts, hourly_counts_stream, "complete").orderBy(
        "hour", "event_type"
    )


def _hourly_stream_sql() -> str:
    # the streaming gate's contract is "incremental == the batch twin's
    # oracle" — reference the SAME SQL string so they can never drift
    # (relational does not import streaming: no cycle)
    from ..operators.relational import _HOURLY_SQL

    return _HOURLY_SQL


def events_sessionized_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the CUSTOM STATEFUL operator (``applyInPandasWithState``
    sessionizer) as a real append-mode stream and gate it against the
    batch gaps-and-islands SQL — the previously pytest-only streaming
    surface promoted to a CORRECTNESS row (round-3 leftover).

    Append mode only emits *closed* sessions, so one sentinel event per
    user is appended 10 h after the corpus max timestamp: it closes
    every real trailing session, while the sentinel-only sessions stay
    open in state and are never emitted — the closed set is then
    exactly the oracle's session set.  Input files are split on event-
    time tertiles (the log-stream shape: cross-batch order per user is
    non-decreasing; within a batch the operator sorts), with strictly
    increasing mtimes so the file source triggers them in order.
    """
    u_cut = 120  # bounds gate cost; ~8k events at sf0.1
    batch = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id") < u_cut)
        .select(
            "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
        )
    )
    lo, hi = batch.agg(F.min("ts"), F.max("ts")).first()
    c1 = lo + (hi - lo) / 3
    c2 = lo + 2 * (hi - lo) / 3
    sentinel_ts = hi + pd.Timedelta(hours=10)
    sentinels = (
        batch.select("user_id")
        .distinct()
        .select(
            (F.lit(10**12) + F.col("user_id")).alias("event_id"),
            "user_id",
            F.lit(sentinel_ts).alias("ts"),
            F.lit(0.0).alias("value"),
        )
    )
    parts = [
        batch.filter(F.col("ts") < c1),
        batch.filter((F.col("ts") >= c1) & (F.col("ts") < c2)),
        batch.filter(F.col("ts") >= c2),
        sentinels,
    ]
    return (
        run_stream(spark, parts, sessionize_stream, "append")
        .select(
            "user_id",
            "session_start",
            "session_end",
            F.col("n_events").cast("long").alias("n_events"),
        )
        .orderBy("user_id", "session_start")
    )


_SESSION_STREAM_SQL = """
WITH x AS (
  SELECT user_id, event_id, ts,
    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
         THEN 1 ELSE 0 END AS ns
  FROM events
  WHERE user_id < 120
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
s AS (
  SELECT user_id, ts,
    SUM(ns) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                  ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM x
)
SELECT user_id,
  MIN(ts) AS session_start,
  MAX(ts) AS session_end,
  CAST(COUNT(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, session_idx
ORDER BY user_id, session_start
"""


def events_late_drop_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WATERMARK CONTRACT as a correctness gate: an append-mode
    tumbling-hour aggregation (1 h watermark) over three ordered file
    triggers —

    1. the base corpus (watermark still unset → everything admitted);
    2. one advancer row 3 h past the corpus max (the batch-0 watermark
       activates HERE — Spark's watermark takes effect one batch after
       the data that set it — emitting and evicting every base
       window);
    3. planted LATE clones of the earliest events — their windows'
       state is gone and their event times sit far below the active
       watermark, so Spark must DROP them;
    4. a flush sentinel 10 h past max, so append mode finalizes the
       advancer's window too.

    The oracle aggregates base + advancer + sentinel and NOT the
    planted clones — the result hashes equal only if late-data
    eviction actually dropped them (and only them)."""
    u_cut = 120
    base = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id") < u_cut)
        .select(
            "event_id", "user_id",
            F.col("ts").cast("timestamp").alias("ts"), "value",
        )
    )
    lo, hi = base.agg(F.min("ts"), F.max("ts")).first()
    late = (
        base.orderBy("ts", "event_id")
        .limit(20)
        .select(
            (F.col("event_id") + 10**9).alias("event_id"),
            "user_id",
            "ts",
            "value",
        )
    )

    # One-row frames as JVM literals over range(1), NOT createDataFrame:
    # with Arrow transfer on, a createDataFrame local relation is
    # parallelized to defaultParallelism partitions, and the
    # coalesce(1) fixture write then pulls every (mostly empty)
    # partition from the Python driver serially — measured ~4 s per
    # one-row write vs ~0.2 s for this literal form (guide §4: keep
    # constants out of the Python boundary).
    def one_row(event_id: int, ts, value: float) -> DataFrame:
        return spark.range(1).select(
            F.lit(event_id).cast("long").alias("event_id"),
            F.lit(0).cast("long").alias("user_id"),
            F.lit(pd.Timestamp(ts).to_pydatetime()).cast("timestamp").alias("ts"),
            F.lit(float(value)).alias("value"),
        )

    advancer = one_row(2 * 10**9, hi + pd.Timedelta(hours=3), 1.5)
    sentinel = one_row(3 * 10**9, hi + pd.Timedelta(hours=10), 2.5)

    def hourly(events: DataFrame) -> DataFrame:
        return (
            events.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("win"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
            )
            .select(F.col("win.start").alias("hour"), "n", "total_value")
        )

    parts = [base, advancer, late, sentinel]
    return run_stream(spark, parts, hourly, "append").orderBy("hour")


#: the oracle rebuilds base + advancer (NOT the late clones, and NOT
#: the sentinel — its own window's end stays above the final
#: watermark, so append mode never emits it) and aggregates in batch:
#: the hash matches only if late-data eviction dropped exactly the
#: clones and the sentinel flushed every real window
_LATE_DROP_SQL = """
WITH base AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
  FROM events WHERE user_id < 120
),
mx AS (SELECT MAX(ts) AS hi FROM base),
un AS (
  SELECT * FROM base
  UNION ALL
  SELECT 2000000000, 0, hi + INTERVAL 3 HOUR, 1.5 FROM mx
)
SELECT date_trunc('hour', ts) AS hour,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE) AS total_value
FROM un
GROUP BY 1 ORDER BY hour
"""


QUERIES = {
    "events_hourly_stream": events_hourly_stream,
    "events_sessionized_stream": events_sessionized_stream,
    "events_late_drop_stream": events_late_drop_stream,
}
ORACLE_SQL = {
    "events_hourly_stream": _hourly_stream_sql(),
    "events_sessionized_stream": _SESSION_STREAM_SQL,
    "events_late_drop_stream": _LATE_DROP_SQL,
}
