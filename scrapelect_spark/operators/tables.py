"""Gate plumbing for the catalog operators: the declared catalog of the
star-schema tables (:data:`SCHEMAS`, read by :func:`load`), the fan-out
(:func:`spread`, :func:`docs`), loop sizing (:func:`scan_partitions`,
:func:`sized_session`), materialization (:func:`barrier` for reused
subtrees, :func:`final_sort` for a gate's output order), and the
per-row kernel applier (:func:`map_rows`).

The catalog plays the part of Iceberg table metadata: a table's schema
is declared here, so a read never scans a file to learn it.  A bare
``spark.read.parquet`` runs a one-task schema-inference job per call
(90-110 ms per read in a warm local session, against 17-25 ms with the
schema given)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, _parse_datatype_string

#: DDL of each star-schema table, equal to the schema Spark infers from
#: its parquet files (``TIMESTAMP_NTZ`` included: Spark writes those
#: columns without the UTC-adjusted flag).
SCHEMAS = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": "c_custkey bigint, c_name string, c_nationkey int, "
    "c_acctbal double, c_mktsegment string",
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, "
    "s_acctbal double",
    "part": "p_partkey bigint, p_name string, p_brand string, p_type string, "
    "p_size int, p_retailprice double",
    "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string",
    "lineitem": "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
    "l_linenumber int, l_quantity double, l_extendedprice double, "
    "l_discount double, l_tax double, l_returnflag string, "
    "l_linestatus string, l_shipdate timestamp_ntz",
    "events": "event_id bigint, ts timestamp_ntz, user_id bigint, "
    "event_type string, value double, props string",
    "documents": "doc_id bigint, text string, lang string, source string, "
    "n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read star-schema table ``name`` under ``sf_dir`` with its
    declared schema (no inference job)."""
    return spark.read.schema(SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")


#: ceiling on :func:`scan_partitions`: 65 536 loop partitions is about
#: 1.4 GiB per partition at 100 TB, where the 16 MiB target alone would
#: derive ~6.5 M tasks per round.
MAX_LOOP_PARTITIONS = 65_536


def size_estimate(df: DataFrame) -> int:
    """The optimizer's size estimate of ``df`` in bytes (file-size based
    for scans; driver-side, costs no job), or 0 if it is unavailable.
    Size-only statistics scale a unary node's estimate by row width, not
    row count, so they do not see a row fan-out (see :func:`final_sort`)."""
    try:
        return int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:
        return 0


def scan_partitions(df: DataFrame, target_bytes: int = 16 << 20) -> int:
    """Input-proportional partition count for sizing an ITERATIVE
    loop's shuffles/state to the corpus rather than to a constant
    tuned for either local mode or one cluster (guide §2:
    scale-adaptive partitioning).

    Derived from :func:`size_estimate` at ``target_bytes`` per
    partition.  The target is deliberately finer than a scan
    split (16 MiB vs 128 MiB): a loop touches its working set twice
    per round across many rounds and typically explodes it (edge
    lists, element tables), so per-round partitions want to be
    smaller than one-shot scan splits.  A 600 KB bench table yields
    1 (the measured-fast case for the graph loops); a 100 TB corpus
    is clamped to :data:`MAX_LOOP_PARTITIONS`.  Falls back to the
    physical scan split count if the estimate is unavailable.  The loop
    plans at this count in a :func:`sized_session` child, never by
    writing the caller's session conf."""
    size = size_estimate(df)
    if size > 0:
        return min(MAX_LOOP_PARTITIONS, max(1, -(-size // target_bytes)))
    return min(MAX_LOOP_PARTITIONS, max(1, df.rdd.getNumPartitions()))


def sized_session(spark: SparkSession, n: int) -> SparkSession:
    """A clone of ``spark`` whose ``spark.sql.shuffle.partitions`` is
    ``n`` (derived from :func:`scan_partitions`, so it is input-sized),
    for an iterative loop or a stateful stream to plan its jobs in.

    Why: the per-round joins/aggregations of the iterative operators
    run over vectors cached with an explicit hash partitioning, and
    cached plans keep AQE's output-partitioning changes OFF
    (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``), so
    every round otherwise schedules full ``spark.sql.shuffle.partitions``
    -sized stages no matter how small the data — pure task-scheduling
    overhead at bench scale and the WRONG constant at 100 TB, where the
    same loops need far more than the session default.  Sizing the
    loop's shuffles to the input keeps the co-partitioned
    zero-exchange round shape at every scale.

    The clone shares the SparkContext and the cache, and starts with a
    copy of ``spark``'s runtime conf, temp views and functions
    (``newSession()`` would drop the runtime conf, the time zone
    included).  Writing the count into the clone leaves ``spark``
    untouched, so queries that other threads plan on it meanwhile keep
    their own partition count."""
    return SparkSession(
        spark.sparkContext,
        spark._jsparkSession.cloneSession(),
        {"spark.sql.shuffle.partitions": str(n)},
    )


#: materialization barriers on (the production default).  Plan-shape
#: tests set this False so ``plan_of(gate(...))`` shows the full
#: logical tree instead of a LogicalRDD stub at each barrier — the
#: barrier only truncates what EXPLAIN prints; the barriered subtree
#: executes the identical plan.
BARRIERS = True


def barrier(df: DataFrame) -> DataFrame:
    """Lazy materialization barrier: compute-once for a subtree that
    several consumers read (a self-join, a cascade whose stages each
    scan it, an iterative loop's per-round state).  Chain with
    ``df.transform(barrier)``.  No-op when ``BARRIERS`` is False (plan
    inspection).  A gate's final sort goes through :func:`final_sort`
    instead."""
    if not BARRIERS:
        return df
    return df.localCheckpoint(eager=False)


def final_sort(df: DataFrame, *cols) -> DataFrame:
    """A gate's output order.  Chain with
    ``df.transform(final_sort, *cols)``.

    - *Small output:* when :func:`size_estimate` is positive and at most
      the session's ``spark.sql.autoBroadcastJoinThreshold`` (the bound
      Spark already uses for "small enough for one task"), the rows go
      to one partition and are sorted there:
      ``df.repartition(1).sortWithinPartitions(*cols)``.  That runs the
      child once, with no sampling job and no barrier.  A child whose
      plan already ends in one partition (a top-k, a ``coalesce(1)``)
      is sorted in place, without the extra exchange.
    - *Otherwise:* ``df.orderBy(*cols)`` over a :func:`barrier`.  A
      global sort is a range partitioning, and its sampling pass runs
      the child in full before the sort proper runs it again; with a
      Python kernel below, every row goes through the kernel twice.
      The barrier computes the child once and both passes read the
      saved partitions (3.33 s → 1.76 s on the MPEG-1 B-frame gate at
      sf0.1).

    The estimate's known limit: size-only statistics do not see a
    Python kernel's (or an explode's) row fan-out, so a kernel that
    yields many rows per input row can send a large output down the
    one-task branch.  With ``BARRIERS`` off (plan inspection) this is a
    plain ``orderBy``.  This is the one place gate-final sorts are
    materialized."""
    if BARRIERS:
        conf = df._jdf.sparkSession().sessionState().conf()
        if 0 < size_estimate(df) <= conf.autoBroadcastJoinThreshold():
            plan = df._jdf.queryExecution().executedPlan()
            if plan.outputPartitioning().numPartitions() != 1:
                df = df.repartition(1)
            return df.sortWithinPartitions(*cols)
    return barrier(df).orderBy(*cols)


def spread(df: DataFrame) -> DataFrame:
    """Explicit fan-out for under-parallel inputs.

    A toy-scale parquet scan is a single partition, and everything up
    to the first exchange — ``mapInPandas`` codec work, but equally
    JVM-side explodes, regex extraction and partial aggregation —
    executes on ONE task no matter how many cores the cluster has.
    Repartitioning to the session's default parallelism with an
    EXPLICIT partition count (user-specified numPartitions is exempt
    from AQE coalescing) makes those stages genuinely parallel.

    Round 6 made the fan-out CONDITIONAL: when the input already
    carries at least the cluster's parallelism (every corpus-scale
    scan), spread is the identity — the exchange exists only where it
    buys parallelism, so corpus-scale plans are untouched rather than
    paying a full-table round-robin shuffle."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def docs(spark: SparkSession, sf_dir: str, n: int, *cols) -> DataFrame:
    """The gates' input: ``documents`` rows with ``doc_id < n``, fanned
    out by :func:`spread`, projected to ``cols``."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < n)
    return spread(d).select(*cols)


def map_rows(df: DataFrame, fn, schema, errors=(), on_error=None) -> DataFrame:
    """Apply a per-row kernel to ``df`` in one ``mapInPandas``.

    ``fn(*row)`` gets each row's values as plain Python objects
    (``int`` for integral columns, ``None`` for their nulls) and yields
    zero or more output rows as dicts keyed by the ``schema`` field
    names.  Output columns are built as object arrays, so a ``long``
    next to a ``None`` never passes through ``float64``.  (On the input
    side, Spark's Arrow-to-pandas step already turns an integral column
    that holds a null into ``float64``, exact only up to 2**53.)

    With ``errors`` non-empty the helper owns the ``failed`` column: 0
    for the rows ``fn`` yielded, and one row of ``{**on_error,
    "failed": 1}`` when ``fn`` raises one of ``errors``.  In that row the
    input columns that also name an output column (the row key) keep
    their values and every other column is ``None``.  Any other
    exception fails the task.  The fallback row replaces everything
    ``fn`` yielded for that input row, so a kernel that must keep
    partial output (the frames decoded before a truncated stream
    fails) catches inside ``fn`` instead."""
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    names = schema.fieldNames()
    in_names = df.columns
    ints = {f.name for f in df.schema.fields if isinstance(f.dataType, IntegralType)}
    fallback = {**dict.fromkeys(names), **(on_error or {}), "failed": 1}

    def values(col):
        # a null in an integral column arrives as a float64 NaN
        if col.name in ints and col.dtype.kind == "f":
            return [None if v != v else int(v) for v in col.tolist()]
        return col.tolist()

    def run(batches):
        for pdf in batches:
            cols = {c: [] for c in names}
            for row in zip(*(values(pdf[c]) for c in in_names)):
                try:
                    out = [{**r, "failed": 0} if errors else r for r in fn(*row)]
                except errors:
                    key = {c: v for c, v in zip(in_names, row) if c in cols}
                    out = [{**fallback, **key}]
                for r in out:
                    for c in names:
                        cols[c].append(r[c])
            yield pd.DataFrame({c: pd.Series(v, dtype=object) for c, v in cols.items()})

    return df.mapInPandas(run, schema=schema)


def per_task(make):
    """A getter for one ``make()`` result per task, built on first use:
    for per-task state (an interpreter, a parse cache) in a ``map_rows``
    kernel.  Spark unpickles a task's function afresh, so the cell this
    closes over starts empty in every task."""
    cell = []

    def get():
        if not cell:
            cell.append(make())
        return cell[0]

    return get
