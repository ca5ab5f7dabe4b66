"""Gate plumbing for the catalog operators: the parquet loader for the
star-schema tables, the fan-out (:func:`spread`, :func:`docs`), loop
sizing (:func:`scan_partitions`, :func:`loop_shuffle`), materialization
(:func:`barrier` for reused subtrees, :func:`final_sort` for a gate's
output order), and the per-row kernel applier (:func:`map_rows`)."""

from __future__ import annotations

from contextlib import contextmanager

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, _parse_datatype_string

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    assert name in TABLES, name
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


#: ceiling on :func:`scan_partitions`: 65 536 loop partitions is about
#: 1.4 GiB per partition at 100 TB, where the 16 MiB target alone would
#: derive ~6.5 M tasks per round.
MAX_LOOP_PARTITIONS = 65_536


def scan_partitions(df: DataFrame, target_bytes: int = 16 << 20) -> int:
    """Input-proportional partition count for sizing an ITERATIVE
    loop's shuffles/state to the corpus rather than to a constant
    tuned for either local mode or one cluster (guide §2:
    scale-adaptive partitioning).

    Derived from the optimizer's size estimate of ``df`` (file-size
    based for scans; driver-side, costs no job) at ``target_bytes``
    per partition.  The target is deliberately finer than a scan
    split (16 MiB vs 128 MiB): a loop touches its working set twice
    per round across many rounds and typically explodes it (edge
    lists, element tables), so per-round partitions want to be
    smaller than one-shot scan splits.  A 600 KB bench table yields
    1 (the measured-fast case for the graph loops); a 100 TB corpus
    is clamped to :data:`MAX_LOOP_PARTITIONS`.  Falls back to the
    physical scan split count if the estimate is unavailable."""
    try:
        size = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
        if size > 0:
            return min(MAX_LOOP_PARTITIONS, max(1, -(-size // target_bytes)))
    except Exception:
        pass
    return min(MAX_LOOP_PARTITIONS, max(1, df.rdd.getNumPartitions()))


@contextmanager
def loop_shuffle(spark: SparkSession, n: int):
    """Run an iterative loop's jobs under ``spark.sql.shuffle.partitions
    = n`` (derived from :func:`scan_partitions`, so it is input-sized),
    restoring the session value afterwards.

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

    The setting is session-global, so this assumes gates run one at a
    time: no other query may run on the same session while a loop
    holds the conf (it would be planned with the loop's partition
    count)."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield n
    finally:
        spark.conf.set(key, old)


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
    """A gate's output order: ``df.orderBy(*cols)`` over a
    :func:`barrier`.  Chain with ``df.transform(final_sort, *cols)``.

    A global sort is a range partitioning, and its sampling pass runs
    the child in full before the sort proper runs it again; with a
    Python kernel below, every row goes through the kernel twice.  The
    barrier computes the child once and both passes read the saved
    partitions (3.33 s → 1.76 s on the MPEG-1 B-frame gate at sf0.1).
    This is the one place gate-final sorts are materialized."""
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
