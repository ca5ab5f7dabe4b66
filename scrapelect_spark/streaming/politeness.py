"""Politeness-aware batch selection: the distributed priority queue.

Selects each micro-batch from the queued frontier under (a) a per-host
fetch budget and (b) a global batch size, in the deterministic total
order ``(priority, depth, page_seq, link_seq, url)`` — the lineage
order that makes the parallel crawl reproduce the sequential reference
crawl byte-for-byte (SURVEY.md §7.1 item 4).

Skew design: per-host top-k is one ``row_number() over (host)`` window
whose filter carries a literal bound ``_r <= k`` (k = the largest
budget), next to the exact per-host ``_r <= _budget``.  The literal
lets Spark insert ``WindowGroupLimit … Partial`` below the host
exchange, so each map task ships at most k rows per host: one hot host
(say 40% of a 10^10 frontier) reaches the host-side task as
≤ map_tasks·k rows, never as its whole queue.  (Spark applies the
group limit only while k is at most
``spark.sql.optimizer.windowGroupLimitThreshold``, 1000 by default;
above it the claim is still exact, just without the map-side cut.)

The global batch cut is a top-``batch_size`` sort over per-host
survivors (bounded by hosts × k rows).  The fetch stage then
repartitions the claimed batch by ``(host, salt)`` and sorts within
partitions by the same total order, so per-partition fetch order is
deterministic and hot hosts stay spread.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

ORDER_COLS = ["priority", "depth", "page_seq", "link_seq", "url"]


def _order(df_cols=None):
    return [F.col(c).asc() for c in ORDER_COLS]


def select_batch(
    queued: DataFrame,
    *,
    batch_size: int,
    host_budgets: Mapping[str, int] | None = None,
    default_per_host: int = 4,
    salt_buckets: int = 8,
) -> DataFrame:
    """Claim the next micro-batch.  ``host_budgets`` is an optional
    small ``{host: budget}`` mapping — broadcast-joined; hosts absent
    from it use ``default_per_host``.  ``salt_buckets`` is accepted for
    callers that pass one setting to this and to
    :func:`repartition_for_fetch`; the claim itself needs no salt.

    Returns the claimed rows with a deterministic ``fetch_order``
    column (0-based within the batch).
    """
    limit = default_per_host
    if host_budgets:
        budgets = queued.sparkSession.createDataFrame(
            list(host_budgets.items()), "host string, budget int"
        )
        df = queued.join(F.broadcast(budgets), on="host", how="left")
        df = df.withColumn(
            "_budget", F.coalesce(F.col("budget"), F.lit(default_per_host))
        ).drop("budget")
        limit = max(limit, *host_budgets.values())
    else:
        df = queued.withColumn("_budget", F.lit(default_per_host))

    # exact per-host rank; the literal bound is what Spark turns into
    # the map-side WindowGroupLimit (see the module docstring)
    w = Window.partitionBy("host").orderBy(*_order())
    df = (
        df.withColumn("_r", F.row_number().over(w))
        .filter((F.col("_r") <= F.col("_budget")) & (F.col("_r") <= F.lit(limit)))
        .drop("_r", "_budget")
    )
    # global deterministic cut: orderBy+limit plans as
    # TakeOrderedAndProject (per-partition top-k + merge, distributed)
    # — with millions of hosts the per-host survivor set is still huge,
    # so never run it through one unpartitioned WindowExec task.  The
    # ≤batch_size claimed rows are then ranked WindowExec-free: one
    # sorted partition + monotonically_increasing_id (sequential
    # 0..n-1 within a single partition).
    top = (
        df.orderBy(*_order())
        .limit(batch_size)
        .coalesce(1)
        .sortWithinPartitions(*ORDER_COLS)
    )
    return top.withColumn(
        "fetch_order", F.monotonically_increasing_id().cast("int")
    )


def repartition_for_fetch(
    claimed: DataFrame, num_partitions: int, salt_buckets: int = 8
) -> DataFrame:
    """Salted-key repartition + sortWithinPartitions for the fetch
    stage (north_star): hot hosts spread over ``salt_buckets`` tasks,
    deterministic in-partition order."""
    return claimed.repartition(
        num_partitions,
        F.col("host"),
        F.pmod(F.hash(F.col("url")), F.lit(salt_buckets)),
    ).sortWithinPartitions(*ORDER_COLS)
