"""Freshness maintenance: the budgeted revalidation pass a crawler
runs between discovery crawls.

A production crawler does not re-download the web to keep its corpus
fresh — it keeps a per-URL *validator store* (ETag / Last-Modified /
content hash + change history), spends a fixed budget per pass on the
URLs most likely to be stale, revalidates them with conditional GETs
(sources/fetch.py ``HttpFetcher(revalidate=True)``), and re-extracts
ONLY the pages whose content actually changed.  The reference engine
has no recrawl notion (it fetches each URL once per program run,
/root/reference/src/interpreter/mod.rs:124-138); this is part of the
web-scale graft around it, composing three pieces that are each
individually gated:

- selection  — :func:`~..operators.relational.recrawl_priority`
  (integer staleness score, global top-k via TakeOrderedAndProject);
- transfer   — conditional GETs: a 304 costs a header round-trip,
  no body, no parse;
- processing — ``operators.extract.extract()`` re-runs the program
  over the changed slice only, so a page's record or error is the one
  ``extract()`` gives it; a non-scrp exception fails the task, and URL
  recursion resolves against an empty corpus (a "not in corpus" error).

Scale shape at the 10^10-URL design point: the store is a bucketed
table; the pass touches ``budget`` rows of it (top-k + one url-key
join of the fetched batch back to the due slice), the fetch stage is
the same salted per-host repartition as the discovery crawl, and the
store update is a union of untouched rows with the ``budget``-row
delta — no window over the store, no full-store shuffle beyond the
anti-join, nothing driver-side but the top-k heads.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import compile_scrp, extract

#: validator-store columns (the pass preserves this schema exactly)
STORE_COLS = (
    "url",
    "etag",
    "last_modified",
    "content_hash",
    "change_count",
    "crawl_count",
    "last_fetch_ts",
)


def classify_outcome(
    status: Column, fetched_hash: Column, stored_hash: Column
) -> Column:
    """Recrawl outcome of one revalidation attempt.

    - ``unchanged`` — 304 Not Modified, or a 200 whose body hashes to
      the stored content hash (server without validator support);
    - ``changed``   — a 200 with a different body;
    - ``dead``      — anything else (404/5xx/network failure).

    Pure column expression so the same rule runs identically in Spark
    and the DuckDB oracle (gate ``crawl_revalidate_classify``)."""
    return (
        F.when(status == 304, F.lit("unchanged"))
        .when((status == 200) & (fetched_hash == stored_hash), F.lit("unchanged"))
        .when(status == 200, F.lit("changed"))
        .otherwise(F.lit("dead"))
    )


class RecrawlPass:
    """One budgeted freshness pass over a validator store.

    ``fetcher`` must emit ``html/status/etag/last_modified`` columns
    for the claimed batch — ``HttpFetcher(revalidate=True)`` is the
    production shape; tests drive it against a loopback server."""

    def __init__(
        self,
        spark: SparkSession,
        fetcher,
        program: str | None = None,
        budget: int = 1000,
        fetch_partitions: int = 32,
        salt_buckets: int = 8,
    ):
        self.spark = spark
        self.fetcher = fetcher
        self.program = program or None
        if self.program is not None:
            compile_scrp(self.program)  # a bad program fails here, not mid-pass
        self.budget = budget
        self.fetch_partitions = fetch_partitions
        self.salt_buckets = salt_buckets

    def run(
        self, store: DataFrame, now_s: int, store_rows: int | None = None
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """Returns ``(new_store, outcomes, records)``.

        ``store_rows`` (optional): exact store size if the caller
        tracks it — forwarded to the top-k selection so large-budget
        passes skip one count job.

        ``new_store`` has exactly :data:`STORE_COLS` again;
        ``outcomes`` is the per-attempted-URL audit slice
        ``(url, status, outcome)``; ``records`` is the re-extraction
        output ``(url, kind, value)`` over changed pages only (empty
        if no program was given).

        The fetched+classified batch is cached so the three outputs
        share one fetch; it is ``budget`` rows — bounded by
        construction — and lives until the session drops it or the
        caller unpersists (``spark.catalog.clearCache()`` between
        passes in a long-running freshness service)."""
        from ..operators.relational import recrawl_priority

        hist = store.withColumn(
            "age_s", (F.lit(int(now_s)) - F.col("last_fetch_ts")).cast("long")
        )
        # cached: budget-bounded rows, referenced by the fetch stage
        # AND the untouched anti-join — without the cache the top-k
        # scan over the full store would run twice
        due = recrawl_priority(
            hist, self.budget, id_col="url", n_rows=store_rows
        ).drop("age_s", "score").cache()

        # same salted per-host fetch layout as the discovery crawl
        claimed = (
            due.select("url", "etag", "last_modified")
            .withColumn(
                "host", F.lower(F.parse_url(F.col("url"), F.lit("HOST")))
            )
            .repartition(
                self.fetch_partitions,
                F.col("host"),
                F.pmod(F.hash(F.col("url")), F.lit(self.salt_buckets)),
            )
            .sortWithinPartitions("host", "url")
            .drop("host")
        )
        fetched = self.fetcher.fetch(claimed).select(
            "url",
            F.col("html").alias("f_html"),
            F.col("status").alias("f_status"),
            F.col("etag").alias("f_etag"),
            F.col("last_modified").alias("f_lm"),
        )

        j = (
            due.join(fetched, on="url", how="inner")
            .withColumn(
                "f_hash",
                F.when(F.col("f_html").isNotNull(), F.md5(F.col("f_html"))),
            )
            .withColumn(
                "outcome",
                classify_outcome(
                    F.col("f_status"), F.col("f_hash"), F.col("content_hash")
                ),
            )
            .cache()
        )

        updated = j.select(
            "url",
            # 200 → response validators (even if null: the server
            # stopped sending one); 304/dead → keep the stored pair
            F.when(F.col("f_status") == 200, F.col("f_etag"))
            .otherwise(F.col("etag"))
            .alias("etag"),
            F.when(F.col("f_status") == 200, F.col("f_lm"))
            .otherwise(F.col("last_modified"))
            .alias("last_modified"),
            F.when(F.col("outcome") == "changed", F.col("f_hash"))
            .otherwise(F.col("content_hash"))
            .alias("content_hash"),
            (
                F.col("change_count")
                + F.when(F.col("outcome") == "changed", 1).otherwise(0)
            ).cast("long").alias("change_count"),
            (F.col("crawl_count") + 1).cast("long").alias("crawl_count"),
            # a dead fetch still consumed this pass's attempt: bump the
            # clock so the budget rotates instead of retrying it forever
            F.lit(int(now_s)).cast("long").alias("last_fetch_ts"),
        )

        untouched = store.join(due.select("url"), on="url", how="left_anti")
        new_store = untouched.select(*STORE_COLS).unionByName(
            updated.select(*STORE_COLS)
        )

        outcomes = j.select(
            "url", F.col("f_status").alias("status"), "outcome"
        )

        changed = j.filter(F.col("outcome") == "changed").select(
            "url", F.col("f_html").alias("html")
        )
        if self.program is not None:
            records = extract(changed, self.program).select(
                "url",
                F.when(F.col("error").isNull(), "record").otherwise("error").alias("kind"),
                F.coalesce("result", "error").alias("value"),
            )
        else:
            records = changed.select(
                "url", F.lit("skipped").alias("kind"), F.lit(None).cast("string").alias("value")
            ).limit(0)
        return new_store, outcomes, records
