"""The micro-batch crawl loop: frontier → politeness claim → fetch →
extract → frontier append, checkpointed per batch.

This is the web-scale graft around the scrp engine (north_rule): the
reference fetches one page per URL-recursion eval with no dedup or
scheduling (/root/reference/src/interpreter/mod.rs:124-138); here a
distributed frontier drives fetching while per-page extraction keeps
the reference's sequential semantics inside the UDF.

Determinism contract (verified against the sequential reference
simulator in reference_sim.py): under the same seed list + politeness
budget, the crawl produces byte-for-byte the same

- fetch order  — ``page_seq`` assigned from the total order
  ``(priority, depth, page_seq, link_seq, url)`` (politeness.py);
- URL-seen set — exact dedup (bloom prefilter + anti-join; sketches
  never change the answer, urlseen.py);
- extraction output — same engine, same pages.

Storage: one :class:`SnapshotTable` per logical table (frontier /
seen / pages / records / sketches) plus a root table whose snapshot
pins each sub-table snapshot id — a micro-batch commits sub-tables
first and the root last (atomically), so resume reads a consistent
cut (north_rule: "resumable from checkpoint with per-partition
lineage + metrics").  A crash between the sub-table commits and the
root commit leaves sub-table commits no root pins; ``Crawler.run``
rolls every sub-table back to its root pin before it does anything
else, so the re-run batch never appends on top of them.

Python pass budget: after the fetch (a JVM join against the corpus,
which CorpusFetcher reads once and caches), a batch runs exactly two
Python passes; everything else is JVM-side.
- The extract pass (``_extract_pass``, one ``map_rows``) parses each
  page once and emits its record plus every frontier candidate: each
  followable link and each redirect target, already carrying its
  ``host`` and robots ``excluded`` value.  The record comes from the
  page kernel ``operators.extract.evaluate_page``: a program error
  is the page's ``error`` record, any other exception fails the task.
- One cogroup per bucket (``urlseen.probe_and_merge_df``) drops the
  bucket's duplicate candidates (a URL's rows share its bucket, so no
  separate dedup shuffle runs), tags each distinct candidate against
  the bucket's old bloom and emits the bucket's merged bloom, in the
  same task.  It is materialized once; the
  anti-join of the maybe-seen sliver and the sketch commit both read
  that result.  The merged bloom is old ⊕ *every* candidate, not just
  the new ones, and the bytes are the same: the bloom already holds
  the whole seen set (seeds and every earlier frontier row, robots-
  excluded and redirect rows included), so the extra candidates are
  seen URLs, and adding a URL twice sets the same bits.

Scale notes:
- queued = frontier ⟕̸ pages (left-anti): at 10^10 rows this is the
  cost of plain parquet; on Iceberg the same loop uses MoR deletes and
  a bucket(url) layout so the anti-join is partition-local;
- candidate dedup anti-join only sees the bloom "maybe-seen" sliver;
- the per-host claim is one window with a map-side group limit
  (politeness.py), so each map task ships at most ``per_host_limit``
  rows of a hot host and host skew never concentrates on one task;
- the hot state (queued frontier, exact seen set) is re-materialized
  each batch with a partition count that follows its row count, never
  the number of batches run;
- the corpus fetcher realizes "HTTP GET" as a join against the page
  corpus (sandbox has no network); HttpFetcher shows the mapInPandas
  shape with per-partition rate limiting for real deployments.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Optional
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.dom import parse_html
from ..functions.interpreter import Interpreter
from ..operators.extract import compile_scrp, evaluate_page
from ..operators.tables import map_rows, per_task
from ..sources.checkpoint import SnapshotTable
from .canonicalize import canonicalize_url, host_of, resolve_and_canonicalize
from .politeness import repartition_for_fetch, select_batch
from .robots import RobotsPolicy
from .urlseen import empty_sketch_df, merged_sketch_df, probe_and_merge_df

ALLOWED_SCHEMES = ("http", "https", "file")


@dataclass
class CrawlConfig:
    batch_size: int = 1000
    per_host_limit: int = 4
    salt_buckets: int = 8  # fetch-stage spread of a host's claimed URLs
    max_depth: int = 10
    buckets: int = 64  # frontier hash buckets (sketch partitioning)
    bloom_bits_per_bucket: int = 1 << 20
    bloom_hashes: int = 5
    default_priority: int = 100
    batch_seconds: float = 60.0  # politeness budget window per micro-batch
    fetch_partitions: int = 32
    #: fold the append-only snapshot logs into one base commit every N
    #: batches (0 = never).  At the 10^10-URL design point the frontier
    #: log otherwise accumulates one commit dir per batch forever, and
    #: every resume/read pays for the whole history.  Compaction keeps
    #: old snapshots + data dirs on disk, so a crash mid-compaction (or
    #: a root pin from before it) still resolves exactly.
    compact_every: int = 64


def effective_base(root, base_url: str) -> str:
    """The document's effective base URL: the FIRST ``<base href>``
    (itself resolved against the page URL, per the HTML spec), else
    the page URL — which the crawl loop already sets to the SERVED
    url after a redirect."""
    from urllib.parse import urljoin

    for el in root.descendants():
        if el.tag == "base" and "href" in el.attrs:
            try:
                return urljoin(base_url, el.attrs["href"].strip())
            except ValueError:
                return base_url
    return base_url


def extract_links(root, base_url: str) -> list[Optional[str]]:
    """All ``<a href>`` targets in document order, resolved against the
    page's effective base and canonicalized (None for unusable hrefs,
    INCLUDING ``rel=nofollow`` anchors — the position is kept so
    link_seq lineage stays stable).  The effective base honors the
    document's first ``<base href>`` (itself resolved against the page
    URL, per the HTML spec); with no base tag it is the page URL —
    which the crawl loop already sets to the SERVED url after a
    redirect.  Shared with the sequential reference simulator —
    identical by construction."""
    effective = effective_base(root, base_url)
    out: list[Optional[str]] = []
    for el in root.descendants():
        if el.tag == "a" and "href" in el.attrs:
            rel = el.attrs.get("rel", "").lower().split()
            if "nofollow" in rel:
                out.append(None)
            else:
                out.append(
                    resolve_and_canonicalize(el.attrs["href"], effective)
                )
    return out


def page_robots_directives(root) -> frozenset:
    """Lowercased directive tokens from every ``<meta name="robots">``
    tag (comma- or space-separated); ``none`` expands to
    ``noindex + nofollow`` per the de-facto standard.  Page-level
    ``nofollow`` drops every outlink, ``noindex`` suppresses the
    extracted record while links are still followed."""
    toks: set[str] = set()
    for el in root.descendants():
        if (
            el.tag == "meta"
            and el.attrs.get("name", "").strip().lower() == "robots"
        ):
            for t in el.attrs.get("content", "").replace(",", " ").split():
                toks.add(t.strip().lower())
    if "none" in toks:
        toks |= {"noindex", "nofollow"}
    return frozenset(toks)


def robots_fields(url: str, robots: RobotsPolicy) -> tuple[str, Optional[str]]:
    """A frontier URL's ``(host, excluded)``: ``excluded`` is 'robots'
    when robots.txt disallows the URL's path, else None."""
    host = host_of(url)
    allowed = robots.allowed(host, urlsplit(url).path or "/")
    return host, None if allowed else "robots"


PROCESS_SCHEMA = StructType(
    [
        StructField("page_url", StringType(), False),
        StructField("page_seq", LongType(), False),
        StructField("depth", IntegerType(), False),
        StructField("kind", StringType(), False),  # link | record | error | redirect
        StructField("seq", IntegerType(), False),
        StructField("value", StringType(), True),
        # link / redirect rows: the target's frontier host and exclusion
        StructField("host", StringType(), True),
        StructField("excluded", StringType(), True),
    ]
)

FRONTIER_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("host", StringType(), False),
        StructField("depth", IntegerType(), False),
        StructField("page_seq", LongType(), False),  # discovering page
        StructField("link_seq", IntegerType(), False),
        StructField("priority", IntegerType(), False),
        StructField("excluded", StringType(), True),  # None | reason
        StructField("batch", LongType(), False),
    ]
)


class Crawler:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        corpus: DataFrame,  # (url, html) — the fetchable web
        seeds: list[tuple[str, int]],  # (url, priority)
        program: str | None = None,
        robots: RobotsPolicy | None = None,
        config: CrawlConfig | None = None,
        fetcher=None,  # CorpusFetcher (default) | HttpFetcher | custom
    ):
        self.spark = spark
        self.cfg = config or CrawlConfig()
        self.seeds = seeds
        self.robots = robots or RobotsPolicy({}, self.cfg.batch_seconds)
        self.program = program
        self.statements = compile_scrp(program) if program is not None else None
        self.corpus = corpus
        if fetcher is None:
            from ..sources.fetch import CorpusFetcher

            fetcher = CorpusFetcher(corpus)
        self.fetcher = fetcher
        self.root = SnapshotTable(f"{workdir}/crawl")
        self.tables = {
            name: SnapshotTable(f"{workdir}/{name}")
            for name in ("frontier", "seen", "pages", "records", "sketches")
        }
        # URL-seen blooms as a (bucket, sketch) DataFrame — executor-
        # resident, cogrouped per bucket at use sites; the driver never
        # holds the sketch bytes (at 10^10 URLs that dict is ~12 GiB)
        self.sketch_df: DataFrame | None = None
        # hot crawl state kept as materialized (localCheckpoint'ed)
        # DataFrames between batches: the queued frontier and the exact
        # seen set.  The snapshot tables stay the durable source of
        # truth (state is rebuilt from them on resume); the cached form
        # removes the per-batch full-table scan + anti-join.
        self._queued_df: DataFrame | None = None
        self._seen_df: DataFrame | None = None
        # their row counts, carried from batch to batch (and in the
        # root metrics) so sizing them never costs a count job
        self._queued_rows = 0
        self._seen_rows = 0

    _QUEUED_COLS = ["url", "host", "depth", "page_seq", "link_seq", "priority"]

    def _load_state(self, root_state: dict) -> None:
        """Rebuild hot state from the root-pinned snapshots (startup +
        resume path).  The row counts come from the root's metrics; a
        root written before they were recorded has them counted."""
        m = root_state["metrics"]
        frontier = self._pinned("frontier")
        pages = self._pinned("pages")
        queued = frontier.filter(F.col("excluded").isNull()).select(
            *self._QUEUED_COLS
        )
        if pages is not None:
            queued = queued.join(pages.select("url"), on="url", how="left_anti")
        seen = self._pinned("seen").select("url", "bucket")
        self._queued_rows = m.get("queued_urls")
        if self._queued_rows is None:
            self._queued_rows = queued.count()
        self._seen_rows = m.get("seen_urls")
        if self._seen_rows is None:
            self._seen_rows = seen.count()
        self._queued_df = self._hot(queued, self._queued_rows)
        self._seen_df = self._hot(seen, self._seen_rows)

    # --- helpers ---------------------------------------------------
    def _with_bucket(self, df: DataFrame, col: str = "url") -> DataFrame:
        return df.withColumn("bucket", F.pmod(F.hash(F.col(col)), F.lit(self.cfg.buckets)))

    def _commit_parts(self, n_rows: int, rows_per_file: int = 50_000) -> int:
        """Write-parallelism for a per-batch commit: scales with batch
        size (one task per ~50k rows) so a millions-of-pages batch
        never funnels through one write task, but small CI batches
        still produce one or two files instead of 32 tiny ones."""
        cap = max(1, self.spark.sparkContext.defaultParallelism)
        return max(1, min(cap, -(-int(n_rows) // rows_per_file)))

    def _host_budgets(self) -> dict[str, int]:
        return {
            h: self.robots.host_budget(h, self.cfg.per_host_limit)
            for h in self.robots.per_host
        }

    def _state_parts(self, n_rows: int, rows_per_part: int = 50_000) -> int:
        """Partition count for the hot state: one partition per ~50k
        rows, never fewer than ``defaultParallelism``.  Each batch's
        ``union`` adds the new rows' partitions; capping the result by
        row count keeps a long crawl from gaining partitions (and tasks)
        with every batch."""
        floor = max(1, self.spark.sparkContext.defaultParallelism)
        return max(floor, -(-int(n_rows) // rows_per_part))

    def _hot(self, df: DataFrame, n_rows: int) -> DataFrame:
        """Materialize hot state: a narrow ``coalesce`` to
        :meth:`_state_parts`, then ``localCheckpoint`` so plan depth
        stays O(1) across hundreds of batches."""
        return df.coalesce(self._state_parts(n_rows)).localCheckpoint()

    def _pinned(self, name: str) -> Optional[DataFrame]:
        """Read a sub-table at the snapshot pinned by the root table."""
        snap = self.root.current_snapshot()
        if snap is None:
            return None
        sid = snap["metrics"]["tables"].get(name)
        if sid is None:
            return None
        return self.tables[name].read(self.spark, snapshot_id=sid)

    # --- seen sketches --------------------------------------------
    def _restore_sketches(self) -> None:
        df = self._pinned("sketches")
        if df is None:
            self.sketch_df = empty_sketch_df(self.spark)
            return
        # latest sketch per bucket — stays a DataFrame end to end; no
        # driver materialization of the bloom bytes
        from pyspark.sql import Window

        w = Window.partitionBy("bucket").orderBy(F.col("batch").desc())
        self.sketch_df = (
            df.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") == 1)
            .select("bucket", "sketch")
            .localCheckpoint()
        )

    # --- batch stages ---------------------------------------------
    def _seed_commit(self) -> dict:
        rows = []
        seen_order: dict[str, None] = {}
        for i, (url, priority) in enumerate(self.seeds):
            canon = canonicalize_url(url)
            if canon is None or canon in seen_order:
                continue
            seen_order[canon] = None
            host, excluded = robots_fields(canon, self.robots)
            rows.append((canon, host, 0, -1, i, priority, excluded, 0))
        frontier_df = self.spark.createDataFrame(rows, FRONTIER_SCHEMA)
        fr_snap = self.tables["frontier"].commit(frontier_df, metrics={"batch": 0})
        seen_df = self._with_bucket(frontier_df.select("url")).select("url", "bucket")
        seen_snap = self.tables["seen"].commit(seen_df, metrics={"batch": 0})
        # seed blooms built executor-side; no URL ever crosses back
        self.sketch_df = (
            merged_sketch_df(
                empty_sketch_df(self.spark),
                seen_df,
                num_bits=self.cfg.bloom_bits_per_bucket,
                num_hashes=self.cfg.bloom_hashes,
            )
            .select("bucket", "sketch")
            .localCheckpoint()
        )
        sk_snap = self._commit_sketches(0, self.sketch_df)
        root = self.root.commit(
            None,
            metrics={
                "batch": 0,
                "next_page_seq": 0,
                "tables": {
                    "frontier": fr_snap["id"],
                    "seen": seen_snap["id"],
                    "sketches": sk_snap["id"],
                    "pages": None,
                    "records": None,
                },
                "pages_fetched": 0,
                "seeds": len(rows),
                "queued_urls": sum(r[6] is None for r in rows),  # not excluded
                "seen_urls": len(rows),
            },
        )
        return root

    def _commit_sketches(self, batch: int, sketch_df: DataFrame):
        df = sketch_df.select(
            "bucket", "sketch", F.lit(batch).cast("long").alias("batch")
        )
        return self.tables["sketches"].commit(
            df, mode="overwrite", metrics={"batch": batch}
        )

    def _extract_pass(self, fetched: DataFrame) -> DataFrame:
        """The batch's extract pass over the fetched pages: per page, its
        record or error (the page kernel, on an interpreter with no
        fetcher; a page that did not fetch is an error) and its frontier
        candidates — each followable link (allowed scheme, on a page
        shallower than ``max_depth``) and each redirect target, already
        carrying the frontier ``host`` and ``excluded`` columns."""
        statements = self.statements
        robots = self.robots
        max_depth = self.cfg.max_depth
        interpreter = per_task(Interpreter)
        if "final_url" not in fetched.columns:
            fetched = fetched.withColumn("final_url", F.lit(None).cast("string"))

        def page(url, html, page_seq, depth, final_url):
            def row(kind, seq, value, host=None, excluded=None):
                return {
                    "page_url": url, "page_seq": page_seq, "depth": depth,
                    "kind": kind, "seq": seq, "value": value,
                    "host": host, "excluded": excluded,
                }

            if html is None:
                yield row("error", 0, "fetch failed: 404")
                return
            # a 3xx chain was followed: relative links resolve against
            # the URL the body was SERVED from, and the target is
            # recorded so the frontier can mark it seen-but-not-queued
            # (its content is already held under the requested URL)
            base = final_url or url
            if base != url:
                canon = canonicalize_url(base)
                if canon is not None and canon != canonicalize_url(url):
                    yield row("redirect", -1, canon, host_of(canon), "redirect")
            root = parse_html(html)
            directives = page_robots_directives(root)
            if depth < max_depth and "nofollow" not in directives:
                for i, target in enumerate(extract_links(root, base)):
                    if target is not None and urlsplit(target).scheme in ALLOWED_SCHEMES:
                        yield row("link", i, target, *robots_fields(target, robots))
            if statements is not None and "noindex" not in directives:
                result, error = evaluate_page(interpreter(), statements, url, root)
                yield row("record", 0, result) if error is None else row("error", 0, error)

        return map_rows(
            fetched.select("url", "html", "page_seq_assigned", "depth", "final_url"),
            page,
            PROCESS_SCHEMA,
        )

    def _candidate_pass(self, processed: DataFrame) -> DataFrame:
        """The batch's frontier candidates, run through one cogroup per
        bucket that deduplicates them, probes the seen blooms and merges
        them (``probe_and_merge_df``).

        Links and redirect targets share this path.  Per URL, a
        redirect row wins over links to it (its content is already
        held), then the first discovery in lineage order: the cogroup
        keeps the least ``(is_link, page_seq, link_seq)``, which is
        unique per URL.  Links sit one level below their page; a
        redirect target keeps its page's depth."""
        is_link = F.col("kind") == "link"
        candidates = processed.filter(F.col("kind").isin("link", "redirect")).select(
            F.col("value").alias("url"),
            is_link.alias("is_link"),
            "page_seq",
            F.col("seq").alias("link_seq"),
            (F.col("depth") + is_link.cast("int")).alias("depth"),
            "host",
            "excluded",
        )
        return probe_and_merge_df(
            self._with_bucket(candidates),
            self.sketch_df,
            num_bits=self.cfg.bloom_bits_per_bucket,
            num_hashes=self.cfg.bloom_hashes,
        )

    # --- the loop --------------------------------------------------
    def run(self, max_batches: int = 100) -> dict:
        state = self._rollback_to_root()
        if state is None:
            state = self._seed_commit()
        if self.sketch_df is None:
            self._restore_sketches()

        if self._queued_df is None:
            self._load_state(state)

        for _ in range(max_batches):
            state = self._run_one_batch(state)
            if state["metrics"]["pages_fetched"] == 0:
                break
            if (
                self.cfg.compact_every
                and state["metrics"]["batch"] % self.cfg.compact_every == 0
            ):
                state = self._compact_tables()
        return self.root.current_snapshot()

    def _rollback_to_root(self) -> Optional[dict]:
        """Crash consistency: move every sub-table whose ``LATEST`` is
        not the root's pin back to that pin, and return the root
        snapshot.

        Sub-tables commit before the root, and an append commit builds
        on the sub-table's ``LATEST``.  After a crash between the two,
        the orphan commits would stay live under the re-run batch and
        duplicate its rows.  ``SnapshotTable.rollback`` restores the
        pinned snapshot; a sub-table the root does not pin (``None``, or
        no root yet) gets an empty overwrite snapshot.  This can also
        undo a compaction the root never pinned (a crash between
        compaction and its re-pin); compaction is content-identical, so
        nothing but the compaction is lost."""
        root = self.root.current_snapshot()
        pins = root["metrics"]["tables"] if root else {}
        for name, table in self.tables.items():
            cur = table.current_snapshot()
            if cur is None:
                continue
            pin = pins.get(name)
            if pin is None:
                if cur["data_dirs"]:
                    table.commit(None, mode="overwrite", metrics={"rollback": True})
            elif cur["id"] != pin:
                table.rollback(pin)
        return root

    def _repin_root(self) -> dict:
        """Publish a root snapshot that pins every sub-table's current
        snapshot (the content-identical result of a compaction), with
        the root's metrics otherwise unchanged; returns the root."""
        cur = self.root.current_snapshot()
        pins_now = {
            name: (t.current_snapshot() or {}).get("id")
            for name, t in self.tables.items()
        }
        if pins_now == cur["metrics"].get("tables"):
            return cur
        return self.root.commit(None, metrics={**cur["metrics"], "tables": pins_now})

    def _compact_tables(self) -> dict:
        """Fold each append-log into one base commit sized by row count
        (content-identical: reads the live set, rewrites coalesced),
        then re-pin the root to the fresh snapshot ids and return it.
        Until the re-pin the previous root pin stays resolvable, because
        compaction never deletes old snapshots or data dirs."""
        for name in ("frontier", "seen", "pages", "records"):
            table = self.tables[name]
            df = table.read(self.spark)
            if df is None:
                continue
            n = df.count()
            table.commit(
                df.coalesce(self._commit_parts(n)),
                mode="overwrite",
                metrics={"compaction": True, "rows": int(n)},
            )
        return self._repin_root()

    def expire_history(self, keep_last_batches: int = 1) -> dict:
        """Checkpoint GC (Iceberg expire_snapshots discipline): keep
        the last ``keep_last_batches`` ROOT snapshots — each one a
        complete resumable cut — then expire every sub-table snapshot
        not pinned by a retained root.  Data directories shared with
        retained snapshots survive; everything else is deleted.  At
        the 10^10-URL design point this bounds checkpoint storage to
        O(retained cuts), where the unexpired log grows with every
        micro-batch forever."""
        # if compaction moved a sub-table past the root's pin, publish
        # a replace-commit repinning the CURRENT (content-identical)
        # snapshots first — otherwise the retained root would keep the
        # whole pre-compaction dir set alive
        if self.root.current_snapshot() is not None:
            self._repin_root()
        out = {"root": self.root.expire_snapshots(keep_last=keep_last_batches)}
        pins: dict[str, set[int]] = {name: set() for name in self.tables}
        for snap in self.root.history():  # post-expiry: retained only
            for name, sid in (snap["metrics"].get("tables") or {}).items():
                if sid is not None and name in pins:
                    pins[name].add(int(sid))
        for name, table in self.tables.items():
            out[name] = table.expire_snapshots(keep_last=0, protect=pins[name])
        return out

    def _run_one_batch(self, root_state: dict) -> dict:
        """Run one micro-batch and return the root snapshot.  Every frame
        the batch ``cache()``s is unpersisted when it ends, also when it
        raises; the fetcher's corpus cache is not the batch's and stays."""
        cached: list[DataFrame] = []
        try:
            return self._batch(root_state, cached)
        finally:
            for df in cached:
                df.unpersist()

    def _batch(self, root_state: dict, cached: list[DataFrame]) -> dict:
        m = root_state["metrics"]
        batch = m["batch"] + 1
        next_page_seq = m["next_page_seq"]

        claimed = select_batch(
            self._queued_df,
            batch_size=self.cfg.batch_size,
            host_budgets=self._host_budgets(),
            default_per_host=self.cfg.per_host_limit,
        ).withColumn(
            "page_seq_assigned", F.col("fetch_order") + F.lit(next_page_seq)
        )

        claimed = repartition_for_fetch(
            claimed, self.cfg.fetch_partitions, self.cfg.salt_buckets
        ).cache()
        cached.append(claimed)

        # per-partition lineage metric; its sum doubles as n_fetched
        # (one job on the cached claimed batch, no separate count)
        part_counts = {
            str(r.pid): r["count"]
            for r in claimed.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .count()
            .collect()
        }
        n_fetched = int(sum(part_counts.values()))

        # fetch stage is pluggable: CorpusFetcher (corpus join — the
        # sandbox/replay path) or HttpFetcher (real GETs in mapInPandas)
        processed = self._extract_pass(self.fetcher.fetch(claimed)).cache()
        cached.append(processed)

        # --- pages log ---
        page_rows = (
            claimed.select(
                "url",
                "host",
                "depth",
                F.col("page_seq_assigned").alias("page_seq"),
                "fetch_order",
            )
            .withColumn("batch", F.lit(batch).cast("long"))
        )
        if n_fetched == 0:
            root = self.root.commit(
                None,
                metrics={**m, "batch": batch, "pages_fetched": 0, "tables": m["tables"]},
            )
            return root

        # --- records ---
        records = processed.filter(F.col("kind").isin("record", "error")).select(
            F.col("page_url").alias("url"),
            "page_seq",
            "depth",
            "kind",
            F.col("value"),
            F.lit(batch).cast("long").alias("batch"),
        )

        # pages + records commit concurrently: independent tables, and
        # the inputs don't race (pages reads only the already-cached
        # claimed batch; records is the first materialization of the
        # processed cache).  Concurrent job submission overlaps the
        # per-job scheduler latency that dominates small-batch cost —
        # the table commits themselves stay atomic and exact.
        # records/links fan out ~10× from pages — size that write to it
        with ThreadPoolExecutor(max_workers=2) as pool:
            pg_f = pool.submit(
                self.tables["pages"].commit,
                page_rows.coalesce(self._commit_parts(n_fetched)),
                metrics={"batch": batch},
            )
            rec_f = pool.submit(
                self.tables["records"].commit,
                records.coalesce(self._commit_parts(n_fetched * 10)),
                metrics={"batch": batch},
            )
            pg_snap, rec_snap = pg_f.result(), rec_f.result()

        # --- new frontier candidates ---
        # one cogroup per bucket tags each candidate against the old
        # blooms and builds the merged ones; materialized once, so the
        # union below and the sketch commit read it without re-running
        # the Python pass
        tagged = self._candidate_pass(processed).localCheckpoint()
        is_sketch = F.col("sketch").isNotNull()
        next_sketch_df = tagged.filter(is_sketch).select("bucket", "sketch")
        flagged = tagged.filter(~is_sketch)
        # provably-new rows ('n') bypass the exact anti-join
        maybe = flagged.filter(F.col("maybe_seen") == "y").join(
            self._seen_df.select("url"), on="url", how="left_anti"
        )
        new_frontier = (
            flagged.filter(F.col("maybe_seen") == "n")
            .unionByName(maybe)
            .select(
                "url", "host", "depth", "page_seq", "link_seq",
                F.lit(self.cfg.default_priority).alias("priority"),
                "excluded",
                F.lit(batch).cast("long").alias("batch"),
                "bucket",
            )
            .cache()
        )
        cached.append(new_frontier)

        # materialize the cache once (deterministic single fill) so the
        # consumers below can run concurrently without racing to
        # compute it; the same job counts the queue-eligible rows that
        # size the next hot state
        counts = new_frontier.agg(
            F.count(F.lit(1)).alias("new"),
            F.count_if(F.col("excluded").isNull()).alias("queued"),
        ).first()
        n_new = int(counts["new"])
        queued_rows = self._queued_rows - n_fetched + int(counts["queued"])
        seen_rows = self._seen_rows + n_new

        # per-batch commits coalesce so the append-log read path doesn't
        # accumulate thousands of tiny parquet files; the part count
        # scales with batch size (at scale, file count tracks data
        # volume and compact() folds the log)
        frontier_parts = max(2, self._commit_parts(n_fetched * 10))

        # everything below reads only cached/checkpointed inputs — run
        # the three table commits and the two hot-state checkpoints
        # concurrently (scheduler-latency overlap; see the pages/records
        # note above)
        newly_queued = new_frontier.filter(F.col("excluded").isNull()).select(
            *self._QUEUED_COLS
        )
        remaining = self._queued_df.join(
            F.broadcast(claimed.select("url")), on="url", how="left_anti"
        )
        with ThreadPoolExecutor(max_workers=5) as pool:
            fr_f = pool.submit(
                self.tables["frontier"].commit,
                new_frontier.select(
                    "url", "host", "depth", "page_seq", "link_seq", "priority",
                    "excluded", "batch",
                ).coalesce(frontier_parts),
                metrics={"batch": batch},
            )
            seen_f = pool.submit(
                self.tables["seen"].commit,
                new_frontier.select("url", "bucket").coalesce(frontier_parts),
                metrics={"batch": batch},
            )
            sk_f = pool.submit(self._commit_sketches, batch, next_sketch_df)
            queued_f = pool.submit(
                self._hot, remaining.unionByName(newly_queued), queued_rows
            )
            seen_df_f = pool.submit(
                self._hot,
                self._seen_df.unionByName(new_frontier.select("url", "bucket")),
                seen_rows,
            )
            fr_snap = fr_f.result()
            seen_snap = seen_f.result()
            sk_snap = sk_f.result()
            next_queued_df = queued_f.result()
            next_seen_df = seen_df_f.result()

        root = self.root.commit(
            None,
            metrics={
                "batch": batch,
                "next_page_seq": int(next_page_seq + n_fetched),
                "pages_fetched": int(n_fetched),
                "new_urls": int(n_new),
                "queued_urls": int(queued_rows),
                "seen_urls": int(seen_rows),
                "tables": {
                    "frontier": fr_snap["id"],
                    "seen": seen_snap["id"],
                    "pages": pg_snap["id"],
                    "records": rec_snap["id"],
                    "sketches": sk_snap["id"],
                },
            },
            lineage={"fetch_partition_rows": part_counts},
        )

        # advance the hot state only now that the root pins the batch:
        # queued minus the claimed batch plus the newly-discovered
        # queue-eligible urls, the grown seen set, the merged blooms
        # (all computed concurrently above).  A crash before this point
        # leaves this crawler at the root's cut, matching the rollback
        # at the start of run()
        self.sketch_df = next_sketch_df
        self._queued_df, self._queued_rows = next_queued_df, queued_rows
        self._seen_df, self._seen_rows = next_seen_df, seen_rows
        return root

    # --- outputs ---------------------------------------------------
    def visit_log(self) -> list[tuple[str, int, int]]:
        """[(url, page_seq, depth)] in fetch order — the determinism
        artifact compared against the sequential simulator."""
        df = self._pinned("pages")
        if df is None:
            return []
        return [
            (r.url, r.page_seq, r.depth)
            for r in df.orderBy("page_seq").collect()
        ]

    def seen_set(self) -> set[str]:
        df = self._pinned("seen")
        if df is None:
            return set()
        return {r.url for r in df.select("url").collect()}

    def records_json(self) -> dict[str, str]:
        df = self._pinned("records")
        if df is None:
            return {}
        return {
            r.url: r.value
            for r in df.filter(F.col("kind") == "record").collect()
        }
