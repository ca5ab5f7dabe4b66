"""``crawl`` workload: a discovery crawl through ``Crawler.run`` with
``CorpusFetcher`` over a seeded synthetic web of image+caption pages.

The timed region is whole micro-batches, from claim to root commit.
The traced run alternates untraced batches with traced ones, which
have ``SnapshotTable.commit`` wrapped and the batch's other phases
replayed around them from the committed snapshots."""

from __future__ import annotations

import math
import os
import time
from urllib.parse import urlsplit

from . import gen
from .common import dir_stats, force, fresh_dir, median
from .kernels import extract_ladder

SIZES = {
    "full": {"n_pages": 8000, "seed_every": 6, "batch_size": 1000, "per_host": 120, "max_batches": 10, "ladder_pages": 500},
    "tiny": {"n_pages": 600, "seed_every": 25, "batch_size": 60, "per_host": 12, "max_batches": 3, "ladder_pages": 100},
}
#: URL-seen sketch shape: 8 buckets of 7 Ki bits, 5 hashes.  The seen set
#: passes its 1%-FPP capacity (``bloom_capacity``) during the timed batches.
BUCKETS, BLOOM_BITS, BLOOM_HASHES = 8, 7 << 10, 5
TABLES = ("frontier", "seen", "pages", "records", "sketches", "crawl")
#: Traced batches per traced run; on ``crawl`` each follows an untraced one.
TRACED_PAIRS = 1


def bloom_capacity(fpp: float = 0.01) -> int:
    """URLs the sketch set holds before its false-positive rate passes
    ``fpp``: n = -(m/k)·ln(1 - fpp^(1/k)) per bucket."""
    per_bucket = -BLOOM_BITS / BLOOM_HASHES * math.log(1 - fpp ** (1 / BLOOM_HASHES))
    return int(BUCKETS * per_bucket)


def config(size: str, cores: int):
    from scrapelect_spark.streaming.crawl import CrawlConfig

    s = SIZES[size]
    return CrawlConfig(
        batch_size=s["batch_size"],
        per_host_limit=s["per_host"],
        max_depth=12,
        buckets=BUCKETS,
        bloom_bits_per_bucket=BLOOM_BITS,
        bloom_hashes=BLOOM_HASHES,
        fetch_partitions=cores,
    )


def make_web(seed: int, size: str) -> gen.Web:
    s = SIZES[size]
    return gen.web(seed, s["n_pages"], s["seed_every"])


def _crawler(b, workdir: str, web: gen.Web, corpus_df, cfg):
    from scrapelect_spark.streaming.crawl import Crawler

    return Crawler(b.spark, fresh_dir(workdir), corpus_df, web.seeds, program=gen.PROGRAM, config=cfg)


def run(b, size: str) -> None:
    spark = b.spark
    cfg = config(size, b.cores)

    def inputs():
        web = make_web(b.seed, size)
        return web, spark.createDataFrame(list(web.corpus.items()), "url string, html string")

    web, corpus_df = b.setup_repeated(inputs)
    workdir = os.path.join(b.work, "crawl")
    crawler = _crawler(b, workdir, web, corpus_df, cfg)
    with b.setup_once("seed_commit"):
        crawler.run(max_batches=0)
    # warm-up: the first batch runs every batch code path cold (JVM
    # codegen, Python workers), so it is set-up, not a timed sample
    with b.setup_once("warmup"):
        crawler.run(max_batches=1)
    p0 = crawler.root.current_snapshot()["metrics"]["next_page_seq"]

    def one_batch() -> float:
        t = time.perf_counter()
        state = crawler.run(max_batches=1)
        dt = time.perf_counter() - t
        if state["metrics"]["pages_fetched"] == 0:
            raise RuntimeError("the frontier ran dry inside the timed region")
        return dt

    if b.trace.enabled:
        # untraced and traced batches alternate, so the tracing overhead
        # compares batches at like positions of one crawl
        probe = _BatchProbe(b, crawler, workdir, cfg, web, corpus_df)
        walls, walls_t = [], []
        for _ in range(TRACED_PAIRS):
            walls.append(one_batch())
            walls_t.append(probe.batch())
    else:
        walls = b.timed_loop(one_batch, min_iters=2, max_iters=SIZES[size]["max_batches"])
        walls_t = []
    pages = crawler.root.current_snapshot()["metrics"]["next_page_seq"] - p0

    # --- correctness, outside the timed region ---
    ref = _reference(web, cfg, 1 + len(walls) + len(walls_t))
    log, seen, recs = crawler.visit_log(), crawler.seen_set(), crawler.records_json()
    bad = (
        sum(1 for x, y in zip(log, ref.visit_log) if x != y)
        + abs(len(log) - len(ref.visit_log))
        + len(seen ^ ref.seen)
        + len(set(recs.items()) ^ set(ref.records.items()))
    )
    b.check(bad == 0, failed=bad)
    b.attempted = pages
    b.info.update(batch_walls=walls, seen_size=len(seen), bloom_capacity=bloom_capacity())

    if b.trace.enabled:
        probe.record()
        b.layer(**{"trace.overhead_share": sum(walls_t) / sum(walls) - 1})
        b.layer(**extract_ladder(b, _fetched(web, log, SIZES[size]["ladder_pages"])))
        from .wl_curate import side_probe

        side_probe(b)
        return
    from pyspark.sql import functions as F

    n_err = (
        crawler.tables["records"].read(spark)
        .filter((F.col("kind") == "error") & (F.col("page_seq") >= p0))
        .count()
    )
    b.e2e(items_per_s=pages / sum(walls), step_p50_s=median(walls), ok_share=1 - n_err / pages)


def _reference(web: gen.Web, cfg, batches: int):
    from scrapelect_spark.streaming.reference_sim import SequentialCrawler

    ref = SequentialCrawler(web.corpus, web.seeds, program=gen.PROGRAM, config=cfg)
    ref.run(max_batches=batches)
    return ref


def _fetched(web: gen.Web, log: list, n: int) -> list[tuple[str, str]]:
    """The first ``n`` live (url, html) pages of a visit log."""
    return [(u, web.corpus[u]) for u, _, _ in log if u in web.corpus][:n]


def side_probe(b, ladder: bool = True) -> None:
    """Every crawl-layer metric for the traced run of another workload:
    ``TRACED_PAIRS`` traced batches of a ``tiny`` crawl on this run's
    seed, checked against the reference crawler, and (``ladder``) the
    extract ladder on its pages."""
    cfg = config("tiny", b.cores)
    web = make_web(b.seed, "tiny")
    corpus_df = b.spark.createDataFrame(list(web.corpus.items()), "url string, html string")
    workdir = os.path.join(b.work, "crawl-probe")
    with b.trace.span("probe.crawl"):
        c = _crawler(b, workdir, web, corpus_df, cfg)
        c.run(max_batches=1)  # seed commit and the untraced first batch
        probe = _BatchProbe(b, c, workdir, cfg, web, corpus_df)
        for _ in range(TRACED_PAIRS):
            probe.batch()
        ref = _reference(web, cfg, 1 + TRACED_PAIRS).visit_log
        ok = c.visit_log() == ref
        b.check(ok, failed=0 if ok else 1)
        probe.record()
        if ladder:
            b.layer(**extract_ladder(b, _fetched(web, ref, SIZES["tiny"]["ladder_pages"])))


# --- traced run --------------------------------------------------------
def _pinned(c, name: str, snap: dict):
    sid = snap["metrics"]["tables"].get(name)
    return None if sid is None else c.tables[name].read(c.spark, snapshot_id=sid)


def _blooms(c, snap: dict) -> dict:
    from scrapelect_spark.streaming.urlseen import BloomFilter

    df = _pinned(c, "sketches", snap)
    return {int(r.bucket): BloomFilter.from_bytes(bytes(r.sketch)) for r in df.collect()}


def _flag_share(spark, blooms: dict, urls: list[str]) -> float:
    """Share of ``urls`` the per-bucket blooms flag as maybe-seen.  The
    bucket is the crawl's own ``pmod(hash(url), buckets)``, computed by
    Spark."""
    import numpy as np
    from pyspark.sql import functions as F

    if not urls:
        return 0.0
    rows = (
        spark.createDataFrame([(u,) for u in urls], "url string")
        .select("url", F.pmod(F.hash("url"), F.lit(BUCKETS)).alias("bucket"))
        .collect()
    )
    by_bucket: dict[int, list[str]] = {}
    for r in rows:
        by_bucket.setdefault(int(r.bucket), []).append(r.url)
    flagged = 0
    for k, us in by_bucket.items():
        if k in blooms:
            flagged += int(blooms[k].might_contain_many(np.array(us, dtype=object)).sum())
    return flagged / len(urls)


def _candidates(web: gen.Web, batch_pages: list, max_depth: int) -> tuple[list[str], int]:
    """The batch's deduplicated link candidates and its raw link count,
    derived from the fetched pages with the crawl's own public
    parse/link functions."""
    from scrapelect_spark.functions.dom import parse_html
    from scrapelect_spark.streaming.crawl import (
        ALLOWED_SCHEMES,
        extract_links,
        page_robots_directives,
    )

    cands: dict[str, None] = {}
    n_links = 0
    for url, depth in batch_pages:
        html = web.corpus.get(url)
        if html is None or depth >= max_depth:
            continue
        root = parse_html(html)
        if "nofollow" in page_robots_directives(root):
            continue
        for t in extract_links(root, url):
            if t is not None and urlsplit(t).scheme in ALLOWED_SCHEMES:
                n_links += 1
                cands[t] = None
    return list(cands), n_links


def _replay_claim(b, c, cfg, snap: dict, corpus_df) -> dict:
    """Force ``select_batch`` + ``repartition_for_fetch`` on the queued
    state the next batch will claim from, then the corpus join on the
    claimed rows, each timed alone on materialized input."""
    from pyspark.sql import functions as F
    from scrapelect_spark.sources.fetch import CorpusFetcher
    from scrapelect_spark.streaming.politeness import repartition_for_fetch, select_batch

    frontier, pages = _pinned(c, "frontier", snap), _pinned(c, "pages", snap)
    queued = frontier.filter(F.col("excluded").isNull()).select(
        "url", "host", "depth", "page_seq", "link_seq", "priority"
    )
    if pages is not None:
        queued = queued.join(pages.select("url"), on="url", how="left_anti")
    queued = queued.localCheckpoint()
    with b.trace.span("streaming.politeness.select_batch") as s1:
        claimed = repartition_for_fetch(
            select_batch(
                queued,
                batch_size=cfg.batch_size,
                default_per_host=cfg.per_host_limit,
                salt_buckets=cfg.salt_buckets,
            ).withColumn("page_seq_assigned", F.col("fetch_order")),
            cfg.fetch_partitions,
            cfg.salt_buckets,
        )
        force(claimed)
    claimed = claimed.cache()
    force(claimed)
    with b.trace.span("sources.fetch.corpus_join") as s2:
        force(CorpusFetcher(corpus_df).fetch(claimed))
    claimed.unpersist()
    return {"select_batch_s": s1["end"] - s1["start"], "corpus_join_s": s2["end"] - s2["start"]}


def _replay_sketch_merge(b, c, prev: dict, batch: int) -> float:
    from pyspark.sql import functions as F
    from scrapelect_spark.streaming.urlseen import merged_sketch_df

    old = _pinned(c, "sketches", prev).select("bucket", "sketch").localCheckpoint()
    new = (
        _pinned(c, "frontier", c.root.current_snapshot())
        .filter(F.col("batch") == batch)
        .select("url", F.pmod(F.hash("url"), F.lit(BUCKETS)).alias("bucket"))
        .localCheckpoint()
    )
    with b.trace.span("streaming.urlseen.sketch_merge") as s:
        merged_sketch_df(old, new, num_bits=BLOOM_BITS, num_hashes=BLOOM_HASHES).localCheckpoint()
    return s["end"] - s["start"]


class _BatchProbe:
    """Traces single batches of one crawl: ``SnapshotTable.commit`` is
    wrapped for the batch, and the batch's other phases are replayed
    around it from the committed snapshots.  ``record`` turns the
    per-batch values into the crawl's layer metrics."""

    def __init__(self, b, crawler, workdir: str, cfg, web: gen.Web, corpus_df):
        self.b, self.c, self.workdir, self.cfg = b, crawler, workdir, cfg
        self.web, self.corpus_df = web, corpus_df
        self.per: dict[str, list[float]] = {}

    def add(self, k: str, v: float) -> None:
        self.per.setdefault(k, []).append(v)

    def batch(self) -> float:
        """Run and trace one batch; returns its wall seconds."""
        from scrapelect_spark.sources.checkpoint import SnapshotTable

        b, c, cfg = self.b, self.c, self.cfg
        prev = c.root.current_snapshot()
        batch = prev["metrics"]["batch"] + 1
        for k, v in _replay_claim(b, c, cfg, prev, self.corpus_df).items():
            self.add(k, v)
        files0, bytes0 = dir_stats(self.workdir)
        j0 = b.jobs.last_job()
        orig_commit = SnapshotTable.commit

        def traced_commit(table, df, **kw):
            with b.trace.span("sources.checkpoint.commit", key=os.path.basename(table.path)):
                return orig_commit(table, df, **kw)

        SnapshotTable.commit = traced_commit
        try:
            with b.trace.span("streaming.crawl.batch", key=batch) as s:
                b.trace.fallback_parent = s["id"]
                t = time.perf_counter()
                snap = c.run(max_batches=1)
                wall = time.perf_counter() - t
        finally:
            SnapshotTable.commit = orig_commit
            b.trace.fallback_parent = None
        counts = b.jobs.since(j0)
        s.update(counts)
        files1, bytes1 = dir_stats(self.workdir)
        m = snap["metrics"]
        for k, v in counts.items():
            self.add(f"{k}_per_batch", v)
        self.add("files_per_batch", files1 - files0)
        self.add("bytes_per_page", (bytes1 - bytes0) / m["pages_fetched"])
        rows = list(snap["lineage"]["fetch_partition_rows"].values())
        self.add("fetch_partition_skew", max(rows) / (sum(rows) / cfg.fetch_partitions))
        for x in b.trace.spans:
            if x["name"] == "sources.checkpoint.commit" and x["parent"] == s["id"]:
                self.add(f"{x['key']}.commit_s", x["end"] - x["start"])
        self.add("sketch_merge_s", _replay_sketch_merge(b, c, prev, batch))
        batch_pages = [(u, d) for u, seq, d in c.visit_log() if seq >= prev["metrics"]["next_page_seq"]]
        cands, n_links = _candidates(self.web, batch_pages, cfg.max_depth)
        with b.trace.span("streaming.urlseen.probe", key=batch) as sp:
            sp["maybe_seen_share"] = _flag_share(b.spark, _blooms(c, prev), cands)
            sp["bloom_fpr"] = _flag_share(b.spark, _blooms(c, snap), self.web.never_seen)
            sp["seen_size"] = len(c.seen_set())
        self.add("maybe_seen_share", sp["maybe_seen_share"])
        self.add("bloom_fpr", sp["bloom_fpr"])
        self.add("new_url_share", m["new_urls"] / max(n_links, 1))
        return wall

    def record(self) -> None:
        per = self.per
        self.b.layer(**{
            "streaming.politeness.select_batch_s": median(per["select_batch_s"]),
            "sources.fetch.corpus_join_s": median(per["corpus_join_s"]),
            "streaming.urlseen.sketch_merge_s": median(per["sketch_merge_s"]),
            "streaming.urlseen.maybe_seen_share": median(per["maybe_seen_share"]),
            "streaming.crawl.jobs_per_batch": median(per["jobs_per_batch"]),
            "streaming.crawl.stages_per_batch": median(per["stages_per_batch"]),
            "streaming.crawl.tasks_per_batch": median(per["tasks_per_batch"]),
            "sources.checkpoint.files_per_batch": median(per["files_per_batch"]),
            "streaming.urlseen.bloom_fpr": per["bloom_fpr"][-1],
            "streaming.politeness.fetch_partition_skew": median(per["fetch_partition_skew"]),
            "sources.checkpoint.bytes_per_page": median(per["bytes_per_page"]),
            "streaming.crawl.new_url_share": median(per["new_url_share"]),
            **{f"sources.checkpoint.{t}.commit_s": median(per[f"{t}.commit_s"]) for t in TABLES},
        })
