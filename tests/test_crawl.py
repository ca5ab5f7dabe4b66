"""Crawl-layer tests: sketches, canonicalization, robots, politeness,
and the headline determinism contract — the Spark micro-batch crawl
reproduces the sequential reference crawl byte-for-byte (visit order,
URL-seen set, extraction output) and resumes exactly from checkpoint."""

import numpy as np
import pytest

from scrapelect_spark.streaming.canonicalize import (
    canonicalize_url,
    resolve_and_canonicalize,
)
from scrapelect_spark.streaming.robots import RobotsPolicy, parse_robots
from scrapelect_spark.streaming.urlseen import BloomFilter

# ------------------------------------------------------------------ util


def synth_corpus(n_hosts=3, pages_per_host=25, links_per_page=4):
    """Deterministic multi-host web with cross-host links."""
    corpus = {}
    for h in range(n_hosts):
        host = f"site{h}.test"
        for p in range(pages_per_host):
            links = []
            for k in range(links_per_page):
                target_p = (p * 7 + k * 3 + 1) % pages_per_host
                target_h = (h + k) % n_hosts
                links.append(
                    f'<a href="http://site{target_h}.test/page/{target_p}">l{k}</a>'
                )
            # one relative link and one junk link per page
            links.append(f'<a href="./page/{(p + 1) % pages_per_host}">rel</a>')
            links.append('<a href="mailto:x@example.com">mail</a>')
            html = (
                f"<html><body><h1>Page {host}/{p}</h1>"
                + "".join(links)
                + f'<p class="body">content {h}-{p}</p></body></html>'
            )
            corpus[f"http://{host}/page/{p}"] = html
    return corpus


SCRP = 'title: h1 { t: $element | text(); } | take(key: "t");'

ROBOTS = [
    (
        "site1.test",
        "User-agent: *\nDisallow: /page/3\nDisallow: /page/13\nCrawl-delay: 30\n",
    ),
    ("site2.test", "User-agent: *\nDisallow: /page/7\n"),
]


# ------------------------------------------------------------------ units


def test_canonicalize_rules():
    assert canonicalize_url("HTTP://Example.COM:80/a/../b#frag") == "http://example.com/b"
    assert canonicalize_url("https://example.com:443/") == "https://example.com/"
    assert canonicalize_url("https://example.com:8443/x") == "https://example.com:8443/x"
    assert canonicalize_url("http://example.com") == "http://example.com/"
    assert canonicalize_url("not a url") is None
    assert canonicalize_url("/relative/only") is None
    # idempotence
    u = canonicalize_url("HTTP://A.B/c/./d/../e?q=1#f")
    assert canonicalize_url(u) == u
    # IPv6 literals keep their brackets, so the result parses again
    assert canonicalize_url("http://[::1]:8080/a") == "http://[::1]:8080/a"
    assert canonicalize_url("HTTP://[2001:DB8::1]:80/x") == "http://[2001:db8::1]/x"
    for raw in ("http://[::1]:8080/a", "https://[fe80::2]/p/../q"):
        u = canonicalize_url(raw)
        assert u is not None and canonicalize_url(u) == u


def test_resolve_relative():
    assert (
        resolve_and_canonicalize("./x.html", "http://h.test/a/b.html")
        == "http://h.test/a/x.html"
    )
    assert (
        resolve_and_canonicalize("//other.test/y", "https://h.test/a")
        == "https://other.test/y"
    )


def test_robots_longest_match_and_delay():
    rules = parse_robots(
        "User-agent: *\nDisallow: /private\nAllow: /private/ok\nCrawl-delay: 10\n"
    )
    assert not rules.allowed("/private/x")
    assert rules.allowed("/private/ok/y")
    assert rules.allowed("/public")
    assert rules.crawl_delay == 10.0
    policy = RobotsPolicy({"h.test": rules}, batch_seconds=60.0)
    assert policy.host_budget("h.test", 100) == 6
    assert policy.host_budget("other.test", 100) == 100


def test_bloom_no_false_negatives():
    f = BloomFilter.for_capacity(5000, fpp=0.01)
    items = np.array([f"http://x.test/{i}" for i in range(5000)], dtype=object)
    f.add_many(items)
    assert f.might_contain_many(items).all()
    other = np.array([f"http://y.test/{i}" for i in range(5000)], dtype=object)
    fp_rate = f.might_contain_many(other).mean()
    assert fp_rate < 0.03
    # serialization round-trip
    g = BloomFilter.from_bytes(f.to_bytes())
    assert g.might_contain_many(items).all()


def test_bloom_merge():
    a = BloomFilter(1 << 16, 5)
    b = BloomFilter(1 << 16, 5)
    ia = np.array(["a1", "a2"], dtype=object)
    ib = np.array(["b1", "b2"], dtype=object)
    a.add_many(ia)
    b.add_many(ib)
    a.merge(b)
    assert a.might_contain_many(np.concatenate([ia, ib])).all()


# ------------------------------------------------------------------ parity


@pytest.fixture(scope="module")
def crawl_setup(tmp_path_factory):
    corpus = synth_corpus()
    seeds = [
        ("http://site0.test/page/0", 10),
        ("http://site1.test/page/0", 20),
    ]
    robots = RobotsPolicy.from_pairs(ROBOTS, batch_seconds=60.0)
    from scrapelect_spark.streaming.crawl import CrawlConfig

    cfg = CrawlConfig(
        batch_size=12,
        per_host_limit=3,
        max_depth=4,
        buckets=8,
        bloom_bits_per_bucket=1 << 16,
        fetch_partitions=8,
    )
    return corpus, seeds, robots, cfg


def run_sequential(corpus, seeds, robots, cfg, max_batches=50):
    from scrapelect_spark.streaming.reference_sim import SequentialCrawler

    sim = SequentialCrawler(corpus, seeds, SCRP, robots, cfg)
    sim.run(max_batches)
    return sim


def test_spark_crawl_matches_sequential_reference(spark, crawl_setup, tmp_path):
    from scrapelect_spark.streaming.crawl import Crawler

    corpus, seeds, robots, cfg = crawl_setup
    sim = run_sequential(corpus, seeds, robots, cfg)
    assert len(sim.visit_log) > 30  # crawl actually went somewhere

    corpus_df = spark.createDataFrame(list(corpus.items()), ["url", "html"])
    crawler = Crawler(
        spark,
        str(tmp_path / "crawl"),
        corpus_df,
        seeds,
        program=SCRP,
        robots=robots,
        config=cfg,
    )
    crawler.run(max_batches=50)

    assert crawler.visit_log() == sim.visit_log  # byte-for-byte fetch order
    assert crawler.seen_set() == sim.seen  # exact URL-seen set
    assert crawler.records_json() == sim.records  # same extraction output

    # robots exclusions actually happened
    visited = {u for u, _, _ in sim.visit_log}
    assert "http://site1.test/page/3" not in visited
    assert "http://site2.test/page/7" not in visited
    # ...but excluded URLs are still in the seen set (no re-evaluation)
    assert "http://site1.test/page/3" in sim.seen

    # crawl-delay tightened site1's budget: 60s/30s = 2 fetches per batch
    from collections import Counter

    per_batch_hosts = Counter()
    # reconstruct batch membership from page_seq and batch size
    pages = crawler._pinned("pages").collect()
    for r in pages:
        per_batch_hosts[(r.batch, r.host)] += 1
    for (b, host), cnt in per_batch_hosts.items():
        if host == "site1.test":
            assert cnt <= 2, f"batch {b} over crawl-delay budget: {cnt}"
        else:
            assert cnt <= cfg.per_host_limit


def test_crawl_resume_from_checkpoint(spark, crawl_setup, tmp_path):
    from scrapelect_spark.streaming.crawl import Crawler

    corpus, seeds, robots, cfg = crawl_setup
    sim = run_sequential(corpus, seeds, robots, cfg)
    corpus_df = spark.createDataFrame(list(corpus.items()), ["url", "html"])

    workdir = str(tmp_path / "resume")
    c1 = Crawler(spark, workdir, corpus_df, seeds, SCRP, robots, cfg)
    c1.run(max_batches=2)
    partial = c1.visit_log()
    assert 0 < len(partial) < len(sim.visit_log)

    # brand-new crawler instance over the same checkpoint dir
    c2 = Crawler(spark, workdir, corpus_df, seeds, SCRP, robots, cfg)
    c2.run(max_batches=50)
    assert c2.visit_log() == sim.visit_log
    assert c2.seen_set() == sim.seen

    # snapshot history is a consistent chain with lineage metrics
    hist = c2.root.history()
    assert [s["id"] for s in hist] == list(range(1, len(hist) + 1))
    assert any("fetch_partition_rows" in s.get("lineage", {}) for s in hist)


def test_snapshot_table_atomic_commits(spark, tmp_path):
    from scrapelect_spark.sources.checkpoint import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    df1 = spark.range(5).withColumnRenamed("id", "x")
    s1 = t.commit(df1)
    df2 = spark.range(5, 8).withColumnRenamed("id", "x")
    s2 = t.commit(df2)
    assert s2["parent"] == s1["id"]
    assert t.read(spark).count() == 8
    # time travel
    assert t.read(spark, snapshot_id=s1["id"]).count() == 5
    # compaction preserves content
    t.compact(spark)
    assert t.read(spark).count() == 8


def test_snapshot_read_takes_the_manifest_schema(spark, tmp_path):
    """A committed table reads with the schema its manifest carries, so
    the read starts no Spark job; a commit without data carries the
    schema forward, and an older manifest without the key still reads
    the same rows and schema by inference."""
    import json
    import os

    from pyspark.sql import functions as F

    from scrapelect_spark.sources.checkpoint import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    df = spark.range(6).select(
        F.col("id").alias("x"),
        F.col("id").cast("int").alias("n"),
        F.array(F.col("id").cast("float")).alias("v"),
        F.lit(None).cast("string").alias("s"),
    )
    t.commit(df)
    t.commit(df.filter("x < 2"))
    snap = t.commit(None, metrics={"empty": True})
    assert snap["schema"] == df.schema.jsonValue()

    tracker = spark.sparkContext.statusTracker()
    before = max(tracker.getJobIdsForGroup(None), default=-1)
    got = t.read(spark)
    assert [j for j in tracker.getJobIdsForGroup(None) if j > before] == []

    path = os.path.join(t.path, "snapshots", f"snapshot-{snap['id']:06d}.json")
    with open(path) as f:
        manifest = json.load(f)
    del manifest["schema"]
    with open(path, "w") as f:
        json.dump(manifest, f)
    legacy = t.read(spark)
    assert got.schema == legacy.schema
    assert sorted(got.collect()) == sorted(legacy.collect())
    assert got.count() == 8


def test_periodic_compaction_preserves_crawl_exactly(spark, tmp_path):
    """compact_every folds the snapshot logs mid-crawl without changing
    a single byte of crawl output, and resume from a post-compaction
    checkpoint is exact."""
    from scrapelect_spark.streaming.crawl import Crawler, CrawlConfig

    n_hosts, per_host = 3, 30
    corpus = {}
    for h in range(n_hosts):
        for p in range(per_host):
            links = "".join(
                f'<a href="http://h{(h + k) % n_hosts}.test/p/{(p * 3 + k) % per_host}">x</a>'
                for k in range(4)
            )
            corpus[f"http://h{h}.test/p/{p}"] = (
                f"<html><body><h1>{h}/{p}</h1>{links}</body></html>"
            )
    corpus_df = spark.createDataFrame(list(corpus.items()), ["url", "html"])
    seeds = [(f"http://h{h}.test/p/0", 1) for h in range(n_hosts)]
    prog = 'title: h1 { t: $element | text(); } | take(key: "t");'

    def cfg(compact_every):
        return CrawlConfig(
            batch_size=20, per_host_limit=8, max_depth=6, buckets=8,
            bloom_bits_per_bucket=1 << 14, fetch_partitions=4,
            compact_every=compact_every,
        )

    a = Crawler(spark, str(tmp_path / "a"), corpus_df, seeds, program=prog,
                config=cfg(0))
    a.run(max_batches=8)

    b = Crawler(spark, str(tmp_path / "b"), corpus_df, seeds, program=prog,
                config=cfg(2))
    b.run(max_batches=8)

    assert a.visit_log() == b.visit_log()
    assert a.seen_set() == b.seen_set()
    assert a.records_json() == b.records_json()

    # compaction actually folded the frontier log: live dir count is
    # bounded, not one-per-batch
    fr = b.tables["frontier"].current_snapshot()
    assert len(fr["data_dirs"]) < 5
    # compaction snapshots visible in history
    assert any(
        s["metrics"].get("compaction") for s in b.tables["frontier"].history()
    )

    # exact resume from a workdir whose last activity was a compaction
    c1 = Crawler(spark, str(tmp_path / "c"), corpus_df, seeds, program=prog,
                 config=cfg(2))
    c1.run(max_batches=4)  # ends on batch 4 → compaction just ran
    c2 = Crawler(spark, str(tmp_path / "c"), corpus_df, seeds, program=prog,
                 config=cfg(2))
    c2.run(max_batches=4)
    assert c2.visit_log() == a.visit_log()
    assert c2.seen_set() == a.seen_set()


def test_sketch_df_cogrouped_one_bucket_per_task(spark):
    """The scale invariant for the DataFrame-resident URL-seen sketch:
    tasks see exactly one bucket's bloom bytes (the cogroup key), never
    the whole set.  The fused pass tags each candidate against the old
    bloom exactly as a per-bucket probe would, and its merged bloom
    (old ⊕ every candidate) has the bytes of old ⊕ the new URLs only."""
    from scrapelect_spark.streaming.urlseen import (
        empty_sketch_df,
        merged_sketch_df,
        probe_and_merge_df,
    )

    kw = dict(num_bits=1 << 14, num_hashes=5)
    seen_rows = [(f"http://h{i % 7}.test/p/{i}", i % 4) for i in range(200)]
    seen = spark.createDataFrame(seen_rows, "url string, bucket int")
    sk = merged_sketch_df(empty_sketch_df(spark), seen, **kw)
    rows = sk.collect()
    # one sketch row per bucket — the per-task payload is one bloom
    assert sorted(r.bucket for r in rows) == [0, 1, 2, 3]
    assert sum(r.n_added for r in rows) == 200
    old = sk.select("bucket", "sketch")
    blooms = {r.bucket: BloomFilter.from_bytes(bytes(r.sketch)) for r in rows}

    # 150 seen urls, 50 fresh ones, and 10 fresh ones in bucket 5, which
    # has no sketch yet; depth/page_seq ride along untouched
    new_rows = [(f"http://new{i}.test/x", i % 4) for i in range(50)] + [
        (f"http://b5.test/{i}", 5) for i in range(10)
    ]
    cand_rows = [(u, b, 1, 7) for u, b in seen_rows[:150] + new_rows]
    cands = spark.createDataFrame(
        cand_rows, "url string, bucket int, depth int, page_seq long"
    )
    out = probe_and_merge_df(cands, old, **kw).collect()
    tagged = [r for r in out if r.sketch is None]
    merged = {r.bucket: bytes(r.sketch) for r in out if r.sketch is not None}

    assert sorted((r.url, r.bucket, r.depth, r.page_seq) for r in tagged) == sorted(
        cand_rows
    )
    flags = {r.url: r.maybe_seen for r in tagged}
    for b in range(6):
        urls = np.array([u for u, bb, _, _ in cand_rows if bb == b], dtype=object)
        expect = (
            blooms[b].might_contain_many(urls)
            if b in blooms
            else np.zeros(len(urls), dtype=bool)
        )
        assert [flags[u] for u in urls] == ["y" if e else "n" for e in expect]
    # bloom contract: every truly-seen url flags 'y' (no false negatives)
    assert all(flags[u] == "y" for u, _ in seen_rows[:150])
    # fresh urls are mostly 'n' (false positives allowed, not required)
    assert sum(flags[u] == "n" for u, _ in new_rows) >= 50

    # old ⊕ every candidate == old ⊕ the new urls only
    new_only = spark.createDataFrame(new_rows, "url string, bucket int")
    expect_merged = {
        r.bucket: bytes(r.sketch)
        for r in merged_sketch_df(old, new_only, **kw).collect()
    }
    assert sorted(merged) == [0, 1, 2, 3, 5]
    assert merged == expect_merged

    # the invariant is ENFORCED, not assumed: duplicate sketch rows for
    # one bucket must fail loudly inside the task
    bad = old.unionByName(old.limit(1))
    with pytest.raises(Exception, match="sketch rows|PythonException"):
        probe_and_merge_df(cands, bad, **kw).collect()


def test_candidate_pass_is_one_python_pass(spark, tmp_path):
    """A batch's candidate phase runs exactly one Python pass, the
    per-bucket cogroup; host and robots exclusions come from the extract
    UDF.  Links and redirects share it: a redirect row beats a link to
    the same URL, links sit one level below their page, and a redirect
    target keeps its page's depth."""
    import re

    from scrapelect_spark.streaming.crawl import (
        PROCESS_SCHEMA,
        Crawler,
        CrawlConfig,
    )

    corpus_df = spark.createDataFrame([], "url string, html string")
    c = Crawler(
        spark, str(tmp_path / "c"), corpus_df, [("http://a.test/", 1)],
        config=CrawlConfig(buckets=4, bloom_bits_per_bucket=1 << 12),
    )
    c.run(max_batches=0)  # seed commit: sketches, hot state
    rows = [
        # (page_url, page_seq, depth, kind, seq, value, host, excluded)
        ("http://a.test/", 0, 2, "link", 0, "http://b.test/x", "b.test", None),
        ("http://a.test/", 0, 2, "link", 1, "http://c.test/", "c.test", "robots"),
        ("http://a.test/", 0, 2, "link", 2, "http://a.test/", "a.test", None),
        ("http://a.test/", 0, 2, "record", 0, "{}", None, None),
        ("http://d.test/", 3, 5, "redirect", -1, "http://b.test/x", "b.test", "redirect"),
        ("http://e.test/", 1, 2, "link", 4, "http://c.test/", "c.test", "robots"),
    ]
    processed = spark.createDataFrame(rows, PROCESS_SCHEMA)
    tagged = c._candidate_pass(processed)

    plan = tagged._jdf.queryExecution().executedPlan().toString()
    python_nodes = re.findall(r"\w*(?:InPandas|EvalPython|InArrow)\w*", plan)
    assert python_nodes == ["FlatMapCoGroupsInPandas"], plan

    got = {
        r.url: (r.depth, r.page_seq, r.link_seq, r.host, r.excluded, r.maybe_seen)
        for r in tagged.collect()
        if r.sketch is None
    }
    assert got == {
        "http://b.test/x": (5, 3, -1, "b.test", "redirect", "n"),
        "http://c.test/": (3, 0, 1, "c.test", "robots", "n"),
        "http://a.test/": (3, 0, 2, "a.test", None, "y"),  # the seed
    }


def test_sketch_merge_matches_rebuild(spark):
    """Incremental merge (old ⊕ delta) must be byte-identical to a
    from-scratch build over the union — the property that makes
    per-batch sketch updates exact across resumes."""
    from scrapelect_spark.streaming.urlseen import (
        empty_sketch_df,
        merged_sketch_df,
    )

    a = spark.createDataFrame(
        [(f"http://a.test/{i}", i % 3) for i in range(100)],
        "url string, bucket int",
    )
    b = spark.createDataFrame(
        [(f"http://b.test/{i}", i % 3) for i in range(80)],
        "url string, bucket int",
    )
    kw = dict(num_bits=1 << 14, num_hashes=5)
    empty = empty_sketch_df(spark)
    incremental = merged_sketch_df(
        merged_sketch_df(empty, a, **kw).select("bucket", "sketch"), b, **kw
    )
    scratch = merged_sketch_df(empty, a.unionByName(b), **kw)
    inc = {r.bucket: bytes(r.sketch) for r in incremental.collect()}
    full = {r.bucket: bytes(r.sketch) for r in scratch.collect()}
    assert inc == full


def test_snapshot_expire_and_rollback(spark, tmp_path):
    """Iceberg-lifecycle parity: expire_snapshots retains a correct
    cut and GCs orphan data dirs; rollback moves LATEST without
    recycling ids; append-shared dirs are never deleted while any
    retained manifest references them."""
    import os

    import pytest as _pytest

    from scrapelect_spark.sources.checkpoint import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    s1 = t.commit(spark.range(5).withColumnRenamed("id", "x"))
    s2 = t.commit(spark.range(5, 8).withColumnRenamed("id", "x"))
    # append mode: s2's manifest references BOTH dirs — expiring s1
    # must delete its manifest but NO data (still live via s2)
    res = t.expire_snapshots(keep_last=1)
    assert res["expired"] == [s1["id"]] and res["deleted_dirs"] == []
    assert t.read(spark).count() == 8
    with _pytest.raises(FileNotFoundError):
        t.snapshot(s1["id"])

    # compaction rewrites to a fresh dir; expiring the pre-compaction
    # snapshot now orphans the old dirs and they are removed from disk
    t.compact(spark)
    n_dirs_before = len(os.listdir(os.path.join(t.path, "data")))
    res = t.expire_snapshots(keep_last=1)
    assert res["expired"] == [s2["id"]]
    assert len(res["deleted_dirs"]) == 2
    assert len(os.listdir(os.path.join(t.path, "data"))) == n_dirs_before - 2
    assert t.read(spark).count() == 8

    # rollback: LATEST moves, ids are never reused
    t2 = SnapshotTable(str(tmp_path / "tbl2"))
    a = t2.commit(spark.range(3).withColumnRenamed("id", "x"))
    t2.commit(spark.range(3, 6).withColumnRenamed("id", "x"))
    t2.rollback(a["id"])
    assert t2.read(spark).count() == 3
    c = t2.commit(spark.range(10, 12).withColumnRenamed("id", "x"))
    assert c["id"] == 3  # past the abandoned branch's id 2
    assert c["parent"] == a["id"]
    assert t2.read(spark).count() == 5  # a's dirs + c's dirs


def test_crawler_expire_history_resume_exact(spark, tmp_path):
    """expire_history bounds checkpoint storage to the retained cuts
    and a FRESH crawler resumes byte-for-byte from the surviving
    root pin."""
    import os

    from scrapelect_spark.streaming.crawl import Crawler, CrawlConfig

    n_hosts, per_host = 3, 30
    corpus = {}
    for h in range(n_hosts):
        for p in range(per_host):
            links = "".join(
                f'<a href="http://h{(h + k) % n_hosts}.test/p/{(p * 3 + k) % per_host}">x</a>'
                for k in range(4)
            )
            corpus[f"http://h{h}.test/p/{p}"] = (
                f"<html><body><h1>{h}/{p}</h1>{links}</body></html>"
            )
    corpus_df = spark.createDataFrame(list(corpus.items()), ["url", "html"])
    seeds = [(f"http://h{h}.test/p/0", 1) for h in range(n_hosts)]
    prog = 'title: h1 { t: $element | text(); } | take(key: "t");'
    cfg = CrawlConfig(
        batch_size=20, per_host_limit=8, max_depth=6, buckets=8,
        bloom_bits_per_bucket=1 << 14, fetch_partitions=4,
    )

    ref = Crawler(spark, str(tmp_path / "ref"), corpus_df, seeds,
                  program=prog, config=cfg)
    ref.run(max_batches=8)

    w = str(tmp_path / "gc")
    c1 = Crawler(spark, w, corpus_df, seeds, program=prog, config=cfg)
    c1.run(max_batches=3)
    n_root_before = len(c1.root.history())
    assert n_root_before >= 4  # seed + 3 batches
    gc = c1.expire_history(keep_last_batches=1)
    assert len(gc["root"]["expired"]) == n_root_before - 1
    assert len(c1.root.history()) == 1
    # sub-table logs shrank to the pinned snapshots only
    for name in ("frontier", "seen", "pages", "records"):
        assert len(c1.tables[name].history()) <= 2
    # pinned reads still resolve after GC
    assert len(c1.visit_log()) > 0

    # a fresh crawler over the GC'd workdir completes identically
    c2 = Crawler(spark, w, corpus_df, seeds, program=prog, config=cfg)
    c2.run(max_batches=8)
    assert c2.visit_log() == ref.visit_log()
    assert c2.seen_set() == ref.seen_set()
    assert c2.records_json() == ref.records_json()

    # storage actually bounded: compaction folds the live set into one
    # base dir per table, then expiry drops every pre-compaction dir —
    # the two operations together are the LSM story (expiry alone must
    # NOT delete append-shared dirs: they are live data, not garbage)
    c2._compact_tables()
    c2.expire_history(keep_last_batches=1)
    for name in ("frontier", "seen", "pages", "records"):
        assert (
            len(os.listdir(os.path.join(c2.tables[name].path, "data"))) <= 2
        ), name


# ------------------------------------------------- batch cost and recovery


@pytest.mark.parametrize("with_budgets", [False, True], ids=["default", "budgets"])
def test_select_batch_matches_per_host_top_k(spark, with_budgets):
    """The single-window claim on Zipf-skewed hosts equals a pure-Python
    per-host top-k followed by the global cut, row for row — with and
    without per-host budgets (one above the default, so the window's
    literal bound is the largest budget, not the default)."""
    from collections import Counter

    from scrapelect_spark.streaming.politeness import select_batch

    rng = np.random.default_rng(11)
    hosts = rng.zipf(1.3, 4000) % 50
    rows = [
        (
            f"http://h{h}.test/p{i}", f"h{h}.test",
            int(rng.integers(0, 3)), int(rng.integers(-1, 40)),
            int(rng.integers(0, 6)), int(rng.choice([10, 100])),
        )
        for i, h in enumerate(hosts)
    ]
    budgets = {"h1.test": 6, "h2.test": 1, "h3.test": 2} if with_budgets else None
    default, batch_size = 4, 90
    queued = spark.createDataFrame(
        rows,
        "url string, host string, depth int, page_seq long, link_seq int, priority int",
    ).repartition(6)
    got = sorted(
        (r.fetch_order, r.url)
        for r in select_batch(
            queued, batch_size=batch_size, host_budgets=budgets,
            default_per_host=default,
        ).collect()
    )

    used: Counter = Counter()
    claimed = []
    for r in sorted(rows, key=lambda r: (r[5], r[2], r[3], r[4], r[0])):
        if used[r[1]] < (budgets or {}).get(r[1], default):
            used[r[1]] += 1
            claimed.append(r[0])
    assert got == list(enumerate(claimed[:batch_size]))
    assert Counter(hosts)[1] > 1000  # the skew is real: one hot host


def test_candidate_pass_dedups_across_input_partitions(spark, tmp_path):
    """One URL reaches the candidate pass from pages in different input
    partitions; the per-bucket cogroup keeps one row for it, the
    winner the old groupBy(url) min-struct picked: a redirect beats
    links, then the least (page_seq, link_seq)."""
    from pyspark.sql import functions as F

    from scrapelect_spark.streaming.crawl import (
        PROCESS_SCHEMA,
        Crawler,
        CrawlConfig,
    )

    corpus_df = spark.createDataFrame([], "url string, html string")
    c = Crawler(
        spark, str(tmp_path / "c"), corpus_df, [("http://a.test/", 1)],
        config=CrawlConfig(buckets=4, bloom_bits_per_bucket=1 << 12),
    )
    c.run(max_batches=0)
    rows = [
        # (page_url, page_seq, depth, kind, seq, value, host, excluded)
        ("http://p3.test/", 3, 1, "link", 0, "http://x.test/", "x.test", None),
        ("http://p1.test/", 1, 1, "link", 5, "http://x.test/", "x.test", None),
        ("http://p1.test/", 1, 1, "link", 2, "http://x.test/", "x.test", None),
        ("http://p2.test/", 2, 4, "link", 0, "http://y.test/", "y.test", None),
        ("http://p4.test/", 4, 0, "redirect", -1, "http://y.test/", "y.test", "redirect"),
        ("http://p0.test/", 0, 2, "link", 9, "http://y.test/", "y.test", None),
    ]
    processed = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, len(rows)), PROCESS_SCHEMA
    )
    assert (
        processed.select(F.spark_partition_id()).distinct().count() == len(rows)
    )
    got = sorted(
        (r.url, r.depth, r.page_seq, r.link_seq, r.host, r.excluded)
        for r in c._candidate_pass(processed).collect()
        if r.sketch is None
    )
    assert got == [
        ("http://x.test/", 2, 1, 2, "x.test", None),
        ("http://y.test/", 0, 4, -1, "y.test", "redirect"),
    ]


def test_corpus_is_computed_once_across_batches(spark, tmp_path):
    """CorpusFetcher reads its corpus once: a corpus built through a
    counting kernel is computed once over three batches, not once per
    batch."""
    from scrapelect_spark.streaming.crawl import Crawler, CrawlConfig

    corpus = synth_corpus()
    computed = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for pdf in batches:
            computed.add(len(pdf))
            yield pdf

    corpus_df = spark.createDataFrame(
        list(corpus.items()), "url string, html string"
    ).mapInPandas(count_rows, "url string, html string")
    c = Crawler(
        spark, str(tmp_path / "c"), corpus_df,
        [("http://site0.test/page/0", 1)],
        config=CrawlConfig(
            batch_size=8, per_host_limit=3, buckets=4,
            bloom_bits_per_bucket=1 << 14, fetch_partitions=4,
        ),
    )
    for batch in (1, 2, 3):
        state = c.run(max_batches=1)
        assert state["metrics"]["batch"] == batch
        assert state["metrics"]["pages_fetched"] > 0
    assert computed.value == len(corpus)


def test_hot_state_partitions_do_not_grow_with_batches(spark, tmp_path):
    """Each batch unions new rows into the queued frontier and the
    seen set; the partition count of both follows their row count
    (floor: defaultParallelism), not the number of batches run.  The
    row counts carried from batch to batch are exact."""
    from scrapelect_spark.streaming.crawl import Crawler, CrawlConfig

    corpus = synth_corpus(n_hosts=4, pages_per_host=40)
    corpus_df = spark.createDataFrame(list(corpus.items()), ["url", "html"])
    c = Crawler(
        spark, str(tmp_path / "c"), corpus_df,
        [(f"http://site{h}.test/page/0", 1) for h in range(4)],
        config=CrawlConfig(
            batch_size=10, per_host_limit=3, buckets=4,
            bloom_bits_per_bucket=1 << 14, fetch_partitions=4,
        ),
    )
    parts = []
    for _ in range(8):
        state = c.run(max_batches=1)
        assert state["metrics"]["pages_fetched"] > 0
        parts.append(
            (c._queued_df.rdd.getNumPartitions(), c._seen_df.rdd.getNumPartitions())
        )
        assert c._queued_rows == c._queued_df.count() == state["metrics"]["queued_urls"]
        assert c._seen_rows == c._seen_df.count() == state["metrics"]["seen_urls"]
    cap = spark.sparkContext.defaultParallelism
    assert all(q <= cap and s <= cap for q, s in parts), parts


@pytest.fixture(scope="module")
def two_batch_workdir(spark, crawl_setup, tmp_path_factory):
    """A checkpoint after 2 clean batches, and the sequential reference
    crawl of 5 batches."""
    from scrapelect_spark.streaming.crawl import Crawler

    corpus, seeds, robots, cfg = crawl_setup
    corpus_df = spark.createDataFrame(list(corpus.items()), ["url", "html"])
    workdir = str(tmp_path_factory.mktemp("two_batches") / "w")
    Crawler(spark, workdir, corpus_df, seeds, SCRP, robots, cfg).run(max_batches=2)
    return workdir, corpus_df, run_sequential(corpus, seeds, robots, cfg, max_batches=5)


@pytest.mark.parametrize(
    "crash_at", ["pages", "records", "frontier", "seen", "sketches", "crawl"]
)
def test_crash_between_commits_resumes_exactly(
    spark, crawl_setup, two_batch_workdir, tmp_path, monkeypatch, crash_at
):
    """Batch 3 crashes right after one sub-table commit (or just before
    the root commit, ``crawl``), leaving sub-table commits the root does
    not pin.  The crashed batch leaves none of its cached frames behind.
    A fresh crawler over the same workdir rolls the orphan commits back
    and finishes with the sequential reference's visit log, seen set and
    records, and no table holds a URL twice."""
    import os
    import shutil

    from scrapelect_spark.sources.checkpoint import SnapshotTable
    from scrapelect_spark.streaming.crawl import Crawler

    _, seeds, robots, cfg = crawl_setup
    base, corpus_df, sim = two_batch_workdir
    workdir = str(tmp_path / "w")
    shutil.copytree(base, workdir)

    class Crash(RuntimeError):
        pass

    real_commit = SnapshotTable.commit

    def crashing_commit(table, df, **kw):
        name = os.path.basename(table.path)
        if name == crash_at == "crawl":
            raise Crash(name)
        snap = real_commit(table, df, **kw)
        if name == crash_at:
            raise Crash(name)
        return snap

    c1 = Crawler(spark, workdir, corpus_df, seeds, SCRP, robots, cfg)
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    cached_before = cache_manager.numCachedEntries()
    monkeypatch.setattr(SnapshotTable, "commit", crashing_commit)
    with pytest.raises(Crash):
        c1.run(max_batches=1)
    monkeypatch.setattr(SnapshotTable, "commit", real_commit)
    assert c1.root.current_snapshot()["metrics"]["batch"] == 2
    # the crashed batch unpersisted every frame it cached; the fetcher's
    # corpus cache is the crawler's, not the batch's, and stays
    assert cache_manager.numCachedEntries() == cached_before
    assert cache_manager.lookupCachedData(c1.fetcher.corpus._jdf).isDefined()

    c2 = Crawler(spark, workdir, corpus_df, seeds, SCRP, robots, cfg)
    assert c2.run(max_batches=3)["metrics"]["batch"] == 5
    assert c2.visit_log() == sim.visit_log
    assert c2.seen_set() == sim.seen
    assert c2.records_json() == sim.records
    for name in ("frontier", "seen", "pages", "records"):
        df = c2._pinned(name)
        assert df.count() == df.select("url").distinct().count(), name
