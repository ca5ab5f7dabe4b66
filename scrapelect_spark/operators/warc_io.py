"""Crawl-corpus I/O operators: WARC export/ingest (sources/warc.py,
ISO 28500 / the Common Crawl layout) and sitemap seed ingestion
(sources/sitemap.py, the sitemaps.org protocol).

Scale shape: export writes ONE gzip-member-per-record segment per
partition (``mapInPandas`` over whole batches — the .warc.gz layout
whose members stay independently decompressible, so a 100-TB archive
splits by record offset exactly like Common Crawl's); ingest explodes
segments back into (url, status, html) rows, Arrow-batched, per-row
error capture for corrupt segments.  No driver state, no shuffle in
either direction — both are Scan → MapInPandas pipelines.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tables import docs, final_sort, map_rows

#: deterministic snapshot stamp for gate/test segments (a real crawl
#: batch passes its own batch timestamp)
GATE_DATE = "2024-01-01T00:00:00Z"


def warc_export(
    pages: DataFrame,
    *,
    date: str,
    url_col: str = "url",
    html_col: str = "html",
    gzip_members: bool = True,
) -> DataFrame:
    """(url, html) rows → one WARC segment per Arrow batch:
    ``(segment binary, n_records long)``."""
    from ..sources.warc import write_warc_segment

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            seg = write_warc_segment(
                list(zip(pdf[url_col], pdf[html_col])),
                date=date,
                gzip_members=gzip_members,
            )
            yield pd.DataFrame({"segment": [seg], "n_records": [len(pdf)]})

    return pages.mapInPandas(run, schema="segment binary, n_records long")


def warc_ingest(
    segments: DataFrame, bytes_col: str = "segment"
) -> DataFrame:
    """WARC segments → one row per response record:
    ``(url, status, html, ingest_error)``; warcinfo records are
    skipped, corrupt segments produce a single error row."""
    from ..sources.warc import read_warc, split_http_response

    def row(raw):
        # caught here, not via map_rows(errors=...): a segment corrupt
        # past its first records keeps them, then one error row
        try:
            for headers, payload in read_warc(bytes(raw)):
                if headers.get("warc-type") != "response":
                    continue
                status, body = split_http_response(payload)
                yield {
                    "url": headers.get("warc-target-uri"), "status": status,
                    "html": body.decode("utf-8", "replace"), "ingest_error": None,
                }
        except Exception as e:  # noqa: BLE001 — permissive corpus
            yield {
                "url": None, "status": None, "html": None,
                "ingest_error": str(e) or type(e).__name__,
            }

    return map_rows(
        segments.select(bytes_col),
        row,
        "url string, status long, html string, ingest_error string",
    )


def crawl_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for the WARC path: every document becomes a page
    (url = ``http://corpus.test/doc/<id>``, body = its text), exported
    to per-partition .warc.gz segments and ingested back — url, HTTP
    status, byte-exact body (md5) must survive the container
    roundtrip."""
    pages = docs(
        spark, sf_dir, 300,
        F.concat(F.lit("http://corpus.test/doc/"), F.col("doc_id")).alias("url"),
        F.col("text").alias("html"),
    )
    segments = warc_export(pages, date=GATE_DATE)
    back = warc_ingest(segments)
    return back.select(
        "url",
        "status",
        F.md5(F.col("html")).alias("body_md5"),
    ).transform(final_sort, "url")


_WARC_SQL = """
SELECT 'http://corpus.test/doc/' || CAST(doc_id AS VARCHAR) AS url,
  CAST(200 AS BIGINT) AS status,
  md5(text) AS body_md5
FROM documents
WHERE doc_id < 300
ORDER BY url
"""


def sitemap_seed_frontier(
    sitemaps: DataFrame, bytes_col: str = "sitemap", id_col: str = "sitemap_id"
) -> DataFrame:
    """Sitemap payloads (sources/sitemap.py — urlset or sitemapindex,
    plain or gzip) → frontier-ready seed rows
    ``(sitemap_id, url, priority, child_sitemap, parse_error)``.

    Sitemap priority (0.0-1.0, higher = more important, default 0.5
    per the protocol) maps to the crawler's integer priority where
    LOWER claims first: ``priority = round((1 - p) * 100)``.  Index
    sitemaps emit their child locs in ``child_sitemap`` rows for the
    fetch stage to retrieve (networking stays in the fetcher);
    malformed payloads produce one error row.  Scan → MapInPandas,
    no shuffle."""
    from ..sources.sitemap import parse_sitemap

    def row(sid, raw):
        empty = {"sitemap_id": sid, "url": None, "priority": None,
                 "child_sitemap": None, "parse_error": None}
        # caught here: rows already yielded for a payload stay
        try:
            kind, items = parse_sitemap(bytes(raw))
            if kind == "sitemapindex":
                for loc in items:
                    yield {**empty, "child_sitemap": loc}
            else:
                for e in items:
                    p = e["priority"] if e["priority"] is not None else 0.5
                    yield {**empty, "url": e["loc"], "priority": round((1 - p) * 100)}
        except Exception as e:  # noqa: BLE001 — untrusted input
            yield {**empty, "parse_error": str(e) or type(e).__name__}

    return map_rows(
        sitemaps.select(id_col, bytes_col),
        row,
        "sitemap_id string, url string, priority long, "
        "child_sitemap string, parse_error string",
    )


def crawl_sitemap_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for the sitemap path: every document publishes a sitemap
    with 1 + doc_id%4 URLs (priority = ((doc_id+k)%10)/10, every 3rd
    sitemap gzip-compressed), ingested through
    :func:`sitemap_seed_frontier` — url + mapped integer priority must
    match the closed-form oracle."""
    from ..sources.sitemap import build_sitemap

    def synth(doc_id):
        entries = [
            {
                "loc": f"http://s{doc_id}.test/p/{k}",
                "priority": f"{((doc_id + k) % 10) / 10:.1f}",
                "lastmod": "2024-01-02",
            }
            for k in range(1 + doc_id % 4)
        ]
        blob = build_sitemap(entries, gzip_payload=(doc_id % 3 == 0))
        yield {"sitemap_id": str(doc_id), "sitemap": blob}

    seeds = sitemap_seed_frontier(
        map_rows(
            docs(spark, sf_dir, 300, "doc_id"),
            synth,
            "sitemap_id string, sitemap binary",
        )
    )
    return (
        seeds.select(
            F.col("sitemap_id").cast("long").alias("doc_id"),
            "url",
            "priority",
        )
        .transform(final_sort, "doc_id", "url")
    )


_SITEMAP_SQL = """
WITH ks AS (
  SELECT doc_id, unnest(range(0, 1 + doc_id % 4)) AS k
  FROM documents WHERE doc_id < 300
)
SELECT doc_id,
  'http://s' || CAST(doc_id AS VARCHAR) || '.test/p/' || CAST(k AS VARCHAR)
    AS url,
  CAST(100 - ((doc_id + k) % 10) * 10 AS BIGINT) AS priority
FROM ks
ORDER BY doc_id, url
"""


def feed_seed_frontier(
    feeds: DataFrame, bytes_col: str = "feed", id_col: str = "feed_id"
) -> DataFrame:
    """RSS/Atom payloads (sources/feed.py, plain or gzip) →
    frontier-ready seed rows ``(feed_id, url, title, published,
    feed_kind, parse_error)`` — the news/blog discovery twin of
    :func:`sitemap_seed_frontier`, with the entry title carried along
    (a caption-like training signal) and pubDate/updated for the
    freshness scheduler.  Malformed or DTD-carrying payloads produce
    one error row.  Scan → MapInPandas, no shuffle."""
    from ..sources.feed import parse_feed

    def row(fid, raw):
        empty = {"feed_id": fid, "url": None, "title": None,
                 "published": None, "feed_kind": None, "parse_error": None}
        # caught here: rows already yielded for a payload stay
        try:
            kind, entries = parse_feed(bytes(raw))
            for e in entries:
                yield {**empty, "url": e["link"], "title": e["title"],
                       "published": e["published"], "feed_kind": kind}
        except Exception as exc:  # noqa: BLE001
            yield {**empty, "parse_error": str(exc) or type(exc).__name__}

    return map_rows(
        feeds.select(id_col, bytes_col),
        row,
        "feed_id string, url string, title string, "
        "published string, feed_kind string, parse_error string",
    )


def crawl_feed_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for RSS/Atom seed ingestion: each doc publishes a feed
    with ``1 + doc_id%3`` entries (closed-form links/titles/dates);
    format rotates RSS / Atom / gzipped-RSS by doc_id%3, and docs ≡0
    (mod 23) carry a DTD (entity-expansion guard) that must surface
    as a parse_error row."""
    from ..sources.feed import build_atom, build_rss

    def synth(doc_id):
        items = [
            {
                "link": f"http://f{doc_id % 8}.test/a/{doc_id}_{k}",
                "title": f"story {doc_id} {k}",
                "published": f"2024-01-{1 + (doc_id + k) % 28:02d}",
                "id": f"g{doc_id}-{k}",
            }
            for k in range(1 + doc_id % 3)
        ]
        if doc_id % 23 == 0:
            blob = (
                b'<?xml version="1.0"?><!DOCTYPE rss [<!ENTITY '
                b'x "y">]><rss version="2.0"><channel>'
                b"</channel></rss>"
            )
        elif doc_id % 3 == 0:
            blob = build_rss(items)
        elif doc_id % 3 == 1:
            blob = build_atom(items)
        else:
            blob = build_rss(items, gzip_payload=True)
        yield {"feed_id": str(doc_id), "feed": blob}

    seeds = feed_seed_frontier(
        map_rows(
            docs(spark, sf_dir, 300, "doc_id"), synth, "feed_id string, feed binary"
        )
    )
    return (
        seeds.select(
            F.col("feed_id").cast("long").alias("doc_id"),
            "url",
            "title",
            "published",
            "feed_kind",
            F.when(F.col("parse_error").isNotNull(), 1)
            .otherwise(0).cast("long").alias("failed"),
        )
        .transform(final_sort, "doc_id", "url")
    )


_FEED_SQL = """
WITH ks AS (
  SELECT doc_id, unnest(range(0, 1 + doc_id % 3)) AS k
  FROM documents WHERE doc_id < 300 AND doc_id % 23 <> 0
)
SELECT doc_id,
  'http://f' || (doc_id % 8) || '.test/a/' || doc_id || '_' || k AS url,
  'story ' || doc_id || ' ' || k AS title,
  '2024-01-' || lpad(CAST(1 + (doc_id + k) % 28 AS VARCHAR), 2, '0')
    AS published,
  CASE WHEN doc_id % 3 = 1 THEN 'atom' ELSE 'rss' END AS feed_kind,
  CAST(0 AS BIGINT) AS failed
FROM ks
UNION ALL
SELECT doc_id, NULL, NULL, NULL, NULL, CAST(1 AS BIGINT)
FROM documents WHERE doc_id < 300 AND doc_id % 23 = 0
ORDER BY doc_id, url
"""


def archive_extract(
    archives: DataFrame,
    id_col: str = "archive_id",
    bytes_col: str = "archive",
) -> DataFrame:
    """Archive blobs (zip / tar / tar.gz, sniffed by magic) → one row
    per file member: ``(archive_id, member_name, member_bytes,
    member_size, extract_error)``.  Hostile archives (traversal
    names, encrypted members, size-cap bombs, corrupt containers)
    produce a single per-archive error row instead of failing the
    task — the same per-row error-capture contract as WARC ingest and
    the codecs.  Scan → MapInPandas, no shuffle; at corpus scale each
    archive is one row, members fan out partition-locally."""
    from ..sources.archive import read_archive_members

    def row(aid, blob):
        try:
            members = read_archive_members(bytes(blob))
        except (ValueError, MemoryError) as e:
            yield {"archive_id": aid, "member_name": None, "member_bytes": None,
                   "member_size": None, "extract_error": str(e)}
            return
        for name, body in members:
            yield {"archive_id": aid, "member_name": name, "member_bytes": body,
                   "member_size": len(body), "extract_error": None}

    return map_rows(
        archives.select(id_col, bytes_col),
        row,
        "archive_id string, member_name string, member_bytes binary,"
        " member_size long, extract_error string",
    )


def crawl_archive_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for bulk-drop archive ingestion (sources/archive.py):
    every document becomes an archive of 1 + doc_id%3 members
    (member k named ``d<id>/part<k>.txt`` carrying a closed-form
    body), container rotating zip / tar / tar.gz by doc_id%3; docs
    with doc_id%10==4 instead carry a zip whose member name climbs
    out via ``..`` — they must surface as per-archive error rows.
    Extraction must return every member with exact name, size, and
    body md5."""
    from ..sources.archive import build_tar, build_zip

    def synth(doc_id):
        if doc_id % 10 == 4:
            members = [("../escape.txt", b"traversal")]
        else:
            members = [
                (
                    f"d{doc_id}/part{k}.txt",
                    f"doc {doc_id} member {k} "
                    f"{'x' * (doc_id % 50)}".encode(),
                )
                for k in range(1 + doc_id % 3)
            ]
        kind = doc_id % 3
        if kind == 0:
            blob = build_zip(members)
        elif kind == 1:
            blob = build_tar(members)
        else:
            blob = build_tar(members, gz=True)
        yield {"archive_id": str(doc_id), "archive": blob}

    members = archive_extract(
        map_rows(
            docs(spark, sf_dir, 300, "doc_id"),
            synth,
            "archive_id string, archive binary",
        )
    )
    return members.select(
        F.col("archive_id").cast("long").alias("doc_id"),
        F.coalesce(F.col("member_name"), F.lit("<error>")).alias(
            "member_name"
        ),
        F.coalesce(F.col("member_size"), F.lit(-1)).alias("member_size"),
        F.coalesce(F.md5(F.col("member_bytes")), F.lit("")).alias(
            "body_md5"
        ),
        F.when(F.col("extract_error").isNotNull(), 1)
        .otherwise(0)
        .cast("long")
        .alias("failed"),
    ).transform(final_sort, "doc_id", "member_name")


_ARCHIVE_SQL = """
WITH ks AS (
  SELECT doc_id, unnest(range(0, 1 + doc_id % 3)) AS k
  FROM documents WHERE doc_id < 300 AND doc_id % 10 <> 4
), good AS (
  SELECT doc_id,
    'd' || CAST(doc_id AS VARCHAR) || '/part' || CAST(k AS VARCHAR)
      || '.txt' AS member_name,
    'doc ' || CAST(doc_id AS VARCHAR) || ' member '
      || CAST(k AS VARCHAR) || ' ' || repeat('x', doc_id % 50) AS body
  FROM ks
)
SELECT doc_id, member_name,
  CAST(length(body) AS BIGINT) AS member_size,
  md5(body) AS body_md5,
  CAST(0 AS BIGINT) AS failed
FROM good
UNION ALL
SELECT doc_id, '<error>' AS member_name,
  CAST(-1 AS BIGINT) AS member_size,
  '' AS body_md5,
  CAST(1 AS BIGINT) AS failed
FROM documents WHERE doc_id < 300 AND doc_id % 10 = 4
ORDER BY doc_id, member_name
"""


QUERIES = {
    "crawl_warc_roundtrip": crawl_warc_roundtrip,
    "crawl_sitemap_ingest": crawl_sitemap_ingest,
    "crawl_feed_ingest": crawl_feed_ingest,
    "crawl_archive_ingest": crawl_archive_ingest,
}
ORACLE_SQL = {
    "crawl_warc_roundtrip": _WARC_SQL,
    "crawl_sitemap_ingest": _SITEMAP_SQL,
    "crawl_feed_ingest": _FEED_SQL,
    "crawl_archive_ingest": _ARCHIVE_SQL,
}
