"""Fetch stage implementations.

The crawl loop's fetch is pluggable:

- :class:`CorpusFetcher` — resolves pages by joining the claimed batch
  against a corpus DataFrame, read once and cached (the stand-in for
  the network in tests and benchmarks; also the replay/backfill path
  in production);
- :class:`HttpFetcher` — real HTTP GET via stdlib urllib inside
  ``mapInPandas``, with per-partition per-host rate limiting.  The
  politeness scheduler has already bounded per-host volume per batch
  and the salted repartition groups a host's URLs into few partitions,
  so the in-partition delay enforces the crawl-delay budget.
  Exercised for real against a loopback http.server — the HTTP crawl
  matches the corpus-join crawl byte-for-byte, robots exclusions never
  hit the wire, and every request carries the reference UA
  (tests/test_http_loopback.py).
"""

from __future__ import annotations

import time
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

FETCH_SCHEMA_EXTRA = [
    StructField("html", StringType(), True),
    StructField("status", IntegerType(), True),
]


def sniff_encoding(body: bytes, header_charset: str | None) -> str:
    """Charset resolution for fetched pages, WHATWG-encoding-style:
    BOM > valid Content-Type charset > ``<meta charset>`` prescan of
    the first 1024 bytes > UTF-8.  Real crawled corpora are full of
    latin-1/shift-jis pages whose only charset declaration is the meta
    tag — header-only decoding silently mojibakes them."""
    import codecs
    import re

    if body[:3] == b"\xef\xbb\xbf":
        return "utf-8-sig"
    if body[:2] in (b"\xff\xfe", b"\xfe\xff"):
        # "utf-16" consumes the BOM; the endian-specific codecs would
        # leave a spurious U+FEFF at the start of every page
        return "utf-16"
    if header_charset:
        try:
            codecs.lookup(header_charset)
            return header_charset
        except LookupError:
            pass
    m = re.search(
        rb"<meta[^>]+charset\s*=\s*[\"']?\s*([a-zA-Z0-9_\-]+)",
        body[:1024],
        re.IGNORECASE,
    )
    if m:
        enc = m.group(1).decode("ascii", "replace")
        try:
            codecs.lookup(enc)
            # WHATWG: utf-16 meta labels decode as utf-8 (the prescan
            # itself only works if the document is ASCII-compatible)
            if enc.lower().replace("_", "-") in ("utf-16", "utf-16le", "utf-16be"):
                return "utf-8"
            return enc
        except LookupError:
            pass
    return "utf-8"


#: hard cap on DECOMPRESSED page size — the compressed side is bounded
#: by the fetcher's max_bytes read, but a 4 MiB gzip bomb can inflate
#: to ~4 GiB; decompression must bound its own output.
MAX_DECODED_BYTES = 32 << 20


class ContentDecodeError(ValueError):
    """Declared Content-Encoding could not be decoded (corrupt or
    truncated stream, or output over :data:`MAX_DECODED_BYTES`)."""


def decode_content(
    body: bytes,
    content_encoding: str | None,
    max_out: int = MAX_DECODED_BYTES,
) -> bytes:
    """Undo HTTP ``Content-Encoding`` (gzip / x-gzip / deflate — both
    zlib-wrapped and raw), incrementally and with a hard output cap.

    A stream that is corrupt, truncated (e.g. clipped by the fetcher's
    ``max_bytes`` read cap), or that inflates past ``max_out`` raises
    :class:`ContentDecodeError` — compressed bytes must never pass
    through as page "text".  Only an UNKNOWN encoding label falls back
    to the raw bytes (mislabeled pages degrade, they don't kill the
    batch)."""
    import zlib

    enc = (content_encoding or "").strip().lower()
    if enc in ("gzip", "x-gzip"):
        wbits_options = (16 + zlib.MAX_WBITS,)
    elif enc == "deflate":
        # zlib-wrapped per RFC 9110, but real servers also send raw
        # deflate; a raw stream fails the zlib header immediately
        wbits_options = (zlib.MAX_WBITS, -zlib.MAX_WBITS)
    else:
        return body

    last_err: Exception | None = None
    for wbits in wbits_options:
        d = zlib.decompressobj(wbits)
        try:
            out = d.decompress(body, max_out + 1)
        except zlib.error as e:
            last_err = e
            continue
        if len(out) > max_out:
            raise ContentDecodeError(
                f"decompressed {enc} content exceeds {max_out} byte cap"
            )
        if not d.eof:
            raise ContentDecodeError(f"truncated {enc} stream")
        return out
    raise ContentDecodeError(f"corrupt {enc} stream: {last_err}")


class CorpusFetcher:
    """fetch = left join against the (url, html) corpus, broadcast each
    batch: the replay stand-in for :class:`HttpFetcher`.

    The corpus is read once: it is ``cache()``d here, so the first
    fetch fills the cache and every later batch broadcasts the
    JVM-resident copy instead of re-deriving the source (a Python-built
    corpus would otherwise be re-serialized from Python each batch).
    The cache is recomputable from the corpus lineage, so a lost block
    is re-read, never an error.  It lives as long as the session or
    until the caller unpersists the corpus."""

    def __init__(self, corpus: DataFrame):
        self.corpus = corpus.cache()

    def fetch(self, claimed: DataFrame) -> DataFrame:
        return claimed.join(F.broadcast(self.corpus), on="url", how="left").withColumn(
            "status", F.when(F.col("html").isNull(), 404).otherwise(200)
        )


class HttpFetcher:
    """Executor-side HTTP GET with per-host politeness delays.

    One urllib opener per partition; requests to the same host are
    separated by ``crawl_delay_s``.  The default UA is the reference's
    exact string ("{pkg} v{version}" = "scrapelect v0.4.0",
    mod.rs:28-39 / Cargo.toml:3-4) so servers see identical requests
    under strict parity; pass ``user_agent`` to identify differently.

    ``revalidate=True`` turns on conditional GETs for the recrawl
    path: when the claimed batch carries ``etag`` /
    ``last_modified`` columns (the validators persisted from the
    previous crawl of each URL), the request sends ``If-None-Match``
    / ``If-Modified-Since`` and a 304 comes back as
    ``(html=NULL, status=304)`` with the stored validators echoed —
    the caller keeps its cached copy and the transfer costs a header
    round-trip, not a body.  The output then also appends the
    RESPONSE validators as ``etag`` / ``last_modified`` columns for
    the next round's store.  Off by default: the plain-crawl schema
    and bytes stay exactly as before.
    """

    #: reference-parity User-Agent (reqwest user_agent(concat!(...)))
    REFERENCE_UA = "scrapelect v0.4.0"

    def __init__(
        self,
        user_agent: str = REFERENCE_UA,
        timeout_s: float = 10.0,
        crawl_delay_s: float = 1.0,
        max_bytes: int = 4 << 20,
        revalidate: bool = False,
    ):
        self.user_agent = user_agent
        self.timeout_s = timeout_s
        self.crawl_delay_s = crawl_delay_s
        self.max_bytes = max_bytes
        self.revalidate = revalidate

    def fetch(self, claimed: DataFrame) -> DataFrame:
        ua = self.user_agent
        timeout_s = self.timeout_s
        delay_s = self.crawl_delay_s
        max_bytes = self.max_bytes
        revalidate = self.revalidate
        in_cols = set(claimed.columns)
        has_etag = revalidate and "etag" in in_cols
        has_lm = revalidate and "last_modified" in in_cols
        extra = list(FETCH_SCHEMA_EXTRA) + [
            # non-null only when the server redirected: the URL the
            # body was actually served from (urllib follows 3xx like
            # reqwest's default policy; reference mod.rs get_html).
            # The crawl loop resolves relative links against it and
            # marks it seen-but-not-queued.
            StructField("final_url", StringType(), True),
        ]
        if revalidate:
            # response validators replace any input validator columns
            extra += [
                StructField("etag", StringType(), True),
                StructField("last_modified", StringType(), True),
            ]
        base_fields = [
            f for f in claimed.schema.fields
            if not (revalidate and f.name in ("etag", "last_modified"))
        ]
        schema = StructType(base_fields + extra)

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import urllib.error
            import urllib.request
            from urllib.parse import urlsplit

            last_hit: dict[str, float] = {}

            def get(
                url: str,
                etag: str | None = None,
                last_mod: str | None = None,
            ) -> tuple[str | None, int, str | None, str | None, str | None]:
                host = (urlsplit(url).hostname or "").lower()
                wait = last_hit.get(host, 0.0) + delay_s - time.monotonic()
                if wait > 0:
                    time.sleep(wait)
                last_hit[host] = time.monotonic()
                headers = {"User-Agent": ua, "Accept-Encoding": "gzip"}
                if etag:
                    headers["If-None-Match"] = etag
                if last_mod:
                    headers["If-Modified-Since"] = last_mod
                req = urllib.request.Request(url, headers=headers)
                try:
                    with urllib.request.urlopen(req, timeout=timeout_s) as resp:
                        body = decode_content(
                            resp.read(max_bytes),
                            resp.headers.get("Content-Encoding"),
                        )
                        charset = sniff_encoding(
                            body, resp.headers.get_content_charset()
                        )
                        served = resp.geturl()
                        return (
                            body.decode(charset, errors="replace"),
                            resp.status,
                            resp.headers.get("ETag"),
                            resp.headers.get("Last-Modified"),
                            served if served != url else None,
                        )
                except urllib.error.HTTPError as e:
                    if e.code == 304:
                        # not modified: keep the validators we sent —
                        # they still identify the cached copy
                        return None, 304, etag, last_mod, None
                    # keep the real status (404/500/...) so live fetches
                    # and CorpusFetcher replays agree on the column
                    return None, int(e.code), None, None, None
                except ContentDecodeError:
                    # gzip bomb / truncated stream: the body is
                    # unusable and must not leak through as page text
                    return None, 0, None, None, None
                except Exception:
                    return None, 0, None, None, None  # timeout / DNS / refused

            for pdf in batches:
                html, status, etags, lms, finals = [], [], [], [], []
                in_etag = (
                    pdf["etag"] if has_etag else [None] * len(pdf)
                )
                in_lm = (
                    pdf["last_modified"] if has_lm else [None] * len(pdf)
                )
                for url, et, lm in zip(pdf["url"], in_etag, in_lm):
                    b, s, ret, rlm, fin = get(
                        url,
                        et if isinstance(et, str) and et else None,
                        lm if isinstance(lm, str) and lm else None,
                    )
                    html.append(b)
                    status.append(s)
                    etags.append(ret)
                    lms.append(rlm)
                    finals.append(fin)
                pdf = pdf.copy()
                if revalidate:
                    pdf = pdf.drop(
                        columns=[c for c in ("etag", "last_modified")
                                 if c in pdf.columns]
                    )
                pdf["html"] = pd.Series(html, dtype=object)
                pdf["status"] = status
                pdf["final_url"] = pd.Series(finals, dtype=object)
                if revalidate:
                    pdf["etag"] = pd.Series(etags, dtype=object)
                    pdf["last_modified"] = pd.Series(lms, dtype=object)
                yield pdf

        return claimed.mapInPandas(run, schema=schema)
