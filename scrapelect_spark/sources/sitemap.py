"""Sitemap parser (sitemaps.org XML protocol) — the standard seed
source a production crawler ingests before anything else.

Handles ``<urlset>`` pages (loc / lastmod / changefreq / priority),
``<sitemapindex>`` indirection (returns child sitemap locs for the
caller to fetch — the crawler's fetch stage owns networking), and
gzip-compressed payloads.  Parsing uses stdlib ElementTree with a
pre-parse guard that rejects DTDs (``<!DOCTYPE`` / ``<!ENTITY``) so
untrusted crawl input cannot trigger entity-expansion blowups, plus a
size cap; malformed XML raises ``ValueError`` for the per-row error
capture upstream.
"""

from __future__ import annotations

import gzip
import io
import xml.etree.ElementTree as ET

_MAX_BYTES = 64 << 20  # spec caps sitemaps at 50 MB uncompressed


def _strip_ns(tag: str) -> str:
    return tag.rsplit("}", 1)[-1].lower()


def parse_sitemap(data: bytes):
    """Sitemap bytes (plain or gzip) →
    ``("urlset", [ {loc, lastmod, changefreq, priority} ... ])`` or
    ``("sitemapindex", [ child_loc, ... ])``."""
    if data[:2] == b"\x1f\x8b":
        try:
            data = gzip.GzipFile(fileobj=io.BytesIO(data)).read(_MAX_BYTES + 1)
        except (OSError, EOFError) as e:
            raise ValueError(f"corrupt gzip sitemap: {e}") from None
    if len(data) > _MAX_BYTES:
        raise ValueError("sitemap exceeds the 50 MB protocol cap")
    head = data[:4096]
    if b"<!DOCTYPE" in head or b"<!ENTITY" in head:
        raise ValueError("DTD in sitemap rejected (untrusted input)")
    try:
        root = ET.fromstring(data)
    except ET.ParseError as e:
        raise ValueError(f"malformed sitemap XML: {e}") from None
    kind = _strip_ns(root.tag)
    if kind == "sitemapindex":
        locs = []
        for sm in root:
            if _strip_ns(sm.tag) != "sitemap":
                continue
            for child in sm:
                if _strip_ns(child.tag) == "loc" and child.text:
                    locs.append(child.text.strip())
        return "sitemapindex", locs
    if kind != "urlset":
        raise ValueError(f"unexpected sitemap root <{kind}>")
    entries = []
    for url in root:
        if _strip_ns(url.tag) != "url":
            continue
        e: dict[str, object] = {
            "loc": None, "lastmod": None, "changefreq": None, "priority": None
        }
        for child in url:
            t = _strip_ns(child.tag)
            if t in e and child.text is not None:
                e[t] = child.text.strip()
        if not e["loc"]:
            continue
        if e["priority"] is not None:
            try:
                e["priority"] = float(e["priority"])  # spec: 0.0-1.0
            except ValueError:
                e["priority"] = None
        entries.append(e)
    return "urlset", entries


def build_sitemap(entries, *, gzip_payload: bool = False) -> bytes:
    """Inverse for tests/gates: ``entries`` = iterable of dicts with
    ``loc`` (+ optional lastmod/changefreq/priority) → urlset XML."""
    parts = [
        '<?xml version="1.0" encoding="UTF-8"?>\n',
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n',
    ]
    for e in entries:
        parts.append("  <url>\n")
        parts.append(f"    <loc>{e['loc']}</loc>\n")
        for k in ("lastmod", "changefreq", "priority"):
            v = e.get(k)
            if v is not None:
                parts.append(f"    <{k}>{v}</{k}>\n")
        parts.append("  </url>\n")
    parts.append("</urlset>\n")
    out = "".join(parts).encode()
    if gzip_payload:
        buf = io.BytesIO()
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
            gz.write(out)
        return buf.getvalue()
    return out
