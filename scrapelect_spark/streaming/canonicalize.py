"""URL canonicalization — the frontier's identity function.

Rules (SURVEY.md §7.1 item 4): lowercase scheme + host, strip default
ports, drop fragments, resolve dot-segments, empty path → "/", drop an
empty query.  Deterministic and idempotent: canon(canon(u)) == canon(u)
— the property that makes the URL-seen set well-defined.

Two call paths: plain Python (:func:`canonicalize_url`, used by the
sequential reference simulator and inside the link-extraction UDF) and
a vectorized Series transform for Arrow batches.  The bucket id used
for frontier partitioning is computed JVM-side with Spark's murmur3
(``pmod(hash(url), P)``) so partition placement never round-trips
through Python.
"""

from __future__ import annotations

from urllib.parse import urljoin, urlsplit, urlunsplit

import pandas as pd

_DEFAULT_PORTS = {"http": 80, "https": 443, "ftp": 21, "ws": 80, "wss": 443}


def _normalize_path(path: str) -> str:
    if not path:
        return "/"
    segments = path.split("/")
    out: list[str] = []
    for seg in segments:
        if seg == ".":
            continue
        if seg == "..":
            if out and out[-1] != "":
                out.pop()
            continue
        out.append(seg)
    norm = "/".join(out)
    if not norm.startswith("/"):
        norm = "/" + norm
    return norm


def canonicalize_url(url: str) -> str | None:
    """Canonical form, or None if the URL is unusable (no scheme/host
    for network schemes, unparseable)."""
    try:
        parts = urlsplit(url.strip())
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if not scheme:
        return None
    if scheme == "file":
        return urlunsplit((scheme, "", _normalize_path(parts.path), parts.query, ""))
    host = (parts.hostname or "").lower()
    if not host:
        return None
    port = None
    try:
        port = parts.port
    except ValueError:
        return None
    # urlsplit strips an IPv6 literal's brackets; put them back so the
    # result parses again
    netloc = f"[{host}]" if ":" in host else host
    if port is not None and port != _DEFAULT_PORTS.get(scheme):
        netloc = f"{netloc}:{port}"
    return urlunsplit((scheme, netloc, _normalize_path(parts.path), parts.query, ""))


def resolve_and_canonicalize(href: str, base_url: str) -> str | None:
    """Join a (possibly relative) href against its page URL, then
    canonicalize — the crawl-layer analog of the interpreter's
    relative-URL join (mod.rs:127-132)."""
    try:
        absolute = urljoin(base_url, href.strip())
    except ValueError:
        return None
    return canonicalize_url(absolute)


def host_of(url: str) -> str:
    try:
        return (urlsplit(url).hostname or "").lower()
    except ValueError:
        return ""


def canonicalize_series(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: canonicalize_url(u) if isinstance(u, str) else None)
