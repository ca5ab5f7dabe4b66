"""Sequential reference crawler — the determinism oracle.

The reference engine is single-page (URL recursion re-fetches inline,
mod.rs:124-138); a "reference crawl" is therefore *defined* as the
sequential execution of the crawl semantics: visit URLs in the total
order ``(priority, depth, page_seq, link_seq, url)`` under the same
per-host politeness budget, following links in document order, with an
exact URL-seen set.  The Spark crawl (crawl.py) must reproduce this
byte-for-byte — same visit log, same seen set, same extraction output
(north_rule).  Shares ``extract_links``, canonicalization, robots and
the page kernel (``operators.extract.evaluate_page``) with the
distributed path so any divergence is a scheduling bug, not a parsing
one.  A page whose program fails gets no record (the crawl keeps its
error row instead); any other exception propagates.
"""

from __future__ import annotations

from typing import Optional
from urllib.parse import urlsplit

from ..functions.dom import parse_html
from ..functions.interpreter import Interpreter
from ..operators.extract import compile_scrp, evaluate_page
from .canonicalize import canonicalize_url, host_of
from .crawl import (
    ALLOWED_SCHEMES,
    CrawlConfig,
    extract_links,
    page_robots_directives,
)
from .robots import RobotsPolicy


class SequentialCrawler:
    def __init__(
        self,
        corpus: dict[str, str],  # url -> html
        seeds: list[tuple[str, int]],
        program: Optional[str] = None,
        robots: Optional[RobotsPolicy] = None,
        config: Optional[CrawlConfig] = None,
    ):
        self.corpus = corpus
        self.cfg = config or CrawlConfig()
        self.robots = robots or RobotsPolicy({}, self.cfg.batch_seconds)
        self.statements = compile_scrp(program) if program is not None else None
        self.interp = Interpreter()

        # queued entries: (priority, depth, page_seq, link_seq, url)
        self.queue: list[tuple[int, int, int, int, str]] = []
        self.seen: set[str] = set()
        self.visit_log: list[tuple[str, int, int]] = []  # (url, page_seq, depth)
        self.records: dict[str, str] = {}
        self.next_page_seq = 0

        for i, (url, priority) in enumerate(seeds):
            canon = canonicalize_url(url)
            if canon is None or canon in self.seen:
                continue
            self.seen.add(canon)
            if self._allowed(canon):
                self.queue.append((priority, 0, -1, i, canon))

    def _allowed(self, url: str) -> bool:
        return self.robots.allowed(host_of(url), urlsplit(url).path or "/")

    def run(self, max_batches: int = 100) -> None:
        for _ in range(max_batches):
            if not self._run_batch():
                break

    def _run_batch(self) -> bool:
        self.queue.sort()
        per_host_used: dict[str, int] = {}
        claimed: list[tuple[int, int, int, int, str]] = []
        rest: list[tuple[int, int, int, int, str]] = []
        for entry in self.queue:
            url = entry[4]
            host = host_of(url)
            budget = self.robots.host_budget(host, self.cfg.per_host_limit)
            if (
                len(claimed) < self.cfg.batch_size
                and per_host_used.get(host, 0) < budget
            ):
                claimed.append(entry)
                per_host_used[host] = per_host_used.get(host, 0) + 1
            else:
                rest.append(entry)
        self.queue = rest
        if not claimed:
            return False

        discovered: list[tuple[int, int, int, int, str]] = []
        for priority, depth, _dpseq, _lseq, url in claimed:
            page_seq = self.next_page_seq
            self.next_page_seq += 1
            self.visit_log.append((url, page_seq, depth))
            html = self.corpus.get(url)
            if html is None:
                continue
            root = parse_html(html)
            directives = page_robots_directives(root)
            if self.statements is not None and "noindex" not in directives:
                result, _ = evaluate_page(self.interp, self.statements, url, root)
                if result is not None:
                    self.records[url] = result
            if depth >= self.cfg.max_depth:
                continue
            if "nofollow" in directives:
                continue
            for link_seq, target in enumerate(extract_links(root, url)):
                if target is None:
                    continue
                if urlsplit(target).scheme not in ALLOWED_SCHEMES:
                    continue
                if target in self.seen:
                    continue
                self.seen.add(target)
                if self._allowed(target):
                    discovered.append(
                        (
                            self.cfg.default_priority,
                            depth + 1,
                            page_seq,
                            link_seq,
                            target,
                        )
                    )
        self.queue.extend(discovered)
        return True
