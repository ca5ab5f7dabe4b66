"""Digest pins for the scrp page path: the sorted ``extract()`` output
over generated page tables, and the records and visit log of a small
crawl.  The digests were recorded before ``extract()``, the crawl's
extract pass, the recrawl and the sequential reference were routed
through one page kernel, so any change in what a page evaluates to (a
result, an error message, which pages get a record) shows here."""

import hashlib
import json

import pytest

from perfbench import gen

EXTRACT_DIGESTS = {
    1: "f0615af1401586d4779eb0786f87ee4f202429e4d31a5c9af1b8fa96d9073b22",
    2: "4499c6ebf605ad89cfd74fa498c5c9be91f65a62595bfcc8118f1eccc65d7f66",
}
CRAWL_RECORDS_DIGEST = "e17c847555d7ba0ab8bc5268174bb301a9b8aae92f67e8c6de3de92d52cde50e"
CRAWL_VISIT_DIGEST = "a1403e26365b9a1f252a1b4c5beab97a790f66bbc2d2f84887c82e66b3829bb7"


def _sha(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()


@pytest.mark.parametrize("seed", sorted(EXTRACT_DIGESTS))
def test_extract_page_table_digest(spark, seed):
    from scrapelect_spark.operators.extract import extract

    pages = spark.createDataFrame(gen.page_table(seed, 500), "url string, html string")
    rows = sorted(
        (r.url, r.result, r.error)
        for r in extract(pages.repartition(4), gen.PROGRAM).collect()
    )
    assert len(rows) == 500
    assert any(e is not None for _, _, e in rows)
    assert _sha(rows) == EXTRACT_DIGESTS[seed]


def test_crawl_records_and_visit_log_digest(spark, tmp_path):
    from scrapelect_spark.streaming.crawl import CrawlConfig, Crawler

    web = gen.web(1, 600, 25)
    corpus = spark.createDataFrame(list(web.corpus.items()), "url string, html string")
    cfg = CrawlConfig(
        batch_size=150, per_host_limit=20, max_depth=12, buckets=8,
        bloom_bits_per_bucket=4096, fetch_partitions=4,
    )
    crawler = Crawler(
        spark, str(tmp_path), corpus, web.seeds, program=gen.PROGRAM, config=cfg
    )
    crawler.run(max_batches=4)
    log = crawler.visit_log()
    records = crawler.records_json()
    assert (len(log), len(records)) == (412, 366)
    assert _sha(sorted(records.items())) == CRAWL_RECORDS_DIGEST
    assert _sha(log) == CRAWL_VISIT_DIGEST
