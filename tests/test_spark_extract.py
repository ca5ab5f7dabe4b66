"""Spark-side extraction parity: golden corpus through mapInPandas."""

import json
import os

import pytest

from conftest import load_fixture

GOLDENS = ["abc", "attr", "qualifiers", "relative", "recurser", "filter_select"]
FIXTURE_BASE = "file:///fixtures"

EXAMPLE_COM_HTML = (
    "<!doctype html><html><head><title>Example Domain</title></head>"
    "<body><div><h1>Example Domain</h1></div></body></html>"
)


def build_corpus():
    corpus = {}
    d = "/root/reference/examples/inputs"
    for name in os.listdir(d):
        with open(os.path.join(d, name)) as f:
            corpus[f"{FIXTURE_BASE}/{name}"] = f.read()
    corpus["https://example.com"] = EXAMPLE_COM_HTML
    return corpus


@pytest.mark.parametrize("name", GOLDENS)
def test_spark_golden(spark, name):
    from scrapelect_spark.operators.extract import extract

    html, scrp, golden = load_fixture(name)
    pages = spark.createDataFrame(
        [(f"{FIXTURE_BASE}/{name}.html", html)], ["url", "html"]
    )
    out = extract(pages, scrp, corpus=build_corpus()).collect()
    assert len(out) == 1
    row = out[0]
    assert row.error is None
    assert json.loads(row.result) == json.loads(golden)


def test_spark_extract_many_pages_with_errors(spark):
    """Permissive corpus mode: bad pages yield error rows, good pages
    still extract; no driver-side loop, one UDF pass."""
    from scrapelect_spark.operators.extract import extract

    rows = []
    for i in range(200):
        if i % 7 == 0:
            rows.append((f"u{i}", "<html><body></body></html>"))  # no <a> → One error
        else:
            rows.append(
                (f"u{i}", f'<html><body><a href="/x{i}">link {i}</a></body></html>')
            )
    pages = spark.createDataFrame(rows, ["url", "html"]).repartition(8)
    out = extract(
        pages,
        'link: a { href: $element | attrs() | take(key: "href"); '
        "t: $element | text(); };",
    ).collect()
    by_url = {r.url: r for r in out}
    assert len(by_url) == 200
    assert by_url["u0"].error is not None
    assert "expected exactly one value" in by_url["u0"].error
    got = json.loads(by_url["u3"].result)
    assert got == {"link": {"href": "/x3", "t": "link 3"}}


def test_spark_extract_plan_has_no_shuffle(spark):
    """Extraction must stay embarrassingly parallel: Scan → ArrowEval,
    no Exchange in the physical plan."""
    from scrapelect_spark.operators.extract import extract

    pages = spark.createDataFrame([("u", "<html></html>")], ["url", "html"])
    df = extract(pages, "x: 1;")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_fail_fast_mode(spark):
    from pyspark.errors.exceptions.captured import PythonException

    from scrapelect_spark.operators.extract import extract

    pages = spark.createDataFrame([("u", "<html></html>")], ["url", "html"])
    df = extract(pages, "x: h1 {};", fail_fast=True)
    with pytest.raises(PythonException):
        df.collect()


RECURSE_SCRP = (
    'next: #next { link: $element | attrs() | take(key: "href"); }'
    ' | take(key: "link");\n'
    'page-2: <$next> #story { content: $element | text(); }'
    ' | take(key: "content");'
)
INDEX_HTML = '<html><body><a id="next" href="page2.html">Continue</a></body></html>'
PAGE2_HTML = '<html><body><p id="story">The end.</p></body></html>'


def _recursing_page(spark):
    return spark.createDataFrame(
        [("https://site.test/index.html", INDEX_HTML)], ["url", "html"]
    )


def test_extract_recursion_reads_the_given_corpus(spark):
    from scrapelect_spark.operators.extract import extract

    corpus = {"https://site.test/page2.html": PAGE2_HTML}
    (row,) = extract(_recursing_page(spark), RECURSE_SCRP, corpus=corpus).collect()
    assert row.error is None
    assert json.loads(row.result)["page-2"] == "The end."


def test_extract_without_corpus_broadcasts_nothing(spark, monkeypatch):
    """No corpus, no broadcast; a page that recurses still gets the
    "not in corpus" error."""
    from pyspark import SparkContext

    from scrapelect_spark.operators.extract import extract

    made = []
    real_broadcast = SparkContext.broadcast

    def counting_broadcast(sc, value):
        made.append(value)
        return real_broadcast(sc, value)

    monkeypatch.setattr(SparkContext, "broadcast", counting_broadcast)
    (row,) = extract(_recursing_page(spark), RECURSE_SCRP).collect()
    assert made == []
    assert "request to `https://site.test/page2.html` failed: not in corpus" in row.error
