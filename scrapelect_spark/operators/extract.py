"""The scrp extraction operator: compile once on the driver, apply
partition-parallel via Arrow ``mapInPandas``.

This is the Spark realization of the reference's whole interpreter loop
(/root/reference/src/interpreter/mod.rs:79-218) per the north_star
contract: **no per-row Python dispatch from Spark's side** — Spark hands
the UDF Arrow record batches; the per-page tree walk happens inside a
single Python call per batch.  The compiled program (AST + warmed
selector cache) ships in the UDF closure; each executor process warms
its own selector cache once (functions/interpreter.py lru_cache), not
per page — the reference recompiles selectors on every block evaluation
(mod.rs:140), which we deliberately improve (SURVEY.md §4 row 1).

Error model: the reference is fail-fast (first error aborts the run).
A corpus-scale engine must not lose a 10^10-page job to one bad page,
so errors are captured per-row into an ``error`` column; pass
``fail_fast=True`` for reference-parity abort semantics (golden tests).

Scale notes (100 TB design point):
- extraction is embarrassingly parallel: no shuffle, no driver
  collect; plan = Scan → (whole-stage) → MapInPandas;
- page HTML dominates row size → keep
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` modest and parquet
  splits at 128 MiB so a batch fits executor memory;
- URL recursion inside a UDF would serialize a distributed fetch, so
  at corpus scale link-following is the crawl loop's job
  (streaming/crawl.py) — the in-UDF resolver here serves single-page
  recursion against a broadcast mini-corpus (golden parity) and
  same-wave lookups.
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StringType, StructField, StructType

from ..errors import EvalError, ScrapelectError
from ..functions.dom import parse_html
from ..functions.interpreter import Interpreter, warm_selectors
from ..functions.value import to_json
from ..plans.parser import parse_program

RESULT_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("result", StringType(), True),
        StructField("error", StringType(), True),
    ]
)


def compile_scrp(program: str):
    """Driver-side compile: parse + eager selector compile.  Returns the
    compiled plan (the AST — picklable, tiny) after validation."""
    statements = parse_program(program)
    warm_selectors(statements)
    return statements


def extract(
    pages: DataFrame,
    program: str,
    *,
    url_col: str = "url",
    html_col: str = "html",
    corpus: Optional[dict[str, str]] = None,
    registry: Optional[dict] = None,
    fail_fast: bool = False,
) -> DataFrame:
    """Apply a scrp program to every page row → (url, result, error).

    ``result`` is deterministic compact JSON (sorted structure keys —
    BTreeMap serialization parity, value.rs:9/main.rs:62).

    ``corpus`` (url → html) backs URL recursion inside the UDF; it is
    broadcast once per call, and only when given.  At crawl scale the
    frontier loop owns link-following instead.

    ``registry`` is the filter table the interpreter dispatches on; the
    default is the full ``FILTERS``.  Pass ``REFERENCE_FILTERS`` for
    strict reference parity (its 17 registered filters only).

    Stream-native: ``pages`` may be a streaming DataFrame — mapInPandas
    is supported under Structured Streaming, so the same compiled plan
    runs per micro-batch unchanged
    (tests/test_streaming.py::test_extract_over_stream_matches_batch).
    """
    statements = compile_scrp(program)
    corpus_bc = pages.sparkSession.sparkContext.broadcast(corpus) if corpus else None

    def run_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.filters import FILTERS

        filters = registry or FILTERS
        local_corpus = corpus_bc.value if corpus_bc is not None else {}
        doc_cache: dict[str, object] = {}

        def fetch(url: str):
            if url in doc_cache:
                return doc_cache[url]
            html = local_corpus.get(url)
            if html is None and url.endswith("/") and url[:-1] in local_corpus:
                html = local_corpus[url[:-1]]
            if html is None and url.startswith("file://"):
                # reference parity: the `file` scheme reads local files
                # (mod.rs:70-72) — executor-local paths only
                from urllib.parse import urlsplit

                try:
                    with open(urlsplit(url).path) as f:
                        html = f.read()
                except OSError as e:
                    raise EvalError(
                        f"reading from file `{urlsplit(url).path}` failed: {e}"
                    )
            if html is None:
                raise EvalError(f"request to `{url}` failed: not in corpus")
            doc = parse_html(html)
            doc_cache[url] = doc
            return doc

        interp = Interpreter(fetcher=fetch, registry=filters)

        for batch in batches:
            urls = batch[url_col].tolist()
            htmls = batch[html_col].tolist()
            results: list[Optional[str]] = []
            errors: list[Optional[str]] = []
            for url, html in zip(urls, htmls):
                try:
                    root = parse_html(html if html is not None else "")
                    out = interp.interpret_document(statements, root, url)
                    results.append(to_json(out))
                    errors.append(None)
                except ScrapelectError as e:
                    if fail_fast:
                        raise
                    results.append(None)
                    errors.append(str(e))
            yield pd.DataFrame({"url": urls, "result": results, "error": errors})

    return pages.mapInPandas(run_batches, schema=RESULT_SCHEMA)
