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
so :func:`evaluate_page` — the one place a program meets a page, for
``extract()``, the crawl's extract pass, the recrawl and the
sequential reference crawler alike — turns a ``ScrapelectError`` into
that page's ``error`` value.  Any other exception is a bug, not a bad
page: it propagates and fails the task.  Pass ``fail_fast=True`` for
reference-parity abort semantics (golden tests).

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

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql.types import StringType, StructField, StructType

from ..errors import ScrapelectError
from ..functions.dom import parse_html
from ..functions.interpreter import Interpreter, corpus_fetcher, warm_selectors
from ..functions.value import to_json
from ..plans.parser import parse_program
from .tables import map_rows, per_task

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


def evaluate_page(
    interp: Interpreter, statements, url: str, root
) -> tuple[Optional[str], Optional[str]]:
    """The page kernel: evaluate a compiled program on one parsed page
    → ``(result, error)``.  ``result`` is the record's compact JSON; a
    ``ScrapelectError`` (the program failing on this page) gives its
    message as ``error`` instead.  Any other exception propagates."""
    try:
        return to_json(interp.interpret_document(statements, root, url)), None
    except ScrapelectError as e:
        return None, str(e)


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

    ``corpus`` (url → html) backs URL recursion inside the UDF through
    ``functions.interpreter.corpus_fetcher``, with one parse cache per
    task; it is broadcast once per call, and only when given.  At crawl
    scale the frontier loop owns link-following instead.

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

    def make_interpreter() -> Interpreter:
        from ..functions.filters import FILTERS

        resolve = corpus_fetcher(corpus_bc.value if corpus_bc is not None else {})
        docs: dict[str, object] = {}

        def fetch(url: str):
            if url not in docs:
                docs[url] = parse_html(resolve(url))
            return docs[url]

        return Interpreter(fetcher=fetch, registry=registry or FILTERS)

    interpreter = per_task(make_interpreter)

    def page(url, html):
        root = parse_html(html if html is not None else "")
        result, error = evaluate_page(interpreter(), statements, url, root)
        if error is not None and fail_fast:
            raise ScrapelectError(error)
        yield {"url": url, "result": result, "error": error}

    return map_rows(pages.select(url_col, html_col), page, RESULT_SCHEMA)
