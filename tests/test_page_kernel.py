"""The scrp page kernel: ``operators.extract.evaluate_page`` is the one
place a program meets a page.  Its policy: a ``ScrapelectError`` is the
page's error value, anything else propagates and fails the task."""

import ast
import os

import pytest

from scrapelect_spark.functions.dom import parse_html
from scrapelect_spark.functions.interpreter import Interpreter
from scrapelect_spark.functions.registry import extended_registry, register_filter
from scrapelect_spark.operators.extract import compile_scrp, evaluate_page

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scrapelect_spark"
)
PAGE = parse_html("<html><body><p>hi</p></body></html>")


def _raising_registry():
    reg = extended_registry()

    @register_filter(reg, "boom", value_type="string")
    def boom(value):
        raise RuntimeError("a bug in a user filter")

    return reg


def test_a_record_is_its_compact_json():
    stmts = compile_scrp("p: p { t: $element | text(); } | take(key: \"t\");")
    assert evaluate_page(Interpreter(), stmts, "u", PAGE) == ('{"p":"hi"}', None)


def test_a_scrapelect_error_is_the_error_value():
    result, error = evaluate_page(Interpreter(), compile_scrp("x: h1 {};"), "u", PAGE)
    assert result is None
    assert error.startswith("expected exactly one value, got none")


def test_any_other_exception_propagates():
    interp = Interpreter(registry=_raising_registry())
    with pytest.raises(RuntimeError, match="a bug in a user filter"):
        evaluate_page(interp, compile_scrp('x: "s" | boom();'), "u", PAGE)


def test_extract_fails_the_task_on_a_non_scrp_exception(spark):
    from pyspark.errors.exceptions.captured import PythonException

    from scrapelect_spark.operators.extract import extract

    pages = spark.createDataFrame([("u", "<html></html>")], "url string, html string")
    df = extract(pages, 'x: "s" | boom();', registry=_raising_registry())
    with pytest.raises(PythonException, match="a bug in a user filter"):
        df.collect()
    (row,) = extract(pages, 'x: "s" | shout();', registry=_raising_registry()).collect()
    assert row.result is None and "unrecognized filter `shout`" in row.error


def _modules():
    for d, _, files in os.walk(PACKAGE):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(d, f)
                with open(path) as fh:
                    yield os.path.relpath(path, PACKAGE), ast.parse(fh.read())


def _method_calls(tree, name):
    return [
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == name
    ]


def test_only_the_page_kernel_interprets_a_document():
    sites = {rel: _method_calls(t, "interpret_document") for rel, t in _modules()}
    assert {rel for rel, lines in sites.items() if lines} == {"operators/extract.py"}
    assert len(sites["operators/extract.py"]) == 1


def test_page_paths_apply_rows_through_map_rows():
    trees = dict(_modules())
    for rel in ("operators/extract.py", "streaming/crawl.py", "streaming/recrawl.py"):
        assert _method_calls(trees[rel], "mapInPandas") == [], rel
