"""In-process, one-core timings of the pure-Python layers, over a
fixed sample of a workload's own pages: the program compile, HTML
parse, the interpreter, JSON serialization and link extraction."""

from __future__ import annotations

import time

from .common import median


def compile_ms(program: str, reps: int = 200) -> float:
    from scrapelect_spark.plans.parser import parse_program

    ts = []
    for _ in range(reps):
        t = time.perf_counter()
        parse_program(program)
        ts.append(time.perf_counter() - t)
    return median(ts) * 1e3


def page_kernels(pages: list[tuple[str, str]], program: str, reps: int = 2) -> dict[str, float]:
    """Per-page microseconds of each kernel (median over ``reps``
    passes of the sample), and the whole-kernel rate (rung 1 of the
    extract ladder: parse + interpret + to_json, pages per second)."""
    from scrapelect_spark.errors import ScrapelectError
    from scrapelect_spark.functions.dom import parse_html
    from scrapelect_spark.functions.interpreter import Interpreter
    from scrapelect_spark.functions.value import to_json
    from scrapelect_spark.operators.extract import compile_scrp
    from scrapelect_spark.streaming.crawl import extract_links

    statements = compile_scrp(program)
    interp = Interpreter()
    n = len(pages)
    cols: dict[str, list[float]] = {k: [] for k in ("parse", "interp", "json", "links")}
    for _ in range(reps):
        t = time.perf_counter()
        roots = [parse_html(html) for _, html in pages]
        cols["parse"].append(time.perf_counter() - t)
        t = time.perf_counter()
        outs = []
        for (url, _), root in zip(pages, roots):
            try:
                outs.append(interp.interpret_document(statements, root, url))
            except ScrapelectError:
                pass
        cols["interp"].append(time.perf_counter() - t)
        t = time.perf_counter()
        for o in outs:
            to_json(o)
        cols["json"].append(time.perf_counter() - t)
        t = time.perf_counter()
        for (url, _), root in zip(pages, roots):
            extract_links(root, url)
        cols["links"].append(time.perf_counter() - t)
    us = {k: median(v) / n * 1e6 for k, v in cols.items()}
    return {
        "functions.dom.parse_html_us": us["parse"],
        "functions.interpreter.interpret_us": us["interp"],
        "functions.value.to_json_us": us["json"],
        "streaming.crawl.extract_links_us": us["links"],
        "operators.extract.kernel_pages_per_s": 1e6 / (us["parse"] + us["interp"] + us["json"]),
    }


def extract_ladder(b, pages: list[tuple[str, str]]) -> dict[str, float]:
    """The extract ladder over one sample of (url, html) pages: rung 1
    is the in-process kernel (with its per-kernel split); rungs 2 and 3
    run ``extract()`` through ``mapInPandas`` on the same pages, cached
    first as one partition, then as nproc partitions; the boundary
    share is what rung 3 loses against nproc × rung 1."""
    from scrapelect_spark.operators.extract import extract

    from . import gen
    from .common import force

    out = page_kernels(pages, gen.PROGRAM)
    frame = b.spark.createDataFrame(pages, "url string, html string")
    for name, parts in (("udf_1part_pages_per_s", 1), ("udf_pages_per_s", b.cores)):
        df = frame.repartition(parts).cache()
        df.count()
        ts = []
        for _ in range(2):
            with b.trace.span(f"operators.extract.{name}") as s:
                force(extract(df, gen.PROGRAM))
            ts.append(s["end"] - s["start"])
        df.unpersist()
        out[f"operators.extract.{name}"] = len(pages) / median(ts)
    out["operators.extract.boundary_share"] = 1 - out["operators.extract.udf_pages_per_s"] / (
        b.cores * out["operators.extract.kernel_pages_per_s"]
    )
    return out
