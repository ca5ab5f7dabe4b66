"""``extract`` workload: ``operators.extract.extract()`` with the
image+caption program over a page table read from parquet, written
to a noop sink.  Read-only: no frontier, no commits."""

from __future__ import annotations

import os
import time
from multiprocessing import get_context

from . import gen
from .common import fresh_dir, force, median

SIZES = {"full": {"n_pages": 6000, "ladder_pages": 1000}, "tiny": {"n_pages": 300, "ladder_pages": 100}}


def _expected(chunk: list[tuple[str, str]]) -> list[tuple[str, str | None, str | None]]:
    """The in-process Interpreter's (url, result, error) per page."""
    from scrapelect_spark.errors import ScrapelectError
    from scrapelect_spark.functions.dom import parse_html
    from scrapelect_spark.functions.interpreter import Interpreter
    from scrapelect_spark.functions.value import to_json
    from scrapelect_spark.operators.extract import compile_scrp

    statements = compile_scrp(gen.PROGRAM)
    interp = Interpreter()
    out = []
    for url, html in chunk:
        try:
            out.append((url, to_json(interp.interpret_document(statements, parse_html(html), url)), None))
        except ScrapelectError as e:
            out.append((url, None, str(e)))
    return out


def prepare(b, size: str) -> None:
    """Before the session starts: generate the pages once and compute
    the reference outputs on nproc processes (not part of set-up)."""
    rows = gen.page_table(b.seed, SIZES[size]["n_pages"])
    k = b.cores
    with get_context("spawn").Pool(k) as pool:
        parts = pool.map(_expected, [rows[i::k] for i in range(k)])
    b.state["expected"] = {u: (r, e) for part in parts for u, r, e in part}


def _write_pages(b, size: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = gen.page_table(b.seed, SIZES[size]["n_pages"])
    d = fresh_dir(os.path.join(b.work, "pages"))
    for i in range(b.cores):
        part = rows[i :: b.cores]
        pq.write_table(
            pa.table({"url": [u for u, _ in part], "html": [h for _, h in part]}),
            os.path.join(d, f"part-{i:03d}.parquet"),
        )
    b.state["rows"] = rows
    return d


def run(b, size: str) -> None:
    from scrapelect_spark.operators.extract import extract

    spark = b.spark
    d = b.setup_repeated(lambda: _write_pages(b, size))
    rows = b.state["rows"]

    # warm-up pass, collected: its output is the one checked
    with b.setup_once("warmup"):
        out = extract(spark.read.parquet(d), gen.PROGRAM).toPandas()
    expected = b.state["expected"]
    got = {
        u: (r if isinstance(r, str) else None, e if isinstance(e, str) else None)
        for u, r, e in zip(out["url"], out["result"], out["error"])
    }
    bad = sum(1 for u in expected if got.get(u) != expected[u]) + len(set(got) - set(expected))
    b.check(bad == 0 and len(out) == len(rows), failed=bad)
    n_err = int(out["error"].notna().sum())

    def one_pass() -> float:
        spark.catalog.clearCache()
        t = time.perf_counter()
        force(extract(spark.read.parquet(d), gen.PROGRAM))
        return time.perf_counter() - t

    passes = b.timed_loop(one_pass, min_iters=3)
    p50 = median(passes)
    b.attempted = len(rows) * len(passes)
    b.e2e(items_per_s=b.attempted / sum(passes), step_p50_s=p50, ok_share=1 - n_err / len(rows))

    if not b.trace.enabled:
        return
    from .kernels import extract_ladder

    b.layer(**extract_ladder(b, rows[: SIZES[size]["ladder_pages"]]))
    with b.trace.span("extract.pass", key="traced") as s:
        j0 = b.jobs.last_job()
        traced = one_pass()
        s.update(b.jobs.since(j0))
    b.layer(**{"trace.overhead_share": traced / p50 - 1})
    from . import wl_crawl, wl_curate

    wl_crawl.side_probe(b, ladder=False)
    wl_curate.side_probe(b)
