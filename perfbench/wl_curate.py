"""``curate`` workload: one pass over a pinned list of catalog gates,
each materialized to a noop sink, over catalog tables generated into
the run's workdir.  Each gate's output is checked against its DuckDB
``ORACLE_SQL`` twin, compared as the oracle-parity tests compare."""

from __future__ import annotations

import os
import sys
import time

from . import gen
from .common import ROOT, force, median

#: One gate per family the operator layer serves, few enough that a
#: run (cold warm-up pass plus two timed passes) fits its time budget.
GATES = (
    "image_autorotate",  # materialization barrier: a winner
    "q18_large_volume",  # materialization barrier: the loser; relational
    "audio_g711_roundtrip",  # per-document kernel gate
    "crawl_og_pairs",  # curation: scrp over a table
    "crawl_revalidate_classify",  # recrawl classification
)
SIZES = {"full": 1.0, "tiny": 0.3}


def run(b, size: str) -> None:
    spark = b.spark
    sys.path.insert(0, os.path.join(ROOT, "tests"))
    from scrapelect_spark.operators.catalog import ORACLE_SQL, QUERIES
    from test_oracle_parity import assert_frames_match, run_oracle

    d = os.path.join(b.work, "catalog")
    b.setup_repeated(lambda: gen.catalog_tables(b.seed, d, scale=SIZES[size]))

    # warm-up pass, collected: its outputs are the ones checked
    bad = []
    with b.setup_once("warmup"):
        got = {}
        for g in GATES:
            try:
                with b.trace.span("operators.gate.warmup", key=g):
                    got[g] = QUERIES[g](spark, d).toPandas()
            except Exception as e:  # a gate that raises fails the check
                bad.append(f"{g}: {type(e).__name__}: {e}")
            spark.catalog.clearCache()
    for g, pdf in got.items():
        try:
            if len(pdf) == 0:
                raise AssertionError(f"{g}: empty result")
            assert_frames_match(g, pdf, run_oracle(ORACLE_SQL[g], d))
        except AssertionError as e:
            bad.append(str(e)[:300])
    b.check(not bad, failed=len(bad), detail=bad)

    def one_pass() -> float:
        t = time.perf_counter()
        for g in GATES:
            force(QUERIES[g](spark, d))
            spark.catalog.clearCache()
        return time.perf_counter() - t

    passes = b.timed_loop(one_pass, min_iters=2)
    p50 = median(passes)
    b.attempted = len(GATES) * len(passes)
    b.info.update(pass_walls=passes)
    b.e2e(items_per_s=b.attempted / sum(passes), step_p50_s=p50, ok_share=1 - len(bad) / len(GATES))

    if b.trace.enabled:
        traced_s = _layers(b, d)
        b.layer(**{"trace.overhead_share": traced_s / p50 - 1})
        from .wl_crawl import side_probe

        side_probe(b)


def side_probe(b) -> None:
    """Every operator-layer metric for the traced run of another
    workload: one pass, cold, over ``tiny`` tables on this run's seed."""
    d = os.path.join(b.work, "catalog-probe")
    gen.catalog_tables(b.seed, d, scale=SIZES["tiny"])
    with b.trace.span("probe.operators"):
        _layers(b, d)


def _layers(b, d: str) -> float:
    """One traced pass (per-gate seconds and jobs), then the gate-floor
    rungs.  Returns the pass wall."""
    from scrapelect_spark.operators.catalog import QUERIES

    spark = b.spark
    with b.trace.span("operators.pass", key="traced") as p:
        for g in GATES:
            with b.trace.span("operators.gate", key=g) as s:
                j0 = b.jobs.last_job()
                force(QUERIES[g](spark, d))
                spark.catalog.clearCache()
            s.update(b.jobs.since(j0))
            b.layer(**{f"operators.{g}.s": s["end"] - s["start"], f"operators.{g}.jobs": s["jobs"]})

    docs = spark.read.parquet(f"{d}/documents.parquet")
    floor = {
        "noop_s": lambda: force(spark.range(1)),
        "scan_s": lambda: force(docs),
        "scan_sort_s": lambda: force(docs.orderBy("doc_id")),
    }
    for name, fn in floor.items():
        ts = []
        for _ in range(5):
            with b.trace.span(f"operators.floor.{name}") as s:
                fn()
            ts.append(s["end"] - s["start"])
        b.layer(**{f"operators.floor.{name}": median(ts)})
    return p["end"] - p["start"]
