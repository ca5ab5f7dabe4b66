"""Aggregated query catalog: every operator exposed to the driver's
correctness gate (one ``queries()`` + ``oracle_sql()`` entry each)."""

from __future__ import annotations

from . import (
    curation,
    dedup,
    graph,
    imagemeta,
    multimodal,
    relational,
    scrp_queries,
    simsearch,
    textstats,
    tokenizer,
    warc_io,
)
from ..streaming import windows as streaming_windows

QUERIES = {}
ORACLE_SQL = {}
for mod in (relational, dedup, simsearch, textstats, scrp_queries, multimodal,
            streaming_windows, warc_io, imagemeta, graph, curation,
            tokenizer):
    QUERIES.update(mod.QUERIES)
    ORACLE_SQL.update(mod.ORACLE_SQL)

assert set(QUERIES) == set(ORACLE_SQL)
