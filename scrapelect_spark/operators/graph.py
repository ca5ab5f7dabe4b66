"""Link-graph analytics over the crawl corpus: distributed PageRank.

A crawl frontier at the 10^10-URL design point (BASELINE.json
north_rule) feeds a link graph whose stationary visit distribution —
PageRank — is the canonical priority signal for recrawl scheduling and
spam demotion.  The reference engine (suaviloquence/scrapelect) stops
at per-page extraction; this module adds the graph tier a web-scale
deployment of it needs, as a third oracle-checked ITERATIVE algorithm
next to power iteration and k-means (``operators/simsearch.py``).

Scale shape (the part that matters at 100 TB):

- the edge list is hash-partitioned by ``src`` ONCE and cached; the
  rank vector lives as an N-row DataFrame hash-partitioned by ``node``
  — it is NEVER collected to the driver and NEVER broadcast (at 10^10
  nodes either would be fatal);
- each round is: co-partitioned edges⋈ranks sort-merge join (no
  exchange — both sides are hash-partitioned on their join key), a
  map-side-combined ``groupBy(dst)`` contribution sum (the ONE
  exchange per round), and a co-partitioned left join back onto the
  node set (agg output is already hash-partitioned by dst).
  ``tests/test_plans.py`` asserts this shape with auto-broadcast
  disabled;
- cross-engine hash-exactness uses the house DECIMAL discipline: the
  per-edge contribution ``rank/outdeg`` is an IEEE double division in
  both engines, quantized to DECIMAL(28,12) before the orderless sum,
  and the damping update ``base + 0.85*s`` is the same expression tree
  on both sides, so the DuckDB MATERIALIZED-CTE twin matches
  bit-for-bit.

The graph itself is derived deterministically from the ``documents``
table (no external data, per the brief): doc ``i`` has out-degree
``2 + i % 4`` and links to ``(i*31 + j*97 + 7) % N`` — a fixed sparse
multigraph with sources and sinks in the in-link distribution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tables import load, scan_partitions, sized_session

_DEC = "decimal(28,12)"
_PAGERANK_ROUNDS = 8
_DAMPING = 0.85


def _link_edges(d: DataFrame, n: int) -> DataFrame:
    """Deterministic sparse link graph over doc ids 0..n-1:
    src i → dst (i*31 + j*97 + 7) % n for j in 0..(2 + i%4)-1."""
    src = F.col("doc_id")
    outdeg = (F.lit(2) + src % 4).alias("outdeg")
    return (
        d.select(src.alias("src"), outdeg)
        .select(
            "src",
            "outdeg",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("outdeg") - 1)).alias(
                "j"
            ),
        )
        .select(
            "src",
            "outdeg",
            ((F.col("src") * 31 + F.col("j") * 97 + 7) % n).alias("dst"),
        )
    )


def _pagerank_round(
    nodes: DataFrame, edges: DataFrame, ranks: DataFrame, base: float
) -> DataFrame:
    """One damped PageRank round.  ``edges`` is hash-partitioned by
    src, ``ranks``/``nodes`` by node → the only exchange in this plan
    is the map-side-combined groupBy(dst); no broadcast anywhere
    (plan-asserted).  The contribution quantizes to DECIMAL(28,12)
    before the sum so the reduction is order-independent and
    hash-exact vs the DuckDB twin."""
    s = (
        edges.join(ranks, edges["src"] == ranks["node"])
        .select(
            "dst",
            (F.col("rank") / F.col("outdeg")).cast(_DEC).alias("c"),
        )
        .groupBy("dst")
        .agg(F.sum("c").cast("double").alias("s"))
    )
    return nodes.join(s, nodes["node"] == s["dst"], "left").select(
        "node",
        (
            F.lit(base)
            + F.lit(_DAMPING) * F.coalesce(F.col("s"), F.lit(0.0))
        ).alias("rank"),
    )


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: 8 rounds of damped (0.85) PageRank over the deterministic
    document link graph, uniform 1/N start.  Output (node, rank
    rounded to 12) for every node, ordered by node.

    The rank vector stays distributed for the whole loop — each round
    persists the new N-row vector (hash-partitioned by node, preserved
    by InMemoryRelation), eagerly materializes it to truncate the
    lineage, and unpersists the previous round.  The driver never
    holds more than loop-control state.
    """
    d = load(spark, sf_dir, "documents")
    n = int(d.agg(F.max("doc_id")).first()[0]) + 1
    base = 0.15 / n

    # Loop partitioning sized to the input (guide §2 scale-adaptive
    # partitioning): one partition per ~16 MiB of input, so the
    # 8-round loop schedules input-proportional stages instead of
    # shuffle.partitions-sized ones — at bench scale each round is a
    # couple of tasks, at 10^10 nodes the same derivation yields
    # thousands of partitions.  The loop plans in a child session
    # carrying that count; the caller's session is never written.
    p = scan_partitions(d)
    d = load(sized_session(spark, p), sf_dir, "documents")
    edges = _link_edges(d, n).repartition(p, "src").persist()
    nodes = (
        d.select(F.col("doc_id").alias("node"))
        .repartition(p, "node")
        .persist()
    )
    try:
        edges.count()
        nodes.count()
        ranks = nodes.select("node", F.lit(1.0 / n).alias("rank")).persist()
        ranks.count()
        for _ in range(_PAGERANK_ROUNDS):
            nxt = _pagerank_round(nodes, edges, ranks, base).persist()
            nxt.count()
            ranks.unpersist()
            ranks = nxt
        # The N-row rank vector is NEVER collected to the driver (at
        # 10^10 nodes that is fatal): the result stays a distributed
        # DataFrame backed by the final round's cache — a production
        # run writes it straight back to the frontier priority table.
        # The final cache is deliberately left alive for the consumer;
        # if evicted, the deterministic lineage recomputes.
        return ranks.select(
            "node", F.round("rank", 12).alias("rank")
        ).orderBy("node")
    finally:
        edges.unpersist()
        nodes.unpersist()


def _pagerank_sql() -> str:
    # MATERIALIZED is load-bearing (see _power_iteration_sql): each
    # round references the previous CTE; inlining would re-evaluate
    # the whole chain exponentially.
    cte = [
        "nn AS MATERIALIZED (SELECT MAX(doc_id) + 1 AS n FROM documents)",
        """edges AS MATERIALIZED (
  SELECT src, outdeg, (src * 31 + j * 97 + 7) % (SELECT n FROM nn) AS dst
  FROM (
    SELECT doc_id AS src,
           CAST(2 + doc_id % 4 AS BIGINT) AS outdeg,
           unnest(range(0, 2 + doc_id % 4)) AS j
    FROM documents
  )
)""",
        """nodes AS MATERIALIZED (SELECT doc_id AS node FROM documents)""",
        """r0 AS MATERIALIZED (
  SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes
)""",
    ]
    for i in range(1, _PAGERANK_ROUNDS + 1):
        cte.append(f"""s{i} AS MATERIALIZED (
  SELECT e.dst AS node,
    CAST(SUM(CAST(r.rank / e.outdeg AS DECIMAL(28,12))) AS DOUBLE) AS s
  FROM edges e JOIN r{i - 1} r ON e.src = r.node
  GROUP BY e.dst
)""")
        cte.append(f"""r{i} AS MATERIALIZED (
  SELECT n0.node,
    CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
      + CAST(0.85 AS DOUBLE) * COALESCE(s.s, CAST(0 AS DOUBLE)) AS rank
  FROM nodes n0 LEFT JOIN s{i} s USING (node)
)""")
    last = _PAGERANK_ROUNDS
    return (
        "WITH "
        + ",\n".join(cte)
        + f"""
SELECT node, ROUND(rank, 12) AS rank
FROM r{last}
ORDER BY node
"""
    )


_HITS_ROUNDS = 6


def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg HITS over the same deterministic link graph — hubs
    point at good authorities, authorities are pointed at by good
    hubs; the second eigen-pair signal next to PageRank (hub scores
    rank link DIRECTORIES, authority scores rank DESTINATIONS — both
    feed crawl prioritization).

    Each round: a ← Σ_in h then L1-normalize, h ← Σ_out a then
    L1-normalize.  Scale shape = PageRank's: edges hash-partitioned by
    src once, score vectors stay distributed, each half-round is one
    co-partitioned join + one map-side-combined groupBy exchange; the
    ONLY thing the driver ever holds is the two normalization scalars
    per round (exact DECIMAL sums cast to double — the same value in
    both engines, so the division is hash-exact)."""
    cut = F.col("doc_id") < 400
    d = load(spark, sf_dir, "documents").filter(cut)
    n = int(d.agg(F.max("doc_id")).first()[0]) + 1

    # input-sized loop partitioning in a child session, as in PageRank
    p = scan_partitions(d)
    d = load(sized_session(spark, p), sf_dir, "documents").filter(cut)
    edges = (
        _link_edges(d, n)
        .select("src", "dst")
        .repartition(p, "src")
        .persist()
    )
    nodes = (
        d.select(F.col("doc_id").alias("node"))
        .repartition(p, "node")
        .persist()
    )
    try:
        edges.count()
        nodes.count()
        hubs = nodes.select("node", F.lit(1.0).alias("h"))
        auths = None
        for _ in range(_HITS_ROUNDS):
            # each half-round: one co-partitioned join + one grouped
            # exchange; the raw vector is localCheckpoint'ed LAZILY so
            # the normalization aggregate right below both materializes
            # the cache and reads the scalar in ONE job (the r5 eager
            # form paid a separate materialization job per half-round);
            # the checkpoint still truncates the logical plan to
            # ROUND-SIZED — persist alone leaves a lineage whose
            # analysis cost grows superlinearly with rounds (measured:
            # round 5 took 11s against round 0's 1s)
            a_full = (
                nodes.join(
                    edges.join(hubs, edges["src"] == hubs["node"])
                    .groupBy("dst")
                    .agg(
                        F.sum(F.col("h").cast(_DEC))
                        .cast("double")
                        .alias("ra")
                    ),
                    nodes["node"] == F.col("dst"),
                    "left",
                )
                .select("node", F.coalesce("ra", F.lit(0.0)).alias("ra"))
                .localCheckpoint(eager=False)
            )
            za = float(
                a_full.agg(
                    F.sum(F.col("ra").cast(_DEC)).cast("double")
                ).first()[0]
            )
            auths = a_full.select(
                "node", (F.col("ra") / F.lit(za)).alias("a")
            )
            h_full = (
                nodes.join(
                    edges.join(auths, edges["dst"] == auths["node"])
                    .groupBy("src")
                    .agg(
                        F.sum(F.col("a").cast(_DEC))
                        .cast("double")
                        .alias("rh")
                    ),
                    nodes["node"] == F.col("src"),
                    "left",
                )
                .select("node", F.coalesce("rh", F.lit(0.0)).alias("rh"))
                .localCheckpoint(eager=False)
            )
            zh = float(
                h_full.agg(
                    F.sum(F.col("rh").cast(_DEC)).cast("double")
                ).first()[0]
            )
            hubs = h_full.select(
                "node", (F.col("rh") / F.lit(zh)).alias("h")
            )
        return (
            hubs.join(auths, "node")
            .select(
                "node",
                F.round("h", 10).alias("hub"),
                F.round("a", 10).alias("authority"),
            )
            .orderBy("node")
        )
    finally:
        edges.unpersist()
        nodes.unpersist()


def _hits_sql() -> str:
    cte = [
        "nn AS MATERIALIZED (SELECT MAX(doc_id) + 1 AS n FROM documents "
        "WHERE doc_id < 400)",
        """edges AS MATERIALIZED (
  SELECT src, (src * 31 + j * 97 + 7) % (SELECT n FROM nn) AS dst
  FROM (
    SELECT doc_id AS src,
           unnest(range(0, 2 + doc_id % 4)) AS j
    FROM documents WHERE doc_id < 400
  )
)""",
        "nodes AS MATERIALIZED (SELECT doc_id AS node FROM documents "
        "WHERE doc_id < 400)",
        "h0 AS MATERIALIZED (SELECT node, CAST(1.0 AS DOUBLE) AS h "
        "FROM nodes)",
    ]
    for i in range(1, _HITS_ROUNDS + 1):
        cte.append(f"""ar{i} AS MATERIALIZED (
  SELECT n0.node,
    COALESCE(x.s, CAST(0 AS DOUBLE)) AS ra
  FROM nodes n0 LEFT JOIN (
    SELECT e.dst AS node,
      CAST(SUM(CAST(h.h AS DECIMAL(28,12))) AS DOUBLE) AS s
    FROM edges e JOIN h{i - 1} h ON e.src = h.node
    GROUP BY e.dst
  ) x USING (node)
)""")
        cte.append(f"""az{i} AS MATERIALIZED (
  SELECT CAST(SUM(CAST(ra AS DECIMAL(28,12))) AS DOUBLE) AS z FROM ar{i}
)""")
        cte.append(f"""a{i} AS MATERIALIZED (
  SELECT node, ra / (SELECT z FROM az{i}) AS a FROM ar{i}
)""")
        cte.append(f"""hr{i} AS MATERIALIZED (
  SELECT n0.node,
    COALESCE(x.s, CAST(0 AS DOUBLE)) AS rh
  FROM nodes n0 LEFT JOIN (
    SELECT e.src AS node,
      CAST(SUM(CAST(a.a AS DECIMAL(28,12))) AS DOUBLE) AS s
    FROM edges e JOIN a{i} a ON e.dst = a.node
    GROUP BY e.src
  ) x USING (node)
)""")
        cte.append(f"""hz{i} AS MATERIALIZED (
  SELECT CAST(SUM(CAST(rh AS DECIMAL(28,12))) AS DOUBLE) AS z FROM hr{i}
)""")
        cte.append(f"""h{i} AS MATERIALIZED (
  SELECT node, rh / (SELECT z FROM hz{i}) AS h FROM hr{i}
)""")
    last = _HITS_ROUNDS
    return (
        "WITH "
        + ",\n".join(cte)
        + f"""
SELECT h.node, ROUND(h.h, 10) AS hub, ROUND(a.a, 10) AS authority
FROM h{last} h JOIN a{last} a USING (node)
ORDER BY h.node
"""
    )


QUERIES = {
    "graph_pagerank": graph_pagerank,
    "graph_hits": graph_hits,
}

ORACLE_SQL = {
    "graph_pagerank": _pagerank_sql(),
    "graph_hits": _hits_sql(),
}
