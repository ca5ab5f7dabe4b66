"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its seed and size arguments:
the same seed gives byte-identical inputs in any process.

- :func:`web` — a synthetic web of image+caption gallery pages for the
  ``crawl`` workload (Zipf-skewed hosts, mostly already-seen outlinks,
  planted dead links, ``rel=nofollow`` anchors and meta-robots pages).
- :func:`page_table` — a flat table of the same kind of pages for the
  ``extract`` workload, with a planted share the program raises on.
- :func:`catalog_tables` — the TPC-H-like tables the ``curate`` gates
  read, written as one parquet file per table.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import numpy as np

#: The image+caption scrp program: nested ``*`` blocks with
#: ``attrs``/``take``/``text``.  A ``<figure>`` without a
#: ``<figcaption>`` makes it raise (the unqualified block wants one).
PROGRAM = """\
title: h1 { t: $element | text(); } | take(key: "t");
figures: figure {
    img: img { a: $element | attrs(); } | take(key: "a");
    caption: figcaption { c: $element | text(); } | take(key: "c");
    tags: span.tag { t: $element | text(); }* | take(key: "t")*;
}*;
"""

_WORDS = (
    "red blue green small large old new quiet busy river mountain city "
    "street harbor forest field bridge tower market garden winter summer "
    "morning evening portrait landscape crowd bird dog cat boat train"
).split()


def _caption(rng: random.Random, n: int) -> str:
    return " ".join(rng.choices(_WORDS, k=n))


def _figures(rng: random.Random, base: str, n_fig: int, broken: bool) -> str:
    out = []
    for j in range(n_fig):
        tags = "".join(
            f'<span class="tag">{t}</span>' for t in rng.choices(_WORDS, k=rng.randrange(4))
        )
        cap = (
            ""
            if broken and j == n_fig - 1
            else f"<figcaption>{_caption(rng, rng.randrange(3, 12))}</figcaption>"
        )
        out.append(
            f'<figure class="ph"><img src="{base}/img/{j}.jpg" '
            f'alt="{_caption(rng, 2)}" width="{rng.randrange(64, 1024)}">'
            f"{tags}{cap}</figure>"
        )
    return "".join(out)


def _page(title: str, head: str, body: str) -> str:
    return (
        f"<html><head><title>{title}</title>{head}</head><body>"
        f"<h1>{title}</h1>{body}</body></html>"
    )


#: Shape of the synthetic web; see :func:`web`.
N_HOSTS, ZIPF_S = 24, 1.1
FANOUT, BACK_LINKS, CROSS_HOST_SHARE = 3, 6, 0.3
DEAD_POOL, DEAD_SHARE, NOFOLLOW_SHARE = 40, 0.03, 0.05
META_ROBOTS_SHARE, WEB_RAISE_SHARE = 0.03, 0.02
N_PROBES = 4000
#: Share of page-table pages the program raises on.
TABLE_RAISE_SHARE = 0.03


@dataclass
class Web:
    corpus: dict[str, str]  # url -> html (dead URLs are absent)
    seeds: list[tuple[str, int]]  # (url, priority)
    never_seen: list[str]  # valid URLs no page links to (bloom FPR probes)


def web(seed: int, n_pages: int, seed_every: int) -> Web:
    """A web of ``n_pages`` live gallery pages over ``N_HOSTS`` hosts,
    seeded with every ``seed_every``-th page.

    Host sizes follow Zipf(``ZIPF_S``), so host 0 is the hot host.
    Inside a host, page ``i`` links to its ``FANOUT`` tree children
    (the only links to unseen pages) plus ``BACK_LINKS`` links to
    pages at or below ``i`` and to other hosts' roots, which a BFS has
    already seen.  Of all anchors, ``DEAD_SHARE`` point at a small
    per-host pool of URLs that 404 and ``NOFOLLOW_SHARE`` carry
    ``rel=nofollow``; ``META_ROBOTS_SHARE`` of pages carry a
    meta-robots ``noindex`` or ``nofollow``, and ``WEB_RAISE_SHARE`` of
    pages have a figure without a caption, so the program raises.
    """
    rng = random.Random(seed)
    w = [1.0 / (h + 1) ** ZIPF_S for h in range(N_HOSTS)]
    sizes = [max(1, int(x / sum(w) * n_pages)) for x in w]
    corpus: dict[str, str] = {}
    for h, n_h in enumerate(sizes):
        host = f"http://h{h}.test"
        for i in range(n_h):
            r = [rng.random() for _ in range(3)]
            anchors = [f"/p/{c}" for c in range(FANOUT * i + 1, min(n_h, FANOUT * i + FANOUT + 1))]
            for _ in range(BACK_LINKS):
                if rng.random() < CROSS_HOST_SHARE:
                    anchors.append(f"http://h{rng.randrange(N_HOSTS)}.test/p/0")
                else:
                    anchors.append(f"/p/{rng.randrange(i + 1)}")
            rng.shuffle(anchors)
            links = []
            for href in anchors:
                u = rng.random()
                if u < DEAD_SHARE:
                    links.append(f'<a href="/gone/{rng.randrange(DEAD_POOL)}">x</a>')
                elif u < DEAD_SHARE + NOFOLLOW_SHARE:
                    links.append(f'<a rel="nofollow" href="{href}">x</a>')
                else:
                    links.append(f'<a href="{href}">x</a>')
            head = ""
            if r[0] < META_ROBOTS_SHARE:
                kind = "noindex" if r[1] < 0.5 else "nofollow"
                head = f'<meta name="robots" content="{kind}">'
            body = (
                _figures(rng, f"{host}/p/{i}", rng.randrange(1, 9), r[2] < WEB_RAISE_SHARE)
                + "<nav>" + "".join(links) + "</nav>"
            )
            corpus[f"{host}/p/{i}"] = _page(f"Gallery {h}/{i}", head, body)
    seeds = [(u, 100) for u in list(corpus)[::seed_every]]
    never_seen = [f"http://h{k % N_HOSTS}.test/q/{k}" for k in range(N_PROBES)]
    return Web(corpus, seeds, never_seen)


def page_table(seed: int, n_pages: int) -> list[tuple[str, str]]:
    """(url, html) gallery pages of varied size; ``TABLE_RAISE_SHARE``
    of them have a figure without a caption, so the program raises."""
    rng = random.Random(seed)
    rows = []
    for i in range(n_pages):
        url = f"http://x{i % 16}.test/g/{i}"
        n_fig = rng.randrange(1, 13)
        broken = rng.random() < TABLE_RAISE_SHARE
        body = _figures(rng, url, n_fig, broken)
        rows.append((url, _page(f"Page {i}", "", body)))
    return rows


def catalog_tables(seed: int, out_dir: str, scale: float = 1.0) -> dict[str, int]:
    """Write the catalog tables (``documents``, ``embeddings``,
    ``events``, ``customer``, ``orders``, ``lineitem`` and the small
    dimension tables) as ``<out_dir>/<name>.parquet`` with the column
    types the gates and their DuckDB twins expect.  Returns row counts.
    ``scale=1`` is about a tenth of the repo's sf0.1 fact tables."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_doc = int(1000 * scale)
    n_vec = int(1000 * scale)
    n_ev = int(20_000 * scale)
    n_cust = int(1500 * scale)
    n_ord = int(15_000 * scale)
    n_part = int(2000 * scale)
    n_supp = 100
    us = np.timedelta64(1, "us")

    def ts(base: str, span_us: np.ndarray) -> np.ndarray:
        return np.datetime64(base, "us") + span_us.astype("int64") * us

    vocab = np.array(
        "the a data spark row column table query join sort merge filter "
        "window batch stream key value hash scan part line order customer "
        "fast slow big small vector agg group".split()
    )
    n_words = rng.integers(8, 90, n_doc)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in n_words]
    tables = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype="int32"),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
        }),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [f"{a} widget" for a in rng.choice(["cold", "small", "big", "red"], n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": rng.choice(
                ["HOUSEHOLD", "BUILDING", "MACHINERY", "AUTOMOBILE", "FURNITURE"], n_cust
            ),
        }),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
            "o_orderdate": ts("1995-01-01", rng.integers(0, 2400, n_ord) * 86_400_000_000),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }),
        "events": pd.DataFrame({
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": np.sort(ts("2024-01-01", rng.integers(0, 30 * 86_400_000_000, n_ev))),
            "user_id": rng.integers(0, 150, n_ev).astype("int64"),
            "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n_ev),
            "value": np.round(rng.uniform(0.01, 490, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
        "documents": pd.DataFrame({
            "doc_id": np.arange(n_doc, dtype="int64"),
            "text": texts,
            "lang": rng.choice(["en", "fr", "es", "zh", "de"], n_doc),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }),
    }
    # lineitem: 1..7 lines per order
    per_order = rng.integers(1, 8, n_ord)
    okeys = np.repeat(np.arange(n_ord, dtype="int64"), per_order)
    n_li = len(okeys)
    qty = rng.integers(1, 51, n_li).astype("float64")
    tables["lineitem"] = pd.DataFrame({
        "l_orderkey": okeys,
        "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in per_order]).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": rng.choice(["R", "A", "N"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": ts("1995-01-02", rng.integers(0, 2500, n_li) * 86_400_000_000),
    })
    counts = {}
    for name, df in tables.items():
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(out_dir, f"{name}.parquet"),
        )
        counts[name] = len(df)
    emb = rng.normal(0, 0.12, (n_vec, 64)).astype("float32")
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(n_vec, dtype="int64")),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec).astype("int32")),
        }),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    counts["embeddings"] = n_vec
    return counts
