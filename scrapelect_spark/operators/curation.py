"""Image+caption pair curation: the end-of-pipeline pass that turns a
raw extracted corpus (the ``input_hint`` table shape — image_id,
bytes, w, h, fmt, caption, phash) into a training set.

This composes the individually-gated pieces into the LAION-style
curation cascade every large multimodal training pipeline runs:

1. decodability  — drop rows whose image failed to decode
   (``decode_error`` from :func:`multimodal.with_image_features`);
2. geometry      — minimum side length + aspect-ratio bound (tiny
   thumbnails and extreme banners are training poison);
3. caption text  — whitespace-normalized, token-count window, must
   contain letters;
4. caption dedup — exact, keep the lowest ``image_id`` per
   normalized caption (min-per-group aggregation + semi-join: one
   partial-agg shuffle, NO window over the corpus, so a
   million-copy boilerplate caption costs its group one reduce,
   not one task);
5. image near-dedup — 64-bit perceptual-hash banding
   (:func:`imagemeta.phash_neardup`, pigeonhole-exact for the
   Hamming bound, hot-bucket-salted) and greedy keep-lowest-id.

Every predicate is integer/string arithmetic in JVM expressions —
the whole cascade is oracle-verifiable and Catalyst pushes the
geometry filters into the scan.  Scale shape at 100 TB: two shuffles
(caption groups, phash bands) + two semi/anti joins, all keyed and
salt-guarded; nothing driver-side.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tables import barrier, docs, final_sort, map_rows


def curate_image_caption_pairs(
    featured: DataFrame,
    *,
    min_side: int = 64,
    max_aspect_x100: int = 300,
    min_tokens: int = 3,
    max_tokens: int = 128,
    phash_hamming: int = 7,
    n_bands: int = 8,
) -> DataFrame:
    """Curate an ``input_hint``-shaped table (post
    ``with_image_features``: has ``decode_error``) down to training
    pairs.  Returns the surviving rows as
    ``(image_id, w, h, n_tokens)``.

    The aspect bound is integer-exact (``max_side * 100 <=
    max_aspect_x100 * min_side``) so Spark and any SQL oracle agree
    bit-for-bit — no float ratios."""
    stages = _curate_stages(
        featured,
        min_side=min_side,
        max_aspect_x100=max_aspect_x100,
        min_tokens=min_tokens,
        max_tokens=max_tokens,
        phash_hamming=phash_hamming,
        n_bands=n_bands,
    )
    return stages[-1][1].select("image_id", "w", "h", "n_tokens")


def _curate_stages(
    featured: DataFrame,
    *,
    min_side: int,
    max_aspect_x100: int,
    min_tokens: int,
    max_tokens: int,
    phash_hamming: int,
    n_bands: int,
) -> list[tuple[str, DataFrame]]:
    """The cascade as an ordered (stage name, survivors) list — the
    single source both the curation operator and the funnel report
    run, so the counts a pipeline card publishes are counts of the
    EXACT DataFrames that produced the training set.  The two reused
    intermediates go through :func:`barrier` (their upstream is the
    expensive decode pass)."""
    from .imagemeta import phash_neardup

    norm = F.lower(F.trim(F.regexp_replace(F.col("caption"), r"\s+", " ")))
    decodable = featured.filter(F.col("decode_error").isNull()).filter(
        F.col("w").isNotNull() & F.col("h").isNotNull()
    )
    # min-side as two scalar comparisons (≡ least(w,h) >= min_side)
    # so Catalyst pushes both into the parquet scan — at corpus
    # scale the tiny-thumbnail majority dies in the reader
    geometry = decodable.filter(
        (F.col("w") >= min_side) & (F.col("h") >= min_side)
    ).filter(
        F.greatest("w", "h") * 100 <= max_aspect_x100 * F.least("w", "h")
    )
    viable = (
        geometry.withColumn("norm_caption", norm)
        .withColumn(
            "n_tokens", F.size(F.split(F.col("norm_caption"), " ")).cast("long")
        )
        .filter(F.col("n_tokens").between(min_tokens, max_tokens))
        .filter(F.col("norm_caption").rlike("[a-z]"))
    )

    # The cascade's tail consumes ``viable`` twice (caption-group min +
    # semi-join back) and ``deduped`` four times (band explode, both
    # sides of the candidate join, and the final anti-join), and the
    # callers' global ORDER BY adds a range-sampling pass over the whole
    # tree — without a materialization barrier the opaque upstream
    # (mapInPandas feature synthesis at gate scale, the decode pass in
    # production) re-executes once per consumer (guide §5: cache exactly
    # the reused-and-expensive intermediates).  ``localCheckpoint`` also
    # truncates the lineage, keeping the near-dup join's plan small.
    viable = viable.transform(barrier)

    # caption exact-dedup: min image_id per normalized caption
    cap_keep = (
        viable.groupBy(F.md5("norm_caption").alias("caption_key"))
        .agg(F.min("image_id").alias("image_id"))
        .select("image_id")
    )
    deduped = viable.join(cap_keep, on="image_id", how="left_semi")
    deduped = deduped.transform(barrier)

    # perceptual near-dedup among survivors: greedy keep-lowest-id
    hashed = deduped.select(
        F.col("image_id").alias("doc_id"), "phash"
    )
    drops = (
        phash_neardup(hashed, max_hamming=phash_hamming, n_bands=n_bands)
        .select(F.col("doc_b").alias("image_id"))
        .distinct()
    )
    final = deduped.join(drops, on="image_id", how="left_anti")
    return [
        ("input", featured),
        ("decodable", decodable),
        ("geometry", geometry),
        ("caption", viable),
        ("caption_dedup", deduped),
        ("phash_dedup", final),
    ]


def curate_funnel(featured: DataFrame, **params) -> DataFrame:
    """Per-stage survivor counts of the REAL curation cascade — the
    funnel row every pipeline/dataset card publishes (and the first
    thing an operator checks when a filter silently eats the corpus).
    One bounded row per stage, counted from the exact DataFrames the
    cascade executes.

    Single-pass shape (VERDICT r5 "next round" #3): the input is
    materialized ONCE (``localCheckpoint``), the cascade's reused
    intermediates are checkpointed inside :func:`_curate_stages`, and
    all six stage counts run as one UNION-of-aggregates job — the r5
    version issued six serial ``count()`` actions, each re-executing
    the shared cascade prefix (six corpus passes plus a repeated
    near-dup pair join at 100 TB)."""
    featured = featured.transform(barrier)
    stages = _curate_stages(featured, **params)
    spark = featured.sparkSession
    counts = None
    for i, (name, df) in enumerate(stages):
        branch = df.agg(
            F.count(F.lit(1)).alias("n"),
        ).select(
            F.lit(i).cast("long").alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.col("n").cast("long").alias("n_rows"),
        )
        counts = branch if counts is None else counts.unionAll(branch)
    rows = [
        (int(r.stage_idx), str(r.stage), int(r.n_rows))
        for r in counts.collect()
    ]
    rows.sort()
    return spark.createDataFrame(
        rows, "stage_idx long, stage string, n_rows long"
    ).transform(final_sort, "stage_idx")


# --- gate ---------------------------------------------------------------


def _synth_phash(doc_id: int) -> int:
    """i.i.d. 64-bit hash per doc from md5; docs ≡6 (mod 10) are
    Hamming-2 near-copies of their predecessor (same construction as
    imagemeta's pixel-level gate, minus the pixels — the pixel path is
    covered by ``image_phash_neardup``)."""
    if doc_id % 10 == 6:
        return _synth_phash(doc_id - 1) ^ 0b100000001
    v = int.from_bytes(hashlib.md5(str(doc_id).encode()).digest()[:8], "big")
    return v - (1 << 64) if v >= (1 << 63) else v


def curate_pairs_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for the full curation cascade: synthesize a deterministic
    ``input_hint``-shaped corpus per doc —

    - ``w = 32 + (doc_id % 20) * 16``, ``h = 64 + (doc_id % 15) * 32``
      (some rows fail the 64-px minimum, some the 3:1 aspect bound);
    - ``decode_error`` set on docs ≡0 (mod 17);
    - caption = ``'Tok '`` × (2 + doc_id % 12) + a group tag
      ``doc_id % 40`` ⇒ token counts 3-14 (min_tokens=4 prunes the
      short tail) and exact-duplicate groups keyed by doc_id mod 120;
    - phash near-dups: docs ≡6 (mod 10) Hamming-2 from doc_id-1 —

    run the REAL cascade, and check against an oracle that derives
    each stage's survivor set analytically."""
    return curate_image_caption_pairs(
        _curate_synth_corpus(spark, sf_dir), min_side=64,
        max_aspect_x100=300, min_tokens=4, max_tokens=128,
        phash_hamming=7, n_bands=8,
    ).transform(final_sort, "image_id")


def _curate_synth_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic input_hint-shaped gate corpus shared by the
    curation-cascade gate and the funnel report."""

    def synth(doc_id):
        yield {
            "image_id": doc_id,
            "bytes": None,
            "w": 32 + (doc_id % 20) * 16,
            "h": 64 + (doc_id % 15) * 32,
            "fmt": "png",
            "caption": "Tok " * (2 + doc_id % 12) + "grp%d" % (doc_id % 40),
            "phash": _synth_phash(doc_id),
            "decode_error": "truncated stream" if doc_id % 17 == 0 else None,
        }

    return map_rows(
        docs(spark, sf_dir, 300, "doc_id"),
        synth,
        "image_id long, bytes binary, w int, h int, fmt string, "
        "caption string, phash long, decode_error string",
    )


def curate_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: per-stage survivor counts of the curation cascade over
    the same synthetic corpus as ``curate_pairs_pipeline`` — the
    oracle derives every stage's count analytically, so a filter
    quietly eating (or passing) the wrong rows shifts a funnel count
    even when the final survivor hash happens to collide."""
    return curate_funnel(
        _curate_synth_corpus(spark, sf_dir), min_side=64,
        max_aspect_x100=300, min_tokens=4, max_tokens=128,
        phash_hamming=7, n_bands=8,
    )


# The oracle rebuilds the cascade stage-by-stage in SQL over the same
# integer formulas.  ``stage3`` = geometry+caption survivors; caption
# dedup keeps min(image_id) per (doc_id%120) group WITHIN stage3;
# near-dup drops doc ≡6 (mod 10) iff its predecessor also reached the
# phash stage.
_CURATE_SQL = """
WITH synth AS (
  SELECT doc_id AS image_id,
         CAST(32 + (doc_id % 20) * 16 AS INTEGER) AS w,
         CAST(64 + (doc_id % 15) * 32 AS INTEGER) AS h,
         CAST(3 + (doc_id % 12) AS BIGINT) AS n_tokens,
         doc_id % 120 AS caption_grp,
         (doc_id % 17 = 0) AS dead
  FROM documents WHERE doc_id < 300
),
stage3 AS (
  SELECT * FROM synth
  WHERE NOT dead
    AND LEAST(w, h) >= 64
    AND GREATEST(w, h) * 100 <= 300 * LEAST(w, h)
    AND n_tokens BETWEEN 4 AND 128
),
capdedup AS (
  SELECT * FROM (
    SELECT *, MIN(image_id) OVER (PARTITION BY caption_grp) AS keeper
    FROM stage3
  ) WHERE image_id = keeper
)
SELECT image_id, w, h, n_tokens
FROM capdedup a
WHERE NOT (a.image_id % 10 = 6 AND EXISTS (
      SELECT 1 FROM capdedup p WHERE p.image_id = a.image_id - 1))
ORDER BY image_id
"""


def extract_image_refs(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(page url, html) → one row per image REFERENCE in document
    order: ``<img src>``, every ``srcset`` candidate (descriptor kept:
    '1x'/'2x'/'640w'…), and the ``data-src`` lazy-loading fallback.
    URLs resolve against the page's effective base (``<base href>``
    honored, same helper as the crawl's link extraction) and are
    canonicalized, so the output joins directly against the frontier /
    WARC store.  This is the ingestion FRONT-END of the image+caption
    pair cascade: (img_url, alt) pairs feed the fetch stage and then
    :func:`curate_image_caption_pairs`.  Arrow-batched
    ``mapInPandas``, shuffle-free — scan → flat-map, embarrassingly
    parallel at any corpus size."""
    from ..functions.dom import parse_html
    from ..streaming.canonicalize import resolve_and_canonicalize
    from ..streaming.crawl import effective_base

    schema = (
        "page_url string, seq int, img_url string, alt string, "
        "source string, descriptor string"
    )

    def srcset(el, alt, kind):
        for cand in el.attrs["srcset"].split(","):
            parts = cand.strip().split()
            if parts:
                yield parts[0], alt, kind, parts[1] if len(parts) > 1 else "1x"

    def refs(root):
        # (raw url, alt, source, descriptor) per reference, in order
        for el in root.descendants():
            if el.tag == "source" and "srcset" in el.attrs:
                # <picture><source srcset …> candidates: the caption is
                # the sibling <img alt> per the spec
                parent = el.parent
                alt = None
                if parent is not None and parent.tag == "picture":
                    alt = next(
                        (c.attrs.get("alt")
                         for c in parent.child_elements()
                         if c.tag == "img"),
                        None,
                    )
                yield from srcset(el, alt, "source")
                continue
            if el.tag != "img":
                continue
            alt = el.attrs.get("alt")
            if "src" in el.attrs:
                yield el.attrs["src"], alt, "src", None
            if "srcset" in el.attrs:
                yield from srcset(el, alt, "srcset")
            if "src" not in el.attrs and "data-src" in el.attrs:
                yield el.attrs["data-src"], alt, "data-src", None

    def row(url, html):
        if html is None:
            return
        root = parse_html(html)
        base = effective_base(root, url)
        seq = 0
        for ref, alt, kind, desc in refs(root):
            img = resolve_and_canonicalize(ref, base)
            if img is None:
                continue
            yield {
                "page_url": url, "seq": seq, "img_url": img, "alt": alt,
                "source": kind, "descriptor": desc,
            }
            seq += 1

    return map_rows(pages.select(url_col, html_col), row, schema)


def extract_anchors(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(page url, html) → one row per ``<a href>`` in document order:
    canonicalized target, whitespace-normalized anchor TEXT, and the
    nofollow bit.  Anchor text is the classic link-graph feature
    (target-side relevance signal, caption-like training pairs,
    anchor-weighted PageRank) — the crawl's link emission keeps only
    the URL, this operator keeps the words.  Same base resolution as
    the crawl (``<base href>`` + served URL).  Arrow-batched
    ``mapInPandas``, shuffle-free scan → flat-map."""
    from ..functions.dom import parse_html
    from ..streaming.canonicalize import resolve_and_canonicalize
    from ..streaming.crawl import effective_base

    schema = (
        "page_url string, seq int, target_url string, anchor_text string, "
        "nofollow long"
    )

    def row(url, html):
        if html is None:
            return
        root = parse_html(html)
        base = effective_base(root, url)
        seq = 0
        for el in root.descendants():
            if el.tag != "a" or "href" not in el.attrs:
                continue
            target = resolve_and_canonicalize(el.attrs["href"], base)
            if target is None:
                continue
            rel = el.attrs.get("rel", "").lower().split()
            yield {
                "page_url": url, "seq": seq, "target_url": target,
                "anchor_text": " ".join(el.all_text().split()),
                "nofollow": 1 if "nofollow" in rel else 0,
            }
            seq += 1

    return map_rows(pages.select(url_col, html_col), row, schema)


def _pages(spark: SparkSession, sf_dir: str, page) -> DataFrame:
    """The crawl-extraction gates' input: one ``(url, html)`` page per
    doc (doc_id < 300), built by ``page(doc_id) -> (url, html)``."""

    def synth(doc_id):
        url, html = page(doc_id)
        yield {"url": url, "html": html}

    return map_rows(
        docs(spark, sf_dir, 300, "doc_id"), synth, "url string, html string"
    )


def crawl_anchor_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for anchor-text extraction: per doc a page with
    ``1 + doc_id%4`` links whose targets and texts are closed-form
    (``anchor i for {doc_id}``); links ≡2 (mod 3) carry
    rel=nofollow (kept as data, unlike the frontier path which drops
    them); one link has nested markup (``<b>``) that must flatten
    into the text."""

    def page(doc_id):
        links = "".join(
            '<a href="/t/{i}.html"{rel}>anchor <b>{i}</b> for {d}</a>'
            .format(
                i=i, d=doc_id,
                rel=' rel="nofollow"' if i % 3 == 2 else "",
            )
            for i in range(1 + doc_id % 4)
        )
        return (
            f"http://a{doc_id % 8}.test/p/{doc_id}.html",
            f"<html><body>{links}</body></html>",
        )

    pages = _pages(spark, sf_dir, page)
    return extract_anchors(pages).transform(final_sort, "page_url", "seq")


_ANCHORS_SQL = """
WITH p AS (
  SELECT doc_id, 1 + doc_id % 4 AS k,
         'http://a' || (doc_id % 8) || '.test' AS host,
         'http://a' || (doc_id % 8) || '.test/p/' || doc_id || '.html'
           AS page_url
  FROM documents WHERE doc_id < 300
)
SELECT page_url, CAST(i AS INTEGER) AS seq,
       host || '/t/' || i || '.html' AS target_url,
       'anchor ' || i || ' for ' || doc_id AS anchor_text,
       CAST(i % 3 = 2 AS BIGINT) AS nofollow
FROM p, (SELECT UNNEST([0, 1, 2, 3]) AS i)
WHERE i < k
ORDER BY page_url, seq
"""


def extract_og_meta(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(page url, html) → one row per page with its OpenGraph /
    Twitter-card metadata: ``og:title``, ``og:description``,
    ``og:image`` (resolved against the effective base +
    canonicalized), ``og:type``, and ``twitter:card``.  og:image +
    og:title is the publisher-blessed image-caption pair — cleaner
    than alt text when present — so this is a first-class pair-mining
    source next to :func:`extract_image_refs`.  First tag wins per
    property (the de-facto consumer rule); pages with no tags emit a
    row of nulls with ``has_og = 0``.  Shuffle-free scan →
    flat-map."""
    from ..functions.dom import parse_html
    from ..streaming.canonicalize import resolve_and_canonicalize
    from ..streaming.crawl import effective_base

    schema = (
        "page_url string, og_title string, og_description string, "
        "og_image string, og_type string, twitter_card string, "
        "has_og long"
    )
    _PROPS = ("og:title", "og:description", "og:image", "og:type")

    def row(url, html):
        if html is None:
            return
        root = parse_html(html)
        base = effective_base(root, url)
        got: dict[str, str] = {}
        for el in root.descendants():
            if el.tag != "meta":
                continue
            # OpenGraph uses property=, Twitter uses name=
            key = (
                el.attrs.get("property") or el.attrs.get("name") or ""
            ).strip().lower()
            content = el.attrs.get("content")
            if content is None:
                continue
            if (key in _PROPS or key == "twitter:card") and key not in got:
                got[key] = content.strip()
        img = got.get("og:image")
        if img is not None:
            img = resolve_and_canonicalize(img, base)
        yield {
            "page_url": url,
            "og_title": got.get("og:title"),
            "og_description": got.get("og:description"),
            "og_image": img,
            "og_type": got.get("og:type"),
            "twitter_card": got.get("twitter:card"),
            "has_og": 1 if any(k.startswith("og:") for k in got) else 0,
        }

    return map_rows(pages.select(url_col, html_col), row, schema)


def crawl_og_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for OpenGraph metadata mining: docs ≡0 (mod 4) have NO og
    tags (nulls, has_og 0); others carry og:title/description/type, a
    RELATIVE og:image that must resolve against the page directory,
    and docs ≡1 (mod 3) additionally a twitter:card; a duplicate
    og:title later in the head must NOT override the first."""

    def page(doc_id):
        metas = ""
        if doc_id % 4 != 0:
            metas = (
                f'<meta property="og:title" content="Title {doc_id}">'
                f'<meta property="og:description" '
                f'content="Desc {doc_id % 9}">'
                f'<meta property="og:image" '
                f'content="img/{doc_id}.jpg">'
                '<meta property="og:type" content="article">'
                '<meta property="og:title" content="LOSER">'
            )
            if doc_id % 3 == 1:
                metas += (
                    '<meta name="twitter:card" '
                    'content="summary_large_image">'
                )
        return (
            f"http://o{doc_id % 8}.test/p/{doc_id}.html",
            f"<html><head>{metas}</head><body>x</body></html>",
        )

    pages = _pages(spark, sf_dir, page)
    return extract_og_meta(pages).transform(final_sort, "page_url")


_OG_SQL = """
WITH p AS (
  SELECT doc_id,
         doc_id % 4 = 0 AS bare,
         'http://o' || (doc_id % 8) || '.test/p/' AS dir,
         'http://o' || (doc_id % 8) || '.test/p/' || doc_id || '.html'
           AS page_url
  FROM documents WHERE doc_id < 300
)
SELECT page_url,
       CASE WHEN bare THEN NULL ELSE 'Title ' || doc_id END AS og_title,
       CASE WHEN bare THEN NULL
            ELSE 'Desc ' || (doc_id % 9) END AS og_description,
       CASE WHEN bare THEN NULL
            ELSE dir || 'img/' || doc_id || '.jpg' END AS og_image,
       CASE WHEN bare THEN NULL ELSE 'article' END AS og_type,
       CASE WHEN NOT bare AND doc_id % 3 = 1
            THEN 'summary_large_image' ELSE NULL END AS twitter_card,
       CAST(NOT bare AS BIGINT) AS has_og
FROM p
ORDER BY page_url
"""


def extract_jsonld(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(page url, html) → one row per ``<script
    type="application/ld+json">`` block: schema.org ``@type``,
    headline/name, the primary image URL (handles the three common
    shapes — a string, a list, or an ImageObject with ``url``;
    resolved + canonicalized against the effective base),
    datePublished, and author name (string or Person object).
    JSON-LD is the third structured-metadata channel next to og:
    tags and alt text; NewsArticle/Article blocks carry the
    cleanest publisher captions.  Malformed JSON becomes a
    ``parse_error`` row — never a dead batch.  Top-level arrays and
    ``@graph`` containers emit one row per node.  Shuffle-free scan
    → flat-map."""
    import json as _json

    from ..functions.dom import parse_html
    from ..streaming.canonicalize import resolve_and_canonicalize
    from ..streaming.crawl import effective_base

    schema = (
        "page_url string, seq int, ld_type string, headline string, "
        "image_url string, date_published string, author string, "
        "parse_error string"
    )

    def _image_of(node, base):
        img = node.get("image")
        if isinstance(img, list) and img:
            img = img[0]
        if isinstance(img, dict):
            img = img.get("url")
        if isinstance(img, str) and img.strip():
            return resolve_and_canonicalize(img.strip(), base)
        return None

    def _author_of(node):
        a = node.get("author")
        if isinstance(a, list) and a:
            a = a[0]
        if isinstance(a, dict):
            a = a.get("name")
        return a if isinstance(a, str) and a.strip() else None

    def row(url, html):
        if html is None:
            return
        root = parse_html(html)
        base = effective_base(root, url)
        seq = 0
        for el in root.descendants():
            if el.tag != "script":
                continue
            if el.attrs.get("type", "").strip().lower() != (
                "application/ld+json"
            ):
                continue
            try:
                doc = _json.loads(el.all_text())
            except ValueError as e:
                yield {
                    "page_url": url, "seq": seq, "ld_type": None,
                    "headline": None, "image_url": None,
                    "date_published": None, "author": None,
                    "parse_error": f"bad JSON-LD: {e}",
                }
                seq += 1
                continue
            if isinstance(doc, dict) and "@graph" in doc:
                nodes = doc["@graph"]
            elif isinstance(doc, list):
                nodes = doc
            else:
                nodes = [doc]
            for node in nodes:
                if not isinstance(node, dict):
                    continue
                t = node.get("@type")
                if isinstance(t, list) and t:
                    t = t[0]
                headline = node.get("headline") or node.get("name")
                dp = node.get("datePublished")
                yield {
                    "page_url": url,
                    "seq": seq,
                    "ld_type": t if isinstance(t, str) else None,
                    "headline": headline if isinstance(headline, str) else None,
                    "image_url": _image_of(node, base),
                    "date_published": dp if isinstance(dp, str) else None,
                    "author": _author_of(node),
                    "parse_error": None,
                }
                seq += 1

    return map_rows(pages.select(url_col, html_col), row, schema)


def crawl_jsonld_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for JSON-LD mining: docs rotate the three image shapes
    (string / list / ImageObject) with relative URLs that must
    resolve against the page directory; docs ≡1 (mod 4) wrap the node
    in ``@graph``; docs ≡0 (mod 23) carry malformed JSON that must
    surface as a parse_error row; docs ≡0 (mod 4) have no JSON-LD at
    all (no rows)."""

    def page(doc_id):
        script = ""
        if doc_id % 23 == 0:
            script = (
                '<script type="application/ld+json">'
                "{not json</script>"
            )
        elif doc_id % 4 != 0:
            img = f"img/{doc_id}.jpg"
            if doc_id % 3 == 0:
                img_json = f'"{img}"'
            elif doc_id % 3 == 1:
                img_json = f'["{img}", "ignored.png"]'
            else:
                img_json = (
                    '{"@type": "ImageObject", "url": "%s"}' % img
                )
            node = (
                '{"@type": "NewsArticle", '
                + f'"headline": "Head {doc_id}", '
                + f'"image": {img_json}, '
                + f'"datePublished": "2024-0{1 + doc_id % 9}-02", '
                + '"author": {"@type": "Person", "name": '
                + f'"Writer {doc_id % 7}"' + "}}"
            )
            if doc_id % 4 == 1:
                node = '{"@graph": [%s]}' % node
            script = (
                f'<script type="application/ld+json">{node}'
                "</script>"
            )
        return (
            f"http://j{doc_id % 8}.test/p/{doc_id}.html",
            f"<html><head>{script}</head><body>x</body></html>",
        )

    pages = _pages(spark, sf_dir, page)
    return extract_jsonld(pages).withColumn(
        "failed",
        F.when(F.col("parse_error").isNotNull(), 1).otherwise(0)
        .cast("long"),
    ).drop("parse_error").transform(final_sort, "page_url", "seq")


_JSONLD_SQL = """
WITH p AS (
  SELECT doc_id,
         'http://j' || (doc_id % 8) || '.test/p/' AS dir,
         'http://j' || (doc_id % 8) || '.test/p/' || doc_id || '.html'
           AS page_url
  FROM documents WHERE doc_id < 300
)
SELECT page_url, CAST(0 AS INTEGER) AS seq,
       'NewsArticle' AS ld_type,
       'Head ' || doc_id AS headline,
       dir || 'img/' || doc_id || '.jpg' AS image_url,
       '2024-0' || (1 + doc_id % 9) || '-02' AS date_published,
       'Writer ' || (doc_id % 7) AS author,
       CAST(0 AS BIGINT) AS failed
FROM p WHERE doc_id % 23 <> 0 AND doc_id % 4 <> 0
UNION ALL
SELECT page_url, CAST(0 AS INTEGER), NULL, NULL, NULL, NULL, NULL,
       CAST(1 AS BIGINT)
FROM p WHERE doc_id % 23 = 0
ORDER BY page_url, seq
"""


def extract_microdata(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(page url, html) → one row per HTML-microdata PROPERTY:
    top-level ``itemscope`` elements in document order, their
    ``itemtype``, and each descendant ``itemprop`` with its value per
    the WHATWG rules-lite — ``content`` attr for ``<meta>``,
    ``src``/``href`` (base-resolved + canonicalized) for media/link
    elements, flattened text otherwise.  Completes the
    structured-data triple next to :func:`extract_og_meta` and
    :func:`extract_jsonld`.  Nested itemscopes own their props (a
    prop inside an inner scope belongs to the inner item).
    Shuffle-free scan → flat-map."""
    from ..functions.dom import parse_html
    from ..streaming.canonicalize import resolve_and_canonicalize
    from ..streaming.crawl import effective_base

    schema = (
        "page_url string, item_seq int, item_type string, "
        "prop string, value string"
    )
    _URL_ATTR = {"img": "src", "audio": "src", "video": "src",
                 "source": "src", "iframe": "src", "embed": "src",
                 "a": "href", "area": "href", "link": "href"}

    def value_of(el, base):
        if el.tag == "meta":
            return el.attrs.get("content", "").strip()
        attr = _URL_ATTR.get(el.tag)
        if attr is not None and attr in el.attrs:
            return resolve_and_canonicalize(el.attrs[attr], base)
        if el.tag == "time" and "datetime" in el.attrs:
            return el.attrs["datetime"].strip()
        return " ".join(el.all_text().split())

    def item_props(item, base):
        # DFS: props belong to the NEAREST enclosing itemscope
        stack = list(reversed(list(item.child_elements())))
        while stack:
            el = stack.pop()
            if "itemprop" in el.attrs:
                v = value_of(el, base)
                if v is not None:
                    yield el.attrs["itemprop"].strip(), v
            if "itemscope" in el.attrs:
                continue  # inner item owns its subtree
            stack.extend(reversed(list(el.child_elements())))

    def top_items(el, inside):
        # top-level itemscopes: not nested inside another scope
        if "itemscope" in el.attrs and not inside:
            yield el
            inside = True
        for c in el.child_elements():
            yield from top_items(c, inside)

    def row(url, html):
        if html is None:
            return
        root = parse_html(html)
        base = effective_base(root, url)
        for seq, item in enumerate(top_items(root, False)):
            itype = item.attrs.get("itemtype", "").strip() or None
            for prop, v in item_props(item, base):
                yield {
                    "page_url": url, "item_seq": seq, "item_type": itype,
                    "prop": prop, "value": v,
                }

    return map_rows(pages.select(url_col, html_col), row, schema)


def crawl_microdata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for microdata extraction: docs ≡0 (mod 4) have no
    itemscope (no rows); others carry one schema.org/Product item
    with a ``name`` prop (text with nested markup to flatten), a
    ``meta content`` price, and an ``img itemprop=image`` with a
    RELATIVE src that must base-resolve; docs ≡1 (mod 3) add a
    second top-level item (Person) whose prop must get item_seq 1."""

    def page(doc_id):
        body = ""
        if doc_id % 4 != 0:
            body = (
                '<div itemscope itemtype='
                '"https://schema.org/Product">'
                f'<span itemprop="name">Item <b>{doc_id}</b></span>'
                f'<meta itemprop="price" content="{doc_id % 50}.99">'
                f'<img itemprop="image" src="p/{doc_id}.png">'
                "</div>"
            )
            if doc_id % 3 == 1:
                body += (
                    '<div itemscope itemtype='
                    '"https://schema.org/Person">'
                    f'<span itemprop="name">P {doc_id % 7}</span>'
                    "</div>"
                )
        return (
            f"http://md{doc_id % 8}.test/s/{doc_id}.html",
            f"<html><body>{body}</body></html>",
        )

    pages = _pages(spark, sf_dir, page)
    return extract_microdata(pages).transform(final_sort, "page_url", "item_seq", "prop")


_MICRODATA_SQL = """
WITH p AS (
  SELECT doc_id,
         'http://md' || (doc_id % 8) || '.test/s/' AS dir,
         'http://md' || (doc_id % 8) || '.test/s/' || doc_id || '.html'
           AS page_url
  FROM documents WHERE doc_id < 300 AND doc_id % 4 <> 0
)
SELECT page_url, CAST(0 AS INTEGER) AS item_seq,
       'https://schema.org/Product' AS item_type,
       'image' AS prop, dir || 'p/' || doc_id || '.png' AS value
FROM p
UNION ALL
SELECT page_url, CAST(0 AS INTEGER), 'https://schema.org/Product',
       'name', 'Item ' || doc_id
FROM p
UNION ALL
SELECT page_url, CAST(0 AS INTEGER), 'https://schema.org/Product',
       'price', (doc_id % 50) || '.99'
FROM p
UNION ALL
SELECT page_url, CAST(1 AS INTEGER), 'https://schema.org/Person',
       'name', 'P ' || (doc_id % 7)
FROM p WHERE doc_id % 3 = 1
ORDER BY page_url, item_seq, prop
"""


def extract_link_rels(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(page url, html) → the dedup/i18n link relations: one row per
    ``<link rel=canonical>`` (first wins — the publisher's duplicate-
    cluster key, complementing redirect targets and phash clusters)
    and per ``<link rel=alternate hreflang=…>`` (the multilingual
    parallel-page map — how a corpus pipeline mines aligned
    translations).  hrefs resolve against the effective base +
    canonicalize; ``is_self`` marks a canonical pointing at the page
    itself.  Shuffle-free scan → flat-map."""
    from ..functions.dom import parse_html
    from ..streaming.canonicalize import (
        canonicalize_url,
        resolve_and_canonicalize,
    )
    from ..streaming.crawl import effective_base

    schema = (
        "page_url string, rel string, href string, hreflang string, "
        "is_self long"
    )

    def row(url, html):
        if html is None:
            return
        root = parse_html(html)
        base = effective_base(root, url)
        self_canon = canonicalize_url(url)
        seen_canonical = False
        for el in root.descendants():
            if el.tag != "link" or "href" not in el.attrs:
                continue
            rels = el.attrs.get("rel", "").lower().split()
            href = resolve_and_canonicalize(el.attrs["href"], base)
            if href is None:
                continue
            if "canonical" in rels and not seen_canonical:
                seen_canonical = True
                rel, hreflang = "canonical", None
            elif "alternate" in rels and "hreflang" in el.attrs:
                rel, hreflang = "alternate", el.attrs["hreflang"].strip().lower()
            else:
                continue
            yield {
                "page_url": url, "rel": rel, "href": href,
                "hreflang": hreflang, "is_self": 1 if href == self_canon else 0,
            }

    return map_rows(pages.select(url_col, html_col), row, schema)


def crawl_link_rels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for canonical/hreflang extraction: docs ≡0 (mod 3) point
    canonical at THEMSELVES (is_self 1), others at the mobile-free
    variant ``…/c/<doc_id>`` (is_self 0); a SECOND canonical later in
    the head must be ignored; docs ≡0 (mod 2) carry
    ``1 + doc_id%3`` hreflang alternates over [en, de, ja], one of
    which (en) is the page itself."""
    langs = ["en", "de", "ja"]

    def page(doc_id):
        url = f"http://l{doc_id % 8}.test/en/{doc_id}.html"
        canonical = url if doc_id % 3 == 0 else f"/c/{doc_id}"
        head = f'<link rel="canonical" href="{canonical}">'
        head += '<link rel="canonical" href="/LOSER">'
        if doc_id % 2 == 0:
            for lang in langs[: 1 + doc_id % 3]:
                target = url if lang == "en" else f"/{lang}/{doc_id}.html"
                head += (
                    f'<link rel="alternate" hreflang="{lang}" '
                    f'href="{target}">'
                )
        return url, f"<html><head>{head}</head><body>x</body></html>"

    pages = _pages(spark, sf_dir, page)
    return extract_link_rels(pages).transform(
        final_sort, "page_url", "rel", "hreflang"
    )


_LINK_RELS_SQL = """
WITH p AS (
  SELECT doc_id,
         'http://l' || (doc_id % 8) || '.test' AS host,
         'http://l' || (doc_id % 8) || '.test/en/' || doc_id || '.html'
           AS page_url
  FROM documents WHERE doc_id < 300
),
canon AS (
  SELECT page_url, 'canonical' AS rel,
         CASE WHEN doc_id % 3 = 0 THEN page_url
              ELSE host || '/c/' || doc_id END AS href,
         CAST(NULL AS VARCHAR) AS hreflang,
         CAST(doc_id % 3 = 0 AS BIGINT) AS is_self
  FROM p
),
alts AS (
  SELECT page_url, 'alternate' AS rel,
         CASE WHEN l.lang = 'en' THEN page_url
              ELSE host || '/' || l.lang || '/' || doc_id || '.html'
         END AS href,
         l.lang AS hreflang,
         CAST(l.lang = 'en' AS BIGINT) AS is_self
  FROM p, (SELECT UNNEST(['en', 'de', 'ja']) AS lang,
                  UNNEST([0, 1, 2]) AS li) AS l
  WHERE doc_id % 2 = 0 AND l.li < 1 + doc_id % 3
)
SELECT * FROM canon
UNION ALL SELECT * FROM alts
ORDER BY page_url, rel, hreflang
"""


def crawl_image_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for image-reference extraction: per doc synthesize a page
    at ``http://d{doc_id%8}.test/p/{doc_id}.html`` with
    ``1 + doc_id%3`` plain relative ``<img src>`` tags (resolved
    against the page DIRECTORY — the relative-URL path), docs ≡0
    (mod 4) add a 2-candidate ``srcset`` image, docs ≡0 (mod 5) a
    lazy ``data-src`` image with no alt.  The oracle reproduces every
    resolved URL, alt string, source kind, descriptor, and
    document-order seq in closed form."""

    def page(doc_id):
        body = "".join(
            f'<img src="img/{doc_id}_{i}.png" alt="alt {doc_id} {i}">'
            for i in range(1 + doc_id % 3)
        )
        if doc_id % 4 == 0:
            body += (
                f'<img alt="ss {doc_id}" '
                f'srcset="s/{doc_id}_a.png 1x, s/{doc_id}_b.png 2x">'
            )
        if doc_id % 5 == 0:
            body += f'<img data-src="lazy/{doc_id}.png">'
        return (
            f"http://d{doc_id % 8}.test/p/{doc_id}.html",
            f"<html><body>{body}</body></html>",
        )

    pages = _pages(spark, sf_dir, page)
    return extract_image_refs(pages).transform(final_sort, "page_url", "seq")


_IMAGE_REFS_SQL = """
WITH p AS (
  SELECT doc_id,
         1 + doc_id % 3 AS k,
         'http://d' || (doc_id % 8) || '.test/p/' AS dir,
         'http://d' || (doc_id % 8) || '.test/p/' || doc_id || '.html'
           AS page_url
  FROM documents WHERE doc_id < 300
),
plain AS (
  SELECT page_url, CAST(i AS INTEGER) AS seq,
         dir || 'img/' || doc_id || '_' || i || '.png' AS img_url,
         'alt ' || doc_id || ' ' || i AS alt,
         'src' AS source, CAST(NULL AS VARCHAR) AS descriptor
  FROM p, (SELECT UNNEST([0, 1, 2]) AS i)
  WHERE i < k
),
sset AS (
  SELECT page_url, CAST(k + j AS INTEGER) AS seq,
         dir || 's/' || doc_id || '_'
             || CASE WHEN j = 0 THEN 'a' ELSE 'b' END || '.png' AS img_url,
         'ss ' || doc_id AS alt,
         'srcset' AS source,
         CASE WHEN j = 0 THEN '1x' ELSE '2x' END AS descriptor
  FROM p, (SELECT UNNEST([0, 1]) AS j)
  WHERE doc_id % 4 = 0
),
lazy AS (
  SELECT page_url,
         CAST(k + CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 0 END
              AS INTEGER) AS seq,
         dir || 'lazy/' || doc_id || '.png' AS img_url,
         CAST(NULL AS VARCHAR) AS alt,
         'data-src' AS source, CAST(NULL AS VARCHAR) AS descriptor
  FROM p WHERE doc_id % 5 = 0
)
SELECT * FROM plain
UNION ALL SELECT * FROM sset
UNION ALL SELECT * FROM lazy
ORDER BY page_url, seq
"""


_BATCH_SIZE = 8


def aspect_bucket_batches(
    pairs: DataFrame, batch_size: int = _BATCH_SIZE
) -> DataFrame:
    """Aspect-ratio bucketed batch assignment — the diffusion-training
    data-prep step (SDXL-style aspect bucketing): images are grouped
    into integer aspect classes (``(w*4) div h`` clamped to [1, 16])
    so every training batch holds same-shaped images; within a bucket
    the order is the md5 of the id (reproducible shuffle), rows are
    cut into ``batch_size`` batches, and the final partial batch per
    bucket is dropped (``batch_id`` NULL), like a drop_last loader.

    100-TB shape: ~16 buckets would mean ONE window task per bucket —
    the same skew the quota sampler dodges — so the within-bucket
    row_number decomposes over md5-prefix subbuckets exactly as in
    :func:`textstats.corpus_quota_sample_bucketed`: per-(bucket, sub)
    counts (partial-agg), per-bucket offsets over ≤16 tiny rows
    broadcast back, then row_number only within (bucket, sub) — the
    largest window task shrinks by the 16× sub fan-out (256× with a
    2-char prefix).  Batch ids are exact integers; no Python."""
    from pyspark.sql import Window

    b = pairs.select(
        "image_id",
        F.least(
            F.greatest(
                F.expr("(CAST(w AS BIGINT) * 4) div CAST(h AS BIGINT)"),
                F.lit(1),
            ),
            F.lit(16),
        ).alias("bucket"),
        F.md5(F.col("image_id").cast("string")).alias("pri"),
    ).withColumn("sub", F.substring("pri", 1, 1))
    counts = b.groupBy("bucket", "sub").agg(F.count(F.lit(1)).alias("n"))
    w_bucket = Window.partitionBy("bucket")
    w_off = (
        Window.partitionBy("bucket")
        .orderBy("sub")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "bucket",
        "sub",
        F.coalesce(F.sum("n").over(w_off), F.lit(0)).alias("off"),
        F.sum("n").over(w_bucket).alias("total"),
    )
    w_sub = Window.partitionBy("bucket", "sub").orderBy("pri")
    return (
        b.join(F.broadcast(offsets), ["bucket", "sub"])
        .withColumn("rn", F.col("off") + F.row_number().over(w_sub))
        .select(
            "image_id",
            F.col("bucket").cast("long").alias("bucket"),
            F.when(
                F.col("rn")
                <= (F.col("total") - F.col("total") % batch_size),
                F.expr(f"(rn - 1) div {int(batch_size)}").cast("long"),
            ).alias("batch_id"),
        )
    )


def curate_aspect_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: the ``curate_pairs_pipeline`` geometry formulas (``w = 32
    + (doc_id%20)*16``, ``h = 64 + (doc_id%15)*32``) give a realistic
    spread of aspect classes with uneven bucket sizes, so drop_last
    remainders occur in several buckets."""
    from .tables import load

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    pairs = d.select(
        F.col("doc_id").alias("image_id"),
        (F.lit(32) + (F.col("doc_id") % 20) * 16).cast("int").alias("w"),
        (F.lit(64) + (F.col("doc_id") % 15) * 32).cast("int").alias("h"),
    )
    return aspect_bucket_batches(pairs).transform(final_sort, "image_id")


_ASPECT_BATCHES_SQL = f"""
WITH pairs AS (
  SELECT doc_id AS image_id,
         32 + (doc_id % 20) * 16 AS w,
         64 + (doc_id % 15) * 32 AS h
  FROM documents WHERE doc_id < 300
),
b AS (
  SELECT image_id,
         LEAST(GREATEST((w * 4) // h, 1), 16) AS bucket,
         md5(CAST(image_id AS VARCHAR)) AS pri
  FROM pairs
),
r AS (
  SELECT image_id, bucket,
         ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY pri) AS rn,
         COUNT(*) OVER (PARTITION BY bucket) AS total
  FROM b
)
SELECT image_id,
       CAST(bucket AS BIGINT) AS bucket,
       CAST(CASE WHEN rn <= total - total % {_BATCH_SIZE}
                 THEN (rn - 1) // {_BATCH_SIZE} END AS BIGINT) AS batch_id
FROM r ORDER BY image_id
"""


def extract_tables(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(page url, html) → one row per TABLE CELL with true grid
    coordinates: tables in document order (nested tables are their own
    ``table_seq`` — a ``<tr>`` belongs to its NEAREST enclosing
    table), rows in document order, and ``col_idx`` computed through
    the HTML table model's colspan/rowspan occupancy grid (a
    rowspan-ed cell occupies its columns in later rows, shifting
    their cells right).  ``is_header`` is the th/td distinction;
    cell text is whitespace-flattened ``all_text`` (a nested table's
    text also appears in its containing cell, like the rendered page).
    The web-table mining front-end (relational data locked in HTML is
    a classic training-corpus source).  Shuffle-free scan → flat-map."""
    from ..functions.dom import parse_html

    schema = (
        "page_url string, table_seq int, row_idx int, col_idx int, "
        "is_header int, cell_text string"
    )

    def tables_of(el):
        for c in el.child_elements():
            if c.tag == "table":
                yield c
            yield from tables_of(c)

    def own_rows(table):
        # tr descendants whose nearest table ancestor is `table`
        stack = list(reversed(list(table.child_elements())))
        while stack:
            el = stack.pop()
            if el.tag == "table":
                continue
            if el.tag == "tr":
                yield el
            stack.extend(reversed(list(el.child_elements())))

    def span_of(cell, attr):
        try:
            v = int(str(cell.attrs.get(attr, "1")).strip() or 1)
        except ValueError:
            v = 1
        return max(1, v)

    def row(url, html):
        if html is None:
            return
        for tseq, table in enumerate(tables_of(parse_html(html))):
            pending: dict[int, int] = {}  # col -> rows remaining
            for ridx, tr in enumerate(own_rows(table)):
                col = 0
                for cell in tr.child_elements():
                    if cell.tag not in ("td", "th"):
                        continue
                    while pending.get(col, 0) > 0:
                        col += 1
                    cspan = span_of(cell, "colspan")
                    rspan = span_of(cell, "rowspan")
                    yield {
                        "page_url": url, "table_seq": tseq, "row_idx": ridx,
                        "col_idx": col,
                        "is_header": 1 if cell.tag == "th" else 0,
                        "cell_text": " ".join(cell.all_text().split()),
                    }
                    if rspan > 1:
                        for c in range(col, col + cspan):
                            pending[c] = max(pending.get(c, 0), rspan)
                    col += cspan
                for c in list(pending):
                    pending[c] -= 1
                    if pending[c] <= 0:
                        del pending[c]

    return map_rows(pages.select(url_col, html_col), row, schema)


def crawl_table_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for web-table extraction: docs ≡0 (mod 5) have no table;
    others carry a 2-column table (th header row + 2 body rows);
    docs ≡1 (mod 4) append a colspan=2 footer cell; docs ≡2 (mod 7)
    give body row 1's first cell rowspan=2 (row 2's cells must shift
    right through the occupancy grid); docs ≡3 (mod 6) nest a 1-cell
    table inside a body cell (own table_seq, and its text also
    flattens into the outer cell)."""

    def page(doc_id):
        body = ""
        if doc_id % 5 != 0:
            rs = ' rowspan="2"' if doc_id % 7 == 2 else ""
            nested = (
                f' <table><tr><td>n{doc_id % 9}</td></tr></table>'
                if doc_id % 6 == 3
                else ""
            )
            rows = (
                "<tr><th>Name</th><th>Value</th></tr>"
                f"<tr><td{rs}>a{doc_id} 1</td>"
                f"<td>b{(doc_id * 1) % 100}{nested}</td></tr>"
                f"<tr><td>a{doc_id} 2</td>"
                f"<td>b{(doc_id * 2) % 100}</td></tr>"
            )
            if doc_id % 4 == 1:
                rows += (
                    f'<tr><td colspan="2">sum {doc_id % 97}'
                    "</td></tr>"
                )
            body = f"<table>{rows}</table>"
        return (
            f"http://tb{doc_id % 8}.test/t/{doc_id}.html",
            f"<html><body>{body}</body></html>",
        )

    pages = _pages(spark, sf_dir, page)
    return extract_tables(pages).transform(
        final_sort, "page_url", "table_seq", "row_idx", "col_idx"
    )


_TABLES_SQL = """
WITH p AS (
  SELECT doc_id,
         'http://tb' || (doc_id % 8) || '.test/t/' || doc_id || '.html'
           AS page_url,
         doc_id % 7 = 2 AS rs,
         doc_id % 6 = 3 AS nested,
         doc_id % 4 = 1 AS foot
  FROM documents WHERE doc_id < 300 AND doc_id % 5 <> 0
),
cells AS (
  SELECT page_url, 0 AS table_seq, 0 AS row_idx, 0 AS col_idx,
         1 AS is_header, 'Name' AS cell_text FROM p
  UNION ALL
  SELECT page_url, 0, 0, 1, 1, 'Value' FROM p
  UNION ALL
  SELECT page_url, 0, 1, 0, 0, 'a' || doc_id || ' 1' FROM p
  UNION ALL
  SELECT page_url, 0, 1, 1, 0,
         'b' || (doc_id % 100)
           || CASE WHEN nested THEN ' n' || (doc_id % 9) ELSE '' END
  FROM p
  UNION ALL
  SELECT page_url, 0, 2, CASE WHEN rs THEN 1 ELSE 0 END, 0,
         'a' || doc_id || ' 2' FROM p
  UNION ALL
  SELECT page_url, 0, 2, CASE WHEN rs THEN 2 ELSE 1 END, 0,
         'b' || ((doc_id * 2) % 100) FROM p
  UNION ALL
  SELECT page_url, 0, 3, 0, 0, 'sum ' || (doc_id % 97) FROM p WHERE foot
  UNION ALL
  SELECT page_url, 1, 0, 0, 0, 'n' || (doc_id % 9) FROM p WHERE nested
)
SELECT page_url, CAST(table_seq AS INTEGER) AS table_seq,
       CAST(row_idx AS INTEGER) AS row_idx,
       CAST(col_idx AS INTEGER) AS col_idx,
       CAST(is_header AS INTEGER) AS is_header, cell_text
FROM cells ORDER BY page_url, table_seq, row_idx, col_idx
"""


def extract_sections(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(page url, html) → one row per HEADING-DELIMITED SECTION, the
    structure-aware chunking RAG pipelines prefer over blind token
    windows: h1-h6 open sections; ``title_path`` is the ``' > '``
    joined chain of open headings (a deeper heading nests, an equal or
    shallower one pops the stack); ``text`` is the flattened content
    between this heading and the next one (any level); content before
    the first heading becomes a level-0 preamble row when non-empty.
    Heading text is the section's title, not part of its body.
    Shuffle-free scan → flat-map."""
    from ..functions.dom import TextNode, parse_html

    schema = (
        "page_url string, section_seq int, level int, "
        "title_path string, text string, n_tokens long"
    )
    headings = {"h1", "h2", "h3", "h4", "h5", "h6"}

    def flat(s: str) -> str:
        return " ".join(s.split())

    def row(url, html):
        if html is None:
            return
        stack_nodes = list(reversed(parse_html(html).children))
        # open headings; non-empty once a heading has opened a section
        title_stack: list[tuple[int, str]] = []
        parts: list[str] = []
        found: list[tuple[int, str, str]] = []  # (level, title_path, text)

        def flush():
            text = flat(" ".join(parts))
            if title_stack or text:  # an empty preamble gets no row
                found.append((
                    title_stack[-1][0] if title_stack else 0,
                    " > ".join(t for _, t in title_stack),
                    text,
                ))

        while stack_nodes:
            node = stack_nodes.pop()
            if isinstance(node, TextNode):
                parts.append(node.text)
                continue
            if node.tag in headings:
                flush()
                level = int(node.tag[1])
                while title_stack and title_stack[-1][0] >= level:
                    title_stack.pop()
                title_stack.append((level, flat(node.all_text())))
                parts = []
                continue
            stack_nodes.extend(reversed(node.children))
        flush()
        for seq, (level, path, text) in enumerate(found):
            yield {
                "page_url": url, "section_seq": seq, "level": level,
                "title_path": path, "text": text,
                "n_tokens": len(text.split()) if text else 0,
            }

    return map_rows(pages.select(url_col, html_col), row, schema)


def corpus_html_sections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for heading-based sectioning: docs ≡0 (mod 3) carry a
    preamble paragraph (level-0 row); every doc has an h1 with a body
    paragraph; docs ≡1 (mod 2) add two h2 subsections (the second's
    title must nest under the SAME h1 after the first h2 pops);
    docs ≡2 (mod 5) add a second h1 that must RESET the title path;
    docs ≡3 (mod 11) make the first h2 body empty (an empty-text
    section row, kept because the heading exists)."""

    def page(doc_id):
        b = []
        if doc_id % 3 == 0:
            b.append(f"<p>pre {doc_id % 13}</p>")
        b.append(f"<h1>T{doc_id % 50}</h1><p>body {doc_id % 17}</p>")
        if doc_id % 2 == 1:
            first = (
                "" if doc_id % 11 == 3
                else f"<p>s1 {doc_id % 19}</p>"
            )
            b.append(f"<h2>S1</h2>{first}")
            b.append(f"<h2>S2 {doc_id % 7}</h2><p>s2 body</p>")
        if doc_id % 5 == 2:
            b.append(f"<h1>U{doc_id % 23}</h1><p>u body</p>")
        return (
            f"http://sec{doc_id % 8}.test/d/{doc_id}.html",
            "<html><body>" + "".join(b) + "</body></html>",
        )

    pages = _pages(spark, sf_dir, page)
    return extract_sections(pages).transform(final_sort, "page_url", "section_seq")


_SECTIONS_SQL = """
WITH p AS (
  SELECT doc_id,
         'http://sec' || (doc_id % 8) || '.test/d/' || doc_id || '.html'
           AS page_url,
         doc_id % 3 = 0 AS pre,
         doc_id % 2 = 1 AS subs,
         doc_id % 5 = 2 AS second_h1,
         doc_id % 11 = 3 AS empty_s1
  FROM documents WHERE doc_id < 300
),
rows_ AS (
  SELECT page_url, 0 AS ord, 0 AS level, '' AS title_path,
         'pre ' || (doc_id % 13) AS text
  FROM p WHERE pre
  UNION ALL
  SELECT page_url, 1, 1, 'T' || (doc_id % 50),
         'body ' || (doc_id % 17) FROM p
  UNION ALL
  SELECT page_url, 2, 2, 'T' || (doc_id % 50) || ' > S1',
         CASE WHEN empty_s1 THEN '' ELSE 's1 ' || (doc_id % 19) END
  FROM p WHERE subs
  UNION ALL
  SELECT page_url, 3, 2,
         'T' || (doc_id % 50) || ' > S2 ' || (doc_id % 7),
         's2 body' FROM p WHERE subs
  UNION ALL
  SELECT page_url, 4, 1, 'U' || (doc_id % 23), 'u body'
  FROM p WHERE second_h1
)
SELECT page_url,
       CAST(ROW_NUMBER() OVER (PARTITION BY page_url ORDER BY ord) - 1
            AS INTEGER) AS section_seq,
       CAST(level AS INTEGER) AS level, title_path, text,
       CAST(CASE WHEN text = '' THEN 0
                 ELSE len(regexp_split_to_array(text, ' ')) END
            AS BIGINT) AS n_tokens
FROM rows_
ORDER BY page_url, section_seq
"""


def html_to_markdown(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(page url, html) → GitHub-flavored Markdown, the de-facto text
    format of LLM pretraining corpora: h1-h6 → ``#`` headings, p →
    paragraphs, ul/ol → ``-`` / ``1.`` items (ordered lists numbered
    by position), blockquote → ``>``, pre/code → fenced or inline
    code, a → ``[text](href)``, img → ``![alt](src)``, strong/b →
    ``**..**``, em/i → ``*..*``; blocks join with blank lines;
    script/style subtrees are dropped.  Returns (page_url, markdown,
    n_blocks, n_links).  Shuffle-free scan → flat-map."""
    from ..functions.dom import TextNode, parse_html

    schema = "page_url string, markdown string, n_blocks long, n_links long"

    def flat(s):
        return " ".join(s.split())

    def inline(el, stats) -> str:
        parts = []
        for c in el.children:
            if isinstance(c, TextNode):
                parts.append(c.text)
                continue
            if c.tag in ("script", "style"):
                continue
            body = inline(c, stats)
            if c.tag == "a" and "href" in c.attrs:
                stats["links"] += 1
                parts.append(f"[{flat(body)}]({c.attrs['href']})")
            elif c.tag in ("strong", "b"):
                parts.append(f"**{flat(body)}**")
            elif c.tag in ("em", "i"):
                parts.append(f"*{flat(body)}*")
            elif c.tag == "code":
                parts.append(f"`{flat(body)}`")
            elif c.tag == "img":
                alt = flat(c.attrs.get("alt", ""))
                src = c.attrs.get("src", "")
                parts.append(f"![{alt}]({src})")
            elif c.tag == "br":
                parts.append(" ")
            else:
                parts.append(body)
        return " ".join(p for p in (x.strip() for x in parts) if p)

    def blocks(el, stats):
        for c in el.child_elements():
            t = c.tag
            if t in ("script", "style"):
                continue
            if t in ("h1", "h2", "h3", "h4", "h5", "h6"):
                yield "#" * int(t[1]) + " " + flat(inline(c, stats))
            elif t == "p":
                text = flat(inline(c, stats))
                if text:
                    yield text
            elif t == "blockquote":
                text = flat(inline(c, stats))
                if text:
                    yield "> " + text
            elif t == "pre":
                yield "```\n" + c.all_text().strip("\n") + "\n```"
            elif t in ("ul", "ol"):
                items = []
                n = 0
                for li in c.child_elements():
                    if li.tag != "li":
                        continue
                    n += 1
                    mark = f"{n}." if t == "ol" else "-"
                    items.append(f"{mark} " + flat(inline(li, stats)))
                if items:
                    yield "\n".join(items)
            else:
                yield from blocks(c, stats)

    def row(url, html):
        if html is None:
            return
        stats = {"links": 0}
        bl = list(blocks(parse_html(html), stats))
        yield {
            "page_url": url, "markdown": "\n\n".join(bl),
            "n_blocks": len(bl), "n_links": stats["links"],
        }

    return map_rows(pages.select(url_col, html_col), row, schema)


def corpus_html_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for HTML→Markdown: every doc gets a heading + a paragraph
    with inline bold/link; docs ≡1 (mod 2) add an unordered list,
    ≡2 (mod 3) an ordered list (numbering check), ≡3 (mod 5) a
    blockquote + inline code, ≡4 (mod 7) an image and a pre block
    (fence check); a script tag is always planted and must vanish."""

    def page(doc_id):
        b = [
            f"<h2>Title {doc_id % 40}</h2>",
            f"<p>Intro <b>bold{doc_id % 9}</b> and "
            f'<a href="/l/{doc_id % 11}">link text</a>.</p>',
            "<script>var x = 1;</script>",
        ]
        if doc_id % 2 == 1:
            b.append(
                f"<ul><li>alpha {doc_id % 5}</li>"
                "<li>beta</li></ul>"
            )
        if doc_id % 3 == 2:
            b.append(
                "<ol><li>first</li><li>second "
                f"{doc_id % 13}</li></ol>"
            )
        if doc_id % 5 == 3:
            b.append(
                f"<blockquote>quoted {doc_id % 17}</blockquote>"
                "<p>Use <code>run()</code> here.</p>"
            )
        if doc_id % 7 == 4:
            b.append(
                f'<p><img src="i/{doc_id}.png" alt="pic '
                f'{doc_id % 3}"></p>'
                f"<pre>line {doc_id % 19}</pre>"
            )
        return (
            f"http://md{doc_id % 8}.test/m/{doc_id}.html",
            "<html><body>" + "".join(b) + "</body></html>",
        )

    pages = _pages(spark, sf_dir, page)
    return html_to_markdown(pages).transform(final_sort, "page_url")


_MARKDOWN_SQL = """
WITH p AS (
  SELECT doc_id,
         'http://md' || (doc_id % 8) || '.test/m/' || doc_id || '.html'
           AS page_url,
         doc_id % 2 = 1 AS ul, doc_id % 3 = 2 AS ol,
         doc_id % 5 = 3 AS bq, doc_id % 7 = 4 AS im
  FROM documents WHERE doc_id < 300
)
SELECT page_url,
  '## Title ' || (doc_id % 40) || chr(10) || chr(10)
  || 'Intro **bold' || (doc_id % 9) || '** and [link text](/l/'
  || (doc_id % 11) || ') .'
  || CASE WHEN ul THEN chr(10) || chr(10) || '- alpha ' || (doc_id % 5)
            || chr(10) || '- beta' ELSE '' END
  || CASE WHEN ol THEN chr(10) || chr(10) || '1. first' || chr(10)
            || '2. second ' || (doc_id % 13) ELSE '' END
  || CASE WHEN bq THEN chr(10) || chr(10) || '> quoted ' || (doc_id % 17)
            || chr(10) || chr(10) || 'Use `run()` here.' ELSE '' END
  || CASE WHEN im THEN chr(10) || chr(10) || '![pic ' || (doc_id % 3)
            || '](i/' || doc_id || '.png)' || chr(10) || chr(10)
            || '```' || chr(10) || 'line ' || (doc_id % 19) || chr(10)
            || '```' ELSE '' END
  AS markdown,
  CAST(2 + CASE WHEN ul THEN 1 ELSE 0 END
         + CASE WHEN ol THEN 1 ELSE 0 END
         + CASE WHEN bq THEN 2 ELSE 0 END
         + CASE WHEN im THEN 2 ELSE 0 END AS BIGINT) AS n_blocks,
  CAST(1 AS BIGINT) AS n_links
FROM p ORDER BY page_url
"""


_FUNNEL_SQL = """
WITH synth AS (
  SELECT doc_id AS image_id,
         CAST(32 + (doc_id % 20) * 16 AS INTEGER) AS w,
         CAST(64 + (doc_id % 15) * 32 AS INTEGER) AS h,
         CAST(3 + (doc_id % 12) AS BIGINT) AS n_tokens,
         doc_id % 120 AS caption_grp,
         (doc_id % 17 = 0) AS dead
  FROM documents WHERE doc_id < 300
),
decodable AS (SELECT * FROM synth WHERE NOT dead),
geometry AS (
  SELECT * FROM decodable
  WHERE LEAST(w, h) >= 64 AND GREATEST(w, h) * 100 <= 300 * LEAST(w, h)
),
caption AS (
  SELECT * FROM geometry WHERE n_tokens BETWEEN 4 AND 128
),
capdedup AS (
  SELECT * FROM (
    SELECT *, MIN(image_id) OVER (PARTITION BY caption_grp) AS keeper
    FROM caption
  ) WHERE image_id = keeper
),
final AS (
  SELECT * FROM capdedup a
  WHERE NOT (a.image_id % 10 = 6 AND EXISTS (
        SELECT 1 FROM capdedup p WHERE p.image_id = a.image_id - 1))
)
SELECT * FROM (
  SELECT CAST(0 AS BIGINT) AS stage_idx, 'input' AS stage,
         CAST(COUNT(*) AS BIGINT) AS n_rows FROM synth
  UNION ALL
  SELECT 1, 'decodable', COUNT(*) FROM decodable
  UNION ALL
  SELECT 2, 'geometry', COUNT(*) FROM geometry
  UNION ALL
  SELECT 3, 'caption', COUNT(*) FROM caption
  UNION ALL
  SELECT 4, 'caption_dedup', COUNT(*) FROM capdedup
  UNION ALL
  SELECT 5, 'phash_dedup', COUNT(*) FROM final
) ORDER BY stage_idx
"""


QUERIES = {
    "curate_funnel_report": curate_funnel_report,
    "corpus_html_markdown": corpus_html_markdown,
    "corpus_html_sections": corpus_html_sections,
    "crawl_table_extract": crawl_table_extract,
    "curate_aspect_batches": curate_aspect_batches,
    "curate_pairs_pipeline": curate_pairs_pipeline,
    "crawl_image_refs": crawl_image_refs,
    "crawl_anchor_texts": crawl_anchor_texts,
    "crawl_og_pairs": crawl_og_pairs,
    "crawl_jsonld_pairs": crawl_jsonld_pairs,
    "crawl_microdata": crawl_microdata,
    "crawl_link_rels": crawl_link_rels,
}
ORACLE_SQL = {
    "curate_funnel_report": _FUNNEL_SQL,
    "corpus_html_markdown": _MARKDOWN_SQL,
    "corpus_html_sections": _SECTIONS_SQL,
    "crawl_table_extract": _TABLES_SQL,
    "curate_aspect_batches": _ASPECT_BATCHES_SQL,
    "curate_pairs_pipeline": _CURATE_SQL,
    "crawl_image_refs": _IMAGE_REFS_SQL,
    "crawl_anchor_texts": _ANCHORS_SQL,
    "crawl_og_pairs": _OG_SQL,
    "crawl_jsonld_pairs": _JSONLD_SQL,
    "crawl_microdata": _MICRODATA_SQL,
    "crawl_link_rels": _LINK_RELS_SQL,
}
