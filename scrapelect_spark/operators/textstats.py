"""Text analysis over ``documents``: token counting, quality scoring,
language-ID heuristic, document fingerprinting.

All expressions are JVM-side built-ins (split/regexp/filter/md5) — no
Python in the hot path; ratios are per-row double ops (deterministic),
counts are exact BIGINTs (SURVEY-style float discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import _SHINGLES_SQL, _WORDS_SQL, _shingles, _words
from .tables import docs, final_sort, load, map_rows

_STOPWORDS = ("the", "a", "of", "and", "to", "in")
_LANG_MARKERS = {
    "en": ("the", "a", "and"),
    "de": ("der", "die", "und"),
    "fr": ("le", "la", "et"),
    "es": ("el", "la", "y"),
    "zh": ("de", "shi", "le"),
}


def _tok_col():
    return F.split(F.trim(F.col("text")), r"\s+")


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = d.select("lang", F.size(_tok_col()).cast("long").alias("n_tokens"))
    return (
        toks.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(
                F.sum("n_tokens").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_tokens"),
        )
        .transform(final_sort, "lang")
    )


_TOKEN_SQL = r"""
SELECT lang,
  COUNT(*) AS n_docs,
  CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
  ROUND(CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS DOUBLE) / COUNT(*), 6) AS avg_tokens
FROM documents
GROUP BY lang
ORDER BY lang
"""


def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality features: token count, alpha ratio, stopword
    ratio, composite score; top 50 by (score DESC, doc_id)."""
    d = load(spark, sf_dir, "documents")
    stop_list = ", ".join(f"'{s}'" for s in _STOPWORDS)
    scored = d.select(
        "doc_id",
        F.size(_tok_col()).cast("long").alias("n_tokens"),
        (
            F.length(F.regexp_replace(F.col("text"), "[a-zA-Z ]", "")).cast("double")
            / F.length(F.col("text"))
        ).alias("nonalpha_ratio"),
        (
            F.size(F.filter(_tok_col(), lambda x: x.isin(*_STOPWORDS))).cast("double")
            / F.size(_tok_col())
        ).alias("stop_ratio"),
    ).select(
        "doc_id",
        "n_tokens",
        F.round("nonalpha_ratio", 6).alias("nonalpha_ratio"),
        F.round("stop_ratio", 6).alias("stop_ratio"),
        F.round(
            0.5 * (1 - F.col("nonalpha_ratio"))
            + 0.3 * F.least(F.col("n_tokens") / 100.0, F.lit(1.0))
            + 0.2 * F.col("stop_ratio"),
            6,
        ).alias("score"),
    )
    return scored.orderBy(F.desc("score"), "doc_id").limit(50)


_QUALITY_SQL = r"""
WITH feat AS (
  SELECT doc_id,
    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
    CAST(length(regexp_replace(text, '[a-zA-Z ]', '', 'g')) AS DOUBLE) / length(text) AS nonalpha_ratio,
    CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
         x -> x IN ({stops}))) AS DOUBLE)
      / len(regexp_split_to_array(trim(text), '\s+')) AS stop_ratio
  FROM documents
)
SELECT doc_id, n_tokens,
  ROUND(nonalpha_ratio, 6) AS nonalpha_ratio,
  ROUND(stop_ratio, 6) AS stop_ratio,
  ROUND(0.5 * (1 - nonalpha_ratio) + 0.3 * least(n_tokens / 100.0, 1.0) + 0.2 * stop_ratio, 6) AS score
FROM feat
ORDER BY score DESC, doc_id
LIMIT 50
""".format(stops=", ".join(f"'{s}'" for s in _STOPWORDS))


def text_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID (argmax of per-language hit counts, 'en'
    on ties by listing order) vs the labeled lang column."""
    d = load(spark, sf_dir, "documents")
    toks = _tok_col()

    def _marker_hits(markers):
        # factory keeps the lambda single-arg (a two-arg lambda would
        # receive the element *index* as its second argument)
        return F.size(F.filter(toks, lambda x: x.isin(*markers)))

    hits = {lang: _marker_hits(m) for lang, m in _LANG_MARKERS.items()}
    langs = list(_LANG_MARKERS)
    pred = F.lit(langs[0])
    best = hits[langs[0]]
    for lang in langs[1:]:
        pred = F.when(hits[lang] > best, F.lit(lang)).otherwise(pred)
        best = F.greatest(best, hits[lang])
    scored = d.select("lang", pred.alias("pred"))
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("pred") == F.col("lang"), 1).otherwise(0))
            .cast("long")
            .alias("n_match"),
        )
        .transform(final_sort, "lang")
    )


def _langid_sql() -> str:
    hit = {
        lang: (
            r"len(list_filter(regexp_split_to_array(trim(text), '\s+'), "
            + "x -> x IN ({})))".format(", ".join(f"'{m}'" for m in markers))
        )
        for lang, markers in _LANG_MARKERS.items()
    }
    langs = list(_LANG_MARKERS)
    pred = f"'{langs[0]}'"
    best = hit[langs[0]]
    for lang in langs[1:]:
        pred = f"CASE WHEN {hit[lang]} > {best} THEN '{lang}' ELSE {pred} END"
        best = f"greatest({best}, {hit[lang]})"
    return f"""
WITH scored AS (
  SELECT lang, {pred} AS pred FROM documents
)
SELECT lang, COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_match
FROM scored GROUP BY lang ORDER BY lang
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 3-gram fingerprint: min shingle hash (winnowing-style
    1-min sketch) + distinct-shingle count per doc."""
    d = load(spark, sf_dir, "documents")
    sh = _shingles(_words(d))
    fp = sh.groupBy("doc_id").agg(
        F.min(F.md5("sh")).alias("fp"),
        F.countDistinct("sh").cast("long").alias("n_shingles"),
    )
    return (
        d.select("doc_id")
        .join(fp, "doc_id", "left")
        .transform(final_sort, "doc_id")
    )


_FINGERPRINT_SQL = (
    "WITH "
    + _WORDS_SQL.format(where="")
    + ", "
    + _SHINGLES_SQL
    + """
, fp AS (
  SELECT doc_id, min(md5(sh)) AS fp,
         CAST(COUNT(DISTINCT sh) AS BIGINT) AS n_shingles
  FROM shingles WHERE sh IS NOT NULL GROUP BY doc_id
)
SELECT d.doc_id, fp.fp, fp.n_shingles
FROM documents d LEFT JOIN fp ON d.doc_id = fp.doc_id
ORDER BY d.doc_id
"""
)


# PII scrubbing: regex redaction of emails/phones — a required pass in
# any web-scale training-data pipeline.  The documents corpus has no
# PII, so deterministic PII is spliced in from doc columns first; both
# engines then scrub with identical patterns (kept to the regex subset
# Java and RE2 parse the same way).
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "\\+?[0-9][0-9\\-]{6,}[0-9]"


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.org tel +1-555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        F.lit(" end"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(raw, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        (
            F.length(scrubbed)
            - F.length(F.regexp_replace(scrubbed, "<EMAIL>", ""))
        ).cast("long").alias("email_chars_redacted"),
    ).transform(final_sort, "doc_id")


_PII_SQL = f"""
WITH raw AS (
  SELECT doc_id,
    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
    '@example.org tel +1-555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
    || ' end' AS r
  FROM documents
),
s AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(r, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                   '{_PHONE_RE}', '<PHONE>', 'g') AS scrubbed
  FROM raw
)
SELECT doc_id, scrubbed,
  CAST(length(scrubbed) - length(replace(scrubbed, '<EMAIL>', '')) AS BIGINT)
    AS email_chars_redacted
FROM s ORDER BY doc_id
"""


def corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data admission filter as one gate: keep documents
    with ≥ 40 tokens AND mean token length ≤ 7 chars (331/500 pass on
    the gate corpus — selective, not vacuous), reporting per-source
    totals the way a corpus-curation run logs its yield."""
    d = load(spark, sf_dir, "documents")
    feat = d.select(
        "source",
        F.size(_tok_col()).cast("long").alias("n_tokens"),
        F.col("n_chars").cast("double").alias("n_chars"),
    ).withColumn(
        "keep",
        (F.col("n_tokens") >= 40)
        & (F.col("n_chars") / F.col("n_tokens") <= 7.0),
    )
    return (
        feat.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("total"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("kept"),
            F.sum(F.when(F.col("keep"), F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias("kept_tokens"),
        )
        .transform(final_sort, "source")
    )


_CORPUS_FILTER_SQL = r"""
WITH feat AS (
  SELECT source,
    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
    CAST(n_chars AS DOUBLE) AS n_chars
  FROM documents
),
flagged AS (
  SELECT source, n_tokens,
    (n_tokens >= 40 AND n_chars / n_tokens <= 7.0) AS keep
  FROM feat
)
SELECT source,
  COUNT(*) AS total,
  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS kept,
  CAST(SUM(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
FROM flagged
GROUP BY source
ORDER BY source
"""


def corpus_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/validation split — assignment is a pure
    function of the document id (md5 first hex digit < 'e' → train,
    i.e. 14/16 = 87.5% expected), so re-running the pipeline, adding
    machines, or reordering input never moves a document across the
    split boundary (the property that matters for held-out eval).
    Reports per-(source, split) doc and token totals.

    Scale shape: one narrow projection + one partial-agg shuffle on
    (source, split) — no window, no join, no driver state."""
    d = load(spark, sf_dir, "documents")
    split = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "e", "train"
    ).otherwise("val")
    return (
        d.select(
            "source",
            split.alias("split"),
            F.size(_tok_col()).cast("long").alias("n_tokens"),
        )
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .transform(final_sort, "source", "split")
    )


_HASH_SPLIT_SQL = r"""
SELECT source,
  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e'
       THEN 'train' ELSE 'val' END AS split,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
    AS total_tokens
FROM documents
GROUP BY 1, 2
ORDER BY source, split
"""


_QUOTA_TOKENS = 5000


def corpus_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget (quota) sampling — the data-mixing step
    that caps each source's contribution to a token budget: documents
    are taken in a deterministic pseudo-random priority order (md5 of
    doc_id, so the sample is stable across runs and machines) until
    the running token total would exceed the budget.

    Scale shape: one window partitioned by source (the same shuffle
    the final aggregation reuses) — the cumulative sum is per-source
    state-free streaming over sorted partitions, never a global sort."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string")))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = (
        d.select(
            "source",
            "doc_id",
            F.size(_tok_col()).cast("long").alias("n_tokens"),
        )
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= _QUOTA_TOKENS)
    )
    return (
        run.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("sampled_docs"),
            F.sum("n_tokens").cast("long").alias("sampled_tokens"),
        )
        .transform(final_sort, "source")
    )


def corpus_quota_sample_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof quota sampling — identical output to
    :func:`corpus_quota_sample`, different physical shape (VERDICT r4
    performance caveat: a per-SOURCE window is one task per source, so
    one 50-TB source serializes onto one core at 100 TB).

    The md5 priority order is split into 16 contiguous ranges by its
    first hex digit ("bucket"), so the global per-source cumulative sum
    decomposes exactly:

    1. per-(source, bucket) token totals — a partial-agg shuffle with
       16× the keys (256× with a 2-char prefix at larger scale);
    2. per-source bucket offsets — a window over ≤16 rows per source,
       tiny by construction, then BROADCAST back;
    3. the running sum windows over (source, bucket) — the largest
       single window task shrinks by the bucket fan-out — and a row is
       kept when offset + within-bucket cumulative ≤ quota.

    Buckets whose offset already exceeds the quota are pruned before
    the big window ever sees their rows."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    sized = d.select(
        "source",
        F.size(_tok_col()).cast("long").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("pri"),
    ).withColumn("bucket", F.substring("pri", 1, 1))
    totals = sized.groupBy("source", "bucket").agg(
        F.sum("n_tokens").alias("bucket_tokens")
    )
    w_off = (
        Window.partitionBy("source")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        totals.withColumn(
            "offset_tokens",
            F.coalesce(F.sum("bucket_tokens").over(w_off), F.lit(0)),
        )
        # prune: a bucket starting at/after the quota contributes no
        # rows (n_tokens ≥ 1 for every doc — split of a trimmed text)
        .filter(F.col("offset_tokens") < _QUOTA_TOKENS)
        .select("source", "bucket", "offset_tokens")
    )
    w_run = (
        Window.partitionBy("source", "bucket")
        .orderBy("pri")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = (
        sized.join(F.broadcast(offsets), ["source", "bucket"])
        .withColumn(
            "cum_tokens",
            F.sum("n_tokens").over(w_run) + F.col("offset_tokens"),
        )
        .filter(F.col("cum_tokens") <= _QUOTA_TOKENS)
    )
    return (
        run.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("sampled_docs"),
            F.sum("n_tokens").cast("long").alias("sampled_tokens"),
        )
        .transform(final_sort, "source")
    )


_QUOTA_SQL = rf"""
WITH sized AS (
  SELECT source, doc_id,
    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM documents
),
run AS (
  SELECT source, n_tokens,
    SUM(n_tokens) OVER (PARTITION BY source
                        ORDER BY md5(CAST(doc_id AS VARCHAR))
                        ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM sized
)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS sampled_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS sampled_tokens
FROM run
WHERE cum_tokens <= {_QUOTA_TOKENS}
GROUP BY source
ORDER BY source
"""


def extract_main_text(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    min_chars: int = 40,
    max_link_density: float = 0.30,
) -> DataFrame:
    """(page url, html) → boilerplate-stripped main text — the
    paragraph-extraction pass that turns a crawl corpus into a text
    corpus (trafilatura/boilerpipe family, deterministic subset): a
    ``<p>`` block survives when its text is at least ``min_chars``
    characters AND its link density (characters inside ``<a>``
    descendants / total characters) is at most ``max_link_density`` —
    navs, footers, tag clouds and "related links" blocks are nearly
    all link text, article prose nearly none.  Output keeps both the
    joined main text and the kept/dropped character tallies (the
    boilerplate-ratio curation signal).  Arrow-batched
    ``mapInPandas``, shuffle-free scan → flat-map."""
    from ..functions.dom import parse_html

    schema = (
        "page_url string, n_blocks int, n_kept int, main_len int, "
        "boiler_len int, main_text string"
    )

    def row(url, html):
        if html is None:
            return
        kept, n_blocks, boiler = [], 0, 0
        for el in parse_html(html).descendants():
            if el.tag != "p":
                continue
            n_blocks += 1
            text = " ".join(el.all_text().split())
            if not text:
                continue
            link_chars = sum(
                len(" ".join(a.all_text().split()))
                for a in el.descendants()
                if a.tag == "a"
            )
            density = link_chars / len(text)
            if len(text) >= min_chars and density <= max_link_density:
                kept.append(text)
            else:
                boiler += len(text)
        main = "\n".join(kept)
        yield {
            "page_url": url, "n_blocks": n_blocks, "n_kept": len(kept),
            "main_len": len(main), "boiler_len": boiler, "main_text": main,
        }

    return map_rows(pages.select(url_col, html_col), row, schema)


def corpus_main_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for boilerplate removal: per doc synthesize a page with a
    nav paragraph (pure link text → dropped), ``1 + doc_id%3`` article
    paragraphs of closed-form prose (``'para i ' + 'x'*(40+doc_id%5)``,
    one inline link well under the density bound → kept), a short
    teaser (< 40 chars → dropped), and a footer of links (→ dropped).
    The oracle rebuilds the exact joined text, lengths, and block
    counts in closed form."""

    def synth(doc_id):
        xs = "x" * (40 + doc_id % 5)
        paras = "".join(
            f"<p>para {i} <a href=\"/r\">go</a> {xs}</p>"
            for i in range(1 + doc_id % 3)
        )
        html = (
            "<html><body>"
            '<p><a href="/h">Home</a> <a href="/a">About</a> '
            '<a href="/c">Contact</a></p>'
            f"{paras}"
            f"<p>short teaser {doc_id % 10}</p>"
            '<p><a href="/t">Terms</a> <a href="/p">Privacy</a></p>'
            "</body></html>"
        )
        yield {"url": f"http://d{doc_id % 8}.test/a/{doc_id}.html", "html": html}

    pages = map_rows(
        docs(spark, sf_dir, 300, "doc_id"), synth, "url string, html string"
    )
    return extract_main_text(pages).select(
        "page_url", "n_blocks", "n_kept", "main_len", "boiler_len",
        F.md5("main_text").alias("main_md5"),
    ).transform(final_sort, "page_url")


_MAIN_TEXT_SQL = """
WITH p AS (
  SELECT doc_id,
         1 + doc_id % 3 AS k,
         'para ' AS pre,
         repeat('x', 40 + doc_id % 5) AS xs
  FROM documents WHERE doc_id < 300
),
joined AS (
  SELECT doc_id, k, xs,
         CASE k
           WHEN 1 THEN 'para 0 go ' || xs
           WHEN 2 THEN 'para 0 go ' || xs || chr(10) || 'para 1 go ' || xs
           ELSE 'para 0 go ' || xs || chr(10) || 'para 1 go ' || xs
                || chr(10) || 'para 2 go ' || xs
         END AS main_text
  FROM p
)
SELECT 'http://d' || (doc_id % 8) || '.test/a/' || doc_id || '.html'
         AS page_url,
       CAST(k + 3 AS INTEGER) AS n_blocks,
       CAST(k AS INTEGER) AS n_kept,
       CAST(LENGTH(main_text) AS INTEGER) AS main_len,
       -- dropped text: 'Home About Contact' (18) + 'short teaser N'
       -- (14) + 'Terms Privacy' (13)
       CAST(18 + 14 + 13 AS INTEGER) AS boiler_len,
       md5(main_text) AS main_md5
FROM joined
ORDER BY page_url
"""


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_occurrences: int = 2,
) -> DataFrame:
    """C4-style LINE deduplication across the corpus: a normalized
    line appearing in ``min_occurrences``-or-more documents is kept
    only at its FIRST occurrence (lowest ``(doc_id, line_no)``) and
    dropped everywhere else — the standard kill for boilerplate
    footers, cookie banners, and nav crumbs that survive per-page
    extraction.  Unique lines always stay.  Returns the documents
    reassembled (``text``) plus ``n_lines`` / ``n_kept``.

    100-TB shape: explode to (line_hash, doc, line_no) → ONE
    partial-agg shuffle computes each hash's count + global first
    occurrence (min struct) → join back on line_hash (AQE/skew-safe:
    the join key is the hash, the heavy boilerplate hash's rows
    spread over its partitions) → filter keep → per-doc reassembly is
    one more keyed aggregation.  No window over the corpus, no
    driver-side state."""
    lines = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias(
                "line_no", "line"
            ),
        )
        .withColumn("norm", F.trim(F.regexp_replace("line", r"\s+", " ")))
        .withColumn("line_hash", F.md5("norm"))
    )
    firsts = lines.groupBy("line_hash").agg(
        F.count("*").alias("occ"),
        F.min(F.struct("doc_id", "line_no")).alias("first"),
    )
    kept = (
        lines.join(firsts, "line_hash")
        .filter(
            (F.col("occ") < min_occurrences)
            | (
                (F.col("doc_id") == F.col("first.doc_id"))
                & (F.col("line_no") == F.col("first.line_no"))
            )
        )
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("line_no", "line"))
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("text"),
            F.count("*").alias("n_kept"),
        )
        .join(
            docs.select(
                F.col(id_col).alias("doc_id"),
                (F.size(F.split(F.col(text_col), "\n"))).alias("n_lines"),
            ),
            "doc_id",
            "right",
        )
        .select(
            "doc_id",
            F.coalesce("text", F.lit("")).alias("text"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.col("n_lines").cast("long"),
        )
    )


def corpus_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for C4-style cross-document line dedup: every doc has a
    UNIQUE body line (``body of <doc_id>``), every doc carries the
    same boilerplate footer (``(c) example footer`` — survives ONLY
    in doc 0, the global first occurrence), and docs ≡0 (mod 3) share
    a cookie-banner line that survives only in doc 0 (the lowest
    ≡0-mod-3 doc).  The oracle reproduces every reassembled text and
    count in closed form."""

    def synth(doc_id):
        lines = [f"body of {doc_id}"]
        if doc_id % 3 == 0:
            lines.append("accept all cookies")
        lines.append("(c) example footer")
        yield {"doc_id": doc_id, "text": "\n".join(lines)}

    texts = map_rows(
        docs(spark, sf_dir, 300, "doc_id"), synth, "doc_id long, text string"
    )
    return (
        line_dedup(texts)
        .select("doc_id", F.md5("text").alias("text_md5"), "n_kept",
                "n_lines")
        .transform(final_sort, "doc_id")
    )


_LINE_DEDUP_SQL = """
SELECT doc_id,
       md5(CASE
         WHEN doc_id = 0
           THEN 'body of 0' || chr(10) || 'accept all cookies'
                || chr(10) || '(c) example footer'
         ELSE 'body of ' || doc_id
       END) AS text_md5,
       CAST(CASE WHEN doc_id = 0 THEN 3 ELSE 1 END AS BIGINT) AS n_kept,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 2 END AS BIGINT)
         AS n_lines
FROM documents WHERE doc_id < 300
ORDER BY doc_id
"""


def build_inverted_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Inverted index over the corpus: one row per term with its
    document frequency, total term frequency, and the posting list
    ``"doc:tf,doc:tf,…"`` sorted by doc id — the search-index build
    every crawl corpus eventually feeds.

    100-TB shape: explode → groupBy(term, doc) partial-agg (the tf
    pass combines map-side, so a 10k-repeat word in one doc leaves its
    partition as ONE row) → groupBy(term) for the postings.  Two keyed
    aggregations, no windows, no Python.  At real index scale the
    posting list for a stopword-grade term exceeds one row's budget —
    shard it by doc-id range (groupBy(term, doc_id >> K)) before the
    final agg; the gate keeps the single-row form and hashes the list."""
    tf = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("term"),
        )
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    return tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("doc_freq"),
        F.sum("tf").cast("long").alias("total_tf"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "tf"))),
                lambda s: F.concat_ws(
                    ":",
                    s["doc_id"].cast("string"),
                    s["tf"].cast("string"),
                ),
            ),
            ",",
        ).alias("postings"),
    )


def corpus_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: build the inverted index over ``documents`` (doc_id <
    300) and hash each posting list (the synthetic vocabulary is ~30
    words, so every list is corpus-length — md5 keeps the compared
    rows small while still pinning every (doc, tf) entry and order)."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return (
        build_inverted_index(d)
        .select(
            "term",
            "doc_freq",
            "total_tf",
            F.md5("postings").alias("postings_md5"),
        )
        .transform(final_sort, "term")
    )


_INVERTED_INDEX_SQL = r"""
WITH words AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
  FROM documents WHERE doc_id < 300
),
tf AS (
  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
  FROM words GROUP BY term, doc_id
)
SELECT term,
       CAST(COUNT(*) AS BIGINT) AS doc_freq,
       CAST(SUM(tf) AS BIGINT) AS total_tf,
       md5(string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id))
         AS postings_md5
FROM tf GROUP BY term ORDER BY term
"""


#: a bigram is "rare" when its corpus frequency is at/below this
_RARE_MAX_COUNT = 2
#: drop a doc when rare bigrams exceed this percentage of its bigrams
_RARE_MAX_PCT = 40


def lm_novelty_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rare_max_count: int = _RARE_MAX_COUNT,
    rare_max_pct: int = _RARE_MAX_PCT,
) -> DataFrame:
    """CCNet-style language-model filtering, integer-exact: train a
    bigram count model on the corpus itself (one aggregation), then
    score each document by how many of its word bigrams are rare
    (corpus frequency ≤ ``rare_max_count``) — the deterministic proxy
    for "high perplexity under the corpus LM".  A doc is kept when
    rare bigrams are ≤ ``rare_max_pct``% of its bigrams (gibberish,
    mangled encodings, and boilerplate-free spam score rare-heavy).

    100-TB shape: bigrams come from one zip-with-next ``transform``
    over the split array (no per-doc window, no Python) → the model is
    ONE partial-agg shuffle → score by hash-keyed join-back (hot
    boilerplate bigrams spread under AQE) → one per-doc aggregation.
    Counts stay integers end-to-end, so the keep decision is exact —
    no float log-prob to drift between engines."""
    bigrams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("ws"),
    ).select(
        "doc_id",
        F.explode(
            # guard: a 0/1-word doc has no bigrams (sequence(0,-1)
            # would throw); it simply has no output row, like the SQL
            F.when(
                F.size("ws") >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size("ws") - 2),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at("ws", i + 1),
                        F.element_at("ws", i + 2),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>")),
        ).alias("bg"),
    )
    model = bigrams.groupBy("bg").agg(F.count(F.lit(1)).alias("c"))
    return (
        bigrams.join(model, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum(
                (F.col("c") <= rare_max_count).cast("long")
            ).cast("long").alias("n_rare"),
        )
        .withColumn(
            "keep",
            F.col("n_rare") * 100 <= F.lit(rare_max_pct) * F.col("n_bigrams"),
        )
    )


def corpus_lm_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: self-trained bigram rarity scores over ``documents``
    (doc_id < 300; the synthetic ~30-word vocabulary gives a natural
    mix of common and singleton bigrams, so both keep outcomes occur)."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return lm_novelty_scores(d).transform(final_sort, "doc_id")


_LM_NOVELTY_SQL = rf"""
WITH words AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w,
         generate_subscripts(regexp_split_to_array(trim(text), '\s+'), 1)
           AS ord
  FROM documents WHERE doc_id < 300
),
bigrams AS (
  SELECT a.doc_id, a.w || ' ' || b.w AS bg
  FROM words a JOIN words b
    ON a.doc_id = b.doc_id AND b.ord = a.ord + 1
),
model AS (
  SELECT bg, COUNT(*) AS c FROM bigrams GROUP BY bg
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(CASE WHEN c <= {_RARE_MAX_COUNT} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_rare,
       SUM(CASE WHEN c <= {_RARE_MAX_COUNT} THEN 1 ELSE 0 END) * 100
         <= {_RARE_MAX_PCT} * COUNT(*) AS keep
FROM bigrams JOIN model USING (bg)
GROUP BY doc_id ORDER BY doc_id
"""


#: passage window length and stride (tokens); stride < size ⇒ overlap
_CHUNK_SIZE = 32
_CHUNK_STRIDE = 24


def passage_chunks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = _CHUNK_SIZE,
    stride: int = _CHUNK_STRIDE,
) -> DataFrame:
    """RAG-style passage chunking: split each document into
    overlapping ``size``-token windows every ``stride`` tokens (the
    retrieval-corpus prep step before embedding).  Every document
    yields at least one chunk; the last window is short when the doc
    doesn't divide evenly.  One row per chunk with its token count
    and text.

    100-TB shape: pure per-row array arithmetic (``sequence`` of
    window starts → ``slice`` → explode) — embarrassingly parallel,
    zero shuffles, whole-stage codegen end to end."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.split(F.trim(F.col(text_col)), r"\s+").alias("ws"),
        )
        .select(
            "doc_id",
            "ws",
            F.explode(
                # window starts: 0, stride, 2·stride, … while start < n
                F.filter(
                    F.sequence(
                        F.lit(0),
                        F.greatest(F.size("ws") - 1, F.lit(0)),
                        F.lit(stride),
                    ),
                    lambda s: s < F.size("ws"),
                )
            ).alias("start"),
        )
        .select(
            "doc_id",
            F.expr(f"start div {int(stride)}").cast("long").alias("chunk_id"),
            F.slice(F.col("ws"), F.col("start") + 1, size).alias("chunk"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.size("chunk").cast("long").alias("n_tokens"),
            F.array_join("chunk", " ").alias("chunk_text"),
        )
    )


def corpus_passage_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: chunk ``documents`` (doc_id < 300) and hash each chunk's
    text; doc lengths straddle several window counts so the overlap
    and the short-tail cases both occur."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return (
        passage_chunks(d)
        .select(
            "doc_id",
            "chunk_id",
            "n_tokens",
            F.md5("chunk_text").alias("chunk_md5"),
        )
        .transform(final_sort, "doc_id", "chunk_id")
    )


_PASSAGE_SQL = rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
  FROM documents WHERE doc_id < 300
),
starts AS (
  SELECT doc_id, ws, unnest(range(0, GREATEST(len(ws), 1),
                                  {_CHUNK_STRIDE})) AS start
  FROM toks
)
SELECT doc_id,
       CAST(start // {_CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       CAST(len(ws[start + 1 : start + {_CHUNK_SIZE}]) AS BIGINT)
         AS n_tokens,
       md5(array_to_string(ws[start + 1 : start + {_CHUNK_SIZE}], ' '))
         AS chunk_md5
FROM starts ORDER BY doc_id, chunk_id
"""


def corpus_length_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length moments — the first report any
    corpus card carries (mean/std flag truncation and boilerplate
    regimes before any model sees the data).  Variance comes from
    exact DECIMAL power sums (n, Σx, Σx²) so the reduction is
    order-independent and hash-identical cross-engine; the final
    mean/std are single double expressions over those three exact
    scalars.  One partial-agg shuffle to a |sources|-row table."""
    d = load(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim("text"), r"\s+")).cast("long")
    agg = (
        d.select("source", n_tok.alias("x"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("x").cast("decimal(28,6)")).alias("s1"),
            F.sum((F.col("x") * F.col("x")).cast("decimal(28,6)")).alias(
                "s2"
            ),
            F.min("x").cast("long").alias("min_tokens"),
            F.max("x").cast("long").alias("max_tokens"),
        )
    )
    mean = F.col("s1").cast("double") / F.col("n_docs")
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double")
        * F.col("s1").cast("double")
        / F.col("n_docs")
    ) / (F.col("n_docs") - 1)
    return agg.select(
        "source",
        "n_docs",
        "min_tokens",
        "max_tokens",
        F.round(mean, 6).alias("mean_tokens"),
        F.round(F.sqrt(var), 6).alias("std_tokens"),
    ).transform(final_sort, "source")


_MOMENTS_SQL = r"""
WITH agg AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         SUM(CAST(len(regexp_split_to_array(trim(text), '\s+'))
                  AS DECIMAL(28,6))) AS s1,
         SUM(CAST(len(regexp_split_to_array(trim(text), '\s+'))
                  * len(regexp_split_to_array(trim(text), '\s+'))
                  AS DECIMAL(28,6))) AS s2,
         CAST(MIN(len(regexp_split_to_array(trim(text), '\s+')))
              AS BIGINT) AS min_tokens,
         CAST(MAX(len(regexp_split_to_array(trim(text), '\s+')))
              AS BIGINT) AS max_tokens
  FROM documents GROUP BY source
)
SELECT source, n_docs, min_tokens, max_tokens,
  ROUND(CAST(s1 AS DOUBLE) / n_docs, 6) AS mean_tokens,
  ROUND(sqrt((CAST(s2 AS DOUBLE)
              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_docs)
             / (n_docs - 1)), 6) AS std_tokens
FROM agg ORDER BY source
"""


def corpus_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary statistics — the Heaps/Zipf health check:
    token count, type count (distinct words), hapax count (words seen
    once: collapsed boilerplate shows up as a hapax crater), and the
    type-token ratio.  Two keyed aggregations ((source, word) then
    source), all integers until the final ratio."""
    d = load(spark, sf_dir, "documents")
    words = d.select(
        "source",
        F.explode(F.split(F.trim("text"), r"\s+")).alias("w"),
    )
    per_word = words.groupBy("source", "w").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        per_word.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum((F.col("c") == 1).cast("long")).cast("long").alias(
                "n_hapax"
            ),
        )
        .withColumn(
            "type_token_ratio",
            F.round(
                F.col("n_types").cast("double") / F.col("n_tokens"), 6
            ),
        )
        .transform(final_sort, "source")
    )


_VOCAB_SQL = r"""
WITH words AS (
  SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
  FROM documents
),
per_word AS (
  SELECT source, w, COUNT(*) AS c FROM words GROUP BY source, w
)
SELECT source,
  CAST(SUM(c) AS BIGINT) AS n_tokens,
  CAST(COUNT(*) AS BIGINT) AS n_types,
  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
  ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS type_token_ratio
FROM per_word GROUP BY source ORDER BY source
"""


#: KMV sketch size (bottom-k minimum hash values); estimator
#: D̂ = (k−1)/h_k with h_k the kth-smallest hash mapped to (0,1).
#: k=16 because the synthetic per-source vocabulary is ~30 types —
#: k must be well under the true cardinality for the estimator to
#: estimate anything (production k is 256-4096).
_KMV_K = 16


def corpus_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k (KMV) distinct-count sketch per source — the
    mergeable cardinality estimator family HLL belongs to, built here
    from the house md5 hash so BOTH engines compute the identical
    sketch (Spark's HLL++ and DuckDB's HLL are different
    implementations and can never hash-match; KMV with a shared hash
    is deterministic).  The estimate D̂ = (k−1)/h_k uses the
    kth-smallest of md5(word) mapped into (0,1) via its first 12 hex
    digits; exact type counts ride along so the gate also pins the
    estimator's observed relative error.

    Scale note: the gate's kth-smallest uses a per-source window over
    the DISTINCT (source, word) set (vocabulary-sized, not
    corpus-sized); a production sketch keeps the k-row bottom-k
    monoid per partition and merges — same estimator, same answer."""
    d = load(spark, sf_dir, "documents")
    from pyspark.sql import Window

    words = (
        d.select(
            "source",
            F.explode(F.split(F.trim("text"), r"\s+")).alias("w"),
        )
        .distinct()
        .withColumn(
            "hv",
            F.conv(F.substring(F.md5("w"), 1, 12), 16, 10).cast("double")
            / float(16**12),
        )
    )
    w_rank = Window.partitionBy("source").orderBy("hv", "w")
    kth = (
        words.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == _KMV_K)
        .select("source", F.col("hv").alias("hk"))
    )
    exact = words.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_types")
    )
    est = (F.lit(float(_KMV_K - 1)) / F.col("hk")).alias("est")
    return (
        exact.join(kth, "source")
        .select(
            "source",
            "n_types",
            F.round(F.lit(float(_KMV_K - 1)) / F.col("hk"), 3).alias(
                "kmv_estimate"
            ),
            F.round(
                (F.lit(float(_KMV_K - 1)) / F.col("hk"))
                / F.col("n_types"),
                4,
            ).alias("est_over_exact"),
        )
        .transform(final_sort, "source")
    )


_KMV_SQL = rf"""
WITH words AS (
  SELECT DISTINCT source, w FROM (
    SELECT source,
           unnest(regexp_split_to_array(trim(text), '\s+')) AS w
    FROM documents
  )
),
hashed AS (
  SELECT source, w,
         CAST('0x' || substr(md5(w), 1, 12) AS UBIGINT)
           / CAST({16**12} AS DOUBLE) AS hv
  FROM words
),
kth AS (
  SELECT source, hv AS hk FROM (
    SELECT source, hv,
      ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv, w) AS rn
    FROM hashed
  ) WHERE rn = {_KMV_K}
),
exact AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_types
  FROM words GROUP BY source
)
SELECT e.source, e.n_types,
       ROUND({float(_KMV_K - 1)} / k.hk, 3) AS kmv_estimate,
       ROUND(({float(_KMV_K - 1)} / k.hk) / e.n_types, 4) AS est_over_exact
FROM exact e JOIN kth k USING (source)
ORDER BY e.source
"""


def luhn_valid_col(cand) -> "F.Column":
    """Luhn checksum over a 16-digit string column — pure higher-order
    JVM expressions (transform + aggregate), no Python: position i
    from the right contributes the digit if i is odd, else the
    digit-summed double (2v−9 when 2v>9)."""
    def term(i):
        v = F.ascii(F.substring(cand, i, 1)) - 48
        pos_from_right = 17 - i
        dbl = 2 * v
        return F.when(
            pos_from_right % 2 == 1, v
        ).otherwise(F.when(dbl > 9, dbl - 9).otherwise(dbl))

    total = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.lit(16)), lambda i: term(i)
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (total % 10 == 0).cast("long")


def text_pii_luhn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: Luhn-validated credit-card detection — the validator that
    separates real PAN leaks from random 16-digit noise (a plain
    \\d{{16}} regex false-positives on order ids and timestamps).  A
    deterministic 16-digit candidate starting with 4 is planted per
    doc; Spark's higher-order-expression Luhn and the oracle's
    DuckDB-list Luhn are INDEPENDENT implementations that must agree
    on every candidate (~10% of which are valid by construction).
    Pure JVM expressions, zero shuffles, one row per doc."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    planted = d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" pay 4"),
            F.lpad(
                ((F.col("doc_id") * 7919) % 1000000000000000).cast("string"),
                15,
                "0",
            ),
            F.lit(" now"),
        ),
    )
    cand = F.regexp_extract(F.col("text"), r"(?<!\d)(\d{16})(?!\d)", 1)
    return (
        planted.select(
            "doc_id",
            cand.alias("card_digits"),
        )
        .withColumn("luhn_valid", luhn_valid_col(F.col("card_digits")))
        .transform(final_sort, "doc_id")
    )


_LUHN_SQL = """
WITH planted AS (
  SELECT doc_id,
         '4' || lpad(CAST((doc_id * 7919) % 1000000000000000 AS VARCHAR),
                     15, '0') AS card_digits
  FROM documents WHERE doc_id < 400
)
SELECT doc_id, card_digits,
  CAST(list_sum(list_transform(range(1, 17), i ->
    CASE WHEN (17 - i) % 2 = 1
         THEN CAST(card_digits[i] AS INTEGER)
         ELSE CASE WHEN 2 * CAST(card_digits[i] AS INTEGER) > 9
                   THEN 2 * CAST(card_digits[i] AS INTEGER) - 9
                   ELSE 2 * CAST(card_digits[i] AS INTEGER) END
    END)) % 10 = 0 AS BIGINT) AS luhn_valid
FROM planted ORDER BY doc_id
"""


#: The clean phrase the mojibake gate plants (non-ASCII on purpose:
#: two-byte UTF-8 letters, an em-dash and curly quotes exercise the
#: cp1252 round-trip) and its double-encoded form.
_MOJI_CLEAN = "café naïve — ‘smart’ quotes"
_MOJI_BROKEN = _MOJI_CLEAN.encode("utf-8").decode("cp1252")


def repair_mojibake(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """ftfy-style mojibake repair: text that was UTF-8 encoded but
    decoded as cp1252 (the classic "cafÃ©" / "â€™" corruption) is
    restored by re-encoding cp1252 → decoding UTF-8.  Conservative:
    repair is attempted only when a mojibake marker (Ã/Â/â€) is
    present AND the full round-trip succeeds — clean text (including
    clean non-ASCII) passes through byte-identical.  Returns
    (doc_id, changed, text_md5).

    100-TB shape: a pure map (Arrow-batched mapInPandas, no shuffle);
    the md5 summary keeps gate rows bounded."""
    import hashlib

    schema = "doc_id long, changed long, text_md5 string"
    markers = ("Ã", "Â", "â€")

    def row(doc_id, text):
        t = text or ""
        fixed = t
        if any(m in t for m in markers):
            try:
                fixed = t.encode("cp1252").decode("utf-8")
            except (UnicodeEncodeError, UnicodeDecodeError):
                fixed = t
        yield {
            "doc_id": int(doc_id),
            "changed": 1 if fixed != t else 0,
            "text_md5": hashlib.md5(fixed.encode("utf-8")).hexdigest(),
        }

    return map_rows(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col)), row, schema
    )


def corpus_fix_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: docs ≡1 (mod 4) get the planted DOUBLE-ENCODED phrase
    appended (repair must restore the clean phrase exactly — md5
    compared against the closed-form oracle); docs ≡2 (mod 9) get the
    CLEAN phrase appended (already-correct non-ASCII must pass
    through unchanged, the false-positive guard); the rest are
    untouched ASCII."""
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 400)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 4 == 1,
                F.concat(F.col("text"), F.lit(" " + _MOJI_BROKEN)),
            )
            .when(
                F.col("doc_id") % 9 == 2,
                F.concat(F.col("text"), F.lit(" " + _MOJI_CLEAN)),
            )
            .otherwise(F.col("text")),
        )
    )
    return repair_mojibake(d).transform(final_sort, "doc_id")


_MOJI_SQL = f"""
SELECT doc_id,
       CAST(doc_id % 4 = 1 AS BIGINT) AS changed,
       md5(CASE
             WHEN doc_id % 4 = 1 THEN text || ' {_MOJI_CLEAN}'
             WHEN doc_id % 9 = 2 THEN text || ' {_MOJI_CLEAN}'
             ELSE text
           END) AS text_md5
FROM documents WHERE doc_id < 400
ORDER BY doc_id
"""


#: Sequence packing: tokens per packed training sequence (a sandbox
#: stand-in for 2048/4096/8192-token context windows).
_PACK_LEN = 256


def sequence_pack(
    docs: DataFrame,
    seq_len: int = _PACK_LEN,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """GPT-style sequence packing — concatenate the corpus in a
    deterministic pseudo-random order (md5 priority) and cut every
    ``seq_len`` tokens: each output row is one (bin, doc) SEGMENT with
    the segment's offset inside the bin, its offset inside the doc,
    and its length.  Documents spanning a cut appear in both bins —
    exactly the "concat and chunk" layout LLM training data is packed
    into.

    100-TB shape (the quota sampler's skew-proof decomposition,
    without its per-source key): the md5 order splits into 16
    contiguous ranges by first hex digit, per-bucket token totals are
    one 16-group partial-agg, the ≤16-row prefix runs on the DRIVER,
    and the running sum windows over (bucket) — the largest window
    task is 1/16th of the corpus (1/256th with a 2-char prefix) and
    no window ever runs unpartitioned.  Segment explosion is a
    higher-order ``transform``/``explode`` in codegen."""
    sized = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(
            F.split(F.trim(F.col(text_col)), r"\s+")
        ).cast("long").alias("n_tokens"),
        F.md5(F.col(id_col).cast("string")).alias("pri"),
    ).withColumn("bucket", F.substring("pri", 1, 1))
    totals = (
        sized.groupBy("bucket")
        .agg(F.sum("n_tokens").alias("bucket_tokens"))
        .collect()
    )
    acc = 0
    offs = []
    for r in sorted(totals, key=lambda r: r.bucket):
        offs.append((r.bucket, acc))
        acc += int(r.bucket_tokens)
    offsets = F.broadcast(
        docs.sparkSession.createDataFrame(
            offs, "bucket string, offset_tokens long"
        )
    )
    from pyspark.sql import Window

    w_run = (
        Window.partitionBy("bucket")
        .orderBy("pri", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    spans = (
        sized.join(offsets, "bucket")
        .withColumn(
            "end", F.sum("n_tokens").over(w_run) + F.col("offset_tokens")
        )
        .withColumn("start", F.col("end") - F.col("n_tokens"))
    )
    first_bin = (F.col("start") / seq_len).cast("long")
    last_bin = ((F.col("end") - 1) / seq_len).cast("long")
    seg = F.explode(F.sequence(first_bin, last_bin)).alias("bin_id")
    gs = F.greatest(F.col("start"), F.col("bin_id") * seq_len)
    ge = F.least(F.col("end"), (F.col("bin_id") + 1) * seq_len)
    return (
        spans.select("doc_id", "start", "end", seg)
        .select(
            F.col("bin_id").cast("long").alias("bin_id"),
            "doc_id",
            (gs - F.col("bin_id") * seq_len).cast("long").alias("seg_off"),
            (gs - F.col("start")).cast("long").alias("doc_off"),
            (ge - gs).cast("long").alias("seg_len"),
        )
    )


def corpus_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: pack ``documents`` (doc_id < 400) into 256-token
    sequences; the synthetic doc lengths straddle the bin size, so
    single-bin, bin-spanning, and exactly-at-cut segments all occur."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    return sequence_pack(d).transform(final_sort, "bin_id", "seg_off", "doc_id")


_PACK_SQL = rf"""
WITH sized AS MATERIALIZED (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
           AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS pri
  FROM documents WHERE doc_id < 400
),
spans AS MATERIALIZED (
  SELECT doc_id,
         SUM(n_tokens) OVER (
           ORDER BY pri, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS "end",
         SUM(n_tokens) OVER (
           ORDER BY pri, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - n_tokens AS start
  FROM sized
),
seg AS MATERIALIZED (
  SELECT doc_id, CAST(start AS BIGINT) AS start,
         CAST("end" AS BIGINT) AS "end",
         unnest(range(CAST(start // {_PACK_LEN} AS BIGINT),
                      CAST(("end" - 1) // {_PACK_LEN} + 1 AS BIGINT)))
           AS bin_id
  FROM spans
)
SELECT CAST(bin_id AS BIGINT) AS bin_id, doc_id,
       CAST(GREATEST(start, bin_id * {_PACK_LEN})
            - bin_id * {_PACK_LEN} AS BIGINT) AS seg_off,
       CAST(GREATEST(start, bin_id * {_PACK_LEN}) - start AS BIGINT)
         AS doc_off,
       CAST(LEAST("end", (bin_id + 1) * {_PACK_LEN})
            - GREATEST(start, bin_id * {_PACK_LEN}) AS BIGINT) AS seg_len
FROM seg
ORDER BY bin_id, seg_off, doc_id
"""


#: Winnowing constants (Schleimer/Wilkerson/Aiken, MOSS): word
#: k-grams hashed with md5, guarantee window w — any shared run of
#: w + k - 1 tokens yields at least one shared fingerprint.
_WIN_K = 3
_WIN_W = 4


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = _WIN_K,
    w: int = _WIN_W,
) -> DataFrame:
    """MOSS-style winnowing document fingerprints: hash every word
    k-gram (md5, compared lexicographically — the house no-hex→int
    rule), slide a w-window over the hash sequence, keep each
    window's minimum, and emit the doc's distinct fingerprint set
    (summarized as a sorted-joined md5 plus counts).  The guarantee
    that makes winnowing the plagiarism/near-copy standard: any match
    of at least w+k-1 consecutive tokens shares a fingerprint.

    100-TB shape: everything is per-row higher-order expressions
    (transform/slice/array_min) inside whole-stage codegen — ZERO
    shuffles, no Python; the output is one bounded row per doc."""
    ws = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size("ws")
    grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.md5(
                F.concat_ws(
                    " ",
                    *[F.element_at("ws", i + j + 1) for j in range(k)],
                )
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    d = docs.select(
        F.col(id_col).alias("doc_id"), ws.alias("ws")
    ).select("doc_id", grams.alias("hs"))
    nh = F.size("hs")
    wins = (
        F.when(nh == 0, F.array().cast("array<string>"))
        .when(nh < w, F.array(F.array_min("hs")))
        .otherwise(
            F.transform(
                F.sequence(F.lit(0), nh - w),
                lambda i: F.array_min(F.slice(F.col("hs"), i + 1, w)),
            )
        )
    )
    return d.select(
        "doc_id",
        nh.cast("long").alias("n_grams"),
        F.array_sort(F.array_distinct(wins)).alias("fps"),
    ).select(
        "doc_id",
        "n_grams",
        F.size("fps").cast("long").alias("n_fingerprints"),
        F.md5(F.concat_ws(",", "fps")).alias("fp_md5"),
    )


def corpus_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: winnowing fingerprints over ``documents`` (doc_id < 300;
    the corpus mixes docs shorter than k, shorter than w+k-1, and
    long docs, so all three window branches execute)."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return winnow_fingerprints(d).transform(final_sort, "doc_id")


_WINNOW_SQL = rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
  FROM documents WHERE doc_id < 300
),
g AS (
  SELECT doc_id,
    CASE WHEN len(ws) >= {_WIN_K} THEN
      list_transform(range(1, len(ws) - {_WIN_K} + 2),
        i -> md5(concat_ws(' ',
               {", ".join(f"ws[i + {j}]" for j in range(_WIN_K))})))
    ELSE CAST([] AS VARCHAR[]) END AS hs
  FROM toks
),
wnd AS (
  SELECT doc_id, hs,
    CASE WHEN len(hs) = 0 THEN CAST([] AS VARCHAR[])
         WHEN len(hs) < {_WIN_W} THEN [list_min(hs)]
         ELSE list_transform(range(1, len(hs) - {_WIN_W} + 2),
                i -> list_min(hs[i : i + {_WIN_W} - 1]))
    END AS wins
  FROM g
)
SELECT doc_id,
       CAST(len(hs) AS BIGINT) AS n_grams,
       CAST(len(list_distinct(wins)) AS BIGINT) AS n_fingerprints,
       md5(array_to_string(list_sort(list_distinct(wins)), ','))
         AS fp_md5
FROM wnd ORDER BY doc_id
"""


#: Okapi BM25 constants (Robertson/Spärck Jones; the Lucene defaults)
_BM25_K1 = 1.2
_BM25_B = 0.75
#: the retrieval query the gate scores the corpus against
_BM25_QUERY = ("spark", "merge", "window")


def bm25_topk(
    docs: DataFrame,
    query_terms: tuple[str, ...],
    topk: int = 50,
    k1: float = _BM25_K1,
    b: float = _BM25_B,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 retrieval: score every document against
    ``query_terms`` and return the top-k.  idf = ln(1 + (N-df+0.5)/
    (df+0.5)) (the Lucene variant, never negative).

    100-TB shape: the corpus explode is filtered to the |Q|-term query
    set BEFORE the tf shuffle, so the only corpus-wide exchanges move
    (a) one row per (matching term, doc) for tf and (b) one row per
    doc for its length; N/avgdl is a single-row partial aggregate and
    the per-term df table is |Q| rows — both broadcast.  The final
    top-k is TakeOrderedAndProject (no global sort)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("ws"),
    )
    dl = toks.select("doc_id", F.size("ws").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    tf = (
        toks.select("doc_id", F.explode("ws").alias("term"))
        .filter(F.col("term").isin(*query_terms))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.log(
                    1.0
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("part"),
        )
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("part"), 6).alias("bm25"),
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        )
    )
    return scored.orderBy(F.desc("bm25"), "doc_id").limit(topk)


def corpus_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: BM25 top-50 for a 3-term query over ``documents``.
    Covers multi-term accumulation, tf saturation, and the doc-length
    normalization (synthetic doc lengths vary several × around
    avgdl)."""
    return bm25_topk(load(spark, sf_dir, "documents"), _BM25_QUERY)


_BM25_SQL = rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
  FROM documents
),
dl AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM toks),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl
),
tf AS (
  SELECT term, doc_id, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, unnest(ws) AS term FROM toks)
  WHERE term IN ({", ".join(f"'{t}'" for t in _BM25_QUERY)})
  GROUP BY term, doc_id
),
df_t AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term)
SELECT tf.doc_id,
       ROUND(SUM(
         ln(1 + (stats.n_docs - df_t.df + 0.5) / (df_t.df + 0.5))
         * (tf.tf * ({_BM25_K1} + 1.0))
         / (tf.tf + {_BM25_K1}
            * (1.0 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl))
       ), 6) AS bm25,
       CAST(COUNT(*) AS BIGINT) AS n_terms_hit
FROM tf JOIN df_t USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
GROUP BY tf.doc_id
ORDER BY bm25 DESC, doc_id
LIMIT 50
"""


#: Gopher rules (Rae et al. 2021 §A1.1): word-count bounds, mean word
#: length 3–10, ≤10% hash/ellipsis symbols, ≥80% words with an
#: alphabetic character, ≥2 required stopwords.  The synthetic corpus
#: needs a reachable word-count floor; everything else is the paper's.
_GOPHER_MIN_WORDS = 40
_GOPHER_MAX_WORDS = 100_000
_GOPHER_REQUIRED = ("the", "a", "of", "and", "to", "in", "that", "with")


def gopher_rules(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher repetition-free quality rules as integer-exact booleans
    (ratios compared by cross-multiplication, so no float enters the
    keep decision).  One row per doc with each rule's verdict and the
    conjunction.

    100-TB shape: pure per-row ``pyspark.sql.functions`` expressions —
    no shuffle, no window, no Python; whole-stage codegen end to
    end."""
    ws = F.split(F.trim(F.col(text_col)), r"\s+")
    n_words = F.size(ws).cast("long")
    total_chars = F.aggregate(
        F.transform(ws, lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_alpha = F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]"))).cast("long")
    n_sym = (
        F.size(F.filter(ws, lambda w: w.startswith("#"))).cast("long")
        + F.size(F.filter(ws, lambda w: w.endswith("..."))).cast("long")
    )
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(ws),
            F.array(*[F.lit(s) for s in _GOPHER_REQUIRED]),
        )
    ).cast("long")
    out = docs.select(
        F.col(id_col).alias("doc_id"),
        n_words.alias("n_words"),
        ((n_words >= _GOPHER_MIN_WORDS) & (n_words <= _GOPHER_MAX_WORDS))
        .cast("long")
        .alias("ok_words"),
        ((total_chars >= 3 * n_words) & (total_chars <= 10 * n_words))
        .cast("long")
        .alias("ok_mean_len"),
        (10 * n_sym <= n_words).cast("long").alias("ok_symbols"),
        (10 * n_alpha >= 8 * n_words).cast("long").alias("ok_alpha"),
        (n_stop >= 2).cast("long").alias("ok_stopwords"),
    )
    return out.withColumn(
        "keep",
        (
            F.col("ok_words")
            * F.col("ok_mean_len")
            * F.col("ok_symbols")
            * F.col("ok_alpha")
            * F.col("ok_stopwords")
        ).cast("long"),
    )


def corpus_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: Gopher rules over every document, ordered by doc_id —
    both keep and each per-rule verdict are hash-pinned."""
    return gopher_rules(load(spark, sf_dir, "documents")).transform(final_sort, "doc_id")


_GOPHER_SQL = rf"""
WITH feat AS (
  SELECT doc_id,
    regexp_split_to_array(trim(text), '\s+') AS ws
  FROM documents
),
agg AS (
  SELECT doc_id,
    CAST(len(ws) AS BIGINT) AS n_words,
    CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT)
      AS total_chars,
    CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))
      AS BIGINT) AS n_alpha,
    CAST(len(list_filter(ws, w -> w LIKE '#%'))
       + len(list_filter(ws, w -> w LIKE '%...')) AS BIGINT) AS n_sym,
    CAST(len(list_intersect(list_distinct(ws),
      [{", ".join(f"'{s}'" for s in _GOPHER_REQUIRED)}])) AS BIGINT)
      AS n_stop
  FROM feat
)
SELECT doc_id, n_words,
  CAST(n_words >= {_GOPHER_MIN_WORDS}
       AND n_words <= {_GOPHER_MAX_WORDS} AS BIGINT) AS ok_words,
  CAST(total_chars >= 3 * n_words
       AND total_chars <= 10 * n_words AS BIGINT) AS ok_mean_len,
  CAST(10 * n_sym <= n_words AS BIGINT) AS ok_symbols,
  CAST(10 * n_alpha >= 8 * n_words AS BIGINT) AS ok_alpha,
  CAST(n_stop >= 2 AS BIGINT) AS ok_stopwords,
  CAST((n_words >= {_GOPHER_MIN_WORDS} AND n_words <= {_GOPHER_MAX_WORDS})
   AND (total_chars >= 3 * n_words AND total_chars <= 10 * n_words)
   AND (10 * n_sym <= n_words)
   AND (10 * n_alpha >= 8 * n_words)
   AND (n_stop >= 2) AS BIGINT) AS keep
FROM agg ORDER BY doc_id
"""


#: DSIR constants: hashed-feature bucket width (2 md5 hex chars = 256
#: buckets, string-keyed so both engines bucket identically) and the
#: deterministic "target domain" sample (every 17th document).
_DSIR_TARGET_MOD = 17


def dsir_select(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_mod: int = _DSIR_TARGET_MOD,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023),
    integer-exact: featurize every document as hashed unigram buckets
    (first 2 md5 hex chars → 256 buckets), fit Laplace-smoothed bucket
    distributions for the TARGET sample (doc_id % ``target_mod`` == 0,
    the stand-in for a trusted domain corpus) and the RAW rest, and
    score each raw document by how many of its token occurrences fall
    in target-leaning buckets.  "Target-leaning" is the exact integer
    cross-multiplication (ct+1)·(Tr+B) > (cr+1)·(Tt+B) of the two
    smoothed probabilities — no float log-ratios to drift between
    engines.  A raw doc is selected when its lean-token share exceeds
    the raw pool's average share, again by exact cross-multiplication
    n_lean·ΣN > n_tok·ΣL — a self-calibrating threshold, so selection
    does not hinge on a tuned constant (the deterministic analogue of
    DSIR's importance-weighted resample keeping the above-average
    importance mass).

    100-TB shape: the bucket model is ONE 256-group partial-agg
    shuffle; scoring is a broadcast join of the 256-row model against
    the token stream and one per-doc aggregation whose map-side
    combine reduces the token stream to one row per (doc, partition)
    before its shuffle; only two scalar totals reach the driver."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        (F.col(id_col) % target_mod == 0).alias("is_target"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("w"),
    ).withColumn("b", F.substring(F.md5("w"), 1, 2))
    model = toks.groupBy("b").agg(
        F.sum(F.col("is_target").cast("long")).alias("ct"),
        F.sum((~F.col("is_target")).cast("long")).alias("cr"),
    )
    totals = model.agg(
        F.sum("ct").alias("tt"), F.sum("cr").alias("tr")
    ).collect()[0]
    tt, tr, nb = int(totals.tt), int(totals.tr), 256
    lean = model.select(
        "b",
        (
            (F.col("ct") + 1) * F.lit(tr + nb)
            > (F.col("cr") + 1) * F.lit(tt + nb)
        ).alias("lean"),
    )
    per_doc = (
        toks.filter(~F.col("is_target"))
        .join(F.broadcast(lean), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tok"),
            F.sum(F.col("lean").cast("long")).cast("long").alias("n_lean"),
        )
    )
    pool = per_doc.agg(
        F.sum("n_tok").alias("sn"), F.sum("n_lean").alias("sl")
    ).collect()[0]
    sn, sl = int(pool.sn), int(pool.sl)
    return per_doc.withColumn(
        "keep", (F.col("n_lean") * sn > F.col("n_tok") * sl).cast("long")
    )


_DSIR_PHRASE = "rdomain sdomain tdomain"


def corpus_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: DSIR selection over ``documents`` (doc_id < 400; every
    17th doc is the target-domain sample).  A real distribution shift
    is planted: target docs carry a domain phrase ×5, and every 3rd
    raw doc carries it once — those in-domain raw docs must dominate
    the keep=1 set, with the self-calibrating threshold splitting the
    rest by their natural rare-bucket share."""
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 400)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % _DSIR_TARGET_MOD == 0,
                F.concat_ws(" ", "text", F.lit(" ".join([_DSIR_PHRASE] * 5))),
            )
            .when(
                F.col("doc_id") % 3 == 0,
                F.concat_ws(" ", "text", F.lit(_DSIR_PHRASE)),
            )
            .otherwise(F.col("text")),
        )
    )
    return dsir_select(d).transform(final_sort, "doc_id")


_DSIR_SQL = rf"""
WITH docs AS MATERIALIZED (
  SELECT doc_id,
    CASE
      WHEN doc_id % {_DSIR_TARGET_MOD} = 0
        THEN concat_ws(' ', text, '{" ".join([_DSIR_PHRASE] * 5)}')
      WHEN doc_id % 3 = 0 THEN concat_ws(' ', text, '{_DSIR_PHRASE}')
      ELSE text
    END AS text
  FROM documents WHERE doc_id < 400
),
toks AS MATERIALIZED (
  SELECT doc_id, doc_id % {_DSIR_TARGET_MOD} = 0 AS is_target,
         substr(md5(w), 1, 2) AS b
  FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(text), '\s+')) AS w
    FROM docs
  )
),
model AS MATERIALIZED (
  SELECT b,
         SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct,
         SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS cr
  FROM toks GROUP BY b
),
totals AS MATERIALIZED (
  SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM model
),
lean AS MATERIALIZED (
  SELECT b, (ct + 1) * (tr + 256) > (cr + 1) * (tt + 256) AS lean
  FROM model, totals
),
per_doc AS MATERIALIZED (
  SELECT t.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tok,
         CAST(SUM(CASE WHEN lean.lean THEN 1 ELSE 0 END) AS BIGINT) AS n_lean
  FROM toks t JOIN lean USING (b)
  WHERE NOT t.is_target
  GROUP BY t.doc_id
),
pool AS MATERIALIZED (
  SELECT SUM(n_tok) AS sn, SUM(n_lean) AS sl FROM per_doc
)
SELECT doc_id, n_tok, n_lean,
       CAST(n_lean * sn > n_tok * sl AS BIGINT) AS keep
FROM per_doc, pool
ORDER BY doc_id
"""


#: Source-mixing constants: α=0.5 temperature (sqrt is correctly
#: rounded per IEEE 754, so n^α is bit-identical across engines) and
#: the sampling budget the expected-token column scales to.
_MIX_BUDGET = 1_000_000


def source_mix_weights(
    docs: DataFrame, budget: int = _MIX_BUDGET
) -> DataFrame:
    """Temperature-based source mixing (the multinomial α-sampling of
    multilingual/multi-source LM training, α=0.5): per-source token
    counts n_s → sampling weight p_s = sqrt(n_s)/Σ sqrt(n_s) →
    expected token budget round(budget·p_s).  Upsampled sources
    (budget share above natural share) get repeat factors > 1.

    Determinism: sqrt of an integer is a correctly-rounded IEEE
    operation (identical in JVM and C); the normalizer is an exact
    DECIMAL sum of those doubles; each output is then a single
    rounded double op — no accumulation-order dependence anywhere.

    100-TB shape: one partial-agg shuffle to the |sources|-row table;
    everything after runs on that bounded table."""
    per = docs.select(
        "source", F.split(F.trim("text"), r"\s+").alias("ws")
    ).groupBy("source").agg(
        F.sum(F.size("ws")).cast("long").alias("n_tokens")
    )
    tot = per.agg(
        F.sum(
            F.sqrt(F.col("n_tokens").cast("double")).cast("decimal(28,12)")
        ).alias("z"),
        F.sum("n_tokens").alias("n"),
    ).collect()[0]
    z = float(tot.z)
    return per.select(
        "source",
        "n_tokens",
        F.round(F.sqrt(F.col("n_tokens").cast("double")) / F.lit(z), 6).alias(
            "weight"
        ),
        F.round(
            F.lit(float(budget))
            * (F.sqrt(F.col("n_tokens").cast("double")) / F.lit(z)),
            3,
        ).alias("budget_tokens"),
    ).transform(final_sort, "source")


def corpus_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: α=0.5 temperature mixing weights over every source in
    ``documents``."""
    return source_mix_weights(load(spark, sf_dir, "documents"))


_MIX_SQL = rf"""
WITH per AS MATERIALIZED (
  SELECT source,
         CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY source
),
tot AS MATERIALIZED (
  SELECT CAST(SUM(CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(28,12)))
              AS DOUBLE) AS z
  FROM per
)
SELECT source, n_tokens,
       ROUND(sqrt(CAST(n_tokens AS DOUBLE)) / z, 6) AS weight,
       ROUND({float(_MIX_BUDGET)} * (sqrt(CAST(n_tokens AS DOUBLE)) / z), 3)
         AS budget_tokens
FROM per, tot
ORDER BY source
"""


QUERIES = {
    "corpus_kmv_distinct": corpus_kmv_distinct,
    "corpus_length_moments": corpus_length_moments,
    "corpus_vocab_stats": corpus_vocab_stats,
    "text_pii_luhn": text_pii_luhn,
    "corpus_fix_mojibake": corpus_fix_mojibake,
    "corpus_sequence_pack": corpus_sequence_pack,
    "corpus_winnow_fingerprints": corpus_winnow_fingerprints,
    "corpus_dsir_select": corpus_dsir_select,
    "corpus_source_mix": corpus_source_mix,
    "corpus_bm25_topk": corpus_bm25_topk,
    "corpus_gopher_rules": corpus_gopher_rules,
    "corpus_line_dedup": corpus_line_dedup,
    "corpus_inverted_index": corpus_inverted_index,
    "corpus_lm_novelty": corpus_lm_novelty,
    "corpus_passage_chunks": corpus_passage_chunks,
    "corpus_main_text": corpus_main_text,
    "text_token_stats": text_token_stats,
    "text_quality_scores": text_quality_scores,
    "text_langid_heuristic": text_langid_heuristic,
    "text_fingerprint": text_fingerprint,
    "text_pii_scrub": text_pii_scrub,
    "corpus_quality_filter": corpus_quality_filter,
    "corpus_hash_split": corpus_hash_split,
    "corpus_quota_sample": corpus_quota_sample,
    "corpus_quota_sample_bucketed": corpus_quota_sample_bucketed,
}

ORACLE_SQL = {
    "corpus_kmv_distinct": _KMV_SQL,
    "corpus_length_moments": _MOMENTS_SQL,
    "corpus_vocab_stats": _VOCAB_SQL,
    "text_pii_luhn": _LUHN_SQL,
    "corpus_fix_mojibake": _MOJI_SQL,
    "corpus_sequence_pack": _PACK_SQL,
    "corpus_winnow_fingerprints": _WINNOW_SQL,
    "corpus_dsir_select": _DSIR_SQL,
    "corpus_source_mix": _MIX_SQL,
    "corpus_bm25_topk": _BM25_SQL,
    "corpus_gopher_rules": _GOPHER_SQL,
    "corpus_line_dedup": _LINE_DEDUP_SQL,
    "corpus_inverted_index": _INVERTED_INDEX_SQL,
    "corpus_lm_novelty": _LM_NOVELTY_SQL,
    "corpus_passage_chunks": _PASSAGE_SQL,
    "corpus_main_text": _MAIN_TEXT_SQL,
    "text_token_stats": _TOKEN_SQL,
    "text_quality_scores": _QUALITY_SQL,
    "text_langid_heuristic": _langid_sql(),
    "text_fingerprint": _FINGERPRINT_SQL,
    "text_pii_scrub": _PII_SQL,
    "corpus_quality_filter": _CORPUS_FILTER_SQL,
    "corpus_hash_split": _HASH_SPLIT_SQL,
    "corpus_quota_sample": _QUOTA_SQL,
    "corpus_quota_sample_bucketed": _QUOTA_SQL,
}
