"""scrp extraction as a gate-checkable query: pages are synthesized
JVM-side from the ``documents`` table, the full compiled-scrp engine
extracts fields back out through the Arrow UDF, and the DuckDB oracle
reconstructs the same answer from the raw columns — an end-to-end
correctness statement for the extraction engine itself, hash-checked
by the driver like any relational query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tables import final_sort, load

# page template: every value the scrp program extracts is derived from
# documents columns, so SQL can predict the exact output
_HTML_EXPR = (
    "concat('<html><body><h1 id=\"t\">doc ', CAST(doc_id AS STRING), "
    "'</h1><p class=\"meta\" data-lang=\"', lang, '\" data-source=\"', source, "
    "'\">meta</p><div class=\"body\">', text, '</div>"
    "<ul>', concat_ws('', transform(sequence(1, CAST(doc_id % 4 + 1 AS INT)), "
    "j -> concat('<li class=\"kw\">kw', j, '</li>'))), '</ul></body></html>')"
)

_PROGRAM = """
title: h1 { t: $element | text(); } | take(key: "t");
lang: .meta {
    l: $element | attrs() | take(key: "data-lang");
    s: $element | attrs() | take(key: "data-source");
};
body: .body { t: $element | text(); } | take(key: "t");
kws: li.kw { t: $element | text(); }* | take(key: "t")*;
n_kws: $kws | [x: 1 | eq(to: 1)];
"""


def scrp_extract_over_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extract import extract

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pages = d.select(
        F.concat(F.lit("http://docs.test/"), F.col("doc_id").cast("string")).alias(
            "url"
        ),
        F.expr(_HTML_EXPR).alias("html"),
    )
    out = extract(pages, _PROGRAM)
    schema = (
        "struct<title: string, lang: struct<l: string, s: string>, "
        "body: string, kws: array<string>>"
    )
    rec = out.select(
        F.regexp_replace("url", "^http://docs.test/", "").cast("long").alias("doc_id"),
        F.from_json("result", schema).alias("r"),
    )
    return rec.select(
        "doc_id",
        F.col("r.title").alias("title"),
        F.col("r.lang.l").alias("lang"),
        F.col("r.lang.s").alias("source"),
        F.col("r.body").alias("body"),
        F.size("r.kws").cast("long").alias("n_kws"),
        F.concat_ws("|", "r.kws").alias("kws_joined"),
    ).transform(final_sort, "doc_id")


_SCRP_SQL = """
SELECT doc_id,
  'doc ' || CAST(doc_id AS VARCHAR) AS title,
  lang,
  source,
  text AS body,
  CAST(doc_id % 4 + 1 AS BIGINT) AS n_kws,
  list_aggregate(list_transform(range(1, CAST(doc_id % 4 + 2 AS BIGINT)),
                 j -> 'kw' || CAST(j AS VARCHAR)), 'string_agg', '|') AS kws_joined
FROM documents
WHERE doc_id < 200
ORDER BY doc_id
"""

# ---------------------------------------------------------------------------
# Filter-library gate queries: each §2.4/§2.5 filter flows through a
# driver-gate CORRECTNESS row, not just pytest (VERDICT r1 "missing" #1).
# Same construction: pages synthesized JVM-side from documents columns,
# the full engine extracts, DuckDB predicts the answer from raw columns.
# ---------------------------------------------------------------------------

# numeric/text filters: strip, int, float, split, nth, tee, and the `?`
# filter qualifier over a null produced by a `?` element qualifier
_NUM_HTML_EXPR = (
    "concat('<html><body><span id=\"num\">  ', CAST(n_chars AS STRING), "
    "'  </span><span id=\"flt\">', CAST(doc_id AS STRING), "
    "'.25</span><p id=\"csv\">', lang, ',', source, ',x', "
    "CAST(doc_id % 7 AS STRING), '</p></body></html>')"
)

_NUM_PROGRAM = """
teed: #num {
    t: $element | text() | strip() | tee(into: "copy");
    c: $copy | int();
} | take(key: "c");
raw: #num { t: $element | text(); } | take(key: "t");
n: $raw | strip() | int();
f: #flt { t: $element | text(); } | take(key: "t") | float();
parts: #csv { t: $element | text(); } | take(key: "t") | split(on: ",");
first: $parts | nth(i: 0);
third: $parts | nth(i: 2);
missing: .nope { }?;
m2: $missing | strip()?;
"""


def scrp_filters_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for strip/int/float/split/nth/tee + `?` filter qualifier
    (reference semantics: builtin.rs:132-330, mod.rs:221-239)."""
    from .extract import extract

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    pages = d.select(
        F.concat(F.lit("http://docs.test/"), F.col("doc_id").cast("string")).alias(
            "url"
        ),
        F.expr(_NUM_HTML_EXPR).alias("html"),
    )
    out = extract(pages, _NUM_PROGRAM)
    schema = (
        "struct<teed: bigint, n: bigint, f: double, first: string, "
        "third: string, m2: string>"
    )
    rec = out.select(
        F.regexp_replace("url", "^http://docs.test/", "").cast("long").alias("doc_id"),
        F.from_json("result", schema).alias("r"),
    )
    return rec.select(
        "doc_id",
        F.col("r.teed").alias("teed"),
        F.col("r.n").alias("n"),
        F.col("r.f").alias("f"),
        F.col("r.first").alias("first_tok"),
        F.col("r.third").alias("third_tok"),
        F.col("r.m2").alias("m2"),
    ).transform(final_sort, "doc_id")


_NUM_SQL = """
SELECT doc_id,
  n_chars AS teed,
  n_chars AS n,
  CAST(doc_id AS DOUBLE) + 0.25 AS f,
  lang AS first_tok,
  'x' || CAST(doc_id % 7 AS VARCHAR) AS third_tok,
  CAST(NULL AS VARCHAR) AS m2
FROM documents
WHERE doc_id < 300
ORDER BY doc_id
"""

# boolean/structure filters: eq, is_in, and, or, not, keys, values, and
# an inline value `<leaf | filters>` as a filter argument
_LOGIC_HTML_EXPR = (
    "concat('<html><body><p class=\"meta\" data-lang=\"', lang, "
    "'\" data-source=\"', source, '\">m</p></body></html>')"
)

_LOGIC_PROGRAM = """
meta: .meta { a: $element | attrs(); } | take(key: "a");
ks: $meta | keys();
vs: $meta | values();
lang: $meta | take(key: "data-lang");
is_en: $lang | eq(to: "en");
known: $lang | is_in(list: <"de,en,fr" | split(on: ",")>);
both: $is_en | and(with: $known);
either: $is_en | or(with: $known);
neg: $is_en | not();
"""


def scrp_filters_logic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for eq/is_in/and/or/not/keys/values + inline-value filter
    args (builtin.rs:201-330, interpreter eval_inline mod.rs:174-183)."""
    from .extract import extract

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    pages = d.select(
        F.concat(F.lit("http://docs.test/"), F.col("doc_id").cast("string")).alias(
            "url"
        ),
        F.expr(_LOGIC_HTML_EXPR).alias("html"),
    )
    out = extract(pages, _LOGIC_PROGRAM)
    schema = (
        "struct<ks: array<string>, vs: array<string>, lang: string, "
        "is_en: boolean, known: boolean, both: boolean, either: boolean, "
        "neg: boolean>"
    )
    rec = out.select(
        F.regexp_replace("url", "^http://docs.test/", "").cast("long").alias("doc_id"),
        F.from_json("result", schema).alias("r"),
    )
    return rec.select(
        "doc_id",
        F.concat_ws("|", "r.ks").alias("keys_joined"),
        F.concat_ws("|", "r.vs").alias("values_joined"),
        F.col("r.lang").alias("lang"),
        F.col("r.is_en").cast("long").alias("is_en"),
        F.col("r.known").cast("long").alias("known"),
        F.col("r.both").cast("long").alias("both"),
        F.col("r.either").cast("long").alias("either"),
        F.col("r.neg").cast("long").alias("neg"),
    ).transform(final_sort, "doc_id")


_LOGIC_SQL = """
SELECT doc_id,
  'class|data-lang|data-source' AS keys_joined,
  'meta|' || lang || '|' || source AS values_joined,
  lang,
  CAST(lang = 'en' AS BIGINT) AS is_en,
  CAST(lang IN ('de', 'en', 'fr') AS BIGINT) AS known,
  CAST(lang = 'en' AND lang IN ('de', 'en', 'fr') AS BIGINT) AS both,
  CAST(lang = 'en' OR lang IN ('de', 'en', 'fr') AS BIGINT) AS either,
  CAST(NOT (lang = 'en') AS BIGINT) AS neg
FROM documents
WHERE doc_id < 300
ORDER BY doc_id
"""

# URL recursion: the main page links (relatively) to a detail page in a
# broadcast mini-corpus; the program follows `<$link>` twice
_REC_HTML_EXPR = (
    "concat('<html><body><a id=\"next\" href=\"detail/', "
    "CAST(doc_id % 50 AS STRING), '\">next</a></body></html>')"
)

_REC_PROGRAM = """
link: #next { h: $element | attrs() | take(key: "href"); } | take(key: "h");
detail: <$link> #dv { t: $element | text(); } | take(key: "t") | int();
words: <$link> li.w { t: $element | text(); }* | take(key: "t")*;
"""


def _detail_corpus() -> dict[str, str]:
    return {
        f"http://docs.test/detail/{i}": (
            f'<html><body><span id="dv">{i * 3 + 1}</span>'
            f'<li class="w">w{i}</li><li class="w">v{i}</li></body></html>'
        )
        for i in range(50)
    }


def scrp_url_recursion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for URL recursion + relative-URL resolution (`<$link>`
    element blocks, mod.rs:124-138) against a broadcast mini-corpus."""
    from .extract import extract

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    pages = d.select(
        F.concat(F.lit("http://docs.test/"), F.col("doc_id").cast("string")).alias(
            "url"
        ),
        F.expr(_REC_HTML_EXPR).alias("html"),
    )
    out = extract(pages, _REC_PROGRAM, corpus=_detail_corpus())
    schema = "struct<link: string, detail: bigint, words: array<string>>"
    rec = out.select(
        F.regexp_replace("url", "^http://docs.test/", "").cast("long").alias("doc_id"),
        F.from_json("result", schema).alias("r"),
    )
    return rec.select(
        "doc_id",
        F.col("r.link").alias("link"),
        F.col("r.detail").alias("detail"),
        F.concat_ws("|", "r.words").alias("words_joined"),
    ).transform(final_sort, "doc_id")


_REC_SQL = """
SELECT doc_id,
  'detail/' || CAST(doc_id % 50 AS VARCHAR) AS link,
  (doc_id % 50) * 3 + 1 AS detail,
  'w' || CAST(doc_id % 50 AS VARCHAR) || '|v' || CAST(doc_id % 50 AS VARCHAR)
    AS words_joined
FROM documents
WHERE doc_id < 300
ORDER BY doc_id
"""


QUERIES = {
    "scrp_extract_over_table": scrp_extract_over_table,
    "scrp_filters_numeric": scrp_filters_numeric,
    "scrp_filters_logic": scrp_filters_logic,
    "scrp_url_recursion": scrp_url_recursion,
}
ORACLE_SQL = {
    "scrp_extract_over_table": _SCRP_SQL,
    "scrp_filters_numeric": _NUM_SQL,
    "scrp_filters_logic": _LOGIC_SQL,
    "scrp_url_recursion": _REC_SQL,
}
