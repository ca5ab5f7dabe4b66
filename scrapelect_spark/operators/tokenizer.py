"""BPE tokenizer training over the corpus — the tokenizer-build step
of an LLM data pipeline (Sennrich et al. 2016 / GPT-2-style word-level
byte-pair encoding, trained from a word-frequency table).

Scale shape, which is exactly how the standard trainers work at
corpus scale:

1. the corpus collapses to a **word-frequency table** in ONE
   partial-agg shuffle (100 TB of text → vocab-sized rows; the table
   is capped to the ``max_vocab`` most frequent words by a
   distributed top-k, so the driver never sees unbounded data);
2. merge learning is a K-step loop over that bounded table on the
   driver (pair counts weighted by word frequency, best pair merged
   everywhere; ties break to the lexicographically smallest pair) —
   O(vocab · K), independent of corpus size;
3. application goes back out as a **broadcast join**: the vocab is
   tokenized once driver-side, the (word → tokens) map is broadcast,
   and the corpus explode joins against it — the 100-TB side never
   shuffles.  A word outside the capped vocab falls back to
   one-token-per-character (the no-merges-apply upper bound),
   flagged in ``oov_words``.

No reference parity: scrapelect has no tokenizer; this belongs to the
mandated training-data-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tables import final_sort

#: default cap on the driver-side word-frequency table
_MAX_VOCAB = 65536


def _pair_counts(vocab: list[tuple[tuple[str, ...], int]]):
    counts: dict[tuple[str, str], int] = {}
    for syms, freq in vocab:
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            counts[p] = counts.get(p, 0) + freq
    return counts


def _merge_word(syms: tuple[str, ...], pair: tuple[str, str]):
    out, i, merged = [], 0, pair[0] + pair[1]
    while i < len(syms):
        if i + 1 < len(syms) and (syms[i], syms[i + 1]) == pair:
            out.append(merged)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def learn_bpe_merges(
    word_freqs: list[tuple[str, int]], n_merges: int
) -> tuple[list[tuple[str, str]], dict[str, tuple[str, ...]]]:
    """Learn ``n_merges`` BPE merges from a (word, frequency) table.
    Deterministic: the best pair is the max corpus count, ties broken
    by the lexicographically smallest (left, right) pair.  Returns the
    ordered merge list and the final word → symbols tokenization."""
    vocab = [(tuple(w), f) for w, f in word_freqs]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts = _pair_counts(vocab)
        if not counts:
            break
        best = min(counts, key=lambda p: (-counts[p], p))
        merges.append(best)
        vocab = [(_merge_word(s, best), f) for s, f in vocab]
    return merges, {"".join(s): s for s, _ in vocab}


def bpe_train(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    max_vocab: int = _MAX_VOCAB,
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Train BPE on the corpus.  Returns the learned merge list and a
    small (word, tokens, n_tokens) DataFrame ready to broadcast-join
    against the exploded corpus."""
    spark = docs.sparkSession
    freqs = (
        docs.select(
            F.explode(
                F.split(F.trim(F.col(text_col)), r"\s+")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        # distributed top-k (TakeOrderedAndProject), deterministic ties
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(max_vocab)
        .collect()  # bounded by max_vocab — never corpus-sized
    )
    merges, tokenized = learn_bpe_merges(
        [(r["word"], r["freq"]) for r in freqs], n_merges
    )
    word_tokens = spark.createDataFrame(
        [(w, list(s), len(s)) for w, s in tokenized.items()],
        schema="word string, tokens array<string>, n_tokens int",
    )
    return merges, word_tokens


def bpe_token_counts(
    docs: DataFrame,
    word_tokens: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a trained BPE over the corpus: per-doc word count, BPE
    token count, OOV word count (words outside the capped vocab fall
    back to char-per-token), and the '|'-joined token stream.  The
    corpus side explodes and BROADCAST-joins the vocab — no shuffle of
    the big side; the per-doc reassembly is one keyed aggregation."""
    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.split(F.trim(F.col(text_col)), r"\s+")
        ).alias("ord", "word"),
    )
    joined = words.join(F.broadcast(word_tokens), "word", "left").select(
        "doc_id",
        "ord",
        F.col("word"),
        F.coalesce(
            F.col("tokens"), F.split(F.col("word"), "(?!^)")
        ).alias("toks"),
        F.col("n_tokens").isNull().cast("long").alias("oov"),
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.size("toks")).cast("long").alias("n_bpe_tokens"),
            F.sum("oov").cast("long").alias("oov_words"),
            F.array_join(
                F.flatten(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("ord", "toks"))
                        ),
                        lambda s: s["toks"],
                    )
                ),
                "|",
            ).alias("token_stream"),
        )
    )


# --- gate ------------------------------------------------------------

_GATE_MERGES = 5


def corpus_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: train K=5 merges on a synthetic {a, b}-alphabet corpus
    whose merge sequence is hand-derivable, then tokenize it.

    Every doc is ``aaab ×3, abab ×2, bbb ×(1 + doc_id%2)`` ⇒ corpus
    frequencies aaab:900 abab:600 bbb:450 and the forced merge order
    (a,b) → (a,a) [tie at 900 vs (a,ab)/(b,b), lexicographic] →
    (aa,ab) → (b,b) → (ab,ab): ``aaab``/``abab`` become single
    tokens, ``bbb`` becomes ``bb|b``.  The oracle states the
    resulting per-doc counts and token streams in closed form — a
    wrong pair count, tie-break, or merge application changes them."""
    from .tables import load

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    docs = d.select(
        "doc_id",
        F.concat(
            F.lit("aaab aaab aaab abab abab bbb"),
            F.when(F.col("doc_id") % 2 == 1, F.lit(" bbb")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    _, word_tokens = bpe_train(docs, n_merges=_GATE_MERGES)
    return (
        bpe_token_counts(docs, word_tokens)
        .select(
            "doc_id", "n_words", "n_bpe_tokens", "oov_words",
            "token_stream",
        )
        .transform(final_sort, "doc_id")
    )


_BPE_SQL = """
SELECT doc_id,
       CAST(6 + doc_id % 2 AS BIGINT) AS n_words,
       CAST(7 + 2 * (doc_id % 2) AS BIGINT) AS n_bpe_tokens,
       CAST(0 AS BIGINT) AS oov_words,
       'aaab|aaab|aaab|abab|abab|bb|b'
         || CASE WHEN doc_id % 2 = 1 THEN '|bb|b' ELSE '' END
         AS token_stream
FROM documents WHERE doc_id < 300
ORDER BY doc_id
"""


QUERIES = {"corpus_bpe_tokenize": corpus_bpe_tokenize}
ORACLE_SQL = {"corpus_bpe_tokenize": _BPE_SQL}
