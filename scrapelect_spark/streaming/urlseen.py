"""URL-seen sketches: one bloom filter per frontier bucket.

Role in the frontier (north_star): candidate URLs from a micro-batch
are pre-filtered against per-bucket bloom sketches *before* the exact
anti-join — a bloom has no false negatives, so "not in bloom" rows are
provably new and skip the join entirely; only the "maybe seen" sliver
(true dups + false positives) pays the shuffle.  The URL-seen set
stays **exact** (byte-for-byte requirement, SURVEY.md §7.1 item 4) —
the sketches change the *cost*, never the *answer*.

Partitioning: one bloom per frontier bucket (``pmod(hash(url), P)`` —
Spark's murmur3 column hash, computed JVM-side).  At 10^10 URLs and
1% FPP that is ~12 GiB of bloom spread over P buckets; each executor
only needs the buckets its partition touches, and rebuilds are
per-bucket incremental.

Hashing is ``pandas.util.hash_array`` (SipHash-ish, keyed, C-speed,
deterministic across processes for fixed keys) — vectorized over whole
Arrow batches, no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_KEY1 = "scrapelect-blm-1"
_KEY2 = "scrapelect-blm-2"


def _hash2(items: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    arr = np.asarray(items, dtype=object)
    h1 = pd.util.hash_array(arr, hash_key=_KEY1, categorize=False)
    h2 = pd.util.hash_array(arr, hash_key=_KEY2, categorize=False)
    return h1, h2 | np.uint64(1)  # force h2 odd so probe strides cycle


class BloomFilter:
    """Plain m-bit, k-hash bloom over strings; vectorized add/query."""

    def __init__(self, num_bits: int, num_hashes: int):
        self.m = int(num_bits)
        self.k = int(num_hashes)
        self.bits = np.zeros((self.m + 7) // 8, dtype=np.uint8)

    @classmethod
    def for_capacity(cls, n: int, fpp: float = 0.01) -> "BloomFilter":
        n = max(n, 16)
        m = int(-n * np.log(fpp) / (np.log(2) ** 2))
        k = max(1, int(round(m / n * np.log(2))))
        return cls(m, k)

    def add_many(self, items) -> None:
        if len(items) == 0:
            return
        h1, h2 = _hash2(items)
        for i in range(self.k):
            idx = (h1 + np.uint64(i) * h2) % np.uint64(self.m)
            np.bitwise_or.at(
                self.bits, (idx >> np.uint64(3)).astype(np.int64),
                (np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8)),
            )

    def might_contain_many(self, items) -> np.ndarray:
        if len(items) == 0:
            return np.zeros(0, dtype=bool)
        h1, h2 = _hash2(items)
        out = np.ones(len(items), dtype=bool)
        for i in range(self.k):
            idx = (h1 + np.uint64(i) * h2) % np.uint64(self.m)
            byte = self.bits[(idx >> np.uint64(3)).astype(np.int64)]
            bit = (byte >> (idx & np.uint64(7)).astype(np.uint8)) & np.uint8(1)
            out &= bit.astype(bool)
        return out

    def merge(self, other: "BloomFilter") -> None:
        assert self.m == other.m and self.k == other.k
        np.bitwise_or(self.bits, other.bits, out=self.bits)

    # --- wire format ----------------------------------------------
    def to_bytes(self) -> bytes:
        head = np.array([self.m, self.k], dtype=np.int64).tobytes()
        return head + self.bits.tobytes()

    @classmethod
    def from_bytes(cls, raw: bytes) -> "BloomFilter":
        m, k = np.frombuffer(raw[:16], dtype=np.int64)
        f = cls(int(m), int(k))
        f.bits = np.frombuffer(raw[16:], dtype=np.uint8).copy()
        return f


# --- DataFrame-resident sketches (the 10^10-URL scale path) ----------
#
# At the design point (~12 GiB of bloom bits across P buckets) the
# sketch set must NOT live in a driver dict or a per-batch closure:
# it stays a (bucket, sketch) DataFrame on the executors, and the
# candidate pre-filter and the per-batch merge share one cogroup *by
# bucket* — each task deserializes exactly the one bloom its bucket
# needs (asserted inside the UDFs), and no bloom byte ever reaches the
# driver.


def empty_sketch_df(spark):
    return spark.createDataFrame([], "bucket int, sketch binary")


def _bucket_bloom(key, sk_pdf: pd.DataFrame, num_bits: int, num_hashes: int) -> BloomFilter:
    """The cogroup key's bloom: its one sketch row, or an empty bloom."""
    # invariant: one sketch row per bucket — per-task sketch bytes are
    # exactly one bucket's bloom
    if len(sk_pdf) > 1:
        raise AssertionError(
            f"bucket {key[0]}: {len(sk_pdf)} sketch rows (expected <= 1)"
        )
    if len(sk_pdf):
        return BloomFilter.from_bytes(bytes(sk_pdf["sketch"].iloc[0]))
    return BloomFilter(num_bits, num_hashes)


def merged_sketch_df(
    old_sketch_df,
    new_urls_df,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
):
    """(bucket, sketch, n_added) = ``old_sketch_df`` OR-merged with
    blooms of ``new_urls_df`` (url, bucket), built per bucket on
    executors via cogrouped applyInPandas.  Byte-identical to
    build-then-merge (bloom OR is order-free); the driver sees only
    the resulting DataFrame handle."""

    def merge(key, sk_pdf: pd.DataFrame, url_pdf: pd.DataFrame) -> pd.DataFrame:
        f = _bucket_bloom(key, sk_pdf, num_bits, num_hashes)
        urls = url_pdf["url"].to_numpy(dtype=object)
        f.add_many(urls)
        return pd.DataFrame(
            {
                "bucket": [int(key[0])],
                "sketch": [f.to_bytes()],
                "n_added": [len(urls)],
            }
        )

    return (
        old_sketch_df.groupBy("bucket")
        .cogroup(new_urls_df.select("url", "bucket").groupBy("bucket"))
        .applyInPandas(merge, "bucket int, sketch binary, n_added long")
    )


def probe_and_merge_df(
    candidates,
    sketch_df,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
):
    """Dedup, probe and merge in one cogroup per bucket.

    Each task takes one bucket's candidates (``url``, ``bucket``, any
    other columns) and that bucket's bloom from ``sketch_df``.  A URL's
    rows all share its bucket, so the task first drops duplicate URLs:
    per url it keeps the least row by the other columns in frame order
    (``url`` and ``bucket`` left out), the row
    ``groupBy("url").agg(min(struct(...)))`` would pick — the caller
    puts its tie-break columns first.  It then emits two kinds of rows:

    - every distinct candidate, tagged ``maybe_seen`` ('y'/'n') against
      the OLD bloom, with ``sketch`` null.  'n' rows are provably new (a
      bloom has no false negatives);
    - one row per bucket whose ``sketch`` is the old bloom OR-merged
      with every candidate URL; its other columns are null except
      ``bucket``.

    Merging every candidate instead of only the new ones gives the same
    bytes whenever the old bloom already holds the whole seen set: the
    extra candidates are seen URLs, and adding a URL twice sets the
    same bits."""
    from pyspark.sql.types import BinaryType, StringType, StructField, StructType

    out_schema = StructType(
        [StructField(f.name, f.dataType, True) for f in candidates.schema.fields]
        + [
            StructField("maybe_seen", StringType(), True),
            StructField("sketch", BinaryType(), True),
        ]
    )
    order = [c for c in candidates.columns if c not in ("url", "bucket")]

    def probe_merge(key, cand_pdf: pd.DataFrame, sk_pdf: pd.DataFrame) -> pd.DataFrame:
        f = _bucket_bloom(key, sk_pdf, num_bits, num_hashes)
        out = cand_pdf.sort_values(
            ["url", *order], kind="stable", na_position="first"
        ).drop_duplicates("url", keep="first")
        urls = out["url"].to_numpy(dtype=object)
        out["maybe_seen"] = np.where(f.might_contain_many(urls), "y", "n")
        out["sketch"] = None
        f.add_many(urls)
        # object dtype keeps the candidate rows' integers exact next to
        # the sketch row's nulls
        sketch_row = pd.DataFrame(
            [{**dict.fromkeys(out.columns), "bucket": int(key[0]), "sketch": f.to_bytes()}],
            dtype=object,
        )
        return pd.concat([out, sketch_row], ignore_index=True)

    return (
        candidates.groupBy("bucket")
        .cogroup(sketch_df.select("bucket", "sketch").groupBy("bucket"))
        .applyInPandas(probe_merge, out_schema)
    )
