"""Image metadata + perceptual-dedup operators: EXIF extraction over
binary image columns, and phash near-duplicate pair detection.

These close the image half of the training-data pipeline: a crawl
corpus keeps camera metadata (orientation for rotation fixup, capture
time for temporal splits, make/model for source diversity) and must
near-dedup images the way it near-dedups text.  The dedup shape is
the SAME 100-TB shape as the text stack: 64-bit phash → 8 bands × 8
bits (pigeonhole-exact for Hamming ≤ 7) → the skew-guarded
``dedup.band_pairs`` bucket join (hot buckets salted) → exact
``bit_count(xor)`` verification on the candidates only.  No
all-pairs, no window; everything JVM-side after the decode stage.

EXIF parsing is per-row Arrow-batched ``mapInPandas`` with the same
permissive-corpus error capture as the decoders: a missing or
malformed APP1 becomes a ``failed=1`` row, never a dead batch.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .tables import barrier, docs, final_sort, map_rows


def extract_exif(
    images: DataFrame, bytes_col: str = "bytes", id_col: str = "image_id"
) -> DataFrame:
    """(id, jpeg bytes) → the EXIF tags pipelines filter on, one row
    per image, failures captured per-row."""
    from ..sources import exif as E

    schema = (
        f"{id_col} string, make string, model string, orientation int, "
        "iso int, pixel_x int, pixel_y int, exposure_den int, "
        "exif_error string"
    )

    def row(iid, raw):
        try:
            tags = E.parse_exif_jpeg(bytes(raw))
            exp = tags.get(E.TAG_EXPOSURE_TIME)
            yield {
                id_col: iid,
                "make": tags.get(E.TAG_MAKE),
                "model": tags.get(E.TAG_MODEL),
                "orientation": tags.get(E.TAG_ORIENTATION),
                "iso": tags.get(E.TAG_ISO),
                "pixel_x": tags.get(E.TAG_PIXEL_X),
                "pixel_y": tags.get(E.TAG_PIXEL_Y),
                "exposure_den": exp[1] if exp else None,
                "exif_error": None,
            }
        except Exception as e:  # noqa: BLE001 — permissive corpus
            yield {
                id_col: iid, "make": None, "model": None, "orientation": None,
                "iso": None, "pixel_x": None, "pixel_y": None,
                "exposure_den": None, "exif_error": str(e) or type(e).__name__,
            }

    return map_rows(images.select(id_col, bytes_col), row, schema)


def phash_neardup(
    hashed: DataFrame, max_hamming: int = 7, n_bands: int = 8
) -> DataFrame:
    """Near-duplicate pairs (doc_a < doc_b) among (doc_id, phash)
    rows.

    Banding is pigeonhole-EXACT: ``max_hamming`` must be <
    ``n_bands`` (a pair within the bound shares at least one clean
    band), so the band join loses nothing — it only prunes.  Exact
    Hamming verification runs on candidates only, via JVM-side
    ``bit_count(xor)``.  Hot band buckets (near-black thumbnails,
    test cards) go through ``band_pairs``'s salted self-join.

    ``hashed`` is consumed THREE times (band explode + both sides of
    the candidate join): materialize it once so an expensive upstream
    (the pHash decode pass at corpus scale, Python synthesis in the
    gates) does not re-execute per consumer — guide §5: cache exactly
    the reused-and-expensive intermediates.  The (doc_id, phash) table
    is 16 bytes/row — the lightweight proxy of guide §8, cheap to hold
    even at 10^9 images."""
    from .dedup import band_pairs

    if max_hamming >= n_bands:
        raise ValueError("pigeonhole exactness needs max_hamming < n_bands")
    if 64 % n_bands:
        raise ValueError("n_bands must divide 64")
    hashed = hashed.transform(barrier)
    width = 64 // n_bands
    mask = (1 << width) - 1
    stack_args = ", ".join(
        f"{b}, CAST(shiftrightunsigned(phash, {width * b}) & {mask} AS STRING)"
        for b in range(n_bands)
    )
    bands = hashed.select(
        "doc_id",
        F.expr(f"stack({n_bands}, {stack_args}) AS (band, band_val)"),
    ).select("doc_id", F.col("band").cast("int").alias("band"), "band_val")
    pairs = band_pairs(bands)
    a = hashed.select(F.col("doc_id").alias("doc_a"), F.col("phash").alias("ph_a"))
    b = hashed.select(F.col("doc_id").alias("doc_b"), F.col("phash").alias("ph_b"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(F.expr("bit_count(ph_a ^ ph_b)") <= max_hamming)
        .select("doc_a", "doc_b")
    )


# --- gate corpus synthesis ---------------------------------------------


def _phash_base(doc_id: int) -> np.ndarray:
    """32x32 gray pattern whose 8x8 average-hash IS the doc's md5 bits
    — phashes of distinct docs are i.i.d. 64-bit strings (measured
    non-dup Hamming min 17 over the gate corpus)."""
    bits = np.frombuffer(
        hashlib.md5(str(doc_id).encode()).digest()[:8], dtype=np.uint8
    )
    blocks = np.unpackbits(bits).reshape(8, 8).astype(bool)
    g = np.where(blocks, 210, 40).astype(np.uint8)
    g = np.repeat(np.repeat(g, 4, 0), 4, 1)
    return np.stack([g, g, g], axis=-1)


def _phash_image(doc_id: int) -> np.ndarray:
    """Docs with doc_id%10==6 are near-duplicates of doc_id-1 with
    exactly two hash blocks inverted (Hamming 2 — under the ≤7 bound
    but not trivially identical)."""
    if doc_id % 10 == 6:
        src = _phash_base(doc_id - 1).copy()
        src[0:4, 0:4] = 255 - src[0:4, 0:4]
        src[16:20, 16:20] = 255 - src[16:20, 16:20]
        return src
    return _phash_base(doc_id)


def _phash_hashes(spark, sf_dir: str) -> DataFrame:
    """(doc_id, phash) for the ``_phash_image`` corpus (doc_id < 200),
    each image taken through an encode→decode round of the real PNG
    path so the gates cover the pixels-in-bytes plumbing, not just
    in-memory arrays."""
    from ..sources.png import decode_png, encode_png, phash64

    def synth_hash(doc_id):
        arr = decode_png(encode_png(_phash_image(doc_id)))
        yield {"doc_id": doc_id, "phash": phash64(arr)}

    return map_rows(
        docs(spark, sf_dir, 200, "doc_id"), synth_hash, "doc_id long, phash long"
    )


def image_phash_neardup(spark, sf_dir: str) -> DataFrame:
    """Gate for perceptual image near-dedup: synthesize one PNG per
    doc (docs ≡6 mod 10 are Hamming-2 near-copies of their
    predecessor), decode + phash distributed, band-join with the
    skew-guarded bucket path, verify candidates by exact bit_count.
    Expected output is exactly the built-in pairs — banding must not
    lose them (pigeonhole) and the 17+-bit separation of unrelated
    docs must not add any."""
    hashed = _phash_hashes(spark, sf_dir)
    return phash_neardup(hashed, max_hamming=7).transform(final_sort, "doc_a", "doc_b")


_PHASH_NEARDUP_SQL = """
SELECT CAST(doc_id - 1 AS BIGINT) AS doc_a,
       CAST(doc_id AS BIGINT) AS doc_b
FROM documents
WHERE doc_id < 200 AND doc_id % 10 = 6
ORDER BY doc_a, doc_b
"""


def image_exif_extract(spark, sf_dir: str) -> DataFrame:
    """Gate for EXIF extraction: per doc, build a real JPEG carrying
    an APP1 Exif segment (byte order alternates II/MM by doc parity —
    both endianness paths are on the execution path), extract the
    tags distributed, and project them next to ``failed``.  Docs ≡0
    mod 10 carry NO EXIF segment and must surface as per-row
    ``failed=1`` (error capture, not batch death)."""
    from ..sources import exif as E
    from ..sources.jpeg import encode_jpeg

    base_jpeg = encode_jpeg(np.full((16, 16, 3), 120, np.uint8))

    def synth(doc_id):
        if doc_id % 10 == 0:
            yield {"image_id": str(doc_id), "bytes": base_jpeg}
            return
        fields = {
            E.TAG_MAKE: f"CamCo {doc_id % 5}",
            E.TAG_MODEL: f"M-{doc_id % 13}",
            E.TAG_ORIENTATION: 1 + doc_id % 8,
            E.TAG_ISO: 100 * (1 + doc_id % 32),
            E.TAG_PIXEL_X: 64 + (doc_id % 7) * 16,
            E.TAG_PIXEL_Y: 48 + (doc_id % 3) * 16,
            E.TAG_EXPOSURE_TIME: (1, 125 * (1 + doc_id % 4)),
            E.TAG_DATETIME: "2021:05:06 07:08:09",
        }
        bo = "II" if doc_id % 2 == 0 else "MM"
        blob = E.insert_exif_jpeg(base_jpeg, E.build_tiff(fields, bo))
        yield {"image_id": str(doc_id), "bytes": blob}

    images = map_rows(
        docs(spark, sf_dir, 200, "doc_id"), synth, "image_id string, bytes binary"
    )
    meta = extract_exif(images)
    return (
        meta.select(
            F.col("image_id").cast("long").alias("doc_id"),
            F.coalesce(F.col("make"), F.lit("")).alias("make"),
            F.coalesce(F.col("model"), F.lit("")).alias("model"),
            F.coalesce(F.col("orientation"), F.lit(-1))
            .cast("long").alias("orientation"),
            F.coalesce(F.col("iso"), F.lit(-1)).cast("long").alias("iso"),
            F.coalesce(F.col("pixel_x"), F.lit(-1))
            .cast("long").alias("pixel_x"),
            F.coalesce(F.col("pixel_y"), F.lit(-1))
            .cast("long").alias("pixel_y"),
            F.coalesce(F.col("exposure_den"), F.lit(-1))
            .cast("long").alias("exposure_den"),
            F.when(F.col("exif_error").isNull(), F.lit(0))
            .otherwise(F.lit(1)).cast("long").alias("failed"),
        )
        .transform(final_sort, "doc_id")
    )


_EXIF_SQL = """
SELECT doc_id,
  CASE WHEN doc_id % 10 = 0 THEN ''
       ELSE 'CamCo ' || CAST(doc_id % 5 AS VARCHAR) END AS make,
  CASE WHEN doc_id % 10 = 0 THEN ''
       ELSE 'M-' || CAST(doc_id % 13 AS VARCHAR) END AS model,
  CAST(CASE WHEN doc_id % 10 = 0 THEN -1 ELSE 1 + doc_id % 8 END
       AS BIGINT) AS orientation,
  CAST(CASE WHEN doc_id % 10 = 0 THEN -1 ELSE 100 * (1 + doc_id % 32) END
       AS BIGINT) AS iso,
  CAST(CASE WHEN doc_id % 10 = 0 THEN -1 ELSE 64 + (doc_id % 7) * 16 END
       AS BIGINT) AS pixel_x,
  CAST(CASE WHEN doc_id % 10 = 0 THEN -1 ELSE 48 + (doc_id % 3) * 16 END
       AS BIGINT) AS pixel_y,
  CAST(CASE WHEN doc_id % 10 = 0 THEN -1 ELSE 125 * (1 + doc_id % 4) END
       AS BIGINT) AS exposure_den,
  CAST(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END AS BIGINT) AS failed
FROM documents
WHERE doc_id < 200
ORDER BY doc_id
"""


def image_dctphash_neardup(spark, sf_dir: str) -> DataFrame:
    """Gate for RE-ENCODED near-dedup: docs ≡7 mod 10 are their
    predecessor's image after a quality-35 JPEG re-encode AND a 2x
    downscale — the duplicate class pixel-domain hashes miss and the
    low-frequency DCT hash (sources/png.py dct_phash64) exists for.
    Measured margins over the gate corpus: planted pairs Hamming ≤ 2,
    unrelated docs ≥ 18, so the ≤7 band-join bound is exact with wide
    slack.  Same skew-guarded banded bucket-join 100-TB shape as
    ``image_phash_neardup``."""
    from ..sources.jpeg import decode_jpeg, encode_jpeg
    from ..sources.png import dct_phash64

    def synth_hash(doc_id):
        if doc_id % 10 == 7:
            re = decode_jpeg(encode_jpeg(_phash_base(doc_id - 1), quality=35))
            img = re.reshape(16, 2, 16, 2, 3).mean(axis=(1, 3)).astype(np.uint8)
        else:
            img = _phash_base(doc_id)
        yield {"doc_id": doc_id, "phash": dct_phash64(img)}

    hashed = map_rows(
        docs(spark, sf_dir, 200, "doc_id"), synth_hash, "doc_id long, phash long"
    )
    return phash_neardup(hashed, max_hamming=7).transform(final_sort, "doc_a", "doc_b")


_DCTPHASH_NEARDUP_SQL = """
SELECT CAST(doc_id - 1 AS BIGINT) AS doc_a,
       CAST(doc_id AS BIGINT) AS doc_b
FROM documents
WHERE doc_id < 200 AND doc_id % 10 = 7
ORDER BY doc_a, doc_b
"""


def estimate_quality(
    images: DataFrame, bytes_col: str = "bytes", id_col: str = "image_id"
) -> DataFrame:
    """(id, jpeg bytes) → estimated libjpeg-style quality setting
    (1..100) from the stream's quantization tables — the standard
    corpus-curation signal for filtering over-compressed images
    without decoding any pixels (the DQT walk stops at SOS, so cost
    is O(header) per image regardless of resolution).  Failures are
    captured per-row."""
    from ..sources.jpeg import estimate_jpeg_quality

    schema = f"{id_col} string, quality int, quality_error string"

    def row(iid, raw):
        q = err = None
        try:
            q = estimate_jpeg_quality(bytes(raw))
        except Exception as e:  # noqa: BLE001 — permissive corpus
            err = str(e) or type(e).__name__
        yield {id_col: iid, "quality": q, "quality_error": err}

    return map_rows(images.select(id_col, bytes_col), row, schema)


def image_jpeg_quality(spark, sf_dir: str) -> DataFrame:
    """Gate for JPEG quality estimation: per doc, encode a gradient
    image at quality 20 + (doc_id%17)*5 (sweeping 20..100), estimate
    the setting back from the stream's quantization tables alone, and
    assert the exact inverse SQL-side.  Docs ≡0 mod 10 get a PNG
    blob instead and must surface as ``failed=1`` (per-row error
    capture on a non-JPEG input)."""
    from ..sources.jpeg import encode_jpeg, estimate_jpeg_quality
    from ..sources.png import encode_png

    base = np.indices((24, 24)).sum(0).astype(np.int64)
    img = np.stack(
        [np.minimum(base * 5, 255), np.minimum(base * 3, 255),
         255 - np.minimum(base * 5, 255)], axis=-1
    ).astype(np.uint8)

    def synth_estimate(doc_id):
        if doc_id % 10 == 0:
            blob = encode_png(img)
        else:
            blob = encode_jpeg(img, quality=20 + (doc_id % 17) * 5)
        yield {"doc_id": doc_id, "quality": estimate_jpeg_quality(blob)}

    return map_rows(
        docs(spark, sf_dir, 200, "doc_id"),
        synth_estimate,
        "doc_id long, quality long, failed long",
        errors=(ValueError,),
        on_error={"quality": -1},
    ).transform(final_sort, "doc_id")


_JPEG_QUALITY_SQL = """
SELECT doc_id,
  CAST(CASE WHEN doc_id % 10 = 0 THEN -1
            ELSE 20 + (doc_id % 17) * 5 END AS BIGINT) AS quality,
  CAST(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END AS BIGINT) AS failed
FROM documents
WHERE doc_id < 200
ORDER BY doc_id
"""



def pixel_stats(
    images: DataFrame,
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    id_col: str = "image_id",
    n_bins: int = 16,
) -> DataFrame:
    """(id, image bytes) → exact integer pixel statistics: dimensions,
    integer-luma sum (BT.601 weights ``(299 r + 587 g + 114 b) //
    1000`` — for gray content this is the gray value itself), and the
    dominant-luma-bin share in permille.  A near-solid image (screen
    grabs of blank pages, tracking pixels blown up by CDNs, black
    thumbnails) concentrates one bin — the standard flat-image
    curation filter, computed with NO floats so any SQL oracle
    reproduces it bit-for-bit.  Per-row error capture as everywhere
    else in the multimodal stack."""
    from .multimodal import decode_image

    schema = (
        f"{id_col} long, w int, h int, luma_sum long, "
        "flat_permille long, failed long"
    )

    def row(iid, raw, fmt):
        arr = decode_image(raw, fmt).astype(np.int64)
        luma = (
            arr[:, :, 0] * 299 + arr[:, :, 1] * 587 + arr[:, :, 2] * 114
        ) // 1000
        hist = np.bincount((luma.ravel() * n_bins) // 256, minlength=n_bins)
        yield {
            id_col: iid, "w": arr.shape[1], "h": arr.shape[0],
            "luma_sum": int(luma.sum()),
            "flat_permille": int(hist.max()) * 1000 // luma.size,
        }

    # untrusted bytes: any exception is that row's failed=1
    return map_rows(
        images.select(id_col, bytes_col, fmt_col), row, schema, errors=(Exception,)
    )


def _stats_pngs(spark, sf_dir: str, picture) -> DataFrame:
    """The pixel-statistics gates' input: per doc (doc_id < 300) one
    PNG of ``picture(doc_id)`` (a 2-D gray plane is stacked to RGB).
    Docs ≡0 (mod 23) get the stream truncated to half, which the
    statistics operator must error-capture."""
    from ..sources.png import encode_png

    def synth(doc_id):
        img = picture(doc_id)
        if img.ndim == 2:
            img = np.stack([img, img, img], axis=-1)
        blob = encode_png(img)
        if doc_id % 23 == 0:
            blob = blob[: len(blob) // 2]  # truncated stream
        yield {"image_id": doc_id, "bytes": blob, "fmt": "png"}

    return map_rows(
        docs(spark, sf_dir, 300, "doc_id"),
        synth,
        "image_id long, bytes binary, fmt string",
    )


def image_pixel_stats(spark, sf_dir: str) -> DataFrame:
    """Gate for exact pixel statistics: per doc synthesize a real PNG —
    docs ≡0 (mod 3) SOLID gray ``doc_id % 256`` at 64x32 (luma_sum =
    2048 x value, one bin holds everything → flat), other docs a
    256-row VERTICAL GRADIENT covering every gray value once per
    column at width ``16 + (doc_id % 8) * 4`` (modular full cycle:
    luma_sum = w x 32640 whatever the phase; every 16-wide bin gets
    exactly 16/256 of the pixels → flat_permille = 62).  Docs ≡0
    (mod 23) get truncated bytes and must error-capture.  The oracle
    reproduces every number in closed form — the decode path has no
    tolerance to hide in."""

    def picture(doc_id):
        if doc_id % 3 == 0:
            return np.full((32, 64), doc_id % 256, dtype=np.uint8)
        col = ((doc_id * 7 + np.arange(256)) % 256).astype(np.uint8)
        return np.repeat(col[:, None], 16 + (doc_id % 8) * 4, axis=1)

    images = _stats_pngs(spark, sf_dir, picture)
    return pixel_stats(images).transform(final_sort, "image_id")


_PIXEL_STATS_SQL = """
SELECT doc_id AS image_id,
       CAST(CASE WHEN doc_id % 23 = 0 THEN NULL
            WHEN doc_id % 3 = 0 THEN 64
            ELSE 16 + (doc_id % 8) * 4 END AS INTEGER) AS w,
       CAST(CASE WHEN doc_id % 23 = 0 THEN NULL
            WHEN doc_id % 3 = 0 THEN 32 ELSE 256 END AS INTEGER) AS h,
       CAST(CASE WHEN doc_id % 23 = 0 THEN NULL
            WHEN doc_id % 3 = 0 THEN 2048 * (doc_id % 256)
            ELSE (16 + (doc_id % 8) * 4) * 32640 END AS BIGINT) AS luma_sum,
       CAST(CASE WHEN doc_id % 23 = 0 THEN NULL
            WHEN doc_id % 3 = 0 THEN 1000 ELSE 62 END AS BIGINT)
         AS flat_permille,
       CAST(doc_id % 23 = 0 AS BIGINT) AS failed
FROM documents WHERE doc_id < 300
ORDER BY image_id
"""


def laplacian_stats(
    images: DataFrame,
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    id_col: str = "image_id",
    sharp_milli_threshold: int = 8_000,
) -> DataFrame:
    """(id, image bytes) → exact-integer sharpness statistics via the
    4-neighbor Laplacian over the integer luma plane: ``L[i,j] =
    4·y[i,j] − y[i−1,j] − y[i+1,j] − y[i,j−1] − y[i,j+1]`` on interior
    pixels, summed as ``abs_lap_sum = Σ|L|``.  ``lap_mean_milli`` is
    the mean |L| per interior pixel ×1000 (integer floor division), and
    ``is_sharp`` thresholds it — the classic blur/flat curation filter
    (variance-of-Laplacian family), done with NO floats so a SQL oracle
    reproduces every value bit-for-bit.  Solid/blurred content → 0;
    text, edges, texture → high.  Per-row error capture as everywhere
    in the multimodal stack; Arrow-batched ``mapInPandas``, rows fully
    independent → partition-parallel at any corpus size."""
    from .multimodal import decode_image

    schema = (
        f"{id_col} long, w int, h int, abs_lap_sum long, "
        "lap_mean_milli long, is_sharp long, failed long"
    )

    def row(iid, raw, fmt):
        arr = decode_image(raw, fmt).astype(np.int64)
        luma = (
            arr[:, :, 0] * 299 + arr[:, :, 1] * 587 + arr[:, :, 2] * 114
        ) // 1000
        h, w = luma.shape
        if h < 3 or w < 3:
            raise ValueError("image too small for Laplacian")
        lap = (
            4 * luma[1:-1, 1:-1]
            - luma[:-2, 1:-1] - luma[2:, 1:-1]
            - luma[1:-1, :-2] - luma[1:-1, 2:]
        )
        total = int(np.abs(lap).sum())
        mean_milli = total * 1000 // ((h - 2) * (w - 2))
        yield {
            id_col: iid, "w": w, "h": h, "abs_lap_sum": total,
            "lap_mean_milli": mean_milli,
            "is_sharp": 1 if mean_milli >= sharp_milli_threshold else 0,
        }

    # untrusted bytes: any exception is that row's failed=1
    return map_rows(
        images.select(id_col, bytes_col, fmt_col), row, schema, errors=(Exception,)
    )


def image_sharpness_stats(spark, sf_dir: str) -> DataFrame:
    """Gate for exact Laplacian sharpness: per doc synthesize a real
    PNG whose interior Laplacian has a closed form —

    * docs ≡0 (mod 3): SOLID gray at 32×64 → every |L| = 0 → blurry.
    * docs ≡1 (mod 3): CHECKERBOARD of (a, a+96) at h=32,
      w=16+(doc_id%8)·4 — each interior pixel's 4 neighbors are all
      the other value → |L| = 4·96 = 384 everywhere →
      abs_lap_sum = 384·30·(w−2), lap_mean_milli = 384000 → sharp.
    * docs ≡2 (mod 3): 1-px HORIZONTAL STRIPES of (a, a+64) — vertical
      neighbors differ, horizontal match → |L| = 2·64 = 128 →
      abs_lap_sum = 128·30·(w−2), lap_mean_milli = 128000 → sharp.

    Docs ≡0 (mod 23) get truncated bytes and must error-capture.  The
    gray values (a = doc_id-dependent) shift per doc but cancel out of
    the Laplacian — the oracle reproduces every number in closed form,
    so the decode+stencil path has no tolerance to hide in."""

    def picture(doc_id):
        h, w = 32, 16 + (doc_id % 8) * 4
        if doc_id % 3 == 0:
            return np.full((h, 64), doc_id % 256, dtype=np.uint8)
        if doc_id % 3 == 1:
            ij = np.add.outer(np.arange(h), np.arange(w)) % 2
            return (doc_id % 128 + ij * 96).astype(np.uint8)
        rows = (np.arange(h) % 2) * 64 + doc_id % 160
        return np.repeat(rows.astype(np.uint8)[:, None], w, axis=1)

    images = _stats_pngs(spark, sf_dir, picture)
    return laplacian_stats(images).transform(final_sort, "image_id")


_SHARPNESS_SQL = """
SELECT doc_id AS image_id,
       CAST(CASE WHEN doc_id % 23 = 0 THEN NULL
            WHEN doc_id % 3 = 0 THEN 64
            ELSE 16 + (doc_id % 8) * 4 END AS INTEGER) AS w,
       CAST(CASE WHEN doc_id % 23 = 0 THEN NULL ELSE 32 END
            AS INTEGER) AS h,
       CAST(CASE WHEN doc_id % 23 = 0 THEN NULL
            WHEN doc_id % 3 = 0 THEN 0
            WHEN doc_id % 3 = 1
              THEN 384 * 30 * (16 + (doc_id % 8) * 4 - 2)
            ELSE 128 * 30 * (16 + (doc_id % 8) * 4 - 2) END
            AS BIGINT) AS abs_lap_sum,
       CAST(CASE WHEN doc_id % 23 = 0 THEN NULL
            WHEN doc_id % 3 = 0 THEN 0
            WHEN doc_id % 3 = 1 THEN 384000
            ELSE 128000 END AS BIGINT) AS lap_mean_milli,
       CAST(CASE WHEN doc_id % 23 = 0 THEN NULL
            WHEN doc_id % 3 = 0 THEN 0 ELSE 1 END AS BIGINT) AS is_sharp,
       CAST(doc_id % 23 = 0 AS BIGINT) AS failed
FROM documents WHERE doc_id < 300
ORDER BY image_id
"""


def image_phash_clusters(spark, sf_dir: str) -> DataFrame:
    """Gate for perceptual image DEDUP CLUSTERING — the step after
    near-dup pair detection: phash the corpus (same planted Hamming-2
    near-copies as ``image_phash_neardup``), band-join + exact-verify
    pairs, run connected components over the pair graph, and assign
    EVERY corpus image a cluster id (min doc_id of its component;
    singletons label themselves via the left join — no edge required).
    ``is_canonical`` marks the one image per cluster a curation
    pipeline keeps.  At 100 TB this is the LAION-style image-dedup
    shape end-to-end: decode → hash → banded candidate join → bit_count
    verify → O(log n) star-contraction CC → one broadcast-ready label
    join back; the corpus is never self-joined all-pairs."""
    from .dedup import connected_components

    hashed = _phash_hashes(spark, sf_dir).transform(barrier)
    edges = phash_neardup(hashed, max_hamming=7).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    labels = connected_components(edges)
    return (
        hashed.select("doc_id")
        .join(labels.withColumnRenamed("cluster", "_c"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_c"), F.col("doc_id")).alias("cluster"),
        )
        .withColumn(
            "is_canonical",
            (F.col("doc_id") == F.col("cluster")).cast("long"),
        )
        .transform(final_sort, "doc_id")
    )


_PHASH_CLUSTERS_SQL = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(CASE WHEN doc_id % 10 = 6 THEN doc_id - 1 ELSE doc_id END
            AS BIGINT) AS cluster,
       CAST(doc_id % 10 <> 6 AS BIGINT) AS is_canonical
FROM documents WHERE doc_id < 200
ORDER BY doc_id
"""


def color_stats(
    images: DataFrame,
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    id_col: str = "image_id",
) -> DataFrame:
    """(id, image bytes) → exact-integer COLOR statistics: per-channel
    sums (tint detection), total chroma ``Σ (max(r,g,b) − min(r,g,b))``,
    the permille of exactly-gray pixels (``r==g==b``), and an
    ``is_grayscale`` flag.  Grayscale / low-saturation filtering is a
    standard image-curation step (drop scans, line art, dead cameras
    from a photo corpus; or keep them for a document corpus) — computed
    with NO floats so any SQL oracle reproduces it bit-for-bit.
    Per-row error capture; Arrow-batched ``mapInPandas``, rows fully
    independent → partition-parallel at any corpus size."""
    from .multimodal import decode_image

    schema = (
        f"{id_col} long, w int, h int, r_sum long, g_sum long, "
        "b_sum long, chroma_sum long, gray_permille long, "
        "is_grayscale long, failed long"
    )

    def row(iid, raw, fmt):
        arr = decode_image(raw, fmt).astype(np.int64)
        h, w = arr.shape[:2]
        chroma = arr.max(axis=2) - arr.min(axis=2)
        npix = h * w
        n_gray = int((chroma == 0).sum())
        yield {
            id_col: iid, "w": w, "h": h,
            "r_sum": int(arr[:, :, 0].sum()),
            "g_sum": int(arr[:, :, 1].sum()),
            "b_sum": int(arr[:, :, 2].sum()),
            "chroma_sum": int(chroma.sum()),
            "gray_permille": n_gray * 1000 // npix,
            "is_grayscale": 1 if n_gray == npix else 0,
        }

    # untrusted bytes: any exception is that row's failed=1
    return map_rows(
        images.select(id_col, bytes_col, fmt_col), row, schema, errors=(Exception,)
    )


def image_color_stats(spark, sf_dir: str) -> DataFrame:
    """Gate for exact color statistics: per doc synthesize a real PNG
    whose channel sums and chroma have closed forms —

    * docs ≡0 (mod 3): SOLID GRAY ``g = doc_id % 256`` at 32×64 —
      every channel sums to 2048·g, chroma 0, grayscale.
    * docs ≡1 (mod 3): SOLID COLOR ``(r, g, b) = (doc_id%128 + 64,
      doc_id%64, doc_id%32)`` at h=32, w=16+(doc_id%8)·4 — b ≤ g < r
      by construction, so chroma = (r − b) per pixel, zero gray
      pixels.
    * docs ≡2 (mod 3): VERTICAL SPLIT — left half gray
      ``doc_id % 256``, right half the fixed color (200, 100, 0)
      (chroma 200) → gray_permille exactly 500.

    Docs ≡0 (mod 23) get truncated bytes and must error-capture.  The
    oracle reproduces every number in closed form."""

    def picture(doc_id):
        h, w = 32, 16 + (doc_id % 8) * 4
        if doc_id % 3 == 0:
            return np.full((h, 64), doc_id % 256, dtype=np.uint8)
        img = np.empty((h, w, 3), dtype=np.uint8)
        if doc_id % 3 == 1:
            img[:, :] = (doc_id % 128 + 64, doc_id % 64, doc_id % 32)
        else:
            img[:, : w // 2, :] = doc_id % 256
            img[:, w // 2:] = (200, 100, 0)
        return img

    images = _stats_pngs(spark, sf_dir, picture)
    return color_stats(images).transform(final_sort, "image_id")


_COLOR_STATS_SQL = """
WITH p AS (
  SELECT doc_id,
         doc_id % 23 = 0 AS fail,
         doc_id % 3 AS m,
         CAST(16 + (doc_id % 8) * 4 AS BIGINT) AS wv,
         CAST(doc_id % 256 AS BIGINT) AS gray,
         CAST(doc_id % 128 + 64 AS BIGINT) AS cr,
         CAST(doc_id % 64 AS BIGINT) AS cg,
         CAST(doc_id % 32 AS BIGINT) AS cb
  FROM documents WHERE doc_id < 300
)
SELECT doc_id AS image_id,
       CAST(CASE WHEN fail THEN NULL
            WHEN m = 0 THEN 64 ELSE wv END AS INTEGER) AS w,
       CAST(CASE WHEN fail THEN NULL ELSE 32 END AS INTEGER) AS h,
       CAST(CASE WHEN fail THEN NULL
            WHEN m = 0 THEN 2048 * gray
            WHEN m = 1 THEN 32 * wv * cr
            ELSE 16 * wv * gray + 16 * wv * 200 END AS BIGINT) AS r_sum,
       CAST(CASE WHEN fail THEN NULL
            WHEN m = 0 THEN 2048 * gray
            WHEN m = 1 THEN 32 * wv * cg
            ELSE 16 * wv * gray + 16 * wv * 100 END AS BIGINT) AS g_sum,
       CAST(CASE WHEN fail THEN NULL
            WHEN m = 0 THEN 2048 * gray
            WHEN m = 1 THEN 32 * wv * cb
            ELSE 16 * wv * gray END AS BIGINT) AS b_sum,
       CAST(CASE WHEN fail THEN NULL
            WHEN m = 0 THEN 0
            WHEN m = 1 THEN 32 * wv * (cr - cb)
            ELSE 16 * wv * 200 END AS BIGINT) AS chroma_sum,
       CAST(CASE WHEN fail THEN NULL
            WHEN m = 0 THEN 1000
            WHEN m = 1 THEN 0 ELSE 500 END AS BIGINT) AS gray_permille,
       CAST(CASE WHEN fail THEN NULL
            WHEN m = 0 THEN 1 ELSE 0 END AS BIGINT) AS is_grayscale,
       CAST(fail AS BIGINT) AS failed
FROM p
ORDER BY image_id
"""


def border_stats(
    images: DataFrame,
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    id_col: str = "image_id",
) -> DataFrame:
    """(id, image bytes) → exact letterbox/pillarbox geometry: the
    number of leading/trailing rows identical to the top-left /
    bottom-right corner pixel (and likewise for columns), plus the
    implied content box.  Uniform bars around content are the standard
    video-thumbnail / screenshot artifact a curation pipeline crops
    before hashing or training; a fully-uniform image reads as
    content 0×0 (the blank-image drop case).  All-integer comparisons
    — bit-exact against any SQL oracle; per-row error capture,
    Arrow-batched ``mapInPandas``."""
    from .multimodal import decode_image

    schema = (
        f"{id_col} long, w int, h int, top_border int, "
        "bottom_border int, left_border int, right_border int, "
        "content_w int, content_h int, failed long"
    )

    def _leading(flags: np.ndarray) -> int:
        return int(np.argmin(flags)) if not flags.all() else len(flags)

    def row(iid, raw, fmt):
        arr = decode_image(raw, fmt)
        h, w = arr.shape[:2]
        eq00 = (arr == arr[0, 0]).all(axis=2)
        eq11 = (arr == arr[h - 1, w - 1]).all(axis=2)
        t = _leading(eq00.all(axis=1))
        b = _leading(eq11.all(axis=1)[::-1])
        le = _leading(eq00.all(axis=0))
        r = _leading(eq11.all(axis=0)[::-1])
        yield {
            id_col: iid, "w": w, "h": h, "top_border": t,
            "bottom_border": b, "left_border": le, "right_border": r,
            "content_w": max(0, w - le - r), "content_h": max(0, h - t - b),
        }

    # untrusted bytes: any exception is that row's failed=1
    return map_rows(
        images.select(id_col, bytes_col, fmt_col), row, schema, errors=(Exception,)
    )


def image_border_stats(spark, sf_dir: str) -> DataFrame:
    """Gate for letterbox/pillarbox geometry: per doc synthesize a
    real PNG with known bars —

    * docs ≡0 (mod 3): fully UNIFORM 32×64 → every border consumes the
      whole image, content 0×0 (blank-drop case).
    * docs ≡1 (mod 3): LETTERBOX — 3 black rows on top, 5 on the
      bottom, content rows a per-column gradient ``(col+7)%250 + 5``
      (never 0, non-uniform rows) at h=32, w=16+(doc_id%8)·4.
    * docs ≡2 (mod 3): PILLARBOX — 2 white columns left, 4 right,
      content a per-row ramp ``(row+3)%250 + 1`` (never 255, varies
      down each column).

    Docs ≡0 (mod 23) get truncated bytes and must error-capture."""

    def picture(doc_id):
        h, w = 32, 16 + (doc_id % 8) * 4
        if doc_id % 3 == 0:
            return np.full((h, 64), doc_id % 256, dtype=np.uint8)
        if doc_id % 3 == 1:
            grad = ((np.arange(w) + 7) % 250 + 5).astype(np.uint8)
            g = np.repeat(grad[None, :], h, axis=0)
            g[:3, :] = 0
            g[-5:, :] = 0
        else:
            ramp = ((np.arange(h) + 3) % 250 + 1).astype(np.uint8)
            g = np.repeat(ramp[:, None], w, axis=1)
            g[:, :2] = 255
            g[:, -4:] = 255
        return g

    images = _stats_pngs(spark, sf_dir, picture)
    return border_stats(images).transform(final_sort, "image_id")


_BORDER_STATS_SQL = """
WITH p AS (
  SELECT doc_id,
         doc_id % 23 = 0 AS fail,
         doc_id % 3 AS m,
         CAST(16 + (doc_id % 8) * 4 AS INTEGER) AS wv
  FROM documents WHERE doc_id < 300
)
SELECT doc_id AS image_id,
       CAST(CASE WHEN fail THEN NULL
            WHEN m = 0 THEN 64 ELSE wv END AS INTEGER) AS w,
       CAST(CASE WHEN fail THEN NULL ELSE 32 END AS INTEGER) AS h,
       CAST(CASE WHEN fail THEN NULL
            WHEN m = 0 THEN 32 WHEN m = 1 THEN 3 ELSE 0 END
            AS INTEGER) AS top_border,
       CAST(CASE WHEN fail THEN NULL
            WHEN m = 0 THEN 32 WHEN m = 1 THEN 5 ELSE 0 END
            AS INTEGER) AS bottom_border,
       CAST(CASE WHEN fail THEN NULL
            WHEN m = 0 THEN 64 WHEN m = 1 THEN 0 ELSE 2 END
            AS INTEGER) AS left_border,
       CAST(CASE WHEN fail THEN NULL
            WHEN m = 0 THEN 64 WHEN m = 1 THEN 0 ELSE 4 END
            AS INTEGER) AS right_border,
       CAST(CASE WHEN fail THEN NULL
            WHEN m = 0 THEN 0 WHEN m = 1 THEN wv ELSE wv - 6 END
            AS INTEGER) AS content_w,
       CAST(CASE WHEN fail THEN NULL
            WHEN m = 0 THEN 0 WHEN m = 1 THEN 24 ELSE 32 END
            AS INTEGER) AS content_h,
       CAST(fail AS BIGINT) AS failed
FROM p
ORDER BY image_id
"""


def autorotate_stats(
    images: DataFrame,
    bytes_col: str = "bytes",
    id_col: str = "image_id",
) -> DataFrame:
    """(id, JPEG bytes) → EXIF-orientation-aware decode: parse tag 274
    from the APP1 segment (default 1 when absent), undo the rotation
    with :func:`sources.exif.apply_orientation`, and report the
    upright geometry plus the brightest-quadrant corner (0 TL, 1 TR,
    2 BL, 3 BR by luma sum) — the probe that proves the PIXELS were
    rotated, not just the dimensions.  Cameras store sideways sensor
    data + orientation; a curation pipeline must upright images
    before hashing/training or mirrored/rotated near-dups split.
    Per-row error capture; Arrow-batched ``mapInPandas``."""
    from .multimodal import decode_image
    from ..sources.exif import TAG_ORIENTATION, apply_orientation, parse_exif_jpeg

    schema = (
        f"{id_col} long, orientation long, w int, h int, "
        "bright_corner long, failed long"
    )

    def row(iid, raw):
        raw = bytes(raw)
        try:
            o = int(parse_exif_jpeg(raw).get(TAG_ORIENTATION, 1))
        except Exception:
            o = 1  # no/malformed EXIF: stored data is upright
        arr = decode_image(raw, "jpeg")
        up = apply_orientation(arr, o if 1 <= o <= 8 else 1)
        luma = (
            up[:, :, 0].astype(np.int64) * 299
            + up[:, :, 1].astype(np.int64) * 587
            + up[:, :, 2].astype(np.int64) * 114
        )
        h, w = luma.shape
        hh, hw = h // 2, w // 2
        quads = [
            int(luma[:hh, :hw].sum()),   # 0 TL
            int(luma[:hh, hw:].sum()),   # 1 TR
            int(luma[hh:, :hw].sum()),   # 2 BL
            int(luma[hh:, hw:].sum()),   # 3 BR
        ]
        yield {
            id_col: iid, "orientation": o, "w": w, "h": h,
            "bright_corner": int(np.argmax(np.array(quads))),
        }

    # untrusted bytes: any exception is that row's failed=1
    return map_rows(images.select(id_col, bytes_col), row, schema, errors=(Exception,))


def image_autorotate(spark, sf_dir: str) -> DataFrame:
    """Gate for EXIF auto-rotation: a 32×48 JPEG whose top-left
    quadrant is bright (220 on 40 — JPEG loss cannot flip a 180-luma
    quadrant margin) is tagged with orientation ``1 + doc_id % 8``
    (byte order alternating II/MM).  After uprighting, the bright
    quadrant must land at the spec corner — ``[TL,TR,BR,BL][(o−1)%4]``
    — and dims swap exactly for orientations 5-8.  Docs ≡0 (mod 10)
    carry no EXIF (→ orientation 1, no rotation); docs ≡0 (mod 23)
    are truncated and must error-capture."""
    from ..sources import exif as E
    from ..sources.jpeg import encode_jpeg

    base = np.full((32, 48, 3), 40, np.uint8)
    base[:16, :24] = 220
    base_jpeg = encode_jpeg(base)

    def synth(doc_id):
        blob = base_jpeg
        if doc_id % 10 != 0:
            bo = "II" if doc_id % 2 == 0 else "MM"
            tiff = E.build_tiff({E.TAG_ORIENTATION: 1 + doc_id % 8}, bo)
            blob = E.insert_exif_jpeg(base_jpeg, tiff)
        if doc_id % 23 == 0:
            blob = blob[: len(blob) // 2]
        yield {"image_id": doc_id, "bytes": blob}

    images = map_rows(
        docs(spark, sf_dir, 240, "doc_id"), synth, "image_id long, bytes binary"
    )
    return autorotate_stats(images).transform(final_sort, "image_id")


_AUTOROTATE_SQL = """
WITH p AS (
  SELECT doc_id,
         doc_id % 23 = 0 AS fail,
         CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 1 + doc_id % 8 END AS o
  FROM documents WHERE doc_id < 240
)
SELECT doc_id AS image_id,
       CAST(CASE WHEN fail THEN NULL ELSE o END AS BIGINT) AS orientation,
       CAST(CASE WHEN fail THEN NULL
            WHEN o >= 5 THEN 32 ELSE 48 END AS INTEGER) AS w,
       CAST(CASE WHEN fail THEN NULL
            WHEN o >= 5 THEN 48 ELSE 32 END AS INTEGER) AS h,
       CAST(CASE WHEN fail THEN NULL
            WHEN (o - 1) % 4 = 0 THEN 0
            WHEN (o - 1) % 4 = 1 THEN 1
            WHEN (o - 1) % 4 = 2 THEN 3
            ELSE 2 END AS BIGINT) AS bright_corner,
       CAST(fail AS BIGINT) AS failed
FROM p
ORDER BY image_id
"""


def image_exif_gps_scrub(spark, sf_dir: str) -> DataFrame:
    """Gate for GPS-location privacy scrubbing (the EXIF redaction
    every public-corpus pipeline runs before release): per doc, build
    a real JPEG whose EXIF carries Make/Model/orientation and — for
    docs ≢0 (mod 3) — a full GPS IFD (lat/lon rational triplets +
    N/S/E/W refs, byte order alternating II/MM); docs ≡0 (mod 10)
    carry no EXIF at all.  Scrub distributed, then verify: GPS gone,
    the OTHER tags preserved, and the compressed pixels byte-identical
    (the scrub must rewrite only the APP1 segment)."""
    from ..sources import exif as E
    from ..sources.jpeg import encode_jpeg

    base_jpeg = encode_jpeg(np.full((16, 16, 3), 135, np.uint8))

    def synth_scrub(doc_id):
        bo = "II" if doc_id % 2 == 0 else "MM"
        if doc_id % 10 == 0:
            blob = base_jpeg
            expect_make = None
        else:
            fields = {
                E.TAG_MAKE: f"CamCo {doc_id % 5}",
                E.TAG_MODEL: f"M-{doc_id % 13}",
                E.TAG_ORIENTATION: 1 + doc_id % 8,
                E.TAG_ISO: 100 * (1 + doc_id % 32),
            }
            if doc_id % 3 != 0:
                fields.update({
                    E.GPS_KEY_BASE | E.TAG_GPS_LAT_REF:
                        "N" if doc_id % 2 == 0 else "S",
                    E.GPS_KEY_BASE | E.TAG_GPS_LAT: (
                        (doc_id % 90, 1), (doc_id % 60, 1),
                        (100 * (doc_id % 6000), 100),
                    ),
                    E.GPS_KEY_BASE | E.TAG_GPS_LON_REF:
                        "E" if doc_id % 4 < 2 else "W",
                    E.GPS_KEY_BASE | E.TAG_GPS_LON: (
                        (doc_id % 180, 1), ((doc_id * 7) % 60, 1),
                        (100 * ((doc_id * 11) % 6000), 100),
                    ),
                })
            blob = E.insert_exif_jpeg(base_jpeg, E.build_tiff(fields, bo))
            expect_make = fields[E.TAG_MAKE]
        scrubbed, had = E.scrub_gps_jpeg(blob, bo)
        try:
            back = E.parse_exif_jpeg(scrubbed)
        except ValueError:
            back = {}
        kept = expect_make is None or (
            back.get(E.TAG_MAKE) == expect_make
            and back.get(E.TAG_ORIENTATION) == 1 + doc_id % 8
            and back.get(E.TAG_ISO) == 100 * (1 + doc_id % 32)
        )
        # image data must be untouched: compare from SOS on
        sos = blob.find(b"\xff\xda")
        sos2 = scrubbed.find(b"\xff\xda")
        yield {
            "doc_id": doc_id,
            "had_gps": 1 if had else 0,
            "gps_after": 1 if any(t >= E.GPS_KEY_BASE for t in back) else 0,
            "tags_kept": 1 if kept else 0,
            "pixels_same": 1 if blob[sos:] == scrubbed[sos2:] else 0,
        }

    return map_rows(
        docs(spark, sf_dir, 200, "doc_id"),
        synth_scrub,
        "doc_id long, had_gps long, gps_after long, tags_kept long, pixels_same long",
    ).transform(final_sort, "doc_id")


_GPS_SCRUB_SQL = """
SELECT doc_id,
  CAST(doc_id % 10 <> 0 AND doc_id % 3 <> 0 AS BIGINT) AS had_gps,
  CAST(0 AS BIGINT) AS gps_after,
  CAST(1 AS BIGINT) AS tags_kept,
  CAST(1 AS BIGINT) AS pixels_same
FROM documents WHERE doc_id < 200
ORDER BY doc_id
"""


QUERIES = {
    "image_exif_gps_scrub": image_exif_gps_scrub,
    "image_exif_extract": image_exif_extract,
    "image_phash_neardup": image_phash_neardup,
    "image_dctphash_neardup": image_dctphash_neardup,
    "image_jpeg_quality": image_jpeg_quality,
    "image_pixel_stats": image_pixel_stats,
    "image_sharpness_stats": image_sharpness_stats,
    "image_phash_clusters": image_phash_clusters,
    "image_color_stats": image_color_stats,
    "image_border_stats": image_border_stats,
    "image_autorotate": image_autorotate,
}

ORACLE_SQL = {
    "image_exif_gps_scrub": _GPS_SCRUB_SQL,
    "image_exif_extract": _EXIF_SQL,
    "image_phash_neardup": _PHASH_NEARDUP_SQL,
    "image_dctphash_neardup": _DCTPHASH_NEARDUP_SQL,
    "image_jpeg_quality": _JPEG_QUALITY_SQL,
    "image_pixel_stats": _PIXEL_STATS_SQL,
    "image_sharpness_stats": _SHARPNESS_SQL,
    "image_phash_clusters": _PHASH_CLUSTERS_SQL,
    "image_color_stats": _COLOR_STATS_SQL,
    "image_border_stats": _BORDER_STATS_SQL,
    "image_autorotate": _AUTOROTATE_SQL,
}
