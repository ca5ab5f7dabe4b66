"""Multimodal pipeline tests: PNG codec, phash, the crawl→images flow
per BASELINE.json input_hint, and the per-row PSNR/caption invariant."""

import json

import numpy as np
import pytest

from scrapelect_spark.sources.png import decode_png, encode_png, phash64, psnr
from synth import (
    build_image_store,
    gallery_pages,
    make_caption,
    make_image,
)

# ------------------------------------------------------------------ codec


def test_png_roundtrip_rgb():
    arr = make_image("t1", 37, 21)
    out = decode_png(encode_png(arr))
    assert out.shape == (21, 37, 3)
    assert np.array_equal(out, arr)  # lossless → exact


def test_png_roundtrip_gray_and_rgba():
    g = (np.arange(64, dtype=np.uint8).reshape(8, 8) * 3) % 255
    assert np.array_equal(decode_png(encode_png(g))[:, :, 0], g)
    rgba = np.dstack([make_image("t2", 8, 8), np.full((8, 8), 128, np.uint8)])
    assert np.array_equal(decode_png(encode_png(rgba)), rgba)


def test_png_decode_filtered_rows():
    """Decoder must handle Sub/Up/Average/Paeth rows (foreign PNGs)."""
    import struct
    import zlib

    arr = make_image("t3", 16, 5)
    h, w = arr.shape[:2]
    raw = np.zeros((h, 1 + w * 3), dtype=np.uint8)
    recon = arr.reshape(h, w * 3)
    for y, f in enumerate([0, 1, 2, 3, 4]):
        raw[y, 0] = f
        line = recon[y].astype(np.int16)
        prev = recon[y - 1].astype(np.int16) if y > 0 else np.zeros(w * 3, np.int16)
        for x in range(w * 3):
            left = int(recon[y, x - 3]) if x >= 3 else 0
            ul = int(prev[x - 3]) if x >= 3 else 0
            if f == 0:
                v = line[x]
            elif f == 1:
                v = line[x] - left
            elif f == 2:
                v = line[x] - prev[x]
            elif f == 3:
                v = line[x] - ((left + prev[x]) >> 1)
            else:
                p = left + prev[x] - ul
                pa, pb, pc = abs(p - left), abs(p - prev[x]), abs(p - ul)
                pred = left if pa <= pb and pa <= pc else (prev[x] if pb <= pc else ul)
                v = line[x] - pred
            raw[y, x + 1] = v & 0xFF

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw.tobytes()))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(png), arr)


def test_phash_properties():
    a = make_image("x1")
    assert phash64(a) == phash64(a.copy())  # deterministic
    # fits signed int64
    assert -(1 << 63) <= phash64(a) < (1 << 63)
    # similar images → close hashes; different images → far
    noisy = np.clip(a.astype(int) + 2, 0, 255).astype(np.uint8)
    b = make_image("completely-different")
    ham_close = bin((phash64(a) & (2**64 - 1)) ^ (phash64(noisy) & (2**64 - 1))).count("1")
    ham_far = bin((phash64(a) & (2**64 - 1)) ^ (phash64(b) & (2**64 - 1))).count("1")
    assert ham_close < ham_far


def test_psnr():
    a = make_image("p1")
    assert psnr(a, a) == float("inf")
    noisy = np.clip(a.astype(int) + np.random.default_rng(0).integers(-2, 3, a.shape), 0, 255).astype(np.uint8)
    assert psnr(a, noisy) > 40


# ------------------------------------------------------------------ spark

GALLERY_SCRP = (
    "imgs: img {\n"
    '    src: $element | attrs() | take(key: "src");\n'
    '    caption: $element | attrs() | take(key: "alt");\n'
    "}*;\n"
)


@pytest.fixture(scope="module")
def gallery(spark, tmp_path_factory):
    """Crawl the synthetic gallery site and return the records DF."""
    from scrapelect_spark.streaming.crawl import Crawler, CrawlConfig

    n_pages, per_page = 6, 5
    corpus = gallery_pages(n_pages, per_page)
    corpus_df = spark.createDataFrame(list(corpus.items()), ["url", "html"])
    cfg = CrawlConfig(batch_size=4, per_host_limit=4, max_depth=10, buckets=4,
                      bloom_bits_per_bucket=1 << 14, fetch_partitions=4)
    crawler = Crawler(
        spark,
        str(tmp_path_factory.mktemp("gallery")),
        corpus_df,
        [("http://gallery.test/gallery/0", 1)],
        program=GALLERY_SCRP,
        config=cfg,
    )
    crawler.run(max_batches=20)
    n_images = n_pages * per_page
    store_rows, pixels = build_image_store(n_images)
    return crawler, store_rows, pixels, n_images


def test_crawl_to_images_table(spark, gallery):
    """records JSON → explode (JVM-side) → join store → decode →
    input_hint table with real phash; PSNR ∞ and caption equality."""
    from pyspark.sql import functions as F

    from scrapelect_spark.operators.multimodal import (
        verify_against_reference,
        with_image_features,
    )

    crawler, store_rows, pixels, n_images = gallery
    records = crawler._pinned("records").filter(F.col("kind") == "record")

    schema = "struct<imgs: array<struct<src: string, caption: string>>>"
    exploded = (
        records.withColumn("rec", F.from_json("value", schema))
        .select(F.explode("rec.imgs").alias("img"))
        .select(
            F.regexp_replace("img.src", "^img://", "").alias("image_id"),
            F.col("img.caption").alias("caption"),
        )
    )
    store = spark.createDataFrame(
        [(r[0], bytearray(r[1]), r[4]) for r in store_rows],
        "image_id string, bytes binary, fmt string",
    )
    joined = exploded.join(F.broadcast(store), "image_id", "inner")
    images = with_image_features(joined)
    rows = images.collect()
    assert len(rows) == n_images
    by_id = {r.image_id: r for r in rows}
    for image_id, arr in pixels.items():
        r = by_id[image_id]
        assert r.decode_error is None
        assert (r.w, r.h) == (arr.shape[1], arr.shape[0])
        assert r.phash == phash64(arr)
        assert r.caption == make_caption(image_id)

    # the input_hint per-row invariant, computed distributed
    captions = {i: make_caption(i) for i in pixels}
    verdict = verify_against_reference(images, pixels, captions).collect()
    assert all(v.psnr_db == float("inf") for v in verdict)  # lossless
    assert all(v.caption_match == "y" for v in verdict)


def test_jpeg_real_decode_and_error_capture(spark):
    """JPEG is a REAL decode path now (sources/jpeg.py): a valid
    baseline JFIF payload yields dims + phash through the same Arrow
    plumbing as PNG; corrupt payloads still fail per-row, not per-job."""
    from scrapelect_spark.operators.multimodal import with_image_features
    from scrapelect_spark.sources.jpeg import encode_jpeg
    from scrapelect_spark.sources.png import encode_png

    arr = make_image("j1", 8, 8)
    jarr = np.tile(np.arange(24, dtype=np.uint8)[None, :, None] * 10, (16, 1, 3))
    df = spark.createDataFrame(
        [
            ("a", bytearray(encode_png(arr)), "png", "cap a"),
            ("b", bytearray(encode_jpeg(jarr, quality=90)), "jpeg", "cap b"),
            ("c", bytearray(b"\xff\xd8\xff\xe0fakejpeg"), "jpeg", "cap c"),
        ],
        "image_id string, bytes binary, fmt string, caption string",
    )
    rows = {r.image_id: r for r in with_image_features(df).collect()}
    assert rows["a"].decode_error is None and rows["a"].phash is not None
    assert rows["b"].decode_error is None
    assert (rows["b"].w, rows["b"].h) == (24, 16)
    assert rows["b"].phash is not None
    assert rows["c"].decode_error is not None
    assert rows["c"].phash is None


def test_verify_against_reference_lossy_jpeg(spark):
    """The BASELINE.json input_hint invariant, exercised on the REAL
    lossy path: JPEG-encoded corpus rows vs reference pixels must score
    finite PSNR ≥ 40 dB (at an encode quality that preserves it) with
    caption equality — the exact per-row check a reference-parity run
    performs on an image+caption corpus."""
    from scrapelect_spark.operators.multimodal import verify_against_reference
    from scrapelect_spark.sources.jpeg import encode_jpeg

    pixels = {f"img{i}": make_image(f"img{i}") for i in range(4)}
    captions = {i: make_caption(i) for i in pixels}
    rows = [
        (i, bytearray(encode_jpeg(pixels[i], quality=98)), "jpeg", captions[i])
        for i in pixels
    ]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string, caption string"
    )
    verdict = verify_against_reference(df, pixels, captions).collect()
    assert len(verdict) == 4
    for v in verdict:
        assert v.psnr_db != float("inf")  # genuinely lossy
        assert v.psnr_db >= 40.0
        assert v.caption_match == "y"


def test_resize_images(spark):
    from scrapelect_spark.operators.multimodal import resize_images

    arr = make_image("r1", 40, 30)
    df = spark.createDataFrame(
        [("r1", bytearray(encode_png(arr)), "png")],
        "image_id string, bytes binary, fmt string",
    )
    out = resize_images(df, 10, 6).collect()[0]
    assert (out.w, out.h) == (10, 6)
    dec = decode_png(bytes(out.bytes))
    assert dec.shape == (6, 10, 3)
    # nearest-neighbor: every output pixel exists in the source
    yi = (np.arange(6) * 30) // 6
    xi = (np.arange(10) * 40) // 10
    assert np.array_equal(dec, arr[yi[:, None], xi[None, :]])


# --- WAV audio path (real codec: sources/wav.py) --------------------


def test_wav_roundtrip_mono():
    from scrapelect_spark.sources.wav import decode_wav, encode_wav

    x = 0.5 * np.sin(np.arange(4000) * 0.01)
    data = encode_wav(x, 8000)
    y, rate = decode_wav(data)
    assert rate == 8000 and y.shape == (4000, 1)
    # quantization error bounded by half an LSB
    assert np.max(np.abs(y[:, 0] - x)) <= 1.0 / 32768


def test_wav_roundtrip_stereo():
    from scrapelect_spark.sources.wav import decode_wav, encode_wav

    x = np.stack([np.linspace(-1, 1, 100), np.linspace(1, -1, 100)], axis=1)
    y, rate = decode_wav(encode_wav(x, 44100))
    assert rate == 44100 and y.shape == (100, 2)
    # encode scales by 32767, decode divides by 32768: error is bounded
    # by |x|/32768 (scale asymmetry) + half an LSB (quantization)
    assert np.max(np.abs(y - x)) <= 1.5 / 32768


def test_wav_duration_rms_closed_form():
    from scrapelect_spark.sources.wav import duration_rms, encode_wav

    # ±a square wave: RMS of the quantized signal is |round(a*32767)|/32768
    a, n, rate = 5 / 16.0, 8800, 16000
    s = np.empty(n)
    s[0::2], s[1::2] = a, -a
    dur, rms = duration_rms(encode_wav(s, rate))
    assert dur == n / rate
    assert abs(rms - round(a * 32767) / 32768) < 1e-9


def test_audio_features_spark_paths(spark):
    from scrapelect_spark.operators.multimodal import audio_features
    from scrapelect_spark.sources.mp2 import encode_mp1, encode_mp2
    from scrapelect_spark.sources.wav import encode_wav

    wav = encode_wav(0.25 * np.ones(1600), 16000)
    t = np.arange(8000)
    mp2_pcm = np.round(
        9000 * np.sin(2 * np.pi * 440 * t / 32000)
    ).astype(np.int16)
    mp2 = encode_mp2(mp2_pcm, 32000, 96)
    mp1 = encode_mp1(mp2_pcm, 32000, 192)
    df = spark.createDataFrame(
        [
            ("ok", bytearray(wav), "wav"),
            ("garbage", bytearray(b"not riff"), "wav"),
            ("truncated", bytearray(wav[:30]), "wav"),
            ("mp3", bytearray(wav), "mp3"),
            ("mp2", bytearray(mp2), "mp2"),
            ("mp2bad", bytearray(b"\xff\xfdgarbage"), "mp2"),
            ("mp1", bytearray(mp1), "mp1"),
            ("mpa", bytearray(mp1), "mpa"),  # layer-sniffing tag
        ],
        "audio_id string, bytes binary, fmt string",
    )
    rows = {r.audio_id: r for r in audio_features(df).collect()}
    assert rows["ok"].decode_error is None
    assert rows["ok"].duration_s == 0.1
    assert abs(rows["ok"].rms - round(0.25 * 32767) / 32768) < 1e-9
    assert "WAV decode failed" in rows["garbage"].decode_error
    assert "WAV decode failed" in rows["truncated"].decode_error
    assert rows["truncated"].decode_error.rstrip() != "WAV decode failed:"
    assert "requires a codec library" in rows["mp3"].decode_error
    assert rows["mp2"].decode_error is None
    # frame-quantized duration; RMS of a 9000-amp sine ~ 0.194
    assert rows["mp2"].duration_s * 32000 == (
        -(-(8000 + 512) // 1152) * 1152 - 512
    )
    assert abs(rows["mp2"].rms - 9000 / 32768 / np.sqrt(2)) < 0.01
    assert "MPEG audio decode failed" in rows["mp2bad"].decode_error
    for key in ("mp1", "mpa"):
        assert rows[key].decode_error is None
        assert rows[key].duration_s * 32000 == (
            -(-(8000 + 512) // 384) * 384 - 512
        )
        assert abs(rows[key].rms - 9000 / 32768 / np.sqrt(2)) < 0.01
