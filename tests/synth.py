"""Deterministic synthetic image+caption corpus (seed=42 discipline).

Generates the corpus mandated by BASELINE.json ``input_hint``: an
image-store table ``(image_id, bytes, w, h, fmt, caption, phash)`` plus
gallery HTML pages embedding ``<img src="img://<id>" alt="<caption>">``
— the fetchable web the crawl extracts image+caption records from.
Everything derives from the image_id through seeded numpy PCG64, so
any two runs (and the DuckDB-side oracle, which re-derives pixel
payloads the same way) agree byte-for-byte.
"""

from __future__ import annotations

import numpy as np

from scrapelect_spark.sources.png import encode_png

_CAPTION_WORDS = (
    "sunset mountain river forest bridge harbor skyline meadow canyon "
    "lighthouse orchard glacier dune prairie lagoon valley"
).split()


def image_seed(image_id: str) -> int:
    # stable, library-free string → seed
    h = 2166136261
    for ch in image_id.encode():
        h = ((h ^ ch) * 16777619) & 0xFFFFFFFF
    return h


def make_image(image_id: str, w: int = 48, h: int = 32) -> np.ndarray:
    """Seeded gradient + noise RGB image, fully determined by id."""
    rng = np.random.default_rng(image_seed(image_id))
    gx = np.linspace(0, 255, w)
    gy = np.linspace(0, 255, h)
    base = (gy[:, None] * 0.5 + gx[None, :] * 0.5).astype(np.float64)
    img = np.zeros((h, w, 3))
    phase = rng.uniform(0, 2 * np.pi, 3)
    for c in range(3):
        img[:, :, c] = base * (0.5 + 0.5 * np.sin(phase[c])) + rng.normal(
            0, 12, (h, w)
        )
    return np.clip(img, 0, 255).astype(np.uint8)


def make_caption(image_id: str) -> str:
    rng = np.random.default_rng(image_seed(image_id) + 1)
    k = int(rng.integers(3, 6))
    words = [ _CAPTION_WORDS[int(i)] for i in rng.integers(0, len(_CAPTION_WORDS), k) ]
    return f"{image_id}: " + " ".join(words)


def build_image_store(n_images: int, w: int = 48, h: int = 32):
    """[(image_id, png_bytes, w, h, fmt, caption)] rows + pixel arrays
    (the ground truth for PSNR checks)."""
    rows = []
    pixels = {}
    for i in range(n_images):
        image_id = f"img{i:05d}"
        arr = make_image(image_id, w, h)
        pixels[image_id] = arr
        rows.append(
            (image_id, encode_png(arr), w, h, "png", make_caption(image_id))
        )
    return rows, pixels


def gallery_pages(
    n_pages: int, images_per_page: int, host: str = "gallery.test"
) -> dict[str, str]:
    """Deterministic gallery site: page p shows images [p*k, (p+1)*k)
    and links to the next page."""
    corpus = {}
    for p in range(n_pages):
        figs = []
        for j in range(images_per_page):
            image_id = f"img{p * images_per_page + j:05d}"
            figs.append(
                f'<figure><img src="img://{image_id}" '
                f'alt="{make_caption(image_id)}"/>'
                f"<figcaption>{make_caption(image_id)}</figcaption></figure>"
            )
        nav = (
            f'<a href="http://{host}/gallery/{p + 1}">next</a>'
            if p + 1 < n_pages
            else ""
        )
        corpus[f"http://{host}/gallery/{p}"] = (
            f"<html><body><h1>Gallery {p}</h1>" + "".join(figs) + nav + "</body></html>"
        )
    return corpus

