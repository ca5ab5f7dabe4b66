"""extract_patches (operators/multimodal.py): tiling semantics on the
kernel level — partial-tile dropping, RGB passthrough, content
integrity of the per-patch PNG blobs.  Distributed + oracle parity
runs via the image_patch_grid gate in tests/test_oracle_parity.py."""

import numpy as np
import pandas as pd
import pytest

from scrapelect_spark.operators.multimodal import extract_patches
from scrapelect_spark.sources.png import decode_png, encode_png


def run_local(spark, arr: np.ndarray, patch: int) -> pd.DataFrame:
    """Run the operator over a one-image frame."""
    images = spark.createDataFrame(
        [("x", encode_png(arr), "png")], "image_id string, bytes binary, fmt string"
    )
    return extract_patches(images, patch).toPandas()


def test_partial_tiles_dropped_gray(spark):
    arr = np.arange(10 * 11, dtype=np.uint8).reshape(10, 11) % 256
    out = run_local(spark, arr, 4)
    # 10//4=2 rows, 11//4=2 cols of full tiles
    assert len(out) == 4
    assert sorted(zip(out["py"], out["px"])) == [(0, 0), (0, 1), (1, 0), (1, 1)]
    for _, r in out.iterrows():
        tile = decode_png(bytes(r["bytes"])).reshape(4, 4)
        want = arr[r.py * 4 : r.py * 4 + 4, r.px * 4 : r.px * 4 + 4]
        assert np.array_equal(tile, want)
        assert int(r["patch_sum"]) == int(want.astype(np.int64).sum())


def test_rgb_tiles_roundtrip(spark):
    rng = np.random.RandomState(9)
    arr = rng.randint(0, 256, size=(8, 8, 3)).astype(np.uint8)
    out = run_local(spark, arr, 4)
    assert len(out) == 4
    for _, r in out.iterrows():
        tile = decode_png(bytes(r["bytes"]))
        want = arr[r.py * 4 : r.py * 4 + 4, r.px * 4 : r.px * 4 + 4]
        assert np.array_equal(tile.reshape(want.shape), want)
        assert int(r["patch_sum"]) == int(want.astype(np.int64).sum())


def test_image_smaller_than_patch_yields_no_rows(spark):
    arr = np.zeros((3, 3), np.uint8)
    assert len(run_local(spark, arr, 4)) == 0
