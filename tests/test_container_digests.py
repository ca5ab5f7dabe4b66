"""Pinned sha256 digests of every TIFF-IFD and RIFF container writer
(TIFF, EXIF, IMA-ADPCM and G.711 WAV, MJPEG and MS Video 1 AVI,
WebP) over a sweep of inputs: the bytes each writes do not depend on
which module frames the container.  Uses only the codecs' public
writers, so the same file runs against any revision of them."""

import hashlib

import numpy as np
import pytest

from scrapelect_spark.sources import exif as E
from scrapelect_spark.sources.adpcm import encode_wav_ima
from scrapelect_spark.sources.avi import encode_avi_mjpeg
from scrapelect_spark.sources.g711 import encode_wav_g711
from scrapelect_spark.sources.jpeg import encode_jpeg
from scrapelect_spark.sources.msvc import encode_avi_msvc
from scrapelect_spark.sources.tiff import encode_tiff
from scrapelect_spark.sources.webp import encode_webp

RATE = 8000


def _image(h, w, c, seed):
    rng = np.random.RandomState(seed)
    # smooth ramps plus noise: runs for PackBits, repeats for LZW
    y, x = np.mgrid[0:h, 0:w]
    base = (x * 7 + y * 3) % 256
    noise = rng.randint(0, 4, (h, w))
    img = ((base + noise) % 256).astype(np.uint8)
    return img if c == 1 else np.stack([img, img[::-1], img[:, ::-1]], -1)[..., :c]


def _sine(n, hz=440, amp=0.4):
    t = np.arange(n)
    return np.round(amp * 32767 * np.sin(2 * np.pi * hz * t / RATE)).astype(np.int16)


def _stereo(n):
    return np.stack([_sine(n), _sine(n, hz=660, amp=0.3)], axis=1)


_FIELDS = {
    "ascii": {E.TAG_MAKE: "Canon", E.TAG_MODEL: "EOS 5D Mark IV"},
    "short_ascii": {E.TAG_MAKE: "ab"},
    "ifd0": {
        E.TAG_MAKE: "Nikon",
        E.TAG_ORIENTATION: 6,
        E.TAG_DATETIME: "2021:03:04 05:06:07",
    },
    "sub": {
        E.TAG_ORIENTATION: 3,
        E.TAG_ISO: 400,
        E.TAG_EXPOSURE_TIME: (1, 250),
        E.TAG_DATETIME_ORIGINAL: "2020:01:02 03:04:05",
        E.TAG_PIXEL_X: 70_000,
        E.TAG_PIXEL_Y: 480,
    },
    "sub_only": {E.TAG_ISO: 100, E.TAG_PIXEL_X: 640},
    "gps": {
        E.TAG_MODEL: "Pixel",
        E.GPS_KEY_BASE | E.TAG_GPS_LAT_REF: "N",
        E.GPS_KEY_BASE | E.TAG_GPS_LAT: ((37, 1), (46, 1), (3012, 100)),
        E.GPS_KEY_BASE | E.TAG_GPS_LON_REF: "W",
        E.GPS_KEY_BASE | E.TAG_GPS_LON: ((122, 1), (25, 1), (1, 3)),
    },
    "all": {
        E.TAG_MAKE: "Sony",
        E.TAG_MODEL: "ILCE",
        E.TAG_ORIENTATION: 8,
        E.TAG_DATETIME: "2019:12:31 23:59:59",
        E.TAG_ISO: 3200,
        E.TAG_EXPOSURE_TIME: (10, 3),
        E.TAG_DATETIME_ORIGINAL: "2019:12:31 23:59:58",
        E.TAG_PIXEL_X: 6000,
        E.TAG_PIXEL_Y: 100_000,
        E.GPS_KEY_BASE | E.TAG_GPS_LAT_REF: "S",
        E.GPS_KEY_BASE | E.TAG_GPS_LAT: ((33, 1), (51, 1), (54, 1)),
    },
    "empty": {},
}


def _cases():
    cases = {}
    for bo in ("II", "MM"):
        for kind, c in (("gray", 1), ("rgb", 3)):
            img = _image(13, 11, c, seed=len(kind))
            for comp in (1, 5, 32773):
                for rps in (None, 4):
                    cases[f"tiff-{bo}-{kind}-c{comp}-r{rps}"] = (
                        lambda img=img, comp=comp, bo=bo, rps=rps:
                        encode_tiff(img, comp, bo, rps)
                    )
            cases[f"tiff-{bo}-{kind}-lzw-pred2"] = (
                lambda img=img, bo=bo: encode_tiff(img, 5, bo, 5, predictor=2)
            )
        for name, fields in _FIELDS.items():
            cases[f"exif-{bo}-{name}"] = (
                lambda fields=fields, bo=bo: E.build_tiff(fields, bo)
            )
    jpeg = encode_jpeg(_image(16, 16, 3, seed=9), quality=80)
    with_gps = E.insert_exif_jpeg(jpeg, E.build_tiff(_FIELDS["all"], "MM"))
    cases["exif-jpeg-insert"] = lambda: with_gps
    cases["exif-jpeg-scrub"] = lambda: E.scrub_gps_jpeg(with_gps, "MM")[0]
    cases["exif-jpeg-strip"] = lambda: E.strip_exif_jpeg(with_gps)
    for n in (1000, 1001):
        cases[f"ima-mono-{n}"] = lambda n=n: encode_wav_ima(_sine(n), RATE)
        cases[f"ima-stereo-{n}"] = lambda n=n: encode_wav_ima(_stereo(n), RATE)
        for law in ("ulaw", "alaw"):
            cases[f"g711-{law}-mono-{n}"] = (
                lambda n=n, law=law: encode_wav_g711(_sine(n), RATE, law)
            )
            cases[f"g711-{law}-stereo-{n}"] = (
                lambda n=n, law=law: encode_wav_g711(_stereo(n), RATE, law)
            )
    frames = [_image(16, 24, 3, seed=s) for s in range(3)]
    cases["avi-mjpeg"] = lambda: encode_avi_mjpeg(frames, fps=12, quality=70)
    cases["avi-msvc"] = lambda: encode_avi_msvc(frames, fps=5)
    for kind, c in (("gray", 1), ("rgb", 3), ("rgba", 4)):
        for size in ((5, 7), (9, 9)):
            cases[f"webp-{kind}-{size[0]}x{size[1]}"] = (
                lambda c=c, size=size: encode_webp(_image(*size, c, seed=c))
            )
    return cases


CASES = _cases()

#: sha256 of each writer's bytes, recorded before the container layers
#: replaced the per-codec framing code
DIGESTS = {
    "avi-mjpeg":
        "b7bcb529ab2807682cf9b1e70f85fd083eef89c7bdcc25101e54b0b207d8769d",
    "avi-msvc":
        "b3ecd03e9d5452a8a67df81bc0b0648ba39d317a12fc16ddabb964ebd3891ad4",
    "exif-II-all":
        "0b40c9ae7d4dd167d09c36bc27ed2e3a860a2daa0255cfa85dd808ff95c78cc2",
    "exif-II-ascii":
        "2187a24919cdbbde58cba2e33c8bec54b44791e25eeafd552f75301d4b3ca4cd",
    "exif-II-empty":
        "5b8de6f08055194ef790df081c2b76fa7920469750fd5ff47e6a209a7b3c716a",
    "exif-II-gps":
        "809e198c26051a863a5ca6cf8dfde50112e2cc3b63751f5c0b1c602d79df4843",
    "exif-II-ifd0":
        "fc9e8d9df3f39ce8220378b949e7050701072b85ffaa7c9fe1e59904f701c13f",
    "exif-II-short_ascii":
        "d49b635f10693a1d74caf2d4d4c04e0f01dbb4fd4e7c700e799c000a57e04982",
    "exif-II-sub":
        "a84c254410112de04ffc60c7e682d74b5660990fd05cfa8ab6b56eead6efedb7",
    "exif-II-sub_only":
        "8d0c368dad0161493c61602dbf384bef2586d38943917a29bd6190cd00ae2ebf",
    "exif-MM-all":
        "c062d40c628915a1abbf67bfb36cdc5efa300072ad07e20c915969b0e8c3800b",
    "exif-MM-ascii":
        "7d0ec319005a80a386424276da242433e3b7e8c242fa79fe102f468acaafb97e",
    "exif-MM-empty":
        "844aaed35aaba9bcc706c4edf9cf03d1ee7815caa6e18d609642f34616701a51",
    "exif-MM-gps":
        "f69461fae62813a707cae17346b2626757076a01bf8728b7b097ca60aa7d4c34",
    "exif-MM-ifd0":
        "1c063c71cb262b2b618ddeb40554fc999c157b1af7fcf24272376b1908ad6647",
    "exif-MM-short_ascii":
        "fcc9d776af72cf198df8b6b83a7a739801073199c6b5fca3c316a85b599dc8da",
    "exif-MM-sub":
        "ae89ed37bae895df9579eea0a13b91d74603e9a344295b81ca7a23dbe5506acd",
    "exif-MM-sub_only":
        "407009a7f89f2852aa03b2b160117ef550a4423583b15254c7c471a72f057fd2",
    "exif-jpeg-insert":
        "87a7c10878d9e67ad1f7e043769195304b5940d110fc33aeb2bc707a4d3e155e",
    "exif-jpeg-scrub":
        "638be403c5e4732ec0cf2e74358dc12258ade5efab57eac03ac7bbfd9ada526f",
    "exif-jpeg-strip":
        "e8d7cb4cdbe78a04d40c28e6225034afc10ab5201ecb5ada4bd695a8b82689eb",
    "g711-alaw-mono-1000":
        "0e704b4e0ff6532ddd8ee79df9ba2ee8f5207ea7422f530945c01ad25dc49221",
    "g711-alaw-mono-1001":
        "8b6717247e401876c0dfe2638ac77dcc2c1474e63aa205f97f2d9230169463a1",
    "g711-alaw-stereo-1000":
        "ae8b2555988d5df359c2851b826dc08989765c9fc015b3c9697035f555effe40",
    "g711-alaw-stereo-1001":
        "e979ef6f6c90409c475e2645dea68bfb0792ffab8a1c3000822eb19ac08cc180",
    "g711-ulaw-mono-1000":
        "827d1e59da40fda95927ae37e3dba2fe0a2818549efdd495f84431e8e0c4ccb8",
    "g711-ulaw-mono-1001":
        "4e4ac3d9806ba6a22652e6401f7857eeb050b9bfd1fe5a58e5b131f7c9b70508",
    "g711-ulaw-stereo-1000":
        "6f7e49d894fe394f9ad47388d4e5728df9562f223e26e92da42b7f73150cf587",
    "g711-ulaw-stereo-1001":
        "31f3eb93ff456fb6860bb235d5e345544b670f025fa581e0db39b89bae1464dd",
    "ima-mono-1000":
        "34c3ac7d87578522f176e586db4e5131760db2c11c1b0c6d761143054ef8e6de",
    "ima-mono-1001":
        "e9fb90270f5d3e0061a53a1eb9b73570c75be9464249fe85cde17aa8f81e3568",
    "ima-stereo-1000":
        "da79fa367e8ba00b96e9a201e57eea1e517bdce92f52f0c2cb553cbf33364caa",
    "ima-stereo-1001":
        "a319b2ab26861b6c01885531e034e1d94cf4a811ddc74c115ae04de65f6cedb5",
    "tiff-II-gray-c1-r4":
        "3dcf7d56e0dc518e34f5f94dbe3630ed0dbcf00315026276e425ab2d039cf556",
    "tiff-II-gray-c1-rNone":
        "77d2811a243cffb33d2c93cb38134dc6847aa437e20b5bdf94f468bdfe7a0291",
    "tiff-II-gray-c32773-r4":
        "74f2f2e2d6765c112118a959759ba83feb31fc0869dfa5ae3e2ee46d33682301",
    "tiff-II-gray-c32773-rNone":
        "53a474d4375a71f2f85432c72ca88a0164cb7c3ab898c97a70201725881d5d6f",
    "tiff-II-gray-c5-r4":
        "1b2e30faa0a452310008239d82dfdce5a6c1f8e7996dcdc66345bea9d81b6f84",
    "tiff-II-gray-c5-rNone":
        "3e25b21593e52c6ce8b1cc7de5fbfaac588cab54f4578b88b94336427a626503",
    "tiff-II-gray-lzw-pred2":
        "a1bd7d65515d50ad33656018c3936a4b5b01451d4503b31f75921a1ac22666f7",
    "tiff-II-rgb-c1-r4":
        "b7da1c0d340804555fcd74548a8d68c8873ca192a86994ed81724b1190039215",
    "tiff-II-rgb-c1-rNone":
        "9860bf268d13481b39be160b5f60bf83ed5fd7e0683b76651f67f79da3c4a442",
    "tiff-II-rgb-c32773-r4":
        "116a5512cb02d224a772e6e6ffc6fcac9d130f547a1d1839ae7cba2ea80380a2",
    "tiff-II-rgb-c32773-rNone":
        "713002fb8f90a67981bfaba37ed8aa6de1e06665f663407f9387d917790eacf4",
    "tiff-II-rgb-c5-r4":
        "a9acd97b81d7e4d8f8d66ce9c8d62ee97554df23e205a10d66586c5fad59678a",
    "tiff-II-rgb-c5-rNone":
        "224745c1fe5484e4bc6ac7874a0b5be79052030d03302d50cc18c9a2a8342147",
    "tiff-II-rgb-lzw-pred2":
        "f3f4b3649a1725840c41fb539ad1760f473c46bcbf9485e6124ca13936ba04e8",
    "tiff-MM-gray-c1-r4":
        "2bfc1f104067a05ad2cf0a6a60d17e9abe8d8d969cef2644f21733921a0b05ed",
    "tiff-MM-gray-c1-rNone":
        "5020881068daf783561db4f2d8f8b54dc9b5168504ad1655781162ada32d1c14",
    "tiff-MM-gray-c32773-r4":
        "d0722b68d2263d770d1b2505d3a0bf193f3cb494f3ba6bd4887caab1a4eb951e",
    "tiff-MM-gray-c32773-rNone":
        "9bfe1a119fa0944389407abd8045303dfd1db2fa722be37c469b9eb94b015692",
    "tiff-MM-gray-c5-r4":
        "7d8725910c8c6d859b2af4d817c474f92ea929214aa0f7c9d645dd582d76c4dd",
    "tiff-MM-gray-c5-rNone":
        "f5091ba7e736a2557ceacfc3bb78b32f823d4d4913a485a5c30332242cdba184",
    "tiff-MM-gray-lzw-pred2":
        "8a7a1cf6083bb6116e2eba7ec150124d1d5c06bb72c197de1e8bdc4061cdb68c",
    "tiff-MM-rgb-c1-r4":
        "47725d921c2ff77bc3e51eadbc355e46a9747338c7a5022af730d0b5d14e9e07",
    "tiff-MM-rgb-c1-rNone":
        "1925218d6fa77b1db5c997538ec088b69b30328ad3a9d54cd330cfb1e59bc94b",
    "tiff-MM-rgb-c32773-r4":
        "d78e47a3b81afdddae8deffa26e6046ddd794bb165a90911aadfea249cfb62be",
    "tiff-MM-rgb-c32773-rNone":
        "db40cb1f3ff0c754f743caf0c43769068c93b3116037b849659fa2afb99109c6",
    "tiff-MM-rgb-c5-r4":
        "45218bde7eaf255d8ae324dd96ba536d6a17ea80e4604ef8e4704944cc97f1f8",
    "tiff-MM-rgb-c5-rNone":
        "54b1c2189b89feae0cd45fa830a94c9366b4cff6be40dfcee12db6153080344d",
    "tiff-MM-rgb-lzw-pred2":
        "37f354efd9eee59c57679f3957e4250a9d1a8b4a4ce036974ed56a3c8aa0385c",
    "webp-gray-5x7":
        "6fdf011dc9a008f6290af46aacc844dafff46e7fb1afe29df4f304b162f85c8a",
    "webp-gray-9x9":
        "d2c5c2888944518b9c41395fc7ab02540371c90831179c0ec3f89979457056ef",
    "webp-rgb-5x7":
        "1c201dcfe8f69e34e10a533789f9cac7fc22161c15514a443a5dafdd9ed1f60e",
    "webp-rgb-9x9":
        "a9bb21fd0f49924d5cfacf503858d0e0553b9545f807d17c8172f2260274c7e5",
    "webp-rgba-5x7":
        "c72e606f58202da9d734c35969c1134a0ae1887fa3ea775fa1cc1ba23bc7fd82",
    "webp-rgba-9x9":
        "d931b9d49e3ebe91fa1c1d27e7ba154d0846a8a75d8f03115b82c74c94fbec96",
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_container_bytes_are_pinned(case):
    assert hashlib.sha256(CASES[case]()).hexdigest() == DIGESTS[case]

