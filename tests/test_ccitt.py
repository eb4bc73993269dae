"""CCITT Group 4 (T.6) codec: table structure, roundtrip fuzz, TIFF
integration, corruption totality."""

import numpy as np
import pytest

from docvault_ocr_service_spark.extract.ccitt import (
    _BLACK_DECODE, _WHITE_DECODE, decode_g4, encode_g4)
from docvault_ocr_service_spark.extract.images import (
    ImageDecodeError, decode_tiff, encode_tiff_g4)


def test_known_codewords():
    """Spot-check canonical T.4 codewords (the famous ones every fax
    implementation quotes)."""
    assert _WHITE_DECODE["00110101"] == 0
    assert _WHITE_DECODE["000111"] == 1
    assert _WHITE_DECODE["0111"] == 2
    assert _WHITE_DECODE["11011"] == 64
    assert _WHITE_DECODE["011000"] == 1664
    assert _BLACK_DECODE["0000110111"] == 0
    assert _BLACK_DECODE["010"] == 1
    assert _BLACK_DECODE["11"] == 2
    assert _BLACK_DECODE["0000001111"] == 64
    assert _WHITE_DECODE["00000001000"] == 1792  # shared ext makeup
    assert _BLACK_DECODE["000000011111"] == 2560


def test_roundtrip_fuzz():
    rng = np.random.RandomState(20260817)
    for trial in range(40):
        h, w = rng.randint(1, 40), rng.randint(1, 120)
        p = rng.rand()
        img = (rng.rand(h, w) < p).astype(np.uint8)
        assert (decode_g4(encode_g4(img), w, h) == img).all(), \
            (trial, h, w)


def test_structured_and_long_runs():
    # text-like: horizontal rules, vertical strokes, >2560 runs
    img = np.zeros((10, 3000), np.uint8)
    img[2] = 1
    img[:, 100:103] = 1
    img[7, 2900:] = 1
    assert (decode_g4(encode_g4(img), 3000, 10) == img).all()
    for pattern in (np.eye(16, dtype=np.uint8),
                    np.tri(12, 30, dtype=np.uint8)):
        h, w = pattern.shape
        assert (decode_g4(encode_g4(pattern), w, h) == pattern).all()


def test_corruption_is_total():
    img = (np.arange(400).reshape(20, 20) % 3 == 0).astype(np.uint8)
    enc = encode_g4(img)
    with pytest.raises(ImageDecodeError):
        decode_g4(enc[: len(enc) // 2], 20, 20)      # truncated
    with pytest.raises(ImageDecodeError):
        decode_g4(b"\x00" * 40, 20, 20)              # invalid codes


def test_g4_tiff_media_row(spark):
    from docvault_ocr_service_spark.functions.multimodal import (
        extract_media_features)

    img = np.zeros((24, 40), np.uint8)
    img[5:12, 8:30] = 1
    media = spark.createDataFrame(
        [("g4", "image", encode_tiff_g4([img, 1 - img]))],
        ["media_id", "kind", "payload"])
    r = extract_media_features(media, fake=False).first()
    assert r["decode_status"] == "ok"
    assert r["n_frames"] == 2
    assert (r["width"], r["height"]) == (40, 24)
    # MinIsWhite: black rectangle is 7*22 of 960 pixels
    want = 255.0 * (1 - 7 * 22 / 960)
    assert abs(r["brightness"] - want) < 1e-6


def test_mh_and_g3_roundtrip_fuzz():
    from docvault_ocr_service_spark.extract.ccitt import (
        decode_g3_1d, decode_mh)
    from fixture_encoders import encode_g3_1d, encode_mh

    rng = np.random.RandomState(7)
    for _ in range(25):
        h, w = rng.randint(1, 30), rng.randint(1, 90)
        img = (rng.rand(h, w) < rng.rand()).astype(np.uint8)
        assert (decode_mh(encode_mh(img), w, h) == img).all()
        assert (decode_g3_1d(encode_g3_1d(img), w, h) == img).all()
    with pytest.raises(ImageDecodeError):
        decode_g3_1d(b"\xff" * 20, 8, 2)     # no EOL where required


def test_mh_g3_tiff_branches(spark):
    """Compression 2/3 TIFFs (1-D and 2-D per T4Options) decode through
    the fax branch."""
    import struct

    from fixture_encoders import encode_g3_1d, encode_g3_2d, encode_mh

    img = np.zeros((12, 28), np.uint8)
    img[4:8, 3:20] = 1
    want = np.where(img == 1, 0, 255).astype(np.uint8)

    def bilevel_tiff(strip: bytes, comp: int, t4opts: int | None = None):
        h, w = img.shape
        entries = [
            (256, 3, 1, struct.pack("<HH", w, 0)),
            (257, 3, 1, struct.pack("<HH", h, 0)),
            (258, 3, 1, struct.pack("<HH", 1, 0)),
            (259, 3, 1, struct.pack("<HH", comp, 0)),
            (262, 3, 1, struct.pack("<HH", 0, 0)),
            (273, 4, 1, struct.pack("<I", 8)),
            (277, 3, 1, struct.pack("<HH", 1, 0)),
            (278, 3, 1, struct.pack("<HH", h, 0)),
            (279, 4, 1, struct.pack("<I", len(strip))),
        ]
        if t4opts is not None:
            entries.append((292, 4, 1, struct.pack("<I", t4opts)))
        entries.sort()
        ifd = struct.pack("<H", len(entries)) + b"".join(
            struct.pack("<HHI4s", t, ty, c, vb)
            for t, ty, c, vb in entries) + struct.pack("<I", 0)
        return (b"II*\x00" + struct.pack("<I", 8 + len(strip))
                + strip + ifd)

    assert (decode_tiff(bilevel_tiff(encode_mh(img), 2)) == want).all()
    assert (decode_tiff(
        bilevel_tiff(encode_g3_1d(img), 3, t4opts=0)) == want).all()
    assert (decode_tiff(
        bilevel_tiff(encode_g3_2d(img), 3, t4opts=1)) == want).all()


def test_g3_2d_roundtrip_fuzz():
    from docvault_ocr_service_spark.extract.ccitt import decode_g3_2d
    from fixture_encoders import encode_g3_2d

    rng = np.random.RandomState(13)
    for _ in range(20):
        h, w = rng.randint(1, 30), rng.randint(1, 80)
        img = (rng.rand(h, w) < rng.rand()).astype(np.uint8)
        for k in (1, 3):
            assert (decode_g3_2d(encode_g3_2d(img, k), w, h) == img).all()


def test_fax_tiff_without_bitspersample_tag():
    """TIFF 6.0 default BitsPerSample is 1; minimal fax writers omit
    tag 258 — the decode must not reject them."""
    import struct

    from fixture_encoders import encode_mh

    img = np.zeros((8, 16), np.uint8)
    img[2:5, 4:12] = 1
    strip = encode_mh(img)
    entries = [
        (256, 3, 1, struct.pack("<HH", 16, 0)),
        (257, 3, 1, struct.pack("<HH", 8, 0)),
        (259, 3, 1, struct.pack("<HH", 2, 0)),   # no tag 258!
        (262, 3, 1, struct.pack("<HH", 0, 0)),
        (273, 4, 1, struct.pack("<I", 8)),
        (278, 3, 1, struct.pack("<HH", 8, 0)),
        (279, 4, 1, struct.pack("<I", len(strip))),
    ]
    ifd = struct.pack("<H", len(entries)) + b"".join(
        struct.pack("<HHI4s", t, ty, c, vb)
        for t, ty, c, vb in entries) + struct.pack("<I", 0)
    tif = b"II*\x00" + struct.pack("<I", 8 + len(strip)) + strip + ifd
    got = decode_tiff(tif)
    assert (got == np.where(img == 1, 0, 255)).all()
