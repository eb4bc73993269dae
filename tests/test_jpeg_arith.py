"""Arithmetic-coded JPEG (SOF9 sequential + SOF10 progressive): QM
coder + Annex F/G statistical models (extract/jpeg_arith.py)."""

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from docvault_ocr_service_spark.extract.images import (
    ImageDecodeError, UnsupportedImageError)
from docvault_ocr_service_spark.extract.jpeg import decode_jpeg, encode_jpeg
from docvault_ocr_service_spark.extract.jpeg_arith import (
    _FIXED_STATE, _QE_TAB, ArithDecoder, ArithEncoder, _Stats,
    encode_jpeg_arith, encode_jpeg_progressive_arith, parse_dac)


def test_qe_table_structure():
    """Structural invariants of the T.81 Table D.3 transcription: 113
    adaptive states + the fixed bin, every Qe a valid probability
    (< 0x8000), every transition in range, switch flags only on
    MPS-exchange boundary states, and the spec's first/last rows
    pinned exactly."""
    assert len(_QE_TAB) == 114
    for i, (qe, nlps, nmps, sw) in enumerate(_QE_TAB):
        assert 0 < qe < 0x8000, i
        assert 0 <= nlps < 114 and 0 <= nmps < 114, i
        assert sw in (0, 1)
        if sw:
            assert qe > 0x5000, f"switch on low-Qe state {i}"
    assert _QE_TAB[0] == (0x5A1D, 1, 1, 1)
    assert _QE_TAB[13] == (0x0001, 12, 13, 0)   # most-skewed state
    assert _QE_TAB[113] == (0x5A1D, 113, 113, 0)  # fixed bin self-loop
    assert _QE_TAB[_FIXED_STATE][1] == _FIXED_STATE


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_qm_coder_roundtrip_random(seed):
    rng = np.random.RandomState(seed)
    nbins = int(rng.randint(1, 9))
    bits = [(int(rng.randint(2)), int(rng.randint(nbins)))
            for _ in range(3000)]
    enc = ArithEncoder()
    st_e = _Stats(nbins)
    for d, b in bits:
        enc.encode(d, st_e, b)
    payload = enc.flush()
    dec = ArithDecoder(payload + b"\xff\xd9", 0)
    st_d = _Stats(nbins)
    assert [dec.decode(st_d, b) for _, b in bits] == [d for d, _ in bits]


@pytest.mark.parametrize("p", [0.01, 0.2, 0.5, 0.9, 0.999])
def test_qm_coder_roundtrip_skewed(p):
    """Skewed streams walk the deep estimation states and exercise
    carry propagation / 0xFF stuffing."""
    rng = np.random.RandomState(int(p * 1000))
    bits = (rng.random_sample(6000) < p).astype(int).tolist()
    enc = ArithEncoder()
    st_e = _Stats(1)
    for d in bits:
        enc.encode(d, st_e, 0)
    payload = enc.flush()
    dec = ArithDecoder(payload + b"\xff\xd9", 0)
    st_d = _Stats(1)
    assert [dec.decode(st_d, 0) for _ in bits] == bits
    # a heavily-skewed stream must actually compress
    if p >= 0.99 or p <= 0.01:
        assert len(payload) < len(bits) // 16


def test_qm_compresses_vs_uniform():
    """Adaptive coding of a constant stream approaches 0 bits/symbol."""
    enc = ArithEncoder()
    st_e = _Stats(1)
    for _ in range(10000):
        enc.encode(0, st_e, 0)
    assert len(enc.flush()) < 40


@pytest.mark.parametrize("shape,sub,ri", [
    ((16, 16), "444", 0),
    ((24, 31), "444", 0),
    ((33, 17, 3), "444", 0),
    ((40, 40, 3), "420", 0),
    ((32, 32), "444", 2),
    ((48, 32, 3), "420", 3),
])
def test_sof9_matches_huffman_decode(shape, sub, ri):
    """The arithmetic path must reproduce EXACTLY the pixels the
    Huffman path yields for the same quantized coefficients (both
    encoders share _quantized_zigzag, so any difference is a coder or
    statistics-model bug)."""
    rng = np.random.default_rng(hash(shape) % 2**32)
    img = rng.integers(0, 256, shape, dtype=np.uint8)
    arith = decode_jpeg(encode_jpeg_arith(img, quality=85,
                                          subsampling=sub,
                                          restart_interval=ri))
    huff = decode_jpeg(encode_jpeg(img, quality=85, subsampling=sub))
    assert arith.shape == huff.shape
    np.testing.assert_array_equal(arith, huff)


def test_sof9_smaller_than_baseline_on_smooth_image():
    """On smooth content the QM coder should beat the fixture
    Huffman tables (the reason arithmetic JPEG exists)."""
    y, x = np.mgrid[0:64, 0:64]
    img = ((y + x) * 2 % 256).astype(np.uint8)
    a = encode_jpeg_arith(img, quality=90)
    h = encode_jpeg(img, quality=90)
    assert len(a) < len(h)


def test_dac_parsing():
    cond: dict = {}
    parse_dac(bytes([0x00, 0x21, 0x10, 0x07]), cond)
    assert cond[(0, 0)] == (1, 2)           # L=1, U=2
    assert cond[(1, 0)] == 7                # Kx=7
    with pytest.raises(ImageDecodeError, match="L <= U"):
        parse_dac(bytes([0x00, 0x12]), {})  # L=2 > U=1
    with pytest.raises(ImageDecodeError, match="Kx"):
        parse_dac(bytes([0x10, 0x00]), {})


def test_lossless_sof3_still_unsupported():
    data = bytearray(encode_jpeg_arith(
        np.zeros((8, 8), dtype=np.uint8)))
    i = data.find(b"\xff\xc9")
    data[i + 1] = 0xC3                      # rewrite SOF9 -> SOF3
    with pytest.raises(UnsupportedImageError, match="SOF3"):
        decode_jpeg(bytes(data))


@pytest.mark.parametrize("shape,sub,kwargs", [
    ((16, 16), "444", {}),
    ((24, 31), "444", {"dc_al": 2, "ac_al": 2}),
    ((33, 17, 3), "444", {"bands": ((1, 2), (3, 20), (21, 63))}),
    ((40, 40, 3), "420", {"restart_interval": 3}),
    ((32, 32), "444", {"dc_al": 0, "ac_al": 0}),
])
def test_sof10_matches_huffman_decode(shape, sub, kwargs):
    """Progressive-arithmetic must reproduce EXACTLY the pixels the
    baseline Huffman path yields for the same quantized coefficients
    (all encoders share _quantized_zigzag) — across scan scripts,
    successive-approximation depths, and restart intervals."""
    rng = np.random.default_rng(hash(shape) % 2**32)
    img = rng.integers(0, 256, shape, dtype=np.uint8)
    prog = decode_jpeg(encode_jpeg_progressive_arith(
        img, quality=85, subsampling=sub, **kwargs))
    huff = decode_jpeg(encode_jpeg(img, quality=85, subsampling=sub))
    assert prog.shape == huff.shape
    np.testing.assert_array_equal(prog, huff)


def test_sof10_scan_script_invariance():
    """Different progressive structures of the same image decode
    identically (the scan script is presentation, not content)."""
    rng = np.random.default_rng(1234)
    img = rng.integers(0, 256, (29, 35, 3), dtype=np.uint8)
    ref = decode_jpeg(encode_jpeg_progressive_arith(img, quality=80))
    for kwargs in ({"bands": ((1, 63),), "dc_al": 0, "ac_al": 0},
                   {"bands": ((1, 5), (6, 20), (21, 63)), "dc_al": 3,
                    "ac_al": 2},
                   {"restart_interval": 2}):
        got = decode_jpeg(encode_jpeg_progressive_arith(
            img, quality=80, **kwargs))
        np.testing.assert_array_equal(got, ref)


@settings(max_examples=25, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(1, 40))
@example(seed=35805, n_mut=29)  # fill bytes running to the end of data
def test_decode_sof10_total(seed, n_mut):
    """decode_jpeg on mutated/truncated SOF10 streams stays total:
    only ImageDecodeError/UnsupportedImageError ever escape (the
    CLAUDE.md codec invariant)."""
    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, size=(16, 24), dtype=np.uint8)
    data = bytearray(encode_jpeg_progressive_arith(
        img, restart_interval=2))
    for _ in range(n_mut):
        op = rng.randint(3)
        if op == 0 and len(data) > 4:
            data = data[:rng.randint(2, len(data))]
        elif op == 1 and len(data) > 2:
            data[rng.randint(len(data))] = rng.randint(256)
        else:
            at = rng.randint(len(data) + 1)
            data = data[:at] + bytes(rng.randint(
                0, 256, 4, dtype=np.uint8).tolist()) + data[at:]
        try:
            decode_jpeg(bytes(data))
        except (ImageDecodeError, UnsupportedImageError):
            pass


def test_media_pipeline_accepts_sof10():
    from docvault_ocr_service_spark.functions.multimodal import _decode_row

    img = (np.arange(32 * 32, dtype=np.uint32) % 256) \
        .astype(np.uint8).reshape(32, 32)
    row = _decode_row("m1", "image",
                      encode_jpeg_progressive_arith(img, quality=95))
    assert row["decode_status"] == "ok"
    assert row["format"] == "jpeg"
    assert row["width"] == 32 and row["height"] == 32


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(1, 40))
def test_decode_sof9_total(seed, n_mut):
    """decode_jpeg on mutated/truncated SOF9 streams stays total:
    only ImageDecodeError/UnsupportedImageError ever escape (the
    CLAUDE.md codec invariant)."""
    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, size=(16, 24), dtype=np.uint8)
    data = bytearray(encode_jpeg_arith(img, restart_interval=2))
    for _ in range(n_mut):
        op = rng.randint(3)
        if op == 0 and len(data) > 4:
            data = data[:rng.randint(2, len(data))]
        elif op == 1 and len(data) > 2:
            data[rng.randint(len(data))] = rng.randint(256)
        else:
            at = rng.randint(len(data) + 1)
            data = data[:at] + bytes(rng.randint(
                0, 256, 4, dtype=np.uint8).tolist()) + data[at:]
        try:
            decode_jpeg(bytes(data))
        except (ImageDecodeError, UnsupportedImageError):
            # a mutation may rewrite the SOF marker into an honestly
            # unsupported process — both taxonomy errors are total
            pass


def _sof9_offset(data: bytes) -> int:
    i = data.find(b"\xff\xc9")
    assert i > 0
    return i


def test_zero_components_sof_is_decode_error():
    data = bytearray(encode_jpeg_arith(np.zeros((8, 8), dtype=np.uint8)))
    i = _sof9_offset(data)
    data[i + 2 + 2 + 5] = 0                 # Nc byte -> 0
    with pytest.raises(ImageDecodeError, match="zero components"):
        decode_jpeg(bytes(data))


def test_zero_sampling_factor_is_decode_error():
    img = np.zeros((8, 8, 3), dtype=np.uint8)
    data = bytearray(encode_jpeg_arith(img))
    i = _sof9_offset(data)
    # component 2's H/V byte: SOF9 seg = len(2) P(1) Y(2) X(2) Nc(1)
    # then 3 bytes per component (id, HV, Tq)
    data[i + 2 + 2 + 6 + 3 * 1 + 1] = 0x00
    with pytest.raises(ImageDecodeError, match="sampling factor"):
        decode_jpeg(bytes(data))


def test_non_interleaved_scan_is_unsupported():
    """One-scan-per-component sequential files are legal per T.81 but
    outside the engine's envelope — unsupported, not corrupted."""
    img = np.zeros((8, 8, 3), dtype=np.uint8)
    data = bytearray(encode_jpeg_arith(img))
    i = data.find(b"\xff\xda")
    # rewrite SOS: Ns=3 -> Ns=1 (keep component 1 only), shrinking the
    # segment; splice a fresh 1-component SOS header in place
    seg_len = int.from_bytes(data[i + 2:i + 4], "big")
    new_sos = b"\x00\x08\x01\x01\x00\x00\x3f\x00"
    data = data[:i + 2] + new_sos + data[i + 2 + seg_len:]
    with pytest.raises(UnsupportedImageError, match="non-interleaved"):
        decode_jpeg(bytes(data))


def test_media_pipeline_accepts_sof9():
    """The media feature path decodes SOF9 payloads end to end."""
    from docvault_ocr_service_spark.functions.multimodal import _decode_row

    img = (np.arange(32 * 32, dtype=np.uint32) % 256) \
        .astype(np.uint8).reshape(32, 32)
    row = _decode_row("m1", "image", encode_jpeg_arith(img, quality=95))
    assert row["decode_status"] == "ok"
    assert row["format"] == "jpeg"
    assert row["width"] == 32 and row["height"] == 32
