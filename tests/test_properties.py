"""Property-based tests (hypothesis) over the pure kernels."""

from hypothesis import given, settings, strategies as st

from docvault_ocr_service_spark.extract.charset import decode_html_bytes
from docvault_ocr_service_spark.extract.document import (
    detect_format, extract_document)
from docvault_ocr_service_spark.extract.htmltext import extract_main_text
from docvault_ocr_service_spark.extract.metadata import (
    _normalize_amount, extract_metadata)

_SETTINGS = dict(max_examples=150, deadline=None)


@given(st.binary(max_size=2048))
@settings(**_SETTINGS)
def test_decode_never_raises_and_is_deterministic(data):
    t1, c1 = decode_html_bytes(data)
    t2, c2 = decode_html_bytes(data)
    assert (t1, c1) == (t2, c2)
    assert isinstance(t1, str)


@given(st.text(max_size=2000))
@settings(**_SETTINGS)
def test_html_extract_total(html):
    text, spans = extract_main_text(html)
    for s in spans:
        assert text[s.start:s.end] != "" or text == ""
        assert 0.0 <= s.link_density <= 1.0
    # determinism
    assert extract_main_text(html)[0] == text


@given(st.binary(max_size=512), st.one_of(st.none(), st.text(max_size=50)))
@settings(**_SETTINGS)
def test_extract_document_total(payload, text):
    res = extract_document("u://x", payload, text, "en")
    assert res["status"] in ("done", "failed_permanent",
                             "failed_retryable")
    if res["status"] == "done":
        assert res["text"] is not None
        assert res["metadata"]["confidence"] is not None
        assert 0.0 <= res["metadata"]["confidence"] <= 1.0
    else:
        assert res["error_kind"]
    assert detect_format(payload) in ("pdf", "html", "empty", "unknown")


@given(st.integers(1, 999), st.integers(0, 999), st.integers(0, 99))
@settings(**_SETTINGS)
def test_amount_normalization_formats_agree(thousands, units, cents):
    value = thousands * 1000 + units + cents / 100
    us = f"{thousands},{units:03d}.{cents:02d}"       # 1,500.00
    eu = f"{thousands}.{units:03d},{cents:02d}"       # 1.500,00
    spaced = f"{thousands} {units:03d},{cents:02d}"   # 1 500,00
    for s in (us, eu, spaced):
        assert abs(_normalize_amount(s) - value) < 1e-9, s


@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=591),
               max_size=500))
@settings(**_SETTINGS)
def test_metadata_total_and_sorted(text):
    md = extract_metadata(text)
    assert 0.0 <= md["confidence"] <= 1.0
    for key in ("emails", "phones", "invoice_numbers", "po_numbers",
                "postal_codes", "addresses", "tax_ids"):
        assert md[key] == sorted(set(md[key])), key
    assert len(md["dates"]) == len(md["date_contexts"])
    assert len(md["amounts"]) == len(md["amount_labels"])
    assert len(md["names"]) == len(md["name_contexts"])


@settings(max_examples=40, deadline=None)
@given(st.integers(1, 40), st.integers(1, 40), st.integers(0, 2**32 - 1),
       st.sampled_from(["gray", "rgb"]))
def test_png_roundtrip_random(h, w, seed, mode):
    import numpy as np

    from docvault_ocr_service_spark.extract.images import (
        decode_png, encode_png)

    rng = np.random.RandomState(seed % (2**31))
    shape = (h, w) if mode == "gray" else (h, w, 3)
    pix = rng.randint(0, 256, size=shape, dtype=np.uint8)
    assert (decode_png(encode_png(pix)) == pix).all()


@settings(max_examples=25, deadline=None)
@given(st.integers(1, 24), st.integers(1, 24), st.integers(0, 2**31 - 1),
       st.integers(1, 3))
def test_tiff_gif_roundtrip_random(h, w, seed, n_frames):
    import numpy as np

    from docvault_ocr_service_spark.extract.images import (
        count_gif_frames, count_tiff_frames, decode_gif, decode_tiff,
        encode_gif_gray, encode_tiff_gray)

    rng = np.random.RandomState(seed)
    frames = [rng.randint(0, 256, size=(h, w), dtype=np.uint8)
              for _ in range(n_frames)]
    tif = encode_tiff_gray(frames)
    assert count_tiff_frames(tif) == n_frames
    for k, f in enumerate(frames):
        assert (decode_tiff(tif, frame=k) == f).all()
    # compressed variants round-trip the same frames byte-exactly
    for kw in ({"compression": "lzw"}, {"compression": "packbits"},
               {"compression": "lzw", "predictor": True}):
        ctif = encode_tiff_gray(frames, **kw)
        for k, f in enumerate(frames):
            assert (decode_tiff(ctif, frame=k) == f).all()
    gif = encode_gif_gray(frames)
    assert count_gif_frames(gif) == n_frames
    for k, f in enumerate(frames):
        assert (decode_gif(gif, frame=k)[..., 0] == f).all()


@settings(max_examples=30, deadline=None)
@given(st.lists(st.tuples(st.text(min_size=1, max_size=40).map(
           lambda s: "https://x/" + "".join(c for c in s if ord(c) > 32)),
       st.binary(max_size=300)), min_size=1, max_size=8),
       st.booleans())
def test_warc_roundtrip_random(pairs, gz):
    from datetime import datetime, timezone

    from docvault_ocr_service_spark.sources.warc import (
        encode_warc, parse_warc)

    ts = datetime(2023, 7, 1, tzinfo=timezone.utc)
    recs = [{"url": u, "warc_ts": ts, "html": b} for u, b in pairs]
    got = list(parse_warc(encode_warc(recs, gzip_members=gz)))
    assert [r["html"] for r in got] == [b for _, b in pairs]
    assert [r["url"] for r in got] == [u for u, _ in pairs]


@settings(max_examples=30, deadline=None)
@given(st.binary(max_size=400))
def test_image_sniff_and_decode_total(payload):
    """Decoders are total: anything that sniffs as an image either
    decodes or raises ImageDecodeError — never any other exception."""
    from docvault_ocr_service_spark.extract.images import (
        ImageDecodeError, decode_gif, decode_png, decode_tiff,
        sniff_image_format)

    fmt = sniff_image_format(payload[:8])
    for dec, want in ((decode_png, "png"), (decode_tiff, "tiff"),
                      (decode_gif, "gif")):
        try:
            dec(payload)
        except ImageDecodeError:
            pass


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(1, 40), st.booleans())
def test_decode_jpeg_total(seed, n_mut, progressive):
    """decode_jpeg is total under byte mutation/truncation of a valid
    stream: only ImageDecodeError/UnsupportedImageError, never
    IndexError/struct.error (the CLAUDE.md codec invariant)."""
    import numpy as np

    from docvault_ocr_service_spark.extract.images import ImageDecodeError
    from docvault_ocr_service_spark.extract.jpeg import (
        decode_jpeg, encode_jpeg, encode_jpeg_progressive)

    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, size=(16, 24), dtype=np.uint8)
    data = bytearray(encode_jpeg_progressive(img) if progressive
                     else encode_jpeg(img))
    for _ in range(n_mut):
        op = rng.randint(3)
        if op == 0 and len(data) > 4:            # truncate
            data = data[:rng.randint(2, len(data))]
        elif op == 1 and len(data) > 2:          # flip a byte
            data[rng.randint(len(data))] = rng.randint(256)
        else:                                    # splice garbage
            at = rng.randint(len(data) + 1)
            data = data[:at] + bytes(rng.randint(0, 256, 4,
                                                 dtype=np.uint8).tolist()) \
                + data[at:]
        try:
            decode_jpeg(bytes(data))
        except ImageDecodeError:
            pass                                 # incl. UnsupportedImage


@settings(max_examples=60, deadline=None)
@given(st.text(max_size=300))
def test_parse_robots_total(text):
    """parse_robots never raises and only emits non-empty literal
    prefixes with correct weights."""
    from docvault_ocr_service_spark.functions.web import parse_robots

    for agent in ("x", "BigBot"):
        rules = parse_robots(text, agent=agent)
        for r in rules:
            assert r["prefix"] and "*" not in r["prefix"]
            assert r["weight"] == len(r["prefix"])
            assert isinstance(r["allowed"], bool)


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=400))
def test_parse_wav_total(payload):
    from docvault_ocr_service_spark.extract.audio import (
        AudioDecodeError, parse_wav)

    try:
        meta = parse_wav(payload)
        assert meta["duration_ms"] >= 0 and meta["sample_rate"] >= 1
    except AudioDecodeError:
        pass


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=200), st.integers(2, 8), st.integers(0, 64))
def test_lzw_decode_total(data, min_code, n_pixels):
    from docvault_ocr_service_spark.extract.images import (
        ImageDecodeError, _lzw_decode)

    try:
        out = _lzw_decode(data, min_code, n_pixels)
        assert len(out) <= n_pixels
    except ImageDecodeError:
        pass


@settings(max_examples=40, deadline=None)
@given(st.text(max_size=200))
def test_parse_sitemap_total(text):
    from docvault_ocr_service_spark.functions.web import parse_sitemap

    for u in parse_sitemap(text):
        assert "<" not in u


@given(st.lists(st.text(max_size=300), min_size=1, max_size=4),
       st.one_of(st.none(), st.floats(allow_nan=True)),
       st.one_of(st.none(), st.text(max_size=10)))
@settings(max_examples=120, deadline=None)
def test_hocr_total_and_wellformed(pages, conf, lang):
    """to_hocr is total on arbitrary text/confidence/lang and always
    yields well-formed XML whose word bboxes slice the (XML-sanitized)
    page text."""
    import re
    import xml.etree.ElementTree as ET

    from docvault_ocr_service_spark.extract.hocr import to_hocr

    h = to_hocr("u", pages, conf, lang)
    root = ET.fromstring(h)
    ns = "{http://www.w3.org/1999/xhtml}"
    bbox = re.compile(r"bbox (\d+) 0 (\d+) 1")
    divs = [d for d in root.iter(f"{ns}div")
            if d.get("class") == "ocr_page"]
    assert len(divs) == len(pages)
    for div, text in zip(divs, pages):
        text = text or ""
        for w in div.iter(f"{ns}span"):
            if w.get("class") != "ocrx_word":
                continue
            m = bbox.search(w.get("title"))
            s, e = int(m.group(1)), int(m.group(2))
            want = "".join(c if (c >= " " or c in "\t\n\r")
                           else "�" for c in text[s:e])
            assert want == (w.text or "")


@given(st.integers(1, 24), st.integers(1, 70), st.integers(0, 2**32 - 1))
@settings(max_examples=80, deadline=None)
def test_ccitt_codecs_roundtrip(h, w, seed):
    import numpy as np

    from docvault_ocr_service_spark.extract.ccitt import (
        decode_g3_1d, decode_g4, decode_mh, encode_g4)
    from fixture_encoders import encode_g3_1d, encode_mh

    rng = np.random.RandomState(seed)
    img = (rng.rand(h, w) < rng.rand()).astype(np.uint8)
    assert (decode_g4(encode_g4(img), w, h) == img).all()
    assert (decode_mh(encode_mh(img), w, h) == img).all()
    assert (decode_g3_1d(encode_g3_1d(img), w, h) == img).all()


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(1, 40))
def test_decode_webp_total(seed, n_mut):
    """decode_webp is total under byte mutation/truncation of a valid
    VP8L stream: only ImageDecodeError (incl. UnsupportedImageError),
    never IndexError/struct.error/TypeError (the CLAUDE.md codec
    invariant)."""
    import numpy as np

    from docvault_ocr_service_spark.extract.images import (
        ImageDecodeError)
    from docvault_ocr_service_spark.extract.webp import (
        decode_webp, encode_webp_lossless)

    rng = np.random.default_rng(seed)
    img = rng.integers(0, int(rng.integers(2, 256)),
                       (int(rng.integers(1, 12)),
                        int(rng.integers(1, 12)), 3)).astype(np.uint8)
    data = bytearray(encode_webp_lossless(img))
    if rng.integers(0, 2):
        data = data[:int(rng.integers(0, len(data)))]   # truncate
    for _ in range(n_mut):
        if not data:
            break
        data[int(rng.integers(0, len(data)))] = int(rng.integers(0, 256))
    try:
        decode_webp(bytes(data))
    except ImageDecodeError:
        pass
