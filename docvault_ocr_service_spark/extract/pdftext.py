"""Native-text extraction from simple PDF payloads (pure Python).

The analogue of the reference's pypdf fast path
(``/root/reference/app/document_processor.py:178-213``): pull per-page text
out of the PDF's content streams and gate on "has native text" =
**≥ 100 stripped chars total** (``app/document_processor.py:200-202``).

Scope: content streams with literal-string ``Tj`` / ``TJ`` text
operators, stored raw or FlateDecode-compressed (zlib — the overwhelming
majority of real-world PDFs).  Other filters (LZW, ASCII85, DCT) and
exotic layouts raise ``PdfParseError`` → the pipeline converts that into
an error row (the reference's corrupted-file path,
``tests/test_document_processor.py:260-285``), never a task failure.
The rasterize+OCR fallback the reference runs for scan-only PDFs needs
Tesseract/PIL, absent from this container.
"""

from __future__ import annotations

import re
import zlib

PDF_MAGIC = b"%PDF-"
NATIVE_TEXT_MIN_CHARS = 100  # app/document_processor.py:200-202


class PdfParseError(ValueError):
    """Payload is not a PDF this engine can natively parse."""


_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b(.*?)endobj", re.DOTALL)
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)endstream", re.DOTALL)
_FLATE_RE = re.compile(rb"/Filter\s*(?:\[\s*)?/FlateDecode(?:\s*\])?")
_AHX_RE = re.compile(rb"/ASCIIHexDecode\b")
_AHX_THEN_FLATE_RE = re.compile(
    rb"/Filter\s*\[\s*/ASCIIHexDecode\s+/FlateDecode\s*\]")
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(?!\s+\d+\s+R)")
_KIDS_RE = re.compile(rb"/Kids\s*\[(.*?)\]", re.DOTALL)
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
_CONTENTS_RE = re.compile(rb"/Contents\s+(\d+)\s+\d+\s+R")
_CONTENTS_ARRAY_RE = re.compile(rb"/Contents\s*\[((?:\s*\d+\s+\d+\s+R)+)\s*\]")
_FILTER_RE = re.compile(rb"/Filter\b")
# Literal strings fed to Tj, and TJ arrays (strings mixed with kerning nums).
_TJ_RE = re.compile(rb"\(((?:\\.|[^\\()])*)\)\s*Tj")
_TJ_ARRAY_RE = re.compile(rb"\[((?:\\.|[^\]])*)\]\s*TJ", re.DOTALL)
_LITERAL_RE = re.compile(rb"\(((?:\\.|[^\\()])*)\)")
# Hex strings <48656C6C6F> and the ' / " show-with-line-move operators
_TJ_HEX_RE = re.compile(rb"<([0-9A-Fa-f\s]*)>\s*Tj")
_HEX_RE = re.compile(rb"<([0-9A-Fa-f\s]*)>")
_QUOTE_RE = re.compile(rb"\(((?:\\.|[^\\()])*)\)\s*'")
_DQUOTE_RE = re.compile(rb"\(((?:\\.|[^\\()])*)\)\s*\"")

_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _unescape(raw: bytes) -> str:
    out = bytearray()
    i = 0
    while i < len(raw):
        ch = raw[i:i + 1]
        if ch == b"\\" and i + 1 < len(raw):
            nxt = raw[i + 1:i + 2]
            if nxt in _ESCAPES:
                out += _ESCAPES[nxt]
                i += 2
                continue
            if nxt.isdigit():  # octal escape, up to 3 digits
                j = i + 1
                while j < len(raw) and j < i + 4 and raw[j:j + 1].isdigit():
                    j += 1
                out.append(int(raw[i + 1:j], 8) & 0xFF)
                i = j
                continue
            i += 1  # lone backslash: swallow
            continue
        out += ch
        i += 1
    return out.decode("latin-1")


def _unhex(raw: bytes) -> str:
    """PDF hex string → text (whitespace allowed; odd length pads 0)."""
    h = b"".join(raw.split())
    if len(h) % 2:
        h += b"0"
    try:
        return bytes.fromhex(h.decode("ascii")).decode("latin-1")
    except ValueError:
        return ""


def _stream_text(stream: bytes) -> str:
    """Text of one content stream: Tj/TJ/'/" show operators (literal and
    hex strings), one line per show op, **in content-stream order** —
    all operator kinds' matches are collected with their stream offset
    and sorted before joining, so a stream mixing Tj with TJ/'/" reads
    top-to-bottom the way a viewer paints it (round-3 fix: the old
    grouped-by-kind emission scrambled mixed streams)."""
    hits: list[tuple[int, str]] = []
    for m in _TJ_RE.finditer(stream):
        hits.append((m.start(), _unescape(m.group(1))))
    for m in _TJ_HEX_RE.finditer(stream):
        hits.append((m.start(), _unhex(m.group(1))))
    for m in _QUOTE_RE.finditer(stream):
        hits.append((m.start(), _unescape(m.group(1))))
    for m in _DQUOTE_RE.finditer(stream):
        hits.append((m.start(), _unescape(m.group(1))))
    for m in _TJ_ARRAY_RE.finditer(stream):
        body = m.group(1)
        lit_spans = [(x.start(), x.end(), _unescape(x.group(1)))
                     for x in _LITERAL_RE.finditer(body)]
        # hex entries only OUTSIDE literal strings — '(x <ab> y)' must
        # not double-extract the bracketed text as a bogus hex string
        hexes = [(x.start(), x.end(), _unhex(x.group(1)))
                 for x in _HEX_RE.finditer(body)
                 if not any(ls <= x.start() < le
                            for ls, le, _ in lit_spans)]
        parts = sorted([(a, t) for a, _, t in lit_spans]
                       + [(a, t) for a, _, t in hexes])
        hits.append((m.start(), "".join(p for _, p in parts)))
    hits.sort(key=lambda h: h[0])
    return "\n".join(t for _, t in hits)


def split_pdf_pages_raw(data: bytes) -> list[list[tuple[bytes, bool]]]:
    """PDF bytes → per page, the raw ``(stream_bytes, is_flate)`` content
    parts in page-tree order — the *cheap* structural pass (no inflate,
    no text scan) of ``extract_pdf_pages``.  Raises ``PdfParseError`` for
    non-PDF bytes, unsupported filters, or a payload with no parseable
    page objects.
    """
    if not data.startswith(PDF_MAGIC):
        raise PdfParseError("missing %PDF- header")

    objects: dict[int, bytes] = {}
    for m in _OBJ_RE.finditer(data):
        objects[int(m.group(1))] = m.group(3)

    page_ids: list[int] = []
    for num, body in objects.items():
        head = _STREAM_RE.split(body)[0]
        if b"/Type" in head and b"/Pages" in head:
            kids = _KIDS_RE.search(head)
            if kids:
                page_ids = [int(r.group(1)) for r in _REF_RE.finditer(kids.group(1))]
                break
    if not page_ids:  # no /Pages tree: fall back to object order
        page_ids = [
            num for num, body in sorted(objects.items())
            if b"/Type" in body and b"/Page" in _STREAM_RE.split(body)[0]
            and b"/Pages" not in _STREAM_RE.split(body)[0]
        ]
    if not page_ids:
        raise PdfParseError("no page objects found")

    pages: list[list[tuple[bytes, bool]]] = []
    for pid in page_ids:
        body = objects.get(pid, b"")
        content_ids: list[int]
        am = _CONTENTS_ARRAY_RE.search(body)
        if am:  # /Contents [5 0 R 6 0 R ...] — concatenated streams
            content_ids = [int(r.group(1))
                           for r in _REF_RE.finditer(am.group(1))]
        else:
            cm = _CONTENTS_RE.search(body)
            if cm:
                content_ids = [int(cm.group(1))]
            else:
                content_ids = [pid]  # inline content in the page object

        parts: list[tuple[bytes, bool]] = []
        for cid in content_ids:
            content_obj = objects.get(cid)
            if content_obj is None:
                raise PdfParseError(f"unresolvable /Contents ref {cid}")
            head = _STREAM_RE.split(content_obj)[0]
            sm = _STREAM_RE.search(content_obj)
            if sm is None:
                continue
            stream = sm.group(1)
            # /Length gives the exact data size — the EOL before
            # `endstream` is not part of the stream, but trailing \r/\n
            # BYTES can be legitimate deflate checksum data, so a strip
            # heuristic corrupts ~1% of compressed streams.  Fall back to
            # stripping one bare \n only when /Length is indirect.
            lm = _LENGTH_RE.search(head)
            if lm:
                stream = stream[:int(lm.group(1))]
            elif stream.endswith(b"\n"):
                stream = stream[:-1]
            is_flate = False
            if _FILTER_RE.search(head):
                if _AHX_RE.search(head):
                    # ASCIIHexDecode is cheap text→bytes: apply eagerly
                    # so the part tuple stays (bytes, is_flate)
                    stream = _ascii_hex_decode(stream)
                    is_flate = bool(_AHX_THEN_FLATE_RE.search(head))
                elif _FLATE_RE.search(head):
                    is_flate = True
                else:
                    raise PdfParseError(
                        "unsupported content-stream filter "
                        "(only FlateDecode/ASCIIHexDecode)")
            parts.append((stream, is_flate))
        pages.append(parts)
    return pages


def _ascii_hex_decode(stream: bytes) -> bytes:
    """PDF ASCIIHexDecode: hex pairs (whitespace ignored) up to '>'."""
    body = stream.split(b">", 1)[0]
    h = b"".join(body.split())
    if len(h) % 2:
        h += b"0"
    try:
        return bytes.fromhex(h.decode("ascii"))
    except (ValueError, UnicodeDecodeError) as e:
        raise PdfParseError(f"ASCIIHexDecode failed: {e}") from e


def page_text_from_raw(parts: list[tuple[bytes, bool]]) -> str:
    """One page's raw content parts → page text — the *expensive* pass
    (inflate + text-operator scan) of ``extract_pdf_pages``."""
    texts: list[str] = []
    for stream, is_flate in parts:
        if is_flate:
            try:
                stream = zlib.decompress(stream)
            except zlib.error as e:
                raise PdfParseError(f"FlateDecode failed: {e}") from e
        texts.append(_stream_text(stream))
    return "\n".join(t for t in texts if t)


def extract_pdf_pages(data: bytes) -> list[str]:
    """PDF bytes → per-page text, in page-tree order.

    The structural split (``split_pdf_pages_raw``) followed by each
    page's decode (``page_text_from_raw``), all in the calling task: a
    giant PDF is one row of the extraction stage, as in the reference
    (``app/worker.py:254-324``).  Raises ``PdfParseError`` exactly as the
    split/decode passes do.
    """
    return [page_text_from_raw(parts) for parts in split_pdf_pages_raw(data)]


def has_native_text(pages: list[str]) -> bool:
    """The ≥100-stripped-chars fast-path gate."""
    return sum(len(p.strip()) for p in pages) >= NATIVE_TEXT_MIN_CHARS
