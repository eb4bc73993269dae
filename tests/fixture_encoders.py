"""Fixture encoders that only tests need: T.4 fax bitstreams (MH,
G3 1-D, G3 2-D) for the CCITT decoders, and header-only FLAC and
Ogg/Vorbis payloads for the audio metadata parsers.  The product's own
encoders (``encode_g4``, ``encode_wav``, ``encode_mp3_frames``) stay in
``docvault_ocr_service_spark.extract``."""

from __future__ import annotations

import numpy as np

from docvault_ocr_service_spark.extract.ccitt import (
    _EOL,
    _emit_run,
    _encode_2d_line,
    _transitions,
)


def _emit_runs_line(bits: list, row) -> None:
    runs = []
    pos = 0
    w = len(row)
    while pos < w:
        color = row[pos]
        end = pos
        while end < w and row[end] == color:
            end += 1
        runs.append((end - pos, color == 0))
        pos = end
    if not runs or not runs[0][1]:
        runs.insert(0, (0, True))           # lines start with a white run
    for n, white in runs:
        _emit_run(bits, n, white)


def encode_mh(img: np.ndarray) -> bytes:
    """(H, W) 0=white/nonzero=black → Compression=2 bitstream
    (byte-aligned rows, no EOL)."""
    arr = (np.asarray(img) != 0).astype(np.uint8)
    out: list[str] = []
    for y in range(arr.shape[0]):
        bits: list[str] = []
        _emit_runs_line(bits, arr[y])
        s = "".join(bits)
        out.append(s + "0" * (-len(s) % 8))
    s = "".join(out)
    return bytes(int(s[i:i + 8], 2) for i in range(0, len(s), 8))


def encode_g3_2d(img: np.ndarray, k: int = 3) -> bytes:
    """(H, W) → Compression=3 2-D bitstream: every ``k``-th line 1-D
    (EOL+1), the rest 2-D (EOL+0) — the standard K-parameter shape."""
    arr = (np.asarray(img) != 0).astype(np.uint8)
    bits: list[str] = []
    ref: list[int] = []
    for y in range(arr.shape[0]):
        cur = _transitions(arr[y])
        if y % k == 0:
            bits.append(_EOL + "1")
            _emit_runs_line(bits, arr[y])
        else:
            bits.append(_EOL + "0")
            _encode_2d_line(bits, cur, ref, arr.shape[1])
        ref = cur
    s = "".join(bits)
    s += "0" * (-len(s) % 8)
    return bytes(int(s[i:i + 8], 2) for i in range(0, len(s), 8))


def encode_g3_1d(img: np.ndarray) -> bytes:
    """(H, W) → Compression=3 1-D bitstream (EOL before every line)."""
    arr = (np.asarray(img) != 0).astype(np.uint8)
    bits: list[str] = []
    for y in range(arr.shape[0]):
        bits.append(_EOL)
        _emit_runs_line(bits, arr[y])
    s = "".join(bits)
    s += "0" * (-len(s) % 8)
    return bytes(int(s[i:i + 8], 2) for i in range(0, len(s), 8))


def encode_flac_header(sample_rate: int = 44100, channels: int = 2,
                       bits: int = 16, n_samples: int = 44100) -> bytes:
    """Deterministic STREAMINFO-only FLAC fixture (no audio frames)."""
    si = bytearray(34)
    si[0:2] = (4096).to_bytes(2, "big")
    si[2:4] = (4096).to_bytes(2, "big")
    si[10] = (sample_rate >> 12) & 0xFF
    si[11] = (sample_rate >> 4) & 0xFF
    si[12] = ((sample_rate & 0xF) << 4) | ((channels - 1) << 1) \
        | ((bits - 1) >> 4)
    si[13] = (((bits - 1) & 0xF) << 4) | ((n_samples >> 32) & 0xF)
    si[14:18] = (n_samples & 0xFFFFFFFF).to_bytes(4, "big")
    return b"fLaC" + bytes([0x80]) + (34).to_bytes(3, "big") + bytes(si)


def encode_ogg_vorbis_header(sample_rate: int = 44100, channels: int = 2,
                             n_samples: int = 44100) -> bytes:
    """Deterministic two-page Ogg/Vorbis fixture: an identification
    page and a final page carrying the total-samples granule."""
    ident = (b"\x01vorbis" + (0).to_bytes(4, "little")
             + bytes([channels]) + sample_rate.to_bytes(4, "little")
             + b"\x00" * 13)

    def page(granule: int, seq: int, payload: bytes,
             header_type: int) -> bytes:
        head = (b"OggS\x00" + bytes([header_type])
                + granule.to_bytes(8, "little", signed=True)
                + (1).to_bytes(4, "little")       # serial
                + seq.to_bytes(4, "little")
                + b"\x00\x00\x00\x00"             # crc (readers we feed
                + bytes([1, len(payload)]))       # don't verify it)
        return head + payload

    return (page(0, 0, ident, 0x02)
            + page(n_samples, 1, b"\x00", 0x04))
