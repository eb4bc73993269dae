"""Minimal WAV (RIFF/PCM) support: header metadata + sample statistics.

Audio payloads in a crawl are mostly undecodable without ffmpeg, but
uncompressed WAV is just a chunked header over raw PCM — pure Python
gives real duration/rate metadata and amplitude statistics (the audio
analogue of the image path's pixel stats).  Compressed formats (mp3,
ogg, aac) stay honestly outside the envelope.
"""

from __future__ import annotations

import struct

import numpy as np

from .images import ImageDecodeError, UnsupportedImageError


class AudioDecodeError(ImageDecodeError):
    """Payload is not audio this engine can parse."""


def sniff_audio_format(head: bytes) -> str | None:
    if head[:4] == b"RIFF" and head[8:12] == b"WAVE":
        return "wav"
    if head[:3] == b"ID3" or (
            len(head) > 1 and head[0] == 0xFF
            and (head[1] & 0xE0) == 0xE0):    # 11-bit MPEG frame sync
        return "mp3"
    if head[:4] == b"OggS":
        return "ogg"
    if head[:4] == b"fLaC":
        return "flac"
    return None


def parse_wav(data: bytes) -> dict:
    """WAV bytes → dict(channels, sample_rate, bits, n_samples,
    duration_ms, mean_amplitude, rms_amplitude).

    Supports PCM (format 1) at 8/16 bits; float/compressed WAV raises
    ``UnsupportedImageError``."""
    if sniff_audio_format(data[:12]) != "wav":
        raise AudioDecodeError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    pcm = None
    try:
        while pos + 8 <= len(data):
            cid = data[pos:pos + 4]
            (size,) = struct.unpack_from("<I", data, pos + 4)
            body = data[pos + 8:pos + 8 + size]
            if cid == b"fmt " and len(body) >= 16:
                tag, ch, rate, _br, _ba, bits = struct.unpack_from(
                    "<HHIIHH", body, 0)
                fmt = {"tag": tag, "channels": ch, "sample_rate": rate,
                       "bits": bits}
            elif cid == b"data":
                pcm = body
            pos += 8 + size + (size & 1)        # chunks are word-aligned
    except struct.error as e:
        raise AudioDecodeError(f"truncated WAV: {e}") from e
    if fmt is None or pcm is None:
        raise AudioDecodeError("missing fmt/data chunk")
    if fmt["tag"] != 1:
        raise UnsupportedImageError(f"non-PCM WAV (format {fmt['tag']})")
    if fmt["bits"] not in (8, 16):
        raise UnsupportedImageError(f"{fmt['bits']}-bit WAV")
    if fmt["channels"] < 1 or fmt["sample_rate"] < 1:
        raise AudioDecodeError("degenerate WAV header")

    if fmt["bits"] == 16:
        samples = np.frombuffer(pcm[:len(pcm) & ~1], dtype="<i2") \
            .astype(np.float64) / 32768.0
    else:
        samples = (np.frombuffer(pcm, dtype=np.uint8)
                   .astype(np.float64) - 128.0) / 128.0
    n = len(samples) // fmt["channels"]
    return {
        "channels": fmt["channels"],
        "sample_rate": fmt["sample_rate"],
        "bits": fmt["bits"],
        "n_samples": int(n),
        "duration_ms": int(n * 1000 / fmt["sample_rate"]),
        "mean_amplitude": float(np.abs(samples).mean()) if n else 0.0,
        "rms_amplitude": float(np.sqrt((samples ** 2).mean())) if n
        else 0.0,
    }


def encode_wav(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """Mono 16-bit PCM fixture writer (proves parse_wav round-trips)."""
    pcm = np.clip(np.asarray(samples) * 32767.0,
                  -32768, 32767).astype("<i2").tobytes()
    hdr = (b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate,
                                   sample_rate * 2, 2, 16)
           + b"data" + struct.pack("<I", len(pcm)))
    return hdr + pcm


# -- MP3 (MPEG audio) frame headers ------------------------------------------
#
# No PCM decode here (that needs a DCT synthesis filterbank à la ffmpeg)
# — but the frame HEADERS are pure bit-twiddling and give real metadata:
# bitrate / sample rate / channel mode / exact frame-walk duration, the
# audio analogue of compressed-TIFF's metadata-only row.

_MP3_RATES = {1: (44100, 48000, 32000),
              2: (22050, 24000, 16000),
              25: (11025, 12000, 8000)}
# kbps by (version-group, layer); index 1..14 of the 4-bit bitrate field
_MP3_BITRATES = {
    (1, 1): (32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384,
             416, 448),
    (1, 2): (32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256,
             320, 384),
    (1, 3): (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
             256, 320),
    (2, 1): (32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192,
             224, 256),
    (2, 2): (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}
_MP3_BITRATES[(2, 3)] = _MP3_BITRATES[(2, 2)]


def _mp3_frame_at(data: bytes, pos: int):
    """Parse one MPEG audio frame header at ``pos``; returns
    (frame_len, version, layer, bitrate_kbps, rate, channels,
    samples_per_frame) or None if the bytes there are not a valid
    header."""
    if pos + 4 > len(data) or data[pos] != 0xFF or \
            (data[pos + 1] & 0xE0) != 0xE0:
        return None
    b1, b2, b3 = data[pos + 1], data[pos + 2], data[pos + 3]
    version = {0: 25, 2: 2, 3: 1}.get((b1 >> 3) & 0x3)
    layer = {1: 3, 2: 2, 3: 1}.get((b1 >> 1) & 0x3)
    if version is None or layer is None:
        return None
    br_idx, sr_idx = (b2 >> 4) & 0xF, (b2 >> 2) & 0x3
    if br_idx in (0, 15) or sr_idx == 3:
        return None                     # free-format / bad indices
    group = 1 if version == 1 else 2
    bitrate = _MP3_BITRATES[(group, layer)][br_idx - 1]
    rate = _MP3_RATES[version][sr_idx]
    padding = (b2 >> 1) & 0x1
    channels = 1 if ((b3 >> 6) & 0x3) == 3 else 2
    if layer == 1:
        spf = 384
        frame_len = (12 * bitrate * 1000 // rate + padding) * 4
    else:
        spf = 576 if (layer == 3 and version != 1) else 1152
        frame_len = spf // 8 * bitrate * 1000 // rate + padding
    return frame_len, version, layer, bitrate, rate, channels, spf


def parse_mp3(data: bytes, max_resync: int = 4096) -> dict:
    """MP3 bytes → dict(version, layer, bitrate_kbps, sample_rate,
    channels, n_frames, duration_ms, vbr).

    Skips an ID3v2 tag, finds the first frame sync within
    ``max_resync`` bytes, then WALKS the frame chain using each
    header's own length — duration is the exact sum of frame sample
    counts, and ``vbr`` reports whether bitrates varied.  Stops at the
    first non-frame byte (trailing tags/garbage tolerated).  Raises
    ``AudioDecodeError`` when no frame sync is found."""
    pos = 0
    if data[:3] == b"ID3" and len(data) >= 10:
        size = ((data[6] & 0x7F) << 21) | ((data[7] & 0x7F) << 14) \
            | ((data[8] & 0x7F) << 7) | (data[9] & 0x7F)
        pos = 10 + size
    first = None
    limit = min(len(data), pos + max_resync)
    while pos < limit:
        first = _mp3_frame_at(data, pos)
        if first is not None:
            break
        pos += 1
    if first is None:
        raise AudioDecodeError("no MPEG audio frame sync found")
    _, version, layer, bitrate0, rate, channels, spf = first
    n_frames, samples = 0, 0
    bitrates = set()
    while True:
        f = _mp3_frame_at(data, pos)
        if f is None or pos + f[0] > len(data):
            break
        n_frames += 1
        samples += f[6]
        bitrates.add(f[3])
        pos += f[0]
    return {
        "version": version, "layer": layer,
        "bitrate_kbps": bitrate0, "sample_rate": rate,
        "channels": channels, "n_frames": n_frames,
        "duration_ms": samples * 1000.0 / rate,
        "vbr": len(bitrates) > 1,
    }


def encode_mp3_frames(n_frames: int, bitrate_kbps: int = 128,
                      sample_rate: int = 44100, mono: bool = False,
                      id3_bytes: int = 0) -> bytes:
    """Deterministic MPEG1/2-Layer-III fixture writer: structurally
    valid frame headers with zeroed payloads (+ optional ID3v2 stub) —
    proof the parser round-trips; not playable audio."""
    version = 1 if sample_rate in _MP3_RATES[1] else \
        (2 if sample_rate in _MP3_RATES[2] else 25)
    group = 1 if version == 1 else 2
    br_idx = _MP3_BITRATES[(group, 3)].index(bitrate_kbps) + 1
    sr_idx = _MP3_RATES[version].index(sample_rate)
    vbits = {1: 3, 2: 2, 25: 0}[version]
    b1 = 0xE0 | (vbits << 3) | (1 << 1) | 1      # sync+layer III, no CRC
    b2 = (br_idx << 4) | (sr_idx << 2)
    b3 = (0xC0 if mono else 0x00)
    spf = 1152 if version == 1 else 576
    frame_len = spf // 8 * bitrate_kbps * 1000 // sample_rate
    frame = bytes((0xFF, b1, b2, b3)) + b"\x00" * (frame_len - 4)
    head = b""
    if id3_bytes:
        head = b"ID3\x04\x00\x00" + bytes(
            (id3_bytes >> s) & 0x7F for s in (21, 14, 7, 0)) \
            + b"\x00" * id3_bytes
    return head + frame * n_frames


# -- FLAC / Ogg-Vorbis headers -----------------------------------------------

def parse_flac(data: bytes) -> dict:
    """FLAC STREAMINFO (the mandatory first metadata block) →
    dict(sample_rate, channels, bits, n_samples, duration_ms).  No PCM
    decode.  Raises ``AudioDecodeError`` on anything malformed."""
    if data[:4] != b"fLaC" or len(data) < 4 + 4 + 34:
        raise AudioDecodeError("not a FLAC stream")
    if data[4] & 0x7F != 0:
        raise AudioDecodeError("first FLAC block is not STREAMINFO")
    si = data[8:8 + 34]
    sample_rate = (si[10] << 12) | (si[11] << 4) | (si[12] >> 4)
    channels = ((si[12] >> 1) & 0x7) + 1
    bits = (((si[12] & 0x1) << 4) | (si[13] >> 4)) + 1
    n_samples = ((si[13] & 0xF) << 32) | int.from_bytes(si[14:18], "big")
    if sample_rate == 0:
        raise AudioDecodeError("FLAC STREAMINFO declares rate 0")
    return {
        "sample_rate": sample_rate, "channels": channels, "bits": bits,
        "n_samples": n_samples,
        "duration_ms": n_samples * 1000.0 / sample_rate,
    }


def parse_ogg_vorbis(data: bytes) -> dict:
    """Ogg-encapsulated Vorbis → dict(sample_rate, channels, n_samples,
    duration_ms).  Reads the identification header from the first page
    and the granule position from the LAST page (total PCM samples —
    how every tag reader computes Ogg duration).  Raises
    ``AudioDecodeError`` when the stream is not Ogg/Vorbis."""
    if data[:4] != b"OggS" or len(data) < 58:
        raise AudioDecodeError("not an Ogg stream")
    n_segs = data[26]
    body = 27 + n_segs
    ident = data[body:body + 30]
    if ident[:7] != b"\x01vorbis" or len(ident) < 16:
        raise AudioDecodeError("first Ogg packet is not a Vorbis "
                               "identification header")
    channels = ident[11]
    sample_rate = int.from_bytes(ident[12:16], "little")
    if sample_rate == 0 or channels == 0:
        raise AudioDecodeError("Vorbis header declares zero rate/channels")
    # walk the page chain for the final granule — rfind(b"OggS") would
    # match the 4 magic bytes INSIDE compressed packet payloads and read
    # garbage; page lengths are exact (27 + n_segs + sum(lacing))
    granule, pos = 0, 0
    while pos + 27 <= len(data) and data[pos:pos + 4] == b"OggS":
        segs = data[pos + 26]
        table = data[pos + 27:pos + 27 + segs]
        if len(table) < segs:
            break                       # truncated final page header
        g = int.from_bytes(data[pos + 6:pos + 14], "little", signed=True)
        if g > granule:
            granule = g
        pos += 27 + segs + sum(table)
    n_samples = max(granule, 0)
    return {
        "sample_rate": sample_rate, "channels": channels,
        "n_samples": n_samples,
        "duration_ms": n_samples * 1000.0 / sample_rate,
    }
