"""CCITT Group 4 (ITU-T T.6, 2-D MMR) bilevel codec — pure Python.

The reference decodes fax-compressed scanned TIFFs through PIL
(app/document_processor.py:99-176); this is the Spark engine's codec
for TIFF Compression=4.  T.6 codes each line against the line above as
vertical (V0, VR1-3, VL1-3), horizontal (two T.4 run lengths), or pass
modes; there are no EOL codes and the first reference line is an
imaginary all-white line.

Tables are transcribed from the published ITU-T T.4 §2.2.2 run-length
alphabets (terminating 0-63, makeup 64-1728 per color, shared extended
makeup 1792-2560).  ``_check_tables`` asserts at import time that every
alphabet is prefix-free and covers exactly the spec run set — the
class of transcription error that silently corrupts decodes.

decode_g4 / encode_g4 round-trip bit-exactly (fuzzed in
tests/test_ccitt.py); lines are represented as changing-element
(transition) arrays, the same structure the spec's b1/b2 definitions
use.
"""

from __future__ import annotations

from .images import ImageDecodeError

import numpy as np

_WHITE_TERM = {
    0: "00110101", 1: "000111", 2: "0111", 3: "1000", 4: "1011",
    5: "1100", 6: "1110", 7: "1111", 8: "10011", 9: "10100",
    10: "00111", 11: "01000", 12: "001000", 13: "000011", 14: "110100",
    15: "110101", 16: "101010", 17: "101011", 18: "0100111",
    19: "0001100", 20: "0001000", 21: "0010111", 22: "0000011",
    23: "0000100", 24: "0101000", 25: "0101011", 26: "0010011",
    27: "0100100", 28: "0011000", 29: "00000010", 30: "00000011",
    31: "00011010", 32: "00011011", 33: "00010010", 34: "00010011",
    35: "00010100", 36: "00010101", 37: "00010110", 38: "00010111",
    39: "00101000", 40: "00101001", 41: "00101010", 42: "00101011",
    43: "00101100", 44: "00101101", 45: "00000100", 46: "00000101",
    47: "00001010", 48: "00001011", 49: "01010010", 50: "01010011",
    51: "01010100", 52: "01010101", 53: "00100100", 54: "00100101",
    55: "01011000", 56: "01011001", 57: "01011010", 58: "01011011",
    59: "01001010", 60: "01001011", 61: "00110010", 62: "00110011",
    63: "00110100",
}
_WHITE_MAKEUP = {
    64: "11011", 128: "10010", 192: "010111", 256: "0110111",
    320: "00110110", 384: "00110111", 448: "01100100", 512: "01100101",
    576: "01101000", 640: "01100111", 704: "011001100",
    768: "011001101", 832: "011010010", 896: "011010011",
    960: "011010100", 1024: "011010101", 1088: "011010110",
    1152: "011010111", 1216: "011011000", 1280: "011011001",
    1344: "011011010", 1408: "011011011", 1472: "010011000",
    1536: "010011001", 1600: "010011010", 1664: "011000",
    1728: "010011011",
}
_BLACK_TERM = {
    0: "0000110111", 1: "010", 2: "11", 3: "10", 4: "011", 5: "0011",
    6: "0010", 7: "00011", 8: "000101", 9: "000100", 10: "0000100",
    11: "0000101", 12: "0000111", 13: "00000100", 14: "00000111",
    15: "000011000", 16: "0000010111", 17: "0000011000",
    18: "0000001000", 19: "00001100111", 20: "00001101000",
    21: "00001101100", 22: "00000110111", 23: "00000101000",
    24: "00000010111", 25: "00000011000", 26: "000011001010",
    27: "000011001011", 28: "000011001100", 29: "000011001101",
    30: "000001101000", 31: "000001101001", 32: "000001101010",
    33: "000001101011", 34: "000011010010", 35: "000011010011",
    36: "000011010100", 37: "000011010101", 38: "000011010110",
    39: "000011010111", 40: "000001101100", 41: "000001101101",
    42: "000011011010", 43: "000011011011", 44: "000001010100",
    45: "000001010101", 46: "000001010110", 47: "000001010111",
    48: "000001100100", 49: "000001100101", 50: "000001010010",
    51: "000001010011", 52: "000000100100", 53: "000000110111",
    54: "000000111000", 55: "000000100111", 56: "000000101000",
    57: "000001011000", 58: "000001011001", 59: "000000101011",
    60: "000000101100", 61: "000001011010", 62: "000001100110",
    63: "000001100111",
}
_BLACK_MAKEUP = {
    64: "0000001111", 128: "000011001000", 192: "000011001001",
    256: "000001011011", 320: "000000110011", 384: "000000110100",
    448: "000000110101", 512: "0000001101100", 576: "0000001101101",
    640: "0000001001010", 704: "0000001001011", 768: "0000001001100",
    832: "0000001001101", 896: "0000001110010", 960: "0000001110011",
    1024: "0000001110100", 1088: "0000001110101", 1152: "0000001110110",
    1216: "0000001110111", 1280: "0000001010010", 1344: "0000001010011",
    1408: "0000001010100", 1472: "0000001010101", 1536: "0000001011010",
    1600: "0000001011011", 1664: "0000001100100", 1728: "0000001100101",
}
_EXT_MAKEUP = {
    1792: "00000001000", 1856: "00000001100", 1920: "00000001101",
    1984: "000000010010", 2048: "000000010011", 2112: "000000010100",
    2176: "000000010101", 2240: "000000010110", 2304: "000000010111",
    2368: "000000011100", 2432: "000000011101", 2496: "000000011110",
    2560: "000000011111",
}

# T.6 coding modes
_MODES = {"1": ("V", 0), "011": ("V", 1), "000011": ("V", 2),
          "0000011": ("V", 3), "010": ("V", -1), "000010": ("V", -2),
          "0000010": ("V", -3), "001": ("H", None), "0001": ("P", None)}


def _check_tables() -> None:
    alphabets = (
        ("white", list({**_WHITE_TERM, **_WHITE_MAKEUP,
                        **_EXT_MAKEUP}.values())),
        ("black", list({**_BLACK_TERM, **_BLACK_MAKEUP,
                        **_EXT_MAKEUP}.values())),
        ("modes", list(_MODES)),
    )
    for name, codes in alphabets:
        assert len(set(codes)) == len(codes), f"{name}: duplicate code"
        for i, a in enumerate(codes):
            for b in codes[i + 1:]:
                assert not b.startswith(a) and not a.startswith(b), \
                    f"{name}: {a} prefixes {b}"
    assert set(_WHITE_TERM) == set(range(64))
    assert set(_BLACK_TERM) == set(range(64))
    assert set(_WHITE_MAKEUP) == set(range(64, 1729, 64))
    assert set(_BLACK_MAKEUP) == set(range(64, 1729, 64))
    assert set(_EXT_MAKEUP) == set(range(1792, 2561, 64))


_check_tables()

_WHITE_DECODE = {v: k for k, v in {**_WHITE_TERM, **_WHITE_MAKEUP,
                                   **_EXT_MAKEUP}.items()}
_BLACK_DECODE = {v: k for k, v in {**_BLACK_TERM, **_BLACK_MAKEUP,
                                   **_EXT_MAKEUP}.items()}
_MAX_CODE_LEN = 14


class _BitReader:
    def __init__(self, data: bytes):
        self.bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8))
        self.pos = 0

    def read_code(self, table: dict, what: str):
        buf = ""
        while len(buf) <= _MAX_CODE_LEN:
            if self.pos >= len(self.bits):
                raise ImageDecodeError(f"G4 stream truncated in {what}")
            buf += "1" if self.bits[self.pos] else "0"
            self.pos += 1
            if buf in table:
                return table[buf]
        raise ImageDecodeError(f"invalid G4 {what} code {buf!r}")


def _read_run(rd: _BitReader, white: bool) -> int:
    """One T.4 run length: zero or more makeup codes then a
    terminating code."""
    table = _WHITE_DECODE if white else _BLACK_DECODE
    total = 0
    while True:
        n = rd.read_code(table, "white run" if white else "black run")
        total += n
        if n < 64:                      # terminating code ends the run
            return total                # (makeups are all >= 64)


def decode_g4(data: bytes, width: int, height: int) -> np.ndarray:
    """T.6 bitstream → (height, width) uint8 array with 0=white,
    1=black."""
    if width <= 0 or height <= 0:
        raise ImageDecodeError("degenerate G4 dimensions")
    rd = _BitReader(data)
    out = np.zeros((height, width), dtype=np.uint8)
    # reference line as changing elements (transition positions);
    # imaginary first line: all white -> no transitions
    ref: list[int] = []
    for y in range(height):
        cur = _decode_2d_line(rd, ref, width)
        _paint_line(out[y], cur, width)
        ref = [t for t in cur if t < width]
    return out


def _decode_2d_line(rd: _BitReader, ref: list, width: int) -> list:
    """Decode one 2-D coded line (T.6 / T.4-2-D share this exactly)
    against the reference line's changing elements."""
    cur: list[int] = []
    a0 = -1
    color = 0                           # 0 white, 1 black
    while a0 < width:
        # b1: first ref transition > a0 changing TO the color opposite
        # the current one (transitions alternate; even = white->black)
        i = 0
        while i < len(ref) and ref[i] <= a0:
            i += 1
        if i % 2 != color:
            i += 1
        b1 = ref[i] if i < len(ref) else width
        b2 = ref[i + 1] if i + 1 < len(ref) else width
        mode, val = rd.read_code(_MODES, "mode")
        if mode == "P":
            a0 = b2                     # color unchanged, no transition
        elif mode == "V":
            a1 = b1 + val
            if a1 < 0 or a1 > width:
                raise ImageDecodeError("2-D vertical mode out of line")
            cur.append(a1)
            a0 = a1
            color ^= 1
        else:                           # H: two explicit runs
            start = max(a0, 0)
            r1 = _read_run(rd, white=color == 0)
            r2 = _read_run(rd, white=color == 1)
            a1 = start + r1
            a2 = a1 + r2
            if a2 > width:
                raise ImageDecodeError("2-D horizontal run overruns")
            cur.append(a1)
            cur.append(a2)
            a0 = a2                     # color unchanged after 2 runs
    return cur


def _paint_line(row, transitions: list, width: int) -> None:
    paint = 0
    prev = 0
    for t in transitions:
        if paint:
            row[prev:t] = 1
        prev = t
        paint ^= 1
    if paint:
        row[prev:width] = 1


def _emit_run(bits: list, n: int, white: bool) -> None:
    """Append one T.4 run (makeup chain + terminating code) — shared by
    the G4 horizontal mode and the MH/G3 line coders."""
    term = _WHITE_TERM if white else _BLACK_TERM
    makeup = {**(_WHITE_MAKEUP if white else _BLACK_MAKEUP),
              **_EXT_MAKEUP}
    while n >= 64:
        # largest makeup <= n that leaves a codable remainder
        m = 2560 if n > 2560 + 63 else n - n % 64
        bits.append(makeup[m])
        n -= m
    bits.append(term[n])


def _transitions(row) -> list:
    """Changing-element positions of one painted line (no trailing
    width entry) — the b/a-element convention every coder here uses."""
    return np.flatnonzero(np.diff(
        np.concatenate(([0], np.asarray(row, dtype=np.int16))))).tolist()


def _encode_2d_line(bits: list, cur: list, ref: list, w: int) -> None:
    """Emit one 2-D coded line (shared by G4 and G3-2-D)."""
    a0 = -1
    color = 0
    while a0 < w:
        # a1: next transition on the coding line after a0 — its parity
        # always matches `color` (every emitted mode keeps the
        # painted-prefix transition count == color)
        j = 0
        while j < len(cur) and cur[j] <= a0:
            j += 1
        a1 = cur[j] if j < len(cur) else w
        i = 0
        while i < len(ref) and ref[i] <= a0:
            i += 1
        if i % 2 != color:
            i += 1
        b1 = ref[i] if i < len(ref) else w
        b2 = ref[i + 1] if i + 1 < len(ref) else w
        if b2 < a1:
            bits.append("0001")                 # pass
            a0 = b2
        elif abs(a1 - b1) <= 3:
            code = {0: "1", 1: "011", 2: "000011", 3: "0000011",
                    -1: "010", -2: "000010", -3: "0000010"}[a1 - b1]
            bits.append(code)                   # vertical
            a0 = a1
            color ^= 1
        else:
            j2 = j + 1
            a2 = cur[j2] if j2 < len(cur) else w
            bits.append("001")                  # horizontal
            start = max(a0, 0)
            _emit_run(bits, a1 - start, white=color == 0)
            _emit_run(bits, a2 - a1, white=color == 1)
            a0 = a2


def encode_g4(img: np.ndarray) -> bytes:
    """(H, W) array (0=white, nonzero=black) → T.6 bitstream."""
    arr = (np.asarray(img) != 0).astype(np.uint8)
    h, w = arr.shape
    bits: list[str] = []
    ref: list[int] = []
    for y in range(h):
        cur = _transitions(arr[y])
        _encode_2d_line(bits, cur, ref, w)
        ref = cur
    s = "".join(bits)
    s += "0" * (-len(s) % 8)
    return bytes(int(s[i:i + 8], 2) for i in range(0, len(s), 8))


# -- T.4 one-dimensional variants (TIFF Compression 2 and 3) -----------------

def _decode_runs_line(rd: _BitReader, width: int, row) -> None:
    """One 1-D MH line: alternating white/black runs to exactly
    ``width`` pixels."""
    pos = 0
    white = True
    while pos < width:
        n = _read_run(rd, white)
        if pos + n > width:
            raise ImageDecodeError("MH run overruns the line")
        if not white:
            row[pos:pos + n] = 1
        pos += n
        white = not white


def decode_mh(data: bytes, width: int, height: int) -> np.ndarray:
    """TIFF Compression=2 (Modified Huffman): 1-D runs, every row
    starts on a byte boundary, no EOL codes.  0=white, 1=black."""
    if width <= 0 or height <= 0:
        raise ImageDecodeError("degenerate MH dimensions")
    rd = _BitReader(data)
    out = np.zeros((height, width), dtype=np.uint8)
    for y in range(height):
        rd.pos = (rd.pos + 7) & ~7          # byte-align each row
        _decode_runs_line(rd, width, out[y])
    return out


_EOL = "000000000001"


def decode_g3_1d(data: bytes, width: int, height: int) -> np.ndarray:
    """TIFF Compression=3 with 1-D coding (T4Options bit 0 clear):
    each line is EOL (with optional fill zeros) + MH runs."""
    if width <= 0 or height <= 0:
        raise ImageDecodeError("degenerate G3 dimensions")
    rd = _BitReader(data)
    out = np.zeros((height, width), dtype=np.uint8)
    for y in range(height):
        _expect_eol(rd)
        _decode_runs_line(rd, width, out[y])
    return out


def _expect_eol(rd: _BitReader) -> None:
    # EOL = 11 zeros + 1; tolerate leading fill zeros
    zeros = 0
    while True:
        if rd.pos >= len(rd.bits):
            raise ImageDecodeError("G3 stream ended looking for EOL")
        bit = rd.bits[rd.pos]
        rd.pos += 1
        if bit:
            if zeros >= 11:
                return
            raise ImageDecodeError("G3: expected EOL")
        zeros += 1


def decode_g3_2d(data: bytes, width: int, height: int) -> np.ndarray:
    """TIFF Compression=3 with 2-D coding (T4Options bit 0 set): each
    line is EOL + a tag bit (1 = 1-D MH line, 0 = 2-D line coded
    against the previous line, same mode alphabet as G4)."""
    if width <= 0 or height <= 0:
        raise ImageDecodeError("degenerate G3 dimensions")
    rd = _BitReader(data)
    out = np.zeros((height, width), dtype=np.uint8)
    ref: list[int] = []
    for y in range(height):
        _expect_eol(rd)
        if rd.pos >= len(rd.bits):
            raise ImageDecodeError("G3-2D stream ended at tag bit")
        tag = rd.bits[rd.pos]
        rd.pos += 1
        if tag:                         # 1-D line
            _decode_runs_line(rd, width, out[y])
            ref = _transitions(out[y])
        else:                           # 2-D line
            cur = _decode_2d_line(rd, ref, width)
            _paint_line(out[y], cur, width)
            ref = [t for t in cur if t < width]
    return out
