"""Minimal deterministic JPEG codec (8-bit, pure numpy) — no imaging
libraries ship in this container, and the reference's directory scan
accepts ``.png/.jpg/.jpeg`` (reference core/processor.py:267,
modules/detection.py:41 loads any ``cv2.imread``-able JPEG), so the
engine needs a real JPEG path for its binaryFile source to be honest.

Scope (documented):

* **Encoder**: baseline DCT (SOF0) with standard Annex-K tables —
  single-component grayscale (``encode_gray_jpeg``) and 3-component
  YCbCr with 4:4:4 / 4:2:2 / 4:2:0 subsampling
  (``encode_color_jpeg``), interleaved scan, JFIF headers.
* **Decoder**: any 1- or 3-component stream, BASELINE (SOF0, with
  restart markers, interleaved or per-component scans) AND
  PROGRESSIVE (SOF2) — full T.81 G.1.2 successive approximation
  (DC/AC first + refinement scans, EOB runs), enough to decode the
  reference's own 05_117.jpg sample page. Sampling factors up to 2x2
  (covers 4:4:4/4:2:2/4:4:0/4:2:0). ``decode_gray_jpeg`` returns the
  Y plane — for JFIF YCbCr that IS the BT.601 luma, which is exactly
  what libjpeg-based grayscale loads (cv2.imread + BGR2GRAY in the
  reference) produce. ``decode_rgb_jpeg`` gives full color.
  Other SOF processes (lossless, arithmetic, 12-bit) raise
  ``UnsupportedJpegError`` — the same explicit gating used for
  audio/video codecs (functions/multimodal.py). Malformed streams
  (undefined Huffman/quant tables, truncated headers, a stream that
  ends inside a scan, scan data that runs out or holds an invalid
  code) raise the same domain error, never bare
  IndexError/TypeError/KeyError.

How decoding works: each Huffman table becomes one cached 16-bit-peek
lookup table held as a Python list, whose entries pack symbol and code
length and, where the magnitude bits fit the peek too, the decoded
coefficient (``_lut``). One loop (``_decode_scans``) decodes every
scan type — baseline, DC/AC first and refinement passes — with each
block's symbols inlined over local variables and a flat Python list of
zigzag coefficients per component, which reaches numpy once for the
IDCT (two matmuls per plane). A gray load skips the scans without
component 0 and, in an interleaved scan, decodes the chroma symbols
only to advance the bitstream.

Everything here is from the public JPEG (ITU-T T.81) spec: the
quantization tables are Annex K.1/K.2, the Huffman tables Annex K.3.
"""

from __future__ import annotations

import struct
from functools import lru_cache

import numpy as np


class UnsupportedJpegError(ValueError):
    pass


# Annex K.1 luminance quantization table (natural row order).
QUANT_LUMA = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int32,
)

# Annex K.2 chrominance quantization table.
QUANT_CHROMA = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.int32,
)


# Zigzag scan order: ZIGZAG[i] = natural index of the i-th zigzag coef.
def _zigzag_order() -> np.ndarray:
    idx = np.arange(64).reshape(8, 8)
    out = []
    for s in range(15):
        diag = [(i, s - i) for i in range(max(0, s - 7), min(8, s + 1))]
        if s % 2 == 0:
            diag.reverse()
        out.extend(idx[i, j] for i, j in diag)
    return np.array(out, dtype=np.int64)


ZIGZAG = _zigzag_order()

# Annex K.3 standard luminance Huffman tables: (bits[1..16], values).
DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_VALS = list(range(12))
AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# Annex K.3 standard chrominance Huffman tables.
DC_BITS_C = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_VALS_C = list(range(12))
AC_BITS_C = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_VALS_C = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
assert sum(AC_BITS_C) == len(AC_VALS_C)

# BT.601 full-range (JFIF) color transform constants.
_YCC_FWD = np.array(
    [
        [0.299, 0.587, 0.114],
        [-0.168735892, -0.331264108, 0.5],
        [0.5, -0.418687589, -0.081312411],
    ]
)


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the T.81 canonical construction."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


@lru_cache(maxsize=32)
def _lut(key: tuple, al: int) -> list[int]:
    """16-bit-peek decode table of one Huffman table ``(bits, vals)``,
    as a Python list: a list index costs far less than a numpy scalar
    load. The entry for peek ``p`` packs ``sym << 8 | length``; 0 marks
    an invalid code. Where the code and the magnitude bits after it fit
    in the peek, the entry also carries the coefficient they decode to,
    already scaled by the scan's ``al``, and counts those bits too:
    ``value << 16 | sym << 8 | (length + size)``. Values are never 0,
    so ``entry >> 16`` tells the two kinds apart."""
    bits, vals = list(key[0]), list(key[1])
    lut = np.zeros(1 << 16, dtype=np.int64)
    peek = np.arange(1 << 16, dtype=np.int64)
    for sym, (code, length) in _canonical_codes(bits, vals).items():
        lo = code << (16 - length)
        hi = lo + (1 << (16 - length))
        size = sym & 15
        lut[lo:hi] = sym << 8 | length
        if size and length + size <= 16:
            mag = (peek[lo:hi] >> (16 - length - size)) & ((1 << size) - 1)
            val = np.where(mag >> (size - 1), mag, mag + 1 - (1 << size)) << al
            lut[lo:hi] = val << 16 | sym << 8 | (length + size)
    shared: dict[int, int] = {}  # one int object per distinct entry
    return [shared.setdefault(e, e) for e in lut.tolist()]


@lru_cache(maxsize=1)
def _dct_matrix() -> np.ndarray:
    k, n = np.mgrid[0:8, 0:8]
    c = np.cos((2 * n + 1) * k * np.pi / 16.0) * np.sqrt(2.0 / 8.0)
    c[0] /= np.sqrt(2.0)
    return c


def _quality_table(quality: int, base: np.ndarray = QUANT_LUMA) -> np.ndarray:
    quality = min(100, max(1, int(quality)))  # IJG convention; 0 is not a scale
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (base * scale + 50) // 100
    return np.clip(q, 1, 255).astype(np.int32)


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)  # byte stuffing
        self.acc &= (1 << self.n) - 1  # trim flushed bits or the int grows quadratically

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec
        return bytes(self.buf)


def _plane_to_zz(plane: np.ndarray, qt: np.ndarray, gh: int, gw: int):
    """float64 plane (already level-shifted candidates as uint8) padded
    to the (gh*8, gw*8) block grid -> (zz[gh*gw, 64], lasts[gh*gw])."""
    ph, pw = gh * 8 - plane.shape[0], gw * 8 - plane.shape[1]
    padded = np.pad(plane, ((0, ph), (0, pw)), mode="edge").astype(np.float64) - 128.0
    blocks = padded.reshape(gh, 8, gw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    c = _dct_matrix()
    coef = np.einsum("ij,njk,lk->nil", c, blocks, c)
    q = np.round(coef / qt).astype(np.int64)
    zz = q.reshape(-1, 64)[:, ZIGZAG]
    # lengths of the trailing zero runs, vectorized (python int loops on
    # numpy scalars made the encoder ~30x slower)
    lasts = (63 - np.argmax(zz[:, :0:-1] != 0, axis=1)) * (zz[:, 1:] != 0).any(axis=1)
    return zz.tolist(), lasts.tolist()


def _write_dc(write, dcv: int, prev_dc: int, dc_codes) -> int:
    diff = dcv - prev_dc
    size = abs(diff).bit_length()
    code, length = dc_codes[size]
    write(code, length)
    if size:
        write(diff if diff > 0 else diff + (1 << size) - 1, size)
    return dcv


def _write_ac_band(write, blk, last, ac_codes) -> None:
    """AC coefficients 1..last with trailing EOB — the sequential AC
    coding, which is also a valid progressive first AC scan (Ss=1,
    Se=63, Al=0: each EOB is an EOB-run of one)."""
    zrl, eob = ac_codes[0xF0], ac_codes[0x00]
    run = 0
    for k in range(1, last + 1):
        v = blk[k]
        if v == 0:
            run += 1
            continue
        while run >= 16:
            write(zrl[0], zrl[1])
            run -= 16
        size = abs(v).bit_length()
        code, length = ac_codes[run * 16 + size]
        write(code, length)
        write(v if v > 0 else v + (1 << size) - 1, size)
        run = 0
    if last < 63:
        write(eob[0], eob[1])


def _write_block(write, blk, last, prev_dc, dc_codes, ac_codes) -> int:
    prev_dc = _write_dc(write, blk[0], prev_dc, dc_codes)
    _write_ac_band(write, blk, last, ac_codes)
    return prev_dc


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">HH", marker, len(payload) + 2) + payload


_JFIF_APP0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"


def encode_gray_jpeg(img: np.ndarray, quality: int = 90) -> bytes:
    """8-bit grayscale -> baseline JFIF bytes (deterministic)."""
    assert img.dtype == np.uint8 and img.ndim == 2
    h, w = img.shape
    qt = _quality_table(quality)
    gh, gw = -(-h // 8), -(-w // 8)
    zz, lasts = _plane_to_zz(img, qt, gh, gw)
    dc_codes = _canonical_codes(DC_BITS, DC_VALS)
    ac_codes = _canonical_codes(AC_BITS, AC_VALS)
    bwr = _BitWriter()
    write = bwr.write
    prev_dc = 0
    for blk, last in zip(zz, lasts):
        prev_dc = _write_block(write, blk, last, prev_dc, dc_codes, ac_codes)
    scan = bwr.flush()

    out = b"\xff\xd8"  # SOI
    out += _seg(0xFFE0, _JFIF_APP0)
    out += _seg(0xFFDB, b"\x00" + bytes(int(x) for x in qt.reshape(-1)[ZIGZAG]))
    out += _seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00")
    out += _seg(0xFFC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))
    out += _seg(0xFFC4, b"\x10" + bytes(AC_BITS) + bytes(AC_VALS))
    out += _seg(0xFFDA, b"\x01\x01\x00\x00\x3f\x00")
    out += scan
    out += b"\xff\xd9"  # EOI
    return out


_SUBSAMPLING = {"444": (1, 1), "422": (2, 1), "440": (1, 2), "420": (2, 2)}


def _box_subsample(plane: np.ndarray, fh: int, fv: int) -> np.ndarray:
    if fh == 1 and fv == 1:
        return plane
    h, w = plane.shape
    padded = np.pad(plane, ((0, -h % fv), (0, -w % fh)), mode="edge")
    return padded.reshape(padded.shape[0] // fv, fv, padded.shape[1] // fh, fh).mean(
        axis=(1, 3)
    )


def encode_color_jpeg(
    rgb: np.ndarray,
    quality: int = 90,
    subsampling: str = "420",
    progressive: bool = False,
) -> bytes:
    """8-bit RGB (h, w, 3) -> 3-component YCbCr JFIF bytes with
    Annex-K luma/chroma tables, deterministic.
    ``subsampling``: "444", "422", "440", or "420".
    ``progressive=True`` writes SOF2 spectral-selection form (one
    interleaved DC scan + one AC scan per component) instead of the
    baseline interleaved scan — the multi-scan shape real web-optimized
    JPEGs use, exercising the progressive decode path."""
    assert rgb.dtype == np.uint8 and rgb.ndim == 3 and rgb.shape[2] == 3
    fh, fv = _SUBSAMPLING[subsampling]
    h, w = rgb.shape[:2]
    qty = _quality_table(quality, QUANT_LUMA)
    qtc = _quality_table(quality, QUANT_CHROMA)

    f = rgb.astype(np.float64)
    y = f @ _YCC_FWD[0]
    cb = f @ _YCC_FWD[1] + 128.0
    cr = f @ _YCC_FWD[2] + 128.0

    mcux, mcuy = -(-w // (8 * fh)), -(-h // (8 * fv))
    zz_y, last_y = _plane_to_zz(y, qty, mcuy * fv, mcux * fh)
    zz_cb, last_cb = _plane_to_zz(_box_subsample(cb, fh, fv), qtc, mcuy, mcux)
    zz_cr, last_cr = _plane_to_zz(_box_subsample(cr, fh, fv), qtc, mcuy, mcux)

    dc_y = _canonical_codes(DC_BITS, DC_VALS)
    ac_y = _canonical_codes(AC_BITS, AC_VALS)
    dc_c = _canonical_codes(DC_BITS_C, DC_VALS_C)
    ac_c = _canonical_codes(AC_BITS_C, AC_VALS_C)
    gw_y = mcux * fh

    out = b"\xff\xd8"
    out += _seg(0xFFE0, _JFIF_APP0)
    out += _seg(0xFFDB, b"\x00" + bytes(int(x) for x in qty.reshape(-1)[ZIGZAG]))
    out += _seg(0xFFDB, b"\x01" + bytes(int(x) for x in qtc.reshape(-1)[ZIGZAG]))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    sof += bytes([1, (fh << 4) | fv, 0, 2, 0x11, 1, 3, 0x11, 1])
    out += _seg(0xFFC2 if progressive else 0xFFC0, sof)
    out += _seg(0xFFC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))
    out += _seg(0xFFC4, b"\x10" + bytes(AC_BITS) + bytes(AC_VALS))
    out += _seg(0xFFC4, b"\x01" + bytes(DC_BITS_C) + bytes(DC_VALS_C))
    out += _seg(0xFFC4, b"\x11" + bytes(AC_BITS_C) + bytes(AC_VALS_C))

    if not progressive:
        bwr = _BitWriter()
        write = bwr.write
        prev = [0, 0, 0]
        for my in range(mcuy):
            for mx in range(mcux):
                for by in range(fv):
                    for bx in range(fh):
                        i = (my * fv + by) * gw_y + (mx * fh + bx)
                        prev[0] = _write_block(
                            write, zz_y[i], last_y[i], prev[0], dc_y, ac_y
                        )
                i = my * mcux + mx
                prev[1] = _write_block(write, zz_cb[i], last_cb[i], prev[1], dc_c, ac_c)
                prev[2] = _write_block(write, zz_cr[i], last_cr[i], prev[2], dc_c, ac_c)
        out += _seg(0xFFDA, b"\x03\x01\x00\x02\x11\x03\x11\x00\x3f\x00")
        out += bwr.flush()
        out += b"\xff\xd9"
        return out

    # Progressive spectral selection: interleaved DC scan, then one
    # full-band AC scan per component in non-interleaved block order.
    bwr = _BitWriter()
    write = bwr.write
    prev = [0, 0, 0]
    for my in range(mcuy):
        for mx in range(mcux):
            for by in range(fv):
                for bx in range(fh):
                    i = (my * fv + by) * gw_y + (mx * fh + bx)
                    prev[0] = _write_dc(write, zz_y[i][0], prev[0], dc_y)
            i = my * mcux + mx
            prev[1] = _write_dc(write, zz_cb[i][0], prev[1], dc_c)
            prev[2] = _write_dc(write, zz_cr[i][0], prev[2], dc_c)
    out += _seg(0xFFDA, b"\x03\x01\x00\x02\x11\x03\x11\x00\x00\x00")
    out += bwr.flush()

    ceil = lambda a, b: -(-a // b)
    ch_h, ch_w = ceil(ceil(h, fv), 8), ceil(ceil(w, fh), 8)
    ac_scans = [
        (1, zz_y, last_y, ac_y, ceil(h, 8), ceil(w, 8), gw_y, 0x00),
        (2, zz_cb, last_cb, ac_c, ch_h, ch_w, mcux, 0x11),
        (3, zz_cr, last_cr, ac_c, ch_h, ch_w, mcux, 0x11),
    ]
    for cid, zzp, lastp, ac_codes, nh, nw, stride, td_ta in ac_scans:
        bwr = _BitWriter()
        write = bwr.write
        for gy in range(nh):
            for gx in range(nw):
                i = gy * stride + gx
                _write_ac_band(write, zzp[i], lastp[i], ac_codes)
        out += _seg(0xFFDA, bytes([1, cid, td_ta, 1, 63, 0]))
        out += bwr.flush()
    out += b"\xff\xd9"
    return out


def _window(seg: bytes) -> tuple[list[int], int]:
    """Entropy-coded segment -> (32-bit big-endian window at every byte
    of the un-stuffed data, its bit count). Four zero bytes pad the
    tail, so a peek near the end stays in range."""
    data = seg.replace(b"\xff\x00", b"\xff")
    a = np.frombuffer(data + b"\x00\x00\x00\x00", dtype=np.uint8).astype(np.uint32)
    win = ((a[:-3] << 24) | (a[1:-2] << 16) | (a[2:-1] << 8) | a[3:]).tolist()
    return win, len(data) * 8


def _entropy_segments(b: bytes, start: int) -> tuple[list[bytes], int]:
    """Entropy-coded data from ``start`` to the next non-RST marker,
    split at restart markers; returns (segments, index of the marker).
    A stream that ends first is truncated."""
    segments: list[bytes] = []
    seg_begin = j = start
    while True:
        j = b.find(b"\xff", j)
        if j < 0 or j + 1 >= len(b):
            raise UnsupportedJpegError("stream ends inside a scan (truncated)")
        nxt = b[j + 1]
        if nxt == 0x00:
            j += 2
            continue
        segments.append(b[seg_begin:j])
        if 0xD0 <= nxt <= 0xD7:  # RSTn
            j += 2
            seg_begin = j
            continue
        return segments, j


def _parse_jpeg(b: bytes):
    """Walk all segments; returns (sof_marker, h, w, components, scans).

    ``components``: list of dicts {id, h, v, qt} in SOF order.
    Each scan is (ss, se, ah, al, scomps, restart, entropy_segments)
    where ``scomps`` is [(comp_index, dc_tbl|None, ac_tbl|None)] with
    the Huffman-table state at that point (progressive files redefine
    DHT between scans)."""
    try:
        return _parse_jpeg_inner(b)
    except (struct.error, IndexError) as e:
        # truncated segment/header reads stay inside the documented
        # UnsupportedJpegError gating contract
        raise UnsupportedJpegError(f"truncated or malformed JPEG stream: {e}") from e


def _parse_jpeg_inner(b: bytes):
    if b[:2] != b"\xff\xd8":
        raise UnsupportedJpegError("not a JPEG (no SOI)")
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], tuple] = {}
    sof_marker = None
    h = w = 0
    components: list[dict] = []
    restart_interval = 0
    scans = []
    i = 2
    while i < len(b) - 1:
        if b[i] != 0xFF:
            raise UnsupportedJpegError(f"bad marker sync at {i}")
        marker = b[i + 1]
        if marker == 0xFF:  # fill byte before a marker (T.81 B.1.1.2)
            i += 1
            continue
        if marker == 0xD9:
            break
        if 0xD0 <= marker <= 0xD7 or marker == 0x01:
            i += 2
            continue
        ln = struct.unpack(">H", b[i + 2 : i + 4])[0]
        payload = b[i + 4 : i + 2 + ln]
        if marker == 0xDB:
            j = 0
            while j < len(payload):
                pq, tq = payload[j] >> 4, payload[j] & 15
                if pq != 0:
                    raise UnsupportedJpegError("16-bit quant tables unsupported")
                if j + 65 > len(payload):
                    raise UnsupportedJpegError("truncated quantization table")
                tbl = np.zeros(64, dtype=np.int32)
                tbl[ZIGZAG] = np.frombuffer(payload[j + 1 : j + 65], dtype=np.uint8)
                qtables[tq] = tbl.reshape(8, 8)
                j += 65
        elif marker in (0xC0, 0xC2):
            sof_marker = marker
            if len(payload) < 6:
                raise UnsupportedJpegError("truncated SOF header")
            prec, h, w, ncomp = struct.unpack(">BHHB", payload[:6])
            if prec != 8:
                raise UnsupportedJpegError(f"{prec}-bit precision unsupported")
            if ncomp not in (1, 3):
                raise UnsupportedJpegError(
                    f"{ncomp}-component JPEG unsupported (grayscale or YCbCr)"
                )
            if len(payload) < 6 + 3 * ncomp:
                raise UnsupportedJpegError("truncated SOF component list")
            components = []
            for k in range(ncomp):
                cid = payload[6 + 3 * k]
                hv = payload[7 + 3 * k]
                ch, cv = hv >> 4, hv & 15
                if not (1 <= ch <= 2 and 1 <= cv <= 2):
                    raise UnsupportedJpegError(
                        f"sampling factors {ch}x{cv} beyond 2x2 unsupported"
                    )
                components.append(
                    {"id": cid, "h": ch, "v": cv, "tq": payload[8 + 3 * k]}
                )
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise UnsupportedJpegError(
                f"unsupported SOF marker {marker:02x} (baseline SOF0 and "
                "progressive SOF2 are implemented)"
            )
        elif marker == 0xC4:
            j = 0
            while j < len(payload):
                tc, th = payload[j] >> 4, payload[j] & 15
                bits = tuple(payload[j + 1 : j + 17])
                nvals = sum(bits)
                htables[(tc, th)] = (bits, tuple(payload[j + 17 : j + 17 + nvals]))
                j += 17 + nvals
        elif marker == 0xDD:
            restart_interval = struct.unpack(">H", payload[:2])[0]
        elif marker == 0xDA:
            if not components:
                raise UnsupportedJpegError("SOS before SOF")
            ns = payload[0]
            scomps = []
            for k in range(ns):
                cs, tdta = payload[1 + 2 * k], payload[2 + 2 * k]
                ci = next(
                    (x for x, c in enumerate(components) if c["id"] == cs), None
                )
                if ci is None:
                    raise UnsupportedJpegError(f"scan references unknown component {cs}")
                scomps.append(
                    (ci, htables.get((0, tdta >> 4)), htables.get((1, tdta & 15)))
                )
            ss, se = payload[1 + 2 * ns], payload[2 + 2 * ns]
            ahal = payload[3 + 2 * ns]
            segs, nxt = _entropy_segments(b, i + 2 + ln)
            scans.append(
                (ss, se, ahal >> 4, ahal & 15, scomps, restart_interval, segs)
            )
            i = nxt
            continue
        i += 2 + ln
    if sof_marker is None or not scans:
        raise UnsupportedJpegError("no SOF/scan found")
    for c in components:
        if c["tq"] not in qtables:
            raise UnsupportedJpegError(f"component references undefined quant table {c['tq']}")
        c["qt"] = qtables[c["tq"]]
    return sof_marker, h, w, components, scans


def _geometry(h: int, w: int, components: list[dict]) -> tuple[int, int]:
    """Annotate components with block-grid dims; returns (mcux, mcuy).

    gw/gh: the component's block grid sized to whole MCUs (storage);
    nw/nh: its non-interleaved block dims (T.81 A.2.2) — what a
    single-component scan actually codes."""
    hmax = max(c["h"] for c in components)
    vmax = max(c["v"] for c in components)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    for c in components:
        c["gw"], c["gh"] = mcux * c["h"], mcuy * c["v"]
        c["pw"] = -(-(w * c["h"]) // hmax)
        c["ph"] = -(-(h * c["v"]) // vmax)
        c["nw"], c["nh"] = -(-c["pw"] // 8), -(-c["ph"] // 8)
        c["fx"], c["fy"] = hmax // c["h"], vmax // c["v"]
    return mcux, mcuy


def _require_tables(scomps, need_dc: bool, need_ac: bool, al: int):
    """[(component index, DC LUT, AC LUT)] for one scan; a table the
    scan does not use is None."""
    out = []
    for ci, dck, ack in scomps:
        if need_dc and dck is None:
            raise UnsupportedJpegError("scan references undefined DC Huffman table")
        if need_ac and ack is None:
            raise UnsupportedJpegError("scan references undefined AC Huffman table")
        if need_dc and max(dck[1], default=0) > 15:
            raise UnsupportedJpegError("DC Huffman table holds a size above 15")
        out.append((ci, _lut(dck, al) if need_dc else None, _lut(ack, al) if need_ac else None))
    return out


def _block_order(scomps, components, mcux: int, mcuy: int, keep: int):
    """One scan's blocks in coding order as (scan component, base)
    pairs, base being the block's offset in its component's flat
    coefficient list (0 for a component not kept); returns (blocks,
    blocks per MCU). A single-component scan codes the component's
    own nh x nw blocks (T.81 A.2.2), an interleaved one whole MCUs."""
    if len(scomps) == 1:
        c = components[scomps[0][0]]
        gw = c["gw"]
        return [(0, (gy * gw + gx) * 64) for gy in range(c["nh"]) for gx in range(c["nw"])], 1
    units = []
    for si, (ci, _, _) in enumerate(scomps):
        c = components[ci]
        units += [(si, ci, c, by, bx) for by in range(c["v"]) for bx in range(c["h"])]
    blocks = [
        (si, ((my * c["v"] + by) * c["gw"] + mx * c["h"] + bx) * 64 if ci < keep else 0)
        for my in range(mcuy)
        for mx in range(mcux)
        for si, ci, c, by, bx in units
    ]
    return blocks, len(units)


def _decode_scans(scans, components, mcux: int, mcuy: int, keep: int) -> list[list[int]]:
    """Entropy-decode every scan into one flat list of zigzag-order
    coefficients per kept component (the first ``keep``), 64 per block
    of its gh x gw grid.

    One loop serves every scan type: a baseline scan is a first pass
    over band 0..63 at Al 0; progressive scans follow T.81 G.1.2 (DC
    and AC first passes, refinement passes with one correction bit per
    already-nonzero coefficient, EOB runs), as libjpeg decodes them.
    A block's symbols are decoded inline over local variables, with no
    call per block or symbol: per-call overhead dominated the decode.
    An interleaved scan still decodes the symbols of components not
    kept, into a scratch block, to advance the bitstream."""
    zz = [[0] * (64 * c["gh"] * c["gw"]) for c in components[:keep]]
    scratch = [0] * 80  # a block plus the longest run past its end
    for ss, se, ah, al, scomps, restart, segments in scans:
        if ss and len(scomps) > 1:
            # T.81 G.1: progressive AC scans are single-component; an
            # interleaved one must be rejected, not decoded as if it
            # were scomps[0]'s non-interleaved block order.
            raise UnsupportedJpegError("interleaved AC scan in progressive stream")
        if se > 63 or ss > se:
            raise UnsupportedJpegError(f"malformed scan band {ss}..{se}")
        tabs = _require_tables(scomps, not ss and not ah, se > 0, al)
        units = [(zz[ci] if ci < keep else scratch, dc, ac) for ci, dc, ac in tabs]
        blocks, per_mcu = _block_order(scomps, components, mcux, mcuy, keep)
        step = restart * per_mcu or len(blocks)
        if len(segments) * step < len(blocks):
            raise UnsupportedJpegError("scan data ends before its last block")
        p1, m1 = 1 << al, -1 << al
        for start, seg in zip(range(0, len(blocks), step), segments):
            win, nbits = _window(seg)
            pos = eobrun = 0
            pred = [0] * len(units)
            for si, base in blocks[start : start + step]:
                out, dct, act = units[si]
                if not ss:
                    if ah:  # DC refinement: one bit
                        if (win[pos >> 3] >> (31 - (pos & 7))) & 1:
                            out[base] |= p1
                        pos += 1
                    else:
                        e = dct[(win[pos >> 3] >> (16 - (pos & 7))) & 0xFFFF]
                        pos += e & 31
                        v = e >> 16
                        if not v:
                            s = (e >> 8) & 15
                            if s:
                                v = (win[pos >> 3] >> (32 - (pos & 7) - s)) & ((1 << s) - 1)
                                pos += s
                                v = (v if v >> (s - 1) else v + 1 - (1 << s)) << al
                            elif not e:
                                raise UnsupportedJpegError("invalid Huffman code in scan data")
                        pred[si] += v
                        out[base] = pred[si]
                    if not se:
                        continue
                if ah:  # AC refinement
                    k = ss
                    if not eobrun:
                        while k <= se:
                            e = act[(win[pos >> 3] >> (16 - (pos & 7))) & 0xFFFF]
                            pos += e & 31
                            r = (e >> 12) & 15
                            s = (e >> 8) & 15
                            if s == 1:  # a new coefficient of +-p1
                                v = e >> 16
                                if not v:  # a 16-bit code: its sign bit is past the peek
                                    v = p1 if (win[pos >> 3] >> (31 - (pos & 7))) & 1 else m1
                                    pos += 1
                            elif s or not e:
                                raise UnsupportedJpegError("invalid Huffman code in refinement scan")
                            elif r < 15:  # EOBr: this block and 2^r + bits - 1 more
                                eobrun = 1 << r
                                if r:
                                    eobrun += (win[pos >> 3] >> (32 - (pos & 7) - r)) & ((1 << r) - 1)
                                    pos += r
                                break
                            else:  # ZRL: pass 16 zero-history coefficients
                                v = 0
                            while k <= se:
                                c = out[base + k]
                                if c:
                                    if (win[pos >> 3] >> (31 - (pos & 7))) & 1 and not c & p1:
                                        out[base + k] = c + (p1 if c >= 0 else m1)
                                    pos += 1
                                elif r:
                                    r -= 1
                                else:
                                    break
                                k += 1
                            if v and k <= se:
                                out[base + k] = v
                            k += 1
                    if eobrun:
                        while k <= se:
                            c = out[base + k]
                            if c:
                                if (win[pos >> 3] >> (31 - (pos & 7))) & 1 and not c & p1:
                                    out[base + k] = c + (p1 if c >= 0 else m1)
                                pos += 1
                            k += 1
                        eobrun -= 1
                elif eobrun:  # inside an AC first pass's EOB run
                    eobrun -= 1
                else:  # AC first pass; k indexes ``out`` directly
                    k, end = base + (ss or 1), base + se
                    while k <= end:
                        e = act[(win[pos >> 3] >> (16 - (pos & 7))) & 0xFFFF]
                        pos += e & 31
                        v = e >> 16
                        if v:
                            k += (e >> 12) & 15
                            out[k] = v
                            k += 1
                            continue
                        s = (e >> 8) & 15
                        r = e >> 12
                        if s:
                            k += r
                            v = (win[pos >> 3] >> (32 - (pos & 7) - s)) & ((1 << s) - 1)
                            pos += s
                            out[k] = (v if v >> (s - 1) else v + 1 - (1 << s)) << al
                            k += 1
                        elif r == 15:  # ZRL
                            k = min(k + 16, end + 1)
                        elif e:  # EOBr: this block and 2^r + bits - 1 more
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += (win[pos >> 3] >> (32 - (pos & 7) - r)) & ((1 << r) - 1)
                                pos += r
                            break
                        else:
                            raise UnsupportedJpegError("invalid Huffman code in scan data")
                    if k > end + 1:
                        raise UnsupportedJpegError("AC run overflows block")
            if pos > nbits:
                raise UnsupportedJpegError("entropy-coded segment ends mid-block (truncated)")
    return zz


_UNZIGZAG = np.argsort(ZIGZAG)


def _idct_plane(zzc: list[int], c: dict) -> np.ndarray:
    """Component zigzag coefficients (flat, 64 per block of the gh x gw
    grid) -> uint8 plane cropped to the component's pixel dims (ph, pw)."""
    coef = np.fromiter(zzc, dtype=np.int64, count=len(zzc)).reshape(-1, 64)[:, _UNZIGZAG]
    coef = (coef * c["qt"].reshape(64)).astype(np.float64).reshape(-1, 8, 8)
    m = _dct_matrix()
    pix = m.T @ coef @ m + 128.0
    img = (
        pix.reshape(c["gh"], c["gw"], 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(c["gh"] * 8, c["gw"] * 8)
    )
    return np.clip(np.round(img), 0, 255).astype(np.uint8)[: c["ph"], : c["pw"]]


def _decode_planes(b: bytes, want: str):
    sof_marker, h, w, components, scans = _parse_jpeg(b)
    mcux, mcuy = _geometry(h, w, components)
    keep = 1 if want == "luma" else len(components)
    if sof_marker == 0xC0:  # a baseline scan codes whole blocks
        scans = [(0, 63, 0, 0, *scan[4:]) for scan in scans]
    elif any(ss == 0 and se != 0 for ss, se, *_ in scans):
        raise UnsupportedJpegError("malformed progressive scan (DC scan must have Se=0)")
    # A luma load skips the scans that carry only chroma.
    scans = [scan for scan in scans if any(ci < keep for ci, _, _ in scan[4])]
    try:
        zz = _decode_scans(scans, components, mcux, mcuy, keep)
    except IndexError as e:  # read or wrote past the data: truncated or corrupt
        raise UnsupportedJpegError(f"corrupt entropy-coded data: {e}") from e
    planes = {i: _idct_plane(zz[i], components[i]) for i in range(keep)}
    return h, w, components, planes


def _upsample(plane: np.ndarray, c: dict, h: int, w: int) -> np.ndarray:
    if c["fx"] > 1:
        plane = np.repeat(plane, c["fx"], axis=1)
    if c["fy"] > 1:
        plane = np.repeat(plane, c["fy"], axis=0)
    return plane[:h, :w]


def decode_gray_jpeg(b: bytes) -> np.ndarray:
    """JPEG bytes -> uint8 (h, w) luma. For 3-component JFIF streams
    this is the Y plane — the BT.601 luma, matching what a
    libjpeg-grayscale load (the reference's cv2.imread + BGR2GRAY,
    modules/detection.py:41) produces. Baseline (SOF0) and progressive
    (SOF2), 1- or 3-component; other processes raise
    UnsupportedJpegError."""
    h, w, components, planes = _decode_planes(b, "luma")
    return _upsample(planes[0], components[0], h, w)


def decode_rgb_jpeg(b: bytes) -> np.ndarray:
    """JPEG bytes -> uint8 (h, w, 3) RGB (BT.601 full-range inverse
    transform, nearest-neighbor chroma upsampling). Grayscale streams
    are replicated across channels."""
    h, w, components, planes = _decode_planes(b, "all")
    if len(components) == 1:
        g = _upsample(planes[0], components[0], h, w)
        return np.stack([g, g, g], axis=-1)
    y = _upsample(planes[0], components[0], h, w).astype(np.float64)
    cb = _upsample(planes[1], components[1], h, w).astype(np.float64) - 128.0
    cr = _upsample(planes[2], components[2], h, w).astype(np.float64) - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136286 * cb - 0.714136286 * cr
    bch = y + 1.772 * cb
    return np.clip(np.round(np.stack([r, g, bch], axis=-1)), 0, 255).astype(np.uint8)
