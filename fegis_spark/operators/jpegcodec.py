"""Baseline + progressive JPEG codec, dependency-free (numpy + stdlib).

Closes the compressed-image SWAP POINTs that need no external library:
r9 landed JPEG *header* parsing (multimodal.parse_jpeg_header); r10
added baseline 4:4:4 decode/encode; r11 adds PROGRESSIVE (SOF2)
decode AND chroma subsampling (4:2:0/4:2:2) on both paths — together
the majority profiles of real crawl JPEGs — and both encoders emit
every sampling, so every scan/MCU shape is self-certifying in this
container. The decoder
is a multi-scan coefficient-domain machine (ITU-T T.81 Annex F + G):
entropy-coded Huffman data accumulates into per-component coefficient
arrays across scans (spectral selection Ss..Se, successive
approximation Ah/Al with DC/AC first + refinement passes, EOB runs),
then one dequantize + 8x8 inverse DCT + YCbCr→RGB pass. Profile kept
deliberately narrow and REJECTED LOUDLY outside it (the
decode-wrong-is-worse-than-fail rule):

  * baseline sequential DCT (SOF0) or progressive DCT (SOF2), 8-bit
  * 1 (grayscale) or 3 (YCbCr) components; sampling factors 1 or 2 —
    4:4:4, 4:2:0 and 4:2:2 decode on BOTH the baseline and the
    progressive path (r11; interleaved MCUs, replication chroma
    upsample; progressive AC scans walk each component's own
    block raster per T.81 A.2.2)
  * restart intervals (DRI/RSTn) decoded on BOTH paths (r11:
    byte-align + marker check + DC-predictor reset per interval;
    progressive scans additionally reset their EOB runs)
  * no APPn dependence (skipped), no arithmetic coding, no
    hierarchical (SOF5+)

The encoders exist so the codec is self-certifying in this container
(no PIL to produce test payloads): standard Annex K quantization and
Huffman tables, quality-scaled per the IJG recipe. Both take the same
arguments (quality, restart_interval, y_samp = gray/4:4:4 (1, 1),
4:2:0 (2, 2) or 4:2:2 (2, 1)) and share one forward path (_forward),
one block layout (_mcu_walk for interleaved scans, _comp_raster for
a component's own raster — the decoder walks the same two) and one
restart-interval writer (_entropy_scan). encode_jpeg emits SOF0 with
one interleaved scan; encode_jpeg_progressive emits SOF2 with a
2-level successive approximation script (DC first Al=1 →
per-component AC first Al=1 → DC refine → per-component AC refine),
which exercises every scan type the decoder implements — and because
the refinement passes reach Al=0, progressive and baseline encodings
of the SAME image decode to BIT-IDENTICAL pixels (same quantized
coefficients), which is the strongest cross-check available without
an independent decoder.
JPEG is lossy, so tests assert PSNR bounds and BIT-EXACT determinism
(pure integer/float64 numpy, no RNG), not pixel equality;
decode(encode(x)) is a pure function of x, which is what the media
fixture oracles need.

Reference: ITU-T T.81 (1992) Annex F (sequential DCT), Annex G
(progressive DCT: G.1.2 encode, G.2 decode control), Annex K (example
tables); the zigzag/huffman layout follows the spec text. The AC
refinement correction-bit buffering follows the spec's G.1.2.3 model
(the same algorithm the IJG encoder implements).
"""

from __future__ import annotations

import struct
from typing import NamedTuple

import numpy as np

# --- Annex K quantization tables (luminance, chrominance) -----------

QTBL_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64).reshape(8, 8)

QTBL_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64).reshape(8, 8)

#: zigzag order: ZIGZAG[k] = (row, col) of the k-th coefficient
ZIGZAG = [
    (0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3), (1, 2),
    (2, 1), (3, 0), (4, 0), (3, 1), (2, 2), (1, 3), (0, 4), (0, 5),
    (1, 4), (2, 3), (3, 2), (4, 1), (5, 0), (6, 0), (5, 1), (4, 2),
    (3, 3), (2, 4), (1, 5), (0, 6), (0, 7), (1, 6), (2, 5), (3, 4),
    (4, 3), (5, 2), (6, 1), (7, 0), (7, 1), (6, 2), (5, 3), (4, 4),
    (3, 5), (2, 6), (1, 7), (2, 7), (3, 6), (4, 5), (5, 4), (6, 3),
    (7, 2), (7, 3), (6, 4), (5, 5), (4, 6), (3, 7), (4, 7), (5, 6),
    (6, 5), (7, 4), (7, 5), (6, 6), (5, 7), (6, 7), (7, 6), (7, 7),
]

# --- Annex K Huffman tables: (bits[1..16], huffval) ------------------

HUFF_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
HUFF_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
HUFF_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
HUFF_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)


#: universal AC table for the PROGRESSIVE encoder: the Annex K AC
#: tables are sequential-mode tables and lack the EOBn symbols
#: (0x10..0xE0) progressive end-of-band runs need, so progressive
#: scans carry their own DHT — every (run, size) symbol with size<=10
#: plus all EOBn/ZRL codes, canonically assigned at a flat 8 bits
#: (176 codes in a 256-slot space; the all-ones code stays reserved).
HUFF_AC_UNIVERSAL = (
    [0, 0, 0, 0, 0, 0, 0, 176, 0, 0, 0, 0, 0, 0, 0, 0],
    sorted((run << 4) | cat for run in range(16) for cat in range(11)),
)


def _huff_codes(bits: list[int], huffval: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) per T.81 Annex C code assignment."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[huffval[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_decode_table(bits: list[int], huffval: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) → symbol, for the bit-at-a-time decoder."""
    return {(l, c): s for s, (c, l) in _huff_codes(bits, huffval).items()}


#: orthonormal 8-point DCT-II matrix (float64): block_dct = D @ b @ D.T
_D = np.array(
    [
        [
            (np.sqrt(1.0 / 8) if u == 0 else np.sqrt(2.0 / 8))
            * np.cos((2 * x + 1) * u * np.pi / 16)
            for x in range(8)
        ]
        for u in range(8)
    ],
    dtype=np.float64,
)


def _quality_scale(q: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling of a base table, clamped to [1, 255]."""
    quality = max(1, min(100, quality))
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((q * s + 50) // 100, 1, 255).astype(np.int64)


def _rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r = rgb[..., 0].astype(np.float64)
    g = rgb[..., 1].astype(np.float64)
    b = rgb[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y = ycc[..., 0]
    cb = ycc[..., 1] - 128.0
    cr = ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            byte = (self._acc >> (self._n - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self._n -= 8
            self._acc &= (1 << self._n) - 1

    def flush(self) -> None:
        if self._n:
            pad = 8 - self._n
            self.write((1 << pad) - 1, pad)  # 1-fill per spec


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self._acc = 0
        self._n = 0

    def read_bit(self) -> int:
        if self._n == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG scan truncated")
            byte = self.data[self.pos]
            self.pos += 1
            if byte == 0xFF:
                if self.pos >= len(self.data):
                    raise ValueError("JPEG scan truncated at marker")
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    raise ValueError(f"unexpected marker 0xFF{nxt:02X} in scan")
            self._acc = byte
            self._n = 8
        self._n -= 1
        return (self._acc >> self._n) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def restart(self, n: int) -> None:
        """Consume an RSTn marker at an MCU restart boundary (r11):
        discard the pad bits of the current byte, skip any unconsumed
        pad byte(s), then require FF D(n). The caller resets its DC
        predictors."""
        self._acc = 0
        self._n = 0
        # a 1-fill pad byte (possibly FF 00 stuffed) may sit unread
        # before the marker when the previous MCU ended byte-aligned
        while self.pos + 1 < len(self.data) and not (
            self.data[self.pos] == 0xFF
            and 0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            self.pos += 1
        if (
            self.pos + 2 > len(self.data)
            or self.data[self.pos + 1] != 0xD0 + n
        ):
            raise ValueError("missing or out-of-sequence JPEG restart marker")
        self.pos += 2


def _magnitude_cat(v: int) -> tuple[int, int]:
    """(category, appended-bits value) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    a = abs(v)
    cat = a.bit_length()
    bits = v if v > 0 else v + (1 << cat) - 1
    return cat, bits


def _extend(bits: int, cat: int) -> int:
    """Inverse of _magnitude_cat (T.81 F.2.2.1 EXTEND)."""
    if cat == 0:
        return 0
    if bits < (1 << (cat - 1)):
        return bits - (1 << cat) + 1
    return bits


def _comp_dims(h: int, w: int, samp: list[tuple[int, int]], ci: int) -> tuple[int, int]:
    """The component's own (height, width): the frame scaled by its
    sampling factors relative to the largest (T.81 A.1.1)."""
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    hi, vi = samp[ci]
    return (h * vi + vmax - 1) // vmax, (w * hi + hmax - 1) // hmax


def _mcu_walk(
    comps: list[int],
    samp: list[tuple[int, int]],
    grids: list[tuple[int, int]],
    mcuy: int,
    mcux: int,
) -> list[list[tuple[int, int]]]:
    """Interleaved scan order (T.81 A.2.3): MCUs in raster order, each
    MCU the hi x vi data units of every scan component in turn,
    row-major. Items are (position in ``comps``, block index in that
    component's MCU-padded grid); all-1x1 sampling reduces to the flat
    block raster."""
    units = []
    for my in range(mcuy):
        for mx in range(mcux):
            mcu = []
            for si, ci in enumerate(comps):
                hi, vi = samp[ci]
                gx = grids[ci][1]
                for v in range(vi):
                    for hh in range(hi):
                        mcu.append((si, (my * vi + v) * gx + mx * hi + hh))
            units.append(mcu)
    return units


def _comp_raster(
    h: int, w: int, samp: list[tuple[int, int]], grids: list[tuple[int, int]], ci: int
) -> list[int]:
    """Non-interleaved scan order (T.81 A.2.2): the component's OWN
    block raster, ceil(component dims / 8), as indices into its
    MCU-padded grid — the padded grid's extra blocks are skipped."""
    ch, cw = _comp_dims(h, w, samp, ci)
    gx = grids[ci][1]
    return [by * gx + bx for by in range((ch + 7) // 8) for bx in range((cw + 7) // 8)]


def _quantize_plane(plane: np.ndarray, q: np.ndarray, bh: int, bw: int) -> list[list[int]]:
    """One component plane → (bh*bw) blocks of 64 zigzag-ordered
    quantized DCT coefficients, edge-replicate padded out to the
    block grid (a subsampled MCU grid can extend whole blocks past
    the plane)."""
    h, w = plane.shape
    padded = np.pad(
        plane.astype(np.float64),
        ((0, bh * 8 - h), (0, bw * 8 - w)),
        mode="edge",
    )
    out = []
    for by in range(bh):
        for bx in range(bw):
            block = padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
            coeffs = _D @ (block - 128.0) @ _D.T
            # round half away from zero (deterministic, symmetric)
            quant = np.sign(coeffs) * np.floor(np.abs(coeffs) / q + 0.5)
            out.append([int(quant[r, c]) for r, c in ZIGZAG])
    return out


def _downsample(plane: np.ndarray, fy: int, fx: int) -> np.ndarray:
    """fy x fx mean downsample with edge-replicate padding — the chroma
    reduction of subsampled frames (float64, deterministic; 1x1 is
    the identity)."""
    h, w = plane.shape
    if h % fy:
        plane = np.vstack([plane] + [plane[-1:]] * (fy - h % fy))
    if w % fx:
        plane = np.hstack([plane] + [plane[:, -1:]] * (fx - w % fx))
    acc = np.zeros((plane.shape[0] // fy, plane.shape[1] // fx))
    for dy in range(fy):
        for dx in range(fx):
            acc += plane[dy::fy, dx::fx]
    return acc / (fy * fx)


class _Frame(NamedTuple):
    """An encoder's quantized frame: per-component sampling, quant
    table ids and MCU-padded block grids, plus the zigzag
    coefficients of every grid block."""

    h: int
    w: int
    samp: list[tuple[int, int]]
    qtbls: list[np.ndarray]
    qids: list[int]
    grids: list[tuple[int, int]]
    mcuy: int
    mcux: int
    coefs: list[list[list[int]]]


def _forward(arr: np.ndarray, quality: int, y_samp: tuple[int, int]) -> _Frame:
    """The one forward path of both encoders, for every frame they
    emit (gray, 4:4:4, 4:2:0, 4:2:2): color transform, chroma
    downsample by the luma sampling factors, then per component 8x8
    DCT + quantization + zigzag over its share of the MCU grid. ONE
    quantization, so a baseline and a progressive encoding of the
    same image carry the same coefficients and decode bit-identically
    (the cross-check the tests pin)."""
    h, w = arr.shape[0], arr.shape[1]
    hy, vy = y_samp
    if arr.ndim == 2:
        if y_samp != (1, 1):
            raise ValueError("subsampled encode takes RGB input (grayscale has no chroma)")
        planes = [arr]
        qtbls = [_quality_scale(QTBL_LUMA, quality)]
        qids = [0]
        samp = [(1, 1)]
    else:
        ycc = _rgb_to_ycbcr(arr)
        planes = [
            ycc[..., 0],
            _downsample(ycc[..., 1], vy, hy),
            _downsample(ycc[..., 2], vy, hy),
        ]
        qtbls = [
            _quality_scale(QTBL_LUMA, quality),
            _quality_scale(QTBL_CHROMA, quality),
        ]
        qids = [0, 1, 1]
        samp = [(hy, vy), (1, 1), (1, 1)]
    mcux = (w + 8 * hy - 1) // (8 * hy)
    mcuy = (h + 8 * vy - 1) // (8 * vy)
    grids = [(mcuy * vi, mcux * hi) for hi, vi in samp]
    coefs = [
        _quantize_plane(planes[ci], qtbls[qids[ci]], *grids[ci])
        for ci in range(len(qids))
    ]
    return _Frame(h, w, samp, qtbls, qids, grids, mcuy, mcux, coefs)


def _emit_headers(
    out: bytearray,
    sof_marker: bytes,
    f: _Frame,
    ac_tabs: tuple,
    restart_interval: int,
) -> None:
    """DQT + SOFn + DHT (+ DRI) segments. All tables the scans
    reference are emitted up front, which is legal for both modes.
    Baseline passes the Annex K AC tables; progressive passes
    HUFF_AC_UNIVERSAL (the Annex K AC tables lack EOBn symbols)."""
    ncomp = len(f.qids)
    for tid, q in enumerate(f.qtbls):
        zzq = bytes(int(q[r, c]) for r, c in ZIGZAG)
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tid]) + zzq
    comp_spec = b"".join(
        bytes([ci + 1, (f.samp[ci][0] << 4) | f.samp[ci][1], f.qids[ci]])
        for ci in range(ncomp)
    )
    sof = bytes([8]) + struct.pack(">HH", f.h, f.w) + bytes([ncomp]) + comp_spec
    out += sof_marker + struct.pack(">H", len(sof) + 2) + sof
    tabs = [(0x00, HUFF_DC_LUMA), (0x10, ac_tabs[0])]
    if ncomp == 3:
        tabs += [(0x01, HUFF_DC_CHROMA), (0x11, ac_tabs[1])]
    for tc, (bits, vals) in tabs:
        body = bytes([tc]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)


def _emit_scan(
    out: bytearray, qids: list[int], comps: list[int],
    ss: int, se: int, ah: int, al: int, payload: bytes,
) -> None:
    """SOS header + entropy-coded payload. Chroma components use table
    1 for AC, and for DC in a DC-carrying scan (Ss=0)."""
    spec = b"".join(
        bytes([ci + 1, ((qids[ci] if ss == 0 else 0) << 4) | qids[ci]])
        for ci in comps
    )
    sos = bytes([len(comps)]) + spec + bytes([ss, se, (ah << 4) | al])
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos + payload


def _entropy_scan(units: list, restart_interval: int, code, *args) -> bytes:
    """Entropy-code one scan: ``code(writer, interval, *args)`` for
    each restart interval of ``units`` (the whole walk when
    restart_interval is 0), each interval after the first opened by
    its cycling RSTn marker on a 1-filled byte boundary (T.81 E.1.4).
    ``code`` starts every interval with fresh DC predictors and ends
    it with no EOB run pending."""
    step = restart_interval or len(units) or 1
    intervals = [units[i : i + step] for i in range(0, len(units), step)] or [[]]
    wtr = _BitWriter()
    code(wtr, intervals[0], *args)
    for rst, interval in enumerate(intervals[1:]):
        wtr.flush()
        wtr.out += bytes([0xFF, 0xD0 + rst % 8])
        code(wtr, interval, *args)
    wtr.flush()
    return bytes(wtr.out)


def _put_dc(wtr: _BitWriter, codes: dict, diff: int) -> None:
    """A DC difference: its category's Huffman code + the appended bits."""
    cat, bits = _magnitude_cat(diff)
    wtr.write(*codes[cat])
    wtr.write(bits, cat)


def _put_ac(wtr: _BitWriter, codes: dict, vals: list[int]) -> bool:
    """Run/size-code the nonzero values of an AC band (T.81 F.1.2.2),
    with a ZRL per 16 zeros before a nonzero. Returns True when zeros
    trail the last nonzero (the caller codes EOB or counts an EOB run)."""
    run = 0
    for v in vals:
        if v == 0:
            run += 1
            continue
        while run > 15:
            wtr.write(*codes[0xF0])  # ZRL
            run -= 16
        cat, bits = _magnitude_cat(v)
        wtr.write(*codes[(run << 4) | cat])
        wtr.write(bits, cat)
        run = 0
    return run > 0


def _sequential_interval(wtr: _BitWriter, mcus: list, f: _Frame, dc: list, ac: list) -> None:
    """Baseline: full-band DC + AC of every data unit (T.81 F.1.2)."""
    prev = [0] * len(f.qids)
    for mcu in mcus:
        for ci, b in mcu:
            zz = f.coefs[ci][b]
            t = f.qids[ci]
            _put_dc(wtr, dc[t], zz[0] - prev[ci])
            prev[ci] = zz[0]
            if _put_ac(wtr, ac[t], zz[1:]):
                wtr.write(*ac[t][0x00])  # EOB


def encode_jpeg(
    arr: np.ndarray,
    quality: int = 75,
    restart_interval: int = 0,
    y_samp: tuple[int, int] = (1, 1),
) -> bytes:
    """uint8 (h, w) grayscale or (h, w, 3) RGB → baseline JPEG bytes
    (SOF0, one interleaved scan, Annex K tables quality-scaled).
    Deterministic. y_samp=(2, 2) / (2, 1) emits 4:2:0 / 4:2:2 (Y at
    that sampling, Cb/Cr at 1x1 over mean-downsampled planes; RGB
    input only), the majority chroma layouts of real crawl JPEGs.
    restart_interval > 0 emits a DRI segment and RSTn markers every
    that many MCUs with DC-predictor resets.

    Cross-checks (pinned in tests): restarts only re-base the DC
    differences, so decode(encode_jpeg(x, restart_interval=r)) is
    BIT-IDENTICAL to decode(encode_jpeg(x)); and for an image with
    CONSTANT chroma (any grayscale image stored as RGB) downsampling
    loses nothing, so every y_samp decodes to the 4:4:4 pixels."""
    f = _forward(arr, quality, y_samp)
    comps = list(range(len(f.qids)))
    dc = [_huff_codes(*t) for t in (HUFF_DC_LUMA, HUFF_DC_CHROMA)]
    ac = [_huff_codes(*t) for t in (HUFF_AC_LUMA, HUFF_AC_CHROMA)]
    mcus = _mcu_walk(comps, f.samp, f.grids, f.mcuy, f.mcux)
    out = bytearray(b"\xff\xd8")  # SOI
    _emit_headers(out, b"\xff\xc0", f, (HUFF_AC_LUMA, HUFF_AC_CHROMA), restart_interval)
    _emit_scan(out, f.qids, comps, 0, 63, 0, 0,
               _entropy_scan(mcus, restart_interval, _sequential_interval, f, dc, ac))
    return bytes(out + b"\xff\xd9")  # EOI


class _ProgACWriter:
    """AC-scan emitter state for one restart interval of a progressive
    scan: EOB-run accumulation (T.81 G.1.2.2) plus, for refinement
    scans, the buffered correction bits that must follow the next
    emitted symbol (G.1.2.3 — the IJG encoder's BE buffer)."""

    def __init__(self, writer: _BitWriter, ac_codes: dict) -> None:
        self.w = writer
        self.ac = ac_codes
        self.eobrun = 0
        self.pending: list[int] = []  # correction bits owed after next symbol

    def emit_symbol(self, sym: int) -> None:
        self.w.write(*self.ac[sym])

    def flush_eobrun(self) -> None:
        if self.eobrun > 0:
            nbits = self.eobrun.bit_length() - 1
            self.emit_symbol(nbits << 4)
            if nbits:
                self.w.write(self.eobrun - (1 << nbits), nbits)
            self.eobrun = 0
        for bit in self.pending:
            self.w.write(bit, 1)
        self.pending = []

    def count_eob(self, bits: list[int]) -> None:
        self.eobrun += 1
        self.pending.extend(bits)
        if self.eobrun == 0x7FFF:
            self.flush_eobrun()


def _dc_first_interval(wtr: _BitWriter, mcus: list, f: _Frame, dc: list) -> None:
    """Progressive DC first pass at Al=1: DC differences of the
    arithmetically shifted coefficients (G.1.2.1)."""
    prev = [0] * len(f.qids)
    for mcu in mcus:
        for ci, b in mcu:
            v = f.coefs[ci][b][0] >> 1
            _put_dc(wtr, dc[f.qids[ci]], v - prev[ci])
            prev[ci] = v


def _dc_refine_interval(wtr: _BitWriter, mcus: list, f: _Frame) -> None:
    """Progressive DC refinement to Al=0: one raw bit per data unit."""
    for mcu in mcus:
        for ci, b in mcu:
            wtr.write(f.coefs[ci][b][0] & 1, 1)


def _ac_first_interval(wtr: _BitWriter, blocks: list[int], zzs: list, ac: dict) -> None:
    """Progressive AC first pass at Al=1 over Ss=1..Se=63 (G.1.2.2):
    all-zero bands and zero tails fold into EOB runs."""
    pw = _ProgACWriter(wtr, ac)
    for b in blocks:
        vals = [(1 if v >= 0 else -1) * (abs(v) >> 1) for v in zzs[b][1:]]
        if not any(vals):
            pw.count_eob([])
            continue
        pw.flush_eobrun()
        if _put_ac(wtr, ac, vals):
            pw.count_eob([])
    pw.flush_eobrun()


def _ac_refine_interval(wtr: _BitWriter, blocks: list[int], zzs: list, ac: dict) -> None:
    """Progressive AC refinement to Al=0 (G.1.2.3): newly-nonzero
    coefficients as (run, 1) symbols + sign, buffered correction bits
    for the already-nonzero ones."""
    pw = _ProgACWriter(wtr, ac)
    for b in blocks:
        zz = zzs[b]
        absv = [abs(v) for v in zz[1:]]  # temp at Al=0
        # index of last NEWLY-NONZERO coefficient (temp == 1); ZRLs
        # are only needed up to here — the tail folds into EOB runs
        eobpos = -1
        for i, t in enumerate(absv):
            if t == 1:
                eobpos = i
        run = 0
        br: list[int] = []  # correction bits since last symbol
        for i, t in enumerate(absv):
            if t == 0:
                run += 1
                continue
            # ZRL reduction runs at EVERY nonzero temp (correction
            # coeffs too, per G.1.2.3): it keeps run <= 15 whenever
            # a nonzero coeff is buffered, which is what guarantees
            # every buffered correction bit lies inside the next
            # symbol's 16-zero decoder advance window. Not emitted
            # past the last newly-nonzero coeff — those runs fold
            # into the EOB run.
            while run > 15 and i <= eobpos:
                pw.flush_eobrun()
                pw.emit_symbol(0xF0)
                run -= 16
                for bit in br:
                    wtr.write(bit, 1)
                br = []
            if t > 1:
                br.append(t & 1)  # history-visible: correction bit
                continue
            # t == 1: newly nonzero at this precision
            pw.flush_eobrun()
            pw.emit_symbol((run << 4) | 1)
            wtr.write(1 if zz[i + 1] >= 0 else 0, 1)
            for bit in br:
                wtr.write(bit, 1)
            br = []
            run = 0
        if run > 0 or br:
            pw.count_eob(br)
    pw.flush_eobrun()


def encode_jpeg_progressive(
    arr: np.ndarray,
    quality: int = 75,
    restart_interval: int = 0,
    y_samp: tuple[int, int] = (1, 1),
) -> bytes:
    """uint8 (h, w) grayscale or (h, w, 3) RGB → progressive JPEG
    bytes (SOF2, Annex K tables quality-scaled). Deterministic.
    y_samp=(2,2)/(2,1) emits PROGRESSIVE 4:2:0/4:2:2: the DC scans
    interleave hi×vi data units per MCU, the AC scans walk each
    component's own block raster (T.81 A.2.2).

    Scan script (2-level successive approximation — exercises every
    progressive scan type the decoder implements):
      1. DC first, all components interleaved, Ah=0 Al=1
      2. per component: AC first, Ss=1 Se=63, Ah=0 Al=1 (EOB runs)
      3. DC refinement, interleaved, Ah=1 Al=0 (raw bits)
      4. per component: AC refinement, Ss=1 Se=63, Ah=1 Al=0
         (newly-nonzero + buffered correction bits)
    Because the script refines to Al=0 and both encoders share one
    forward path (_forward), the decoded coefficients equal the
    baseline encoder's exactly: decode(encode_jpeg_progressive(x, q,
    y_samp=s)) == decode(encode_jpeg(x, q, y_samp=s)) bit-for-bit
    (pinned in tests). restart_interval > 0 emits DRI + per-scan RSTn
    markers every that many MCUs/blocks (DC predictors and EOB runs
    flushed at each boundary) — still bit-identical to the
    restart-free decode."""
    f = _forward(arr, quality, y_samp)
    comps = list(range(len(f.qids)))
    dc = [_huff_codes(*t) for t in (HUFF_DC_LUMA, HUFF_DC_CHROMA)]
    ac = _huff_codes(*HUFF_AC_UNIVERSAL)
    mcus = _mcu_walk(comps, f.samp, f.grids, f.mcuy, f.mcux)
    rasters = [_comp_raster(f.h, f.w, f.samp, f.grids, ci) for ci in comps]
    ri = restart_interval
    out = bytearray(b"\xff\xd8")  # SOI
    _emit_headers(out, b"\xff\xc2", f, (HUFF_AC_UNIVERSAL, HUFF_AC_UNIVERSAL), ri)
    _emit_scan(out, f.qids, comps, 0, 0, 0, 1,
               _entropy_scan(mcus, ri, _dc_first_interval, f, dc))
    for ci in comps:
        _emit_scan(out, f.qids, [ci], 1, 63, 0, 1,
                   _entropy_scan(rasters[ci], ri, _ac_first_interval, f.coefs[ci], ac))
    _emit_scan(out, f.qids, comps, 0, 0, 1, 0,
               _entropy_scan(mcus, ri, _dc_refine_interval, f))
    for ci in comps:
        _emit_scan(out, f.qids, [ci], 1, 63, 1, 0,
                   _entropy_scan(rasters[ci], ri, _ac_refine_interval, f.coefs[ci], ac))
    return bytes(out + b"\xff\xd9")  # EOI


def _find_scan_end(data: bytes, start: int) -> int:
    """First byte of the marker that terminates entropy-coded data
    beginning at `start` (inside a scan, 0xFF is always stuffed with
    0x00 and RSTn markers FF D0-D7 are part of the data — r11; any
    other unstuffed 0xFF, including fill bytes, ends the scan)."""
    i = start
    n = len(data)
    while i + 1 < n:
        nxt = data[i + 1]
        if data[i] == 0xFF and nxt != 0x00 and not (0xD0 <= nxt <= 0xD7):
            return i
        i += 1
    return n


def _huffman_read(reader: _BitReader, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in scan")


def _decode_scan_sequential(
    reader: _BitReader,
    scan_idx: list[tuple[int, int, int]],
    huff: dict,
    coefs: list[np.ndarray],
    units: list[list[tuple[int, int]]],
    restart_interval: int = 0,
) -> None:
    """One baseline scan: DC+AC, full band, no successive
    approximation (T.81 Annex F), into the coefficient arrays.
    ``units`` is the scan's MCU sequence: the _mcu_walk of an
    interleaved scan (hi x vi data units per component per MCU), or
    one data unit per MCU along _comp_raster for a one-component scan
    (T.81 A.2.2)."""
    prev_dc = [0] * len(scan_idx)

    def one_block(ci: int, si: int, bidx: int, dc_tab, ac_tab) -> None:
        co = coefs[ci][bidx]
        cat = _huffman_read(reader, dc_tab)
        if cat > 15:
            # corrupt DHT: a byte-valued symbol used as a bit count
            # reads up to 2^255-scale ints (r12 fuzz OverflowError);
            # spec DIFF categories are 0-11 for 8-bit baseline
            raise ValueError(f"invalid DC category {cat}")
        diff = _extend(reader.read_bits(cat), cat) if cat else 0
        prev_dc[si] += diff
        co[0] = prev_dc[si]
        k = 1
        while k < 64:
            rs = _huffman_read(reader, ac_tab)
            run, cat = rs >> 4, rs & 0xF
            if cat == 0:
                if run == 15:  # ZRL
                    k += 16
                    continue
                break  # EOB
            k += run
            if k > 63:
                raise ValueError("AC run overflows block")
            co[k] = _extend(reader.read_bits(cat), cat)
            k += 1

    tabs = []
    for si, (ci, td, ta) in enumerate(scan_idx):
        dc_tab, ac_tab = huff.get((0, td)), huff.get((1, ta))
        if dc_tab is None or ac_tab is None:
            raise ValueError("missing Huffman table for scan")
        tabs.append((dc_tab, ac_tab))
    rst = 0
    for m, mcu in enumerate(units):
        if restart_interval and m and m % restart_interval == 0:
            # RSTn at the interval boundary: byte-align, check the
            # cycling marker, reset the DC predictors (T.81 F.2.1.3)
            reader.restart(rst % 8)
            rst += 1
            for i in range(len(prev_dc)):
                prev_dc[i] = 0
        for si, bidx in mcu:
            one_block(scan_idx[si][0], si, bidx, *tabs[si])


def _decode_scan_dc(
    reader: _BitReader,
    scan_idx: list[tuple[int, int, int]],
    huff: dict,
    coefs: list[np.ndarray],
    units: list[list[tuple[int, int]]],
    ah: int,
    al: int,
    restart_interval: int = 0,
) -> None:
    """Progressive DC scan (Ss=Se=0): first pass (Ah=0) is baseline DC
    difference coding scaled by 2^Al; refinement appends bit Al.
    ``units`` is the scan's MCU list, each MCU a list of (si, bidx)
    data units — one block per MCU for non-interleaved scans, the
    hi×vi sub-block walk for interleaved subsampled scans (r11).
    Restart boundaries (r11) byte-align, check RSTn and reset the DC
    predictors."""
    rst = 0
    if ah == 0:
        prev_dc = [0] * len(scan_idx)
        tabs = []
        for si, (_ci, td, _ta) in enumerate(scan_idx):
            tab = huff.get((0, td))
            if tab is None:
                raise ValueError("missing DC Huffman table for scan")
            tabs.append(tab)
        for m, mcu in enumerate(units):
            if restart_interval and m and m % restart_interval == 0:
                reader.restart(rst % 8)
                rst += 1
                prev_dc = [0] * len(scan_idx)
            for si, bidx in mcu:
                ci = scan_idx[si][0]
                cat = _huffman_read(reader, tabs[si])
                if cat > 15:
                    # same corrupt-DHT bound as the sequential path
                    raise ValueError(f"invalid DC category {cat}")
                diff = _extend(reader.read_bits(cat), cat) if cat else 0
                prev_dc[si] += diff
                coefs[ci][bidx, 0] = prev_dc[si] << al
    else:
        for m, mcu in enumerate(units):
            if restart_interval and m and m % restart_interval == 0:
                reader.restart(rst % 8)
                rst += 1
            for si, bidx in mcu:
                ci = scan_idx[si][0]
                coefs[ci][bidx, 0] |= reader.read_bit() << al


def _decode_scan_ac_first(
    reader: _BitReader,
    ci: int,
    ac_tab,
    coefs: list[np.ndarray],
    block_ids: list[int],
    ss: int,
    se: int,
    al: int,
    restart_interval: int = 0,
) -> None:
    """Progressive AC first pass (Ah=0): run/size coding over the
    spectral band with EOBn end-of-band runs (T.81 G.2.2). AC scans
    are always non-interleaved, so ``block_ids`` walks the
    component's OWN block raster (cbh x cbw, T.81 A.2.2 — the padded
    MCU grid's extra blocks are skipped for subsampled frames, r11).
    Restart boundaries reset the EOB run (a valid encoder never lets
    one span a restart)."""
    eobrun = 0
    rst = 0
    for n, b in enumerate(block_ids):
        if restart_interval and n and n % restart_interval == 0:
            reader.restart(rst % 8)
            rst += 1
            eobrun = 0
        if eobrun:
            eobrun -= 1
            continue
        co = coefs[ci][b]
        k = ss
        while k <= se:
            rs = _huffman_read(reader, ac_tab)
            run, cat = rs >> 4, rs & 0xF
            if cat == 0:
                if run == 15:  # ZRL
                    k += 16
                    continue
                eobrun = (1 << run) - 1
                if run:
                    eobrun += reader.read_bits(run)
                break
            k += run
            if k > se:
                raise ValueError("AC run overflows spectral band")
            co[k] = _extend(reader.read_bits(cat), cat) << al
            k += 1


def _decode_scan_ac_refine(
    reader: _BitReader,
    ci: int,
    ac_tab,
    coefs: list[np.ndarray],
    block_ids: list[int],
    ss: int,
    se: int,
    al: int,
    restart_interval: int = 0,
) -> None:
    """Progressive AC refinement (Ah>0): newly-nonzero coefficients are
    placed at ±2^Al; every already-nonzero coefficient passed over gets
    a correction bit (T.81 G.2.2 / figure G.7 control). ``block_ids``
    walks the component's own raster (see _decode_scan_ac_first).
    Restart boundaries reset the EOB run."""
    p1, m1 = 1 << al, -(1 << al)
    eobrun = 0
    rst = 0
    for n, b in enumerate(block_ids):
        if restart_interval and n and n % restart_interval == 0:
            reader.restart(rst % 8)
            rst += 1
            eobrun = 0
        co = coefs[ci][b]
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = _huffman_read(reader, ac_tab)
                run, cat = rs >> 4, rs & 0xF
                val = 0
                if cat == 0:
                    if run != 15:
                        eobrun = 1 << run
                        if run:
                            eobrun += reader.read_bits(run)
                        break
                    # run == 15 → ZRL: skip 16 zero-history positions
                else:
                    if cat != 1:
                        raise ValueError("invalid refinement magnitude")
                    val = p1 if reader.read_bit() else m1
                # advance over `run` zero-history coeffs, correcting the
                # nonzero-history ones passed along the way
                while k <= se:
                    if co[k] != 0:
                        if reader.read_bit():
                            if (co[k] & p1) == 0:
                                co[k] += p1 if co[k] >= 0 else m1
                    else:
                        if run == 0:
                            break
                        run -= 1
                    k += 1
                if val and k <= se:
                    co[k] = val
                k += 1
        if eobrun > 0:
            # end-of-band: correction bits for the rest of this block
            while k <= se:
                if co[k] != 0:
                    if reader.read_bit():
                        if (co[k] & p1) == 0:
                            co[k] += p1 if co[k] >= 0 else m1
                k += 1
            eobrun -= 1


def decode_jpeg(data: bytes) -> np.ndarray:
    """JPEG bytes → uint8 (h, w) grayscale or (h, w, 3) RGB.
    Profile: baseline SOF0 or progressive SOF2, 8-bit, 1 or 3
    components, sampling factors 1-2 (4:4:4/4:2:0/4:2:2, both modes),
    DRI/RSTn restarts — anything else raises ValueError (see module
    doc). Multi-scan coefficient-domain decode: every scan
    accumulates into per-component zigzag coefficient arrays; one
    dequantize + IDCT pass at the end (identical math for both modes)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qtbls: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    sof = None
    progressive = False
    coefs: list[np.ndarray] | None = None
    n_scans = 0
    restart_interval = 0
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"bad JPEG marker alignment at byte {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:
            break
        if marker == 0xFF:
            pos += 1
            continue
        if 0xD0 <= marker <= 0xD7:
            # RSTn are consumed inside scan data; one in the marker
            # walk means a malformed stream
            raise ValueError("stray restart marker outside a scan")
        if marker in (0x01, 0xD8):  # TEM / repeated SOI: standalone, no length
            pos += 2
            continue
        if pos + 4 > len(data):
            break
        seglen = int.from_bytes(data[pos + 2 : pos + 4], "big")
        body = data[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT (possibly multiple tables)
            b = 0
            while b < len(body):
                pq, tq = body[b] >> 4, body[b] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables not supported")
                tbl = np.zeros((8, 8), dtype=np.int64)
                for k in range(64):
                    r, c = ZIGZAG[k]
                    tbl[r, c] = body[b + 1 + k]
                qtbls[tq] = tbl
                b += 65
        elif marker == 0xC4:  # DHT (possibly multiple tables, any scan)
            b = 0
            while b < len(body):
                tc, th = body[b] >> 4, body[b] & 0xF
                bits = list(body[b + 1 : b + 17])
                n = sum(bits)
                vals = list(body[b + 17 : b + 17 + n])
                huff[(tc, th)] = _huff_decode_table(bits, vals)
                b += 17 + n
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            progressive = marker == 0xC2
            prec = body[0]
            h = int.from_bytes(body[1:3], "big")
            w = int.from_bytes(body[3:5], "big")
            # decompression-bomb guard (r12 fuzz): flipped SOF dims can
            # reach 65535^2 blocks -> ~17 GB of coefficient arrays;
            # lazy import, no cycle (multimodal imports jpegcodec only
            # inside functions)
            from fegis_spark.operators.multimodal import pixel_guard

            pixel_guard(w, h, len(data))
            nc = body[5]
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            if nc not in (1, 3):
                raise ValueError(f"{nc}-component JPEG not supported")
            comps = []
            for ci in range(nc):
                cid = body[6 + 3 * ci]
                sampling = body[7 + 3 * ci]
                tq = body[8 + 3 * ci]
                hi, vi = sampling >> 4, sampling & 0xF
                if nc == 1:
                    hi = vi = 1  # single component: sampling is moot
                if hi not in (1, 2) or vi not in (1, 2):
                    raise ValueError(
                        f"sampling factor {hi}x{vi} not supported (1 or 2 only)"
                    )
                comps.append((cid, tq, hi, vi))
            samp = [(hi, vi) for (_cid, _tq, hi, vi) in comps]
            hmax = max(hi for hi, _vi in samp)
            vmax = max(vi for _hi, vi in samp)
            mcux = (w + 8 * hmax - 1) // (8 * hmax)
            mcuy = (h + 8 * vmax - 1) // (8 * vmax)
            grids = [(mcuy * vi, mcux * hi) for hi, vi in samp]
            sof = (h, w, comps, samp, mcux, mcuy, grids)
            coefs = [
                np.zeros((gy * gx, 64), dtype=np.int32) for (gy, gx) in grids
            ]
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("only baseline SOF0 / progressive SOF2 supported")
        elif marker == 0xDD:  # DRI (r11: sequential decode honors it)
            restart_interval = int.from_bytes(body[0:2], "big")
        elif marker == 0xDA:  # SOS — decode this scan, then keep walking
            if sof is None or coefs is None:
                raise ValueError("SOS before SOF frame header")
            h, w, comps, samp, mcux, mcuy, grids = sof
            ns = body[0]
            scan_idx = []
            cid_to_ci = {cid: ci for ci, (cid, *_rest) in enumerate(comps)}
            for si in range(ns):
                cid = body[1 + 2 * si]
                if cid not in cid_to_ci:
                    raise ValueError("scan references unknown component")
                td, ta = body[2 + 2 * si] >> 4, body[2 + 2 * si] & 0xF
                scan_idx.append((cid_to_ci[cid], td, ta))
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ahal = body[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0xF
            scan_start = pos + 2 + seglen
            scan_end = _find_scan_end(data, scan_start)
            reader = _BitReader(data[scan_start:scan_end])
            scan_comps = [ci for ci, _td, _ta in scan_idx]
            if len(scan_comps) > 1:
                units = _mcu_walk(scan_comps, samp, grids, mcuy, mcux)
            else:
                # non-interleaved (T.81 A.2.2), in either mode: one data
                # unit per MCU, in the component's own block raster
                units = [
                    [(0, b)] for b in _comp_raster(h, w, samp, grids, scan_comps[0])
                ]
            if not progressive:
                _decode_scan_sequential(
                    reader, scan_idx, huff, coefs, units, restart_interval
                )
            elif ss == 0:
                if se != 0:
                    raise ValueError("progressive DC scan must have Se=0")
                _decode_scan_dc(
                    reader, scan_idx, huff, coefs, units, ah, al,
                    restart_interval,
                )
            else:
                if len(scan_idx) != 1:
                    raise ValueError("progressive AC scan must be one component")
                if not (1 <= ss <= se <= 63):
                    raise ValueError("invalid spectral band")
                ci, _td, ta = scan_idx[0]
                ac_tab = huff.get((1, ta))
                if ac_tab is None:
                    raise ValueError("missing AC Huffman table for scan")
                decode_ac = _decode_scan_ac_refine if ah else _decode_scan_ac_first
                decode_ac(
                    reader, ci, ac_tab, coefs, _comp_raster(h, w, samp, grids, ci),
                    ss, se, al, restart_interval,
                )
            n_scans += 1
            pos = scan_end
            continue
        pos += 2 + seglen
    if sof is None or coefs is None or n_scans == 0:
        raise ValueError("no SOF frame / SOS scan found")
    h, w, comps, samp, mcux, mcuy, grids = sof
    hmax = max(hi for hi, _vi in samp)
    vmax = max(vi for _hi, vi in samp)
    planes = []
    for ci, (_cid, tq, hi, vi) in enumerate(comps):
        q = qtbls.get(tq)
        if q is None:
            raise ValueError("missing quant table for component")
        gy, gx = grids[ci]
        plane = np.zeros((gy * 8, gx * 8), dtype=np.float64)
        for by in range(gy):
            for bx in range(gx):
                zz = coefs[ci][by * gx + bx]
                block = np.zeros((8, 8), dtype=np.float64)
                for idx in range(64):
                    r, c = ZIGZAG[idx]
                    block[r, c] = int(zz[idx]) * q[r, c]
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    _D.T @ block @ _D + 128.0
                )
        # crop to the component's true dims, then replication-upsample
        # subsampled chroma back to full resolution (r11 — 4:2:0/4:2:2)
        ch, cw = _comp_dims(h, w, samp, ci)
        plane = plane[:ch, :cw]
        if vi < vmax:
            plane = np.repeat(plane, vmax // vi, axis=0)
        if hi < hmax:
            plane = np.repeat(plane, hmax // hi, axis=1)
        planes.append(plane[:h, :w])
    if len(comps) == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    ycc = np.stack(planes, axis=-1)
    return _ycbcr_to_rgb(ycc)
