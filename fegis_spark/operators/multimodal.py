"""Multimodal column plumbing ([EXT]): image/audio/video as opaque
binary columns with typed metadata, processed by Arrow-batched
mapInPandas operators.

The Spark-side machinery here is REAL and tested — schemas, batch
shapes, partition sizing, UDF signatures. The codec step is the only
stub: image/audio libraries are not in this container, so decoding is
isolated behind `Codec` with a deterministic fake for tests and a
NotImplementedError for the real path (clearly marked SWAP POINT).

Scale posture: binary payloads dominate row size → keep
`spark.sql.files.maxPartitionBytes` low (128 MB default is fine),
never collect, and carry derived features forward instead of
re-reading payload bytes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

#: canonical multimodal record: opaque payload + typed metadata
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_DIM = 16


def _pnm_header(data: bytes, magic: bytes) -> tuple[int, int, int, int]:
    """Parse a binary-PNM header (`<magic> <w> <h> <maxval>` with
    #-comments, one whitespace byte before the raster). Returns
    (width, height, maxval, raster_offset)."""
    if data[:2] != magic:
        raise ValueError(f"not a {magic.decode()} PNM payload")
    pos, vals = 2, []
    while len(vals) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        vals.append(int(data[start:pos]))
    pos += 1  # exactly one whitespace byte after maxval, then raster
    w, h, maxval = vals
    if maxval > 255:
        raise ValueError("16-bit PNM not supported")
    return w, h, maxval, pos


def pixel_guard(w: int, h: int, data_len: int) -> None:
    """Decompression-bomb guard (r12 fuzz): a bit-flipped dimension
    field must not trigger a multi-GB raster allocation (a 2-byte GIF
    dim reaches 65535x65535x3 = 12.9 GB; a PNG IHDR high-bit flip far
    more) — the wild-bytes triage contract includes bounded WORK, not
    just bounded exceptions. Legit compressed payloads stay far under
    4096 pixels/byte (zlib tops out ~1032:1 bytes, JPEG entropy coding
    ~1 bit per 8x8 block); anything above is a corrupt or adversarial
    header and raises ValueError (which every decode_image branch
    routes to the per-row fall-through)."""
    if w <= 0 or h <= 0:
        raise ValueError("non-positive image dimensions")
    if w * h > max(1 << 22, data_len * 4096):
        raise ValueError(
            f"implausible dimensions {w}x{h} for a {data_len}-byte payload"
        )


def decode_ppm(data: bytes) -> np.ndarray:
    """Real, dependency-free image decode for binary PPM (P6): header
    `P6 <width> <height> <maxval>` with #-comments, one whitespace byte,
    then raw RGB. Returns uint8 (height, width, 3)."""
    w, h, _, pos = _pnm_header(data, b"P6")
    arr = np.frombuffer(data, dtype=np.uint8, count=w * h * 3, offset=pos)
    return arr.reshape(h, w, 3)


def decode_pgm(data: bytes) -> np.ndarray:
    """Real, dependency-free image decode for binary PGM (P5) grayscale
    — same PNM header grammar as P6 with a 1-byte-per-pixel raster.
    Returns uint8 (height, width)."""
    w, h, _, pos = _pnm_header(data, b"P5")
    arr = np.frombuffer(data, dtype=np.uint8, count=w * h, offset=pos)
    return arr.reshape(h, w)


def decode_bmp(data: bytes) -> np.ndarray:
    """Real, dependency-free image decode for uncompressed 24-bit BMP
    (BITMAPINFOHEADER, BI_RGB). Handles bottom-up (positive height) and
    top-down (negative height) rasters and 4-byte row padding. Returns
    uint8 (height, width, 3) in RGB order."""
    import struct

    if data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (pixel_offset,) = struct.unpack_from("<I", data, 10)
    (dib_size,) = struct.unpack_from("<I", data, 14)
    if dib_size < 40:
        raise ValueError("BMP core headers (<40 bytes) not supported")
    width, height = struct.unpack_from("<ii", data, 18)
    (bpp,) = struct.unpack_from("<H", data, 28)
    (compression,) = struct.unpack_from("<I", data, 30)
    if bpp != 24 or compression != 0:
        raise ValueError("only uncompressed 24-bit BI_RGB BMP supported")
    top_down = height < 0
    height = abs(height)
    stride = (width * 3 + 3) & ~3
    raster = np.frombuffer(data, dtype=np.uint8, count=stride * height, offset=pixel_offset)
    rows = raster.reshape(height, stride)[:, : width * 3].reshape(height, width, 3)
    if not top_down:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR → RGB


def encode_bmp(arr: np.ndarray) -> bytes:
    """Inverse of decode_bmp: uint8 (h, w, 3) RGB → uncompressed 24-bit
    bottom-up BI_RGB payload with standard 4-byte row padding."""
    import struct

    h, w = arr.shape[0], arr.shape[1]
    stride = (w * 3 + 3) & ~3
    raster = np.zeros((h, stride), dtype=np.uint8)
    raster[:, : w * 3] = arr[::-1, :, ::-1].astype(np.uint8).reshape(h, w * 3)
    pixel_bytes = raster.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pixel_bytes), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixel_bytes), 2835, 2835, 0, 0)
    return header + dib + pixel_bytes


def _gradient_rgb(width: int, height: int, seed: int = 0) -> np.ndarray:
    """The seeded uint8 (height, width, 3) RGB gradient every raster
    image fixture draws (make_ppm, make_bmp, make_jpeg_real,
    make_jpeg_prog_real): R = 7x, G = 11y, B = x + y, each + seed,
    mod 256."""
    y, x = np.mgrid[0:height, 0:width]
    return np.stack(
        [(x * 7 + seed) % 256, (y * 11 + seed) % 256, (x + y + seed) % 256], axis=-1
    ).astype(np.uint8)


def make_bmp(width: int, height: int, seed: int = 0) -> bytes:
    """Deterministic real 24-bit BMP bytes (the _gradient_rgb raster)."""
    return encode_bmp(_gradient_rgb(width, height, seed))


#: SOF segment markers (C0-CF minus DHT C4, JPG C8, DAC CC) — the
#: frame headers carrying dimensions in every JPEG flavor (baseline,
#: extended, progressive, lossless, arithmetic variants)
_JPEG_SOF_MARKERS = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def parse_jpeg_header(data: bytes) -> dict:
    """Dependency-free JPEG METADATA extraction (r8 verdict item 4):
    walk the segment stream to the first SOF marker and return
    {width, height, precision, n_components, progressive}. This is a
    header parse, not a pixel decode — entropy-coded data needs a real
    codec (PIL/libjpeg, absent here; pixel decode remains the
    documented SWAP POINT in Codec.decode_image). Handles APPn/COM/DQT
    skipping, FF fill bytes, standalone markers (RSTn/TEM), and raises
    on streams with no frame header before SOS/EOI."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"bad JPEG marker alignment at byte {pos}")
        marker = data[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        if marker == 0xD9 or marker == 0xDA:  # EOI / SOS: no SOF seen
            break
        if 0xD0 <= marker <= 0xD7 or marker == 0x01:  # RSTn / TEM
            pos += 2
            continue
        if pos + 4 > len(data):
            break
        seglen = int.from_bytes(data[pos + 2 : pos + 4], "big")
        if marker in _JPEG_SOF_MARKERS:
            if seglen < 8 or pos + 4 + 6 > len(data):
                raise ValueError("truncated JPEG SOF segment")
            return {
                "precision": data[pos + 4],
                "height": int.from_bytes(data[pos + 5 : pos + 7], "big"),
                "width": int.from_bytes(data[pos + 7 : pos + 9], "big"),
                "n_components": data[pos + 9],
                "progressive": marker in (0xC2, 0xC6, 0xCA, 0xCE),
            }
        pos += 2 + seglen
    raise ValueError("no SOF frame header found in JPEG stream")


def make_jpeg(
    width: int, height: int, n_components: int = 3, seed: int = 0,
    progressive: bool = False,
) -> bytes:
    """Deterministic header-valid JPEG fixture bytes: SOI + JFIF APP0 +
    seeded COM + SOF0/SOF2 + EOI. Metadata-parseable (parse_jpeg_header)
    but carries no entropy-coded scan — the container has no JPEG pixel
    codec to verify one against."""
    app0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    com = f"fixture seed {seed}".encode()
    comps = b"".join(
        bytes([cid + 1, 0x22 if cid == 0 else 0x11, 0 if cid == 0 else 1])
        for cid in range(n_components)
    )
    sof = (
        bytes([8])
        + height.to_bytes(2, "big")
        + width.to_bytes(2, "big")
        + bytes([n_components])
        + comps
    )
    out = b"\xff\xd8"
    out += b"\xff\xe0" + (len(app0) + 2).to_bytes(2, "big") + app0
    out += b"\xff\xfe" + (len(com) + 2).to_bytes(2, "big") + com
    out += (b"\xff\xc2" if progressive else b"\xff\xc0") + (len(sof) + 2).to_bytes(2, "big") + sof
    return out + b"\xff\xd9"


def make_jpeg_real(
    width: int, height: int, seed: int = 0, quality: int = 90,
    restart_interval: int = 0, y_samp: tuple[int, int] = (1, 1),
) -> bytes:
    """Deterministic REAL baseline JPEG bytes (entropy-coded scan over
    the _gradient_rgb raster) via operators/jpegcodec.encode_jpeg —
    unlike make_jpeg, whose payload is metadata-only.
    restart_interval emits DRI/RSTn markers (r11); y_samp=(2, 2) /
    (2, 1) emits 4:2:0 / 4:2:2 interleaved subsampled MCUs."""
    from fegis_spark.operators.jpegcodec import encode_jpeg

    return encode_jpeg(
        _gradient_rgb(width, height, seed), quality=quality,
        restart_interval=restart_interval, y_samp=y_samp,
    )


def make_jpeg_prog_real(
    width: int, height: int, seed: int = 0, quality: int = 90,
    y_samp: tuple[int, int] = (1, 1),
) -> bytes:
    """Deterministic REAL progressive JPEG bytes (SOF2, 2-level
    successive-approximation scan script over the _gradient_rgb raster)
    via operators/jpegcodec.encode_jpeg_progressive — decodes to the
    SAME pixels as make_jpeg_real at the same quality and y_samp (the
    codec's cross-check invariant). y_samp=(2, 2) gives interleaved
    subsampled DC scans + per-component AC scans (r11)."""
    from fegis_spark.operators.jpegcodec import encode_jpeg_progressive

    return encode_jpeg_progressive(
        _gradient_rgb(width, height, seed), quality=quality, y_samp=y_samp
    )


def parse_png_header(data: bytes) -> dict:
    """Dependency-free PNG metadata: the IHDR chunk is mandatory-first
    (PNG spec 11.2.2), so width/height/bit depth/color type sit at a
    fixed offset after the 8-byte signature. Pixel decode for 8-bit
    gray/truecolor lives in decode_png (r10 — zlib is stdlib)."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload (bad signature)")
    if len(data) < 29 or data[12:16] != b"IHDR":
        raise ValueError("PNG missing mandatory first IHDR chunk")
    color_type = data[25]
    #: grayscale=1, gray+alpha=2, truecolor=3, truecolor+alpha=4, palette=1
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    if channels is None:
        raise ValueError(f"invalid PNG color type {color_type}")
    return {
        "width": int.from_bytes(data[16:20], "big"),
        "height": int.from_bytes(data[20:24], "big"),
        "bit_depth": data[24],
        "n_components": channels,
    }


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body))
    )


def encode_png(arr: np.ndarray, interlace: bool = False) -> bytes:
    """Real, dependency-free PNG encode (r9 verdict #4 — zlib is
    stdlib): (h, w) grayscale → color type 0, (h, w, 3) RGB → color
    type 2, gray+alpha (h, w, 2) → color type 4, RGBA (h, w, 4) →
    color type 6 (r11); uint8 input → 8-bit depth, uint16 input →
    16-bit depth with big-endian samples (r11); interlace=True emits
    the Adam7 7-pass layout (r11 — empty passes carry no bytes).
    Every scanline filter type 0 (None). decode_png inverts it
    exactly at every (depth, interlace) combination."""
    import struct
    import zlib

    h, w = arr.shape[0], arr.shape[1]
    nch = 1 if arr.ndim == 2 else arr.shape[2]
    color = {1: 0, 2: 4, 3: 2, 4: 6}[nch]
    depth = 16 if arr.dtype == np.uint16 else 8
    ihdr = struct.pack(">II", w, h) + bytes([depth, color, 0, 0, int(interlace)])
    a = arr.reshape(h, w, nch)

    def lines(block: np.ndarray) -> bytes:
        flat = block.astype(">u2" if depth == 16 else np.uint8).reshape(
            block.shape[0], -1
        )
        return b"".join(b"\x00" + flat[y].tobytes() for y in range(block.shape[0]))

    if interlace:
        raw = b"".join(
            lines(a[y0::dy, x0::dx])
            for x0, y0, dx, dy in _ADAM7
            if a[y0::dy, x0::dx].size
        )
    else:
        raw = lines(a)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 9))
        + _png_chunk(b"IEND", b"")
    )


def encode_png_lowbit(
    samples: np.ndarray,
    color: int,
    depth: int,
    interlace: bool = False,
    plte: np.ndarray | None = None,
) -> bytes:
    """Low-bit-depth PNG emit (r11): (h, w) sample values < 2^depth →
    a 1/2/4-bit grayscale (color 0) or palette (color 3, with the
    (n, 3) PLTE) payload, samples packed MSB-first per spec 7.2 with
    zero-padded row tails, filter type 0, optionally Adam7-interlaced.
    decode_png inverts it exactly (gray comes back scaled by the
    integer 255/(2^depth−1))."""
    import struct
    import zlib

    h, w = samples.shape
    ihdr = struct.pack(">II", w, h) + bytes([depth, color, 0, 0, int(interlace)])

    def pack_block(block: np.ndarray) -> bytes:
        bh, bw = block.shape
        bits = (
            (block[..., None].astype(np.uint8)
             >> np.arange(depth - 1, -1, -1).astype(np.uint8)) & 1
        ).reshape(bh, bw * depth)
        packed = np.packbits(bits, axis=1)  # zero-pads each row tail
        return b"".join(b"\x00" + packed[y].tobytes() for y in range(bh))

    if interlace:
        raw = b"".join(
            pack_block(samples[y0::dy, x0::dx])
            for x0, y0, dx, dy in _ADAM7
            if samples[y0::dy, x0::dx].size
        )
    else:
        raw = pack_block(samples)
    body = _png_chunk(b"IHDR", ihdr)
    if plte is not None:
        body += _png_chunk(b"PLTE", plte.astype(np.uint8).tobytes())
    return (
        b"\x89PNG\r\n\x1a\n"
        + body
        + _png_chunk(b"IDAT", zlib.compress(raw, 9))
        + _png_chunk(b"IEND", b"")
    )


#: Adam7 pass grid (PNG spec 8.2): (x-origin, y-origin, x-step, y-step)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int, offset: int):
    """Undo PNG scanline filtering (spec 9.2 — all five types:
    None/Sub/Up/Average/Paeth) over ``h`` scanlines of ``stride``
    bytes starting at ``offset`` in the inflated stream. ``bpp`` is
    the filter unit = channels × bytes-per-sample (so the same code
    covers 8- and 16-bit and every color type). Returns the
    ((h, stride) uint8 block, bytes consumed)."""
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        base = offset + y * (stride + 1)
        ftype = raw[base]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=base + 1
        ).astype(np.int64)
        if ftype == 0:  # None
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth need left recon
            cur = np.zeros(stride, dtype=np.int64)
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0  # left
                b = int(prev[x])  # up
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) // 2
                else:
                    c = int(prev[x - bpp]) if x >= bpp else 0  # upper-left
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                cur[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"invalid PNG filter type {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out, h * (stride + 1)


def decode_png(data: bytes) -> np.ndarray:
    """Real, dependency-free PNG pixel decode (r9 verdict #4) — the
    FULL spec 11.2.2 (color, depth) matrix (r11): grayscale (color 0)
    at 1/2/4/8/16 bits, palette (color 3) at 1/2/4/8, truecolor
    (color 2), gray+alpha (color 4) and RGBA (color 6) at 8/16;
    sequential AND Adam7-interlaced (r11 — 7-pass grid per spec 8.2,
    each pass unfiltered independently then scattered into the full
    raster) — chunk walk → IDAT concat → zlib inflate → per-scanline
    unfilter (_png_unfilter, all five filter types, bpp = max(1,
    channels × depth // 8) per spec 9.2) → sample unpack (sub-byte
    samples MSB-first per spec 7.2).
    Returns uint8 (h, w) for grayscale (low-bit gray scaled by the
    exact integer 255/(2^d−1)), (h, w, 3) for RGB and for palette
    (PLTE lookup), (h, w, 2)/(h, w, 4) RAW channels for the alpha
    types (Codec.decode_image composites them over white); 16-bit
    images come back as the analogous uint16 arrays (big-endian
    samples joined, full fidelity — Codec reduces to 8-bit exactly
    via round(v/257), 65535 = 257·255)."""
    import zlib

    hdr = parse_png_header(data)
    if data[26] != 0 or data[27] != 0:
        raise ValueError("nonstandard PNG compression/filter method")
    interlace = data[28]
    if interlace not in (0, 1):
        raise ValueError(f"invalid PNG interlace method {interlace}")
    depth, color = hdr["bit_depth"], data[25]
    #: spec 11.2.2 legal (color, depth) combinations
    legal = {0: (1, 2, 4, 8, 16), 3: (1, 2, 4, 8), 2: (8, 16),
             4: (8, 16), 6: (8, 16)}
    if color not in legal or depth not in legal[color]:
        raise ValueError(
            "unsupported or spec-illegal PNG variant "
            f"(color type {color}, bit depth {depth})"
        )
    w, h, ch = hdr["width"], hdr["height"], hdr["n_components"]
    pixel_guard(w, h, len(data))
    # filter unit (spec 9.2: sub-byte depths filter at 1 byte)
    bpp = max(1, (ch * depth) // 8)

    def _stride(pw: int) -> int:  # packed scanline bytes for pw pixels
        return (pw * ch * depth + 7) // 8

    def _samples(block: np.ndarray, pw: int) -> np.ndarray:
        """(ph, stride) unfiltered bytes → (ph, pw·ch) sample values
        (uint16 at depth 16, uint8 otherwise; sub-byte samples are
        unpacked MSB-first per spec 7.2)."""
        if depth == 16:
            pairs = block.reshape(block.shape[0], pw * ch, 2).astype(np.uint16)
            return (pairs[..., 0] << 8) | pairs[..., 1]
        if depth == 8:
            return block[:, : pw * ch]
        bits = np.unpackbits(block, axis=1)[:, : pw * ch * depth]
        weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
        return (bits.reshape(block.shape[0], pw * ch, depth) * weights).sum(
            axis=2
        ).astype(np.uint8)
    # chunk walk: length(4) type(4) body crc(4), starting past signature
    idat = bytearray()
    plte = None
    pos = 8
    while pos + 8 <= len(data):
        ln = int.from_bytes(data[pos : pos + 4], "big")
        tag = data[pos + 4 : pos + 8]
        if tag == b"IDAT":
            idat += data[pos + 8 : pos + 8 + ln]
        elif tag == b"PLTE":
            if ln % 3:
                raise ValueError("PNG PLTE length not a multiple of 3")
            plte = np.frombuffer(
                data, dtype=np.uint8, count=ln, offset=pos + 8
            ).reshape(-1, 3)
        pos += 12 + ln
        if tag == b"IEND":
            break
    if data[25] == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE chunk")
    if not idat:
        raise ValueError("PNG has no IDAT chunk (header-only payload)")
    raw = zlib.decompress(bytes(idat))
    if interlace == 0:
        stride = _stride(w)
        if len(raw) != h * (stride + 1):
            raise ValueError("PNG raster size mismatch after inflate")
        plane, _ = _png_unfilter(raw, h, stride, bpp, 0)
        samples = _samples(plane, w)  # (h, w·ch)
    else:
        samples = np.zeros(
            (h, w, ch), dtype=np.uint16 if depth == 16 else np.uint8
        )
        offset = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:  # empty pass carries no bytes (spec 8.2)
                continue
            sub, used = _png_unfilter(raw, ph, _stride(pw), bpp, offset)
            offset += used
            samples[y0::dy, x0::dx, :] = _samples(sub, pw).reshape(ph, pw, ch)
        if offset != len(raw):
            raise ValueError("PNG raster size mismatch after inflate")
        samples = samples.reshape(h, w * ch)
    if depth == 16:
        return samples.reshape(h, w) if ch == 1 else samples.reshape(h, w, ch)
    if color == 3:
        idx = samples.reshape(h, w)
        if int(idx.max()) >= len(plte):
            raise ValueError("palette index out of range")
        return plte[idx]  # (h, w, 3) via palette lookup
    if depth < 8:  # low-bit gray: exact scale to full range
        # 255/(2^d−1) is an integer (255, 85, 17) so this is lossless
        samples = (samples * (255 // ((1 << depth) - 1))).astype(np.uint8)
    return samples.reshape(h, w) if ch == 1 else samples.reshape(h, w, ch)


def make_png(
    width: int,
    height: int,
    color_type: int = 2,
    seed: int = 0,
    bit_depth: int = 8,
    interlace: bool = False,
) -> bytes:
    """Deterministic PNG fixture. Color types 0 (grayscale) and 2
    (RGB) carry a REAL zlib IDAT raster (the same gradient family as
    make_ppm/make_bmp — decode_png roundtrips them; r9 verdict #4);
    palette (3) carries a real 16-color PLTE + indexed IDAT raster
    (decode_png maps it back through the palette, r10); gray+alpha (4)
    and RGBA (6) carry real rasters with a deterministic alpha ramp
    (r11 — decode_png returns the raw channels, Codec composites).
    bit_depth=16 (color 0/2/4/6) widens the gradient into the 16-bit
    range; interlace=True emits the Adam7 layout (both r11).
    Other color types stay header-only metadata fixtures (signature +
    IHDR + IEND + one trailing seed byte whose VALUE varies with seed
    — size does not)."""
    import struct
    import zlib

    y, x = np.mgrid[0:height, 0:width]
    if bit_depth in (1, 2, 4) and color_type in (0, 3):
        # low-bit fixtures (r11): gray gradient over the 2^d levels,
        # or a 2^d-entry palette + indexed gradient
        n = 1 << bit_depth
        idx = ((x + 2 * y + seed) % n).astype(np.uint8)
        if color_type == 0:
            return encode_png_lowbit(idx, 0, bit_depth, interlace=interlace)
        pal = np.stack(
            [
                (np.arange(n) * 17 + seed) % 256,
                (np.arange(n) * 31 + seed) % 256,
                (np.arange(n) * 7 + seed) % 256,
            ],
            axis=-1,
        ).astype(np.uint8)
        return encode_png_lowbit(idx, 3, bit_depth, interlace=interlace, plte=pal)
    if bit_depth == 16 and color_type in (0, 2, 4, 6):
        # 16-bit gradients: same spatial family, ×257 keeps the 8-bit
        # structure visible in the high byte, +x*131 varies the low
        if color_type == 0:
            g16 = (((x * 7 + y * 11 + seed) % 256) * 257 + x * 131) % 65536
            return encode_png(g16.astype(np.uint16), interlace=interlace)
        planes = [
            ((x * 7 + seed) % 256) * 257 + (y * 131) % 257,
            ((y * 11 + seed) % 256) * 257 + (x * 29) % 257,
            ((x + y + seed) % 256) * 257 + ((x * y) % 257),
            ((x * 3 + y * 5 + seed) % 256) * 257 + ((x + 2 * y) % 257),
        ]
        nch = {2: 3, 4: 2, 6: 4}[color_type]
        sel = planes[:3] if color_type == 2 else (
            [planes[0], planes[3]] if color_type == 4 else planes
        )
        arr = (np.stack(sel, axis=-1) % 65536).astype(np.uint16)
        assert arr.shape[2] == nch
        return encode_png(arr, interlace=interlace)
    if color_type == 3:
        # 16-entry deterministic palette + indexed gradient raster
        pal = np.stack(
            [
                (np.arange(16) * 17 + seed) % 256,
                (np.arange(16) * 31 + seed) % 256,
                (np.arange(16) * 7 + seed) % 256,
            ],
            axis=-1,
        ).astype(np.uint8)
        idx = ((x + y + seed) % 16).astype(np.uint8)
        ihdr = struct.pack(">II", width, height) + bytes([8, 3, 0, 0, 0])
        raw = b"".join(b"\x00" + idx[r].tobytes() for r in range(height))
        return (
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"PLTE", pal.tobytes())
            + _png_chunk(b"IDAT", zlib.compress(raw, 9))
            + _png_chunk(b"IEND", b"")
        )
    if color_type == 0:
        return encode_png(((x * 7 + y * 11 + seed) % 256).astype(np.uint8),
                          interlace=interlace)
    if color_type == 2:
        rgb = np.stack(
            [(x * 7 + seed) % 256, (y * 11 + seed) % 256, (x + y + seed) % 256],
            axis=-1,
        ).astype(np.uint8)
        return encode_png(rgb, interlace=interlace)
    if color_type == 4:
        ga = np.stack(
            [(x * 7 + y * 11 + seed) % 256, (x * 3 + y * 5 + seed) % 256],
            axis=-1,
        ).astype(np.uint8)
        return encode_png(ga, interlace=interlace)
    if color_type == 6:
        rgba = np.stack(
            [(x * 7 + seed) % 256, (y * 11 + seed) % 256,
             (x + y + seed) % 256, (x * 3 + y * 5 + seed) % 256],
            axis=-1,
        ).astype(np.uint8)
        return encode_png(rgba, interlace=interlace)
    ihdr = struct.pack(">II", width, height) + bytes([8, color_type, 0, 0, 0])
    chunk = b"IHDR" + ihdr
    out = b"\x89PNG\r\n\x1a\n"
    out += struct.pack(">I", len(ihdr)) + chunk + struct.pack(">I", zlib.crc32(chunk))
    iend = b"IEND"
    out += struct.pack(">I", 0) + iend + struct.pack(">I", zlib.crc32(iend))
    return out + bytes([seed % 256])


def parse_gif_header(data: bytes) -> dict:
    """Dependency-free GIF metadata: logical-screen width/height are
    little-endian at offset 6 (GIF87a/89a spec). Header parse only —
    LZW frame decode stays env-blocked."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload (bad signature)")
    return {
        "width": int.from_bytes(data[6:8], "little"),
        "height": int.from_bytes(data[8:10], "little"),
        "version": data[3:6].decode(),
    }


def _gif_lzw_encode(indices: np.ndarray, mcs: int) -> bytes:
    """GIF-variant LZW compress of a flat index array (min code size
    mcs): variable-width codes LSB-first, clear/EOI codes, string
    table reset at 4096 — T.81's cousin per the GIF89a spec appendix."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    acc = n = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, n
        acc |= code << n
        n += width
        while n >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            n -= 8

    table: dict[tuple[int, int], int] = {}
    nxt = eoi + 1
    width = mcs + 1
    emit(clear, width)
    cur = int(indices[0])
    for k in map(int, indices[1:]):
        if (cur, k) in table:
            cur = table[(cur, k)]
            continue
        emit(cur, width)
        table[(cur, k)] = nxt
        nxt += 1
        if nxt == (1 << width) + 1 and width < 12:
            width += 1
        if nxt >= 4096:
            emit(clear, width)
            table.clear()
            nxt = eoi + 1
            width = mcs + 1
        cur = k
    emit(cur, width)
    emit(eoi, width)
    if n:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_lzw_decode(data: bytes, mcs: int, max_out: int | None = None) -> list[int]:
    """Inverse of _gif_lzw_encode (GIF89a spec: LSB-first variable-
    width codes, table entry added per code, width grows with the
    table). ``max_out`` stops decoding once that many indices exist —
    the bomb guard for corrupt streams whose dictionary entries grow
    multiplicatively (r12 fuzz: >2 s pure-Python loops); callers only
    consume the frame's iw*ih indices anyway."""
    if not 1 <= mcs <= 11:
        # spec range is 2-8; a flipped min-code-size byte would build a
        # 2^mcs-entry base table (mcs=255 -> 2^255 — the r12 fuzz hang)
        raise ValueError(f"invalid GIF LZW min code size {mcs}")
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    pos = bit = 0

    def read(width: int) -> int:
        nonlocal pos, bit
        v = shift = 0
        need = width
        while need:
            if pos >= len(data):
                raise ValueError("GIF LZW stream truncated")
            take = min(8 - bit, need)
            v |= ((data[pos] >> bit) & ((1 << take) - 1)) << shift
            shift += take
            bit += take
            need -= take
            if bit == 8:
                bit = 0
                pos += 1
        return v

    base = [[i] for i in range(1 << mcs)] + [None, None]
    table = list(base)
    width = mcs + 1
    out: list[int] = []
    prev: list[int] | None = None
    while True:
        code = read(width)
        if code == clear:
            table = list(base)
            width = mcs + 1
            prev = None
            continue
        if code == eoi:
            break
        if code < len(table) and table[code] is not None:
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError("invalid GIF LZW code")
        out.extend(entry)
        if max_out is not None and len(out) >= max_out:
            break
        if prev is not None:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return out


def decode_gif(data: bytes) -> np.ndarray:
    """Real, dependency-free GIF decode (r10): color table + first
    image descriptor + LZW frame data → uint8 (h, w, 3). Extensions
    are skipped. A frame-local color table overrides the global one
    (r11 — a GIF with neither is rejected), and interlaced frames are
    de-interlaced via the 4-pass row order of spec appendix E
    (rows 0::8, 4::8, 2::4, 1::2; r11)."""
    hdr = parse_gif_header(data)
    w, h = hdr["width"], hdr["height"]
    pixel_guard(w, h, len(data))
    flags = data[10]
    pos = 13
    palette = None
    if flags & 0x80:
        gct_n = 2 << (flags & 0x07)
        palette = np.frombuffer(
            data, dtype=np.uint8, count=gct_n * 3, offset=pos
        ).reshape(-1, 3)
        pos += gct_n * 3
    while pos < len(data):
        b = data[pos]
        if b == 0x21:  # extension: label + length-prefixed sub-blocks
            pos += 2
            while data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            iw = int.from_bytes(data[pos + 5 : pos + 7], "little")
            ih = int.from_bytes(data[pos + 7 : pos + 9], "little")
            pixel_guard(iw, ih, len(data))
            iflags = data[pos + 9]
            pos += 10
            if iflags & 0x80:  # local color table overrides global (r11)
                lct_n = 2 << (iflags & 0x07)
                palette = np.frombuffer(
                    data, dtype=np.uint8, count=lct_n * 3, offset=pos
                ).reshape(-1, 3)
                pos += lct_n * 3
            if palette is None:
                raise ValueError("GIF frame has neither global nor local color table")
            mcs = data[pos]
            pos += 1
            lzw = bytearray()
            while data[pos] != 0:
                ln = data[pos]
                lzw += data[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            indices = _gif_lzw_decode(bytes(lzw), mcs, max_out=iw * ih)
            if len(indices) < iw * ih:
                raise ValueError("GIF frame shorter than descriptor")
            idx = np.array(indices[: iw * ih], dtype=np.int64).reshape(ih, iw)
            if iflags & 0x40:  # de-interlace (r11): stored pass-major
                order = np.concatenate([
                    np.arange(0, ih, 8), np.arange(4, ih, 8),
                    np.arange(2, ih, 4), np.arange(1, ih, 2),
                ])
                deint = np.empty_like(idx)
                deint[order] = idx
                idx = deint
            if int(idx.max()) >= len(palette):
                raise ValueError("GIF index out of palette range")
            return palette[idx].astype(np.uint8)
        elif b == 0x3B:  # trailer before any frame
            raise ValueError("GIF has no image frame (header-only payload)")
        else:
            raise ValueError(f"unknown GIF block 0x{b:02X}")
    raise ValueError("GIF truncated before trailer")


def make_gif(
    width: int,
    height: int,
    seed: int = 0,
    interlace: bool = False,
    local_palette: bool = False,
) -> bytes:
    """Deterministic REAL GIF fixture (89a): 16-color palette + one
    LZW-compressed frame (the make_png palette gradient family) —
    decode_gif roundtrips it exactly (GIF is lossless).
    interlace=True stores the rows in the spec appendix-E 4-pass
    order with the interlace flag set; local_palette=True carries the
    table on the image descriptor instead of the screen descriptor
    (no global table at all, and a shifted palette so a decoder that
    wrongly used a global table would be caught) — both r11."""
    shift = 5 if local_palette else 0  # distinguishable local table
    pal = np.stack(
        [
            (np.arange(16) * 17 + seed + shift) % 256,
            (np.arange(16) * 31 + seed + shift) % 256,
            (np.arange(16) * 7 + seed + shift) % 256,
        ],
        axis=-1,
    ).astype(np.uint8)
    y, x = np.mgrid[0:height, 0:width]
    idx = ((x + y + seed) % 16).astype(np.uint8)
    if interlace:  # store pass-major (spec appendix E)
        order = np.concatenate([
            np.arange(0, height, 8), np.arange(4, height, 8),
            np.arange(2, height, 4), np.arange(1, height, 2),
        ])
        idx = idx[order]
    mcs = 4  # 16-color palette
    lzw = _gif_lzw_encode(idx.ravel(), mcs)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks += bytes([len(chunk)]) + chunk
    blocks += b"\x00"
    screen_flags = 0x70 if local_palette else (0x80 | 0x70 | 0x03)
    iflags = (0x80 | 0x03 if local_palette else 0) | (0x40 if interlace else 0)
    return (
        b"GIF89a"
        + width.to_bytes(2, "little")
        + height.to_bytes(2, "little")
        + bytes([screen_flags, 0, 0])
        + (b"" if local_palette else pal.tobytes())
        + b"\x2c" + bytes(4) + width.to_bytes(2, "little")
        + height.to_bytes(2, "little") + bytes([iflags])
        + (pal.tobytes() if local_palette else b"")
        + bytes([mcs]) + bytes(blocks)
        + b"\x3b"
    )


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """Real, dependency-free audio decode for PCM16 WAV via stdlib
    `wave`. Returns (int16 samples shaped (n_frames, n_channels),
    sample_rate)."""
    import io
    import wave

    with wave.open(io.BytesIO(data)) as wf:
        sr = wf.getframerate()
        nch = wf.getnchannels()
        if wf.getsampwidth() != 2:
            raise ValueError("only PCM16 WAV supported")
        frames = wf.readframes(wf.getnframes())
    return np.frombuffer(frames, dtype="<i2").reshape(-1, nch), sr


def _riff_chunk(tag: bytes, body: bytes) -> bytes:
    import struct

    pad = b"\x00" if len(body) % 2 else b""
    return tag + struct.pack("<I", len(body)) + body + pad


def make_avi_mjpeg(
    width: int, height: int, n_frames: int = 6, seed: int = 0, fps: int = 10,
    restart_interval: int = 0,
) -> bytes:
    """Deterministic REAL MJPEG-in-AVI video fixture: a standard RIFF
    AVI container (avih + one video strl with strh/strf, a movi LIST
    of 00dc chunks) whose every frame is a baseline JPEG from
    operators/jpegcodec — per-frame seed offsets animate the gradient,
    so frames are distinct and each is a pure function of
    (media_id, frame_idx). restart_interval > 0 (r12, r11 verdict #7)
    emits DRI/RSTn restart-coded frames — the two r11 features (AVI
    walk + restart boundaries) composed in one container."""
    import struct

    frames = [
        make_jpeg_real(
            width, height, seed=seed + 7 * i, restart_interval=restart_interval
        )
        for i in range(n_frames)
    ]
    max_bytes = max(len(fr) for fr in frames)
    us_per_frame = 1_000_000 // fps
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        us_per_frame, max_bytes * fps, 0, 0x10, n_frames, 0, 1, max_bytes,
        width, height, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG" + struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0, 1, fps,
                                         0, n_frames, max_bytes, 0, 0, 0)
        + struct.pack("<HHHH", 0, 0, width, height)
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, width, height, 1, 24, b"MJPG",
        width * height * 3, 0, 0, 0, 0,
    )
    strl = _riff_chunk(
        b"LIST", b"strl" + _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf)
    )
    hdrl = _riff_chunk(b"LIST", b"hdrl" + _riff_chunk(b"avih", avih) + strl)
    movi = _riff_chunk(
        b"LIST", b"movi" + b"".join(_riff_chunk(b"00dc", fr) for fr in frames)
    )
    return _riff_chunk(b"RIFF", b"AVI " + hdrl + movi)


def parse_avi(data: bytes) -> dict:
    """RIFF AVI walk: {width, height, n_frames, us_per_frame, frames}
    where frames are the raw per-frame codec payloads (00dc/00db
    chunks, in stream order). Dependency-free; raises ValueError on
    non-AVI payloads."""
    import struct

    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI payload (bad RIFF signature)")
    meta = {"width": None, "height": None, "n_frames": 0, "us_per_frame": None}
    frames: list[bytes] = []

    def walk(start: int, end: int) -> None:
        pos = start
        while pos + 8 <= end:
            tag = data[pos : pos + 4]
            (ln,) = struct.unpack_from("<I", data, pos + 4)
            body_start = pos + 8
            body_end = min(body_start + ln, end)
            if tag == b"LIST":
                walk(body_start + 4, body_end)  # skip list type fourcc
            elif tag == b"avih":
                (us, _mbps, _pad, _flags, nf) = struct.unpack_from(
                    "<IIIII", data, body_start
                )
                w, h = struct.unpack_from("<II", data, body_start + 32)
                meta.update(
                    width=int(w), height=int(h), n_frames=int(nf),
                    us_per_frame=int(us),
                )
            elif tag[2:4] in (b"dc", b"db"):
                frames.append(bytes(data[body_start:body_end]))
            pos = body_start + ln + (ln % 2)

    walk(12, len(data))
    meta["frames"] = frames
    return meta


@dataclass
class Codec:
    """Isolates the non-Spark decode dependency. PPM/PGM, 24-bit BMP,
    8-bit gray/RGB/palette/alpha PNG (gray+alpha and RGBA composite
    over white, exact integer math — r11), baseline 4:4:4/4:2:0/4:2:2
    AND progressive 4:4:4 JPEG (operators/jpegcodec, SOF0 + SOF2 +
    subsampled MCUs since r11), GIF and
    PCM WAV audio decode for real (pure numpy/stdlib);
    `fake=True` additionally gives a deterministic stand-in
    (hash-derived pixels/samples) for other formats so the whole
    distributed pipeline is testable in this container."""

    fake: bool = True

    def decode_image(self, payload: bytes) -> np.ndarray:
        import struct

        # triage contract (r12 fuzz, tests/test_codec_fuzz.py): corrupt
        # or truncated payloads of ANY recognized magic fall through
        # per-row to the fake/SWAP-POINT path — never job-fatal. The
        # PPM/PGM/BMP branches were the unwrapped residue (struct.error
        # escaped on a 4-byte 'BM' stub).
        if (payload or b"")[:2] == b"P6":
            try:
                return decode_ppm(payload)
            except (ValueError, IndexError):
                pass
        elif (payload or b"")[:2] == b"P5":
            try:
                gray = decode_pgm(payload)
                return np.stack([gray] * 3, axis=-1)  # uniform (h, w, 3)
            except (ValueError, IndexError):
                pass
        elif (payload or b"")[:2] == b"BM":
            try:
                return decode_bmp(payload)
            except (ValueError, IndexError, struct.error):
                pass
        if (payload or b"")[:4] == b"\x89PNG":
            # corrupt streams fall through to the fake/SWAP-POINT path,
            # mirroring JPEG (r11); the full spec (color, depth) matrix
            # incl. 16-bit, low-bit and Adam7 decodes for real since r11
            import zlib

            try:
                img = decode_png(payload)
            except (ValueError, IndexError, zlib.error):
                img = None
            if img is not None and img.dtype == np.uint16:
                # exact 16→8 reduction: 65535 = 257·255, so
                # round(v/257) is the scale-preserving map and
                # (v+128)//257 computes it exactly (v/257 never
                # lands on a .5 midpoint — 257·k + 128.5 ∉ ℤ)
                img = ((img.astype(np.int64) + 128) // 257).astype(np.uint8)
            if img is not None:
                if img.ndim == 2:
                    return np.stack([img] * 3, axis=-1)  # uniform (h, w, 3)
                if img.shape[2] in (2, 4):  # gray+alpha / RGBA (r11):
                    # composite over white, exact integer math —
                    # out = round((fg*a + 255*(255-a)) / 255)
                    fg = img[..., :-1].astype(np.int64)
                    a = img[..., -1:].astype(np.int64)
                    comp = (fg * a + 255 * (255 - a) + 127) // 255
                    comp = comp.astype(np.uint8)
                    if comp.shape[2] == 1:
                        return np.repeat(comp, 3, axis=2)
                    return comp
                return img
        elif (payload or b"")[:3] == b"GIF":
            # truncated/corrupt GIFs fall through (r11); local-palette
            # and interlaced frames decode for real since r11
            try:
                return decode_gif(payload)
            except (ValueError, IndexError):
                pass
        if (payload or b"")[:2] == b"\xff\xd8":
            # real JPEG decode (operators/jpegcodec — baseline SOF0 r10;
            # progressive SOF2, 4:2:0/4:2:2 subsampling on BOTH paths
            # and DRI/RSTn restarts, r11); out-of-profile streams
            # (arithmetic, hierarchical) fall through to the
            # fake/SWAP-POINT path below
            from fegis_spark.operators.jpegcodec import decode_jpeg

            try:
                img = decode_jpeg(bytes(payload))
            except (ValueError, IndexError, struct.error, OverflowError):
                # IndexError surfaced by the r12 fuzz on a 42-byte
                # truncated header-only JPEG; OverflowError when a
                # corrupt stream accumulates DC sums past int32 —
                # normalized like the struct.error class (r11 pattern)
                img = None
            if img is not None:
                if img.ndim == 2:
                    return np.stack([img] * 3, axis=-1)
                return img
        if self.fake:
            h = hashlib.sha256(payload or b"").digest()
            side = 8
            arr = np.frombuffer((h * (side * side * 3 // len(h) + 1))[: side * side * 3],
                                dtype=np.uint8)
            return arr.reshape(side, side, 3)
        # SWAP POINT: real implementation = PIL.Image.open(BytesIO(payload))
        raise NotImplementedError(
            "image decoding outside the PPM/PGM/BMP/PNG (full spec "
            "matrix)/GIF/JPEG (baseline+progressive x "
            "4:4:4/4:2:0/4:2:2, DRI) profile requires PIL/cv2 — "
            "not in container"
        )

    def decode_audio(self, payload: bytes) -> tuple[np.ndarray, int]:
        """(samples shaped (n_frames, n_channels) int16, sample_rate)."""
        import struct

        if (payload or b"")[:4] == b"RIFF" and (payload or b"")[8:12] == b"WAVE":
            # corrupt/truncated WAVs fall through (r12 fuzz: the wave
            # module raises EOFError on truncation, RuntimeError and
            # wave.Error on flipped format fields — normalized per the
            # triage contract)
            import wave

            try:
                return decode_wav(payload)
            except (
                ValueError,
                IndexError,
                struct.error,
                EOFError,
                RuntimeError,
                wave.Error,
            ):
                pass
        if self.fake:
            h = hashlib.sha256(payload or b"").digest()
            raw = (h * 64)[: 1024 * 2]
            return np.frombuffer(raw, dtype="<i2").reshape(-1, 1), 16000
        # SWAP POINT: real implementation = soundfile/ffmpeg
        raise NotImplementedError("non-WAV audio decoding requires soundfile/ffmpeg — not in container")

    def extract_features(self, img: np.ndarray, dim: int = FEATURE_DIM) -> np.ndarray:
        flat = img.astype(np.float64).ravel()
        chunks = np.array_split(flat, dim)
        return np.array([c.mean() if len(c) else 0.0 for c in chunks], dtype=np.float32)

    def frame_sample(self, payload: bytes, n_frames: int) -> list[bytes]:
        """Evenly-spaced frame payloads. REAL for MJPEG-in-AVI (r10 —
        RIFF walk via parse_avi; each returned payload is a baseline
        JPEG the same Codec can decode_image); deterministic fake for
        other containers, real path raises the documented SWAP POINT."""
        if (payload or b"")[:4] == b"RIFF" and (payload or b"")[8:12] == b"AVI ":
            import struct

            # corrupt/truncated AVIs fall through (r12 fuzz:
            # struct.error on a 38-byte RIFF stub) — triage contract
            try:
                frames = parse_avi(payload)["frames"]
            except (ValueError, IndexError, struct.error):
                frames = []
            if frames:
                k = min(n_frames, len(frames))
                # evenly spaced, deterministic: frame floor(i*len/k)
                return [frames[(i * len(frames)) // k] for i in range(k)]
        if self.fake:
            return [hashlib.sha256((payload or b"") + bytes([i])).digest() for i in range(n_frames)]
        raise NotImplementedError(
            "video decoding outside MJPEG-in-AVI requires ffmpeg — not in container"
        )


def image_header(payload: bytes) -> tuple[str, int, int, int]:
    """(format, width, height, n_components) via magic-byte dispatch —
    header parse only, no raster read. JPEG gets real metadata here
    even though its PIXEL decode stays env-blocked (parse_jpeg_header).
    Raises ValueError on unknown magic AND on recognized-magic payloads
    truncated mid-header (struct.error/IndexError are normalized to
    ValueError so every caller sees one exception class — advisor r10)."""
    import struct

    try:
        return _image_header_strict(payload)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"truncated image header: {exc}") from exc


def _image_header_strict(payload: bytes) -> tuple[str, int, int, int]:
    import struct

    head = (payload or b"")[:4]
    if head[:2] == b"P6":
        w, h, _, _ = _pnm_header(payload, b"P6")
        return "ppm", w, h, 3
    if head[:2] == b"P5":
        w, h, _, _ = _pnm_header(payload, b"P5")
        return "pgm", w, h, 1
    if head[:2] == b"BM":
        w, h = struct.unpack_from("<ii", payload, 18)
        (bpp,) = struct.unpack_from("<H", payload, 28)
        return "bmp", w, abs(h), bpp // 8
    if head[:2] == b"\xff\xd8":
        j = parse_jpeg_header(payload)
        return (
            "jpeg-progressive" if j["progressive"] else "jpeg",
            j["width"],
            j["height"],
            j["n_components"],
        )
    if head == b"\x89PNG":
        p = parse_png_header(payload)
        return "png", p["width"], p["height"], p["n_components"]
    if head[:3] == b"GIF":
        g = parse_gif_header(payload)
        return "gif", g["width"], g["height"], 1  # palette-indexed
    raise ValueError("unknown image magic bytes")


def image_metadata(df: DataFrame) -> DataFrame:
    """mapInPandas metadata extraction: payload → (format, width,
    height, n_components, payload_bytes) with NO pixel decode — the
    crawl-triage projection that routes images by format/size before
    any expensive decoding. Bytes are dropped inside the Arrow batch.

    Junk tolerance (advisor r9): a crawl-triage router sees arbitrary
    byte streams, so an unparseable payload must not fail the job —
    unknown magic / truncated headers yield format='unknown' with NULL
    dimensions and the true payload_bytes (still routable by size);
    the strict ValueError-raising parser stays for direct callers."""
    out_schema = (
        "media_id long, format string, width int, height int, "
        "n_components int, payload_bytes long"
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["media_id", "format", "width", "height", "n_components", "payload_bytes"]
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    rows.append((mid, None, None, None, None, None))
                    continue
                try:
                    fmt, w, h, nc = image_header(bytes(payload))
                except ValueError:
                    rows.append((mid, "unknown", None, None, None, len(payload)))
                    continue
                rows.append((mid, fmt, w, h, nc, len(payload)))
            yield pd.DataFrame(rows, columns=cols)

    return df.select("media_id", "payload").mapInPandas(op, out_schema)


def media_features(df: DataFrame, codec: Codec | None = None, dim: int = FEATURE_DIM) -> DataFrame:
    """mapInPandas feature extraction: payload → fixed-dim float vector.

    Output schema = input minus payload plus features array (payload is
    dropped as early as possible — at 100 TB you never carry bytes past
    the operator that needs them)."""
    codec = codec or Codec()

    out_schema = T.StructType(
        [f for f in df.schema.fields if f.name != "payload"]
        + [T.StructField("features", T.ArrayType(T.FloatType()), True)]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                list(codec.extract_features(codec.decode_image(p), dim))
                if p is not None
                else None
                for p in pdf["payload"]
            ]
            yield pdf.drop(columns=["payload"]).assign(features=feats)

    return df.mapInPandas(op, out_schema)


def video_frame_sample(df: DataFrame, n_frames: int = 3, codec: Codec | None = None) -> DataFrame:
    """mapInPandas frame sampling: one output row per sampled frame
    (media_id, frame_idx, frame_payload). Row explosion happens inside
    the Arrow batch — no driver round trip."""
    codec = codec or Codec()
    out_schema = "media_id long, frame_idx int, frame_payload binary"

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                for i, fr in enumerate(codec.frame_sample(payload, n_frames)):
                    rows.append((mid, i, fr))
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame_payload"])

    return df.select("media_id", "payload").mapInPandas(op, out_schema)


def audio_spectrum_features(samples: np.ndarray, sample_rate: int) -> dict:
    """Real spectral features of a PCM clip (channel 0): rfft magnitude
    spectrum → dominant non-DC bin, its frequency, and the spectral
    centroid. Pure numpy float64 — deterministic for fixed input, so
    the media fixture oracle can replay it sequentially. Integer
    outputs only (micro-quantized) — zero rounding surface."""
    x = samples[:, 0].astype(np.float64)
    mag = np.abs(np.fft.rfft(x))
    n = len(x)
    if len(mag) > 1:
        dom = 1 + int(np.argmax(mag[1:]))  # first max wins (np argmax)
    else:
        dom = 0
    tot = float(mag.sum())
    freqs = np.arange(len(mag)) * (sample_rate / n)
    centroid = float((mag * freqs).sum() / tot) if tot > 0 else 0.0
    return {
        "n_fft": len(mag),
        "dominant_bin": dom,
        "dominant_hz_micro": int(np.floor(dom * (sample_rate / n) * 1e6 + 0.5)),
        "centroid_hz_micro": int(np.floor(centroid * 1e6 + 0.5)),
    }


def audio_spectrum(df: DataFrame, codec: Codec | None = None) -> DataFrame:
    """mapInPandas spectral analysis: payload → (sample_rate, n_fft,
    dominant_bin, dominant_hz_micro, centroid_hz_micro) via
    audio_spectrum_features. Bytes dropped inside the Arrow batch."""
    codec = codec or Codec()
    out_schema = (
        "media_id long, sample_rate int, n_fft int, dominant_bin int, "
        "dominant_hz_micro bigint, centroid_hz_micro bigint"
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["media_id", "sample_rate", "n_fft", "dominant_bin",
                "dominant_hz_micro", "centroid_hz_micro"]
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                samples, sr = codec.decode_audio(bytes(payload))
                ft = audio_spectrum_features(samples, sr)
                rows.append((mid, sr, ft["n_fft"], ft["dominant_bin"],
                             ft["dominant_hz_micro"], ft["centroid_hz_micro"]))
            yield pd.DataFrame(rows, columns=cols)

    return df.select("media_id", "payload").mapInPandas(op, out_schema)


def audio_stats(df: DataFrame, codec: Codec | None = None) -> DataFrame:
    """mapInPandas audio analysis: payload → (sample_rate, n_channels,
    n_samples, duration_ms, rms, peak). Bytes are dropped at this
    operator; only the fixed-width stats flow downstream."""
    codec = codec or Codec()
    out_schema = (
        "media_id long, sample_rate int, n_channels int, n_samples long, "
        "duration_ms double, rms double, peak int"
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "media_id", "sample_rate", "n_channels", "n_samples",
            "duration_ms", "rms", "peak",
        ]
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    rows.append((mid, None, None, None, None, None, None))
                    continue
                samples, sr = codec.decode_audio(bytes(payload))
                x = samples.astype(np.float64)
                rows.append(
                    (
                        mid,
                        sr,
                        samples.shape[1],
                        samples.shape[0],
                        1000.0 * samples.shape[0] / sr,
                        float(np.sqrt((x * x).mean())) if samples.size else 0.0,
                        int(np.abs(samples).max()) if samples.size else 0,
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return df.select("media_id", "payload").mapInPandas(op, out_schema)


def make_ppm(width: int, height: int, seed: int = 0) -> bytes:
    """Deterministic real P6 PPM bytes (the _gradient_rgb raster)."""
    header = f"P6\n# test image\n{width} {height}\n255\n".encode()
    return header + _gradient_rgb(width, height, seed).tobytes()


def make_pgm(width: int, height: int, seed: int = 0) -> bytes:
    """Deterministic real P5 PGM bytes (gradient + seed offset)."""
    header = f"P5\n# test image\n{width} {height}\n255\n".encode()
    y, x = np.mgrid[0:height, 0:width]
    gray = ((x * 7 + y * 11 + seed) % 256).astype(np.uint8)
    return header + gray.tobytes()


def make_wav(
    n_frames: int, sample_rate: int = 8000, n_channels: int = 1, seed: int = 0
) -> bytes:
    """Deterministic real PCM16 WAV bytes (integer sine-ish ramp)."""
    import io
    import wave

    t = np.arange(n_frames * n_channels)
    samples = ((np.sin(t * 0.05 + seed) * 12000).astype("<i2")).tobytes()
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(n_channels)
        wf.setsampwidth(2)
        wf.setframerate(sample_rate)
        wf.writeframes(samples)
    return buf.getvalue()


def synthetic_media(spark, n: int = 64, kind: str = "image") -> DataFrame:
    """Deterministic fake media table for tests: payload = seeded bytes."""
    rows = [
        (
            i,
            kind,
            hashlib.sha256(f"media-{i}".encode()).digest() * 4,
            {"mime": f"{kind}/fake", "width": 8, "height": 8, "duration_ms": None},
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def encode_ppm(arr: np.ndarray) -> bytes:
    """Inverse of decode_ppm: uint8 (h, w, 3) → binary P6 payload."""
    h, w = arr.shape[0], arr.shape[1]
    return b"P6\n%d %d\n255\n" % (w, h) + arr.astype(np.uint8).tobytes()


def resize_nearest(arr: np.ndarray, width: int, height: int) -> np.ndarray:
    """Deterministic nearest-neighbor resize (pure numpy — the
    dependency-free analog of PIL's Image.NEAREST; swap in a real
    resampler where PIL/cv2 is available). Index map uses the standard
    floor((i + 0.5) * src/dst) pixel-center rule."""
    src_h, src_w = arr.shape[0], arr.shape[1]
    rows = np.minimum(((np.arange(height) + 0.5) * src_h / height).astype(np.int64), src_h - 1)
    cols = np.minimum(((np.arange(width) + 0.5) * src_w / width).astype(np.int64), src_w - 1)
    return arr[rows][:, cols]


def resize_images(
    df: DataFrame, width: int, height: int, codec: Codec | None = None
) -> DataFrame:
    """mapInPandas image resize: payload → re-encoded payload at
    (width, height) plus the original dimensions. The standard
    pre-training normalization step (fixed input resolution) — bytes
    stay inside the Arrow batch, one decode + one encode per image,
    output width/height are data-independent so downstream batch
    shapes are uniform."""
    codec = codec or Codec()
    out_schema = (
        "media_id long, payload binary, src_width int, src_height int, "
        "width int, height int"
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["media_id", "payload", "src_width", "src_height", "width", "height"]
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    rows.append((mid, None, None, None, width, height))
                    continue
                img = codec.decode_image(bytes(payload))
                out = resize_nearest(img, width, height)
                rows.append(
                    (mid, encode_ppm(out), img.shape[1], img.shape[0], width, height)
                )
            yield pd.DataFrame(rows, columns=cols)

    return df.select("media_id", "payload").mapInPandas(op, out_schema)
