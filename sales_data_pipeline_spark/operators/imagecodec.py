"""Real compressed-image codecs, pure Python + stdlib zlib + numpy.

The sandbox has no image libraries (PIL/cv2/imageio all absent), so the
compressed-image path the multimodal layer needs is implemented from
the public format specs directly:

- **PNG** (ISO/IEC 15948): full encoder + decoder for 8-bit
  greyscale / RGB / RGBA, non-interlaced — chunk walk with CRC check,
  zlib inflate (stdlib), and all five scanline filters (None / Sub /
  Up / Average / Paeth) on decode. Lossless, so the PNG path is
  oracle-checkable bit-for-bit from the generating formula (the q91
  WAV pattern).
- **Baseline JPEG** (ITU-T T.81): encoder (4:4:4 / 4:2:0, Annex-K
  quant + Huffman tables, IJG quality scaling) and decoder (any
  sampling factors incl. 4:2:0, tables read from the stream, restart
  markers, byte unstuffing). Lossy — covered by round-trip
  error-bound tests over a quality × subsampling × restart grid plus
  closed-form flat-DC cases where the decoded value is computable by
  hand (tests/test_imagecodec.py); the PNG filter/color-type decode
  paths are covered there too via hand-built filtered fixtures.

Production deployments would swap these for libvips/turbojpeg bindings
behind the same ``decode_image_rgb`` dispatcher; the Spark-side
plumbing (mapInPandas batches, schemas, pruned columns) is identical
either way and is what the multimodal operators test.

No counterpart in the reference repo (its media handling is absent);
this closes the repo's own multimodal brief (VERDICT r3 item 2).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# ---------------------------------------------------------------------------
# PNG
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# samples per pixel by PNG color type (bit depth 8 only)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def encode_png(width: int, height: int, rgb: bytes) -> bytes:
    """Minimal valid PNG: 8-bit RGB (color type 2), non-interlaced,
    filter type 0 on every scanline, one IDAT. Inverse of
    :func:`decode_png`; used by tests/queries to generate REAL
    compressed images deterministically without an image library."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length must be width*height*3")
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    stride = width * 3
    raw = b"".join(
        b"\x00" + rgb[y * stride : (y + 1) * stride] for y in range(height)
    )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_unfilter(raw: bytes, height: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse the PNG scanline filters. Returns (height, stride) uint8.
    Filters Sub/Average/Paeth are sequential recurrences along the row
    (each reconstructed byte feeds the next), so those rows run a
    Python loop; None/Up rows stay vectorized. Fine for the metadata/
    fingerprint batches this feeds; a production decoder is a C
    library behind the same dispatcher."""
    if len(raw) < height * (1 + stride):
        raise ValueError("PNG: truncated raster")
    out = np.zeros((height, stride), dtype=np.uint8)
    pos = 0
    zero = np.zeros(stride, dtype=np.int32)
    for y in range(height):
        ft = raw[pos]
        pos += 1
        row = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos).astype(
            np.int32
        )
        pos += stride
        prev = out[y - 1].astype(np.int32) if y else zero
        if ft == 0:
            cur = row
        elif ft == 2:
            cur = (row + prev) & 0xFF
        elif ft in (1, 3, 4):
            cur = np.empty(stride, dtype=np.int32)
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                if ft == 1:
                    v = row[x] + a
                elif ft == 3:
                    v = row[x] + ((a + int(prev[x])) >> 1)
                else:
                    c = int(prev[x - bpp]) if x >= bpp else 0
                    v = row[x] + _paeth(a, int(prev[x]), c)
                cur[x] = v & 0xFF
        else:
            raise ValueError(f"PNG: unknown filter type {ft}")
        out[y] = cur.astype(np.uint8)
    return out


def decode_png(raw: bytes) -> tuple[int, int, np.ndarray]:
    """Decode a PNG to (width, height, RGB array of shape (h, w, 3)).

    Supports bit depth 8, color types 0/2/4/6 (grey / RGB / grey+A /
    RGBA — alpha dropped, grey replicated to 3 channels), interlace 0.
    Chunk CRCs are verified; anything else raises ValueError (decode
    errors must be loud) or NotImplementedError (valid PNG outside the
    supported profile)."""
    if raw[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError(f"not a PNG (magic={raw[:4]!r})")
    pos, ihdr, idat = len(_PNG_SIG), None, []
    while pos + 8 <= len(raw):
        (clen,) = struct.unpack(">I", raw[pos : pos + 4])
        ctype = raw[pos + 4 : pos + 8]
        body = raw[pos + 8 : pos + 8 + clen]
        if len(body) != clen:
            raise ValueError("PNG: truncated chunk")
        (crc,) = struct.unpack(">I", raw[pos + 8 + clen : pos + 12 + clen])
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG: bad CRC on {ctype!r}")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    if ihdr is None or not idat:
        raise ValueError("PNG: missing IHDR/IDAT")
    w, h, depth, ctype_, comp, filt, interlace = ihdr
    if depth != 8 or comp != 0 or filt != 0:
        raise NotImplementedError(
            f"PNG profile unsupported (depth={depth}, comp={comp}, filter={filt})"
        )
    if interlace != 0:
        raise NotImplementedError("PNG: Adam7 interlacing unsupported")
    if ctype_ not in _PNG_CHANNELS:
        raise ValueError(f"PNG: bad color type {ctype_}")
    nch = _PNG_CHANNELS[ctype_]
    px = _png_unfilter(zlib.decompress(b"".join(idat)), h, w * nch, nch)
    px = px.reshape(h, w, nch)
    if ctype_ == 0:
        rgb = np.repeat(px, 3, axis=2)
    elif ctype_ == 2:
        rgb = px
    elif ctype_ == 4:
        rgb = np.repeat(px[:, :, :1], 3, axis=2)
    else:  # 6: RGBA
        rgb = px[:, :, :3]
    return w, h, np.ascontiguousarray(rgb)


# ---------------------------------------------------------------------------
# Baseline JPEG (ITU-T T.81)
# ---------------------------------------------------------------------------

# zigzag scan: ZIGZAG[k] = row-major index of the k-th coefficient
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Annex K base quantization tables (row-major)
_QT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)
_QT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32)

# Annex K typical Huffman tables: (BITS[1..16], HUFFVAL)
_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROMA_VALS = list(range(12))
_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUMA_VALS = [
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
_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROMA_VALS = [
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


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) via T.81's canonical construction."""
    if sum(bits) != len(vals):
        raise ValueError("Huffman table: BITS/HUFFVAL mismatch")
    codes, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if code >= (1 << length):
                raise ValueError("Huffman table: code overflow (invalid BITS)")
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol, the decode-side view of the same table."""
    return {(ln, c): s for s, (c, ln) in _canonical_codes(bits, vals).items()}


# validate the hardcoded standard tables at import: a malformed BITS
# vector would otherwise only surface as garbled entropy data
for _b, _v in (
    (_DC_LUMA_BITS, _DC_LUMA_VALS),
    (_DC_CHROMA_BITS, _DC_CHROMA_VALS),
    (_AC_LUMA_BITS, _AC_LUMA_VALS),
    (_AC_CHROMA_BITS, _AC_CHROMA_VALS),
):
    _canonical_codes(_b, _v)


def _dct_matrix() -> np.ndarray:
    """8-point DCT-II matrix D: forward F = D @ f @ D.T, inverse
    f = D.T @ F @ D (D is orthonormal)."""
    x = np.arange(8)
    d = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16) / 2.0
    d[0, :] /= np.sqrt(2.0)
    return d


_DCT = _dct_matrix()


def _quality_scale(base: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling: 1..100 → per-coefficient divisors."""
    if not 1 <= quality <= 100:
        raise ValueError("quality must be in [1, 100]")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int32)


def _rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r = rgb[:, :, 0].astype(np.float64)
    g = rgb[:, :, 1].astype(np.float64)
    b = rgb[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=2)


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    cb = cb - 128.0
    cr = cr - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=2).round(), 0, 255).astype(np.uint8)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:
            self.write(0x7F, 8 - self.n)  # pad with 1-bits per T.81


def _magnitude(v: int) -> tuple[int, int]:
    """(size category, appended bits) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    a = abs(v)
    s = a.bit_length()
    return s, (v if v > 0 else v + (1 << s) - 1)


def _encode_block(
    wtr: _BitWriter, coefs: np.ndarray, pred: int,
    dc_codes: dict, ac_codes: dict,
) -> int:
    """Huffman-encode one quantized 8x8 block (row-major coefs);
    returns the new DC predictor."""
    zz = coefs.flatten()[ZIGZAG]
    dc = int(zz[0])
    s, extra = _magnitude(dc - pred)
    code, ln = dc_codes[s]
    wtr.write(code, ln)
    if s:
        wtr.write(extra, s)
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]  # ZRL
            wtr.write(code, ln)
            run -= 16
        s, extra = _magnitude(v)
        code, ln = ac_codes[(run << 4) | s]
        wtr.write(code, ln)
        wtr.write(extra, s)
        run = 0
    if last_nz < 63:
        code, ln = ac_codes[0x00]  # EOB
        wtr.write(code, ln)
    return dc


def _dht_segment(tc: int, th: int, bits: list[int], vals: list[int]) -> bytes:
    body = bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body


def _pad_edge(plane: np.ndarray, ph: int, pw: int) -> np.ndarray:
    """Pad a 2-D plane to (ph, pw) by edge replication (standard
    practice: avoids ringing from a hard black border)."""
    h, w = plane.shape
    out = np.empty((ph, pw), dtype=np.float64)
    out[:h, :w] = plane
    out[h:, :w] = plane[h - 1 : h, :]
    out[:, w:] = out[:, w - 1 : w]
    return out


def encode_jpeg_baseline(
    rgb: np.ndarray,
    quality: int = 85,
    subsampling: str = "444",
    gray: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Baseline sequential JPEG encoder: 8-bit RGB in, JFIF out.
    Annex-K quant tables at IJG quality scaling, Annex-K typical
    Huffman tables (emitted in DHT, so any conforming decoder reads
    them from the stream). ``subsampling``: '444' (1x1 MCUs) or '420'
    (2x2 luma sampling, chroma = exact 2x2 block means — the common
    camera/web layout, which exercises the decoder's general
    sampling-factor path). ``gray=True`` emits a single-component
    scan of the luma plane. ``restart_interval`` > 0 emits DRI + RSTn
    markers every N MCUs (the error-resilience layer real camera files
    carry; exercises the decoder's restart path). Pairs with
    :func:`decode_jpeg_baseline`."""
    rgb = np.asarray(rgb, dtype=np.uint8)
    if rgb.ndim != 3 or rgb.shape[2] != 3:
        raise ValueError("encode_jpeg_baseline expects (h, w, 3) uint8")
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    h, w = rgb.shape[:2]
    qt = [_quality_scale(_QT_LUMA, quality), _quality_scale(_QT_CHROMA, quality)]
    ycc = _rgb_to_ycbcr(rgb)

    # component layout: (plane, (H, V) sampling, quant id, huff id)
    if gray:
        layout = [(ycc[:, :, 0], 1, 1, 0, 0)]
    elif subsampling == "444":
        layout = [
            (ycc[:, :, 0], 1, 1, 0, 0),
            (ycc[:, :, 1], 1, 1, 1, 1),
            (ycc[:, :, 2], 1, 1, 1, 1),
        ]
    else:  # 420: luma 2x2, chroma half-resolution (exact 2x2 means)
        ph2, pw2 = -(-h // 2) * 2, -(-w // 2) * 2
        cb = _pad_edge(ycc[:, :, 1], ph2, pw2)
        cr = _pad_edge(ycc[:, :, 2], ph2, pw2)
        cb = cb.reshape(ph2 // 2, 2, pw2 // 2, 2).mean(axis=(1, 3))
        cr = cr.reshape(ph2 // 2, 2, pw2 // 2, 2).mean(axis=(1, 3))
        layout = [
            (ycc[:, :, 0], 2, 2, 0, 0),
            (cb, 1, 1, 1, 1),
            (cr, 1, 1, 1, 1),
        ]
    hmax = max(cs[1] for cs in layout)
    vmax = max(cs[2] for cs in layout)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    padded = [
        _pad_edge(plane, mcuy * cv * 8, mcux * ch * 8)
        for plane, ch, cv, _, _ in layout
    ]

    dc_codes = [
        _canonical_codes(_DC_LUMA_BITS, _DC_LUMA_VALS),
        _canonical_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS),
    ]
    ac_codes = [
        _canonical_codes(_AC_LUMA_BITS, _AC_LUMA_VALS),
        _canonical_codes(_AC_CHROMA_BITS, _AC_CHROMA_VALS),
    ]
    wtr = _BitWriter()
    preds = [0] * len(layout)
    n_mcu, rst_chunks = 0, []
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                wtr.flush()
                rst_chunks.append(bytes(wtr.out))
                rst_chunks.append(bytes([0xFF, 0xD0 + (n_mcu // restart_interval - 1) % 8]))
                wtr = _BitWriter()
                preds = [0] * len(layout)
            n_mcu += 1
            for ci, (_, ch, cv, tq, th) in enumerate(layout):
                for v_ in range(cv):
                    for h_ in range(ch):
                        y0 = (my * cv + v_) * 8
                        x0 = (mx * ch + h_) * 8
                        blk = padded[ci][y0 : y0 + 8, x0 : x0 + 8] - 128.0
                        coefs = _DCT @ blk @ _DCT.T
                        q = np.round(coefs / qt[tq].reshape(8, 8)).astype(np.int32)
                        preds[ci] = _encode_block(
                            wtr, q, preds[ci], dc_codes[th], ac_codes[th]
                        )
    wtr.flush()
    entropy = b"".join(rst_chunks) + bytes(wtr.out)

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    n_qt = 1 if gray else 2
    for tq in range(n_qt):
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq]) + bytes(
            int(qt[tq].flatten()[ZIGZAG[k]]) for k in range(64)
        )
    sof = struct.pack(">BHHB", 8, h, w, len(layout))
    for ci, (_, ch, cv, tq, _) in enumerate(layout):
        sof += bytes([ci + 1, (ch << 4) | cv, tq])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    out += _dht_segment(0, 0, _DC_LUMA_BITS, _DC_LUMA_VALS)
    out += _dht_segment(1, 0, _AC_LUMA_BITS, _AC_LUMA_VALS)
    if not gray:
        out += _dht_segment(0, 1, _DC_CHROMA_BITS, _DC_CHROMA_VALS)
        out += _dht_segment(1, 1, _AC_CHROMA_BITS, _AC_CHROMA_VALS)
    sos = bytes([len(layout)])
    for ci, (_, _, _, _, th) in enumerate(layout):
        sos += bytes([ci + 1, (th << 4) | th])
    sos += bytes([0, 63, 0])
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    out += entropy
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _BitReader:
    """Entropy-stream bit reader: unstuffs 0xFF00, stops at markers."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def read_bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG: entropy stream ran out")
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else 0
                if nxt == 0x00:
                    self.pos += 2
                else:
                    # a real marker: per T.81 the decoder sees it only
                    # when the scan is (incorrectly) truncated — feed
                    # 1-bits like libjpeg does rather than crash
                    self.acc, self.n = 0x7F, 7
                    return 1
            else:
                self.pos += 1
            self.acc, self.n = b, 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_restart(self) -> None:
        """Consume an RSTn marker at an MCU-restart boundary."""
        self.n = 0  # discard partial byte
        while self.pos + 1 < len(self.data):
            if self.data[self.pos] == 0xFF and 0xD0 <= self.data[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("JPEG: expected RST marker")


def _extend(v: int, s: int) -> int:
    return v if s == 0 or v >= (1 << (s - 1)) else v - (1 << s) + 1


def _read_huff(rdr: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code, length = 0, 0
    while length < 17:
        code = (code << 1) | rdr.read_bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("JPEG: invalid Huffman code")


def decode_jpeg_baseline(raw: bytes) -> tuple[int, int, np.ndarray]:
    """Decode a baseline sequential JFIF/JPEG to (width, height,
    RGB (h, w, 3) uint8). Supports: single interleaved scan, 1 or 3
    components, any sampling factors (4:4:4 / 4:2:2 / 4:2:0 ...),
    8-bit quant tables (16-bit accepted too), restart intervals,
    byte stuffing. Progressive (SOF2) and arithmetic coding raise
    NotImplementedError; malformed streams raise ValueError."""
    if raw[:2] != b"\xff\xd8":
        raise ValueError(f"not a JPEG (magic={raw[:2]!r})")
    pos = 2
    qts: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    restart = 0
    scan = None
    while pos + 4 <= len(raw):
        if raw[pos] != 0xFF:
            raise ValueError("JPEG: expected marker")
        marker = raw[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", raw[pos + 2 : pos + 4])
        body = raw[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT (may hold several tables)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                i += 1
                if pq == 0:
                    tbl = np.frombuffer(body, np.uint8, 64, i).astype(np.int32)
                    i += 64
                else:
                    tbl = np.frombuffer(body, ">u2", 64, i).astype(np.int32)
                    i += 128
                inv = np.zeros(64, dtype=np.int32)
                inv[ZIGZAG] = tbl  # stream order is zigzag
                qts[tq] = inv
        elif marker == 0xC4:  # DHT (may hold several tables)
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1 : i + 17])
                n = sum(bits)
                vals = list(body[i + 17 : i + 17 + n])
                huff[(tc, th)] = _decode_table(bits, vals)
                i += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 (baseline/ext seq)
            prec, fh, fw, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise NotImplementedError("JPEG: only 8-bit precision")
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            frame = (fw, fh, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG: non-baseline frame (SOF marker 0x{marker:02x})"
            )
        elif marker == 0xDD:  # DRI
            (restart,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            if not body or len(body) < 1 + 2 * body[0]:
                raise ValueError("JPEG: truncated SOS header")
            ns = body[0]
            sel = {}
            for c in range(ns):
                cid, tt = body[1 + 2 * c], body[2 + 2 * c]
                sel[cid] = (tt >> 4, tt & 0xF)
            scan = (sel, pos + 2 + seglen)
            break
        pos += 2 + seglen
    if frame is None or scan is None:
        raise ValueError("JPEG: missing SOF/SOS")
    fw, fh, comps = frame
    sel, data_pos = scan
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-fw // (8 * hmax))
    mcuy = -(-fh // (8 * vmax))
    planes = []
    for c in comps:
        planes.append(
            np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8), dtype=np.float64)
        )
    rdr = _BitReader(raw, data_pos)
    preds = [0] * len(comps)
    idct = _DCT.T
    n_mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart and n_mcu and n_mcu % restart == 0:
                rdr.align_restart()
                preds = [0] * len(comps)
            n_mcu += 1
            for ci, c in enumerate(comps):
                dc_t = huff.get((0, sel[c["id"]][0]))
                ac_t = huff.get((1, sel[c["id"]][1]))
                if dc_t is None or ac_t is None:
                    raise ValueError("JPEG: scan references missing Huffman table")
                qt = qts.get(c["tq"])
                if qt is None:
                    raise ValueError("JPEG: missing quant table")
                for v_ in range(c["v"]):
                    for h_ in range(c["h"]):
                        zz = np.zeros(64, dtype=np.int32)
                        s = _read_huff(rdr, dc_t)
                        diff = _extend(rdr.receive(s), s)
                        preds[ci] += diff
                        zz[0] = preds[ci]
                        k = 1
                        while k < 64:
                            rs = _read_huff(rdr, ac_t)
                            r, s = rs >> 4, rs & 0xF
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG: AC index overflow")
                            zz[k] = _extend(rdr.receive(s), s)
                            k += 1
                        # zz is in zigzag order; row-major[ZIGZAG[k]] = zz[k],
                        # and qt was de-zigzagged to row-major at DQT parse
                        coefs = np.zeros(64, dtype=np.float64)
                        coefs[ZIGZAG] = zz
                        coefs = coefs * qt
                        blk = idct @ coefs.reshape(8, 8) @ _DCT + 128.0
                        y0 = (my * c["v"] + v_) * 8
                        x0 = (mx * c["h"] + h_) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = blk
    # upsample each component to full MCU-grid resolution, crop to (fh, fw)
    full = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        full.append(p[:fh, :fw])
    if len(comps) == 1:
        g = np.clip(full[0].round(), 0, 255).astype(np.uint8)
        return fw, fh, np.repeat(g[:, :, None], 3, axis=2)
    if len(comps) != 3:
        raise NotImplementedError(f"JPEG: {len(comps)}-component images")
    return fw, fh, _ycbcr_to_rgb(full[0], full[1], full[2])


# ---------------------------------------------------------------------------
# dispatcher
# ---------------------------------------------------------------------------


def decode_image_rgb(raw: bytes) -> tuple[int, int, np.ndarray]:
    """Magic-byte dispatch over every in-sandbox image codec: P6/PPM
    (operators/multimodal), PNG, baseline JPEG. Returns (width, height,
    uint8 RGB array (h, w, 3)). The single entry point the multimodal
    operators (decode_media codec='image', image_ahash) call, so a new
    codec lands everywhere at once. Unknown formats raise
    NotImplementedError naming the magic — loud, not silently-skipped."""
    if raw[: len(_PNG_SIG)] == _PNG_SIG:
        return decode_png(raw)
    if raw[:2] == b"\xff\xd8":
        return decode_jpeg_baseline(raw)
    if raw[:2] == b"P6":
        from sales_data_pipeline_spark.operators.multimodal import _ppm_header

        w, h, maxval, off = _ppm_header(raw)
        if maxval != 255:
            # _ppm_header accepts maxval up to 65535 (2-byte samples),
            # but this branch reads w*h*3 single bytes — a 16-bit PPM
            # would silently decode to a garbage raster. Loud, like the
            # PNG/JPEG paths.
            raise NotImplementedError(
                f"PPM maxval={maxval}: only 8-bit (maxval=255) P6 supported"
            )
        px = np.frombuffer(raw, dtype=np.uint8, count=w * h * 3, offset=off)
        return w, h, px.reshape(h, w, 3).copy()
    raise NotImplementedError(
        f"unsupported image format (magic={raw[:4]!r}); "
        "in-sandbox codecs: PPM/P6, PNG (8-bit), baseline JPEG"
    )
